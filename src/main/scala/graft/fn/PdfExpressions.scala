package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object PdfTextStats {
  val Schema: StructType = StructType(Seq(
    StructField("n_pages", IntegerType, nullable = false),
    StructField("n_objects", IntegerType, nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))

  def rowOrNull(bytes: Array[Byte]): InternalRow = {
    val d = graft.ext.Pdf.textOrNull(bytes)
    if (d == null) return null
    new GenericInternalRow(Array[Any](
      d.nPages,
      d.nObjects,
      UTF8String.fromString(d.title),
      UTF8String.fromString(d.text),
      d.text.codePointCount(0, d.text.length)))
  }
}
