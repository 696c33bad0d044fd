package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object CharsetSniff {
  val Schema: StructType = StructType(Seq(
    StructField("charset", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))

  def rowOrNull(bytes: Array[Byte]): InternalRow = {
    val d = graft.ext.Charsets.decodeOrNull(bytes)
    if (d == null) return null
    toRow(d)
  }

  private[fn] def toRow(d: graft.ext.Charsets.Decoded): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(d.charset),
      UTF8String.fromString(d.text),
      d.text.codePointCount(0, d.text.length)))
}

object CharsetDecode {
  def rowOrNull(label: String, bytes: Array[Byte]): InternalRow = {
    val d = graft.ext.CharsetFamilies.decodeLabeled(
      if (label == null || label.isEmpty) null else label, bytes)
    if (d == null) null else CharsetSniff.toRow(d)
  }
}

object CharsetDetect {
  def rowOrNull(contentType: String, bytes: Array[Byte]): InternalRow = {
    val d = graft.ext.CharsetFamilies.detectDecode(
      if (contentType == null || contentType.isEmpty) null else contentType, bytes)
    if (d == null) null else CharsetSniff.toRow(d)
  }
}
