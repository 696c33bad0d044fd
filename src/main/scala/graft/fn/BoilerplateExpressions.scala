package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object JustextBlocks {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("block_idx", IntegerType, nullable = false),
    StructField("heading", IntegerType, nullable = false),
    StructField("length", IntegerType, nullable = false),
    StructField("link_chars", IntegerType, nullable = false),
    StructField("stop_hits", IntegerType, nullable = false),
    StructField("n_words", IntegerType, nullable = false),
    StructField("cf_class", StringType, nullable = false),
    StructField("class", StringType, nullable = false))), containsNull = false)

  def blocksData(html: UTF8String): GenericArrayData = {
    try {
      val cs = graft.ext.Boilerplate.classify(html.toString)
      new GenericArrayData(cs.zipWithIndex.map { case (c, i) =>
        InternalRow(i, if (c.heading) 1 else 0, c.length, c.linkChars,
          c.stopHits, c.nWords, UTF8String.fromString(c.cfClass),
          UTF8String.fromString(c.cls)): Any
      })
    } catch { case scala.util.control.NonFatal(_) => null }
  }
}

