package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object SubtitleCues {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("start_ms", LongType, nullable = false),
    StructField("end_ms", LongType, nullable = false),
    StructField("text", StringType, nullable = false))), containsNull = false)

  def cuesData(text: UTF8String): GenericArrayData = {
    val cues = graft.ext.Subtitles.cuesOrNull(text.toString)
    if (cues == null) null
    else new GenericArrayData(cues.map(c => InternalRow(
      c.startMs, c.endMs, UTF8String.fromString(c.text)): Any))
  }
}

object Mp4SubtitleCues {
  def cuesData(bytes: Array[Byte]): GenericArrayData = {
    val cues = graft.ext.Avc.mp4SubtitleCuesOrNull(bytes, 1 << 16)
    if (cues == null) null
    else new GenericArrayData(cues.map { case (s, e, t) =>
      InternalRow(s, e, UTF8String.fromString(t)): Any
    })
  }
}

