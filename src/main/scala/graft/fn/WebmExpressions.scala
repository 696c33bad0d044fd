package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object WebmSubtitleCues {
  def cuesData(bytes: Array[Byte]): GenericArrayData = {
    val cues = graft.ext.Webm.subtitleCuesOrNull(bytes, 1 << 16)
    if (cues == null) null
    else new GenericArrayData(cues.map { case (s, e, t) =>
      InternalRow(s, e, UTF8String.fromString(t)): Any
    })
  }
}

object WebmBlockIndex {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("track", LongType, nullable = false),
    StructField("t_ms", LongType, nullable = false),
    StructField("keyframe", IntegerType, nullable = false),
    StructField("size", LongType, nullable = false))), containsNull = false)

  def blocksData(bytes: Array[Byte], maxN: Int): GenericArrayData = {
    val blocks = graft.ext.Webm.blockIndexOrNull(bytes, maxN)
    if (blocks == null) null
    else new GenericArrayData(blocks.map { b =>
      InternalRow(b.track, b.tMs, if (b.keyframe) 1 else 0, b.size): Any
    })
  }
}

object Vp8WebmSynth {
  def doc(id: Long): Array[Byte] = {
    val h = id * 2654435761L
    val fu = 1 + (h % 6).toInt.abs
    val fv = 1 + ((h >> 8) % 5).toInt.abs
    val gray = Array.tabulate(32 * 32) { p =>
      val x = p % 32; val y = p / 32
      (127 + 90 * math.sin(fu * x / 2.5 + fv * y / 2.0 + id)).toInt & 0xFF
    }
    val (frame, _) = graft.ext.Vp8Fixtures.encodeGrayFrame(gray, 32, 32, 8)
    graft.ext.WebmFixtures.vp8Webm(Seq((0L, frame)), 32, 32)
  }
}

