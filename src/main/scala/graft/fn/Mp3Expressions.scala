package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

object Mp3SideStats {
  val Schema: StructType = StructType(Seq(
    StructField("n_frames", IntegerType, nullable = false),
    StructField("crc_frames", IntegerType, nullable = false),
    StructField("brate_sum", LongType, nullable = false),
    StructField("rate_sum", LongType, nullable = false),
    StructField("mdb_sum", LongType, nullable = false),
    StructField("gain_sum", LongType, nullable = false),
    StructField("gain_min", IntegerType, nullable = false),
    StructField("gain_max", IntegerType, nullable = false),
    StructField("wsf_grans", IntegerType, nullable = false)))

  /** The fold over [[graft.ext.Mp3.framesOrNull]] (one walk, no
    * allocation beyond the frames).
    */
  def statsOrNull(bytes: Array[Byte]): InternalRow = {
    val fs = graft.ext.Mp3.framesOrNull(bytes)
    if (fs == null || fs.isEmpty) return null
    var crc = 0; var brate = 0L; var rate = 0L; var mdb = 0L
    var gSum = 0L; var gMin = Int.MaxValue; var gMax = Int.MinValue
    var wsf = 0
    var i = 0
    while (i < fs.length) {
      val f = fs(i)
      if (f.crcProtected) crc += 1
      brate += f.bitrateKbps
      rate += f.sampleRate
      mdb += f.mainDataBegin
      var g = 0
      while (g < 2) {
        val chs = f.granules(g)
        var c = 0
        while (c < chs.length) {
          val gi = chs(c)
          gSum += gi.globalGain
          if (gi.globalGain < gMin) gMin = gi.globalGain
          if (gi.globalGain > gMax) gMax = gi.globalGain
          if (gi.blockType != 0) wsf += 1
          c += 1
        }
        g += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      fs.length, crc, brate, rate, mdb, gSum, gMin, gMax, wsf))
  }
}
