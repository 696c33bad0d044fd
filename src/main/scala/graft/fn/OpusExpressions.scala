package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

object OpusTocStats {
  val Schema: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("pre_skip", IntegerType, nullable = false),
    StructField("n_packets", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("total_samples", LongType, nullable = false),
    StructField("toc_sum", LongType, nullable = false),
    StructField("payload_sum", LongType, nullable = false),
    StructField("pad_sum", LongType, nullable = false),
    StructField("n_vbr", IntegerType, nullable = false),
    StructField("n_silk", IntegerType, nullable = false),
    StructField("n_hybrid", IntegerType, nullable = false),
    StructField("n_celt", IntegerType, nullable = false)))

  def statsOrNull(bytes: Array[Byte]): InternalRow = {
    val s = graft.ext.Opus.streamStatsOrNull(bytes)
    if (s == null) return null
    new GenericInternalRow(Array[Any](
      s.channels, s.preSkip, s.nPackets, s.nFrames, s.totalSamples,
      s.tocSum, s.payloadSum, s.padSum, s.nVbr, s.nSilk, s.nHybrid,
      s.nCelt))
  }
}
