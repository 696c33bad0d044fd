package graft.fn

import org.apache.spark.sql.types._

object RepetitionProfile {
  /** Field order is the `TextOps.repetitionSignals` output contract. */
  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("total_chars", LongType, nullable = false),
    StructField("top2_frac", DoubleType, nullable = false),
    StructField("top3_frac", DoubleType, nullable = false),
    StructField("top4_frac", DoubleType, nullable = false),
    StructField("dup5_frac", DoubleType, nullable = false),
    StructField("dup6_frac", DoubleType, nullable = false)))
}
