package graft.fn

import org.apache.spark.sql.types._

object TextProfile {
  /** Field order is the `TextOps.profile` output contract. */
  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("mean_tok_len", DoubleType, nullable = false),
    StructField("stop_ratio", DoubleType, nullable = false),
    StructField("alpha_ratio", DoubleType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("lang_id", StringType, nullable = false),
    StructField("quality", DoubleType, nullable = false)))
}
