package graft.perfbench

import scala.collection.mutable

/** The `catalog` workload's query set, its families, and the direct
  * kernel timings of the traced run.
  */
object Catalog {

  /** One query per family (two for media), from the public
    * `SparkEntry.queries` map. The whole 170-query map takes about 80 s
    * per warm pass on 4 cores, more than a run may last. None of these
    * writes fixture files outside the session's own directories. q178
    * is in the set because its kernel does not compile and falls back
    * to interpretation, which `queries.codegen_fallbacks` must show.
    */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q50_events_tumbling", "q60_text_stats",
    "q65_minhash_sig", "q70_cosine_topk", "q72_json_extract",
    "q141_vorbis_decode", "q178_webm_vorbis_carriage")

  val Families: Seq[String] = Seq("relational", "events", "text", "dedup", "vector", "web", "media")

  /** Each query's family, in the order of [[Queries]]. */
  def family(q: String): String =
    Families(math.min(Queries.indexOf(q), Families.size - 1))

  /** Expected row counts, `name<TAB>rows` per line, recorded at the
    * benchmark's first commit.
    */
  def expected(path: String): Map[String, Long] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(_.trim.nonEmpty).map { l =>
      val Array(q, n) = l.trim.split("\t"); q -> n.toLong
    }.toMap
    finally src.close()
  }

  /** Direct decode timings of the two media kernels on fixture bytes
    * (median µs per call), outside Spark.
    */
  def kernels(c: Main.Ctx): Unit = {
    def perCall(inputs: IndexedSeq[Array[Byte]], reps: Int)(f: Array[Byte] => AnyRef): Double = {
      val xs = mutable.ArrayBuffer.empty[Double]
      for (_ <- 0 until reps; b <- inputs) {
        val t0 = System.nanoTime()
        require(f(b) != null, "a fixture failed to decode")
        xs += (System.nanoTime() - t0) / 1e3
      }
      Main.median(xs.toSeq)
    }
    val vorbis = (0L until 64L).map(graft.ext.VorbisPcmFixtures.stream)
    c.extra("ext.vorbis_decode_us") = perCall(vorbis, 5)(graft.ext.VorbisDecode.decodeOrNull(_))
    val px = (i: Int) => (x: Int, y: Int) => (i * 37 + x * 13 + y * 7) & 0xFF
    val video = (0 until 32).map(i =>
      if (i % 3 == 0) graft.ext.VideoFixtures.pcmKeyframeMp4Cabac(px(i))
      else graft.ext.VideoFixtures.pcmKeyframeMp4(px(i)))
    c.extra("ext.h264_decode_us") = perCall(video, 20)(graft.ext.H264.keyframeFeaturesOrNull(_, 16))
  }
}
