package graft.perfbench

import scala.collection.mutable

/** Prints the run's metrics by name and unit, then the result line. */
object Report {

  /** End-to-end metrics (untraced runs), in BENCHMARK.json order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_cpu_s" -> "s")

  /** Per-layer metrics (traced runs); a layer with no work on a workload reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "io.track_read_s" -> "s",
    "io.zarr_decode_s" -> "s", "io.zarr_decode_mbps" -> "MB/s",
    "io.nc3_decode_s" -> "s", "io.nc3_decode_mbps" -> "MB/s",
    "io.layout_write_s" -> "s", "io.layout_write_tasks" -> "count",
    "io.ingest_shuffle_bytes" -> "bytes",
    "io.layout_files" -> "count", "io.layout_bytes" -> "bytes",
    "pipeline.plan_s" -> "s",
    "scan.rows_read" -> "count", "scan.files_read" -> "count",
    "scan.useful_ratio" -> "ratio", "scan.cpu_s" -> "s",
    "ops.gather_rows" -> "count", "ops.aggregate_s" -> "s",
    "exchange.shuffle_write_bytes" -> "bytes", "exchange.shuffle_read_bytes" -> "bytes",
    "exchange.spill_bytes" -> "bytes",
    "queries.plan_s" -> "s", "queries.stages" -> "count", "queries.tasks" -> "count",
    "queries.codegen_fallbacks" -> "count") ++
    Catalog.Families.map(f => s"queries.${f}_s" -> "s") ++ Seq(
    "ext.vorbis_decode_us" -> "us", "ext.h264_decode_us" -> "us",
    "peak_rss_mb" -> "MB", "jvm.gc_s" -> "s", "host.steal_pct" -> "%", "host.busy_pct" -> "%",
    "trace.overhead_s" -> "s",
    "profile_p50_s" -> "s", "profile_tail_s" -> "s", "profile_tail_pct" -> "%",
    "profile_ops" -> "count", "ingest_zarr_s" -> "s", "ingest_nc3_s" -> "s",
    "catalog_total_s" -> "s", "stored_bytes_per_raw_byte" -> "ratio", "fail_frac" -> "ratio")

  def emit(c: Main.Ctx, workload: String, cpus: Int, host: Map[String, Double]): Unit = {
    val all = mutable.LinkedHashMap.empty[String, Double]
    all("setup_s") = c.setupS
    all("op_cpu_s") = c.opCpu
    all("peak_rss_mb") = Host.peakRssMb()
    all ++= c.extra
    val keys = c.layerOps.flatMap(_.keys).distinct
    keys.foreach(k => all(k) = Main.median(c.layerOps.flatMap(_.get(k)).toSeq))
    all ++= host
    all("fail_frac") = c.failed.toDouble / math.max(1, c.attempted)
    if (c.tracer.enabled)
      all("trace.overhead_s") = Main.median(c.times.getOrElse("traced", Nil).toSeq) -
        Main.median(c.times.getOrElse("plain", Nil).toSeq)
    val shown = if (c.tracer.enabled) PerLayer else EndToEnd
    println(s"[perfbench] workload=$workload cpus=$cpus seed=${c.seed} " +
      s"trace=${if (c.tracer.enabled) 1 else 0} attempted=${c.attempted} failed=${c.failed}")
    c.notes.distinct.foreach(n => println(s"[perfbench] $n"))
    if (c.cpuParts.nonEmpty) {
      val unit = if (workload == "catalog") "pass" else "op"
      val part = (k: String) => Main.median(c.cpuParts.toSeq.map(_.toMap.apply(k)))
      val process = part("process")
      println(s"[perfbench] cpu of a traced $unit (medians over ${c.cpuParts.size}, share of process): " +
        c.cpuParts.head.map(_._1).map { k =>
          f"$k=${part(k)}%.3fs (${100 * part(k) / process}%.0f%%)"
        }.mkString(" "))
    }
    println("[perfbench] phases " + c.phases.map { case (n, s) => f"$n=$s%.2fs" }.mkString(" "))
    (EndToEnd ++ PerLayer).foreach { case (k, u) =>
      println(f"[perfbench] ${k}%-30s ${all.getOrElse(k, 0.0)}%16.6f $u")
    }
    val metrics = shown.map { case (k, u) =>
      s""""$k": {"value": ${json(all.getOrElse(k, 0.0))}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${c.failed == 0}, "attempted": ${c.attempted}, """ +
      s""""failed": ${c.failed}, "metrics": $metrics}""")
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString
}
