package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import graft.io.SyntheticGrid.GridSpec

/** The repository benchmark (see perfbench/NOTES.md).
  *
  * One driver JVM, `local[N]` with N = available processors, one
  * closed-loop client: each op starts when the one before it has
  * returned. Usage:
  *
  * {{{
  *   Main --workload profile|catalog --seed N --seconds S
  *        --trace 0|1 --work DIR [--size full|tiny] [--corrupt 0|1]
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics untraced, the
  * per-layer metrics traced). `--corrupt 1` perturbs the first answer
  * before it is checked, so the self-test can show that a wrong answer
  * is counted as a failure.
  */
object Main {

  /** Grid step, set-up repetitions, and untimed rounds of profile ops and
    * passes of catalog queries, per size.
    */
  final case class Sizes(profileStep: Double, setupReps: Int, warmRounds: Int, warmPasses: Int)
  val Full = Sizes(profileStep = 0.6, setupReps = 5, warmRounds = 8, warmPasses = 10)
  val Tiny = Sizes(profileStep = 2.0, setupReps = 1, warmRounds = 2, warmPasses = 1)
  val CatalogDir = "perfbench/data/sf0.01"

  /** Synthetic track lengths (fixes); the committed Hermine track joins them. */
  val TrackLengths: Seq[Int] = Seq(20, 320)
  val HermineCsv = "data/al092016_track.csv"
  val DepthLevels = 25
  val ZarrTol = 1e-9
  /** NetCDF-3 stores CF short-packed values (scale 0.001): half a step. */
  val Nc3Tol = 0.0005 + 1e-9

  final class Ctx(val spark: SparkSession, val tracer: Tracer, val counts: JobCounts,
                  val fallbacks: CodegenFallbacks, val work: String, val sizes: Sizes,
                  val seed: Long, val seconds: Double, val corrupt: Boolean) {
    val rng = new Random(seed)
    /** Layer values of each traced op, and op wall times by kind. */
    val layerOps = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var attempted = 0
    var failed = 0
    var setupS = 0.0
    var opCpu = 0.0
    /** Where each traced op's (pass's) CPU went, seconds by part. */
    val cpuParts = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val extra = mutable.LinkedHashMap.empty[String, Double]
    /** Evidence lines for the report (not metrics). */
    val notes = mutable.ArrayBuffer.empty[String]
    private var mark = System.nanoTime()
    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    /** Close the current phase of the run (set-up, warm-up, measure, check). */
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases += ((name, (now - mark) / 1e9)); mark = now
    }
    private var nextOp = 0
    def newOp(): Int = { nextOp += 1; nextOp }
    def time(kind: String, s: Double): Unit =
      times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
    /** Traced ops alternate with untraced ones (for the overhead). */
    def tracedOp(i: Int): Boolean = tracer.enabled && i % 2 == 1
    def deadline: Long = System.nanoTime() + (seconds * 1e9).toLong
    /** Count one checked op; `ok` false counts it as failed. */
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; Console.err.println(s"[perfbench] wrong answer: $what") }
    }
    private var corrupted = false
    /** The answer to check; the first one is perturbed under `--corrupt 1`. */
    def answer[T](x: T)(perturb: T => T): T =
      if (!corrupt || corrupted) x else { corrupted = true; perturb(x) }
  }

  /** One measured op: its key (track or query), op id, wall time, and
    * the CPU the client thread and the whole JVM used during it.
    */
  final case class OpRun(key: String, op: Int, seconds: Double, clientCpu: Double,
                         procCpu: Double)

  /** Wall clock and CPU readings from its creation to `stop`. */
  final class OpClock {
    private val (t0, th0, pr0) =
      (System.nanoTime(), Host.threadCpuSeconds(), Host.processCpuSeconds())
    def stop(key: String, op: Int): OpRun =
      OpRun(key, op, secs(t0), Host.threadCpuSeconds() - th0, Host.processCpuSeconds() - pr0)
  }

  /** `op_cpu_s`: per key, the median process CPU of its ops, summed
    * over the keys (the CPU of one round of ops).
    */
  def roundCpu(runs: Seq[OpRun]): Double =
    runs.groupBy(_.key).values.map(rs => median(rs.map(_.procCpu))).sum

  /** A wrong answer for the self-test: the first row's water_temp moves by 1. */
  def perturb(rows: Array[Row]): Array[Row] =
    if (rows.isEmpty) rows
    else {
      val r = rows(0)
      rows.updated(0, Row.fromSeq(r.toSeq.updated(5,
        if (r.isNullAt(5)) 1.0 else r.getDouble(5) + 1.0)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Set("profile", "catalog")(workload), s"unknown workload $workload")
    val sizes = if (a.getOrElse("size", "full") == "tiny") Tiny else Full
    val work = a("work")
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, work)
    val sessionS = secs(t0)
    val counts = new JobCounts
    spark.sparkContext.addSparkListener(counts)
    val fallbacks = new CodegenFallbacks
    fallbacks.install()
    val tracer = new Tracer(a("trace") == "1", spark.sparkContext)
    val ctx = new Ctx(spark, tracer, counts, fallbacks, work, sizes, a("seed").toLong,
      a("seconds").toDouble, a.getOrElse("corrupt", "0") == "1")
    val gc0 = Host.gcSeconds(); val cpu0 = Host.cpu()
    workload match {
      case "profile" => Workloads.profile(ctx)
      case "catalog" => Workloads.catalog(ctx, sessionS)
    }
    val cpu1 = Host.cpu()
    org.apache.spark.Bus.drain(spark.sparkContext)
    val host = Map(
      "jvm.gc_s" -> (Host.gcSeconds() - gc0),
      "host.steal_pct" -> Host.stealPct(cpu0, cpu1),
      "host.busy_pct" -> Host.busyPct(cpu0, cpu1))
    Report.emit(ctx, workload, cpus, host)
    if (tracer.enabled)
      Files.write(Paths.get(work, s"trace-$workload.jsonl"), tracer.toJson.getBytes("UTF-8"))
    spark.stop()
  }

  /** The session the benchmark measures: the settings `graft.Bench` uses. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ------------------------------------------------------------ inputs

  /** A seeded single-storm NHC best-track CSV of `n` hourly fixes that
    * stays inside `spec`'s bbox with a one-cell margin.
    */
  def writeTrack(rng: Random, n: Int, spec: GridSpec, path: String, stormNum: Int): Unit = {
    val latLo = spec.latMin + 2 * spec.latStep
    val latHi = spec.latMin + (spec.nLat - 3) * spec.latStep
    val lonLo = spec.lonMin + 2 * spec.lonStep
    val lonHi = spec.lonMin + (spec.nLon - 3) * spec.lonStep
    var lat = latLo + rng.nextDouble() * (latHi - latLo)
    var lon = lonLo + rng.nextDouble() * (lonHi - lonLo)
    var heading = rng.nextDouble() * 2 * math.Pi
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHH")
    val t0 = java.time.LocalDateTime.of(2016, 8, 17, 6, 0).plusHours(rng.nextInt(24).toLong)
    val sb = new StringBuilder(
      "atcfdtg,stormnum,stormname,basin,stormtype,intensity,intensitymph,intensitykph,lat,lon,minsealevelpres,dtg\n")
    for (i <- 0 until n) {
      val signedLon = if (lon >= 180) lon - 360 else lon
      sb ++= f"${t0.plusHours(i.toLong).format(fmt)},$stormNum%02d,SYNTH$stormNum,AL,TS,50,58,93,"
      sb ++= f"$lat%.4f,$signedLon%.4f,1000,x\n"
      heading += (rng.nextDouble() - 0.5) * 0.6
      val step = 0.1 + rng.nextDouble() * 0.3
      lat += step * math.sin(heading); lon += step * math.cos(heading)
      if (lat < latLo || lat > latHi) { heading = -heading; lat = math.min(latHi, math.max(latLo, lat)) }
      if (lon < lonLo || lon > lonHi) { heading = math.Pi - heading; lon = math.min(lonHi, math.max(lonLo, lon)) }
    }
    Files.write(Paths.get(path), sb.toString.getBytes("UTF-8"))
  }

  def dirBytes(path: String): (Long, Long) = {
    val files = Files.walk(Paths.get(path)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
    (files.length.toLong, files.map(Files.size).sum)
  }

  def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(c => deleteTree(c.getPath))
    f.delete()
  }

  // ------------------------------------------------------------ checks

  /** A profile answer matches the reference: |track|·25 rows, the same
    * (point_id, depth_idx) keys, and values within `tol`. Rows are
    * (point_id, hour, grid_time, depth_idx, depth, water_temp, salinity).
    */
  def sameProfile(got: Array[Row], ref: Array[Row], fixes: Long, tol: Double): Boolean = {
    def close(a: Row, b: Row, i: Int): Boolean =
      if (a.isNullAt(i) || b.isNullAt(i)) a.isNullAt(i) && b.isNullAt(i)
      else math.abs(a.getDouble(i) - b.getDouble(i)) <= tol
    got.length == fixes * DepthLevels && got.length == ref.length &&
      got.zip(ref).forall { case (g, r) =>
        g.getLong(0) == r.getLong(0) && g.getInt(3) == r.getInt(3) &&
          close(g, r, 5) && close(g, r, 6)
      }
  }

  /** Per-op layer values from the op's executed plan and job groups. */
  def planLayers(plan: SparkPlan, c: JobCounts#C, m: mutable.Map[String, Double]): Unit = {
    val parquet = (n: SparkPlan) => n.nodeName.toLowerCase.contains("parquet")
    val rows = PlanMetrics.sum(plan, "FileSourceScanExec", "numOutputRows", parquet)
    val gathered = PlanMetrics.sum(plan, "BroadcastHashJoinExec", "numOutputRows")
    m("scan.rows_read") = rows.toDouble
    m("scan.files_read") = PlanMetrics.sum(plan, "FileSourceScanExec", "numFiles", parquet).toDouble
    m("scan.useful_ratio") = if (rows == 0) 0.0 else gathered.toDouble / rows
    m("scan.cpu_s") = c.scanCpuNs / 1e9
    m("ops.gather_rows") = gathered.toDouble
    m("ops.aggregate_s") = PlanMetrics.sum(plan, "HashAggregateExec", "aggTime") / 1e3
    exchange(c, m)
  }

  def exchange(c: JobCounts#C, m: mutable.Map[String, Double]): Unit = {
    m("exchange.shuffle_write_bytes") = c.shuffleWrite.toDouble
    m("exchange.shuffle_read_bytes") = c.shuffleRead.toDouble
    m("exchange.spill_bytes") = c.spill.toDouble
  }
}
