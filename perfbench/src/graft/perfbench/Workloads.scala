package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.{col, lit}
import graft.io.{GridIngest, Nc3, SyntheticGrid, TrackReader, Zarr}
import graft.io.SyntheticGrid.GridSpec
import graft.pipeline.TrackProfile
import Main._

/** The two workloads. Each makes its inputs, sets up, warms with
  * untimed rounds of its ops, runs ops back to back until `--seconds`
  * have passed, and checks every answer.
  */
object Workloads {

  private def cells(spec: GridSpec): Long =
    spec.nLat.toLong * spec.nLon * spec.depths.size * spec.times.size

  /** The generator's grid with sentinels cleaned: the reference grid,
    * and what both containers hold.
    */
  private def generated(c: Ctx, spec: GridSpec): DataFrame =
    SyntheticGrid.cleanSentinels(SyntheticGrid.generate(c.spark, spec))

  private def drain(c: Ctx): Unit = org.apache.spark.Bus.drain(c.spark.sparkContext)

  private def fixes(path: String): Long = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().count(_.trim.nonEmpty) - 1L finally src.close()
  }

  /** One flagship profile: plan (forced when traced), then execute. */
  private def profileOnce(c: Ctx, track: String, grid: DataFrame, spec: GridSpec,
                          op: Int): (Array[Row], SparkPlan) = {
    val df = c.tracer.span("pipeline.plan", op) {
      val d = TrackProfile.profile(TrackReader.readNhc(c.spark, track), grid, spec)
      if (c.tracer.on) d.queryExecution.executedPlan
      d
    }
    val rows = c.tracer.span("pipeline.execute", op)(df.collect())
    (rows, df.queryExecution.executedPlan)
  }

  /** Reference profiles: every track over the generator's grid, no
    * layout involved. The tracks run as one profile call, each shifted
    * to its own point_id range: the pipeline keys its as-of join and
    * aggregate on point_id alone, so disjoint ranges keep them apart.
    */
  private def references(c: Ctx, tracks: Seq[String], spec: GridSpec): Map[String, Array[Row]] = {
    val offsets = tracks.scanLeft(0L)(_ + fixes(_)).init
    val all = tracks.zip(offsets).map { case (t, o) =>
      TrackReader.readNhc(c.spark, t).withColumn("point_id", col("point_id") + lit(o))
    }.reduce(_ unionByName _)
    val rows = TrackProfile.profile(all, generated(c, spec), spec).collect()
    tracks.zip(offsets).map { case (t, o) =>
      t -> rows.filter(r => r.getLong(0) >= o && r.getLong(0) < o + fixes(t))
        .map(r => Row.fromSeq(r.toSeq.updated(0, r.getLong(0) - o)))
    }.toMap
  }

  // ------------------------------------------------------------ profile

  /** The flagship, container to answer. Inputs: the generator's grid
    * written as a Zarr v2 store and as a CF short-packed NetCDF-3 file,
    * and the tracks. Set-up: `GridIngest.ingestToParquet` of the Zarr
    * store into the time-partitioned layout, repeated. Ops: one
    * `TrackProfile.profile` per storm over that layout.
    */
  def profile(c: Ctx): Unit = {
    import c._
    val spec = SyntheticGrid.hermineSpec(sizes.profileStep)
    val raw = cells(spec) * 2 * 8
    val zarr = s"$work/grid.zarr"
    val nc3 = s"$work/grid.nc"
    tracer.on = false
    Zarr.writeStore(generated(c, spec), spec, zarr)
    Nc3.write(generated(c, spec), spec, nc3)
    val tracks = HermineCsv +: TrackLengths.zipWithIndex.map { case (n, i) =>
      val p = s"$work/track-$i.csv"
      writeTrack(rng, n, spec, p, 90 + i)
      p
    }
    phase("containers")
    // also the first run of the profile code, before anything is timed
    val refs = references(c, tracks, spec)
    phase("references")

    // set-up: ingest the Zarr store, repeated (the first repetition also
    // pays class loading and JIT); the last layout is measured
    val setups = (0 until sizes.setupReps).map { r =>
      val op = newOp()
      tracer.on = tracer.enabled
      val t0 = System.nanoTime()
      val got = tracer.span("io.ingest.zarr", op)(
        GridIngest.ingestToParquet(spark, zarr, s"$work/layout-$r"))
      require(got.nLat == spec.nLat && got.nLon == spec.nLon, s"ingested $got, not $spec")
      (secs(t0), op)
    }
    setupS = median(setups.map(_._1))
    phase("setup")
    setups.indices.init.foreach(r => deleteTree(s"$work/layout-$r"))
    val layout = s"$work/layout-${setups.size - 1}"
    extra("ingest_zarr_s") = setupS
    tracer.on = tracer.enabled
    val t0 = System.nanoTime()
    tracer.span("io.ingest.nc3", newOp())(GridIngest.ingestToParquet(spark, nc3, s"$work/layout-nc3"))
    extra("ingest_nc3_s") = secs(t0)
    drain(c)
    val ingest = counts.sum(tracer.groups(setups.last._2))
    val (nFiles, nBytes) = dirBytes(layout)
    extra("io.layout_write_tasks") = ingest.lastStageTasks.toDouble
    extra("io.ingest_shuffle_bytes") = ingest.shuffleWrite.toDouble
    extra("io.layout_files") = nFiles.toDouble
    extra("io.layout_bytes") = nBytes.toDouble
    extra("stored_bytes_per_raw_byte") = nBytes.toDouble / raw
    if (tracer.on) {
      // decode alone, to a noop sink: the rest of an ingest is the layout write
      val op = newOp()
      for ((kind, path) <- Seq("zarr" -> zarr, "nc3" -> nc3)) {
        val t1 = System.nanoTime()
        tracer.span(s"io.decode.$kind", op) {
          val df = if (kind == "zarr") GridIngest.ingestZarr(spark, path)
                   else GridIngest.ingestNc(spark, path)
          df.write.format("noop").mode("overwrite").save()
        }
        extra(s"io.${kind}_decode_s") = secs(t1)
        extra(s"io.${kind}_decode_mbps") = raw / 1e6 / secs(t1)
      }
      extra("io.layout_write_s") = Seq("zarr", "nc3").map(k =>
        extra(s"ingest_${k}_s") - extra(s"io.${k}_decode_s")).sum / 2
    }
    // untimed rounds: each op generates code that the JIT compiles again,
    // so an op's process CPU falls by about 40 % over its first 20 runs
    tracer.on = false
    for (_ <- 0 until sizes.warmRounds; t <- tracks) profileOnce(c, t, spark.read.parquet(layout), spec, newOp())
    phase("warm-rounds")

    // whole rounds: every track once per round, in a seeded order
    val answers = mutable.ArrayBuffer.empty[(String, Array[Row])]
    val runs = mutable.ArrayBuffer.empty[OpRun]
    var order = Iterator.empty[String]
    val threads0 = Host.cpuByThreadName()
    val end = deadline
    var i = 0
    while (System.nanoTime() < end || order.hasNext) {
      if (!order.hasNext) order = rng.shuffle(tracks).iterator
      val track = order.next()
      val op = newOp()
      tracer.on = tracedOp(i)
      // the track read alone, outside the op: a control that should stay negligible
      val readOp = newOp()
      if (tracer.on) tracer.span("io.track_read", readOp)(TrackReader.readNhc(spark, track).collect())
      val clock = new OpClock
      // an op that throws is a failed answer, not a failed run
      val (rows, plan) = try tracer.span("op.profile", op)(
        profileOnce(c, track, spark.read.parquet(layout), spec, op))
      catch { case NonFatal(e) =>
        Console.err.println(s"[perfbench] profile of $track threw: $e"); (Array.empty[Row], null)
      }
      val run = clock.stop(track, op)
      time(if (tracer.on) "traced" else "plain", run.seconds)
      runs += run
      if (tracer.on && plan != null) {
        drain(c)
        val m = mutable.LinkedHashMap.empty[String, Double]
        val jobs = counts.sum(tracer.groups(op))
        planLayers(plan, jobs, m)
        if (!notes.exists(_.startsWith("scan evidence")))
          notes += s"scan evidence: listener recordsRead=${jobs.recordsRead} " +
            s"inputMetrics.bytesRead=${jobs.bytesRead} for a ${nBytes}-byte layout"
        m("io.track_read_s") = tracer.selfOf("io.track_read", readOp)
        m("pipeline.plan_s") = tracer.selfOf("pipeline.plan", op)
        layerOps += m
        cpuParts += Seq("process" -> run.procCpu, "tasks" -> jobs.cpuNs / 1e9,
          "scan-stage tasks" -> jobs.scanCpuNs / 1e9, "aggregate time" -> m("ops.aggregate_s"),
          "client thread" -> run.clientCpu, "planning" -> m("pipeline.plan_s"))
      }
      answers += ((track, answer(rows)(perturb)))
      i += 1
    }
    tracer.on = false
    phase("measure")
    if (tracer.enabled)
      notes += "thread cpu over the measure phase: " + Host.topThreads(threads0, Host.cpuByThreadName(), 8)

    answers.foreach { case (t, rows) =>
      check(sameProfile(rows, refs(t), fixes(t), ZarrTol), s"profile of $t differs from the generator's")
    }
    // each ingest stored every cell; the NetCDF-3 layout answers within its packing step
    val zarrRows = spark.read.parquet(layout).count()
    check(zarrRows == cells(spec), s"zarr ingest stored $zarrRows rows, expected ${cells(spec)}")
    val nc3Rows = spark.read.parquet(s"$work/layout-nc3").count()
    val nc3Answer = profileOnce(c, HermineCsv, spark.read.parquet(s"$work/layout-nc3"), spec, newOp())._1
    check(nc3Rows == cells(spec) && sameProfile(nc3Answer, refs(HermineCsv), fixes(HermineCsv), Nc3Tol),
      s"nc3 ingest stored $nc3Rows rows (expected ${cells(spec)}) or its profile differs")
    phase("check")
    val all = (times("plain") ++ times.getOrElse("traced", Nil)).toSeq
    opCpu = roundCpu(runs.toSeq)
    notes += "ops in order, track:wall/process-cpu seconds: " + runs.map(r =>
      f"${tracks.indexOf(r.key)}:${r.seconds}%.2f/${r.procCpu}%.2f").mkString(" ")
    profileTail(c, all)
  }

  /** The highest percentile with at least 10 samples beyond it (0 when
    * the run has too few ops).
    */
  private def profileTail(c: Ctx, xs: Seq[Double]): Unit = {
    val s = xs.sorted
    val n = s.size
    c.extra("profile_p50_s") = median(s)
    c.extra("profile_ops") = n.toDouble
    c.extra("profile_tail_s") = if (n > 10) s(n - 11) else 0.0
    c.extra("profile_tail_pct") = if (n > 10) 100.0 * (n - 10) / n else 0.0
  }

  // ------------------------------------------------------------ catalog

  def catalog(c: Ctx, sessionS: Double): Unit = {
    import c._
    val dir = CatalogDir
    val expected = Catalog.expected(s"$dir/expected_rows.tsv")
    val t0 = System.nanoTime()
    tracer.on = false
    val warm = Catalog.Queries.map { q =>
      val op = newOp()
      q -> tracer.span("queries.warm", op)(graft.SparkEntry.queries(q)(spark, dir).count())
    }
    setupS = sessionS + secs(t0)
    phase("setup")
    // untimed passes: as on profile, a pass's process CPU falls by about
    // a third over its first ten runs while the JIT compiles
    for (_ <- 0 until sizes.warmPasses; q <- Catalog.Queries)
      graft.SparkEntry.queries(q)(spark, dir).count()
    phase("warm-passes")

    val passes = mutable.ArrayBuffer.empty[(Boolean, Seq[(OpRun, Long)])]
    val fb0 = fallbacks.count.get()
    val threads0 = Host.cpuByThreadName()
    val end = deadline
    var p = 0
    while (System.nanoTime() < end || p < 2) {
      tracer.on = tracedOp(p)
      val pass = rng.shuffle(Catalog.Queries).map { q =>
        val op = newOp()
        val clock = new OpClock
        // a query that throws is a failed answer (-1 rows), not a failed run
        val n = try tracer.span("op.query", op) {
          val df = tracer.span("queries.plan", op) {
            val d = graft.SparkEntry.queries(q)(spark, dir)
            if (tracer.on) d.queryExecution.executedPlan
            d
          }
          tracer.span("queries.execute", op)(df.count())
        } catch { case NonFatal(e) => Console.err.println(s"[perfbench] $q threw: $e"); -1L }
        (clock.stop(q, op), answer(n)(_ + 1))
      }
      passes += ((tracer.on, pass))
      p += 1
    }
    tracer.on = false
    phase("measure")
    if (tracer.enabled)
      notes += "thread cpu over the measure phase: " + Host.topThreads(threads0, Host.cpuByThreadName(), 8)
    drain(c)
    for ((q, n) <- warm ++ passes.flatMap(_._2).map { case (r, n) => (r.key, n) })
      check(n == expected(q), s"$q returned $n rows, expected ${expected(q)}")
    val runs = passes.flatMap(_._2).toSeq
    val byQuery = runs.groupBy(_._1.key)
    val medians = byQuery.map { case (q, rs) => q -> median(rs.map(_._1.seconds)) }
    opCpu = roundCpu(runs.map(_._1))
    extra("catalog_total_s") = medians.values.sum
    notes += "passes in order, wall/process-cpu seconds: " + passes.map { case (_, pass) =>
      f"${pass.map(_._1.seconds).sum}%.2f/${pass.map(_._1.procCpu).sum}%.2f" }.mkString(" ")
    extra("queries.codegen_fallbacks") = (fallbacks.count.get() - fb0).toDouble / passes.size
    // evidence per query: median time, rows, stages and tasks of its last run
    byQuery.toSeq.sortBy(_._1).foreach { case (q, rs) =>
      val (last, rows) = (counts.sum(tracer.groups(rs.last._1.op)), rs.last._2)
      println(f"[catalog] $q%-28s family=${Catalog.family(q)}%-10s rows=$rows%-6d " +
        f"median_s=${medians(q)}%.4f stages=${last.stages}%-3d tasks=${last.tasks}")
    }
    for ((on, pass) <- passes if on) {
      val m = mutable.LinkedHashMap.empty[String, Double]
      val cs = counts.sum(pass.flatMap(r => tracer.groups(r._1.op)))
      m("queries.plan_s") = pass.map(r => tracer.selfOf("queries.plan", r._1.op)).sum
      m("queries.stages") = cs.stages.toDouble
      m("queries.tasks") = cs.tasks.toDouble
      Catalog.Families.foreach { f =>
        m(s"queries.${f}_s") = pass.filter(r => Catalog.family(r._1.key) == f).map(_._1.seconds).sum
      }
      exchange(cs, m)
      layerOps += m
      cpuParts += Seq("process" -> pass.map(_._1.procCpu).sum, "tasks" -> cs.cpuNs / 1e9,
        "client thread" -> pass.map(_._1.clientCpu).sum, "planning" -> m("queries.plan_s"))
    }
    for ((on, pass) <- passes) time(if (on) "traced" else "plain", pass.map(_._1.seconds).sum)
    if (tracer.enabled) Catalog.kernels(c)
    phase("check")
  }
}
