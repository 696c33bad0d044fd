package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.{Dap2, GridIngest, Nc3, Nc4, SyntheticGrid, TrackReader, Zarr}
import graft.pipeline.TrackProfile

/** S4 grid ingestion: every container, through the one block reader,
  * lands the generator's grid cell for cell; the flagship over an
  * ingested grid equals the flagship over the generator; and the
  * time-partitioned layout prunes.
  */
class GridIngestSpec extends SparkSpec {

  // 16 × 38 × 27 depths × 4 times; the Zarr chunks below (3, 4, 5, 7)
  // leave partial edge blocks on every axis
  private lazy val spec = SyntheticGrid.hermineSpec(step = 2.0)
  private lazy val generated = SyntheticGrid.cleanSentinels(SyntheticGrid.generate(spark, spec)).cache()
  private val HalfPackStep = 0.001 / 2 + 1e-9

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("grid").resolve(name).toString

  /** `got` holds exactly the generator's cells: frame-equal when `tol`
    * is 0, else the same cells, nulls and values within `tol`.
    */
  private def assertSameGrid(got: DataFrame, tol: Double): Unit = {
    assert(got.count() === generated.count())
    if (tol == 0.0) {
      assert(got.exceptAll(generated).isEmpty && generated.exceptAll(got).isEmpty)
    } else {
      val bad = got.as("a").join(generated.as("b"),
          Seq("time", "depth_idx", "lat_idx", "lon_idx"), "full")
        .filter((Seq("water_temp", "salinity").map { c =>
          (col(s"a.$c").isNull =!= col(s"b.$c").isNull) || abs(col(s"a.$c") - col(s"b.$c")) > tol
        } ++ Seq("depth", "lat", "lon").map(c => !(col(s"a.$c") <=> col(s"b.$c")))).reduce(_ || _))
      assert(bad.isEmpty, bad.limit(5).collect().mkString("\n"))
    }
  }

  private def zarrStore(v3: Boolean): String = {
    val p = tmp(if (v3) "v3.zarr" else "v2.zarr")
    Zarr.writeStore(generated, spec, p, chunkT = 3, chunkD = 4, chunkY = 5, chunkX = 7,
      formatV3 = v3)
    p
  }
  private lazy val zarrV2 = zarrStore(v3 = false)

  private val containers: Seq[(String, () => DataFrame, Double)] = Seq(
    ("NC3 packed/record", () => {
      val p = tmp("packed.nc")
      Nc3.write(generated, spec, p, packShort = true, recordTime = true)
      GridIngest.ingestNc(spark, p)
    }, HalfPackStep),
    ("NC3 double/fixed", () => {
      val p = tmp("double.nc")
      Nc3.write(generated, spec, p, packShort = false, recordTime = false)
      GridIngest.ingestNc(spark, p)
    }, 0.0),
    ("NC4 gzip+shuffle", () => {
      val p = tmp("gz.h5")
      Nc4.write(generated, spec, p, packShort = true, gzip = true, shuffle = true)
      GridIngest.ingestNc4(spark, p)
    }, HalfPackStep),
    ("Zarr v2", () => GridIngest.ingestZarr(spark, zarrV2), 0.0),
    ("Zarr v3", () => GridIngest.ingestZarr(spark, zarrStore(v3 = true)), 0.0),
    ("DAP2", () => {
      val (temp, sal) = GridIngest.denseOf(generated, spec)
      def fixture(vals: Array[Double]) = Dap2Fixture.Var("Float64",
        vals.map(v => if (v.isNaN) GridIngest.Fill else v), Seq("Float64 _FillValue -30000"))
      Dap2Fixture.serve(Dap2Fixture.Dataset(spec.times.map(_.toDouble), spec.depths,
          (0 until spec.nLat).map(spec.latMin + _ * spec.latStep),
          (0 until spec.nLon).map(spec.lonMin + _ * spec.lonStep),
          Seq("water_temp" -> fixture(temp), "salinity" -> fixture(sal)))) { url =>
        assert(Dap2.gridSpecOf(url) === spec)
        Dap2.ingest(spark, url, partitions = 4).localCheckpoint() // read while the server is up
      }
    }, 0.0))

  for ((name, ingest, tol) <- containers)
    test(s"$name ingest == cleaned synthetic grid, cell for cell") {
      assertSameGrid(ingest(), tol)
    }

  test("netCDF-4 contiguous 4-D variables ingest plane by plane == cleaned synthetic grid") {
    // raw planes, no writer: water_temp little-endian then salinity
    // big-endian float64, missing cells stored as _FillValue
    val p = tmp("contiguous.bin")
    val (temp, sal) = GridIngest.denseOf(generated, spec)
    val bytes = temp.length * 8L
    val buf = ByteBuffer.allocate((2 * bytes).toInt)
    Seq(temp -> ByteOrder.LITTLE_ENDIAN, sal -> ByteOrder.BIG_ENDIAN).foreach { case (vals, order) =>
      buf.order(order)
      vals.foreach(v => buf.putDouble(if (v.isNaN) GridIngest.Fill else v))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(p), buf.array())
    val dims = Seq(spec.times.size, spec.depths.size, spec.nLat, spec.nLon).map(_.toLong)
    val fill = Seq(Nc4.Att("_FillValue", Seq(GridIngest.Fill), ""))
    def dataset(name: String, addr: Long, littleEndian: Boolean) =
      Nc4.Dataset(name, dims, Nc4.Dtype(isFloat = true, size = 8, littleEndian, signed = true),
        Nc4.Contiguous(addr, bytes), Nil, fill, None)
    val src = Nc4.gridSource(p, spec, dataset("water_temp", 0L, littleEndian = true),
      dataset("salinity", bytes, littleEndian = false))
    assert(src.blockSize === Seq(1, 1, spec.nLat, spec.nLon))
    assertSameGrid(GridIngest.rows(spark, src, 32), 0.0)
  }

  test("flagship over the ingested grid == flagship over the synthetic grid") {
    val track = TrackReader.readNhc(spark, "/root/repo/data/al092016_track.csv")
    def collectProfile(grid: DataFrame) =
      TrackProfile.profile(track, grid, spec)
        .collect()
        .map(r => (r.getLong(0), r.getInt(3)) ->
          (Option(r.get(5)).map(_.asInstanceOf[Double]),
           Option(r.get(6)).map(_.asInstanceOf[Double])))
        .toMap
    val a = collectProfile(GridIngest.ingestZarr(spark, zarrV2))
    val b = collectProfile(generated)
    assert(a.size === 2000 && b.size === 2000)
    // cell values are bit-identical; the IDW sums may differ in the
    // last ulp because the two sources partition (and thus fold) in
    // different orders — compare numerically
    a.foreach { case (key, (t1, s1)) =>
      val (t2, s2) = b(key)
      assert(t1.isDefined === t2.isDefined && s1.isDefined === s2.isDefined, key)
      t1.zip(t2).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, key) }
      s1.zip(s2).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, key) }
    }
  }

  test("tiled layout: flagship joins on tile and Dynamic Partition Pruning fires") {
    val out = java.nio.file.Files.createTempDirectory("gridtiled").toString
    SyntheticGrid.writeGridTiled(generated, out)
    val track = TrackReader.readNhc(spark, "/root/repo/data/al092016_track.csv")
    val prof = TrackProfile.profile(track, spark.read.parquet(out), spec)
    val plan = prof.queryExecution.executedPlan.toString
    // DPP subqueries exist for the partition columns (time, tile)
    assert(plan.contains("dynamicpruning"), plan.take(3000))
    // and results are identical to the untiled path
    val untiled = TrackProfile.profile(track, generated, spec)
    assert(prof.count() === untiled.count())
    val a = prof.agg(sum(col("water_temp"))).collect().head.getDouble(0)
    val b = untiled.agg(sum(col("water_temp"))).collect().head.getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  test("ingestToParquet: time-partitioned layout prunes partitions") {
    val out = java.nio.file.Files.createTempDirectory("gridpq").toString
    assert(GridIngest.ingestToParquet(spark, zarrV2, out) === spec)
    val scan = spark.read.parquet(out).filter(col("time") === spec.times.head)
    assert(scan.count() === spec.nLat.toLong * spec.nLon * spec.depths.size)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("time"), plan)
  }
}
