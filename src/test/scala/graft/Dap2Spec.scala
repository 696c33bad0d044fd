package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import graft.io.Dap2

/** DAP2 client against an in-process OPeNDAP server fixture: a JDK
  * HttpServer that serves a synthetic 4-D grid (DDS/DAS text, XDR
  * DODS with real server-side hyperslab subsetting). Exercises the
  * full remote path end-to-end — URL → axes → chunk-parallel plane
  * fetch → long-format frame — cell-for-cell against the generating
  * formula, plus wire-format units (Int16-as-32-bit XDR, doubled
  * array counts, byte padding, fill→null CF decode).
  */
class Dap2Spec extends SparkSpec {

  // tiny but non-degenerate axes: 2 times x 3 depths x 4 lats x 5 lons
  private val times = Seq(730120L, 730121L)
  private val depths = Seq(0.0, 10.0, 25.0)
  private val lats = (0 until 4).map(10.0 + _ * 0.5)
  private val lons = (0 until 5).map(270.0 + _ * 0.5)
  private val Fill = -30000
  private val Scale = 0.001
  private val Offset = 20.0

  /** raw Int16 value at (t, d, y, x); one cell per plane is fill. */
  private def raw(t: Int, d: Int, y: Int, x: Int): Int =
    if (y == 1 && x == 2) Fill
    else t * 1000 + d * 100 + y * 10 + x

  private val fixture = {
    def values(v: String) = Array.tabulate(2 * 3 * 4 * 5) { i =>
      val r = raw(i / 60, i / 20 % 3, i / 5 % 4, i % 5)
      (if (v == "salinity" && r != Fill) r + 7 else r).toDouble
    }
    val packing = Seq("Int16 _FillValue -30000", "Float64 scale_factor 0.001",
      "Float64 add_offset 20.0")
    Dap2Fixture.Dataset(times.map(_.toDouble), depths, lats, lons, Seq(
      "water_temp" -> Dap2Fixture.Var("Int16", values("water_temp"),
        packing :+ "String units \"degC\""),
      "salinity" -> Dap2Fixture.Var("Int16", values("salinity"), packing)))
  }

  private def withServer[A](f: String => A): A = Dap2Fixture.serve(fixture)(f)

  test("DDS parser: grids, maps, dims; DAS parser: packing attributes") {
    val d = Dap2.parseDds(fixture.dds)
    assert(d.name === "fixture")
    assert(d.arrays.map(_.name) === Seq("time", "depth", "lat", "lon"))
    val g = d.gridFor("water_temp").get
    assert(g.array.dapType === Dap2.DInt16)
    assert(g.array.dims.map(_.size) === Seq(2, 3, 4, 5))
    assert(g.maps.map(_.name) === Seq("time", "depth", "lat", "lon"))
    val a = Dap2.parseDas(fixture.das)
    assert(a("water_temp")("scale_factor").toDouble === 0.001)
    assert(a("water_temp")("_FillValue").toDouble === -30000.0)
    assert(a("water_temp")("units") === "degC")
  }

  test("XDR wire units: doubled counts, Int16-as-32-bit, byte padding") {
    // hand-build a DODS body for a Byte array of 5 (needs 3 pad bytes)
    val ddsTxt = "Dataset {\n    Byte b[b = 5];\n} t;\n"
    val bos = new ByteArrayOutputStream()
    bos.write(ddsTxt.getBytes(StandardCharsets.US_ASCII))
    bos.write("\nData:\n".getBytes(StandardCharsets.US_ASCII))
    val out = new DataOutputStream(bos)
    out.writeInt(5); out.writeInt(5)
    out.write(Array[Byte](1, 2, 3, 4, 5))
    out.write(Array[Byte](0, 0, 0)) // XDR pad to multiple of 4
    out.writeInt(99) // trailing garbage must not be consumed as data
    out.flush()
    val got = Dap2.parseDods(bos.toByteArray)("b").values
    assert(got.toSeq === Seq(1.0, 2.0, 3.0, 4.0, 5.0))
    // mismatched doubled counts must fail loudly
    val bad = new ByteArrayOutputStream()
    bad.write(ddsTxt.getBytes(StandardCharsets.US_ASCII))
    bad.write("\nData:\n".getBytes(StandardCharsets.US_ASCII))
    val bo = new DataOutputStream(bad)
    bo.writeInt(5); bo.writeInt(4); bo.flush()
    assertThrows[IllegalArgumentException](Dap2.parseDods(bad.toByteArray))
  }

  test("end-to-end: URL -> spec -> chunk-parallel ingest, cell-for-cell") {
    withServer { url =>
      val spec = Dap2.gridSpecOf(url)
      assert(spec.times === times)
      assert(spec.depths === depths)
      assert(spec.nLat === 4 && spec.latMin === 10.0 && spec.latStep === 0.5)
      assert(spec.nLon === 5 && spec.lonMin === 270.0 && spec.lonStep === 0.5)

      val df = Dap2.ingest(spark, url, partitions = 3)
      val rows = df.collect()
      assert(rows.length === 2 * 3 * 4 * 5)
      val byKey = rows.map { r =>
        (r.getLong(0), r.getInt(1), r.getInt(3), r.getInt(5)) ->
          (Option(r.get(7)).map(_.asInstanceOf[Double]),
            Option(r.get(8)).map(_.asInstanceOf[Double]))
      }.toMap
      for (t <- 0 until 2; d <- 0 until 3; y <- 0 until 4; x <- 0 until 5) {
        val (wt, sal) = byKey((times(t), d, y, x))
        if (y == 1 && x == 2) {
          assert(wt.isEmpty && sal.isEmpty) // fill -> null, both measures
        } else {
          val r = raw(t, d, y, x)
          assert(math.abs(wt.get - (r * Scale + Offset)) < 1e-9)
          assert(math.abs(sal.get - ((r + 7) * Scale + Offset)) < 1e-9)
        }
      }
      // lat/lon reconstruction from indices
      val r0 = rows.find(r => r.getInt(3) == 2 && r.getInt(5) == 3).get
      assert(r0.getDouble(4) === 11.0) // 10.0 + 2*0.5
      assert(r0.getDouble(6) === 271.5) // 270.0 + 3*0.5
    }
  }

  test("a NaN cell and a missing_value-only variable both arrive as null") {
    // water_temp: Float64, no attributes, one NaN cell; salinity: Int16
    // packed, flagged by missing_value alone (no _FillValue)
    val n = 2 * 1 * 2 * 3
    val temp = Array.tabulate(n)(i => if (i == 5) Double.NaN else 20.0 + i)
    val sal = Array.tabulate(n)(i => if (i == 7) Fill.toDouble else 100.0 + i)
    Dap2Fixture.serve(Dap2Fixture.Dataset(Seq(0.0, 6.0), Seq(0.0), Seq(10.0, 10.5),
        Seq(270.0, 270.5, 271.0), Seq(
          "water_temp" -> Dap2Fixture.Var("Float64", temp, Nil),
          "salinity" -> Dap2Fixture.Var("Int16", sal, Seq(
            "Int16 missing_value -30000", "Float64 scale_factor 0.5",
            "Float64 add_offset 10.0"))))) { url =>
      val rows = Dap2.ingest(spark, url).collect()
        .map(r => ((r.getLong(0), r.getInt(3), r.getInt(5)), r)).toMap
      assert(rows.size === n)
      for (t <- 0 until 2; y <- 0 until 2; x <- 0 until 3) {
        val i = (t * 2 + y) * 3 + x
        val r = rows((t * 6L, y, x))
        if (i == 5) assert(r.isNullAt(7), s"NaN cell $i must be null, got ${r.get(7)}")
        else assert(r.getDouble(7) === temp(i))
        if (i == 7) assert(r.isNullAt(8), s"missing_value cell $i must be null, got ${r.get(8)}")
        else assert(r.getDouble(8) === sal(i) * 0.5 + 10.0)
      }
    }
  }

  test("guards: non-http scheme and oversized body are refused") {
    assertThrows[IllegalArgumentException](
      Dap2.fetch("file:///etc/passwd"))
    withServer { url =>
      assertThrows[IllegalArgumentException](
        Dap2.fetch(s"$url.dds", maxBody = 4))
    }
  }
}
