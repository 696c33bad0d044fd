package graft.io

import java.nio.ByteBuffer

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import graft.io.SyntheticGrid.GridSpec
import graft.model.Schemas

/** S4: real grid ingestion — dense 4-D model array → long-format
  * time-partitioned parquet (SURVEY.md §2.1 S4, §7.2 phase 3).
  *
  * The reference reads a remote netCDF 4-D array via OPeNDAP hyperslab
  * requests (`trackplot_hycom.py:144,244`). Four containers feed ONE
  * block reader here:
  *  - **NetCDF-3 classic** ([[Nc3]], [[ingestNc]]) — the format HYCOM
  *    publishes: one (t, d) plane per block;
  *  - **netCDF-4 / HDF5** ([[Nc4]], [[ingestNc4]]) — one stored chunk
  *    per block, or one plane of a contiguous variable;
  *  - **Zarr v2/v3** ([[Zarr]], [[ingestZarr]]) — one chunk per block;
  *  - **OPeNDAP DAP2** ([[Dap2.ingest]]) — one plane hyperslab per block.
  *
  * Each container declares a [[Source]]: its [[GridSpec]] (built by
  * [[SyntheticGrid.specFromAxes]]), its data variables' shapes, its block
  * shape, and a per-task [[BlockReader]] that decodes a block of both
  * variables into dense `Array[Double]`s through the one CF rule
  * ([[Cf]]). [[rows]] owns everything else once: the driver-side shape
  * check, the fan-out over `min(partitions, blocks)` tasks, closing
  * the per-task reader when the task ends, and the rows of
  * [[Schemas.gridSchema]]. Missing cells decode to SQL null — NaN never
  * enters the engine (SURVEY.md §7.4 trap 1).
  *
  * The KB-scale metadata is read on the driver; each task seeks (or
  * GETs) only its own blocks, the distributed analog of the
  * reference's per-point hyperslab requests issued once per block
  * instead of 9× per track point. Output goes through
  * [[SyntheticGrid.writeGrid]] → parquet partitioned by `time`.
  */
object GridIngest {

  /** Sentinel the fixture writers store for a missing cell (netCDF
    * `_FillValue` convention; also `Zarr.writeStore`'s `fill_value`).
    */
  val Fill: Double = -30000.0

  /** One block of a container's 4-D (time, depth, lat, lon) data
    * variables: origin (t, d, y, x) and extent (nt, nd, ny, nx),
    * clipped to the array shape.
    */
  final case class Block(t: Int, d: Int, y: Int, x: Int,
                         nt: Int, nd: Int, ny: Int, nx: Int) {
    def cells: Int = nt * nd * ny * nx
  }

  /** Row-major tiling of a 4-D `shape` by `size`; edge blocks clipped. */
  private def blocksOf(shape: Seq[Int], size: Seq[Int]): Seq[Block] = {
    def axis(k: Int): Seq[(Int, Int)] =
      (0 until shape(k) by size(k)).map(o => (o, math.min(size(k), shape(k) - o)))
    for ((t, nt) <- axis(0); (d, nd) <- axis(1); (y, ny) <- axis(2); (x, nx) <- axis(3))
      yield Block(t, d, y, x, nt, nd, ny, nx)
  }

  /** The CF rule, the same for every container: a raw value equal to
    * `_FillValue` or `missing_value`, or NaN, is missing (NaN in a
    * decoded block, null in a row); any other value is
    * `raw * scale + offset`. An absent attribute is NaN and matches
    * nothing.
    */
  final case class Cf(scale: Double = 1.0, offset: Double = 0.0,
                      fill: Double = Double.NaN, missing: Double = Double.NaN) {
    def apply(raw: Double): Double =
      if (raw == fill || raw == missing || raw.isNaN) Double.NaN
      else raw * scale + offset
  }

  object Cf {
    /** From a variable's numeric attributes. */
    def of(att: String => Option[Double]): Cf =
      Cf(att("scale_factor").getOrElse(1.0), att("add_offset").getOrElse(0.0),
        att("_FillValue").getOrElse(Double.NaN), att("missing_value").getOrElse(Double.NaN))
  }

  /** Element `i` of a stored buffer, as a raw double. */
  trait Raw extends Serializable { def apply(bb: ByteBuffer, i: Int): Double }

  /** Per-task decoder of a container's blocks, closed when the task ends. */
  trait BlockReader extends java.io.Closeable {
    /** Decodes block `b` of both data variables into the first
      * `b.cells` entries of `temp` and `sal`, block row-major
      * (t, d, y, x), NaN = null.
      */
    def read(b: Block, temp: Array[Double], sal: Array[Double]): Unit
    def close(): Unit = ()
  }

  /** What a grid container declares to [[rows]].
    *
    * @param shapes    each data variable's shape by name, checked on
    *                  the driver against the spec's axes
    * @param blockSize the (t, d, y, x) block shape the container reads
    * @param open      builds one task's reader (serializable)
    */
  final case class Source(spec: GridSpec, shapes: Seq[(String, Seq[Long])],
                          blockSize: Seq[Int], open: () => BlockReader)

  /** Copies block `b` out of stored values `raw` (element index →
    * raw value, `strides` elements per step of t, d, y, x from the
    * block origin) into `out`, block row-major, through `cf`.
    */
  def gather(b: Block, strides: Seq[Int], raw: Int => Double, cf: Cf,
             out: Array[Double]): Unit = {
    val Seq(st, sd, sy, sx) = strides
    var c = 0
    var t = 0
    while (t < b.nt) {
      var d = 0
      while (d < b.nd) {
        var y = 0
        while (y < b.ny) {
          val row = t * st + d * sd + y * sy
          var x = 0
          while (x < b.nx) { out(c) = cf(raw(row + x * sx)); c += 1; x += 1 }
          y += 1
        }
        d += 1
      }
      t += 1
    }
  }

  /** Every in-bounds cell of one stored chunk of an array of any rank:
    * (row-major index in the whole array, element index in the chunk
    * at element `strides`). For the driver-side whole-array reads of
    * small axis variables.
    */
  def chunkCells(shape: Seq[Long], origin: Seq[Long], chunks: Seq[Int],
                 strides: Seq[Int]): Seq[(Long, Int)] =
    shape.indices.foldLeft(Seq((0L, 0))) { (acc, d) =>
      val inChunk = 0 until math.min(chunks(d).toLong, shape(d) - origin(d)).toInt
      for ((flat, elem) <- acc; i <- inChunk)
        yield (flat * shape(d) + origin(d) + i, elem + i * strides(d))
    }

  /** Where one variable's (t, d) planes sit in a local file: plane
    * (t, d) starts at `begin + t * tStride + d * planeBytes`.
    */
  final case class Planes(begin: Long, tStride: Long, planeBytes: Long,
                          raw: Raw, cf: Cf)

  /** Per-task reader of plane-laid-out variables (NetCDF-3, contiguous
    * netCDF-4): one seek and one read per variable and (t, d) plane.
    */
  def planeReader(path: String, temp: Planes, sal: Planes): () => BlockReader = () =>
    new BlockReader {
      private val raf = new java.io.RandomAccessFile(path, "r")
      private val bufs = Seq(temp, sal).map(p => new Array[Byte](Math.toIntExact(p.planeBytes)))
      def read(b: Block, t: Array[Double], s: Array[Double]): Unit =
        Seq((temp, bufs(0), t), (sal, bufs(1), s)).foreach { case (p, buf, out) =>
          raf.seek(p.begin + b.t * p.tStride + b.d * p.planeBytes)
          raf.readFully(buf)
          val bb = ByteBuffer.wrap(buf)
          gather(b, Seq(0, 0, b.nx, 1), i => p.raw(bb, i), p.cf, out)
        }
      override def close(): Unit = raf.close()
    }

  /** The one place decoded blocks become grid rows: checks each data
    * variable's shape against the spec's axes on the driver, fans the
    * blocks out over `min(partitions, blocks)` tasks, and emits the
    * rows of [[Schemas.gridSchema]], missing values as null.
    */
  def rows(spark: SparkSession, src: Source, partitions: Int): DataFrame = {
    val spec = src.spec
    val shape = Seq(spec.times.size, spec.depths.size, spec.nLat, spec.nLon)
    src.shapes.foreach { case (v, s) =>
      require(s == shape.map(_.toLong),
        s"data variable $v has shape ${s.mkString("(", ", ", ")")}, but the axes " +
          s"give (time, depth, lat, lon) = ${shape.mkString("(", ", ", ")")}")
    }
    val blockCells = src.blockSize.zip(shape).map { case (b, n) => math.min(b, n).toLong }.product
    require(blockCells <= Int.MaxValue, s"block ${src.blockSize} holds more than 2^31 cells")
    val blocks = blocksOf(shape, src.blockSize)
    val times = spec.times.toArray; val depths = spec.depths.toArray
    val (latMin, latStep, lonMin, lonStep) =
      (spec.latMin, spec.latStep, spec.lonMin, spec.lonStep)
    val open = src.open
    val types = Schemas.gridSchema.map(_.dataType)
    val rdd = spark.sparkContext
      .parallelize(blocks, math.max(1, math.min(partitions, blocks.size)))
      .mapPartitions { it =>
        val reader = open()
        // one reader (fd) per task — closed when the task ends, success
        // OR failure, so long sessions never hit the open-file limit
        TaskContext.get().addTaskCompletionListener[Unit](_ => reader.close())
        val temp = new Array[Double](blockCells.toInt)
        val sal = new Array[Double](blockCells.toInt)
        // one mutable row per task: the scan projects each row to an
        // UnsafeRow before asking for the next
        val row = new SpecificInternalRow(types)
        def measure(i: Int, v: Double): Unit =
          if (v.isNaN) row.setNullAt(i) else row.setDouble(i, v)
        it.flatMap { b =>
          reader.read(b, temp, sal)
          Iterator.range(0, b.cells).map { c =>
            val x = b.x + c % b.nx
            val y = b.y + c / b.nx % b.ny
            val d = b.d + c / (b.nx * b.ny) % b.nd
            val t = b.t + c / (b.nx * b.ny * b.nd)
            row.setLong(0, times(t))
            row.setInt(1, d); row.setDouble(2, depths(d))
            row.setInt(3, y); row.setDouble(4, latMin + y * latStep)
            row.setInt(5, x); row.setDouble(6, lonMin + x * lonStep)
            measure(7, temp(c)); measure(8, sal(c))
            row: InternalRow
          }
        }
      }
    graftbridge.internalCreateDataFrame(spark, rdd, Schemas.gridSchema)
  }

  /** Ingest a NetCDF-3 classic file (the reference's container —
    * trackplot_hycom.py:144) into the long-format grid schema, one
    * (t, d) plane per block ([[Nc3.gridSource]]).
    */
  def ingestNc(spark: SparkSession, path: String, partitions: Int = 32,
               tempVar: String = "water_temp",
               salVar: String = "salinity"): DataFrame =
    rows(spark, Nc3.gridSource(path, tempVar, salVar), partitions)

  /** Ingest a netCDF-4 / HDF5 file (what `netCDF4.Dataset` opens,
    * trackplot_hycom.py:144) into the long-format grid schema, one
    * stored chunk per block ([[Nc4.gridSource]]). A chunk absent from
    * the index was never written: all fill, both measures null.
    */
  def ingestNc4(spark: SparkSession, path: String, partitions: Int = 32,
                tempVar: String = "water_temp",
                salVar: String = "salinity"): DataFrame =
    rows(spark, nc4Source(path, tempVar, salVar), partitions)

  private def nc4Source(path: String, tempVar: String, salVar: String): Source = {
    val f = Nc4.readFile(path)
    Nc4.gridSource(path, Nc4.gridSpecOf(f), f.dataset(tempVar), f.dataset(salVar))
  }

  /** Magic-byte sniff: NetCDF classic (`CDF\x01`/`\x02`). */
  def isNetcdf(path: String): Boolean = {
    val in = new java.io.FileInputStream(path)
    try {
      val b = new Array[Byte](4); in.read(b)
      b(0) == 'C' && b(1) == 'D' && b(2) == 'F' && (b(3) == 1 || b(3) == 2)
    } finally in.close()
  }

  /** [[Zarr]] grid spec from the store's 1-D coordinate arrays (the
    * xarray group layout: one array dir per coordinate/data
    * variable) — same axis conventions as [[Nc4.gridSpecOf]].
    */
  def zarrGridSpecOf(path: String,
                     timeVar: String = "time", depthVar: String = "depth",
                     latVar: String = "lat", lonVar: String = "lon"): GridSpec = {
    def coords(v: String): Array[Double] =
      Zarr.readAll(Zarr.readArrayMeta(s"$path/$v"))
    SyntheticGrid.specFromAxes(coords(timeVar).map(math.round(_)).toSeq,
      coords(depthVar).toSeq, coords(latVar), coords(lonVar))
  }

  /** Zarr-store ingest, one chunk per block ([[Zarr.gridSource]]): each
    * task reads only its own chunk objects (one GET per chunk key on
    * object storage). Missing chunks are all fill and still emit null
    * cells.
    */
  def ingestZarr(spark: SparkSession, path: String, partitions: Int = 32,
                 tempVar: String = "water_temp",
                 salVar: String = "salinity"): DataFrame =
    rows(spark, Zarr.gridSource(path, zarrGridSpecOf(path), tempVar, salVar), partitions)

  /** Full ingestion job: grid container (Zarr store, netCDF-4/HDF5 or
    * NetCDF-3 classic, sniffed) → sentinel cleanup → canonical
    * time-partitioned parquet grid (ready for TrackProfile).
    */
  def ingestToParquet(spark: SparkSession, gridPath: String,
                      parquetPath: String): GridSpec = {
    val src =
      if (Zarr.isZarr(gridPath))
        Zarr.gridSource(gridPath, zarrGridSpecOf(gridPath), "water_temp", "salinity")
      else if (Nc4.isHdf5(gridPath)) nc4Source(gridPath, "water_temp", "salinity")
      else if (isNetcdf(gridPath)) Nc3.gridSource(gridPath, "water_temp", "salinity")
      else throw new IllegalArgumentException(
        s"$gridPath: not a NetCDF-3 classic file, an HDF5 (netCDF-4) file or a Zarr store")
    SyntheticGrid.writeGrid(SyntheticGrid.cleanSentinels(rows(spark, src, 32)), parquetPath)
    src.spec
  }

  /** Driver-side collect of a small long-format grid into dense
    * (time, depth, lat, lon) row-major arrays of water_temp and
    * salinity, NaN = missing: the input of the fixture writers.
    */
  private[graft] def denseOf(grid: DataFrame, spec: GridSpec): (Array[Double], Array[Double]) = {
    val (nD, nY, nX) = (spec.depths.size, spec.nLat, spec.nLon)
    val n = spec.times.size.toLong * nD * nY * nX
    require(n < Int.MaxValue / 4, "fixture writers take small grids only")
    val temp = Array.fill(n.toInt)(Double.NaN)
    val sal = Array.fill(n.toInt)(Double.NaN)
    val tIdx = spec.times.zipWithIndex.toMap
    grid.select("time", "depth_idx", "lat_idx", "lon_idx", "water_temp", "salinity")
      .collect()
      .foreach { r =>
        val off = (((tIdx(r.getLong(0)).toLong * nD + r.getInt(1)) * nY + r.getInt(2)) * nX + r.getInt(3)).toInt
        if (!r.isNullAt(4)) temp(off) = r.getDouble(4)
        if (!r.isNullAt(5)) sal(off) = r.getDouble(5)
      }
    (temp, sal)
  }
}
