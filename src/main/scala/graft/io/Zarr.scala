package graft.io

import java.nio.{ByteBuffer, ByteOrder}

import graft.io.SyntheticGrid.GridSpec

/** Zarr v2 store reader (Zarr storage specification version 2,
  * https://zarr.readthedocs.io/en/stable/spec/v2.html — the
  * cloud-native chunked-array format xarray/climate pipelines publish
  * alongside the NetCDF files the reference consumes): a directory
  * per array holding a `.zarray` JSON metadata document and one flat
  * file per chunk, named by its dot-separated chunk-grid indices.
  * This is the third grid container next to [[Nc3]] (NetCDF classic)
  * and [[Nc4]] (HDF5), JDK-only like both: JSON via the Jackson
  * shipped on Spark's own classpath, decompression via
  * `java.util.zip`.
  *
  * Supported surface (the subset xarray writes by default, rejected
  * loudly otherwise): dtypes `<f4 <f8 <i1 <i2 <i4 <i8 |i1 |u1 <u2
  * <u4` and their big-endian `>` twins; compressor `null`, `zlib`,
  * `gzip`, `zstd` (the from-spec [[Zstd]] frame decoder), or `blosc`
  * with inner LZ4/snappy/zlib/zstd via the from-spec [[Blosc]]
  * decoder (blosclz fails loudly per chunk); C and F chunk-internal
  * order; optional `dimension_separator` ("." default, "/"
  * accepted); missing chunk files = all-fill chunks per the spec.
  *
  * Round 9 adds **Zarr v3** (the current core spec): `zarr.json`
  * metadata is dispatched transparently from [[readArrayMeta]], with
  * the regular chunk grid, default/v2 chunk-key encodings, the
  * `bytes` endianness codec, gzip/zstd/blosc/crc32c bytes→bytes
  * chains, and `sharding_indexed` ([[V3Sharded]] — the bounded-
  * object-count layout big v3 stores use). Every downstream consumer
  * (grid ingest, catalogs, [[readAll]]) reads either version
  * unchanged.
  *
  * Scale shape: a Zarr store IS a pre-chunked layout — each chunk is
  * its own object/file, so the distribution unit is exactly the
  * chunk grid ([[GridIngest.ingestZarr]] fans origins out and each
  * task reads only its own chunk files; on object storage the local
  * `Files.readAllBytes` becomes a ranged GET of one key — the layout
  * Zarr was designed for).
  */
object Zarr {

  final case class Dtype(bigEndian: Boolean, kind: Char, size: Int)

  sealed trait Compressor
  case object RawCodec extends Compressor
  case object ZlibCodec extends Compressor
  case object GzipCodec extends Compressor
  case object BloscCodec extends Compressor
  case object ZstdCodec extends Compressor

  /** A Zarr v3 bytes→bytes codec chain (applied in reverse on read),
    * after the mandatory `bytes` array→bytes codec whose endianness
    * is folded into the dtype.
    */
  sealed trait V3Codec
  case object V3Gzip extends V3Codec
  case object V3Zstd extends V3Codec
  case object V3Blosc extends V3Codec
  case object V3Crc32c extends V3Codec
  final case class V3Chain(codecs: Seq[V3Codec]) extends Compressor

  /** Zarr v3 `sharding_indexed`: one store object holds a grid of
    * independently-encoded INNER chunks plus a fixed-size index of
    * (offset, nbytes) uint64-LE pairs (2^64-1 = absent → fill). The
    * outer `chunk_grid` shape is the shard; `inner` divides it
    * exactly. This is the layout big v3 stores actually use — it
    * keeps object counts bounded while preserving sub-shard reads.
    */
  final case class V3Sharded(inner: Seq[Int], innerChain: Seq[V3Codec],
                             indexCrc: Boolean, indexAtEnd: Boolean)
    extends Compressor

  /** Parsed `.zarray` metadata + the array directory it governs. */
  final case class ArrayMeta(dir: String, shape: Seq[Long], chunks: Seq[Int],
                             dtype: Dtype, order: Char,
                             compressor: Compressor,
                             fillValue: Option[Double],
                             dimSeparator: String,
                             keyPrefix: String = "") {
    require(shape.size == chunks.size,
      s"$dir: shape rank ${shape.size} != chunks rank ${chunks.size}")
    def rank: Int = shape.size
    def cellsPerChunk: Long = chunks.map(_.toLong).product
    /** Chunk-grid origins (element offsets), row-major over the grid. */
    def chunkOrigins: Seq[Seq[Long]] = {
      def axis(d: Int): Seq[Long] = 0L until shape(d) by chunks(d)
      shape.indices.foldLeft(Seq(Seq.empty[Long])) { (acc, d) =>
        for (prefix <- acc; o <- axis(d)) yield prefix :+ o
      }
    }
    /** Store key of the chunk at the given origin (v3's default
      * chunk-key encoding prepends `c<sep>` via `keyPrefix`).
      */
    def chunkKey(origin: Seq[Long]): String =
      keyPrefix + origin.zipWithIndex.map { case (o, d) => o / chunks(d) }
        .mkString(dimSeparator)
  }

  /** Zarr v3 array metadata (`zarr.json`, the v3 core spec): regular
    * chunk grid, `default`/`v2` chunk-key encodings, the `bytes`
    * array→bytes codec (endianness), the bytes→bytes codecs
    * gzip / zstd / blosc / crc32c, and `sharding_indexed` (inner
    * chunk grid + offset/nbytes index, [[V3Sharded]]). Transpose and
    * other extension codecs fail loudly by name. Order is always C in
    * v3 (a transpose codec would say otherwise — rejected).
    */
  private def readArrayMetaV3(dir: String,
                              node: com.fasterxml.jackson.databind.JsonNode): ArrayMeta = {
    require(node.path("zarr_format").asInt() == 3,
      s"$dir: zarr.json zarr_format ${node.path("zarr_format")} != 3")
    require(node.path("node_type").asText() == "array",
      s"$dir: zarr.json node_type '${node.path("node_type").asText()}' is not an array")
    val shape = (0 until node.path("shape").size())
      .map(i => node.path("shape").get(i).asLong())
    require(shape.nonEmpty, s"$dir: zero-rank v3 arrays not supported")

    val grid = node.path("chunk_grid")
    require(grid.path("name").asText() == "regular",
      s"$dir: chunk_grid '${grid.path("name").asText()}' not supported (regular only)")
    val cs = grid.path("configuration").path("chunk_shape")
    val chunks = (0 until cs.size()).map(i => cs.get(i).asInt())

    val cke = node.path("chunk_key_encoding")
    val ckeName = if (cke.isMissingNode) "default" else cke.path("name").asText("default")
    val sepDefault = if (ckeName == "v2") "." else "/"
    val sep = cke.path("configuration").path("separator").asText(sepDefault)
    require(sep == "." || sep == "/", s"$dir: unsupported v3 separator '$sep'")
    val keyPrefix = ckeName match {
      case "default" => "c" + sep
      case "v2" => ""
      case other => throw new IllegalArgumentException(
        s"$dir: unsupported chunk_key_encoding '$other'")
    }

    val dtName = node.path("data_type").asText()
    val (kind, size) = dtName match {
      case "float64" => ('f', 8)
      case "float32" => ('f', 4)
      case "int8" => ('i', 1)
      case "int16" => ('i', 2)
      case "int32" => ('i', 4)
      case "int64" => ('i', 8)
      case "uint8" => ('u', 1)
      case "uint16" => ('u', 2)
      case "uint32" => ('u', 4)
      case other => throw new IllegalArgumentException(
        s"$dir: v3 data_type '$other' not supported")
    }

    // codecs: `bytes` (endianness) then bytes→bytes, or a single
    // `sharding_indexed` whose configuration nests the same shape
    val codecsNode = node.path("codecs")
    require(codecsNode.isArray && codecsNode.size() > 0,
      s"$dir: v3 codecs list missing")
    val names = (0 until codecsNode.size()).map(i => codecsNode.get(i))

    /** `[bytes(endian), tail...]` → (endian, decoded tail chain). */
    def parseChain(list: Seq[com.fasterxml.jackson.databind.JsonNode],
                   what: String): (String, Seq[V3Codec]) = {
      require(list.nonEmpty, s"$dir: $what codecs list empty")
      val head = list.head.path("name").asText()
      require(head == "bytes" || head == "endian",
        s"$dir: expected the 'bytes' codec first in $what (array→array codecs " +
          s"like '$head' are not supported)")
      val endian = list.head.path("configuration").path("endian").asText("little")
      require(endian == "little" || endian == "big", s"$dir: bad endian '$endian'")
      val chain = list.drop(1).map { c =>
        c.path("name").asText() match {
          case "gzip" => V3Gzip
          case "zstd" => V3Zstd
          case "blosc" => V3Blosc
          case "crc32c" => V3Crc32c
          case "sharding_indexed" => throw new IllegalArgumentException(
            s"$dir: sharding_indexed must be the only top-level codec")
          case other => throw new IllegalArgumentException(
            s"$dir: v3 codec '$other' not supported (gzip/zstd/blosc/crc32c)")
        }
      }
      // blosc's frame carries no size of its own — the decoder is
      // handed the final regenerated size, which is only correct when
      // blosc sits directly on the raw bytes (first bytes→bytes codec
      // in declaration order, applied last on decode). Reject other
      // placements at parse time rather than failing mid-decode with
      // a misleading size mismatch.
      require(chain.count(_ == V3Blosc) <= 1 &&
        (!chain.contains(V3Blosc) || chain.head == V3Blosc),
        s"$dir: $what declares blosc after another compressor — blosc must be " +
          "the innermost bytes→bytes codec (declared immediately after 'bytes')")
      (endian, chain)
    }

    val (endian, compressor0) =
      if (names.head.path("name").asText() == "sharding_indexed") {
        require(names.size == 1,
          s"$dir: sharding_indexed must be the only top-level codec")
        val conf = names.head.path("configuration")
        val ics = conf.path("chunk_shape")
        val innerShape = (0 until ics.size()).map(i => ics.get(i).asInt())
        require(innerShape.size == chunks.size &&
          innerShape.zip(chunks).forall { case (i, o) => i > 0 && o % i == 0 },
          s"$dir: inner chunk shape $innerShape does not divide shard shape $chunks")
        val innerList = conf.path("codecs")
        val (e, innerChain) = parseChain(
          (0 until innerList.size()).map(innerList.get), "sharding inner")
        val idxList = conf.path("index_codecs")
        val idxNames = (0 until idxList.size()).map(i =>
          idxList.get(i).path("name").asText())
        require(idxNames.headOption.forall(n => n == "bytes" || n == "endian"),
          s"$dir: shard index_codecs must start with bytes")
        if (idxList.size() > 0) {
          val idxEndian = idxList.get(0).path("configuration")
            .path("endian").asText("little")
          require(idxEndian == "little",
            s"$dir: shard index endianness '$idxEndian' not supported (little only)")
        }
        val idxCrc = idxNames.drop(1) match {
          case Seq() => false
          case Seq("crc32c") => true
          case other => throw new IllegalArgumentException(
            s"$dir: shard index_codecs tail $other not supported (crc32c only)")
        }
        val atEnd = conf.path("index_location").asText("end") match {
          case "end" => true
          case "start" => false
          case other => throw new IllegalArgumentException(
            s"$dir: index_location '$other'")
        }
        (e, V3Sharded(innerShape, innerChain, idxCrc, atEnd))
      } else {
        val (e, chain) = parseChain(names, "array")
        (e, if (chain.isEmpty) RawCodec else V3Chain(chain))
      }

    val fv = node.path("fill_value")
    val fillValue =
      if (fv.isNull || fv.isMissingNode) None
      else if (fv.isTextual) fv.asText() match {
        case "NaN" => Some(Double.NaN)
        case "Infinity" => Some(Double.PositiveInfinity)
        case "-Infinity" => Some(Double.NegativeInfinity)
        case other => throw new IllegalArgumentException(
          s"$dir: v3 fill_value '$other' not supported")
      }
      else Some(fv.asDouble())

    require(!(kind == 'u' && size == 8), s"$dir: uint64 would sign-flip")
    ArrayMeta(dir, shape, chunks, Dtype(endian == "big", kind, size), 'C',
      compressor0, fillValue, sep, keyPrefix)
  }

  private[io] def parseDtype(s: String): Dtype = {
    require(s.length >= 3, s"unsupported dtype '$s'")
    val endian = s.charAt(0)
    val kind = s.charAt(1)
    val size = s.substring(2).toInt
    require(endian == '<' || endian == '>' || endian == '|',
      s"unsupported byte order in dtype '$s'")
    require("fiu".contains(kind), s"unsupported dtype kind '$s'")
    require(endian != '|' || size == 1, s"'|' order requires 1-byte dtype, got '$s'")
    require((kind == 'f' && (size == 4 || size == 8)) ||
      (kind != 'f' && Seq(1, 2, 4, 8).contains(size)),
      s"unsupported dtype width '$s'")
    // u8 is REJECTED: values past Long.MaxValue would sign-flip
    // through the long read — wrong answers, not merely imprecise.
    // i8 is accepted: exact to 2^53, above which the double mapping
    // rounds (document-level caveat; grid data lives far below it).
    require(!(kind == 'u' && size == 8),
      s"unsupported dtype 'u8' (values past 2^63-1 would sign-flip)")
    Dtype(endian == '>', kind, size)
  }

  /** Read and validate an array's `.zarray` document (driver-side,
    * through the Hadoop `FileSystem` resolved from `dir` — local
    * paths, `file://`, or any registered object-store scheme).
    */
  def readArrayMeta(dir: String): ArrayMeta = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // fill_value may be the bare token NaN/Infinity per the spec
    mapper.enable(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS)
    val zarray = getObjectOrNull(driverConf(), s"$dir/.zarray")
    if (zarray == null) {
      // v3 stores carry zarr.json instead — dispatch transparently so
      // every caller (grid ingest, catalogs) reads either version
      val zjson = getObjectOrNull(driverConf(), s"$dir/zarr.json")
      require(zjson != null, s"$dir: neither .zarray (v2) nor zarr.json (v3) present")
      return readArrayMetaV3(dir, mapper.readTree(zjson))
    }
    val node = mapper.readTree(zarray)
    require(node.path("zarr_format").asInt() == 2,
      s"$dir: zarr_format ${node.path("zarr_format")} != 2")
    val shape = (0 until node.path("shape").size())
      .map(i => node.path("shape").get(i).asLong())
    val chunks = (0 until node.path("chunks").size())
      .map(i => node.path("chunks").get(i).asInt())
    val dtype = parseDtype(node.path("dtype").asText())
    val comp = node.path("compressor")
    val compressor =
      if (comp.isNull || comp.isMissingNode) RawCodec
      else comp.path("id").asText() match {
        case "zlib" => ZlibCodec
        case "gzip" => GzipCodec
        // the inner codec is dispatched from each chunk's own header
        // (flags bits 5-7), not the advisory metadata — lz4 decodes,
        // the rest fail loudly per chunk with the codec named
        case "blosc" => BloscCodec
        // numcodecs Zstd stores the chunk as one bare zstd frame
        case "zstd" => ZstdCodec
        case other => throw new IllegalArgumentException(
          s"$dir: unsupported compressor '$other' (supported: null/zlib/gzip/blosc/zstd)")
      }
    val filters = node.path("filters")
    require(filters.isNull || filters.isMissingNode || filters.size() == 0,
      s"$dir: filter pipeline not supported")
    val order = node.path("order").asText("C")
    require(order == "C" || order == "F", s"$dir: unsupported order '$order'")
    val fv = node.path("fill_value")
    val fillValue =
      if (fv.isNull || fv.isMissingNode) None
      else Some(fv.asDouble()) // NaN token parses to Double.NaN
    val sep = {
      val s = node.path("dimension_separator").asText(".")
      require(s == "." || s == "/", s"$dir: unsupported dimension_separator '$s'")
      s
    }
    ArrayMeta(dir, shape, chunks, dtype, order.charAt(0), compressor,
      fillValue, sep)
  }

  /** Decompress one chunk's stored bytes to its raw cell buffer. */
  def decodeChunk(meta: ArrayMeta, stored: Array[Byte]): Array[Byte] = {
    val want = meta.cellsPerChunk * meta.dtype.size
    require(want <= Int.MaxValue, s"${meta.dir}: chunk too large")
    meta.compressor match {
      case RawCodec =>
        require(stored.length == want,
          s"${meta.dir}: raw chunk is ${stored.length} bytes, expected $want")
        stored
      case ZlibCodec =>
        val inf = new java.util.zip.Inflater()
        try {
          inf.setInput(stored)
          val out = new Array[Byte](want.toInt)
          var off = 0
          while (off < out.length && !inf.finished()) {
            val n = inf.inflate(out, off, out.length - off)
            // inflate()=0 has THREE causes; all must terminate the loop
            require(!inf.needsDictionary(),
              s"${meta.dir}: preset-dictionary zlib chunk not supported")
            require(n > 0 || !inf.needsInput(),
              s"${meta.dir}: truncated zlib chunk")
            off += n
          }
          require(off == out.length,
            s"${meta.dir}: zlib chunk inflated to $off bytes, expected $want")
          // surplus guard: a chunk that decompresses to MORE than the
          // cell grid is corrupt/mismatched, same as a short one
          require(inf.finished(),
            s"${meta.dir}: zlib chunk has surplus data past $want bytes")
          out
        } finally inf.end()
      case GzipCodec =>
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(stored))
        try {
          val out = new Array[Byte](want.toInt)
          var off = 0
          var n = 0
          while (off < out.length && n >= 0) {
            n = in.read(out, off, out.length - off)
            if (n > 0) off += n
          }
          require(off == out.length,
            s"${meta.dir}: gzip chunk yielded $off bytes, expected $want")
          require(in.read() == -1,
            s"${meta.dir}: gzip chunk has surplus data past $want bytes")
          out
        } finally in.close()
      case BloscCodec =>
        Blosc.decompress(stored, want.toInt, meta.dir)
      case ZstdCodec =>
        val out = Zstd.decompress(stored)
        require(out.length == want,
          s"${meta.dir}: zstd chunk yielded ${out.length} bytes, expected $want")
        out
      case V3Chain(codecs) =>
        applyV3Chain(stored, want.toInt, codecs, meta.dir)
      case V3Sharded(inner, innerChain, indexCrc, indexAtEnd) =>
        decodeShard(meta, stored, inner, innerChain, indexCrc, indexAtEnd)
    }
  }

  /** Inverts a v3 bytes→bytes codec chain (reverse declaration
    * order), verifying checksums and the final regenerated size.
    */
  private def applyV3Chain(stored: Array[Byte], want: Int,
                           codecs: Seq[V3Codec], ctx: String): Array[Byte] = {
    var buf = stored
    codecs.reverse.foreach {
      case V3Crc32c =>
        require(buf.length >= 4, s"$ctx: crc32c payload shorter than its checksum")
        val c = new java.util.zip.CRC32C()
        c.update(buf, 0, buf.length - 4)
        val want32 = (buf(buf.length - 4) & 0xFF) |
          ((buf(buf.length - 3) & 0xFF) << 8) |
          ((buf(buf.length - 2) & 0xFF) << 16) |
          ((buf(buf.length - 1) & 0xFF) << 24)
        require(c.getValue.toInt == want32,
          f"$ctx: crc32c mismatch (got 0x${c.getValue.toInt}%08x want 0x$want32%08x)")
        buf = java.util.Arrays.copyOf(buf, buf.length - 4)
      case V3Zstd =>
        buf = Zstd.decompress(buf)
      case V3Gzip =>
        buf = Codecs.gunzipAll(buf)
      case V3Blosc =>
        buf = Blosc.decompress(buf, want, ctx)
    }
    require(buf.length == want,
      s"$ctx: v3 codec chain yielded ${buf.length} bytes, expected $want")
    buf
  }

  /** Assembles one shard into its full raw cell buffer: parse the
    * (offset, nbytes) index, decode each present inner chunk through
    * the inner chain, place it at its C-order position; absent inner
    * chunks (2^64-1 sentinels) hold the fill value.
    */
  private def decodeShard(meta: ArrayMeta, stored: Array[Byte],
                          inner: Seq[Int], innerChain: Seq[V3Codec],
                          indexCrc: Boolean, indexAtEnd: Boolean): Array[Byte] = {
    val dir = meta.dir
    val esize = meta.dtype.size
    val outer = meta.chunks
    val gridDims = outer.indices.map(d => outer(d) / inner(d))
    val nInner = gridDims.map(_.toLong).product
    require(nInner <= (1 << 24), s"$dir: shard holds $nInner inner chunks (guard)")
    val indexSize = nInner.toInt * 16 + (if (indexCrc) 4 else 0)
    require(stored.length >= indexSize, s"$dir: shard shorter than its index")
    val idxBytes = {
      val raw =
        if (indexAtEnd) java.util.Arrays.copyOfRange(stored, stored.length - indexSize, stored.length)
        else java.util.Arrays.copyOf(stored, indexSize)
      applyV3Chain(raw, nInner.toInt * 16,
        if (indexCrc) Seq(V3Crc32c) else Seq.empty, s"$dir (shard index)")
    }
    val idx = java.nio.ByteBuffer.wrap(idxBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)

    val want = (meta.cellsPerChunk * esize).toInt
    val out = new Array[Byte](want)
    // pre-fill: absent inner chunks hold the array's fill value —
    // encode ONE element's byte pattern and tile it (no per-cell
    // dispatch/boxing over a potentially multi-million-cell shard)
    if (meta.fillValue.exists(v => v != 0.0 || v.isNaN)) {
      val fv = meta.fillValue.get
      val one = java.nio.ByteBuffer.allocate(esize).order(
        if (meta.dtype.bigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      (meta.dtype.kind, esize) match {
        case ('f', 8) => one.putDouble(fv)
        case ('f', 4) => one.putFloat(fv.toFloat)
        case ('i', 8) => one.putLong(fv.toLong)
        case ('i', 4) => one.putInt(fv.toInt)
        case ('i', 2) => one.putShort(fv.toShort)
        case (_, 1) => one.put(fv.toInt.toByte)
        case ('u', 2) => one.putShort(fv.toInt.toShort)
        case ('u', 4) => one.putInt(fv.toLong.toInt)
        case other => throw new IllegalStateException(s"$dir: fill for dtype $other")
      }
      val pat = one.array()
      var off = 0
      while (off < want) { System.arraycopy(pat, 0, out, off, esize); off += esize }
    }

    val innerCells = inner.map(_.toLong).product
    val innerWant = (innerCells * esize).toInt
    val rank = outer.size
    // iterate inner-chunk grid positions in row-major order (the
    // index order the spec fixes)
    val gridPos = new Array[Int](rank)
    var flat = 0L
    while (flat < nInner) {
      val off = idx.getLong(flat.toInt * 16)
      val nbytes = idx.getLong(flat.toInt * 16 + 8)
      if (off != -1L || nbytes != -1L) { // 2^64-1 sentinels = absent
        require(off >= 0 && nbytes > 0 && off + nbytes <= stored.length,
          s"$dir: shard inner chunk $flat spans [$off, ${off + nbytes}) outside the shard")
        val enc = java.util.Arrays.copyOfRange(stored, off.toInt, (off + nbytes).toInt)
        val raw = applyV3Chain(enc, innerWant, innerChain, s"$dir (inner $flat)")
        // place: copy contiguous last-dim runs into the outer buffer
        val runLen = inner(rank - 1) * esize
        val nRuns = (innerCells / inner(rank - 1)).toInt
        val runIdx = new Array[Int](math.max(rank - 1, 1))
        var r = 0
        while (r < nRuns) {
          // within-inner-chunk coords of this run's start (last dim 0)
          var cellOff = 0L
          var d = 0
          while (d < rank) {
            val within = if (d == rank - 1) 0 else runIdx(d)
            val globalInOuter = gridPos(d) * inner(d) + within
            cellOff = cellOff * outer(d) + globalInOuter
            d += 1
          }
          System.arraycopy(raw, r * runLen, out, (cellOff * esize).toInt, runLen)
          // advance runIdx (row-major over dims 0..rank-2)
          var k = rank - 2
          while (k >= 0) {
            runIdx(k) += 1
            if (runIdx(k) < inner(k)) k = -1 else { runIdx(k) = 0; k -= 1 }
          }
          r += 1
        }
      }
      // advance gridPos row-major
      var k = rank - 1
      while (k >= 0) {
        gridPos(k) += 1
        if (gridPos(k) < gridDims(k)) k = -1 else { gridPos(k) = 0; k -= 1 }
      }
      flat += 1
    }
    out
  }

  /** Raw element reader of a dtype, over a buffer from [[buffer]]. */
  def rawOf(dtype: Dtype): GridIngest.Raw = (dtype.kind, dtype.size) match {
    case ('f', 4) => (b, i) => b.getFloat(i * 4).toDouble
    case ('f', 8) => (b, i) => b.getDouble(i * 8)
    case ('i', 1) => (b, i) => b.get(i).toDouble
    case ('i', 2) => (b, i) => b.getShort(i * 2).toDouble
    case ('i', 4) => (b, i) => b.getInt(i * 4).toDouble
    case ('i', 8) => (b, i) => b.getLong(i * 8).toDouble
    case ('u', 1) => (b, i) => (b.get(i) & 0xff).toDouble
    case ('u', 2) => (b, i) => (b.getShort(i * 2) & 0xffff).toDouble
    case ('u', 4) => (b, i) => (b.getInt(i * 4) & 0xffffffffL).toDouble
    case other => throw new IllegalStateException(s"unreachable dtype $other")
  }

  /** A decoded chunk, in the array's byte order. */
  def buffer(meta: ArrayMeta, decoded: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(decoded).order(
      if (meta.dtype.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)

  /** Element strides of a stored chunk per dimension, following the
    * chunk-internal `order`: C = row-major, F = column-major, per the
    * spec's "storage order of the chunk's elements".
    */
  def chunkStrides(meta: ArrayMeta): Seq[Int] =
    if (meta.order == 'C') meta.chunks.scanRight(1)(_ * _).tail
    else meta.chunks.reverse.scanRight(1)(_ * _).tail.reverse

  /** Whole-array driver-side read (coordinate variables: 1-D, tiny).
    * Missing chunks yield the fill value.
    */
  def readAll(meta: ArrayMeta): Array[Double] = {
    require(meta.shape.product <= (1 << 22),
      s"${meta.dir}: readAll is for small coordinate arrays, " +
        s"shape ${meta.shape} is not one — use the distributed ingest")
    val out = Array.fill(meta.shape.product.toInt)(meta.fillValue.getOrElse(Double.NaN))
    val raw = rawOf(meta.dtype)
    val strides = chunkStrides(meta)
    val conf = driverConf()
    meta.chunkOrigins.foreach { origin =>
      val stored = getObjectOrNull(conf, s"${meta.dir}/${meta.chunkKey(origin)}")
      if (stored != null) {
        val buf = buffer(meta, decodeChunk(meta, stored))
        GridIngest.chunkCells(meta.shape, origin, meta.chunks, strides)
          .foreach { case (flat, elem) => out(flat.toInt) = raw(buf, elem) }
      }
    }
    out
  }

  /** The store's two 4-D data variables as a [[GridIngest.Source]]: one
    * chunk per block, read by the task that owns it (one GET per chunk
    * key). A missing chunk is all fill; a cell equal to `fill_value`,
    * or NaN, is null.
    */
  def gridSource(path: String, spec: GridSpec, tempVar: String,
                 salVar: String): GridIngest.Source = {
    val metas = Seq(tempVar, salVar).map(v => readArrayMeta(s"$path/$v"))
    require(metas(0).chunks == metas(1).chunks,
      s"$path: $tempVar and $salVar have different chunk shapes")
    val vars = metas.map(m => (m, rawOf(m.dtype),
      GridIngest.Cf(fill = m.fillValue.getOrElse(Double.NaN)), chunkStrides(m)))
    // chunk GETs go through the Hadoop FileSystem (ConfBox carries the
    // driver's conf) — no shared-POSIX-mount assumption
    val box = confBox()
    GridIngest.Source(spec, Seq(tempVar, salVar).zip(metas.map(_.shape)), metas(0).chunks,
      () => new GridIngest.BlockReader {
        def read(b: GridIngest.Block, t: Array[Double], s: Array[Double]): Unit =
          vars.zip(Seq(t, s)).foreach { case ((meta, raw, cf, strides), out) =>
            val stored = chunkBytesOrNull(box, meta, Seq(b.t, b.d, b.y, b.x).map(_.toLong))
            if (stored == null) java.util.Arrays.fill(out, 0, b.cells, Double.NaN)
            else {
              val buf = buffer(meta, stored)
              GridIngest.gather(b, strides, i => raw(buf, i), cf, out)
            }
          }
      })
  }

  /** Driver-side Hadoop configuration: the active session's (it
    * carries object-store credentials and scheme registrations) or a
    * default when no session is up (unit-test direct calls).
    */
  private[graft] def driverConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** One GET of a whole object through the Hadoop `FileSystem` API,
    * or null when absent — the read-side twin of [[putObject]]: a
    * missing chunk key is DATA (all-fill) per the spec, so absence is
    * a value here, not an error.
    */
  private[graft] def getObjectOrNull(conf: org.apache.hadoop.conf.Configuration,
                                     path: String): Array[Byte] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf)
    // open directly and treat not-found as the value it is — an
    // exists() probe would double the RPCs (HEAD before every GET on
    // object stores) on the per-chunk hot path
    val in =
      try fs.open(hp)
      catch { case _: java.io.FileNotFoundException => return null }
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** One PUT of a whole object through the Hadoop `FileSystem` API —
    * the write-side twin of the read side's ranged-GET claim: on a
    * local or cluster filesystem this is a create+write+close, on an
    * object store one PUT per call, and either way the sink never
    * assumes the tasks share a POSIX mount (the `java.nio.Files`
    * form it replaced did, which held only in single-box tests).
    */
  private def putObject(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path,
                        bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Serializable Hadoop-conf box (the standard `writeObject` /
    * `readFields` pattern): `Configuration` itself is Writable but
    * not `java.io.Serializable`, and executor tasks need the driver's
    * filesystem settings (object-store credentials, scheme
    * registrations) to resolve `path` the same way the driver did.
    */
  private[graft] final class ConfBox(@transient var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Write a 1-D `<f8` raw coordinate array (driver-side, tiny). */
  private def writeCoordArray(fs: org.apache.hadoop.fs.FileSystem,
                              dir: String, vals: Array[Double]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    fs.mkdirs(p)
    putObject(fs, new org.apache.hadoop.fs.Path(p, ".zarray"),
      s"""{"zarr_format": 2, "shape": [${vals.length}],
         | "chunks": [${vals.length}], "dtype": "<f8",
         | "compressor": null, "fill_value": null,
         | "order": "C", "filters": null}""".stripMargin.getBytes("UTF-8"))
    val buf = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(buf.putDouble)
    putObject(fs, new org.apache.hadoop.fs.Path(p, "0"), buf.array())
  }

  /** v3 twin of [[writeCoordArray]]: raw float64, key `c/0`. */
  private def writeCoordArrayV3(fs: org.apache.hadoop.fs.FileSystem,
                                dir: String, vals: Array[Double]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    fs.mkdirs(p)
    putObject(fs, new org.apache.hadoop.fs.Path(p, "zarr.json"),
      s"""{"zarr_format": 3, "node_type": "array",
         | "shape": [${vals.length}], "data_type": "float64",
         | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${vals.length}]}},
         | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
         | "fill_value": 0.0,
         | "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}"""
        .stripMargin.getBytes("UTF-8"))
    val buf = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(buf.putDouble)
    putObject(fs, new org.apache.hadoop.fs.Path(p, "c/0"), buf.array())
  }

  /** v3 twin of [[writeDataArrayMeta]]: float64, gzip codec chain. */
  private def writeDataArrayMetaV3(fs: org.apache.hadoop.fs.FileSystem,
                                   dir: String, shape: Seq[Int],
                                   chunks: Seq[Int], fill: Double): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    fs.mkdirs(p)
    putObject(fs, new org.apache.hadoop.fs.Path(p, "zarr.json"),
      s"""{"zarr_format": 3, "node_type": "array",
         | "shape": [${shape.mkString(", ")}], "data_type": "float64",
         | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${chunks.mkString(", ")}]}},
         | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
         | "fill_value": $fill,
         | "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
         |            {"name": "gzip", "configuration": {"level": 1}}]}"""
        .stripMargin.getBytes("UTF-8"))
  }

  private def writeDataArrayMeta(fs: org.apache.hadoop.fs.FileSystem,
                                 dir: String, shape: Seq[Int],
                                 chunks: Seq[Int], fill: Double): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    fs.mkdirs(p)
    putObject(fs, new org.apache.hadoop.fs.Path(p, ".zarray"),
      s"""{"zarr_format": 2, "shape": [${shape.mkString(", ")}],
         | "chunks": [${chunks.mkString(", ")}], "dtype": "<f8",
         | "compressor": {"id": "zlib", "level": 1}, "fill_value": $fill,
         | "order": "C", "filters": null}""".stripMargin.getBytes("UTF-8"))
  }

  /** The SINK half: long-format grid frame → a Zarr v2 store readable
    * by [[GridIngest.ingestZarr]] (and any Zarr library) — the
    * publish-back path for grids the engine produced or repartitioned.
    * Null cells write the fill value (`GridIngest.Fill`, the engine's
    * sentinel convention, declared as the store's `fill_value` so any
    * reader maps them back to missing).
    *
    * Distribution mirrors the read side in reverse: rows hash-
    * partition BY CHUNK and sort within partitions, so each task
    * streams its chunks one buffer at a time (bounded memory =
    * one chunk), deflates, and writes its own chunk files — no
    * driver data path except the four tiny coordinate arrays.
    * Absent cells of a chunk stay fill (the dense buffer is
    * fill-initialized), so sparse/filtered grids write correctly.
    *
    * All writes go through the Hadoop `FileSystem` resolved from
    * `path` under the session's Hadoop configuration (shipped to
    * tasks via [[ConfBox]]) — one PUT per chunk on an object store,
    * one create+close on a cluster or local filesystem, and no
    * assumption that tasks share a POSIX mount.
    */
  def writeStore(grid: org.apache.spark.sql.DataFrame,
                 spec: GridSpec, path: String,
                 chunkT: Int = 1, chunkD: Int = 8,
                 chunkY: Int = 64, chunkX: Int = 64,
                 formatV3: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val fill = GridIngest.Fill
    val hconf = grid.sparkSession.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val dfs = root.getFileSystem(hconf)
    dfs.mkdirs(root)
    val shape = Seq(spec.times.size, spec.depths.size, spec.nLat, spec.nLon)
    val chunks = Seq(chunkT, chunkD, chunkY, chunkX)
      .zip(shape).map { case (c, s) => math.min(c, s) }
    val timeIdx = spec.times.zipWithIndex.toMap
    val Seq(ct, cd, cy, cx) = chunks
    val nCells = ct * cd * cy * cx
    val confBox = new ConfBox(hconf)
    val rows = chunkRows(grid, timeIdx, ct, cd, cy, cx)
    // chunk data FIRST, metadata LAST: a failed/partial job must not
    // leave a store that parses — missing chunks read as all-fill per
    // the spec, so a torn write with metadata present would be
    // indistinguishable from valid sparse data. Until the .zarray
    // docs land, readers reject the directory outright.
    rows.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val taskFs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(confBox.conf)
      // Attempt isolation: a speculative or retried task attempt must
      // never `create` the same chunk object concurrently with another
      // attempt (interleaved/failed creates on HDFS-like stores). Each
      // attempt writes to a `.`-prefixed attempt-unique temp key (dot
      // names are invisible to Zarr chunk-key parsing) and renames on
      // completion; if a sibling attempt already committed the chunk,
      // the rename loses and the temp is discarded — chunk content is
      // deterministic, so either winner is correct.
      val attemptTag = Option(org.apache.spark.TaskContext.get())
        .map(tc => s"${tc.taskAttemptId()}-${tc.attemptNumber()}")
        .getOrElse(java.util.UUID.randomUUID().toString)
      var curKey: String = null
      var wtBuf: Array[Double] = null
      var saBuf: Array[Double] = null
      def flush(): Unit = if (curKey != null) {
        def writeChunk(v: String, cells: Array[Double]): Unit = {
          val bb = ByteBuffer.allocate(cells.length * 8)
            .order(ByteOrder.LITTLE_ENDIAN)
          cells.foreach(bb.putDouble)
          val out = new java.io.ByteArrayOutputStream()
          if (formatV3) {
            // the v3 `gzip` codec is the gzip FORMAT (not bare zlib);
            // level 1 to match both the declared codec config and the
            // v2 path's deliberate speed/size point
            val gz = new java.util.zip.GZIPOutputStream(out) {
              `def`.setLevel(1)
            }
            gz.write(bb.array()); gz.close()
          } else {
            val defl = new java.util.zip.Deflater(1)
            defl.setInput(bb.array()); defl.finish()
            val tmp = new Array[Byte](1 << 16)
            while (!defl.finished()) out.write(tmp, 0, defl.deflate(tmp))
            defl.end()
          }
          // v3 default chunk-key encoding nests under c/ with '/'
          val keyPath = if (formatV3) "c/" + curKey.replace('.', '/') else curKey
          val dest = new org.apache.hadoop.fs.Path(s"$path/$v/$keyPath")
          // attempt temp lives NEXT TO the destination (same-directory
          // rename; dot names are invisible to both key encodings)
          val tmpKey = new org.apache.hadoop.fs.Path(
            dest.getParent, s".${dest.getName}.$attemptTag.tmp")
          putObject(taskFs, tmpKey, out.toByteArray)
          if (!taskFs.rename(tmpKey, dest)) {
            // a false rename is only benign when another attempt
            // already committed the (byte-identical) chunk — anything
            // else must FAIL the task, not silently leave a missing
            // chunk that later reads back as all-fill
            require(taskFs.exists(dest),
              s"Zarr sink: rename of $tmpKey to $dest failed with no committed chunk")
            taskFs.delete(tmpKey, false)
          }
        }
        writeChunk("water_temp", wtBuf)
        writeChunk("salinity", saBuf)
      }
      while (it.hasNext) {
        val r = it.next()
        val key = r.getString(6)
        if (key != curKey) {
          flush()
          curKey = key
          wtBuf = Array.fill(nCells)(fill)
          saBuf = Array.fill(nCells)(fill)
        }
        val inT = r.getInt(0) % ct
        val inD = r.getInt(1) % cd
        val inY = r.getInt(2) % cy
        val inX = r.getInt(3) % cx
        val cell = ((inT * cd + inD) * cy + inY) * cx + inX
        wtBuf(cell) = if (r.isNullAt(4)) fill else r.getDouble(4)
        saBuf(cell) = if (r.isNullAt(5)) fill else r.getDouble(5)
      }
      flush()
    }
    // the job succeeded — commit the store by writing its metadata
    if (formatV3)
      putObject(dfs, new org.apache.hadoop.fs.Path(root, "zarr.json"),
        """{"zarr_format": 3, "node_type": "group"}""".getBytes("UTF-8"))
    else
      putObject(dfs, new org.apache.hadoop.fs.Path(root, ".zgroup"),
        """{"zarr_format": 2}""".getBytes("UTF-8"))
    def coord(dir: String, vals: Array[Double]): Unit =
      if (formatV3) writeCoordArrayV3(dfs, dir, vals)
      else writeCoordArray(dfs, dir, vals)
    coord(s"$path/time", spec.times.map(_.toDouble).toArray)
    coord(s"$path/depth", spec.depths.toArray)
    coord(s"$path/lat",
      (0 until spec.nLat).map(spec.latMin + _ * spec.latStep).toArray)
    coord(s"$path/lon",
      (0 until spec.nLon).map(spec.lonMin + _ * spec.lonStep).toArray)
    Seq("water_temp", "salinity").foreach(v =>
      if (formatV3) writeDataArrayMetaV3(dfs, s"$path/$v", shape, chunks, fill)
      else writeDataArrayMeta(dfs, s"$path/$v", shape, chunks, fill))
  }

  /** The sink's distribution plan, exposed for plan-shape tests: rows
    * keyed by chunk-grid coordinates, hash-partitioned and sorted BY
    * CHUNK so each task streams whole chunks. time → index is a
    * literal map lookup (`element_at` on a `typedLit` map), not a
    * UDF — it stays inside codegen and the optimizer can see through
    * it (the 4-row time axis makes the literal trivially small).
    */
  private[graft] def chunkRows(grid: org.apache.spark.sql.DataFrame,
                               timeIdx: Map[Long, Int], ct: Int, cd: Int,
                               cy: Int, cx: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val tIdxCol = element_at(typedLit(timeIdx), col("time"))
    grid
      .select(tIdxCol.cast("int").as("__t"),
        col("depth_idx").cast("int").as("__d"),
        col("lat_idx").cast("int").as("__y"),
        col("lon_idx").cast("int").as("__x"),
        col("water_temp").cast("double").as("__wt"),
        col("salinity").cast("double").as("__sa"))
      .withColumn("__ck", concat_ws(".",
        (col("__t") / ct).cast("int"), (col("__d") / cd).cast("int"),
        (col("__y") / cy).cast("int"), (col("__x") / cx).cast("int")))
      .repartition(col("__ck"))
      .sortWithinPartitions(col("__ck"))
  }

  /** Serializable conf for executor-side chunk reads. */
  private[graft] def confBox(): ConfBox = new ConfBox(driverConf())

  /** Executor-side chunk GET: decoded cell buffer or null for a
    * missing chunk (= all-fill region).
    */
  private[graft] def chunkBytesOrNull(box: ConfBox, meta: ArrayMeta,
                                      origin: Seq[Long]): Array[Byte] = {
    val raw = getObjectOrNull(box.conf, s"${meta.dir}/${meta.chunkKey(origin)}")
    if (raw == null) null else decodeChunk(meta, raw)
  }

  /** True when `dir` looks like a Zarr v2 array or group root
    * (checked through the Hadoop `FileSystem`, same as the readers).
    */
  def isZarr(path: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(driverConf())
    fs.isDirectory(hp) &&
      (fs.exists(new org.apache.hadoop.fs.Path(hp, ".zarray")) ||
        fs.exists(new org.apache.hadoop.fs.Path(hp, ".zgroup")) ||
        fs.exists(new org.apache.hadoop.fs.Path(hp, "zarr.json"))) // v3
  }
}
