package graft.io

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Inflater
import graft.io.SyntheticGrid.GridSpec

/** netCDF-4 / HDF5 container support, JDK-only (VERDICT r4 item 4).
  *
  * The reference opens HYCOM with `netCDF4.Dataset`
  * (trackplot_hycom.py:144,176-184); modern archives serve
  * HDF5-backed netCDF-4, so alongside the NetCDF-3 classic reader
  * ([[Nc3]]) the engine reads the HDF5 File Format (public spec,
  * "HDF5 File Format Specification Version 3.0") — the subset a
  * netCDF-4 model grid actually uses:
  *
  *  - superblock v0–v3 (v0 is what libhdf5 writes by default);
  *  - v1 object headers (+ continuation blocks) and v2 `OHDR` headers;
  *  - old-style groups (symbol-table message → B-tree v1 + local
  *    heap + SNOD nodes) and new-style compact groups (link messages);
  *  - dataspace v1/v2, fixed-point and IEEE-float datatypes (any
  *    endianness), dataset layout v3 contiguous / chunked / compact;
  *  - B-tree v1 chunk index, deflate (gzip) + shuffle filters;
  *  - attribute messages v1–v3 — numeric and fixed-string values;
  *    attributes the subset can't decode (e.g. netCDF-4's vlen
  *    `DIMENSION_LIST` object references) are SKIPPED, not fatal,
  *    so real `nc4` files parse;
  *  - CF decoding identical to the Nc3 path: `scale_factor` /
  *    `add_offset` unpacking, `_FillValue` / `missing_value` → null.
  *
  * All HDF5 metadata is little-endian (the spec fixes this;
  * dataset DATA endianness comes from the datatype message).
  *
  * Scale shape: metadata (KBs) is parsed driver-side; bulk data is
  * read CHUNK-parallel by [[GridIngest.ingestNc4]] — the chunk list
  * (address, stored size, logical offset) fans out across the
  * cluster and each task seeks, inflates, and decodes only its own
  * chunks. That is the natural HDF5 distribution unit (one gzip
  * stream per chunk) — the `RandomAccessFile` generalizes to any
  * seekable stream (HDFS/S3 ranged GET) exactly as in [[Nc3]].
  */
object Nc4 {

  val Signature: Array[Byte] =
    Array(0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')

  val Undef: Long = -1L // 0xFFFF… "undefined address"

  def isHdf5(path: String): Boolean = {
    val in = new java.io.FileInputStream(path)
    try {
      val b = new Array[Byte](8)
      in.read(b) == 8 && java.util.Arrays.equals(b, Signature)
    } finally in.close()
  }

  // ------------------------------------------------------------ model

  /** Datatype subset: fixed-point or IEEE float, 1/2/4/8 bytes. */
  final case class Dtype(isFloat: Boolean, size: Int, littleEndian: Boolean,
                         signed: Boolean) extends Serializable {
    def read(bb: ByteBuffer, byteOff: Int): Double = {
      bb.order(if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
      if (isFloat) size match {
        case 4 => bb.getFloat(byteOff).toDouble
        case 8 => bb.getDouble(byteOff)
      } else size match {
        case 1 => val v = bb.get(byteOff).toLong; (if (signed) v else v & 0xFFL).toDouble
        case 2 => val v = bb.getShort(byteOff).toLong; (if (signed) v else v & 0xFFFFL).toDouble
        case 4 => val v = bb.getInt(byteOff).toLong; (if (signed) v else v & 0xFFFFFFFFL).toDouble
        case 8 => bb.getLong(byteOff).toDouble
      }
    }
  }

  sealed trait Layout extends Serializable
  final case class Contiguous(addr: Long, size: Long) extends Layout
  /** `chunkDims` excludes the trailing element-size pseudo-dim. */
  final case class Chunked(btreeAddr: Long, chunkDims: Seq[Int]) extends Layout
  final case class Compact(data: Array[Byte]) extends Layout

  /** filter id 1 = deflate, 2 = shuffle (public registry). */
  final case class Filter(id: Int, clientData: Seq[Int])

  final case class Att(name: String, num: Seq[Double], str: String)

  final case class Dataset(name: String, dims: Seq[Long], dtype: Dtype,
                           layout: Layout, filters: Seq[Filter],
                           atts: Seq[Att], fillMsg: Option[Double]) {
    def att(n: String): Option[Att] = atts.find(_.name == n)
    def numAtt(n: String): Option[Double] = att(n).flatMap(_.num.headOption)
    def cells: Long = dims.product
  }

  final case class Hdf5File(path: String, datasets: Map[String, Dataset]) {
    def dataset(name: String): Dataset =
      datasets.getOrElse(name, throw new IllegalArgumentException(
        s"$path: no dataset '$name' (have ${datasets.keys.toSeq.sorted.mkString(",")})"))
  }

  // --------------------------------------------------------- low-level IO

  /** Little-endian positioned reads over the file (metadata only —
    * bulk data goes through [[ChunkReader]] on executors).
    */
  private final class Meta(raf: RandomAccessFile) {
    def bytes(addr: Long, n: Int): ByteBuffer = {
      val b = new Array[Byte](n)
      raf.seek(addr)
      raf.readFully(b)
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    }
    def u8(addr: Long): Int = bytes(addr, 1).get(0) & 0xFF
    def length: Long = raf.length()
  }

  private def u16(bb: ByteBuffer, i: Int): Int = bb.getShort(i) & 0xFFFF
  private def u32(bb: ByteBuffer, i: Int): Long = bb.getInt(i) & 0xFFFFFFFFL

  // ------------------------------------------------------------ superblock

  private final case class Superblock(rootHeaderAddr: Long,
                                      rootBtreeAddr: Long, rootHeapAddr: Long)

  private def readSuperblock(m: Meta, path: String): Superblock = {
    val head = m.bytes(0, 16)
    val sig = new Array[Byte](8); head.get(sig)
    require(java.util.Arrays.equals(sig, Signature), s"$path: not an HDF5 file")
    val ver = head.get(8) & 0xFF
    ver match {
      case 0 | 1 =>
        val so = head.get(13) & 0xFF; val sl = head.get(14) & 0xFF
        require(so == 8 && sl == 8,
          s"$path: unsupported offset/length size $so/$sl (only 8 supported)")
        // v0: 24 fixed bytes then 4 addresses; v1 inserts 4 bytes
        // (indexed-storage k + reserved) before the addresses
        val addrBase = if (ver == 0) 24L else 28L
        val entryAddr = addrBase + 4 * 8
        // root group symbol table entry: nameOff(8) headerAddr(8)
        // cacheType(4) reserved(4) scratch(16 = btree addr + heap addr)
        val e = m.bytes(entryAddr, 40)
        Superblock(e.getLong(8), e.getLong(24), e.getLong(32))
      case 2 | 3 =>
        val so = head.get(9) & 0xFF; val sl = head.get(10) & 0xFF
        require(so == 8 && sl == 8,
          s"$path: unsupported offset/length size $so/$sl (only 8 supported)")
        // base(8) extension(8) EOF(8) rootHeader(8) from byte 12
        val b = m.bytes(12, 32)
        Superblock(b.getLong(24), Undef, Undef)
      case other =>
        throw new IllegalArgumentException(s"$path: unsupported superblock version $other")
    }
  }

  // --------------------------------------------------------- object header

  private final case class Msg(typ: Int, body: ByteBuffer)

  /** All messages of an object header (v1 or v2), continuation blocks
    * followed.
    */
  private def readMessages(m: Meta, addr: Long, path: String): Seq[Msg] = {
    val first4 = m.bytes(addr, 4)
    val sig = new Array[Byte](4); first4.get(sig)
    if (sig.sameElements("OHDR".getBytes)) readMessagesV2(m, addr, path)
    else readMessagesV1(m, addr, path)
  }

  private def readMessagesV1(m: Meta, addr: Long, path: String): Seq[Msg] = {
    val prefix = m.bytes(addr, 16)
    require((prefix.get(0) & 0xFF) == 1, s"$path: unsupported object header version ${prefix.get(0)}")
    val nMsgs = u16(prefix, 2)
    val hdrSize = u32(prefix, 8)
    val out = Vector.newBuilder[Msg]
    // queue of (addr, size) message blocks; continuations append
    var blocks = List((addr + 16, hdrSize))
    var read = 0
    while (blocks.nonEmpty && read < nMsgs) {
      val (bAddr, bSize) = blocks.head
      blocks = blocks.tail
      val bb = m.bytes(bAddr, bSize.toInt)
      var p = 0
      while (p + 8 <= bSize && read < nMsgs) {
        val typ = u16(bb, p)
        val size = u16(bb, p + 2) // includes padding to 8 in v1
        val body = bb.duplicate().order(ByteOrder.LITTLE_ENDIAN)
        body.position(p + 8).limit(math.min(p + 8 + size, bb.capacity()))
        val msg = Msg(typ, body.slice().order(ByteOrder.LITTLE_ENDIAN))
        if (typ == 0x0010) // continuation: offset(8) length(8)
          blocks = blocks :+ ((msg.body.getLong(0), msg.body.getLong(8) & 0xFFFFFFFFL))
        else out += msg
        read += 1
        p += 8 + size
      }
    }
    out.result()
  }

  private def readMessagesV2(m: Meta, addr: Long, path: String): Seq[Msg] = {
    val head = m.bytes(addr, 12)
    require((head.get(4) & 0xFF) == 2, s"$path: bad OHDR version")
    val flags = head.get(5) & 0xFF
    var p = addr + 6
    if ((flags & 0x20) != 0) p += 8  // access/mod/change/birth times
    if ((flags & 0x10) != 0) p += 4  // max compact / min dense
    val sizeBytes = 1 << (flags & 0x3)
    val chunk0 = sizeBytes match {
      case 1 => m.u8(p).toLong
      case 2 => u16(m.bytes(p, 2), 0).toLong
      case 4 => u32(m.bytes(p, 4), 0)
      case 8 => m.bytes(p, 8).getLong(0)
    }
    p += sizeBytes
    val creationOrder = (flags & 0x04) != 0
    val out = Vector.newBuilder[Msg]
    var blocks = List((p, chunk0))
    var first = true
    while (blocks.nonEmpty) {
      var (bAddr, bSize) = blocks.head
      blocks = blocks.tail
      if (!first) {
        // continuation BLOCK length covers its "OCHK" signature and
        // trailing checksum; chunk 0's size field covers neither
        // (message data only), so chunk 0 needs no adjustment
        bAddr += 4; bSize -= 8
      } else first = false
      val bb = m.bytes(bAddr, bSize.toInt)
      var q = 0
      val msgHdr = if (creationOrder) 6 else 4
      while (q + msgHdr <= bSize) {
        val typ = bb.get(q) & 0xFF
        val size = u16(bb, q + 1)
        val body = bb.duplicate().order(ByteOrder.LITTLE_ENDIAN)
        body.position(q + msgHdr).limit(math.min(q + msgHdr + size, bb.capacity()))
        val msg = Msg(typ, body.slice().order(ByteOrder.LITTLE_ENDIAN))
        if (typ == 0x0010)
          blocks = blocks :+ ((msg.body.getLong(0), msg.body.getLong(8)))
        else if (typ != 0 || size > 0) out += msg
        q += msgHdr + size
      }
    }
    out.result()
  }

  // ------------------------------------------------------ message decoders

  private def readDataspace(bb: ByteBuffer): Seq[Long] = {
    val ver = bb.get(0) & 0xFF
    val rank = bb.get(1) & 0xFF
    val base = ver match {
      case 1 => 8 // version(1) rank(1) flags(1) reserved(5)
      case 2 => 4 // version(1) rank(1) flags(1) type(1)
      case v => throw new IllegalArgumentException(s"unsupported dataspace version $v")
    }
    (0 until rank).map(i => bb.getLong(base + i * 8))
  }

  /** None for datatype classes outside the numeric/string subset —
    * callers skip (attribute) or fail (dataset) as appropriate.
    */
  private def readDtype(bb: ByteBuffer): Option[Either[Int, Dtype]] = {
    val clsVer = bb.get(0) & 0xFF
    val cls = clsVer & 0x0F
    val bits0 = bb.get(1) & 0xFF
    val size = u32(bb, 4).toInt
    cls match {
      case 0 => // fixed-point: bit0 order, bit3 signed
        Some(Right(Dtype(isFloat = false, size, (bits0 & 1) == 0, (bits0 & 8) != 0)))
      case 1 => // float (IEEE assumed for 4/8-byte)
        Some(Right(Dtype(isFloat = true, size, (bits0 & 1) == 0, signed = true)))
      case 3 => // fixed-length string; Left carries the byte size
        Some(Left(size))
      case _ => None
    }
  }

  private def readLayout(bb: ByteBuffer, m: Meta): Layout = {
    val ver = bb.get(0) & 0xFF
    require(ver == 3, s"unsupported data layout version $ver (only v3 supported)")
    (bb.get(1) & 0xFF) match {
      case 0 => // compact: size(2) data
        val n = u16(bb, 2)
        val d = new Array[Byte](n)
        val dup = bb.duplicate(); dup.position(4); dup.get(d)
        Compact(d)
      case 1 => Contiguous(bb.getLong(2), bb.getLong(10))
      case 2 =>
        val dimensionality = bb.get(2) & 0xFF // rank + 1
        val btree = bb.getLong(3)
        val dims = (0 until dimensionality - 1).map(i => u32(bb, 11 + i * 4).toInt)
        Chunked(btree, dims)
      case c => throw new IllegalArgumentException(s"unsupported layout class $c")
    }
  }

  private def readFilters(bb: ByteBuffer): Seq[Filter] = {
    val ver = bb.get(0) & 0xFF
    val n = bb.get(1) & 0xFF
    var p = if (ver == 1) 8 else 2
    (0 until n).map { _ =>
      val id = u16(bb, p)
      val nameLen = if (ver == 1 || id >= 256) { val l = u16(bb, p + 2); p += 2; l } else 0
      val flags = u16(bb, p + 2); val ncd = u16(bb, p + 4)
      p += 6
      val namePad = if (ver == 1) (nameLen + 7) / 8 * 8 else nameLen
      p += namePad
      val cd = (0 until ncd).map(i => bb.getInt(p + i * 4))
      p += ncd * 4
      if (ver == 1 && ncd % 2 == 1) p += 4
      val _ = flags
      Filter(id, cd)
    }
  }

  private def readFillValue(bb: ByteBuffer, dt: Option[Dtype]): Option[Double] = {
    val ver = bb.get(0) & 0xFF
    ver match {
      case 1 | 2 =>
        val defined = bb.get(3) & 0xFF
        if (defined == 0) None
        else {
          val size = u32(bb, 4).toInt
          dt.filter(_.size == size).map(d => d.read(bb, 8))
        }
      case 3 =>
        val flags = bb.get(1) & 0xFF
        if ((flags & 0x20) == 0) None // fill value not defined
        else {
          val size = u32(bb, 2).toInt
          dt.filter(_.size == size).map(d => d.read(bb, 6))
        }
      case _ => None
    }
  }

  /** Attribute v1–v3; None when the value datatype is outside the
    * numeric/fixed-string subset (vlen object-reference lists etc.).
    */
  private def readAttribute(bb: ByteBuffer): Option[Att] = {
    val ver = bb.get(0) & 0xFF
    require(ver >= 1 && ver <= 3, s"unsupported attribute version $ver")
    val nameSize = u16(bb, 2)
    val dtSize = u16(bb, 4)
    val dsSize = u16(bb, 6)
    val base = if (ver == 3) 9 else 8 // v3 adds a name-encoding byte
    def pad8(n: Int): Int = if (ver == 1) (n + 7) / 8 * 8 else n
    val nameEnd = {
      var e = base
      while (e < base + nameSize && bb.get(e) != 0) e += 1
      e
    }
    val name = {
      val b = new Array[Byte](nameEnd - base)
      val dup = bb.duplicate(); dup.position(base); dup.get(b)
      new String(b, "UTF-8")
    }
    val dtOff = base + pad8(nameSize)
    val dsOff = dtOff + pad8(dtSize)
    val dataOff = dsOff + pad8(dsSize)
    val dtBody = bb.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    dtBody.position(dtOff); val dtSlice = dtBody.slice().order(ByteOrder.LITTLE_ENDIAN)
    val dsBody = bb.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    dsBody.position(dsOff); val dsSlice = dsBody.slice().order(ByteOrder.LITTLE_ENDIAN)
    readDtype(dtSlice).flatMap {
      case Right(dt) =>
        val dims = readDataspace(dsSlice)
        val n = dims.product.toInt max 1
        if (dataOff + n * dt.size > bb.capacity()) None
        else Some(Att(name, (0 until n).map(i => dt.read(bb, dataOff + i * dt.size)), ""))
      case Left(strSize) =>
        if (dataOff + strSize > bb.capacity()) None
        else {
          val b = new Array[Byte](strSize)
          val dup = bb.duplicate(); dup.position(dataOff); dup.get(b)
          val end = b.indexOf(0) match { case -1 => strSize; case i => i }
          Some(Att(name, Nil, new String(b, 0, end, "UTF-8")))
        }
    }
  }

  // ----------------------------------------------------------- group walk

  /** (name → object header address) pairs of a group, both old-style
    * (symbol table) and new-style (link messages). Dense link storage
    * (fractal heap) is out of subset → controlled failure.
    */
  private def groupLinks(m: Meta, msgs: Seq[Msg], btreeAddr: Long,
                         heapAddr: Long, path: String): Seq[(String, Long)] = {
    val symTab = msgs.find(_.typ == 0x0011).map(b => (b.body.getLong(0), b.body.getLong(8)))
    val (bt, hp) = symTab.getOrElse((btreeAddr, heapAddr))
    if (bt != Undef && hp != Undef) readSymbolTable(m, bt, hp, path)
    else {
      msgs.find(_.typ == 0x0002).foreach { li =>
        // link info: version(1) flags(1) [maxCreationIndex(8)] fractalHeap(8)...
        val flags = li.body.get(1) & 0xFF
        val fh = li.body.getLong(if ((flags & 1) != 0) 10 else 2)
        require(fh == Undef, s"$path: dense group link storage not supported")
      }
      msgs.filter(_.typ == 0x0006).map { lm =>
        val bb = lm.body
        require((bb.get(0) & 0xFF) == 1, s"$path: unsupported link message version")
        val flags = bb.get(1) & 0xFF
        var p = 2
        val linkType = if ((flags & 0x08) != 0) { val t = bb.get(p) & 0xFF; p += 1; t } else 0
        if ((flags & 0x04) != 0) p += 8 // creation order
        if ((flags & 0x10) != 0) p += 1 // charset
        val lenBytes = 1 << (flags & 0x3)
        val nameLen = lenBytes match {
          case 1 => bb.get(p) & 0xFF
          case 2 => u16(bb, p)
          case 4 => u32(bb, p).toInt
          case 8 => bb.getLong(p).toInt
        }
        p += lenBytes
        val nb = new Array[Byte](nameLen)
        val dup = bb.duplicate(); dup.position(p); dup.get(nb)
        p += nameLen
        require(linkType == 0, s"$path: non-hard link not supported")
        (new String(nb, "UTF-8"), bb.getLong(p))
      }
    }
  }

  private def readSymbolTable(m: Meta, btreeAddr: Long, heapAddr: Long,
                              path: String): Seq[(String, Long)] = {
    val heapHead = m.bytes(heapAddr, 32)
    val hSig = new Array[Byte](4); heapHead.get(hSig)
    require(hSig.sameElements("HEAP".getBytes), s"$path: bad local heap signature")
    val heapDataAddr = heapHead.getLong(24)
    val heapDataSize = heapHead.getLong(8)
    val heapData = m.bytes(heapDataAddr, heapDataSize.toInt)
    def heapName(off: Long): String = {
      var e = off.toInt
      while (e < heapData.capacity() && heapData.get(e) != 0) e += 1
      val b = new Array[Byte](e - off.toInt)
      val dup = heapData.duplicate(); dup.position(off.toInt); dup.get(b)
      new String(b, "UTF-8")
    }
    // walk the group B-tree (v1, node type 0) down to SNOD leaves
    def walk(addr: Long): Seq[(String, Long)] = {
      val head = m.bytes(addr, 24)
      val sig = new Array[Byte](4); head.get(sig)
      if (sig.sameElements("SNOD".getBytes)) {
        val n = u16(head, 6)
        val entries = m.bytes(addr + 8, n * 40)
        (0 until n).map { i =>
          (heapName(entries.getLong(i * 40)), entries.getLong(i * 40 + 8))
        }
      } else {
        require(sig.sameElements("TREE".getBytes), s"$path: bad group B-tree signature")
        val nodeType = head.get(4) & 0xFF
        require(nodeType == 0, s"$path: unexpected B-tree node type $nodeType in group")
        val n = u16(head, 6)
        // entries: key0(8) child0(8) key1(8) … — children first
        val body = m.bytes(addr + 24, n * 16 + 8)
        (0 until n).flatMap(i => walk(body.getLong(8 + i * 16)))
      }
    }
    walk(btreeAddr)
  }

  // ---------------------------------------------------------- chunk index

  /** One stored chunk: logical offset (per dataset dim, elements),
    * file address, stored (possibly compressed) byte count.
    */
  final case class ChunkRef(offsets: Seq[Long], addr: Long, storedSize: Int,
                            filterMask: Int) extends Serializable

  private def readChunkBtree(m: Meta, addr: Long, rank: Int,
                             path: String): Seq[ChunkRef] = {
    if (addr == Undef) return Nil // no chunks written (all-fill dataset)
    val head = m.bytes(addr, 24)
    val sig = new Array[Byte](4); head.get(sig)
    require(sig.sameElements("TREE".getBytes), s"$path: bad chunk B-tree signature")
    require((head.get(4) & 0xFF) == 1, s"$path: unexpected node type in chunk B-tree")
    val level = head.get(5) & 0xFF
    val n = u16(head, 6)
    // key: size(4) mask(4) offsets((rank+1)×8); entry: key + child(8)
    val keyBytes = 8 + (rank + 1) * 8
    val body = m.bytes(addr + 24, n * (keyBytes + 8) + keyBytes)
    (0 until n).flatMap { i =>
      val kOff = i * (keyBytes + 8)
      val child = body.getLong(kOff + keyBytes)
      if (level > 0) readChunkBtree(m, child, rank, path)
      else {
        val size = u32(body, kOff).toInt
        val mask = body.getInt(kOff + 4)
        val offs = (0 until rank).map(d => body.getLong(kOff + 8 + d * 8))
        Seq(ChunkRef(offs, child, size, mask))
      }
    }
  }

  // ------------------------------------------------------------- assembly

  def readFile(path: String): Hdf5File = {
    require(isHdf5(path), s"$path: not an HDF5 file")
    val raf = new RandomAccessFile(path, "r")
    try {
      val m = new Meta(raf)
      val sb = readSuperblock(m, path)
      val rootMsgs = readMessages(m, sb.rootHeaderAddr, path)
      val links = groupLinks(m, rootMsgs, sb.rootBtreeAddr, sb.rootHeapAddr, path)
      val datasets = links.flatMap { case (name, hdrAddr) =>
        val msgs = readMessages(m, hdrAddr, path)
        val isGroup = msgs.exists(ms => ms.typ == 0x0011 || ms.typ == 0x0002 || ms.typ == 0x0006)
        if (isGroup) None // netCDF-4 subgroups not traversed (flat model files)
        else {
          val dims = msgs.find(_.typ == 0x0001).map(ms => readDataspace(ms.body))
            .getOrElse(Seq.empty)
          val dt = msgs.find(_.typ == 0x0003).flatMap(ms => readDtype(ms.body)) match {
            case Some(Right(d)) => d
            case _ => throw new IllegalArgumentException(
              s"$path: dataset '$name' has unsupported datatype (numeric subset only)")
          }
          val layout = msgs.find(_.typ == 0x0008).map(ms => readLayout(ms.body, m))
            .getOrElse(throw new IllegalArgumentException(s"$path: dataset '$name' has no layout"))
          val filters = msgs.find(_.typ == 0x000B).map(ms => readFilters(ms.body))
            .getOrElse(Nil)
          filters.foreach(f => require(f.id == 1 || f.id == 2,
            s"$path: dataset '$name' uses unsupported filter id ${f.id} (deflate/shuffle only)"))
          val atts = msgs.filter(_.typ == 0x000C).flatMap(ms => readAttribute(ms.body))
          val fill = msgs.find(_.typ == 0x0005)
            .flatMap(ms => readFillValue(ms.body, Some(dt)))
          Some(name -> Dataset(name, dims, dt, layout, filters, atts, fill))
        }
      }.toMap
      Hdf5File(path, datasets)
    } finally raf.close()
  }

  /** Chunk list of a chunked dataset (driver-side; one descriptor per
    * stored chunk — the fan-out unit for [[GridIngest.ingestNc4]]).
    */
  def chunkRefs(path: String, ds: Dataset): Seq[ChunkRef] = ds.layout match {
    case Chunked(bt, _) =>
      val raf = new RandomAccessFile(path, "r")
      try readChunkBtree(new Meta(raf), bt, ds.dims.size, path)
      finally raf.close()
    case other => throw new IllegalArgumentException(
      s"${ds.name}: chunkRefs on non-chunked layout $other")
  }

  // ------------------------------------------------------------- decoding

  /** The CF rule of [[GridIngest.Cf]]; the HDF5 fill-value message
    * stands in for an absent `_FillValue` attribute.
    */
  def cfOf(ds: Dataset): GridIngest.Cf = {
    val cf = GridIngest.Cf.of(ds.numAtt)
    if (cf.fill.isNaN) cf.copy(fill = ds.fillMsg.getOrElse(Double.NaN)) else cf
  }

  /** Inflate + unshuffle one stored chunk to its raw bytes.
    * Serializable — executors capture filters + element size only.
    */
  final case class ChunkReader(filters: Seq[Filter], elemSize: Int,
                               chunkCells: Int) extends Serializable {
    def rawBytes: Int = chunkCells * elemSize

    /** Reads and decodes stored chunk `c` of `raf`. */
    def read(raf: RandomAccessFile, c: ChunkRef): ByteBuffer = {
      val stored = new Array[Byte](c.storedSize)
      raf.seek(c.addr); raf.readFully(stored)
      ByteBuffer.wrap(decode(stored, c.storedSize, c.filterMask))
    }

    def decode(stored: Array[Byte], storedSize: Int, filterMask: Int): Array[Byte] = {
      var data = if (storedSize == stored.length) stored
                 else java.util.Arrays.copyOf(stored, storedSize)
      // filters apply in pipeline order on write; reverse on read.
      // mask bit i set = filter i was SKIPPED for this chunk.
      filters.zipWithIndex.reverse.foreach { case (f, i) =>
        if ((filterMask & (1 << i)) == 0) f.id match {
          case 1 => // deflate (zlib format)
            val inf = new Inflater()
            inf.setInput(data)
            val out = new Array[Byte](rawBytes)
            var off = 0
            var stalled = false
            while (!inf.finished() && off < out.length && !stalled) {
              val got = inf.inflate(out, off, out.length - off)
              if (got == 0) stalled = true // truncated/corrupt stream
              off += got
            }
            inf.end()
            require(off == rawBytes, s"chunk inflated to $off bytes, expected $rawBytes")
            data = out
          case 2 => // shuffle: byte-plane transpose
            val out = new Array[Byte](data.length)
            val n = data.length / elemSize
            var j = 0
            while (j < elemSize) {
              var k = 0
              while (k < n) { out(k * elemSize + j) = data(j * n + k); k += 1 }
              j += 1
            }
            data = out
        }
      }
      data
    }
  }

  def chunkReaderOf(ds: Dataset): ChunkReader = ds.layout match {
    case Chunked(_, cd) => ChunkReader(ds.filters, ds.dtype.size, cd.product)
    case _ => throw new IllegalArgumentException(s"${ds.name} is not chunked")
  }

  // --------------------------------------------------------- driver reads

  /** Full values of a small (axis) dataset, CF-unpacked, fills → NaN.
    * Driver-side — axes are KBs; bulk variables go chunk-parallel.
    */
  def readAll(path: String, ds: Dataset): Array[Double] = {
    val n = ds.cells.toInt
    val cf = cfOf(ds)
    def dec(bb: ByteBuffer, i: Int): Double = cf(ds.dtype.read(bb, i * ds.dtype.size))
    val out = Array.fill(n)(Double.NaN)
    ds.layout match {
      case Compact(data) =>
        val bb = ByteBuffer.wrap(data)
        (0 until n).foreach(i => out(i) = dec(bb, i))
      case Contiguous(addr, _) =>
        if (addr != Undef) { // undefined = never written, all fill
          val raf = new RandomAccessFile(path, "r")
          try {
            val b = new Array[Byte](n * ds.dtype.size)
            raf.seek(addr); raf.readFully(b)
            val bb = ByteBuffer.wrap(b)
            (0 until n).foreach(i => out(i) = dec(bb, i))
          } finally raf.close()
        }
      case Chunked(_, chunkDims) =>
        val cr = chunkReaderOf(ds)
        val strides = chunkDims.scanRight(1)(_ * _).tail
        val raf = new RandomAccessFile(path, "r")
        try chunkRefs(path, ds).foreach { ch =>
          val raw = cr.read(raf, ch)
          GridIngest.chunkCells(ds.dims, ch.offsets, chunkDims, strides)
            .foreach { case (flat, elem) => out(flat.toInt) = dec(raw, elem) }
        } finally raf.close()
    }
    out
  }

  /** Canonical [[GridSpec]] from a HYCOM-shaped netCDF-4 file — same
    * contract as [[Nc3.gridSpecOf]].
    */
  def gridSpecOf(f: Hdf5File,
                 timeVar: String = "time", depthVar: String = "depth",
                 latVar: String = "lat", lonVar: String = "lon"): GridSpec =
    SyntheticGrid.specFromAxes(
      readAll(f.path, f.dataset(timeVar)).map(math.round).toSeq,
      readAll(f.path, f.dataset(depthVar)).toSeq,
      readAll(f.path, f.dataset(latVar)),
      readAll(f.path, f.dataset(lonVar)))

  /** Two 4-D data variables of `path` as a [[GridIngest.Source]]: one
    * stored chunk per block when both are chunked alike (a chunk absent
    * from the index was never written: all fill), one (t, d) plane per
    * block when both are contiguous.
    */
  def gridSource(path: String, spec: GridSpec, temp: Dataset, sal: Dataset): GridIngest.Source = {
    val shapes = Seq(temp, sal).map(ds => ds.name -> ds.dims)
    (temp.layout, sal.layout) match {
      case (tl: Chunked, sl: Chunked) =>
        require(tl.chunkDims == sl.chunkDims,
          s"$path: ${temp.name} and ${sal.name} have different chunk shapes")
        val strides = tl.chunkDims.scanRight(1)(_ * _).tail
        val vars = Seq(temp, sal).map { ds =>
          (chunkReaderOf(ds), ds.dtype, cfOf(ds),
            chunkRefs(path, ds).map(c => c.offsets.map(_.toInt) -> c).toMap)
        }
        GridIngest.Source(spec, shapes, tl.chunkDims, () => new GridIngest.BlockReader {
          private val raf = new RandomAccessFile(path, "r")
          def read(b: GridIngest.Block, t: Array[Double], s: Array[Double]): Unit =
            vars.zip(Seq(t, s)).foreach { case ((rd, dtype, cf, chunks), out) =>
              chunks.get(Seq(b.t, b.d, b.y, b.x)) match {
                case None => java.util.Arrays.fill(out, 0, b.cells, Double.NaN)
                case Some(c) =>
                  val bb = rd.read(raf, c)
                  GridIngest.gather(b, strides, i => dtype.read(bb, i * dtype.size), cf, out)
              }
            }
          override def close(): Unit = raf.close()
        })
      case (Contiguous(tAddr, _), Contiguous(sAddr, _)) =>
        val Seq(tp, sp) = Seq(temp -> tAddr, sal -> sAddr).map { case (ds, addr) =>
          val dt = ds.dtype
          val planeBytes = spec.nLat.toLong * spec.nLon * dt.size
          GridIngest.Planes(addr, spec.depths.size * planeBytes, planeBytes,
            (bb, i) => dt.read(bb, i * dt.size), cfOf(ds))
        }
        GridIngest.Source(spec, shapes, Seq(1, 1, spec.nLat, spec.nLon),
          GridIngest.planeReader(path, tp, sp))
      case (tl, sl) => throw new IllegalArgumentException(
        s"$path: unsupported layout combination $tl / $sl")
    }
  }

  // --------------------------------------------------------------- writer

  /** Fixture/dev writer: dump a long-format grid DataFrame (the
    * [[SyntheticGrid]] shape) as an HDF5 file laid out exactly the way
    * libhdf5 writes a netCDF-4 model grid by default — superblock v0,
    * v1 object headers, old-style symbol-table root group, axis
    * datasets contiguous, data variables chunked one (t, d) plane per
    * chunk with optional deflate(+shuffle) filters and CF packing
    * attributes. Driver-side collect ([[GridIngest.denseOf]]), small
    * fixtures only — the symmetric analog of [[Nc3.write]].
    */
  def write(grid: org.apache.spark.sql.DataFrame, spec: GridSpec, path: String,
            packShort: Boolean = true, gzip: Boolean = true,
            shuffle: Boolean = false): Unit = {
    val nT = spec.times.size; val nD = spec.depths.size
    val nY = spec.nLat; val nX = spec.nLon
    val planeCells = nY * nX
    val (temp, sal) = GridIngest.denseOf(grid, spec)

    val (scale, addOff, fillRaw) =
      if (packShort) (0.001, 20.0, -30000.0) else (1.0, 0.0, -30000.0)
    val elemSize = if (packShort) 2 else 8

    val w = new Writer
    // ---- datatype message bodies (IEEE f64 LE / signed i16 LE)
    def dtF64: Array[Byte] = {
      val b = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
      b.put(0x11.toByte).put(0x20.toByte).put(0x3F.toByte).put(0.toByte)
      b.putInt(8)
      b.putShort(0).putShort(64)                     // bit offset / precision
      b.put(52.toByte).put(11.toByte)                // exp loc / size
      b.put(0.toByte).put(52.toByte)                 // mantissa loc / size
      b.putInt(1023)                                 // exponent bias
      b.array()
    }
    def dtI16: Array[Byte] = {
      val b = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
      b.put(0x10.toByte).put(0x08.toByte).put(0.toByte).put(0.toByte)
      b.putInt(2)
      b.putShort(0).putShort(16)
      b.array()
    }
    def dsSimple(dims: Seq[Long]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + dims.size * 8).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte).put(dims.size.toByte).put(0.toByte)
      b.put(new Array[Byte](5))
      dims.foreach(b.putLong)
      b.array()
    }
    val dsScalar: Array[Byte] = dsSimple(Nil)
    def attNum(name: String, dt: Array[Byte], value: Array[Byte]): Array[Byte] = {
      def p8(x: Int) = (x + 7) / 8 * 8
      val nb = name.getBytes("UTF-8") :+ 0.toByte
      val b = ByteBuffer.allocate(8 + p8(nb.length) + p8(dt.length) + p8(dsScalar.length) + value.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte).put(0.toByte)
      b.putShort(nb.length.toShort).putShort(dt.length.toShort).putShort(dsScalar.length.toShort)
      b.put(nb); b.position(8 + p8(nb.length))
      b.put(dt); b.position(8 + p8(nb.length) + p8(dt.length))
      b.put(dsScalar); b.position(8 + p8(nb.length) + p8(dt.length) + p8(dsScalar.length))
      b.put(value)
      b.array()
    }
    def f64Bytes(v: Double): Array[Byte] =
      ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(v).array()
    def i16Bytes(v: Int): Array[Byte] =
      ByteBuffer.allocate(2).order(ByteOrder.LITTLE_ENDIAN).putShort(v.toShort).array()
    def attStr(name: String, s: String): Array[Byte] = {
      val sb = s.getBytes("UTF-8") :+ 0.toByte
      val dt = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        .put(0x13.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
        .putInt(sb.length).array()
      attNum(name, dt, sb)
    }

    // ---- superblock v0 (96 bytes)
    w.bytes(Signature)
    w.u8(0); w.u8(0); w.u8(0); w.u8(0)              // sb/freespace/root versions + res
    w.u8(0); w.u8(8); w.u8(8); w.u8(0)              // shared ver, offsets, lengths, res
    w.u16(4); w.u16(4)                              // group leaf K / internal K
    w.u32(0)                                        // consistency flags
    w.u64(0)                                        // base address
    w.u64(Undef)                                    // free space
    val eofPatch = w.pos; w.u64(0)                  // EOF (patched)
    w.u64(Undef)                                    // driver info
    // root symbol table entry
    w.u64(0)                                        // link name offset
    w.u64(96)                                       // root object header address
    w.u32(1); w.u32(0)                              // cached group
    val sbBtreePatch = w.pos; w.u64(0)              // scratch: btree addr
    val sbHeapPatch = w.pos; w.u64(0)               // scratch: heap addr

    // ---- root object header (one symbol table message)
    require(w.pos == 96)
    val symBody = new Array[Byte](16)
    w.objectHeader(Seq((0x0011, symBody)))
    val symPatch = w.pos - 16 // btree(8) + heap(8) at the tail of the header

    // ---- local heap
    val names = Seq("time", "depth", "lat", "lon", "water_temp", "salinity").sorted
    val nameOffs = scala.collection.mutable.Map[String, Long]()
    val heapData = {
      val b = new java.io.ByteArrayOutputStream
      b.write(new Array[Byte](8)) // offset 0: the null name
      names.foreach { nm =>
        nameOffs(nm) = b.size().toLong
        b.write(nm.getBytes("UTF-8")); b.write(0)
        while (b.size() % 8 != 0) b.write(0)
      }
      b.toByteArray
    }
    val heapAddr = w.pos
    w.bytes("HEAP".getBytes); w.u8(0); w.u8(0); w.u8(0); w.u8(0)
    w.u64(heapData.length)
    w.u64(Undef)                                    // no free block
    w.u64(w.pos + 8)                                // data directly follows
    w.bytes(heapData)

    // ---- group B-tree (one leaf entry → the SNOD) — full K=4 node
    val btreeAddr = w.pos
    w.bytes("TREE".getBytes); w.u8(0); w.u8(0); w.u16(1)
    w.u64(Undef); w.u64(Undef)
    w.u64(0)                                        // key0: null name
    val snodPatch = w.pos; w.u64(0)                 // child0: SNOD (patched)
    w.u64(nameOffs(names.last))                     // key1: greatest name
    while (w.pos < btreeAddr + 24 + 8 * 16 + 8) w.u8(0)

    // ---- SNOD with the six entries (sorted by name)
    val snodAddr = w.pos
    w.setPatch(snodPatch, snodAddr)
    w.setPatch(sbBtreePatch, btreeAddr)
    w.setPatch(sbHeapPatch, heapAddr)
    w.setPatch(symPatch, btreeAddr)
    w.setPatch(symPatch + 8, heapAddr)
    w.bytes("SNOD".getBytes); w.u8(1); w.u8(0); w.u16(names.size)
    val hdrPatches = names.map { nm =>
      w.u64(nameOffs(nm))
      val p = w.pos; w.u64(0)                       // object header addr (patched)
      w.u32(0); w.u32(0); w.bytes(new Array[Byte](16))
      nm -> p
    }.toMap

    // ---- dataset object headers
    val axisVals = Map(
      "time" -> spec.times.map(_.toDouble).toArray,
      "depth" -> spec.depths.toArray,
      "lat" -> (0 until nY).map(y => spec.latMin + y * spec.latStep).toArray,
      "lon" -> (0 until nX).map(x => spec.lonMin + x * spec.lonStep).toArray)
    val axisUnits = Map(
      "time" -> "hours since 2000-01-01 00:00:00",
      "depth" -> "m", "lat" -> "degrees_north", "lon" -> "degrees_east")
    // contiguous layout body: ver, class, addr(8), size(8)
    def layoutContiguous(size: Long): Array[Byte] = {
      val b = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
      b.put(3.toByte).put(1.toByte).putLong(0L).putLong(size)
      b.array()
    }
    val axisDataPatch = scala.collection.mutable.Map[String, Long]()
    axisVals.foreach { case (nm, vals) =>
      w.setPatch(hdrPatches(nm), w.pos)
      val msgs = Seq(
        (0x0001, dsSimple(Seq(vals.length.toLong))),
        (0x0003, dtF64),
        (0x0008, layoutContiguous(vals.length * 8L)),
        (0x000C, attStr("units", axisUnits(nm))))
      w.objectHeader(msgs)
      axisDataPatch(nm) = w.lastBodyPos(0x0008) + 2 // addr field within layout body
    }
    // chunked layout body: ver, class, dimensionality, btree(8), dims u32×5
    def layoutChunked(): Array[Byte] = {
      val b = ByteBuffer.allocate(2 + 1 + 8 + 5 * 4).order(ByteOrder.LITTLE_ENDIAN)
      b.put(3.toByte).put(2.toByte).put(5.toByte).putLong(0L)
      b.putInt(1).putInt(1).putInt(nY).putInt(nX).putInt(elemSize)
      b.array()
    }
    def filterMsg(): Array[Byte] = {
      val fs = (if (shuffle) Seq((2, elemSize)) else Nil) ++ (if (gzip) Seq((1, 6)) else Nil)
      val b = ByteBuffer.allocate(8 + fs.size * 16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte).put(fs.size.toByte); b.putShort(0); b.putInt(0)
      fs.foreach { case (id, cd) =>
        b.putShort(id.toShort).putShort(0).putShort(0).putShort(1)
        b.putInt(cd).putInt(0)                      // 1 value + odd-count pad
      }
      b.array()
    }
    val dataVarPatch = scala.collection.mutable.Map[String, Long]()
    Seq("water_temp", "salinity").foreach { nm =>
      w.setPatch(hdrPatches(nm), w.pos)
      val dt = if (packShort) dtI16 else dtF64
      val cfAtts =
        if (packShort) Seq(
          (0x000C, attNum("_FillValue", dtI16, i16Bytes(fillRaw.toInt))),
          (0x000C, attNum("scale_factor", dtF64, f64Bytes(scale))),
          (0x000C, attNum("add_offset", dtF64, f64Bytes(addOff))),
          (0x000C, attStr("units", "degC-or-psu")))
        else Seq((0x000C, attNum("_FillValue", dtF64, f64Bytes(fillRaw))))
      val msgs = Seq(
        (0x0001, dsSimple(Seq(nT.toLong, nD.toLong, nY.toLong, nX.toLong))),
        (0x0003, dt),
        (0x0008, layoutChunked())) ++
        (if (gzip || shuffle) Seq((0x000B, filterMsg())) else Nil) ++ cfAtts
      w.objectHeader(msgs)
      dataVarPatch(nm) = w.lastBodyPos(0x0008) + 3 // btree addr within body
    }

    // ---- axis data (contiguous, LE doubles)
    axisVals.foreach { case (nm, vals) =>
      w.setPatch(axisDataPatch(nm), w.pos)
      vals.foreach(v => w.bytes(f64Bytes(v)))
    }

    // ---- data variable chunks + chunk B-tree (one (t,d) plane per chunk)
    def packPlane(src: Array[Double], t: Int, d: Int): Array[Byte] = {
      val raw = ByteBuffer.allocate(planeCells * elemSize).order(ByteOrder.LITTLE_ENDIAN)
      var c = 0
      while (c < planeCells) {
        val v = src((t * nD + d) * planeCells + c)
        if (packShort)
          raw.putShort(if (v.isNaN) fillRaw.toInt.toShort
                       else math.round((v - addOff) / scale).toShort)
        else raw.putDouble(if (v.isNaN) fillRaw else v)
        c += 1
      }
      var data = raw.array()
      if (shuffle) {
        val out = new Array[Byte](data.length)
        val cells = data.length / elemSize
        var j = 0
        while (j < elemSize) {
          var k = 0
          while (k < cells) { out(j * cells + k) = data(k * elemSize + j); k += 1 }
          j += 1
        }
        data = out
      }
      if (gzip) {
        val defl = new java.util.zip.Deflater(6)
        defl.setInput(data); defl.finish()
        val buf = new Array[Byte](data.length + 64)
        val m = defl.deflate(buf)
        defl.end()
        java.util.Arrays.copyOf(buf, m)
      } else data
    }
    Seq("water_temp" -> temp, "salinity" -> sal).foreach { case (nm, src) =>
      val chunks = for (t <- 0 until nT; d <- 0 until nD) yield {
        val data = packPlane(src, t, d)
        val addr = w.pos
        w.bytes(data)
        (Seq(t.toLong, d.toLong, 0L, 0L), addr, data.length)
      }
      w.setPatch(dataVarPatch(nm), w.pos)             // chunk B-tree root
      w.bytes("TREE".getBytes); w.u8(1); w.u8(0); w.u16(chunks.size)
      w.u64(Undef); w.u64(Undef)
      chunks.foreach { case (offs, addr, size) =>
        w.u32(size); w.u32(0)
        offs.foreach(w.u64); w.u64(0)                 // + element-size dim
        w.u64(addr)
      }
      w.u32(0); w.u32(0)                              // final key: dataset bounds
      Seq(nT.toLong, nD.toLong, nY.toLong, nX.toLong).foreach(w.u64)
      w.u64(elemSize)
    }

    w.setPatch(eofPatch, w.pos)
    val fos = new java.io.FileOutputStream(path)
    try fos.write(w.result)
    finally fos.close()
  }

  /** Little-endian append-only buffer with position patching — just
    * enough for the fixture writer's forward references.
    */
  private final class Writer {
    private var arr = new Array[Byte](1 << 16)
    var pos: Long = 0
    private val bodyPos = scala.collection.mutable.Map[Int, Long]()
    private def ensure(n: Int): Unit =
      while (pos + n > arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
    def u8(v: Int): Unit = { ensure(1); arr(pos.toInt) = v.toByte; pos += 1 }
    def u16(v: Int): Unit = { u8(v & 0xFF); u8((v >> 8) & 0xFF) }
    def u32(v: Long): Unit = { u16((v & 0xFFFF).toInt); u16(((v >> 16) & 0xFFFF).toInt) }
    def u64(v: Long): Unit = { u32(v & 0xFFFFFFFFL); u32((v >>> 32) & 0xFFFFFFFFL) }
    def bytes(b: Array[Byte]): Unit = { ensure(b.length); System.arraycopy(b, 0, arr, pos.toInt, b.length); pos += b.length }
    def setPatch(at: Long, v: Long): Unit = {
      val bb = ByteBuffer.wrap(arr, at.toInt, 8).order(ByteOrder.LITTLE_ENDIAN)
      bb.putLong(v)
    }
    /** v1 object header: 16-byte prefix + messages 8-padded. Records
      * each message's body start for address patching.
      */
    def objectHeader(msgs: Seq[(Int, Array[Byte])]): Unit = {
      def p8(x: Int) = (x + 7) / 8 * 8
      val total = msgs.map { case (_, b) => 8 + p8(b.length) }.sum
      u8(1); u8(0); u16(msgs.size); u32(1); u32(total); u32(0)
      msgs.foreach { case (t, b) =>
        u16(t); u16(p8(b.length)); u8(0); u8(0); u8(0); u8(0)
        bodyPos(t) = pos
        bytes(b)
        (b.length until p8(b.length)).foreach(_ => u8(0))
      }
    }
    /** Body start position of the LAST message of `typ` written. */
    def lastBodyPos(typ: Int): Long = bodyPos(typ)
    def result: Array[Byte] = java.util.Arrays.copyOf(arr, pos.toInt)
  }
}
