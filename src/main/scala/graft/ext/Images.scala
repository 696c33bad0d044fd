package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Image RESIZE and perceptual near-duplicate detection — the last
  * multimodal verbs of the brief (decode ✓, feature-extract ✓,
  * frame-sample ✓, resize: here), built on the JDK-only decoders and
  * wired into the dedup family.
  *
  *  - [[resizeGray]] is an exact fractional box filter (area-weighted
  *    averaging), the standard anti-aliased downsample — pure math
  *    over the decoded luminance plane, no codec, no UDF.
  *  - [[dhash64OrNull]] is the classic difference hash: resize to
  *    9×8, emit one bit per horizontally-adjacent pair. Neighboring
  *    bits survive re-encoding, rescaling, and mild noise — so
  *    near-duplicate IMAGES become a 64-bit Hamming problem, the
  *    exact shape [[Dedup.simhash64]]/`hamming64` already solve for
  *    text.
  *  - [[nearDupImagePairs]] scales the pairing the engine's standard
  *    way (bucket-candidate-verify, no all-pairs): band the 64-bit
  *    hash into `bands` 16-bit keys and equi-join on band equality —
  *    by pigeonhole, two hashes within Hamming distance
  *    < `bands` of each other MUST share at least one intact band,
  *    so the candidate join is exact for `maxHamming < bands`.
  *    Banding runs over DISTINCT hashes (identical images collapse
  *    before any pairing); candidates verify with one codegen
  *    `bit_count(xor)`.
  */
object Images {

  /** Decoded luminance plane (row-major [0,255] doubles, w, h) for a
    * PNG, baseline-JPEG, uncompressed-BMP, uncompressed-baseline-TIFF,
    * or GIF (first frame) payload, routed by content magic; null
    * otherwise.
    */
  def grayPlaneOrNull(bytes: Array[Byte]): (Array[Double], Int, Int) = {
    if (bytes == null || bytes.length < 24) return null
    if ((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P') {
      Png.decodeGray(bytes) match {
        case Some(g) =>
          val w = Png.beInt(bytes, 16) // IHDR is the first chunk
          val h = Png.beInt(bytes, 20)
          if (w > 0 && h > 0 && g.length == w * h) (g, w, h) else null
        case None => null
      }
    } else if ((bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8) {
      val lp = Jpeg.decodeLuma(bytes)
      if (lp == null) return null
      val g = new Array[Double](lp.w * lp.h)
      var y = 0
      while (y < lp.h) {
        System.arraycopy(lp.plane, y * lp.planeW, g, y * lp.w, lp.w)
        y += 1
      }
      // EXIF orientation normalization (round 13): cameras store the
      // sensor plane + a rotation tag; dHash is not rotation-
      // invariant, so fingerprints must hash the DISPLAYED image
      orientGray(g, lp.w, lp.h, Jpeg.exifOrientation(bytes))
    } else if (bytes(0) == 'B' && bytes(1) == 'M') {
      Bmp.decodeGrayOrNull(bytes) // uncompressed DIB (round 8)
    } else if ((bytes(0) == 'I' && bytes(1) == 'I') ||
        (bytes(0) == 'M' && bytes(1) == 'M')) {
      Tiff.decodeGrayOrNull(bytes) // uncompressed baseline TIFF (round 8)
    } else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') {
      Gif.firstFrameGrayOrNull(bytes) // GIF stills / animation posters (round 8)
    } else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'E' &&
        bytes(10) == 'B' && bytes(11) == 'P') {
      // WebP: lossless (VP8L, round 12) or lossy (VP8 keyframe,
      // round 14) — the two chunk kinds route to their own decoders
      val lossless = WebpVp8l.decodeGrayOrNull(bytes)
      if (lossless != null) lossless
      else Vp8.grayOrNull(Vp8.decodeWebpOrNull(bytes))
    } else if (bytes.length > 12 && bytes(4) == 'f' && bytes(5) == 't' &&
        bytes(6) == 'y' && bytes(7) == 'p' && bytes(8) == 'a' &&
        bytes(9) == 'v' && bytes(10) == 'i' && bytes(11) == 'f') {
      // AVIF still (round 15): primary-item OBUs -> AV1 keyframe
      // decode (CodedLossless scope, Av1Decode's documented boundary)
      val payload = Av1Enc.avifPayloadOrNull(bytes)
      if (payload == null) null else Av1Decode.grayOrNull(payload)
    } else null
  }

  /** Apply an EXIF orientation (1..8) to a row-major gray plane —
    * the standard eight transforms (identity, mirrors, 90/180/270
    * rotations, transpose/transverse); 0 and 1 are identity.
    * Returns (plane, w, h) with dims swapped for the 90°-family.
    */
  def orientGray(g: Array[Double], w: Int, h: Int,
                 orientation: Int): (Array[Double], Int, Int) = {
    if (orientation <= 1) return (g, w, h)
    val swap = orientation >= 5
    val (tw, th) = if (swap) (h, w) else (w, h)
    val out = new Array[Double](w * h)
    var y = 0
    while (y < th) {
      var x = 0
      while (x < tw) {
        // source pixel of destination (x, y)
        val (sx, sy) = orientation match {
          case 2 => (w - 1 - x, y)          // mirror horizontal
          case 3 => (w - 1 - x, h - 1 - y)  // rotate 180
          case 4 => (x, h - 1 - y)          // mirror vertical
          case 5 => (y, x)                  // transpose
          case 6 => (y, h - 1 - x)          // rotate 90 CW
          case 7 => (w - 1 - y, h - 1 - x)  // transverse
          case _ => (w - 1 - y, x)          // 8: rotate 270 CW
        }
        out(y * tw + x) = g(sy * w + sx)
        x += 1
      }
      y += 1
    }
    (out, tw, th)
  }

  /** Exact fractional box-filter resize of a row-major gray plane:
    * target pixel (tx, ty) averages the source rectangle
    * [tx·w/tw, (tx+1)·w/tw) × [ty·h/th, (ty+1)·h/th) with partial
    * source pixels weighted by their overlap area. Anti-aliased for
    * downsampling; degenerates to nearest-box replication upsampling.
    */
  def resizeGray(g: Array[Double], w: Int, h: Int, tw: Int, th: Int): Array[Double] = {
    require(w > 0 && h > 0 && tw > 0 && th > 0 && g.length == w * h)
    val out = new Array[Double](tw * th)
    val sx = w.toDouble / tw
    val sy = h.toDouble / th
    var ty = 0
    while (ty < th) {
      val y0 = ty * sy; val y1 = (ty + 1) * sy
      val iy0 = y0.toInt; val iy1 = math.min(h - 1, (math.ceil(y1) - 1).toInt)
      var tx = 0
      while (tx < tw) {
        val x0 = tx * sx; val x1 = (tx + 1) * sx
        val ix0 = x0.toInt; val ix1 = math.min(w - 1, (math.ceil(x1) - 1).toInt)
        var acc = 0.0; var area = 0.0
        var yy = iy0
        while (yy <= iy1) {
          val wy = math.min(y1, yy + 1.0) - math.max(y0, yy.toDouble)
          var xx = ix0
          while (xx <= ix1) {
            val wx = math.min(x1, xx + 1.0) - math.max(x0, xx.toDouble)
            acc += g(yy * w + xx) * wx * wy
            area += wx * wy
            xx += 1
          }
          yy += 1
        }
        out(ty * tw + tx) = acc / area
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** Decoded-and-resized luminance thumbnail (tw×th row-major), or
    * null for undecodable payloads — the RESIZE operator surface.
    */
  def thumbnailOrNull(bytes: Array[Byte], tw: Int, th: Int): Array[Double] = {
    val p = grayPlaneOrNull(bytes)
    if (p == null) null else resizeGray(p._1, p._2, p._3, tw, th)
  }

  /** 64-bit difference hash: 9×8 thumbnail, bit (y·8+x) set iff
    * pixel (x, y) > pixel (x+1, y) (strict — ties are 0, so the hash
    * is deterministic). Null for undecodable payloads.
    */
  def dhash64OrNull(bytes: Array[Byte]): java.lang.Long = {
    val t = thumbnailOrNull(bytes, 9, 8)
    if (t == null) return null
    java.lang.Long.valueOf(dhashOfThumb(t))
  }

  /** The dHash bit rule over an already-built 9×8 thumbnail — ONE
    * definition shared by the image and video (keyframe) indexes, so
    * their hashes stay comparable by construction.
    */
  def dhashOfThumb(t: Array[Double]): Long = {
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (t(y * 9 + x) > t(y * 9 + x + 1)) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** `dhash` column (nullable long) via the native
    * [[graft.fn.Kernels.ImageDhash64]] codegen expression.
    */
  def withDhash(assets: DataFrame, contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    assets.withColumn("dhash",
      gb.column(graft.fn.Kernels.ImageDhash64(gb.expression(col(contentCol)))))
  }

  /** Perceptual near-duplicate image pairs:
    * `(a_id, b_id, hamming)` for every pair within `maxHamming`
    * (exact for `maxHamming < bands` by the pigeonhole band join;
    * identical-hash pairs — exact perceptual duplicates — are found
    * by a direct equi-join and carry hamming 0). Output is
    * candidate-bounded: banding runs on DISTINCT hashes, and no
    * stage materializes an all-pairs product.
    */
  def nearDupImagePairs(assets: DataFrame, idCol: String,
                        maxHamming: Int = 3, bands: Int = 4,
                        contentCol: String = "content"): DataFrame =
    nearDupPairsFromHashes(
      withDhash(assets, contentCol)
        .where(col("dhash").isNotNull)
        .select(col(idCol).as("id"), col("dhash")),
      maxHamming, bands)

  /** The pair stage alone, over a precomputed `(id, dhash)` table —
    * pure relational algebra on 64-bit hashes (band-bucket candidates
    * + bit_count verify), so it is REPLAYABLE IN SQL by an oracle
    * engine that cannot decode images: persist the hash table, run
    * this and the SQL twin on the same parquet (q84p does exactly
    * that). Split out of [[nearDupImagePairs]], which prepends the
    * decode.
    */
  def nearDupPairsFromHashes(hashed: DataFrame, maxHamming: Int = 3,
                             bands: Int = 4): DataFrame = {
    require(bands >= 1 && 16 * bands == 64, s"bands must split 64 bits; got $bands")
    require(maxHamming >= 0 && maxHamming < bands,
      s"pigeonhole exactness needs maxHamming < bands, got $maxHamming/$bands")

    // exact perceptual duplicates: same 64-bit hash
    val eq = hashed.as("x").join(hashed.as("y"),
        col("x.dhash") === col("y.dhash") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        lit(0).cast("int").as("hamming"))

    // near (but not equal) hashes: band-bucketed candidates + verify
    val uniq = hashed.select("dhash").distinct()
    val banded = uniq.select(col("dhash"), posexplode(array(
      (0 until bands).map(i =>
        shiftrightunsigned(col("dhash"), 16 * i).bitwiseAND(lit(0xffffL))): _*)))
      .toDF("dhash", "band_idx", "band_val")
    val near = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.dhash") < col("b.dhash"))
      .select(col("a.dhash").as("ha"), col("b.dhash").as("hb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .where(col("hamming") <= maxHamming)
    val neq = near
      .join(hashed.as("x"), col("ha") === col("x.dhash"))
      .join(hashed.as("y"), col("hb") === col("y.dhash"))
      .select(least(col("x.id"), col("y.id")).as("a_id"),
        greatest(col("x.id"), col("y.id")).as("b_id"), col("hamming"))

    eq.unionByName(neq)
  }
}
