package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: images/audio/video as opaque `binary` payloads
  * with TYPED metadata, processed relationally (the brief's multimodal
  * surface). The design rule: metadata extraction and routing stay in
  * Catalyst (codegen'd binary `substring`/`hex`/`conv` — no UDF, no
  * library), and decode runs JDK-only where the format allows it —
  * PNG pixels ([[Png]], inflate + unfilter), WAV PCM samples
  * ([[Wav]], chunk walk), and animated-PNG FRAMES ([[Apng]], per-frame
  * inflate + unfilter + canvas compositing — real video-frame
  * sampling) are REAL decodes behind native codegen expressions.
  * H.264-in-MP4 decodes for real too ([[H264]]: CAVLC I/P/B with
  * multi-reference, weighted and temporal/spatial-direct prediction,
  * CABAC I keyframes, classic and fragmented containers); only
  * streams outside that subset (CABAC P/B slices, MMCO, explicit
  * reference-list modification, poc_type ≠ 0) fall back to one
  * clearly-marked deterministic stub with the real distributed
  * plumbing (schema, batching, partition shape) in place.
  *
  * Scale notes:
  *  - `binaryFile` scans parallelize per file; payload bytes never
  *    shuffle unless explicitly repartitioned — all metadata ops are
  *    narrow.
  *  - Feature vectors (fixed-size arrays) are the only wide output;
  *    they are orders of magnitude smaller than payloads, so derive
  *    them EARLY and drop `content` before any join/shuffle.
  *  - Archive extraction (zip is not splittable) is per-file
  *    imperative logic, same pattern as TrackIngest.
  */
object Multimodal {

  /** Asset table from an archive (KMZ/zip): one row per matching
    * entry — (archive, entry, kind, content). Distributed per archive
    * file; entries stream without temp files.
    */
  def readZipAssets(spark: SparkSession, path: String,
                    extensions: Seq[String] = Seq("png", "jpg", "wav", "mp4")): DataFrame = {
    import spark.implicits._
    val exts = extensions.map(e => "." + e.toLowerCase)
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val zin = new java.util.zip.ZipInputStream(
          new java.io.ByteArrayInputStream(bytes))
        Iterator.continually(zin.getNextEntry)
          .takeWhile(_ != null)
          .filter(e => exts.exists(e.getName.toLowerCase.endsWith))
          .map { e =>
            val ext = e.getName.reverse.takeWhile(_ != '.').reverse.toLowerCase
            (p, e.getName, ext, zin.readAllBytes())
          }
          .toSeq
      }
      .toDF("archive", "entry", "kind", "content")
  }

  /** Big-endian uint32 at 1-based byte offset `pos` of a binary
    * column — pure built-ins (binary substring → hex → conv), codegen.
    */
  def beUint32(bin: Column, pos: Int): Column =
    conv(hex(substring(bin, pos, 4)), 16, 10).cast("long")

  private val PngMagic = "89504E470D0A1A0A"

  /** Typed PNG metadata from the payload header — REAL decode of the
    * IHDR chunk (width/height/bit depth/color type), no libraries, no
    * UDF: the expressions run inside whole-stage codegen. Non-PNG rows
    * get a null struct.
    */
  def withPngMeta(assets: DataFrame, contentCol: String = "content"): DataFrame = {
    val c = col(contentCol)
    val isPng = upper(hex(substring(c, 1, 8))) === PngMagic
    assets.withColumn("meta",
      when(isPng, struct(
        beUint32(c, 17).as("width"),
        beUint32(c, 21).as("height"),
        conv(hex(substring(c, 25, 1)), 16, 10).cast("int").as("bit_depth"),
        conv(hex(substring(c, 26, 1)), 16, 10).cast("int").as("color_type"),
        length(c).as("n_bytes"))))
  }

  /** REAL image features: PNG payloads are pixel-decoded JDK-only
    * (inflate IDAT → unfilter → Rec.601 luminance; [[Png]]) and
    * summarized as [mean, std, nBins-histogram] — via the
    * [[graft.fn.Kernels.PngGrayFeatures]] native expression, inside
    * whole-stage codegen, no UDF. Rows whose payload is not a
    * decodable PNG get null features (callers route them to
    * [[withFeatureStub]] or a future codec).
    */
  def withPngFeatures(assets: DataFrame, nBins: Int = 16,
                      contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    assets.withColumn("features",
      gb.column(graft.fn.Kernels.PngGrayFeatures(gb.expression(col(contentCol)), nBins)))
  }

  /** REAL audio features: RIFF PCM payloads are sample-decoded
    * JDK-only (chunk walk → channel-averaged samples; [[Wav]]) into
    * [channels, sample_rate, bits, n_frames, rms, mean, peak,
    * zero_cross_rate] — via the [[graft.fn.Kernels.WavPcmFeatures]] native
    * expression, inside whole-stage codegen, no UDF. Non-WAV rows get
    * null features.
    */
  def withWavFeatures(assets: DataFrame,
                      contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    assets.withColumn("features",
      gb.column(graft.fn.Kernels.WavPcmFeatures(gb.expression(col(contentCol)))))
  }

  /** Typed WAV metadata (sample format + duration), derived from the
    * same single decode as [[withWavFeatures]]: Catalyst prunes the
    * struct fields it doesn't need, and non-WAV rows get a null
    * struct.
    */
  def withWavMeta(assets: DataFrame, contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val f = gb.column(graft.fn.Kernels.WavPcmFeatures(gb.expression(col(contentCol))))
    assets.withColumn("meta",
      when(f.isNotNull, struct(
        element_at(f, 1).cast("int").as("channels"),
        element_at(f, 2).cast("long").as("sample_rate"),
        element_at(f, 3).cast("int").as("bits_per_sample"),
        element_at(f, 4).cast("long").as("n_frames"),
        (element_at(f, 4) / element_at(f, 2)).as("duration_sec"),
        length(col(contentCol)).as("n_bytes"))))
  }

  /** Typed MP4/QuickTime metadata: major brand (ftyp leading box, the
    * overwhelmingly common layout, via codegen substring) + the
    * [[graft.fn.Kernels.Mp4Meta]] box walk (timescale, duration, track
    * count). MJPEG tracks additionally decode REAL frames
    * ([[withMjpegFrames]]); H.264 tracks decode their KEYFRAMES
    * ([[H264]], [[withKeyframeDhash]], CAVLC and CABAC I) AND their
    * full I/P/B GOPs ([[withGopFrames]]: quarter-pel motion
    * compensation over a multi-picture DPB, P_Skip/16x16/16x8/8x16/
    * 8x8 partitions, B bi-prediction with spatial + temporal direct,
    * explicit + implicit weighted prediction — rounds 8–12). The
    * remaining stub surface is CABAC P/B slices, MMCO, explicit
    * reference-list modification, and poc_type ≠ 0 — and metadata
    * is fully real:
    * [[graft.fn.Kernels.Mp4AvcMeta]] surfaces SPS-derived resolution/profile
    * and [[graft.fn.Kernels.Mp4SyncOffsets]] the keyframe byte index, like
    * PNG's IHDR and WAV's fmt.
    */
  def withMp4Meta(assets: DataFrame, contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val c = col(contentCol)
    val m = gb.column(graft.fn.Kernels.Mp4Meta(gb.expression(c)))
    assets.withColumn("meta",
      when(m.isNotNull, struct(
        when(substring(c, 5, 4).cast("string") === "ftyp",
          substring(c, 9, 4).cast("string")).as("major_brand"),
        element_at(m, 1).cast("long").as("timescale"),
        element_at(m, 2).as("duration_sec"),
        element_at(m, 3).cast("int").as("n_tracks"),
        length(c).as("n_bytes"))))
  }

  /** REAL video-frame sampling for animated-PNG payloads: every
    * `stride`-th frame (of the first `maxFrames`) is decoded —
    * per-frame inflate + unfilter + canvas compositing, [[Apng]] —
    * and emitted as one ROW (frame_idx, t_ms, features) per sampled
    * frame via the [[graft.fn.Kernels.ApngFrameFeatures]] native expression +
    * a generator: the frame-sampling row shape of [[sampleChunks]],
    * but with real pixels. The payload column is dropped BEFORE the
    * explode, so only fixed-size feature vectors fan out. Non-APNG
    * rows (still PNGs included) disappear — route them through
    * [[withFeatures]] instead.
    */
  def withApngFrames(assets: DataFrame, nBins: Int = 16, stride: Int = 1,
                     maxFrames: Int = 256,
                     contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    explodeFrames(assets, contentCol, gb.column(graft.fn.Kernels.ApngFrameFeatures(
      gb.expression(col(contentCol)), nBins, stride, maxFrames)))
  }

  /** GIF twin of [[withApngFrames]]: real LZW frame decode +
    * palette/disposal compositing ([[Gif]]), same exploded row shape.
    */
  def withGifFrames(assets: DataFrame, nBins: Int = 16, stride: Int = 1,
                    maxFrames: Int = 256,
                    contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    explodeFrames(assets, contentCol, gb.column(graft.fn.Kernels.GifFrameFeatures(
      gb.expression(col(contentCol)), nBins, stride, maxFrames)))
  }

  /** MJPEG-in-MP4 member of [[withApngFrames]]/[[withGifFrames]]: the
    * container's sample tables route each sample to the baseline-JPEG
    * kernel ([[Mjpeg]]) — the codec-bearing video path; `stride` here
    * skips the decode itself (samples are independent), not just the
    * emit.
    */
  def withMjpegFrames(assets: DataFrame, nBins: Int = 16, stride: Int = 1,
                      maxFrames: Int = 256,
                      contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    explodeFrames(assets, contentCol, gb.column(graft.fn.Kernels.MjpegFrameFeatures(
      gb.expression(col(contentCol)), nBins, stride, maxFrames)))
  }

  /** Modality-routed video frame sampling: APNG, GIF, and
    * MJPEG-in-MP4 payloads all decode to real per-frame features
    * (each decoder null-gates on its own magic/track tables, so the
    * coalesce routes by content, not by filename), and baseline
    * H.264 tracks sample their decoded KEYFRAMES ([[H264]]); rows of
    * other kinds disappear. One narrow projection per decoder,
    * payload dropped before the generator.
    */
  def withVideoFrames(assets: DataFrame, nBins: Int = 16, stride: Int = 1,
                      maxFrames: Int = 256,
                      contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val c = gb.expression(col(contentCol))
    explodeFrames(assets, contentCol, coalesce(
      gb.column(graft.fn.Kernels.ApngFrameFeatures(c, nBins, stride, maxFrames)),
      gb.column(graft.fn.Kernels.GifFrameFeatures(c, nBins, stride, maxFrames)),
      gb.column(graft.fn.Kernels.MjpegFrameFeatures(c, nBins, stride, maxFrames)),
      // round 8: baseline H.264 tracks sample their KEYFRAMES for
      // real (frame_idx = keyframe ordinal, t_ms from stts)
      gb.column(graft.fn.Kernels.H264KeyframeFrames(c, nBins, stride, maxFrames))))
  }

  /** Shared explode: frames array → (frame_idx, t_ms, features) rows,
    * payload dropped BEFORE the generator so only fixed-size feature
    * vectors fan out.
    */
  private def explodeFrames(assets: DataFrame, contentCol: String,
                            frames: Column): DataFrame =
    assets
      .withColumn("__frames", frames)
      .drop(contentCol)
      .select(col("*"), explode(col("__frames")).as("__f"))
      .withColumn("frame_idx", element_at(col("__f"), 1).cast("int"))
      .withColumn("t_ms", element_at(col("__f"), 2))
      .withColumn("features", slice(col("__f"), lit(3), size(col("__f")) - lit(2)))
      .drop("__frames", "__f")

  /** Route each asset row to its modality's REAL decoder — PNG pixels
    * ([[withPngFeatures]]) or WAV samples ([[withWavFeatures]]) — and
    * only fall back to the deterministic stub ([[withFeatureStub]])
    * for modalities with no in-container codec (video). One narrow
    * projection; each kernel only runs on rows it can decode.
    */
  def withFeatures(assets: DataFrame, nBins: Int = 16, stubDim: Int = 16,
                   contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val png = gb.column(graft.fn.Kernels.PngGrayFeatures(gb.expression(col(contentCol)), nBins))
    val jpg = gb.column(graft.fn.Kernels.JpegGrayFeatures(gb.expression(col(contentCol)), nBins))
    val wav = gb.column(graft.fn.Kernels.WavPcmFeatures(gb.expression(col(contentCol))))
    // round 9: FLAC rides the round-9 frame decoder into the same
    // audio feature contract as WAV
    val flac = gb.column(graft.fn.Kernels.FlacPcmFeatures(gb.expression(col(contentCol))))
    // round 8: baseline H.264 keyframes are REAL pixels now — only
    // payloads no decoder claims fall through to the stub
    val kf = gb.column(graft.fn.Kernels.Mp4KeyframeFeatures(gb.expression(col(contentCol)), nBins))
    val seed = xxhash64(col(contentCol))
    val stub = array((0 until stubDim).map { i =>
      (pmod(xxhash64(lit(i), seed), lit(2000000L)).cast("double") / 1000000.0 - 1.0)
    }: _*)
    assets.withColumn("features", coalesce(png, jpg, wav, flac, kf, stub))
  }

  /** REAL JPEG features: baseline-sequential payloads are
    * luma-decoded JDK-only (Huffman entropy decode → dequant → IDCT
    * of the Y plane; [[Jpeg]]) into the same [mean, std, histogram]
    * contract as [[withPngFeatures]] — via the
    * [[graft.fn.Kernels.JpegGrayFeatures]] native expression. Non-JPEG or
    * out-of-scope profiles (arithmetic, 12-bit, CMYK) get null features; baseline AND progressive decode.
    */
  def withJpegFeatures(assets: DataFrame, nBins: Int = 16,
                       contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    assets.withColumn("features",
      gb.column(graft.fn.Kernels.JpegGrayFeatures(gb.expression(col(contentCol)), nBins)))
  }

  /** Deterministic feature extraction over binary payloads with NO
    * in-container codec (video — PNG and WAV rows have REAL features
    * via [[withPngFeatures]] / [[withWavFeatures]]).
    *
    * ==STUB NOTICE==
    * Audio/video sample decode + embedding needs codec/model runtimes
    * this container does not provide. The features here are a
    * DETERMINISTIC FAKE — `dim` pseudo-random floats in [-1, 1) seeded
    * by xxhash64 of the payload — so every downstream property (schema
    * `array<double>`, narrow per-row compute, payload dropped before
    * shuffle, joinability with ext/SimJoin) is real and tested while
    * the math is a placeholder. Swap the fake for a `mapPartitions`
    * batch inference call without touching callers.
    */
  def withFeatureStub(assets: DataFrame, dim: Int = 16,
                      contentCol: String = "content"): DataFrame = {
    val seed = xxhash64(col(contentCol))
    val feats = (0 until dim).map { i =>
      (pmod(xxhash64(lit(i), seed), lit(2000000L)).cast("double") / 1000000.0 - 1.0)
    }
    assets.withColumn("features", array(feats: _*))
  }

  /** Frame/chunk sampling of a large payload: every `stride`-th
    * fixed-size chunk, as (chunk_idx, chunk) rows — the row-shape of
    * video frame-sampling (decode-free: chunks are raw bytes). Chunk
    * extraction is `substring` on binary, the explosion is a
    * generator — no shuffle, output size = payload/stride.
    */
  def sampleChunks(assets: DataFrame, chunkBytes: Int, stride: Int,
                   contentCol: String = "content"): DataFrame = {
    val c = col(contentCol)
    val nChunks = ceil(length(c) / lit(chunkBytes.toDouble)).cast("int")
    val picked = filter(sequence(lit(0), nChunks - 1), i => i % stride === 0)
    // empty payload guard (ADVICE r2): nChunks=0 would make
    // sequence(0, -1) count DOWN to [0, -1] and emit a spurious empty
    // chunk_idx=0 row; explode of the null-when-empty array emits
    // zero rows instead
    assets
      .withColumn("chunk_idx", explode(when(nChunks > 0, picked)))
      .withColumn("chunk",
        substring(c, col("chunk_idx") * chunkBytes + 1, lit(chunkBytes)))
      .drop(contentCol)
  }
  /** Typed WebM/Matroska metadata column ([[Webm]] EBML walk):
    * doc type, duration, first video/audio track codec + dims/rate.
    * Null rows are not WebM — the [[withMp4Meta]] contract for the
    * second-most-common scraped video container.
    */
  def withWebmMeta(assets: DataFrame, contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    assets.withColumn("webm_meta",
      gb.column(graft.fn.Kernels.WebmMeta(gb.expression(col(contentCol)))))
  }

  /** Typed FLAC STREAMINFO metadata column ([[Flac]]): rate,
    * channels, bits/sample, total samples, duration.
    */
  def withFlacMeta(assets: DataFrame, contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    assets.withColumn("flac_meta",
      gb.column(graft.fn.Kernels.FlacMeta(gb.expression(col(contentCol)))))
  }

  /** Full-GOP frame sampling for baseline H.264 (I+P) tracks — the
    * [[withVideoFrames]] row shape from EVERY frame, P frames decoded
    * by motion compensation against their predecessor ([[H264]]
    * round-8 inter decode). Use [[withVideoFrames]] when keyframes
    * suffice (cheaper: no inter chain).
    */
  def withGopFrames(assets: DataFrame, nBins: Int = 16, stride: Int = 1,
                    maxFrames: Int = 256,
                    contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    explodeFrames(assets, contentCol, gb.column(graft.fn.Kernels.H264GopFrames(
      gb.expression(col(contentCol)), nBins, stride, maxFrames)))
  }

  /** Keyframe dHash column for H.264-in-MP4 payloads — REAL pixels
    * from the round-8 baseline I-frame decoder ([[H264]]): avcC
    * SPS/PPS + first stss sample → CAVLC + intra prediction → luma →
    * 9×8 dHash. Null rows (non-AVC, out-of-subset streams) keep the
    * metadata-only contract documented on [[withMp4Meta]].
    */
  def withKeyframeDhash(assets: DataFrame, contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    assets.withColumn("kf_dhash",
      gb.column(graft.fn.Kernels.Mp4KeyframeDhash64(gb.expression(col(contentCol)))))
  }

  /** Video near-duplicate pairs over keyframe dHashes — the SAME
    * band-join pair stage the image family uses
    * ([[Images.nearDupPairsFromHashes]], q84p's oracle-gated shape):
    * decode swaps from PNG/JPEG to the H.264 keyframe, everything
    * after the hash is shared. Undecodable rows drop out (no
    * evidence either way).
    */
  def nearDupVideoPairs(assets: DataFrame, idCol: String,
                        maxHamming: Int = 3, bands: Int = 4,
                        contentCol: String = "content",
                        maxKeyframes: Int = 1): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val hashed =
      if (maxKeyframes == 1)
        withKeyframeDhash(assets, contentCol)
          .where(col("kf_dhash").isNotNull)
          .select(col(idCol).as("id"), col("kf_dhash").as("dhash"))
      else
        // any-keyframe matching: every keyframe hash indexes the
        // video; pairs sharing ANY near keyframe surface, reduced to
        // their best (minimum) hamming
        assets.select(col(idCol).as("id"),
            explode(gb.column(graft.fn.Kernels.Mp4KeyframeDhashes(
              gb.expression(col(contentCol)), maxKeyframes))).as("dhash"))
          .distinct()
    if (maxKeyframes == 1) Images.nearDupPairsFromHashes(hashed, maxHamming, bands)
    else nearDupPairsFromMultiHashes(hashed, maxHamming, bands)
  }

  /** ANY-FRAME video near-duplicate pairs: every decoded frame of
    * the full I/P/B GOP indexes its video
    * ([[graft.fn.Kernels.H264GopDhashes]] — DPB, multi-ref, bi-prediction,
    * weighted prediction all run), then the shared multi-hash pair
    * stage. This is the re-encode shape keyframe matching cannot
    * catch: a clip cut mid-GOP shares no keyframe with its source
    * but its frames ARE the source's frames.
    */
  def nearDupVideoPairsAnyFrame(assets: DataFrame, idCol: String,
                                maxHamming: Int = 3, bands: Int = 4,
                                contentCol: String = "content",
                                maxFrames: Int = 16): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val hashed = assets.select(col(idCol).as("id"),
        explode(gb.column(graft.fn.Kernels.H264GopDhashes(
          gb.expression(col(contentCol)), maxFrames))).as("dhash"))
      .distinct()
    nearDupPairsFromMultiHashes(hashed, maxHamming, bands)
  }

  /** The multi-hash pair stage alone, from a persisted `(id, dhash)`
    * table where one id may carry SEVERAL keyframe hashes (q125p's
    * oracle-gated shape, the video twin of q84p): the shared
    * band-join candidate stage, then self-pairs dropped (a video
    * whose own keyframes are near each other is not a duplicate of
    * itself) and each id pair reduced to its best (minimum) hamming
    * over any keyframe combination.
    */
  def nearDupPairsFromMultiHashes(hashes: DataFrame, maxHamming: Int = 3,
                                  bands: Int = 4): DataFrame =
    Images.nearDupPairsFromHashes(hashes, maxHamming, bands)
      .where(col("a_id") =!= col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(min(col("hamming")).cast("int").as("hamming"))

  /** Container-ROUTED keyframe dHashes (round 14): EBML magic → the
    * WebM/VP8 walk ([[Webm.vp8KeyframeDhashes]]), anything else → the
    * MP4/H.264 walk ([[H264.keyframeDhashesOrNull]], which nulls
    * non-MP4 loudly). Both hash through [[Images.dhashOfThumb]], so a
    * WebM re-encode of an MP4 (or of a still) pairs by construction.
    */
  def keyframeDhashesRouted(bytes: Array[Byte], maxN: Int): Array[Long] = {
    if (bytes == null || bytes.length < 12) return null
    if ((bytes(0) & 0xFF) == 0x1A && (bytes(1) & 0xFF) == 0x45 &&
        (bytes(2) & 0xFF) == 0xDF && (bytes(3) & 0xFF) == 0xA3) {
      // WebM: VP8 track, else the AV1 track (round 15 — Av1Decode)
      val vp8 = Webm.vp8KeyframeDhashes(bytes, maxN)
      if (vp8 != null) vp8 else Webm.av1KeyframeDhashes(bytes, maxN)
    } else H264.keyframeDhashesOrNull(bytes, maxN)
  }

  /** Container-routed ANY-FRAME index: EBML → all VP8 keyframes of
    * the WebM (VP8 inter frames are out of decode scope — keyframes
    * are what a re-encode shares); else → the full H.264 GOP walk
    * (I+P+B). The streaming video gate runs on this, so one stream
    * admits both containers.
    */
  def gopDhashesRouted(bytes: Array[Byte], maxFrames: Int): Array[Long] = {
    if (bytes == null || bytes.length < 12) return null
    if ((bytes(0) & 0xFF) == 0x1A && (bytes(1) & 0xFF) == 0x45 &&
        (bytes(2) & 0xFF) == 0xDF && (bytes(3) & 0xFF) == 0xA3) {
      val vp8 = Webm.vp8KeyframeDhashes(bytes, maxFrames)
      if (vp8 != null) vp8 else Webm.av1KeyframeDhashes(bytes, maxFrames)
    } else H264.gopDhashesOrNull(bytes, maxFrames)
  }

  /** CROSS-CONTAINER video near-duplicate pairs: one mixed MP4+WebM
    * corpus through the routed index, then the shared multi-hash pair
    * stage — the re-encode shape where the same title ships as
    * H.264-in-MP4 on one host and VP8-in-WebM on another.
    */
  def nearDupVideoPairsCross(assets: DataFrame, idCol: String,
                             maxHamming: Int = 3, bands: Int = 4,
                             contentCol: String = "content",
                             maxKeyframes: Int = 8): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val hashed = assets.select(col(idCol).as("id"),
        explode(gb.column(graft.fn.Kernels.VideoKeyframeDhashes(
          gb.expression(col(contentCol)), maxKeyframes))).as("dhash"))
      .distinct()
    nearDupPairsFromMultiHashes(hashed, maxHamming, bands)
  }
}
