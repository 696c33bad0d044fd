package graft.fn

import org.apache.spark.sql.types._

import Kernel.{double, int}
import Nulls.{Always, Never}

/** The engine's per-row kernels, one declaration each: SQL name, the
  * method it calls, input types, result type, [[Nulls]] rule and the
  * structural literals that follow the inputs. [[KernelCall]] runs
  * every one of them both inside whole-stage codegen and interpreted;
  * `GraftExtensions` registers each under its SQL name; Scala call
  * sites build them as `Kernels.WordShingles(text, 5)`.
  *
  * To add a kernel: write the method on a Scala object, add one line
  * here and list it in `all`.
  */
object Kernels {

  private val Doubles = ArrayType(DoubleType, containsNull = false)
  private val Longs = ArrayType(LongType, containsNull = false)
  /** Per-frame feature rows of the video/animation decoders. */
  private val FrameRows = ArrayType(Doubles, containsNull = false)
  private val Vec = ArrayType(DoubleType)

  private def struct(fields: (String, DataType, Boolean)*): StructType =
    StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })

  /** (bin[, nBins[, stride[, maxFrames]]]) of the frame decoders. */
  private val frameLits = Seq(int("nBins", default = Some(16)),
    int("stride", default = Some(1)), int("maxFrames", default = Some(256)))
  private def maxN(cap: Int) = int("maxN", 1, cap)
  /** Thumbnail size: each side >= 1, at most 1M pixels. */
  private val thumbLits = Seq(int("tw", 1, what = "thumbnail dims"),
    int("th", 1, what = "thumbnail dims"))
  private val thumbCap: Seq[Any] => Unit = { v =>
    val (tw, th) = (v(0).asInstanceOf[Int], v(1).asInstanceOf[Int])
    require(tw.toLong * th <= (1L << 20), s"thumbnail ${tw}x$th exceeds the 1M-px cap")
  }

  // ---- geodesy, vectors, ANN -------------------------------------------
  val VincentyKm = new Kernel("vincenty_km", "graft.fn.GeoFns.vincentyKmScala",
    Seq(DoubleType, DoubleType, DoubleType, DoubleType), DoubleType)
  val ArrayDotProduct = new Kernel("dot_product", "graft.fn.VecKernels.dotBoxed",
    Seq(Vec, Vec), DoubleType, Always)
  val CosineSim = new Kernel("cosine_sim", "graft.fn.VecKernels.cosineBoxed",
    Seq(Vec, Vec), DoubleType, Always)
  val CosineSimQ8 = new Kernel("cosine_sim_q8", "graft.fn.VecKernels.cosineQ8Boxed",
    Seq(Vec, ArrayType(IntegerType), DoubleType), DoubleType, Always)
  val Int8Scale = new Kernel("int8_scale", "graft.fn.VecKernels.int8ScaleBoxed",
    Seq(Vec), DoubleType, Always)
  val QuantizeInt8 = new Kernel("quantize_int8", "graft.fn.VecKernels.quantizeInt8",
    Seq(Vec, DoubleType), ArrayType(IntegerType, containsNull = true), Always)
  val PolyfitSolve = new Kernel("polyfit_solve", "graft.fn.PolyfitKernel.solve",
    Seq(Vec, Vec), Doubles, Always)
  val VecOuterUpper = new Kernel("vec_outer_upper", "graft.fn.VecOuterKernel.outerUpper",
    Seq(Doubles), Doubles, Always)
  val Nearest1dKey = new Kernel("nearest1d_key", "graft.fn.Nearest1d.nearestKeyOrNull",
    Seq(DoubleType, Vec, ArrayType(LongType)), LongType, Always)
  val LangIdPredict = new Kernel("lang_id_predict", "graft.ext.LangId.predictBoxed",
    Seq(Vec), StringType, Always)

  // ---- images --------------------------------------------------------
  val PngGrayFeatures = new Kernel("png_gray_features", "graft.ext.Png.grayFeaturesOrNull",
    Seq(BinaryType), Doubles, Always, Seq(int("nBins", default = Some(16))))
  val JpegGrayFeatures = new Kernel("jpeg_gray_features", "graft.ext.Jpeg.grayFeaturesOrNull",
    Seq(BinaryType), Doubles, Always, Seq(int("nBins", default = Some(16))))
  val ApngFrameFeatures = new Kernel("apng_frame_features",
    "graft.ext.Apng.frameFeaturesArrayDataOrNull", Seq(BinaryType), FrameRows, Always, frameLits)
  val GifFrameFeatures = new Kernel("gif_frame_features",
    "graft.ext.Gif.frameFeaturesArrayDataOrNull", Seq(BinaryType), FrameRows, Always, frameLits)
  val MjpegFrameFeatures = new Kernel("mjpeg_frame_features",
    "graft.ext.Mjpeg.frameFeaturesArrayDataOrNull", Seq(BinaryType), FrameRows, Always, frameLits)
  val ImageDhash64 = new Kernel("image_dhash64", "graft.ext.Images.dhash64OrNull",
    Seq(BinaryType), LongType, Always)
  val GrayThumbnail = new Kernel("gray_thumbnail", "graft.fn.ImageKernels.thumbnailArrayDataOrNull",
    Seq(BinaryType), Doubles, Always, thumbLits, thumbCap)
  val ImageDims = new Kernel("image_dims", "graft.fn.MediaMetaKernels.imageDimsRowOrNull",
    Seq(BinaryType), struct(("format", StringType, false), ("width", LongType, false),
      ("height", LongType, false)), Always)
  val ImageCodecProfile = new Kernel("image_codec_profile",
    "graft.fn.MediaMetaKernels.imageCodecProfileRowOrNull", Seq(BinaryType),
    struct(("codec", StringType, false), ("profile", LongType, false),
      ("bit_depth", LongType, false), ("monochrome", LongType, false)), Always)
  val AvifSynth = new Kernel("avif_synth", "graft.ext.Av1Fixtures.avif",
    Seq(LongType), BinaryType, Never)

  // ---- audio ---------------------------------------------------------
  val WavPcmFeatures = new Kernel("wav_pcm_features", "graft.ext.Wav.pcmFeaturesOrNull",
    Seq(BinaryType), Doubles, Always)
  val FlacPcmFeatures = new Kernel("flac_pcm_features", "graft.ext.Flac.pcmFeaturesOrNull",
    Seq(BinaryType), Doubles, Always)
  val FlacMeta = new Kernel("flac_meta", "graft.fn.ContainerMetaKernels.flacRowOrNull",
    Seq(BinaryType), struct(("sample_rate", LongType, false), ("channels", IntegerType, false),
      ("bits_per_sample", IntegerType, false), ("total_samples", LongType, false),
      ("duration_sec", DoubleType, true)), Always)
  val AudioMeta = new Kernel("audio_meta", "graft.fn.MediaMetaKernels.audioMetaRowOrNull",
    Seq(BinaryType), struct(("format", StringType, false), ("sample_rate", LongType, false),
      ("channels", IntegerType, false), ("duration_sec", DoubleType, true)), Always)
  val AudioFingerprint64 = new Kernel("audio_fingerprint64", "graft.ext.Audio.fingerprint64OrNull",
    Seq(BinaryType), LongType, Always)
  val AudioProfile = new Kernel("audio_profile", "graft.ext.Audio.profileOrNull",
    Seq(BinaryType), Doubles, Always)
  val AudioProfileSynth = new Kernel("audio_profile_synth", "graft.ext.AudioFixtures.profileDoc",
    Seq(LongType), BinaryType, Never)
  val Mp3Synth = new Kernel("mp3_synth", "graft.ext.Mp3Fixtures.stream",
    Seq(LongType), BinaryType, Never)
  val Mp3SideStats = new Kernel("mp3_side_stats", "graft.fn.Mp3SideStats.statsOrNull",
    Seq(BinaryType), graft.fn.Mp3SideStats.Schema, Always)
  val OggSynth = new Kernel("ogg_synth", "graft.ext.OggFixtures.stream",
    Seq(LongType), BinaryType, Never)
  val OggStreamMeta = new Kernel("ogg_stream_meta", "graft.fn.OggStreamMeta.metaOrNull",
    Seq(BinaryType), graft.fn.OggStreamMeta.Schema, Always)
  val VorbisSetupStats = new Kernel("vorbis_setup_stats", "graft.fn.VorbisSetupStats.statsOrNull",
    Seq(BinaryType), graft.fn.VorbisSetupStats.Schema, Always)
  val VorbisSetupFull = new Kernel("vorbis_setup_full", "graft.fn.VorbisSetupFull.statsOrNull",
    Seq(BinaryType), graft.fn.VorbisSetupFull.Schema, Always)
  val VorbisPcmSynth = new Kernel("vorbis_pcm_synth", "graft.ext.VorbisPcmFixtures.stream",
    Seq(LongType), BinaryType, Never)
  val VorbisPcmStats = new Kernel("vorbis_pcm_stats", "graft.fn.VorbisPcmStats.statsOrNull",
    Seq(BinaryType), graft.fn.VorbisPcmStats.Schema, Always)
  val VorbisEncodeSynth = new Kernel("vorbis_encode_synth", "graft.fn.VorbisEncodeSynth.row",
    Seq(LongType), graft.fn.VorbisEncodeSynth.Schema, Never)
  val WebmVorbisAgree = new Kernel("webm_vorbis_agree", "graft.fn.WebmVorbisAgree.eval",
    Seq(LongType), Longs, Always)
  val OpusSynth = new Kernel("opus_synth", "graft.ext.OpusFixtures.stream",
    Seq(LongType), BinaryType, Never)
  val OpusTocStats = new Kernel("opus_toc_stats", "graft.fn.OpusTocStats.statsOrNull",
    Seq(BinaryType), graft.fn.OpusTocStats.Schema, Always)

  // ---- video ---------------------------------------------------------
  val Mp4Meta = new Kernel("mp4_meta", "graft.ext.Mp4.metaOrNull",
    Seq(BinaryType), Doubles, Always)
  val Mp4AvcMeta = new Kernel("mp4_avc_meta", "graft.ext.Avc.h264MetaOrNull",
    Seq(BinaryType), Doubles, Always)
  val Mp4HevcMeta = new Kernel("mp4_hevc_meta", "graft.ext.Avc.hevcMetaOrNull",
    Seq(BinaryType), Doubles, Always)
  val Av1Meta = new Kernel("av1_meta", "graft.ext.Av1.metaOrNull",
    Seq(BinaryType), Doubles, Always)
  val WebmMeta = new Kernel("webm_meta", "graft.fn.ContainerMetaKernels.webmRowOrNull",
    Seq(BinaryType), struct(("doc_type", StringType, true), ("duration_sec", DoubleType, true),
      ("video_codec", StringType, true), ("width", LongType, false), ("height", LongType, false),
      ("audio_codec", StringType, true), ("sample_rate", DoubleType, true),
      ("channels", LongType, false)), Always)
  val Mp4SyncOffsets = new Kernel("mp4_sync_offsets", "graft.ext.Avc.syncOffsetsOrNull",
    Seq(BinaryType), Longs, Always, Seq(int("maxN", 1)))
  val Mp4KeyframeFeatures = new Kernel("mp4_keyframe_features",
    "graft.ext.H264.keyframeFeaturesOrNull", Seq(BinaryType), Doubles, Always,
    Seq(int("nBins", 1, 4096, default = Some(16))))
  val Mp4KeyframeThumb = new Kernel("mp4_keyframe_thumb", "graft.ext.H264.keyframeThumbOrNull",
    Seq(BinaryType), Doubles, Always, thumbLits, thumbCap)
  val Mp4KeyframeDhash64 = new Kernel("mp4_keyframe_dhash64", "graft.ext.H264.keyframeDhashOrNull",
    Seq(BinaryType), LongType, Always)
  val Mp4KeyframeDhashes = new Kernel("mp4_keyframe_dhashes",
    "graft.ext.H264.keyframeDhashesOrNull", Seq(BinaryType), Longs, Always, Seq(maxN(1 << 12)))
  val H264GopDhashes = new Kernel("h264_gop_dhashes", "graft.ext.H264.gopDhashesOrNull",
    Seq(BinaryType), Longs, Always, Seq(maxN(1 << 12)))
  val WebmVp8Dhashes = new Kernel("webm_vp8_dhashes", "graft.ext.Webm.vp8KeyframeDhashes",
    Seq(BinaryType), Longs, Always, Seq(maxN(1 << 12)))
  val VideoKeyframeDhashes = new Kernel("video_kf_dhashes",
    "graft.ext.Multimodal.keyframeDhashesRouted", Seq(BinaryType), Longs, Always,
    Seq(maxN(1 << 12)))
  val VideoGopDhashes = new Kernel("video_gop_dhashes", "graft.ext.Multimodal.gopDhashesRouted",
    Seq(BinaryType), Longs, Always, Seq(maxN(1 << 12)))
  val H264KeyframeFrames = new Kernel("h264_keyframe_frames",
    "graft.ext.H264.keyframeFrameFeaturesArrayDataOrNull", Seq(BinaryType), FrameRows, Always,
    frameLits)
  val H264GopFrames = new Kernel("h264_gop_frames", "graft.ext.H264.gopFrameFeaturesOrNull",
    Seq(BinaryType), FrameRows, Always, frameLits)
  /** (content, nBins, everyMs, maxN, maxFrames): one row per instant. */
  val H264ClipFrames = new Kernel("h264_clip_frames", "graft.ext.H264.clipFrameFeaturesOrNull",
    Seq(BinaryType), FrameRows, Always,
    Seq(int("nBins", 1), double("everyMs"), maxN(1 << 12), int("maxFrames", 1, 1 << 12)),
    v => require(v(1).asInstanceOf[Double] > 0, s"everyMs must be > 0, got ${v(1)}"))
  val WebmBlockIndex = new Kernel("webm_block_index", "graft.fn.WebmBlockIndex.blocksData",
    Seq(BinaryType), graft.fn.WebmBlockIndex.Schema, Always, Seq(maxN(1 << 16)))
  val Mp4MultiRefSynth = new Kernel("mp4_multiref_synth", "graft.ext.VideoFixtures.multiRefGop",
    Seq(LongType), BinaryType, Never)
  val Mp4BGopSynth = new Kernel("mp4_bgop_synth", "graft.ext.VideoFixtures.bGop",
    Seq(LongType), BinaryType, Never)
  val Mp4WGopSynth = new Kernel("mp4_wgop_synth", "graft.ext.VideoFixtures.wGopMp4",
    Seq(LongType), BinaryType, Never)
  val Mp4Fmp4Synth = new Kernel("mp4_fmp4_synth", "graft.ext.VideoFixtures.multiRefGopFragmented",
    Seq(LongType), BinaryType, Never)
  val Mp4BGopPtsSynth = new Kernel("mp4_bgop_pts_synth", "graft.ext.VideoFixtures.bGopPts",
    Seq(LongType), BinaryType, Never)
  val Mp4ElstSynth = new Kernel("mp4_elst_synth", "graft.ext.VideoFixtures.bGopElst",
    Seq(LongType), BinaryType, Never)
  val Av1Synth = new Kernel("av1_synth", "graft.ext.Av1Fixtures.doc",
    Seq(LongType), BinaryType, Never)
  val WebmBlockSynth = new Kernel("webm_block_synth", "graft.ext.WebmFixtures.blockWebm",
    Seq(LongType), BinaryType, Never)
  val Vp8WebmSynth = new Kernel("vp8_webm_synth", "graft.fn.Vp8WebmSynth.doc",
    Seq(LongType), BinaryType, Never)

  // ---- subtitles, manifests, documents -------------------------------
  val SubtitleSynth = new Kernel("subtitle_synth", "graft.ext.SubtitleFixtures.doc",
    Seq(LongType), StringType, Never)
  val SubtitleEncSynth = new Kernel("subtitle_enc_synth", "graft.ext.SubtitleFixtures.encodedDoc",
    Seq(LongType), BinaryType, Never)
  val Mp4SubtitleSynth = new Kernel("mp4_subtitle_synth", "graft.ext.SubtitleFixtures.wvttMp4",
    Seq(LongType), BinaryType, Never)
  val Mp4TtmlSynth = new Kernel("mp4_ttml_synth", "graft.ext.SubtitleFixtures.stppMp4",
    Seq(LongType), BinaryType, Never)
  val WebmSubtitleSynth = new Kernel("webm_subtitle_synth", "graft.ext.WebmFixtures.subtitleWebm",
    Seq(LongType), BinaryType, Never)
  val SubtitleCues = new Kernel("subtitle_cues", "graft.fn.SubtitleCues.cuesData",
    Seq(StringType), graft.fn.SubtitleCues.Schema, Always)
  val Mp4SubtitleCues = new Kernel("mp4_subtitle_cues", "graft.fn.Mp4SubtitleCues.cuesData",
    Seq(BinaryType), graft.fn.SubtitleCues.Schema, Always)
  val WebmSubtitleCues = new Kernel("webm_subtitle_cues", "graft.fn.WebmSubtitleCues.cuesData",
    Seq(BinaryType), graft.fn.SubtitleCues.Schema, Always)
  val HlsVariants = new Kernel("hls_variants", "graft.fn.HlsVariants.data",
    Seq(StringType), graft.fn.HlsVariants.Schema, Always)
  val HlsSegments = new Kernel("hls_segments", "graft.fn.HlsSegments.data",
    Seq(StringType), graft.fn.HlsSegments.Schema, Always)
  val MpdRepresentations = new Kernel("mpd_representations", "graft.fn.MpdRepresentations.data",
    Seq(StringType), graft.fn.MpdRepresentations.Schema, Always)
  val M3u8Synth = new Kernel("m3u8_synth", "graft.ext.ManifestFixtures.m3u8",
    Seq(LongType), StringType, Never)
  val MpdSynth = new Kernel("mpd_synth", "graft.ext.ManifestFixtures.mpd",
    Seq(LongType), StringType, Never)
  val PdfSynth = new Kernel("pdf_synth", "graft.ext.PdfFixtures.pdf",
    Seq(LongType), BinaryType, Never)
  val PdfTextStats = new Kernel("pdf_text", "graft.fn.PdfTextStats.rowOrNull",
    Seq(BinaryType), graft.fn.PdfTextStats.Schema, Always)

  // ---- web text ------------------------------------------------------
  val CharsetSniff = new Kernel("charset_sniff", "graft.fn.CharsetSniff.rowOrNull",
    Seq(BinaryType), graft.fn.CharsetSniff.Schema, Always)
  val CharsetDecode = new Kernel("charset_decode", "graft.fn.CharsetDecode.rowOrNull",
    Seq(StringType, BinaryType), graft.fn.CharsetSniff.Schema, Always)
  val CharsetDetect = new Kernel("charset_detect", "graft.fn.CharsetDetect.rowOrNull",
    Seq(StringType, BinaryType), graft.fn.CharsetSniff.Schema, Always)
  val HtmlText = new Kernel("html_text", "graft.fn.HtmlKernels.htmlTextOrNull",
    Seq(StringType), StringType, Always)
  /** html_text with numeric character references decoded. */
  val HtmlTextFull = new Kernel("html_text_full", "graft.fn.HtmlKernels.htmlTextFullOrNull",
    Seq(StringType), StringType, Always)
  val JustextBlocks = new Kernel("justext_blocks", "graft.fn.JustextBlocks.blocksData",
    Seq(StringType), graft.fn.JustextBlocks.Schema, Always)
  val MainText = new Kernel("main_text", "graft.ext.Boilerplate.mainTextOrNull",
    Seq(StringType), StringType, Always)
  val JustextSynth = new Kernel("justext_synth", "graft.ext.BoilerplateFixtures.fixtureHtml",
    Seq(LongType), StringType, Never)
  val PiiScan = new Kernel("pii_scan", "graft.fn.PiiKernels.scanOrNull",
    Seq(StringType), struct(("n_email", LongType, false), ("n_ipv4", LongType, false),
      ("n_phone", LongType, false), ("redacted", StringType, false)), Always)
  val RobotsAllowed = new Kernel("robots_allowed", "graft.fn.RobotsKernels.isAllowed",
    Seq(StringType, StringType, StringType), BooleanType, Always)

  // ---- text statistics, shingles, near-dup ---------------------------
  val TextProfile = new Kernel("text_profile", "graft.fn.TextKernels.textProfile",
    Seq(StringType), graft.fn.TextProfile.Schema, Always)
  val RepetitionProfile = new Kernel("repetition_profile", "graft.fn.TextKernels.repetitionProfile",
    Seq(StringType), graft.fn.RepetitionProfile.Schema, Always)
  val TermCounts = new Kernel("term_counts", "graft.fn.TextKernels.termCounts",
    Seq(StringType), MapType(StringType, LongType, valueContainsNull = false))
  val NgramCounts = new Kernel("ngram_counts", "graft.fn.TextKernels.ngramCounts",
    Seq(StringType), MapType(StringType, LongType, valueContainsNull = false),
    lits = Seq(int("n", 2)))
  val WordShingles = new Kernel("word_shingles", "graft.fn.TextKernels.wordShingles",
    Seq(StringType), ArrayType(StringType, containsNull = false),
    lits = Seq(int("n", 1, what = "shingle size")))
  val MinhashSig = new Kernel("minhash_sig", "graft.fn.TextKernels.minhashSig",
    Seq(StringType), Longs, Always,
    Seq(int("n", 1, what = "shingle size"), int("k", 1, what = "signature width")))
  private val winnowLits = Seq(int("k", 1, what = "shingle size"), int("w", 1, what = "window size"))
  val WinnowFingerprints = new Kernel("winnow_fps", "graft.fn.TextKernels.winnowFingerprints",
    Seq(StringType), Longs, Always, winnowLits)
  /** winnow_fps over xxhash64 shingle hashes. */
  val WinnowFingerprintsXx = new Kernel("winnow_fps_xx",
    "graft.fn.TextKernels.winnowFingerprintsXx", Seq(StringType), Longs, Always, winnowLits)
  private val windowLits = Seq(int("L", 2, what = "window length"))
  val CharWindowHashes = new Kernel("char_windows", "graft.fn.TextKernels.charWindowHashes",
    Seq(StringType), Longs, Always, windowLits)
  /** char_windows over xxhash64. */
  val CharWindowHashesXx = new Kernel("char_windows_xx",
    "graft.fn.TextKernels.charWindowHashesXx", Seq(StringType), Longs, Always, windowLits)
  /** The md5 (oracle-checkable) or xxhash64 (production) variant. */
  def winnow(xx: Boolean): Kernel = if (xx) WinnowFingerprintsXx else WinnowFingerprints
  def charWindows(xx: Boolean): Kernel = if (xx) CharWindowHashesXx else CharWindowHashes

  val StripCharSpans = new Kernel("strip_char_spans", "graft.fn.TextKernels.stripCharSpans",
    Seq(StringType, ArrayType(LongType), ArrayType(LongType)), StringType, Always)

  val all: Seq[Kernel] = Seq(
    VincentyKm, ArrayDotProduct, CosineSim, CosineSimQ8, Int8Scale, QuantizeInt8, PolyfitSolve,
    VecOuterUpper, Nearest1dKey, LangIdPredict,
    PngGrayFeatures, JpegGrayFeatures, ApngFrameFeatures, GifFrameFeatures, MjpegFrameFeatures,
    ImageDhash64, GrayThumbnail, ImageDims, ImageCodecProfile, AvifSynth,
    WavPcmFeatures, FlacPcmFeatures, FlacMeta, AudioMeta, AudioFingerprint64, AudioProfile,
    AudioProfileSynth, Mp3Synth, Mp3SideStats, OggSynth, OggStreamMeta, VorbisSetupStats,
    VorbisSetupFull, VorbisPcmSynth, VorbisPcmStats, VorbisEncodeSynth, WebmVorbisAgree,
    OpusSynth, OpusTocStats,
    Mp4Meta, Mp4AvcMeta, Mp4HevcMeta, Av1Meta, WebmMeta, Mp4SyncOffsets, Mp4KeyframeFeatures,
    Mp4KeyframeThumb, Mp4KeyframeDhash64, Mp4KeyframeDhashes, H264GopDhashes, WebmVp8Dhashes,
    VideoKeyframeDhashes, VideoGopDhashes, H264KeyframeFrames, H264GopFrames, H264ClipFrames,
    WebmBlockIndex, Mp4MultiRefSynth, Mp4BGopSynth, Mp4WGopSynth, Mp4Fmp4Synth, Mp4BGopPtsSynth,
    Mp4ElstSynth, Av1Synth, WebmBlockSynth, Vp8WebmSynth,
    SubtitleSynth, SubtitleEncSynth, Mp4SubtitleSynth, Mp4TtmlSynth, WebmSubtitleSynth,
    SubtitleCues, Mp4SubtitleCues, WebmSubtitleCues, HlsVariants, HlsSegments,
    MpdRepresentations, M3u8Synth, MpdSynth, PdfSynth, PdfTextStats,
    CharsetSniff, CharsetDecode, CharsetDetect, HtmlText, HtmlTextFull, JustextBlocks, MainText,
    JustextSynth, PiiScan, RobotsAllowed,
    TextProfile, RepetitionProfile, TermCounts, NgramCounts, WordShingles, MinhashSig,
    WinnowFingerprints, WinnowFingerprintsXx, CharWindowHashes, CharWindowHashesXx,
    StripCharSpans)

  val byName: Map[String, Kernel] = all.map(k => k.name -> k).toMap
  require(byName.size == all.size, "duplicate kernel names")
}
