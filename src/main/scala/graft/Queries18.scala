package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-14 queries: WebM/VP8 joins the video near-duplicate family
  * (the round-13 verdict's lead item — the #2 scraped container was
  * fingerprint-blind; now its keyframes decode through the RFC 6386
  * [[graft.ext.Vp8]] path, golden-validated against libwebp).
  *
  * q169 is the CROSS-CONTAINER shape dedup exists for: the same title
  * shipped as H.264-in-MP4 on one host and as a VP8-in-WebM re-encode
  * on another. Both containers hash keyframes through ONE bit rule
  * ([[graft.ext.Images.dhashOfThumb]]), so the pair surfaces from the
  * shared multi-hash band join — no cross-codec special case.
  */
object Queries18 {
  import org.apache.spark.sql.{graftbridge => gb}

  // ---------- q169: cross-container video near-dup (rows-only: no
  // video codec in DuckDB; the decode halves are golden-tested in
  // H264Spec and Vp8Spec; the PAIR stage is hash-gated via q169p)
  private def scene(seed: Int)(x: Int, y: Int): Int = {
    val h = seed * 2654435761L
    val fu = 1 + (h % 6).toInt.abs; val fv = 1 + ((h >> 8) % 5).toInt.abs
    val p1 = ((h >> 16) % 628).toInt / 100.0
    (127 + 90 * math.sin(fu * x / 2.5 + fv * y / 2.0 + p1)).toInt & 0xFF
  }

  private def webmOf(scenes: Seq[(Int, Int) => Int]): Array[Byte] = {
    val frames = scenes.zipWithIndex.map { case (px, k) =>
      val gray = Array.tabulate(16 * 16)(p => px(p % 16, p / 16))
      // near-lossless quantizer: the H.264 twin is I_PCM (exact), so
      // the WebM side carries the quantization noise alone
      val (frame, _) = graft.ext.Vp8Fixtures.encodeGrayFrame(gray, 16, 16, 4)
      (k * 500L, frame)
    }
    graft.ext.WebmFixtures.vp8Webm(frames, 16, 16)
  }

  /** 30 MP4 originals (fresh intro keyframe + content keyframe), 8
    * WebM re-encodes (id+1000: a DIFFERENT fresh intro + the same
    * content scene, mildly perturbed — the re-cut shape that forces
    * ANY-keyframe matching), 6 WebM-only distractors (2000+). The
    * only cross-id pairs the gate admits are the planted (i, i+1000).
    */
  private def q169Assets(s: SparkSession): DataFrame = {
    val mp4s = (0 until 30).map { i =>
      (i.toLong, graft.ext.VideoFixtures.multiKeyframeMp4(
        Seq(scene(900 + i), scene(i))))
    }
    val webmTwins = (0 until 8).map { i =>
      (i + 1000L, webmOf(Seq(
        scene(700 + i),
        (x, y) => math.min(255,
          scene(i)(x, y) + (if ((x * 31 + y * 17) % 37 == 0) 2 else 0)))))
    }
    val webmOnly = (0 until 6).map(i => (i + 2000L, webmOf(Seq(scene(800 + i)))))
    s.createDataFrame(mp4s ++ webmTwins ++ webmOnly)
      .toDF("vid_id", "content")
      .repartition(8)
  }

  private def q169(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.Multimodal.nearDupVideoPairsCross(q169Assets(s), "vid_id",
        maxHamming = 3)
      .withColumn("planted", ($"b_id" - $"a_id" === 1000L).cast("int"))
      .orderBy($"a_id", $"b_id")
  }

  // ---------- q169p: the routed-hash pair stage, hash-gated (the
  // q84p/q125p discipline): the container-routed `video_kf_dhashes`
  // index persists as a fixture parquet and BOTH engines replay the
  // band join + min-hamming reduction from that same file.
  private val Q169HashFixture = "/tmp/graft_fixtures/q169_video_dhash.parquet"

  private def q169p(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q169Assets(s).select($"vid_id".as("id"),
        explode(gb.column(graft.fn.Kernels.VideoKeyframeDhashes(
          gb.expression($"content"), 8))).as("dhash"))
      .distinct()
      .coalesce(1)
      .write.mode("overwrite").parquet(Q169HashFixture)
    graft.ext.Multimodal.nearDupPairsFromMultiHashes(
        s.read.parquet(Q169HashFixture), maxHamming = 3)
      .orderBy($"a_id", $"b_id")
  }

  private val q169pSql =
    s"""WITH h AS (
       |  SELECT id, dhash FROM read_parquet('$Q169HashFixture/*.parquet')
       |), eq AS (
       |  SELECT x.id AS a_id, y.id AS b_id, 0 AS hamming
       |  FROM h x JOIN h y ON x.dhash = y.dhash AND x.id < y.id
       |), uniq AS (
       |  SELECT DISTINCT dhash FROM h
       |), banded AS (
       |  SELECT dhash, i AS band_idx, (dhash >> CAST(16 * i AS INT)) & 65535 AS band_val
       |  FROM uniq, UNNEST(range(0, 4)) AS t(i)
       |), near AS (
       |  SELECT DISTINCT a.dhash AS ha, b.dhash AS hb
       |  FROM banded a
       |  JOIN banded b ON a.band_idx = b.band_idx
       |    AND a.band_val = b.band_val AND a.dhash < b.dhash
       |), nearh AS (
       |  SELECT ha, hb, bit_count(xor(ha, hb)) AS hamming
       |  FROM near WHERE bit_count(xor(ha, hb)) <= 3
       |), neq AS (
       |  SELECT LEAST(x.id, y.id) AS a_id, GREATEST(x.id, y.id) AS b_id, hamming
       |  FROM nearh JOIN h x ON ha = x.dhash JOIN h y ON hb = y.dhash
       |)
       |SELECT a_id, b_id, CAST(MIN(hamming) AS INT) AS hamming
       |FROM (SELECT * FROM eq UNION ALL SELECT * FROM neq)
       |WHERE a_id <> b_id
       |GROUP BY a_id, b_id
       |ORDER BY a_id, b_id""".stripMargin

  // ---------- q170/q171: in-page boilerplate extraction (round 14,
  // the verdict's #2 item — jusText's published deterministic rules).
  // The corpus is synthesized from doc_id arithmetic
  // ([[graft.ext.BoilerplateFixtures]]), so the oracle recomputes
  // every block's length / link chars / stopword hits / context-free
  // class / final class in CLOSED FORM — a defect in segmentation,
  // density arithmetic, any threshold, or any revision pass breaks
  // the hash (the q131/q160 discipline).
  private def q170(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val blocks = gb.column(graft.fn.Kernels.JustextBlocks(
      graft.fn.Kernels.JustextSynth(gb.expression(d.cast("long")))))
    Tables.docIdsUnder(s, dir, 2000)
      .select(d, explode(blocks).as("__b"))
      .select(d, col("__b.block_idx").as("block_idx"),
        col("__b.heading").as("heading"), col("__b.length").as("length"),
        col("__b.link_chars").as("link_chars"),
        col("__b.stop_hits").as("stop_hits"),
        col("__b.n_words").as("n_words"),
        col("__b.cf_class").as("cf_class"), col("__b.class").as("cls"))
      .orderBy(d, col("block_idx"))
  }

  private val q170Sql =
    """WITH m AS (
      |  SELECT doc_id, 10 + doc_id % 3 AS m1, 10 + (doc_id + 1) % 3 AS m2
      |  FROM documents WHERE doc_id < 2000
      |), b AS (SELECT UNNEST(range(0, 8)) AS block_idx)
      |SELECT doc_id, CAST(block_idx AS INT) AS block_idx,
      |  CAST(CASE WHEN block_idx = 1 THEN 1 ELSE 0 END AS INT) AS heading,
      |  CAST(CASE block_idx
      |    WHEN 0 THEN 18 WHEN 1 THEN 9 WHEN 2 THEN 22 * m1 - 1
      |    WHEN 3 THEN 21 WHEN 4 THEN 22 * m2 - 1 WHEN 5 THEN 87
      |    WHEN 6 THEN 14 ELSE 19 END AS INT) AS length,
      |  CAST(CASE block_idx WHEN 0 THEN 16 WHEN 3 THEN 7 ELSE 0 END AS INT)
      |    AS link_chars,
      |  CAST(CASE block_idx
      |    WHEN 0 THEN 1 WHEN 2 THEN 3 * m1 WHEN 3 THEN 1
      |    WHEN 4 THEN 3 * m2 WHEN 5 THEN 12 WHEN 6 THEN 1
      |    ELSE 0 END AS INT) AS stop_hits,
      |  CAST(CASE block_idx
      |    WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 5 * m1 WHEN 3 THEN 4
      |    WHEN 4 THEN 5 * m2 WHEN 5 THEN 20 WHEN 6 THEN 3
      |    ELSE 4 END AS INT) AS n_words,
      |  CASE block_idx
      |    WHEN 0 THEN 'bad' WHEN 1 THEN 'short' WHEN 2 THEN 'good'
      |    WHEN 3 THEN 'bad' WHEN 4 THEN 'good' WHEN 5 THEN 'neargood'
      |    WHEN 6 THEN 'short' ELSE 'bad' END AS cf_class,
      |  CASE block_idx
      |    WHEN 0 THEN 'bad' WHEN 1 THEN 'good' WHEN 2 THEN 'good'
      |    WHEN 3 THEN 'bad' WHEN 4 THEN 'good' WHEN 5 THEN 'good'
      |    WHEN 6 THEN 'bad' ELSE 'bad' END AS cls
      |FROM m, b
      |ORDER BY doc_id, block_idx""".stripMargin

  private def q171(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    Tables.docIdsUnder(s, dir, 2000)
      .select(d, gb.column(graft.fn.Kernels.MainText(
        graft.fn.Kernels.JustextSynth(gb.expression(d.cast("long"))))).as("main_text"))
      .orderBy(d)
  }

  private val q171Sql =
    """SELECT doc_id,
      |  'Section ' || CAST(doc_id % 10 AS VARCHAR) || chr(10) ||
      |  rtrim(repeat('the data was fine and ', CAST(10 + doc_id % 3 AS INT))) || chr(10) ||
      |  rtrim(repeat('the data was fine and ', CAST(10 + (doc_id + 1) % 3 AS INT))) || chr(10) ||
      |  rtrim(repeat('the data was fine and ', 4)) AS main_text
      |FROM documents WHERE doc_id < 2000
      |ORDER BY doc_id""".stripMargin

  // ---------- q172: AV1 metadata triage (round 14, verdict item 4).
  // A bit-written sequence-header OBU (the Mp4Spec discipline) inside
  // an av1C record, carried in an MP4 av01 entry, a WebM V_AV1
  // CodecPrivate, or an AVIF still's ipco (rotating by id % 3 — the
  // still carriage is the crawl-dominant one); every field — profile,
  // level, tier,
  // dimensions, bit depth, monochrome — is doc_id arithmetic the
  // oracle recomputes, so a defect in the OBU bit walk, the leb128
  // size, either container's config-record extraction, or any closed
  // form breaks the hash.
  private def q172(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val m = gb.column(graft.fn.Kernels.Av1Meta(
      graft.fn.Kernels.Av1Synth(gb.expression(d.cast("long")))))
    Tables.docIdsUnder(s, dir, 2000)
      .select(d, m.as("__m"))
      .select(d,
        col("__m")(0).cast("int").as("width"),
        col("__m")(1).cast("int").as("height"),
        col("__m")(2).cast("int").as("profile"),
        col("__m")(3).cast("int").as("level"),
        col("__m")(4).cast("int").as("tier"),
        col("__m")(5).cast("int").as("bit_depth"),
        col("__m")(6).cast("int").as("monochrome"))
      .orderBy(d)
  }

  private val q172Sql =
    """SELECT doc_id,
      |  CAST(160 + 16 * (doc_id % 20) AS INT) AS width,
      |  CAST(90 + 10 * (doc_id % 15) AS INT) AS height,
      |  CAST(doc_id % 3 AS INT) AS profile,
      |  CAST(doc_id % 12 AS INT) AS level,
      |  CAST(CASE WHEN doc_id % 12 > 7 AND doc_id % 7 <> 0
      |    THEN (doc_id // 3) % 2 ELSE 0 END AS INT) AS tier,
      |  CAST(CASE
      |    WHEN doc_id % 3 = 2 AND (doc_id // 2) % 2 = 1 THEN
      |      CASE WHEN doc_id % 4 = 3 THEN 12 ELSE 10 END
      |    WHEN (doc_id // 2) % 2 = 1 THEN 10
      |    ELSE 8 END AS INT) AS bit_depth,
      |  CAST(CASE WHEN doc_id % 3 <> 1 AND doc_id % 5 = 0
      |    THEN 1 ELSE 0 END AS INT) AS monochrome
      |FROM documents WHERE doc_id < 2000
      |ORDER BY doc_id""".stripMargin

  // ---------- q173/q174: streaming manifests (round 14, verdict
  // item 5 — crawls capture HLS/DASH manifests beside the CMAF
  // segments q156 already reads; (representation, codec, bandwidth,
  // segment URIs) link assets into per-title groups). Fixtures from
  // doc_id arithmetic, oracles pure string arithmetic (the q135
  // sitemap discipline).
  private def q173(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val base = Tables.tbl(s, dir, "documents").select(d).where(d < 2000)
    val masters = base.where(d % 2 === 0)
      .select(d, posexplode(gb.column(graft.fn.Kernels.HlsVariants(
        graft.fn.Kernels.M3u8Synth(gb.expression(d.cast("long")))))).as(Seq("idx", "__v")))
      .select(d, col("idx"), lit("variant").as("kind"),
        col("__v.bandwidth").as("bandwidth"),
        col("__v.width").as("width"), col("__v.height").as("height"),
        col("__v.codecs").as("codecs"), col("__v.uri").as("uri"),
        lit(null).cast("long").as("seq"),
        lit(null).cast("double").as("duration"))
    val medias = base.where(d % 2 === 1)
      .select(d, posexplode(gb.column(graft.fn.Kernels.HlsSegments(
        graft.fn.Kernels.M3u8Synth(gb.expression(d.cast("long")))))).as(Seq("idx", "__s")))
      .select(d, col("idx"), lit("segment").as("kind"),
        lit(null).cast("long").as("bandwidth"),
        lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
        lit(null).cast("string").as("codecs"), col("__s.uri").as("uri"),
        col("__s.seq").as("seq"), col("__s.duration").as("duration"))
    masters.unionByName(medias).orderBy(d, col("idx"))
  }

  private val q173Sql =
    """WITH masters AS (
      |  SELECT doc_id, CAST(v AS INT) AS idx, 'variant' AS kind,
      |    CAST(200000 + 150000 * v + 1000 * (doc_id % 7) AS BIGINT) AS bandwidth,
      |    CAST(640 + 320 * v AS INT) AS width,
      |    CAST(360 + 180 * v AS INT) AS height,
      |    CASE CAST(v % 3 AS INT)
      |      WHEN 0 THEN 'avc1.64001f,mp4a.40.2'
      |      WHEN 1 THEN 'hvc1.1.6.L93.B0,mp4a.40.2'
      |      ELSE 'av01.0.05M.08,opus' END AS codecs,
      |    'v' || v || '/prog_' || doc_id || '.m3u8' AS uri,
      |    CAST(NULL AS BIGINT) AS seq, CAST(NULL AS DOUBLE) AS duration
      |  FROM documents, UNNEST(range(0, 5)) AS t(v)
      |  WHERE doc_id < 2000 AND doc_id % 2 = 0 AND v < 2 + doc_id % 3
      |), medias AS (
      |  SELECT doc_id, CAST(k AS INT) AS idx, 'segment' AS kind,
      |    CAST(NULL AS BIGINT) AS bandwidth,
      |    CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
      |    CAST(NULL AS VARCHAR) AS codecs,
      |    'seg_' || doc_id || '_' || k || '.ts' AS uri,
      |    CAST(doc_id % 50 + k AS BIGINT) AS seq,
      |    CAST(4 + (doc_id + k) % 3 AS DOUBLE) AS duration
      |  FROM documents, UNNEST(range(0, 7)) AS t(k)
      |  WHERE doc_id < 2000 AND doc_id % 2 = 1 AND k < 3 + doc_id % 4
      |)
      |SELECT * FROM (SELECT * FROM masters UNION ALL SELECT * FROM medias)
      |ORDER BY doc_id, idx""".stripMargin

  private def q174(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    Tables.docIdsUnder(s, dir, 2000)
      .select(d, posexplode(gb.column(graft.fn.Kernels.MpdRepresentations(
        graft.fn.Kernels.MpdSynth(gb.expression(d.cast("long")))))).as(Seq("idx", "__r")))
      .select(d, col("idx"),
        col("__r.period").as("period"), col("__r.rep_id").as("rep_id"),
        col("__r.mime").as("mime"), col("__r.codecs").as("codecs"),
        col("__r.bandwidth").as("bandwidth"),
        col("__r.width").as("width"), col("__r.height").as("height"),
        col("__r.media").as("media"))
      .orderBy(d, col("idx"))
  }

  private val q174Sql =
    """WITH video AS (
      |  SELECT doc_id, CAST(r AS INT) AS idx, 0 AS period,
      |    'v' || r AS rep_id, 'video/mp4' AS mime,
      |    CASE WHEN r = 1 THEN 'avc1.640028' ELSE 'avc1.4d401f' END AS codecs,
      |    CAST(300000 + 200000 * r + 1000 * (doc_id % 9) AS BIGINT) AS bandwidth,
      |    CAST(640 + 320 * r AS INT) AS width,
      |    CAST(360 + 180 * r AS INT) AS height,
      |    'video_$RepresentationID$_$Number$.m4s' AS media
      |  FROM documents, UNNEST(range(0, 3)) AS t(r)
      |  WHERE doc_id < 2000 AND r < 2 + doc_id % 2
      |), audio AS (
      |  SELECT doc_id, CAST(2 + doc_id % 2 AS INT) AS idx, 0 AS period,
      |    'a0' AS rep_id, 'audio/mp4' AS mime, 'mp4a.40.2' AS codecs,
      |    CAST(96000 + 100 * (doc_id % 5) AS BIGINT) AS bandwidth,
      |    0 AS width, 0 AS height, 'audio_$Number$.m4s' AS media
      |  FROM documents WHERE doc_id < 2000
      |)
      |SELECT doc_id, idx, CAST(period AS INT) AS period, rep_id, mime,
      |  codecs, bandwidth, CAST(width AS INT) AS width,
      |  CAST(height AS INT) AS height, media
      |FROM (SELECT * FROM video UNION ALL SELECT * FROM audio)
      |ORDER BY doc_id, idx""".stripMargin

  // ---------- q175: audio curation signals (round 14, verdict item
  // 6 — the audio `text_profile`): clipping / silence / RMS / peak
  // over the canonical mono stream of REAL decodes (WAV even ids,
  // FLAC odd — lossless, so ONE arithmetic oracle covers both
  // decoders end-to-end). The fixture's three-region signal keeps
  // every sample a dyadic rational: the sums are exact in double for
  // ANY accumulation order, so rms replays bit-identically.
  private def q175(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val p = gb.column(graft.fn.Kernels.AudioProfile(
      graft.fn.Kernels.AudioProfileSynth(gb.expression(d.cast("long")))))
    Tables.docIdsUnder(s, dir, 2000)
      .select(d, p.as("__p"))
      .select(d,
        col("__p")(0).cast("long").as("n_samples"),
        col("__p")(1).cast("int").as("sample_rate"),
        col("__p")(2).cast("long").as("clip_n"),
        col("__p")(3).cast("long").as("silence_n"),
        round(col("__p")(4), 9).as("rms"),
        round(col("__p")(5), 9).as("peak"))
      .orderBy(d)
  }

  private val q175Sql =
    """WITH p AS (
      |  SELECT doc_id,
      |    1000 + (doc_id % 5) * 200 AS n,
      |    200 + (doc_id % 3) * 50 AS na,
      |    CASE WHEN doc_id % 4 = 0 THEN 32767
      |         ELSE 8192 + (doc_id % 7) * 1024 END AS a,
      |    100 + (doc_id % 50) AS b
      |  FROM documents WHERE doc_id < 2000
      |)
      |SELECT doc_id,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
      |  CAST(CASE WHEN doc_id % 4 = 0 THEN 300 ELSE 0 END AS BIGINT) AS clip_n,
      |  CAST(n - 300 AS BIGINT) AS silence_n,
      |  ROUND(sqrt((300 * a * a + (n - na - 300) * b * b)
      |    / 1073741824.0 / n), 9) AS rms,
      |  ROUND(a / 32768.0, 9) AS peak
      |FROM p
      |ORDER BY doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q175_audio_profile" -> (q175 _),
    "q173_hls_playlists" -> (q173 _),
    "q174_mpd_representations" -> (q174 _),
    "q169_cross_container_neardup" -> (q169 _),
    "q169p_video_dhash_pairs" -> (q169p _),
    "q170_boilerplate_blocks" -> (q170 _),
    "q171_main_text" -> (q171 _),
    "q172_av1_meta" -> (q172 _))

  val oracles: Map[String, String] = Map(
    // q169: rows-only by the documented media convention (no video
    // codec in DuckDB); its pair algebra is hash-gated via q169p
    "q169p_video_dhash_pairs" -> q169pSql,
    "q170_boilerplate_blocks" -> q170Sql,
    "q171_main_text" -> q171Sql,
    "q172_av1_meta" -> q172Sql,
    "q173_hls_playlists" -> q173Sql,
    "q174_mpd_representations" -> q174Sql,
    "q175_audio_profile" -> q175Sql)
}
