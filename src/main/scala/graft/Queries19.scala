package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 queries: the AV1 keyframe decoder lands
  * ([[graft.ext.Av1Decode]], golden-exact vs libaom+dav1d), and the
  * triage/composition surface around it — codec-profile gating
  * BEFORE decode (q176) and the manifest→CMAF asset linkage shape
  * streaming crawls dedup with (q177).
  */
object Queries19 {
  import org.apache.spark.sql.{graftbridge => gb}

  // ---------- q176: AVIF codec-profile triage (verdict item 7).
  // The crawl-dominant AV1 image carriage, gated on dimensions AND
  // codec capability (profile / bit depth / monochrome from the av1C
  // walk) before any decode is attempted. Fixtures are the q172
  // family pinned to the AVIF carriage; every output column is
  // doc_id arithmetic the oracle replays.
  private def q176(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val avif = gb.column(graft.fn.Kernels.AvifSynth(gb.expression(d.cast("long"))))
    Tables.docIdsUnder(s, dir, 2000)
      .select(d, avif.as("__b"))
      .select(d,
        gb.column(graft.fn.Kernels.ImageDims(gb.expression(col("__b")))).as("__d"),
        gb.column(graft.fn.Kernels.ImageCodecProfile(gb.expression(col("__b"))))
          .as("__c"))
      .select(d,
        col("__d.format").as("format"),
        col("__d.width").cast("int").as("width"),
        col("__d.height").cast("int").as("height"),
        col("__c.codec").as("codec"),
        col("__c.profile").cast("int").as("profile"),
        col("__c.bit_depth").cast("int").as("bit_depth"),
        col("__c.monochrome").cast("int").as("monochrome"))
      .orderBy(d)
  }

  private val q176Sql =
    """SELECT doc_id,
      |  'avif' AS format,
      |  CAST(160 + 16 * (doc_id % 20) AS INT) AS width,
      |  CAST(90 + 10 * (doc_id % 15) AS INT) AS height,
      |  'av1' AS codec,
      |  CAST(doc_id % 3 AS INT) AS profile,
      |  CAST(CASE
      |    WHEN doc_id % 3 = 2 AND (doc_id // 2) % 2 = 1 THEN
      |      CASE WHEN doc_id % 4 = 3 THEN 12 ELSE 10 END
      |    WHEN (doc_id // 2) % 2 = 1 THEN 10
      |    ELSE 8 END AS INT) AS bit_depth,
      |  CAST(CASE WHEN doc_id % 3 <> 1 AND doc_id % 5 = 0
      |    THEN 1 ELSE 0 END AS INT) AS monochrome
      |FROM documents WHERE doc_id < 2000
      |ORDER BY doc_id""".stripMargin

  // ---------- q177: manifest → CMAF asset linkage (verdict item 2).
  // The de-duplication shape streaming crawls need: an HLS master
  // names its renditions, each rendition's media playlist names its
  // segments, the segments are real fMP4/H.264 assets — and the SAME
  // TITLE re-encoded at three bitrates must pair rendition-by-
  // rendition. The Spark side drives the WHOLE chain through the
  // parse kernels (HlsVariants → media join → HlsSegments → asset
  // join → band pair algebra); the decode half persists as a
  // (uri, dhash) fixture parquet (the q169p discipline) so the
  // oracle replays the composition from the same file — a parse,
  // linkage, or pairing defect breaks the hash.
  private def vscene(seed: Int)(x: Int, y: Int): Int = {
    val h = seed * 2654435761L
    val fu = 1 + (h % 6).toInt.abs; val fv = 1 + ((h >> 8) % 5).toInt.abs
    val p1 = ((h >> 16) % 628).toInt / 100.0
    (127 + 90 * math.sin(fu * x / 2.5 + fv * y / 2.0 + p1)).toInt & 0xFF
  }

  private val Titles = 24
  private def masterText(t: Long): String = {
    val sb = new StringBuilder("#EXTM3U\n")
    for (r <- 0 until 3) {
      val bw = 400000 + 350000 * r + 1000 * (t % 7)
      val wd = 640 + 320 * r
      sb.append(s"#EXT-X-STREAM-INF:BANDWIDTH=$bw,RESOLUTION=${wd}x${wd * 9 / 16},CODECS=\"avc1.64001f\"\n")
      sb.append(s"t$t/r$r.m3u8\n")
    }
    sb.toString
  }
  private def mediaText(t: Long, r: Long): String = {
    val sb = new StringBuilder(
      "#EXTM3U\n#EXT-X-TARGETDURATION:4\n#EXT-X-MEDIA-SEQUENCE:0\n")
    for (s <- 0 until 2) {
      sb.append("#EXTINF:4.0,\n")
      sb.append(s"t${t}_r${r}_s$s.mp4\n")
    }
    sb.toString
  }

  private val Q177HashFixture = "/tmp/graft_fixtures/q177_seg_dhash.parquet"

  private def q177(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // decode half -> fixture parquet: every segment asset is a real
    // H.264 MP4 whose keyframe is the TITLE's scene (rendition 2
    // mildly perturbed, the re-encode shape)
    val segRows = for {
      t <- 0 until Titles; r <- 0 until 3; g <- 0 until 2
    } yield {
      val base = vscene(t * 2 + g) _
      val px: (Int, Int) => Int =
        if (r == 2) (x, y) => math.min(255,
          base(x, y) + (if ((x * 31 + y * 17) % 37 == 0) 2 else 0))
        else base
      (s"t${t}_r${r}_s$g.mp4",
        graft.ext.VideoFixtures.multiKeyframeMp4(Seq(px)))
    }
    s.createDataFrame(segRows).toDF("uri", "content")
      .select($"uri",
        explode(gb.column(graft.fn.Kernels.VideoKeyframeDhashes(
          gb.expression($"content"), 8))).as("dhash"))
      .coalesce(1)
      .write.mode("overwrite").parquet(Q177HashFixture)
    // manifest corpus: masters + media playlists (string fixtures the
    // oracle rebuilds by the same closed forms)
    val masters = s.createDataFrame(
        (0 until Titles).map(t => (t.toLong, masterText(t))))
      .toDF("title", "text")
    val medias = s.createDataFrame(
        (for (t <- 0 until Titles; r <- 0 until 3)
          yield (s"t$t/r$r.m3u8", mediaText(t, r))))
      .toDF("self_uri", "text")
    val variants = masters
      .select($"title", posexplode(gb.column(graft.fn.Kernels.HlsVariants(
        gb.expression($"text")))).as(Seq("rend", "__v")))
      .select($"title", $"rend", $"__v.uri".as("media_uri"),
        $"__v.bandwidth".as("bandwidth"))
    val segments = medias
      .select($"self_uri", posexplode(gb.column(graft.fn.Kernels.HlsSegments(
        gb.expression($"text")))).as(Seq("seg_idx", "__s")))
      .select($"self_uri", $"seg_idx", $"__s.uri".as("seg_uri"))
    val linked = variants
      .join(segments, $"media_uri" === $"self_uri")
      .join(s.read.parquet(Q177HashFixture), $"seg_uri" === $"uri")
      .select($"title", $"rend", $"bandwidth", $"seg_idx", $"dhash")
    val a = linked.select($"title", $"seg_idx", $"rend".as("a_rend"),
      $"dhash".as("ha"))
    val b = linked.select($"title".as("tb"), $"seg_idx".as("sb"),
      $"rend".as("b_rend"), $"dhash".as("hb"))
    a.join(b, $"title" === $"tb" && $"seg_idx" === $"sb" &&
        $"a_rend" < $"b_rend")
      .select($"title", $"seg_idx", $"a_rend", $"b_rend",
        bit_count($"ha".bitwiseXOR($"hb")).cast("int").as("hamming"))
      .where($"hamming" <= 3)
      .orderBy($"title", $"seg_idx", $"a_rend", $"b_rend")
  }

  private val q177Sql =
    s"""WITH h AS (
       |  SELECT uri, dhash FROM read_parquet('$Q177HashFixture/*.parquet')
       |), variants AS (
       |  SELECT t AS title, r AS rend,
       |    't' || t || '/r' || r || '.m3u8' AS media_uri,
       |    CAST(400000 + 350000 * r + 1000 * (t % 7) AS BIGINT) AS bandwidth
       |  FROM UNNEST(range(0, $Titles)) AS tt(t), UNNEST(range(0, 3)) AS rr(r)
       |), segments AS (
       |  SELECT 't' || t || '/r' || r || '.m3u8' AS self_uri,
       |    g AS seg_idx, 't' || t || '_r' || r || '_s' || g || '.mp4' AS seg_uri
       |  FROM UNNEST(range(0, $Titles)) AS tt(t), UNNEST(range(0, 3)) AS rr(r),
       |       UNNEST(range(0, 2)) AS gg(g)
       |), linked AS (
       |  SELECT v.title, v.rend, s.seg_idx, h.dhash
       |  FROM variants v
       |  JOIN segments s ON v.media_uri = s.self_uri
       |  JOIN h ON s.seg_uri = h.uri
       |)
       |SELECT a.title, CAST(a.seg_idx AS INT) AS seg_idx,
       |  CAST(a.rend AS INT) AS a_rend, CAST(b.rend AS INT) AS b_rend,
       |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
       |FROM linked a JOIN linked b
       |  ON a.title = b.title AND a.seg_idx = b.seg_idx AND a.rend < b.rend
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
       |ORDER BY a.title, a.seg_idx, a_rend, b_rend""".stripMargin

  // ---------- q178: WebM Vorbis carriage agreement (verdict item
  // 9). The q141 Vorbis fixtures re-laced into a WebM A_VORBIS track
  // and decoded through the SAME VorbisDecode core; the output pins
  // rate/channels/pcm_samples to the q141 closed forms and the
  // sample-for-sample agreement flag to 1 — a CodecPrivate lacing,
  // block-walk, or decode-core divergence breaks the hash.
  private def q178(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val m = gb.column(graft.fn.Kernels.WebmVorbisAgree(gb.expression(d.cast("long"))))
    // Round 16: this query shipped without the two conventions every
    // other synth+decode query uses, and paid for both — the
    // single-row-group scan ran the double-carriage decode of all 500
    // streams in ONE task (measured 2.5 s single-task stages), and the
    // missing Generate barrier let CollapseProject re-evaluate the
    // kernel under the not-null filter. Spread to the core count
    // (doc_id-only input, CPU-bound kernel — the q137 docIds rule) and
    // pin one evaluation per row with explode(array(...)).
    Tables.docIdsUnder(s, dir, 500)
      .select(d, explode(array(m)).as("__m"))
      .where(col("__m").isNotNull)
      .select(d,
        col("__m")(0).cast("long").as("rate"),
        col("__m")(1).cast("int").as("channels"),
        col("__m")(2).cast("long").as("pcm_samples"),
        col("__m")(3).cast("int").as("carriage_agree"))
      .orderBy(d)
  }

  private val q178Sql =
    """WITH base AS (
      |  SELECT doc_id,
      |    CAST(1 + doc_id % 2 AS INT) AS c,
      |    [8000,22050,44100,48000][CAST(doc_id % 4 AS INT) + 1] AS rate,
      |    1 + doc_id % 2 AS m,
      |    20 + doc_id % 3 AS a
      |  FROM documents WHERE doc_id < 500
      |), blocks AS (
      |  SELECT b.doc_id, t.p,
      |    CASE WHEN b.m = 1 THEN 256
      |         WHEN (b.doc_id + t.p) % 2 = 1 THEN 2048 ELSE 256 END AS n
      |  FROM base b, UNNEST(range(0, 23)) AS t(p)
      |  WHERE t.p < b.a
      |), pcm AS (
      |  SELECT b.doc_id,
      |    SUM((bp.n + bc.n) // 4) AS pcm_samples
      |  FROM base b
      |  JOIN blocks bc USING (doc_id)
      |  JOIN blocks bp ON bp.doc_id = b.doc_id AND bp.p = bc.p - 1
      |  WHERE bc.p >= 1
      |  GROUP BY b.doc_id
      |)
      |SELECT b.doc_id,
      |  CAST(b.rate AS BIGINT) AS rate,
      |  b.c AS channels,
      |  CAST(p.pcm_samples AS BIGINT) AS pcm_samples,
      |  CAST(1 AS INT) AS carriage_agree
      |FROM base b JOIN pcm p USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q176_avif_triage" -> (q176 _),
    "q177_manifest_asset_linkage" -> (q177 _),
    "q178_webm_vorbis_carriage" -> (q178 _))

  val oracles: Map[String, String] = Map(
    "q176_avif_triage" -> q176Sql,
    "q177_manifest_asset_linkage" -> q177Sql,
    "q178_webm_vorbis_carriage" -> q178Sql)
}
