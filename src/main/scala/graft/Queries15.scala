package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle corpus, batch 15 (round 11): legacy multi-byte charsets
  * and the full WHATWG charset authority chain.
  *
  * q145 plants byte payloads for every legacy family
  * [[graft.ext.CharsetFamilies]] supports — Shift_JIS (two rows:
  * hiragana via the `sjis` alias, katakana via `Shift-JIS`), EUC-JP,
  * GBK (via its `GB2312` alias), Big5, EUC-KR (via `windows-949`),
  * KOI8-R/U, ISO-8859-5/-7/-15, windows-1250/51/54/56 — plus an
  * unsupported `utf-7` label that must fall through to the sniff
  * chain (ISO-2022-JP itself became a supported stateful family
  * later the same round; q149 gates it). The planted hex constants are hand-anchored public
  * mapping knowledge (あ=82A0 in Shift_JIS, 中=D6D0 in GBK,
  * 한=C7D1 in EUC-KR, …); DuckDB predicts the canonical charset,
  * the decoded text, and the code-point count per variant, so a
  * defect in label normalization, family routing, a state machine,
  * or a mapping table breaks the hash.
  *
  * q146 exercises the authority chain in its REAL position — a WARC
  * corpus the engine writes itself, where pages declare their
  * encoding (a) only in `<meta charset>`, (b) only in
  * `<meta http-equiv=content-type>`, (c) only in the Content-Type
  * header parameter, (d) in BOTH header and meta with conflicting
  * labels (header must win), (e) not at all with UTF-8 bytes, and
  * (f) not at all with windows-1252 bytes. readWarc → response
  * filter → `charset_detect` in ONE plan; DuckDB predicts every
  * row's charset and full decoded page from `documents` alone.
  */
object Queries15 extends ColumnSyntax {

  private def docIds(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, Tables.tbl(s, dir, "documents").select($"doc_id"),
      minParts = s.sparkContext.defaultParallelism)

  // ------------- q145: legacy-family labeled decode, hash-gated
  // (label, planted-hex, canonical, native text) per doc_id % 16
  private val Plants: Seq[(String, String, String, String)] = Seq(
    ("sjis", "82A082A2", "shift_jis", "あい"),
    ("Shift-JIS", "834A8369", "shift_jis", "カナ"),
    ("euc-jp", "C6FCCBDC", "euc-jp", "日本"),
    ("GB2312", "D6D0CEC4", "gbk", "中文"),
    ("big5", "A4A4A4E5", "big5", "中文"),
    ("windows-949", "C7D1B1B9", "euc-kr", "한국"),
    ("koi8-r", "D0D2C9D7C5D4", "koi8-r", "привет"),
    ("KOI8-U", "CDCFD7C1", "koi8-u", "мова"),
    ("iso-8859-5", "DCD8E0", "iso-8859-5", "мир"),
    ("greek", "E1E2E3", "iso-8859-7", "αβγ"),
    ("latin9", "A4DF", "iso-8859-15", "€ß"),
    ("cp1251", "CFF0E8E2E5F2", "windows-1251", "Привет"),
    ("latin5", "F0FE", "windows-1254", "ğş"),
    ("cp1250", "F8F9", "windows-1250", "řů"),
    ("cp1256", "E3D1CDC8C7", "windows-1256", "مرحبا"),
    // unsupported label → sniff fallback (pure-ASCII payload →
    // utf-8; utf-7 is permanently outside the WHATWG registry)
    ("utf-7", null, "utf-8", "ascii"))

  private def q145(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = $"doc_id"
    val id = d.cast("string")
    val label = element_at(
      array(Plants.map(p => lit(p._1)): _*), (d % 16 + 1).cast("int"))
    val payload = element_at(
      array(Plants.map { case (_, hex, _, native) =>
        if (hex == null)
          encode(concat(lit(native + " doc "), id), "UTF-8")
        else
          concat(unhex(lit(hex)), encode(concat(lit(" doc "), id), "UTF-8"))
      }: _*), (d % 16 + 1).cast("int"))
    docIds(s, dir)
      .select(d, label.as("label"), payload.as("payload"))
      .select(d,
        explode(array(gb.column(graft.fn.Kernels.CharsetDecode(
          gb.expression($"label"), gb.expression($"payload"))))).as("__c"))
      .filter($"__c".isNotNull)
      .select(d,
        $"__c.charset".as("charset"),
        $"__c.text".as("text"),
        $"__c.n_chars".as("n_chars"))
      .orderBy(d)
  }

  private val q145Sql: String = {
    val charsetCases = Plants.zipWithIndex.map { case ((_, _, canon, _), i) =>
      s"      WHEN $i THEN '$canon'"
    }.mkString("\n")
    val textCases = Plants.zipWithIndex.map { case ((_, _, _, native), i) =>
      s"      WHEN $i THEN '$native doc ' || doc_id"
    }.mkString("\n")
    s"""WITH expected AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 16 AS INT)
       |$charsetCases
       |    END AS charset,
       |    CASE CAST(doc_id % 16 AS INT)
       |$textCases
       |    END AS text
       |  FROM documents
       |)
       |SELECT doc_id, charset, text, CAST(length(text) AS INT) AS n_chars
       |FROM expected ORDER BY doc_id""".stripMargin
  }

  // ------------- q149: the STATEFUL charset families — ISO-2022-JP
  // escape switching (JIS X 0208 + the ESC ( I katakana state) and
  // GB18030's four-byte extension incl. a supplementary-plane char
  private val Plants149: Seq[(String, String, String, String)] = Seq(
    ("iso-2022-jp", "1B2442467C4B5C386C1B2842", "iso-2022-jp", "日本語"),
    ("csiso2022jp", "1B2442252B254A1B2842", "iso-2022-jp", "カナ"),
    ("gb18030", "D6D0CEC4A2E3", "gb18030", "中文€"),
    // 4-byte BMP (JDK GB18030-2022 mapping — U+1E3F moved to the
    // 2-byte plane in the 2022 amendment, so Ā anchors this path)
    ("gb18030", "81308B38", "gb18030", "Ā"),
    ("gb18030", "9432BE34", "gb18030", "𝄞"), // 4-byte supplementary
    ("iso-2022-jp", "1B284931321B2842", "iso-2022-jp", "ｱｲ")) // ESC ( I

  private def q149(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = $"doc_id"
    val id = d.cast("string")
    val label = element_at(
      array(Plants149.map(p => lit(p._1)): _*), (d % 6 + 1).cast("int"))
    val payload = element_at(
      array(Plants149.map { case (_, hex, _, _) =>
        concat(unhex(lit(hex)), encode(concat(lit(" doc "), id), "UTF-8"))
      }: _*), (d % 6 + 1).cast("int"))
    docIds(s, dir)
      .select(d, label.as("label"), payload.as("payload"))
      .select(d,
        explode(array(gb.column(graft.fn.Kernels.CharsetDecode(
          gb.expression($"label"), gb.expression($"payload"))))).as("__c"))
      .filter($"__c".isNotNull)
      .select(d,
        $"__c.charset".as("charset"),
        $"__c.text".as("text"),
        $"__c.n_chars".as("n_chars"))
      .orderBy(d)
  }

  private val q149Sql: String = {
    val charsetCases = Plants149.zipWithIndex.map { case ((_, _, canon, _), i) =>
      s"      WHEN $i THEN '$canon'"
    }.mkString("\n")
    val textCases = Plants149.zipWithIndex.map { case ((_, _, _, native), i) =>
      s"      WHEN $i THEN '$native doc ' || doc_id"
    }.mkString("\n")
    s"""WITH expected AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 6 AS INT)
       |$charsetCases
       |    END AS charset,
       |    CASE CAST(doc_id % 6 AS INT)
       |$textCases
       |    END AS text
       |  FROM documents
       |)
       |SELECT doc_id, charset, text, CAST(length(text) AS INT) AS n_chars
       |FROM expected ORDER BY doc_id""".stripMargin
  }

  // ------------- q146: the WHATWG authority chain over a WARC corpus
  private val Q146Dir = "/tmp/graft_fixtures/q146_warc"

  private def q146(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val id = d.cast("string")
    def iso(c: org.apache.spark.sql.Column) = encode(c, "ISO-8859-1")
    val headNone = lit("<html><head>")
    val bodyOpen = lit("</head><body>p ")
    val tail = lit("</body></html>")
    val payload =
      when(d % 6 === 0, // no declaration, UTF-8 multibyte body
        encode(concat(headNone, bodyOpen, id, lit(" 中文"), tail), "UTF-8"))
      .when(d % 6 === 1, // ONLY a <meta charset> declaration
        concat(iso(concat(headNone, lit("""<meta charset="sjis">"""),
            bodyOpen, id, lit(" "))),
          unhex(lit("82A082A2")), iso(tail)))
      .when(d % 6 === 2, // ONLY an http-equiv pragma declaration
        concat(iso(concat(headNone,
            lit("""<meta http-equiv="Content-Type" content="text/html; charset=gbk">"""),
            bodyOpen, id, lit(" "))),
          unhex(lit("D6D0CEC4")), iso(tail)))
      .when(d % 6 === 3, // ONLY the Content-Type header parameter
        concat(iso(concat(headNone, bodyOpen, id, lit(" "))),
          unhex(lit("C7D1B1B9")), iso(tail)))
      .when(d % 6 === 4, // header AND conflicting meta: header wins
        concat(iso(concat(headNone, lit("""<meta charset="gbk">"""),
            bodyOpen, id, lit(" "))),
          unhex(lit("D0D2C9D7C5D4")), iso(tail)))
      .otherwise( // no declaration, 1252 bytes force the fallback
        concat(iso(concat(headNone, bodyOpen, id, lit(" "))),
          unhex(lit("939480")), iso(tail)))
    val ctype =
      when(d % 6 === 3, lit("text/html; charset=euc-kr"))
      .when(d % 6 === 4, lit("text/html; charset=koi8-r"))
      .otherwise(lit("text/html"))
    // bounded corpus (the media-gate convention): this entry gates
    // the authority CHAIN's correctness — WARC-at-scale throughput
    // is q133/q136/q144's ledger; an unbounded corpus would only
    // multiply gzip members against an oracle that replays string
    // arithmetic by construction
    val rows = Tables.docIdsUnder(s, dir, 2000)
      .select(
        concat(lit("https://chain.test/doc/"), id),
        lit("2026-08-15T00:00:00Z"),
        ctype,
        payload)
      .as[(String, String, String, Array[Byte])]
    val hp = new org.apache.hadoop.fs.Path(Q146Dir)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val nSeg = math.max(8, s.sparkContext.defaultParallelism)
    graft.io.Warc.writeWarcGz(rows.repartition(nSeg), Q146Dir, wireVariants = true)
    graft.io.Warc.responses(graft.io.Warc.readWarc(s, Q146Dir))
      .where(col("http_status") === 200 &&
             col("http_content_type").startsWith("text/html"))
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        explode(array(gb.column(graft.fn.Kernels.CharsetDetect(
          gb.expression(col("http_content_type")),
          gb.expression(col("payload")))))).as("__c"))
      .filter(col("__c").isNotNull)
      .select(col("doc_id"),
        col("__c.charset").as("charset"),
        col("__c.text").as("text"))
      .orderBy(col("doc_id"))
  }

  private val q146Sql =
    """SELECT doc_id,
      |  CASE CAST(doc_id % 6 AS INT)
      |    WHEN 0 THEN 'utf-8'
      |    WHEN 1 THEN 'shift_jis'
      |    WHEN 2 THEN 'gbk'
      |    WHEN 3 THEN 'euc-kr'
      |    WHEN 4 THEN 'koi8-r'
      |    ELSE 'windows-1252' END AS charset,
      |  CASE CAST(doc_id % 6 AS INT)
      |    WHEN 0 THEN '<html><head></head><body>p ' || doc_id || ' 中文</body></html>'
      |    WHEN 1 THEN '<html><head><meta charset="sjis"></head><body>p ' || doc_id || ' あい</body></html>'
      |    WHEN 2 THEN '<html><head><meta http-equiv="Content-Type" content="text/html; charset=gbk"></head><body>p ' || doc_id || ' 中文</body></html>'
      |    WHEN 3 THEN '<html><head></head><body>p ' || doc_id || ' 한국</body></html>'
      |    WHEN 4 THEN '<html><head><meta charset="gbk"></head><body>p ' || doc_id || ' привет</body></html>'
      |    ELSE '<html><head></head><body>p ' || doc_id || ' “”€</body></html>' END AS text
      |FROM documents
      |WHERE doc_id < 2000
      |ORDER BY doc_id""".stripMargin

  // ------------- q147: Opus packet structure (RFC 6716 §3) over a
  // CRC-verified Ogg Opus corpus — all four frame-packing codes,
  // both frame-length encodings, VBR/CBR, 255-chained padding; the
  // oracle replays [[graft.ext.OpusFixtures]]'s closed forms
  private def q147(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val synth = gb.column(graft.fn.Kernels.OpusSynth(gb.expression($"doc_id".cast("long"))))
    docIds(s, dir).select($"doc_id", synth.as("ogg"))
      .select($"doc_id",
        explode(array(gb.column(graft.fn.Kernels.OpusTocStats(gb.expression($"ogg"))))).as("__s"))
      .filter($"__s".isNotNull)
      .select($"doc_id",
        $"__s.channels".as("channels"),
        $"__s.pre_skip".as("pre_skip"),
        $"__s.n_packets".as("n_packets"),
        $"__s.n_frames".as("n_frames"),
        $"__s.total_samples".as("total_samples"),
        $"__s.toc_sum".as("toc_sum"),
        $"__s.payload_sum".as("payload_sum"),
        $"__s.pad_sum".as("pad_sum"),
        $"__s.n_vbr".as("n_vbr"),
        $"__s.n_silk".as("n_silk"),
        $"__s.n_hybrid".as("n_hybrid"),
        $"__s.n_celt".as("n_celt"))
      .orderBy($"doc_id")
  }

  private val q147Sql =
    """WITH base AS (
      |  SELECT doc_id AS d,
      |    CAST(1 + doc_id % 2 AS INT) AS channels,
      |    CAST(doc_id % 400 AS INT) AS pre_skip,
      |    3 + doc_id % 4 AS a,
      |    doc_id % 2 AS s
      |  FROM documents
      |), pk AS (
      |  SELECT b.d, b.s, t.p,
      |    (b.d + 5*t.p) % 32 AS cfg,
      |    (b.d + t.p) % 4 AS code
      |  FROM base b, UNNEST(range(0, 7)) AS t(p)
      |  WHERE t.p < b.a
      |), pk2 AS (
      |  SELECT d, s, p, cfg, code,
      |    CASE WHEN cfg < 12 THEN [480,960,1920,2880][CAST(cfg % 4 AS INT) + 1]
      |         WHEN cfg < 16 THEN [480,960][CAST(cfg % 2 AS INT) + 1]
      |         ELSE [120,240,480,960][CAST(cfg % 4 AS INT) + 1] END AS dur
      |  FROM pk
      |), pk3 AS (
      |  SELECT d, s, p, cfg, code, dur,
      |    1 + (d + p) % LEAST(3, 5760 // dur) AS m3,
      |    CASE WHEN code = 3 AND (d + 3*p) % 2 = 1 THEN 1 ELSE 0 END AS vbr3,
      |    CASE WHEN code = 3 AND p % 2 = 0 THEN ((d + p) % 3) * 150 ELSE 0 END AS pad3
      |  FROM pk2
      |), vlen AS (
      |  SELECT d, p, SUM(5 + (d + p + 7*k.k) % 60) AS vsum
      |  FROM pk3, UNNEST(range(0, 2)) AS k(k)
      |  WHERE code = 3 AND vbr3 = 1 AND k.k < m3 - 1
      |  GROUP BY d, p
      |), pk4 AS (
      |  SELECT t.d, t.s, t.p, t.cfg, t.code, t.dur, t.m3, t.vbr3, t.pad3,
      |    CASE t.code WHEN 0 THEN 1 WHEN 3 THEN t.m3 ELSE 2 END AS frames,
      |    CASE t.code
      |      WHEN 0 THEN 20 + (7*t.d + 13*t.p) % 200
      |      WHEN 1 THEN 2 * (15 + (5*t.d + 11*t.p) % 120)
      |      WHEN 2 THEN (3*t.d + 17*t.p) % 300 + 10 + (t.d + t.p) % 50
      |      ELSE CASE WHEN t.vbr3 = 1 THEN COALESCE(v.vsum, 0) + 8 + (t.d + t.p) % 40
      |                ELSE t.m3 * (12 + (t.d + t.p) % 30) END END AS payload
      |  FROM pk3 t LEFT JOIN vlen v ON t.d = v.d AND t.p = v.p
      |)
      |SELECT b.d AS doc_id, b.channels, b.pre_skip,
      |  CAST(b.a AS INT) AS n_packets,
      |  CAST(SUM(frames) AS BIGINT) AS n_frames,
      |  CAST(SUM(frames * dur) AS BIGINT) AS total_samples,
      |  CAST(SUM(cfg*8 + b.s*4 + code) AS BIGINT) AS toc_sum,
      |  CAST(SUM(payload) AS BIGINT) AS payload_sum,
      |  CAST(SUM(pad3) AS BIGINT) AS pad_sum,
      |  CAST(SUM(vbr3) AS INT) AS n_vbr,
      |  CAST(SUM(CASE WHEN cfg < 12 THEN 1 ELSE 0 END) AS INT) AS n_silk,
      |  CAST(SUM(CASE WHEN cfg >= 12 AND cfg < 16 THEN 1 ELSE 0 END) AS INT) AS n_hybrid,
      |  CAST(SUM(CASE WHEN cfg >= 16 THEN 1 ELSE 0 END) AS INT) AS n_celt
      |FROM base b JOIN pk4 ON b.d = pk4.d
      |GROUP BY b.d, b.channels, b.pre_skip, b.a
      |ORDER BY b.d""".stripMargin

  // ------------- q148: Vorbis ENCODE → file sink → full decode —
  // the audio round-trip gate (q132's WARC pattern for media). The
  // encoder persists its own integer accounting (packet count,
  // written residue sum, input length) to parquet; the engine then
  // writes real .ogg FILES via [[graft.io.MediaFiles]], reads them
  // back with binaryFile, and runs the COMPLETE [[VorbisDecode]]
  // signal path. The oracle reads the encode-side fixture and
  // replays the flat-floor closed forms (510 post / 32640 curve per
  // packet) — so the decode side must reproduce the encoder's
  // integers bit-for-bit through container, Huffman, VQ, floor, and
  // MDCT phase, or the hash breaks.
  private val Q148Fixture = "/tmp/graft_fixtures/q148_venc.parquet"
  private val Q148Dir = "/tmp/graft_fixtures/q148_ogg"

  private def q148(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.{graftbridge => gb}
    val enc = gb.column(graft.fn.Kernels.VorbisEncodeSynth(gb.expression(col("doc_id").cast("long"))))
    // bounded corpus (the q142 media-gate convention): the round-trip
    // gate's value is the bit-for-bit accounting, not file-sink
    // throughput — a growing sf would only multiply .ogg files
    // against an oracle that reads a parquet fixture by construction
    val dfE = docIds(s, dir).where(col("doc_id") < 1000)
      .select(col("doc_id"), explode(array(enc)).as("__e"))
      .select(col("doc_id"), col("__e.ogg").as("ogg"), col("__e.rate").as("rate"),
        col("__e.n_packets").as("n_packets"), col("__e.res_sum").as("res_sum"),
        col("__e.n_samples").as("n_samples"))
    dfE.write.mode("overwrite").parquet(Q148Fixture)
    val hp = new org.apache.hadoop.fs.Path(Q148Dir)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    graft.io.MediaFiles.write(
      s.read.parquet(Q148Fixture).select(col("doc_id"), col("ogg"))
        .as[(Long, Array[Byte])], Q148Dir, "ogg")
    // directory load + suffix filter, not a glob: a glob pattern that
    // momentarily matches nothing throws FileNotFound (observed once
    // as a recovered transient in a full Verify run); listing an
    // existing directory cannot
    s.read.format("binaryFile").load(Q148Dir)
      .where(col("path").endsWith(".ogg"))
      .select(
        regexp_extract(col("path"), "/(\\d+)\\.ogg$", 1).cast("long").as("doc_id"),
        explode(array(gb.column(graft.fn.Kernels.VorbisPcmStats(
          gb.expression(col("content")))))).as("__s"))
      .filter(col("__s").isNotNull)
      .select(col("doc_id"),
        col("__s.rate").as("rate"),
        col("__s.n_packets").as("n_packets"),
        col("__s.post_sum").as("post_sum"),
        col("__s.res_sum").as("res_sum"),
        col("__s.curve_sum").as("curve_sum"),
        col("__s.pcm_samples").as("pcm_samples"))
      .orderBy(col("doc_id"))
  }

  private val q148Sql =
    s"""SELECT doc_id,
       |  CAST(rate AS BIGINT) AS rate,
       |  CAST(n_packets AS INT) AS n_packets,
       |  CAST(n_packets * 510 AS BIGINT) AS post_sum,
       |  CAST(res_sum AS BIGINT) AS res_sum,
       |  CAST(n_packets * 32640 AS BIGINT) AS curve_sum,
       |  CAST(n_samples AS BIGINT) AS pcm_samples
       |FROM read_parquet('$Q148Fixture/*.parquet')
       |ORDER BY doc_id""".stripMargin

  // ------------- q150: crawl pipeline v2 — the round-11 integration
  // flagship. A WARC corpus whose pages declare their encodings the
  // way the real web does (nothing / meta / header param) and whose
  // hosts exercise the full PSL (plain deep suffixes, *.ck wildcard,
  // !www.ck and !city.kobe.jp exceptions, an unknown TLD, a bare
  // hostname): readWarc → response filter → charset_detect →
  // html_text → text_profile → registered_domain_psl in ONE plan.
  // DuckDB predicts every surviving row's domain, charset, extracted
  // text, and profile from `documents` alone.
  private val Q150Dir = "/tmp/graft_fixtures/q150_warc"

  private def q150(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val id = d.cast("string")
    def iso(c: org.apache.spark.sql.Column) = encode(c, "ISO-8859-1")
    val host = element_at(array(
      concat(lit("w"), (d % 7).cast("string"), lit(".news.example.co.uk")),
      concat(lit("x"), (d % 5).cast("string"), lit(".a.b.ck")),
      lit("www.ck"),
      concat(lit("m"), (d % 3).cast("string"), lit(".city.kobe.jp")),
      concat(lit("s"), (d % 4).cast("string"), lit(".chuo.kobe.jp")),
      lit("cdn.example.qab"),
      concat(lit("p"), (d % 2).cast("string"), lit(".site.com")),
      lit("intranet")), (d % 8 + 1).cast("int"))
    val bodyPre = concat(lit("<html><head></head><body>p "), id, lit(" "))
    val metaPre = concat(
      lit("""<html><head><meta charset="sjis"></head><body>p """), id, lit(" "))
    val payload =
      when(d % 3 === 0,
        encode(concat(bodyPre, lit("quick brown fox 中文</body></html>")), "UTF-8"))
      .when(d % 3 === 1,
        concat(iso(concat(metaPre, lit("lazy dog jumps "))),
          unhex(lit("82A082A2")), iso(lit("</body></html>"))))
      .otherwise(
        concat(iso(concat(bodyPre, lit("over the moon "))),
          unhex(lit("C7D1B1B9")), iso(lit("</body></html>"))))
    val ctype =
      when(d % 3 === 2, lit("text/html; charset=euc-kr"))
        .otherwise(lit("text/html"))
    // bounded corpus, same rationale as q146: the v2 pipeline gates
    // chain SEMANTICS; the scale-graded crawl pipeline remains q133
    val rows = Tables.docIdsUnder(s, dir, 5000)
      .select(
        concat(lit("https://"), host, lit("/doc/"), id),
        lit("2026-08-15T00:00:00Z"),
        ctype,
        payload)
      .as[(String, String, String, Array[Byte])]
    val hp = new org.apache.hadoop.fs.Path(Q150Dir)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val nSeg = math.max(8, s.sparkContext.defaultParallelism)
    graft.io.Warc.writeWarcGz(rows.repartition(nSeg), Q150Dir, wireVariants = true)
    val psl = s.sparkContext.broadcast(
      graft.ext.Psl.parseFile("data/psl_snapshot.dat"))
    val detected = graft.io.Warc.responses(graft.io.Warc.readWarc(s, Q150Dir))
      .where(col("http_status") === 200 &&
             col("http_content_type").startsWith("text/html"))
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        regexp_extract(col("target_uri"), "^https://([^/]+)/", 1).as("host"),
        explode(array(gb.column(graft.fn.Kernels.CharsetDetect(
          gb.expression(col("http_content_type")),
          gb.expression(col("payload")))))).as("__c"))
      .filter(col("__c").isNotNull)
      .select(col("doc_id"),
        gb.column(graft.fn.RegisteredDomainPsl(
          gb.expression(col("host")), psl)).as("domain"),
        col("__c.charset").as("charset"),
        Queries13.htmlTextCol(col("__c.text")).as("text_out"))
    val p = gb.column(graft.fn.Kernels.TextProfile(gb.expression(col("text_out"))))
    detected.select(col("doc_id"), col("domain"), col("charset"),
        col("text_out"), explode(array(p)).as("__p"))
      .filter(col("__p").isNotNull)
      .select(col("doc_id"), col("domain"), col("charset"), col("text_out"),
        col("__p.n_tokens").as("n_tokens"),
        col("__p.lang_id").as("lang_id"),
        round(col("__p.quality"), 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  private val q150Sql =
    s"""WITH ext AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 3 AS INT)
       |      WHEN 0 THEN 'p ' || doc_id || ' quick brown fox 中文'
       |      WHEN 1 THEN 'p ' || doc_id || ' lazy dog jumps あい'
       |      ELSE 'p ' || doc_id || ' over the moon 한국' END AS text_out
       |  FROM documents
       |  WHERE doc_id < 5000
       |),
       |${TextProfileSql.ctes("ext", "doc_id", "text_out")},
       |prof AS (
       |${TextProfileSql.select("doc_id")}
       |)
       |SELECT e.doc_id,
       |  CASE CAST(e.doc_id % 8 AS INT)
       |    WHEN 0 THEN 'example.co.uk'
       |    WHEN 1 THEN 'a.b.ck'
       |    WHEN 2 THEN 'www.ck'
       |    WHEN 3 THEN 'city.kobe.jp'
       |    WHEN 4 THEN 's' || (e.doc_id % 4) || '.chuo.kobe.jp'
       |    WHEN 5 THEN 'example.qab'
       |    WHEN 6 THEN 'site.com'
       |    ELSE 'intranet' END AS domain,
       |  CASE CAST(e.doc_id % 3 AS INT)
       |    WHEN 0 THEN 'utf-8'
       |    WHEN 1 THEN 'shift_jis'
       |    ELSE 'euc-kr' END AS charset,
       |  e.text_out, p.n_tokens, p.lang_id, p.quality
       |FROM ext e JOIN prof p USING (doc_id)
       |ORDER BY e.doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q145_charset_legacy" -> (q145 _),
    "q146_charset_chain" -> (q146 _),
    "q147_opus_toc" -> (q147 _),
    "q148_vorbis_roundtrip" -> (q148 _),
    "q149_charset_stateful" -> (q149 _),
    "q150_crawl_v2" -> (q150 _))

  val oracles: Map[String, String] = Map(
    "q145_charset_legacy" -> q145Sql,
    "q146_charset_chain" -> q146Sql,
    "q147_opus_toc" -> q147Sql,
    "q148_vorbis_roundtrip" -> q148Sql,
    "q149_charset_stateful" -> q149Sql,
    "q150_crawl_v2" -> q150Sql)
}
