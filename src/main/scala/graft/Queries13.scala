package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle corpus, batch 13 (round 9): web-corpus ingestion — the
  * front door of a crawl-derived training pipeline. q131 gates the
  * [[graft.fn.HtmlKernels]] visible-text extraction hash-exact (the
  * oracle replays the documented regex-pass pipeline step for step in
  * SQL); q132 gates the full [[graft.io.Warc]] path — per-record-gzip
  * WARC framing, HTTP/1.1 head parse, chunked de-framing,
  * gzip/deflate payload decoding — by writing a WARC corpus with the
  * engine's own sink (wire-variant encodings cycling per record),
  * reading it back, extracting, and letting the oracle PREDICT the
  * result from the source table alone: any framing or decode bug
  * breaks the hash.
  *
  * Both queries synthesize the page deterministically from
  * `documents` with a template defined ONCE here and interpolated
  * into both engines, entity-escaping the document text so the
  * extraction must round-trip it exactly.
  */
object Queries13 extends ColumnSyntax {

  import org.apache.spark.sql.{graftbridge => gb}

  private[graft] def htmlTextCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    gb.column(graft.fn.Kernels.HtmlText(gb.expression(c)))

  // ------------------------------------------- shared HTML template
  private[graft] val H1 = "<!DOCTYPE html><html lang=\""
  private[graft] val H2 = "\"><head><title>Doc "
  private[graft] val H3 = "</title><style type=\"text/css\">body{color:#222}\n" +
    ".nav{display:none}</style><script type=\"text/javascript\">var t=1<2&&\"x\";\n" +
    "if(t){t=0}</script></head><body><!-- source: "
  private[graft] val H4 = "\n --><div class=\"nav\"><a href=\"/home\">Home</a>" +
    "&nbsp;|&nbsp;<a href=\"/about?id="
  private[graft] val H5 = "\">About</a></div><p>"
  private[graft] val H6 = "</p><p>&amp;copy; 2026 &quot;Graft&quot; &#39;q&#39; &copy;</p></body></html>"

  /** DuckDB expression for a Scala string constant: quotes doubled,
    * newlines as `chr(10)` (standard strings do not process escapes).
    */
  private[graft] def sqlStr(s: String): String =
    s.split("\n", -1).map(p => "'" + p.replace("'", "''") + "'")
      .mkString(" || chr(10) || ")

  /** The template concat, defined ONCE for q131/q132/q133 (the SQL
    * twin is [[synthSqlOver]]); `textCol` names the already-escaped
    * source column.
    */
  private def escCol(textCol: String): org.apache.spark.sql.Column = expr(
    s"replace(replace(replace($textCol, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')")

  private[graft] def synthHtmlCol(escaped: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit(H1), $"lang", lit(H2), $"doc_id".cast("string"), lit(H3),
      $"source", lit(H4), $"doc_id".cast("string"), lit(H5), escaped, lit(H6))

  /** doc_id, lang, source, html — the synthesized page. */
  private[graft] def synthHtml(s: SparkSession, dir: String): DataFrame =
    Tables.docsPar(s, dir).select($"doc_id", $"lang", $"source",
      synthHtmlCol(escCol("text")).as("html"))

  private[graft] def synthSqlOver(src: String): String =
    s"""synth AS (
       |  SELECT doc_id, ${sqlStr(H1)} || lang || ${sqlStr(H2)} || doc_id ||
       |    ${sqlStr(H3)} || source || ${sqlStr(H4)} || doc_id ||
       |    ${sqlStr(H5)} ||
       |    replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
       |    ${sqlStr(H6)} AS html
       |  FROM $src
       |)""".stripMargin

  private val synthSql = synthSqlOver("documents")

  /** The [[graft.fn.HtmlKernels]] pass pipeline, replayed in SQL
    * step for step (see that object's scaladoc for the contract).
    */
  private[graft] val extractSql =
    """ext AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(
      |      replace(replace(replace(replace(replace(replace(
      |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      |          '<script[^>]*>.*?</script>', ' ', 'gis'),
      |          '<style[^>]*>.*?</style>', ' ', 'gis'),
      |          '<!--.*?-->', ' ', 'gs'),
      |          '<[^>]*>', ' ', 'g'),
      |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |        '&nbsp;', ' '), '&amp;', '&'),
      |      '[ \t\n\f\r]+', ' ', 'g')) AS text_out
      |  FROM synth
      |)""".stripMargin

  // --------------------------- q131: html_text kernel, hash-gated
  private def q131(s: SparkSession, dir: String): DataFrame =
    synthHtml(s, dir)
      .select($"doc_id", htmlTextCol($"html").as("text_out"))
      .withColumn("n_out", length($"text_out").cast("long"))
      .orderBy($"doc_id")

  private val q131Sql =
    s"""WITH $synthSql, $extractSql
       |SELECT doc_id, text_out, CAST(length(text_out) AS BIGINT) AS n_out
       |FROM ext ORDER BY doc_id""".stripMargin

  // ------------------- q132: WARC write → read → extract, hash-gated
  private val Q132Dir = "/tmp/graft_fixtures/q132_warc"

  private def q132(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = synthHtml(s, dir).select(
        concat(lit("https://ex.test/doc/"), col("doc_id").cast("string")),
        lit("2026-08-14T00:00:00Z"),
        lit("text/html; charset=utf-8"),
        encode(col("html"), "UTF-8"))
      .as[(String, String, String, Array[Byte])]
    val hp = new org.apache.hadoop.fs.Path(Q132Dir)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true) // stale segments from a prior run/partitioning
    val nSeg = math.max(8, s.sparkContext.defaultParallelism)
    graft.io.Warc.writeWarcGz(rows.repartition(nSeg), Q132Dir, wireVariants = true)
    graft.io.Warc.responses(graft.io.Warc.readWarc(s, Q132Dir))
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("http_status"),
        htmlTextCol(decode(col("payload"), "UTF-8")).as("text_out"))
      .withColumn("n_out", length(col("text_out")).cast("long"))
      .orderBy(col("doc_id"))
  }

  // the oracle never reads the WARC files: it PREDICTS the round-trip
  // from `documents` alone, so the framing/decode path is the gate
  private val q132Sql =
    s"""WITH $synthSql, $extractSql
       |SELECT doc_id, CAST(200 AS INT) AS http_status, text_out,
       |  CAST(length(text_out) AS BIGINT) AS n_out
       |FROM ext ORDER BY doc_id""".stripMargin

  // ------- q133: the end-to-end crawl-curation pipeline, hash-gated
  /** Composes the round-9 web surface into ONE graded pipeline — the
    * shape a crawl-to-corpus job actually has: page synthesis (PII
    * planted into the raw text first, the q127 arithmetic; crawl URL
    * planted per q129) → `html_text` extraction → token-count quality
    * gate → PII scrub → exact near-dup drop (argmin-struct aggregate,
    * q63's derived key — no window) → URL normalization → per-domain
    * quota through the bounded bottom-k aggregate. Every stage's SQL
    * twin is an already-proven oracle fragment, stitched into one
    * WITH chain.
    */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val d = $"doc_id"
    // 1. PII plants into the raw text (the q127 plant, pre-synthesis)
    val plantedText = concat($"text",
      when(d % 7 === 0, concat(lit(" contact user"), d.cast("string"),
        lit("@example.com now"))).otherwise(lit("")),
      when(d % 5 === 0, concat(lit(" from 10.0."), (d % 256).cast("string"),
        lit("."), (d % 100).cast("string"), lit(" up"))).otherwise(lit("")),
      when(d % 11 === 0, concat(lit(" call +1-555-"),
        (lit(1000) + d % 9000).cast("string"), lit(" ok"))).otherwise(lit("")))
    val base = Tables.docsPar(s, dir).select(d, $"lang", $"source",
      plantedText.as("ptext"), Queries12.plantedUrlCol(d).as("url"))
    // 2. the q131 page template over the planted text (shared builder)
    val pages = base.select($"doc_id", $"url",
      synthHtmlCol(escCol("ptext")).as("html"))
    // 3. extract + token-count quality gate
    val ext = pages
      .select($"doc_id", $"url", htmlTextCol($"html").as("text_out"))
      .where(size(split($"text_out", " ")) >= 20)
    // 4. PII scrub (counts + sequential redaction, one pii_scan kernel)
    val scrub = ext.select($"doc_id", $"url",
        gb.column(graft.fn.Kernels.PiiScan(gb.expression($"text_out"))).as("__p"))
      .select($"doc_id", $"url",
        ($"__p.n_email" + $"__p.n_ipv4" + $"__p.n_phone").as("n_pii"),
        $"__p.redacted".as("redacted"))
    // 5. exact dedup on a derived key (tokens 6-10 — past the template
    //    preamble, into the document text); argmin-struct keeps the
    //    lowest doc_id per group with NO window over the corpus
    val keyed = scrub.withColumn("dup_key",
      md5(concat_ws(" ", slice(split($"redacted", " "), 6, 5))))
    val kept = keyed.groupBy($"dup_key")
      .agg(min(struct($"doc_id", $"url", $"n_pii", $"redacted")).as("__w"))
      .select($"__w.doc_id".as("doc_id"), $"__w.url".as("url"),
        $"__w.n_pii".as("n_pii"), $"__w.redacted".as("redacted"))
    // 6. URL normalization + 2-per-domain quota (bounded aggregate)
    val normed = graft.ext.WebOps.withNormalizedUrls(kept, "url")
      .select($"doc_id", $"domain", $"norm_url", $"n_pii",
        length($"redacted").cast("long").as("n_out"))
    graft.ext.WebOps.domainQuota(normed, "domain", $"doc_id", k = 2)
      .orderBy($"domain", $"doc_id")
  }

  private val q133Sql = {
    val em = graft.ext.TextOps.EmailRe
    val ip = graft.ext.TextOps.Ipv4Re
    val ph = graft.ext.TextOps.PhoneRe
    // piidocs mirrors step 1; synth/ext come from the q131 fragments
    // rebased onto piidocs; the URL plant + normalization CTEs are
    // q129's verbatim (they read `documents` / `planted` by name)
    s"""WITH piidocs AS (
       |  SELECT doc_id, lang, source, text
       |    || CASE WHEN doc_id % 7 = 0
       |            THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0
       |            THEN ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 100) || ' up'
       |            ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0
       |            THEN ' call +1-555-' || (1000 + doc_id % 9000) || ' ok' ELSE '' END
       |    AS text
       |  FROM documents
       |), ${Queries12.plantedUrlSql}, ${Queries12.urlNormCtes},
       |${synthSqlOver("piidocs")}, $extractSql,
       |kept AS (
       |  SELECT doc_id, text_out FROM ext
       |  WHERE len(string_split(text_out, ' ')) >= 20
       |), scrub AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text_out, '$em'))
       |       + len(regexp_extract_all(text_out, '$ip'))
       |       + len(regexp_extract_all(text_out, '$ph')) AS BIGINT) AS n_pii,
       |    regexp_replace(regexp_replace(regexp_replace(text_out,
       |      '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g')
       |      AS redacted
       |  FROM kept
       |), keyed AS (
       |  SELECT *, md5(array_to_string(string_split(redacted, ' ')[6:10], ' ')) AS dup_key
       |  FROM scrub
       |), dedup AS (
       |  SELECT doc_id, n_pii, redacted FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY dup_key ORDER BY doc_id) AS rn
       |    FROM keyed) WHERE rn = 1
       |), joined AS (
       |  SELECT d.doc_id, n.domain, n.norm_url, d.n_pii,
       |    CAST(length(d.redacted) AS BIGINT) AS n_out
       |  FROM dedup d JOIN norm n USING (doc_id)
       |)
       |SELECT doc_id, domain, norm_url, n_pii, n_out FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rq
       |  FROM joined) WHERE rq <= 2
       |ORDER BY domain, doc_id""".stripMargin
  }

  // --------------- q134: robots.txt politeness decision, hash-gated
  /** Per-document crawl-permission decision: three planted robots.txt
    * shapes (a graftbot-specific group shadowing a total `*` ban, a
    * `*` group with an allow carve-out, and an allow-all empty
    * disallow behind an unrelated agent's ban) against seven planted
    * paths. The kernel parses the raw robots BODY (group selection +
    * merge + longest-match — RobotsSpec pins the RFC examples); the
    * oracle replays the DECISION generically — the effective rule
    * LIST per shape joined by prefix match, arg_max on
    * (2·len + allow) with allow-wins ties, no-match → allowed — not
    * the plant's case arms.
    */
  private val RobotsShapes = Seq(
    "User-agent: graftbot\nDisallow: /private/\nAllow: /private/pub/\n\n" +
      "User-agent: *\nDisallow: /\n",
    "User-agent: *\nDisallow: /tmp/\nAllow: /tmp/ok\n",
    "User-agent: otherbot\nDisallow: /\n\nUser-agent: *\nDisallow:\n")
  private val RobotsPaths = Seq(
    "/private/pub/x", "/private/secret", "/tmp/ok1", "/tmp/other",
    "/home", "/private", "/tmp/")

  private def q134(s: SparkSession, dir: String): DataFrame = {
    val d = $"doc_id"
    val robots = element_at(
      array(RobotsShapes.map(lit): _*), (d % 3 + 1).cast("int"))
    val path = element_at(
      array(RobotsPaths.map(lit): _*), (d % 7 + 1).cast("int"))
    Tables.docsPar(s, dir)
      .select(d, path.as("path"),
        gb.column(graft.fn.Kernels.RobotsAllowed(gb.expression(robots),
          gb.expression(lit("graftbot")), gb.expression(path))).as("allowed"))
      .orderBy(d)
  }

  // the effective graftbot rule list per shape (what the kernel's
  // parse + group selection must arrive at); the decision procedure
  // below is the generic RFC longest-match, not a case-arm replay
  private val q134Sql =
    s"""WITH d AS (
       |  SELECT doc_id, (doc_id % 3) AS shape,
       |    [${RobotsPaths.map(p => s"'$p'").mkString(", ")}][(doc_id % 7) + 1] AS path
       |  FROM documents
       |), r(shape, allow, pat) AS (VALUES
       |  (0, false, '/private/'), (0, true, '/private/pub/'),
       |  (1, false, '/tmp/'), (1, true, '/tmp/ok')
       |), m AS (
       |  SELECT d.doc_id, d.path, r.allow, len(r.pat) AS l
       |  FROM d LEFT JOIN r ON d.shape = r.shape AND starts_with(d.path, r.pat)
       |)
       |SELECT doc_id, ANY_VALUE(path) AS path,
       |  COALESCE(arg_max(allow, l * 2 + CASE WHEN allow THEN 1 ELSE 0 END), TRUE)
       |    AS allowed
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------- q135: sitemap extraction (crawl discovery leg)
  /** Three planted `<url>` entries per document — one with a
    * `&amp;`-escaped query string and a lastmod, one whitespace-
    * padded with no lastmod, one with `&lt;/&gt;` entities — through
    * [[graft.ext.WebOps.sitemapUrls]] (split → explode → regex →
    * unescape chain, no UDF/XML lib); the oracle replays the exact
    * pipeline in SQL.
    */
  private def q135(s: SparkSession, dir: String): DataFrame = {
    val d = $"doc_id"
    val xml = concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        "<url><loc>https://h"),
      (d % 5).cast("string"), lit(".site"), (d % 23).cast("string"),
      lit(".com/p/"), d.cast("string"), lit("?a=1&amp;b="),
      (d % 9).cast("string"),
      lit("</loc><lastmod>2026-0"), (d % 9 + 1).cast("string"),
      lit("-01</lastmod></url><url><loc> https://h"),
      (d % 5).cast("string"), lit(".example.org/q/"), d.cast("string"),
      lit(" </loc></url><url><loc>\n  https://x.example/&lt;odd&gt;/"),
      (d % 7).cast("string"), lit("\n</loc></url></urlset>"))
    graft.ext.WebOps.sitemapUrls(
        Tables.docsPar(s, dir).select(d, xml.as("sitemap")),
        "doc_id", "sitemap")
      .orderBy($"doc_id", $"seq")
  }

  private val q135Sql =
    """WITH sm AS (
      |  SELECT doc_id,
      |    '<?xml version="1.0" encoding="UTF-8"?>' ||
      |    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' ||
      |    '<url><loc>https://h' || (doc_id % 5) || '.site' || (doc_id % 23) ||
      |    '.com/p/' || doc_id || '?a=1&amp;b=' || (doc_id % 9) ||
      |    '</loc><lastmod>2026-0' || (doc_id % 9 + 1) ||
      |    '-01</lastmod></url><url><loc> https://h' || (doc_id % 5) ||
      |    '.example.org/q/' || doc_id ||
      |    ' </loc></url><url><loc>' || chr(10) ||
      |    '  https://x.example/&lt;odd&gt;/' ||
      |    (doc_id % 7) || chr(10) || '</loc></url></urlset>' AS xml
      |  FROM documents
      |), fr AS (
      |  SELECT doc_id, i AS seq, string_split(xml, '<url>')[i + 1] AS frag
      |  FROM sm, UNNEST(range(0, 4)) AS t(i)
      |), ex AS (
      |  SELECT doc_id, CAST(seq AS BIGINT) AS seq,
      |    replace(replace(replace(replace(replace(
      |      regexp_replace(regexp_extract(frag, '(?s)<loc>(.*?)</loc>', 1),
      |        '^[ \t\n\f\r]+|[ \t\n\f\r]+$', '', 'g'),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
      |      '&amp;', '&') AS loc,
      |    CASE WHEN regexp_extract(frag, '(?s)<lastmod>(.*?)</lastmod>', 1) = ''
      |         THEN NULL
      |         ELSE regexp_replace(regexp_extract(frag, '(?s)<lastmod>(.*?)</lastmod>', 1),
      |           '^[ \t\n\f\r]+|[ \t\n\f\r]+$', '', 'g') END
      |      AS lastmod
      |  FROM fr WHERE contains(frag, '</url>')
      |)
      |SELECT doc_id, seq, loc, lastmod FROM ex WHERE loc <> ''
      |ORDER BY doc_id, seq""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_html_extract" -> (q131 _),
    "q132_warc_roundtrip" -> (q132 _),
    "q133_crawl_pipeline" -> (q133 _),
    "q134_robots_gate" -> (q134 _),
    "q135_sitemap_urls" -> (q135 _))

  val oracles: Map[String, String] = Map(
    "q131_html_extract" -> q131Sql,
    "q132_warc_roundtrip" -> q132Sql,
    "q133_crawl_pipeline" -> q133Sql,
    "q134_robots_gate" -> q134Sql,
    "q135_sitemap_urls" -> q135Sql)
}
