package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Oracle corpus, batch 11 (round 8): the skew toolkit on the graded
  * path. [[graft.ops.Salt]] shipped in round 5 as a unit-tested
  * operator but no oracle query exercised it; q124 plants a 90%-hot
  * join key in lineitem (the skew regime AQE's skew-join split only
  * covers for sort-merge joins it chooses itself) and runs the
  * salted-join + two-phase aggregate shape end-to-end. The oracle
  * recomputes the identical planted key and the plain join/aggregate
  * in DuckDB — salting must be invisible in the answer, that is the
  * operator's whole correctness claim (row multiplicity unchanged:
  * each left row meets each matching right row exactly once, on its
  * own salt replica).
  */
object Queries11 extends ColumnSyntax {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.tbl(s, dir, name)

  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  // --------------------- q124: salted join + agg over a planted hot key
  /** 90% of lineitem rows collapse onto k = 0 (the planted hot key);
    * the dimension side is a per-k aggregate of orders keyed the same
    * way. [[graft.ops.Salt.saltedJoin]] spreads the hot key across 32
    * salt replicas (one per local core; on a cluster, O(executor
    * slots)) — the join key becomes (k, __salt), so no single
    * task owns k = 0 — and the final per-k aggregate re-combines.
    * At local test SF Spark would broadcast the dim side anyway; the
    * salted plan's value is at the scale where it cannot
    * (SaltSkewProbe's forced-SMJ A/B at sf1 in BENCH_NOTES).
    */
  private def hotKey(c: Column): Column =
    when(pmod(c, lit(10L)) < 9, lit(0L)).otherwise(pmod(c, lit(1000L)))

  private def q124(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .withColumn("k", hotKey($"l_orderkey"))
    val dim = t(s, dir, "orders")
      .withColumn("k", hotKey($"o_orderkey"))
      .groupBy($"k").agg(count(lit(1)).as("dim_cnt"))
    val joined = graft.ops.Salt.saltedJoin(li, dim, Seq("k"),
      $"l_orderkey" * 16 + $"l_linenumber", nSalts = 32)
    joined.groupBy($"k")
      .agg(count(lit(1)).as("n_rows"),
        dsum($"l_quantity").as("sum_qty"),
        max($"dim_cnt").as("dim_cnt"))
      .orderBy($"k")
  }

  private val q124Sql =
    """WITH lk AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0
      |              ELSE l_orderkey % 1000 END AS k, l_quantity
      |  FROM lineitem
      |), ok AS (
      |  SELECT CASE WHEN o_orderkey % 10 < 9 THEN 0
      |              ELSE o_orderkey % 1000 END AS k,
      |    CAST(COUNT(*) AS BIGINT) AS dim_cnt
      |  FROM orders GROUP BY 1
      |)
      |SELECT lk.k, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  MAX(ok.dim_cnt) AS dim_cnt
      |FROM lk JOIN ok ON lk.k = ok.k
      |GROUP BY lk.k ORDER BY lk.k""".stripMargin

  // ------------------- q125: video near-dup over decoded keyframes
  /** Perceptual VIDEO dedup end-to-end on a deterministic synthetic
    * corpus: 60 distinct keyframe scenes + 12 perturbed copies
    * (id + 1000), each wrapped as a real MP4 (ftyp/moov/avcC with
    * SPS+PPS, stss, length-prefixed IDR NAL) whose keyframe the
    * round-8 baseline H.264 decoder ([[graft.ext.H264]]) must decode
    * for real — container walk → NAL split → I-frame decode → 9×8
    * dHash → the SAME band-join pair stage as images
    * ([[graft.ext.Multimodal.nearDupVideoPairs]]). No DuckDB oracle
    * (it cannot decode video) — rows-only by the q84 convention, with
    * the planted-pair self-check column; the decode itself is
    * per-pixel golden-tested in H264Spec.
    */
  private def q125Assets(s: SparkSession): DataFrame = {
    def scene(seed: Int)(x: Int, y: Int): Int = {
      val h = seed * 2654435761L
      val fu = 1 + (h % 6).toInt.abs; val fv = 1 + ((h >> 8) % 5).toInt.abs
      val p1 = ((h >> 16) % 628).toInt / 100.0
      (127 + 90 * math.sin(fu * x / 2.5 + fv * y / 2.0 + p1)).toInt & 0xFF
    }
    // every third asset ships the CABAC (Main-profile entropy) MP4
    // variant — round 9: same pixels through the other entropy layer,
    // so the dedup answer must be identical and the corpus exercises
    // both decode paths
    def mp4Of(i: Int, px: (Int, Int) => Int): Array[Byte] =
      if (i % 3 == 0) graft.ext.VideoFixtures.pcmKeyframeMp4Cabac(px)
      else graft.ext.VideoFixtures.pcmKeyframeMp4(px)
    val originals = (0 until 60).map(i =>
      (i.toLong, mp4Of(i, (x, y) => scene(i)(x, y))))
    val copies = (0 until 12).map { i =>
      (i + 1000L, mp4Of(i + 1, (x, y) =>
        math.min(255, scene(i)(x, y) + (if ((x * 31 + y * 17) % 37 == 0) 2 else 0))))
    }
    // round 10: High-profile (transform_8x8) I_8x8 keyframes — the
    // same seed-derived coefficient scene through BOTH entropy layers
    // (CAVLC original, CABAC dup with a +1 DC perturbation on one
    // 8x8 block), so each (2000+i, 3000+i) planted pair exercises the
    // High decode path end to end on both variants
    val highs = (0 until 12).map(i =>
      (2000L + i, graft.ext.VideoFixtures.i8KeyframeMp4Cavlc(seed = 77 + i)))
    val highDups = (0 until 6).map(i =>
      (3000L + i, graft.ext.VideoFixtures.i8KeyframeMp4Cabac(seed = 77 + i, dcBump = 1)))
    s.createDataFrame(originals ++ copies ++ highs ++ highDups)
      .toDF("vid_id", "content")
      .repartition(8)
  }

  private def q125(s: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.nearDupVideoPairs(q125Assets(s), "vid_id", maxHamming = 3)
      .withColumn("planted", ($"b_id" - $"a_id" === 1000L).cast("int"))
      .orderBy($"a_id", $"b_id")

  // --------- q125p: the multi-keyframe video pair stage, hash-gated
  /** q125's PAIR stage under the hash gate, the video twin of q84p
    * (VERDICT r8 item 4): the decode half stays on H264Spec's
    * per-pixel goldens (DuckDB cannot decode video), but the
    * ANY-KEYFRAME matching logic — every keyframe hash indexes its
    * video, band-join candidates, self-pairs dropped, id pairs
    * reduced to their best hamming — is pure relational algebra. The
    * corpus is the re-cut shape that logic exists for: two-keyframe
    * videos whose copies (id + 1000) share only their SECOND
    * keyframe behind a fresh prepended intro, so single-keyframe
    * matching finds nothing and any-keyframe matching must. The
    * computed `mp4_keyframe_dhashes` table persists as a fixture
    * parquet and both engines replay the pair logic from that same
    * file.
    */
  private val Q125HashFixture = "/tmp/graft_fixtures/q125_kf_dhash.parquet"

  private def q125pAssets(s: SparkSession): DataFrame = {
    def scene(seed: Int)(x: Int, y: Int): Int = {
      val h = seed * 2654435761L
      val fu = 1 + (h % 6).toInt.abs; val fv = 1 + ((h >> 8) % 5).toInt.abs
      val p1 = ((h >> 16) % 628).toInt / 100.0
      (127 + 90 * math.sin(fu * x / 2.5 + fv * y / 2.0 + p1)).toInt & 0xFF
    }
    val originals = (0 until 40).map { i =>
      (i.toLong,
        graft.ext.VideoFixtures.multiKeyframeMp4(Seq(scene(500 + i), scene(i))))
    }
    val recuts = (0 until 10).map { i =>
      (i + 1000L, graft.ext.VideoFixtures.multiKeyframeMp4(Seq(
        scene(700 + i),
        (x, y) => math.min(255,
          scene(i)(x, y) + (if ((x * 31 + y * 17) % 37 == 0) 2 else 0)))))
    }
    s.createDataFrame(originals ++ recuts).toDF("vid_id", "content")
      .repartition(8)
  }

  private def q125p(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    q125pAssets(s).select($"vid_id".as("id"),
        explode(gb.column(graft.fn.Kernels.Mp4KeyframeDhashes(
          gb.expression($"content"), 4))).as("dhash"))
      .distinct()
      .coalesce(1)
      .write.mode("overwrite").parquet(Q125HashFixture)
    graft.ext.Multimodal.nearDupPairsFromMultiHashes(
        s.read.parquet(Q125HashFixture), maxHamming = 3)
      .orderBy($"a_id", $"b_id")
  }

  private val q125pSql =
    s"""WITH h AS (
       |  SELECT id, dhash FROM read_parquet('$Q125HashFixture/*.parquet')
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

  // ------------- q126: Gopher repetition signals (narrow kernel)
  /** [[graft.ext.TextOps.repetitionSignals]]: per-doc top-{2,3,4}
    * word-n-gram char fraction and duplicated-{5,6}-gram char
    * fraction (Rae et al. 2021 Table A1) via ONE per-row codegen
    * kernel — zero shuffle, zero explode. The oracle rebuilds every
    * n-gram table the long way (UNNEST + GROUP BY + window argmax)
    * and must land on the same six-decimal fractions, which also
    * pins the tie-break convention (count desc, gram desc) and the
    * occurrence-sum dup form cross-engine.
    */
  private def q126(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextOps.repetitionSignals(Tables.docsPar(s, dir), "doc_id", "text")
      .select($"doc_id", $"n_tokens", $"total_chars",
        round($"top2_frac", 6).as("top2_frac"),
        round($"top3_frac", 6).as("top3_frac"),
        round($"top4_frac", 6).as("top4_frac"),
        round($"dup5_frac", 6).as("dup5_frac"),
        round($"dup6_frac", 6).as("dup6_frac"))
      .orderBy($"doc_id")

  private val q126Sql = {
    def gramCte(n: Int) =
      s"""g$n AS (
         |  SELECT doc_id, array_to_string(list_slice(toks, i, i + ${n - 1}), ' ') AS gram
         |  FROM (SELECT doc_id, toks, UNNEST(RANGE(1, len(toks) - ${n - 2})) AS i
         |        FROM base WHERE len(toks) >= $n)
         |), c$n AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g$n GROUP BY 1, 2)"""
        .stripMargin
    def topCte(n: Int) =
      s"""t$n AS (
         |  SELECT doc_id, cnt * length(gram) AS chars FROM (
         |    SELECT doc_id, gram, cnt,
         |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
         |    FROM c$n) WHERE rn = 1
         |)""".stripMargin
    def dupCte(n: Int) =
      s"""d$n AS (
         |  SELECT doc_id, SUM(cnt * length(gram)) AS chars
         |  FROM c$n WHERE cnt >= 2 GROUP BY 1
         |)""".stripMargin
    s"""WITH toksrc AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents
       |), base AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
       |         CAST(length(array_to_string(toks, ' ')) AS BIGINT) AS total_chars
       |  FROM toksrc WHERE len(toks) > 0
       |),
       |${gramCte(2)}, ${topCte(2)},
       |${gramCte(3)}, ${topCte(3)},
       |${gramCte(4)}, ${topCte(4)},
       |${gramCte(5)}, ${dupCte(5)},
       |${gramCte(6)}, ${dupCte(6)}
       |SELECT b.doc_id, b.n_tokens, b.total_chars,
       |  ROUND(COALESCE(t2.chars, 0) / b.total_chars, 6) + 0 AS top2_frac,
       |  ROUND(COALESCE(t3.chars, 0) / b.total_chars, 6) + 0 AS top3_frac,
       |  ROUND(COALESCE(t4.chars, 0) / b.total_chars, 6) + 0 AS top4_frac,
       |  ROUND(COALESCE(d5.chars, 0) / b.total_chars, 6) + 0 AS dup5_frac,
       |  ROUND(COALESCE(d6.chars, 0) / b.total_chars, 6) + 0 AS dup6_frac
       |FROM base b
       |LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
       |LEFT JOIN t4 USING (doc_id) LEFT JOIN d5 USING (doc_id)
       |LEFT JOIN d6 USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin
  }

  // ------------------- q127: PII detection + redaction scrub
  /** [[graft.ext.TextOps.piiScrub]] over deterministically PLANTED
    * PII (the q124 planted-key convention — the synthetic corpus
    * carries none, so the scrub needs something real to find):
    * ~1/7 of docs get an email, ~1/5 an IPv4, ~1/11 a phone number,
    * all derived from doc_id so the oracle rebuilds the identical
    * text. The oracle then re-runs the same three regexes under RE2
    * (count + global replace) — regex-dialect portability is part of
    * what this query pins.
    */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.docsPar(s, dir).select($"doc_id",
      concat($"text",
        when($"doc_id" % 7 === 0,
          concat(lit(" contact user"), $"doc_id".cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when($"doc_id" % 5 === 0,
          concat(lit(" from 10.0."), ($"doc_id" % 256).cast("string"),
            lit("."), ($"doc_id" % 100).cast("string"), lit(" up")))
          .otherwise(lit("")),
        when($"doc_id" % 11 === 0,
          concat(lit(" call +1-555-"), (lit(1000) + $"doc_id" % 9000).cast("string"),
            lit(" ok"))).otherwise(lit(""))).as("text"))
    graft.ext.TextOps.piiScrub(planted, "doc_id", "text")
      .orderBy($"doc_id")
  }

  private val q127Sql = {
    val em = graft.ext.TextOps.EmailRe
    val ip = graft.ext.TextOps.Ipv4Re
    val ph = graft.ext.TextOps.PhoneRe
    s"""WITH planted AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 7 = 0
       |            THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0
       |            THEN ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 100) || ' up'
       |            ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0
       |            THEN ' call +1-555-' || (1000 + doc_id % 9000) || ' ok' ELSE '' END
       |    AS text
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ipv4,
       |  CAST(len(regexp_extract_all(text, '$ph')) AS BIGINT) AS n_phone,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g')
       |    AS redacted
       |FROM planted ORDER BY doc_id""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q124_salted_join" -> (q124 _),
    "q125_video_neardup" -> (q125 _),
    "q125p_kf_dhash_pairs" -> (q125p _),
    "q126_repetition_signals" -> (q126 _),
    "q127_pii_scrub" -> (q127 _))

  val oracles: Map[String, String] = Map(
    // q125: no oracle — DuckDB cannot decode H.264 (q84 convention);
    // its pair stage IS hash-gated via q125p's persisted fixture
    "q124_salted_join" -> q124Sql,
    "q125p_kf_dhash_pairs" -> q125pSql,
    "q126_repetition_signals" -> q126Sql,
    "q127_pii_scrub" -> q127Sql)

}
