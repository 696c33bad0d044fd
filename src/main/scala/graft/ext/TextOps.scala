package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for LLM-data pipelines (the brief's text surface):
  * token counting, quality scoring, language identification,
  * document fingerprinting. All operators follow the engine's
  * established scalable shape — ONE explode of the token stream into
  * ONE groupBy carrying many aggregate columns (map-side combine, no
  * higher-order lambdas in hot paths, no repeated passes).
  */
object TextOps {

  /** Tiny per-language stopword lists for the frequency heuristic.
    * Order = tie-break preference (first wins on equal scores).
    * Canonical copy lives in [[graft.fn.TextKernels.Stopwords]] so the
    * per-row kernel and this aggregate formulation can never drift.
    */
  val Stopwords: Seq[(String, Seq[String])] = graft.fn.TextKernels.Stopwords

  /** Non-distinct token stream: (idCol, tok). Single-space
    * tokenization, empties dropped (q40/q60 convention).
    */
  def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      explode(array_remove(split(col(textCol), " "), "")).as("tok"))

  /** The (idCol, tok, tf) term-frequency table computed with NO
    * corpus shuffle: the [[graft.fn.Kernels.TermCounts]] kernel builds each
    * document's `map<tok, count>` inside the scan's codegen span and
    * the map explodes directly — bit-identical rows to
    * `tokens(…).groupBy(idCol, tok).count()` (TextOpsSpec asserts),
    * minus that form's full exchange of the exploded token stream.
    * Every tf consumer (TF-IDF, inverted index) starts here, so their
    * only corpus-keyed exchange is the vocabulary aggregate itself.
    */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    docs
      .select(col(idCol),
        explode(gb.column(graft.fn.Kernels.TermCounts(gb.expression(col(textCol)))))
          .as(Seq("tok", "tf")))
  }

  /** Per-document text profile in ONE aggregation pass:
    *
    *  - `n_tokens`, `n_distinct`, `mean_tok_len` — token counting
    *  - `stop_ratio` (English), `alpha_ratio`, `punct_ratio` — quality
    *    signals (length/punct/stopword, per the pipeline brief)
    *  - `lang_id` — argmax of per-language stopword hit frequencies
    *    (tie-break by [[Stopwords]] order; "und" = undetermined when
    *    no list scores); CJK text short-circuits to "zh" via a
    *    unicode-range count
    *  - `quality` — deterministic composite in [0,1]:
    *    0.4·min(n_tokens/50, 1) + 0.3·min(5·stop_ratio, 1) +
    *    0.3·alpha_ratio
    */
  def profile(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(docs, idCol, textCol)
    val langHits = Stopwords.map { case (lang, words) =>
      sum(when(col("tok").isin(words: _*), 1L).otherwise(0L)).as(s"__hits_$lang")
    }
    val base = Seq(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("tok")).as("n_distinct"),
      (sum(length(col("tok"))).cast("double") / count(lit(1))).as("mean_tok_len"),
      (sum(when(col("tok").isin(Stopwords.head._2: _*), 1L).otherwise(0L))
        .cast("double") / count(lit(1))).as("stop_ratio"),
      (sum(length(regexp_replace(col("tok"), "[^a-zA-Z]", ""))).cast("double") /
        sum(length(col("tok")))).as("alpha_ratio"),
      (sum(length(regexp_replace(col("tok"), "[a-zA-Z0-9]", ""))).cast("double") /
        sum(length(col("tok")))).as("punct_ratio"),
      sum(length(regexp_replace(col("tok"), "[^一-鿿]", ""))).as("__cjk"))
    val agg = toks.groupBy(col(idCol)).agg(base.head, (base.tail ++ langHits): _*)

    // argmax with fixed preference order: lang beats later langs on >=
    val latinPick = Stopwords.map(_._1).foldRight(lit("und")) { (lang, rest) =>
      val mine = col(s"__hits_$lang")
      val beatsLater = Stopwords.map(_._1).dropWhile(_ != lang).drop(1)
        .map(l2 => mine >= col(s"__hits_$l2"))
        .foldLeft(mine > 0)(_ && _)
      when(beatsLater, lit(lang)).otherwise(rest)
    }
    agg
      .withColumn("lang_id", when(col("__cjk") > 0, lit("zh")).otherwise(latinPick))
      .withColumn("quality",
        lit(0.4) * least(col("n_tokens") / 50.0, lit(1.0)) +
        lit(0.3) * least(col("stop_ratio") * 5.0, lit(1.0)) +
        lit(0.3) * col("alpha_ratio"))
      .drop((Stopwords.map(s => s"__hits_${s._1}") :+ "__cjk"): _*)
  }

  /** The narrow, shuffle-free twin of [[profile]]: one
    * `text_profile(text)` codegen kernel call per row — no explode,
    * no groupBy, bit-identical output (asserted in TextOpsSpec).
    * Use THIS form at scale (the aggregate form shuffles the whole
    * token stream to compute per-row-derivable numbers; it remains as
    * the differential reference) and in streams (stateless → no
    * watermark, no state store — see `DocStreams.curationGate`).
    */
  def profileNarrow(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val p = gb.column(graft.fn.Kernels.TextProfile(gb.expression(col(textCol))))
    docs.select(col(idCol), p.as("__p"))
      .filter(col("__p").isNotNull)
      .select(col(idCol), col("__p.*"))
  }

  /** Per-doc Gopher repetition signals (Rae et al. 2021 Table A1) —
    * one `repetition_profile(text)` kernel call per row: top-{2,3,4}
    * word-n-gram char fraction + duplicated-{5,6}-gram occurrence-sum
    * char fraction, plus the token/char counts they normalize by.
    * Narrow and stateless (NO explode, NO shuffle — the per-doc
    * n-gram maps live and die inside the row's codegen span), so it
    * gates batch curation and streams alike. Conventions (tie-break,
    * occurrence-sum dup form) documented on
    * [[graft.fn.TextKernels.repetitionProfile]].
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val p = gb.column(graft.fn.Kernels.RepetitionProfile(gb.expression(col(textCol))))
    docs.select(col(idCol), p.as("__r"))
      .filter(col("__r").isNotNull)
      .select(col(idCol), col("__r.*"))
  }

  /** PII patterns — the C4/RefinedWeb-style scrub set, written in the
    * regex subset Java's engine and RE2 (the oracle's) read
    * identically: no backrefs, no lookaround, ASCII classes only.
    */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe: String = "\\+\\d{1,2}-\\d{3}-\\d{4}"

  /** Per-doc PII detection + redaction — counts of emails / IPv4
    * addresses / international-format phone numbers and the scrubbed
    * text with each occurrence replaced by a typed placeholder
    * (`<EMAIL>`/`<IP>`/`<PHONE>`, replaced in that order — the email
    * pattern can contain dotted digits, so it must be consumed before
    * the IPv4 pass reads the text). One [[graft.fn.Kernels.PiiScan]] kernel
    * per row (round 9): the previous six `java.util.regex` passes
    * (three counts + the replace chain) were 4.8× slower than the
    * RE2 oracle at sf10; the hand-compiled scanners do the same work
    * in linear passes with no backtracking, semantics pinned to
    * `java.util.regex` itself in PiiSpec. Narrow, stateless,
    * whole-stage-codegen — the scrub never shuffles.
    */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    docs
      .select(col(idCol),
        gb.column(graft.fn.Kernels.PiiScan(gb.expression(col(textCol)))).as("__p"))
      .select(col(idCol),
        col("__p.n_email").as("n_email"),
        col("__p.n_ipv4").as("n_ipv4"),
        col("__p.n_phone").as("n_phone"),
        col("__p.redacted").as("redacted"))
  }

  /** BPE-ish sub-word tokenization (GPT-2-style pre-tokenizer shape):
    * common English contractions, letter runs, digit runs, punctuation
    * runs — each optionally preceded by one space — as separate
    * tokens. This is the PRE-tokenizer of a BPE pipeline (the merge
    * table itself is model data, out of engine scope); its token
    * counts approximate LLM token budgets far better than whitespace
    * splitting on code/punctuation-heavy text.
    */
  val BpeishPattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** (idCol, tok) stream under [[BpeishPattern]]. */
  def bpeishTokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      explode(regexp_extract_all(col(textCol), lit(BpeishPattern), lit(0))).as("tok"))

  /** Per-doc token counts under BOTH tokenizations:
    * (idCol, n_ws_tokens, n_bpeish_tokens).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(array_remove(split(col(textCol), " "), "")).as("n_ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(BpeishPattern), lit(0)))
        .as("n_bpeish_tokens"))

  /** Document fingerprint: the k=1 MinHash of the doc's word
    * n-shingles under [[Dedup.XxHasher]] — a rolling-hash-style
    * content signature (equal for token-identical docs, cheap to
    * compare). (idCol, fingerprint).
    */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 3): DataFrame =
    Dedup.minhashSignatures(Dedup.shingles(docs, idCol, textCol, n), idCol, k = 1)
      .select(col(idCol), element_at(col("sig"), 1).as("fingerprint"))

  /** BM25 ranked retrieval: score every document against a fixed query
    * token list (Robertson/Okapi, the `ln(1 + (N-df+0.5)/(df+0.5))`
    * idf form that keeps scores positive). Used in data curation to
    * bias sampling toward topical docs. Returns (idCol, score) for
    * docs matching at least one query token.
    *
    * Scale shape — the query is a LITERAL token list, so retrieval
    * needs NO corpus-keyed shuffle at all: the [[graft.fn.Kernels.TermCounts]]
    * kernel builds each doc's tf map inside the scan span and the
    * per-token tf columns are O(1) map probes on it (whole-stage
    * codegen's subexpression elimination evaluates the kernel once
    * per row). Corpus statistics (N, avgdl, per-token df) collapse to
    * a 1-row aggregate of that narrow frame, broadcast back, and the
    * score is a fixed-length narrow expression. The round-3 form paid
    * three shuffles and two joins; the round-4 form one groupBy(doc)
    * shuffle of the exploded token stream; this form moves zero corpus
    * bytes — "score a known query" is embarrassingly parallel, and the
    * inverted-index operator ([[invertedIndex]]) still serves the
    * index-build case.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           query: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25 needs at least one query token")
    import org.apache.spark.sql.{graftbridge => gb}
    val qs = query.distinct
    val tc = gb.column(graft.fn.Kernels.TermCounts(gb.expression(col(textCol))))
    val perDoc = docs.select(
      (col(idCol) +:
        size(array_remove(split(col(textCol), " "), "")).as("__dl") +:
        qs.zipWithIndex.map { case (q, i) =>
          coalesce(element_at(tc, lit(q)), lit(0L)).as(s"__tf_$i")
        }): _*)
      // token-less/null docs emit no row in the aggregate form — keep
      // N and avgdl identical
      .filter(col("__dl") > 0)
    val global = perDoc.agg(
      count(lit(1)).as("__n"),
      (avg(col("__dl")).as("__avgdl") +:
        qs.indices.map(i =>
          sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)).as(s"__df_$i"))): _*)
    val score = qs.indices.map { i =>
      val tf = col(s"__tf_$i")
      val df = col(s"__df_$i")
      when(tf > 0,
        log(lit(1.0) + (col("__n") - df + 0.5) / (df + 0.5)) *
          (tf * (k1 + 1)) /
          (tf + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl"))))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    perDoc
      .filter(qs.indices.map(i => col(s"__tf_$i") > 0).reduce(_ || _))
      .crossJoin(broadcast(global))
      .select(col(idCol), score.as("score"))
  }

  // ------------------------------------------------ TF-IDF

  /** Per-(doc, term) TF-IDF scores over the whole corpus:
    * (idCol, tok, tf, df, tfidf) with the smooth sklearn-style idf
    * `ln((1 + N) / (1 + df)) + 1` (defined for every df, strictly
    * positive, so scores never vanish or go negative).
    *
    * Scale shape: one token explode → one groupBy(doc, tok) with
    * map-side combine (the tf table, the corpus's distinct (doc, term)
    * set — the same working set any search indexer materializes); df
    * re-aggregates tf by term only (vocabulary-sized, small) and is
    * BROADCAST back onto tf — the big (doc, term) table is never
    * re-shuffled on `tok`, which matters twice over: it saves the
    * second corpus-sized exchange, and the `tok` key is exactly the
    * skewed one (stopword-like terms dominate). N is a 1-row
    * broadcast. When the vocabulary itself is too big to broadcast
    * (`broadcastVocab = false` — e.g. unbounded n-gram vocabularies),
    * the join falls back to [[graft.ops.Salt.saltedJoin]]: tf salted
    * per row, df replicated `nSalts`×, so no task owns a whole hot
    * term's postings.
    */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String,
            broadcastVocab: Boolean = true, nSalts: Int = 8): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val joined =
      if (broadcastVocab) tf.join(broadcast(df), "tok")
      else graft.ops.Salt.saltedJoin(tf, df, Seq("tok"), col(idCol), nSalts)
    joined
      .crossJoin(broadcast(n))
      .select(col(idCol), col("tok"), col("tf"), col("df"),
        (col("tf") * (log((lit(1.0) + col("__n")) / (lit(1.0) + col("df"))) + 1.0))
          .as("tfidf"))
  }

  /** Top-k most characteristic terms per document by TF-IDF —
    * the keyword-extraction form used for topic tagging in curation
    * pipelines. Ranking key is the score ROUNDED to `roundTo` decimals
    * with a token tie-break, so the cut is deterministic cross-engine
    * (raw doubles differ in the last ulp between ln implementations).
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 3, roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol))
      .orderBy(round(col("tfidf"), roundTo).desc, col("tok").asc)
    tfIdf(docs, idCol, textCol)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("rk"), col("tok"),
        round(col("tfidf"), roundTo).as("tfidf"))
  }

  // ------------------------------------------------ PII redaction

  /** PII patterns, written to the regex subset where Java (Spark) and
    * RE2 (DuckDB, the oracle) agree exactly: ASCII classes, greedy
    * quantifiers, no backrefs/lookaround.
    */
  val EmailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** 13-19 digit runs — card/account-number shaped. Checked BEFORE
    * phones (a bare card number also matches the looser phone shape).
    */
  val CardPattern: String = "[0-9]{13,19}"
  /** International-ish phone: optional +, 9-16 chars of digits,
    * space, dash or parens, digit-bounded.
    */
  val PhonePattern: String = "\\+?[0-9][0-9() -]{7,14}[0-9]"

  /** Scrub personally identifiable information from a text column —
    * the compliance pass every web-scale corpus runs before training.
    * Emails → `<EMAIL>`, card-length digit runs → `<CARD>`, phone
    * shapes → `<PHONE>`, applied in that order (most-specific first).
    * Adds `n_pii` = total matches redacted (counted on the original
    * text). Purely narrow per-row expressions — no shuffle, codegen
    * end-to-end, linear in rows at any scale.
    *
    * Untrusted-content note: the patterns avoid nested quantifiers
    * (no catastrophic backtracking — worst case on an adversarial
    * row is quadratic in that row's length under Java's backtracking
    * engine, e.g. a megabyte of unbroken `[A-Za-z0-9.-]` probing the
    * email rule); they stay inside the RE2-compatible subset, so an
    * RE2-based evaluator runs them in linear time. Pair with an
    * upstream row-length cap (standard corpus hygiene) when inputs
    * are hostile.
    */
  def redactPii(docs: DataFrame, textCol: String,
                outCol: String = "text_redacted"): DataFrame =
    docs
      .withColumn("n_pii",
        size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0))) +
        size(regexp_extract_all(
          regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
          lit(CardPattern), lit(0))) +
        size(regexp_extract_all(
          regexp_replace(
            regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
            CardPattern, "<CARD>"),
          lit(PhonePattern), lit(0))))
      .withColumn(outCol,
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
            CardPattern, "<CARD>"),
          PhonePattern, "<PHONE>"))

  // ------------------------------------------------ inverted index

  /** Inverted index materialization: per term, the document frequency
    * and the posting list as a portable `doc:tf` string sorted by doc
    * id — the retrieval-index build step of a curation stack (BM25 /
    * contamination lookups read this instead of re-exploding the
    * corpus). Terms below `minDf` are dropped (hapax noise).
    *
    * Scale shape: token explode → (doc, term) tf groupBy (map-side
    * combine) → groupBy(term) collect. Posting lists are the classic
    * skew point — a stopword's list is corpus-sized — so real
    * deployments shard hot terms ([[Dedup]]'s `maxBucket` guard
    * pattern applies verbatim); the build itself is two shuffles of
    * the distinct (doc, term) set, nothing corpus-squared.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 1L): DataFrame =
    termFrequencies(docs, idCol, textCol)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"),
        array_sort(collect_list(struct(col(idCol), col("tf")))).as("__p"))
      .filter(col("df") >= minDf)
      .select(col("tok"), col("df"),
        array_join(transform(col("__p"),
          p => concat(p.getField(idCol).cast("string"), lit(":"),
            p.getField("tf").cast("string"))), " ").as("postings"))

  /** [[invertedIndex]] with HOT-TERM SHARDING (VERDICT r4 item 5):
    * terms whose document frequency exceeds `shardSize` are split
    * into `ceil(df / shardSize)` posting segments keyed by a
    * deterministic hash of the doc id, so NO task ever collects a
    * corpus-sized posting list — a stopword's postings arrive as
    * bounded `(term, shard)` rows instead of one unbounded row.
    * Cold terms keep `shard = 0, n_shards = 1` and their posting
    * string is byte-identical to the unsharded build.
    *
    * Output: (tok, shard, n_shards, df, shard_df, postings) — `df`
    * global, `shard_df` the segment's size (≈ df/n_shards by hash
    * uniformity: the bounded-task-input guarantee), postings
    * doc-sorted within the segment. Readers treat segments of a term
    * as one logical list (the Lucene-style segmented posting layout).
    *
    * Scale shape: same two shuffles as [[invertedIndex]] plus ONE
    * vocabulary-sized broadcast (df + shard counts — the same
    * size argument as [[tfIdf]]'s vocab broadcast); the final
    * groupBy key (tok, shard) is skew-free by construction.
    *
    * @param key deterministic per-doc hash for shard routing —
    *            defaults to `xxhash64`; pass a portable key (e.g. the
    *            Knuth multiplicative hash) when an external system
    *            must reproduce the routing.
    */
  def invertedIndexSharded(docs: DataFrame, idCol: String, textCol: String,
                           minDf: Long = 1L, shardSize: Long = 1000000L,
                           key: Column => Column = xxhash64(_)): DataFrame = {
    require(shardSize > 0, s"shardSize must be positive; got $shardSize")
    val tf = termFrequencies(docs, idCol, textCol)
    val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .withColumn("n_shards",
        ceil(col("df").cast("double") / shardSize).cast("int"))
    tf.join(broadcast(dfTab), "tok")
      .withColumn("shard", pmod(key(col(idCol)), col("n_shards")).cast("int"))
      .groupBy(col("tok"), col("shard"))
      .agg(first(col("n_shards")).as("n_shards"), first(col("df")).as("df"),
        count(lit(1)).as("shard_df"),
        array_sort(collect_list(struct(col(idCol), col("tf")))).as("__p"))
      .select(col("tok"), col("shard"), col("n_shards"), col("df"),
        col("shard_df"),
        array_join(transform(col("__p"),
          p => concat(p.getField(idCol).cast("string"), lit(":"),
            p.getField("tf").cast("string"))), " ").as("postings"))
  }

  // ------------------------------------------------ repetition stats

  /** Within-document repetition signals (the Gopher/MassiveText-style
    * repetition filters): for word n-grams of size `n`,
    *
    *  - `n_grams` — total n-gram occurrences,
    *  - `n_distinct_grams` — distinct n-grams,
    *  - `dup_gram_frac` — `1 - distinct/total` (mass sitting in
    *    repeats; 0 for repetition-free text),
    *  - `top_gram_frac` — the most frequent n-gram's share (boilerplate
    *    loops and keyword stuffing spike this).
    *
    * Docs shorter than `n` words yield no row (no n-grams to judge).
    * Scale shape: the [[Dedup.shingleStream]] codegen kernel (no
    * shuffle) → groupBy(doc, gram) with map-side combine → groupBy(doc)
    * — the same two-level aggregation every distinct-count plan pays.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame =
    Dedup.shingleStream(docs, idCol, textCol, n)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_grams"),
        count(lit(1)).as("n_distinct_grams"),
        max(col("__c")).as("__max"))
      .select(col(idCol), col("n_grams"), col("n_distinct_grams"),
        (lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams"))
          .as("dup_gram_frac"),
        (col("__max").cast("double") / col("n_grams")).as("top_gram_frac"))
}
