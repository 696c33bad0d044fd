package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{graftbridge => gb}

/** Unigram language-model training + perplexity scoring — the
  * CCNet/KenLM-style corpus quality signal (Wenzek et al. 2020 score
  * web text by LM perplexity and keep the low-perplexity head; the
  * reference pipeline's quality gates are rule-based, this adds the
  * model-based variant as a first-class operator).
  *
  * Scale shape: TRAINING is one vocabulary-sized shuffle — the
  * [[graft.fn.Kernels.TermCounts]] kernel builds each doc's (tok → tf) map
  * inside the scan span, so the exchange carries per-doc DISTINCT
  * tokens, not the token stream — and SCORING is a narrow per-row
  * kernel over a broadcast vocabulary ([[graft.fn.UnigramNll]]):
  * zero corpus bytes move. Real-corpus vocabularies (even trillions
  * of tokens keep distinct words in the tens of millions) fit the
  * broadcast guard; past it, [[scoreNllJoined]] degrades to the
  * join+agg form.
  */
object LangModel {

  /** limit() cap for a Long guard: guards near/above Int.MaxValue
    * would overflow `(g + 1).toInt` into 0 or a silent truncation —
    * clamp so "effectively unlimited" stays effectively unlimited.
    */
  private def capOf(guard: Long): Int =
    math.min(guard, (Int.MaxValue - 1).toLong).toInt + 1

  /** Corpus unigram counts (tok, cnt), cnt = total occurrences. */
  def unigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(gb.column(graft.fn.Kernels.TermCounts(gb.expression(col(textCol)))))
        .as(Seq("tok", "tf")))
      .groupBy(col("tok"))
      .agg(sum(col("tf")).as("cnt"))

  /** Collect a counts table to driver model state (tok → cnt, total
    * tokens, vocab size) for the broadcast-kernel scorers — the
    * explicit form for callers that train once and score many frames
    * (e.g. the streaming perplexity gate). Fails fast past the vocab
    * guard rather than silently collecting unbounded state.
    */
  def collectModel(counts: DataFrame,
                   maxVocab: Long = 4000000L): (Map[String, Long], Long, Long) = {
    // guard and fetch in ONE job: limit(maxVocab+1) caps what can ever
    // reach the driver, and an over-guard vocabulary shows up as
    // length > maxVocab. The former count()-then-collect() form ran
    // the whole counting shuffle twice — at sf1 that was half of
    // q102/q109's wall time.
    val rows = counts.limit(capOf(maxVocab)).collect()
    require(rows.length <= maxVocab,
      s"vocabulary exceeds maxVocab=$maxVocab; raise the guard or pre-truncate")
    val model = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    (model, model.valuesIterator.sum, model.size.toLong)
  }

  /** Per-doc add-α unigram NLL via the narrow broadcast kernel:
    * (idCol, n_toks, avg_nll, ppl). Docs without tokens are dropped
    * (no LM evidence either way). `counts` must be (tok, cnt) as
    * produced by [[unigramCounts]]; its size is guarded by
    * `maxBroadcastVocab` — a larger vocabulary falls back to
    * [[scoreNllJoined]].
    */
  def scoreNll(docs: DataFrame, idCol: String, textCol: String,
               counts: DataFrame, alpha: Double = 1.0,
               maxBroadcastVocab: Long = 4000000L): DataFrame = {
    // one counting job, not three: limit(guard+1).collect() both
    // enforces the broadcast guard and fetches the model (the former
    // head-agg + collect pair re-ran the counting shuffle per call);
    // total/vocab then fold on the driver. Only the rare over-guard
    // fallback pays a second aggregate for exact totals.
    val rows = counts.limit(capOf(maxBroadcastVocab)).collect()
    if (rows.isEmpty)
      return docs.select(col(idCol), lit(0L).as("n_toks"),
          lit(0.0).as("avg_nll"), lit(1.0).as("ppl"))
        .limit(0)
    if (rows.length > maxBroadcastVocab) {
      val head = counts.groupBy().agg(
        sum(col("cnt")).as("t"), count(lit(1)).as("v")).collect()(0)
      return scoreNllJoined(docs, idCol, textCol, counts,
        head.getLong(0), head.getLong(1), alpha)
    }
    val model = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = model.valuesIterator.sum
    val vocab = model.size.toLong
    val nll = gb.column(graft.fn.UnigramNll(
      gb.expression(col(textCol)), model, total, vocab, alpha))
    docs.select(col(idCol), nll.as("__s"))
      .filter(col("__s").isNotNull)
      .select(col(idCol), col("__s.n_toks").as("n_toks"),
        col("__s.avg_nll").as("avg_nll"),
        exp(col("__s.avg_nll")).as("ppl"))
  }

  /** Join-form fallback for vocabularies past the broadcast guard:
    * explode each doc's (tok, tf) map, join the counts table on tok
    * (Spark picks shuffle-hash/SMJ under AQE; the tf side carries
    * per-doc DISTINCT tokens only), and fold Σ −tf·ln p per doc.
    * One corpus-distinct-token exchange — the unavoidable cost once
    * the model itself cannot ride to the data.
    */
  def scoreNllJoined(docs: DataFrame, idCol: String, textCol: String,
                     counts: DataFrame, total: Long, vocab: Long,
                     alpha: Double): DataFrame = {
    val denom = lit(total.toDouble + alpha * vocab.toDouble)
    docs
      .select(col(idCol),
        explode(gb.column(graft.fn.Kernels.TermCounts(gb.expression(col(textCol)))))
          .as(Seq("tok", "tf")))
      .join(counts, Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_toks"),
        (sum(-col("tf") * log((coalesce(col("cnt"), lit(0L)) + alpha) / denom)) /
          sum(col("tf"))).as("avg_nll"))
      .select(col(idCol), col("n_toks"), col("avg_nll"),
        exp(col("avg_nll")).as("ppl"))
  }

  /** Train-and-score in one call (the common recipe: score the corpus
    * under its own unigram statistics; low scores ≈ in-domain fluent
    * text, high scores ≈ garbled/rare-token-heavy docs).
    */
  def perplexity(docs: DataFrame, idCol: String, textCol: String,
                 alpha: Double = 1.0): DataFrame =
    scoreNll(docs, idCol, textCol, unigramCounts(docs, textCol), alpha)

  // ---------------------------------------------------- bigram LM

  /** Corpus n-gram counts keyed by component columns — history never
    * crosses document boundaries. The exchange carries per-doc
    * DISTINCT grams with map-side partial sums
    * ([[graft.fn.Kernels.NgramCounts]] builds each doc's gram→tf map inside
    * the scan span); the former posexplode + element_at form
    * hash-partitioned the corpus's entire token stream once per
    * model order — at sf1 that was most of Stupid-Backoff training.
    */
  private def ngramCountsDf(docs: DataFrame, textCol: String, n: Int,
                            parts: Seq[String]): DataFrame = {
    val split_ = docs
      .select(explode(gb.column(graft.fn.Kernels.NgramCounts(
          gb.expression(col(textCol)), n)))
        .as(Seq("__g", "__tf")))
      .groupBy(col("__g"))
      .agg(sum(col("__tf")).as("cnt"))
      .withColumn("__p", split(col("__g"), " "))
    split_.select(parts.zipWithIndex.map { case (p, i) =>
      element_at(col("__p"), i + 1).as(p)
    } :+ col("cnt"): _*)
  }

  /** Corpus bigram counts (prev, tok, cnt). */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame =
    ngramCountsDf(docs, textCol, 2, Seq("prev", "tok"))

  // ------------------------------------ trigram Stupid Backoff LM

  /** Corpus trigram counts (p2, p1, tok, cnt). */
  def trigramCounts(docs: DataFrame, textCol: String): DataFrame =
    ngramCountsDf(docs, textCol, 3, Seq("p2", "p1", "tok"))

  /** Per-doc trigram Stupid Backoff score (Brants et al. 2007 —
    * the web-scale LM built for distributed raw counts: no
    * normalization, no discounting, backoff factor 0.4; see
    * [[graft.fn.TrigramSbNll]] for the exact cascade). Returns
    * (idCol, n_toks, avg_nls) with nls = −ln S.
    *
    * All three count tables broadcast into the narrow kernel under
    * `maxBroadcast`; a trigram table past the guard switches to
    * [[scoreStupidBackoffJoined]] — the paper's own sharded-counts
    * serving shape (counts stay distributed, the token stream joins
    * them), which is how a 100 TB-corpus model scores at all.
    */
  def scoreStupidBackoff(docs: DataFrame, idCol: String, textCol: String,
                         uniCounts: DataFrame, biCounts: DataFrame,
                         triCounts: DataFrame,
                         maxBroadcast: Long = 8000000L): DataFrame = {
    // the three model collects are INDEPENDENT jobs — submit them
    // concurrently so their stages overlap (serial submission made
    // training latency the SUM of three aggregate walls; overlapped
    // it is their max). Still one bounded limit-collect per model.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val cap = capOf(maxBroadcast)
    val fTri = Future(triCounts.limit(cap).collect())
    val fUni = Future(uniCounts.limit(cap).collect())
    val fBi = Future(biCounts.limit(cap).collect())
    val triRows = Await.result(fTri, Duration.Inf)
    val uniRows = Await.result(fUni, Duration.Inf)
    val biRows = Await.result(fBi, Duration.Inf)
    // ANY over-guard table routes to the join form — a pruned trigram
    // table over an unpruned bigram table (standard count-threshold
    // practice) is a legitimate input, not an inconsistency
    if (triRows.length > maxBroadcast || uniRows.length > maxBroadcast ||
        biRows.length > maxBroadcast)
      return scoreStupidBackoffJoined(docs, idCol, textCol,
        uniCounts, biCounts, triCounts)
    // straight rows → open-addressing maps (no intermediate Map, no
    // second hash pass): model prep is driver latency on every call,
    // and the trigram table is the big one. Shipped as TRUE broadcast
    // variables — see TrigramSbNll's scaladoc for why embedded maps
    // are a serialization trap.
    val sc = docs.sparkSession.sparkContext
    val uni = sc.broadcast(graft.fn.TokenCountMap.fromRows(uniRows, 1))
    var total = 0L
    uniRows.foreach(r => total += r.getLong(1))
    val bi = sc.broadcast(graft.fn.TokenCountMap.fromRows(biRows, 2))
    val tri = sc.broadcast(graft.fn.TokenCountMap.fromRows(triRows, 3))
    val nls = gb.column(graft.fn.TrigramSbNll(
      gb.expression(col(textCol)), uni, bi, tri, total))
    docs.select(col(idCol), nls.as("__s"))
      .filter(col("__s").isNotNull)
      .select(col(idCol), col("__s.n_toks").as("n_toks"),
        col("__s.avg_nls").as("avg_nls"))
  }

  /** Join-form Stupid Backoff for count tables past the broadcast
    * guard: the token stream (with its two-token history, derived in
    * the scan span) left-joins the distributed count tables and folds
    * the identical backoff cascade as SQL expressions. Five joins of
    * the position stream — the unavoidable serving cost once the
    * model cannot ride to the data, and exactly the shape the paper
    * runs on its MapReduce count shards.
    */
  def scoreStupidBackoffJoined(docs: DataFrame, idCol: String, textCol: String,
                               uniCounts: DataFrame, biCounts: DataFrame,
                               triCounts: DataFrame): DataFrame = {
    val totalRow = uniCounts.groupBy().agg(sum(col("cnt")).as("t")).collect()(0)
    val nTot = lit(totalRow.getLong(0).toDouble)
    val pos = docs
      .select(col(idCol), array_remove(split(col(textCol), " "), "").as("__toks"))
      .select(col(idCol), posexplode(col("__toks")).as(Seq("__i", "tok")),
        col("__toks"))
      .select(col(idCol), col("tok"),
        when(col("__i") >= 1, element_at(col("__toks"), col("__i"))).as("p1"),
        when(col("__i") >= 2, element_at(col("__toks"), col("__i") - 1)).as("p2"))
    val u = uniCounts.select(col("tok"), col("cnt").as("__uc"))
    val up1 = uniCounts.select(col("tok").as("p1"), col("cnt").as("__upc"))
    val b = biCounts.select(col("prev").as("p1"), col("tok"), col("cnt").as("__bc"))
    val bp = biCounts.select(col("prev").as("p2"), col("tok").as("p1"),
      col("cnt").as("__bpc"))
    val t3 = triCounts.select(col("p2"), col("p1"), col("tok"), col("cnt").as("__tc"))
    val s1 = when(coalesce(col("__uc"), lit(0L)) > 0,
      col("__uc").cast("double") / nTot).otherwise(lit(1.0) / nTot)
    // denominators guard the numerators: a bigram hit whose context
    // unigram is missing (mutually inconsistent tables — e.g. harder
    // pruning upstream) backs off instead of nulling the term, the
    // same rule the broadcast kernel applies (StupidBackoffScore)
    val s2 = when(col("__bc").isNotNull && col("__upc").isNotNull,
      col("__bc").cast("double") / col("__upc").cast("double"))
      .otherwise(lit(0.4) * s1)
    val score = when(col("p1").isNull, s1)
      .when(col("p2").isNull, s2)
      .otherwise(when(col("__tc").isNotNull && col("__bpc").isNotNull,
        col("__tc").cast("double") / col("__bpc").cast("double"))
        .otherwise(lit(0.4) * s2))
    pos
      .join(u, Seq("tok"), "left")
      .join(up1, Seq("p1"), "left")
      .join(b, Seq("p1", "tok"), "left")
      .join(bp, Seq("p2", "p1"), "left")
      .join(t3, Seq("p2", "p1", "tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        (sum(-log(score)) / count(lit(1))).as("avg_nls"))
  }

  /** Per-doc interpolated bigram NLL (Jelinek-Mercer — the shape real
    * CCNet/KenLM quality scoring uses, order 2):
    * p(w|h) = λ·c(h,w)/c(h) + (1−λ)·(c(w)+α)/(T+αV), first token
    * unigram-only. Narrow broadcast kernel
    * ([[graft.fn.BigramNll]]); both count tables ride the
    * expression — guarded by `maxBroadcast` (distinct bigrams in
    * natural corpora grow sublinearly; past the guard, fail fast and
    * fall back to [[scoreNll]] or a sampled model upstream).
    * Returns (idCol, n_toks, avg_nll, ppl).
    */
  def scoreBigramNll(docs: DataFrame, idCol: String, textCol: String,
                     uniCounts: DataFrame, biCounts: DataFrame,
                     alpha: Double = 1.0, lambda: Double = 0.7,
                     maxBroadcast: Long = 8000000L): DataFrame = {
    val (uni, total, vocab) = collectModel(uniCounts, maxBroadcast)
    // same one-job guard-and-fetch as collectModel
    val biRows = biCounts.limit(capOf(maxBroadcast)).collect()
    require(biRows.length <= maxBroadcast,
      s"bigram table exceeds maxBroadcast=$maxBroadcast; sample the corpus or use scoreNll")
    val bi = biRows
      .map(r => (r.getString(0) + " " + r.getString(1)) -> r.getLong(2)).toMap
    val nll = gb.column(graft.fn.BigramNll(
      gb.expression(col(textCol)), uni, bi, total, vocab, alpha, lambda))
    docs.select(col(idCol), nll.as("__s"))
      .filter(col("__s").isNotNull)
      .select(col(idCol), col("__s.n_toks").as("n_toks"),
        col("__s.avg_nll").as("avg_nll"),
        exp(col("__s.avg_nll")).as("ppl"))
  }
}
