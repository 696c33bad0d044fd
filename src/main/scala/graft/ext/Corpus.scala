package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for LLM training-data pipelines:
  * benchmark decontamination, fixed-window chunking, and
  * concat-and-split sequence packing. These are the steps between
  * "deduplicated documents" ([[Dedup]]) and "token blocks on the
  * trainer" — each designed around the 100 TB asymmetry of the
  * problem: the corpus is huge, but the benchmark set (decontaminate),
  * the per-doc token list (chunk), and the per-shard running total
  * (pack) are all small.
  */
object Corpus {

  // ------------------------------------------------ decontamination

  /** Per-document n-gram overlap against a benchmark/eval set — the
    * standard train-test decontamination check (report first, drop
    * second; both live here).
    *
    * Returns (idCol, overlap, doc_shingles, overlap_frac) for every
    * corpus document with `overlap > 0`: `overlap` = distinct word
    * n-grams the doc shares with the UNION of the benchmark's n-grams,
    * `doc_shingles` = the doc's distinct n-gram count, `overlap_frac`
    * their ratio.
    *
    * Scale shape: benchmarks are KBs-to-MBs while the corpus is TBs,
    * so the benchmark shingle set is aggregated small and BROADCAST,
    * and the corpus side moves NO corpus-keyed bytes at all: each
    * doc's distinct-shingle ARRAY (and its size — the denominator) is
    * computed inside the scan's codegen span, exploded, and
    * INNER-joined against the broadcast set map-side, so only
    * benchmark-HIT shingle rows survive to the one groupBy(doc) —
    * the exchange carries the contamination hits (≈ benchmark-sized),
    * not the corpus. Docs with zero overlap never reach the
    * aggregation (the report excludes them by definition). The corpus
    * is scanned exactly once; the former formulation shuffled the
    * full shingle stream twice (a corpus-wide `distinct`, then the
    * groupBy over ALL docs).
    */
  def contaminationReport(docs: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, benchTextCol: String,
                          n: Int = 8): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val distinctSh = array_distinct(
      gb.column(graft.fn.Kernels.WordShingles(gb.expression(col(textCol)), n)))
    val benchSh = Dedup.shingles(
        bench.select(lit(0L).as("__bid"), col(benchTextCol)),
        "__bid", benchTextCol, n)
      .select(col("shingle")).distinct()
    docs
      .select(col(idCol), size(distinctSh).as("doc_shingles"),
        explode(distinctSh).as("shingle"))
      .join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col(idCol))
      .agg(first(col("doc_shingles")).as("doc_shingles"),
        count(lit(1)).as("overlap"))
      .select(col(idCol), col("overlap"), col("doc_shingles"),
        (col("overlap").cast("double") / col("doc_shingles")).as("overlap_frac"))
  }

  /** Winnow-fingerprint contamination screen — the CHEAP pre-filter
    * to [[contaminationReport]]: compares ~2/(w+1)-density winnow
    * fingerprints instead of every n-gram, so the broadcast set and
    * the per-doc explode both shrink ~(w+1)/2× while the winnowing
    * guarantee (any shared run ≥ k+w−1 tokens yields a shared
    * fingerprint) still catches verbatim benchmark quotes of that
    * length. Same zero-corpus-shuffle shape: per-doc fingerprints in
    * the scan span, benchmark set broadcast, only HIT rows reach the
    * one groupBy. Output (idCol, hits, n_fps, hit_frac) for docs
    * with ≥ 1 hit. Use the full report when sub-(k+w−1) overlaps
    * must also count.
    */
  def winnowContaminationReport(docs: DataFrame, idCol: String, textCol: String,
                                bench: DataFrame, benchTextCol: String,
                                k: Int = 8, w: Int = 4,
                                xx: Boolean = false): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val fpsCol = gb.column(graft.fn.Kernels.winnow(xx)(
      gb.expression(col(textCol)), k, w))
    val benchFps = Dedup.winnowFingerprints(
        bench.select(lit(0L).as("__bid"), col(benchTextCol)),
        "__bid", benchTextCol, k, w, xx)
      .select(col("fp")).distinct()
    docs
      .select(col(idCol), fpsCol.as("__fps"))
      .filter(col("__fps").isNotNull)
      .select(col(idCol), size(col("__fps")).as("n_fps"),
        explode(col("__fps")).as("fp"))
      .join(broadcast(benchFps), Seq("fp"))
      .groupBy(col(idCol))
      .agg(first(col("n_fps")).as("n_fps"), count(lit(1)).as("hits"))
      .select(col(idCol), col("hits"), col("n_fps"),
        (col("hits").cast("double") / col("n_fps")).as("hit_frac"))
  }

  /** Drop every corpus document whose benchmark n-gram overlap
    * fraction reaches `maxFrac` (0 = drop on ANY shared n-gram, the
    * strict published-eval convention). Anti-join against the (small)
    * flagged-id set — corpus rows stream through untouched.
    */
  def dropContaminated(docs: DataFrame, idCol: String, textCol: String,
                       bench: DataFrame, benchTextCol: String,
                       n: Int = 8, maxFrac: Double = 0.0): DataFrame = {
    val flagged = contaminationReport(docs, idCol, textCol, bench, benchTextCol, n)
      .filter(col("overlap_frac") > maxFrac ||
        (lit(maxFrac) === 0.0 && col("overlap") > 0))
      .select(col(idCol))
    docs.join(flagged, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------- chunking

  /** Fixed-size token chunks with overlap (RAG / context-window prep):
    * one row per chunk — (idCol, chunk_idx, n_chunk_tokens,
    * chunk_text). Chunk i covers tokens [i·step, i·step + chunkSize)
    * with step = chunkSize − overlap; the final chunk may be shorter;
    * a doc shorter than chunkSize yields exactly one chunk. Documents
    * with empty text yield no chunks.
    *
    * Scale shape: pure narrow per-row work — split, sequence,
    * slice, array_join are all codegen built-ins, no shuffle, no HOF
    * lambdas. A 100 TB corpus chunks at scan speed.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            chunkSize: Int, overlap: Int = 0): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize; got chunkSize=$chunkSize overlap=$overlap")
    val step = chunkSize - overlap
    val toks = split(col(textCol), " ")
    val nTok = size(toks)
    val nChunks = when(nTok <= chunkSize, lit(1L))
      .otherwise(ceil((nTok - chunkSize).cast("double") / step).cast("long") + 1L)
    docs
      .filter(length(col(textCol)) > 0)
      .select(col(idCol), toks.as("__toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__toks"), (col("chunk_idx") * step + 1).cast("int"),
            lit(chunkSize)).as("__chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).as("n_chunk_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  // ------------------------------------------------ sequence packing

  /** Concat-and-split sequence packing (the GPT-style trainer layout):
    * within each shard, documents are concatenated in `idCol` order
    * into one token stream and cut into fixed `blockSize` blocks; a
    * document spanning a cut appears in BOTH blocks. One row per
    * (document, block) assignment: (shard, block_id, idCol, tok_start,
    * n_toks) — tok_start = the first token of the doc that lands in
    * this block (0-based within the doc), n_toks = how many of the
    * doc's tokens the block takes. Docs with `tokCol <= 0` are
    * dropped.
    *
    * Scale shape: the running total is a window per SHARD — never a
    * global single-partition sort. Shard count is the parallelism
    * knob: real pipelines pack per input shard/file (thousands of
    * independent streams); a global pack is shard = lit(0) and is the
    * caller's explicit scale decision. The block explode adds one row
    * per boundary crossing — bounded by tokens/blockSize, the
    * trainer's own output size.
    */
  def packBlocks(docs: DataFrame, idCol: String, tokCol: Column,
                 blockSize: Long, shardCol: Column): DataFrame = {
    require(blockSize > 0, s"blockSize must be positive; got $blockSize")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    val b = lit(blockSize)
    docs.select(shardCol.as("shard"), col(idCol), tokCol.cast("long").as("__cnt"))
      .filter(col("__cnt") > 0)
      .withColumn("__end", sum(col("__cnt")).over(w))
      .withColumn("__start", col("__end") - col("__cnt"))
      .select(col("shard"), col(idCol), col("__cnt"), col("__start"),
        explode(sequence(floor(col("__start") / b),
          floor((col("__end") - 1) / b))).as("block_id"))
      .select(col("shard"), col("block_id"), col(idCol),
        greatest(lit(0L), col("block_id") * b - col("__start")).as("tok_start"),
        (least(col("__start") + col("__cnt"), (col("block_id") + 1) * b) -
          greatest(col("__start"), col("block_id") * b)).as("n_toks"))
  }

  /** Materialize [[packBlocks]] assignments into actual packed token
    * sequences: per (shard, block), the doc fragments concatenated in
    * doc order — what the trainer's data loader reads. Single-space
    * tokenization (the engine convention).
    *
    * Scale shape: the assignment table joins back to the docs on the
    * id (one equi-join — AQE broadcasts the small side when the
    * block set is filtered), fragments are narrow `slice`s of the
    * token array, and the only new shuffle is the per-block
    * collect — output-sized (the trainer's own read volume), with
    * fragment count per block bounded by blockSize (a block holds at
    * most blockSize docs).
    */
  def materializeBlocks(docs: DataFrame, idCol: String, textCol: String,
                        blockSize: Long, shardCol: Column): DataFrame = {
    val toks = docs.select(col(idCol),
      split(col(textCol), " ").as("__toks"))
    val asg = packBlocks(docs, idCol, size(split(col(textCol), " ")),
      blockSize, shardCol)
    asg.join(toks, idCol)
      .select(col("shard"), col("block_id"), col(idCol),
        slice(col("__toks"), (col("tok_start") + 1).cast("int"),
          col("n_toks").cast("int")).as("__frag"))
      .groupBy(col("shard"), col("block_id"))
      .agg(sum(size(col("__frag"))).cast("long").as("n_toks"),
        array_join(flatten(array_sort(collect_list(
          struct(col(idCol), col("__frag")))).getField("__frag")), " ")
          .as("block_text"))
  }

  // ------------------------------------------------ boilerplate

  /** Corpus-wide boilerplate n-grams: word n-grams occurring in at
    * least `minDocs` DISTINCT documents (headers, footers, license
    * blurbs — text shared verbatim across many pages). Returns
    * (shingle, n_docs).
    *
    * Scale shape: the [[Dedup.shingles]] distinct (one shuffle the
    * dedup family already pays) re-aggregated by shingle only — the
    * output is the heavy tail of the gram-frequency distribution,
    * tiny relative to the corpus.
    */
  def boilerplateGrams(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minDocs: Long): DataFrame = {
    require(minDocs > 0, s"minDocs must be positive; got $minDocs")
    Dedup.shingles(docs, idCol, textCol, n)
      .groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Per-document boilerplate exposure: of the doc's distinct word
    * n-grams, how many are corpus-boilerplate per
    * [[boilerplateGrams]], and the fraction. Returns
    * (idCol, n_distinct_grams, n_boilerplate, boilerplate_frac); docs
    * with no n-grams yield no row. High-fraction docs are the
    * template-generated pages curation drops.
    *
    * The boilerplate set joins the doc-shingle stream on the shingle
    * key — a small-side join Spark broadcasts when the set is small
    * (AQE decides; at pathological thresholds it degrades to a
    * shuffle join, never a product).
    */
  def boilerplateStats(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minDocs: Long): DataFrame = {
    require(minDocs > 0, s"minDocs must be positive; got $minDocs")
    // bp derives from the SAME dsh plan so the shingle-distinct
    // Exchange is computed once and reused across both branches
    // (ReusedExchange — the q67 pipeline's proven pattern).
    val dsh = Dedup.shingles(docs, idCol, textCol, n)
    val bp = dsh.groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .withColumn("__bp", lit(1L))
    dsh.join(bp.select(col("shingle"), col("__bp")), Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_distinct_grams"),
        sum(coalesce(col("__bp"), lit(0L))).as("n_boilerplate"))
      .select(col(idCol), col("n_distinct_grams"), col("n_boilerplate"),
        (col("n_boilerplate").cast("double") / col("n_distinct_grams"))
          .as("boilerplate_frac"))
  }

  // ------------------------------------------------ mixture sampling

  /** Default deterministic permutation key for the samplers: xxhash64
    * of the id — a stable pseudo-random priority that never touches
    * `rand()` (task retries replay identically; the reason `ops/Salt`
    * made the same choice).
    */
  def permKey(idCol: Column): Column = xxhash64(idCol)

  /** [[permKey]] mapped uniformly onto the unit interval [0,1) —
    * the threshold-sampling form of the permutation key. Derived from
    * the TOP 53 bits ((key >>> 11) · 2⁻⁵³): every value is an exact
    * double and the range is exactly [0,1). (Dividing the full 64-bit
    * key by 2⁶⁴ instead would round values near Long.MaxValue UP to
    * exactly 1.0, so `hashSample(frac = 1.0)` could drop a row with
    * probability ~2⁻⁵⁴ — the [0,1) contract would be violated.)
    */
  def unitKey(idCol: Column): Column =
    shiftrightunsigned(permKey(idCol), 11).cast("double") * lit(math.pow(2, -53))

  /** Stateless deterministic fractional sampling: keep a row iff its
    * unit-interval permutation key falls below `frac`. The
    * data-mixing primitive for weighted source blending ("20% code,
    * 40% web, ..."): one pass, NO shuffle, no state — the only
    * sampling shape that is free at 100 TB. Deterministic: the same
    * row set survives on every run and every retry.
    *
    * `key` must be uniform over [0,1) (the [[unitKey]] default is;
    * a portable SQL-replicable key like `((id·K) mod 2^32) / 2^32`
    * works too). Expected|kept| = frac·n with binomial concentration
    * — exact-count sampling needs [[quotaSample]].
    */
  def hashSample(docs: DataFrame, idCol: String, frac: Double,
                 key: Column => Column = unitKey): DataFrame = {
    require(frac >= 0 && frac <= 1, s"frac must be in [0,1]; got $frac")
    docs.filter(key(col(idCol)) < lit(frac))
  }

  /** Weighted multi-source mixing: keep each row with the probability
    * its source's weight prescribes — the one-pass form of a training
    * mixture recipe ("50% of src0, 10% of src1, drop the rest").
    * Sources absent from `weights` get `default`. Same stateless
    * hash-threshold mechanics as [[hashSample]]: no shuffle, no
    * state, retry-stable, and nested — raising one source's weight
    * only ADDS rows, never swaps any (recipe iteration does not churn
    * the corpus).
    */
  def mixBySource(docs: DataFrame, idCol: String, sourceCol: String,
                  weights: Map[String, Double], default: Double = 0.0,
                  key: Column => Column = unitKey): DataFrame = {
    require((weights.values ++ Seq(default)).forall(w => w >= 0 && w <= 1),
      s"weights must be in [0,1]; got $weights default=$default")
    val w = weights.toSeq.sortBy(_._1).foldLeft(lit(default)) {
      case (rest, (src, frac)) =>
        when(col(sourceCol) === src, lit(frac)).otherwise(rest)
    }
    docs.filter(key(col(idCol)) < w)
  }

  /** Exact per-stratum quota sampling: the `quota` highest-priority
    * rows of each stratum under the deterministic permutation key
    * (ties broken by id — total order, so the sample is unique and
    * reproducible). The data-mixing primitive when the recipe is
    * per-source COUNTS rather than fractions.
    *
    * Scale shape: one shuffle carrying O(partitions x quota) rows per
    * stratum — [[graft.ext.Sketches.bottomKRows]]'s bounded per-group
    * retention with map-side combine; no stratum is ever collected
    * into one task or sorted whole (the window-rank form this
    * replaced did both, which with a handful of sources over a
    * 100 TB corpus is a single-task sort of ~trillions of rows).
    */
  def quotaSample(docs: DataFrame, idCol: String, stratumCol: String,
                  quota: Int, key: Column => Column = permKey): DataFrame = {
    require(quota > 0, s"quota must be positive; got $quota")
    graft.ext.Sketches.bottomKRows(docs, Seq(stratumCol),
      Seq(key(col(idCol)), col(idCol)), quota)
  }

  /** Deterministic train/val/test assignment (the split every
    * training pipeline pins before anything else): bucket =
    * portable-hash(key) mod Σweights, assigned to splits by
    * cumulative weight — e.g. `("train" -> 8, "val" -> 1,
    * "test" -> 1)` sends 8/10 of keys to train. Properties a random
    * split cannot give at 100 TB: stateless (a narrow projection, no
    * shuffle, no stored assignment table), stable under reruns and
    * re-partitioning, and CROSS-ENGINE reproducible via
    * [[Sketches.orderHash]] (md5 — an external system can recompute
    * membership from SQL alone). Same-key rows always land together
    * (split by document, never by row).
    */
  def hashSplit(docs: DataFrame, keyCol: Column,
                splits: Seq[(String, Int)] = Seq("train" -> 8, "val" -> 1, "test" -> 1)): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      s"split weights must be positive: $splits")
    val total = splits.map(_._2).sum
    val m = Sketches.orderHash(keyCol) % total
    val (expr, _) = splits.foldLeft((lit(null).cast("string"), 0)) {
      case ((acc, cum), (name, wgt)) =>
        (when(m >= cum && m < cum + wgt, name).otherwise(acc), cum + wgt)
    }
    docs.withColumn("split", expr)
  }
}
