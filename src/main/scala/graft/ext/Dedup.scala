package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

/** Near-duplicate detection at scale: MinHash + LSH banding as a real
  * pipeline (SURVEY.md §7.1 ext/; the brief's headline LLM-data op).
  *
  *   shingles → minhash signatures → LSH bands → in-bucket candidate
  *   pairs → exact-Jaccard verify → keep-min-id dedup (greedy, or full
  *   connected components)
  *
  * Scale design (the whole point — the reference has nothing here):
  *
  *  - Signatures are computed WITHOUT row explosion: the k hash values
  *    are k columns (`min` aggregates) over one pass of the shingle
  *    table — map-side partial aggregation collapses each partition to
  *    one row per doc before the single shuffle. The naive
  *    `explode(0..k-1)` alternative multiplies the shingle table k×
  *    (it was this repo's slowest query in round 1 at 4.6 s; this
  *    formulation is ~k× less shuffle IO).
  *  - Candidate generation is one groupBy on the bucket key plus
  *    in-bucket pair explosion — the band table is consumed once, and
  *    no CartesianProduct or BroadcastNestedLoopJoin appears anywhere
  *    in the plan (asserted by DedupSpec): all-pairs O(N²) never
  *    materializes.
  *  - Bucket-size guard: a degenerate bucket (e.g. the empty-text
  *    signature) would produce |bucket|² candidate pairs. Buckets
  *    larger than `maxBucket` are dropped BEFORE any pair explodes —
  *    the standard LSH skew guard; at 100 TB this is what keeps the
  *    pair count bounded. Dropped buckets mean those docs are only
  *    compared through their other b-1 bands.
  *  - Verification is exact set-Jaccard over shingles via equi-joins
  *    keyed on (doc, shingle) — shuffle-safe, no skew risk beyond the
  *    shingle frequency distribution itself.
  *
  * Hashing is pluggable via [[Hasher]]: [[XxHasher]] (64-bit longs,
  * codegen'd, the production path) and [[ParityHasher]] (md5-derived affine ints —
  * byte-identical in DuckDB, used by the oracle queries q65-q67 so the
  * differential tests hash-match across engines).
  */
object Dedup {

  /** k seeded hash functions + a band combiner, as Catalyst columns.
    * Split into an expensive one-per-row [[prepare]] and k cheap
    * [[hash]] transforms of the prepared value, so computing a k-wide
    * signature costs ONE content hash per row, not k (the classic
    * "k affine permutations of one hash" minhash construction).
    */
  trait Hasher {
    /** Content hash of `shingle` — computed once per row. */
    def prepare(shingle: Column): Column
    /** Cheap i-th derived hash of the prepared value — orderable
      * (min = MinHash).
      */
    def hash(i: Int, prepared: Column): Column
    /** Combine one band's r signature elements into a bucket key. */
    def band(parts: Seq[Column]): Column
  }

  /** Production hasher: xxhash64 content hash, re-seeded xxhash64 for
    * the k derivations (all long-typed, codegen, no strings).
    */
  object XxHasher extends Hasher {
    def prepare(shingle: Column): Column = xxhash64(shingle)
    def hash(i: Int, prepared: Column): Column = xxhash64(lit(i), prepared)
    def band(parts: Seq[Column]): Column = xxhash64(parts: _*)
  }

  /** Cross-engine parity hasher (oracle queries): base = the first 15
    * hex digits of md5 parsed as a 60-bit int, reduced mod
    * P = 2^31 - 1; derived hashes are affine transforms
    * (A_i·h + B_i) mod P; band keys fold parts polynomially mod P.
    * Every step is plain integer arithmetic expressible identically in
    * DuckDB (`CAST('0x'||SUBSTR(md5(x),1,15) AS BIGINT)`), with all
    * intermediates < 2^62 (no overflow on either engine).
    */
  object ParityHasher extends Hasher {
    val P: Long = 2147483647L // 2^31 - 1 (Mersenne prime)
    def A(i: Int): Long = ((i + 1) * 2654435761L) % P
    def B(i: Int): Long = ((i + 1) * 2654777111L) % P
    def prepare(shingle: Column): Column =
      conv(substring(md5(shingle), 1, 15), 16, 10).cast("long") % P
    def hash(i: Int, prepared: Column): Column =
      (lit(A(i)) * prepared + lit(B(i))) % P
    def band(parts: Seq[Column]): Column =
      parts.reduce((acc, p) => (acc * lit(31L) + p) % P)
  }

  /** Materialize a small intermediate ONCE, with lineage truncation:
    * reliable checkpoint when the session has a checkpoint dir
    * (cluster deployments — keeps fault tolerance), localCheckpoint
    * otherwise. Unlike `persist()`, this leaves NO CacheManager entry
    * behind — the blocks are owned by the checkpointed RDD and the
    * ContextCleaner reclaims them once the caller's reference drops,
    * so repeated library calls in a long-lived session do not
    * accumulate pinned storage.
    */
  private[ext] def materialize(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Persist with a BOUNDED library-wide registry: the oldest pinned
    * frame is released once more than `MaxPinned` accumulate, so
    * repeated library calls in a long-lived session cannot grow
    * CacheManager entries without limit (an unpersisted frame a
    * caller still holds simply recomputes — correctness unaffected).
    * persist (not checkpoint) on purpose: `Dataset.checkpoint`
    * executes via `toRdd`, BYPASSING AQE — the pipeline under it
    * loses broadcast-join conversion and partition coalescing, and
    * the warm bench measures it consistently slower (sf0.1 A/B:
    * q67 2.2 s → 1.4 s, q74 1.0 s → 0.46 s; totals equal within
    * noise at sf1). Known trade: the persist is LAZY, so the FIRST
    * cold consumption can recompute the candidate pipeline's final
    * map stages once per consumer branch before blocks register
    * (shuffle stages are still shared by the scheduler, so the
    * redundancy is bounded; measured once per fresh session, and
    * only there — an eager count() that would pre-register blocks
    * serializes materialization against the consumer and measured
    * strictly worse end-to-end at both SFs).
    */
  private val MaxPinned = 4
  private val pinned = new java.util.ArrayDeque[DataFrame]()
  private[ext] def persistBounded(df: DataFrame): DataFrame = synchronized {
    // CacheManager keys entries by CANONICAL plan, so two pins of the
    // same pipeline share one entry — an eviction of the older pin
    // would silently uncache the newer one (repeated identical calls,
    // e.g. a warm bench loop, would defeat the cache from call
    // MaxPinned+1 on). Dedupe the registry by canonical plan instead:
    // an equal-plan re-pin just moves to the newest slot.
    val canon = df.queryExecution.analyzed.canonicalized
    val it = pinned.iterator()
    while (it.hasNext)
      if (it.next().queryExecution.analyzed.canonicalized == canon) it.remove()
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinned.addLast(p)
    while (pinned.size > MaxPinned) {
      val old = pinned.removeFirst()
      // a frame from a stopped session (JVM with session restarts)
      // must not fail the CURRENT session's pipeline
      try if (!old.sparkSession.sparkContext.isStopped)
        old.unpersist(blocking = false)
      catch { case _: IllegalStateException => () }
    }
    p
  }

  /** Distinct word n-gram shingles per document: (idCol, shingle).
    * Single-space tokenization (engine-identical, like q40/q60); empty
    * tokens dropped; docs shorter than n words yield no shingles.
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 3): DataFrame =
    shingleStream(docs, idCol, textCol, n).distinct()

  /** Non-distinct shingle stream (one row per shingle OCCURRENCE) via
    * the native [[graft.fn.Kernels.WordShingles]] codegen kernel — the n-gram
    * array is computed in one pass per document INSIDE the scan
    * stage's codegen span and exploded directly: NO shuffle at all.
    * Formulation history (all measured): posexplode + lead-window
    * (round 2's choice) costs a full token-stream shuffle+sort — the
    * pipeline's single most expensive stage; `transform`/`slice`
    * lambdas evaluate interpreted (~100× slower); carrying the token
    * array through a generator with `element_at` materializes the
    * array into every output row (O(tokens²) bytes per doc). Use
    * directly where duplicates don't matter (minhash `min` is
    * idempotent); [[shingles]] adds the distinct for set semantics.
    */
  def shingleStream(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val grams = gb.column(graft.fn.Kernels.WordShingles(gb.expression(col(textCol)), n))
    docs.select(col(idCol), explode(grams).as("shingle"))
  }

  /** MinHash signature per doc: (idCol, sig) where sig is a k-element
    * array — element i = min over the doc's shingles of hash_i(shingle).
    * One groupBy with k `min` aggregate columns: no row explosion, full
    * map-side combine.
    */
  def minhashSignatures(sh: DataFrame, idCol: String, k: Int,
                        hasher: Hasher = XxHasher): DataFrame = {
    val prepared = sh.select(col(idCol), hasher.prepare(col("shingle")).as("__p"))
    val mins = (0 until k).map(i => min(hasher.hash(i, col("__p"))).as(s"__h$i"))
    prepared.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /** Per-ROW MinHash signatures via the native [[graft.fn.Kernels.MinhashSig]]
    * kernel: (idCol, sig) computed inside the scan's codegen span —
    * NO explode, NO groupBy, NO shuffle. Bit-identical to
    * [[minhashSignatures]] with [[XxHasher]] (DedupSpec asserts);
    * docs shorter than n words are dropped (the aggregate form emits
    * no row for them either). This is the form a STREAM uses
    * (stateless per-document signatures) and the cheapest batch form;
    * the aggregate form remains for pluggable hashers (the md5
    * ParityHasher oracle path).
    */
  def minhashSigPerRow(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    docs.select(col(idCol),
        gb.column(graft.fn.Kernels.MinhashSig(gb.expression(col(textCol)), n, k)).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** [[minhashSigPerRow]] under [[ParityHasher]] — the shuffle-free
    * per-row form of the ORACLE-parity signature branch, bit-identical
    * to `minhashSignatures(shingleStream(…), k, ParityHasher)`
    * (DedupSpec asserts). The affine coefficients are baked into the
    * expression instance.
    */
  def minhashSigPerRowParity(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val a = (0 until k).map(ParityHasher.A)
    val b = (0 until k).map(ParityHasher.B)
    docs.select(col(idCol),
        gb.column(graft.fn.ParityMinhashSig(
          gb.expression(col(textCol)), n, k, a, b)).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    * 2003 — MOSS): (idCol, fp) rows, fp = the distinct w-window
    * minima of the doc's k-shingle 60-bit md5 hashes (the
    * [[graft.fn.Kernels.WinnowFingerprints]] narrow kernel; see there for
    * the ≥ k+w−1 shared-run detection guarantee). The selected
    * density is ~2/(w+1) of shingles — the fingerprint table a
    * shared-span / plagiarism join runs on at a fraction of the full
    * shingle table's size. Docs with no k-shingle emit no rows.
    *
    * `xx = true` selects the xxhash64 production shingle hasher
    * (same selection algorithm, ~20× cheaper than the md5 default —
    * the md5 path exists ONLY so the DuckDB oracle can reproduce the
    * fingerprints bit-for-bit; a production corpus run should pass
    * xx = true). Fingerprints from the two hashers are not
    * comparable with each other.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4, xx: Boolean = false): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    docs.select(col(idCol),
        gb.column(graft.fn.Kernels.winnow(xx)(
          gb.expression(col(textCol)), k, w)).as("__fps"))
      .filter(col("__fps").isNotNull)
      .select(col(idCol), explode(col("__fps")).as("fp"))
  }

  /** Shared-span candidate pairs over [[winnowFingerprints]] — the
    * distributed stand-in for suffix-array exact-substring dedup
    * (Lee et al. 2021 "Deduplicating Training Data Makes Language
    * Models Better"): docs sharing ≥ `minShared` winnow fingerprints
    * very likely share verbatim token runs of length ≥ k+w−1.
    * Output (a_id, b_id, n_shared), a_id < b_id.
    *
    * Scale shape: same bucket discipline as the LSH path — fingerprint
    * buckets are COUNT-guarded first (degenerate boilerplate
    * fingerprints shared by > maxBucket docs are dropped before any
    * member list or pair materializes), then pairs are generated
    * per-bucket and counted with map-side combine. The corpus never
    * self-joins; the exchange carries the ~2/(w+1)-density fingerprint
    * table, not the text.
    */
  def winnowSharedPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 5, w: Int = 4, minShared: Int = 2,
                        maxBucket: Int = 10000, xx: Boolean = false): DataFrame = {
    // Fingerprint the corpus ONCE (round 16, the SpanDedup rule): the
    // previous shape ran the winnow kernel twice — under the bucket
    // COUNT aggregate and again under the semi-join back — because
    // column pruning specializes the two subtrees and defeats exchange
    // reuse. All rows of a fingerprint are co-located after one
    // fp-partitioned exchange, so the bucket size IS a window count
    // over that partition; the [2, maxBucket] guard still applies
    // BEFORE any member list materializes, and the groupBy that
    // follows rides the same partitioning with no further exchange.
    val fps = winnowFingerprints(docs, idCol, textCol, k, w, xx)
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val buckets = fps
      .withColumn("__n", count(lit(1)).over(byFp))
      .filter(col("__n").between(2, maxBucket))
      .groupBy(col("fp"))
      .agg(collect_list(col(idCol)).as("__m"))
    buckets
      .select(col("__m"), posexplode(col("__m")).as(Seq("__i", "__x")))
      .select(col("__x"),
        explode(slice(col("__m"), col("__i") + lit(2), size(col("__m")))).as("__y"))
      .groupBy(least(col("__x"), col("__y")).as("a_id"),
        greatest(col("__x"), col("__y")).as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** LSH banding: split the k-element signature into `b` bands of
    * r = k/b rows each; a band's bucket key hashes its r elements.
    * Output (idCol, band, band_hash) — b small rows per doc (explode
    * AFTER aggregation, so the fan-out is b× of the doc count, not of
    * the shingle count).
    */
  def lshBands(sigs: DataFrame, idCol: String, k: Int, b: Int,
               hasher: Hasher = XxHasher): DataFrame = {
    require(k % b == 0, s"signature length $k not divisible into $b bands")
    val r = k / b
    val bandStructs = (0 until b).map { bi =>
      val parts = (0 until r).map(j => element_at(col("sig"), bi * r + j + 1))
      struct(lit(bi).as("band"), hasher.band(parts).as("band_hash"))
    }
    sigs.select(col(idCol), explode(array(bandStructs: _*)).as("__bs"))
      .select(col(idCol), col("__bs.band").as("band"), col("__bs.band_hash").as("band_hash"))
  }

  /** Candidate pairs: docs sharing at least one (band, band_hash)
    * bucket, as (a_id, b_id) with a_id < b_id, distinct — never a
    * cross product. Buckets with more than `maxBucket` members are
    * excluded (LSH skew guard, see object doc).
    */
  def candidatePairs(bands: DataFrame, idCol: String,
                     maxBucket: Int = 10000): DataFrame = {
    // Two-phase guard (ADVICE r2), single-pass form (round 16): all
    // members of a bucket are co-located after one (band, band_hash)
    // exchange, so the bucket size is a window COUNT over that
    // partition and the [2, maxBucket] prune applies BEFORE any member
    // list materializes — same guard as the original count-aggregate +
    // semi-join shape, but the bands subtree (and the signature kernel
    // feeding it) evaluates once instead of twice: column pruning
    // specialized the two subtrees and silently defeated the exchange
    // reuse the previous comment assumed. The collect_list that
    // follows rides the same partitioning (no further exchange) and
    // still holds at most maxBucket ids (~80 KB at the default); pair
    // generation stays two codegen'd generators — the quadratic
    // blow-up is capped before any pair or oversized list exists.
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    val buckets = bands
      .withColumn("__n", count(lit(1)).over(byBucket))
      .filter(col("__n").between(2, maxBucket))
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col(idCol)).as("__m"))
    buckets
      .select(col("__m"), posexplode(col("__m")).as(Seq("__i", "__x")))
      .select(col("__x"),
        explode(slice(col("__m"), col("__i") + lit(2), size(col("__m")))).as("__y"))
      .select(least(col("__x"), col("__y")).as("a_id"),
        greatest(col("__x"), col("__y")).as("b_id"))
      .distinct()
  }

  /** Exact set-Jaccard verification of candidate pairs against the
    * shingle table: (a_id, b_id, jaccard), keeping pairs with
    * jaccard >= minJaccard. `sh` may carry duplicate (doc, shingle)
    * rows — set semantics are applied here (collect_set), so callers
    * can feed the shuffle-free [[shingleStream]] and skip a distinct.
    *
    * Shape (round-3 rework, measured ~3× faster than the former
    * shingle-level 3-way join): candidate docs' shingles are collapsed
    * to ONE array row per doc, and the intersection runs as a codegen
    * `array_intersect` per candidate pair. Cost model at 100 TB: the
    * semi-join prune keeps the collect bounded by the CANDIDATE set,
    * not the corpus; per-doc state is the doc's distinct-shingle set —
    * the same bytes the former join shuffled as k rows, now one row
    * (a 1M-word outlier doc is a ~8 MB array row — fine for executors,
    * far under the 2 GB row limit). The pair joins are
    * candidate-count-sized and AQE picks broadcast vs shuffle from
    * actual sizes (ADVICE r2: never force-broadcast — in a heavy-dup
    * corpus candidate docs can be a large fraction of the corpus).
    * Unlike the join formulation, zero-intersection candidates
    * survive to the filter (with jaccard = 0), so minJaccard = 0
    * returns every candidate pair rather than dropping disjoint ones.
    */
  def jaccardVerify(cands: DataFrame, sh: DataFrame, idCol: String,
                    minJaccard: Double): DataFrame = {
    // only candidate docs' shingles matter — semi-join prune first so
    // verification cost scales with the candidate set, not the corpus
    // (no distinct needed: the semi-join dedupes, saving an exchange)
    val candDocs = cands.select(col("a_id").as(idCol))
      .union(cands.select(col("b_id").as(idCol)))
    val sets = sh.join(candDocs, Seq(idCol), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("__set"))
    verifyPairs(cands, sets, idCol, minJaccard)
  }

  /** [[jaccardVerify]] with the prune applied at the DOCUMENT level
    * BEFORE shingling: the corpus is semi-joined down to candidate
    * docs first (the candidate id set is small by the `maxBucket`
    * invariant, so AQE broadcasts it and the corpus scan stays
    * narrow), and only the surviving docs are exploded into shingles.
    * The shingle-stream form above explodes EVERY doc's shingles and
    * prunes the exploded rows — corpus-sized generator work that this
    * form never does. Measured at sf0.1: the verify branch drops from
    * ~0.9 s to the candidate-proportional cost; at 100 TB the explode
    * volume is (candidate docs)/(corpus docs) of the stream form's.
    */
  def jaccardVerifyDocs(cands: DataFrame, docs: DataFrame, idCol: String,
                        textCol: String, n: Int,
                        minJaccard: Double): DataFrame = {
    val candDocs = cands.select(col("a_id").as(idCol))
      .union(cands.select(col("b_id").as(idCol)))
    val sets = shingleStream(docs.join(candDocs, Seq(idCol), "left_semi"),
        idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("__set"))
    verifyPairs(cands, sets, idCol, minJaccard)
  }

  /** Common tail of the verify forms: attach each pair's two shingle
    * sets and compute exact set Jaccard in codegen.
    *
    * Round 16: the former two-join form (pairs ⋈ sets on a_id, then
    * ⋈ sets on b_id) physically evaluated the `sets` subtree TWICE —
    * the planner streams it into one join and broadcasts it into the
    * other, so no exchange reuse is possible and the whole
    * semi-join + shingle + collect_set pipeline ran two full passes
    * (q67: twin 0.6 s stages). Instead each pair melts into one row
    * per member, `sets` is consumed by ONE equi-join, and the pair
    * regroups its two sets. Jaccard is symmetric (|∩| and |A|+|B| do
    * not depend on which side is which), so the collected order is
    * irrelevant; a pair missing a set row (doc too short to shingle)
    * collects fewer than two sets and is dropped — exactly the old
    * inner-join semantics. The regroup exchange carries each
    * candidate doc's set once per pair membership, bounded by the
    * candidate-pair count — the same verify-scale invariant as
    * before, minus one full sets pass.
    */
  private def verifyPairs(cands: DataFrame, sets: DataFrame, idCol: String,
                          minJaccard: Double): DataFrame =
    cands
      .select(col("a_id"), col("b_id"),
        explode(array(col("a_id"), col("b_id"))).as(idCol))
      .join(sets, Seq(idCol))
      .groupBy(col("a_id"), col("b_id"))
      .agg(collect_list(col("__set")).as("__ss"))
      .filter(size(col("__ss")) === 2)
      .select(col("a_id"), col("b_id"),
        size(array_intersect(element_at(col("__ss"), 1),
          element_at(col("__ss"), 2))).as("__inter"),
        (size(element_at(col("__ss"), 1)) +
          size(element_at(col("__ss"), 2))).as("__zab"))
      .select(col("a_id"), col("b_id"),
        (col("__inter").cast("double") /
          (col("__zab") - col("__inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  /** The full near-dup pipeline: docs → verified near-dup pairs
    * (a_id, b_id, jaccard), a_id < b_id.
    *
    * Defaults (n=3 word shingles, k=16 hashes, b=8 bands of r=2):
    * match probability 1-(1-J²)⁸ — ≈0.9997 at J=0.8, ≈0.64 at J=0.5 —
    * tuned for the "same doc, light edits" regime.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 16, b: Int = 8,
                   minJaccard: Double = 0.8,
                   hasher: Hasher = XxHasher,
                   maxBucket: Int = 10000,
                   persistIntermediates: Boolean = false): DataFrame = {
    // Every shingle consumer reads the shuffle-FREE non-distinct
    // stream: `min` is idempotent over duplicates (signatures), and
    // the verify collect_set applies set semantics itself — no
    // distinct shuffle anywhere in the pipeline.
    //
    // The candidate-pair table fans out into THREE verify branches
    // (the two semi-join prune arms and the pair join), and each
    // branch's lineage re-runs the whole LSH chain, so `cands` is
    // ALWAYS pinned via the bounded lazy persist (persistBounded —
    // AQE-preserving, registry-bounded; the checkpoint alternative
    // and the measured trade live in its doc + BENCH_NOTES): it is
    // small by construction (LSH buckets bounded by maxBucket cap the
    // pair count — that bound is the pipeline's scale invariant, so
    // materializing it is safe at any corpus size) and doing so
    // measured 2× on the bench (2.35 s → 1.26 s at sf0.1). The
    // corpus-sized shingle STREAM is the opposite trade: its
    // recompute is a narrow codegen scan (cheap), while materializing
    // it at 100 TB is the full tokenized corpus — persist it only on
    // persistIntermediates=true (cluster runs where the scan itself
    // dominates, e.g. remote storage).
    def maybePersist(df: DataFrame): DataFrame =
      if (persistIntermediates)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    // both shipped hashers have a per-row kernel (no explode, no
    // groupBy on the signature branch); other custom hashers take the
    // aggregate form over the shuffle-free shingle stream
    val sigs =
      if (hasher eq XxHasher) minhashSigPerRow(docs, idCol, textCol, n, k)
      else if (hasher eq ParityHasher)
        minhashSigPerRowParity(docs, idCol, textCol, n, k)
      else minhashSignatures(
        maybePersist(shingleStream(docs, idCol, textCol, n)), idCol, k, hasher)
    val bands = lshBands(sigs, idCol, k, b, hasher)
    val cands = persistBounded(candidatePairs(bands, idCol, maxBucket))
    // verify prunes at the DOC level before shingling: only candidate
    // docs are exploded, so the verify branch's generator volume
    // scales with the candidate set, not the corpus
    jaccardVerifyDocs(cands, docs, idCol, textCol, n, minJaccard)
  }

  /** Greedy near-dup removal: drop every doc that has a verified
    * near-duplicate with a SMALLER id; keep the rest. This is
    * edge-greedy, not full transitive closure (a doc whose only
    * duplicate-neighbors have larger ids survives even inside a larger
    * duplicate cluster) — the standard single-pass production choice;
    * iterate-to-fixpoint connected components would need a loop of
    * joins and is rarely worth it for dedup.
    */
  def dropNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, k: Int = 16, b: Int = 8,
                         minJaccard: Double = 0.8,
                         hasher: Hasher = XxHasher): DataFrame = {
    val dupIds = nearDupPairs(docs, idCol, textCol, n, k, b, minJaccard, hasher)
      .select(col("b_id").as(idCol)).distinct()
    docs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Minimum-label connected components over an undirected pair graph
    * (a_id, b_id): returns (id, label) with label = the component's
    * smallest id. Label propagation to fixpoint — each iteration is
    * one join + one min-aggregate, materialized (persist + count) so
    * the loop's lineage stays flat; dedup graphs have tiny diameters
    * (duplicate clusters are near-cliques), so convergence is 2-4
    * iterations in practice, `maxIters` bounds the worst case.
    */
  def connectedMinLabels(pairs: DataFrame, maxIters: Int = 10,
                         smallGraphMax: Long = 1L << 20): DataFrame = {
    // CHECKPOINT the pair graph before iterating — lineage truncation,
    // not just caching. The input is typically the tail of an
    // expensive verify pipeline, and with plain persist() the loop's
    // per-iteration plans (which embed the full lineage) miss the
    // cache substitution and RE-RUN the pipeline every iteration
    // (measured: 13-16 s vs 2.3 s for the whole q80 at sf0.1).
    // Truncating lineage at the iteration boundary is the standard
    // iterative-graph practice (GraphX/MLlib do the same). Reliable
    // checkpoint when the session has a checkpoint dir (cluster
    // deployments — keeps fault tolerance); localCheckpoint otherwise
    // (executor-local storage, the accepted local/dev form). The
    // checkpointed table is |pairs|-sized — the CC working set, small
    // relative to the corpus by the near-dup premise.
    // Materialize through a PERSIST first (AQE-preserving — a direct
    // checkpoint executes the upstream pipeline via `toRdd`, which
    // BYPASSES AQE: the expensive verify pipeline feeding this loop
    // would lose its broadcast-join conversion and coalescing, the
    // same measured trade persistBounded documents). The sizing count
    // rides the persist; the checkpoint for the loop branch then just
    // copies cached blocks instead of re-executing the pipeline.
    val cached = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = cached.count()
    // Adaptive small-graph fast path: when the (already materialized,
    // so the count is one cheap job) edge set fits comfortably on the
    // driver, run union-find locally instead of a multi-job
    // distributed loop. The same threshold-gated adaptivity Spark
    // itself applies to broadcast joins: at sf0.1 this turns ~10 jobs
    // of fixed scheduling overhead into milliseconds; at 100 TB a
    // billion-edge graph skips the branch and takes the distributed
    // loop. 2^20 edges ≈ tens of MB collected — well inside driver
    // headroom, same order as the broadcast threshold.
    if (smallGraphMax > 0 && nPairs <= smallGraphMax) {
      try return driverUnionFind(cached)
      finally cached.unpersist(blocking = false)
    }
    // loop branch: truncate lineage at the iteration boundary (plain
    // persist is NOT enough — each iteration's plan embeds the full
    // lineage and cache substitution misses re-run it; see doc above)
    val p =
      try {
        if (pairs.sparkSession.sparkContext.getCheckpointDir.isDefined)
          cached.checkpoint()
        else cached.localCheckpoint()
      } finally cached.unpersist(blocking = false)
    val edges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(p.select(col("b_id").as("src"), col("a_id").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Convergence test, fast path (integral ids only): a min-label
    // propagation step strictly DECREASES every label it changes, so
    // sum(label) is strictly monotone and two consecutive equal sums
    // IS the fixpoint. The sum rides the SAME job that materializes
    // each iteration's persist — replacing the join + count
    // convergence job of the naive form (one job per iteration
    // instead of two; the loop is fixed-overhead-bound, so this
    // halves its cost). decimal(38,0) so the sum cannot overflow for
    // any realistic id domain. The cast is only lossless for
    // INTEGRAL label types — for string/UUID ids it yields null
    // (sum null == sum null would declare convergence after one
    // step) and for float/double rounding could mask a real change —
    // so any non-integral id falls back to a changed-row count
    // (order-comparable is all min() needs; one extra job per
    // iteration).
    val sumConvergenceSafe = labels.schema("label").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType if d.scale == 0                => true
      case _                                             => false
    }
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
    // no initial sum job: iteration 1 changes labels unless the graph
    // has no edges at all, so its sum is compared against null (≠)
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
        .unionByName(labels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (sumConvergenceSafe) {
        val s = labelSum(prop)
        converged = java.util.Objects.equals(s, prevSum) // null-safe: empty graph
        prevSum = s
      } else {
        val changed = prop.as("n")
          .join(labels.as("o"), col("n.id") === col("o.id"))
          .where(col("n.label") =!= col("o.label"))
          .count()
        converged = changed == 0L
      }
      labels.unpersist()
      labels = prop
      it += 1
    }
    // hand back a checkpointed copy and release every loop persist —
    // returning the persisted frame itself would leave its
    // CacheManager entry pinned for the session lifetime
    val out = materialize(labels)
    labels.unpersist()
    edges.unpersist()
    out
  }

  /** Driver-side union-find over a collected pair graph — the small-
    * graph branch of [[connectedMinLabels]]. Union by minimum element
    * (ids are Comparable for every Spark atomic type), so each root IS
    * the component's min label; path-halving keeps finds near-O(1).
    */
  private def driverUnionFind(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val dt = pairs.schema("a_id").dataType
    def lt(a: Any, b: Any): Boolean = a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      var px = parent.get(r)
      while (px != null && px != r) { // path halving
        val ppx = parent.get(px)
        if (ppx != null) parent.put(r, ppx)
        r = px
        px = parent.get(r)
      }
      r
    }
    pairs.select(col("a_id"), col("b_id")).collect().foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      if (a != null && b != null) {
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt),
      org.apache.spark.sql.types.StructField("label", dt)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    parent.keySet().forEach { n =>
      rows.add(org.apache.spark.sql.Row(n, find(n)))
    }
    spark.createDataFrame(rows, schema)
  }

  /** Near-dup removal by FULL transitive closure: every duplicate
    * cluster keeps exactly its smallest id (the greedy
    * [[dropNearDuplicates]] can keep several — a doc whose only
    * duplicate-neighbors have larger ids survives). Costs the CC
    * iteration on top of the pipeline; worth it when clusters chain.
    */
  def dropNearDuplicatesConnected(docs: DataFrame, idCol: String, textCol: String,
                                  n: Int = 3, k: Int = 16, b: Int = 8,
                                  minJaccard: Double = 0.8,
                                  hasher: Hasher = XxHasher): DataFrame = {
    val pairs = nearDupPairs(docs, idCol, textCol, n, k, b, minJaccard, hasher)
      .select(col("a_id"), col("b_id"))
    val dupIds = connectedMinLabels(pairs)
      .filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    docs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Exact duplicate groups on a derived key (default: xxhash64 of the
    * full text): (key, keep_id = min id, n_members). The q63 oracle's
    * reusable form. Hash-groupBy — one shuffle, scales linearly.
    */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String,
                     keyOf: Column => Column = xxhash64(_)): DataFrame =
    docs.select(col(idCol), keyOf(col(textCol)).as("dup_key"))
      .groupBy(col("dup_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_members"))

  /** Keep exactly one row (the smallest id) per exact-duplicate
    * group.
    */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String,
                          keyOf: Column => Column = xxhash64(_)): DataFrame = {
    val keep = exactDupGroups(docs, idCol, textCol, keyOf)
      .select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** 64-bit SimHash fingerprint per doc over its distinct tokens:
    * bit j of the fingerprint is set iff the sum over tokens of
    * (bit j of xxhash64(token) ? +1 : -1) is positive. Computed as 64
    * `sum` aggregate columns in one pass (no explosion), then OR-folded
    * into a single long. Near-dups have small Hamming distance between
    * fingerprints.
    */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol), explode(array_remove(split(col(textCol), " "), "")).as("__tok"))
      .distinct()
    val h = xxhash64(col("__tok"))
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(h, j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"__v$j")
    }
    toks.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 64).map(j => when(col(s"__v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** Hamming distance between two 64-bit fingerprints (for simhash
    * near-dup banding/verification): bit_count(a XOR b).
    */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
