package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor similarity search over an embedding
  * column (the brief's "bucketed ANN, not all-pairs" operator).
  *
  * Method: random-hyperplane (sign) LSH for cosine similarity —
  * Charikar's SimHash for vectors. Each vector gets `nPlanes` sign
  * bits (dot with a fixed ±1 Rademacher plane >= 0); the bits are
  * split into `b` bands of r = nPlanes/b bits; two vectors are
  * candidates iff they share any band's r-bit code. Candidates are
  * re-scored with exact cosine and ranked per query.
  *
  * Scale design:
  *  - The bucket join is an equi-join on (band, code) — never a cross
  *    product. Corpus-side bucketing is one narrow projection (id,
  *    band, code); the plan survives a corpus that does not fit in
  *    memory because candidates shuffle by bucket key.
  *  - Probability a true neighbor at cosine c is found:
  *    1 - (1 - p^r)^b with p = 1 - arccos(c)/π. Parameters are
  *    per-call: high-similarity regimes (dedup, c >= 0.8) prune hard
  *    with r=4+; weakly-clustered corpora need small r for recall —
  *    SimJoinSpec measures recall >= 0.9 against the brute-force
  *    ground truth (q70) on the test corpus.
  *  - Planes are DETERMINISTIC constants derived from md5 in the JVM
  *    (not engine hash functions), so the same literals are embeddable
  *    in the DuckDB oracle SQL — differential tests are exact.
  *
  * Brute-force cosine top-k ([[bruteForceTopK]], = oracle q70) remains
  * the correctness baseline; [[annTopK]] is the scale path.
  */
object SimJoin {

  /** Deterministic Rademacher planes: component j of plane p is +1 if
    * the first hex digit of md5("seed:p:j") has its high bit set, else
    * -1. Pure JVM constants — embed identically in any engine.
    */
  def planes(nPlanes: Int, dim: Int, seed: String = "graft"): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { p =>
      (0 until dim).map { j =>
        val h = md.digest(s"$seed:$p:$j".getBytes("UTF-8"))
        if ((h(0) & 0x80) != 0) 1.0 else -1.0
      }
    }
  }

  /** Dot product of an array column with a constant plane via the
    * native codegen kernel (left-to-right, same order as the DuckDB
    * oracle's LIST folds on the same literals). History of this hot
    * path: the round-1 `aggregate(zip_with(...))` fold is INTERPRETED
    * per element (Spark never codegens HOF lambda bodies) and
    * dominated the round-2 bench; an explicit 64-term element_at sum
    * tree was 50× slower still (16 planes × 64 terms blow the codegen
    * method budget → interpreted tree walk). The
    * [[graft.fn.Kernels.ArrayDotProduct]] expression is a single static call
    * to a JIT-compiled primitive loop inside the codegen span.
    */
  def dotConst(v: Column, plane: Seq[Double]): Column =
    dot(v, typedLit(plane))

  /** Dot product of two array columns (native codegen kernel — see
    * [[dotConst]] for why neither HOF folds nor unrolled trees win).
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.{graftbridge => gb}
    gb.column(graft.fn.Kernels.ArrayDotProduct(gb.expression(a), gb.expression(b)))
  }

  /** Cosine similarity of two array columns (not assumed normalized):
    * one fused pass over both arrays — dot and both norms in a single
    * loop instead of three separate folds.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.{graftbridge => gb}
    gb.column(graft.fn.Kernels.CosineSim(gb.expression(a), gb.expression(b)))
  }

  /** Bucket table: (idCol, band, code) — b rows per vector, where
    * `code` packs the band's r sign bits into an int. `vecCol` must be
    * array<double>.
    */
  def buckets(df: DataFrame, idCol: String, vecCol: String,
              planeMat: Seq[Seq[Double]], b: Int): DataFrame = {
    val nPlanes = planeMat.size
    require(nPlanes % b == 0, s"$nPlanes planes not divisible into $b bands")
    val r = nPlanes / b
    val bits = planeMat.map(pl => when(dotConst(col(vecCol), pl) >= 0, 1).otherwise(0))
    val codes = (0 until b).map { bi =>
      struct(lit(bi).as("band"),
        (0 until r).map(j => bits(bi * r + j) * lit(1 << j))
          .reduce(_ + _).as("code"))
    }
    df.select(col(idCol), explode(array(codes: _*)).as("__bc"))
      .select(col(idCol), col("__bc.band").as("band"), col("__bc.code").as("code"))
  }

  /** ANN top-k: for each query vector, the k most cosine-similar corpus
    * vectors among LSH bucket candidates. Output
    * (q_id, rk, idCol, cos_sim). Queries are expected small relative to
    * the corpus (they broadcast); the corpus side never materializes
    * all pairs.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int,
              planeMat: Seq[Seq[Double]], b: Int): DataFrame = {
    val cb = buckets(corpus, idCol, vecCol, planeMat, b)
    val qb = buckets(queries, idCol, vecCol, planeMat, b)
      .withColumnRenamed(idCol, "q_id")
    val cands = cb.join(qb, Seq("band", "code"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol))
      .distinct()
    val scored = cands
      .join(corpus.select(col(idCol), col(vecCol).as("__cv")), idCol)
      .join(queries.select(col(idCol).as("q_id"), col(vecCol).as("__qv")), "q_id")
      .withColumn("cos_sim", cosine(col("__qv"), col("__cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col(idCol).asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col(idCol), col("cos_sim"))
  }

  // ------------------------------------------------------------ IVF

  /** Train IVF coarse-quantizer centroids with Lloyd's iterations,
    * fully as DataFrame aggregations: assignment is a per-row argmax
    * of centroid scores (distributed, codegen-friendly arithmetic);
    * only the k×dim centroid matrix itself round-trips through the
    * driver each iteration — exactly the state MLlib's KMeans also
    * centralizes, with no RDD detour. Deterministic: seeds are the
    * first k corpus vectors by id.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int = 5): Seq[Seq[Double]] = {
    var cents: Seq[Seq[Double]] = corpus
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    for (_ <- 0 until iters) {
      val assigned = corpus.withColumn("__cell", assignCell(col(vecCol), cents))
      val dim = cents.head.size
      val sums = (0 until dim).map(j =>
        sum(element_at(col(vecCol), j + 1)).as(s"__s$j"))
      val means = assigned.groupBy(col("__cell"))
        .agg(count(lit(1)).as("__n"), sums: _*)
        .collect()
        .map { r =>
          val n = r.getLong(1).toDouble
          r.getInt(0) -> (0 until dim).map(j => r.getDouble(j + 2) / n)
        }.toMap
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
    cents
  }

  /** Nearest-centroid cell id for a vector: argmax over centroids of
    * 2·v·c − |c|² (the |v|²-free monotone equivalent of −distance²).
    * Ties break toward the higher cell id (struct max), deterministic.
    */
  def assignCell(v: Column, centroids: Seq[Seq[Double]]): Column =
    cellScores(v, centroids) match {
      case scores =>
        array_max(array(scores.zipWithIndex.map { case (s, i) =>
          struct(s.as("score"), lit(i).as("cell"))
        }: _*)).getField("cell")
    }

  private def cellScores(v: Column, centroids: Seq[Seq[Double]]): Seq[Column] =
    centroids.map { c =>
      val c2 = c.map(x => x * x).sum
      dotConst(v, c) * 2.0 - lit(c2)
    }

  /** The `nProbe` best cells for a query vector, best first — the
    * probe side of every IVF variant (batch top-k, quantized top-k,
    * streaming enrich), as a slice-ready array of (score, cell)
    * structs. Stateless per-row arithmetic.
    */
  def probeCells(v: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    slice(sort_array(
      array(cellScores(v, centroids).zipWithIndex.map { case (s, i) =>
        struct(s.as("score"), lit(i).as("cell"))
      }: _*), asc = false), 1, nProbe)

  /** IVF ANN top-k: corpus vectors live in their nearest-centroid
    * cell; each query probes its `nProbe` best cells; candidates are
    * re-scored with exact cosine. Equi-join on cell id — same
    * candidate-then-verify shape as the LSH path, but the partitions
    * follow the DATA's cluster structure instead of random
    * hyperplanes (better pruning/recall on clustered corpora).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, centroids: Seq[Seq[Double]],
              nProbe: Int): DataFrame = {
    val corpusCells = corpus.withColumn("__cell", assignCell(col(vecCol), centroids))
    val qCells = queries
      .withColumn("__probe", explode(probeCells(col(vecCol), centroids, nProbe)))
      .select(col(idCol).as("q_id"), col(vecCol).as("__qv"),
        col("__probe.cell").as("__cell"))
    // queries are small BY CONTRACT: broadcast them so the corpus
    // side never shuffles — the plain equi-join would hash-partition
    // the whole corpus on __cell, a key with only |centroids| distinct
    // values (parallelism collapses to k and the hot cell skews;
    // measured 7.8 s -> sub-second at sf1 on the quantized path)
    val scored = corpusCells.join(broadcast(qCells), "__cell")
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("cos_sim", cosine(col("__qv"), col(vecCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col(idCol).asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col(idCol), col("cos_sim"))
  }

  /** The int8-quantized corpus table for [[ivfTopKQuantized]]:
    * (idCol, cell, scale, q) — the 100 TB STORAGE form of an
    * embedding corpus (4× smaller than fp32, 8× than fp64; a 10 B ×
    * 768-dim corpus drops from ~30 TB to ~7.5 TB). Cell assignment is
    * computed from the full-precision vector ONCE at build time,
    * then the fp vector is dropped.
    */
  def quantizedCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                      centroids: Seq[Seq[Double]]): DataFrame = {
    val scale = int8Scale(col(vecCol))
    corpus.select(col(idCol),
        assignCell(col(vecCol), centroids).as("__cell"),
        scale.as("__scale"),
        quantizeInt8(col(vecCol), scale).as("__q"))
  }

  /** IVF ANN over the QUANTIZED corpus: probe cells exactly as
    * [[ivfTopK]], but candidates score against the dequantized int8
    * reconstruction — the corpus's full-precision vectors are never
    * read at query time (at 100 TB they need not even exist).
    * Queries stay full-precision (they are tiny). Ranking error is
    * bounded by the int8 reconstruction cosine (≥ 0.9999 for unit-ish
    * vectors — SimJoinSpec), so recall tracks the fp path at the same
    * nProbe; rk ties still break by id.
    */
  def ivfTopKQuantized(qCorpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, centroids: Seq[Seq[Double]],
                       nProbe: Int): DataFrame = {
    val qCells = queries
      .withColumn("__probe", explode(probeCells(col(vecCol), centroids, nProbe)))
      .select(col(idCol).as("q_id"), col(vecCol).as("__qv"),
        col("__probe.cell").as("__cell"))
    // broadcast for the same reason as [[ivfTopK]]: a shuffle join on
    // __cell has only |centroids| distinct keys
    val scored = qCorpus.join(broadcast(qCells), "__cell")
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("cos_sim", {
        import org.apache.spark.sql.{graftbridge => gb}
        gb.column(graft.fn.Kernels.CosineSimQ8(gb.expression(col("__qv")),
          gb.expression(col("__q")), gb.expression(col("__scale"))))
      })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col(idCol).asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col(idCol), col("cos_sim"))
  }

  /** Embedding-cosine near-duplicate pairs — the embedding member of
    * the dedup family (ext/Dedup covers exact / MinHash / SimHash /
    * n-gram Jaccard): corpus SELF-pairs sharing an LSH band bucket,
    * exact-cosine verified at `minCos`. Output (a_id, b_id, cos_sim),
    * a_id < b_id. Same scale skeleton as [[Dedup.nearDupPairs]]:
    *  - candidates via equi-join on (band, code) — never all-pairs;
    *  - a count-first `maxBucket` guard drops degenerate buckets
    *    (e.g. the all-zeros embedding) BEFORE the self-join squares
    *    them;
    *  - the candidate table fans into both verify joins, so it is
    *    persisted (small by the maxBucket invariant);
    *  - verify is one fused codegen cosine per candidate pair.
    * Recall follows the [[annTopK]] band math: near-dups live at
    * cos ≈ 1 where p = 1 − arccos(c)/π ≈ 1, so even long r prunes
    * hard without losing pairs.
    */
  def embeddingNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                            planeMat: Seq[Seq[Double]], b: Int, minCos: Double,
                            maxBucket: Int = 10000): DataFrame = {
    val bk = buckets(corpus, idCol, vecCol, planeMat, b)
    val ok = bk.groupBy(col("band"), col("code")).agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxBucket))
      .select(col("band"), col("code"))
    val pruned = bk.join(ok, Seq("band", "code"), "left_semi")
    // bounded persist (see Dedup.persistBounded — AQE-preserving,
    // leak-bounded): fans into both verify joins; small by the
    // maxBucket invariant
    val cands = Dedup.persistBounded(
      pruned.select(col(idCol).as("a_id"), col("band"), col("code"))
        .join(pruned.select(col(idCol).as("b_id"), col("band"), col("code")),
          Seq("band", "code"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).distinct())
    cands
      .join(corpus.select(col(idCol).as("a_id"), col(vecCol).as("__va")), "a_id")
      .join(corpus.select(col(idCol).as("b_id"), col(vecCol).as("__vb")), "b_id")
      .withColumn("cos_sim", cosine(col("__va"), col("__vb")))
      // NaN-guard (zero-norm vectors share every sign-LSH bucket and
      // cosine to them is 0/0): Spark orders NaN ABOVE every number,
      // so a bare >= would admit NaN pairs as "near-dups"
      .filter(!isnan(col("cos_sim")) && col("cos_sim") >= minCos)
      .select(col("a_id"), col("b_id"), col("cos_sim"))
  }

  /** Greedy embedding near-dup removal: drop every vector with a
    * verified neighbor of SMALLER id (the [[Dedup.dropNearDuplicates]]
    * convention; compose with [[Dedup.connectedMinLabels]] for full
    * transitive closure).
    */
  def dropEmbeddingNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                            planeMat: Seq[Seq[Double]], b: Int, minCos: Double,
                            maxBucket: Int = 10000): DataFrame = {
    val dupIds = embeddingNearDupPairs(corpus, idCol, vecCol, planeMat, b,
        minCos, maxBucket)
      .select(col("b_id").as(idCol)).distinct()
    corpus.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Exact brute-force cosine top-k (correctness baseline / ground
    * truth for recall measurements; O(|queries|·|corpus|) — only for
    * small query sets or offline evaluation).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val scored = corpus
      .crossJoin(broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("__qv"))))
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("cos_sim", cosine(col("__qv"), col(vecCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col(idCol).asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col(idCol), col("cos_sim"))
  }

  // ------------------------------------------------ int8 quantization

  /** Per-vector symmetric int8 quantization scale: max|x| / 127
    * (0 for the all-zero vector, by convention).
    */
  def int8Scale(v: Column): Column = {
    import org.apache.spark.sql.{graftbridge => gb}
    gb.column(graft.fn.Kernels.Int8Scale(gb.expression(v)))
  }

  /** Symmetric int8 quantization of a double-array embedding under a
    * precomputed `scale` column: q_i = floor(x_i/scale + 0.5), clamped
    * to [-127, 127] (round-half-up spelled as an explicit floor so
    * Spark and any SQL oracle agree bit-for-bit on negative halves —
    * engine `round()` semantics differ). The all-zero vector (scale
    * 0) quantizes to all zeros.
    *
    * This is the storage trade every billion-vector ANN index makes:
    * 4×-8× smaller vectors (and faster scans) for a bounded cosine
    * error — pair with [[dequantize]] + the codegen [[dot]]/[[cosine]]
    * kernels for scoring. Purely narrow per-row math: no shuffle, any
    * scale.
    */
  def quantizeInt8(v: Column, scale: Column): Column = {
    import org.apache.spark.sql.{graftbridge => gb}
    gb.column(graft.fn.Kernels.QuantizeInt8(gb.expression(v), gb.expression(scale)))
  }

  /** Reconstruct the double array a quantized vector represents:
    * x̂_i = q_i · scale. Feed to [[dot]]/[[cosine]] for quantized
    * scoring (cosine is scale-invariant, so the scales cancel there —
    * dequantized dot products are what need them).
    */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  // ------------------------------------------------ vector pooling

  /** Element-wise mean of an `array<double>` column per group — the
    * chunk→document embedding roll-up (mean-pool chunk vectors,
    * cluster centroids, class prototypes). Native bounded-state
    * aggregate ([[graft.fn.VecPoolAgg]]): one dim-sized state per
    * (group × map task) through the shuffle, map-side combined — no
    * dim× position explosion, no whole-group collect_list. Null
    * vectors skipped; all-null group → null.
    */
  def vecMean(v: Column): Column = {
    import org.apache.spark.sql.{graftbridge => gb}
    gb.column(graft.fn.VecPoolAgg(gb.expression(v), mean = true)
      .toAggregateExpression())
  }

  /** Element-wise sum twin of [[vecMean]] (gradient/statistics
    * accumulation shape).
    */
  def vecSum(v: Column): Column = {
    import org.apache.spark.sql.{graftbridge => gb}
    gb.column(graft.fn.VecPoolAgg(gb.expression(v), mean = false)
      .toAggregateExpression())
  }

  // ------------------------------------------- semantic dedup (SemDeDup)

  /** Deterministic seed "centroids" for clustering without Lloyd
    * iterations: the `c` corpus vectors with the smallest
    * [[Sketches.orderHash]] of their id — a portable uniform draw
    * (any engine reproduces the same seeds from the same md5
    * construction), collected to the driver as a c×dim matrix (the
    * only driver state; same bound as [[ivfCentroids]]'s k×dim).
    * Returned in hash order, so index i is the cluster id.
    */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    c: Int): Seq[Seq[Double]] = {
    require(c >= 1, s"need at least one seed, got $c")
    Sketches.sampleBottomK(
        corpus.select(col(idCol), col(vecCol)), col(idCol), c)
      .withColumn("__h", Sketches.orderHash(col(idCol)))
      .orderBy(col("__h"), col(idCol))
      .select(col(vecCol)).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
  }

  /** Nearest-centroid assignment by COSINE (argmax over the centroid
    * list; ties and zero-norm vectors break toward the LOWEST
    * cluster id — the `ROW_NUMBER() ... ORDER BY cos DESC, cluster`
    * convention an oracle reproduces). Narrow: ONE fused compiled
    * pass per row ([[graft.fn.NearestCentroidCos]]) inside the
    * codegen span, no shuffle. (The previous spelling — c separate
    * dot kernels + a struct `array_max` argmax — re-read the vector c
    * times and walked an interpreted struct-comparison tree per row;
    * at sf1 that was the q103 hot spot, the same genus as the q110
    * HOF finding. Scores/ties/sentinels are unchanged — SimJoinSpec
    * pins them.)
    */
  def assignNearestCos(v: Column, centroids: Seq[Seq[Double]]): Column = {
    import org.apache.spark.sql.{graftbridge => gb}
    gb.column(graft.fn.NearestCentroidCos(gb.expression(v), centroids))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023):
    * cluster the corpus by nearest seed centroid, then emit exact
    * cosine pairs ≥ `minCos` WITHIN each cluster only. Output
    * (cluster, a_id, b_id, cos), a_id < b_id.
    *
    * Scale shape: assignment is narrow (centroids ride into the
    * scan); the pair stage shuffles on the cluster id only, and the
    * quadratic verify is confined to each cluster — with c ~ √N
    * clusters the expected pair work is N instead of N², which is the
    * whole SemDeDup bargain. A DEGENERATE cluster (a mode the seeds
    * under-resolve — near-duplicate boilerplate, zero-information
    * embeddings) would reintroduce the N² term, so clusters above
    * `maxCluster` members are COUNT-guarded out before any pair
    * materializes (same discipline as the LSH `maxBucket` guard;
    * remedy for dropped clusters is more/better centroids, e.g.
    * [[ivfCentroids]]). `maxCluster <= 0` disables the guard (the
    * oracle-parity setting when centroids are known adequate).
    * Zero-norm vectors never pair (cosine undefined → NULL).
    */
  def semanticDedupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         centroids: Seq[Seq[Double]],
                         minCos: Double,
                         maxCluster: Int = 1000000): DataFrame = {
    val labeled = corpus.select(
      assignNearestCos(col(vecCol), centroids).as("cluster"),
      col(idCol), col(vecCol))
    val assigned =
      if (maxCluster <= 0) labeled
      else labeled.join(
        labeled.groupBy(col("cluster")).agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= maxCluster).select(col("cluster")),
        Seq("cluster"), "left_semi")
    // norms are computed ONCE per input row, BEFORE the pair join —
    // spelled inside the join's projections they would re-run the
    // sqrt(dot(v,v)) kernel per PAIR (|cluster|²/2 times instead of
    // |cluster| times; 2/3 of the pair stage's kernel work at sf1).
    // Same values, same order of operations — the q103 oracle still
    // hash-matches.
    val a = assigned.select(col("cluster"), col(idCol).as("a_id"),
      col(vecCol).as("__va"), sqrt(dot(col(vecCol), col(vecCol))).as("__na"))
    val b = assigned.select(col("cluster"), col(idCol).as("b_id"),
      col(vecCol).as("__vb"), sqrt(dot(col(vecCol), col(vecCol))).as("__nb"))
    a.join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .select(col("cluster"), col("a_id"), col("b_id"),
        // zero-norm cosine is undefined: NULL (never a pair) — in ANSI
        // mode the unguarded division would throw, not NaN
        when(col("__na") === 0.0 || col("__nb") === 0.0,
            lit(null).cast("double"))
          .otherwise(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Keep-one selection over [[semanticDedupPairs]]: drop the larger
    * id of every qualifying pair (the transitive-closure-free
    * SemDeDup keep rule — deterministic, single anti-join).
    */
  def dropSemanticDups(corpus: DataFrame, idCol: String, vecCol: String,
                       centroids: Seq[Seq[Double]],
                       minCos: Double,
                       maxCluster: Int = 1000000): DataFrame = {
    val drop = semanticDedupPairs(corpus, idCol, vecCol, centroids, minCos,
        maxCluster)
      .select(col("b_id").as(idCol)).distinct()
    corpus.join(drop, Seq(idCol), "left_anti")
  }
}
