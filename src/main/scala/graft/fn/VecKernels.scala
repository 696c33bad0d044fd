package graft.fn

import org.apache.spark.sql.catalyst.util.ArrayData

/** JVM kernels for embedding math, called from the native Catalyst
  * expressions in [[ArrayExpressions]] (VERDICT r2 item 1).
  *
  * Why static methods over [[ArrayData]]: Spark never codegens the
  * lambda body of a higher-order function — `aggregate(zip_with(...))`
  * walks an interpreted expression tree per element, per row, and at
  * 16 planes × 64 elements that tree-walk dominated the round-2 bench
  * (q74 7.8 s). A direct loop over the unsafe array's primitive slots
  * is JIT-compiled, allocation-free, and stays inside the whole-stage
  * codegen span as one static call — the same pattern as
  * [[GeoFns.vincentyKmScala]] / [[Kernels.VincentyKm]].
  *
  * Null semantics exactly mirror the HOF formulation they replace
  * (`aggregate(zip_with(a, b, _ * _), 0.0, _ + _)`): `zip_with` pads
  * the shorter array with nulls and a null element poisons the sum —
  * so the kernel returns null (boxed) when the lengths differ or any
  * element is null. Summation order is left-to-right, identical to the
  * fold and to DuckDB's LIST folds, so differential hashes stay exact.
  */
object VecKernels {

  /** Σ a(i)·b(i); null on length mismatch or any null element. */
  def dotBoxed(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** dot(a,b) / (√dot(a,a) · √dot(b,b)) in ONE pass; plain IEEE
    * division (zero norms yield NaN/Inf, same as the HOF expression it
    * replaces — no hidden null-masking). Null on length mismatch or
    * any null element.
    */
  def cosineBoxed(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    java.lang.Double.valueOf(ab / (math.sqrt(aa) * math.sqrt(bb)))
  }

  /** Fused quantized cosine: cos(a, q·scale) with the per-element
    * multiply INLINE — bit-identical to dequantize-then-cosine (same
    * ops, same order: y = int→double exact, ·scale, accumulate) but
    * with no intermediate array and no interpreted HOF lambda (the
    * dequantize `transform` walked ~64 interpreted evals per
    * CANDIDATE row — the q110 sf1 hot spot). Null on length mismatch
    * or null element.
    */
  def cosineQ8Boxed(a: ArrayData, q: ArrayData, scale: Double): java.lang.Double = {
    val n = a.numElements()
    if (q.numElements() != n) return null
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || q.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = q.getInt(i).toDouble * scale
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    java.lang.Double.valueOf(ab / (math.sqrt(aa) * math.sqrt(bb)))
  }

  /** max(|x|)/127 — the symmetric int8 scale; skips null elements
    * (mirroring `array_max(transform(v, abs))`); null when the array
    * is empty or all-null. One compiled pass instead of an
    * interpreted abs-lambda plus a second array_max walk.
    */
  def int8ScaleBoxed(v: ArrayData): java.lang.Double = {
    val n = v.numElements()
    var m = java.lang.Double.NEGATIVE_INFINITY
    var seen = false
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val a = math.abs(v.getDouble(i))
        if (a > m) m = a
        seen = true
      }
      i += 1
    }
    if (!seen) null else java.lang.Double.valueOf(m / 127.0)
  }

  private val centScratch = new ThreadLocal[Array[Double]] {
    override def initialValue(): Array[Double] = new Array[Double](0)
  }

  /** Fused nearest-centroid-by-cosine assignment: argmax over the
    * constant k×dim centroid matrix of cos(v, c) in ONE compiled pass
    * (the q103/SemDeDup hot path — previously k separate
    * ArrayDotProduct calls each re-reading the unsafe array, plus an
    * interpreted struct/array_max argmax per row).
    *
    * Numeric parity with the Column formulation it replaces, term by
    * term: v's norm is √(Σv²) accumulated left-to-right; each score is
    * dot(v,c) / (vn·cn) with the product formed BEFORE the division;
    * centroid norms are precomputed by the caller with the same
    * Seq-sum order. Zero v-norm or zero centroid norm scores the −2.0
    * sentinel (cosine undefined — never beats a real score). Argmax
    * by `Double.compare` (Spark's double ordering: NaN greatest),
    * strict, so ties keep the LOWEST cluster id — the
    * `ROW_NUMBER ... ORDER BY cos DESC, cluster` oracle convention.
    * Null when the vector has a null element or its length differs
    * from the centroid dim (the poisoned-fold contract above).
    */
  def nearestCentroidCosBoxed(v: ArrayData, flat: Array[Double],
                              norms: Array[Double]): java.lang.Integer = {
    // one loop, two views: the score variant carries the argmax AND
    // the winning cosine; this drops the cosine half. Keeping a single
    // implementation means the parity-critical accumulation order is
    // asserted in exactly one place.
    val r = nearestCentroidScoreBoxed(v, flat, norms)
    if (r == null) null else java.lang.Integer.valueOf(r(0).toInt)
  }

  /** [[nearestCentroidCosBoxed]] returning BOTH halves of the argmax —
    * `[cluster, cos]` — for consumers that gate on the similarity
    * value as well as the assignment (the streaming semantic gate).
    * Same loop, same tie/sentinel rules; the −2.0 sentinel rides out
    * as the cos for zero-norm rows (callers translate it to null).
    */
  def nearestCentroidScoreBoxed(v: ArrayData, flat: Array[Double],
                                norms: Array[Double]): Array[Double] = {
    val k = norms.length
    if (k == 0) return null
    val dim = flat.length / k
    val n = v.numElements()
    if (n != dim) return null
    var scratch = centScratch.get()
    if (scratch.length < n) {
      scratch = new Array[Double](n)
      centScratch.set(scratch)
    }
    var vv = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = v.getDouble(i)
      scratch(i) = x
      vv += x * x
      i += 1
    }
    val vn = math.sqrt(vv)
    var best = 0.0
    var bestIdx = -1
    var c = 0
    while (c < k) {
      val cn = norms(c)
      val cos =
        if (cn == 0.0 || vn == 0.0) -2.0
        else {
          var s = 0.0
          val off = c * dim
          var j = 0
          while (j < n) { s += scratch(j) * flat(off + j); j += 1 }
          s / (vn * cn)
        }
      if (bestIdx < 0 || java.lang.Double.compare(cos, best) > 0) {
        best = cos; bestIdx = c
      }
      c += 1
    }
    Array(bestIdx.toDouble, best)
  }

  /** Symmetric int8 quantization: floor(x/scale + 0.5) clamped to
    * [−127, 127]; scale = 0 → all zeros. Numerically identical to the
    * HOF spelling (`greatest(-127, least(127, floor(x/s + 0.5)))`,
    * which the q93/q110 oracles replicate) with one compiled pass.
    * Null elements poison to null (zip semantics of the chain).
    */
  def quantizeInt8(v: ArrayData, scale: Double): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) out(i) = null // null element stays null, as in the HOF
      else if (scale == 0.0) out(i) = 0
      else {
        val f = math.floor(v.getDouble(i) / scale + 0.5)
        out(i) = math.max(-127.0, math.min(127.0, f)).toInt
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
