package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A5 generalized least-squares polynomial fit (the multi-degree
  * stretch of SURVEY.md §2.5; deg-1 lives in [[Idw.olsSlope]]).
  *
  * `np.polyfit(x, y, d)` semantics via the normal equations: the
  * distributed pass accumulates ONLY the 3d+1 power moments
  * S_k = Σ xᵏ (k ≤ 2d) and T_k = Σ y·xᵏ (k ≤ d) — plain `sum(pow(x,k))`
  * aggregates with full map-side combine, one shuffle, constant state
  * per group regardless of group size. The (d+1)×(d+1) solve
  * `M c = T`, M[i][j] = S_{i+j}, happens per GROUP (not per row)
  * through the native [[graft.fn.Kernels.PolyfitSolve]] kernel (partial-pivot
  * Gaussian elimination) — for any sane degree the solve is
  * nanoseconds; the data never moves twice.
  *
  * Numerical note: raw-power normal equations are the textbook
  * formulation and match `np.polyfit` to ~1e-6 for small degrees on
  * scaled data; for ill-conditioned x ranges, center x first (the
  * caller controls the basis).
  */
object Polyfit {

  /** Per-group coefficient array [c₀ … c_d] (lowest power first) of
    * the least-squares fit y = Σ cᵢ xⁱ.
    */
  def fit(df: DataFrame, groupCols: Seq[String], x: Column, y: Column,
          deg: Int): DataFrame = {
    require(deg >= 1, s"degree must be >= 1, got $deg")
    import org.apache.spark.sql.{graftbridge => gb}
    val moments = (0 to 2 * deg).map(k => sum(pow(x, k)).as(s"__s$k"))
    val rhs = (0 to deg).map(k => sum(y * pow(x, k)).as(s"__t$k"))
    val agg = df.groupBy(groupCols.map(col): _*)
      .agg((moments ++ rhs).head, (moments ++ rhs).tail: _*)
    val mArr = array((0 to 2 * deg).map(k => col(s"__s$k")): _*)
    val tArr = array((0 to deg).map(k => col(s"__t$k")): _*)
    agg
      .withColumn("coeffs", gb.column(graft.fn.Kernels.PolyfitSolve(
        gb.expression(mArr), gb.expression(tArr))))
      .drop(((0 to 2 * deg).map(k => s"__s$k") ++ (0 to deg).map(k => s"__t$k")): _*)
  }
}
