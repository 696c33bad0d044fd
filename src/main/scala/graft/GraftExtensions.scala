package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BitwiseCount, BitwiseXor, Expression, ExpressionInfo, If, IsNull, Literal, Or}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType
import graft.fn.{KernelCall, Kernels}

/** Engine extension point (SURVEY.md §2.8 UDF surface): registers the
  * engine's native expressions with the session's function registry so
  * they are callable from SQL and `call_function`.
  *
  * Activate per session with either
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => GraftExtensions.ZeroDistanceRule)
  }
}

object GraftExtensions {

  private def fn(name: String, clazz: Class[_], build: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), build)

  /** Structural parameters (capacity, sketch width) must be integer
    * literals — they shape the expression, not the data.
    */
  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def arity(name: String, args: Seq[Expression], n: Int, sig: String): Unit =
    require(args.size == n, s"$name expects ($sig); got ${args.size} args")

  /** The engine's SQL function surface: every kernel of
    * [[graft.fn.Kernels]] under its SQL name, plus the aggregates
    * (`topk_freq`, `kmv_distinct`, `hll_distinct`, `vec_mean`,
    * `vec_sum`), `url_normalize` and `hamming64`.
    */
  private[graft] val functions = Kernels.all.map(k =>
    fn(k.name, classOf[KernelCall], k.build)) ++ Seq(
    fn("url_normalize", classOf[graft.fn.UrlNormalize], args => {
      arity("url_normalize", args, 1, "url")
      graft.fn.UrlNormalize(args.head)
    }),
    fn("vec_mean", classOf[graft.fn.VecPoolAgg], args => {
      arity("vec_mean", args, 1, "vec")
      graft.fn.VecPoolAgg(args.head, mean = true)
    }),
    fn("vec_sum", classOf[graft.fn.VecPoolAgg], args => {
      arity("vec_sum", args, 1, "vec")
      graft.fn.VecPoolAgg(args.head, mean = false)
    }),
    fn("topk_freq", classOf[graft.fn.SpaceSavingTopK], {
      case Seq(item, cap, k) =>
        graft.fn.SpaceSavingTopK(item, litInt(cap, "capacity"), litInt(k, "k"))
      case Seq(item, w, cap, k) =>
        graft.fn.SpaceSavingTopK(item, w, litInt(cap, "capacity"), litInt(k, "k"))
      case other => throw new IllegalArgumentException(
        s"topk_freq expects (item[, weight], capacity, k); got ${other.size} args")
    }),
    // span fixed to the 60-bit order-hash convention: pair with
    // conv(substr(md5(x), 1, 15), 16, 10) (Sketches.orderHash)
    fn("kmv_distinct", classOf[graft.fn.KmvDistinct], args => {
      arity("kmv_distinct", args, 2, "hash60, k")
      graft.fn.KmvDistinct(args(0), litInt(args(1), "k"), graft.ext.Sketches.OrderHashSpan)
    }),
    // width fixed to the 60-bit order-hash convention, like kmv_distinct
    fn("hll_distinct", classOf[graft.fn.HllDistinct], args => {
      arity("hll_distinct", args, 2, "hash60, p")
      graft.fn.HllDistinct(args(0), litInt(args(1), "p"), 60)
    }),
    // SimHash distance: composition of codegen built-ins, no custom kernel
    fn("hamming64", classOf[BitwiseCount], args => {
      arity("hamming64", args, 2, "a, b")
      BitwiseCount(BitwiseXor(args(0), args(1)))
    }))

  /** Register the same functions on an ALREADY-RUNNING session (the
    * extensions config only applies at session construction).
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(ZeroDistanceRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ZeroDistanceRule
  }

  /** Example engine optimizer rule (the `Rule[LogicalPlan]` surface of
    * SURVEY.md §2.8): a geodesic distance between a point and ITSELF —
    * syntactically identical child expressions, a shape that arises
    * when a join key is compared against its own snap — is 0 km by
    * definition; fold it before the iterative kernel ever runs.
    * (Literal-only arguments are already folded by Catalyst's own
    * ConstantFolding because VincentyKm is deterministic — this rule
    * covers the non-literal same-expression case Catalyst cannot know
    * about.)
    */
  object ZeroDistanceRule extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformAllExpressions {
        case KernelCall(Kernels.VincentyKm, Seq(lat1, lon1, lat2, lon2), _)
            if lat1.semanticEquals(lat2) && lon1.semanticEquals(lon2) &&
               lat1.deterministic && lon1.deterministic =>
          // null-preserving: 0.0 only when both coords are non-null
          If(Or(IsNull(lat1), IsNull(lon1)),
            Literal(null, DoubleType),
            Literal(0.0, DoubleType))
      }
  }
}
