package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration for graft's native expressions, so
  * `spark.sql("SELECT ip4_aton(sa) ...")` works like any built-in —
  * either per-session ([[register]]) or cluster-wide via
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  /** A call's arguments, read with the function's name in every error. */
  private final class Args(fn: String, exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)

    def int(i: Int): Int = exprs(i) match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) if v.isValidInt => v.toInt
      case other if other.foldable => other.eval() match {
        case v: Int => v
        case v: Long if v.isValidInt => v.toInt
        case v => throw new IllegalArgumentException(
          s"$fn expects an integer k, got $v")
      }
      case other => throw new IllegalArgumentException(
        s"$fn expects a foldable integer k, got $other")
    }

    /** Arguments `from` onward as quantiles. */
    def doubles(from: Int): Seq[Double] = exprs.drop(from).map {
      case other if other.foldable => other.eval() match {
        case v: Double => v
        case v: Float => v.toDouble
        case v: Int => v.toDouble
        case v: Long => v.toDouble
        case v: java.math.BigDecimal => v.doubleValue()
        case v: org.apache.spark.sql.types.Decimal => v.toDouble
        case v => throw new IllegalArgumentException(
          s"$fn expects a numeric quantile, got $v")
      }
      case other => throw new IllegalArgumentException(
        s"$fn expects a foldable quantile, got $other")
    }
  }

  /** A function taking `n` arguments, or at least `n` if `variadic`. */
  private def fn(name: String, n: Int, variadic: Boolean = false)(build: Args => Expression)
      : (String, Seq[Expression] => Expression) =
    name -> { e =>
      if (e.length < n || (!variadic && e.length > n)) throw new IllegalArgumentException(
        s"$name takes ${if (variadic) "at least " else ""}$n argument(s), got ${e.length}")
      build(new Args(name, e))
    }

  private def agg(name: String, n: Int)(build: Args => GraftAgg[_]) =
    fn(name, n)(a => build(a).toAggregateExpression())

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    fn("ip4_aton", 1)(a => Ip4Aton(a(0))),
    fn("ip4_ntoa", 1)(a => Ip4Ntoa(a(0))),
    fn("ip4_in_cidr", 2)(a => Ip4InCidr(a(0), a(1))),
    fn("ip4_is_private", 1)(a => Ip4IsPrivate(a(0))),
    fn("ip6_aton", 1)(a => Ip6Aton(a(0))),
    fn("ip6_ntoa", 1)(a => Ip6Ntoa(a(0))),
    fn("ip6_in_cidr", 2)(a => Ip6InCidr(a(0), a(1))),
    fn("ip6_net", 2)(a => Ip6Net(a(0), a(1))),
    fn("vec_dot", 2)(a => VecDot(a(0), a(1))),
    fn("vec_sub", 2)(a => VecSub(a(0), a(1))),
    fn("vec_norm", 1)(a => VecNorm(a(0))),
    fn("vec_cos", 2)(a => VecCos(a(0), a(1))),
    agg("topk_agg", 2)(a => TopKAgg(a(0), a.int(1))),
    agg("topk_by", 3)(a => TopKByAgg(a(0), a(1), a.int(2))),
    agg("space_saving", 2)(a => SpaceSavingAgg(a(0), a.int(1))),
    agg("space_saving_weighted", 3)(a => SpaceSavingAgg(a(0), a.int(2), Some(a(1)))),
    agg("bloom_agg", 3)(a => BloomAgg(a(0), a.int(1), a.int(2))),
    fn("bloom_contains", 2)(a => BloomContains(a(0), a(1))),
    agg("cms_sketch", 3)(a => CmsAgg(a(0), a.int(1), a.int(2))),
    fn("cms_query", 2)(a => CmsQuery(a(0), a(1))),
    fn("zorder2", 3)(a => ZOrder2(a(0), a(1), a.int(2))),
    agg("kmv_sketch", 2)(a => KmvAgg(a(0), a.int(1))),
    fn("kmv_estimate", 1)(a => KmvEstimate(a(0))),
    fn("kmv_union_est", 2)(a => KmvUnionEst(a(0), a(1))),
    fn("kmv_inter_est", 2)(a => KmvInterEst(a(0), a(1))),
    fn("kmv_diff_est", 2)(a => KmvDiffEst(a(0), a(1))),
    agg("hll_sketch", 2)(a => HllAgg(a(0), a.int(1))),
    fn("hll_estimate", 2)(a => HllEstimate(a(0), a.int(1))),
    agg("hll_merge", 2)(a => HllMergeAgg(a(0), a.int(1))),
    fn("kll_quantiles", 3, variadic = true)(a =>
      KllSketchAgg.quantiles(a(0), a.int(1), a.doubles(2))),
    agg("kll_sketch", 2)(a => KllSketchAgg(a(0), a.int(1))),
    agg("kll_union", 2)(a => KllUnionAgg(a(0), a.int(1))),
    fn("kll_values", 2, variadic = true)(a => KllValues(a(0), a.doubles(1))))

  private val InfoClass = "graft.functions.GraftFunctions"

  /** The registry entry of each graft function, as [[GraftExtensions]]
    * injects it and [[register]] adds it.
    */
  private[functions] def info(name: String): ExpressionInfo = new ExpressionInfo(InfoClass, name)

  /** Session-scoped registration, idempotent: a name whose entry is
    * already graft's (a session built with [[GraftExtensions]], or
    * registered before) is left as it is.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.lookupFunction(id).exists(_.getClassName == InfoClass))
        registry.registerFunction(id, info(name), builder)
    }
  }
}

/** `spark.sql.extensions` entry point: SQL functions, the CIDR
  * literal-folding and rank-limit→heap optimizer rules, the planning
  * of graft's materialized views, and the collapse of aggregation
  * steps that no exchange separates.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name), GraftFunctions.info(name), builder))
    }
    e.injectOptimizerRule(_ => graft.plans.FoldCidrLiteral)
    e.injectOptimizerRule(_ => graft.plans.RewriteRankLimit)
    e.injectPlannerStrategy(graft.plans.DiskViewScans(_))
    e.injectQueryStagePrepRule(_ => graft.plans.CollapseAggregateSteps)
  }
}
