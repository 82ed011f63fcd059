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

  private def intArg(e: Expression, fn: String): Int = e match {
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

  private def doubleArg(e: Expression, fn: String): Double = e match {
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

  private def arity(fn: String, e: Seq[Expression], n: Int): Unit =
    if (e.length != n) throw new IllegalArgumentException(
      s"$fn takes $n argument(s), got ${e.length}")

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "ip4_aton" -> (e => { arity("ip4_aton", e, 1); Ip4Aton(e.head) }),
    "ip4_ntoa" -> (e => { arity("ip4_ntoa", e, 1); Ip4Ntoa(e.head) }),
    "ip4_in_cidr" -> (e => { arity("ip4_in_cidr", e, 2); Ip4InCidr(e(0), e(1)) }),
    "ip4_is_private" -> (e => { arity("ip4_is_private", e, 1); Ip4IsPrivate(e.head) }),
    "ip6_aton" -> (e => { arity("ip6_aton", e, 1); Ip6Aton(e.head) }),
    "ip6_ntoa" -> (e => { arity("ip6_ntoa", e, 1); Ip6Ntoa(e.head) }),
    "ip6_in_cidr" -> (e => { arity("ip6_in_cidr", e, 2); Ip6InCidr(e(0), e(1)) }),
    "ip6_net" -> (e => { arity("ip6_net", e, 2); Ip6Net(e(0), e(1)) }),
    "vec_dot" -> (e => { arity("vec_dot", e, 2); VecDot(e(0), e(1)) }),
    "vec_sub" -> (e => { arity("vec_sub", e, 2); VecSub(e(0), e(1)) }),
    "vec_norm" -> (e => { arity("vec_norm", e, 1); VecNorm(e.head) }),
    "vec_cos" -> (e => { arity("vec_cos", e, 2); VecCos(e(0), e(1)) }),
    "topk_agg" -> (e => { arity("topk_agg", e, 2)
      TopKAgg(e(0), intArg(e(1), "topk_agg")).toAggregateExpression() }),
    "topk_by" -> (e => { arity("topk_by", e, 3)
      TopKByAgg(e(0), e(1), intArg(e(2), "topk_by")).toAggregateExpression() }),
    "space_saving" -> (e => { arity("space_saving", e, 2)
      SpaceSavingAgg(e(0), intArg(e(1), "space_saving")).toAggregateExpression() }),
    "space_saving_weighted" -> (e => { arity("space_saving_weighted", e, 3)
      SpaceSavingAgg(e(0), intArg(e(2), "space_saving_weighted"), Some(e(1)))
        .toAggregateExpression() }),
    "bloom_agg" -> (e => { arity("bloom_agg", e, 3)
      BloomAgg(e(0), intArg(e(1), "bloom_agg"), intArg(e(2), "bloom_agg"))
        .toAggregateExpression() }),
    "bloom_contains" -> (e => { arity("bloom_contains", e, 2)
      BloomContains(e(0), e(1)) }),
    "cms_sketch" -> (e => { arity("cms_sketch", e, 3)
      CmsAgg(e(0), intArg(e(1), "cms_sketch"), intArg(e(2), "cms_sketch"))
        .toAggregateExpression() }),
    "cms_query" -> (e => { arity("cms_query", e, 2)
      CmsQuery(e(0), e(1)) }),
    "zorder2" -> (e => { arity("zorder2", e, 3)
      ZOrder2(e(0), e(1), intArg(e(2), "zorder2")) }),
    "kmv_sketch" -> (e => { arity("kmv_sketch", e, 2)
      KmvAgg(e(0), intArg(e(1), "kmv_sketch")).toAggregateExpression() }),
    "kmv_estimate" -> (e => { arity("kmv_estimate", e, 1)
      KmvEstimate(e.head) }),
    "kmv_union_est" -> (e => { arity("kmv_union_est", e, 2)
      KmvUnionEst(e(0), e(1)) }),
    "kmv_inter_est" -> (e => { arity("kmv_inter_est", e, 2)
      KmvInterEst(e(0), e(1)) }),
    "kmv_diff_est" -> (e => { arity("kmv_diff_est", e, 2)
      KmvDiffEst(e(0), e(1)) }),
    "hll_sketch" -> (e => { arity("hll_sketch", e, 2)
      HllAgg(e(0), intArg(e(1), "hll_sketch")).toAggregateExpression() }),
    "hll_estimate" -> (e => { arity("hll_estimate", e, 2)
      HllEstimate(e(0), intArg(e(1), "hll_estimate")) }),
    "hll_union" -> (e => { arity("hll_union", e, 2)
      HllUnionAgg(e(0), intArg(e(1), "hll_union")).toAggregateExpression() }),
    // kll_quantiles(value, k, p1[, p2, ...]) — variadic quantile list
    "kll_quantiles" -> (e => {
      if (e.length < 3) throw new IllegalArgumentException(
        s"kll_quantiles takes (value, k, p...), got ${e.length} args")
      KllAgg(e(0), intArg(e(1), "kll_quantiles"),
        e.drop(2).map(doubleArg(_, "kll_quantiles"))).toAggregateExpression() }),
    "kll_sketch" -> (e => { arity("kll_sketch", e, 2)
      KllSketchAgg(e(0), intArg(e(1), "kll_sketch")).toAggregateExpression() }),
    "kll_union" -> (e => { arity("kll_union", e, 2)
      KllUnionAgg(e(0), intArg(e(1), "kll_union")).toAggregateExpression() }),
    "kll_values" -> (e => {
      if (e.length < 2) throw new IllegalArgumentException(
        s"kll_values takes (sketch, p...), got ${e.length} args")
      KllValues(e(0), e.drop(1).map(doubleArg(_, "kll_values"))) }))

  /** Session-scoped registration (temp functions). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** `spark.sql.extensions` entry point: SQL functions, the CIDR
  * literal-folding and rank-limit→heap optimizer rules, and the
  * planning of graft's materialized views.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftFunctions", name),
        builder))
    }
    e.injectOptimizerRule(_ => graft.plans.FoldCidrLiteral)
    e.injectOptimizerRule(_ => graft.plans.RewriteRankLimit)
    e.injectPlannerStrategy(graft.plans.DiskViewScans(_))
  }
}
