package graft.plans

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, Complete, Final, Partial, PartialMerge}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec}

/** Physical rule: an aggregation step directly over the step that
  * feeds it, with no exchange between them, runs as one step.
  *
  * Spark plans an aggregate as partial → final (and `count(distinct)`
  * as partial → merge → partial → final) with an exchange between the
  * steps; `EnsureRequirements` leaves the exchange out where the
  * child's partitioning already clusters the keys, as over a
  * one-partition view. A partial step emits one row per key in each
  * partition, so then:
  *
  *  - a PartialMerge over a Partial with the same keys and output is
  *    the identity on that output, and is dropped;
  *  - a Final over a Partial with the same grouping attributes and the
  *    same functions becomes one aggregate over the Partial's input:
  *    Partial functions run Complete, and PartialMerge ones (the
  *    non-distinct functions beside a distinct one) run Final.
  *
  * Each key is then hashed once instead of once a step. Both
  * `HashAggregateExec` and `ObjectHashAggregateExec` are collapsed;
  * the merged step keeps the Final's operator and output. Injected via
  * [[graft.functions.GraftExtensions]] (`injectQueryStagePrepRule`),
  * so it sees each plan after `EnsureRequirements` placed its
  * exchanges.
  */
object CollapseAggregateSteps extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case merge: BaseAggregateExec if hashed(merge) && modes(merge) == Set(PartialMerge) =>
      merge.child match {
        case partial: BaseAggregateExec if hashed(partial) && modes(partial) == Set(Partial) &&
            sameSteps(merge, partial) && merge.output == partial.output => partial
        case _ => merge
      }
    case fin: BaseAggregateExec if hashed(fin) && modes(fin) == Set(Final) =>
      fin.child match {
        case partial: BaseAggregateExec if hashed(partial) &&
            modes(partial).subsetOf(Set(Partial, PartialMerge)) && sameSteps(fin, partial) =>
          val merged = withSteps(fin, partial)
          if (partial.child.outputPartitioning.satisfies(merged.requiredChildDistribution.head)) merged
          else fin
        case _ => fin
      }
  }

  private def hashed(a: BaseAggregateExec): Boolean = a match {
    case _: HashAggregateExec | _: ObjectHashAggregateExec => true
    case _ => false
  }

  private def modes(a: BaseAggregateExec): Set[AggregateMode] = a.aggregateExpressions.map(_.mode).toSet

  /** The same grouping attributes and, position by position, the same
    * functions: `count(distinct)`'s last two steps build their
    * distinct expressions apart, with different result ids, over one
    * function.
    */
  private def sameSteps(upper: BaseAggregateExec, lower: BaseAggregateExec): Boolean =
    upper.groupingExpressions.map(_.toAttribute) == lower.groupingExpressions.map(_.toAttribute) &&
      upper.aggregateExpressions.size == lower.aggregateExpressions.size &&
      upper.aggregateExpressions.zip(lower.aggregateExpressions).forall { case (u, l) =>
        u.aggregateFunction == l.aggregateFunction && u.isDistinct == l.isDistinct && u.filter == l.filter
      }

  /** `fin` reading `partial`'s input: grouping by `partial`'s keys,
    * clustered by the expressions behind them.
    */
  private def withSteps(fin: BaseAggregateExec, partial: BaseAggregateExec): BaseAggregateExec = {
    val keys = partial.groupingExpressions
    val clustering = Some(keys.map {
      case a: Alias => a.child
      case e => e
    })
    val aggs = fin.aggregateExpressions.zip(partial.aggregateExpressions).map {
      case (f, p) => f.copy(mode = if (p.mode == Partial) Complete else Final)
    }
    val offset = partial.initialInputBufferOffset
    fin match {
      case h: HashAggregateExec => h.copy(requiredChildDistributionExpressions = clustering,
        groupingExpressions = keys, aggregateExpressions = aggs,
        initialInputBufferOffset = offset, child = partial.child)
      case o: ObjectHashAggregateExec => o.copy(requiredChildDistributionExpressions = clustering,
        groupingExpressions = keys, aggregateExpressions = aggs,
        initialInputBufferOffset = offset, child = partial.child)
    }
  }
}
