package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge.
  *
  * Spark 4 backs `Column` by `ColumnNode` and hides the Expression
  * conversion behind `private[sql]` (`classic.ExpressionUtils`), so
  * libraries adding native Catalyst expressions expose it from a
  * package under `org.apache.spark.sql` — the same access pattern
  * Spark-extension projects use (see SNIPPETS.md [1]/[3]).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A new Dataset over an already-resolved `plan` whose leaves and
    * aliases carry FRESH expression ids — what the analyzer does to a
    * table referenced twice in one SQL statement. The resolved
    * relation inside (file listing, inferred schema) is shared, so
    * handing every caller its own instance of one resolved plan skips
    * re-resolution while keeping calls as independent as separate
    * reads: self-joins of two results stay unambiguous. Supports the
    * plans graft memoizes — `Project` chains over relation leaves.
    */
  def freshInstance(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan)
      : org.apache.spark.sql.DataFrame = {
    val fresh = plan.transformUpWithNewOutput {
      case leaf: MultiInstanceRelation =>
        val n = leaf.newInstance()
        n -> leaf.asInstanceOf[LogicalPlan].output.zip(n.output)
      case p: Project =>
        val list = p.projectList.map {
          case a: Alias => a.newInstance()
          case e => e
        }
        p.copy(projectList = list) -> p.output.zip(list.map(_.toAttribute))
      case other =>
        throw new IllegalArgumentException(
          s"freshInstance: unsupported plan node ${other.nodeName}")
    }
    // copied nodes share the original's Dataset-id tag SET, which every
    // new Dataset adds its id to: left in place, all instances would
    // claim each other's ids and a self-join would be flagged ambiguous
    fresh.foreach(_.unsetTagValue(org.apache.spark.sql.classic.Dataset.DATASET_ID_TAG))
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], fresh)
  }

  /** Rebuild a checkpointed leaf WITHOUT its inherited `originStats`.
    *
    * `Dataset.checkpoint`/`localCheckpoint` propagate the origin
    * plan's Statistics into the new [[org.apache.spark.sql.execution.LogicalRDD]].
    * In an ITERATIVE loop whose round plan references the previous
    * round's table k >= 2 times (triangle enumeration: 3 references),
    * sizeInBytes therefore compounds as L*k^n across n rounds — by
    * round ~6 the stats are million-bit BigIntegers and the planner
    * spends HOURS multiplying them (observed: a 4-truss peel at
    * sf0.01 stuck in `SizeInBytesOnlyStatsPlanVisitor`). Dropping
    * originStats resets the leaf to `defaultSizeInBytes`, making
    * every round's stats cost constant; runtime join planning is
    * unaffected (AQE re-plans from actual sizes). Partitioning and
    * ordering advertisements are preserved.
    */
  def freshStatsLeaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val clean = org.apache.spark.sql.execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(spark, None, None)
        org.apache.spark.sql.classic.Dataset.ofRows(spark, clean)
      case _ => df
    }

  /** The session a streaming query's micro-batches run in: the clone
    * of the starting session that Spark keeps `protected[sql]`
    * (`sparkSessionForStream`). None for a query that is not Spark's
    * own wrapper.
    */
  def streamSession(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Option[org.apache.spark.sql.classic.SparkSession] = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      Some(w.streamingQuery.sparkSessionForStream)
    case _ => None
  }
}
