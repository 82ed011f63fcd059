package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.storage.StorageLevel

/** Materialized views that graft owns: a disk-backed columnar copy of
  * a frame, held as a bare `InMemoryRelation`.
  *
  * Not `Dataset.persist`: Spark's `CacheManager` is shared by every
  * session and matches cached plans by their subtree, so a persisted
  * copy of a read of some path would be substituted into any plan over
  * the same path, also after the files were rewritten. A view is
  * reachable only through whoever holds it, which must release it
  * (`cacheBuilder.clearCache`). Disk, not memory: the copy stays off
  * the driver heap. Its data is written by the first query that scans
  * it, in the partitions of the frame's own plan, so rows keep the
  * order of a direct read.
  */
object DiskViews {
  private val NamePrefix = "graft view "

  /** An unmaterialized view of `df`; `name` names its blocks. */
  def apply(df: DataFrame, name: String): InMemoryRelation =
    InMemoryRelation(StorageLevel.DISK_ONLY, df.queryExecution, Some(NamePrefix + name))

  def isView(r: InMemoryRelation): Boolean =
    r.cacheBuilder.tableName.exists(_.startsWith(NamePrefix))
}

/** Plans a scan of a [[DiskViews]] view as a plain leaf instead of
  * Spark's `InMemoryTableScanExec`. Under AQE that node becomes a
  * table-cache query stage, whose canonical form keeps its stage id:
  * two reads of one view in one query (a self-join, or `cusum`'s
  * hourly table under both sides of its join) then never share an
  * exchange, and each re-aggregates the view. [[DiskViewScanExec]]
  * runs the same in-memory scan (column pruning, batch pruning by the
  * filters' statistics) and canonicalizes by the view it reads, so its
  * exchanges are reused as over two reads of one file. Views cached by
  * anyone else keep Spark's plan. Injected via
  * [[graft.functions.GraftExtensions]] (`injectPlannerStrategy`).
  */
case class DiskViewScans(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters, view: InMemoryRelation) if DiskViews.isView(view) =>
      // as Spark's InMemoryScans: the filters only skip batches, so
      // all of them are evaluated again above the scan
      session.sessionState.planner.pruneFilterProject(projects, filters, identity,
        DiskViewScanExec(_, filters, view)) :: Nil
    case _ => Nil
  }
}

/** Reads `attributes` of a [[DiskViews]] view through Spark's
  * in-memory scan, which it holds instead of having it as a child.
  *
  * A view built in one partition (a one-file snapshot) reports
  * `SinglePartition`, which satisfies every required distribution:
  * the planner then puts no exchange over it, and a query's partial
  * and final aggregates, sorts, windows and top-N run in the scan's
  * one task, as one job. The rows and their order are those the one
  * map task fed the reducers before. A view of several partitions
  * keeps the scan's partitioning and its exchanges.
  */
case class DiskViewScanExec(
    attributes: Seq[Attribute],
    predicates: Seq[Expression],
    @transient relation: InMemoryRelation) extends LeafExecNode {

  @transient private lazy val scan = InMemoryTableScanExec(attributes, predicates, relation)

  override def output: Seq[Attribute] = attributes
  override def innerChildren: Seq[QueryPlan[_]] = Seq(relation)
  override lazy val metrics: Map[String, SQLMetric] = scan.metrics
  override def outputPartitioning: Partitioning =
    if (relation.cacheBuilder.cachedColumnBuffers.getNumPartitions == 1) SinglePartition
    else scan.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = scan.outputOrdering
  override def supportsColumnar: Boolean = scan.supportsColumnar
  override def supportsRowBased: Boolean = scan.supportsRowBased
  override def vectorTypes: Option[Seq[String]] = scan.vectorTypes

  override protected def doExecute() = scan.execute()
  override protected def doExecuteColumnar() = scan.executeColumnar()

  override def doCanonicalize(): SparkPlan = copy(
    attributes = attributes.map(QueryPlan.normalizeExpressions(_, relation.output)),
    predicates = predicates.map(QueryPlan.normalizeExpressions(_, relation.output)),
    relation = relation.canonicalized.asInstanceOf[InMemoryRelation])
}
