package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import graft.flow.FlowAnalytics

/** Per-query fixed cost of a dashboard refresh: generated code is
  * compiled once and then served from Spark's codegen cache, each
  * table snapshot is resolved once per session and its flows view
  * materialized once, without ever serving a rewritten table from its
  * old snapshot.
  *
  * The last test stops the suite's session, so it must stay last.
  */
class SnapshotReuseSpec extends SparkSpecBase {

  /** The panels of the flow dashboard board. */
  private val panels = Seq(
    "flow_top_talkers", "flow_top_ports", "flow_top_conversations", "flow_time_series",
    "flow_proto_breakdown", "flow_cidr_filter", "flow_flag_filter", "flow_fan_in",
    "flow_ddos_score", "flow_distinct_hll", "flow_topk_approx", "flow_value_percentiles")

  private def relationOf(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRelation => lr }.get

  private def viewOf(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst { case v: InMemoryRelation => v }.get

  private def writeEvents(dir: String, n: Int): Unit =
    spark.read.parquet(s"$sf0001/events.parquet").orderBy("event_id").limit(n)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("steady state: a second pass over the dashboard panels compiles no code") {
    def pass(): Unit = panels.foreach(q => FlowAnalytics.queries(q)(spark, sf0001).collect())
    pass()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val recompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(recompiles === 0, s"second pass recompiled $recompiles generated classes")
  }

  test("unchanged files: calls share one resolved relation, each with fresh ids") {
    val a = Tables.load(spark, sf0001, "orders")
    val b = Tables.load(spark, sf0001, "orders")
    assert(relationOf(a).relation eq relationOf(b).relation)
    assert(relationOf(a).output.map(_.exprId).intersect(relationOf(b).output.map(_.exprId)).isEmpty)
    val f1 = FlowAnalytics.asFlows(spark, sf0001)
    val f2 = FlowAnalytics.asFlows(spark, sf0001)
    assert(viewOf(f1).cacheBuilder eq viewOf(f2).cacheBuilder)
    assert(f1.queryExecution.analyzed.outputSet.intersect(f2.queryExecution.analyzed.outputSet).isEmpty)
    // fresh ids keep a self-join of two calls as unambiguous as two reads
    val joined = f1.join(f2, f1("user_id") === f2("event_id"))
      .select(f1("sa"), f2("da")).collect().map(r => (r.getString(0), r.getString(1))).sorted
    val direct = {
      val x = FlowAnalytics.flowsOf(spark.read.parquet(s"$sf0001/events.parquet"))
      val y = FlowAnalytics.flowsOf(spark.read.parquet(s"$sf0001/events.parquet"))
      x.join(y, x("user_id") === y("event_id")).select(x("sa"), y("da"))
        .collect().map(r => (r.getString(0), r.getString(1))).sorted
    }
    assert(joined.nonEmpty && joined === direct)
    assert(Tables.loaded.size(spark) >= 1)
    assert(FlowAnalytics.flowsResolved.size(spark) >= 1)
  }

  test("a rewritten events.parquet is resolved again: nothing stale is served") {
    val dir = tmpDir("snapshot_events")
    writeEvents(dir, 400)
    def talkers() = FlowAnalytics.topTalkers(spark, dir).collect().toSeq
    def hll() = FlowAnalytics.distinctHll(spark, dir).collect().toSeq
    val (t1, h1, n1) = (talkers(), hll(), Tables.events(spark, dir).count())
    val view1 = viewOf(FlowAnalytics.asFlows(spark, dir)).cacheBuilder
    writeEvents(dir, 150)
    val (t2, h2, n2) = (talkers(), hll(), Tables.events(spark, dir).count())
    assert(n1 === 400 && n2 === 150)
    assert(t1 !== t2)
    assert(h1 !== h2)
    assert(!(viewOf(FlowAnalytics.asFlows(spark, dir)).cacheBuilder eq view1))
    // the new results are those of a first read of the same files
    val other = tmpDir("snapshot_events_fresh")
    writeEvents(other, 150)
    assert(t2 === FlowAnalytics.topTalkers(spark, other).collect().toSeq)
    assert(h2 === FlowAnalytics.distinctHll(spark, other).collect().toSeq)
  }

  test("a stopped session holds no resolved snapshots") {
    FlowAnalytics.asFlows(spark, sf0001).count()
    Tables.load(spark, sf0001, "orders").count()
    assert(Tables.loaded.size(spark) > 0)
    assert(FlowAnalytics.flowsResolved.size(spark) > 0)
    val view = viewOf(FlowAnalytics.asFlows(spark, sf0001)).cacheBuilder
    assert(view.isCachedColumnBuffersLoaded)
    spark.stop()
    assert(Tables.loaded.size(spark) === 0)
    assert(FlowAnalytics.flowsResolved.size(spark) === 0)
    assert(!view.isCachedColumnBuffersLoaded, "the stopped session's flows view was not released")
  }
}
