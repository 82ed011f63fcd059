package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graftbridge.SparkInternals
import graft.flow.FlowAnalytics

/** The materialized flows view: every dashboard panel reads one
  * disk-backed copy of the flows of the current `events.parquet`
  * snapshot instead of re-reading and re-deriving them, with results
  * equal to a query over the flows derived afresh, and the memo frees
  * every copy it stops holding.
  */
class FlowsViewSpec extends SparkSpecBase {

  private val panels = Seq(
    "flow_top_talkers", "flow_top_ports", "flow_top_conversations", "flow_time_series",
    "flow_proto_breakdown", "flow_cidr_filter", "flow_flag_filter", "flow_fan_in",
    "flow_ddos_score", "flow_distinct_hll", "flow_topk_approx", "flow_value_percentiles")

  private def viewOf(df: DataFrame): InMemoryRelation =
    df.queryExecution.analyzed.collectFirst { case r: InMemoryRelation => r }.get

  private def writeEvents(dir: String, n: Int): Unit =
    spark.read.parquet(s"$sf0001/events.parquet").orderBy("event_id").limit(n)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  /** `df` run with every flows view in its plan replaced by the flows
    * derived afresh from `events.parquet`, under the view's column ids.
    */
  private def uncached(df: DataFrame, dir: String): Seq[Row] = {
    val plan = df.queryExecution.analyzed.transformUp {
      case v: InMemoryRelation =>
        val direct = FlowAnalytics.flowsOf(Tables.events(spark, dir)).queryExecution.analyzed
        Project(direct.output.zip(v.output).map { case (a, o) =>
          Alias(a, o.name)(exprId = o.exprId) }, direct)
    }
    assert(plan.collectFirst { case v: InMemoryRelation => v }.isEmpty)
    df.sparkSession.sessionState.executePlan(plan).executedPlan.executeCollectPublic().toSeq
  }

  test("a second pass over the dashboard panels reads no byte of events.parquet") {
    val dir = tmpDir("flows_view_pass")
    writeEvents(dir, 1000)
    val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stageInput = new ConcurrentLinkedQueue[java.lang.Long]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == "flows_view_pass")
          mine.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (mine.contains(e.stageInfo.stageId))
          stageInput.add(e.stageInfo.taskMetrics.inputMetrics.bytesRead)
    }
    def fileBytesRead = FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum
    def pass(): Seq[(String, DataFrame, Seq[Row])] = panels.map { q =>
      val df = FlowAnalytics.queries(q)(spark, dir)
      (q, df, df.collect().toSeq)
    }
    pass()
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup("flows_view_pass", "second pass")
    val before = fileBytesRead
    val second = try pass() finally spark.sparkContext.clearJobGroup()
    val fileBytes = fileBytesRead - before
    SparkInternals.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    // every parquet scan reads at least its footer through the stream
    assert(fileBytes === 0, s"the second pass read $fileBytes bytes from files")
    // a file scan reports its file-system reads as stage input bytes; a
    // read of a cached block reports the block's size, so every stage
    // with input must have read whole blocks of the view, nothing else
    val view = spark.sparkContext.getPersistentRDDs.values
      .filter(_.name == s"In-memory table graft view flows of $dir/events.parquet")
    assert(view.size === 1, s"flows views held for $dir: ${view.size}")
    val blockBytes = spark.sparkContext.getRDDStorageInfo
      .find(_.id == view.head.id).map(_.diskSize).getOrElse(0L)
    assert(blockBytes > 0 && view.head.getNumPartitions === 1)
    val inputs = stageInput.asScala.map(_.longValue).filter(_ > 0).toSeq
    assert(inputs.nonEmpty)
    assert(inputs.forall(_ % blockBytes == 0),
      s"stage input bytes $inputs are not whole reads of the $blockBytes-byte view")
    second.foreach { case (q, df, rows) =>
      assert(rows === uncached(df, dir), s"$q differs from the query over fresh flows")
    }
  }

  test("two concurrent first calls hold one view; the loser's blocks are freed") {
    val dir = tmpDir("flows_view_race")
    writeEvents(dir, 300)
    val path = s"$dir/events.parquet"
    val barrier = new CyclicBarrier(2)
    val built = new ConcurrentLinkedQueue[(InMemoryRelation, Int)]()
    val pool = Executors.newFixedThreadPool(2)
    val got = try {
      val calls = (1 to 2).map { _ =>
        pool.submit(() => FlowAnalytics.flowsResolved(spark, path) {
          val v = FlowAnalytics.flowsView(spark, dir)
          // write the copy before either call stores it: the loser holds data
          val rdd = v.cacheBuilder.cachedColumnBuffers
          rdd.count()
          built.add((v, rdd.id))
          barrier.await(60, TimeUnit.SECONDS)
          v
        })
      }
      calls.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(built.size === 2)
    assert(got(0) eq got(1))
    assert(viewOf(FlowAnalytics.asFlows(spark, dir)).cacheBuilder eq got(0).cacheBuilder)
    val (kept, lost) = built.asScala.toSeq.partition(_._1 eq got(0))
    assert(kept.size === 1 && lost.size === 1)
    assert(SparkInternals.rddBlocks(kept.head._2).nonEmpty)
    assert(SparkInternals.rddBlocks(lost.head._2).isEmpty, "the losing copy's blocks leaked")
    assert(FlowAnalytics.asFlows(spark, dir).count() === 300)
  }

  test("a rewritten events.parquet frees the old view's blocks") {
    val dir = tmpDir("flows_view_rewrite")
    writeEvents(dir, 400)
    assert(FlowAnalytics.asFlows(spark, dir).count() === 400)
    val old = viewOf(FlowAnalytics.asFlows(spark, dir))
    val oldRdd = old.cacheBuilder.cachedColumnBuffers.id
    assert(SparkInternals.rddBlocks(oldRdd).nonEmpty)
    writeEvents(dir, 150)
    val fresh = FlowAnalytics.asFlows(spark, dir)
    assert(!(viewOf(fresh).cacheBuilder eq old.cacheBuilder))
    assert(SparkInternals.rddBlocks(oldRdd).isEmpty, "the old snapshot's blocks leaked")
    assert(fresh.count() === 150)
  }
}
