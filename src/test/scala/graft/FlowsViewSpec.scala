package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CyclicBarrier, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, Complete, Final, Partial}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
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

  /** The nodes of `df`'s executed plan as AQE planned it and as it ran:
    * a stage found empty at run time drops the exchanges above it.
    */
  private def planNodes(df: DataFrame): Seq[SparkPlan] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.initialPlan) ++ nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan)
  }

  private def exchanges(df: DataFrame): Seq[SparkPlan] = planNodes(df).filter {
    case _: Exchange | _: ReusedExchangeExec => true
    case _ => false
  }

  private def aggregates(df: DataFrame): Seq[BaseAggregateExec] =
    planNodes(df).collect { case a: BaseAggregateExec => a }

  private def modes(a: BaseAggregateExec): Set[AggregateMode] = a.aggregateExpressions.map(_.mode).toSet

  test("over a one-file snapshot every dashboard panel is one job of one stage and one task") {
    val groups = new ConcurrentHashMap[Int, String]() // stage id -> panel
    val jobs = new ConcurrentHashMap[String, java.lang.Integer]()
    val stages = new ConcurrentHashMap[String, java.lang.Integer]()
    val tasks = new ConcurrentHashMap[String, java.lang.Integer]()
    def bump(m: ConcurrentHashMap[String, java.lang.Integer], q: String, n: Int): Unit =
      m.merge(q, n, (a, b) => a + b)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("one_partition ")).foreach { g =>
            val q = g.stripPrefix("one_partition ")
            bump(jobs, q, 1)
            bump(stages, q, e.stageInfos.size)
            e.stageIds.foreach(groups.put(_, q))
          }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(groups.get(e.stageId)).foreach(bump(tasks, _, 1))
    }
    def run(q: String, dir: String): (DataFrame, Seq[Row]) = {
      val df = FlowAnalytics.queries(q)(spark, dir)
      (df, df.collect().toSeq)
    }
    panels.foreach(run(_, sf0001)) // the view is written by the first pass
    spark.sparkContext.addSparkListener(listener)
    val one = try panels.map { q =>
      spark.sparkContext.setJobGroup(s"one_partition $q", q)
      try q -> run(q, sf0001) finally spark.sparkContext.clearJobGroup()
    } finally {
      SparkInternals.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    one.foreach { case (q, (df, rows)) =>
      val counts = (jobs.get(q), stages.get(q), tasks.get(q))
      assert(counts === ((1, 1, 1)), s"$q ran (jobs, stages, tasks) = $counts")
      assert(exchanges(df).isEmpty, s"$q planned exchanges:\n${df.queryExecution.executedPlan}")
      assert(rows === uncached(df, sf0001), s"$q differs from the query over fresh flows")
      val (twoDf, twoRows) = run(q, sf0001TwoFile)
      assert(rows === twoRows, s"$q differs over the two-file copy")
      assert(exchanges(twoDf).nonEmpty,
        s"$q planned no exchange over two files:\n${twoDf.queryExecution.executedPlan}")
    }
  }

  test("over a one-file snapshot each panel aggregates once a key: no step feeds a step of its keys") {
    panels.foreach { q =>
      val df = FlowAnalytics.queries(q)(spark, sf0001)
      val rows = df.collect().toSeq
      val aggs = aggregates(df)
      assert(aggs.exists(a => modes(a).contains(Complete)), s"$q kept no merged step:\n${df.queryExecution.executedPlan}")
      // what stays under an aggregate is count(distinct)'s partial step,
      // keyed by the distinct column too
      aggs.foreach { a =>
        a.child match {
          case c: BaseAggregateExec =>
            assert(modes(c) === Set(Partial) && modes(a).contains(Final) &&
              c.groupingExpressions.size > a.groupingExpressions.size,
              s"$q keeps an aggregate directly over its partial step:\n${df.queryExecution.executedPlan}")
          case _ =>
        }
      }
      assert(rows === uncached(df, sf0001), s"$q differs from the query over fresh flows")
    }
  }

  test("over the two-file copy the steps an exchange separates stay split") {
    panels.foreach { q =>
      val df = FlowAnalytics.queries(q)(spark, sf0001TwoFile)
      df.collect()
      val aggs = aggregates(df)
      assert(aggs.exists(a => modes(a).contains(Partial)), q)
      assert(!aggs.exists(a => modes(a).contains(Complete)),
        s"$q merged steps over two files:\n${df.queryExecution.executedPlan}")
      aggs.filter(a => modes(a) == Set(Final)).foreach { a =>
        assert(!a.child.isInstanceOf[BaseAggregateExec], s"$q: ${a.simpleString(200)}")
      }
    }
  }

  test("a merged ObjectHashAggregate past its sort fallback gives the rows of the split steps") {
    import spark.implicits._
    def query(parts: Int): DataFrame = spark.range(0, 3000, 1, parts)
      .select(($"id" % 300).as("g"), ($"id" % 7).as("d"), ($"id" * 0.5).as("v"))
      .groupBy($"g")
      .agg(percentile($"v", typedLit(Seq(0.25, 0.5, 0.9))).as("p"),
        array_sort(collect_set($"d")).as("ds"), countDistinct($"d").as("nd"), count(lit(1)).as("n"))
      .orderBy($"g")
    val merged = query(1)
    val rows = merged.collect().toSeq
    val objectAggs = aggregates(merged).collect { case o: ObjectHashAggregateExec => o }
    assert(objectAggs.exists(a => modes(a).contains(Complete)), merged.queryExecution.executedPlan.toString)
    // 300 groups in one task: over the fallback threshold of 128
    assert(objectAggs.exists(_.metrics("numTasksFallBacked").value > 0))
    val split = query(3)
    assert(!aggregates(split).exists(a => modes(a).contains(Complete)))
    assert(rows.size === 300 && rows === split.collect().toSeq)
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
