package perfbench

import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Row, SparkSession}
import graft.flow.FlowAnalytics

/** flow_dashboard: the Grafana / DDoS-triage query surface.
  *
  * A dashboard refresh fires every panel query through two client
  * connections (threads) and waits for all of them; refreshes repeat
  * back to back, each in a seed-shuffled order.
  * Every result is collected; all results of a query must hash equal,
  * and one of them is dumped for the launcher's DuckDB oracle check.
  */
object Dash {
  val Queries: Seq[String] = Seq(
    "flow_top_talkers", "flow_top_ports", "flow_top_conversations", "flow_time_series",
    "flow_proto_breakdown", "flow_cidr_filter", "flow_flag_filter", "flow_fan_in",
    "flow_ddos_score", "flow_distinct_hll", "flow_topk_approx", "flow_value_percentiles")
  val Clients = 2

  /** One dashboard refresh: `order`'s queries through the client
    * threads; returns (query, seconds, rows or None on failure).
    */
  private def refresh(spark: SparkSession, dir: String, order: Seq[String])(
      implicit ec: ExecutionContext): Seq[(String, Double, Option[Array[Row]])] = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    order.foreach(queue.add)
    val clients = (1 to Clients).map { _ => Future {
      val mine = mutable.ArrayBuffer.empty[(String, Double, Option[Array[Row]])]
      var q = queue.poll()
      while (q != null) {
        spark.sparkContext.setJobDescription(s"bench: $q")
        val s = System.nanoTime()
        val rows = try Some(FlowAnalytics.queries(q)(spark, dir).collect()) catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q failed: $e")
            None
        }
        mine += ((q, Common.secs(s), rows))
        spark.sparkContext.setJobDescription(null)
        q = queue.poll()
      }
      mine.toSeq
    }}
    Await.result(Future.sequence(clients), Duration.Inf).flatten
  }

  def run(ctx: Ctx, out: Outcome, tracer: Tracer): SparkSession = {
    val dir = ctx.path("input")
    val pool = Executors.newFixedThreadPool(Clients)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val spark = Common.setUp(ctx, out, 3) { s =>
      // warm-up: one refresh over the small events table
      refresh(s, ctx.path("input/warm"), Queries)
    }
    tracer.attach(spark)
    val rnd = new scala.util.Random(ctx.seed)
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val hashes = mutable.Map.empty[String, mutable.Set[String]]
    val firstResult = mutable.Map.empty[String, Array[Row]]
    val refreshes = mutable.ArrayBuffer.empty[Double]
    var failures = 0
    // a fixed refresh count derived from the run's seconds — not "until
    // time is up" — so the JIT's speed-up over the first refreshes always
    // weighs the same in the medians
    val count = math.max(3, ctx.seconds / 5)
    // timed inside the window, so a traced run's listener drain is not counted
    val wall = tracer.window("dash.refreshes") {
      val t0 = System.nanoTime()
      while (refreshes.size < count) {
        val r0 = System.nanoTime()
        val done = refresh(spark, dir, rnd.shuffle(Queries))
        refreshes += Common.secs(r0)
        done.foreach { case (q, secs, rows) =>
          lat += q -> secs
          rows match {
            case None => failures += 1
            case Some(r) =>
              firstResult.getOrElseUpdate(q, r)
              hashes.getOrElseUpdate(q, mutable.Set.empty) += Common.resultHash(r)
          }
        }
      }
      Common.secs(t0)
    }
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)

    val xs = lat.map(_._2).toSeq
    out.attempted = xs.size
    out.failed += failures
    out.metric("lat_p50_s", Common.percentile(xs, 0.5), xs.size)
    out.metric("lat_p90_s", Common.percentile(xs, 0.9), xs.size)
    out.metric("rate_per_s", xs.size / wall, xs.size)
    out.metric("batch_s", Common.median(refreshes.toSeq), refreshes.size)
    out.detail("dash.refresh_s.samples") = refreshes.toSeq
    Queries.foreach { q =>
      val n = lat.count(_._1 == q)
      val hs = hashes.getOrElse(q, mutable.Set.empty)
      out.check(s"dash.$q.stable", hs.size == 1,
        s"${hs.size} distinct results over $n runs", if (hs.size == 1) 0 else n)
      out.detail(s"flow.FlowAnalytics.$q.ms") =
        Common.median(lat.filter(_._1 == q).map(_._2 * 1000).toSeq)
    }
    // one collected result per query, for the oracle check
    val oracle = graft.SparkEntry.oracleSql
    firstResult.foreach { case (q, rows) =>
      val schema = FlowAnalytics.queries(q)(spark, dir).schema
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(ctx.path(s"dash_out/$q"))
    }
    Common.writeFile(ctx.path("dash_out/oracle_sql.json"),
      Common.json(Queries.flatMap(q => oracle.get(q).map(q -> _)).toMap))
    out.detail("launcher.dash_runs") = Queries.map(q => q -> lat.count(_._1 == q)).toMap
    if (ctx.trace) out.detail("per_query") = tracer.labelDetail
    spark
  }
}
