package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver planning per action, from `qe.tracker` (registered through
  * `spark.sql.queryExecutionListeners`, so every session — including
  * `newSession()` children — reports into the same counters).
  */
class PlanTrace extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanTrace.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    PlanTrace.record(qe)
}

object PlanTrace {
  val actions = new AtomicLong
  val analysisMs = new AtomicLong
  val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    actions.incrementAndGet()
    analysisMs.addAndGet(ms("analysis"))
    optimizationMs.addAndGet(ms("optimization"))
    planningMs.addAndGet(ms("planning"))
  }
}

/** Jobs, stages, tasks, task time and bytes from a SparkListener;
  * jobs carrying a `spark.job.description` are also attributed to it.
  */
class SparkTrace extends SparkListener {
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong
  val stages = new AtomicLong
  val tasksStarted = new AtomicLong
  val tasksEnded = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val sqlStarted = new AtomicLong
  val sqlEnded = new AtomicLong
  private val stageOwner = new ConcurrentHashMap[Int, String]()
  /** description → (jobs, stages, tasks, task ms) */
  val byLabel = new ConcurrentHashMap[String, Array[Long]]()

  private def label(l: String): Array[Long] =
    byLabel.computeIfAbsent(l, _ => new Array[Long](4))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    d.foreach { l =>
      label(l).synchronized { label(l)(0) += 1; label(l)(1) += e.stageIds.size }
      e.stageIds.foreach(s => stageOwner.put(s, l))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
  override def onTaskStart(e: SparkListenerTaskStart): Unit = tasksStarted.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksEnded.incrementAndGet()
    val ms = e.taskInfo.duration
    taskMs.addAndGet(ms)
    Option(e.taskMetrics).foreach { m =>
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
    Option(stageOwner.get(e.stageId)).foreach { l =>
      val a = label(l)
      a.synchronized { a(2) += 1; a(3) += ms }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => sqlStarted.incrementAndGet()
    case _: SparkListenerSQLExecutionEnd => sqlEnded.incrementAndGet()
    case _ =>
  }

  /** Wait (bounded) until every started job, task and SQL execution
    * has been seen ending — listener events arrive asynchronously.
    */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    def idle = jobsStarted.get == jobsEnded.get &&
      tasksStarted.get == tasksEnded.get && sqlStarted.get == sqlEnded.get
    while (!idle && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(50)
  }
}

/** Micro-batch progress of every streaming query, kept per batch. */
class StreamTrace extends StreamingQueryListener {
  /** (rows, durationMs map) per executed batch */
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add((p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

/** Counters behind the benchmark's wrapped JDBC connection factory. */
object JdbcTrace {
  val connects = new AtomicLong
  val rows = new AtomicLong
  val executeBatchNs = new AtomicLong
  val failures = new AtomicLong

  /** A connection factory that counts connects and, through dynamic
    * proxies, rows added to batches, `executeBatch` time and failed
    * calls (each one is a retry of the sink's batch).
    */
  def wrap(connect: () => java.sql.Connection): () => java.sql.Connection = () => {
    connects.incrementAndGet()
    proxy(classOf[java.sql.Connection], connect()) {
      case ("prepareStatement", ps: java.sql.PreparedStatement) =>
        proxy(classOf[java.sql.PreparedStatement], ps)(PartialFunction.empty)
    }
  }

  private def proxy[T](iface: Class[T], target: T)(
      wrapResult: PartialFunction[(String, AnyRef), AnyRef]): T = {
    val h = new java.lang.reflect.InvocationHandler {
      def invoke(p: AnyRef, m: java.lang.reflect.Method, args: Array[AnyRef]): AnyRef = {
        val t0 = System.nanoTime()
        val r = try m.invoke(target, args: _*) catch {
          case e: java.lang.reflect.InvocationTargetException =>
            failures.incrementAndGet()
            throw e.getCause
        }
        m.getName match {
          case "addBatch" => rows.incrementAndGet()
          case "executeBatch" => executeBatchNs.addAndGet(System.nanoTime() - t0)
          case _ =>
        }
        wrapResult.applyOrElse((m.getName, r), (_: (String, AnyRef)) => r)
      }
    }
    java.lang.reflect.Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface), h)
      .asInstanceOf[T]
  }
}

/** The per-layer record of a run: listener counters summed over the
  * measured windows only (set-up, checks and isolated layer calls are
  * outside every window).
  */
final class Tracer(val enabled: Boolean, cpus: Int) {
  val spark = new SparkTrace
  val stream = new StreamTrace
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** per named window: the same counters, for the trace file */
  val windows = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala

  def attach(s: SparkSession): Unit = if (enabled) {
    s.sparkContext.addSparkListener(spark)
    s.streams.addListener(stream)
  }

  private def snapshot(): Map[String, Double] = Map(
    "plan.analysis_ms" -> PlanTrace.analysisMs.get.toDouble,
    "plan.optimization_ms" -> PlanTrace.optimizationMs.get.toDouble,
    "plan.planning_ms" -> PlanTrace.planningMs.get.toDouble,
    "plan.actions" -> PlanTrace.actions.get.toDouble,
    "spark.jobs" -> spark.jobsEnded.get.toDouble,
    "spark.stages" -> spark.stages.get.toDouble,
    "spark.tasks" -> spark.tasksEnded.get.toDouble,
    "spark.task_ms" -> spark.taskMs.get.toDouble,
    "spark.gc_ms" -> gcBeans.map(_.getCollectionTime).sum.toDouble,
    "spark.shuffle_bytes" -> spark.shuffleBytes.get.toDouble,
    "spark.input_bytes" -> spark.inputBytes.get.toDouble)

  /** Run `body` as a measured window named `name`. */
  def window[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      spark.quiesce()
      val before = snapshot()
      val t0 = System.nanoTime()
      try body
      finally {
        val wallMs = (System.nanoTime() - t0) / 1e6
        spark.quiesce()
        val after = snapshot()
        val w = windows.getOrElseUpdate(name, mutable.Map.empty[String, Double].withDefaultValue(0.0))
        (after.keys.toSeq :+ "wall_ms").foreach { k =>
          val d = if (k == "wall_ms") wallMs else after(k) - before(k)
          totals(k) += d
          w(k) += d
        }
      }
    }

  /** The generic per-layer metrics: window totals per operation, and
    * executor busy share of the windows' wall time.
    */
  def layers(ops: Long): Map[String, Double] = {
    val n = math.max(ops, 1L).toDouble
    val perOp = Seq("plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
      "plan.actions", "spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms",
      "spark.gc_ms", "spark.shuffle_bytes", "spark.input_bytes")
      .map(k => k -> totals(k) / n).toMap
    perOp + ("spark.busy_frac" -> totals("spark.task_ms") / (totals("wall_ms") * cpus))
  }

  /** Per-window counters with a busy share each, for the trace file. */
  def windowDetail: Map[String, Any] = windows.map { case (k, w) =>
    k -> (w.toMap + ("spark.busy_frac" -> w("spark.task_ms") / (w("wall_ms") * cpus)))
  }.toMap

  /** Per job-description counters (queries labelled by the workloads). */
  def labelDetail: Map[String, Any] = spark.byLabel.asScala.map { case (l, a) =>
    l -> Map("spark.jobs" -> a(0), "spark.stages" -> a(1), "spark.tasks" -> a(2),
      "spark.task_ms" -> a(3))
  }.toMap
}
