package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.sources.MemoryPlan
import scala.jdk.CollectionConverters._

/** Every graded stream drains through one memory sink and releases it:
  * after an entry returns, no session keeps a `graft_stream_*` view —
  * neither the caller's nor a stream's own clone that a Spark thread
  * still inherits — the returned frame (resolved before the view was
  * dropped) still collects its rows, and a drained sink is garbage once
  * nothing references its frame.
  */
class StreamDrainSpec extends SparkSpecBase {

  private def sinkViews(s: org.apache.spark.sql.classic.SparkSession): Seq[String] =
    s.sessionState.catalog.getTempViewNames().filter(_.startsWith("graft_stream_"))

  private def field(o: AnyRef, name: String): AnyRef = {
    val f = Iterator.iterate[Class[_]](o.getClass)(_.getSuperclass)
      .takeWhile(_ != null)
      .flatMap(_.getDeclaredFields.find(_.getName == name)).next()
    f.setAccessible(true)
    f.get(o)
  }

  /** The sessions live threads inherit as their active session. Spark's
    * broadcast and stage pools keep the session of the thread that
    * created each of their threads, for as long as the thread lives.
    */
  private def inheritedSessions(): Seq[org.apache.spark.sql.classic.SparkSession] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .flatMap(t => Option(field(t, "inheritableThreadLocals")))
      .flatMap(m => field(m, "table").asInstanceOf[Array[AnyRef]].filter(_ != null))
      .map(e => field(e, "value"))
      .collect { case s: org.apache.spark.sql.classic.SparkSession => s }
      .distinct

  /** The confs a drain overrides while it runs, as explicitly set. */
  private def drainConfs(): Map[String, String] = spark.conf.getAll.filter {
    case (k, _) => k == "spark.sql.shuffle.partitions" ||
      k == "spark.sql.streaming.stateStore.providerClass"
  }

  for ((name, fn) <- StreamingOps.queries.toSeq.sortBy(_._1)) {
    test(s"$name leaves no sink view and its frame still collects") {
      val confs = drainConfs()
      val df = fn(spark, sf0001)
      val rows = df.collect().map(_.toString).sorted.toSeq
      val main = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      assert(sinkViews(main).isEmpty, s"$name left sink views in the catalog")
      val inherited = inheritedSessions().flatMap(sinkViews)
      assert(inherited.isEmpty, s"$name left sink views in a thread's session")
      assert(drainConfs() === confs, s"$name did not restore the session conf")
      assert(df.collect().map(_.toString).sorted.toSeq === rows)
    }
  }

  test("a drained sink is garbage once its frame is unreachable") {
    def drainOnce(): java.lang.ref.WeakReference[AnyRef] = {
      val df = StreamingOps.queries("stream_running_totals")(spark, sf0001)
      assert(df.collect().nonEmpty)
      val sinks = df.queryExecution.analyzed.collect { case m: MemoryPlan => m.sink }
      assert(sinks.size === 1)
      new java.lang.ref.WeakReference[AnyRef](sinks.head)
    }
    val sink = drainOnce()
    var gcs = 0
    while (sink.get != null && gcs < 50) { System.gc(); Thread.sleep(100); gcs += 1 }
    assert(sink.get == null, "the memory sink is still reachable after 50 GCs")
  }
}
