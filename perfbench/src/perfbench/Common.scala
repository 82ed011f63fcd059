package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}

/** What one workload run is given and what it hands back. */
final case class Ctx(workload: String, runDir: String, seconds: Int,
    trace: Boolean, cpus: Int, seed: Long) {
  def path(rel: String): String = s"$runDir/$rel"
}

/** A workload's outcome: end-to-end metrics, the generic per-layer
  * metrics, the workload-specific layer detail (trace file only), and
  * the output checks. `attempted`/`failed` count operations.
  */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, Int]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, n: Int): Unit = {
    metrics(name) = value
    samples(name) = n
  }

  /** Record a check; a failed one marks `ops` operations as failed. */
  def check(name: String, ok: Boolean, info: String, ops: Long): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> info)
    if (!ok) failed += ops
  }
}

object Common {

  /** The benchmark's Spark session: graft's builder (extensions, UTC),
    * sized from the cpu count, with every scratch dir inside the run dir.
    */
  def session(ctx: Ctx): SparkSession = {
    val b = graft.Graft.builder()
      .master(s"local[${ctx.cpus}]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", ctx.path("warehouse"))
      .config("spark.local.dir", ctx.path("spark-local"))
    if (ctx.trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanTrace].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set up `k` times (session start → ready, plus `warmUp`) and keep
    * the last session. Returns it with the median set-up seconds.
    */
  def setUp(ctx: Ctx, out: Outcome, k: Int)(warmUp: SparkSession => Unit): SparkSession = {
    val times = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to k) {
      val t0 = System.nanoTime()
      spark = session(ctx)
      warmUp(spark)
      times += secs(t0)
      if (i < k) spark.stop()
    }
    out.metric("setup_s", median(times.toSeq), times.size)
    out.detail("setup_s.samples") = times.toSeq
    spark
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Driver heap in use after a full collection, in MB. */
  def heapRetainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Order-free content hash of a result: rows rendered cell by cell,
    * sorted, SHA-256. Two results hash equal iff they hold the same
    * multiset of rows.
    */
  def resultHash(rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case null => "\u0000"
      case a: Array[Byte] => a.mkString("b[", ",", "]")
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case x => x.toString
    }
    val lines = rows.map(r => r.toSeq.map(cell).mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(30.toByte) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def readFile(p: String): String = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  def writeFile(p: String, s: String): Unit = {
    Files.createDirectories(Paths.get(p).getParent)
    Files.write(Paths.get(p), s.getBytes("UTF-8"))
  }

  /** Minimal JSON rendering of maps, sequences, numbers and strings. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
