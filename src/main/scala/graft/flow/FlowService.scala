package graft.flow

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Config-driven multi-watcher service (the reference's user-facing
  * surface: an ini file with a `[main]` section and one section per
  * watched directory, run as a long-lived service).
  *
  * Reference config shape (poorting/nfdump2clickhouse README):
  * {{{
  * [main]
  * out_dir    = /warehouse/nflows
  * ckpt_dir   = /warehouse/_ckpt
  *
  * [router-ams]
  * dir     = /spool/ams
  * flowsrc = ams
  * }}}
  * Each watcher becomes one checkpointed streaming query; `startAll`
  * returns them for lifecycle management (the systemd analog).
  * Every watcher runs on [[FlowPipeline.DefaultTrigger]].
  */
object FlowService {

  case class Watcher(name: String, dir: String, flowsrc: String)
  case class ServiceConfig(outDir: String, ckptDir: String, watchers: Seq[Watcher])

  /** Minimal ini parser — sections of `key = value` lines, `#`/`;`
    * comments. No external deps (zero-egress build).
    */
  def parseIni(text: String): Map[String, Map[String, String]] = {
    val sections = scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.LinkedHashMap[String, String]]()
    var current = "main"
    for (raw <- text.linesIterator) {
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith("#") && !line.startsWith(";")) {
        if (line.startsWith("[") && line.endsWith("]")) {
          current = line.substring(1, line.length - 1).trim
          sections.getOrElseUpdate(current, scala.collection.mutable.LinkedHashMap())
        } else line.indexOf('=') match {
          case -1 => // tolerate junk lines, like the reference's parser
          case i =>
            sections.getOrElseUpdate(current, scala.collection.mutable.LinkedHashMap())
              .update(line.substring(0, i).trim, line.substring(i + 1).trim)
        }
      }
    }
    sections.map { case (k, v) => k -> v.toMap }.toMap
  }

  def fromIni(text: String): ServiceConfig = {
    val ini = parseIni(text)
    val main = ini.getOrElse("main",
      throw new IllegalArgumentException("config needs a [main] section"))
    val out = main.getOrElse("out_dir",
      throw new IllegalArgumentException("[main] needs out_dir"))
    val ckpt = main.getOrElse("ckpt_dir",
      throw new IllegalArgumentException("[main] needs ckpt_dir"))
    val watchers = (ini - "main").toSeq.collect {
      case (name, kv) if kv.contains("dir") =>
        Watcher(name, kv("dir"), kv.getOrElse("flowsrc", name))
    }.sortBy(_.name)
    if (watchers.isEmpty)
      throw new IllegalArgumentException("config defines no watcher sections")
    ServiceConfig(out, ckpt, watchers)
  }

  /** One streaming query per watcher, each with its own checkpoint —
    * independent restart/recovery per source, like the reference's
    * per-watcher threads.
    */
  def startAll(spark: SparkSession, cfg: ServiceConfig,
      availableNowCatchup: Boolean = false): Seq[StreamingQuery] =
    cfg.watchers.map { w =>
      FlowPipeline.start(spark, w.dir, s"${cfg.outDir}/${w.name}",
        s"${cfg.ckptDir}/${w.name}", w.flowsrc, availableNowCatchup)
    }

  /** Service-level retention: each watcher writes under
    * `out_dir/<name>/date=…`, so TTL must be applied per watcher
    * subdirectory — running expireOlderThan on `out_dir` itself finds
    * no `date=` children and drops nothing.
    */
  def expireAll(spark: SparkSession, cfg: ServiceConfig,
      cutoff: String): Map[String, Seq[String]] =
    cfg.watchers.map { w =>
      w.name -> graft.sinks.PartitionedParquetSink.expireOlderThan(
        spark, s"${cfg.outDir}/${w.name}", cutoff)
    }.toMap
}
