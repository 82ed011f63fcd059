package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.flow.{FlowPipeline, FlowSchema, FlowService}
import graft.sinks.PartitionedParquetSink

/** The ETL write paths and a table resolve start no filesystem helper
  * process. Stock Hadoop without its native library forks `chmod` for
  * every file it creates, `readlink` per `FileContext` rename and
  * `ls -ld` per permission read; the processes are counted with an
  * in-process JFR recording of `jdk.ProcessStart`.
  */
class NoForkSpec extends SparkSpecBase {

  private val helpers = Set("chmod", "readlink", "ls", "stat")

  /** Command lines of the processes the JVM started while `body` ran. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
    } finally {
      rec.close()
      Files.delete(file)
    }
  }

  private def assertNoHelperForks(body: => Unit): Unit = {
    val forks = processesStartedBy(body).filter { cmd =>
      helpers(Paths.get(cmd.trim.split("\\s+")(0)).getFileName.toString)
    }
    if (forks.nonEmpty)
      fail(s"${forks.size} filesystem helper processes started, e.g. ${forks.take(3).mkString("; ")}")
  }

  private def nfdumpFile(dir: String, name: String, rows: Int): Unit = {
    val lines = (0 until rows).map { i =>
      val fields = Map(
        "ts" -> f"2024-05-0${1 + i % 2} 10:00:$i%02d", "te" -> "2024-05-01 10:01:00",
        "sa" -> s"192.168.0.${i + 1}", "da" -> "10.0.0.1", "sp" -> "1000", "dp" -> "80",
        "pr" -> "tcp", "flg" -> ".A....", "ipkt" -> "1", "ibyt" -> "100", "ra" -> "10.0.0.254")
      FlowSchema.nfdumpCsvColumns.map(c => fields.getOrElse(c, "0")).mkString(",")
    }
    Files.write(Paths.get(dir, name),
      (FlowSchema.nfdumpCsvColumns.mkString(",") +: lines).mkString("\n").getBytes)
  }

  test("backfill and a FlowService catch-up drain fork no filesystem helper") {
    val in = tmpDir("nofork_in")
    (1 to 2).foreach(i => nfdumpFile(in, s"nfcapd.$i.csv", rows = 5))
    val backfillOut = tmpDir("nofork_backfill")
    val out = tmpDir("nofork_out")
    val cfg = FlowService.ServiceConfig(out, tmpDir("nofork_ckpt"),
      Seq(FlowService.Watcher("w", in, "site")))
    assertNoHelperForks {
      FlowPipeline.backfill(spark, in, backfillOut, "site")
      FlowService.startAll(spark, cfg, availableNowCatchup = true).foreach(_.awaitTermination())
    }
    assert(spark.read.parquet(backfillOut).count() === 10)
    assert(spark.read.parquet(s"$out/w").count() === 10)
  }

  test("small-file compaction forks no filesystem helper") {
    import spark.implicits._
    val out = tmpDir("nofork_compact")
    for (i <- 0 until 8)
      PartitionedParquetSink.write(
        Seq((s"2024-02-01 0$i:00:00", i.toLong)).toDF("ts_s", "v")
          .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s").coalesce(1),
        "ts", out)
    var compacted = Seq.empty[(String, Int, Int)]
    assertNoHelperForks {
      compacted = PartitionedParquetSink.compact(spark, out, minFiles = 8)
    }
    assert(compacted.map(_._1) === Seq("date=2024-02-01"))
  }

  test("resolving the events table forks no filesystem helper") {
    assertNoHelperForks(Tables.events(spark, sf0001))
  }
}
