package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.graftbridge.SparkInternals
import org.apache.spark.sql.streaming.Trigger
import graft.flow.{FlowPipeline, FlowSchema, FlowService}

/** Config-driven service + streaming JDBC load (reference's full
  * service surface).
  */
class FlowServiceSpec extends SparkSpecBase {

  def csvRow(fields: Map[String, String]): String =
    FlowSchema.nfdumpCsvColumns.map(c => fields.getOrElse(c, "0")).mkString(",")

  def flowFile(dir: String, name: String, ts: String, sa: String): Unit = {
    val header = FlowSchema.nfdumpCsvColumns.mkString(",")
    val row = csvRow(Map(
      "ts" -> ts, "te" -> ts, "sa" -> sa, "da" -> "10.0.0.1",
      "sp" -> "1000", "dp" -> "80", "pr" -> "tcp", "flg" -> ".A....",
      "ipkt" -> "1", "ibyt" -> "100", "ra" -> "10.0.0.254"))
    Files.write(Paths.get(dir, name), s"$header\n$row".getBytes)
  }

  test("ini config parses sections, defaults, and rejects bad configs") {
    val cfg = FlowService.fromIni(
      """# service config
        |[main]
        |out_dir = /w/nflows
        |ckpt_dir = /w/ckpt
        |
        |[router-b]
        |dir = /spool/b
        |; no flowsrc -> defaults to section name
        |
        |[router-a]
        |dir = /spool/a
        |flowsrc = site-a
        |recursive = true
        |""".stripMargin)
    assert(cfg.outDir === "/w/nflows")
    assert(cfg.watchers.map(w => (w.name, w.dir, w.flowsrc)) === Seq(
      ("router-a", "/spool/a", "site-a"),
      ("router-b", "/spool/b", "router-b")))
    intercept[IllegalArgumentException](FlowService.fromIni("[main]\nout_dir=x\nckpt_dir=y"))
    intercept[IllegalArgumentException](FlowService.fromIni("[w]\ndir=/d"))
  }

  test("a watcher on the processing-time trigger ingests a file landed after start") {
    val watch = tmpDir("pwatch"); val out = tmpDir("pout"); val ckpt = tmpDir("pckpt")
    val cfg = FlowService.fromIni(
      s"""[main]
         |out_dir = $out
         |ckpt_dir = $ckpt
         |[p]
         |dir = $watch
         |""".stripMargin)
    val Seq(q) = FlowService.startAll(spark, cfg)
    try {
      assert(SparkInternals.trigger(q) === Trigger.ProcessingTime(FlowPipeline.DefaultTrigger))
      // the file source must never see a half-written file
      val staged = tmpDir("pstage")
      flowFile(staged, "nfcapd.1.csv", "2024-05-01 10:00:00", "192.168.0.9")
      Files.move(Paths.get(staged, "nfcapd.1.csv"), Paths.get(watch, "nfcapd.1.csv"),
        StandardCopyOption.ATOMIC_MOVE)
      // a trigger that listed the dir before the move can end the first
      // wait with no new data; every trigger after it sees the file
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.read.parquet(s"$out/p")
      assert(got.count() === 1)
      assert(got.select("sa", "flowsrc").head().toSeq === Seq("192.168.0.9", "p"))
      assert(q.recentProgress.map(_.numInputRows).sum === 1)
    } finally q.stop()
  }

  test("startAll runs one checkpointed pipeline per watcher") {
    val a = tmpDir("wa"); val b = tmpDir("wb")
    val out = tmpDir("svc_out"); val ckpt = tmpDir("svc_ckpt")
    flowFile(a, "nfcapd.1.csv", "2024-05-01 10:00:00", "192.168.0.1")
    flowFile(b, "nfcapd.2.csv", "2024-05-01 11:00:00", "192.168.0.2")
    val cfg = FlowService.fromIni(
      s"""[main]
         |out_dir = $out
         |ckpt_dir = $ckpt
         |[a]
         |dir = $a
         |flowsrc = site-a
         |[b]
         |dir = $b
         |""".stripMargin)
    val queries = FlowService.startAll(spark, cfg, availableNowCatchup = true)
    queries.foreach(_.awaitTermination())
    val gotA = spark.read.parquet(s"$out/a")
    val gotB = spark.read.parquet(s"$out/b")
    assert(gotA.count() === 1)
    assert(gotA.select("flowsrc").head().getString(0) === "site-a")
    assert(gotB.select("flowsrc").head().getString(0) === "b") // defaulted
  }

  test("a micro-batch of more than 32 files runs one Spark job, with no listing job") {
    // the file source knows the batch's files from its own scan; at
    // Spark's default listing threshold (32) they are listed again by
    // a job of one task per file before the write job runs
    val watch = tmpDir("lwatch"); val out = tmpDir("lout"); val ckpt = tmpDir("lckpt")
    val n = 40
    (1 to n).foreach(i => flowFile(watch, f"nfcapd.$i%02d.csv", "2024-05-01 10:00:00",
      s"192.168.0.$i"))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val marker = "flow-service-spec-listener-marker"
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.job.description") == marker)) markerSeen.countDown()
        else jobs.add((props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .getOrElse(""), e.stageInfos.map(_.numTasks).sum))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = FlowPipeline.start(spark, watch, out, ckpt, "site-l", availableNowCatchup = true)
      q.awaitTermination()
      // listener events arrive in order: once the marker job is seen,
      // every job of the query has been seen too
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(q.recentProgress.count(_.numInputRows > 0) === 1)
      import scala.jdk.CollectionConverters._
      val tasks = jobs.asScala.collect { case (id, t) if id == q.id.toString => t }.toSeq
      assert(tasks.size === 1, s"jobs of the data batch (tasks each): $tasks")
      assert(!tasks.contains(n), s"a job of one task per file: $tasks")
      assert(spark.read.parquet(out).count() === n)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("streaming JDBC load pushes micro-batches through the batch sink") {
    val watch = tmpDir("jwatch"); val ckpt = tmpDir("jckpt")
    flowFile(watch, "nfcapd.1.csv", "2024-05-01 10:00:00", "192.168.0.1")
    flowFile(watch, "nfcapd.2.csv", "2024-05-01 11:00:00", "192.168.0.2")
    JdbcStub.reset()
    val q = FlowPipeline.startJdbc(spark, watch, ckpt, "site-x",
      "nflows", JdbcStub.connect, batchSize = 100, availableNowCatchup = true)
    q.awaitTermination()
    assert(JdbcStub.rowsBound.get() === 2)
    assert(JdbcStub.sqls.peek().startsWith("INSERT INTO nflows (ts, te, td, sa, da"))
  }
  test("streaming JDBC load lands micro-batches in a real database (Derby)") {
    val watch = tmpDir("djwatch"); val ckpt = tmpDir("djckpt")
    flowFile(watch, "nfcapd.1.csv", "2024-05-01 10:00:00", "192.168.0.1")
    flowFile(watch, "nfcapd.2.csv", "2024-05-01 11:00:00", "192.168.0.2")
    System.setProperty("derby.system.home", tmpDir("derby_home_stream"))
    val url = s"jdbc:derby:${tmpDir("graft_derby_stream")}/db;create=true"
    val schema = graft.flow.FlowSchema.nflowsSchema
    val ddlCols = schema.fields.map { f =>
      val t = f.dataType match {
        case org.apache.spark.sql.types.LongType      => "BIGINT"
        case org.apache.spark.sql.types.IntegerType   => "INT"
        case org.apache.spark.sql.types.DoubleType    => "DOUBLE"
        case org.apache.spark.sql.types.TimestampType => "TIMESTAMP"
        case _                                        => "VARCHAR(255)"
      }
      s"${f.name} $t"
    }.mkString(", ")
    val ddl = java.sql.DriverManager.getConnection(url)
    ddl.createStatement().executeUpdate(s"CREATE TABLE nflows ($ddlCols)")
    ddl.close()
    val q = FlowPipeline.startJdbc(spark, watch, ckpt, "site-derby",
      "nflows", () => java.sql.DriverManager.getConnection(url),
      batchSize = 100, availableNowCatchup = true)
    q.awaitTermination()
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT COUNT(*), MIN(sa), MAX(flowsrc) FROM nflows")
      rs.next()
      assert(rs.getLong(1) === 2)
      assert(rs.getString(2) === "192.168.0.1")
      assert(rs.getString(3) === "site-derby")
    } finally c.close()
  }
}
