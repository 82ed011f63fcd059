package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.flow.{FlowPipeline, FlowService, FlowTransform, NfdumpCsv}
import graft.sinks.{JdbcBatchSink, PartitionedParquetSink}

/** etl_service: graft's nfdump → nflows pipeline run as a service.
  *
  * (a) a parquet backlog drained by two `FlowService` watchers with
  *     `availableNowCatchup`, then loaded again by the batch
  *     `FlowPipeline.backfill` (`PartitionedParquetSink.write`), one
  *     call per watched dir; repeated with fresh checkpoints and outputs;
  * (b) a smaller backlog through `FlowPipeline.startJdbc` into embedded
  *     Derby, repeated into fresh tables;
  * (c) an open-loop phase: one generator thread renames files into the
  *     two watched dirs on a fixed schedule while the service runs on
  *     its 5 s processing-time trigger; a file's freshness is the time
  *     from its rename to the commit of the batch that holds it.
  *
  * Parquet outputs are checked against the generator's manifest by the
  * launcher; Derby's content is checked here.
  */
object Etl {
  /** files per second released in phase (c) */
  val SteadyRate = 10.0
  /** FlowPipeline's processing-time trigger interval */
  val TriggerMs = 5000L
  val ScheduleOffsetMs = 20L
  val DerbyUrl = "jdbc:derby:memory:perfbench;create=true"

  final case class InFile(phase: String, watcher: String, name: String, rows: Long)

  private def inputFiles(ctx: Ctx): Seq[InFile] =
    Common.readFile(ctx.path("input/files.tsv")).linesIterator.map { l =>
      val f = l.split('\t'); InFile(f(0), f(1), f(2), f(3).toLong)
    }.toSeq

  def run(ctx: Ctx, out: Outcome, tracer: Tracer): SparkSession = {
    System.setProperty("derby.stream.error.file", ctx.path("derby.log"))
    val files = inputFiles(ctx)
    def of(phase: String, w: String) = files.filter(f => f.phase == phase && f.watcher == w)
    def rows(phase: String) = files.filter(_.phase == phase).map(_.rows).sum
    // backlogs land in their watched dirs before anything is timed
    for (ph <- Seq("w", "a", "b"); w <- Seq("w1", "w2", "jdbc"); f <- of(ph, w))
      release(ctx, f)
    val connect: () => java.sql.Connection = {
      val url = DerbyUrl
      () => java.sql.DriverManager.getConnection(url)
    }
    val sinkConnect = if (ctx.trace) JdbcTrace.wrap(connect) else connect
    var setups = 0
    val spark = Common.setUp(ctx, out, 3) { s =>
      setups += 1
      // warm-up: one small file through each pipeline shape
      val cfg = serviceConfig(ctx, s"warm$setups", Seq("w1" -> "w/w1", "w2" -> "w/w2"))
      FlowService.startAll(s, cfg, availableNowCatchup = true).foreach(_.awaitTermination())
      FlowPipeline.backfill(s, ctx.path("watch/w/w1"), ctx.path(s"out/warm$setups/bf_w1"), "w1")
      createTable(s"nflows_warm$setups")
      FlowPipeline.startJdbc(s, ctx.path("watch/w/jdbc"), ctx.path(s"ckpt/warm$setups/jdbc"),
        "jdbc", s"nflows_warm$setups", connect, availableNowCatchup = true).awaitTermination()
    }
    tracer.attach(spark)
    val t0 = System.nanoTime()
    // Phase (c) is a fixed schedule. (a) and (b) repeat a fixed number
    // of times derived from the run's seconds — not "until time is up" —
    // because the JIT still speeds up each drain over the first few, and
    // a varying count would shift which drain the median lands on.
    val drains = math.max(3, ctx.seconds / 5)
    val launcher = mutable.ArrayBuffer.empty[Map[String, Any]]

    val phaseS = mutable.LinkedHashMap.empty[String, Double]
    // (a) parquet backlog: the two watchers' catch-up, then the batch
    // backfill of the same files; the rate counts the rows of both
    val backfill, catchup, batch = mutable.ArrayBuffer.empty[Double]
    val aRows = rows("a")
    while (backfill.size < drains) {
      val rep = s"a${backfill.size}"
      val cfg = serviceConfig(ctx, rep, Seq("w1" -> "a/w1", "w2" -> "a/w2"))
      // timed inside the window, so a traced run's listener drain is not counted
      val (cs, bs) = tracer.window("etl.backfill") {
        val s = System.nanoTime()
        FlowService.startAll(spark, cfg, availableNowCatchup = true).foreach(_.awaitTermination())
        val c = Common.secs(s)
        val b = System.nanoTime()
        Seq("w1", "w2").foreach(w => FlowPipeline.backfill(spark, ctx.path(s"watch/a/$w"),
          ctx.path(s"out/$rep/bf_$w"), w))
        (c, Common.secs(b))
      }
      catchup += aRows / cs
      batch += aRows / bs
      backfill += 2 * aRows / (cs + bs)
      launcher += Map("phase" -> "a",
        "out" -> Seq("w1", "w2", "bf_w1", "bf_w2").map(w => s"out/$rep/$w"),
        "expect" -> Seq("a/w1", "a/w2", "a/w1", "a/w2"))
      out.attempted += 2 * files.count(_.phase == "a")
    }

    phaseS("a") = Common.secs(t0)
    // (b) JDBC backlog into Derby
    val jdbcSecs = mutable.ArrayBuffer.empty[Double]
    val bRows = rows("b")
    val t1 = System.nanoTime()
    while (jdbcSecs.size < drains) {
      val table = s"nflows_b${jdbcSecs.size}"
      createTable(table)
      jdbcSecs += tracer.window("etl.jdbc") {
        val s = System.nanoTime()
        FlowPipeline.startJdbc(spark, ctx.path("watch/b/jdbc"),
          ctx.path(s"ckpt/b${jdbcSecs.size}/jdbc"), "jdbc", table, sinkConnect,
          availableNowCatchup = true).awaitTermination()
        Common.secs(s)
      }
      val nb = files.count(_.phase == "b")
      out.attempted += nb
      checkDerby(ctx, out, table, files.filter(_.phase == "b"), nb)
    }

    phaseS("b") = Common.secs(t1)
    // (c) open-loop steady phase
    val t2 = System.nanoTime()
    val steady = files.filter(_.phase == "c")
    val cfg = serviceConfig(ctx, "c", Seq("w1" -> "c/w1", "w2" -> "c/w2"))
    cfg.watchers.foreach(w => Files.createDirectories(Paths.get(w.dir)))
    // file name → epoch ms at which it was due
    val closed = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val lateness = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    // the micro-batch record covers the steady phase only
    tracer.stream.batches.clear()
    tracer.window("etl.steady") {
      val qs = FlowService.startAll(spark, cfg, availableNowCatchup = false)
      // The service's 5 s trigger fires on wall-clock multiples of its
      // interval; the schedule starts just after one and spans whole
      // intervals, so every run samples the same trigger phases.
      // Freshness counts from when a file was due, so a late generator
      // shows in it; the lateness itself is reported too.
      val nowMs = System.currentTimeMillis()
      val startMs = nowMs - nowMs % TriggerMs + TriggerMs + ScheduleOffsetMs
      val start = System.nanoTime() + (startMs - nowMs) * 1000000L
      val gen = new Thread(() => {
        steady.zipWithIndex.foreach { case (f, i) =>
          val offset = (i / SteadyRate * 1e9).toLong
          val due = start + offset
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          release(ctx, f)
          closed.put(f.name, startMs + offset / 1000000)
          lateness.add((System.nanoTime() - due) / 1e9)
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      // wait for the batch holding the last file to commit (bounded),
      // not for a further empty trigger
      val deadline = System.nanoTime() + 60000000000L
      while (committed(cfg).size < steady.size && System.nanoTime() < deadline)
        Thread.sleep(20)
      qs.foreach(_.stop())
    }
    out.attempted += steady.size
    phaseS("c") = Common.secs(t2)
    out.detail("etl.phase_s") = phaseS
    val fresh = committed(cfg).flatMap { case (n, at) =>
      Option(closed.get(n)).map(c => n -> (at - c.longValue) / 1000.0) }
    val missing = steady.map(_.name).filterNot(fresh.contains)
    out.check("etl.steady.committed", missing.isEmpty,
      s"${missing.size} released files never seen committed", missing.size)
    launcher += Map("phase" -> "c", "out" -> Seq("w1", "w2").map(w => s"out/c/$w"),
      "expect" -> Seq("c/w1", "c/w2"))
    val fr = fresh.values.toSeq
    if (fr.nonEmpty) {
      out.metric("lat_p50_s", Common.percentile(fr, 0.5), fr.size)
      out.metric("lat_p90_s", Common.percentile(fr, 0.9), fr.size)
    }
    out.metric("rate_per_s", Common.median(backfill.toSeq), backfill.size)
    out.metric("batch_s", Common.median(jdbcSecs.toSeq), jdbcSecs.size)
    val late = lateness.asScala.map(_.doubleValue).toSeq
    out.detail("etl.generator.lateness_p50_s") = Common.percentile(late, 0.5)
    out.detail("etl.generator.lateness_max_s") = late.max
    out.detail("etl.backfill_rows_per_s") = Common.median(backfill.toSeq)
    out.detail("etl.backfill_rows_per_s.samples") = backfill.toSeq
    out.detail("etl.catchup_rows_per_s.samples") = catchup.toSeq
    out.detail("etl.batch_backfill_rows_per_s.samples") = batch.toSeq
    out.detail("etl.jdbc_s.samples") = jdbcSecs.toSeq
    out.detail("etl.jdbc_rows_per_s") = bRows / Common.median(jdbcSecs.toSeq)
    out.detail("etl.fresh_s.samples") = fr.sorted
    out.detail("launcher.parquet") = launcher.toSeq

    if (ctx.trace) {
      streamDetail(out, tracer)
      jdbcDetail(out, jdbcSecs.size)
    }
    spark
  }

  /** Atomically move a staged file into its watched dir. */
  private def release(ctx: Ctx, f: InFile): Unit = {
    val dst = Paths.get(ctx.path(s"watch/${f.phase}/${f.watcher}"))
    Files.createDirectories(dst)
    Files.move(Paths.get(ctx.path(s"input/staged/${f.phase}/${f.watcher}/${f.name}")),
      dst.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** A FlowService config as its users write it: an ini file. */
  private def serviceConfig(ctx: Ctx, rep: String, watchers: Seq[(String, String)]) = {
    val ini = new StringBuilder
    ini ++= s"[main]\nout_dir = ${ctx.path(s"out/$rep")}\nckpt_dir = ${ctx.path(s"ckpt/$rep")}\n"
    watchers.foreach { case (name, dir) =>
      ini ++= s"\n[$name]\ndir = ${ctx.path(s"watch/$dir")}\nflowsrc = $name\n"
    }
    FlowService.fromIni(ini.toString)
  }

  private def withDerby[T](body: java.sql.Statement => T): T = {
    val c = java.sql.DriverManager.getConnection(DerbyUrl)
    try {
      val st = c.createStatement()
      try body(st) finally st.close()
    } finally c.close()
  }

  private def createTable(name: String): Unit = withDerby { st =>
    st.execute(s"CREATE TABLE $name (ts TIMESTAMP, te TIMESTAMP, td DOUBLE, " +
      "sa VARCHAR(64), da VARCHAR(64), sp INT, dp INT, pr VARCHAR(16), flg VARCHAR(16), " +
      "ipkt BIGINT, ibyt BIGINT, ra VARCHAR(64), flowsrc VARCHAR(32))")
  }

  /** Derby holds exactly the manifest's rows and ibyt sum, no duplicates. */
  private def checkDerby(ctx: Ctx, out: Outcome, table: String, expect: Seq[InFile],
      ops: Long): Unit = {
    val manifest = Common.readFile(ctx.path("input/manifest.json"))
    val ibyt = raw""""b/jdbc":\s*\{[^}]*"ibyt":\s*(\d+)""".r
      .findFirstMatchIn(manifest).map(_.group(1).toLong).getOrElse(-1L)
    val (n, sum, dups) = withDerby { st =>
      val r = st.executeQuery(s"SELECT COUNT(*), SUM(ibyt) FROM $table")
      r.next()
      val (n, sum) = (r.getLong(1), r.getLong(2))
      val d = st.executeQuery(
        s"SELECT COUNT(*) FROM (SELECT ra, sp FROM $table GROUP BY ra, sp HAVING COUNT(*) > 1) x")
      d.next()
      val dups = d.getLong(1)
      st.execute(s"DROP TABLE $table")
      (n, sum, dups)
    }
    val rows = expect.map(_.rows).sum
    out.check(s"etl.jdbc.$table", n == rows && sum == ibyt && dups == 0,
      s"rows $n/$rows ibyt $sum/$ibyt duplicate keys $dups", ops)
  }

  /** file name → commit time (epoch ms) of the batch that holds it:
    * the source log of each checkpoint names a batch's files, the sink's
    * metadata log entry for that batch is written when it commits.
    */
  private def committed(cfg: FlowService.ServiceConfig): Map[String, Long] = {
    val pathRe = "\"path\":\"([^\"]+)\"".r
    cfg.watchers.flatMap { w =>
      val srcLog = Paths.get(s"${cfg.ckptDir}/${w.name}/sources/0")
      val sinkLog = Paths.get(s"${cfg.outDir}/${w.name}/_spark_metadata")
      if (!Files.isDirectory(srcLog)) Nil
      else Files.list(srcLog).iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.forall(_.isDigit))
        .flatMap { p =>
          val batch = p.getFileName.toString
          val commit = sinkLog.resolve(batch)
          if (!Files.exists(commit)) Nil
          else {
            val at = Files.getLastModifiedTime(commit).toMillis
            pathRe.findAllMatchIn(Common.readFile(p.toString)).map(_.group(1))
              .map(u => u.substring(u.lastIndexOf('/') + 1) -> at).toSeq
          }
        }
    }.toMap
  }

  private def streamDetail(out: Outcome, tracer: Tracer): Unit = {
    val bs = tracer.stream.batches.asScala.toSeq
    out.detail("flow.FlowPipeline.batches") = bs.size
    if (bs.nonEmpty) {
      out.detail("flow.FlowPipeline.rows_per_batch") = Common.median(bs.map(_._1.toDouble))
      Seq("trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
        "latest_offset_ms" -> "latestOffset", "query_planning_ms" -> "queryPlanning",
        "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets").foreach {
        case (name, key) =>
          val xs = bs.map(_._2.getOrElse(key, 0L).toDouble)
          out.detail(s"flow.FlowPipeline.$name") =
            Map("p50" -> Common.percentile(xs, 0.5), "p90" -> Common.percentile(xs, 0.9))
      }
    }
  }

  private def jdbcDetail(out: Outcome, reps: Int): Unit = {
    val c = JdbcTrace.connects.get
    out.detail("sinks.JdbcBatchSink.connects") = c / reps.toDouble
    out.detail("sinks.JdbcBatchSink.execute_batch_ms") = JdbcTrace.executeBatchNs.get / 1e6 / reps
    out.detail("sinks.JdbcBatchSink.retries") = JdbcTrace.failures.get / reps.toDouble
    out.detail("sinks.JdbcBatchSink.rows_per_connect") = JdbcTrace.rows.get / math.max(c, 1L).toDouble
  }

  /** Each layer's public entry point timed on its own (traced runs
    * only, after the measured phases): decode into a noop sink, the
    * transform over a cached decoded frame, the parquet sink and the
    * JDBC sink over a cached transformed frame. Medians of 3.
    */
  def isolatedLayers(ctx: Ctx, out: Outcome, spark: SparkSession): Unit = {
    val files = inputFiles(ctx)
    def timed(n: Int)(body: Int => Unit): Double =
      Common.median((0 until n).map { i => val t = System.nanoTime(); body(i); Common.secs(t) * 1000 })
    val dirA = ctx.path("watch/a/w1")
    val rowsA = files.filter(f => f.phase == "a" && f.watcher == "w1").map(_.rows).sum
    val readMs = timed(3)(_ => NfdumpCsv.read(spark, dirA).write.format("noop").mode("overwrite").save())
    out.detail("flow.NfdumpCsv.read_ms") = readMs
    out.detail("flow.NfdumpCsv.rows_per_s") = rowsA / (readMs / 1000)
    val decoded = NfdumpCsv.read(spark, dirA).cache()
    decoded.count()
    out.detail("flow.FlowTransform.toNflows_ms") = timed(3)(_ =>
      FlowTransform.toNflows(decoded, "w1").write.format("noop").mode("overwrite").save())
    val nflows = FlowTransform.toNflows(decoded, "w1").cache()
    nflows.count()
    val sinkDirs = (0 until 3).map(i => ctx.path(s"out/layer/parquet$i"))
    out.detail("sinks.PartitionedParquetSink.write_ms") = timed(3)(i =>
      PartitionedParquetSink.write(nflows, "ts", sinkDirs(i)))
    val written = Files.walk(Paths.get(sinkDirs(0))).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    out.detail("sinks.PartitionedParquetSink.files") = written.size
    out.detail("sinks.PartitionedParquetSink.bytes") = written.map(Files.size).sum
    val small = FlowTransform.toNflows(NfdumpCsv.read(spark, ctx.path("watch/b/jdbc")), "jdbc").cache()
    small.count()
    out.detail("sinks.JdbcBatchSink.write_ms") = timed(2) { i =>
      createTable(s"nflows_layer$i")
      JdbcBatchSink.write(small, s"nflows_layer$i", JdbcTrace.wrap(() =>
        java.sql.DriverManager.getConnection(DerbyUrl)))
    }
    Seq(decoded, nflows, small).foreach(_.unpersist(blocking = true))
  }
}
