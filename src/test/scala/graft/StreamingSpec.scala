package graft

import java.nio.file.{Files, Paths}
import graft.flow.{FlowPipeline, FlowSchema}
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** A6/E2/E3: streaming pipeline with checkpoint resume, stateful
  * dedup, stream-static join.
  */
class StreamingSpec extends SparkSpecBase {

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

  test("pipeline ingests watched files exactly once across restarts") {
    val watch = tmpDir("watch"); val out = tmpDir("out"); val ckpt = tmpDir("ckpt")
    flowFile(watch, "nfcapd.1.csv", "2024-05-01 10:00:00", "192.168.0.1")
    flowFile(watch, "nfcapd.2.csv", "2024-05-02 10:00:00", "192.168.0.2")

    val q1 = FlowPipeline.start(spark, watch, out, ckpt, "site-a",
      availableNowCatchup = true)
    q1.awaitTermination()
    val first = spark.read.parquet(out)
    assert(first.count() === 2)
    assert(first.columns.contains("date")) // day-partitioned layout
    assert(first.select("flowsrc").distinct().collect().map(_.getString(0)).toSeq === Seq("site-a"))

    // land a third file, resume from the same checkpoint: only the new
    // file is processed (no duplicates of the first two)
    flowFile(watch, "nfcapd.3.csv", "2024-05-03 10:00:00", "192.168.0.3")
    val q2 = FlowPipeline.start(spark, watch, out, ckpt, "site-a",
      availableNowCatchup = true)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() === 3)
  }

  test("stateful dedup keeps only each key's first arrival") {
    import spark.implicits._
    val src = tmpDir("dedupsrc") + "/data"
    val evts = Seq(
      StreamingOps.Evt(1, 100, "click"), StreamingOps.Evt(2, 100, "view"),
      StreamingOps.Evt(3, 200, "click"), StreamingOps.Evt(4, 100, "click"),
      StreamingOps.Evt(5, 300, "buy"))
    evts.toDS().repartition(1).write.parquet(src)

    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingOps.Evt]].schema)
      .parquet(src).as[StreamingOps.Evt]
    val q = StreamingOps.firstPerKey(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup_out").as[StreamingOps.Evt].collect()
    assert(got.map(_.user_id).sorted.toSeq === Seq(100L, 200L, 300L))
  }

  test("transformWithState accumulates RocksDB-backed state across restarts") {
    import spark.implicits._
    val src = tmpDir("twssrc") + "/data"; val ckpt = tmpDir("twsckpt")
    // transformWithState requires the RocksDB provider — also the
    // 100 TB state backend (incremental checkpoints, off-heap state)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      Seq(StreamingOps.Evt(1, 100, "a"), StreamingOps.Evt(2, 100, "b"),
        StreamingOps.Evt(3, 200, "c"))
        .toDS().repartition(1).write.parquet(src)
      // foreachBatch sink: the memory sink refuses checkpoint recovery,
      // and surviving a restart is exactly what this test pins down
      def run(): Seq[StreamingOps.UserTotal] = {
        val buf = new java.util.concurrent.ConcurrentLinkedQueue[StreamingOps.UserTotal]()
        val stream = spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[StreamingOps.Evt]].schema)
          .parquet(src).as[StreamingOps.Evt]
        val q = StreamingOps.runningCounts(stream)
          .writeStream.outputMode("append")
          .foreachBatch((ds: org.apache.spark.sql.Dataset[StreamingOps.UserTotal], _: Long) =>
            ds.collect().foreach(buf.add))
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        import scala.jdk.CollectionConverters._
        buf.asScala.toSeq
      }
      val first = run().map(t => t.user_id -> ((t.batch_n, t.total_n))).toMap
      assert(first === Map(100L -> ((2L, 2L)), 200L -> ((1L, 1L))))

      // new arrivals + resume from the same checkpoint: ValueState
      // survives the restart and the totals continue, not restart
      Seq(StreamingOps.Evt(4, 100, "d"), StreamingOps.Evt(5, 200, "e"),
        StreamingOps.Evt(6, 200, "f"))
        .toDS().repartition(1).write.mode("append").parquet(src)
      val cont = run()
      assert(cont.groupBy(_.user_id).view.mapValues(_.map(_.total_n).max).toMap
        === Map(100L -> 3L, 200L -> 3L))
      assert(cont.groupBy(_.user_id).view.mapValues(_.map(_.batch_n).sum).toMap
        === Map(100L -> 1L, 200L -> 2L))
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stream-stream interval join matches within the lookback window") {
    import spark.implicits._
    val src = tmpDir("ssj") + "/data"
    Seq(
      (1L, 100L, "2024-01-01 10:00:00", "signup"),
      (2L, 100L, "2024-01-01 11:00:00", "click"),  // 1h after signup → match
      (3L, 100L, "2024-01-01 13:00:00", "click"),  // 3h after → outside 2h window
      (4L, 200L, "2024-01-01 10:30:00", "click"),  // no signup for user → no row
      (5L, 300L, "2024-01-01 09:00:00", "signup"),
      (6L, 300L, "2024-01-01 09:30:00", "click"))  // match
      .toDF("event_id", "user_id", "ts_s", "event_type")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
      .repartition(1).write.parquet(src)
    val schema = "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP"
    def stream(tpe: String) = spark.readStream.schema(schema).parquet(src)
      .where($"event_type" === tpe)
    val q = StreamingOps.streamStreamJoin(stream("click"), stream("signup"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ssj_out").orderBy("click_id")
      .collect().map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("signup_id")))
    assert(got.toSeq === Seq((2L, 1L), (6L, 5L)))
  }

  test("graded interval join equals the batch join, whole-file and " +
      "time-ordered batch splits") {
    import spark.implicits._
    // view→purchase pairs: in-window match, pre-view purchase (no),
    // beyond-2h purchase (no), cross-user (no), cross-BATCH match
    // (view in file 1, purchase in file 2), and a view matching TWO
    // purchases
    val b1 = Seq(
      (1L, 10L, "2024-01-01 10:00:00", "view", 1.0),
      (2L, 10L, "2024-01-01 09:30:00", "purchase", 5.0),  // before the view
      (3L, 10L, "2024-01-01 11:00:00", "purchase", 7.0),  // match (1h after)
      (4L, 20L, "2024-01-01 10:10:00", "view", 1.0),
      (5L, 30L, "2024-01-01 10:20:00", "purchase", 9.0))  // other user
    val b2 = Seq(
      (6L, 10L, "2024-01-01 11:50:00", "purchase", 3.0),  // 2nd match, file 2
      (7L, 20L, "2024-01-01 12:30:00", "purchase", 4.0),  // 2h20m after → no
      (8L, 40L, "2024-01-01 13:00:00", "view", 1.0),
      (9L, 40L, "2024-01-01 13:00:00", "purchase", 2.0))  // same instant → match
    val src = tmpDir("ivj") + "/data"
    Seq(b1, b2).foreach(_.toDF("event_id", "user_id", "ts_s", "event_type", "value")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
      .repartition(1).write.mode("append").parquet(src))
    val schema = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP"
    def run(filesPerTrigger: Option[Int], name: String) = {
      val rd = spark.readStream.schema(schema)
      val ev = filesPerTrigger.fold(rd)(n =>
        rd.option("maxFilesPerTrigger", n)).parquet(src)
      val q = StreamingOps.intervalJoinStream(ev)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).orderBy("view_id", "purchase_id").collect()
        .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("purchase_id"),
          r.getAs[Double]("purchase_value"))).toSeq
    }
    val expected = Seq((1L, 3L, 7.0), (1L, 6L, 3.0), (8L, 9L, 2.0))
    assert(run(None, "ivj_whole") === expected)
    // time-ordered splits: the cross-batch (view b1, purchase b2) pair
    // must still emit — the view is buffered until the watermark
    // passes view_ts + 2h, which it never does here
    assert(run(Some(1), "ivj_split") === expected)
  }

  test("streaming decontamination is deterministic under any micro-batch split") {
    import spark.implicits._
    // 4 docs across 4 files, drained one file per trigger — the
    // stateless positional join must emit exactly the batch result
    // regardless of how arrivals batch up
    val src = tmpDir("deconsrc") + "/docs"
    val phrase = "the quick brown fox jumps over lazy dogs"
    val docs = Seq(
      (1L, s"prefix words $phrase suffix words here"),
      (2L, "completely unrelated content with no overlap at all whatsoever"),
      (3L, s"$phrase leading position match"),
      (4L, s"double $phrase then again $phrase end"))
    docs.zipWithIndex.foreach { case ((id, text), i) =>
      Seq((id, text)).toDF("doc_id", "text")
        .repartition(1).write.parquet(s"$src/part$i")
    }
    val phrases = Seq((100L, phrase)).toDF("bench_id", "phrase")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(src + "/part*")
      .select($"doc_id", split($"text", " ").as("toks"))
      .where(size($"toks") >= 8)
      .select($"doc_id", $"toks",
        explode(expr("sequence(1, size(toks) - 7)")).as("p"))
      .select($"doc_id", $"p".cast("long").as("p"),
        concat_ws(" ", expr("slice(toks, p, 8)")).as("phrase"))
      .join(broadcast(phrases), "phrase")
      .select($"doc_id", $"bench_id", $"p")
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("decon_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("decon_out").orderBy("doc_id", "p")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // doc 1: phrase at token 3; doc 3: token 1; doc 4: tokens 2 and 12
    assert(got.toSeq === Seq((1L, 3L), (3L, 1L), (4L, 2L), (4L, 12L)))
  }

  test("rate limiter: buckets drain, refill per batch, and cap accumulation") {
    import spark.implicits._
    import graft.streaming.StreamingOps.Evt
    // capacity 3, refill 2. Key 1 floods every batch; key 2 is quiet
    // until batch 3 — its bucket must refill only up to capacity.
    val src = tmpDir("ratesrc") + "/evts"
    val batches = Seq(
      (1 to 5).map(i => Evt(i.toLong, 1L, "x")),
      (6 to 10).map(i => Evt(i.toLong, 1L, "x")),
      (11 to 15).map(i => Evt(i.toLong, 1L, "x")) ++
        (21 to 25).map(i => Evt(i.toLong, 2L, "x")))
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF().repartition(1).write.parquet(s"$src/part$i")
    }
    val stream = spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(src + "/part*").as[Evt]
    val q = graft.streaming.StreamingOps.rateLimit(stream, 3, 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("rate_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("rate_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // key 1: batch1 admits 3 (bucket starts full), then 2 per batch
    assert(got(1L) == Seq(1L, 2L, 3L, 6L, 7L, 11L, 12L), s"got ${got(1L)}")
    // key 2: two idle batches may NOT overfill the bucket past capacity
    assert(got(2L) == Seq(21L, 22L, 23L), s"got ${got(2L)}")
  }

  test("streaming CDC state survives micro-batch splits: shadow, resurrect, stale") {
    import spark.implicits._
    // one change per file, one file per trigger — state must carry the
    // latest-wins decision ACROSS batches: a later-batch delete shadows
    // an earlier upsert, a later upsert resurrects a deleted key, and a
    // LATE-ARRIVING stale change (older ts in a newer batch) must lose
    val src = tmpDir("cdcsrc") + "/chg"
    val changes = Seq(
      // (key, ts, event_id, value, is_delete)
      Seq((1L, 10L, 100L, 1.0, false), (2L, 10L, 101L, 5.0, false)),
      Seq((1L, 20L, 102L, 0.0, true), (2L, 30L, 103L, 6.0, false),
        (4L, 10L, 104L, 9.0, false)),
      Seq((1L, 30L, 105L, 3.0, false), // resurrect after delete
        (2L, 5L, 106L, 99.0, false),   // stale: older ts arrives late
        (4L, 40L, 107L, 0.0, true)))   // final change is a delete
    changes.zipWithIndex.foreach { case (batch, i) =>
      batch.toDF("k", "ts", "event_id", "value", "is_delete")
        .repartition(1).write.parquet(s"$src/part$i")
    }
    val q = spark.readStream
      .schema("k LONG, ts LONG, event_id LONG, value DOUBLE, is_delete BOOLEAN")
      .option("maxFilesPerTrigger", "1")
      .parquet(src + "/part*")
      .groupBy($"k")
      .agg(max(struct($"ts", $"event_id", $"value", $"is_delete")).as("last"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("cdc_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("cdc_out")
      .where(!$"last.is_delete")
      .select($"k", $"last.value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got === Map(1L -> 3.0, 2L -> 6.0)) // 4 deleted, stale 99.0 lost
  }

  test("streaming session windows merge sessions ACROSS micro-batches") {
    import spark.implicits._
    // one user's events 20 min apart (one session), split so the
    // session's halves arrive in different micro-batches; a late
    // second user closes the watermark. The state store must merge
    // the cross-batch halves into ONE session — the property a
    // single-batch drain can't distinguish from batch aggregation.
    val src = tmpDir("sesssrc") + "/ev"
    def ts(min: Long) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(min))
    val batch1 = Seq((1L, ts(0)), (1L, ts(20)))
    val batch2 = Seq((1L, ts(40)), (2L, ts(600))) // user 2 advances the watermark
    Seq(batch1, batch2).zipWithIndex.foreach { case (b, i) =>
      b.toDF("user_id", "ts").repartition(1).write.parquet(s"$src/part$i")
    }
    val q = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(src + "/part*")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "60 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"sw.start".as("s"), $"sw.end".as("e"), $"n")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sess_out").orderBy("user_id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    // user 1's three events (0/20/40 min, gaps < 60) = ONE session of
    // 3 despite arriving in two batches; user 2's session stays open
    // past the final watermark and must NOT emit
    assert(got.toSeq === Seq((1L, 3L)),
      s"cross-batch session merge broken: ${got.toSeq}")
  }

  test("biflow stitching merges a conversation's legs ACROSS micro-batches") {
    import spark.implicits._
    // two events that map to the IDENTICAL directed 5-tuple: the
    // synthetic addresses embed event_id bits, and 122_880_000 =
    // lcm(256·256, 60000)·k, so e and e + 122_880_000 share
    // sa/da/sp/dp (and user/k ⇒ da). k=0 ⇒ the exporter emits BOTH
    // legs per event. Arriving in different micro-batches 5 min
    // apart, the session state must merge them into ONE conversation
    // with fwd=2/rev=2 — the property a single-batch drain can't
    // distinguish from batch aggregation. A far-future third event
    // advances the watermark past the conversation's close.
    val src = tmpDir("biflowsrc") + "/ev"
    def ts(min: Long) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 3, 1, 0, 0).plusMinutes(min))
    val schema = "event_id LONG, user_id LONG, event_type STRING, " +
      "value DOUBLE, props STRING, ts TIMESTAMP"
    val batch1 = Seq((1000L, 7L, "view", 2.5, """{"k": 0}""", ts(0)))
    val batch2 = Seq(
      (1000L + 122880000L, 7L, "view", 2.5, """{"k": 0}""", ts(5)),
      (555L, 99L, "view", 1.0, """{"k": 5}""", ts(600)))
    Seq(batch1, batch2).zipWithIndex.foreach { case (b, i) =>
      b.toDF("event_id", "user_id", "event_type", "value", "props", "ts")
        .repartition(1).write.parquet(s"$src/part$i")
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src + "/part*")
    val q = graft.streaming.StreamingOps.biflowStitchStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("biflow_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("biflow_out").collect().map(r =>
      (r.getString(0), r.getLong(5), r.getLong(6), r.getLong(8), r.getLong(9)))
    // one emitted conversation: client = the request side (earlier
    // first record), 2 request legs / 2 reply legs, bytes
    // 2·round(2.5·100) forward and 2·round(2.5·250) reverse; the
    // watermark-advancer's own conversation stays open and must not emit
    assert(got.toSeq === Seq(("10.7.3.232", 2L, 500L, 2L, 1250L)),
      s"cross-batch biflow merge broken: ${got.toSeq}")
  }

  test("stream-static join enriches without shuffling the stream side") {
    import spark.implicits._
    val src = tmpDir("enrichsrc") + "/data"
    Seq((1L, 100L), (2L, 200L), (3L, 999L)).toDF("event_id", "user_id")
      .repartition(1).write.parquet(src)
    val dim = Seq((100L, "gold"), (200L, "silver")).toDF("user_id", "segment")

    val stream = spark.readStream
      .schema("event_id LONG, user_id LONG").parquet(src)
    val q = StreamingOps.enrich(stream, dim, "user_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("enrich_out").orderBy("event_id")
      .collect().map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[String]("segment")).getOrElse("-")))
    assert(got.toSeq === Seq((1L, "gold"), (2L, "silver"), (3L, "-")))
  }

  test("decayed counter is batch-split invariant (incl. late and idle keys)") {
    import spark.implicits._
    // three files = three micro-batches under maxFilesPerTrigger=1.
    // Shapes under test: "hot" loud now; "was_loud" all mass old
    // (extra halvings at read-out); "late" delivers an OLD hour in a
    // LATER batch (must fold into the right ring slot, not age-0);
    // "ancient" outside the window entirely (decayed 0, still listed).
    val h0 = 500000L // arbitrary epoch-hour base
    val batches = Seq(
      Seq(("hot", h0, 100L), ("was_loud", h0, 800L), ("ancient", h0 - 45, 999L)),
      Seq(("hot", h0 + 5, 200L), ("was_loud", h0 + 1, 50L)),
      Seq(("hot", h0 + 6, 400L), ("late", h0 + 2, 64L), ("hot", h0 + 1, 32L)))
    val src = tmpDir("decaysrc") + "/data"
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("site", "h", "ibyt").repartition(1)
        .write.mode("append").parquet(src)
    }
    def run(filesPerTrigger: Option[Int]) = {
      val rd = spark.readStream.schema("site STRING, h LONG, ibyt LONG")
      val stream = filesPerTrigger.fold(rd)(n =>
        rd.option("maxFilesPerTrigger", n)).parquet(src)
        .as[StreamingOps.FlowMass]
      StreamingOps.topkDecayedFrom(stream)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    }
    val split = run(Some(1))
    val whole = run(None)
    assert(split === whole, "decayed state differs across batch splits")
    val m = split.map(r => r._1 -> r._4).toMap
    // read-out semantics: hot's age-0 mass at full 2^20 weight;
    // was_loud idle 6h → its h0+1 mass carries 5 halvings beyond its
    // own ring age; ancient is out of window
    assert(m("ancient") === 0L)
    val sh = 1L << StreamingOps.DecayQShift
    assert(m("hot") === 400L * sh + 200L * (sh >> 1) + 32L * (sh >> 5) +
      100L * (sh >> 6))
    assert(m("was_loud") === 50L * (sh >> 5) + 800L * (sh >> 6))
    assert(m("late") === 64L * (sh >> 4))
  }

  test("streaming Holt state is batch-split invariant and matches a sequential replay") {
    import spark.implicits._
    def run(src: String, filesPerTrigger: Option[Int]) = {
      val rd = spark.readStream.schema("flowsrc STRING, h LONG, cents LONG")
      val stream = filesPerTrigger.fold(rd)(n =>
        rd.option("maxFilesPerTrigger", n)).parquet(src)
        .as[StreamingOps.FlowCents]
      StreamingOps.holtForecastFrom(stream)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    }
    // the from-scratch sequential recursion, the same parse tree as
    // the processor / batch HOF / recursive-CTE oracle
    def replay(rows: Seq[(String, Long, Long)]) =
      rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, rs) =>
        val hourly = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
          .toSeq.sortBy(_._1)
        var l = 0.0; var b = 0.0; var n = 0L
        hourly.foreach { case (_, cents) =>
          val x = cents.toDouble / 100.0
          if (n == 0L) { l = x; b = 0.0; n = 1L }
          else {
            val ln = 0.5 * x + 0.5 * (l + b)
            b = 0.25 * (ln - l) + 0.75 * b
            l = ln; n += 1L
          }
        }
        def r6(v: Double) = BigDecimal(v)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (k, n, r6(l), r6(b), r6(l + b), r6(l + 3.0 * b))
      }
    val h0 = 800000L
    // Part 1 — split invariance: hours stay within one ring span
    // (state is then order-free), with a GAP hour, a LATE old row in
    // the last batch, and a single-hour sparse key.
    val b1 = (1 to 10).map(j => ("A", h0 + j, 100L * j + 7L)) ++
      Seq(("B", h0 + 3, 250L))
    val b2 = (12 to 18).map(j => ("A", h0 + j, 55L * j))
    val b3 = Seq(("A", h0 + 20, 999L), ("A", h0 + 2, 1234L)) // late old hour
    val batches = Seq(b1, b2, b3)
    val src = tmpDir("holtsrc") + "/data"
    batches.foreach(_.toDF("flowsrc", "h", "cents").repartition(1)
      .write.mode("append").parquet(src))
    val split = run(src, Some(1))
    val whole = run(src, None)
    assert(split === whole, "Holt state differs across batch splits")
    assert(split === replay(batches.flatten),
      "Holt state differs from the sequential replay")
    // Part 2 — the CLOSE path: a 40-hour span (single ordered file)
    // forces slots off the 24-slot ring, folding them incrementally;
    // the final state must still equal the from-scratch recursion.
    val wide = (1 to 40).filterNot(j => j % 7 == 0)
      .map(j => ("W", h0 + j, 31L * j + (j % 5) * 13L))
    val src2 = tmpDir("holtsrc2") + "/data"
    wide.toDF("flowsrc", "h", "cents").repartition(1)
      .coalesce(1).write.mode("append").parquet(src2)
    val closed = run(src2, None)
    assert(closed === replay(wide),
      "incremental closure diverged from the sequential recursion")
    assert(closed.head._2 === wide.map(_._2).distinct.size.toLong)
    // Part 3 — disorder tolerance: the SAME >ring span arriving
    // out of time order within one batch (Spark guarantees no row
    // order after the groupByKey shuffle). Without the per-batch
    // sort, arrival order would close ring slots early and silently
    // drop rows > ring hours older than the batch's max hour.
    val scrambled = {
      val arr = wide.toArray
      val rnd = new scala.util.Random(42)
      for (i <- arr.indices.reverse.dropRight(1)) {
        val j = rnd.nextInt(i + 1)
        val t = arr(i); arr(i) = arr(j); arr(j) = t
      }
      arr.toSeq
    }
    assert(scrambled !== wide) // the shuffle actually moved rows
    val src3 = tmpDir("holtsrc3") + "/data"
    scrambled.toDF("flowsrc", "h", "cents").repartition(1)
      .coalesce(1).write.mode("append").parquet(src3)
    val disordered = run(src3, None)
    assert(disordered === replay(wide),
      "out-of-order arrival within a batch diverged from the replay")
  }

  test("streaming EWMA ring is batch-split invariant and matches a from-scratch replay") {
    import spark.implicits._
    val h0 = 600000L
    // key A: 15 present baseline hours (≥ the 12-bucket gate), one
    // GAP hour, a LATE row for an old hour in the last batch; key B:
    // too sparse — must be filtered by the n_base gate.
    val rows = (1 to 10).map(j => ("A", h0 + j, 10L * j)) ++
      Seq(("A", h0 + 12, 77L), ("B", h0 + 3, 5L))
    val rows2 = (13 to 16).map(j => ("A", h0 + j, 7L * j)) ++ Seq(("B", h0 + 9, 5L))
    val rows3 = Seq(("A", h0 + 17, 123L), ("A", h0 + 2, 1000L)) // late old hour
    val batches = Seq(rows, rows2, rows3)
    val src = tmpDir("ewmasrc") + "/data"
    batches.foreach { b =>
      b.toDF("pr", "h", "ibyt").repartition(1)
        .write.mode("append").parquet(src)
    }
    def run(filesPerTrigger: Option[Int]) = {
      val rd = spark.readStream.schema("pr STRING, h LONG, ibyt LONG")
      val stream = filesPerTrigger.fold(rd)(n =>
        rd.option("maxFilesPerTrigger", n)).parquet(src)
        .as[StreamingOps.ProtoMass]
      StreamingOps.ewmaForecastFrom(stream)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
    }
    val split = run(Some(1))
    val whole = run(None)
    assert(split === whole, "EWMA ring differs across batch splits")
    // from-scratch replay: hourly sums for A, lags of hour hmax+1,
    // present = vol > 0, weights in the same left-to-right order
    val all = batches.flatten.filter(_._1 == "A")
    val hourly = all.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val hmax = hourly.keys.max
    val wts = graft.flow.FlowAnalytics.EwmaWeights
    var num = 0.0; var den = 0.0; var nb = 0L
    (1 to graft.flow.FlowAnalytics.EwmaLags).foreach { j =>
      val v = hourly.getOrElse(hmax + 1 - j, 0L)
      num += (if (v > 0) wts(j - 1) * v.toDouble else 0.0)
      den += (if (v > 0) wts(j - 1) else 0.0)
      if (v > 0) nb += 1
    }
    val expect = BigDecimal(num / den)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(split.map(_._1) === Seq("A"), "sparse key B must not pass the n_base gate")
    assert(split.head === (("A", hmax + 1, nb, expect)))
  }

  test("silence watch max-merge is batch-split invariant and thresholds correctly") {
    import spark.implicits._
    val h0 = 700000L
    // "live" reports up to the global max; "dark" stops 30h before
    // (reported); "edge" stops exactly 24h before (reported — the
    // >= boundary); "recent" stops 23h before (not reported). A late
    // out-of-order row for dark must NOT advance its max.
    val batches = Seq(
      Seq(("live", h0), ("dark", h0 + 10), ("edge", h0 + 16), ("recent", h0 + 17)),
      Seq(("live", h0 + 20), ("dark", h0 + 5)), // late old row for dark
      Seq(("live", h0 + 40)))
    val src = tmpDir("silsrc") + "/data"
    batches.foreach(_.toDF("site", "h").repartition(1)
      .write.mode("append").parquet(src))
    def run(filesPerTrigger: Option[Int]) = {
      val rd = spark.readStream.schema("site STRING, h LONG")
      val stream = filesPerTrigger.fold(rd)(n =>
        rd.option("maxFilesPerTrigger", n)).parquet(src)
        .as[StreamingOps.SiteSeen]
      StreamingOps.silenceWatchFrom(stream)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    }
    val split = run(Some(1))
    val whole = run(None)
    assert(split === whole, "silence state differs across batch splits")
    assert(split.map(_._1) === Seq("dark", "edge"),
      s"expected exactly dark+edge reported, got $split")
    val m = split.map(r => r._1 -> r._4).toMap
    assert(m("dark") === 30L, "late old row must not advance dark's max")
    assert(m("edge") === 24L, "the >= threshold boundary must report")
  }

  test("timer-closed sessions are batch-split invariant and match the gap-merge rule") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(min: Long) = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(min))
      // user 1: one session split ACROSS batches (0/20 then 40) plus a
      // second session at 300; user 2: one session; user 3's event at
      // 800 only advances the final watermark (wm 790) so everything
      // else closes — its own session (end 860) must stay unemitted
      val batches = Seq(
        Seq((1L, ts(0), 1.25), (1L, ts(20), 2.0), (2L, ts(10), 0.5)),
        Seq((1L, ts(40), 0.25), (1L, ts(300), 4.0)),
        Seq((3L, ts(800), 1.0)))
      val src = tmpDir("sesstimersrc") + "/data"
      // the file source orders by modification time and fast appends
      // can TIE — and THIS property (unlike max-merge invariance) needs
      // watermark-respecting arrival order, so pin each batch's mtime
      val baseMs = System.currentTimeMillis() - 3600000L
      batches.zipWithIndex.foreach { case (b, i) =>
        b.toDF("user_id", "ts", "value").repartition(1)
          .write.mode("append").parquet(src)
        // freshly written parts have now-ish mtimes; stamped ones sit
        // an hour back — stamp the fresh ones into this batch's slot
        java.nio.file.Files.list(java.nio.file.Paths.get(src)).iterator()
          .forEachRemaining { p =>
            if (p.getFileName.toString.endsWith(".parquet") &&
                java.nio.file.Files.getLastModifiedTime(p).toMillis >
                  baseMs + batches.size * 60000L)
              java.nio.file.Files.setLastModifiedTime(p,
                java.nio.file.attribute.FileTime.fromMillis(
                  baseMs + i * 60000L))
          }
      }
      def run(filesPerTrigger: Option[Int], name: String) = {
        val rd = spark.readStream.schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
        val ev = filesPerTrigger.fold(rd)(n =>
          rd.option("maxFilesPerTrigger", n)).parquet(src)
          .withWatermark("ts", "10 minutes")
        val q = StreamingOps.sessionTimerStream(ev)
          .writeStream.outputMode("append").format("memory")
          .queryName(name).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        spark.table(name).orderBy("user_id", "start_us")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSeq
      }
      val whole = run(None, "sesstimer_whole")
      val split = run(Some(1), "sesstimer_split")
      assert(whole === split, "timer-closed sessions differ across batch splits")
      def us(min: Long) = ts(min).getTime * 1000L
      assert(whole === Seq(
        (1L, us(0), us(40 + 60), 3L, 350L),    // cross-batch merge, Σ=3.50
        (1L, us(300), us(300 + 60), 1L, 400L), // second session, gap ≥ 60min
        (2L, us(10), us(10 + 60), 1L, 50L)),   // user 3 (end 860 > wm 790) unemitted
        s"unexpected closed-session set: $whole")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("dropDuplicatesWithinWatermark re-admits a key after its state expires") {
    import spark.implicits._
    def ts(min: Long) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(min))
    // batch 1: user 1 twice (duplicate within the watermark window →
    // one emission); batch 2 advances the watermark far past user 1's
    // expiry (ts + 10 min); batch 3: user 1 again — its seen-state is
    // GONE, so it re-emits. That expiry is the operator's 100 TB
    // contract: state is bounded by the watermark horizon, and the
    // price is re-admission of duplicates older than the horizon.
    // arrival ORDER matters here (unlike the split-invariance tests),
    // so each batch lands via its own AvailableNow drain against one
    // checkpoint — the commit log serializes them; a single multi-file
    // drain could reorder same-mtime files
    val src = tmpDir("ddwsrc") + "/data"; val ckpt = tmpDir("ddwckpt")
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, java.sql.Timestamp)]()
    def land(rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      rows.toDF("user_id", "ts").repartition(1)
        .write.mode("append").parquet(src)
      val q = spark.readStream.schema("user_id LONG, ts TIMESTAMP")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("user_id")
        .writeStream.outputMode("append")
        .foreachBatch((ds: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) => ds.collect()
          .foreach(r => buf.add((r.getLong(0), r.getTimestamp(1)))))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    land(Seq((1L, ts(0)), (1L, ts(1))))
    land(Seq((2L, ts(600))))
    land(Seq((1L, ts(620))))
    import scala.jdk.CollectionConverters._
    val got = buf.asScala.toSeq.sortBy(_._2.getTime)
    assert(got === Seq((1L, ts(0)), (2L, ts(600)), (1L, ts(620))),
      s"expected in-window dedup then post-expiry re-admission, got $got")
  }
}
