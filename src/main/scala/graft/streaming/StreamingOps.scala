package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming operators (SURVEY §2 E1–E3).
  *
  * E1 runs as a driver-verified query: the events parquet replayed
  * through a file-source stream → watermark → tumbling-window agg →
  * memory sink, drained synchronously with AvailableNow. In append
  * mode only windows closed w.r.t. the final watermark
  * (max(ts) − 10 min) are emitted — exactly what the DuckDB oracle
  * filter reproduces. E2/E3 (custom-state dedup, stream-static join)
  * are spec-level (see StreamingSpec) since their outputs depend on
  * in-batch arrival order, which a SQL oracle can't pin down.
  *
  * Every graded stream drains through [[drain]], which releases its
  * memory sink: the returned frame keeps the drained rows alive only
  * while the caller holds it.
  */
object StreamingOps {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Last completed micro-batch physical plan per graded streaming
    * query — captured by [[drain]] at stream termination. A streaming
    * Dataset has no batch plan to `explain`; the executed micro-batch
    * plan IS the planner artifact worth pinning (state store
    * placement, the stream-static join's static-leaf shape, sink
    * mode), so PlanSnapshotSpec can cover the streaming surface like
    * the batch one. Holds plan strings only, one per query key, so it
    * does not grow with the number of runs.
    */
  private[graft] val lastBatchPlans =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Drains `stream` to completion through a memory sink and returns
    * the sink's rows as a resolved frame.
    *
    * - The sink is named `graft_stream_<key letters>_<n>`.
    * - A plan holding a `transformWithState` node starts on the
    *   RocksDB state store provider, which that operator requires;
    *   every other plan keeps the session's provider. The provider is
    *   read once, when `start()` clones the session for the stream, so
    *   the override is lifted as soon as the query has started.
    * - After the AvailableNow drain, the last micro-batch's plan is
    *   recorded in [[lastBatchPlans]] under `key`.
    * - The sink's temp view is dropped before returning, from the
    *   session and from the stream's clone of it, so no drained result
    *   outlives the frames that reference it.
    */
  private def drain(stream: org.apache.spark.sql.Dataset[_], mode: String,
      key: String): DataFrame = {
    val spark = stream.sparkSession
    val name = s"graft_stream_${key.stripPrefix("stream_").filter(_.isLetter)}" +
      s"_${counter.incrementAndGet()}"
    val writer = stream.writeStream.outputMode(mode).format("memory")
      .queryName(name).trigger(Trigger.AvailableNow())
    val needsRocksDb = stream.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TransformWithState])
    val q =
      if (!needsRocksDb) writer.start()
      else withConf(spark, "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(
        writer.start())
    try {
      q.awaitTermination()
      q match {
        case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
          Option(w.streamingQuery.lastExecution).foreach { le =>
            lastBatchPlans(key) = le.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          }
        case _ => ()
      }
      spark.table(name)
    } finally {
      // the stream's own session copies the view when its first batch
      // resolves, and Spark's broadcast threads keep that session as
      // their inherited active session: its copy would pin the sink
      org.apache.spark.sql.graftbridge.Bridge.streamSession(q)
        .foreach(_.sessionState.catalog.dropTempView(name))
      spark.catalog.dropTempView(name)
    }
  }

  /** Runs `f` with session conf `key` set to `value`, then restores the
    * key: its previous value, or unset if it had none.
    */
  private def withConf[T](spark: SparkSession, key: String, value: String)(
      f: => T): T = {
    val prev = spark.conf.getAll.get(key) // explicitly set values only
    spark.conf.set(key, value)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Stage a single-file table behind a symlink spool dir (the shape
    * the reference's watcher consumes). Re-links unconditionally:
    * Files.exists follows symlinks, so a dangling link from a prior
    * run would read as absent yet make createSymbolicLink throw
    * FileAlreadyExists forever after.
    */
  private def spool(spark: SparkSession, dir: String, table: String): String = {
    val spoolDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_stream_${table}_${Integer.toHexString(dir.hashCode)}")
    java.nio.file.Files.createDirectories(spoolDir)
    val link = spoolDir.resolve(s"$table.parquet")
    java.nio.file.Files.deleteIfExists(link)
    java.nio.file.Files.createSymbolicLink(
      link, java.nio.file.Paths.get(dir, s"$table.parquet"))
    spoolDir.toString
  }


  /** The events file stream with `ts` normalized to µs TIMESTAMP
    * (LTZ; session TZ is UTC so wall clock matches the NTZ oracle)
    * across both testdata generations. The read schema is sniffed from
    * a batch read of the same file — file-source streams require an
    * explicit schema, and a stale hardcoded one against the other
    * physical type yields NULL `ts` (silent 0-row output), not an
    * error.
    */
  /** Cache of the sniffed events schema, keyed by the file's
    * (path, length, mtime) identity — the batch footer read costs a
    * driver roundtrip + a tiny job per streaming query, identical for
    * every harness over the same corpus file; paying it once shaves
    * fixed setup off all ~20 of them, and the identity key (not a
    * session key, which would pin stopped sessions; not a bare path,
    * which would serve a regenerated corpus stale) keeps it correct.
    */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[String, (Long, Long, StructType)]

  private def eventsSchema(spark: SparkSession, dir: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    schemaCache.get(dir) match {
      case Some((len, mt, s))
        if len == st.getLen && mt == st.getModificationTime => s
      case _ =>
        val s = spark.read.parquet(s"$dir/events.parquet").schema
        schemaCache.put(dir, (st.getLen, st.getModificationTime, s))
        s
    }
  }

  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val sp = spool(spark, dir, "events")
    val schema = eventsSchema(spark, dir)
    val raw = spark.readStream.schema(schema).parquet(sp)
    schema("ts").dataType match {
      case LongType =>
        // same footer check as Tables.events: LongType must actually
        // be TIMESTAMP(NANOS), not an unannotated INT64
        require(graft.Tables.eventsTsIsNanos(spark, dir),
          s"$dir/events.parquet: ts is INT64 but not TIMESTAMP(NANOS)")
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** E1: windowed streaming aggregation with watermark, drained to a
    * memory sink. Returns the emitted (closed) windows.
    */
  def windowAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("win"), $"event_type")
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum($"value").as("sum_value"))
      // watermarks require TIMESTAMP (LTZ); convert back to NTZ at the
      // boundary so the output matches the naive-timestamp oracle
      // (session TZ is UTC → same wall clock).
      .select($"win.start".cast("timestamp_ntz").as("win_start"),
        $"event_type", $"n", $"sum_value")
    drain(stream, "append", "stream_window_agg")
      .orderBy($"win_start", $"event_type")
  }

  /** E1b: complete-mode streaming aggregation — running per-proto
    * totals re-emitted whole every trigger (the live-dashboard shape;
    * deterministic regardless of batch split, so oracle-checkable
    * unlike append-mode custom-state ops). Unbounded state is bounded
    * here by the group-key cardinality, which is what makes
    * complete mode viable: it's for SMALL aggregate tables.
    */
  def runningTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val totals = eventsStream(spark, dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        max($"user_id").as("max_user"),
        graft.Tables.dsum($"value").as("sum_value"))
    drain(totals, "complete", "stream_running_totals").orderBy($"event_type")
  }

  /** E7: streaming sessionization — `session_window(ts, gap)` as a
    * STREAMING aggregation with a watermark (the live twin of batch
    * B7b): sessions merge across micro-batches in the state store and
    * emit in append mode once the watermark passes their end
    * (last event + gap), which is also what bounds state — a session
    * can only grow while its end is above the watermark. The DuckDB
    * oracle reproduces both the gap-merge semantics (lag/cumsum
    * formulation, boundary-exact: diff == gap starts a new session)
    * and the append emission rule (end ≤ max ts − watermark lag).
    */
  def sessionAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sessions = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "60 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        graft.Tables.dsum($"value").as("session_value"))
      .select($"user_id",
        $"sw.start".cast("timestamp_ntz").as("session_start"),
        $"sw.end".cast("timestamp_ntz").as("session_end"),
        $"n_events", $"session_value")
    drain(sessions, "append", "stream_sessions_agg")
      .orderBy($"user_id", $"session_start")
  }

  /** E2 (graded face): streaming stateful dedup —
    * `dropDuplicatesWithinWatermark` keeping each key's FIRST arrival,
    * with state expiry driven by the watermark (a key's seen-flag is
    * dropped once the watermark passes its event time plus the delay,
    * which is what lets the operator run forever: state is bounded by
    * the watermark horizon, not by lifetime key cardinality — the
    * 100 TB contrast with plain `dropDuplicates`, whose state only
    * grows). Key = (user_id, event_type, day): the "first event of
    * its kind per user per day" rate-limit shape (~20% duplicate rate
    * on the events table, so the operator does real work).
    *
    * Determinism contract: the emitted columns ARE the dedup key, so
    * whichever physical row is kept, each emitted row is a key from
    * the input's distinct key set — the D1 oracle shape
    * (`SELECT DISTINCT`). One caveat keeps this from being
    * unconditional: `dropDuplicatesWithinWatermark` EXPIRES a key's
    * seen-state once the watermark passes its event time + delay, so
    * a key arriving again in a LATER micro-batch after expiry
    * re-emits (the re-admission spec proves exactly this). The
    * AvailableNow drain here is a single micro-batch over the spool,
    * where no re-admission can occur — but rather than grade on that
    * batching accident, the drained table is distinct-ed below, so
    * the oracle stays valid under any future batch split while
    * re-admission behavior stays covered by the spec.
    */
  def dedupFirst(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val firsts = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .select($"user_id", $"event_type",
        date_trunc("day", $"ts").as("day"), $"ts")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
      .select($"user_id", $"event_type", $"day".cast("timestamp_ntz").as("day"))
    // distinct over the DRAIN (not the stream): collapses watermark
    // re-admissions a multi-batch drain could emit — a no-op for the
    // single-batch AvailableNow drain; see the contract above
    drain(firsts, "append", "stream_dedup_first")
      .dropDuplicates("user_id", "event_type", "day")
      .orderBy($"user_id", $"event_type", $"day")
  }

  // ------------------------------ E14 graded face: token-bucket gate

  val RateLimitCapacity = 3
  val RateLimitRefill = 2
  val RateLimitWaves = 3

  /** E14 (graded face): per-key token-bucket admission over a PINNED
    * multi-batch replay (`stream_rate_limit`). The [[rateLimit]]
    * operator's admit/drop decisions are a pure function of (batch
    * split, capacity, refill) — admission per batch is the `tokens`
    * smallest event_ids per key, order-independent WITHIN a batch —
    * so once the batch sequence is pinned the whole run is
    * deterministic and the DuckDB oracle can replay the token-bucket
    * fold wave by wave.
    *
    * Pinning: events are split into [[RateLimitWaves]] arrival waves
    * by an md5 hash of event_id (both engines compute the same
    * split), each wave written as one spool file with a strictly
    * ascending stamped mtime, and the file source drains them under
    * `maxFilesPerTrigger = 1` — mtime order IS batch order (the E5b
    * batch-split lesson). The oracle unrolls one
    * (rank, admit, carry-state) round per wave: tokens(w) =
    * min(C, state + R) with absent state = C, admitted = the
    * tokens(w) smallest event_ids, state' = tokens(w) − admitted —
    * including the data-driven refill rule (a key absent from a wave
    * accrues nothing).
    *
    * Scale shape is [[rateLimit]]'s own: one long of state per key,
    * co-partitioned with the key by the state store, bounded
    * capacity-sized admission heaps — the replay harness adds one
    * map-only split pass and nothing else.
    */
  def rateLimitGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.StrFuncs.md5_prefix
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_stream_ratelimit_${Integer.toHexString(dir.hashCode)}")
    // rewrite per call: waves derived from an earlier corpus state
    // must not leak into this drain
    if (java.nio.file.Files.exists(base)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select($"event_id", $"user_id", $"event_type",
        (md5_prefix(concat(lit("rl:"), $"event_id".cast("string")), 7)
          % RateLimitWaves).as("w"))
    val epoch = System.currentTimeMillis() - 60000L
    (0 until RateLimitWaves).foreach { w =>
      val p = s"$base/wave$w"
      ev.where($"w" === w).select($"event_id", $"user_id", $"event_type")
        .coalesce(1).write.mode("overwrite").parquet(p)
      // strictly ascending stamped mtimes: the file source's batch
      // order is its mtime order, so the wave sequence is pinned
      new java.io.File(p).listFiles().foreach(_.setLastModified(epoch + w * 1000L))
    }
    val stream = spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/wave*").as[Evt]
    drain(rateLimit(stream, RateLimitCapacity, RateLimitRefill),
        "append", "stream_rate_limit")
      .select($"user_id", $"event_id")
      .orderBy($"user_id", $"event_id")
  }

  /** E14 oracle: the token-bucket fold unrolled one round per wave —
    * rank within wave, admit up to the key's tokens, carry
    * min-capped state to the next wave (keys absent from a wave keep
    * their state unrefilled).
    */
  val rateLimitGateSql: String = {
    val C = RateLimitCapacity
    val R = RateLimitRefill
    def wave(w: Int): String = {
      val tok =
        if (w == 0) s"CAST($C AS BIGINT) AS tok" // absent state = C; min(C, C+R) = C
        else s"least(CAST($C AS BIGINT), coalesce(s${w - 1}.st, $C) + $R) AS tok"
      val tokFrom =
        if (w == 0) s"(SELECT DISTINCT user_id, n FROM r$w) k"
        else s"(SELECT DISTINCT user_id, n FROM r$w) k LEFT JOIN s${w - 1} USING (user_id)"
      val carry =
        if (w == 0) ""
        else
          s"""
             |  UNION ALL
             |  SELECT user_id, st FROM s${w - 1}
             |  WHERE user_id NOT IN (SELECT user_id FROM r$w)""".stripMargin
      s"""r$w AS (
         |  SELECT user_id, event_id,
         |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS n
         |  FROM e WHERE w = $w),
         |t$w AS (SELECT k.user_id, k.n, $tok FROM $tokFrom),
         |a$w AS (
         |  SELECT r.user_id, r.event_id
         |  FROM r$w r JOIN t$w USING (user_id) WHERE r.rn <= t$w.tok),
         |s$w AS (
         |  SELECT user_id, tok - least(tok, n) AS st FROM t$w$carry)""".stripMargin
    }
    val waves = (0 until RateLimitWaves).map(wave).mkString(",\n")
    val unionAll = (0 until RateLimitWaves)
      .map(w => s"SELECT user_id, event_id FROM a$w").mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT user_id, event_id,
       |    ('0x' || substr(md5('rl:' || event_id), 1, 7))::BIGINT
       |      % $RateLimitWaves AS w
       |  FROM events),
       |$waves
       |SELECT user_id, event_id FROM (
       |  $unionAll)
       |ORDER BY user_id, event_id""".stripMargin
  }

  /** E8: streaming sketch top-K — the SpaceSaving aggregate running as
    * a complete-mode streaming aggregation (the live "top protocols
    * right now" dashboard): per-micro-batch partial sketches merge
    * into the state-store sketch, and the full ranked table re-emits
    * each trigger. This is the payoff of making every sketch a
    * mergeable TypedImperativeAggregate — batch, windowed (B11c), and
    * streaming are the SAME aggregate. Graded exact in the
    * no-eviction regime (capacity 16 ≥ 5 protocols), where the merged
    * sketch is arrival-order-independent.
    */
  def topKApprox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sketch = eventsStream(spark, dir)
      .agg(graft.functions.SpaceSavingAgg.space_saving(
        upper($"event_type"), 16).as("tk"))
    drain(sketch, "complete", "stream_topk")
      .select(posexplode($"tk").as(Seq("pos", "e")))
      .select(($"pos" + 1).cast("long").as("rnk"),
        $"e.key".as("proto"), $"e.est")
      .orderBy($"rnk")
  }

  case class Evt(event_id: Long, user_id: Long, event_type: String)

  /** E2: stateful streaming dedup — keep only each key's first-ever
    * arrival across micro-batches via explicit
    * `flatMapGroupsWithState` state (a seen-flag per key). The
    * building block behind `dropDuplicates` on an unbounded stream,
    * exposed so callers can swap the state payload (e.g. TTL'd seen
    * sets with `GroupStateTimeout.EventTimeTimeout` at 100 TB, where
    * unbounded per-key state must expire).
    */
  def firstPerKey(events: org.apache.spark.sql.Dataset[Evt]):
      org.apache.spark.sql.Dataset[Evt] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[Evt], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); it.take(1) })
  }

  /** E14: per-key streaming rate limiter — a token bucket in keyed
    * state. Refill semantics are DATA-DRIVEN: `flatMapGroupsWithState`
    * with `NoTimeout` only invokes keys that have rows in the batch,
    * so a bucket refills by `refillPerBatch` per micro-batch IN WHICH
    * THE KEY HAS DATA — an idle key accrues no credit and resumes
    * with (saved tokens + one refill), not full capacity. That is the
    * strict (most protective) reading of a token bucket; callers who
    * want elapsed-idle credit attach `ProcessingTimeTimeout` and
    * credit `state.getCurrentProcessingTimeMs` deltas — not done here
    * because wall-clock credit makes the operator untestable
    * deterministically. The ingest-protection primitive in front of a
    * 100 TB/day pipeline: a runaway producer can at most drain its
    * own bucket, state is one long per key, and the admit decision
    * never shuffles (state is co-partitioned with the key by the
    * state store). Admission is a BOUNDED selection — the `tokens`
    * smallest event_ids via a capacity-sized heap, O(batch·log cap)
    * time and O(cap) heap — so a flooding key cannot buffer its whole
    * batch in memory (the operator's own threat model). Arrival-order
    * dependent across batches → spec-level, like E2/E5.
    */
  def rateLimit(events: org.apache.spark.sql.Dataset[Evt],
      capacity: Int, refillPerBatch: Int):
      org.apache.spark.sql.Dataset[Evt] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[Evt], state: GroupState[Long]) => {
          val tokens = math.min(capacity.toLong,
            state.getOption.getOrElse(capacity.toLong) + refillPerBatch).toInt
          // k-smallest by event_id without materializing the group:
          // max-heap of size ≤ tokens, evict the largest on overflow
          val heap = new scala.collection.mutable.PriorityQueue[Evt]()(
            Ordering.by(_.event_id))
          it.foreach { e =>
            if (heap.size < tokens) heap.enqueue(e)
            else if (tokens > 0 && e.event_id < heap.head.event_id) {
              heap.dequeue(); heap.enqueue(e)
            }
          }
          val admitted = heap.dequeueAll.reverse // ascending event_id
          state.update(tokens.toLong - admitted.size)
          admitted.iterator
        })
  }

  /** E3: stream-static join — streaming facts against a broadcast
    * static dimension (the enrichment shape: no stream-side shuffle).
    */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** E4: stream-stream interval join — clicks matched to the same
    * user's signups within a bounded lookback window. Both sides are
    * watermarked so the join state expires (unbounded state is the
    * stream-stream failure mode at scale); the time-range predicate is
    * what lets Spark bound each side's buffer.
    */
  def streamStreamJoin(clicks: DataFrame, signups: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val s = signups.withWatermark("ts", "1 hour")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("signup_ts"))
    c.join(s,
      c("user_id") === s("user_id") &&
      col("signup_ts") <= col("click_ts") &&
      col("signup_ts") >= col("click_ts") - expr("INTERVAL 2 HOURS"))
      .select(col("click_id"), c("user_id"), col("click_ts"),
        col("signup_id"), col("signup_ts"))
  }

  /** E4b: GRADED stream-stream interval join (`stream_interval_join`)
    * — each view matched to the same user's purchases within the
    * following 2 hours, both sides watermarked (1 h) so Spark bounds
    * each side's join buffer: a buffered view can stop matching once
    * the watermark passes view_ts + 2 h, a buffered purchase once it
    * passes purchase_ts — the state-expiry contract that makes
    * stream-stream joins runnable forever. INNER join in append mode
    * emits each matching pair exactly once when both legs have
    * arrived, so the drained output is the batch join of the event
    * multiset — the DuckDB oracle is literally that join. Both legs
    * are filters of the SAME file stream (a self-join): Spark plans
    * two scans of the source against one state store pair.
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    drain(intervalJoinStream(eventsStream(spark, dir)), "append",
      "stream_interval_join").orderBy($"view_id", $"purchase_id")
  }

  /** The unstarted E4b plan over any events stream — exposed so the
    * spec can drive it with forced micro-batch splits.
    */
  private[graft] def intervalJoinStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val views = events.where($"event_type" === "view")
      .withWatermark("ts", "1 hour")
      .select($"event_id".as("view_id"), $"user_id", $"ts".as("view_ts"))
    val purchases = events.where($"event_type" === "purchase")
      .withWatermark("ts", "1 hour")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
        $"ts".as("purchase_ts"), $"value")
    views.join(purchases,
        $"user_id" === $"p_user" &&
        $"purchase_ts" >= $"view_ts" &&
        $"purchase_ts" <= $"view_ts" + expr("INTERVAL 2 HOURS"))
      // back to NTZ at the boundary (session TZ UTC → same wall clock
      // as the naive-timestamp oracle)
      .select($"view_id", $"user_id",
        $"view_ts".cast("timestamp_ntz").as("view_ts"),
        $"purchase_id",
        $"purchase_ts".cast("timestamp_ntz").as("purchase_ts"),
        $"value".as("purchase_value"))
  }

  case class UserTotal(user_id: Long, batch_n: Long, total_n: Long)

  /** E5: `transformWithState` (Spark 4's arbitrary-state API,
    * successor to flatMapGroupsWithState): per-key running event count
    * held in a `ValueState`, emitting (batch delta, running total) per
    * key per micro-batch. Requires the RocksDB state store provider —
    * the 100 TB state backend (incremental checkpoints, state larger
    * than executor heap); `TTLConfig` is where production bounds
    * per-key state lifetime.
    */
  class RunningCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Evt, UserTotal] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var countState: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      countState = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Evt],
        tv: TimerValues): Iterator[UserTotal] = {
      val prev = if (countState.exists()) countState.get() else 0L
      var n = 0L
      rows.foreach(_ => n += 1)
      countState.update(prev + n)
      Iterator.single(UserTotal(key, n, prev + n))
    }
  }

  def runningCounts(events: org.apache.spark.sql.Dataset[Evt]):
      org.apache.spark.sql.Dataset[UserTotal] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningCountProcessor, TimeMode.None(),
        OutputMode.Append(), org.apache.spark.sql.Encoders.product[UserTotal])
  }

  // --------------------------- E5b timer-closed streaming sessionizer

  /** Session gap in µs (60 min — same as E7's `session_window`). */
  val SessionGapUs: Long = 3600L * 1000000L

  case class SessEvt(user_id: Long, ts: java.time.Instant, ts_us: Long,
      val_q: Long)
  case class OpenSess(start_us: Long, last_us: Long, n: Long, sum_q: Long)
  case class ClosedSess(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, sum_q: Long)

  /** E5b: timer-closed session summaries (`stream_session_timer`) —
    * the transformWithState API half E5's running counter never
    * touches: EVENT-TIME TIMERS. Per user, the open sessions live in
    * a `ListState` (a key can hold several not-yet-merged sessions
    * when batches arrive out of order); every input batch gap-merges
    * its rows into the list and registers a timer at the earliest
    * close time (session end = last event + gap); when the watermark
    * passes a timer, `handleExpiredTimer` emits every session whose
    * end ≤ watermark and drops it from state — emission and state
    * EVICTION are both timer-driven, the production session-closer
    * shape (TTLConfig is the wall-clock variant of the same eviction;
    * event-time timers are the deterministic one, so that's what the
    * graded face uses).
    *
    * Semantics twin: exactly E7's `session_window(ts, 60 min)` with a
    * 10-min watermark — same gap rule (diff == gap starts a new
    * session: merge iff next.start − cur.last < gap), same append
    * emission horizon (end ≤ max ts − delay; Spark fires timers with
    * expiry ≤ watermark, matching the window eviction rule), so the
    * DuckDB oracle is the E7 oracle. Sums ride as exact cent-quantized
    * longs through state ([[graft.Tables.dsum]]'s parity rule); all
    * session math is µs-integer. Timers are registered at
    * ceil(close_us / 1000) so ms-grain firing can never precede the
    * µs-grain close; a firing before some sessions close is guarded
    * (closable-only emission) and re-arms the next timer.
    *
    * Scale: state is O(open sessions) per key and self-evicting; the
    * state store backend is RocksDB (required by transformWithState,
    * and the backend that holds state beyond executor heap at
    * 100 TB/day). Batch-split invariance is spec-pinned.
    */
  class SessionTimerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessEvt, ClosedSess] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var sessions: ListState[OpenSess] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sessions = getHandle.getListState[OpenSess]("sessions",
        org.apache.spark.sql.Encoders.product[OpenSess], TTLConfig.NONE)

    /** Earliest close time, as the ms timer grain that cannot fire
      * before the µs close: ceil(close_us / 1000) ≤ wm_ms ⇔
      * close_us ≤ wm_ms·1000.
      */
    private def armTimer(open: Array[OpenSess]): Unit =
      if (open.nonEmpty) {
        val closeUs = open.iterator.map(_.last_us + SessionGapUs).min
        getHandle.registerTimer((closeUs + 999L) / 1000L)
      }

    override def handleInputRows(key: Long, rows: Iterator[SessEvt],
        tv: TimerValues): Iterator[ClosedSess] = {
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      // rows at/below the watermark could extend an already-emitted
      // session — drop them, like the session_window operator does
      val evs = rows.filter(_.ts_us >= wmUs)
        .map(e => OpenSess(e.ts_us, e.ts_us, 1L, e.val_q)).toArray
      if (evs.nonEmpty) {
        val cur = if (sessions.exists()) sessions.get().toArray
          else Array.empty[OpenSess]
        // interval gap-merge, boundary-exact with session_window:
        // next.start − cur.last < gap merges (== gap starts a new one)
        val sorted = (cur ++ evs).sortBy(s => (s.start_us, s.last_us))
        val merged = scala.collection.mutable.ArrayBuffer.empty[OpenSess]
        sorted.foreach { s =>
          if (merged.nonEmpty && s.start_us - merged.last.last_us < SessionGapUs) {
            val p = merged.last
            merged(merged.size - 1) = OpenSess(p.start_us,
              math.max(p.last_us, s.last_us), p.n + s.n, p.sum_q + s.sum_q)
          } else merged += s
        }
        sessions.put(merged.toArray)
        armTimer(merged.toArray)
      }
      Iterator.empty // emission is the timer's job
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ClosedSess] = {
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      val cur = if (sessions.exists()) sessions.get().toArray
        else Array.empty[OpenSess]
      val (close, open) = cur.partition(_.last_us + SessionGapUs <= wmUs)
      if (open.isEmpty) sessions.clear() else sessions.put(open)
      armTimer(open) // stale multi-timer firings re-arm harmlessly
      close.sortBy(_.start_us).iterator.map(s =>
        ClosedSess(key, s.start_us, s.last_us + SessionGapUs, s.n, s.sum_q))
    }
  }

  /** The unstarted E5b plan over any watermarked events stream —
    * exposed so the spec can drive it with forced micro-batch splits.
    */
  private[graft] def sessionTimerStream(events: DataFrame):
      org.apache.spark.sql.Dataset[ClosedSess] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select($"user_id", $"ts", unix_micros($"ts").as("ts_us"),
        expr("CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)").as("val_q"))
      .as[SessEvt]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor, TimeMode.EventTime(),
        OutputMode.Append(), org.apache.spark.sql.Encoders.product[ClosedSess])
  }

  def sessionTimer(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val closed = sessionTimerStream(
        eventsStream(spark, dir).withWatermark("ts", "10 minutes"))
      .select($"user_id",
        expr("CAST(timestamp_micros(start_us) AS TIMESTAMP_NTZ)")
          .as("session_start"),
        expr("CAST(timestamp_micros(end_us) AS TIMESTAMP_NTZ)")
          .as("session_end"),
        $"n_events",
        expr("CAST(CAST(sum_q AS DECIMAL(28,2)) / 100 AS DOUBLE)")
          .as("session_value"))
    drain(closed, "append", "stream_session_timer")
      .orderBy($"user_id", $"session_start")
  }

  // ------------------------------------ E16 streaming decayed counter

  /** Decay window (hours): contributions older than this weigh 0. */
  val DecayWindowH = 40
  /** Fixed-point shift: decayed mass is held in 2^-20-unit integers. */
  val DecayQShift = 20

  case class FlowMass(site: String, h: Long, ibyt: Long)
  case class DecayEmit(site: String, seq: Long, ref_h: Long,
      buckets: Array[Long], n_flows: Long, raw_bytes: Long)
  case class DecayState(refH: Long, buckets: Array[Long],
      nFlows: Long, rawBytes: Long, seq: Long)

  /** E16: per-key streaming DECAYED counter (B44's live twin) — the
    * on-call "loud NOW" ranking maintained incrementally: per site, a
    * bounded ring of per-hour byte sums ([[DecayWindowH]] longs) in
    * `transformWithState` ValueState. A batch's rows merge by
    * DECAY-THEN-ADD: when the site's max hour advances, the ring
    * shifts (each bucket ages; the oldest falls off = decays to 0),
    * then new mass adds into the age-0 bucket. The ring is a pure
    * function of (max hour seen, event multiset) — shifts drop
    * exactly the hours older than the window regardless of arrival
    * order — so the state is BATCH-SPLIT INVARIANT (the spec's gate)
    * and late data folds in correctly up to the window.
    *
    * Decay semantics are dyadic on purpose: weight(age) = 2^-age,
    * applied at READ-OUT as integer shift arithmetic
    * (bucket·2^(20-age), floor-divided past age 20) — exact in any
    * engine, so the DuckDB oracle replays the ranking bit-for-bit
    * from raw events. B44's batch exp() half-life ranking needs
    * per-second terms for bit parity, which is exactly what a
    * counter must NOT hold; the ring is the O(window) state that
    * makes a decayed ranking maintainable at 100 TB/day, at the cost
    * of hour-grain decay.
    */
  class DecayedCounterProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, FlowMass, DecayEmit] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[DecayState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DecayState]("decay",
        org.apache.spark.sql.Encoders.product[DecayState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[FlowMass],
        tv: TimerValues): Iterator[DecayEmit] = {
      val s0 = if (st.exists()) st.get()
        else DecayState(Long.MinValue, new Array[Long](DecayWindowH), 0L, 0L, 0L)
      var refH = s0.refH
      var buckets = s0.buckets
      var n = s0.nFlows
      var raw = s0.rawBytes
      rows.foreach { r =>
        if (r.h > refH) {
          // decay: age every bucket by the hour delta, drop the tail
          val d = if (refH == Long.MinValue) DecayWindowH
            else math.min(r.h - refH, DecayWindowH.toLong).toInt
          val shifted = new Array[Long](DecayWindowH)
          var i = DecayWindowH - 1
          while (i >= d) { shifted(i) = buckets(i - d); i -= 1 }
          buckets = shifted
          refH = r.h
        }
        val age = refH - r.h
        if (age < DecayWindowH) buckets(age.toInt) += r.ibyt // else: weight 0
        n += 1
        raw += r.ibyt
      }
      st.update(DecayState(refH, buckets, n, raw, s0.seq + 1))
      Iterator.single(DecayEmit(key, s0.seq + 1, refH, buckets, n, raw))
    }
  }

  /** The E16 pipeline over an arbitrary prepared (site, h, ibyt)
    * stream — split out so the spec can drive it with its own
    * micro-batch splits.
    */
  private[graft] def topkDecayedFrom(
      masses: org.apache.spark.sql.Dataset[FlowMass]): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = masses.sparkSession
    import spark.implicits._
    val emits = masses.groupByKey(_.site)
      .transformWithState(new DecayedCounterProcessor, TimeMode.None(),
        OutputMode.Append(), org.apache.spark.sql.Encoders.product[DecayEmit])
    // latest emission per site (seq is monotone per key), then the
    // dyadic read-out: Σ bucket(age)·2^(20-age) in exact integers.
    // Each site's ring is aged relative to the site's OWN last hour;
    // the ranking ages everything to the GLOBAL current hour, so a
    // site quiet for k hours carries k extra halvings — that "was
    // loud, went quiet, sank" behavior is the operator's point.
    // materialized: `last` feeds both the decayed-sum branch and the
    // final join (self-join reference conflict otherwise), and it is
    // key-cardinality tiny
    val last = drain(emits, "append", "stream_topk_decayed")
      .groupBy($"site")
      .agg(max(struct($"seq", $"ref_h", $"n_flows", $"raw_bytes", $"buckets"))
        .as("l"))
      .select($"site", $"l.ref_h".as("ref_h"), $"l.n_flows".as("n_flows"),
        $"l.raw_bytes".as("raw_bytes"), $"l.buckets".as("buckets"))
      .localCheckpoint()
    val gmax = last.agg(max($"ref_h").as("gmax"))
    val decayed = last.crossJoin(broadcast(gmax))
      .select($"site", ($"gmax" - $"ref_h").as("idle"),
        posexplode($"buckets").as(Seq("age0", "bs")))
      .withColumn("age", $"age0" + $"idle")
      .where($"age" < DecayWindowH)
      .withColumn("w", expr(
        s"""CASE WHEN age <= $DecayQShift
           |  THEN bs * shiftleft(CAST(1 AS BIGINT), CAST($DecayQShift - age AS INT))
           |  ELSE bs div shiftleft(CAST(1 AS BIGINT), CAST(age - $DecayQShift AS INT))
           |END""".stripMargin))
      .groupBy($"site").agg(sum($"w").as("d"))
    last.join(decayed, Seq("site"), "left")
      .select($"site", $"n_flows", $"raw_bytes",
        coalesce($"d", lit(0L)).as("decayed_q20"))
      .orderBy($"decayed_q20".desc, $"site")
      .limit(10)
  }

  /** E16 graded entry: the flow stream reduced to (site, hour, bytes)
    * mass rows — the same site/ibyt derivation as B44 — through the
    * decayed-counter state, ranked top-10. Runs on the RocksDB
    * provider, as [[drain]] picks for every transformWithState plan
    * (and the right backend for per-key ring state at scale).
    */
  def topkDecayed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    topkDecayedFrom(eventsStream(spark, dir)
      .select(
        concat(lit("10."), pmod(col("user_id"), lit(64))).as("site"),
        expr("CAST(ts AS LONG) div 3600").as("h"),
        round(col("value") * 100).cast("long").as("ibyt"))
      .as[FlowMass])
  }

  // ------------------------------------ E17 streaming EWMA forecaster

  case class ProtoMass(pr: String, h: Long, ibyt: Long)
  case class EwmaEmit(pr: String, seq: Long, ref_h: Long, ring: Array[Long])
  case class EwmaState(refH: Long, ring: Array[Long], seq: Long)

  /** E17: streaming EWMA surge forecaster — B26's live twin, the same
    * shape as E16's decayed counter: per protocol, the last
    * [[graft.flow.FlowAnalytics.EwmaLags]] hourly byte volumes in a
    * `transformWithState` ring (shift on hour advance, add into the
    * age-0 slot). The ring is a pure function of (max hour, event
    * multiset) — batch-split invariant, late data folds in up to the
    * window — and the READ-OUT applies B26's truncated-EWMA weights
    * to the ring slots in the same fixed left-associative order the
    * batch operator and the oracle use, so the forecast for the
    * NEXT hour hash-matches a from-scratch replay. State is
    * O(lags) longs per key: the bounded-memory form that runs
    * forever at 100 TB/day, where B26 is the backfill/batch form.
    */
  class EwmaProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, ProtoMass, EwmaEmit] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    private val Lags = graft.flow.FlowAnalytics.EwmaLags
    @transient private var st: ValueState[EwmaState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EwmaState]("ewma",
        org.apache.spark.sql.Encoders.product[EwmaState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[ProtoMass],
        tv: TimerValues): Iterator[EwmaEmit] = {
      val s0 = if (st.exists()) st.get()
        else EwmaState(Long.MinValue, new Array[Long](Lags), 0L)
      var refH = s0.refH
      var ring = s0.ring
      rows.foreach { r =>
        if (r.h > refH) {
          val d = if (refH == Long.MinValue) Lags
            else math.min(r.h - refH, Lags.toLong).toInt
          val shifted = new Array[Long](Lags)
          var i = Lags - 1
          while (i >= d) { shifted(i) = ring(i - d); i -= 1 }
          ring = shifted
          refH = r.h
        }
        val age = refH - r.h
        if (age < Lags) ring(age.toInt) += r.ibyt // older: outside the window
      }
      st.update(EwmaState(refH, ring, s0.seq + 1))
      Iterator.single(EwmaEmit(key, s0.seq + 1, refH, ring))
    }
  }

  /** The E17 pipeline over a prepared (pr, h, ibyt) stream — split out
    * so the spec can drive it with its own micro-batch splits.
    */
  private[graft] def ewmaForecastFrom(
      masses: org.apache.spark.sql.Dataset[ProtoMass]): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = masses.sparkSession
    import spark.implicits._
    val emits = masses.groupByKey(_.pr)
      .transformWithState(new EwmaProcessor, TimeMode.None(),
        OutputMode.Append(), org.apache.spark.sql.Encoders.product[EwmaEmit])
    val last = drain(emits, "append", "stream_ewma_forecast")
      .groupBy($"pr")
      .agg(max(struct($"seq", $"ref_h", $"ring")).as("l"))
      .select($"pr", $"l.ref_h".as("ref_h"), $"l.ring".as("ring"))
    // read-out: ring slot j−1 holds the volume of hour ref_h+1−j (lag
    // j of the NEXT hour). Present = vol > 0; weights/num/den in the
    // same fixed left-associative order as B26 and the oracle.
    val lags = (1 to graft.flow.FlowAnalytics.EwmaLags)
      .map(j => element_at($"ring", j))
    val wts = graft.flow.FlowAnalytics.EwmaWeights
    val num = lags.zip(wts).map { case (v, wt) =>
      lit(wt) * when(v > 0L, v.cast("double")).otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    val den = lags.zip(wts).map { case (v, wt) =>
      when(v > 0L, lit(wt)).otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    val nBase = lags.map(v => when(v > 0L, 1L).otherwise(0L)).reduceLeft(_ + _)
    last
      .withColumn("n_base", nBase)
      .where($"n_base" >= 12)
      .select($"pr", ($"ref_h" + 1).as("next_h"), $"n_base",
        round(num / den, 6).as("forecast_r"))
      .orderBy($"pr")
  }

  /** E17 graded entry: the flow stream reduced to (pr, hour, bytes)
    * through the EWMA ring, forecasting each protocol's next hour.
    */
  def ewmaForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ewmaForecastFrom(eventsStream(spark, dir)
      .select(upper(col("event_type")).as("pr"),
        expr("CAST(ts AS LONG) div 3600").as("h"),
        round(col("value") * 100).cast("long").as("ibyt"))
      .as[ProtoMass])
  }

  // ------------------------------------ E20 streaming Holt forecaster

  /** Hours a slot stays open for late data before it folds into the
    * smoothed state (same tolerance as E17's ring). */
  val HoltRing = 24

  case class FlowCents(flowsrc: String, h: Long, cents: Long)
  case class HoltEmit(flowsrc: String, seq: Long, ref_h: Long,
      cents: Array[Long], cnts: Array[Long], l: Double, b: Double,
      n_closed: Long)
  case class HoltState(refH: Long, cents: Array[Long], cnts: Array[Long],
      l: Double, b: Double, nClosed: Long, seq: Long)

  /** E20: streaming Holt level+trend forecaster — B57's live twin.
    * The Holt recurrence is inherently sequential over CLOSED hours,
    * so the state is split in two: a [[HoltRing]]-slot open-hour ring
    * (exact integer cents + observation counts, E17's late-data
    * tolerance) and the folded (l, b, n) smoothing state. When the
    * stream advances past a slot, that hour is CLOSED: folded into
    * (l, b) oldest-first with the exact recurrence the batch operator
    * uses — so the final state is a pure function of the event
    * multiset (batch-split invariant), and the read-out (which folds
    * the still-open slots in hour order) hash-matches the
    * from-scratch recursive replay. Hours nobody observed occupy a
    * cnt=0 slot and are SKIPPED, matching the batch rollup (absent
    * row ≠ zero volume). State is O(ring) per key — the
    * bounded-memory form that runs forever, where B57 is the
    * backfill/batch form.
    */
  class HoltProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, FlowCents, HoltEmit] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    private val R = HoltRing
    @transient private var st: ValueState[HoltState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[HoltState]("holt",
        org.apache.spark.sql.Encoders.product[HoltState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[FlowCents],
        tv: TimerValues): Iterator[HoltEmit] = {
      val s0 = if (st.exists()) st.get()
        else HoltState(Long.MinValue, new Array[Long](R),
          new Array[Long](R), 0.0, 0.0, 0L, 0L)
      var refH = s0.refH
      var cents = s0.cents
      var cnts = s0.cnts
      var l = s0.l
      var b = s0.b
      var n = s0.nClosed
      // fold one closed hour: the EXACT parse tree of the batch
      // aggregate-HOF / recursive-CTE recurrence (dyadic constants)
      def close(v: Long): Unit = {
        val x = v.toDouble / 100.0
        if (n == 0L) { l = x; b = 0.0; n = 1L }
        else {
          val ln = 0.5 * x + 0.5 * (l + b)
          b = 0.25 * (ln - l) + 0.75 * b
          l = ln
          n += 1L
        }
      }
      // Spark gives NO ordering guarantee for the post-shuffle rows
      // iterator; unsorted, a batch spanning > R hours would close
      // ring slots in arrival order and silently drop rows more than
      // R hours older than the max hour already seen in the SAME
      // batch. Sorting by hour first makes the state a pure function
      // of the event multiset regardless of batch splits or shuffle
      // interleaving (same-hour rows only ADD into a slot, so their
      // relative order is immaterial). Per-key per-batch row sets are
      // small (hourly masses), so the buffer is cheap.
      val ordered = rows.toArray.sortInPlaceBy(_.h)
      ordered.foreach { r =>
        if (r.h > refH) {
          val d = if (refH == Long.MinValue) R
            else math.min(r.h - refH, R.toLong).toInt
          // slots falling off the ring close oldest-first
          var a = R - 1
          while (a >= R - d) {
            if (a < R && cnts(a) > 0L) close(cents(a))
            a -= 1
          }
          val sc = new Array[Long](R)
          val sn = new Array[Long](R)
          var i = R - 1
          while (i >= d) { sc(i) = cents(i - d); sn(i) = cnts(i - d); i -= 1 }
          cents = sc; cnts = sn
          refH = r.h
        }
        val age = refH - r.h
        if (age < R) { // older than the ring: already folded, dropped
          cents(age.toInt) += r.cents
          cnts(age.toInt) += 1L
        }
      }
      st.update(HoltState(refH, cents, cnts, l, b, n, s0.seq + 1))
      Iterator.single(HoltEmit(key, s0.seq + 1, refH, cents, cnts, l, b, n))
    }
  }

  /** The E20 pipeline over a prepared (flowsrc, h, cents) stream —
    * split out so the spec can drive it with its own batch splits.
    */
  private[graft] def holtForecastFrom(
      masses: org.apache.spark.sql.Dataset[FlowCents]): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = masses.sparkSession
    import spark.implicits._
    val emits = masses.groupByKey(_.flowsrc)
      .transformWithState(new HoltProcessor, TimeMode.None(),
        OutputMode.Append(), org.apache.spark.sql.Encoders.product[HoltEmit])
    val last = drain(emits, "append", "stream_holt_forecast")
      .groupBy($"flowsrc")
      .agg(max(struct($"seq", $"ref_h", $"cents", $"cnts",
        $"l", $"b", $"n_closed")).as("s"))
      .select($"flowsrc", $"s.cents".as("cents"), $"s.cnts".as("cnts"),
        $"s.l".as("l"), $"s.b".as("b"), $"s.n_closed".as("n_closed"))
    // read-out: fold the still-open slots oldest-first (age R−1 → 0,
    // observed slots only) from the closed (l, b, n) state — the same
    // recurrence tree as the processor, the batch HOF and the oracle.
    val slots = (HoltRing - 1 to 0 by -1).map { a =>
      struct(element_at($"cents", a + 1).as("v"),
        element_at($"cnts", a + 1).as("c"))
    }
    last
      .withColumn("arr", array(slots: _*))
      .withColumn("st", expr("""aggregate(
        filter(arr, s -> s.c > 0L),
        named_struct('l', l, 'b', b, 'n', n_closed),
        (acc, s) -> IF(acc.n = 0L,
          named_struct('l', CAST(s.v AS DOUBLE) / 100.0D,
            'b', CAST(0.0 AS DOUBLE), 'n', 1L),
          named_struct(
            'l', 0.5D * (CAST(s.v AS DOUBLE) / 100.0D)
                   + 0.5D * (acc.l + acc.b),
            'b', 0.25D * ((0.5D * (CAST(s.v AS DOUBLE) / 100.0D)
                   + 0.5D * (acc.l + acc.b)) - acc.l) + 0.75D * acc.b,
            'n', acc.n + 1L)))"""))
      .select($"flowsrc", $"st.n".as("n_hours"),
        round($"st.l", 6).as("level_r"), round($"st.b", 6).as("trend_r"),
        round($"st.l" + $"st.b", 6).as("fc1_r"),
        round($"st.l" + lit(3.0) * $"st.b", 6).as("fc3_r"))
      .orderBy($"flowsrc")
  }

  /** E20 graded entry: the flow stream reduced to (flowsrc, hour,
    * cents) through the Holt processor, forecasting each collector.
    */
  def holtForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    holtForecastFrom(graft.flow.FlowAnalytics.flowsOf(eventsStream(spark, dir))
      .select(col("flowsrc"),
        expr("CAST(ts AS LONG) div 3600").as("h"),
        col("ibyt").as("cents"))
      .as[FlowCents])
  }

  // ---------------------------------------- E18 streaming silence watch

  /** Hours of quiet after which a site is reported silent. */
  val SilenceHours = 24L

  case class SiteSeen(site: String, h: Long)
  case class SeenEmit(site: String, seq: Long, last_h: Long, n_flows: Long)
  case class SeenState(lastH: Long, nFlows: Long, seq: Long)

  /** E18: streaming silence watch (`stream_silence_watch`) — the
    * "collector went dark" detector the reference's per-watcher
    * service model needs: per site, `transformWithState` keeps only
    * (last event-time hour, flow count) — O(1) per key — and the
    * read-out reports every site whose last hour trails the global
    * max by ≥ [[SilenceHours]], with how long it has been quiet.
    * A site that NEVER reported can't be detected by state alone
    * (nothing created its key) — that needs the expected-site dim
    * join, which stream-static enrichment (E3) already covers; this
    * operator owns the went-quiet half. Max-merge is trivially
    * batch-split invariant and late-data safe (max commutes).
    */
  class SilenceProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, SiteSeen, SeenEmit] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[SeenState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SeenState]("seen",
        org.apache.spark.sql.Encoders.product[SeenState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[SiteSeen],
        tv: TimerValues): Iterator[SeenEmit] = {
      val s0 = if (st.exists()) st.get() else SeenState(Long.MinValue, 0L, 0L)
      var lastH = s0.lastH
      var n = s0.nFlows
      rows.foreach { r => if (r.h > lastH) lastH = r.h; n += 1 }
      st.update(SeenState(lastH, n, s0.seq + 1))
      Iterator.single(SeenEmit(key, s0.seq + 1, lastH, n))
    }
  }

  private[graft] def silenceWatchFrom(
      seen: org.apache.spark.sql.Dataset[SiteSeen]): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = seen.sparkSession
    import spark.implicits._
    val emits = seen.groupByKey(_.site)
      .transformWithState(new SilenceProcessor, TimeMode.None(),
        OutputMode.Append(), org.apache.spark.sql.Encoders.product[SeenEmit])
    val last = drain(emits, "append", "stream_silence_watch")
      .groupBy($"site")
      .agg(max(struct($"seq", $"last_h", $"n_flows")).as("l"))
      .select($"site", $"l.last_h".as("last_h"), $"l.n_flows".as("n_flows"))
    val gmax = last.agg(max($"last_h").as("gmax"))
    last.crossJoin(broadcast(gmax))
      .where($"gmax" - $"last_h" >= SilenceHours)
      .select($"site", $"n_flows", $"last_h",
        ($"gmax" - $"last_h").as("silent_hours"))
      .orderBy($"site")
  }

  /** E18 graded entry: keyed by the full da service address — sparse
    * enough (~k×users keys) that every SF has services whose traffic
    * dies out before the corpus ends, so the report is non-trivial
    * at sf0.001 through sf0.1.
    */
  def silenceWatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    silenceWatchFrom(eventsStream(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .select(
        concat(lit("192.168."), pmod(col("k"), lit(256)),
          lit("."), pmod(col("user_id"), lit(256))).as("site"),
        expr("CAST(ts AS LONG) div 3600").as("h"))
      .as[SiteSeen])
  }

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** E6: streaming decontamination — incoming documents checked
    * against the held-out eval phrase set AS THEY ARRIVE (the ingest
    * gate a training pipeline puts in front of its corpus, vs D21's
    * batch sweep). Deliberately STATELESS: the doc stream explodes to
    * positional token-8-grams and stream-static-joins the broadcast
    * phrase table, emitting one (doc_id, bench_id, position) row per
    * hit in append mode — no watermark, no state store, deterministic
    * under any micro-batch split, which is what makes it the only
    * streaming op here with an exact positional oracle. Per-doc
    * rollups happen downstream in batch (D21) where distinct-state is
    * free.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = graft.dedup.Dedup.ContamPhraseTokens
    val docsSpool = spool(spark, dir, "documents")
    // static side: the same deterministic benchmark derivation as D21
    val phrases = graft.Tables.load(spark, dir, "documents")
      .where($"doc_id" % 50 === 0)
      .select($"doc_id".as("bench_id"), split($"text", " ").as("toks"))
      .where(size($"toks") >= k + 4)
      .select($"bench_id", concat_ws(" ",
        expr(s"slice(toks, CAST(size(toks) / 2 AS INT) - ${k / 2}, $k)"))
        .as("phrase"))
    val docStream = spark.readStream
      .schema(documentsSchema)
      .parquet(docsSpool)
    val hits = graft.dedup.Dedup.tokenGrams(docStream, k)
      .withColumnRenamed("gram", "phrase")
      .join(broadcast(phrases), "phrase")
      .select($"doc_id", $"bench_id", $"p")
    drain(hits, "append", "stream_decontaminate")
      .orderBy($"doc_id", $"bench_id", $"p")
  }

  /** E9: streaming Bloom ingest gate — D23's incremental-dedup filter
    * in its natural position: IN FRONT of the stream. The ingested
    * corpus is summarized once into the fixed-size filter (batch
    * side, one aggregate row → broadcast); each arriving doc probes
    * it map-only and is tagged maybe-duplicate/fresh as it lands.
    * Stateless like E6 (no watermark, no state store): the filter is
    * read-only within the run, so output is deterministic under any
    * micro-batch split and the FP-exact D23 oracle applies verbatim
    * to the stream output. (Production rebuilds the filter per
    * ingest epoch — between runs, not within one.)
    */
  def bloomGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.BloomAgg.{bloom_agg, bloom_contains}
    val docsSpool = spool(spark, dir, "documents")
    val existing = graft.Tables.load(spark, dir, "documents")
    val bf = existing.agg(bloom_agg(md5($"text".cast("binary")),
      graft.dedup.Dedup.BloomBits, graft.dedup.Dedup.BloomHashes).as("bf"))
    // the stream plays the INCOMING batch: same derivation as D23
    // (dups of every 5th doc + fresh suffix-perturbed every 3rd)
    val incoming = spark.readStream
      .schema(documentsSchema)
      .parquet(docsSpool)
    val staged = incoming.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 10000).as("doc_id"), $"text")
      .union(incoming.where($"doc_id" % 3 === 0)
        .select(($"doc_id" + 30000).as("doc_id"),
          concat($"text", lit(" incoming fresh suffix")).as("text")))
    val flagged = staged
      .crossJoin(broadcast(bf))
      .select($"doc_id",
        bloom_contains($"bf", md5($"text".cast("binary"))).as("flagged"))
    drain(flagged, "append", "stream_bloom_gate").orderBy($"doc_id")
  }

  /** E10: streaming MinHash ingest gate — D23b's incremental NEAR-dup
    * filter in front of the stream, the fuzzy twin of E9's exact-hash
    * gate. The standing corpus is summarized once into the persisted
    * signature/band index (batch side); each arriving doc is SIGNED
    * MAP-ONLY ([[graft.functions.StrFuncs]] minhash kernel), band-
    * exploded on the scan row, and equi-joined stream×static against
    * the index. The one stateful operator is a single complete-mode
    * max aggregation per doc — max over band-collision rows equals
    * max over distinct candidate pairs (duplicates can't change a
    * max), which is exactly why the streaming verdict drops D23b's
    * n_cands: counting needs pair dedup, a second stateful operator.
    * Fresh docs share no band, so they never enter the state store;
    * they surface via the batch-side left join at the end (their ids
    * are a deterministic function of the corpus, not of the stream).
    */
  def minhashGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.dedup.Dedup
    val docsSpool = spool(spark, dir, "documents")
    val existing = graft.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text")
    // static side: the SAME staged band index D23b reads — a
    // materialized leaf, so the static half of the stream-static join
    // is data. A stream-static join re-evaluates its static side every
    // micro-batch; with the index derived inline that meant re-signing
    // and re-banding the standing corpus per trigger — the genuine
    // 100 TB scale-killer the staged index exists to prevent. (Same
    // hot-band cap as D23b: an over-wide bucket is exact-dup territory
    // and would blow up the stream-side join.)
    val index = Dedup.bandIndex(spark, dir)
      .select($"doc_id".as("d_old"), $"minhashes".as("s_old"),
        $"band_id", $"band_hash")
    val incoming = spark.readStream
      .schema(documentsSchema)
      .parquet(docsSpool)
    // the stream plays the D23b incoming batch (suffix revisions +
    // md5-gibberish fresh docs)
    val staged = incoming.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 50000).as("doc_id"),
        concat($"text", lit(" rev2 batch tail")).as("text"))
      .union(incoming.where($"doc_id" % 3 === 0)
        .select(($"doc_id" + 70000).as("doc_id"),
          md5(concat(lit("fresh:"), $"doc_id".cast("string"))).as("text")))
    // spread the CPU-bound signing kernel: a one-file micro-batch
    // arrives as ONE input partition, serializing ~5 s of per-doc
    // minhash work onto a single task (the streaming analog of
    // [[graft.Staging.spreadNarrow]], which can't inspect a stream's
    // scan width) — one raw-text-sized shuffle buys kernel parallelism;
    // values are unchanged (map-only sign, order-free join + max).
    // Spread to COMPUTE width (defaultParallelism), not the state
    // width: the 8-partition state knob sizes store instances, while
    // the signing wants every core
    val signed = staged
      .repartition(spark.sparkContext.defaultParallelism)
      .select($"doc_id",
        graft.functions.StrFuncs.minhash_sig(
          graft.functions.StrFuncs.char_grams($"text", Dedup.ShingleLen),
          Dedup.NumHashes, Dedup.MinhashP).as("minhashes"))
    val best = drain(Dedup.bandsOf(signed)
      .join(index, Seq("band_id", "band_hash"))
      .groupBy($"doc_id")
      .agg(max(Dedup.sigEst($"minhashes", $"s_old")).as("best_est")),
      "complete", "stream_minhash_gate")
    // batch-side presentation: every staged doc id, flagged or clean
    val ids = existing.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 50000).as("doc_id"))
      .union(existing.where($"doc_id" % 3 === 0)
        .select(($"doc_id" + 70000).as("doc_id")))
    ids.join(best, Seq("doc_id"), "left")
      .select($"doc_id", $"best_est",
        coalesce($"best_est" >= Dedup.IncThreshold, lit(false)).as("is_dup"))
      .orderBy($"doc_id")
  }

  /** E11: streaming quality-classifier gate (`stream_quality_gate`) —
    * the trained D9h model applied to arriving documents. The staged
    * 128-weight table collapses to a LITERAL array of quantized
    * longs, so scoring is a STATELESS per-row fold over the hashed
    * features: no state store, no watermark, no shuffle — the gate a
    * crawl-ingest pipeline actually runs at 100 TB/day (model
    * broadcast, stream mapped). Same quantized arithmetic as the
    * batch scorer, so the DuckDB oracle replays train + score
    * end-to-end.
    */
  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.TextAnalytics
    val docsSpool = spool(spark, dir, "documents")
    // trained BEFORE the stream starts (staged; a batch job on first
    // use) — the stream never re-trains
    val wq = TextAnalytics.clfWeightsQuantized(spark, dir)
    val wlit = array(wq.map(lit(_)): _*)
    val incoming = spark.readStream
      .schema(documentsSchema)
      .parquet(docsSpool)
    val scored = incoming
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", TextAnalytics.clfFeatureArray($"toks").as("fs"))
      .select($"doc_id", size($"fs").cast("long").as("n_feat"),
        aggregate($"fs", lit(0L),
          (acc, f) => acc + element_at(wlit,
            (TextAnalytics.clfBucket(f) + 1).cast("int"))).as("sq"))
      .select($"doc_id", $"n_feat",
        round(($"sq".cast("double") / lit(1.0e9)) / $"n_feat", 6).as("score_r"))
      .withColumn("pred_keep", $"score_r" > 0)
    drain(scored, "append", "stream_quality_gate").orderBy($"doc_id")
  }

  /** E12: streaming quantile monitor (`stream_value_quantiles`) —
    * running p50/p99 per event type with the
    * [[graft.functions.KllSketchAgg]] compactor stack as the STREAMING
    * aggregation state: complete-mode groupBy whose state store
    * holds one serialized ~KB sketch per group, re-emitted whole
    * every trigger (the live latency-dashboard shape). This is the
    * sketch contract under streaming semantics: per-micro-batch
    * partials merge into the stored stack exactly like map-side
    * partials merge in batch, so state stays O(k·log(n/k)) per group
    * forever while a percentile-exact operator would need unbounded
    * state. Graded the C14 way: exact per-group percentiles from the
    * batch twin (oracle-replayed) + a ±3-percentile rank-window
    * verdict on the drained sketch.
    */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sk = drain(eventsStream(spark, dir)
      .groupBy($"event_type")
      .agg(graft.functions.KllSketchAgg.kll_quantiles($"value", 256, Seq(0.5, 0.99))
        .as("qs")),
      "complete", "stream_value_quantiles")
    val exact = graft.Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(percentile($"value",
        typedLit(Seq(0.47, 0.5, 0.53, 0.96, 0.99, 1.0))).as("ex"))
    sk.join(exact, "event_type")
      .select($"event_type",
        round(element_at($"ex", 2), 6).as("exact_p50_r"),
        round(element_at($"ex", 5), 6).as("exact_p99_r"),
        (element_at($"qs", 1) >= element_at($"ex", 1) &&
          element_at($"qs", 1) <= element_at($"ex", 3) &&
          element_at($"qs", 2) >= element_at($"ex", 4) &&
          element_at($"qs", 2) <= element_at($"ex", 6)).as("within_bound"))
      .orderBy($"event_type")
  }

  /** E13: streaming CDC latest-wins compaction (`stream_cdc_upsert`)
    * — the live twin of batch C26: the change stream replays through
    * a keyed streaming aggregation whose state store holds each
    * key's CURRENT latest change (one `max(struct(ts, event_id,
    * ...))` row per key — O(1) state, merged per micro-batch exactly
    * like batch map-side partials, so the result is batch-split
    * invariant and oracle-checkable). Deletes stay IN state — a
    * delete must be able to shadow an earlier upsert arriving in a
    * LATER micro-batch — and drop only at read-out, same rule as
    * C26. At 100 TB/day this state store IS the CDC current-state
    * table; complete-mode memory sink is the graded, deterministic
    * stand-in for the production update-mode keyed sink. Shares
    * C26's oracle verbatim.
    */
  /** E19: streaming biflow stitching (`stream_biflow_stitch`) — the
    * live twin of batch B52: unidirectional exporter records pair in
    * the state store as a session-windowed aggregation per canonical
    * 5-tuple (request and reply legs merge into one conversation
    * while it is live; 30 min of silence closes it), and closed
    * conversations emit in append mode once the watermark passes
    * their end — which is also what bounds state: a conversation can
    * only grow while its end is above the watermark, exactly the
    * production posture for an unbounded netflow feed (B52's global
    * stitch has no close rule and so no bounded-state streaming
    * form). Leg derivation and canonicalization are
    * [[graft.flow.FlowAnalytics.biflowLegs]]/`biflowCanon` — the
    * SAME column ops as batch — and the DuckDB oracle reproduces the
    * session merge (gaps-and-islands, diff ≥ gap starts a new
    * conversation), the client rule, and the append emission rule
    * (session end ≤ max leg time − watermark lag).
    */
  def biflowStitch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    drain(biflowStitchStream(eventsStream(spark, dir)), "append",
        "stream_biflow_stitch")
      .orderBy($"client", $"client_port", $"server", $"server_port",
        $"pr", $"first_s")
  }

  /** The unstarted E19 streaming plan over any events stream —
    * exposed so specs can drive it with forced micro-batch splits.
    */
  private[graft] def biflowStitchStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val legs = graft.flow.FlowAnalytics.biflowCanon(
      graft.flow.FlowAnalytics.biflowLegs(
        graft.flow.FlowAnalytics.flowsOf(events)))
    val conv = legs
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "30 minutes").as("sw"),
        $"a1", $"p1", $"a2", $"p2", $"pr")
      .agg(
        min($"s").as("first_s"), max($"s").as("last_s"),
        min(when($"isf", $"s")).as("af"),
        min(when(!$"isf", $"s")).as("bf"),
        count(when($"isf", 1)).as("a_flows"),
        sum(when($"isf", $"ibyt")).as("a_bytes"),
        sum(when($"isf", $"ipkt")).as("a_pkts"),
        count(when(!$"isf", 1)).as("b_flows"),
        sum(when(!$"isf", $"ibyt")).as("b_bytes"),
        sum(when(!$"isf", $"ipkt")).as("b_pkts"))
    val cliA = $"bf".isNull || ($"af".isNotNull && $"af" <= $"bf")
    conv.select(
      when(cliA, $"a1").otherwise($"a2").as("client"),
      when(cliA, $"p1").otherwise($"p2").as("client_port"),
      when(cliA, $"a2").otherwise($"a1").as("server"),
      when(cliA, $"p2").otherwise($"p1").as("server_port"),
      $"pr",
      when(cliA, $"a_flows").otherwise($"b_flows").as("fwd_flows"),
      coalesce(when(cliA, $"a_bytes").otherwise($"b_bytes"), lit(0L)).as("fwd_bytes"),
      coalesce(when(cliA, $"a_pkts").otherwise($"b_pkts"), lit(0L)).as("fwd_pkts"),
      when(cliA, $"b_flows").otherwise($"a_flows").as("rev_flows"),
      coalesce(when(cliA, $"b_bytes").otherwise($"a_bytes"), lit(0L)).as("rev_bytes"),
      coalesce(when(cliA, $"b_pkts").otherwise($"a_pkts"), lit(0L)).as("rev_pkts"),
      $"first_s", $"last_s")
  }

  def cdcUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val latest = eventsStream(spark, dir)
      .where(pmod($"user_id", lit(10)) === 0)
      .select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("k"),
        $"ts", $"event_id", $"value",
        ($"event_type" === "error").as("is_delete"))
      .groupBy($"user_id", $"k")
      .agg(max(struct($"ts", $"event_id", $"value", $"is_delete")).as("last"))
    drain(latest, "complete", "stream_cdc_upsert")
      .where(!$"last.is_delete")
      .select($"user_id", $"k",
        $"last.event_id".as("event_id"), $"last.value".as("value"))
      .orderBy($"user_id", $"k")
  }

  /** E15: streaming approximate distinct (`stream_distinct_hll`) —
    * running distinct-user counts per event type with the
    * [[graft.functions.HllAgg]] register block as the STREAMING
    * aggregation state: complete-mode groupBy whose state store
    * holds one 512-byte register array per group forever, merged
    * per micro-batch exactly like map-side partials (elementwise
    * max is what makes HLL a valid streaming accumulator). The
    * COUNT(DISTINCT) twin of E12's KLL quantile state — exact
    * distinct in a stream needs unbounded per-key sets; the sketch
    * holds O(1) state per group at any stream length. Graded the
    * B18 way: exact counts from the batch twin (oracle-replayed) +
    * a within_bound verdict on the drained sketch estimate.
    */
  /** E21: streaming KMV distinct (`stream_distinct_kmv`) — E15's
    * shape with the theta sketch: per event type, a complete-mode
    * kmv_sketch over the user stream (O(k) longs per group in the
    * state store, capped-set merge per batch). Unlike E15's HLL —
    * which the oracle can only bound — the md5-derandomized KMV
    * estimate is REPLAYED by the oracle and hash-checked exactly,
    * and the final sketch also feeds B59/B60-style set algebra
    * across groups downstream.
    */
  def distinctKmv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sk = drain(eventsStream(spark, dir)
      .groupBy($"event_type")
      .agg(graft.functions.KmvAgg.kmv_sketch(
        $"user_id".cast("string"), 256).as("sk")),
      "complete", "stream_distinct_kmv")
      .select($"event_type",
        round(graft.functions.KmvAgg.kmv_estimate($"sk"), 4).as("est_r"))
    val exact = graft.Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
    sk.join(exact, "event_type")
      .select($"event_type", $"exact_users", $"est_r")
      .orderBy($"event_type")
  }

  /** E22: streaming LPM enrichment (`stream_lpm_enrich`) — B58's
    * routing-table join running ON the stream: the same broadcast
    * join per mask length + map-side coalesce rides each micro-batch
    * (stream-static enrichment with the static side broadcast — E3's
    * pattern, here GRADED), feeding a complete-mode per-route
    * rollup. Distinct hosts per route use the KMV sketch — exact
    * count-distinct is unsupported in streaming aggregation, HLL is
    * only boundable, but the md5-derandomized KMV estimate is
    * REPLAYED by the oracle and hash-checked exactly.
    */
  def lpmEnrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labeled = graft.flow.FlowAnalytics.lpmLabeled(
      graft.flow.FlowAnalytics.flowsOf(eventsStream(spark, dir)))
    val routes = labeled
      .groupBy($"src_label", $"matched_len", $"dst_label")
      .agg(count(lit(1)).as("n_flows"), sum($"ibyt").as("bytes"),
        graft.functions.KmvAgg.kmv_sketch($"sa", 256).as("sk"))
    drain(routes, "complete", "stream_lpm_enrich")
      .select($"src_label", $"matched_len", $"dst_label",
        $"n_flows", $"bytes",
        round(graft.functions.KmvAgg.kmv_estimate($"sk"), 4)
          .as("n_src_est_r"))
      .orderBy($"src_label")
  }

  /** E22b: streaming IPv6 LPM enrichment (`stream_lpm6_enrich`) —
    * B58b running ON the stream, completing the dual-stack story E22
    * starts: the per-mask-length broadcast joins on the codegen'd
    * `ip6_net` 16-byte network key ride each micro-batch (static side
    * broadcast, no stream-side shuffle before the rollup), feeding
    * the same complete-mode per-route rollup with the replayable KMV
    * distinct-host sketch — here over the v6 address.
    */
  def lpm6Enrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labeled = graft.flow.FlowAnalytics.lpm6Labeled(
      graft.flow.FlowAnalytics.flowsOf(eventsStream(spark, dir)))
    val routes = labeled
      .groupBy($"src_label", $"matched_len")
      .agg(count(lit(1)).as("n_flows"), sum($"ibyt").as("bytes"),
        graft.functions.KmvAgg.kmv_sketch($"sa6", 256).as("sk"))
    drain(routes, "complete", "stream_lpm6_enrich")
      .select($"src_label", $"matched_len", $"n_flows", $"bytes",
        round(graft.functions.KmvAgg.kmv_estimate($"sk"), 4)
          .as("n_src_est_r"))
      .orderBy($"src_label")
  }

  /** E23: streaming ANN ingest routing (`stream_ann_route`) — the
    * vector-store INGEST face: arriving embeddings are assigned to
    * their IVF cell against the PUBLISHED index (the lake/session-
    * staged trained centroids, [[graft.ann.Knn.servedCentroids]]) as
    * they stream in — no retraining per batch, no stream-side
    * shuffle: the argmax is map-side against the broadcast centroid
    * array, the same E3 stream-static pattern the LPM enrichments
    * use. At 100 TB/day this is how an ANN index absorbs new data:
    * route on ingest, persist routed rows cell-partitioned, retrain
    * centroids only per corpus snapshot. Assignment is deterministic
    * (argmax over (score, −cid)), so the drained append output IS the
    * batch assignment and the oracle replays training + routing.
    */
  def annRoute(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sp = spool(spark, dir, "embeddings")
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(sp)
      .select($"vec_id", $"embedding")
    val cents = graft.ann.Knn.servedCentroids(spark, dir)
    val routed = graft.ann.Knn.routeAgainstIndex(stream, cents)
      .select($"vec_id", $"cid", $"cscore_r")
    drain(routed, "append", "stream_ann_route").orderBy($"vec_id")
  }

  def distinctHll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = graft.flow.FlowAnalytics.HllP
    val sk = drain(eventsStream(spark, dir)
      .groupBy($"event_type")
      .agg(graft.functions.HllAgg.hll_sketch(
        $"user_id".cast("string"), p).as("sk")),
      "complete", "stream_distinct_hll")
      .select($"event_type",
        graft.functions.HllAgg.hll_estimate($"sk", p).as("est"))
    val exact = graft.Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
    sk.join(exact, "event_type")
      .select($"event_type", $"exact_users",
        (abs($"est" - $"exact_users") / $"exact_users" < 0.1)
          .as("within_bound"))
      .orderBy($"event_type")
  }

  /** State partitions for the graded single-drain harness streams.
    *
    * A stateful operator instantiates one state store per shuffle
    * partition per store; the session's batch setting (32) gave the
    * interval join 4 stores × 32 = 128 state-store instances for a
    * one-file drain, and store setup/commit — not data — dominated
    * every stateful harness (measured: interval join 5.7 → 2.3 s,
    * biflow 4.0 → 2.8, minhash gate 5.3 → 4.0 at 8 partitions). At
    * production volume this knob goes UP with the stream's key
    * cardinality — state partitioning is sized to the STREAM, not
    * inherited from the session's batch shuffle width, which is the
    * actual point: the two workloads want different widths.
    */
  val StreamStatePartitions = 8

  /** Read/set/restore of the session-global shuffle-partitions conf is
    * not atomic, so wrapped streams serialize on the session: without
    * the lock, a concurrent query in the same SparkSession could plan
    * with the stream width (8) or have its own setting clobbered by
    * the finally-restore. Batch queries outside this wrapper don't
    * take the lock — the graded entry points run sequentially by the
    * Bench/Verify/driver contract, and the lock closes the
    * two-wrapped-streams race that contract doesn't cover.
    */
  private def withStreamPartitions(spark: SparkSession)(
      f: => DataFrame): DataFrame = spark.synchronized {
    withConf(spark, "spark.sql.shuffle.partitions", StreamStatePartitions.toString)(f)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = rawQueries
    .map { case (name, fn) =>
      name -> ((s: SparkSession, d: String) => withStreamPartitions(s)(fn(s, d)))
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_holt_forecast" -> holtForecast _,
    "stream_silence_watch" -> silenceWatch _,
    "stream_ewma_forecast" -> ewmaForecast _,
    "stream_distinct_kmv" -> distinctKmv _,
    "stream_lpm_enrich" -> lpmEnrich _,
    "stream_lpm6_enrich" -> lpm6Enrich _,
    "stream_ann_route" -> annRoute _,
    "stream_distinct_hll" -> distinctHll _,
    "stream_cdc_upsert" -> cdcUpsert _,
    "stream_biflow_stitch" -> biflowStitch _,
    "stream_interval_join" -> intervalJoin _,
    "stream_value_quantiles" -> valueQuantiles _,
    "stream_quality_gate" -> qualityGate _,
    "stream_bloom_gate" -> bloomGate _,
    "stream_minhash_gate" -> minhashGate _,
    "stream_window_agg" -> windowAgg _,
    "stream_running_totals" -> runningTotals _,
    "stream_sessions_agg" -> sessionAgg _,
    "stream_session_timer" -> sessionTimer _,
    "stream_dedup_first" -> dedupFirst _,
    "stream_rate_limit" -> rateLimitGate _,
    "stream_topk" -> topKApprox _,
    "stream_topk_decayed" -> topkDecayed _,
    "stream_decontaminate" -> decontaminate _)

  /** Oracle: batch tumbling-window agg, keeping only windows whose end
    * is ≤ the final watermark (max ts − 10 min) — the append-mode
    * emission rule.
    */
  val oracleSql: Map[String, String] = Map(
    // E4b: inner interval joins emit every matching pair exactly once
    // once both legs arrive, so the drained stream IS the batch join
    "stream_interval_join" ->
      """SELECT r.event_id AS view_id, r.user_id, r.ts AS view_ts,
        |  s.event_id AS purchase_id, s.ts AS purchase_ts,
        |  s.value AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'view') r
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') s
        |  ON r.user_id = s.user_id
        |  AND s.ts >= r.ts AND s.ts <= r.ts + INTERVAL 2 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin,
    // E22: closed-form LPM labels + exact counts + the KMV host
    // estimate replayed per route
    "stream_lpm_enrich" -> (graft.flow.FlowAnalytics.flowsCte +
      """, enr AS (
        |  SELECT CASE WHEN (event_id // 256) % 256 < 4
        |      THEN 'rack-' || (user_id % 64) || '-' || ((event_id // 256) % 256)
        |      ELSE 'site-' || (user_id % 64) END AS src_label,
        |    CAST(CASE WHEN (event_id // 256) % 256 < 4 THEN 24 ELSE 16 END
        |      AS INT) AS matched_len,
        |    'internet' AS dst_label, sa, ibyt
        |  FROM flows),
        |uu AS (SELECT DISTINCT src_label, matched_len, dst_label, sa
        |       FROM enr),
        |hh AS (SELECT src_label, matched_len, dst_label,
        |    ('0x' || substr(md5(sa), 1, 15))::BIGINT AS h
        |  FROM uu),
        |rk AS (SELECT src_label, matched_len, dst_label, h,
        |    row_number() OVER (PARTITION BY src_label, matched_len,
        |      dst_label ORDER BY h) AS rn
        |  FROM hh),
        |sth AS (
        |  SELECT src_label, matched_len, dst_label, count(*) AS ns,
        |    max(CASE WHEN rn = 256 THEN h END) AS th
        |  FROM rk WHERE rn <= 256 GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT src_label, matched_len, dst_label,
        |    count(*) AS n_flows, CAST(sum(ibyt) AS BIGINT) AS bytes
        |  FROM enr GROUP BY 1, 2, 3)
        |SELECT a.src_label, a.matched_len, a.dst_label, a.n_flows, a.bytes,
        |  round(CASE WHEN s.ns < 256 THEN CAST(s.ns AS DOUBLE)
        |    ELSE (CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
        |      / CAST(s.th AS DOUBLE) END, 4) AS n_src_est_r
        |FROM agg a JOIN sth s USING (src_label, matched_len, dst_label)
        |ORDER BY a.src_label""".stripMargin),
    // E22b: closed-form v6 labels (mirrors flow_lpm6_enrich) + the KMV
    // host estimate replayed per route over sa6
    "stream_lpm6_enrich" -> (graft.flow.FlowAnalytics.flowsCte +
      """, enr6 AS (
        |  SELECT CASE
        |      WHEN user_id % 64 < 48 AND (event_id % 65536) // 4096 < 4
        |        THEN 'rack6-' || (user_id % 64) || '-' || ((event_id % 65536) // 4096)
        |      WHEN user_id % 64 < 48 THEN 'site6-' || (user_id % 64)
        |      ELSE 'internet6' END AS src_label,
        |    CAST(CASE
        |      WHEN user_id % 64 < 48 AND (event_id % 65536) // 4096 < 4 THEN 116
        |      WHEN user_id % 64 < 48 THEN 48 ELSE 0 END AS INT) AS matched_len,
        |    sa6, ibyt
        |  FROM flows),
        |uu6 AS (SELECT DISTINCT src_label, matched_len, sa6 FROM enr6),
        |hh6 AS (SELECT src_label, matched_len,
        |    ('0x' || substr(md5(sa6), 1, 15))::BIGINT AS h
        |  FROM uu6),
        |rk6 AS (SELECT src_label, matched_len, h,
        |    row_number() OVER (PARTITION BY src_label, matched_len
        |      ORDER BY h) AS rn
        |  FROM hh6),
        |sth6 AS (
        |  SELECT src_label, matched_len, count(*) AS ns,
        |    max(CASE WHEN rn = 256 THEN h END) AS th
        |  FROM rk6 WHERE rn <= 256 GROUP BY 1, 2),
        |agg6 AS (
        |  SELECT src_label, matched_len,
        |    count(*) AS n_flows, CAST(sum(ibyt) AS BIGINT) AS bytes
        |  FROM enr6 GROUP BY 1, 2)
        |SELECT a.src_label, a.matched_len, a.n_flows, a.bytes,
        |  round(CASE WHEN s.ns < 256 THEN CAST(s.ns AS DOUBLE)
        |    ELSE (CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
        |      / CAST(s.th AS DOUBLE) END, 4) AS n_src_est_r
        |FROM agg6 a JOIN sth6 s USING (src_label, matched_len)
        |ORDER BY a.src_label""".stripMargin),
    // E23: deterministic route assignment — training + argmax replayed
    "stream_ann_route" -> graft.ann.Knn.annRouteStreamSql,
    // E21: the KMV estimate replayed exactly (ORDER BY/LIMIT k)
    "stream_distinct_kmv" ->
      """WITH uu AS (
        |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS u
        |  FROM events),
        |hh AS (SELECT event_type,
        |    ('0x' || substr(md5(u), 1, 15))::BIGINT AS h
        |  FROM uu),
        |rk AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM hh),
        |sth AS (
        |  SELECT event_type, count(*) AS ns,
        |    max(CASE WHEN rn = 256 THEN h END) AS th
        |  FROM rk WHERE rn <= 256 GROUP BY 1),
        |ex AS (SELECT event_type, count(*) AS exact_users
        |       FROM uu GROUP BY 1)
        |SELECT s.event_type, ex.exact_users,
        |  round(CASE WHEN s.ns < 256 THEN CAST(s.ns AS DOUBLE)
        |    ELSE (CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
        |      / CAST(s.th AS DOUBLE) END, 4) AS est_r
        |FROM sth s JOIN ex ON ex.event_type = s.event_type
        |ORDER BY s.event_type""".stripMargin,
    // E20: the Holt state replayed from raw events in hour order —
    // the hash equality IS the proof the split open-ring/folded-state
    // design converges to the sequential from-scratch recursion
    "stream_holt_forecast" -> (graft.flow.FlowAnalytics.flowsCte
      .replaceFirst("^WITH ", "WITH RECURSIVE ") +
      """, f AS (
        |  SELECT flowsrc, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    ibyt
        |  FROM flows),
        |hourly AS (
        |  SELECT flowsrc, h, CAST(sum(ibyt) AS BIGINT) AS cents
        |  FROM f GROUP BY 1, 2),
        |idx AS (
        |  SELECT flowsrc, cents,
        |    row_number() OVER (PARTITION BY flowsrc ORDER BY h) AS i
        |  FROM hourly),
        |cnt AS (SELECT flowsrc, max(i) AS n_hours FROM idx GROUP BY 1),
        |rec AS (
        |  SELECT flowsrc, i, CAST(cents AS DOUBLE) / 100.0 AS l,
        |    CAST(0 AS DOUBLE) AS b
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT h.flowsrc, h.i,
        |    0.5 * (CAST(h.cents AS DOUBLE) / 100.0) + 0.5 * (r.l + r.b),
        |    0.25 * ((0.5 * (CAST(h.cents AS DOUBLE) / 100.0)
        |      + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
        |  FROM rec r JOIN idx h ON h.flowsrc = r.flowsrc AND h.i = r.i + 1)
        |SELECT r.flowsrc, CAST(c.n_hours AS BIGINT) AS n_hours,
        |  round(r.l, 6) AS level_r, round(r.b, 6) AS trend_r,
        |  round(r.l + r.b, 6) AS fc1_r, round(r.l + 3.0 * r.b, 6) AS fc3_r
        |FROM rec r JOIN cnt c ON r.flowsrc = c.flowsrc AND r.i = c.n_hours
        |ORDER BY r.flowsrc""".stripMargin),
    // E19: session merge (gaps-and-islands, diff ≥ gap splits), client
    // rule and append emission (end ≤ max leg ts − lag) replayed from
    // the raw events — the same legs CTE as batch B52 plus event-time
    "stream_biflow_stitch" -> (graft.flow.FlowAnalytics.flowsCte +
      """, legs AS (
        |  SELECT sa AS src, da AS dst, sp AS spt, dp AS dpt, pr, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s, ibyt, ipkt
        |  FROM flows WHERE k % 3 <> 2
        |  UNION ALL
        |  SELECT da, sa, dp, sp, pr, ts + INTERVAL 1 SECOND,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 1,
        |    CAST(round(value * 250) AS BIGINT), (event_id % 500) + 1
        |  FROM flows WHERE k % 3 <> 1),
        |canon AS (
        |  SELECT
        |    CASE WHEN isf THEN src ELSE dst END AS a1,
        |    CASE WHEN isf THEN spt ELSE dpt END AS p1,
        |    CASE WHEN isf THEN dst ELSE src END AS a2,
        |    CASE WHEN isf THEN dpt ELSE spt END AS p2,
        |    pr, ts, s, ibyt, ipkt, isf
        |  FROM (SELECT *,
        |    (src < dst OR (src = dst AND spt <= dpt)) AS isf FROM legs)),
        |isl AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM canon
        |  WINDOW w AS (PARTITION BY a1, p1, a2, p2, pr ORDER BY ts)),
        |g AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY a1, p1, a2, p2, pr
        |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM isl),
        |sess AS (
        |  SELECT a1, p1, a2, p2, pr, sid,
        |    max(ts) AS last_ts,
        |    min(s) AS first_s, max(s) AS last_s,
        |    min(CASE WHEN isf THEN s END) AS af,
        |    min(CASE WHEN NOT isf THEN s END) AS bf,
        |    count(CASE WHEN isf THEN 1 END) AS a_flows,
        |    CAST(sum(CASE WHEN isf THEN ibyt END) AS BIGINT) AS a_bytes,
        |    CAST(sum(CASE WHEN isf THEN ipkt END) AS BIGINT) AS a_pkts,
        |    count(CASE WHEN NOT isf THEN 1 END) AS b_flows,
        |    CAST(sum(CASE WHEN NOT isf THEN ibyt END) AS BIGINT) AS b_bytes,
        |    CAST(sum(CASE WHEN NOT isf THEN ipkt END) AS BIGINT) AS b_pkts
        |  FROM g GROUP BY a1, p1, a2, p2, pr, sid),
        |emitted AS (
        |  SELECT *, (bf IS NULL OR (af IS NOT NULL AND af <= bf)) AS ca
        |  FROM sess
        |  WHERE last_ts + INTERVAL 30 MINUTE
        |    <= (SELECT max(ts) FROM legs) - INTERVAL 10 MINUTE)
        |SELECT
        |  CASE WHEN ca THEN a1 ELSE a2 END AS client,
        |  CASE WHEN ca THEN p1 ELSE p2 END AS client_port,
        |  CASE WHEN ca THEN a2 ELSE a1 END AS server,
        |  CASE WHEN ca THEN p2 ELSE p1 END AS server_port,
        |  pr,
        |  CASE WHEN ca THEN a_flows ELSE b_flows END AS fwd_flows,
        |  coalesce(CASE WHEN ca THEN a_bytes ELSE b_bytes END, 0) AS fwd_bytes,
        |  coalesce(CASE WHEN ca THEN a_pkts ELSE b_pkts END, 0) AS fwd_pkts,
        |  CASE WHEN ca THEN b_flows ELSE a_flows END AS rev_flows,
        |  coalesce(CASE WHEN ca THEN b_bytes ELSE a_bytes END, 0) AS rev_bytes,
        |  coalesce(CASE WHEN ca THEN b_pkts ELSE a_pkts END, 0) AS rev_pkts,
        |  first_s, last_s
        |FROM emitted
        |ORDER BY client, client_port, server, server_port, pr, first_s""".stripMargin),
    // E18: max-merge state replayed from raw events — last-seen hour
    // per site vs the global max, threshold in whole hours
    "stream_silence_watch" ->
      s"""WITH seen AS (
         |  SELECT '192.168.' || (CAST(props->>'k' AS BIGINT) % 256)
         |      || '.' || (user_id % 256) AS site,
         |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
         |  FROM events),
         |last AS (
         |  SELECT site, max(h) AS last_h, count(*) AS n_flows
         |  FROM seen GROUP BY site),
         |g AS (SELECT max(last_h) AS gmax FROM last)
         |SELECT site, n_flows, last_h, gmax - last_h AS silent_hours
         |FROM last, g
         |WHERE gmax - last_h >= $SilenceHours
         |ORDER BY site""".stripMargin,
    // E17: the EWMA ring's read-out replayed from raw events — per-pr
    // hourly volumes pivoted to the 24 lag slots of the NEXT hour,
    // weights/num/den in the same left-associative order as B26
    "stream_ewma_forecast" -> {
      val wts = graft.flow.FlowAnalytics.EwmaWeights
      val lags = 1 to graft.flow.FlowAnalytics.EwmaLags
      val piv = lags.map(j =>
        s"max(CASE WHEN h = hmax + 1 - $j THEN vol END) AS v$j").mkString(",\n    ")
      val num = lags.zip(wts).map { case (j, wt) =>
        s"CAST('$wt' AS DOUBLE) * CASE WHEN v$j > 0 THEN CAST(v$j AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"
      }.mkString(" + ")
      val den = lags.zip(wts).map { case (j, wt) =>
        s"CASE WHEN v$j > 0 THEN CAST('$wt' AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"
      }.mkString(" + ")
      val nb = lags.map(j => s"CASE WHEN v$j > 0 THEN 1 ELSE 0 END").mkString(" + ")
      graft.flow.FlowAnalytics.flowsCte +
        s""", f AS (
           |  SELECT pr, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, ibyt
           |  FROM flows),
           |hv AS (SELECT pr, h, CAST(sum(ibyt) AS BIGINT) AS vol
           |       FROM f GROUP BY pr, h),
           |tm AS (SELECT pr, max(h) AS hmax FROM hv GROUP BY pr),
           |piv AS (
           |  SELECT hv.pr, max(hmax) AS hmax,
           |    $piv
           |  FROM hv JOIN tm USING (pr) GROUP BY hv.pr)
           |SELECT pr, hmax + 1 AS next_h,
           |  CAST($nb AS BIGINT) AS n_base,
           |  round(($num) / ($den), 6) AS forecast_r
           |FROM piv WHERE $nb >= 12 ORDER BY pr""".stripMargin
    },
    // E16: the ring state's read-out replayed from raw events in pure
    // integer arithmetic (hour buckets, dyadic shift weights) — the
    // hash equality IS the proof the incremental decay-then-add state
    // converges to the from-scratch computation
    "stream_topk_decayed" -> (graft.flow.FlowAnalytics.flowsCte +
      s""", f AS (
         |  SELECT '10.' || (user_id % 64) AS site,
         |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, ibyt
         |  FROM flows),
         |tm AS (SELECT max(h) AS hmax FROM f),
         |st AS (
         |  SELECT site, count(*) AS n_flows,
         |    CAST(sum(ibyt) AS BIGINT) AS raw_bytes
         |  FROM f GROUP BY site),
         |b AS (
         |  SELECT site, hmax - h AS age, CAST(sum(ibyt) AS BIGINT) AS bs
         |  FROM f, tm WHERE hmax - h < ${DecayWindowH} GROUP BY 1, 2),
         |d AS (
         |  SELECT site, CAST(sum(
         |      CASE WHEN age <= ${DecayQShift}
         |        THEN bs * (CAST(1 AS BIGINT) << CAST(${DecayQShift} - age AS INT))
         |        ELSE bs // (CAST(1 AS BIGINT) << CAST(age - ${DecayQShift} AS INT))
         |      END) AS BIGINT) AS decayed_q20
         |  FROM b GROUP BY site)
         |SELECT st.site, n_flows, raw_bytes,
         |  coalesce(decayed_q20, 0) AS decayed_q20
         |FROM st LEFT JOIN d USING (site)
         |ORDER BY decayed_q20 DESC, st.site LIMIT 10""".stripMargin),
    "stream_distinct_hll" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the streaming compaction must land on exactly the batch C26
    // state — share its oracle so any divergence hash-fails
    "stream_cdc_upsert" ->
      graft.queries.Relational.oracleSql("cdc_latest_upsert"),
    "stream_value_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS exact_p50_r,
        |  round(quantile_cont(value, 0.99), 6) AS exact_p99_r,
        |  TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_quality_gate" -> graft.text.TextAnalytics.qualityGateSql,
    "stream_bloom_gate" -> {
      val m = graft.dedup.Dedup.BloomBits
      val k = graft.dedup.Dedup.BloomHashes
      s"""WITH inc AS (
         |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 30000 AS doc_id, text || ' incoming fresh suffix' AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |setpos AS (
         |  SELECT DISTINCT
         |    ('0x' || substr(md5(i || ':' || md5(text)), 1, 15))::BIGINT % $m AS pos
         |  FROM documents, range(0, $k) t(i)),
         |probe AS (SELECT doc_id, md5(text) AS h FROM inc),
         |cand AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(i || ':' || h), 1, 15))::BIGINT % $m AS pos
         |  FROM probe, range(0, $k) t(i)),
         |hits AS (
         |  SELECT c.doc_id, bool_and(s.pos IS NOT NULL) AS flagged
         |  FROM cand c LEFT JOIN setpos s USING (pos) GROUP BY c.doc_id)
         |SELECT doc_id, flagged FROM hits ORDER BY doc_id""".stripMargin
    },
    "stream_minhash_gate" -> {
      // E10 = D23b's CTE chain, verdict = max over band-collision rows
      // (identical to max over distinct pairs — duplicates can't move
      // a max), the single-stateful-operator streaming form
      val n = graft.dedup.Dedup.NumHashes
      graft.dedup.Dedup.minhashIncCtes +
        s""", coll AS (
           |  SELECT n.doc_id,
           |    CAST(len(list_filter(range(1, $n + 1),
           |      i -> n.minhashes[i] = o.minhashes[i])) AS DOUBLE) / $n AS est
           |  FROM bands n JOIN okept o
           |    ON n.band_id = o.band_id AND n.band_hash = o.band_hash
           |   AND n.is_new = 1),
           |agg AS (
           |  SELECT doc_id, max(est) AS best_est FROM coll GROUP BY doc_id)
           |SELECT i.doc_id, a.best_est,
           |  coalesce(a.best_est >= ${graft.dedup.Dedup.IncThreshold}, false) AS is_dup
           |FROM inc i LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    "stream_topk" ->
      """SELECT CAST(row_number() OVER (ORDER BY est DESC, proto) AS BIGINT) AS rnk,
        |  proto, est
        |FROM (
        |  SELECT upper(event_type) AS proto, count(*) AS est
        |  FROM events GROUP BY 1)
        |ORDER BY rnk""".stripMargin,
    "stream_sessions_agg" ->
      """WITH s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 60 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |sess AS (
        |  SELECT user_id, min(ts) AS session_start,
        |    max(ts) + INTERVAL 60 MINUTE AS session_end,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS session_value
        |  FROM g GROUP BY user_id, sid)
        |SELECT user_id, session_start, session_end, n_events, session_value
        |FROM sess
        |WHERE session_end <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |ORDER BY user_id, session_start""".stripMargin,
    // E5b: identical session semantics and emission horizon to E7 —
    // the timer fires exactly when the window eviction would
    "stream_session_timer" ->
      """WITH s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 60 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |sess AS (
        |  SELECT user_id, min(ts) AS session_start,
        |    max(ts) + INTERVAL 60 MINUTE AS session_end,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS session_value
        |  FROM g GROUP BY user_id, sid)
        |SELECT user_id, session_start, session_end, n_events, session_value
        |FROM sess
        |WHERE session_end <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |ORDER BY user_id, session_start""".stripMargin,
    // E2: the emitted columns are the dedup key, so the drained output
    // is the key multiset's distinct set (batch keep-first, D1 shape)
    "stream_dedup_first" ->
      """SELECT DISTINCT user_id, event_type,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |FROM events ORDER BY user_id, event_type, day""".stripMargin,
    "stream_rate_limit" -> rateLimitGateSql,
    "stream_running_totals" ->
      """SELECT event_type, count(*) AS n,
        |  max(user_id) AS max_user,
        |  CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_window_agg" ->
      """WITH w AS (
        |  SELECT date_trunc('hour', ts) AS win_start, event_type,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT win_start, event_type, n, sum_value FROM w
        |WHERE win_start + INTERVAL 1 HOUR <=
        |  (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |ORDER BY win_start, event_type""".stripMargin,
    "stream_decontaminate" -> {
      val k = graft.dedup.Dedup.ContamPhraseTokens
      s"""WITH pt AS (
         |  SELECT doc_id AS bench_id, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n
         |  FROM documents WHERE doc_id % 50 = 0),
         |phrases AS (
         |  SELECT bench_id, array_to_string(
         |    toks[(n // 2 - ${k / 2}) : (n // 2 + ${k / 2 - 1})], ' ') AS phrase
         |  FROM pt WHERE n >= ${k + 4}),
         |t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, p, array_to_string(toks[p : p + ${k - 1}], ' ') AS phrase
         |  FROM (
         |    SELECT doc_id, toks, unnest(range(1, n - ${k - 2})) AS p
         |    FROM t WHERE n >= $k))
         |SELECT g.doc_id, ph.bench_id, g.p
         |FROM g JOIN phrases ph USING (phrase)
         |ORDER BY doc_id, bench_id, p""".stripMargin
    })
}
