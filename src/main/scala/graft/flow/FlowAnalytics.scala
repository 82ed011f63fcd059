package graft.flow

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.{davg, dsum}
import graft.functions.IpFuncs._

/** Flow analytics (SURVEY §2 A7/B1–B8): the query surface the
  * reference's users run in ClickHouse/Grafana over `nflows`, driven
  * here by the `events` table re-shaped into flow records.
  *
  * The re-shape ([[asFlows]]) is pure deterministic arithmetic on
  * (event_id, user_id, props.k, value), so every query — including the
  * ones exercising the custom IP Catalyst expressions — has an exact
  * closed-form DuckDB oracle.
  *
  * Scale notes: every aggregation is a partial-agg → final-agg pair on
  * the group key (map-side combine); top-N goes through
  * TakeOrderedAndProject; nothing collects to the driver.
  */
object FlowAnalytics {

  /** events → flow-shaped frame: src/dst IPv4 strings, ports, bytes.
    * sa octets: 10 . user_id%64 . (event_id div 256)%256 . event_id%256
    * da octets: 192.168 . k%256 . user_id%256
    *
    * Served from the session's materialized flows view of the current
    * `events.parquet` snapshot ([[flowsResolved]]); each call gets its
    * own fresh-id instance of it, so two calls join like two reads.
    */
  def asFlows(spark: SparkSession, dir: String): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.freshInstance(spark,
      flowsResolved(spark, s"$dir/events.parquet")(flowsView(spark, dir)))

  /** The materialized flows view per (session, events snapshot), the
    * `nflows` table every dashboard query reads: one disk-backed
    * columnar copy of [[flowsOf]] over `events`, so a panel scans
    * ready flow columns instead of re-decoding the parquet,
    * re-parsing `props` and re-concatenating the address strings for
    * every row. The data is written by the first query that scans it
    * and kept for the snapshot's life: a moved fingerprint or the
    * session's end drops it and frees its blocks.
    */
  private[graft] val flowsResolved =
    new graft.Staging.SnapshotMemo[InMemoryRelation](_.cacheBuilder.clearCache(blocking = true))

  /** The unmaterialized view of the current snapshot's flows
    * ([[graft.plans.DiskViews]]: reachable only through
    * [[flowsResolved]]). It computes every column for every row, also
    * columns a query does not read; [[flowsOf]] is total on valid
    * `events` — `props.k`, when present, is an integer and
    * `value * 100` fits a long — so no ANSI cast fails.
    */
  private[graft] def flowsView(spark: SparkSession, dir: String): InMemoryRelation =
    graft.plans.DiskViews(flowsOf(graft.Tables.events(spark, dir)), s"flows of $dir/events.parquet")

  /** The events→flows mapping over ANY events frame — pure column
    * ops, so it composes onto the streaming source too (E19).
    */
  private[graft] def flowsOf(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .withColumn("sa", concat(
        lit("10."), pmod($"user_id", lit(64)),
        lit("."), pmod(expr("event_id div 256"), lit(256)),
        lit("."), pmod($"event_id", lit(256))))
      .withColumn("da", concat(
        lit("192.168."), pmod($"k", lit(256)), lit("."), pmod($"user_id", lit(256))))
      // dual-stack: a deterministic v6 source for the same flow —
      // 2001:db8:<user_id%64 hex>::<event_id%65536 hex>
      .withColumn("sa6", concat(
        lit("2001:db8:"), lower(hex(pmod($"user_id", lit(64)))),
        lit("::"), lower(hex(pmod($"event_id", lit(65536))))))
      // per-watcher collector tag (the reference's flowsrc ini key)
      .withColumn("flowsrc", concat(lit("nfsen-"), pmod($"k", lit(3))))
      .withColumn("sp", pmod($"event_id", lit(60000)).cast("int"))
      .withColumn("dp", when($"event_type" === "click", 443)
        .when($"event_type" === "view", 80)
        .when($"event_type" === "purchase", 8443)
        .when($"event_type" === "signup", 8080)
        .otherwise(53).cast("int"))
      .withColumn("pr", upper($"event_type"))
      .withColumn("flg",
        when($"event_type" === "signup", ".A..S.")
          .when($"event_type" === "click", ".AP...")
          .when($"event_type" === "error", ".A.R..")
          .when($"event_type" === "purchase", ".AP.SF")
          .otherwise(".A...."))
      .withColumn("ibyt", round($"value" * 100).cast("long"))
      .withColumn("ipkt", pmod($"event_id", lit(1000)) + 1)
  }

  /** SQL fragment the oracles share — must stay in sync with asFlows. */
  val flowsCte: String =
    """WITH flows AS (
      |  SELECT event_id, ts, user_id, event_type, value,
      |    CAST(props->>'k' AS BIGINT) AS k,
      |    '10.' || (user_id % 64) || '.' || ((event_id // 256) % 256) || '.' || (event_id % 256) AS sa,
      |    '192.168.' || (CAST(props->>'k' AS BIGINT) % 256) || '.' || (user_id % 256) AS da,
      |    '2001:db8:' || lower(to_hex(user_id % 64)) || '::' || lower(to_hex(event_id % 65536)) AS sa6,
      |    'nfsen-' || (CAST(props->>'k' AS BIGINT) % 3) AS flowsrc,
      |    CAST(event_id % 60000 AS INT) AS sp,
      |    CAST(CASE event_type WHEN 'click' THEN 443 WHEN 'view' THEN 80
      |      WHEN 'purchase' THEN 8443 WHEN 'signup' THEN 8080 ELSE 53 END AS INT) AS dp,
      |    upper(event_type) AS pr,
      |    CASE event_type WHEN 'signup' THEN '.A..S.' WHEN 'click' THEN '.AP...'
      |      WHEN 'error' THEN '.A.R..' WHEN 'purchase' THEN '.AP.SF'
      |      ELSE '.A....' END AS flg,
      |    CAST(round(value * 100) AS BIGINT) AS ibyt,
      |    (event_id % 1000) + 1 AS ipkt
      |  FROM events)
      |""".stripMargin

  /** A1/A2 surface check: the flow re-shape itself, plus the numeric-IP
    * enrichment from the custom Catalyst expressions (ip4_aton must
    * equal the oracle's closed-form octet arithmetic).
    */
  def flowIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .withColumn("sa_num", ip4_aton($"sa"))
      .withColumn("sa_rt", ip4_ntoa(ip4_aton($"sa")))
      .select($"event_id".as("flow_id"), $"ts", $"sa", $"da", $"sp", $"dp",
        $"pr", $"ibyt", $"ipkt", $"sa_num", $"sa_rt")
      .orderBy($"flow_id")
  }

  /** A2: transform semantics — te/td reconstruction + pr normalize. */
  def flowTransform(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .withColumn("te", expr(
        "timestampadd(MICROSECOND, CAST(round(value * 1000000) AS LONG), ts)"))
      .withColumn("td", (unix_micros($"te".cast("timestamp")) -
        unix_micros($"ts".cast("timestamp"))) / lit(1e6))
      .select($"event_id".as("flow_id"), $"ts", $"te", $"td", $"pr")
      .orderBy($"flow_id")
  }

  /** A7: CIDR filtering through the codegen'd Ip4InCidr expression. */
  def flowCidrFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .where(ip4_in_cidr($"sa", lit("10.32.0.0/11")) && ip4_is_private($"da"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_flows"), dsum($"value").as("volume"))
      .orderBy($"user_id")
  }

  /** A7b: dual-stack — v6 CIDR filtering through the codegen'd
    * Ip6InCidr expression (literal CIDR parsed once at plan time) with
    * the RFC 5952 canonical form from the aton/ntoa roundtrip. The
    * oracle derives membership arithmetically (the /48 pins
    * user_id%64), so the whole v6 parse/format path is hash-checked.
    */
  def flowCidr6Filter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Ip6Funcs._
    asFlows(spark, dir)
      .where(ip6_in_cidr($"sa6", lit("2001:db8:2a::/48")))
      .select($"event_id".as("flow_id"),
        ip6_ntoa(ip6_aton($"sa6")).as("sa6_canon"),
        $"da", $"ibyt")
      .orderBy($"flow_id")
  }

  /** B1b: top destination ports by traffic — the other half of the
    * reference's Grafana top-N boards (dp breakdown next to talkers).
    */
  def topPorts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy($"dp")
      .agg(dsum($"ibyt", 0).as("bytes"), count(lit(1)).as("n_flows"),
        countDistinct($"sa").as("n_sources"))
      .orderBy($"bytes".desc, $"dp")
      .limit(10)
  }

  /** B1c: per-collector slice — the reference's whole point of the
    * `flowsrc` tag is slicing any query by capture source; volume and
    * reach per collector.
    */
  def bySource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy($"flowsrc")
      .agg(count(lit(1)).as("n_flows"), dsum($"ibyt", 0).as("bytes"),
        countDistinct($"sa").as("n_sources"),
        countDistinct(to_date($"ts")).cast("long").as("n_days"))
      .orderBy($"flowsrc")
  }

  /** A3 read side: daily volumes — at scale this is the partition-
    * pruned scan over the `date=` layout written by the sink.
    */
  def flowDailyVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy(to_date($"ts").as("date"))
      .agg(count(lit(1)).as("n_flows"), dsum($"ibyt", 0).as("bytes"),
        countDistinct($"user_id").as("n_sources"))
      .orderBy($"date")
  }

  /** B1: top-10 talkers by bytes. */
  def topTalkers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy($"sa")
      .agg(dsum($"ibyt", 0).as("bytes"), count(lit(1)).as("n_flows"))
      .orderBy($"bytes".desc, $"sa")
      .limit(10)
  }

  /** B1d: top conversations (`flow_top_conversations`) — nfdump's
    * `-s record` view: volume per ENDPOINT PAIR regardless of
    * direction, the panel that surfaces a single heavy transfer where
    * per-host top talkers smear it across both ends. The pair key is
    * canonicalized with least/greatest so request and reply rows land
    * in the same group; one combine-heavy groupBy, global top-10 via
    * TakeOrderedAndProject.
    */
  def topConversations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy(least($"sa", $"da").as("ep1"), greatest($"sa", $"da").as("ep2"))
      .agg(dsum($"ibyt", 0).as("bytes"), count(lit(1)).as("n_flows"))
      .orderBy($"bytes".desc, $"ep1", $"ep2")
      .limit(10)
  }

  /** B1e: bidirectional host totals (`flow_host_totals`) — nfdump's
    * `-s ip` statistic: per host, bytes SENT (as src) and RECEIVED
    * (as dst) plus the flow count touching it, top-10 by combined
    * volume. Map-side union of the two endpoint projections feeds one
    * combine-heavy groupBy — the corpus is read once, not once per
    * direction.
    */
  def hostTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = asFlows(spark, dir)
    f.select($"sa".as("host"), $"ibyt".as("out_b"), lit(0L).as("in_b"))
      .unionAll(f.select($"da".as("host"), lit(0L).as("out_b"), $"ibyt".as("in_b")))
      .groupBy($"host")
      .agg(dsum($"out_b", 0).as("bytes_out"), dsum($"in_b", 0).as("bytes_in"),
        count(lit(1)).as("n_flows"))
      .withColumn("bytes_total", $"bytes_out" + $"bytes_in")
      .orderBy($"bytes_total".desc, $"host")
      .limit(10)
  }

  /** B2: per-protocol traffic breakdown. */
  def protoBreakdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy($"pr")
      .agg(count(lit(1)).as("n_flows"), dsum($"ibyt", 0).as("bytes"),
        davg($"value").as("avg_value"),
        dsum($"ipkt", 0).as("pkts"))
      .orderBy($"pr")
  }

  /** B3: hourly traffic time series. */
  def timeSeries(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("n_flows"), dsum($"ibyt", 0).as("bytes"))
      .orderBy($"hour")
  }

  /** B3b: sliding-window time series — 1-hour windows every 15
    * minutes (each flow lands in 4 overlapping windows). Spark's
    * `window(slide)` explodes map-side into per-window rows then
    * partial-aggregates; the oracle reproduces the same 4-window
    * expansion arithmetically.
    */
  def timeSeriesSliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy(window($"ts", "1 hour", "15 minutes").as("win"))
      .agg(count(lit(1)).as("n_flows"), dsum($"ibyt", 0).as("bytes"))
      .select($"win.start".cast("timestamp_ntz").as("win_start"),
        $"n_flows", $"bytes")
      .orderBy($"win_start")
  }

  /** B3c: weekly traffic profile (`flow_weekday_profile`) — the
    * day-of-week × hour heatmap, the stock Grafana panel for spotting
    * off-hours traffic on a netflow dashboard. One combine-heavy
    * groupBy over ≤168 cells; dow is 1–7 with Sunday=1 (Spark's
    * convention — the oracle's 0-based dayofweek is shifted to
    * match).
    */
  def weekdayProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy(dayofweek($"ts").cast("long").as("dow"),
        hour($"ts").cast("long").as("hr"))
      .agg(count(lit(1)).as("n_flows"), dsum($"ibyt", 0).as("bytes"))
      .orderBy($"dow", $"hr")
  }

  /** B7b: native session windows — `session_window(ts, gap)` merges
    * events closer than the gap into one state-backed window (the
    * same sessionization as B7's lag/cumsum, as the engine-native
    * operator; boundary rule: a gap of exactly 1h starts a NEW
    * session, window end is exclusive).
    */
  def sessionsNative(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy($"user_id",
        session_window($"ts".cast("timestamp"), "1 hour").as("sw"))
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("session_value"))
      .select($"user_id",
        $"sw.start".cast("timestamp_ntz").as("session_start"),
        $"sw.end".cast("timestamp_ntz").as("session_end"),
        $"n_events", $"session_value")
      .orderBy($"user_id", $"session_start")
  }

  /** B11: approximate top-K — the SpaceSaving sketch behind ClickHouse
    * `topK(N)`, as a bounded-memory mergeable TypedImperativeAggregate.
    * Graded in the no-eviction regime (capacity 16 ≥ 5 protocols →
    * counts exact, err 0, deterministic), so the sketch faces the
    * oracle; eviction-regime error bounds are spec-verified.
    */
  def topKApprox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .agg(graft.functions.SpaceSavingAgg.space_saving($"pr", 16).as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.key".as("proto"), $"e.est", $"e.err")
      .orderBy($"est".desc, $"proto")
  }

  /** B12: sequence pattern matching — ClickHouse `sequenceMatch`:
    * did the user's ordered event stream contain signup → click →
    * purchase (in order, gaps allowed)?
    *
    * Expressed as a 3-state DFA via two prefix-max window passes over
    * ONE (user_id, ts, event_id) partitioning (the funnelSliding
    * pattern): a click advances iff some signup precedes it; a
    * purchase matches iff some advancing click precedes it. O(1) state
    * per row — no per-user collect_list, whose array would grow with a
    * single bot/NAT'd key's event count (single-task OOM at 100 TB).
    * The final per-user aggregation reuses the window's hash(user_id)
    * partitioning, so the whole query is one shuffle.
    */
  /** Generalized ordered-containment DFA: per key, does the
    * (orderCols)-ordered row stream contain rows satisfying
    * steps(0), …, steps(K−1) at strictly increasing positions? One
    * prefix-max window pass per step over ONE partitioning — Spark
    * stacks the K Window operators on a single sort, so the whole
    * match is one shuffle with O(1) state per row at any K, where a
    * per-key collect_list would grow with the hottest key's event
    * count.
    */
  private[graft] def orderedContainment(df: DataFrame, key: Column,
      orderCols: Seq[Column], steps: Seq[Column]): DataFrame = {
    require(steps.nonEmpty, "orderedContainment requires at least one step")
    val wPrev = Window.partitionBy(key).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val staged = steps.zipWithIndex.foldLeft(df) { case (cur, (p, j)) =>
      // hit_j: this row satisfies step j AND some strictly-earlier row
      // completed steps 0..j−1
      val hit =
        if (j == 0) p
        else p && max(when(col(s"_hit${j - 1}"), 1)).over(wPrev) === 1
      cur.withColumn(s"_hit$j", hit)
    }
    staged.groupBy(key)
      .agg(
        coalesce(max(col(s"_hit${steps.size - 1}")), lit(false)).as("matched"),
        count(lit(1)).as("n_events"))
  }

  def sequenceMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = asFlows(spark, dir).withColumn("i", substring($"event_type", 1, 1))
    orderedContainment(ev, $"user_id", Seq($"ts", $"event_id"),
      Seq($"i" === "s", $"i" === "c", $"i" === "p"))
      .orderBy($"user_id")
  }

  /** B12b: 4-step variant (signup → click → view → purchase) — the
    * same one-shuffle DFA at K=4; each added step is one more window
    * pass on the shared sort, not more per-row state.
    */
  def sequenceMatch4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = asFlows(spark, dir).withColumn("i", substring($"event_type", 1, 1))
    orderedContainment(ev, $"user_id", Seq($"ts", $"event_id"),
      Seq($"i" === "s", $"i" === "c", $"i" === "v", $"i" === "p"))
      .orderBy($"user_id")
  }

  /** B11b: weighted approximate top-K (ClickHouse `topKWeighted`) —
    * top protocols by BYTES at bounded memory; graded in the exact
    * regime like B11.
    */
  def topKWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .agg(graft.functions.SpaceSavingAgg
        .space_saving_weighted($"pr", $"ibyt", 16).as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.key".as("proto"), $"e.est", $"e.err")
      .orderBy($"est".desc, $"proto")
  }

  /** B13: fixed-width value histogram per protocol — the bucketed
    * distribution view behind latency/size dashboards; pure
    * combine-heavy aggregation.
    */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .withColumn("bucket", floor($"value" / 100.0).cast("long"))
      .groupBy($"pr", $"bucket")
      .agg(count(lit(1)).as("n"), dsum($"value").as("bucket_value"))
      .orderBy($"pr", $"bucket")
  }

  /** B14: per-talker time series for the top talkers — the composite
    * Grafana panel: find the top-5 sources by volume, then chart each
    * one's hourly traffic. Two-phase: global top-N (partial agg →
    * TakeOrdered), then a broadcast semi-join prunes the fact scan to
    * those sources before the series aggregation — the fact side
    * never shuffles for the filter.
    */
  def topTalkersSeries(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flows = asFlows(spark, dir)
    val top = flows.groupBy($"sa")
      .agg(dsum($"ibyt", 0).as("bytes"))
      .orderBy($"bytes".desc, $"sa")
      .limit(5)
      .select($"sa")
    flows.join(broadcast(top), Seq("sa"), "left_semi")
      .groupBy($"sa", date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("n_flows"), dsum($"ibyt", 0).as("bytes"))
      .orderBy($"sa", $"hour")
  }

  /** B15: protocol mix over time — the stacked-area dashboard series
    * (per-hour, per-proto volume shares).
    */
  def protoMixSeries(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"pr")
      .agg(count(lit(1)).as("n_flows"), dsum($"ibyt", 0).as("bytes"))
      .withColumn("hour_bytes",
        sum($"bytes").over(Window.partitionBy($"hour")))
      .withColumn("share", round($"bytes" / $"hour_bytes", 6))
      .select($"hour", $"pr", $"n_flows", $"bytes", $"share")
      .orderBy($"hour", $"pr")
  }

  /** B4: DDoS triage — fan-in: distinct sources per destination. */
  def fanIn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy($"da")
      .agg(countDistinct($"sa").as("n_sources"), count(lit(1)).as("n_flows"))
      .where($"n_sources" >= 5)
      .orderBy($"n_sources".desc, $"da")
  }

  /** B4c: TCP-flag triage — SYN-carrying flows per protocol (the
    * reference README's DDoS example: `flg LIKE '%S%'` in ClickHouse).
    */
  def flagFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .where($"flg".contains("S"))
      .groupBy($"pr", $"flg")
      .agg(count(lit(1)).as("n_flows"), countDistinct($"sa").as("n_sources"))
      .orderBy($"pr", $"flg")
  }

  /** B9: first-touch funnel: per user, how far through
    * signup → click → purchase they got with every step inside 7 days
    * of the user's FIRST signup. (ClickHouse `windowFunnel` slides the
    * anchor over every step-1 occurrence; this is the stricter
    * first-touch-attribution variant — a user whose chain completes
    * only from a later signup counts at the level their first-signup
    * window reached.)
    *
    * ONE corpus pass: the [[funnelSliding]] prefix-min window-DFA
    * pattern — three chained running-min passes over a single
    * (user_id, ts) partitioning carry each stage's first-touch state
    * to every row, then one partial-aggregated groupBy takes the
    * per-user max level. The previous shape read events FOUR times
    * (per-step filtered scans) and ran three join shuffles; at 100 TB
    * those are four corpus passes doing the work of one. Prefix-min
    * equals the global first-touch wherever it matters: a stage
    * qualifies only via strict `>` against the PREVIOUS stage's ts,
    * so by the time any row can qualify, its prefix already contains
    * that stage's first touch — equal-ts tie order can't flip
    * anything for the same reason.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    graft.Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_type")
      .withColumn("t1r", min(when($"event_type" === "signup", $"ts")).over(w))
      .withColumn("qc", when($"event_type" === "click" && $"t1r".isNotNull &&
        $"ts" > $"t1r" && $"ts" <= expr("t1r + INTERVAL 7 DAYS"), $"ts"))
      .withColumn("t2r", min($"qc").over(w))
      .withColumn("qp", when($"event_type" === "purchase" && $"t2r".isNotNull &&
        $"ts" > $"t2r" && $"ts" <= expr("t1r + INTERVAL 7 DAYS"), $"ts"))
      .groupBy($"user_id")
      .agg(max(when($"qp".isNotNull, 3).when($"qc".isNotNull, 2)
        .when($"event_type" === "signup", 1).otherwise(0)).as("funnel_level"))
      .groupBy($"funnel_level")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"funnel_level")
  }

  /** B9b: sliding-anchor funnel — exact ClickHouse `windowFunnel`
    * semantics: a user reaches level 3 if ANY signup anchors a window
    * with a later click and purchase inside it.
    *
    * Pure window-function algorithm, no joins: for each click, the
    * latest prior signup maximizes the window end, so a valid chain
    * exists for a purchase iff the prefix-max of (anchor + 7d) over
    * prior qualifying clicks covers it. Both window passes share one
    * (user_id, ts) partitioning → a single shuffle and a linear scan
    * per user — strictly better at 100 TB than per-anchor joins.
    */
  def funnelSliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wPrev = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    graft.Tables.events(spark, dir)
      .withColumn("a_latest",
        max(when($"event_type" === "signup", $"ts")).over(wPrev))
      .withColumn("wc",
        when($"event_type" === "click" && $"a_latest".isNotNull &&
          $"ts" <= expr("a_latest + INTERVAL 7 DAYS"),
          expr("a_latest + INTERVAL 7 DAYS")))
      .withColumn("prefwin", max($"wc").over(wPrev))
      .groupBy($"user_id")
      .agg(max(
        when($"event_type" === "purchase" && $"prefwin".isNotNull &&
          $"ts" <= $"prefwin", 3)
          .when($"wc".isNotNull, 2)
          .when($"event_type" === "signup", 1)
          .otherwise(0)).as("funnel_level"))
      .groupBy($"funnel_level")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"funnel_level")
  }

  /** B10: day-7 cohort retention (ClickHouse `retention`): per first-
    * seen day, how many users were also active exactly 7 days later.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val cohort = ev.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    cohort
      .join(ev.withColumnRenamed("day", "later_day"), Seq("user_id"), "left")
      .groupBy($"cohort_day")
      .agg(countDistinct($"user_id").as("n_users"),
        countDistinct(when($"later_day" === date_add($"cohort_day", 7), $"user_id"))
          .as("n_retained_d7"))
      .orderBy($"cohort_day")
  }

  /** B5: time-range + predicate scan (pushdown-verified in the spec). */
  def windowFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .where($"ts" >= lit("2024-01-10 00:00:00").cast("timestamp_ntz") &&
             $"ts" < lit("2024-01-11 00:00:00").cast("timestamp_ntz") &&
             $"dp" === 443 && $"ibyt" > 5000)
      .select($"event_id".as("flow_id"), $"ts", $"sa", $"da", $"ibyt")
      .orderBy($"flow_id")
  }

  /** B6: per-protocol exact value percentiles, from one sort of each
    * group's values (one array-valued `percentile`).
    */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy($"pr")
      .agg(percentile($"value", typedLit(Seq(0.5, 0.9, 0.99))).as("ps"))
      .select($"pr", $"ps"(0).as("p50"), $"ps"(1).as("p90"), $"ps"(2).as("p99"))
      .orderBy($"pr")
  }

  /** B7: gap-based sessionization (60-min inactivity) per user —
    * the lag/cumsum pattern, all inside two window passes over the
    * same (user_id, ts) partitioning so it stays one shuffle.
    */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val flows = asFlows(spark, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
          $"ts".cast("timestamp").cast("double") -
          $"prev_ts".cast("timestamp").cast("double") > 3600d, 1L)
        .otherwise(0L))
      .withColumn("session_id", sum($"new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flows.groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"), min($"ts").as("session_start"),
        max($"ts").as("session_end"), dsum($"value").as("session_value"))
      .orderBy($"user_id", $"session_id")
  }

  /** B16: beaconing detection (`flow_beaconing`) — C2 beacons call
    * home on a timer, so a beaconing host pair's inter-arrival gaps
    * are unusually REGULAR. Per (user_id, da) pair with ≥
    * [[BeaconMinFlows]] flows: gap series via one lag window
    * (shard-parallel on the pair key — no global sort), regularity =
    * coefficient of variation sqrt(Var g)/E g (scale-free: a 10 s and
    * a 10 min beacon score alike), low cv ranks first.
    *
    * Parity: moments are integer-exact — Σg as BIGINT and Σg² as
    * DECIMAL(38,0) (HUGEINT in the oracle) over micro-second gaps, so
    * shuffle order can't wobble the variance; the mean/var/cv chain is
    * then fixed-order double arithmetic, rounded 6 dp. A pair whose
    * gaps are all zero gets NULL cv in both engines.
    */
  val BeaconMinFlows = 5

  def beaconing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id", $"da").orderBy($"ts", $"event_id")
    asFlows(spark, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .where($"prev_ts".isNotNull)
      .withColumn("g", unix_micros($"ts".cast("timestamp")) -
        unix_micros($"prev_ts".cast("timestamp")))
      .groupBy($"user_id", $"da")
      .agg(count(lit(1)).as("n_gaps"),
        sum($"g").as("s"),
        sum($"g".cast(DecimalType(38, 0)) * $"g").as("s2"))
      .where($"n_gaps" >= BeaconMinFlows - 1)
      .withColumn("mean_us", $"s".cast("double") / $"n_gaps")
      .withColumn("var_us",
        greatest($"s2".cast("double") / $"n_gaps" - $"mean_us" * $"mean_us",
          lit(0.0)))
      .withColumn("cv_r",
        when($"mean_us" === 0d, lit(null).cast("double"))
          .otherwise(round(sqrt($"var_us") / $"mean_us", 6)))
      // mean gap to 6 dp via exact integer HALF_UP — round(s/(n·1e6), 6)
      // is round(s/n)/1e6, and s/n can land EXACTLY on a .5 µs
      // half-tie (measured at sf0.1: one n=5 group flipped the 6th dp
      // between engines' float round); (2s+n) div 2n has no float
      // rounding at all
      .select($"user_id", $"da", ($"n_gaps" + 1).as("n_flows"),
        (expr("(2 * s + n_gaps) div (2 * n_gaps)").cast("double") / 1e6)
          .as("mean_gap_s"), $"cv_r")
      .orderBy($"cv_r", $"user_id", $"da")
  }

  /** B17: port-scan detection (`flow_portscan`) — scans fan OUT: one
    * source touches many distinct (da, dp) targets inside a window
    * (the converse of [[fanIn]], windowed). Exact distinct-count per
    * (6 h window, source); the distinct expands map-side and
    * partial-aggregates, so the shuffle carries (win, user, target)
    * once each, never raw flows.
    */
  val ScanMinTargets = 4

  def portScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy(window($"ts", "6 hours").as("win"), $"user_id")
      .agg(countDistinct(concat($"da", lit(":"), $"dp")).as("n_targets"),
        count(lit(1)).as("n_flows"))
      .where($"n_targets" >= ScanMinTargets)
      .select($"win.start".cast("timestamp_ntz").as("win_start"),
        $"user_id", $"n_targets", $"n_flows")
      .orderBy($"win_start", $"user_id")
  }

  /** B8: heavy hitters — sources above an absolute volume threshold.
    * Pure two-phase aggregation; no sort of the full key space.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy($"sa", $"user_id")
      .agg(dsum($"ibyt", 0).as("bytes"))
      .where($"bytes" > 20000d)
      .orderBy($"bytes".desc, $"sa")
  }

  /** B1b: the salting pattern for skewed keys, spelled out — partial
    * aggregation under a deterministic salt, then the real key. On
    * uniform data it matches [[topTalkers]] exactly (same oracle); on
    * a skewed 100 TB key distribution the first stage fans one hot
    * key across `salt` reducers instead of one.
    */
  def topTalkersSalted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .withColumn("salt", pmod($"event_id", lit(8)))
      .groupBy($"sa", $"salt")
      .agg(sum($"ibyt").as("b_part"), count(lit(1)).as("n_part"))
      .groupBy($"sa")
      .agg(sum($"b_part").cast("decimal(28,0)").cast("double").as("bytes"),
        sum($"n_part").as("n_flows"))
      .orderBy($"bytes".desc, $"sa")
      .limit(10)
  }

  /** B4b: schema-on-read JSON — `from_json` into a typed struct (vs
    * the per-path `get_json_object` in [[asFlows]]), aggregated per
    * key decile.
    */
  def jsonPropsAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.events(spark, dir)
      .withColumn("p", from_json($"props",
        org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .groupBy(($"p.k" % 10).as("k_decile"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"k_decile")
  }

  /** B16: point-frequency estimation — the Count-Min sketch
    * ([[graft.functions.CmsAgg]]): "how many flows did THIS peer
    * send" for any peer, from a fixed d×w counter block instead of a
    * corpus-scale per-key count table. The complement of SpaceSaving
    * (B11, which finds the frequent keys but can't answer point
    * queries for arbitrary ones). Build is one combine-heavy pass
    * (partials merge by elementwise add — the shuffle carries one
    * d×w block per partition); probes hit the broadcast sketch
    * map-only. Width 256 against ~1000 users forces real collisions,
    * and the md5-derived row hashes mean the oracle rebuilds the
    * EXACT counters — overestimates included — so the estimate column
    * is hash-checked, not bounded-checked; `true_cnt` rides along to
    * exhibit the est ≥ true contract (spec-pinned alongside the
    * ε·N error bound).
    */
  val CmsDepth = 4
  val CmsWidth = 256

  def freqCms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
    val sk = ev.agg(graft.functions.CmsAgg.cms_sketch(
      $"user_id".cast("string"), CmsDepth, CmsWidth).as("sk"))
    ev.where($"user_id" < 20)
      .groupBy($"user_id").agg(count(lit(1)).as("true_cnt"))
      .crossJoin(broadcast(sk))
      .select($"user_id",
        graft.functions.CmsAgg.cms_query($"sk", $"user_id".cast("string")).as("est"),
        $"true_cnt")
      .orderBy($"user_id")
  }

  /** B17: Z-order locality — the data-skipping layout check for the
    * warehouse sink's z-ordered write path
    * ([[graft.sinks.PartitionedParquetSink.writeZOrdered]]): flows
    * keyed by the 2-D Morton interleave of (sp, dp), then per-chunk
    * min/max spans of BOTH dimensions along the key order — the
    * row-group stats a z-ordered file would carry. Tight spans on both
    * columns = a scan filtered on EITHER port can skip most chunks;
    * a single-column sort gives this for one dimension only. Chunking
    * rides a per-protocol row_number (no global single-reducer sort);
    * all integer math → exact oracle via DuckDB bit arithmetic.
    */
  val ZBits = 16
  val ZChunk = 500

  def zorderLocality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = asFlows(spark, dir).withColumn("zkey",
      graft.functions.StrFuncs.zorder2($"sp".cast("long"), $"dp".cast("long"), ZBits))
    val w = Window.partitionBy($"pr").orderBy($"zkey", $"event_id")
    f.withColumn("rn", row_number().over(w))
      .withColumn("chunk", expr(s"CAST((rn - 1) div $ZChunk AS BIGINT)"))
      .groupBy($"pr", $"chunk")
      .agg(count(lit(1)).as("n"),
        min($"sp").as("sp_min"), max($"sp").as("sp_max"),
        min($"dp").as("dp_min"), max($"dp").as("dp_max"),
        min($"zkey").as("z_min"), max($"zkey").as("z_max"))
      .orderBy($"pr", $"chunk")
  }

  /** B18: hash-verified approximate distinct — HyperLogLog with
    * md5-derived hashing ([[graft.functions.HllAgg]]): per-protocol
    * distinct-peer estimates from a constant 512-byte register block
    * (merge = elementwise max → map-side partials, one block per
    * partition crosses the shuffle at ANY key cardinality — the
    * reason approx-distinct exists at 100 TB). Unlike C14's
    * `approx_count_distinct` (whose internal HLL++ the oracle can't
    * replay → rows-only check), every piece here is derandomized:
    * the oracle rebuilds the registers in SQL and replays the
    * bias-corrected estimator double-op for double-op, so the
    * ESTIMATE column itself hash-matches. `exact_distinct` rides
    * along; the sketch-vs-exact error bound is spec-pinned.
    */
  val HllP = 9 // 512 registers

  def distinctHll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy($"event_type")
      .agg(
        graft.functions.HllAgg.hll_sketch($"user_id".cast("string"), HllP).as("sk"),
        countDistinct($"user_id").as("exact_distinct"))
      .select($"event_type",
        round(graft.functions.HllAgg.hll_estimate($"sk", HllP), 6).as("hll_est_r"),
        $"exact_distinct")
      .orderBy($"event_type")
  }

  /** B18b: sliding-window distinct via sketch REUSE
    * (`flow_distinct_hll_sliding`) — the payoff of a MERGEABLE
    * sketch: per-hour HLL register blocks are built from the raw scan
    * ONCE, then every 4-hour sliding window is a union (elementwise
    * max) of 4 hourly blocks via [[graft.functions.HllMergeAgg]]. The
    * explode-by-offset fan-out runs over SKETCHES (groups × 512 B),
    * never raw events — at 100 TB the alternative (re-counting
    * distinct per overlapping window) scans the corpus once per
    * window overlap. Register construction is md5-derandomized like
    * B18, so the oracle rebuilds each window's registers directly
    * from the events in range and the estimate hash-matches.
    */
  val HllSlideHours = 4

  def distinctHllSliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = graft.Tables.events(spark, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
      .agg(graft.functions.HllAgg.hll_sketch(
        $"user_id".cast("string"), HllP).as("sk"))
    hourly
      .select($"event_type", $"sk", $"hour",
        explode(sequence(lit(0), lit(HllSlideHours - 1))).as("k"))
      .select($"event_type", $"sk",
        expr("hour - make_interval(0, 0, 0, 0, k, 0, 0)").as("win_start"))
      .groupBy($"event_type", $"win_start")
      .agg(graft.functions.HllAgg.hll_merge($"sk", HllP).as("wsk"),
        count(lit(1)).as("n_hours"))
      .select($"event_type", $"win_start", $"n_hours",
        round(graft.functions.HllAgg.hll_estimate($"wsk", HllP), 6).as("hll_est_r"))
      .orderBy($"event_type", $"win_start")
  }

  /** B19: DDoS triage composite — the reference README's use case
    * rolled into one ranked suspicion list: per target address, fan-in
    * (distinct sources), SYN-flag ratio, and log-scaled volume
    * multiplied into a single score. One user_id-free groupBy(da) with
    * a single distinct agg; the score arithmetic is a fixed left-assoc
    * chain rounded 6 dp so both engines agree bit-for-bit (ln ulp).
    */
  def ddosScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy($"da")
      .agg(countDistinct($"sa").as("fan_in"),
        count(lit(1)).as("n_flows"),
        sum(when($"flg" === ".A..S.", 1).otherwise(0)).as("syn_n"),
        dsum($"value").as("bytes"))
      .where($"fan_in" >= 5)
      .select($"da", $"fan_in", $"n_flows",
        round($"syn_n".cast("double") / $"n_flows", 6).as("syn_ratio_r"),
        round($"fan_in".cast("double") * ($"syn_n".cast("double") / $"n_flows") *
          log(lit(1.0) + $"bytes"), 6).as("score_r"))
      .orderBy($"score_r".desc, $"da")
      .limit(20)
  }

  /** B11c: windowed sketch top-K — SpaceSaving per 6-hour tumbling
    * window (the "top talkers per dashboard panel" shape): sketches
    * build per (window, k) group with map-side partials exactly like
    * the global B11, so adding the time dimension costs nothing but
    * group count. Graded exact in the no-eviction regime (capacity 16
    * ≥ 5 protocols per window); the windowed eviction behavior is the
    * same code path SketchBoundsSpec bounds.
    */
  def topKWindowed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .groupBy(window($"ts".cast("timestamp"), "6 hours").as("w"))
      .agg(graft.functions.SpaceSavingAgg.space_saving($"pr", 16).as("tk"))
      .select($"w.start".cast("timestamp_ntz").as("win_start"),
        posexplode($"tk").as(Seq("pos", "e")))
      .where($"pos" < 3)
      .select($"win_start", ($"pos" + 1).cast("long").as("rnk"),
        $"e.key".as("proto"), $"e.est")
      .orderBy($"win_start", $"rnk")
  }

  /** B20: traffic anomaly detection — per-hour volume z-score against
    * the trailing 24-hour baseline (a RANGE-frame window, so sparse
    * hours don't shift the baseline): the alerting query behind the
    * reference's Grafana panels. Exact variance over the frame;
    * round(6) guards sqrt/division ulps; anomalous = |z| > 2 with at
    * least 12 baseline hours (cold-start suppression).
    */
  def anomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = asFlows(spark, dir)
      .groupBy(date_trunc("hour", $"ts").as("h"))
      .agg(dsum($"value").as("vol"))
    val w = Window.orderBy($"h".cast("timestamp").cast("long"))
      .rangeBetween(-24L * 3600, -3600)
    hourly
      .withColumn("n_base", count($"vol").over(w))
      .withColumn("mean_base", avg($"vol").over(w))
      .withColumn("sd_base", stddev_samp($"vol").over(w))
      .where($"n_base" >= 12 && $"sd_base" > 0)
      .withColumn("z_r", round(($"vol" - $"mean_base") / $"sd_base", 6))
      // flag off the ROUNDED z: the raw quotient can differ by an ulp
      // across engines (stddev accumulation order), the 6-dp value
      // can't
      .select($"h", $"vol", $"z_r", (abs($"z_r") > 2.0).as("anomalous"))
      .orderBy($"h")
  }

  // ------------------------------------------------------------- B26 EWMA

  /** EWMA smoothing parameters (B26): α = 0.3, truncated at 24 lagged
    * buckets. Weights are built by repeated DOUBLE multiplication (not
    * `pow`) so the oracle can replay the exact same IEEE values from
    * shortest-round-trip literals — `Math.pow` and libm `pow` are each
    * correctly-rounded-ish but not guaranteed bit-identical.
    */
  val EwmaAlpha = 0.3
  val EwmaLags = 24
  val EwmaWeights: IndexedSeq[Double] =
    Iterator.iterate(EwmaAlpha)(_ * (1.0 - EwmaAlpha)).take(EwmaLags).toIndexedSeq

  /** B26: EWMA one-step-ahead traffic forecast (`flow_ewma_forecast`)
    * — per-protocol hourly volume vs. the exponentially-weighted
    * moving average of the 24 PRECEDING buckets, the classic smoothed
    * baseline for surge alerting (z-score B20's complement: EWMA
    * tracks trend instead of assuming a stationary mean).
    *
    * Execution shape: one combine-heavy groupBy to the (pr, hour)
    * table (≤ protocols × hours rows — thousands, not corpus-sized),
    * then a single PARTITION BY pr window evaluating all 24 lags in
    * one WindowExec pass. The truncation to 24 lags is what makes the
    * operator exactly replayable (and the window frame bounded by
    * construction): untruncated EWMA needs (1-α)^(-t) terms that
    * overflow doubles past ~700 buckets. Missing buckets carry no
    * weight — the present-lag weight sum renormalizes, and a forecast
    * is only issued with ≥ 12 observed baseline buckets.
    *
    * Determinism contract with the oracle: weights are injected as
    * shortest-round-trip literals, both engines sum the 24 terms
    * left-associatively in the same order, and the published forecast
    * / ratio are round(6) so a final-ulp wobble cannot flip the hash.
    */
  def ewmaForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = asFlows(spark, dir)
      .groupBy($"pr", date_trunc("hour", $"ts").as("h"))
      .agg(dsum($"value").as("vol"))
    val w = Window.partitionBy($"pr").orderBy($"h")
    val lags = (1 to EwmaLags).map(j => lag($"vol", j).over(w))
    val num = lags.zip(EwmaWeights).map { case (l, wt) =>
      lit(wt) * coalesce(l, lit(0.0)) }.reduceLeft(_ + _)
    val den = lags.zip(EwmaWeights).map { case (l, wt) =>
      when(l.isNotNull, lit(wt)).otherwise(lit(0.0)) }.reduceLeft(_ + _)
    val nBase = lags.map(l => when(l.isNotNull, 1L).otherwise(0L)).reduceLeft(_ + _)
    hourly
      .withColumn("n_base", nBase)
      .withColumn("forecast_r", round(num / den, 6))
      .where($"n_base" >= 12)
      .withColumn("ratio_r", round($"vol" / $"forecast_r", 6))
      .select($"pr", $"h", $"vol", $"forecast_r", $"ratio_r",
        ($"ratio_r" > 2.0).as("surge"))
      .orderBy($"pr", $"h")
  }

  // -------------------------------------------- B27 interval coalescing

  /** Merge tolerance for B27: busy periods closer than 15 min fuse. */
  val MergeGapS = 900L

  /** B27: interval coalescing (`flow_interval_merge`) — the
    * gaps-and-islands operator: each flow is an activity interval
    * [ts, ts + duration], and per-user overlapping-or-near intervals
    * (gap ≤ [[MergeGapS]]) merge into contiguous busy periods. The
    * operational read: "when was this host actually active, and for
    * how long" — the flow-level question session windows (B7b) answer
    * for events collapses here to real durations with overlaps.
    *
    * Execution shape: one hash shuffle on user_id, then a per-user
    * sort window — island boundaries are `start > running_max(end) +
    * gap` over ROWS UNBOUNDED PRECEDING .. 1 PRECEDING (running MAX,
    * not lag(end): an interval can be fully contained in a longer
    * predecessor, where lag-based merging splits incorrectly), island
    * ids are the running sum of boundary flags, and the final per-user
    * rollup is partial-aggregated. Per-partition state is O(1); the
    * sort is Spark's spillable window sort, so a hot key degrades to
    * disk, not OOM. Duration is deterministic integer arithmetic on
    * (event_id, epoch seconds) — both engines replay it exactly.
    */
  def intervalMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iv = asFlows(spark, dir).select(
      $"user_id",
      $"ts".cast("timestamp").cast("long").as("s"),
      ($"ts".cast("timestamp").cast("long") + pmod($"event_id", lit(300)) + 60L).as("e"),
      $"event_id")
    val ord = Window.partitionBy($"user_id").orderBy($"s", $"e", $"event_id")
    val prevMax = max($"e").over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val island = sum(
      when(prevMax.isNull || $"s" > prevMax + MergeGapS, 1L).otherwise(0L)
    ).over(ord)
    iv.withColumn("island", island)
      .groupBy($"user_id", $"island")
      .agg(min($"s").as("ps"), max($"e").as("pe"), count(lit(1)).as("nf"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_periods"),
        sum($"pe" - $"ps").as("busy_s"),
        max($"pe" - $"ps").as("longest_s"),
        max($"nf").as("densest"))
      .orderBy($"user_id")
  }

  /** B53: peak flow concurrency (`flow_concurrency`) — the "active
    * connections" gauge per site: sweep line over each site's flow
    * intervals (+1 at start, −1 at end, ends sort before starts at
    * ties ⇒ half-open [s, e) semantics), running sum = concurrent
    * flows, reported as each site's peak and the FIRST instant it is
    * reached. The capacity-planning/DDoS question B27's busy-period
    * merge doesn't answer: not "how long was the line busy" but "how
    * many at once".
    *
    * Scale: the sweep is a per-SITE window over that site's 2·flows
    * boundary rows in (t, delta, event_id) total order — partitioned
    * by the report key, never a global sort; the peak extraction is
    * an exact integer max(struct) argmin trick (earliest t among max
    * concurrency), one row per site out.
    */
  def flowConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iv = asFlows(spark, dir).select(
      concat(lit("10."), pmod($"user_id", lit(64))).as("site"),
      $"ts".cast("timestamp").cast("long").as("s"),
      ($"ts".cast("timestamp").cast("long") + pmod($"event_id", lit(300)) + 60L).as("e"),
      $"event_id")
    val bounds = iv.select($"site", $"event_id",
        explode(array(
          struct($"s".as("t"), lit(1).as("delta")),
          struct($"e".as("t"), lit(-1).as("delta")))).as("b"))
      .select($"site", $"b.t".as("t"), $"b.delta".as("delta"), $"event_id")
    val w = Window.partitionBy($"site")
      .orderBy($"t", $"delta", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    bounds
      .withColumn("conc", sum($"delta").over(w))
      .groupBy($"site")
      .agg((count(lit(1)) / 2).cast("long").as("n_flows"),
        max(struct($"conc", (-$"t").as("nt"))).as("pk"))
      .select($"site", $"n_flows",
        $"pk.conc".as("peak_conc"), (-$"pk.nt").as("peak_at_s"))
      .orderBy($"site")
  }

  // ------------------------------------------- B28 sketch intersection

  /** B28: approximate distinct-set overlap (`flow_distinct_overlap`) —
    * how many users appear on BOTH https (443) and http (80), by
    * inclusion–exclusion over mergeable HLL sketches:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B). The union sketch is built
    * directly in the same corpus pass (an HLL over the OR-filtered
    * key stream has exactly the registers a sketch merge would
    * produce), so the whole approximate side is one map-side-combined
    * aggregation — at 100 TB three 512-register arrays cross the
    * shuffle, nothing else. Graded like C14: the published columns
    * are the exact counts (which the oracle replays bit-for-bit) plus
    * a Spark-side `within_bound` verdict for the sketch estimates;
    * the intersection bound is relative to the UNION size, since
    * inclusion–exclusion error compounds from all three sketches.
    */
  def distinctOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.HllAgg.{hll_sketch, hll_estimate}
    val flows = asFlows(spark, dir)
    val uid = $"user_id".cast("string")
    val est = flows.agg(
      hll_sketch(when($"dp" === 443, uid), HllP).as("ska"),
      hll_sketch(when($"dp" === 80, uid), HllP).as("skb"),
      hll_sketch(when($"dp" === 443 || $"dp" === 80, uid), HllP).as("sku"),
      countDistinct(when($"dp" === 443, $"user_id")).as("exact_https"),
      countDistinct(when($"dp" === 80, $"user_id")).as("exact_http"),
      countDistinct(when($"dp" === 443 || $"dp" === 80, $"user_id")).as("exact_union"))
    val both = flows.where($"dp" === 443 || $"dp" === 80)
      .groupBy($"user_id")
      .agg(max(($"dp" === 443).cast("int")).as("a"), max(($"dp" === 80).cast("int")).as("b"))
      .where($"a" === 1 && $"b" === 1)
      .agg(count(lit(1)).as("exact_both"))
    est.crossJoin(broadcast(both))
      .withColumn("est_a", hll_estimate($"ska", HllP))
      .withColumn("est_b", hll_estimate($"skb", HllP))
      .withColumn("est_u", hll_estimate($"sku", HllP))
      .withColumn("est_int", $"est_a" + $"est_b" - $"est_u")
      .select($"exact_https", $"exact_http", $"exact_union", $"exact_both",
        (abs($"est_a" - $"exact_https") / $"exact_https" < 0.1 &&
          abs($"est_b" - $"exact_http") / $"exact_http" < 0.1 &&
          abs($"est_u" - $"exact_union") / $"exact_union" < 0.1 &&
          abs($"est_int" - $"exact_both") / $"exact_union" < 0.15).as("within_bound"))
  }

  // -------------------------------------- B29 sliding quantile sketches

  /** Sliding-window width (hours) for B29. */
  val QSlideHours = 6

  /** B29: sliding latency-style quantiles by KLL sketch reuse
    * (`flow_value_quantiles_sliding`) — the p50/p99-per-window panel
    * every latency dashboard runs, built the way it must be built at
    * 100 TB: the raw scan happens ONCE into per-hour
    * [[graft.functions.KllSketchAgg]] compactor stacks, and each
    * 6-hour sliding window is a MERGE of six sketch blocks
    * ([[graft.functions.KllUnionAgg]]), never a re-read of raw data —
    * the quantile twin of B18b's sliding HLL. An exact
    * percentile-per-window would re-sort every window's full value
    * set (6× the corpus through a shuffle); the sketch path ships
    * (hours × few KB).
    *
    * Graded the C14 way: the published columns are exact per-window
    * percentiles (computed in a second, grading-only pass that the
    * oracle replays) plus the sketch's `within_bound` rank-window
    * verdict (±3 percentile points).
    */
  def valueQuantilesSliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.KllSketchAgg.{kll_sketch, kll_union, kll_values}
    val ev = graft.Tables.events(spark, dir)
      .select($"value", date_trunc("hour", $"ts").as("hr"))
    val hourly = ev.groupBy($"hr")
      .agg(kll_sketch($"value", 256).as("sk"), count(lit(1)).as("hr_rows"))
    val approx = hourly
      .select($"sk", $"hr", $"hr_rows",
        explode(sequence(lit(0), lit(QSlideHours - 1))).as("j"))
      .select($"sk", $"hr_rows",
        expr("hr - make_interval(0, 0, 0, 0, j, 0, 0)").as("win_start"))
      .groupBy($"win_start")
      .agg(kll_union($"sk", 256).as("wsk"), count(lit(1)).as("n_hours"),
        sum($"hr_rows").as("n_rows"))
      .select($"win_start", $"n_hours", $"n_rows",
        kll_values($"wsk", Seq(0.5, 0.99)).as("qs"))
    val exact = ev
      .select($"value", explode(sequence(lit(0), lit(QSlideHours - 1))).as("j"), $"hr")
      .select($"value", expr("hr - make_interval(0, 0, 0, 0, j, 0, 0)").as("win_start"))
      .groupBy($"win_start")
      .agg(percentile($"value",
        typedLit(Seq(0.47, 0.5, 0.53, 0.96, 0.99, 1.0))).as("ex"))
    approx.join(exact, "win_start")
      .select($"win_start", $"n_hours",
        round(element_at($"ex", 2), 6).as("exact_p50_r"),
        round(element_at($"ex", 5), 6).as("exact_p99_r"),
        // the ±3pp rank band only spans whole rank steps once the
        // window holds ≥ ~1/0.03 rows; below that the discrete sketch
        // value vs the INTERPOLATED band is rank-granularity noise,
        // not sketch error — tail windows are exempt
        ($"n_rows" < 100 ||
          (element_at($"qs", 1) >= element_at($"ex", 1) &&
            element_at($"qs", 1) <= element_at($"ex", 3) &&
            element_at($"qs", 2) >= element_at($"ex", 4) &&
            element_at($"qs", 2) <= element_at($"ex", 6))).as("within_bound"))
      .orderBy($"win_start")
  }

  // ---------------------------------------------- B32 CUSUM changepoint

  /** CUSUM slack (in σ units) and alarm threshold for B32. */
  val CusumSlack = 0.5
  val CusumThreshold = 5.0

  /** B32: CUSUM change-point detection (`flow_cusum`) — Page's
    * cumulative-sum control chart over per-protocol hourly volume,
    * the standard "did the level SHIFT" complement to B20's
    * pointwise z-score (z flags single outlier hours; CUSUM
    * accumulates small sustained drifts until they cross the
    * threshold). The recurrence S_t = max(0, S_{t-1} + z_t − k) is
    * not a window aggregate, but its closed form is: S_t = C_t −
    * min(0, min_{j≤t} C_j) for C = cumsum(z − k), so two window
    * passes (running sum, running min) over the SAME per-protocol
    * sort compute it exactly — one Exchange, one Sort, window state
    * O(1)/row.
    *
    * Determinism: mean/σ come from exact decimal sums (vol and vol²
    * are exact 2-/4-decimal doubles), so z is a deterministic scalar;
    * the cumulated term is quantized to integer nano-units
    * ([[graft.Tables.qsum]]'s contract) so the running sum is
    * ORDER-FREE exact — DuckDB's segment-tree window accumulation
    * and Spark's streaming fold then agree bit-for-bit. Windows are
    * per-protocol and hours-bounded by construction.
    */
  def cusum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = asFlows(spark, dir)
      .groupBy($"pr", date_trunc("hour", $"ts").as("h"))
      .agg(dsum($"value").as("vol"))
    val stats = hourly.groupBy($"pr").agg(
      count(lit(1)).as("n"),
      dsum($"vol").as("s1"),
      dsum($"vol" * $"vol", 4).as("s2"))
      // singleton guard (see embOutliers): one-hour protocols make the
      // (n-1) sd 0/0; drop them identically here and in the oracle
      .where($"n" > 1)
      .select($"pr", ($"s1" / $"n").as("mean"),
        sqrt(($"s2" - ($"s1" * $"s1") / $"n") / ($"n" - 1)).as("sd"))
    val w = Window.partitionBy($"pr").orderBy($"h")
    def cum(c: Column) = sum(floor(c * lit(1.0e9) + lit(0.5)).cast("long")).over(w)
    val z = ($"vol" - $"mean") / $"sd"
    val cPos = cum(z - CusumSlack)
    val cNeg = cum(-z - CusumSlack)
    hourly.join(broadcast(stats), "pr")
      .withColumn("cp", cPos)
      .withColumn("cn", cNeg)
      .withColumn("sp", $"cp" - least(min($"cp").over(w), lit(0L)))
      .withColumn("sn", $"cn" - least(min($"cn").over(w), lit(0L)))
      .select($"pr", $"h", $"vol",
        round($"sp" / 1.0e9, 6).as("s_pos_r"),
        round($"sn" / 1.0e9, 6).as("s_neg_r"),
        ($"sp" > CusumThreshold * 1.0e9 || $"sn" > CusumThreshold * 1.0e9)
          .as("shifted"))
      .orderBy($"pr", $"h")
  }

  // ---------------------------------------------- B33 autocorrelation

  /** Autocorrelation lags (hours) for B33. */
  val AcfLags = Seq(1, 2, 3, 6)

  /** B33: time-series autocorrelation (`flow_autocorr`) — lag-k
    * Pearson correlation of per-protocol hourly volume, the
    * periodicity detector behind beaconing triage (B16b checks
    * inter-arrival REGULARITY per key; ACF finds corpus-level
    * seasonality — a daily cycle shows as a lag-24 peak). One
    * combine-heavy pass to the hourly table, one per-protocol window
    * sort evaluating every lag, then a lags-sized aggregate.
    *
    * corr() itself accumulates co-moments in partition order —
    * non-deterministic in the last ulp under a shuffle — so the
    * correlation is assembled from exact decimal sums instead
    * (vol·vol products are exact 4-decimal doubles): r = (n·Σxy −
    * Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)) as ONE deterministic
    * scalar expression both engines replay bit-for-bit, rounded 6 dp.
    */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = asFlows(spark, dir)
      .groupBy($"pr", date_trunc("hour", $"ts").as("h"))
      .agg(dsum($"value").as("vol"))
    val w = Window.partitionBy($"pr").orderBy($"h")
    val lagged = hourly.select(
      $"pr" +: $"vol" +:
        AcfLags.map(k => lag($"vol", k).over(w).as(s"l$k")): _*)
    val acf = AcfLags.map { k =>
      val x = $"vol"
      val y = col(s"l$k")
      lagged.where(y.isNotNull).groupBy($"pr").agg(
        count(lit(1)).as("n"),
        dsum(x).as("sx"), dsum(y).as("sy"),
        dsum(x * x, 4).as("sxx"), dsum(y * y, 4).as("syy"),
        dsum(x * y, 4).as("sxy"))
        // singleton guard (see embOutliers): one pair makes the
        // denominator 0 and r 0/0
        .where($"n" > 1)
        .select($"pr", lit(k).as("lag_h"), $"n".as("n_pairs"),
          round(($"n" * $"sxy" - $"sx" * $"sy") /
            sqrt(($"n" * $"sxx" - $"sx" * $"sx") *
              ($"n" * $"syy" - $"sy" * $"sy")), 6).as("r_r"))
    }.reduce(_ unionAll _)
    acf.orderBy($"pr", $"lag_h")
  }

  // ------------------------------------------- B34 rollup re-aggregation

  /** B34: rollup re-aggregation (`flow_rollup_reagg`) — the
    * pre-aggregation contract a 100 TB store lives by: raw flows
    * roll up ONCE to a minutely (pr, minute) table, and every
    * coarser panel (here hourly) re-aggregates FROM THE ROLLUP —
    * sums of sums, counts of counts, min of mins, max of maxs, avg
    * re-derived as Σ/n (never avg-of-avgs) — instead of re-scanning
    * raw data. The oracle computes hourly DIRECTLY from raw events,
    * so the hash-equality IS the proof that re-aggregation is
    * lossless for these algebraic aggregates (the non-reaggregable
    * ones — distinct, percentiles — are exactly what the mergeable
    * sketch family B11/B16/B18/C27 exists for). DECIMAL sums at both
    * levels keep the double-sum order-free.
    */
  def rollupReagg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val minutely = asFlows(spark, dir)
      .groupBy($"pr", date_trunc("minute", $"ts").as("m"))
      .agg(count(lit(1)).as("n"),
        dsum($"value").as("vol"),
        min($"value").as("min_v"),
        max($"value").as("max_v"))
    minutely
      .groupBy($"pr", date_trunc("hour", $"m").as("h"))
      .agg(sum($"n").as("n"),
        dsum($"vol").as("vol"),
        min($"min_v").as("min_v"),
        max($"max_v").as("max_v"))
      .withColumn("avg_r", round($"vol" / $"n", 6))
      .orderBy($"pr", $"h")
  }

  // ------------------------------------------- B35 degree distribution

  /** B35: out-degree distribution profile (`flow_degree_profile`) —
    * the log₂-bucketed fan-out histogram ("how many hosts talk to
    * 1, 2–3, 4–7, … distinct peers") that sizes every graph pass
    * before it runs: skew shows up here first, and the B17 portscan
    * threshold is calibrated off exactly this shape. Two shuffles —
    * (sa, da) distinct then per-sa degree — both on corpus keys;
    * the histogram itself is degree-bounded (≤ 64 buckets).
    * Buckets come from bit-length arithmetic (`length(bin(d)) − 1` =
    * ⌊log₂ d⌋) — INTEGER-exact in both engines, where a float log₂
    * can land either side of a power-of-two boundary by one ulp.
    */
  def degreeProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perHost = asFlows(spark, dir)
      .groupBy($"sa")
      .agg(countDistinct($"da").as("deg"), count(lit(1)).as("n_flows"))
    perHost
      .withColumn("bucket", (length(bin($"deg")) - 1).cast("int"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_hosts"),
        min($"deg").as("min_deg"), max($"deg").as("max_deg"),
        sum($"n_flows").as("n_flows"))
      .orderBy($"bucket")
  }

  // ---------------------------------------------- B36 rare-pair surprise

  /** Minimum fan-out for a source to qualify for B36 rarity scoring. */
  val RareMinFanout = 5

  /** B36: rare-communication-pair detection (`flow_rare_pairs`) — the
    * lateral-movement / exfil triage view: for sources that talk
    * WIDELY (fan-out ≥ [[RareMinFanout]] distinct peers), surface the
    * peers they contacted exactly once, scored by self-information
    * −log₂ p(da | sa). A single flow to a never-before-seen peer from
    * a chatty host is the classic beacon-start signature that volume
    * rankings (B1) and fan-in views (B4) both miss. Sources aggregate
    * at the /16 SITE prefix: the synthetic sa's low octets carry
    * per-flow entropy (like ephemeral ports in real telemetry), so
    * pair rarity is only meaningful at the network grain. Two
    * combine-heavy aggregations — (site, da) pair counts, then
    * per-site totals re-aggregated FROM THE PAIR TABLE (B34's rollup
    * rule; the raw corpus shuffles once) — a broadcast-size join
    * back, and a global top-50 via TakeOrderedAndProject
    * (per-partition heap, no total sort).
    */
  def rarePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairCnt = asFlows(spark, dir)
      .select(concat(lit("10."), pmod($"user_id", lit(64))).as("sa"), $"da")
      .groupBy($"sa", $"da").agg(count(lit(1)).as("n_pair"))
    val srcCnt = pairCnt.groupBy($"sa")
      .agg(sum($"n_pair").as("n_src"), count(lit(1)).as("fanout"))
    pairCnt.join(srcCnt, "sa")
      .where($"n_pair" === 1 && $"fanout" >= RareMinFanout)
      .select($"sa", $"da", $"n_src", $"fanout",
        round(-log2(lit(1.0) / $"n_src"), 6).as("surprise_r"))
      .orderBy($"surprise_r".desc, $"sa", $"da")
      .limit(50)
  }

  // ------------------------------------- B37 hierarchical heavy hitters

  /** HHH share threshold (fraction of total bytes). */
  val HhhTheta = 0.01

  /** B37: hierarchical heavy hitters (`flow_hhh`) — B8 generalized to
    * the IP prefix lattice (Cormode et al.'s discounted HHH): a /16
    * is only interesting for the traffic NOT already explained by its
    * heavy /24s, so each level reports its byte mass MINUS heavy
    * descendants before applying the θ=1% threshold — the aggregation
    * structure every DDoS/capacity triage wants ("which site is hot,
    * beyond its known-hot subnets"). Execution: ONE corpus pass to
    * the /24 table; every coarser level re-aggregates from it (B34's
    * rollup rule), heavy sets are prefix-table-sized joins, and the
    * threshold compares exact long byte sums against the broadcast
    * scalar total.
    */
  def hhh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b24 = asFlows(spark, dir)
      .select(pmod($"user_id", lit(64)).as("o2"),
        pmod(expr("event_id div 256"), lit(256)).as("o3"), $"ibyt")
      .groupBy($"o2", $"o3").agg(sum($"ibyt").as("bytes"))
    val tot = b24.agg(sum($"bytes").as("total"))
    val h24 = b24.crossJoin(broadcast(tot))
      .where($"bytes".cast("double") / $"total" >= HhhTheta)
    val b16 = b24.groupBy($"o2").agg(sum($"bytes").as("bytes"))
    val h24by16 = h24.groupBy($"o2").agg(sum($"bytes").as("hb"))
    val h16 = b16.join(h24by16, Seq("o2"), "left")
      .withColumn("disc", $"bytes" - coalesce($"hb", lit(0L)))
      .crossJoin(broadcast(tot))
      .where($"disc".cast("double") / $"total" >= HhhTheta)
    val rootDisc = tot
      .crossJoin(broadcast(h24.agg(coalesce(sum($"bytes"), lit(0L)).as("s24"))))
      .crossJoin(broadcast(h16.agg(coalesce(sum($"disc"), lit(0L)).as("s16"))))
      .select(lit(0).as("level"), lit("10.0.0.0/8").as("prefix"),
        $"total".as("bytes"), ($"total" - $"s24" - $"s16").as("disc"),
        $"total")
    val out24 = h24.select(lit(24).as("level"),
      concat(lit("10."), $"o2", lit("."), $"o3", lit(".0/24")).as("prefix"),
      $"bytes", $"bytes".as("disc"), $"total")
    val out16 = h16.select(lit(16).as("level"),
      concat(lit("10."), $"o2", lit(".0.0/16")).as("prefix"),
      $"bytes", $"disc", $"total")
    out24.unionAll(out16).unionAll(
        rootDisc.where($"disc".cast("double") / $"total" >= HhhTheta))
      .select($"level", $"prefix", $"bytes", $"disc",
        round($"disc".cast("double") / $"total", 6).as("share_r"))
      .orderBy($"level", $"prefix")
  }

  // ---------------------------------------- B39 sketch-merged CUBE

  /** B39: distinct-users CUBE by sketch merge (`flow_distinct_cube`)
    * — every (protocol × port) grouping level's distinct-user count
    * from ONE corpus pass: the per-(pr, dp) HLL cell table is built
    * once, and all coarser CUBE cells MERGE cell sketches
    * ([[graft.functions.HllMergeAgg]]) instead of re-scanning
    * raw data — the B18b/B34 re-aggregation rule applied to the
    * grouping lattice, and exactly how a 100 TB OLAP cube serves
    * COUNT(DISTINCT): distinct doesn't re-aggregate, mergeable
    * sketches do. Graded the C14 way: exact per-cell counts from a
    * grading-only pass the oracle replays, plus a Spark-side
    * within_bound verdict on every cube cell's estimate.
    */
  def distinctCube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.HllAgg.{hll_sketch, hll_merge, hll_estimate}
    val flows = asFlows(spark, dir)
    val cells = flows.groupBy($"pr", $"dp")
      .agg(hll_sketch($"user_id".cast("string"), HllP).as("sk"))
    val approx = cells.cube($"pr", $"dp")
      .agg(hll_merge($"sk", HllP).as("csk"))
      .select(coalesce($"pr", lit("ALL")).as("pr_g"),
        coalesce($"dp", lit(-1)).as("dp_g"),
        hll_estimate($"csk", HllP).as("est"))
    val exact = flows.cube($"pr", $"dp")
      .agg(countDistinct($"user_id").as("exact_users"))
      .select(coalesce($"pr", lit("ALL")).as("pr_g"),
        coalesce($"dp", lit(-1)).as("dp_g"), $"exact_users")
    exact.join(approx, Seq("pr_g", "dp_g"))
      .select($"pr_g", $"dp_g", $"exact_users",
        (abs($"est" - $"exact_users") / $"exact_users" < 0.15)
          .as("within_bound"))
      .orderBy($"pr_g", $"dp_g")
  }

  // ---------------------------------------- B40 traffic entropy profile

  /** B40: hourly port-entropy profile (`flow_entropy_profile`) — the
    * classic entropy-shift detector (Lakhina et al.): Shannon entropy
    * of the destination-port distribution per hour. A port scan
    * RAISES dst-port entropy (traffic spreads over many ports), a
    * volumetric flood COLLAPSES it toward one port — so the hourly
    * entropy series separates anomaly classes that volume series
    * (B3) can't distinguish. One combine-heavy (hour, dp) count, one
    * hours-sized rollup; the Σ p·log₂p fold is nano-quantized per
    * TERM ([[graft.Tables.qsum]]) so accumulation order is exact in
    * both engines, and each term's p = n/total is one IEEE division
    * of exact longs. Normalized entropy (÷ log₂ distinct ports that
    * hour) makes hours comparable as the port mix varies.
    */
  def entropyProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hp = asFlows(spark, dir)
      .groupBy(date_trunc("hour", $"ts").as("h"), $"dp")
      .agg(count(lit(1)).as("n"))
    val tot = hp.groupBy($"h")
      .agg(sum($"n").as("tot"), count(lit(1)).as("n_ports"))
    val p = $"n".cast("double") / $"tot"
    hp.join(broadcast(tot), "h")
      .groupBy($"h")
      .agg(first($"tot").as("tot"), first($"n_ports").as("n_ports"),
        graft.Tables.qsum(p * log(2.0, p)).as("negH"))
      // + 0.0 normalizes the single-port hour: negH is exactly 0.0
      // there and the negation yields IEEE −0.0, whose canonical form
      // differs between engines' printers ('-0.0' vs '0.0' flips the
      // value hash; measured at sf0.001). x + 0.0 is the identity for
      // every other double.
      .select($"h", $"tot", $"n_ports",
        (round(-$"negH", 6) + lit(0.0)).as("entropy_r"),
        when($"n_ports" === 1, 0.0)
          .otherwise(round(-$"negH" / log(2.0, $"n_ports".cast("double")), 6))
          .as("norm_entropy_r"))
      .orderBy($"h")
  }

  // --------------------------------------- B41 conversion latency

  /** B41: conversion-latency distribution (`flow_conversion_latency`)
    * — B9's funnel answers "who converted"; operations needs "how
    * LONG it took": seconds from each user's FIRST signup to every
    * subsequent purchase, as count + exact percentiles. One
    * combine-heavy first-signup aggregate (users-sized, broadcast),
    * one filtered map-side join, one percentile aggregate over the
    * conversions (the exact twin; the KLL path C27 is the sketch
    * serve at 100 TB). Latencies are exact integer epoch-second
    * differences, so interpolated percentiles replay bit-for-bit.
    */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
    val su = ev.where($"event_type" === "signup")
      .groupBy($"user_id")
      .agg(min($"ts".cast("timestamp").cast("long")).as("su_s"))
    val lat = ev.where($"event_type" === "purchase")
      .join(broadcast(su), "user_id")
      .select($"user_id",
        ($"ts".cast("timestamp").cast("long") - $"su_s").as("lat_s"))
      .where($"lat_s" >= 0)
    lat.agg(count(lit(1)).as("n_conversions"),
        countDistinct($"user_id").as("n_users"),
        percentile($"lat_s".cast("double"),
          typedLit(Seq(0.5, 0.9, 0.99))).as("ps"),
        max($"lat_s").as("max_s"))
      .select($"n_conversions", $"n_users",
        round(element_at($"ps", 1), 6).as("p50_s_r"),
        round(element_at($"ps", 2), 6).as("p90_s_r"),
        round(element_at($"ps", 3), 6).as("p99_s_r"),
        $"max_s")
  }

  // --------------------------------------- B42 service similarity

  /** Minimum shared users for a B42 pair to score. */
  val SvcSimMinBoth = 5

  /** B42: service user-overlap similarity (`flow_service_similarity`)
    * — item-item collaborative filtering over the traffic matrix:
    * which service subnets share user POPULATIONS (exact Jaccard on
    * user sets), the "users of X also hit Y" panel behind dependency
    * mapping and anomaly whitelisting. The pair join is per-USER
    * (each user's distinct service list self-pairs: Σ per-user
    * services² — bounded by user fan-out, never services²), pair
    * intersections partial-aggregate map-side, set sizes join back
    * broadcast, and the top-50 rides TakeOrderedAndProject.
    * J = n_both/(n1+n2−n_both) from exact longs, rounded 6 dp.
    */
  def serviceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val us = asFlows(spark, dir)
      .select($"user_id",
        concat(lit("192.168."), pmod($"k", lit(256))).as("svc"))
      .distinct()
    val sizes = us.groupBy($"svc").agg(count(lit(1)).as("n"))
    val pairs = us.select($"user_id", $"svc".as("s1"))
      .join(us.select($"user_id", $"svc".as("s2")), "user_id")
      .where($"s1" < $"s2")
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("n_both"))
      .where($"n_both" >= SvcSimMinBoth)
    pairs
      .join(broadcast(sizes.select($"svc".as("s1"), $"n".as("n1"))), "s1")
      .join(broadcast(sizes.select($"svc".as("s2"), $"n".as("n2"))), "s2")
      .select($"s1", $"s2", $"n_both", $"n1", $"n2",
        round($"n_both".cast("double") / ($"n1" + $"n2" - $"n_both"), 6)
          .as("jaccard_r"))
      .orderBy($"jaccard_r".desc, $"s1", $"s2")
      .limit(50)
  }

  // --------------------------------------------- B43 burstiness

  /** Minimum inter-arrival count for a B43 user to score. */
  val BurstMinGaps = 20

  /** B43: inter-arrival burstiness (`flow_burstiness`) — the
    * Goh–Barabási burstiness coefficient B = (σ−μ)/(σ+μ) of each
    * user's inter-arrival gaps: B→1 bursty (heavy-tailed sessions),
    * B≈0 Poisson-like, B→−1 metronome-periodic. The per-key
    * CHARACTERIZATION complement to B16b's beaconing DETECTOR (which
    * thresholds regularity; this places every key on the
    * bursty↔periodic spectrum). One window pass for gaps (the
    * per-user sort B7 already pays), one combine-heavy moment
    * aggregate; σ and μ assemble from EXACT integer gap sums (gaps
    * are epoch-second longs), so the published coefficient is one
    * deterministic double expression, rounded 6 dp.
    */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"s", $"event_id")
    val gaps = graft.Tables.events(spark, dir)
      .select($"user_id", $"event_id",
        $"ts".cast("timestamp").cast("long").as("s"))
      .withColumn("prev", lag($"s", 1).over(w))
      .where($"prev".isNotNull)
      .select($"user_id", ($"s" - $"prev").as("d"))
    val m = gaps.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"d").as("s1"), sum($"d" * $"d").as("s2"))
      .where($"n" >= BurstMinGaps)
    val mean = $"s1".cast("double") / $"n"
    val sd = sqrt(($"s2".cast("double") - ($"s1".cast("double") *
      $"s1".cast("double")) / $"n") / ($"n" - 1))
    m.select($"user_id", $"n".as("n_gaps"),
        round(mean, 6).as("mean_gap_s_r"),
        when(sd + mean === 0.0, 0.0)
          .otherwise(round((sd - mean) / (sd + mean), 6)).as("burstiness_r"))
      .orderBy($"user_id")
  }

  // -------------------------------------------- B44 decayed top-K

  /** B44 half-life (hours) for the exponential decay. */
  val DecayHalfLifeH = 24.0

  /** Decay rate −ln2/halflife_s as ONE double constant shared with
    * the oracle via its shortest round-trip literal (the B26 rule).
    */
  val DecayRate: Double = -math.log(2.0) / (DecayHalfLifeH * 3600.0)

  /** B44: time-decayed top talkers (`flow_topk_decayed`) — B1 with a
    * recency prior: each flow's bytes weigh in at 2^(−age/24h), so a
    * site that was loud yesterday ranks below one that is loud NOW —
    * the ranking an on-call dashboard actually wants, and the batch
    * twin of a streaming decayed counter (state = one decayed sum
    * per key; adding new mass and re-decaying commute, which is what
    * makes the counter mergeable). Map-only weighting against the
    * broadcast t_max scalar, per-term 9-dp round (exp() parity, the
    * D9e ln rule), nano-quantized order-free site sums, top-10 via
    * TakeOrderedAndProject.
    */
  def topkDecayed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = asFlows(spark, dir).select(
      concat(lit("10."), pmod($"user_id", lit(64))).as("site"),
      $"ts".cast("timestamp").cast("long").as("s"), $"ibyt")
    val tmax = f.agg(max($"s").as("tmax"))
    f.crossJoin(broadcast(tmax))
      .withColumn("wt", round(exp(lit(DecayRate) * ($"tmax" - $"s")), 9))
      .groupBy($"site")
      .agg(count(lit(1)).as("n_flows"),
        sum($"ibyt").as("raw_bytes"),
        round(graft.Tables.qsum($"wt" * $"ibyt"), 6).as("decayed_bytes_r"))
      .orderBy($"decayed_bytes_r".desc, $"site")
      .limit(10)
  }

  // ------------------------------------------- B46 TCP flag profile

  /** B46: per-site TCP flag profile (`flow_flag_profile`) — the
    * connection-health panel next to B17's port scan: per /16 site,
    * SYN / RST / FIN shares of its flows. A SYN share far above the
    * fleet marks half-open scanning or a flood source; an RST spike
    * marks a service actively refusing — triage classes the volume
    * views can't separate. One combine-heavy aggregate; the flag
    * tests are substring predicates on the nfdump flg string, shares
    * are exact-count ratios rounded 6 dp.
    */
  def flagProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asFlows(spark, dir)
      .select(concat(lit("10."), pmod($"user_id", lit(64))).as("site"), $"flg")
      .groupBy($"site")
      .agg(count(lit(1)).as("n_flows"),
        count(when($"flg".contains("S"), 1)).as("n_syn"),
        count(when($"flg".contains("R"), 1)).as("n_rst"),
        count(when($"flg".contains("F"), 1)).as("n_fin"))
      .select($"site", $"n_flows", $"n_syn", $"n_rst", $"n_fin",
        round($"n_syn".cast("double") / $"n_flows", 6).as("syn_share_r"),
        round($"n_rst".cast("double") / $"n_flows", 6).as("rst_share_r"),
        round($"n_fin".cast("double") / $"n_flows", 6).as("fin_share_r"))
      .orderBy($"site")
  }

  /** B47: traffic-concentration Gini coefficient per protocol — the
    * one-number inequality summary behind every "is this DDoS or just
    * big?" triage call: G ≈ 0 means bytes spread evenly over sources,
    * G → 1 means a handful of talkers own the volume. Computed by the
    * exact rank formula G = 2·Σᵢ rᵢ·xᵢ / (n·Σx) − (n+1)/n over
    * per-source byte totals ranked ascending with a (bytes, sa) total
    * order, so ties can't reorder between engines. All sums are
    * integer (ibyt is a long) — the only floating-point ops are two
    * IEEE divisions and one subtraction per output row, rounded once.
    *
    * Scale: the per-source rollup shuffles on (pr, sa) with map-side
    * combine; the ranking is a per-protocol sort of source-cardinality
    * rows (bounded by live address space, ≪ flow count — sort-spill
    * territory, not a scale killer; the unbounded-cardinality path is
    * a KLL-sketch Lorenz-curve approximation per B29's machinery).
    */
  def bytesGini(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perHost = asFlows(spark, dir)
      .groupBy($"pr", $"sa").agg(sum($"ibyt").as("x"))
    val w = Window.partitionBy($"pr").orderBy($"x", $"sa")
    // the per-protocol total rides the SAME window partition — no
    // extra shuffle — so each term sums r·(x/T) instead of r·x:
    // r·x in LONG overflows at claimed scale (r ~ 10⁸ hosts × x ~
    // 10¹² bytes), while Σ r·x/T ≤ n, so the qsum-quantized longs
    // stay ≤ n·10⁹ ≈ 10¹⁷ — order-free, overflow-free, and the
    // oracle mirrors the identical quantization
    val wAll = Window.partitionBy($"pr")
    perHost
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("t", sum($"x").over(wAll))
      .groupBy($"pr")
      .agg(count(lit(1)).as("n_hosts"),
        sum($"x").as("total_bytes"),
        graft.Tables.qsum($"r".cast("double") * $"x".cast("double")
          / $"t".cast("double")).as("rxn"))
      .select($"pr", $"n_hosts", $"total_bytes",
        round($"rxn" * lit(2.0) / $"n_hosts".cast("double")
          - ($"n_hosts" + lit(1)).cast("double") / $"n_hosts".cast("double"), 6)
          .as("gini_r"))
      .orderBy($"pr")
  }

  /** B50: top-N persistence (`flow_topn_persistence`) — ranking CHURN
    * over time: the Jaccard overlap between consecutive hours' top-10
    * byte-ranked sites. Stable ≈ 1 hour-over-hour means the heavy
    * talkers are structural; a sudden dip means the ranking regime
    * changed (flash event, DDoS onset) even when total volume didn't
    * — the temporal complement of B47's concentration number.
    *
    * Execution: the per-hour top-10 goes through the rank-limit heap
    * rewrite (`row_number() ≤ 10` → bounded per-group heap, no
    * per-hour sort), and everything after runs on hours×10 rows —
    * the self-join on (hour+1, site) and the set sizes are exact
    * integer counts; one rounded division per output row.
    */
  def topnPersistence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = asFlows(spark, dir)
      .groupBy(expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").as("h"),
        concat(lit("10."), pmod($"user_id", lit(64))).as("site"))
      .agg(sum($"ibyt").as("bytes"))
    val w = Window.partitionBy($"h").orderBy($"bytes".desc, $"site")
    val topn = hourly.withColumn("rn", row_number().over(w))
      .where($"rn" <= 10).select($"h", $"site")
    val sz = topn.groupBy($"h").agg(count(lit(1)).as("n"))
    val inter = topn.select(($"h" + 1).as("h"), $"site")
      .join(topn, Seq("h", "site"))
      .groupBy($"h").agg(count(lit(1)).as("inter"))
    sz.select(($"h" + 1).as("h"), $"n".as("n_prev"))
      .join(sz.select($"h", $"n".as("n_cur")), "h")
      .join(inter, Seq("h"), "left")
      .select($"h", $"n_prev", $"n_cur",
        coalesce($"inter", lit(0L)).as("inter"),
        round(coalesce($"inter", lit(0L)).cast("double") /
          ($"n_prev" + $"n_cur" - coalesce($"inter", lit(0L))).cast("double"), 6)
          .as("jaccard_r"))
      .orderBy($"h")
  }

  /** B51: sampling-rate correction (`flow_sampling_correct`) — the
    * nfdump sampled-export reality: routers export 1-in-N sampled
    * flows, and per-collector sampling rates must scale counters
    * before any cross-collector aggregation is meaningful. The rate
    * map is a per-watcher config (the reference's per-source ini
    * sections); here each `flowsrc` carries a deterministic rate
    * (1 / 10 / 100 by collector index). Pure broadcast-join +
    * multiply — map-only over the corpus, exact integer scaled
    * counters — then the per-collector rollup shows raw vs corrected
    * volume and each collector's corrected share.
    */
  def samplingCorrect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rates = spark.createDataFrame(Seq(
      ("nfsen-0", 1L), ("nfsen-1", 10L), ("nfsen-2", 100L)))
      .toDF("flowsrc", "rate")
    val corrected = asFlows(spark, dir)
      .join(broadcast(rates), "flowsrc")
      .groupBy($"flowsrc")
      .agg(max($"rate").as("rate"),
        count(lit(1)).as("n_flows"),
        sum($"ibyt").as("raw_bytes"),
        sum($"ibyt" * $"rate").as("est_bytes"),
        sum($"ipkt" * $"rate").as("est_pkts"))
    val tot = corrected.agg(sum($"est_bytes").as("tot"))
    corrected.crossJoin(broadcast(tot))
      .select($"flowsrc", $"rate", $"n_flows", $"raw_bytes", $"est_bytes",
        $"est_pkts",
        round($"est_bytes".cast("double") / $"tot".cast("double"), 6)
          .as("share_r"))
      .orderBy($"flowsrc")
  }

  /** B52: bidirectional flow stitching (`flow_biflow_stitch`) —
    * nfdump's biflow view: netflow exporters emit each DIRECTION of a
    * conversation as its own unidirectional record, and the analyst
    * view pairs request and reply into one biflow row with separate
    * forward/reverse byte+packet counters (the RFC 5103 shape). The
    * synthetic exporter rule extends the events→flow mapping the same
    * way flags/ports do: per event, `k % 3` decides what the exporter
    * emitted — 0: both the request record and the reply record
    * (endpoints/ports swapped, the reply one second later with its
    * own counters), 1: request only, 2: reply only (request direction
    * lost) — so the stitch is exercised with two-sided conversations
    * AND both one-sided postures.
    *
    * Deterministic pairing rule, mirrored in the oracle: legs group
    * by the CANONICAL 5-tuple — the lexicographically smaller
    * (addr, port) endpoint first — and the conversation's CLIENT is
    * the side whose direction saw the earlier first record (request
    * precedes reply); a first-second tie, and any one-sided
    * conversation, resolves to the observed/canonical-first side.
    * One-sided conversations keep zeroed opposite-direction counters
    * (nfdump biflow semantics for unanswered scans).
    *
    * Scale: map-only direction normalization, then ONE shuffle on the
    * canonical tuple with map-side combine — the same profile as any
    * per-conversation rollup; no join, no window. At 100 TB the
    * conversation table is the natural bucketing key for every
    * downstream biflow consumer.
    */
  /** The B52/E19 exporter-leg derivation: one corpus pass (explode of
    * a 2-slot struct array, nulls filtered — never two scans) over ANY
    * flows frame, batch or streaming. Keeps both the event-time `ts`
    * (the streaming twin's watermark/session column) and the integer
    * epoch seconds `s` the aggregates use.
    */
  private[graft] def biflowLegs(flows: DataFrame): DataFrame = {
    import flows.sparkSession.implicits._
    flows
      .withColumn("s", expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000"))
      .select(explode(array(
        when(pmod($"k", lit(3)) =!= 2, struct(
          $"sa".as("src"), $"da".as("dst"),
          $"sp".as("spt"), $"dp".as("dpt"),
          $"pr", $"ts".as("ts"), $"s", $"ibyt", $"ipkt")),
        when(pmod($"k", lit(3)) =!= 1, struct(
          $"da".as("src"), $"sa".as("dst"),
          $"dp".as("spt"), $"sp".as("dpt"),
          $"pr", ($"ts" + expr("INTERVAL 1 SECOND")).as("ts"),
          ($"s" + 1).as("s"),
          round($"value" * 250).cast("long").as("ibyt"),
          (pmod($"event_id", lit(500)) + 1).as("ipkt")))
      )).as("l"))
      .where($"l".isNotNull).select($"l.*")
  }

  /** Canonical-endpoint normalization of the legs (smaller
    * (addr, port) endpoint first), shared by B52 and E19.
    */
  private[graft] def biflowCanon(legs: DataFrame): DataFrame = {
    import legs.sparkSession.implicits._
    val isF = ($"src" < $"dst") || ($"src" === $"dst" && $"spt" <= $"dpt")
    legs.select(
      when(isF, $"src").otherwise($"dst").as("a1"),
      when(isF, $"spt").otherwise($"dpt").as("p1"),
      when(isF, $"dst").otherwise($"src").as("a2"),
      when(isF, $"dpt").otherwise($"spt").as("p2"),
      $"pr", $"ts", $"s", $"ibyt", $"ipkt", isF.as("isf"))
  }

  def biflowStitch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conv = biflowCanon(biflowLegs(asFlows(spark, dir)))
      .groupBy($"a1", $"p1", $"a2", $"p2", $"pr")
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
        $"first_s", $"last_s", ($"last_s" - $"first_s").as("duration_s"))
      .orderBy($"client", $"client_port", $"server", $"server_port", $"pr")
  }

  /** B54: hierarchical subnet rollup (`flow_subnet_rollup`) — the
    * operator behind "which /24 inside which /16 is hot": source
    * traffic aggregated at /24 grain with each /24's share of its
    * enclosing /16, computed through the codegen'd ip4_aton/ip4_ntoa
    * expressions (mask arithmetic on the numeric form, canonical
    * dotted-quad back out). The oracle derives both prefixes from the
    * closed-form octet arithmetic of the synthetic address plan, so
    * the whole numeric round-trip is hash-checked.
    *
    * Scale: ONE corpus shuffle keyed by the /24 (map-side combine);
    * the /16 rollup re-aggregates the /24 table (subnet-sized, not
    * corpus-sized) and broadcasts back for the share — the classic
    * two-level reaggregation, never a second corpus pass.
    */
  def subnetRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val by24 = asFlows(spark, dir)
      .withColumn("san", ip4_aton($"sa"))
      .groupBy(
        ip4_ntoa($"san".bitwiseAND(lit(0xFFFF0000L))).as("net16"),
        ip4_ntoa($"san".bitwiseAND(lit(0xFFFFFF00L))).as("net24"))
      .agg(sum($"ibyt").as("bytes"), count(lit(1)).as("n_flows"),
        countDistinct($"sa").as("n_hosts"))
    val by16 = by24.groupBy($"net16").agg(sum($"bytes").as("bytes16"))
    by24.join(broadcast(by16), "net16")
      .select($"net16", $"net24", $"bytes", $"n_flows", $"n_hosts",
        round($"bytes".cast("double") / $"bytes16".cast("double"), 6)
          .as("share16_r"))
      .orderBy($"net16", $"bytes".desc, $"net24")
  }

  /** B55: robust traffic anomaly detection (`flow_mad_anomaly`) —
    * median/MAD z-scores over each collector's hourly volume series:
    * rz = (vol − median) / (1.4826·MAD). The robust complement of
    * B20's mean/stddev z-score — a real traffic spike inflates the
    * mean AND the stddev of its own baseline (masking), while the
    * median and the median absolute deviation ignore it, which is why
    * NOC alerting prefers MAD for bursty links.
    *
    * Scale: the corpus reduces ONCE to the (flowsrc, hour) rollup,
    * which is materialized (hours × collectors rows — KB, not TB) so
    * the two grouped exact-percentile passes (median, then MAD) and
    * the final join-back all read the tiny rollup instead of
    * re-scanning the corpus; both percentile frames broadcast back.
    * No global window anywhere.
    *
    * Determinism: vol is the decimal-exact sum cast to double, both
    * engines interpolate the exact median identically (percentile ↔
    * quantile_cont), and the published score is round(6) so a final
    * ulp in the division cannot flip the hash. The flag threshold
    * (|rz| > 3.5) is the conventional MAD cutoff.
    */
  def madAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = graft.Staging.materialize(asFlows(spark, dir)
      .groupBy($"flowsrc", date_trunc("hour", $"ts").as("h"))
      .agg(dsum($"value").cast("double").as("vol")))
    val med = hourly.groupBy($"flowsrc")
      .agg(expr("percentile(vol, 0.5)").as("med"))
    val dev = hourly.join(broadcast(med), "flowsrc")
      .withColumn("dev", abs($"vol" - $"med"))
    val mad = dev.groupBy($"flowsrc")
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "flowsrc")
      .where($"mad" > 0)
      .withColumn("rz_r", round(($"vol" - $"med") / (lit(1.4826) * $"mad"), 6))
      .select($"flowsrc", $"h", $"vol",
        round($"med", 6).as("med_r"), round($"mad", 6).as("mad_r"),
        $"rz_r", (abs($"rz_r") > 3.5).as("anomalous"))
      .orderBy($"flowsrc", $"h")
  }

  /** B56: Theil–Sen robust trend estimation (`flow_theil_sen`) — per
    * collector, the median of all pairwise slopes of the hourly
    * volume series (slope), plus the median-of-residuals intercept:
    * the capacity-planning trend line that a day of outage zeros or
    * one DDoS spike cannot hijack, unlike least squares (up to ~29%
    * contamination tolerance).
    *
    * Scale: the corpus reduces ONCE to the materialized (flowsrc,
    * hour) rollup; the O(hours²) pair generation runs on that
    * bounded rollup — hours grow with the calendar, not the corpus,
    * so the pair count is unchanged at 100× the data. The per-site
    * slope median is a grouped exact percentile; the intercept pass
    * re-reads the same materialized rollup with the slope broadcast
    * back.
    *
    * Determinism: slopes are exact double quotients of decimal-exact
    * hourly sums over integer hour deltas; both engines interpolate
    * medians identically; published values round(6).
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = graft.Staging.materialize(asFlows(spark, dir)
      .groupBy($"flowsrc", date_trunc("hour", $"ts").as("h"))
      .agg(dsum($"value").cast("double").as("vol"))
      .withColumn("t",
        expr("unix_micros(CAST(h AS TIMESTAMP)) div 3600000000")))
    val a = hourly.select($"flowsrc", $"t".as("ta"), $"vol".as("va"))
    val b = hourly.select($"flowsrc", $"t".as("tb"), $"vol".as("vb"))
    val sen = a.join(broadcast(b), Seq("flowsrc"))
      .where($"ta" < $"tb")
      .select($"flowsrc",
        (($"vb" - $"va") / ($"tb" - $"ta").cast("double")).as("slope"))
      .groupBy($"flowsrc")
      .agg(expr("percentile(slope, 0.5)").as("sen"))
    hourly.join(broadcast(sen), "flowsrc")
      .groupBy($"flowsrc")
      .agg(count(lit(1)).as("n_hours"),
        expr("percentile(vol - sen * t, 0.5)").as("icept"),
        max($"sen").as("sen_v"))
      .select($"flowsrc", $"n_hours", round($"sen_v", 6).as("slope_r"),
        round($"icept", 6).as("icept_r"))
      .orderBy($"flowsrc")
  }

  /** KMV sketch width for B59 (rel. error ≈ 1/√(k−1) ≈ 6%). */
  private val KmvK = 256

  /** B59: sketch set algebra (`flow_set_algebra`) — the question HLL
    * can't answer directly: for every protocol PAIR, how many source
    * hosts do the two sets SHARE, and how many are exclusive —
    * |A|, |B|, |A∪B|, |A∩B|, |A\B| — all read off two fixed-size
    * KMV/theta sketches ([[graft.functions.KmvAgg]]). HLL unions,
    * but intersections come out only by inclusion–exclusion with
    * compounding error; KMV reads them from the common hash window
    * below θ. Exact counterparts ride alongside, and because the
    * hash is md5-derived the oracle REPLAYS the sketches (ORDER
    * BY/LIMIT k) and hash-checks the estimates themselves.
    *
    * Scale: one corpus pass builds all per-protocol sketches
    * (map-side partials are O(k) longs; the shuffle carries one
    * sketch per partition, never the host set); the pair algebra
    * runs on the |protocols|-row sketch table. The exact legs exist
    * for the scorecard — a production run keeps only the sketches.
    */
  def setAlgebra(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.KmvAgg._
    val p = asFlows(spark, dir).select($"pr", $"da").distinct()
    val sk = asFlows(spark, dir).groupBy($"pr")
      .agg(kmv_sketch($"da", KmvK).as("sk"))
    val ex = p.groupBy($"pr").agg(count(lit(1)).as("exact"))
    val exi = p.as("a").join(p.as("b"),
        col("a.da") === col("b.da") && col("a.pr") < col("b.pr"))
      .groupBy(col("a.pr").as("pr_a"), col("b.pr").as("pr_b"))
      .agg(count(lit(1)).as("exact_inter"))
    sk.select($"pr".as("pr_a"), $"sk".as("sk_a"))
      .crossJoin(broadcast(sk.select($"pr".as("pr_b"), $"sk".as("sk_b"))))
      .where($"pr_a" < $"pr_b")
      .join(broadcast(ex.select($"pr".as("pr_a"), $"exact".as("exact_a"))), "pr_a")
      .join(broadcast(ex.select($"pr".as("pr_b"), $"exact".as("exact_b"))), "pr_b")
      .join(broadcast(exi), Seq("pr_a", "pr_b"), "left")
      .select($"pr_a", $"pr_b", $"exact_a", $"exact_b",
        coalesce($"exact_inter", lit(0L)).as("exact_inter"),
        round(kmv_estimate($"sk_a"), 4).as("est_a_r"),
        round(kmv_estimate($"sk_b"), 4).as("est_b_r"),
        round(kmv_union_est($"sk_a", $"sk_b"), 4).as("est_union_r"),
        round(kmv_inter_est($"sk_a", $"sk_b"), 4).as("est_inter_r"),
        round(kmv_diff_est($"sk_a", $"sk_b"), 4).as("est_diff_r"))
      .orderBy($"pr_a", $"pr_b")
  }

  /** B60: day-over-day host churn (`flow_host_churn`) — B59's sketch
    * algebra pointed at the time axis: per consecutive-day pair, the
    * RETAINED (∩), NEW (today \ yesterday) and LOST (yesterday \
    * today) source-host populations, each read off the two days'
    * O(k) KMV sketches — the NOC "did our client base shift" report
    * that exact daily set joins answer only by re-shuffling the
    * corpus per day pair. Sketches build in ONE corpus pass; churn
    * algebra runs on the days-sized sketch table. Exact legs ride
    * alongside as the scorecard; estimates are oracle-REPLAYED and
    * hash-checked like B59.
    */
  def hostChurn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.KmvAgg._
    val pd = asFlows(spark, dir)
      .select(date_trunc("day", $"ts").as("d"), $"sa").distinct()
    val sk = asFlows(spark, dir)
      .groupBy(date_trunc("day", $"ts").as("d"))
      .agg(kmv_sketch($"sa", KmvK).as("sk"))
    val pairs = sk.select($"d".as("d0"), $"sk".as("sk0"))
      .join(broadcast(sk.select($"d".as("d1"), $"sk".as("sk1"))),
        expr("d1 = d0 + INTERVAL 1 DAY"))
    val a = pd.select($"d".as("da"), $"sa")
    val b = pd.select($"d".as("db"), $"sa".as("sb"))
    val ret = a.join(b, expr("db = da + INTERVAL 1 DAY") && $"sa" === $"sb")
      .groupBy($"db".as("d1")).agg(count(lit(1)).as("exact_ret"))
    val fresh = b.join(a, expr("db = da + INTERVAL 1 DAY") && $"sa" === $"sb",
        "left_anti")
      .groupBy($"db".as("d1")).agg(count(lit(1)).as("exact_new"))
    val lost = a.join(b, expr("db = da + INTERVAL 1 DAY") && $"sa" === $"sb",
        "left_anti")
      .select(expr("da + INTERVAL 1 DAY").as("d1"))
      .groupBy($"d1").agg(count(lit(1)).as("exact_lost"))
    pairs
      .join(broadcast(ret), Seq("d1"), "left")
      .join(broadcast(fresh), Seq("d1"), "left")
      .join(broadcast(lost), Seq("d1"), "left")
      .select(date_format($"d1", "yyyy-MM-dd").as("day_s"),
        coalesce($"exact_ret", lit(0L)).as("exact_ret"),
        coalesce($"exact_new", lit(0L)).as("exact_new"),
        coalesce($"exact_lost", lit(0L)).as("exact_lost"),
        round(kmv_inter_est($"sk0", $"sk1"), 4).as("est_ret_r"),
        round(kmv_diff_est($"sk1", $"sk0"), 4).as("est_new_r"),
        round(kmv_diff_est($"sk0", $"sk1"), 4).as("est_lost_r"))
      .orderBy($"day_s")
  }

  /** B58: longest-prefix-match enrichment (`flow_lpm_enrich`) — the
    * GeoIP/ASN/routing-table join every flow pipeline runs: each
    * address resolves to its MOST SPECIFIC matching prefix from a
    * routing dim (here /24 rack entries inside /16 site entries over
    * a /0 default). Execution is the 100 TB shape for LPM on Spark:
    * one broadcast LEFT join per distinct mask length present in the
    * dim (mask arithmetic on the codegen'd ip4_aton numeric form),
    * specificity resolved map-side by coalesce — the corpus NEVER
    * shuffles for enrichment, there is no per-row prefix explode, and
    * a real routing table's ~30 mask lengths stay a bounded join
    * chain. The closed-form oracle re-derives the winning prefix from
    * the synthetic address plan, so the whole aton→mask→LPM chain is
    * hash-verified, including the default route (dst lives outside
    * every specific prefix).
    */
  /** The LPM label derivation over ANY flow-shaped frame — pure
    * broadcast joins + column ops, so it composes onto the streaming
    * source (E22) like [[flowsOf]] does. Output adds (src_label,
    * matched_len, dst_label) to the frame. */
  private[graft] def lpmLabeled(flows: DataFrame): DataFrame = {
    import flows.sparkSession.implicits._
    val spark = flows.sparkSession
    val ten = 167772160L // 10.0.0.0
    val p16 = spark.range(64).select(
      (lit(ten) + $"id" * 65536L).as("p16"),
      concat(lit("site-"), $"id").as("l16"))
    val p24 = spark.range(64).select($"id".as("u"))
      .crossJoin(spark.range(4).select($"id".as("j")))
      .select((lit(ten) + $"u" * 65536L + $"j" * 256L).as("p24"),
        concat(lit("rack-"), $"u", lit("-"), $"j").as("l24"))
    flows
      .withColumn("san", ip4_aton($"sa"))
      .withColumn("dan", ip4_aton($"da"))
      .join(broadcast(p24),
        $"san".bitwiseAND(lit(0xFFFFFF00L)) === $"p24", "left")
      .join(broadcast(p16),
        $"san".bitwiseAND(lit(0xFFFF0000L)) === $"p16", "left")
      .join(broadcast(p24.select($"p24".as("dp24"), $"l24".as("dl24"))),
        $"dan".bitwiseAND(lit(0xFFFFFF00L)) === $"dp24", "left")
      .join(broadcast(p16.select($"p16".as("dp16"), $"l16".as("dl16"))),
        $"dan".bitwiseAND(lit(0xFFFF0000L)) === $"dp16", "left")
      .withColumn("src_label", coalesce($"l24", $"l16", lit("internet")))
      .withColumn("matched_len",
        when($"l24".isNotNull, 24).when($"l16".isNotNull, 16)
          .otherwise(0).cast("int"))
      .withColumn("dst_label", coalesce($"dl24", $"dl16", lit("internet")))
  }

  def lpmEnrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lpmLabeled(asFlows(spark, dir))
      .select($"src_label", $"matched_len", $"dst_label", $"sa", $"ibyt")
      .groupBy($"src_label", $"matched_len", $"dst_label")
      .agg(count(lit(1)).as("n_flows"), sum($"ibyt").as("bytes"),
        countDistinct($"sa").as("n_src"))
      .orderBy($"src_label")
  }

  /** B58b: IPv6 longest-prefix-match enrichment (`flow_lpm6_enrich`) —
    * B58's dual-stack other half: the same one-broadcast-join-per-mask-
    * length LPM chain, with the join key the codegen'd
    * [[graft.functions.Ip6Funcs.ip6_net]] masked 16-byte network (v6
    * has no long form to AND, so the mask arithmetic lives in the
    * expression and the joins hash BinaryType keys). Routing dim:
    * /48 site prefixes for the first 48 sites and /116 rack prefixes
    * inside them (the top nibble of the interface group), with the
    * last 16 sites falling through to the default route — so all
    * three specificity tiers (most-specific win, mid-tier, default)
    * are exercised and hash-checked by the closed-form oracle. The
    * corpus never shuffles; the dim is 240 broadcast rows, and a real
    * v6 table's ~60 mask lengths stay a bounded join chain.
    */
  private[graft] def lpm6Labeled(flows: DataFrame): DataFrame = {
    import flows.sparkSession.implicits._
    import graft.functions.Ip6Funcs.ip6_net
    val spark = flows.sparkSession
    val sites = spark.range(48).select(
      ip6_net(concat(lit("2001:db8:"), lower(hex($"id")), lit("::")),
        lit(48)).as("net48"),
      concat(lit("site6-"), $"id").as("l48"))
    val racks = spark.range(48).select($"id".as("x"))
      .crossJoin(spark.range(4).select($"id".as("n")))
      .select(
        ip6_net(concat(lit("2001:db8:"), lower(hex($"x")), lit("::"),
          lower(hex($"n" * 4096L))), lit(116)).as("net116"),
        concat(lit("rack6-"), $"x", lit("-"), $"n").as("l116"))
    flows
      .withColumn("sn116", ip6_net($"sa6", lit(116)))
      .withColumn("sn48", ip6_net($"sa6", lit(48)))
      .join(broadcast(racks), $"sn116" === $"net116", "left")
      .join(broadcast(sites), $"sn48" === $"net48", "left")
      .withColumn("src_label", coalesce($"l116", $"l48", lit("internet6")))
      .withColumn("matched_len",
        when($"l116".isNotNull, 116).when($"l48".isNotNull, 48)
          .otherwise(0).cast("int"))
  }

  def lpm6Enrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lpm6Labeled(asFlows(spark, dir))
      .groupBy($"src_label", $"matched_len")
      .agg(count(lit(1)).as("n_flows"), sum($"ibyt").as("bytes"),
        countDistinct($"sa6").as("n_src"))
      .orderBy($"src_label")
  }

  /** B58c: dual-stack subnet volume (`flow_dualstack_volume`) — mixed
    * v4/v6 analytics in ONE pass, the migration-era NetFlow shape
    * (records carry an address family per flow, and a Grafana panel
    * wants both families on one chart): each flow is v6 when
    * event_id % 4 == 0 (~25% v6, a realistic rollout mix) and v4
    * otherwise, and the query rolls up traffic by (af, subnet) for
    * one monitored block per family — v4 10.32.0.0/11 at /24 grain
    * (ip4_in_cidr gate, ip4_aton mask arithmetic, ip4_ntoa render)
    * and v6 2001:db8:20::/44 at /48 grain (ip6_in_cidr gate, ip6_net
    * 16-byte mask, RFC 5952 ip6_ntoa render) — so the full v4 AND v6
    * expression families run over corpus-derived addresses
    * end-to-end, hash-checked against the oracle's closed-form octet
    * / hex-group arithmetic.
    *
    * Scale: each leg is one filtered corpus pass with a map-side
    * combined rollup keyed by its subnet (the CIDR gates are
    * codegen'd predicates that push into the scan's filter stage);
    * the union is subnet-sized, never corpus-sized.
    */
  def dualstackVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Ip6Funcs.{ip6_in_cidr, ip6_net, ip6_ntoa}
    val fl = asFlows(spark, dir).withColumn("af",
      when(pmod($"event_id", lit(4)) === 0, 6).otherwise(4).cast("int"))
    val v4 = fl.where($"af" === 4 && ip4_in_cidr($"sa", lit("10.32.0.0/11")))
      .groupBy(concat(ip4_ntoa(ip4_aton($"sa").bitwiseAND(lit(0xFFFFFF00L))),
        lit("/24")).as("subnet"))
      .agg(count(lit(1)).as("n_flows"), sum($"ibyt").as("bytes"),
        countDistinct($"sa").as("n_hosts"))
      .select(lit(4).cast("int").as("af"), $"subnet", $"n_flows", $"bytes",
        $"n_hosts")
    val v6 = fl.where($"af" === 6 &&
        ip6_in_cidr($"sa6", lit("2001:db8:20::/44")))
      .groupBy(concat(ip6_ntoa(ip6_net($"sa6", lit(48))), lit("/48"))
        .as("subnet"))
      .agg(count(lit(1)).as("n_flows"), sum($"ibyt").as("bytes"),
        countDistinct($"sa6").as("n_hosts"))
      .select(lit(6).cast("int").as("af"), $"subnet", $"n_flows", $"bytes",
        $"n_hosts")
    v4.unionAll(v6).orderBy($"af", $"subnet")
  }

  /** B57: Holt double-exponential forecast (`flow_holt_forecast`) —
    * level + trend smoothing over each collector's hourly volume
    * series (l ← α·x + (1−α)(l+b); b ← β(l−l_prev) + (1−β)b), the
    * short-horizon complement of B26's trendless EWMA: a steadily
    * growing link EWMA under-forecasts forever, Holt tracks the
    * slope. Published: final level/trend and the 1-/3-hour-ahead
    * forecasts l + h·b.
    *
    * Scale: the corpus reduces ONCE to the materialized (flowsrc,
    * hour) rollup; the inherently-sequential recursion folds over
    * each collector's hour-sorted array via the `aggregate` HOF —
    * calendar-bounded rows per group, map-side, no window, no
    * driver loop.
    *
    * Determinism: α=0.5, β=0.25 are exactly-representable dyadics,
    * the fold is written with the identical parse tree in the DuckDB
    * recursive-CTE twin, and the recurrence visits observations in
    * the same hour order on both engines — so every intermediate
    * IEEE value matches bit for bit; outputs round(6) regardless.
    * Init: l₁ = x₁, b₁ = 0 (documented choice, mirrored exactly).
    */
  def holtForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = graft.Staging.materialize(asFlows(spark, dir)
      .groupBy($"flowsrc", date_trunc("hour", $"ts").as("h"))
      .agg(dsum($"value").cast("double").as("vol")))
    hourly.groupBy($"flowsrc")
      .agg(array_sort(collect_list(struct($"h", $"vol"))).as("s"))
      .select($"flowsrc", size($"s").cast("long").as("n_hours"),
        expr("""aggregate(
          slice(s, 2, size(s) - 1),
          named_struct(
            'l', CAST(element_at(s, 1).vol AS DOUBLE),
            'b', CAST(0.0 AS DOUBLE)),
          (acc, x) -> named_struct(
            'l', 0.5D * x.vol + 0.5D * (acc.l + acc.b),
            'b', 0.25D * ((0.5D * x.vol + 0.5D * (acc.l + acc.b)) - acc.l)
                   + 0.75D * acc.b))""").as("st"))
      .select($"flowsrc", $"n_hours",
        round($"st.l", 6).as("level_r"), round($"st.b", 6).as("trend_r"),
        round($"st.l" + $"st.b", 6).as("fc1_r"),
        round($"st.l" + lit(3.0) * $"st.b", 6).as("fc3_r"))
      .orderBy($"flowsrc")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "flow_holt_forecast" -> holtForecast _,
    "flow_set_algebra" -> setAlgebra _,
    "flow_host_churn" -> hostChurn _,
    "flow_lpm_enrich" -> lpmEnrich _,
    "flow_lpm6_enrich" -> lpm6Enrich _,
    "flow_dualstack_volume" -> dualstackVolume _,
    "flow_subnet_rollup" -> subnetRollup _,
    "flow_mad_anomaly" -> madAnomaly _,
    "flow_theil_sen" -> theilSen _,
    "flow_biflow_stitch" -> biflowStitch _,
    "flow_concurrency" -> flowConcurrency _,
    "flow_sampling_correct" -> samplingCorrect _,
    "flow_topn_persistence" -> topnPersistence _,
    "flow_bytes_gini" -> bytesGini _,
    "flow_flag_profile" -> flagProfile _,
    "flow_topk_decayed" -> topkDecayed _,
    "flow_burstiness" -> burstiness _,
    "flow_service_similarity" -> serviceSimilarity _,
    "flow_conversion_latency" -> conversionLatency _,
    "flow_entropy_profile" -> entropyProfile _,
    "flow_distinct_cube" -> distinctCube _,
    "flow_hhh" -> hhh _,
    "flow_rare_pairs" -> rarePairs _,
    "flow_cusum" -> cusum _,
    "flow_autocorr" -> autocorr _,
    "flow_rollup_reagg" -> rollupReagg _,
    "flow_degree_profile" -> degreeProfile _,
    "flow_value_quantiles_sliding" -> valueQuantilesSliding _,
    "flow_ewma_forecast" -> ewmaForecast _,
    "flow_interval_merge" -> intervalMerge _,
    "flow_distinct_overlap" -> distinctOverlap _,
    "flow_topk_windowed" -> topKWindowed _,
    "flow_anomaly_zscore" -> anomalyZscore _,
    "flow_ddos_score" -> ddosScore _,
    "flow_distinct_hll" -> distinctHll _,
    "flow_distinct_hll_sliding" -> distinctHllSliding _,
    "flow_zorder_locality" -> zorderLocality _,
    "flow_freq_cms" -> freqCms _,
    "flow_top_talkers_salted" -> topTalkersSalted _,
    "json_props_agg" -> jsonPropsAgg _,
    "flow_flag_filter" -> flagFilter _,
    "flow_funnel" -> funnel _,
    "flow_funnel_sliding" -> funnelSliding _,
    "flow_retention" -> retention _,
    "flow_ingest" -> flowIngest _,
    "flow_transform" -> flowTransform _,
    "flow_cidr_filter" -> flowCidrFilter _,
    "flow_cidr6_filter" -> flowCidr6Filter _,
    "flow_top_ports" -> topPorts _,
    "flow_topk_approx" -> topKApprox _,
    "flow_sequence_match" -> sequenceMatch _,
    "flow_sequence_match4" -> sequenceMatch4 _,
    "flow_topk_weighted" -> topKWeighted _,
    "flow_value_histogram" -> valueHistogram _,
    "flow_top_talkers_series" -> topTalkersSeries _,
    "flow_proto_mix_series" -> protoMixSeries _,
    "flow_by_source" -> bySource _,
    "flow_daily_volume" -> flowDailyVolume _,
    "flow_top_talkers" -> topTalkers _,
    "flow_top_conversations" -> topConversations _,
    "flow_host_totals" -> hostTotals _,
    "flow_proto_breakdown" -> protoBreakdown _,
    "flow_time_series" -> timeSeries _,
    "flow_time_series_sliding" -> timeSeriesSliding _,
    "flow_weekday_profile" -> weekdayProfile _,
    "flow_sessions_native" -> sessionsNative _,
    "flow_fan_in" -> fanIn _,
    "flow_window_filter" -> windowFilter _,
    "flow_value_percentiles" -> valuePercentiles _,
    "flow_sessions" -> sessions _,
    "flow_beaconing" -> beaconing _,
    "flow_portscan" -> portScan _,
    "flow_heavy_hitters" -> heavyHitters _)

  /** B26 oracle arithmetic, generated from [[EwmaWeights]] so Spark
    * and DuckDB share the exact IEEE weight values and term order
    * (shortest-round-trip literals parse back to the same doubles).
    */
  private val ewmaNumSql = EwmaWeights.zipWithIndex.map { case (wt, i) =>
    s"CAST('$wt' AS DOUBLE) * coalesce(lag(vol, ${i + 1}) OVER w, 0.0)"
  }.mkString(" + ")
  private val ewmaDenSql = EwmaWeights.zipWithIndex.map { case (wt, i) =>
    s"CASE WHEN lag(vol, ${i + 1}) OVER w IS NOT NULL THEN CAST('$wt' AS DOUBLE) ELSE 0.0 END"
  }.mkString(" + ")
  private val ewmaNbSql = (1 to EwmaLags).map { j =>
    s"CASE WHEN lag(vol, $j) OVER w IS NOT NULL THEN 1 ELSE 0 END"
  }.mkString(" + ")

  /** Shared B32/B33 oracle fragment: the per-protocol hourly volume
    * table plus its exact decimal moment sums (mirrors [[cusum]] /
    * [[autocorr]]'s stats aggregation term-for-term).
    */
  private val hourlyCteSql: String =
    """, hourly AS (
      |  SELECT pr, date_trunc('hour', ts) AS h,
      |    CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS vol
      |  FROM flows GROUP BY 1, 2)
      |""".stripMargin

  /** B33 oracle: one UNION ALL branch per lag, each mirroring the
    * engine's exact-decimal-sum Pearson assembly.
    */
  private val acfBranchesSql: String = AcfLags.map { k =>
    s"""SELECT pr, $k AS lag_h, count(*) AS n_pairs,
       |  round((count(*) * CAST(sum(CAST(vol * l$k AS DECIMAL(28,4))) AS DOUBLE)
       |      - CAST(sum(CAST(vol AS DECIMAL(28,2))) AS DOUBLE)
       |        * CAST(sum(CAST(l$k AS DECIMAL(28,2))) AS DOUBLE))
       |    / sqrt((count(*) * CAST(sum(CAST(vol * vol AS DECIMAL(28,4))) AS DOUBLE)
       |        - CAST(sum(CAST(vol AS DECIMAL(28,2))) AS DOUBLE)
       |          * CAST(sum(CAST(vol AS DECIMAL(28,2))) AS DOUBLE))
       |      * (count(*) * CAST(sum(CAST(l$k * l$k AS DECIMAL(28,4))) AS DOUBLE)
       |        - CAST(sum(CAST(l$k AS DECIMAL(28,2))) AS DOUBLE)
       |          * CAST(sum(CAST(l$k AS DECIMAL(28,2))) AS DOUBLE))), 6) AS r_r
       |FROM lagged WHERE l$k IS NOT NULL GROUP BY pr
       |HAVING count(*) > 1""".stripMargin
  }.mkString("\nUNION ALL\n")

  val oracleSql: Map[String, String] = Map(
    "flow_host_churn" -> (flowsCte +
      """, pd AS (SELECT DISTINCT date_trunc('day', ts) AS d, sa FROM flows),
        |hh AS (SELECT d, ('0x' || substr(md5(sa), 1, 15))::BIGINT AS h
        |       FROM pd),
        |rk AS (SELECT d, h,
        |    row_number() OVER (PARTITION BY d ORDER BY h) AS rn
        |  FROM hh),
        |sk AS (SELECT d, h FROM rk WHERE rn <= 256),
        |days AS (SELECT DISTINCT d FROM pd),
        |prs AS (SELECT a.d AS d0, b.d AS d1 FROM days a
        |        JOIN days b ON b.d = a.d + INTERVAL 1 DAY),
        |uv AS (
        |  SELECT d0, d1, h FROM (
        |    SELECT q.d0, q.d1, s.h FROM prs q JOIN sk s ON s.d = q.d0
        |    UNION
        |    SELECT q.d0, q.d1, s.h FROM prs q JOIN sk s ON s.d = q.d1)),
        |ur AS (SELECT d0, d1, h,
        |    row_number() OVER (PARTITION BY d0, d1 ORDER BY h) AS rn
        |  FROM uv),
        |uth AS (
        |  SELECT d0, d1, max(CASE WHEN rn = 256 THEN h END) AS th
        |  FROM ur WHERE rn <= 256 GROUP BY 1, 2),
        |rho AS (
        |  SELECT s1.d AS d0, s2.d AS d1, count(*) AS c
        |  FROM sk s1 JOIN sk s2
        |    ON s1.h = s2.h AND s2.d = s1.d + INTERVAL 1 DAY
        |  JOIN uth u ON u.d0 = s1.d AND u.d1 = s2.d
        |  WHERE u.th IS NULL OR s1.h < u.th
        |  GROUP BY 1, 2),
        |fresh AS (
        |  SELECT q.d0, q.d1, count(*) AS c
        |  FROM prs q JOIN sk s1 ON s1.d = q.d1
        |  JOIN uth u ON u.d0 = q.d0 AND u.d1 = q.d1
        |  LEFT JOIN sk s2 ON s2.d = q.d0 AND s2.h = s1.h
        |  WHERE s2.h IS NULL AND (u.th IS NULL OR s1.h < u.th)
        |  GROUP BY 1, 2),
        |lost AS (
        |  SELECT q.d0, q.d1, count(*) AS c
        |  FROM prs q JOIN sk s1 ON s1.d = q.d0
        |  JOIN uth u ON u.d0 = q.d0 AND u.d1 = q.d1
        |  LEFT JOIN sk s2 ON s2.d = q.d1 AND s2.h = s1.h
        |  WHERE s2.h IS NULL AND (u.th IS NULL OR s1.h < u.th)
        |  GROUP BY 1, 2),
        |xret AS (
        |  SELECT b.d AS d1, count(*) AS exact_ret
        |  FROM pd a JOIN pd b
        |    ON a.sa = b.sa AND b.d = a.d + INTERVAL 1 DAY
        |  GROUP BY 1),
        |xnew AS (
        |  SELECT b.d AS d1, count(*) AS exact_new FROM pd b
        |  WHERE NOT EXISTS (SELECT 1 FROM pd a
        |    WHERE a.sa = b.sa AND b.d = a.d + INTERVAL 1 DAY)
        |  GROUP BY 1),
        |xlost AS (
        |  SELECT a.d + INTERVAL 1 DAY AS d1, count(*) AS exact_lost
        |  FROM pd a
        |  WHERE NOT EXISTS (SELECT 1 FROM pd b
        |    WHERE b.sa = a.sa AND b.d = a.d + INTERVAL 1 DAY)
        |  GROUP BY 1)
        |SELECT strftime(q.d1, '%Y-%m-%d') AS day_s,
        |  coalesce(r.exact_ret, 0) AS exact_ret,
        |  coalesce(n.exact_new, 0) AS exact_new,
        |  coalesce(l.exact_lost, 0) AS exact_lost,
        |  round(CASE WHEN u.th IS NULL THEN CAST(coalesce(rr.c, 0) AS DOUBLE)
        |    ELSE (CAST(coalesce(rr.c, 0) AS DOUBLE)
        |      * CAST(1152921504606846976 AS DOUBLE))
        |      / CAST(u.th AS DOUBLE) END, 4) AS est_ret_r,
        |  round(CASE WHEN u.th IS NULL THEN CAST(coalesce(f.c, 0) AS DOUBLE)
        |    ELSE (CAST(coalesce(f.c, 0) AS DOUBLE)
        |      * CAST(1152921504606846976 AS DOUBLE))
        |      / CAST(u.th AS DOUBLE) END, 4) AS est_new_r,
        |  round(CASE WHEN u.th IS NULL THEN CAST(coalesce(o.c, 0) AS DOUBLE)
        |    ELSE (CAST(coalesce(o.c, 0) AS DOUBLE)
        |      * CAST(1152921504606846976 AS DOUBLE))
        |      / CAST(u.th AS DOUBLE) END, 4) AS est_lost_r
        |FROM prs q
        |JOIN uth u ON u.d0 = q.d0 AND u.d1 = q.d1
        |LEFT JOIN xret r ON r.d1 = q.d1
        |LEFT JOIN xnew n ON n.d1 = q.d1
        |LEFT JOIN xlost l ON l.d1 = q.d1
        |LEFT JOIN rho rr ON rr.d0 = q.d0 AND rr.d1 = q.d1
        |LEFT JOIN fresh f ON f.d0 = q.d0 AND f.d1 = q.d1
        |LEFT JOIN lost o ON o.d0 = q.d0 AND o.d1 = q.d1
        |ORDER BY day_s""".stripMargin),
    "flow_set_algebra" -> (flowsCte +
      """, p AS (SELECT DISTINCT pr, da FROM flows),
        |hh AS (SELECT pr, ('0x' || substr(md5(da), 1, 15))::BIGINT AS h
        |       FROM p),
        |rk AS (SELECT pr, h,
        |    row_number() OVER (PARTITION BY pr ORDER BY h) AS rn
        |  FROM hh),
        |sk AS (SELECT pr, h, rn FROM rk WHERE rn <= 256),
        |sth AS (
        |  SELECT pr, count(*) AS ns,
        |    max(CASE WHEN rn = 256 THEN h END) AS th
        |  FROM sk GROUP BY pr),
        |ex AS (SELECT pr, count(*) AS exact FROM p GROUP BY pr),
        |exi AS (
        |  SELECT a.pr AS pr_a, b.pr AS pr_b, count(*) AS exact_inter
        |  FROM p a JOIN p b ON a.da = b.da AND a.pr < b.pr GROUP BY 1, 2),
        |prs AS (SELECT a.pr AS pr_a, b.pr AS pr_b
        |        FROM ex a JOIN ex b ON a.pr < b.pr),
        |uv AS (
        |  SELECT pr_a, pr_b, h FROM (
        |    SELECT q.pr_a, q.pr_b, s.h FROM prs q JOIN sk s ON s.pr = q.pr_a
        |    UNION
        |    SELECT q.pr_a, q.pr_b, s.h FROM prs q JOIN sk s ON s.pr = q.pr_b)),
        |ur AS (SELECT pr_a, pr_b, h,
        |    row_number() OVER (PARTITION BY pr_a, pr_b ORDER BY h) AS rn
        |  FROM uv),
        |uth AS (
        |  SELECT pr_a, pr_b, count(*) AS nu,
        |    max(CASE WHEN rn = 256 THEN h END) AS th
        |  FROM ur WHERE rn <= 256 GROUP BY 1, 2),
        |rho AS (
        |  SELECT s1.pr AS pr_a, s2.pr AS pr_b, count(*) AS c
        |  FROM sk s1 JOIN sk s2 ON s1.h = s2.h AND s1.pr < s2.pr
        |  JOIN uth u ON u.pr_a = s1.pr AND u.pr_b = s2.pr
        |  WHERE u.th IS NULL OR s1.h < u.th
        |  GROUP BY 1, 2),
        |dif AS (
        |  SELECT q.pr_a, q.pr_b, count(*) AS c
        |  FROM prs q JOIN sk s1 ON s1.pr = q.pr_a
        |  JOIN uth u ON u.pr_a = q.pr_a AND u.pr_b = q.pr_b
        |  LEFT JOIN sk s2 ON s2.pr = q.pr_b AND s2.h = s1.h
        |  WHERE s2.h IS NULL AND (u.th IS NULL OR s1.h < u.th)
        |  GROUP BY 1, 2)
        |SELECT q.pr_a, q.pr_b,
        |  ea.exact AS exact_a, eb.exact AS exact_b,
        |  coalesce(i.exact_inter, 0) AS exact_inter,
        |  round(CASE WHEN sa.ns < 256 THEN CAST(sa.ns AS DOUBLE)
        |    ELSE (CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
        |      / CAST(sa.th AS DOUBLE) END, 4) AS est_a_r,
        |  round(CASE WHEN sb.ns < 256 THEN CAST(sb.ns AS DOUBLE)
        |    ELSE (CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
        |      / CAST(sb.th AS DOUBLE) END, 4) AS est_b_r,
        |  round(CASE WHEN u.nu < 256 THEN CAST(u.nu AS DOUBLE)
        |    ELSE (CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
        |      / CAST(u.th AS DOUBLE) END, 4) AS est_union_r,
        |  round(CASE WHEN u.th IS NULL THEN CAST(coalesce(r.c, 0) AS DOUBLE)
        |    ELSE (CAST(coalesce(r.c, 0) AS DOUBLE)
        |      * CAST(1152921504606846976 AS DOUBLE))
        |      / CAST(u.th AS DOUBLE) END, 4) AS est_inter_r,
        |  round(CASE WHEN u.th IS NULL THEN CAST(coalesce(d.c, 0) AS DOUBLE)
        |    ELSE (CAST(coalesce(d.c, 0) AS DOUBLE)
        |      * CAST(1152921504606846976 AS DOUBLE))
        |      / CAST(u.th AS DOUBLE) END, 4) AS est_diff_r
        |FROM prs q
        |JOIN ex ea ON ea.pr = q.pr_a
        |JOIN ex eb ON eb.pr = q.pr_b
        |JOIN sth sa ON sa.pr = q.pr_a
        |JOIN sth sb ON sb.pr = q.pr_b
        |JOIN uth u ON u.pr_a = q.pr_a AND u.pr_b = q.pr_b
        |LEFT JOIN exi i ON i.pr_a = q.pr_a AND i.pr_b = q.pr_b
        |LEFT JOIN rho r ON r.pr_a = q.pr_a AND r.pr_b = q.pr_b
        |LEFT JOIN dif d ON d.pr_a = q.pr_a AND d.pr_b = q.pr_b
        |ORDER BY q.pr_a, q.pr_b""".stripMargin),
    "flow_lpm_enrich" -> (flowsCte +
      """, enr AS (
        |  SELECT CASE WHEN (event_id // 256) % 256 < 4
        |      THEN 'rack-' || (user_id % 64) || '-' || ((event_id // 256) % 256)
        |      ELSE 'site-' || (user_id % 64) END AS src_label,
        |    CAST(CASE WHEN (event_id // 256) % 256 < 4 THEN 24 ELSE 16 END
        |      AS INT) AS matched_len,
        |    'internet' AS dst_label, sa, ibyt
        |  FROM flows)
        |SELECT src_label, matched_len, dst_label,
        |  count(*) AS n_flows, CAST(sum(ibyt) AS BIGINT) AS bytes,
        |  count(DISTINCT sa) AS n_src
        |FROM enr GROUP BY 1, 2, 3
        |ORDER BY src_label""".stripMargin),
    // B58b: the winning v6 prefix re-derived from the synthetic
    // address plan — site X = user_id%64 (sites ≥ 48 default-route),
    // rack nibble n = (event_id%65536) // 4096 (racks exist for n < 4)
    "flow_lpm6_enrich" -> (flowsCte +
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
        |  FROM flows)
        |SELECT src_label, matched_len, count(*) AS n_flows,
        |  CAST(sum(ibyt) AS BIGINT) AS bytes, count(DISTINCT sa6) AS n_src
        |FROM enr6 GROUP BY 1, 2
        |ORDER BY src_label""".stripMargin),
    // B58c: closed-form twins of the CIDR gates and masks —
    // 10.32.0.0/11 = second octet in [32, 63]; /24 net = zeroed last
    // octet; 2001:db8:20::/44 = site hex group in [0x20, 0x2f]
    // (user_id % 64 in [32, 47]); /48 net = the site prefix itself
    "flow_dualstack_volume" -> (flowsCte +
      """SELECT * FROM (
        |  SELECT CAST(4 AS INT) AS af,
        |    '10.' || (user_id % 64) || '.' || ((event_id // 256) % 256)
        |      || '.0/24' AS subnet,
        |    count(*) AS n_flows, CAST(sum(ibyt) AS BIGINT) AS bytes,
        |    count(DISTINCT sa) AS n_hosts
        |  FROM flows
        |  WHERE event_id % 4 != 0 AND (user_id % 64) BETWEEN 32 AND 63
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT CAST(6 AS INT) AS af,
        |    '2001:db8:' || lower(to_hex(user_id % 64)) || '::/48' AS subnet,
        |    count(*) AS n_flows, CAST(sum(ibyt) AS BIGINT) AS bytes,
        |    count(DISTINCT sa6) AS n_hosts
        |  FROM flows
        |  WHERE event_id % 4 = 0 AND (user_id % 64) BETWEEN 32 AND 47
        |  GROUP BY 2)
        |ORDER BY af, subnet""".stripMargin),
    "flow_holt_forecast" -> (flowsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      """, hourly AS (
        |  SELECT flowsrc, date_trunc('hour', ts) AS h,
        |    CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS vol
        |  FROM flows GROUP BY 1, 2),
        |idx AS (
        |  SELECT flowsrc, vol,
        |    row_number() OVER (PARTITION BY flowsrc ORDER BY h) AS i
        |  FROM hourly),
        |cnt AS (SELECT flowsrc, max(i) AS n_hours FROM idx GROUP BY 1),
        |rec AS (
        |  SELECT flowsrc, i, vol AS l, CAST(0 AS DOUBLE) AS b
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT h.flowsrc, h.i,
        |    0.5 * h.vol + 0.5 * (r.l + r.b),
        |    0.25 * ((0.5 * h.vol + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
        |  FROM rec r JOIN idx h ON h.flowsrc = r.flowsrc AND h.i = r.i + 1)
        |SELECT r.flowsrc, CAST(c.n_hours AS BIGINT) AS n_hours,
        |  round(r.l, 6) AS level_r, round(r.b, 6) AS trend_r,
        |  round(r.l + r.b, 6) AS fc1_r, round(r.l + 3.0 * r.b, 6) AS fc3_r
        |FROM rec r JOIN cnt c ON r.flowsrc = c.flowsrc AND r.i = c.n_hours
        |ORDER BY r.flowsrc""".stripMargin),
    "flow_subnet_rollup" -> (flowsCte +
      """, by24 AS (
        |  SELECT '10.' || (user_id % 64) || '.0.0' AS net16,
        |    '10.' || (user_id % 64) || '.' || ((event_id // 256) % 256)
        |      || '.0' AS net24,
        |    CAST(sum(ibyt) AS BIGINT) AS bytes, count(*) AS n_flows,
        |    count(DISTINCT sa) AS n_hosts
        |  FROM flows GROUP BY 1, 2),
        |by16 AS (SELECT net16, CAST(sum(bytes) AS BIGINT) AS bytes16
        |  FROM by24 GROUP BY 1)
        |SELECT b.net16, net24, bytes, n_flows, n_hosts,
        |  round(CAST(bytes AS DOUBLE) / CAST(bytes16 AS DOUBLE), 6)
        |    AS share16_r
        |FROM by24 b JOIN by16 USING (net16)
        |ORDER BY net16, bytes DESC, net24""".stripMargin),
    "flow_mad_anomaly" -> (flowsCte +
      """, hourly AS (
        |  SELECT flowsrc, date_trunc('hour', ts) AS h,
        |    CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS vol
        |  FROM flows GROUP BY 1, 2),
        |med AS (SELECT flowsrc, quantile_cont(vol, 0.5) AS med
        |  FROM hourly GROUP BY 1),
        |dev AS (
        |  SELECT h.flowsrc, h.h, h.vol, m.med, abs(h.vol - m.med) AS dev
        |  FROM hourly h JOIN med m USING (flowsrc)),
        |mad AS (SELECT flowsrc, quantile_cont(dev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.flowsrc, d.h, d.vol,
        |  round(d.med, 6) AS med_r, round(a.mad, 6) AS mad_r,
        |  round((d.vol - d.med) / (1.4826 * a.mad), 6) AS rz_r,
        |  abs(round((d.vol - d.med) / (1.4826 * a.mad), 6)) > 3.5
        |    AS anomalous
        |FROM dev d JOIN mad a USING (flowsrc)
        |WHERE a.mad > 0
        |ORDER BY d.flowsrc, d.h""".stripMargin),
    "flow_theil_sen" -> (flowsCte +
      """, hourly0 AS (
        |  SELECT flowsrc, date_trunc('hour', ts) AS h,
        |    CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS vol
        |  FROM flows GROUP BY 1, 2),
        |hourly AS (
        |  SELECT flowsrc, vol,
        |    CAST(floor(epoch(h)) AS BIGINT) // 3600 AS t
        |  FROM hourly0),
        |sen AS (
        |  SELECT a.flowsrc,
        |    quantile_cont((b.vol - a.vol) / CAST(b.t - a.t AS DOUBLE), 0.5)
        |      AS sen
        |  FROM hourly a JOIN hourly b
        |    ON a.flowsrc = b.flowsrc AND a.t < b.t
        |  GROUP BY 1)
        |SELECT h.flowsrc, count(*) AS n_hours,
        |  round(max(s.sen), 6) AS slope_r,
        |  round(quantile_cont(h.vol - s.sen * h.t, 0.5), 6) AS icept_r
        |FROM hourly h JOIN sen s USING (flowsrc)
        |GROUP BY h.flowsrc
        |ORDER BY h.flowsrc""".stripMargin),
    "flow_concurrency" -> (flowsCte +
      """, iv AS (
        |  SELECT '10.' || (user_id % 64) AS site,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 300) + 60 AS e,
        |    event_id
        |  FROM flows),
        |bounds AS (
        |  SELECT site, s AS t, 1 AS delta, event_id FROM iv
        |  UNION ALL
        |  SELECT site, e, -1, event_id FROM iv),
        |sweep AS (
        |  SELECT site, t, delta,
        |    CAST(sum(delta) OVER (PARTITION BY site
        |      ORDER BY t, delta, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
        |  FROM bounds),
        |pk AS (SELECT site, max(conc) AS peak_conc FROM sweep GROUP BY site),
        |nf AS (SELECT site, count(*) AS n_flows FROM iv GROUP BY site)
        |SELECT n.site, n.n_flows, p.peak_conc,
        |  (SELECT min(t) FROM sweep s
        |   WHERE s.site = n.site AND s.conc = p.peak_conc) AS peak_at_s
        |FROM nf n JOIN pk p ON p.site = n.site
        |ORDER BY n.site""".stripMargin),
    "flow_biflow_stitch" -> (flowsCte +
      """, legs AS (
        |  SELECT sa AS src, da AS dst, sp AS spt, dp AS dpt, pr,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s, ibyt, ipkt
        |  FROM flows WHERE k % 3 <> 2
        |  UNION ALL
        |  SELECT da, sa, dp, sp, pr,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 1,
        |    CAST(round(value * 250) AS BIGINT), (event_id % 500) + 1
        |  FROM flows WHERE k % 3 <> 1),
        |canon AS (
        |  SELECT
        |    CASE WHEN isf THEN src ELSE dst END AS a1,
        |    CASE WHEN isf THEN spt ELSE dpt END AS p1,
        |    CASE WHEN isf THEN dst ELSE src END AS a2,
        |    CASE WHEN isf THEN dpt ELSE spt END AS p2,
        |    pr, s, ibyt, ipkt, isf
        |  FROM (SELECT *,
        |    (src < dst OR (src = dst AND spt <= dpt)) AS isf FROM legs)),
        |conv AS (
        |  SELECT a1, p1, a2, p2, pr,
        |    min(s) AS first_s, max(s) AS last_s,
        |    min(CASE WHEN isf THEN s END) AS af,
        |    min(CASE WHEN NOT isf THEN s END) AS bf,
        |    count(CASE WHEN isf THEN 1 END) AS a_flows,
        |    CAST(sum(CASE WHEN isf THEN ibyt END) AS BIGINT) AS a_bytes,
        |    CAST(sum(CASE WHEN isf THEN ipkt END) AS BIGINT) AS a_pkts,
        |    count(CASE WHEN NOT isf THEN 1 END) AS b_flows,
        |    CAST(sum(CASE WHEN NOT isf THEN ibyt END) AS BIGINT) AS b_bytes,
        |    CAST(sum(CASE WHEN NOT isf THEN ipkt END) AS BIGINT) AS b_pkts
        |  FROM canon GROUP BY a1, p1, a2, p2, pr),
        |cli AS (
        |  SELECT *,
        |    (bf IS NULL OR (af IS NOT NULL AND af <= bf)) AS ca
        |  FROM conv)
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
        |  first_s, last_s, last_s - first_s AS duration_s
        |FROM cli
        |ORDER BY client, client_port, server, server_port, pr""".stripMargin),
    "flow_sampling_correct" -> (flowsCte +
      """, rates AS (
        |  SELECT 'nfsen-0' AS flowsrc, 1 AS rate
        |  UNION ALL SELECT 'nfsen-1', 10
        |  UNION ALL SELECT 'nfsen-2', 100),
        |c AS (
        |  SELECT f.flowsrc, CAST(max(rate) AS BIGINT) AS rate,
        |    count(*) AS n_flows,
        |    CAST(sum(ibyt) AS BIGINT) AS raw_bytes,
        |    CAST(sum(ibyt * rate) AS BIGINT) AS est_bytes,
        |    CAST(sum(ipkt * rate) AS BIGINT) AS est_pkts
        |  FROM flows f JOIN rates USING (flowsrc)
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(est_bytes) AS BIGINT) AS tot FROM c)
        |SELECT flowsrc, rate, n_flows, raw_bytes, est_bytes, est_pkts,
        |  round(CAST(est_bytes AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share_r
        |FROM c, t ORDER BY flowsrc""".stripMargin),
    "flow_topn_persistence" -> (flowsCte +
      """, hb AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    '10.' || (user_id % 64) AS site, CAST(sum(ibyt) AS BIGINT) AS bytes
        |  FROM flows GROUP BY 1, 2),
        |tn AS (
        |  SELECT h, site FROM (
        |    SELECT h, site,
        |      row_number() OVER (PARTITION BY h ORDER BY bytes DESC, site) AS rn
        |    FROM hb)
        |  WHERE rn <= 10),
        |sz AS (SELECT h, count(*) AS n FROM tn GROUP BY h),
        |iv AS (
        |  SELECT b.h, count(*) AS inter
        |  FROM tn a JOIN tn b ON a.h + 1 = b.h AND a.site = b.site
        |  GROUP BY b.h)
        |SELECT c.h, p.n AS n_prev, c.n AS n_cur,
        |  coalesce(iv.inter, 0) AS inter,
        |  round(CAST(coalesce(iv.inter, 0) AS DOUBLE)
        |    / CAST(p.n + c.n - coalesce(iv.inter, 0) AS DOUBLE), 6) AS jaccard_r
        |FROM sz c JOIN sz p ON c.h = p.h + 1
        |LEFT JOIN iv ON iv.h = c.h
        |ORDER BY c.h""".stripMargin),
    "flow_bytes_gini" -> (flowsCte +
      """, ph AS (
        |  SELECT pr, sa, CAST(sum(ibyt) AS BIGINT) AS x
        |  FROM flows GROUP BY pr, sa),
        |rk AS (
        |  SELECT pr, x,
        |    CAST(row_number() OVER (PARTITION BY pr ORDER BY x, sa) AS BIGINT) AS r,
        |    CAST(sum(x) OVER (PARTITION BY pr) AS BIGINT) AS t
        |  FROM ph),
        |ag AS (
        |  SELECT pr, count(*) AS n_hosts,
        |    CAST(sum(x) AS BIGINT) AS total_bytes,
        |    """.stripMargin
      + graft.Tables.qsumSql(
        "CAST(r AS DOUBLE) * CAST(x AS DOUBLE) / CAST(t AS DOUBLE)")
      + """ AS rxn
        |  FROM rk GROUP BY pr)
        |SELECT pr, n_hosts, total_bytes,
        |  round(rxn * CAST(2 AS DOUBLE) / CAST(n_hosts AS DOUBLE)
        |    - CAST(n_hosts + 1 AS DOUBLE) / CAST(n_hosts AS DOUBLE), 6) AS gini_r
        |FROM ag ORDER BY pr""".stripMargin),
    "flow_flag_profile" -> (flowsCte +
      """SELECT '10.' || (user_id % 64) AS site, count(*) AS n_flows,
        |  count(CASE WHEN contains(flg, 'S') THEN 1 END) AS n_syn,
        |  count(CASE WHEN contains(flg, 'R') THEN 1 END) AS n_rst,
        |  count(CASE WHEN contains(flg, 'F') THEN 1 END) AS n_fin,
        |  round(CAST(count(CASE WHEN contains(flg, 'S') THEN 1 END) AS DOUBLE)
        |    / count(*), 6) AS syn_share_r,
        |  round(CAST(count(CASE WHEN contains(flg, 'R') THEN 1 END) AS DOUBLE)
        |    / count(*), 6) AS rst_share_r,
        |  round(CAST(count(CASE WHEN contains(flg, 'F') THEN 1 END) AS DOUBLE)
        |    / count(*), 6) AS fin_share_r
        |FROM flows GROUP BY 1 ORDER BY site""".stripMargin),
    "flow_topk_decayed" -> (flowsCte +
      s""", f AS (
         |  SELECT '10.' || (user_id % 64) AS site,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS s, ibyt
         |  FROM flows),
         |tm AS (SELECT max(s) AS tmax FROM f)
         |SELECT site, count(*) AS n_flows,
         |  CAST(sum(ibyt) AS BIGINT) AS raw_bytes,
         |  round(${graft.Tables.qsumSql(
               s"round(exp(CAST('$DecayRate' AS DOUBLE) * (tmax - s)), 9) * ibyt")}, 6)
         |    AS decayed_bytes_r
         |FROM f, tm GROUP BY site
         |ORDER BY decayed_bytes_r DESC, site LIMIT 10""".stripMargin),
    "flow_burstiness" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
         |  FROM events),
         |g AS (
         |  SELECT user_id,
         |    s - lag(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS d
         |  FROM ev),
         |m AS (
         |  SELECT user_id, count(*) AS n, sum(d) AS s1, sum(d * d) AS s2
         |  FROM g WHERE d IS NOT NULL GROUP BY user_id
         |  HAVING count(*) >= $BurstMinGaps)
         |SELECT user_id, n AS n_gaps,
         |  round(CAST(s1 AS DOUBLE) / n, 6) AS mean_gap_s_r,
         |  CASE WHEN sqrt((CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE)
         |           * CAST(s1 AS DOUBLE)) / n) / (n - 1))
         |         + CAST(s1 AS DOUBLE) / n = 0.0 THEN 0.0
         |       ELSE round((sqrt((CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE)
         |           * CAST(s1 AS DOUBLE)) / n) / (n - 1))
         |           - CAST(s1 AS DOUBLE) / n)
         |         / (sqrt((CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE)
         |           * CAST(s1 AS DOUBLE)) / n) / (n - 1))
         |           + CAST(s1 AS DOUBLE) / n), 6)
         |  END AS burstiness_r
         |FROM m ORDER BY user_id""".stripMargin,
    "flow_service_similarity" -> (flowsCte +
      s""", us AS (
         |  SELECT DISTINCT user_id, '192.168.' || (k % 256) AS svc
         |  FROM flows),
         |sz AS (SELECT svc, count(*) AS n FROM us GROUP BY svc),
         |pr AS (
         |  SELECT a.svc AS s1, b.svc AS s2, count(*) AS n_both
         |  FROM us a JOIN us b USING (user_id)
         |  WHERE a.svc < b.svc
         |  GROUP BY 1, 2 HAVING count(*) >= $SvcSimMinBoth)
         |SELECT s1, s2, n_both, za.n AS n1, zb.n AS n2,
         |  round(CAST(n_both AS DOUBLE) / (za.n + zb.n - n_both), 6)
         |    AS jaccard_r
         |FROM pr JOIN sz za ON za.svc = s1 JOIN sz zb ON zb.svc = s2
         |ORDER BY jaccard_r DESC, s1, s2 LIMIT 50""".stripMargin),
    "flow_conversion_latency" ->
      """WITH su AS (
        |  SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS su_s
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |lat AS (
        |  SELECT e.user_id,
        |    CAST(floor(epoch(e.ts)) AS BIGINT) - su.su_s AS lat_s
        |  FROM events e JOIN su USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |    AND CAST(floor(epoch(e.ts)) AS BIGINT) - su.su_s >= 0)
        |SELECT count(*) AS n_conversions,
        |  count(DISTINCT user_id) AS n_users,
        |  round(quantile_cont(CAST(lat_s AS DOUBLE), 0.5), 6) AS p50_s_r,
        |  round(quantile_cont(CAST(lat_s AS DOUBLE), 0.9), 6) AS p90_s_r,
        |  round(quantile_cont(CAST(lat_s AS DOUBLE), 0.99), 6) AS p99_s_r,
        |  max(lat_s) AS max_s
        |FROM lat""".stripMargin,
    "flow_entropy_profile" -> (flowsCte +
      s""", hp AS (
         |  SELECT date_trunc('hour', ts) AS h, dp, count(*) AS n
         |  FROM flows GROUP BY 1, 2),
         |tt AS (
         |  SELECT h, sum(n) AS tot, count(*) AS n_ports FROM hp GROUP BY h),
         |e AS (
         |  SELECT hp.h, tt.tot, tt.n_ports,
         |    ${graft.Tables.qsumSql(
               "(CAST(n AS DOUBLE) / tot) * " +
               "(ln(CAST(n AS DOUBLE) / tot) / ln(CAST(2 AS DOUBLE)))")}
         |      AS negH
         |  FROM hp JOIN tt USING (h) GROUP BY hp.h, tt.tot, tt.n_ports)
         |SELECT h, CAST(tot AS BIGINT) AS tot, n_ports,
         |  round(-negH, 6) + CAST(0 AS DOUBLE) AS entropy_r,
         |  CASE WHEN n_ports = 1 THEN 0.0
         |       ELSE round(-negH /
         |         (ln(CAST(n_ports AS DOUBLE)) / ln(CAST(2 AS DOUBLE))), 6)
         |  END AS norm_entropy_r
         |FROM e ORDER BY h""".stripMargin),
    "flow_distinct_cube" -> (flowsCte +
      """SELECT coalesce(pr, 'ALL') AS pr_g, coalesce(dp, -1) AS dp_g,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_bound
        |FROM flows GROUP BY CUBE (pr, dp)
        |ORDER BY pr_g, dp_g""".stripMargin),
    "flow_hhh" -> (flowsCte +
      s""", b24 AS (
         |  SELECT user_id % 64 AS o2, (event_id // 256) % 256 AS o3,
         |    sum(ibyt) AS bytes
         |  FROM flows GROUP BY 1, 2),
         |tot AS (SELECT sum(bytes) AS total FROM b24),
         |h24 AS (
         |  SELECT o2, o3, bytes FROM b24, tot
         |  WHERE CAST(bytes AS DOUBLE) / total >= $HhhTheta),
         |b16 AS (SELECT o2, sum(bytes) AS bytes FROM b24 GROUP BY o2),
         |h24by16 AS (SELECT o2, sum(bytes) AS hb FROM h24 GROUP BY o2),
         |h16 AS (
         |  SELECT b16.o2, b16.bytes, b16.bytes - coalesce(hb, 0) AS disc
         |  FROM b16 LEFT JOIN h24by16 USING (o2), tot
         |  WHERE CAST(b16.bytes - coalesce(hb, 0) AS DOUBLE) / total
         |    >= $HhhTheta),
         |root AS (
         |  SELECT 0 AS level, '10.0.0.0/8' AS prefix, total AS bytes,
         |    total - coalesce((SELECT sum(bytes) FROM h24), 0)
         |          - coalesce((SELECT sum(disc) FROM h16), 0) AS disc,
         |    total
         |  FROM tot),
         |uni AS (
         |  SELECT 24 AS level,
         |    '10.' || o2 || '.' || o3 || '.0/24' AS prefix,
         |    bytes, bytes AS disc, (SELECT total FROM tot) AS total
         |  FROM h24
         |  UNION ALL
         |  SELECT 16, '10.' || o2 || '.0.0/16', bytes, disc,
         |    (SELECT total FROM tot)
         |  FROM h16
         |  UNION ALL
         |  SELECT level, prefix, bytes, disc, total FROM root
         |  WHERE CAST(disc AS DOUBLE) / total >= $HhhTheta)
         |SELECT level, prefix, CAST(bytes AS BIGINT) AS bytes,
         |  CAST(disc AS BIGINT) AS disc,
         |  round(CAST(disc AS DOUBLE) / total, 6) AS share_r
         |FROM uni ORDER BY level, prefix""".stripMargin),
    "flow_rare_pairs" -> (flowsCte +
      s""", f16 AS (SELECT '10.' || (user_id % 64) AS sa, da FROM flows),
         |pc AS (SELECT sa, da, count(*) AS n_pair FROM f16 GROUP BY 1, 2),
         |sc AS (SELECT sa, sum(n_pair) AS n_src, count(*) AS fanout
         |       FROM pc GROUP BY sa)
         |SELECT sa, da, CAST(n_src AS BIGINT) AS n_src, fanout,
         |  round(-log2(1.0 / n_src), 6) AS surprise_r
         |FROM pc JOIN sc USING (sa)
         |WHERE n_pair = 1 AND fanout >= $RareMinFanout
         |ORDER BY surprise_r DESC, sa, da LIMIT 50""".stripMargin),
    "flow_cusum" -> (flowsCte + hourlyCteSql +
      s""", st AS (
         |  SELECT pr,
         |    CAST(sum(CAST(vol AS DECIMAL(28,2))) AS DOUBLE) / count(*) AS mean,
         |    sqrt((CAST(sum(CAST(vol * vol AS DECIMAL(28,4))) AS DOUBLE)
         |        - (CAST(sum(CAST(vol AS DECIMAL(28,2))) AS DOUBLE)
         |           * CAST(sum(CAST(vol AS DECIMAL(28,2))) AS DOUBLE)) / count(*))
         |      / (count(*) - 1)) AS sd
         |  FROM hourly GROUP BY pr HAVING count(*) > 1),
         |c AS (
         |  SELECT hourly.pr, h, vol,
         |    sum(CAST(floor(((vol - mean) / sd - $CusumSlack) * 1000000000.0 + 0.5)
         |      AS BIGINT)) OVER w AS cp,
         |    sum(CAST(floor((-((vol - mean) / sd) - $CusumSlack) * 1000000000.0 + 0.5)
         |      AS BIGINT)) OVER w AS cn
         |  FROM hourly JOIN st USING (pr)
         |  WINDOW w AS (PARTITION BY hourly.pr ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |s AS (
         |  SELECT pr, h, vol,
         |    cp - least(min(cp) OVER w, 0) AS sp,
         |    cn - least(min(cn) OVER w, 0) AS sn
         |  FROM c
         |  WINDOW w AS (PARTITION BY pr ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT pr, h, vol,
         |  round(sp / 1000000000.0, 6) AS s_pos_r,
         |  round(sn / 1000000000.0, 6) AS s_neg_r,
         |  (sp > 5000000000.0 OR sn > 5000000000.0) AS shifted
         |FROM s ORDER BY pr, h""".stripMargin),
    "flow_autocorr" -> (flowsCte + hourlyCteSql +
      s""", lagged AS (
         |  SELECT pr, vol,
         |${AcfLags.map(k => s"    lag(vol, $k) OVER w AS l$k").mkString(",\n")}
         |  FROM hourly WINDOW w AS (PARTITION BY pr ORDER BY h))
         |SELECT * FROM (
         |$acfBranchesSql
         |) ORDER BY pr, lag_h""".stripMargin),
    "flow_rollup_reagg" -> (flowsCte +
      """SELECT pr, date_trunc('hour', ts) AS h, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS vol,
        |  min(value) AS min_v, max(value) AS max_v,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / count(*), 6)
        |    AS avg_r
        |FROM flows GROUP BY 1, 2 ORDER BY pr, h""".stripMargin),
    // bucket = ⌊log₂ deg⌋ via a pure integer comparison ladder: bin()'s
    // minimal-vs-padded width and log2()'s libm are both engine-version
    // traps this CASE cannot hit (deg ≥ 1 always — it counts ≥1 peers).
    "flow_degree_profile" -> (flowsCte +
      s""", ph AS (
         |  SELECT sa, count(DISTINCT da) AS deg, count(*) AS n_flows
         |  FROM flows GROUP BY sa)
         |SELECT CAST(CASE ${(0 to 61).map(b =>
               s"WHEN deg < ${BigInt(1) << (b + 1)} THEN $b").mkString(" ")}
         |    ELSE 62 END AS INT) AS bucket,
         |  count(*) AS n_hosts, min(deg) AS min_deg, max(deg) AS max_deg,
         |  CAST(sum(n_flows) AS BIGINT) AS n_flows
         |FROM ph GROUP BY 1 ORDER BY bucket""".stripMargin),
    "flow_value_quantiles_sliding" ->
      s"""WITH h AS MATERIALIZED (
         |  SELECT value, date_trunc('hour', ts) AS hr FROM events),
         |x AS MATERIALIZED (
         |  SELECT value, hr, hr - k.k * INTERVAL 1 HOUR AS win_start
         |  FROM h CROSS JOIN range(0, $QSlideHours) k(k))
         |SELECT win_start, count(DISTINCT hr) AS n_hours,
         |  round(quantile_cont(value, 0.5), 6) AS exact_p50_r,
         |  round(quantile_cont(value, 0.99), 6) AS exact_p99_r,
         |  TRUE AS within_bound
         |FROM x GROUP BY win_start ORDER BY win_start""".stripMargin,
    "flow_ewma_forecast" -> (flowsCte +
      s""", hourly AS (
         |  SELECT pr, date_trunc('hour', ts) AS h,
         |    CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS vol
         |  FROM flows GROUP BY 1, 2),
         |ew AS (
         |  SELECT pr, h, vol,
         |    ($ewmaNbSql) AS n_base,
         |    round(($ewmaNumSql) / ($ewmaDenSql), 6) AS forecast_r
         |  FROM hourly
         |  WINDOW w AS (PARTITION BY pr ORDER BY h))
         |SELECT pr, h, vol, forecast_r,
         |  round(vol / forecast_r, 6) AS ratio_r,
         |  round(vol / forecast_r, 6) > 2.0 AS surge
         |FROM ew WHERE n_base >= 12
         |ORDER BY pr, h""".stripMargin),
    "flow_interval_merge" -> (flowsCte +
      s""", iv AS (
         |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         |    CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 300) + 60 AS e, event_id
         |  FROM flows),
         |cm AS (
         |  SELECT user_id, s, e, event_id,
         |    max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
         |      ROWS UNBOUNDED PRECEDING) AS cummax
         |  FROM iv),
         |pm AS (
         |  SELECT user_id, s, e, event_id,
         |    lag(cummax) OVER (PARTITION BY user_id
         |      ORDER BY s, e, event_id) AS prev_max
         |  FROM cm),
         |isl AS (
         |  SELECT user_id, s, e,
         |    sum(CASE WHEN prev_max IS NULL OR s > prev_max + $MergeGapS
         |      THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY s, e, event_id) AS island
         |  FROM pm),
         |per AS (
         |  SELECT user_id, island, min(s) AS ps, max(e) AS pe,
         |    count(*) AS nf
         |  FROM isl GROUP BY user_id, island)
         |SELECT user_id, count(*) AS n_periods,
         |  CAST(sum(pe - ps) AS BIGINT) AS busy_s,
         |  max(pe - ps) AS longest_s, max(nf) AS densest
         |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin),
    "flow_distinct_overlap" -> (flowsCte +
      """SELECT
        |  count(DISTINCT CASE WHEN dp = 443 THEN user_id END) AS exact_https,
        |  count(DISTINCT CASE WHEN dp = 80 THEN user_id END) AS exact_http,
        |  count(DISTINCT CASE WHEN dp IN (443, 80) THEN user_id END) AS exact_union,
        |  (SELECT count(*) FROM (
        |    SELECT user_id FROM flows WHERE dp IN (443, 80)
        |    GROUP BY user_id
        |    HAVING max(CASE WHEN dp = 443 THEN 1 ELSE 0 END) = 1
        |       AND max(CASE WHEN dp = 80 THEN 1 ELSE 0 END) = 1)) AS exact_both,
        |  TRUE AS within_bound
        |FROM flows""".stripMargin),
    "flow_beaconing" -> (flowsCte +
      s""", g AS (
         |  SELECT user_id, da,
         |    epoch_us(ts) - lag(epoch_us(ts))
         |      OVER (PARTITION BY user_id, da ORDER BY ts, event_id) AS gp
         |  FROM flows),
         |agg AS (
         |  SELECT user_id, da, count(*) AS n_gaps,
         |    sum(gp) AS s, sum(CAST(gp AS HUGEINT) * gp) AS s2
         |  FROM g WHERE gp IS NOT NULL
         |  GROUP BY user_id, da
         |  HAVING count(*) >= ${BeaconMinFlows - 1}),
         |m AS (
         |  SELECT user_id, da, n_gaps, s,
         |    CAST(s AS DOUBLE) / n_gaps AS mean_us,
         |    greatest(CAST(s2 AS DOUBLE) / n_gaps
         |      - (CAST(s AS DOUBLE) / n_gaps) * (CAST(s AS DOUBLE) / n_gaps),
         |      0.0) AS var_us
         |  FROM agg)
         |SELECT user_id, da, n_gaps + 1 AS n_flows,
         |  CAST((2 * s + n_gaps) // (2 * n_gaps) AS DOUBLE) / 1e6 AS mean_gap_s,
         |  CASE WHEN mean_us = 0 THEN NULL
         |    ELSE round(sqrt(var_us) / mean_us, 6) END AS cv_r
         |FROM m ORDER BY cv_r, user_id, da""".stripMargin),
    "flow_portscan" -> (flowsCte +
      s"""SELECT time_bucket(INTERVAL 6 HOUR, ts) AS win_start, user_id,
         |  count(DISTINCT da || ':' || dp) AS n_targets, count(*) AS n_flows
         |FROM flows GROUP BY 1, 2
         |HAVING count(DISTINCT da || ':' || dp) >= $ScanMinTargets
         |ORDER BY win_start, user_id""".stripMargin),
    "flow_topk_windowed" -> (flowsCte +
      """, hourly AS (
        |  SELECT time_bucket(INTERVAL 6 HOUR, ts) AS win_start, pr,
        |    count(*) AS est
        |  FROM flows GROUP BY 1, 2),
        |ranked AS (
        |  SELECT win_start, pr, est,
        |    row_number() OVER (PARTITION BY win_start
        |      ORDER BY est DESC, pr) AS rnk
        |  FROM hourly)
        |SELECT win_start, CAST(rnk AS BIGINT) AS rnk, pr AS proto, est
        |FROM ranked WHERE rnk <= 3
        |ORDER BY win_start, rnk""".stripMargin),
    "flow_anomaly_zscore" -> (flowsCte +
      """, hourly AS (
        |  SELECT date_trunc('hour', ts) AS h,
        |    CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS vol
        |  FROM flows GROUP BY 1),
        |base AS (
        |  SELECT h, vol,
        |    count(vol) OVER w AS n_base,
        |    avg(vol) OVER w AS mean_base,
        |    stddev_samp(vol) OVER w AS sd_base
        |  FROM hourly
        |  WINDOW w AS (ORDER BY epoch(h)
        |    RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING))
        |SELECT h, vol,
        |  round((vol - mean_base) / sd_base, 6) AS z_r,
        |  abs(round((vol - mean_base) / sd_base, 6)) > 2.0 AS anomalous
        |FROM base WHERE n_base >= 12 AND sd_base > 0
        |ORDER BY h""".stripMargin),
    "flow_ddos_score" -> (flowsCte +
      """, agg AS (
        |  SELECT da, count(DISTINCT sa) AS fan_in, count(*) AS n_flows,
        |    sum(CASE WHEN flg = '.A..S.' THEN 1 ELSE 0 END) AS syn_n,
        |    CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS bytes
        |  FROM flows GROUP BY da)
        |SELECT da, fan_in, n_flows,
        |  round(CAST(syn_n AS DOUBLE) / n_flows, 6) AS syn_ratio_r,
        |  round(CAST(fan_in AS DOUBLE) * (CAST(syn_n AS DOUBLE) / n_flows)
        |    * ln(1 + bytes), 6) AS score_r
        |FROM agg WHERE fan_in >= 5
        |ORDER BY score_r DESC, da LIMIT 20""".stripMargin),
    "flow_distinct_hll" -> {
      val m = 1 << HllP
      val wBits = 60 - HllP
      s"""WITH h AS (
         |  SELECT event_type,
         |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
         |  FROM events),
         |reg AS (
         |  SELECT event_type, hv % $m AS b,
         |    max(CASE WHEN hv // $m = 0 THEN ${wBits + 1}
         |             ELSE ${wBits + 1} - length(bin(hv // $m)) END) AS mr
         |  FROM h GROUP BY 1, 2),
         |regs AS (
         |  SELECT g.event_type, r.b, coalesce(reg.mr, 0) AS mr
         |  FROM (SELECT DISTINCT event_type FROM events) g
         |  CROSS JOIN range(0, $m) r(b)
         |  LEFT JOIN reg ON reg.event_type = g.event_type AND reg.b = r.b),
         |s AS (
         |  SELECT event_type,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << mr) ORDER BY b)),
         |      (a, v) -> a + v) AS ssum,
         |    sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS zeros
         |  FROM regs GROUP BY 1),
         |est AS (
         |  SELECT event_type,
         |    CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / $m) * $m * $m / ssum AS raw,
         |    zeros
         |  FROM s),
         |t AS (
         |  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
         |  FROM events GROUP BY 1)
         |SELECT e.event_type,
         |  round(CASE WHEN raw <= CAST(2.5 AS DOUBLE) * $m AND zeros > 0
         |             THEN $m * ln(CAST($m AS DOUBLE) / zeros) ELSE raw END, 6) AS hll_est_r,
         |  t.exact_distinct
         |FROM est e JOIN t USING (event_type)
         |ORDER BY event_type""".stripMargin
    },
    "flow_distinct_hll_sliding" -> {
      val m = 1 << HllP
      val wBits = 60 - HllP
      s"""WITH h AS MATERIALIZED (
         |  SELECT event_type, date_trunc('hour', ts) AS hr,
         |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
         |  FROM events),
         |x AS MATERIALIZED (
         |  SELECT event_type, hr - k.k * INTERVAL 1 HOUR AS win_start, hr, hv
         |  FROM h CROSS JOIN range(0, $HllSlideHours) k(k)),
         |reg AS MATERIALIZED (
         |  SELECT event_type, win_start, hv % $m AS b,
         |    max(CASE WHEN hv // $m = 0 THEN ${wBits + 1}
         |             ELSE ${wBits + 1} - length(bin(hv // $m)) END) AS mr
         |  FROM x GROUP BY 1, 2, 3),
         |nh AS MATERIALIZED (
         |  SELECT event_type, win_start, count(DISTINCT hr) AS n_hours
         |  FROM x GROUP BY 1, 2),
         |regs AS (
         |  SELECT g.event_type, g.win_start, r.b, coalesce(reg.mr, 0) AS mr
         |  FROM (SELECT DISTINCT event_type, win_start FROM x) g
         |  CROSS JOIN range(0, $m) r(b)
         |  LEFT JOIN reg ON reg.event_type = g.event_type
         |    AND reg.win_start = g.win_start AND reg.b = r.b),
         |s AS (
         |  SELECT event_type, win_start,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << mr) ORDER BY b)),
         |      (a, v) -> a + v) AS ssum,
         |    sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS zeros
         |  FROM regs GROUP BY 1, 2),
         |est AS (
         |  SELECT event_type, win_start,
         |    CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / $m) * $m * $m / ssum AS raw,
         |    zeros
         |  FROM s)
         |SELECT e.event_type, e.win_start, nh.n_hours,
         |  round(CASE WHEN raw <= CAST(2.5 AS DOUBLE) * $m AND zeros > 0
         |             THEN $m * ln(CAST($m AS DOUBLE) / zeros) ELSE raw END, 6) AS hll_est_r
         |FROM est e
         |JOIN nh ON nh.event_type = e.event_type AND nh.win_start = e.win_start
         |ORDER BY e.event_type, e.win_start""".stripMargin
    },
    "flow_zorder_locality" -> (flowsCte +
      s""", z AS (
         |  SELECT pr, event_id, sp, dp,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(0, $ZBits), i ->
         |        (((CAST(sp AS BIGINT) >> i) & 1) << (2 * i)) |
         |        (((CAST(dp AS BIGINT) >> i) & 1) << (2 * i + 1)))),
         |      (a, v) -> a | v) AS zkey
         |  FROM flows),
         |r AS (
         |  SELECT pr, sp, dp, zkey,
         |    row_number() OVER (PARTITION BY pr ORDER BY zkey, event_id) AS rn
         |  FROM z)
         |SELECT pr, (rn - 1) // $ZChunk AS chunk, count(*) AS n,
         |  min(sp) AS sp_min, max(sp) AS sp_max,
         |  min(dp) AS dp_min, max(dp) AS dp_max,
         |  min(zkey) AS z_min, max(zkey) AS z_max
         |FROM r GROUP BY pr, chunk ORDER BY pr, chunk""".stripMargin),
    "flow_freq_cms" ->
      s"""WITH counters AS (
         |  SELECT i,
         |    ('0x' || substr(md5(i || ':' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % $CmsWidth AS bucket,
         |    count(*) AS c
         |  FROM events, range(0, $CmsDepth) t(i)
         |  GROUP BY 1, 2),
         |probes AS (
         |  SELECT user_id, count(*) AS true_cnt FROM events WHERE user_id < 20 GROUP BY 1),
         |pp AS (
         |  SELECT p.user_id, p.true_cnt, i,
         |    ('0x' || substr(md5(i || ':' || CAST(p.user_id AS VARCHAR)), 1, 15))::BIGINT % $CmsWidth AS bucket
         |  FROM probes p, range(0, $CmsDepth) t(i))
         |SELECT pp.user_id, min(coalesce(c.c, 0)) AS est, pp.true_cnt
         |FROM pp LEFT JOIN counters c USING (i, bucket)
         |GROUP BY pp.user_id, pp.true_cnt
         |ORDER BY user_id""".stripMargin,
    "flow_time_series_sliding" -> (flowsCte +
      """SELECT time_bucket(INTERVAL 15 MINUTE, ts) - kk * INTERVAL 15 MINUTE AS win_start,
        |  count(*) AS n_flows, CAST(sum(ibyt) AS DOUBLE) AS bytes
        |FROM flows, range(0, 4) t(kk)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "flow_weekday_profile" -> (flowsCte +
      """SELECT dayofweek(ts) + 1 AS dow, CAST(hour(ts) AS BIGINT) AS hr,
        |  count(*) AS n_flows, CAST(sum(ibyt) AS DOUBLE) AS bytes
        |FROM flows GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin),
    "flow_sessions_native" -> (flowsCte +
      """, s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_s
        |  FROM flows
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 1 HOUR AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS session_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
    "flow_cidr6_filter" -> (flowsCte +
      """SELECT event_id AS flow_id,
        |  CASE WHEN event_id % 65536 = 0 THEN '2001:db8:2a::'
        |       ELSE '2001:db8:2a::' || lower(to_hex(event_id % 65536)) END AS sa6_canon,
        |  da, ibyt
        |FROM flows WHERE user_id % 64 = 42
        |ORDER BY flow_id""".stripMargin),
    "flow_top_ports" -> (flowsCte +
      """SELECT dp, CAST(sum(ibyt) AS DOUBLE) AS bytes, count(*) AS n_flows,
        |  count(DISTINCT sa) AS n_sources
        |FROM flows GROUP BY dp ORDER BY bytes DESC, dp LIMIT 10""".stripMargin),
    "flow_by_source" -> (flowsCte +
      """SELECT flowsrc, count(*) AS n_flows, CAST(sum(ibyt) AS DOUBLE) AS bytes,
        |  count(DISTINCT sa) AS n_sources,
        |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        |FROM flows GROUP BY flowsrc ORDER BY flowsrc""".stripMargin),
    "flow_sequence_match" -> (flowsCte +
      """SELECT user_id,
        |  regexp_matches(string_agg(substr(event_type, 1, 1), ''
        |    ORDER BY ts, event_id), 's.*c.*p') AS matched,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM flows GROUP BY user_id ORDER BY user_id""".stripMargin),
    "flow_sequence_match4" -> (flowsCte +
      """SELECT user_id,
        |  regexp_matches(string_agg(substr(event_type, 1, 1), ''
        |    ORDER BY ts, event_id), 's.*c.*v.*p') AS matched,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM flows GROUP BY user_id ORDER BY user_id""".stripMargin),
    "flow_topk_approx" -> (flowsCte +
      """SELECT pr AS proto, count(*) AS est, CAST(0 AS BIGINT) AS err
        |FROM flows GROUP BY pr ORDER BY est DESC, proto""".stripMargin),
    "flow_top_talkers_series" -> (flowsCte +
      """, top AS (
        |  SELECT sa FROM flows GROUP BY sa
        |  ORDER BY sum(ibyt) DESC, sa LIMIT 5)
        |SELECT f.sa, date_trunc('hour', f.ts) AS hour,
        |  count(*) AS n_flows, CAST(sum(f.ibyt) AS DOUBLE) AS bytes
        |FROM flows f WHERE f.sa IN (SELECT sa FROM top)
        |GROUP BY f.sa, hour ORDER BY f.sa, hour""".stripMargin),
    "flow_proto_mix_series" -> (flowsCte +
      """, h AS (
        |  SELECT date_trunc('hour', ts) AS hour, pr,
        |    count(*) AS n_flows, CAST(sum(ibyt) AS DOUBLE) AS bytes
        |  FROM flows GROUP BY 1, 2)
        |SELECT hour, pr, n_flows, bytes,
        |  round(bytes / sum(bytes) OVER (PARTITION BY hour), 6) AS share
        |FROM h ORDER BY hour, pr""".stripMargin),
    "flow_topk_weighted" -> (flowsCte +
      """SELECT pr AS proto, CAST(sum(ibyt) AS BIGINT) AS est,
        |  CAST(0 AS BIGINT) AS err
        |FROM flows GROUP BY pr ORDER BY est DESC, proto""".stripMargin),
    "flow_value_histogram" -> (flowsCte +
      """SELECT pr, CAST(floor(value / 100.0) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS bucket_value
        |FROM flows GROUP BY pr, bucket ORDER BY pr, bucket""".stripMargin),
    "flow_top_talkers_salted" -> (flowsCte +
      """SELECT sa, CAST(sum(ibyt) AS DOUBLE) AS bytes, count(*) AS n_flows
        |FROM flows GROUP BY sa ORDER BY bytes DESC, sa LIMIT 10""".stripMargin),
    "flow_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s2.t1 + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |levels AS (
        |  SELECT u.user_id,
        |    CASE WHEN s3.user_id IS NOT NULL THEN 3
        |         WHEN s2.user_id IS NOT NULL THEN 2
        |         WHEN s1.user_id IS NOT NULL THEN 1 ELSE 0 END AS funnel_level
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  LEFT JOIN s1 ON u.user_id = s1.user_id
        |  LEFT JOIN s2 ON u.user_id = s2.user_id
        |  LEFT JOIN s3 ON u.user_id = s3.user_id)
        |SELECT funnel_level, count(*) AS n_users
        |FROM levels GROUP BY funnel_level ORDER BY funnel_level""".stripMargin,
    "flow_funnel_sliding" ->
      """WITH s1 AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    max(CASE WHEN event_type = 'signup' THEN ts END)
        |      OVER w AS a_latest
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND a_latest IS NOT NULL
        |      AND ts <= a_latest + INTERVAL 7 DAY
        |    THEN a_latest + INTERVAL 7 DAY END AS wc
        |  FROM s1),
        |s3 AS (
        |  SELECT *, max(wc) OVER w AS prefwin
        |  FROM s2
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |lvl AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND prefwin IS NOT NULL
        |               AND ts <= prefwin THEN 3
        |             WHEN wc IS NOT NULL THEN 2
        |             WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS funnel_level
        |  FROM s3 GROUP BY user_id)
        |SELECT funnel_level, count(*) AS n_users
        |FROM lvl GROUP BY funnel_level ORDER BY funnel_level""".stripMargin,
    "flow_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (
        |  SELECT user_id, min(day) AS cohort_day FROM active GROUP BY user_id)
        |SELECT c.cohort_day,
        |  count(DISTINCT c.user_id) AS n_users,
        |  count(DISTINCT CASE WHEN a.day = c.cohort_day + 7 THEN c.user_id END)
        |    AS n_retained_d7
        |FROM cohort c LEFT JOIN active a ON c.user_id = a.user_id
        |GROUP BY c.cohort_day ORDER BY c.cohort_day""".stripMargin,
    "flow_flag_filter" -> (flowsCte +
      """SELECT pr, flg, count(*) AS n_flows, count(DISTINCT sa) AS n_sources
        |FROM flows WHERE flg LIKE '%S%'
        |GROUP BY pr, flg ORDER BY pr, flg""".stripMargin),
    "json_props_agg" ->
      """SELECT CAST(props->>'k' AS INT) % 10 AS k_decile, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY k_decile""".stripMargin,
    "flow_ingest" -> (flowsCte +
      """SELECT event_id AS flow_id, ts, sa, da, sp, dp, pr, ibyt, ipkt,
        |  10 * 16777216 + (user_id % 64) * 65536 + ((event_id // 256) % 256) * 256 + (event_id % 256) AS sa_num,
        |  sa AS sa_rt
        |FROM flows ORDER BY flow_id""".stripMargin),
    "flow_transform" -> (flowsCte +
      """SELECT event_id AS flow_id, ts,
        |  ts + to_microseconds(CAST(round(value * 1000000) AS BIGINT)) AS te,
        |  CAST(round(value * 1000000) AS BIGINT) / 1000000.0 AS td,
        |  pr
        |FROM flows ORDER BY flow_id""".stripMargin),
    "flow_cidr_filter" -> (flowsCte +
      """SELECT user_id, count(*) AS n_flows,
        |  CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS volume
        |FROM flows
        |WHERE (user_id % 64) BETWEEN 32 AND 63
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    "flow_daily_volume" -> (flowsCte +
      """SELECT CAST(ts AS DATE) AS date, count(*) AS n_flows,
        |  CAST(sum(ibyt) AS DOUBLE) AS bytes,
        |  count(DISTINCT user_id) AS n_sources
        |FROM flows GROUP BY 1 ORDER BY date""".stripMargin),
    "flow_top_talkers" -> (flowsCte +
      """SELECT sa, CAST(sum(ibyt) AS DOUBLE) AS bytes, count(*) AS n_flows
        |FROM flows GROUP BY sa ORDER BY bytes DESC, sa LIMIT 10""".stripMargin),
    "flow_top_conversations" -> (flowsCte +
      """SELECT least(sa, da) AS ep1, greatest(sa, da) AS ep2,
        |  CAST(sum(ibyt) AS DOUBLE) AS bytes, count(*) AS n_flows
        |FROM flows GROUP BY 1, 2
        |ORDER BY bytes DESC, ep1, ep2 LIMIT 10""".stripMargin),
    "flow_host_totals" -> (flowsCte +
      """SELECT host, CAST(sum(out_b) AS DOUBLE) AS bytes_out,
        |  CAST(sum(in_b) AS DOUBLE) AS bytes_in, count(*) AS n_flows,
        |  CAST(sum(out_b) AS DOUBLE) + CAST(sum(in_b) AS DOUBLE) AS bytes_total
        |FROM (
        |  SELECT sa AS host, ibyt AS out_b, 0 AS in_b FROM flows
        |  UNION ALL SELECT da, 0, ibyt FROM flows)
        |GROUP BY host ORDER BY bytes_total DESC, host LIMIT 10""".stripMargin),
    "flow_proto_breakdown" -> (flowsCte +
      """SELECT pr, count(*) AS n_flows, CAST(sum(ibyt) AS DOUBLE) AS bytes,
        |  CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / count(*) AS avg_value,
        |  CAST(sum(ipkt) AS DOUBLE) AS pkts
        |FROM flows GROUP BY pr ORDER BY pr""".stripMargin),
    "flow_time_series" -> (flowsCte +
      """SELECT date_trunc('hour', ts) AS hour, count(*) AS n_flows,
        |  CAST(sum(ibyt) AS DOUBLE) AS bytes
        |FROM flows GROUP BY 1 ORDER BY hour""".stripMargin),
    "flow_fan_in" -> (flowsCte +
      """SELECT da, count(DISTINCT sa) AS n_sources, count(*) AS n_flows
        |FROM flows GROUP BY da HAVING count(DISTINCT sa) >= 5
        |ORDER BY n_sources DESC, da""".stripMargin),
    "flow_window_filter" -> (flowsCte +
      """SELECT event_id AS flow_id, ts, sa, da, ibyt FROM flows
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-11 00:00:00'
        |  AND dp = 443 AND ibyt > 5000
        |ORDER BY flow_id""".stripMargin),
    "flow_value_percentiles" -> (flowsCte +
      """SELECT pr, quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90, quantile_cont(value, 0.99) AS p99
        |FROM flows GROUP BY pr ORDER BY pr""".stripMargin),
    "flow_sessions" -> (flowsCte +
      """, marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 3600 THEN 1 ELSE 0 END AS new_session
        |  FROM flows WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
    "flow_heavy_hitters" -> (flowsCte +
      """SELECT sa, user_id, CAST(sum(ibyt) AS DOUBLE) AS bytes
        |FROM flows GROUP BY sa, user_id HAVING CAST(sum(ibyt) AS DOUBLE) > 20000
        |ORDER BY bytes DESC, sa""".stripMargin))
}
