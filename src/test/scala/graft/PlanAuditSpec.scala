package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import graft.queries.Relational
import graft.flow.FlowAnalytics
import graft.text.TextAnalytics

/** Physical-plan audit (SURVEY §4): the properties that make these
  * plans survive a 100× scale-up are asserted, not assumed —
  * predicate pushdown into the parquet scan, column pruning, broadcast
  * joins for dimensions, partial aggregation, top-K without total
  * sort, whole-stage codegen on the hot paths.
  *
  * Flow and graph queries are audited over [[sf0001TwoFile]]: the
  * flows view of a one-file `events` plans no exchange, and these
  * audits pin the multi-file plan that runs at scale.
  */
class PlanAuditSpec extends SparkSpecBase {

  def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q1_agg pushes the shipdate filter into the parquet scan and pre-aggregates") {
    val df = Relational.q1Agg(spark, sf0001)
    df.collect() // materialize so AQE's final plan (with codegen ids) is visible
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushdown:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "no partial aggregation")
    assert(p.contains("codegen id"), "not codegen'd")
  }

  test("q6_revenue pushes all four predicates to the scan and prunes to 4 columns") {
    val df = Relational.q6Revenue(spark, sf0001)
    df.collect()
    val p = plan(df)
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity"))
      assert(p.contains(f), s"predicate $f not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp_ntz>"), s"unpruned scan:\n$p")
  }

  test("topn_persistence ranks per hour through the heap rewrite, not a window sort") {
    val p = plan(graft.flow.FlowAnalytics.topnPersistence(spark, sf0001TwoFile))
    assert(!p.contains("Window"), s"per-hour top-10 fell back to WindowExec:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"expected the rank-limit bounded-heap aggregate:\n$p")
  }

  test("q1_agg prunes lineitem to the referenced columns") {
    val p = plan(Relational.q1Agg(spark, sf0001))
    assert(!p.contains("l_orderkey"), s"unpruned scan:\n$p")
    assert(!p.contains("l_partkey"), "unpruned scan")
  }

  test("q3/q5 broadcast every dimension side") {
    assert(plan(Relational.q3JoinAgg(spark, sf0001))
      .contains("BroadcastHashJoin"), "customer not broadcast")
    val p5 = plan(Relational.q5MultiJoin(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p5).length >= 4,
      s"snowflake dims not broadcast:\n$p5")
    assert(!p5.contains("SortMergeJoin"), "unexpected shuffle join in q5")
  }

  test("semi/anti joins plan as join types, not filters") {
    assert(plan(Relational.joinSemi(spark, sf0001)).contains("LeftSemi"))
    assert(plan(Relational.joinAnti(spark, sf0001)).contains("LeftAnti"))
  }

  test("global top-K plans as TakeOrderedAndProject (no total sort)") {
    val p = plan(Relational.orderbyLimit(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"full sort planned:\n$p")
  }

  test("PQ ADC scoring is map-side: no (probe, vec) re-aggregation anywhere") {
    // the pre-rewrite shape aggregated n×M×|probes| exploded code
    // rows into (probe_id, vec_id) groups — at 100 TB that shuffle IS
    // the cost of an ADC scan; the fold form must never bring it back
    for (q <- Seq("ann_topk_pq", "ann_topk_ivfpq", "ann_topk_ivfpq_res",
        "ann_topk_ivfpq_pc")) {
      val p = plan(SparkEntry.queries(q)(spark, sf0001))
      val scoreAgg = "(?s)HashAggregate.*?Keys \\[2\\]: \\[probe_id#\\d+L, vec_id#\\d+L\\]".r
      assert(scoreAgg.findFirstIn(p).isEmpty,
        s"$q re-aggregates scored (probe, vec) rows:\n$p")
      assert(p.contains("topk_by"), s"$q lost the bounded-heap ranking")
    }
  }

  test("text ops prune documents to (doc_id, text)") {
    val p = plan(TextAnalytics.tokenCount(spark, sf0001))
    assert(!p.contains("lang"), s"unpruned documents scan:\n$p")
    assert(!p.contains("source"), "unpruned documents scan")
  }

  test("sequenceMatch carries O(1) state per row: no collect_list, one shuffle") {
    for (df <- Seq(FlowAnalytics.sequenceMatch(spark, sf0001TwoFile),
                   FlowAnalytics.sequenceMatch4(spark, sf0001TwoFile))) {
      val p = plan(df)
      assert(!p.contains("collect_list"), s"unbounded per-user array state:\n$p")
      // all window passes + the per-user aggregation reuse ONE
      // hash(user_id) exchange (the orderBy adds a final range
      // exchange) — at K=3 and K=4 alike
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges <= 1, s"expected a single hash exchange, got $exchanges:\n$p")
    }
  }

  test("funnel is one corpus pass: a single events scan, no self-joins") {
    val p = plan(FlowAnalytics.funnel(spark, sf0001TwoFile))
    // the prefix-min window DFA reads events ONCE; the previous shape
    // scanned it four times (per-step filters) behind three joins.
    // Count the "(n) Scan parquet" detail headers — the tree line
    // would double-count each scan node.
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected one events scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"per-step joins are back:\n$p")
  }

  test("incremental gate joins batch against the index — equi-join, no cartesian") {
    val p = plan(graft.dedup.Dedup.minhashIncremental(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi candidate join:\n$p")
    // both signature tables are staged leaves (the persisted-index
    // shape): the band join and score join-backs read them as data
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD") ||
      p.contains("Scan ExistingRDD"), s"signature tables not staged:\n$p")
  }

  test("flow analytics aggregate partially before the shuffle") {
    val p = plan(FlowAnalytics.topTalkers(spark, sf0001TwoFile))
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"no map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-N sorted globally")
  }

  test("minhash signature is map-only and read as a materialized leaf") {
    val p = plan(graft.dedup.Dedup.minhash(spark, sf0001))
    // the signature is one native kernel call per row, never an
    // exploded aggregation: no partial_min slots anywhere, and the
    // four signature consumers (band join sides, score join-backs)
    // must read the checkpointed leaf (ExistingRDD scans), not
    // re-derive the scan + kernel pipeline
    assert(!p.contains("partial_min"),
      s"exploded signature aggregation crept back in:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).length >= 4,
      s"signature consumers not reading the materialized leaf:\n$p")
  }

  test("minhash never FORCES a broadcast of the corpus-sized signature table") {
    // at sf0.001 Catalyst's size estimate keeps every side under the
    // auto-broadcast threshold and BHJ is the right pick — the scale
    // hazard is a broadcast() HINT, which would override the stats and
    // OOM executors at 100 TB. Assert no join carries a hint, so the
    // planner stays free to fall back to shuffle joins as sizes grow.
    val joins = graft.dedup.Dedup.minhash(spark, sf0001)
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      assert(j.hint == org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE,
        s"forced join strategy survives in:\n$j")
    }
  }

  test("IVF ANN has no full-corpus window: argmax assignment + heap top-k") {
    val p = plan(graft.ann.Knn.ivfTopK(spark, sf0001))
    assert(!p.contains("Window"),
      s"row_number window over the scored corpus crept back in:\n$p")
    // map-only argmax: the native cosine-argmax kernel over the
    // broadcast centroid array, never a corpus-keyed aggregate (the
    // old max_by-by-vec_id form re-shuffled n full embeddings per
    // Lloyd's round; the array_max-over-HOF form it replaced ran the
    // same argmax with interpreted lambdas)
    assert(p.contains("vecargmaxcos"), s"map-only argmax assignment missing:\n$p")
    assert(!p.contains("max_by"),
      s"shuffling argmax aggregate crept back into assignment:\n$p")
    assert(p.contains("topk_by"), s"bounded-heap ranking missing:\n$p")
    // TypedImperativeAggregate runs in ObjectHashAggregate with a
    // partial pass — the shuffle carries <=k rows per partition/group
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"topk_by not partial-aggregated:\n$p")
  }

  test("brute/LSH ANN rank via the bounded heap, not a per-probe sort window") {
    for (df <- Seq(graft.ann.Knn.bruteTopK(spark, sf0001),
                   graft.ann.Knn.lshTopK(spark, sf0001))) {
      val p = plan(df)
      assert(!p.contains("Window"), s"per-probe sort window planned:\n$p")
      assert(p.contains("topk_by"), s"bounded-heap ranking missing:\n$p")
    }
  }

  test("contamination joins broadcast the tiny phrase set, not the corpus") {
    val p = plan(graft.dedup.Dedup.contamination(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"phrase join not broadcast:\n$p")
    assert(p.contains("Generate"), "corpus side not exploded to grams")
  }

  test("space_saving aggregates partially before the shuffle") {
    val p = plan(FlowAnalytics.topKApprox(spark, sf0001TwoFile))
    // TypedImperativeAggregate runs in ObjectHashAggregate; a partial +
    // final pair means per-partition sketches merge instead of raw rows
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"sketch not partial-aggregated:\n$p")
  }

  test("literal CIDR in flow_cidr_filter is folded by the session extension") {
    val p = FlowAnalytics.flowCidrFilter(spark, sf0001TwoFile)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!p.contains("ip4incidr"), s"FoldCidrLiteral did not fire:\n$p")
    assert(p.contains("ip4aton"), s"expected folded aton comparison:\n$p")
  }

  test("brute-force ANN broadcasts the probe side, not the corpus") {
    // tree-level check: the broadcast build subtree must be the one
    // carrying the probe filter (vec_id < 10) — a plan-string
    // containment check would stay green if the corpus were broadcast
    val df = graft.ann.Knn.bruteTopK(spark, sf0001)
    df.collect()
    // flatten through AQE wrappers — collect() on the executed plan
    // stops at AdaptiveSparkPlanExec/QueryStageExec boundaries
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val joins = flatten(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(joins.nonEmpty,
      s"no broadcast join planned:\n${df.queryExecution.executedPlan}")
    val buildSide = joins.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => joins.head.right
      case _ => joins.head.left
    }
    assert(buildSide.toString.contains("vec_id"), "probe side not the build side")
    assert(buildSide.toString.contains("10"), s"build side is not the filtered probes:\n$buildSide")
  }

  test("ASOF join is ONE shuffle on the key (no nested-loop inequality join)") {
    import spark.implicits._
    val left = Seq((1L, 30L, "L")).toDF("k", "ts", "v")
    val right = Seq((1L, 10L, "R")).toDF("k", "ts", "rid")
    val df = graft.operators.Joins.asofLeft(left, right, "k", "ts", Seq("rid"))
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"inequality join planned:\n$p")
    assert(p.contains("Window"), "expected window-based asof carry")
    // count tree nodes, not substring hits (formatted output repeats
    // each node in the details section)
    assert("""Exchange \(\d+\)""".r.findAllIn(p).length === 1,
      s"asof must be exactly one shuffle (the window partitioning):\n$p")
  }

  test("sketch builds (bloom/CMS/HLL) partial-aggregate map-side") {
    // each build must show a partial + final ObjectHashAggregate pair:
    // per-partition fixed-size sketch blocks merge, raw rows never
    // cross the shuffle
    for (df <- Seq(graft.dedup.Dedup.bloomGate(spark, sf0001),
                   FlowAnalytics.freqCms(spark, sf0001TwoFile),
                   FlowAnalytics.distinctHll(spark, sf0001TwoFile))) {
      val p = plan(df)
      assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
        s"sketch not partial-aggregated:\n$p")
    }
  }

  test("bloom gate probes via broadcast — the corpus key set never re-shuffles") {
    val p = plan(graft.dedup.Dedup.bloomGate(spark, sf0001))
    assert(p.contains("bloom_contains"), s"probe expression missing:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"probe side shuffle-joined (the exact-key-set shape the filter replaces):\n$p")
  }

  test("PQ ANN scores from codes + broadcast LUT: no window, heap-ranked") {
    for (df <- Seq(graft.ann.Knn.pqTopK(spark, sf0001),
                   graft.ann.Knn.ivfPqTopK(spark, sf0001))) {
      val p = plan(df)
      assert(!p.contains("Window"), s"sort window crept into PQ ranking:\n$p")
      assert(p.contains("topk_by"), s"bounded-heap ranking missing:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"ADC LUT not broadcast:\n$p")
    }
  }

  test("zorder locality query has no global single-reducer sort") {
    val p = plan(FlowAnalytics.zorderLocality(spark, sf0001TwoFile))
    // the row_number window partitions by protocol — a hash exchange,
    // never SinglePartition (the final presentation orderBy is range)
    assert(!p.contains("Exchange SinglePartition"),
      s"global window serializes the corpus:\n$p")
    assert(p.contains("zorder2"), s"native interleave missing:\n$p")
  }

  test("anomaly z-score's global window runs over the HOURLY table, not raw flows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => LWindow}
    val df = FlowAnalytics.anomalyZscore(spark, sf0001TwoFile)
    val win = df.queryExecution.optimizedPlan
      .collectFirst { case w: LWindow => w }
    assert(win.isDefined, "no window node in the plan")
    // The unpartitioned RANGE window is bounded BY CONSTRUCTION: its
    // input is the per-hour aggregate (≤ hours cardinality — calendar-
    // bounded: ~9k rows/year no matter the corpus size), never the
    // corpus-sized flow table.
    val below = win.get.child
    val agg = below.collectFirst { case a: Aggregate => a }
    assert(agg.isDefined, "window input is not an aggregate")
    // PullOutGroupingExpressions aliases the truncation below the
    // Aggregate — search the aggregate's subtree, not the key list
    assert(agg.get.treeString.toLowerCase.contains("date_trunc"),
      s"window input not grouped by hour:\n${agg.get.treeString}")
    assert(below.collectFirst { case j: Join => j }.isEmpty,
      "unexpected join between the window and the hourly aggregate")
  }

  test("iterative graph round state advertises its hash partitioning") {
    // Staged LogicalRDD leaves must carry hashpartitioning — an
    // UnknownPartitioning leaf costs one avoidable node-table Exchange
    // per round (the reason staging checkpoints run with AQE off; see
    // Staging.materializeKeyed).
    for ((name, df) <- Seq(
        "flow_pagerank" -> graft.graph.GraphOps.flowPagerank(spark, sf0001TwoFile),
        "flow_hits" -> graft.graph.GraphOps.flowHits(spark, sf0001TwoFile))) {
      val p = plan(df)
      assert(!p.contains("UnknownPartitioning"),
        s"$name staged leaf lost its partitioning:\n$p")
    }
  }

  test("ranking-prefix rewrites: no Window, broadcast count side, partial-agg heap") {
    for ((name, df) <- Seq(
        "window_pct_prefix" -> Relational.windowPctPrefix(spark, sf0001),
        "window_ntile_prefix" -> Relational.windowNtilePrefix(spark, sf0001),
        "window_cume_prefix" -> Relational.windowCumePrefix(spark, sf0001))) {
      val p = plan(df)
      assert(!p.contains("Window"), s"$name kept its Window plan:\n$p")
      assert(p.contains("prefix_rows"), s"$name missing the variable-k heap:\n$p")
      // the per-group count table is group-cardinality-sized → broadcast
      assert(p.contains("BroadcastHashJoin"), s"$name count side not broadcast:\n$p")
      assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
        s"$name heap not partially aggregated:\n$p")
    }
  }

  test("CDC latest-wins compacts through the k=1 heap, not a Window sort") {
    val p = plan(Relational.cdcLatestUpsert(spark, sf0001))
    assert(!p.contains("Window"), s"cdc_latest_upsert kept its Window plan:\n$p")
    // k=1 row_number ≤ a bounded heap: one candidate per key per map
    // partition crosses the shuffle (max_by-shaped compaction)
    assert(p.contains("topk_rows"), s"cdc_latest_upsert missing the heap:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"cdc_latest_upsert heap not partially aggregated:\n$p")
    // the key-shard filter reaches the parquet scan
    assert(p.contains("PushedFilters: [IsNotNull(user_id)]") ||
      p.contains("pmod"), s"cdc_latest_upsert shard filter not near the scan:\n$p")
  }

  test("EWMA window is partitioned by protocol — no single-reducer global window") {
    val p = plan(graft.flow.FlowAnalytics.ewmaForecast(spark, sf0001TwoFile))
    assert(!p.contains("SinglePartition") ||
      !p.substring(p.indexOf("Window")).contains("SinglePartition"),
      s"flow_ewma_forecast windows on a single partition:\n$p")
    assert(p.contains("Window"), s"flow_ewma_forecast lost its window stage:\n$p")
  }

  test("real image decode/resize are map-only: no shuffle before the output sort") {
    for ((name, df) <- Seq(
        "mm_image_decode" -> graft.multimodal.Multimodal.imageDecode(spark, sf0001),
        "mm_image_resize" -> graft.multimodal.Multimodal.imageResize(spark, sf0001))) {
      val p = plan(df)
      assert(p.contains("MapPartitions"), s"$name lost its batched decode stage:\n$p")
      // encode+decode ride the scan; the only exchange is the
      // presentation orderBy's range partitioning
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name shuffles before the per-doc row:\n$p")
    }
  }

  test("anomaly z-score's global window consumes the hours-bounded aggregate") {
    // Window.orderBy with no partition key is a single-partition sort —
    // acceptable ONLY because its input is the per-hour aggregate
    // (≤ calendar-hours rows at any corpus size). Pin the shape: in
    // the operator tree the Window must sit ABOVE the hour
    // HashAggregate, which sits above the scan — if the aggregate
    // ever slips above the window, the corpus itself would single-
    // partition and this query dies at scale.
    val p = plan(FlowAnalytics.anomalyZscore(spark, sf0001TwoFile))
    val treeOps = "([A-Za-z]+)(?: parquet)? +\\((\\d+)\\)".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    val iWin = treeOps.indexOf("Window")
    val iAgg = treeOps.indexWhere(_ == "HashAggregate")
    val iScan = treeOps.indexOf("Scan")
    assert(iWin >= 0 && iAgg >= 0 && iScan >= 0, s"ops: $treeOps")
    assert(iWin < iAgg && iAgg < iScan,
      s"window does not consume the hourly aggregate: $treeOps")
    assert(p.contains("SinglePartition"),
      "expected the bounded single-partition window exchange")
  }

  test("salted skew join: no broadcast, join keys carry the salt") {
    val df = Relational.joinSaltedSkew(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(!p.contains("BroadcastHashJoin"),
      s"salted join was broadcast away — the pattern isn't exercised:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"expected shuffle hash join:\n$p")
    // the equi-join keys must include the salt column on both sides
    val keys = "(?m)^(Left|Right) keys \\[\\d+\\]: \\[.*salt.*\\]$".r
    assert(keys.findAllIn(p).length >= 2,
      s"salt not part of the join keys:\n$p")
  }

  test("cusum re-reads the hourly table via runtime exchange reuse, not a rescan") {
    // the stats side (mean/σ) re-derives the hourly aggregation; the
    // static plan shows two parquet scans, but the hourly partial-agg
    // exchanges are canonically identical, so AQE must dedupe them —
    // at 100 TB the difference is one corpus scan vs two
    val df = FlowAnalytics.cusum(spark, sf0001TwoFile)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"hourly exchange not reused at runtime:\n$p")
  }

  test("biflow stitch is one corpus pass + one canonical-key shuffle, no join") {
    val p = plan(FlowAnalytics.biflowStitch(spark, sf0001TwoFile))
    assert("(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).length === 1,
      s"leg derivation re-scanned the corpus:\n$p")
    assert(!p.contains("Join"), s"the stitch must be a pure aggregation:\n$p")
    // partial + final aggregate around exactly one exchange pair
    // (canonical key, then the output sort)
    assert("HashAggregate".r.findAllIn(p).length >= 2, "no map-side combine")
  }

  test("cust_pareto has no customer-scale partition-less window") {
    val p = plan(Relational.custPareto(spark, sf0001))
    // the only window left runs over the 10 decile rows (cum share);
    // the rank itself is the eager range-partitioned two-pass build,
    // whose leaves appear here as ExistingRDD scans
    assert("(?m)^\\(\\d+\\) Window".r.findAllIn(p).length <= 1,
      s"unexpected extra window:\n$p")
    assert(p.contains("ExistingRDD"),
      s"expected the materialized distributed-rank leaf:\n$p")
  }

  test("binary ANN packs map-only and broadcasts probes, not the corpus") {
    val p = plan(graft.ann.Knn.binaryTopK(spark, sf0001))
    assert(!p.contains("SortMergeJoin"), s"corpus re-shuffled for probing:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probes not broadcast:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"ranking must go through the bounded heap:\n$p")
    assert(!p.contains("Window"), s"per-probe sort window crept in:\n$p")
  }

  test("flow_concurrency's sweep window is partitioned by site, never global") {
    val p = plan(FlowAnalytics.flowConcurrency(spark, sf0001TwoFile))
    // every Window node must carry a site partition spec — a global
    // sweep would single-task the whole corpus at scale
    val windows = "(?m)^Arguments: .*windowspecdefinition\\(.*".r
      .findAllIn(p).toList
    assert(windows.nonEmpty, s"expected the sweep window:\n$p")
    windows.foreach(w => assert(w.contains("site"),
      s"sweep window lost its site partitioning: $w"))
  }

  test("q8 market share broadcasts every dimension around one fact shuffle") {
    val p = plan(Relational.q8MarketShare(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      s"q8 dimensions not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact-side merge join crept in:\n$p")
  }

  test("LPM enrichment rides the scan: broadcast joins only, no shuffle before the rollup") {
    val p = plan(FlowAnalytics.lpmEnrich(spark, sf0001TwoFile))
    assert("BroadcastHashJoin LeftOuter".r.findAllIn(p).length === 4,
      s"expected 4 broadcast mask-length joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a routing join shuffled the corpus:\n$p")
  }

  test("KMV set algebra: sketches reduce per protocol; the pair algebra never re-scans") {
    val p = plan(FlowAnalytics.setAlgebra(spark, sf0001TwoFile))
    // the KMV sketch build must have a partial (map-side) phase
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"no partial sketch aggregation:\n$p")
    // the pair cross join must be over broadcast sketch tables
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"sketch pair table not broadcast:\n$p")
  }

  test("Holt forecast folds map-side: only the rollup and final sort exchange") {
    val p = plan(FlowAnalytics.holtForecast(spark, sf0001TwoFile))
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"Holt fold grew extra shuffles ($exchanges):\n$p")
    assert(!p.contains("Window"), s"the sequential fold fell back to a window:\n$p")
  }

  test("winnowing selection is map-side over the doc's own gram array") {
    // audit the BUILD plan: the graded query serves the staged pair
    // artifact, which hides the kernel behind a LogicalRDD leaf
    val p = plan(graft.dedup.Dedup.winnowingBuild(spark, sf0001))
    // stop-fingerprint filter must broadcast the BOUNDED stop set
    // (df > cap) as an anti join — never the corpus-growing keep set
    assert(p.contains("BroadcastHashJoin LeftAnti"),
      s"stop-fingerprint filter lost its broadcast anti join:\n$p")
    assert(!p.contains("BroadcastHashJoin LeftSemi"),
      s"winnowing regressed to broadcasting the corpus-growing keep set:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair join degenerated to a nested loop:\n$p")
  }

  test("codegen'd IP expressions stay inside WholeStageCodegen") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // non-literal input so constant folding can't pre-evaluate the plan
    val df = spark.range(300)
      .select(concat(lit("10.1.2."), pmod($"id", lit(256))).as("ip"))
      .where(graft.functions.IpFuncs.ip4_in_cidr($"ip", lit("10.0.0.0/8")))
      .select(graft.functions.IpFuncs.ip4_aton($"ip").as("n"))
    val p = plan(df)
    assert(p.contains("codegen id"), s"IP exprs fell out of codegen:\n$p")
    assert(df.collect().map(_.getLong(0)).min === 167838208L) // 10.1.2.0
  }
}
