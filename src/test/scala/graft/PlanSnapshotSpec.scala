package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode
import scala.jdk.CollectionConverters._

/** Golden-plan regression snapshots: the normalized
  * `explain(formatted)` of every graded query is pinned under
  * `src/test/resources/plans/`, so planner drift anywhere in the
  * surface — a lost broadcast, a new exchange, a filter that stopped
  * pushing down — fails the suite instead of quietly costing a rank
  * at the next scale-up. PlanAuditSpec asserts ~15 properties
  * explicitly; this covers the rest of the surface wholesale.
  *
  * Regenerate after an INTENTIONAL plan change with:
  * `GRAFT_REGEN_PLANS=1 sbt "testOnly graft.PlanSnapshotSpec"`
  * then review the snapshot diff like source.
  *
  * Streaming queries are pinned from the LAST MICRO-BATCH's executed
  * plan ([[graft.streaming.StreamingOps.lastBatchPlans]], captured at
  * stream termination) — a streaming Dataset has no batch plan to
  * explain, and the micro-batch plan is where the planner artifacts
  * live (state store placement, the static side of stream-static
  * joins, sink mode). Running the query IS the capture; these
  * snapshots execute a full drain each, same as StreamingSpec.
  *
  * The flow and graph queries are pinned over [[sf0001TwoFile]]: the
  * flows view of sf0.001's one-file `events` plans no exchange at all,
  * and these snapshots pin the multi-file plan that runs at scale.
  */
class PlanSnapshotSpec extends SparkSpecBase {

  private val snapDir = Paths.get("src/test/resources/plans")
  // Queries with MULTIPLE distinct aggregates: RewriteDistinctAggregates
  // orders its Expand projections by exprId allocation, which depends
  // on how many expressions the SESSION allocated before — a
  // permutation, not a plan-shape change, and not stable across suite
  // orderings. Only their operator-tree header is pinned (treeOnly),
  // covering shape without the session-dependent permutation.
  private val multiDistinct =
    Set("flow_retention", "flow_by_source", "agg_distinct",
      "flow_distinct_overlap", "table_stats_profile", "flow_distinct_cube")
  private val streaming =
    Set("stream_window_agg", "stream_running_totals",
      "stream_decontaminate", "stream_sessions_agg",
      "stream_topk", "stream_bloom_gate", "stream_minhash_gate",
      "stream_quality_gate", "stream_value_quantiles",
      "stream_cdc_upsert", "stream_distinct_hll", "stream_biflow_stitch",
      "stream_holt_forecast", "stream_distinct_kmv", "stream_lpm_enrich",
      "stream_interval_join", "stream_session_timer", "stream_dedup_first",
      "stream_lpm6_enrich", "stream_ann_route", "stream_rate_limit")
  private val regen = sys.env.contains("GRAFT_REGEN_PLANS")

  /** Where a drifted plan is written, next to its golden one. Emptied
    * once at suite start, so it holds only this run's drifts.
    */
  private val driftDir = Paths.get("target", "plan-drift")
  if (Files.exists(driftDir))
    scala.util.Using.resource(Files.walk(driftDir))(
      _.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p)))

  /** Strip run-varying tokens: expression ids, rdd ids, file paths,
    * in-memory index object hashes. Operator numbering and tree shape
    * stay — that IS the snapshot.
    */
  private def normalize(p: String): String = p
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("\\[id=N?#?\\d*\\]", "[id=N]")
    .replaceAll("file:[^\\s,\\)\\]]*", "PATH")
    .replaceAll("/[^\\s,\\)\\]]*(testdata|graft|tmp)[^\\s,\\)\\]]*", "PATH")
    .replaceAll("(ExistingRDD|MapPartitionsRDD)\\[\\d+\\]", "$1[N]")
    // lambda var names carry a session-global counter (x_26 vs x_76
    // depending on what ran earlier) — not plan shape
    .replaceAll("lambda ([a-z])_\\d+", "lambda $1_N")
    // materialize() legitimately flips between localCheckpoint and
    // reliable checkpoint with session config (and callsite lines move
    // with edits) — neither is plan shape
    .replaceAll("at \\w+ at [\\w.$]+:\\d+", "at CALLSITE")
    .replaceAll("\\$\\$Lambda\\$?[\\d/]*0?x?[0-9a-fA-F]*@[0-9a-fA-F]+", "\\$\\$Lambda@N")
    .replaceAll("InMemoryFileIndex\\[[^\\]]*\\]", "InMemoryFileIndex[PATH]")
    .replaceAll("(?m)\\s+$", "")

  /** Run-varying tokens specific to micro-batch plans: query run ids,
    * state-store checkpoint uuids, the memory-sink's counter-suffixed
    * table name, per-run batch/epoch numbers.
    */
  private def normalizeStreaming(p: String): String = normalize(p)
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "UUID")
    .replaceAll("graft_stream_[a-z]+_\\d+", "graft_stream_X")
    .replaceAll("(?i)(batchId|currentBatchId|epoch)[ =:]+\\d+", "$1=N")
    .replaceAll("MemoryStream\\[[^\\]]*\\]", "MemoryStream[...]")
    .replaceAll("@[0-9a-f]+\\b", "@N")

  /** For the multi-distinct queries only the operator-tree header of
    * the formatted explain is pinned: the rewrite permutes gid
    * assignments and every downstream column list with exprId
    * allocation order (session-history-dependent), but the operator
    * TREE — which is what a lost broadcast or a new exchange would
    * change — is stable.
    */
  private def treeOnly(p: String): String =
    p.linesIterator.takeWhile(l => !l.matches("^\\(\\d+\\) .*"))
      .mkString("\n").stripTrailing()

  private def check(name: String, plan: String): Option[String] = {
    val f = snapDir.resolve(s"$name.txt")
    if (regen) {
      Files.writeString(f, plan)
      None
    } else if (!Files.exists(f)) {
      Some(s"$name: missing snapshot — regenerate with GRAFT_REGEN_PLANS=1")
    } else if (Files.readString(f) != plan) {
      // leave the observed plan next to the golden one for diffing
      val got = driftDir.resolve(s"$name.txt")
      Files.createDirectories(got.getParent)
      Files.writeString(got, plan)
      Some(s"$name: plan drift (observed plan written to $got)")
    } else None
  }

  test("every graded query's physical plan matches its golden snapshot") {
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
    if (regen) Files.createDirectories(snapDir)
    val problems = qs.flatMap { case (name, fn) =>
      if (streaming(name)) {
        fn(spark, sf0001) // executes the drain; captures the batch plan
        graft.streaming.StreamingOps.lastBatchPlans.get(name) match {
          case Some(raw) => check(name, normalizeStreaming(raw))
          case None => Some(s"$name: no micro-batch plan captured")
        }
      } else {
        val dir = if (name.startsWith("flow_") || name.startsWith("graph_")) sf0001TwoFile else sf0001
        val raw = normalize(fn(spark, dir).queryExecution
          .explainString(ExplainMode.fromString("formatted")))
        check(name, if (multiDistinct(name)) treeOnly(raw) else raw)
      }
    }
    assert(problems.isEmpty,
      s"${problems.size} plan snapshot failure(s):\n" + problems.mkString("\n"))
    if (!regen) {
      // snapshots for queries that no longer exist are drift too
      val known = qs.map(_._1).toSet
      val stale = Files.list(snapDir).iterator().asScala
        .map(_.getFileName.toString.stripSuffix(".txt"))
        .filterNot(known).toSeq
      assert(stale.isEmpty, s"stale snapshots for removed queries: $stale")
    }
  }
}
