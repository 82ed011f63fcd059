package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Staging.{materialize, Serve}
import graft.Tables.load
import graft.functions.VecFuncs._

/** Similarity search over the `embeddings` table (SURVEY §2 D5–D7,
  * D13): brute-force exact top-k as the baseline, random-hyperplane
  * LSH bucketing as the scale path, plus embedding near-dup detection.
  *
  * Hyperplanes are derandomized (±1 components from md5 bits), so the
  * DuckDB oracle reproduces the bucketing bit-for-bit; cosine scores
  * are sequential folds (see [[graft.functions.VecFuncs]]) and
  * hash-match without rounding.
  *
  * Scale design: brute force broadcasts the (small) probe set against
  * the full corpus — one map-side pass, bounded-heap top-k per probe
  * ([[rankTopK]]) — the 100 TB pattern where the fact side never
  * shuffles more than k rows per partition. The LSH path prunes the
  * corpus to the probe's bucket before any dot product: bucket id is
  * an equi-join key, and with p planes bucket cardinality ~n/2^p keeps
  * per-bucket work flat as n grows (add planes as the corpus grows).
  */
object Knn {

  val NumPlanesDedup = 8  // 256 buckets for near-dup self-join
  val NumPlanesKnn = 4    // 16 buckets for the ANN index
  val Dim = 64

  /** Deterministic ±1 hyperplanes: component j of plane p is
    * +1 iff the first md5 hex digit of "p:j" is odd.
    */
  private def planes(spark: SparkSession, n: Int): DataFrame =
    spark.range(n).toDF("plane_id")
      .withColumn("r", expr(
        s"""transform(sequence(0, ${Dim - 1}, 1), j ->
           |  CAST((CAST(conv(substring(md5(cast(concat(plane_id, ':', j) as binary)), 1, 1), 16, 10) AS INT) % 2) * 2 - 1 AS DOUBLE))""".stripMargin))

  private def planesSql(n: Int): String =
    s"""planes AS (
       |  SELECT p AS plane_id,
       |    list_transform(range(0, $Dim), j ->
       |      CAST((('0x' || substr(md5(p || ':' || j), 1, 1))::BIGINT % 2) * 2 - 1 AS DOUBLE)) AS r
       |  FROM range(0, $n) t(p))""".stripMargin

  /** (vec_id, embedding, code): LSH sign-bit bucket code over n planes.
    * The planes frame is tiny → broadcast; code assembly is one
    * groupBy(vec_id) with a sum — no per-row driver work.
    */
  private def coded(spark: SparkSession, vecs: DataFrame, n: Int): DataFrame = {
    val p = planes(spark, n)
    vecs.crossJoin(broadcast(p))
      .withColumn("bit",
        when(vdot(col("embedding"), col("r")) > 0,
          expr("CAST(pow(2, plane_id) AS BIGINT)")).otherwise(0L))
      .groupBy(col("vec_id"), col("embedding"))
      .agg(sum(col("bit")).as("code"))
  }

  private def codedSql(src: String, n: Int): String =
    s"""coded AS (
       |  SELECT vec_id, embedding, CAST(sum(bit) AS BIGINT) AS code FROM (
       |    SELECT vec_id, embedding,
       |      CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(1, $Dim + 1),
       |            i -> CAST(embedding[i] AS DOUBLE) * r[i])),
       |          (acc, v) -> acc + v) > 0
       |        THEN CAST(pow(2, plane_id) AS BIGINT) ELSE 0 END AS bit
       |    FROM $src, planes)
       |  GROUP BY vec_id, embedding)""".stripMargin

  /** The oracle's cosine — list_reduce fold, same element order and
    * widening as [[VecFuncs.vcos]].
    */
  private def cosSql(a: String, b: String): String = cosSqlDim(a, b, Dim.toString)

  /** [[cosSql]] over only the first `dim` components (`dim` may be a
    * column reference) — the Matryoshka-truncation scoring twin. Same
    * fixed-order fold as [[graft.functions.VecFuncs.vcos]].
    */
  private def cosSqlDim(a: String, b: String, dim: String): String =
    s"""(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, $dim + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |   (acc, v) -> acc + v)
       | / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, $dim + 1),
       |        i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))),
       |      (acc, v) -> acc + v))
       |  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, $dim + 1),
       |        i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |      (acc, v) -> acc + v))))""".stripMargin

  /** Shared ranking tail: bounded-heap top-k per group via
    * [[graft.functions.TopKByAgg]] (score DESC, id ASC), exploded back
    * to (neighbor_id, rank, score) rows. Replaces the
    * `row_number() OVER (PARTITION BY probe_id)` window, which with a
    * handful of probes shuffles EVERY scored candidate to ≤|probes|
    * reducers and full-sorts each — the heap partial-aggregates
    * map-side, so the shuffle carries ≤ k rows per (partition, probe).
    */
  private def rankTopK(scored: DataFrame, k: Int, extraKey: Seq[String]): DataFrame = {
    import scored.sparkSession.implicits._
    val keys = ("probe_id" +: extraKey).map(col)
    scored.groupBy(keys: _*)
      .agg(graft.functions.TopKByAgg.topk_by($"score", $"vec_id", k).as("nbrs"))
      .select(keys :+ posexplode($"nbrs"): _*)
      .select((Seq($"probe_id", $"col.id".as("neighbor_id"),
        ($"pos" + 1).cast("long").as("rank"), $"col.score".as("score")) ++
        extraKey.map(col)): _*)
      .orderBy($"probe_id", $"rank")
  }

  /** D6: exact brute-force top-5 cosine neighbors for probe vectors
    * (vec_id < 10), ranked with deterministic tie-break.
    */
  def bruteTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val probes = vecs.where($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_emb"))
    val scored = vecs.crossJoin(broadcast(probes))
      .where($"vec_id" =!= $"probe_id")
      .withColumn("score", vcos($"probe_emb", $"embedding"))
    rankTopK(scored, 5, Seq.empty)
  }

  /** D7l: binary-embedding ANN (`ann_topk_binary`) — the 1-bit
    * compression limit of the SQ8/PQ family: each vector binarizes to
    * its per-dimension SIGN (64 dims → two 32-bit words in longs) and
    * search ranks by Hamming distance — xor + popcount, the cheapest
    * possible scan kernel (32× less memory traffic than float32, no
    * multiplies). The production shape for first-stage retrieval over
    * binarized embeddings, refined by an exact re-rank elsewhere
    * (D6/D20b). Packing is ONE map-only pass (a per-row fold, no
    * plane join); scoring is integer end to end — the graded output
    * contains no floats at all, so cross-engine parity is exact by
    * construction. Ties rank by (hamming, vec_id) through the same
    * bounded heap as every ANN query.
    */
  /** The shared binary-scan stage: per probe, every corpus vector
    * scored by Hamming distance over the packed sign bits (`score` =
    * −hamming so the shared descending heap ranks ascending hamming).
    */
  private def binaryScored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def word(off: Int): Column = expr(
      s"""aggregate(sequence(0, 31), 0L,
         |  (acc, i) -> acc + IF(element_at(embedding, i + ${off + 1}) > 0D,
         |    shiftleft(1L, i), 0L))""".stripMargin)
    val packed = spread(load(spark, dir, "embeddings")
        .select($"vec_id", $"embedding"))
      .select($"vec_id", word(0).as("lo"), word(32).as("hi"))
    val probes = packed.where($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"lo".as("plo"), $"hi".as("phi"))
    packed.crossJoin(broadcast(probes))
      .where($"vec_id" =!= $"probe_id")
      .withColumn("ham",
        expr("bit_count(lo ^ plo) + bit_count(hi ^ phi)").cast("long"))
      .withColumn("score", -$"ham".cast("double"))
  }

  def binaryTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    rankTopK(binaryScored(spark, dir), 5, Seq.empty)
      .select($"probe_id", $"neighbor_id", $"rank",
        (-$"score").cast("long").as("hamming"))
  }

  /** Stage-1 CTE chain shared by D7l and D7o: sign packing, Hamming
    * scan, (probe, vec) ranking.
    */
  private val binaryCtesSql: String =
    s"""WITH packed AS (
       |  SELECT vec_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(0, 32),
       |        i -> CASE WHEN embedding[i + 1] > 0
       |          THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
       |      (acc, v) -> acc + v) AS lo,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(0, 32),
       |        i -> CASE WHEN embedding[i + 33] > 0
       |          THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
       |      (acc, v) -> acc + v) AS hi
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id AS probe_id, lo AS plo, hi AS phi
       |  FROM packed WHERE vec_id < 10),
       |scored AS (
       |  SELECT p.probe_id, e.vec_id,
       |    CAST(bit_count(xor(e.lo, p.plo)) AS BIGINT)
       |      + CAST(bit_count(xor(e.hi, p.phi)) AS BIGINT) AS ham
       |  FROM packed e, probes p WHERE e.vec_id != p.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, ham,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY ham, vec_id) AS rank
       |  FROM scored)""".stripMargin

  val binaryTopKSql: String =
    s"""$binaryCtesSql
       |SELECT probe_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  CAST(ham AS BIGINT) AS hamming
       |FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin

  // --------------------------- D7o two-stage retrieve → exact re-rank

  val RerankCandidates = 30
  val RerankTopK = 5

  /** D7o: two-stage retrieval (`ann_topk_rerank`) — THE production
    * vector-serving composition: a cheap compressed first stage
    * retrieves a candidate pool, an exact full-precision re-rank
    * fixes its rank errors. Stage 1 is D7l's binary sign scan
    * (16 bytes/vector, xor + popcount — the 32×-less-memory-traffic
    * scan) keeping the top-[[RerankCandidates]] per probe by
    * (Hamming, vec_id); stage 2 computes exact float cosine for ONLY
    * those candidates and keeps the top-[[RerankTopK]]. One-bit
    * quantization preserves neighborhoods far better than it
    * preserves exact ranks, so a pool a few times k recovers most of
    * what the binary top-k alone loses — the spec measures exactly
    * that (re-ranked recall@3 must strictly beat the raw binary
    * top-5's, and the output must be a subset of the stage-1 pool).
    *
    * 100 TB shape: the full-precision vectors are touched for
    * |probes| × [[RerankCandidates]] rows only — the corpus-wide scan
    * reads 16 bytes/vector, candidates flow through a broadcast
    * semi-join, and the expensive float fold runs on a bounded set.
    * Oracle replays packing, Hamming pool, and the exact re-rank.
    */
  /** The stage-1 Hamming candidate pool at width `k` — exposed for
    * the spec's subset check.
    */
  private[graft] def binaryPool(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import spark.implicits._
    rankTopK(binaryScored(spark, dir), k, Seq.empty)
      .select($"probe_id", $"neighbor_id".as("vec_id"))
  }

  def rerankTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val pool = binaryPool(spark, dir, RerankCandidates)
    val probes = vecs.where($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_emb"))
    val exact = vecs.join(broadcast(pool), "vec_id")
      .join(broadcast(probes), "probe_id")
      .select($"probe_id", $"vec_id",
        vcos($"probe_emb", $"embedding").as("score"))
    rankTopK(exact, RerankTopK, Seq.empty)
  }

  val rerankTopKSql: String =
    s"""$binaryCtesSql,
       |pool AS (
       |  SELECT probe_id, vec_id FROM ranked WHERE rank <= $RerankCandidates),
       |exact AS (
       |  SELECT c.probe_id, c.vec_id,
       |    ${cosSql("p.embedding", "v.embedding")} AS score,
       |    row_number() OVER (PARTITION BY c.probe_id
       |      ORDER BY ${cosSql("p.embedding", "v.embedding")} DESC, c.vec_id)
       |      AS rank
       |  FROM pool c JOIN embeddings v ON v.vec_id = c.vec_id
       |    JOIN embeddings p ON p.vec_id = c.probe_id)
       |SELECT probe_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  score
       |FROM exact WHERE rank <= $RerankTopK ORDER BY probe_id, rank""".stripMargin

  /** D20c: Matryoshka truncation evaluation (`emb_matryoshka`) — the
    * MRL question (Kusupati et al. 2022): how much RANKING survives
    * when vectors are truncated to a dim prefix? For each prefix in
    * [[MatryoshkaDims]], every probe's exact top-5 by truncated-dim
    * cosine is compared against the full-dim top-5, reported as
    * overlap@5 — the go/no-go table for serving shorter vectors
    * (the storage/recall trade the SQ8/PQ family makes by
    * quantization, made here by truncation).
    *
    * Execution: ONE corpus pass — the candidate set explodes the 4
    * prefix dims and scores each with the fused [[VecFuncs.vcos]]
    * over `slice(...)` (no per-dim rescan), rank through the bounded
    * per-(probe, dim) heap, and the tiny ranked table (probes×5×dims
    * rows) is materialized once and self-compared. Overlap counts are
    * exact integers; one rounded division per output row. Rank order
    * is float-comparison-only (no float addition across rows), and
    * the fold order matches the oracle's list_reduce exactly.
    */
  val MatryoshkaDims = Seq(8, 16, 32, 64)

  def embMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val probes = vecs.where($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_emb"))
    val scored = spread(vecs).crossJoin(broadcast(probes))
      .where($"vec_id" =!= $"probe_id")
      .withColumn("dim", explode(typedLit(MatryoshkaDims)))
      .withColumn("score",
        vcos(expr("slice(probe_emb, 1, dim)"), expr("slice(embedding, 1, dim)")))
    val ranked = materialize(rankTopK(scored, 5, Seq("dim")))
    val full = ranked.where($"dim" === Dim)
      .select($"probe_id", $"neighbor_id")
    val totals = ranked.groupBy($"dim").agg(count(lit(1)).as("n_pairs"))
    val hits = ranked.select($"dim", $"probe_id", $"neighbor_id")
      .join(broadcast(full), Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy($"dim").agg(count(lit(1)).as("n_overlap"))
    totals.join(hits, Seq("dim"), "left")
      .select($"dim", $"n_pairs",
        coalesce($"n_overlap", lit(0L)).as("n_overlap"),
        round(coalesce($"n_overlap", lit(0L)).cast("double") /
          $"n_pairs".cast("double"), 6).as("overlap_r"))
      .orderBy($"dim")
  }

  val embMatryoshkaSql: String =
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, embedding AS probe_emb FROM embeddings WHERE vec_id < 10),
       |dims AS (SELECT unnest([${MatryoshkaDims.mkString(", ")}]) AS dim),
       |scored AS (
       |  SELECT p.probe_id, e.vec_id, d.dim,
       |    ${cosSqlDim("p.probe_emb", "e.embedding", "d.dim")} AS score
       |  FROM embeddings e, probes p, dims d WHERE e.vec_id != p.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, dim,
       |    row_number() OVER (PARTITION BY probe_id, dim
       |      ORDER BY score DESC, vec_id) AS rank
       |  FROM scored),
       |top AS (SELECT probe_id, vec_id, dim FROM ranked WHERE rank <= 5),
       |fulltop AS (SELECT probe_id, vec_id FROM top WHERE dim = $Dim),
       |totals AS (SELECT dim, count(*) AS n_pairs FROM top GROUP BY dim),
       |hits AS (
       |  SELECT t.dim, count(*) AS n_overlap
       |  FROM top t JOIN fulltop f
       |    ON f.probe_id = t.probe_id AND f.vec_id = t.vec_id
       |  GROUP BY t.dim)
       |SELECT CAST(t.dim AS INT) AS dim, t.n_pairs,
       |  coalesce(h.n_overlap, 0) AS n_overlap,
       |  round(CAST(coalesce(h.n_overlap, 0) AS DOUBLE)
       |    / CAST(t.n_pairs AS DOUBLE), 6) AS overlap_r
       |FROM totals t LEFT JOIN hits h ON h.dim = t.dim
       |ORDER BY dim""".stripMargin

  val bruteTopKSql: String =
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, embedding AS probe_emb FROM embeddings WHERE vec_id < 10),
       |scored AS (
       |  SELECT p.probe_id, e.vec_id,
       |    ${cosSql("p.probe_emb", "e.embedding")} AS score
       |  FROM embeddings e, probes p WHERE e.vec_id != p.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, score,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, vec_id AS neighbor_id, rank, score
       |FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin

  /** D7: LSH-bucketed approximate top-3 — probes search only their own
    * sign-bit bucket (the IVF-style scale path).
    */
  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val c = coded(spark, vecs, NumPlanesKnn)
    val probes = c.where($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_emb"), $"code")
    val cands = c.join(probes, Seq("code"))
      .where($"vec_id" =!= $"probe_id")
      .withColumn("score", vcos($"probe_emb", $"embedding"))
    rankTopK(cands, 3, Seq("code"))
  }

  val lshTopKSql: String =
    s"""WITH ${planesSql(NumPlanesKnn)},
       |${codedSql("embeddings", NumPlanesKnn)},
       |probes AS (
       |  SELECT vec_id AS probe_id, embedding AS probe_emb, code
       |  FROM coded WHERE vec_id < 10),
       |cands AS (
       |  SELECT p.probe_id, c.vec_id, c.code,
       |    ${cosSql("p.probe_emb", "c.embedding")} AS score
       |  FROM coded c JOIN probes p USING (code) WHERE c.vec_id != p.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, code, score,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
       |  FROM cands)
       |SELECT probe_id, vec_id AS neighbor_id, rank, score, code
       |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin

  /** D5: embedding near-dup pairs — corpus ∪ exact copies of every
    * 10th vector (ids +10000), LSH-bucket self-join, cosine ≥ 0.99.
    *
    * Scale note on the blocking parameter (same trade as D3's
    * pigeonhole segments): a bucket holds ~n/2^[[NumPlanesDedup]]
    * vectors in expectation, so PLANE COUNT MUST GROW WITH log₂(n)
    * to keep the self-join's per-bucket pair work flat — 8 planes /
    * 256 buckets are sized for the graded corpus; at corpus scale
    * use ~24–32 planes (recall per added plane falls as pairs at
    * cosine ≥ 0.99 agree on a random hyperplane with p ≈ 0.9968, so
    * 32 planes still retain ~90% of true pairs per table — run 2–3
    * plane tables and union if that loss matters).
    */
  def embDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val corpus = base.union(
      base.where($"vec_id" % 10 === 0)
        .select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
    val c = coded(spark, corpus, NumPlanesDedup)
    val l = c.as("l"); val r = c.as("r")
    l.join(r, $"l.code" === $"r.code" && $"l.vec_id" < $"r.vec_id")
      .withColumn("cosine", vcos($"l.embedding", $"r.embedding"))
      .where($"cosine" >= 0.99)
      .select($"l.vec_id".as("v1"), $"r.vec_id".as("v2"), $"cosine")
      .orderBy($"v1", $"v2")
  }

  val embDedupSql: String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
       |${planesSql(NumPlanesDedup)},
       |${codedSql("corpus", NumPlanesDedup)}
       |SELECT l.vec_id AS v1, r.vec_id AS v2,
       |  ${cosSql("l.embedding", "r.embedding")} AS cosine
       |FROM coded l JOIN coded r ON l.code = r.code AND l.vec_id < r.vec_id
       |WHERE ${cosSql("l.embedding", "r.embedding")} >= 0.99
       |ORDER BY v1, v2""".stripMargin

  /** D7b: IVF ANN — a FIXED budget of coarse centroids trained with
    * [[KMeansIters]] Lloyd's iterations (stride-selected init, so the
    * whole training replay is deterministic and the DuckDB oracle
    * reproduces it exactly); vectors are assigned to their nearest
    * centroid, and probes search only their own cell.
    *
    * Scale shape: the centroid table is a constant ≤[[CentBudget]]
    * rows → broadcast at EVERY step, training included — the corpus
    * never shuffles for training; each Lloyd's iteration is one
    * map-side scoring pass plus two combine-heavy aggregations
    * (argmax by vec_id; per-(cid, dim) mean with map-side partials,
    * ≤ C×Dim groups). Assignment is a `max_by` argmax aggregate (the
    * shuffle carries n rows, not n×C scored rows — contrast a
    * `row_number() OVER (PARTITION BY vec_id)` window, which would
    * shuffle and sort the full scored product). The max_by ordering
    * key is `struct(score, -cid)`, a total order, so ties are
    * deterministic (best score, then lowest cid) under any
    * parallelism.
    *
    * Centroid means are rounded to 6 dp in BOTH engines — double
    * accumulation order differs between Spark's parallel partials and
    * the serial oracle, and an unrounded 1-ulp wobble could flip a
    * boundary argmax downstream.
    */
  val CentStride = 16
  val CentBudget = 32
  val KMeansIters = 3

  /** Nearest-centroid assignment: (vec_id, embedding, cid).
    *
    * MAP-ONLY: the ≤[[CentBudget]]-row centroid table is collapsed to
    * a single broadcast array row, and the argmax runs as an
    * `array_max(transform(...))` expression per corpus row — the
    * corpus never shuffles for assignment (the previous
    * crossJoin + `max_by`-by-vec_id form re-keyed n full embeddings
    * per call; at bench scale that shuffle wave per Lloyd's round was
    * most of the IVF cost, and at 100 TB it is a corpus-sized
    * exchange that simply doesn't need to exist). Tie semantics are
    * unchanged: max over (score, -cid) structs = best score, then
    * lowest cid — a total order under any parallelism.
    */
  private def assign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    val centArr = cents.agg(collect_list(struct($"cid", $"cent")).as("cs"))
    // carry every input column through (metadata such as `label` rides
    // the map-side pass for free — the filtered-ANN shape needs it)
    vecs.crossJoin(broadcast(centArr))
      .select(vecs.columns.map(col) :+
        graft.functions.PqFuncs.argmaxCos($"embedding", $"cs").as("cid"): _*)
  }

  /** `iters` Lloyd's rounds from the stride-selected seed. An empty
    * cell simply drops out of the next round (inner-join semantics in
    * both engines).
    *
    * Each round's centroid table (≤[[CentBudget]] rows) is STAGED via
    * [[graft.Staging.materialize]]: the lazy chain re-derived the whole training
    * history — and with it a corpus scan per round per CONSUMER —
    * every time the centroids were used (runtime-measured: 13 scans
    * of the corpus in one ann_topk_pq execution, ReuseExchange
    * recovering almost nothing across the divergent consumer
    * subtrees). Staged, training is exactly one corpus pass per
    * round, and every consumer reads the finished table — the only
    * shape that survives a 100 TB index build.
    */
  private[graft] def trainedCentroids(vecs: DataFrame, iters: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    var cents = vecs
      .where($"vec_id" % CentStride === 0 && $"vec_id" < CentStride * CentBudget)
      .select($"vec_id".as("cid"), $"embedding".as("cent"))
    for (r <- 1 to iters) {
      // per-dim means as Dim codegen'd avg columns in ONE ≤C-group
      // aggregation (map-side partials) — with the map-only argmax
      // above, a whole Lloyd's round is a single tiny shuffle; the
      // previous posexplode → (cid,pos) agg → collect_list/array_sort
      // chain spent two more full shuffle waves re-assembling arrays
      val next = assign(vecs, cents)
        .groupBy($"cid")
        .agg(array((1 to Dim).map(i =>
          round(avg(element_at($"embedding", i).cast("double")), 6)): _*)
          .as("cent"))
      // intermediate rounds are single-consumed → graft.Staging's
      // every-second-round cadence; the FINAL table is multi-consumed
      // (probe filter, cell join, encode) and must stay staged: lazy
      // it re-derived the whole training history per consumer (13
      // corpus scans measured in one ann_topk_pq execution)
      cents = if (graft.Staging.stagePoint(r, iters, stageFinal = true))
        materialize(next) else next
    }
    cents
  }

  private[graft] def ivfTopKWith(spark: SparkSession, dir: String,
      kmeansIters: Int): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val cents = stagedModel(spark, dir, s"cents_$kmeansIters", Serve.Local)(
      trainedCentroids(vecs, kmeansIters))
    // both the probe filter and the corpus side of the cell join
    // consume the assignment; its aggregation Exchange is deduped by
    // ReuseExchange within the one job, so the n×C scoring pass runs
    // once without materializing (which would also truncate the plan
    // the audit spec pins)
    val assigned = assign(vecs, cents)
    val probes = assigned.where($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_emb"), $"cid")
    val cands = assigned.join(probes, Seq("cid"))
      .where($"vec_id" =!= $"probe_id")
      .withColumn("score", vcos($"probe_emb", $"embedding"))
    rankTopK(cands, 3, Seq("cid"))
  }

  def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    ivfTopKWith(spark, dir, KMeansIters)

  /** D7c: multi-probe IVF — each probe searches its [[MultiProbeCells]]
    * nearest cells instead of one. The standard recall lever for an
    * IVF index: boundary-adjacent true neighbors live one cell over,
    * and probing a second cell recovers them for ~2× the candidate
    * scoring (still a vanishing fraction of the corpus) with NO extra
    * training or corpus passes. Corpus vectors stay in exactly one
    * cell (argmax), so no candidate appears twice and no dedupe pass
    * is needed; the probe→cell fan-out is a [[TopKByAgg]] bounded heap
    * (top-2 cells by centroid score), exploded to join keys.
    */
  val MultiProbeCells = 2

  def ivfTopKMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val cents = stagedModel(spark, dir, s"cents_$KMeansIters", Serve.Local)(
      trainedCentroids(vecs, KMeansIters))
    val assigned = assign(vecs, cents)
    val probeCells = vecs.where($"vec_id" < 10)
      .crossJoin(broadcast(cents))
      .withColumn("cscore", vcos($"embedding", $"cent"))
      .groupBy($"vec_id")
      .agg(first($"embedding").as("probe_emb"),
        graft.functions.TopKByAgg.topk_by($"cscore", $"cid", MultiProbeCells)
          .as("cells"))
      .select($"vec_id".as("probe_id"), $"probe_emb",
        explode($"cells.id").as("cid"))
    val cands = assigned.join(probeCells, Seq("cid"))
      .where($"vec_id" =!= $"probe_id")
      .withColumn("score", vcos($"probe_emb", $"embedding"))
    rankTopK(cands, 3, Seq.empty)
  }

  /** D7k similarity floor for the range search. */
  val RangeTau = 0.2

  /** D7k: radius / range search (`ann_range_search`) — the OTHER ANN
    * query shape: "everything at least τ-similar", not "the k
    * nearest" (dedup sweeps, recall-oriented retrieval, and
    * near-duplicate audits want a similarity floor, not a count
    * budget). Same multi-probe IVF routing as D7c — probes score
    * only their [[MultiProbeCells]] nearest cells' members — with
    * the bounded heap replaced by a threshold on the 6-dp-rounded
    * score (rounded BEFORE the comparison in both engines, so a
    * final-ulp wobble cannot flip membership). Output size is
    * data-dependent by design; the cell routing keeps the scored
    * candidate set a vanishing fraction of the corpus.
    */
  def rangeSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val cents = stagedModel(spark, dir, s"cents_$KMeansIters", Serve.Local)(
      trainedCentroids(vecs, KMeansIters))
    val assigned = assign(vecs, cents)
    val probeCells = vecs.where($"vec_id" < 10)
      .crossJoin(broadcast(cents))
      .withColumn("cscore", vcos($"embedding", $"cent"))
      .groupBy($"vec_id")
      .agg(first($"embedding").as("probe_emb"),
        graft.functions.TopKByAgg.topk_by($"cscore", $"cid", MultiProbeCells)
          .as("cells"))
      .select($"vec_id".as("probe_id"), $"probe_emb",
        explode($"cells.id").as("cid"))
    assigned.join(probeCells, Seq("cid"))
      .where($"vec_id" =!= $"probe_id")
      .withColumn("score_r", round(vcos($"probe_emb", $"embedding"), 6))
      .where($"score_r" >= RangeTau)
      .select($"probe_id", $"vec_id".as("neighbor_id"), $"score_r")
      .orderBy($"probe_id", $"score_r".desc, $"neighbor_id")
  }

  val rangeSearchSql: String = {
    val training = (1 to KMeansIters).map { i =>
      assignCteSql(s"cents${i - 1}", s"a$i") + ",\n" + meanCteSql(s"a$i", s"cents$i")
    }.mkString(",\n")
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM embeddings
       |  WHERE vec_id % $CentStride = 0 AND vec_id < ${CentStride * CentBudget}),
       |$training,
       |${assignCteSql(s"cents$KMeansIters", "assigned")},
       |pcells AS (
       |  SELECT vec_id AS probe_id, embedding AS probe_emb, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM embeddings e, cents$KMeansIters c
       |    WHERE e.vec_id < 10) t
       |  WHERE rn <= $MultiProbeCells)
       |SELECT p.probe_id, a.vec_id AS neighbor_id,
       |  round(${cosSql("p.probe_emb", "a.embedding")}, 6) AS score_r
       |FROM assigned a JOIN pcells p USING (cid)
       |WHERE a.vec_id != p.probe_id
       |  AND round(${cosSql("p.probe_emb", "a.embedding")}, 6) >= $RangeTau
       |ORDER BY probe_id, score_r DESC, neighbor_id""".stripMargin
  }

  val ivfTopKMultiSql: String = {
    val training = (1 to KMeansIters).map { i =>
      assignCteSql(s"cents${i - 1}", s"a$i") + ",\n" + meanCteSql(s"a$i", s"cents$i")
    }.mkString(",\n")
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM embeddings
       |  WHERE vec_id % $CentStride = 0 AND vec_id < ${CentStride * CentBudget}),
       |$training,
       |${assignCteSql(s"cents$KMeansIters", "assigned")},
       |pcells AS (
       |  SELECT vec_id AS probe_id, embedding AS probe_emb, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM embeddings e, cents$KMeansIters c
       |    WHERE e.vec_id < 10) t
       |  WHERE rn <= $MultiProbeCells),
       |ranked AS (
       |  SELECT p.probe_id, a.vec_id,
       |    ${cosSql("p.probe_emb", "a.embedding")} AS score,
       |    row_number() OVER (PARTITION BY p.probe_id
       |      ORDER BY ${cosSql("p.probe_emb", "a.embedding")} DESC, a.vec_id) AS rank
       |  FROM assigned a JOIN pcells p USING (cid) WHERE a.vec_id != p.probe_id)
       |SELECT probe_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank, score
       |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
  }

  /** D7m: FILTERED ANN (`ann_topk_filtered`) — predicate + vector
    * search in one query, the most common production vector-store
    * shape ("nearest documents WITH label/date/source = X"). Each
    * probe retrieves its top-[[FilteredTopK]] cosine neighbors among
    * vectors whose `label` equals the probe's target label
    * (probe_id % 10 — every label class is exercised).
    *
    * Route: the D7c multi-probe IVF dataflow with the metadata
    * predicate applied to the cell candidate stream PRE-heap — the
    * filter composes with the routing join (both are map-side against
    * the broadcast cell fan-out), so candidates that fail the
    * predicate are never scored and never enter the bounded heap.
    * Post-filtering a k-NN result instead would silently return
    * < k rows whenever the unfiltered top-k is predicate-sparse.
    *
    * The SELECTIVITY CLIFF, and why the probe fan-out is wider here
    * ([[FilteredProbeCells]] = 2 × [[MultiProbeCells]]): a predicate
    * of selectivity s leaves ~s·|cell| matching candidates per cell,
    * so a probe needs ~k/(s·|cell|) cells to fill its heap — at s =
    * 1/10 a 2-cell probe over ~16-vector cells expects ~3 matches,
    * exactly at the k = 3 boundary. Production guidance encoded here:
    * widen the probe set as ceil(k / (s·avg_cell)) when s is known
    * (low-selectivity filters degrade IVF toward brute force — at
    * that point route on a label-partitioned index instead). Under-k
    * result sets remain possible by design; the oracle replays
    * route + filter + rank exactly, so starvation matches too.
    */
  val FilteredProbeCells = 4
  val FilteredTopK = 3

  def filteredTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding", $"label")
    val cents = stagedModel(spark, dir, s"cents_$KMeansIters", Serve.Local)(
      trainedCentroids(vecs.select($"vec_id", $"embedding"), KMeansIters))
    // label rides the map-side assignment pass — no join-back shuffle
    val assigned = assign(vecs, cents)
    val probeCells = vecs.where($"vec_id" < 10)
      .crossJoin(broadcast(cents))
      .withColumn("cscore", vcos($"embedding", $"cent"))
      .groupBy($"vec_id")
      .agg(first($"embedding").as("probe_emb"),
        graft.functions.TopKByAgg.topk_by($"cscore", $"cid", FilteredProbeCells)
          .as("cells"))
      .select($"vec_id".as("probe_id"),
        ($"vec_id" % 10).cast("int").as("target_label"), $"probe_emb",
        explode($"cells.id").as("cid"))
    val cands = assigned.join(probeCells, Seq("cid"))
      .where($"vec_id" =!= $"probe_id" && $"label" === $"target_label")
      .withColumn("score", vcos($"probe_emb", $"embedding"))
    rankTopK(cands, FilteredTopK, Seq("target_label"))
  }

  val filteredTopKSql: String = {
    val training = (1 to KMeansIters).map { i =>
      assignCteSql(s"cents${i - 1}", s"a$i") + ",\n" + meanCteSql(s"a$i", s"cents$i")
    }.mkString(",\n")
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM embeddings
       |  WHERE vec_id % $CentStride = 0 AND vec_id < ${CentStride * CentBudget}),
       |$training,
       |${assignCteSql(s"cents$KMeansIters", "assigned")},
       |pcells AS (
       |  SELECT vec_id AS probe_id, CAST(vec_id % 10 AS INTEGER) AS target_label,
       |    embedding AS probe_emb, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM embeddings e, cents$KMeansIters c
       |    WHERE e.vec_id < 10) t
       |  WHERE rn <= $FilteredProbeCells),
       |ranked AS (
       |  SELECT p.probe_id, p.target_label, a.vec_id,
       |    ${cosSql("p.probe_emb", "a.embedding")} AS score,
       |    row_number() OVER (PARTITION BY p.probe_id
       |      ORDER BY ${cosSql("p.probe_emb", "a.embedding")} DESC, a.vec_id) AS rank
       |  FROM assigned a JOIN pcells p USING (cid)
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  WHERE a.vec_id != p.probe_id AND e.label = p.target_label)
       |SELECT probe_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  score, target_label
       |FROM ranked WHERE rank <= $FilteredTopK ORDER BY probe_id, rank""".stripMargin
  }

  /** One oracle Lloyd's step: argmax assignment against `cents`. */
  private def assignCteSql(cents: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM embeddings e, $cents c) t
       |  WHERE rn = 1)""".stripMargin

  /** One oracle Lloyd's step: rounded per-(cid, dim) means. */
  private def meanCteSql(assigned: String, out: String): String =
    s"""$out AS (
       |  SELECT cid, list(m ORDER BY pos) AS cent FROM (
       |    SELECT cid, pos, round(avg(CAST(embedding[pos] AS DOUBLE)), 6) AS m
       |    FROM $assigned, range(1, ${Dim + 1}) t(pos)
       |    GROUP BY cid, pos)
       |  GROUP BY cid)""".stripMargin

  val ivfTopKSql: String = {
    val training = (1 to KMeansIters).map { i =>
      assignCteSql(s"cents${i - 1}", s"a$i") + ",\n" + meanCteSql(s"a$i", s"cents$i")
    }.mkString(",\n")
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM embeddings
       |  WHERE vec_id % $CentStride = 0 AND vec_id < ${CentStride * CentBudget}),
       |$training,
       |${assignCteSql(s"cents$KMeansIters", "assigned")},
       |probes AS (
       |  SELECT vec_id AS probe_id, embedding AS probe_emb, cid
       |  FROM assigned WHERE vec_id < 10),
       |ranked AS (
       |  SELECT p.probe_id, a.vec_id, a.cid,
       |    ${cosSql("p.probe_emb", "a.embedding")} AS score,
       |    row_number() OVER (PARTITION BY p.probe_id
       |      ORDER BY ${cosSql("p.probe_emb", "a.embedding")} DESC, a.vec_id) AS rank
       |  FROM assigned a JOIN probes p USING (cid) WHERE a.vec_id != p.probe_id)
       |SELECT probe_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  score, cid
       |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
  }

  /** D7d: product-quantization ANN (`ann_topk_pq`) — the memory-side
    * scale path: each vector is compressed to [[PqSubspaces]] small
    * codes (one per [[PqSubDim]]-dim subspace, [[PqCodes]]-entry
    * codebook each → 8 nibbles ≈ 4 bytes vs 256 bytes of floats), and
    * probes score the WHOLE corpus from the codes alone via
    * asymmetric-distance lookup (ADC): per probe a tiny
    * (sub, cid) → ⟨probe_sub, codeword⟩ table, candidate score =
    * Σ_sub lut[sub, code]. 16 subspaces × 32 codes = 80 bits per
    * vector vs 2048 bits of floats (~25× compression); at 100 TB this
    * is what makes exhaustive re-ranking feasible — the scoring join
    * touches the codes table and never reads a full vector; production
    * stacks it inside IVF cells (IVF-PQ), both halves of which this
    * module now has. On the synthetic corpus the ADC top-3 lands in
    * the exact dot-product top-10 at 0.77 / top-20 at 0.93
    * (spec-pinned) — unclustered random vectors are the hard case for
    * any quantizer.
    *
    * Codebooks are trained per subspace with [[PqIters]] Lloyd's
    * iterations — subspaces ride an exploded `sub` column, so ALL
    * [[PqSubspaces]] codebooks train in ONE pipeline (one assign +
    * one mean aggregation per iteration, not per subspace). Seeding is
    * the same stride rule as IVF; every step is md5-free determinism
    * (argmin by (d2, cid) total order, means rounded 6 dp in both
    * engines) so the DuckDB oracle replays training, encoding, and
    * ADC scoring bit-for-bit.
    *
    * The ADC sum itself is 8 doubles whose addition order would vary
    * with partitioning — rounded to 9 dp and summed as
    * DECIMAL(28,9) (exact, order-free), then cast back (the
    * [[graft.Tables.dsum]] parity rule applied to scores).
    */
  val PqSubspaces = 16
  val PqSubDim = 4
  val PqCodes = 32
  val PqStride = 8
  val PqIters = 2

  /** (vec_id[, keep...], sub, svec): the exploded subspace view. The
    * slice sits OUTSIDE any lambda → whole-stage codegen. MAP-ONLY:
    * the generator rides the scan row (embedding carried alongside) —
    * the previous explode-then-self-join re-keyed the corpus on
    * vec_id for nothing.
    */
  private[graft] def subvecs(vecs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    import vecs.sparkSession.implicits._
    vecs.select(($"vec_id" +: keep.map(col)) ++ Seq($"embedding",
        explode(expr(s"sequence(0, ${PqSubspaces - 1})")).as("sub")): _*)
      .select(($"vec_id" +: keep.map(col)) ++ Seq($"sub",
        expr(s"slice(embedding, sub * $PqSubDim + 1, $PqSubDim)").as("svec")): _*)
  }

  /** Nearest-codeword assignment per (vec_id, sub): argmin squared L2,
    * ties to the lowest cid (total order). d² = x·x − 2·x·c + c·c from
    * three native index-order folds — the exact arithmetic the oracle
    * writes out with list_reduce, so boundary argmins can't flip.
    * The codebook is ≤ [[PqSubspaces]]×[[PqCodes]] rows → broadcast;
    * the corpus never shuffles for assignment (the groupBy reuses the
    * subvec exchange; `min_by` carries n×M rows, not n×M×K).
    */
  private[graft] def pqAssign(sv: DataFrame, cb: DataFrame): DataFrame = {
    import sv.sparkSession.implicits._
    // map-only argmin, same shape as [[assign]]: one codebook array
    // row per subspace (≤K entries) broadcast-joined on sub, the
    // argmin an array_min over (d², cid) structs — the exploded
    // corpus never shuffles for encoding
    val cbArr = cb.groupBy($"sub")
      .agg(collect_list(struct($"cid", $"cent")).as("cs"))
    sv.join(broadcast(cbArr), "sub")
      .select($"vec_id", $"sub", $"svec",
        graft.functions.PqFuncs.argminL2($"svec", $"cs").as("cid"))
  }

  private[graft] def pqCodebooks(sv: DataFrame, iters: Int,
      codes: Int = PqCodes, stride: Int = PqStride): DataFrame = {
    import sv.sparkSession.implicits._
    var cb = sv
      .where($"vec_id" % stride === 0 && $"vec_id" < stride * codes)
      .select($"sub", expr(s"vec_id div $stride").as("cid"), $"svec".as("cent"))
    for (_ <- 1 to iters) {
      // one ≤M×K-group shuffle per round (see trainedCentroids);
      // staged per round for the same one-corpus-pass-per-round bound
      // (measured: leaving the intermediate round lazy here nests a
      // broadcast-in-broadcast plan whose planning cost eats the
      // saved barrier)
      cb = materialize(pqAssign(sv, cb)
        .groupBy($"sub", $"cid")
        .agg(array((1 to PqSubDim).map(i =>
          round(avg(element_at($"svec", i).cast("double")), 6)): _*)
          .as("cent")))
    }
    cb
  }

  /** Map-side ADC machinery. The scoring path carries ONE row per
    * (candidate, probe): a per-vector code ARRAY meets a broadcast
    * per-probe LUT map, and the score is an ordered fold over
    * subspaces, entirely inside the map stage. The previous shape
    * joined the exploded (vec_id, sub, cid) codes table to the LUT
    * and re-aggregated n×M×|probes| rows per query — at 100 TB that
    * shuffle IS the cost of an ADC scan, and it doesn't need to
    * exist. LUT entries are pre-quantized with [[graft.Tables.qsum]]'s
    * rule (floor(x·1e9 + 0.5) as BIGINT) and the fold sums longs —
    * exact and order-free — so scores match the decimal-sum oracle
    * double-for-double and every oracle holds unchanged.
    */
  /** One-row nested codebook for broadcast: cbs[sub+1] = (cid, cent)
    * list of subspace `sub`.
    */
  private def cbNested(cb: DataFrame): DataFrame =
    cb.groupBy(col("sub")).agg(collect_list(struct(col("cid"), col("cent"))).as("cs"))
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(sub, cs))), s -> s.cs)").as("cbs"))

  /** The whole-vector encode expression: native per-row kernel
    * ([[graft.functions.PqFuncs.pqEncodeCol]]) — d² = x·x − 2·x·c + c·c
    * with ties to the lowest cid, the [[pqAssign]] total order, so
    * codes are bit-identical to the exploded path the oracle replays.
    * (The previous nested-HOF argmin evaluated its lambdas interpreted
    * — 16 subspaces × K candidates per row; measured ~29 s of summed
    * task time on 2 000 rows — the kernel runs the same index-order
    * arithmetic in one primitive loop per row.)
    */
  private def encodeCol(cbs: Column): Column =
    graft.functions.PqFuncs.pqEncodeCol(col("embedding"), cbs, PqSubDim)

  /** Whole-vector PQ encode, map-only: (vec_id[, keep...], cds) — the
    * corpus never shuffles to build the codes table.
    */
  private[graft] def pqEncodeArr(vecs: DataFrame, cb: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    import vecs.sparkSession.implicits._
    vecs.crossJoin(broadcast(cbNested(cb)))
      .select(($"vec_id" +: keep.map(col)) :+ encodeCol($"cbs").as("cds"): _*)
  }

  /** Per-cell variant: the cell-keyed nested codebooks broadcast-join
    * on cell; otherwise identical.
    */
  private[graft] def pcEncodeArr(rvecs: DataFrame, cb: DataFrame): DataFrame = {
    import rvecs.sparkSession.implicits._
    val byCell = cb.groupBy($"cell", $"sub")
      .agg(collect_list(struct($"cid", $"cent")).as("cs"))
      .groupBy($"cell")
      .agg(expr("transform(array_sort(collect_list(struct(sub, cs))), s -> s.cs)").as("cbs"))
    rvecs.join(broadcast(byCell), "cell")
      .select($"vec_id", $"cell", encodeCol($"cbs").as("cds"))
  }

  /** Per-probe flat ADC LUT: a DENSE long array positioned at
    * sub·codes + cid, one broadcast row per probe. A map column here
    * costs O(|LUT|) per lookup — Spark's map `element_at` is a linear
    * key scan over the entries array — which put the whole
    * candidate-scoring stage cost into 16 × 512-entry scans PER
    * CANDIDATE ROW (measured: 36 s of summed task time on a 1.1 MB
    * candidate shuffle, the entire ivfpq_res steady tail). The dense
    * array makes each lookup one O(1) index. Slots for (sub, cid)
    * pairs absent from the trained codebook stay NULL and are
    * unreachable: the encoder argmins over the SAME codebook rows, so
    * a code never references a dropped entry — and if codebook drift
    * ever breaks that, the score comes out null instead of silently
    * wrong. Values are the same quantized longs in the same fold
    * order — scores are bit-identical.
    */
  private[graft] def lutToArr(lut: DataFrame, v: Column, codes: Int): DataFrame = {
    import lut.sparkSession.implicits._
    lut.groupBy($"probe_id")
      .agg(map_from_entries(collect_list(struct(
        ($"sub".cast("long") * codes + $"cid").as("k"),
        floor(v * lit(1.0e9) + lit(0.5)).cast("long").as("v")))).as("m"))
      .select($"probe_id", transform(
        sequence(lit(0L), lit(PqSubspaces.toLong * codes - 1)),
        k => element_at($"m", k)).as("lutm"))
  }

  /** Ordered ADC fold: Σ_sub lutm[sub·codes + cds[sub+1]], long-summed
    * then rescaled — equals [[graft.Tables.qsum]] of the per-sub
    * doubles exactly.
    */
  /** See [[graft.Staging.spreadNarrow]]. */
  private def spread(df: DataFrame): DataFrame = graft.Staging.spreadNarrow(df)

  private[graft] def adcScore(cds: Column, lutm: Column, codes: Int): Column =
    aggregate(sequence(lit(0), lit(PqSubspaces - 1)), lit(0L),
      (acc, sub) => acc + element_at(lutm,
        (sub * codes + element_at(cds, sub + lit(1))).cast("int") + lit(1)))
      .cast("double") / lit(1.0e9)

  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val sv = subvecs(vecs)
    val cb = stagedModel(spark, dir, s"pqcb_$PqIters", Serve.Local)(pqCodebooks(sv, PqIters))
    val codes = pqEncodeArr(spread(vecs), cb)
    val lut = lutToArr(sv.where($"vec_id" < 10)
      .join(broadcast(cb), "sub")
      .select($"vec_id".as("probe_id"), $"sub", $"cid",
        round(vdot($"svec", $"cent"), 9).as("dotp")), $"dotp", PqCodes)
    val scored = codes.crossJoin(broadcast(lut))
      .where($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id", adcScore($"cds", $"lutm", PqCodes).as("score"))
    rankTopK(scored, 3, Seq.empty)
  }

  /** D7e: IVF-PQ — the production ANN index assembled from the two
    * halves this module already has: IVF coarse cells ROUTE (probes
    * search one cell, [[IvfPqCoarseIters]] Lloyd's iteration on the
    * routing centroids) and PQ codes SCORE (candidates ranked from
    * their 80-bit codes via the broadcast ADC LUT — full vectors are
    * never touched after encode time). At 100 TB this is the shape
    * every large vector index ships: the corpus lives as (cell, code)
    * rows ~25× smaller than the embeddings, a probe reads one cell's
    * codes, and both the routing table and the LUT broadcast.
    *
    * This is the NON-RESIDUAL variant (codes quantize raw vectors, not
    * x − centroid). Residual PQ recovers more accuracy per code bit by
    * centering each cell's distribution, at the cost of per-cell
    * codebooks (or a shared one over residuals) — the documented
    * upgrade path; the plumbing (cell join → code join → LUT sum) is
    * identical.
    */
  val IvfPqCoarseIters = 1

  /** Trained-artifact staging — train once per (session, corpus dir),
    * serve every query. In production an ANN index is BUILT once
    * (centroids, codebooks, residual/code tables persisted to the
    * lake) and queried many times; re-running Lloyd's per query was
    * only ever a bench-harness artifact, and at 100 TB it is the
    * difference between an index build and a training pass per
    * lookup. Same lifecycle as the dedup signature index
    * ([[graft.Staging.SessionCache]]): path-keyed, [[invalidate]] on
    * corpus change, evicted at session end. All artifacts are
    * deterministic (derandomized seeding, 6-dp round per training
    * round), so staging changes cost, never results.
    */
  private val sessionStage = new graft.Staging.SessionCache()

  private def stagedModel(spark: SparkSession, dir: String, key: String, serve: Serve)(
      build: => DataFrame): DataFrame =
    sessionStage.getOrBuild(spark, dir, key, serve)(build)

  /** Drop the staged index artifacts for `(spark, dir)`. */
  def invalidate(spark: SparkSession, dir: String): Unit =
    sessionStage.invalidate(spark, dir)

  /** The staged trained IVF centroid table for `dir` — exposed for
    * the streaming ingest router (E23), which assigns arriving
    * vectors against the PUBLISHED index instead of retraining.
    */
  private[graft] def servedCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stagedModel(spark, dir, s"cents_$KMeansIters", Serve.Local)(
      trainedCentroids(
        load(spark, dir, "embeddings").select($"vec_id", $"embedding"),
        KMeansIters))
  }

  /** [[assign]] over any (vec_id, embedding[, ...]) frame against the
    * staged centroids — map-side (broadcast centroid array), so it
    * composes onto a streaming source. Adds `cid` and the 6-dp cosine
    * to the winning centroid.
    */
  private[graft] def routeAgainstIndex(vecs: DataFrame, cents: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    assign(vecs, cents)
      .join(broadcast(cents), Seq("cid"))
      .withColumn("cscore_r", round(vcos($"embedding", $"cent"), 6))
      .drop("cent")
  }

  /** E23 oracle: training replay + argmax assignment + the rounded
    * winning-centroid cosine, per vector.
    */
  val annRouteStreamSql: String = {
    val training = (1 to KMeansIters).map { i =>
      assignCteSql(s"cents${i - 1}", s"a$i") + ",\n" + meanCteSql(s"a$i", s"cents$i")
    }.mkString(",\n")
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM embeddings
       |  WHERE vec_id % $CentStride = 0 AND vec_id < ${CentStride * CentBudget}),
       |$training,
       |${assignCteSql(s"cents$KMeansIters", "assigned")}
       |SELECT a.vec_id, a.cid,
       |  round(${cosSql("a.embedding", "c.cent")}, 6) AS cscore_r
       |FROM assigned a JOIN cents$KMeansIters c ON c.cid = a.cid
       |ORDER BY a.vec_id""".stripMargin
  }

  /** (vec_id, cell) routing assignment — exposed for the cell-locality
    * spec.
    */
  private[graft] def cellsOf(vecs: DataFrame, iters: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    assign(vecs, trainedCentroids(vecs, iters)).select($"vec_id", $"cid".as("cell"))
  }

  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    // coarse routing cells (broadcast-trained, argmax-assigned)
    val cents = stagedModel(spark, dir, s"cents_$IvfPqCoarseIters", Serve.Local)(
      trainedCentroids(vecs, IvfPqCoarseIters))
    val sv = subvecs(vecs)
    val cb = stagedModel(spark, dir, s"pqcb_$PqIters", Serve.Local)(pqCodebooks(sv, PqIters))
    // cell + codes in ONE map-only pass over the scan: assign keeps
    // the embedding and the encoder consumes it — the corpus reaches
    // its (cell, codes) index-row form without a single shuffle
    val coded = pqEncodeArr(
      assign(spread(vecs), cents).withColumnRenamed("cid", "cell"),
      cb, keep = Seq("cell"))
    val probes = coded.where($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"cell")
    val lut = lutToArr(sv.where($"vec_id" < 10)
      .join(broadcast(cb), "sub")
      .select($"vec_id".as("probe_id"), $"sub", $"cid",
        round(vdot($"svec", $"cent"), 9).as("dotp")), $"dotp", PqCodes)
    // candidates: the probe's cell only; scored map-side from the
    // code array against the probe's broadcast LUT
    val scored = coded.join(broadcast(probes.join(lut, "probe_id")), "cell")
      .where($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id", adcScore($"cds", $"lutm", PqCodes).as("score"))
    rankTopK(scored, 3, Seq.empty)
  }

  val ivfPqTopKSql: String = {
    val coarse = (1 to IvfPqCoarseIters).map { i =>
      assignCteSql(s"icents${i - 1}", s"ia$i") + ",\n" + meanCteSql(s"ia$i", s"icents$i")
    }.mkString(",\n")
    val pqTraining = (1 to PqIters).map { i =>
      pqAssignCteSql(s"cb${i - 1}", s"a$i") + ",\n" + pqMeanCteSql(s"a$i", s"cb$i")
    }.mkString(",\n")
    s"""WITH icents0 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM embeddings
       |  WHERE vec_id % $CentStride = 0 AND vec_id < ${CentStride * CentBudget}),
       |$coarse,
       |${assignCteSql(s"icents$IvfPqCoarseIters", "cellassign")},
       |cells AS (SELECT vec_id, cid AS cell FROM cellassign),
       |sv AS (
       |  SELECT vec_id, sub,
       |    list_transform(range(1, ${PqSubDim + 1}), i -> embedding[sub * $PqSubDim + i]) AS svec
       |  FROM embeddings, range(0, $PqSubspaces) t(sub)),
       |cb0 AS (
       |  SELECT sub, vec_id // $PqStride AS cid, svec AS cent FROM sv
       |  WHERE vec_id % $PqStride = 0 AND vec_id < ${PqStride * PqCodes}),
       |$pqTraining,
       |${pqAssignCteSql(s"cb$PqIters", "codes")},
       |probes AS (
       |  SELECT vec_id AS probe_id, cell FROM cells WHERE vec_id < 10),
       |lut AS (
       |  SELECT s.vec_id AS probe_id, c.sub, c.cid,
       |    round(${subDotSql("s.svec", "c.cent")}, 9) AS dotp
       |  FROM sv s JOIN cb$PqIters c ON s.sub = c.sub
       |  WHERE s.vec_id < 10),
       |cands AS (
       |  SELECT p.probe_id, cl.vec_id
       |  FROM cells cl JOIN probes p USING (cell)
       |  WHERE cl.vec_id != p.probe_id),
       |scored AS (
       |  SELECT ca.probe_id, ca.vec_id,
       |    CAST(sum(CAST(l.dotp AS DECIMAL(28, 9))) AS DOUBLE) AS score
       |  FROM cands ca
       |  JOIN codes co ON co.vec_id = ca.vec_id
       |  JOIN lut l ON l.probe_id = ca.probe_id AND l.sub = co.sub AND l.cid = co.cid
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT probe_id, vec_id, score,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank, score
       |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
  }

  /** D7f: residual IVF-PQ — the accuracy upgrade documented on D7e,
    * now implemented: codes quantize each vector's RESIDUAL
    * (x − centroid of its routing cell, via the native
    * [[graft.functions.VecSub]] kernel) instead of the raw vector.
    * Residuals concentrate around the origin — the same code budget
    * spends its resolution on the within-cell offsets that actually
    * distinguish candidates, which is why FAISS-style indexes default
    * to it. Scoring is L2-ADC: the LUT holds per-(sub, code) squared
    * distances from the probe's residual subvectors, candidate
    * distance = Σ_sub lut[code] (decimal-summed for order-free
    * parity), ranked by negated distance through the same bounded
    * heap. One shared codebook over residuals (FAISS default), one
    * training pipeline for all subspaces, everything derandomized —
    * the oracle replays routing, residuals, training, encoding, and
    * scoring bit-for-bit.
    */
  def ivfPqResTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VecFuncs.vsub
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val cents = stagedModel(spark, dir, s"cents_$IvfPqCoarseIters", Serve.Local)(
      trainedCentroids(vecs, IvfPqCoarseIters))
    val assigned = assign(vecs, cents)
    // materialize ONCE: Spark has no cross-branch CSE, and the
    // residual table feeds ~7 consumers (two training iterations,
    // encode, LUT, cells, probes, candidates) — each would re-run the
    // n×C coarse scoring pass. The table is n rows of one double[64]
    // (~2.5 MB at sf0.1; at 100 TB this is the staging table a real
    // pipeline writes between index-build stages).
    val rvecs = stagedModel(spark, dir, s"rvecs_$IvfPqCoarseIters", Serve.Distributed)(
      materialize(assigned.join(broadcast(cents), "cid")
        .select($"vec_id", $"cid".as("cell"),
          vsub($"embedding", $"cent").as("embedding"))))
    val rsv = subvecs(rvecs.select($"vec_id", $"embedding"))
    val cb = stagedModel(spark, dir, s"pqcb_res_$PqIters", Serve.Local)(pqCodebooks(rsv, PqIters))
    // map-only residual encode off the staged table; candidates score
    // map-side via the ordered L2-ADC fold (negated: lower distance =
    // better)
    val coded = pqEncodeArr(spread(rvecs), cb, keep = Seq("cell"))
    val probes = rvecs.where($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"cell")
    val lut = lutToArr(rsv.where($"vec_id" < 10)
      .join(broadcast(cb), "sub")
      .select($"vec_id".as("probe_id"), $"sub", $"cid",
        round(vdot($"svec", $"svec") - lit(2.0) * vdot($"svec", $"cent") +
          vdot($"cent", $"cent"), 9).as("dist2")), $"dist2", PqCodes)
    val scored = coded.join(broadcast(probes.join(lut, "probe_id")), "cell")
      .where($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id", (-adcScore($"cds", $"lutm", PqCodes)).as("score"))
    rankTopK(scored, 3, Seq.empty)
  }

  /** D7h: per-cell residual codebooks (`ann_topk_ivfpq_pc`) — the
    * next accuracy notch over D7f's single shared residual codebook:
    * every routing cell trains its OWN [[PcCodes]]-entry codebook per
    * subspace. Same code width on disk (a [[PcCodes]]-way code per
    * subspace), C× the codebook parameters — the classic IVF-PQ
    * accuracy/metadata trade: cell-local codewords fit each cell's
    * residual distribution instead of a compromise over all cells
    * (KnnSpec pins the quantization-error drop vs a shared codebook
    * of the SAME code count). Codebook storage is C×M×[[PcCodes]]
    * rows — thousands, still broadcast-size; candidates only ever
    * score against their own cell's codebook, and the probe's ADC LUT
    * is built from the probe's cell codebook, so the join plumbing is
    * identical to D7f with `cell` added to the codebook key.
    *
    * Seeding must be cell-local (stride-by-id would land all seeds in
    * a few cells): per cell, the [[PcCodes]] lowest vec_ids via a
    * `topk_by` bounded heap (≤K ids per (partition, cell) cross the
    * shuffle — no per-cell row_number sort), cid = heap position.
    * Training is ONE exploded pipeline over (cell, sub) — all
    * C×M codebooks in one assign + one mean agg per iteration.
    */
  val PcCodes = 8

  /** Per-(cell, sub) nearest-codeword assignment (cb keyed by
    * (cell, sub, cid)).
    */
  private[graft] def pcAssign(svc: DataFrame, cb: DataFrame): DataFrame = {
    import svc.sparkSession.implicits._
    // map-only argmin (the [[pqAssign]] shape with cell added to the
    // codebook key): one codebook array row per (cell, sub) broadcast
    // in, argmin as an array_min expression per row
    val cbArr = cb.groupBy($"cell", $"sub")
      .agg(collect_list(struct($"cid", $"cent")).as("cs"))
    svc.join(broadcast(cbArr), Seq("cell", "sub"))
      .select($"vec_id", $"cell", $"sub", $"svec",
        graft.functions.PqFuncs.argminL2($"svec", $"cs").as("cid"))
  }

  /** All per-cell codebooks trained in one pipeline; `svc` =
    * (vec_id, cell, sub, svec).
    */
  private[graft] def pcCodebooks(svc: DataFrame, iters: Int): DataFrame = {
    import svc.sparkSession.implicits._
    val seedIds = svc.select($"vec_id", $"cell").distinct()
      .groupBy($"cell")
      .agg(graft.functions.TopKByAgg.topk_by(
        (-$"vec_id").cast("double"), $"vec_id", PcCodes).as("s"))
      .select($"cell", posexplode($"s"))
      .select($"cell", $"pos".cast("long").as("cid"), $"col.id".as("vec_id"))
    var cb = seedIds.join(svc, Seq("cell", "vec_id"))
      .select($"cell", $"sub", $"cid", $"svec".as("cent"))
    for (_ <- 1 to iters) {
      // one ≤C×M×K-group shuffle per round (see trainedCentroids);
      // staged per round for the same one-corpus-pass-per-round bound
      // (same measured nested-broadcast planning cost as pqCodebooks)
      cb = materialize(pcAssign(svc, cb)
        .groupBy($"cell", $"sub", $"cid")
        .agg(array((1 to PqSubDim).map(i =>
          round(avg(element_at($"svec", i).cast("double")), 6)): _*)
          .as("cent")))
    }
    cb
  }

  def ivfPqPcTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VecFuncs.vsub
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val cents = stagedModel(spark, dir, s"cents_$IvfPqCoarseIters", Serve.Local)(
      trainedCentroids(vecs, IvfPqCoarseIters))
    val assigned = assign(vecs, cents)
    // the SAME residual table D7f stages (identical derivation) —
    // shared key, built by whichever runs first
    val rvecs = stagedModel(spark, dir, s"rvecs_$IvfPqCoarseIters", Serve.Distributed)(
      materialize(assigned.join(broadcast(cents), "cid")
        .select($"vec_id", $"cid".as("cell"),
          vsub($"embedding", $"cent").as("embedding"))))
    val svc = subvecs(rvecs, keep = Seq("cell"))
    val cb = stagedModel(spark, dir, s"pqcb_pc_$PqIters", Serve.Local)(pcCodebooks(svc, PqIters))
    // map-only per-cell encode (cell-keyed nested codebooks broadcast
    // in); candidates score map-side via the ordered L2-ADC fold
    val coded = pcEncodeArr(spread(rvecs), cb)
    val probes = rvecs.where($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"cell")
    val lut = lutToArr(svc.where($"vec_id" < 10)
      .join(broadcast(cb), Seq("cell", "sub"))
      .select($"vec_id".as("probe_id"), $"sub", $"cid",
        round(vdot($"svec", $"svec") - lit(2.0) * vdot($"svec", $"cent") +
          vdot($"cent", $"cent"), 9).as("dist2")), $"dist2", PcCodes)
    val scored = coded.join(broadcast(probes.join(lut, "probe_id")), "cell")
      .where($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id", (-adcScore($"cds", $"lutm", PcCodes)).as("score"))
    rankTopK(scored, 3, Seq.empty)
  }

  val ivfPqPcTopKSql: String = {
    val coarse = (1 to IvfPqCoarseIters).map { i =>
      assignCteSql(s"icents${i - 1}", s"ia$i") + ",\n" + meanCteSql(s"ia$i", s"icents$i")
    }.mkString(",\n")
    def pcAssignCte(cb: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, cell, sub, svec, cid FROM (
         |    SELECT s.vec_id, s.cell, s.sub, s.svec, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub
         |        ORDER BY ${subD2Sql("s.svec", "c.cent")}, c.cid) AS rn
         |    FROM sv s JOIN $cb c ON s.cell = c.cell AND s.sub = c.sub) t
         |  WHERE rn = 1)""".stripMargin
    def pcMeanCte(assigned: String, out: String): String =
      s"""$out AS (
         |  SELECT cell, sub, cid, list(m ORDER BY pos) AS cent FROM (
         |    SELECT cell, sub, cid, pos, round(avg(CAST(svec[pos] AS DOUBLE)), 6) AS m
         |    FROM $assigned, range(1, ${PqSubDim + 1}) t(pos)
         |    GROUP BY cell, sub, cid, pos)
         |  GROUP BY cell, sub, cid)""".stripMargin
    val training = (1 to PqIters).map { i =>
      pcAssignCte(s"cb${i - 1}", s"a$i") + ",\n" + pcMeanCte(s"a$i", s"cb$i")
    }.mkString(",\n")
    s"""WITH icents0 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM embeddings
       |  WHERE vec_id % $CentStride = 0 AND vec_id < ${CentStride * CentBudget}),
       |$coarse,
       |${assignCteSql(s"icents$IvfPqCoarseIters", "cellassign")},
       |rv AS (
       |  SELECT a.vec_id, a.cid AS cell,
       |    list_transform(range(1, ${Dim + 1}),
       |      i -> CAST(a.embedding[i] AS DOUBLE) - c.cent[i]) AS emb
       |  FROM cellassign a JOIN icents$IvfPqCoarseIters c ON c.cid = a.cid),
       |sv AS (
       |  SELECT vec_id, cell, sub,
       |    list_transform(range(1, ${PqSubDim + 1}), i -> emb[sub * $PqSubDim + i]) AS svec
       |  FROM rv, range(0, $PqSubspaces) t(sub)),
       |seeds AS (
       |  SELECT cell, vec_id, CAST(rn - 1 AS BIGINT) AS cid FROM (
       |    SELECT cell, vec_id,
       |      row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
       |    FROM rv) t
       |  WHERE rn <= $PcCodes),
       |cb0 AS (
       |  SELECT s.cell, v.sub, s.cid, v.svec AS cent
       |  FROM seeds s JOIN sv v ON v.vec_id = s.vec_id),
       |$training,
       |${pcAssignCte(s"cb$PqIters", "codes")},
       |probes AS (
       |  SELECT vec_id AS probe_id, cell FROM rv WHERE vec_id < 10),
       |lut AS (
       |  SELECT s.vec_id AS probe_id, c.sub, c.cid,
       |    round(${subD2Sql("s.svec", "c.cent")}, 9) AS dist2
       |  FROM sv s JOIN cb$PqIters c ON s.cell = c.cell AND s.sub = c.sub
       |  WHERE s.vec_id < 10),
       |cands AS (
       |  SELECT p.probe_id, r.vec_id
       |  FROM rv r JOIN probes p USING (cell)
       |  WHERE r.vec_id != p.probe_id),
       |scored AS (
       |  SELECT ca.probe_id, ca.vec_id,
       |    -(CAST(sum(CAST(l.dist2 AS DECIMAL(28, 9))) AS DOUBLE)) AS score
       |  FROM cands ca
       |  JOIN codes co ON co.vec_id = ca.vec_id
       |  JOIN lut l ON l.probe_id = ca.probe_id AND l.sub = co.sub AND l.cid = co.cid
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT probe_id, vec_id, score,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank, score
       |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
  }

  val ivfPqResTopKSql: String = {
    val coarse = (1 to IvfPqCoarseIters).map { i =>
      assignCteSql(s"icents${i - 1}", s"ia$i") + ",\n" + meanCteSql(s"ia$i", s"icents$i")
    }.mkString(",\n")
    val pqTraining = (1 to PqIters).map { i =>
      pqAssignCteSql(s"cb${i - 1}", s"a$i") + ",\n" + pqMeanCteSql(s"a$i", s"cb$i")
    }.mkString(",\n")
    s"""WITH icents0 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM embeddings
       |  WHERE vec_id % $CentStride = 0 AND vec_id < ${CentStride * CentBudget}),
       |$coarse,
       |${assignCteSql(s"icents$IvfPqCoarseIters", "cellassign")},
       |rv AS (
       |  SELECT a.vec_id, a.cid AS cell,
       |    list_transform(range(1, ${Dim + 1}),
       |      i -> CAST(a.embedding[i] AS DOUBLE) - c.cent[i]) AS emb
       |  FROM cellassign a JOIN icents$IvfPqCoarseIters c ON c.cid = a.cid),
       |sv AS (
       |  SELECT vec_id, sub,
       |    list_transform(range(1, ${PqSubDim + 1}), i -> emb[sub * $PqSubDim + i]) AS svec
       |  FROM rv, range(0, $PqSubspaces) t(sub)),
       |cb0 AS (
       |  SELECT sub, vec_id // $PqStride AS cid, svec AS cent FROM sv
       |  WHERE vec_id % $PqStride = 0 AND vec_id < ${PqStride * PqCodes}),
       |$pqTraining,
       |${pqAssignCteSql(s"cb$PqIters", "codes")},
       |probes AS (
       |  SELECT vec_id AS probe_id, cell FROM rv WHERE vec_id < 10),
       |lut AS (
       |  SELECT s.vec_id AS probe_id, c.sub, c.cid,
       |    round(${subD2Sql("s.svec", "c.cent")}, 9) AS dist2
       |  FROM sv s JOIN cb$PqIters c ON s.sub = c.sub
       |  WHERE s.vec_id < 10),
       |cands AS (
       |  SELECT p.probe_id, r.vec_id
       |  FROM rv r JOIN probes p USING (cell)
       |  WHERE r.vec_id != p.probe_id),
       |scored AS (
       |  SELECT ca.probe_id, ca.vec_id,
       |    -(CAST(sum(CAST(l.dist2 AS DECIMAL(28, 9))) AS DOUBLE)) AS score
       |  FROM cands ca
       |  JOIN codes co ON co.vec_id = ca.vec_id
       |  JOIN lut l ON l.probe_id = ca.probe_id AND l.sub = co.sub AND l.cid = co.cid
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT probe_id, vec_id, score,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank, score
       |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
  }

  /** Index-order dot fold over [[PqSubDim]]-element slices. */
  private def subDotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, ${PqSubDim + 1}),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |  (acc, v) -> acc + v)""".stripMargin

  private def subD2Sql(x: String, c: String): String =
    s"${subDotSql(x, x)} - 2 * ${subDotSql(x, c)} + ${subDotSql(c, c)}"

  private def pqAssignCteSql(cb: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, sub, svec, cid FROM (
       |    SELECT s.vec_id, s.sub, s.svec, c.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub
       |        ORDER BY ${subD2Sql("s.svec", "c.cent")}, c.cid) AS rn
       |    FROM sv s JOIN $cb c ON s.sub = c.sub) t
       |  WHERE rn = 1)""".stripMargin

  private def pqMeanCteSql(assigned: String, out: String): String =
    s"""$out AS (
       |  SELECT sub, cid, list(m ORDER BY pos) AS cent FROM (
       |    SELECT sub, cid, pos, round(avg(CAST(svec[pos] AS DOUBLE)), 6) AS m
       |    FROM $assigned, range(1, ${PqSubDim + 1}) t(pos)
       |    GROUP BY sub, cid, pos)
       |  GROUP BY sub, cid)""".stripMargin

  val pqTopKSql: String = {
    val training = (1 to PqIters).map { i =>
      pqAssignCteSql(s"cb${i - 1}", s"a$i") + ",\n" + pqMeanCteSql(s"a$i", s"cb$i")
    }.mkString(",\n")
    s"""WITH sv AS (
       |  SELECT vec_id, sub,
       |    list_transform(range(1, ${PqSubDim + 1}), i -> embedding[sub * $PqSubDim + i]) AS svec
       |  FROM embeddings, range(0, $PqSubspaces) t(sub)),
       |cb0 AS (
       |  SELECT sub, vec_id // $PqStride AS cid, svec AS cent FROM sv
       |  WHERE vec_id % $PqStride = 0 AND vec_id < ${PqStride * PqCodes}),
       |$training,
       |${pqAssignCteSql(s"cb$PqIters", "codes")},
       |lut AS (
       |  SELECT s.vec_id AS probe_id, c.sub, c.cid,
       |    round(${subDotSql("s.svec", "c.cent")}, 9) AS dotp
       |  FROM sv s JOIN cb$PqIters c ON s.sub = c.sub
       |  WHERE s.vec_id < 10),
       |scored AS (
       |  SELECT l.probe_id, co.vec_id,
       |    CAST(sum(CAST(l.dotp AS DECIMAL(28, 9))) AS DOUBLE) AS score
       |  FROM codes co JOIN lut l ON l.sub = co.sub AND l.cid = co.cid
       |  WHERE co.vec_id != l.probe_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT probe_id, vec_id, score,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank, score
       |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
  }

  /** D7g: farthest-point-seeded IVF (`ann_topk_ivf_fps`) — the
    * derandomized k-means++ analog. Stride seeding picks centroids by
    * id arithmetic, which on clustered data can land several seeds in
    * one dense region and leave others uncovered; k-means++ fixes that
    * with D²-weighted RANDOM sampling, whose deterministic limit is
    * greedy farthest-point traversal: each next seed is the vector
    * with MAXIMUM min-distance (1 − cos) to the seeds chosen so far
    * (ties → lowest id). Same idea, zero randomness → the DuckDB
    * oracle replays seed selection, refinement, and search exactly.
    *
    * Scale shape: seed selection is [[FpsBudget]] sequential rounds
    * (k is a small constant, independent of n) — each round one
    * map-side scoring pass against the ≤k-row broadcast seed set, one
    * combine-heavy min-aggregation, and a 1-row TakeOrdered argmax;
    * the corpus never shuffles. Lloyd's refinement and cell search
    * reuse the IVF machinery. Seeding quality is pinned in KnnSpec:
    * at equal budget and iterations, farthest-point seeds cover the
    * space better than stride seeds (lower k-means inertia).
    */
  val FpsBudget = 8
  val FpsIters = 1

  /** Greedy farthest-point seed set: (cid, cent), cid = seed vec_id.
    *
    * Carries a materialized running min-distance column instead of
    * re-scoring the corpus against the whole seed set each round:
    * min-dist to seeds 1..i = min(min-dist to 1..i-1, dist to seed i),
    * so round i costs ONE cosine per vector (k·n total) where the
    * re-scoring form costs i (k²n/2 total) — and the argmax needs no
    * aggregation at all, just a 1-row TakeOrdered over the state.
    * Identical math, identical ties → the oracle replay is unchanged.
    */
  private[graft] def fpsSeeds(vecs: DataFrame, k: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    var seeds = vecs.orderBy($"vec_id").limit(1)
      .select($"vec_id".as("cid"), $"embedding".as("cent"))
    // (vec_id, embedding, mind): min-distance to the seed set so far
    var state = materialize(vecs.crossJoin(broadcast(seeds))
      .select($"vec_id", $"embedding",
        (lit(1.0) - vcos($"embedding", $"cent")).as("mind")))
    for (i <- 2 to k) {
      val next = state.orderBy($"mind".desc, $"vec_id").limit(1)
        .select($"vec_id".as("cid"), $"embedding".as("cent"))
      seeds = materialize(seeds.union(next))
      if (i < k) {
        // fold the new seed into the running min (materialized: the
        // next round's argmax and update both read it — left lazy,
        // round t replays every prior round's corpus pass, the same
        // lineage-doubling the PCA iterate checkpoints away)
        state = materialize(state.crossJoin(broadcast(next))
          .select($"vec_id", $"embedding",
            least($"mind", lit(1.0) - vcos($"embedding", $"cent")).as("mind")))
      }
    }
    seeds
  }

  /** Lloyd's rounds from an arbitrary seed frame (the stride-seeded
    * twin is [[trainedCentroids]] — same one-tiny-shuffle round shape
    * and the same per-round staging; this one previously kept the
    * pre-R5 posexplode → (cid,pos) agg → collect_list re-assembly,
    * two extra shuffle waves per round, and left rounds lazy).
    */
  private[graft] def refine(vecs: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    var cents = seeds
    for (_ <- 1 to iters) {
      cents = materialize(assign(vecs, cents)
        .groupBy($"cid")
        .agg(array((1 to Dim).map(i =>
          round(avg(element_at($"embedding", i).cast("double")), 6)): _*)
          .as("cent")))
    }
    cents
  }

  def ivfFpsTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val cents = stagedModel(spark, dir, s"cents_fps_${FpsBudget}_$FpsIters", Serve.Local)(
      refine(vecs, fpsSeeds(vecs, FpsBudget), FpsIters))
    val assigned = assign(vecs, cents)
    val probes = assigned.where($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_emb"), $"cid")
    val cands = assigned.join(probes, Seq("cid"))
      .where($"vec_id" =!= $"probe_id")
      .withColumn("score", vcos($"probe_emb", $"embedding"))
    rankTopK(cands, 3, Seq("cid"))
  }

  val ivfFpsTopKSql: String = {
    // seed rounds: s1 = {vec 0}; s_i = s_{i-1} ∪ argmax min-dist
    val seedCtes = (2 to FpsBudget).map { i =>
      s"""n$i AS (
         |  SELECT vec_id AS cid, embedding AS cent FROM (
         |    SELECT e.vec_id, e.embedding,
         |      min(1 - ${cosSql("e.embedding", "s.cent")}) AS mind
         |    FROM embeddings e, s${i - 1} s
         |    GROUP BY e.vec_id, e.embedding
         |    ORDER BY mind DESC, e.vec_id LIMIT 1)),
         |s$i AS (SELECT * FROM s${i - 1} UNION ALL SELECT * FROM n$i)""".stripMargin
    }.mkString(",\n")
    val refineCtes = (1 to FpsIters).map { i =>
      val src = if (i == 1) s"s$FpsBudget" else s"fcents${i - 1}"
      s"""fa$i AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
         |    FROM embeddings e, $src c) t
         |  WHERE rn = 1),
         |fcents$i AS (
         |  SELECT cid, list(m ORDER BY pos) AS cent FROM (
         |    SELECT cid, pos, round(avg(CAST(embedding[pos] AS DOUBLE)), 6) AS m
         |    FROM fa$i, range(1, ${Dim + 1}) t(pos)
         |    GROUP BY cid, pos)
         |  GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH s1 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM embeddings
       |  ORDER BY vec_id LIMIT 1),
       |$seedCtes,
       |$refineCtes,
       |assigned AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM embeddings e, fcents$FpsIters c) t
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS probe_id, embedding AS probe_emb, cid
       |  FROM assigned WHERE vec_id < 10),
       |ranked AS (
       |  SELECT p.probe_id, a.vec_id, a.cid,
       |    ${cosSql("p.probe_emb", "a.embedding")} AS score,
       |    row_number() OVER (PARTITION BY p.probe_id
       |      ORDER BY ${cosSql("p.probe_emb", "a.embedding")} DESC, a.vec_id) AS rank
       |  FROM assigned a JOIN probes p USING (cid) WHERE a.vec_id != p.probe_id)
       |SELECT probe_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  score, cid
       |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
  }

  /** D25: SemDeDup-style semantic dedup (`dedup_semantic`) — the
    * embedding-space complement to MinHash/SimHash: near-duplicate
    * MEANING collapses even when the surface text differs. The
    * published recipe (Abbas et al. 2023, "SemDeDup"): k-means-cluster
    * the corpus embeddings, compare pairs ONLY within a cluster
    * (pairwise work drops from O(n²) to Σ|cell|² — with the centroid
    * budget grown ∝ n, per-cell cost stays flat), and within each
    * duplicate neighborhood keep the example with the LOWEST cosine to
    * its centroid (the paper's best-performing keep rule: prefer the
    * atypical example, prune the redundant core).
    *
    * Semantics here are the deterministic greedy form: vector v is
    * dropped iff some same-cell neighbor u with cos(u,v) ≥ τ ranks
    * better, i.e. (csim_u, id_u) < (csim_v, id_v) lexicographically —
    * every duplicate neighborhood keeps exactly its local minima
    * (exact connected-component closure is D15's job and composes on
    * top of the pair set). Corpus = embeddings ∪ exact copies of every
    * 10th vector (ids +10000) so real semantic dups exist; the planted
    * copy always loses the tie-break (equal csim, higher id) — pinned
    * in KnnSpec.
    *
    * Scale shape: training/assignment reuse the IVF machinery (the
    * centroid table broadcasts at every step, the corpus never
    * shuffles for training); the within-cell self-join is an equi-join
    * on cid; the scored table feeds three consumers → materialized
    * once (same staging-table policy as [[ivfPqResTopK]]). Cosines
    * compare raw (vcos and the oracle's fold are bit-identical — the
    * brute-force query hash-matches unrounded), csim is rounded only
    * for display.
    */
  val SemDedupTau = 0.95

  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val corpus = base.union(
      base.where($"vec_id" % 10 === 0)
        .select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
    val cents = trainedCentroids(corpus, 1)
    // the clustered/scored table is SemDeDup's persisted artifact
    val scored = stagedModel(spark, dir, "sem_scored", Serve.Distributed)(materialize(
      assign(corpus, cents)
        .join(broadcast(cents), "cid")
        .select($"vec_id", $"embedding", $"cid",
          vcos($"embedding", $"cent").as("csim"))))
    val l = scored.as("l"); val r = scored.as("r")
    val dropped = l.join(r,
        $"l.cid" === $"r.cid" && $"l.vec_id" =!= $"r.vec_id" &&
          vcos($"l.embedding", $"r.embedding") >= SemDedupTau &&
          ($"r.csim" < $"l.csim" ||
            ($"r.csim" === $"l.csim" && $"r.vec_id" < $"l.vec_id")),
        "left_semi")
      .select($"vec_id")
    scored.join(dropped.withColumn("is_dropped", lit(true)), Seq("vec_id"), "left")
      .select($"vec_id", $"cid".as("cell"),
        round($"csim", 6).as("csim_r"),
        coalesce(!$"is_dropped", lit(true)).as("kept"))
      .orderBy($"vec_id")
  }

  val semanticDedupSql: String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
       |cents0 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM corpus
       |  WHERE vec_id % $CentStride = 0 AND vec_id < ${CentStride * CentBudget}),
       |a1 AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM corpus e, cents0 c) t
       |  WHERE rn = 1),
       |cents1 AS (
       |  SELECT cid, list(m ORDER BY pos) AS cent FROM (
       |    SELECT cid, pos, round(avg(CAST(embedding[pos] AS DOUBLE)), 6) AS m
       |    FROM a1, range(1, ${Dim + 1}) t(pos)
       |    GROUP BY cid, pos)
       |  GROUP BY cid),
       |assigned AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM corpus e, cents1 c) t
       |  WHERE rn = 1),
       |scored AS (
       |  SELECT a.vec_id, a.embedding, a.cid,
       |    ${cosSql("a.embedding", "c.cent")} AS csim
       |  FROM assigned a JOIN cents1 c USING (cid)),
       |dropped AS (
       |  SELECT DISTINCT l.vec_id
       |  FROM scored l JOIN scored r
       |    ON l.cid = r.cid AND l.vec_id != r.vec_id
       |    AND ${cosSql("l.embedding", "r.embedding")} >= $SemDedupTau
       |    AND (r.csim < l.csim OR (r.csim = l.csim AND r.vec_id < l.vec_id)))
       |SELECT s.vec_id, s.cid AS cell, round(s.csim, 6) AS csim_r,
       |  (d.vec_id IS NULL) AS kept
       |FROM scored s LEFT JOIN dropped d ON d.vec_id = s.vec_id
       |ORDER BY s.vec_id""".stripMargin

  /** D20: int8 embedding quantization — max-abs scale per vector,
    * round to [-127,127], report the quantized payload (md5-pinned)
    * and reconstruction RMSE. The compression step before shipping an
    * ANN index; map-only apart from the per-vector scale agg.
    */
  def embQuantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = load(spark, dir, "embeddings")
    // scale via explode → codegen'd max agg → join back: a HOF-fold
    // scale column referenced inside the quantize lambda would be
    // re-inlined PER ELEMENT (no CSE in interpreted HOF eval) — as a
    // joined attribute the reference is free
    val scales = e.select($"vec_id", explode($"embedding").as("x"))
      .groupBy($"vec_id").agg(max(abs($"x".cast("double"))).as("scale"))
    e.join(scales, "vec_id")
      .withColumn("q", expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale * 127) AS BIGINT))"))
      .withColumn("sq_err", expr(
        """aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) ->
          |  a + pow(CAST(x AS DOUBLE) -
          |    round(CAST(x AS DOUBLE) / scale * 127) * scale / 127, 2))""".stripMargin))
      .select($"vec_id", $"label",
        round($"scale", 6).as("scale_r"),
        md5(concat_ws(",", $"q").cast("binary")).as("q_md5"),
        round(sqrt($"sq_err" / lit(Dim)), 6).as("rmse_r"))
      .orderBy($"vec_id")
  }

  val embQuantizeSql: String =
    s"""WITH s AS (
       |  SELECT vec_id, label, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
       |  FROM embeddings)
       |SELECT vec_id, label,
       |  round(scale, 6) AS scale_r,
       |  md5(array_to_string(list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) / scale * 127) AS BIGINT)), ',')) AS q_md5,
       |  round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(embedding, x ->
       |      pow(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / scale * 127) * scale / 127, 2))),
       |    (a, v) -> a + v) / $Dim), 6) AS rmse_r
       |FROM s ORDER BY vec_id""".stripMargin

  /** D20b: brute-force ANN over the SQ8-quantized corpus
    * (`ann_topk_sq8`) — D20's int8 vectors actually SERVING search,
    * the memory-bandwidth half of the compression story (PQ is the
    * other): score = cos(q, probe), exact because cosine is
    * scale-invariant (the reconstruction q·scale/127 differs from q
    * by a positive per-vector scalar, which cancels in the cosine),
    * so the max-abs scale never even ships to the scorer. At 100 TB
    * the quantized corpus is what stays resident — 4× less memory
    * traffic per scan than float32 — while scoring runs through the
    * same codegen'd single-pass [[graft.functions.VecFuncs]] kernel
    * and the bounded-heap ranking as D6. Deterministic quantization →
    * the oracle replays the whole pipeline hash-exact (no recall
    * bound needed, unlike the trained-index family).
    */
  def sq8TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    // same scale derivation as D20 (explode → codegen'd max agg)
    val scales = e.select($"vec_id", explode($"embedding").as("x"))
      .groupBy($"vec_id").agg(max(abs($"x".cast("double"))).as("scale"))
    val qcorpus = e.join(scales, "vec_id")
      .select($"vec_id", expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale * 127) AS DOUBLE))"
      ).as("qvec"))
    val probes = e.where($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_emb"))
    val scored = qcorpus.crossJoin(broadcast(probes))
      .where($"vec_id" =!= $"probe_id")
      .withColumn("score", vcos($"probe_emb", $"qvec"))
    rankTopK(scored, 5, Seq.empty)
  }

  val sq8TopKSql: String =
    s"""WITH s AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
       |  FROM embeddings),
       |qc AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) / scale * 127) AS DOUBLE)) AS qvec
       |  FROM s),
       |probes AS (
       |  SELECT vec_id AS probe_id, embedding AS probe_emb FROM embeddings WHERE vec_id < 10),
       |scored AS (
       |  SELECT p.probe_id, c.vec_id,
       |    ${cosSql("p.probe_emb", "c.qvec")} AS score
       |  FROM qc c, probes p WHERE c.vec_id != p.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, score,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT probe_id, vec_id AS neighbor_id, rank, score
       |FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin

  /** D13: per-label embedding norm statistics (list-column math). */
  def embNorms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "embeddings")
      .withColumn("norm", vnorm($"embedding"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n"),
        min($"norm").as("min_norm"),
        max($"norm").as("max_norm"),
        round(sum($"norm"), 6).as("sum_norm_r"))
      .orderBy($"label")
  }

  val embNormsSql: String =
    s"""WITH n AS (
       |  SELECT label,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, $Dim + 1),
       |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
       |      (acc, v) -> acc + v)) AS norm
       |  FROM embeddings)
       |SELECT label, count(*) AS n, min(norm) AS min_norm, max(norm) AS max_norm,
       |  round(sum(norm), 6) AS sum_norm_r
       |FROM n GROUP BY label ORDER BY label""".stripMargin

  /** D36 outlier flag threshold (σ units on distance-to-centroid). */
  val OutlierZ = 2.5

  /** D36: embedding-space outlier detection (`emb_outliers`) — the
    * data-cleaning pass that catches mislabeled / corrupted vectors
    * before they poison a training mix: distance of each vector to
    * its LABEL's centroid, z-scored within the label, |z| > 2.5
    * flagged. The SemDeDup complement — D25 removes near-duplicate
    * points, this removes points far from everything in their class.
    *
    * Execution at 100 TB: centroids come from one posexplode →
    * (label, dim) combine-heavy aggregation (the shuffle carries
    * labels × dims partial sums, never vectors), assembled into
    * per-label arrays and BROADCAST; the distance pass is then
    * map-only through the codegen'd [[graft.functions.VecFuncs]]
    * kernel, and the z-stats are a labels-sized second aggregate of
    * quantized moments. The corpus is never shuffled.
    *
    * Determinism: per-dim means are nano-quantized sums / counts;
    * the distance fold is the fixed left-to-right vnorm∘vsub order
    * the oracle replays with list_reduce; z assembles from quantized
    * moment sums — every float op deterministic IEEE in both engines.
    */
  def embOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = load(spark, dir, "embeddings")
    val cent = emb
      .select($"label", posexplode($"embedding").as(Seq("p", "v")))
      .groupBy($"label", $"p")
      .agg((graft.Tables.qsum($"v".cast("double")) / count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"p", $"c"))),
        s => s("c")).as("centroid"))
    val dists = emb.join(broadcast(cent), "label")
      .withColumn("dist", vnorm(vsub($"embedding", $"centroid")))
    val stats = dists.groupBy($"label").agg(
        count(lit(1)).as("n"),
        graft.Tables.qsum($"dist").as("s1"),
        graft.Tables.qsum($"dist" * $"dist").as("s2"))
      // singleton guard: n=1 makes the (n-1)-denominator sd 0/0, and
      // NULL-vs-NaN division semantics differ across engines — drop
      // one-row labels identically here and in the oracle's HAVING
      .where($"n" > 1)
      .select($"label", ($"s1" / $"n").as("mean"),
        sqrt(($"s2" - ($"s1" * $"s1") / $"n") / ($"n" - 1)).as("sd"))
    dists.join(broadcast(stats), "label")
      .select($"vec_id", $"label",
        round($"dist", 6).as("dist_r"),
        round(($"dist" - $"mean") / $"sd", 6).as("z_r"),
        (abs(($"dist" - $"mean") / $"sd") > OutlierZ).as("outlier"))
      .orderBy($"vec_id")
  }

  val embOutliersSql: String =
    s"""WITH ex AS (
       |  SELECT label, i - 1 AS p, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
       |  FROM embeddings, range(1, ${Dim + 1}) t(i)),
       |cd AS (
       |  SELECT label, p, ${graft.Tables.qsumSql("v")} / count(*) AS c
       |  FROM ex GROUP BY 1, 2),
       |cent AS (
       |  SELECT label, list(c ORDER BY p) AS centroid FROM cd GROUP BY label),
       |d AS (
       |  SELECT vec_id, e.label,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, ${Dim + 1}),
       |        i -> (CAST(embedding[i] AS DOUBLE) - centroid[i])
       |           * (CAST(embedding[i] AS DOUBLE) - centroid[i]))),
       |      (acc, v) -> acc + v)) AS dist
       |  FROM embeddings e JOIN cent ON cent.label = e.label),
       |st AS (
       |  SELECT label, count(*) AS n,
       |    ${graft.Tables.qsumSql("dist")} AS s1,
       |    ${graft.Tables.qsumSql("dist * dist")} AS s2
       |  FROM d GROUP BY label HAVING count(*) > 1),
       |z AS (
       |  SELECT vec_id, d.label, dist,
       |    (dist - s1 / n) / sqrt((s2 - (s1 * s1) / n) / (n - 1)) AS zz
       |  FROM d JOIN st ON st.label = d.label)
       |SELECT vec_id, label, round(dist, 6) AS dist_r, round(zz, 6) AS z_r,
       |  abs(zz) > $OutlierZ AS outlier
       |FROM z ORDER BY vec_id""".stripMargin

  /** D37: k-NN graph construction (`knn_join`) — the all-pairs form
    * of the ANN family: EVERY vector finds its top-3 cosine
    * neighbors, the precursor artifact for graph clustering,
    * SemDeDup-style pruning, and label propagation over embeddings.
    * A brute-force k-NN self-join is O(n²) and dead at corpus scale;
    * this is the IVF-bucketed form: vectors route to their trained
    * cell (map-only argmax against broadcast centroids, the staged
    * D7b index), candidates are same-cell pairs only (Σ|cell|², the
    * SemDeDup bound), and the per-vector top-3 rides the
    * [[graft.functions.TopKByAgg]] bounded heap — k rows per vector
    * per map partition cross the one shuffle. Same recall story as
    * D7: boundary neighbors one cell over are the price, multi-probe
    * the lever. Oracle replays training, routing, and ranking.
    */
  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val cents = stagedModel(spark, dir, s"cents_$KMeansIters", Serve.Local)(
      trainedCentroids(vecs, KMeansIters))
    val assigned = assign(vecs, cents)
    val nbrs = assigned.select($"cid",
      $"vec_id".as("nbr_id"), $"embedding".as("nbr_emb"))
    val scored = assigned.join(nbrs, Seq("cid"))
      .where($"vec_id" =!= $"nbr_id")
      .select($"vec_id".as("probe_id"), $"nbr_id".as("vec_id"),
        vcos($"embedding", $"nbr_emb").as("score"))
    rankTopK(scored, 3, Seq.empty)
      .select($"probe_id".as("src_id"), $"neighbor_id", $"rank", $"score")
  }

  /** Shared CTE chain up to the within-cell 3-NN ranking — split out
    * so D45's accuracy oracle replays the same kNN graph.
    */
  private val knnCtesSql: String = {
    val training = (1 to KMeansIters).map { i =>
      assignCteSql(s"cents${i - 1}", s"a$i") + ",\n" + meanCteSql(s"a$i", s"cents$i")
    }.mkString(",\n")
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM embeddings
       |  WHERE vec_id % $CentStride = 0 AND vec_id < ${CentStride * CentBudget}),
       |$training,
       |${assignCteSql(s"cents$KMeansIters", "assigned")},
       |ranked AS (
       |  SELECT a.vec_id AS src_id, b.vec_id AS neighbor_id,
       |    ${cosSql("a.embedding", "b.embedding")} AS score,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${cosSql("a.embedding", "b.embedding")} DESC, b.vec_id) AS rank
       |  FROM assigned a JOIN assigned b USING (cid)
       |  WHERE a.vec_id != b.vec_id)""".stripMargin
  }

  val knnJoinSql: String =
    s"""$knnCtesSql
       |SELECT src_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
       |FROM ranked WHERE rank <= 3 ORDER BY src_id, rank""".stripMargin

  /** D37b: semantic cluster map (`knn_components`) — connected
    * components over the MUTUAL-kNN graph (an edge only where each
    * vector ranks the other in its top-3): the standard robust
    * density link for embedding-space clustering — one-directional
    * attraction to a hub does not merge clusters, mutual attraction
    * does. Composes two existing pieces: D37's within-cell kNN graph
    * and D15's two-phase star closure (converges-or-throws), giving
    * every vector a cluster label + canonical flag. The kNN edge
    * table is tiny (n·k rows) and materialized once before its
    * self-join; the closure is edge-bound, never corpus².
    */
  def knnComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the converged labels are corpus-snapshot material like D15's
    // cc_labels: the closure runs once per corpus, reads thereafter
    val labels = stagedModel(spark, dir, "knn_cc_labels", Serve.Distributed) {
      val knn = materialize(
        knnJoin(spark, dir).select($"src_id", $"neighbor_id"))
      val mut = knn.as("a").join(knn.as("b"),
          col("b.src_id") === col("a.neighbor_id") &&
          col("b.neighbor_id") === col("a.src_id"))
        .where(col("a.src_id") < col("a.neighbor_id"))
        .select(col("a.src_id").as("d1"), col("a.neighbor_id").as("d2"))
      val ids = load(spark, dir, "embeddings").select($"vec_id".as("doc_id"))
      materialize(
        graft.dedup.Dedup.connectedComponentsTwoPhase(ids, mut))
    }
    labels
      .select($"doc_id".as("vec_id"), $"cluster_id",
        ($"doc_id" === $"cluster_id").as("is_canonical"))
      .orderBy($"vec_id")
  }

  val knnComponentsSql: String =
    s"""${knnCtesSql.replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |knn AS (SELECT src_id, neighbor_id FROM ranked WHERE rank <= 3),
       |mut AS (
       |  SELECT a.src_id AS d1, a.neighbor_id AS d2
       |  FROM knn a JOIN knn b
       |    ON b.src_id = a.neighbor_id AND b.neighbor_id = a.src_id
       |  WHERE a.src_id < a.neighbor_id),
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM mut
       |  UNION ALL SELECT d2, d1 FROM mut),
       |reach(vec_id, lbl) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.vec_id)
       |SELECT vec_id, min(lbl) AS cluster_id,
       |  vec_id = min(lbl) AS is_canonical
       |FROM reach GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ------------------------------------------------- D7n graph-walk ANN

  /** D7n: graph-walk ANN (`ann_topk_graph`) — the NSW/HNSW family's
    * query path, the dominant production single-node ANN index shape
    * (Malkov & Yashunin, IEEE TPAMI 2020) re-expressed over the
    * engine's staged artifacts: BEAM SEARCH over a navigable
    * small-world graph built by symmetrizing D37's kNN graph (each
    * node linked to its top-3 within-cell neighbors, links traversable
    * both ways — exactly how NSW treats its kNN construction edges).
    *
    * Two-layer navigation, mirroring HNSW's hierarchy:
    *  - entry layer: one representative per IVF cell (min vec_id —
    *    deterministic), all scored against the probe map-side, top
    *    [[GraphEntryBeam]] become the initial beam. This is the
    *    "upper layer" that teleports the walk near the right region
    *    without scanning the corpus.
    *  - bottom layer: [[GraphHops]] rounds of
    *    `beam ← top-[[GraphBeamWidth]](beam ∪ N(beam))` — score the
    *    current beam's graph neighbors, keep the best B by
    *    (cosine DESC, vec_id ASC). The kept set is monotone: a stable
    *    beam is a fixpoint (its candidate set no longer changes), so
    *    running EXACTLY [[GraphHops]] hops on both engines agrees by
    *    construction — no convergence race, no cap-vs-recursion
    *    mismatch (the BFS-B23 lesson, solved here by fixed unrolling
    *    instead of converge-or-throw: the walk's result is defined AS
    *    the H-hop beam).
    *
    * Final answer: top-[[GraphTopK]] of the converged beam, self
    * excluded — same output shape as every D6/D7 query, so recall@3
    * vs brute is directly measurable (spec'd, like D7c/D7m).
    *
    * 100 TB shape: the walk state is tiny (|probes|·B rows) and rides
    * BROADCAST into every join — the edge table (n·k rows, staged to
    * the lake once per corpus snapshot like the centroids/codebooks)
    * and the embeddings table are only ever streamed map-side, never
    * shuffled; per hop the engine does one edge scan + one corpus
    * scan with a bounded heap, so H hops cost H linear scans
    * regardless of probe count — the honest distributed face of
    * pointer-chasing (per-lookup latency trades for full scan
    * bandwidth, which is the right trade when probes arrive in
    * batches).
    */
  val GraphEntryBeam = 6
  val GraphBeamWidth = 10
  val GraphHops = 5
  val GraphTopK = 5

  /** The staged navigable graph: D37's within-cell kNN edges,
    * symmetrized and deduped — built once per corpus snapshot,
    * published to the lake, served to every later walk.
    */
  private[graft] def navGraphEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stagedModel(spark, dir, "knn_nav_edges", Serve.Distributed) {
      val knn = knnJoin(spark, dir)
        .select($"src_id".as("src"), $"neighbor_id".as("dst"))
      materialize(
        knn.unionAll(knn.select($"dst".as("src"), $"src".as("dst"))).distinct())
    }
  }

  /** The walk's entry layer: per-cell MEDOID (centroid-nearest member,
    * ties by vec_id) — the member that best stands in for its cell, so
    * entry scoring ranks cells by how promising they actually are.
    * Exposed for the recall spec's entry-only baseline.
    */
  private[graft] def entryReps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val cents = stagedModel(spark, dir, s"cents_$KMeansIters", Serve.Local)(
      trainedCentroids(vecs, KMeansIters))
    assign(vecs, cents).join(broadcast(cents), Seq("cid"))
      .withColumn("cscore", vcos($"embedding", $"cent"))
      .groupBy($"cid")
      .agg(graft.functions.TopKByAgg.topk_by($"cscore", $"vec_id", 1).as("m"))
      .select(element_at($"m.id", 1).as("vec_id"))
  }

  /** Collect a BOUNDED frame (size capped by query constants) into a
    * LocalRelation, schema preserved. The guard makes a probe-set or
    * beam-width change fail loudly instead of growing into an
    * unbounded driver collect (r13 advice).
    */
  private def localized(df: DataFrame, max: Int, what: String): DataFrame = {
    val rows = df.collect()
    require(rows.length <= max,
      s"$what unexpectedly large: ${rows.length} rows (bound $max)")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  def graphTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val edges = navGraphEdges(spark, dir)
    // the probe table (10 rows by the vec_id < 10 constant) is
    // broadcast into EVERY hop's scoring join; as a distributed frame
    // each hop re-paid a broadcast-build job for it. One bounded
    // collect makes it a LocalRelation: every later broadcast builds
    // driver-locally, no job. Same for the ≤CentBudget entry medoids.
    val probes = localized(vecs.where($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_emb")),
      10, "graph-walk probe set")
    val reps = localized(entryReps(spark, dir), CentBudget, "entry medoids")
    // (probe_id, vec_id) candidates → scored rows; candidates are tiny
    // and broadcast, the corpus streams map-side
    def score(cand: DataFrame): DataFrame =
      vecs.join(broadcast(cand), "vec_id")
        .join(broadcast(probes), "probe_id")
        .select($"probe_id", $"vec_id",
          vcos($"probe_emb", $"embedding").as("score"))
    def topBeam(cand: DataFrame, b: Int): DataFrame =
      rankTopK(score(cand), b, Seq.empty)
        .select($"probe_id", $"neighbor_id".as("vec_id"))
    // The walk STATE is bounded by construction — ≤ |probes|·B rows of
    // two longs (≤100 here, and still ≤100 at any corpus size, since
    // probes and beam width are constants of the query) — so each
    // hop's beam round-trips through the driver as a LocalRelation
    // (the bounded-scalar join-back pattern) instead of a per-hop
    // localCheckpoint: the checkpoint job, its release, and the
    // multi-MiB task binary every stage scanning a checkpointed
    // codegen leaf re-broadcasts (measured: 35 × 2.1–3.1 MiB per run)
    // all disappear. Everything UNBOUNDED — the neighbor fan-out
    // (hub in-degree is a graph property), the candidate dedup, the
    // corpus-streaming score, the heap — stays distributed exactly as
    // before; only the already-ranked B-row result is collected.
    def localBeam(df: DataFrame): DataFrame =
      localized(df.select($"probe_id", $"vec_id"),
        10 * math.max(GraphEntryBeam, GraphBeamWidth), "graph-walk beam")
    var beam = localBeam(topBeam(
      probes.select($"probe_id").crossJoin(broadcast(reps)), GraphEntryBeam))
    (1 to GraphHops).foreach { _ =>
      val nbrs = edges.join(
          broadcast(beam.withColumnRenamed("vec_id", "src")), "src")
        .select($"probe_id", $"dst".as("vec_id"))
      beam = localBeam(topBeam(beam.unionAll(nbrs).distinct(), GraphBeamWidth))
    }
    val out = rankTopK(score(beam).where($"vec_id" =!= $"probe_id"), GraphTopK,
      Seq.empty)
    out
  }

  val graphTopKSql: String = {
    def hopSql(h: Int): String =
      s"""cand$h AS (
         |  SELECT probe_id, vec_id FROM beam${h - 1}
         |  UNION
         |  SELECT b.probe_id, e.dst AS vec_id
         |  FROM beam${h - 1} b JOIN edges e ON e.src = b.vec_id),
         |beam$h AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT c.probe_id, c.vec_id,
         |      row_number() OVER (PARTITION BY c.probe_id
         |        ORDER BY ${cosSql("p.pemb", "v.embedding")} DESC, c.vec_id) AS rn
         |    FROM cand$h c JOIN embeddings v ON v.vec_id = c.vec_id
         |      JOIN probes p ON p.probe_id = c.probe_id) t
         |  WHERE rn <= $GraphBeamWidth)""".stripMargin
    s"""$knnCtesSql,
       |knn AS (SELECT src_id, neighbor_id FROM ranked WHERE rank <= 3),
       |edges AS (
       |  SELECT src_id AS src, neighbor_id AS dst FROM knn
       |  UNION
       |  SELECT neighbor_id, src_id FROM knn),
       |probes AS (
       |  SELECT vec_id AS probe_id, embedding AS pemb
       |  FROM embeddings WHERE vec_id < 10),
       |reps AS (
       |  SELECT vec_id FROM (
       |    SELECT a.vec_id, row_number() OVER (PARTITION BY a.cid
       |      ORDER BY ${cosSql("a.embedding", "c.cent")} DESC, a.vec_id) AS rn
       |    FROM assigned a JOIN cents$KMeansIters c ON c.cid = a.cid) t
       |  WHERE rn = 1),
       |beam0 AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT p.probe_id, r.vec_id,
       |      row_number() OVER (PARTITION BY p.probe_id
       |        ORDER BY ${cosSql("p.pemb", "v.embedding")} DESC, r.vec_id) AS rn
       |    FROM probes p CROSS JOIN reps r
       |      JOIN embeddings v ON v.vec_id = r.vec_id) t
       |  WHERE rn <= $GraphEntryBeam),
       |${(1 to GraphHops).map(hopSql).mkString(",\n")},
       |walked AS (
       |  SELECT b.probe_id, b.vec_id,
       |    ${cosSql("p.pemb", "v.embedding")} AS score,
       |    row_number() OVER (PARTITION BY b.probe_id
       |      ORDER BY ${cosSql("p.pemb", "v.embedding")} DESC, b.vec_id) AS rank
       |  FROM beam$GraphHops b JOIN embeddings v ON v.vec_id = b.vec_id
       |    JOIN probes p ON p.probe_id = b.probe_id
       |  WHERE b.vec_id != b.probe_id)
       |SELECT probe_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  score
       |FROM walked WHERE rank <= $GraphTopK ORDER BY probe_id, rank""".stripMargin
  }

  /** D45: k-NN label accuracy (`knn_label_accuracy`) — the label-noise
    * audit over D37's kNN graph: each vector's label predicted by the
    * majority of its 3 within-cell nearest neighbors (ties broken by
    * vote count desc, then smallest label — a total order), scored
    * against its own label per class. Low accuracy for one class =
    * mislabeled or unseparable — read next to D44's centroid affinity
    * and D36's outliers. Costs one labels-sized join and a per-node
    * argmax over ≤3 votes on top of the already-staged kNN graph.
    */
  def knnLabelAccuracy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labels = load(spark, dir, "embeddings").select($"vec_id", $"label")
    val votes = knnJoin(spark, dir)
      .join(broadcast(labels.select($"vec_id".as("neighbor_id"),
        $"label".as("nbr_label"))), "neighbor_id")
      .groupBy($"src_id", $"nbr_label").agg(count(lit(1)).as("v"))
    val w = Window.partitionBy($"src_id").orderBy($"v".desc, $"nbr_label")
    val pred = votes.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"src_id".as("vec_id"), $"nbr_label".as("pred"))
    pred.join(labels, "vec_id")
      .groupBy($"label")
      .agg(count(lit(1)).as("n"),
        count(when($"pred" === $"label", 1)).as("n_correct"))
      .select($"label", $"n", $"n_correct",
        round($"n_correct".cast("double") / $"n".cast("double"), 6).as("acc_r"))
      .orderBy($"label")
  }

  val knnLabelAccuracySql: String =
    s"""$knnCtesSql,
       |knn AS (SELECT src_id, neighbor_id FROM ranked WHERE rank <= 3),
       |votes AS (
       |  SELECT k.src_id, e.label AS nbr_label, count(*) AS v
       |  FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT src_id AS vec_id, nbr_label AS pred FROM (
       |    SELECT src_id, nbr_label,
       |      row_number() OVER (PARTITION BY src_id
       |        ORDER BY v DESC, nbr_label) AS rn
       |    FROM votes)
       |  WHERE rn = 1)
       |SELECT e.label, count(*) AS n,
       |  count(CASE WHEN p.pred = e.label THEN 1 END) AS n_correct,
       |  round(CAST(count(CASE WHEN p.pred = e.label THEN 1 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS acc_r
       |FROM pred p JOIN embeddings e USING (vec_id)
       |GROUP BY e.label ORDER BY e.label""".stripMargin

  /** D7i: ANN recall evaluation (`ann_recall_eval`) — the index
    * scorecard: per probe, recall@3 of the IVF search against the
    * exact brute-force top-3 (previously only spec-pinned in
    * aggregate; this publishes the per-probe table an index tuner
    * reads — which probes lose their neighbors to cell boundaries
    * and need multi-probe). Composes the two existing pipelines and
    * joins their rankings; the oracle replays BOTH (training,
    * routing, ranking) and the same join, so the recall numbers are
    * hash-exact, not approximated.
    */
  def annRecallEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b3 = bruteTopK(spark, dir).where($"rank" <= 3)
      .select($"probe_id", $"neighbor_id")
    val i3 = ivfTopK(spark, dir).select($"probe_id", $"neighbor_id")
    val hits = i3.join(b3, Seq("probe_id", "neighbor_id"))
      .groupBy($"probe_id").agg(count(lit(1)).as("n_hit"))
    b3.select($"probe_id").distinct()
      .join(hits, Seq("probe_id"), "left")
      .select($"probe_id", coalesce($"n_hit", lit(0L)).as("n_hit"),
        round(coalesce($"n_hit", lit(0L)).cast("double") / 3.0, 6)
          .as("recall_r"))
      .orderBy($"probe_id")
  }

  val annRecallEvalSql: String =
    s"""WITH b AS (
       |  SELECT probe_id, neighbor_id FROM (
       |$bruteTopKSql
       |  ) WHERE rank <= 3),
       |i AS (
       |  SELECT probe_id, neighbor_id FROM (
       |$ivfTopKSql
       |  )),
       |h AS (
       |  SELECT probe_id, count(*) AS n_hit
       |  FROM i JOIN b USING (probe_id, neighbor_id) GROUP BY probe_id)
       |SELECT p.probe_id, coalesce(h.n_hit, 0) AS n_hit,
       |  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 3.0, 6) AS recall_r
       |FROM (SELECT DISTINCT probe_id FROM b) p
       |LEFT JOIN h USING (probe_id)
       |ORDER BY probe_id""".stripMargin

  /** D7j: cluster purity (`ann_cluster_purity`) — how well the
    * trained IVF cells recover the embeddings' LABEL structure: per
    * cell, the majority-label share (purity), plus sizes — the
    * unsupervised-clustering scorecard next to D7i's recall (recall
    * measures the index as a SEARCH structure; purity measures it as
    * a PARTITION of the space). Cells-sized aggregates over the
    * map-only assignment; the majority vote is the k=1 bounded-heap
    * argmax with a total (count desc, label asc) tiebreak, so both
    * engines agree on every tie.
    */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = load(spark, dir, "embeddings")
    val cents = stagedModel(spark, dir, s"cents_$KMeansIters", Serve.Local)(
      trainedCentroids(emb.select($"vec_id", $"embedding"), KMeansIters))
    val assigned = assign(emb.select($"vec_id", $"embedding"), cents)
      .join(emb.select($"vec_id", $"label"), "vec_id")
    val cellLab = assigned.groupBy($"cid", $"label")
      .agg(count(lit(1)).as("n"))
    val maj = cellLab
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"cid").orderBy($"n".desc, $"label")))
      .where($"rn" === 1)
      .select($"cid", $"label".as("majority_label"), $"n".as("n_majority"))
    val sizes = cellLab.groupBy($"cid").agg(sum($"n").as("n_vecs"))
    sizes.join(broadcast(maj), "cid")
      .select($"cid", $"n_vecs", $"majority_label", $"n_majority",
        round($"n_majority".cast("double") / $"n_vecs", 6).as("purity_r"))
      .orderBy($"cid")
  }

  val clusterPuritySql: String = {
    val training = (1 to KMeansIters).map { i =>
      assignCteSql(s"cents${i - 1}", s"a$i") + ",\n" + meanCteSql(s"a$i", s"cents$i")
    }.mkString(",\n")
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM embeddings
       |  WHERE vec_id % $CentStride = 0 AND vec_id < ${CentStride * CentBudget}),
       |$training,
       |${assignCteSql(s"cents$KMeansIters", "assigned")},
       |cl AS (
       |  SELECT a.cid, e.label, count(*) AS n
       |  FROM assigned a JOIN embeddings e USING (vec_id)
       |  GROUP BY 1, 2),
       |mj AS (
       |  SELECT cid, label AS majority_label, n AS n_majority
       |  FROM (SELECT cid, label, n, row_number() OVER (
       |          PARTITION BY cid ORDER BY n DESC, label) AS rn FROM cl)
       |  WHERE rn = 1),
       |sz AS (SELECT cid, sum(n) AS n_vecs FROM cl GROUP BY cid)
       |SELECT sz.cid, CAST(n_vecs AS BIGINT) AS n_vecs, majority_label,
       |  n_majority,
       |  round(CAST(n_majority AS DOUBLE) / n_vecs, 6) AS purity_r
       |FROM sz JOIN mj USING (cid)
       |ORDER BY cid""".stripMargin
  }

  /** D44: inter-label centroid affinity (`emb_label_affinity`) — the
    * class-separation audit a labeled embedding corpus needs before
    * training on it: cosine between every pair of label centroids. A
    * pair near 1.0 means the two classes occupy the same region — a
    * labeling problem or a distinction the embedder can't see; near
    * 0 means cleanly separable. Read next to D36 (within-class
    * outliers): this is the BETWEEN-class complement.
    *
    * Execution at 100 TB: per-dim centroid sums are one posexplode →
    * (label, dim) combine-heavy aggregate (the shuffle carries
    * labels × dims partials, never vectors); everything after runs on
    * the labels×dims table — label-pair work is |L|²·D, independent
    * of corpus size. Determinism: centroid components are nano-
    * quantized sums / counts (exact IEEE), pair dot/norm terms are
    * 9-dp-rounded DECIMAL sums (order-free), one sqrt + division +
    * final round per output row.
    */
  def labelAffinity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cent = load(spark, dir, "embeddings")
      .select($"label", posexplode($"embedding").as(Seq("dim", "x0")))
      .select($"label", $"dim", $"x0".cast("double").as("x"))
      .groupBy($"label", $"dim")
      .agg(graft.Tables.qsum($"x").as("sx"), count(lit(1)).as("n"))
      .select($"label", $"dim", ($"sx" / $"n".cast("double")).as("c"), $"n")
    val norms = cent.groupBy($"label")
      .agg(graft.Tables.dsum(round($"c" * $"c", 9), 9).as("nn"),
        max($"n").as("n_members"))
    val dots = cent.as("a")
      .join(cent.as("b"),
        col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("l1"), col("b.label").as("l2"))
      .agg(graft.Tables.dsum(round(col("a.c") * col("b.c"), 9), 9).as("dot"))
    dots
      .join(broadcast(norms.select($"label".as("l1"), $"nn".as("nn1"),
        $"n_members".as("n_1"))), "l1")
      .join(broadcast(norms.select($"label".as("l2"), $"nn".as("nn2"),
        $"n_members".as("n_2"))), "l2")
      .select($"l1", $"l2", $"n_1", $"n_2",
        round($"dot" / sqrt($"nn1" * $"nn2"), 6).as("cos_r"))
      .orderBy($"l1", $"l2")
  }

  val labelAffinitySql: String =
    s"""WITH ex AS MATERIALIZED (
       |  SELECT label, pos AS dim, CAST(embedding[pos] AS DOUBLE) AS x
       |  FROM embeddings, range(1, ${Dim + 1}) t(pos)),
       |cent AS MATERIALIZED (
       |  SELECT label, dim,
       |    ${graft.Tables.qsumSql("x")} / CAST(count(*) AS DOUBLE) AS c,
       |    count(*) AS n
       |  FROM ex GROUP BY label, dim),
       |norms AS (
       |  SELECT label,
       |    CAST(sum(CAST(round(c * c, 9) AS DECIMAL(28, 9))) AS DOUBLE) AS nn,
       |    CAST(max(n) AS BIGINT) AS n_members
       |  FROM cent GROUP BY label),
       |dots AS (
       |  SELECT a.label AS l1, b.label AS l2,
       |    CAST(sum(CAST(round(a.c * b.c, 9) AS DECIMAL(28, 9))) AS DOUBLE) AS dot
       |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
       |  GROUP BY 1, 2)
       |SELECT l1, l2, n1.n_members AS n_1, n2.n_members AS n_2,
       |  round(dot / sqrt(n1.nn * n2.nn), 6) AS cos_r
       |FROM dots JOIN norms n1 ON n1.label = l1 JOIN norms n2 ON n2.label = l2
       |ORDER BY l1, l2""".stripMargin

  /** Fused-list depth, RRF smoothing constant, published cut. */
  private val RrfDepth = 50
  private val RrfK = 60
  private val RrfTopN = 20

  /** D51: hybrid-retrieval fusion (`search_rrf_fusion`) — reciprocal
    * rank fusion (Cormack–Clarke–Buettcher) of the two retrieval
    * signals the engine already serves: D29's sparse BM25 ranking and
    * a dense cosine ranking against a probe embedding. Each doc
    * scores Σ 1/(k + rank) over the lists it appears in — the
    * score-scale-free way to merge rankings from incomparable
    * retrievers (BM25 logs vs cosine), the standard hybrid-search
    * serving pattern.
    *
    * Scale: each retriever contributes only its TOP-[[RrfDepth]]
    * list through the TakeOrdered heap (never a global rank of the
    * corpus — fusion depth is the serving constant, corpus size
    * isn't); ranks assign on the 50-row lists, the full-outer merge
    * is list-sized, and the dense leg is one broadcast-probe scan.
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sTop = graft.text.TextAnalytics.bm25Scores(spark, dir)
      .orderBy($"score".desc, $"doc_id").limit(RrfDepth)
    val sRank = sTop.withColumn("ra", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"score".desc, $"doc_id")).cast("long"))
      .select($"doc_id", $"ra")
    val probe = load(spark, dir, "embeddings")
      .where($"vec_id" === 0).select($"embedding".as("pe"))
    val dTop = load(spark, dir, "embeddings")
      .crossJoin(broadcast(probe))
      .select($"vec_id".as("doc_id"), vcos($"embedding", $"pe").as("ds"))
      .orderBy($"ds".desc, $"doc_id").limit(RrfDepth)
    val dRank = dTop.withColumn("rb", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"ds".desc, $"doc_id")).cast("long"))
      .select($"doc_id", $"rb")
    sRank.join(dRank, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"ra", $"rb",
        round(
          coalesce(lit(1.0) / (lit(RrfK) + $"ra"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + $"rb"), lit(0.0)), 6).as("rrf_r"))
      .orderBy($"rrf_r".desc, $"doc_id")
      .limit(RrfTopN)
  }

  val rrfFusionSql: String =
    graft.text.TextAnalytics.bm25CtesSql + s""",
       |sr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
       |    AS ra
       |  FROM (SELECT * FROM bscore ORDER BY score DESC, doc_id
       |        LIMIT $RrfDepth)),
       |pe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
       |dsc AS (
       |  SELECT vec_id AS doc_id,
       |    ${cosSql("embedding", "pe")} AS ds
       |  FROM embeddings, pe),
       |dr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY ds DESC, doc_id) AS rb
       |  FROM (SELECT * FROM dsc ORDER BY ds DESC, doc_id LIMIT $RrfDepth))
       |SELECT doc_id, ra, rb,
       |  round(coalesce(CAST(1 AS DOUBLE) / ($RrfK + ra), CAST(0 AS DOUBLE))
       |    + coalesce(CAST(1 AS DOUBLE) / ($RrfK + rb), CAST(0 AS DOUBLE)), 6)
       |    AS rrf_r
       |FROM sr FULL OUTER JOIN dr USING (doc_id)
       |ORDER BY rrf_r DESC, doc_id LIMIT $RrfTopN""".stripMargin

  /** D49: embedding centroid drift (`emb_centroid_drift`) — the
    * embedding-space twin of D47's source-mix drift: per label, the
    * cosine between the class centroid of corpus half A and half B
    * (vec_id parity as the deterministic snapshot proxy). A label
    * whose two halves' centroids drift apart signals a shifted
    * upstream distribution or an embedder version change — caught
    * BEFORE the vectors poison an index or a training mix. Same
    * scale shape as D44: one posexplode → (label, half, dim)
    * combine-heavy aggregate (nano-quantized sums), then label-sized
    * joins; work after the first pass is |L|·D, corpus-independent.
    */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cent = load(spark, dir, "embeddings")
      .select($"label", ($"vec_id" % 2).cast("int").as("half"),
        posexplode($"embedding").as(Seq("dim", "x0")))
      .select($"label", $"half", $"dim", $"x0".cast("double").as("x"))
      .groupBy($"label", $"half", $"dim")
      .agg(graft.Tables.qsum($"x").as("sx"), count(lit(1)).as("n"))
      .select($"label", $"half", $"dim",
        ($"sx" / $"n".cast("double")).as("c"), $"n")
    val norms = cent.groupBy($"label", $"half")
      .agg(graft.Tables.dsum(round($"c" * $"c", 9), 9).as("nn"),
        max($"n").as("n_members"))
    val dots = cent.where($"half" === 0).as("a")
      .join(cent.where($"half" === 1).as("b"),
        col("a.dim") === col("b.dim") && col("a.label") === col("b.label"))
      .groupBy(col("a.label").as("label"))
      .agg(graft.Tables.dsum(round(col("a.c") * col("b.c"), 9), 9).as("dot"))
    dots
      .join(broadcast(norms.where($"half" === 0)
        .select($"label", $"nn".as("nn0"), $"n_members".as("n_0"))), "label")
      .join(broadcast(norms.where($"half" === 1)
        .select($"label", $"nn".as("nn1"), $"n_members".as("n_1"))), "label")
      .select($"label", $"n_0", $"n_1",
        round($"dot" / sqrt($"nn0" * $"nn1"), 6).as("cos_r"),
        round(lit(1.0) - $"dot" / sqrt($"nn0" * $"nn1"), 6).as("drift_r"))
      .orderBy($"label")
  }

  val centroidDriftSql: String =
    s"""WITH ex AS MATERIALIZED (
       |  SELECT label, vec_id % 2 AS half, pos AS dim,
       |    CAST(embedding[pos] AS DOUBLE) AS x
       |  FROM embeddings, range(1, ${Dim + 1}) t(pos)),
       |cent AS MATERIALIZED (
       |  SELECT label, half, dim,
       |    ${graft.Tables.qsumSql("x")} / CAST(count(*) AS DOUBLE) AS c,
       |    count(*) AS n
       |  FROM ex GROUP BY label, half, dim),
       |norms AS (
       |  SELECT label, half,
       |    CAST(sum(CAST(round(c * c, 9) AS DECIMAL(28, 9))) AS DOUBLE) AS nn,
       |    CAST(max(n) AS BIGINT) AS n_members
       |  FROM cent GROUP BY label, half),
       |dots AS (
       |  SELECT a.label AS label,
       |    CAST(sum(CAST(round(a.c * b.c, 9) AS DECIMAL(28, 9))) AS DOUBLE) AS dot
       |  FROM cent a JOIN cent b
       |    ON a.dim = b.dim AND a.label = b.label
       |    AND a.half = 0 AND b.half = 1
       |  GROUP BY 1)
       |SELECT d.label, n0.n_members AS n_0, n1.n_members AS n_1,
       |  round(dot / sqrt(n0.nn * n1.nn), 6) AS cos_r,
       |  round(1.0 - dot / sqrt(n0.nn * n1.nn), 6) AS drift_r
       |FROM dots d
       |JOIN norms n0 ON n0.label = d.label AND n0.half = 0
       |JOIN norms n1 ON n1.label = d.label AND n1.half = 1
       |ORDER BY d.label""".stripMargin

  /** D48: hard-negative mining (`emb_hard_negatives`) — the
    * contrastive-training data miner: for every vector, the most
    * similar vector carrying a DIFFERENT label (the "hard negative"
    * a triplet/InfoNCE loss wants next to each anchor). Exhaustive
    * different-label search is corpus² — production miners search
    * ANN candidates — so this searches within each trained IVF cell
    * (the lake-persisted centroids D7b trains; same-cell = the
    * candidates any IVF probe would return). Σ|cell|² work, corpus
    * never re-shuffles for scoring, labels ride the assignment
    * (map-side) instead of joining back. Top-1 per anchor is an
    * order-free max over (score, −neg_id) structs — no window, no
    * per-cell sort. Anchors whose cell is label-pure yield no row
    * (inner semantics, mirrored in the oracle).
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = load(spark, dir, "embeddings")
    val cents = stagedModel(spark, dir, s"cents_$KMeansIters", Serve.Local)(
      trainedCentroids(vecs.select($"vec_id", $"embedding"), KMeansIters))
    val centArr = cents.agg(collect_list(struct($"cid", $"cent")).as("cs"))
    val assigned = vecs.crossJoin(broadcast(centArr))
      .select($"vec_id", $"embedding", $"label",
        array_max(transform($"cs", c => struct(
          vcos($"embedding", c.getField("cent")).as("s"),
          (-c.getField("cid")).as("nc"),
          c.getField("cid").as("cid"))))
          .getField("cid").as("cid"))
    val nbrs = assigned.select($"cid", $"vec_id".as("nbr_id"),
      $"embedding".as("nbr_emb"), $"label".as("nbr_label"))
    assigned.join(nbrs, Seq("cid"))
      .where($"label" =!= $"nbr_label")
      .groupBy($"vec_id", $"label")
      .agg(max(struct(
        vcos($"embedding", $"nbr_emb").as("s"),
        (-$"nbr_id").as("ni"),
        $"nbr_id".as("neg_id"),
        $"nbr_label".as("neg_label"))).as("t"))
      .select($"vec_id", $"label", $"t.neg_id".as("neg_id"),
        $"t.neg_label".as("neg_label"), round($"t.s", 6).as("score_r"))
      .orderBy($"vec_id")
  }

  val hardNegativesSql: String = {
    val training = (1 to KMeansIters).map { i =>
      assignCteSql(s"cents${i - 1}", s"a$i") + ",\n" + meanCteSql(s"a$i", s"cents$i")
    }.mkString(",\n")
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cid, embedding AS cent FROM embeddings
       |  WHERE vec_id % $CentStride = 0 AND vec_id < ${CentStride * CentBudget}),
       |$training,
       |${assignCteSql(s"cents$KMeansIters", "assigned")},
       |lab AS (
       |  SELECT a.vec_id, a.embedding, a.cid, e.label
       |  FROM assigned a JOIN embeddings e USING (vec_id)),
       |pairs AS (
       |  SELECT a.vec_id, a.label, b.vec_id AS neg_id, b.label AS neg_label,
       |    ${cosSql("a.embedding", "b.embedding")} AS score
       |  FROM lab a JOIN lab b USING (cid)
       |  WHERE a.label <> b.label)
       |SELECT vec_id, label, neg_id, neg_label, round(score, 6) AS score_r
       |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, neg_id) AS rn FROM pairs) t
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_centroid_drift" -> centroidDrift _,
    "search_rrf_fusion" -> rrfFusion _,
    "emb_hard_negatives" -> hardNegatives _,
    "emb_label_affinity" -> labelAffinity _,
    "ann_range_search" -> rangeSearch _,
    "knn_label_accuracy" -> knnLabelAccuracy _,
    "ann_cluster_purity" -> clusterPurity _,
    "ann_recall_eval" -> annRecallEval _,
    "knn_join" -> knnJoin _,
    "emb_outliers" -> embOutliers _,
    "ann_topk_brute" -> bruteTopK _,
    "ann_topk_sq8" -> sq8TopK _,
    "ann_topk_lsh" -> lshTopK _,
    "ann_topk_ivf" -> ivfTopK _,
    "ann_topk_ivf_mp" -> ivfTopKMulti _,
    "ann_topk_filtered" -> filteredTopK _,
    "ann_topk_pq" -> pqTopK _,
    "ann_topk_ivfpq" -> ivfPqTopK _,
    "ann_topk_ivfpq_res" -> ivfPqResTopK _,
    "ann_topk_ivf_fps" -> ivfFpsTopK _,
    "ann_topk_ivfpq_pc" -> ivfPqPcTopK _,
    "dedup_embedding" -> embDedup _,
    "dedup_semantic" -> semanticDedup _,
    "emb_norms" -> embNorms _,
    "emb_quantize" -> embQuantize _,
    "emb_matryoshka" -> embMatryoshka _,
    "knn_components" -> knnComponents _,
    "ann_topk_graph" -> graphTopK _,
    "ann_topk_rerank" -> rerankTopK _,
    "ann_topk_binary" -> binaryTopK _)

  val oracleSql: Map[String, String] = Map(
    "emb_centroid_drift" -> centroidDriftSql,
    "search_rrf_fusion" -> rrfFusionSql,
    "emb_hard_negatives" -> hardNegativesSql,
    "emb_label_affinity" -> labelAffinitySql,
    "ann_range_search" -> rangeSearchSql,
    "knn_label_accuracy" -> knnLabelAccuracySql,
    "ann_cluster_purity" -> clusterPuritySql,
    "ann_recall_eval" -> annRecallEvalSql,
    "knn_join" -> knnJoinSql,
    "emb_outliers" -> embOutliersSql,
    "ann_topk_brute" -> bruteTopKSql,
    "ann_topk_sq8" -> sq8TopKSql,
    "ann_topk_lsh" -> lshTopKSql,
    "ann_topk_ivf" -> ivfTopKSql,
    "ann_topk_ivf_mp" -> ivfTopKMultiSql,
    "ann_topk_filtered" -> filteredTopKSql,
    "ann_topk_pq" -> pqTopKSql,
    "ann_topk_ivfpq" -> ivfPqTopKSql,
    "ann_topk_ivfpq_res" -> ivfPqResTopKSql,
    "ann_topk_ivf_fps" -> ivfFpsTopKSql,
    "ann_topk_ivfpq_pc" -> ivfPqPcTopKSql,
    "dedup_embedding" -> embDedupSql,
    "dedup_semantic" -> semanticDedupSql,
    "emb_norms" -> embNormsSql,
    "emb_quantize" -> embQuantizeSql,
    "emb_matryoshka" -> embMatryoshkaSql,
    "knn_components" -> knnComponentsSql,
    "ann_topk_graph" -> graphTopKSql,
    "ann_topk_rerank" -> rerankTopKSql,
    "ann_topk_binary" -> binaryTopKSql)
}
