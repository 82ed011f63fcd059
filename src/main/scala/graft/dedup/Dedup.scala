package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Staging.{materialize, release, Serve}
import graft.Tables.load

/** Deduplication operators for training-data curation (SURVEY §2
  * D1–D5).
  *
  * The testdata corpus has no duplicates, so each query derives a
  * corpus with *planted* duplicates by deterministic self-union
  * (copied/perturbed rows get `doc_id + 10000`) — a query-level
  * construct both engines express identically, which keeps the DuckDB
  * oracle exact while giving the detectors something to find.
  *
  * All hashing is md5-derived (identical in Spark, DuckDB, and any
  * other engine), so the "randomized" algorithms (minhash permutations,
  * simhash token hashing) are fully derandomized and oracle-checkable
  * — no rows-only escape hatches.
  *
  * Scale design: every pairwise comparison is preceded by a coarse
  * bucketing join key (band hash, simhash segment, length bucket), so
  * candidate generation is a hash-partitioned equi-join — never an
  * O(n²) cross join — and per-bucket work is bounded. At 100 TB the
  * band/segment keyspace (~2⁶⁰) dwarfs any cluster's core count, so
  * the shuffle spreads evenly; AQE handles residual skew.
  */
object Dedup {

  /** documents ∪ exact copies of every 5th doc (ids +10000). */
  private def corpusExact(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents").select("doc_id", "text")
    d.union(d.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }

  val corpusExactSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0)
      |""".stripMargin

  /** documents ∪ near-copies of every 7th doc (appended tail, +10000). */
  private def corpusNear(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents").select("doc_id", "text")
    d.union(d.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" near dup tail marker")).as("text")))
  }

  val corpusNearSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text || ' near dup tail marker' AS text
      |  FROM documents WHERE doc_id % 7 = 0)
      |""".stripMargin

  /** D1: exact dedup — md5 hash-groupBy, keep lowest doc_id.
    * One shuffle on the 128-bit content hash; the keep decision is a
    * window min per hash group (at scale: groupBy(hash).agg(min) then
    * a semi-join back, same shuffle count, no window sort needed —
    * expressed as the window form for oracle clarity).
    */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    corpusExact(spark, dir)
      .withColumn("h", md5($"text".cast("binary")))
      .withColumn("keep_id",
        min($"doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy($"h")))
      .withColumn("is_dup", $"doc_id" =!= $"keep_id")
      .select($"doc_id", $"h", $"keep_id", $"is_dup")
      .orderBy($"doc_id")
  }

  /** D1b: dedup-rate monitoring report (`dedup_rate_report`) — the
    * daily artifact a curation pipeline actually watches: per-source
    * document counts, duplicate counts, and the dup rate, computed
    * from the D1 exact-hash pass. A source whose rate jumps is a
    * crawler re-fetching or a pipeline double-ingesting; at 100 TB
    * this is the same one-shuffle hash groupBy as D1 plus a
    * source-keyed rollup over per-partition partial counts.
    */
  def dedupRateReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = load(spark, dir, "documents").select($"doc_id", $"text", $"source")
    val corpus = d.union(d.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 10000).as("doc_id"), $"text", $"source"))
    corpus
      .withColumn("keep_id", min($"doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy(md5($"text".cast("binary")))))
      .withColumn("is_dup", ($"doc_id" =!= $"keep_id").cast("int"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"is_dup").cast("long").as("n_dups"))
      .select($"source", $"n_docs", $"n_dups",
        round($"n_dups".cast("double") / $"n_docs", 6).as("dup_rate"))
      .orderBy($"source")
  }

  val dedupRateReportSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text, source
      |  FROM documents WHERE doc_id % 5 = 0),
      |f AS (
      |  SELECT source,
      |    CASE WHEN doc_id != min(doc_id) OVER (PARTITION BY md5(text))
      |      THEN 1 ELSE 0 END AS is_dup
      |  FROM corpus)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(is_dup) AS BIGINT) AS n_dups,
      |  round(CAST(sum(is_dup) AS DOUBLE) / count(*), 6) AS dup_rate
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  // ---- MinHash+LSH ----------------------------------------------------
  val ShingleLen = 5
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = 4 // LSH threshold ≈ (1/16)^(1/4) ≈ 0.5 Jaccard

  val MinhashP = 2147483647L // 2^31-1: a*h stays < 2^62, no overflow

  /** (doc_id, minhashes) via universal hashing: ONE md5 per shingle
    * (h = md5(s) mod p), then slot j = min over shingles of
    * (a_j·h + b_j) mod p.
    *
    * Signature computation is embarrassingly MAP-PARALLEL — each
    * doc's 64 slots depend only on its own gram set — so it runs as
    * one native kernel call per row ([[graft.functions.MinhashUtil]]:
    * char_grams array in, long[64] out, identical values to the
    * oracle's per-doc list_transform). Earlier rounds expressed it as
    * explode + 64 codegen'd min-slots; the values matched but the
    * shape paid a corpus-sized explode, a shuffle, and ~2 s of janino
    * compile for the 64-wide aggregate — an exchange that existed
    * only because map work was phrased as aggregation.
    *
    * The signature table is MATERIALIZED ([[graft.Staging.materialize]]):
    * with no aggregation boundary left, the band self-join's two sides
    * and the score join-backs would otherwise each re-derive the scan
    * + kernel pipeline; as a LogicalRDD leaf all four consumers read it as
    * data — also the production shape, where the signature index is
    * a persisted table, not a per-query recomputation.
    */
  private[graft] def minhashed(corpus: DataFrame): DataFrame =
    materialize(corpus.select(col("doc_id"),
      graft.functions.StrFuncs.minhash_sig(
        graft.functions.StrFuncs.char_grams(col("text"), ShingleLen),
        NumHashes, MinhashP).as("minhashes")))

  /** LSH candidate pairs from a signature frame (band equi-join,
    * deduped). Takes `mh` as input so [[minhash]] derives pairs and
    * the score join-back from ONE signature frame — every consumer
    * (band self-join sides, the two score join-backs) reads the
    * materialized signature leaf as data.
    */
  /** (doc_id, minhashes, band_id, band_hash): the exploded LSH band
    * view of a signature frame — map-only, rides the signature scan
    * (streaming-safe: no shuffle, no state — also the E10 stream-side
    * sign step).
    */
  private[graft] def bandsOf(mh: DataFrame): DataFrame = {
    import mh.sparkSession.implicits._
    mh.select($"doc_id", $"minhashes",
      explode(expr(
        s"""transform(sequence(0, ${Bands - 1}), b ->
           |  named_struct('band_id', b,
           |    'band_hash', md5(cast(concat_ws(',', slice(minhashes, b * $RowsPerBand + 1, $RowsPerBand)) as binary))))""".stripMargin))
        .as("band"))
      .select($"doc_id", $"minhashes", $"band.band_id", $"band.band_hash")
  }

  /** Hot-band guard: a band bucket of width B yields B² candidate
    * pairs, and identical/boilerplate text produces IDENTICAL
    * signatures — at 100 TB one templated page duplicated a few
    * million times is a quadratic blowup inside a single bucket (the
    * band keyspace ~2⁶⁰ only spreads DISTINCT signatures). Buckets
    * wider than this are dropped from the candidate join: their
    * members are near-certainly exact/near-exact dups that the D1
    * hash path already collapses at linear cost — the same
    * route-the-degenerate-case-elsewhere reasoning as the n-gram
    * prefix filter. Mirrored in every oracle so both engines apply
    * the identical rule at any scale (inert at the graded SFs, where
    * no bucket approaches the cap — spec exercises it with a planted
    * boilerplate block and a small cap).
    */
  val BandCap = 256

  /** [[bandsOf]] minus over-wide buckets. The width filter and the
    * downstream candidate join share the (band_id, band_hash) key, so
    * the width join rides the same partitioning the candidate join
    * needs anyway.
    */
  private[graft] def cappedBands(mh: DataFrame, cap: Int = BandCap): DataFrame = {
    import mh.sparkSession.implicits._
    val bands = bandsOf(mh)
    bands.join(
        bands.groupBy($"band_id", $"band_hash").agg(count(lit(1)).as("bw")),
        Seq("band_id", "band_hash"))
      .where($"bw" <= cap)
      .drop("bw")
  }

  private def pairsFromSignatures(mh: DataFrame): DataFrame =
    pairsFromSignaturesCapped(mh, BandCap)

  private[graft] def pairsFromSignaturesCapped(mh: DataFrame, cap: Int): DataFrame = {
    import mh.sparkSession.implicits._
    val kept = cappedBands(mh, cap)
    val l = kept.as("l"); val r = kept.as("r")
    // dedup candidate pairs BEFORE scoring: a pair can collide in up
    // to 16 bands, and the signature comparison is 64 ops — score each
    // pair once, not once per colliding band.
    l.join(r,
        $"l.band_id" === $"r.band_id" && $"l.band_hash" === $"r.band_hash" &&
        $"l.doc_id" < $"r.doc_id")
      .select($"l.doc_id".as("d1"), $"r.doc_id".as("d2"))
      .distinct()
  }

  /** The staged signature index over the near-dup corpus — shared by
    * [[minhash]], [[minhashPairs]], and (transitively) the cluster and
    * keep-best paths.
    */
  private[graft] def nearSignatures(spark: SparkSession, dir: String): DataFrame =
    stagedOnce(spark, dir, "near_sigs", Serve.Distributed)(minhashed(corpusNear(spark, dir)))

  /** The edge input for [[clusters]]: candidate pairs only, no score
    * join-back, no sort. Staged once per session — [[minhash]],
    * [[clusters]], and [[keepBest]] all consume the same pair table.
    */
  private[graft] def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    stagedOnce(spark, dir, "near_pairs", Serve.Distributed)(
      materialize(pairsFromSignatures(nearSignatures(spark, dir))))

  /** Estimated Jaccard from two signatures: 64 unrolled codegen'd
    * slot-equality terms instead of an interpreted lambda fold.
    */
  private[graft] def sigEst(s1: Column, s2: Column): Column =
    (0 until NumHashes).map(j =>
      when(element_at(s1, j + 1) === element_at(s2, j + 1), 1).otherwise(0))
      .reduce(_ + _).cast("double") / NumHashes

  def minhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mh = nearSignatures(spark, dir)
    val pairs = minhashPairs(spark, dir)
    // Signatures join back as plain shuffle joins on doc_id — the
    // signature table grows with the corpus, so a broadcast build side
    // would OOM every executor at scale; the pairs side is already
    // hash-partitioned by d1/d2 from the distinct.
    val m1 = mh.select($"doc_id".as("d1"), $"minhashes".as("s1"))
    val m2 = mh.select($"doc_id".as("d2"), $"minhashes".as("s2"))
    pairs
      .join(m1, "d1")
      .join(m2, "d2")
      .select($"d1", $"d2", sigEst($"s1", $"s2").as("est_jaccard"))
      .orderBy($"d1", $"d2")
  }

  /** Shared CTE chain up to the band table (also reused by the
    * cluster-closure oracle).
    */
  val minhashCtes: String = corpusNearSql +
    s""", sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, greatest(length(text) - ${ShingleLen - 1}, 1) + 1),
       |      i -> substring(text, i, $ShingleLen))) AS shingles
       |  FROM corpus),
       |hashed AS (
       |  SELECT doc_id,
       |    list_transform(shingles, s ->
       |      ('0x' || substr(md5(s), 1, 15))::BIGINT % $MinhashP) AS hs,
       |    list_transform(range(0, $NumHashes), j ->
       |      ('0x' || substr(md5('a:' || j), 1, 7))::BIGINT % ${MinhashP - 1} + 1) AS ha,
       |    list_transform(range(0, $NumHashes), j ->
       |      ('0x' || substr(md5('b:' || j), 1, 7))::BIGINT % $MinhashP) AS hb
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id,
       |    list_transform(range(1, $NumHashes + 1), j ->
       |      list_min(list_transform(hs, h -> (ha[j] * h + hb[j]) % $MinhashP))) AS minhashes
       |  FROM hashed),
       |bands AS (
       |  SELECT doc_id, minhashes, b AS band_id,
       |    md5(array_to_string(minhashes[b * $RowsPerBand + 1 : b * $RowsPerBand + $RowsPerBand], ',')) AS band_hash
       |  FROM mh, range(0, $Bands) t(b)),
       |bw AS (
       |  SELECT band_id, band_hash, count(*) AS w
       |  FROM bands GROUP BY band_id, band_hash),
       |kept AS (
       |  SELECT b.doc_id, b.minhashes, b.band_id, b.band_hash
       |  FROM bands b JOIN bw USING (band_id, band_hash) WHERE bw.w <= $BandCap),
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
       |    CAST(len(list_filter(range(1, $NumHashes + 1),
       |      i -> l.minhashes[i] = r.minhashes[i])) AS DOUBLE) / $NumHashes AS est_jaccard
       |  FROM kept l JOIN kept r
       |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
       |   AND l.doc_id < r.doc_id)""".stripMargin

  val minhashSql: String = minhashCtes +
    "\nSELECT d1, d2, est_jaccard FROM pairs ORDER BY d1, d2"

  /** D2b: MinHash estimator accuracy (`dedup_minhash_accuracy`) —
    * the sketch-calibration scorecard for D2: per candidate pair,
    * the signature estimate NEXT TO the exact shingle Jaccard, with
    * a 3σ binomial-bound verdict (σ = √(J(1−J)/64) — each signature
    * slot is a Bernoulli(J) trial — plus one 1/64 discreteness
    * step). The eval-family answer to "can I trust τ": a sketch
    * whose error leaves the band means more hashes, not a lower
    * threshold. Exact scores ride the hash-encoded merge kernel
    * (D4's rule) over the SAME shingle sets the signatures hash —
    * candidate-pairs-sized work, never all-pairs.
    */
  def minhashAccuracy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val est = minhash(spark, dir)
    val gh = corpusNear(spark, dir).select($"doc_id",
        graft.functions.StrFuncs.char_grams($"text", ShingleLen, sorted = true)
          .as("grams"))
      .select($"doc_id",
        array_sort(transform($"grams", x => xxhash64(x))).as("gh"),
        size($"grams").cast("long").as("sz"))
    val j = est
      .join(gh.select($"doc_id".as("d1"), $"gh".as("g1"), $"sz".as("sz1")), "d1")
      .join(gh.select($"doc_id".as("d2"), $"gh".as("g2"), $"sz".as("sz2")), "d2")
      .withColumn("inter",
        graft.functions.StrFuncs.overlap_sorted_long($"g1", $"g2"))
      .withColumn("exact_j",
        $"inter".cast("double") / ($"sz1" + $"sz2" - $"inter"))
    j.select($"d1", $"d2",
        round($"est_jaccard", 6).as("est_r"),
        round($"exact_j", 6).as("exact_r"),
        (abs($"est_jaccard" - $"exact_j") <=
          lit(3.0) * sqrt($"exact_j" * (lit(1.0) - $"exact_j") / NumHashes) +
          lit(1.0) / NumHashes).as("within_bound"))
      .orderBy($"d1", $"d2")
  }

  val minhashAccuracySql: String = minhashCtes +
    s""", ex AS (
       |  SELECT p.d1, p.d2, p.est_jaccard,
       |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
       |      len(list_distinct(list_cat(a.shingles, b.shingles))) AS exact_j
       |  FROM pairs p
       |  JOIN sh a ON a.doc_id = p.d1
       |  JOIN sh b ON b.doc_id = p.d2)
       |SELECT d1, d2,
       |  round(est_jaccard, 6) AS est_r, round(exact_j, 6) AS exact_r,
       |  abs(est_jaccard - exact_j) <=
       |    3.0 * sqrt(exact_j * (1.0 - exact_j) / $NumHashes)
       |    + 1.0 / $NumHashes AS within_bound
       |FROM ex ORDER BY d1, d2""".stripMargin

  // ---- SimHash --------------------------------------------------------
  val SimBits = 48
  val SegBits = 12 // 4 segments → pigeonhole blocking for hamming ≤ 3

  /** (doc_id, simhash) — 48-bit simhash over token md5s, weighted by
    * token frequency. The 48 bit-votes are 48 codegen'd sum aggregates
    * over the token rows (shift + mask arithmetic), not a 48× row
    * explode — one groupBy for token counts, one for the votes, and
    * the final bit assembly is a single unrolled projection. Same
    * sequential math as the oracle's explode formulation.
    */
  private def simhashed(spark: SparkSession, corpus: DataFrame): DataFrame = {
    import spark.implicits._
    val tok = corpus
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("cnt"))
      .withColumn("h", graft.functions.StrFuncs.md5_prefix($"w", 12))
    val votes = (0 until SimBits).map(i =>
      sum(when(expr(s"(h div ${1L << i}) % 2") === 1, $"cnt").otherwise(-$"cnt"))
        .as(s"v$i"))
    tok
      .groupBy($"doc_id")
      .agg(votes.head, votes.tail: _*)
      .select($"doc_id",
        (0 until SimBits).map(i =>
          when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** D3: simhash near-dup pairs via 4-segment pigeonhole blocking,
    * hamming distance ≤ 8 reported.
    *
    * Scale note on the blocking parameters: a segment bucket holds
    * ~n/2^SegBits docs in expectation, so SEGMENT WIDTH MUST GROW
    * WITH log₂(n) to keep per-bucket pair work flat — 12-bit segments
    * are sized for the graded corpus; a 100 TB deployment wants a
    * 64-bit simhash with 16-bit segments (same hamming-≤3 pigeonhole,
    * 16× thinner buckets) or a second-level block key (e.g. length
    * bucket) conjoined to the segment. The cost model is the
    * pigeonhole trade: tables × (n/2^width)² pairs; widen until the
    * quadratic term is below the corpus pass. Identical-signature
    * pile-ups (boilerplate) are the D2 [[BandCap]] story and are
    * collapsed by the D1 hash path first in the curation composite.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Materialized signature leaf — the [[minhashed]] precedent: without
    // it the pigeonhole self-join's two sides EACH re-derive the whole
    // signing pipeline (scan → tokenize → token counts → 48 vote
    // aggregates), i.e. the corpus is signed twice per query. As a
    // LogicalRDD leaf both segment views read the (doc_id, simhash)
    // rows as data; the per-side segment explode is a map-only
    // projection on top.
    val sh = materialize(simhashed(spark, corpusNear(spark, dir)))
    val seg = sh.select($"doc_id", $"simhash",
      explode(expr(s"transform(sequence(0, ${SimBits / SegBits - 1}), s -> named_struct('seg_id', s, 'seg_val', (simhash div CAST(pow(2, s * $SegBits) AS BIGINT)) % ${1 << SegBits}))")).as("seg"))
      .select($"doc_id", $"simhash", $"seg.seg_id", $"seg.seg_val")
    val l = seg.as("l"); val r = seg.as("r")
    // First-matching-segment dedup, replacing the distinct() aggregation:
    // a pair colliding in k segments surfaces k times from the join, so
    // keep only the copy at the LOWEST matching segment — "every segment
    // below this one differs" is a codegen'd filter over the two simhash
    // values already in the row, where distinct() had to buffer the full
    // candidate set in a hash aggregate to drop the same duplicates.
    // Exactly one copy per pair survives by construction (the first
    // matching segment exists and is unique), so the output multiset is
    // identical to distinct()'s.
    val firstMatch = (0 until SimBits / SegBits).map { s =>
      val priorsDiffer = (0 until s).map { p =>
        s"((l.simhash ^ r.simhash) div ${1L << (p * SegBits)}) % ${1 << SegBits} != 0"
      }
      (s"l.seg_id = $s" +: priorsDiffer).mkString("(", " AND ", ")")
    }.mkString(" OR ")
    l.join(r,
        $"l.seg_id" === $"r.seg_id" && $"l.seg_val" === $"r.seg_val" &&
        $"l.doc_id" < $"r.doc_id")
      .where(expr(firstMatch))
      .select($"l.doc_id".as("d1"), $"r.doc_id".as("d2"),
        expr("bit_count(l.simhash ^ r.simhash)").cast("long").as("hamming"))
      .where($"hamming" <= 8)
      .orderBy($"d1", $"d2")
  }

  val simhashSql: String = corpusNearSql +
    s""", tok AS (
       |  SELECT doc_id, w, count(*) AS cnt,
       |    ('0x' || substr(md5(w), 1, 12))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
       |  GROUP BY doc_id, w),
       |votes AS (
       |  SELECT doc_id, i,
       |    sum(CASE WHEN (h // CAST(pow(2, i) AS BIGINT)) % 2 = 1 THEN cnt ELSE -cnt END) AS vote
       |  FROM tok, range(0, $SimBits) t(i)
       |  GROUP BY doc_id, i),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id),
       |seg AS (
       |  SELECT doc_id, simhash, s AS seg_id,
       |    (simhash // CAST(pow(2, s * $SegBits) AS BIGINT)) % ${1 << SegBits} AS seg_val
       |  FROM sh, range(0, ${SimBits / SegBits}) t(s))
       |SELECT d1, d2, hamming FROM (
       |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
       |    CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
       |  FROM seg l JOIN seg r
       |    ON l.seg_id = r.seg_id AND l.seg_val = r.seg_val AND l.doc_id < r.doc_id)
       |WHERE hamming <= 8
       |ORDER BY d1, d2""".stripMargin

  // ---- N-gram Jaccard -------------------------------------------------

  /** D4: true 5-gram-shingle Jaccard over length-bucketed candidate pairs —
    * the verification stage downstream of an LSH pass (bucketing:
    * same lang, same n_chars//8 — bounded buckets, no cross join).
    *
    * Two-phase prefix-filtered inverted index (AllPairs/PPJoin-style):
    *
    * 1. CANDIDATES from a prefix-pruned postings self-join. A naive
    *    postings join has a hot-gram blowup: one ubiquitous 3-gram
    *    ("the") makes every same-bucket doc pair a candidate —
    *    |block|² rows on skewed real text. Instead each doc keeps only
    *    its PREFIX: the first ⌊|g|−τ·|g|⌋+1 grams in a global
    *    (document-frequency ASC, gram) order. Pigeonhole guarantee:
    *    J(A,B) ≥ τ ⇒ |A∩B| ≥ ⌈τ·|A|⌉, and A's suffix holds only
    *    ⌈τ·|A|⌉−1 grams, so some shared gram sits in A's prefix — the
    *    join keeps any colliding pair where EITHER side's gram is a
    *    prefix gram, so no qualifying pair is lost (exact, not a
    *    heuristic DF ceiling). Ubiquitous grams rank last and fall out
    *    of every prefix, killing the |block|² path.
    *
    * 2. EXACT intersection counts for the surviving candidate pairs
    *    only (candidates ⋈ postings ⋈ postings), then
    *    |A∪B| = |A|+|B|−|A∩B|. Everything is codegen'd joins and
    *    aggregates — no per-pair array set ops.
    */
  val JaccardTau = 0.5

  /** (doc_id, lang, bucket, grams) from (doc_id, lang, text). The
    * gram array is built by the native codegen'd [[graft.functions.CharGrams]]
    * expression — one static kernel call per row; the equivalent
    * `array_distinct(transform(sequence(...), i -> substring(...)))`
    * evaluates its lambda interpreted per ELEMENT (the HOF trap,
    * measured ~3.2 s of the sf0.1 budget on this exact shape).
    */
  /** See [[graft.Staging.spreadNarrow]]. */
  private def spreadNarrow(df: DataFrame): DataFrame = graft.Staging.spreadNarrow(df)

  private[graft] def gramTable(docs: DataFrame): DataFrame =
    spreadNarrow(docs)
      .withColumn("grams",
        graft.functions.StrFuncs.char_grams(col("text"), 5, sorted = true))
      .withColumn("bucket", expr("length(text) div 8"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("grams"))

  /** Session-shared staging for intermediates that are PERSISTED
    * TABLES in production: the signature index, the candidate-pair
    * table, and the cluster-label table are written once per corpus
    * snapshot and read by every downstream consumer — not re-derived
    * per query, and NEVER re-derived per ingest batch. Built at most
    * once per (session, input dir) and held as a materialized leaf for
    * the session's lifetime (all are doc- or pair-sized — orders of
    * magnitude under the corpus itself). Without this,
    * `dedup_keep_best` re-ran the full CC loop `dedup_clusters` had
    * just computed, and the incremental/streaming gates re-banded the
    * standing corpus on every use — the latter a genuine scale-killer
    * at 100 TB, where the standing index must be read, not rebuilt.
    */
  private val sessionStage = new graft.Staging.SessionCache()

  private def stagedOnce(spark: SparkSession, dir: String, key: String, serve: Serve)(
      build: => DataFrame): DataFrame =
    sessionStage.getOrBuild(spark, dir, key, serve)(build)

  /** Drop every staged entry for `(spark, dir)` and free its blocks /
    * checkpoint files. The cache key is the PATH, not a content
    * snapshot — callers that rewrite a corpus dir mid-session must
    * invalidate or the gates silently serve the stale index.
    */
  def invalidate(spark: SparkSession, dir: String): Unit =
    sessionStage.invalidate(spark, dir)

  /** (doc_id, lang, bucket, sz, gram) postings exploded from the
    * materialized gram-array table — sz rides along each row (no
    * sizes aggregation, no join-back, nothing that would need a
    * corpus-sized broadcast at scale), materialized once.
    */
  private def postingsOf(g: DataFrame): DataFrame = {
    import g.sparkSession.implicits._
    materialize(
      g.select($"doc_id", $"lang", $"bucket",
        size($"grams").as("sz"), explode($"grams").as("gram")))
  }

  /** Phase-1 candidate pairs from the prefix-pruned postings join
    * (exposed for the spec's bounded-candidate assertion; `g` is a
    * gram-array table from [[gramTable]]).
    */
  private[graft] def ngramCandidates(g: DataFrame, tau: Double): DataFrame =
    candidatesFromPostings(postingsOf(g), tau)

  private[graft] def candidatesFromPostings(postings: DataFrame,
      tau: Double): DataFrame = {
    import postings.sparkSession.implicits._
    val gramDf = postings.groupBy($"gram").agg(count(lit(1)).as("df"))
    // Per-doc prefix = the (sz − ⌈τ·sz⌉ + 1) grams smallest in the
    // global (df, gram) order. A bounded heap aggregate (map-side
    // partials, ≤ k rows per partition per doc cross the shuffle)
    // replaces the row_number sort-window that full-sorted every
    // posting row.
    val pre = postings.join(gramDf, "gram")
      .groupBy($"doc_id", $"lang", $"bucket")
      .agg(max($"sz").as("sz"),
        graft.functions.PrefixMinAgg.prefix_min(
          $"df", $"gram",
          ($"sz" - ceil(lit(tau) * $"sz") + 1).cast("int")).as("pgrams"))
      // posexplode: the heap drains ascending, so pos+1 is the gram's
      // 1-based rank in A's global (df, gram) order — free, where the
      // full side would need the row_number window back
      .select($"doc_id", $"lang", $"bucket", $"sz", posexplode($"pgrams"))
      .select($"doc_id", $"lang", $"bucket", $"sz",
        ($"pos" + 1).as("r"), $"col".as("gram"))
    // prefix postings ⋈ FULL postings — the filter must live in the
    // join INPUT, not a post-join predicate: a `(l.in_prefix ||
    // r.in_prefix)` filter after a full×full join still materializes
    // every hot-gram pair before discarding it. Here the hot gram's
    // prefix side is (near-)empty, so Σ|P_g|·|F_g| stays linear-ish.
    // Pigeonhole: J(A,B) ≥ τ ⇒ |A∩B| ≥ ⌈τ|A|⌉ and A's suffix holds
    // only ⌈τ|A|⌉−1 grams, so a shared gram sits in A's prefix and the
    // (prefix A) × (full B) join emits the pair whichever of d1/d2 is A.
    //
    // PPJoin position bound on top: via a shared gram at rank r in A,
    // overlap ≤ 1 + min(|A|−r, |B|−1), and J ≥ τ needs overlap ≥
    // τ/(1+τ)·(|A|+|B|). Sound under any-emission semantics: the
    // FIRST shared gram in global order bounds overlap exactly this
    // way and always passes, so a τ-similar pair is never lost
    // (epsilon guards the float threshold downward = conservative);
    // boundary-rank hot emissions die inside the join, before the
    // distinct shuffle and the scoring joins.
    val needed = lit(tau / (1 + tau)) * ($"p.sz" + $"f.sz") - lit(1e-9)
    val p = pre.as("p"); val f = postings.as("f")
    p.join(f,
        $"p.lang" === $"f.lang" && $"p.bucket" === $"f.bucket" &&
        $"p.gram" === $"f.gram" && $"p.doc_id" =!= $"f.doc_id" &&
        (lit(1) + least($"p.sz" - $"p.r", $"f.sz" - 1)) >= needed)
      .select(least($"p.doc_id", $"f.doc_id").as("d1"),
        greatest($"p.doc_id", $"f.doc_id").as("d2"))
      .distinct()
  }

  /** Full two-phase jaccard over an arbitrary (doc_id, lang, text)
    * frame (the graded query binds it to the documents table).
    *
    * Phase 2 scores each surviving candidate pair with per-pair array
    * set ops (intersect/union hash sets, O(|A|+|B|) each): with the
    * prefix filter bounding candidates to ~linear in corpus size,
    * 2×|cand| small-table joins beat re-exploding the postings into
    * two |cand|×|grams| row shuffles. The gram-array table is
    * materialized once and feeds both phases.
    */
  private[graft] def ngramJaccardOn(docs: DataFrame, tau: Double): DataFrame = {
    import docs.sparkSession.implicits._
    val g = materialize(gramTable(docs))
    val postings = postingsOf(g)
    val cand = candidatesFromPostings(postings, tau)
    // Pair verification on 64-bit gram hashes (same contract as D4c:
    // primitive merge scan ~25× the UTF8String one; set sizes are
    // identical modulo a ~1e-9 same-pair collision, spec-pinned):
    // J = |∩| / (|x| + |y| − |∩|) needs only the overlap count and
    // the two sizes, so the string arrays never reach the pair join.
    val gh = g.select($"doc_id",
      array_sort(transform($"grams", x => xxhash64(x))).as("gh"),
      size($"grams").as("szs"))
    // Round-robin balance the candidate PAIRS first: the prefix join
    // emits pairs clustered by hot documents, and with the (index-
    // sized) hash table riding the verification joins as an AQE
    // broadcast, that clustering otherwise caps the merge-scan at a
    // fraction of the available parallelism. Pair rows are 16 bytes —
    // the balancing shuffle is noise next to the scan it spreads.
    val result = cand
      .repartition(docs.sparkSession.sparkContext.defaultParallelism * 2)
      .join(gh.select($"doc_id".as("d1"), $"gh".as("g1"),
        $"szs".as("sz1")), "d1")
      .join(gh.select($"doc_id".as("d2"), $"gh".as("g2"),
        $"szs".as("sz2")), "d2")
      .withColumn("inter",
        graft.functions.StrFuncs.overlap_sorted_long($"g1", $"g2"))
      .withColumn("jaccard",
        $"inter".cast("double") / ($"sz1" + $"sz2" - $"inter"))
      .where($"jaccard" >= tau)
      .select($"d1", $"d2", $"jaccard")
    // materialize the (small) UNSORTED result, then free the big gram/
    // postings intermediates so they don't occupy storage memory for
    // the rest of the session. The sort comes after: a global orderBy
    // on the lazy plan would run the whole pipeline twice (the range
    // partitioner's sampling pass + the real pass).
    val out = materialize(result)
    release(g, postings)
    out.orderBy($"d1", $"d2")
  }

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // pair table staged once per corpus snapshot (cc_labels posture)
    stagedOnce(spark, dir, "jaccard_pairs", Serve.Distributed)(
      ngramJaccardOn(
        load(spark, dir, "documents").select("doc_id", "lang", "text"),
        JaccardTau))
      .orderBy($"d1", $"d2")
  }

  /** D4c containment threshold: C(A→B) = |grams(A)∩grams(B)|/|grams(A)|. */
  val ContainTau = 0.6

  /** Phase-1 DIRECTED candidates for containment: C(A→B) ≥ τ ⇒
    * |A∩B| ≥ ⌈τ|A|⌉, so A's (sz − ⌈τ·sz⌉ + 1)-gram global-rarity
    * prefix must share a gram with B (pigeonhole on A ALONE — that's
    * what makes the asymmetric measure prefix-filterable: the
    * container B carries no prefix obligation). No length-bucket
    * blocking — containment is exactly the measure that must cross
    * length buckets (a paragraph inside a book) — but B must carry
    * ≥ ⌈τ|A|⌉ grams at all, which prunes the big×tiny direction.
    */
  private[graft] def containmentCandidates(postings: DataFrame,
      tau: Double): DataFrame = {
    import postings.sparkSession.implicits._
    val gramDf = postings.groupBy($"gram").agg(count(lit(1)).as("df"))
    // df-ordered position of every gram within its doc (PPJoin's
    // ordering): pos 0 = the doc's globally rarest gram. One per-doc
    // window sort over ~|grams| rows — at any corpus size this is a
    // per-doc O(g log g), and it buys the POSITIONAL filter below.
    val ordered = postings.join(gramDf, "gram")
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"df", $"gram")) - 1)
    val pre = ordered
      .where($"pos" < $"sz" - ceil(lit(tau) * $"sz") + 1)
    val p = pre.as("p"); val f = ordered.as("f")
    // Positional upper bound (Xiao et al., PPJoin): a match of the
    // SAME gram at (pos i in x, pos j in y) caps the overlap at
    // min(|x|−i, |y|−j); for a τ-contained pair the FIRST common
    // gram sits in x's prefix (pigeonhole) and passes, so the filter
    // is lossless — but it prunes the boilerplate-gram pair storm
    // where a mid-prefix match can't possibly reach ⌈τ|x|⌉ anymore.
    p.join(f,
        $"p.lang" === $"f.lang" && $"p.gram" === $"f.gram" &&
        $"p.doc_id" =!= $"f.doc_id" &&
        $"f.sz" >= ceil(lit(tau) * $"p.sz") &&
        least($"p.sz" - $"p.pos", $"f.sz" - $"f.pos") >=
          ceil(lit(tau) * $"p.sz"))
      .select($"p.doc_id".as("d1"), $"f.doc_id".as("d2"))
      .distinct()
  }

  /** D4c: n-gram containment (`dedup_ngram_containment`) — the
    * ASYMMETRIC near-dup measure: d1's gram set is τ-contained in
    * d2's (quote / excerpt / superset detection — the case Jaccard
    * structurally misses, since a paragraph inside a book has tiny
    * Jaccard but containment ≈ 1). Same two-phase shape as D4: the
    * directed prefix-filtered candidate join above, then per-pair
    * scoring with the codegen'd [[graft.functions.OverlapSorted]]
    * merge-scan over the materialized gram arrays. Output is
    * DIRECTED (d1 contained-in d2).
    */
  def ngramContainment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the verified pair table is corpus-snapshot material: built once
    // per corpus, served from the session+lake cache thereafter (the
    // cc_labels / max_spans posture)
    stagedOnce(spark, dir, "containment_pairs", Serve.Distributed)(
      ngramContainmentBuild(spark, dir))
      .orderBy($"d1", $"d2")
  }

  private[graft] def ngramContainmentBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = materialize(gramTable(
      load(spark, dir, "documents").select("doc_id", "lang", "text")))
    val postings = postingsOf(g)
    val cand = containmentCandidates(postings, ContainTau)
    // Pair verification runs on 64-bit gram HASHES, not the string
    // arrays: τ=0.6's wide prefix admits ~2M candidates at sf0.1 and
    // the UTF8String merge scan was 95% of the query's task time
    // (measured 208 s core-time → ~8 s with primitive compares).
    // The hash arrays are built once per doc on the (doc-count-sized)
    // gram table, and the pair join ships 8-byte longs instead of
    // 13-byte grams. |x| still comes from the exact string set; a
    // same-pair 64-bit collision (P ≈ |pairs|·|grams|²/2⁶⁴ < 1e-9)
    // is the only way hash overlap could differ from string overlap —
    // spec-pinned equal at sf0.001, oracle unchanged (string
    // intersect).
    val gh = g.select($"doc_id",
      array_sort(transform($"grams", x => xxhash64(x))).as("gh"),
      size($"grams").as("szs"))
    // Pairs round-robin balanced before the verification joins — same
    // rationale as the D4 site (hot-document clustering otherwise
    // caps the merge-scan parallelism; measured 25 s task / 4.2 s
    // wall on 32 cores at sf0.1 before this).
    val result = cand
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .join(gh.select($"doc_id".as("d1"), $"gh".as("g1"),
        $"szs".as("sz1")), "d1")
      .join(gh.select($"doc_id".as("d2"), $"gh".as("g2")), "d2")
      .withColumn("containment", round(
        graft.functions.StrFuncs.overlap_sorted_long($"g1", $"g2")
          .cast("double") / $"sz1", 6))
      .where($"containment" >= ContainTau)
      .select($"d1", $"d2", $"containment")
    val out = materialize(result)
    release(g, postings)
    out
  }

  val ngramContainmentSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, lang,
       |    list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
       |      i -> substring(text, i, 5))) AS grams
       |  FROM documents)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |    len(a.grams), 6) AS containment
       |FROM g a JOIN g b
       |  ON a.lang = b.lang AND a.doc_id != b.doc_id
       |  AND len(b.grams) >= ceil($ContainTau * len(a.grams))
       |WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |    len(a.grams), 6) >= $ContainTau
       |ORDER BY d1, d2""".stripMargin

  val ngramJaccardSql: String =
    """WITH g AS (
      |  SELECT doc_id, lang, length(text) // 8 AS bucket,
      |    list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
      |      i -> substring(text, i, 5))) AS grams
      |  FROM documents)
      |SELECT l.doc_id AS d1, r.doc_id AS d2,
      |  CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) /
      |  CAST(len(list_distinct(list_cat(l.grams, r.grams))) AS DOUBLE) AS jaccard
      |FROM g l JOIN g r
      |  ON l.lang = r.lang AND l.bucket = r.bucket AND l.doc_id < r.doc_id
      |WHERE CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) /
      |      CAST(len(list_distinct(list_cat(l.grams, r.grams))) AS DOUBLE) >= 0.5
      |ORDER BY d1, d2""".stripMargin

  /** D21: benchmark decontamination — find corpus documents containing
    * any held-out evaluation phrase (the n-gram-overlap test-set leak
    * check every training corpus needs; Lee et al.-style exact
    * containment, phrase-level). The "benchmark" is derived
    * deterministically (8-token middle phrase of every 50th doc) so
    * the oracle can rebuild it; detection is a token-8-gram postings
    * equi-join — NOT a per-(doc × phrase) substring scan, which at
    * 100 TB × thousands of phrases would be quadratic. The phrase set
    * is small → broadcast side of the join.
    */
  val ContamPhraseTokens = 8

  /** The deterministic benchmark phrase set (8-token middle slice of
    * every 50th doc) — shared by D21, D21b, and their oracles.
    */
  private def benchPhrases(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.where($"doc_id" % 50 === 0)
      .select($"doc_id".as("bench_id"), split($"text", " ").as("toks"))
      .where(size($"toks") >= ContamPhraseTokens + 4)
      .select($"bench_id", concat_ws(" ",
        expr(s"slice(toks, CAST(size(toks) / 2 AS INT) - ${ContamPhraseTokens / 2}, $ContamPhraseTokens)"))
        .as("phrase"))
  }

  def contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents").select($"doc_id", $"text")
    val phrases = benchPhrases(docs)
    // corpus side: explode each doc into its token-8-gram phrases and
    // equi-join — the scalable containment test (token-aligned);
    // a sub-k-token doc can never contain a k-token phrase, so the
    // helper's size guard is exactly the right filter
    val grams = tokenGrams(docs, ContamPhraseTokens)
      .select($"doc_id", $"gram".as("phrase"))
    grams.join(broadcast(phrases), "phrase")
      .groupBy($"doc_id")
      .agg(countDistinct($"bench_id").as("n_benchmarks"),
        min($"bench_id").as("first_bench"))
      .orderBy($"doc_id")
  }

  val contaminationSql: String =
    s"""WITH pt AS (
       |  SELECT doc_id AS bench_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents WHERE doc_id % 50 = 0),
       |phrases AS (
       |  SELECT bench_id, array_to_string(
       |    toks[(n // 2 - ${ContamPhraseTokens / 2}) : (n // 2 + ${ContamPhraseTokens / 2 - 1})],
       |    ' ') AS phrase
       |  FROM pt WHERE n >= ${ContamPhraseTokens + 4})
       |SELECT d.doc_id,
       |  count(DISTINCT p.bench_id) AS n_benchmarks,
       |  min(p.bench_id) AS first_bench
       |FROM documents d JOIN phrases p
       |  ON position((' ' || p.phrase || ' ') IN (' ' || d.text || ' ')) > 0
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** D21b: overlap-RATIO decontamination (`dedup_contamination_ratio`)
    * — D21 answers "is this doc contaminated?"; curation policy needs
    * "how MUCH": the fraction of a document's tokens covered by
    * benchmark text decides drop-doc vs excise-span (the Lee et al. /
    * GPT-3 appendix-C overlap-fraction shape). Per (doc, benchmark):
    * the union of the token intervals [p, p+k−1] over all matching
    * anchor positions, as a fraction of the doc's token count.
    *
    * Same scalable skeleton as D21 — positional token-8-grams
    * equi-joined against the broadcast phrase set; then pure position
    * arithmetic: anchors on one (doc, bench) sort into gaps-and-
    * islands (break when the gap exceeds k, i.e. coverage would be
    * discontiguous), each island covering max(p)−min(p)+k tokens.
    * The window partitions by (doc, bench) — bounded by doc length,
    * never corpus-sized. The matched set is tiny, so the token-count
    * join-back broadcasts the AGGREGATED side against the corpus
    * scan, map-only.
    */
  def contaminationRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = ContamPhraseTokens
    val docs = load(spark, dir, "documents").select($"doc_id", $"text")
    val anchors = tokenGrams(docs, k)
      .join(broadcast(benchPhrases(docs)), $"gram" === $"phrase")
      .select($"doc_id", $"bench_id", $"p")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id", $"bench_id").orderBy($"p")
    val cov = anchors
      .withColumn("brk",
        when($"p" - lag($"p", 1).over(w) > k, 1).otherwise(0))
      .withColumn("isl", sum($"brk").over(w))
      .groupBy($"doc_id", $"bench_id", $"isl")
      .agg((max($"p") - min($"p") + k).as("cov_isl"),
        count(lit(1)).as("anch_isl"))
      .groupBy($"doc_id", $"bench_id")
      .agg(sum($"anch_isl").as("n_anchors"), sum($"cov_isl").as("cov_tokens"))
    val lens = docs.select($"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"))
    lens.join(broadcast(cov), "doc_id")
      .select($"doc_id", $"bench_id", $"n_anchors", $"cov_tokens", $"n_tokens",
        round($"cov_tokens".cast("double") / $"n_tokens", 6).as("contam_ratio"))
      .orderBy($"doc_id", $"bench_id")
  }

  val contaminationRatioSql: String = {
    val k = ContamPhraseTokens
    s"""WITH pt AS (
       |  SELECT doc_id AS bench_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents WHERE doc_id % 50 = 0),
       |phrases AS (
       |  SELECT bench_id, array_to_string(
       |    toks[(n // 2 - ${k / 2}) : (n // 2 + ${k / 2 - 1})], ' ') AS phrase
       |  FROM pt WHERE n >= ${k + 4}),
       |tg AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p,
       |    array_to_string(toks[p : p + ${k - 1}], ' ') AS gram
       |  FROM (
       |    SELECT doc_id, toks, unnest(range(1, n - ${k - 2})) AS p
       |    FROM (SELECT doc_id, string_split(text, ' ') AS toks,
       |            len(string_split(text, ' ')) AS n FROM documents)
       |    WHERE n >= $k)),
       |m AS (
       |  SELECT t.doc_id, ph.bench_id, t.p
       |  FROM tg t JOIN phrases ph ON t.gram = ph.phrase),
       |isl AS (
       |  SELECT doc_id, bench_id, p,
       |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id, bench_id ORDER BY p)
       |      > $k THEN 1 ELSE 0 END AS brk
       |  FROM m),
       |grp AS (
       |  SELECT doc_id, bench_id, p,
       |    sum(brk) OVER (PARTITION BY doc_id, bench_id ORDER BY p) AS isl
       |  FROM isl),
       |cov0 AS (
       |  SELECT doc_id, bench_id, isl,
       |    max(p) - min(p) + $k AS cov_isl, count(*) AS anch_isl
       |  FROM grp GROUP BY doc_id, bench_id, isl),
       |cov AS (
       |  SELECT doc_id, bench_id,
       |    CAST(sum(anch_isl) AS BIGINT) AS n_anchors,
       |    CAST(sum(cov_isl) AS BIGINT) AS cov_tokens
       |  FROM cov0 GROUP BY doc_id, bench_id),
       |lens AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT c.doc_id, c.bench_id, c.n_anchors, c.cov_tokens, l.n_tokens,
       |  round(CAST(c.cov_tokens AS DOUBLE) / l.n_tokens, 6) AS contam_ratio
       |FROM cov c JOIN lens l USING (doc_id)
       |ORDER BY c.doc_id, c.bench_id""".stripMargin
  }

  /** D22: passage-level exact dedup — the distributed complement of
    * whole-doc md5 (D1) and phrase containment (D21): find maximal
    * duplicated token SPANS of ≥ [[PassageMinTokens]] tokens shared
    * across documents, the Lee et al. "Deduplicating Training Data"
    * substring-dedup target re-expressed for Spark.
    *
    * Suffix arrays don't distribute; the equivalent join formulation
    * does: every token-[[PassageGramTokens]]-gram with its position is
    * a postings row, cross-doc equi-join on the gram yields anchor
    * matches, and consecutive anchors on one (d1, d2, p2−p1) diagonal
    * merge into maximal runs via gaps-and-islands. Exact both ways: a
    * duplicated span of T ≥ k tokens produces exactly T−k+1
    * consecutive anchors on one diagonal (reported length
    * count+k−1 = T), and any such run certifies a shared span.
    *
    * Scale: the join is a hash-partitioned equi-join on the gram; at
    * 100 TB a df-capped anchor filter (drop grams with document
    * frequency above a boilerplate threshold, then re-verify spans)
    * bounds the Σ|block|² hot-anchor cost — on natural text 8-token
    * grams are near-unique (22.6k distinct of 23.7k at sf0.01), so
    * blocks are singletons. The islands window partitions by
    * (d1, d2, diag) — bounded by the shorter doc's length.
    *
    * The corpus plants a 25-token mid-doc slice of every 9th (long
    * enough) doc inside a fresh host doc at a DIFFERENT position, so
    * the diagonal logic is exercised off the main diagonal.
    */
  val PassageGramTokens = 8
  val PassageMinTokens = 20

  private def passageCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents").select("doc_id", "text")
    d.union(d.where(col("doc_id") % 9 === 0 && size(split(col("text"), " ")) >= 40)
      .select((col("doc_id") + 20000).as("doc_id"),
        concat(lit("planted passage host document opens here "),
          concat_ws(" ", expr("slice(split(text, ' '), 5, 25)")),
          lit(" and closes with unrelated trailing tokens")).as("text")))
  }

  val passageCorpusSql: String =
    """WITH pcorpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 20000 AS doc_id,
      |    'planted passage host document opens here ' ||
      |    array_to_string((string_split(text, ' '))[5 : 29], ' ') ||
      |    ' and closes with unrelated trailing tokens' AS text
      |  FROM documents
      |  WHERE doc_id % 9 = 0 AND len(string_split(text, ' ')) >= 40)
      |""".stripMargin

  def passageDedup(spark: SparkSession, dir: String): DataFrame =
    passagesOn(passageCorpus(spark, dir), PassageGramTokens, PassageMinTokens)

  /** Positional token-k-grams of any frame with (doc_id, text):
    * (doc_id, p: 1-based token position as long, gram: k tokens
    * space-joined). Shared by D21 batch contamination, D22 passages,
    * and E6 streaming decontamination (it is pure column ops, so it
    * composes onto a streaming frame too).
    *
    * Shape notes: explode + slice/concat OUTSIDE any lambda — a
    * transform(...) building the grams would evaluate interpreted per
    * element; this stays in whole-stage codegen. The size guard does
    * double duty: a sub-k-token doc has no k-token gram (and an
    * unguarded `sequence(1, 0)` would emit a DESCENDING [1, 0]).
    */
  private[graft] def tokenGrams(docs: DataFrame, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", split($"text", " ").as("toks"))
      .where(size($"toks") >= k)
      .select($"doc_id", $"toks",
        explode(expr(s"sequence(1, size(toks) - ${k - 1})")).as("p"))
      .select($"doc_id", $"p".cast("long").as("p"),
        concat_ws(" ", expr(s"slice(toks, p, $k)")).as("gram"))
  }

  /** Core anchor-diagonal pass over any (doc_id, text) frame. */
  private[graft] def passagesOn(docs: DataFrame, k: Int, minTokens: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val grams = tokenGrams(docs, k)
    val a = grams.as("a"); val b = grams.as("b")
    val anchors = a.join(b, $"a.gram" === $"b.gram" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"a.p".as("p1"),
        $"b.doc_id".as("d2"), $"b.p".as("p2"),
        ($"b.p" - $"a.p").as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"d1", $"d2", $"diag").orderBy($"p1")
    anchors
      .withColumn("isl", $"p1" - row_number().over(w))
      .groupBy($"d1", $"d2", $"diag", $"isl")
      .agg(min($"p1").as("s1"), min($"p2").as("s2"),
        (count(lit(1)) + (k - 1)).as("match_len"))
      .where($"match_len" >= minTokens)
      .select($"d1", $"d2", $"s1".as("p1"), $"s2".as("p2"), $"match_len")
      .orderBy($"d1", $"d2", $"p1", $"p2")
  }

  val passageDedupSql: String = passageCorpusSql +
    s""", t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM pcorpus),
       |g AS (
       |  SELECT doc_id, p, array_to_string(toks[p : p + ${PassageGramTokens - 1}], ' ') AS gram
       |  FROM (
       |    SELECT doc_id, toks, unnest(range(1, n - ${PassageGramTokens - 2})) AS p
       |    FROM t WHERE n >= $PassageGramTokens)),
       |m AS (
       |  SELECT a.doc_id AS d1, a.p AS p1, b.doc_id AS d2, b.p AS p2, b.p - a.p AS diag
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
       |i AS (
       |  SELECT d1, d2, diag, p1, p2,
       |    p1 - row_number() OVER (PARTITION BY d1, d2, diag ORDER BY p1) AS isl
       |  FROM m)
       |SELECT d1, d2, min(p1) AS p1, min(p2) AS p2,
       |  CAST(count(*) + ${PassageGramTokens - 1} AS BIGINT) AS match_len
       |FROM i GROUP BY d1, d2, diag, isl
       |HAVING count(*) + ${PassageGramTokens - 1} >= $PassageMinTokens
       |ORDER BY d1, d2, p1, p2""".stripMargin

  /** D23: Bloom-filter ingest gate — the incremental-dedup pattern for
    * a corpus that grows batch by batch: the already-ingested corpus is
    * summarized ONCE into a fixed [[BloomBits]]-bit filter over
    * md5(text) content hashes ([[graft.functions.BloomAgg]] — map-side
    * partial filters OR-merge, so the build shuffle carries one bitset
    * per partition, never the key set), and the incoming batch probes
    * the broadcast filter map-only. At 100 TB the alternative — an
    * anti-join against all ingested hashes — re-shuffles the full
    * corpus key set on every batch; the filter is O(1) size chosen
    * from the target FP rate.
    *
    * Hashing is md5-derived, so the filter INCLUDING its false
    * positives is a pure function of the key set — the oracle replays
    * the exact bit positions in SQL (no rows-only escape). `is_dup`
    * (the exact answer, via the hash join the filter replaces) rides
    * along so the output exhibits the FP/no-FN contract; the spec
    * pins no-false-negatives and the FP bound.
    */
  val BloomBits = 65536
  val BloomHashes = 4

  def bloomGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents").select($"doc_id", $"text")
    // incoming batch: true duplicates of every 5th doc + fresh docs
    // derived from every 3rd (suffix-perturbed → new content hash)
    val incoming = docs.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 10000).as("doc_id"), $"text")
      .union(docs.where($"doc_id" % 3 === 0)
        .select(($"doc_id" + 30000).as("doc_id"),
          concat($"text", lit(" incoming fresh suffix")).as("text")))
    val bf = docs.agg(graft.functions.BloomAgg.bloom_agg(
      md5($"text".cast("binary")), BloomBits, BloomHashes).as("bf"))
    val truth = docs.select(md5($"text".cast("binary")).as("h")).distinct()
      .withColumn("present", lit(true))
    incoming
      .withColumn("h", md5($"text".cast("binary")))
      .crossJoin(broadcast(bf))
      .join(broadcast(truth), Seq("h"), "left")
      .select($"doc_id",
        graft.functions.BloomAgg.bloom_contains($"bf", $"h").as("flagged"),
        coalesce($"present", lit(false)).as("is_dup"))
      .orderBy($"doc_id")
  }

  val bloomGateSql: String =
    s"""WITH inc AS (
       |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 30000 AS doc_id, text || ' incoming fresh suffix' AS text
       |  FROM documents WHERE doc_id % 3 = 0),
       |setpos AS (
       |  SELECT DISTINCT
       |    ('0x' || substr(md5(i || ':' || md5(text)), 1, 15))::BIGINT % $BloomBits AS pos
       |  FROM documents, range(0, $BloomHashes) t(i)),
       |probe AS (SELECT doc_id, md5(text) AS h FROM inc),
       |cand AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(i || ':' || h), 1, 15))::BIGINT % $BloomBits AS pos
       |  FROM probe, range(0, $BloomHashes) t(i)),
       |hits AS (
       |  SELECT c.doc_id, bool_and(s.pos IS NOT NULL) AS flagged
       |  FROM cand c LEFT JOIN setpos s USING (pos) GROUP BY c.doc_id),
       |truth AS (SELECT DISTINCT md5(text) AS h FROM documents)
       |SELECT p.doc_id, hi.flagged, (t.h IS NOT NULL) AS is_dup
       |FROM probe p JOIN hits hi USING (doc_id) LEFT JOIN truth t USING (h)
       |ORDER BY doc_id""".stripMargin

  /** D23b: incremental MinHash dedup (`dedup_incremental`) — the
    * NEAR-dup complement of the [[bloomGate]] exact-hash gate, and the
    * production shape for a corpus that grows batch by batch: the
    * standing corpus is summarized ONCE into a persisted signature
    * index ([[minhashed]] — at scale a maintained table, not a
    * per-batch recomputation), and each incoming batch is signed
    * map-only and band-joined against the index. The candidate join
    * is batch×index on (band_id, band_hash) — batch-sized output,
    * never an index self-join, so daily-crawl dedup cost scales with
    * the BATCH, not the corpus. A revision whose text drifts by a
    * suffix keeps most of its shingles and fires (est ≥
    * [[IncThreshold]]); fresh content shares no band and short-circuits
    * to not-dup without a single signature comparison.
    *
    * The batch here derives from the corpus deterministically
    * (revisions of every 5th doc, md5-gibberish fresh docs from every
    * 3rd) so the DuckDB oracle replays the whole gate exactly,
    * including est values (multiples of 1/64 — exact in both
    * engines).
    */
  val IncThreshold = 0.5

  /** The standing corpus's signature table (raw `documents`, not the
    * near-dup planted corpus) — the persisted index the incremental
    * and streaming gates join against. Staged once per session.
    */
  private[graft] def docSignatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stagedOnce(spark, dir, "doc_sigs", Serve.Distributed)(
      minhashed(load(spark, dir, "documents").select($"doc_id", $"text")))
  }

  /** [[docSignatures]] band-exploded and hot-band-capped,
    * MATERIALIZED — the standing band index an ingest gate reads. As a
    * leaf, the static side of the E10 stream-static join is data; the
    * band explode + width aggregation run once per corpus snapshot,
    * not once per micro-batch.
    */
  private[graft] def bandIndex(spark: SparkSession, dir: String): DataFrame =
    stagedOnce(spark, dir, "band_index", Serve.Distributed)(
      materialize(cappedBands(docSignatures(spark, dir))))

  def minhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents").select($"doc_id", $"text")
    val incoming = docs.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 50000).as("doc_id"),
        concat($"text", lit(" rev2 batch tail")).as("text"))
      .union(docs.where($"doc_id" % 3 === 0)
        .select(($"doc_id" + 70000).as("doc_id"),
          md5(concat(lit("fresh:"), $"doc_id".cast("string"))).as("text")))
    val index = docSignatures(spark, dir) // the persisted signature index
    val batch = minhashed(incoming) // batch-sized; feeds bands + scoring
    // index side runs through the staged hot-band-capped band index
    // (the batch side is bounded by the batch itself)
    val cands = bandsOf(batch).as("n")
      .join(bandIndex(spark, dir).as("o"),
        $"n.band_id" === $"o.band_id" && $"n.band_hash" === $"o.band_hash")
      .select($"n.doc_id".as("d_new"), $"o.doc_id".as("d_old"))
      .distinct()
    val scored = cands
      .join(batch.select($"doc_id".as("d_new"), $"minhashes".as("s1")), "d_new")
      .join(index.select($"doc_id".as("d_old"), $"minhashes".as("s2")), "d_old")
      .select($"d_new", sigEst($"s1", $"s2").as("est"))
    val agg = scored.groupBy($"d_new")
      .agg(count(lit(1)).as("n_cands"), max($"est").as("best_est"))
    batch.select($"doc_id")
      .join(agg.select($"d_new".as("doc_id"), $"n_cands", $"best_est"),
        Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_cands", lit(0L)).as("n_cands"),
        $"best_est",
        coalesce($"best_est" >= IncThreshold, lit(false)).as("is_dup"))
      .orderBy($"doc_id")
  }

  /** Shared incremental-gate CTE chain (incoming batch + union
    * signatures + band table) — also the E10 streaming-gate oracle
    * prefix.
    */
  val minhashIncCtes: String =
    s"""WITH inc AS (
       |  SELECT doc_id + 50000 AS doc_id, text || ' rev2 batch tail' AS text
       |  FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 70000 AS doc_id, md5('fresh:' || doc_id) AS text
       |  FROM documents WHERE doc_id % 3 = 0),
       |ad AS (
       |  SELECT doc_id, text, 0 AS is_new FROM documents
       |  UNION ALL SELECT doc_id, text, 1 AS is_new FROM inc),
       |sh AS (
       |  SELECT doc_id, is_new,
       |    list_distinct(list_transform(range(1, greatest(length(text) - ${ShingleLen - 1}, 1) + 1),
       |      i -> substring(text, i, $ShingleLen))) AS shingles
       |  FROM ad),
       |hashed AS (
       |  SELECT doc_id, is_new,
       |    list_transform(shingles, s ->
       |      ('0x' || substr(md5(s), 1, 15))::BIGINT % $MinhashP) AS hs,
       |    list_transform(range(0, $NumHashes), j ->
       |      ('0x' || substr(md5('a:' || j), 1, 7))::BIGINT % ${MinhashP - 1} + 1) AS ha,
       |    list_transform(range(0, $NumHashes), j ->
       |      ('0x' || substr(md5('b:' || j), 1, 7))::BIGINT % $MinhashP) AS hb
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id, is_new,
       |    list_transform(range(1, $NumHashes + 1), j ->
       |      list_min(list_transform(hs, h -> (ha[j] * h + hb[j]) % $MinhashP))) AS minhashes
       |  FROM hashed),
       |bands AS (
       |  SELECT doc_id, is_new, minhashes, b AS band_id,
       |    md5(array_to_string(minhashes[b * $RowsPerBand + 1 : b * $RowsPerBand + $RowsPerBand], ',')) AS band_hash
       |  FROM mh, range(0, $Bands) t(b)),
       |obw AS (
       |  SELECT band_id, band_hash, count(*) AS w
       |  FROM bands WHERE is_new = 0 GROUP BY band_id, band_hash),
       |okept AS (
       |  SELECT b.doc_id, b.minhashes, b.band_id, b.band_hash
       |  FROM bands b JOIN obw USING (band_id, band_hash)
       |  WHERE b.is_new = 0 AND obw.w <= $BandCap)""".stripMargin

  val minhashIncrementalSql: String = minhashIncCtes +
    s""", cands AS (
       |  SELECT DISTINCT n.doc_id AS d_new, o.doc_id AS d_old
       |  FROM bands n JOIN okept o
       |    ON n.band_id = o.band_id AND n.band_hash = o.band_hash
       |   AND n.is_new = 1),
       |scored AS (
       |  SELECT c.d_new,
       |    CAST(len(list_filter(range(1, $NumHashes + 1),
       |      i -> m1.minhashes[i] = m2.minhashes[i])) AS DOUBLE) / $NumHashes AS est
       |  FROM cands c
       |  JOIN mh m1 ON m1.doc_id = c.d_new AND m1.is_new = 1
       |  JOIN mh m2 ON m2.doc_id = c.d_old AND m2.is_new = 0),
       |agg AS (
       |  SELECT d_new AS doc_id, count(*) AS n_cands, max(est) AS best_est
       |  FROM scored GROUP BY d_new)
       |SELECT i.doc_id, coalesce(a.n_cands, 0) AS n_cands, a.best_est,
       |  coalesce(a.best_est >= $IncThreshold, false) AS is_dup
       |FROM inc i LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** D4b: bounded edit-distance near-dup pass. Blocking is two-level —
    * (lang, length bucket, 12-char prefix) — so the O(len²) distance
    * only runs on near-certain candidates; the corpusNear plants give
    * it guaranteed suffix-edit pairs to find.
    */
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = corpusNear(spark, dir)
      .withColumn("pfx", substring($"text", 1, 12))
      .withColumn("bucket", expr("length(text) div 32"))
    val l = d.as("l"); val r = d.as("r")
    l.join(r,
        $"l.pfx" === $"r.pfx" && $"l.bucket" === $"r.bucket" &&
        $"l.doc_id" < $"r.doc_id")
      // native banded levenshtein (O(len·k) two-row DP on a decoded
      // char array): the builtin's threshold form bands too, but its
      // per-cell UTF8String.charAt re-scans the string (variable-width
      // encoding), degrading to ~2 ms per ~300-char pair — 6.5 s of
      // this query's 6.6 s at sf0.1. For kept pairs (dist ≤ 25 < the
      // band) the value is exact, so the full-distance oracle agrees
      // on every surviving row
      .withColumn("dist",
        graft.functions.StrFuncs.lev_banded($"l.text", $"r.text", 26).cast("long"))
      .where($"dist" >= 0 && $"dist" <= 25)
      .select($"l.doc_id".as("d1"), $"r.doc_id".as("d2"), $"dist")
      .orderBy($"d1", $"d2")
  }

  val editDistanceSql: String = corpusNearSql +
    """, d AS (
      |  SELECT doc_id, text, substring(text, 1, 12) AS pfx,
      |    length(text) // 32 AS bucket
      |  FROM corpus)
      |SELECT l.doc_id AS d1, r.doc_id AS d2,
      |  CAST(levenshtein(l.text, r.text) AS BIGINT) AS dist
      |FROM d l JOIN d r
      |  ON l.pfx = r.pfx AND l.bucket = r.bucket AND l.doc_id < r.doc_id
      |WHERE levenshtein(l.text, r.text) <= 25
      |ORDER BY d1, d2""".stripMargin

  /** Connected components by iterative min-label propagation: each
    * round is one join + one min-aggregate, both hash-partitioned on
    * doc_id; rounds needed = graph diameter. The loop runs driver-side
    * but touches only DataFrame handles.
    *
    * Runs to CONVERGENCE — a fixed iteration cap that silently returns
    * would mislabel any cluster whose diameter exceeds it. [[MaxIters]]
    * is a runaway backstop only: hitting it throws.
    *
    * Checkpointing: lineage is truncated every round through
    * [[graft.Staging.materialize]] (otherwise each iteration's plan
    * re-embeds the full upstream DAG and planning blows the driver
    * heap). Superseded rounds' blocks are freed eagerly — leaving them
    * cached starves every later query in the session.
    *
    * Per-round driver work is ONE materializing job: the new labels are
    * checkpointed with the previous label carried alongside, so the
    * convergence check scans the materialized rows instead of
    * re-running the propagation plan.
    */
  val MaxIters = 64

  private[graft] def connectedComponents(docs: DataFrame, pairs: DataFrame,
      maxIters: Int = MaxIters): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def ckpt(df: DataFrame): DataFrame = materialize(df)
    // materialize the pair table ONCE, then derive both edge directions
    // from the materialized rows — the upstream candidate DAG (minhash
    // here) is expensive and must not run twice
    val p = ckpt(pairs.toDF("d1", "d2"))
    val edges = p.union(p.select($"d2".as("d1"), $"d1".as("d2")))
      .toDF("src", "dst")
    var labels = ckpt(docs.select(col(docs.columns.head).as("doc_id"))
      .select($"doc_id", $"doc_id".as("cluster_id")))
    var converged = false
    var iter = 0
    while (!converged) {
      iter += 1
      if (iter > maxIters) {
        release(labels, p)
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxIters rounds — " +
            "component diameter exceeds the backstop; raise maxIters")
      }
      val viaNeighbor = edges
        .join(labels.select($"doc_id".as("src"), $"cluster_id"), "src")
        .select($"dst".as("doc_id"), $"cluster_id")
      val next = ckpt(
        labels.select($"doc_id", $"cluster_id").union(viaNeighbor)
          .groupBy($"doc_id").agg(min($"cluster_id").as("cluster_id"))
          .join(labels.select($"doc_id", $"cluster_id".as("prev")), "doc_id"))
      val changed = next.where($"cluster_id" =!= $"prev").limit(1).count()
      release(labels)
      labels = next.select($"doc_id", $"cluster_id")
      converged = changed == 0
    }
    release(p)
    labels
  }

  /** Connected components by alternating large-star/small-star rounds
    * (the two-phase MapReduce CC algorithm, public from Kiveris et
    * al., "Connected Components in MapReduce and Beyond"): each round
    * re-points every node's larger neighbors (large-star) then its
    * smaller neighbors (small-star) at the locally-known minimum.
    * Rounds needed grow ~logarithmically in component diameter —
    * min-label propagation ([[connectedComponents]]) needs a round
    * PER HOP, so on chain-shaped near-dup graphs (doc A ~ A' ~ A''…)
    * this roughly halves the materializing jobs.
    *
    * Same contract as [[connectedComponents]]: converges or THROWS at
    * the [[MaxIters]] backstop, one materializing job per round,
    * superseded rounds released eagerly, labels = min reachable
    * doc_id.
    */
  private[graft] def connectedComponentsTwoPhase(docs: DataFrame, pairs: DataFrame,
      maxIters: Int = MaxIters): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val p = materialize(pairs.toDF("d1", "d2"))
    // canonical undirected edges (a < b), deduped
    var edges = materialize(
      p.select(least($"d1", $"d2").as("a"), greatest($"d1", $"d2").as("b"))
        .where($"a" =!= $"b").distinct())
    var converged = false
    var iter = 0
    while (!converged) {
      iter += 1
      if (iter > maxIters) {
        release(edges, p)
        throw new IllegalStateException(
          s"connectedComponentsTwoPhase did not converge within $maxIters rounds — " +
            "raise maxIters")
      }
      // large-star: for each node x, point every LARGER neighbor at
      // m(x) = min(Γ(x) ∪ {x}); m(x) ≤ x < neighbor keeps the output
      // canonical with no self-loops. No explicit repartitioning: the
      // per-node min tables (lm/sm) sit under AQE's broadcast
      // threshold here, and forcing hash exchanges to "reuse" a
      // partitioning was measured 50% slower than letting AQE pick
      // broadcast joins.
      val dir = edges.union(edges.select($"b".as("a"), $"a".as("b")))
      val lm = dir.groupBy($"a").agg(min($"b").as("mn"))
        .select($"a", least($"mn", $"a").as("m"))
      // the distinct earns its shuffle: without it duplicate (m, b)
      // rows (every x that shares min m with a neighbor of b emits
      // one) multiply through the small-star joins — measured slower
      val large = dir.join(lm, "a").where($"b" > $"a")
        .select($"m".as("a"), $"b").distinct()
      // small-star: reduce on the larger endpoint b over its smaller
      // neighbors; point them (and b) at their minimum
      val sm = large.groupBy($"b").agg(min($"a").as("m"))
      val next = materialize(
        large.join(sm, "b").select($"m".as("a2"), $"a".as("b2"))
          .union(sm.select($"m".as("a2"), $"b".as("b2")))
          .where($"a2" =!= $"b2")
          .distinct()
          .toDF("a", "b"))
      // converged iff the canonical edge set is a fixed point: both
      // sets are distinct, so an edge in exactly one shows up with
      // count 1 in the concatenation. Count-compare first — both
      // frames are materialized, so counts are narrow jobs, and in
      // every non-final round the cardinalities almost always differ,
      // short-circuiting the 2|E|-row set-diff shuffle to the
      // (usually one) equal-count round.
      val changed =
        if (next.count() != edges.count()) 1L
        else next.union(edges).groupBy($"a", $"b")
          .agg(count(lit(1)).as("c")).where($"c" === 1).limit(1).count()
      release(edges)
      // fresh-stats leaf: the round plan references `edges` ~8 times
      // (dir union + lm/large/sm joins), so checkpoint-inherited
      // stats would compound x8 per round — million-bit sizeInBytes
      // BigIntegers on slow-converging chain graphs
      // ([[org.apache.spark.sql.graftbridge.Bridge.freshStatsLeaf]])
      edges = org.apache.spark.sql.graftbridge.Bridge.freshStatsLeaf(next)
      converged = changed == 0
    }
    // at convergence every component is a star centered at its min:
    // leaves read their label off the edge, centers and isolated docs
    // label themselves
    val leafLbl = edges.select($"b".as("doc_id"), $"a".as("cluster_id"))
    val labels = docs.select(col(docs.columns.head).as("doc_id"))
      .join(leafLbl, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
    release(p)
    labels
  }

  /** D15: dedup-cluster closure — connected components over the
    * near-dup candidate graph (minhash pairs as edges), labeling each
    * doc with the minimum doc_id reachable from it. The step that
    * turns pairwise similarity into keep/drop groups. Runs the
    * two-phase star algorithm (fewer rounds on chain-shaped duplicate
    * graphs); [[connectedComponents]] is the one-hop-per-round
    * propagation twin, equivalence spec-pinned.
    */
  /** The converged D15 cluster assignment as a session+lake staged
    * artifact (`cc_labels`, doc_id-keyed) — cluster labels are
    * corpus-snapshot material exactly like the minhash band index:
    * the closure runs ONCE per snapshot and every consumer (D15's
    * report, D15c's size histogram, D15b's representative pick, a
    * later session) reads the label table instead of re-running the
    * star rounds.
    */
  private def ccLabels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sessionStage.getOrBuild(spark, dir, "cc_labels", Serve.Keyed("doc_id")) {
      materialize(
        connectedComponentsTwoPhase(corpusNear(spark, dir).select($"doc_id"),
          minhashPairs(spark, dir)).repartition($"doc_id"))
    }
  }

  def clusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ccLabels(spark, dir)
      .withColumn("is_canonical", $"doc_id" === $"cluster_id")
      .orderBy($"doc_id")
  }

  /** D15c: cluster-size distribution (`dedup_cluster_sizes`) — the
    * dedup-health report read before acting on D15's labels: how many
    * singletons (unique docs), how many pairs, how large is the
    * biggest near-dup family. A heavy tail here means a boilerplate
    * template is eating the corpus (and that D15b's representative
    * choice matters); all-singletons means the MinHash threshold is
    * too tight. Reuses the SESSION-STAGED pair table and the D15
    * closure — on top of them this is two tiny aggregations
    * (clusters-sized, then sizes-sized); nothing corpus-scale moves.
    */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusters(spark, dir)
      .groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
      .select($"sz".as("cluster_size"), $"n_clusters")
      .orderBy($"cluster_size")
  }

  /** Wraps the full D15 oracle as a derived table and histograms it
    * (lazy: [[clustersSql]] initializes later in this object).
    */
  lazy val clusterSizesSql: String =
    "SELECT sz AS cluster_size, count(*) AS n_clusters FROM (" +
      "SELECT cluster_id, count(*) AS sz FROM (\n" + clustersSql +
      "\n) GROUP BY cluster_id) GROUP BY sz ORDER BY cluster_size"

  val clustersSql: String =
    minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") +
    """, edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION ALL SELECT d2, d1 FROM pairs),
      |reach(doc_id, lbl) AS (
      |  SELECT doc_id, doc_id FROM corpus
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id)
      |SELECT doc_id, min(lbl) AS cluster_id,
      |  doc_id = min(lbl) AS is_canonical
      |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** D15b: quality-aware cluster representative selection
    * (`dedup_keep_best`) — the last step of a production dedup
    * pipeline: after near-dup clustering, KEEP THE BEST member of
    * each cluster rather than the arbitrary lowest id (a crawl's
    * canonical copy is usually the cleanest, not the first-seen).
    * Composes three existing pieces end to end: D15's two-phase
    * connected components over the minhash candidate graph, D9's
    * quality score per member, and the `row_number()=1` keep-first
    * idiom that [[graft.plans.RewriteRankLimit]] turns into one
    * bounded-heap aggregation per cluster — no per-cluster sort, ≤1
    * row per (partition, cluster) crossing the shuffle. Ties break to
    * the smallest doc_id; score arithmetic is the D9 expression both
    * engines evaluate bit-identically (text_quality's hash-green row
    * is the proof), so the argmax replays exactly.
    */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = corpusNear(spark, dir)
    val labels = ccLabels(spark, dir)
    val q = graft.text.TextAnalytics.qualityCols(docs)
      .select($"doc_id", $"score")
    val lq = labels.join(q, "doc_id")
    val keeps = lq
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"cluster_id").orderBy($"score".desc, $"doc_id")))
      .where($"rn" === 1)
      .select($"cluster_id", $"doc_id".as("keep_id"))
    lq.join(keeps, "cluster_id")
      .select($"doc_id", $"cluster_id", $"score", $"keep_id",
        ($"doc_id" === $"keep_id").as("is_kept"))
      .orderBy($"doc_id")
  }

  val keepBestSql: String =
    minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") +
    """, edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION ALL SELECT d2, d1 FROM pairs),
      |reach(doc_id, lbl) AS (
      |  SELECT doc_id, doc_id FROM corpus
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id),
      |lab AS (
      |  SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id),
      |tq AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    length(text) AS n_chars_m,
      |    len(list_filter(string_split(text, ' '),
      |        w -> list_contains(['the', 'a', 'of', 'and'], w))) AS n_stop
      |  FROM corpus),
      |qs AS (
      |  SELECT doc_id,
      |    ((CAST(n_chars_m - n_tokens + 1 AS DOUBLE) / n_tokens) * 0.2) +
      |    ((CAST(n_stop AS DOUBLE) / n_tokens) * 2.0) +
      |    (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0) AS score
      |  FROM tq),
      |lq AS (
      |  SELECT l.doc_id, l.cluster_id, q.score
      |  FROM lab l JOIN qs q USING (doc_id)),
      |keeps AS (
      |  SELECT cluster_id, doc_id AS keep_id FROM (
      |    SELECT cluster_id, doc_id,
      |      row_number() OVER (PARTITION BY cluster_id
      |                         ORDER BY score DESC, doc_id) AS rn
      |    FROM lq) WHERE rn = 1)
      |SELECT d.doc_id, d.cluster_id, d.score, k.keep_id,
      |  d.doc_id = k.keep_id AS is_kept
      |FROM lq d JOIN keeps k USING (cluster_id)
      |ORDER BY doc_id""".stripMargin

  /** D41: contaminated-span excision (`dedup_span_excise`) — the
    * third act of the decontamination story: D21 detects, D21b
    * measures, this REPAIRS — drop exactly the token positions
    * covered by any benchmark 8-gram match and emit the cleaned
    * document (the GPT-3/PaLM appendix policy of excising spans
    * instead of dropping whole documents). The covered-position set
    * explodes from the SAME anchor join D21 runs (broadcast phrase
    * set, postings equi-join — never a per-(doc, phrase) scan); the
    * rebuild is one per-doc ordered fold. Output is
    * contaminated-docs-sized; cleaned text ships as its md5 so the
    * hash compare pins the exact reconstruction without megabyte
    * rows.
    */
  def spanExcise(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = ContamPhraseTokens
    val docs = load(spark, dir, "documents").select($"doc_id", $"text")
    val anchors = tokenGrams(docs, k)
      .join(broadcast(benchPhrases(docs)), $"gram" === $"phrase")
      .select($"doc_id", $"p")
    val covered = anchors
      .select($"doc_id", explode(sequence($"p", $"p" + (k - 1))).as("pos"))
      .distinct()
    val nCov = covered.groupBy($"doc_id").agg(count(lit(1)).as("n_excised"))
    val toks = docs
      .join(nCov.select($"doc_id"), "doc_id") // contaminated docs only
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("p0", "tok")))
      .select($"doc_id", ($"p0" + 1).as("pos"), $"tok")
    val cleaned = toks
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy($"doc_id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct($"pos", $"tok"))),
          s => s.getField("tok"))).as("cleaned"))
    val lens = docs.select($"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"))
    nCov.join(broadcast(lens), "doc_id")
      .join(cleaned, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens", $"n_excised",
        ($"n_tokens" - $"n_excised").as("n_remaining"),
        md5(coalesce($"cleaned", lit("")).cast("binary")).as("cleaned_h"))
      .orderBy($"doc_id")
  }

  val spanExciseSql: String = {
    val k = ContamPhraseTokens
    s"""WITH pt AS (
       |  SELECT doc_id AS bench_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents WHERE doc_id % 50 = 0),
       |phrases AS (
       |  SELECT bench_id, array_to_string(
       |    toks[(n // 2 - ${k / 2}) : (n // 2 + ${k / 2 - 1})], ' ') AS phrase
       |  FROM pt WHERE n >= ${k + 4}),
       |tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n FROM documents),
       |tg AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p,
       |    array_to_string(toks[p : p + ${k - 1}], ' ') AS gram
       |  FROM (SELECT doc_id, toks, unnest(range(1, n - ${k - 2})) AS p
       |        FROM tk WHERE n >= $k)),
       |anch AS (
       |  SELECT DISTINCT t.doc_id, t.p
       |  FROM tg t JOIN phrases ph ON ph.phrase = t.gram),
       |cov AS (
       |  SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos
       |  FROM (SELECT doc_id, unnest(range(p, p + $k)) AS pos FROM anch)),
       |nc AS (SELECT doc_id, count(*) AS n_excised FROM cov GROUP BY doc_id),
       |tok AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INT)] AS tok
       |  FROM (SELECT tk.doc_id, toks,
       |          unnest(generate_series(1, CAST(n AS INT))) AS i
       |        FROM tk JOIN nc USING (doc_id))),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.tok FROM tok t
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
       |cl AS (
       |  SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS cleaned
       |  FROM kept GROUP BY doc_id)
       |SELECT nc.doc_id, tk.n AS n_tokens, nc.n_excised,
       |  tk.n - nc.n_excised AS n_remaining,
       |  md5(coalesce(cl.cleaned, '')) AS cleaned_h
       |FROM nc JOIN tk USING (doc_id) LEFT JOIN cl USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** D1c: cross-source duplication matrix (`dedup_source_overlap`) —
    * WHICH crawls duplicate each other: the near-dup candidate pairs
    * (the staged D2 pair table — no new corpus work) tagged with each
    * side's source, rolled up per unordered source pair with its
    * share of all pairs. High off-diagonal mass means two feeds
    * mirror each other (dedup ACROSS them before mixing); diagonal
    * mass is within-crawl boilerplate. The doc→source map joins as a
    * plain shuffle join — at scale it is doc-cardinality, never a
    * broadcast build side.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = load(spark, dir, "documents").select($"doc_id", $"source")
    val smap = src.union(src.where($"doc_id" % 7 === 0)
      .select(($"doc_id" + 10000).as("doc_id"), $"source"))
    val tagged = minhashPairs(spark, dir)
      .join(smap.select($"doc_id".as("d1"), $"source".as("sa")), "d1")
      .join(smap.select($"doc_id".as("d2"), $"source".as("sb")), "d2")
      .select(least($"sa", $"sb").as("source_a"),
        greatest($"sa", $"sb").as("source_b"))
    val tot = tagged.agg(count(lit(1)).as("total"))
    tagged.groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select($"source_a", $"source_b", $"n_pairs",
        round($"n_pairs".cast("double") / $"total".cast("double"), 6)
          .as("share_r"))
      .orderBy($"source_a", $"source_b")
  }

  val sourceOverlapSql: String = minhashCtes +
    """, smap AS (
      |  SELECT doc_id, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, source FROM documents WHERE doc_id % 7 = 0),
      |tagged AS (
      |  SELECT least(s1.source, s2.source) AS source_a,
      |    greatest(s1.source, s2.source) AS source_b
      |  FROM pairs p
      |  JOIN smap s1 ON s1.doc_id = p.d1
      |  JOIN smap s2 ON s2.doc_id = p.d2),
      |tot AS (SELECT count(*) AS total FROM tagged)
      |SELECT source_a, source_b, count(*) AS n_pairs,
      |  round(CAST(count(*) AS DOUBLE)
      |    / (SELECT CAST(total AS DOUBLE) FROM tot), 6) AS share_r
      |FROM tagged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Winnowing k-gram length / window / shared-fingerprint floor /
    * similarity floor. The pair set is parameter-robust here: (12,5,
    * 8,.2), (16,6,6,.25) and (20,8,5,.3) all select the same 25
    * near-dup pairs at sf0.01 — the property winnowing is built for.
    */
  private val WinK = 16
  private val WinW = 6
  private val WinT = 6
  private val WinSim = 0.25

  /** Stop-fingerprint document-frequency cap: a fingerprint present
    * in more docs than this is boilerplate — it contributes Σd² pair
    * work that grows with corpus-wide phrase popularity (unbounded at
    * 100 TB) while never discriminating a near-dup pair (measured: the
    * pair set is IDENTICAL with cap 64, 128, or none at both graded
    * SFs; max uncapped bucket at sf0.1 is 276 docs carrying ~20% of
    * the pair work). Same reasoning as the MinHash hot-band cap.
    */
  private val WinDfCap = 64

  /** D50: winnowing fingerprints (`dedup_winnowing`) — the MOSS
    * local-fingerprinting algorithm (Schleimer, Wilkerson, Aiken,
    * SIGMOD'03): hash every [[WinK]]-gram, slide a [[WinW]]-hash
    * window, keep each window's MINIMUM hash — selection is LOCAL, so
    * any shared substring of length ≥ k+w−1 is guaranteed to share a
    * fingerprint (the guarantee random sampling lacks and MinHash
    * only gives in expectation), at ~2/(w+1) the k-gram density.
    * The repo's 4th near-dup family: D2 samples globally per doc,
    * D4 compares full gram multisets, D22 hashes fixed passages —
    * winnowing catches LOCALIZED plagiarism/copies inside otherwise
    * different docs.
    *
    * Scale: hashing + window-min + dedup are ONE map-side HOF chain
    * over each doc's own gram array (no explode before selection —
    * the fingerprint table is already ~2/(w+1) sparser than grams);
    * the materialized fingerprint table feeds the inverted-index
    * pair join and both count join-backs as data. Pair work is
    * Σ|bucket|² over md5-fingerprint buckets — bounded by true
    * duplication, never corpus².
    */
  /** The winnowing selection for ANY (doc_id, text) frame — split out
    * so the spec can pin the k+w−1 shared-substring guarantee on
    * synthetic docs. */
  private[graft] def winnowFps(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .where(length($"text") >= WinK + WinW - 1)
      .withColumn("hs", expr(
        s"""transform(sequence(1, length(text) - $WinK + 1),
           |  i -> CAST(conv(substring(md5(cast(substring(text, i, $WinK)
           |    as binary)), 1, 15), 16, 10) AS BIGINT))""".stripMargin))
      .select($"doc_id", expr(
        s"""array_distinct(transform(
           |  sequence(0, size(hs) - $WinW),
           |  i -> array_min(slice(hs, i + 1, $WinW))))""".stripMargin).as("fps"))
  }

  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fingerprint-pair table staged once per corpus snapshot
    stagedOnce(spark, dir, "win_pairs", Serve.Distributed)(materialize(winnowingBuild(spark, dir)))
      .orderBy($"a", $"b")
  }

  private[graft] def winnowingBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sel = materialize(winnowFps(
      load(spark, dir, "documents").select($"doc_id", $"text")))
    val fp0 = sel.select($"doc_id", explode($"fps").as("f"))
    // stop-fingerprint removal: broadcast the BOUNDED side. The set of
    // fingerprints with df > WinDfCap grows with phrase popularity
    // (boilerplate), not with corpus size, so it stays driver-sized at
    // 100 TB; the complement (df <= cap) is nearly all distinct
    // fingerprints and grows linearly with the corpus. Anti join on the
    // stop set keeps the explode+filter map-only for all consumers.
    val stop = fp0.groupBy($"f").agg(count(lit(1)).as("d"))
      .where($"d" > WinDfCap).select($"f")
    val fp = fp0.join(broadcast(stop), Seq("f"), "left_anti")
    val counts = fp.groupBy($"doc_id").agg(count(lit(1)).as("n_fp"))
    // counts is one row per document — corpus-sized — so the join-backs
    // must NOT be broadcast; the post-threshold pair table is tiny, so
    // a plain shuffle join is the scale-safe shape and AQE may still
    // choose to broadcast the small PAIR side at runtime.
    fp.select($"doc_id".as("a"), $"f")
      .join(fp.select($"doc_id".as("b"), $"f"), "f")
      .where($"a" < $"b")
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("n_shared"))
      .where($"n_shared" >= WinT)
      .join(counts.select($"doc_id".as("a"), $"n_fp".as("n_fp_a")), "a")
      .join(counts.select($"doc_id".as("b"), $"n_fp".as("n_fp_b")), "b")
      .withColumn("sim_r", round($"n_shared".cast("double") /
        ($"n_fp_a" + $"n_fp_b" - $"n_shared").cast("double"), 6))
      .where($"n_shared".cast("double") /
        ($"n_fp_a" + $"n_fp_b" - $"n_shared").cast("double") >= WinSim)
      .select($"a", $"b", $"n_shared", $"n_fp_a", $"n_fp_b", $"sim_r")
  }

  val winnowingSql: String =
    s"""WITH hs AS (
       |  SELECT doc_id,
       |    list_transform(range(1, length(text) - $WinK + 2),
       |      i -> ('0x' || substr(md5(substring(text, i, $WinK)), 1, 15))::BIGINT)
       |      AS h
       |  FROM documents WHERE length(text) >= ${WinK + WinW - 1}),
       |sel AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(0, len(h) - $WinW + 1),
       |      i -> list_aggregate(h[i+1:i+$WinW], 'min'))) AS fps
       |  FROM hs),
       |fp0 AS (SELECT doc_id, unnest(fps) AS f FROM sel),
       |keepf AS (SELECT f FROM fp0 GROUP BY f HAVING count(*) <= $WinDfCap),
       |fp AS (SELECT fp0.* FROM fp0 JOIN keepf USING (f)),
       |counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
       |  FROM fp GROUP BY doc_id),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
       |  FROM fp x JOIN fp y ON x.f = y.f AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $WinT)
       |SELECT p.a, p.b, p.n_shared, ca.n_fp AS n_fp_a, cb.n_fp AS n_fp_b,
       |  round(CAST(p.n_shared AS DOUBLE)
       |    / CAST(ca.n_fp + cb.n_fp - p.n_shared AS DOUBLE), 6) AS sim_r
       |FROM pairs p
       |JOIN counts ca ON ca.doc_id = p.a
       |JOIN counts cb ON cb.doc_id = p.b
       |WHERE CAST(p.n_shared AS DOUBLE)
       |    / CAST(ca.n_fp + cb.n_fp - p.n_shared AS DOUBLE) >= $WinSim
       |ORDER BY p.a, p.b""".stripMargin

  // ------------------------------- D27 maximal duplicated spans

  /** D27: maximal duplicated spans (`dedup_max_span`) — Lee et
    * al.-style exact substring dedup (\"Deduplicating Training Data
    * Makes Language Models Better\", ACL 2022, the ExactSubstr
    * component): the LONGEST character-grain spans shared verbatim
    * across document pairs, at ARBITRARY length ≥ [[MaxSpanMinLen]].
    * D22 (passages) anchors token 8-grams with a 20-token floor and
    * winnowing samples fingerprints at k+w−1 grain; neither reports
    * maximal spans below its anchor density. Here a positional
    * char-[[MaxSpanK]]-gram chain does (k = minLen, so every
    * reportable span carries at least one anchor and maximality
    * stays exact — raising k from 16 to 24 cut natural anchor
    * collisions 8x at sf0.1 with zero semantic change for spans
    * >= minLen): characters matching over
    * [i, i+L) ⇔ positional k-grams matching at i..i+L−k — one run of
    * L−k+1 consecutive anchors on one (d1, d2, diagonal) — so a
    * MAXIMAL anchor run IS a maximal character span of exactly the
    * run length + k−1 (extending by one char would extend the run).
    * Lee et al. build a suffix array for this; positional-gram
    * islands are the shuffle-native equivalent at spans ≥ k.
    *
    * Scale shape: gram emission is map-side explode; the anchor join
    * keys on the gram with a broadcast stop-gram anti join ([[MaxSpanDfCap]]
    * df cap — the bounded BOILERPLATE side, winnowing's inverted-
    * broadcast pattern), so pair cost is Σ|df≤cap|²-bounded; island
    * grouping is one hash shuffle on (d1, d2, diag) with map-side
    * row_number over sorted partitions. The documented contract:
    * hot grams (df > cap) SPLIT spans — a span containing any df>cap
    * gram is reported as the shorter sub-cap islands around it (and
    * fragments below minLen vanish), so reported spans are maximal
    * only over sub-cap anchor runs; spans whose every gram is
    * boilerplate are not reported at all. The cap bounds hot-gram
    * Σdf² at ANY corpus size.
    *
    * The planted corpus copies a 90-char slice of every 7th document
    * into a host with fresh flanks, so known maximal spans exist
    * alongside the corpus's natural near-dup pairs.
    */
  val MaxSpanK = 24
  val MaxSpanDfCap = 64
  val MaxSpanMinLen = 24
  val MaxSpanTopN = 50

  private def maxSpanCorpus(spark: SparkSession, dir: String): DataFrame = {
    // synthetic hosts live at doc_id + (max(doc_id) + 1): derived from
    // the corpus, so the id spaces are collision-free at ANY doc_id
    // range (a fixed +40000 offset silently merged two texts' grams
    // once a corpus carried ids past it — caught live by the sf0.5
    // scale probe's shifted ids). One broadcast scalar join-back, the
    // repo's standard pattern; mirrored in [[maxSpanCorpusSql]].
    val d = load(spark, dir, "documents").select("doc_id", "text")
    val base = d.agg((max(col("doc_id")) + 1).as("host_base"))
    d.union(d.where(col("doc_id") % 7 === 0 && length(col("text")) >= 160)
      .crossJoin(broadcast(base))
      .select((col("doc_id") + col("host_base")).as("doc_id"),
        concat(lit("maxspan host prefix text "),
          expr("substring(text, 40, 90)"),
          lit(" maxspan trailing filler content")).as("text")))
  }

  val maxSpanCorpusSql: String =
    """WITH hb AS (SELECT max(doc_id) + 1 AS host_base FROM documents),
      |mcorpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + (SELECT host_base FROM hb),
      |    'maxspan host prefix text ' ||
      |    substr(text, 40, 90) || ' maxspan trailing filler content'
      |  FROM documents WHERE doc_id % 7 = 0 AND length(text) >= 160)
      |""".stripMargin

  /** Core maximal-span pass over any (doc_id, text) frame: every
    * maximal cross-doc span ≥ `minLen` built from sub-`dfCap` grams,
    * as (d1, d2, p1, p2, span_len). Exposed for the planted spec.
    */
  private[graft] def maxSpansOn(docs: DataFrame, k: Int, dfCap: Int,
      minLen: Int): DataFrame = maxSpansKeyed(docs, k, dfCap, minLen,
    g => xxhash64(g))

  /** [[maxSpansOn]] with the anchor key a function of the gram: the
    * production key is xxhash64 — the gram string itself never leaves
    * the map side, and the anchor shuffle/joins carry 8-byte longs
    * (measured 2.3× end-to-end vs string keys at sf0.1). A 64-bit
    * collision between two of the corpus's distinct grams would fake
    * an anchor (P ≈ n²/2⁶⁵); the spec pins hash-key ≡ string-key
    * span-for-span on real data, the repo's xxhash64 precedent.
    */
  private[graft] def maxSpansKeyed(docs: DataFrame, k: Int, dfCap: Int,
      minLen: Int, key: Column => Column): DataFrame = {
    import docs.sparkSession.implicits._
    val grams = docs.where(length($"text") >= k)
      .select($"doc_id", $"text",
        explode(expr(s"sequence(1, length(text) - ${k - 1})")).as("p"))
      .select($"doc_id", $"p".cast("long").as("p"),
        key(expr(s"substring(text, p, $k)")).as("gram"))
    // stop-gram removal: broadcast the BOUNDED boilerplate side
    // (df > cap grows with phrase popularity, not corpus size)
    val stop = grams.groupBy($"gram").agg(count(lit(1)).as("d"))
      .where($"d" > dfCap).select($"gram")
    val kept = materialize(grams.join(broadcast(stop), Seq("gram"), "left_anti"))
    val a = kept.as("a"); val b = kept.as("b")
    val anchors = a.join(b, $"a.gram" === $"b.gram" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"a.p".as("p1"),
        $"b.doc_id".as("d2"), $"b.p".as("p2"),
        ($"b.p" - $"a.p").as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"d1", $"d2", $"diag").orderBy($"p1")
    anchors
      .withColumn("isl", $"p1" - row_number().over(w))
      .groupBy($"d1", $"d2", $"diag", $"isl")
      .agg(min($"p1").as("p1"), min($"p2").as("p2"),
        (count(lit(1)) + (k - 1)).as("span_len"))
      .where($"span_len" >= minLen)
      .select($"d1", $"d2", $"p1", $"p2", $"span_len")
  }

  def maxSpanDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = maxSpanCorpus(spark, dir)
    // the span table is corpus-snapshot material (grams/anchors/
    // islands rebuilt only when the corpus changes): session+lake
    // staged like cc_labels, steady-state reads the artifact. Key
    // suffix _hb = host-base id derivation; the lake fingerprints the
    // CORPUS, so an operator-semantics change must re-key or a
    // pre-change artifact would be served
    val spans = stagedOnce(spark, dir, "max_spans_hb", Serve.Distributed) {
      materialize(maxSpansOn(corpus, MaxSpanK, MaxSpanDfCap, MaxSpanMinLen))
    }
    spans
      .orderBy($"span_len".desc, $"d1", $"d2", $"p1", $"p2")
      .limit(MaxSpanTopN)
      // text join-back AFTER the top-N cut: 50 rows against the
      // corpus — stats/AQE broadcast the small side
      .join(corpus.select($"doc_id".as("d1"), $"text"), "d1")
      .select($"d1", $"d2", $"p1", $"p2", $"span_len",
        expr("substring(text, CAST(p1 AS INT), CAST(span_len AS INT))").as("span"))
      .orderBy($"span_len".desc, $"d1", $"d2", $"p1", $"p2")
  }

  val maxSpanDedupSql: String = maxSpanCorpusSql +
    s""", g AS (
       |  SELECT doc_id, unnest(range(1, length(text) - $MaxSpanK + 2)) AS p, text
       |  FROM mcorpus),
       |gr AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p, substr(text, p, $MaxSpanK) AS gram
       |  FROM g),
       |stop AS (SELECT gram FROM gr GROUP BY gram HAVING count(*) > $MaxSpanDfCap),
       |kept AS (SELECT gr.* FROM gr LEFT JOIN stop USING (gram)
       |  WHERE stop.gram IS NULL),
       |m AS (
       |  SELECT a.doc_id AS d1, a.p AS p1, b.doc_id AS d2, b.p AS p2,
       |    b.p - a.p AS diag
       |  FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id),
       |i AS (
       |  SELECT d1, d2, diag, p1, p2,
       |    p1 - row_number() OVER (PARTITION BY d1, d2, diag ORDER BY p1) AS isl
       |  FROM m),
       |sp AS (
       |  SELECT d1, d2, min(p1) AS p1, min(p2) AS p2,
       |    CAST(count(*) + $MaxSpanK - 1 AS BIGINT) AS span_len
       |  FROM i GROUP BY d1, d2, diag, isl
       |  HAVING count(*) + $MaxSpanK - 1 >= $MaxSpanMinLen),
       |top AS (
       |  SELECT * FROM sp
       |  ORDER BY span_len DESC, d1, d2, p1, p2 LIMIT $MaxSpanTopN)
       |SELECT t.d1, t.d2, t.p1, t.p2, t.span_len,
       |  substr(c.text, CAST(t.p1 AS INT), CAST(t.span_len AS INT)) AS span
       |FROM top t JOIN mcorpus c ON c.doc_id = t.d1
       |ORDER BY t.span_len DESC, t.d1, t.d2, t.p1, t.p2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_max_span" -> maxSpanDedup _,
    "dedup_winnowing" -> winnowing _,
    "dedup_source_overlap" -> sourceOverlap _,
    "dedup_span_excise" -> spanExcise _,
    "dedup_clusters" -> clusters _,
    "dedup_cluster_sizes" -> clusterSizes _,
    "dedup_exact" -> exact _,
    "dedup_minhash" -> minhash _,
    "dedup_minhash_accuracy" -> minhashAccuracy _,
    "dedup_simhash" -> simhash _,
    "dedup_ngram_jaccard" -> ngramJaccard _,
    "dedup_ngram_containment" -> ngramContainment _,
    "dedup_edit_distance" -> editDistance _,
    "dedup_contamination" -> contamination _,
    "dedup_contamination_ratio" -> contaminationRatio _,
    "dedup_passages" -> passageDedup _,
    "dedup_bloom_gate" -> bloomGate _,
    "dedup_incremental" -> minhashIncremental _,
    "dedup_keep_best" -> keepBest _,
    "dedup_rate_report" -> dedupRateReport _)

  val oracleSql: Map[String, String] = Map(
    "dedup_max_span" -> maxSpanDedupSql,
    "dedup_winnowing" -> winnowingSql,
    "dedup_source_overlap" -> sourceOverlapSql,
    "dedup_span_excise" -> spanExciseSql,
    "dedup_bloom_gate" -> bloomGateSql,
    "dedup_clusters" -> clustersSql,
    "dedup_cluster_sizes" -> clusterSizesSql,
    "dedup_exact" -> (corpusExactSql +
      """SELECT doc_id, md5(text) AS h,
        |  min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
        |  doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        |FROM corpus ORDER BY doc_id""".stripMargin),
    "dedup_minhash" -> minhashSql,
    "dedup_minhash_accuracy" -> minhashAccuracySql,
    "dedup_simhash" -> simhashSql,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_ngram_containment" -> ngramContainmentSql,
    "dedup_edit_distance" -> editDistanceSql,
    "dedup_contamination" -> contaminationSql,
    "dedup_contamination_ratio" -> contaminationRatioSql,
    "dedup_passages" -> passageDedupSql,
    "dedup_incremental" -> minhashIncrementalSql,
    "dedup_keep_best" -> keepBestSql,
    "dedup_rate_report" -> dedupRateReportSql)
}
