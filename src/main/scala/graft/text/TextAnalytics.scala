package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Staging.{materialize, Serve}
import graft.Tables.load

/** Text-analysis operators for training-data curation (SURVEY §2
  * D8–D11) over the `documents` table.
  *
  * All per-document: embarrassingly parallel, no shuffle except the
  * final presentation sort — at 100 TB these run as a single map
  * stage over the corpus, and every scoring formula is plain SQL
  * arithmetic so the DuckDB oracle reproduces it exactly.
  */
object TextAnalytics {

  /** Per-language discriminator token profiles (derived from the
    * corpus' per-language frequency ranking). The CASE-chain argmax
    * gives a fixed tie-break priority, identical in the oracle.
    */
  val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("hash", "order", "table", "window", "spark"),
    "de" -> Seq("customer", "join", "column", "key", "vector"),
    "es" -> Seq("slow", "agg", "merge", "vector", "query"),
    "fr" -> Seq("scan", "data", "batch", "query", "line"),
    "zh" -> Seq("join", "small", "customer", "row", "stream"))

  private def profileScore(words: Seq[String]): Column = {
    val set = words.map(w => s"'$w'").mkString(", ")
    expr(s"size(filter(split(text, ' '), w -> w IN ($set)))").cast("long")
  }

  /** D8: n-gram/stopword-profile language ID. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = load(spark, dir, "documents")
      .withColumns(profiles.map { case (l, ws) => s"s_$l" -> profileScore(ws) }.toMap)
    val pred = profiles.foldRight(lit("und")) { case ((l, _), els) =>
      val c = col(s"s_$l")
      val others = profiles.filter(_._1 != l).map(p => col(s"s_${p._1}"))
      when(others.foldLeft(lit(true))((acc, o) => acc && c >= o), l).otherwise(els)
    }
    scored
      .withColumn("lang_pred", pred)
      .select(($"doc_id" +: $"lang" +: $"lang_pred" +:
        profiles.map(p => col(s"s_${p._1}"))): _*)
      .orderBy($"doc_id")
  }

  /** D9: quality scoring — length/token/stopword/char-class ratios
    * composed into a keep/drop score. Formula order matters (IEEE
    * parity with the oracle): keep the exact expression shape in sync.
    */
  /** The quality columns over any frame with `text` — shared by the
    * graded D9 query and the curation composite (D24), so the formula
    * can't drift between them.
    */
  private[graft] def qualityCols(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    d.withColumn("n_tokens", size(split($"text", " ")).cast("long"))
      .withColumn("n_chars_m", length($"text"))
      .withColumn("n_stop",
        expr("size(filter(split(text, ' '), w -> w IN ('the', 'a', 'of', 'and')))"))
      .withColumn("avg_token_len",
        ($"n_chars_m" - $"n_tokens" + 1).cast("double") / $"n_tokens")
      .withColumn("stop_ratio", $"n_stop".cast("double") / $"n_tokens")
      .withColumn("score",
        ($"avg_token_len" * 0.2) + ($"stop_ratio" * 2.0) +
          (least($"n_tokens", lit(100)).cast("double") / 100.0))
      .withColumn("keep", $"score" > 1.5 && $"n_tokens" >= 10)
  }

  def quality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    qualityCols(load(spark, dir, "documents"))
      .select($"doc_id", $"n_tokens", $"avg_token_len", $"stop_ratio",
        $"score", $"keep")
      .orderBy($"doc_id")
  }

  /** D28: Gopher-rule document filter (the Rae et al. 2021 §A1.1
    * hard-gate family, instantiated with thresholds that have signal
    * on this corpus): word-count bounds, a mean-word-length band, a
    * minimum distinct-stopword presence, and a most-frequent-word
    * dominance cap (the word-level analog of Gopher's
    * top-2-gram-character-fraction rule). keep = all gates pass.
    *
    * Map-only: every metric is a higher-order fold over the split
    * word array inside one projection — at 100 TB this is a single
    * map stage, the shape a production quality-filter pass ships.
    * Ratios are rounded to 6 dp in BOTH engines before the gate
    * comparisons so a parallel-accumulation ulp can't flip `keep`.
    */
  private val GopherStops = Seq("the", "a", "of", "and", "in", "to", "is")

  def gopherFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .withColumn("words", expr("filter(split(text, '\\\\s+'), w -> w != '')"))
      .withColumn("n_words", size($"words").cast("long"))
      .withColumn("mean_wlen", round(
        expr("aggregate(words, 0L, (acc, w) -> acc + length(w))").cast("double")
          / $"n_words", 6))
      .withColumn("distinct_stop",
        size(array_intersect(array_distinct($"words"),
          array(GopherStops.map(lit): _*))).cast("long"))
      .withColumn("top_frac", round(
        array_max(expr("transform(array_distinct(words), w -> size(filter(words, x -> x = w)))"))
          .cast("double") / $"n_words", 6))
      .select($"doc_id", $"n_words", $"mean_wlen", $"distinct_stop", $"top_frac",
        ($"n_words" >= 20 && $"n_words" <= 90 &&
          $"mean_wlen" >= 4.0 && $"mean_wlen" <= 5.0 &&
          $"distinct_stop" >= 1 && $"top_frac" <= 0.15).as("keep"))
      .orderBy($"doc_id")
  }

  val gopherFilterSql: String = {
    val stops = GopherStops.map(s => s"'$s'").mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS words
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(words) AS BIGINT) AS n_words,
       |    round(CAST(list_aggregate(list_transform(words, x -> strlen(x)), 'sum')
       |      AS DOUBLE) / len(words), 6) AS mean_wlen,
       |    CAST(len(list_intersect(list_distinct(words), [$stops])) AS BIGINT)
       |      AS distinct_stop,
       |    round(CAST(list_max(list_transform(list_distinct(words),
       |      w -> len(list_filter(words, x -> x = w)))) AS DOUBLE) / len(words), 6)
       |      AS top_frac
       |  FROM w)
       |SELECT doc_id, n_words, mean_wlen, distinct_stop, top_frac,
       |  (n_words >= 20 AND n_words <= 90 AND mean_wlen >= 4.0 AND mean_wlen <= 5.0
       |    AND distinct_stop >= 1 AND top_frac <= 0.15) AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** D9h: hashed-feature linear quality classifier
    * (`text_quality_clf`) — the fastText-style shape (Joulin et al.
    * 2016, "Bag of Tricks for Efficient Text Classification") of the
    * D9 heuristic: unigram+bigram features hashed into
    * [[ClfBuckets]] buckets (md5-derandomized so any engine replays
    * the featurizer bit-for-bit), one naive-Bayes log-count-ratio
    * weight per bucket learned against the D9 `keep` rule as weak
    * supervision (the distill-the-heuristic bootstrap used when no
    * human labels exist), and scoring as a pure dot product.
    *
    * Scale shape: the label rides the SAME projection the features
    * explode from (no doc-level join anywhere); training is one
    * partially-aggregated shuffle onto 128 bucket keys; the weight
    * table (≤128 rows) broadcasts back and scoring is a map + one
    * per-doc aggregation. At 100 TB: two map passes over the corpus
    * and a 128-row broadcast — nothing corpus-sized shuffles.
    *
    * Parity: weights are differences of 9-dp-rounded `ln` terms
    * (identical doubles in both engines), per-doc sums use the
    * quantized order-free accumulator, the final mean is rounded
    * 6 dp — the D9e/D9f guard stack.
    */
  private val ClfBuckets = 128

  /** Trained classifier weights staged per (session, corpus) — the
    * 128-row model table a production pipeline persists after one
    * training pass and broadcasts to every scoring job.
    */
  private val modelStage = new graft.Staging.SessionCache()

  /** Drop staged model tables for `(spark, dir)`. */
  def invalidate(spark: SparkSession, dir: String): Unit =
    modelStage.invalidate(spark, dir)

  private def clfFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labeled = qualityCols(load(spark, dir, "documents"))
      .select($"doc_id", $"keep".as("label"), split($"text", " ").as("toks"))
    labeled.select($"doc_id", $"label",
        explode(concat($"toks",
          expr("""transform(slice(toks, 1, size(toks) - 1),
                 |  (t, i) -> concat(t, ' ', element_at(toks, i + 2)))""".stripMargin)))
          .as("f"))
      .select($"doc_id", $"label",
        expr(s"CAST(conv(substring(md5(cast(concat('qclf:', f) as binary)), 1, 7), 16, 10) AS BIGINT) % $ClfBuckets")
          .as("b"))
  }

  private[graft] def clfWeights(spark: SparkSession, dir: String): DataFrame =
    modelStage.getOrBuild(spark, dir, "qclf_weights", Serve.Local) {
      import spark.implicits._
      val counts = clfFeatures(spark, dir).groupBy($"b").agg(
        count(when($"label", 1)).as("n_pos"),
        count(when(!$"label", 1)).as("n_neg"))
      val tots = counts.agg(sum($"n_pos").as("pos_tot"), sum($"n_neg").as("neg_tot"))
      // ≤128 rows — the persisted model table
      materialize(counts.crossJoin(broadcast(tots))
        .select($"b",
          (round(log(($"n_pos" + 1).cast("double") / ($"pos_tot" + ClfBuckets)), 9) -
           round(log(($"n_neg" + 1).cast("double") / ($"neg_tot" + ClfBuckets)), 9)).as("w")))
    }

  def qualityClf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = clfFeatures(spark, dir)
    val weights = clfWeights(spark, dir)
    feats.join(broadcast(weights), "b")
      .groupBy($"doc_id", $"label")
      .agg(count(lit(1)).as("n_feat"), graft.Tables.qsum($"w").as("s"))
      .select($"doc_id", $"label", $"n_feat",
        round($"s" / $"n_feat", 6).as("score_r"))
      .withColumn("pred_keep", $"score_r" > 0)
      .orderBy($"doc_id")
  }

  /** The trained weights as a dense bucket-indexed array of quantized
    * longs (`floor(w·1e9 + 0.5)`) — the broadcast-literal form the
    * streaming gate inlines so stream scoring is STATELESS map-only;
    * buckets unseen in training weigh 0 (unreachable on the same
    * corpus, safe on any other).
    */
  private[graft] def clfWeightsQuantized(spark: SparkSession, dir: String): Array[Long] = {
    val arr = new Array[Long](ClfBuckets)
    clfWeights(spark, dir).collect().foreach { r =>
      arr(r.getLong(0).toInt) = math.floor(r.getDouble(1) * 1e9 + 0.5).toLong
    }
    arr
  }

  /** Feature-array column (unigrams + bigrams) for any `toks` array
    * column — the streaming gate's per-row form of [[clfFeatures]].
    */
  private[graft] def clfFeatureArray(toks: Column): Column =
    concat(toks, expr(
      """transform(slice(toks, 1, size(toks) - 1),
        |  (t, i) -> concat(t, ' ', element_at(toks, i + 2)))""".stripMargin))

  /** md5 feature bucket (must mirror [[clfFeatures]] and the oracle). */
  private[graft] def clfBucket(f: Column): Column =
    conv(substring(md5(concat(lit("qclf:"), f).cast("binary")), 1, 7), 16, 10)
      .cast("long") % ClfBuckets

  private[graft] val ClfBucketCount: Int = ClfBuckets

  private val qualityClfCtes: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    length(text) AS n_chars_m,
       |    len(list_filter(string_split(text, ' '),
       |        w -> list_contains(['the', 'a', 'of', 'and'], w))) AS n_stop
       |  FROM documents),
       |l AS (
       |  SELECT doc_id, toks,
       |    ((CAST(n_chars_m - n_tokens + 1 AS DOUBLE) / n_tokens) * 0.2
       |      + (CAST(n_stop AS DOUBLE) / n_tokens) * 2.0
       |      + CAST(least(n_tokens, 100) AS DOUBLE) / 100.0) > 1.5
       |      AND n_tokens >= 10 AS label
       |  FROM t),
       |f AS (
       |  SELECT doc_id, label, unnest(toks) AS f FROM l
       |  UNION ALL
       |  SELECT doc_id, label, toks[i] || ' ' || toks[i + 1] AS f
       |  FROM (SELECT doc_id, label, toks, unnest(range(1, len(toks))) AS i FROM l)),
       |hb AS (
       |  SELECT doc_id, label,
       |    ('0x' || substr(md5('qclf:' || f), 1, 7))::BIGINT % $ClfBuckets AS b
       |  FROM f),
       |c AS (
       |  SELECT b,
       |    count(*) FILTER (WHERE label) AS n_pos,
       |    count(*) FILTER (WHERE NOT label) AS n_neg
       |  FROM hb GROUP BY b),
       |tot AS (SELECT sum(n_pos) AS pos_tot, sum(n_neg) AS neg_tot FROM c),
       |w AS (
       |  SELECT b,
       |    round(ln(CAST(n_pos + 1 AS DOUBLE) / (pos_tot + $ClfBuckets)), 9)
       |      - round(ln(CAST(n_neg + 1 AS DOUBLE) / (neg_tot + $ClfBuckets)), 9) AS w
       |  FROM c, tot),
       |s AS (
       |  SELECT doc_id, label, count(*) AS n_feat,
       |    ${graft.Tables.qsumSql("w.w")} AS s
       |  FROM hb JOIN w USING (b) GROUP BY doc_id, label)""".stripMargin

  val qualityClfSql: String = qualityClfCtes +
    """
      |SELECT doc_id, label, n_feat,
      |  round(s / n_feat, 6) AS score_r,
      |  round(s / n_feat, 6) > 0 AS pred_keep
      |FROM s ORDER BY doc_id""".stripMargin

  /** E11 oracle: the same trained scores, gate projection. */
  private[graft] val qualityGateSql: String = qualityClfCtes +
    """
      |SELECT doc_id, n_feat,
      |  round(s / n_feat, 6) AS score_r,
      |  round(s / n_feat, 6) > 0 AS pred_keep
      |FROM s ORDER BY doc_id""".stripMargin

  /** D29: deterministic global corpus shuffle + sharding — the
    * pre-training permutation every LLM data pipeline ends with.
    * Each doc gets a seed-stable pseudo-random sort key (md5 over a
    * seeded id), a shard from the key's hash prefix, and a position
    * from a SHARD-LOCAL sort. At 100 TB a single global ORDER BY
    * range-partitions the whole corpus through one sort wave;
    * hash-bucketing the key space first makes every shard's sort
    * independent and bounded (shards stream to their writers in
    * parallel — [[ShuffleShards]] is a demo-sized stand-in for the
    * thousands a real run uses), and re-runs are byte-identical, so
    * resuming a partially-written shuffle never reorders data.
    */
  val ShuffleShards = 8

  def corpusShuffle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .withColumn("skey", expr("md5(cast(concat('shuf:', doc_id) as binary))"))
      .withColumn("shard", expr(
        s"CAST(conv(substring(skey, 1, 7), 16, 10) AS BIGINT) % $ShuffleShards"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"shard").orderBy($"skey", $"doc_id")).cast("long"))
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  val corpusShuffleSql: String =
    s"""WITH k AS (
       |  SELECT doc_id, md5('shuf:' || doc_id) AS skey,
       |    ('0x' || substr(md5('shuf:' || doc_id), 1, 7))::BIGINT % $ShuffleShards
       |      AS shard
       |  FROM documents)
       |SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
       |    AS BIGINT) AS pos
       |FROM k ORDER BY shard, pos""".stripMargin

  /** D10: token counting — whitespace tokens + BPE-ish regex subwords
    * (greedy ≤3-char chunks, a stand-in for a real BPE vocab).
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .withColumn("n_ws_tokens", size(split($"text", " ")).cast("long"))
      .withColumn("n_subwords",
        size(expr("regexp_extract_all(text, '[a-z]{1,3}', 0)")).cast("long"))
      .withColumn("chars_per_subword",
        length($"text").cast("double") / $"n_subwords")
      .select($"doc_id", $"n_ws_tokens", $"n_subwords", $"chars_per_subword")
      .orderBy($"doc_id")
  }

  /** D11: 31-base polynomial rolling-hash fingerprint mod 1e9+7, with
    * collision-group sizes. The fold is a codegen'd higher-order
    * `aggregate`, not a UDF.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .withColumn("fp", expr(
        """aggregate(sequence(1, length(text)), 0L,
          |  (acc, i) -> (acc * 31 + ascii(substring(text, i, 1))) % 1000000007)""".stripMargin))
      .withColumn("fp_group_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
      .select($"doc_id", $"fp", $"fp_group_size")
      .orderBy($"doc_id")
  }

  /** D8b: normalization — the canonical pre-tokenization cleanup pass
    * (lowercase, strip non-alphanumerics, collapse whitespace). Simple
    * character-class regexes only, identical in Java regex and RE2.
    */
  def normalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .withColumn("norm_text",
        trim(regexp_replace(regexp_replace(lower($"text"), "[^a-z0-9 ]", " "),
          " +", " ")))
      .withColumn("norm_len", length($"norm_text").cast("long"))
      .withColumn("removed", (length($"text") - length($"norm_text")).cast("long"))
      .select($"doc_id", $"norm_text", $"norm_len", $"removed")
      .orderBy($"doc_id")
  }

  /** D9b: repetition scoring (Gopher-style quality rule): fraction of
    * duplicated 4-token windows per document — high values flag
    * boilerplate/spam. dup_ratio = 1 − distinct/total windows.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .withColumn("toks", split($"text", " "))
      .withColumn("wins", expr(
        "transform(sequence(1, greatest(size(toks) - 3, 1)), i -> concat_ws(' ', slice(toks, i, 4)))"))
      .withColumn("n_windows", size($"wins").cast("long"))
      .withColumn("n_distinct", size(array_distinct($"wins")).cast("long"))
      .withColumn("dup_ratio",
        lit(1.0) - $"n_distinct".cast("double") / $"n_windows")
      .withColumn("flagged", $"dup_ratio" > 0.2)
      .select($"doc_id", $"n_windows", $"n_distinct", $"dup_ratio", $"flagged")
      .orderBy($"doc_id")
  }

  /** D14: corpus mixture construction — per-source keep rates applied
    * deterministically (mod-based), the mixture-weights step of a
    * training-data pipeline. Rates: src0..src9 → 100%, others → 30%.
    */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .withColumn("keep_pct",
        when(length($"source") === 4, 100).otherwise(30)) // src0-9 vs src10+
      .withColumn("kept", pmod($"doc_id", lit(100)) < $"keep_pct")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        graft.Tables.dsum(when($"kept", $"n_chars").otherwise(0L), 0).as("kept_chars"))
      .orderBy($"source")
  }

  /** D14b: per-source document budget — cap every source at
    * [[CapPerSource]] docs chosen by deterministic md5 order, the
    * reproducible subsampling step behind corpus mixing ("keep at
    * most N docs of source X"). Selection is a [[graft.functions.TopKByAgg]]
    * bounded heap per source: map-side partials, ≤ N rows per
    * (partition, source) cross the shuffle — no per-source
    * row_number full sort, which at 100 TB would drag every doc of a
    * hot source through one reducer. 12 md5 hex digits (48 bits)
    * keep the score exact in the heap's double (53-bit mantissa), so
    * the oracle's integer compare agrees bit-for-bit.
    */
  val CapPerSource = 10

  def capPerSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .select($"source", $"doc_id",
        expr("CAST(conv(substring(md5(cast(cast(doc_id AS STRING) as binary)), 1, 12), 16, 10) AS BIGINT)")
          .cast("double").as("score"))
      .groupBy($"source")
      .agg(graft.functions.TopKByAgg.topk_by($"score", $"doc_id", CapPerSource)
        .as("keep"))
      .select($"source", explode($"keep.id").as("doc_id"))
      .orderBy($"source", $"doc_id")
  }

  val capPerSourceSql: String =
    s"""SELECT source, doc_id FROM (
       |  SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT DESC,
       |        doc_id) AS rn
       |  FROM documents) t
       |WHERE rn <= $CapPerSource
       |ORDER BY source, doc_id""".stripMargin

  /** D28: deterministic weighted sampling WITHOUT replacement —
    * priority sampling (Duffield–Lund–Thorup 2007): priority
    * qᵢ = wᵢ/uᵢ with uᵢ uniform in (0,1], keep the top-k priorities,
    * and report the unbiased weight estimate ŵᵢ = max(wᵢ, τ) where τ
    * is the (k+1)-th priority. This is the mixture-sampling primitive
    * a training pipeline uses for "sample documents ∝ length/quality"
    * — and unlike exponential-race sampling (keys -ln(u)/w) it needs
    * NO transcendental, so the key is an exact IEEE quotient both
    * engines compute bit-identically: u = (md5₅₂(doc_id)+1)/2⁵², an
    * exact 52-bit double. The two top-k passes are bounded
    * TakeOrderedAndProject over the scored scan (map-side k+1 rows
    * per partition cross the shuffle); the k+1 frame is materialized
    * once and feeds both τ and the sample.
    */
  val PrioritySampleK = 50

  def samplePriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.StrFuncs.md5_prefix
    val scored = load(spark, dir, "documents")
      .select($"doc_id", $"source", $"n_chars",
        ($"n_chars".cast("double") /
          ((md5_prefix($"doc_id".cast("string"), 13).cast("double") + lit(1.0)) /
            lit(4503599627370496.0))).as("priority"))
    val top = scored
      .orderBy($"priority".desc, $"doc_id").limit(PrioritySampleK + 1)
      .localCheckpoint()
    val tau = top.agg(min($"priority").as("tau"))
    top.orderBy($"priority".desc, $"doc_id").limit(PrioritySampleK)
      .crossJoin(broadcast(tau))
      .select($"doc_id", $"source", $"n_chars",
        greatest($"n_chars".cast("double"), $"tau").as("w_hat"))
      .orderBy($"doc_id")
  }

  val samplePrioritySql: String =
    s"""WITH scored AS MATERIALIZED (
       |  SELECT doc_id, source, n_chars,
       |    CAST(n_chars AS DOUBLE) /
       |      ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE)
       |        + CAST(1 AS DOUBLE)) / CAST(4503599627370496 AS DOUBLE)) AS priority
       |  FROM documents),
       |top1 AS MATERIALIZED (
       |  SELECT * FROM scored ORDER BY priority DESC, doc_id LIMIT ${PrioritySampleK + 1}),
       |tau AS MATERIALIZED (SELECT min(priority) AS tau FROM top1)
       |SELECT doc_id, source, n_chars,
       |  greatest(CAST(n_chars AS DOUBLE), (SELECT tau FROM tau)) AS w_hat
       |FROM (SELECT * FROM top1 ORDER BY priority DESC, doc_id LIMIT $PrioritySampleK) s
       |ORDER BY doc_id""".stripMargin

  /** D30: temperature-scaled mixture rebalancing
    * (`corpus_temperature_mix`) — the multilingual/multi-source
    * rebalancing step (mT5/XLM-style): per-source budgets
    * n_s ∝ (char mass_s)^α with α = 0.5, then a deterministic
    * md5-ordered selection up to each budget. α fixed at ½ on
    * purpose: sqrt is CORRECTLY-ROUNDED IEEE (pow(x, 0.7) is not),
    * so both engines derive bit-identical budgets with no rounding
    * escape hatch. Selection reuses the bounded [[graft.functions.TopKByAgg]]
    * heap sized at the GLOBAL budget, then keeps each source's
    * prefix at its own budget via posexplode position — per-group
    * variable-k selection without a row_number sort over the corpus.
    */
  val TempMixBudget = 100

  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents")
    val mass = docs.groupBy($"source")
      .agg(graft.Tables.dsum($"n_chars", 0).as("w"))
    // sqrt is correctly-rounded IEEE → s is bit-identical in both
    // engines unrounded; the order-free total rides the exact
    // floor-quantized long sum (zero cross-engine tie window)
    val sq = mass.select($"source", sqrt($"w").as("s"))
    val tot = sq.agg(graft.Tables.qsum($"s").as("st"))
    val bud = sq.crossJoin(broadcast(tot))
      .select($"source",
        greatest(lit(1L), floor(lit(TempMixBudget.toDouble) * $"s" / $"st"))
          .as("b"))
    docs
      .select($"source", $"doc_id",
        expr("CAST(conv(substring(md5(cast(cast(doc_id AS STRING) as binary)), 1, 12), 16, 10) AS BIGINT)")
          .cast("double").as("score"))
      .groupBy($"source")
      .agg(graft.functions.TopKByAgg.topk_by($"score", $"doc_id", TempMixBudget)
        .as("keep"))
      .join(broadcast(bud), "source")
      .select($"source", $"b", posexplode($"keep.id"))
      .where($"pos" < $"b")
      .select($"source", $"col".as("doc_id"))
      .orderBy($"source", $"doc_id")
  }

  val temperatureMixSql: String =
    s"""WITH mass AS MATERIALIZED (
       |  SELECT source, CAST(sum(CAST(n_chars AS DECIMAL(28, 0))) AS DOUBLE) AS w
       |  FROM documents GROUP BY source),
       |sq AS MATERIALIZED (SELECT source, sqrt(w) AS s FROM mass),
       |tot AS MATERIALIZED (
       |  SELECT ${graft.Tables.qsumSql("s")} AS st FROM sq),
       |bud AS MATERIALIZED (
       |  SELECT source,
       |    greatest(1, CAST(floor(CAST($TempMixBudget AS DOUBLE) * s / (SELECT st FROM tot)) AS BIGINT)) AS b
       |  FROM sq),
       |ranked AS MATERIALIZED (
       |  SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT DESC,
       |        doc_id) AS rn
       |  FROM documents)
       |SELECT r.source, r.doc_id
       |FROM ranked r JOIN bud b USING (source)
       |WHERE r.rn <= b.b
       |ORDER BY source, doc_id""".stripMargin

  /** D29: BM25 retrieval scoring (`text_bm25`) — the ranked-search
    * primitive over the corpus: score every document against a fixed
    * term set with Okapi BM25 (k1=1.2, b=0.75, idf = ln(1+(N-df+.5)/
    * (df+.5))) and return the top matches. The 100 TB shape: the
    * per-token stream is filtered to the query terms MAP-SIDE before
    * any shuffle (tf aggregation touches only matching tokens); df/idf
    * is a term-count-sized broadcast; doc length joins tf on doc_id.
    * Determinism: idf is rounded to 6 dp (ln differs between libms
    * only in the last ulp — a 6-dp boundary crossing needs a 1e-11
    * coincidence), per-term contributions to 9 dp summed as
    * DECIMAL(28,9) (order-free); everything else is mirrored IEEE
    * expression trees.
    */
  val Bm25K1 = 1.2
  val Bm25K1p1 = 2.2
  val Bm25B = 0.75
  val Bm25TopN = 20
  val Bm25Terms = Seq("vector", "hash", "join", "stream", "spill")

  def bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bm25Scores(spark, dir).orderBy($"score".desc, $"doc_id").limit(Bm25TopN)
  }

  /** The full BM25 score table (no top-N cut) — split out so D51's
    * reciprocal-rank fusion reads the same scores the D29 report
    * ranks. */
  private[graft] def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = load(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
    val dl = toks.groupBy($"doc_id")
      .agg(count(lit(1)).cast("double").as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("nd"),
      (sum($"dl".cast(org.apache.spark.sql.types.DecimalType(28, 0)))
        .cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.where($"w".isin(Bm25Terms: _*))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).cast("double").as("tf"))
    val idf = tf.groupBy($"w").agg(count(lit(1)).cast("double").as("df"))
      .crossJoin(broadcast(stats))
      .select($"w", round(log(lit(1.0) +
        ($"nd" - $"df" + lit(0.5)) / ($"df" + lit(0.5))), 6).as("idf"))
    tf.join(broadcast(idf), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats.select($"avgdl")))
      .groupBy($"doc_id")
      .agg(graft.Tables.dsum(round($"idf" * (($"tf" * lit(Bm25K1p1)) /
        ($"tf" + lit(Bm25K1) * ((lit(1.0) - lit(Bm25B)) +
          (lit(Bm25B) * $"dl") / $"avgdl"))), 9), 9).as("score"))
  }

  /** The BM25 CTE chain up to the full `bscore` table — shared with
    * D51's fusion oracle. */
  val bm25CtesSql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |dl AS MATERIALIZED (
       |  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
       |stats AS MATERIALIZED (
       |  SELECT CAST(count(*) AS DOUBLE) AS nd,
       |    CAST(sum(CAST(dl AS DECIMAL(28, 0))) AS DOUBLE) / count(*) AS avgdl
       |  FROM dl),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf FROM toks
       |  WHERE w IN ($terms) GROUP BY doc_id, w),
       |idf AS MATERIALIZED (
       |  SELECT w, round(ln(CAST(1 AS DOUBLE) +
       |    ((SELECT nd FROM stats) - CAST(count(*) AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |      / (CAST(count(*) AS DOUBLE) + CAST(0.5 AS DOUBLE))), 6) AS idf
       |  FROM tf GROUP BY w),
       |bscore AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(sum(CAST(round(i.idf * ((t.tf * CAST($Bm25K1p1 AS DOUBLE)) /
       |      (t.tf + CAST($Bm25K1 AS DOUBLE) * ((CAST(1 AS DOUBLE) - CAST($Bm25B AS DOUBLE)) +
       |        (CAST($Bm25B AS DOUBLE) * d.dl) / (SELECT avgdl FROM stats)))), 9)
       |      AS DECIMAL(28, 9))) AS DOUBLE) AS score
       |  FROM tf t JOIN idf i USING (w) JOIN dl d USING (doc_id)
       |  GROUP BY doc_id)""".stripMargin
  }

  val bm25Sql: String = bm25CtesSql +
    s"""
       |SELECT doc_id, score FROM bscore
       |ORDER BY score DESC, doc_id LIMIT $Bm25TopN""".stripMargin

  // RE2-safe patterns (valid and identical in Java regex and DuckDB's
  // RE2): no backrefs, no lookaround.
  val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePat = "555-[0-9]{4}"

  /** D16: PII detection + redaction — the scrub pass every training
    * corpus needs before release. The testdata has no organic PII, so
    * each doc gets a deterministic planted email + phone (query-level
    * construct, identical in the oracle); detection counts and the
    * full redacted text (md5 + length) are hash-checked. Map-only: at
    * 100 TB this is a pure scan stage with no shuffle.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .withColumn("pii_text", concat($"text",
        lit(" contact u"), $"doc_id", lit("@example.com tel 555-"),
        lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0")))
      .withColumn("n_emails",
        size(regexp_extract_all($"pii_text", lit(EmailPat), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all($"pii_text", lit(PhonePat), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace($"pii_text", EmailPat, "[EMAIL]"),
          PhonePat, "[PHONE]"))
      .select($"doc_id", $"n_emails", $"n_phones",
        length($"redacted").cast("long").as("redacted_len"),
        md5($"redacted".cast("binary")).as("redacted_md5"))
      .orderBy($"doc_id")
  }

  /** D17: sequence packing — assign documents to fixed-token-budget
    * packs, the batch-construction step before training. Greedy
    * in-order packing per (source) shard: running token cumsum over
    * doc_id order, pack boundary every `budget` tokens. Partitioned by
    * source so the window never sees more than one shard's extent —
    * the 100 TB form packs within shards in parallel; a single global
    * window would serialize the corpus through one reducer.
    */
  val PackBudget = 2048

  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
    load(spark, dir, "documents")
      .withColumn("n_tokens", size(split($"text", " ")).cast("long"))
      .withColumn("cum", sum($"n_tokens").over(w))
      .withColumn("pack_id", expr(s"(cum - n_tokens) div $PackBudget"))
      .groupBy($"source", $"pack_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("pack_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"source", $"pack_id")
  }

  /** D18: deterministic train/val/test split — md5-hash assignment
    * (stable under corpus growth: a doc's split never changes when
    * other docs are added, unlike modulo-on-row-number). Map-only.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .withColumn("h", expr(
        "CAST(conv(substring(md5(cast(concat('split:', doc_id) as binary)), 1, 7), 16, 10) AS BIGINT) % 100"))
      .withColumn("split",
        when($"h" < 80, "train").when($"h" < 90, "val").otherwise("test"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        graft.Tables.dsum($"n_chars", 0).as("total_chars"))
      .orderBy($"split")
  }

  /** D19: document chunking — fixed-size token windows with overlap
    * (the context-window prep step before tokenization/training).
    * Each doc explodes into ceil(n/stride) chunks of ≤[[ChunkTokens]]
    * tokens starting every [[ChunkStride]]; chunk content is pinned by
    * md5 so the full text path is hash-checked. Map-side explode; no
    * shuffle until the final sort.
    */
  val ChunkTokens = 100
  val ChunkStride = 80

  def chunk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .withColumn("toks", split($"text", " "))
      .withColumn("n_tokens", size($"toks"))
      .select($"doc_id", $"toks", $"n_tokens",
        posexplode(expr(s"sequence(0, greatest(n_tokens - 1, 0), $ChunkStride)"))
          .as(Seq("chunk_id", "start")))
      .withColumn("chunk_toks", expr(s"slice(toks, start + 1, $ChunkTokens)"))
      .select($"doc_id", $"chunk_id".cast("long").as("chunk_id"),
        size($"chunk_toks").cast("long").as("chunk_len"),
        md5(concat_ws(" ", $"chunk_toks").cast("binary")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** D10c: per-language vocabulary statistics (`text_vocab_stats`) —
    * the corpus-linguistics profile a tokenizer/mixture decision
    * reads: token volume, vocabulary size, hapax-legomena count
    * (types seen exactly once — the Heaps'-law tail that dominates
    * vocab growth and OOV risk), and type-token ratio. One explode →
    * (lang, token) combine-heavy aggregation (the shuffle carries
    * distinct types per partition, not token instances), then a
    * lang-sized rollup; doc counts ride a separate lang-sized agg and
    * broadcast-join in. All exact — replayed by the oracle.
    */
  def vocabStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents")
    val typeCounts = docs
      .select($"lang", explode(split($"text", " ")).as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt"))
    val perLang = typeCounts.groupBy($"lang").agg(
      sum($"cnt").as("n_tokens"),
      count(lit(1)).as("vocab"),
      count(when($"cnt" === 1, 1)).as("hapax"))
    val nDocs = docs.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
    perLang.join(broadcast(nDocs), "lang")
      .select($"lang", $"n_docs", $"n_tokens", $"vocab", $"hapax",
        round($"vocab".cast("double") / $"n_tokens", 6).as("ttr_r"),
        round($"hapax".cast("double") / $"vocab", 6).as("hapax_ratio_r"))
      .orderBy($"lang")
  }

  /** D10b: corpus token frequencies — the canonical explode →
    * combine-heavy agg → top-N pipeline (vocabulary building step).
    */
  def wordcount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(20)
  }

  /** D9d: character-entropy quality signal — Shannon entropy of the
    * per-doc character distribution over a fixed 27-symbol alphabet
    * (a–z + space, everything else pooled as "other") plus the
    * top-character ratio. Low entropy or one dominating symbol marks
    * machine junk / boilerplate the token-level rules (D9/D9c) miss.
    *
    * Counts come from 27 `length(replace(...))` passes — integer
    * arithmetic, no explode, pure whole-stage codegen, map-only. The
    * entropy sum is a FIXED left-fold order (c0..c26 then other) with
    * the oracle spelling out the identical chain, and the result is
    * rounded 6 dp — ln() may differ from DuckDB's by an ulp, and the
    * fold order is part of the cross-engine contract.
    */
  private val EntropyChars: Seq[String] = ('a' to 'z').map(_.toString) :+ " "

  def entropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = load(spark, dir, "documents")
      .withColumn("len", length($"text").cast("double"))
    val counts = EntropyChars.map(c =>
      (length($"text") - length(expr(s"replace(text, '$c', '')"))).cast("double"))
    val other = $"len" - counts.reduce(_ + _)
    val h = (counts :+ other)
      .map(c => when(c > 0, -(c / $"len") * log(c / $"len")).otherwise(lit(0.0)))
      .reduce(_ + _)
    val top = counts.reduce((a, b) => greatest(a, b))
    d.where($"len" > 0)
      .withColumn("entropy_r", round(h, 6))
      .withColumn("top_char_ratio_r", round(top / $"len", 6))
      .withColumn("keep", $"entropy_r" >= 2.0 && $"top_char_ratio_r" <= 0.5)
      .select($"doc_id", $"entropy_r", $"top_char_ratio_r", $"keep")
      .orderBy($"doc_id")
  }

  val entropySql: String = {
    val cols = EntropyChars.zipWithIndex.map { case (ch, i) =>
      s"CAST(length(text) - length(replace(text, '$ch', '')) AS DOUBLE) AS c$i"
    }.mkString(",\n    ")
    val names = EntropyChars.indices.map(i => s"c$i")
    val known = names.mkString(" + ")
    val topc = s"greatest(${names.mkString(", ")})"
    val terms = (names :+ "oth")
      .map(n => s"(CASE WHEN $n > 0 THEN -($n / len) * ln($n / len) ELSE 0.0 END)")
      .mkString(" + ")
    s"""WITH c AS (
       |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS len,
       |    $cols
       |  FROM documents WHERE length(text) > 0),
       |k AS (
       |  SELECT doc_id, len, ${names.mkString(", ")},
       |    len - ($known) AS oth, $topc AS topc
       |  FROM c),
       |e AS (
       |  SELECT doc_id,
       |    round($terms, 6) AS entropy_r,
       |    round(topc / len, 6) AS top_char_ratio_r
       |  FROM k)
       |SELECT doc_id, entropy_r, top_char_ratio_r,
       |  (entropy_r >= 2.0 AND top_char_ratio_r <= 0.5) AS keep
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** D24: end-to-end corpus curation — the four batch stages a
    * training corpus actually runs, composed as ONE declarative plan:
    * quality gate (D9's exact formula via [[qualityCols]]) → exact
    * dedup (keep-first per content hash) → benchmark decontamination
    * (token-8-gram equi-join vs the broadcast eval-phrase set, D21's
    * machinery) → hash-stable train/val/test split (D18's rule), then
    * per-(split, lang) corpus accounting. The point is composition:
    * each stage is a column transform / one keyed shuffle, so
    * Catalyst pipelines the whole chain — there is no materialization
    * between stages, and at 100 TB the curation run is exactly this
    * plan over the full corpus. (Near-dup removal slots in as one
    * more anti-join against D15's cluster losers when the minhash
    * pass has been run.)
    */
  def corpusCurate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents").select($"doc_id", $"lang", $"text")
    val q = qualityCols(docs).where($"keep")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5($"text".cast("binary")))
    val deduped = q.withColumn("keep_id", min($"doc_id").over(w))
      .where($"doc_id" === $"keep_id")
    val k = graft.dedup.Dedup.ContamPhraseTokens
    val phrases = docs.where($"doc_id" % 50 === 0)
      .select(split($"text", " ").as("toks"))
      .where(size($"toks") >= k + 4)
      .select(concat_ws(" ",
        expr(s"slice(toks, CAST(size(toks) / 2 AS INT) - ${k / 2}, $k)")).as("phrase"))
    val contaminated = graft.dedup.Dedup.tokenGrams(docs.select($"doc_id", $"text"), k)
      .select($"doc_id", $"gram".as("phrase"))
      .join(broadcast(phrases), "phrase")
      .select($"doc_id").distinct()
    deduped.join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("h", expr(
        "CAST(conv(substring(md5(cast(concat('split:', doc_id) as binary)), 1, 7), 16, 10) AS BIGINT) % 100"))
      .withColumn("split",
        when($"h" < 80, "train").when($"h" < 90, "val").otherwise("test"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length($"text")).as("sum_chars"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
      .orderBy($"split", $"lang")
  }

  val corpusCurateSql: String = {
    val k = graft.dedup.Dedup.ContamPhraseTokens
    s"""WITH t AS (
       |  SELECT doc_id, lang, text,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    length(text) AS n_chars_m,
       |    len(list_filter(string_split(text, ' '),
       |        w -> list_contains(['the', 'a', 'of', 'and'], w))) AS n_stop
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, lang, text, n_tokens,
       |    CAST(n_chars_m - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_token_len,
       |    CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio
       |  FROM t),
       |keepq AS (
       |  SELECT doc_id, lang, text FROM r
       |  WHERE ((avg_token_len * 0.2) + (stop_ratio * 2.0) +
       |    (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0)) > 1.5
       |    AND n_tokens >= 10),
       |deduped AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT doc_id, lang, text,
       |      min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
       |    FROM keepq) WHERE doc_id = keep_id),
       |pt AS (
       |  SELECT string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents WHERE doc_id % 50 = 0),
       |phrases AS (
       |  SELECT array_to_string(
       |    toks[(n // 2 - ${k / 2}) : (n // 2 + ${k / 2 - 1})], ' ') AS phrase
       |  FROM pt WHERE n >= ${k + 4}),
       |tt AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, array_to_string(toks[p : p + ${k - 1}], ' ') AS phrase
       |  FROM (
       |    SELECT doc_id, toks, unnest(range(1, n - ${k - 2})) AS p
       |    FROM tt WHERE n >= $k)),
       |contam AS (SELECT DISTINCT g.doc_id FROM g JOIN phrases USING (phrase)),
       |f AS (
       |  SELECT doc_id, lang, text,
       |    ('0x' || substr(md5('split:' || doc_id), 1, 7))::BIGINT % 100 AS h
       |  FROM deduped WHERE doc_id NOT IN (SELECT doc_id FROM contam))
       |SELECT
       |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
       |  lang, count(*) AS n_docs,
       |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM f GROUP BY 1, 2 ORDER BY split, lang""".stripMargin
  }

  /** D9e: unigram LM surprisal — mean per-token negative log
    * probability under the corpus's own unigram distribution (the
    * CCNet-style "LM perplexity" quality proxy, with the corpus as its
    * own LM): −(1/n)Σ ln p(wᵢ) = ln N − (1/n)Σ ln cnt(wᵢ). Documents
    * full of rare tokens (noise, codes, mangled encodings) score
    * high; stopword-heavy prose scores low. Two combine-heavy
    * aggregations (vocab counts, per-doc sums) + one token-level
    * join — no per-doc state beyond a decimal accumulator.
    *
    * Parity: per-token ln cnt is rounded 9 dp and summed as
    * DECIMAL(28,9) — token order inside a doc is partition-dependent
    * in Spark and the oracle, so the sum must be order-free; the
    * final ln N − s/n chain is fixed-order, rounded 6 dp.
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = load(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
    val vocab = tok.groupBy($"w").agg(count(lit(1)).as("cnt"))
    val tot = tok.agg(count(lit(1)).as("nn"))
    tok.join(vocab, "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        graft.Tables.qsum(round(log($"cnt"), 9)).as("s"))
      .crossJoin(broadcast(tot))
      .select($"doc_id", $"n_tokens",
        round(log($"nn") - ($"s".cast("double") / $"n_tokens"), 6).as("nll_r"))
      .orderBy($"doc_id")
  }

  /** D9e oracle CTE chain through the per-doc rounded score (shared
    * with the D38 bucketing oracle).
    */
  val unigramScoredCteSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |vocab AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
      |tot AS (SELECT count(*) AS nn FROM tok),
      |per AS (
      |  SELECT t.doc_id, count(*) AS n_tokens,
      |    sum(CAST(round(ln(v.cnt), 9) AS DECIMAL(28, 9))) AS s
      |  FROM tok t JOIN vocab v USING (w) GROUP BY t.doc_id),
      |sc AS (
      |  SELECT doc_id, n_tokens,
      |    round(ln((SELECT nn FROM tot)) - (CAST(s AS DOUBLE) / n_tokens), 6)
      |      AS nll_r
      |  FROM per)
      |""".stripMargin

  val unigramLogprobSql: String = unigramScoredCteSql +
    "SELECT doc_id, n_tokens, nll_r FROM sc ORDER BY doc_id"

  /** D9f: bigram LM negative log likelihood (`text_bigram_nll`) — the
    * word-order-aware notch above [[unigramLogprob]]'s surprisal and
    * the shape of the CCNet/KenLM perplexity filter proper: train an
    * add-1-smoothed bigram model ON the corpus itself, then score
    * every document by mean −ln p(wᵢ | wᵢ₋₁). Shuffled or
    * boilerplate-repetitive text keeps a plausible unigram profile
    * but improbable transitions — exactly what the bigram conditional
    * catches. Reported in log space (mean NLL; perplexity = e^nll is
    * monotone in it, and exp() parity across engines is not worth
    * buying for a rank-invariant transform).
    *
    * p(w₂ | w₁) = (cnt(w₁w₂) + 1) / (cnt(w₁·) + V), V = unigram vocab
    * size; docs need ≥ 2 tokens (one bigram) to score.
    *
    * Scale shape: the model is built VOCAB-sized, not corpus-sized —
    * per-bigram-type ln p is precomputed by joining the bigram-type
    * table to the prefix-count table (both combine-heavy aggregates
    * of one exploded pass), and the corpus stream then takes ONE hash
    * join against the scored type table (never broadcast — bigram
    * vocab grows with the corpus) before the per-doc partial-agg sum.
    * Parity: per-type ln p rounded 9 dp, per-doc sum as
    * DECIMAL(28,9) (token order is partition-dependent → order-free
    * sum), final mean rounded 6 dp ([[unigramLogprob]]'s rule).
    */
  /** Per-doc bigram stream (doc_id, w1, w2, bg) — shared by D9f's
    * add-1 NLL and D9j's Kneser–Ney NLL. */
  private def docBigrams(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("ts", split($"text", " "))
      .where(size($"ts") >= 2)
      .select($"doc_id", explode(expr(
        """zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1),
          |  (a, b) -> struct(a AS w1, b AS w2, concat(a, ' ', b) AS bg))""".stripMargin))
        .as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"), $"p.bg".as("bg"))
  }

  def bigramNll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents")
    val tok = docs.select($"doc_id", explode(split($"text", " ")).as("w"))
    val vocabN = tok.agg(countDistinct($"w").as("v"))
    val bg = docBigrams(docs).select($"doc_id", $"w1", $"bg")
    val bgCnt = bg.groupBy($"bg").agg(first($"w1").as("w1"), count(lit(1)).as("c2"))
    val prefCnt = bg.groupBy($"w1").agg(count(lit(1)).as("c1"))
    val typeScore = bgCnt.join(prefCnt, "w1")
      .crossJoin(broadcast(vocabN))
      .select($"bg",
        round(log(($"c2" + 1).cast("double") / ($"c1" + $"v")), 9).as("lnp"))
    bg.join(typeScore, "bg")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        graft.Tables.qsum(-$"lnp").as("s"))
      .select($"doc_id", $"n_bigrams",
        round($"s".cast("double") / $"n_bigrams", 6).as("nll_r"))
      .orderBy($"doc_id")
  }

  val bigramNllSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |vocab AS (SELECT count(DISTINCT w) AS v FROM tok),
      |tt AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, ts[p] AS w1, ts[p] || ' ' || ts[p + 1] AS bg
      |  FROM (SELECT doc_id, ts, unnest(range(1, n)) AS p FROM tt WHERE n >= 2)),
      |bgc AS (SELECT bg, any_value(w1) AS w1, count(*) AS c2 FROM bg GROUP BY bg),
      |pfc AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      |ts2 AS (
      |  SELECT b.bg,
      |    round(ln(CAST(b.c2 + 1 AS DOUBLE) / (p.c1 + (SELECT v FROM vocab))), 9)
      |      AS lnp
      |  FROM bgc b JOIN pfc p USING (w1))
      |SELECT g.doc_id, count(*) AS n_bigrams,
      |  round(${graft.Tables.qsumSql("-lnp")} / count(*), 6) AS nll_r
      |FROM bg g JOIN ts2 USING (bg)
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  /** D9j: interpolated Kneser–Ney bigram NLL (`text_bigram_kn`) —
    * the LM-filter upgrade over D9f's add-1 smoothing: absolute
    * discounting with a CONTINUATION-count backoff,
    * P(w2|w1) = (c(w1w2)−D)/c(w1) + D·N1+(w1·)/c(w1) · P_cont(w2),
    * P_cont(w2) = N1+(·w2)/N1+(··). The canonical example: "francisco"
    * is frequent but only ever follows "san" — add-1 over-scores it
    * in novel contexts, KN's continuation count (distinct LEFT
    * neighbors) does not. D = 0.75 is the standard discount and an
    * exact dyadic, so both engines' smoothing arithmetic is
    * bit-identical IEEE.
    *
    * Scale: the bigram type table computes once (combine-heavy); the
    * three model legs — prefix totals, forward type counts N1+(w1·),
    * continuation counts N1+(·w2) — are vocab-sized rollups OF that
    * table (no second corpus pass), hash-joined back; the global
    * type count broadcasts. Per-doc scoring joins the type score
    * table and reduces — D9f's exact shape.
    */
  def bigramKn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bg = docBigrams(load(spark, dir, "documents"))
    val bgCnt = bg.groupBy($"bg")
      .agg(first($"w1").as("w1"), first($"w2").as("w2"),
        count(lit(1)).as("c2"))
    val prefCnt = bg.groupBy($"w1").agg(count(lit(1)).as("c1"))
    val fwdTypes = bgCnt.groupBy($"w1").agg(count(lit(1)).as("n1p"))
    val contCnt = bgCnt.groupBy($"w2").agg(count(lit(1)).as("cont"))
    val totTypes = bgCnt.agg(count(lit(1)).as("total"))
    val score = bgCnt
      .join(prefCnt, "w1").join(fwdTypes, "w1").join(contCnt, "w2")
      .crossJoin(broadcast(totTypes))
      .select($"bg", round(log(
        ($"c2".cast("double") - lit(0.75)) / $"c1" +
          (lit(0.75) * $"n1p" / $"c1") *
            ($"cont".cast("double") / $"total")), 9).as("lnp"))
    bg.join(score, "bg")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        graft.Tables.qsum(-$"lnp").as("s"))
      .select($"doc_id", $"n_bigrams",
        round($"s".cast("double") / $"n_bigrams", 6).as("kn_nll_r"))
      .orderBy($"doc_id")
  }

  val bigramKnSql: String =
    s"""WITH tt AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, ts[p] AS w1, ts[p + 1] AS w2,
      |    ts[p] || ' ' || ts[p + 1] AS bg
      |  FROM (SELECT doc_id, ts, unnest(range(1, n)) AS p
      |        FROM tt WHERE n >= 2)),
      |bgc AS (SELECT bg, any_value(w1) AS w1, any_value(w2) AS w2,
      |    count(*) AS c2
      |  FROM bg GROUP BY bg),
      |pfc AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      |fwd AS (SELECT w1, count(*) AS n1p FROM bgc GROUP BY w1),
      |bck AS (SELECT w2, count(*) AS cont FROM bgc GROUP BY w2),
      |tot AS (SELECT count(*) AS total FROM bgc),
      |ts2 AS (
      |  SELECT b.bg, round(ln(
      |    (CAST(b.c2 AS DOUBLE) - CAST(0.75 AS DOUBLE)) / p.c1 +
      |      (CAST(0.75 AS DOUBLE) * f.n1p / p.c1) *
      |        (CAST(k.cont AS DOUBLE) / (SELECT total FROM tot))), 9)
      |    AS lnp
      |  FROM bgc b JOIN pfc p USING (w1) JOIN fwd f USING (w1)
      |  JOIN bck k USING (w2))
      |SELECT g.doc_id, count(*) AS n_bigrams,
      |  round(${graft.Tables.qsumSql("-lnp")} / count(*), 6) AS kn_nll_r
      |FROM bg g JOIN ts2 USING (bg)
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  /** D9g: TF-IDF keyword extraction (`text_tfidf`) — each document's
    * top-[[TfidfTopK]] terms by tf·idf, idf = ln(N/df): the classic
    * salient-term summary (search indexing, topic labeling, the
    * keyword features behind classic quality classifiers).
    *
    * Scale shape: tf = one (doc, term) combine-heavy aggregation; df
    * falls out of the SAME table (its rows are distinct (doc, term)
    * already — no second corpus pass); idf is a vocab-sized table
    * hash-joined back (never broadcast — vocab grows with the
    * corpus). The per-doc ranking is a row_number window partitioned
    * by doc_id — here a window IS the scalable choice: partitions are
    * doc-sized (bounded by document length), unlike the corpus-sized
    * per-probe partitions the ANN rankings replaced with heap
    * aggregates. Parity: idf rounded 9 dp before the tf product,
    * product rounded 9 dp, ties broken by term ASC (total order).
    */
  val TfidfTopK = 3

  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = load(spark, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val tf = docs.select($"doc_id", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy($"w").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select($"w", round(log($"nd".cast("double") / $"df"), 9).as("idf"))
    val scored = tf.join(idf, "w")
      .select($"doc_id", $"w".as("term"),
        round($"tf" * $"idf", 9).as("tfidf"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")))
      .where($"rank" <= TfidfTopK)
      .select($"doc_id", $"rank".cast("long").as("rank"), $"term", $"tfidf")
      .orderBy($"doc_id", $"rank")
  }

  val tfidfSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |nd AS (SELECT count(*) AS nd FROM documents),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
       |idf AS (
       |  SELECT w, round(ln(CAST((SELECT nd FROM nd) AS DOUBLE) / count(*)), 9)
       |    AS idf
       |  FROM tf GROUP BY w),
       |scored AS (
       |  SELECT t.doc_id, t.w AS term, round(t.tf * i.idf, 9) AS tfidf
       |  FROM tf t JOIN idf i USING (w)),
       |ranked AS (
       |  SELECT doc_id, term, tfidf,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)
       |      AS rank
       |  FROM scored)
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tfidf
       |FROM ranked WHERE rank <= $TfidfTopK ORDER BY doc_id, rank""".stripMargin

  /** D26: DSIR-style importance-weighted data selection
    * (`corpus_dsir`) — Xie et al. 2023 ("Data Selection for Language
    * Models via Importance Resampling"): score every raw document by
    * how target-like its HASHED n-gram distribution is, importance
    * weight = Σ_features ln p_target(bucket)/p_raw(bucket), and keep
    * the top slice. Here the target distribution is the corpus's own
    * `lang = 'en'` docs, features are word unigrams AND bigrams (the
    * paper's feature set — bigrams carry the word-order signal that
    * lifts target-language enrichment from ~58% to ~88% of the
    * selected slice on the synthetic corpus) hashed into
    * [[DsirBuckets]] buckets (hashing is what makes the estimator
    * O(B)-state instead of O(vocab) at 100 TB), both distributions are
    * add-1 smoothed, and the score is length-normalized (mean
    * per-feature log ratio). Selection is the derandomized variant: the
    * published recipe adds Gumbel noise before the top-k; determinism
    * here is the oracle contract, and the noisy variant is one extra
    * md5-derived column away.
    *
    * Scale shape: one token explode feeds three combine-heavy
    * aggregations (bucket counts ×2, totals); the bucket→weight table
    * is a CONSTANT [[DsirBuckets]] rows → broadcast to the token-level
    * scoring join; per-doc sums partial-aggregate map-side; the final
    * top-[[DsirTopN]] is a TakeOrderedAndProject, never a full sort.
    * Parity: per-bucket log-ratio rounded 9 dp, per-doc sum as
    * DECIMAL(28,9) (token order is partition-dependent → order-free
    * sum), final mean rounded 6 dp.
    */
  val DsirBuckets = 1024
  val DsirTargetLang = "en"
  val DsirTopN = 50

  /** See [[graft.Staging.spreadNarrow]]. */
  private def spread(df: DataFrame): DataFrame = graft.Staging.spreadNarrow(df)

  def corpusDsir(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val docs = load(spark, dir, "documents")
    // unigrams ++ bigrams in one array expression — the zip_with over
    // two shifted slices avoids a posexplode + self-join on position
    val tok = spread(docs)
      .withColumn("ts", split($"text", " "))
      .select($"doc_id", $"lang", explode(expr(
        """concat(ts, zip_with(slice(ts, 1, size(ts) - 1),
          |  slice(ts, 2, size(ts) - 1),
          |  (a, b) -> concat(a, ' ', b)))""".stripMargin)).as("w"))
      .withColumn("b", expr(
        s"CAST(conv(substring(md5(cast(concat('dsir:', w) as binary)), 1, 7), 16, 10) AS BIGINT) % $DsirBuckets"))
    // one combine-heavy pass produces BOTH distributions (raw count +
    // target count per bucket); corpus-level totals then reduce the
    // 1024-row bucket table, not the corpus — the token stream is
    // scanned twice total (here + the scoring join), not four times
    val bucketCnt = tok.groupBy($"b").agg(
      count(lit(1)).as("a"),
      sum(when($"lang" === DsirTargetLang, 1L).otherwise(0L)).as("t"))
    val totals = bucketCnt.agg(sum($"a").as("nn"), sum($"t").as("tt"))
    val weights = bucketCnt
      .crossJoin(broadcast(totals))
      .select($"b", round(
        log(($"t" + 1).cast("double") / ($"tt" + lit(DsirBuckets))) -
          log(($"a" + 1).cast("double") / ($"nn" + lit(DsirBuckets))), 9).as("lw"))
    tok.join(broadcast(weights), "b")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        graft.Tables.qsum($"lw").as("s"))
      .join(docs.select($"doc_id", $"lang"), "doc_id")
      .select($"doc_id", $"lang", $"n_tokens",
        round($"s".cast("double") / $"n_tokens", 6).as("dsir_r"))
      .orderBy(desc("dsir_r"), $"doc_id")
      .limit(DsirTopN)
  }

  val corpusDsirSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
       |tb AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5('dsir:' || w), 1, 7))::BIGINT % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang, unnest(list_concat(ts,
       |          list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1]))) AS w
       |        FROM toks)),
       |bc AS (
       |  SELECT b, count(*) AS a,
       |    sum(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END) AS t
       |  FROM tb GROUP BY b),
       |tot AS (SELECT sum(a) AS nn, sum(t) AS tt FROM bc),
       |w AS (
       |  SELECT b,
       |    round(ln(CAST(t + 1 AS DOUBLE) / (tt + $DsirBuckets))
       |        - ln(CAST(a + 1 AS DOUBLE) / (nn + $DsirBuckets)), 9) AS lw
       |  FROM bc, tot),
       |per AS (
       |  SELECT tb.doc_id, count(*) AS n_tokens,
       |    sum(CAST(lw AS DECIMAL(28, 9))) AS s
       |  FROM tb JOIN w USING (b) GROUP BY tb.doc_id)
       |SELECT p.doc_id, d.lang, p.n_tokens,
       |  round(CAST(s AS DOUBLE) / n_tokens, 6) AS dsir_r
       |FROM per p JOIN documents d USING (doc_id)
       |ORDER BY dsir_r DESC, doc_id LIMIT $DsirTopN""".stripMargin

  /** D30: BPE merge training (`text_bpe_merges`) — the first
    * [[BpeRounds]] byte-pair-encoding merges learned from the corpus,
    * the statistics pass of tokenizer training (Sennrich et al. 2016).
    * Each round counts adjacent symbol pairs (weighted by word
    * frequency), picks the most frequent (ties → lexicographic), and
    * applies the merge with the canonical greedy LEFT-TO-RIGHT scan —
    * expressed as an array fold: the pair merges when the
    * accumulator's last symbol is `a` and the next is `b` (a merged
    * symbol is strictly longer than `a`, so it can never spuriously
    * re-trigger within the round).
    *
    * The 100 TB shape is the classic BPE factoring: the corpus scan
    * happens ONCE (word counts — one combine-heavy groupBy); every
    * round after that runs over the VOCABULARY (distinct words ×
    * counts, millions of rows at web scale, not billions), pair
    * counts combine map-side, the per-round winner is a 1-row
    * TakeOrdered broadcast back, and the vocabulary re-folds map-only.
    * The per-round fold is an interpreted HOF over vocab-sized data —
    * the same budget class as D11's fingerprint fold.
    *
    * Oracle: pair counting is plain SQL; the fold replays per word as
    * a recursive CTE carrying the accumulator list — exact, no floats
    * anywhere.
    */
  val BpeRounds = 3

  /** The canonical greedy left-to-right merge of pair (`a`,`b`) over
    * `syms`, as an array fold (exposed for the spec: string-replace
    * formulations get overlapping runs like [b,b,b,b] wrong; the fold
    * must not).
    */
  private[graft] val bpeFoldExpr: String =
    """aggregate(slice(syms, 2, size(syms) - 1),
      |  array(element_at(syms, 1)),
      |  (acc, s) -> CASE
      |    WHEN element_at(acc, -1) = a AND s = b
      |    THEN concat(slice(acc, 1, size(acc) - 1), array(concat(a, b)))
      |    ELSE concat(acc, array(s)) END)""".stripMargin

  /** BPE training rounds over the corpus vocabulary. Returns the
    * per-round winner frames (round, a, b, merged, freq) and the
    * vocabulary with ALL [[BpeRounds]] merges applied.
    */
  private def bpeTrain(spark: SparkSession, dir: String): (Seq[DataFrame], DataFrame) = {
    import spark.implicits._
    var words = materialize(load(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .where($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .withColumn("syms", split($"w", "")))
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to BpeRounds) {
      val pairs = words
        .select($"cnt", explode(arrays_zip(
          slice($"syms", lit(1), size($"syms") - 1),
          slice($"syms", lit(2), size($"syms") - 1))).as("pr"))
        .select($"pr".getField("0").as("a"), $"pr".getField("1").as("b"), $"cnt")
        .groupBy($"a", $"b").agg(sum($"cnt").as("freq"))
      val best = materialize(pairs.orderBy($"freq".desc, $"a", $"b").limit(1))
      merges += best.select(lit(r).cast("long").as("round"), $"a", $"b",
        concat($"a", $"b").as("merged"), $"freq")
      val folded = words.crossJoin(broadcast(best.select($"a", $"b")))
        .withColumn("syms", expr(bpeFoldExpr))
        .select($"w", $"cnt", $"syms")
      // the last fold stays lazy: bpeMerges drops it unexecuted,
      // bpeTokenize pipelines it into the token aggregation
      words = if (r < BpeRounds) materialize(folded) else folded
    }
    (merges.result(), words)
  }

  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrain(spark, dir)._1.reduce(_ unionAll _).orderBy($"round")
  }

  /** D30b: BPE application (`text_bpe_tokenize`) — the learned merges
    * applied back to the corpus: the resulting token inventory (top
    * tokens by weighted frequency) plus, per token, whether it is a
    * merge product. The apply side shares the training fold verbatim
    * (one broadcast merge per round, map-only over the vocabulary);
    * tokenizing the CORPUS then costs one join from words to their
    * final symbol arrays — documents never re-fold.
    */
  val BpeTokenTopN = 20

  def bpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (merges, words) = bpeTrain(spark, dir)
    val mergedSet = merges.reduce(_ unionAll _).select($"merged").distinct()
    words.select(explode($"syms").as("token"), $"cnt")
      .groupBy($"token").agg(sum($"cnt").as("freq"))
      .join(mergedSet.withColumn("is_merge", lit(true)),
        $"token" === $"merged", "left")
      .select($"token", $"freq",
        coalesce($"is_merge", lit(false)).as("is_merge"))
      .orderBy($"freq".desc, $"token").limit(BpeTokenTopN)
  }

  /** The shared training CTE chain: w0 (vocabulary), then per round
    * pair counts p_i, winner m_i, and (when `foldLast` or i <
    * [[BpeRounds]]) the recursive fold f_i → folded vocabulary w_i.
    */
  private def bpeCteChain(foldLast: Boolean): String = {
    def pairCte(i: Int): String = {
      val src = if (i == 1) "w0" else s"w${i - 1}"
      s"""p$i AS (
         |  SELECT syms[i] AS a, syms[i + 1] AS b, sum(cnt) AS freq
         |  FROM $src, LATERAL (SELECT unnest(range(1, len(syms))) AS i) u
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (
         |  SELECT a, b, freq FROM p$i ORDER BY freq DESC, a, b LIMIT 1)""".stripMargin
    }
    def foldCte(i: Int): String = {
      val src = if (i == 1) "w0" else s"w${i - 1}"
      s"""f$i AS (
         |  SELECT w, cnt, syms, 2 AS i, [syms[1]] AS acc FROM $src
         |  UNION ALL
         |  SELECT f.w, f.cnt, f.syms, f.i + 1,
         |    CASE WHEN f.acc[-1] = m.a AND f.syms[f.i] = m.b
         |         THEN list_append(f.acc[1:len(f.acc) - 1], m.a || m.b)
         |         ELSE list_append(f.acc, f.syms[f.i]) END
         |  FROM f$i f, m$i m WHERE f.i <= len(f.syms)),
         |w$i AS MATERIALIZED (
         |  SELECT w, cnt, acc AS syms FROM f$i WHERE i = len(syms) + 1)""".stripMargin
    }
    val rounds = (1 to BpeRounds).map { i =>
      if (i < BpeRounds || foldLast) pairCte(i) + ",\n" + foldCte(i)
      else pairCte(i)
    }.mkString(",\n")
    s"""WITH RECURSIVE w0 AS MATERIALIZED (
       |  SELECT w, count(*) AS cnt, string_split(w, '') AS syms
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE w <> '' GROUP BY w),
       |$rounds""".stripMargin
  }

  val bpeMergesSql: String = {
    val out = (1 to BpeRounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round, a, b, a || b AS merged,
         |  CAST(freq AS BIGINT) AS freq FROM m$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${bpeCteChain(foldLast = false)}
       |SELECT * FROM (
       |$out)
       |ORDER BY round""".stripMargin
  }

  val bpeTokenizeSql: String = {
    val ms = (1 to BpeRounds)
      .map(i => s"SELECT a || b AS merged FROM m$i")
      .mkString("\nUNION ALL ")
    s"""${bpeCteChain(foldLast = true)},
       |tf AS (
       |  SELECT token, CAST(sum(cnt) AS BIGINT) AS freq FROM (
       |    SELECT unnest(syms) AS token, cnt FROM w$BpeRounds) t
       |  GROUP BY token),
       |ms AS (SELECT DISTINCT merged FROM (
       |$ms))
       |SELECT t.token, t.freq, (ms.merged IS NOT NULL) AS is_merge
       |FROM tf t LEFT JOIN ms ON ms.merged = t.token
       |ORDER BY freq DESC, token LIMIT $BpeTokenTopN""".stripMargin
  }

  // -------------------------------------------------- D35 Zipf profile

  /** Vocabulary prefix the D35 fit runs over (top-N by frequency). */
  val ZipfTopN = 500

  /** D35: Zipf-law slope fit (`text_zipf_slope`) — the corpus-health
    * scalar next to D10c's vocabulary profile: natural text follows
    * freq ∝ rank^s with s ≈ −1; template/machine-generated corpora
    * bend the log-log line (|s| far from 1, or a poor fit). Computed
    * per language as the least-squares slope of ln(freq) on ln(rank)
    * over the top-[[ZipfTopN]] vocabulary.
    *
    * Execution: one explode → (lang, token) combine-heavy count, then
    * the per-lang rank prefix plans through
    * [[graft.plans.RewriteRankLimit]] as a bounded k=500 heap (the
    * vocabulary table, not the corpus, crosses that shuffle), then a
    * lang-sized closed-form regression from quantized moment sums.
    * Cross-engine ln() parity uses the D9e/D9f contract: each ln is
    * rounded 9 dp BEFORE the moment products, and the sums are
    * nano-quantized ([[graft.Tables.qsum]]) so accumulation order
    * can't move the hash; the slope/intercept assembly is one
    * deterministic scalar expression, rounded 6 dp.
    */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = load(spark, dir, "documents")
      .select($"lang", explode(split($"text", " ")).as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt"))
    val ranked = counts
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"cnt".desc, $"tok")))
      .where($"rank" <= ZipfTopN)
    val xy = ranked.select($"lang",
      round(log($"rank".cast("double")), 9).as("x"),
      round(log($"cnt".cast("double")), 9).as("y"))
    xy.groupBy($"lang").agg(
        count(lit(1)).as("n_terms"),
        graft.Tables.qsum($"x").as("sx"),
        graft.Tables.qsum($"y").as("sy"),
        graft.Tables.qsum($"x" * $"x").as("sxx"),
        graft.Tables.qsum($"x" * $"y").as("sxy"))
      .select($"lang", $"n_terms",
        round(($"n_terms" * $"sxy" - $"sx" * $"sy") /
          ($"n_terms" * $"sxx" - $"sx" * $"sx"), 6).as("slope_r"),
        round(($"sy" - ($"n_terms" * $"sxy" - $"sx" * $"sy") /
          ($"n_terms" * $"sxx" - $"sx" * $"sx") * $"sx") / $"n_terms", 6)
          .as("intercept_r"))
      .orderBy($"lang")
  }

  // --------------------------------------------- D38 perplexity buckets

  /** D38: CCNet-style perplexity bucketing (`corpus_ppl_buckets`) —
    * the head/middle/tail split CCNet (Wenzek et al. 2020) uses to
    * stratify CommonCrawl by LM score: per LANGUAGE, documents are
    * cut at the ⅓ and ⅔ quantiles of the D9e unigram surprisal, and
    * downstream mixtures sample the buckets at different rates.
    * Reuses [[unigramLogprob]]'s scoring pass verbatim (shared code,
    * shared oracle CTEs). The cut is by exact RANK TERTILES over the
    * (nll_r, doc_id) total order — 3·rank ≤ n / ≤ 2n in integer
    * arithmetic — NOT by interpolated quantile thresholds:
    * `quantile_cont`/`percentile` interpolation is ulp-sensitive in
    * the index arithmetic, and a threshold one ulp off flips every
    * document whose rounded score ties it (measured: two sf0.1 'es'
    * docs flipped head↔middle under the threshold form). Rank
    * tertiles are the same stratification with no float comparison
    * anywhere, and the doc_id tiebreak makes equal scores split
    * deterministically. At 100 TB the rank is one per-lang sort of
    * doc-level scores (docs-sized, not token-sized).
    *
    * SEMANTIC NOTE for mixture consumers: rank tertiles SPLIT ties —
    * two documents with identical rounded nll_r can land in different
    * buckets (the doc_id tiebreak decides), unlike CCNet's published
    * threshold form where equal scores always share a bucket. Bucket
    * SIZES are exact thirds here; bucket BOUNDARIES are not
    * score-closed. Downstream samplers that assume "same score ⇒ same
    * bucket" (e.g. score-keyed caching of bucket membership) must key
    * on (nll_r, doc_id), not nll_r alone.
    */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = unigramLogprob(spark, dir)
      .join(load(spark, dir, "documents").select($"doc_id", $"lang"), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"nll_r", $"doc_id")
    val n = scored.groupBy($"lang").agg(count(lit(1)).as("n"))
    scored
      .withColumn("rn", row_number().over(w))
      .join(broadcast(n), "lang")
      .select($"doc_id", $"lang", $"n_tokens", $"nll_r",
        when($"rn" * 3 <= $"n", "head")
          .when($"rn" * 3 <= $"n" * 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy($"doc_id")
  }

  val pplBucketsSql: String = {
    // reuse the D9e oracle chain up to per-doc nll_r
    val base = unigramScoredCteSql.stripSuffix("\n") + ","
    s"""$base
       |wl AS (
       |  SELECT s.doc_id, d.lang, s.n_tokens, s.nll_r
       |  FROM sc s JOIN documents d USING (doc_id)),
       |rk AS (
       |  SELECT doc_id, lang, n_tokens, nll_r,
       |    row_number() OVER (PARTITION BY lang ORDER BY nll_r, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM wl)
       |SELECT doc_id, lang, n_tokens, nll_r,
       |  CASE WHEN rn * 3 <= n THEN 'head'
       |       WHEN rn * 3 <= n * 2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM rk ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------- D39 n-gram novelty

  /** Token width of the D39 novelty shingles. */
  val NoveltyGramTokens = 8

  /** D39: n-gram novelty curve (`text_ngram_novelty`) — per document,
    * the fraction of its token-8-gram instances whose FIRST corpus
    * occurrence (by doc_id order) is this document. The
    * marginal-information report behind data-ordering and dedup
    * policy: novelty ≈ 1 is fresh text, novelty ≈ 0 is boilerplate
    * assembled from seen fragments (Lee et al.'s repeated-substring
    * lens, aggregated to a per-doc scalar). Execution: one positional
    * explode → combine-heavy min(doc_id) per gram TYPE (the shuffle
    * carries distinct grams, not instances), hash-join back, one
    * per-doc count — the D21 postings skeleton pointed at the corpus
    * itself.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = NoveltyGramTokens
    val grams = load(spark, dir, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .where(size($"toks") >= k)
      .select($"doc_id",
        explode(expr(s"sequence(1, size(toks) - ${k - 1})")).as("i"), $"toks")
      .select($"doc_id", concat_ws(" ", expr(s"slice(toks, i, $k)")).as("gram"))
    val first = grams.groupBy($"gram").agg(min($"doc_id").as("first_doc"))
    grams.join(first, "gram")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when($"first_doc" === $"doc_id", 1)).as("n_novel"))
      .withColumn("novelty_r",
        round($"n_novel".cast("double") / $"n_grams", 6))
      .orderBy($"doc_id")
  }

  val ngramNoveltySql: String = {
    val k = NoveltyGramTokens
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |ix AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(1, len(toks) - ${k - 1})) AS i
       |  FROM tk WHERE len(toks) >= $k),
       |gr AS (
       |  SELECT doc_id, array_to_string(toks[i : i + ${k - 1}], ' ') AS gram
       |  FROM ix),
       |fi AS (SELECT gram, min(doc_id) AS first_doc FROM gr GROUP BY gram)
       |SELECT g.doc_id, count(*) AS n_grams,
       |  count(CASE WHEN f.first_doc = g.doc_id THEN 1 END) AS n_novel,
       |  round(CAST(count(CASE WHEN f.first_doc = g.doc_id THEN 1 END)
       |    AS DOUBLE) / count(*), 6) AS novelty_r
       |FROM gr g JOIN fi f USING (gram)
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin
  }

  // ------------------------------------------------ D40 epoch planning

  /** Token budget for the D40 repetition plan. */
  val EpochBudgetTokens = 400000L

  /** Over-repetition threshold (epochs) after which data loses value
    * (Muennighoff et al. 2023: ~4 epochs ≈ fresh data, then decay).
    */
  val EpochCap = 4.0

  /** D40: mixture epoch planning (`corpus_epoch_plan`) — the
    * data-budget arithmetic run before every training mix: given a
    * global token budget and temperature-weighted source shares
    * (α = 0.5 on char mass, D30b's rule), how many EPOCHS of each
    * source does the plan imply, and which sources would be repeated
    * past the point of diminishing returns? Pure source-sized
    * arithmetic on one combine-heavy aggregate of the corpus — the
    * decision table (Muennighoff et al.'s repeat-vs-expand question)
    * that decides whether a source needs more crawling or a cap.
    * Deterministic: masses are exact decimal sums, √ is
    * correctly-rounded IEEE, the share total is nano-quantized, and
    * every published ratio rounds 6 dp.
    */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mass = load(spark, dir, "documents").groupBy($"source")
      .agg(graft.Tables.dsum($"n_chars", 0).as("w"),
        count(lit(1)).as("n_docs"))
    val sq = mass.select($"source", $"n_docs", $"w", sqrt($"w").as("s"))
    val tot = sq.agg(graft.Tables.qsum($"s").as("st"))
    sq.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"w".as("n_tokens"),
        round($"s" / $"st", 6).as("weight_r"),
        floor(lit(EpochBudgetTokens.toDouble) * $"s" / $"st").as("target_tokens"),
        round(floor(lit(EpochBudgetTokens.toDouble) * $"s" / $"st") / $"w", 6)
          .as("epochs_r"),
        (floor(lit(EpochBudgetTokens.toDouble) * $"s" / $"st") / $"w" >
          EpochCap).as("over_repeated"))
      .orderBy($"source")
  }

  val epochPlanSql: String =
    s"""WITH mass AS (
       |  SELECT source,
       |    CAST(sum(CAST(n_chars AS DECIMAL(28, 0))) AS DOUBLE) AS w,
       |    count(*) AS n_docs
       |  FROM documents GROUP BY source),
       |sq AS (SELECT source, n_docs, w, sqrt(w) AS s FROM mass),
       |tot AS (SELECT ${graft.Tables.qsumSql("s")} AS st FROM sq)
       |SELECT source, n_docs, w AS n_tokens,
       |  round(s / st, 6) AS weight_r,
       |  CAST(floor(CAST($EpochBudgetTokens AS DOUBLE) * s / st) AS BIGINT)
       |    AS target_tokens,
       |  round(floor(CAST($EpochBudgetTokens AS DOUBLE) * s / st) / w, 6)
       |    AS epochs_r,
       |  floor(CAST($EpochBudgetTokens AS DOUBLE) * s / st) / w > $EpochCap
       |    AS over_repeated
       |FROM sq, tot ORDER BY source""".stripMargin

  // ---------------------------------------------- D8c/D9i evaluation

  /** D8c: language-ID evaluation (`text_langid_eval`) — the
    * ground-truth scorecard for D8: the `lang` column is the truth
    * label, so per-language one-vs-rest precision/recall/F1 are
    * exactly computable — the evaluation leg every classifier-gated
    * pipeline needs next to its scorer (score → gate → MEASURE).
    * The confusion matrix is a langs²-bounded aggregate of the
    * corpus-sized prediction pass; metric assembly is scalar
    * arithmetic on exact counts both engines replay.
    */
  def langIdEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conf = langId(spark, dir).select($"lang", $"lang_pred")
      .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n"))
    val act = conf.groupBy($"lang").agg(sum($"n").as("n_act"))
    val prd = conf.groupBy($"lang_pred").agg(sum($"n").as("n_pred"))
    val tp = conf.where($"lang" === $"lang_pred")
      .select($"lang", $"n".as("tp"))
    val p = $"tp".cast("double") / $"n_pred"
    val r = $"tp".cast("double") / $"n_act"
    act.join(broadcast(tp), Seq("lang"), "left")
      .join(broadcast(prd.withColumnRenamed("lang_pred", "lang")),
        Seq("lang"), "left")
      .select($"lang", $"n_act",
        coalesce($"n_pred", lit(0L)).as("n_pred"),
        coalesce($"tp", lit(0L)).as("tp"))
      .select($"lang", $"n_act", $"n_pred", $"tp",
        when($"n_pred" === 0, 0.0).otherwise(round(p, 6)).as("precision_r"),
        round(r, 6).as("recall_r"),
        when($"tp" === 0, 0.0)
          .otherwise(round(lit(2.0) * p * r / (p + r), 6)).as("f1_r"))
      .orderBy($"lang")
  }

  /** D9i: quality-classifier evaluation (`text_clf_eval`) — D9h's
    * scorecard against its own training labels (the D9 rule): the
    * full binary-classification table (tp/fp/fn/tn, accuracy,
    * precision, recall, F1) in ONE aggregation over the scored
    * corpus. Training-set metrics — the sanity floor a gate must
    * clear before it filters a corpus, and the drift alarm when
    * re-run on new data.
    */
  def clfEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = qualityClf(spark, dir).select($"label", $"pred_keep")
    val c = scored.agg(
      count(lit(1)).as("n"),
      count(when($"label" && $"pred_keep", 1)).as("tp"),
      count(when(!$"label" && $"pred_keep", 1)).as("fp"),
      count(when($"label" && !$"pred_keep", 1)).as("fn"),
      count(when(!$"label" && !$"pred_keep", 1)).as("tn"))
    val p = $"tp".cast("double") / ($"tp" + $"fp")
    val r = $"tp".cast("double") / ($"tp" + $"fn")
    c.select($"n", $"tp", $"fp", $"fn", $"tn",
      round(($"tp" + $"tn").cast("double") / $"n", 6).as("accuracy_r"),
      when($"tp" + $"fp" === 0, 0.0).otherwise(round(p, 6)).as("precision_r"),
      when($"tp" + $"fn" === 0, 0.0).otherwise(round(r, 6)).as("recall_r"),
      when($"tp" === 0, 0.0)
        .otherwise(round(lit(2.0) * p * r / (p + r), 6)).as("f1_r"))
  }

  /** Lazy: [[langIdSql]] initializes later in this object. */
  lazy val langIdEvalSql: String =
    s"""WITH li AS (
       |  SELECT lang, lang_pred FROM (
       |$langIdSql
       |  )),
       |conf AS (SELECT lang, lang_pred, count(*) AS n FROM li GROUP BY 1, 2),
       |act AS (SELECT lang, sum(n) AS n_act FROM conf GROUP BY lang),
       |prd AS (SELECT lang_pred AS lang, sum(n) AS n_pred FROM conf
       |        GROUP BY lang_pred),
       |tp AS (SELECT lang, n AS tp FROM conf WHERE lang = lang_pred)
       |SELECT a.lang, CAST(a.n_act AS BIGINT) AS n_act,
       |  CAST(coalesce(p.n_pred, 0) AS BIGINT) AS n_pred,
       |  coalesce(t.tp, 0) AS tp,
       |  CASE WHEN coalesce(p.n_pred, 0) = 0 THEN 0.0
       |       ELSE round(CAST(coalesce(t.tp, 0) AS DOUBLE)
       |         / coalesce(p.n_pred, 0), 6) END AS precision_r,
       |  round(CAST(coalesce(t.tp, 0) AS DOUBLE) / a.n_act, 6) AS recall_r,
       |  CASE WHEN coalesce(t.tp, 0) = 0 THEN 0.0
       |       ELSE round(2.0 * (CAST(coalesce(t.tp, 0) AS DOUBLE)
       |           / coalesce(p.n_pred, 0))
       |         * (CAST(coalesce(t.tp, 0) AS DOUBLE) / a.n_act)
       |         / ((CAST(coalesce(t.tp, 0) AS DOUBLE) / coalesce(p.n_pred, 0))
       |           + (CAST(coalesce(t.tp, 0) AS DOUBLE) / a.n_act)), 6)
       |  END AS f1_r
       |FROM act a
       |LEFT JOIN tp t USING (lang)
       |LEFT JOIN prd p USING (lang)
       |ORDER BY a.lang""".stripMargin

  val clfEvalSql: String = qualityClfCtes +
    """,
      |pv AS (
      |  SELECT label, round(s / n_feat, 6) > 0 AS pred_keep FROM s),
      |cnts AS (
      |  SELECT count(*) AS n,
      |    count(CASE WHEN label AND pred_keep THEN 1 END) AS tp,
      |    count(CASE WHEN NOT label AND pred_keep THEN 1 END) AS fp,
      |    count(CASE WHEN label AND NOT pred_keep THEN 1 END) AS fn,
      |    count(CASE WHEN NOT label AND NOT pred_keep THEN 1 END) AS tn
      |  FROM pv)
      |SELECT n, tp, fp, fn, tn,
      |  round(CAST(tp + tn AS DOUBLE) / n, 6) AS accuracy_r,
      |  CASE WHEN tp + fp = 0 THEN 0.0
      |       ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision_r,
      |  CASE WHEN tp + fn = 0 THEN 0.0
      |       ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall_r,
      |  CASE WHEN tp = 0 THEN 0.0
      |       ELSE round(2.0 * (CAST(tp AS DOUBLE) / (tp + fp))
      |         * (CAST(tp AS DOUBLE) / (tp + fn))
      |         / ((CAST(tp AS DOUBLE) / (tp + fp))
      |           + (CAST(tp AS DOUBLE) / (tp + fn))), 6)
      |  END AS f1_r
      |FROM cnts""".stripMargin

  /** D30c: tokenizer fertility (`text_bpe_fertility`) — BPE tokens
    * per whitespace word, per language: THE tokenizer-QA metric (a
    * language with fertility ≫ others is under-served by the learned
    * merges and pays more sequence length per content). Reuses the
    * D30 trained vocabulary verbatim (word → folded symbol count is
    * vocabulary-sized); the corpus-sized side is one (lang, word)
    * combine-heavy count hash-joined to it — exact integer sums end
    * to end.
    */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, words) = bpeTrain(spark, dir)
    val wl = load(spark, dir, "documents")
      .select($"lang", explode(split($"text", " ")).as("w"))
      .where($"w" =!= "")
      .groupBy($"lang", $"w").agg(count(lit(1)).as("n"))
    wl.join(words.select($"w", size($"syms").cast("long").as("n_sym")), "w")
      .groupBy($"lang")
      .agg(sum($"n").as("n_words"), sum($"n" * $"n_sym").as("n_tokens"))
      .select($"lang", $"n_words", $"n_tokens",
        round($"n_tokens".cast("double") / $"n_words", 6).as("fertility_r"))
      .orderBy($"lang")
  }

  lazy val bpeFertilitySql: String =
    s"""${bpeCteChain(foldLast = true)},
       |wl AS (
       |  SELECT lang, w, count(*) AS n
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
       |        FROM documents) t
       |  WHERE w <> '' GROUP BY 1, 2)
       |SELECT lang, CAST(sum(n) AS BIGINT) AS n_words,
       |  CAST(sum(n * len(syms)) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(n * len(syms)) AS DOUBLE) / sum(n), 6) AS fertility_r
       |FROM wl JOIN w$BpeRounds USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** D42: deterministic weighted interleave (`corpus_interleave`) —
    * the training-ORDER artifact the data loader consumes: documents
    * from all sources merged into one stream whose long-run source
    * proportions match the D40 temperature weights, via the
    * virtual-time schedule (deficit round-robin): doc k of source s
    * runs at vt = k / w_s, and the stream is the vt-ascending merge.
    * Every piece is deterministic — per-source order is the md5
    * rank (reproducible pseudo-shuffle), weights are the exact
    * √mass shares — so a re-run of the pipeline yields the
    * byte-identical training order (the reproducibility property
    * data-loader seeds only approximate). Per-source window rank +
    * broadcast weights; the global vt sort is presentation-ordering
    * (range partition), not a single-partition window.
    */
  def interleave(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents")
    val mass = docs.groupBy($"source")
      .agg(graft.Tables.dsum($"n_chars", 0).as("w"))
    val sq = mass.select($"source", sqrt($"w").as("s"))
    val tot = sq.agg(graft.Tables.qsum($"s").as("st"))
    val share = sq.crossJoin(broadcast(tot))
      .select($"source", ($"s" / $"st").as("wshare"))
    val ranked = docs.select($"doc_id", $"source",
        expr("CAST(conv(substring(md5(cast(cast(doc_id AS STRING) as binary)), 1, 12), 16, 10) AS BIGINT)")
          .as("h"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"source").orderBy($"h", $"doc_id")))
    ranked.join(broadcast(share), "source")
      .select($"doc_id", $"source", $"rn".cast("long").as("rn"),
        round($"rn" / $"wshare", 6).as("vt_r"))
      .orderBy($"vt_r", $"source", $"doc_id")
  }

  val interleaveSql: String =
    s"""WITH mass AS (
       |  SELECT source,
       |    CAST(sum(CAST(n_chars AS DECIMAL(28, 0))) AS DOUBLE) AS w
       |  FROM documents GROUP BY source),
       |sq AS (SELECT source, sqrt(w) AS s FROM mass),
       |tot AS (SELECT ${graft.Tables.qsumSql("s")} AS st FROM sq),
       |share AS (SELECT source, s / (SELECT st FROM tot) AS wshare FROM sq),
       |rk AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY
       |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT,
       |      doc_id) AS rn
       |  FROM documents)
       |SELECT doc_id, rk.source, CAST(rn AS BIGINT) AS rn,
       |  round(rn / wshare, 6) AS vt_r
       |FROM rk JOIN share ON share.source = rk.source
       |ORDER BY vt_r, rk.source, doc_id""".stripMargin

  /** D43 pair support floor — pairs seen in fewer docs don't rank. */
  val CoocMinDf = 20
  val CoocMinPair = 5
  val CoocTopN = 50

  /** D43: token co-occurrence lift (`text_cooc_lift`) — the
    * association-mining view of the corpus: for token pairs that
    * share documents, lift = P(a,b) / (P(a)·P(b)) expressed as the
    * exact integer ratio n_ab·N / (n_a·n_b) — no logarithm, so no
    * libm anywhere (the PMI ordering is the log of this ratio and
    * log is monotone: ranking by lift IS ranking by PMI).
    *
    * Execution shape at 100 TB: document-frequency floor first (the
    * vocabulary-sized df table is broadcast), so the within-doc
    * self-join only fans out FREQUENT tokens — the per-doc pair count
    * is bounded by (frequent tokens per doc)², and a min-support
    * HAVING prunes the pair table before it reaches the final top-N
    * heap (TakeOrderedAndProject). The corpus itself is touched
    * twice, map-only both times.
    */
  def coocLift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = load(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .distinct()
    val nd = load(spark, dir, "documents").agg(count(lit(1)).as("nd"))
    val df = toks.groupBy($"w").agg(count(lit(1)).as("nw"))
      .where($"nw" >= CoocMinDf)
    val ft = toks.join(broadcast(df), "w")
    ft.as("a").join(ft.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w1"), col("b.w").as("w2"),
        col("a.nw").as("n_a"), col("b.nw").as("n_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where($"n_ab" >= CoocMinPair)
      .crossJoin(broadcast(nd))
      .select($"w1", $"w2", $"n_a", $"n_b", $"n_ab",
        round(($"n_ab" * $"nd").cast("double") / ($"n_a" * $"n_b").cast("double"), 6)
          .as("lift_r"))
      .orderBy($"lift_r".desc, $"w1", $"w2")
      .limit(CoocTopN)
  }

  val coocLiftSql: String =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |nd AS (SELECT count(*) AS nd FROM documents),
       |df AS (SELECT w, count(*) AS nw FROM toks GROUP BY w
       |       HAVING count(*) >= $CoocMinDf),
       |ft AS (SELECT t.doc_id, t.w, df.nw FROM toks t JOIN df USING (w)),
       |pairs AS (
       |  SELECT a.w AS w1, b.w AS w2, a.nw AS n_a, b.nw AS n_b,
       |    count(*) AS n_ab
       |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.w < b.w
       |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= $CoocMinPair)
       |SELECT w1, w2, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  CAST(n_ab AS BIGINT) AS n_ab,
       |  round(CAST(n_ab * (SELECT nd FROM nd) AS DOUBLE)
       |    / CAST(n_a * n_b AS DOUBLE), 6) AS lift_r
       |FROM pairs
       |ORDER BY lift_r DESC, w1, w2 LIMIT $CoocTopN""".stripMargin

  /** D46 boilerplate floor: a gram this common is template text. */
  val BoilerMinDf = 25
  val BoilerGramTokens = 6
  val BoilerTopN = 20

  /** D46: boilerplate-gram extraction (`text_boilerplate_grams`) —
    * the template detector: token-6-grams whose document frequency
    * crosses [[BoilerMinDf]] are navigation chrome / license
    * headers / generated scaffolding, and their per-doc coverage is
    * the "how templated is this corpus" number that decides whether
    * passage-level dedup (D22) is worth running. One positional
    * explode → per-gram-TYPE df aggregate (the shuffle carries
    * distinct grams, not instances), top-N by (df, gram) total
    * order; corpus doc count rides along for the df share.
    */
  /** Two deterministic templates planted at query level (the D22 /
    * D16 pattern: the synthetic corpus has no organic boilerplate —
    * its 6-gram df tops out at 3 — so the detector's signal is
    * constructed identically in both engines): a header on every 3rd
    * doc, a footer on every 5th.
    */
  val BoilerHeader =
    "standard corpus template header begins every generated document in this export batch"
  val BoilerFooter =
    "automated footer with license terms and provenance notice applies to this record"

  def boilerplateGrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = BoilerGramTokens
    val docs = load(spark, dir, "documents")
      .select($"doc_id",
        concat(
          when($"doc_id" % 3 === 0, lit(BoilerHeader + " ")).otherwise(lit("")),
          $"text",
          when($"doc_id" % 5 === 0, lit(" " + BoilerFooter)).otherwise(lit("")))
          .as("text"))
    val nd = docs.agg(count(lit(1)).as("nd"))
    docs
      .select($"doc_id", split($"text", " ").as("toks"))
      .where(size($"toks") >= k)
      .select($"doc_id",
        explode(expr(s"sequence(1, size(toks) - ${k - 1})")).as("i"), $"toks")
      .select($"doc_id", concat_ws(" ", expr(s"slice(toks, i, $k)")).as("gram"))
      .distinct()
      .groupBy($"gram").agg(count(lit(1)).as("df"))
      .where($"df" >= BoilerMinDf)
      .crossJoin(broadcast(nd))
      .select($"gram", $"df",
        round($"df".cast("double") / $"nd".cast("double"), 6).as("df_share_r"))
      .orderBy($"df".desc, $"gram")
      .limit(BoilerTopN)
  }

  val boilerplateGramsSql: String =
    s"""WITH bdocs AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 3 = 0 THEN '$BoilerHeader ' ELSE '' END)
       |      || text ||
       |    (CASE WHEN doc_id % 5 = 0 THEN ' $BoilerFooter' ELSE '' END) AS text
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM bdocs),
       |g AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(toks[p : p + ${BoilerGramTokens - 1}], ' ') AS gram
       |  FROM (
       |    SELECT doc_id, toks, unnest(range(1, n - ${BoilerGramTokens - 2})) AS p
       |    FROM t WHERE n >= $BoilerGramTokens)),
       |df AS (
       |  SELECT gram, count(*) AS df FROM g GROUP BY gram
       |  HAVING count(*) >= $BoilerMinDf),
       |nd AS (SELECT count(*) AS nd FROM documents)
       |SELECT gram, df,
       |  round(CAST(df AS DOUBLE) / CAST((SELECT nd FROM nd) AS DOUBLE), 6)
       |    AS df_share_r
       |FROM df ORDER BY df DESC, gram LIMIT $BoilerTopN""".stripMargin

  /** D47: source-mix drift detection (`corpus_drift_chi2`) — the
    * monitoring statistic a continuously-ingested corpus needs: does
    * a new snapshot's source distribution still match the baseline?
    * Chi-square per-source contributions of observed-vs-expected
    * counts, where expected scales the baseline mix to the snapshot
    * size. The synthetic corpus has no organic drift (sources are
    * uniform by construction), so the snapshot is derived at query
    * level with a planted skew — every 3rd doc of three sources
    * dropped — mirrored in the oracle; the contributions for
    * untouched sources come out slightly POSITIVE too (their share
    * grew when others shrank), which is exactly what the statistic
    * is for. Counts exact; expected/contribution are one
    * deterministic double expression per source row, rounded once.
    */
  val DriftDropSources = Seq("src0", "src1", "src2")

  def driftChi2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents").select($"doc_id", $"source")
    val snap = docs.where(!($"doc_id" % 3 === 0 &&
      $"source".isin(DriftDropSources: _*)))
    val base = docs.groupBy($"source").agg(count(lit(1)).as("n_base"))
    val cur = snap.groupBy($"source").agg(count(lit(1)).as("n_cur"))
    val tot = base.agg(sum($"n_base").as("tb"))
      .crossJoin(cur.agg(sum($"n_cur").as("tc")))
    base.join(cur, Seq("source"), "left")
      .select($"source", $"n_base", coalesce($"n_cur", lit(0L)).as("n_cur"))
      .crossJoin(broadcast(tot))
      .withColumn("exp_cur",
        $"n_base".cast("double") * $"tc".cast("double") / $"tb".cast("double"))
      .select($"source", $"n_base", $"n_cur",
        round($"exp_cur", 6).as("exp_cur_r"),
        round(($"n_cur".cast("double") - $"exp_cur") *
          ($"n_cur".cast("double") - $"exp_cur") / $"exp_cur", 6)
          .as("chi2_contrib_r"))
      .orderBy($"source")
  }

  val driftChi2Sql: String = {
    val drop = DriftDropSources.map(s => s"'$s'").mkString(", ")
    s"""WITH docs AS (SELECT doc_id, source FROM documents),
       |snap AS (
       |  SELECT doc_id, source FROM docs
       |  WHERE NOT (doc_id % 3 = 0 AND source IN ($drop))),
       |base AS (SELECT source, count(*) AS n_base FROM docs GROUP BY 1),
       |cur AS (SELECT source, count(*) AS n_cur FROM snap GROUP BY 1),
       |tot AS (
       |  SELECT (SELECT CAST(sum(n_base) AS BIGINT) FROM base) AS tb,
       |         (SELECT CAST(sum(n_cur) AS BIGINT) FROM cur) AS tc),
       |j AS (
       |  SELECT b.source, b.n_base, coalesce(c.n_cur, 0) AS n_cur,
       |    CAST(b.n_base AS DOUBLE) * CAST(tc AS DOUBLE) / CAST(tb AS DOUBLE)
       |      AS exp_cur
       |  FROM base b LEFT JOIN cur c USING (source), tot)
       |SELECT source, n_base, n_cur,
       |  round(exp_cur, 6) AS exp_cur_r,
       |  round((CAST(n_cur AS DOUBLE) - exp_cur)
       |    * (CAST(n_cur AS DOUBLE) - exp_cur) / exp_cur, 6) AS chi2_contrib_r
       |FROM j ORDER BY source""".stripMargin
  }

  /** D8d: language-ID confidence margin (`text_langid_margin`) — the
    * calibration view D8c's confusion matrix doesn't give: per
    * PREDICTED language, how decisively did the classifier win? The
    * margin is top score − second score in exact integer profile
    * counts (no floats anywhere until the final rounded mean);
    * margin 0 = a tie the priority chain broke arbitrarily — those
    * are the documents a routing pipeline should send to the
    * expensive classifier. Map-only scoring, 5-group rollup.
    */
  def langIdMargin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = load(spark, dir, "documents")
      .withColumns(profiles.map { case (l, ws) => s"s_$l" -> profileScore(ws) }.toMap)
    val pred = profiles.foldRight(lit("und")) { case ((l, _), els) =>
      val c = col(s"s_$l")
      val others = profiles.filter(_._1 != l).map(p => col(s"s_${p._1}"))
      when(others.foldLeft(lit(true))((acc, o) => acc && c >= o), l).otherwise(els)
    }
    val arr = array_sort(array(profiles.map(p => col(s"s_${p._1}")): _*))
    scored
      .withColumn("lang_pred", pred)
      .withColumn("margin",
        element_at(arr, profiles.size) - element_at(arr, profiles.size - 1))
      .groupBy($"lang_pred")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"margin" === 0, 1)).as("n_ties"),
        sum($"margin").as("sum_margin"))
      .select($"lang_pred", $"n_docs", $"n_ties", $"sum_margin",
        round($"sum_margin".cast("double") / $"n_docs".cast("double"), 6)
          .as("avg_margin_r"))
      .orderBy($"lang_pred")
  }

  val langIdMarginSql: String = {
    val scores = profiles.map { case (l, ws) =>
      val set = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), w -> list_contains([$set], w))) AS s_$l"
    }.mkString(",\n  ")
    val predCase = profiles.map { case (l, _) =>
      val conds = profiles.filter(_._1 != l)
        .map(o => s"s_$l >= s_${o._1}").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    val arr = profiles.map(p => s"s_${p._1}").mkString("[", ", ", "]")
    s"""WITH scored AS (
       |  SELECT doc_id,
       |  $scores
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CASE $predCase ELSE 'und' END AS lang_pred,
       |    list_sort($arr)[${profiles.size}]
       |      - list_sort($arr)[${profiles.size - 1}] AS margin
       |  FROM scored)
       |SELECT lang_pred, count(*) AS n_docs,
       |  count(CASE WHEN margin = 0 THEN 1 END) AS n_ties,
       |  CAST(sum(margin) AS BIGINT) AS sum_margin,
       |  round(CAST(CAST(sum(margin) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS avg_margin_r
       |FROM m GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_langid_margin" -> langIdMargin _,
    "corpus_drift_chi2" -> driftChi2 _,
    "text_boilerplate_grams" -> boilerplateGrams _,
    "text_cooc_lift" -> coocLift _,
    "corpus_interleave" -> interleave _,
    "text_bpe_fertility" -> bpeFertility _,
    "text_langid_eval" -> langIdEval _,
    "text_clf_eval" -> clfEval _,
    "corpus_epoch_plan" -> epochPlan _,
    "text_ngram_novelty" -> ngramNovelty _,
    "corpus_ppl_buckets" -> pplBuckets _,
    "text_zipf_slope" -> zipfSlope _,
    "text_bpe_merges" -> bpeMerges _,
    "text_bpe_tokenize" -> bpeTokenize _,
    "corpus_dsir" -> corpusDsir _,
    "text_unigram_logprob" -> unigramLogprob _,
    "text_bigram_nll" -> bigramNll _,
    "text_bigram_kn" -> bigramKn _,
    "text_tfidf" -> tfidf _,
    "corpus_curate" -> corpusCurate _,
    "text_entropy" -> entropy _,
    "text_wordcount" -> wordcount _,
    "text_vocab_stats" -> vocabStats _,
    "text_lang_id" -> langId _,
    "text_quality" -> quality _,
    "text_quality_clf" -> qualityClf _,
    "text_gopher_filter" -> gopherFilter _,
    "corpus_shuffle" -> corpusShuffle _,
    "text_token_count" -> tokenCount _,
    "text_fingerprint" -> fingerprint _,
    "text_normalize" -> normalize _,
    "text_repetition" -> repetition _,
    "text_pii_redact" -> piiRedact _,
    "text_seq_pack" -> seqPack _,
    "text_split_assign" -> splitAssign _,
    "text_chunk" -> chunk _,
    "corpus_mix" -> corpusMix _,
    "corpus_cap_per_source" -> capPerSource _,
    "corpus_sample_priority" -> samplePriority _,
    "corpus_temperature_mix" -> temperatureMix _,
    "text_bm25" -> bm25 _)

  private val profileCase: String = {
    val conds = profiles.map { case (l, _) =>
      val others = profiles.filter(_._1 != l).map(p => s"s_$l >= s_${p._1}").mkString(" AND ")
      s"WHEN $others THEN '$l'"
    }.mkString(" ")
    s"CASE $conds ELSE 'und' END"
  }

  private val profileSelects: String = profiles.map { case (l, ws) =>
    val set = ws.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), w -> list_contains([$set], w))) AS s_$l"
  }.mkString(",\n  ")

  /** D8 oracle (shared with the D8c evaluation oracle). */
  val langIdSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang, $profileSelects
       |  FROM documents)
       |SELECT doc_id, lang, $profileCase AS lang_pred,
       |  s_en, s_de, s_es, s_fr, s_zh
       |FROM scored ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "text_langid_margin" -> langIdMarginSql,
    "corpus_drift_chi2" -> driftChi2Sql,
    "text_boilerplate_grams" -> boilerplateGramsSql,
    "text_cooc_lift" -> coocLiftSql,
    "corpus_interleave" -> interleaveSql,
    "text_bpe_fertility" -> bpeFertilitySql,
    "text_langid_eval" -> langIdEvalSql,
    "text_clf_eval" -> clfEvalSql,
    "corpus_epoch_plan" -> epochPlanSql,
    "text_ngram_novelty" -> ngramNoveltySql,
    "corpus_ppl_buckets" -> pplBucketsSql,
    "text_zipf_slope" ->
      s"""WITH tc AS (
         |  SELECT lang, tok, count(*) AS cnt
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT lang, cnt,
         |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rank
         |  FROM tc),
         |xy AS (
         |  SELECT lang, round(ln(CAST(rank AS DOUBLE)), 9) AS x,
         |    round(ln(CAST(cnt AS DOUBLE)), 9) AS y
         |  FROM rk WHERE rank <= $ZipfTopN),
         |m AS (
         |  SELECT lang, count(*) AS n_terms,
         |    ${graft.Tables.qsumSql("x")} AS sx,
         |    ${graft.Tables.qsumSql("y")} AS sy,
         |    ${graft.Tables.qsumSql("x * x")} AS sxx,
         |    ${graft.Tables.qsumSql("x * y")} AS sxy
         |  FROM xy GROUP BY lang)
         |SELECT lang, n_terms,
         |  round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6)
         |    AS slope_r,
         |  round((sy - (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx) * sx)
         |    / n_terms, 6) AS intercept_r
         |FROM m ORDER BY lang""".stripMargin,
    "text_bpe_merges" -> bpeMergesSql,
    "text_bpe_tokenize" -> bpeTokenizeSql,
    "corpus_dsir" -> corpusDsirSql,
    "text_unigram_logprob" -> unigramLogprobSql,
    "text_bigram_nll" -> bigramNllSql,
    "text_bigram_kn" -> bigramKnSql,
    "text_tfidf" -> tfidfSql,
    "corpus_curate" -> corpusCurateSql,
    "text_entropy" -> entropySql,
    "text_chunk" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n_tokens
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, toks,
         |    CAST(kk AS BIGINT) AS chunk_id, kk * $ChunkStride AS start
         |  FROM t, LATERAL (SELECT unnest(range(0,
         |    (greatest(n_tokens - 1, 0) // $ChunkStride) + 1)) AS kk) u)
         |SELECT doc_id, chunk_id,
         |  CAST(len(toks[start + 1 : start + $ChunkTokens]) AS BIGINT) AS chunk_len,
         |  md5(array_to_string(toks[start + 1 : start + $ChunkTokens], ' ')) AS chunk_md5
         |FROM b ORDER BY doc_id, chunk_id""".stripMargin,
    "text_seq_pack" ->
      s"""WITH t AS (
         |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |  FROM t)
         |SELECT source, CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS pack_id,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY source, pack_id
         |ORDER BY source, pack_id""".stripMargin,
    "text_split_assign" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |    ('0x' || substr(md5('split:' || doc_id), 1, 7))::BIGINT % 100 AS hv
        |  FROM documents)
        |SELECT CASE WHEN hv < 80 THEN 'train' WHEN hv < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(CAST(n_chars AS DECIMAL(28,0))) AS DOUBLE) AS total_chars
        |FROM h GROUP BY 1 ORDER BY split""".stripMargin,
    "text_pii_redact" ->
      s"""WITH p AS (
         |  SELECT doc_id, text || ' contact u' || doc_id ||
         |    '@example.com tel 555-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii_text
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(pii_text, '$EmailPat')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(pii_text, '$PhonePat')) AS BIGINT) AS n_phones,
         |    regexp_replace(regexp_replace(pii_text, '$EmailPat', '[EMAIL]', 'g'),
         |      '$PhonePat', '[PHONE]', 'g') AS redacted
         |  FROM p)
         |SELECT doc_id, n_emails, n_phones,
         |  CAST(length(redacted) AS BIGINT) AS redacted_len,
         |  md5(redacted) AS redacted_md5
         |FROM r ORDER BY doc_id""".stripMargin,
    "text_vocab_stats" ->
      """WITH tc AS (
        |  SELECT lang, tok, count(*) AS cnt FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY lang, tok),
        |pl AS (
        |  SELECT lang, sum(cnt) AS n_tokens, count(*) AS vocab,
        |    count(CASE WHEN cnt = 1 THEN 1 END) AS hapax
        |  FROM tc GROUP BY lang),
        |nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
        |SELECT pl.lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  vocab, hapax,
        |  round(CAST(vocab AS DOUBLE) / n_tokens, 6) AS ttr_r,
        |  round(CAST(hapax AS DOUBLE) / vocab, 6) AS hapax_ratio_r
        |FROM pl JOIN nd ON nd.lang = pl.lang
        |ORDER BY pl.lang""".stripMargin,
    "text_wordcount" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "text_lang_id" -> langIdSql,
    "text_gopher_filter" -> gopherFilterSql,
    "text_quality_clf" -> qualityClfSql,
    "corpus_shuffle" -> corpusShuffleSql,
    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    length(text) AS n_chars_m,
        |    len(list_filter(string_split(text, ' '),
        |        w -> list_contains(['the', 'a', 'of', 'and'], w))) AS n_stop
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(n_chars_m - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_token_len,
        |    CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio
        |  FROM t)
        |SELECT doc_id, n_tokens, avg_token_len, stop_ratio,
        |  (avg_token_len * 0.2) + (stop_ratio * 2.0) +
        |    (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0) AS score,
        |  ((avg_token_len * 0.2) + (stop_ratio * 2.0) +
        |    (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0)) > 1.5
        |    AND n_tokens >= 10 AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]{1,3}')) AS n_subwords,
        |  CAST(length(text) AS DOUBLE) / len(regexp_extract_all(text, '[a-z]{1,3}')) AS chars_per_subword
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(toks) - 3, 1) + 1),
        |      i -> array_to_string(toks[i : i + 3], ' ')) AS wins
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(wins) AS BIGINT) AS n_windows,
        |  CAST(len(list_distinct(wins)) AS BIGINT) AS n_distinct,
        |  1.0 - CAST(len(list_distinct(wins)) AS DOUBLE) / len(wins) AS dup_ratio,
        |  (1.0 - CAST(len(list_distinct(wins)) AS DOUBLE) / len(wins)) > 0.2 AS flagged
        |FROM w ORDER BY doc_id""".stripMargin,
    "corpus_mix" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 100 <
        |    (CASE WHEN length(source) = 4 THEN 100 ELSE 30 END)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN doc_id % 100 <
        |    (CASE WHEN length(source) = 4 THEN 100 ELSE 30 END)
        |    THEN n_chars ELSE 0 END) AS DOUBLE) AS kept_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "corpus_cap_per_source" -> capPerSourceSql,
    "corpus_sample_priority" -> samplePrioritySql,
    "corpus_temperature_mix" -> temperatureMixSql,
    "text_bm25" -> bm25Sql,
    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |    ' +', ' ', 'g')) AS norm_text,
        |  length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |    ' +', ' ', 'g'))) AS norm_len,
        |  length(text) - length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |    ' +', ' ', 'g'))) AS removed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(text) + 1),
        |          i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |  FROM documents)
        |SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS fp_group_size
        |FROM f ORDER BY doc_id""".stripMargin)
}
