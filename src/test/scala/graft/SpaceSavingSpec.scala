package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.SpaceSavingAgg.space_saving

/** Sketch error bounds, together in one suite: SpaceSaving (B11 —
  * exactness in the no-eviction regime, est/err bounds under
  * eviction) plus the approx-percentile and HLL twins (C14/C14b —
  * rows-only queries whose sketch columns must track the exact
  * columns computed in the same row).
  */
class SketchBoundsSpec extends SparkSpecBase {

  test("approx percentile/HLL sketches stay within error bounds of their exact twins") {
    // The bound math now lives inside the queries (the graded output is
    // (exact columns…, within_bound)); the spec pins that the verdict
    // column is TRUE on every row of both sketch-vs-exact comparisons.
    val pct = graft.queries.Relational.approxPercentile(spark, sf0001).collect()
    assert(pct.nonEmpty)
    for (r <- pct) {
      val (e50, e99) = (r.getDouble(1), r.getDouble(2))
      assert(e50 > 0 && e99 >= e50, s"exact percentiles malformed: $r")
      assert(r.getBoolean(3), s"percentile sketch out of bound for ${r.get(0)}: $r")
    }
    val hll = graft.queries.Relational.approxHll(spark, sf0001).collect()
    assert(hll.nonEmpty)
    for (r <- hll) {
      assert(r.getLong(1) > 0, s"exact count malformed: $r")
      assert(r.getBoolean(2), s"HLL sketch out of bound for ${r.get(0)}: $r")
    }
  }

  private def entries(row: Row): Seq[(String, Long, Long)] =
    row.getSeq[Row](0).map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  test("exact counts and zero error when capacity >= distinct keys (merges included)") {
    import spark.implicits._
    val df = spark.range(1000)
      .select(concat(lit("k"), pmod($"id", lit(7))).as("key"))
      .repartition(8) // force partial buffers + merges
    val got = entries(df.agg(space_saving($"key", 16)).head())
    assert(got.map(_._2).sum === 1000L)
    assert(got.forall(_._3 === 0L), s"expected err 0: $got")
    // 1000 over 7 keys: ids 0..5 -> 143, id 6 -> 142
    assert(got.count(_._2 === 143L) === 6 && got.count(_._2 === 142L) === 1)
    // descending est, key tie-break
    assert(got === got.sortBy(t => (-t._2, t._1)))
  }

  test("eviction regime: capacity bound + SpaceSaving guarantees hold") {
    import spark.implicits._
    // one true heavy hitter (freq 500) + 100 singleton keys, n = 600.
    // capacity 8 << 101 distinct => evictions happen.
    val heavy = Seq.fill(500)("hot")
    val tail = (0 until 100).map(i => s"rare$i")
    val df = (heavy ++ tail).toDF("key").coalesce(1) // sequential stream
    val got = entries(df.agg(space_saving($"key", 8)).head())
    assert(got.size <= 8, s"capacity exceeded: ${got.size}")
    val n = 600
    // any key with freq > n/k = 75 must be present
    assert(got.exists(_._1 === "hot"), s"heavy hitter lost: $got")
    val (_, est, err) = got.find(_._1 === "hot").get
    // est >= true >= est - err
    assert(est >= 500L && est - err <= 500L, s"bounds violated: est=$est err=$err")
    // every counter is an overestimate by at most its err
    got.foreach { case (k, e, r) => assert(e >= 1 && r <= e, s"bad counter ($k,$e,$r)") }
  }

  test("merged eviction regime: guarantees survive partial-aggregate merges") {
    import spark.implicits._
    // heavy hitter spread across 8 partitions, each partition also
    // carrying enough singletons to force evictions BEFORE the merge —
    // the regime where a naive union-only merge undercounts
    val rows = (0 until 8).flatMap { p =>
      Seq.fill(60)(s"hot") ++ (0 until 40).map(i => s"rare${p}_$i")
    }
    val got = entries(rows.toDF("key").repartition(8).agg(
      graft.functions.SpaceSavingAgg.space_saving($"key", 8)).head())
    assert(got.size <= 8)
    val hot = got.find(_._1 === "hot")
    assert(hot.isDefined, s"heavy hitter (480 of 800) lost across merges: $got")
    val (_, est, err) = hot.get
    assert(est >= 480L, s"est must upper-bound true count: est=$est")
    assert(est - err <= 480L, s"est-err must lower-bound true count: est=$est err=$err")
  }

  test("weighted variant sums weights exactly in the no-eviction regime") {
    import spark.implicits._
    val df = Seq(("a", 10L), ("b", 1L), ("a", 5L), ("c", 7L), ("a", 2L))
      .toDF("k", "w").repartition(3)
    val got = entries(df.agg(
      graft.functions.SpaceSavingAgg.space_saving_weighted($"k", $"w", 8)).head())
    assert(got === Seq(("a", 17L, 0L), ("c", 7L, 0L), ("b", 1L, 0L)))
  }

  test("weighted variant rejects negative weights loudly, skips zeros") {
    import spark.implicits._
    val df = Seq(("a", 10L), ("b", -1L)).toDF("k", "w")
    val ex = intercept[Exception] {
      df.agg(graft.functions.SpaceSavingAgg.space_saving_weighted($"k", $"w", 8)).head()
    }
    // Spark wraps the task failure; the root message must survive
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("weight must be positive")),
      s"expected a positive-weight error, got: $ex")

    // zero weight: contributes nothing, evicts nothing (like null)
    val z = entries(Seq(("a", 5L), ("z", 0L), ("a", 2L)).toDF("k", "w")
      .agg(graft.functions.SpaceSavingAgg.space_saving_weighted($"k", $"w", 2)).head())
    assert(z === Seq(("a", 7L, 0L)))
  }

  test("SQL surface: space_saving registered via extensions") {
    import spark.implicits._
    Seq("a", "b", "a", "a").toDF("k").createOrReplaceTempView("ss_in")
    val got = spark.sql("SELECT space_saving(k, 4) AS s FROM ss_in").head()
      .getSeq[Row](0).map(r => (r.getString(0), r.getLong(1)))
    assert(got === Seq(("a", 3L), ("b", 1L)))
  }

  // ---- Count-Min sketch (B16) -----------------------------------------

  test("CMS: est >= true for every key and the eps*N bound holds, merges included") {
    import spark.implicits._
    import graft.functions.CmsAgg.{cms_query, cms_sketch}
    // zipfish multiset: key j appears 200/(j+1) times, 50 distinct keys
    val rows = (0 until 50).flatMap(j => Seq.fill(200 / (j + 1))(s"k$j"))
    val df = rows.toDF("k").repartition(8) // force partial sketches + add-merge
    val n = rows.size
    val (d, w) = (4, 64)
    val sk = df.agg(cms_sketch($"k", d, w).as("sk"))
    val est = df.distinct().crossJoin(broadcast(sk))
      .select($"k", cms_query($"sk", $"k").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    truth.foreach { case (k, t) =>
      assert(est(k) >= t, s"CMS underestimated $k: ${est(k)} < $t")
      // eps = e/w; the 1-delta guarantee is probabilistic, but on this
      // fixed input + md5 hashing the outcome is deterministic — the
      // bound holding here pins the construction, not luck
      assert(est(k) <= t + math.ceil(math.E / w * n).toLong,
        s"CMS overestimate out of bound for $k: ${est(k)} vs $t (N=$n)")
    }
  }

  test("CMS: sketch bytes are a pure function of the multiset, any partitioning") {
    import spark.implicits._
    import graft.functions.CmsAgg.cms_sketch
    val df = spark.range(1000).select(concat(lit("u"), pmod($"id", lit(37))).as("k"))
    val one = df.coalesce(1).agg(cms_sketch($"k", 4, 128)).head().getAs[Array[Byte]](0)
    val many = df.repartition(16).agg(cms_sketch($"k", 4, 128)).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(one, many))
  }

  test("SQL surface: cms_sketch/cms_query registered via extensions") {
    import spark.implicits._
    Seq("a", "b", "a", "a").toDF("k").createOrReplaceTempView("cms_in")
    val got = spark.sql(
      """WITH s AS (SELECT cms_sketch(k, 4, 64) AS sk FROM cms_in)
        |SELECT cms_query(sk, 'a'), cms_query(sk, 'b') FROM s""".stripMargin).head()
    assert(got.getLong(0) === 3L && got.getLong(1) === 1L)
  }

  // ---- HyperLogLog (B18) ----------------------------------------------

  test("HLL: estimate within the 1.04/sqrt(m) band across cardinalities, merges included") {
    import spark.implicits._
    import graft.functions.HllAgg.{hll_estimate, hll_sketch}
    for (n <- Seq(100, 1000, 20000)) {
      val df = spark.range(n).select(concat(lit("key"), $"id").as("k")).repartition(8)
      val est = df.agg(hll_estimate(hll_sketch($"k", 9), 9)).head().getDouble(0)
      val rse = 1.04 / math.sqrt(512) // ~4.6%
      assert(math.abs(est - n) / n < 3 * rse,
        f"HLL off at n=$n: $est%.0f (${math.abs(est - n) / n * 100}%.1f%%)")
    }
  }

  test("HLL: register bytes are a pure function of the key set, any partitioning") {
    import spark.implicits._
    import graft.functions.HllAgg.hll_sketch
    val df = spark.range(5000).select(concat(lit("u"), $"id").as("k"))
    val one = df.coalesce(1).agg(hll_sketch($"k", 9)).head().getAs[Array[Byte]](0)
    val many = df.repartition(16).agg(hll_sketch($"k", 9)).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(one, many))
  }

  test("HLL union: merging partial sketches equals sketching the union") {
    import spark.implicits._
    import graft.functions.HllAgg.{hll_sketch, hll_merge}
    // two overlapping key sets, sketched separately, then unioned via
    // the re-aggregation path — must be byte-identical to one sketch
    // over the combined set (union = elementwise register max)
    val a = spark.range(0, 3000).select(concat(lit("u"), $"id").as("k"))
    val b = spark.range(2000, 6000).select(concat(lit("u"), $"id").as("k"))
    val partials = a.select(lit(1).as("g"), $"k").unionAll(b.select(lit(2).as("g"), $"k"))
      .groupBy($"g").agg(hll_sketch($"k", 9).as("sk"))
    val merged = partials.agg(hll_merge($"sk", 9)).head().getAs[Array[Byte]](0)
    val direct = a.unionAll(b).agg(hll_sketch($"k", 9)).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, direct))
  }

  test("HLL union: rejects sketches built with a different p") {
    import spark.implicits._
    import graft.functions.HllAgg.{hll_sketch, hll_merge}
    val sk8 = spark.range(100).select(concat(lit("u"), $"id").as("k"))
      .agg(hll_sketch($"k", 8).as("sk"))
    val e = intercept[Exception] {
      sk8.agg(hll_merge($"sk", 9)).head()
    }
    assert(e.getMessage != null)
  }

  test("SQL surface: hll_sketch/hll_estimate registered via extensions") {
    import spark.implicits._
    spark.range(1000).select(concat(lit("x"), $"id").as("k"))
      .createOrReplaceTempView("hll_in")
    val est = spark.sql(
      "SELECT hll_estimate(hll_sketch(k, 9), 9) FROM hll_in").head().getDouble(0)
    assert(math.abs(est - 1000) / 1000.0 < 0.15, s"SQL-path estimate off: $est")
  }

  test("flow_freq_cms: estimates dominate true counts") {
    val rows = graft.flow.FlowAnalytics.freqCms(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) >= r.getLong(2),
      s"CMS under true count for user ${r.get(0)}"))
  }
}
