package graft

import org.apache.spark.sql.functions._

import graft.functions.{KllSketchAgg, KllUtil}

/** C27 invariants the within_bound grading can't see: the KLL
  * compactor stack holds a tight RANK-error bound on planted
  * distributions (uniform, heavily skewed, adversarially ordered),
  * the bound survives partitioned execution (merges), the sketch
  * stays small, and the SQL registration works.
  */
class KllSpec extends SparkSpecBase {

  private val N = 200000

  /** Deterministic pseudo-uniform stream in [0, 1). */
  private def u(i: Long): Double =
    ((i * 2654435761L) % 1000003L).toDouble / 1000003.0

  /** True rank of value v in the data (fraction ≤ v). */
  private def rankOf(sorted: Array[Double], v: Double): Double = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toDouble / sorted.length
  }

  private def checkRankError(data: Array[Double], label: String): Unit = {
    val s = new KllUtil.Sketch(256)
    data.foreach(s.insert)
    val ps = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val qs = s.quantiles(ps)
    val sorted = data.sorted
    for ((p, q) <- ps.zip(qs)) {
      val err = math.abs(rankOf(sorted, q) - p)
      assert(err <= 0.02,
        f"$label: rank error $err%.4f at p=$p (k=256 should hold 2%%)")
    }
  }

  test("rank error ≤ 2% on uniform, skewed, and sorted streams (k=256)") {
    val uniform = Array.tabulate(N)(i => u(i.toLong))
    checkRankError(uniform, "uniform")
    // heavy right skew: x^8 pushes 99.6% of mass below 0.5
    checkRankError(uniform.map(x => math.pow(x, 8)), "skewed")
    // adversarial orders: fully sorted and reverse-sorted inserts
    checkRankError(uniform.sorted, "ascending")
    checkRankError(uniform.sorted.reverse, "descending")
  }

  test("merge keeps the bound: 64 partial sketches == one pass within 2%") {
    val data = Array.tabulate(N)(i => u(i * 7L + 3))
    val parts = data.grouped(N / 64).toSeq
    val partials = parts.map { chunk =>
      val s = new KllUtil.Sketch(256); chunk.foreach(s.insert); s
    }
    val merged = partials.reduceLeft { (a, b) => a.mergeIn(b); a }
    val sorted = data.sorted
    for ((p, q) <- Seq(0.1, 0.5, 0.9, 0.99).zip(
        merged.quantiles(Seq(0.1, 0.5, 0.9, 0.99)))) {
      val err = math.abs(rankOf(sorted, q) - p)
      assert(err <= 0.02, f"merged: rank error $err%.4f at p=$p")
    }
  }

  test("sketch size is logarithmic: ≤ 64 KB at n = 200k, k = 256") {
    val s = new KllUtil.Sketch(256)
    (0 until N).foreach(i => s.insert(u(i.toLong)))
    assert(s.serialize().length <= 64 * 1024,
      s"sketch grew to ${s.serialize().length} bytes")
  }

  test("distributed agg matches driver-side sketch semantics and bounds") {
    import spark.implicits._
    val df = spark.range(N).repartition(32)
      .select((($"id" * 2654435761L) % 1000003L).cast("double")
        ./(1000003.0).as("v"))
    val got = df.agg(
      KllSketchAgg.kll_quantiles($"v", 256, Seq(0.5, 0.9)).as("qs"),
      percentile($"v", typedLit(Seq(0.48, 0.52, 0.88, 0.92))).as("ex"))
      .select(element_at($"qs", 1), element_at($"qs", 2),
        element_at($"ex", 1), element_at($"ex", 2),
        element_at($"ex", 3), element_at($"ex", 4))
      .head()
    val (p50, p90) = (got.getDouble(0), got.getDouble(1))
    assert(p50 >= got.getDouble(2) && p50 <= got.getDouble(3),
      s"p50=$p50 outside [${got.getDouble(2)}, ${got.getDouble(3)}]")
    assert(p90 >= got.getDouble(4) && p90 <= got.getDouble(5),
      s"p90=$p90 outside [${got.getDouble(4)}, ${got.getDouble(5)}]")
  }

  test("sketch → union → values re-aggregation equals the one-pass path") {
    import spark.implicits._
    // per-group sketches unioned across groups must answer like a
    // single sketch over the whole stream (the sliding-panel contract)
    val df = spark.range(N).repartition(16)
      .select(($"id" % 24).as("hr"),
        (($"id" * 2654435761L) % 1000003L).cast("double")./(1000003.0).as("v"))
    val hourly = df.groupBy($"hr")
      .agg(graft.functions.KllSketchAgg.kll_sketch($"v", 256).as("sk"))
    val merged = hourly.agg(
      graft.functions.KllSketchAgg.kll_union($"sk", 256).as("wsk"))
      .select(graft.functions.KllSketchAgg.kll_values($"wsk", Seq(0.25, 0.5, 0.9)))
      .head().getSeq[Double](0)
    for ((p, q) <- Seq(0.25, 0.5, 0.9).zip(merged)) {
      assert(math.abs(q - p) <= 0.02, // uniform in [0,1): value ≈ rank
        f"re-aggregated quantile $q%.4f at p=$p drifted")
    }
  }

  test("SQL surface: kll_quantiles registered via extensions") {
    import spark.implicits._
    spark.range(10000).select(($"id" % 100).cast("double").as("v"))
      .createOrReplaceTempView("kll_in")
    val r = spark.sql(
      "SELECT kll_quantiles(v, 64, 0.5, 0.99) AS q FROM kll_in").head()
    val q = r.getSeq[Double](0)
    assert(q.length == 2 && q(0) >= 40 && q(0) <= 60 && q(1) >= 95)
  }

  test("kll_quantiles: SQL and Column API give the values of kll_values over kll_sketch") {
    import spark.implicits._
    val df = spark.range(20000).repartition(1)
      .select(($"id" % 7).as("g"), (($"id" * 2654435761L) % 1000003L).cast("double").as("v"))
    df.createOrReplaceTempView("kll_api")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("g").collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    val viaSql = rows(spark.sql(
      "SELECT g, kll_quantiles(v, 64, 0.1, 0.5, 0.99) FROM kll_api GROUP BY g"))
    val viaColumn = rows(df.groupBy($"g").agg(
      KllSketchAgg.kll_quantiles($"v", 64, Seq(0.1, 0.5, 0.99))))
    val composed = rows(df.groupBy($"g").agg(KllSketchAgg.kll_sketch($"v", 64).as("sk"))
      .select($"g", KllSketchAgg.kll_values($"sk", Seq(0.1, 0.5, 0.99))))
    assert(viaSql.length === 7)
    assert(viaSql === viaColumn)
    assert(viaSql === composed)
  }

  test("null and empty inputs: nulls skipped, empty group yields NaN") {
    import spark.implicits._
    val withNulls = Seq[java.lang.Double](1.0, null, 2.0, null, 3.0)
      .toDF("v")
    val q = withNulls.agg(KllSketchAgg.kll_quantiles($"v", 64, Seq(0.5)).as("q"))
      .head().getSeq[Double](0)
    assert(q(0) == 2.0)
    val empty = spark.emptyDataFrame.sparkSession
      .sql("SELECT CAST(NULL AS DOUBLE) AS v WHERE false")
    val eq = empty.agg(KllSketchAgg.kll_quantiles(col("v"), 64, Seq(0.5)).as("q"))
      .head().getSeq[Double](0)
    assert(eq(0).isNaN)
  }
}
