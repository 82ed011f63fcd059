package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.{davg, dec, dsum, load}

/** Relational core (SURVEY §2 C*): the general analytic surface a
  * ClickHouse user of the reference's `nflows` table relies on,
  * verified TPC-H-style on the star schema.
  *
  * Scale notes: fact tables (lineitem/orders/events) are only ever
  * shuffled on their join/group keys; dimension tables are broadcast
  * explicitly. Global top-N goes through orderBy+limit which Spark
  * plans as TakeOrderedAndProject (per-partition heap, no full sort).
  */
object Relational {

  /** C1: TPC-H Q1-style grouped aggregation with derived expressions. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = load(spark, dir, "lineitem")
    li.where($"l_shipdate" <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")), 4)
          .as("sum_disc_price"),
        dsum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount"))
          * (lit(1) + dec($"l_tax")), 6).as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** C2: customer ⋈ orders ⋈ lineitem, revenue per order, top 10.
    * customer is the small side → broadcast; lineitem⋈orders shuffle
    * on orderkey only.
    */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = load(spark, dir, "customer")
      .where($"c_mktsegment" === "BUILDING")
    val ord = load(spark, dir, "orders")
      .where($"o_orderdate" < lit("1998-01-01").cast("timestamp_ntz"))
    val li = load(spark, dir, "lineitem")
      .where($"l_shipdate" > lit("1996-01-01").cast("timestamp_ntz"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(dsum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")), 4)
        .as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  /** C3: 6-way snowflake join → revenue per nation (TPC-H Q5 shape).
    * All dims broadcast; the only shuffles are fact-side groupBy.
    */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val region = load(spark, dir, "region").where($"r_name" === "ASIA")
    val nation = load(spark, dir, "nation")
    val cust = load(spark, dir, "customer")
    val supp = load(spark, dir, "supplier")
    val ord = load(spark, dir, "orders")
      .where($"o_orderdate" >= lit("1996-01-01").cast("timestamp_ntz") &&
             $"o_orderdate" < lit("1999-01-01").cast("timestamp_ntz"))
    val li = load(spark, dir, "lineitem")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(dsum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")), 4)
        .as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** C4a: EXISTS — customers having at least one high-value order. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = load(spark, dir, "customer")
    val big = load(spark, dir, "orders").where($"o_totalprice" > 400000.0)
    cust.join(big, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_nationkey")
      .orderBy($"c_custkey")
  }

  /** C4b: NOT EXISTS — customers with no large (&gt;300k) order. (Every
    * custkey in the testdata has at least one order, so the unfiltered
    * form is vacuously empty; filtering the right side keeps the anti
    * join shape while producing a non-trivial result.)
    */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = load(spark, dir, "customer")
    val big = load(spark, dir, "orders").where($"o_totalprice" > 300000.0)
    cust.join(big, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** C5: count-distinct + multi-distinct per group. */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_orderkey").as("n_orders"),
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey", $"l_partkey").as("n_supp_part"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  /** C6: top-3 orders per priority by price via dense window rank. */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    load(spark, dir, "orders")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where($"rnk" <= 3)
      .select($"o_orderpriority", $"rnk", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderpriority", $"rnk")
  }

  /** C6b: earliest-orders-per-priority via `rank()` — day-granular
    * order dates tie heavily, so `rank() <= 2` legitimately emits
    * MORE than 2 rows per priority (every order tied at the boundary
    * date). Plans through [[graft.plans.RewriteRankLimit]]'s
    * tie-expanded key-group heap ([[graft.functions.RankRowsAgg]]):
    * the shuffle carries one pruned group-map per (partition,
    * priority) instead of every order of every priority, and no
    * per-group sort materializes — the rank-like twin of C6's
    * row_number rewrite.
    */
  def windowRankTies(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_orderdate")
    load(spark, dir, "orders")
      .withColumn("rnk", rank().over(w).cast("long"))
      .where($"rnk" <= 2)
      .select($"o_orderpriority", $"rnk", $"o_orderkey", $"o_orderdate")
      .orderBy($"o_orderpriority", $"rnk", $"o_orderkey")
  }

  /** C6c: first/last/nth_value + lead-with-default over explicit
    * frames — the navigation-function corner of the window surface
    * (C6/C6b cover ranking, C7 covers running frames). One window
    * partitioning serves all four functions, so the plan is a single
    * sort+window pass; `nth_value` runs on the growing frame (NULL
    * until the 3rd peer arrives) and `last_value` on the full-group
    * frame — the two frame shapes that trip naive implementations.
    */
  def windowFirstLast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_orderdate", $"o_orderkey")
    val grow = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    load(spark, dir, "orders")
      .where($"o_custkey" < 500)
      .select($"o_orderpriority", $"o_orderkey", $"o_orderdate", $"o_totalprice")
      .withColumn("first_key", first($"o_orderkey").over(grow))
      .withColumn("last_key", last($"o_orderkey").over(full))
      .withColumn("third_key", nth_value($"o_orderkey", 3).over(grow))
      .withColumn("lead2_price", lead($"o_totalprice", 2, -1.0).over(w))
      .orderBy($"o_orderpriority", $"o_orderdate", $"o_orderkey")
  }

  /** C7: running revenue + lag within each customer's order history. */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    load(spark, dir, "orders")
      .where($"o_custkey" < 100)
      .select(
        $"o_custkey", $"o_orderkey",
        sum(dec($"o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_total"),
        lag(dec($"o_totalprice"), 1).over(w).cast("double").as("prev_price"),
        row_number().over(w).cast("long").as("order_seq"))
      .orderBy($"o_custkey", $"order_seq")
  }

  /** C7b: RANGE window frame — per customer, how many of their orders
    * fall within $10k below each order's price (value-based frame, so
    * price ties are peers — unlike ROWS frames).
    */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice")
      .rangeBetween(-10000L, 0L)
    load(spark, dir, "orders")
      .where($"o_custkey" < 50)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        count(lit(1)).over(w).as("n_within_10k"),
        sum(dec($"o_totalprice")).over(w).cast("double").as("sum_within_10k"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** C24: FULL OUTER join — year-over-year revenue per customer,
    * customers present in either year kept (the snapshot-diff shape:
    * who appeared, who churned, who moved). Both sides are already
    * aggregated to one row per key before the join, so the full
    * outer is key-aligned and shuffle-partitioned on the join key —
    * never a row-multiplying outer product.
    */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = load(spark, dir, "orders")
    def rev(year: Int, out: String) = o
      .where($"o_orderdate" >= lit(s"$year-01-01 00:00:00").cast("timestamp_ntz") &&
        $"o_orderdate" < lit(s"${year + 1}-01-01 00:00:00").cast("timestamp_ntz"))
      .groupBy($"o_custkey").agg(graft.Tables.dsum($"o_totalprice").as(out))
    val a = rev(1997, "rev97").as("a")
    val b = rev(1998, "rev98").as("b")
    a.join(b, $"a.o_custkey" === $"b.o_custkey", "full_outer")
      .select(coalesce($"a.o_custkey", $"b.o_custkey").as("custkey"),
        coalesce($"rev97", lit(0.0)).as("rev97"),
        coalesce($"rev98", lit(0.0)).as("rev98"))
      .where($"custkey" < 500)
      .orderBy($"custkey")
  }

  /** C25: EXCEPT / INTERSECT set operations — customers active in
    * 1997 partitioned into churned (EXCEPT 1998) and retained
    * (INTERSECT 1998), tagged and unioned. Both set ops plan as
    * aggregated joins (left-anti / left-semi over distincts), so the
    * shuffle is key-sized.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = load(spark, dir, "orders")
    def actives(year: Int) = o
      .where($"o_orderdate" >= lit(s"$year-01-01 00:00:00").cast("timestamp_ntz") &&
        $"o_orderdate" < lit(s"${year + 1}-01-01 00:00:00").cast("timestamp_ntz"))
      .select($"o_custkey")
    val y97 = actives(1997); val y98 = actives(1998)
    y97.except(y98).select($"o_custkey", lit("churned").as("cohort"))
      .unionAll(y97.intersect(y98).select($"o_custkey", lit("retained").as("cohort")))
      .orderBy($"o_custkey", $"cohort")
  }

  /** C8: ROLLUP over (returnflag, linestatus). */
  def rollupCube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** C9: global top-K without a total sort (TakeOrderedAndProject). */
  def orderbyLimit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(25)
  }

  /** C10: union of two key ranges + distinct. */
  def unionDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = load(spark, dir, "orders")
    val a = ord.where($"o_totalprice" > 350000.0).select($"o_custkey")
    val b = ord.where($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    a.union(b).distinct().orderBy($"o_custkey")
  }

  /** C11: scalar-subquery filter — orders above the global mean price. */
  def subqueryScalar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = load(spark, dir, "orders")
    val mean = ord.agg(davg($"o_totalprice").as("m"))
    ord.join(broadcast(mean))
      .where($"o_totalprice" > $"m" * 1.5)
      .select($"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** C12: pivot orderstatus → columns (conditional-agg form so the
    * DuckDB oracle is plain SQL).
    */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(
        count(when($"o_orderstatus" === "F", 1)).as("n_f"),
        count(when($"o_orderstatus" === "O", 1)).as("n_o"),
        count(when($"o_orderstatus" === "P", 1)).as("n_p"),
        dsum(when($"o_orderstatus" === "F", $"o_totalprice")).as("price_f"))
      .orderBy($"o_orderpriority")
  }

  /** C13: deterministic stratified sample — mod-based, reproducible
    * in any engine (unlike Bernoulli sampling).
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "orders")
      .where(pmod($"o_orderkey", lit(97)) === 0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** C14: HLL cardinality sketch checked against its exact twin.
    * The sketch value itself is engine-specific (HLL++ register
    * layout), so the graded output carries the EXACT count plus a
    * Spark-side `within_bound` verdict — |approx−exact|/exact < 10%
    * (rsd 1%, so 10× headroom) — which the oracle replays as
    * literal TRUE next to its own exact count. The sketch is thereby
    * hash-gradeable without the oracle having to reproduce HLL++.
    */
  def approxHll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_orderkey", 0.01).as("approx_orders"),
        countDistinct($"l_orderkey").as("exact_orders"))
      .select($"l_returnflag", $"exact_orders",
        (abs($"approx_orders" - $"exact_orders").cast("double") /
          $"exact_orders" < 0.1).as("within_bound"))
      .orderBy($"l_returnflag")
  }

  /** C14b: approx percentile sketch checked against its exact twin,
    * same pattern as C14 — graded output = exact percentiles (which
    * DuckDB's `quantile_cont` reproduces bit-for-bit) + a Spark-side
    * `within_bound` verdict for the engine-opaque KLL-style sketch
    * (accuracy 10⁴ → rank error ≤ n/10⁴; 5% relative value bound has
    * wide headroom on this distribution).
    */
  def approxPercentile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("approx_p50"),
        percentile_approx($"l_extendedprice", lit(0.99), lit(10000)).as("approx_p99"),
        percentile($"l_extendedprice", typedLit(Seq(0.5, 0.99))).as("exact"))
      .select($"l_returnflag", $"approx_p50", $"approx_p99",
        $"exact"(0).as("exact_p50"), $"exact"(1).as("exact_p99"))
      .select($"l_returnflag", $"exact_p50", $"exact_p99",
        (abs($"approx_p50" - $"exact_p50") / $"exact_p50" < 0.05 &&
         abs($"approx_p99" - $"exact_p99") / $"exact_p99" < 0.05)
          .as("within_bound"))
      .orderBy($"l_returnflag")
  }

  /** C17: CUBE over (returnflag, linestatus) — all 4 grouping levels. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "lineitem")
      .cube($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** C18: statistical aggregates — stddev / correlation / covariance.
    * Co-moment accumulation differs in the last ulps between engines
    * (update order under parallelism), so outputs are rounded to a
    * precision both engines agree on.
    */
  def statsAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        round(stddev_samp($"l_quantity"), 6).as("sd_qty"),
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qty_price"),
        round(covar_samp($"l_quantity", $"l_discount"), 6).as("cov_qty_disc"),
        round(var_samp($"l_extendedprice"), 2).as("var_price"))
      .orderBy($"l_returnflag")
  }

  /** C19: custom TypedImperativeAggregate — exact top-5 prices per
    * priority as a bounded-memory heap aggregate (O(k) state per
    * group; contrast with the window row_number form in C6 which
    * sorts each group's full extent).
    */
  def topkAggOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The heap aggregate returns an array; the graded projection flattens it
    // to scalar columns (the driver's comparator cannot sort array cells).
    // try_element_at: a group with <5 orders yields NULL like the
    // oracle's tp[N], instead of ANSI-mode throwing out of bounds.
    load(spark, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(graft.functions.TopKAgg.topk_agg($"o_totalprice", 5).as("top_prices"))
      .select($"o_orderpriority",
        try_element_at($"top_prices", lit(1)).as("top1"),
        try_element_at($"top_prices", lit(2)).as("top2"),
        try_element_at($"top_prices", lit(3)).as("top3"),
        try_element_at($"top_prices", lit(4)).as("top4"),
        try_element_at($"top_prices", lit(5)).as("top5"))
      .orderBy($"o_orderpriority")
  }

  /** C20: explicit GROUPING SETS + grouping_id — the general form
    * behind C8/C17's ROLLUP/CUBE, with the bitmask exposed so readers
    * can tell aggregate levels apart (Spark 4 Dataset.groupingSets).
    */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "orders")
      .groupingSets(
        Seq(Seq($"o_orderpriority", $"o_orderstatus"), Seq($"o_orderpriority"), Seq()),
        $"o_orderpriority", $"o_orderstatus")
      .agg(
        grouping_id($"o_orderpriority", $"o_orderstatus").cast("long").as("gid"),
        count(lit(1)).as("n"),
        dsum($"o_totalprice").as("total"))
      .orderBy($"gid", $"o_orderpriority".asc_nulls_first,
        $"o_orderstatus".asc_nulls_first)
  }

  /** C6b: ranking-function family — ntile quartiles, percent_rank,
    * cume_dist, dense_rank over per-group price order (ANSI-identical
    * definitions in both engines → exact parity, no rounding).
    */
  def windowNtile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderpriority").orderBy($"o_totalprice", $"o_orderkey")
    load(spark, dir, "orders")
      .where($"o_custkey" < 100)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        dense_rank().over(w).cast("long").as("drank"))
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  /** C26: percent_rank prefix selection (`window_pct_prefix`) — "the
    * top 10% of orders by price per priority class", the
    * fraction-of-group twin of C6's top-k. The filter-over-window
    * idiom is auto-rewritten by [[graft.plans.RewriteRankLimit]] into
    * the count-join + variable-k heap ([[graft.functions.PrefixRowsAgg]])
    * — per-group `count(1)` joined back, heap state bounded by each
    * group's own 10% cutoff — instead of full-sorting every group at
    * one reducer. Total order (price, orderkey) so both engines pick
    * identical rows.
    */
  def windowPctPrefix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderpriority").orderBy($"o_totalprice".desc, $"o_orderkey")
    load(spark, dir, "orders")
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
        percent_rank().over(w).as("pr"))
      .where($"pr" <= 0.1)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
        round($"pr", 6).as("pr_r"))
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  /** C26b: first-ntile-bucket selection (`window_ntile_prefix`) — "the
    * first quintile per order status"; same auto-rewrite, row_number
    * semantics (ntile splits by position, not rank), exact uneven
    * bucket fill (first n mod t buckets carry the extra row).
    */
  def windowNtilePrefix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderstatus").orderBy($"o_totalprice", $"o_orderkey")
    load(spark, dir, "orders")
      .select($"o_orderstatus", $"o_orderkey", $"o_totalprice",
        ntile(5).over(w).as("nt"))
      .where($"nt" <= 1)
      .select($"o_orderstatus", $"o_orderkey", $"o_totalprice",
        $"nt".cast("long").as("nt"))
      .orderBy($"o_orderstatus", $"o_orderkey")
  }

  /** C26c: cume_dist prefix selection (`window_cume_prefix`) — "the
    * cheapest 25% of the distribution per priority": same
    * count-join + variable-k heap, with the numerator being the
    * tie-group END position the heap emits alongside the rank.
    */
  def windowCumePrefix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderpriority").orderBy($"o_totalprice", $"o_orderkey")
    load(spark, dir, "orders")
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
        cume_dist().over(w).as("cd"))
      .where($"cd" <= 0.25)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
        round($"cd", 6).as("cd_r"))
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  /** C27: graft's OWN mergeable quantile sketch next to its exact
    * twin (`approx_kll`) — the [[graft.functions.KllSketchAgg]] KLL-style
    * compactor stack, the quantile member of the sketch family
    * (HLL distinct / CMS frequency / SpaceSaving top-K / Bloom
    * membership). Graded the C14 way: published columns are exact
    * percentiles (DuckDB `quantile_cont` replays them bit-for-bit)
    * plus a Spark-side `within_bound` verdict checking the sketch
    * value sits within a ±3-percentile RANK window (the sketch's
    * actual guarantee — a relative VALUE bound would be distribution-
    * dependent). One map-side-combined aggregation; the shuffle
    * carries one ~few-KB compactor stack per partition per group at
    * any corpus size, where exact percentile sorts the group.
    */
  def approxKll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
    val ps = Seq(0.5, 0.9, 0.99)
    val rank = 0.03
    val lows = ps.map(p => math.max(0.001, p - rank))
    val highs = ps.map(p => math.min(1.0, p + rank))
    ev.groupBy($"event_type")
      .agg(
        graft.functions.KllSketchAgg.kll_quantiles($"value", 256, ps).as("sk"),
        // exact values, then the low and the high rank bounds
        percentile($"value", typedLit(ps ++ lows ++ highs)).as("exact"))
      .select($"event_type",
        round(element_at($"exact", 1), 6).as("exact_p50_r"),
        round(element_at($"exact", 2), 6).as("exact_p90_r"),
        round(element_at($"exact", 3), 6).as("exact_p99_r"),
        (0 until 3).map(i =>
          element_at($"sk", i + 1) >= element_at($"exact", i + 4) &&
            element_at($"sk", i + 1) <= element_at($"exact", i + 7))
          .reduceLeft(_ && _).as("within_bound"))
      .orderBy($"event_type")
  }

  /** C29: SCD Type-2 dimension build (`cdc_scd2_history`) — C26's
    * changelog replayed into a slowly-changing-dimension HISTORY
    * table instead of current state: every change becomes a row with
    * a [valid_from, valid_to) validity interval (valid_to = the next
    * change's timestamp, NULL while open) and an is_current flag.
    * Delete rows participate in the interval chain (they CLOSE the
    * predecessor's interval via lead) and then drop out — filtering
    * them first would leave the prior version open forever.
    * Execution: one hash shuffle on the key + one window pass; at
    * 100 TB this is the standard warehouse dimension rebuild, and
    * the per-key window state is O(1) (lead(1)).
    */
  def cdcScd2History(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
      .where(pmod($"user_id", lit(10)) === 0)
      .select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("k"),
        $"ts", $"event_id", $"value",
        ($"event_type" === "error").as("is_delete"))
    val w = Window.partitionBy($"user_id", $"k").orderBy($"ts", $"event_id")
    ev.withColumn("valid_to", lead($"ts", 1).over(w))
      .where(!$"is_delete")
      .select($"user_id", $"k", $"event_id", $"value",
        $"ts".as("valid_from"), $"valid_to",
        $"valid_to".isNull.as("is_current"))
      .orderBy($"user_id", $"k", $"valid_from", $"event_id")
  }

  /** C66: Markov next-event model + eval (`events_markov_next`) —
    * the sequence-model baseline product analytics ships: a
    * first-order transition model (per previous event type, the
    * most frequent successor) TRAINED and EVALUATED on the journey
    * stream in one pass — C49 publishes the transition matrix; this
    * closes the loop with the argmax model and its per-state
    * accuracy, the baseline any sequence model must beat.
    *
    * One user-keyed window pass builds transitions; everything after
    * is |types|²-sized. The argmax is an order-free min over
    * (−count, successor) structs — count desc then lexicographic
    * successor, no window over the model table; the tie rule is
    * mirrored in the oracle's (n DESC, nxt) row_number.
    */
  def eventsMarkovNext(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val tr = graft.Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("prev"))
      .withColumn("nxt", lead($"prev", 1).over(w))
      .where($"nxt".isNotNull)
      .select($"prev", $"nxt")
    val model = tr.groupBy($"prev", $"nxt").agg(count(lit(1)).as("n"))
      .groupBy($"prev")
      .agg(min(struct((-$"n").as("nn"), $"nxt".as("pred"))).as("m"))
      .select($"prev", $"m.pred".as("pred"))
    tr.join(broadcast(model), "prev")
      .groupBy($"prev")
      .agg(count(lit(1)).as("n_trans"), max($"pred").as("pred"),
        count(when($"nxt" === $"pred", 1)).as("n_correct"))
      .select($"prev", $"n_trans", $"pred", $"n_correct",
        round($"n_correct".cast("double") / $"n_trans".cast("double"), 6)
          .as("acc_r"))
      .orderBy($"prev")
  }

  /** C65: SCD2 point-in-time join (`join_scd2_pit`) — the
    * feature-store / warehouse classic that CONSUMES C29's slowly-
    * changing dimension: each fact matched to the dimension version
    * valid AT the fact's timestamp (no leakage from later versions —
    * the correctness property offline training joins live or die on).
    * Deletes are tombstones: a fact landing between a delete and the
    * next version matches NO version (has_dim = false), not the
    * stale one.
    *
    * Execution is the union-tag one-pass ASOF pattern (C15's shape),
    * NOT a per-fact range probe: dimension changes (typ 0, tombstones
    * carrying null) and facts (typ 1) union into one stream, ONE
    * (key)-partitioned window ordered by (ts, typ, event_id) carries
    * the latest version struct via last(..., ignoreNulls), and facts
    * read their carry — one shuffle total, no interval explosion, no
    * broadcast of a corpus-sized dimension. Same-instant semantics:
    * versions at the fact's exact ts ARE visible (typ orders dim
    * before fact), multiple same-ts versions resolve by event_id —
    * mirrored in the oracle's (ts DESC, event_id DESC LIMIT 1)
    * lateral probe.
    */
  def joinScd2Pit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = graft.Tables.events(spark, dir)
      .where(pmod($"user_id", lit(10)) === 0)
      .select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("k"),
        $"ts", $"event_id", $"event_type", $"value")
    val dimSide = base.select($"user_id", $"k", $"ts", $"event_id",
      lit(0).as("typ"),
      when($"event_type" =!= "error", $"event_id").as("ver"),
      when($"event_type" =!= "error", $"value").as("vval"))
    val factSide = base.where($"event_type" === "purchase")
      .select($"user_id", $"k", $"ts", $"event_id", lit(1).as("typ"),
        lit(null).cast("long").as("ver"), lit(null).cast("double").as("vval"))
    val w = Window.partitionBy($"user_id", $"k")
      .orderBy($"ts", $"typ", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dimSide.union(factSide)
      .withColumn("carry",
        last(when($"typ" === 0, struct($"ver", $"vval")), ignoreNulls = true)
          .over(w))
      .where($"typ" === 1)
      .select($"user_id", $"k", $"event_id", $"ts",
        $"carry.ver".as("dim_version"), $"carry.vval".as("dim_value"),
        $"carry.ver".isNotNull.as("has_dim"))
      .orderBy($"event_id")
  }

  /** C28: declarative data-quality audit (`table_audit`) — the
    * dbt-test / Deequ-style constraint sweep every warehouse load
    * runs before publishing a partition: null rates, key uniqueness,
    * referential integrity, and domain-range checks, computed as ONE
    * aggregation pass over the fact table plus one broadcast anti-join
    * for orphans. At 100 TB this shape matters: each check is a
    * conditional count riding the same scan (no per-check pass), the
    * uniqueness check is count vs count(distinct) (no self-join), and
    * the FK orphan check broadcasts the DIMENSION key set (customer),
    * never shuffling the fact side. Output is one row of check
    * results — the shape a CI gate consumes.
    */
  def tableAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = load(spark, dir, "orders")
    val custKeys = load(spark, dir, "customer").select($"c_custkey")
    val checks = ord.agg(
      count(lit(1)).as("n_rows"),
      count(when($"o_orderkey".isNull, 1)).as("null_orderkey"),
      count(when($"o_custkey".isNull, 1)).as("null_custkey"),
      count(when($"o_totalprice".isNull, 1)).as("null_totalprice"),
      countDistinct($"o_orderkey").as("distinct_orderkey"),
      count(when($"o_totalprice" <= 0.0, 1)).as("nonpositive_price"),
      count(when(!$"o_orderstatus".isin("F", "O", "P"), 1)).as("bad_status"))
    val orphans = ord.join(broadcast(custKeys),
        $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).as("orphan_custkey"))
    checks.crossJoin(broadcast(orphans))
      .select($"n_rows",
        $"null_orderkey", $"null_custkey", $"null_totalprice",
        ($"distinct_orderkey" === $"n_rows").as("orderkey_unique"),
        $"nonpositive_price", $"bad_status", $"orphan_custkey",
        ($"null_orderkey" === 0 && $"null_custkey" === 0 &&
          $"null_totalprice" === 0 && $"distinct_orderkey" === $"n_rows" &&
          $"nonpositive_price" === 0 && $"bad_status" === 0 &&
          $"orphan_custkey" === 0).as("all_checks_pass"))
  }

  /** C26: CDC latest-wins state compaction (`cdc_latest_upsert`) —
    * the MERGE/upsert batch primitive every warehouse ingestion needs:
    * replay a change stream (here `events` keyed by (user_id, props.k),
    * `error` rows acting as deletes) down to current state, keeping
    * only each key's latest change and dropping keys whose final
    * change is a delete. Latest = max (ts, event_id) — the event_id
    * tiebreak makes the winner total-ordered, so both engines agree
    * even on same-timestamp changes.
    *
    * Execution shape: ONE hash shuffle on the key, and the
    * row_number-≤-1 window plans through [[graft.plans.RewriteRankLimit]]
    * as a bounded-heap aggregate (k=1 ⇒ a max_by: the shuffle carries
    * one candidate row per key per map partition, not the key's whole
    * history — exactly the compaction a 100 TB changelog needs). The
    * key-shard filter pushes to the parquet scan. Deletes must
    * survive INTO the window and be dropped after — filtering them
    * first would resurrect the previous upsert.
    */
  def cdcLatestUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
      .where(pmod($"user_id", lit(10)) === 0)
      .select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("k"),
        $"ts", $"event_id", $"value",
        ($"event_type" === "error").as("is_delete"))
    val w = Window.partitionBy($"user_id", $"k")
      .orderBy($"ts".desc, $"event_id".desc)
    ev.withColumn("rn", row_number().over(w))
      .where($"rn" === 1 && !$"is_delete")
      .select($"user_id", $"k", $"event_id", $"value")
      .orderBy($"user_id", $"k")
  }

  /** C30: wide→long UNPIVOT / melt (`unpivot_melt`) — the reshaping
    * primitive feature-store exports and metric normalization need:
    * four lineitem measure columns melt into (metric, val) rows via
    * `Dataset.unpivot`, which Catalyst plans as a single Expand (one
    * scan, rows×4 emitted map-side — NOT four self-unions, which
    * would scan the fact table four times), then a combine-heavy
    * rollup per (flag, metric). At 100 TB the Expand shape is the
    * whole point: the melt never materializes and the partial agg
    * collapses it to a groups-sized table before the only shuffle.
    * Sums ride DECIMAL ([[graft.Tables.dsum]]) so both engines are
    * order-independent-exact.
    */
  def unpivotMelt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = load(spark, dir, "lineitem")
    li.unpivot(
        Array($"l_returnflag"),
        Array($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax"),
        "metric", "val")
      .groupBy($"l_returnflag", $"metric")
      .agg(count(lit(1)).as("n"),
        dsum($"val", 4).as("sum_val"),
        davg($"val", 4).as("avg_val"),
        min($"val").as("min_val"),
        max($"val").as("max_val"))
      .orderBy($"l_returnflag", $"metric")
  }

  /** C31: exact median + deterministic mode (`median_mode`) — the two
    * order statistics dashboards ask for that Spark spells
    * differently than most warehouses. Median/quartiles use exact
    * interpolated `percentile` (the C14b/C27 sketches are the 100 TB
    * path; this is their exact twin, costing a per-group sort by
    * construction). Mode is NOT Spark's `mode()` or DuckDB's `mode()`
    * — both leave ties engine-defined — but the definitional
    * count-then-argmax with a total tiebreak (highest count, then
    * smallest value), which [[graft.plans.RewriteRankLimit]] plans as
    * a bounded-heap k=1 aggregate: the value-counts table, not the
    * corpus, crosses the second shuffle, and both engines agree on
    * every tie.
    */
  def medianMode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = load(spark, dir, "lineitem")
    val med = li.groupBy($"l_returnflag").agg(
      round(percentile($"l_quantity", lit(0.5)), 6).as("median_qty_r"),
      percentile($"l_extendedprice", typedLit(Seq(0.25, 0.75))).as("price_q"))
      .select($"l_returnflag", $"median_qty_r",
        round($"price_q"(0), 6).as("p25_price_r"), round($"price_q"(1), 6).as("p75_price_r"))
    val mode = li.groupBy($"l_returnflag", $"l_linenumber")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"l_returnflag")
          .orderBy($"cnt".desc, $"l_linenumber")))
      .where($"rn" === 1)
      .select($"l_returnflag", $"l_linenumber".as("mode_linenumber"),
        $"cnt".as("mode_n"))
    med.join(broadcast(mode), "l_returnflag").orderBy($"l_returnflag")
  }

  /** C32: GROUPS window frame by rewrite (`window_groups_frame`) —
    * SQL:2011 GROUPS framing ("this peer group and the 2 preceding
    * peer groups"), which neither Spark nor DuckDB implements
    * natively. GROUPS is DEFINED on the dense ranking of the ordering
    * key, so the definitional rewrite — dense_rank() then a RANGE
    * frame over the rank — is exact, and both engines replay it
    * independently. Execution: the two window passes share one
    * partitioning+sort (single Exchange, single Sort, two WindowExec
    * ops — pinned in the plan snapshot); frame sums ride DECIMAL so
    * the sliding-frame accumulation order can't wobble the hash.
    */
  def windowGroupsFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = load(spark, dir, "orders").select(
      $"o_orderpriority", $"o_orderkey",
      date_trunc("day", $"o_orderdate").as("d"), $"o_totalprice")
    val peers = Window.partitionBy($"o_orderpriority").orderBy($"d")
    val frame = Window.partitionBy($"o_orderpriority").orderBy($"dr")
      .rangeBetween(-2, 0)
    ord.withColumn("dr", dense_rank().over(peers))
      .withColumn("grp_sum",
        sum(dec($"o_totalprice")).over(frame).cast("double"))
      .select($"o_orderpriority", $"o_orderkey", $"d", $"grp_sum")
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  /** C33: correlated-subquery aggregation, TPC-H Q17 shape
    * (`q17_small_qty`) — "lineitems below 20% of their part's average
    * quantity": the canonical correlated scalar subquery every
    * warehouse decorrelates. Expressed here in its DECORRELATED form
    * — per-part thresholds as one combine-heavy aggregate, joined
    * back to the fact — which is exactly the plan a correlated
    * `WHERE l_quantity < (SELECT 0.2*avg ... WHERE same part)` must
    * lower to; the oracle runs the CORRELATED original through
    * DuckDB's decorrelator, so hash-equality proves the rewrite.
    * Scale shape: both join sides shuffle on l_partkey and the
    * aggregate side's exchange is canonically identical to the fact
    * side's — AQE's ReuseExchange serves the threshold table from
    * the same scan at runtime.
    */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = load(spark, dir, "lineitem")
    val th = li.groupBy($"l_partkey")
      .agg((davg($"l_quantity") * 0.2).as("qty_th"))
    li.join(th, "l_partkey")
      .where($"l_quantity" < $"qty_th")
      .agg(dsum($"l_extendedprice").as("sum_price"),
        count(lit(1)).as("n_small"))
      .select(round($"sum_price" / 7.0, 6).as("avg_yearly_r"), $"n_small")
  }

  /** C34: table statistics profile (`table_stats_profile`) — the
    * ANALYZE-TABLE / catalog-stats sweep a cost-based optimizer and
    * every data catalog ingests: per column, null count, exact NDV,
    * and numeric min/max, computed in ONE corpus pass (each metric a
    * conditional/distinct aggregate riding the same scan — the
    * multi-distinct Expand plan, not one scan per column, which is
    * the difference between ANALYZE costing one pass and six at
    * 100 TB). The wide one-row aggregate then explodes to the
    * catalog's long form (column, stats). Complements C28: the audit
    * CHECKS constraints, this MEASURES the distributions those
    * checks and the optimizer's selectivity estimates come from.
    */
  def tableStatsProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = load(spark, dir, "orders")
    val dNull = lit(null).cast("double")
    ord.agg(
        count(lit(1)).as("n"),
        count(when($"o_orderkey".isNull, 1)).as("nk"),
        countDistinct($"o_orderkey").as("dk"),
        min($"o_orderkey").cast("double").as("mink"),
        max($"o_orderkey").cast("double").as("maxk"),
        count(when($"o_custkey".isNull, 1)).as("nc"),
        countDistinct($"o_custkey").as("dc"),
        min($"o_custkey").cast("double").as("minc"),
        max($"o_custkey").cast("double").as("maxc"),
        count(when($"o_totalprice".isNull, 1)).as("np"),
        countDistinct($"o_totalprice").as("dp"),
        min($"o_totalprice").as("minp"),
        max($"o_totalprice").as("maxp"),
        count(when($"o_orderstatus".isNull, 1)).as("ns"),
        countDistinct($"o_orderstatus").as("ds"),
        count(when($"o_orderpriority".isNull, 1)).as("no"),
        countDistinct($"o_orderpriority").as("do_"))
      .select($"n", explode(array(
        struct(lit("o_orderkey").as("col_name"), $"nk".as("n_nulls"),
          $"dk".as("n_distinct"), $"mink".as("min_v"), $"maxk".as("max_v")),
        struct(lit("o_custkey").as("col_name"), $"nc".as("n_nulls"),
          $"dc".as("n_distinct"), $"minc".as("min_v"), $"maxc".as("max_v")),
        struct(lit("o_totalprice").as("col_name"), $"np".as("n_nulls"),
          $"dp".as("n_distinct"), $"minp".as("min_v"), $"maxp".as("max_v")),
        struct(lit("o_orderstatus").as("col_name"), $"ns".as("n_nulls"),
          $"ds".as("n_distinct"), dNull.as("min_v"), dNull.as("max_v")),
        struct(lit("o_orderpriority").as("col_name"), $"no".as("n_nulls"),
          $"do_".as("n_distinct"), dNull.as("min_v"), dNull.as("max_v"))
      )).as("s"))
      .select($"s.col_name", $"n".as("n_rows"), $"s.n_nulls",
        $"s.n_distinct", $"s.min_v", $"s.max_v")
      .orderBy($"col_name")
  }

  /** C35: RFM customer segmentation (`cust_rfm`) — the classic
    * recency/frequency/monetary scoring every CRM warehouse runs:
    * per customer, days since last order, order count, exact decimal
    * spend, each scored 1–5 against the corpus-wide quintile
    * boundaries. The boundaries come from ONE exact-percentile
    * aggregate BROADCAST back — never a global ntile window, which
    * would drag every customer through a single partition at 100 TB;
    * bucketing is then a map-side comparison chain. Scores compare
    * against interpolated boundaries both engines compute from the
    * same doubles, so segment assignment is hash-exact.
    */
  def custRfm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = load(spark, dir, "orders")
    val maxD = ord.agg(max($"o_orderdate").as("maxd"))
    val rfm = ord.groupBy($"o_custkey")
      .agg(max($"o_orderdate").as("last"), count(lit(1)).as("freq"),
        dsum($"o_totalprice").as("mon"))
      .crossJoin(broadcast(maxD))
      .select($"o_custkey",
        datediff($"maxd", $"last").cast("double").as("rec"),
        $"freq".cast("double").as("frq"), $"mon")
    val qs = typedLit(Seq(0.2, 0.4, 0.6, 0.8))
    val bounds = rfm.agg(
      percentile($"rec", qs).as("br"),
      percentile($"frq", qs).as("bf"),
      percentile($"mon", qs).as("bm"))
    def score(v: Column, b: Column, asc: Boolean): Column = {
      val above = (1 to 4).map(i => when(v > element_at(b, i), 1).otherwise(0))
        .reduceLeft(_ + _)
      if (asc) lit(1) + above else lit(5) - above
    }
    rfm.crossJoin(broadcast(bounds))
      .select($"o_custkey", $"rec".cast("int").as("recency_d"),
        $"frq".cast("long").as("frequency"), $"mon".as("monetary"),
        score($"rec", $"br", asc = false).as("r_score"),
        score($"frq", $"bf", asc = true).as("f_score"),
        score($"mon", $"bm", asc = true).as("m_score"))
      .withColumn("segment",
        when($"r_score" >= 4 && $"f_score" >= 4 && $"m_score" >= 4, "champion")
          .when($"r_score" <= 2 && $"f_score" >= 4, "at_risk_loyal")
          .when($"r_score" >= 4 && $"f_score" <= 2, "new_or_promising")
          .when($"r_score" <= 2 && $"f_score" <= 2, "hibernating")
          .otherwise("core"))
      .orderBy($"o_custkey")
  }

  /** C36: market-basket association rules (`basket_lift`) — the
    * support/lift co-occurrence mining every retail warehouse runs:
    * part pairs ordered together, scored by lift = P(ab)/(P(a)P(b)).
    * Pair candidates are per-ORDER (Σ basket², never catalog²), item
    * frequencies join back on the pair's parts, and the top-50 by
    * lift goes through TakeOrderedAndProject. Lift/support assemble
    * from exact integer counts in one deterministic double
    * expression, rounded 6 dp.
    *
    * Pair generation runs WITHOUT a self-join: the previous shape
    * shuffled the (order, part) table by l_orderkey twice (once per
    * join side) and re-materialized Σ basket² rows through the join;
    * now one aggregation collects each order's distinct part SET
    * (sorted — baskets are bounded, TPC-H orders hold ≤7 lines) and
    * the i<j pairs explode from the array in place, so exactly ONE
    * exchange carries order-grain data and the basket set feeds
    * n_orders, pair counts AND item frequencies from the same staged
    * aggregation instead of three separate passes over lineitem.
    * Same pair set by construction: sort_array makes p1 < p2, and
    * collect_set de-dups exactly like the old distinct().
    */
  def basketLift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val baskets = load(spark, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("basket"))
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val pairs = baskets.select(explode(expr(
        """flatten(transform(basket, (x, i) ->
          |  transform(slice(basket, i + 2, size(basket) - i - 1),
          |    y -> struct(x AS p1, y AS p2))))""".stripMargin)).as("e"))
      .select($"e.p1".as("p1"), $"e.p2".as("p2"))
      .groupBy($"p1", $"p2").agg(count(lit(1)).as("n_ab"))
      .where($"n_ab" >= 3)
    val freq = baskets.select(explode($"basket").as("l_partkey"))
      .groupBy($"l_partkey").agg(count(lit(1)).as("n"))
    pairs
      .join(freq.select($"l_partkey".as("p1"), $"n".as("n_a")), "p1")
      .join(freq.select($"l_partkey".as("p2"), $"n".as("n_b")), "p2")
      .crossJoin(broadcast(nOrders))
      .select($"p1", $"p2", $"n_ab", $"n_a", $"n_b",
        round($"n_ab".cast("double") / $"n_orders", 6).as("support_r"),
        round(($"n_ab".cast("double") * $"n_orders") / ($"n_a" * $"n_b"), 6)
          .as("lift_r"))
      .orderBy($"lift_r".desc, $"p1", $"p2")
      .limit(50)
  }

  /** Salt fan-out for C37 (replication factor of the dim side). */
  val SaltR = 8

  /** C37: salted skew-join (`join_salted_skew`) — the hot-key
    * mitigation for a shuffle join AQE's skew split can't always
    * save (a single key too hot for any partition split): the FACT
    * side salts its key into [[SaltR]] shards, the DIM side
    * replicates ×[[SaltR]] (explode over the salt range), and the
    * join runs on (key, salt) — every hot key now spreads over
    * [[SaltR]] reducers. Forced to a shuffle hash join (hint) so the
    * pattern is exercised rather than broadcast away at test scale;
    * at 100 TB the dim side is exactly what's too big to broadcast
    * but small enough to replicate 8×. The oracle is the PLAIN join
    * — hash-equality proves salting is semantics-free.
    */
  def joinSaltedSkew(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = load(spark, dir, "orders")
      .withColumn("salt", pmod(hash($"o_custkey"), lit(SaltR)))
    val dim = load(spark, dir, "customer")
      .select($"c_custkey", $"c_mktsegment",
        explode(sequence(lit(0), lit(SaltR - 1))).as("salt"))
    ord.join(dim.hint("shuffle_hash"),
        $"o_custkey" === $"c_custkey" && ord("salt") === dim("salt"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        dsum($"o_totalprice").as("revenue"))
      .orderBy($"c_mktsegment")
  }

  /** C38: incremental materialized-view refresh
    * (`mv_incremental_refresh`) — the warehouse MV maintenance loop:
    * a day-partitioned rollup is built once over the settled days,
    * and when the newest day's data lands only THAT partition is
    * recomputed and dynamically overwritten — never the table. At
    * 100 TB this is the difference between an MV that costs one
    * partition per refresh and one that costs the corpus. The graded
    * output is the refreshed MV read back; the ORACLE aggregates the
    * raw events directly, so hash-equality is the PROOF the
    * incremental path converges to the full recompute (the algebraic
    * re-aggregation guarantee B34 establishes, applied to
    * partition-level maintenance). Spec additionally pins that
    * settled-day files are byte-untouched by the refresh.
    */
  def mvIncrementalRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // MV path keyed by corpus CONTENT fingerprint, not the dir string:
    // a corpus regenerated at the same path gets a fresh MV instead of
    // being served stale settled-day partitions, and two distinct
    // corpus dirs can never collide into one MV (the 32-bit
    // dir.hashCode risk). Same-corpus sessions share the fingerprint —
    // and the MV content is deterministic, so a shared path serves
    // both. Sub-day staleness within ONE snapshot is impossible: any
    // file change moves the fingerprint.
    val mvPath = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_mv_${graft.Staging.corpusFingerprint(spark, dir)}").getAbsolutePath
    val ev = graft.Tables.events(spark, dir).select(
      date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"),
      $"event_type", $"value")
    val days = ev.agg(sort_array(collect_set($"day"))).head().getSeq[String](0)
    val lastDay = days.last
    def rollup(df: DataFrame): DataFrame =
      df.groupBy($"day", $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_v"))
    // initial build: the settled days — ONLY if the MV doesn't hold
    // them all yet (a later refresh must not re-touch settled
    // partitions; the path is keyed by corpus content, same staleness
    // contract as every session-staged artifact). `_SUCCESS` alone is
    // not enough: a dir that lost a settled partition would be served
    // as the whole MV by every later session.
    val built = Option(new java.io.File(mvPath).list()).map(_.toSet).getOrElse(Set.empty)
    if (!built("_SUCCESS") || !days.init.forall(d => built(s"day=$d")))
      rollup(ev.where($"day" < lastDay))
        .write.mode("overwrite").partitionBy("day").parquet(mvPath)
    // refresh: ONLY the newest day's partition — dynamic overwrite
    // declared on this write, so the session's policy is never touched
    rollup(ev.where($"day" === lastDay))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(mvPath)
    spark.read.parquet(mvPath)
      .select($"day".cast("string").as("day"), $"event_type", $"n", $"sum_v")
      .orderBy($"day", $"event_type")
  }

  /** C39: TPC-H Q6 shape — the scan-dominant single-pass filter +
    * aggregate that benchmarks predicate pushdown end to end: every
    * predicate reaches the parquet scan (`PushedFilters` on shipdate/
    * discount/quantity), the projection is 3 columns, and the
    * aggregate is one partial/final pair with no grouping key. At
    * 100 TB this is the query whose cost IS the I/O — any plan
    * regression (lost pushdown, wide ReadSchema) shows up here first.
    */
  def q6Revenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "lineitem")
      .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp_ntz") &&
             $"l_shipdate" < lit("1997-01-01").cast("timestamp_ntz") &&
             $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
             $"l_quantity" < 24)
      .agg(dsum(dec($"l_extendedprice") * dec($"l_discount"), 4).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** C40: TPC-H Q4 shape — order-priority counts over an EXISTS
    * (late-shipped line) predicate: a left-semi join whose condition
    * mixes the equi key with a non-equi cross-table comparison. Spark
    * plans the equi part as the hash-join key and evaluates the date
    * comparison as a join residual — the orders side shuffles once on
    * orderkey, and the priority rollup is a 5-group aggregate.
    */
  def q4LateOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = load(spark, dir, "orders")
    val li = load(spark, dir, "lineitem")
    ord.join(li,
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  /** C41: TPC-H Q13 shape — the customer-distribution double
    * aggregation: orders-per-customer via a LEFT join (customers with
    * zero orders must survive as count 0), then customers-per-count.
    * The first aggregate shuffles on custkey; the second input is
    * customer-cardinality and the histogram fits in one stage.
    */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = load(spark, dir, "customer")
    val ord = load(spark, dir, "orders")
    cust.join(ord, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  /** C42: last-touch attribution — every purchase is credited to the
    * user's most recent PRECEDING non-purchase event (the marketing
    * twin of the security funnel queries): one pass over events
    * ordered by (ts, event_id) per user, `last(..., ignoreNulls)`
    * over a rows-frame ending 1 PRECEDING carries the latest
    * qualifying channel forward without a self-join. Latencies stay
    * in integer microseconds end to end (sum is exact; the single
    * rounded division happens once per output row), so the oracle
    * replays bit-identically with no libm in sight.
    *
    * Scale: one shuffle on user_id for the window sort; the
    * attribution rollup is a 4-group aggregate. The self-join
    * formulation this replaces (purchases × prior events) is
    * quadratic in a hot user's event count; the window form is the
    * linear shape.
    */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val att = ev
      .withColumn("att_channel",
        last(when($"event_type" =!= "purchase", $"event_type"), ignoreNulls = true)
          .over(w))
      .withColumn("att_us",
        last(when($"event_type" =!= "purchase", unix_micros($"ts".cast("timestamp"))),
          ignoreNulls = true).over(w))
      .where($"event_type" === "purchase" && $"att_channel".isNotNull)
    att.groupBy($"att_channel")
      .agg(count(lit(1)).as("n_purchases"),
        sum(unix_micros($"ts".cast("timestamp")) - $"att_us").as("sum_latency_us"))
      .select($"att_channel", $"n_purchases", $"sum_latency_us",
        round($"sum_latency_us".cast("double") / $"n_purchases".cast("double") / lit(1e6), 6)
          .as("avg_latency_s"))
      .orderBy($"att_channel")
  }

  /** C43: TPC-H Q7 shape — bilateral trade volume: revenue between a
    * nation PAIR in both directions, by supplier nation × customer
    * nation × ship year. Exercises the double-dimension join (the
    * fact joins nation twice through different paths) with a
    * disjunctive cross-table pair predicate evaluated AFTER both
    * broadcast joins. Fact-side shuffles: orderkey only; every
    * dimension is broadcast.
    */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n1 = load(spark, dir, "nation")
      .select($"n_nationkey".as("s_nkey"), $"n_name".as("supp_nation"))
    val n2 = load(spark, dir, "nation")
      .select($"n_nationkey".as("c_nkey"), $"n_name".as("cust_nation"))
    val li = load(spark, dir, "lineitem")
      .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp_ntz") &&
             $"l_shipdate" < lit("1998-01-01").cast("timestamp_ntz"))
    li.join(load(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(load(spark, dir, "supplier")), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(load(spark, dir, "customer")), $"o_custkey" === $"c_custkey")
      .join(broadcast(n1), $"s_nationkey" === $"s_nkey")
      .join(broadcast(n2), $"c_nationkey" === $"c_nkey")
      .where(($"supp_nation" === "NATION_3" && $"cust_nation" === "NATION_7") ||
             ($"supp_nation" === "NATION_7" && $"cust_nation" === "NATION_3"))
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").as("l_year"))
      .agg(dsum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")), 4)
        .as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  /** C44: TPC-H Q10 shape — returned-item customer ranking: revenue
    * lost to returns (l_returnflag = 'R') per customer over one
    * quarter of orders, top 20. The triage report behind churn
    * follow-up. One orderkey shuffle; customer/nation broadcast; the
    * ranking is a TakeOrderedAndProject heap, not a full sort.
    */
  def q10Returned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = load(spark, dir, "orders")
      .where($"o_orderdate" >= lit("1996-10-01").cast("timestamp_ntz") &&
             $"o_orderdate" < lit("1997-01-01").cast("timestamp_ntz"))
    val li = load(spark, dir, "lineitem").where($"l_returnflag" === "R")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(load(spark, dir, "customer")), $"o_custkey" === $"c_custkey")
      .join(broadcast(load(spark, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(dsum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")), 4)
        .as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }

  /** C45: TPC-H Q14 shape — promo revenue share: the conditional-
    * aggregate ratio (promo-typed parts' share of a month's revenue).
    * Both legs ride ONE scan — a filter inside the aggregate, not two
    * passes; part is broadcast. The single division happens once on
    * two exact decimal sums.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = load(spark, dir, "lineitem")
      .where($"l_shipdate" >= lit("1997-03-01").cast("timestamp_ntz") &&
             $"l_shipdate" < lit("1997-04-01").cast("timestamp_ntz"))
    li.join(broadcast(load(spark, dir, "part")), $"l_partkey" === $"p_partkey")
      .agg(
        dsum(when($"p_type" === "PROMO",
          dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
          .otherwise(lit(0).cast("decimal(28,4)")), 4).as("promo_revenue"),
        dsum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")), 4)
          .as("total_revenue"))
      .select($"promo_revenue", $"total_revenue",
        round(lit(100.0) * $"promo_revenue" / $"total_revenue", 6)
          .as("promo_share_r"))
  }

  /** C46: TPC-H Q19 shape — disjunctive multi-attribute predicates:
    * revenue from three (brand, size-range, quantity-range) OR-arms.
    * The planner test: the arms share the part join, the OR evaluates
    * as ONE residual after a single broadcast hash join, and the
    * common sub-predicates still prune the scan.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = load(spark, dir, "lineitem")
    li.join(broadcast(load(spark, dir, "part")), $"l_partkey" === $"p_partkey")
      .where(
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 15) &&
          $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 25) &&
          $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#4" && $"p_size".between(1, 35) &&
          $"l_quantity".between(20, 30)))
      .agg(dsum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")), 4)
        .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** C52: TPC-H Q8 shape — national market share: one supplier
    * nation's share of a region's revenue per order year. The
    * two-level pattern: a 6-way join narrows to (year, volume,
    * supplier-nation), then the share is a conditional-aggregate
    * ratio per year (Q14's ratio at a grouped grain). Lineitem
    * shuffles once on orderkey; every dimension broadcasts.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nat = load(spark, dir, "nation")
    val custRegion = load(spark, dir, "customer")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(load(spark, dir, "region")),
        $"n_regionkey" === $"r_regionkey")
      .where($"r_name" === "EUROPE")
      .select($"c_custkey")
    val suppNat = load(spark, dir, "supplier")
      .join(broadcast(nat.select($"n_nationkey".as("sn_key"),
        $"n_name".as("supp_nation"))), $"s_nationkey" === $"sn_key")
      .select($"s_suppkey", $"supp_nation")
    val ord = load(spark, dir, "orders")
      .where($"o_orderdate" >= lit("1995-01-01").cast("timestamp_ntz") &&
             $"o_orderdate" < lit("1997-01-01").cast("timestamp_ntz"))
    load(spark, dir, "lineitem")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(custRegion), $"o_custkey" === $"c_custkey")
      .join(broadcast(suppNat), $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(
        dsum(when($"supp_nation" === "NATION_3",
          dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
          .otherwise(lit(0).cast("decimal(28,4)")), 4).as("nation_volume"),
        dsum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")), 4)
          .as("total_volume"))
      .select($"o_year", $"nation_volume", $"total_volume",
        round($"nation_volume" / $"total_volume", 6).as("mkt_share_r"))
      .orderBy($"o_year")
  }

  /** C53: TPC-H Q15 shape — top supplier(s) by quarterly revenue:
    * the per-group aggregate filtered by its own GLOBAL max (the
    * original's revenue view + scalar subquery). The supplier rollup
    * computes once and feeds both the max and the final filter; the
    * max broadcasts back — never a global sort. Equality compares the
    * two engines' identical exact-decimal-derived doubles.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = load(spark, dir, "lineitem")
      .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp_ntz") &&
             $"l_shipdate" < lit("1996-04-01").cast("timestamp_ntz"))
      .groupBy($"l_suppkey")
      .agg(dsum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")), 4)
        .as("total_revenue"))
    val mx = rev.agg(max($"total_revenue").as("mx"))
    rev.join(broadcast(load(spark, dir, "supplier")),
        $"l_suppkey" === $"s_suppkey")
      .crossJoin(broadcast(mx))
      .where($"total_revenue" === $"mx")
      .select($"s_suppkey", $"s_name", $"total_revenue")
      .orderBy($"s_suppkey")
  }

  /** C54: TPC-H Q16 shape — supplier diversity per part profile:
    * distinct suppliers per (brand, type, size) over the
    * lineitem-derived part↔supplier pairs (the schema's partsupp
    * stand-in), excluding flagged suppliers (negative acctbal — the
    * "complaints" analog) via an anti join and excluding one brand +
    * the promo type family by predicate. count(DISTINCT) per group
    * after the pairs dedup; part broadcasts, the anti join
    * broadcasts its tiny supplier side.
    */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flagged = load(spark, dir, "supplier")
      .where($"s_acctbal" < 0).select($"s_suppkey")
    val pairs = load(spark, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey").distinct()
      .join(broadcast(flagged), $"l_suppkey" === $"s_suppkey", "left_anti")
    pairs.join(broadcast(load(spark, dir, "part")),
        $"l_partkey" === $"p_partkey")
      .where($"p_brand" =!= "Brand#1" && !$"p_type".startsWith("PROMO") &&
             $"p_size".isin(1, 4, 9, 14, 19, 23, 36, 45))
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  /** C55: TPC-H Q18 shape — large-volume orders: orders whose total
    * quantity clears a threshold (the HAVING-on-sum pattern), joined
    * back to customer detail, top 20 by order value. The lineitem
    * rollup is one orderkey shuffle with map-side combine; the
    * HAVING prunes before the joins; the top-20 is a
    * TakeOrderedAndProject heap. Quantities are exact decimals.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = load(spark, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(dsum($"l_quantity").as("total_qty"))
      .where($"total_qty" > 300)
    big.join(load(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(load(spark, dir, "customer")),
        $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"),
        $"o_totalprice", $"total_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(20)
  }

  /** C56: TPC-H Q22 shape — idle wealthy customers: account balance
    * above the positive-balance average (exact-decimal scalar
    * aggregate broadcast back) AND no orders in the trailing year
    * (anti join — the schema's every-customer-orders reality makes
    * the original's "never ordered" set empty, so the idle window is
    * time-bounded), grouped by nation as the country-code analog.
    * Customer-sized work end to end; one rounded output double.
    */
  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = load(spark, dir, "customer")
    val avgBal = cust.where($"c_acctbal" > 0)
      .agg((dsum($"c_acctbal") / count(lit(1))).as("avg_bal"))
    val recent = load(spark, dir, "orders")
      .where($"o_orderdate" >= lit("2000-08-01").cast("timestamp_ntz"))
      .select($"o_custkey").distinct()
    cust.crossJoin(broadcast(avgBal))
      .where($"c_acctbal" > $"avg_bal")
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey".as("cntry"))
      .agg(count(lit(1)).as("numcust"), dsum($"c_acctbal").as("totacctbal"))
      .select($"cntry", $"numcust", round($"totacctbal", 2).as("totacctbal_r"))
      .orderBy($"cntry")
  }

  /** C57: frequent-path mining (`events_path_mining`) — the top
    * consecutive event-type trigrams across user journeys: where C42
    * attributes a known conversion and B12 matches a FIXED pattern,
    * this DISCOVERS the dominant paths (the product-analytics
    * "common journeys" report). One user shuffle for the two lead
    * windows in (ts, event_id) total order; the path space is
    * |event_types|³ ≤ tiny, and the top-20 goes through the
    * TakeOrderedAndProject heap. Counts exact.
    */
  def eventsPathMining(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    graft.Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("e2", lead($"event_type", 1).over(w))
      .withColumn("e3", lead($"event_type", 2).over(w))
      .where($"e2".isNotNull && $"e3".isNotNull)
      .groupBy(concat_ws(">", $"event_type", $"e2", $"e3").as("path"))
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
      .orderBy($"n".desc, $"path")
      .limit(20)
  }

  /** C58: ordered string aggregation (`cust_listagg`) — the
    * LISTAGG / ClickHouse groupArray / DuckDB string_agg(ORDER BY)
    * report shape: per market segment, the top-5 customers by
    * account balance as ONE ordered comma-joined string. The rank
    * prunes through the row_number ≤ k heap rewrite (never a full
    * per-segment sort), and the ordered concat is deterministic by
    * construction: collect_list is order-free but the (rk, name)
    * structs are array_sort-ed by the exact integer rank before
    * joining — the only portable way to an ordered LISTAGG on a
    * distributed engine.
    */
  def custListagg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"c_acctbal".desc, $"c_custkey")
    load(spark, dir, "customer")
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= 5)
      .groupBy($"c_mktsegment")
      .agg(
        concat_ws(",", transform(
          array_sort(collect_list(struct($"rk", $"c_name"))),
          x => x.getField("c_name"))).as("top_names"),
        dsum($"c_acctbal").as("top_bal"))
      .select($"c_mktsegment", $"top_names", round($"top_bal", 2).as("top_bal_r"))
      .orderBy($"c_mktsegment")
  }

  /** C59: TPC-H Q2 shape — minimum-cost supplier per part: for each
    * LARGE-typed part, the European supplier(s) offering the lowest
    * observed price (the schema's partsupp stand-in: the MIN stored
    * `l_extendedprice` per (part, supplier) pair — a stored value, no
    * arithmetic, so the min-equality join-back compares bit-identical
    * doubles on both engines). The correlated-min pattern: the pair
    * cost table aggregates once, the per-part min re-aggregates the
    * pair table (part-sized, not corpus-sized) and broadcasts back —
    * Q2's correlated subquery as a two-level reaggregation, never a
    * per-row subquery execution. Suppliers and part both broadcast.
    */
  def q2MinCost(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val euSupp = load(spark, dir, "supplier")
      .join(broadcast(load(spark, dir, "nation")),
        $"s_nationkey" === $"n_nationkey")
      .join(broadcast(load(spark, dir, "region")),
        $"n_regionkey" === $"r_regionkey")
      .where($"r_name" === "EUROPE")
      .select($"s_suppkey", $"s_name", $"n_name")
    val cost = load(spark, dir, "lineitem")
      .join(broadcast(euSupp.select($"s_suppkey")),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(min($"l_extendedprice").as("supply_cost"))
    val mn = cost.groupBy($"l_partkey").agg(min($"supply_cost").as("min_cost"))
    cost.join(broadcast(mn), "l_partkey")
      .where($"supply_cost" === $"min_cost")
      .join(broadcast(load(spark, dir, "part")
        .where($"p_type" === "LARGE")), $"l_partkey" === $"p_partkey")
      .join(broadcast(euSupp), $"l_suppkey" === $"s_suppkey")
      .select($"p_partkey", $"s_suppkey", $"s_name", $"n_name", $"supply_cost")
      .orderBy($"p_partkey", $"s_suppkey")
  }

  /** C60: TPC-H Q9 shape — product-line profit by supplier nation and
    * year: profit = revenue − cost with `p_retailprice·quantity·0.1`
    * standing in for ps_supplycost·quantity, over the 'red' part
    * family. Every term stays exact decimal until the final sum
    * (retail 2 dp × integer qty × 0.10 → ≤ 4 dp exact; revenue 4 dp
    * exact), so the per-(nation, year) profit is order-free.
    * Lineitem shuffles once on orderkey; part (pre-filtered) and
    * supplier⋈nation broadcast.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val redParts = load(spark, dir, "part")
      .where($"p_name".contains("red"))
      .select($"p_partkey", $"p_retailprice")
    val suppNat = load(spark, dir, "supplier")
      .join(broadcast(load(spark, dir, "nation")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name")
    load(spark, dir, "lineitem")
      .join(broadcast(redParts), $"l_partkey" === $"p_partkey")
      .join(load(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(suppNat), $"l_suppkey" === $"s_suppkey")
      .groupBy($"n_name".as("nation"), year($"o_orderdate").as("o_year"))
      .agg(dsum(
        dec($"l_extendedprice") * (lit(1) - dec($"l_discount")) -
          dec($"p_retailprice") * dec($"l_quantity") * dec(lit(0.1)), 4)
        .as("profit"))
      .orderBy($"nation", $"o_year")
  }

  /** C61: TPC-H Q11 shape — important parts by inventory value: per
    * part, the traded value through one nation's suppliers, kept only
    * where it clears a FRACTION of the global total (the original's
    * group-HAVING-against-scalar-subquery). The part rollup computes
    * once and feeds both the global sum and the filter; the scalar
    * broadcasts back via crossJoin — never a second corpus pass. Both
    * engines derive the threshold with one identical IEEE multiply on
    * the same exact-decimal-derived total.
    */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val natSupp = load(spark, dir, "supplier")
      .join(broadcast(load(spark, dir, "nation")),
        $"s_nationkey" === $"n_nationkey")
      .where($"n_name" === "NATION_0")
      .select($"s_suppkey")
    val value = load(spark, dir, "lineitem")
      .join(broadcast(natSupp), $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey".as("p_key"))
      .agg(dsum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")), 4)
        .as("part_value"))
    val tot = value.agg(sum($"part_value").as("total_value"))
    value.crossJoin(broadcast(tot))
      .where($"part_value" > lit(0.001) * $"total_value")
      .select($"p_key", $"part_value")
      .orderBy($"part_value".desc, $"p_key")
  }

  /** C62: TPC-H Q12 shape — shipping-lag service classes: lineitems
    * bucketed by fulfilment lag (ship − order date; the schema's
    * shipmode/receipt stand-in, Q4's 90-day lateness rule extended to
    * a 3-class ladder), counting urgent-priority vs other lines per
    * class (Q12's conditional-count pair). ONE orderkey join, the
    * CASE evaluates map-side, 3-row output — the canonical
    * conditional-aggregate report.
    */
  def q12ShipClasses(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lag = datediff($"l_shipdate", $"o_orderdate")
    val high = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    load(spark, dir, "lineitem")
      .join(load(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy(when(lag > 90, "VERY_LATE").when(lag > 30, "LATE")
        .otherwise("ON_TIME").as("ship_class"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy($"ship_class")
  }

  /** C63: TPC-H Q20 shape — high-volume suppliers of a part family:
    * suppliers who shipped more than a threshold quantity of
    * 'red'-prefixed parts in 1997, narrowed to one region (the
    * original's nested IN-chain: parts → partsupp volume test →
    * suppliers → nation). The chain runs as pre-filtered broadcast
    * joins into ONE supplier-keyed rollup with HAVING — each nesting
    * level prunes before the next touches it; nothing corpus-sized
    * survives past the first aggregate. Quantities exact decimal.
    */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val redParts = load(spark, dir, "part")
      .where($"p_name".startsWith("red")).select($"p_partkey")
    val shipped = load(spark, dir, "lineitem")
      .where($"l_shipdate" >= lit("1997-01-01").cast("timestamp_ntz") &&
             $"l_shipdate" < lit("1998-01-01").cast("timestamp_ntz"))
      .join(broadcast(redParts), $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey")
      .agg(dsum($"l_quantity").as("qty"))
      .where($"qty" > 200)
    shipped.join(broadcast(load(spark, dir, "supplier")),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(load(spark, dir, "nation")),
        $"s_nationkey" === $"n_nationkey")
      .where($"n_regionkey" === 3)
      .select($"s_suppkey", $"s_name", $"n_name", $"qty")
      .orderBy($"s_suppkey")
  }

  /** C64: TPC-H Q21 shape — suppliers who kept orders waiting: on
    * finished ('F') orders, the supplier whose line shipped late
    * (> 90-day lag, the repo's Q4 lateness rule) while EVERY other
    * supplier on the order shipped on time — Q21's exists +
    * not-exists double correlation, as a left-semi against
    * other-supplier lines (multi-supplier orders survive) + a
    * left-anti against other-supplier LATE lines (sole-blame
    * survives). The late set stays DECLARATIVE (re-derived per leg
    * from pushed-down scans) rather than materialized — in
    * production lateness is rare but here it is corpus-fraction-
    * sized, and pinning it would trade two pruned columnar scans for
    * a full intermediate write. All legs key on orderkey, so AQE
    * plans each as broadcast or shuffle join by the late set's REAL
    * size. numwait counts distinct orders per supplier.
    */
  def q21WaitingOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val late = load(spark, dir, "lineitem")
      .join(load(spark, dir, "orders").where($"o_orderstatus" === "F"),
        $"l_orderkey" === $"o_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 90 DAYS"))
      .select($"l_orderkey", $"l_suppkey")
    val others = load(spark, dir, "lineitem")
      .select($"l_orderkey".as("o2_key"), $"l_suppkey".as("o2_supp"))
    val lateOthers = late
      .select($"l_orderkey".as("o3_key"), $"l_suppkey".as("o3_supp"))
    late
      .join(others, $"l_orderkey" === $"o2_key" &&
        $"l_suppkey" =!= $"o2_supp", "left_semi")
      .join(lateOthers, $"l_orderkey" === $"o3_key" &&
        $"l_suppkey" =!= $"o3_supp", "left_anti")
      .join(broadcast(load(spark, dir, "supplier")),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name")
      .agg(countDistinct($"l_orderkey").as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
  }

  /** C47: time-series gap filling (`series_gap_fill`) — the
    * ClickHouse `WITH FILL` / Grafana `fill(0)` analog every
    * dashboard needs: the hourly per-type event series densified so
    * silent hours exist as explicit zeros (a missing bucket reads as
    * "no data" in an alert rule; a zero reads as "measured quiet" —
    * they are different facts). Execution: the dense grid generates
    * from a TYPES-sized min/max aggregate (`sequence` + explode — grid
    * cardinality is types × hours, independent of event count) and
    * left-joins the hourly rollup; the corpus is touched once.
    */
  def seriesGapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = graft.Tables.events(spark, dir)
      .groupBy($"event_type",
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").as("h"))
      .agg(count(lit(1)).as("n"))
    val grid = hourly.groupBy($"event_type")
      .agg(min($"h").as("mn"), max($"h").as("mx"))
      .select($"event_type", explode(expr("sequence(mn, mx)")).as("h"))
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select($"event_type", $"h",
        coalesce($"n", lit(0L)).as("n"), $"n".isNull.as("filled"))
      .orderBy($"event_type", $"h")
  }

  /** C48: revenue Pareto / concentration curve (`cust_pareto`) — the
    * "which decile of customers carries the revenue" report (the
    * customer-base complement of B47's per-source Gini). Customers
    * rank by exact integer revenue CENTS (round(price·100) — the 2-dp
    * values are exact at cent grain, so ranking and sums never touch
    * float addition order), deciles assign by integer rank arithmetic
    * ((rank−1)·10 div n + 1), and the cumulative share is a running
    * sum over the 10 decile rows. The only doubles are the two final
    * rounded divisions per output row.
    *
    * Scale: one custkey-keyed aggregate, then a DISTRIBUTED exact
    * rank — never `row_number()` over a global partition-less window,
    * which funnels every customer through ONE task's sort at 100 TB.
    * The rank is the classic range-partitioned two-pass form: (1)
    * `repartitionByRange` on the rank order so partition i's rows all
    * precede partition i+1's, each partition sorted and locally
    * numbered in the same pass (`monotonically_increasing_id` already
    * encodes [partition id | in-partition position] after the
    * within-partition sort — no second shuffle, no per-partition
    * window); (2) global rank = local rank + the preceding
    * partitions' row counts, a partition-count-sized offset table
    * broadcast back. Every partition sorts in parallel; the only
    * driver-width state is the offsets (≤ shuffle-partition count).
    * In-partition positions use the id's low 33 bits — sound while a
    * range partition holds < 2³³ (≈8.6B) customers, far above any
    * sane partitioning of a customer dimension.
    */
  def custPareto(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perCust = load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    // materialized ONCE: the ranked table feeds the offset count, the
    // grand total and the decile rollup — lazily it would re-run the
    // range sort per consumer (three orders scans in the plan)
    val numbered = graft.Staging.materialize(perCust
      .repartitionByRange($"cents".desc, $"o_custkey")
      .sortWithinPartitions($"cents".desc, $"o_custkey")
      .withColumn("mid", monotonically_increasing_id())
      .select($"cents",
        shiftright($"mid", 33).as("pid"),
        ($"mid".bitwiseAND(lit((1L << 33) - 1)) + 1).as("lrk")))
    val n = numbered.agg(count(lit(1)).as("n"), sum($"cents").as("total"))
    val cnts = numbered.groupBy($"pid").agg(count(lit(1)).as("cnt"))
    // preceding-partition offsets via a triangular join on the TINY
    // per-partition count table (≤ shuffle partitions rows) — keeps
    // even this step free of partition-less windows
    val off = cnts.as("a")
      .join(broadcast(cnts.as("b")), col("b.pid") < col("a.pid"), "left")
      .groupBy(col("a.pid").as("pid"))
      .agg(coalesce(sum(col("b.cnt")), lit(0L)).as("off"))
    numbered.join(broadcast(off), "pid")
      .withColumn("rk", $"lrk" + $"off")
      .crossJoin(broadcast(n))
      .withColumn("decile", expr("CAST((rk - 1) * 10 div n AS INT) + 1"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_customers"),
        sum($"cents").as("revenue_cents"),
        max($"total").as("total"))
      .withColumn("cum_cents",
        sum($"revenue_cents").over(Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select($"decile", $"n_customers", $"revenue_cents",
        round($"revenue_cents".cast("double") / $"total".cast("double"), 6)
          .as("share_r"),
        round($"cum_cents".cast("double") / $"total".cast("double"), 6)
          .as("cum_share_r"))
      .orderBy($"decile")
  }

  /** C49: order-status transition matrix (`status_transitions`) — the
    * first-order Markov view of customer behavior: counts of
    * consecutive (prev status → status) pairs per customer's order
    * history in (o_orderdate, o_orderkey) total order, with each
    * row's transition probability relative to its source state. The
    * churn-model input and the sequence complement of C35's RFM
    * snapshot. One custkey shuffle for the lag window; the matrix is
    * |states|² rows; counts exact, one rounded division per cell.
    */
  def statusTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val pairs = load(spark, dir, "orders")
      .withColumn("prev", lag($"o_orderstatus", 1).over(w))
      .where($"prev".isNotNull)
      .groupBy($"prev".as("from_status"), $"o_orderstatus".as("to_status"))
      .agg(count(lit(1)).as("n"))
    val fromTot = pairs.groupBy($"from_status").agg(sum($"n").as("n_from"))
    pairs.join(broadcast(fromTot), "from_status")
      .select($"from_status", $"to_status", $"n",
        round($"n".cast("double") / $"n_from".cast("double"), 6).as("p_r"))
      .orderBy($"from_status", $"to_status")
  }

  /** C50: DAU/MAU stickiness (`events_stickiness`) — the engagement
    * ratio product teams watch: per day, distinct active users that
    * day over distinct users active in the trailing 30 days. Exact,
    * via the user-day grain: the corpus collapses to distinct
    * (user, day) ONCE (the only corpus-sized pass), and the trailing
    * window is a 30-way day-fanout of that table — user-days × 30 is
    * orders below event count, and MAU dedups (user, anchor day)
    * exactly. The approximate path for unbounded windows is the
    * B18b sliding HLL-merge; this is the exact twin at the grain
    * where exactness is affordable.
    */
  def eventsStickiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val userDays = graft.Tables.events(spark, dir)
      .select($"user_id",
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day"))
      .distinct()
    val dau = userDays.groupBy($"day").agg(count(lit(1)).as("dau"))
    val mau = userDays
      .select($"user_id", explode(expr("sequence(day, day + 29)")).as("day"))
      .distinct()
      .groupBy($"day").agg(count(lit(1)).as("mau"))
    // only days that exist in the data (the fanout also creates
    // anchor days past the corpus end)
    dau.join(mau, "day")
      .select($"day", $"dau", $"mau",
        round($"dau".cast("double") / $"mau".cast("double"), 6)
          .as("stickiness_r"))
      .orderBy($"day")
  }

  /** C51: cohort LTV matrix (`cohort_ltv`) — cumulative revenue per
    * signup cohort by age: customers cohort on their FIRST order
    * month, each order lands in an age bucket (months since cohort),
    * and the running sum across ages is the lifetime-value curve
    * finance reads cohort-over-cohort. Revenue stays in exact integer
    * cents; the cumulative window runs over the tiny cohort×age
    * matrix, so the only corpus-sized work is one custkey aggregate
    * and one fact re-join.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = load(spark, dir, "orders")
      .select($"o_custkey", $"o_orderdate",
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
    val cohort = ord.groupBy($"o_custkey").agg(min($"m").as("cm"))
    val cells = ord.join(cohort, "o_custkey")
      .groupBy($"cm", ($"m" - $"cm").as("age_m"))
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("rev_cents"))
    val sizes = cohort.groupBy($"cm").agg(count(lit(1)).as("n_customers"))
    val w = Window.partitionBy($"cm").orderBy($"age_m")
      .rowsBetween(Window.unboundedPreceding, 0)
    cells.join(broadcast(sizes), "cm")
      .withColumn("cum_cents", sum($"rev_cents").over(w))
      .select($"cm".cast("long").as("cohort_month"),
        $"age_m".cast("long").as("age_m"), $"n_customers", $"n_orders",
        $"rev_cents", $"cum_cents",
        round($"cum_cents".cast("double") / ($"n_customers" * 100).cast("double"), 6)
          .as("ltv_per_cust_r"))
      .orderBy($"cohort_month", $"age_m")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q2_min_cost" -> q2MinCost _,
    "join_scd2_pit" -> joinScd2Pit _,
    "events_markov_next" -> eventsMarkovNext _,
    "q9_product_profit" -> q9ProductProfit _,
    "q11_important_parts" -> q11ImportantParts _,
    "q12_ship_classes" -> q12ShipClasses _,
    "q20_excess_suppliers" -> q20ExcessSuppliers _,
    "q21_waiting_orders" -> q21WaitingOrders _,
    "events_stickiness" -> eventsStickiness _,
    "cohort_ltv" -> cohortLtv _,
    "status_transitions" -> statusTransitions _,
    "cust_pareto" -> custPareto _,
    "series_gap_fill" -> seriesGapFill _,
    "q7_nation_volume" -> q7NationVolume _,
    "q10_returned" -> q10Returned _,
    "q14_promo_share" -> q14PromoShare _,
    "q8_market_share" -> q8MarketShare _,
    "events_path_mining" -> eventsPathMining _,
    "cust_listagg" -> custListagg _,
    "q15_top_supplier" -> q15TopSupplier _,
    "q16_supplier_cnt" -> q16SupplierCnt _,
    "q18_large_orders" -> q18LargeOrders _,
    "q22_idle_customers" -> q22IdleCustomers _,
    "q19_disjunctive" -> q19Disjunctive _,
    "q6_revenue" -> q6Revenue _,
    "q4_late_orders" -> q4LateOrders _,
    "q13_cust_dist" -> q13CustDist _,
    "events_attribution" -> eventsAttribution _,
    "mv_incremental_refresh" -> mvIncrementalRefresh _,
    "join_salted_skew" -> joinSaltedSkew _,
    "cust_rfm" -> custRfm _,
    "basket_lift" -> basketLift _,
    "table_stats_profile" -> tableStatsProfile _,
    "q17_small_qty" -> q17SmallQty _,
    "unpivot_melt" -> unpivotMelt _,
    "median_mode" -> medianMode _,
    "window_groups_frame" -> windowGroupsFrame _,
    "approx_kll" -> approxKll _,
    "table_audit" -> tableAudit _,
    "cdc_latest_upsert" -> cdcLatestUpsert _,
    "cdc_scd2_history" -> cdcScd2History _,
    "window_pct_prefix" -> windowPctPrefix _,
    "window_ntile_prefix" -> windowNtilePrefix _,
    "window_cume_prefix" -> windowCumePrefix _,
    "window_ntile" -> windowNtile _,
    "grouping_sets_agg" -> groupingSetsAgg _,
    "window_range_frame" -> windowRangeFrame _,
    "topk_agg_orders" -> topkAggOrders _,
    "cube_agg" -> cubeAgg _,
    "stats_agg" -> statsAgg _,
    "q1_agg" -> q1Agg _,
    "q3_join_agg" -> q3JoinAgg _,
    "q5_multijoin" -> q5MultiJoin _,
    "join_semi" -> joinSemi _,
    "join_anti" -> joinAnti _,
    "agg_distinct" -> aggDistinct _,
    "window_rank" -> windowRank _,
    "window_rank_ties" -> windowRankTies _,
    "window_firstlast" -> windowFirstLast _,
    "window_running" -> windowRunning _,
    "join_full_outer" -> joinFullOuter _,
    "set_ops" -> setOps _,
    "rollup_cube" -> rollupCube _,
    "orderby_limit" -> orderbyLimit _,
    "union_distinct" -> unionDistinct _,
    "subquery_scalar" -> subqueryScalar _,
    "pivot_status" -> pivotStatus _,
    "sample_stratified" -> sampleStratified _,
    "approx_hll" -> approxHll _,
    "approx_percentile" -> approxPercentile _)

  val oracleSql: Map[String, String] = Map(
    "events_markov_next" ->
      """WITH tr AS (
        |  SELECT event_type AS prev,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |t2 AS (SELECT * FROM tr WHERE nxt IS NOT NULL),
        |cnt AS (SELECT prev, nxt, count(*) AS n FROM t2 GROUP BY 1, 2),
        |model AS (
        |  SELECT prev, nxt AS pred FROM (
        |    SELECT prev, nxt,
        |      row_number() OVER (PARTITION BY prev ORDER BY n DESC, nxt) AS rn
        |    FROM cnt) x
        |  WHERE rn = 1)
        |SELECT t.prev, count(*) AS n_trans, max(m.pred) AS pred,
        |  CAST(count(CASE WHEN t.nxt = m.pred THEN 1 END) AS BIGINT)
        |    AS n_correct,
        |  round(CAST(count(CASE WHEN t.nxt = m.pred THEN 1 END) AS DOUBLE)
        |    / count(*), 6) AS acc_r
        |FROM t2 t JOIN model m USING (prev)
        |GROUP BY t.prev ORDER BY t.prev""".stripMargin,
    "join_scd2_pit" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(props->>'k' AS BIGINT) AS k, ts, event_id,
        |    event_type, value
        |  FROM events WHERE user_id % 10 = 0),
        |dimv AS (
        |  SELECT user_id, k, ts, event_id,
        |    CASE WHEN event_type <> 'error' THEN event_id END AS ver,
        |    CASE WHEN event_type <> 'error' THEN value END AS vval
        |  FROM ev),
        |facts AS (SELECT * FROM ev WHERE event_type = 'purchase')
        |SELECT f.user_id, f.k, f.event_id, f.ts,
        |  d.ver AS dim_version, d.vval AS dim_value,
        |  d.ver IS NOT NULL AS has_dim
        |FROM facts f LEFT JOIN LATERAL (
        |  SELECT ver, vval FROM dimv d
        |  WHERE d.user_id = f.user_id AND d.k = f.k AND d.ts <= f.ts
        |  ORDER BY d.ts DESC, d.event_id DESC LIMIT 1) d ON TRUE
        |ORDER BY f.event_id""".stripMargin,
    "q2_min_cost" ->
      """WITH eu_supp AS (
        |  SELECT s_suppkey, s_name, n_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |cost AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
        |  FROM lineitem JOIN eu_supp ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |mn AS (SELECT l_partkey, min(supply_cost) AS min_cost
        |  FROM cost GROUP BY 1)
        |SELECT p_partkey, s_suppkey, s_name, n_name, supply_cost
        |FROM cost JOIN mn USING (l_partkey)
        |JOIN part ON l_partkey = p_partkey
        |JOIN eu_supp ON cost.l_suppkey = s_suppkey
        |WHERE supply_cost = min_cost AND p_type = 'LARGE'
        |ORDER BY p_partkey, s_suppkey""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(sum(
        |    CAST(l_extendedprice AS DECIMAL(28,2))
        |      * (1 - CAST(l_discount AS DECIMAL(28,2)))
        |    - CAST(p_retailprice AS DECIMAL(28,2))
        |      * CAST(l_quantity AS DECIMAL(28,2))
        |      * CAST(0.1 AS DECIMAL(28,2))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q11_important_parts" ->
      """WITH val AS (
        |  SELECT l_partkey AS p_key,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))
        |      * (1 - CAST(l_discount AS DECIMAL(28,2)))) AS DOUBLE)
        |      AS part_value
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_0' GROUP BY 1),
        |tot AS (SELECT sum(part_value) AS total_value FROM val)
        |SELECT p_key, part_value FROM val CROSS JOIN tot
        |WHERE part_value > 0.001 * total_value
        |ORDER BY part_value DESC, p_key""".stripMargin,
    "q12_ship_classes" ->
      """SELECT CASE
        |    WHEN date_diff('day', o_orderdate, l_shipdate) > 90
        |      THEN 'VERY_LATE'
        |    WHEN date_diff('day', o_orderdate, l_shipdate) > 30 THEN 'LATE'
        |    ELSE 'ON_TIME' END AS ship_class,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q20_excess_suppliers" ->
      """WITH shipped AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS qty
        |  FROM lineitem
        |  JOIN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%') p
        |    ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) > 200)
        |SELECT s_suppkey, s_name, n_name, qty
        |FROM shipped JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_regionkey = 3
        |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting_orders" ->
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT)
        |  AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin,
    "events_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        |mau AS (
        |  SELECT day, count(*) AS mau FROM (
        |    SELECT DISTINCT user_id, day + a AS day
        |    FROM ud, range(0, 30) t(a))
        |  GROUP BY day)
        |SELECT d.day, dau, mau,
        |  round(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE), 6) AS stickiness_r
        |FROM dau d JOIN mau USING (day)
        |ORDER BY d.day""".stripMargin,
    "cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m
        |  FROM orders),
        |c AS (SELECT o_custkey, min(m) AS cm FROM o GROUP BY 1),
        |cells AS (
        |  SELECT cm, m - cm AS age_m, count(*) AS n_orders,
        |    CAST(sum(cents) AS BIGINT) AS rev_cents
        |  FROM o JOIN c USING (o_custkey) GROUP BY 1, 2),
        |sz AS (SELECT cm, count(*) AS n_customers FROM c GROUP BY 1)
        |SELECT CAST(cm AS BIGINT) AS cohort_month, CAST(age_m AS BIGINT) AS age_m,
        |  n_customers, n_orders, rev_cents,
        |  CAST(sum(rev_cents) OVER (PARTITION BY cm ORDER BY age_m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_cents,
        |  round(CAST(CAST(sum(rev_cents) OVER (PARTITION BY cm ORDER BY age_m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
        |    / CAST(n_customers * 100 AS DOUBLE), 6) AS ltv_per_cust_r
        |FROM cells JOIN sz USING (cm)
        |ORDER BY cohort_month, age_m""".stripMargin,
    "status_transitions" ->
      """WITH p AS (
        |  SELECT lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS from_status,
        |    o_orderstatus AS to_status
        |  FROM orders),
        |m AS (
        |  SELECT from_status, to_status, count(*) AS n
        |  FROM p WHERE from_status IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT from_status, CAST(sum(n) AS BIGINT) AS n_from
        |       FROM m GROUP BY 1)
        |SELECT from_status, to_status, n,
        |  round(CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE), 6) AS p_r
        |FROM m JOIN ft USING (from_status)
        |ORDER BY from_status, to_status""".stripMargin,
    "cust_pareto" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |n AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS total FROM pc),
        |rk AS (
        |  SELECT o_custkey, cents,
        |    row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk
        |  FROM pc),
        |dec AS (
        |  SELECT CAST((rk - 1) * 10 // (SELECT n FROM n) AS INT) + 1 AS decile,
        |    count(*) AS n_customers,
        |    CAST(sum(cents) AS BIGINT) AS revenue_cents
        |  FROM rk GROUP BY 1)
        |SELECT decile, n_customers, revenue_cents,
        |  round(CAST(revenue_cents AS DOUBLE)
        |    / CAST((SELECT total FROM n) AS DOUBLE), 6) AS share_r,
        |  round(CAST(CAST(sum(revenue_cents) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
        |    / CAST((SELECT total FROM n) AS DOUBLE), 6) AS cum_share_r
        |FROM dec ORDER BY decile""".stripMargin,
    "series_gap_fill" ->
      """WITH h AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS mn, max(h) AS mx FROM h GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(mn, mx + 1)) AS h FROM b)
        |SELECT g.event_type, g.h, coalesce(n, 0) AS n,
        |  (n IS NULL) AS filled
        |FROM grid g LEFT JOIN h USING (event_type, h)
        |ORDER BY 1, 2""".stripMargin,
    "events_path_mining" ->
      """WITH p AS (
        |  SELECT user_id, event_type,
        |    lead(event_type, 1) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        |  FROM events)
        |SELECT event_type || '>' || e2 || '>' || e3 AS path,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM p WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,
    "cust_listagg" ->
      """WITH r AS (
        |  SELECT c_mktsegment, c_name, c_acctbal, c_custkey,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer)
        |SELECT c_mktsegment,
        |  string_agg(c_name, ',' ORDER BY rk) AS top_names,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE), 2)
        |    AS top_bal_r
        |FROM r WHERE rk <= 5
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q8_market_share" ->
      """WITH cr AS (
        |  SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey),
        |a AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(sum(CASE WHEN supp_nation = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(28,2))
        |        * (1 - CAST(l_discount AS DECIMAL(28,2)))
        |      ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) AS nation_volume,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))
        |      * (1 - CAST(l_discount AS DECIMAL(28,2)))) AS DOUBLE) AS total_volume
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN cr ON o_custkey = c_custkey
        |  JOIN sn ON l_suppkey = s_suppkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1)
        |SELECT o_year, nation_volume, total_volume,
        |  round(nation_volume / total_volume, 6) AS mkt_share_r
        |FROM a ORDER BY o_year""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))
        |      * (1 - CAST(l_discount AS DECIMAL(28,2)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q16_supplier_cnt" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM pairs JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) > 300)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_totalprice, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q22_idle_customers" ->
      """WITH ab AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE)
        |    / count(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0),
        |recent AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-08-01')
        |SELECT c_nationkey AS cntry, count(*) AS numcust,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE), 2)
        |    AS totacctbal_r
        |FROM customer CROSS JOIN ab
        |WHERE c_acctbal > avg_bal
        |  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))
        |    * (1 - CAST(l_discount AS DECIMAL(28,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q10_returned" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))
        |    * (1 - CAST(l_discount AS DECIMAL(28,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo_share" ->
      """WITH a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(28,2))
        |        * (1 - CAST(l_discount AS DECIMAL(28,2)))
        |      ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) AS promo_revenue,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))
        |      * (1 - CAST(l_discount AS DECIMAL(28,2)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01')
        |SELECT promo_revenue, total_revenue,
        |  round(CAST(100 AS DOUBLE) * promo_revenue / total_revenue, 6)
        |    AS promo_share_r
        |FROM a""".stripMargin,
    "q19_disjunctive" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))
        |    * (1 - CAST(l_discount AS DECIMAL(28,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q6_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))
        |    * CAST(l_discount AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_cust_dist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "events_attribution" ->
      """WITH att AS (
        |  SELECT event_id, ts, event_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |        IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS att_channel,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END
        |        IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS att_us
        |  FROM events)
        |SELECT att_channel, count(*) AS n_purchases,
        |  CAST(sum(epoch_us(ts) - att_us) AS BIGINT) AS sum_latency_us,
        |  round(CAST(CAST(sum(epoch_us(ts) - att_us) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e6, 6) AS avg_latency_s
        |FROM att
        |WHERE event_type = 'purchase' AND att_channel IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the DIRECT full aggregation: hash-equality proves the
    // incremental partition refresh converges to the full recompute
    "mv_incremental_refresh" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // the PLAIN join: hash-equality proves the salt fan-out is
    // semantics-free
    "join_salted_skew" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "cust_rfm" ->
      """WITH maxd AS (SELECT max(o_orderdate) AS maxd FROM orders),
        |rfm AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', CAST(last AS DATE),
        |      CAST((SELECT maxd FROM maxd) AS DATE)) AS DOUBLE) AS rec,
        |    CAST(freq AS DOUBLE) AS frq, mon
        |  FROM (
        |    SELECT o_custkey, max(o_orderdate) AS last, count(*) AS freq,
        |      CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS mon
        |    FROM orders GROUP BY 1)),
        |b AS (
        |  SELECT quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS br,
        |    quantile_cont(frq, [0.2, 0.4, 0.6, 0.8]) AS bf,
        |    quantile_cont(mon, [0.2, 0.4, 0.6, 0.8]) AS bm
        |  FROM rfm),
        |sc AS (
        |  SELECT o_custkey, CAST(rec AS INT) AS recency_d,
        |    CAST(frq AS BIGINT) AS frequency, mon AS monetary,
        |    5 - (CAST(rec > br[1] AS INT) + CAST(rec > br[2] AS INT)
        |       + CAST(rec > br[3] AS INT) + CAST(rec > br[4] AS INT)) AS r_score,
        |    1 + (CAST(frq > bf[1] AS INT) + CAST(frq > bf[2] AS INT)
        |       + CAST(frq > bf[3] AS INT) + CAST(frq > bf[4] AS INT)) AS f_score,
        |    1 + (CAST(mon > bm[1] AS INT) + CAST(mon > bm[2] AS INT)
        |       + CAST(mon > bm[3] AS INT) + CAST(mon > bm[4] AS INT)) AS m_score
        |  FROM rfm, b)
        |SELECT o_custkey, recency_d, frequency, monetary,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
        |         THEN 'champion'
        |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
        |       WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_promising'
        |       WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
        |       ELSE 'core' END AS segment
        |FROM sc ORDER BY o_custkey""".stripMargin,
    "basket_lift" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |no AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_ab
        |  FROM items a JOIN items b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |freq AS (SELECT l_partkey, count(*) AS n FROM items GROUP BY 1)
        |SELECT p1, p2, n_ab, fa.n AS n_a, fb.n AS n_b,
        |  round(CAST(n_ab AS DOUBLE) / (SELECT n_orders FROM no), 6)
        |    AS support_r,
        |  round((CAST(n_ab AS DOUBLE) * (SELECT n_orders FROM no))
        |    / (fa.n * fb.n), 6) AS lift_r
        |FROM pairs
        |JOIN freq fa ON fa.l_partkey = p1
        |JOIN freq fb ON fb.l_partkey = p2
        |ORDER BY lift_r DESC, p1, p2 LIMIT 50""".stripMargin,
    "table_stats_profile" ->
      """SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |  count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_nulls,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS DOUBLE) AS min_v,
        |  CAST(max(o_orderkey) AS DOUBLE) AS max_v
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*),
        |  count(CASE WHEN o_custkey IS NULL THEN 1 END),
        |  count(DISTINCT o_custkey),
        |  CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*),
        |  count(CASE WHEN o_totalprice IS NULL THEN 1 END),
        |  count(DISTINCT o_totalprice),
        |  min(o_totalprice), max(o_totalprice)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*),
        |  count(CASE WHEN o_orderstatus IS NULL THEN 1 END),
        |  count(DISTINCT o_orderstatus),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        |  count(CASE WHEN o_orderpriority IS NULL THEN 1 END),
        |  count(DISTINCT o_orderpriority),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |FROM orders
        |ORDER BY col_name""".stripMargin,
    "q17_small_qty" ->
      """SELECT
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
        |    / 7.0, 6) AS avg_yearly_r,
        |  count(*) AS n_small
        |FROM lineitem l1
        |WHERE l_quantity < (
        |  SELECT (CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE)
        |    / count(*)) * 0.2
        |  FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,
    "unpivot_melt" ->
      """WITH m AS (
        |  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |SELECT l_returnflag, metric, count(*) AS n,
        |  CAST(sum(CAST(val AS DECIMAL(28,4))) AS DOUBLE) AS sum_val,
        |  CAST(sum(CAST(val AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_val,
        |  min(val) AS min_val, max(val) AS max_val
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "median_mode" ->
      """WITH med AS (
        |  SELECT l_returnflag,
        |    round(quantile_cont(l_quantity, 0.5), 6) AS median_qty_r,
        |    round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price_r,
        |    round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price_r
        |  FROM lineitem GROUP BY 1),
        |vc AS (
        |  SELECT l_returnflag, l_linenumber, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT l_returnflag, l_linenumber AS mode_linenumber, cnt AS mode_n,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY cnt DESC, l_linenumber) AS rn
        |  FROM vc)
        |SELECT med.l_returnflag, median_qty_r, p25_price_r, p75_price_r,
        |  mode_linenumber, mode_n
        |FROM med JOIN m USING (l_returnflag)
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "window_groups_frame" ->
      """WITH o AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d, o_totalprice
        |  FROM orders),
        |r AS (
        |  SELECT o_orderpriority, o_orderkey, d, o_totalprice,
        |    dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY d) AS dr
        |  FROM o)
        |SELECT o_orderpriority, o_orderkey, d,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
        |    PARTITION BY o_orderpriority ORDER BY dr
        |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS grp_sum
        |FROM r ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "cdc_scd2_history" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(props->>'k' AS BIGINT) AS k, ts, event_id,
        |    value, event_type = 'error' AS is_delete
        |  FROM events WHERE user_id % 10 = 0),
        |v AS (
        |  SELECT user_id, k, event_id, value, is_delete, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id, k
        |      ORDER BY ts, event_id) AS valid_to
        |  FROM ev)
        |SELECT user_id, k, event_id, value, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM v WHERE NOT is_delete
        |ORDER BY user_id, k, valid_from, event_id""".stripMargin,
    "table_audit" ->
      """WITH checks AS (
        |  SELECT count(*) AS n_rows,
        |    count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS null_orderkey,
        |    count(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_custkey,
        |    count(CASE WHEN o_totalprice IS NULL THEN 1 END) AS null_totalprice,
        |    count(DISTINCT o_orderkey) AS distinct_orderkey,
        |    count(CASE WHEN o_totalprice <= 0.0 THEN 1 END) AS nonpositive_price,
        |    count(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 END) AS bad_status
        |  FROM orders),
        |orph AS (
        |  SELECT count(*) AS orphan_custkey FROM orders o
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |SELECT n_rows, null_orderkey, null_custkey, null_totalprice,
        |  distinct_orderkey = n_rows AS orderkey_unique,
        |  nonpositive_price, bad_status, orphan_custkey,
        |  (null_orderkey = 0 AND null_custkey = 0 AND null_totalprice = 0
        |    AND distinct_orderkey = n_rows AND nonpositive_price = 0
        |    AND bad_status = 0 AND orphan_custkey = 0) AS all_checks_pass
        |FROM checks, orph""".stripMargin,
    "approx_kll" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS exact_p50_r,
        |  round(quantile_cont(value, 0.9), 6) AS exact_p90_r,
        |  round(quantile_cont(value, 0.99), 6) AS exact_p99_r,
        |  TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "cdc_latest_upsert" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(props->>'k' AS BIGINT) AS k, ts, event_id,
        |    value, event_type = 'error' AS is_delete
        |  FROM events WHERE user_id % 10 = 0),
        |ranked AS (
        |  SELECT user_id, k, event_id, value, is_delete,
        |    row_number() OVER (PARTITION BY user_id, k
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, k, event_id, value
        |FROM ranked WHERE rn = 1 AND NOT is_delete
        |ORDER BY user_id, k""".stripMargin,
    "window_pct_prefix" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  round(pr, 6) AS pr_r
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    percent_rank() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS pr
        |  FROM orders)
        |WHERE pr <= 0.1
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "window_cume_prefix" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  round(cd, 6) AS cd_r
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    cume_dist() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS cd
        |  FROM orders)
        |WHERE cd <= 0.25
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "window_ntile_prefix" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  CAST(nt AS BIGINT) AS nt
        |FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    ntile(5) OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS nt
        |  FROM orders)
        |WHERE nt <= 1
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,
    "window_ntile" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drank
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "grouping_sets_agg" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "window_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  count(*) OVER w AS n_within_10k,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) OVER w AS DOUBLE) AS sum_within_10k
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
        |             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "topk_agg_orders" ->
      """WITH t AS (SELECT o_orderpriority,
        |  (list_sort(list(o_totalprice), 'DESC'))[1:5] AS tp
        |FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, tp[1] AS top1, tp[2] AS top2, tp[3] AS top3,
        |  tp[4] AS top4, tp[5] AS top5
        |FROM t ORDER BY o_orderpriority""".stripMargin,
    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "stats_agg" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc,
        |  round(var_samp(l_extendedprice), 2) AS var_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2)) * (1 - CAST(l_discount AS DECIMAL(28,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2)) * (1 - CAST(l_discount AS DECIMAL(28,2))) * (1 + CAST(l_tax AS DECIMAL(28,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join_agg" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2)) * (1 - CAST(l_discount AS DECIMAL(28,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_multijoin" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2)) * (1 - CAST(l_discount AS DECIMAL(28,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT (l_suppkey, l_partkey)) AS n_supp_part,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "window_rank" ->
      """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,
    "window_rank_ties" ->
      """SELECT o_orderpriority, rnk, o_orderkey, o_orderdate FROM (
        |  SELECT o_orderpriority, o_orderkey, o_orderdate,
        |    CAST(rank() OVER (PARTITION BY o_orderpriority
        |                      ORDER BY o_orderdate) AS BIGINT) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 2 ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin,
    "join_full_outer" ->
      """WITH r97 AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS rev97
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY o_custkey),
        |r98 AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS rev98
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  GROUP BY o_custkey)
        |SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
        |  coalesce(a.rev97, 0.0) AS rev97,
        |  coalesce(b.rev98, 0.0) AS rev98
        |FROM r97 a FULL OUTER JOIN r98 b ON a.o_custkey = b.o_custkey
        |WHERE coalesce(a.o_custkey, b.o_custkey) < 500
        |ORDER BY custkey""".stripMargin,
    "set_ops" ->
      """WITH y97 AS (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |y98 AS (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
        |SELECT o_custkey, 'churned' AS cohort
        |FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y98)
        |UNION ALL
        |SELECT o_custkey, 'retained' AS cohort
        |FROM (SELECT o_custkey FROM y97 INTERSECT SELECT o_custkey FROM y98)
        |ORDER BY o_custkey, cohort""".stripMargin,
    "window_firstlast" ->
      """SELECT o_orderpriority, o_orderkey, o_orderdate, o_totalprice,
        |  first_value(o_orderkey) OVER wg AS first_key,
        |  last_value(o_orderkey) OVER wf AS last_key,
        |  nth_value(o_orderkey, 3) OVER wg AS third_key,
        |  lead(o_totalprice, 2, -1.0) OVER wo AS lead2_price
        |FROM orders WHERE o_custkey < 500
        |WINDOW
        |  wo AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey),
        |  wg AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderpriority, o_orderdate, o_orderkey""".stripMargin,
    "window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        |  CAST(lag(CAST(o_totalprice AS DECIMAL(28,2)), 1)
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS prev_price,
        |  row_number() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_orderdate, o_orderkey) AS order_seq
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, order_seq""".stripMargin,
    "rollup_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "orderby_limit" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "union_distinct" ->
      """SELECT DISTINCT o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 350000.0
        |  UNION ALL
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t
        |ORDER BY o_custkey""".stripMargin,
    "subquery_scalar" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) / count(*) FROM orders) * 1.5
        |ORDER BY o_orderkey""".stripMargin,
    "pivot_status" ->
      """SELECT o_orderpriority,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |           THEN CAST(o_totalprice AS DECIMAL(28,2)) END) AS DOUBLE) AS price_f
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "sample_stratified" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin,
    "approx_hll" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "approx_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS exact_p50,
        |  quantile_cont(l_extendedprice, 0.99) AS exact_p99,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
