package graft

import graft.queries.Relational

/** C30–C32 invariants the oracle replay can't see: the melt really
  * conserves every per-column aggregate, the deterministic mode is
  * the true count-argmax under the declared tiebreak, and the GROUPS
  * frame rewrite matches a driver-side peer-group sweep.
  */
class RelationalOpsSpec extends SparkSpecBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("unpivot_melt conserves the direct per-column aggregates at sf0.001") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val li = graft.Tables.load(spark, sf0001, "lineitem")
    val direct = li.groupBy($"l_returnflag").agg(
      count(lit(1)).as("n"),
      graft.Tables.dsum($"l_quantity", 4).as("sum_qty"),
      min($"l_discount").as("min_disc"),
      max($"l_tax").as("max_tax"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val melted = Relational.unpivotMelt(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(5), r.getDouble(6)))).toMap
    for ((flag, (n, sq, mind, maxt)) <- direct) {
      assert(melted((flag, "l_quantity"))._1 === n)
      assert(melted((flag, "l_quantity"))._2 === sq)
      assert(melted((flag, "l_discount"))._3 === mind)
      assert(melted((flag, "l_tax"))._4 === maxt)
    }
    // the melt emits exactly 4 metric rows per flag — no dropped or
    // duplicated measures
    assert(melted.keys.groupBy(_._1).forall(_._2.size == 4))
  }

  test("median_mode: mode is the count-argmax under (count desc, value asc)") {
    val li = graft.Tables.load(spark, sf0001, "lineitem")
      .select("l_returnflag", "l_linenumber").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val expected = li.groupBy(_._1).map { case (flag, xs) =>
      val counts = xs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val (v, n) = counts.toSeq.sortBy { case (value, cnt) => (-cnt, value) }.head
      flag -> ((v, n))
    }
    val got = Relational.medianMode(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getInt(4), r.getLong(5)))).toMap
    assert(got === expected)
  }

  test("median_mode: median matches a driver-side interpolated quantile") {
    val li = graft.Tables.load(spark, sf0001, "lineitem")
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val expected = li.groupBy(_._1).map { case (flag, xs) =>
      val v = xs.map(_._2).sorted
      val pos = 0.5 * (v.length - 1)
      val (lo, hi) = (v(pos.toInt), v(math.ceil(pos).toInt))
      flag -> r6(lo + (pos - pos.toInt) * (hi - lo))
    }
    val got = Relational.medianMode(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === expected)
  }

  test("MV refresh touches only the newest day's partition") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // first run creates the MV; capture the settled partitions' state
    graft.queries.Relational.mvIncrementalRefresh(spark, sf0001).count()
    val mvPath = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_mv_${graft.Staging.corpusFingerprint(spark, sf0001)}")
    def listing(): Map[String, Long] =
      Files.walk(mvPath).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val before = listing()
    val days = before.keys.flatMap(
      "day=([0-9-]+)".r.findFirstMatchIn(_).map(_.group(1))).toSeq.sorted
    assert(days.size > 1, s"need several partitions, got $days")
    val newest = days.last
    Thread.sleep(20) // mtime resolution guard
    // second run replays the refresh against the existing MV
    graft.queries.Relational.mvIncrementalRefresh(spark, sf0001).count()
    val after = listing()
    val settledBefore = before.filter(!_._1.contains(s"day=$newest"))
    val settledAfter = after.filter(!_._1.contains(s"day=$newest"))
    assert(settledAfter == settledBefore,
      "settled partitions were rewritten by the incremental refresh")
    assert(after.keys.exists(_.contains(s"day=$newest")))
  }

  test("MV refresh rebuilds an MV dir that lost a settled partition") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val expected = graft.Tables.events(spark, sf0001)
      .groupBy(date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"), graft.Tables.dsum($"value").as("sum_v"))
      .orderBy($"day", $"event_type").collect().toSeq
    assert(Relational.mvIncrementalRefresh(spark, sf0001).collect().toSeq === expected)
    val mvPath = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_mv_${graft.Staging.corpusFingerprint(spark, sf0001)}")
    // a settled day's partition goes missing; `_SUCCESS` stays
    val settled = Files.list(mvPath).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("day=")).toSeq.sorted.head
    Files.walk(mvPath.resolve(settled)).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    assert(Files.exists(mvPath.resolve("_SUCCESS")))
    assert(Relational.mvIncrementalRefresh(spark, sf0001).collect().toSeq === expected)
    assert(Files.isDirectory(mvPath.resolve(settled)))
  }

  test("cust_rfm: scores bucket against true quintiles, segments follow the lattice") {
    val rows = graft.queries.Relational.custRfm(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getString(7)))
    assert(rows.nonEmpty)
    // scores in 1..5 and each quintile bucket holds ~20% of customers
    assert(rows.forall(r => r._5 >= 1 && r._5 <= 5 &&
      r._6 >= 1 && r._6 <= 5 && r._7 >= 1 && r._7 <= 5))
    val mShare = rows.count(_._7 == 5).toDouble / rows.length
    assert(mShare > 0.1 && mShare < 0.3, s"m_score=5 share $mShare")
    // monetary score is monotone in monetary value
    val byScore = rows.groupBy(_._7).view
      .mapValues(xs => xs.map(_._4).sum / xs.length).toMap
    val means = (1 to 5).flatMap(byScore.get)
    assert(means == means.sorted, s"m-score means not monotone: $means")
    // segment labels follow the declared lattice rules
    rows.foreach { case (_, _, _, _, r, f, m, seg) =>
      val want =
        if (r >= 4 && f >= 4 && m >= 4) "champion"
        else if (r <= 2 && f >= 4) "at_risk_loyal"
        else if (r >= 4 && f <= 2) "new_or_promising"
        else if (r <= 2 && f <= 2) "hibernating"
        else "core"
      assert(seg == want)
    }
  }

  test("basket_lift matches a driver-side co-occurrence recount at sf0.001") {
    val items = graft.Tables.load(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = items.map(_._1).distinct.length
    val freq = items.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCounts = items.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 3).toMap
    val got = graft.queries.Relational.basketLift(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(6)))
    got.foreach { case (p1, p2, nab, lift) =>
      assert(pairCounts((p1, p2)) == nab, s"pair ($p1,$p2)")
      assert(lift === r6(nab.toDouble * nOrders / (freq(p1) * freq(p2))))
    }
    // top-50 really is the lift maximum over all qualifying pairs
    if (pairCounts.nonEmpty && got.nonEmpty) {
      val bestLift = pairCounts.map { case ((a, b), n) =>
        n.toDouble * nOrders / (freq(a) * freq(b))
      }.max
      assert(got.head._4 === r6(bestLift))
    }
  }

  test("table_stats_profile matches driver-side column stats at sf0.001") {
    val ord = graft.Tables.load(spark, sf0001, "orders").collect()
    val n = ord.length.toLong
    def stat[T: scala.reflect.ClassTag](f: org.apache.spark.sql.Row => T) =
      ord.map(f)
    val expected = Map(
      "o_orderkey" -> ((stat(_.getLong(0)).distinct.length.toLong,
        Some(stat(_.getLong(0)).min.toDouble), Some(stat(_.getLong(0)).max.toDouble))),
      "o_custkey" -> ((stat(_.getLong(1)).distinct.length.toLong,
        Some(stat(_.getLong(1)).min.toDouble), Some(stat(_.getLong(1)).max.toDouble))),
      "o_orderstatus" -> ((stat(_.getString(2)).distinct.length.toLong,
        None, None)),
      "o_totalprice" -> ((stat(_.getDouble(3)).distinct.length.toLong,
        Some(stat(_.getDouble(3)).min), Some(stat(_.getDouble(3)).max))),
      "o_orderpriority" -> ((stat(_.getString(5)).distinct.length.toLong,
        None, None)))
    val got = graft.queries.Relational.tableStatsProfile(spark, sf0001)
      .collect().map { r =>
        r.getString(0) -> ((r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      }.toMap
    assert(got == expected)
    assert(graft.queries.Relational.tableStatsProfile(spark, sf0001)
      .collect().forall(r => r.getLong(1) == n && r.getLong(2) == 0L))
  }

  test("q17_small_qty matches a driver-side correlated evaluation at sf0.001") {
    val li = graft.Tables.load(spark, sf0001, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val th = li.groupBy(_._1).map { case (p, xs) =>
      p -> (xs.map(x => math.round(x._2 * 100)).sum.toDouble / 100 / xs.length) * 0.2
    }
    val small = li.filter { case (p, q, _) => q < th(p) }
    val sum = small.map(x => math.round(x._3 * 100)).sum.toDouble / 100
    val got = graft.queries.Relational.q17SmallQty(spark, sf0001).collect().head
    assert(got.getLong(1) === small.length.toLong)
    assert(got.getDouble(0) === r6(sum / 7.0))
  }

  test("window_groups_frame matches a driver-side peer-group sweep at sf0.001") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = graft.Tables.load(spark, sf0001, "orders")
      .select($"o_orderpriority", $"o_orderkey",
        date_trunc("day", $"o_orderdate").as("d"), $"o_totalprice")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    val expected = rows.groupBy(_._1).flatMap { case (pri, xs) =>
      val days = xs.map(_._3).distinct.sortBy(_.getTime)
      val rank = days.zipWithIndex.toMap
      // exact DECIMAL-cent accumulation, like the engine
      val byRank = xs.groupBy(x => rank(x._3)).view
        .mapValues(_.map(x => math.round(x._4 * 100)).sum).toMap
      xs.toSeq.map { case (_, key, d, _) =>
        val dr = rank(d)
        val cents = (math.max(0, dr - 2) to dr).map(byRank.getOrElse(_, 0L)).sum
        (pri, key) -> (cents.toDouble / 100)
      }
    }
    val got = Relational.windowGroupsFrame(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(got === expected)
  }

  test("cust_pareto: deciles partition every customer and the cumulative share ends at 1") {
    import spark.implicits._
    val rows = Relational.custPareto(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val nCust = graft.Tables.load(spark, sf0001, "orders")
      .select($"o_custkey").distinct().count()
    assert(rows.map(_._2).sum === nCust, "every customer lands in exactly one decile")
    assert(rows.map(_._1).toSeq === rows.map(_._1).toSeq.sorted)
    // shares are a partition of total revenue
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    assert(math.abs(rows.last._5 - 1.0) < 1e-6, "cumulative share must end at 1")
    // Pareto shape: the first (richest) decile carries at least its
    // uniform share
    assert(rows.head._4 >= 1.0 / rows.length)
  }

  test("events_attribution matches a driver-side replay at sf0.001") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id", $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        (r.getTimestamp(1).getNanos / 1000) % 1000, r.getLong(2), r.getString(3)))
    val expected = ev.groupBy(_._3).toSeq.flatMap { case (_, xs) =>
      val sorted = xs.sortBy(x => (x._2, x._1))
      sorted.zipWithIndex.collect { case ((_, ts, _, "purchase"), i)
          if sorted.take(i).exists(_._4 != "purchase") =>
        val (_, ats, _, aty) = sorted.take(i).filter(_._4 != "purchase").last
        (aty, ts - ats)
      }
    }.groupBy(_._1).view.mapValues(v => (v.size.toLong, v.map(_._2).sum)).toMap
    val got = Relational.eventsAttribution(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
  }
}
