package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import graft.Tables.{dec, dsum}

/** `Tables.dsum`: an integral column at scale 0 sums on a LONG with
  * the doubles of the DECIMAL(28, 0) sum it replaces, and overflows
  * with an error; every other column keeps the DECIMAL(28, s) sum and
  * its range.
  */
class DsumSpec extends SparkSpecBase {
  import spark.implicits._

  /** The form `dsum` had before integral columns summed on longs. */
  private def decimalSum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(28, scale))).cast("double")

  private def bits(rows: Array[Row]): Seq[(Any, Option[Long])] = rows.toSeq.map { r =>
    r.get(0) -> Option(r.get(1)).map(v => java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double]))
  }.sortBy(_._1.toString)

  private def sums(df: DataFrame): Seq[Sum] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect { case s: Sum => s }))

  private val two53 = 1L << 53
  private def row(g: Int, v: java.lang.Long): (Int, java.lang.Long) = g -> v
  private val groups = Seq(
    row(1, -5L), row(1, -7L), row(1, 3L), // negatives
    row(2, null), row(2, 10L), row(2, null), // nulls skipped
    row(3, null), row(3, null), // all NULL: NULL
    row(4, two53 - 1), row(4, 2L), // 2^53 + 1: rounds to 2^53
    row(5, two53 + 1), row(5, two53 + 1), // 2^54 + 2: a tie, to even
    row(6, two53 + 3), row(6, -1L), // 2^53 + 2: exact
    row(7, 1L << 62), row(7, 1L << 61), row(7, 12345L), // past 2^53 by far
    row(8, Long.MinValue), row(8, Long.MaxValue)) // −1

  test("an integral column at scale 0 sums on a LONG, bit-identical to the DECIMAL(28, 0) sum") {
    val ranges = Seq("bigint" -> Long.MaxValue, "int" -> Int.MaxValue.toLong,
      "smallint" -> Short.MaxValue.toLong, "tinyint" -> Byte.MaxValue.toLong)
    for (parts <- Seq(1, 3); (t, max) <- ranges) {
      val rows = groups.filter { case (_, v) => v == null || v >= -max - 1 && v <= max }
      val df = rows.toDF("g", "v").select($"g", $"v".cast(t).as("v")).repartition(parts)
      val got = df.groupBy($"g").agg(dsum($"v", 0).as("s"))
      val old = df.groupBy($"g").agg(decimalSum($"v", 0).as("s"))
      assert(bits(got.collect()) === bits(old.collect()), s"$t over $parts partition(s)")
      assert(sums(got).map(_.child.dataType) === Seq(LongType), s"$t over $parts partition(s)")
      // an empty input: one global row of NULL
      val none = df.where($"g" < 0)
      assert(none.agg(dsum($"v", 0)).collect().toSeq === Seq(Row(null)))
      assert(none.agg(decimalSum($"v", 0)).collect().toSeq === Seq(Row(null)))
    }
  }

  test("a LONG total outside ±(2^63 − 1) raises ARITHMETIC_OVERFLOW, also with ANSI off") {
    def overflow(vs: Seq[Long]): Unit = {
      val e = intercept[Exception](vs.toDF("v").repartition(1).agg(dsum($"v", 0)).collect())
      val arith = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case a: ArithmeticException with SparkThrowable => a.getCondition }
      assert(arith === Some("ARITHMETIC_OVERFLOW"), e.toString)
    }
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      for (on <- Seq("true", "false")) {
        spark.conf.set("spark.sql.ansi.enabled", on)
        overflow(Seq(Long.MaxValue, 1L))
        overflow(Seq(Long.MinValue, -1L))
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("the decimal path keeps DECIMAL(28, s) and accepts values of 10^16 and more") {
    val big = Seq(1.0e16, 3.0e17, -2.5e16, 12345678.25).toDF("x")
      .withColumn("y", lit(1.0e4)).repartition(1)
    val got = big.agg(dsum($"x").as("s2"), dsum($"x", 4).as("s4"),
      dsum(dec($"x") * dec($"y"), 4).as("prod"), dsum(round($"x", 9), 9).as("s9"),
      dsum($"x".cast("long"), 0).as("s0"))
    val exact = BigDecimal("1e16") + BigDecimal("3e17") - BigDecimal("2.5e16") + BigDecimal("12345678.25")
    assert(got.collect().head === Row(exact.toDouble, exact.toDouble, (exact * 10000).toDouble,
      exact.toDouble, (exact - BigDecimal("0.25")).toDouble))

    // every decimal-path sum of the query modules that call dsum casts
    // to a DECIMAL with at least 17 integer digits
    val modules = Seq(queries.Relational.queries, flow.FlowAnalytics.queries,
      text.TextAnalytics.queries, ann.Knn.queries, operators.Joins.queries)
    val decimal = modules.flatMap(_.toSeq).flatMap { case (name, fn) =>
      sums(fn(spark, sf0001)).collect { case Sum(Cast(_, d: DecimalType, _, _), _) => name -> d }
    }
    assert(decimal.nonEmpty)
    val narrow = decimal.filter { case (_, d) => d.precision - d.scale < 17 }
    assert(narrow.isEmpty, s"decimal sums that reject 10^16: $narrow")
  }
}
