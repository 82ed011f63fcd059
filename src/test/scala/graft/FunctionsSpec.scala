package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, TopKAgg}

/** Custom aggregate + SQL function registration. */
class FunctionsSpec extends SparkSpecBase {

  test("topk_agg keeps exact top-k per group with bounded state") {
    import spark.implicits._
    val df = Seq(
      ("a", 5.0), ("a", 1.0), ("a", 9.0), ("a", 7.0), ("a", 3.0),
      ("b", 2.0), ("b", 2.0), ("b", 8.0))
      .toDF("g", "v")
      .repartition(4) // force heap merges across partial aggregates
    val got = df.groupBy($"g").agg(TopKAgg.topk_agg($"v", 3).as("top"))
      .orderBy($"g").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1))
    assert(got(0) === ("a" -> Seq(9.0, 7.0, 5.0)))
    assert(got(1) === ("b" -> Seq(8.0, 2.0, 2.0))) // k > group handles dups
  }

  test("topk_agg with k larger than the group returns everything sorted") {
    import spark.implicits._
    val got = Seq(("x", 1.0), ("x", 4.0)).toDF("g", "v")
      .groupBy($"g").agg(TopKAgg.topk_agg($"v", 10).as("top"))
      .collect().head.getSeq[Double](1)
    assert(got === Seq(4.0, 1.0))
  }

  test("topk_agg works as a window function (buffer not consumed by eval)") {
    import spark.implicits._
    val got = Seq(("a", 1.0), ("a", 3.0), ("a", 2.0)).toDF("g", "v")
      .withColumn("top", TopKAgg.topk_agg($"v", 2).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"g")))
      .collect().map(_.getSeq[Double](2))
    // every row of the partition must see the same full top-k
    assert(got.forall(_ == Seq(3.0, 2.0)), got.toSeq.toString)
  }

  test("wrong-typed arguments fail at analysis time, not mid-job") {
    GraftFunctions.register(spark)
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT ip4_aton(123)").collect())
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT ip4_ntoa('abc')").collect())
    import spark.implicits._
    Seq(1).toDF("x").createOrReplaceTempView("tk_bad")
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT topk_agg(x, 2) FROM tk_bad").collect())
  }

  test("every aggregate rejects a wrong-typed argument at analysis, naming itself") {
    GraftFunctions.register(spark)
    spark.sql("SELECT 1 AS i, 1.0D AS d, 'a' AS s, CAST('a' AS BINARY) AS b")
      .createOrReplaceTempView("agg_bad")
    // (function, call, name the error must carry): one wrong-typed
    // argument per registered aggregate; kll_quantiles is
    // kll_values(kll_sketch(...)), so its sketch builder reports it
    val cases = Seq(
      ("topk_agg", "topk_agg(s, 2)", "topk_agg"),
      ("topk_by", "topk_by(d, s, 2)", "topk_by"),
      ("space_saving", "space_saving(d, 2)", "space_saving"),
      ("space_saving_weighted", "space_saving_weighted(s, d, 2)", "space_saving_weighted"),
      ("bloom_agg", "bloom_agg(i, 64, 2)", "bloom_agg"),
      ("cms_sketch", "cms_sketch(d, 2, 8)", "cms_sketch"),
      ("kmv_sketch", "kmv_sketch(b, 4)", "kmv_sketch"),
      ("hll_sketch", "hll_sketch(i, 9)", "hll_sketch"),
      ("hll_merge", "hll_merge(s, 9)", "hll_merge"),
      ("kll_quantiles", "kll_quantiles(s, 64, 0.5)", "kll_sketch"),
      ("kll_sketch", "kll_sketch(s, 64)", "kll_sketch"),
      ("kll_union", "kll_union(d, 64)", "kll_union"))
    val registered = GraftFunctions.all.map(_._1).toSet
    for ((fn, call, named) <- cases) {
      assert(registered(fn), fn)
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $call FROM agg_bad").collect())
      assert(e.getMessage.contains(s"$named requires"), s"$fn: ${e.getMessage}")
    }
    import spark.implicits._
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq((1, "g", 2)).toDF("df", "gram", "k")
        .agg(graft.functions.PrefixMinAgg.prefix_min($"df", $"gram", $"k")).collect())
    assert(e.getMessage.contains("prefix_min requires a BIGINT df, got INT"), e.getMessage)
  }

  test("no graft function shadows a Spark built-in") {
    val clashes = GraftFunctions.all.map(_._1).filter(name =>
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
    assert(clashes.isEmpty, s"graft functions replacing Spark built-ins: $clashes")
  }

  test("char_grams matches the HOF transform form, sorted and unsorted") {
    import spark.implicits._
    val df = Seq("abcdefgh", "abc", "", "aaaaaaa", "abcabcabc").toDF("text")
    val got = df.select(
      graft.functions.StrFuncs.char_grams($"text", 5).as("g"),
      graft.functions.StrFuncs.char_grams($"text", 5, sorted = true).as("gs"),
      array_distinct(expr(
        "transform(sequence(1, greatest(length(text) - 4, 1)), i -> substring(text, i, 5))"))
        .as("ref"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](2), "first-occurrence order")
      assert(r.getSeq[String](1) === r.getSeq[String](2).sorted, "sorted variant")
    }
  }

  test("md5_prefix matches the conv(substring(md5)) composition") {
    import spark.implicits._
    val df = Seq("", "a", "hello world", "shing", "日本語テキスト").toDF("s")
    for (n <- Seq(1, 7, 12, 15)) {
      val got = df.select(
        graft.functions.StrFuncs.md5_prefix($"s", n).as("k"),
        expr(s"CAST(conv(substring(md5(cast(s as binary)), 1, $n), 16, 10) AS BIGINT)")
          .as("ref"))
        .collect()
      got.foreach(r => assert(r.getLong(0) === r.getLong(1), s"nHex=$n"))
    }
  }

  test("zorder2 interleaves bits (reference impl + monotone locality)") {
    import spark.implicits._
    // parity vs a direct per-bit reference, including edge values
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L)((v, i) =>
        v | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    val vals = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (60000L, 443L))
    val got = vals.toDF("x", "y")
      .select(graft.functions.StrFuncs.zorder2($"x", $"y", 16).as("z"), $"x", $"y")
      .collect()
    got.foreach(r => assert(r.getLong(0) === ref(r.getLong(1), r.getLong(2), 16)))
    // SQL registration
    assert(spark.sql("SELECT zorder2(3L, 1L, 4)").head().getLong(0) ===
      ref(3L, 1L, 4))
  }

  test("jaccard_sorted equals the array set-op composition") {
    import spark.implicits._
    val df = Seq(
      ("abcdefghij", "abcdefghiX"),
      ("abcde", "fghij"),
      ("same5gram", "same5gram")).toDF("a", "b")
    val got = df.select(
      graft.functions.StrFuncs.jaccard_sorted(
        graft.functions.StrFuncs.char_grams($"a", 5, sorted = true),
        graft.functions.StrFuncs.char_grams($"b", 5, sorted = true)).as("j"),
      (size(array_intersect(
          graft.functions.StrFuncs.char_grams($"a", 5),
          graft.functions.StrFuncs.char_grams($"b", 5))).cast("double") /
        size(array_union(
          graft.functions.StrFuncs.char_grams($"a", 5),
          graft.functions.StrFuncs.char_grams($"b", 5))).cast("double")).as("ref"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("prefix_min keeps the k smallest (df, gram) with per-row k") {
    import spark.implicits._
    // one group, k=2 rides every row: smallest by (df, gram) = (1,b),(2,a)
    val df = Seq(
      (1L, "z", 3L), (1L, "b", 1L), (1L, "a", 2L), (1L, "c", 2L))
      .toDF("doc", "gram", "df")
    val got = df.repartition(3)
      .groupBy($"doc")
      .agg(graft.functions.PrefixMinAgg.prefix_min(
        $"df", $"gram", lit(2).cast("int")).as("p"))
      .head().getSeq[String](1)
    assert(got === Seq("b", "a"), s"got $got")
  }

  test("minhash_sig equals the exploded 64-slot min-aggregate formulation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.StrFuncs.{char_grams, md5_prefix, minhash_sig}
    val n = 64
    val p = 2147483647L
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ha = Array.tabulate(n)(j =>
      java.lang.Long.parseLong(md5Hex(s"a:$j").substring(0, 7), 16) % (p - 1) + 1)
    val hb = Array.tabulate(n)(j =>
      java.lang.Long.parseLong(md5Hex(s"b:$j").substring(0, 7), 16) % p)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog!"),
      (3L, "completely different text with other shingles"),
      (4L, "tiny"), (5L, "")).toDF("doc_id", "text")
    val viaAgg = {
      val exploded = docs.select($"doc_id",
        explode(char_grams($"text", 5)).as("s"))
        .select($"doc_id", (md5_prefix($"s", 15) % p).as("h"))
      val slots = (0 until n).map(j =>
        min(($"h" * ha(j) + hb(j)) % p).as(s"m$j"))
      exploded.groupBy($"doc_id").agg(slots.head, slots.tail: _*)
        .select($"doc_id", array((0 until n).map(j => col(s"m$j")): _*).as("sig"))
    }.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaKernel = docs
      .select($"doc_id", minhash_sig(char_grams($"text", 5), n, p).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaKernel.keySet == viaAgg.keySet)
    viaKernel.foreach { case (id, sig) =>
      assert(sig == viaAgg(id), s"signature mismatch for doc $id")
      assert(sig.length == n)
    }
    // near-identical docs agree on most slots, unrelated docs don't
    val agree12 = viaKernel(1L).zip(viaKernel(2L)).count { case (a, b) => a == b }
    val agree13 = viaKernel(1L).zip(viaKernel(3L)).count { case (a, b) => a == b }
    assert(agree12 > 48 && agree13 < 16, s"LSH signal off: $agree12 / $agree13")
  }

  test("lev_banded matches the builtin levenshtein threshold form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.levenshtein
    // deterministic fuzz: mutated copies at controlled distances plus
    // the edge cases (empty, equal, multibyte, band-exceeded,
    // length-gap-exceeded)
    val rnd = new scala.util.Random(42)
    val alpha = "abcde fgh"
    def randStr(n: Int) =
      (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (1 to edits).foreach { _ =>
        val i = if (cur.isEmpty) 0 else rnd.nextInt(cur.length)
        rnd.nextInt(3) match {
          case 0 if cur.nonEmpty => cur = cur.take(i) + cur.drop(i + 1)
          case 1 => cur = cur.take(i) + alpha(rnd.nextInt(alpha.length)) + cur.drop(i)
          case _ if cur.nonEmpty =>
            cur = cur.take(i) + alpha(rnd.nextInt(alpha.length)) + cur.drop(i + 1)
          case _ => cur = cur + "x"
        }
      }
      cur
    }
    val pairs =
      (1 to 60).map { _ =>
        val base = randStr(20 + rnd.nextInt(300))
        (base, mutate(base, rnd.nextInt(40)))
      } ++ Seq(
        ("", ""), ("", "abc"), ("abc", ""), ("same", "same"),
        ("über", "uber"), ("日本語テキスト", "日本語テキスト!"),
        ("short", "a much longer string that exceeds any band"))
    val df = pairs.toDF("l", "r")
    for (k <- Seq(0, 1, 5, 26)) {
      val rows = df.select(
        levenshtein($"l", $"r", k).as("builtin"),
        graft.functions.StrFuncs.lev_banded($"l", $"r", k).as("native"),
        $"l", $"r").collect()
      rows.foreach { row =>
        assert(row.getInt(0) == row.getInt(1),
          s"k=$k mismatch on (${row.getString(2)}, ${row.getString(3)}): " +
            s"builtin ${row.getInt(0)} native ${row.getInt(1)}")
      }
    }
  }

  test("SQL registration exposes the native functions to spark.sql") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT ip4_aton('10.1.2.3') AS n, ip4_ntoa(167838211) AS s,
        |  ip4_in_cidr('10.1.2.3', '10.0.0.0/8') AS c,
        |  ip4_is_private('8.8.8.8') AS p""".stripMargin).head()
    assert(row.getLong(0) === 167838211L)
    assert(row.getString(1) === "10.1.2.3")
    assert(row.getBoolean(2))
    assert(!row.getBoolean(3))

    import spark.implicits._
    Seq(("a", 1.0), ("a", 3.0), ("a", 2.0)).toDF("g", "v")
      .createOrReplaceTempView("tk")
    val top = spark.sql("SELECT topk_agg(v, 2) AS t FROM tk GROUP BY g")
      .head().getSeq[Double](0)
    assert(top === Seq(3.0, 2.0))
  }
}
