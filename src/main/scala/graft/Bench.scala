package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** One timed pass over every graded query on `s`. Deterministic name
    * order: hash-map order varies as queries are added, which made
    * per-query numbers incomparable across rounds (a heavy query's
    * cost depends on how much JVM/codegen history precedes it).
    */
  private def runAll(s: SparkSession, sfDir: String): Seq[(String, Double)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // collect garbage OUTSIDE the timed section: accumulated heap
      // from prior queries otherwise lands as a GC pause inside
      // whichever heavy query happens to trigger it
      System.gc()
      // label every job with its query (guide §1.5) so scheduler log
      // lines (task-binary warnings, stage failures) attribute to a
      // query without bisection; thread-local, cleared after
      s.sparkContext.setJobDescription(s"bench: $name")
      val t0 = System.nanoTime()
      val ok = try { fn(s, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"BENCH FAILURE in $name: ${e.getClass.getName}: ${e.getMessage}")
          false
      } finally s.sparkContext.setJobDescription(null)
      // a failed query reports -1 (unmistakably not a duration) so a
      // regression can't masquerade as a fast run
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }

  private def fmt(v: Double): String = f"$v%.3f"
  private def jsonMap(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_LAKE: unset → default /tmp lake; "off" → disabled;
    // anything else → that path
    val lakeRoot = Staging.lakeRootFromEnv(default = "/tmp/graft_lake")
    val spark = Graft.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // same lake as Verify: the first run after a corpus change pays
      // the index/model/edge-table builds and publishes them; steady
      // benches read the artifacts — the production cost shape.
      .config(Staging.LakeConfKey, lakeRoot)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warm-up: session init, codegen compiler, parquet reader
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // WARM pass: lake + session staging on — the steady production
    // shape (artifacts built once per corpus snapshot, served after)
    val warm = runAll(spark, sfDir)
    // COLD pass: a fresh session (empty staging cache) with the lake
    // disabled, so every index/model/edge table is REBUILT — the
    // like-for-like compute column; round-over-round deltas on the
    // warm total alone conflate compute with artifact reads. Runs
    // second, so JVM/codegen warm-up never inflates the cold figures'
    // build costs. SPARK_GRAFT_COLD=off skips it for quick local
    // iteration loops.
    val cold: Seq[(String, Double)] =
      if (sys.env.get("SPARK_GRAFT_COLD").contains("off")) Nil
      else {
        val s2 = spark.newSession()
        s2.conf.set(Staging.LakeConfKey, "")
        runAll(s2, sfDir)
      }
    val warmTotal = warm.map(_._2).sum
    // sum only real durations: a -1.0 failure sentinel must not
    // SUBTRACT from the total (failures are reported via `failed`)
    val coldTotal = cold.map(_._2).filter(_ >= 0).sum
    // cold skipped (SPARK_GRAFT_COLD=off) → null, not a 0.000 that
    // reads like an instantaneous pass
    val coldJson = if (cold.isEmpty) "null" else fmt(coldTotal)
    // Full per-query detail goes to a file: with 100+ queries the
    // single JSON line exceeds the 2000-char output tail the driver
    // captures, which front-truncates it into unparseable text. The
    // printed line carries the totals plus a fixed headline subset
    // and stays well under the tail window.
    val coldDetail =
      if (cold.isEmpty) "" else s""","queries_cold":${jsonMap(cold)}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (s"""{"metric":"total","value":${fmt(warmTotal)},"value_warm":${fmt(warmTotal)},""" +
        s""""value_cold":$coldJson,"unit":"sec",""" +
        s""""queries":${jsonMap(warm)}$coldDetail,"sf":"$sfDir"}""").getBytes("UTF-8"))
    val headline = Seq(
      "q1_agg", "q3_join_agg", "q5_multijoin", "join_asof",
      "flow_top_talkers", "flow_time_series", "flow_sessions",
      "dedup_exact", "dedup_minhash", "dedup_ngram_jaccard",
      "ann_topk_brute", "ann_topk_ivfpq_res", "text_quality",
      "corpus_curate", "stream_window_agg")
    val byName = warm.toMap
    val hs = headline.flatMap(n => byName.get(n).map(v => s"\"" + n + "\":" + fmt(v)))
      .mkString("{", ",", "}")
    val failed = (warm ++ cold).count(_._2 < 0)
    val sparkVersion = spark.version
    // Shutdown emits a WARN per staged block the SessionCache releases
    // ("RDD was locally checkpointed … cannot be recomputed"), hundreds
    // of lines that drown the headline JSON out of the output tail the
    // driver captures. Silence the stop-path logging and print the
    // headline LAST, after spark.stop(), so it is always the final
    // line of output.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    val headlineJson =
      s"""{"metric":"total","value":${fmt(warmTotal)},"value_warm":${fmt(warmTotal)},"value_cold":$coldJson,"unit":"sec","n_queries":${warm.size},"failed":$failed,"spark":"$sparkVersion","queries":$hs,"detail":"BENCH_DETAIL.json","sf":"$sfDir"}"""
    // the bare headline also lands in a fixed file so the artifact
    // parses even if a log relay decorates the printed line
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_HEADLINE.json"),
      (headlineJson + "\n").getBytes("UTF-8"))
    println(headlineJson)
  }
}
