package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import graft.Staging

/** The training-data curation job's layers, measured in the
  * dashboard's traced run: a fixed list over `documents`, `embeddings`
  * and `events`, run by one client in order.
  *
  * The build pass runs in a fresh session over an empty artifact lake
  * at a per-run root and publishes every staged artifact; the serve
  * pass runs the same list in a new session over that lake. Every
  * serve result must hash equal to its build result, and the serve
  * pass must publish nothing.
  */
object Curation {
  /** graded query → the module that defines it */
  val Queries: Seq[(String, String)] = Seq(
    "dedup_exact" -> "dedup.Dedup",
    "dedup_ngram_jaccard" -> "dedup.Dedup",
    "ann_topk_ivf_mp" -> "ann.Knn",
    "text_quality" -> "text.TextAnalytics",
    "corpus_curate" -> "text.TextAnalytics")

  private def pass(spark: SparkSession, dir: String, lake: String)
      : (SparkSession, Seq[(String, Double, Option[Array[Row]])]) = {
    val s = spark.newSession()
    s.conf.set(Staging.LakeConfKey, lake)
    val all = graft.SparkEntry.queries
    val res = Queries.map { case (q, _) =>
      s.sparkContext.setJobDescription(s"bench: $q")
      val t = System.nanoTime()
      val rows = try Some(all(q)(s, dir).collect()) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q failed: $e")
          None
      }
      s.sparkContext.setJobDescription(null)
      (q, Common.secs(t), rows)
    }
    (s, res)
  }

  private def lake(s: SparkSession): (Long, Long) = {
    val r = Staging.lakeReport(s).collect()
    (r.length.toLong, r.map(_.getAs[Long]("bytes")).sum)
  }

  /** A build pass over an empty lake, then a serve pass, each in a new
    * session; records per-query build and serve ms, the lake after
    * each pass, and checks serve results against build results.
    */
  def layers(ctx: Ctx, out: Outcome, spark: SparkSession): Unit = {
    val dir = ctx.path("input")
    val lakeRoot = ctx.path("lake")
    val (bs, built) = pass(spark, dir, lakeRoot)
    val (artifacts, bytes) = lake(bs)
    val (ss, served) = pass(spark, dir, lakeRoot)
    val published = lake(ss)._1 - artifacts
    val failedRuns = (built ++ served).count(_._3.isEmpty)
    out.check("curate.queries_ran", failedRuns == 0, s"$failedRuns query runs failed", failedRuns)
    built.zip(served).zip(Queries).foreach { case (((q, b, br), (_, s, sr)), (_, module)) =>
      val same = br.isEmpty || sr.isEmpty || br.map(Common.resultHash) == sr.map(Common.resultHash)
      out.check(s"curate.$q.serve_equals_build", same,
        if (same) "serve result equals build result" else "serve result differs from build result",
        if (same) 0 else 1)
      out.detail(s"$module.$q.build_ms") = b * 1000
      out.detail(s"$module.$q.serve_ms") = s * 1000
    }
    out.check("curate.serve_publishes_nothing", published == 0,
      s"$published artifacts published during the serve pass", 0)
    out.detail("curate.build_s") = built.map(_._2).sum
    out.detail("curate.serve_s") = served.map(_._2).sum
    out.detail("Staging.lake.artifacts") = artifacts
    out.detail("Staging.lake.bytes") = bytes
    out.detail("Staging.lake.published_in_serve") = published
  }
}
