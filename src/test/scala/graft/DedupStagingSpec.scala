package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Session staging lifecycle: the signature/band index cache is keyed
  * by PATH, not content snapshot — so a corpus dir whose contents
  * change mid-session is served stale until `Dedup.invalidate`, which
  * must both drop the cache entries and free the materialized blocks
  * (a leaked localCheckpoint pins executor memory for the session's
  * lifetime).
  */
class DedupStagingSpec extends SparkSpecBase {

  private def writeDocs(dir: String, n: Int): Unit = {
    import spark.implicits._
    spark.range(n).select($"id".as("doc_id"),
        concat(lit("alpha bravo charlie delta echo foxtrot golf hotel doc "),
          $"id".cast("string")).as("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def stagedRdd(df: org.apache.spark.sql.DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.get

  test("invalidate(dir) drops staged frames, frees their blocks, and the next build is fresh") {
    val dir = tmpDir("graft_stage_inv")
    writeDocs(dir, 40)

    val s1 = Dedup.docSignatures(spark, dir)
    val idx1 = Dedup.bandIndex(spark, dir)
    assert(s1.count() == 40)
    // same (session, dir) → the same staged instance, no rebuild
    assert(Dedup.docSignatures(spark, dir) eq s1)
    assert(Dedup.bandIndex(spark, dir) eq idx1)
    // materialize() is localCheckpoint (persisted blocks) or, when a
    // suite set a checkpoint dir on the shared context, a reliable
    // checkpoint (files) — the staged leaf must be one of the two,
    // and invalidate must free whichever backs it
    val idxRdd = stagedRdd(idx1)
    val ckptFile = idxRdd.getCheckpointFile
    assert(spark.sparkContext.getPersistentRDDs.contains(idxRdd.id) ||
        ckptFile.isDefined,
      "staged band index is not materialized")

    // the corpus dir changes — WITHOUT invalidate the stale index is
    // served by design (path-keyed cache, blocks don't re-read files)
    writeDocs(dir, 25)
    assert(Dedup.docSignatures(spark, dir).count() == 40, "expected stale-by-design")

    Dedup.invalidate(spark, dir)
    assert(!spark.sparkContext.getPersistentRDDs.contains(idxRdd.id),
      "invalidate leaked the staged band index's blocks")
    ckptFile.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      assert(!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
        "invalidate leaked the staged band index's checkpoint files")
    }

    val s2 = Dedup.docSignatures(spark, dir)
    assert(!(s2 eq s1), "invalidate did not evict the signature cache")
    assert(s2.count() == 25, "rebuild did not read the new corpus snapshot")
    assert(Dedup.bandIndex(spark, dir).select("doc_id").distinct().count() <= 25)

    Dedup.invalidate(spark, dir) // idempotent on an already-clean dir
  }

  test("invalidate is dir-scoped: other dirs' staged frames survive") {
    val dirA = tmpDir("graft_stage_a")
    val dirB = tmpDir("graft_stage_b")
    writeDocs(dirA, 10)
    writeDocs(dirB, 12)
    val a = Dedup.docSignatures(spark, dirA)
    val b = Dedup.docSignatures(spark, dirB)
    Dedup.invalidate(spark, dirA)
    assert(Dedup.docSignatures(spark, dirB) eq b, "invalidate(A) evicted B")
    assert(!(Dedup.docSignatures(spark, dirA) eq a))
  }
  test("SessionCache: concurrent nested getOrBuild neither deadlocks nor crashes") {
    import spark.implicits._
    // the computeIfAbsent shape this replaced threw a hash-bin-dependent
    // IllegalStateException("Recursive update") when a build thunk
    // staged its own dependency; the rebuilt cache must serve N racing
    // threads one shared instance per key, dependencies included
    val cache = new graft.Staging.SessionCache()
    val dir = tmpDir("graft_cache_race")
    def inner = cache.getOrBuild(spark, dir, "inner", graft.Staging.Serve.Distributed)(
      spark.range(100).toDF("v").localCheckpoint())
    def outer = cache.getOrBuild(spark, dir, "outer", graft.Staging.Serve.Distributed) {
      inner.select((col("v") * 2).as("v")).localCheckpoint()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 16).map(_ => pool.submit(
        new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
          def call() = outer
        }))
      val results = futs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      // every caller converges on ONE staged instance
      assert(results.forall(_ eq results.head))
      assert(cache.getOrBuild(spark, dir, "inner", graft.Staging.Serve.Distributed)(
        fail("must be cached")) eq inner)
      assert(results.head.agg(sum(col("v"))).head.getLong(0) === 9900)
    } finally pool.shutdownNow()
  }
}
