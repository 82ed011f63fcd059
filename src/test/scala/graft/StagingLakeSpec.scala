package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.Staging.Serve

/** Cross-session persistent staging (the lake layer): a second session
  * must be SERVED a published artifact — zero rebuild — keyed by corpus
  * content fingerprint, with the staged hash partitioning restored.
  */
class StagingLakeSpec extends SparkSpecBase {

  private def writeCorpus(dir: String): Unit =
    spark.range(200).select(col("id"), (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")

  test("second session serves the published artifact with zero rebuilds") {
    val corpus = tmpDir("lake_corpus")
    val lake = tmpDir("lake_root")
    writeCorpus(corpus)

    val cache = new Staging.SessionCache()
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession) = {
      builds += 1
      s.read.parquet(s"$corpus/t.parquet").groupBy("k")
        .agg(count(lit(1)).as("n")).localCheckpoint()
    }

    val s1 = spark.newSession()
    s1.conf.set(Staging.LakeConfKey, lake)
    val a = cache.getOrBuild(s1, corpus, "agg_index", Serve.Distributed)(build(s1))
    assert(builds === 1)
    // same session: in-memory hit, no second build
    cache.getOrBuild(s1, corpus, "agg_index", Serve.Distributed)(build(s1))
    assert(builds === 1)

    // published: the artifact is a complete parquet dir under the lake
    val fp = Staging.corpusFingerprint(s1, corpus)
    val artifact = new java.io.File(s"$lake/build=${Staging.BuildId}/agg_index/fp=$fp/_SUCCESS")
    assert(artifact.exists(), s"expected published artifact at $artifact")

    // a NEW session must be served from the lake: the build thunk is
    // never invoked (the corpus is read zero times)
    val s2 = spark.newSession()
    s2.conf.set(Staging.LakeConfKey, lake)
    val served = cache.getOrBuild(s2, corpus, "agg_index", Serve.Distributed)(build(s2))
    assert(builds === 1, "second session rebuilt instead of reading the lake")
    assert(served.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      === a.collect().map(r => (r.getLong(0), r.getLong(1))).sorted)
  }

  test("a local serve whose collect fails, driver OOM included, is served distributed") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    val artifact = tmpDir("lake_serve_collect")
    spark.range(50).select(col("id"), (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(artifact)
    val path = new org.apache.hadoop.fs.Path(artifact)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val local = Staging.serve(spark, path, Serve.Local).get
    assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation])
    for (failure <- Seq(new OutOfMemoryError("injected"), new IllegalStateException("injected"))) {
      val served = Staging.serve(spark, path, Serve.Local, _ => throw failure)
      assert(served.isDefined, s"$failure dropped the artifact")
      assert(served.get.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        s"$failure: not the distributed serve:\n${served.get.queryExecution.analyzed}")
      assert(rows(served.get) === rows(local))
    }
  }

  /** Publish a 7-row aggregate as `key` from one session and serve it
    * to a fresh one in the declared mode.
    */
  private def servedInNewSession(key: String, serve: Serve): org.apache.spark.sql.DataFrame = {
    val corpus = tmpDir("lake_corpus_mode")
    val lake = tmpDir("lake_root_mode")
    writeCorpus(corpus)
    val cache = new Staging.SessionCache()
    val s1 = spark.newSession()
    s1.conf.set(Staging.LakeConfKey, lake)
    cache.getOrBuild(s1, corpus, key, serve)(
      s1.read.parquet(s"$corpus/t.parquet").groupBy("k").agg(count(lit(1)).as("n"))
        .localCheckpoint())
    val s2 = spark.newSession()
    s2.conf.set(Staging.LakeConfKey, lake)
    cache.getOrBuild(s2, corpus, key, serve)(fail(s"$key was rebuilt, not served"))
  }

  test("a small unkeyed artifact declared Distributed is served as a distributed leaf") {
    import org.apache.spark.sql.execution.LogicalRDD
    val served = servedInNewSession("small_sigs", Serve.Distributed)
    assert(served.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      s"not a distributed leaf:\n${served.queryExecution.analyzed}")
    assert(served.count() === 7)
  }

  test("a Local artifact is served as a LocalRelation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val served = servedInNewSession("small_model", Serve.Local)
    assert(served.queryExecution.analyzed.isInstanceOf[LocalRelation],
      s"not a local serve:\n${served.queryExecution.analyzed}")
    assert(served.count() === 7)
  }

  test("an artifact published under a different build misses and is rebuilt") {
    val corpus = tmpDir("lake_corpus_b")
    val lake = tmpDir("lake_root_b")
    writeCorpus(corpus)
    val cache = new Staging.SessionCache()
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession) = {
      builds += 1
      s.read.parquet(s"$corpus/t.parquet").agg(count(lit(1)).as("n")).localCheckpoint()
    }
    val s1 = spark.newSession()
    s1.conf.set(Staging.LakeConfKey, lake)
    cache.getOrBuild(s1, corpus, "b_idx", Serve.Distributed)(build(s1))
    assert(builds === 1)
    // the same publish, as another build of graft would have left it
    val otherBuild = "00000000000000ff"
    assert(new java.io.File(s"$lake/build=${Staging.BuildId}")
      .renameTo(new java.io.File(s"$lake/build=$otherBuild")))
    val s2 = spark.newSession()
    s2.conf.set(Staging.LakeConfKey, lake)
    val rebuilt = cache.getOrBuild(s2, corpus, "b_idx", Serve.Distributed)(build(s2))
    assert(builds === 2, "served an artifact another build published")
    assert(rebuilt.head().getLong(0) === 200L)
    val fp = Staging.corpusFingerprint(s2, corpus)
    assert(new java.io.File(s"$lake/build=${Staging.BuildId}/b_idx/fp=$fp/_SUCCESS").exists(),
      "the rebuild was not published under this build")
    // the report accounts for both builds' snapshots
    assert(Staging.lakeReport(s2).collect().map(_.getAs[String]("build")).sorted.toSeq
      === Seq(otherBuild, Staging.BuildId).sorted)
  }

  test("after a lake serve, dedup_minhash reads near_sigs and near_pairs from distributed leaves") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.dedup.Dedup
    val lake = tmpDir("lake_root_dedup")
    val s1 = spark.newSession()
    s1.conf.set(Staging.LakeConfKey, lake)
    val built = Dedup.minhash(s1, sf0001).collect().toSeq
    assert(Set("near_sigs", "near_pairs").subsetOf(
      Staging.lakeReport(s1).collect().map(_.getString(0)).toSet))
    val s2 = spark.newSession()
    s2.conf.set(Staging.LakeConfKey, lake)
    try {
      val q = Dedup.minhash(s2, sf0001)
      for ((name, df) <- Seq("near_sigs" -> Dedup.nearSignatures(s2, sf0001),
          "near_pairs" -> Dedup.minhashPairs(s2, sf0001)))
        assert(df.queryExecution.analyzed.isInstanceOf[LogicalRDD],
          s"$name is not served as a distributed leaf:\n${df.queryExecution.analyzed}")
      val leaves = q.queryExecution.optimizedPlan.collectLeaves()
      assert(!leaves.exists(_.isInstanceOf[LocalRelation]),
        s"dedup_minhash reads a local relation:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().toSeq === built)
    } finally {
      Dedup.invalidate(s1, sf0001)
      Dedup.invalidate(s2, sf0001)
    }
  }

  test("lake-served artifact restores the staged hash partitioning") {
    val corpus = tmpDir("lake_corpus_p")
    val lake = tmpDir("lake_root_p")
    writeCorpus(corpus)
    val cache = new Staging.SessionCache()
    def build(s: org.apache.spark.sql.SparkSession) =
      Staging.materializeKeyed(s.read.parquet(s"$corpus/t.parquet").repartition(col("k")))

    val s1 = spark.newSession()
    s1.conf.set(Staging.LakeConfKey, lake)
    cache.getOrBuild(s1, corpus, "edges", Serve.Keyed("k"))(build(s1))

    val s2 = spark.newSession()
    s2.conf.set(Staging.LakeConfKey, lake)
    val served = cache.getOrBuild(s2, corpus, "edges", Serve.Keyed("k"))(build(s2))
    // the leaf advertises hashpartitioning(k): an aggregate on k plans
    // with NO shuffle exchange on top of it
    val agg = served.groupBy("k").agg(count(lit(1)))
    val exchanges = agg.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"lake-served leaf lost its partitioning:\n${agg.queryExecution.executedPlan}")
  }

  test("regenerated corpus moves the fingerprint and misses stale artifacts") {
    val corpus = tmpDir("lake_corpus_fp")
    val lake = tmpDir("lake_root_fp")
    writeCorpus(corpus)
    val cache = new Staging.SessionCache()
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession) = {
      builds += 1
      s.read.parquet(s"$corpus/t.parquet").agg(count(lit(1)).as("n"))
        .localCheckpoint()
    }
    val s1 = spark.newSession()
    s1.conf.set(Staging.LakeConfKey, lake)
    val fp1 = Staging.corpusFingerprint(s1, corpus)
    cache.getOrBuild(s1, corpus, "stats", Serve.Distributed)(build(s1))
    assert(builds === 1)

    // regenerate the corpus in place: content (and file metadata) change
    spark.range(300).select(col("id"), (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(s"$corpus/t.parquet")
    val fp2 = Staging.corpusFingerprint(s1, corpus)
    assert(fp1 !== fp2, "fingerprint must move when the corpus is rewritten")

    // a fresh session must REBUILD (new fingerprint → lake miss), not
    // be served the stale snapshot's artifact
    val s2 = spark.newSession()
    s2.conf.set(Staging.LakeConfKey, lake)
    val served = cache.getOrBuild(s2, corpus, "stats", Serve.Distributed)(build(s2))
    assert(builds === 2)
    assert(served.head().getLong(0) === 300L)
  }

  test("no lake conf: behavior is session-local (build once per session)") {
    val corpus = tmpDir("lake_corpus_n")
    writeCorpus(corpus)
    val cache = new Staging.SessionCache()
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession) = {
      builds += 1
      s.read.parquet(s"$corpus/t.parquet").agg(count(lit(1))).localCheckpoint()
    }
    val s1 = spark.newSession()
    cache.getOrBuild(s1, corpus, "x", Serve.Distributed)(build(s1))
    cache.getOrBuild(s1, corpus, "x", Serve.Distributed)(build(s1))
    assert(builds === 1)
    val s2 = spark.newSession()
    cache.getOrBuild(s2, corpus, "x", Serve.Distributed)(build(s2))
    assert(builds === 2) // no lake → a new session rebuilds
  }

  test("requireDurable fails loud on the no-checkpoint-dir path; a " +
      "checkpoint dir satisfies it") {
    val corpus = tmpDir("lake_corpus_rd")
    writeCorpus(corpus)
    val cache = new Staging.SessionCache()
    def build(s: org.apache.spark.sql.SparkSession) =
      s.read.parquet(s"$corpus/t.parquet").agg(count(lit(1)).as("n"))
        .localCheckpoint()

    val s1 = spark.newSession()
    s1.conf.set(Staging.RequireDurableConfKey, "true")
    // the checkpoint dir is CONTEXT-global and other suites may have
    // set one — save it, run both branches against a controlled
    // state, restore at the end
    val prevDir = s1.sparkContext.getCheckpointDir
    try {
      s1.sparkContext.setCheckpointDir(null)
      val e = intercept[IllegalStateException] {
        cache.getOrBuild(s1, corpus, "must_be_durable", Serve.Distributed)(build(s1))
      }
      assert(e.getMessage.contains(Staging.RequireDurableConfKey))
      assert(e.getMessage.contains("must_be_durable"))

      // with a reliable checkpoint dir the same request is served
      s1.sparkContext.setCheckpointDir(tmpDir("lake_ckpt_rd"))
      val a = cache.getOrBuild(s1, corpus, "must_be_durable", Serve.Distributed)(build(s1))
      assert(a.head().getLong(0) === 200L)
    } finally prevDir match {
      case Some(d) => s1.sparkContext.setCheckpointDir(d)
      case None => s1.sparkContext.setCheckpointDir(null)
    }
  }

  test("qclf_weights staged in a durable session is a reliable checkpoint") {
    import graft.text.TextAnalytics
    val s = spark.newSession()
    s.conf.set(Staging.RequireDurableConfKey, "true")
    val prevDir = s.sparkContext.getCheckpointDir
    try {
      s.sparkContext.setCheckpointDir(tmpDir("qclf_ckpt"))
      val w = TextAnalytics.clfWeights(s, sf0001)
      assert(Staging.backingRdd(w).exists(_.getCheckpointFile.isDefined),
        s"staged weights hold no checkpoint file:\n${w.queryExecution.analyzed}")
      TextAnalytics.invalidate(s, sf0001)
    } finally prevDir match {
      case Some(d) => s.sparkContext.setCheckpointDir(d)
      case None => s.sparkContext.setCheckpointDir(null)
    }
  }

  test("lost localCheckpoint entry: consuming fails; invalidate + " +
      "getOrBuild is the recovery path") {
    val corpus = tmpDir("lake_corpus_loss")
    writeCorpus(corpus)
    val cache = new Staging.SessionCache()
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession) = {
      builds += 1
      s.read.parquet(s"$corpus/t.parquet").agg(count(lit(1)).as("n"))
        .localCheckpoint()
    }
    val s1 = spark.newSession()
    val a = cache.getOrBuild(s1, corpus, "volatile", Serve.Distributed)(build(s1))
    assert(builds === 1 && a.head().getLong(0) === 200L)

    // simulate executor loss: the entry's memory-only blocks vanish.
    // The truncated-lineage frame is now unrecoverable — exactly the
    // hazard RequireDurableConfKey exists to refuse up front.
    Staging.backingRdd(a).get.unpersist(blocking = true)
    intercept[Exception] { a.count() }

    // recovery contract: invalidate drops the dead entry, the next
    // getOrBuild rebuilds from source
    cache.invalidate(s1, corpus)
    val b = cache.getOrBuild(s1, corpus, "volatile", Serve.Distributed)(build(s1))
    assert(builds === 2)
    assert(b.head().getLong(0) === 200L)
  }

  test("pruneLake removes artifacts older than the cutoff") {
    val corpus = tmpDir("lake_corpus_pr")
    val lake = tmpDir("lake_root_pr")
    writeCorpus(corpus)
    val cache = new Staging.SessionCache()
    val s1 = spark.newSession()
    s1.conf.set(Staging.LakeConfKey, lake)
    cache.getOrBuild(s1, corpus, "old_idx", Serve.Distributed)(
      s1.read.parquet(s"$corpus/t.parquet").limit(5).localCheckpoint())
    // a snapshot in the layout before build ids
    s1.range(3).write.parquet(s"$lake/v1/old_idx/fp=00000000000000aa")
    // everything is younger than 1h → nothing pruned
    assert(Staging.pruneLake(s1, 3600 * 1000L) === 0)
    // cutoff in the future → both snapshots are "old" and go
    assert(Staging.pruneLake(s1, -1000L) === 2)
    for (b <- Seq(s"build=${Staging.BuildId}", "v1")) {
      val keyDir = new java.io.File(s"$lake/$b/old_idx")
      assert(!keyDir.exists() || keyDir.list().isEmpty)
    }
  }

  test("retention keeps the newest N fingerprints per key; report accounts for all") {
    val corpus = tmpDir("lake_corpus_rt")
    val lake = tmpDir("lake_root_rt")
    writeCorpus(corpus)
    val cache = new Staging.SessionCache()
    val s1 = spark.newSession()
    s1.conf.set(Staging.LakeConfKey, lake)
    cache.getOrBuild(s1, corpus, "ret_idx", Serve.Distributed)(
      s1.read.parquet(s"$corpus/t.parquet").limit(5).localCheckpoint())
    val liveFp = Staging.corpusFingerprint(s1, corpus)
    // two older snapshots of the same key (yesterday's corpus
    // fingerprints), plus an in-flight publish temp that retention
    // must never touch
    Seq("00000000000000aa" -> 48 * 3600 * 1000L,
        "00000000000000bb" -> 24 * 3600 * 1000L).foreach { case (fp, age) =>
      val p = s"$lake/build=${Staging.BuildId}/ret_idx/fp=$fp"
      s1.range(3).write.mode("overwrite").parquet(p)
      new java.io.File(p).setLastModified(System.currentTimeMillis() - age)
    }
    val tmp = new java.io.File(s"$lake/build=${Staging.BuildId}/ret_idx/.tmp-fp=cc-inflight")
    tmp.mkdirs()
    // the report sees every snapshot, none of them the temp
    val rep = Staging.lakeReport(s1).collect()
    assert(rep.map(_.getString(1)).sorted.toSeq ===
      Seq("00000000000000aa", "00000000000000bb", liveFp).sorted)
    assert(rep.forall(_.getBoolean(5)), "published snapshots must be complete")
    assert(rep.forall(r => r.getLong(2) > 0 && r.getLong(3) > 0L))
    // keep the newest 1 → the two aged snapshots go, the live one and
    // the in-flight temp stay
    assert(Staging.retainNewestFingerprints(s1, keep = 1) === 2)
    assert(new java.io.File(s"$lake/build=${Staging.BuildId}/ret_idx/fp=$liveFp").exists())
    assert(tmp.exists(), "retention deleted an in-flight publish temp")
    assert(Staging.lakeReport(s1).collect().map(_.getString(1)).toSeq
      === Seq(liveFp))
    // idempotent at the floor
    assert(Staging.retainNewestFingerprints(s1, keep = 1) === 0)
    intercept[IllegalArgumentException] {
      Staging.retainNewestFingerprints(s1, keep = 0)
    }
  }

  test("eviction never breaks an in-flight serve; the next miss rebuilds") {
    val corpus = tmpDir("lake_corpus_ev")
    val lake = tmpDir("lake_root_ev")
    writeCorpus(corpus)
    val cache = new Staging.SessionCache()
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession) = {
      builds += 1
      s.read.parquet(s"$corpus/t.parquet").groupBy(col("k"))
        .agg(count(lit(1)).as("n")).localCheckpoint()
    }
    val s1 = spark.newSession()
    s1.conf.set(Staging.LakeConfKey, lake)
    cache.getOrBuild(s1, corpus, "ev_idx", Serve.Distributed)(build(s1))
    assert(builds === 1)
    // a SECOND session is served from the lake (no rebuild) — this is
    // the in-flight consumer eviction must not break
    val s2 = spark.newSession()
    s2.conf.set(Staging.LakeConfKey, lake)
    val served = cache.getOrBuild(s2, corpus, "ev_idx", Serve.Distributed)(build(s2))
    assert(builds === 1)
    // evict EVERYTHING from the lake while s2 still holds the serve
    assert(Staging.pruneLake(s1, -1000L) >= 1)
    // the served frame was materialized at read time: its blocks are
    // session-held, so the delete is invisible to the consumer...
    assert(served.collect().map(r => (r.getLong(0), r.getLong(1))).length === 7)
    // ...and the same session's cache entry still hits in memory
    cache.getOrBuild(s2, corpus, "ev_idx", Serve.Distributed)(build(s2))
    assert(builds === 1)
    // a THIRD session misses cleanly: rebuild from source + republish
    val s3 = spark.newSession()
    s3.conf.set(Staging.LakeConfKey, lake)
    cache.getOrBuild(s3, corpus, "ev_idx", Serve.Distributed)(build(s3))
    assert(builds === 2, "post-eviction miss did not rebuild")
    val fp = Staging.corpusFingerprint(s3, corpus)
    assert(new java.io.File(s"$lake/build=${Staging.BuildId}/ev_idx/fp=$fp/_SUCCESS").exists(),
      "rebuild did not republish")
  }

  test("freshStatsLeaf keeps rows and partitioning but resets inherited stats") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.Bridge
    // a joined-then-checkpointed frame inherits the join's multiplied
    // sizeInBytes as originStats — the compounding input of the
    // iterative-loop planner blowup
    val a = spark.range(200).select($"id".as("k"), ($"id" * 2).as("v"))
    val joined = a.join(a.select($"k", $"v".as("w")), "k").repartition($"k")
    val ck = Staging.materializeKeyed(joined)
    val fresh = Bridge.freshStatsLeaf(ck)
    // rows identical
    assert(fresh.collect().map(_.toSeq).toSet === ck.collect().map(_.toSeq).toSet)
    // the hash(k) partitioning advertisement survives (the property
    // the staged-graph loops rely on to avoid per-round exchanges)
    val leaf = fresh.queryExecution.optimizedPlan
      .collectFirst { case lr: org.apache.spark.sql.execution.LogicalRDD => lr }
    assert(leaf.nonEmpty, "fresh frame is not a LogicalRDD leaf")
    assert(leaf.get.outputPartitioning.toString.contains("hashpartitioning"),
      s"partitioning lost: ${leaf.get.outputPartitioning}")
    // stats reset to the size-independent default leaf estimate —
    // NOT the origin plan's (data-derived, loop-compounding) figure
    val inherited = ck.queryExecution.optimizedPlan.stats.sizeInBytes
    val reset = fresh.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(reset !== inherited,
      s"freshStatsLeaf kept the inherited stats ($inherited)")
    assert(reset === BigInt(spark.sessionState.conf.defaultSizeInBytes),
      s"expected defaultSizeInBytes, got $reset")
    // non-leaf frames pass through untouched
    val plain = a.where($"k" > 10)
    assert(Bridge.freshStatsLeaf(plain) eq plain)
  }
}
