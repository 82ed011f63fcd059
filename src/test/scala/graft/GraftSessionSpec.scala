package graft

/** Library entry point: pre-configured builder + late registration. */
class GraftSessionSpec extends SparkSpecBase {

  test("Graft.builder pre-wires extensions and UTC timezone") {
    // can't create a second context in-JVM; assert on the builder's
    // effect through a derived session of the (identically-configured)
    // shared one: functions resolve and the rule folds
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sql("SELECT ip4_aton('1.2.3.4')").head().getLong(0) === 16909060L)
    assert(spark.sql("SELECT vec_cos(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .head().getDouble(0) === 1.0)
  }

  test("Graft.builder sizes Spark's codegen cache to graft's working set") {
    // a static conf: the shared session was created through the builder
    assert(spark.conf.get(Graft.CodegenCacheKey) === Graft.CodegenCacheEntries.toString)
  }

  test("Graft.builder wires graft's local filesystem for FileSystem and FileContext") {
    val confs = Graft.StaticConfs.toMap
    assert(confs("spark.hadoop.fs.file.impl") === classOf[graft.fs.GraftLocalFileSystem].getName)
    assert(confs("spark.hadoop.fs.AbstractFileSystem.file.impl") ===
      classOf[graft.fs.GraftLocalFs].getName)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), hadoopConf)
    assert(fs.getClass === classOf[graft.fs.GraftLocalFileSystem])
    assert(fs.asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRaw.getClass ===
      classOf[graft.fs.GraftRawLocalFileSystem])
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new java.net.URI("file:///"), hadoopConf)
    assert(fc.getDefaultFileSystem.getClass === classOf[graft.fs.GraftLocalFs])
  }

  test("Graft.builder keeps a micro-batch's file listing on the driver") {
    // the stream sources take at most MicroBatchMaxFiles files a batch;
    // a batch of more files than the threshold is listed in a Spark job
    assert(spark.conf.get(Graft.ListingThresholdKey) === Graft.MicroBatchMaxFiles.toString)
  }

  test("Graft.builder reads parquet nanosecond timestamps as longs") {
    // declared once for the session: no read sets it at run time
    assert(Graft.RuntimeConfs.toMap.get(Graft.NanosAsLongKey) === Some("true"))
    assert(spark.conf.get(Graft.NanosAsLongKey) === "true")
  }

  test("Graft.session re-applies the listing threshold on a running session") {
    val s2 = spark.newSession()
    s2.conf.set(Graft.ListingThresholdKey, "32")
    s2.conf.set(Graft.NanosAsLongKey, "false")
    org.apache.spark.sql.SparkSession.setActiveSession(s2)
    try {
      val s = Graft.session(tmpDir("graft_ckpt_rt"))
      assert(s eq s2)
      assert(s.conf.get(Graft.ListingThresholdKey) === Graft.MicroBatchMaxFiles.toString)
      assert(s.conf.get(Graft.NanosAsLongKey) === "true")
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }

  test("Graft.session names every static setting a running session lacks") {
    // the suite's session was created through the builder
    assert(Graft.differingStaticConfs(spark.sparkContext.getConf).isEmpty)
    val bare = new org.apache.spark.SparkConf(false).set(Graft.CodegenCacheKey, "100")
    assert(Graft.differingStaticConfs(bare) === Seq(s"${Graft.CodegenCacheKey}=100",
      "spark.hadoop.fs.file.impl=<unset>", "spark.hadoop.fs.AbstractFileSystem.file.impl=<unset>"))
  }

  test("Graft.session wires a reliable checkpoint dir and materialize uses it") {
    import spark.implicits._
    val dir = tmpDir("graft_ckpt")
    // getOrCreate reuses the JVM-shared context; the call's contract is
    // the checkpoint-dir side effect
    val s = Graft.session(dir, _.master("local[4]"))
    assert(s.sparkContext.getCheckpointDir.exists(_.contains(
      java.nio.file.Paths.get(dir).getFileName.toString)))
    // the iterative dedup path must now take df.checkpoint() (durable
    // files under the configured dir), not executor-memory
    // localCheckpoint — the final labels frame stays checkpointed
    val docs = (0L to 4L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (3L, 4L)).toDF("d1", "d2")
    val labels = graft.dedup.Dedup.connectedComponentsTwoPhase(docs, pairs)
    assert(labels.count() === 5)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, s"no reliable checkpoint files written under $dir")
  }

  test("Graft.register exposes functions on a session without extensions") {
    val s2 = spark.newSession() // fresh function registry state
    Graft.register(s2)
    assert(s2.sql("SELECT ip6_ntoa(ip6_aton('2001:0DB8::1'))")
      .head().getString(0) === "2001:db8::1")
    assert(s2.sql("SELECT topk_agg(x, 1) FROM VALUES (1.0D), (3.0D) AS t(x)")
      .head().getSeq[Double](0) === Seq(3.0))
  }

  test("Graft.register leaves the extensions' registry entries untouched") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    def entries = graft.functions.GraftFunctions.all.map { case (name, _) =>
      registry.lookupFunction(FunctionIdentifier(name)).get
    }
    val before = entries
    assert(before.forall(_.getClassName == "graft.functions.GraftFunctions"))
    Graft.register(spark) // as Graft.session does on every call
    Graft.register(spark)
    assert(entries.zip(before).forall { case (a, b) => a eq b })
  }
}
