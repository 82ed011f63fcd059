package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession.Builder pre-configured the way
  * every graft deployment needs — the SQL extensions (native
  * functions, graft's optimizer rules and the scan of its
  * materialized views), a UTC session timezone (flow timestamps are
  * wall-clock; a host-local zone silently shifts every window/date
  * bucket), a codegen cache that holds graft's working set, a local
  * filesystem that forks no process per file written and a
  * file-listing threshold that keeps each micro-batch's listing on
  * the driver. Every graft entry
  * point (Bench, Verify, the specs, the tools) builds its session
  * here.
  *
  * Everything else (master, shuffle partitions, memory) is the
  * caller's: `Graft.builder().master("local[8]").getOrCreate()`.
  */
object Graft {

  /** Spark's JVM-wide cache of compiled generated classes. */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** [[CodegenCacheKey]] sized to graft's working set. Spark's default
    * of 100 entries is below what the query surface cycles through:
    * the 12 flow-dashboard panels alone need 143 distinct generated
    * classes (sf0.01), and an LRU smaller than its working set misses
    * on every lookup. Each miss is a Janino compile plus HotSpot JIT
    * of a brand-new class: about 7.8 compiles per panel in steady
    * state. A cached entry costs about 28 KB of driver heap (measured
    * by invalidating the warm dashboard cache), so 1000 entries bound
    * the cache near 28 MB while leaving room for the rest of the
    * query surface.
    */
  val CodegenCacheEntries = 1000

  /** Settings that bind only when the SparkContext is created, so a
    * session that already runs keeps whatever it was created with:
    * the codegen cache size, and Hadoop's local filesystem for the
    * `FileSystem` and `FileContext` APIs. graft's filesystem classes
    * (`graft.fs`) set permissions and read link status through
    * `java.nio` instead of forking `chmod` and `readlink` for every
    * file written.
    */
  val StaticConfs: Seq[(String, String)] = Seq(
    CodegenCacheKey -> CodegenCacheEntries.toString,
    "spark.hadoop.fs.file.impl" -> classOf[graft.fs.GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.fs.GraftLocalFs].getName)

  /** Most files a graft stream source takes into one micro-batch
    * (`maxFilesPerTrigger` of `NfdumpCsv.readStream` and
    * `FlowSources.jsonlStream`).
    */
  val MicroBatchMaxFiles = 64

  /** Above this many paths, Spark's file index lists them in a Spark
    * job with one task per path instead of on the driver.
    */
  val ListingThresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Reads parquet TIMESTAMP(NANOS) columns as INT64 nanoseconds. */
  val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Settings a running session can change, so [[session]] applies
    * them again to a session it did not create: the UTC time zone,
    * parquet INT64 TIMESTAMP(NANOS) columns read as longs (Spark 4's
    * reader rejects them otherwise; `events.ts` has shipped in that
    * shape, and [[Tables.events]] and the events stream convert it),
    * and a listing threshold of [[MicroBatchMaxFiles]]. The file
    * stream source hands each micro-batch's files, already known from
    * its own directory scan, to a new file index as plain paths; at
    * Spark's default threshold of 32, a batch of 33–64 files is
    * listed a second time by a job of one task per file: a 50-file
    * batch's `getBatch` took 571–702 ms on 4 cores, against 23–34 ms
    * listed on the driver. A directory tree with more entries than
    * the threshold still lists in parallel.
    */
  val RuntimeConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    NanosAsLongKey -> "true",
    ListingThresholdKey -> MicroBatchMaxFiles.toString)

  def builder(): SparkSession.Builder =
    (StaticConfs ++ RuntimeConfs).foldLeft(SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** [[builder]] plus a RELIABLE checkpoint directory: every lineage
    * cut ([[Staging.materialize]]) then goes to durable storage — the
    * 100 TB path, survives executor loss — instead of executor-memory
    * `localCheckpoint()`.
    * Without this entry point the durable path was only reachable by
    * calling `sparkContext.setCheckpointDir` by hand after session
    * creation.
    *
    * `getOrCreate` is called here because the checkpoint dir lives on
    * the SparkContext, not in the builder's config map.
    */
  def session(checkpointDir: String,
      configure: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val spark = configure(builder()).getOrCreate()
    spark.sparkContext.setCheckpointDir(checkpointDir)
    // getOrCreate may have returned a PRE-EXISTING session whose
    // creation never saw the builder's configs: extensions only bind
    // at session creation, so late-register the functions (idempotent).
    // getOrCreate copies the builder's runtime confs onto such a
    // session, but `configure` may have overridden them, so set them
    // here last — otherwise a shared-session caller gets 'undefined
    // function', host-local-zone window buckets that no longer match
    // the oracle, an events read that rejects nanosecond timestamps,
    // or a listing job in every micro-batch of more than 32 files.
    register(spark)
    RuntimeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    // static settings cannot be changed on a running session, so all
    // that can be done is say which ones differ
    val differing = differingStaticConfs(spark.sparkContext.getConf)
    if (differing.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"This already-running session differs from graft's static settings " +
        s"(${differing.mkString(", ")}): generated code may be recompiled once " +
        "the codegen cache cycles, and local files written may fork chmod and " +
        "readlink. Create the session through graft.Graft.builder() to get them.")
    spark
  }

  /** The [[StaticConfs]] that `conf` does not match, as `key=value`. */
  private[graft] def differingStaticConfs(conf: SparkConf): Seq[String] =
    StaticConfs.collect {
      case (k, v) if !conf.getOption(k).contains(v) => s"$k=${conf.getOption(k).getOrElse("<unset>")}"
    }

  /** Register the SQL functions on an EXISTING session (extensions
    * only bind at session creation) — for notebook/shared-session
    * environments where the builder path isn't available.
    */
  def register(spark: SparkSession): Unit =
    graft.functions.GraftFunctions.register(spark)
}
