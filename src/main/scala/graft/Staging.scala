package graft

import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one home of graft's staging policy: where a lineage cut runs
  * ([[Staging.materialize]], [[Staging.materializeKeyed]]), the
  * round-staging cadence of the iterative operators, and the
  * session/lake cache of persisted artifacts ([[Staging.SessionCache]]).
  *
  * The cadence, measured in round 7 and encoded once here so five
  * hand-expanded copies can't drift: iterative state is checkpointed
  * every SECOND round — an intermediate round is consumed exactly once
  * by the next round, so a two-round lazy segment recomputes nothing
  * while the staging still cuts lineage before the plan can compound
  * (the FULL lazy recurrence blows up analysis/AQE bookkeeping and,
  * where a step is multi-referenced, doubles work per round).
  */
object Staging {

  /** True at rounds where the state must be materialized.
    *
    * `stageFinal` says whether the final round's table is
    * MULTI-consumed downstream (trained centroids/codebooks feed
    * every encoder; a PCA eigenvector feeds rayleigh + deflation +
    * output) and so must be staged — or flows single-consumed into
    * the output query (PageRank's last ranks) and stays lazy.
    */
  def stagePoint(round: Int, iters: Int, stageFinal: Boolean): Boolean =
    if (round == iters) stageFinal else round % 2 == 0

  /** Run `f` (a checkpoint/localCheckpoint action) with AQE disabled
    * on this session, restoring the previous setting after.
    *
    * Why: `Dataset.checkpoint` records the executed plan's
    * outputPartitioning on the staged [[org.apache.spark.sql.execution.LogicalRDD]]
    * leaf — but under AQE the adaptive root advertises
    * `UnknownPartitioning`, so every staged frame re-enters downstream
    * plans partition-less and each iterative round pays an Exchange on
    * state that is ALREADY hash-partitioned on the join key (measured:
    * one avoidable node-table Exchange per PageRank/HITS round). With
    * AQE off for just the staging action the leaf advertises
    * `hashpartitioning(k, n)`, which consumer plans (AQE on or off)
    * satisfy exchange-free. Trade-off: the staging job itself loses
    * AQE coalescing/skew handling — acceptable for round-state tables,
    * whose deterministic partition count is exactly what exchange-free
    * reuse across rounds requires.
    *
    * Session-conf mutation is not concurrency-safe across queries
    * sharing the session; graft's query entry points run sequentially
    * (Bench/Verify/driver contract). Callers reach it only through
    * [[materializeKeyed]].
    */
  private def preservePartitioning[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, prev)
  }

  /** The lineage cut every staging site uses: a reliable checkpoint
    * when the context has a checkpoint dir (durable storage, survives
    * executor loss — the cluster path), else an executor-memory
    * `localCheckpoint`. Either way the frame becomes a
    * [[org.apache.spark.sql.execution.LogicalRDD]] leaf that every
    * consumer reads as data instead of re-deriving its sub-DAG.
    */
  private[graft] def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** [[materialize]] for a frame already hash-partitioned on the key
    * its consumers join or group on (round state, walk edge and node
    * tables): the cut runs with AQE held off, so the leaf advertises
    * that partitioning and later rounds reuse it exchange-free.
    */
  private[graft] def materializeKeyed(df: DataFrame): DataFrame =
    preservePartitioning(df.sparkSession)(materialize(df))

  /** Conditional narrow-scan spread for CPU-bound map chains (PQ
    * encode/ADC folds, PNG codec, per-token hashing, char-gram
    * kernels): a one-file scan — the shape every small-SF bench run
    * sees — arrives as ONE partition and serializes the whole chain
    * onto a single task (measured 3.8 s task = 3.8 s wall on 32
    * cores). CONDITIONAL on purpose: when the scan already carries at
    * least half the session's parallelism (any real cluster read),
    * this is a no-op — the family's "the corpus never shuffles for
    * encoding" contracts hold at scale, and the balancing shuffle
    * only ever moves a sub-core-count row set.
    */
  def spreadNarrow(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (estimatedScanPartitions(df) >= p / 2) df else df.repartition(p)
  }

  /** Scan-width estimate for [[spreadNarrow]]'s conditional, WITHOUT
    * `df.rdd` — which would eagerly run full physical planning (and
    * read only the pre-AQE count) at DataFrame-construction time for
    * every call site. The spread inputs are narrow chains over one
    * leaf, so the leaf IS the parallelism: a staged [[org.apache.spark.sql.execution.LogicalRDD]]
    * carries its exact partition count for free, and a file scan's
    * split count is `ceil((bytes + files·openCost) / maxPartitionBytes)`
    * — Spark packs small files to ~maxPartitionBytes per split, so the
    * size-based figure tracks the planner's within the factor-of-2
    * slack the `≥ p/2` test already tolerates. Anything unrecognized
    * (a join, an in-memory relation) is treated as already-wide: the
    * contract at scale is "never an unnecessary shuffle", so the
    * estimate must only ever skip a spread, not invent one.
    */
  private def estimatedScanPartitions(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sessionState.conf
    val maxB = math.max(1L, conf.filesMaxPartitionBytes)
    val openCost = conf.filesOpenCostInBytes
    val leaves = df.queryExecution.analyzed.collectLeaves()
    leaves match {
      case Seq(lr: LogicalRDD) => lr.rdd.getNumPartitions.toLong
      case Seq(rel: LogicalRelation) => rel.relation match {
        case fs: HadoopFsRelation =>
          val files = fs.location.inputFiles.length.toLong
          val bytes = fs.location.sizeInBytes
          val total = bytes + files * openCost
          // mirror Spark's FilePartition.maxSplitBytes: small scans
          // split at bytesPerCore (floored at openCost), not at
          // maxPartitionBytes — without this term the estimate
          // UNDERCOUNTS small scans and spreads an already-wide read
          val parallelism = math.max(1L,
            df.sparkSession.sparkContext.defaultParallelism.toLong)
          val split = math.max(1L, math.min(maxB,
            math.max(openCost, total / parallelism)))
          (total + split - 1) / split
        case _ => Long.MaxValue
      }
      case _ => Long.MaxValue
    }
  }

  /** Identity of the build that publishes an artifact: 16 hex chars
    * over the contents of graft's code source (the jar, or the classes
    * dir, holding `graft.Staging`), computed once per JVM. The lake
    * path carries it, so an artifact published by any other build
    * misses and is rebuilt: a builder whose logic changes without a
    * schema change is never served its old output.
    */
  private[graft] lazy val BuildId: String = {
    val src = new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(add)
      else {
        md.update(src.toPath.relativize(f.toPath).toString.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    add(src)
    hex16(md)
  }

  private def hex16(md: java.security.MessageDigest): String =
    md.digest().take(8).map(b => f"$b%02x").mkString

  /** Session conf key for the cross-session artifact lake root. When
    * set, [[SessionCache.getOrBuild]] keys every staged artifact by a
    * CONTENT fingerprint of its corpus dir and by the build that made
    * it ([[BuildId]]), and persists it as parquet
    * under the root — so a new session (or a separate 1000-executor
    * job) reads the published index/model/edge table instead of
    * rebuilding it, and a regenerated corpus automatically misses the
    * stale artifact instead of being served it.
    */
  val LakeConfKey = "spark.graft.stagingLake"

  /** The one SPARK_GRAFT_LAKE env → [[LakeConfKey]] mapping, shared by
    * Bench/Verify/DevTimer: `"off"` disables the lake (empty conf
    * value, which [[SessionCache]] treats as unset), any other value
    * is the lake root verbatim, and unset falls back to `default`.
    * Factored here so no entry point can misread `off` as a literal
    * `./off` lake directory.
    */
  def lakeRootFromEnv(default: String): String =
    sys.env.get("SPARK_GRAFT_LAKE") match {
      case Some("off") => ""
      case Some(p)     => p
      case None        => default
    }

  /** Session conf key: when `"true"`, [[SessionCache.getOrBuild]]
    * FAILS LOUDLY instead of staging a session-lifetime artifact via
    * `localCheckpoint` with no reliable checkpoint dir configured. On
    * that path an entry's lineage is truncated and its blocks live
    * only in executor memory — a later executor loss makes the entry
    * unrecoverable for the rest of the session (the lake layer does
    * not help mid-session: the served entry's blocks are just as
    * memory-resident; recovery requires an explicit
    * [[SessionCache.invalidate]] + rebuild). Production sessions that
    * require durable session-lifetime artifacts set this together
    * with a checkpoint dir (`graft.Graft.session(ckptDir, ...)`);
    * dev/bench sessions leave it unset and accept the
    * rebuild-on-loss posture.
    */
  val RequireDurableConfKey = "spark.graft.staging.requireDurable"

  /** Content fingerprint of a corpus snapshot: 16 hex chars over the
    * sorted (relative path, length, mtime) of every data file under
    * `dir`. Metadata-only — one driver-side recursive listing, no data
    * scan — which is exactly the granularity ingest pipelines change:
    * a rewritten/compacted/appended corpus gets new files or new
    * mtimes, so the fingerprint moves and stale artifacts miss.
    */
  def corpusFingerprint(spark: SparkSession, dir: String): String = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    // listStatus, not listFiles: listFiles wraps every status in a
    // LocatedFileStatus, whose constructor reads the file's permissions
    // — a forked `ls -ld` per file on Hadoop's local filesystem
    def walk(p: Path): Unit = fs.listStatus(p).foreach { f =>
      if (f.isDirectory) walk(f.getPath)
      else {
        val name = f.getPath.toString.stripPrefix(root.toString)
        // _SUCCESS / .crc markers churn without content meaning
        if (!name.endsWith("_SUCCESS") && !name.endsWith(".crc"))
          entries += s"$name|${f.getLen}|${f.getModificationTime}"
      }
    }
    walk(root)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    hex16(md)
  }

  private def lakeRootOf(spark: SparkSession): Option[String] =
    spark.conf.getOption(LakeConfKey).filter(_.nonEmpty)

  private def artifactPath(lakeRoot: String, key: String, fp: String): Path =
    new Path(lakeRoot,
      s"build=$BuildId/${key.replaceAll("[^A-Za-z0-9._-]", "_")}/fp=$fp")

  /** Publish a built artifact: write to a temp sibling, then one
    * atomic rename into place — a concurrent publisher loses the
    * rename and deletes its temp; readers only ever see complete
    * directories. Best-effort by contract: a full lake must degrade
    * to session-local staging, never fail the query.
    */
  private def publish(df: DataFrame, dest: Path): Unit = {
    val fs = dest.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val tmp = new Path(dest.getParent,
      s".tmp-${dest.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      df.write.mode("overwrite").parquet(tmp.toString)
      if (!fs.rename(tmp, dest)) fs.delete(tmp, true) // lost the race
    } catch {
      case e: Exception =>
        try fs.delete(tmp, true) catch { case _: Exception => () }
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"staging-lake publish failed for $dest: ${e.getMessage}")
    }
  }

  /** How a staged artifact is served from the lake, declared where it
    * is staged. The rule: a trained model is [[Serve.Local]], a table
    * derived from the corpus is [[Serve.Distributed]], and a walk leaf
    * that an iterative consumer joins on its key every round is
    * [[Serve.Keyed]] on that key.
    */
  sealed trait Serve
  object Serve {
    /** Collected once and served as a LocalRelation: centroids,
      * codebooks, PCA bases, classifier weights — what a production
      * job ships broadcast anyway. A LocalTableScan broadcasts without
      * a job, so a local serve saves the checkpoint job and every
      * downstream BroadcastExchange build job.
      */
    case object Local extends Serve
    /** Served as a materialized distributed leaf: signature and pair
      * tables, label and score tables — rows a consumer scans and
      * joins in parallel.
      */
    case object Distributed extends Serve
    /** Served distributed and hash-partitioned on `cols`: a parquet
      * scan loses the build's partitioning, and the PageRank/HITS/LPA
      * rounds are exchange-free only against a leaf keyed on their
      * join column, so one shuffle here buys zero per round.
      */
    final case class Keyed(cols: String*) extends Serve
  }

  /** Serve a published artifact in its declared mode, lineage-cut so
    * every consumer reads the materialized leaf instead of re-scanning
    * the lake. A [[Serve.Local]] artifact is brought to the driver by
    * `collect`; if that fails the artifact is served distributed.
    */
  private[graft] def serve(spark: SparkSession, path: Path, mode: Serve,
      collect: DataFrame => java.util.List[Row] = _.collectAsList()): Option[DataFrame] = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      if (!fs.exists(new Path(path, "_SUCCESS"))) None
      else {
        val raw = spark.read.parquet(path.toString)
        // decoded rows can be many times the encoded bytes: a failed
        // collect, driver OOM included, falls through to the
        // distributed serve
        val local =
          if (mode != Serve.Local) None
          else try Some(spark.createDataFrame(collect(raw), raw.schema))
          catch {
            case e @ (NonFatal(_) | _: OutOfMemoryError) =>
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"staging-lake local serve failed for $path (serving distributed): $e")
              None
          }
        local.orElse(Some(mode match {
          case Serve.Keyed(cols @ _*) => materializeKeyed(raw.repartition(cols.map(raw.col): _*))
          case _ => materialize(raw)
        }))
      }
    } catch {
      case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"staging-lake read failed for $path (rebuilding): ${e.getMessage}")
        None
    }
  }

  /** Every artifact key dir under the lake root, across builds (and
    * the `v1/` dir of the layout before build ids, so the TTL reaps it).
    */
  private def lakeKeyDirs(spark: SparkSession): Seq[(FileSystem, FileStatus)] =
    lakeRootOf(spark).toSeq.flatMap { root =>
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(rootPath)) Nil
      else for {
        build <- fs.listStatus(rootPath).toSeq if build.isDirectory
        keyDir <- fs.listStatus(build.getPath).toSeq if keyDir.isDirectory
      } yield (fs, keyDir)
    }

  /** The published snapshots of one key: in-flight publishes (`.tmp-*`
    * dirs) are not snapshots.
    */
  private def snapshots(fs: FileSystem, keyDir: FileStatus): Seq[FileStatus] =
    fs.listStatus(keyDir.getPath).toSeq
      .filter(d => d.isDirectory && !d.getPath.getName.startsWith(".tmp-"))

  /** Delete artifacts not modified in the last `olderThanMs` under
    * the lake root, under every build. Age-based (not
    * current-fingerprint-based) on purpose: one lake serves MANY
    * corpus dirs and builds, and any fingerprint other than "this
    * dir's current one" may be another live corpus's.
    */
  def pruneLake(spark: SparkSession, olderThanMs: Long): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    lakeKeyDirs(spark).map { case (fs, keyDir) =>
      val old = fs.listStatus(keyDir.getPath).filter(_.getModificationTime < cutoff)
      old.foreach(d => fs.delete(d.getPath, true))
      old.length
    }.sum
  }

  /** Snapshot retention, the companion policy to [[pruneLake]]'s TTL:
    * keep only the newest `keep` fingerprint snapshots of every
    * artifact key of every build (by publish mtime) and delete the
    * rest; returns the number of snapshot dirs deleted. At a daily
    * ingest cadence every corpus rewrite publishes a fresh fingerprint
    * per artifact, so an unretained lake grows by one full artifact set
    * per snapshot forever. In-flight publishes are never touched —
    * their publisher renames or deletes them; a crashed publisher's
    * leftover is reaped by [[pruneLake]]'s TTL, as are the artifacts
    * of a build no longer run.
    *
    * Safe against in-flight serves BY CONSTRUCTION: [[serve]]
    * materializes the artifact into session-held blocks at read time,
    * so deleting its backing files affects only future cache misses —
    * which rebuild from source and republish (spec-pinned).
    */
  def retainNewestFingerprints(spark: SparkSession, keep: Int): Int = {
    require(keep >= 1, s"retention must keep at least 1 snapshot, got $keep")
    lakeKeyDirs(spark).map { case (fs, keyDir) =>
      val stale = snapshots(fs, keyDir)
        .sortBy(d => (-d.getModificationTime, d.getPath.getName)).drop(keep)
      stale.foreach(d => fs.delete(d.getPath, true))
      stale.length
    }.sum
  }

  /** Accounting face of the lake: one row per published artifact
    * snapshot — key, corpus fingerprint, data-file count, bytes,
    * publish mtime, whether the snapshot is complete (`_SUCCESS`
    * present; an incomplete one is a lost-race leftover the TTL will
    * reap) and the build that published it. Driver-side metadata
    * listing only, the same cost class as [[corpusFingerprint]] — no
    * data scan. This is what a retention policy is tuned against:
    * `groupBy(artifact_key)` gives per-key snapshot counts and byte
    * growth per corpus snapshot.
    */
  def lakeReport(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = lakeKeyDirs(spark).flatMap { case (fs, keyDir) =>
      snapshots(fs, keyDir).map { fpDir =>
        val files = fs.listStatus(fpDir.getPath).filter(_.isFile)
        val dataFiles = files.filter(f =>
          f.getPath.getName != "_SUCCESS" && !f.getPath.getName.endsWith(".crc"))
        (keyDir.getPath.getName,
          fpDir.getPath.getName.stripPrefix("fp="),
          dataFiles.length.toLong,
          dataFiles.map(_.getLen).sum,
          fpDir.getModificationTime,
          files.exists(_.getPath.getName == "_SUCCESS"),
          keyDir.getPath.getParent.getName.stripPrefix("build="))
      }
    }
    rows.toDF("artifact_key", "fingerprint", "n_files", "bytes",
        "modified_ms", "complete", "build")
      .orderBy($"artifact_key", $"fingerprint")
  }

  private[graft] def backingRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Free a materialized intermediate — cached blocks AND, for
    * reliable checkpoints, the files on durable storage (Spark's
    * cleaner only removes those with
    * `spark.cleaner.referenceTracking.cleanCheckpoints`, off by
    * default — leaving them would leak a full table copy per run on
    * the cluster path).
    */
  private[graft] def release(dfs: DataFrame*): Unit =
    dfs.foreach { df =>
      backingRdd(df).foreach { rdd =>
        // blocking: concurrent block removal contends with the next
        // query's materialization writes (measured as multi-second
        // stalls migrating between the dedup pipelines)
        rdd.unpersist(blocking = true)
        rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
      }
    }

  /** Session-shared staging for intermediates that are PERSISTED
    * TABLES in production — signature/band indexes, trained
    * centroids/codebooks, cluster-label tables: written once per
    * corpus snapshot and read by every downstream consumer, never
    * re-derived per query or per ingest batch. Entries are built at
    * most once per (session, input dir, key) and held as materialized
    * leaves for the session's lifetime (all are orders of magnitude
    * under the corpus itself).
    *
    * Lifecycle: the in-memory cache key is the PATH, not a content
    * snapshot — callers that rewrite a corpus dir mid-session must
    * [[invalidate]] or be served the stale artifact (with the lake
    * layer enabled, a NEW session is immune: artifacts are keyed by
    * [[Staging.corpusFingerprint]] and [[Staging.BuildId]]). A session-end listener evicts a
    * stopping session's entries so the map never pins stopped
    * `SparkSession`s or their checkpoint files for the JVM's lifetime.
    *
    * Cross-session layer: with [[Staging.LakeConfKey]] set, a cache
    * miss first tries the published artifact for this corpus
    * fingerprint (zero build jobs — the 100 TB shape, where the
    * signature index / trained codebooks / graph edge tables are
    * BUILT once per corpus snapshot and READ by every later job), and
    * a build publishes its result for the next session. Each call
    * site declares how its artifact is served ([[Staging.Serve]]).
    *
    * Durability: on the localCheckpoint path (no checkpoint dir set) a
    * staged entry's lineage is truncated and its blocks live only in
    * executor memory — a later executor loss makes that entry
    * unrecoverable for the rest of the session (recovery = [[invalidate]]
    * + rebuild/re-serve). Production sessions holding session-lifetime
    * artifacts should set a reliable checkpoint dir
    * (`graft.Graft.session(ckptDir, ...)`), which [[Staging.materialize]]
    * switches to automatically — and can ENFORCE that
    * posture with [[Staging.RequireDurableConfKey]], which makes
    * [[getOrBuild]] fail loudly rather than stage memory-only entries.
    */
  private[graft] final class SessionCache extends SessionScoped {
    private val entries =
      new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

    /** Build-at-most-once. NOT `computeIfAbsent`: a build thunk may
      * itself stage a dependency (band_index → doc_sigs), and the JDK
      * forbids map mutation from inside a mapping function
      * (hash-bin-dependent "Recursive update" IllegalStateException);
      * a materializing build is also a full Spark job, far too long to
      * run under a bin lock. Double-checked get → build outside any
      * lock → `putIfAbsent`: a concurrent first caller may rarely
      * build twice, and the loser's copy is released — a bounded
      * duplicate job instead of an unbounded lock hold or a flaky
      * crash.
      */
    def getOrBuild(spark: SparkSession, dir: String, key: String, serve: Serve)(
        build: => DataFrame): DataFrame = {
      val k = (spark, dir, key)
      val cached = entries.get(k)
      if (cached != null) cached
      else {
        // durability gate (see [[Staging.RequireDurableConfKey]]): a
        // session that declares it needs durable staged artifacts must
        // not silently get memory-only localCheckpoint entries
        if (spark.conf.get(RequireDurableConfKey, "false").toBoolean &&
            spark.sparkContext.getCheckpointDir.isEmpty)
          throw new IllegalStateException(
            s"$RequireDurableConfKey=true but no reliable checkpoint dir is " +
            s"set: staged artifact '$key' would live only in executor memory " +
            "(localCheckpoint) and an executor loss would make it " +
            "unrecoverable for the session. Set a checkpoint dir " +
            "(graft.Graft.session(ckptDir, ...)) or unset the conf.")
        installCleanup(spark)
        // Cross-session layer (when spark.graft.stagingLake is set):
        // serve the published artifact for this corpus SNAPSHOT —
        // fingerprint-keyed, so a regenerated corpus misses instead
        // of being served stale — and publish on a build so the NEXT
        // session (or cluster job) reads instead of rebuilding.
        val lake = lakeRootOf(spark).map(root =>
          artifactPath(root, key, corpusFingerprint(spark, dir)))
        val entry = lake.flatMap(Staging.serve(spark, _, serve)).getOrElse {
          val built = build
          lake.foreach(publish(built, _))
          built
        }
        val prev = entries.putIfAbsent(k, entry)
        if (prev != null) { release(entry); prev } else entry
      }
    }

    /** Drop every entry for `(spark, dir)` and free its blocks /
      * checkpoint files.
      */
    def invalidate(spark: SparkSession, dir: String): Unit = {
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == spark && e.getKey._2 == dir) {
          it.remove()
          release(e.getValue)
        }
      }
    }

    /** Block release at session end is best-effort — executors are
      * going away with the app; reliable-checkpoint FILES are what
      * must not leak, and deleting those is a driver-side FS call.
      */
    protected def drop(spark: SparkSession): Unit = {
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == spark) {
          it.remove()
          try release(e.getValue)
          catch { case _: Exception => () } // context already down
        }
      }
    }
  }

  /** The session-end half of every session-keyed map: the first time a
    * map sees a session it installs one listener that calls [[drop]]
    * when the session's application ends, so no map pins a stopped
    * `SparkSession` (or what it holds) for the JVM's lifetime.
    */
  private[graft] abstract class SessionScoped {
    private val cleanupInstalled =
      java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

    /** Evict everything held for `spark`; runs on the listener bus. */
    protected def drop(spark: SparkSession): Unit

    protected final def installCleanup(spark: SparkSession): Unit =
      if (cleanupInstalled.add(spark)) {
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
              cleanupInstalled.remove(spark)
              drop(spark)
            }
          })
      }
  }

  /** Per-session memo of a value resolved from one table snapshot:
    * for each (session, path) it holds the value resolved at the
    * path's current [[corpusFingerprint]]. Every lookup re-lists the
    * path (metadata only, no data read); a moved fingerprint resolves
    * again and replaces the stale entry, so a rewritten table is never
    * served from the old snapshot. A path that does not exist is not
    * memoized: `resolve` runs and reports it.
    *
    * The memo owns what it holds: `release` runs on every value it
    * drops — the entry of a snapshot whose fingerprint moved, every
    * entry of a session that ended, and the loser of two concurrent
    * first resolves (`putIfAbsent`/`replace`, as in
    * [[SessionCache.getOrBuild]]; the loser then reads the winner's
    * entry). A value may hold data (a cached relation's blocks); a
    * caller still running on an instance of a released value recomputes
    * it from its source, as after any uncache.
    */
  private[graft] final class SnapshotMemo[V](release: V => Unit = (_: V) => ())
      extends SessionScoped {
    /** Compared by reference in `replace`, never by value. */
    private final class Entry(val fingerprint: String, val value: V)
    private val entries =
      new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Entry]()

    @annotation.tailrec
    def apply(spark: SparkSession, path: String)(resolve: => V): V = {
      val fp =
        try Some(corpusFingerprint(spark, path))
        catch { case _: java.io.FileNotFoundException => None }
      fp match {
        case None => resolve
        case Some(f) =>
          val k = (spark, path)
          val hit = entries.get(k)
          if (hit != null && hit.fingerprint == f) hit.value
          else {
            installCleanup(spark)
            val mine = new Entry(f, resolve)
            val won =
              if (hit == null) entries.putIfAbsent(k, mine) == null
              else entries.replace(k, hit, mine)
            if (won) {
              if (hit != null) release(hit.value)
              mine.value
            } else {
              release(mine.value)
              apply(spark, path)(resolve)
            }
          }
      }
    }

    /** Number of snapshots held for `spark`. */
    def size(spark: SparkSession): Int = {
      var n = 0
      entries.keySet().forEach(k => if (k._1 == spark) n += 1)
      n
    }

    /** Release at session end is best-effort, as in [[SessionCache]]:
      * the context is already going down.
      */
    protected def drop(spark: SparkSession): Unit = {
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == spark) {
          it.remove()
          try release(e.getValue.value)
          catch { case _: Exception => () }
        }
      }
    }
  }
}
