package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, DatabaseMetaData, PreparedStatement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sinks.{JdbcBatchSink, PartitionedParquetSink}

/** A3/A4/A5: partitioned sink, TTL retention, batched JDBC writer. */
class SinksSpec extends SparkSpecBase {

  test("day-partitioned layout + TTL partition drop") {
    import spark.implicits._
    val out = tmpDir("psink")
    val df = Seq(
      ("2024-01-01 10:00:00", 1L), ("2024-01-02 11:00:00", 2L),
      ("2024-01-03 12:00:00", 3L), ("2024-01-03 13:00:00", 4L))
      .toDF("ts_s", "v")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
    PartitionedParquetSink.write(df, "ts", out)
    val parts = new java.io.File(out).list().filter(_.startsWith("date=")).sorted
    assert(parts.toSeq === Seq("date=2024-01-01", "date=2024-01-02", "date=2024-01-03"))

    val dropped = PartitionedParquetSink.expireOlderThan(spark, out, "2024-01-03")
    assert(dropped.sorted === Seq("date=2024-01-01", "date=2024-01-02"))
    assert(spark.read.parquet(out).count() === 2) // only the surviving day
    // idempotent: nothing left to drop
    assert(PartitionedParquetSink.expireOlderThan(spark, out, "2024-01-03").isEmpty)
  }

  test("small-file compaction merges a fragmented partition, preserving data") {
    import spark.implicits._
    val out = tmpDir("csink")
    // 10 tiny appends into the same day = 10+ files (a short-trigger
    // streaming sink's steady state)
    for (i <- 0 until 10) {
      val df = Seq((s"2024-02-01 0$i:00:00", i.toLong)).toDF("ts_s", "v")
        .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
      PartitionedParquetSink.write(df.coalesce(1), "ts", out)
    }
    def files(p: String) = new java.io.File(s"$out/$p").list()
      .filter(f => !f.startsWith("_") && !f.startsWith(".")).length
    val before = files("date=2024-02-01")
    assert(before >= 10, s"expected fragmentation, got $before files")
    val preData = spark.read.parquet(out).select($"v").collect().map(_.getLong(0)).sorted

    val results = PartitionedParquetSink.compact(spark, out, minFiles = 8)
    assert(results.map(_._1) === Seq("date=2024-02-01"))
    assert(results.head._2 === before && results.head._3 === 1)
    assert(files("date=2024-02-01") === 1)
    val postData = spark.read.parquet(out).select($"v").collect().map(_.getLong(0)).sorted
    assert(postData.toSeq === preData.toSeq, "compaction changed the data")
    // below-threshold partitions are left alone (idempotent)
    assert(PartitionedParquetSink.compact(spark, out, minFiles = 8).isEmpty)
  }

  test("recoverStale restores a partition lost mid-swap and sweeps leftovers") {
    import spark.implicits._
    val out = tmpDir("rsink")
    val df = Seq(("2024-03-01 10:00:00", 7L)).toDF("ts_s", "v")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
    PartitionedParquetSink.write(df, "ts", out)
    val root = new java.io.File(out)
    val live = new java.io.File(root, "date=2024-03-01")

    // crash point 1: live dir parked as backup, rewrite never promoted
    // (the partition has vanished from the table — worst case)
    assert(live.renameTo(new java.io.File(root, ".compact_old_date=2024-03-01")))
    new java.io.File(root, ".compact_tmp_date=2024-03-01").mkdir() // orphan rewrite
    // readers now see an empty table (dot-dirs are invisible to Spark)
    intercept[Exception](spark.read.parquet(out).count())
    val r1 = PartitionedParquetSink.recoverStale(spark, out).toMap
    assert(r1(".compact_old_date=2024-03-01") === "restored")
    assert(r1(".compact_tmp_date=2024-03-01") === "dropped")
    assert(spark.read.parquet(out).select($"v").head().getLong(0) === 7L)

    // crash point 2: swap completed but backup not yet deleted — the
    // backup is redundant and must be dropped, live data untouched
    val bak = new java.io.File(root, ".compact_old_date=2024-03-01")
    bak.mkdir()
    val r2 = PartitionedParquetSink.recoverStale(spark, out).toMap
    assert(r2(".compact_old_date=2024-03-01") === "dropped")
    assert(spark.read.parquet(out).count() === 1)
    // clean table: nothing to do
    assert(PartitionedParquetSink.recoverStale(spark, out).isEmpty)
  }

  test("jdbc sink batches inserts and binds typed columns") {
    import spark.implicits._
    JdbcStub.reset()
    val df = spark.range(250).select(
      $"id", concat(lit("name_"), $"id").as("name"), ($"id" * 1.5).as("score"))
    JdbcBatchSink.write(df.coalesce(2), "target_tbl", JdbcStub.connect, batchSize = 100)
    assert(JdbcStub.rowsBound.get() === 250)
    // 2 partitions × ceil(rows/100) flushes, each one executeBatch
    assert(JdbcStub.batchesExecuted.get() >= 3)
    assert(JdbcStub.sqls.peek() ===
      "INSERT INTO target_tbl (id, name, score) VALUES (?, ?, ?)")
  }

  test("jdbc sink writes a partition's flushes over one connection") {
    import spark.implicits._
    JdbcStub.reset()
    JdbcBatchSink.write(spark.range(25000).select($"id").coalesce(1), "t", JdbcStub.connect)
    assert(JdbcStub.rowsBound.get() === 25000)
    assert(JdbcStub.batchesExecuted.get() === 3) // 10,000-row flushes
    assert(JdbcStub.connects.get() === 1)
  }

  test("jdbc sink retries transient failures then succeeds") {
    import spark.implicits._
    JdbcStub.reset()
    JdbcStub.failFirst.set(2) // first two executeBatch calls throw
    val df = spark.range(10).select($"id")
    JdbcBatchSink.write(df.coalesce(1), "t", JdbcStub.connect, batchSize = 100)
    assert(JdbcStub.rowsBound.get() >= 10)
    assert(JdbcStub.batchesExecuted.get() === 1) // succeeded exactly once
    assert(JdbcStub.connects.get() === 3) // a new connection after each failure
  }

  test("jdbc sink retries a batch that failed part-way without duplicate rows") {
    import spark.implicits._
    TxJdbcStub.reset()
    TxJdbcStub.failMidBatch.set(40) // the first executeBatch stores 40 rows, then fails
    val df = spark.range(100).select($"id")
    JdbcBatchSink.write(df.coalesce(1), "t", TxJdbcStub.connect, batchSize = 100)
    assert(TxJdbcStub.table.asScala.map(_.longValue).toSeq.sorted === (0L until 100L))
    assert(TxJdbcStub.rollbacks.get() === 1)
  }

  test("jdbc sink round-trips into a real embedded database (Derby)") {
    import spark.implicits._
    // Derby ships on the Spark classpath — a real file-backed DB, so
    // this closes the gap between "ClickHouse-shaped" and "tested
    // against a database": DDL, typed binds incl. NULLs and
    // timestamps, concurrent partition writers, and a SQL read-back.
    System.setProperty("derby.system.home", tmpDir("derby_home"))
    val url = s"jdbc:derby:${tmpDir("graft_derby")}/db;create=true"
    val ddl = java.sql.DriverManager.getConnection(url)
    ddl.createStatement().executeUpdate(
      "CREATE TABLE flows (id BIGINT, name VARCHAR(64), score DOUBLE, ok BOOLEAN, ts TIMESTAMP)")
    ddl.close()
    val df = spark.range(500).select(
      $"id",
      when($"id" % 7 === 0, lit(null)).otherwise(concat(lit("n_"), $"id")).as("name"),
      ($"id" * 0.25).as("score"),
      ($"id" % 2 === 0).as("ok"),
      timestamp_seconds(lit(1709290000L) + $"id").as("ts"))
    JdbcBatchSink.write(df.repartition(3), "flows",
      () => java.sql.DriverManager.getConnection(url), batchSize = 128)
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT COUNT(*), SUM(id), SUM(CASE WHEN name IS NULL THEN 1 ELSE 0 END) FROM flows")
      rs.next()
      assert(rs.getLong(1) === 500)
      assert(rs.getLong(2) === 124750L)
      assert(rs.getLong(3) === 72) // ids 0, 7, ..., 497
      val row = c.createStatement().executeQuery(
        "SELECT name, score, ok, ts FROM flows WHERE id = 3")
      row.next()
      assert(row.getString(1) === "n_3")
      assert(row.getDouble(2) === 0.75)
      assert(row.getBoolean(3) === false)
      assert(row.getTimestamp(4).getTime === (1709290000L + 3) * 1000L)
    } finally c.close()
  }

  test("z-ordered write bounds per-file spans on BOTH dimensions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a 256x256 grid with x and y decorrelated
    val df = spark.range(20000).select(
      pmod($"id", lit(256)).as("x"),
      pmod($"id" * 7919, lit(256)).as("y"))
    def fileSpans(dir: String): Seq[(Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val zDir = tmpDir("graft_zorder")
    PartitionedParquetSink.writeZOrdered(df, "x", "y", 8, 8, zDir)
    val xDir = tmpDir("graft_xsort")
    df.repartitionByRange(8, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite").parquet(xDir)
    val zSpans = fileSpans(zDir); val xSpans = fileSpans(xDir)
    val zAvgY = zSpans.map(_._2).sum.toDouble / zSpans.size
    val xAvgY = xSpans.map(_._2).sum.toDouble / xSpans.size
    val zAvgX = zSpans.map(_._1).sum.toDouble / zSpans.size
    info(f"avg spans: zorder(x=$zAvgX%.0f, y=$zAvgY%.0f) vs x-sort(y=$xAvgY%.0f)")
    // x-sorted files see the full y range; z-ordered files cover small
    // rectangles, so BOTH dims stay well under the 255 full span
    assert(xAvgY > 200, f"x-sorted baseline unexpectedly tight: $xAvgY%.0f")
    assert(zAvgY < 160 && zAvgX < 160,
      f"z-order did not localize both dims: x=$zAvgX%.0f y=$zAvgY%.0f")
  }
}

/** Reflective stub JDBC endpoint (no driver ships in this env):
  * counts binds/batches, optionally fails the first N executeBatch.
  * Static state — executors share the JVM in local mode.
  */
object JdbcStub {
  val sqls = new ConcurrentLinkedQueue[String]()
  val rowsBound = new AtomicInteger(0)
  val batchesExecuted = new AtomicInteger(0)
  val failFirst = new AtomicInteger(0)
  val connects = new AtomicInteger(0)

  def reset(): Unit = {
    sqls.clear(); rowsBound.set(0); batchesExecuted.set(0); failFirst.set(0); connects.set(0)
  }

  def connect: () => Connection = () => {
    connects.incrementAndGet()
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "prepareStatement" =>
            sqls.add(args(0).asInstanceOf[String]); statement()
          case "getMetaData" => JdbcStub.metaData(supportsTransactions = false)
          case "close" | "commit" | "setAutoCommit" => null
          case "isClosed" => java.lang.Boolean.FALSE
          case _ => null
        }
      }).asInstanceOf[Connection]
  }

  def metaData(supportsTransactions: Boolean): DatabaseMetaData =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[DatabaseMetaData]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "supportsTransactions" => java.lang.Boolean.valueOf(supportsTransactions)
          case _ => null
        }
      }).asInstanceOf[DatabaseMetaData]

  private def statement(): PreparedStatement = {
    val pending = new AtomicInteger(0)
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "addBatch" => pending.incrementAndGet(); null
          case "executeBatch" =>
            if (failFirst.getAndUpdate(n => math.max(0, n - 1)) > 0)
              throw new java.sql.SQLException("transient stub failure")
            rowsBound.addAndGet(pending.getAndSet(0))
            batchesExecuted.incrementAndGet()
            Array.empty[Int]
          case "close" => null
          case _ => null // setLong/setString/setDouble/...
        }
      }).asInstanceOf[PreparedStatement]
  }
}

/** A transactional stub endpoint keyed by each row's first column:
  * an executed row is stored at once under autocommit and at `commit`
  * otherwise; `rollback` and `close` drop uncommitted rows. A
  * non-negative `failMidBatch` makes the next `executeBatch` apply
  * that many rows and then fail, as a connection lost mid-batch does.
  */
object TxJdbcStub {
  val table = new ConcurrentLinkedQueue[java.lang.Long]()
  val failMidBatch = new AtomicInteger(-1)
  val rollbacks = new AtomicInteger(0)

  def reset(): Unit = { table.clear(); failMidBatch.set(-1); rollbacks.set(0) }

  def connect: () => Connection = () => {
    var autoCommit = true
    val uncommitted = scala.collection.mutable.ArrayBuffer.empty[java.lang.Long]
    def store(id: java.lang.Long): Unit = if (autoCommit) table.add(id) else uncommitted += id
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "getMetaData" => JdbcStub.metaData(supportsTransactions = true)
          case "setAutoCommit" => autoCommit = args(0).asInstanceOf[Boolean]; null
          case "getAutoCommit" => java.lang.Boolean.valueOf(autoCommit)
          case "commit" => uncommitted.foreach(table.add); uncommitted.clear(); null
          case "rollback" => rollbacks.incrementAndGet(); uncommitted.clear(); null
          case "close" => uncommitted.clear(); null
          case "prepareStatement" => statement(store)
          case _ => null
        }
      }).asInstanceOf[Connection]
  }

  private def statement(store: java.lang.Long => Unit): PreparedStatement = {
    var current: java.lang.Long = null
    val batch = scala.collection.mutable.ArrayBuffer.empty[java.lang.Long]
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "setLong" if args(0) == Integer.valueOf(1) =>
            current = args(1).asInstanceOf[java.lang.Long]; null
          case "addBatch" => batch += current; null
          case "executeBatch" =>
            val cut = failMidBatch.getAndSet(-1)
            val applied = if (cut >= 0) batch.take(cut) else batch.toSeq
            applied.foreach(store)
            batch.clear()
            if (cut >= 0) throw new java.sql.SQLException("connection lost mid-batch")
            Array.fill(applied.size)(1)
          case _ => null
        }
      }).asInstanceOf[PreparedStatement]
  }
}
