package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Parquet table loaders + cross-engine-safe aggregation helpers.
  *
  * Oracle parity rules (Spark vs DuckDB on identical parquet):
  *  - money/ratio columns in the testdata carry exact 2-decimal values,
  *    so a cast to DECIMAL is lossless; summing in DECIMAL is exact and
  *    order-independent, unlike summing doubles under a shuffle.
  *  - the final cast back to DOUBLE is exact for |v| < 2^53 / 10^scale.
  * Every hash-checked aggregate goes through [[Tables.dsum]] /
  * [[Tables.davg]] so both engines compute bit-identical doubles.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved plans per (session, table path, snapshot fingerprint).
    * Resolving a parquet path lists its files and infers the schema
    * from a footer — about 70 ms, paid by every query that reads the
    * table. The memo pays it once per snapshot; each call still gets
    * its own fresh-id instance of the plan ([[Bridge.freshInstance]]).
    * It holds plans only, no data: every query still reads the files,
    * and results and plans are those of a fresh read. (The flows view
    * over `events` is held as data, by
    * [[graft.flow.FlowAnalytics.flowsResolved]].)
    */
  private[graft] val loaded = new Staging.SnapshotMemo[LogicalPlan]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    Bridge.freshInstance(spark,
      loaded(spark, path)(spark.read.parquet(path).queryExecution.analyzed))
  }

  /** `events.ts` has shipped in two physical shapes across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark 4's parquet
    * reader surfaces only as long via `nanosAsLong`, which
    * [[Graft.RuntimeConfs]] sets) and plain µs TIMESTAMP. Normalize
    * BOTH to µs TIMESTAMP_NTZ by inspecting the read schema, so every
    * downstream query and its DuckDB oracle (which reads either file
    * as µs TIMESTAMP) agree bit-for-bit.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    val tsConv = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // LongType can mean TIMESTAMP(NANOS)-under-nanosAsLong OR a
        // plain unannotated INT64 — dividing the latter by 1000 would
        // be silently 1000× off, so check the parquet footer's
        // logical-type annotation and fail loudly when it isn't nanos.
        require(eventsTsIsNanos(spark, dir),
          s"$dir/events.parquet: ts is INT64 but not TIMESTAMP(NANOS) — " +
            "cannot infer its unit; convert the column explicitly")
        expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
      case _ => expr("cast(ts as timestamp_ntz)")
    }
    raw.withColumn("ts", tsConv)
  }

  /** True iff `events.ts` is parquet-annotated TIMESTAMP(NANOS) — read
    * from one footer (O(1), no data scan). Shared with the streaming
    * events source, which faces the same LongType ambiguity.
    */
  private[graft] def eventsTsIsNanos(spark: SparkSession, dir: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = root.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).map(_.getPath)
          .find(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
          .getOrElse(throw new IllegalStateException(s"no parquet part files under $root"))
      else root
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val msg = reader.getFileMetaData.getSchema
      msg.getType(msg.getFieldIndex("ts")) match {
        case p: org.apache.parquet.schema.PrimitiveType =>
          p.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          }
        case _ => false
      }
    } finally reader.close()
  }

  /** Exact sum of a (≤ `scale`-decimal) column, output as double
    * ([[graft.functions.ExactSum]]).
    *
    * An integral column at scale 0 (`ibyt`, `ipkt`, character counts)
    * sums as LONG: its total must stay within ±(2⁶³ − 1), and one
    * outside raises `ARITHMETIC_OVERFLOW` in any session, never wraps.
    * Every other column sums as DECIMAL(28, `scale`) values, each within
    * ±10^(28 − `scale`) (a larger one fails the ANSI cast), into a
    * DECIMAL(38, `scale`) total. Both give the double nearest the exact
    * total; NULLs are skipped, and an empty or all-NULL group gives NULL.
    */
  def dsum(c: Column, scale: Int = 2): Column =
    Bridge.column(graft.functions.ExactSum(Bridge.expression(c), scale).toAggregateExpression())
      .cast("double")

  /** Exact decimal product-sum: cast each factor before multiplying. */
  def dec(c: Column, scale: Int = 2): Column = c.cast(DecimalType(28, scale))

  /** Deterministic average: exact double sum / long count (one IEEE div). */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(lit(1))

  /** Quantized order-free sum for CORPUS-SIZED aggregation passes:
    * each term becomes the exact integer floor(x·10⁹ + ½) summed as
    * LONG — whole-stage-codegen primitive arithmetic, ~10× the
    * decimal pattern's throughput (measured 15 s → 1.5 s on the
    * sf0.1 PCA covariance). Cross-engine parity is STRONGER than
    * round()+DECIMAL: floor of a double is exact IEEE, so there is
    * no shortest-repr-vs-binary disagreement window at half-ties at
    * all. Semantics differ from HALF_UP only at exact binary
    * half-ties (round-toward-+∞ instead of away-from-zero); the
    * oracle mirrors via [[qsumSql]]. Caller must bound |x|·10⁹ ×
    * group-size below 2⁶³ — fine whenever per-group mass is bounded
    * (PageRank: Σ terms ≤ 1; HITS: ≤ max degree; covariance: ≤
    * n·max|x|²).
    */
  def qsum(c: Column): Column =
    sum(floor(c * lit(1.0e9) + lit(0.5)).cast("long")).cast("double") / lit(1.0e9)

  /** SQL mirror of [[qsum]]. */
  def qsumSql(expr: String): String =
    s"CAST(sum(CAST(floor(($expr) * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE) / CAST(1000000000 AS DOUBLE)"
}
