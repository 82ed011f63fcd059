package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.flow.FlowSchema

/** Read-side sources (SURVEY §2 A10): the warehouse reader over the
  * day-partitioned `nflows` layout, and a JSON-lines flow source for
  * collectors that export JSON instead of nfdump CSV (goflow/vflow
  * style exporters emit one JSON object per flow).
  */
object FlowSources {

  /** Warehouse scan with a date range over the `date=` partition
    * layout written by PartitionedParquetSink. The range becomes
    * partition pruning: files outside it are never read, no task
    * opens them. They are still listed: reading a path builds an
    * `InMemoryFileIndex` that lists every `date=` directory and its
    * files when the relation is created (in a Spark job once there
    * are more directories than `Graft.ListingThresholdKey`), so
    * listing cost grows with the whole warehouse, not with the range.
    */
  def nflows(spark: SparkSession, root: String,
      fromDate: String, toDate: String): DataFrame =
    spark.read.parquet(root)
      .where(col("date") >= fromDate && col("date") <= toDate)

  /** JSON-lines flow records with the nflows schema (schema declared,
    * not inferred — no sampling pass over the corpus; malformed lines
    * dropped like the CSV path).
    */
  def jsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(FlowSchema.nflowsSchema)
      .option("mode", "DROPMALFORMED")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSS]")
      .json(path)
      .where(col("ts").isNotNull && col("te").isNotNull)

  /** Streaming variant of the JSON source. */
  def jsonlStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(FlowSchema.nflowsSchema)
      .option("mode", "DROPMALFORMED")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSS]")
      .option("maxFilesPerTrigger", graft.Graft.MicroBatchMaxFiles.toString)
      .json(dir)
      .where(col("ts").isNotNull && col("te").isNotNull)
}
