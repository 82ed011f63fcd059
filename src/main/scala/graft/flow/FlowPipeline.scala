package graft.flow

import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sinks.PartitionedParquetSink

/** End-to-end streaming pipeline (SURVEY §2 A6): the whole reference
  * service as one Structured Streaming job.
  *
  * reference: watchdog observer on a spool dir → per-file convert →
  * ClickHouse insert. Here: file-source stream (checkpointed, so
  * exactly-once per input file and crash-resumable — the reference's
  * "skip files already done" bookkeeping falls out of the engine) →
  * [[FlowTransform.toNflows]] → day-partitioned parquet or a
  * foreachBatch JDBC load.
  */
object FlowPipeline {

  /** The service's processing-time trigger interval. A file waits for
    * the next trigger, so this bounds file-to-queryable latency from
    * below. Every trigger, idle or not, lists the whole watched dir.
    */
  val DefaultTrigger: FiniteDuration = 1.second

  /** AvailableNow for a catch-up run (drain what has landed, then
    * stop), the processing-time trigger otherwise.
    */
  private def trigger(availableNowCatchup: Boolean): Trigger =
    if (availableNowCatchup) Trigger.AvailableNow() else Trigger.ProcessingTime(DefaultTrigger)

  /** Continuous watch: processes files as they land in `watchDir`, one
    * micro-batch per [[DefaultTrigger]] (1 s) while files arrive.
    */
  def start(
      spark: SparkSession,
      watchDir: String,
      outDir: String,
      checkpointDir: String,
      flowsrc: String,
      availableNowCatchup: Boolean = false): StreamingQuery = {
    val nflows = FlowTransform.toNflows(NfdumpCsv.readStream(spark, watchDir), flowsrc)
    val writer = nflows
      .withColumn("date", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .partitionBy("date")
      .format("parquet")
      .option("path", outDir)
    writer.trigger(trigger(availableNowCatchup)).start()
  }

  /** One-shot batch catch-up over a directory of already-landed files
    * (the reference's initial backfill mode).
    */
  def backfill(spark: SparkSession, inDir: String, outDir: String, flowsrc: String): Unit =
    PartitionedParquetSink.write(
      FlowTransform.toNflows(NfdumpCsv.read(spark, inDir), flowsrc), "ts", outDir)

  /** Streaming load straight into a warehouse table (the reference's
    * parquet → ClickHouse insert leg): each micro-batch goes through
    * the batched executor-side JDBC writer. Checkpointing makes the
    * per-file bookkeeping exactly-once from the source's point of
    * view; inserts are at-least-once on retry, which matches the
    * reference's behavior (ClickHouse dedups by part on re-insert).
    */
  def startJdbc(
      spark: SparkSession,
      watchDir: String,
      checkpointDir: String,
      flowsrc: String,
      table: String,
      connect: () => java.sql.Connection,
      batchSize: Int = 10000,
      availableNowCatchup: Boolean = false): StreamingQuery = {
    val nflows = FlowTransform.toNflows(NfdumpCsv.readStream(spark, watchDir), flowsrc)
    val writer = nflows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sinks.JdbcBatchSink.write(batch, table, connect, batchSize)
      }
    writer.trigger(trigger(availableNowCatchup)).start()
  }
}
