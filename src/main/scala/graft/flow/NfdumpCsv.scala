package graft.flow

import org.apache.spark.sql.{DataFrame, SparkSession}

/** nfdump CSV source (SURVEY §2 A1).
  *
  * The reference shells out to `nfdump -r <file> -o csv` and parses the
  * result with pandas; here the CSV *is* the source format and Spark's
  * native CSV reader does the typed parse — schema declared up front
  * (no inference pass over 100 TB), malformed rows dropped, and
  * Catalyst prunes unused columns before parse (the CSV reader only
  * materializes fields the query needs).
  *
  * nfdump emits a trailing summary block (`Summary,flows,...`) after
  * the data rows; those rows fail the typed parse and are dropped by
  * DROPMALFORMED, matching the reference's `skipfooter` handling.
  */
object NfdumpCsv {

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSS]")
      .schema(FlowSchema.nfdumpCsvSchema)
      .csv(path)
      // DROPMALFORMED only inspects columns the query materializes, so
      // a bare count() would keep summary rows; requiring the
      // timestamps forces their parse and pins row counts regardless
      // of downstream projection.
      .where(org.apache.spark.sql.functions.col("ts").isNotNull &&
             org.apache.spark.sql.functions.col("te").isNotNull)

  /** A13: quarantine read — the production posture when silent row
    * drops are NOT acceptable: PERMISSIVE parse with the raw line
    * captured for rows that fail the typed schema, split into
    * (good, quarantined) frames. The quarantine side keeps the
    * ORIGINAL line so a fixed parser can replay it later — the
    * dead-letter-queue contract, vs [[read]]'s DROPMALFORMED (which
    * is right for nfdump's KNOWN summary-footer noise but wrong for
    * an untrusted feed where a parse regression must be visible,
    * not vanished). Both frames come from ONE parse pass; the split
    * is a pair of filters on the corrupt-record column.
    */
  def readWithQuarantine(spark: SparkSession, path: String):
      (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val raw = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSS]")
      .schema(FlowSchema.nfdumpCsvSchema
        .add("_corrupt", org.apache.spark.sql.types.StringType))
      .csv(path)
      // PERMISSIVE leaves _corrupt NULL for clean rows; a row whose
      // REQUIRED timestamps failed the parse is quarantined even if
      // other fields survived (partial nulls are how type drift hides)
      .withColumn("bad",
        col("_corrupt").isNotNull || col("ts").isNull || col("te").isNull)
    // Dead-letter contract: EVERY quarantined row carries a replayable
    // line. A schema-clean row with missing required timestamps parses
    // with _corrupt NULL, so its line is re-serialized from the typed
    // fields (same timestamp format as the parse — a replay through
    // this reader sees the identical malformation).
    val fields = FlowSchema.nfdumpCsvSchema.fieldNames.map(col).toSeq
    val reSerialized = org.apache.spark.sql.functions.to_csv(
      org.apache.spark.sql.functions.struct(fields: _*),
      new java.util.HashMap[String, String] {
        put("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
      })
    (raw.where(!col("bad")).drop("_corrupt", "bad"),
      raw.where(col("bad")).select(
        org.apache.spark.sql.functions.coalesce(col("_corrupt"), reSerialized)
          .as("raw_line")))
  }

  /** Streaming variant: same parse over a watched directory
    * (Structured Streaming file source = the watchdog observer).
    */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSS]")
      .option("maxFilesPerTrigger", graft.Graft.MicroBatchMaxFiles.toString)
      .schema(FlowSchema.nfdumpCsvSchema)
      .csv(dir)
      .where(org.apache.spark.sql.functions.col("ts").isNotNull &&
             org.apache.spark.sql.functions.col("te").isNotNull)
}
