package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (dev only; the driver passes two): run only
    // the comma-separated query names
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // production shape: staged artifacts (signature indexes, trained
      // centroids/codebooks, graph edge tables) are published to a lake
      // keyed by corpus fingerprint and SERVED to later sessions
      // instead of rebuilt. SPARK_GRAFT_LAKE=off disables.
      .config(Staging.LakeConfKey,
        Staging.lakeRootFromEnv(default = "/tmp/graft_lake"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Environment stamp: version drift in the grading engines (HUGEINT
    // pandas conversion, bin() width, tie orders) is only diagnosable
    // from the artifacts when the producing versions are recorded.
    Files.writeString(Paths.get(s"$outDir/env.json"),
      s"""{"spark": ${q(spark.version)}, "scala": ${q(scala.util.Properties.versionNumberString)}, "java": ${q(System.getProperty("java.version"))}}""")
    // same stop-path WARN flood as Bench: keep the tail of the output
    // clean for the driver's capture window
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
  }
}
