package graft
import java.nio.file.{Files, Paths}
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "plans/r13")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = Graft.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config(Staging.LakeConfKey, Staging.lakeRootFromEnv(default = ""))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(out).mkdirs()
    args.foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      Files.write(Paths.get(s"$out/${q}_$suffix.txt"),
        df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")).getBytes("UTF-8"))
      println(s"wrote $out/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
