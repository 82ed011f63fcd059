package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, UTC, quiet). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = Graft.builder()
      .master("local[4]")
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  val sf0001 = "/root/testdata/sf0.001"

  /** [[sf0001]] with `events.parquet` written as two part files of the
    * same rows. Its flows view has two partitions, so flow plans over it
    * keep the exchanges of a multi-file snapshot at scale; over the
    * one-file [[sf0001]] the view plans none.
    */
  lazy val sf0001TwoFile: String = SparkSpecBase.twoFileCopy(spark, sf0001)
}

object SparkSpecBase {
  private var twoFile: Option[String] = None

  /** One copy per JVM: every suite shares the session and the copy. */
  private def twoFileCopy(spark: SparkSession, src: String): String = synchronized {
    twoFile.getOrElse {
      val dir = Files.createTempDirectory("graft_sf0001_2f")
      Files.list(Paths.get(src)).forEach { f =>
        if (f.getFileName.toString != "events.parquet")
          Files.copy(f, dir.resolve(f.getFileName))
      }
      val events = spark.read.parquet(s"$src/events.parquet")
      val out = dir.resolve("events.parquet").toString
      // a one-file read is one partition, so the halves keep file order
      val half = (events.count() / 2).toInt
      events.limit(half).write.parquet(out)
      events.offset(half).write.mode("append").parquet(out)
      val parts = Files.list(Paths.get(out)).filter(_.getFileName.toString.endsWith(".parquet")).count()
      require(parts == 2, s"$out has $parts part files, not 2")
      require(spark.read.parquet(out).exceptAll(events).isEmpty &&
        events.exceptAll(spark.read.parquet(out)).isEmpty, s"$out lost or gained rows")
      twoFile = Some(dir.toString)
      dir.toString
    }
  }
}
