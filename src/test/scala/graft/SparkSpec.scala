package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites. One session per JVM (sbt forks
  * one test JVM); suites must not stop it. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // Spark still DEFAULTS parquet timestamp output to INT96, a
      // deprecated type whose min/max stats parquet readers must ignore —
      // so any time-clustered layout written under the default is
      // silently unprunable on its time dimension (caught by the z-order
      // skipping test). Every session in this repo writes INT64 µs.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", tempDir("graft_warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf = "/root/testdata/sf0.001"

  /** A fresh directory under the temp dir, deleted with everything in it
    * when the test JVM exits. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.toString
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.Sf
}
