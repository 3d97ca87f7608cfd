package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic: RP-LSH band bucket histogram + candidate-pair mass for
  * dedup_embed at a given sf — measures whether the banding keeps the
  * candidate join linear before we pay for the join itself. This probe
  * produced the r9 evidence that the demo 6-bit banding's candidate
  * mass is quadratic (640 fixed buckets) while the 16-bit production
  * banding's stays linear — see BASELINE.md round 9.
  * Usage: Test/runMain graft.ProbeCand <sfDir> [demo|wide|xwide]
  */
object ProbeCand {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val fnName = (if (args.length > 1) args(1) else "demo") match {
      case "wide"  => graft.plans.GraftExtensions.SignBandsWideName
      case "xwide" => graft.plans.GraftExtensions.SignBandsXWideName
      case _       => graft.plans.GraftExtensions.SignBandsName
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val vecs = graft.operators.Similarity.prepared(spark, sfDir)
    val n = vecs.count()
    val bands = graft.operators.Dedup.embedBands(spark, vecs, fnName)
    val hist = bands.groupBy("k", "bv").count()
      .agg(count(lit(1)).as("buckets"),
        max("count").as("max_bucket"),
        expr("percentile_approx(count, 0.99)").as("p99"),
        sum(expr("count * (count - 1) / 2")).as("pair_mass"))
      .head()
    println(s"PROBECAND n=$n buckets=${hist.get(0)} max=${hist.get(1)} " +
      s"p99=${hist.get(2)} pair_mass=${hist.get(3)}")
    spark.stop()
  }
}
