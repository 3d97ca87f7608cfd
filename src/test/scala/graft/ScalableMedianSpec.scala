package graft

import graft.functions.ScalableMedian
import org.apache.spark.sql.functions._

/** The sort-based median must equal the built-in ObjectHashAggregate
  * median bit-for-bit — on parity depends the shared oracle of
  * kpi_anomalies_at_scale. */
class ScalableMedianSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  test("hand-computed: odd and even group sizes, interpolation formula") {
    val df = Seq(
      ("a", 1.0), ("a", 3.0), ("a", 10.0),            // odd: median 3
      ("b", 1.0), ("b", 2.0), ("b", 4.0), ("b", 8.0), // even: 2 + (4-2)*0.5 = 3
      ("c", 7.0),                                     // singleton
    ).toDF("k", "v")
    val out = ScalableMedian.median(df, Seq("k"), "v", "m")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("a" -> 3.0, "b" -> 3.0, "c" -> 7.0))
  }

  test("bit-equal to built-in median on real data, any partitioning") {
    val data = graft.sources.Tables.orders(spark, sf)
      .select(col("o_custkey").as("k"), col("o_totalprice").as("v"))
    val builtin = data.groupBy("k").agg(median(col("v")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val scalable = ScalableMedian.median(data.repartition(13), Seq("k"), "v", "m")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(builtin.size == scalable.size && builtin.nonEmpty)
    builtin.foreach { case (k, m) =>
      assert(scalable(k) == m, s"group $k: builtin $m vs scalable ${scalable(k)}")
    }
  }

  test("ties across the middle boundary resolve identically") {
    val df = Seq(("t", 5.0), ("t", 5.0), ("t", 5.0), ("t", 9.0)).toDF("k", "v")
    val out = ScalableMedian.median(df, Seq("k"), "v", "m").head.getDouble(1)
    assert(out == 5.0)
  }

  test("anomalies via scalable median == anomalies via built-in median") {
    val a = graft.operators.Kpi.anomalies(spark, sf).collect().map(_.toSeq).toSeq
    val b = graft.operators.Kpi.anomalies(spark, sf, scalableMedian = true)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("scalable-median anomalies spill the window buffer and keep the answer") {
    // the operator exists for groups that do not fit in memory; with the
    // WindowExec row buffer capped at one row, every group of two or more
    // rows spills (SPILLLAB_r09.json sized the same claim at sf10)
    import org.apache.spark.sql.execution.window.WindowExec
    def anomalies() = graft.operators.Kpi.anomalies(spark, sf, scalableMedian = true)
    val comfortable = anomalies().collect().map(_.toSeq).toSeq
    val confs = Seq(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
      "spark.sql.windowExec.buffer.spill.threshold" -> "1")
    graft.operators.Skew.withConfs(spark, confs) {
      val df = anomalies()
      val rows = df.collect().map(_.toSeq).toSeq
      val spilled = graft.operators.Skew.finalPlanNodes(df.queryExecution.executedPlan).collect {
        case w: WindowExec => w.metrics("spillSize").value
      }
      assert(spilled.sum > 0, s"no WindowExec spilled: $spilled")
      assert(rows == comfortable)
    }
  }
}
