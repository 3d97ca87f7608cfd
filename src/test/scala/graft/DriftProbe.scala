package graft

import org.apache.spark.graftbridge.StorageBridge
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Per-query stage profiler (born in the r11 drift root-cause, kept as
  * a lab tool): run one declared query at a target sf dir and dump the
  * stage-level task/CPU/GC table from the status store plus the executed
  * plan's node metrics. `SPARK_GRAFT_BCAST_MB` overrides the broadcast
  * threshold — the join-regime adjudication knob (BASELINE.md r11:
  * kpi_pivot's SMJ cliff proven with exactly this arm). */
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "testdata-sf10"
    // SPARK_GRAFT_MASTER still picks the master, so a local[32]-vs-
    // local-cluster drift can be profiled with the same tool (r11: the
    // catalog_corr adjudication).
    val spark = GraftSession.build(defaultCpus = "32",
      extra = sys.env.get("SPARK_GRAFT_BCAST_MB").toSeq.map(mb =>
        "spark.sql.autoBroadcastJoinThreshold" -> s"${mb}MB"))
    val sc = spark.sparkContext
    // warm once at sf0.001 like the bench
    try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    val ((df, wall), g) = StorageBridge.inGroup(sc, s"driftprobe_$name") {
      val df = SparkEntry.queries(name)(spark, dir)
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      (df, (System.nanoTime() - t0) / 1e9)
    }
    println(f"[drift] $name wall=$wall%.2fs")
    g.byStage.foreach { case (id, t) =>
      println(f"[drift] stage $id%3d tasks=${t.tasks}%3d runTime=${t.runMs / 1000.0}%8.2fs cpu=${t.cpuNs / 1000000L / 1000.0}%8.2fs gc=${t.gcMs / 1000.0}%6.2fs")
    }
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.foreach { node =>
      val m = node.metrics.map { case (k, v) => s"$k=${v.value}" }
        .filter(s => s.contains("numOutputRows") || s.contains("Time") || s.contains("scan"))
        .take(4).mkString(" ")
      println(s"[drift] ${node.nodeName}: $m")
    }
    spark.stop()
  }
}
