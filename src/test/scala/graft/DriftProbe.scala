package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Per-query stage profiler (born in the r11 drift root-cause, kept as
  * a lab tool): run one declared query at a target sf dir and dump the
  * stage-level task/CPU/GC table from a listener plus the executed
  * plan's node metrics. `SPARK_GRAFT_BCAST_MB` overrides the broadcast
  * threshold — the join-regime adjudication knob (BASELINE.md r11:
  * kpi_pivot's SMJ cliff proven with exactly this arm). */
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "testdata-sf10"
    // Master overridable so a local[32]-vs-local-cluster drift can be
    // profiled with the same tool (r11: the catalog_corr adjudication).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_EXECUTOR_CLASSPATH")
      .foreach(cp => builder.config("spark.executor.extraClassPath", cp))
    ExecutorDrain.executorMemoryFor(master)
      .foreach(m => builder.config("spark.executor.memory", m))
    sys.env.get("SPARK_GRAFT_BCAST_MB").foreach(mb =>
      builder.config("spark.sql.autoBroadcastJoinThreshold", s"${mb}MB"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stages = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long, Int)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        stages += ((i.stageId, i.taskMetrics.executorRunTime,
          i.taskMetrics.executorCpuTime / 1000000L, i.taskMetrics.jvmGCTime,
          i.numTasks))
      }
    })
    // warm once at sf0.001 like the bench
    try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    stages.clear()
    val df = SparkEntry.queries(name)(spark, dir)
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    println(f"[drift] $name wall=$wall%.2fs")
    stages.sortBy(_._1).foreach { case (id, run, cpu, gc, n) =>
      println(f"[drift] stage $id%3d tasks=$n%3d runTime=${run / 1000.0}%8.2fs cpu=${cpu / 1000.0}%8.2fs gc=${gc / 1000.0}%6.2fs")
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
