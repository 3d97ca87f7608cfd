package graft

/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization-round evidence artifact (plans/r17/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [names...]
  * With no names, dumps every declared query; an undeclared name fails
  * before any plan is dumped. Plans are captured WITHOUT
  * executing the query (initial AQE plan — `isFinalPlan=false`), which is
  * the comparable, deterministic shape; queries whose construction itself
  * runs jobs (iterative operators) still run those, so a full dump takes
  * a few minutes. Not part of the driver contract; evidence only.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <suffix> [names...]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val sel = SparkEntry.select(args.drop(3).toSeq)
    val spark = GraftSession.build(defaultCpus = "8")
    new java.io.File(outDir).mkdirs()
    sel.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"PLANDUMP ok $name")
      } catch { case e: Throwable =>
        System.err.println(s"PLANDUMP FAIL $name: $e")
      }
    }
    spark.stop()
  }
}
