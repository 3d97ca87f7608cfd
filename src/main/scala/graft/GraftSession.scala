package graft

import org.apache.spark.sql.SparkSession

/** The ONE place a harness main builds its SparkSession (VERDICT r12 #4,
  * carried from r11: Bench, Verify, its subset copy and a dozen labs each
  * re-derived the master/executor-memory/AQE/checkpoint incantation, and
  * the next new lab could silently skip a piece of it — exactly how the
  * r11 1 GB-executor trap shipped: `local-cluster[4,8,8192]` sizes the
  * WORKER only, and a main that forgets [[ExecutorDrain.executorMemoryFor]]
  * runs 8× under-provisioned executors while every artifact says "8 GB").
  *
  * The fold is the superset of every main's needs; the knobs are the
  * contract-neutral gate envs:
  *
  *   - SPARK_GRAFT_CPUS: core count for local[...] masters AND
  *     spark.sql.shuffle.partitions (per-main default preserved).
  *   - SPARK_GRAFT_MASTER: any master; local-cluster brackets derive the
  *     executor heap automatically. Fixed-master labs pass `master=`.
  *   - SPARK_GRAFT_EXECUTOR_CLASSPATH: compiled classes for multi-process
  *     executors (sbt's classpath is driver-only).
  *   - SPARK_GRAFT_EXECUTOR_MEM: explicit executor heap on ANY master;
  *     the bracket-derived value is only the local-cluster fallback.
  *   - SPARK_GRAFT_AQE: "false" sweeps without adaptive execution.
  *   - SPARK_GRAFT_CHECKPOINT_DIR: reliable-checkpoint dir (Lineage.cut
  *     switches off localCheckpoint — mandatory when executors can die).
  *   - SPARK_GRAFT_LOG_LEVEL: overrides the main's default level
  *     (diagnosing a multi-process task abort needs one WARN-level run).
  *
  * Lab-specific configs go in `extra` and are applied LAST, so a lab
  * invariant wins over the env knobs.
  * The resolvers are pure functions of an env map so HarnessSpec can pin
  * the derivation without starting a cluster.
  */
object GraftSession {
  /** Pure master resolution: fixed lab master > env > local[cpus]. */
  def resolveMaster(env: Map[String, String], cpus: String,
                    fixed: Option[String]): String =
    fixed.getOrElse(env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))

  /** Pure executor-heap resolution: explicit env on any master, else the
    * local-cluster bracket (worker-sized), else engine default. */
  def resolveExecutorMemory(env: Map[String, String],
                            master: String): Option[String] =
    env.get("SPARK_GRAFT_EXECUTOR_MEM")
      .orElse(ExecutorDrain.executorMemoryFor(master))

  /** Build the session. `defaultCpus`/`logLevel` keep each main's
    * historical defaults; `master` pins fixed-master labs; `fixedCpus`
    * additionally pins the shuffle-partition count for labs whose
    * methodology sizes BOTH the master and the shuffle together (ADVICE
    * r13: a pinned-master lab that still derives shuffle partitions from
    * SPARK_GRAFT_CPUS drifts half its sizing with a leaked gate env);
    * `extra` carries lab-specific configs (applied last, so a lab
    * invariant wins over any env knob). No engine config is needed:
    * the kernels install themselves ([[graft.plans.GraftExtensions]]). */
  def build(defaultCpus: String = "32",
            logLevel: String = "ERROR",
            master: Option[String] = None,
            extra: Seq[(String, String)] = Nil,
            fixedCpus: Option[String] = None): SparkSession = {
    val env = sys.env
    val cpus = fixedCpus.getOrElse(env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus))
    val m = resolveMaster(env, cpus, master)
    val b = SparkSession.builder()
      .master(m)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    env.get("SPARK_GRAFT_EXECUTOR_CLASSPATH")
      .foreach(cp => b.config("spark.executor.extraClassPath", cp))
    resolveExecutorMemory(env, m)
      .foreach(mem => b.config("spark.executor.memory", mem))
    env.get("SPARK_GRAFT_AQE")
      .foreach(v => b.config("spark.sql.adaptive.enabled", v))
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    spark.sparkContext.setLogLevel(
      env.getOrElse("SPARK_GRAFT_LOG_LEVEL", logLevel))
    spark
  }

  /** Start `mainClass args` in a child driver JVM, for labs whose
    * failure domain is a whole process: this JVM's classpath, the module
    * opens Spark needs on JDK 17 (as spark-submit injects them), and
    * stdout and stderr both to `log`. The child builds its own session. */
  def launchChild(mainClass: String, args: Seq[String], heap: String,
                  log: java.io.File): Process = {
    val opens = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split("\\s+").filter(_.nonEmpty)
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ opens ++
      Seq(s"-Xmx$heap", "-cp", System.getProperty("java.class.path"), mainClass) ++
      args
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(log)
      .start()
  }
}
