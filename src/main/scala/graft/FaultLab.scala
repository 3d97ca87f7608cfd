package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.spark.graftbridge.StorageBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import scala.jdk.CollectionConverters._

/** Executor-loss recovery proof, batch and streaming, on one
  * multi-process `local-cluster` session: SIGKILL one executor JVM of
  * this application mid-run and require the output identical to the
  * unkilled run. Both arms kill through [[killOneExecutor]], and the
  * driver's executor removals are read from Spark's status store.
  *
  * Batch arm (`FAULTLAB_r10.json`): `dedup_clusters`, the iterative
  * consumer of [[graft.functions.Lineage.cut]]. This converts
  * Lineage.cut's fault-tolerance scaladoc (reliable `checkpoint()` when a
  * checkpoint dir is set ⇒ a lost executor re-reads from the shared store
  * instead of failing the job) from claim to measurement.
  *   1. baseline run — wall time + an ORDERLESS fingerprint
  *      (count + sum of per-row xxhash64; no driver collect of rows).
  *   2. killed run — a watcher thread sleeps 35% of the baseline wall,
  *      checks the job is still in flight and kills one executor.
  *   3. REQUIRES: the kill landed mid-job, the driver saw >= 1 executor
  *      removal, and the two fingerprints are identical.
  * Recovery exercises: running tasks on the dead executor fail and
  * reschedule; its shuffle map outputs are regenerated by stage retry;
  * truncated-lineage RDDs re-read their checkpoint files (the piece
  * `localCheckpoint` would turn into a job-killing block loss); the
  * standalone worker relaunches a replacement executor.
  *
  * Streaming arm (`STREAMFAULTLAB_r11.json`, `STREAMFAULTLAB_r12.json`):
  * `Streams.hourlyWindows` (watermarked windowed agg — per-window state
  * store entries, Complete-mode memory sink), fed from time-aligned chunk
  * FILES (the r11 stream ≡ batch staging of `STREAMEQ_r11.json`, whose
  * harness is at commit `795cadb`). The kill fires between micro-batch
  * k=0 and k=1, the deterministic point where chunk-0 state is durable in
  * the checkpoint: the state store partitions on the killed executor are
  * lost with it, and the next stateful tasks must RELOAD the store from
  * the checkpoint's delta/snapshot files. REQUIRES: killed ≡ baseline ≡
  * the batch twin, by count and fingerprint.
  *
  * Output: one JSON line + SPARK_GRAFT_FAULTLAB_OUT (default
  * faultlab.json); the batch arm's fields at the top level, the
  * streaming arm's under `stream`.
  *
  * Run: SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *        SPARK_GRAFT_SF_DIR=testdata-sf1 sbt "runMain graft.FaultLab"
  */
object FaultLab {
  val Chunks = 4

  /** True when `commandLine` is an executor JVM of application `appId`.
    * The application filter matters: an unfiltered scan would SIGKILL
    * the executor of an unrelated Spark app on the same machine. */
  def isExecutorOf(appId: String, commandLine: String): Boolean = {
    val args = commandLine.split("\\s+").toSeq
    args.contains("org.apache.spark.executor.CoarseGrainedExecutorBackend") &&
      args.sliding(2).contains(Seq("--app-id", appId))
  }

  /** SIGKILL (`destroyForcibly`: no shutdown hooks, the real crash
    * shape) one live executor JVM of this application; its pid. */
  private def killOneExecutor(spark: SparkSession): Option[Long] = {
    val appId = spark.sparkContext.applicationId
    ProcessHandle.allProcesses().iterator().asScala
      .find(p => isExecutorOf(appId, p.info().commandLine().orElse("")))
      .map { p => p.destroyForcibly(); p.pid() }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "testdata-sf1")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[3,8,8192]")
    // executors are separate JVMs: they need this build's classes
    val classes = new java.io.File(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getPath
    val spark = GraftSession.build(defaultCpus = "24", master = Some(master),
      extra = Seq("spark.executor.extraClassPath" ->
        sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_CLASSPATH", classes)))
    val sc = spark.sparkContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_faultlab")
    try {
    sc.setCheckpointDir(s"$tmp/rdd_ckpt")

    // ---- batch arm: kill mid-job ------------------------------------
    /** One full dedup_clusters evaluation reduced to an orderless
      * fingerprint — a distributed aggregate, not a row collect. The
      * per-row hashes sum in unbounded decimal: a long sum of full-range
      * xxhash64 values overflows (ANSI throw). */
    def job(): (Long, String, Double) = {
      val t0 = System.nanoTime()
      val r = graft.operators.Cluster.qClusters(spark, sfDir)
        .agg(count(lit(1)).as("n"),
          sum(xxhash64(col("doc_id"), col("canonical_id"), col("n_members"))
            .cast("decimal(38,0)")).as("fp"))
        .collect()(0)
      ((r.getLong(0)), r.getDecimal(1).toPlainString,
        (System.nanoTime() - t0) / 1e9)
    }

    // plan/codegen warmup on the small driver testdata so the baseline
    // wall (which sets the kill timing) measures the sf run, not JIT
    try graft.operators.Cluster.qClusters(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }

    val ((bRows, bFp, bWall), before) = StorageBridge.inGroup(sc, "faultlab_baseline")(job())
    println(f"[faultlab] baseline: rows=$bRows fp=$bFp wall=$bWall%.2fs")

    val inFlight = new AtomicBoolean(true)
    val killedPid = new AtomicLong(-1)
    val killAtSec = bWall * 0.35
    val killer = new Thread(() => {
      Thread.sleep((killAtSec * 1000).toLong)
      if (inFlight.get()) killOneExecutor(spark) match {
        case Some(pid) =>
          killedPid.set(pid)
          System.err.println(s"[faultlab] SIGKILLed executor pid=$pid " +
            f"at $killAtSec%.2fs into the job")
        case None =>
          System.err.println("[faultlab] no executor process found to kill")
      } else System.err.println("[faultlab] job finished before the kill fired")
    })
    killer.start()
    val ((kRows, kFp, kWall), after) = StorageBridge.inGroup(sc, "faultlab_killed") {
      try job() finally inFlight.set(false)
    }
    killer.join()
    val removed = after.deadExecutors - before.deadExecutors

    val identical = bRows == kRows && bFp == kFp
    require(killedPid.get() > 0,
      "kill did not land mid-job — rerun at a larger sf or earlier kill point")
    require(removed >= 1,
      s"driver never observed an executor removal (removed=$removed)")
    require(identical,
      s"recovered output differs: baseline ($bRows, $bFp) vs killed ($kRows, $kFp)")

    // ---- streaming arm: kill between micro-batches 0 and 1 ----------
    val eventsDf = graft.sources.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // the r11 stream ≡ batch staging: time-aligned chunks via one
    // distributed write
    val dom = eventsDf
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).collect()(0)
    val (usLo, usHi) = (dom.getLong(0), dom.getLong(1))
    val chunkCol = least(lit(Chunks - 1),
      floor(((unix_micros(col("ts")) - usLo) * Chunks) / (usHi - usLo + 1)))
      .cast("int")
    val staged = s"$tmp/staged"
    eventsDf.withColumn("__chunk", chunkCol)
      .repartition(col("__chunk"))
      .sortWithinPartitions(col("__chunk"), col("ts"), col("event_id"))
      .write.mode("overwrite").partitionBy("__chunk").parquet(staged)

    var fileSeq = 0
    def feedDir(k: Int, sinkDir: String): Unit = {
      val src = new java.io.File(s"$staged/__chunk=$k")
      require(src.isDirectory, s"staged chunk missing: $src")
      src.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .foreach { f =>
          fileSeq += 1
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(sinkDir, f"b$k%02d_$fileSeq%06d.parquet"))
        }
    }

    /** Orderless fingerprint of a windows result (the batch arm's
      * device: decimal sum of per-row xxhash64). */
    def fingerprint(df: DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("w_start"), col("event_type"), col("n"),
          col("sum_value")).cast("decimal(38,0)")).as("fp")).collect()(0)
      (r.getLong(0), r.getDecimal(1).toPlainString)
    }

    /** One full stream run: feed every chunk as its own micro-batch,
      * killing one executor after batch `killAfter`. Returns rows,
      * fingerprint, wall, the killed pid and the executors dead after. */
    def run(name: String, killAfter: Option[Int])
        : (Long, String, Double, Long, Int) = {
      val sink = s"$tmp/src_$name"
      // the file source requires the path to exist at stream start
      new java.io.File(sink).mkdirs()
      val t0 = System.nanoTime()
      val q = graft.streaming.Streams.hourlyWindows(
          spark.readStream.schema(eventsDf.schema).parquet(sink))
        .writeStream.format("memory").queryName(s"faultlab_$name")
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", s"$tmp/ckpt_$name").start()
      var pid = -1L
      try {
        (0 until Chunks).foreach { k =>
          feedDir(k, sink)
          q.processAllAvailable()
          if (killAfter.contains(k)) {
            pid = killOneExecutor(spark)
              .getOrElse(sys.error("no executor process found to kill"))
            System.err.println(s"[faultlab] SIGKILLed executor pid=$pid after batch $k")
          }
        }
        q.processAllAvailable()
      } finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      val ((n, fp), g) = StorageBridge.inGroup(sc, s"faultlab_stream_$name")(
        fingerprint(spark.table(s"faultlab_$name")))
      (n, fp, wall, pid, g.deadExecutors)
    }

    val (sbRows, sbFp, sbWall, _, sDeadBefore) = run("baseline", None)
    println(f"[faultlab] stream baseline: rows=$sbRows fp=$sbFp wall=$sbWall%.2fs")
    val (skRows, skFp, skWall, sPid, sDeadAfter) = run("killed", Some(0))
    println(f"[faultlab] stream killed:   rows=$skRows fp=$skFp wall=$skWall%.2fs")
    val sRemoved = sDeadAfter - sDeadBefore
    // the non-streaming twin on the same rows (watermark is a no-op on a
    // batch frame — Streams.hourlyWindows scaladoc)
    val (tRows, tFp) = fingerprint(graft.streaming.Streams.hourlyWindows(eventsDf))

    require(sRemoved >= 1,
      s"driver never observed a streaming executor removal (removed=$sRemoved)")
    require(sbRows == skRows && sbFp == skFp,
      s"killed stream differs from baseline: ($sbRows,$sbFp) vs ($skRows,$skFp)")
    require(sbRows == tRows && sbFp == tFp,
      s"stream differs from batch twin: ($sbRows,$sbFp) vs ($tRows,$tFp)")

    val stream =
      f"""{"experiment":"streaming_executor_loss","shape":"hourlyWindows (stateful windowed agg, $Chunks file-fed micro-batches)","baseline":{"rows":$sbRows,"fingerprint":$sbFp,"wall_sec":$sbWall%.2f},"killed":{"rows":$skRows,"fingerprint":$skFp,"wall_sec":$skWall%.2f,"killed_pid":$sPid,"kill_after_batch":0,"executors_removed_seen":$sRemoved},"batch_twin":{"rows":$tRows,"fingerprint":$tFp},"identical":true}"""
    val json =
      f"""{"experiment":"executor_loss_recovery","sf":"$sfDir","master":"$master","query":"dedup_clusters","baseline":{"rows":$bRows,"fingerprint":$bFp,"wall_sec":$bWall%.2f},"killed":{"rows":$kRows,"fingerprint":$kFp,"wall_sec":$kWall%.2f,"killed_pid":${killedPid.get()},"kill_at_sec":$killAtSec%.2f,"executors_removed_seen":$removed},"identical":$identical,"stream":$stream}"""
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_FAULTLAB_OUT", "faultlab.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
      spark.stop()
    }
  }
}
