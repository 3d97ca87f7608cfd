package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Streaming × executor-loss: the one cell of the fault matrix round 10
  * left unmeasured. `FAULTLAB_r10.json` proved batch recovery from an
  * executor SIGKILL; `STREAMRESTART_r10.json` proved a streaming DRIVER
  * kill restarts from checkpoint row-identically. This lab kills an
  * executor JVM in the middle of a multi-batch streaming aggregation and
  * requires the final result identical to both the unkilled stream and
  * the batch twin.
  *
  * What recovery exercises that the other two labs don't: the HDFS-backed
  * state store partitions living ON the killed executor are lost with it;
  * the next micro-batch's stateful tasks are scheduled on surviving
  * executors, which must RELOAD the store from the checkpoint location's
  * delta/snapshot files (plus the usual shuffle-output regeneration and
  * task rescheduling). A `localCheckpoint`-style in-memory state story
  * would fail exactly here — this is the streaming analog of the
  * Lineage.cut reliable-checkpoint contract.
  *
  * Shape under test: `Streams.hourlyWindows` (watermarked windowed agg —
  * per-window state store entries, Complete-mode memory sink), fed from
  * time-aligned chunk FILES (the r11 stream ≡ batch staging of
  * `STREAMEQ_r11.json`, whose harness is at commit `795cadb` — no driver
  * collect). The kill fires between micro-batch k=0 and k=1, the
  * deterministic point where chunk-0 state is durable in the checkpoint
  * and every later batch must merge into reloaded state; a mid-task kill
  * would race batch boundaries nondeterministically and prove less.
  *
  * Run: SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *        SPARK_GRAFT_SF_DIR=testdata-sf1 sbt "runMain graft.StreamFaultLab"
  */
object StreamFaultLab {
  val Chunks = 4

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "testdata-sf1")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[3,8,8192]")
    val execCp = sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_CLASSPATH",
      "/root/repo/target/scala-2.13/classes")
    val spark = GraftSession.build(defaultCpus = "24", master = Some(master),
      extra = Seq("spark.executor.extraClassPath" -> execCp))

    val removed = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        removed.incrementAndGet()
    })

    val tmp = java.nio.file.Files.createTempDirectory("graft_streamfault").toString
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm)
      p.delete()
    }
    // try/finally: a require() failure (fingerprint mismatch, kill never
    // fired) must not leak the staged chunk parquet trees into /tmp.
    try {
    val eventsDf = graft.sources.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val evSchema: StructType = eventsDf.schema

    // The r11 stream ≡ batch staging (STREAMEQ_r11.json, harness at commit
    // 795cadb): time-aligned chunks via one distributed write.
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
      new java.io.File(sinkDir).mkdirs()
      val src = new java.io.File(s"$staged/__chunk=$k")
      require(src.isDirectory, s"staged chunk missing: $src")
      src.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .foreach { f =>
          fileSeq += 1
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(sinkDir, f"b$k%02d_$fileSeq%06d.parquet"))
        }
    }

    /** Orderless fingerprint of a windows result (the FaultLab device:
      * decimal sum of per-row xxhash64 — no row collect, overflow-safe). */
    def fingerprint(df: DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("w_start"), col("event_type"), col("n"),
          col("sum_value")).cast("decimal(38,0)")).as("fp")).collect()(0)
      (r.getLong(0), r.getDecimal(1).toPlainString)
    }

    /** One full stream run: feed all chunks as separate micro-batches,
      * optionally SIGKILLing one executor after batch `killAfter`. */
    def run(name: String, killAfter: Option[Int]): (Long, String, Double, Long) = {
      val sink = s"$tmp/src_$name"
      // the file source requires the path to exist at stream start
      new java.io.File(sink).mkdirs()
      val t0 = System.nanoTime()
      val q = graft.streaming.Streams.hourlyWindows(
          spark.readStream.schema(evSchema).parquet(sink))
        .writeStream.format("memory").queryName(s"streamfault_$name")
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", s"$tmp/ckpt_$name").start()
      var killedPid = -1L
      try {
        (0 until Chunks).foreach { k =>
          feedDir(k, sink)
          q.processAllAvailable()
          if (killAfter.contains(k)) {
            // Filter by THIS application's id (it appears in the
            // executor backend's --app-id argument): an unfiltered scan
            // would SIGKILL an executor of an unrelated Spark app that
            // happens to run on the same machine.
            val appId = spark.sparkContext.applicationId
            val victim = ProcessHandle.allProcesses().iterator().asScala
              .find { p =>
                val cl = p.info().commandLine().orElse("")
                cl.contains("CoarseGrainedExecutorBackend") &&
                  cl.contains(appId)
              }
            victim match {
              case Some(p) =>
                killedPid = p.pid()
                p.destroyForcibly()
                System.err.println(
                  s"[streamfault] SIGKILLed executor pid=${p.pid()} after batch $k")
              case None => sys.error("no executor process found to kill")
            }
          }
        }
        q.processAllAvailable()
      } finally q.stop()
      val (n, fp) = fingerprint(spark.table(s"streamfault_$name"))
      (n, fp, (System.nanoTime() - t0) / 1e9, killedPid)
    }

    val (bRows, bFp, bWall, _) = run("baseline", None)
    println(f"[streamfault] baseline: rows=$bRows fp=$bFp wall=$bWall%.2fs")
    removed.set(0)
    val (kRows, kFp, kWall, killedPid) = run("killed", Some(0))
    println(f"[streamfault] killed:   rows=$kRows fp=$kFp wall=$kWall%.2fs")
    // the non-streaming twin on the same rows (watermark is a no-op on a
    // batch frame — Streams.hourlyWindows scaladoc)
    val (tRows, tFp) = fingerprint(graft.streaming.Streams.hourlyWindows(eventsDf))

    require(killedPid > 0, "kill never fired")
    require(removed.get() >= 1,
      s"driver never observed an executor removal (removed=${removed.get()})")
    require(bRows == kRows && bFp == kFp,
      s"killed stream differs from baseline: ($bRows,$bFp) vs ($kRows,$kFp)")
    require(bRows == tRows && bFp == tFp,
      s"stream differs from batch twin: ($bRows,$bFp) vs ($tRows,$tFp)")

    val json =
      f"""{"experiment":"streaming_executor_loss","sf":"$sfDir","master":"$master","shape":"hourlyWindows (stateful windowed agg, ${Chunks} file-fed micro-batches)","baseline":{"rows":$bRows,"fingerprint":$bFp,"wall_sec":$bWall%.2f},"killed":{"rows":$kRows,"fingerprint":$kFp,"wall_sec":$kWall%.2f,"killed_pid":$killedPid,"kill_after_batch":0,"executors_removed_seen":${removed.get()}},"batch_twin":{"rows":$tRows,"fingerprint":$tFp},"identical":true}"""
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAMFAULTLAB_OUT", "streamfaultlab.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))

    } finally {
      rm(new java.io.File(tmp))
      spark.stop()
    }
  }
}
