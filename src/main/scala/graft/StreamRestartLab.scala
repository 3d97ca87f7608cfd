package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming crash-recovery proof: SIGKILL an ENTIRE checkpointed
  * streaming driver JVM mid-run, restart it from the same checkpoint, and
  * require the finalized sink to be row-identical to an uninterrupted run
  * AND to the DuckDB-gated batch twin. The streaming analog of
  * [[FaultLab]] (which kills one executor under a live driver): here the
  * failure domain is the whole process — offsets log, state store, and
  * file-sink metadata must re-synchronize from durable checkpoint state
  * alone, which is exactly the recovery contract a 100 TB deployment
  * leans on when a driver pod is rescheduled.
  *
  * Pipeline under test: file-stream source (maxFilesPerTrigger=1, the
  * deployment source shape) → [[graft.streaming.Streams.sessionize]] —
  * the most stateful operator in the streaming layer (custom
  * `flatMapGroupsWithState` machine, EventTimeTimeout, µs-exact session
  * arithmetic) → parquet file sink (Append). What the kill therefore
  * exercises end-to-end on restart:
  *
  *   - the offsets log replays the in-flight micro-batch (its offset was
  *     written, its commit was not);
  *   - every user's open-session state reloads from the HDFS-backed
  *     state store's last committed version — not from the lost heap;
  *   - the file sink's `_spark_metadata` log hides any orphan part files
  *     the killed attempt left behind, so the batch read of the output
  *     directory sees EXACTLY-ONCE results despite the re-execution.
  *
  * Method:
  *   1. stage the sf events table as ~26 single-file, time-sliced,
  *      mtime-ordered chunks (sessionize's in-order delivery contract)
  *      plus two far-future sentinel files that advance the watermark and
  *      fire the timeout batch, finalizing every real session.
  *   2. reference run — a CHILD driver JVM streams all files
  *      uninterrupted; orderless fingerprint of the sink.
  *   3. crash run — a fresh child on fresh checkpoint/output dirs; the
  *      parent polls `<ckpt>/commits` and SIGKILLs the child
  *      (`destroyForcibly`, no shutdown hooks) once ~1/3 of the batches
  *      have committed; requires the done-marker is absent (mid-stream).
  *   4. resume run — the same child command on the SAME dirs completes
  *      the stream.
  *   5. the artifact REQUIRES: kill landed mid-stream, and
  *      reference ≡ crash+resume ≡ batch `Events.sessions`, by count and
  *      orderless fingerprint (sum of per-row xxhash64 in decimal —
  *      long sums of full-range hashes would overflow under ANSI).
  *
  * Run: SPARK_GRAFT_SF_DIR=testdata-sf1 sbt "runMain graft.StreamRestartLab"
  */
object StreamRestartLab {
  /** Orderless fingerprint of finalized sessions (sentinel users removed):
    * shared by the two streaming sinks and the batch twin. */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.filter(col("user_id") >= 0)
      .agg(count(lit(1)).as("n"),
        sum(xxhash64(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("sum_value")).cast("decimal(38,0)")).as("fp"))
      .collect()(0)
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** Child driver: its own SparkSession + streaming query, so the parent
    * can SIGKILL the whole process. Exits 0 and writes the done marker
    * only after `processAllAvailable` drains every staged file. */
  private def childMain(staging: String, ckpt: String, out: String,
                        marker: String): Unit = {
    // fixedCpus with the fixed master: this deliberately-sized child
    // session must not half-drift with a leaked SPARK_GRAFT_CPUS
    // (ADVICE r13) — master and shuffle width are one sizing decision
    val spark = GraftSession.build(master = Some("local[8]"), fixedCpus = Some("8"))
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[graft.streaming.Streams.Event].schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(staging)
    val q = graft.streaming.Streams.sessionize(stream.as[graft.streaming.Streams.Event])
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .format("parquet")
      .start(out)
    q.processAllAvailable()
    q.stop()
    Files.write(Paths.get(marker), "done\n".getBytes("UTF-8"))
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 5 && args(0) == "child") {
      childMain(args(1), args(2), args(3), args(4)); return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "testdata-sf1")
    // µs precision on the staged chunks: sessionize's gap/order
    // arithmetic and the batch twin both work in exact epoch-µs
    // (TIMESTAMP_MICROS output is part of the fold)
    val spark = GraftSession.build(master = Some("local[32]"), fixedCpus = Some("32"))
    import spark.implicits._

    val tmp = Files.createTempDirectory("graft_streamrestart").toString
    val staging = s"$tmp/staging"
    new File(staging).mkdirs()

    // ---- stage time-sliced, mtime-ordered single-file chunks ----------
    val eventsDf = graft.sources.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val ordered = eventsDf.orderBy("ts", "event_id")
      .as[graft.streaming.Streams.Event].collect()
    val maxTsMs = ordered.last.ts.getTime
    def sentinel(offH: Int) = graft.streaming.Streams.Event(-1L - offH,
      new java.sql.Timestamp(maxTsMs + (240L + offH) * 3600 * 1000), -1L, "signup", 0.0)
    val chunks: Seq[Seq[graft.streaming.Streams.Event]] =
      ordered.grouped(math.max(1, ordered.length / 26)).map(_.toSeq).toSeq ++
        Seq(Seq(sentinel(0)), Seq(sentinel(1)))
    val baseMtime = System.currentTimeMillis() - chunks.length * 4000L
    chunks.zipWithIndex.foreach { case (c, i) =>
      val scratch = s"$tmp/scratch_$i"
      spark.createDataset(c).coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new File(scratch).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $scratch"))
      val dst = new File(staging, f"chunk_$i%03d.parquet")
      Files.move(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
      // strictly increasing mtimes: FileStreamSource drains oldest-first,
      // which is what makes maxFilesPerTrigger=1 deliver the slices in
      // time order (the sessionize contract)
      dst.setLastModified(baseMtime + i * 2000L)
    }
    val nFiles = chunks.length
    println(s"[streamrestart] staged $nFiles chunk files (${ordered.length} events + 2 sentinels)")

    // ---- child process plumbing ---------------------------------------
    def launch(tag: String, ckpt: String, out: String, marker: String): Process =
      GraftSession.launchChild("graft.StreamRestartLab",
        Seq("child", staging, ckpt, out, marker), "6g", new File(s"$tmp/child_$tag.log"))
    def commits(ckpt: String): Int = {
      val d = new File(s"$ckpt/commits")
      if (!d.isDirectory) 0
      else d.listFiles().count(f => f.getName.forall(_.isDigit))
    }

    // ---- reference run (uninterrupted) --------------------------------
    val refCkpt = s"$tmp/ref_ckpt"; val refOut = s"$tmp/ref_out"
    val refMarker = s"$tmp/ref_done"
    val t0 = System.nanoTime()
    val refProc = launch("ref", refCkpt, refOut, refMarker)
    require(refProc.waitFor() == 0 && new File(refMarker).exists(),
      s"reference child failed — see $tmp/child_ref.log")
    val refWall = (System.nanoTime() - t0) / 1e9
    val refCommits = commits(refCkpt)
    val (refRows, refFp) = fingerprint(spark.read.parquet(refOut))
    println(f"[streamrestart] reference: rows=$refRows fp=$refFp " +
      f"commits=$refCommits wall=$refWall%.1fs")

    // ---- crash run: SIGKILL once ~1/3 of the batches committed --------
    val cCkpt = s"$tmp/crash_ckpt"; val cOut = s"$tmp/crash_out"
    val cMarker = s"$tmp/crash_done"
    val killThreshold = math.max(2, refCommits / 3)
    val t1 = System.nanoTime()
    val crashProc = launch("crash", cCkpt, cOut, cMarker)
    val deadline = System.nanoTime() + 600L * 1000000000L
    while (commits(cCkpt) < killThreshold && crashProc.isAlive &&
      System.nanoTime() < deadline) Thread.sleep(100)
    val commitsAtKill = commits(cCkpt)
    require(crashProc.isAlive && !new File(cMarker).exists(),
      s"child finished before the kill (commits=$commitsAtKill) — mid-stream kill impossible")
    val killedPid = crashProc.pid()
    crashProc.destroyForcibly()
    crashProc.waitFor()
    val killWall = (System.nanoTime() - t1) / 1e9
    println(f"[streamrestart] SIGKILLed driver pid=$killedPid at " +
      f"$commitsAtKill/$refCommits commits ($killWall%.1fs)")
    require(commitsAtKill < refCommits,
      "kill landed after every batch committed — not a mid-stream crash")

    // ---- resume run: same checkpoint + output dirs --------------------
    val t2 = System.nanoTime()
    val resumeProc = launch("resume", cCkpt, cOut, cMarker)
    require(resumeProc.waitFor() == 0 && new File(cMarker).exists(),
      s"resume child failed — see $tmp/child_resume.log")
    val resumeWall = (System.nanoTime() - t2) / 1e9
    val totalCommits = commits(cCkpt)
    // metadata-log read: FileStreamSink's _spark_metadata hides orphan
    // part files from the killed attempt — this IS the exactly-once view
    val (cRows, cFp) = fingerprint(spark.read.parquet(cOut))
    println(f"[streamrestart] crash+resume: rows=$cRows fp=$cFp " +
      f"commits=$totalCommits resume_wall=$resumeWall%.1fs")

    // ---- batch twin ---------------------------------------------------
    val (bRows, bFp) = fingerprint(graft.operators.Events.sessions(eventsDf)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value"))

    val identical = refRows == cRows && refFp == cFp && refRows == bRows && refFp == bFp
    require(identical, s"outputs differ: reference ($refRows, $refFp) vs " +
      s"crash+resume ($cRows, $cFp) vs batch ($bRows, $bFp)")
    val json =
      f"""{"experiment":"stream_crash_restart","sf":"$sfDir","query":"file-stream -> sessionize (flatMapGroupsWithState) -> parquet sink","input_files":$nFiles,"events":${ordered.length},"reference":{"rows":$refRows,"fingerprint":$refFp,"commits":$refCommits,"wall_sec":$refWall%.1f},"crash":{"killed_pid":$killedPid,"commits_at_kill":$commitsAtKill,"kill_wall_sec":$killWall%.1f,"resume_wall_sec":$resumeWall%.1f,"total_commits":$totalCommits,"rows":$cRows,"fingerprint":$cFp},"batch_twin":{"rows":$bRows,"fingerprint":$bFp},"identical":$identical}"""
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAMRESTART_OUT", "streamrestart.json")
    Files.write(Paths.get(outPath), (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
