package graft

import org.apache.spark.graftbridge.StorageBridge

/** Shuffle-byte scaling audit: run a representative set of declared
  * queries at one sf and record, per query, the TOTAL shuffle bytes
  * written/read and input bytes scanned (task-metric truth, summed per
  * job group by Spark's status store, not plan-shape inference). Run at
  * sf1 and sf10 and
  * the ratio answers the question wall-clock alone can't: does the
  * NETWORK cost — the thing that actually saturates first on a
  * 1000-executor cluster — grow linearly with the data, or is a
  * quadratic candidate explosion hiding inside an operator that still
  * looks fine on wall time in one JVM (where "shuffle" is a memcpy)?
  *
  * PlanAuditSpec already bounds the NUMBER of Exchanges per query; this
  * lab bounds their VOLUME scaling, which is the other half of the 100 TB
  * shuffle story — a single well-shaped Exchange that carries 50× the
  * bytes for 10× the rows is a bottleneck no exchange-count audit sees.
  * (Precedent: the r9 demo embed banding was exactly such a case — its
  * quadratic candidate mass was invisible in exchange counts and was
  * caught by pair-mass measurement; this artifact generalizes that check
  * to the whole heavy-query family.)
  *
  * Method notes:
  *   - One fresh JVM per sf (the shell wrapper runs the lab twice): the
  *     sf10 dedup family spills tens of GB; sharing a JVM across sfs
  *     would let storage pressure bleed between measurements.
  *   - Each query runs under its own job group; its totals are read
  *     after the listener bus drains (the bus is async; a fixed sleep
  *     would race slow-draining queues).
  *   - Queries run through the same noop-sink action as Bench, warmed at
  *     sf0.001 so codegen/JIT compilation is not billed as scan work.
  *
  * Run:  SPARK_GRAFT_SF_DIR=testdata-sf1  SPARK_GRAFT_SHUFFLELAB_OUT=shuffle_sf1.json \
  *         sbt "runMain graft.ShuffleLab"
  *       then again with testdata-sf10; tools/shuffle_ratio.py merges.
  */
object ShuffleLab {
  /** The shuffle-heavy half of the declared surface: every dedup family
    * member, the composite pipelines, the text/TF-IDF shuffles, the
    * sessionization and native as-of joins, and two KPI star-join
    * representatives as a low-water control. */
  val Queries: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash", "dedup_jaccard", "dedup_simhash",
    "dedup_fuzzy", "dedup_incremental", "dedup_embed_scaled", "dedup_clusters",
    "pipeline_curate", "pipeline_decontam", "text_heavy", "text_tfidf",
    "events_sessions", "events_asof", "similar_topk",
    "kpi_by_dept", "kpi_anomalies_at_scale")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "testdata-sf1")
    val warmDir = "/root/testdata/sf0.001"
    // Adjudication knobs: SPARK_GRAFT_SHUFFLELAB_QUERIES narrows the run
    // to a comma-separated subset; SPARK_GRAFT_BCAST_MB re-runs it under a
    // raised broadcast threshold (to separate a broadcast→SMJ regime flip
    // from genuine superlinear shuffle growth — the kpi_by_dept case).
    val queries = sys.env.get("SPARK_GRAFT_SHUFFLELAB_QUERIES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Queries)
    val builds = SparkEntry.select(queries)
    val bcastMb = sys.env.getOrElse("SPARK_GRAFT_BCAST_MB", "10")
    val spark = GraftSession.build(extra = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> s"${bcastMb}MB"))

    val sc = spark.sparkContext
    def sweep(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      val rt = Runtime.getRuntime
      if (rt.totalMemory - rt.freeMemory > rt.maxMemory / 2) System.gc()
    }

    // warmup at sf0.001: compile the plan shapes outside the measurement
    queries.foreach { name =>
      try builds(name)(spark, warmDir)
        .write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => () }
    }
    sweep()

    val results = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { name =>
      val (wall, g) = StorageBridge.inGroup(sc, s"shufflelab_$name") {
        val t0 = System.nanoTime()
        builds(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      val t = g.sum
      results(name) =
        f"""{"wall_sec":$wall%.2f,"shuffle_write_bytes":${t.shuffleWriteBytes},"shuffle_read_bytes":${t.shuffleReadBytes},"shuffle_records":${t.shuffleWriteRecords},"input_bytes":${t.inputBytes}}"""
      println(f"[shufflelab] $name: wall=$wall%.2fs " +
        f"write=${t.shuffleWriteBytes / 1048576.0}%.1fMB read=${t.shuffleReadBytes / 1048576.0}%.1fMB " +
        f"input=${t.inputBytes / 1048576.0}%.1fMB")
      sweep()
    }

    val json = results.map { case (n, j) => s""""$n":$j""" }
      .mkString(s"""{"experiment":"shuffle_bytes","sf":"$sfDir","queries":{""", ",", "}}")
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SHUFFLELAB_OUT", "shufflelab.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
