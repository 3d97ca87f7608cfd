package graft

import org.apache.spark.graftbridge.StorageBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Merge-vs-exchange cost attribution for the native as-of join
  * (VERDICT r8 next-round #6): `plans/AsOfJoin.scala`'s scaladoc claims
  * the O(|L|+|R|) merge is a small share of its stage (scan + two
  * exchanges + two sorts dominate), and whole-stage codegen of the merge
  * is only worth building if that stops being true at scale. This lab
  * MEASURES the share instead of arguing it.
  *
  * Method: task-time attribution by plan subtraction, at the physical
  * level so the optimizer can't elide the compared work.
  *
  *   native   — the exact [[graft.plans.AsOfJoin]] output drained via
  *              `executedPlan.execute()` with a per-partition row count
  *              (no collect, no final orderBy — the operator's own cost,
  *              not the presentation sort's).
  *   skeleton — the SAME two inputs pushed through the SAME physical
  *              shape minus the merge: hash repartition on the join key +
  *              sortWithinPartitions by (key, time[, tie]), each side
  *              drained the same way. Two jobs; TASK-TIME totals are
  *              additive and parallelism-independent, so
  *              merge_share = (task_native − task_skelL − task_skelR)
  *                            / task_native
  *              attributes exactly the merge + output-projection work.
  *
  * Wall seconds are reported too (min over reps) but the share is
  * computed from summed task time: each rep's executor run time, which
  * the status store totals per job group (`task_sec`). Run:
  *   SPARK_GRAFT_SF_DIR=testdata-sf10 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.AsOfLab"
  *
  * ROUND-10 second arm (`bucketed`): ASOFLAB_r09 measured the merge at
  * 11.9% of task time under the shuffle layout and named the revisit
  * condition — a layout where scan/exchange/sort stop dominating. This
  * arm WRITES both sides as bucketed tables (bucketBy(user_id)
  * sortBy(key, time[, tie]), one file per bucket so the scan reports
  * both the hash partitioning and the sort order), verifies the native
  * as-of plan on them carries ZERO Exchange and ZERO Sort nodes (the
  * LayoutSpec shape, now measured), and re-attributes:
  *   merge_share_bucketed = (task_native − task_scanL − task_scanR)
  *                          / task_native
  * where the skeletons are now BARE bucketed scans. If the merge share
  * exceeds ~50% here, whole-stage codegen of the merge is worth
  * building; below that, even the best layout leaves it I/O-bound.
  */
object AsOfLab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "testdata-sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val warehouse = java.nio.file.Files
      .createTempDirectory("graft_asoflab_wh").toString
    val spark = GraftSession.build(extra = Seq(
      "spark.sql.warehouse.dir" -> warehouse,
      // bucketed scans stopped reporting their sortBy order by default in
      // Spark 3.0 because multi-file buckets would need a merge to honor
      // it; the bucketed arm below writes EXACTLY one file per bucket
      // (repartition on the bucket column first), the one layout where
      // the propagated order is sound — and the whole point of the arm
      // is measuring the merge with scan-provided order, no Sort node
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true"))

    /** Consume every row of the frame's physical plan; returns row count.
      * Draining `executedPlan.execute()` directly keeps the exchanges and
      * sorts in the measured plan — a `count()` would prune them away. */
    def drain(df: DataFrame): Long =
      df.queryExecution.executedPlan.execute()
        .mapPartitions { it =>
          var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator(n)
        }.collect().sum

    final case class Arm(wall: Double, taskSec: Double, rows: Long)
    /** Min-wall rep of one arm; each rep runs under its own job group,
      * whose executor run time the status store sums. */
    def time(arm: String, mk: () => DataFrame): Arm = {
      val sc = spark.sparkContext
      (1 to reps).map { rep =>
        val ((rows, wall), t) = StorageBridge.inGroup(sc, s"asoflab_${arm}_$rep") {
          val t0 = System.nanoTime()
          val rows = drain(mk())
          (rows, (System.nanoTime() - t0) / 1e9)
        }
        Arm(wall, t.sum.runMs / 1e3, rows)
      }.minBy(_.wall)
    }

    def purchases: DataFrame = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    def clicks: DataFrame = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))

    def native: DataFrame = graft.plans.AsOfJoin(
      purchases, clicks, "user_id", "c_user", "ts", "click_ts", "click_id")
    def skelL: DataFrame = purchases.repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts")
    def skelR: DataFrame = clicks.repartition(col("c_user"))
      .sortWithinPartitions("c_user", "click_ts", "click_id")

    // warmup all three shapes (codegen/JIT outside the timed reps)
    drain(native); drain(skelL); drain(skelR)

    val n = time("native", () => native)
    val l = time("skeleton_left", () => skelL)
    val r = time("skeleton_right", () => skelR)
    require(n.rows == l.rows,
      s"left-outer as-of must preserve left cardinality: ${n.rows} vs ${l.rows}")
    val share = (n.taskSec - l.taskSec - r.taskSec) / n.taskSec
    def j(a: Arm) =
      f"""{"wall_sec":${a.wall}%.3f,"task_sec":${a.taskSec}%.3f,"rows":${a.rows}}"""

    // ---- arm 2: bucketed zero-Exchange layout ---------------------------
    // One file per bucket: repartition on the bucket column uses the same
    // murmur3-hash partitioning bucketBy does, so each write task holds
    // exactly one bucket — the single-file-per-bucket condition under
    // which the scan reports its sortBy order and the Sort is elided too.
    val buckets = cpus.toInt
    purchases.repartition(buckets, col("user_id"))
      .write.bucketBy(buckets, "user_id").sortBy("user_id", "ts")
      .mode("overwrite").saveAsTable("asoflab_purchases_b")
    clicks.repartition(buckets, col("c_user"))
      .write.bucketBy(buckets, "c_user").sortBy("c_user", "click_ts", "click_id")
      .mode("overwrite").saveAsTable("asoflab_clicks_b")
    def nativeB: DataFrame = graft.plans.AsOfJoin(
      spark.table("asoflab_purchases_b"), spark.table("asoflab_clicks_b"),
      "user_id", "c_user", "ts", "click_ts", "click_id")
    def scanL: DataFrame = spark.table("asoflab_purchases_b")
    def scanR: DataFrame = spark.table("asoflab_clicks_b")

    // machine-check the zero-Exchange/zero-Sort claim before timing it
    val planB = nativeB.queryExecution.executedPlan.toString
    val nExch = "Exchange".r.findAllIn(planB).length
    val nSort = raw"\bSort\b".r.findAllIn(planB).length
    require(nExch == 0 && nSort == 0,
      s"bucketed as-of plan must carry no Exchange/Sort, got $nExch/$nSort:\n" +
        planB.take(2000))

    drain(nativeB); drain(scanL); drain(scanR)
    val nb = time("bucketed_native", () => nativeB)
    val lb = time("scan_left", () => scanL)
    val rb = time("scan_right", () => scanR)
    require(nb.rows == n.rows,
      s"bucketed native must produce identical cardinality: ${nb.rows} vs ${n.rows}")
    val shareB = (nb.taskSec - lb.taskSec - rb.taskSec) / nb.taskSec

    println(s"""{"experiment":"asof_merge_share","sf":"$sfDir","reps":$reps,""" +
      s""""shuffle_layout":{"native":${j(n)},"skeleton_left":${j(l)},"skeleton_right":${j(r)},""" +
      f""""merge_share_of_task_time":$share%.3f},""" +
      s""""bucketed_layout":{"native":${j(nb)},"scan_left":${j(lb)},"scan_right":${j(rb)},""" +
      f""""merge_share_of_task_time":$shareB%.3f,"n_exchanges":$nExch,"n_sorts":$nSort,"buckets":$buckets}}""")
    spark.stop()
  }
}
