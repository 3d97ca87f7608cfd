package graft

import graft.operators.TimeJoin
import graft.plans.{AsOfJoin, AsOfJoinExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

class AsOfNativeSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("native == composed: identical rows on the sf events data") {
    val cols = Seq("event_id", "user_id", "ts", "value", "click_id",
      "click_ts", "gap_us").map(col)
    val native = TimeJoin.qAsof(spark, sf).select(cols: _*)
      .collect().map(_.toString).toList
    // events_asof re-derived through the union+window reference form
    val ev = graft.sources.Tables.events(spark, sf)
    val composed = KernelRefs.asOfJoin(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value"),
        ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts"),
        Seq("user_id"), leftTime = "ts", rightTime = "ts",
        leftTie = "event_id", rightTie = "event_id",
        rightPayload = Seq("event_id"), prefix = "click_")
      .withColumnRenamed("click_event_id", "click_id")
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("click_ts")))
      .orderBy("event_id").select(cols: _*)
      .collect().map(_.toString).toList
    assert(native.nonEmpty && native === composed,
      "the custom exec and the union+window form must agree row for row")
  }

  test("merge semantics: <= match, max-tie on co-timestamps, outer nulls") {
    val left = Seq((10L, 1L, ts(100)), (11L, 1L, ts(50)), (12L, 2L, ts(100)))
      .toDF("l_id", "user", "lts")
    val right = Seq(
      (1L, 1L, ts(100)), (2L, 1L, ts(100)),  // co-timestamped: tie 2 wins
      (3L, 1L, ts(60)),                      // after left 11's ts(50)
      (4L, 3L, ts(10)))                      // key with no left rows
      .toDF("r_id", "r_user", "rts")
    val out = AsOfJoin(left, right, "user", "r_user", "lts", "rts", "r_id")
      .orderBy("l_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getLong(3))).toList
    // l 10: rts<=100 on user 1 -> {1,2,3}, max (time, tie) = r_id 2
    // l 11: nothing at or before ts(50) -> NULL
    // l 12: user 2 has no right rows -> NULL
    assert(out === List((10L, 2L), (11L, null), (12L, null)), s"got $out")
  }

  test("multi-key: second key component partitions the match stream") {
    // same user, two "days" (long key component): the day boundary must
    // reset the candidate even though user continues
    val left = Seq((10L, 1L, 100L, ts(100)), (11L, 1L, 200L, ts(300)))
      .toDF("l_id", "user", "day", "lts")
    val right = Seq(
      (1L, 1L, 100L, ts(90)),   // day 100: matches l 10
      (2L, 1L, 200L, ts(90)))   // day 200: matches l 11, NOT l 10
      .toDF("r_id", "r_user", "r_day", "rts")
    val out = AsOfJoin(left, right, Seq("user", "day"), Seq("r_user", "r_day"),
      "lts", "rts", "r_id", inner = false)
      .orderBy("l_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(4)) null else r.getLong(4))).toList
    assert(out === List((10L, 1L), (11L, 2L)), s"got $out")
  }

  test("inner variant drops unmatched left rows; outer keeps them") {
    val left = Seq((10L, 1L, ts(100)), (11L, 2L, ts(100))).toDF("l_id", "user", "lts")
    val right = Seq((1L, 1L, ts(50))).toDF("r_id", "r_user", "rts")
    def run(inner: Boolean) =
      AsOfJoin(left, right, Seq("user"), Seq("r_user"), "lts", "rts", "r_id",
        inner = inner).orderBy("l_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getLong(3))).toList
    assert(run(inner = false) === List((10L, 1L), (11L, null)))
    assert(run(inner = true) === List((10L, 1L)))
  }

  test("null key component never matches: outer null-pads, inner drops") {
    val left = Seq(
      (10L, Some(1L), ts(100)),
      (11L, None, ts(100)))   // null user can match nothing
      .toDF("l_id", "user", "lts")
    val right = Seq(
      (1L, Some(1L), ts(50)),
      (2L, Option.empty[Long], ts(50)))  // null right key matches nothing
      .toDF("r_id", "r_user", "rts")
    def run(inner: Boolean) =
      AsOfJoin(left, right, Seq("user"), Seq("r_user"), "lts", "rts", "r_id",
        inner = inner).orderBy("l_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getLong(3))).toList
    assert(run(inner = false) === List((10L, 1L), (11L, null)))
    assert(run(inner = true) === List((10L, 1L)))
  }

  test("multi-key query: native matches the window-composed form") {
    // independent re-derivation of qAsofMulti through the composed
    // union+window operator over a (user, day) synthetic key
    val ev = graft.sources.Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("day"),
        col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        to_date(col("ts")).as("day"), col("ts"))
    val composed = KernelRefs.asOfJoin(purchases, clicks, Seq("user_id", "day"),
      leftTime = "ts", rightTime = "ts",
      leftTie = "event_id", rightTie = "click_id",
      rightPayload = Seq("click_id"), prefix = "m_")
      .select(col("event_id"), col("m_click_id").as("click_id"),
        col("m_ts").as("click_ts"))
      .orderBy("event_id").collect().map(_.toString).toList
    val native = TimeJoin.qAsofMulti(spark, sf)
      .select(col("event_id"), col("click_id"), col("click_ts"))
      .orderBy("event_id").collect().map(_.toString).toList
    assert(native === composed)
  }

  test("plan: AsOfJoinExec with exactly one exchange+sort per side") {
    val df = TimeJoin.qAsof(spark, sf)
    // inspect the initial physical plan (pre-materialization): after AQE
    // stages materialize, collect() can no longer descend into them
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val execs = plan.collect { case e: AsOfJoinExec => e }
    assert(execs.length == 1, s"expected the custom exec in:\n$plan")
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // 2 key exchanges feeding the merge + the presentation sort's range
    // partitioning — never a nested-loop (which would have zero, and be
    // quadratic instead)
    assert(shuffles.length <= 3,
      s"as-of must shuffle each side once on the key, got ${shuffles.length}")
    val sorts = execs.head.children.flatMap(_.collectFirst {
      case s: org.apache.spark.sql.execution.SortExec => s
    })
    assert(sorts.length == 2, "EnsureRequirements must sort both sides")
  }
}
