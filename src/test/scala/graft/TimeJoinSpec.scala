package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TimeJoin
import graft.plans.AsOfJoin

/** Temporal-join semantics on hand fixtures (tie rules, boundary rules)
  * plus the scale invariant that motivates the formulations: neither
  * operator may plan a nested-loop/cartesian pairing. */
class TimeJoinSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  // --- as-of -----------------------------------------------------------

  private lazy val quotes: DataFrame = Seq(
    // (id, key, t, px)
    (1L, "a", ts(100), 1.0),
    (2L, "a", ts(200), 2.0),
    (3L, "a", ts(200), 3.0),   // same-ts tie: greater id must win
    (4L, "b", ts(500), 4.0)
  ).toDF("event_id", "k", "ts", "px")

  private lazy val trades: DataFrame = Seq(
    (10L, "a", ts(50)),    // before any quote -> NULLs
    (11L, "a", ts(200)),   // equal ts counts; tie -> quote 3
    (12L, "a", ts(300)),   // latest prior -> quote 3
    (13L, "b", ts(400)),   // only later quotes on b -> NULLs
    (14L, "c", ts(100))    // key with no right side at all -> NULLs
  ).toDF("event_id", "k", "ts")

  // the native operator (events_asof's one implementation) and its
  // union+window reference form, each as event_id -> (quote id, px)
  private def byTrade(df: DataFrame) =
    df.select("event_id", "q_event_id", "q_px")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map { case (k, qid, px) => k -> ((qid, px)) }.toMap
  private lazy val forms = Seq(
    "native" -> byTrade(AsOfJoin(trades,
      quotes.select(quotes.columns.map(c => col(c).as("q_" + c)).toSeq: _*),
      "k", "q_k", "ts", "q_ts", "q_event_id")),
    "reference" -> byTrade(KernelRefs.asOfJoin(trades, quotes, Seq("k"),
      leftTime = "ts", rightTime = "ts",
      leftTie = "event_id", rightTie = "event_id",
      rightPayload = Seq("event_id", "px"), prefix = "q_")))

  test("asOfJoin: no-prior-row and no-right-key rows pass through with NULLs") {
    forms.foreach { case (form, asof) =>
      assert(asof(10L) === ((None, None)), form)
      assert(asof(13L) === ((None, None)), form)
      assert(asof(14L) === ((None, None)), form)
    }
  }

  test("asOfJoin: equal timestamps match, and the greatest tiebreak id wins") {
    forms.foreach { case (form, asof) =>
      assert(asof(11L) === ((Some(3L), Some(3.0))), form)
      assert(asof(12L) === ((Some(3L), Some(3.0))), form)
    }
  }

  test("asOfJoin: every left row survives exactly once (left-outer shape)") {
    forms.foreach { case (form, asof) => assert(asof.size === 5, form) }
  }

  test("asOfJoin rejects non-integral tie columns instead of NULLing them") {
    // a string id would order "9" above "10": the native operator refuses
    // it when the plan is built, before any row is read
    val badRight = quotes.select(col("event_id").cast("string").as("q_sid"),
      col("k").as("q_k"), col("ts").as("q_ts"))
    val e = intercept[IllegalArgumentException] {
      AsOfJoin(trades, badRight, "k", "q_k", "ts", "q_ts", "q_sid")
    }
    assert(e.getMessage.contains("tie column"))
  }

  // --- interval --------------------------------------------------------

  test("intervalJoin rejects non-positive bin widths") {
    val iv = Seq(("i1", "u", 100L, 200L)).toDF("iv_id", "k", "s_us", "e_us")
    val pts = Seq(("u", 100L)).toDF("k", "t_us")
    Seq(0L, -100L).foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        TimeJoin.intervalJoin(iv, pts, Seq("k"),
          col("s_us"), col("e_us"), col("t_us"), binUs = bad)
      }
      assert(e.getMessage.contains("binUs"))
    }
  }

  test("intervalJoin: half-open [start, end), bin-spanning, empty dropped") {
    val iv = Seq(
      ("i1", "u", 100L, 200L),  // catches t=100, t=150; NOT t=200
      ("i2", "u", 90L, 310L),   // spans 3+ bins with binUs=100
      ("i3", "u", 100L, 100L),  // empty -> matches nothing
      ("i4", "v", 0L, 1000L)    // other key -> never sees u's points
    ).toDF("iv_id", "k", "s_us", "e_us")
    val pts = Seq(
      ("u", 100L), ("u", 150L), ("u", 200L), ("u", 309L), ("u", 310L),
      ("w", 150L)
    ).toDF("k", "t_us")
    val got = TimeJoin.intervalJoin(iv, pts, Seq("k"),
        startUs = col("s_us"), endUs = col("e_us"), tUs = col("t_us"),
        binUs = 100L)
      .select("iv_id", "t_us").as[(String, Long)].collect().sorted.toSeq
    assert(got === Seq(
      ("i1", 100L), ("i1", 150L),
      ("i2", 100L), ("i2", 150L), ("i2", 200L), ("i2", 309L)))
  }

  test("intervalJoin matches the naive inequality join on the events table") {
    val ev = graft.sources.Tables.events(spark, sf)
    val a = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("iv_id"), col("user_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + 600000000L).as("e_us"))
    val b = ev.filter(col("event_type") === "error")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"))
    val fast = TimeJoin.intervalJoin(a, b, Seq("user_id"),
        col("s_us"), col("e_us"), col("t_us"), binUs = 600000000L)
      .select("iv_id", "t_us")
    val naive = a.join(b, Seq("user_id"))
      .filter(col("t_us") >= col("s_us") && col("t_us") < col("e_us"))
      .select("iv_id", "t_us")
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  // --- scale invariants ------------------------------------------------

  test("declared temporal queries plan no nested-loop or cartesian pairing") {
    Seq("events_asof", "events_interval").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$name pairs rows non-equi:\n${plan.take(1500)}")
    }
  }

  test("asOfJoin shuffles once on the key: single window over the union") {
    // the reference form the as-of specs compare against at sf: one
    // window over the union, so it stays cheap enough to run on the data
    val ev = graft.sources.Tables.events(spark, sf)
    val plan = KernelRefs.asOfJoin(
        ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts"),
        Seq("user_id"), leftTime = "ts", rightTime = "ts",
        leftTie = "event_id", rightTie = "event_id",
        rightPayload = Seq("event_id"), prefix = "click_")
      .orderBy("event_id").queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "expected the running-last window")
    // the union+window formulation needs exactly one keyed exchange (the
    // window partitioning) + the presentation sort's range exchange
    val n = "ShuffleExchange".r.findAllIn(plan).length
    assert(n <= 3, s"expected <= 3 exchanges, got $n:\n${plan.take(1500)}")
  }
}
