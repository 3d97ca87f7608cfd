package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Num.{dbl, dec}
import graft.sources.Tables

/** Temporal joins Spark's built-in operators don't express directly:
  * point-in-time (as-of) join and interval-containment join.
  *
  * Both are implemented in their scale-safe shapes, NOT as inequality
  * joins — Catalyst plans a non-equi join condition as a broadcast
  * nested-loop, which is O(|L|·|R|) per key and disqualifying at 100 TB:
  *
  *  - as-of: the native [[graft.plans.AsOfJoin]] operator — both sides
  *    hash-clustered and sorted on the key, then one streaming merge
  *    pass with O(1) state per partition. Its union+window reference
  *    form lives in test scope (`KernelRefs.asOfJoin`).
  *  - interval: quantize time into fixed bins; intervals replicate to
  *    the bins they overlap (≤ ⌈len/bin⌉ + 1 rows), points map to exactly
  *    one bin, and the pairing is a keyed EQUI-join on (key, bin) with a
  *    residual containment filter — candidate count is bounded by bin
  *    occupancy, never |points|·|intervals|.
  *
  * Time is compared in integer epoch MICROSECONDS throughout (interval
  * arithmetic differs subtly across engines; integer µs do not — same
  * discipline as [[Events]]).
  */
object TimeJoin {

  /** Interval-containment join: `points` rows falling inside a half-open
    * interval `[startUs, endUs)` of `intervals` rows sharing `key`.
    * Inner semantics; aggregate and re-join for outer counts.
    *
    * `binUs` is the quantization width — choose it near the typical
    * interval length so each interval replicates to ~2 bins. Empty
    * intervals (end <= start) match nothing and are dropped before the
    * explode (Spark's `sequence(a, b)` would otherwise run BACKWARD for
    * b < a and fabricate bins).
    *
    * `startUs`/`endUs`/`tUs` are expressions over the respective inputs
    * yielding epoch-µs longs.
    */
  def intervalJoin(intervals: DataFrame, points: DataFrame, key: Seq[String],
                   startUs: Column, endUs: Column, tUs: Column,
                   binUs: Long): DataFrame = {
    require(binUs > 0, s"intervalJoin binUs must be positive, got $binUs")
    // integral `div`, never `/`: epoch-µs values near 2^53 would truncate
    // wrong under double division (same discipline as Tables.events)
    val iv = intervals
      .withColumn("__s", startUs).withColumn("__e", endUs)
      .filter(col("__e") > col("__s"))
      .withColumn("__bin",
        explode(sequence(expr(s"__s div $binUs"), expr(s"(__e - 1) div $binUs"))))
    val pt = points
      .withColumn("__pt", tUs)
      .withColumn("__bin", expr(s"__pt div $binUs"))
    iv.join(pt, key :+ "__bin")
      .filter(col("__pt") >= col("__s") && col("__pt") < col("__e"))
      .drop("__s", "__e", "__bin", "__pt")
  }

  // -------------------------------------------------------------------
  // Declared queries over `events`
  // -------------------------------------------------------------------

  /** For each purchase, the most recent prior click by the same user:
    * attribution, the canonical as-of use, through the native operator
    * ([[graft.plans.AsOfJoin]]). gap_us measures click-to-buy latency;
    * purchases with no prior click pass through with NULLs. */
  def qAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    graft.plans.AsOfJoin(purchases, clicks, "user_id", "c_user",
        "ts", "click_ts", "click_id")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("click_id"), col("click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  /** Composite-key as-of through the native operator: for each purchase,
    * the most recent prior click by the same user ON THE SAME CALENDAR
    * DAY — the (user_id, day) two-component equi-key exercises the
    * multi-key merge (the day boundary resets the match even though the
    * user continues). Left-outer: purchases with no same-day prior click
    * keep NULLs. */
  def qAsofMulti(s: SparkSession, dir: String): DataFrame =
    asOfMultiBase(s, dir, inner = false)

  /** The inner variant of [[qAsofMulti]]: only purchases that DO have a
    * same-day prior click survive — the merge skips unmatched left rows
    * instead of null-padding them. */
  def qAsofInner(s: SparkSession, dir: String): DataFrame =
    asOfMultiBase(s, dir, inner = true)

  private def asOfMultiBase(s: SparkSession, dir: String, inner: Boolean): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("day"),
        col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        to_date(col("ts")).as("c_day"), col("ts").as("click_ts"))
    graft.plans.AsOfJoin(purchases, clicks,
        Seq("user_id", "day"), Seq("c_user", "c_day"),
        "ts", "click_ts", "click_id", inner = inner)
      .select(col("event_id"), col("user_id"), col("day"), col("ts"),
        col("value"), col("click_id"), col("click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  private def asOfMultiSql(joinKind: String): String =
    s"""WITH p AS (SELECT event_id, user_id, CAST(ts AS DATE) AS day, ts, value
       |           FROM events WHERE event_type = 'purchase'),
       |c AS (SELECT event_id AS click_id, user_id, CAST(ts AS DATE) AS day, ts
       |      FROM events WHERE event_type = 'click'),
       |j AS (
       |  SELECT p.event_id, p.user_id, p.day, p.ts, p.value,
       |         c.click_id, c.ts AS click_ts,
       |         row_number() OVER (PARTITION BY p.event_id
       |                            ORDER BY c.ts DESC, c.click_id DESC) AS rn
       |  FROM p $joinKind JOIN c ON c.user_id = p.user_id
       |    AND c.day = p.day AND c.ts <= p.ts)
       |SELECT event_id, user_id, day, ts, value, click_id, click_ts,
       |       epoch_us(ts) - epoch_us(click_ts) AS gap_us
       |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  def qAsofMultiSql: String = asOfMultiSql("LEFT")
  def qAsofInnerSql: String = asOfMultiSql("INNER")

  def qAsofSql: String =
    """WITH p AS (SELECT event_id, user_id, ts, value FROM events
      |           WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, ts FROM events
      |      WHERE event_type = 'click'),
      |j AS (
      |  SELECT p.event_id, p.user_id, p.ts, p.value,
      |         c.click_id, c.ts AS click_ts,
      |         row_number() OVER (PARTITION BY p.event_id
      |                            ORDER BY c.ts DESC, c.click_id DESC) AS rn
      |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts)
      |SELECT event_id, user_id, ts, value, click_id, click_ts,
      |       epoch_us(ts) - epoch_us(click_ts) AS gap_us
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  val IntervalMin = 30L
  private val IntervalUs = IntervalMin * 60L * 1000000L

  /** Errors within 30 minutes after each signup, per user — the
    * interval-join instantiation: signup opens a [ts, ts+30min) window,
    * same-user error events inside it are counted. Outer semantics via
    * re-join: signups with a quiet half-hour report n_errors = 0. */
  def qInterval(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("err_ts"), col("value"))
    val hits = intervalJoin(signups, errors, Seq("user_id"),
      startUs = unix_micros(col("ts")),
      endUs = unix_micros(col("ts")) + IntervalUs,
      tUs = unix_micros(col("err_ts")),
      binUs = IntervalUs)
    val counts = hits.groupBy("signup_id")
      .agg(count(lit(1)).as("n_errors"), sum(dec(col("value"))).as("sv"))
    signups.join(counts, Seq("signup_id"), "left")
      .select(col("signup_id"), col("user_id"), col("ts"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"),
        dbl(col("sv")).as("sum_value"))
      .orderBy("signup_id")
  }

  def qIntervalSql: String =
    s"""WITH s AS (SELECT event_id AS signup_id, user_id, ts FROM events
       |           WHERE event_type = 'signup'),
       |e AS (SELECT user_id, ts AS err_ts, value FROM events
       |      WHERE event_type = 'error')
       |SELECT s.signup_id, s.user_id, s.ts,
       |       COUNT(e.err_ts) AS n_errors,
       |       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
       |FROM s LEFT JOIN e ON e.user_id = s.user_id
       |  AND epoch_us(e.err_ts) >= epoch_us(s.ts)
       |  AND epoch_us(e.err_ts) < epoch_us(s.ts) + $IntervalUs
       |GROUP BY s.signup_id, s.user_id, s.ts
       |ORDER BY signup_id""".stripMargin
}
