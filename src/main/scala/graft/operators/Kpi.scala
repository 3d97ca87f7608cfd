package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Num._
import graft.sources.Tables
import graft.sources.Tables.{dblSql, factSql, inMonthSql}

/** The reference's five analytic endpoints (`src/api.py:13-275`) rebuilt as
  * native Spark DataFrame programs over the testdata star schema. Each query
  * has a colocated DuckDB oracle string computing the same result.
  *
  * Default parameters (month literals etc.) are fixed so the driver contract
  * `(SparkSession, sfDir) => DataFrame` stays parameterless; the builders are
  * parameterized for library use.
  */
object Kpi {
  val M1 = "1997-03"
  val M2 = "1997-04"
  val AnomThreshold = 1.0
  val AnomLimit = 20
  // Non-default params for the declared dept-filtered variant, so the P8
  // Option branch AND non-default threshold/limit run under the oracle gate
  // (round-1 ADVICE: these paths shipped unverified).
  val AnomDept = "NATION_10"
  val AnomDeptThreshold = 0.5
  val AnomDeptLimit = 10

  // -------------------------------------------------------------------
  // /kpi/summary (reference src/api.py:21-43): company-wide one-month KPIs.
  // Ungrouped multi-SUM (A1) + COUNT(DISTINCT) headcount (A2) + null-guarded
  // derived ratios (P15).
  // -------------------------------------------------------------------
  def summary(s: SparkSession, dir: String, m: String = M1): DataFrame = {
    val f = Tables.fact(s, dir, Seq(m))
    f.agg(
        dbl(sum(col("gross") + col("bonus") + col("overtime"))).as("fot"),
        dbl(sum("taxes")).as("taxes"),
        dbl(sum("gross")).as("gross"),
        dbl(sum("net")).as("net"),
        dbl(sum("fte")).as("fte"),
        countDistinct("emp_id").as("headcount"))
      .withColumn("tax_share", ratio(col("taxes"), col("gross")))
      .withColumn("avg_net_per_fte", ratio(col("net"), col("fte")))
  }

  /** P17: the reference 404s when the month has no data (`api.py:39-40`
    * checks `gross IS NULL`). Caller-side guard, not an engine operator:
    * None ⇔ HTTP 404. */
  def summaryOpt(s: SparkSession, dir: String, m: String = M1): Option[org.apache.spark.sql.Row] = {
    val row = summary(s, dir, m).head()
    if (row.isNullAt(row.fieldIndex("gross"))) None else Some(row)
  }

  /** Approximate-distinct variant (SURVEY §7.1 step 8): HyperLogLog++
    * headcount next to the exact one, with the observed relative error.
    * At 100 TB the exact two-phase distinct is a full shuffle of all
    * emp_ids; the HLL sketch is a constant-size mergeable state — this
    * query documents the accuracy trade. No DuckDB oracle (sketch values
    * are engine-specific); gated by the rows-only check + KpiSpec's
    * relative-error bound. */
  def headcountApprox(s: SparkSession, dir: String, m: String = M1): DataFrame = {
    val f = Tables.fact(s, dir, Seq(m))
    f.agg(
        countDistinct("emp_id").as("exact"),
        approx_count_distinct("emp_id", 0.02).as("approx"))
      // empty month: exact = approx = 0 is a perfect estimate, not a
      // divide-by-zero NULL (ADVICE r02)
      .withColumn("rel_err",
        when(col("exact") === 0, lit(0.0))
          .otherwise(abs(col("approx") - col("exact")).cast("double") / col("exact")))
  }

  /** Tolerance bound the HLL audit holds the sketch to (2.5× its 0.02
    * configured rsd — the sketch is deterministic, so this is a stable
    * property of the data, not a flaky statistical check). */
  val ApproxTol = 0.05

  /** Oracle-gated audit of the HLL sketch: emits the EXACT headcount and
    * whether the approx landed within [[ApproxTol]] of it. The estimate
    * itself is engine-specific (DuckDB's HLL differs), so
    * [[headcountApprox]] stays rows-only — but "the sketch is within its
    * error budget" is an engine-independent boolean the hash gate CAN
    * check: the oracle emits `true`, so a drifting sketch flips the bit
    * and fails the gate. Same single-pass plan as headcountApprox. */
  def headcountAudit(s: SparkSession, dir: String, m: String = M1): DataFrame =
    headcountApprox(s, dir, m).select(
      col("exact").as("headcount"),
      (col("rel_err") <= ApproxTol).as("approx_ok"))

  /** Rows+schema oracle for [[headcountApprox]] (VERDICT r8 next-round
    * #5): the HLL estimate is engine-specific, so the VALUE comparison
    * is waived BY DESIGN — the oracle reproduces the exact row count and
    * the exact schema (exact, approx, rel_err), substituting the exact
    * distinct for the sketch value. The driver row therefore reads
    * rows_match=true, schema_match=true, hash_match=false with no err —
    * the hash flag records the expected engine divergence, not a defect.
    * The engine-independent property (estimate within [[ApproxTol]] of
    * exact) is fully hash-gated by [[headcountAudit]]. */
  def headcountApproxOracleSql(m: String = M1): String =
    s"""WITH ${Tables.factSql(Tables.inMonthSql("o.o_orderdate", m))}
       |SELECT COUNT(DISTINCT emp_id) AS "exact", COUNT(DISTINCT emp_id) AS "approx",
       |       CAST(0.0 AS DOUBLE) AS "rel_err"
       |FROM fact""".stripMargin

  def headcountAuditSql(m: String = M1): String =
    s"""WITH ${Tables.factSql(Tables.inMonthSql("o.o_orderdate", m))}
       |SELECT COUNT(DISTINCT emp_id) AS headcount, true AS approx_ok
       |FROM fact""".stripMargin

  /** Oracle-gated audit of the t-digest-family quantile sketch, same
    * pattern as [[headcountAudit]]: `percentile_approx` at accuracy
    * 10000 guarantees rank error <= 1e-4, so the estimate must land
    * between the exact p45 and p55 — an engine-independent boolean
    * (the sketch value itself is engine-specific and never emitted).
    * Exact + approx percentiles ride ONE aggregate pass over the fact. */
  def quantileAudit(s: SparkSession, dir: String, m: String = M1): DataFrame = {
    val f = Tables.fact(s, dir, Seq(m))
      .withColumn("net_d", dbl(col("net")))
    f.agg(
        percentile_approx(col("net_d"), lit(0.5), lit(10000)).as("approx_med"),
        expr("percentile(net_d, 0.45)").as("p45"),
        expr("percentile(net_d, 0.5)").as("p50"),
        expr("percentile(net_d, 0.55)").as("p55"))
      .select(col("p50").as("exact_median"),
        (col("approx_med") >= col("p45") && col("approx_med") <= col("p55"))
          .as("approx_ok"))
  }

  def quantileAuditSql(m: String = M1): String =
    s"""WITH ${factSql(inMonthSql("o.o_orderdate", m))}
       |SELECT quantile_cont(CAST(net AS DOUBLE), 0.5) AS exact_median,
       |       true AS approx_ok
       |FROM fact""".stripMargin

  def summarySql(m: String = M1): String =
    s"""WITH ${factSql(inMonthSql("o.o_orderdate", m))},
       |agg AS (
       |  SELECT ${dblSql("SUM(gross + bonus + overtime)")} AS fot,
       |         ${dblSql("SUM(taxes)")} AS taxes,
       |         ${dblSql("SUM(gross)")} AS gross,
       |         ${dblSql("SUM(net)")} AS net,
       |         ${dblSql("SUM(fte)")} AS fte,
       |         COUNT(DISTINCT emp_id) AS headcount
       |  FROM fact
       |)
       |SELECT fot, taxes, gross, net, fte, headcount,
       |       CASE WHEN gross <> 0 THEN taxes / gross END AS tax_share,
       |       CASE WHEN fte <> 0 THEN net / fte END AS avg_net_per_fte
       |FROM agg""".stripMargin

  // -------------------------------------------------------------------
  // /kpi/by-dept (src/api.py:46-72): per-department grouped agg (A3) over
  // the star join (J1), presentation order (O1).
  // -------------------------------------------------------------------
  def byDept(s: SparkSession, dir: String, m: String = M1): DataFrame = {
    val f = Tables.fact(s, dir, Seq(m))
    f.groupBy("dept")
      .agg(
        dbl(sum("gross")).as("gross"),
        dbl(sum("bonus")).as("bonus"),
        dbl(sum("overtime")).as("overtime"),
        dbl(sum(col("gross") + col("bonus") + col("overtime"))).as("fot"),
        dbl(sum("net")).as("net"),
        dbl(sum("taxes")).as("taxes"),
        dbl(sum("fte")).as("fte"),
        countDistinct("emp_id").as("headcount"))
      .orderBy("dept")
  }

  def byDeptSql(m: String = M1): String =
    s"""WITH ${factSql(inMonthSql("o.o_orderdate", m))}
       |SELECT dept,
       |       ${dblSql("SUM(gross)")} AS gross,
       |       ${dblSql("SUM(bonus)")} AS bonus,
       |       ${dblSql("SUM(overtime)")} AS overtime,
       |       ${dblSql("SUM(gross + bonus + overtime)")} AS fot,
       |       ${dblSql("SUM(net)")} AS net,
       |       ${dblSql("SUM(taxes)")} AS taxes,
       |       ${dblSql("SUM(fte)")} AS fte,
       |       COUNT(DISTINCT emp_id) AS headcount
       |FROM fact GROUP BY dept ORDER BY dept""".stripMargin

  // -------------------------------------------------------------------
  // /kpi/delta company-wide (src/api.py:109-130): single-pass conditional
  // aggregation (A4) producing the reference's exact output shape:
  // gross/bonus/overtime/fot deltas, coalesced to 0 when a month is empty
  // (the reference's Python `or 0`, src/api.py:127-137).
  //
  // The reference scans the WHOLE fact table with CASE WHEN month = m;
  // months other than m1/m2 contribute zeros, so the result is identical
  // when we pre-filter to the two months — which lets the predicate push
  // into the scan (at 100 TB: two partitions read instead of all).
  // -------------------------------------------------------------------
  private def deltaArm(m: String, c: Column): Column =
    sum(when(col("month") === m, c).otherwise(dec(lit(0))))

  def deltaCompany(s: SparkSession, dir: String, m1: String = M1, m2: String = M2): DataFrame = {
    val f = Tables.fact(s, dir, Seq(m1, m2))
    f.agg(
        deltaArm(m1, col("gross")).as("g1"), deltaArm(m2, col("gross")).as("g2"),
        deltaArm(m1, col("bonus")).as("b1"), deltaArm(m2, col("bonus")).as("b2"),
        deltaArm(m1, col("overtime")).as("o1"), deltaArm(m2, col("overtime")).as("o2"))
      .select(
        dbl(coalesce(col("g2") - col("g1"), dec(lit(0)))).as("gross_delta"),
        dbl(coalesce(col("b2") - col("b1"), dec(lit(0)))).as("bonus_delta"),
        dbl(coalesce(col("o2") - col("o1"), dec(lit(0)))).as("overtime_delta"),
        dbl(coalesce(
          (col("g2") - col("g1")) + (col("b2") - col("b1")) + (col("o2") - col("o1")),
          dec(lit(0)))).as("fot_delta"))
  }

  def deltaCompanySql(m1: String = M1, m2: String = M2): String =
    s"""WITH ${factSql(s"${inMonthSql("o.o_orderdate", m1)} OR ${inMonthSql("o.o_orderdate", m2)}")},
       |agg AS (
       |  SELECT
       |    SUM(CASE WHEN month = '$m1' THEN gross ELSE CAST(0 AS DECIMAL(18,4)) END) AS g1,
       |    SUM(CASE WHEN month = '$m2' THEN gross ELSE CAST(0 AS DECIMAL(18,4)) END) AS g2,
       |    SUM(CASE WHEN month = '$m1' THEN bonus ELSE CAST(0 AS DECIMAL(18,4)) END) AS b1,
       |    SUM(CASE WHEN month = '$m2' THEN bonus ELSE CAST(0 AS DECIMAL(18,4)) END) AS b2,
       |    SUM(CASE WHEN month = '$m1' THEN overtime ELSE CAST(0 AS DECIMAL(18,4)) END) AS o1,
       |    SUM(CASE WHEN month = '$m2' THEN overtime ELSE CAST(0 AS DECIMAL(18,4)) END) AS o2
       |  FROM fact
       |)
       |SELECT ${dblSql("COALESCE(g2 - g1, 0)")} AS gross_delta,
       |       ${dblSql("COALESCE(b2 - b1, 0)")} AS bonus_delta,
       |       ${dblSql("COALESCE(o2 - o1, 0)")} AS overtime_delta,
       |       ${dblSql("COALESCE((g2 - g1) + (b2 - b1) + (o2 - o1), 0)")} AS fot_delta
       |FROM agg""".stripMargin

  // -------------------------------------------------------------------
  // /kpi/delta per-dept (src/api.py:77-108): the reference runs two
  // per-month star-join aggregates and FULL OUTER JOINs them on dept (J4)
  // with COALESCE->0 (P11). Semantically that equals ONE pass over rows of
  // either month with conditional-sum arms per month: a dept appears iff it
  // has rows in >= 1 of the two months, and the arm contributes exactly 0
  // for the month where it is absent — the same 0 the COALESCE produces.
  //
  // We implement the single-pass form (round-1 VERDICT flagged the 2-scan
  // full-outer version as `weak` at 100 TB: it read the fact table twice).
  // One scan, one shuffle; J4/P11 semantics preserved by construction.
  // -------------------------------------------------------------------
  def deltaByDept(s: SparkSession, dir: String, m1: String = M1, m2: String = M2): DataFrame = {
    val f = Tables.fact(s, dir, Seq(m1, m2))
    f.groupBy("dept")
      .agg(
        deltaArm(m1, col("gross")).as("g1"), deltaArm(m2, col("gross")).as("g2"),
        deltaArm(m1, col("bonus")).as("b1"), deltaArm(m2, col("bonus")).as("b2"),
        deltaArm(m1, col("overtime")).as("o1"), deltaArm(m2, col("overtime")).as("o2"))
      .select(
        col("dept"),
        dbl(col("g2") - col("g1")).as("gross_delta"),
        dbl(col("b2") - col("b1")).as("bonus_delta"),
        dbl(col("o2") - col("o1")).as("overtime_delta"),
        dbl((col("g2") - col("g1")) + (col("b2") - col("b1")) + (col("o2") - col("o1")))
          .as("fot_delta"))
      .orderBy("dept")
  }

  def deltaByDeptSql(m1: String = M1, m2: String = M2): String =
    s"""WITH ${factSql(s"${inMonthSql("o.o_orderdate", m1)} OR ${inMonthSql("o.o_orderdate", m2)}")},
       |agg AS (
       |  SELECT dept,
       |    SUM(CASE WHEN month = '$m1' THEN gross ELSE CAST(0 AS DECIMAL(18,4)) END) AS g1,
       |    SUM(CASE WHEN month = '$m2' THEN gross ELSE CAST(0 AS DECIMAL(18,4)) END) AS g2,
       |    SUM(CASE WHEN month = '$m1' THEN bonus ELSE CAST(0 AS DECIMAL(18,4)) END) AS b1,
       |    SUM(CASE WHEN month = '$m2' THEN bonus ELSE CAST(0 AS DECIMAL(18,4)) END) AS b2,
       |    SUM(CASE WHEN month = '$m1' THEN overtime ELSE CAST(0 AS DECIMAL(18,4)) END) AS o1,
       |    SUM(CASE WHEN month = '$m2' THEN overtime ELSE CAST(0 AS DECIMAL(18,4)) END) AS o2
       |  FROM fact GROUP BY dept
       |)
       |SELECT dept,
       |       ${dblSql("g2 - g1")} AS gross_delta,
       |       ${dblSql("b2 - b1")} AS bonus_delta,
       |       ${dblSql("o2 - o1")} AS overtime_delta,
       |       ${dblSql("(g2 - g1) + (b2 - b1) + (o2 - o1)")} AS fot_delta
       |FROM agg ORDER BY dept""".stripMargin

  // -------------------------------------------------------------------
  // Engine-surface extensions beyond the reference's five endpoints:
  // month-series trend (lag window), ROLLUP grouping sets, and a pivot —
  // the analytics shapes a payroll user reaches for next, each over the
  // same pushed-range star join.
  // -------------------------------------------------------------------
  val TrendMonths: Seq[String] = (1 to 6).map(m => f"1997-$m%02d")

  /** Month-over-month per-dept trend: monthly gross, previous month's
    * (lag over the dept series), and the exact relative change. One
    * star-join pass (all months pushed as an OR of ranges), one keyed
    * agg, one window over the tiny (dept, month) aggregate — the window
    * input is |depts|×|months| rows, never fact rows. */
  def trend(s: SparkSession, dir: String, months: Seq[String] = TrendMonths): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables.fact(s, dir, months)
      .groupBy("dept", "month").agg(sum("gross").as("g"))
    val w = Window.partitionBy("dept").orderBy("month")
    monthly
      .withColumn("pg", lag("g", 1).over(w))
      .select(col("dept"), col("month"), dbl(col("g")).as("gross"),
        dbl(col("pg")).as("prev_gross"),
        when(col("pg").isNotNull && dbl(col("pg")) =!= 0.0,
          (dbl(col("g")) - dbl(col("pg"))) / dbl(col("pg"))).as("mom_change"))
  }

  def qTrend(s: SparkSession, dir: String): DataFrame =
    trend(s, dir).orderBy("dept", "month")

  def trendSql(months: Seq[String] = TrendMonths): String = {
    val pred = months.map(m => inMonthSql("o.o_orderdate", m)).mkString(" OR ")
    s"""WITH ${factSql(pred)},
       |monthly AS (SELECT dept, month, SUM(gross) AS g FROM fact GROUP BY dept, month),
       |lagd AS (
       |  SELECT dept, month, ${dblSql("g")} AS gross,
       |         ${dblSql("lag(g) OVER (PARTITION BY dept ORDER BY month)")} AS prev_gross
       |  FROM monthly)
       |SELECT dept, month, gross, prev_gross,
       |       CASE WHEN prev_gross IS NOT NULL AND prev_gross <> 0
       |            THEN (gross - prev_gross) / prev_gross END AS mom_change
       |FROM lagd ORDER BY dept, month""".stripMargin
  }

  /** Trailing 3-month moving aggregate over the company month series — a
    * ROWS-frame window on top of the one-shuffle monthly agg. The frame
    * sums stay in exact decimal (order-free) and only the final
    * projection casts to double, so the ratio is one deterministic IEEE
    * division in both engines. The ungrouped window runs on the
    * months-sized aggregate (single partition by design — dim-sized, like
    * the dept surrogate-key window). */
  def movingAvg(s: SparkSession, dir: String, months: Seq[String] = TrendMonths): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables.fact(s, dir, months)
      .groupBy("month").agg(sum("gross").as("g"))
    val w3 = Window.orderBy("month").rowsBetween(-2, 0)
    monthly.select(col("month"), dbl(col("g")).as("gross"),
        dbl(sum("g").over(w3)).as("gross_3m"),
        count(lit(1)).over(w3).as("n_3m"))
      .withColumn("gross_3m_avg", col("gross_3m") / col("n_3m"))
  }

  def qMovingAvg(s: SparkSession, dir: String): DataFrame =
    movingAvg(s, dir).orderBy("month")

  def movingAvgSql(months: Seq[String] = TrendMonths): String = {
    val pred = months.map(m => inMonthSql("o.o_orderdate", m)).mkString(" OR ")
    s"""WITH ${factSql(pred)},
       |monthly AS (SELECT month, SUM(gross) AS g FROM fact GROUP BY month)
       |SELECT month, ${dblSql("g")} AS gross,
       |       ${dblSql("SUM(g) OVER w")} AS gross_3m,
       |       COUNT(*) OVER w AS n_3m,
       |       ${dblSql("SUM(g) OVER w")} / (COUNT(*) OVER w) AS gross_3m_avg
       |FROM monthly
       |WINDOW w AS (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |ORDER BY month""".stripMargin
  }

  /** Cohort retention over the analysis window: each employee (customer)
    * joins the cohort of their first active month in the window; each
    * (cohort, month) cell counts how many of that cohort are active that
    * month, with the rate as a fraction of cohort size. The classic
    * retention-matrix query, built scale-first:
    *
    *   - the month window pushes to the orders scan as OR'd ranges (no
    *     derived-column filter);
    *   - the raw fact shuffles EXACTLY ONCE: one emp-keyed aggregate
    *     yields both the cohort (min month) and the active-month set —
    *     `collect_set` state is bounded by |window months| (≤12), so the
    *     partials combine map-side and per-group memory is O(1). The
    *     naive shape (DISTINCT, then a min-agg, then a self-join to
    *     attach cohorts) shuffles the reduced set two more times for
    *     identical output;
    *   - cohort sizes fall out of the matrix itself (the months_since=0
    *     cell IS the cohort size — every cohort has one by construction),
    *     read back with a window over the |months|²-sized cells, never a
    *     third aggregate + join.
    *
    * months_since is pure integer month arithmetic (y*12+m), exact in
    * both engines; the rate is one IEEE division of exact longs. */
  def retention(s: SparkSession, dir: String, months: Seq[String] = TrendMonths): DataFrame =
    retentionFrom(Tables.orders(s, dir), months)

  def retentionFrom(o: DataFrame, months: Seq[String] = TrendMonths): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def mIdx(c: Column): Column =
      substring(c, 1, 4).cast("int") * 12 + substring(c, 6, 2).cast("int")
    val perEmp = o
      .filter(months.map(m => Tables.inMonth(o("o_orderdate"), m)).reduce(_ || _))
      .select(col("o_custkey").as("emp_id"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .groupBy("emp_id")
      .agg(min("month").as("cohort_month"), collect_set("month").as("months"))
    val cells = perEmp
      .select(col("cohort_month"), explode(col("months")).as("month"))
      .groupBy("cohort_month", "month").agg(count(lit(1)).as("n_active"))
    cells
      .withColumn("months_since", mIdx(col("month")) - mIdx(col("cohort_month")))
      .withColumn("cohort_size",
        max(when(col("months_since") === 0, col("n_active")))
          .over(Window.partitionBy("cohort_month")))
      .select(col("cohort_month"), col("months_since"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
  }

  def qRetention(s: SparkSession, dir: String): DataFrame =
    retention(s, dir).orderBy("cohort_month", "months_since")

  def retentionSql(months: Seq[String] = TrendMonths): String = {
    val pred = months.map(m => inMonthSql("o_orderdate", m)).mkString(" OR ")
    s"""WITH active AS (
       |  SELECT DISTINCT o_custkey AS emp_id,
       |         strftime(o_orderdate, '%Y-%m') AS month
       |  FROM orders WHERE $pred),
       |cohort AS (
       |  SELECT emp_id, MIN(month) AS cohort_month FROM active GROUP BY emp_id),
       |sizes AS (
       |  SELECT cohort_month, COUNT(*) AS cohort_size FROM cohort GROUP BY cohort_month),
       |cells AS (
       |  SELECT c.cohort_month, a.month, COUNT(*) AS n_active
       |  FROM active a JOIN cohort c USING (emp_id)
       |  GROUP BY c.cohort_month, a.month)
       |SELECT cohort_month,
       |       (CAST(substr(month, 1, 4) AS INT) * 12 + CAST(substr(month, 6, 2) AS INT))
       |       - (CAST(substr(cohort_month, 1, 4) AS INT) * 12 + CAST(substr(cohort_month, 6, 2) AS INT))
       |         AS months_since,
       |       n_active, cohort_size,
       |       CAST(n_active AS DOUBLE) / cohort_size AS retention
       |FROM cells JOIN sizes USING (cohort_month)
       |ORDER BY cohort_month, months_since""".stripMargin
  }

  val WinsorLo = 0.05
  val WinsorHi = 0.95

  /** Per-dept winsorized totals: net clamped to the dept's [p05, p95]
    * before summing — the robust-aggregation companion to the anomalies
    * MAD pipeline (outliers bounded instead of reported). The
    * percentiles are DISCRETE order statistics (`percentile_disc`), not
    * interpolated: the boundary is an actual data value, so the clamp
    * and the sums stay in exact decimal end to end — no
    * double-interpolation enters the additive path, and the final cast
    * to double is the only boundary (same discipline as every money
    * aggregate here). Tiny per-dept bounds broadcast back onto the
    * fact; one keyed shuffle each side. */
  def winsorize(s: SparkSession, dir: String, m: String = M1,
                pLo: Double = WinsorLo, pHi: Double = WinsorHi): DataFrame =
    winsorizeFrom(Tables.fact(s, dir, Seq(m)), pLo, pHi)

  def winsorizeFrom(fact: DataFrame, pLo: Double = WinsorLo,
                    pHi: Double = WinsorHi): DataFrame = {
    val f = fact.select(col("dept"), col("net"))
    // Spark's percentile_disc returns DOUBLE even over decimal input
    // (unlike DuckDB's quantile_disc, which preserves the input type).
    // Left as double, the clamp would coerce `wnet` — and the whole
    // additive path — to double, whose sum is addition-order-dependent:
    // at sf1 the sum diverged from the oracle by 1 ULP. A discrete
    // percentile is an actual data value (≤15 significant digits for
    // this money type), so casting back to net's decimal type recovers
    // it exactly and keeps the clamp+sum in exact decimal, as the
    // contract above requires. (The oracle has the dual problem:
    // DuckDB's GREATEST/LEAST promote DECIMAL operands to DOUBLE even
    // when quantile_disc preserved the type, so winsorizeSql clamps
    // with CASE WHEN — comparison + branch select keep DECIMAL.)
    val netT = f.schema("net").dataType
    val bounds = f.groupBy("dept").agg(
      expr(s"percentile_disc($pLo) WITHIN GROUP (ORDER BY net)")
        .cast(netT).as("lo"),
      expr(s"percentile_disc($pHi) WITHIN GROUP (ORDER BY net)")
        .cast(netT).as("hi"))
    // NULL discipline: a missing net contributes NOTHING to the
    // winsorized sum (both sums skip it identically). Spark's
    // greatest/least SKIP nulls — unguarded, a NULL net would clamp to
    // a bound and contribute it to the sum, silently diverging from the
    // oracle's CASE WHEN (which propagates NULL into SUM's skip).
    // Guarding makes both engines null-dropping by construction.
    f.join(broadcast(bounds), "dept")
      .withColumn("wnet", when(col("net").isNotNull,
        greatest(least(col("net"), col("hi")), col("lo"))))
      .groupBy("dept")
      .agg(count(lit(1)).as("n"),
        dbl(sum(col("net"))).as("sum_net"),
        dbl(sum(col("wnet"))).as("sum_winsorized"),
        dbl(min(col("lo"))).as("p05"), dbl(min(col("hi"))).as("p95"))
  }

  def qWinsorize(s: SparkSession, dir: String): DataFrame =
    winsorize(s, dir).orderBy("dept")

  def winsorizeSql(m: String = M1, pLo: Double = WinsorLo,
                   pHi: Double = WinsorHi): String =
    s"""WITH ${factSql(inMonthSql("o.o_orderdate", m))},
       |b AS (
       |  SELECT dept, quantile_disc(net, $pLo) AS lo, quantile_disc(net, $pHi) AS hi
       |  FROM fact GROUP BY dept)
       |SELECT f.dept, COUNT(*) AS n,
       |       ${dblSql("SUM(f.net)")} AS sum_net,
       |       ${dblSql("""SUM(CASE WHEN f.net > b.hi THEN b.hi
       |          WHEN f.net < b.lo THEN b.lo ELSE f.net END)""".stripMargin)} AS sum_winsorized,
       |       CAST(MIN(b.lo) AS DOUBLE) AS p05, CAST(MIN(b.hi) AS DOUBLE) AS p95
       |FROM fact f JOIN b USING (dept)
       |GROUP BY f.dept ORDER BY dept""".stripMargin

  /** Inactive-customer report: employees (customers) with NO fact row in
    * the month — the LEFT ANTI join surfaced as analytics (it is also
    * the upsert path's conflict-detection shape, Merge.insertIfAbsent).
    * The anti join's right side is just the month's distinct keys —
    * column-pruned to one column at the scan, aggregated per dept so
    * the output stays dim-sized. At test scale AQE broadcasts the key
    * set; at 100 TB both sides hash-partition on the key, which is the
    * plan an anti join wants. */
  def inactive(s: SparkSession, dir: String, m: String = M1): DataFrame = {
    val o = Tables.orders(s, dir)
    val activeKeys = o.filter(Tables.inMonth(o("o_orderdate"), m))
      .select(col("o_custkey").as("c_custkey"))
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    c.join(activeKeys, Seq("c_custkey"), "left_anti")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("dept"))
      .agg(count(lit(1)).as("n_inactive"),
        dbl(sum(dec(col("c_acctbal")))).as("sum_acctbal"))
  }

  def qInactive(s: SparkSession, dir: String): DataFrame =
    inactive(s, dir).orderBy("dept")

  def inactiveSql(m: String = M1): String =
    s"""SELECT n.n_name AS dept, COUNT(*) AS n_inactive,
       |       ${dblSql("SUM(CAST(c.c_acctbal AS DECIMAL(18,4)))")} AS sum_acctbal
       |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM orders o
       |  WHERE o.o_custkey = c.c_custkey AND ${inMonthSql("o.o_orderdate", m)})
       |GROUP BY n.n_name ORDER BY dept""".stripMargin

  /** Finest-grain pre-aggregate shared by [[rollup]] and [[cube]]: one
    * keyed hash agg of the fact rows in EXACT decimal (the additive
    * measures grouping sets re-aggregate from). Why this exists
    * (VERDICT r15 #3): Spark plans `GROUP BY ROLLUP/CUBE` as
    * `Expand × |grouping sets|` over its INPUT — the fact rows — so the
    * grouping-set aggregate's stage was one CPU-bound ~3× fact-sized
    * pass (~99 s task CPU at sf10, the kpi_rollup floor). Aggregating to
    * the (dept, month) grain FIRST costs the same single fact shuffle as
    * the plain agg (map-side combinable), and the Expand then multiplies
    * |groups| rows (dims × months — dozens), not |fact|. Decimal sums
    * are exact and associative, so two-level summation is bit-identical
    * to the one-shot sums; COUNT re-aggregates as SUM of group counts. */
  private def rollupBase(s: SparkSession, dir: String, m1: String, m2: String): DataFrame =
    Tables.fact(s, dir, Seq(m1, m2))
      .groupBy(col("dept"), col("month"))
      .agg(sum("gross").as("g"), sum("net").as("nt"), count(lit(1)).as("c"))

  /** ROLLUP(dept, month): per-(dept, month) sums, per-dept subtotals,
    * grand total — grouping sets over the [[rollupBase]] pre-aggregate,
    * so the fact rows are touched once and the Expand runs on a
    * groups-sized input. gid disambiguates levels exactly as the
    * engines' shared GROUPING semantics define (bit per column). */
  def rollup(s: SparkSession, dir: String, m1: String = M1, m2: String = M2): DataFrame = {
    // Column args, not string names: Spark 4.1's ambiguous-self-join
    // detector rejects rollup("dept","month") on a join-derived frame
    // (string-name grouping resolves through dataset-id metadata that
    // the rollup expansion duplicates); rollup(col(...)) is equivalent
    // and resolves cleanly. grouping_id() is an aggregate-context
    // expression — it must be computed IN the agg, not a later projection.
    rollupBase(s, dir, m1, m2).rollup(col("dept"), col("month"))
      .agg(dbl(sum("g")).as("gross"), dbl(sum("nt")).as("net"),
        sum("c").as("n"), grouping_id().cast("int").as("gid"))
      .select(coalesce(col("dept"), lit("ALL")).as("dept"),
        coalesce(col("month"), lit("ALL")).as("month"),
        col("gross"), col("net"), col("n"), col("gid"))
  }

  def qRollup(s: SparkSession, dir: String): DataFrame =
    rollup(s, dir).orderBy("gid", "dept", "month")

  def rollupSql(m1: String = M1, m2: String = M2): String =
    s"""WITH ${factSql(s"${inMonthSql("o.o_orderdate", m1)} OR ${inMonthSql("o.o_orderdate", m2)}")}
       |SELECT COALESCE(dept, 'ALL') AS dept, COALESCE(month, 'ALL') AS month,
       |       ${dblSql("SUM(gross)")} AS gross, ${dblSql("SUM(net)")} AS net,
       |       COUNT(*) AS n, CAST(GROUPING(dept, month) AS INT) AS gid
       |FROM fact GROUP BY ROLLUP(dept, month)
       |ORDER BY gid, dept, month""".stripMargin

  /** CUBE(dept, month): all four grouping sets — (dept,month), dept
    * subtotals, month subtotals, grand total — over the same
    * [[rollupBase]] pre-aggregate as [[rollup]] (the Expand ×4 runs on
    * groups, not fact rows); the month-subtotal level is what CUBE adds
    * over ROLLUP. */
  def cube(s: SparkSession, dir: String, m1: String = M1, m2: String = M2): DataFrame = {
    rollupBase(s, dir, m1, m2).cube(col("dept"), col("month"))
      .agg(dbl(sum("g")).as("gross"), dbl(sum("nt")).as("net"),
        sum("c").as("n"), grouping_id().cast("int").as("gid"))
      .select(coalesce(col("dept"), lit("ALL")).as("dept"),
        coalesce(col("month"), lit("ALL")).as("month"),
        col("gross"), col("net"), col("n"), col("gid"))
  }

  def qCube(s: SparkSession, dir: String): DataFrame =
    cube(s, dir).orderBy("gid", "dept", "month")

  def cubeSql(m1: String = M1, m2: String = M2): String =
    s"""WITH ${factSql(s"${inMonthSql("o.o_orderdate", m1)} OR ${inMonthSql("o.o_orderdate", m2)}")}
       |SELECT COALESCE(dept, 'ALL') AS dept, COALESCE(month, 'ALL') AS month,
       |       ${dblSql("SUM(gross)")} AS gross, ${dblSql("SUM(net)")} AS net,
       |       COUNT(*) AS n, CAST(GROUPING(dept, month) AS INT) AS gid
       |FROM fact GROUP BY CUBE(dept, month)
       |ORDER BY gid, dept, month""".stripMargin

  val Quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)

  /** Exact multi-quantile per dept: ONE percentile aggregate evaluating
    * all four cut points over a single sort of each group's values —
    * not four separate aggregates. Input is cast to double BEFORE the
    * aggregate so both engines interpolate over identical IEEE values.
    * The oracle deliberately uses the opposite formulation (four scalar
    * quantile_cont aggregates + UNION ALL unpivot) — agreeing results
    * check the interpolation semantics, not a shared code path. */
  def quartiles(s: SparkSession, dir: String, m: String = M1): DataFrame = {
    val f = Tables.fact(s, dir, Seq(m))
    val ps = Quantiles
    f.groupBy("dept")
      .agg(expr(s"percentile(CAST(net AS DOUBLE), array(${ps.mkString(", ")}))").as("qs"))
      .select(col("dept"), posexplode(col("qs")))
      .select(col("dept"),
        element_at(typedLit(ps), col("pos") + 1).as("p"),
        col("col").as("net_q"))
  }

  def qQuartiles(s: SparkSession, dir: String): DataFrame =
    quartiles(s, dir).orderBy("dept", "p")

  def quartilesSql(m: String = M1): String = {
    val aggs = Quantiles.zipWithIndex.map { case (p, i) =>
      s"quantile_cont(CAST(net AS DOUBLE), $p) AS q$i" }.mkString(", ")
    val arms = Quantiles.zipWithIndex.map { case (p, i) =>
      s"SELECT dept, CAST($p AS DOUBLE) AS p, q$i AS net_q FROM q" }
      .mkString("\n  UNION ALL ")
    s"""WITH ${factSql(inMonthSql("o.o_orderdate", m))},
       |q AS (SELECT dept, $aggs FROM fact GROUP BY dept)
       |$arms
       |ORDER BY dept, p""".stripMargin
  }

  /** Pivot: months as columns (explicit value list — no discovery job,
    * deterministic column set), dept rows. A dept with no rows in a
    * month yields NULL, matching the conditional-sum-over-NULL oracle. */
  def pivot(s: SparkSession, dir: String, months: Seq[(String, String)] = PivotMonths): DataFrame = {
    val f = Tables.fact(s, dir, months.map(_._1))
    val p = f.groupBy("dept").pivot("month", months.map(_._1)).agg(dbl(sum("gross")))
    months.foldLeft(p) { case (d, (m, alias)) => d.withColumnRenamed(m, alias) }
  }

  /** (month, output column alias): aliased because bare "1997-03" column
    * names are legal in both engines but easy to mis-quote in SQL. */
  val PivotMonths: Seq[(String, String)] = Seq(M1 -> "gross_m1", M2 -> "gross_m2")

  def qPivot(s: SparkSession, dir: String): DataFrame =
    pivot(s, dir).orderBy("dept")

  def pivotSql(months: Seq[(String, String)] = PivotMonths): String = {
    val pred = months.map { case (m, _) => inMonthSql("o.o_orderdate", m) }.mkString(" OR ")
    val arms = months.map { case (m, alias) =>
      dblSql(s"SUM(CASE WHEN month = '$m' THEN gross END)") + s" AS $alias"
    }.mkString(",\n       ")
    s"""WITH ${factSql(pred)}
       |SELECT dept,
       |       $arms
       |FROM fact GROUP BY dept ORDER BY dept""".stripMargin
  }

  // -------------------------------------------------------------------
  // /kpi/anomalies (corrected second route, src/api.py:201-275): per-dept
  // robust z-score over employee monthly net.
  //   data -> median(net) per dept (A5, EXACT percentile)
  //        -> |net - med| -> median per dept (MAD)
  //        -> z = 0.6745 (net - med) / mad, NULL when MAD = 0 (P10/P12)
  //        -> ORDER BY COALESCE(ABS(z),0) DESC LIMIT k (O2)
  //        -> post-LIMIT threshold filter where NULL-z rows PASS (O4 +
  //           SURVEY §2.7 bug note: `z is not None and abs(z) < threshold`
  //           skips, so z IS NULL rows are kept).
  // Employee-month net here = sum of o_totalprice per (customer, month).
  // emp_id is added to the ORDER BY as a deterministic tiebreaker (in the
  // oracle too) and z is compared via its 6-decimal rounding so ulp-level
  // interpolation differences between engines cannot reorder ties.
  // -------------------------------------------------------------------
  def anomalies(s: SparkSession, dir: String, m: String = M1,
                threshold: Double = AnomThreshold, limit: Int = AnomLimit,
                dept: Option[String] = None,
                scalableMedian: Boolean = false): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val base = o
      .filter(Tables.inMonth(o("o_orderdate"), m))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(o("o_custkey").as("emp_id"), n("n_name").as("dept"),
        dec(o("o_totalprice")).as("p"))
    val data0 = base.groupBy("emp_id", "dept").agg(dbl(sum("p")).as("net"))
    val data = dept.fold(data0)(d => data0.filter(col("dept") === d))
    anomaliesFrom(data, threshold, limit, scalableMedian)
  }

  /** Core of the anomalies pipeline over a prepared `(emp_id, dept, net)`
    * frame — split out so the MAD/z semantics (NULL-z passthrough,
    * post-LIMIT threshold filter) are unit-testable on hand-built fixtures
    * independent of the star-join readers. */
  def anomaliesFrom(data: DataFrame, threshold: Double = AnomThreshold,
                    limit: Int = AnomLimit, scalableMedian: Boolean = false): DataFrame = {
    // Two exact-median strategies, same numbers (ScalableMedianSpec pins
    // equality): the built-in ObjectHashAggregate `median` buffers each
    // group in memory — right for bounded groups (25 depts); the
    // sort-based order-statistics variant spills — right when a group
    // can be arbitrarily large (SURVEY §7.2 hard part).
    def med1(df: DataFrame, c: String, alias: String): DataFrame =
      if (scalableMedian) graft.functions.ScalableMedian.median(df, Seq("dept"), c, alias)
      else df.groupBy("dept").agg(median(col(c)).as(alias))
    val med = med1(data, "net", "med")
    val dev = data.join(med, "dept").withColumn("absdev", abs(col("net") - col("med")))
    val mad = med1(dev, "absdev", "mad")
    val z = dev
      .join(mad, "dept")
      .withColumn("z",
        when(coalesce(col("mad"), lit(0.0)) === 0.0, lit(null).cast("double"))
          .otherwise(round(lit(0.6745) * (col("net") - col("med")) / col("mad"), 6)))
    val topk = z
      .orderBy(coalesce(abs(col("z")), lit(0.0)).desc, col("emp_id").asc)
      .limit(limit)
    // cents through DECIMAL(38,6), as the oracle does: a double median
    // such as 246677.60499999998 is the half-cent .605 both engines
    // must round up, which a double ROUND rounds down
    def cents(c: String): Column = dbl(round(col(c).cast("decimal(38,6)"), 2))
    topk
      .filter(col("z").isNull || abs(col("z")) >= threshold)
      .select(col("emp_id"), col("dept"), cents("net").as("net"),
        cents("med").as("median_net"), cents("mad").as("mad"), col("z"))
      .orderBy(coalesce(abs(col("z")), lit(0.0)).desc, col("emp_id").asc)
  }

  def anomaliesSql(m: String = M1, threshold: Double = AnomThreshold,
                   limit: Int = AnomLimit, dept: Option[String] = None): String = {
    // sqlLit escapes quotes — a dept value can be arbitrary user input
    // (ADVICE r01: unescaped splice broke/altered the oracle query).
    val deptPred = dept.fold("TRUE")(d => s"dept = ${Tables.sqlLit(d)}")
    def cents(c: String): String = dblSql(s"ROUND(CAST($c AS DECIMAL(38,6)), 2)")
    s"""WITH data AS (
       |  SELECT o.o_custkey AS emp_id, n.n_name AS dept,
       |         ${dblSql("SUM(CAST(o.o_totalprice AS DECIMAL(18,4)))")} AS net
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  WHERE ${inMonthSql("o.o_orderdate", m)}
       |  GROUP BY o.o_custkey, n.n_name
       |),
       |fdata AS (SELECT * FROM data WHERE $deptPred),
       |med AS (SELECT dept, percentile_cont(0.5) WITHIN GROUP (ORDER BY net) AS med
       |        FROM fdata GROUP BY dept),
       |dev AS (SELECT fdata.*, med.med, ABS(net - med) AS absdev
       |        FROM fdata JOIN med USING (dept)),
       |mad AS (SELECT dept, percentile_cont(0.5) WITHIN GROUP (ORDER BY absdev) AS mad
       |        FROM dev GROUP BY dept),
       |z AS (SELECT dev.*, mad.mad,
       |             CASE WHEN COALESCE(mad.mad, 0) = 0 THEN NULL
       |                  ELSE ROUND(0.6745 * (net - med) / mad.mad, 6) END AS z
       |      FROM dev JOIN mad USING (dept)),
       |topk AS (SELECT * FROM z
       |         ORDER BY COALESCE(ABS(z), 0) DESC, emp_id ASC LIMIT $limit)
       |SELECT emp_id, dept, ${cents("net")} AS net, ${cents("med")} AS median_net,
       |       ${cents("mad")} AS mad, z
       |FROM topk
       |WHERE z IS NULL OR ABS(z) >= $threshold
       |ORDER BY COALESCE(ABS(z), 0) DESC, emp_id ASC""".stripMargin
  }

  // -------------------------------------------------------------------
  // Time-series gap-fill + forward fill, and the semi-join activity roster
  // -------------------------------------------------------------------
  val GapFillDept = "NATION_7"
  val GapFillMonths: Seq[String] = (1 to 12).map(m => f"1996-$m%02d")

  /** Month-spine gap-fill with forward fill: every employee of `dept` gets
    * a row for EVERY month of the window; months with no activity carry
    * the last observed monthly net forward (leading gaps stay NULL), with
    * `is_gap` flagging filled rows. The resample/fill-forward primitive a
    * time-series consumer (feature store, trend model) needs before any
    * per-entity window runs.
    *
    * Shape for scale: the spine is GENERATED — each dim row explodes to
    * |months| rows in the projection; no fact shuffle builds it. The fact
    * scans once (month range pushed) into a (emp, month) agg; spine ⋈
    * monthly is an equi-join on the same key the fill window partitions
    * by, so the join's shuffle is reused by the window sort. Forward fill
    * itself is the order-free two-window form — a running COUNT of
    * non-null observations names each fill group, and the group's single
    * observation propagates with an unordered per-group MAX — identical
    * semantics in any engine, no IGNORE NULLS dialect dependence. */
  /** Order-free forward fill of `value` along `ord` within `key`: a
    * running COUNT of non-null observations names each fill group (the
    * group starts AT an observation), and the group's single observation
    * propagates with an unordered whole-group MAX. Rows before the first
    * observation keep NULL. No IGNORE NULLS, no last_value frame
    * subtleties — both windows mean the same thing in every engine. */
  def forwardFill(df: DataFrame, key: String, ord: String,
                  value: String, out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__ff_grp",
        count(col(value)).over(Window.partitionBy(key).orderBy(ord)))
      .withColumn(out,
        max(col(value)).over(Window.partitionBy(col(key), col("__ff_grp"))))
      .drop("__ff_grp")
  }

  def gapFill(s: SparkSession, dir: String, dept: String = GapFillDept,
              months: Seq[String] = GapFillMonths): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir).filter(col("n_name") === dept)
    val spine = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(c("c_custkey").as("emp_id"),
        explode(array(months.map(lit): _*)).as("month"))
    val monthly = Tables.fact(s, dir, months)
      .filter(col("dept") === dept)
      .groupBy("emp_id", "month").agg(sum("net").as("net_m"))
    val joined = spine.join(monthly, Seq("emp_id", "month"), "left")
    forwardFill(joined, "emp_id", "month", "net_m", "net_fill")
      .select(col("emp_id"), col("month"), dbl(col("net_m")).as("net"),
        dbl(col("net_fill")).as("net_filled"), col("net_m").isNull.as("is_gap"))
  }

  def qGapFill(s: SparkSession, dir: String): DataFrame =
    gapFill(s, dir).orderBy("emp_id", "month")

  def gapFillSql(dept: String = GapFillDept,
                 months: Seq[String] = GapFillMonths): String = {
    val pred = months.map(m => inMonthSql("o.o_orderdate", m)).mkString(" OR ")
    val monthList = months.map(Tables.sqlLit).mkString(", ")
    s"""WITH ${factSql(pred)},
       |spine AS (
       |  SELECT c.c_custkey AS emp_id, m.month
       |  FROM customer c
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  CROSS JOIN (SELECT unnest([$monthList]) AS month) m
       |  WHERE n.n_name = ${Tables.sqlLit(dept)}),
       |monthly AS (
       |  SELECT emp_id, month, SUM(net) AS net_m
       |  FROM fact WHERE dept = ${Tables.sqlLit(dept)} GROUP BY emp_id, month),
       |j AS (
       |  SELECT s.emp_id, s.month, m.net_m,
       |         COUNT(m.net_m) OVER (PARTITION BY s.emp_id ORDER BY s.month) AS grp
       |  FROM spine s LEFT JOIN monthly m
       |    ON m.emp_id = s.emp_id AND m.month = s.month)
       |SELECT emp_id, month, ${dblSql("net_m")} AS net,
       |       ${dblSql("MAX(net_m) OVER (PARTITION BY emp_id, grp)")} AS net_filled,
       |       net_m IS NULL AS is_gap
       |FROM j ORDER BY emp_id, month""".stripMargin
  }

  /** Active-employee roster per dept for one month: a LEFT SEMI join —
    * "has at least one order this month", existence only, never a fact
    * row duplicated into the output (the dual of [[inactive]]'s anti
    * join; together they complete the join-type family). The month range
    * pushes into the orders scan, so the semi join's build side is the
    * month's slice, not the table; the probe side (customer) flows
    * through at most once per row. Counting happens on the dim after the
    * semi join — no fact-sized agg. */
  def activeByDept(s: SparkSession, dir: String, m: String = M1): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val o = Tables.orders(s, dir)
    val om = o.filter(Tables.inMonth(o("o_orderdate"), m))
    c.join(om, c("c_custkey") === om("o_custkey"), "left_semi")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name").as("dept"))
      .agg(count(lit(1)).as("n_active"))
  }

  def qSemi(s: SparkSession, dir: String): DataFrame =
    activeByDept(s, dir).orderBy("dept")

  def semiSql(m: String = M1): String =
    s"""SELECT n.n_name AS dept, COUNT(*) AS n_active
       |FROM customer c
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |WHERE EXISTS (
       |  SELECT 1 FROM orders o
       |  WHERE o.o_custkey = c.c_custkey AND ${inMonthSql("o.o_orderdate", m)})
       |GROUP BY n.n_name
       |ORDER BY dept""".stripMargin

  // -------------------------------------------------------------------
  // Per-dept exact least-squares trend slope
  // -------------------------------------------------------------------
  /** Per-dept linear trend of monthly net over a month window: the exact
    * least-squares slope/intercept from the closed form
    * `slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`, x = month ordinal.
    *
    * Numerics for cross-engine determinism: every Σ is EXACT — x, n, Σx,
    * Σx² are int64; Σy, Σxy carry the fact's decimal money type (x is a
    * small int, so x·y stays decimal) — and floating point enters only
    * at the final division, one CAST-to-double each of numerator and
    * denominator. `regr_slope`-style running-double accumulation would
    * be partition-order-dependent; this form is not. Shape: the fact
    * scans once (month range pushed) into a (dept, month) agg; the
    * regression itself runs on dept×months rows — dim-sized. A
    * single-month dept has a zero denominator → NULL slope (nullif),
    * mirrored exactly in the oracle. */
  def slopeFrom(monthly: DataFrame): DataFrame = {
    val x = (substring(col("month"), 6, 2).cast("int") - 1).cast("long")
    val g = monthly
      .select(col("dept"), x.as("x"), col("y"))
      .groupBy("dept")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum("y").as("sy"), sum(col("y") * col("x")).as("sxy"))
    val den = nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0L))
    val slope = dbl(col("n") * col("sxy") - col("sx") * col("sy")) / dbl(den)
    g.withColumn("slope", slope)
      .withColumn("intercept",
        (dbl(col("sy")) - col("slope") * dbl(col("sx"))) / dbl(col("n")))
      .select(col("dept"), col("n").as("n_months"), col("slope"), col("intercept"))
  }

  def slope(s: SparkSession, dir: String, months: Seq[String] = TrendMonths): DataFrame =
    slopeFrom(Tables.fact(s, dir, months)
      .groupBy("dept", "month").agg(sum("net").as("y")))

  def qSlope(s: SparkSession, dir: String): DataFrame =
    slope(s, dir).orderBy("dept")

  def slopeSql(months: Seq[String] = TrendMonths): String = {
    val pred = months.map(m => inMonthSql("o.o_orderdate", m)).mkString(" OR ")
    s"""WITH ${factSql(pred)},
       |monthly AS (
       |  SELECT dept, month, SUM(net) AS y FROM fact GROUP BY dept, month),
       |g AS (
       |  SELECT dept, COUNT(*) AS n,
       |         SUM(x) AS sx, SUM(x * x) AS sxx, SUM(y) AS sy, SUM(y * x) AS sxy
       |  FROM (SELECT dept, CAST(CAST(substr(month, 6, 2) AS INTEGER) - 1 AS BIGINT) AS x, y
       |        FROM monthly)
       |  GROUP BY dept),
       |r AS (
       |  SELECT dept, n,
       |         ${dblSql("n * sxy - sx * sy")}
       |           / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE) AS slope,
       |         ${dblSql("sy")} AS syd, CAST(sx AS DOUBLE) AS sxd
       |  FROM g)
       |SELECT dept, n AS n_months, slope,
       |       (syd - slope * sxd) / CAST(n AS DOUBLE) AS intercept
       |FROM r ORDER BY dept""".stripMargin
  }

  /** ABC-class cumulative-share boundaries (Pareto 80/95 convention). */
  val ParetoA = 0.8
  val ParetoB = 0.95

  /** Pareto / ABC concentration analysis of a keyed total: rank depts by
    * net descending, accumulate the running share of the grand total,
    * and class each dept A (first [[ParetoA]] of value), B (to
    * [[ParetoB]]), or C — the "which 20% of depts carry 80% of payroll"
    * question every cost controller asks of the by-dept endpoint's
    * output. The cumulative sum runs in EXACT DECIMAL over the dim-sized
    * aggregate (the single-partition window touches 25 rows, never the
    * fact table — the fact shuffles once into the dept aggregate,
    * exactly like kpi_by_dept); doubles appear only in the final share
    * divisions, one IEEE op each. Ties rank deterministically by dept
    * name in both engines. */
  def paretoFrom(deptTotals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col("net").desc, col("dept"))
    val cum = sum("net").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val tot = sum("net").over(Window.partitionBy())
    val share = dbl(cum) / dbl(tot)
    deptTotals
      .withColumn("rank", row_number().over(ord))
      .withColumn("cum_share", share)
      .withColumn("abc_class",
        when(col("cum_share") <= ParetoA, "A")
          .when(col("cum_share") <= ParetoB, "B").otherwise("C"))
      .select(col("dept"), col("rank"), dbl(col("net")).as("net"),
        col("cum_share"), col("abc_class"))
  }

  def pareto(s: SparkSession, dir: String, m: String = M1): DataFrame =
    paretoFrom(Tables.fact(s, dir, Seq(m)).groupBy("dept").agg(sum("net").as("net")))

  def qPareto(s: SparkSession, dir: String): DataFrame =
    pareto(s, dir).orderBy("rank")

  def paretoSql(m: String = M1): String =
    s"""WITH ${factSql(inMonthSql("o.o_orderdate", m))},
       |d AS (SELECT dept, SUM(net) AS net FROM fact GROUP BY dept),
       |w AS (
       |  SELECT dept, net,
       |         CAST(row_number() OVER (ORDER BY net DESC, dept) AS INT) AS rank,
       |         SUM(net) OVER (ORDER BY net DESC, dept
       |           ROWS UNBOUNDED PRECEDING) AS cum,
       |         SUM(net) OVER () AS total
       |  FROM d),
       |r AS (
       |  SELECT dept, rank, ${dblSql("net")} AS net,
       |         ${dblSql("cum")} / ${dblSql("total")} AS cum_share
       |  FROM w)
       |SELECT dept, rank, net, cum_share,
       |       CASE WHEN cum_share <= $ParetoA THEN 'A'
       |            WHEN cum_share <= $ParetoB THEN 'B'
       |            ELSE 'C' END AS abc_class
       |FROM r ORDER BY rank""".stripMargin
}
