package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Num.{dbl, dec}
import graft.operators.Kpi

/** Runtime bloom-filter join pruning (SPARK-32268) as a DECLARED, gated
  * query — the graduation `RTFILTERLAB_r12_sf10.json` earned (×0.0585
  * shuffle records, wall 2.10→0.58 s on this exact shape at sf10) and
  * VERDICT r12 #1 asked for, mirroring the `layout_dpp_star` move for
  * DPP.
  *
  * The shape is the engine's own star beyond the broadcast cliff: the
  * reference's month-filtered KPI family (`src/api.py:30-41`) becomes
  * lineitem ⋈ 2-month-filtered orders, and at 100 TB the filtered
  * orders slice exceeds ANY broadcast threshold, so sort-merge is the
  * true regime (the kpi_pivot adjudication, BASELINE.md r11). In that
  * regime the optimizer builds a bloom filter of the filtered orders'
  * join keys and injects `might_contain(l_orderkey)` on the lineitem
  * side BELOW its Exchange — non-matching fact rows never shuffle,
  * which at 100 TB is the difference between shuffling ~2 % and 100 %
  * of the fact table. PlanAuditSpec machine-checks both the injected
  * `might_contain` in the executed plan and the measured
  * shuffle-record reduction vs the filter-off twin.
  *
  * Regime pinning happens on a CHILD session (`newSession`): the
  * runtime-filter levers are session confs, and a declared query must
  * not leak conf changes into sibling queries sharing the session.
  * The child shares the SparkContext and inherits the builder-level
  * options (AQE sweeps included); only the three regime confs below
  * differ:
  *
  *   - both broadcast thresholds -1: locally the 2-month slice fits
  *     any threshold, so only -1 reproduces the at-scale SMJ regime
  *     (the pinning RTFILTERLAB_r11/r12 measured under);
  *   - `applicationSideScanSizeThreshold` 0: the production default
  *     (10 GB) is the DESIGNED engagement point — injection switches
  *     on exactly when shuffling the application side dominates; at
  *     lab scale only 0 lets the lever engage at all;
  *   - `creationSideThreshold` 256 MB: the 2-month orders slice
  *     crosses the 10 MB default at sf10 — the gate measures the
  *     filter, not the threshold.
  *
  * Correctness contract: a runtime filter may change cost, never an
  * answer — the oracle runs the same star on the ORIGINAL tables with
  * no knowledge of the bloom filter (the layout gates' discipline).
  */
object BloomJoin {
  /** The two KPI months (same slice as kpi_pivot — the shape whose
    * broadcast-cliff adjudication motivated this gate). */
  val Months: Seq[String] = Kpi.PivotMonths.map(_._1)

  /** Child session with the SMJ + bloom-filter regime pinned (or the
    * filter disabled, for PlanAuditSpec's off-twin measurement). */
  private def regime(s: SparkSession, bloomOn: Boolean): SparkSession = {
    val c = s.newSession()
    c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    c.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    c.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled",
      bloomOn.toString)
    c.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    c.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "256MB")
    c
  }

  /** Per-month volume/headcount/money rollup of the 2-month star under
    * the pinned SMJ regime; the bloom filter prunes the lineitem side
    * of the shuffle at runtime. `bloomOn = false` is the measurement
    * twin only — never declared. */
  def qBloomStar(s: SparkSession, dir: String,
                 bloomOn: Boolean = true): DataFrame = {
    val fact = Tables.fact(regime(s, bloomOn), dir, Months)
    fact.groupBy("month")
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("emp_id")).as("n_emps"),
        dbl(sum(col("gross"))).as("sum_gross"),
        dbl(sum(col("net"))).as("sum_net"))
      .orderBy("month")
  }

  def qBloomStarSql: String = {
    val pred = Months.map(m => Tables.inMonthSql("o.o_orderdate", m))
      .mkString(" OR ")
    s"""WITH ${Tables.factSql(pred)}
       |SELECT month,
       |       COUNT(*) AS n_items,
       |       COUNT(DISTINCT emp_id) AS n_emps,
       |       ${Tables.dblSql("SUM(gross)")} AS sum_gross,
       |       ${Tables.dblSql("SUM(net)")} AS sum_net
       |FROM fact GROUP BY month ORDER BY month""".stripMargin
  }
}
