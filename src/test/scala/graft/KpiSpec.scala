package graft

import graft.operators.Kpi
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** SURVEY §5 item 2: the semantics that are easy to "fix" accidentally
  * (§2.7 bug note, O4 ordering) pinned on hand-computed fixtures, plus the
  * §5 item 4 algebraic properties and the round-2 plan-shape guarantee. */
class KpiSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  // dept A: nets 10,20,30,100 -> med=25, absdevs 15,5,5,75 -> mad=10
  //   z = 0.6745*(net-25)/10 -> -1.011750, -0.337250, 0.337250, 5.058750
  // dept B: nets 7,7,7 -> med=7, mad=0 -> z NULL for all three
  private def fixture = Seq(
    (1L, "A", 10.0), (2L, "A", 20.0), (3L, "A", 30.0), (4L, "A", 100.0),
    (5L, "B", 7.0), (6L, "B", 7.0), (7L, "B", 7.0),
  ).toDF("emp_id", "dept", "net")

  test("anomalies: hand-computed z on fixture (unrounded except 6-dec tie-stabilizer)") {
    val out = Kpi.anomaliesFrom(fixture, threshold = 0.0, limit = 10)
      .orderBy("emp_id").collect()
    val z = out.map(r => Option(r.getAs[java.lang.Double]("z")).map(_.doubleValue))
    assert(z.toSeq == Seq(Some(-1.01175), Some(-0.33725), Some(0.33725),
      Some(5.05875), None, None, None))
    val r4 = out.find(_.getLong(0) == 4L).get
    assert(r4.getAs[Double]("median_net") == 25.0 && r4.getAs[Double]("mad") == 10.0)
  }

  test("anomalies: NULL-z rows PASS the threshold filter (reference api.py:260-264)") {
    // threshold high enough to drop every real z except 5.05875; NULL-z
    // rows from dept B must still appear (the reference's `z is not None
    // and abs(z) < threshold` skip condition keeps NULLs)
    val out = Kpi.anomaliesFrom(fixture, threshold = 2.0, limit = 10).collect()
    val byNull = out.partition(_.isNullAt(out.head.fieldIndex("z")))
    assert(byNull._1.length == 3, "3 NULL-z rows kept")
    assert(byNull._2.map(_.getLong(0)).toSeq == Seq(4L), "only |z|>=2 survives")
  }

  test("anomalies: threshold filter applies AFTER the limit (O4) — result can shrink below limit") {
    // limit=2 takes the top-2 by |z| (emp 4: 5.05875, emp 1: 1.01175);
    // threshold=2.0 then drops emp 1 -> exactly 1 row, NOT backfilled
    val out = Kpi.anomaliesFrom(fixture, threshold = 2.0, limit = 2).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("anomalies: a half-cent median rounds up like the oracle's decimal ROUND") {
    // nets 246677.60 and 246677.61: the double median is
    // 246677.60499999998, the half-cent .605 as a decimal
    val out = Kpi.anomaliesFrom(
      Seq((1L, "C", 246677.60), (2L, "C", 246677.61)).toDF("emp_id", "dept", "net"),
      threshold = 0.0, limit = 10).collect()
    assert(out.map(_.getAs[Double]("median_net")).toSet == Set(246677.61))
  }

  test("delta antisymmetry: delta(m1,m2) = -delta(m2,m1)") {
    val ab = Kpi.deltaByDept(spark, sf, Kpi.M1, Kpi.M2).orderBy("dept").collect()
    val ba = Kpi.deltaByDept(spark, sf, Kpi.M2, Kpi.M1).orderBy("dept").collect()
    assert(ab.length == ba.length && ab.nonEmpty)
    ab.zip(ba).foreach { case (x, y) =>
      assert(x.getString(0) == y.getString(0))
      Seq("gross_delta", "bonus_delta", "overtime_delta", "fot_delta").foreach { c =>
        assert(x.getAs[Double](c) == -y.getAs[Double](c), c)
      }
    }
  }

  test("summary additivity: company sums = sum of dept sums") {
    val company = Kpi.summary(spark, sf).head
    val depts = Kpi.byDept(spark, sf).collect()
    // both sides aggregate the same DECIMAL(18,4) values then cast; summing
    // the per-dept doubles reintroduces float ordering, so compare at 1e-6
    def approx(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(a))
    assert(approx(company.getAs[Double]("gross"), depts.map(_.getAs[Double]("gross")).sum))
    assert(approx(company.getAs[Double]("net"), depts.map(_.getAs[Double]("net")).sum))
    assert(approx(company.getAs[Double]("fot"), depts.map(_.getAs[Double]("fot")).sum))
    assert(company.getAs[Long]("headcount") == depts.map(_.getAs[Long]("headcount")).sum)
  }

  test("deltaByDept is single-pass: exactly one lineitem scan in the physical plan") {
    val plan = Kpi.deltaByDept(spark, sf).queryExecution.executedPlan
    val exec = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val lineitemScans = exec.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("lineitem")) => s
    }
    assert(lineitemScans.length == 1,
      s"expected 1 lineitem scan, got ${lineitemScans.length}")
  }

  test("month validation rejects malformed input") {
    intercept[IllegalArgumentException](Kpi.summary(spark, sf, "1997-3"))
    intercept[IllegalArgumentException](Kpi.byDeptSql("1997-13"))
  }

  test("P17 empty-month guard: Some for a populated month, None for an empty one") {
    assert(Kpi.summaryOpt(spark, sf, Kpi.M1).isDefined)
    assert(Kpi.summaryOpt(spark, sf, "2099-01").isEmpty)
  }

  test("rollup levels are additive: dept subtotals sum to the grand total") {
    val rows = graft.operators.Kpi.rollup(spark, sf)
      .collect().map(r => (r.getInt(5), r.getDouble(2))) // (gid, gross)
    val detail = rows.filter(_._1 == 0).map(_._2).sum
    val subtotals = rows.filter(_._1 == 1).map(_._2).sum
    val grand = rows.filter(_._1 == 3).map(_._2)
    assert(grand.length == 1)
    assert(math.abs(detail - grand.head) < 1e-6 && math.abs(subtotals - grand.head) < 1e-6,
      s"detail=$detail subtotals=$subtotals grand=${grand.head}")
  }

  test("trend: months push into the orders scan as an OR of ranges") {
    val q = graft.operators.Kpi.qTrend(spark, sf)
    val scans = q.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val orders = scans.find(_.contains("orders")).getOrElse(fail("no orders scan"))
    assert(orders.contains("PushedFilters: [") && orders.contains("o_orderdate"),
      s"trend range must reach the scan:\n${orders.take(400)}")
  }

  test("approx headcount: HLL within its configured relative error of exact") {
    val r = Kpi.headcountApprox(spark, sf).head
    assert(r.getAs[Long]("exact") > 0)
    assert(r.getAs[Double]("rel_err") <= 0.05,
      s"approx=${r.getAs[Long]("approx")} exact=${r.getAs[Long]("exact")}")
  }

  test("retention: window-scoped cohorts, dup orders collapse, exact matrix") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      // cust 1: active 01, 02, 03 (01 twice — distinct must collapse it)
      (1L, ts("2024-01-05")), (1L, ts("2024-01-20")),
      (1L, ts("2024-02-10")), (1L, ts("2024-03-15")),
      // cust 2: active 01, 03 (skips 02)
      (2L, ts("2024-01-09")), (2L, ts("2024-03-02")),
      // cust 3: first in 02, never again
      (3L, ts("2024-02-14")),
      // cust 4: a PRE-WINDOW order must not define the cohort
      (4L, ts("2023-12-30")), (4L, ts("2024-02-20")), (4L, ts("2024-03-21")),
    ).toDF("o_custkey", "o_orderdate")
    val out = Kpi.retentionFrom(orders, Seq("2024-01", "2024-02", "2024-03"))
      .orderBy("cohort_month", "months_since")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toList
    assert(out === List(
      ("2024-01", 0, 2L, 2L, 1.0),   // custs 1,2
      ("2024-01", 1, 1L, 2L, 0.5),   // cust 1
      ("2024-01", 2, 2L, 2L, 1.0),   // custs 1,2
      ("2024-02", 0, 2L, 2L, 1.0),   // custs 3,4
      ("2024-02", 1, 1L, 2L, 0.5),   // cust 4
    ), s"got $out")
  }

  test("winsorize: discrete order-statistic bounds, exact clamped sums") {
    import org.apache.spark.sql.functions._
    // dept X: nets 1..20 -> p05 = 1st value (cume_dist 0.05), p95 = 19th;
    // clamping only caps 20 -> 19, so the winsorized sum drops by exactly 1
    val f = (1 to 20).map(i => ("X", BigDecimal(i)))
      .toDF("dept", "net")
      .withColumn("net", col("net").cast("decimal(18,4)"))
    val r = Kpi.winsorizeFrom(f).collect().head
    assert(r.getString(0) === "X" && r.getLong(1) === 20L)
    assert(r.getDouble(2) === 210.0, "raw sum")
    assert(r.getDouble(3) === 209.0, "winsorized: only the max is clamped")
    assert(r.getDouble(4) === 1.0 && r.getDouble(5) === 19.0,
      s"discrete bounds, got p05=${r.getDouble(4)} p95=${r.getDouble(5)}")
  }

  test("winsorize: NULL net contributes to neither sum (null-dropping clamp)") {
    import org.apache.spark.sql.functions._
    // Unguarded greatest/least SKIP nulls in Spark, so a NULL net would
    // clamp to a bound and inflate the winsorized sum while the raw sum
    // drops the row — the guard keeps both sums null-dropping, matching
    // the oracle's CASE WHEN + SUM skip. n still counts the row
    // (COUNT(*) semantics, same on both engines).
    val f = ((1 to 20).map(i => ("X", Some(BigDecimal(i)))) :+ ("X", None))
      .toDF("dept", "net")
      .withColumn("net", col("net").cast("decimal(18,4)"))
    val r = Kpi.winsorizeFrom(f).collect().head
    assert(r.getLong(1) === 21L, "count includes the null-net row")
    assert(r.getDouble(2) === 210.0, "raw sum skips the NULL")
    assert(r.getDouble(3) === 209.0,
      "winsorized sum skips the NULL too (no bound contributed)")
  }

  test("forwardFill: leading gap stays NULL, observations restart groups, fill carries") {
    // key A over t1..t5: null, 10, null, null, 20 -> null, 10, 10, 10, 20
    // key B over t1..t2: null, null                -> stays all-null
    val f = Seq(
      ("A", "t1", None), ("A", "t2", Some(10.0)), ("A", "t3", None),
      ("A", "t4", None), ("A", "t5", Some(20.0)),
      ("B", "t1", None), ("B", "t2", None),
    ).toDF("k", "t", "v")
    val out = Kpi.forwardFill(f, "k", "t", "v", "filled")
      .orderBy("k", "t")
      .collect().map(r => Option(r.getAs[java.lang.Double]("filled")).map(_.doubleValue))
    assert(out.toSeq == Seq(None, Some(10.0), Some(10.0), Some(10.0), Some(20.0),
      None, None), s"got ${out.toSeq}")
  }

  test("slopeFrom: hand-computed least squares; single-month dept -> NULL slope") {
    import org.apache.spark.sql.functions._
    // dept A: y = 100 + 50x at x=0,1,2 (months 01..03) -> slope 50, intercept 100
    // dept B: one month -> zero denominator -> NULL slope and intercept
    val monthly = Seq(
      ("A", "1996-01", BigDecimal(100)), ("A", "1996-02", BigDecimal(150)),
      ("A", "1996-03", BigDecimal(200)), ("B", "1996-05", BigDecimal(77)),
    ).toDF("dept", "month", "y").withColumn("y", col("y").cast("decimal(18,4)"))
    val out = Kpi.slopeFrom(monthly).orderBy("dept").collect()
    assert(out(0).getString(0) === "A" && out(0).getLong(1) === 3L)
    assert(out(0).getDouble(2) === 50.0 && out(0).getDouble(3) === 100.0)
    assert(out(1).getString(0) === "B" && out(1).isNullAt(2) && out(1).isNullAt(3))
  }

  test("basket pairs: hand-computed co-occurrence, lift above/below independence") {
    import org.apache.spark.sql.functions._
    // orders: 1={X,Y}, 2={X,Y}, 3={X,Z}, 4={Y} (dup X line collapses)
    val li = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L),
      (3L, 30L), (3L, 10L), (4L, 20L)).toDF("l_orderkey", "l_partkey")
    val part = Seq((10L, "X"), (20L, "Y"), (30L, "Z")).toDF("p_partkey", "p_brand")
    val out = graft.operators.Basket.pairs(li, part)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6),
        r.getDouble(7), r.getDouble(8))).toList
    // n(X)=3, n(Y)=3, n(Z)=1, N=4
    // (X,Y): n_ab=2, support .5, conf 2/3, lift 2*4/(3*3)=8/9
    // (X,Z): n_ab=1, support .25, conf 1/3, lift 1*4/(3*1)=4/3
    assert(out === List(
      ("X", "Y", 2L, 3L, 3L, 4L, 0.5, 2.0 / 3, 8.0 / 9),
      ("X", "Z", 1L, 3L, 1L, 4L, 0.25, 1.0 / 3, 4.0 / 3),
    ), s"got $out")
  }

  test("paretoFrom: exact cumulative shares, ABC cut points, deterministic tie order") {
    import org.apache.spark.sql.functions._
    // totals 50/30/10/10 of 100 -> cum shares .5 .8 .9 1.0
    // A-class boundary is INCLUSIVE (<= 0.8); C/D tie on 10 -> dept order
    val totals = Seq(("w", BigDecimal(50)), ("x", BigDecimal(30)),
      ("d", BigDecimal(10)), ("c", BigDecimal(10)))
      .toDF("dept", "net").withColumn("net", col("net").cast("decimal(18,4)"))
    val out = Kpi.paretoFrom(totals).orderBy("rank")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(3),
        r.getString(4))).toList
    assert(out === List(
      ("w", 1, 0.5, "A"), ("x", 2, 0.8, "A"),
      ("c", 3, 0.9, "B"), ("d", 4, 1.0, "C"),
    ), s"got $out")
  }
}
