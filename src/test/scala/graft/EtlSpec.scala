package graft

import graft.operators.{Etl, Merge}
import graft.sources.Sinks
import org.apache.spark.graftbridge.StorageBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §5 suites for the ETL half: cleansing rules, keep-first dedup,
  * upsert idempotence + last-write-wins, surrogate determinism, and the
  * month-partitioned sink layout. */
class EtlSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  private lazy val clean1 = Etl.cleanse(Etl.readRaw(spark, Etl.RawCsv)).cache()
  private lazy val clean2 = Etl.cleanse(Etl.readRaw(spark, Etl.UpdateCsv)).cache()

  test("cleanse: trim, month truncate+coerce, numeric garbage->0, empty->0") {
    val rows = clean1.orderBy("seq").collect()
    assert(rows.map(_.getAs[String]("dept")).take(5).toSeq ==
      Seq("IT", "IT", "HR", "HR", "Finance"), "dept trimmed")
    val months = rows.map(r => Option(r.getAs[java.sql.Date]("month")).map(_.toString))
    assert(months(3).contains("2025-06-01"), "long month truncated to 7 chars then -01")
    assert(months(5).isEmpty, "garbage month -> NULL (errors=coerce)")
    val r5 = rows(4) // E003: empty fte, garbage bonus, empty hours_worked
    assert(r5.getAs[Double]("fte") == 0.0 && r5.getAs[Double]("bonus") == 0.0
      && r5.getAs[Double]("hours_worked") == 0.0, "coerce+fillna(0)")
    assert(rows(6).getAs[String]("currency") == null, "present-but-empty currency stays NULL")
  }

  test("cleanse: currency column defaulted ONLY when absent (load_once.py:20-21)") {
    val noCur = clean1.drop("currency", "seq").withColumn("seq", lit(1))
    val out = Etl.cleanse(noCur.select(noCur.columns.map(c => col(c).cast("string")): _*))
    assert(out.select("currency").distinct().collect().map(_.getString(0)).toSeq == Seq("BYN"))
  }

  test("keepFirst: composite-key dedup is by ingest sequence, not partition order") {
    // E005 has two 2025-05 rows (seq 7 IT/currency NULL, seq 8 Logistics);
    // keep-first must pick seq 7 regardless of a hostile repartition
    val shuffled = clean1.repartition(7, col("gross"))
    val kept = Merge.keepFirst(shuffled.filter(col("month").isNotNull),
      Seq("emp_id", "month"), col("seq"))
      .filter(col("emp_id") === "E005").collect()
    assert(kept.length == 1 && kept.head.getAs[Int]("seq") == 7)
  }

  test("upsert idempotence: load twice == load once (counts AND content)") {
    val once = Etl.factUpsert(Etl.facts(clean1), Etl.facts(clean2))
    val twice = Etl.factUpsert(once, Etl.facts(clean2))
    assert(once.count() == twice.count())
    assert(once.unionByName(twice).distinct().count() == once.count(),
      "re-applying the same batch changes nothing")
    val dims1 = Etl.dimUpsert(Etl.dimDept(clean1), clean2)
    val dims2 = Etl.dimUpsert(dims1, clean2)
    assert(dims1.orderBy("dept_id").collect().toSeq == dims2.orderBy("dept_id").collect().toSeq)
  }

  test("upsert last-write-wins: changed row replaced, unchanged rows kept") {
    val merged = Etl.factUpsert(Etl.facts(clean1), Etl.facts(clean2))
    val e002 = merged.filter(col("emp_id") === "E002" && col("month") === "2025-05-01").collect()
    assert(e002.length == 1 && e002.head.getAs[Double]("gross") == 550.0, "batch2 wins")
    val e003 = merged.filter(col("emp_id") === "E003").collect()
    assert(e003.length == 1 && e003.head.getAs[Double]("gross") == 1200.0, "untouched row survives")
  }

  test("surrogate keys: deterministic across runs and partitionings; SERIAL continuation") {
    val a = Etl.dimDept(clean1).collect().toSeq
    val b = Etl.dimDept(clean1.repartition(11)).collect().toSeq
    assert(a.sortBy(_.getInt(0)) == b.sortBy(_.getInt(0)), "partitioning-independent")
    val merged = Etl.dimUpsert(Etl.dimDept(clean1), clean2).orderBy("dept_id").collect()
    assert(merged.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "Finance"), (2, "HR"), (3, "IT"), (4, "Logistics"), (5, "Sales"), (6, "R&D")),
      "existing ids stable, new dept appended after max id")
  }

  test("dimUpsert: new ids follow Spark's UTF-8 order, as the window-assigned ids did") {
    // U+FF21 sorts before U+1F600 in UTF-8 bytes, after it in UTF-16 units
    val existing = Seq((1, "IT"), (4, "HR")).toDF("dept_id", "dept_name")
    val incoming = Seq("😀", "Ａ", "IT", null, "B", "Ａ").toDF("dept")
    val got = Etl.dimUpsert(existing, incoming).collect()
      .map(r => r.getString(1) -> r.getInt(0)).toMap
    // the window form the ids were assigned with before they moved to the driver
    val names = incoming.filter(col("dept").isNotNull).select(col("dept").as("dept_name"))
      .distinct().join(existing, Seq("dept_name"), "left_anti")
    val want = existing.unionByName(names.withColumn("dept_id",
        (lit(4) + row_number().over(Window.orderBy("dept_name"))).cast("int")))
      .collect().map(r => r.getAs[String]("dept_name") -> r.getAs[Int]("dept_id")).toMap
    assert(got == want)
    assert(got == Map("IT" -> 1, "HR" -> 4, "B" -> 5, "Ａ" -> 6, "😀" -> 7), s"got $got")
  }

  test("dimUpsert runs exactly one job, and its rows read back with none") {
    val existing = Etl.dimDept(clean1)
    val batch = Etl.cleanse(Etl.readRaw(spark, Etl.UpdateCsv))
    val (rows, t) = StorageBridge.inGroup(spark.sparkContext, "etl_spec_dim_jobs") {
      Etl.dimUpsert(existing, batch).collect()
    }
    assert(t.jobs == 1, s"${t.jobs} jobs")
    assert(rows.length == 6)
  }

  test("fact build drops unparseable months (PK NOT NULL analog)") {
    assert(Etl.facts(clean1).filter(col("emp_id") === "E004").count() == 0)
    assert(clean1.filter(col("emp_id") === "E004").count() == 1, "but cleanse keeps it for audit")
  }

  test("partitioned sink: month layout + partition-scoped upsert rewrites only touched months") {
    val dir = SparkSpec.tempDir("graft_fact")
    Sinks.writeFactPartitioned(Etl.facts(clean1), dir)
    val monthDirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(monthDirs.toSeq == Seq("month=2025-05-01", "month=2025-06-01"), monthDirs.mkString(","))

    // incoming touches 2025-05/06/07; 2025-07 is a brand-new partition
    Sinks.upsertFactPartitions(spark, dir, Etl.facts(clean2), Seq("emp_id", "month"))
    val after = spark.read.parquet(dir)
    assert(after.count() == Etl.factUpsert(Etl.facts(clean1), Etl.facts(clean2)).count())
    val e002 = after.filter(col("emp_id") === "E002" && col("month") === "2025-05-01").collect()
    assert(e002.length == 1 && e002.head.getAs[Double]("gross") == 550.0, "merge applied in files")
    val dirs2 = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs2.contains("month=2025-07-01"), "new month partition created")
  }

  test("cleanse plan is shuffle-free (narrow, codegen'd)") {
    val plan = Etl.cleanse(Etl.readRaw(spark, Etl.RawCsv)).queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"), "no shuffle in a pure projection")
  }

  test("snapshotDiff: added/removed/updated classified, unchanged dropped, nulls equal") {
    val sp = spark
    import sp.implicits._
    val old = Seq(("k1", Some(1.0)), ("k2", None), ("k3", Some(3.0)))
      .toDF("k", "v")
    val neu = Seq(("k1", Some(1.0)), ("k2", Some(2.0)), ("k4", Some(4.0)))
      .toDF("k", "v")
    val out = Etl.snapshotDiff(old, neu, Seq("k"), Seq("v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // k1 unchanged (dropped), k2 NULL->2.0 updated (null-safe compare),
    // k3 removed, k4 added
    assert(out == Map("k2" -> "updated", "k3" -> "removed", "k4" -> "added"), s"got $out")
  }

  private def scd2Fixture = {
    // current: A unchanged, B will change, C absent from snapshot;
    // one closed HISTORY row for B that must pass through untouched
    val dim = Seq(
      ("A", "x", "d0", null, true),
      ("B", "y", "d0", null, true),
      ("C", "z", "d0", null, true),
      ("B", "old", "d-1", "d0", false),
    ).toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val snap = Seq(("A", "x"), ("B", "y2"), ("D", "w")).toDF("k", "attr")
    (dim, snap)
  }

  private def scd2Rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3), r.getBoolean(4))).toSet

  test("scd2: close+reopen changed, open new, keep delta-absent, pass history") {
    val (dim, snap) = scd2Fixture
    val out = scd2Rows(Etl.scd2Apply(dim, snap, Seq("k"), Seq("attr"), "d1"))
    assert(out === Set(
      ("A", "x", "d0", null, true),       // unchanged
      ("B", "y", "d0", "d1", false),      // closed
      ("B", "y2", "d1", null, true),      // reopened
      ("B", "old", "d-1", "d0", false),   // history untouched
      ("C", "z", "d0", null, true),       // delta feed: absent = unchanged
      ("D", "w", "d1", null, true),       // new key
    ), s"got $out")
  }

  test("scd2: full-snapshot semantics close keys missing from the snapshot") {
    val (dim, snap) = scd2Fixture
    val out = scd2Rows(Etl.scd2Apply(dim, snap, Seq("k"), Seq("attr"), "d1",
      closeMissing = true))
    assert(out.contains(("C", "z", "d0", "d1", false)) &&
      !out.exists(r => r._1 == "C" && r._5), s"C must close, got $out")
  }

  test("scd2: idempotent — re-applying the same snapshot is a no-op") {
    val (dim, snap) = scd2Fixture
    val once = Etl.scd2Apply(dim, snap, Seq("k"), Seq("attr"), "d1")
    val twice = Etl.scd2Apply(once, snap, Seq("k"), Seq("attr"), "d2")
    assert(scd2Rows(twice) === scd2Rows(once), "second apply changes nothing")
  }

  test("quarantine: each dirty fixture row routes to exactly its fired rules") {
    val out = Etl.qQuarantine(spark).collect()
      .map(r => (r.getInt(0), r.getString(2))).toList
    // seq 4: bonus='abc'; seq 5: bonus='xyz' AND blank fte/hours_worked;
    // seq 6: month='garbage'; seq 7: empty currency — clean rows absent
    assert(out === List((4, "bad_numeric"), (5, "bad_numeric"),
      (5, "blank_numeric"), (6, "bad_month"), (7, "missing_currency")),
      s"got $out")
  }

  test("quarantine: cleanse repairs what quarantine reports (same scan contract)") {
    val clean = Etl.qCleanse(spark).collect().map(r => r.getAs[Int]("seq") -> r).toMap
    assert(clean(4).getAs[Double]("bonus") == 0.0, "bad_numeric -> zero-filled")
    assert(clean(6).isNullAt(clean(6).fieldIndex("month")), "bad_month -> NULL")
  }

  test("unionEvolve: name alignment null-pads dropped/added columns, tags lineage") {
    val out = Etl.qUnionEvolve(spark).collect()
    val v1 = out.filter(_.getAs[String]("src") == "v1")
    val v2 = out.filter(_.getAs[String]("src") == "v2")
    assert(v1.length == 10 && v2.length == 5)
    assert(v1.forall(r => r.isNullAt(r.fieldIndex("cost_center"))
      && !r.isNullAt(r.fieldIndex("location"))))
    assert(v2.forall(r => r.isNullAt(r.fieldIndex("location"))
      && r.getAs[String]("cost_center").startsWith("CC-")))
  }
}
