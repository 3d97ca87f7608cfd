package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.Schemas
import scala.jdk.CollectionConverters._

/** The reference's ETL half (`/root/reference/src/etl.py:1-77`,
  * `scripts/load_once.py:1-76`) rebuilt Spark-first: CSV scan with a
  * declared all-string schema (S1), cleansing (P2-P5), keep-first dedup
  * (A7), deterministic surrogate keys (O3 + the SERIAL analog), dim
  * insert-if-absent (S4), keyed employee/fact upserts with dim-lookup
  * join (S5 + J6), and a row-count check (A8).
  *
  * The reference's staging tables (`x_dept`/`x_emp`/`x_fact`,
  * `src/etl.py:20,35,64`) have no counterpart: Spark plans compose lazily,
  * so "staging" is just an intermediate DataFrame (S3 collapses into the
  * plan; the materialized write path lives in [[graft.sources.Sinks]]).
  *
  * Cleansing follows `scripts/load_once.py:14-21` (the superset variant
  * per SURVEY §2.2): trim dept; month -> first 7 chars + "-01" parsed
  * with coerce-to-NULL; 8 numeric columns coerced with garbage -> 0;
  * currency defaulted to 'BYN' only when the COLUMN is absent.
  *
  * One deliberate divergence, documented: rows whose month fails to parse
  * are dropped at the FACT build (the reference would abort the whole
  * transaction on the `month DATE NOT NULL` PK — `src/models.py:21,31`;
  * a dropped bad row is the composable expression of that load-time
  * rejection, and the cleansed frame still surfaces the NULL for audit).
  *
  * Fixtures: two small checked-in CSVs (batch 1 + an update batch) carry
  * every mess case; `seq` is an explicit ingest-sequence column making
  * "keep first" deterministic across engines (see [[Merge.keepFirst]]).
  */
object Etl {
  val FixturesDir = "/root/repo/fixtures"
  val RawCsv = s"$FixturesDir/payroll_raw.csv"
  val UpdateCsv = s"$FixturesDir/payroll_update.csv"

  val NumericCols: Seq[String] =
    Seq("gross", "bonus", "overtime", "taxes", "deductions", "net", "fte", "hours_worked")
  val FactCols: Seq[String] =
    Seq("emp_id", "month", "gross", "bonus", "overtime", "taxes", "deductions",
      "net", "fte", "hours_worked", "currency")

  /** S1: raw CSV scan, all-string declared schema (inference owns nothing;
    * the cleanse stage owns every coercion, like the reference's pandas
    * read + explicit per-column coercion). */
  def readRaw(s: SparkSession, path: String): DataFrame =
    s.read.option("header", "true").schema(Schemas.payrollRaw).csv(path)

  /** P2-P5: the load_once.py:14-21 cleanse. Pure narrow projection — no
    * shuffle, fully codegen'd, scales linearly. */
  def cleanse(df: DataFrame): DataFrame = {
    val withMonth = df
      .withColumn("dept", trim(col("dept")))
      .withColumn("month",
        try_to_timestamp(concat(substring(col("month"), 1, 7), lit("-01")),
          lit("yyyy-MM-dd")).cast("date"))
    val withNums = NumericCols.foldLeft(withMonth) { (d, c) =>
      d.withColumn(c, coalesce(expr(s"try_cast(`$c` AS DOUBLE)"), lit(0.0)))
    }
    val withCurrency =
      if (df.columns.contains("currency")) withNums
      else withNums.withColumn("currency", lit("BYN"))
    withCurrency.withColumn("seq", col("seq").cast("int"))
  }

  /** A7: employee staging — keep-first by ingest sequence per emp_id
    * (pandas drop_duplicates("emp_id"), etl.py:33). */
  def employees(clean: DataFrame): DataFrame =
    Merge.keepFirst(clean, Seq("emp_id"), col("seq"))
      .select("emp_id", "dept", "job_grade", "location")

  /** The dim table: the SERIAL-analog id and the dept name. */
  private val DimSchema: StructType = StructType(Seq(
    StructField("dept_id", IntegerType), StructField("dept_name", StringType)))

  /** A6 + O3 + SERIAL analog: distinct dept names, sorted, numbered from
    * 1 — [[dimUpsert]] into an empty dim, so it is eager too. */
  def dimDept(clean: DataFrame): DataFrame =
    dimUpsert(clean.sparkSession.createDataFrame(java.util.List.of[Row](), DimSchema), clean)

  /** S4: `INSERT … ON CONFLICT (dept_name) DO NOTHING` with SERIAL id
    * continuation — existing rows keep their ids, new names get
    * max(existing id) + their rank among the sorted new names.
    *
    * Eager and driver-side, like a SERIAL sequence: one job collects the
    * existing dim and the incoming batch's distinct names (deduplicated
    * per partition, so no shuffle and at most partitions × names rows
    * reach the driver), and the ids are assigned here. A dim is tiny by
    * definition: the fact table is what scales. New names are ranked in
    * Spark's string order (binary UTF-8, which differs from Java's UTF-16
    * `String` order past the BMP), so the ids equal a Spark
    * `row_number() OVER (ORDER BY dept_name)`. The result is a local
    * relation, so every consumer (the dim write, the employees broadcast
    * join) reads these rows instead of re-planning the batch scan. */
  def dimUpsert(existing: DataFrame, incomingClean: DataFrame): DataFrame = {
    val s = incomingClean.sparkSession
    val names = incomingClean.select(col("dept")).filter(col("dept").isNotNull)
      .mapPartitions((it: Iterator[Row]) => it.map(_.getString(0)).toSet.iterator)(Encoders.STRING)
      .select(lit(null).cast("int").as("dept_id"), col("value").as("dept_name"),
        lit(false).as("old"))
    val rows = existing.select(col("dept_id").cast("int"), col("dept_name"), lit(true).as("old"))
      .unionByName(names).collect()
    val (old, in) = rows.partition(_.getBoolean(2))
    // anti-join semantics: a NULL existing name matches nothing
    val taken = old.flatMap(r => Option(r.getString(1))).toSet
    val maxId = old.filterNot(_.isNullAt(0)).map(_.getInt(0)).maxOption.getOrElse(0)
    val fresh = in.map(_.getString(1)).distinct.filterNot(taken)
      .sortWith((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
    val out = old.map(r => Row(r.get(0), r.get(1))) ++
      fresh.zipWithIndex.map { case (n, i) => Row(maxId + 1 + i, n) }
    s.createDataFrame(out.toSeq.asJava, DimSchema)
  }

  /** S5 + J6: employee upsert (last-write-wins by emp_id) then surrogate
    * resolution via the dim-lookup join (`etl.py:36-46`). Inner join like
    * the reference: an employee whose dept is not in the dim is dropped. */
  def employeeUpsert(existingEmp: DataFrame, incomingEmp: DataFrame,
                     dims: DataFrame): DataFrame =
    Merge.upsert(existingEmp, incomingEmp, Seq("emp_id"))
      .join(broadcast(dims), col("dept") === col("dept_name"))
      .select("emp_id", "dept_id", "job_grade", "location")

  /** Fact staging: project fact columns, drop unparseable months (see
    * divergence note above), dedup by the (emp_id, month) PK keep-first. */
  def facts(clean: DataFrame): DataFrame =
    Merge.keepFirst(clean.filter(col("month").isNotNull),
        Seq("emp_id", "month"), col("seq"))
      .select(FactCols.map(col): _*)

  /** S5: fact upsert by composite key (emp_id, month), incoming wins
    * (`etl.py:65-77`). */
  def factUpsert(existing: DataFrame, incoming: DataFrame): DataFrame =
    Merge.upsert(existing, incoming, Seq("emp_id", "month"))

  // -------------------------------------------------------------------
  // Declared queries (driver contract). `dir` is unused — ETL reads the
  // checked-in fixtures; the oracle reads the same files via read_csv.
  // -------------------------------------------------------------------
  def qCleanse(s: SparkSession): DataFrame =
    cleanse(readRaw(s, RawCsv)).orderBy("seq")

  def qDedupEmployees(s: SparkSession): DataFrame =
    employees(cleanse(readRaw(s, RawCsv))).orderBy("emp_id")

  def qSurrogateKeys(s: SparkSession): DataFrame =
    dimDept(cleanse(readRaw(s, RawCsv))).orderBy("dept_id")

  def qDimUpsert(s: SparkSession): DataFrame = {
    val c1 = cleanse(readRaw(s, RawCsv))
    val c2 = cleanse(readRaw(s, UpdateCsv))
    dimUpsert(dimDept(c1), c2).orderBy("dept_id")
  }

  def qEmployeeUpsert(s: SparkSession): DataFrame = {
    val c1 = cleanse(readRaw(s, RawCsv))
    val c2 = cleanse(readRaw(s, UpdateCsv))
    employeeUpsert(employees(c1), employees(c2), dimUpsert(dimDept(c1), c2))
      .orderBy("emp_id")
  }

  def qFactUpsert(s: SparkSession): DataFrame = {
    val c1 = cleanse(readRaw(s, RawCsv))
    val c2 = cleanse(readRaw(s, UpdateCsv))
    factUpsert(facts(c1), facts(c2)).orderBy("emp_id", "month")
  }

  def qCount(s: SparkSession): DataFrame =
    qFactUpsert(s).agg(count(lit(1)).as("cnt"))

  /** Declared query gating the multi-table atomic commit
    * ([[graft.sources.Publish]]) on the REAL 3-table lifecycle: publish
    * generation 1 (initial load), read it back through the commit log,
    * build generation 2's upserts FROM THE PUBLISHED TABLES (dims/
    * employees/facts as a downstream consumer would read them — not
    * from in-flight frames), publish, read back again. The returned
    * summary rows are computed from the PUBLISHED parquet, so the gate
    * covers staging, the atomic commit, and the all-of-one-generation
    * read view; per-table contents stay hash-gated by etl_dim_upsert /
    * etl_employee_upsert / etl_fact_upsert.
    *
    * Employee note: published employees carry resolved `dept_id` (no
    * raw dept name), so generation 2 resolves the INCOMING batch
    * against the upserted dims first, then merges by emp_id — same
    * result as [[qEmployeeUpsert]]'s merge-then-resolve because
    * insert-if-absent dims keep existing ids (the oracle mirrors this
    * resolve-then-merge shape verbatim). */
  def qPublish(s: SparkSession): DataFrame = {
    import graft.sources.{Artifacts, Publish}
    // PROCESS-SCOPED publish root (ADVICE r15): two concurrent driver
    // processes sharing `.artifacts/publish/etl` race on the commit log
    // last-wins and on the retention sweep — one run's readGeneration
    // can resolve the other's generation (wrong summary rows) or read
    // files the other's sweep just deleted. Same host+pid discipline as
    // the compacted band table; leftovers from provably-dead processes
    // on THIS host are swept below, whatever their prefix (other hosts'
    // liveness is unknowable here, so their roots are left alone).
    val base = s"${Artifacts.root}/publish"
    val root = s"$base/etl_${Artifacts.procTag}"
    locally {
      val bp = new org.apache.hadoop.fs.Path(base)
      val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(bp))
        fs.listStatus(bp).map(_.getPath)
          .filter(p => Artifacts.isDeadProcessLeftover(p.getName))
          .foreach(p => fs.delete(p, true))
    }
    val c1 = cleanse(readRaw(s, RawCsv))
    val c2 = cleanse(readRaw(s, UpdateCsv))
    val dims1 = dimDept(c1)
    val emp1 = employees(c1)
      .join(broadcast(dims1), col("dept") === col("dept_name"))
      .select("emp_id", "dept_id", "job_grade", "location")
    Publish.publishGeneration(s, root,
      Seq("dept" -> dims1, "employees" -> emp1, "facts" -> facts(c1)))
    val g1 = Publish.readGeneration(s, root)
    val dims2 = dimUpsert(g1("dept"), c2)
    val emp2in = employees(c2)
      .join(broadcast(dims2), col("dept") === col("dept_name"))
      .select("emp_id", "dept_id", "job_grade", "location")
    Publish.publishGeneration(s, root, Seq(
      "dept" -> dims2,
      "employees" -> Merge.upsert(g1("employees"), emp2in, Seq("emp_id")),
      "facts" -> factUpsert(g1("facts"), facts(c2))))
    val g2 = Publish.readGeneration(s, root)
    def summary(gen: Int, t: Map[String, DataFrame]): DataFrame = {
      def row(name: String, df: DataFrame, keySum: Column) =
        df.agg(count(lit(1)).as("n_rows"), keySum.cast("long").as("key_sum"))
          .select(lit(gen.toLong).as("gen"), lit(name).as("table_name"),
            col("n_rows"), col("key_sum"))
      row("dept", t("dept"), sum("dept_id"))
        .unionByName(row("employees", t("employees"), sum("dept_id")))
        .unionByName(row("facts", t("facts"), countDistinct("emp_id")))
    }
    summary(1, g1).unionByName(summary(2, g2)).orderBy("gen", "table_name")
  }

  /** Validation rules for [[quarantine]], evaluated on the RAW all-string
    * frame — BEFORE [[cleanse]] coerces garbage to 0/NULL and hides it.
    * Each is (rule_id, fires-when predicate). */
  private def quarantineRules: Seq[(String, Column)] = {
    def blank(c: String) = col(c).isNull || trim(col(c)) === ""
    def uncastable(c: String) =
      col(c).isNotNull && trim(col(c)) =!= "" &&
        expr(s"try_cast(`$c` AS DOUBLE)").isNull
    Seq(
      "bad_month" -> try_to_timestamp(
        concat(substring(col("month"), 1, 7), lit("-01")),
        lit("yyyy-MM-dd")).isNull,
      "bad_numeric" -> NumericCols.map(uncastable).reduce(_ || _),
      "blank_numeric" -> NumericCols.map(blank).reduce(_ || _),
      "missing_currency" -> blank("currency"),
    )
  }

  /** Dead-letter routing: the audit trail [[cleanse]] does not keep.
    * Cleansing repairs silently (garbage numerics -> 0, bad months ->
    * NULL, missing currency -> default); a production load also needs
    * the quarantine view — WHICH raw rows violated WHICH rules — for
    * reprocessing and upstream feedback. One row per (row, fired rule).
    *
    * Scale shape: rules evaluate as one in-row array-filter-explode
    * projection over the scan — zero shuffles, fully codegen'd, the
    * explode fan-out is bounded by the rule count. Quarantine never
    * re-reads the source: it is the same scan the cleanse consumes. */
  def quarantine(raw: DataFrame): DataFrame = {
    val fired = array(quarantineRules.map { case (n, p) =>
      when(p, lit(n)).otherwise(lit(null).cast("string"))
    }: _*)
    raw.select(col("seq").cast("int").as("seq"), col("emp_id"),
        explode(filter(fired, r => r.isNotNull)).as("rule"))
  }

  def qQuarantine(s: SparkSession): DataFrame =
    quarantine(readRaw(s, RawCsv)).orderBy("seq", "rule")

  def qQuarantineSql: String = {
    def blank(c: String) = s"($c IS NULL OR TRIM($c) = '')"
    def uncastable(c: String) =
      s"($c IS NOT NULL AND TRIM($c) <> '' AND TRY_CAST($c AS DOUBLE) IS NULL)"
    val rules = Seq(
      "bad_month" ->
        "try_strptime(substr(month, 1, 7) || '-01', '%Y-%m-%d') IS NULL",
      "bad_numeric" -> NumericCols.map(uncastable).mkString("(", " OR ", ")"),
      "blank_numeric" -> NumericCols.map(blank).mkString("(", " OR ", ")"),
      "missing_currency" -> blank("currency"),
    ).map { case (n, p) => s"CASE WHEN $p THEN '$n' END" }
      .mkString(",\n           ")
    s"""WITH raw AS (SELECT * FROM read_csv('$RawCsv', header=true, all_varchar=true)),
       |v AS (
       |  SELECT CAST(seq AS INT) AS seq, emp_id,
       |         [$rules] AS rules
       |  FROM raw)
       |SELECT seq, emp_id, rule FROM (
       |  SELECT seq, emp_id, unnest(list_filter(rules, r -> r IS NOT NULL)) AS rule
       |  FROM v)
       |ORDER BY seq, rule""".stripMargin
  }

  /** Schema-evolution union (the v2-feed problem): a source that DROPS a
    * column and ADDS another mid-history must still load into one frame —
    * `unionByName(allowMissingColumns)` aligns by NAME and null-pads the
    * drifted columns, where positional UNION would silently misalign or
    * refuse. Each side carries its feed version for lineage. Pure narrow
    * union — zero shuffles, schema reconciliation is plan-time only. */
  def unionEvolve(v1: DataFrame, v2: DataFrame): DataFrame =
    v1.withColumn("src", lit("v1"))
      .unionByName(v2.withColumn("src", lit("v2")), allowMissingColumns = true)

  /** The drifted v2 feed, synthesized from the update fixture: location
    * dropped, cost_center added (derived — deterministic in both engines). */
  private def feedV2(s: SparkSession): DataFrame =
    readRaw(s, UpdateCsv).drop("location")
      .withColumn("cost_center", concat(lit("CC-"), trim(col("dept"))))

  def qUnionEvolve(s: SparkSession): DataFrame =
    unionEvolve(readRaw(s, RawCsv), feedV2(s))
      .select(col("seq").cast("int").as("seq"), col("emp_id"), col("dept"),
        col("month"), col("location"), col("cost_center"), col("src"))
      .orderBy("seq")

  def qUnionEvolveSql: String =
    s"""WITH v1 AS (
       |  SELECT CAST(seq AS INT) AS seq, emp_id, dept, month, location,
       |         CAST(NULL AS VARCHAR) AS cost_center, 'v1' AS src
       |  FROM read_csv('$RawCsv', header=true, all_varchar=true)),
       |v2 AS (
       |  SELECT CAST(seq AS INT) AS seq, emp_id, dept, month,
       |         CAST(NULL AS VARCHAR) AS location,
       |         'CC-' || TRIM(dept) AS cost_center, 'v2' AS src
       |  FROM read_csv('$UpdateCsv', header=true, all_varchar=true))
       |SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
       |ORDER BY seq""".stripMargin

  /** CDC-style snapshot diff: classify each key of old vs new as
    * added / removed / updated (unchanged rows drop out) — the audit
    * operator that validates an upsert batch before it merges, and the
    * change feed a downstream incremental consumer reads. One full-outer
    * join on the key; value comparison is null-safe per column (<=>,
    * DuckDB IS DISTINCT FROM). At scale both sides shuffle once on the
    * key — same cost shape as the merge itself. */
  def snapshotDiff(old: DataFrame, neu: DataFrame, keys: Seq[String],
                   valueCols: Seq[String]): DataFrame = {
    val o = valueCols.foldLeft(old)((d, c) => d.withColumnRenamed(c, s"__o_$c"))
      .withColumn("__in_old", lit(1))
    val n = valueCols.foldLeft(neu)((d, c) => d.withColumnRenamed(c, s"__n_$c"))
      .withColumn("__in_new", lit(1))
    // foldLeft, not reduce: an empty valueCols is the legitimate
    // presence-only diff (added/removed, nothing ever "updated")
    val changed = valueCols.map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .foldLeft(lit(false))(_ || _)
    o.join(n, keys, "full_outer")
      .withColumn("change_type",
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(changed, "updated"))
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) :+ col("change_type"): _*)
  }

  /** Declared query: diff the batch-1 fact snapshot against the
    * post-upsert state — exactly the rows batch 2 added or changed. */
  def qSnapshotDiff(s: SparkSession): DataFrame = {
    val c1 = cleanse(readRaw(s, RawCsv))
    val c2 = cleanse(readRaw(s, UpdateCsv))
    val before = facts(c1)
    val after = factUpsert(before, facts(c2))
    snapshotDiff(before, after, Seq("emp_id", "month"),
      FactCols.filterNot(Seq("emp_id", "month").contains))
      .orderBy("emp_id", "month", "change_type")
  }

  val Scd2D1 = "2025-06-01"
  val Scd2D2 = "2025-07-01"
  val EmpAttrs: Seq[String] = Seq("dept", "job_grade", "location")

  /** SCD Type-2 apply — the versioned-dimension maintenance step a
    * warehouse runs on every snapshot: current rows whose attributes
    * changed are CLOSED (valid_to = asOf) and re-inserted as the new
    * current version; brand-new keys open their first version; history
    * rows pass through untouched. `closeMissing` selects full-snapshot
    * semantics (a key absent from the snapshot is closed) vs delta-feed
    * semantics (absent = unchanged, the default here — the update batch
    * is incremental).
    *
    * Shape: ONE full-outer join of current ⋈ snapshot on the keys, each
    * row fanning out to its 0-2 output versions through an array+explode
    * (no per-branch re-join or re-scan); history is a disjoint union.
    * Attribute comparison is null-safe (`<=>`), mirroring the oracle's
    * IS NOT DISTINCT FROM. */
  def scd2Apply(dim: DataFrame, snapshot: DataFrame, keys: Seq[String],
                attrs: Seq[String], asOf: String,
                closeMissing: Boolean = false): DataFrame = {
    val cur = dim.filter(col("is_current"))
    val hist = dim.filter(!col("is_current"))
    val o = attrs.foldLeft(cur)((d, c) => d.withColumnRenamed(c, s"__o_$c"))
      .withColumn("__in_old", lit(1))
    val n = attrs.foldLeft(snapshot.select((keys ++ attrs).map(col): _*))(
        (d, c) => d.withColumnRenamed(c, s"__n_$c"))
      .withColumn("__in_new", lit(1))
    val same = attrs.map(c => col(s"__o_$c") <=> col(s"__n_$c")).reduce(_ && _)
    val inOld = col("__in_old").isNotNull
    val inNew = col("__in_new").isNotNull
    def ver(pre: String, vf: Column, vt: Column, curFlag: Boolean): Column =
      struct(attrs.map(c => col(s"__${pre}_$c").as(c)) ++ Seq(
        vf.as("valid_from"), vt.as("valid_to"),
        lit(curFlag).as("is_current")): _*)
    val arms = array(
      // survives as-is: attrs equal, or absent from a delta feed
      when(inOld && ((inNew && same) || (!inNew && lit(!closeMissing))),
        ver("o", col("valid_from"), col("valid_to"), curFlag = true)),
      // closed: superseded by a changed version, or missing from a full snapshot
      when(inOld && ((inNew && !same) || (!inNew && lit(closeMissing))),
        ver("o", col("valid_from"), lit(asOf), curFlag = false)),
      // opened: brand-new key, or the changed version
      when(inNew && (!inOld || !same),
        ver("n", lit(asOf), lit(null).cast("string"), curFlag = true)))
    val outCols = attrs ++ Seq("valid_from", "valid_to", "is_current")
    o.join(n, keys, "full_outer")
      .select(keys.map(col) :+
        explode(filter(arms, a => a.isNotNull)).as("__v"): _*)
      .select(keys.map(col) ++ outCols.map(f => col(s"__v.$f").as(f)): _*)
      .unionByName(hist.select((keys ++ outCols).map(col): _*))
  }

  /** Declared query: batch-1 employees become dim version 1 (current as
    * of D1); the update batch applies as a delta snapshot at D2. */
  def qScd2(s: SparkSession): DataFrame = {
    val dim0 = employees(cleanse(readRaw(s, RawCsv)))
      .withColumn("valid_from", lit(Scd2D1))
      .withColumn("valid_to", lit(null).cast("string"))
      .withColumn("is_current", lit(true))
    val snap = employees(cleanse(readRaw(s, UpdateCsv)))
    scd2Apply(dim0, snap, Seq("emp_id"), EmpAttrs, Scd2D2)
      .orderBy("emp_id", "valid_from", "is_current")
  }

  def qScd2Sql: String = {
    val sameP = EmpAttrs.map(c => s"e1.$c IS NOT DISTINCT FROM e2.$c").mkString(" AND ")
    val oAttrs = EmpAttrs.map(c => s"o_$c AS $c").mkString(", ")
    val nAttrs = EmpAttrs.map(c => s"n_$c AS $c").mkString(", ")
    val jCols = EmpAttrs.map(c => s"e1.$c AS o_$c, e2.$c AS n_$c").mkString(", ")
    s"""WITH ${cleanCte("clean1", RawCsv)},
       |${empCte("emp1", "clean1")},
       |${cleanCte("clean2", UpdateCsv)},
       |${empCte("emp2", "clean2")},
       |j AS (
       |  SELECT COALESCE(e1.emp_id, e2.emp_id) AS emp_id, $jCols,
       |         e1.emp_id IS NOT NULL AS in_old,
       |         e2.emp_id IS NOT NULL AS in_new,
       |         ($sameP) AS same
       |  FROM emp1 e1 FULL OUTER JOIN emp2 e2 ON e2.emp_id = e1.emp_id)
       |SELECT emp_id, $oAttrs, '$Scd2D1' AS valid_from,
       |       CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
       |FROM j WHERE in_old AND ((in_new AND same) OR NOT in_new)
       |UNION ALL
       |SELECT emp_id, $oAttrs, '$Scd2D1', '$Scd2D2', false
       |FROM j WHERE in_old AND in_new AND NOT same
       |UNION ALL
       |SELECT emp_id, $nAttrs, '$Scd2D2', NULL, true
       |FROM j WHERE in_new AND (NOT in_old OR NOT same)
       |ORDER BY emp_id, valid_from, is_current""".stripMargin
  }

  def qSnapshotDiffSql: String = {
    val vals = FactCols.filterNot(Seq("emp_id", "month").contains)
    val distinctPred = vals.map(c => s"o.$c IS DISTINCT FROM n.$c").mkString("\n         OR ")
    s"""WITH $factMergedCtes,
       |diff AS (
       |  SELECT COALESCE(o.emp_id, n.emp_id) AS emp_id,
       |         COALESCE(o.month, n.month) AS month,
       |         CASE WHEN o.emp_id IS NULL THEN 'added'
       |              WHEN n.emp_id IS NULL THEN 'removed'
       |              WHEN $distinctPred THEN 'updated'
       |         END AS change_type
       |  FROM fact1 o
       |  FULL OUTER JOIN merged n ON n.emp_id = o.emp_id AND n.month = o.month)
       |SELECT emp_id, month, change_type FROM diff
       |WHERE change_type IS NOT NULL
       |ORDER BY emp_id, month, change_type""".stripMargin
  }

  // -------------------------------------------------------------------
  // DuckDB oracles. Each mirrors the semantics above over read_csv on the
  // same fixture files (all_varchar=true = "raw text in", like the
  // all-string Spark scan schema).
  // -------------------------------------------------------------------
  private def cleanCte(alias: String, path: String): String = {
    val nums = NumericCols.map(c =>
      s"COALESCE(TRY_CAST($c AS DOUBLE), 0.0) AS $c").mkString(",\n         ")
    s"""${alias}_raw AS (SELECT * FROM read_csv('$path', header=true, all_varchar=true)),
       |$alias AS (
       |  SELECT emp_id, TRIM(dept) AS dept, job_grade,
       |         CAST(try_strptime(substr(month, 1, 7) || '-01', '%Y-%m-%d') AS DATE) AS month,
       |         $nums,
       |         location, currency, CAST(seq AS INT) AS seq
       |  FROM ${alias}_raw
       |)""".stripMargin
  }

  private def empCte(alias: String, cleanAlias: String): String =
    s"""$alias AS (
       |  SELECT emp_id, dept, job_grade, location FROM (
       |    SELECT emp_id, dept, job_grade, location,
       |           row_number() OVER (PARTITION BY emp_id ORDER BY seq) AS rn
       |    FROM $cleanAlias)
       |  WHERE rn = 1
       |)""".stripMargin

  private def dimCte(alias: String, cleanAlias: String): String =
    s"""$alias AS (
       |  SELECT CAST(row_number() OVER (ORDER BY dept_name) AS INT) AS dept_id, dept_name
       |  FROM (SELECT DISTINCT dept AS dept_name FROM $cleanAlias WHERE dept IS NOT NULL)
       |)""".stripMargin

  private def dimUpsertCte(alias: String, existingAlias: String, cleanAlias: String): String =
    s"""${alias}_new AS (
       |  SELECT dept_name
       |  FROM (SELECT DISTINCT dept AS dept_name FROM $cleanAlias WHERE dept IS NOT NULL) i
       |  WHERE NOT EXISTS (SELECT 1 FROM $existingAlias e WHERE e.dept_name = i.dept_name)
       |),
       |$alias AS (
       |  SELECT dept_id, dept_name FROM $existingAlias
       |  UNION ALL
       |  SELECT CAST((SELECT COALESCE(MAX(dept_id), 0) FROM $existingAlias)
       |         + row_number() OVER (ORDER BY dept_name) AS INT) AS dept_id, dept_name
       |  FROM ${alias}_new
       |)""".stripMargin

  private def factCte(alias: String, cleanAlias: String): String =
    s"""$alias AS (
       |  SELECT ${FactCols.mkString(", ")} FROM (
       |    SELECT *, row_number() OVER (PARTITION BY emp_id, month ORDER BY seq) AS rn
       |    FROM $cleanAlias WHERE month IS NOT NULL)
       |  WHERE rn = 1
       |)""".stripMargin

  def qCleanseSql: String =
    s"""WITH ${cleanCte("clean", RawCsv)}
       |SELECT * FROM clean ORDER BY seq""".stripMargin

  def qDedupEmployeesSql: String =
    s"""WITH ${cleanCte("clean", RawCsv)},
       |${empCte("emp", "clean")}
       |SELECT * FROM emp ORDER BY emp_id""".stripMargin

  def qSurrogateKeysSql: String =
    s"""WITH ${cleanCte("clean", RawCsv)},
       |${dimCte("dims", "clean")}
       |SELECT * FROM dims ORDER BY dept_id""".stripMargin

  def qDimUpsertSql: String =
    s"""WITH ${cleanCte("clean1", RawCsv)},
       |${cleanCte("clean2", UpdateCsv)},
       |${dimCte("dims1", "clean1")},
       |${dimUpsertCte("dims", "dims1", "clean2")}
       |SELECT * FROM dims ORDER BY dept_id""".stripMargin

  def qEmployeeUpsertSql: String =
    s"""WITH ${cleanCte("clean1", RawCsv)},
       |${cleanCte("clean2", UpdateCsv)},
       |${empCte("emp1", "clean1")},
       |${empCte("emp2", "clean2")},
       |${dimCte("dims1", "clean1")},
       |${dimUpsertCte("dims", "dims1", "clean2")},
       |merged AS (
       |  SELECT e1.* FROM emp1 e1
       |  WHERE NOT EXISTS (SELECT 1 FROM emp2 e2 WHERE e2.emp_id = e1.emp_id)
       |  UNION ALL SELECT * FROM emp2
       |)
       |SELECT m.emp_id, d.dept_id, m.job_grade, m.location
       |FROM merged m JOIN dims d ON d.dept_name = m.dept
       |ORDER BY emp_id""".stripMargin

  private def factMergedCtes: String =
    s"""${cleanCte("clean1", RawCsv)},
       |${cleanCte("clean2", UpdateCsv)},
       |${factCte("fact1", "clean1")},
       |${factCte("fact2", "clean2")},
       |merged AS (
       |  SELECT f1.* FROM fact1 f1
       |  WHERE NOT EXISTS (SELECT 1 FROM fact2 f2
       |                    WHERE f2.emp_id = f1.emp_id AND f2.month = f1.month)
       |  UNION ALL SELECT * FROM fact2
       |)""".stripMargin

  def qFactUpsertSql: String =
    s"""WITH $factMergedCtes
       |SELECT * FROM merged ORDER BY emp_id, month""".stripMargin

  def qCountSql: String =
    s"""WITH $factMergedCtes
       |SELECT COUNT(*) AS cnt FROM merged""".stripMargin

  /** Oracle for [[qPublish]]: generation 1 = the raw-load pipeline,
    * generation 2 = resolve-then-merge upserts over generation 1 (the
    * exact shape the Spark side computes from the published tables). */
  def qPublishSql: String =
    s"""WITH ${cleanCte("clean1", RawCsv)},
       |${cleanCte("clean2", UpdateCsv)},
       |${dimCte("dims1", "clean1")},
       |${empCte("emp1r", "clean1")},
       |emp1 AS (
       |  SELECT e.emp_id, d.dept_id, e.job_grade, e.location
       |  FROM emp1r e JOIN dims1 d ON d.dept_name = e.dept),
       |${factCte("fact1", "clean1")},
       |${dimUpsertCte("dims2", "dims1", "clean2")},
       |${empCte("emp2r", "clean2")},
       |emp2i AS (
       |  SELECT e.emp_id, d.dept_id, e.job_grade, e.location
       |  FROM emp2r e JOIN dims2 d ON d.dept_name = e.dept),
       |emp2 AS (
       |  SELECT e1.* FROM emp1 e1
       |  WHERE NOT EXISTS (SELECT 1 FROM emp2i i WHERE i.emp_id = e1.emp_id)
       |  UNION ALL SELECT * FROM emp2i),
       |${factCte("fact2i", "clean2")},
       |fact2 AS (
       |  SELECT f1.* FROM fact1 f1
       |  WHERE NOT EXISTS (SELECT 1 FROM fact2i f2
       |                    WHERE f2.emp_id = f1.emp_id AND f2.month = f1.month)
       |  UNION ALL SELECT * FROM fact2i)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS gen, 'dept' AS table_name,
       |         COUNT(*) AS n_rows, CAST(SUM(dept_id) AS BIGINT) AS key_sum FROM dims1
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT), 'employees', COUNT(*), CAST(SUM(dept_id) AS BIGINT) FROM emp1
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT), 'facts', COUNT(*), CAST(COUNT(DISTINCT emp_id) AS BIGINT) FROM fact1
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'dept', COUNT(*), CAST(SUM(dept_id) AS BIGINT) FROM dims2
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'employees', COUNT(*), CAST(SUM(dept_id) AS BIGINT) FROM emp2
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'facts', COUNT(*), CAST(COUNT(DISTINCT emp_id) AS BIGINT) FROM fact2)
       |ORDER BY gen, table_name""".stripMargin
}
