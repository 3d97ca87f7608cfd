package graft

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Round-1 VERDICT scale risk: `Tables.fact` month-filters the ORDERS
  * scan, but lineitem — the 100 TB table — is reduced only by the join.
  * The production answer is the derived fact table WRITTEN
  * `partitionBy(month)` (the reference's month-index analog,
  * models.py:41-45): month filters then prune whole directories before
  * any I/O. This suite materializes that layout and proves the pruning
  * actually happens at the file-source level. */
class LayoutSpec extends SparkSpec {

  test("month-partitioned fact layout: a month filter reads ONLY that month's files") {
    val dir = SparkSpec.tempDir("graft_fact_layout")
    Tables.fact(spark, sf).write.partitionBy("month").mode("overwrite").parquet(dir)

    val monthDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("month=")).map(_.getName)
    assert(monthDirs.length > 10, s"multi-month layout expected, got ${monthDirs.length}")

    // AQE wraps finished stages in QueryStageExec leaves, hiding the scan
    // from collect(); disable it for this one plan-metric measurement
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scan = try {
      val q = spark.read.parquet(dir)
        .filter(col("month") === "1997-03")
        .agg(sum("gross").as("g"))
      q.collect()
      q.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }.head
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    assert(scan.toString.contains("PartitionFilters"), "filter must hit partition layer")
    val filesInMonth = new java.io.File(s"$dir/month=1997-03")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(scan.metrics("numFiles").value == filesInMonth,
      s"scan read ${scan.metrics("numFiles").value} files; month dir has $filesInMonth — " +
        "pruning must restrict the read to the filtered month")
  }

  test("bucketed band index: the incremental-dedup join never shuffles the corpus side") {
    // Backs the scale claim in Dedup.incrementalCandidates: the persisted
    // index bucketed by its join key is read back pre-partitioned, so a
    // new batch's (much smaller) band set is the only thing hashed — the
    // corpus index is written once and never re-shuffled per ingest.
    val sp = spark
    import sp.implicits._
    val corpus = graft.operators.Dedup.bandIndex(Tables.documents(spark, sf))
    corpus.write.bucketBy(8, "band", "bh").sortBy("band", "bh")
      .mode("overwrite").saveAsTable("band_index_bucketed")
    val batch = graft.operators.Dedup.bandIndex(
      Seq((900001L, "the quick brown fox jumps over the lazy dog while the cat " +
        "sleeps on the warm mat near the door")).toDF("doc_id", "text"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val j = graft.operators.Dedup.incrementalCandidates(
        batch, spark.table("band_index_bucketed"))
      j.collect()
      val plan = j.queryExecution.executedPlan
      // the index side of the join must flow scan -> join with no
      // Exchange in between (the distinct above the join shuffles the
      // tiny pair set — that one is fine and excluded by scoping the
      // assertion to the join's child subtree)
      val smj = plan.collect {
        case sj: org.apache.spark.sql.execution.joins.SortMergeJoinExec => sj
      }.head
      val idxSide = smj.children.find(
        _.collect { case f: FileSourceScanExec => f }
          .exists(_.toString.contains("band_index_bucketed")))
        .getOrElse(fail("no join side scans the bucketed index"))
      val idxShuffled = idxSide.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(idxShuffled.isEmpty,
        s"corpus index must join from its bucketed layout unshuffled:\n${plan.toString.take(1500)}")
      assert(plan.toString.contains("Bucketed: true"), "index scan must be bucket-aware")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS band_index_bucketed")
    }
  }

  test("dedup_incremental_compacted: candidates identical pre/post compaction; index joins unshuffled") {
    // Candidate identity: the compacted declared query vs the uncompacted
    // incremental query — a maintenance job may change cost, never a
    // candidate (the driver gates the same via the shared oracle; this
    // pins it engine-side without DuckDB in the loop).
    val compacted = SparkEntry.queries("dedup_incremental_compacted")(spark, sf)
    val plain = SparkEntry.queries("dedup_incremental")(spark, sf)
    assert(compacted.collect().map(_.toString).toSeq ==
      plain.collect().map(_.toString).toSeq)
    // Layout posture: the compacted table joins from its bucket layout
    // with no Exchange on the corpus side (same assertion as the raw
    // bucketed-index test, but on the DECLARED query's table).
    val tbl = graft.operators.Dedup.compactedBandTable(spark, sf)
    // save-and-restore, not hardcoded defaults: a regime sweep (AQE-off,
    // non-default broadcast threshold) must get ITS values back
    graft.operators.Skew.withConfs(spark, Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")) {
      val batch = graft.operators.Dedup.bandIndex(
        Tables.documents(spark, sf).filter(
          org.apache.spark.sql.functions.col("doc_id") % 5 === 0))
      val j = graft.operators.Dedup.incrementalCandidates(batch, spark.table(tbl))
      j.collect()
      val smj = j.queryExecution.executedPlan.collect {
        case sj: org.apache.spark.sql.execution.joins.SortMergeJoinExec => sj
      }.head
      val idxSide = smj.children.find(
        _.collect { case f: FileSourceScanExec => f }
          .exists(_.toString.contains("graft_band_compacted")))
        .getOrElse(fail("no join side scans the compacted table"))
      assert(idxSide.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, "compacted index must join from its bucketed layout unshuffled")
    }
  }

  test("bucketed layout: co-located fact⋈fact join runs with ZERO shuffles") {
    // The pre-partitioning lever for repeated big⋈big joins: both sides
    // written bucketBy(join key) read back already hash-partitioned, so
    // the sort-merge join needs no Exchange at all. At 100 TB this is the
    // difference between re-shuffling the fact table per query and never
    // shuffling it again. (Broadcast disabled: with tiny test data Spark
    // would otherwise broadcast and trivially show zero shuffles.)
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_bucketed")
    l.withColumnRenamed("l_orderkey", "o_orderkey")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("lineitem_bucketed")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val j = spark.table("lineitem_bucketed")
        .join(spark.table("orders_bucketed"), "o_orderkey")
        .agg(sum(col("l_quantity") * col("o_totalprice")).as("x"))
      j.collect()
      val shuffles = j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      val joinShuffles = shuffles.filterNot(_.toString.contains("SinglePartition"))
      assert(joinShuffles.isEmpty,
        s"bucketed join must not shuffle either side:\n${j.queryExecution.executedPlan.toString.take(1500)}")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        "scan must be bucket-aware")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")
    }
  }

  /** Rows the parquet scan emits under `box` (post row-group skipping,
    * pre-Filter) and the box's (count, exact value sum). Run with AQE
    * off: its stage wrappers hide the scan from `collect`. A fresh
    * Dataset and exactly one action, since scan metrics reset when a
    * plan re-executes. */
  private def boxScan(path: String, box: DataFrame => DataFrame): (Long, Row) = {
    val q = box(spark.read.parquet(path))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).as("sv"))
    val answer = q.collect()(0)
    val scan = q.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    val pushed = scan.metadata.getOrElse("PushedFilters", "[]")
    assert(pushed.replaceAll("[\\[\\]\\s]", "").nonEmpty,
      s"box predicate must push down (non-empty list), got: $pushed")
    (scan.metrics("numOutputRows").value, answer)
  }

  test("z-order layout: a 2-D box prunes the scan a linear sort cannot") {
    // The data-skipping claim, measured at the scan-metric level: the
    // same box predicate (user cohort × time window) over three layouts
    // of the same rows — flat, linearly ts-sorted, z-ordered — must (a)
    // agree on the answer and (b) read monotonically fewer rows, with
    // the z-order scan strictly beating the linear sort (whose footer
    // stats are tight on ts but span the full user domain in every file).
    // sf0.01: 10k events, 150 users — sf0.001's 15 users would make any
    // user box a large fraction of the domain and mask the effect.
    val dir01 = "/root/testdata/sf0.01"
    val ev = Tables.events(spark, dir01)
    val base = SparkSpec.tempDir("graft_zorder")
    ev.repartitionByRange(64, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(s"$base/linear")
    graft.sources.ZOrder.zOrdered(ev, "user_id", "ts", files = 64)
      .write.mode("overwrite").parquet(s"$base/zorder")

    // Box placement: Z-order's known wart is that a box straddling a
    // HIGH-bit boundary of the interleave touches ~2× the tiles (the
    // curve jumps across the split; Hilbert would halve this, see
    // ZOrder scaladoc). user 10..24 × Jan 10-13 straddles a high bit in
    // BOTH dimensions (measured: 5 tiles instead of 2) — still ahead of
    // linear, but the locality claim is cleanest on a box inside one
    // high-bin per dimension: user 40..54 × Jan 16-19 (same 10% × 10%
    // selectivity; identical answer discipline).
    def boxed(df: DataFrame) = df.filter(
      col("user_id").between(40, 54) &&
        col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-19 00:00:00").cast("timestamp"))

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scanRows(path: String): (Long, Long) = {
        val (scanned, answer) = boxScan(path, boxed)
        (scanned, answer.getLong(0))
      }
      val (flatRows, nFlat) = scanRows(s"$dir01/events.parquet")
      val (linRows, nLin) = scanRows(s"$base/linear")
      val (zRows, nZ) = scanRows(s"$base/zorder")
      assert(nFlat == nLin && nLin == nZ && nZ > 0,
        s"layouts must agree on the answer: $nFlat/$nLin/$nZ")
      val total = ev.count()
      assert(linRows < total,
        s"ts-sorted layout should skip some row groups: $linRows of $total")
      assert(zRows < linRows * 6 / 10,
        s"z-order must beat the linear sort by >40% on rows scanned: " +
          s"z=$zRows linear=$linRows flat=$flatRows total=$total")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("3-D layouts: the z and hilbert curves both prune the layout_zorder3 box") {
    // The declared 3-D box (user cohort × event_type range × week) over
    // the two N-D layouts of the same rows must give the flat table's
    // answer while the scan emits fewer rows than the flat scan. Hilbert
    // against Z is not pinned: that ratio (0.67 at sf1) is evidence in
    // ZORDERLAB_r16_sf1.json, not a machine-independent law.
    import graft.sources.ZOrder
    val dir01 = s"${new java.io.File(sf).getParent}/sf0.01" // beside the suite's sf
    val ev = Tables.events(spark, dir01)
    val base = SparkSpec.tempDir("graft_zorder3")
    val dims = Seq("user_id", "event_type", "ts")
    ZOrder.zOrderedN(ev, dims).write.mode("overwrite").parquet(s"$base/zorder3")
    ZOrder.zOrderedN(ev, dims, curve = "hilbert")
      .write.mode("overwrite").parquet(s"$base/hilbert3")
    def box3(df: DataFrame) = df.filter(
      col("user_id").between(ZOrder.UserLo, ZOrder.UserHi) &&
        col("event_type").between(ZOrder.TypeLo, ZOrder.TypeHi) &&
        col("ts") >= lit(ZOrder.TsLo).cast("timestamp") &&
        col("ts") < lit(ZOrder.TsHi).cast("timestamp"))

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (flatRows, flat) = boxScan(s"$dir01/events.parquet", box3)
      assert(flat.getLong(0) > 0, "the box must select rows")
      Seq("zorder3", "hilbert3").foreach { layout =>
        val (rows, answer) = boxScan(s"$base/$layout", box3)
        assert(answer == flat, s"$layout changed the answer: $answer vs flat $flat")
        assert(rows < flatRows, s"$layout scan did not prune: $rows rows vs flat $flatRows")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("native as-of over bucketed sides: ZERO exchanges into the merge exec") {
    // the custom exec declares ClusteredDistribution(key) per side, so a
    // layout bucketed by the key satisfies it at READ time — the 100 TB
    // repeated-as-of shape (rates, dim versions, sensor snapshots) pays
    // the shuffle once at write, then never again
    val ev = Tables.events(spark, sf)
    ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
      .write.bucketBy(8, "user_id").sortBy("user_id", "ts")
      .mode("overwrite").saveAsTable("purchases_bucketed")
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .write.bucketBy(8, "c_user").sortBy("c_user", "click_ts")
      .mode("overwrite").saveAsTable("clicks_bucketed")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val j = graft.plans.AsOfJoin(
        spark.table("purchases_bucketed"), spark.table("clicks_bucketed"),
        "user_id", "c_user", "ts", "click_ts", "click_id")
      j.collect()
      val plan = j.queryExecution.executedPlan
      assert(plan.collect { case e: graft.plans.AsOfJoinExec => e }.nonEmpty,
        s"custom exec expected in:\n$plan")
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"bucketed as-of must not shuffle either side:\n${plan.toString.take(1500)}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS purchases_bucketed")
      spark.sql("DROP TABLE IF EXISTS clicks_bucketed")
    }
  }
}
