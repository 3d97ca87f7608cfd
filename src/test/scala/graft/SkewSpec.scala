package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

/** Salted-join semantics: bit-identical results to the plain join, and
  * the salt actually spreads a hot key across groups. */
class SkewSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  // skewed big side: one hot key (90%), a long tail
  private lazy val big = spark.range(10000)
    .select(when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
      col("id").as("payload"))
  private lazy val small = Seq((1L, "hot"), (10L, "a"), (20L, "b"), (9999L, "zz"))
    .toDF("k", "v")

  test("salted inner join == plain inner join") {
    val plain = big.join(small, Seq("k"), "inner")
    val salted = Skew.saltedJoin(big, small, "k", salts = 16)
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("salted left join == plain left join (unmatched rows survive once)") {
    val plain = big.join(small, Seq("k"), "left")
    val salted = Skew.saltedJoin(big, small, "k", salts = 8, joinType = "left")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("AQE splits a skewed sort-merge join at runtime (the first-choice lever)") {
    // Lower the skew thresholds so the tiny fixture trips them; assert the
    // final adaptive plan marks the join skew=true — the runtime behavior
    // saltedJoin is the manual fallback for.
    val conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val bigger = spark.range(200000)
        .select(when(col("id") % 5 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
          concat(lit("payload_payload_payload_"), col("id")).as("p"))
      val right = spark.range(0, 200000, 7).select(col("id").as("k"), col("id").as("v"))
      val j = bigger.join(right, "k").agg(count(lit(1)))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-join split in final plan:\n${plan.take(1500)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("join_skew_aqe: the split engages on the planted key with numSkewedPartitions > 0, answer == plain join") {
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    val factRows = graft.sources.Tables.lineitem(spark, sf).count()
    Skew.withConfs(spark, Skew.skewAqeConfs(factRows)) {
      val df = Skew.skewAqePlan(spark, sf)
      val got = df.collect()
      assert(Skew.skewSplitEngaged(df),
        s"final plan lacks a skew-split join:\n${df.queryExecution.executedPlan.toString.take(1500)}")
      // the verdict's listener-grade check: the AQE shuffle read above the
      // skewed side must report split partitions, not just a relabeled join
      // (finalPlanNodes descends into QueryStageExec shells — a plain
      // collect over the final plan sees none of the reads inside them)
      val skewedParts = Skew.finalPlanNodes(df.queryExecution.executedPlan)
        .collect { case r: AQEShuffleReadExec => r }
        .flatMap(_.metrics.get("numSkewedPartitions")).map(_.value).sum
      assert(skewedParts > 0, "AQEShuffleRead reports zero skewed partitions")
      // semantics: identical to the un-gated plain plan (split may change
      // cost, never an answer); also pins the declared query's local
      // materialization against its own source plan
      assert(got.map(_.toString).toList ==
        Skew.skewAqePlan(spark, sf).collect().map(_.toString).toList)
    }
    // the declared entry runs end-to-end (conf window + require + local result)
    val declared = SparkEntry.queries("join_skew_aqe")(spark, sf)
    assert(declared.count() > 0)
  }

  test("skew-gate conf window restores the session's prior confs, set or unset") {
    val k = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    val before = spark.conf.getOption(k)
    Skew.withConfs(spark, Seq(k -> "4096")) {
      assert(spark.conf.get(k) == "4096")
    }
    assert(spark.conf.getOption(k) == before)
  }

  test("the hot key spreads over many salt groups; salt is deterministic") {
    val salted = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col): _*), lit(16L)).cast("int"))
    val hotSpread = salted.filter(col("k") === 1L).select("__salt").distinct().count()
    assert(hotSpread >= 12, s"hot key must spread across salts, got $hotSpread of 16")
    // deterministic: recomputing yields the same assignment per row
    val a = salted.select("payload", "__salt").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = salted.select("payload", "__salt").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
  }
}
