package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import graft.functions.Num.{dbl, dec}
import graft.sources.Tables

/** Skew mitigation for keyed joins — the manual lever for when a handful
  * of hot keys would pin a 100 TB shuffle onto a few reducers.
  *
  * Order of preference at scale:
  *  1. AQE skew-join splitting (`spark.sql.adaptive.skewJoin.*`) — free,
  *     on by default, handles sort-merge skew at runtime; always try
  *     first.
  *  2. Broadcast the small side — no shuffle of the big side at all.
  *  3. This salted join — when the small side is too big to broadcast AND
  *     the skew lives in an aggregation-like pattern AQE can't split.
  *
  * MEASURED (SKEWLAB_r08.json: sf1 ×8 amplification, one key owning 50%
  * of 48 M rows, local[32]; SkewSpec pins the split engaging): when
  * AQE's split engages it wins outright — the join stage fans out past
  * 32 tasks, the straggler disappears (max task ~1.6 s vs ~9.2 s
  * unsplit) and wall drops ~3×;
  * this salted join is then the WORST arm, because replicating the small
  * side ×salts costs ~5× total task-time and the value-hash salt
  * collides when hot-key rows carry few distinct values (here ~50
  * distinct quantities → 16 salts populated ~2× unevenly). But the
  * split is plan-shape dependent: the identical join driven through
  * `Dataset.count()` never received it in Spark 4.1.2 (straggler
  * intact across repeated runs) while `collect()` always did — rung 1
  * is a default, not a guarantee, which is why this lever exists.
  *
  * The salt is DETERMINISTIC (xxhash64 of the big row's values, mod
  * `salts`), not `rand()`: results are reproducible across retries and
  * partitionings, which task re-execution on a real cluster requires
  * (a nondeterministic salt can double-count rows when a stage retries).
  * Corollary of the measurement above: value-hashing makes salt balance
  * only as good as the row-value entropy on the hot keys — if hot rows
  * are near-duplicates, project extra distinguishing columns into the
  * big side before salting.
  */
object Skew {

  /** Equi-join `big ⋈ small` on `key`, spreading each hot key of the big
    * side over `salts` reducer groups; the small side is replicated
    * `salts`× (explode over the salt range), so memory cost is
    * |small| × salts — keep salts modest (8–64). Semantically identical
    * to `big.join(small, key, joinType)` for row-level join types
    * (SkewSpec pins equality). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    // right/full outer would emit the small side's unmatched SALT COPIES
    // as extra null-padded rows — salting is only sound for join types
    // whose output rows all originate from the (salted) big side
    // "cross" is excluded: with using-columns it would degenerate to the
    // keyed equi-join anyway (inner covers it) — offering it is misleading
    val normalized = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
      .contains(normalized),
      s"saltedJoin supports inner/left/left_semi/left_anti, got $joinType")
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col).toSeq: _*), lit(salts.toLong)).cast("int"))
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(replicatedSmall, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Declared query gating the salted join's SEMANTICS against a plain
    * join oracle: lineitem (big, salted) ⋈ orders (replicated) on the
    * order key, aggregated per priority. The oracle is the unsalted
    * join — identical results is the whole point of the operator. */
  def qSalted(s: SparkSession, dir: String): DataFrame = {
    // balanced(): same pre-fan-out discipline as skewAqePlan — a compact
    // single-file fact scans as one task, serializing the salt hash and
    // the join's map side (measured r17: 7 tasks, 2.0 s at sf0.1/32
    // cores); at real scale the scan is already thousands of splits
    val li = Tables.balanced(Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")))
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
    saltedJoin(li, ord, "o_orderkey", salts = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dbl(sum(dec(col("l_quantity")))).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  def qSaltedSql: String =
    """SELECT o.o_orderpriority, COUNT(*) AS n,
      |       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------------
  // Rung 1, gated: AQE skew-join splitting on a planted hot key
  // -------------------------------------------------------------------

  /** Set `confs` for the duration of `body`, restoring prior values
    * (including unset) after — the discipline a gated query running in
    * the SHARED Verify/Bench session needs: its lab invariants must not
    * leak into the next query's plans. */
  def withConfs[T](s: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** The conf window under which [[qSkewAqe]] runs. AQE's split only
    * fires on a partition exceeding BOTH `skewedPartitionFactor` ×
    * median AND `skewedPartitionThresholdInBytes` (production default
    * 256 MB — correct at 100 TB, far above anything a gate sf shuffles),
    * so the byte knobs scale with the fact's row count: ~1 byte/row is
    * well under the hot partition's compressed (jkey, quantity) stream
    * at every sf while the advisory half keeps the split to a handful
    * of sanely-sized chunks (hot/advisory ≈ 10-30 subpartitions, never
    * thousands). `adaptive.enabled` is pinned ON — this query GATES the
    * rung-1 lever, so the aqeoff sweep must not silently turn its
    * subject off (the lab-invariant rule of ADVICE r13); broadcast is
    * pinned off or the dim-sized orders side would dodge the shuffle
    * the skew lives in. The join shuffles into 32 partitions whatever
    * the session's count, since the byte knobs assume each non-hot
    * partition holds ~0.3% of the rows: at 4 partitions
    * (SPARK_GRAFT_CPUS=4) the split did not engage at sf0.1. */
  def skewAqeConfs(factRows: Long): Seq[(String, String)] = {
    // hot partition ≈ 90% of the fact at ~0.4-1.1 compressed B/row
    // (measured at sf0.001: 6000 rows → hot between 2 KB and 6 KB), so
    // rows/8 sits ≥3× under it at every sf while staying far above the
    // non-hot partitions (~0.3% of rows each)
    val threshold = math.max(1024L, factRows / 8)
    Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> threshold.toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (threshold / 2).toString)
  }

  /** The planted-skew star: ~90% of lineitem rows collapse onto order
    * key 1 (`l_orderkey % 10 <> 0 → 1`), so the join's shuffle hands one
    * reducer ~90% of the fact — the shape a 100 TB hot-customer /
    * hot-SKU join produces. The remap is pure modular arithmetic, so
    * DuckDB computes the identical skewed join. Result is the per-
    * priority rollup: bounded by |priorities| = 5. */
  def skewAqePlan(s: SparkSession, dir: String): DataFrame = {
    // balanced(): AQE splits a skewed REDUCE partition at map-output
    // granularity, so a gate-sf fact that scans as ONE task yields a hot
    // partition made of one indivisible block — unsplittable no matter
    // the thresholds. Fanning the small scan out to session parallelism
    // restores the many-map-blocks shape a real 100 TB shuffle has
    // (same pre-explosion discipline as Dedup.fuzzyNeighbors); at real
    // scale the scan is already thousands of splits and balanced() is a
    // no-op.
    val li = Tables.balanced(Tables.lineitem(s, dir).select(
      when(col("l_orderkey") % 10 =!= 0, lit(1L))
        .otherwise(col("l_orderkey")).as("jkey"),
      col("l_quantity")))
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("jkey"), col("o_orderpriority"))
    li.join(ord, Seq("jkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dbl(sum(dec(col("l_quantity")))).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** Every node of an EXECUTED adaptive plan, descending through
    * query-stage wrappers: `QueryStageExec` is a leaf to TreeNode
    * traversal (its materialized subtree hangs off `.plan`, not
    * `children`), so a plain `collect` over a final AQE plan sees the
    * stage shells and none of the joins/reads inside them. Pass
    * `df.queryExecution.executedPlan` after an action on `df`, or the
    * plan of the `QueryExecution` an action ran. */
  def finalPlanNodes(plan: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    plan.collect { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => a +: finalPlanNodes(a.executedPlan)
      case q: QueryStageExec => q +: finalPlanNodes(q.plan)
      case n => Seq(n)
    }
  }

  /** True iff the executed (final adaptive) plan of `df` contains a
    * skew-split join — the machine check that rung 1 actually engaged,
    * not just that the answer came out right. */
  def skewSplitEngaged(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    finalPlanNodes(df.queryExecution.executedPlan).exists {
      case smj: SortMergeJoinExec => smj.isSkewJoin
      case shj: ShuffledHashJoinExec => shj.isSkewJoin
      case _ => false
    }
  }

  /** Declared query gating the FIRST rung of the skew ladder — AQE's
    * runtime skew-join split (SKEWLAB_r08 measured it beating the manual
    * salt 3× when it engages; `join_salted` gates rung 3's semantics,
    * this gates rung 1's ENGAGEMENT): the planted-hot-key join runs
    * under [[skewAqeConfs]], the final adaptive plan is REQUIRED to
    * carry a skew-split join (a vacuous pass where the split never
    * fired fails loudly), and the rows must hash-match the DuckDB
    * oracle computing the same skewed join. The result is materialized
    * driver-side — bounded at 5 rows by the priority domain, the same
    * bounded-probe class as the CC convergence booleans — so the
    * returned frame carries the answer, not the conf-window plan. */
  def qSkewAqe(s: SparkSession, dir: String): DataFrame = {
    // columnless metadata-weight count; sizes the byte knobs to the sf
    val factRows = Tables.lineitem(s, dir).count()
    withConfs(s, skewAqeConfs(factRows)) {
      val df = skewAqePlan(s, dir)
      val out = df.collect()
      require(skewSplitEngaged(df),
        "AQE skew split did not engage on the planted hot key — the gate would be vacuous")
      s.createDataFrame(java.util.Arrays.asList(out: _*), df.schema)
    }
  }

  def qSkewAqeSql: String =
    """SELECT o.o_orderpriority, COUNT(*) AS n,
      |       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM (SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 1 ELSE l_orderkey END AS jkey,
      |             l_quantity
      |      FROM lineitem) l
      |JOIN orders o ON o.o_orderkey = l.jkey
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin
}
