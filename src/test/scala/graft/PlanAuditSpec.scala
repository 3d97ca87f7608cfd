package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan audit over EVERY declared query — the invariants that
  * decide whether a plan survives a 100× scale-up, enforced per round:
  *
  *  - no CartesianProduct anywhere (the non-broadcast all-pairs killer)
  *  - month-filtered KPI queries push their range predicate into the
  *    orders scan (PushedFilters) — the reference's month-index analog
  *  - the star join broadcasts the nation dim, never shuffles it
  */
class PlanAuditSpec extends SparkSpec {

  private def executed(name: String) = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  test("no query contains a CartesianProduct") {
    SparkEntry.queries.keys.foreach { name =>
      val plan = executed(name).toString
      assert(!plan.contains("CartesianProduct"),
        s"$name has a cartesian product:\n${plan.take(2000)}")
    }
  }

  test("month-filtered KPI scans push the date range into the orders scan") {
    Seq("kpi_summary", "kpi_by_dept", "kpi_delta_by_dept", "kpi_anomalies").foreach { name =>
      val scans = executed(name).collectLeaves().map(_.toString)
      val ordersScan = scans.find(_.contains("orders")).getOrElse(fail(s"$name: no orders scan"))
      assert(ordersScan.contains("PushedFilters: [") && ordersScan.contains("o_orderdate"),
        s"$name orders scan lacks pushed o_orderdate filter:\n${ordersScan.take(600)}")
    }
  }

  test("star join broadcasts the nation dim") {
    val plan = executed("kpi_by_dept").toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "nation dim should broadcast, not shuffle")
  }

  test("column pruning: kpi_summary reads only needed lineitem columns") {
    val scans = executed("kpi_summary").collectLeaves().map(_.toString)
    val li = scans.find(_.contains("lineitem")).get
    // query needs quantity/extendedprice/discount/tax/orderkey — NOT
    // partkey/suppkey/shipdate/returnflag/linestatus/linenumber
    Seq("l_partkey", "l_shipdate", "l_returnflag").foreach { c =>
      assert(!li.contains(c), s"lineitem scan reads unneeded column $c")
    }
  }

  test("per-probe top-k uses rank-limit pushdown, not a full per-group sort") {
    // Spark's WindowGroupLimit (partial before the shuffle + final after)
    // keeps only k rows per probe per partition — without it, every
    // candidate row would be shuffled and sorted per probe, which is the
    // difference between O(k) and O(candidates) memory per group at scale.
    Seq("similar_topk", "similar_ann_ivf", "text_top_by_source",
        "text_tfidf").foreach { name =>
      val plan = executed(name).toString
      assert(plan.contains("WindowGroupLimit"),
        s"$name: expected WindowGroupLimit rank pushdown:\n${plan.take(1500)}")
    }
  }

  test("native codegen'd kernels are in the hot-path projections") {
    assert(executed("similar_topk").toString.contains("graft_dot_long"),
      "similarity dot should be the native expression under the test session")
    // the demo-banding embed query is a spec fixture since r10 (retired
    // from the declared surface); its plan still pins the native kernel
    val embedDf = graft.operators.Dedup.qEmbed(spark, sf)
    val embed = (embedDf.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    assert(embed.contains("graft_sign_bands"), "signature stage should be native")
    // the exact-cosine verify is pushed into the join, not a post-filter
    assert(embed.contains(">= 0.45"), "cosine threshold should appear as a join predicate")
  }

  test("layout_dpp_star prunes the partitioned fact scan at runtime") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    // fresh Dataset + exactly one action: scan SQLMetrics reset when the
    // same physical plan re-executes (verify-skill gotcha)
    val df = SparkEntry.queries("layout_dpp_star")(spark, sf)
    df.collect()
    // SparkPlan.collect stops at AQE QueryStageExec leaves — descend
    // explicitly, or the scan under a finished stage is never seen
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allNodes(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => allNodes(r.child)
        case _ => Nil
      }
      (p +: p.children.flatMap(allNodes)) ++ nested
    }
    val scan = allNodes(df.queryExecution.executedPlan).collectFirst {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("orders_by_month")) => s
    }.getOrElse(fail("partitioned fact scan not found in executed plan"))
    // the runtime subquery filter must sit in the scan's PARTITION
    // filters — that is what turns the dim filter into directory pruning
    assert(scan.partitionFilters.mkString(";").contains("dynamicpruning"),
      s"fact scan lacks a dynamicpruning partition filter: ${scan.partitionFilters}")
    // and it must have engaged: the layout holds one file per month over
    // the ~7-year o_orderdate span; the quarter keeps exactly 3.
    // Hadoop FS listing, not java.io.File: Artifacts honors
    // SPARK_GRAFT_ARTIFACTS, which may be a non-local URI — File
    // .listFiles() would return null there and NPE instead of failing
    // with a message (ADVICE r12).
    val layoutPath = new org.apache.hadoop.fs.Path(
      sources.Artifacts.path(spark, "orders_by_month", s"$sf/orders.parquet"))
    val layoutFs = layoutPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(layoutFs.exists(layoutPath),
      s"orders_by_month artifact missing at $layoutPath")
    val layoutMonths = layoutFs.listStatus(layoutPath)
      .count(_.getPath.getName.startsWith("month="))
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead < layoutMonths && filesRead <= 3,
      s"DPP did not prune: read $filesRead files of $layoutMonths month partitions")
  }

  test("layout_partition_z prunes directories AND skips row groups in one scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.functions.col
    val df = SparkEntry.queries("layout_partition_z")(spark, sf)
    df.collect()
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allNodes(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => allNodes(r.child)
        case _ => Nil
      }
      (p +: p.children.flatMap(allNodes)) ++ nested
    }
    val scan = allNodes(df.queryExecution.executedPlan).collectFirst {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("orders_month_z")) => s
    }.getOrElse(fail("composed-layout scan not found in executed plan"))
    // lever 1 — directory pruning: only the quarter's month partitions
    // are listed; each holds <= TilesPerMonth + 2 straddle files
    val filesRead = scan.metrics("numFiles").value
    val budget = 3L * (sources.Partitioned.TilesPerMonth + 2)
    assert(filesRead <= budget,
      s"partition pruning degraded: read $filesRead files (budget $budget)")
    // lever 2 — footer skipping: the pushed literal price band must have
    // skipped whole z-tiles, so rows READ undercut the quarter's rows
    // (scan numOutputRows counts rows of the row groups actually read)
    assert(scan.toString.contains("o_totalprice"),
      s"price band not pushed into the scan:\n${scan.toString.take(600)}")
    val quarterRows = sources.Partitioned.ordersMonthZ(spark, sf)
      .filter(col("month").isin(sources.Partitioned.QuarterMonths: _*)).count()
    val rowsRead = scan.metrics("numOutputRows").value
    assert(rowsRead < quarterRows,
      s"z tiles did not skip: read $rowsRead of $quarterRows quarter rows")
  }

  test("similar_ann_partitioned prunes the member scan to the probed cells") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.functions.col
    // fresh Dataset + exactly one action (scan SQLMetrics reset on re-run)
    val df = SparkEntry.queries("similar_ann_partitioned")(spark, sf)
    df.collect()
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allNodes(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => allNodes(r.child)
        case _ => Nil
      }
      (p +: p.children.flatMap(allNodes)) ++ nested
    }
    val scan = allNodes(df.queryExecution.executedPlan).collectFirst {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("ann_members")) => s
    }.getOrElse(fail("cluster-partitioned member scan not found in executed plan"))
    // the runtime filter must be a REAL dynamicpruning subquery, not the
    // degraded literal — the exact failure mode a Window in the build
    // side produces (see Similarity.probeCells)
    val pf = scan.partitionFilters.mkString(";")
    assert(pf.contains("dynamicpruning#"),
      s"member scan lacks a live dynamicpruning partition filter: $pf")
    assert(!pf.contains("dynamicpruningexpression(true)"),
      s"dynamic pruning degraded to literal true: $pf")
    // and it must have ENGAGED, exactly: the layout holds one file per
    // cell (assignCells repartitions by cell), so files read must equal
    // the probes' distinct nprobe cells — and be a strict subset
    val expectedCells = {
      val codebook = sources.Artifacts.cached(spark,
        graft.operators.Similarity.CodebookKind, s"$sf/embeddings.parquet") {
        fail("codebook artifact must exist after the query ran")
      }
      val probesPrep = graft.operators.Similarity.prepared(spark, sf, balanced = false)
        .filter(col("vec_id").isin(graft.operators.Similarity.ProbeIds: _*))
      graft.operators.Similarity.probeCells(spark, probesPrep, codebook)
        .select("cell").distinct().count()
    }
    // members are keyed on the CODEBOOK ARTIFACT PATH, not the raw
    // source (Similarity.ivfPartitionedTopKWith: a codebook refresh at an
    // unchanged source must move the members key too)
    val layoutPath = new org.apache.hadoop.fs.Path(
      sources.Artifacts.path(spark, graft.operators.Similarity.MembersKind,
        sources.Artifacts.path(spark, graft.operators.Similarity.CodebookKind,
          s"$sf/embeddings.parquet")))
    val layoutFs = layoutPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val layoutCells = layoutFs.listStatus(layoutPath)
      .count(_.getPath.getName.startsWith("cell="))
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead == expectedCells && filesRead < layoutCells,
      s"DPP did not prune to the probed cells: read $filesRead files, " +
        s"expected $expectedCells of $layoutCells cell partitions")
  }

  test("awaitListeners: a slow listener has seen every task-end when it returns") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val group = "await_listeners_spec"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    // counts only this case's tasks (job group), each one 100 ms late
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          j.stageIds.foreach(stages.add)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId)) { Thread.sleep(100); seen.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    val n = 8
    try {
      sc.setJobGroup(group, "awaitListeners spec")
      assert(sc.parallelize(1 to n, n).count() == n)
      org.apache.spark.graftbridge.StorageBridge.awaitListeners(sc)
      assert(seen.get() == n, s"saw ${seen.get()} of $n task-ends after the wait")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("groupTotals: a group's store totals equal a listener's per-task sums") {
    import org.apache.spark.graftbridge.StorageBridge
    import org.apache.spark.graftbridge.StorageBridge.TaskSums
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val jobStages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]()
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[(Int, TaskSums)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobStages.add((Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull, j.stageIds)); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        ends.add(t.stageId -> TaskSums(1, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten, m.inputMetrics.bytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)); ()
      }
    }
    val (a, b) = ("group_totals_spec_a", "group_totals_spec_b")
    // a star join + aggregate (broadcast, exchanges, file scans), then one
    // Dataset collected twice: the second run skips the first's map stage
    val counts = spark.range(0, 20000, 1, 8).groupBy(col("id") % 7).count()
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(a, "groupTotals spec a")
      SparkEntry.queries("kpi_by_dept")(spark, sf).collect()
      counts.collect(); counts.collect()
      sc.setJobGroup(b, "groupTotals spec b")
      spark.range(0, 5000, 1, 3).groupBy(col("id") % 3).count().collect()
    } finally {
      sc.clearJobGroup()
      // a removed listener misses the events still queued for it
      StorageBridge.awaitListeners(sc)
      sc.removeSparkListener(listener)
    }
    val ta = StorageBridge.groupTotals(sc, a)
    val tb = StorageBridge.groupTotals(sc, b)
    def expected(g: String): (Int, Seq[(Int, TaskSums)]) = {
      val js = jobStages.asScala.toSeq.filter(_._1 == g)
      val stages = js.flatMap(_._2).toSet
      (js.size, ends.asScala.toSeq.filter(e => stages(e._1)).groupBy(_._1)
        .map { case (s, ts) => s -> ts.map(_._2).foldLeft(TaskSums.Zero)(_ + _) }
        .toSeq.sortBy(_._1))
    }
    val (jobsA, stagesA) = expected(a)
    val (jobsB, stagesB) = expected(b)
    assert(ta.jobs == jobsA && tb.jobs == jobsB)
    assert(ta.byStage == stagesA)
    assert(tb.byStage == stagesB)
    assert(ta.sum.shuffleWriteBytes > 0 && ta.sum.inputBytes > 0 && ta.sum.cpuNs > 0)
    // b's work is not in a's totals
    assert(ta.byStage.map(_._1).toSet.intersect(tb.byStage.map(_._1).toSet).isEmpty)
  }

  test("groupTotals: a group the status store has partly evicted throws") {
    import org.apache.spark.graftbridge.StorageBridge
    val sc = spark.sparkContext
    val group = "group_totals_spec_evicted"
    // one job more than the store retains: at least one of them is gone
    val n = sc.getConf.getInt("spark.ui.retainedJobs", 1000) + 1
    try {
      sc.setJobGroup(group, "groupTotals eviction spec")
      (1 to n).foreach(_ => sc.parallelize(Seq(1), 1).count())
    } finally sc.clearJobGroup()
    StorageBridge.awaitListeners(sc)
    assert(sc.statusTracker.getJobIdsForGroup(group).length < n)
    val e = intercept[IllegalStateException](StorageBridge.groupTotals(sc, group))
    assert(e.getMessage.contains(s"group $group was partly evicted"))
  }

  test("layout_bloom_smj injects might_contain and prunes the fact shuffle") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // Shuffle-record truth from task metrics: the child regime session
    // shares this SparkContext, so its tasks report to this listener.
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def measure(on: Boolean): (Long, String) = {
        records.set(0)
        val df = sources.BloomJoin.qBloomStar(spark, sf, bloomOn = on)
        df.collect()
        // listener bus is async; drain before reading
        org.apache.spark.graftbridge.StorageBridge.awaitListeners(spark.sparkContext)
        val plan = (df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }).toString
        (records.get(), plan)
      }
      val (recOff, planOff) = measure(on = false)
      val (recOn, planOn) = measure(on = true)
      // the lever must be IN the executed plan (the DPP-gate discipline:
      // a plan claim is enforced, not narrated) and only in the on-plan
      assert(planOn.toLowerCase.contains("might_contain"),
        s"bloom filter not injected:\n${planOn.take(2000)}")
      assert(!planOff.toLowerCase.contains("might_contain"),
        "off-twin unexpectedly carries a runtime filter")
      // and it must have ENGAGED: the 2-month slice keeps ~2.4% of
      // orders, so pruned lineitem shuffle records collapse (lab truth
      // ×0.0585 at sf10, RTFILTERLAB_r12_sf10.json); <0.5 is the loose
      // machine bound that still fails loudly if injection goes inert
      assert(recOn < recOff / 2,
        s"bloom filter did not prune the shuffle: on=$recOn off=$recOff")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("jaccard's repeated shingle pipelines collapse via exchange reuse") {
    // qJaccard derives tok/sizes/signatures from the same shingle chain in
    // several sub-plans; Spark dedupes them ONLY while the subtrees stay
    // canonically identical. If a refactor perturbs one copy, every
    // ReusedExchange silently becomes a recompute — this tripwire fires.
    val df = SparkEntry.queries("dedup_jaccard")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val reused = "ReusedExchange".r.findAllIn(plan).length
    assert(reused >= 3, s"expected >=3 ReusedExchange nodes, got $reused")
  }

  test("config-sized sides broadcast in the round-3 queries") {
    // the rates table (sampling) and per-term weight table (bm25) are
    // config/query-sized — they must broadcast, never shuffle the corpus
    Seq("sample_stratified", "text_bm25").foreach { name =>
      assert(executed(name).toString.contains("BroadcastHashJoin"),
        s"$name: expected the small side broadcast")
    }
  }

  test("rollup/cube Expand consumes the pre-aggregate, not fact rows") {
    // The r16 restructure's load-bearing shape (VERDICT r15 #3): Spark
    // plans grouping sets as Expand × |sets| over its INPUT. The input
    // must be the finest-grain aggregate (groups-sized), never the fact
    // join output — an Expand whose subtree carries the scan-join spine
    // is the ~99 s-task-CPU sf10 stage coming back.
    Seq("kpi_rollup", "kpi_cube").foreach { name =>
      val plan = executed(name)
      val expands = plan.collect {
        case e: org.apache.spark.sql.execution.ExpandExec => e }
      assert(expands.nonEmpty, s"$name: grouping-sets plan must carry an Expand")
      expands.foreach { e =>
        assert(e.child.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        }.nonEmpty,
          s"$name: Expand must sit above the finest-grain aggregate:\n" +
            e.toString.take(1500))
      }
    }
  }

  test("shuffle counts stay bounded for the hot queries (broadcasts excluded)") {
    // regression tripwire: each count is pinned exactly, so a rewrite
    // that adds a shuffle stage fails loudly, and one that removes a
    // shuffle must lower its pin in the same change. Broadcast exchanges
    // are excluded — they are the plan we WANT for dims. summary = 2
    // (two-phase countDistinct), by_dept = 3 (+ presentation sort),
    // delta = 2, sessions/window = 2 (keyed shuffle + range sort; the
    // session groupBy reuses the window's user_id partitioning).
    val pins = Map(
      "kpi_summary" -> 2, "kpi_by_dept" -> 3, "kpi_delta_by_dept" -> 2,
      "events_sessions" -> 2, "events_window" -> 2,
      // round-10: the z-ordered scan must reach the aggregate without
      // any shuffle beyond the two-phase countDistinct + presentation
      // sort — a layout query that re-shuffled its layout would defeat
      // the write-once clustering contract
      "layout_zorder" -> 3, "layout_zorder3" -> 3,
      // the DPP star: calendar broadcasts; shuffles are the two-phase
      // countDistinct over the pruned months + presentation sort
      "layout_dpp_star" -> 3,
      // the bloom star is the DELIBERATE no-broadcast regime: SMJ key
      // exchanges on both join spines (lineitem/orders, joined/customer)
      // + the two-phase countDistinct — the bloom filter's point is
      // pruning the lineitem exchange's ROWS, not removing exchanges
      "layout_bloom_smj" -> 6,
      // round-3 additions: sampling and frame slicing are narrow (the 1
      // is the presentation sort); vocab = explode-agg + two-phase
      // count-distinct; bm25's 8 counts BOTH uses of the tf subtree
      // (ReusedExchange dedupes at runtime) and the tiny df/n/weight
      // stages — only 2 carry data volume (tf agg, per-doc score agg)
      "sample_stratified" -> 1, "media_frames" -> 1,
      "text_vocab" -> 3, "text_bm25" -> 8,
      // round-4 additions: asof = one key exchange per side into the
      // native merge exec + the presentation sort (a union+window form
      // would share one exchange, but materializes the union and buffers
      // the window); rolling = keyed window + presentation sort; interval = two join
      // sides + sort; moving_avg/quartiles =
      // one agg + sort; deciles = source window + agg + sort; salted =
      // salted join + agg; setops = 2 distincts + 2 join sides + sort
      // (the single-pass full-outer form — three literal set-op passes
      // measured 10). rollup/cube (r16 restructure, VERDICT r15 #3) = 3:
      // the finest-grain pre-aggregate's fact shuffle + the grouping-set
      // re-aggregate over GROUPS (the Expand now multiplies dozens of
      // rows, not |fact| — the sf10 ~99 s-task-CPU stage this removed)
      // + presentation sort
      "events_asof" -> 3, "events_rolling" -> 2, "events_interval" -> 3,
      "kpi_moving_avg" -> 2, "kpi_rollup" -> 3, "kpi_cube" -> 3,
      "kpi_quartiles" -> 2,
      // join_salted: 3 since r17 — the big side is balanced() before the
      // salt hash (a compact single-file fact scanned as ONE task,
      // serializing the map side), + the two salted-key exchanges
      "text_deciles" -> 3, "join_salted" -> 3, "text_vocab_setops" -> 5,
      // round-5 additions: funnel = ONE user_id window shuffle (+ tiny
      // 3-row sort); checksum = month agg + sort; histogram = bucket
      // agg + sort (the bounds agg is a tiny global); retention = the
      // single emp-keyed fact shuffle + cells agg + dim-sized
      // cohort-size window + sort; bigrams = 2 explode-agg branches +
      // the count-distinct expansion (uni side broadcasts)
      "events_funnel" -> 2, "catalog_checksum" -> 2,
      "catalog_histogram" -> 3, "kpi_retention" -> 4, "text_bigrams" -> 5,
      // winsorize = bounds agg + clamped agg + sort (bounds broadcast
      // back); anti = anti-join key shuffle + agg/sort; fuzzy (r14
      // shape) = pre-explode rebalance + hashed-key SHUFFLE_HASH
      // self-join spine counted on both sides + pair distinct +
      // neighbor agg — the self-join is DELIBERATELY shuffled at every
      // sf (an entity self-join never broadcasts at scale, and the
      // spine rows are 16-byte (hash, id) pairs — the r14 9× sf10 win);
      // the name re-attach joins broadcast, top-k is TakeOrdered
      "kpi_winsorize" -> 3, "join_anti" -> 2, "dedup_fuzzy" -> 8,
      // scd2 = full-outer join sides + sort; tfidf counts its tf subtree
      // in BOTH the weight and score branches plus the n-docs scan
      // (ReusedExchange dedupes at runtime, as the jaccard test proves) —
      // the data-carrying shuffles are tf agg, df agg, doc window
      "etl_scd2" -> 3, "text_tfidf" -> 9,
      // round-5 fourth/fifth batches (measured: a wrong pin's message
      // prints the initial plan's count):
      // semi = anti's dual (join keys + agg/sort); gapfill = monthly agg
      // + spine join + fill window reusing the join's emp partitioning +
      // sort; scrub/split = local-only balance or agg + sort; pack =
      // source window + shard agg + sort; heavy = checkpointed summary
      // scan + candidate distinct + verify agg + sort (the corpus-side
      // joins are broadcasts); decontam (r17) = one balance per side +
      // the bench shingle agg + the per-doc hit agg + sort (bench side
      // broadcasts; plans/r17/pipeline_decontam_after.txt); slope =
      // monthly agg + dept agg + sort; audit = one tiny global agg per table + the FK
      // anti-join sides + sort — every exchange is rule-table-sized
      "join_semi" -> 2, "kpi_gapfill" -> 4, "text_scrub" -> 2,
      "pipeline_pack" -> 3, "text_heavy" -> 5, "pipeline_decontam" -> 5,
      "pipeline_split" -> 2, "kpi_slope" -> 3, "catalog_audit" -> 7,
      // round-15 BPE family: apply is IN-ROW (the nested-replace chain
      // adds zero exchanges — the scan-speed claim, machine-checked):
      // tokens = pre-explode-free balance + presentation sort only;
      // pack_bpe = pack's source window + shard agg + sort; the
      // trained twin reads the 8-row merges artifact on the driver, so
      // its plan is identical to tokens, whichever trainer filled the
      // artifact; bpe_train's DECLARED frame is the collected merges
      // (bpeTrainBatched runs at build time — the documents vocabulary
      // trains in memory after one word-frequency job — and the returned
      // plan carries just the 8-row localized sort)
      "text_tokens_bpe" -> 2, "pipeline_pack_bpe" -> 3,
      "text_tokens_bpe_trained" -> 2, "text_bpe_train" -> 1,
      // round-7 additions: linedup = chunk window + doc regroup/join +
      // sort; repetition/epochs = in-row only + presentation sort; cdc =
      // the ONE keyed agg (max-struct, map-side combined) + sort;
      // benford = 9-group agg (+ tiny total) + sort; perplexity counts
      // the pair subtree in BOTH the model and scoring branches
      // (ReusedExchange dedupes at runtime) — data-carrying shuffles
      // are pair agg, uni agg, model join, scoring join, doc regroup
      "text_linedup" -> 3, "text_repetition" -> 1, "pipeline_epochs" -> 1,
      "events_cdc" -> 2, "catalog_benford" -> 4, "text_perplexity" -> 10,
      // pareto = fact->dept agg + dim window sort; spike = hourly agg +
      // type-keyed window + sort; drift counts its bucket-agg subtree in
      // BOTH the totals and report branches (ReusedExchange dedupes);
      // basket's returned plan has ZERO shuffles (r17 §8: the fused
      // basket pass — pairs + brand singles + order marker in one
      // explode/groupBy — runs once behind a Lineage.cut at
      // construction; consumers join the checkpointed brand-pair-sized
      // RDD), top-k is TakeOrdered
      "kpi_pareto" -> 2, "events_spike" -> 3, "catalog_drift" -> 6,
      "join_basket" -> 0,
      // boilerplate = ONE docfreq exchange (r17 §9: per-doc dedup is
      // in-row array_distinct, so countDistinct's second pass is gone)
      // + the chunk stream's anti-join exchange (AQE broadcasts the
      // chrome side when tiny) + doc regroup/join; index = the
      // (token,doc_id) agg + ONE token window whose partitioning the
      // postings regroup reuses, top-N is TakeOrdered
      "text_boilerplate" -> 3, "text_index" -> 2,
      // new_users = (day,user) agg + user window + calendar-day agg +
      // the dim-sized running-sum/sort; audit = the count-distinct
      // expansion's two passes (HLL rides the same agg)
      "events_new_users" -> 4, "kpi_headcount_audit" -> 2,
      // quarantine/union_evolve = in-row projection/union only + the
      // presentation sort
      "etl_quarantine" -> 1, "etl_union_evolve" -> 1,
      // match counts its t/c bin-agg subtrees in every consumer (kept
      // filter, totals, report — raw count 10, runtime-deduped via
      // ReusedExchange); the data-carrying shuffles are the two bin
      // aggs + the kept regroup, all map-side combined — the candidate
      // doc stream itself joins broadcast and never shuffles
      "pipeline_match" -> 10,
      // attribution = ONE user window + channel agg + sort; the audits
      // and corr are single global aggregates (tiny 1-row exchanges)
      "events_attribution" -> 3, "kpi_quantile_audit" -> 1,
      // catalog_corr: 2 since r17 — balanced() fans the single-split
      // fact scan out before the DECIMAL(38) moments pass (measured
      // serial at 4 tasks without it), + the 1-row aggregate exchange
      "catalog_corr" -> 2,
      // histogram_depth = tiny cuts agg + bucket agg + sort; wau =
      // activity distinct + dau agg + exploded distinct + wau agg +
      // join/sort (all map-side combined over the collapsed frame)
      "catalog_histogram_depth" -> 3, "events_wau" -> 6,
      // transitions = user lag window + |types|² matrix agg + its tiny
      // normalization window + sort; slo = the tumbling-shaped hourly
      // agg + sort
      "events_transitions" -> 4, "events_slo" -> 2,
      // langid_eval = scan-speed scoring + |langs|² agg + its tiny
      // share window + sort; mixture = |sources| agg + 1-row share
      // window + sort
      "text_langid_eval" -> 3, "pipeline_mixture" -> 2,
      // round-16: the 512-merge gates stay IN-ROW like the rest of the
      // BPE family (train512's declared frame is the localized merges
      // sort; tokens512 is scan + kernel + presentation sort); hilbert =
      // zorder3's box agg shape
      "text_bpe_train512" -> 1, "text_tokens_bpe512" -> 1,
      "layout_hilbert" -> 3)
    pins.foreach { case (name, pin) =>
      val n = executed(name).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.length
      assert(n == pin, s"$name has $n shuffle exchanges (pin $pin)")
    }
  }

  test("the 512-merge BPE apply kernel runs inside whole-stage codegen") {
    // The r16 vocab-axis claim, machine-checked: graft_bpe_count is a
    // real codegen'd Expression (its doGenCode emits a static-kernel
    // call), so the scan -> tokenize projection must collapse into one
    // WholeStageCodegen span — the r15 replace-chain fell to
    // CodegenFallback past ~24 merges, which is exactly the cliff this
    // pin guards against regressing into. AQE is disabled for the
    // inspection only (stage wrappers hide codegen nodes from a plan
    // walk before materialization).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("text_tokens_bpe512")(spark, sf)
        .queryExecution.executedPlan
      val wsc = p.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
      assert(wsc.exists(_.toString.contains("graft_bpe_count")),
        s"bpe kernel not inside any WholeStageCodegen span:\n${p.toString.take(2000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("kernel queries install the engine into a session with no graft config") {
    import graft.plans.{AsOfJoinExec, AsOfJoinStrategy, GraftExtensions}
    // one bare session per query (its own function registry and
    // strategies), so every query must install what it runs
    def bare() = {
      val s = spark.newSession()
      assert(!s.experimental.extraStrategies.contains(AsOfJoinStrategy) &&
        !s.catalog.functionExists(GraftExtensions.DotLongName), "newSession starts bare")
      s
    }
    // the executed plan as planned, then one run: the final adaptive
    // plan can lose the kernel, since at sf0.001 dedup_embed_scaled is
    // empty and AQE drops the empty subtrees
    def executedNodes(name: String) = {
      val df = SparkEntry.queries(name)(bare(), sf)
      val nodes = graft.operators.Skew.finalPlanNodes(df.queryExecution.executedPlan)
      df.collect()
      nodes
    }
    Seq("events_asof", "events_asof_multi", "events_asof_inner").foreach { name =>
      assert(executedNodes(name).exists(_.isInstanceOf[AsOfJoinExec]), s"$name: no AsOfJoinExec")
    }
    Seq("dedup_embed_planted" -> "graft_sign_bands", "dedup_embed_scaled" -> "graft_sign_bands",
        "similar_ann_kmeans" -> "graft_argmax_cell", "similar_ann_ivf" -> "graft_argmax_cell",
        "text_tokens_bpe512" -> "graft_bpe_count").foreach { case (name, kernel) =>
      assert(executedNodes(name).exists(_.expressions.exists(_.exists(_.prettyName == kernel))),
        s"$name: no $kernel expression in the executed plan")
    }
    // layout_hilbert reads a cached layout artifact: the kernel sits in
    // the plan that writes it
    val s = bare()
    SparkEntry.queries("layout_hilbert")(s, sf).collect()
    val layout = sources.ZOrder.zOrderedN(sources.Tables.events(s, sf),
      Seq("user_id", "event_type", "ts"), curve = "hilbert")
    assert(layout.queryExecution.executedPlan.toString.contains("graft_hilbert_n"),
      "layout_hilbert: no graft_hilbert_n in the layout plan")
    GraftExtensions.ensure(s)
    assert(s.experimental.extraStrategies.count(_ == AsOfJoinStrategy) == 1,
      "a second ensure must not stack the strategy")
    // first calls racing on several threads also install once
    val raced = bare()
    val threads = (1 to 8).map(_ => new Thread(() => GraftExtensions.ensure(raced)))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(raced.experimental.extraStrategies.count(_ == AsOfJoinStrategy) == 1,
      "concurrent first ensures must install the strategy once")
  }
}
