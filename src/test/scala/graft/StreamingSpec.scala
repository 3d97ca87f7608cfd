package graft

import graft.operators.Events
import graft.streaming.Streams
import graft.streaming.Streams.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Structured Streaming semantics: stream ≡ batch for the shared windowed
  * transform, the CDC apply and the semantic decontam, and stateful
  * sessionization emits exactly the closed sessions the batch
  * gaps-and-islands would. */
class StreamingSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  private def ts(minutes: Long): Timestamp = new Timestamp(1700000000000L + minutes * 60000L)

  test("streaming hourly windows (complete mode) == batch tumbling aggregation") {
    val events = graft.sources.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      .collect().toSeq
    val stream = MemoryStream[Event](spark)
    val q = Streams.hourlyWindows(stream.toDF())
      .writeStream.format("memory").queryName("win_complete")
      .outputMode(OutputMode.Complete).start()
    try {
      stream.addData(events.take(500))
      q.processAllAvailable()
      stream.addData(events.drop(500))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM win_complete")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val want = Events.tumbling(graft.sources.Tables.events(spark, sf)
          .select("event_id", "ts", "user_id", "event_type", "value"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want, s"stream produced ${got.size} windows, batch ${want.size}")
    } finally q.stop()
  }

  test("streaming CDC apply (complete mode, batches out of event-time order) == batch cdcApply") {
    val events = graft.sources.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      .collect().toSeq.sortBy(e => (Streams.tsUs(e.ts), e.event_id))
    // the later half arrives first: last-write-wins must follow event
    // time, not arrival, so a user with events in both halves takes the
    // latest (ts, event_id) from the batch that arrived FIRST
    val (early, late) = events.splitAt(events.size / 2)
    val spanning = early.map(_.user_id).toSet.intersect(late.map(_.user_id).toSet)
    assert(spanning.nonEmpty, "no user spans both batches: arrival order would be untested")
    val stream = MemoryStream[Event](spark)
    val q = Events.cdcApply(stream.toDF())
      .writeStream.format("memory").queryName("cdc_complete")
      .outputMode(OutputMode.Complete).start()
    try {
      stream.addData(late)
      q.processAllAvailable()
      stream.addData(early)
      q.processAllAvailable()
      val got = spark.table("cdc_complete").collect().toSet
      val want = Events.cdcApply(graft.sources.Tables.events(spark, sf)).collect().toSet
      assert(want.nonEmpty && want.exists(_.getAs[Long]("n_deletes") > 0),
        "the fixture must carry live users and tombstones")
      assert(got == want, s"stream-only ${(got -- want).take(5)}; batch-only ${(want -- got).take(5)}")
    } finally q.stop()
  }

  test("stateful sessionization: gap closes a session, timeout emits it") {
    val stream = MemoryStream[Event](spark)
    val q = Streams.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10 min apart (one session), then one 50 min in
      // (> 30 min gap -> second session)
      stream.addData(
        Event(1, ts(0), 1L, "click", 1.0),
        Event(2, ts(10), 1L, "view", 2.0),
        Event(3, ts(50), 1L, "click", 3.0))
      q.processAllAvailable()
      // user 2 far in the future: advances the watermark hours past both
      // user-1 sessions' (end + gap), forcing their timeouts
      stream.addData(Event(4, ts(600), 2L, "view", 4.0))
      q.processAllAvailable()
      stream.addData(Event(5, ts(610), 2L, "view", 5.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM sessions").as[Session].collect()
        .map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.sum_value)).toSet
      assert(got.contains((1L, ts(0), ts(10), 2L, 3.0)), s"first session closed+emitted, got $got")
      assert(got.contains((1L, ts(50), ts(50), 1L, 3.0)), s"singleton second session, got $got")
      assert(!got.exists(_._1 == 2L), "user 2's session still open (watermark short of it)")
    } finally q.stop()
  }

  test("batch sessionization agrees with stateful semantics on the fixture") {
    val batch = Events.sessions(Seq(
      (1L, ts(0), 1L, "click", 1.0), (2L, ts(10), 1L, "view", 2.0),
      (3L, ts(50), 1L, "click", 3.0), (4L, ts(600), 2L, "view", 4.0),
    ).toDF("event_id", "ts", "user_id", "event_type", "value")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3), r.getLong(4))).toSet
    assert(batch == Set(
      (1L, ts(0), ts(10), 2L), (1L, ts(50), ts(50), 1L), (2L, ts(600), ts(600), 1L)))
  }

  test("watermark drops late data: an event hours behind the watermark never lands") {
    val stream = MemoryStream[Event](spark)
    val q = Streams.hourlyWindows(stream.toDF())
      .writeStream.format("memory").queryName("late_windows")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(Event(1, ts(0), 1L, "click", 1.0))
      q.processAllAvailable()
      // jump the watermark far past the first window (+ the 2h delay)
      stream.addData(Event(2, ts(600), 1L, "click", 1.0))
      q.processAllAvailable()
      // now 'late': event-time back at the start, watermark way beyond it
      stream.addData(Event(3, ts(1), 1L, "click", 100.0))
      q.processAllAvailable()
      stream.addData(Event(4, ts(1200), 1L, "click", 1.0))
      q.processAllAvailable()
      // ts(0) = 2023-11-14 22:13:20 UTC -> its hourly window starts 22:00
      val firstWindow = spark.sql(
        "SELECT sum_value FROM late_windows WHERE w_start = timestamp'2023-11-14 22:00:00'")
        .collect()
      // the finalized first window must NOT include the late event's 100.0
      assert(firstWindow.forall(_.getDouble(0) == 1.0),
        s"late event leaked into a finalized window: ${firstWindow.mkString(",")}")
    } finally q.stop()
  }

  test("dedup observability: late rows surface in observed + watermark-drop metrics") {
    val stream = MemoryStream[Event](spark)
    val q = Streams.dedupEvents(stream.toDF())
      .writeStream.format("memory").queryName("dedup_obs_stream").start()
    try {
      // batch 1 advances the watermark to ts(180) - 2h = ts(60)
      stream.addData(Event(1, ts(0), 1L, "click", 1.0),
        Event(2, ts(180), 1L, "click", 1.0))
      q.processAllAvailable()
      // batch 2: one LATE row (ts(5) << watermark) — not a duplicate, so
      // any in/out difference this batch is purely the watermark drop
      stream.addData(Event(3, ts(5), 1L, "click", 1.0))
      q.processAllAvailable()
      val progs = q.recentProgress
      def summed(name: String, c: String): Long = progs.flatMap(p =>
        Option(p.observedMetrics.get(name)).map(_.getAs[Long](c))).sum
      assert(summed(Streams.DedupObsIn, "n_input") == 3, "all rows observed entering")
      assert(summed(Streams.DedupObsOut, "n_output") == 2, "late row never leaves")
      val lateDropped = progs.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum
      assert(lateDropped == 1,
        s"the state operator must count the late drop, got $lateDropped")
      // the surviving rows are exactly the on-time ones
      val ids = spark.sql("SELECT event_id FROM dedup_obs_stream")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("funnel observability: stage inputs observed, late stage event counted dropped") {
    val stream = MemoryStream[Event](spark)
    val q = Streams.funnelStages(stream.toDS())
      .writeStream.format("memory").queryName("funnel_obs_stream").start()
    try {
      stream.addData(Event(1, ts(0), 1L, "signup", 0.0),
        Event(2, ts(180), 9L, "signup", 0.0),
        Event(9, ts(1), 1L, "view", 0.0)) // not a funnel stage: pre-observe filter
      q.processAllAvailable()
      // late click (below the ts(60) watermark) for user 1
      stream.addData(Event(3, ts(5), 1L, "click", 0.0))
      q.processAllAvailable()
      val progs = q.recentProgress
      val nIn = progs.flatMap(p =>
        Option(p.observedMetrics.get(Streams.FunnelObsIn)).map(_.getAs[Long]("n_input"))).sum
      assert(nIn == 3, s"three stage-relevant rows (view filtered out), got $nIn")
      val lateDropped = progs.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum
      assert(lateDropped == 1,
        s"late click must be dropped+counted by the stateful op, got $lateDropped")
    } finally q.stop()
  }

  test("streaming dedup: re-delivered event_ids within the watermark are dropped") {
    val stream = MemoryStream[Event](spark)
    val q = Streams.dedupEvents(stream.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(
        Event(1, ts(0), 1L, "click", 1.0),
        Event(1, ts(1), 1L, "click", 1.0), // same id, same batch
        Event(2, ts(2), 1L, "view", 2.0))
      q.processAllAvailable()
      stream.addData(Event(1, ts(3), 1L, "click", 1.0)) // re-delivery, later batch
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup_stream").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L), s"duplicates dropped, got ${ids.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join: purchases pair with in-window clicks only") {
    val clicks = MemoryStream[Event](spark)
    val purchases = MemoryStream[Event](spark)
    val q = Streams.clickAttribution(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        Event(10, ts(0), 1L, "click", 0.0),   // 25 min before -> in window
        Event(11, ts(-40), 1L, "click", 0.0), // 65 min before -> outside
        Event(12, ts(25), 1L, "click", 0.0),  // exactly at purchase -> in
        Event(13, ts(10), 2L, "click", 0.0))  // other user -> no pair
      purchases.addData(Event(20, ts(25), 1L, "purchase", 5.0))
      q.processAllAvailable()
      // the click side can arrive arbitrarily later than the purchase —
      // both sides buffer in state until the watermark clears them
      clicks.addData(Event(14, ts(20), 1L, "click", 0.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT purchase_id, click_id FROM attrib")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((20L, 10L), (20L, 12L), (20L, 14L)), s"got $got")
    } finally q.stop()
  }

  test("streaming keyed upsert via foreachBatch: last write wins across batches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val stream = MemoryStream[Event](spark)
    val q = Streams.upsertStream(stream.toDF(), Seq("event_id"),
      org.apache.spark.sql.functions.col("ts").desc, s"$tmp/table", s"$tmp/ckpt")
    try {
      stream.addData(Event(1, ts(0), 1L, "click", 1.0), Event(2, ts(1), 1L, "view", 2.0))
      q.processAllAvailable()
      // batch 2: update key 1 (later ts), insert key 3, and a within-batch
      // dup for key 3 where the later ts must win
      stream.addData(Event(1, ts(10), 1L, "click", 9.0),
        Event(3, ts(2), 2L, "view", 3.0), Event(3, ts(5), 2L, "view", 4.0))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/table")
        .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
      assert(out == Map(1L -> 9.0, 2L -> 2.0, 3L -> 4.0), s"got $out")
    } finally q.stop()
  }

  test("streaming incremental dedup: later batches match the persisted band index") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps on the warm mat near the door"
    val stream = MemoryStream[(Long, String)](spark)
    val q = Streams.dedupIngest(stream.toDF().toDF("doc_id", "text"),
      s"$tmp/index", s"$tmp/hits", s"$tmp/ckpt")
    try {
      stream.addData((1L, base), (2L, "entirely unrelated content"))
      q.processAllAvailable()
      // batch 2: a near-dup of doc 1 (one word changed) + fresh noise
      stream.addData((10L, base.replace("mat", "rug")),
        (11L, "novel text with no relatives"))
      q.processAllAvailable()
      val hits = spark.read.parquet(s"$tmp/hits")
        .collect().map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_idx"))).toSet
      assert(hits.contains((10L, 1L)), s"near-dup must hit the index, got $hits")
      assert(!hits.exists(h => h._1 == 11L || h._2 == 11L), "noise matches nothing")
      val idx = spark.read.parquet(s"$tmp/index")
      assert(idx.select("doc_id").distinct().count() == 4, "index accumulates batches")
      assert(idx.columns.contains("batch_id"), "batch-partitioned for idempotent replay")
      // the maintenance job: compact the batch partitions into the
      // bucketed table; contents identical, bucket layout established
      graft.sources.Sinks.compactBandIndex(spark, s"$tmp/index", "band_index_compacted")
      try {
        val compacted = spark.table("band_index_compacted")
        assert(compacted.count() == idx.select("doc_id", "band", "bh").distinct().count())
        val catalogTable = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("band_index_compacted"))
        assert(catalogTable.bucketSpec.exists(_.bucketColumnNames == Seq("band", "bh")),
          s"compacted table must be bucketed by the join key: ${catalogTable.bucketSpec}")
      } finally spark.sql("DROP TABLE IF EXISTS band_index_compacted")
    } finally q.stop()
  }

  test("streaming decontam: two train micro-batches == the one-shot embedReport") {
    import graft.operators.Decontam
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft_decontam").toString
    val (bench, trainDf) = Decontam.plantedSides(spark, sf)
    val train = trainDf.as[StreamingSpec.TrainVec].collect().toSeq
    val stream = MemoryStream[StreamingSpec.TrainVec](spark)
    val q = Streams.decontamIngest(stream.toDF(), bench, s"$tmp/hits", s"$tmp/ckpt")
    try {
      // split on vec_id parity: a hit depends on its train row and the
      // static bench side only, so any split must reproduce the batch
      // rows, and the planted replicas land in both batches
      Seq(0L, 1L).foreach { p =>
        stream.addData(train.filter(v => Math.floorMod(v.vec_id, 2L) == p))
        q.processAllAvailable()
      }
    } finally q.stop()
    val hits = spark.read.parquet(s"$tmp/hits")
    val perBatch = hits.groupBy(col("batch_id").cast("long")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perBatch.keySet == Set(0L, 1L) && perBatch.values.forall(_ > 0),
      s"each micro-batch must carry hits: $perBatch")
    def triples(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.select("train_id", "bench_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(triples(hits) == triples(Decontam.embedReport(spark, sf)))
  }

  test("streaming funnel: exact under out-of-order delivery, watermark-gated emission") {
    val stream = MemoryStream[Event](spark)
    val q = Streams.funnelStages(stream.toDS())
      .writeStream.format("memory").queryName("funnel_hits")
      .outputMode(OutputMode.Append).start()
    try {
      // u1 delivered OUT OF ORDER: the click arrives before its signup. A
      // fold-in-arrival-order funnel would disqualify the click; the
      // buffered machine must not.
      stream.addData(
        Event(12, ts(10), 1L, "click", 1.0),
        Event(11, ts(0), 1L, "signup", 0.0),
        Event(13, ts(20), 1L, "purchase", 5.0))
      q.processAllAvailable()
      // far-future signups advance the watermark (2h delay) past u1's
      // events, sealing and finalizing them; u2's own events stay ahead
      // of the watermark and must NOT emit yet
      stream.addData(Event(21, ts(600), 2L, "signup", 0.0))
      q.processAllAvailable()
      stream.addData(Event(22, ts(610), 2L, "signup", 0.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM funnel_hits").as[Streams.StageHit]
        .collect().map(h => (h.user_id, h.stage, h.ts)).toSet
      assert(got === Set((1L, 1, ts(0)), (1L, 2, ts(10)), (1L, 3, ts(20))),
        s"got $got")

      // batch window formulation agrees on the same events
      val batch = graft.operators.Events.funnelUsers(Seq(
        (12L, ts(10), 1L, "click", 1.0), (11L, ts(0), 1L, "signup", 0.0),
        (13L, ts(20), 1L, "purchase", 5.0),
      ).toDF("event_id", "ts", "user_id", "event_type", "value")).collect().head
      assert(batch.getLong(1) === ts(0).getTime * 1000L &&
        batch.getLong(2) === ts(10).getTime * 1000L &&
        batch.getLong(3) === ts(20).getTime * 1000L,
        "stream stage hits == batch funnelUsers times")
    } finally q.stop()
  }

  test("deployment shape: readStream -> windows -> parquet sink starts and stops clean") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val q = Streams.fileStreamQuery(spark, sf, s"$tmp/ckpt", s"$tmp/out")
    try q.processAllAvailable() finally q.stop()
    assert(new java.io.File(s"$tmp/ckpt").exists, "checkpoint dir created")
  }
}

object StreamingSpec {
  /** One prepared train vector, as `Similarity.prepared` emits it. */
  case class TrainVec(vec_id: Long, ie: Seq[Long], nrm: Double)
}
