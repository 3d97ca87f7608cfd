package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.Num.{dbl, dec}

/** Structured Streaming surface (SURVEY §7.4 extension): the same
  * event-stream semantics as [[graft.operators.Events]], expressed for an
  * unbounded source — watermarked windowed aggregation and keyed stateful
  * sessionization via `flatMapGroupsWithState`.
  *
  * Design: the windowed transform is literally the batch one plus a
  * watermark — Spark's unified API means the DuckDB-gated batch query and
  * the streaming query share the aggregation code, and `StreamingSpec`
  * pins stream≡batch equivalence through a MemoryStream.
  *
  * Scale notes: state is keyed (user_id / window × type), so it shards
  * across executors with the shuffle; the watermark bounds state size
  * (windows older than the watermark are finalized and evicted). Session
  * state is one small case class per OPEN session, evicted on event-time
  * timeout = gap, so state is O(active users), not O(events).
  */
object Streams {
  val WatermarkDelay = "2 hours"

  /** First-batch probe through the Hadoop FS API — works for hdfs://,
    * s3a://, and local paths alike (a `java.io.File` check is driver-local
    * only and silently never fires on a real cluster's shared store). */
  private def pathExists(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Watermarked hourly tumbling counts/sums per event_type. On a batch
    * DataFrame the watermark is a no-op and this equals
    * `Events.tumbling`; on a stream it emits finalized windows. */
  def hourlyWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sv"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), dbl(col("sv")).as("sum_value"))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  /** start/end in epoch-MICROSECONDS; sum in exact 1e-4 units (longs). */
  case class SessionState(start: Long, end: Long, n: Int, sum4: Long)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long,
                     sum_value: Double)

  /** Epoch-µs of a Timestamp. `getTime` alone TRUNCATES to milliseconds —
    * the r10 stream ≡ batch run caught exactly that (`STREAMEQ_r10.json`;
    * its harness, the retired `StreamEq` main, is at commit `795cadb`): at
    * sf1's µs-grain event times, ms arithmetic silently disagreed with the
    * batch twins' exact `unix_micros` ordering and gap tests. Same
    * integer-µs discipline as [[graft.operators.Events]]. */
  private[graft] def tsUs(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private[graft] def usTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  /** `value` in exact 1e-4 units, rounding HALF_UP — the same contract as
    * the batch side's `CAST(value AS DECIMAL(18,4))` (`Num.dec`), so a
    * session's sum is bit-identical to the batch decimal sum instead of
    * an arrival-order-dependent double fold. */
  private def units4(v: Double): Long =
    BigDecimal.valueOf(v).setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact
  private def units4ToDouble(u: Long): Double =
    java.math.BigDecimal.valueOf(u, 4).doubleValue
  private val SessionGapUs: Long = graft.operators.Events.SessionGapMin * 60L * 1000000L
  /** Highest µs instant the ms-grain watermark has sealed: every µs
    * inside millisecond `wm` is older than any event that can still
    * arrive. */
  private def sealedUs(wmMs: Long): Long = wmMs * 1000L + 999L

  /** Keyed stateful sessionization: the open session per user lives in
    * GroupState; a session closes (and is emitted) when the event-time
    * watermark passes its end + gap. The streaming dual of the batch
    * gaps-and-islands in `Events.sessions` — µs-exact gap/order
    * arithmetic and decimal-exact sums, so the two faces agree
    * row-for-row, not just approximately: StreamingSpec's "stateful
    * sessionization" and "batch sessionization agrees" cases pin it, and
    * `STREAMEQ_r11.json` / `STREAMEQ_r12_sf10_stateful.json` record it at
    * sf1/sf10.
    * Contract: events are folded on arrival (state is one OPEN session,
    * not a buffer), so delivery must be in order per user beyond the
    * gap tolerance — the deployment shape for sessionization; full
    * out-of-order buffering is [[funnelStages]]' trade. */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", WatermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          def emit(s: SessionState): Session =
            Session(userId, usTs(s.start), usTs(s.end), s.n.toLong,
              units4ToDouble(s.sum4))
          if (state.hasTimedOut) {
            // watermark passed end + gap: the open session is final
            val s = state.get
            state.remove()
            Iterator(emit(s))
          } else {
            // fold sorted events into the open session; gaps close it
            val sorted = batch.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = tsUs(e.ts)
              cur match {
                case Some(s) if t - s.end <= SessionGapUs =>
                  cur = Some(s.copy(end = math.max(s.end, t), n = s.n + 1,
                    sum4 = s.sum4 + units4(e.value)))
                case Some(s) =>
                  closed ::= emit(s)
                  cur = Some(SessionState(t, t, 1, units4(e.value)))
                case None =>
                  cur = Some(SessionState(t, t, 1, units4(e.value)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout clock is ms-grain: round UP so the timeout never
              // fires before the µs-exact (end + gap) instant is sealed
              state.setTimeoutTimestamp(
                Math.floorDiv(s.end + SessionGapUs, 1000L) + 1L)
            }
            closed.reverseIterator
          }
      }
  }

  /** Observed-metric names for the dedup stream: input vs surviving
    * counts per micro-batch. `n_input - n_output` per batch = duplicates
    * dropped + LATE rows dropped by the watermark; the built-in
    * state-operator metric `numRowsDroppedByWatermark` isolates the
    * late share. Both surface in `StreamingQueryProgress` — the
    * operational dashboard every production watermark needs (a silent
    * late-drop is data loss that looks like success). */
  val DedupObsIn = "graft_dedup_in"
  val DedupObsOut = "graft_dedup_out"

  /** Streaming exact-dedup: drop re-deliveries of the same event_id where
    * the duplicate arrives within the watermark of the original — the
    * streaming face of the dedup family (state = one entry per key seen
    * within the watermark horizon, evicted as the watermark passes; at
    * scale the state shards with the key shuffle and stays bounded by
    * event-rate × watermark, not by stream length).
    *
    * Observability: `Dataset.observe` counts rows entering and leaving
    * the operator per micro-batch (names [[DedupObsIn]]/[[DedupObsOut]]);
    * CollectMetrics is a streaming-safe accumulator pass, zero extra
    * shuffles. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .observe(DedupObsIn, count(lit(1)).as("n_input"))
      .withWatermark("ts", WatermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")
      .observe(DedupObsOut, count(lit(1)).as("n_output"))

  /** Streaming keyed upsert: merge each micro-batch into a keyed Parquet
    * table via `foreachBatch` + the batch `Merge.upsert` — the streaming
    * face of the ETL upsert half (same last-write-wins semantics, same
    * code path, so batch and streaming cannot drift). Within a batch,
    * `keepFirst` on a descending tiebreaker makes the merge
    * deterministic when one key appears twice.
    *
    * Scale/exactly-once note: `foreachBatch` + overwrite is
    * idempotent-by-construction here (re-running a batch re-merges the
    * same keys to the same values), which is what Structured Streaming
    * needs from a sink to deliver effectively-once. At 100 TB the inner
    * merge swaps to `Sinks.upsertFactPartitions` so each micro-batch
    * rewrites only touched partitions.
    */
  def upsertStream(incoming: DataFrame, keys: Seq[String], ord: Column,
                   tablePath: String, checkpoint: String)
                  : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val dedup = graft.operators.Merge.keepFirst(batch, keys, ord)
        val merged =
          if (pathExists(s, tablePath)) {
            val existing = s.read.parquet(tablePath)
            graft.functions.Lineage.cut(
              graft.operators.Merge.upsert(existing, dedup.select(existing.columns.map(col).toSeq: _*), keys))
          } else dedup
        merged.write.mode("overwrite").parquet(tablePath)
      }
      .start()

  case class FunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long],
                         buf: List[(Long, Long, String)])
  case class StageHit(user_id: Long, stage: Int, ts: java.sql.Timestamp)

  /** Streaming funnel: the stateful dual of
    * [[graft.operators.Events.funnelUsers]] — per-user earliest
    * signup -> click-after-signup -> purchase-after-click stage hits,
    * EXACT under out-of-order delivery. Naive fold-in-arrival-order
    * funnels silently drop a click whose signup is delivered later; here
    * events buffer in keyed state until the watermark passes them, then
    * finalize in (event-time, event_id) order through the same
    * strictly-after state machine the batch window evaluates. The
    * trade is the same one Spark's stream-stream join makes: exactness
    * under reordering costs a buffer bounded by rate × watermark —
    * which the watermark then evicts, so state per user is O(in-flight
    * events), dropping to O(1) (three stage times) once the funnel
    * completes and the buffer drains (fully-converted users remove
    * their state entirely).
    *
    * Emission: Append-mode stage transitions (one row per user-stage,
    * at most three per user, emitted exactly when finalized). */
  /** Observed-metric name for the funnel stream: stage-relevant rows
    * entering per micro-batch (post-filter, pre-watermark). Read next to
    * the state operator's `numRowsDroppedByWatermark` to alert on late
    * stage events silently excluded from conversion counts. */
  val FunnelObsIn = "graft_funnel_in"

  def funnelStages(events: Dataset[Event]): Dataset[StageHit] = {
    import events.sparkSession.implicits._
    val stages = graft.operators.Events.FunnelStages.toSet
    events
      .filter(e => stages(e.event_type))
      .observe(FunnelObsIn, count(lit(1)).as("n_input"))
      .withWatermark("ts", WatermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          val st0 = state.getOption.getOrElse(FunnelState(None, None, None, Nil))
          val wm = state.getCurrentWatermarkMs()
          // buffered times in epoch-µs: the batch twin orders and reports
          // stage times by unix_micros, and ms truncation loses sub-ms
          // order AND emits truncated stage timestamps (caught by the r10
          // stream ≡ batch run at sf1, STREAMEQ_r10.json)
          val buf = st0.buf ++ batch.map(e => (tsUs(e.ts), e.event_id, e.event_type))
          // finalize only what the watermark has sealed: nothing earlier
          // can still arrive, so sorted processing is total-order correct
          val (ready, pending) = buf.partition(_._1 <= sealedUs(wm))
          var (t1, t2, t3) = (st0.t1, st0.t2, st0.t3)
          val hits = scala.collection.mutable.ListBuffer.empty[StageHit]
          ready.sortBy(r => (r._1, r._2)).foreach { case (t, _, tp) =>
            def hit(stage: Int, set: Long => Unit): Unit = {
              set(t); hits += StageHit(userId, stage, usTs(t))
            }
            tp match {
              case "signup" if t1.isEmpty => hit(1, x => t1 = Some(x))
              case "click" if t1.nonEmpty && t2.isEmpty => hit(2, x => t2 = Some(x))
              case "purchase" if t2.nonEmpty && t3.isEmpty => hit(3, x => t3 = Some(x))
              case _ => ()
            }
          }
          if (t3.nonEmpty && pending.isEmpty) state.remove()
          else {
            state.update(FunnelState(t1, t2, t3, pending))
            // wake (ms clock) when the watermark seals the oldest pending
            // µs event (or just past the current watermark if none
            // buffered yet); floorDiv is safe — the event finalizes once
            // its whole millisecond is sealed
            val wake = pending.map(_._1) match {
              case Nil => wm + 1L
              case ps => math.max(Math.floorDiv(ps.min, 1000L), wm + 1L)
            }
            state.setTimeoutTimestamp(wake)
          }
          hits.iterator
      }
  }

  val AttributionWindowMin = 30L

  /** Stream-stream interval join: each purchase matched to the same
    * user's clicks in the preceding 30 minutes (inclusive of the
    * purchase instant) — streaming click attribution, the canonical
    * two-unbounded-sides join.
    *
    * Both sides carry watermarks and the join condition bounds the
    * event-time distance, which is exactly what Spark needs to reason
    * about state eviction: a buffered click is droppable once the
    * purchase-side watermark passes click_ts + 30 min, a buffered
    * purchase once the click-side watermark passes purchase_ts. State is
    * therefore O(rate × window), not O(stream). Inner join: late or
    * unmatched rows simply never pair (left-outer would emit
    * null-padded rows on watermark expiry — same plan, different
    * `joinType`). */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", WatermarkDelay)
    val p = purchases.select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", WatermarkDelay)
    p.join(c, expr(
      s"""c_user = p_user AND
         |click_ts <= purchase_ts AND
         |click_ts >= purchase_ts - INTERVAL $AttributionWindowMin MINUTES""".stripMargin))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"), col("value"))
  }

  /** Streaming incremental near-dup dedup: each micro-batch of documents
    * is shingled to its LSH band signature, matched against the
    * PERSISTED corpus band index (hits = candidate near-dups of anything
    * ever ingested), then appended to that index — the continuous-ingest
    * face of [[graft.operators.Dedup.bandIndex]] /
    * [[graft.operators.Dedup.incrementalCandidates]]. The corpus is
    * never re-shingled: per batch the work is |batch| shingling plus one
    * keyed join against the index. (This parquet index is batch_id-
    * partitioned, not bucketed — plain parquet carries no bucket
    * metadata — so the join re-shuffles it per batch; at scale, a
    * periodic compaction folds the accumulated batch partitions into
    * the bucketed table whose shuffle-free join LayoutSpec proves.)
    *
    * Effectively-once: both sinks are PARTITIONED BY batch_id and written
    * with dynamic partition overwrite, so a replayed micro-batch
    * rewrites exactly its own partition — idempotent under the retries
    * Structured Streaming assumes, with no read-modify-write of the
    * whole index (the same pattern `Sinks.upsertFactPartitions` uses for
    * the fact table). */
  def dedupIngest(docs: DataFrame, indexPath: String, hitsPath: String,
                  checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val bands = graft.functions.Lineage.cut(
          graft.operators.Dedup.bandIndex(batch)) // two consumers below; shingle once
        if (pathExists(s, indexPath)) {
          val idx = s.read.parquet(indexPath)
            // a replayed batch must not match its own previous write
            .filter(col("batch_id") =!= batchId)
            .drop("batch_id")
          graft.operators.Dedup.incrementalCandidates(bands, idx)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(hitsPath)
        }
        bands.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(indexPath)
      }
      .start()

  /** Streaming semantic decontamination — the incremental face of
    * [[graft.operators.Decontam.embedReport]] (VERDICT r14 #6): each
    * micro-batch of prepared train vectors (vec_id, ie, nrm) is
    * sign-RP banded and probed against the STATIC benchmark set, whose
    * bands AND vectors broadcast into every batch (the benchmark is
    * eval-corpora-sized by definition — the 100 TB train stream never
    * shuffles for the match; the only keyed exchange per batch is the
    * candidate distinct, sized by that batch's contamination mass).
    * Verified hits (exact integer cosine ≥ the production threshold)
    * append per batch. Effectively-once like [[dedupIngest]]: the hits
    * sink is batch_id-partitioned with dynamic overwrite, so a replayed
    * micro-batch rewrites exactly its own partition. Unlike dedupIngest
    * there is no growing index: batches interact only with the fixed
    * bench side, so the streaming union over batches is row-identical
    * to the one-shot batch report. StreamingSpec's "streaming decontam"
    * case pins that equality; `STREAMEQ_r15_sf10_decontam.json` records
    * it at sf10 (harness at commit `795cadb`). */
  def decontamIngest(train: DataFrame, bench: DataFrame, hitsPath: String,
                     checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val wide = graft.plans.GraftExtensions.SignBandsWideName
    // static side banded once, outside the per-batch closure
    val benchBands = graft.operators.Dedup.embedBands(
      bench.sparkSession, bench, wide).toDF("bench_id", "k", "bv")
    val benchVecs = bench.select(col("vec_id").as("bench_id"),
      col("ie").as("ib"), col("nrm").as("nb"))
    train.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val b = graft.functions.Lineage.cut(batch) // two consumers: bands + verify
        val tb = graft.operators.Dedup.embedBands(s, b, wide)
          .toDF("train_id", "k", "bv")
        val d = graft.operators.Similarity.dot(s) _
        tb.join(broadcast(benchBands), Seq("k", "bv"))
          .select("train_id", "bench_id").distinct()
          .join(b.select(col("vec_id").as("train_id"),
            col("ie").as("it"), col("nrm").as("nt")), "train_id")
          .join(broadcast(benchVecs), "bench_id")
          .withColumn("cosine",
            d(col("it"), col("ib")).cast("double") / (col("nt") * col("nb")))
          .filter(col("cosine") >= graft.operators.Dedup.ScaledThreshold)
          .select("train_id", "bench_id", "cosine")
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(hitsPath)
      }
      .start()
  }

  /** File-source stream over the sf directory's events table — the
    * deployment-shape source half (`readStream.parquet`). Only the
    * events files are ingested (the sibling tables share the directory —
    * a glob over all of them would read ~10x the bytes as all-null
    * rows). The nanos conf is set here, not inherited from a prior batch
    * `Tables.events` call. A stream needs a DECLARED schema, so the
    * ns-vs-µs encoding probe (see [[graft.sources.Tables.events]]) runs
    * as one batch footer read up front — the same metadata cost the
    * source's own listing pays. */
  def eventsFileStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
    val tsType = s.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val declared = tsType match {
      case TimestampType | TimestampNTZType => StructType(
        graft.sources.Schemas.eventsMicros.fields.map(f =>
          if (f.name == "ts") f.copy(dataType = tsType) else f))
      case _ => graft.sources.Schemas.events
    }
    val reader = s.readStream.schema(declared)
    // FileStreamSource requires a directory (basePath). Two layouts
    // exist: the driver's flat `<dir>/events.parquet` FILE (stream the
    // parent dir with a listing-time glob filter) and ScaleUp's
    // `<dir>/events.parquet/` DIRECTORY of part files (stream it
    // directly — a leaf-name glob would exclude every part file).
    val eventsPath = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val isDir = eventsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(eventsPath).isDirectory
    if (!isDir) reader.option("pathGlobFilter", "events.parquet")
    val raw = reader.parquet(if (isDir) eventsPath.toString else dir)
    tsType match {
      case TimestampType => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }

  /** Convenience: run the hourly-window stream from a file source —
    * the deployment shape (`readStream` → transform → `writeStream`). */
  def fileStreamQuery(s: SparkSession, dir: String, checkpoint: String,
                      outPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    hourlyWindows(eventsFileStream(s, dir)).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .start(outPath)
}
