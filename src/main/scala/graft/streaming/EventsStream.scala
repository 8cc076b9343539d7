package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extension over the `events` stream table
  * (SURVEY.md §2.9/§7.4): the reference's hand-rolled `lastRun`
  * micro-batching is subsumed by real incremental execution —
  * watermarked tumbling windows for the `fact_events`/`events_goals`
  * reporting shape, and keyed session state via mapGroupsWithState.
  *
  * Everything here takes a DataFrame, so the SAME code runs on a
  * `readStream` source (incremental, stateful, exactly-once with a
  * checkpoint) and on a batch frame (backfill) — tests drive it with
  * MemoryStream for deterministic micro-batches.
  *
  * Scale notes: the windowed aggregate shuffles on (window, event_type)
  * with map-side partial aggregation; state store size is bounded by the
  * watermark (late rows beyond `delay` are dropped, state beyond it is
  * evicted). Session state is per-user_id and evicted on processing-time
  * timeout.
  */
object EventsStream {

  /** Tumbling-window counts/sums per event type with a late-data
    * watermark. Money-style sums go through DECIMAL so results are
    * order-independent (hash-compare safe). */
  def windowedCounts(
      events: DataFrame,
      windowDur: String = "1 day",
      delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Event-time sessionization with the native `session_window` — the
    * streaming sibling of the batch gaps-and-islands pass
    * (`ext/Sessions.sessionize`, x29): per user, events closer than
    * `gap` merge into one session whose window end is lastEvent + gap.
    * Declarative Spark-first form — the state store holds ONE
    * (user, open-session) row per key, merged by the engine, evicted
    * once the watermark passes the session end; in append mode a
    * session row emits exactly when it can no longer grow (watermark >
    * end), so downstream sees each session once, final. Contrast with
    * [[sessionize]], the imperative mapGroupsWithState surface kept for
    * custom state shapes the built-in can't express.
    *
    * Scale notes: shuffles on user_id with partial merge; state is
    * bounded by (active users × open sessions ≤ 1) and the watermark —
    * a 100 TB/day event stream holds state only for users active within
    * `delay + gap`. */
  def sessionWindows(
      events: DataFrame,
      gap: String = "30 minutes",
      delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(nEvents: Long, lastTs: Long)
  final case class SessionUpdate(user_id: Long, n_events: Long, closed: Boolean)

  /** Keyed custom state: per-user running event count with an optional
    * processing-time session timeout — the
    * `KeyValueGroupedDataset.mapGroupsWithState` surface. `timeoutMs =
    * None` disables eviction (useful for deterministic tests: with a
    * timeout registered, Spark keeps running empty batches to fire
    * timeouts, so `processAllAvailable` never sees an idle stream). */
  def sessionize(
      spark: SparkSession,
      events: Dataset[Event],
      timeoutMs: Option[Long] = Some(30 * 60 * 1000L)): Dataset[SessionUpdate] = {
    import spark.implicits._
    val timeoutConf =
      if (timeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](timeoutConf) {
        case (user, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionUpdate(user, s.nEvents, closed = true)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0L))
            val batch = rows.toSeq
            val next = SessionState(
              prev.nEvents + batch.size,
              math.max(prev.lastTs, batch.map(_.ts.getTime).max))
            state.update(next)
            timeoutMs.foreach(state.setTimeoutDuration)
            SessionUpdate(user, next.nEvents, closed = false)
          }
      }
  }

  final case class LivenessState(lastUs: Long, alerted: Boolean)
  final case class GapAlert(event_type: String, last_seen_us: Long,
      silent: Boolean)

  /** Feed-liveness monitor — the STREAMING-NATIVE face of the batch
    * missing-day report (`ext/Stats.ingestGaps`): absence is
    * something a batch query can only see after the fact, but a
    * stateful stream can ALERT on it live. Per event type, keyed
    * state holds the latest event time and an EVENT-TIME TIMEOUT
    * armed `maxSilenceDays` past it; when the WATERMARK (driven by
    * the types that still flow) passes that deadline with no new
    * data, the timeout fires and emits a `silent=true` alert carrying
    * the last-seen time. Fresh data for an alerted type emits a
    * `silent=false` recovery row and re-arms. Event-time (not
    * processing-time) timeouts make the behavior REPLAY-DETERMINISTIC:
    * the same batches in the same order fire the same alerts, which
    * is what the spec pins.
    *
    * Scale shape: state is one (type → 16 bytes) entry — bounded by
    * the type vocabulary; the groupBy shuffles events by type once
    * per micro-batch with map-side pre-aggregation of the max. */
  def feedLiveness(
      spark: SparkSession,
      events: Dataset[Event],
      maxSilenceDays: Int = 2,
      delay: String = "1 hour"): Dataset[GapAlert] = {
    import spark.implicits._
    val silenceMs = maxSilenceDays.toLong * 86400000L
    events
      .withWatermark("ts", delay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[LivenessState, GapAlert](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case (typ, rows, state: GroupState[LivenessState]) =>
          def tsUs(t: java.sql.Timestamp): Long =
            t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
          if (state.hasTimedOut) {
            val s = state.get
            state.update(s.copy(alerted = true))
            // no new deadline: the next signal for this type is DATA,
            // which recovers and re-arms below
            Iterator.single(GapAlert(typ, s.lastUs, silent = true))
          } else {
            val batchMax = rows.map(e => tsUs(e.ts)).max
            val prev = state.getOption
            val last = math.max(batchMax, prev.map(_.lastUs).getOrElse(Long.MinValue))
            val wasAlerted = prev.exists(_.alerted)
            state.update(LivenessState(last, alerted = false))
            state.setTimeoutTimestamp(last / 1000L + silenceMs)
            if (wasAlerted) Iterator.single(GapAlert(typ, last, silent = false))
            else Iterator.empty
          }
      }
  }

  final case class BotState(nEvents: Long, lastUs: Long, minGapUs: Long,
      curDay: Long, curDayCount: Long, maxDayCount: Long, activeDays: Long)
  final case class BotUpdate(user_id: Long, n_events: Long,
      active_days: Long, max_day_events: Long, min_gap_us: Option[Long],
      is_bot: Boolean)

  /** Streaming face of the batch bot detector
    * (`ext/Sessions.botFlags`): per-user keyed state carries the rate
    * profile (last event time, min inter-event gap, current-day
    * count, busiest-day count, active-day count) and every
    * micro-batch emits the user's updated flags — the monitoring
    * path that notices a scraper WHILE it runs, where the batch form
    * is the end-of-day audit truth. Within a batch, rows process in
    * (us, event_id) order; across batches the stream's event-time
    * monotonicity per user is assumed (late cross-batch events can
    * under-count active days and miss a cross-day gap — the
    * documented streaming degradation; replay-in-order equals the
    * batch form EXACTLY, spec-pinned). State per user is seven
    * longs — bounded regardless of stream length; `timeoutMs` evicts
    * idle users in production, `None` keeps tests deterministic. */
  def botState(
      spark: SparkSession,
      events: Dataset[Event],
      maxDayEvents: Int = 12,
      minGapUs: Long = 1000000L,
      timeoutMs: Option[Long] = Some(24 * 3600 * 1000L)): Dataset[BotUpdate] = {
    import spark.implicits._
    val timeoutConf =
      if (timeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val dayUs = 86400000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BotState, BotUpdate](
        OutputMode.Update, timeoutConf) {
        case (user, rows, state: GroupState[BotState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // exact µs: getTime is ms-truncated (the session_window
            // cross-proof lesson) — re-attach the sub-ms nanos; the
            // SORT must use the same precision or a sub-ms pair
            // orders differently than the batch (us, event_id) key
            def tsUs(t: java.sql.Timestamp): Long =
              t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
            val ordered = rows.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
            if (ordered.isEmpty) Iterator.empty
            else {
              var s = state.getOption.getOrElse(
                BotState(0L, Long.MinValue, Long.MaxValue, Long.MinValue, 0L, 0L, 0L))
              ordered.foreach { e =>
                val us = tsUs(e.ts)
                val day = Math.floorDiv(us, dayUs)
                val gap = if (s.nEvents == 0L) Long.MaxValue else us - s.lastUs
                val (cd, cc, ad) =
                  if (day == s.curDay) (day, s.curDayCount + 1L, s.activeDays)
                  else (day, 1L, s.activeDays + 1L)
                s = BotState(s.nEvents + 1L, us, math.min(s.minGapUs, gap),
                  cd, cc, math.max(s.maxDayCount, cc), ad)
              }
              state.update(s)
              timeoutMs.foreach(state.setTimeoutDuration)
              val minGap =
                if (s.minGapUs == Long.MaxValue) None else Some(s.minGapUs)
              Iterator.single(BotUpdate(user, s.nEvents, s.activeDays,
                s.maxDayCount, minGap,
                s.maxDayCount > maxDayEvents ||
                  minGap.exists(_ < minGapUs)))
            }
          }
      }
  }

  /** Wire a streaming frame of events to a console-free memory sink for
    * the update-mode windowed aggregate (used by tests; production binds
    * writeStream to a real sink + checkpoint). */
  def startWindowedQuery(df: DataFrame, queryName: String): org.apache.spark.sql.streaming.StreamingQuery =
    windowedCounts(df)
      .writeStream
      .outputMode(OutputMode.Update)
      .format("memory")
      .queryName(queryName)
      .start()

  /** Streaming exact dedup at ingest — the streaming face of
    * `Dedup.exactDedup`: drop any row whose content hash was already
    * seen within the watermark. State is bounded by the watermark
    * (`dropDuplicatesWithinWatermark` evicts a key once no late arrival
    * can collide with it), so a continuous 100 TB ingest keeps only a
    * delay-window of 128-bit hashes, never history; cross-history
    * dedup belongs to the batch `exactDedup`/`compact`/`promote` path
    * downstream. */
  def dedupedStream(
      rows: DataFrame,
      tsCol: String = "ts",
      contentCol: String = "text",
      delay: String = "1 hour"): DataFrame =
    rows
      .withColumn("__content_hash", md5(col(contentCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__content_hash")
      .drop("__content_hash")

  /** Streaming document prep — the streaming face of the batch prep
    * pipeline (`ExtQueries.prepPipeline`): watermark-bounded content
    * dedup, then the per-row quality gate and token accounting
    * ([[graft.ext.TextStats.withQuality]]). Every stage is a narrow
    * projection or watermark-evicted state, so a continuous 100 TB
    * ingest holds only the dedup delay-window — no unbounded state, no
    * stream-stream join. Near-dup against corpus HISTORY is the
    * growing-index tick's job ([[graft.ext.NeardupIndex.ingestQuery]]
    * on [[graft.ext.Dedup.MinhashIndex]]), which keeps its state in
    * the index parquet instead. */
  def preppedDocStream(
      rows: DataFrame,
      tsCol: String = "ts",
      contentCol: String = "text",
      delay: String = "1 hour",
      minQuality: Double = 1.0): DataFrame =
    graft.ext.TextStats.withQuality(
      dedupedStream(rows, tsCol, contentCol, delay)
        .withColumnRenamed(contentCol, "text"))
      .filter(col("quality_score") >= minQuality)

  /** Streaming delete-aware CDC apply — the online face of
    * [[graft.ext.Merge.cdcApply]]: each micro-batch is an op-tagged
    * ledger slice ('U'/'D' + per-key LSN `seqCol`) applied over the
    * standing dimension table and swapped in crash-safe
    * ([[graft.sinks.StagingWriter.writeAndSwap]] — readers only ever
    * see a complete table). Replay-idempotent by ALGEBRA, not
    * bookkeeping: applying a ledger to a state that already absorbed
    * it is a fixpoint — an upsert rewrites identical attrs, a
    * tombstone of an already-absent key no-ops — so the at-least-once
    * `foreachBatch` contract needs no batch discriminator here
    * (spec-pinned by applying one tick twice). The stored table keeps
    * `seqCol` (the last-applied sequence per key); the next tick's
    * snapshot re-ranks it at 0 under the incoming ledger. */
  def cdcApplyIngestQuery(
      ledger: DataFrame,
      writer: graft.sinks.StagingWriter,
      table: String,
      key: String,
      checkpoint: String,
      seqCol: String = "seq",
      opCol: String = "op"): org.apache.spark.sql.streaming.StreamingQuery =
    ledger.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        cdcApplyBatch(batch.toDF(), writer, table, key, seqCol, opCol)
        ()
      }
      .start()

  /** One tick of [[cdcApplyIngestQuery]] — exposed for the replay
    * (fixpoint) spec and for batch backfills. */
  def cdcApplyBatch(
      batch: DataFrame,
      writer: graft.sinks.StagingWriter,
      table: String,
      key: String,
      seqCol: String = "seq",
      opCol: String = "op"): Unit = {
    // a crash inside the previous tick's swap window leaves the
    // standing table at __swap_bak and nothing live; restore it FIRST
    // or the exists() check below would seed a fresh snapshot from
    // this one ledger slice, silently discarding the standing state
    writer.recoverSwap(table)
    // one evaluation of the micro-batch; the standing-table read below
    // is safe against the swap (tmp-write then rename — the live table
    // is intact until the output is fully materialized)
    val b = batch.localCheckpoint(true)
    val current =
      if (writer.exists(table)) writer.read(table)
      else b.drop(opCol).filter(lit(false)) // first tick: empty snapshot in the stored shape
    writer.writeAndSwap(
      graft.ext.Merge.cdcApply(current, b, key, seqCol, opCol), table)
    ()
  }

  /** STREAMING SCD2 MAINTENANCE — each micro-batch of observations
    * extends the standing dimension history via
    * [[graft.ext.Sessions.scd2Apply]] (first tick seeds it with
    * [[graft.ext.Sessions.changeHistory]]); the crash-safe swap
    * publishes each new history atomically. Unlike the CDC tick,
    * scd2Apply is NOT replay-idempotent (a replayed batch would
    * double-count `n_obs` and could mint phantom versions), so each
    * tick is EXACTLY-ONCE via the applied-batch marker that
    * [[graft.sinks.StagingWriter.writeAndSwap]] writes INSIDE the
    * swapped directory — marker and data publish in one rename, no
    * crash window; a replay that finds the marker skips the tick.
    * The batch-within-tick watermark contract is scd2Apply's: ticks
    * arrive in event-time order per key (Structured Streaming +
    * an ordered upstream give this; late data belongs in a
    * corrections flow, not a validity rewrite). */
  def scd2IngestQuery(
      obs: DataFrame,
      writer: graft.sinks.StagingWriter,
      table: String,
      key: String,
      timeUs: String,
      tieBreak: String,
      attr: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    obs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
          scd2ApplyBatch(batch.toDF(), writer, table, key, timeUs, tieBreak,
            attr, batchId = Some(id))
          ()
      }
      .start()

  /** One tick of [[scd2IngestQuery]] — exposed for the replay spec and
    * batch backfills. `batchId = None` applies unconditionally. */
  def scd2ApplyBatch(
      batch: DataFrame,
      writer: graft.sinks.StagingWriter,
      table: String,
      key: String,
      timeUs: String,
      tieBreak: String,
      attr: String,
      batchId: Option[Long] = None): Unit = {
    // restore a history stranded at __swap_bak by a crash inside the
    // previous tick's swap window BEFORE consulting exists()/markers —
    // the applied-batch marker lives inside the swapped directory, so
    // it cannot protect the branch that fires when the directory is
    // absent (a replayed tick would otherwise seed a brand-new history
    // from one batch and discard the standing one)
    writer.recoverSwap(table)
    if (batchId.exists(id => writer.exists(table) &&
        writer.batchApplied(table, id))) return
    val b = batch.localCheckpoint(true)
    val next =
      if (writer.exists(table))
        graft.ext.Sessions.scd2Apply(
          writer.read(table), b, key, timeUs, tieBreak, attr)
      else graft.ext.Sessions.changeHistory(b, key, timeUs, tieBreak, attr)
    writer.writeAndSwap(next, table, appliedBatch = batchId)
    ()
  }

  /** Stream rows straight into the RELATIONAL staging layer — the
    * warehouse-sink tick of the ingest family: each micro-batch lands
    * via [[graft.sinks.JdbcStagingWriter.writeBatchIdempotent]]
    * (delete-then-append on the `ingest_batch` discriminator), so the
    * at-least-once `foreachBatch` contract holds against a JDBC
    * warehouse exactly as the parquet ticks hold against the lake:
    * a replayed batch replaces its own slice, never duplicates it. */
  def jdbcIngestQuery(
      rows: DataFrame,
      writer: graft.sinks.JdbcStagingWriter,
      table: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writer.writeBatchIdempotent(batch.toDF(), table, batchId)
        ()
      }
      .start()

  /** STREAM-STREAM interval join: clicks joined to the same user's
    * purchases within `horizon` AFTER the click — the online
    * attribution pair feed (the streaming face of the batch
    * [[graft.ext.Sessions]] attribution family). Both sides carry
    * event-time watermarks, and the join condition bounds purchase
    * time to `[click_ts, click_ts + horizon]`, which is exactly what
    * lets Spark EVICT state: a click older than the watermark minus
    * the horizon can never match a future purchase and is dropped
    * from the state store — without the time bound the state grows
    * forever (the documented stream-stream join contract). Inner
    * join: unconverted clicks simply never emit (the left-outer
    * variant would emit them with NULLs once the watermark passes —
    * pass `joinType = "leftOuter"` for that training shape).
    *
    * Scale notes: shuffles both streams on user_id; state per side is
    * bounded by the watermark delay + horizon window. Emission is
    * append-mode and final — each (click, purchase) pair emits once. */
  def clickPurchaseJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      horizon: String = "1 hour",
      delay: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val p = purchases
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", delay)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"),
      joinType)
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"))
  }

  /** Stream-static ENRICHMENT: every micro-batch left-joins a
    * dimension frame produced by `dim()` — called PER BATCH, so a
    * slowly-changing dimension (a user→segment table the batch
    * refresh rewrites, a config frame) is picked up between ticks
    * without restarting the query; rows with no dimension match keep
    * NULL dimension columns (enrichment must never DROP facts — the
    * left-join contract a training pipeline depends on when the dim
    * lags the stream). The enriched batch lands through
    * [[graft.sinks.StagingWriter.writeBatchPartition]] — the same
    * idempotent batch-partition overwrite every ingest loop here
    * uses, so at-least-once replay cannot double-append.
    *
    * Scale shape: the dimension is re-READ per tick but the join is
    * AQE's choice per batch (a small dim broadcasts); the stream side
    * is never shuffled by the enrichment when the dim broadcasts.
    * For a large bucketed dim, pass a `dim()` that reads the bucketed
    * table — the join co-locates exactly as in the batch K-series. */
  def enrichIngestQuery(
      rows: DataFrame,
      dim: () => DataFrame,
      joinKeys: Seq[String],
      writer: graft.sinks.StagingWriter,
      table: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writer.writeBatchPartition(
          batch.toDF().join(dim(), joinKeys, "left"), table, batchId)
        ()
      }
      .start()

  /** Per-batch PARTIAL rollup state — the mergeable aggregate vector
    * (count, cent sum, min, max) per (day, event_type), the streaming
    * half of [[graft.ext.Stats.rollupMerge]]'s merge contract. Pure
    * function of the batch; runs identically on a batch frame. */
  def rollupPartial(batch: DataFrame): DataFrame =
    batch.filter(col("ts").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("day", graft.ext.Stats.day("us"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("cents")), lit(0L)).as("cents"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))

  /** The CURRENT rollup: merge every stored partial (all batch
    * partitions, compacted or not) — re-sum counts and cent sums,
    * re-min/max the extrema. State rows only (days × types × batches),
    * never raw events. */
  def rollupRead(writer: graft.sinks.StagingWriter, table: String): DataFrame =
    writer.read(table)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"),
        sum(col("cents")).as("cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))

  /** Continuous incremental rollup maintenance — the streaming form of
    * the [[graft.ext.Stats.rollupMerge]] contract: each micro-batch
    * reduces to its own per-(day, event_type) partial state, written
    * idempotently under its `ingest_batch` partition; [[rollupRead]]
    * is the merged current rollup, and
    * [[graft.sinks.StagingWriter.compactBatchPartitions]] folds the
    * partition history without changing what it reads. Replay-safe by
    * the established sink protocol: an at-least-once replay of batch N
    * dynamic-overwrites partition N with identical partials. Each tick
    * costs O(batch) — the rollup's history is never rescanned, and the
    * per-tick write is days × types rows, not events. */
  def rollupIngestQuery(
      rows: DataFrame,
      writer: graft.sinks.StagingWriter,
      table: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writer.writeBatchPartition(rollupPartial(batch.toDF()), table, batchId)
        ()
      }
      .start()

  /** Stream → staging: every micro-batch lands through the SAME
    * EntityWriter the batch refresh uses, as a plain append — the
    * Structured Streaming replacement for the reference's hand-rolled
    * lastRun micro-batching. Delivery is AT-LEAST-ONCE: on restart
    * Spark replays from the checkpointed offset, and a crash between
    * the append and the checkpoint commit re-delivers that batch, which
    * then lands twice. Where duplicates matter, use a batch-id-keyed
    * idempotent write instead: `StagingWriter.writeBatchPartition`
    * (parquet) or `JdbcStagingWriter.writeBatchIdempotent` (JDBC). */
  def streamToStaging(
      events: DataFrame,
      writer: graft.sinks.EntityWriter,
      entity: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        writer.writeEntity(batch.toDF(), entity, append = true)
        ()
      }
      .start()
}
