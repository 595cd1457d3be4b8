package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Merge
import graft.sources.{ParquetDataset, WriteConfig, WritePipeline}

/** Structured Streaming ingestion into the managed dataset layout —
  * the north-star extension beyond reference parity (the reference is
  * batch-only; its closest analogues are incremental append,
  * pydala/dataset.py:865-1004, and keyed upsert, pydala/dataset.py:1549).
  *
  * Each micro-batch runs the SAME normalizing write pipeline or keyed
  * merge as the batch API, so a stream-fed dataset is
  * indistinguishable from a batch-fed one (stats sidecar included).
  *
  * Scale notes: foreachBatch keeps exactly-once bookkeeping in the
  * checkpoint; the per-batch work inherits all batch-path properties
  * (broadcast joins for merge probes, maxRecordsPerFile sizing). For
  * high-rate streams, compactPartitions runs as a separate maintenance
  * schedule — ingestion never pays the compaction cost inline.
  */
object StreamIngest {

  /** Batch append/merge only refresh an EXISTING sidecar; a stream-fed
    * dataset must be indistinguishable from a batch-fed one, so every
    * streaming sink bootstraps the sidecar on its first micro-batch
    * (incremental refreshes ride the batch path after that).
    */
  private def ensureSidecar(ds: ParquetDataset): Unit =
    if (!ds.hasStats) { ds.updateStats(); () }

  /** Append-mode ingestion through the normalizing write pipeline. */
  def append(stream: DataFrame, path: String, cfg: WriteConfig,
             checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val ds = new ParquetDataset(batch.sparkSession, path)
        ds.write(batch.toDF(), cfg)
        ensureSidecar(ds)
      }
      .start()

  /** Upsert-mode ingestion: each micro-batch merges on `keys` with
    * last-row-wins semantics — a streaming CDC sink.
    */
  def upsert(stream: DataFrame, path: String, keys: Seq[String],
             checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val ds = new ParquetDataset(batch.sparkSession, path)
        Merge(ds, batch.toDF(), keys, "upsert")
        ensureSidecar(ds)
      }
      .start()

  /** Watermarked tumbling-window aggregation — the standard
    * event-time rollup over a stream (counts + a sum per window/key).
    */
  def windowedAgg(stream: DataFrame, tsCol: String, keyCol: String,
                  valueCol: String, windowSpec: String,
                  watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowSpec), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("total_value"))

  /** Streaming exact-dedup: drop rows whose dedup key (e.g. a content
    * digest) was already seen within the watermark horizon — the
    * streaming face of the batch hash-groupBy dedup. State is bounded
    * by the watermark, so it runs indefinitely at ingest scale.
    */
  def dedupedStream(stream: DataFrame, tsCol: String, keyCols: Seq[String],
                    watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Event-time session windows with a gap timeout — the streaming
    * face of the batch sessionize operator (lag + cumulative-flag),
    * expressed with the native session_window aggregation.
    */
  def sessionAgg(stream: DataFrame, tsCol: String, keyCol: String,
                 gap: String, watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))

  /** Watermarked stream-stream interval join — streaming enrichment
    * (e.g. click ← impression within an attribution window). Both
    * sides carry watermarks and the join condition bounds the right
    * time inside [left − before, left + after], so each side's state
    * store retains only the interval plus the watermark slack: the
    * join runs indefinitely with bounded state, the streaming analogue
    * of the batch RangeJoin/AsofJoin pair.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   keys: Seq[String], leftTs: String, rightTs: String,
                   before: String, after: String,
                   watermark: String, joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "intervalJoin needs at least one key column")
    require(Set("inner", "left_outer").contains(joinType),
      s"intervalJoin supports inner/left_outer, got $joinType")
    val l = left.withWatermark(leftTs, watermark).as("l")
    val r = right.withWatermark(rightTs, watermark).as("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val timeCond =
      col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $before") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $after")
    // clean output schema: the key columns would otherwise appear
    // twice (l.k and r.k) and any downstream reference to them throws
    // AMBIGUOUS_REFERENCE. Key columns come from the LEFT side, so a
    // left_outer null-extension nulls only the right payload columns.
    l.join(r, keyCond && timeCond, joinType)
      .select(left.columns.map(c => col(s"l.$c")) ++
        right.columns.filterNot(keys.contains).map(c => col(s"r.$c")): _*)
  }

  /** Emission-complete left-outer interval join — the production
    * composition for the stream-stream outer join's measured emission
    * hole (round 9, SCALE.md §q201: Spark's left_outer null emission
    * under multi-batch arrival is arrival-dependent AND
    * run-nondeterministic — ordered 5/20/50-slice layouts emitted
    * 79%/60%/66% of the complete-emission oracle, random slices 10%,
    * and identical runs differed). The fix is to never derive
    * completeness from eviction timing: the STREAM lane is the plain
    * INNER interval join ([[intervalJoin]] joinType="inner" — its
    * matched emission is low-latency but may drop late pairs whose
    * partner state was already evicted), and this operator is the
    * PERIODIC BATCH RECONCILIATION over the settled inputs that makes
    * the union complete:
    *
    *  - recomputes the settled inner interval join (matched truth);
    *  - keeps the stream lane's emitted pairs (deduplicated by
    *    (leftId, rightId) and semi-joined to the settled truth, so
    *    duplicates and not-yet-settled pairs can never corrupt this
    *    window's output);
    *  - BACKFILLS matched pairs the stream lane missed (anti-join on
    *    the pair key — exactly-once by construction);
    *  - derives the unmatched lane as a batch anti-join, null-extending
    *    the right payload columns.
    *
    * The result equals the batch left-outer interval join over
    * (`left`, `right`) bit-for-bit REGARDLESS of what the stream lane
    * emitted — arrival order, batching, and eviction races drop out.
    *
    * In production `left`/`right` are the ingested rows whose join
    * window is fully below the reconciliation horizon (event time ≤
    * horizon − after − disorder bound), so each periodic run touches a
    * bounded settled slice, not all history; the anti-join shape is
    * this library's `FrameOps.delta` (reference analogue
    * pydala/io.py:364-379). All joins shuffle on the equality keys and
    * pair ids — no collects, no broadcast of unbounded frames.
    */
  def reconcileOuterIntervalJoin(
      streamMatched: DataFrame,
      left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightTs: String,
      before: String, after: String,
      leftId: String, rightId: String): DataFrame = {
    require(keys.nonEmpty, "reconcileOuterIntervalJoin needs key columns")
    val l = left.as("l")
    val r = right.as("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val timeCond =
      col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $before") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $after")
    val outCols = left.columns.map(c => col(s"l.$c")) ++
      right.columns.filterNot(keys.contains).map(c => col(s"r.$c"))
    // settled matched truth — same projection shape as intervalJoin
    val settled = l.join(r, keyCond && timeCond, "inner").select(outCols: _*)
    val pair = Seq(leftId, rightId)
    val emitted = streamMatched.dropDuplicates(pair)
      .join(settled.select(pair.map(col): _*), pair, "left_semi")
    val backfill = settled
      .join(emitted.select(pair.map(col): _*), pair, "left_anti")
    // unmatched lane: left rows with NO settled partner, right payload
    // null-extended with the exact right-side types
    val rightPayload = right.columns.filterNot(keys.contains)
    val unmatched = l.join(r, keyCond && timeCond, "left_anti")
      .select(left.columns.map(c => col(s"l.$c")) ++
        rightPayload.map(c =>
          lit(null).cast(right.schema(c).dataType).as(c)): _*)
    emitted.unionByName(backfill).unionByName(unmatched)
  }

  /** Day-time interval string → microseconds, for the settled-horizon
    * arithmetic. Month-bearing intervals are refused: a month has no
    * fixed microsecond width, so "settled" would be undecidable.
    */
  private[graft] def intervalMicros(interval: String): Long = {
    val ci = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(interval))
    require(ci.months == 0,
      s"reconcileWindow needs a day-time interval, got '$interval' " +
        "(month-bearing intervals have no fixed settled horizon)")
    ci.days * 86400000000L + ci.microseconds
  }

  /** The settled-horizon form of [[reconcileOuterIntervalJoin]] — the
    * contract the raw operator only documents, enforced as code
    * (round-11): callers hand the FULL ingested lanes plus a window
    * `[windowStartUs, windowEndUs)` (event-time micros on the left
    * timestamp), the current reconciliation `horizonUs` (typically the
    * ingest high-watermark), and a `disorderBound` interval (how late
    * a right row may still arrive). The wrapper derives the slices the
    * periodic job must read —
    *
    *  - left rows with `leftTs` in the window;
    *  - right rows with `rightTs` in `[windowStart − before,
    *    windowEnd + after)` — every possible partner of a windowed
    *    left row, so the unmatched lane can never false-positive;
    *
    * and REFUSES an unsettled window loudly: reconciliation of
    * `[start, end)` is only emission-complete once every partner of
    * every windowed left row has arrived, i.e. once
    * `end − 1 + after + disorderBound < horizon`. Running early would
    * silently emit rows as "unmatched" whose partner is merely still
    * in flight — the exact corruption the operator exists to prevent,
    * so it is an error, not a degraded result. Windows tile the event
    * axis; the union over a tiling equals the one-shot batch outer
    * join (the q541 decomposition law, ReconcileJoinSpec).
    */
  def reconcileWindow(
      streamMatched: DataFrame,
      left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightTs: String,
      before: String, after: String,
      leftId: String, rightId: String,
      windowStartUs: Long, windowEndUs: Long,
      horizonUs: Long, disorderBound: String): DataFrame = {
    require(windowStartUs < windowEndUs,
      s"reconcileWindow: empty window [$windowStartUs, $windowEndUs)")
    val beforeUs = intervalMicros(before)
    val afterUs = intervalMicros(after)
    val disorderUs = intervalMicros(disorderBound)
    val settledUpTo = horizonUs - afterUs - disorderUs
    require(windowEndUs - 1 < settledUpTo,
      s"reconcileWindow: window [$windowStartUs, $windowEndUs) is not " +
        s"settled at horizon $horizonUs (after=$after, " +
        s"disorderBound=$disorderBound settles event time < $settledUpTo); " +
        "reconciling an unsettled window would mis-emit in-flight pairs " +
        "as unmatched — run again once the horizon passes")
    val lw = left.filter(
      expr(s"unix_micros($leftTs)") >= windowStartUs &&
        expr(s"unix_micros($leftTs)") < windowEndUs)
    val rw = right.filter(
      expr(s"unix_micros($rightTs)") >= windowStartUs - beforeUs &&
        expr(s"unix_micros($rightTs)") < windowEndUs + afterUs)
    reconcileOuterIntervalJoin(streamMatched, lw, rw, keys,
      leftTs, rightTs, before, after, leftId, rightId)
  }

  final case class KeyedEvent(key: Long, value: Double)
  final case class KeyedTotals(key: Long, n: Long, total: Double)

  /** Custom keyed state via flatMapGroupsWithState: running per-key
    * totals that survive across micro-batches — the template for any
    * bespoke streaming state machine (sessionization, CDC folding).
    */
  def statefulTotals(ds: Dataset[KeyedEvent]): Dataset[KeyedTotals] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[KeyedTotals]) =>
          val prev = state.getOption.getOrElse(KeyedTotals(key, 0L, 0.0))
          val next = events.foldLeft(prev) { (acc, e) =>
            KeyedTotals(key, acc.n + 1, acc.total + e.value)
          }
          state.update(next)
          Iterator(next)
      }
  }

  final case class KeyedRunning(key: Long, n: Long, vmax: Long)
  final case class RunningState(n: Long, vmax: Long)

  /** The Spark-4 arbitrary-state surface (`transformWithState` +
    * `StatefulProcessor` + handle-based typed state): running per-key
    * count and max surviving micro-batches. Same semantics class as
    * [[statefulTotals]] but on the new API — TTL-capable, multi-state,
    * timer-capable, and RocksDB-backed (the only provider the API
    * supports; callers must set the provider conf before starting
    * the stream).
    */
  final class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, KeyedEvent, KeyedRunning] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[RunningState] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[RunningState]("agg",
        org.apache.spark.sql.Encoders.product[RunningState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[KeyedEvent],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[KeyedRunning] = {
      val prev = if (st.exists()) st.get() else RunningState(0L, Long.MinValue)
      val next = rows.foldLeft(prev) { (acc, e) =>
        RunningState(acc.n + 1, math.max(acc.vmax, e.value.toLong))
      }
      st.update(next)
      Iterator.single(KeyedRunning(key, next.n, next.vmax))
    }
  }

  /** [[RunningStatsProcessor]] wired through `transformWithState`. */
  def runningStats(ds: Dataset[KeyedEvent]): Dataset[KeyedRunning] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    ds.groupByKey(_.key)
      .transformWithState(new RunningStatsProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}
