package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Typed rows for the stateful streaming shard packer. */
case class ShardDoc(source: String, docId: Long, nTok: Long)
case class ShardAssigned(source: String, docId: Long, nTok: Long, shard: Long)
private[streaming] case class ShardState(cumTokens: Long)

/** Typed rows for the stateful per-key lag metrics (W1/W2 streaming). */
case class LagPoint(key: String, tsUs: Long, value: Double)
case class LagMetrics(key: String, tsUs: Long, value: Double,
                      pctGap: Option[Double], stalenessUs: Option[Long])
private[streaming] case class LagState(lastTs: Long, lastValue: Double)

/** Typed rows for the stateful streaming funnel. */
case class FunnelEvent(user: Long, tsUs: Long, etype: String)
case class FunnelProgress(user: Long, depth: Int, stepTsUs: Seq[Long])
private[streaming] case class FunnelState(stepTs: Seq[Long])

/** Typed rows for the stateful streaming transition feed. */
case class TransEvent(user: Long, tsUs: Long, eid: Long, etype: String)
case class Transition(user: Long, et: String, net: String, tsUs: Long)
private[streaming] case class TransState(tsUs: Long, eid: Long, etype: String)

/** Emitted row of the stateful streaming cadence feed. */
case class EventGap(user: Long, etype: String, gapUs: Long)
private[streaming] case class GapState(tsUs: Long)

/** Emitted row of the stateful streaming attribution feed. */
case class Attribution(user: Long, channel: String, tsUs: Long)
private[streaming] case class AttrState(channel: String)

/** Emitted row of the stateful streaming session entry/exit feed:
  * one row per CLOSED session. */
case class SessionSummary(user: Long, entryType: String,
                          exitType: String, nEvents: Long)
private[streaming] case class EntryExitState(entry: String, lastTs: Long,
                                             lastType: String, n: Long)

/** Structured-Streaming parity for the reference's stream processors.
  *
  * The defining computation (ref option_trade_aggs/main.py:203-230):
  * Kafka consume → extract event time → 1-minute tumbling window per
  * key with 1 s grace → reduce → emit FINAL results only → produce.
  * Spark mapping (SURVEY.md §2.10): `withWatermark(ts, grace)` +
  * `groupBy(window(ts, size), key)` + append output mode — append emits
  * a window exactly once, when the watermark passes window_end + grace,
  * which is Quix `.final()`.
  */
object StreamingOps {

  /** Tumbling-window keyed aggregation with final-only emission.
    * Works on any streaming (or batch) DataFrame with an event-time
    * column. Use `writeStream.outputMode("append")` for `.final()`
    * semantics, `update` for Quix `.current()`.
    */
  def windowedAgg(df: DataFrame, tsCol: String, keyCol: String,
                  windowSize: String, grace: String,
                  aggs: Seq[Column]): DataFrame = {
    require(aggs.nonEmpty, "windowedAgg needs at least one aggregate column")
    val agged = df.withWatermark(tsCol, grace)
      .groupBy(window(col(tsCol), windowSize), col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
    agged.select(
      col("window.start").as("window_start") +:
        col("window.end").as("window_end") +:
        agged.columns.filterNot(_ == "window").map(col).toSeq: _*)
  }

  /** Sliding-window variant (SURVEY.md §2.10: the reference uses
    * tumbling only; Spark's sliding windows are exposed behind the
    * same API surface). An event lands in size/slide windows.
    */
  def windowedAggSliding(df: DataFrame, tsCol: String, keyCol: String,
                         windowSize: String, slide: String, grace: String,
                         aggs: Seq[Column]): DataFrame = {
    require(aggs.nonEmpty, "windowedAggSliding needs at least one aggregate column")
    val agged = df.withWatermark(tsCol, grace)
      .groupBy(window(col(tsCol), windowSize, slide), col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
    agged.select(
      col("window.start").as("window_start") +:
        col("window.end").as("window_end") +:
        agged.columns.filterNot(_ == "window").map(col).toSeq: _*)
  }

  /** Session-window variant: windows close after `gap` of per-key
    * silence (same exposure rationale as [[windowedAggSliding]]).
    */
  def sessionAgg(df: DataFrame, tsCol: String, keyCol: String,
                 gap: String, grace: String, aggs: Seq[Column]): DataFrame = {
    require(aggs.nonEmpty, "sessionAgg needs at least one aggregate column")
    val agged = df.withWatermark(tsCol, grace)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
    agged.select(
      col("session_window.start").as("session_start") +:
        col("session_window.end").as("session_end") +:
        agged.columns.filterNot(_ == "session_window").map(col).toSeq: _*)
  }

  /** Exactly-once-effect dedup by business key within the watermark —
    * the Spark answer to the reference's exactly-once claim on an
    * at-least-once transport (SURVEY.md §7 hard part 4; dedup key = the
    * SHA-256 surrogate of ref darkpool_trades/main.py:88-92).
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, grace: String,
                           keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, grace)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming curation — the streaming twin of the batch curation
    * pipeline's first two stages (q44: exact content dedup + quality
    * floor): documents are gated by the quality predicate, then keyed
    * by the sha2 of their normalized text (the same content key as
    * `Dedup.exact`) and deduplicated within the watermark. The floor
    * runs FIRST: the quality predicate may read columns the content
    * key ignores (raw whitespace, metadata), so a below-floor arrival
    * must not consume its content key and shadow a later qualifying
    * duplicate — floor-first guarantees the surviving representative
    * is a QUALIFYING one whenever any exists (and shrinks dedup state
    * as a bonus). Duplicates arriving within `grace` of each other are
    * guaranteed collapsed; a duplicate arriving after the watermark
    * passed its original is dropped as late input — either way at most
    * one representative survives, which is the curation invariant.
    * State is bounded: the store holds one entry per content key seen
    * within the watermark, and eviction follows the watermark.
    */
  def curateStream(docs: DataFrame, tsCol: String, grace: String,
                   textCol: String, qualityFloor: Column): DataFrame =
    dedupWithinWatermark(
      docs.filter(qualityFloor)
        .withColumn("content_key",
          sha2(graft.functions.normText(col(textCol)), 256)),
      tsCol, grace, Seq("content_key"))

  /** One key's micro-batch group, sorted IN PLACE in a single array —
    * the shared group-fold step of every stateful twin below. `rows`
    * is a single-pass iterator and each fold needs (tsUs, tie) order,
    * so the group must land in memory once; this allocates exactly ONE
    * array (no toSeq → sorted-copy chain). Memory contract: the
    * envelope is the hottest key's PER-MICRO-BATCH arrival volume —
    * trigger-bounded, never all-time history (state stays O(1) per
    * key) — and for the gap/transition-class twins the OUTPUT is
    * itself group-sized, so O(group) working memory is the floor of
    * ANY formulation, incremental or not. A bot-shaped key needs the
    * same upstream guard as the batch side
    * ([[graft.operators.EventAnalytics.funnel]]'s maxEventsPerEntity).
    */
  private def sortedGroup[T, K](rows: Iterator[T])(key: T => K)(
      implicit ct: scala.reflect.ClassTag[T], ord: Ordering[K]): Array[T] = {
    val arr = rows.toArray
    arr.sortInPlaceBy(key)
    arr
  }

  /** W1/W2 as a STREAMING stateful operator: per-key previous-value
    * percent gap and inter-arrival staleness, carried across
    * micro-batches in the state store — the MarketDataMonitor's
    * record-at-a-time state (ref darkpool_trades/metrics.py:105-123)
    * on Spark's `flatMapGroupsWithState`. Works on batch Datasets too
    * (state spans the whole group). Gap is NULL on a zero previous
    * value, matching [[graft.operators.Enrich.pctGap]].
    */
  def lagMetricsStateful(ds: Dataset[LagPoint]): Dataset[LagMetrics] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[LagState, LagMetrics](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[LagState]) =>
          var st = state.getOption
          val out = sortedGroup(rows)(r => (r.tsUs, r.value)).map { r =>
            val m = LagMetrics(key, r.tsUs, r.value,
              st.flatMap(s =>
                if (s.lastValue == 0.0) None
                else Some((r.value - s.lastValue) / s.lastValue * 100.0)),
              st.map(r.tsUs - _.lastTs))
            st = Some(LagState(r.tsUs, r.value))
            m
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** STREAMING twin of [[graft.operators.EventAnalytics.funnel]]: the
    * per-entity funnel state machine (reached-step timestamps) lives in
    * the state store; a [[FunnelProgress]] row is emitted on every
    * ADVANCE, so the latest row per entity is its current depth. Within
    * a micro-batch, rows are folded in (tsUs, etype) order — identical
    * to the batch operator's sorted fold — so the final state equals
    * the batch result whenever arrival order across batches respects
    * event time (the same contract as [[packShardsStateful]]; a
    * late-arriving step-k event that predates an already-consumed
    * step-k match cannot rewind committed state). Works on batch
    * Datasets too (state spans the whole group).
    *
    * `maxStepGapUs` is the batch operator's step deadline (q130):
    * advance only when the candidate lands within the window of the
    * previous step. Greedy-first-match still equals chained
    * min-within-window (the earliest qualifying event is inside the
    * window iff any is), so batch/stream parity holds under the same
    * arrival contract.
    */
  def funnelStateful(ds: Dataset[FunnelEvent], steps: Seq[String],
      maxStepGapUs: Option[Long] = None): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state: GroupState[FunnelState]) =>
          var st = state.getOption.map(_.stepTs).getOrElse(Seq.empty)
          val out = Seq.newBuilder[FunnelProgress]
          sortedGroup(rows)(r => (r.tsUs, r.etype)).foreach { r =>
            if (st.length < steps.size && r.etype == steps(st.length) &&
                (st.isEmpty || (r.tsUs > st.last &&
                  maxStepGapUs.forall(gap => r.tsUs <= st.last + gap)))) {
              st = st :+ r.tsUs
              out += FunnelProgress(user, st.length, st)
            }
          }
          state.update(FunnelState(st))
          out.result().iterator
      }
  }

  /** STREAMING twin of [[graft.operators.EventAnalytics
    * .transitionMatrix]]'s pair extraction: the last event per entity
    * lives in the state store; each arriving event emits the
    * (previous-type → current-type) transition, so a downstream
    * (complete-mode or incremental) count by (et, net) IS the matrix's
    * count column. Within a micro-batch rows fold in (tsUs, eid)
    * order — the batch operator's window order — so the emitted pair
    * multiset equals the batch lead-pairs under event-ordered arrival
    * across batches. Works on batch Datasets too.
    */
  def transitionsStateful(ds: Dataset[TransEvent]): Dataset[Transition] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state: GroupState[TransState]) =>
          var st = state.getOption
          val out = Seq.newBuilder[Transition]
          sortedGroup(rows)(r => (r.tsUs, r.eid)).foreach { r =>
            st.foreach(p => out += Transition(user, p.etype, r.etype, r.tsUs))
            st = Some(TransState(r.tsUs, r.eid, r.etype))
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** STREAMING twin of [[graft.operators.EventAnalytics
    * .interEventGaps]]'s gap extraction: the last event time per
    * (entity, type) lives in the state store; each arriving event
    * emits its µs gap to the previous same-key event, so a downstream
    * aggregate over the gap feed IS the cadence table, maintained
    * incrementally. Within a micro-batch rows fold in (tsUs, eid)
    * order — the batch operator's window order — so the emitted gap
    * multiset equals the batch lag-gaps under event-ordered arrival
    * across batches. Works on batch Datasets too.
    *
    * MEMORY BOUND: see [[sortedGroup]] — one array per (key, batch),
    * envelope = the hottest key's per-batch arrival volume. Size
    * triggers so hot-key-per-batch stays in task memory.
    */
  def gapsStateful(ds: Dataset[TransEvent]): Dataset[EventGap] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(r => (r.user, r.etype))
      .flatMapGroupsWithState[GapState, EventGap](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((user, etype), rows, state: GroupState[GapState]) =>
          var last = state.getOption.map(_.tsUs)
          val out = Seq.newBuilder[EventGap]
          sortedGroup(rows)(r => (r.tsUs, r.eid)).foreach { r =>
            last.foreach(l => out += EventGap(user, etype, r.tsUs - l))
            last = Some(r.tsUs)
          }
          last.foreach(t => state.update(GapState(t)))
          out.result().iterator
      }
  }

  /** STREAMING twin of [[graft.operators.EventAnalytics
    * .lastTouchAttribution]]: the running last non-conversion event
    * type per entity lives in the state store; each arriving
    * conversion emits its credited channel (`(none)` before any
    * touch), so a downstream count by channel IS the attribution
    * table, maintained incrementally. Within a micro-batch rows fold
    * in (tsUs, eid) order — the batch operator's window order — so the
    * emitted credit multiset equals the batch window under
    * event-ordered arrival across batches. Works on batch Datasets
    * too.
    */
  def attributionStateful(ds: Dataset[TransEvent],
      convType: String): Dataset[Attribution] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user)
      .flatMapGroupsWithState[AttrState, Attribution](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state: GroupState[AttrState]) =>
          var ch = state.getOption.map(_.channel)
          val out = Seq.newBuilder[Attribution]
          sortedGroup(rows)(r => (r.tsUs, r.eid)).foreach { r =>
            if (r.etype == convType)
              out += Attribution(user, ch.getOrElse("(none)"), r.tsUs)
            else ch = Some(r.etype)
          }
          ch.foreach(c => state.update(AttrState(c)))
          out.result().iterator
      }
  }

  /** STREAMING face of [[graft.operators.EventAnalytics
    * .sessionEntryExit]]: the OPEN session per entity (entry type,
    * last event time/type, event count) lives in the state store; a
    * row arriving more than `gapMicros` after the session's last event
    * CLOSES it — emitting its (entry, exit, n) summary — and opens the
    * next, so a downstream count by (entry, exit) IS the landing/bounce
    * matrix over closed sessions, maintained incrementally. Within a
    * micro-batch rows fold in (tsUs, eid) order (the batch operator's
    * window order). Streaming semantics: a session is emitted ONLY
    * when a later event closes it — each entity's final, still-open
    * session stays in state (the batch operator, seeing a finite
    * input, reports it too; the parity spec accounts for exactly that
    * difference). NoTimeout by design: an idle-timeout flush would
    * emit sessions the batch twin can't deterministically reproduce.
    * Works on batch Datasets too.
    */
  def entryExitStateful(ds: Dataset[TransEvent],
      gapMicros: Long): Dataset[SessionSummary] = {
    require(gapMicros > 0, s"gapMicros must be positive: $gapMicros")
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user)
      .flatMapGroupsWithState[EntryExitState, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state: GroupState[EntryExitState]) =>
          var st = state.getOption
          val out = Seq.newBuilder[SessionSummary]
          sortedGroup(rows)(r => (r.tsUs, r.eid)).foreach { r =>
            st match {
              case Some(s) if r.tsUs - s.lastTs > gapMicros =>
                out += SessionSummary(user, s.entry, s.lastType, s.n)
                st = Some(EntryExitState(r.etype, r.tsUs, r.etype, 1L))
              case Some(s) =>
                st = Some(s.copy(lastTs = r.tsUs, lastType = r.etype,
                  n = s.n + 1L))
              case None =>
                st = Some(EntryExitState(r.etype, r.tsUs, r.etype, 1L))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** [[entryExitStateful]] with an EVENT-TIME TIMEOUT flush (VERDICT
    * r10 item 7) — the variant that completes the face: an idle
    * entity's open session no longer waits forever for a successor
    * event; when the WATERMARK passes `lastTs + gapMicros`, the state
    * times out and the session is emitted as closed, exactly as a
    * successor arriving after the gap would have closed it. Parity
    * contract (watermark-relative, pinned by StreamingSpec): once the
    * watermark has advanced past every entity's `lastTs + gapMicros`,
    * the emitted session multiset equals the FULL batch
    * [[graft.operators.EventAnalytics.sessionEntryExit]] matrix —
    * including each entity's final session, which the NoTimeout
    * variant deliberately withholds. Holds under the same arrival
    * contract as every stateful twin here (event-ordered across
    * batches, no late data beyond `grace`); a timed-out entity's later
    * events open a FRESH session, which is the batch semantics too
    * (their gap to the flushed session necessarily exceeds
    * `gapMicros`, because the watermark only advances with event
    * time). State stays O(1) per entity; the timeout registration is
    * re-armed once per (key, batch) on the latest event.
    */
  def entryExitStatefulTimeout(ds: Dataset[TransEvent], gapMicros: Long,
      grace: String = "0 seconds"): Dataset[SessionSummary] = {
    require(gapMicros > 0, s"gapMicros must be positive: $gapMicros")
    import ds.sparkSession.implicits._
    ds.withColumn("__et", timestamp_micros(col("tsUs")))
      .withWatermark("__et", grace)
      .as[TransEvent]
      .groupByKey(_.user)
      .flatMapGroupsWithState[EntryExitState, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user, rows, state: GroupState[EntryExitState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionSummary(user, s.entry, s.lastType, s.n))
          } else {
            var st = state.getOption
            val out = Seq.newBuilder[SessionSummary]
            sortedGroup(rows)(r => (r.tsUs, r.eid)).foreach { r =>
              st match {
                case Some(s) if r.tsUs - s.lastTs > gapMicros =>
                  out += SessionSummary(user, s.entry, s.lastType, s.n)
                  st = Some(EntryExitState(r.etype, r.tsUs, r.etype, 1L))
                case Some(s) =>
                  st = Some(s.copy(lastTs = r.tsUs, lastType = r.etype,
                    n = s.n + 1L))
                case None =>
                  st = Some(EntryExitState(r.etype, r.tsUs, r.etype, 1L))
              }
            }
            st.foreach { s =>
              state.update(s)
              // a single micro-batch can span MORE event time than the
              // gap (hot backfill batches), leaving the desired flush
              // time already behind the current watermark — Spark
              // rejects that registration. Clamp forward one ms: the
              // overdue timeout fires at the next micro-batch, which is
              // exactly when the watermark contract says the session is
              // closable anyway (the watermark has passed lastTs+gap).
              // (Try: batch execution has no watermark to read; there
              // timeouts never fire and the raw registration is fine.)
              val wm = scala.util.Try(state.getCurrentWatermarkMs())
                .getOrElse(-1L)
              state.setTimeoutTimestamp(
                math.max((s.lastTs + gapMicros) / 1000L, wm + 1L))
            }
            out.result().iterator
          }
      }
  }

  /** STREAMING twin of [[graft.operators.Curation.packShards]]: the
    * per-source cumulative token count lives in the state store, so
    * shard assignment continues seamlessly across micro-batches — the
    * shape for packing an ARRIVING corpus into training shards without
    * re-reading what's already packed. Exclusive running sum, integral
    * division, docs never split — identical outputs to the batch
    * window when arrival order respects id order across batches (the
    * ingest-cursor guarantee; within a batch the sort restores it).
    * Works on batch Datasets too (state spans the whole group).
    */
  def packShardsStateful(ds: Dataset[ShardDoc], budget: Long): Dataset[ShardAssigned] = {
    require(budget > 0, s"budget must be positive: $budget")
    import ds.sparkSession.implicits._
    ds.groupByKey(_.source)
      .flatMapGroupsWithState[ShardState, ShardAssigned](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows, state: GroupState[ShardState]) =>
          var cum = state.getOption.map(_.cumTokens).getOrElse(0L)
          val out = sortedGroup(rows)(_.docId).map { d =>
            val shard = cum / budget
            cum += d.nTok
            ShardAssigned(d.source, d.docId, d.nTok, shard)
          }
          state.update(ShardState(cum))
          out.iterator
      }
  }

  /** The same per-key lag metrics on Spark 4's `transformWithState` —
    * the modern stateful-processor API (typed ValueState handles, TTL
    * support, timers) that supersedes flatMapGroupsWithState. Both
    * variants are kept: [[lagMetricsStateful]] for the classic API,
    * this for TWS-based pipelines.
    */
  def lagMetricsTws(ds: Dataset[LagPoint]): Dataset[LagMetrics] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    class LagProcessor extends StatefulProcessor[String, LagPoint, LagMetrics] {
      @transient private var state: ValueState[LagState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        // session-free encoder: anything session-bound in this closure
        // would be invoked on the executor (SPARK-28702)
        state = getHandle.getValueState[LagState]("lag",
          org.apache.spark.sql.Encoders.product[LagState], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[LagPoint],
                                   timerValues: TimerValues): Iterator[LagMetrics] = {
        var st = if (state.exists()) Some(state.get()) else None
        val out = sortedGroup(rows)(r => (r.tsUs, r.value)).map { r =>
          val m = LagMetrics(key, r.tsUs, r.value,
            st.flatMap(s =>
              if (s.lastValue == 0.0) None
              else Some((r.value - s.lastValue) / s.lastValue * 100.0)),
            st.map(r.tsUs - _.lastTs))
          st = Some(LagState(r.tsUs, r.value))
          m
        }
        st.foreach(state.update)
        out.iterator
      }
    }
    ds.groupByKey(_.key)
      .transformWithState(new LagProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** File/console sink wiring with checkpointing (K1/K3 analog; the
    * Kafka sink is the same writer with format("kafka")).
    */
  def sink(df: DataFrame, format: String, path: Option[String],
           checkpoint: String, mode: OutputMode = OutputMode.Append(),
           trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    val w = df.writeStream.format(format).outputMode(mode).trigger(trigger)
      .option("checkpointLocation", checkpoint)
    path.map(w.option("path", _)).getOrElse(w)
  }
}
