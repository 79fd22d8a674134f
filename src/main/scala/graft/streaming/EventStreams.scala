package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}
import org.apache.spark.sql.{DataFrame, Dataset}

import graft.Exact.dec

/** Event-time streaming operators over the `events` stream shape
  * (`ts timestamp, user_id long, event_type string, value double`) —
  * the streaming side of the batch event queries in
  * [[graft.queries.Analytics]] (qHourlyEventStats / qEventSessions).
  *
  * Design (SURVEY §2.9 goes beyond the reference here — the reference
  * has no Spark streaming, so this is north-star surface):
  *   - Watermarked tumbling-window aggregation: the canonical
  *     `withWatermark` + `window()` + groupBy — late data beyond the
  *     watermark is dropped, windows finalize (append mode) once the
  *     watermark passes their end.
  *   - Gap sessionization with CUSTOM state via
  *     `flatMapGroupsWithState`: sessions close either by a later
  *     event starting a new one or by event-time TIMEOUT when the
  *     watermark passes last_ts + gap. Semantics match the batch
  *     `session_window` query (exclusive end: an event exactly `gap`
  *     after its predecessor opens a NEW session), so batch and
  *     streaming results agree on the same data — asserted in
  *     EventStreamsSpec.
  *
  * Scale notes: state is per-user and O(1) per key (one open session),
  * the smallest possible stateful footprint; both operators shuffle
  * once on the grouping key per micro-batch, same as their batch
  * twins. State-store growth is bounded by timeout cleanup.
  */
object EventStreams {

  /** Input/output records for the typed sessionization path. */
  case class StreamEvent(user_id: Long, ts: Timestamp, value: Double)
  case class SessionOut(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)
  /** Open-session state: timestamps in epoch millis. */
  case class SessionState(startMs: Long, lastMs: Long, n: Long, total: Double)

  /** Streaming twin of [[graft.queries.Analytics.qHourlyEventStats]]:
    * per-hour tumbling windows finalized by the watermark. `delay` is
    * the max expected event-time disorder.
    */
  def hourlyStats(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** Streaming HOP (sliding) windows: the overlapping-window form of
    * [[hourlyStats]] — 1-hour windows advancing every 15 minutes, each
    * event contributing to window/slide = 4 open windows. State is 4× the
    * tumbling case (4 open windows per key instead of 1), evicted by the
    * same watermark; the batch twin [[graft.queries.Analytics
    * .qEventHopWindow]] computes identical frames for backfill, so a
    * lambda cutover is a frame-aligned union.
    */
  def hopStats(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming heavy hitters: the [[graft.functions.MisraGries]] sketch
    * as a watermarked WINDOWED streaming aggregate — per tumbling hour,
    * the ≤ k−1 candidate heavy tokens with their estimated counts,
    * finalized when the watermark passes the window. The batch side uses
    * the same Aggregator as pass 1 of the two-pass exact query
    * ([[graft.ext.TextOps.qDocHeavyHitters]]); MERGEABILITY is what
    * makes it streamable — partial buffers merge associatively across
    * tasks AND across micro-batches in the state store, so state per
    * window is O(k) counters regardless of distinct-token cardinality,
    * where a per-token streaming count would grow state with the token
    * domain. The MG guarantees survive any merge tree: every token with
    * true in-window frequency > N/k is present, and each estimate
    * undershoots by at most N/k (asserted against exact per-window
    * counts in EventStreamsSpec).
    */
  def windowHeavyHitters(tokens: DataFrame, k: Int,
      delay: String = "1 hour"): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(k))
    tokens
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(mg(col("token")).as("candidates"), count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("candidates"), col("n"))
  }

  /** Stream-static enrichment: join the event stream against a STATIC
    * dimension (here: a user → segment lookup) — the standard streaming
    * star-schema probe. No watermark is needed on either side: the static
    * side is bounded, so Spark plans a stateless per-micro-batch join
    * (each batch joins against the dim as of that batch — exactly the
    * Glue-style dim lookup, continuously).
    *
    * Scale: the dim is explicitly `broadcast` — every micro-batch pays a
    * map-side hash probe, never a stream-side shuffle. A mutable dim at
    * production scale becomes either a re-broadcast per trigger (Spark
    * re-plans static sides each batch when the source supports it) or the
    * SCD2-merged snapshot ([[graft.queries.Warehouse.qScd2Customer]])
    * refreshed by the batch layer.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** Streaming member of the dedup family ([[graft.ext.Dedup]] holds the
    * batch members): exactly-once emission per `keyCols` value among
    * records whose event times fall within the watermark horizon.
    * Bounded state is the point — a global streaming `dropDuplicates`
    * grows state forever; the watermark variant evicts a key once the
    * watermark passes its event time + delay, so re-ingesting old data
    * (the reference's re-dropped-month story, SURVEY §2.9) re-emits
    * instead of OOM-ing the state store. At 100 TB of history that
    * bound is the difference between a runnable and an unrunnable
    * streaming dedup.
    */
  def dedupWithinWatermark(records: DataFrame, delay: String, keyCols: String*): DataFrame = {
    val marked = records.withWatermark("ts", delay)
    // no keys = Spark's all-columns overload (mirrors dropDuplicates())
    if (keyCols.isEmpty) marked.dropDuplicatesWithinWatermark()
    else marked.dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  /** Stream-stream interval join: purchases × clicks of the same user
    * within a bounded lookback — the streaming complement of the batch
    * as-of join ([[graft.queries.Analytics.qEventAttributionAsof]]);
    * interval semantics emit ALL clicks in the window, not just the
    * latest (exact as-of needs a stateful post-pass).
    *
    * Both inputs must carry (user_id, ts, event_id). The watermarks plus
    * the TWO-SIDED time-range condition are what bound the join state:
    * Spark derives each side's eviction horizon from them (a click older
    * than purchase-watermark − lookback can never match again and is
    * evicted from the state store). Without the range condition,
    * stream-stream join state grows forever — the streaming equivalent
    * of an unbounded shuffle, and the difference between a runnable and
    * an OOM-bound attribution stream at production volume.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      delay: String = "1 hour", lookback: String = "2 hours"): DataFrame =
    attributionJoinImpl(clicks, purchases, delay, lookback, "inner")

  /** LEFT OUTER stream-stream interval join (E153): [[attributionJoin]]
    * that ALSO accounts for every unconverted purchase — the row a
    * conversion-rate dashboard needs and the inner join silently drops.
    * A purchase emits joined to each qualifying click as matches arrive;
    * if none exists, it emits exactly ONCE with null click columns — and
    * only when the JOINT watermark has passed the end of its lookback
    * interval, because until then a qualifying late click could still
    * arrive. That deferred null is the fundamental outer-join-on-streams
    * trade: completeness costs watermark latency, never correctness.
    *
    * Same state-eviction story as the inner form — the two-sided range
    * condition bounds both state stores; the outer side additionally
    * holds each unmatched purchase only until its null-emission horizon.
    * (Spark REQUIRES the watermark + time constraint for outer
    * stream-stream joins for exactly this reason: without them the
    * "no match" verdict is undecidable and state is unbounded.)
    */
  def attributionJoinLeftOuter(clicks: DataFrame, purchases: DataFrame,
      delay: String = "1 hour", lookback: String = "2 hours"): DataFrame =
    attributionJoinImpl(clicks, purchases, delay, lookback, "left_outer")

  private def attributionJoinImpl(clicks: DataFrame, purchases: DataFrame,
      delay: String, lookback: String, joinType: String): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_event_id"))
      .withWatermark("click_ts", delay)
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_event_id"))
      .withWatermark("purchase_ts", delay)
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $lookback"),
      joinType)
      .select(col("p_user").as("user_id"), col("purchase_event_id"),
        col("purchase_ts"), col("click_event_id"), col("click_ts"))
  }

  /** Gap-based sessionization with explicit state. Used with
    * `OutputMode.Append`: only CLOSED sessions are emitted, each exactly
    * once.
    *
    * State is the user's full set of OPEN sessions (interval merging, not
    * a single open session): an above-watermark event may arrive OUT OF
    * ORDER — before an open session's start, or bridging two sessions —
    * and a single-session state would mis-assign it. A session emits ONLY
    * once the watermark passes `last_ts + gap` (event-time timeout):
    * after that no admissible event (all have `ts >= watermark`) can
    * still merge into it, so emission is exact — streaming output equals
    * the batch `session_window` answer on the same data for EVERY arrival
    * order the watermark admits, not just in-order feeds (asserted with a
    * late out-of-order event in EventStreamsSpec).
    */
  def sessionize(events: Dataset[StreamEvent], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(updateSessions(gapMs))
  }

  /** Gap sessionization on Spark 4's `transformWithState` (the
    * StatefulProcessor replacement for the legacy
    * `flatMapGroupsWithState` arbitrary-state API) — same transition
    * function, same exact-emission guarantee, asserted equal to both the
    * legacy operator and batch `session_window` in EventStreamsSpec.
    *
    * Differences that matter operationally, and why BOTH operators stay:
    *   - State lives in named typed handles (a [[ListState]] of open
    *     sessions) instead of one opaque blob — evolvable schema,
    *     inspectable via the state data source.
    *   - Timeouts are explicit TIMERS: the processor re-registers the
    *     earliest possible seal point (min open `lastMs + gap`) each
    *     transition, deleting stale timers — one live timer per key, the
    *     direct analog of `setTimeoutTimestamp`.
    *   - `transformWithState` REQUIRES the RocksDB state store provider
    *     (callers set `spark.sql.streaming.stateStore.providerClass` to
    *     `...state.RocksDBStateStoreProvider`); the legacy operator runs
    *     on any provider, so it remains the default surface and this is
    *     the forward path — adopt-when-RocksDB-is-on rather than a
    *     breaking switch.
    *
    * Scale: identical to [[sessionize]] — one shuffle on the key per
    * micro-batch, O(open sessions) state per user, watermark-driven
    * eviction; RocksDB additionally takes state off-heap, which at
    * production key cardinality is the difference between GC pressure
    * and a disk-backed store.
    */
  def sessionizeTws(events: Dataset[StreamEvent], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs), TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The [[sessionizeTws]] processor: one [[ListState]] of open sessions
    * per user, one live timer at the earliest seal point. Data batches
    * and timer firings run the SAME transition ([[updateSessions]]'
    * invariant carried over), so out-of-order arrivals merge correctly
    * in either path.
    */
  private[streaming] class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, StreamEvent, SessionOut] {
    @transient private var open: ListState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getListState[SessionState](
        "open_sessions", Encoders.product[SessionState], TTLConfig.NONE)

    private def transition(userId: Long, incoming: Iterator[StreamEvent],
        wm: Long): Iterator[SessionOut] = {
      val merged = mergeAdjacent(
        (open.get().toVector ++
          incoming.map(e => SessionState(e.ts.getTime, e.ts.getTime, 1, e.value)))
          .sortBy(s => (s.startMs, s.lastMs)), gapMs)
      val (sealed_, stillOpen) = merged.partition(s => s.lastMs + gapMs <= wm)
      // single-timer discipline: timers are not implicitly replaced like
      // setTimeoutTimestamp was — drop stale ones before re-registering
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (stillOpen.isEmpty) open.clear()
      else {
        open.put(stillOpen.toArray)
        getHandle.registerTimer(stillOpen.map(_.lastMs).min + gapMs)
      }
      // qualified: StatefulProcessor inherits a nullary `close()` hook
      // that shadows the outer helper
      sealed_.iterator.map(EventStreams.close(userId, _, gapMs))
    }

    override def handleInputRows(key: Long, rows: Iterator[StreamEvent],
        tv: TimerValues): Iterator[SessionOut] =
      transition(key, rows, tv.getCurrentWatermarkInMs())

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] =
      transition(key, Iterator.empty, tv.getCurrentWatermarkInMs())
  }

  private def close(userId: Long, s: SessionState, gapMs: Long): SessionOut =
    SessionOut(userId, new Timestamp(s.startMs), new Timestamp(s.lastMs + gapMs), s.n, s.total)

  /** Merge start-sorted sessions whose gaps are below `gapMs` (exclusive
    * boundary: a follow-on exactly `gapMs` later stays separate, matching
    * batch `session_window`). Package-visible for property tests.
    */
  private[graft] def mergeAdjacent(sorted: Vector[SessionState], gapMs: Long): Vector[SessionState] =
    sorted.foldLeft(Vector.empty[SessionState]) { (acc, s) =>
      acc.lastOption match {
        case Some(prev) if s.startMs - prev.lastMs < gapMs =>
          acc.init :+ SessionState(prev.startMs, math.max(prev.lastMs, s.lastMs),
            prev.n + s.n, prev.total + s.total)
        case _ => acc :+ s
      }
    }

  /** Per-key transition, identical for data batches and timeout firings:
    * fold the new events into the open-session set as single-event
    * intervals + one merge pass, emit every session the watermark has
    * sealed, keep the rest with a timeout at the earliest possible seal.
    */
  private[streaming] def updateSessions(gapMs: Long)(
      userId: Long,
      events: Iterator[StreamEvent],
      state: GroupState[List[SessionState]]): Iterator[SessionOut] = {
    val incoming = events.map(e => SessionState(e.ts.getTime, e.ts.getTime, 1, e.value))
    val sessions = mergeAdjacent(
      (state.getOption.getOrElse(Nil).toVector ++ incoming)
        .sortBy(s => (s.startMs, s.lastMs)), gapMs)
    val wm = state.getCurrentWatermarkMs()
    val (sealed_, open) = sessions.partition(s => s.lastMs + gapMs <= wm)
    if (open.isEmpty) state.remove()
    else {
      state.update(open.toList)
      state.setTimeoutTimestamp(open.map(_.lastMs).min + gapMs)
    }
    sealed_.iterator.map(close(userId, _, gapMs))
  }
}
