package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time processing that runs identically in batch and Structured
  * Streaming: the transforms below accept either a static or a
  * streaming DataFrame (same logical plan; the streaming run just adds
  * watermark-driven state eviction).
  *
  * The reference has no streaming at all (SURVEY.md §2.11) — this is
  * the engine's scale extension for the `events` table shape.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class Session(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long,
                           sum_value: Double)

  /** Internal keyed state (public: Catalyst codegen instantiates it). */
  final case class SessionState(start: Long, last: Long,
                                n: Long, total: Double)

  /** Tumbling event-time window aggregation with a watermark for late
    * data. In batch mode the watermark is a no-op and this is exactly
    * EventQueries.q60 with window() instead of date_trunc.
    */
  /** Built-in session-window aggregation (vs the explicit-state
    * `sessionize`): events merge while each starts within `gap` of
    * the session's rolling end; the emitted window is
    * [first event, last event + gap). Batch and streaming share this
    * exact plan — in streaming (append mode) a session finalizes and
    * emits once the watermark passes its end, and Spark keeps
    * O(open sessions) state, evicted by event time. This is q90's
    * batch form.
    */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes",
                         watermark: String = "30 minutes"): DataFrame = {
    val withTs = events.withColumn("ts", col("ts").cast("timestamp"))
    val src = if (events.isStreaming) withTs.withWatermark("ts", watermark)
              else withTs
    src.groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value")
             .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
             .cast("double").as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
              col("sw.end").as("session_end"),
              col("n_events"), col("sum_value"))
  }

  /** Event-time interval join: each left row pairs with right rows of
    * the same key whose timestamp falls in [left_ts, left_ts +
    * within]. In streaming this is the canonical stream-stream join —
    * BOTH sides carry watermarks and the time-range condition bounds
    * the join state, so Spark evicts buffered rows once the watermark
    * passes their window (state is O(rows in flight), not O(stream)).
    * In batch the same plan is an ordinary range-condition join.
    *
    * Inputs must expose `user_id`, a timestamp column named by
    * `lTs`/`rTs`, and an id column named by `lId`/`rId`.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   lTs: String, rTs: String, lId: String, rId: String,
                   withinMinutes: Int,
                   watermark: String = "30 minutes"): DataFrame =
    intervalJoinImpl(left, right, lTs, rTs, lId, rId, withinMinutes,
      watermark, "inner")

  /** LEFT OUTER stream-stream interval join: every left event emits,
    * matched pairs as in [[intervalJoin]], unmatched lefts null-padded.
    * In streaming, Spark emits the null-padded row only once BOTH
    * watermarks have passed the end of the left row's join window (the
    * row can no longer match a future right event) — state stays
    * bounded by the same eviction the inner join already has, and the
    * outer result is exactly-once rather than speculative. In batch
    * the same plan is an ordinary left join with a range condition.
    */
  def intervalJoinOuter(left: DataFrame, right: DataFrame,
                        lTs: String, rTs: String, lId: String, rId: String,
                        withinMinutes: Int,
                        watermark: String = "30 minutes"): DataFrame =
    intervalJoinImpl(left, right, lTs, rTs, lId, rId, withinMinutes,
      watermark, "left_outer")

  private def intervalJoinImpl(left: DataFrame, right: DataFrame,
                               lTs: String, rTs: String,
                               lId: String, rId: String,
                               withinMinutes: Int, watermark: String,
                               joinType: String): DataFrame = {
    def wm(df: DataFrame, ts: String) = {
      val t = df.withColumn(ts, col(ts).cast("timestamp"))
      if (df.isStreaming) t.withWatermark(ts, watermark) else t
    }
    // Plan-level aliases, not df("col") refs: when both inputs derive
    // from the SAME parent frame (q101 splits one `events` scan),
    // l("user_id") === r("user_id") collapses to a trivially-true
    // self-compare under Spark's attribute dedup. Qualified names
    // against explicit SubqueryAlias nodes resolve unambiguously even
    // with spark.sql.analyzer.failAmbiguousSelfJoin on.
    val l = wm(left, lTs).alias("gl")
    val r = wm(right, rTs).alias("gr")
    l.join(r, col("gl.user_id") === col("gr.user_id")
        && col(rTs) >= col(lTs)
        && col(rTs) <= col(lTs) + expr(s"INTERVAL $withinMinutes MINUTES"),
        joinType)
      .select(col("gl.user_id"), col(lId), col(lTs), col(rId), col(rTs))
  }

  def tumblingStats(events: DataFrame, windowLen: String = "1 hour",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
              col("event_type"), col("n"), col("sum_value"))

  /** Gap-based sessionization with explicit keyed state
    * (flatMapGroupsWithState): a session closes after `gapMinutes` of
    * silence per user. State is per-key and evicted by event-time
    * timeout — the canonical scalable pattern (state size is O(active
    * users), not O(events)).
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int,
                 watermark: String = "30 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def flush(userId: Long, st: SessionState): Session =
      Session(userId, new Timestamp(st.start), new Timestamp(st.last),
        st.n, st.total)

    // event-time timeout requires a watermark; in batch runs Spark
    // ignores it
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark)
      else events

    withWm.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(userId, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.orNull
            val closed = Seq.newBuilder[Session]
            for (e <- sorted) {
              val t = e.ts.getTime
              if (st == null) st = SessionState(t, t, 1, e.value)
              else if (t - st.last > gapMs) {
                closed += flush(userId, st)
                st = SessionState(t, t, 1, e.value)
              } else st = st.copy(last = math.max(st.last, t),
                n = st.n + 1, total = st.total + e.value)
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(st.last + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup: drop repeated event_ids with bounded state
    * (watermark evicts ids older than the horizon — the standard
    * at-least-once ingest guard). Batch mode degrades to a plain
    * dropDuplicates.
    */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val withTs = events.withColumn("ts", col("ts").cast("timestamp"))
    if (withTs.isStreaming)
      withTs.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("event_id")
    else withTs.dropDuplicates("event_id")
  }

  /** Streaming counterpart of the batch q118 trailing-window dedup:
    * an event is dropped if the same (user_id, event_type) key fired
    * within the previous `withinMinutes` — previous-OCCURRENCE
    * semantics, identical to the batch lag form (the state is the
    * last event's timestamp whether or not it was kept). State is one
    * long per active key, evicted by event-time timeout once the
    * watermark passes last+gap — eviction is semantics-preserving:
    * any event arriving after that is necessarily > gap from the
    * evicted timestamp, so it would have been kept (and the state
    * re-seeded) anyway. Integer-microsecond arithmetic matches the
    * batch/oracle comparison exactly.
    *
    * Batch-equivalence bound: events are sorted by event time WITHIN
    * each micro-batch, so in-batch disorder is handled, but the state
    * cannot rewind ACROSS micro-batches — if a key's events arrive
    * out of event-time order across batch boundaries (late but still
    * inside the watermark), `prev` moves backward and keep/drop
    * decisions can differ from the batch lag form even though every
    * event is admitted. Equivalence therefore holds exactly when each
    * key's arrival order across batches respects event time (the
    * common per-entity-ordered ingest, e.g. Kafka partitioned by
    * user); the watermark-eviction argument above covers timeouts,
    * not cross-batch disorder. A full fix would buffer per-key events
    * until the watermark and emit in event-time order —
    * deliberately not done here: it turns one long of state per key
    * into an event buffer, which is the cost profile of
    * `sessionizeEvents`, not a dedup guard.
    */
  def rollingDedup(events: Dataset[Event], withinMinutes: Int,
                   watermark: String = "30 minutes"): Dataset[Event] = {
    import events.sparkSession.implicits._
    val gapUs = withinMinutes * 60L * 1000000L
    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    // captured as a plain Boolean: referencing the Dataset inside the
    // state function would serialize it into the executor closure
    val streaming = events.isStreaming
    val withWm =
      if (streaming) events.withWatermark("ts", watermark)
      else events
    withWm.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, Event](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Long, String), rows: Iterator[Event],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var prev = state.getOption.getOrElse(Long.MinValue)
            val kept = Seq.newBuilder[Event]
            for (e <- sorted) {
              val t = micros(e.ts)
              if (prev == Long.MinValue || t - prev > gapUs) kept += e
              prev = t
            }
            if (prev != Long.MinValue) {
              state.update(prev)
              if (streaming)
                state.setTimeoutTimestamp(prev / 1000L + gapUs / 1000L)
            }
            kept.result().iterator
          }
      }
  }

  /** Internal ordered-dedup state: last processed event-time (micros,
    * MinValue = none) plus the events buffered until the watermark
    * passes them (public: Catalyst instantiates it).
    */
  final case class RollingBuf(prev: Long, buf: Seq[Event])

  /** Buffer-until-watermark variant of [[rollingDedup]]: per key,
    * events are HELD in state until the watermark passes their event
    * time, then processed in global event-time order — so the
    * batch-lag equivalence holds under ANY cross-batch arrival
    * disorder inside the watermark, not just per-key-ordered ingest
    * (the fast path's documented bound). The price is the cost
    * profile the fast path deliberately avoids: state is O(events in
    * flight inside the watermark) per key instead of one long —
    * bounded by rate × watermark horizon, the same envelope as a
    * stream-stream join buffer. Keep [[rollingDedup]] as the default
    * for per-entity-ordered sources (e.g. Kafka partitioned by user);
    * use this mode when keys genuinely interleave out of order.
    *
    * Mechanics: arriving rows join the key's buffer; the prefix with
    * `ts <= watermark` is flushed in (event-time, event_id) order
    * through the same previous-occurrence dedup arithmetic
    * (micros-exact, identical to batch); the rest stays buffered with
    * an event-time timeout at the earliest held row, so a later
    * watermark advance flushes it even if the key never receives
    * another event. Once the buffer drains, state degrades to the
    * fast path's single `prev` and is evicted (semantics-preserving,
    * same argument as [[rollingDedup]]) when the watermark passes
    * `prev + gap`. In batch runs everything is final: one flush,
    * exactly the batch lag form.
    */
  def rollingDedupOrdered(events: Dataset[Event], withinMinutes: Int,
                          watermark: String = "30 minutes",
                          maxBuffered: Int = 100000)
      : Dataset[Event] = {
    import events.sparkSession.implicits._
    require(maxBuffered >= 1, "maxBuffered must be >= 1")
    val gapUs = withinMinutes * 60L * 1000000L
    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val streaming = events.isStreaming
    val withWm =
      if (streaming) events.withWatermark("ts", watermark)
      else events
    withWm.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[RollingBuf, Event](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Long, String), rows: Iterator[Event],
         state: GroupState[RollingBuf]) =>
          val st = state.getOption.getOrElse(RollingBuf(Long.MinValue, Nil))
          val all = st.buf ++ rows
          val wmMs =
            if (streaming) state.getCurrentWatermarkMs() else Long.MaxValue
          // rows the watermark has passed are FINAL: no earlier event
          // can still arrive (Spark drops sub-watermark input), so
          // processing them in event-time order is the batch order
          val (fin, hold) = all.partition(_.ts.getTime <= wmMs)
          val sorted = fin.sortBy(e => (micros(e.ts), e.event_id))
          var prev = st.prev
          val kept = Seq.newBuilder[Event]
          for (e <- sorted) {
            val t = micros(e.ts)
            if (prev == Long.MinValue || t - prev > gapUs) kept += e
            prev = t
          }
          if (hold.nonEmpty) {
            // state bound: a hot key receiving events faster than the
            // watermark advances would otherwise grow this buffer
            // without limit (rate × horizon). Fail loudly at the bound
            // instead of an opaque executor OOM — same pattern as
            // Kmv.maxGroups.
            if (hold.size > maxBuffered)
              throw new IllegalStateException(
                s"EventStreams.rollingDedupOrdered: key holds ${hold.size} " +
                  s"events inside the watermark (> maxBuffered=$maxBuffered). " +
                  "The event rate × watermark horizon exceeds the state " +
                  "budget for this key — shorten the watermark, use " +
                  "rollingDedup (per-key-ordered fast path), or raise " +
                  "maxBuffered")
            state.update(RollingBuf(prev, hold))
            if (streaming) {
              // wake when the watermark can next finalize something;
              // must exceed the current watermark, hence the max
              val minHold = hold.iterator.map(_.ts.getTime).min
              state.setTimeoutTimestamp(math.max(minHold, wmMs + 1))
            }
          } else if (prev != Long.MinValue) {
            val evictAtMs = prev / 1000L + gapUs / 1000L
            if (streaming && wmMs >= evictAtMs) {
              // any future event is > gap from prev: eviction cannot
              // change a keep/drop decision (fast-path argument)
              state.remove()
            } else {
              state.update(RollingBuf(prev, Nil))
              if (streaming)
                state.setTimeoutTimestamp(math.max(evictAtMs, wmMs + 1))
            }
          } else state.remove()
          kept.result().iterator
      }
  }

  /** Internal funnel state: first-seen epoch-millis per stage event,
    * Long.MaxValue = not seen yet (public: Catalyst instantiates it).
    */
  final case class FunnelState(tv: Long, tc: Long, tp: Long)

  /** Incremental funnel staging — the streaming counterpart of the
    * batch q79 (AnalyticsQueries): per user, track the FIRST view /
    * click / purchase timestamps in keyed state and emit the user's
    * current stage (0-3, strictly-increasing order required) on every
    * update. State is 3 longs per user — O(users), never O(events) —
    * and the emitted stage for a user converges to exactly the batch
    * q79 stage once the same events have flowed through.
    */
  def funnelStages(events: Dataset[Event]): Dataset[(Long, Int)] = {
    import events.sparkSession.implicits._
    val none = Long.MaxValue

    def stage(st: FunnelState): Int =
      if (st.tv == none) 0
      else if (st.tc == none || st.tc <= st.tv) 1
      else if (st.tp == none || st.tp <= st.tc) 2
      else 3

    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, (Long, Int)](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(none, none, none))
          for (e <- rows) {
            val t = e.ts.getTime
            e.event_type match {
              case "view"     => st = st.copy(tv = math.min(st.tv, t))
              case "click"    => st = st.copy(tc = math.min(st.tc, t))
              case "purchase" => st = st.copy(tp = math.min(st.tp, t))
              case _          => ()
            }
          }
          state.update(st)
          (userId, stage(st))
      }
  }
}
