package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the `events` stream (`ts` event time).
  *
  * These are the streaming twins of the batch operators the oracle checks
  * (`q_events_window`): identical aggregation logic, plus watermarking so
  * state is bounded at scale. Specs drive them with `MemoryStream`.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  final case class FunnelProgress(user_id: Long, step: Int, entry_us: Long)

  /** Event time must be zoned TIMESTAMP for watermarking
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise) — but parquet-backed
    * streams can deliver `ts` as TIMESTAMP_NTZ depending on the writer.
    * The cast is exact under the engine's pinned UTC session timezone and
    * a no-op for already-zoned inputs (same normalization as the batch
    * side's epoch-micros helper). */
  private def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("ts", col("ts").cast("timestamp"))

  /** Watermarked tumbling-window aggregation — the canonical streaming agg.
    * State per (window, event_type) is dropped once the watermark passes, so
    * memory is bounded regardless of stream length. */
  def windowedCounts(events: DataFrame,
                     watermark: String = "10 minutes",
                     windowLen: String = "1 hour"): DataFrame =
    withEventTime(events)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Watermarked SLIDING-window aggregation — the streaming twin of
    * [[graft.operators.Analytics.slidingWindowCounts]]: hour-long windows
    * every 30 minutes, each event expanded map-side into its
    * length/slide = 2 windows. Same bounded-state story as the tumbling
    * form: a (window, type) group is finalized and dropped once the
    * watermark passes the window end. */
  def slidingCounts(events: DataFrame,
                    watermark: String = "10 minutes",
                    windowLen: String = "1 hour",
                    slide: String = "30 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Session windows via the built-in `session_window` (gap-based), the
    * declarative + scalable path for sessionization. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Streaming deduplication: drop repeated event ids within the watermark
    * horizon — the streaming twin of exact dedup. State is bounded by the
    * watermark (old keys are evicted), so it runs forever on an unbounded
    * stream. */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: each incoming event joined to a static
    * dimension on `key` — the canonical ingest-time enrichment shape.
    * The static side is broadcast; left join so unmatched events survive
    * with nulls rather than vanishing. Note: for file-backed dimensions
    * the FILE LISTING is captured when the dimension DataFrame is created
    * — files added to the directory later are NOT picked up until the
    * catalog is refreshed or the query restarts (use a Delta-style source
    * or restart-on-refresh for slowly changing dimensions). */
  def enriched(events: DataFrame, dim: DataFrame, key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-STREAM interval join — the attribution shape (view→purchase
    * within an hour): two watermarked event streams joined on the user key
    * with a time-bound condition `view.ts ≤ purchase.ts ≤ view.ts +
    * within`. Both sides carry watermarks and the join condition bounds
    * event time in BOTH directions, so Spark derives a state-eviction
    * horizon for each side — buffered rows are dropped once the other
    * stream's watermark passes their join window, and state stays bounded
    * on an unbounded stream (an unconstrained stream-stream join would
    * buffer forever). Inner join: only attributed pairs emit, each exactly
    * once. */
  def intervalJoin(views: DataFrame, purchases: DataFrame,
                   watermark: String = "10 minutes",
                   within: String = "1 hour"): DataFrame = {
    val v = withEventTime(views)
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", watermark)
    val p = withEventTime(purchases)
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    v.join(p,
      v("user_id") === p("user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $within"))
      .select(v("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("value"))
  }

  /** LEFT OUTER stream-stream interval join — [[intervalJoin]]'s
    * unattributed-views variant: a view with NO purchase inside its window
    * still emits (with null purchase columns) once the purchase stream's
    * watermark passes the view's join horizon and Spark can PROVE no match
    * can arrive. The deferred-null emission is the semantic difference
    * from batch left joins — and exactly why the two-sided time bound is
    * mandatory here (without it the unmatched rows could never be
    * finalized). */
  def intervalJoinLeft(views: DataFrame, purchases: DataFrame,
                       watermark: String = "10 minutes",
                       within: String = "1 hour"): DataFrame = {
    val v = withEventTime(views)
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", watermark)
    val p = withEventTime(purchases)
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    v.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $within"),
      "left_outer")
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("value"))
  }

  /** Custom stateful operator: per-user running totals via
    * `mapGroupsWithState` — the escape hatch for state machines the built-in
    * aggregations can't express. State is one small case class per user. */
  def runningUserTotals(spark: SparkSession, events: Dataset[Event]): Dataset[UserRunning] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          val next = UserRunning(userId, n, v)
          state.update(next)
          next
      }
  }

  /** Gap-sessionization via `flatMapGroupsWithState` + EVENT-TIME TIMEOUT —
    * the custom-state twin of the declarative [[sessionWindows]], and the
    * pattern for any session semantics `session_window` can't express
    * (per-session custom aggregates, early triggers, side outputs). State
    * per user is one (start, last, count) triple; each batch folds its
    * events in event-time order (the group iterator's order is
    * unspecified), emitting a CLOSED session whenever the next event is
    * beyond the gap, and arming an event-time timeout at `last + gap` so
    * the final open session closes when the WATERMARK — not wall clock —
    * passes it. State is removed on timeout: bounded by concurrently-open
    * sessions, never by stream length. */
  final case class SessionState(start_us: Long, last_us: Long, n: Long)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
                              n_events: Long)

  /** Full-precision micros: `getTime` truncated to seconds plus the nanos
    * field. */
  private def us(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000

  /** Folds one user's batch into the open session `open`, in (event-time,
    * event_id) order since the group iterator's order is unspecified: an
    * event within `gapUs` of the session's last one extends it, a later
    * one closes it in-line and opens the next. Returns the session left
    * open and the sessions closed. */
  private def foldSessions(userId: Long, batch: Iterator[Event], open: Option[SessionState],
                           gapUs: Long): (Option[SessionState], Seq[SessionOut]) = {
    var cur = open
    val closed = Seq.newBuilder[SessionOut]
    batch.toArray.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
      val t = us(e.ts)
      cur match {
        case Some(s) if t - s.last_us <= gapUs =>
          cur = Some(SessionState(s.start_us, math.max(s.last_us, t), s.n + 1))
        case Some(s) =>
          closed += SessionOut(userId, s.start_us, s.last_us, s.n)
          cur = Some(SessionState(t, t, 1))
        case None =>
          cur = Some(SessionState(t, t, 1))
      }
    }
    (cur, closed.result())
  }

  def sessionizeTimeout(spark: SparkSession, events: Dataset[Event],
                        gapMinutes: Int = 30,
                        watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap: the open session is final
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.start_us, s.last_us, s.n))
          } else {
            val (cur, closed) = foldSessions(userId, batch, state.getOption, gapUs)
            cur.foreach { s =>
              state.update(s)
              // CEIL to millis: a floored timer represents an instant up
              // to 999µs BEFORE last+gap, and an event at exactly last+gap
              // (which the <= gap rule must merge) arriving after the
              // watermark passed the floored instant would find the
              // session already closed
              state.setTimeoutTimestamp((s.last_us + gapUs + 999) / 1000)
            }
            closed.iterator
          }
      }
  }

  /** Gap-sessionization on the Spark 4 `transformWithState` API — the
    * modern twin of [[sessionizeTimeout]] (same semantics, spec-asserted
    * result-equal): per-user [[SessionState]] lives in a named
    * `ValueState`, and the final-session close is an explicit event-time
    * TIMER at `last + gap` (deleted and re-armed on every extension, so
    * exactly one timer is live per open session). What the new API buys
    * over `flatMapGroupsWithState`: composable NAMED state variables
    * (adding a second per-user aggregate is a second `getValueState`, not
    * a schema migration of one monolithic state class), first-class timer
    * management instead of one implicit timeout slot, state TTL, and
    * RocksDB-backed stores with changelog checkpointing — the
    * production-scale state backend. Requires the RocksDB state store
    * provider (a transformWithState contract). */
  class GapSessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var session: ValueState[SessionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[SessionOut] = {
      val (cur, closed) = foldSessions(userId, rows,
        if (session.exists()) Some(session.get()) else None, gapUs)
      cur.foreach { s =>
        session.update(s)
        // exactly one live timer per open session: drop stale, arm last+gap
        getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
        // CEIL to millis (lockstep with sessionizeTimeout): the timer must
        // never fire before the true gap expiry at last+gap microseconds
        getHandle.registerTimer((s.last_us + gapUs + 999) / 1000)
      }
      closed.iterator
    }
    override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (!session.exists()) Iterator.empty
      else {
        val s = session.get()
        session.clear()
        Iterator.single(SessionOut(userId, s.start_us, s.last_us, s.n))
      }
    }
  }

  def sessionizeTws(spark: SparkSession, events: Dataset[Event],
                    gapMinutes: Int = 30,
                    watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new GapSessionProcessor(gapMinutes * 60000000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming funnel state machine — the streaming twin of
    * [[graft.operators.Analytics.funnelSteps]]. Per-user state is one
    * (current step, entry time) pair — bounded by user cardinality, never
    * by stream length. An event advances the state only when its type is
    * the NEXT step's and (past step 1) its timestamp is strictly after
    * the current entry — the same strict ordering the batch funnel
    * enforces, so a replayed or repeated event can never advance a user
    * twice. Within a micro-batch events are folded in (event-time,
    * event_id) order because the group iterator's order is unspecified;
    * with batches arriving in time order the final states match the batch
    * funnel exactly (spec-asserted). Late CROSS-batch arrivals need the
    * watermark-bounded buffering of [[funnelProgressOrdered]] — use that
    * variant when the transport can reorder events across batches.
    *
    * Emits each touched user's progress per batch (state only advances,
    * so the max step per user across the output IS the final state). */
  def funnelProgress(spark: SparkSession, events: Dataset[Event],
                     steps: Seq[String] = Seq("view", "click", "purchase")): Dataset[FunnelProgress] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelProgress, FunnelProgress](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelProgress]) =>
          var cur = state.getOption.getOrElse(FunnelProgress(userId, 0, Long.MinValue))
          batch.toArray.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            if (cur.step < steps.length && e.event_type == steps(cur.step)) {
              val eus = us(e.ts)
              if (cur.step == 0 || eus > cur.entry_us)
                cur = FunnelProgress(userId, cur.step + 1, eus)
            }
          }
          state.update(cur)
          cur
      }
  }

  /** One buffered funnel event; `FunnelBufState` is a finalized prefix fold
    * plus the watermark-bounded suffix buffer. */
  final case class BufEvent(ts_us: Long, event_id: Long, event_type: String)
  final case class FunnelBufState(step: Int, entry_us: Long, buf: Seq[BufEvent])

  /** Streaming funnel that tolerates LATE CROSS-BATCH arrivals — the
    * watermark-bounded-buffer variant of [[funnelProgress]]: a step-2
    * event delivered in a later micro-batch than step-3's arrival still
    * advances the user to step 3, exactly as the batch funnel would.
    *
    * Per-user state is a FINALIZED fold (step, entry time) over every
    * event whose timestamp the watermark has passed, plus a buffer of the
    * not-yet-final suffix. Finalization is safe at the watermark: Spark
    * drops rows older than the watermark before this operator, so no
    * future arrival can sort before a finalized event — the fold order is
    * the batch funnel's total (event-time, event_id) order by
    * construction. Each batch emits the SPECULATIVE progress (finalized
    * fold extended through the buffer): adding events to a funnel fold is
    * monotone, so per-user emitted steps only ever advance and the max
    * step per user is the final state, same reading contract as
    * [[funnelProgress]].
    *
    * State bounds: only events whose type is one of `steps` enter the
    * buffer (others can never advance the fold), and an event-time
    * timeout at the earliest buffered timestamp re-finalizes the group
    * when the watermark passes it even if the user goes quiet — the
    * buffer holds at most the user's step-typed events inside the
    * watermark horizon, never the stream's history. */
  def funnelProgressOrdered(spark: SparkSession, events: Dataset[Event],
                            watermark: String = "10 minutes",
                            steps: Seq[String] = Seq("view", "click", "purchase")): Dataset[FunnelProgress] = {
    import spark.implicits._
    val stepSet = steps.toSet
    def fold(step0: Int, entry0: Long, evs: Seq[BufEvent]): (Int, Long) = {
      var step = step0; var entry = entry0
      evs.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        if (step < steps.length && e.event_type == steps(step) &&
            (step == 0 || e.ts_us > entry)) {
          step += 1; entry = e.ts_us
        }
      }
      (step, entry)
    }
    events.toDF()
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBufState, FunnelProgress](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelBufState]) =>
          val prev = state.getOption.getOrElse(FunnelBufState(0, Long.MinValue, Nil))
          val fresh = batch
            .filter(e => stepSet(e.event_type))
            .map(e => BufEvent(us(e.ts), e.event_id, e.event_type)).toSeq
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, pending) = (prev.buf ++ fresh).partition(_.ts_us <= wmUs)
          val (fStep, fEntry) = fold(prev.step, prev.entry_us, ready)
          state.update(FunnelBufState(fStep, fEntry, pending))
          if (pending.nonEmpty) {
            // wake when the watermark passes the earliest buffered event so
            // the buffer drains even if the user goes quiet (must be set
            // strictly beyond the current watermark)
            val wake = math.max(pending.map(_.ts_us).min / 1000L,
              state.getCurrentWatermarkMs() + 1L)
            state.setTimeoutTimestamp(wake)
          }
          val (sStep, sEntry) = fold(fStep, fEntry, pending)
          if (fresh.nonEmpty || state.hasTimedOut)
            Iterator.single(FunnelProgress(userId, sStep, sEntry))
          else Iterator.empty
      }
  }
}
