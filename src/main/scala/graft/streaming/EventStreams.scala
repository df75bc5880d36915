package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming over the `events` table: windowed aggregation
  * with watermarked late-data handling, and stateful gap-based
  * sessionization via flatMapGroupsWithState.
  *
  * The reference has no streaming surface at all (SURVEY §2.8) — this
  * is the 100 TB extension path: the same event schema arriving as
  * files/kafka runs through `readStream` with identical transforms.
  * Every function here takes a plain DataFrame, so the SAME code
  * serves batch (finite input, used by the correctness oracle) and
  * streaming (incremental state) — the Dataset API's batch/stream
  * unification doing the work.
  */
object EventStreams {

  val SessionGapUs: Long = 30L * 60 * 1000 * 1000 // 30 min in micros

  /** Event time as epoch micros from any encoding of `ts` — the
    * decoding rule lives in [[graft.Tables.tsUsColumn]] so the batch
    * table loader and this streaming reader can never disagree. */
  def tsMicros(df: DataFrame): DataFrame =
    df.withColumn("ts_us", graft.Tables.tsUsColumn(df.schema("ts").dataType))

  /** Tumbling-window counts/sums per event_type. Works identically on
    * a batch or streaming DataFrame. */
  def windowedAgg(events: DataFrame): DataFrame =
    tsMicros(events)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Batch gap-sessionization: split a user's event sequence whenever
    * the gap to the previous event exceeds [[SessionGapUs]]. The
    * streaming twin is [[sessionizeStream]]; both must agree (tested).
    */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    tsMicros(events)
      .select(col("user_id"), col("ts_us"), col("event_id"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > SessionGapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("int"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
        count(lit(1)).as("n_events"))
  }

  final case class SessionEvent(user_id: Long, ts_us: Long, event_id: Long)
  final case class SessionOut(
      user_id: Long, session_id: Int, start_us: Long, end_us: Long, n_events: Long)
  // public: the state encoder's generated code must reach the fields.
  // nEvents == 0 is the post-flush MARKER state: it carries only the
  // next session ordinal (so a session closed by timeout and the one
  // the user's next event opens still number consecutively) and is
  // evicted by its own later timeout if the user never returns.
  final case class SessionState(
      sessionId: Int, startUs: Long, lastUs: Long, nEvents: Long)

  /** The per-event gap-sessionization fold shared by BOTH state APIs
    * ([[sessionizeStream]]'s fMGWS and [[SessionTwsProcessor]]'s TWS)
    * so the two cannot drift on the session semantics: null = no
    * state; nEvents == 0 = a numbering marker left by a timeout
    * flush; punctuation (event_id < 0) closes without opening; a gap
    * beyond [[SessionGapUs]] closes and opens the successor. Closed
    * sessions leave through `emit`. */
  private def sessionFold(userId: Long, st: SessionState,
      e: SessionEvent, emit: SessionOut => Unit): SessionState =
    if (e.event_id < 0) { // punctuation: close, don't open
      if (st != null && st.nEvents > 0)
        emit(SessionOut(userId, st.sessionId, st.startUs, st.lastUs,
          st.nEvents))
      null
    } else if (st == null) SessionState(1, e.ts_us, e.ts_us, 1)
    else if (st.nEvents == 0) // continue numbering past a timeout flush
      SessionState(st.sessionId, e.ts_us, e.ts_us, 1)
    else if (e.ts_us - st.lastUs > SessionGapUs) {
      emit(SessionOut(userId, st.sessionId, st.startUs, st.lastUs,
        st.nEvents))
      SessionState(st.sessionId + 1, e.ts_us, e.ts_us, 1)
    } else st.copy(lastUs = e.ts_us, nEvents = st.nEvents + 1)

  /** Streaming gap-sessionization with explicit state: emits each
    * session when the gap closes it, and — the no-punctuation
    * production path — when the EVENT-TIME watermark passes the
    * session's gap ([[GroupStateTimeout.EventTimeTimeout]]): a user
    * who simply goes quiet still has their session emitted once the
    * rest of the stream has moved [[SessionGapUs]] past their last
    * event. The timeout flush leaves a zero-event MARKER carrying the
    * next session ordinal (batch numbering must survive the early
    * emission); the marker is evicted by a second timeout, so state
    * for departed users is reclaimed, not leaked.
    *
    * A PUNCTUATION event (event_id < 0) still closes and clears the
    * key's open session without starting a new one — the explicit
    * log-rotation boundary; punctuation and timeout compose (a
    * punctuation arriving after a timeout flush finds the marker and
    * emits nothing).
    *
    * Exactness relies on [[timeSlicedDir]]'s ordered-delivery
    * contract: the watermark (0s delay) after batch N is the max
    * event time of batch N, and any event ≤ that time is already in
    * batch ≤ N — so a timeout can never fire before an event that
    * would have continued the session (the timeout would emit exactly
    * what that event's gap-close would).
    *
    * State per key is O(1) — the canonical mapGroupsWithState shape
    * that survives unbounded keys at scale (state store, not heap).
    */
  def sessionizeStream(events: Dataset[SessionEvent]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = SessionGapUs / 1000
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "0 seconds")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val out = Seq.newBuilder[SessionOut]
          if (state.hasTimedOut) {
            val st = state.get
            if (st.nEvents > 0) {
              // watermark passed lastUs + gap: the session is closed by
              // definition — emit it and keep the numbering marker
              out += SessionOut(userId, st.sessionId, st.startUs, st.lastUs, st.nEvents)
              state.update(SessionState(st.sessionId + 1, 0L, 0L, 0L))
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + gapMs + 1)
            } else state.remove() // marker expired: user really left
          } else {
            // Within a micro-batch rows are not ordering-guaranteed: sort.
            val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
            var st = state.getOption.orNull
            sorted.foreach(e => st = sessionFold(userId, st, e, out += _))
            if (st != null) {
              // st.nEvents > 0 always holds here: any event activates a
              // marker and punctuation nulls the state outright
              state.update(st)
              state.setTimeoutTimestamp(st.lastUs / 1000 + gapMs + 1)
            } else if (state.exists) state.remove()
          }
          out.result().iterator
      }
  }

  /** [[SessionTwsProcessor]]'s state: the fMGWS session record plus
    * the currently-armed timer deadline — carrying the deadline in
    * state is what upholds the one-live-timer-per-key invariant
    * (every re-arm can delete its predecessor by value). */
  final case class TwsSessionState(
      sessionId: Int, startUs: Long, lastUs: Long, nEvents: Long,
      armedMs: Long)

  /** The SAME gap sessionizer on Spark 4's `transformWithState` —
    * the arbitrary-state API that supersedes flatMapGroupsWithState:
    * named typed state ([[TwsSessionState]] in a `ValueState`) plus
    * EXPLICIT event-time timers instead of the single implicit
    * timeout slot. Timer discipline: exactly one live timer per key —
    * the armed deadline lives in the state, every re-arm deletes the
    * previous one by value, the firing timer consumes itself, and a
    * fire is acted on only when its expiry equals the state's armed
    * deadline. Fold semantics are byte-for-byte [[sessionizeStream]]'s
    * (same sort, same punctuation/gap/marker rules), so TWS == fMGWS
    * == the batch window SQL — pinned by the gate (shared oracle) and
    * the spec. Requires the RocksDB state store provider (a
    * transformWithState constraint); the gate sets it for the run. */
  def sessionizeStreamTws(events: Dataset[SessionEvent]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "0 seconds")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTwsProcessor(),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  class SessionTwsProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, SessionEvent, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig,
      TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[TwsSessionState] = _
    private val gapMs = SessionGapUs / 1000

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TwsSessionState]("session",
        org.apache.spark.sql.Encoders.product[TwsSessionState],
        TTLConfig.NONE)

    private def deadline(lastUs: Long): Long = lastUs / 1000 + gapMs + 1

    override def handleInputRows(userId: Long,
        rows: Iterator[SessionEvent],
        tv: TimerValues): Iterator[SessionOut] = {
      val out = Seq.newBuilder[SessionOut]
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val prior: TwsSessionState = if (st.exists()) st.get() else null
      val oldArm = if (prior != null) prior.armedMs else -1L
      // the SHARED per-event fold on the core session record — drift
      // between the two state APIs is structurally impossible
      var core: SessionState =
        if (prior == null) null
        else SessionState(prior.sessionId, prior.startUs, prior.lastUs,
          prior.nEvents)
      sorted.foreach(e => core = sessionFold(userId, core, e, out += _))
      val cur: TwsSessionState =
        if (core == null) null
        else TwsSessionState(core.sessionId, core.startUs, core.lastUs,
          core.nEvents, 0L)
      if (oldArm > 0) getHandle.deleteTimer(oldArm)
      if (cur != null) {
        // rows are never empty here, so a surviving state is an
        // active session (markers either became active or were
        // punctuated away) — arm its gap deadline
        val arm = deadline(cur.lastUs)
        st.update(cur.copy(armedMs = arm))
        getHandle.registerTimer(arm)
      } else if (st.exists()) st.clear()
      out.result().iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (!st.exists()) return Iterator.empty
      val s = st.get()
      if (info.getExpiryTimeInMs != s.armedMs) return Iterator.empty
      if (s.nEvents > 0) {
        // watermark passed lastUs + gap: closed by definition — emit
        // and keep a numbering marker with its own quiet horizon
        val arm = tv.getCurrentWatermarkInMs + gapMs + 1
        st.update(TwsSessionState(s.sessionId + 1, 0L, 0L, 0L, arm))
        getHandle.registerTimer(arm)
        Iterator.single(
          SessionOut(userId, s.sessionId, s.startUs, s.lastUs, s.nEvents))
      } else { st.clear(); Iterator.empty } // marker horizon passed
    }
  }

  final case class FunnelEvent(
      user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  // public: the state/output encoders' generated code reaches the
  // fields. lastUs arms the event-time timeout (the user's quiet clock).
  final case class FunnelState(
      s1: Option[Long], s2: Option[Long], s3: Option[Long], lastUs: Long)
  final case class FunnelOut(
      user_id: Long, s1: Option[Long], s2: Option[Long], s3: Option[Long])

  /** Default quiet horizon for [[funnelStream]]'s event-time-timeout
    * flush: ~100 days in micros — far past any real journey, so the
    * punctuated gate never fires it mid-stream (a funnel row is
    * one-shot per user; an early fire would split the journey in
    * two). Pass a small value to flush users who go quiet without a
    * punctuation marker — the no-punctuation production path. */
  val FunnelQuietUs: Long = 100L * 24 * 3600 * 1000 * 1000

  /** Within-batch tie order for the funnel fold: earlier stages fold
    * first inside a (ts, …) tie group so a view sharing the signup's
    * timestamp qualifies for s2. ONE definition for both funnel APIs
    * — the fMGWS/TWS parity is structural, not conventional. */
  private def funnelStagePrio(e: FunnelEvent): Int = e.event_type match {
    case "signup" => 0
    case "view" => 1
    case "purchase" => 2
    case _ => 3
  }

  /** The per-event funnel state fold (s1 = first signup; s2 = first
    * view ≥ s1; s3 = first purchase ≥ s2; lastUs = quiet clock),
    * shared by [[funnelStream]] and [[FunnelTwsProcessor]] so the two
    * state APIs cannot drift on the journey semantics. */
  private def funnelFold(st: FunnelState, e: FunnelEvent): FunnelState = {
    val upd = e.event_type match {
      case "signup" if st.s1.isEmpty => st.copy(s1 = Some(e.ts_us))
      case "view" if st.s2.isEmpty && st.s1.exists(_ <= e.ts_us) =>
        st.copy(s2 = Some(e.ts_us))
      case "purchase" if st.s3.isEmpty && st.s2.exists(_ <= e.ts_us) =>
        st.copy(s3 = Some(e.ts_us))
      case _ => st
    }
    upd.copy(lastUs = math.max(upd.lastUs, e.ts_us))
  }

  /** Ordered-funnel progression (signup → view-after-signup →
    * purchase-after-that) as a stateful stream: per-user state is the
    * three stage timestamps — O(1) per key, the user-journey state
    * machine every product-analytics pipeline keeps on its event
    * firehose. A punctuation event (event_id < 0) emits the user's
    * final stage row and clears the key, so a finite run's append
    * output is the complete per-user funnel table.
    *
    * Exactly the batch semantics of `EventAnalytics.funnelStages`
    * (s1 = min signup ts; s2 = min view ts ≥ s1; s3 = min purchase
    * ts ≥ s2), provided each user's events arrive in event-time order
    * across micro-batches ([[timeSlicedDir]]'s contract). Within a
    * batch, ties are resolved by sorting (ts, stage, event_id):
    * a view sharing its timestamp with the signup DOES qualify for
    * s2 (ts ≥ s1 holds with equality), so earlier stages must fold
    * first within a tie group — while an earlier-ts view can never
    * qualify retroactively, which is what makes the greedy O(1) fold
    * exact. */
  def funnelStream(events: Dataset[FunnelEvent],
      quietUs: Long = FunnelQuietUs): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    // lastUs sentinel is Long.MinValue, NOT 0: a user whose only
    // event is stage-less at ts_us == 0 must still produce a state
    // distinguishable from "no journey", or the punctuation/timeout
    // flush would drop the one-row-per-user batch parity for them
    val empty = FunnelState(None, None, None, Long.MinValue)
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "0 seconds")
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val out = Seq.newBuilder[FunnelOut]
          if (state.hasTimedOut) {
            // the user went quiet for quietUs of EVENT time: emit their
            // journey-so-far once and reclaim the key — the
            // no-punctuation flush a real firehose needs
            val st = state.get
            out += FunnelOut(userId, st.s1, st.s2, st.s3)
            state.remove()
          } else {
            val sorted = rows.toSeq.sortBy(e =>
              (e.ts_us, funnelStagePrio(e), e.event_id))
            var st = state.getOption.getOrElse(empty)
            var flushed = false
            sorted.foreach { e =>
              if (e.event_id < 0) {
                // punctuation: emit + clear — but ONLY when there is
                // a journey to flush. A punctuation arriving after a
                // timeout already flushed this user finds no state
                // and must emit NOTHING (the sessionizeStream
                // discipline), not fabricate an all-None row that
                // breaks the one-row-per-user batch parity
                if (st != empty) {
                  out += FunnelOut(userId, st.s1, st.s2, st.s3)
                  st = empty
                  flushed = true
                }
              } else st = funnelFold(st, e)
            }
            if (flushed && st == empty) {
              if (state.exists) state.remove()
            } else if (st != empty) {
              state.update(st)
              state.setTimeoutTimestamp(st.lastUs / 1000 + quietUs / 1000 + 1)
            }
            // st == empty && !flushed: a punctuation-only batch for a
            // user with no standing state — re-storing the empty
            // record would arm a timeout that later re-fabricates the
            // all-None row the guard above just suppressed
          }
          out.result().iterator
      }
  }

  /** [[FunnelTwsProcessor]]'s state: the fMGWS funnel record plus the
    * armed timer deadline (the [[TwsSessionState]] discipline —
    * exactly one live timer per key, deletable by value). */
  final case class TwsFunnelState(
      s1: Option[Long], s2: Option[Long], s3: Option[Long], lastUs: Long,
      armedMs: Long)

  /** The SAME funnel state machine on `transformWithState` — the
    * second stateful operator ported to Spark 4's arbitrary-state
    * API, so the migration proof covers both the multi-emission shape
    * (sessionize) and the one-shot-journey shape (funnel). Fold
    * semantics are byte-for-byte [[funnelStream]]'s; the quiet-horizon
    * timeout becomes an explicit event-time timer. */
  def funnelStreamTws(events: Dataset[FunnelEvent],
      quietUs: Long = FunnelQuietUs): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "0 seconds")
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelTwsProcessor(quietUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  class FunnelTwsProcessor(quietUs: Long) extends org.apache.spark.sql
      .streaming.StatefulProcessor[Long, FunnelEvent, FunnelOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig,
      TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[TwsFunnelState] = _
    private val quietMs = quietUs / 1000
    // Long.MinValue lastUs sentinel — funnelStream's epoch-0 guard,
    // byte-for-byte
    private val empty = TwsFunnelState(None, None, None, Long.MinValue, -1L)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TwsFunnelState]("funnel",
        org.apache.spark.sql.Encoders.product[TwsFunnelState],
        TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[FunnelEvent],
        tv: TimerValues): Iterator[FunnelOut] = {
      val out = Seq.newBuilder[FunnelOut]
      val sorted = rows.toSeq.sortBy(e =>
        (e.ts_us, funnelStagePrio(e), e.event_id))
      var cur = if (st.exists()) st.get() else empty
      val oldArm = cur.armedMs
      var flushed = false
      sorted.foreach { e =>
        if (e.event_id < 0) {
          // punctuation: emit + clear — only when there IS a journey
          // (funnelStream's guard: a punctuation after a timer flush
          // must not fabricate an all-None row)
          if (cur != empty) {
            out += FunnelOut(userId, cur.s1, cur.s2, cur.s3)
            cur = empty
            flushed = true
          }
        } else {
          // the SHARED per-event fold — drift between the two state
          // APIs is structurally impossible on the journey semantics
          val core = funnelFold(
            FunnelState(cur.s1, cur.s2, cur.s3, cur.lastUs), e)
          cur = cur.copy(s1 = core.s1, s2 = core.s2, s3 = core.s3,
            lastUs = core.lastUs)
        }
      }
      if (oldArm > 0) getHandle.deleteTimer(oldArm)
      if (flushed && cur == empty) {
        if (st.exists()) st.clear()
      } else if (cur != empty) {
        val arm = cur.lastUs / 1000 + quietMs + 1
        st.update(cur.copy(armedMs = arm))
        getHandle.registerTimer(arm)
      }
      // cur == empty && !flushed: punctuation-only batch, no standing
      // state — storing empty would arm a timer that re-fabricates
      // the all-None row the guard above suppressed
      out.result().iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[FunnelOut] = {
      if (!st.exists()) return Iterator.empty
      val s = st.get()
      if (info.getExpiryTimeInMs != s.armedMs) return Iterator.empty
      // quiet past the horizon: emit the journey-so-far, reclaim
      st.clear()
      Iterator.single(FunnelOut(userId, s.s1, s.s2, s.s3))
    }
  }

  final case class Scd2Event(
      user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  // public: the state/output encoders' generated code reaches the
  // fields. lastUs arms the event-time timeout (the user's quiet clock).
  final case class Scd2State(
      attr: String, version: Long, validFromUs: Long, lastUs: Long)
  final case class Scd2Out(
      user_id: Long, attr: String, version: Long, valid_from_us: Long,
      valid_to_us: Option[Long], is_current: Boolean)

  /** Default quiet horizon for [[scd2Stream]]'s event-time-timeout
    * flush — same contract as [[FunnelQuietUs]]: far past any gate
    * event span, so the punctuated gate never fires it mid-stream. */
  val Scd2QuietUs: Long = 100L * 24 * 3600 * 1000 * 1000

  /** SCD type-2 dimension maintenance as a stateful stream: per-user
    * state is the OPEN attribute version — (attr, version,
    * valid_from), O(1) per key. An attribute change emits the closed
    * version immediately (its valid_to is the new version's
    * valid_from — exactly the batch lead() window); a punctuation
    * event (event_id < 0) emits the still-open version with
    * is_current=true and clears the key, so a finite punctuated run's
    * append output equals `WarehouseOps.scd2History` row for row
    * (ONE shared oracle string — q_scd2_history / q_stream_scd2).
    *
    * The no-punctuation production path: EventTimeTimeout fires once
    * the watermark moves `quietUs` past the user's last event and
    * emits their open version once, reclaiming the key — the
    * departed-key flush a real firehose needs (a user who later
    * returns starts a fresh history, the same emit-once contract as
    * [[funnelStream]]'s timeout). Exact batch parity holds on the
    * punctuated layout; in-batch ties fold by (ts_us, event_id), the
    * batch window's total order. */
  def scd2Stream(events: Dataset[Scd2Event],
      quietUs: Long = Scd2QuietUs): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "0 seconds")
      .as[Scd2Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Scd2Event], state: GroupState[Scd2State]) =>
          val out = Seq.newBuilder[Scd2Out]
          if (state.hasTimedOut) {
            val st = state.get
            out += Scd2Out(userId, st.attr, st.version, st.validFromUs,
              None, is_current = true)
            state.remove()
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
            var st = state.getOption.orNull
            sorted.foreach { e =>
              if (e.event_id < 0) { // punctuation: emit open version, clear
                if (st != null) {
                  out += Scd2Out(userId, st.attr, st.version, st.validFromUs,
                    None, is_current = true)
                  st = null
                }
              } else if (st == null)
                st = Scd2State(e.event_type, 1L, e.ts_us, e.ts_us)
              else if (e.event_type != st.attr) {
                out += Scd2Out(userId, st.attr, st.version, st.validFromUs,
                  Some(e.ts_us), is_current = false)
                st = Scd2State(e.event_type, st.version + 1, e.ts_us, e.ts_us)
              } else st = st.copy(lastUs = e.ts_us)
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(st.lastUs / 1000 + quietUs / 1000 + 1)
            } else if (state.exists) state.remove()
          }
          out.result().iterator
      }
  }

  /** Watermarked stream-stream interval join: each purchase matched
    * to the same user's views in the preceding hour. Both sides carry
    * watermarks, so join state is bounded — the state-store holds at
    * most one hour (+watermark slack) of views per user. An inner
    * stream-stream join emits matches eagerly, so a one-shot
    * (AvailableNow) run over finite input produces exactly the batch
    * join's rows — which is how the oracle checks it.
    */
  def purchasesJoinViews(events: DataFrame): DataFrame = {
    val withTime = tsMicros(events)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
    val purchases = withTime.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", "10 minutes")
    val views = withTime.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("event_time").as("v_time"))
      .withWatermark("v_time", "10 minutes")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_time") <= col("p_time") &&
        col("v_time") >= col("p_time") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"))
  }

  /** Streaming first-occurrence dedup on (user_id, event_type) with
    * WATERMARKED state eviction (`dropDuplicatesWithinWatermark`): a
    * key occupies the state store only for the watermark delay, which
    * is the ingest-dedup shape for unbounded streams (a plain
    * `dropDuplicates` would keep every key forever). The output is
    * projected to the key columns, so the emitted rows are
    * value-deterministic no matter which duplicate arrives first. */
  def dedupKeysStream(events: DataFrame): DataFrame =
    tsMicros(events)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** Stream–static enrichment: the canonical dimension-lookup shape —
    * a stream joined to a broadcast batch table. STATELESS: unlike
    * the stream-stream interval join there is no state store at all;
    * the dimension ships with the task closure and every micro-batch
    * probes it map-side, so the operator scales with stream
    * throughput alone (the dimension is re-resolved per batch, which
    * is also what picks up slowly-changing dimension updates). */
  def enrichWithDim(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(
        customers.select(col("c_custkey"), col("c_mktsegment"))),
      col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"),
        col("c_mktsegment").as("segment"), col("event_type"))

  /** Run `writer` as a one-shot stream: trigger AvailableNow, start,
    * and block until every input present at start is processed. The
    * ONE place the engine starts and awaits a stream, so per-trigger
    * instrumentation or a trigger-level lever has a single hook.
    * Returns the terminated query (`recentProgress` holds each
    * trigger's metrics); a failed trigger rethrows here as the
    * engine's `StreamingQueryException`. */
  def runAvailableNow[T](writer: DataStreamWriter[T]): StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** Drain `df` through [[runAvailableNow]] into the in-memory table
    * `name` under output `mode`, and return that table. */
  def drainToMemory(df: Dataset[_], name: String, mode: String): DataFrame = {
    runAvailableNow(
      df.writeStream.format("memory").queryName(name).outputMode(mode))
    df.sparkSession.table(name)
  }

  /** `dir`'s parquet files as a stream taking ONE file per trigger —
    * the multi-batch input shape the staged layouts below
    * ([[stagedParquet]], [[timeSlicedDir]], [[orderedSlicedDir]],
    * [[customSlicedDir]]) are written for. */
  def filePerTrigger(s: SparkSession, schema: StructType,
      dir: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** Register `dir` for RECURSIVE deletion at JVM exit.
    * `File.deleteOnExit` silently fails on a non-empty directory, so
    * every temp input a stream fixture writes would otherwise
    * outlive the JVM — a Bench round plus Verify at three scale
    * factors would strand several full parquet copies of `events`
    * in /tmp. Deletion happens at exit (not eagerly) so
    * lazily-consumed results stay re-readable for the session. */
  def deleteRecursivelyOnExit(dir: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        // never traverse THROUGH a symlink ([[streamableDir]] links
        // into read-only source data) — unlink the link itself only
        if (!java.nio.file.Files.isSymbolicLink(f.toPath))
          Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(dir.toFile)
    }))

  /** Two-phase checkpoint-restart driver — ONE redeploy simulation
    * shared by the q_stream_restart gate and the TWS restart spec, so
    * the arrival mechanics (per-invocation scratch, mtime-preserving
    * slice copies, same checkpoint + fault-tolerant file sink across
    * both queries) cannot drift between the two sites. `ev` is sliced
    * into 2 event-time files + punctuation via [[timeSlicedDir]]
    * (memoized, never mutated — arrival is simulated by COPYING
    * slices into the scratch input dir); `sessionize` picks the
    * stateful implementation under test (fMGWS or TWS). Phase 1 runs
    * the EARLY slice to completion (AvailableNow — the graceful half
    * of a redeploy), `betweenPhases` observes the phase-1 sink (count
    * it, collect it, assert on it), then the late slices "arrive" and
    * a SECOND query resumes from the SAME checkpoint. Returns the
    * betweenPhases result and the combined final sink. */
  def restartPhases[A](s: SparkSession, ev: DataFrame,
      sessionize: Dataset[SessionEvent] => Dataset[SessionOut])(
      betweenPhases: DataFrame => A): (A, DataFrame) = {
    val srcDir = timeSlicedDir(ev, nSlices = 2, gapUs = SessionGapUs)
    val scratch = java.nio.file.Files.createTempDirectory("graft_restart")
    deleteRecursivelyOnExit(scratch)
    val inDir = scratch.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val outDir = s"$scratch/out"
    val cp = s"$scratch/cp"
    val src = new java.io.File(srcDir).listFiles().sortBy(_.getName)
    require(src.length >= 2,
      s"restartPhases: expected >=2 staged slices, got ${src.length}")
    def arrive(fs: Array[java.io.File]): Unit = fs.foreach { f =>
      val dest = inDir.resolve(f.getName)
      java.nio.file.Files.copy(f.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.Files.getLastModifiedTime(f.toPath))
    }
    def phase(): Unit = runAvailableNow(
      sessionize(filePerTrigger(s, ev.schema, inDir.toString)
          .as[SessionEvent](org.apache.spark.sql.Encoders.product[SessionEvent]))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", cp)
        .outputMode("append"))
    val (early, late) = src.splitAt(1)
    arrive(early)
    phase()
    val mid = betweenPhases(s.read.parquet(outDir))
    arrive(late)
    phase()
    (mid, s.read.parquet(outDir))
  }

  /** Staging memo: streaming-gate INPUT fixtures are deterministic
    * functions of the testdata, but the bench times every gate 3-5
    * iterations — re-writing identical slice files per iteration was
    * a third of the streaming subtotal. Keyed on the canonicalized
    * input plan PLUS the sorted input-file list: canonicalization
    * strips paths and column names (two scale factors of the same
    * table canonicalize byte-identically — measured), so the file
    * list is what actually distinguishes datasets. Inputs with NO
    * files (in-memory spec fixtures) are NEVER memoized — local
    * frames with one schema would all share a key, and spec fixtures
    * are allowed to mutate their private staged dirs (the
    * checkpoint-resume spec does). Staged dirs handed to gates are
    * READ-ONLY to their consumers (the file-stream source); per-run
    * OUTPUT dirs must never come through here. */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def memoStaged(key: Option[String])(build: => String): String =
    key match {
      case Some(k) => stagedDirs.computeIfAbsent(k, _ => build)
      case None => build
    }

  private def planKey(df: DataFrame): Option[String] = {
    val files = df.inputFiles
    if (files.isEmpty) None
    else Some(df.queryExecution.analyzed.canonicalized.toString +
      "|" + files.sorted.mkString(","))
  }

  /** Spark's file stream source requires a DIRECTORY; the testdata
    * tables are single files. Returns a temp dir containing a symlink
    * to the table file, suitable for `readStream.parquet`. */
  def streamableDir(file: String): String =
    memoStaged(Some(s"link|$file")) {
      val d = java.nio.file.Files.createTempDirectory("graft_stream")
      deleteRecursivelyOnExit(d)
      java.nio.file.Files.createSymbolicLink(
        d.resolve(java.nio.file.Paths.get(file).getFileName),
        java.nio.file.Paths.get(file))
      d.toString
    }

  /** Stage `df` ONCE per JVM as a `parts`-file parquet dir — the
    * maxFilesPerTrigger=1 multi-batch input shape for fixtures whose
    * arrival order doesn't matter (sketches, counts, drift). */
  def stagedParquet(df: DataFrame, parts: Int): String =
    stagedDir(df, s"flat$parts") { dir =>
      df.repartition(parts).write.mode("overwrite").parquet(dir)
    }

  /** Generic once-per-JVM staging: run `build` into a fresh temp dir
    * the first time this (input, tag) pair is seen, reuse the dir
    * afterwards — for any deterministic derived layout a gate would
    * otherwise rebuild every bench iteration (the z-ordered manifest
    * fixture uses this). The memo keys on (tag, input plan, input
    * files) ONLY — the build closure is opaque — so `tag` MUST
    * encode every parameter the build depends on (stagedParquet
    * encodes its file count as `flat$parts`; the z-order site as
    * `zord16`), or two callers sharing a tag would silently share
    * one layout. Same memo rules as the slicers: file-less inputs
    * are never memoized, staged dirs are read-only to their
    * consumers. */
  def stagedDir(df: DataFrame, tag: String)(build: String => Unit): String =
    memoStaged(planKey(df).map(k => s"$tag|$k")) {
      val base = java.nio.file.Files.createTempDirectory(s"graft_$tag")
      deleteRecursivelyOnExit(base)
      val dir = s"$base/out"
      build(dir)
      dir
    }

  /** Replay `(user_id, ts_us, event_id, …)` rows as an ORDERED
    * multi-batch file stream: `nSlices` parquet files covering
    * consecutive ts_us spans, plus one trailing punctuation file
    * (event_id = -1 per distinct user, stamped past every session
    * gap) that flushes open sessions. File mtimes are forced into
    * slice order so the file source's oldest-first pickup with
    * maxFilesPerTrigger=1 delivers each user's events in event-time
    * order across micro-batches — the log-rotation ingest shape; as a
    * corollary, events sharing a ts_us always land in the SAME slice,
    * which is what lets stateful consumers resolve event-time ties
    * inside one micro-batch sort. Columns beyond the required three
    * ride along (typed nulls in the punctuation rows). The min/max
    * probe is a 2-scalar driver collect. */
  def timeSlicedDir(ev: DataFrame, nSlices: Int, gapUs: Long,
      flushSlices: Int = 1): String = memoStaged(
    planKey(ev).map(k => s"time|$nSlices|$gapUs|$flushSlices|$k")) {
    val bounds = ev.agg(min(col("ts_us")), max(col("ts_us"))).head()
    require(!bounds.isNullAt(0),
      "timeSlicedDir: empty event input — no stream to slice")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, (hi - lo) / nSlices + 1)
    val extras = ev.columns.filterNot(Set("user_id", "ts_us", "event_id"))
    val flush = ev.select(col("user_id")).distinct()
      .select(Seq(col("user_id"), lit(hi + gapUs + 1).as("ts_us"),
        lit(-1L).as("event_id")) ++
        extras.map(c => lit(null).cast(ev.schema(c).dataType).as(c)): _*)
      .select(ev.columns.map(col): _*)
    // flushSlices > 1 replays the punctuation as EXTRA trailing
    // triggers: watermark-EVICTION consumers (native session_window
    // in append mode) only evict during the batch AFTER the one whose
    // data advanced the watermark, so they need one more trigger to
    // flush final state — a second punctuation is a no-op for the
    // stateful flatMapGroupsWithState consumers (state already clear)
    val slices = (0 until nSlices).map(i =>
      ev.filter(col("ts_us") >= lo + i * span &&
        col("ts_us") < lo + (i + 1) * span)) ++ Seq.fill(flushSlices)(flush)
    writeSliceFiles(slices)
  }

  /** The [[timeSlicedDir]] staging for streams whose arrival order is
    * APPEND-ONLY IDS rather than event time: `df` lands as `nSlices`
    * ordered files sliced by ranges of the Long `orderCol`, so the
    * file source delivers lower ids in earlier micro-batches. No
    * punctuation row — callers whose operators decide per-row (the
    * cap admitter) need no flush. */
  def orderedSlicedDir(df: DataFrame, orderCol: String, nSlices: Int): String =
      memoStaged(planKey(df).map(k => s"ord|$orderCol|$nSlices|$k")) {
    val bounds = df.agg(min(col(orderCol)), max(col(orderCol))).head()
    require(!bounds.isNullAt(0),
      "orderedSlicedDir: empty input — no stream to slice")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, (hi - lo) / nSlices + 1)
    writeSliceFiles((0 until nSlices).map(i =>
      df.filter(col(orderCol) >= lo + i * span &&
        col(orderCol) < lo + (i + 1) * span)))
  }

  /** Stage caller-defined slices as ordered trigger files — for gates
    * whose arrival order is itself the SEMANTIC fixture (the
    * late-data gate replays an on-time stream, then a delayed
    * cohort in two waves, then a flush) rather than a range split of
    * one column. Memoized like the other slicers, keyed on the tag
    * plus every slice's plan, so bench iterations reuse the staged
    * files; any file-less slice disables the memo (same rule as
    * [[stagedDir]]). */
  def customSlicedDir(tag: String, slices: Seq[DataFrame]): String = {
    val keys = slices.map(planKey)
    memoStaged(
      if (keys.contains(None)) None
      else Some(s"custom|$tag|${keys.flatten.mkString(";")}")) {
      writeSliceFiles(slices)
    }
  }

  /** Stage each slice as ONE parquet file with ascending mod-times so
    * the file stream source (maxFilesPerTrigger=1) delivers them in
    * slice order — shared by [[timeSlicedDir]] / [[orderedSlicedDir]]. */
  private def writeSliceFiles(slices: Seq[DataFrame]): String = {
    val base = java.nio.file.Files.createTempDirectory("graft_stream_slices")
    deleteRecursivelyOnExit(base)
    val inDir = base.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = base.resolve(s"tmp$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for slice $i"))
      val dest = inDir.resolve(f"slice_$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 60000L))
    }
    inDir.toString
  }

  final case class CapDoc(source: String, doc_id: Long)

  /** STREAMING per-source admission cap — the enforcement half of the
    * q_source_cap quota, run at ingest: admit each source's first
    * `cap` documents in arrival order (append-only doc ids; the slice
    * layout delivers lower ids first, and the in-batch sort restores
    * id order within a trigger — shuffle order is an artifact), then
    * drop the rest forever. State per source is ONE integer (the
    * admitted count) — O(sources) total state whatever the document
    * volume, and admissions emit immediately (append mode, no
    * punctuation or timeout needed: the verdict for a document never
    * depends on later input). The batch q_source_cap elects by hash
    * priority and is re-runnable; this is the arrival-order online
    * variant a live firehose needs — same quota, decided as data
    * lands. */
  def sourceCapStream(docs: Dataset[CapDoc], cap: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (source: String, it: Iterator[CapDoc], state: GroupState[Int]) => {
          val admitted = state.getOption.getOrElse(0)
          val take = it.toSeq.sortBy(_.doc_id)
            .take(math.max(0, cap - admitted))
          if (take.nonEmpty) state.update(admitted + take.size)
          take.iterator.zipWithIndex.map { case (d, i) =>
            (source, d.doc_id, admitted + i + 1)
          }
        })
      .toDF("source", "doc_id", "rnk")
  }
}
