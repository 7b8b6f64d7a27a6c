package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType,
  StringType, StructField, StructType}

/** Structured Streaming twins of the batch time-series operators.
  *
  * The transforms are written against a generic events DataFrame
  * (ts timestamp, user_id long, event_type string, value double), so
  * the same code runs on `readStream` (with watermark-driven state
  * eviction — the 100 TB/day ingest path) and on batch frames (as in
  * StreamingSpec, which asserts stream == batch).
  */
object StreamOps {

  /** Tumbling 1-hour aggregation — streaming twin of
    * Events.windowAgg. Watermark bounds state: late events beyond
    * 1 hour are dropped and closed windows are evicted. */
  def windowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** 30-minute-gap sessions via the native session_window — merging
    * windowed state per user, evicted by watermark in streaming.
    *
    * Boundary contract: a gap of EXACTLY 30 minutes MERGES — an event
    * landing exactly at prev_ts + gap extends the session (empirical
    * session_window behavior; its window end is prev_ts + gap and the
    * merge test is `start <= prev_end`). The batch twin
    * (Events.sessionizeDf) and its DuckDB oracle encode the same
    * strictly-greater split predicate; StreamingSpec pins both sides
    * of the boundary (== merges, +1s splits). */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))

  final case class Msg(user_id: Long, event_id: Long, tsMicros: Long,
      event_type: String)
  final case class HistoryOut(user_id: Long, event_id: Long,
      history_len: Int)
  final case class FunnelState(vTs: Long, cTs: Long, pTs: Long)
  final case class FunnelOut(user_id: Long, funnel_stage: Int)

  /** Streaming twin of Events.funnel: per-user ordered-funnel state
    * (view → click → purchase, each stage the earliest event strictly
    * after the previous stage) carried across batches with
    * flatMapGroupsWithState. Emits the stage reached so far per user
    * per batch; after a full replay the emission equals the batch
    * query's funnel_stage. Boundary contract matches batch: a stage
    * candidate at EXACTLY the previous stage's timestamp does not
    * qualify (strictly-greater comparison on both sides).
    *
    * Late-data contract: stage transitions are IRREVERSIBLE. Events
    * are event-time-sorted within each batch, but an event arriving
    * in a LATER batch with an earlier timestamp cannot reopen a
    * stage (e.g. a late view older than the recorded one is ignored,
    * even if it would have let an intermediate click qualify). Exact
    * late-data parity would require buffering all events per user
    * until a watermark — unbounded state the batch query gets for
    * free; this twin trades that for O(1) state per user, the
    * standard streaming-funnel trade.
    *
    * Memory bound: CARRIED state is O(1) per user, but each
    * invocation materializes and sorts the user's events from the
    * CURRENT micro-batch (`msgs.toSeq.sortBy`) — peak memory per key
    * is bounded by the batch size, not a constant. A hot key in a
    * huge batch pays that; cap trigger sizes (maxOffsetsPerTrigger /
    * maxFilesPerTrigger) if a key can dominate a batch.
    * (historyState below shares the pattern.) */
  def funnelState(s: SparkSession, events: Dataset[Msg]): Dataset[FunnelOut] = {
    import s.implicits._
    val none = Long.MinValue
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, msgs: Iterator[Msg], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(none, none, none))
          msgs.toSeq.sortBy(m => (m.tsMicros, m.event_id)).foreach { m =>
            m.event_type match {
              case "view" if st.vTs == none => st = st.copy(vTs = m.tsMicros)
              case "click" if st.cTs == none && st.vTs != none &&
                m.tsMicros > st.vTs => st = st.copy(cTs = m.tsMicros)
              case "purchase" if st.pTs == none && st.cTs != none &&
                m.tsMicros > st.cTs => st = st.copy(pTs = m.tsMicros)
              case _ => ()
            }
          }
          state.update(st)
          val stage = if (st.pTs != none) 3 else if (st.cTs != none) 2
            else if (st.vTs != none) 1 else 0
          Iterator.single(FunnelOut(user, stage))
      }
  }

  /** Custom conversational state (bones.py:123-144): per-user chat
    * history length, cleared by 'signup' — flatMapGroupsWithState
    * carrying (epoch, count) per user across batches. Demonstrates
    * arbitrary stateful processing where session_window semantics
    * don't fit.
    *
    * Boundary contract: events are ordered by (tsMicros, event_id) —
    * an event with the SAME timestamp as a signup but a higher
    * event_id lands in the new epoch; a lower event_id lands in the
    * old one. The batch twin (conversation_replay) row_numbers on the
    * same (ts, event_id) key, so ties resolve identically. */
  def historyState(s: SparkSession, events: Dataset[Msg]): Dataset[HistoryOut] = {
    import s.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Int, HistoryOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, msgs: Iterator[Msg], state: GroupState[Int]) =>
          // n = events in the current epoch, signup starts a new epoch;
          // history_len = position within the epoch (matches the batch
          // conversation_replay: row_number within (user, epoch) - 1).
          var n = state.getOption.getOrElse(0)
          val out = msgs.toSeq.sortBy(m => (m.tsMicros, m.event_id)).map { m =>
            if (m.event_type == "signup") n = 1 else n += 1
            HistoryOut(user, m.event_id, n - 1)
          }
          state.update(n)
          out.iterator
      }
  }

  final case class Scd2State(version: Long, last: String, has: Boolean)
  final case class Scd2Out(user_id: Long, version: Long, status: String,
      valid_from_micros: Long)

  /** Streaming twin of Events.scd2: per-user current (version, status)
    * carried across batches; a batch's events replay in event_id order
    * (ids are assigned in timestamp order — the same tiebreak the
    * batch windows use) and every status CHANGE emits the newly-opened
    * interval row. The batch query's valid_to/is_current are derived
    * views over these change rows (each interval closes when the next
    * opens), so after a full replay the emitted set equals the batch
    * dimension on (user, version, status, valid_from) — asserted in
    * StreamingSpec.
    *
    * Late-data contract: like funnelState, transitions are
    * IRREVERSIBLE — an event arriving in a later batch with an earlier
    * timestamp appends history, it cannot rewrite closed intervals
    * (the same trade every streaming SCD2 ingest makes; O(1) state
    * per user). */
  def scd2State(s: SparkSession, events: Dataset[Msg]): Dataset[Scd2Out] = {
    import s.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, msgs: Iterator[Msg], state: GroupState[Scd2State]) =>
          // state.last = the PREVIOUS EVENT's type verbatim (not the
          // last change's status, and null is a real value, flagged
          // apart by `has`): the batch twin's change test is
          // `lag IS NULL OR lag <> type`, so after a null-typed event
          // the next event ALWAYS opens an interval and a null-typed
          // event after a non-null one never does — overloading null
          // as "no state yet" would diverge from batch on exactly
          // those rows
          var st = state.getOption.getOrElse(Scd2State(0L, null, has = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
          msgs.toSeq.sortBy(_.event_id).foreach { m =>
            // three-valued parity: lag IS NULL → change; else
            // lag <> type is NULL when type is null → NOT a change
            val chg = !st.has || st.last == null ||
              (m.event_type != null && st.last != m.event_type)
            if (chg) {
              out += Scd2Out(user, st.version + 1, m.event_type, m.tsMicros)
              st = Scd2State(st.version + 1, m.event_type, has = true)
            } else st = Scd2State(st.version, m.event_type, has = true)
          }
          state.update(st)
          out.iterator
      }
  }

  final case class StatMsg(user_id: Long, valueCents: Long)
  final case class StatsOut(user_id: Long, n: Long, s_cents: Long,
      q_c4: Long)

  /** One valued event for the EWMA fold. */
  final case class EwmaMsg(user_id: Long, event_id: Long, tsMicros: Long,
      value: Double)
  /** One smoothed point: the EWMA after folding this event. */
  final case class EwmaOut(user_id: Long, event_id: Long, ewma: Double)

  /** TRUE recursive EWMA (α=1/4) as per-user streaming state — what
    * the batch events_ewma's 8-term truncation approximates with
    * bounded window memory (truncated tail weight 0.75⁸ ≈ 0.10): the
    * recursion s ← α·x + (1−α)·s is inexpressible as a batch window
    * but is ONE double of state per user here, the textbook
    * mapGroupsWithState shape. Emits the post-fold smoothed value per
    * event. Parity contract (the stats/rolling twins' rule): per-user
    * event-time-ordered arrival — each batch sorts on (ts, event_id)
    * before the fold, so intra-batch disorder is absorbed; state
    * carries across micro-batches (spec-pinned against a reference
    * fold). */
  def ewmaState(s: SparkSession, msgs: Dataset[EwmaMsg]): Dataset[EwmaOut] = {
    import s.implicits._
    msgs.groupByKey(_.user_id)
      .flatMapGroupsWithState[Double, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, ms: Iterator[EwmaMsg], state: GroupState[Double]) =>
          var cur = state.getOption
          val out = ms.toSeq.sortBy(m => (m.tsMicros, m.event_id)).map { m =>
            cur = Some(cur.fold(m.value)(p => 0.25 * m.value + 0.75 * p))
            EwmaOut(user, m.event_id, cur.get)
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** One smoothed + one-step-forecast point from the Holt fold. */
  final case class HoltOut(user_id: Long, event_id: Long, level: Double,
      trend: Double, forecast_next: Double)

  /** Holt's linear-trend double exponential smoothing (α=1/4, β=1/8)
    * as per-user streaming state — the one-step forecaster next to
    * [[ewmaState]]'s level-only smoother: l ← αx + (1−α)(l + b),
    * b ← β(l − l_prev) + (1−β)b, forecast = l + b. A 2-double state
    * vector per key, a LINEAR recursion no batch window expresses;
    * initialized the standard way (l₀ = x₀, b₀ = x₁ − x₀ on the
    * second point, forecasts defined from there). Same ordered-arrival
    * parity contract as the EWMA twin; spec-pinned exactly against a
    * reference fold across micro-batch boundaries. */
  def holtState(s: SparkSession, msgs: Dataset[EwmaMsg]): Dataset[HoltOut] = {
    import s.implicits._
    msgs.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Int, Double, Double), HoltOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, ms: Iterator[EwmaMsg],
            state: GroupState[(Int, Double, Double)]) =>
          val (next, out) = holtFold(user, ms.toSeq,
            state.getOption.getOrElse((0, 0.0, 0.0)))
          state.update(next)
          out.iterator
      }
  }

  /** The Holt fold itself, shared VERBATIM by the streaming state
    * handler above and the registered batch query (Events.holt) so
    * the two can never drift — the nbScore/spellIngest discipline
    * applied to a recurrence. */
  private[graft] def holtFold(user: Long, pts: Seq[EwmaMsg],
      init: (Int, Double, Double))
      : ((Int, Double, Double), Seq[HoltOut]) = {
    var (n, l, b) = init
    val out = Seq.newBuilder[HoltOut]
    pts.sortBy(m => (m.tsMicros, m.event_id)).foreach { m =>
      if (n == 0) { l = m.value; b = 0.0 }
      else if (n == 1) { b = m.value - l; l = m.value }
      else {
        val lp = l
        l = 0.25 * m.value + 0.75 * (l + b)
        b = 0.125 * (l - lp) + 0.875 * b
      }
      n += 1
      if (n >= 2) out += HoltOut(user, m.event_id, l, b, l + b)
    }
    ((n, l, b), out.result())
  }

  /** One observation for the keyed Holt-Winters fold: seq_id is the
    * dense series position (hour index batch-side). */
  final case class HwMsg(key: String, seq_id: Long, value: Double)
  /** One smoothed point: state after this observation plus the
    * one-step-ahead seasonal forecast. */
  final case class HwOut(key: String, seq_id: Long, level: Double,
      trend: Double, seasonal: Double, forecast_next: Double)

  /** Streaming Holt-Winters (additive, period 24, α=1/4 β=1/8
    * γ=1/16): [[holtState]] plus a seasonal component — the smoother
    * that separates "traffic is growing" from "it's 9am". State per
    * key is (n, level, trend, season queue): during warm-up (n<24)
    * the queue buffers raw values; at n=24 it flips to l₀ = mean of
    * the first season, b₀ = 0, sᵢ = cᵢ − l₀ (a purely SEQUENTIAL
    * init — no look-ahead, so the same fold serves stream and batch);
    * from then on the queue's head is always s_{t−24}:
    *   l ← α(x − s_head) + (1−α)(l + b)
    *   b ← β(l − l_prev) + (1−β)b
    *   s ← γ(x − l) + (1−γ)s_head,  queue pops head, appends s
    *   forecast_next = l + b + new head
    * All coefficients dyadic (exact doubles), every op in a fixed
    * order — the batch query's recursive-CTE oracle writes the
    * identical IEEE sequence. Same ordered-arrival parity contract
    * as the EWMA/Holt twins. */
  def hwState(s: SparkSession, msgs: Dataset[HwMsg]): Dataset[HwOut] = {
    import s.implicits._
    msgs.groupByKey(_.key)
      .flatMapGroupsWithState[(Int, Double, Double, Seq[Double]), HwOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, ms: Iterator[HwMsg],
            state: GroupState[(Int, Double, Double, Seq[Double])]) =>
          val (next, out) = hwFold(key, ms.toSeq,
            state.getOption.getOrElse((0, 0.0, 0.0, Vector.empty)))
          state.update(next)
          out.iterator
      }
  }

  /** The Holt-Winters fold, shared VERBATIM by the streaming state
    * handler above and the registered batch query
    * (Events.holtWinters) — the holtFold discipline with a seasonal
    * ring. The warm-up season sum is over INTEGRAL values (hourly
    * counts), so the running double sum is exact and order-free —
    * the oracle's SUM(BIGINT)/24.0 lands on the same bits. */
  private[graft] def hwFold(key: String, pts: Seq[HwMsg],
      init: (Int, Double, Double, Seq[Double]))
      : ((Int, Double, Double, Seq[Double]), Seq[HwOut]) = {
    var (n, l, b, season) = init
    val out = Seq.newBuilder[HwOut]
    pts.sortBy(_.seq_id).foreach { m =>
      if (n < 24) {
        season = season :+ m.value
        n += 1
        if (n == 24) {
          var s0 = 0.0
          season.foreach(s0 += _)
          l = s0 / 24.0
          b = 0.0
          season = season.map(_ - l)
        }
      } else {
        val lp = l
        val sh = season.head
        l = 0.25 * (m.value - sh) + 0.75 * (lp + b)
        b = 0.125 * (l - lp) + 0.875 * b
        val sNew = 0.0625 * (m.value - l) + 0.9375 * sh
        season = season.tail :+ sNew
        n += 1
        out += HwOut(key, m.seq_id, l, b, sNew, l + b + season.head)
      }
    }
    ((n, l, b, season), out.result())
  }

  /** One observation for the keyed CUSUM fold. */
  final case class CusumMsg(key: String, seq_id: Long, tsMicros: Long,
      value: Double)
  /** One scored point: the CUSUM statistic after this observation. */
  final case class CusumOut(key: String, seq_id: Long, cusum: Double,
    alarm: Boolean)

  /** Streaming CUSUM scoring against FROZEN per-key (mean, std) — the
    * anomaly-serving shape (nbScoreIngest's rule: models are FIT by
    * the batch side, streams only score — re-estimating σ per batch
    * would make the alarm threshold drift with traffic): state is two
    * doubles per key, the running C = Σ(z − k) and its prefix min
    * (initialized 0 = the empty prefix, events_cusum's exact
    * semantics), S = C − min ≤0-clamped prefix, alarm at S > h. Same
    * ordered-arrival parity contract as the EWMA/Holt twins;
    * spec-pinned equal to the REGISTERED batch query over the same
    * series split across micro-batches. */
  def cusumScoreState(s: SparkSession, msgs: Dataset[CusumMsg],
      stats: Map[String, (Double, Double)], slack: Double = 0.5,
      threshold: Double = 4.0): Dataset[CusumOut] = {
    import s.implicits._
    msgs.groupByKey(_.key)
      .flatMapGroupsWithState[(Double, Double), CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, ms: Iterator[CusumMsg],
            state: GroupState[(Double, Double)]) =>
          // models are FIT batch-side: an un-fit key must fail loudly,
          // not silently score raw values as z-scores against (0, 1)
          val (mean, sd) = stats.getOrElse(key, sys.error(
            s"cusumScoreState: no frozen stats for key '$key' — " +
              "fit the batch side first (events_cusum's stats pass)"))
          require(sd > 0,
            s"cusumScoreState: frozen std for '$key' must be > 0")
          var (c, mn) = state.getOption.getOrElse((0.0, 0.0))
          val out = ms.toSeq.sortBy(x => (x.tsMicros, x.seq_id)).map { x =>
            val z = (x.value - mean) / sd
            c += z - slack
            if (c < mn) mn = c // mn starts at the empty prefix's 0
            val stat = c - mn
            CusumOut(key, x.seq_id, stat, stat > threshold)
          }
          state.update((c, mn))
          out.iterator
      }
  }

  /** One attribution-relevant event (value pre-converted to exact
    * cents — the events_attribution discipline). */
  final case class AttrMsg(user_id: Long, event_id: Long, tsMicros: Long,
      event_type: String, valueCents: Long)
  /** Touches buffered since the user's last purchase. */
  final case class AttrState(touches: List[(Long, Long, String)])
  /** One credit row: a conversion credited `creditCents` to a touch
    * of `touch_type` under `model`. */
  final case class AttrOut(user_id: Long, touch_type: String,
      model: String, creditCents: Long)

  /** Streaming twin of events_attribution — multi-touch credit
    * assignment as per-user state (the buffered touches since the
    * last purchase ARE the attribution window, so no epochs/windows
    * are recomputed): touches accumulate in state; a purchase drains
    * the buffer, emitting the first/last/linear credit rows with the
    * SAME exact integer-cents arithmetic as the batch query (linear =
    * cents div n, remainder pinned to the first touch). State is
    * bounded by a user's touches between purchases. Parity contract
    * (the scd2/stats twins' rule): per-user event-time-ordered
    * arrival — each batch is sorted on (ts, event_id) before the
    * fold, so intra-batch disorder is absorbed; a touch arriving
    * AFTER its conversion's purchase crossed batches would credit
    * the next conversion instead (disclosed, the streaming-late-data
    * reality every attribution system documents). */
  def attributionState(s: SparkSession, msgs: Dataset[AttrMsg])
      : Dataset[AttrOut] = {
    import s.implicits._
    msgs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttrOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, ms: Iterator[AttrMsg], state: GroupState[AttrState]) =>
          var touches = state.getOption.getOrElse(AttrState(Nil)).touches
          val out = Seq.newBuilder[AttrOut]
          ms.toSeq.sortBy(m => (m.tsMicros, m.event_id)).foreach { m =>
            if (m.event_type == "purchase") {
              val ordered = touches.reverse // buffered newest-first
              val n = ordered.length.toLong
              if (n > 0) {
                val v = m.valueCents
                out += AttrOut(user, ordered.head._3, "first_touch", v)
                out += AttrOut(user, ordered.last._3, "last_touch", v)
                ordered.zipWithIndex.foreach { case ((_, _, tt), i) =>
                  out += AttrOut(user, tt, "linear",
                    v / n + (if (i == 0) v % n else 0L))
                }
              }
              touches = Nil
            } else {
              touches = (m.tsMicros, m.event_id, m.event_type) :: touches
            }
          }
          state.update(AttrState(touches))
          out.result().iterator
      }
  }

  /** Streaming twin of the events_anomaly STATS pass: per-user
    * running (n, Σx, Σx²) carried across batches in exact integer
    * cents (value has 2 dp, so Σx is cents and Σx² is 10⁻⁴ units) —
    * integer state cannot drift however many micro-batches replay
    * the stream, and fold order is irrelevant. Scoring (the squared
    * z-test) joins these stats to candidate events as a periodic
    * batch step — the standard "maintain stats online, score on
    * demand" split for anomaly detection over an unbounded stream.
    * After a full replay, the last emission per user equals the
    * batch aggregate bit-exactly (StreamingSpec).
    *
    * Bounds: state is three longs per user (O(1)); Σx² in 10⁻⁴ units
    * stays under 2⁶³ up to ~10⁹ events per user at this value range —
    * beyond that, shard the per-user state by day the way a real
    * deployment windows its stats. */
  def statsState(s: SparkSession, msgs: Dataset[StatMsg]): Dataset[StatsOut] = {
    import s.implicits._
    msgs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), StatsOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, ms: Iterator[StatMsg],
            state: GroupState[(Long, Long, Long)]) =>
          var (n, sc, q4) = state.getOption.getOrElse((0L, 0L, 0L))
          ms.foreach { m =>
            n += 1; sc += m.valueCents; q4 += m.valueCents * m.valueCents
          }
          state.update((n, sc, q4))
          Iterator.single(StatsOut(user, n, sc, q4))
      }
  }

  final case class RollMsg(user_id: Long, event_id: Long, tsMicros: Long,
      valueCents: Long)
  final case class RollState(ts: Array[Long], cents: Array[Long])
  final case class RollOut(user_id: Long, event_id: Long, n_1h: Long,
      sum_cents: Long)

  /** Streaming twin of Events.rolling: per event, the count and
    * exact-cents sum of its user's events in the trailing hour.
    * State is the user's events still inside the hour (ascending ts)
    * carried across batches; each new event evicts everything older
    * than ts − 1h (the RANGE bound is inclusive — ts == t − 1h stays)
    * and emits the frame. Integer cents, so replay order cannot drift
    * the sum — same discipline as statsState.
    *
    * RANGE-frame tie parity: the batch frame ends at CURRENT ROW in
    * RANGE mode, which takes ALL timestamp peers — so events sharing
    * a ts are ingested as one run and every event in the run emits
    * the same post-run frame. Peers split ACROSS micro-batches break
    * that (the earlier batch can't see the later peer) — same
    * late-data irreversibility trade as funnelState/scd2State,
    * documented not hidden; within-batch ties are exact.
    *
    * Bounds: state is O(events per user-hour) — the data-rate bound
    * every trailing-window stream carries; eviction keeps it tight. */
  def rollingState(s: SparkSession, events: Dataset[RollMsg]): Dataset[RollOut] = {
    import s.implicits._
    val hour = 3600000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RollState, RollOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, msgs: Iterator[RollMsg], state: GroupState[RollState]) =>
          val st = state.getOption.getOrElse(RollState(Array.empty, Array.empty))
          var ts = st.ts.toVector
          var cents = st.cents.toVector
          val out = scala.collection.mutable.ArrayBuffer.empty[RollOut]
          val arr = msgs.toArray.sortBy(m => (m.tsMicros, m.event_id))
          var i = 0
          while (i < arr.length) {
            var j = i
            while (j < arr.length && arr(j).tsMicros == arr(i).tsMicros) j += 1
            val t = arr(i).tsMicros
            (i until j).foreach { x =>
              ts :+= arr(x).tsMicros; cents :+= arr(x).valueCents
            }
            val cut = ts.indexWhere(_ >= t - hour) match {
              case -1 => ts.length
              case c  => c
            }
            ts = ts.drop(cut); cents = cents.drop(cut)
            val n = ts.length.toLong
            val sum = cents.sum
            (i until j).foreach(x => out += RollOut(user, arr(x).event_id, n, sum))
            i = j
          }
          state.update(RollState(ts.toArray, cents.toArray))
          out.iterator
      }
  }

  /** The one sink every ingest twin below rides: an append-mode
    * foreachBatch query checkpointed at `ckpt`, handing `fn` each
    * micro-batch as a plain DataFrame with its epoch id. foreachBatch
    * re-runs a failed batch with the SAME epoch id, which is what
    * the epoch guards (Snapshots.publishEpoch, IndexLifecycle's
    * epochOnce) and emitEpoch key on; the checkpoint is what makes a
    * restarted twin resume at its next epoch, so every twin keeps its
    * own, stable location. */
  private def epochSink(src: DataFrame, ckpt: String)(
      fn: (DataFrame, Long) => Unit): StreamingQuery =
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        fn(batch.toDF(), epoch)
      }
      .start()

  /** Epoch-keyed idempotent emit — the foreachBatch sink discipline:
    * output is partitioned by the micro-batch epoch and written with
    * DYNAMIC partition overwrite, so a replayed epoch (foreachBatch
    * re-runs a failed batch with the same id) replaces its own
    * partition and every other epoch's output is untouched. Each pair
    * surfaces in exactly one epoch (the one its later side arrived
    * in), so the union over partitions is duplicate-free. Also the
    * substring doc store's writer. */
  private def emitEpoch(pairs: DataFrame, epoch: Long, outDir: String): Unit =
    pairs.withColumn("epoch", lit(epoch))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(outDir)

  /** Streaming twin of the dedup_incremental INGEST — the
    * queries.Dedup "100 TB/day" claim is a streaming claim, and this
    * is its shape: a stream of new (doc_id, text) docs drives a
    * foreachBatch sink (Structured Streaming's idiom for a custom
    * lake write) in which each micro-batch (1) APPENDS its shingles
    * and sizes to the maintained ShingleIndex — O(batch) writes, the
    * batch lifecycle's own append — and (2) emits the batch-involved
    * near-dup pairs (batch-vs-index and within-batch), through
    * EXACTLY the read dataflow of the batch query
    * (Dedup.shingleBatchPairs: the micro-batch's shingles are the
    * broadcast probe side, and its trigger-bounded id literal splits
    * off the index's old rows instead of the batch query's doc_id
    * predicate).
    *
    * Append order makes cross-micro-batch pairs exact: a pair whose
    * sides arrive in different micro-batches surfaces when the LATER
    * side arrives — its partner is index state by then — so a full
    * replay emits exactly the batch-involved pair set of the one-shot
    * ingest, whatever the batch boundaries (StreamingSpec asserts
    * equality with shingleIncrementalOf on the same docs, split
    * across micro-batches).
    *
    * An index dir no batch has built yet is built by the first
    * non-empty batch (ShingleIndex.append derives its stop list).
    *
    * Exactly-once: the r8 "keyed on (epoch, pair)" caveat is now the
    * implementation. ShingleIndex.append commits each epoch's
    * shingles and sizes once (the epoch tag sits inside each
    * committed version, so a replay at any crash point appends
    * nothing twice) and the pair emit is epoch-partitioned dynamic
    * overwrite (a replayed micro-batch overwrites its own partition
    * instead of appending duplicates). */
  def shingleIngest(s: SparkSession, docs: DataFrame, indexDir: String,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(docs, outDir + "_ckpt")(
      shingleIngestBatch(s, _, _, indexDir, outDir))

  /** One shingle-ingest micro-batch — factored out so the retry spec
    * can replay an epoch directly. */
  private[graft] def shingleIngestBatch(s: SparkSession, batch: DataFrame,
      epoch: Long, indexDir: String, outDir: String): Unit = {
    val bsh = graft.queries.Dedup.hashedShinglesOf(batch).cache()
    if (!graft.operators.ShingleIndex.append(s, bsh, indexDir, epoch)) {
      bsh.unpersist(); return
    }
    val pairs = shingleBatchPairsOf(s, bsh, batchIds(s, bsh), indexDir)
    emitEpoch(pairs, epoch, outDir)
    Seq(bsh, pairs).foreach(_.unpersist())
    ()
  }

  /** The doc ids of a shingled micro-batch — trigger-bounded, so
    * collected into a plan literal. */
  private def batchIds(s: SparkSession, bsh: DataFrame): Seq[Long] = {
    import s.implicits._
    bsh.select(col("doc_id")).distinct().as[Long].collect().toSeq
  }

  /** The batch-involved near-dup pairs of the shingled micro-batch
    * `bsh` (doc ids `ids`) against the maintained index — the shared
    * probe Dedup.shingleBatchPairs, `bsh` its broadcast side and the
    * index rows outside `ids` its old side. Shared by the shingle,
    * clean and cluster ingests. The result is a materialized cache
    * (Dedup's releasedAfter): the caller unpersists it after its
    * emit, or every epoch of a long-running twin pins one more cached
    * frame. */
  private def shingleBatchPairsOf(s: SparkSession, bsh: DataFrame,
      ids: Seq[Long], indexDir: String): DataFrame =
    graft.queries.Dedup.shingleBatchPairs(s, indexDir, bsh,
      !col("doc_id").isInCollection(ids))

  /** Streaming ingest into the mergeable grid-histogram index
    * (operators.HistIndex): each micro-batch's bucket counts append
    * as ONE committed version through Snapshots.publishEpoch (scope
    * "hist"; a replayed epoch skips the publish — exactly-once, and
    * an empty batch publishes nothing), and
    * HistIndex.quantiles over the merged log answers exact grid
    * quantiles at any moment — the maintained-sketch member of the
    * ingest-twin family (shingle/substring/vector/NB-score/KS).
    * O(batch) per ingest: bucket counts are value-domain-bounded, so
    * a version is at most |grid| rows whatever the batch size. */
  def histIngest(s: SparkSession, values: DataFrame, width: Long,
      root: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(values, root + "_ckpt") { (batch, epoch) =>
      graft.operators.Snapshots.publishEpoch(
        graft.operators.HistIndex.bucketCounts(batch, width), root, "hist",
        epoch)
      ()
    }

  /** Streaming QUANTILE monitor over the maintained grid-histogram
    * index — the READ-path twin [[histIngest]] lacked (r14 #8): each
    * micro-batch (1) appends its bucket counts through
    * Snapshots.publishEpoch under its own scope ("histq" — epoch ids
    * are per-query counters, so sharing a root with histIngest's
    * "hist" epochs must not let one stream's epoch N absorb the
    * other's), then (2) answers HistIndex.quantiles over the
    * WHOLE merged log
    * as of this epoch and emits one row per requested percentile
    * through the epoch-partitioned dynamic-overwrite emit (replayed
    * epoch ⇒ the append is absorbed AND the re-emitted quantiles
    * overwrite their own partition with identical rows — exactly
    * once end to end). The per-epoch read is value-domain-bounded
    * (|grid| rows whatever the ingested volume), so the monitor's
    * cost per epoch is O(batch + grid) — the property that lets a
    * p99-latency dashboard ride a 100 TB event stream. Spec gate:
    * the FINAL epoch's emission equals HistIndex.quantiles computed
    * one-shot on the merged log (StreamingSpec). */
  def histQuantileIngest(s: SparkSession, values: DataFrame, width: Long,
      root: String, outDir: String, ps: Seq[Int])
      : org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(values, root + "_qckpt") { (batch, epoch) =>
      val counts = graft.operators.HistIndex.bucketCounts(batch, width)
      if (!counts.isEmpty) {
        graft.operators.Snapshots.publishEpoch(counts, root, "histq", epoch)
        emitEpoch(
          graft.operators.HistIndex.quantiles(s, root, width, ps),
          epoch, outDir)
      }
    }

  /** Streaming WINSORIZED-metric monitor — q_winsor_mean's robust
    * mean maintained over an unbounded stream at HistIndex grid
    * precision: per-(arm, bucket) state carries counts AND exact
    * in-bucket value sums (both mergeable), so each micro-batch (1)
    * appends its (arm, bucket, c, sy) stats through
    * Snapshots.publishEpoch (scope "winsor" — the histQuantileIngest
    * shared-root rule) and (2) emits HistIndex.winsorMeans over the
    * WHOLE merged log as of this epoch through the epoch-partitioned
    * dynamic-overwrite emit — exactly-once on both surfaces. The
    * winsorized mean is exact GIVEN the grid (values below the p99
    * bucket keep exact sums; the tail caps at the bucket's lower
    * bound — the disclosed HistIndex contract), and per-epoch work is
    * O(batch + arms·grid) — the robust-metric dashboard panel that
    * rides the same 100 TB stream as the raw-mean one. Input
    * contract: columns arm (BIGINT), y (BIGINT ≥ 0). Spec gate: the
    * final epoch's emission equals the one-shot winsorMeans read AND
    * an independently computed grid-winsorization of the raw rows
    * (StreamingSpec). */
  def winsorIngest(s: SparkSession, rows: DataFrame, width: Long,
      root: String, outDir: String, pct: Int = 99)
      : org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(rows, root + "_wckpt") { (batch, epoch) =>
      val stats = graft.operators.HistIndex.armBucketStats(batch, width)
      if (!stats.isEmpty) {
        graft.operators.Snapshots.publishEpoch(stats, root, "winsor", epoch)
        emitEpoch(
          graft.operators.HistIndex.winsorMeans(s, root, width, pct),
          epoch, outDir)
      }
    }

  /** Streaming A/B experiment monitor — the LIVE dashboard twin of
    * the q_srm + q_welch_ttest readout pair: per-arm power sums
    * (n, Σy, Σy² — count/int64/DECIMAL(38,0)) are MERGEABLE, so each
    * micro-batch (1) appends its 2-row partial-sum frame through
    * Snapshots.publishEpoch (scope "abmon") and (2) emits, over the
    * WHOLE merged
    * log as of this epoch, the guardrail-first readout an experiment
    * dashboard shows: n_c/n_t, the SRM χ² against the declared 95%
    * critical value (metrics are INVALID while the flag is up —
    * Fabijan et al. 2019), the raw mean diff and its Welch z — every
    * float the same fixed IEEE expression as the batch queries,
    * ROUND(6). Exactly-once on both surfaces (publishEpoch +
    * dynamic-overwrite emit); per-epoch work is O(batch) + a 2-row
    * read, and the emitted row after ANY prefix of batches equals the
    * one-shot batch computation over the same rows EXACTLY
    * (StreamingSpec) — no sketch, no approximation, because power
    * sums are the sufficient statistic. Input contract: columns
    * arm (BIGINT ∈ {0,1}), y (BIGINT). */
  def abMonitorIngest(s: SparkSession, rows: DataFrame,
      root: String, outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(rows, root + "_abckpt") { (b, epoch) =>
      if (!b.isEmpty) {
        graft.operators.Snapshots.publishEpoch(
          graft.queries.Experiment.ySums(b, col("arm")), root, "abmon",
          epoch)
        emitEpoch(abReadoutOf(
          graft.operators.Snapshots.readLog(s, root)), epoch, outDir)
      }
    }

  /** The monitor's read path: merged per-arm power sums → the
    * guardrail-first readout row. Shared by the streaming emit and
    * the spec's one-shot reference so the two can never drift. */
  private[graft] def abReadoutOf(log: DataFrame): DataFrame = {
    import graft.queries.Experiment._
    val merged = log.groupBy(col("arm"))
      .agg(sum(col("n")).as("n"), sum(col("sy")).as("sy"),
        sum(col("syy")).cast("decimal(38,0)").as("syy"))
    val a = merged.select(col("arm"), col("n"),
      mean(col("sy"), col("n")).as("m"),
      when(col("n") >= 2, varOfMean(col("syy"), col("sy"), col("n")))
        .otherwise(lit(0d)).as("q"))
    val w = a.agg(coalesce(pick("n", 0), lit(0L)).as("n_c"),
      coalesce(pick("n", 1), lit(0L)).as("n_t") +: pivot("m", "q"): _*)
    w.select(col("n_c"), col("n_t"),
      srmChisq(col("n_c"), col("n_t")).as("srm_chisq"), diff("m").as("diff"),
      guardedZ(col("m_t"), col("m_c"), col("q_t"), col("q_c")).as("z"))
      .withColumn("srm_flag", srmFlag(col("srm_chisq")))
      .select(col("n_c"), col("n_t"), col("srm_chisq"),
        col("srm_flag"), col("diff"), col("z"))
  }

  /** Streaming Poisson-bootstrap CI monitor — q_bootstrap_ci's
    * uncertainty estimate maintained over an unbounded stream: the
    * per-replicate partial sums (Σwx, Σw) are MERGEABLE (weights
    * depend only on (row key, replicate), never on batch boundaries),
    * so each micro-batch (1) appends its 64-row partial-sum frame
    * through Snapshots.publishEpoch (scope "bootci") and (2) emits
    * the CI over the MERGED sums as of
    * this epoch through the dynamic-overwrite emit — exactly-once
    * both surfaces, and the emitted interval after any prefix of
    * batches equals the one-shot batch computation over the same
    * rows EXACTLY (StreamingSpec pins it). Index state is 64 rows ×
    * versions (compactable like every snapshot log); per-epoch work
    * is O(batch) + a 64-row read — the "how sure are we about this
    * metric" panel that rides the same stream as the metric.
    * Input contract: columns k (BIGINT row key) and v (BIGINT). */
  def bootCiIngest(s: SparkSession, rows: DataFrame, salt: String,
      root: String, outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(rows, root + "_ckpt") { (b, epoch) =>
      import graft.functions.PoissonBoot
      if (!b.isEmpty) {
        val fanned = b.select(col("k"), col("v"),
          explode(sequence(lit(0L), lit(PoissonBoot.B - 1L))).as("b"))
        val w = PoissonBoot.weight(
          PoissonBoot.uniform(salt, col("k"), col("b")))
        val part = fanned.select(col("b"), col("v"), w.as("w"))
          .groupBy(col("b"))
          .agg(sum(col("w") * col("v")).as("swx"), sum(col("w")).as("sw"),
            sum(col("v")).as("sv"), count(lit(1)).as("n"))
        graft.operators.Snapshots.publishEpoch(part, root, "bootci", epoch)
        // merged replicate sums (64 rows whatever the history) →
        // the exact q_bootstrap_ci rank arithmetic
        val merged = graft.operators.Snapshots.readLog(s, root)
          .groupBy(col("b"))
          .agg(sum(col("swx")).as("swx"), sum(col("sw")).as("sw"),
            sum(col("sv")).as("sv"), sum(col("n")).as("n"))
          .cache()
        val fullM = merged.agg(
          (sum(col("n")) / lit(PoissonBoot.B.toLong)).cast("long").as("n"),
          (round((sum(col("sv")) / lit(PoissonBoot.B.toLong))
            .cast("double")
            / (sum(col("n")) / lit(PoissonBoot.B.toLong)), 6) + 0)
            .as("mean_v"))
        emitEpoch(graft.queries.Experiment.bootInterval(merged, fullM),
          epoch, outDir)
        merged.unpersist()
      }
    }

  /** Fit the frozen baseline for [[ksDriftIngest]]: the reference
    * distribution's counts over a FIXED bucket grid (bucket =
    * value div width — binned-KS is the drift-monitoring standard:
    * the index is bounded by the VALUE DOMAIN, not the corpus, so it
    * broadcasts at any scale), published as one committed snapshot
    * version (fit once, frozen for the monitor's life — the
    * nbScoreIngest model discipline). */
  def ksBaselineFit(s: SparkSession, values: DataFrame, width: Long,
      root: String): Unit = {
    require(width > 0, s"ksBaselineFit: width must be > 0, got $width")
    graft.operators.Snapshots.publish(
      values.select(expr(s"v div $width").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("c0")),
      root)
  }

  /** Streaming two-sample KS drift scoring against the frozen
    * baseline: each micro-batch's value distribution is compared to
    * the fitted reference on the SHARED bucket grid — cumulative
    * counts full-outer-joined per bucket, D = max |cb·n₀ − c₀·n_b|
    * in EXACT integers (the q_ks_test arithmetic), the printed ks
    * one double division ROUND(6) — and one score row
    * (n_batch, n_base, d_num, ks) lands per epoch through the
    * epoch-partitioned dynamic-overwrite emit (replayed epoch ⇒
    * identical row — exactly-once). Empty batches advance the epoch
    * without emitting. Stateless given the model: the baseline grid
    * loads ONCE at stream start and is value-domain-bounded, the
    * per-batch work is one grouped count + a bounded-grid window. */
  def ksDriftIngest(s: SparkSession, values: DataFrame, baselineRoot: String,
      width: Long, outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(width > 0, s"ksDriftIngest: width must be > 0, got $width")
    val base = graft.operators.Snapshots.read(s, baselineRoot).cache()
    epochSink(values, outDir + "_ckpt") { (batch, epoch) =>
      val bc = batch.select(expr(s"v div $width").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("cb"))
      if (!bc.isEmpty) {
        val g = base.join(bc, Seq("bucket"), "full_outer")
          .select(col("bucket"),
            coalesce(col("c0"), lit(0L)).as("c0"),
            coalesce(col("cb"), lit(0L)).as("cb"))
        // bounded band: the bucket grid is value-domain-sized
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("bucket"))
          .rowsBetween(org.apache.spark.sql.expressions
            .Window.unboundedPreceding, 0)
        val tot = g.agg(sum(col("c0")).as("n_base"),
          sum(col("cb")).as("n_batch"))
        val row = g
          .select(col("bucket"), sum(col("c0")).over(w).as("a0"),
            sum(col("cb")).over(w).as("ab"))
          .crossJoin(broadcast(tot))
          .agg(max(col("n_batch")).as("n_batch"),
            max(col("n_base")).as("n_base"),
            max(abs(col("ab") * col("n_base")
              - col("a0") * col("n_batch"))).as("d_num"))
          .select(col("n_batch"), col("n_base"), col("d_num"),
            (round(col("d_num").cast("double")
              / (col("n_batch").cast("double") * col("n_base")), 6) + 0)
              .as("ks"))
        emitEpoch(row, epoch, outDir)
      }
    }
  }

  /** Streaming twin of the dedup_substring_incremental ingest — the
    * substring family's shape of shingleIngest, plus the piece that
    * family uniquely needs: the DOC STORE. The substring index holds
    * window fingerprints, not text, and the exact verify re-compares
    * actual token windows — so each micro-batch (1) appends the batch
    * docs to the lake's document table, (2) appends the batch's
    * window fingerprints to the maintained SubstringIndex (gated by
    * the frozen stop list — O(batch) writes), and (3) emits the
    * batch-involved verified shared-run pairs through EXACTLY the
    * read dataflow of the batch query (Dedup.substringBatchPairs;
    * batch membership via a broadcast semi-join on the micro-batch's
    * trigger-bounded id frame). Cross-micro-batch pairs surface when
    * the later side arrives, so a full replay emits exactly the
    * batch-involved pair set of the one-shot ingest (StreamingSpec).
    *
    * Exactly-once, per surface: the pair emit AND the doc store are
    * epoch-partitioned dynamic overwrite (a replayed micro-batch
    * replaces its own partitions — the doc store must be exact
    * because the verify joins it per candidate side: a duplicated
    * doc row would fan the join out and inflate n_shared), and the
    * window append runs under IndexLifecycle.epochOnce; even a
    * replayed window append would be absorbed by the read side's
    * countDistinct df and min-pos verify. The doc-store BOOTSTRAP
    * (the pre-stream corpus) must use the same epoch layout under a
    * reserved epoch — Dedup.substringDocStoreBootstrap. */
  def substringIngest(s: SparkSession, docs: DataFrame, indexDir: String,
      docStoreDir: String,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(docs, outDir + "_ckpt")(
      substringIngestBatch(s, _, _, indexDir, docStoreDir, outDir))

  /** One substring-ingest micro-batch — factored out so the retry
    * spec can replay an epoch directly. */
  private[graft] def substringIngestBatch(s: SparkSession, batch: DataFrame,
      epoch: Long, indexDir: String, docStoreDir: String,
      outDir: String): Unit = {
    emitEpoch(batch.select(col("doc_id"), col("text")), epoch, docStoreDir)
    val ids = broadcast(batch.select(col("doc_id")).distinct())
    // tokenized doc store covers every candidate doc: index docs
    // for the verify's far side, the just-appended batch for the
    // near side (substringBatchPairs takes ownership of the cache)
    val docsT = graft.queries.Dedup.substringDocsT(
      s.read.parquet(docStoreDir)).cache()
    graft.operators.IndexLifecycle.epochOnce(indexDir, epoch) {
      graft.operators.SubstringIndex.append(s,
        graft.queries.Dedup.substringWindowsOf(
          docsT.join(ids, Seq("doc_id"), "left_semi")), indexDir)
    }
    emitEpoch(graft.queries.Dedup.substringBatchPairs(s, indexDir,
        _.join(ids, Seq("doc_id"), "left_semi"), docsT),
      epoch, outDir)
  }

  /** Streaming twin of the dedup_embedding_incremental ingest — the
    * vector family's shape of shingleIngest: a stream of new
    * (vec_id, v: array<double>) embeddings drives a foreachBatch sink
    * in which each micro-batch (1) APPENDS its vectors to the
    * maintained IVF index under the FROZEN coarse quantizer
    * (IvfIndex.append — assignment is a pure projection, the write is
    * O(batch), and frozen centroids are what make every append
    * query-compatible with everything already indexed) and (2) emits
    * the batch-involved same-cell near-dup pairs from index state
    * alone, through EXACTLY the read dataflow of the batch query
    * (Vectors.embeddingBatchPairs; batch membership via a broadcast
    * semi-join on the micro-batch's trigger-bounded id frame).
    * Cross-micro-batch pairs surface when the later side arrives —
    * same-cell blocking is symmetric, so a full replay emits exactly
    * the batch-involved pair set of the one-shot append
    * (StreamingSpec). Exactly-once as in shingleIngest: epochOnce
    * around the index append, epoch-keyed overwrite emit — and this
    * family's reads (distinct pairs) absorb even a replayed append. */
  def vectorIngest(s: SparkSession, vecs: DataFrame, indexDir: String,
      outDir: String,
      thresh: Double): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(vecs, outDir + "_ckpt")(
      vectorIngestBatch(s, _, _, indexDir, outDir, thresh))

  /** One vector-ingest micro-batch — factored out so the retry spec
    * can replay an epoch directly. */
  private[graft] def vectorIngestBatch(s: SparkSession, batch: DataFrame,
      epoch: Long, indexDir: String, outDir: String,
      thresh: Double): Unit = {
    graft.operators.IndexLifecycle.epochOnce(indexDir, epoch) {
      graft.operators.IvfIndex.append(s,
        batch.select(col("vec_id"), col("v"))
          .withColumn("n2", graft.functions.VectorExprs.norm2(col("v"))),
        indexDir)
    }
    val ids = broadcast(batch.select(col("vec_id")).distinct())
    emitEpoch(graft.queries.Vectors.embeddingBatchPairs(s, indexDir,
        _.join(ids, Seq("vec_id"), "left_semi"), thresh),
      epoch, outDir)
  }

  /** Streaming twin of quality_nb_apply's serving path — the quality
    * gate a 100 TB/day ingest runs per micro-batch: each batch of
    * (doc_id, text) documents is scored against the PERSISTED
    * nbModelOf state (fit stays a nightly batch job; the stream never
    * refits) through EXACTLY the batch scorer's dataflow
    * (Pipeline.nbScoredFrom — the ≤512-row model and the prior read
    * once, each doc scored in-row in one pass over the batch).
    * Output (doc_id, label, matched_tokens, score_micro) is
    * epoch-partitioned dynamic overwrite (emitEpoch), so a replayed
    * micro-batch replaces its own partition — exactly-once without an
    * index append (scoring is stateless given the frozen model, the
    * simplest member of the ingest-twin family). */
  def nbScoreIngest(s: SparkSession, docs: DataFrame, modelIdx: String,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(docs, outDir + "_ckpt")(nbScoreBatch(s, _, _, modelIdx, outDir))

  /** One NB-scoring micro-batch — factored out so the retry spec can
    * replay an epoch directly. */
  private[graft] def nbScoreBatch(s: SparkSession, batch: DataFrame,
      epoch: Long, modelIdx: String, outDir: String): Unit =
    emitEpoch(graft.queries.Pipeline.nbScoredFrom(s, modelIdx, batch),
      epoch, outDir)

  /** Streaming Gopher screening — the nbScoreIngest discipline for
    * the rule filter: every micro-batch runs EXACTLY the registered
    * batch query's rule dataflow (Quality.gopherFrom — integer-ratio
    * compares, so stream flags can never drift from batch flags by
    * even an ulp), emitting the per-doc rule flags + keep verdict.
    * Stateless (the rules read only the doc); exactly-once is the
    * epoch-partitioned dynamic-overwrite emit. */
  def gopherIngest(s: SparkSession, docs: DataFrame,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(docs, outDir + "_ckpt") { (batch, epoch) =>
      emitEpoch(graft.queries.Quality.gopherFrom(batch), epoch, outDir)
    }

  /** Streaming tokenization against the FROZEN tokenizer model — the
    * nbScoreIngest discipline applied to the tokenizer family: the
    * persisted TokenizerIndex merge table (fit once, kept for the
    * life of the training run) is loaded ONCE at stream start and
    * broadcast-served to every micro-batch through the same
    * wordpieceStatsFrom dataflow the registered batch query runs, so
    * ingest-time token accounting can never drift from the batch
    * numbers. Stateless given the model; exactly-once needs only the
    * epoch-partitioned dynamic-overwrite emit (a replayed epoch
    * rewrites its own partition to identical rows). */
  def tokenizeIngest(s: SparkSession, docs: DataFrame, modelIdx: String,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val vocab = graft.operators.TokenizerIndex.loadVocabulary(s, modelIdx)
    epochSink(docs, outDir + "_ckpt") { (batch, epoch) =>
      emitEpoch(graft.queries.Text.wordpieceStatsFrom(s, batch, vocab),
        epoch, outDir)
    }
  }

  /** Streaming ingest into a versioned lake table — each micro-batch
    * becomes one committed append-log version (operators.Snapshots:
    * commit marker written last, torn writes invisible), so a reader
    * at any moment sees a consistent prefix of the stream and can
    * time-travel to any earlier version boundary. Exactly-once via
    * Snapshots.publishEpoch (scope "ingest"): a replayed micro-batch
    * (same epoch id) skips the publish instead of appending a
    * duplicate version, and an empty batch publishes none — the
    * versioned-table member of the ingest-twin family
    * (shingle/substring/vector/NB-score). O(batch) per publish,
    * never an O(table) rewrite. */
  def snapshotIngest(s: SparkSession, rows: DataFrame,
      root: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(rows, root + "_ckpt")(snapshotIngestBatch(_, _, root))

  /** LAKE-TO-LAKE streaming pipeline — the streaming materialized
    * view: tail an upstream snapshot log through the graftsnap source
    * and publish each micro-batch's TRANSFORMED rows as one committed
    * version of a downstream log root. Exactly-once composes end to
    * end from the two halves it already has: upstream, the source's
    * offset WAL over immutable versions (a replayed batch re-plans
    * the same files); downstream, Snapshots.publishEpoch (a
    * replayed epoch skips; an all-filtered batch publishes no
    * version). Restart either side and no row is lost or
    * doubled — and the downstream root is itself a first-class lake
    * table (time travel, compaction, further pipes), so pipelines
    * chain. `transform` runs per micro-batch on a plain DataFrame:
    * filters/projections/enrichment joins compose freely; cross-batch
    * aggregation belongs to a downstream readLog query or a
    * compaction, exactly as in Delta's medallion layering.
    *
    * `pipeId` scopes BOTH the exactly-once epoch and the checkpoint:
    * several pipes may fan into one downstream root (the multi-writer
    * ingest shape), and epoch ids are per-query counters — with a
    * shared scope pipe B's epoch 0 would see pipe A's epoch 0 and
    * silently swallow its own first batch. Defaults to a sanitized
    * form of the source root: unique per upstream, stable across
    * restarts. Fan-in publishes interleave via ordinary version
    * allocation — union semantics make every interleaving correct. */
  def lakePipe(s: SparkSession, srcRoot: String, dstRoot: String,
      pipeId: Option[String] = None)(transform: DataFrame => DataFrame):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val pid = pipeId.getOrElse(srcRoot.replaceAll("[^A-Za-z0-9_-]", "-"))
    epochSink(s.readStream.format("graftsnap").load(srcRoot),
        s"${dstRoot}_ckpt_$pid") { (batch, epoch) =>
      graft.operators.Snapshots.publishEpoch(transform(batch), dstRoot,
        pid, epoch)
      ()
    }
  }

  /** One snapshot-ingest micro-batch — factored out so the retry spec
    * can replay an epoch directly. */
  private[graft] def snapshotIngestBatch(batch: DataFrame, epoch: Long,
      root: String): Unit = {
    graft.operators.Snapshots.publishEpoch(batch, root, "ingest", epoch)
    ()
  }

  /** Streaming twin of Snapshots.publishExpect — CHECK expectations
    * enforced AT INGEST, the DLT pipeline shape: every micro-batch
    * passes through the same named predicates, passing rows append to
    * the log, violations quarantine into `root/_quarantine` tagged
    * with what they failed (mode "drop" counts them away instead;
    * "fail" is deliberately unsupported here — killing a continuous
    * ingest on one bad row is an operational anti-pattern, batch
    * admission is where fail belongs). Exactly-once is the
    * IndexLifecycle.epochOnceFor marker scoped by `streamId`, not
    * Snapshots.publishEpoch: it wraps BOTH the main and quarantine
    * versions, with epochOnce's documented residual window. */
  def expectIngest(s: SparkSession, rows: DataFrame, root: String,
      expectations: Seq[(String, org.apache.spark.sql.Column)],
      streamId: String, mode: String = "quarantine")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(mode == "quarantine" || mode == "drop",
      s"expectIngest mode must be quarantine|drop: '$mode'")
    epochSink(rows, s"${root}_ckpt_$streamId") { (batch, epoch) =>
      graft.operators.IndexLifecycle.epochOnceFor(root, streamId, epoch) {
        graft.operators.Snapshots
          .publishExpect(batch, root, expectations, mode)
        ()
      }
    }
  }

  /** MULTI-WRITER streaming ingest: any number of independent
    * streaming queries append to ONE log root concurrently — the
    * fan-in shape a large ingest actually has (one table, many
    * producers, no coordinator). Every Snapshots writer allocates its
    * version through the claim-marker commit (two writers can never
    * own one version, and union semantics make every commit
    * interleaving correct), so each stream's publish lands at a
    * distinct version; exactly-once is tracked PER STREAM: epoch ids
    * are per-query counters, so Snapshots.publishEpoch is scoped by
    * `streamId` (two streams' epoch 0 are different facts; one shared
    * scope would wrongly swallow the second stream's first batch).
    * Each stream keeps its own checkpoint dir for the same reason. */
  def snapshotIngestConcurrent(s: SparkSession, rows: DataFrame,
      root: String, streamId: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(rows, s"${root}_ckpt_$streamId")(
      snapshotIngestConcurrentBatch(_, _, root, streamId))

  /** One multi-writer micro-batch — factored out for the retry spec. */
  private[graft] def snapshotIngestConcurrentBatch(batch: DataFrame,
      epoch: Long, root: String, streamId: String): Unit = {
    graft.operators.Snapshots.publishEpoch(batch, root, streamId, epoch)
    ()
  }

  /** Streaming CDC ingest into the MERGE-ON-READ log: rows carry an
    * `_op` column ('u' upsert / 'd' delete) plus the merge key and
    * payload; each micro-batch publishes its upserts as one append
    * version and its delete keys as one tombstone version
    * (Snapshots.publishDeletes), so readLogMerged serves latest-wins
    * state per key and compactLogMerged folds the history away —
    * the change-data shape (Debezium-style op streams) landing as
    * O(batch) appends, never an O(table) rewrite. Tombstones publish
    * AFTER upserts, so a key both upserted and deleted within one
    * batch resolves to deleted.
    *
    * Exactly-once via IndexLifecycle.epochOnce wrapping BOTH versions
    * (not publishEpoch), with the usual residual window
    * (crash between the publishes and the marker) absorbed BY
    * CONSTRUCTION here: replaying the epoch re-appends the same keys
    * at higher versions, and latest-wins over equal rows yields the
    * identical merged read — replay idempotence is spec-pinned
    * (SnapshotSpec), which is exactly why CDC rides the MoR log
    * rather than the raw append union. */
  def cdcIngest(s: SparkSession, rows: DataFrame, root: String,
      key: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(rows, root + "_ckpt")(cdcIngestBatch(_, _, root, key))

  /** One CDC micro-batch — factored out so the retry spec can replay
    * an epoch directly. Empty halves publish nothing (no version
    * clutter from one-sided batches). */
  private[graft] def cdcIngestBatch(batch: DataFrame, epoch: Long,
      root: String, key: String): Unit = {
    import org.apache.spark.sql.functions.col
    graft.operators.IndexLifecycle.epochOnce(root, epoch) {
      val ups = batch.filter(col("_op") === "u").drop("_op")
      if (!ups.isEmpty) graft.operators.Snapshots.publishAppend(ups, root)
      val dels = batch.filter(col("_op") === "d").select(col(key))
      if (!dels.isEmpty) graft.operators.Snapshots.publishDeletes(dels, root)
    }
  }

  /** Streaming twin of corpus_clean — the COMPLETE cleaning pipeline
    * a 100 TB/day ingest runs per micro-batch, composed from the
    * family's maintained lake state: (1) the stateless gates (langid
    * / quality / repetition) plus the learned NB gate scored in-row
    * against the PERSISTED nbModelOf state (the fit stays a nightly
    * batch job, exactly like nbScoreIngest) — Pipeline.cleanGates,
    * the ONE Text.docFeatures projection corpus_clean itself reads,
    * so "shared verbatim" is the shared projection; (2) exact dedup
    * against a maintained keeper index — md5 of the normalized text
    * (128-bit, collision-negligible at any corpus size; the index row
    * is a 32-char digest + keeper id instead of the text itself, and
    * the BATCH drives the index join — per-ingest cost O(batch), the
    * corpus-sized index is never a build side); (3) near-dedup of the
    * gated survivors through the maintained ShingleIndex and the
    * shared probe Dedup.shingleBatchPairs (the dedup_incremental read
    * dataflow, shared verbatim with shingleIngest: the gated batch's
    * shingles broadcast against a scan of the index's old rows —
    * O(batch × collisions)), the drop set read off its materialized
    * pairs;
    * (4) an epoch-partitioned emit of every batch doc's flag row in
    * the batch corpus_clean query's exact schema, so a downstream
    * consumer cannot tell which path produced a row.
    *
    * Index bootstrap: the shingle index is BUILT by the first
    * non-empty gated batch's append — which derives the stop list
    * there, the dedup_incremental contract (refreshing it is
    * ShingleIndex.compact) — and appended thereafter. With
    * micro-batches arriving in doc_id order, a one-shot ingest of the
    * same docs emits identical rows, and a
    * single-batch ingest over a whole corpus is row-equal to the
    * registered corpus_clean query itself (both asserted in
    * StreamingSpec).
    *
    * Exactly-once: both indexes are graftsnap logs whose appends
    * commit through Snapshots.publishEpoch (ShingleIndex's tables
    * under scope "shidx", the exact `(h, keeper)` log at
    * `<exactIdx>/hashes` under scope "exact"): the epoch tag sits
    * inside each committed version, so a replay at any crash point
    * appends nothing twice. The emit is epoch-partitioned dynamic
    * overwrite, and the exact index stores (h, keeper) rather than a
    * bare membership set precisely so a REPLAYED epoch — whose first
    * attempt already appended this batch's new hashes — recomputes
    * identical flags: first-wins keeper resolution reads its own
    * append as "this batch's keeper" and lands on the same
    * verdicts. */
  def cleanIngest(s: SparkSession, docs: DataFrame, exactIdx: String,
      shingleIdx: String, nbModelIdx: String,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(docs, outDir + "_ckpt")(cleanIngestBatch(s, _, _, exactIdx,
      shingleIdx, nbModelIdx, outDir))

  /** The exact-dedup keeper index layout `(h, keeper)` as written —
    * readers declare it (an inferring read is a footer job per
    * micro-batch). */
  private[graft] val ExactIndexSchema: StructType = StructType(Seq(
    StructField("h", StringType), StructField("keeper", LongType)))

  /** One cleaning micro-batch — factored out so the retry spec can
    * replay an epoch directly. */
  private[graft] def cleanIngestBatch(s: SparkSession, batch: DataFrame,
      epoch: Long, exactIdx: String, shingleIdx: String, nbModelIdx: String,
      outDir: String): Unit = {
    import graft.queries.{Dedup, Pipeline}
    import graft.operators.{IndexLifecycle, ShingleIndex, Snapshots}
    import s.implicits._
    val b = batch.cache()
    // stateless and learned gates — corpus_clean's own projection
    val gates = Pipeline.cleanGates(s, nbModelIdx, b)
    // exact dedup against the maintained keeper index
    val hashDir = s"$exactIdx/hashes"
    val seen =
      if (Snapshots.latestVersion(hashDir).isDefined)
        s.read.schema(ExactIndexSchema)
          .parquet(Snapshots.logDataDirs(hashDir, None): _*)
      else s.createDataFrame(s.sparkContext.emptyRDD[Row], ExactIndexSchema)
    val hashed = b.select(col("doc_id"),
      md5(lower(trim(col("text")))).as("h"))
    val batchKeeper = hashed.groupBy(col("h"))
      .agg(min(col("doc_id")).as("batch_keeper"))
    // the index holds each h once (an epoch appends only absent
    // hashes, exactly once), so the join keeps one row per doc
    val withIdx = hashed
      .join(batchKeeper, Seq("h"))
      .join(seen.withColumnRenamed("keeper", "idx_keeper"), Seq("h"), "left")
      .cache()
    Snapshots.publishEpoch(
      IndexLifecycle.laidOut(withIdx.filter(col("idx_keeper").isNull)
          .select(col("h"), col("batch_keeper").as("keeper")).distinct(),
        ExactIndexSchema),
      hashDir, "exact", epoch)
    // FIRST-WINS keeper semantics (arrival order): a doc is an exact
    // dup iff its hash was already indexed by an earlier epoch (any
    // keeper) or a lower-id doc holds it within this batch — so a
    // later-arriving copy drops even when its doc_id is SMALLER than
    // the indexed keeper's. Replay-idempotent: a replayed epoch reads
    // its own appended (h, batch_keeper) rows and computes identical
    // flags. Equals the batch query's min-id keeper exactly when
    // arrival order follows doc_id order (the ingest contract).
    val ex = withIdx.select(col("doc_id"),
      (col("doc_id") === coalesce(col("idx_keeper"), col("batch_keeper")))
        .as("not_exact_dup"))
    val flags = gates.join(ex, Seq("doc_id")).cache()
    // the gated ids are trigger-bounded: a plan literal that both
    // selects the docs to shingle and splits the index into the
    // probe's old side
    val gated = flags.filter(col("lang_ok") && col("quality_ok")
        && col("repetition_ok") && col("nb_ok") && col("not_exact_dup"))
      .select(col("doc_id")).as[Long].collect().toSeq
    val bsh = Dedup.hashedShinglesOf(
      b.filter(col("doc_id").isInCollection(gated))).cache()
    val pairs =
      if (ShingleIndex.append(s, bsh, shingleIdx, epoch))
        shingleBatchPairsOf(s, bsh, gated, shingleIdx)
      else {
        // nothing gated yet anywhere — no index, no candidates
        Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard")
      }
    // near-dup drops, first-wins like the exact gate, read off the
    // materialized pairs: a batch doc drops as doc_b of any pair, or
    // as doc_a of a pair with an earlier-indexed doc (an out-of-order
    // arrival can be the smaller id)
    val inBatch = gated.toSet
    val nd = pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)]
      .collect().flatMap { case (a, d) =>
        if (inBatch(d)) Some(d) else if (inBatch(a)) Some(a) else None
      }.distinct.toSeq
    val ndDrop = col("doc_id").isInCollection(nd)
    emitEpoch(
      flags.select(col("doc_id"), col("lang_ok"), col("quality_ok"),
        col("repetition_ok"), col("nb_ok"), col("not_exact_dup"),
        ndDrop.as("near_dup_drop"),
        (col("lang_ok") && col("quality_ok") && col("repetition_ok")
          && col("nb_ok") && col("not_exact_dup") && !ndDrop).as("keep")),
      epoch, outDir)
    Seq(withIdx, flags, bsh, b, pairs).foreach(_.unpersist())
    ()
  }

  /** Streaming cluster maintenance — the ingest twin of
    * dedup_clusters_incremental, implemented as a LOG-STRUCTURED
    * UNION-FIND over the lake: per micro-batch the work is O(batch),
    * never an O(state) rewrite. State under `clusterDir`:
    *
    *   assignments/  (doc_id, lbl) — appended when a doc first
    *                 enters the near-dup graph, labeled with its
    *                 component root AT APPEND TIME; never rewritten
    *   remap/        (lbl, root)  — appended when an epoch's pairs
    *                 merge two existing components: the losing
    *                 CURRENT root maps to the new min root
    *
    * A label is remapped at most once (an entry's key is a current
    * root being merged away, and resolution never yields it again),
    * so remap/ is an append-only forest whose chains
    * (10 → 5 → 1 after two merges) the reader resolves transitively
    * — remap rows exist only per cluster-MERGE event, a vanishing
    * fraction of the corpus, so the driver-side resolve is the same
    * bounded work as the batch query's union-find. Each micro-batch:
    * append batch shingles to the maintained ShingleIndex (the
    * shingleIngest discipline, frozen stop list), read batch-involved
    * pairs through the shared Dedup.shingleBatchPairs, resolve the
    * endpoints' labels through assignments + the remap chain,
    * union-find the bounded label-pair set, and append the new remap
    * and assignment rows.
    *
    * Exactly-once: ShingleIndex.append commits each epoch's shingles
    * and sizes once (the epoch tag sits inside each committed
    * version — the shingleIngest discipline). The state appends run
    * under IndexLifecycle.epochOnce and are additionally SELF-HEALING
    * across a torn marker: a replay resolves endpoints through the
    * state its first attempt already appended, the union-find finds
    * every pair already merged, and both append sets come back
    * empty. */
  def clusterIngest(s: SparkSession, docs: DataFrame, indexDir: String,
      clusterDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(docs, clusterDir + "_ckpt")(
      clusterIngestBatch(s, _, _, indexDir, clusterDir))

  /** One cluster-maintenance micro-batch — factored out so the retry
    * spec can replay an epoch directly. */
  private[graft] def clusterIngestBatch(s: SparkSession, batch: DataFrame,
      epoch: Long, indexDir: String, clusterDir: String): Unit = {
    import graft.operators.{IndexLifecycle, LakeFs}
    import s.implicits._
    val bsh = graft.queries.Dedup.hashedShinglesOf(batch).cache()
    if (!graft.operators.ShingleIndex.append(s, bsh, indexDir, epoch)) {
      bsh.unpersist(); return
    }
    val batchPairs = shingleBatchPairsOf(s, bsh, batchIds(s, bsh), indexDir)
    val pairs = batchPairs.select(col("doc_a").as("da"), col("doc_b").as("db"))
    val asg =
      if (LakeFs.exists(s"$clusterDir/assignments"))
        s.read.parquet(s"$clusterDir/assignments")
      else Seq.empty[(Long, Long)].toDF("doc_id", "lbl")
    val chain = resolvedRemap(s, clusterDir)
    val chainDf = broadcast(chain.toSeq.toDF("lbl", "root"))
    // endpoint labels: assignment if present (resolved through the
    // remap chain), else self
    val ends = pairs.select(col("da").as("doc_id"))
      .unionByName(pairs.select(col("db").as("doc_id"))).distinct()
    val endLbl = ends.join(asg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("lbl"))
      .join(chainDf, Seq("lbl"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("lbl")).as("lbl"))
      .cache()
    val lblPairs = pairs
      .join(endLbl.select(col("doc_id").as("da"), col("lbl").as("la")),
        Seq("da"))
      .join(endLbl.select(col("doc_id").as("db"), col("lbl").as("lb")),
        Seq("db"))
      .select(col("la"), col("lb"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val uf = new graft.queries.Dedup.MinRootUnion(lblPairs)
    // remap rows exist only for PERSISTED roots merged away — a new
    // doc's self-label needs none (its assignment row is written
    // post-merge below), which is what keeps remap/ sized by
    // cluster-merge events, not by docs
    val persistedLbls = asg.join(ends, Seq("doc_id"), "left_semi")
      .select(col("lbl")).distinct()
      .collect().map(r => chain.getOrElse(r.getLong(0), r.getLong(0))).toSet
    val newRemap = uf.remap(persistedLbls.contains)
    // docs entering the graph this epoch, labeled with their
    // post-merge root (bounded: pair endpoints)
    val newAsg = endLbl.join(asg, Seq("doc_id"), "left_anti")
      .collect().map(r => (r.getLong(0), uf.find(r.getLong(1))))
    IndexLifecycle.epochOnce(clusterDir, epoch) {
      if (newRemap.nonEmpty)
        newRemap.toDF("lbl", "root").coalesce(1)
          .write.mode("append").parquet(s"$clusterDir/remap")
      if (newAsg.nonEmpty)
        newAsg.toSeq.toDF("doc_id", "lbl").coalesce(1)
          .write.mode("append").parquet(s"$clusterDir/assignments")
    }
    Seq(bsh, batchPairs, endLbl).foreach(_.unpersist())
    ()
  }

  /** Streaming decontamination — the ingest-time eval-leak gate:
    * every micro-batch of documents is checked against the FIXED
    * eval set through EXACTLY the registered decontaminate_substring
    * dataflow (Dedup.substringContaminationOf, shared verbatim — the
    * eval windows broadcast, the batch's window stream meets them
    * map-side, candidates get the raw-token verify), and each batch
    * doc's (n_shared_runs, contaminated) row lands epoch-partitioned.
    * Stateless given the eval set — so exactly-once needs only the
    * dynamic-overwrite emit, like nbScoreIngest. The eval id list is
    * collected once at stream start (an eval set is bounded by
    * definition); batch doc ids must be disjoint from it. */
  def decontaminateIngest(s: SparkSession, docs: DataFrame,
      evalDocs: DataFrame,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val ev = evalDocs.select(col("doc_id"), col("text")).cache()
    val evalIds = ev.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSeq
    epochSink(docs, outDir + "_ckpt")(
      decontaminateBatch(s, _, _, ev, evalIds, outDir))
  }

  /** One decontamination micro-batch — factored out so the retry
    * spec can replay an epoch directly. */
  private[graft] def decontaminateBatch(s: SparkSession, batch: DataFrame,
      epoch: Long, ev: DataFrame, evalIds: Seq[Long],
      outDir: String): Unit = {
    // a colliding id would route the batch doc to the eval side (its
    // verdict silently dropped) and double its token rows in the
    // verify joins — fail loudly instead
    val clash = batch.select(col("doc_id"))
      .filter(col("doc_id").isInCollection(evalIds)).limit(1).collect()
    require(clash.isEmpty,
      s"decontaminateIngest: batch doc_id ${clash.head.getLong(0)} " +
        "collides with an eval id")
    emitEpoch(graft.queries.Dedup.substringContaminationOf(
        batch.select(col("doc_id"), col("text")).unionByName(ev),
        col("doc_id").isInCollection(evalIds)),
      epoch, outDir)
  }

  /** Streaming perceptual-dedup ingest — the fingerprint family's
    * twin of shingleIngest, shared across modalities: each
    * micro-batch of (doc_id, data) payloads is fingerprinted by the
    * caller-supplied codec stage (Binary.ImageCodec.hashImages /
    * AudioCodec.fingerprintAudios / VideoCodec.fingerprintVideos —
    * one ingest shape, three codecs), the (doc_id, fp) rows APPEND to
    * a maintained fingerprint index (O(batch) writes — a 64-bit row
    * per payload, the cheapest index in the lake), and batch-involved
    * near-pairs emit through HammingLsh.batchPairs — new-vs-index +
    * new-vs-new banded equi-joins, never an index self-join.
    * Cross-micro-batch pairs surface when the later side arrives.
    *
    * Exactly-once: the index append runs under epochOnce and the
    * pair emit is epoch-partitioned dynamic overwrite; even the
    * torn-marker replay's duplicate index rows are absorbed at read
    * (identical (pair, ha, hb) candidates collapse in the distinct —
    * verified in the spec). */
  def fingerprintIngest(s: SparkSession, docs: DataFrame,
      fingerprint: (SparkSession, DataFrame) => DataFrame,
      hashCol: String, indexDir: String,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(docs, outDir + "_ckpt")(fingerprintIngestBatch(s, _, _,
      fingerprint, hashCol, indexDir, outDir))

  /** One fingerprint-ingest micro-batch — factored out so the retry
    * spec can replay an epoch directly. */
  private[graft] def fingerprintIngestBatch(s: SparkSession,
      batch: DataFrame, epoch: Long,
      fingerprint: (SparkSession, DataFrame) => DataFrame,
      hashCol: String, indexDir: String, outDir: String): Unit = {
    import graft.operators.{HammingLsh, IndexLifecycle}
    val hashes = fingerprint(s, batch).cache()
    IndexLifecycle.epochOnce(indexDir, epoch) {
      hashes.write.mode("append").parquet(s"$indexDir/hashes")
    }
    val idx = s.read.parquet(s"$indexDir/hashes")
    val ids = broadcast(hashes.select(col("doc_id")).distinct())
    emitEpoch(HammingLsh.batchPairs(
        idx.join(ids, Seq("doc_id"), "left_semi"),
        idx.join(ids, Seq("doc_id"), "left_anti"),
        "doc_id", hashCol),
      epoch, outDir)
    hashes.unpersist()
    ()
  }

  /** Current cluster assignments — every doc in the near-dup graph
    * with its component root, the remap chain resolved. The same
    * (doc_id, cluster_id) surface as dedup_clusters. */
  def clusterState(s: SparkSession, clusterDir: String): DataFrame = {
    import graft.operators.LakeFs
    import s.implicits._
    val asg =
      if (LakeFs.exists(s"$clusterDir/assignments"))
        s.read.parquet(s"$clusterDir/assignments")
      else Seq.empty[(Long, Long)].toDF("doc_id", "lbl")
    val chainDf = broadcast(
      resolvedRemap(s, clusterDir).toSeq.toDF("lbl", "root"))
    asg.join(chainDf, Seq("lbl"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("lbl")).as("cluster_id"))
  }

  /** Offline compaction for the cluster state — the O(state) job the
    * per-epoch O(batch) appends defer: fold the remap chain INTO the
    * assignment rows (every doc re-labeled with its fully-resolved
    * root) and drop remap/ — after the fold, reads resolve through an
    * empty chain and later ingests start new, shallow chains.
    * Published via the IndexLifecycle aside-and-rename swap so readers
    * never see a half-folded state; clusterState before ==
    * clusterState after (spec-pinned). */
  def compactClusterState(s: SparkSession, clusterDir: String): Unit = {
    import graft.operators.{IndexLifecycle, LakeFs}
    if (!LakeFs.exists(s"$clusterDir/assignments")) return
    val folded = clusterState(s, clusterDir)
      .select(col("doc_id"), col("cluster_id").as("lbl"))
      .cache()
    folded.count()
    // republish carries the applied-epoch markers through the swap
    IndexLifecycle.republish(clusterDir) { tmp =>
      folded.coalesce(1).write.parquet(s"$tmp/assignments")
    }
    folded.unpersist()
    ()
  }

  /** Streaming fuzzy record linkage — er_fuzzy_names' ingest twin,
    * fingerprintIngest's shape for edit distance: each micro-batch
    * (1) appends the names it is FIRST to see to a maintained lake
    * index (epoch-gated, anti-joined against the index so hot names
    * recurring in every batch never grow it) tagged with their
    * first-seen epoch, and (2) emits the fuzzy pairs whose second
    * member this epoch introduced, via Linkage.batchFuzzyPairs over
    * the first-seen split — a pair surfaces EXACTLY once, however
    * often its member names recur in later batches, and an epoch
    * replay recomputes the identical split from the index's own
    * first-seen tags (replay-stable by construction: the emit never
    * classifies against "what this batch carried" but against "what
    * the index says was first seen now"). Per-batch cost is the
    * batch's block fan-out against the index, never an index
    * self-join. */
  def linkIngest(s: SparkSession, names: DataFrame, indexDir: String,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(names, outDir + "_ckpt")(
      linkIngestBatch(s, _, _, indexDir, outDir))

  /** One linkage-ingest micro-batch — factored out so the retry spec
    * can replay an epoch directly. */
  private[graft] def linkIngestBatch(s: SparkSession, batch: DataFrame,
      epoch: Long, indexDir: String, outDir: String): Unit = {
    import graft.operators.{IndexLifecycle, LakeFs}
    val names = batch.select(col("name")).distinct().cache()
    // an EMPTY micro-batch (triggers fire on the clock, not on data)
    // must not touch the index: on a fresh stream its append would
    // write a zero-file dir and the unconditional $indexDir/names
    // read below would fail schema inference (ADVICE r13). Nothing
    // is lost by skipping — no fresh names, no pairs to emit — and a
    // replay of the same empty epoch skips identically.
    if (names.isEmpty) { names.unpersist(); return }
    IndexLifecycle.epochOnce(indexDir, epoch) {
      // only names the index has never seen are appended — a name
      // recurring across batches neither grows the index nor (below)
      // re-emits its pairs. The anti-join also absorbs a torn-marker
      // replay: the first attempt's rows are already there.
      val existing =
        if (LakeFs.exists(s"$indexDir/names"))
          s.read.parquet(s"$indexDir/names").select(col("name"))
        else names.filter(lit(false))
      names.join(existing, Seq("name"), "left_anti")
        .withColumn("first_epoch", lit(epoch))
        .write.mode("append").parquet(s"$indexDir/names")
    }
    // classify off the INDEX's first-seen tags, not the batch: an
    // epoch replay (marker present, append skipped) recomputes the
    // identical fresh/known split
    val firstSeen = s.read.parquet(s"$indexDir/names")
      .groupBy(col("name")).agg(min(col("first_epoch")).as("e0"))
    emitEpoch(graft.queries.Linkage.batchFuzzyPairs(
        firstSeen.filter(col("e0") === epoch).select(col("name")),
        firstSeen.filter(col("e0") < epoch).select(col("name"))),
      epoch, outDir)
    names.unpersist()
    ()
  }

  /** Streaming triangle maintenance over an EDGE stream — the
    * incremental twin of q_triangles: a stream of (x, y) co-purchase
    * pairs drives a foreachBatch sink that (1) canonicalizes and
    * dedups the batch against the maintained edge index (anti-join —
    * an edge seen twice is a no-op), (2) counts ONLY the triangles
    * the new edges create (Graph.triangleDelta's ≥1-new-edge
    * decomposition: batch-drives-index joins, O(batch·degree), the
    * old graph is probed and never recounted), and (3) appends the
    * new edges + a per-epoch delta row to the lake.
    *
    * Exactly-once without recount: the delta is a deterministic
    * function of (index state, batch); the stats append commits
    * FIRST through Snapshots.publishEpoch (scope "tri", no crash
    * window), the edge append last — a replay after the stats commit
    * skips the stats and re-derives the edge append from the
    * anti-join (edges already in → empty batch → no-op), so every
    * crash point lands on the same totals. */
  def triangleIngest(s: SparkSession, edges: DataFrame,
      indexDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(edges, indexDir + "_ckpt")(
      triangleIngestBatch(s, _, _, indexDir))

  /** One triangle-ingest micro-batch — factored out so the retry
    * spec can replay an epoch directly. */
  private[graft] def triangleIngestBatch(s: SparkSession,
      batch: DataFrame, epoch: Long, indexDir: String): Unit = {
    import s.implicits._
    val edgesRoot = s"$indexDir/edges"
    val statsRoot = s"$indexDir/stats"
    val e = batch.select(
        least(col("x"), col("y")).cast("long").as("u"),
        greatest(col("x"), col("y")).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .distinct()
    val hasOld =
      graft.operators.Snapshots.latestVersion(edgesRoot).nonEmpty
    val old =
      if (hasOld) graft.operators.Snapshots.readLog(s, edgesRoot)
      else Seq.empty[(Long, Long)].toDF("u", "v")
    val nw =
      (if (hasOld) e.join(old, Seq("u", "v"), "left_anti") else e)
        .cache()
    if (nw.isEmpty) { nw.unpersist(); return }
    val delta = graft.queries.Graph.triangleDelta(old, nw)
    graft.operators.Snapshots.publishEpoch(
      Seq((epoch, delta)).toDF("epoch", "delta"), statsRoot, "tri", epoch)
    graft.operators.Snapshots.publishAppend(nw, edgesRoot)
    nw.unpersist()
    ()
  }

  /** Streaming spelling correction against the FROZEN spell index —
    * the nbScoreIngest discipline for the SymSpell family: vocab +
    * deletion forms fit once batch-side (Text.spellIndexOf), every
    * micro-batch of (doc_id, text) documents runs its tokens through
    * EXACTLY the batch serving dataflow (Text.spellCorrectionsFrom —
    * OOV split against the frozen vocab, form equi-join, tf-argmax),
    * so stream-time corrections can never drift from the batch
    * answers. Stateless given the model; exactly-once via the
    * epoch-partitioned dynamic overwrite emit. */
  def spellIngest(s: SparkSession, docs: DataFrame, modelIdx: String,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    epochSink(docs, outDir + "_ckpt")(spellBatch(s, _, _, modelIdx, outDir))

  /** One spell-correction micro-batch — factored out so the retry
    * spec can replay an epoch directly. */
  private[graft] def spellBatch(s: SparkSession, batch: DataFrame,
      epoch: Long, modelIdx: String, outDir: String): Unit =
    emitEpoch(graft.queries.Text.spellCorrectionsFrom(s, modelIdx,
        batch.select(explode(
          graft.functions.TextExprs.tokens(col("text"))).as("w"))),
      epoch, outDir)

  /** The maintained global triangle count — the sum of the per-epoch
    * deltas (exact: every triangle was counted once, at the epoch
    * whose edges completed it). */
  def triangleTotal(s: SparkSession, indexDir: String): Long = {
    val statsRoot = s"$indexDir/stats"
    if (graft.operators.Snapshots.latestVersion(statsRoot).isEmpty) 0L
    else graft.operators.Snapshots.readLog(s, statsRoot)
      .agg(sum(col("delta"))).head.getLong(0)
  }

  /** The remap forest collected and resolved to DIRECT (label →
    * final root) entries — remap rows exist only per cluster-merge
    * event, so this is bounded driver state exactly like the batch
    * query's union-find input. */
  private def resolvedRemap(s: SparkSession,
      clusterDir: String): Map[Long, Long] = {
    if (!graft.operators.LakeFs.exists(s"$clusterDir/remap"))
      return Map.empty
    val m = s.read.parquet(s"$clusterDir/remap")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val memo = scala.collection.mutable.HashMap.empty[Long, Long]
    def res(x: Long): Long = memo.getOrElseUpdate(x,
      m.get(x).map(res).getOrElse(x))
    m.keys.map(k => k -> res(k)).toMap
  }
}
