package graft.streaming

import graft.dsl.Keyed
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming execution of the DSL's stateful layer (SURVEY.md §2.1 P1-P4).
  *
  * The batch compiler runs arbitrary `SP` closures per key; a streaming
  * query must *checkpoint* its state, so the streaming contract is the
  * Mealy/FSM form: an explicit serializable state `S` plus a transition
  * `(S, A) => (S, Seq[B])` — exactly what [[graft.dsl.SP.fsm]] takes, and
  * what every reference state machine (`tests/events.rs`,
  * `examples/pelican.rs`) is written as. One `flatMapGroupsWithState`
  * instance per key: state-store-backed, exactly-once under checkpointing,
  * parallel across keys — the streaming twin of the batch
  * `flatMapGroups` fallback (same transition function, same per-key output
  * sequence).
  *
  * Timeout support covers the reference's `EmitTimeoutAfter` feedback
  * pattern (`examples/pelican.rs:323-325,346-367`): instead of an external
  * timer thread feeding events back into the input channel (cycles are
  * impossible in Structured Streaming), a `transformWithState` timer
  * fires the transition with `None` ([[fsmStreamWithTimersTws]]).
  */
object StreamFsm {

  /** Checkpointable FSM state: user state + per-key emission counter (the
    * counter preserves rspl's output-sequence numbering across batches). */
  final case class FsmState[S](userState: S, emitted: Long)

  /** Pick the best available stateful runner for this session: the Spark 4
    * `transformWithState` path when the RocksDB state store provider is
    * configured (TWS requires it), else the `flatMapGroupsWithState`
    * fallback (SURVEY.md §7.4 #6) — one interface, same Mealy contract. */
  def fsmStreamAuto[S, A, B](ds: Dataset[Keyed[A]], init: S)(
      t: (S, A) => (S, Seq[B]))(
      implicit encLong: Encoder[Long],
      encState: Encoder[FsmState[S]],
      encOut: Encoder[Keyed[B]]): Dataset[Keyed[B]] = {
    val provider = ds.sparkSession.conf
      .getOption("spark.sql.streaming.stateStore.providerClass").getOrElse("")
    if (provider.contains("RocksDB")) fsmStreamTws(ds, init)(t)
    else fsmStream(ds, init)(t)
  }

  /** Run a keyed Mealy machine over a (streaming or batch) Dataset.
    * Within a micro-batch, rows are processed in `seq` order. */
  def fsmStream[S, A, B](ds: Dataset[Keyed[A]], init: S)(
      t: (S, A) => (S, Seq[B]))(
      implicit encLong: Encoder[Long],
      encState: Encoder[FsmState[S]],
      encOut: Encoder[Keyed[B]]): Dataset[Keyed[B]] =
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[FsmState[S], Keyed[B]](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[Keyed[A]], state: GroupState[FsmState[S]]) =>
          val st0 = state.getOption.getOrElse(FsmState(init, 0L))
          var s = st0.userState
          var emitted = st0.emitted
          val out = it.toVector.sortBy(_.seq).flatMap { ka =>
            val (s2, bs) = t(s, ka.value)
            s = s2
            bs.map { b =>
              val kb = Keyed(key, emitted, b)
              emitted += 1
              kb
            }
          }
          state.update(FsmState(s, emitted))
          out.iterator
      }

  /** Mealy machine on the Spark 4 `transformWithState` operator (state-store
    * v2): `ValueState` holds the FSM state; requires the RocksDB state store
    * provider. Same contract and output sequence as [[fsmStream]]: the
    * timer machine of [[fsmStreamWithTimersTws]] with no time mode and a
    * transition that never arms. */
  def fsmStreamTws[S, A, B](ds: Dataset[Keyed[A]], init: S)(
      t: (S, A) => (S, Seq[B]))(
      implicit encLong: Encoder[Long],
      encState: Encoder[FsmState[S]],
      encOut: Encoder[Keyed[B]]): Dataset[Keyed[B]] = {
    val untimed: (S, Option[A]) => (S, Seq[B], Option[Long]) = {
      case (s, Some(a)) => val (s2, bs) = t(s, a); (s2, bs, None)
      case (s, None) => (s, Nil, None) // no timer is ever armed
    }
    ds.groupByKey(_.key)
      .transformWithState(
        new TimerMealyProcessor[S, A, B](init, untimed, encState),
        TimeMode.None(), OutputMode.Append(), encOut)
  }

  /** Keyed element carrying the event time the watermark tracks — the input
    * shape for [[fsmStreamEventTimeTws]]. */
  final case class KeyedTs[A](key: Long, seq: Long, ts: java.sql.Timestamp, value: A)

  /** Event-time twin of [[fsmStreamWithTimersTws]] — an EXTENSION beyond
    * reference parity (rspl has no event time; SURVEY §2.2 lists watermarks
    * as an upgrade): timers are armed at absolute EVENT-time instants and
    * fire when the WATERMARK passes them, so results depend only on the
    * data's own timestamps — reprocessing a day of events yields identical
    * output, unlike processing-time timers. The caller must put a
    * watermark on `ts` before calling (the engine requires it); input rows
    * older than the current watermark are dropped by the operator, the
    * standard late-data contract shared with windowed aggregation.
    *
    * Transition contract: `(state, Some((a, tsMs)))` on input with the
    * row's event time, `(state, None)` on watermark expiry; returns
    * `(newState, outputs, armAtMs)` where `armAtMs` is an absolute
    * event-time ms for the next (sole pending) timer, `None` to leave
    * timers alone. */
  def fsmStreamEventTimeTws[S, A, B](ds: Dataset[KeyedTs[A]], init: S)(
      t: (S, Option[(A, Long)]) => (S, Seq[B], Option[Long]))(
      implicit encLong: Encoder[Long],
      encState: Encoder[FsmState[S]],
      encOut: Encoder[Keyed[B]]): Dataset[Keyed[B]] =
    ds.groupByKey(_.key)
      .transformWithState(
        new EventTimeMealyProcessor[S, A, B](init, t, encState),
        TimeMode.EventTime(), OutputMode.Append(), encOut)

  private final class EventTimeMealyProcessor[S, A, B](
      zero: S, t: (S, Option[(A, Long)]) => (S, Seq[B], Option[Long]),
      encState: Encoder[FsmState[S]])
      extends StatefulProcessor[Long, KeyedTs[A], Keyed[B]] {
    @transient private var st: ValueState[FsmState[S]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("fsm", encState, TTLConfig.NONE)

    private def arm(atMs: Option[Long]): Unit =
      atMs.foreach { at =>
        getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
        getHandle.registerTimer(at)
      }

    override def handleInputRows(
        key: Long, rows: Iterator[KeyedTs[A]], tv: TimerValues): Iterator[Keyed[B]] = {
      val st0 = Option(st.get()).getOrElse(FsmState(zero, 0L))
      var s = st0.userState
      var emitted = st0.emitted
      val out = rows.toVector.sortBy(_.seq).flatMap { ka =>
        val (s2, bs, armAt) = t(s, Some((ka.value, ka.ts.getTime)))
        s = s2
        arm(armAt)
        bs.map { b => val kb = Keyed(key, emitted, b); emitted += 1; kb }
      }
      st.update(FsmState(s, emitted))
      out.iterator
    }

    override def handleExpiredTimer(
        key: Long, tv: TimerValues, info: ExpiredTimerInfo): Iterator[Keyed[B]] = {
      val st0 = Option(st.get()).getOrElse(FsmState(zero, 0L))
      val (s2, bs, armAt) = t(st0.userState, None)
      var emitted = st0.emitted
      val out = bs.map { b => val kb = Keyed(key, emitted, b); emitted += 1; kb }
      st.update(FsmState(s2, emitted))
      arm(armAt)
      out.iterator
    }
  }

  /** Timer-driven FSM on `transformWithState` — the faithful carrier of the
    * reference's `EmitTimeoutAfter` capability (`examples/pelican.rs:
    * 323-325,346-367`): the *transition itself* requests its next timeout
    * (`armMs`), exactly like the pelican machine emitting
    * `EmitTimeoutAfter(len)` for the driver to schedule. Native state-store
    * timers make re-arming safe: a timer fires once at its expiry (no
    * self-triggering livelock as with the `flatMapGroupsWithState`
    * processing-time timeout, which re-runs on every trigger once armed) —
    * so the pelican blink loop (timeout → emit → arm next timeout) is
    * directly expressible.
    *
    * Transition contract: `(state, Some(a))` on input, `(state, None)` on
    * timer expiry; returns `(newState, outputs, armMs)` where `armMs`
    * schedules the next timeout that many ms ahead (replacing any pending
    * timer) and `None` leaves timers alone. */
  def fsmStreamWithTimersTws[S, A, B](ds: Dataset[Keyed[A]], init: S)(
      t: (S, Option[A]) => (S, Seq[B], Option[Long]))(
      implicit encLong: Encoder[Long],
      encState: Encoder[FsmState[S]],
      encOut: Encoder[Keyed[B]]): Dataset[Keyed[B]] =
    ds.groupByKey(_.key)
      .transformWithState(
        new TimerMealyProcessor[S, A, B](init, t, encState),
        TimeMode.ProcessingTime(), OutputMode.Append(), encOut)

  private final class TimerMealyProcessor[S, A, B](
      zero: S, t: (S, Option[A]) => (S, Seq[B], Option[Long]),
      encState: Encoder[FsmState[S]])
      extends StatefulProcessor[Long, Keyed[A], Keyed[B]] {
    @transient private var st: ValueState[FsmState[S]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("fsm", encState, TTLConfig.NONE)

    // `nowMs` by name: an untimed machine never arms, so never reads the clock
    private def arm(nowMs: => Long, delayMs: Option[Long]): Unit =
      delayMs.foreach { d =>
        getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
        getHandle.registerTimer(nowMs + d)
      }

    override def handleInputRows(
        key: Long, rows: Iterator[Keyed[A]], tv: TimerValues): Iterator[Keyed[B]] = {
      val st0 = Option(st.get()).getOrElse(FsmState(zero, 0L))
      var s = st0.userState
      var emitted = st0.emitted
      val out = rows.toVector.sortBy(_.seq).flatMap { ka =>
        val (s2, bs, armMs) = t(s, Some(ka.value))
        s = s2
        arm(tv.getCurrentProcessingTimeInMs, armMs)
        bs.map { b => val kb = Keyed(key, emitted, b); emitted += 1; kb }
      }
      st.update(FsmState(s, emitted))
      out.iterator
    }

    override def handleExpiredTimer(
        key: Long, tv: TimerValues, info: ExpiredTimerInfo): Iterator[Keyed[B]] = {
      val st0 = Option(st.get()).getOrElse(FsmState(zero, 0L))
      val (s2, bs, armMs) = t(st0.userState, None)
      var emitted = st0.emitted
      val out = bs.map { b => val kb = Keyed(key, emitted, b); emitted += 1; kb }
      st.update(FsmState(s2, emitted))
      arm(tv.getCurrentProcessingTimeInMs, armMs)
      out.iterator
    }
  }
}
