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
  * `examples/pelican.rs`) is written as. Two runners, one per-key fold
  * (`foldKey`: seq order, step, number each emission from
  * [[FsmState]]`.emitted`): [[fsmStream]] on `flatMapGroupsWithState`,
  * and ONE `transformWithState` processor (`MealyProcessor`) behind
  * [[fsmStreamTws]], [[fsmStreamWithTimersTws]] and
  * [[fsmStreamEventTimeTws]], which differ only in how a row becomes the
  * transition's input and how a requested timer becomes an instant.
  * State-store-backed, exactly-once under checkpointing, parallel across
  * keys — the streaming twin of `Compiler.compile`'s batch per-key runner
  * (same transition function, same per-key output sequence).
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
          val (st, out) = foldKey(key, state.getOption.getOrElse(FsmState(init, 0L)), it)(
            _.seq)((s, ka) => t(s, ka.value))
          state.update(st)
          out
      }

  /** The per-key Mealy fold every runner shares: visit `rows` in `seq`
    * order, `step` the machine, and number each emission from the
    * state's running `emitted` count. */
  private def foldKey[S, R, B](key: Long, st0: FsmState[S], rows: Iterator[R])(
      seq: R => Long)(step: (S, R) => (S, Seq[B])): (FsmState[S], Iterator[Keyed[B]]) = {
    var s = st0.userState
    var emitted = st0.emitted
    val out = rows.toVector.sortBy(seq).flatMap { r =>
      val (s2, bs) = step(s, r)
      s = s2
      bs.map { b => val kb = Keyed(key, emitted, b); emitted += 1; kb }
    }
    (FsmState(s, emitted), out.iterator)
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
        new MealyProcessor[S, Keyed[A], A, B](init, _.seq, _.value, untimed, afterDelay, encState),
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
        new MealyProcessor[S, KeyedTs[A], (A, Long), B](
          init, _.seq, r => (r.value, r.ts.getTime), t, atInstant, encState),
        TimeMode.EventTime(), OutputMode.Append(), encOut)

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
        new MealyProcessor[S, Keyed[A], A, B](init, _.seq, _.value, t, afterDelay, encState),
        TimeMode.ProcessingTime(), OutputMode.Append(), encOut)

  /** A requested timer as an absolute instant: `delayMs` past the
    * processing-time clock, or the event-time instant itself. */
  private val afterDelay: (TimerValues, Long) => Long =
    (tv, delayMs) => tv.getCurrentProcessingTimeInMs + delayMs
  private val atInstant: (TimerValues, Long) => Long = (_, atMs) => atMs

  /** The one Mealy `StatefulProcessor`: `ValueState` "fsm" holds the
    * [[FsmState]]; a row steps the transition with `Some(input(row))`, an
    * expired timer with `None`. A requested timer replaces any pending one
    * at `instant(tv, requested)` — called only when a transition requests
    * a timer, so an untimed machine never reads the processing-time clock. */
  private final class MealyProcessor[S, R, X, B](
      zero: S, seq: R => Long, input: R => X,
      t: (S, Option[X]) => (S, Seq[B], Option[Long]),
      instant: (TimerValues, Long) => Long,
      encState: Encoder[FsmState[S]])
      extends StatefulProcessor[Long, R, Keyed[B]] {
    @transient private var st: ValueState[FsmState[S]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("fsm", encState, TTLConfig.NONE)

    private def run[T](key: Long, rows: Iterator[T], tv: TimerValues)(seqOf: T => Long)(
        x: T => Option[X]): Iterator[Keyed[B]] = {
      val (st1, out) = foldKey(key, Option(st.get()).getOrElse(FsmState(zero, 0L)), rows)(seqOf) {
        (s, r) =>
          val (s2, bs, timer) = t(s, x(r))
          timer.foreach { at =>
            getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
            getHandle.registerTimer(instant(tv, at))
          }
          (s2, bs)
      }
      st.update(st1)
      out
    }

    override def handleInputRows(
        key: Long, rows: Iterator[R], tv: TimerValues): Iterator[Keyed[B]] =
      run(key, rows, tv)(seq)(r => Some(input(r)))

    override def handleExpiredTimer(
        key: Long, tv: TimerValues, info: ExpiredTimerInfo): Iterator[Keyed[B]] =
      run(key, Iterator.single(()), tv)(_ => 0L)(_ => None)
  }
}
