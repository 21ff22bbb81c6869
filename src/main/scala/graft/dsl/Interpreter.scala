package graft.dsl

import scala.collection.mutable

/** Reference interpreter — the executable oracle for REF-parity tests — and
  * [[Interpreter.runKeyed]], the push-driven per-key runner of
  * [[Compiler]]'s stateful fallback.
  *
  * Port of `StreamProcessor::eval` (reference `src/lib.rs:249-285`).
  * The reference's loop is about *when the input tail is forced* (so `Put`
  * output never blocks on a blocking `tail()`); observationally each `Get`
  * consumes the next input element in order, so over finite batch input the
  * iterator-pull formulation below is behaviorally identical. Output is a
  * LazyList: `Put`-only loops (generators) still produce — callers take
  * finite prefixes, exactly like the reference's lazy `InfiniteList`.
  * Input exhaustion while `Get`ting ends the output stream (the batch
  * analogue of "nobody sends more elements").
  */
object Interpreter {

  def eval[A, B](sp0: SP[A, B], in: Iterator[A]): LazyList[B] = {
    // trampoline consecutive Gets (reference src/lib.rs:253-256)
    var sp = SP.step(sp0)
    while (sp.isInstanceOf[SP.Get[A, B]]) {
      if (!in.hasNext) return LazyList.empty
      sp = SP.step(sp.asInstanceOf[SP.Get[A, B]].f(in.next()))
    }
    val SP.Put(b, next) = sp: @unchecked
    b #:: eval(next(), in)
  }

  /** One key's stream processor: its current continuation, always in
    * `Get`/`Put` normal form, and how many outputs it has emitted. */
  private final class Machine[A, B](val key: Long, var sp: SP[A, B]) {
    var emitted = 0L
  }

  /** Runs one `sp` per key over `rows`, pushing each row to its key's
    * machine, the way rspl's push streams (`OvereagerReceiver`) feed one
    * element at a time. `rows` must hold each key's rows in `seq` order;
    * keys may interleave. Per key the output equals `eval(sp, values)`
    * with `seq` = the emission index from 0: a key's leading `Put`s are
    * emitted when its first row arrives, and a key with no output yields
    * no rows.
    *
    * Output is lazy: each `next()` steps one machine to its next `Put`,
    * pulling rows only while that machine is at a `Get`. Memory is one
    * machine per key seen so far — the same per-key state `StreamFsm`'s
    * state store holds — and no element is buffered. A key that emits
    * more than `maxOutputs` outputs fails, naming the key, when the output
    * past the cap is requested.
    */
  def runKeyed[A, B](sp: SP[A, B], rows: Iterator[Keyed[A]], maxOutputs: Long): Iterator[Keyed[B]] =
    new Iterator[Keyed[B]] {
      private val machines = mutable.LongMap.empty[Machine[A, B]]
      private var cur: Machine[A, B] = null
      private var pending: A = _ // the row `cur` has yet to Get, if `fed` is false
      private var fed = true
      private var taken = false // `cur.sp` is a Put whose value was returned

      def hasNext: Boolean = {
        if (taken) {
          cur.sp = SP.step(cur.sp.asInstanceOf[SP.Put[A, B]].next())
          taken = false
        }
        while (true) {
          if (cur == null) {
            if (!rows.hasNext) return false
            val r = rows.next()
            cur = machines.getOrElseUpdate(r.key, new Machine(r.key, SP.step(sp)))
            pending = r.value
            fed = false
          } else cur.sp match {
            case SP.Put(_, _) => return true
            case SP.Get(f) if !fed =>
              cur.sp = SP.step(f(pending))
              fed = true
            case _ => cur = null
          }
        }
        false
      }

      def next(): Keyed[B] = {
        if (!hasNext) throw new NoSuchElementException("Interpreter.runKeyed: no more outputs")
        if (cur.emitted >= maxOutputs) throw new IllegalStateException(
          s"Compiler.compile: key ${cur.key} emitted more than MaxOutputsPerKey = " +
            s"$maxOutputs outputs (a Put-only loop in the per-key fallback?)")
        val out = Keyed(cur.key, cur.emitted, cur.sp.asInstanceOf[SP.Put[A, B]].b)
        cur.emitted += 1
        taken = true
        out
      }
    }

  /** Convenience: evaluate over a finite input, taking at most `max`
    * outputs (guards Put-only loops).
    *
    * Example (run verbatim by DocExamplesSpec): a fused map∘filter pipeline
    * and a Put-only generator:
    * {{{
    * val evens = SP.compose(SP.filter((n: Int) => n % 2 == 0), SP.map((n: Int) => n * 10))
    * Interpreter.evalN(evens, Seq(1, 2, 3, 4)) == Vector(20, 40)
    *
    * val fib = SP.generate[Unit, Long, (Long, Long)](s => (s._1, (s._2, s._1 + s._2)), (0L, 1L))
    * Interpreter.evalN(fib, Seq.empty[Unit], max = 6) == Vector(0L, 1L, 1L, 2L, 3L, 5L)
    * }}}
    */
  def evalN[A, B](sp: SP[A, B], input: Seq[A], max: Int = Int.MaxValue): Vector[B] =
    eval(sp, input.iterator).take(max).toVector
}
