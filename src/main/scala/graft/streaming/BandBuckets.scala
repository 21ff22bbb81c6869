package graft.streaming

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** The exactly-once protocol of every min-shared-band LSH bucket twin
  * ([[StreamDedup]]'s lexical, semantic and perceptual twins and
  * [[StreamIngestTws]]'s near-dup stage), on `transformWithState`.
  *
  * A row arrives once per band it hashes into, keyed by (band, bucket).
  * The bucket keeps its history in `ListState` ("seen"); the batch's rows
  * are visited in id order (deterministic under any micro-batch split),
  * an id the bucket already stored is a redelivery and is skipped, and a
  * stored/new pair is verified and emitted only in the bucket of the
  * pair's FIRST shared band. Every bucket the pair collides in can decide
  * that locally from the two stored entries, so each pair is emitted
  * exactly once with no cross-bucket dedup stage.
  *
  * A twin supplies only its parts: `entryOf` the stored entry a row
  * becomes, `idOf` the entry's id (with its ordering), `firstSharedBand`
  * of two entries (-1 when none), `verify(stored, new)` and the stored
  * entry's encoder — which, with the state name, fixes the state schema a
  * checkpoint holds. */
private[streaming] class BandBuckets[B, R, E, I, O](
    entryOf: R => E,
    idOf: E => I,
    firstSharedBand: (E, E) => Int,
    verify: (E, E) => Option[O],
    encEntry: Encoder[E])(implicit idOrder: Ordering[I])
    extends StatefulProcessor[(Int, B), R, O] {
  @transient private var seen: ListState[E] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getListState("seen", encEntry, TTLConfig.NONE)

  override def handleInputRows(key: (Int, B), rows: Iterator[R], tv: TimerValues): Iterator[O] = {
    val band = key._1
    val stored = scala.collection.mutable.ArrayBuffer.empty[E]
    val it = seen.get()
    while (it.hasNext) stored += it.next()
    val out = Vector.newBuilder[O]
    rows.map(entryOf).toVector.sortBy(idOf).foreach { e =>
      val id = idOf(e)
      if (!stored.exists(s => idOf(s) == id)) { // redelivery guard
        stored.foreach(s => if (firstSharedBand(s, e) == band) out ++= verify(s, e))
        stored += e
        seen.appendValue(e)
      }
    }
    out.result().iterator
  }
}

private[streaming] object BandBuckets {

  /** The first of bands `0 until n` where `shared` holds, or -1. */
  def firstBand(n: Int)(shared: Int => Boolean): Int = {
    var b = 0
    while (b < n && !shared(b)) b += 1
    if (b < n) b else -1
  }
}
