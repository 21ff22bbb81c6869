package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental rolling distinct users (q62's streaming twin) on mergeable
  * HLL sketch state: per event day, maintain ONE HLL sketch of the user
  * set, folded micro-batch by micro-batch with `hll_union_agg`. Because
  * HLL insertion is value-idempotent and union is associative and
  * commutative, the folded sketch is bit-identical to the one-shot batch
  * sketch for ANY split of the stream into batches AND under at-least-once
  * redelivery — the streaming estimate doesn't just approximate the batch
  * estimate, it EQUALS it (asserted in StreamingSpec). State is
  * O(days x sketch), independent of event volume — the property that makes
  * sketch state the production answer to streaming distinct at 100 TB,
  * where exact per-window user sets would grow without bound.
  *
  * The trailing-7-day WAU report unions each day's sketch with its six
  * predecessors at READ time, so one per-day state row serves every window
  * that overlaps it.
  */
object StreamRollingDistinct {

  final class WauState private[graft] (s: SparkSession) {

    private[graft] val fold = new BatchFold(s, Seq("days" -> { (prev, _, batch) =>
      val perDay = batch
        .select(date_trunc("day", col("ts")).cast("date").as("day"), col("user_id"))
        .groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      prev.get("days").map(_.unionByName(perDay)).getOrElse(perDay)
        .groupBy(col("day"))
        .agg(hll_union_agg(col("sk")).as("sk"))
    }))

    private[graft] def merge(batch: DataFrame, batchId: Long): Unit = fold.merge(batch, batchId)

    /** Per-day sketches as of the last completed micro-batch. */
    def daySketches: DataFrame = fold.view(_("days"))

    /** q62's contract from the sketch state: (day, wau7) for observed
      * days, wau7 = estimate of the union of the trailing 7 day sketches. */
    def wau7: DataFrame = fold.view(t => wauFromDaySketches(t("days")))
  }

  /** Trailing-7-day estimate from (day, sk) rows — shared by the streaming
    * state and the batch twin so stream ≡ batch is the same code path. */
  def wauFromDaySketches(daySk: DataFrame): DataFrame = {
    val contrib = daySk
      .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("w"), col("sk"))
    contrib
      .join(daySk.select(col("day").as("w")), Seq("w"), "left_semi")
      .groupBy(col("w"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau7"))
      .select(col("w").as("day"), col("wau7"))
      .orderBy(col("day"))
  }

  /** One-shot batch twin over a static (ts, user_id) frame. */
  def wau7Batch(events: DataFrame): DataFrame =
    wauFromDaySketches(events
      .select(date_trunc("day", col("ts")).cast("date").as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk")))

  /** Start the fold over a streaming frame with (ts, user_id) columns. */
  def start(events: DataFrame): (StreamingQuery, WauState) = {
    val state = new WauState(events.sparkSession)
    (state.fold.start("StreamRollingDistinct", events), state)
  }
}
