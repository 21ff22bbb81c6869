package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental CDC materialization (q65's streaming twin): maintain the
  * latest-wins compacted state of a change log, folded micro-batch by
  * micro-batch. The fold state is one row per entity — (n_changes,
  * last-payload, last-(ts, event_id) order key) — and the merge is the
  * SAME max_by aggregation the batch query runs: max_by over the stored
  * order key is associative and commutative, so the folded state equals
  * the one-shot batch compaction for ANY split of the log into batches.
  * n_changes is a plain count (counting state cannot dedup redelivered
  * rows), so the fold is made redelivery-safe by the [[BatchFold]]'s
  * batchId guard: a replayed foreachBatch id is a no-op (asserted in
  * StreamingSpec).
  *
  * State is O(entities), independent of log volume — the streaming answer
  * to "keep a 100 TB change log queryable as its current snapshot"
  * without re-reading the log. The same shape runs distributed at scale:
  * the per-batch partial agg is map-side combined, and the state merge is
  * a hash agg on the entity key.
  */
object StreamCdc {

  private def partials(batch: DataFrame): DataFrame =
    batch
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_changes"),
        max_by(struct(col("event_type"), col("value"), col("ts")),
          struct(col("ts"), col("event_id"))).as("last"),
        max(struct(col("ts"), col("event_id"))).as("ord"))

  final class CdcState private[graft] (s: SparkSession) {

    private[graft] val fold = new BatchFold(s, Seq("state" -> { (prev, _, batch) =>
      val p = partials(batch)
      prev.get("state").map(_.unionByName(p)).getOrElse(p)
        .groupBy(col("user_id"))
        .agg(sum(col("n_changes")).as("n_changes"),
          max_by(col("last"), col("ord")).as("last"),
          max(col("ord")).as("ord"))
    }))

    private[graft] def merge(batch: DataFrame, batchId: Long): Unit = fold.merge(batch, batchId)

    /** The compacted snapshot in q65's report shape, as of the last
      * completed micro-batch. */
    def snapshot: DataFrame = fold.view(t => reportOf(t("state")))
  }

  /** q65's report columns from the fold state — shared shape with the
    * batch query so stream ≡ batch compares full rows. */
  private def reportOf(state: DataFrame): DataFrame =
    state.select(
      col("user_id"), col("n_changes"),
      when(col("last.event_type") === "error", lit("deleted"))
        .otherwise(lit("live")).as("status"),
      date_trunc("second", col("last.ts")).as("last_ts"),
      when(col("last.event_type") === "error", lit(0L))
        .otherwise(floor(col("last.value") * 100).cast("long")).as("last_value_c"))
      .orderBy(col("user_id"))

  /** One-shot batch twin over a static change-log frame. */
  def compactBatch(events: DataFrame): DataFrame = reportOf(partials(events))

  /** Start the fold over a streaming change log with
    * (event_id, ts, user_id, event_type, value) columns. */
  def start(events: DataFrame): (StreamingQuery, CdcState) = {
    val state = new CdcState(events.sparkSession)
    (state.fold.start("StreamCdc", events), state)
  }
}
