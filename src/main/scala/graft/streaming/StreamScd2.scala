package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental SCD Type-2 maintenance (q66's streaming twin — the "apply
  * changes into a dimension history" pattern): fold the change log into
  * per-entity [valid_from, ...) version runs micro-batch by micro-batch.
  *
  * The fold state is the run list itself — (user, kb, valid_from,
  * first_id, n_events) with runs maximal (adjacent runs differ in kb);
  * first_id (the run's min event_id) breaks valid_from ties, since
  * valid_from truncates to seconds and two runs can share one. Each batch
  * reduces to ITS run list (q66's gaps-and-islands on just the batch),
  * appends to the state, and re-merges adjacent same-kb runs — an
  * associative list-monoid fold, so the folded history equals the batch
  * q66 result for ANY split of the log into batches. State is
  * O(version rows) — the output itself — and each merge is one user_id
  * shuffle over O(state + batch-runs) rows, never the raw log again.
  *
  * Ordering contract: per-entity event-time order across batches (what a
  * key-partitioned CDC feed — e.g. Kafka with entity keys — delivers).
  * Late cross-batch events would need the event-time TWS machinery
  * (StreamFsm.fsmStreamEventTimeTws) instead; same as every APPLY CHANGES
  * implementation, in-order-per-key is the documented precondition.
  * A retried foreachBatch id is a no-op (the [[BatchFold]]'s redelivery
  * guard).
  */
object StreamScd2 {

  /** Batch -> maximal (user, kb, valid_from, n_events) runs, q66's
    * gaps-and-islands restricted to the batch. */
  private def runsOf(batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    batch
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("cast(get_json_object(props, '$.k') as bigint)").as("kb0"))
      .withColumn("kb", expr("kb0 div 25"))
      .withColumn("chg",
        when(lag(col("kb"), 1).over(w).isNull ||
          lag(col("kb"), 1).over(w) =!= col("kb"), 1L).otherwise(0L))
      .withColumn("seg", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("seg"))
      .agg(min(col("kb")).as("kb"),
        min(date_trunc("second", col("ts"))).as("valid_from"),
        // deterministic tie-breaker: two runs of one user can share a
        // second (valid_from is truncated), so downstream ordering keys
        // on (valid_from, first_id), never valid_from alone
        min(col("event_id")).as("first_id"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("kb"), col("valid_from"), col("first_id"),
        col("n_events"))
  }

  /** Re-merge adjacent same-kb runs after an append — the monoid op. */
  private def normalize(runs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("first_id"))
    runs
      .withColumn("chg",
        when(lag(col("kb"), 1).over(w).isNull ||
          lag(col("kb"), 1).over(w) =!= col("kb"), 1L).otherwise(0L))
      .withColumn("seg", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("seg"))
      .agg(min(col("kb")).as("kb"),
        min(col("valid_from")).as("valid_from"),
        min(col("first_id")).as("first_id"),
        sum(col("n_events")).as("n_events"))
      .select(col("user_id"), col("kb"), col("valid_from"), col("first_id"),
        col("n_events"))
  }

  final class Scd2State private[graft] (s: SparkSession) {

    private[graft] val fold = new BatchFold(s, Seq("runs" -> { (prev, _, batch) =>
      val r = runsOf(batch)
      normalize(prev.get("runs").map(_.unionByName(r)).getOrElse(r))
    }))

    private[graft] def merge(batch: DataFrame, batchId: Long): Unit = fold.merge(batch, batchId)

    /** The history in q66's report shape as of the last micro-batch. */
    def history: DataFrame = fold.view(t => reportOf(t("runs")))
  }

  /** q66's output columns from a normalized run table. */
  private def reportOf(runs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("first_id"))
    runs
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .select(col("user_id"), col("version"), col("kb"), col("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"), col("n_events"))
      .orderBy(col("user_id"), col("version"))
  }

  /** One-shot batch twin over a static change-log frame. */
  def scd2Batch(events: DataFrame): DataFrame = reportOf(normalize(runsOf(events)))

  /** Start the fold over a streaming change log with
    * (event_id, ts, user_id, props) columns. */
  def start(events: DataFrame): (StreamingQuery, Scd2State) = {
    val state = new Scd2State(events.sparkSession)
    (state.fold.start("StreamScd2", events), state)
  }
}
