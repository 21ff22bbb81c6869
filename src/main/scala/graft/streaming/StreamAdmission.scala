package graft.streaming

import graft.operators.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental corpus admission: t05's training-data pipeline run over a
  * document STREAM, closing the loop between the streaming layer and the
  * LLM-data layer's flagship query.
  *
  * The only cross-row state t05 needs is the canonical set — one row per
  * content_key holding the min-doc_id copy's features. That merge
  * (min-of-struct keyed by content_key) is associative and commutative,
  * so folding micro-batches into the state one at a time yields exactly
  * the batch answer regardless of how the corpus is split — the same
  * invariant the q35 funnel twin proved for event sequencing, asserted
  * for this pipeline in StreamingSpec.
  *
  * Execution shape per batch: one narrow feature projection over the
  * new documents, then one hash agg over (state ∪ batch) — partial aggs
  * make the batch side map-side-combined, and the state side is already
  * one row per key. State size is bounded by distinct content keys, not
  * corpus rows. This driver-held incremental view is the local-mode
  * stand-in for what a 1000-executor deployment would do with the
  * identical per-batch plan: MERGE into a keyed transactional table
  * (Delta/Iceberg) or hold the canonical row in transformWithState
  * keyed state (StreamFsm shows that machinery). The [[BatchFold]]'s
  * eager localCheckpoint truncates lineage each batch — without it the
  * union chain grows one analyzer layer per micro-batch, unbounded over
  * an unbounded stream.
  */
object StreamAdmission {

  /** The canonical set as it evolves batch to batch. Thread-safe: the
    * merge runs on the streaming microbatch thread, readers on the test
    * or application thread. */
  final class CanonicalState private[graft] (s: SparkSession) {

    private[graft] val fold = new BatchFold(s, Seq("canon" -> { (prev, _, batch) =>
      val feats = TextQueries.admissionFeatures(batch)
      prev.get("canon").map(_.unionByName(feats)).getOrElse(feats)
        .groupBy(col("content_key"))
        .agg(min(struct(col("doc_id"), col("predicted_lang"), col("n_tokens"),
          col("distinct_ratio_milli"))).as("c"))
        .select(col("content_key"), col("c.doc_id").as("doc_id"),
          col("c.predicted_lang").as("predicted_lang"),
          col("c.n_tokens").as("n_tokens"),
          col("c.distinct_ratio_milli").as("distinct_ratio_milli"))
    }))

    private[graft] def merge(batch: DataFrame, batchId: Long): Unit = fold.merge(batch, batchId)

    /** The admitted corpus as of the last completed micro-batch — the
      * t05 contract: canonical copies passing the quality gate. */
    def admitted: DataFrame = fold.view(_("canon")
      .filter(TextQueries.admissionGate)
      .select(col("doc_id"), col("predicted_lang"), col("n_tokens"))
      .orderBy(col("doc_id")))
  }

  /** Start the admission loop over a streaming (doc_id, text) frame.
    * Returns the running query and the live canonical state. */
  def start(docs: DataFrame): (StreamingQuery, CanonicalState) = {
    val state = new CanonicalState(docs.sparkSession)
    (state.fold.start("StreamAdmission", docs), state)
  }
}
