package graft.streaming

import graft.operators.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental fixed-budget sampling: t17's bottom-k-by-hash per stratum
  * maintained over a document STREAM — the live proof of the bottom-k
  * sketch's mergeability: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
  * bottom-k(B)), so folding each micro-batch's own bottom-k into a k-row
  * state yields exactly the batch answer for ANY split of the corpus
  * into batches (asserted in StreamingSpec against the one-shot
  * [[TextQueries.bottomKSample]]).
  *
  * Execution shape per batch: the batch side contributes at most
  * strata x k rows (its own WindowGroupLimit-bounded bottom-k), the
  * state is already strata x k, and the fold re-ranks their union — the
  * sample never grows with the stream. Membership is a pure function of
  * the doc id, so re-delivered documents from an at-least-once source
  * are dropped by id before re-ranking instead of double-counting.
  * The [[BatchFold]] localCheckpoints the sample each batch — without it
  * the union chain grows per micro-batch, unbounded over an unbounded
  * stream.
  */
object StreamSample {

  /** The per-stratum sample as it evolves batch to batch. Thread-safe:
    * the merge runs on the streaming microbatch thread, readers on the
    * test or application thread. */
  final class SampleState private[graft] (s: SparkSession, k: Int) {

    private[graft] val fold = new BatchFold(s, Seq("sample" -> { (prev, _, batch) =>
      val batchK = TextQueries.bottomKSample(batch, k)
      val w = Window.partitionBy(col("lang")).orderBy(col("sample_hash"), col("doc_id"))
      prev.get("sample").map(_.unionByName(batchK)).getOrElse(batchK)
        .dropDuplicates("lang", "doc_id")
        .withColumn("r", row_number().over(w).cast("long"))
        .filter(col("r") <= k)
        .select(col("lang"), col("r").as("sample_rank"),
          col("doc_id"), col("sample_hash"))
    }))

    private[graft] def merge(batch: DataFrame, batchId: Long): Unit = fold.merge(batch, batchId)

    /** The sample as of the last completed micro-batch — t17's contract:
      * (lang, sample_rank [1..k], doc_id, sample_hash). */
    def sample: DataFrame = fold.view(_("sample").orderBy(col("lang"), col("sample_rank")))
  }

  /** Start the sampling loop over a streaming frame with (doc_id, lang)
    * columns. Returns the running query and the live sample state. */
  def start(docs: DataFrame, k: Int): (StreamingQuery, SampleState) = {
    val state = new SampleState(docs.sparkSession, k)
    (state.fold.start("StreamSample", docs), state)
  }
}
