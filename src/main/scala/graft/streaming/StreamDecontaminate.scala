package graft.streaming

import graft.operators.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The t44 eval-decontamination gate as a live foreachBatch twin — the
  * at-ingestion form the batch operator implies: the heldout benchmark's
  * shingle set is STATIC state (built once at start, an O(heldout
  * shingles) localCheckpoint), and every TRAIN micro-batch is one linear
  * semi-join against it — per-batch cost is O(new train docs), never
  * O(history), because past train docs influence nothing (train-train
  * overlap is out of contract, exactly as in the batch rule).
  *
  * Fold state is one monoid: the per-lang (n_train, n_dropped,
  * tokens_dropped, tokens_clean) sums. Each doc's drop decision depends
  * only on the static heldout set, so the decision is per-row and
  * order-independent, and the sums are split-invariant by construction —
  * after any prefix of the stream [[DecontState.report]] equals
  * [[TextQueries.decontaminateReport]] over heldout + that prefix
  * (StreamingSpec asserts this across micro-batch splits and a restart).
  * State size is O(langs) + the static heldout shingle set.
  *
  * Durable by default: the front-door [[start]] requires a `stateDir`,
  * and the [[BatchFold]] commits the fold per batch and rehydrates it on
  * restart, so the SAME call serves both. The heldout set is an ARGUMENT,
  * not folded state — it is re-derived from the caller's frame on
  * restart, and its fingerprint (count + bit-xor of the shingle keys),
  * pinned to the fold, fails loudly if a restart passes a different
  * heldout than the one past decisions were made against (silently
  * switching benchmarks would corrupt the fold). */
object StreamDecontaminate {

  final class DecontState(s: SparkSession, stateDir: Option[String],
      private[graft] val heldSh: DataFrame) {

    // the heldout set is static: its fingerprint is pinned to the fold
    private[graft] val fold = new BatchFold(s, Seq("stats" -> { (prev, _, batch) =>
      // per-lang sums, unordered
      val bs = TextQueries.decontLangStats(TextQueries.docShingles(batch), heldSh)
      prev.get("stats").map(_.unionByName(bs)).getOrElse(bs)
        .groupBy(col("lang"))
        .agg(sum(col("n_train")).as("n_train"),
          sum(col("n_dropped")).as("n_dropped"),
          sum(col("tokens_dropped")).as("tokens_dropped"),
          sum(col("tokens_clean")).as("tokens_clean"))
    }), stateDir, Some(heldFingerprint(heldSh)))

    private[graft] def merge(batch: DataFrame, batchId: Long): Unit = fold.merge(batch, batchId)

    /** The t44 report as of the last completed micro-batch. */
    def report: DataFrame = fold.view(_("stats").orderBy(col("lang")))

    /** The last folded micro-batch id. */
    def lastCommittedBatch: Long = fold.lastCommittedBatch
  }

  /** Order-free fingerprint of a heldout shingle-key set: (count, bit-xor
    * of keys) — one row, enough to catch a restart against a different
    * benchmark set (both stats collide only if two sets agree on size AND
    * xor-sum over 64-bit hashes). */
  private def heldFingerprint(heldSh: DataFrame): DataFrame =
    heldSh.agg(count(lit(1)).as("n"), coalesce(bit_xor(col("g")), lit(0L)).as("x"))

  private[graft] def heldShOf(heldout: DataFrame): DataFrame = {
    require(!heldout.isStreaming,
      "the heldout benchmark set is static input — pass a batch DataFrame")
    TextQueries.docShingles(heldout)
      .select(explode(col("gs")).as("g")).distinct()
      .localCheckpoint() // static: built once, probed by every batch
  }

  /** Rehydrate a [[DecontState]] from a `stateDir` written by a previous
    * run — in any SparkSession ([[BatchFold]]'s rehydration). Fails
    * loudly if `heldout` is not the set the persisted fold was built
    * against. */
  def load(s: SparkSession, heldout: DataFrame, stateDir: String): DecontState =
    new DecontState(s, Some(stateDir), heldShOf(heldout))

  /** THE FRONT DOOR — durable by default: state persists to `stateDir`
    * per batch and the same call rehydrates it on restart. `train` is the
    * streaming (doc_id, text, lang) corpus; `heldout` the static
    * benchmark frame of the same shape. */
  def start(train: DataFrame, heldout: DataFrame, checkpoint: String,
      stateDir: String): (StreamingQuery, DecontState) =
    startWith(train, checkpoint, load(train.sparkSession, heldout, stateDir))

  /** DEMO/TEST overload — ephemeral state, lost with the session. */
  def startEphemeral(train: DataFrame, heldout: DataFrame,
      checkpoint: String): (StreamingQuery, DecontState) =
    startWith(train, checkpoint,
      new DecontState(train.sparkSession, None, heldShOf(heldout)))

  private def startWith(train: DataFrame, checkpoint: String,
      state: DecontState): (StreamingQuery, DecontState) =
    (state.fold.start("StreamDecontaminate", train, Some(checkpoint)), state)
}
