package graft.streaming

import graft.functions.{TextFns, VectorFns}
import graft.operators.{DedupQueries, SimilarityQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The s22 semantic eval-decontamination gate as a live foreachBatch twin —
  * [[StreamDecontaminate]]'s embedding-space sibling, closing the same
  * at-ingestion seam for the contamination t44's n-gram rule cannot see
  * (a paraphrased benchmark item shares no shingle with its source but
  * still lands in its embedding neighborhood). The heldout benchmark's
  * sign-LSH bucket rows (+ embeddings) are STATIC state, built once at
  * start with the geometry derived from the heldout count (the same
  * [[DedupQueries.autoPlanesPerTable]] contract the batch operator's
  * default resolves — static input, so the derived K is stable across
  * batches AND restarts); every TRAIN micro-batch is one bipartite bucket
  * equi-join + exact-cosine verify against it — per-batch cost is O(new
  * train docs x bucket occupancy), never O(history), because past train
  * docs influence nothing (train-train similarity is out of contract,
  * exactly as in the batch rule).
  *
  * Fold state is one monoid: the per-lang (n_train, n_dropped,
  * tokens_dropped, tokens_clean) sums — each doc's drop decision depends
  * only on the static heldout set, so after any prefix of the stream
  * [[SemDecontState.report]] equals
  * [[SimilarityQueries.semanticDecontaminateReport]] over heldout + that
  * prefix (StreamingSpec asserts this across micro-batch splits and a
  * restart). State size is O(langs) + the static heldout bucket frame.
  *
  * Durable by default: [[start]] requires a `stateDir`, and the
  * [[BatchFold]] commits the fold per batch and rehydrates it on restart,
  * so the SAME call serves both. The heldout set is an ARGUMENT,
  * re-derived on restart, and a fingerprint over its bucket rows
  * (count + bit-xor of hashed (held_id, tbl, bucket) — sensitive to
  * content AND geometry), pinned to the fold, fails loudly if a restart
  * passes a different heldout than the one past decisions were made
  * against. */
object StreamSemanticDecontaminate {

  final class SemDecontState(s: SparkSession, stateDir: Option[String],
      private[graft] val heldBk: DataFrame,
      tables: Int, ppt: Int, planes: Array[Array[Double]],
      minCosMilli: Long) {

    // the heldout buckets are static: their fingerprint is pinned to the fold
    private[graft] val fold = new BatchFold(s, Seq("stats" -> { (prev, _, batch) =>
      // per-lang sums, unordered
      val train = batch.select(col("doc_id"), col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_toks"),
        col("embedding"))
      val bs = SimilarityQueries.semDecontStats(
        train, heldBk, tables, ppt, planes, minCosMilli)
      prev.get("stats").map(_.unionByName(bs)).getOrElse(bs)
        .groupBy(col("lang"))
        .agg(sum(col("n_train")).as("n_train"),
          sum(col("n_dropped")).as("n_dropped"),
          sum(col("tokens_dropped")).as("tokens_dropped"),
          sum(col("tokens_clean")).as("tokens_clean"))
    }), stateDir, Some(heldFingerprint(heldBk)))

    private[graft] def merge(batch: DataFrame, batchId: Long): Unit = fold.merge(batch, batchId)

    /** The s22 report as of the last completed micro-batch. */
    def report: DataFrame = fold.view(_("stats").orderBy(col("lang")))

    /** The last folded micro-batch id. */
    def lastCommittedBatch: Long = fold.lastCommittedBatch
  }

  /** Order-free fingerprint of the heldout bucket frame: (row count,
    * bit-xor of hashed (held_id, tbl, bucket)) — one row, sensitive to
    * both the heldout CONTENT and the derived GEOMETRY, so a restart
    * against a different benchmark set or a different K fails loudly. */
  private def heldFingerprint(heldBk: DataFrame): DataFrame =
    heldBk.agg(count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("held_id"), col("tbl"), col("bucket"))),
        lit(0L)).as("x"))

  /** Build the static heldout state: bucket rows (geometry derived from
    * the heldout count) carrying the heldout embedding for the verify. */
  private[graft] def heldStateOf(heldout: DataFrame): (DataFrame, Int, Int, Array[Array[Double]]) = {
    require(!heldout.isStreaming,
      "the heldout benchmark set is static input — pass a batch DataFrame")
    val held = heldout.select(col("doc_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    val tables = DedupQueries.lshTableCount
    val ppt = DedupQueries.autoPlanesPerTable(held.count())
    val planes = VectorFns.hyperplanes(tables * ppt, DedupQueries.embDim)
    val heldBk = SimilarityQueries.semBucketRows(held, tables, ppt, planes)
      .select(col("id").as("held_id"), col("tbl"), col("bucket"),
        col("sig").as("sig_b"))
      .join(held.select(col("doc_id").as("held_id"),
        col("embedding").as("eb")), Seq("held_id"))
      .localCheckpoint() // static: built once, probed by every batch
    (heldBk, tables, ppt, planes)
  }

  /** Rehydrate a [[SemDecontState]] from a `stateDir` written by a
    * previous run — in any SparkSession ([[BatchFold]]'s rehydration).
    * Fails loudly if `heldout` is not the set (and geometry) the persisted
    * fold was built against. */
  def load(s: SparkSession, heldout: DataFrame, stateDir: String,
      minCosMilli: Long = 400L): SemDecontState = {
    val (heldBk, tables, ppt, planes) = heldStateOf(heldout)
    new SemDecontState(s, Some(stateDir), heldBk, tables, ppt, planes, minCosMilli)
  }

  /** THE FRONT DOOR — durable by default: state persists to `stateDir`
    * per batch and the same call rehydrates it on restart. `train` is the
    * streaming (doc_id, text, lang, embedding) corpus; `heldout` the
    * static benchmark frame carrying (doc_id, embedding). */
  def start(train: DataFrame, heldout: DataFrame, checkpoint: String,
      stateDir: String): (StreamingQuery, SemDecontState) =
    startWith(train, checkpoint, load(train.sparkSession, heldout, stateDir))

  /** DEMO/TEST overload — ephemeral state, lost with the session. */
  def startEphemeral(train: DataFrame, heldout: DataFrame,
      checkpoint: String): (StreamingQuery, SemDecontState) = {
    val (heldBk, tables, ppt, planes) = heldStateOf(heldout)
    startWith(train, checkpoint,
      new SemDecontState(train.sparkSession, None, heldBk, tables, ppt, planes, 400L))
  }

  private def startWith(train: DataFrame, checkpoint: String,
      state: SemDecontState): (StreamingQuery, SemDecontState) =
    (state.fold.start("StreamSemanticDecontaminate", train, Some(checkpoint)), state)
}
