package graft.streaming

import graft.operators.{DedupQueries, TextQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The end-to-end streaming ingestion pipeline: the three training-data
  * stages the repo proves individually — admission (t05 /
  * [[StreamAdmission]]), near-dup dedup (d03 / [[StreamDedup]]) and
  * context packing (t08) — composed into ONE continuous foreachBatch job
  * with one checkpoint, such that after any prefix of the stream the
  * packed output equals [[ingestBatch]] over the same prefix
  * (StreamingSpec asserts this across a mid-stream checkpointed restart).
  *
  * Composition semantics (identical on both paths):
  *  1. ADMISSION — documents group by content_key (md5 of normalized
  *     text); each group's canonical copy is its min-doc_id row, and a
  *     group is admitted iff the canonical features pass the t05 gate.
  *     Gate inputs (tokens, distinct ratio, language) are functions of the
  *     NORMALIZED text, so a group's admission status never changes as
  *     more copies arrive — only its representative id can shrink.
  *  2. NEAR-DUP — MinHash near-dup pairs (exact-jaccard verified >= 0.8)
  *     among admitted canonical texts, recorded as UNORDERED content-key
  *     pairs: text-level facts that stay valid when a group's rep id
  *     changes. Incremental mining (new groups vs all history + new vs
  *     new, [[DedupQueries.incrementalNearDupPairs]]) discovers each pair
  *     exactly once, at the batch its second group first appears.
  *  3. SURVIVORS + PACKING — per pair, the group whose CURRENT rep id is
  *     larger is dropped (d07's keep-canonical rule); survivors pack into
  *     512-token context windows per (lang, shard) exactly like t08.
  *     Survivor selection and packing are pure O(groups + pairs) functions
  *     recomputed from the folded state, so the stream result is the batch
  *     result of the state by construction — the fold (min-struct
  *     admission merge + monotone pair-set union) is associative and
  *     order-insensitive across any micro-batch split.
  *
  * State (content-keyed canon table + pair set) is a [[BatchFold]]
  * generation with two backings:
  *   - `stateDir` (THE DEFAULT — [[start]] requires one) — every committed
  *     micro-batch writes canon+pairs as
  *     parquet plus an atomically-renamed `_latest` marker (the
  *     transactional-table discipline: a crash mid-write leaves the marker
  *     on the previous batch, and the source checkpoint redelivers the
  *     uncommitted batch, which re-folds idempotently). A restart in a
  *     COMPLETELY FRESH SparkSession rehydrates from disk alone via
  *     [[StreamIngest.load]] — StreamingSpec proves stream == batch across
  *     such a restart. Production swaps the parquet-overwrite for a
  *     Delta/Iceberg MERGE and stores shingle hashes instead of text; the
  *     commit protocol is the same;
  *   - in-memory localCheckpointed frames ([[startEphemeral]]) — the
  *     single-session demo form, lost with the driver.
  * State size is O(distinct content keys + true pairs), never O(stream
  * length).
  */
object StreamIngest {

  private def features(docs: DataFrame): DataFrame =
    TextQueries.admissionFeaturesWithText(docs)

  /** Min-struct fold of (state ∪ batch-features) to one canonical row per
    * content key — StreamAdmission's merge, carrying the raw text along
    * for the near-dup stage. */
  private def foldCanon(prev: Option[DataFrame], batch: DataFrame): DataFrame = {
    val feats = features(batch)
    prev.map(_.unionByName(feats)).getOrElse(feats)
      .groupBy(col("content_key"))
      .agg(min(struct(col("doc_id"), col("predicted_lang"), col("n_tokens"),
        col("distinct_ratio_milli"), col("text"))).as("c"))
      .select(col("content_key"), col("c.doc_id").as("doc_id"),
        col("c.predicted_lang").as("predicted_lang"),
        col("c.n_tokens").as("n_tokens"),
        col("c.distinct_ratio_milli").as("distinct_ratio_milli"),
        col("c.text").as("text"))
  }

  /** t08's packing shape over survivor groups: per (lang, shard) the
    * canonical docs concatenate in doc_id order into 512-token chunks. */
  private def packChunks(survivors: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
    val b = lit(TextQueries.PackBudget) // the ONE budget both packers share
    survivors
      .select(col("doc_id"), col("predicted_lang").as("lang"),
        TextQueries.packShardCol.as("shard"),
        col("n_tokens").as("n"))
      .withColumn("fin", sum(col("n")).over(w))
      .withColumn("start", col("fin") - col("n"))
      .withColumn("c0", floor(col("start") / b).cast("long"))
      .withColumn("c1", floor((col("fin") - 1) / b).cast("long"))
      .select(col("lang"), col("shard"), col("start"), col("fin"),
        explode(sequence(col("c0"), col("c1"))).as("chunk"))
      .groupBy(col("lang"), col("shard"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least((col("chunk") + 1) * b, col("fin")) -
          greatest(col("chunk") * b, col("start"))).as("n_tokens"))
      .orderBy(col("lang"), col("shard"), col("chunk"))
  }

  /** Survivor groups + packed report from a canon table and a ck-pair set
    * — the pure function both paths share. */
  private def packedOf(canon: DataFrame, ckPairs: DataFrame): DataFrame =
    packedOfAdmitted(canon.filter(TextQueries.admissionGate), ckPairs)

  /** The post-gate half of [[packedOf]], shared with the TWS twin (whose
    * canon table holds admitted groups only — the gate already ran inside
    * the admission processor): per pair, drop the side whose CURRENT rep
    * id is larger, pack the survivors. */
  private[graft] def packedOfAdmitted(admitted: DataFrame, ckPairs: DataFrame): DataFrame = {
    val reps = admitted.select(col("content_key"), col("doc_id"))
    val dropped = ckPairs
      .join(reps.select(col("content_key").as("ck_a"), col("doc_id").as("id_a")), Seq("ck_a"))
      .join(reps.select(col("content_key").as("ck_b"), col("doc_id").as("id_b")), Seq("ck_b"))
      .select(when(col("id_a") > col("id_b"), col("ck_a")).otherwise(col("ck_b"))
        .as("content_key"))
      .distinct()
    packChunks(admitted.join(dropped, Seq("content_key"), "left_anti"))
  }

  /** Mine near-dup rep pairs where at least one side's content key is in
    * `newKeys`, as unordered ck pairs. The new slice reaches the band rows
    * as a doc_id FRAME (semi-joined inside
    * [[DedupQueries.incrementalNearDupPairs]]) — the driver never collects
    * the ids and no literal list enters the plan, so a backfill batch of
    * 10^7 new docs mines with the same three-join plan as a trickle
    * (StreamIngestPlanSpec gates the plan shape and the 10^4-doc fold). */
  private[graft] def minePairs(admitted: DataFrame, newKeys: DataFrame): DataFrame = {
    val newIds = admitted
      .join(newKeys, Seq("content_key"), "left_semi")
      .select(col("doc_id"))
    val idPairs = DedupQueries.incrementalNearDupPairs(
      admitted.sparkSession, admitted.select(col("doc_id"), col("text")), newIds)
    val ck = admitted.select(col("doc_id"), col("content_key"))
    idPairs
      .join(ck.select(col("doc_id").as("doc_a"), col("content_key").as("k1")), Seq("doc_a"))
      .join(ck.select(col("doc_id").as("doc_b"), col("content_key").as("k2")), Seq("doc_b"))
      .select(least(col("k1"), col("k2")).as("ck_a"),
        greatest(col("k1"), col("k2")).as("ck_b"))
      .distinct()
  }

  /** One-shot batch reference over a static (doc_id, text) frame.
    *
    * Pair mining goes through [[DedupQueries.minhashNearDupPairs]] directly
    * (everything is "new" in one batch, where incremental mining and full
    * mining coincide — the same slice-restriction equality DedupSpec proves
    * for d11). Oracle-gated as `t38_ingest_packed`. */
  def ingestBatch(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val canon = foldCanon(None, docs)
    // The admitted canon table feeds FIVE consumers (the pair miner's doc
    // frame, the ck mapping's two join sides, the survivor reps, and the
    // packer): its slot runs the feature pass and the content-key
    // aggregation once, as the streaming twin's fold checkpoint does.
    val admitted = graft.operators.OpCache.persistRotating("ingestBatch.admitted",
      canon.filter(TextQueries.admissionGate))
    // Unordered pair set (the ck joins + distinct below don't need d03's
    // declared output sort), via the pre-collapsed miner: admitted holds
    // ONE canonical row per content key (md5 of normalized text), so the
    // miner's exact-dup collapse shuffle would be a per-row no-op.
    val idPairs = DedupQueries.minhashNearDupPairsPreCollapsed(
      s, admitted.select(col("doc_id"), col("text")))
    val ck = admitted.select(col("doc_id"), col("content_key"))
    val pairs = idPairs
      .join(ck.select(col("doc_id").as("doc_a"), col("content_key").as("k1")), Seq("doc_a"))
      .join(ck.select(col("doc_id").as("doc_b"), col("content_key").as("k2")), Seq("doc_b"))
      .select(least(col("k1"), col("k2")).as("ck_a"),
        greatest(col("k1"), col("k2")).as("ck_b"))
      .distinct()
    packedOfAdmitted(admitted, pairs)
  }

  final class IngestState(s: SparkSession, stateDir: Option[String] = None) {

    private[graft] val fold = new BatchFold(s, Seq(
      "canon" -> { (prev, _, batch) => foldCanon(prev.get("canon"), batch) },
      "pairs" -> { (prev, next, _) =>
        val admitted = next("canon").filter(TextQueries.admissionGate)
        val newKeys = prev.get("canon") match {
          case Some(pc) => admitted.select(col("content_key"))
            .join(pc.select(col("content_key")), Seq("content_key"), "left_anti")
          case None => admitted.select(col("content_key"))
        }
        val mined = minePairs(admitted, newKeys)
        prev.get("pairs").map(_.unionByName(mined).distinct()).getOrElse(mined)
      }), stateDir)

    private[graft] def merge(batch: DataFrame, batchId: Long): Unit = fold.merge(batch, batchId)

    /** The packed corpus as of the last completed micro-batch: canon and
      * pairs come from one generation. */
    def packed: DataFrame = fold.view(t => packedOf(t("canon"), t("pairs")))

    /** The last folded micro-batch id — persisted next to the state
      * tables so a restart can resume the retry discipline. */
    def lastCommittedBatch: Long = fold.lastCommittedBatch
  }

  /** Rehydrate an [[IngestState]] from a `stateDir` previously written by a
    * `stateDir`-backed run — in ANY SparkSession, including a completely
    * fresh one after the original driver died: the only inputs are the
    * parquet tables and the `_latest` marker on disk. An empty/uninitialized
    * dir yields a fresh state (first start and restart share one call). */
  def load(s: SparkSession, stateDir: String): IngestState =
    new IngestState(s, Some(stateDir))

  /** THE FRONT DOOR — durable by default. Start the composed ingestion
    * over a streaming (doc_id, text) frame with its fold state backed by
    * `stateDir` (per-batch parquet tables + atomic `_latest` marker, the
    * [[BatchFold]] commit). The SAME call is restart-safe by
    * construction: it first rehydrates whatever `stateDir` holds (an
    * empty/uninitialized dir yields a fresh state), so first start and
    * every later restart — including in a brand-new SparkSession after
    * the original driver died — are literally one code path
    * (StreamingSpec's full-session-kill test drives exactly this call
    * twice). Pair `stateDir` with the query `checkpoint`: offsets the
    * checkpoint has committed are never redelivered, and their folded
    * result comes back from `stateDir`. */
  def start(docs: DataFrame, checkpoint: String,
      stateDir: String): (StreamingQuery, IngestState) =
    startWith(docs, checkpoint, load(docs.sparkSession, stateDir))

  /** DEMO/TEST overload — ephemeral state. The fold lives in driver-held
    * localCheckpointed frames and dies with the session; a restart
    * without a rehydrated `prior` silently starts empty while the query
    * checkpoint skips the already-committed offsets (split-brain). Use
    * [[start]] with a `stateDir` for anything that must survive a
    * restart; this overload exists for single-session demos and the
    * equivalence tests that hand-drive `prior`. */
  def startEphemeral(docs: DataFrame, checkpoint: String,
      prior: Option[IngestState] = None): (StreamingQuery, IngestState) =
    startWith(docs, checkpoint,
      prior.getOrElse(new IngestState(docs.sparkSession, None)))

  private def startWith(docs: DataFrame, checkpoint: String,
      state: IngestState): (StreamingQuery, IngestState) =
    (state.fold.start("StreamIngest", docs, Some(checkpoint)), state)
}
