package graft.streaming

import graft.operators.DedupQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental cluster-label maintenance (streaming d08) — the last
  * batch-only step in the otherwise fully incremental ingestion story:
  * the dedup twins emit verified near-dup PAIRS live, but cluster LABELS
  * (the grain d16's savings, d19's mirror matrix, and t46's license folds
  * report at) required re-running the full pointer-jumping closure over
  * all history. This twin folds each micro-batch of pairs into a
  * persistent union-find parent table instead:
  *
  *  1. the batch's endpoint ids look up their CURRENT roots in the state
  *     (one equi-join against the O(entities) parent table; absent ids
  *     root at themselves);
  *  2. distinct root-level edges — O(batch), usually far smaller — run
  *     through [[DedupQueries.clusterLabels]]'s gated pointer-jumping
  *     closure to produce the old-root -> new-root merge map (new root =
  *     min id, d08's canonical-label convention);
  *  3. the state re-labels through that map (a broadcast-sized join: the
  *     map is O(batch roots)) and absorbs the batch's new entities.
  *
  * Per-batch cost is the closure over O(new pairs) root edges plus ONE
  * linear pass over the parent table — never a closure over history. The
  * min-label invariant is maintained exactly: a merged component's min id
  * is the min over its merged roots' labels and any new (self-rooted)
  * ids, which is precisely what the root-graph closure computes — so
  * after any prefix of the stream, [[ClusterState.labelsFor]] equals
  * batch [[DedupQueries.clusterLabels]] over the union of that prefix's
  * pairs (StreamDedupSpec asserts this across splits, cross-batch
  * component merges, and a restart).
  *
  * Durable by default: [[start]] requires a `stateDir`, and the
  * [[BatchFold]] commits the parent table per batch and rehydrates it on
  * restart, so the same call serves both.
  * State size is O(touched entities) — exactly the entities that ever
  * appeared in a pair; isolated docs label themselves at read time. */
object StreamClusterLabels {

  final class ClusterState(s: SparkSession, stateDir: Option[String]) {

    // the parent table: (doc_id, cluster_id)
    private[graft] val fold = new BatchFold(s, Seq("labels" -> { (gen, _, batch) =>
      val pairs = batch.select(col("doc_a"), col("doc_b"))
      val prev = gen.getOrElse("labels", {
        val e = s.emptyDataFrame
          .withColumn("doc_id", lit(0L)).withColumn("cluster_id", lit(0L))
        e.filter(lit(false))
      })
      // 1. endpoints -> current roots (absent ids root at themselves)
      val rootOf = prev.select(col("doc_id"), col("cluster_id").as("root"))
      def rooted(side: String) = pairs.select(col(side).as("doc_id"))
        .join(rootOf, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("root"))
      val endpoints = rooted("doc_a").unionByName(rooted("doc_b")).distinct()
      // 2. root-level edges; closure over the O(batch) root graph gives
      //    the old-root -> new-root merge map (min-id convention)
      val rootEdges = pairs
        .join(endpoints.select(col("doc_id").as("doc_a"), col("root").as("ra")), Seq("doc_a"))
        .join(endpoints.select(col("doc_id").as("doc_b"), col("root").as("rb")), Seq("doc_b"))
        .filter(col("ra") =!= col("rb"))
        .select(col("ra").as("doc_a"), col("rb").as("doc_b"))
        .distinct()
      val touchedRoots = rootEdges.select(col("doc_a").as("doc_id"))
        .unionByName(rootEdges.select(col("doc_b").as("doc_id"))).distinct()
      val mergeMap = DedupQueries.clusterLabels(touchedRoots, rootEdges)
        .select(col("doc_id").as("old_root"), col("cluster_id").as("new_root"))
        .filter(col("old_root") =!= col("new_root"))
      // 3. one linear pass over the parent table through the O(batch)
      //    merge map, plus the batch's new entities at their final roots
      val relabeled = prev
        .join(mergeMap.withColumnRenamed("old_root", "cluster_id"), Seq("cluster_id"), "left")
        .select(col("doc_id"), coalesce(col("new_root"), col("cluster_id")).as("cluster_id"))
      val fresh = endpoints.join(prev.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .join(mergeMap.withColumnRenamed("old_root", "root"), Seq("root"), "left")
        .select(col("doc_id"), coalesce(col("new_root"), col("root")).as("cluster_id"))
      relabeled.unionByName(fresh)
    }), stateDir)

    private[graft] def merge(batch: DataFrame, batchId: Long): Unit = fold.merge(batch, batchId)

    /** The raw parent table: (doc_id, cluster_id) for every entity that
      * ever appeared in a pair, as of the last completed micro-batch. */
    def snapshot: DataFrame = fold.view(_("labels"))

    /** d08's report view over an arbitrary doc universe: every doc in
      * `docs` labeled — touched entities from the state, isolated docs
      * by themselves — exactly batch
      * [[DedupQueries.clusterLabels]](docs, prefix pairs). */
    def labelsFor(docs: DataFrame): DataFrame = {
      val l = snapshot
      val base = docs.select(col("doc_id"))
      val joined = if (l.columns.isEmpty) base.withColumn("st", lit(null).cast("long"))
        else base.join(l.select(col("doc_id"), col("cluster_id").as("st")), Seq("doc_id"), "left")
      joined.select(col("doc_id"),
          coalesce(col("st"), col("doc_id")).as("cluster_id"))
        .orderBy(col("doc_id"))
    }

    /** The last folded micro-batch id. */
    def lastCommittedBatch: Long = fold.lastCommittedBatch
  }

  /** Rehydrate a [[ClusterState]] from a `stateDir` written by a previous
    * run — in any SparkSession ([[BatchFold]]'s rehydration). */
  def load(s: SparkSession, stateDir: String): ClusterState =
    new ClusterState(s, Some(stateDir))

  /** THE FRONT DOOR — durable by default: state persists to `stateDir`
    * per batch and the same call rehydrates it on restart. `pairs` is the
    * streaming (doc_a, doc_b) verified near-dup pair feed (the dedup
    * twins' output shape). */
  def start(pairs: DataFrame, checkpoint: String,
      stateDir: String): (StreamingQuery, ClusterState) =
    startWith(pairs, checkpoint, load(pairs.sparkSession, stateDir))

  /** DEMO/TEST overload — ephemeral state, lost with the session. */
  def startEphemeral(pairs: DataFrame,
      checkpoint: String): (StreamingQuery, ClusterState) =
    startWith(pairs, checkpoint, new ClusterState(pairs.sparkSession, None))

  private def startWith(pairs: DataFrame, checkpoint: String,
      state: ClusterState): (StreamingQuery, ClusterState) =
    (state.fold.start("StreamClusterLabels", pairs, Some(checkpoint)), state)
}
