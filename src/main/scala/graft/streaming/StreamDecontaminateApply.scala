package graft.streaming

import graft.Tables
import graft.operators.{LshPairs, SimilarityQueries, TextQueries}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The s23 decontamination APPLY step at ingestion — the gate a
  * production train-corpus build actually runs: every micro-batch of
  * candidate train docs is filtered against BOTH static heldout gates
  * (t44's lexical shingle rule and s22's semantic cosine rule) and the
  * KEPT slice lands in the output corpus. Unlike the report twins
  * ([[StreamDecontaminate]] / [[StreamSemanticDecontaminate]]) this twin
  * holds NO fold state at all: each doc's keep/drop decision depends
  * only on the static heldout structures (shingle set + bucket frame,
  * both built once at start, geometry from the heldout count), so the
  * gate is a pure per-batch filter — per-batch cost O(new docs), and the
  * union of emitted slices equals batch
  * [[SimilarityQueries.decontaminatedCorpus]] over heldout + the whole
  * prefix, after any prefix (StreamingSpec asserts this across splits
  * and a restart).
  *
  * Exactly-once output without a state store: each batch writes its kept
  * slice to `outDir/batch_<id>` with mode=overwrite, so a redelivered
  * micro-batch rewrites the same directory with the same rows (the
  * decision is deterministic against static gates) instead of appending
  * duplicates. [[kept]] reads the union back. */
object StreamDecontaminateApply {

  private final case class Gates(heldSh: DataFrame, held: LshPairs.Side, minCosMilli: Long)

  private def gatesOf(heldout: DataFrame, minCosMilli: Long): Gates = {
    val held = StreamSemanticDecontaminate.heldStateOf(heldout)
    val heldSh = TextQueries.docShingles(
        heldout.select(col("doc_id"), col("text"), col("lang")))
      .select(explode(col("gs")).as("g")).distinct()
      .localCheckpoint() // static: built once, probed by every batch
    Gates(heldSh, held, minCosMilli)
  }

  /** One micro-batch through both gates: the kept (doc_id, lang, n_toks)
    * slice — the same seams ([[TextQueries.lexDroppedIds]] and the
    * [[LshPairs]] cross form) the batch apply step and both report twins
    * run. */
  private def keptBatch(batch: DataFrame, g: Gates): DataFrame = {
    val sh = TextQueries.docShingles(
      batch.select(col("doc_id"), col("text"), col("lang")))
    val lexDropped = TextQueries.lexDroppedIds(sh, g.heldSh)
    val withVec = batch.filter(col("embedding").isNotNull)
      .select(col("doc_id"), col("embedding"))
    val semDropped = LshPairs.crossPairs(withVec, g.held)
      .filter(col("cos_milli") >= g.minCosMilli)
      .select(col("a").as("doc_id")).distinct()
    sh.join(lexDropped.unionByName(semDropped).distinct(),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_toks"))
  }

  /** The cleaned corpus emitted so far: the union of every committed
    * batch's kept slice under `outDir`. */
  def kept(s: SparkSession, outDir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_"))
      .map(_.getPath.toString)
    if (dirs.isEmpty) s.emptyDataFrame
    else Tables.parquet(s, dirs.toIndexedSeq: _*)
  }

  /** Start the gate: `train` is the streaming (doc_id, text, lang,
    * embedding) candidate corpus; `heldout` the static benchmark frame of
    * the same shape. Each batch's kept slice lands idempotently in
    * `outDir/batch_<id>`. */
  def start(train: DataFrame, heldout: DataFrame, checkpoint: String,
      outDir: String, minCosMilli: Long = 400L): StreamingQuery = {
    require(train.isStreaming,
      "StreamDecontaminateApply.start needs a streaming DataFrame")
    val g = gatesOf(heldout, minCosMilli)
    train.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        keptBatch(batch, g).write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      .start()
  }
}
