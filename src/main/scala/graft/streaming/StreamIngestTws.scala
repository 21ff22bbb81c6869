package graft.streaming

import graft.operators.{DedupQueries, TextQueries}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}

/** The composed ingestion pipeline ([[StreamIngest]]'s semantics: t05
  * admission -> d03 near-dup -> t08 packing) on the transformWithState
  * path — state in the EXECUTOR state store, the same machinery the three
  * component twins ([[StreamAdmission]]/[[StreamDedup]]/[[StreamCdc]])
  * already use, instead of [[StreamIngest.IngestState]]'s driver-side
  * mining fold.
  *
  * One streaming query, two chained stateful operators (Spark 4 permits
  * chained transformWithState in append mode on the RocksDB provider —
  * required; HDFS-backed stores reject the multiple column families):
  *
  *  1. ADMISSION — rows key by content_key; a ValueState holds (current
  *     rep id, admitted?). First sight of a key runs the t05 gate (JVM
  *     twin [[TextQueries.admits]] — gate inputs are functions of the
  *     normalized text, so the decision is permanent) and, when admitted,
  *     emits ONE `canon` event (the group's rep) plus ONE `admit` event
  *     (the canonical text, mined exactly once ever). A later smaller
  *     doc_id only shrinks the rep: another `canon` event, no re-mining.
  *  2. NEAR-DUP — `admit` events explode into LSH band rows (the batch
  *     d03 kernels: [[DedupQueries.shinglesOfText]]/minhashSigOf/
  *     bandHashOf) keyed by (band, band_hash); the shared bucket
  *     processor [[BandBuckets]] (the one [[StreamDedup]]'s twins run on)
  *     holds each bucket's history in a ListState and emits a colliding
  *     pair only at its MINIMAL shared band after the exact-jaccard >= 0.8
  *     verify, at content-key granularity. `canon` events pass through
  *     stage 2 untouched (band -1, spread across buckets by ck hash, no
  *     state touched) before the bucket processor runs.
  *
  * The foreachBatch sink only FOLDS emitted events into the two report
  * tables (admitted canon: min-rep upsert; pairs: monotone union) and
  * recomputes the packed report via [[StreamIngest.packedOfAdmitted]] —
  * no mining, no joins against history: all heavy state (bucket
  * signatures, admission keys) lives in the checkpointed state store and
  * is restored by Spark on restart. Report tables persist per batch via
  * the [[BatchFold]] commit when `stateDir` is set (same protocol as
  * [[StreamIngest]]).
  *
  * Scale notes: state partitions by (band, band_hash) — the batch
  * self-join's own shuffle key; per-batch sink work is O(emitted events),
  * never O(corpus); the packed report is O(admitted groups + pairs), the
  * same transactional-table discipline as the driver-fold twin.
  * StreamIngestTwsSpec proves stream == [[StreamIngest.ingestBatch]] over
  * every prefix, across a checkpointed mid-stream restart, and kernel
  * equivalence of the JVM shingle path against the batch Column path. */
object StreamIngestTws {

  /** Stage-1 input: one admission-feature row per incoming doc (the
    * [[TextQueries.admissionFeaturesWithText]] row shape). */
  final case class DocIn(doc_id: Long, content_key: String, predicted_lang: String,
      n_tokens: Long, distinct_ratio_milli: Long, text: String)

  /** Unified chain event. kind = "canon": an admitted group's current rep
    * (ck, rep_id, lang, n_tokens); "pair": a verified near-dup pair
    * (ck, ck2, rep_id = jaccard milli); "admit": a newly-admitted
    * canonical text — exists only BETWEEN the stages (the banding flatMap
    * consumes it; stage 2 never passes it through). */
  final case class IngestEvent(kind: String, ck: String, ck2: String,
      rep_id: Long, lang: String, n_tokens: Long, text: String)

  /** Stage-2 input: an LSH band row of a newly-admitted canonical text, or
    * a passthrough canon update (band -1, bucket-spread by ck hash). */
  final case class BandedCk(band: Int, bh: Long, ck: String, sh: Seq[String],
      kind: String, repId: Long, lang: String, nTokens: Long)

  private[streaming] final case class StoredCk(ck: String, sig: Seq[Long], sh: Seq[String])

  private final class AdmissionProc extends StatefulProcessor[String, DocIn, IngestEvent] {
    @transient private var group: ValueState[(Long, Boolean)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      group = getHandle.getValueState("group", Encoders.product[(Long, Boolean)],
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[DocIn],
        tv: TimerValues): Iterator[IngestEvent] = {
      // gate features are functions of the NORMALIZED text — equal across
      // every copy in the group, so the min-id row stands for the batch
      val minRow = rows.minBy(_.doc_id)
      val out = Vector.newBuilder[IngestEvent]
      Option(group.get()) match {
        case None =>
          val admitted = TextQueries.admits(minRow.n_tokens, minRow.distinct_ratio_milli)
          group.update((minRow.doc_id, admitted))
          if (admitted) {
            out += IngestEvent("canon", key, "", minRow.doc_id,
              minRow.predicted_lang, minRow.n_tokens, "")
            out += IngestEvent("admit", key, "", 0L, "", 0L, minRow.text)
          }
        case Some((rep, admitted)) =>
          if (minRow.doc_id < rep) { // rep shrink: update, never re-mine
            group.update((minRow.doc_id, admitted))
            if (admitted)
              out += IngestEvent("canon", key, "", minRow.doc_id,
                minRow.predicted_lang, minRow.n_tokens, "")
          }
      }
      out.result().iterator
    }
  }

  /** Stage 2's buckets: [[BandBuckets]] at content-key granularity, after
    * the canon passthrough (band -1: stateless, no bucket state touched). */
  private final class CkBuckets
      extends BandBuckets[Long, BandedCk, StoredCk, String, IngestEvent](
        r => StoredCk(r.ck, DedupQueries.minhashSigOf(r.sh).toSeq, r.sh), _.ck,
        (prev, e) => StreamDedup.firstSharedMinhashBand(prev.sig, e.sig),
        { (prev, e) =>
          val j = DedupQueries.jaccardMilliOf(prev.sh, e.sh)
          val (a, b) = if (prev.ck < e.ck) (prev.ck, e.ck) else (e.ck, prev.ck)
          Option.when(j >= 800)(IngestEvent("pair", a, b, j, "", 0L, ""))
        },
        Encoders.product[StoredCk]) {
    override def handleInputRows(key: (Int, Long), rows: Iterator[BandedCk],
        tv: TimerValues): Iterator[IngestEvent] =
      if (key._1 < 0)
        rows.toVector.map(r =>
          IngestEvent("canon", r.ck, "", r.repId, r.lang, r.nTokens, "")).iterator
      else super.handleInputRows(key, rows, tv)
  }

  /** The chained-TWS event stream over a streaming (doc_id, text) frame. */
  private def events(docs: DataFrame): Dataset[IngestEvent] = {
    val s = docs.sparkSession
    import s.implicits._
    nearDupStage(TextQueries.admissionFeaturesWithText(docs)
      .as[DocIn]
      .groupByKey(_.content_key)
      .transformWithState(new AdmissionProc, TimeMode.None(), OutputMode.Append(),
        Encoders.product[IngestEvent]))
  }

  /** Stage 2 over stage-1 events: an `admit` event explodes into its LSH
    * band rows, a `canon` event passes through; emits `canon` and `pair`. */
  private[graft] def nearDupStage(stage1: Dataset[IngestEvent]): Dataset[IngestEvent] = {
    val s = stage1.sparkSession
    import s.implicits._
    stage1.flatMap { e =>
      if (e.kind == "admit") {
        val sh = DedupQueries.shinglesOfText(e.text)
        val sig = DedupQueries.minhashSigOf(sh)
        (0 until DedupQueries.numBands).iterator.map(b =>
          BandedCk(b, DedupQueries.bandHashOf(b, sig), e.ck, sh, "admit", 0L, "", 0L))
      } else
        Iterator.single(BandedCk(-1, e.ck.hashCode.toLong, e.ck, Nil,
          e.kind, e.rep_id, e.lang, e.n_tokens))
    }
      .groupByKey(r => (r.band, r.bh))
      .transformWithState(new CkBuckets, TimeMode.None(), OutputMode.Append(),
        Encoders.product[IngestEvent])
  }

  /** The report fold: admitted canon (min-rep upsert) + pair set (monotone
    * union), each O(admitted groups + pairs) — no mining, no history
    * joins; those live in the state store. */
  final class TwsIngestState(s: SparkSession, stateDir: Option[String] = None) {

    private[graft] val fold = new BatchFold(s, Seq(
      "canon" -> { (prev, _, events) => // admitted groups only
        val canonB = events.filter(col("kind") === "canon")
          .select(col("ck").as("content_key"), col("rep_id").as("doc_id"),
            col("lang").as("predicted_lang"), col("n_tokens"))
        prev.get("canon").map(_.unionByName(canonB)).getOrElse(canonB)
          .groupBy(col("content_key"))
          .agg(min(struct(col("doc_id"), col("predicted_lang"), col("n_tokens"))).as("c"))
          .select(col("content_key"), col("c.doc_id").as("doc_id"),
            col("c.predicted_lang").as("predicted_lang"),
            col("c.n_tokens").as("n_tokens"))
      },
      "pairs" -> { (prev, _, events) =>
        val pairB = events.filter(col("kind") === "pair")
          .select(col("ck").as("ck_a"), col("ck2").as("ck_b"))
        prev.get("pairs").map(_.unionByName(pairB)).getOrElse(pairB).distinct()
      }), stateDir)

    private[graft] def merge(events: DataFrame, batchId: Long): Unit = fold.merge(events, batchId)

    /** The packed corpus as of the last completed micro-batch: canon and
      * pairs come from one generation. */
    def packed: DataFrame = fold.view(t => StreamIngest.packedOfAdmitted(t("canon"), t("pairs")))

    /** The last folded micro-batch id. */
    def lastCommittedBatch: Long = fold.lastCommittedBatch
  }

  /** Rehydrate the report fold from a `stateDir` written by a previous run
    * — in any SparkSession ([[BatchFold]]'s rehydration). */
  def load(s: SparkSession, stateDir: String): TwsIngestState =
    new TwsIngestState(s, Some(stateDir))

  /** THE FRONT DOOR — durable by default ([[StreamIngest.start]]'s
    * contract): the report fold persists to `stateDir` per batch and the
    * SAME call rehydrates it on restart, so first start and restart are
    * one code path. Requires the RocksDB state store provider (chained
    * column families). The query checkpoint holds BOTH operators'
    * executor-side state; `stateDir` carries only the report fold. */
  def start(docs: DataFrame, checkpoint: String,
      stateDir: String): (StreamingQuery, TwsIngestState) =
    startWith(docs, checkpoint, load(docs.sparkSession, stateDir))

  /** DEMO/TEST overload — ephemeral report fold (the heavy dedup state
    * still lives in the checkpointed state store, but the folded report
    * tables die with the session; a restart without a rehydrated `prior`
    * silently resumes with empty reports). Use [[start]] with a
    * `stateDir` for anything that must survive a restart. */
  def startEphemeral(docs: DataFrame, checkpoint: String,
      prior: Option[TwsIngestState] = None): (StreamingQuery, TwsIngestState) =
    startWith(docs, checkpoint,
      prior.getOrElse(new TwsIngestState(docs.sparkSession, None)))

  private def startWith(docs: DataFrame, checkpoint: String,
      state: TwsIngestState): (StreamingQuery, TwsIngestState) = {
    require(docs.isStreaming, "StreamIngestTws.start needs a streaming DataFrame")
    (state.fold.start("StreamIngestTws", events(docs).toDF(), Some(checkpoint)), state)
  }
}
