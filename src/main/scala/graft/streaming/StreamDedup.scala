package graft.streaming

import graft.operators.DedupQueries
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Incremental near-duplicate detection — dedup AT INGESTION, the shape a
  * training-data pipeline actually needs: as documents stream in, each is
  * checked against everything already admitted and near-dup pairs are
  * emitted immediately, instead of re-running batch dedup over the whole
  * corpus per delivery.
  *
  * Same MinHash-LSH math as the batch d03 pipeline (shared JVM kernels in
  * [[DedupQueries]]): a document explodes into one row per LSH band, rows
  * shuffle to their (band, band_hash) bucket, and the shared bucket
  * processor [[BandBuckets]] keeps the bucket's history in `ListState`.
  * Exactly-once pair emission WITHOUT a second stateful operator (chained
  * stateful ops need watermarks the corpus doesn't have): a colliding pair
  * is emitted only by the bucket of its MINIMAL shared band — every bucket
  * can decide this locally from the two signatures, so no cross-bucket
  * dedup stage exists at all. The emitted pair set over any prefix of the
  * stream equals batch d03 over the same prefix (StreamDedupSpec asserts
  * final-set equality). The semantic and perceptual twins below run on
  * the same processor; each twin supplies only its stored entry,
  * id, first shared band and verify.
  *
  * Scale notes: state is partitioned by (band, band_hash) — the same key
  * the batch self-join shuffles on — and grows with admitted corpus size,
  * the irreducible cost of exact verification; production would store
  * 64-bit shingle HASHES instead of strings (bounded row size; a collision
  * can only perturb a borderline jaccard by ~1/|union|), kept as strings
  * here so stream ≡ batch is bit-exact. An adversarial flood of identical
  * documents concentrates in one bucket (the batch path collapses exact
  * dups first — DedupQueries.minhashNearDupPairs); the streaming analogue
  * is an exact-dup front gate (t05's StreamAdmission) ahead of this
  * operator.
  */
object StreamDedup {

  /** One LSH band row of an incoming document (shingles carried for the
    * exact-jaccard verify at emission time). */
  final case class BandedDoc(docId: Long, band: Int, bh: Long, sh: Seq[String])

  /** A verified near-dup pair, `doc_a < doc_b`, jaccard in milli. */
  final case class NearDupPair(doc_a: Long, doc_b: Long, j_milli: Long)

  /** Bucket history entry: signature cached so the min-shared-band check
    * does not recompute it per comparison. */
  final case class StoredDoc(docId: Long, sig: Seq[Long], sh: Seq[String])

  /** Streaming MinHash-LSH near-dup pairs over a (streaming or batch)
    * DataFrame with `doc_id` and `text` columns. Append-mode output. */
  def nearDupPairsStream(docs: DataFrame): Dataset[NearDupPair] = {
    val s = docs.sparkSession
    import s.implicits._
    DedupQueries.shinglesOf(s, docs)
      .as[(Long, Seq[String])]
      .flatMap { case (id, sh) =>
        val sig = DedupQueries.minhashSigOf(sh)
        (0 until DedupQueries.numBands).iterator
          .map(b => BandedDoc(id, b, DedupQueries.bandHashOf(b, sig), sh))
      }
      .groupByKey(r => (r.band, r.bh))
      .transformWithState(
        new BandBuckets[Long, BandedDoc, StoredDoc, Long, NearDupPair](
          r => StoredDoc(r.docId, DedupQueries.minhashSigOf(r.sh).toSeq, r.sh), _.docId,
          (prev, e) => firstSharedMinhashBand(prev.sig, e.sig),
          { (prev, e) =>
            val j = DedupQueries.jaccardMilliOf(prev.sh, e.sh)
            Option.when(j >= 800)(
              NearDupPair(math.min(prev.docId, e.docId), math.max(prev.docId, e.docId), j))
          },
          Encoders.product[StoredDoc]),
        TimeMode.None(), OutputMode.Append(), Encoders.product[NearDupPair])
  }

  // ----- semantic twin: incremental embedding sign-LSH dedup ---------------

  /** One LSH table row of an incoming vector: its bucket in table `tbl`,
    * plus the full embedding and all-table bucket array for the
    * min-shared-table decision and exact-cosine verify. */
  final case class BandedVec(vecId: Long, tbl: Int, bucket: Long,
      emb: Seq[Float], buckets: Seq[Long])

  /** A verified semantic near-dup pair, `vec_a < vec_b`, cosine in milli. */
  final case class EmbNearDupPair(vec_a: Long, vec_b: Long, cos_milli: Long)

  private[streaming] final case class StoredVec(vecId: Long, emb: Seq[Float], buckets: Seq[Long])

  /** Streaming sign-LSH embedding near-dup pairs over a (streaming or
    * batch) DataFrame with `vec_id` and `embedding` columns — the semantic
    * twin of [[nearDupPairsStream]], sharing batch d06's bucket and cosine
    * kernels. Exactly-once emission at the pair's MINIMAL shared LSH
    * table, decided locally from the stored bucket arrays. */
  def embeddingNearDupPairsStream(embs: DataFrame,
      tables: Int = DedupQueries.lshTableCount,
      planesPerTable: Int = DedupQueries.lshPlanesPerTableCount,
      minCosMilli: Long = 400L): Dataset[EmbNearDupPair] = {
    val s = embs.sparkSession
    import s.implicits._
    val planes = graft.functions.VectorFns.hyperplanes(
      tables * planesPerTable, DedupQueries.embDim)
    embs.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        val bks = DedupQueries.lshBucketsOf(emb, tables, planesPerTable, planes)
        (0 until tables).iterator.map(t => BandedVec(id, t, bks(t), emb.toSeq, bks.toSeq))
      }
      .groupByKey(r => (r.tbl, r.bucket))
      .transformWithState(
        new BandBuckets[Long, BandedVec, StoredVec, Long, EmbNearDupPair](
          r => StoredVec(r.vecId, r.emb, r.buckets), _.vecId,
          (prev, e) => BandBuckets.firstBand(prev.buckets.length)(t => prev.buckets(t) == e.buckets(t)),
          { (prev, e) =>
            val c = DedupQueries.cosMilliOf(prev.emb.toArray, e.emb.toArray)
            Option.when(c >= minCosMilli)(
              EmbNearDupPair(math.min(prev.vecId, e.vecId), math.max(prev.vecId, e.vecId), c))
          },
          Encoders.product[StoredVec]),
        TimeMode.None(), OutputMode.Append(), Encoders.product[EmbNearDupPair])
  }

  // ----- perceptual twin: incremental media dHash dedup --------------------

  /** One pigeonhole chunk row of an incoming asset's 64-bit perceptual
    * dHash (m08's kernel): chunk `idx` of 4, plus all four chunks for the
    * min-shared-chunk decision and the Hamming verify. */
  final case class BandedHash(assetId: Long, idx: Int, chunk: Int, chunks: Seq[Int])

  /** A verified perceptual near-dup pair, `asset_a < asset_b`. */
  final case class MediaNearDupPair(asset_a: Long, asset_b: Long, hamming: Long)

  private[streaming] final case class StoredHash(assetId: Long, chunks: Seq[Int])

  /** Streaming perceptual near-dup pairs over (streaming or batch) media
    * assets — the third modality twin beside the lexical and semantic
    * ones, sharing batch m08's dHash kernel and Hamming-3 pigeonhole.
    * Exactly-once emission at the pair's MINIMAL shared chunk, decided
    * locally from the stored 4-chunk fingerprints; state is O(assets x
    * 16 bytes) per bucket — the smallest of the three twins. */
  def mediaNearDupPairsStream(assets: Dataset[graft.operators.Multimodal.MediaAsset],
      maxHamming: Long = 3L): Dataset[MediaNearDupPair] = {
    val s = assets.sparkSession
    import s.implicits._
    assets.flatMap { a =>
      graft.operators.Multimodal.dHashChunks(a).iterator.flatMap {
        case (id, _, c0, c1, c2, c3) =>
          val cs = Seq(c0, c1, c2, c3)
          cs.zipWithIndex.map { case (c, i) => BandedHash(id, i, c, cs) }
      }
    }
      .groupByKey(r => (r.idx, r.chunk))
      .transformWithState(
        new BandBuckets[Int, BandedHash, StoredHash, Long, MediaNearDupPair](
          r => StoredHash(r.assetId, r.chunks), _.assetId,
          (prev, e) => BandBuckets.firstBand(e.chunks.length)(i => prev.chunks(i) == e.chunks(i)),
          { (prev, e) =>
            val ham = e.chunks.indices
              .map(i => java.lang.Integer.bitCount(prev.chunks(i) ^ e.chunks(i))).sum.toLong
            Option.when(ham <= maxHamming)(
              MediaNearDupPair(math.min(prev.assetId, e.assetId), math.max(prev.assetId, e.assetId), ham))
          },
          Encoders.product[StoredHash]),
        TimeMode.None(), OutputMode.Append(), Encoders.product[MediaNearDupPair])
  }

  /** First LSH band where two MinHash signatures hash alike, -1 if none. */
  private[streaming] def firstSharedMinhashBand(a: Seq[Long], b: Seq[Long]): Int = {
    val sa = a.toArray
    val sb = b.toArray
    BandBuckets.firstBand(DedupQueries.numBands)(i =>
      DedupQueries.bandHashOf(i, sa) == DedupQueries.bandHashOf(i, sb))
  }
}
