package graft

import graft.operators.{DedupQueries, Multimodal}
import graft.streaming.{StreamDedup, StreamIngestTws}
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The min-shared-band bucket contract every LSH bucket twin gets from
  * `graft.streaming.BandBuckets`, checked over all four twins (lexical,
  * semantic and perceptual [[StreamDedup]], and [[StreamIngestTws]]'s
  * near-dup stage) on small planted corpora, each item `i` with
  * `i % 10 == 9` a near-dup of item `i - 1`:
  *
  *  - re-delivering an already-processed chunk emits nothing new;
  *  - two micro-batch splits of the same input emit the same pair set,
  *    each pair once;
  *  - a planted pair that collides in at least two bands is emitted
  *    exactly once. */
class BandBucketsSpec extends SparkSpec {

  import spark.implicits._

  private val n = 30
  private val planted = Set((8, 9), (18, 19), (28, 29))

  /** A started streaming run of one twin over corpus items. */
  private final class Run(val add: Seq[Int] => Unit, val pairs: () => Seq[(String, String)],
      val stop: () => Unit)

  private var runs = 0

  /** Start `twin` on a MemoryStream of `item(i)`s into a memory table. */
  private def stream[T: Encoder, O: Encoder](item: Int => T)(twin: Dataset[T] => Dataset[O])(
      pair: O => (String, String)): () => Run = { () =>
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[T]
    runs += 1
    val table = s"band_buckets_$runs"
    val q = twin(ms.toDS()).writeStream.format("memory").queryName(table)
      .outputMode("append").start()
    new Run({ items => ms.addData(items.map(item)); q.processAllAvailable() },
      () => spark.table(table).as[O].collect().toSeq.map(pair), () => q.stop())
  }

  private def vec(i: Int): (Long, Array[Float]) = {
    val base = if (i % 10 == 9) i - 1 else i
    val emb = Array.tabulate(DedupQueries.embDim)(j =>
      (ScaleCorpus.mix(base * 131L + j).toDouble / Long.MaxValue).toFloat)
    if (i % 10 == 9) emb(0) += 0.01f
    (i.toLong, emb)
  }

  private def asset(i: Int): Multimodal.MediaAsset = {
    val rnd = new scala.util.Random(if (i % 10 == 9) i - 1 else i)
    val px = Array.fill(3000)(rnd.nextInt(180).toByte)
    val shifted = if (i % 10 == 9) px.map(x => ((x & 0xff) + 40).toByte) else px
    Multimodal.MediaAsset(i.toLong, shifted, "image/png", shifted.length.toLong)
  }

  private def text(i: Int): String = ScaleCorpus.doc(i.toLong)._2

  private def minhashBands(i: Int): Seq[Long] = {
    val sig = DedupQueries.minhashSigOf(DedupQueries.shinglesOfText(text(i)))
    (0 until DedupQueries.numBands).map(DedupQueries.bandHashOf(_, sig))
  }

  private lazy val planes = graft.functions.VectorFns.hyperplanes(
    DedupQueries.lshTableCount * DedupQueries.lshPlanesPerTableCount, DedupQueries.embDim)

  /** Twin registry: name -> (the twin's pair id of item i, the item's
    * per-band bucket values, a fresh run). */
  private lazy val twins: Seq[(String, Int => String, Int => Seq[Long], () => Run)] = Seq(
    ("lexical", _.toString, minhashBands,
      stream((i: Int) => (i.toLong, text(i)))(ds =>
        StreamDedup.nearDupPairsStream(ds.toDF("doc_id", "text")))(p =>
        (p.doc_a.toString, p.doc_b.toString))),
    ("semantic", _.toString,
      i => DedupQueries.lshBucketsOf(vec(i)._2, DedupQueries.lshTableCount,
        DedupQueries.lshPlanesPerTableCount, planes).toSeq,
      stream(vec)(ds =>
        StreamDedup.embeddingNearDupPairsStream(ds.toDF("vec_id", "embedding")))(p =>
        (p.vec_a.toString, p.vec_b.toString))),
    ("perceptual", _.toString,
      i => Multimodal.dHashChunks(asset(i)).toSeq.flatMap { case (_, _, c0, c1, c2, c3) =>
        Seq(c0, c1, c2, c3).map(_.toLong) },
      stream(asset)(StreamDedup.mediaNearDupPairsStream(_))(p =>
        (p.asset_a.toString, p.asset_b.toString))),
    ("StreamIngestTws content-key", i => s"k$i", minhashBands,
      stream((i: Int) => StreamIngestTws.IngestEvent("admit", s"k$i", "", 0L, "", 0L, text(i)))(
        StreamIngestTws.nearDupStage)(e => (e.ck, e.ck2))))

  private def runOver[T](start: () => Run, chunks: Seq[Seq[Int]])(read: Run => T): T =
    withRocksDb {
      val r = start()
      try { chunks.foreach(r.add); read(r) } finally r.stop()
    }

  private val oneBatch = Seq(0 until n)
  private val split = Seq(0 until 1, 1 until 9, 9 until 10, 10 until 19, 19 until n)

  for ((name, idOf, bands, start) <- twins) {
    def pairSet(ps: Set[(Int, Int)]) = ps.map { case (a, b) => Set(idOf(a), idOf(b)) }
    def asSets(got: Seq[(String, String)]) = got.map { case (a, b) => Set(a, b) }

    test(s"$name: re-delivering an already-processed chunk emits nothing new") {
      val (before, after) = runOver(start, Seq(0 until 15, 15 until n)) { r =>
        val before = r.pairs()
        r.add(0 until 15)
        (before, r.pairs())
      }
      assert(asSets(before).toSet === pairSet(planted), s"$name: fixture pairs drifted")
      assert(after.sorted === before.sorted, s"$name: redelivery emitted ${after.diff(before)}")
    }

    test(s"$name: two micro-batch splits emit the same pair set, each pair once") {
      val whole = runOver(start, oneBatch)(_.pairs())
      val pieces = runOver(start, split)(_.pairs())
      for (got <- Seq(whole, pieces))
        assert(got.distinct.size === got.size, s"$name: duplicate pairs in $got")
      assert(asSets(whole).toSet === pairSet(planted))
      assert(pieces.toSet === whole.toSet)
    }

    test(s"$name: a pair colliding in two or more bands is emitted exactly once") {
      val (a, b) = (8, 9)
      val shared = bands(a).zip(bands(b)).count { case (x, y) => x == y }
      assert(shared >= 2, s"$name: the planted pair shares $shared bands")
      for (chunks <- Seq(oneBatch, split)) {
        val got = runOver(start, chunks)(_.pairs())
        assert(asSets(got).count(_ == Set(idOf(a), idOf(b))) === 1,
          s"$name: ($a, $b) over ${chunks.size} batches in $got")
      }
    }
  }
}
