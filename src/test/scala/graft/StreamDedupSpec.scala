package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.DedupQueries
import graft.streaming.StreamDedup

/** Dedup at ingestion: the incremental MinHash-LSH operator must emit, over
  * any stream chunking, EXACTLY the pair set batch d03 computes on the same
  * corpus — each pair once, at its minimal shared band. */
class StreamDedupSpec extends SparkSpec {

  import spark.implicits._

  test("streaming near-dup pairs equal batch d03 over the same corpus") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)]
        .collect().sortBy(_._1)
      assert(docs.nonEmpty)

      val ms = MemoryStream[(Long, String)]
      val pairs = StreamDedup.nearDupPairsStream(ms.toDF().toDF("doc_id", "text"))
      val q = pairs.writeStream.format("memory").queryName("sdedup")
        .outputMode("append").start()
      try {
        // three uneven micro-batches: pairs straddle batch boundaries
        val chunks = Seq(docs.take(100), docs.slice(100, 150), docs.drop(150))
        chunks.foreach { c => ms.addData(c.toSeq); q.processAllAvailable() }
      } finally q.stop()

      val got = spark.table("sdedup")
        .select($"doc_a", $"doc_b", $"j_milli")
        .as[(Long, Long, Long)].collect()
      // exactly-once: no pair emitted twice
      assert(got.length === got.distinct.length,
        s"duplicate emissions: ${got.groupBy(identity).filter(_._2.length > 1).keys.take(5).toList}")

      val want = DedupQueries
        .minhashNearDupPairs(spark, Tables.documents(spark, sf))
        .select($"doc_a", $"doc_b", $"j_milli")
        .as[(Long, Long, Long)].collect().toSet
      assert(want.nonEmpty, "fixture has no near-dup pairs — spec is vacuous")
      assert(got.toSet === want)

      // chunking invariance: the whole corpus in ONE micro-batch emits the
      // same pair set (emission order inside a batch is docId-sorted)
      val ms1 = MemoryStream[(Long, String)]
      val q1 = StreamDedup.nearDupPairsStream(ms1.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("sdedup_one")
        .outputMode("append").start()
      try { ms1.addData(docs.toSeq); q1.processAllAvailable() } finally q1.stop()
      val one = spark.table("sdedup_one")
        .select($"doc_a", $"doc_b", $"j_milli")
        .as[(Long, Long, Long)].collect()
      assert(one.length === one.distinct.length)
      assert(one.toSet === want)
    }
  }

  test("streaming dedup state survives a checkpointed restart without re-emission") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)]
        .collect().sortBy(_._1)
      val ckpt = java.nio.file.Files.createTempDirectory("sdedup_ckpt").toString
      val emitted = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long, Long)]()
      val ms = MemoryStream[(Long, String)]
      def start() = StreamDedup.nearDupPairsStream(ms.toDF().toDF("doc_id", "text"))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamDedup.NearDupPair], _: Long) =>
          b.collect().foreach(p => assert(emitted.add((p.doc_a, p.doc_b, p.j_milli)),
            s"pair re-emitted after restart: $p"))
        }
        .outputMode("append").start()

      val q1 = start()
      try { ms.addData(docs.take(120).toSeq); q1.processAllAvailable() } finally q1.stop()
      // restart from the checkpoint: bucket ListState must restore, so pairs
      // straddling the restart are found and nothing already emitted repeats
      val q2 = start()
      try { ms.addData(docs.drop(120).toSeq); q2.processAllAvailable() } finally q2.stop()

      val want = DedupQueries
        .minhashNearDupPairs(spark, Tables.documents(spark, sf))
        .select($"doc_a", $"doc_b", $"j_milli")
        .as[(Long, Long, Long)].collect().toSet
      import scala.jdk.CollectionConverters._
      assert(emitted.asScala.toSet === want)
    }
  }

  test("streaming dedup equals batch on a synthetic templated corpus, any chunking") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      // ScaleSpec's deterministic corpus: every 10th doc near-dups its
      // predecessor (jaccard 0.90) => exactly 30 true pairs in 300 docs
      val docs = (0L until 300L).map(ScaleCorpus.doc)
      val ms = MemoryStream[(Long, String)]
      val q = StreamDedup.nearDupPairsStream(ms.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("sdedup_syn")
        .outputMode("append").start()
      try {
        // adversarial chunking: singletons (pair split across batches at
        // both ends) interleaved with large batches
        val chunks = Seq(docs.take(1), docs.slice(1, 2), docs.slice(2, 149),
          docs.slice(149, 150), docs.drop(150))
        chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
      } finally q.stop()
      val got = spark.table("sdedup_syn")
        .select($"doc_a", $"doc_b", $"j_milli")
        .as[(Long, Long, Long)].collect()
      assert(got.length === got.distinct.length)
      val want = DedupQueries
        .minhashNearDupPairs(spark, docs.toDF("doc_id", "text"))
        .select($"doc_a", $"doc_b", $"j_milli")
        .as[(Long, Long, Long)].collect().toSet
      assert(want.size === 30, s"corpus construction drifted: ${want.size} pairs")
      assert(got.toSet === want)
    }
  }

  test("streaming embedding near-dup pairs equal batch d06 over the same vectors") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      val vecs = Tables.embeddings(spark, sf)
        .select($"vec_id", $"embedding").as[(Long, Array[Float])]
        .collect().sortBy(_._1)
      assert(vecs.nonEmpty)

      val ms = MemoryStream[(Long, Array[Float])]
      val pairs = StreamDedup.embeddingNearDupPairsStream(
        ms.toDF().toDF("vec_id", "embedding"))
      val q = pairs.writeStream.format("memory").queryName("sedemb")
        .outputMode("append").start()
      try {
        val chunks = Seq(vecs.take(60), vecs.slice(60, 90), vecs.drop(90))
        chunks.foreach { c => ms.addData(c.toSeq); q.processAllAvailable() }
      } finally q.stop()

      val got = spark.table("sedemb")
        .select($"vec_a", $"vec_b", $"cos_milli")
        .as[(Long, Long, Long)].collect()
      assert(got.length === got.distinct.length, "pair emitted twice")

      val want = DedupQueries
        .embeddingLshPairs(spark, Tables.embeddings(spark, sf))
        .select($"vec_a", $"vec_b", $"cos_milli")
        .as[(Long, Long, Long)].collect().toSet
      assert(want.nonEmpty, "fixture has no embedding near-dup pairs — spec is vacuous")
      assert(got.toSet === want)
    }
  }

  test("streaming perceptual media pairs equal batch m08 over the same assets") {
    import graft.operators.Multimodal
    withRocksDb {
      implicit val sq = spark.sqlContext
      val rnd = new scala.util.Random(77)
      // two re-encode families (uniform shifts of shared bases) + noise
      val bases = Seq.tabulate(3)(_ => Array.fill(3000)(rnd.nextInt(180).toByte))
      val assets = (bases.zipWithIndex.flatMap { case (b, i) =>
        Seq((i * 10L, b), (i * 10L + 1, b.map(x => ((x & 0xff) + 40).toByte)))
      } ++ Seq.tabulate(6)(i => (100L + i, Array.fill(3000)(rnd.nextInt(180).toByte))))
        .map { case (id, p) => Multimodal.MediaAsset(id, p, "image/png", p.length.toLong) }
        .sortBy(_.asset_id)

      val ms = MemoryStream[(Long, Array[Byte])]
      val in = ms.toDS().map { case (id, p) =>
        Multimodal.MediaAsset(id, p, "image/png", p.length.toLong) }
      val q = StreamDedup.mediaNearDupPairsStream(in)
        .writeStream.format("memory").queryName("smedia")
        .outputMode("append").start()
      try {
        val chunks = assets.map(a => (a.asset_id, a.payload)).grouped(4).toSeq
        chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
        // redelivery: replayed assets must emit nothing new
        val before = spark.table("smedia").count()
        ms.addData(chunks.head); q.processAllAvailable()
        assert(spark.table("smedia").count() === before)
      } finally q.stop()

      val got = spark.table("smedia")
        .as[StreamDedup.MediaNearDupPair].collect()
        .map(p => (p.asset_a, p.asset_b, p.hamming))
      assert(got.length === got.distinct.length, "pair emitted twice")

      import spark.implicits._
      val want = Multimodal.perceptualNearDups(assets.toDS())
        .as[(Long, Long, Long)].collect().toSet
      assert(want.nonEmpty, "planted re-encodes produced no pairs — spec is vacuous")
      assert(got.toSet === want)
    }
  }

  test("cluster-label twin: stream labels == batch d08 after every prefix, across a restart") {
    implicit val sq = spark.sqlContext
    import graft.streaming.StreamClusterLabels
    val docs = (0L to 20L).toDF("doc_id")
    // the planted merge story exercises every incremental case: within-
    // batch chains (b1), a CROSS-BATCH component merge (b2 glues two
    // existing components), and a later, SMALLER id taking over as the
    // canonical root of an already-merged component (b3)
    val b1 = Seq((5L, 6L), (10L, 11L), (7L, 8L))
    val b2 = Seq((6L, 10L))           // merges {5,6} with {10,11} -> root 5
    val b3 = Seq((2L, 11L), (1L, 2L)) // root 5 dethroned -> root 1
    def batchLabels(prefix: Seq[(Long, Long)]) =
      DedupQueries.clusterLabels(docs, prefix.toDF("doc_a", "doc_b")).collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("clabels_twin").toString
    val ms = MemoryStream[(Long, Long)]
    val (q1, st1) = StreamClusterLabels.start(
      ms.toDF().toDF("doc_a", "doc_b"), s"$root/ckpt", s"$root/state")
    try {
      ms.addData(b1: _*); q1.processAllAvailable()
      assert(st1.labelsFor(docs).collect().toSeq === batchLabels(b1))
      ms.addData(b2: _*); q1.processAllAvailable()
      assert(st1.labelsFor(docs).collect().toSeq === batchLabels(b1 ++ b2))
      // redelivered micro-batch id is a no-op
      val before = st1.labelsFor(docs).collect().toSeq
      st1.merge(b1.toDF("doc_a", "doc_b"), 0L)
      assert(st1.labelsFor(docs).collect().toSeq === before)
      // state is O(touched entities), not O(universe): 6 ids have pairs
      assert(st1.snapshot.count() === 6L)
    } finally q1.stop()
    // restart through the SAME front-door call (durable-by-default)
    val (q2, st2) = StreamClusterLabels.start(
      ms.toDF().toDF("doc_a", "doc_b"), s"$root/ckpt", s"$root/state")
    try {
      ms.addData(b3: _*); q2.processAllAvailable()
      assert(st2.labelsFor(docs).collect().toSeq === batchLabels(b1 ++ b2 ++ b3))
      val m = st2.labelsFor(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Seq(1L, 2L, 5L, 6L, 10L, 11L).forall(m(_) == 1L))
      assert(m(7L) === 7L && m(8L) === 7L && m(0L) === 0L) // untouched: self
    } finally q2.stop()
  }

  test("full ingestion loop: docs stream -> TWS pair mining -> live cluster labels == batch d03+d08") {
    // ONE streaming query composes the whole incremental dedup story:
    // documents stream in, StreamDedup's transformWithState miner emits
    // verified near-dup pairs exactly-once, and StreamClusterLabels folds
    // them into live union-find labels — asserted equal to the nightly
    // batch composition (d03 pairs -> d08 closure) over the same corpus.
    withRocksDb {
      implicit val sq = spark.sqlContext
      import graft.streaming.StreamClusterLabels
      val docsAll = Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
      val ms = MemoryStream[(Long, String)]
      val pairFeed = StreamDedup.nearDupPairsStream(ms.toDF().toDF("doc_id", "text"))
        .toDF().select($"doc_a", $"doc_b")
      val ckpt = java.nio.file.Files.createTempDirectory("ingest_loop").toString
      val (q, st) = StreamClusterLabels.startEphemeral(pairFeed, ckpt)
      try {
        Seq(docsAll.take(100), docsAll.slice(100, 150), docsAll.drop(150))
          .foreach { c => ms.addData(c.toSeq); q.processAllAvailable() }
        val universe = Tables.documents(spark, sf).select($"doc_id")
        val live = st.labelsFor(universe).collect().toSeq
        val batch = DedupQueries.clusterLabels(universe,
          DedupQueries.minhashNearDupPairs(spark, Tables.documents(spark, sf))
            .select($"doc_a", $"doc_b")).collect().toSeq
        assert(st.snapshot.count() > 0, "no pairs reached the label fold — vacuous")
        assert(live === batch)
      } finally q.stop()
    }
  }

  test("cluster-grain report on LIVE stream labels: d19 mirror matrix over labelsFor == batch d19") {
    // The motivating claim, executed end to end on the real sf0.01
    // fixture: feed s11's own mutual-kNN pair set through the incremental
    // twin in three chunks, then run d19's aggregation tail on the LIVE
    // labels — it must equal the nightly-closure crossLingualMirrors
    // report row for row.
    implicit val sq = spark.sqlContext
    import graft.streaming.StreamClusterLabels
    import graft.operators.SimilarityQueries
    val emb = Tables.embeddings(spark, sf)
    val langs = Tables.documents(spark, sf).select($"doc_id", $"lang")
    val pairs = SimilarityQueries.mutualKnnPairs(spark, emb)
      .as[(Long, Long)].collect().toSeq
    assert(pairs.size > 100, s"fixture mutual-kNN pair set too small (${pairs.size}) — vacuous")
    val ms = MemoryStream[(Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("clabels_d19").toString
    val (q, st) = StreamClusterLabels.startEphemeral(
      ms.toDF().toDF("doc_a", "doc_b"), ckpt)
    try {
      pairs.grouped(math.max(pairs.size / 3, 1)).foreach { c =>
        ms.addData(c: _*); q.processAllAvailable()
      }
      val live = st.labelsFor(emb.select($"vec_id".as("doc_id")))
        .select($"doc_id".as("vec_id"), $"cluster_id")
      val onLive = SimilarityQueries.mirrorMatrix(live, langs).collect().toSeq
      val batch = SimilarityQueries.crossLingualMirrors(spark, emb, langs)
        .collect().toSeq
      assert(onLive === batch)
      assert(batch.nonEmpty, "fixture mirror matrix empty — comparison vacuous")
    } finally q.stop()
  }
}
