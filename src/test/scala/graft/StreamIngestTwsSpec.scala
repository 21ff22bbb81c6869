package graft

import graft.operators.DedupQueries
import graft.streaming.{StreamIngest, StreamIngestTws}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The TWS-path composed ingestion twin: state in the executor state
  * store (chained transformWithState on RocksDB), the foreachBatch sink
  * reduced to an O(events) report fold. Equivalence bar: the packed
  * output equals [[StreamIngest.ingestBatch]] over every prefix — the
  * same gate the driver-fold twin carries — across a checkpointed
  * mid-stream restart. Plus kernel parity: the typed path's JVM
  * shingle/tokenize twins must match the batch Column kernels bit-exactly
  * (they feed the same LSH bands, so any drift silently changes recall). */
class StreamIngestTwsSpec extends SparkSpec {

  import spark.implicits._

  test("JVM shingle kernel == batch Column kernel (real documents + adversarial whitespace)") {
    val real = Tables.documents(spark, sf).select($"doc_id", $"text")
    val edge = Seq((900001L, ""), (900002L, "   "), (900003L, "a\tb\nc  d"),
      (900004L, " ÅBC   déf GHI "), (900005L, "one"))
      .toDF("doc_id", "text")
    val docs = real.unionByName(edge)
    val colSide = DedupQueries.shinglesOf(spark, docs)
      .as[(Long, Seq[String])].collect().toMap
    val jvmSide = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> DedupQueries.shinglesOfText(t) }.toMap
    assert(jvmSide === colSide)
  }

  test("TWS composed ingestion: stream == batch across a checkpointed mid-stream restart") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      def tok(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
      val A = tok("a", 30)
      val B = tok("a", 29) + " zzz" // near-dup of A
      val C = tok("c", 30)
      val D = tok("c", 29) + " qqq" // near-dup of C
      val firstHalf = Seq(
        (10L, A), (20L, B), (30L, C), (40L, D),
        (50L, "too short"),                          // fails the length gate
        (70L, tok("u", 25)))
      val secondHalf = Seq(
        (3L, A.toUpperCase + "  "), // exact dup of A: rep 10 -> 3
        (25L, D),                   // exact dup of D: rep 40 -> 25, flips pair {C,D}
        (60L, Array.fill(30)("spam").mkString(" ")), // fails the diversity gate
        (80L, tok("v", 25)))
      val ms = MemoryStream[(Long, String)]
      val root = java.nio.file.Files.createTempDirectory("tws_ingest").toString
      val ckpt = s"$root/ckpt"
      val stateDir = s"$root/state"
      val (q1, st1) = StreamIngestTws.start(ms.toDF().toDF("doc_id", "text"),
        ckpt, stateDir)
      try { ms.addData(firstHalf: _*); q1.processAllAvailable() } finally q1.stop()
      val halfStream = st1.packed.collect().toSeq
      val halfBatch = StreamIngest.ingestBatch(
        firstHalf.toDF("doc_id", "text")).collect().toSeq
      assert(halfStream === halfBatch)
      // restart: the report fold rehydrates from stateDir; BOTH operators'
      // state (admission keys, bucket signatures) returns from the query
      // checkpoint — the admitted set must not re-mine, the flipped {C,D}
      // decision must still land
      assert(StreamIngestTws.load(spark, stateDir).lastCommittedBatch ===
        st1.lastCommittedBatch)
      // restart = the same front-door call (durable-by-default contract)
      val (q2, st2) = StreamIngestTws.start(ms.toDF().toDF("doc_id", "text"),
        ckpt, stateDir)
      try { ms.addData(secondHalf: _*); q2.processAllAvailable() } finally q2.stop()
      val fullStream = st2.packed.collect().toSeq
      val fullBatch = StreamIngest.ingestBatch(
        (firstHalf ++ secondHalf).toDF("doc_id", "text")).collect().toSeq
      assert(fullStream === fullBatch)
      // survivors: A (rep 3), D (rep 25), U1, V1
      assert(fullStream.map(_.getLong(4)).sum === 30L + 30L + 25L + 25L)
    }
  }

  test("TWS composed ingestion: FULL session kill — operator state from the checkpoint, report from disk") {
    withRocksDb {
      def tok(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
      val A = tok("a", 30)
      val B = tok("a", 29) + " zzz"
      val firstHalf = Seq((10L, A), (30L, tok("c", 30)), (70L, tok("u", 25)))
      val secondHalf = Seq((20L, B), (3L, A.toUpperCase + "  "))
      val root = java.nio.file.Files.createTempDirectory("tws_durable").toString
      val srcDir = s"$root/src"; val ckpt = s"$root/ckpt"; val stateDir = s"$root/state"
      firstHalf.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
      def docsStream(s: org.apache.spark.sql.SparkSession) =
        s.readStream.schema("doc_id LONG, text STRING").parquet(srcDir)
      val (q1, st1) = StreamIngestTws.start(docsStream(spark), ckpt, stateDir)
      try q1.processAllAvailable() finally q1.stop()
      assert(st1.packed.collect().toSeq ===
        StreamIngest.ingestBatch(firstHalf.toDF("doc_id", "text")).collect().toSeq)
      // brand-new SparkSession: both TWS operators restore from the RocksDB
      // checkpoint; the report fold rehydrates from stateDir parquet. The
      // second half then near-dups AGAINST FIRST-HALF STATE (doc 20 vs doc
      // 10's bucket history) and shrinks a first-half rep (doc 3 < 10) —
      // neither works unless the restored state is complete.
      withNewSession { s2 =>
        s2.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
        secondHalf.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
        // default construction is restart-safe: same call, fresh session
        val (q2, st2) = StreamIngestTws.start(docsStream(s2), ckpt, stateDir)
        try q2.processAllAvailable() finally q2.stop()
        assert(st2.packed.collect().toSeq === StreamIngest.ingestBatch(
          (firstHalf ++ secondHalf).toDF("doc_id", "text")).collect().toSeq)
      }
    }
  }

  test("TWS path folds a multi-batch corpus to the exact one-shot batch result") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files.createTempDirectory("tws_corpus").toString
      val (q, st) = StreamIngestTws.startEphemeral(ms.toDF().toDF("doc_id", "text"), ckpt)
      // 300 ScaleCorpus docs in three micro-batches: every 10th doc is a
      // near-dup of its predecessor, so pairs span batch boundaries
      val all = (0L until 300L).map(ScaleCorpus.doc)
      try {
        all.grouped(100).foreach { chunk =>
          ms.addData(chunk: _*); q.processAllAvailable()
        }
      } finally q.stop()
      assert(st.packed.collect().toSeq ===
        StreamIngest.ingestBatch(all.toDF("doc_id", "text")).collect().toSeq)
    }
  }
}
