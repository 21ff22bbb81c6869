package graft

import graft.operators.DedupQueries
import graft.operators.{EventQueries, SimilarityQueries}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{array, lit}

/** The caching discipline of [[graft.operators.OpCache]], run: a round
  * loop reads its input once, and a long-running driver's cached
  * footprint stays at one generation per slot however many invocations
  * it serves. */
class OpCacheSpec extends SparkSpec {

  import spark.implicits._

  /** Input records of the file-scan stages `body` runs: stages that read
    * a cached or checkpointed frame, and no file, do not count. A marker
    * job after `body` closes the count: the listener bus delivers events
    * in order, so once the marker's end arrives, every stage of `body`
    * has been counted. */
  private def fileRecords(body: => Unit): Long = {
    val n = new AtomicLong
    val marker = "opcache-spec-marker"
    val markerJob = new AtomicInteger(-1)
    val done = new CountDownLatch(1)
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD")))
          n.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerJob.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) done.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      assert(done.await(60, TimeUnit.SECONDS), "the listener bus never delivered the marker job's end")
    } finally sc.removeSparkListener(l)
    n.get
  }

  for (q <- Seq("t13_bpe_merges", "t18_bpe_tokenize"))
    test(s"$q: the BPE rounds read the corpus once") {
      val docs = Tables.documents(spark, sf).count()
      val read = fileRecords(SparkEntry.queries(q)(spark, sf).collect())
      assert(read === docs, s"$q read $read file records over $docs documents")
    }

  /** The slot names `s` holds, each with its live generation's entry. */
  private def slots(s: SparkSession): Map[String, AnyRef] = {
    val c = s.sessionState.catalog
    c.getTempViewNames().filter(_.startsWith("graft_opcache_"))
      .flatMap(v => c.getRawTempView(v).map(v -> _)).toMap
  }

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  /** `persisted` once the ContextCleaner has freed unreachable checkpoints,
    * or after 10 s at or above `bound`. */
  private def settled(bound: Int): Int = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (persisted > bound && System.nanoTime() < deadline) { System.gc(); Thread.sleep(200) }
    persisted
  }

  test("soak: two sessions, every slot query at two sizes, one generation per slot name") {
    val docs = Tables.documents(spark, sf)
    val before = persisted
    val shared = slots(spark)
    /** Slot names filled in this spec: new or refilled in the shared
      * session, and every slot of the second one. */
    def filled(s2: Option[SparkSession]): Int =
      slots(spark).count { case (v, g) => !shared.get(v).exists(_ eq g) } + s2.fold(0)(slots(_).size)
    // the same operator over four different inputs: each call replaces its
    // slots' previous generation, so the footprint does not grow per call
    val direct = (0 until 4).map { k =>
      DedupQueries.minhashNearDupPairs(spark, docs.filter($"doc_id" % 4 =!= k)).collect()
      settled(before + filled(None))
    }
    assert(direct.forall(_ <= direct.head),
      s"persisted RDDs grow per call: $before before, then ${direct.mkString(", ")}")
    val sizes = Seq(sf, new java.io.File(sf).getParent + "/sf0.01")
    def run(s: SparkSession, names: Seq[String]): Unit =
      for (d <- sizes; n <- names) SparkEntry.queries(n)(s, d).collect()
    withNewSession { s2 =>
      // the QueryDefs that fill a slot, found by building each plan once
      val slotQueries = SparkEntry.allDefs.map(_.name).filter { n =>
        val was = slots(s2)
        SparkEntry.queries(n)(s2, sf)
        slots(s2).exists { case (v, g) => !was.get(v).exists(_ eq g) }
      }
      assert(slotQueries.contains("s09_knn_graph") && slotQueries.contains("d03_dedup_minhash_lsh"),
        s"slot queries found: ${slotQueries.mkString(", ")}")
      run(s2, slotQueries)
      run(spark, slotQueries)
      val bound = filled(Some(s2))
      val after = settled(before + bound)
      info(s"${slotQueries.size} slot queries (${slotQueries.mkString(", ")}), $bound slot names filled, " +
        s"persisted RDDs $before -> $after")
      assert(after - before <= bound,
        s"${after - before} RDDs persisted over ${slotQueries.size} slot queries, $bound slot names filled")
    }
  }

  test("a stopped stream leaves no frame of its batches persisted") {
    // every streaming query runs its batches in a clone of its session:
    // the loops whose slot readers all run before they return free their
    // slots there, so nothing stays behind once the stream stops
    implicit val sq = spark.sqlContext
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ms = MemoryStream[Long]
    val q = ms.toDF().writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      val s = b.sparkSession
      import s.implicits._
      val n = b.count() + 40
      val chain = s.range(n - 1).select($"id".as("doc_a"), ($"id" + 1).as("doc_b"))
      DedupQueries.clusterLabels(s.range(n).toDF("doc_id"), chain, localFoldMaxEdges = -1L).collect()
      EventQueries.pageRank(s.range(n).toDF("k"),
        chain.select($"doc_a".as("src"), $"doc_b".as("dst"), lit(1L).as("w")), iters = 3).collect()
      SimilarityQueries.kmeansCodebook(s,
        s.range(n).select($"id".as("vec_id"), array($"id".cast("float"), lit(1f)).as("embedding")), k = 2, iters = 2)
      ()
    }.start()
    try Seq(Seq(1L, 2L), Seq(3L)).foreach { c => ms.addData(c); q.processAllAvailable() }
    finally q.stop()
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (leaked.nonEmpty && System.nanoTime() < deadline) { System.gc(); Thread.sleep(200) }
    assert(leaked.isEmpty, s"RDDs still persisted after the stream stopped: " +
      leaked.toSeq.sorted.flatMap(spark.sparkContext.getPersistentRDDs.get).mkString("; "))
  }
}
