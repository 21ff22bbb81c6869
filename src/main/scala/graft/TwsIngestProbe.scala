package graft

import graft.streaming.StreamIngestTws
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming-path scale probe: drives [[StreamIngestTws]] over a
  * synthetic backfill corpus split into equal-size micro-batches (file
  * source, maxFilesPerTrigger=1) and prints ONE JSON line with per-batch
  * wall time, input rows, and state-store row counts from the
  * StreamingQueryProgress feed. The claim under test is the TWS design's
  * core scale property: per-batch cost tracks O(new docs in the batch) —
  * the state store is point-probed by key, never scanned — so batch N
  * over a history of N·B docs costs the same as batch 1 over an empty
  * store. The batch side has three decades of ScaleSpec/sf1 evidence;
  * this records the streaming twin's equivalent (the round-6 verdict's
  * directive 5). Result artifact: bench/tws_probe.json.
  *
  * Corpus shape = the ScaleSpec/StreamIngestPlanSpec generator (40-token
  * docs over a 100k-word vocabulary; every 10th doc a near-dup of its
  * predecessor with one word changed), one order of magnitude up.
  *
  * Drive: `runMain graft.TwsIngestProbe [nDocs [nBatches [workDir]]]`.
  */
object TwsIngestProbe {

  /** splitmix64 finalizer — the ScaleCorpus generator, replicated here
    * because test sources can't feed a main. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def doc(i: Long): (Long, String) = {
    val base = if (i % 10 == 9) i - 1 else i
    val words = Array.tabulate(40)(w => s"w${mix(base * 41 + w) % 100000}")
    if (i % 10 == 9) words(39) = "changed"
    (i, words.mkString(" "))
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(100000)
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val work = args.drop(2).headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("tws_probe").toString)
    val spark = SessionConf.common(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // one parquet file per intended micro-batch; maxFilesPerTrigger=1
    // makes the file boundary the batch boundary
    val perBatch = nDocs / nBatches
    val srcDir = s"$work/src"
    (0 until nBatches).foreach { b =>
      (b.toLong * perBatch until (b + 1).toLong * perBatch).map(doc)
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
    }

    // per-batch wall + state rows from the progress feed (batch -1 = the
    // no-data planning trigger; dropped below)
    final case class BatchStat(batchId: Long, rows: Long, ms: Long, stateRows: Long)
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[BatchStat]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0)
          stats.add(BatchStat(p.batchId, p.numInputRows,
            p.durationMs.getOrDefault("triggerExecution", 0L),
            p.stateOperators.map(_.numRowsTotal).sum))
      }
    })

    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val t0 = System.nanoTime()
    val (q, st) = StreamIngestTws.start(docs, s"$work/ckpt", s"$work/state")
    try q.processAllAvailable() finally q.stop()
    val totalSec = (System.nanoTime() - t0) / 1e9
    val packedRows = st.packed.count()

    Thread.sleep(1000) // drain the async listener bus
    import scala.jdk.CollectionConverters._
    val perBatchJson = stats.asScala.toSeq.sortBy(_.batchId).map(s =>
      s"""{"batch":${s.batchId},"rows":${s.rows},"ms":${s.ms},"state_rows":${s.stateRows}}""")
      .mkString("[", ",", "]")
    println(f"""{"n_docs":$nDocs,"n_batches":$nBatches,"total_sec":$totalSec%.1f,""" +
      s""""packed_rows":$packedRows,"per_batch":$perBatchJson}""")
    spark.stop()
  }
}
