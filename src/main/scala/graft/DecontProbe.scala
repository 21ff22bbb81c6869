package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Decontamination-twin scale probe (the round-8 verdict's stretch 8):
  * drives [[graft.streaming.StreamDecontaminate]] (lexical, t44's twin)
  * and [[graft.streaming.StreamSemanticDecontaminate]] (s22's twin) over
  * a train backfill split into equal micro-batches (file source,
  * maxFilesPerTrigger=1) against a LARGE static heldout set — ~10^6
  * distinct heldout shingles on the lexical side, 2*10^4 heldout
  * embeddings (auto-derived K=17 bucket geometry) on the semantic side —
  * and prints ONE JSON line with per-batch wall times. The claim under
  * test is both twins' core scale property: per-batch cost is O(new
  * train docs) probed against static state — batch N over N*B docs of
  * history costs the same as batch 1, because past train docs influence
  * nothing (train-train overlap is out of contract on both sides).
  * Every 50th train doc replicates a heldout item (text on the lexical
  * side, embedding on the semantic side) so the drop path stays
  * non-vacuous throughout. Result artifact: bench/decont_probe.json.
  *
  * Drive: `runMain graft.DecontProbe [nTrain [nBatches [workDir]]]`. */
object DecontProbe {

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private val HeldDocs = 30000 // x ~33 distinct 8-gram shingles ≈ 10^6
  private val HeldVecs = 20000

  /** heldout text i: 40 tokens over a heldout-only vocabulary. */
  private def heldText(i: Long): String =
    Array.tabulate(40)(w => s"h${mix(i * 53 + w) % 300000}").mkString(" ")

  /** train text i: 40 tokens over a disjoint vocabulary; every 50th doc
    * replicates a heldout text (contaminated -> dropped). */
  private def trainText(i: Long): String =
    if (i % 50 == 49) heldText(i % HeldDocs)
    else Array.tabulate(40)(w => s"w${mix(i * 41 + w) % 300000}").mkString(" ")

  private def vec(seed: Long): Array[Float] =
    Array.tabulate(64)(j => (mix(seed * 131 + j).toDouble / Long.MaxValue).toFloat)

  /** train embedding i: random direction; every 50th replicates a heldout
    * embedding (cos 1000 -> dropped). */
  private def trainVec(i: Long): Array[Float] =
    if (i % 50 == 49) vec(1000000L + i % HeldVecs) else vec(i)

  def main(args: Array[String]): Unit = {
    val nTrain = args.headOption.map(_.toInt).getOrElse(100000)
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val work = args.drop(2).headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("decont_probe").toString)
    val spark = SessionConf.common(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val perBatch = nTrain / nBatches
    // one parquet file per intended micro-batch on each side
    val lexSrc = s"$work/lex_src"
    val semSrc = s"$work/sem_src"
    (0 until nBatches).foreach { b =>
      val ids = b.toLong * perBatch until (b + 1).toLong * perBatch
      ids.map(i => (i, trainText(i), Seq("en", "de", "fr")((i % 3).toInt)))
        .toDF("doc_id", "text", "lang").coalesce(1)
        .write.mode("append").parquet(lexSrc)
      ids.map(i => (i, s"train doc $i", Seq("en", "de", "fr")((i % 3).toInt),
          trainVec(i)))
        .toDF("doc_id", "text", "lang", "embedding").coalesce(1)
        .write.mode("append").parquet(semSrc)
    }
    val heldLex = spark.range(HeldDocs)
      .select($"id".as("doc_id")).as[Long]
      .map(i => (i, heldText(i), "en")).toDF("doc_id", "text", "lang")
    val heldSem = spark.range(HeldVecs)
      .select($"id".as("doc_id")).as[Long]
      .map(i => (i, vec(1000000L + i))).toDF("doc_id", "embedding")

    final case class BatchStat(batchId: Long, rows: Long, ms: Long)
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[(String, BatchStat)]()
    @volatile var side = ""
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0)
          stats.add((side, BatchStat(p.batchId, p.numInputRows,
            p.durationMs.getOrDefault("triggerExecution", 0L))))
      }
    })

    def stream(src: String, schema: String) = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", "1").parquet(src)

    side = "lex"
    val tL0 = System.nanoTime()
    val (ql, stl) = graft.streaming.StreamDecontaminate.startEphemeral(
      stream(lexSrc, "doc_id LONG, text STRING, lang STRING"), heldLex,
      s"$work/lex_ckpt")
    try ql.processAllAvailable() finally ql.stop()
    val lexSec = (System.nanoTime() - tL0) / 1e9
    val lexReport = stl.report.collect()
      .map(r => s""""${r.getString(0)}":[${r.getLong(1)},${r.getLong(2)}]""")
      .mkString("{", ",", "}")

    side = "sem"
    val tS0 = System.nanoTime()
    val (qs, sts) = graft.streaming.StreamSemanticDecontaminate.startEphemeral(
      stream(semSrc, "doc_id LONG, text STRING, lang STRING, embedding ARRAY<FLOAT>"),
      heldSem, s"$work/sem_ckpt")
    try qs.processAllAvailable() finally qs.stop()
    val semSec = (System.nanoTime() - tS0) / 1e9
    val semReport = sts.report.collect()
      .map(r => s""""${r.getString(0)}":[${r.getLong(1)},${r.getLong(2)}]""")
      .mkString("{", ",", "}")

    Thread.sleep(1000) // drain the async listener bus
    import scala.jdk.CollectionConverters._
    def perBatchJson(s: String) = stats.asScala.toSeq
      .collect { case (`s`, b) => b }.sortBy(_.batchId)
      .map(b => s"""{"batch":${b.batchId},"rows":${b.rows},"ms":${b.ms}}""")
      .mkString("[", ",", "]")
    println(f"""{"n_train":$nTrain,"n_batches":$nBatches,""" +
      s""""held_docs":$HeldDocs,"held_vecs":$HeldVecs,""" +
      f""""lex_total_sec":$lexSec%.1f,"sem_total_sec":$semSec%.1f,""" +
      s""""lex_report_train_dropped":$lexReport,""" +
      s""""sem_report_train_dropped":$semReport,""" +
      s""""lex_per_batch":${perBatchJson("lex")},""" +
      s""""sem_per_batch":${perBatchJson("sem")}}""")
    spark.stop()
  }
}
