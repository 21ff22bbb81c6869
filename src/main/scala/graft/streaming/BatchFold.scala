package graft.streaming

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The driver-side fold behind every foreachBatch twin whose state is a
  * set of DataFrames. It holds ONE generation of named tables and the
  * last folded batch id behind one lock, and runs the whole protocol;
  * a twin supplies only its steps and reads views of the generation.
  *
  * Per micro-batch ([[merge]]): a batch id at or below the last folded
  * one is a redelivery and a no-op; otherwise each step, in order, builds
  * its next table from the previous generation, the tables this
  * generation already built and the batch, and the table is
  * `localCheckpoint`ed (eager, truncating the per-batch union lineage —
  * the only driver action of a fold without a `stateDir`). With a
  * `stateDir`, the generation is committed durably ([[BatchFold.commit]])
  * before it replaces the previous one.
  *
  * A replaced generation is not unpersisted. `Dataset.unpersist` only
  * drops CacheManager entries, which a checkpointed frame does not have;
  * Spark's ContextCleaner frees a checkpoint's blocks once no frame
  * references it. So a report a reader took stays executable for as
  * long as the reader holds it, and nothing else keeps an old generation
  * alive.
  *
  * With a `stateDir`, construction rehydrates the last committed
  * generation (in any SparkSession: the parquet tables and the `_latest`
  * marker are the only inputs), so a twin's first start and every
  * restart are one code path. `heldFp` is a one-row fingerprint of
  * static input the fold's decisions depend on (the decontamination
  * twins' heldout set): it is committed with every generation, and a
  * rehydration against a different one fails loudly. */
private[graft] final class BatchFold(s: SparkSession, steps: Seq[(String, BatchFold.Step)],
    stateDir: Option[String] = None, heldFp: Option[DataFrame] = None) {
  import BatchFold.Tables

  private var gen: Option[Tables] = None
  private var lastBatchId: Long = -1L
  // computed once, and only by a fold that commits it
  private lazy val pinned = heldFp.map(_.localCheckpoint())

  def merge(batch: DataFrame, batchId: Long): Unit = synchronized {
    if (batchId <= lastBatchId) return // redelivered micro-batch: no-op
    val prev = gen.getOrElse(Map.empty[String, DataFrame])
    val next = steps.foldLeft(Map.empty[String, DataFrame]) { case (built, (name, step)) =>
      built + (name -> step(prev, built, batch).localCheckpoint())
    }
    stateDir.foreach(d => BatchFold.commit(s, d,
      steps.map { case (n, _) => n -> next(n) } ++ pinned.map("heldfp" -> _), batchId))
    gen = Some(next)
    lastBatchId = batchId
  }

  /** The current generation, None before the first batch. */
  def tables: Option[Tables] = synchronized { gen }

  /** `view` of the current generation; an empty frame before the first
    * batch. The generation is read under the lock, the view built
    * outside it (lazily: no job runs). */
  def view(f: Tables => DataFrame): DataFrame = tables.map(f).getOrElse(s.emptyDataFrame)

  /** The last folded micro-batch id (-1 before the first). */
  def lastCommittedBatch: Long = synchronized { lastBatchId }

  /** Seed a fresh fold with saved tables, as of `batchId`. */
  def rehydrate(saved: Tables, batchId: Long): Unit = synchronized {
    require(gen.isEmpty, "rehydrate must run on a fresh state")
    gen = Some(saved.map { case (n, df) => n -> df.localCheckpoint() })
    lastBatchId = batchId
  }

  /** Run [[merge]] on every micro-batch of `stream`. */
  def start(twin: String, stream: DataFrame, checkpoint: Option[String] = None): StreamingQuery = {
    require(stream.isStreaming, s"$twin.start needs a streaming DataFrame")
    val w = stream.writeStream.outputMode("append")
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))
      .foreachBatch { (batch: Dataset[Row], id: Long) => merge(batch, id) }
      .start()
  }

  // a durable fold starts from its last committed generation, if any
  stateDir.foreach { d =>
    BatchFold.committedBatch(s, d).foreach { bid =>
      heldFp.foreach { fp =>
        val fpSaved = BatchFold.table(s, d, "heldfp", bid).head()
        val fpNow = fp.head()
        require(fpSaved == fpNow,
          s"stateDir $d was folded against a different heldout set " +
            s"(saved n=${fpSaved.getLong(0)} xor=${fpSaved.getLong(1)}, " +
            s"given n=${fpNow.getLong(0)} xor=${fpNow.getLong(1)}); " +
            "decontamination decisions are benchmark-specific — use a fresh stateDir")
      }
      rehydrate(steps.map { case (n, _) => n -> BatchFold.table(s, d, n, bid) }.toMap, bid)
    }
  }
}

/** The durable commit: per-batch parquet tables with an atomically renamed
  * `_latest` marker — the transactional-table discipline. Each committed
  * micro-batch writes its full table set under batch-suffixed dirs, then
  * moves the marker. A crash anywhere before the rename leaves the
  * previous commit readable, and the source checkpoint redelivers the
  * uncommitted batch, which re-folds idempotently. Production swaps the
  * parquet-overwrite for a Delta/Iceberg MERGE; the commit protocol is
  * the same. */
private[graft] object BatchFold {

  /** A generation: table name -> frame. */
  type Tables = Map[String, DataFrame]

  /** (previous generation, tables built so far in this one, batch) =>
    * the next version of one table. The previous generation is empty
    * before the first batch. */
  type Step = (Tables, Tables, DataFrame) => DataFrame

  private def fsOf(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Commit `tables` (name -> frame) for `batchId`, then prune older
    * batches' tables — only AFTER the marker moves, so the committed state
    * is readable at every instant. */
  def commit(s: SparkSession, dir: String, tables: Seq[(String, DataFrame)],
      batchId: Long): Unit = {
    tables.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$dir/${n}_$batchId")
    }
    val fs = fsOf(s, new Path(dir))
    val latest = new Path(dir, "_latest")
    val tmp = new Path(dir, "_latest.tmp")
    // Written once, right BEFORE the first marker rename: its absence
    // later proves no commit ever reached the rename (first-commit crash,
    // safe to rehydrate fresh); its presence with no _latest marks
    // possible marker loss over committed state (fail loudly). Sentinel-
    // before-rename makes the one crash window FAIL-SAFE: a crash between
    // the sentinel write and the first rename turns into a loud false
    // positive on recoverable state (the operator resolves it) rather
    // than the sentinel-after-rename ordering's silent fresh rehydrate
    // over a committed batch (the round-8 advisory). See committedBatch.
    val once = new Path(dir, "_committed_once")
    if (!fs.exists(once)) fs.create(once, true).close()
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    // Atomic OVERWRITE rename (FileContext, not FileSystem.rename): a
    // delete-then-rename would open a window where a crash leaves NO
    // marker at all — committedBatch() would then silently start fresh
    // while the query checkpoint never redelivers the committed batches.
    val fc = FileContext.getFileContext(latest.toUri, s.sparkContext.hadoopConfiguration)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(latest), Options.Rename.OVERWRITE)
    val prefixes = tables.map(_._1 + "_")
    fs.listStatus(new Path(dir)).foreach { st =>
      val nm = st.getPath.getName
      val pfx = prefixes.find(nm.startsWith)
      if (pfx.exists(p => nm.substring(p.length) != batchId.toString))
        fs.delete(st.getPath, true)
    }
  }

  /** The committed batch id in `dir`, if any commit completed.
    *
    * Defense-in-depth: a dir that holds completed table dirs but NO
    * marker is either a crash during the FIRST commit (table parquet
    * landed, marker never created; a fresh state is correct because the
    * source checkpoint still redelivers that batch) or marker loss over
    * committed state (a fresh state would silently drop batches the
    * checkpoint will never redeliver). The `_committed_once` sentinel —
    * created right before the first marker rename, never removed —
    * disambiguates: absent, the common benign case self-heals (return
    * None, redelivery re-folds batch 0); present with no `_latest`, the
    * possibly-unrecoverable case fails loudly and the operator resolves
    * it (a crash between the sentinel write and the first rename also
    * lands here — a deliberate loud false positive on recoverable
    * state, never a silent loss). */
  def committedBatch(s: SparkSession, dir: String): Option[Long] = {
    val latest = new Path(dir, "_latest")
    val fs = fsOf(s, latest)
    if (!fs.exists(latest)) {
      if (fs.exists(new Path(dir, "_committed_once")))
        throw new IllegalStateException(
          s"state dir $dir committed at least one batch but has no _latest " +
            "marker; refusing to rehydrate a fresh state over committed batches")
      None
    }
    else {
      val in = fs.open(latest)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }

  /** Read table `name` of the committed batch. */
  def table(s: SparkSession, dir: String, name: String, batchId: Long): DataFrame =
    graft.Tables.parquet(s, s"$dir/${name}_$batchId")
}
