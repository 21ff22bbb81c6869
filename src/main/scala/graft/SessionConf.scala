package graft

import org.apache.spark.sql.SparkSession

/** The ONE session configuration every graft entry point that runs a
  * query shares: Bench, Verify and the test session (SourceLintSpec
  * fails on any other `SparkSession.builder()` in `src/main`; ScaleProbe,
  * which only writes data files, is the one exception). Factored so a
  * config that changes how plans execute — notably the AQE cached-plan
  * output partitioning rule — can never drift between the bench and the
  * other harnesses: round 9 added it to Bench only, so plans captured
  * outside Bench were not the plans the bench ran (the round-9
  * advisory).
  *
  * Local checkpoint I/O runs in-process: Spark's FileSystem-based
  * checkpoint manager replaces Hadoop FileContext's `RawLocalFs` (which
  * forks `readlink` on every status and rename), and
  * [[InProcessLocalFileSystem]] sets permissions through NIO instead of
  * forking `chmod`. Without the native Hadoop library and without these
  * two settings, a checkpointed FSM stream's start plus 5 micro-batches
  * started 594 processes (JFR): 464 `readlink`, 129 `chmod`, ~110 per
  * micro-batch. Either setting alone leaves one of the two forks. Hadoop
  * caches the `file:` file system per JVM, so the setting holds only when
  * this session is the first to touch it (CheckpointIoSpec guards it).
  *
  * Master and shuffle-partition width stay caller-owned ([[Bench]] wires
  * `SPARK_GRAFT_CPUS` into both per the driver contract). */
object SessionConf {
  def common(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    // Cached/checkpointed frames otherwise keep the configured shuffle
    // width forever: every per-iteration scan of a small cached support
    // table pays one task per configured partition regardless of size.
    // Letting AQE re-plan the cached plan's output partitioning sizes
    // those scans by bytes — size-adaptive at ANY scale (guide §2).
    // Measured round 9 at sf0.1: q48 884->47 tasks, full suite
    // 186.2->137.9 s on the same host.
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // With the setting above on, CacheManager clones the session on every
    // persist just to plan the cached frame with this one off. No clone is
    // ever closed: each forks `rm -rf` of its artifact directory when a GC
    // finds it, which can be a minute later, since AQE pool threads born
    // under a clone inherit it as their active session until they idle
    // out. Off session-wide, cached plans are planned as before and no
    // clone is made. The price: a bucketed table is always scanned by
    // bucket, which q51, the one query over bucketed tables, wants anyway.
    .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // class names as strings: no Hadoop class loads before the session
    .config("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    .config("spark.hadoop.fs.file.impl", "graft.InProcessLocalFileSystem")
}
