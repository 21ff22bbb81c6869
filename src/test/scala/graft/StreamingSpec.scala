package graft

import graft.dsl.{Compiler, Keyed, SP}
import graft.streaming.StreamFsm
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming semantics (SURVEY.md §2.2 streaming + M7): the same operators
  * produce the same results under incremental micro-batch execution as in
  * batch — windows, watermarks, stateful FSMs over MemoryStream. */
object StreamingSpec {
  /** Cross-executor-safe log for the foreachBatch feedback test (local
    * mode: one JVM, but foreachBatch closures must not capture the suite). */
  val feedbackLog = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
}

class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def eventsTuples =
    Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"event_type", $"value")
      .as[(Long, Long, String, Double)]
      .collect().toSeq.sortBy(_._2)

  test("streaming FSM over MemoryStream equals batch r05 result") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Long, String, Double)]
    val keyed = ms.toDS().map { case (u, id, t, v) => Keyed(u, id, (t, v, id)) }
    val out = StreamFsm.fsmStream(keyed, false) {
      (st: Boolean, e: (String, Double, Long)) =>
        e match {
          case ("signup", _, _) => (!st, Nil)
          case ("purchase", v, id) if st => (st, Seq((id, math.floor(v * 100).toLong)))
          case _ => (st, Nil)
        }
    }
    val q = out.writeStream.format("memory").queryName("fsm_out")
      .outputMode("append").start()
    try {
      // three micro-batches; state must carry across them
      val chunks = eventsTuples.grouped(math.max(1, eventsTuples.size / 3 + 1)).toSeq
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
      val streamed = spark.table("fsm_out").as[Keyed[(Long, Long)]]
        .collect().map(k => (k.key, k.value._1, k.value._2)).sorted.toVector
      val batch = SparkEntry.queries("r05_dsl_fsm_stateful")(spark, sf)
        .as[(Long, Long, Long)].collect().sorted.toVector
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("watermarked tumbling window aggregation over MemoryStream equals batch") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val agg = ms.toDF().toDF("event_id", "ts", "event_type")
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"window.start").as("w"), $"event_type", $"n")
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      val rows = Tables.events(spark, sf)
        .select($"event_id", $"ts", $"event_type")
        .as[(Long, java.sql.Timestamp, String)].collect().toSeq.sortBy(_._1)
      rows.grouped(400).foreach { c => ms.addData(c); q.processAllAvailable() }
      val streamed = spark.table("win_out").as[(Long, String, Long)]
        .collect().sorted.toVector
      val batch = Tables.events(spark, sf)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp($"window.start"), $"event_type", $"n")
        .as[(Long, String, Long)].collect().sorted.toVector
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stateless DSL pipeline compiles to a streaming plan unchanged") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Double]
    val sp = SP.compose(
      SP.filterExpr[Double](_ >= 10.0, v => v >= 10.0),
      SP.mapExpr[Double, Double](_ * 2.0, v => v * 2.0))
    val df = ms.toDF().toDF("value")
    val out = Compiler.compileExpr(sp, df, "value").get
    assert(out.isStreaming, "compiled plan must stay a streaming plan")
    val q = out.writeStream.format("memory").queryName("dsl_stream")
      .outputMode("append").start()
    try {
      ms.addData(1.0, 15.0, 20.0)
      q.processAllAvailable()
      ms.addData(5.0, 30.0)
      q.processAllAvailable()
      val got = spark.table("dsl_stream").as[Double].collect().sorted.toVector
      assert(got === Vector(30.0, 40.0, 60.0))
    } finally q.stop()
  }

  test("transformWithState FSM over MemoryStream equals batch r05 result") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[(Long, Long, String, Double)]
      val keyed = ms.toDS().map { case (u, id, t, v) => Keyed(u, id, (t, v, id)) }
      val out = StreamFsm.fsmStreamAuto(keyed, false) {
        (st: Boolean, e: (String, Double, Long)) =>
          e match {
            case ("signup", _, _) => (!st, Nil)
            case ("purchase", v, id) if st => (st, Seq((id, math.floor(v * 100).toLong)))
            case _ => (st, Nil)
          }
      }
      val q = out.writeStream.format("memory").queryName("tws_out")
        .outputMode("append").start()
      try {
        val chunks = eventsTuples.grouped(math.max(1, eventsTuples.size / 3 + 1)).toSeq
        chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
        val streamed = spark.table("tws_out").as[Keyed[(Long, Long)]]
          .collect().map(k => (k.key, k.value._1, k.value._2)).sorted.toVector
        val batch = SparkEntry.queries("r05_dsl_fsm_stateful")(spark, sf)
          .as[(Long, Long, Long)].collect().sorted.toVector
        assert(streamed === batch)
        assert(streamed.nonEmpty)
        // prove we actually exercised the transformWithState operator
        assert(q.lastProgress.stateOperators
          .exists(_.operatorName.toLowerCase.contains("transformwithstate")))
      } finally q.stop()
    }
  }

  test("transformWithState FSM state survives a checkpointed restart") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      // kill the query mid-stream and restart from the checkpoint: per-key
      // Mealy state must restore (a signup before the restart still arms
      // purchases after it), and nothing already emitted may repeat —
      // split-brain on restart is the classic production failure here
      val ms = MemoryStream[(Long, Long, String, Double)]
      val keyed = ms.toDS().map { case (u, id, t, v) => Keyed(u, id, (t, v, id)) }
      val ckpt = java.nio.file.Files.createTempDirectory("fsm_ckpt").toString
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long, Long)]()
      def start() = StreamFsm.fsmStreamTws(keyed, false) {
        (st: Boolean, e: (String, Double, Long)) =>
          e match {
            case ("signup", _, _) => (!st, Nil)
            case ("purchase", v, id) if st => (st, Seq((id, math.floor(v * 100).toLong)))
            case _ => (st, Nil)
          }
      }.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Keyed[(Long, Long)]], _: Long) =>
          b.collect().foreach(k => assert(got.add((k.key, k.value._1, k.value._2)),
            s"output re-emitted after restart: $k"))
        }
        .outputMode("append").start()
      val evs = eventsTuples
      val q1 = start()
      try { ms.addData(evs.take(evs.size / 2)); q1.processAllAvailable() } finally q1.stop()
      val q2 = start()
      try { ms.addData(evs.drop(evs.size / 2)); q2.processAllAvailable() } finally q2.stop()
      import scala.jdk.CollectionConverters._
      val batch = SparkEntry.queries("r05_dsl_fsm_stateful")(spark, sf)
        .as[(Long, Long, Long)].collect().toSet
      assert(got.asScala.toSet === batch)
      assert(got.size > 0)
    }
  }

  test("property: transformWithState FSM == interpreter on random Mealy machines") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      (1 to 5).foreach { seed =>
        // deterministic pseudo-random 4-state Mealy machine from the seed
        def t(s: Long, a: Long): (Long, Seq[Long]) = {
          val h = (s * 31 + a) * (seed * 2654435761L + 1)
          val next = math.floorMod(h >> 4, 4)
          val outs = math.floorMod(h, 3) match {
            case 0 => Nil
            case 1 => Seq(a)
            case _ => Seq(a, s)
          }
          (next, outs)
        }
        val rnd = new scala.util.Random(seed)
        val input = Vector.fill(40)((rnd.nextInt(5).toLong, rnd.nextInt(100).toLong))
          .zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v) }
        // oracle: the ported interpreter via SP.fsm per key
        val expected = input.groupBy(_._1).map { case (k, rows) =>
          k -> graft.dsl.Interpreter.evalN(
            SP.fsm(0L)((s: Long, a: Long) => t(s, a)),
            rows.sortBy(_._2).map(_._3))
        }.filter(_._2.nonEmpty)
        val ms = MemoryStream[(Long, Long, Long)]
        val keyed = ms.toDS().map { case (k, seq, v) => Keyed(k, seq, v) }
        val out = StreamFsm.fsmStreamTws(keyed, 0L)(t)
        val q = out.writeStream.format("memory").queryName(s"tws_prop_$seed")
          .outputMode("append").start()
        try {
          input.grouped(13).foreach { c => ms.addData(c); q.processAllAvailable() }
          val got = spark.table(s"tws_prop_$seed").as[Keyed[Long]]
            .collect().groupBy(_.key).view
            .mapValues(_.sortBy(_.seq).map(_.value).toVector).toMap
          assert(got === expected, s"seed $seed")
        } finally q.stop()
      }
    }
  }

  test("streaming funnel on transformWithState equals batch q35") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[(Long, Long, String, Long)] // user, seq, type, epochSec
      val keyed = ms.toDS().map { case (u, seq, t, ts) => Keyed(u, seq, (t, ts)) }
      // incremental funnel: track first signup / first purchase, emit the
      // minutes-to-purchase exactly once when the funnel completes
      val out = StreamFsm.fsmStreamTws(keyed, (0L, 0L)) {
        (st: (Long, Long), e: (String, Long)) =>
          val (s0, p0) = st
          val s1 = if (e._1 == "signup" && s0 == 0L) e._2 else s0
          val p1 = if (e._1 == "purchase" && p0 == 0L) e._2 else p0
          val completed = (s0 == 0L || p0 == 0L) && s1 > 0L && p1 > 0L
          ((s1, p1),
            if (completed && p1 >= s1) Seq(math.floorDiv(p1 - s1, 60L)) else Nil)
      }
      val q = out.writeStream.format("memory").queryName("funnel_out")
        .outputMode("append").start()
      try {
        val rows = Tables.events(spark, sf)
          .filter($"event_type".isin("signup", "purchase"))
          .select($"user_id", $"event_id", $"event_type", unix_timestamp($"ts"))
          .as[(Long, Long, String, Long)].collect().toSeq
          .sortBy(r => (r._4, r._2))
        rows.grouped(300).foreach { c => ms.addData(c); q.processAllAvailable() }
        val streamed = spark.table("funnel_out").as[Keyed[Long]]
          .collect().map(k => (k.key, k.value)).sorted.toVector
        val batch = SparkEntry.queries("q35_funnel_first_events")(spark, sf)
          .as[(Long, Long)].collect().sorted.toVector
        assert(streamed === batch)
        assert(streamed.nonEmpty)
      } finally q.stop()
    }
  }

  test("transformWithState native timers re-arm (pelican blink-loop semantics)") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[(Long, Long, String)]
      val keyed = ms.toDS().map { case (k, seq, v) => Keyed(k, seq, v) }
      // reference pelican feedback loop (examples/pelican.rs:323-325,346-367):
      // the machine requests its own next timeout on every transition — the
      // first input arms a timer; every expiry emits a tick and re-arms
      val out = StreamFsm.fsmStreamWithTimersTws(keyed, 0L) {
        (n: Long, e: Option[String]) =>
          e match {
            case Some(_) => (n, Nil, Some(150L))                 // arm on input
            case None => (n + 1, Seq(s"tick_$n"), Some(150L))    // emit + re-arm
          }
      }
      val q = out.writeStream.format("memory").queryName("tws_timer")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
        .start()
      try {
        ms.addData((1L, 0L, "go"))
        // poll the sink: each expiry must re-arm the next one, so ticks keep
        // arriving
        val deadline = System.currentTimeMillis() + 60000
        var vals = Array.empty[String]
        while (vals.length < 3 && System.currentTimeMillis() < deadline) {
          Thread.sleep(250)
          vals = spark.table("tws_timer").as[Keyed[String]]
            .collect().filter(_.key == 1L).map(_.value)
        }
        assert(vals.length >= 3, s"expected >=3 re-armed ticks, got: ${vals.toSeq}")
        assert(vals.take(3).toSeq === Seq("tick_0", "tick_1", "tick_2"))
      } finally q.stop()
    }
  }

  test("watermarked session windows over MemoryStream equal batch") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val agg = ms.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "2 hours")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_timestamp($"session_window.start").as("w"), $"n_events")
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      val rows = Tables.events(spark, sf)
        .select($"user_id", $"ts")
        .as[(Long, java.sql.Timestamp)].collect().toSeq.sortBy(_._2.getTime)
      rows.grouped(400).foreach { c => ms.addData(c); q.processAllAvailable() }
      val streamed = spark.table("sess_out").as[(Long, Long, Long)]
        .collect().sorted.toVector
      val batch = Tables.events(spark, sf)
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", unix_timestamp($"session_window.start"), $"n_events")
        .as[(Long, Long, Long)].collect().sorted.toVector
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming exact dedup carries state across micro-batches") {
    // the streaming twin of d01/d07: dropDuplicates keyed on the content
    // hash holds seen-keys in the state store, so a duplicate arriving in
    // a LATER micro-batch is still dropped — cross-batch dedup, the shape
    // a streaming ingest pipeline needs
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val out = ms.toDF().toDF("doc_id", "text")
      .withColumn("content_key", md5(graft.functions.TextFns.normalize($"text")))
      .dropDuplicates("content_key")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "delta"))
      q.processAllAvailable()
      // duplicate of doc 1 arrives two batches later — must still be dropped
      ms.addData((4L, "epsilon"))
      q.processAllAvailable()
      ms.addData((5L, "Alpha  Beta   GAMMA"), (6L, "zeta")) // same normalized content
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toVector
      assert(ids === Vector(1L, 3L, 4L, 6L), s"got $ids")
    } finally q.stop()
  }

  test("streaming dedup within watermark: duplicates dropped, expired state re-admits") {
    // the BOUNDED-STATE twin of the test above: plain dropDuplicates holds
    // every key forever (state grows with the stream — a 100 TB stream
    // eventually dies); dropDuplicatesWithinWatermark evicts keys once the
    // watermark passes their expiry, trading "dedup forever" for "dedup
    // within the lateness horizon" at O(horizon) state. The re-admission
    // below PROVES eviction happened — the forever variant would still drop.
    implicit val sq = spark.sqlContext
    def ts(min: Long) = java.sql.Timestamp.valueOf(s"2024-01-01 ${10 + min / 60}:${"%02d".format(min % 60)}:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = ms.toDF().toDF("doc_id", "ts", "text")
      .withColumn("content_key", md5(graft.functions.TextFns.normalize($"text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("content_key")
    val q = out.writeStream.format("memory").queryName("dedup_wm_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, ts(0), "alpha beta"), (2L, ts(1), "Alpha  BETA")) // dup within horizon
      q.processAllAvailable()
      ms.addData((3L, ts(40), "advance the watermark")) // watermark -> t+30min
      q.processAllAvailable()
      ms.addData((4L, ts(41), "alpha beta")) // key expired at t+10min: re-admitted
      q.processAllAvailable()
      val ids = spark.table("dedup_wm_out").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toVector
      assert(ids === Vector(1L, 3L, 4L), s"got $ids")
    } finally q.stop()
  }

  test("streaming CDC compaction equals the one-shot batch snapshot (q65 twin)") {
    // latest-wins state is a mergeable fold: max_by over the stored
    // (ts, event_id) order key is associative/commutative, so folding the
    // log in ANY batch split yields the batch compaction; a retried
    // batchId is a no-op (counting state cannot dedup rows)
    implicit val sq = spark.sqlContext
    import graft.streaming.StreamCdc
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    val rows = Seq(
      (1L, ts(1, 0), 10L, "signup", 1.0), (2L, ts(1, 5), 11L, "view", 2.0),
      (3L, ts(2, 0), 10L, "purchase", 33.33), (4L, ts(2, 5), 11L, "error", 0.0),
      (5L, ts(3, 0), 12L, "click", 4.5), (6L, ts(3, 5), 10L, "view", 7.25),
      (7L, ts(4, 0), 11L, "signup", 9.0)) // resurrects the tombstoned entity
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val (q, state) = StreamCdc.start(
      ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
    try {
      rows.grouped(3).foreach { c => ms.addData(c: _*); q.processAllAvailable() }
      val streamed = state.snapshot.collect().toSeq
      val batch = StreamCdc.compactBatch(
        rows.toDF("event_id", "ts", "user_id", "event_type", "value")).collect().toSeq
      assert(streamed === batch)
      // semantics on the small domain: 11 was tombstoned mid-stream but the
      // later signup wins; every entity is live with its last payload
      val m = streamed.map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(4))).toMap
      assert(m(10L) === ((3L, "live", 725L)))
      assert(m(11L) === ((3L, "live", 900L)))
      assert(m(12L) === ((1L, "live", 450L)))
      // a retried batchId must not double-count n_changes
      val before = state.snapshot.collect().toSeq
      state.merge(
        rows.take(3).toDF("event_id", "ts", "user_id", "event_type", "value"), 0L)
      assert(state.snapshot.collect().toSeq === before)
      // restart: rehydrate a fresh state from the persisted fold table and
      // replay only the unprocessed tail — same snapshot as never restarting
      val halfway = new StreamCdc.CdcState(spark)
      halfway.merge(rows.take(4).toDF("event_id", "ts", "user_id", "event_type", "value"), 0L)
      val resumed = new StreamCdc.CdcState(spark)
      resumed.fold.rehydrate(halfway.fold.tables.get, 0L)
      resumed.merge(rows.drop(4).toDF("event_id", "ts", "user_id", "event_type", "value"), 1L)
      assert(resumed.snapshot.collect().toSeq === before)
    } finally q.stop()
  }

  test("streaming SCD2 maintenance equals batch q66 under any batch split (run-monoid fold)") {
    implicit val sq = spark.sqlContext
    import graft.streaming.StreamScd2
    // the run-list fold must agree with the one-shot q66 on the REAL fixture
    val fixture = Tables.events(spark, sf)
    val batchQ66 = SparkEntry.queries("q66_scd2_intervals")(spark, sf).collect().toSeq
    assert(StreamScd2.scd2Batch(fixture).collect().toSeq === batchQ66)
    // streamed fold across batch boundaries — runs that straddle a batch
    // edge with the SAME attribute must merge back into one version
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    def ev(id: Long, t: java.sql.Timestamp, u: Long, k: Int) =
      (id, t, u, s"""{"k": $k}""")
    val rows = Seq(
      ev(1, ts(1, 0), 10, 3), ev(2, ts(1, 10), 10, 7),   // u10: kb 0 then 0
      ev(3, ts(2, 0), 10, 30), ev(4, ts(2, 30), 10, 60), // kb 1, kb 2
      ev(5, ts(3, 0), 10, 55),                           // kb 2 continues
      ev(6, ts(1, 5), 11, 90), ev(7, ts(4, 0), 11, 99))  // u11: kb 3, kb 3
    // u12: THREE version runs inside ONE second (valid_from truncates to
    // seconds, so ordering by valid_from alone is ambiguous — the
    // first_id tie-breaker must keep the fold deterministic), split
    // across a batch edge mid-second
    def tms(ms: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 05:00:00.$ms%03d")
    val sameSec = Seq(
      ev(8, tms(100), 12, 3), ev(9, tms(200), 12, 30),   // kb 0, kb 1
      ev(10, tms(300), 12, 60), ev(11, tms(400), 12, 55)) // kb 2, kb 2
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val (q, state) = StreamScd2.start(
      ms.toDF().toDF("event_id", "ts", "user_id", "props"))
    try {
      // split INSIDE u10's kb=2 run, u11's kb=3 run, and u12's second
      ms.addData(rows.take(4) ++ sameSec.take(2): _*); q.processAllAvailable()
      ms.addData(rows.drop(4) ++ sameSec.drop(2): _*); q.processAllAvailable()
      val streamed = state.history.collect().toSeq
      val oneShot = StreamScd2.scd2Batch(
        (rows ++ sameSec).toDF("event_id", "ts", "user_id", "props")).collect().toSeq
      assert(streamed === oneShot)
      // the straddling runs merged: u10 has versions kb 0(x2),1,2(x2); u11 one version
      val u10 = streamed.filter(_.getLong(0) == 10L)
      assert(u10.map(r => (r.getLong(2), r.getLong(6))) === Seq((0L, 2L), (1L, 1L), (2L, 2L)))
      assert(streamed.count(_.getLong(0) == 11L) === 1)
      // u12's same-second runs come out in event order, never merged or swapped
      val u12 = streamed.filter(_.getLong(0) == 12L)
      assert(u12.map(r => (r.getLong(2), r.getLong(6))) === Seq((0L, 1L), (1L, 1L), (2L, 2L)))
      // retried batchId is a no-op
      val before = state.history.collect().toSeq
      state.merge(rows.take(4).toDF("event_id", "ts", "user_id", "props"), 0L)
      assert(state.history.collect().toSeq === before)
    } finally q.stop()
  }

  test("streaming exact percentiles on histogram state equal the batch read") {
    implicit val sq = spark.sqlContext
    import graft.streaming.StreamQuantiles
    val data = (1L to 400L).map(_ % 37) // bounded domain, skewed multiset
    val ms = MemoryStream[Long]
    val (q, state) = StreamQuantiles.start(ms.toDF().toDF("c"))
    try {
      data.grouped(150).foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
      val ps = Seq(0.1, 0.5, 0.9, 1.0)
      val streamed = state.quantiles(ps).collect().map(r => (r.getDouble(0), r.getLong(1)))
      val batch = StreamQuantiles.quantilesBatch(data.toDF("c"), ps)
        .collect().map(r => (r.getDouble(0), r.getLong(1)))
      assert(streamed.toSeq === batch.toSeq)
      // cross-check p=0.5 against a plain sort on the small domain
      val sorted = data.sorted
      val median = sorted(math.ceil(0.5 * data.size).toInt - 1)
      assert(streamed.toMap.apply(0.5) === median)
      // retried batchId must not double-count the histogram
      val before = state.quantiles(Seq(0.5)).collect().toSeq
      state.merge(data.take(150).toDF("c"), 0L)
      assert(state.quantiles(Seq(0.5)).collect().toSeq === before)
    } finally q.stop()
  }

  test("streaming rolling distinct on HLL state equals the batch sketch exactly") {
    // mergeable-sketch state: HLL insert is value-idempotent and union is
    // associative/commutative, so the micro-batch fold — including a
    // redelivered row — produces the SAME sketches as one batch pass, and
    // therefore the same estimates bit for bit, for any batch split
    implicit val sq = spark.sqlContext
    import graft.streaming.StreamRollingDistinct
    def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-02-$day%02d $h%02d:00:00")
    val rows = Seq(
      (ts(1, 1), 10L), (ts(1, 2), 11L), (ts(2, 1), 10L),
      (ts(3, 5), 12L), (ts(9, 1), 10L), (ts(9, 2), 13L), (ts(10, 1), 14L))
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val (q, state) = StreamRollingDistinct.start(ms.toDF().toDF("ts", "user_id"))
    try {
      ms.addData(rows.take(3): _*)
      q.processAllAvailable()
      ms.addData(rows(1)) // redelivery of (day1, user 11) must not change anything
      q.processAllAvailable()
      ms.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val streamed = state.wau7.collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      val batch = StreamRollingDistinct.wau7Batch(rows.toDF("ts", "user_id"))
        .collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      assert(streamed.toSeq === batch.toSeq)
      // sanity on the small domain: day 2's trailing window saw users 10,11
      val m = streamed.toMap
      assert(m("2024-02-02") === 2L)
    } finally q.stop()
  }

  test("streaming bind chooses the topology from the first row (R9 first-trigger)") {
    implicit val sq = spark.sqlContext
    val buffer = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val ms = MemoryStream[(Long, Double)]
    // chooser: first value decides doubling vs halving for the WHOLE stream
    val q = graft.streaming.StreamBind.bindToBuffer(
      ms.toDF().toDF("seq", "value"), "seq") { first =>
      val r = first.asInstanceOf[Long]
      if (r % 2 == 0) df => df.selectExpr("seq", "value * 2.0 AS out")
      else df => df.selectExpr("seq", "value / 2.0 AS out")
    }(buffer)
    try {
      ms.addData((0L, 10.0), (1L, 20.0))
      q.processAllAvailable()
      ms.addData((2L, 30.0)) // later batches flow through the SAME choice
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = buffer.asScala.map(r => (r.getLong(0), r.getDouble(1))).toVector.sorted
      // first seq is 0 (even) => doubling chosen for everything
      assert(got === Vector((0L, 20.0), (1L, 40.0), (2L, 60.0)), s"got $got")
    } finally q.stop()
  }

  test("streaming bind decision survives a restart when persisted (R9 durable)") {
    implicit val sq = spark.sqlContext
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("bind-decision").toString
    val chooser: Any => org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = {
      first =>
        if (first.asInstanceOf[Long] % 2 == 0) df => df.selectExpr("seq", "value * 2.0 AS out")
        else df => df.selectExpr("seq", "value / 2.0 AS out")
    }
    // first run: first seq is 0 (even) => doubling chosen AND persisted
    val buf1 = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val ms1 = MemoryStream[(Long, Double)]
    val q1 = graft.streaming.StreamBind.bindToBuffer(
      ms1.toDF().toDF("seq", "value"), "seq", Some(dir))(chooser)(buf1)
    try {
      ms1.addData((0L, 10.0), (1L, 20.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(buf1.asScala.map(r => (r.getLong(0), r.getDouble(1))).toVector.sorted ===
      Vector((0L, 20.0), (1L, 40.0)))
    // "restart": a fresh bound stream over the SAME decision dir whose first
    // visible row is ODD — without the persisted decision it would halve
    val buf2 = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val ms2 = MemoryStream[(Long, Double)]
    val q2 = graft.streaming.StreamBind.bindToBuffer(
      ms2.toDF().toDF("seq", "value"), "seq", Some(dir))(chooser)(buf2)
    try {
      ms2.addData((3L, 30.0))
      q2.processAllAvailable()
      val got = buf2.asScala.map(r => (r.getLong(0), r.getDouble(1))).toVector
      assert(got === Vector((3L, 60.0)), s"restart re-decided the topology: $got")
    } finally q2.stop()
    // the undurable default still re-decides from the data (reference semantics)
    val buf3 = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val ms3 = MemoryStream[(Long, Double)]
    val q3 = graft.streaming.StreamBind.bindToBuffer(
      ms3.toDF().toDF("seq", "value"), "seq")(chooser)(buf3)
    try {
      ms3.addData((3L, 30.0))
      q3.processAllAvailable()
      val got = buf3.asScala.map(r => (r.getLong(0), r.getDouble(1))).toVector
      assert(got === Vector((3L, 15.0)), s"default mode must re-decide: $got")
    } finally q3.stop()
  }

  test("general feedback via sink write-back into the source (P4 general cycle)") {
    // Structured Streaming forbids cycles in one query graph; the pattern
    // for general feedback (SURVEY §2.1 P4: write-back to a topic unioned
    // into the source — reference pelican.rs:346-367 does it with a
    // channel) is: interpret outputs in foreachBatch and enqueue derived
    // events into the SAME source. MemoryStream plays the topic here: a
    // countdown machine re-enqueues n-1 until 0, so one seed event must
    // produce the whole chain across self-triggered micro-batches.
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long)]
    val keyed = ms.toDS().map { case (k, seq, n) => Keyed(k, seq, n) }
    val out = StreamFsm.fsmStream(keyed, 0L) { (tick: Long, n: Long) =>
      (tick + 1, Seq(n))
    }
    val seqGen = new java.util.concurrent.atomic.AtomicLong(100L)
    val q = out.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Keyed[Long]], _: Long) =>
        val outs = batch.collect()
        // the write-back edge: emit n-1 for every n > 0
        outs.filter(_.value > 0L).foreach { k =>
          ms.addData((k.key, seqGen.incrementAndGet(), k.value - 1))
        }
        outs.foreach(k => StreamingSpec.feedbackLog.add(k.value))
      }
      .start()
    try {
      StreamingSpec.feedbackLog.clear()
      ms.addData((1L, 0L, 3L))
      q.processAllAvailable() // drains the chained batches until quiescent
      val got = StreamingSpec.feedbackLog.toArray(Array.empty[java.lang.Long])
        .map(_.longValue).sorted.toVector
      assert(got === Vector(0L, 1L, 2L, 3L), s"got: $got")
    } finally q.stop()
  }

  test("bounded-channel backpressure: maxFilesPerTrigger caps per-batch admission") {
    // reference OvereagerReceiver::channel(cap>0) bounds in-flight elements
    // (overeager_receivers.rs:29-32); the Spark analogue is source-side
    // admission control. Three input files + maxFilesPerTrigger=1 must
    // drain in three micro-batches, never more than one file per trigger.
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_backpressure").toString
    val ckpt = Files.createTempDirectory("graft_backpressure_ckpt").toString
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"file_$i")).toDF("id", "tag")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = stream.writeStream.format("memory").queryName("bp_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("bp_out").count() === 3L)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length === 3,
        s"expected 3 capped micro-batches, got ${batches.length}")
      assert(batches.forall(_.numInputRows === 1L))
    } finally q.stop()
  }

  test("bounded-channel backpressure under a live producer: cap holds, nothing lost") {
    // The stricter half of OvereagerReceiver::channel(cap>0) semantics
    // (overeager_receivers.rs:29-32): with a BLOCKING producer feeding the
    // bounded buffer concurrently, the consumer still never admits more
    // than `cap` per pull, and every produced element is eventually
    // consumed exactly once. Spark has no blocking send — sources buffer
    // durably and admission is capped per trigger — so the preserved
    // invariants are (a) per-batch admission <= cap under concurrent
    // production and (b) lossless exactly-once drain, which is what the
    // reference's bounded channel guarantees end-to-end.
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_bp_live").toString
    val ckpt = Files.createTempDirectory("graft_bp_live_ckpt").toString
    def produce(i: Int): Unit =
      Seq((i.toLong, s"file_$i")).toDF("id", "tag")
        .coalesce(1).write.mode("append").parquet(dir)
    produce(1) // schema seed
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(dir)
    val q = stream.writeStream.format("memory").queryName("bp_live_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      // producer races the running query: 7 more files while it drains
      (2 to 8).foreach { i => produce(i); if (i % 3 == 0) q.processAllAvailable() }
      q.processAllAvailable()
      val got = spark.table("bp_live_out").as[(Long, String)].collect()
      assert(got.map(_._1).sorted.toVector === (1L to 8L).toVector,
        s"lost or duplicated elements: ${got.toVector}")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.forall(_.numInputRows <= 2L),
        s"admission cap violated: ${batches.map(_.numInputRows).toVector}")
      assert(batches.length >= 4, // 8 rows / cap 2 => at least 4 non-empty pulls
        s"expected >=4 capped micro-batches, got ${batches.length}")
    } finally q.stop()
  }

  test("event-time TWS timers fire on watermark passage and drop late data") {
    // extension beyond reference parity (rspl has no event time): a
    // session-gap detector arms a timer 60 event-time seconds after each
    // event; the timer fires when the WATERMARK (max seen ts - 10s) passes
    // it, so "silence" is measured on the data's own clock. A row behind
    // the watermark must be dropped by the operator (the standard
    // late-data contract), leaving the count unchanged.
    withRocksDb {
      implicit val sq = spark.sqlContext
      // base offset: a row at event-time epoch 0 ms is "late" against the
      // INITIAL watermark (also 0 ms; the filter is ts <= watermark) and
      // silently dropped — shift the scenario away from the origin
      def ts(s: Long) = new java.sql.Timestamp((1000L + s) * 1000L)
      val ms = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
      val keyed = ms.toDS()
        .map { case (k, seq, t, v) => StreamFsm.KeyedTs(k, seq, t, v) }
        .withWatermark("ts", "10 seconds")
      val out = StreamFsm.fsmStreamEventTimeTws(keyed, 0L) {
        (n: Long, e: Option[(String, Long)]) =>
          e match {
            case Some((_, tsMs)) => (n + 1, Nil, Some(tsMs + 60000L))
            case None => (n, Seq(s"gap_after_$n"), None)
          }
      }
      val q = out.writeStream.format("memory").queryName("evt_fsm")
        .outputMode("append").start()
      def key1 = spark.table("evt_fsm").as[Keyed[String]].collect()
        .filter(_.key == 1L).map(_.value).sorted.toVector
      try {
        // key 1: events at t=0s,30s arm a timer at 90s. Key 2 exists only
        // to advance the watermark while key 1 stays silent — within a key,
        // a new event re-arms (replaces) the pending timer BEFORE the
        // watermark can pass it, so the gap is only observable if the
        // watermark moves on someone else's data (exactly the multi-key
        // deployment reality).
        ms.addData((1L, 0L, ts(0), "a"), (1L, 1L, ts(30), "b"))
        q.processAllAvailable()
        assert(spark.table("evt_fsm").count() === 0L) // watermark 20s < 90s
        ms.addData((2L, 0L, ts(200), "x")) // watermark -> 190s after this batch
        q.processAllAvailable()
        ms.addData((2L, 1L, ts(210), "y")) // batch runs WITH watermark 190s
        q.processAllAvailable()
        assert(key1 === Vector("gap_after_2"), s"got $key1")
        // t=40s is far behind the watermark: dropped, no transition — the
        // next gap must report 3 key-1 events (a,b,d), not 4
        ms.addData((1L, 2L, ts(40), "late"), (1L, 3L, ts(300), "d")) // timer 360s
        q.processAllAvailable()
        ms.addData((2L, 2L, ts(500), "z")) // watermark -> 490s after this batch
        q.processAllAvailable()
        ms.addData((2L, 3L, ts(510), "w")) // batch runs with 490s > 360s
        q.processAllAvailable()
        assert(key1 === Vector("gap_after_2", "gap_after_3"), s"got $key1")
      } finally q.stop()
    }
  }

  test("streaming corpus admission equals batch t05 on the same documents") {
    // the LLM-layer flagship (t05 canonical-copy + quality admission) run
    // incrementally: documents arrive in micro-batches, foreachBatch folds
    // each into the canonical-set state (min-of-struct per content_key —
    // associative + commutative, so the split into batches can't change
    // the answer), and the admitted view after the last batch must equal
    // the one-shot batch query. Docs arrive in doc_id-DESCENDING order so
    // the canonical (min) copy of every content group arrives LAST — the
    // state must actually re-elect canonicals across batches, not just
    // accumulate first-seen keys.
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val (q, state) = graft.streaming.StreamAdmission.start(
      ms.toDF().toDF("doc_id", "text"))
    try {
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)]
        .collect().toSeq.sortBy(-_._1)
      docs.grouped(math.max(1, docs.size / 4 + 1)).foreach { c =>
        ms.addData(c); q.processAllAvailable()
      }
      val streamed = state.admitted.as[(Long, String, Long)].collect().toVector
      val batch = SparkEntry.queries("t05_corpus_filter")(spark, sf)
        .as[(Long, String, Long)].collect().toVector
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming bottom-k sample equals batch t17 on the same documents") {
    // the mergeability claim, live: bottom-k(A ∪ B) = bottom-k of the
    // parts' bottom-ks, so folding micro-batches into a k-row state must
    // reproduce the one-shot sample exactly. Docs arrive hash-DESCENDING
    // per stratum (worst case: every batch's rows initially enter the
    // sample, then are evicted by later smaller hashes), and the last
    // batch is re-delivered to prove at-least-once redelivery is dropped
    // by id instead of double-counted.
    implicit val sq = spark.sqlContext
    val k = 7
    val ms = MemoryStream[(Long, String)]
    val (q, state) = graft.streaming.StreamSample.start(
      ms.toDF().toDF("doc_id", "lang"), k)
    try {
      val batchResult = graft.operators.TextQueries
        .bottomKSample(Tables.documents(spark, sf), k)
        .as[(String, Long, Long, Long)].collect().toVector
      val byHash = graft.operators.TextQueries
        .bottomKSample(Tables.documents(spark, sf), Int.MaxValue)
        .as[(String, Long, Long, Long)].collect()
        .sortBy { case (lang, r, _, _) => (lang, -r) } // per-stratum hash-desc
        .map { case (lang, _, id, _) => (id, lang) }.toSeq
      val chunks = byHash.grouped(math.max(1, byHash.size / 4 + 1)).toSeq
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
      ms.addData(chunks.last); q.processAllAvailable() // redelivery
      val streamed = state.sample.as[(String, Long, Long, Long)].collect().toVector
      assert(streamed === batchResult)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming Misra–Gries summary keeps q53's guarantees for any batch split") {
    // The mergeable-summary claim, live: per-batch distributed MG partials
    // folded into an O(k) driver state must satisfy the SAME deterministic
    // bounds as a one-shot run over the whole stream — est ≤ exact,
    // est ≥ exact − floor(n/(k+1)), every key above the threshold tracked.
    // Keys arrive zipf-skewed and deterministically shuffled; the last
    // batch's merge is re-invoked under its batchId to prove foreachBatch
    // retries fold at most once (a counting sketch cannot dedup rows).
    implicit val sq = spark.sqlContext
    val k = 3
    val data = (for (key <- 0 until 12; i <- 0 until (1 << key))
      yield (key.toLong, i)).sortBy { case (key, i) => (key * 31 + i * 17) % 101 }
      .map(_._1)
    val exact = data.groupBy(identity).map { case (x, v) => x -> v.size.toLong }
    val bound = graft.functions.MisraGries.bound(data.size.toLong, k)
    val ms = MemoryStream[Long]
    val (q, state) = graft.streaming.StreamHeavyHitters.start(ms.toDF(), k)
    try {
      data.grouped(data.size / 5 + 1).foreach { c =>
        ms.addData(c); q.processAllAvailable()
      }
      assert(state.total === data.size.toLong)
      val got = state.summary
      assert(got.size <= k)
      got.foreach { case (key, est) =>
        assert(est <= exact(key), s"stream overestimated $key")
        assert(est >= exact(key) - bound, s"stream broke the bound for $key")
      }
      exact.foreach { case (key, c) =>
        if (c > bound) assert(got.contains(key), s"survivor $key lost in stream")
      }
      // exactly-once fold: a retry of an already-folded batchId is a no-op
      // (foreachBatch re-delivers a failed batch under the SAME id)
      val before = (state.summary, state.total)
      state.merge(0L, spark.createDataset(data.take(50)))
      assert((state.summary, state.total) === before,
        "retried batchId must not double-count")
      ms.addData(data.take(50)); q.processAllAvailable() // NEW batchId: folds
      assert(state.total === before._2 + 50)
    } finally q.stop()
  }

  test("streaming Misra–Gries is exact when distinct keys fit the summary") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Long]
    val data = (0L until 400L).map(_ % 5)
    val (q, state) = graft.streaming.StreamHeavyHitters.start(ms.toDF(), 8)
    try {
      data.grouped(90).foreach { c => ms.addData(c); q.processAllAvailable() }
      assert(state.summary ===
        data.groupBy(identity).map { case (x, v) => x -> v.size.toLong })
    } finally q.stop()
  }

  test("fsm with processing-time timeout emits on silence (pelican P4 shape)") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[(Long, Long, String)]
      val keyed = ms.toDS().map { case (k, seq, v) => Keyed(k, seq, v) }
      // input arms a 200 ms timer; the expiry arms none, so it fires once
      val out = StreamFsm.fsmStreamWithTimersTws(keyed, 0L) {
        (n: Long, e: Option[String]) =>
          e match {
            case Some(_) => (n + 1, Nil, Some(200L))
            case None => (n, Seq(s"timeout_after_$n"), None) // fired with no input
          }
      }
      val q = out.writeStream.format("memory").queryName("fsm_timeout")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
        .start()
      try {
        ms.addData((1L, 0L, "a"), (1L, 1L, "b"))
        // Poll the sink rather than processAllAvailable: the input batch
        // and then the timer batch arrive on their own triggers.
        val deadline = System.currentTimeMillis() + 60000
        var vals = Array.empty[String]
        while (vals.isEmpty && System.currentTimeMillis() < deadline) {
          Thread.sleep(250)
          vals = spark.table("fsm_timeout").as[Keyed[String]]
            .collect().filter(_.key == 1L).map(_.value)
        }
        assert(vals.contains("timeout_after_2"), s"got: ${vals.toSeq}")
      } finally q.stop()
    }
  }

  test("streaming EWMA equals the batch recurrence for any split, redelivery is a no-op") {
    import graft.streaming.StreamEwma
    import graft.streaming.StreamEwma.{Point, Scored}
    implicit val sq = spark.sqlContext
    // two independent per-key hourly series from the fixtures
    val series: Map[Long, Seq[(Long, Long)]] = Seq("view" -> 1L, "purchase" -> 2L)
      .map { case (et, k) =>
        k -> Tables.events(spark, sf).filter($"event_type" === et)
          .groupBy(unix_timestamp(date_trunc("hour", $"ts")).as("h"))
          .agg(count(lit(1)).as("x"))
          .as[(Long, Long)].collect().toSeq.sortBy(_._1)
      }.toMap
    def expected(pts: Seq[(Long, Long)]): Seq[Scored] = {
      var e = -1L
      pts.map { case (t, x) =>
        val prev = e
        val baseline = if (prev < 0) x else prev
        e = if (prev < 0) x else (20 * x + 80 * prev) / 100
        val dev = 1000L * math.abs(x - baseline) / math.max(baseline, 1L)
        Scored(t, x, baseline, e, dev, dev > 500L)
      }
    }
    val ms = MemoryStream[Keyed[Point]]
    val out = StreamEwma.ewmaStream(ms.toDS())
    val q = out.writeStream.format("memory").queryName("ewma_out")
      .outputMode("append").start()
    try {
      val all = series.toSeq.flatMap { case (k, pts) =>
        pts.map { case (t, x) => Keyed(k, t, Point(t, x)) }
      }.sortBy(kp => (kp.value.t, kp.key)) // interleave keys, in order per key
      val chunks = all.grouped(math.max(1, all.size / 4 + 1)).toSeq
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
      // redelivery: replay an already-processed chunk — nothing new may emit
      val before = spark.table("ewma_out").count()
      ms.addData(chunks(1)); q.processAllAvailable()
      assert(spark.table("ewma_out").count() === before, "replayed chunk must be a no-op")
      val got = spark.table("ewma_out").as[Keyed[Scored]].collect()
        .groupBy(_.key).view.mapValues(_.map(_.value).sortBy(_.t).toSeq).toMap
      series.foreach { case (k, pts) =>
        assert(got(k) === expected(pts), s"key $k: stream must equal the batch fold")
        assert(got(k).nonEmpty)
      }
    } finally q.stop()
  }

  test("streaming CUSUM flags a planted level shift and equals the batch fold") {
    import graft.streaming.StreamCusum
    import graft.streaming.StreamCusum.{Point, Scored}
    implicit val sq = spark.sqlContext
    val mean = 100L
    // 10 on-baseline days then a sustained +20% shift: no single point is
    // extreme, the accumulator walks over the 3x-mean alarm line
    val xs = Seq.fill(10)(100L) ++ Seq.fill(25)(120L) // g climbs 15/day -> crosses 300 on shift day 21
    val pts = xs.zipWithIndex.map { case (x, i) => Point(i.toLong, x) }
    def replay(ps: Seq[Point]): Seq[Scored] = {
      var g = 0L
      ps.map { p =>
        g = math.max(0L, g + p.x - mean - mean * 5 / 100)
        Scored(p.t, p.x, g, g > 3 * mean)
      }
    }
    val ms = MemoryStream[Keyed[Point]]
    val q = StreamCusum.cusumStream(ms.toDS(), mean)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    try {
      pts.map(p => Keyed(1L, p.t, p)).grouped(7).foreach { c =>
        ms.addData(c.toSeq); q.processAllAvailable()
      }
      val got = spark.table("cusum_out").as[Keyed[Scored]].collect()
        .map(_.value).sortBy(_.t).toSeq
      val want = replay(pts)
      assert(got === want, "stream must equal the batch fold")
      assert(!got.take(10).exists(_.alarm), "no alarm on baseline")
      assert(got.last.alarm, "the sustained shift must eventually alarm")
    } finally q.stop()
  }

  test("streaming occupancy equals the batch sweep; redelivered boundaries count nothing twice") {
    import graft.streaming.StreamOccupancy
    import graft.streaming.StreamOccupancy.{Boundary, Occupancy}
    implicit val sq = spark.sqlContext
    // key 1: [1,4) [2,6) [3,5) stack to peak 3; key 2: back-to-back [1,2)
    // [2,3) never overlap (the close sorts before the open at t=2): peak 1
    val iv = Map(
      1L -> Seq((1L, 4L), (2L, 6L), (3L, 5L)),
      2L -> Seq((1L, 2L), (2L, 3L)))
    def boundaries(xs: Seq[(Long, Long)]): Seq[Boundary] =
      xs.flatMap { case (a, b) => Seq((a, 1L), (b, -1L)) }
        .sortBy { case (t, d) => (t, d) }
        .zipWithIndex.map { case ((t, d), i) => Boundary(i + 1L, t, d) }
    def replay(bs: Seq[Boundary]): Seq[Occupancy] = {
      var open = 0L; var peak = 0L
      bs.map { b =>
        open += b.delta; peak = math.max(peak, open)
        Occupancy(b.seq, b.t, open, peak)
      }
    }
    val ms = MemoryStream[Keyed[Boundary]]
    val q = StreamOccupancy.occupancyStream(ms.toDS())
      .writeStream.format("memory").queryName("occ_out")
      .outputMode("append").start()
    try {
      val data = iv.toSeq.flatMap { case (k, xs) =>
        boundaries(xs).map(b => Keyed(k, b.seq, b))
      }.sortBy(x => (x.seq, x.key))
      data.grouped(4).zipWithIndex.foreach { case (c, i) =>
        ms.addData(c.toSeq); q.processAllAvailable()
        if (i == 0) { ms.addData(c.toSeq); q.processAllAvailable() } // redelivery
      }
      val got = spark.table("occ_out").as[Keyed[Occupancy]].collect()
        .groupBy(_.key).view.mapValues(_.map(_.value).sortBy(_.seq).toSeq).toMap
      iv.foreach { case (k, xs) =>
        assert(got(k) === replay(boundaries(xs)), s"key $k: stream must equal the batch sweep")
      }
      assert(got(1L).map(_.peak).max === 3L, "stacked intervals must peak at 3")
      assert(got(2L).map(_.peak).max === 1L, "back-to-back intervals must never stack")
    } finally q.stop()
  }

  test("streaming token-bucket quota equals the batch replay; replays decide nothing twice") {
    import graft.streaming.StreamQuota
    import graft.streaming.StreamQuota.{Decision, Request}
    implicit val sq = spark.sqlContext
    val cap = 10L; val refill = 2L
    // key 1: a burst that drains the bucket, then recovery; key 2: steady
    val reqs = Map(
      1L -> Seq(Request(1, 100, 4), Request(2, 100, 4), Request(3, 100, 4), // 3rd rejected
        Request(4, 103, 8),  // refilled 6 -> 8 admitted? 2+6=8 >= 8 admit
        Request(5, 103, 1)), // 0 tokens -> reject
      2L -> Seq(Request(1, 100, 1), Request(2, 150, 10), Request(3, 151, 10)))
    def replay(rs: Seq[Request]): Seq[Decision] = {
      var tokens = cap; var lastT = Long.MinValue
      rs.map { r =>
        val refilled = if (lastT == Long.MinValue) cap
          else math.min(cap, tokens + math.max(0L, r.t - lastT) * refill)
        val admitted = refilled >= r.cost
        tokens = if (admitted) refilled - r.cost else refilled
        lastT = math.max(lastT, r.t)
        Decision(r.seq, r.t, r.cost, tokens, admitted)
      }
    }
    val ms = MemoryStream[Keyed[Request]]
    val out = StreamQuota.quotaStream(ms.toDS(), cap, refill)
    val q = out.writeStream.format("memory").queryName("quota_out")
      .outputMode("append").start()
    try {
      val all = reqs.toSeq.flatMap { case (k, rs) => rs.map(r => Keyed(k, r.seq, r)) }
        .sortBy(kr => (kr.value.seq, kr.key))
      val chunks = all.grouped(3).toSeq
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
      val before = spark.table("quota_out").count()
      ms.addData(chunks.head); q.processAllAvailable()
      assert(spark.table("quota_out").count() === before, "replay must decide nothing")
      val got = spark.table("quota_out").as[Keyed[Decision]].collect()
        .groupBy(_.key).view.mapValues(_.map(_.value).sortBy(_.seq).toSeq).toMap
      reqs.foreach { case (k, rs) =>
        assert(got(k) === replay(rs), s"key $k must match the batch replay")
      }
      // the burst shape actually exercised both outcomes
      assert(got(1L).map(_.admitted) === Seq(true, true, false, true, false))
      assert(got(2L).map(_.admitted) === Seq(true, true, false))
    } finally q.stop()
  }

  test("composed ingestion pipeline: admission -> near-dup -> packing, stream == batch across a restart") {
    implicit val sq = spark.sqlContext
    import graft.streaming.StreamIngest
    def tok(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    val A = tok("a", 30)
    val B = tok("a", 29) + " zzz"  // near-dup of A: 25/31 shingles = j 806
    val C = tok("c", 30)
    val D = tok("c", 29) + " qqq"  // near-dup of C
    val firstHalf = Seq(
      (10L, A), (20L, B), (30L, C), (40L, D),
      (50L, "too short"),                          // fails the length gate
      (70L, tok("u", 25)))
    val secondHalf = Seq(
      (3L, A.toUpperCase + "  "), // exact dup of A: rep 10 -> 3 (same content_key)
      (25L, D),                   // exact dup of D: rep 40 -> 25, FLIPS pair {C,D}
      (60L, Array.fill(30)("spam").mkString(" ")), // fails the diversity gate
      (80L, tok("v", 25)))
    val ms = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt").toString
    val (q1, st1) = StreamIngest.startEphemeral(ms.toDF().toDF("doc_id", "text"), ckpt)
    try { ms.addData(firstHalf: _*); q1.processAllAvailable() } finally q1.stop()
    // any-prefix equivalence: the composed stream state equals the one-shot
    // batch pipeline over the same prefix (here: pair {A,B} drops B, pair
    // {C,D} drops D because rep 40 > rep 30)
    val halfStream = st1.packed.collect().toSeq
    val halfBatch = StreamIngest.ingestBatch(
      firstHalf.toDF("doc_id", "text")).collect().toSeq
    assert(halfStream === halfBatch)
    assert(halfStream.map(_.getLong(4)).sum === 30L + 30L + 25L) // A + C + U1
    // retried micro-batch id is a no-op
    st1.merge(firstHalf.toDF("doc_id", "text"), 0L)
    assert(st1.packed.collect().toSeq === halfStream)
    // restart: rehydrate a fresh state from the persisted tables, resume
    // the SAME checkpoint (committed offsets skip), feed the rest
    val resumed = new StreamIngest.IngestState(spark)
    resumed.fold.rehydrate(st1.fold.tables.get, st1.lastCommittedBatch)
    val (q2, st2) = StreamIngest.startEphemeral(
      ms.toDF().toDF("doc_id", "text"), ckpt, Some(resumed))
    try { ms.addData(secondHalf: _*); q2.processAllAvailable() } finally q2.stop()
    val fullStream = st2.packed.collect().toSeq
    val fullBatch = StreamIngest.ingestBatch(
      (firstHalf ++ secondHalf).toDF("doc_id", "text")).collect().toSeq
    assert(fullStream === fullBatch)
    // the {C,D} drop decision FLIPPED after doc 25 took over group D:
    // survivors are A (rep 3), D (rep 25), U1, U2 - B, C and both gate
    // failures are gone
    assert(fullStream.map(_.getLong(4)).sum === 30L + 30L + 25L + 25L)
  }

  test("domain governance twin: stream report == batch t42 after every prefix, across a restart") {
    implicit val sq = spark.sqlContext
    import graft.streaming.StreamDomainGovernance
    import graft.operators.TextQueries
    // messy variants of a few pages across two whale domains + a tail —
    // canonical dups split ACROSS batches so the fold must absorb them
    val all = Seq(
      (1L, "https://www.big.com/a/index.html"), (2L, "HTTP://Big.com/a/"),
      (3L, "https://big.com/b?utm_source=x"), (4L, "https://m.big.com/c#f"),
      (5L, "https://big.com/d"), (6L, "https://WWW.Big.com/d/"),
      (7L, "https://whale.org/p1"), (8L, "https://whale.org/p2/index.html"),
      (9L, "http://whale.org/p3"), (10L, "https://whale.org/p1?x=1"),
      (11L, "https://tiny.net/x"), (12L, "https://tiny.net/x/"))
    val root = java.nio.file.Files.createTempDirectory("gov_twin").toString
    val ms = MemoryStream[(Long, String)]
    val (q1, st1) = StreamDomainGovernance.start(
      ms.toDF().toDF("doc_id", "url"), s"$root/ckpt", s"$root/state")
    try {
      ms.addData(all.take(5): _*); q1.processAllAvailable()
      // any-prefix equivalence after batch 1
      assert(st1.report.collect().toSeq ===
        TextQueries.domainGovernance(all.take(5).toDF("doc_id", "url"))
          .collect().toSeq)
      ms.addData(all.slice(5, 9): _*); q1.processAllAvailable()
      assert(st1.report.collect().toSeq ===
        TextQueries.domainGovernance(all.take(9).toDF("doc_id", "url"))
          .collect().toSeq)
      // retried micro-batch id is a no-op
      val before = st1.report.collect().toSeq
      st1.merge(all.take(5).toDF("doc_id", "url"), 0L)
      assert(st1.report.collect().toSeq === before)
    } finally q1.stop()
    // restart through the SAME front-door call (durable-by-default):
    // folded state returns from stateDir, offsets from the checkpoint
    val (q2, st2) = StreamDomainGovernance.start(
      ms.toDF().toDF("doc_id", "url"), s"$root/ckpt", s"$root/state")
    try {
      ms.addData(all.drop(9): _*); q2.processAllAvailable()
      assert(st2.report.collect().toSeq ===
        TextQueries.domainGovernance(all.toDF("doc_id", "url")).collect().toSeq)
      // the planted shape actually exercised the fold: cross-batch dups
      // collapsed (big.com/a arrived in batch 1 twice, tiny.net/x in one
      // batch as two variants)
      val r = st2.report.collect().map(x => x.getString(0) -> x).toMap
      assert(r("big.com").getLong(1) === 6L && r("big.com").getLong(2) === 4L)
      assert(r("tiny.net").getLong(1) === 2L && r("tiny.net").getLong(2) === 1L)
    } finally q2.stop()
  }

  test("composed ingestion: durable state survives a FULL session kill — disk-only rehydration") {
    import graft.streaming.StreamIngest
    def tok(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    val A = tok("a", 30)
    val B = tok("a", 29) + " zzz" // near-dup of A
    val C = tok("c", 30)
    val D = tok("c", 29) + " qqq" // near-dup of C
    val firstHalf = Seq((10L, A), (20L, B), (30L, C), (40L, D), (70L, tok("u", 25)))
    val secondHalf = Seq(
      (3L, A.toUpperCase + "  "), // exact dup of A: rep 10 -> 3
      (25L, D),                   // exact dup of D: rep 40 -> 25, flips pair {C,D}
      (80L, tok("v", 25)))
    val root = java.nio.file.Files.createTempDirectory("ingest_durable").toString
    val srcDir = s"$root/src"; val ckpt = s"$root/ckpt"; val stateDir = s"$root/state"
    // a FILE source, not MemoryStream: source files and the query checkpoint
    // both live on disk, so a restarted query in a DIFFERENT session resumes
    // offsets (and batch ids) exactly like a production restart would
    firstHalf.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    def docsStream(s: org.apache.spark.sql.SparkSession) =
      s.readStream.schema("doc_id LONG, text STRING").parquet(srcDir)
    val (q1, st1) = StreamIngest.start(docsStream(spark), ckpt, stateDir)
    try q1.processAllAvailable() finally q1.stop()
    assert(st1.packed.collect().toSeq ===
      StreamIngest.ingestBatch(firstHalf.toDF("doc_id", "text")).collect().toSeq)
    // kill the session entirely: the resumed run lives in a brand-new
    // SparkSession whose ingest state comes from stateDir's parquet tables
    // + _latest marker ALONE (the shared test JVM keeps one SparkContext,
    // which holds no ingest state — every frame below reads disk)
    val s2 = spark.newSession()
    assert(StreamIngest.load(s2, stateDir).lastCommittedBatch >= 0L,
      "marker must rehydrate the committed batch id")
    secondHalf.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    // DEFAULT CONSTRUCTION is restart-safe: the restart is the very same
    // front-door call as the first start — no explicit load/prior wiring
    val (q2, st2) = StreamIngest.start(docsStream(s2), ckpt, stateDir)
    try q2.processAllAvailable() finally q2.stop()
    val full = (firstHalf ++ secondHalf).toDF("doc_id", "text")
    assert(st2.packed.collect().toSeq ===
      StreamIngest.ingestBatch(full).collect().toSeq)
    // the flipped {C,D} decision and the rep shrink both made it through
    // the disk round-trip: survivors are A (rep 3), D (rep 25), U1, V1
    assert(st2.packed.collect().map(_.getLong(4)).sum === 30L + 30L + 25L + 25L)
  }

  test("decontamination twin: stream report == batch t44 after every prefix, across a restart") {
    implicit val sq = spark.sqlContext
    import graft.streaming.StreamDecontaminate
    import graft.operators.TextQueries
    def gram(p: String) = (1 to 8).map(p + _).mkString(" ")
    // heldout ids < 100, train ids >= 100 — so the batch oracle can replay
    // the same split with one predicate over the union frame
    val heldout = Seq(
      (1L, s"${gram("g")} tail", "en"),
      (2L, gram("k"), "de"))
    val b1 = Seq(
      (101L, s"lead ${gram("g")} more", "en"), // leaks g -> dropped
      (102L, s"${gram("h")} x", "en"),         // clean -> kept
      (103L, s"${gram("k")} y", "de"))         // leaks k -> dropped
    val b2 = Seq(
      (104L, gram("h"), "en"),   // shares h with TRAIN 102 only -> kept
      (105L, "too short", "en"), // < 8 tokens: no shingles -> kept
      (106L, gram("g"), "fr"))   // leak in a lang heldout never saw -> dropped
    val b3 = Seq(
      (107L, s"${gram("k")} z", "de"), // dropped
      (108L, "a clean document entirely its own", "en"))
    def batchReport(prefix: Seq[(Long, String, String)]) =
      TextQueries.decontaminateReport(
        (heldout ++ prefix).toDF("doc_id", "text", "lang"),
        trainPred = $"doc_id" >= 100L).collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("decont_twin").toString
    val ms = MemoryStream[(Long, String, String)]
    val heldoutDf = heldout.toDF("doc_id", "text", "lang")
    val (q1, st1) = StreamDecontaminate.start(
      ms.toDF().toDF("doc_id", "text", "lang"), heldoutDf,
      s"$root/ckpt", s"$root/state")
    try {
      ms.addData(b1: _*); q1.processAllAvailable()
      assert(st1.report.collect().toSeq === batchReport(b1))
      ms.addData(b2: _*); q1.processAllAvailable()
      assert(st1.report.collect().toSeq === batchReport(b1 ++ b2))
      // retried micro-batch id is a no-op
      val before = st1.report.collect().toSeq
      st1.merge(b1.toDF("doc_id", "text", "lang"), 0L)
      assert(st1.report.collect().toSeq === before)
    } finally q1.stop()
    // restart through the SAME front-door call (durable-by-default)
    val (q2, st2) = StreamDecontaminate.start(
      ms.toDF().toDF("doc_id", "text", "lang"), heldoutDf,
      s"$root/ckpt", s"$root/state")
    try {
      ms.addData(b3: _*); q2.processAllAvailable()
      assert(st2.report.collect().toSeq === batchReport(b1 ++ b2 ++ b3))
      // the planted decisions actually exercised the fold: en kept 4 of 5,
      // de dropped both, fr dropped its only doc
      val r = st2.report.collect().map(x => x.getString(0) -> x).toMap
      assert(r("en").getLong(1) === 5L && r("en").getLong(2) === 1L)
      assert(r("de").getLong(1) === 2L && r("de").getLong(2) === 2L)
      assert(r("fr").getLong(1) === 1L && r("fr").getLong(2) === 1L)
    } finally q2.stop()
    // a restart against a DIFFERENT benchmark set fails loudly: past drop
    // decisions were made against the original heldout shingles
    val other = Seq((1L, gram("z"), "en")).toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException](
      StreamDecontaminate.load(spark, other, s"$root/state"))
    assert(e.getMessage.contains("different heldout set"))
  }

  test("semantic decontamination twin: stream report == batch s22 after every prefix, across a restart") {
    implicit val sq = spark.sqlContext
    import graft.streaming.StreamSemanticDecontaminate
    import graft.operators.SimilarityQueries
    def v(hot: Int): Array[Float] = Array.tabulate(64)(i => if (i == hot) 1f else 0f)
    // heldout ids < 100, train ids >= 100 — the batch twin replays the
    // same split with one predicate over the union frames. Exact mirrors
    // (cos 1000) share EVERY bucket, so the drop is deterministic;
    // orthogonal one-hots (cos 0) may collide in a bucket but the exact
    // verify kills them deterministically.
    val heldout = Seq((1L, "held one", "en", v(0)), (2L, "held two", "de", v(1)))
    val b1: Seq[(Long, String, String, Array[Float])] = Seq(
      (101L, "mirror of one", "en", v(0)),     // mirrors held 1 -> dropped
      (102L, "clean doc here", "en", v(5)),    // orthogonal -> kept
      (103L, "der spiegel", "de", v(1)))       // mirrors held 2 -> dropped
    val b2: Seq[(Long, String, String, Array[Float])] = Seq(
      (104L, "another clean", "en", v(6)),     // kept
      (105L, "kein vektor", "en", null),       // no embedding: kept, counted
      (106L, "miroir", "fr", v(0)))            // mirror in a lang heldout never saw -> dropped
    val b3: Seq[(Long, String, String, Array[Float])] = Seq(
      (107L, "noch ein spiegel", "de", v(1)),  // dropped
      (108L, "clean again entirely", "en", v(7)))
    def batchReport(prefix: Seq[(Long, String, String, Array[Float])]) = {
      val all = heldout ++ prefix
      SimilarityQueries.semanticDecontaminateReport(spark,
        all.map(t => (t._1, t._2, t._3)).toDF("doc_id", "text", "lang"),
        all.filter(_._4 != null).map(t => (t._1, t._4)).toDF("vec_id", "embedding"),
        trainPred = $"doc_id" >= 100L).collect().toSeq
    }
    val root = java.nio.file.Files.createTempDirectory("semdecont_twin").toString
    val ms = MemoryStream[(Long, String, String, Array[Float])]
    val heldoutDf = heldout.toDF("doc_id", "text", "lang", "embedding")
    val (q1, st1) = StreamSemanticDecontaminate.start(
      ms.toDF().toDF("doc_id", "text", "lang", "embedding"), heldoutDf,
      s"$root/ckpt", s"$root/state")
    try {
      ms.addData(b1: _*); q1.processAllAvailable()
      assert(st1.report.collect().toSeq === batchReport(b1))
      ms.addData(b2: _*); q1.processAllAvailable()
      assert(st1.report.collect().toSeq === batchReport(b1 ++ b2))
      // retried micro-batch id is a no-op
      val before = st1.report.collect().toSeq
      st1.merge(b1.toDF("doc_id", "text", "lang", "embedding"), 0L)
      assert(st1.report.collect().toSeq === before)
    } finally q1.stop()
    // restart through the SAME front-door call (durable-by-default)
    val (q2, st2) = StreamSemanticDecontaminate.start(
      ms.toDF().toDF("doc_id", "text", "lang", "embedding"), heldoutDf,
      s"$root/ckpt", s"$root/state")
    try {
      ms.addData(b3: _*); q2.processAllAvailable()
      assert(st2.report.collect().toSeq === batchReport(b1 ++ b2 ++ b3))
      // the planted decisions exercised the fold: en kept 4 of 5 (the
      // null-embedding doc counted, never droppable), de dropped both,
      // fr dropped its only doc
      val r = st2.report.collect().map(x => x.getString(0) -> x).toMap
      assert(r("en").getLong(1) === 5L && r("en").getLong(2) === 1L)
      assert(r("de").getLong(1) === 2L && r("de").getLong(2) === 2L)
      assert(r("fr").getLong(1) === 1L && r("fr").getLong(2) === 1L)
    } finally q2.stop()
    // a restart against a DIFFERENT benchmark set fails loudly: past drop
    // decisions were made against the original heldout embeddings
    val other = Seq((1L, "other", "en", v(3))).toDF("doc_id", "text", "lang", "embedding")
    val e = intercept[IllegalArgumentException](
      StreamSemanticDecontaminate.load(spark, other, s"$root/state"))
    assert(e.getMessage.contains("different heldout set"))
  }

  test("decontamination apply gate: emitted kept corpus == batch s23 after every prefix, across a restart") {
    implicit val sq = spark.sqlContext
    import graft.streaming.StreamDecontaminateApply
    import graft.operators.SimilarityQueries
    def gram(p: String) = (1 to 8).map(p + _).mkString(" ")
    def v(hot: Int): Array[Float] = Array.tabulate(64)(i => if (i == hot) 1f else 0f)
    // heldout ids < 100, train ids >= 100 (the decont-twin convention)
    val heldout = Seq((1L, s"${gram("g")} tail", "en", v(0)))
    val b1: Seq[(Long, String, String, Array[Float])] = Seq(
      (101L, "mirror embedding", "en", v(0)),  // semantic casualty
      (102L, s"lead ${gram("g")}", "en", v(5)), // lexical casualty
      (103L, "clean one", "en", v(6)))          // kept
    val b2: Seq[(Long, String, String, Array[Float])] = Seq(
      (104L, "clean two", "de", v(7)),          // kept
      (105L, "kein vektor", "en", null))        // no embedding, clean text: kept
    def batchKept(prefix: Seq[(Long, String, String, Array[Float])]) = {
      val all = heldout ++ prefix
      SimilarityQueries.decontaminatedCorpus(spark,
        all.map(t => (t._1, t._2, t._3)).toDF("doc_id", "text", "lang"),
        all.filter(_._4 != null).map(t => (t._1, t._4)).toDF("vec_id", "embedding"),
        trainPred = $"doc_id" >= 100L).collect().toSeq
    }
    val root = java.nio.file.Files.createTempDirectory("decont_apply").toString
    val ms = MemoryStream[(Long, String, String, Array[Float])]
    val heldoutDf = heldout.toDF("doc_id", "text", "lang", "embedding")
    def kept() = StreamDecontaminateApply.kept(spark, s"$root/out")
      .orderBy("doc_id").collect().toSeq
    val q1 = StreamDecontaminateApply.start(
      ms.toDF().toDF("doc_id", "text", "lang", "embedding"), heldoutDf,
      s"$root/ckpt", s"$root/out")
    try {
      ms.addData(b1: _*); q1.processAllAvailable()
      assert(kept() === batchKept(b1))
    } finally q1.stop()
    // restart through the SAME call; the source checkpoint resumes
    val q2 = StreamDecontaminateApply.start(
      ms.toDF().toDF("doc_id", "text", "lang", "embedding"), heldoutDf,
      s"$root/ckpt", s"$root/out")
    try {
      ms.addData(b2: _*); q2.processAllAvailable()
      assert(kept() === batchKept(b1 ++ b2))
      // the planted casualties actually fell: 101/102 out, 103/104/105 in
      assert(kept().map(_.getLong(0)) === Seq(103L, 104L, 105L))
    } finally q2.stop()
  }

  test("BatchFold's commit disambiguates first-commit crash from marker loss") {
    import graft.streaming.BatchFold
    import org.apache.hadoop.fs.Path
    val fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

    // first-commit crash shape: table parquet landed (with _SUCCESS) but the
    // run died before any marker — no commit ever completed, so rehydrating
    // fresh is safe (the source checkpoint redelivers the batch): None
    val crash = java.nio.file.Files.createTempDirectory("bss_crash").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$crash/urls_0")
    assert(BatchFold.committedBatch(spark, crash) === None)

    // normal committed dir reads back its batch id
    val ok = java.nio.file.Files.createTempDirectory("bss_ok").toString
    BatchFold.commit(spark, ok, Seq("urls" -> Seq((1L, "a")).toDF("k", "v")), 3L)
    assert(BatchFold.committedBatch(spark, ok) === Some(3L))

    // marker loss over committed state: _committed_once survives, so a
    // missing _latest is unrecoverable data loss — fail loudly
    fs.delete(new Path(ok, "_latest"), false)
    val e = intercept[IllegalStateException](BatchFold.committedBatch(spark, ok))
    assert(e.getMessage.contains("refusing to rehydrate"))
  }
}
