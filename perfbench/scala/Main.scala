package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SessionConf, SparkEntry, Tables}
import graft.dsl.{Compiler, Interpreter, Keyed, SP}
import graft.streaming.StreamFsm

/** Benchmark harness for graft. It runs one workload in one `local[N]` JVM
  * as a closed loop (the next query, DSL run or micro-batch starts only when
  * the previous one finished) and writes every measurement to one JSON file.
  * perfbench/run.py builds the engine, generates the inputs, launches this
  * main and turns the file into the benchmark's result line.
  *
  * Everything is measured from outside the engine: wall clocks around calls
  * to public entry points (`QueryDef.fn`, `Tables.load`, `Compiler.*`,
  * `Interpreter.eval`, `StreamFsm.fsmStreamAuto`), and, in a traced run,
  * Spark's public listeners with job tags set by this harness.
  *
  * Arguments are `--key value` pairs; run.py documents them. */
object Main {
  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def get(k: String): Option[String] = m.get(k)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Measurements of one run, written as JSON at the end. */
  final class Run(val o: Opts, val tracing: Boolean) {
    val cores: Int = o.int("cores")
    /** Wall of each operation, by what it ran: a query, a DSL path or a
      * micro-batch. */
    val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[String]
    val info = mutable.LinkedHashMap.empty[String, Any]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0L

    /** Counts one operation; a throw or a failed check marks it failed. */
    def op[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }

    def fail(msg: String): Unit = {
      System.err.println(s"[perfbench] FAILED $msg")
      failures += msg.take(500)
    }

    def check(what: String, ok: Boolean, detail: => String): Unit =
      if (!ok) fail(s"$what: $detail")

    /** A span of one operation; `id` is shared by all spans of the
      * operation and `parent` names the enclosing span's layer. */
    def span(id: String, name: String, layer: String, start: Long, end: Long, parent: String): Unit =
      spans += Map("id" -> id, "name" -> name, "layer" -> layer, "parent" -> parent,
        "start_ms" -> start / 1e6, "end_ms" -> end / 1e6)
  }

  /** One workload: how to set it up, warm it, and run one timed pass. */
  trait Workload {
    def setUp(spark: SparkSession, run: Run): Unit
    def warm(spark: SparkSession, run: Run): Unit
    /** One timed pass; records op walls. Returns the pass wall in seconds. */
    def pass(spark: SparkSession, run: Run, tr: Option[Tracer]): Double
    /** Per-layer readings of the traced pass. */
    def layers(spark: SparkSession, run: Run, tr: Tracer, passWall: Double): Unit
  }

  /** End-to-end timings of the untraced passes, with graft.Bench's
    * estimator: each operation's best timed run (the first timed pass still
    * runs ~20% slower than the last, JIT), summed for `suite_s`. A
    * micro-batch runs once, so for the stream these are its plain latencies. */
  def summarize(run: Run): Unit = {
    val best = run.walls.values.map(_.min).toSeq
    run.metrics("suite_s") = best.sum
    run.metrics("query_p50_s") = median(best)
    run.metrics("query_p90_s") = quantile(best, 0.9)
  }

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SessionConf.common(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val run = new Run(o, o("trace") == "1")
    val jvmStartNanos = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val localDir = o("local-dir")
    val w: Workload = o("kind") match {
      case "suite" => new QuerySet(o)
      case "dsl" => new DslLoad(o)
      case "stream" => new StreamReplay(o)
      case k => sys.error(s"unknown workload kind $k")
    }
    // one cold set-up, from JVM start: class loading, JIT, session start and
    // the workload's first loads
    val spark = session(run.cores, localDir)
    w.setUp(spark, run)
    run.metrics("setup_s") = secs(jvmStartNanos)
    run.info("spark_version") = spark.version

    val phase = mutable.LinkedHashMap("setup" -> secs(jvmStartNanos))
    w.warm(spark, run)
    System.gc()
    phase("warm") = secs(jvmStartNanos)
    val passes = o.int("passes")
    (1 to passes).foreach(_ => run.passWalls += w.pass(spark, run, None))
    summarize(run)
    phase("timed") = secs(jvmStartNanos)
    if (run.tracing) {
      val tr = new Tracer(spark)
      tr.attach()
      val gc0 = gcSeconds()
      val traced = w.pass(spark, run, Some(tr))
      tr.drain()
      run.metrics("execution.gc_s") = gcSeconds() - gc0
      run.metrics("trace.overhead_s") = traced - run.passWalls.last
      w.layers(spark, run, tr, traced)
      run.metrics("host.control_s") = controlSeconds(spark)
      tr.detach()
    }
    run.metrics("failed_ratio") = run.failures.size.toDouble / math.max(1L, run.attempted)
    run.metrics("rss_peak_mb") = rssPeakMb()
    run.info("op_walls_s") = run.walls.map { case (k, v) => k -> v.toSeq }.toMap
    run.info("passes") = run.passWalls.toSeq
    spark.stop()
    phase("stop") = secs(jvmStartNanos)
    run.info("phase_end_s") = phase.toMap
    writeResult(new File(o("out")), run)
  }

  /** Bench's constant-work drift control (xxhash64 over generated ids),
    * scaled to 32M rows: one warm run, then the min of two. */
  def controlSeconds(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 25, 1L, 16).select(xxhash64(col("id")).as("h"))
        .agg(bit_xor(col("h"))).write.mode("overwrite").format("noop").save()
      secs(t0)
    }
    once()
    math.min(once(), once())
  }

  def writeResult(f: File, run: Run): Unit = {
    val out = Map[String, Any](
      "attempted" -> run.attempted,
      "failed" -> run.failures.size,
      "failures" -> run.failures.toSeq,
      "metrics" -> run.metrics.toMap,
      "info" -> run.info.toMap,
      "spans" -> run.spans.toSeq)
    val w = new PrintWriter(f, "UTF-8")
    try w.println(Json(out)) finally w.close()
  }

  /** Order-insensitive digest of a frame: row count and the sum of a 64-bit
    * hash of each row's JSON rendering. */
  def digest(df: DataFrame): String = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(d.columns.map(col).toIndexedSeq: _*)))
    val r = d.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  def expectedDigests(o: Opts): Map[String, String] =
    o.get("expect").filter(p => new File(p).isFile).map { p =>
      import org.json4s._
      val src = scala.io.Source.fromFile(p, "UTF-8")
      val j = try org.json4s.jackson.JsonMethods.parse(src.mkString) finally src.close()
      (j \ o("data-key")) match {
        case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      }
    }.getOrElse(Map.empty)

  /** Matches an observed digest against the expected one; an expected
    * digest of the form `rows:*` checks the row count only. */
  def digestMatches(expected: String, observed: String): Boolean =
    if (expected.endsWith(":*")) observed.takeWhile(_ != ':') == expected.takeWhile(_ != ':')
    else expected == observed
}

/** `suite-sf0.1` and `heavy-sf1`: a fixed list of `QueryDef`s run the way
  * graft.Bench runs them (noop sink, cache cleared before each timed query),
  * in an order drawn from the seed. */
final class QuerySet(o: Main.Opts) extends Main.Workload {
  import Main._
  private val dir = o("data")
  private val defs = SparkEntry.allDefs.map(q => q.name -> q).toMap
  private val names = new scala.util.Random(o.long("seed")).shuffle(o("queries").split(",").toSeq)
  private val wrong = o.get("wrong-digest").toSet
  private var cachedMb = 0.0

  /** The first load of every table (file listing and schema discovery). */
  def setUp(spark: SparkSession, run: Run): Unit =
    Tables.names.foreach(t => if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t))

  def warm(spark: SparkSession, run: Run): Unit = {
    val expected = expectedDigests(o)
    val observed = mutable.LinkedHashMap.empty[String, String]
    names.foreach { n =>
      run.op(s"digest $n") {
        val d = digest(defs(n).fn(spark, dir))
        observed(n) = d
        if (!o.get("record").contains("1")) {
          val want = if (wrong(n)) "-1:0" else expected.getOrElse(n, "missing")
          run.check(s"digest $n", digestMatches(want, d), s"expected $want, got $d")
        }
      }
    }
    run.info("digests") = observed.toMap
    // one untimed pass through the noop sink: after the digest pass alone
    // the first timed pass still ran ~20% slower than the second (JIT)
    names.foreach { n =>
      spark.catalog.clearCache()
      run.op(s"warm $n")(defs(n).fn(spark, dir).write.mode("overwrite").format("noop").save())
    }
  }

  def pass(spark: SparkSession, run: Run, tr: Option[Tracer]): Double = {
    val passNo = run.passWalls.size
    names.zipWithIndex.map { case (n, i) =>
      spark.catalog.clearCache()
      val id = s"${Tracer.Prefix}$passNo-$i"
      val t0 = System.nanoTime()
      var t1 = t0
      val ok = run.op(s"query $n") {
        val df = Tracer.tagged(spark, s"$id-c")(defs(n).fn(spark, dir))
        t1 = System.nanoTime()
        Tracer.tagged(spark, s"$id-x")(df.write.mode("overwrite").format("noop").save())
      }
      val t2 = System.nanoTime()
      if (tr.isDefined) {
        run.span(id, n, "query", t0, t2, "")
        run.span(id, n, "operators.construct", t0, t1, "query")
        run.span(id, n, "action", t1, t2, "query")
        // footprint of the frames the query left cached
        val mb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
        cachedMb = math.max(cachedMb, mb)
      }
      if (ok.isDefined && tr.isEmpty) run.walls.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += (t2 - t0) / 1e9
      (t2 - t0) / 1e9
    }.sum
  }

  def layers(spark: SparkSession, run: Run, tr: Tracer, passWall: Double): Unit = {
    val passNo = run.passWalls.size
    val ids = names.indices.map(i => s"${Tracer.Prefix}$passNo-$i")
    // split each action span into its planning phases and the execution rest
    val actions = run.spans.filter(s => s("layer") == "action" && ids.contains(s("id")))
    var construct, planning, execution = 0.0
    actions.foreach { a =>
      val id = a("id").toString
      val start = a("start_ms").asInstanceOf[Double]
      val end = a("end_ms").asInstanceOf[Double]
      val plan = math.min(tr.acc(s"$id-x").planningMs.toDouble, end - start)
      planning += plan / 1e3
      execution += (end - start - plan) / 1e3
      run.span(id, a("name").toString, "planning", (start * 1e6).toLong, ((start + plan) * 1e6).toLong, "action")
      run.span(id, a("name").toString, "execution", ((start + plan) * 1e6).toLong, (end * 1e6).toLong, "action")
    }
    run.spans.filter(s => s("layer") == "operators.construct" && ids.contains(s("id")))
      .foreach(s => construct += (s("end_ms").asInstanceOf[Double] - s("start_ms").asInstanceOf[Double]) / 1e3)
    val c = ids.map(_ + "-c")
    val x = ids.map(_ + "-x")
    run.metrics ++= Seq(
      "operators.construct_s" -> construct,
      "operators.construct_jobs" -> tr.sum(c)(_.jobs).toDouble,
      "operators.construct_share" -> construct / passWall,
      "planning.s" -> planning,
      "execution.s" -> execution,
      "execution.jobs" -> tr.sum(x)(_.jobs).toDouble,
      "execution.stages" -> tr.sum(x)(_.stages).toDouble,
      "execution.tasks" -> tr.sum(x)(_.tasks).toDouble,
      "execution.task_s" -> tr.sum(x)(_.taskMs) / 1e3,
      "execution.core_util" -> tr.sum(c ++ x)(_.taskMs) / 1e3 / (passWall * run.cores),
      "execution.shuffle_mb" -> tr.sum(x)(_.shuffleBytes) / 1048576.0,
      "execution.spill_mb" -> tr.sum(x)(_.spillBytes) / 1048576.0,
      "opcache.cached_scans" -> tr.sum(x)(_.cachedScans).toDouble,
      "opcache.single_partition_scans" -> tr.sum(x)(_.singlePartitionScans).toDouble,
      "opcache.cached_mb" -> cachedMb)
    // per-query profile of the traced pass, for choosing and checking the query mix
    def spanSeconds(id: String, layer: String): Double =
      run.spans.filter(s => s("id") == id && s("layer") == layer)
        .map(s => s("end_ms").asInstanceOf[Double] - s("start_ms").asInstanceOf[Double]).sum / 1e3
    run.info("per_query") = names.zip(ids).map { case (n, id) =>
      val (ca, xa) = (tr.acc(s"$id-c"), tr.acc(s"$id-x"))
      n -> Map("wall_s" -> spanSeconds(id, "query"), "construct_s" -> spanSeconds(id, "operators.construct"),
        "planning_s" -> spanSeconds(id, "planning"), "construct_jobs" -> ca.jobs,
        "jobs" -> (ca.jobs + xa.jobs), "task_s" -> (ca.taskMs + xa.taskMs) / 1e3)
    }.toMap
    // repeat loads of every table (schema discovery included)
    val tag = s"${Tracer.Prefix}tables"
    val loadTimes = Tables.names.map { t =>
      val t0 = System.nanoTime()
      Tracer.tagged(spark, tag)(if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t))
      secs(t0) * 1e3
    }
    tr.drain()
    run.metrics("tables.load_ms") = median(loadTimes)
    run.metrics("tables.load_jobs") = tr.acc(tag).jobs.toDouble / Tables.names.size
  }
}

/** Functions shipped to executors by the DSL workload. */
object DslFns extends Serializable {
  def fact(x: Long): Long = (1L to x).product max 1L

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  val factCase: Column => Column =
    v => (0L to 9L).foldLeft(lit(-1L))((acc, k) => when(v === k, lit(fact(k))).otherwise(acc))

  /** The reference load pipeline with Column witnesses (expression path). */
  val exprSp: SP[Long, Long] = SP.compose(
    SP.compose(
      SP.filterExpr[Long](_ % 2 == 0, v => v % 2 === 0),
      SP.mapExpr[Long, Long](fact, factCase)),
    SP.mapExpr[Long, Long](_ + 1, v => v + 1))

  /** The same pipeline with opaque lambdas (typed path). */
  val typedSp: SP[Long, Long] = SP.compose(
    SP.compose(SP.filter[Long](_ % 2 == 0), SP.map[Long, Long](fact)),
    SP.map[Long, Long](_ + 1))

  /** The same pipeline as a Mealy machine (stateful fallback). */
  val fsmSp: SP[Long, Long] = SP.fsm(()) { (_: Unit, x: Long) =>
    if (x % 2 == 0) ((), Seq(fact(x) + 1)) else ((), Nil)
  }

  /** The same pipeline as a hand-written Get/Put machine. */
  lazy val machine: SP[Long, Long] =
    SP.get[Long, Long](x => if (x % 2 == 0) SP.put(fact(x) + 1, machine) else machine)

  val Keys = 64
}

/** `dsl-load`: the reference `load.rs` pipeline through each Compiler path,
  * over `spark.range` values `id % 10`; the seed assigns elements to keys. */
final class DslLoad(o: Main.Opts) extends Main.Workload {
  import Main._
  import DslFns._
  private val Array(nExpr, nTyped, nFsm, nInterp) = o("sizes").split(",").map(_.toLong)
  require(Seq(nExpr, nTyped, nFsm, nInterp).forall(_ % 10 == 0), "DSL sizes must be multiples of 10")
  private val seed = o.long("seed")
  private val rates = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val compileMs = mutable.ArrayBuffer.empty[Double]

  def setUp(spark: SparkSession, run: Run): Unit = ()

  private def keyed(spark: SparkSession, n: Long): Dataset[Keyed[Long]] = {
    import spark.implicits._
    val s = seed
    spark.range(n).map(id => Keyed(java.lang.Math.floorMod(mix(id ^ s), DslFns.Keys.toLong), id.longValue, id % 10))
  }

  /** Builds one path's plan; returns it with the element count. */
  private def build(spark: SparkSession, path: String): (DataFrame, Long) = {
    import spark.implicits._
    path match {
      case "expr" =>
        val df = spark.range(nExpr).select((col("id") % 10).as("value"))
        (Compiler.compileExpr(exprSp, df, "value").getOrElse(sys.error("expression path expected")), nExpr)
      case "typed" => (Compiler.compile(typedSp)(keyed(spark, nTyped)).toDF(), nTyped)
      case "stateful" => (Compiler.compile(fsmSp)(keyed(spark, nFsm)).toDF(), nFsm)
    }
  }

  private val paths = Seq("expr", "typed", "stateful")

  /** Runs one path; checks the closed form (5 outputs, sum 41,072 per 10). */
  private def runPath(spark: SparkSession, run: Run, path: String, tag: String): Option[Double] = {
    val t0 = System.nanoTime()
    run.op(s"dsl $path") {
      val (df, n) = Tracer.tagged(spark, tag) {
        val tc = System.nanoTime()
        val b = build(spark, path)
        compileMs += secs(tc) * 1e3
        b
      }
      val r = Tracer.tagged(spark, tag)(df.agg(sum(col("value")), count(lit(1))).head())
      run.check(s"dsl $path closed form", r.getLong(0) == 41072L * n / 10 && r.getLong(1) == 5L * n / 10,
        s"sum ${r.getLong(0)} count ${r.getLong(1)} for $n elements")
      val wall = secs(t0)
      rates.getOrElseUpdate(path, mutable.ArrayBuffer.empty) += n / wall / 1e6
      wall
    }
  }

  /** Two untimed rounds: the first timed round after a single one still
    * ran ~25% slower (JIT of the typed and stateful paths). */
  def warm(spark: SparkSession, run: Run): Unit = {
    (1 to 2).foreach(_ => paths.foreach(p => runPath(spark, run, p, s"${Tracer.Prefix}warm")))
    run.info("warm_rates_melem_s") = rates.map { case (k, v) => k -> v.toSeq }.toMap
    rates.clear()
    compileMs.clear()
  }

  def pass(spark: SparkSession, run: Run, tr: Option[Tracer]): Double = {
    if (tr.isDefined) { rates.clear(); compileMs.clear() }
    val passNo = run.passWalls.size
    val passWall = paths.map { p =>
      val id = s"${Tracer.Prefix}$passNo-$p"
      val t0 = System.nanoTime()
      val wall = runPath(spark, run, p, id)
      if (tr.isDefined) run.span(id, p, "dsl.run", t0, System.nanoTime(), "")
      if (tr.isEmpty) wall.foreach(run.walls.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += _)
      wall.getOrElse(secs(t0))
    }.sum
    run.info("rates_melem_s") = rates.map { case (k, v) => k -> v.toSeq }.toMap
    passWall
  }

  /** Single-thread interpreter throughput, no Spark involved. */
  private def interpRate(run: Run, sp: SP[Long, Long]): Double = {
    val rs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var s, c = 0L
      Interpreter.eval(sp, Iterator.range(0, nInterp.toInt).map(i => (i % 10).toLong)).iterator
        .foreach { v => s += v; c += 1 }
      run.check("interpreter closed form", s == 41072L * nInterp / 10 && c == 5L * nInterp / 10, s"sum $s count $c")
      nInterp / secs(t0) / 1e6
    }
    median(rs)
  }

  def layers(spark: SparkSession, run: Run, tr: Tracer, passWall: Double): Unit = {
    val passNo = run.passWalls.size
    val ids = paths.map(p => s"${Tracer.Prefix}$passNo-$p")
    val planning = tr.sum(ids)(_.planningMs) / 1e3
    val stateful = tr.acc(s"${Tracer.Prefix}$passNo-stateful")
    run.metrics ++= Seq(
      "dsl_expr_melem_s" -> median(rates("expr").toSeq),
      "dsl_typed_melem_s" -> median(rates("typed").toSeq),
      "dsl_stateful_melem_s" -> median(rates("stateful").toSeq),
      "dsl.compile_ms" -> median(compileMs.toSeq),
      "dsl.stateful_task_s" -> stateful.taskMs / 1e3,
      "dsl.stateful_shuffle_mb" -> stateful.shuffleBytes / 1048576.0,
      "planning.s" -> planning,
      "execution.s" -> (passWall - planning - compileMs.sum / 1e3),
      "execution.jobs" -> tr.sum(ids)(_.jobs).toDouble,
      "execution.stages" -> tr.sum(ids)(_.stages).toDouble,
      "execution.tasks" -> tr.sum(ids)(_.tasks).toDouble,
      "execution.task_s" -> tr.sum(ids)(_.taskMs) / 1e3,
      "execution.core_util" -> tr.sum(ids)(_.taskMs) / 1e3 / (passWall * run.cores),
      "execution.shuffle_mb" -> tr.sum(ids)(_.shuffleBytes) / 1048576.0,
      "execution.spill_mb" -> tr.sum(ids)(_.spillBytes) / 1048576.0,
      "dsl.interp_ast_melem_s" -> interpRate(run, typedSp),
      "dsl.interp_machine_melem_s" -> interpRate(run, machine))
  }
}

/** The r05 Mealy machine: a signup toggles the user; while toggled on, each
  * purchase emits (event_id, value in cents). */
object ReplayFns extends Serializable {
  type Ev = (String, Double, Long)
  val step: (Boolean, Ev) => (Boolean, Seq[(Long, Long)]) = (st, e) => e match {
    case ("signup", _, _) => (!st, Nil)
    case ("purchase", v, id) if st => (st, Seq((id, math.floor(v * 100).toLong)))
    case _ => (st, Nil)
  }
}

/** `stream-fsm`: replays event files as micro-batches (one file per trigger)
  * through `StreamFsm.fsmStreamAuto`, sinking through `foreachBatch`. */
final class StreamReplay(o: Main.Opts) extends Main.Workload {
  import Main._
  private val inDir = o("stream-dir")
  private val work = o("local-dir")
  private val batches = o.int("batches")
  private var runs = 0
  private var batchDigest = ""
  /** (batch id, rows out, hash sum, end time) per micro-batch of the current query */
  private val sunk = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, BigDecimal, Long)]()

  private def keyedEvents(df: DataFrame): Dataset[Keyed[ReplayFns.Ev]] = {
    import df.sparkSession.implicits._
    df.select($"user_id", $"event_id", $"event_type", $"value")
      .as[(Long, Long, String, Double)]
      .map { case (u, id, t, v) => Keyed(u, id, (t, v, id)) }
  }

  private def digestOf(df: Dataset[Keyed[(Long, Long)]]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(col("key"), col("seq"), col("value")).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private def start(spark: SparkSession, dir: String): StreamingQuery = {
    import spark.implicits._
    runs += 1
    sunk.clear()
    val events = spark.readStream.schema(StreamReplay.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    StreamFsm.fsmStreamAuto(keyedEvents(events), false)(ReplayFns.step).writeStream
      .option("checkpointLocation", s"$work/checkpoint-$runs")
      .foreachBatch { (df: Dataset[Keyed[(Long, Long)]], id: Long) =>
        val (n, h) = digestOf(df)
        sunk.add((id, n, h, System.nanoTime()))
        ()
      }
      .start()
  }

  /** Set-up starts (and stops) the streaming query over an empty directory. */
  def setUp(spark: SparkSession, run: Run): Unit = {
    val empty = new File(s"$work/empty")
    empty.mkdirs()
    start(spark, empty.getPath).stop()
  }

  /** Computes the batch twin: `Compiler.compile` of the same machine over
    * the same events in one batch; then replays the warm-up files. */
  def warm(spark: SparkSession, run: Run): Unit = {
    import spark.implicits._
    run.op("batch twin") {
      val (n, h) = digestOf(Compiler.compile(SP.fsm(false)(ReplayFns.step))(
        keyedEvents(spark.read.schema(StreamReplay.schema).parquet(inDir))))
      batchDigest = s"$n:$h"
    }
    run.op("stream warm-up") {
      val q = start(spark, o("warm-dir"))
      try q.processAllAvailable() finally q.stop()
    }
  }

  private var lastLat = Seq.empty[Double]

  def pass(spark: SparkSession, run: Run, tr: Option[Tracer]): Double = {
    val t0 = System.nanoTime()
    val q = Tracer.tagged(spark, s"${Tracer.Prefix}stream-${runs + 1}")(start(spark, inDir))
    run.op("stream") {
      try {
        q.processAllAvailable()
        q.exception.foreach(e => throw e)
      } finally q.stop()
    }
    val done = sunk.asScala.toSeq.sortBy(_._1)
    // the first micro-batch also starts the query, which set-up measures:
    // latencies are taken from its end on
    val ends = done.map(_._4)
    val lat = ends.zip(ends.tail).map { case (a, b) => (b - a) / 1e9 }
    if (tr.isEmpty) lat.zipWithIndex.foreach { case (l, i) => run.walls(s"batch-${i + 1}") = mutable.ArrayBuffer(l) }
    lastLat = lat
    run.op("stream equals batch") {
      run.check("stream batches", done.size == batches, s"${done.size} micro-batches, expected $batches")
      val streamed = s"${done.map(_._2).sum}:${done.map(_._3).sum}"
      run.check("stream equals batch", streamed == batchDigest, s"stream $streamed, batch $batchDigest")
      run.info("stream_digest") = streamed
    }
    if (tr.isDefined)
      done.zip(t0 +: ends).foreach { case ((id, _, _, end), begin) =>
        run.span(s"${Tracer.Prefix}batch-$id", s"batch $id", "batch", begin, end, "")
      }
    lat.sum
  }

  def layers(spark: SparkSession, run: Run, tr: Tracer, passWall: Double): Unit = {
    // progress events travel on their own listener queue
    val deadline = System.nanoTime() + 10_000_000_000L
    while (tr.progress.asScala.count(_.numInputRows > 0) < batches && System.nanoTime() < deadline)
      Thread.sleep(5)
    val ps = tr.progress.asScala.toSeq.filter(_.numInputRows > 0)
    def p50(k: String): Double = median(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val state = ps.lastOption.flatMap(_.stateOperators.headOption)
    val a = tr.acc(s"${Tracer.Prefix}stream-$runs")
    val planning = ps.map(p => Option(p.durationMs.get("queryPlanning")).map(_.doubleValue).getOrElse(0.0)).sum / 1e3
    run.metrics ++= Seq(
      "batch_p50_ms" -> median(lastLat) * 1e3,
      "batch_p90_ms" -> quantile(lastLat, 0.9) * 1e3,
      "stream_rows_s" -> ps.filter(_.batchId > 0).map(_.numInputRows).sum / lastLat.sum,
      "streaming.add_batch_ms" -> p50("addBatch"),
      "streaming.wal_commit_ms" -> p50("walCommit"),
      "streaming.commit_offsets_ms" -> p50("commitOffsets"),
      "streaming.latest_offset_ms" -> p50("latestOffset"),
      "streaming.query_planning_ms" -> p50("queryPlanning"),
      "streaming.state_commit_ms" -> median(ps.flatMap(_.stateOperators.headOption.map(_.commitTimeMs.toDouble))),
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> state.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "planning.s" -> planning,
      "execution.s" -> (passWall - planning),
      "execution.jobs" -> a.jobs.toDouble,
      "execution.stages" -> a.stages.toDouble,
      "execution.tasks" -> a.tasks.toDouble,
      "execution.task_s" -> a.taskMs / 1e3,
      "execution.core_util" -> a.taskMs / 1e3 / (passWall * run.cores),
      "execution.shuffle_mb" -> a.shuffleBytes / 1048576.0,
      "execution.spill_mb" -> a.spillBytes / 1048576.0)
  }
}

object StreamReplay {
  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
