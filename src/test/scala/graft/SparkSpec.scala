package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared session for specs: one local session per JVM (suites reuse it),
  * built with [[SessionConf.common]] so the specs run the plans and the I/O
  * path that Bench and Verify run. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SessionConf.common(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** What a [[SparkSpec.trace]]d body ran: the SQL action names, the Spark
  * job count, and every named Observation row (`qe.observedMetrics`) in
  * execution order. */
final case class Traced(actions: Seq[String], jobs: Int, observed: Seq[(String, Row)]) {
  /** The `n` metric of every `name` row, in order; a null sum reads 0, as
    * in [[graft.operators.OpCache.checkpointObserved]]. */
  def longs(name: String): Seq[Long] = observed.collect {
    case (`name`, r) => if (r.isNullAt(r.fieldIndex("n"))) 0L else r.getAs[Long]("n")
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  /** The state store provider `transformWithState` needs. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session on the RocksDB state store provider. */
  def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, RocksDbProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run `body` with a new session of the shared context, then close that
    * session's ArtifactManager. A session dropped unclosed forks
    * `rm -rf /tmp/artifacts-<id>/<session>` from a `Cleaner` once a GC finds
    * it unreachable, and that can be a minute later: AQE pool threads born
    * while it was active inherit it as their active session and hold it
    * until they idle out, so the fork lands in whatever runs then
    * (CheckpointIoSpec's zero-subprocess window). Closing runs the deletion
    * here, once. */
  def withNewSession[T](body: SparkSession => T): T = {
    val s = spark.newSession()
    try body(s) finally s.sessionState.artifactManager.close()
  }

  /** Run `body` under a job listener and a query-execution listener. */
  def trace[T](body: => T): (T, Traced) = {
    val jobs = new AtomicInteger(0)
    val actions = new ConcurrentLinkedQueue[String]()
    val observed = new ConcurrentLinkedQueue[(String, Row)]()
    val jl = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val ql = new QueryExecutionListener {
      private def record(funcName: String, qe: QueryExecution): Unit = {
        actions.add(funcName)
        qe.observedMetrics.foreach(observed.add)
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        record(funcName, qe)
    }
    spark.sparkContext.addSparkListener(jl)
    spark.listenerManager.register(ql)
    val out = try {
      val r = body
      Thread.sleep(500) // drain async listener buses before reading
      r
    } finally {
      spark.sparkContext.removeSparkListener(jl)
      spark.listenerManager.unregister(ql)
    }
    (out, Traced(actions.asScala.toSeq, jobs.get(), observed.asScala.toSeq))
  }
}
