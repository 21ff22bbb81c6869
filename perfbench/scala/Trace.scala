package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one benchmark operation, keyed by the job tag the harness set
  * around the call that ran it. */
final class Acc {
  var jobs, stages, tasks, taskMs, shuffleBytes, spillBytes = 0L
  var planningMs, cachedScans, singlePartitionScans = 0L
}

/** Reads Spark's public listener events and attributes them to benchmark
  * operations through job tags (`spark.job.tags` on jobs, `jobTags` on SQL
  * execution starts). Spark delivers these events on its listener bus
  * thread; [[drain]] waits until every event posted before it was seen. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobTag = new ConcurrentHashMap[Int, String]()
  /** SQL executions started and not yet ended, innermost last. */
  private val open = mutable.Stack.empty[(Long, Option[String])]
  private var lastEnded: Option[String] = None
  private val ended = ConcurrentHashMap.newKeySet[String]()
  private val planned = ConcurrentHashMap.newKeySet[String]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  def acc(tag: String): Acc = accs.computeIfAbsent(tag, _ => new Acc)

  private def benchTag(tags: Iterable[String]): Option[String] =
    tags.find(_.startsWith(Tracer.Prefix))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
    benchTag(tags.toSeq.flatMap(_.split(","))).foreach { t =>
      acc(t).jobs += 1
      jobTag.put(e.jobId, t)
      e.stageInfos.foreach(si => stageTag.put(si.stageId, t))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTag.get(e.jobId)).foreach(ended.add)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach(t => acc(t).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (t <- Option(stageTag.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = acc(t)
      a.tasks += 1
      a.taskMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      open.push((s.executionId, benchTag(s.jobTags)))
    case e: SparkListenerSQLExecutionEnd =>
      open.indexWhere(_._1 == e.executionId) match {
        case -1 =>
        case i => lastEnded = open.remove(i)._2
      }
    case _ =>
  }

  /** Planning phases and cached-frame scans of each finished SQL execution.
    * Spark reports it while handling the execution's end event, so it
    * belongs to the innermost open execution (or, if the end event reached
    * this tracer first, to the one that just ended). */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      open.headOption.map(_._2).getOrElse(lastEnded).foreach { t =>
        val phases = qe.tracker.phases
        val scans = Tracer.cachedScans(qe.executedPlan)
        val a = acc(t)
        a.planningMs += Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
        a.cachedScans += scans.size
        a.singlePartitionScans += scans.count(s => scala.util.Try(
          s.relation.cacheBuilder.cachedColumnBuffers.getNumPartitions == 1).getOrElse(false))
        planned.add(t)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = progress.add(event.progress)
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  private var drains = 0

  /** Runs one tagged marker query and waits until the listeners saw it: the
    * listener bus delivers in order, so every earlier event has arrived. */
  def drain(): Unit = {
    drains += 1
    val tag = s"${Tracer.Prefix}drain-$drains"
    Tracer.tagged(spark, tag)(spark.range(1).write.mode("overwrite").format("noop").save())
    val deadline = System.nanoTime() + 30_000_000_000L
    while (!(ended.contains(tag) && planned.contains(tag)) && System.nanoTime() < deadline)
      Thread.sleep(5)
    require(planned.contains(tag), "listener events did not arrive within 30 s")
  }

  def sum(tags: Iterable[String])(f: Acc => Long): Long = tags.map(t => f(acc(t))).sum
}

object Tracer {
  val Prefix = "pb-"

  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    spark.sparkContext.addJobTag(tag)
    try body finally spark.sparkContext.removeJobTag(tag)
  }

  /** Scans of cached frames in an executed plan, through AQE stages and
    * subqueries. */
  def cachedScans(p: SparkPlan): Seq[InMemoryTableScanExec] = p match {
    case a: AdaptiveSparkPlanExec => cachedScans(a.executedPlan)
    case s: QueryStageExec => cachedScans(s.plan)
    case i: InMemoryTableScanExec => Seq(i)
    case other => (other.children ++ other.subqueries).flatMap(cachedScans)
  }
}
