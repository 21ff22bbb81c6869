package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType, TemporaryViewRelation}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel

/** The one caching discipline of graft's operators and streaming twins.
  *
  *  1. A frame one plan reads more than once goes into a slot named
  *     `<operator>.<frame>` ([[persistRotating]]); refilling the slot frees
  *     its previous generation, and the returned plan stays lazy. A loop
  *     whose slot readers all run before it returns frees the slot there
  *     ([[release]]).
  *  2. A frame derived from its own previous round, or rebuilt in every
  *     micro-batch of a streaming fold, is an eager `localCheckpoint()` or
  *     [[checkpointObserved]], never a slot: a refill would free the next
  *     round's input before that round has run (Spark then recompiles it
  *     against the raw scan), and a fold's slot would outlive its stream.
  *
  * Nothing else under `graft/operators` or `graft/streaming` caches
  * (SourceLintSpec).
  *
  * Each slot is a temp view in the session that filled it, tagged with
  * that session's id, and a session frees only generations it filled: a
  * clone (every streaming query runs in one) inherits its parent's views
  * but never frees the parent's frames. A dropped session's views go with
  * it; its last generations stay in the CacheManager until `clearCache`.
  * Overlapping invocations of one operator, or two sessions persisting
  * equal plans (one CacheManager entry), can free a frame early: Spark
  * recomputes it from lineage, so only speed is at stake. */
private[graft] object OpCache {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.OpCache")

  private val Owner = "graft.opcache.session" // view property: the filling session's id

  private def viewOf(slot: String) = "graft_opcache_" + slot.replace('.', '_')

  /** `view`'s generation in `s`, if `s` filled it. */
  private def owned(s: SparkSession, view: String): Option[DataFrame] =
    s.sessionState.catalog.getRawTempView(view)
      .filter(_.tableMeta.properties.get(Owner).contains(Bridge.sessionId(s))).map(_ => s.table(view))

  /** Persist `df` (MEMORY_AND_DISK: spills, never evicts under pressure)
    * as the live generation of `slot` in `df`'s session, freeing the
    * previous generation that session filled. */
  def persistRotating(slot: String, df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val view = viewOf(slot)
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    owned(s, view).foreach { prev =>
      // CacheManager keys entries by the normalized plan, so an equal plan
      // (the same input read again, or a WITH plan re-built with fresh CTE
      // ids) re-registered the previous entry above: freeing it would kill
      // the frame just persisted
      val samePlan = scala.util.Try(
        prev.queryExecution.normalized.sameResult(p.queryExecution.normalized))
        .getOrElse(false)
      if (!samePlan) {
        log.info(s"rotating cache slot '$slot': unpersisting the previous generation")
        prev.unpersist(blocking = false)
      }
    }
    // straight into the session catalog: `createOrReplaceTempView` would run
    // a command per fill and uncache the replaced view by its analyzed plan,
    // which frees an equal re-built plan's shared entry
    s.sessionState.catalog.createTempView(view, TemporaryViewRelation(
      CatalogTable(TableIdentifier(view), CatalogTableType.VIEW, CatalogStorageFormat.empty, p.schema,
        properties = Map(CatalogTable.VIEW_STORING_ANALYZED_PLAN -> "true", Owner -> Bridge.sessionId(s))),
      Some(p.queryExecution.analyzed)), overrideIfExists = true)
    p
  }

  /** Free the generations of `slots` that `s` filled and drop their views. */
  def release(s: SparkSession, slots: String*): Unit = slots.map(viewOf).foreach { view =>
    owned(s, view).foreach(_.unpersist(blocking = false))
    s.sessionState.catalog.dropTempView(view)
  }

  /** Eager `localCheckpoint` of `df` that also returns `metric` (a Long
    * aggregate: an edge count, a round's changed-label or frontier count)
    * as a side-metric of the same job — no extra count action. A null
    * result (a sum over no rows) reads 0. The Observation is named, so any
    * `QueryExecutionListener` reads the value from that execution's
    * `qe.observedMetrics` under `name` (column `n`) — per query execution,
    * with no driver-global state. Names: `graft.gate.<op>` for a size
    * gate's edge count, `graft.rounds.<op>` for a per-round count (one row
    * per round, in order). Reusing a name across calls is safe: the
    * checkpoint cuts the observed plan out of every later query. */
  def checkpointObserved(df: DataFrame, name: String, metric: Column): (DataFrame, Long) = {
    val obs = new Observation(name)
    val out = df.observe(obs, metric.as("n")).localCheckpoint()
    (out, obs.get.get("n").collect { case n: java.lang.Long => n.longValue }.getOrElse(0L))
  }
}
