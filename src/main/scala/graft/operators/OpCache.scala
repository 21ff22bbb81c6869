package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.storage.StorageLevel

/** Rotating per-operator cache slots for operators whose plan reads one
  * expensive intermediate (postings, shingle frames) several times.
  *
  * The leak this fixes: a bare `.cache()` inside an operator accrues one
  * corpus-sized cached frame PER INVOCATION for the life of the session
  * (the round-7 advisory). An eager localCheckpoint-then-unpersist would
  * fix the leak but truncate the returned lineage — the plan-lint and
  * plan-quality specs grade `fn(...)`'s full plan, and construction would
  * silently become an action. Instead each operator persists into a named
  * slot and the NEXT invocation of the same operator unpersists the
  * previous generation: the returned plan stays lazy, and the operator's
  * executor-storage footprint is bounded to its latest invocation.
  *
  * Slots are scoped PER SESSION (the round-8 advisory): the registry key
  * includes the owning SparkSession's identity, so two sessions — or the
  * session-per-suite test harness — invoking the same operator never
  * unpersist each other's live frames. Rotations log at INFO so an
  * unexpected mid-consumption eviction is diagnosable. Concurrent
  * invocations of ONE operator in ONE session still rotate each other's
  * cache early — harmless for correctness (Spark recomputes evicted
  * partitions from lineage), only a perf hazard, and no driver here
  * (Verify, Bench, the test suites) runs an operator concurrently with
  * itself in one session.
  *
  * [[checkpointObserved]] is the other way operators materialize: the
  * iterative graph kernels' eager checkpoints with their one side-metric. */
private[graft] object OpCache {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.OpCache")

  private val slots = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Persist `df` (MEMORY_AND_DISK: spills, never evicts under pressure)
    * under `slot` in `df`'s session, unpersisting the slot's previous
    * generation from THAT session only. */
  def persistRotating(slot: String, df: DataFrame): DataFrame = {
    val key = s"${System.identityHashCode(df.sparkSession).toHexString}:$slot"
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    Option(slots.put(key, p)).foreach { prev =>
      // Unpersist the previous generation ONLY when it is a semantically
      // different plan. CacheManager keys entries by sameResult of the
      // NORMALIZED plans — two invocations over the same input path
      // produce canonically EQUAL plans (InMemoryFileIndex compares
      // rootPaths), so persist() above re-registered the SAME entry and
      // unpersisting `prev` would evict the frame just cached: every
      // same-plan slot was silently dead in any run that re-invoked its
      // operator (the bench's warmup + timed protocol re-invokes every
      // query). Comparing the analyzed plans instead misses what
      // normalization erases (fresh CTE ids in a re-built WITH plan), and
      // the slot dies the same way. When the plans match there is nothing
      // extra to drop — the slot still holds exactly one entry.
      val samePlan = scala.util.Try(
        prev.queryExecution.normalized.sameResult(p.queryExecution.normalized))
        .getOrElse(false)
      if ((prev ne p) && !samePlan) {
        log.info(s"rotating cache slot '$slot': unpersisting the previous generation")
        // a stopped owning session must not fail the new invocation
        scala.util.Try(prev.unpersist(blocking = false))
      }
    }
    p
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
