package graft.streaming

import graft.operators.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The t42 URL/domain governance gate as a live foreachBatch twin: fold
  * the crawl stream's canonical-URL universe incrementally and keep the
  * per-domain cap report current, such that after any prefix of the
  * stream [[GovState.report]] equals
  * [[TextQueries.domainGovernance]] over the same prefix (StreamingSpec
  * asserts this across micro-batch splits and a restart).
  *
  * Fold state is two monoids, so the result is split-invariant by
  * construction:
  *   - `urls` — the DISTINCT (canonical url, domain) set (set union;
  *     canonicalization is per-row, so a URL's key never depends on
  *     arrival order);
  *   - `counts` — per-domain raw doc counts (sum), kept separately
  *     because the report's n_docs counts every fetch, including
  *     canonical dups the set absorbs.
  * Per batch the cap decision ([[TextQueries.domainCapReport]], t41's
  * waterfill at unit weight) recomputes from the folded aggregates — an
  * O(domains) computation, never a corpus re-aggregation. State size is
  * O(distinct canonical urls + domains), never O(stream length).
  *
  * Durable by default: the front-door [[start]] requires a `stateDir`,
  * and the [[BatchFold]] commits both tables per batch and rehydrates
  * them on restart — first start and restart are one code path. */
object StreamDomainGovernance {

  final class GovState(s: SparkSession, stateDir: Option[String],
      budgetPct: Long) {

    private[graft] val fold = new BatchFold(s, Seq(
      "urls" -> { (prev, _, batch) => // (curl, domain) distinct
        val canon = TextQueries.canonicalUrls(batch)
        prev.get("urls").map(_.unionByName(canon)).getOrElse(canon).distinct()
      },
      "counts" -> { (prev, _, batch) => // (domain, n_docs)
        val batchCounts = TextQueries.canonicalUrls(batch).groupBy(col("domain"))
          .agg(count(lit(1)).as("n_docs"))
        prev.get("counts").map(_.unionByName(batchCounts)).getOrElse(batchCounts)
          .groupBy(col("domain")).agg(sum(col("n_docs")).as("n_docs"))
      }), stateDir)

    private[graft] def merge(batch: DataFrame, batchId: Long): Unit = fold.merge(batch, batchId)

    /** The t42 cap report as of the last completed micro-batch: urls and
      * counts come from one generation. */
    def report: DataFrame = fold.view { t =>
      val dom = t("urls").groupBy(col("domain"))
        .agg(countDistinct(col("curl")).as("n_urls"))
        .join(t("counts"), Seq("domain"))
        .select(col("domain"), col("n_docs"), col("n_urls"))
      TextQueries.domainCapReport(dom, budgetPct)
    }

    /** The last folded micro-batch id. */
    def lastCommittedBatch: Long = fold.lastCommittedBatch
  }

  /** Rehydrate a [[GovState]] from a `stateDir` written by a previous run
    * — in any SparkSession ([[BatchFold]]'s rehydration). */
  def load(s: SparkSession, stateDir: String,
      budgetPct: Long = TextQueries.DomainBudgetPct): GovState =
    new GovState(s, Some(stateDir), budgetPct)

  /** THE FRONT DOOR — durable by default: state persists to `stateDir`
    * per batch and the same call rehydrates it on restart. */
  def start(urls: DataFrame, checkpoint: String, stateDir: String,
      budgetPct: Long = TextQueries.DomainBudgetPct): (StreamingQuery, GovState) =
    startWith(urls, checkpoint, load(urls.sparkSession, stateDir, budgetPct))

  /** DEMO/TEST overload — ephemeral state, lost with the session. */
  def startEphemeral(urls: DataFrame, checkpoint: String,
      budgetPct: Long = TextQueries.DomainBudgetPct): (StreamingQuery, GovState) =
    startWith(urls, checkpoint, new GovState(urls.sparkSession, None, budgetPct))

  private def startWith(urls: DataFrame, checkpoint: String,
      state: GovState): (StreamingQuery, GovState) =
    (state.fold.start("StreamDomainGovernance", urls, Some(checkpoint)), state)
}
