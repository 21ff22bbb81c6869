package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** EXACT streaming percentiles over a bounded value domain (the monitoring
  * counterpart of q22/q45's histogram discipline): fold per-micro-batch
  * (value, count) histograms into one running histogram — cell-wise adds
  * are associative and commutative, so the folded histogram, and every
  * quantile read off it, EQUALS the one-shot batch computation for any
  * split of the stream. State is O(distinct values): the documented
  * contract is a bounded domain (integer cents, scores, bucketed
  * latencies — the domains the batch percentile queries already use);
  * unbounded domains belong to approx_percentile's digest instead.
  * Quantile reads use the ANSI percentile_disc definition (min value with
  * cumulative fraction >= p) over the histogram — a window over O(domain)
  * rows, never raw events. A retried foreachBatch id is a no-op
  * (histogram counts cannot dedup redelivered rows — the [[BatchFold]]'s
  * redelivery guard).
  */
object StreamQuantiles {

  private def histOf(batch: DataFrame): DataFrame =
    batch.groupBy(col("c")).agg(count(lit(1)).as("cnt"))

  final class QuantileState private[graft] (s: SparkSession) {

    private[graft] val fold = new BatchFold(s, Seq("hist" -> { (prev, _, batch) =>
      val h = histOf(batch)
      prev.get("hist").map(_.unionByName(h)).getOrElse(h)
        .groupBy(col("c")).agg(sum(col("cnt")).as("cnt"))
    }))

    private[graft] def merge(batch: DataFrame, batchId: Long): Unit = fold.merge(batch, batchId)

    /** percentile_disc(p) for each requested p, as of the last batch. */
    def quantiles(ps: Seq[Double]): DataFrame = fold.view(t => quantilesOfHist(t("hist"), ps))
  }

  /** ANSI percentile_disc reads over a (c, cnt) histogram. */
  private def quantilesOfHist(hist: DataFrame, ps: Seq[Double]): DataFrame = {
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cd = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(lit(1))))
    ps.map { p =>
      cd.filter(col("cum") / col("n") >= p)
        .agg(min(col("c")).as("c"))
        .select(lit(p).as("p"), col("c"))
    }.reduce(_ unionByName _).orderBy(col("p"))
  }

  /** One-shot batch twin over a static single-column frame of values. */
  def quantilesBatch(values: DataFrame, ps: Seq[Double]): DataFrame =
    quantilesOfHist(histOf(values), ps)

  /** Start the fold over a streaming frame with one integer column `c`. */
  def start(values: DataFrame): (StreamingQuery, QuantileState) = {
    val state = new QuantileState(values.sparkSession)
    (state.fold.start("StreamQuantiles", values), state)
  }
}
