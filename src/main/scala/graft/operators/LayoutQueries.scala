package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import RelationalQueries.cents

/** Physical-layout operators (SURVEY.md §2.2 partitioning / data layout):
  * the write-side techniques that make 100 TB reads cheap. Both queries here
  * produce layout-independent answers (their oracles are plain SQL over the
  * original table); what the layout changes is the PLAN — gated in
  * [[graft.LayoutSpec]] — not the result.
  *
  *  - q51: bucketed co-located join. Writing both fact tables bucketed (and
  *    per-bucket sorted) on the join key removes the join's exchanges
  *    entirely: each task reads bucket i of both sides and merges. At 100 TB
  *    the bucketed write is paid ONCE and every subsequent fact-fact join on
  *    that key is shuffle-free, which converts the cluster's scarcest
  *    resource (shuffle I/O) into its cheapest (parallel scans).
  *  - q52: z-order (Morton) clustering. A 1-D sort can only cluster one
  *    column; interleaving the bits of two filter columns gives every file /
  *    row group a narrow min-max envelope in BOTH dimensions, so parquet
  *    stats prune rectangle predicates on either column — the standard
  *    multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER).
  */
object LayoutQueries {

  /** Morton (z-order) interleave of the low `bits` bits of two non-negative
    * integer columns: bit i of `a` lands at position 2i, bit i of `b` at
    * 2i+1. Statically unrolled into plain shift/and/or Catalyst expressions,
    * so it stays inside whole-stage codegen. 21 bits per dimension (42-bit
    * z-value) covers key domains up to 2M; raise `bits` (≤31) for larger
    * domains. Negative inputs are not supported (sign bits would interleave
    * into garbage) — callers pass surrogate keys.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * Seq((1L, 0L), (0L, 1L), (1L, 1L), (2L, 0L)).toDF("a", "b")
    *   .select(zValue2($"a", $"b")).as[Long].collect().toSeq ==
    *   Seq(1L, 2L, 3L, 4L)  // a-bits at even, b-bits at odd positions
    * }}}
    */
  def zValue2(a: Column, b: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31]: $bits")
    val av = a.cast("long")
    val bv = b.cast("long")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      val abit = shiftleft(shiftright(av, i).bitwiseAND(lit(1L)), 2 * i)
      val bbit = shiftleft(shiftright(bv, i).bitwiseAND(lit(1L)), 2 * i + 1)
      acc.bitwiseOR(abit).bitwiseOR(bbit)
    }
  }

  /** Rewrite `df` into `files` files clustered by the z-value of the two
    * columns: range-partition by z (files cover disjoint z-ranges) and sort
    * within each so row-group min/max stats are tight on BOTH source columns.
    * The z column is dropped before the write — pruning happens on the
    * ORIGINAL columns' stats, the z-value only dictates row placement.
    *
    * Both columns are first rescaled onto a common 2^16 grid (one cheap
    * max() pass): raw interleaving of unequal-width domains makes the wider
    * key's high bits dominate the ordering, producing tiles elongated along
    * the narrow dimension and little skipping there (measured in LayoutSpec:
    * 41% -> ~15% scanned after normalization). Production layouts (Delta /
    * Iceberg OPTIMIZE ZORDER) normalize via per-column range-bucket ids for
    * skew-robustness; max-scaling is the right cost point for uniform
    * surrogate keys.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * zOrderWrite((0L until 256L).map(i => (i % 16, i / 16)).toDF("x", "y"),
    *   "x", "y", files = 4, dir)
    * spark.read.parquet(dir).columns.sorted  // Array("x", "y"): __z dropped
    * }}}
    */
  def zOrderWrite(df: org.apache.spark.sql.DataFrame, c1: String, c2: String,
                  files: Int, path: String, maxRecordsPerFile: Int = 4096): Unit = {
    val m = df.agg(max(col(c1)).cast("long"), max(col(c2)).cast("long")).head
    def safeMax(i: Int) = if (m.isNullAt(i)) 1L else math.max(m.getLong(i), 1L)
    val (m1, m2) = (safeMax(0), safeMax(1))
    val grid = 1L << 16
    val n1 = col(c1).cast("long") * grid / (m1 + 1)
    val n2 = col(c2).cast("long") * grid / (m2 + 1)
    df.withColumn("__z", zValue2(n1, n2, bits = 16))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .parquet(path)
  }

  /** Stable per-SF scratch dir for layout rewrites (same input => same
    * path, so repeated Verify/Bench runs overwrite rather than accumulate). */
  private def scratch(sfDir: String, name: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    s"${sys.props("java.io.tmpdir")}/graft_layout/$tag/$name"
  }

  val all: Seq[QueryDef] = Seq(

    // ----- bucketed co-located fact-fact join (shuffle-free) ---------------
    // Both sides written bucketBy(join key) + sortBy, then joined with a
    // merge hint: the SMJ reads bucket i of each table in task i — no
    // Exchange below the join (gated in LayoutSpec). The groupBy above it
    // still shuffles |priorities| rows, which is noise. hint("merge") keeps
    // the plan shape identical at every SF (no broadcast flip at small SF).
    QueryDef(
      "q51_bucketed_colocated_join",
      (s, d) => {
        import s.implicits._
        bucketedPair(s, d)
        s.table("graft_layout.q51_li").hint("merge")
          .join(s.table("graft_layout.q51_ord").hint("merge"),
            $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"), cents($"l_extendedprice").as("rev_c"))
          .orderBy($"o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(floor(l_extendedprice * 100)) AS BIGINT) AS rev_c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ----- z-order clustering: 2-D data skipping ---------------------------
    // lineitem rewritten clustered by z(l_partkey, l_suppkey); a rectangle
    // predicate on both columns then reads only the files/row groups whose
    // stats envelope intersects the rectangle (LayoutSpec measures the skip
    // on each dimension independently). The answer is layout-independent —
    // the oracle runs the same rectangle over the original table.
    QueryDef(
      "q52_zorder_skipping",
      (s, d) => {
        import s.implicits._
        val path = scratch(d, "li_zorder")
        zOrderWrite(
          Tables.lineitem(s, d).select($"l_partkey", $"l_suppkey", $"l_extendedprice"),
          "l_partkey", "l_suppkey", files = 16, path = path)
        Tables.parquet(s, path)
          .filter($"l_partkey".between(100, 299) && $"l_suppkey".between(10, 29))
          .groupBy($"l_suppkey")
          .agg(count(lit(1)).as("n"), cents($"l_extendedprice").as("rev_c"))
          .orderBy($"l_suppkey")
      },
      oracle = Some("""
        SELECT l_suppkey, count(*) AS n,
               CAST(sum(floor(l_extendedprice * 100)) AS BIGINT) AS rev_c
        FROM lineitem
        WHERE l_partkey BETWEEN 100 AND 299 AND l_suppkey BETWEEN 10 AND 29
        GROUP BY l_suppkey ORDER BY l_suppkey""")))

  /** Write the q51 bucketed pair into the session catalog (idempotent:
    * overwrite mode, per-SF-stable external paths). 8 buckets at test SF;
    * at cluster scale the bucket count is sized to target-file-size and
    * reused by every downstream join on the key. */
  private def bucketedPair(s: SparkSession, d: String): Unit = {
    s.sql("CREATE DATABASE IF NOT EXISTS graft_layout")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", scratch(d, "q51_li"))
      .saveAsTable("graft_layout.q51_li")
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", scratch(d, "q51_ord"))
      .saveAsTable("graft_layout.q51_ord")
  }

  /** Small-file compaction: rewrite a parquet dataset into files of
    * ~`targetBytes`, preserving hive partitioning. The operational fix for
    * the 100 TB killer nobody models in queries — a table accreted from
    * thousands of streaming micro-batch or per-task writes whose footer
    * and scheduling overhead dominate every scan.
    *
    * Sizing is measured, not guessed: input bytes from the file listing,
    * rows from a count, so `maxRecordsPerFile` lands each output file near
    * the byte target regardless of row width. Shuffle width =
    * ceil(bytes/target) tasks, hashed on the partition columns so each
    * task writes to few directories (clean commits, no file-per-task-per-
    * dir explosion). The known trade-off: one HOT partition value maps to
    * one task — its output is still correctly split into target-size files
    * by maxRecordsPerFile, but written serially; if one value dominates
    * the dataset, salt the repartition (SkewJoin's discipline) at the cost
    * of more files per directory.
    *
    * Returns (inputFiles, outputFiles) so callers can assert the squeeze.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * df.repartition(16).write.parquet(in)  // fragment
    * val (nIn, nOut) = compact(spark, in, out, Seq.empty)
    * nOut < nIn  // same rows, far fewer files
    * }}}
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      partitionCols: Seq[String], targetBytes: Long = 128L << 20): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(inDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // overwrite-mode write into (or around) the source would truncate it
    // mid-rewrite: reject identical and nested in/out paths outright
    // (URI-normalized, so `a/b/..` aliases of the source are caught too)
    def qualified(dir: String): Path =
      new Path(fs.makeQualified(new Path(dir)).toUri.normalize())
    val (inQ, outQ) = (qualified(inDir), qualified(outDir))
    def contains(a: Path, b: Path): Boolean = {
      var p: Path = b
      while (p != null) { if (p == a) return true; p = p.getParent }
      false
    }
    require(!contains(inQ, outQ) && !contains(outQ, inQ),
      s"compact target $outQ must not equal or nest with source $inQ " +
        "(mode=overwrite would truncate the source mid-rewrite)")
    def dataFiles(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(new Path(dir), true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += f
      }
      buf.toSeq
    }
    val in = dataFiles(inDir)
    val bytes = math.max(in.map(_.getLen).sum, 1L)
    val df = Tables.parquet(spark, inDir)
    val rows = math.max(df.count(), 1L)
    val maxRecords = math.max(1L, targetBytes * rows / bytes)
    val nTasks = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val shuffled =
      if (partitionCols.nonEmpty) df.repartition(nTasks, partitionCols.map(col): _*)
      else df.repartition(nTasks)
    val writer = shuffled.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecords)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(outDir)
    (in.length.toLong, dataFiles(outDir).length.toLong)
  }
}
