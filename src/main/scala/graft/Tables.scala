package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated test tables (see TESTDATA.md /
  * FIXTURES.md §B), and the ONE parquet reader of `src/main` (SourceLintSpec
  * fails on a `.read.parquet(` anywhere else). All queries take an `sfDir`
  * so the same code runs at any scale factor; at cluster scale the same call
  * reads a partitioned directory instead of a single file — parquet scans
  * get column pruning + predicate pushdown from Catalyst either way.
  *
  * Contract of [[parquet]] (and so of every loader here): it runs no Spark
  * job. A bare `spark.read.parquet` infers the schema with one Spark job per
  * call (`mergeSchemasInParallel`) just to read one footer. Instead the
  * paths are listed on the driver, the first data file by path (hidden
  * `_`/`.` names skipped, as Spark's own listing does) has its footer read
  * there without row groups, and Spark's own converter turns it into the
  * schema handed to `spark.read.schema(..)`. That converter is the one
  * inference uses, so the Spark row-metadata key, `nanosAsLong` and
  * TIMESTAMP_NTZ inference come out exactly as `spark.read.parquet` gives
  * them, and partition columns are still discovered from the directory
  * names (TablesSpec pins all of it). Nothing is cached: every call reads
  * the footer afresh, so a file rewritten with another schema is read with
  * the new one. */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(paths: _*)` without its schema-inference job. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(schema(spark, paths)).parquet(paths: _*)

  /** The schema `spark.read.parquet(paths: _*)` infers (without
    * `mergeSchema`), read from one footer on the driver. */
  private def schema(spark: SparkSession, paths: Seq[String]): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      dataFiles(fs, fs.getFileStatus(path)) // a missing path throws, naming it
    }
    val first = files.sortBy(_.getPath.toString).headOption.getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under ${paths.mkString(", ")}"))
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(first, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The files under `st`, skipping what Spark's file index skips below a
    * root: names starting `.`, and `_` unless they hold a `=` (partition
    * directories like `_k=1`). */
  private def dataFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq.filterNot { c =>
      val n = c.getPath.getName
      n.startsWith(".") || (n.startsWith("_") && !n.contains("=")) || n.endsWith("._COPYING_")
    }.flatMap(dataFiles(fs, _))

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Schema-adaptive events loader. The driver has shipped `events.ts` in two
    * encodings across fixture generations:
    *  - TIMESTAMP(NANOS) parquet, which Spark 4 rejects outright
    *    (PARQUET_TYPE_ILLEGAL) unless read as nanos-since-epoch long via
    *    `spark.sql.legacy.parquet.nanosAsLong` ([[SessionConf.common]] sets
    *    it) — then truncated to micros with exact integer division;
    *  - plain TIMESTAMP(MICROS) without isAdjustedToUTC, which Spark loads
    *    as TIMESTAMP_NTZ — cast to session-zone TimestampType (identity
    *    under the UTC session the harness pins) so every downstream query
    *    sees one type regardless of fixture vintage.
    * Branching on the *loaded* schema (not a conf) means a driver-side
    * fixture regeneration can never silently change query semantics. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — expected long (nanos), timestamp_ntz, or timestamp")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
