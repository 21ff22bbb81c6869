package graft

import org.scalatest.funsuite.AnyFunSuite

/** The project's main sources, for checks that read code rather than run
  * it. Specs run from the project root (`Test / fork` keeps sbt's base
  * directory). */
object SourceScan {
  /** (path relative to `src/main/scala`, lines) of every main Scala file. */
  lazy val mainSources: Seq[(String, Seq[String])] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    require(java.nio.file.Files.isDirectory(root), s"no $root under ${new java.io.File(".").getAbsolutePath}")
    val files = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readAllLines(p).asScala.toSeq)
    } finally files.close()
  }

  /** The lines of `lines` that are code, not scaladoc or line comments. */
  def code(lines: Seq[String]): Seq[String] = lines.filterNot { l =>
    val t = l.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }
}

/** One session config, enforced on the source: every session a main
  * builds goes through [[SessionConf.common]], so no harness runs plans or
  * I/O that Bench and Verify do not. ScaleProbe is the one exception: it
  * only writes the replica data files the benchmark reads, and the
  * benchmark hashes its source. */
class SourceLintSpec extends AnyFunSuite {

  test("SparkSession.builder() appears only inside a SessionConf.common call chain") {
    val builder = """SparkSession\.builder\(\)""".r
    val chained = """SessionConf\.common\(\s*(?:org\.apache\.spark\.sql\.)?SparkSession\.builder\(\)""".r
    val offenders = SourceScan.mainSources.filter { case (file, lines) =>
      val text = SourceScan.code(lines).mkString("\n")
      !file.endsWith("ScaleProbe.scala") &&
        builder.findAllIn(text).size > chained.findAllIn(text).size
    }.map(_._1)
    assert(SourceScan.mainSources.exists(_._1.endsWith("Bench.scala")), "scan found no mains")
    assert(offenders.isEmpty,
      s"sessions built outside SessionConf.common: ${offenders.mkString(", ")}")
  }

  test(".read.parquet( appears in src/main only in Tables: one loader, no schema-inference job") {
    val offenders = SourceScan.mainSources.collect { case (file, lines)
      if file != "graft/Tables.scala" && SourceScan.code(lines).exists(_.contains(".read.parquet(")) => file }
    assert(SourceScan.mainSources.exists(_._1 == "graft/Tables.scala"), "scan found no Tables")
    assert(offenders.isEmpty, s"parquet read outside Tables.parquet: ${offenders.mkString(", ")}")
  }

  private def streamingCode(pattern: String): Seq[String] =
    SourceScan.mainSources.collect { case (file, lines) if file.startsWith("graft/streaming/") &&
      SourceScan.code(lines).exists(_.contains(pattern)) => file }

  test("no unpersist under graft/streaming: a checkpointed generation is freed by the ContextCleaner") {
    val offenders = streamingCode(".unpersist(")
    assert(offenders.isEmpty, s"unpersist in streaming code: ${offenders.mkString(", ")}")
  }

  test("foreachBatch under graft/streaming only in BatchFold and the twins without fold state") {
    val allowed = Set("BatchFold", "StreamHeavyHitters", "StreamBind", "StreamDecontaminateApply")
      .map(n => s"graft/streaming/$n.scala")
    val users = streamingCode("foreachBatch")
    val offenders = users.filterNot(allowed)
    assert(offenders.isEmpty, s"foreachBatch outside BatchFold: ${offenders.mkString(", ")}")
    assert(users.contains("graft/streaming/BatchFold.scala"), "scan found no foreachBatch")
  }

  test("one StatefulProcessor per state shape under graft/streaming: BandBuckets, StreamFsm, AdmissionProc") {
    val allowed = Set("BandBuckets", "StreamFsm", "StreamIngestTws")
      .map(n => s"graft/streaming/$n.scala" -> 1).toMap
    val counts = SourceScan.mainSources.collect { case (file, lines) if file.startsWith("graft/streaming/") =>
      file -> SourceScan.code(lines).count(_.contains("extends StatefulProcessor"))
    }.filter(_._2 > 0).toMap
    assert(counts === allowed, "StatefulProcessor subclasses per file")
  }

  test("one sign-LSH pair kernel: only LshPairs uses minSharedTable, autoPlanesPerTable and lshBucketsOf (and StreamDedup's feed)") {
    val scoped = SourceScan.mainSources.filter { case (file, _) =>
      file.startsWith("graft/operators/") || file.startsWith("graft/streaming/") }
    // files with a code line that names `member` other than its definition
    def users(member: String): Set[String] = scoped.collect { case (file, lines)
      if SourceScan.code(lines).exists(l => l.contains(member) && !l.contains(s"def $member")) => file }.toSet
    val kernel = "graft/operators/LshPairs.scala"
    assert(users("minSharedTable") === Set(kernel), "minSharedTable users")
    assert(users("autoPlanesPerTable(") === Set(kernel), "autoPlanesPerTable( callers")
    assert(users("lshBucketsOf(") === Set(kernel, "graft/streaming/StreamDedup.scala"), "lshBucketsOf( callers")
  }

  test("one caching discipline: under graft/operators and graft/streaming only OpCache caches, with no process-global map") {
    val scoped = SourceScan.mainSources.filter { case (file, _) =>
      file.startsWith("graft/operators/") || file.startsWith("graft/streaming/") }
    val opCache = "graft/operators/OpCache.scala"
    val caching = """\.cache\(\)|\.persist\(|\.unpersist\(|localCheckpoint\(\s*(eager\s*=\s*)?false""".r
    val offenders = scoped.collect { case (file, lines)
      if file != opCache && SourceScan.code(lines).exists(l => caching.findFirstIn(l).nonEmpty) => file }
    assert(offenders.isEmpty, s"caching outside OpCache: ${offenders.mkString(", ")}")
    val registry = scoped.collectFirst { case (`opCache`, lines) => SourceScan.code(lines) }
      .getOrElse(fail("scan found no OpCache"))
    val globals = registry.filter(l => l.contains("ConcurrentHashMap") || l.contains("mutable.") ||
      l.trim.startsWith("private var") || l.trim.startsWith("var "))
    assert(globals.isEmpty, s"OpCache holds process-global mutable state:\n${globals.mkString("\n")}")
  }

  test("no per-key buffering under graft/dsl: no groupByKey, no .toVector.sortBy") {
    val dsl = SourceScan.mainSources.filter(_._1.startsWith("graft/dsl/"))
    val offenders = dsl.collect { case (file, lines)
      if SourceScan.code(lines).exists(l => l.contains("groupByKey") || l.contains(".toVector.sortBy")) => file }
    assert(dsl.exists(_._1 == "graft/dsl/Compiler.scala"), "scan found no Compiler")
    assert(offenders.isEmpty, s"per-key buffering in the DSL: ${offenders.mkString(", ")}")
  }
}
