package graft

import graft.dsl.{Interpreter, SP}
import graft.functions.{TextFns, VectorFns}
import graft.operators.{DedupQueries, SkewJoin}
import org.apache.spark.sql.functions.{lit, min}

/** Docs-as-tests, the Spark analogue of the reference's
  * doc-test-per-public-API policy (reference CONTRIBUTING.md:28-31: every
  * public item carries a runnable example). Scala has no built-in doctest
  * runner, so each scaladoc `{{{ }}}` example in the public API is mirrored
  * here VERBATIM — one test per example, named after the API it documents.
  * If an example in the docs drifts from reality, this suite goes red.
  */
class DocExamplesSpec extends SparkSpec {

  import spark.implicits._

  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("graft_doc_examples").toString

  test("SP.fsm scaladoc example") {
    val counter = SP.fsm(0) { (n: Int, e: Char) =>
      if (e == 'x') (n + 1, Nil) else (0, Seq(n))
    }
    assert(Interpreter.evalN(counter, "xx.x.".toSeq) === Vector(2, 1))
  }

  test("Interpreter.evalN scaladoc example") {
    val evens = SP.compose(SP.filter((n: Int) => n % 2 == 0), SP.map((n: Int) => n * 10))
    assert(Interpreter.evalN(evens, Seq(1, 2, 3, 4)) === Vector(20, 40))

    val fib = SP.generate[Unit, Long, (Long, Long)](s => (s._1, (s._2, s._1 + s._2)), (0L, 1L))
    assert(Interpreter.evalN(fib, Seq.empty[Unit], max = 6) ===
      Vector(0L, 1L, 1L, 2L, 3L, 5L))
  }

  test("SkewJoin.saltedEquiJoin scaladoc example") {
    val fact  = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "d")).toDF("k", "v")
    val build = Seq((1L, "x"), (2L, "y")).toDF("k", "w")
    val salted = SkewJoin.saltedEquiJoin(fact, build, "k", salts = 4)
    assert(salted.orderBy("k", "v").collect().toSeq ===
      fact.join(build, "k").orderBy("k", "v").collect().toSeq)
  }

  test("SkewJoin.saltedEquiJoinBy scaladoc example") {
    val fact  = Seq((0L, 1L, "x"), (1L, 1L, "x"), (2L, 1L, "x"), (3L, 2L, "y"))
      .toDF("offset", "k", "v")
    val build = Seq((1L, "p"), (2L, "q")).toDF("k", "w")
    val j = SkewJoin.saltedEquiJoinBy(fact, build, "k", salts = 4, $"offset")
    assert(j.orderBy("offset").collect().toSeq ===
      fact.join(build, "k").orderBy("offset").collect().toSeq)
  }

  test("VectorFns.cosineMilli scaladoc example") {
    val df = Seq((Array(1f, 0f), Array(1f, 0f)), (Array(1f, 0f), Array(0f, 1f)))
      .toDF("a", "b")
    assert(df.select(VectorFns.cosineMilli($"a", $"b")).as[Long].collect().toSeq ===
      Seq(1000L, 0L))
  }

  test("DedupQueries.clusterLabels scaladoc example") {
    val docs  = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    assert(DedupQueries.clusterLabels(docs, pairs).as[(Long, Long)].collect().toSeq ===
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)))
  }

  test("TextFns.tokens scaladoc example") {
    assert(Seq("  Hello   WORLD ").toDF("text")
      .select(TextFns.tokens($"text")).as[Seq[String]].head === Seq("hello", "world"))
  }

  test("TextQueries.repeatedSpans scaladoc example") {
    import graft.operators.TextQueries
    val span = (1 to 20).map("d" + _).mkString(" ")
    val docs = Seq((1L, s"a b c $span", "en"), (2L, s"$span x y", "en"))
      .toDF("doc_id", "text", "lang")
    assert(TextQueries.repeatedSpans(docs)
      .select("doc_a", "doc_b", "max_span_tokens")
      .as[(Long, Long, Long)].head === ((1L, 2L, 20L)))
  }

  test("TextQueries.filterAblation scaladoc example") {
    import graft.operators.TextQueries
    val docs = Seq((1L, (1 to 25).map("w" + _).mkString(" ")), (2L, "tiny"))
      .toDF("doc_id", "text")
    assert(TextQueries.filterAblation(docs).filter($"filter" === "token_floor")
      .select($"n_fail", $"n_unique_fail").as[(Long, Long)].head === ((1L, 1L)))
  }

  test("TextQueries.epochWaterfill scaladoc example") {
    import graft.operators.TextQueries
    val srcs = Seq(("a", 100L, 1000L), ("b", 100L, 4000L))
      .toDF("source", "s_tokens", "cap_milli")
    assert(TextQueries.epochWaterfill(srcs)
      .select($"source", $"epochs_milli", $"alloc_tokens")
      .as[(String, Long, Long)].collect().toSeq ===
      Seq(("a", 1000L, 100L), ("b", 2000L, 200L)))
  }

  test("TextQueries.domainGovernance scaladoc example") {
    import graft.operators.TextQueries
    val urls = Seq(
      (1L, "HTTPS://WWW.Big.com/a/index.html"),
      (2L, "https://big.com/a/"),          // canonical dup of doc 1
      (3L, "https://big.com/b"), (4L, "https://m.big.com/c"),
      (5L, "http://tiny.com/x?utm_source=feed")).toDF("doc_id", "url")
    assert(TextQueries.domainGovernance(urls, budgetPct = 50L)
      .as[(String, Long, Long, Long)].collect().toSeq ===
      Seq(("big.com", 4L, 3L, 1L), ("tiny.com", 1L, 1L, 1L)))
  }

  test("TextQueries.admissionFeaturesWithText scaladoc example") {
    import graft.operators.TextQueries
    val docs = Seq((1L, " Hello  World "), (2L, "hello world")).toDF("doc_id", "text")
    val f = TextQueries.admissionFeaturesWithText(docs)
    assert(f.select($"content_key").distinct().count() === 1)
    assert(f.filter($"doc_id" === 1L).select($"text").as[String].head === " Hello  World ")
  }

  test("TextQueries.packNoSplit scaladoc example") {
    import graft.operators.TextQueries
    val rows = Seq((1L, "en", 0L, 300L), (2L, "en", 0L, 300L),
      (3L, "en", 0L, 600L), (4L, "en", 1L, 10L))
      .toDF("doc_id", "lang", "shard", "n")
    assert(TextQueries.packNoSplit(rows)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq ===
      Seq(("en", 0L, 3L, 3L, 1112L, 424L, 1L), ("en", 1L, 1L, 1L, 10L, 502L, 0L)))
  }

  test("TextQueries.licenseFold scaladoc example") {
    import graft.operators.TextQueries
    import org.apache.spark.sql.functions.when
    val docs = Seq((1L, "same text", "a"), (2L, "same  TEXT ", "b"),
      (3L, "other", "a")).toDF("doc_id", "text", "source")
    assert(TextQueries.licenseFold(docs, when($"source" === "b", 2L).otherwise(0L))
      .select($"license", $"n_groups", $"n_escalated", $"n_copies")
      .as[(String, Long, Long, Long)].collect().toSeq ===
      Seq(("permissive", 1L, 0L, 1L), ("restricted", 1L, 1L, 2L)))
  }

  test("TextQueries.decontaminateReport scaladoc example") {
    import graft.operators.TextQueries
    def gram(p: String) = (1 to 8).map(p + _).mkString(" ")
    val docs = Seq(
      (1L, s"${gram("g")} tail", "en"),
      (2L, s"lead ${gram("g")} ${gram("h")}", "en"),
      (3L, s"${gram("h")} tail", "en"))
      .toDF("doc_id", "text", "lang")
    assert(TextQueries.decontaminateReport(docs, trainPred = $"doc_id" > 1L)
      .as[(String, Long, Long, Long, Long)].head ===
      (("en", 2L, 1L, 17L, 9L)))
  }

  test("TextQueries.spanScrubReport scaladoc example") {
    import graft.operators.TextQueries
    val span = (1 to 20).map("d" + _).mkString(" ")
    val docs = Seq((1L, s"a b c $span", "en"), (2L, s"$span x y", "en"))
      .toDF("doc_id", "text", "lang")
    assert(TextQueries.spanScrubReport(docs)
      .select("lang", "docs_scrubbed", "tokens_removed", "doc_tokens")
      .as[(String, Long, Long, Long)].head === (("en", 1L, 20L, 22L)))
  }

  test("TextQueries.modelScores scaladoc example") {
    import graft.operators.TextQueries
    val r = TextQueries.modelScores(
      Seq((7L, "alpha beta gamma", "en")).toDF("doc_id", "text", "lang")).head
    assert(r.getLong(2) == 3L &&
      r.getLong(4) == math.floor(r.getLong(3) * 1000.0 / 3).toLong)
  }

  test("ExtraRelationalQueries.mergeUpsert scaladoc example") {
    import graft.operators.ExtraRelationalQueries
    val target = Seq((1L, 100L), (2L, 200L)).toDF("k", "tval")
    val deltas = Seq((2L, -50L), (9L, 700L)).toDF("k", "delta")
    assert(ExtraRelationalQueries.mergeUpsert(target, deltas)
      .orderBy("k").collect().map(_.toSeq).toSeq ===
      Seq(Seq(1L, "unchanged", 100L), Seq(2L, "updated", 150L),
        Seq(9L, "inserted", 700L)))
  }

  test("TextQueries.weightedSample scaladoc example") {
    import graft.operators.TextQueries
    val docs = Seq((1L, "x", "en", 1L), (2L, "x", "en", 1000L))
      .toDF("doc_id", "text", "lang", "n_chars")
    assert(TextQueries.weightedSample(docs, 1)
      .select($"doc_id").as[Long].head() === 2L)
  }

  test("ExtraRelationalQueries.olsFit scaladoc example") {
    import graft.operators.ExtraRelationalQueries
    val line = (0L until 10L).map(x => ("a", x, 3 * x + 7)).toDF("seg", "x", "y")
    val r = ExtraRelationalQueries.olsFit(line).head()
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((3000000L, 7000L, 1000L)))
  }

  test("CountMin scaladoc example") {
    import graft.functions.CountMin
    val sk = spark.createDataset(Seq(1L, 1L, 1L, 2L))
      .select(new CountMin().toColumn).head()
    assert(CountMin.estimate(sk, 1L) >= 3L)
    assert(CountMin.estimate(sk, 2L) >= 1L)
  }

  test("ExtraRelationalQueries.shipmentConcurrency scaladoc example") {
    import graft.operators.ExtraRelationalQueries
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val li = Seq((7L, ts(1), ts(2)), (7L, ts(2), ts(3)), (7L, ts(2), ts(4)))
      .toDF("l_suppkey", "l_shipdate", "l_receiptdate")
    assert(ExtraRelationalQueries.shipmentConcurrency(li)
      .as[(Long, Long)].head === ((2L, 1L)))
  }

  test("ExtraRelationalQueries.kmCurve scaladoc example") {
    import graft.operators.ExtraRelationalQueries
    val lt = Seq((1L, true), (1L, true), (2L, true)).toDF("t", "churned")
    assert(ExtraRelationalQueries.kmCurve(lt)
      .select($"t", $"surv_milli").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 333L), (2L, 0L)))
  }

  test("ExtraRelationalQueries.ksReport scaladoc example") {
    import graft.operators.ExtraRelationalQueries
    val sup = Seq((1L, 4L, 0L), (2L, 6L, 0L), (10L, 0L, 5L)).toDF("v", "c1", "c2")
    val r = ExtraRelationalQueries.ksReport(sup).head()
    assert(r.getLong(2) === 1000L && r.getLong(3) === 2L)
  }

  test("ExtraRelationalQueries.isotonicFit scaladoc example") {
    import graft.operators.ExtraRelationalQueries
    val ser = Seq((1L, 1L, 4000L), (2L, 1L, 2000L), (3L, 1L, 9000L)).toDF("f", "w", "sc")
    assert(ExtraRelationalQueries.isotonicFit(ser)
      .select("iso_milli").as[Long].collect().toSeq ===
      Seq(3000000L, 3000000L, 9000000L))
  }

  test("DedupQueries.fuzzyWordPairs scaladoc example") {
    val v = Seq(("red", 10L), ("rod", 3L), ("zzzz", 1L)).toDF("w", "cnt")
    assert(DedupQueries.fuzzyWordPairs(v).select("word_a", "word_b")
      .as[(String, String)].collect().toSeq === Seq(("red", "rod")))
  }

  test("ExtraRelationalQueries.seasonalBacktest scaladoc example") {
    import graft.operators.ExtraRelationalQueries
    import org.apache.spark.sql.functions.to_timestamp
    val days = Seq(("2024-01-01", 500L), ("2024-01-08", 500L))
      .toDF("d", "rev_c").select(to_timestamp($"d").as("day"), $"rev_c")
    assert(ExtraRelationalQueries.seasonalBacktest(days)
      .select($"dow", $"mae_c").as[(Long, Long)].head() === ((0L, 0L)))
  }

  test("TextQueries.cdcChunks scaladoc example") {
    import graft.operators.TextQueries
    import org.apache.spark.sql.functions.{concat_ws, collect_list}
    val one = Seq((1L, "The quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    assert(TextQueries.cdcChunks(one)
      .agg(concat_ws("", collect_list($"chunk"))).as[String].head() ===
      "the quick brown fox jumps over the lazy dog")
  }

  // ----- round-5 completion of the doc-test-per-public-API policy ----------

  test("RelationalQueries.cents scaladoc example") {
    import graft.operators.RelationalQueries
    // floor-of-double quantization, the cross-engine determinism contract:
    // 19.99 * 100 is 1998.999… in IEEE double on EVERY engine, so both
    // sides floor to the same 1998
    assert(Seq(19.99, 0.07).toDF("p")
      .agg(RelationalQueries.cents($"p")).as[Long].head() === 2005L)
  }

  test("RelationalQueries.centsRow scaladoc example") {
    import graft.operators.RelationalQueries
    assert(Seq(19.99).toDF("p")
      .select(RelationalQueries.centsRow($"p")).as[Long].head() === 1998L)
  }

  test("ExtraRelationalQueries.orphanReport scaladoc example") {
    import graft.operators.ExtraRelationalQueries
    val child  = Seq(1L, 2L, 9L).toDF("fk")
    val parent = Seq(1L, 2L).toDF("pk")
    assert(ExtraRelationalQueries.orphanReport("child->parent", child, "fk", parent, "pk")
      .as[(String, Long)].head() === (("child->parent", 1L)))
  }

  test("ExtraRelationalQueries.checksumReport scaladoc example") {
    import graft.operators.ExtraRelationalQueries
    val a = Seq((1L, "x", 7L), (2L, "y", 9L)).toDF("k", "s", "v")
    val shuffled = Seq((2L, "y", 9L), (1L, "x", 7L)).toDF("k", "s", "v")
    def sig(df: org.apache.spark.sql.DataFrame) =
      ExtraRelationalQueries.checksumReport(df, lit(1), $"k", $"s", $"v").collect().toSeq
    assert(sig(a) === sig(shuffled)) // commutative: row order never matters
    val edited = Seq((1L, "x", 7L), (2L, "y", 8L)).toDF("k", "s", "v")
    assert(sig(a) !== sig(edited))   // any value edit flips the bucket signature
  }

  test("DedupQueries.jaccardMilliOf scaladoc example") {
    assert(DedupQueries.jaccardMilliOf(Seq("a", "b", "c"), Seq("b", "c", "d")) === 500L)
  }

  test("DedupQueries.cosMilliOf scaladoc example") {
    assert(DedupQueries.cosMilliOf(Array(3f, 4f), Array(3f, 4f)) === 1000L)
    assert(DedupQueries.cosMilliOf(Array(1f, 0f), Array(0f, 1f)) === 0L)
  }

  test("DedupQueries.minhashSigOf / bandHashOf scaladoc examples") {
    val sig = DedupQueries.minhashSigOf(Seq("a b c", "b c d"))
    assert(sig.length === 48)
    // set semantics: shingle order never changes the signature
    assert(sig.toSeq === DedupQueries.minhashSigOf(Seq("b c d", "a b c")).toSeq)
    // band hashes are pure functions of 3 signature rows
    assert(DedupQueries.bandHashOf(0, sig) === DedupQueries.bandHashOf(0, sig.clone()))
  }

  test("DedupQueries.minhashSig / bandHashes scaladoc examples") {
    val sh = Seq(Seq("a b c", "b c d"), Seq("b c d", "a b c")).toDF("sh")
    val sigs = sh.select(DedupQueries.minhashSig($"sh").as("sig")).collect()
    assert(sigs(0).getSeq[Long](0).length === 48)
    assert(sigs(0).getSeq[Long](0) === sigs(1).getSeq[Long](0))
    val bands = sh.select(DedupQueries.bandHashes(DedupQueries.minhashSig($"sh"))).collect()
    assert(bands(0).getSeq[Long](0).length === 16)
    assert(bands(0).getSeq[Long](0) === bands(1).getSeq[Long](0))
  }

  test("DedupQueries.simhash scaladoc example") {
    val df = Seq(Seq("the", "quick", "fox"), Seq("fox", "quick", "the")).toDF("t")
    val hs = df.select(DedupQueries.simhash($"t")).as[Long].collect()
    assert(hs(0) === hs(1)) // multiset-of-tokens semantics: order-free
  }

  test("DedupQueries.shinglesOf scaladoc example") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    assert(DedupQueries.shinglesOf(spark, docs).as[(Long, Seq[String])].head() ===
      ((1L, Seq("a b c", "b c d"))))
  }

  test("DedupQueries.lshBucketsOf scaladoc example") {
    val planes = VectorFns.hyperplanes(
      DedupQueries.lshTableCount * DedupQueries.lshPlanesPerTableCount,
      DedupQueries.embDim)
    val v = Array.tabulate(DedupQueries.embDim)(i => if (i == 0) 1f else 0f)
    val b = DedupQueries.lshBucketsOf(
      v, DedupQueries.lshTableCount, DedupQueries.lshPlanesPerTableCount, planes)
    assert(b.length === DedupQueries.lshTableCount)
    // identical vectors always land in identical buckets
    assert(b.toSeq === DedupQueries.lshBucketsOf(v.clone(),
      DedupQueries.lshTableCount, DedupQueries.lshPlanesPerTableCount, planes).toSeq)
  }

  test("TextQueries.applyBpeMerge scaladoc example") {
    import graft.operators.TextQueries
    // greedy left-to-right, boundary-aware: overlapping runs merge like BPE
    assert(TextQueries.applyBpeMerge("a a a", "a", "a") === "aa a")
    assert(TextQueries.applyBpeMerge("x y z", "y", "z") === "x yz")
  }

  test("TextQueries.admissionFeatures / admissionGate scaladoc examples") {
    import graft.operators.TextQueries
    val docs = Seq(
      (1L, (1 to 25).map("tok" + _).mkString(" ")), // long + diverse: admitted
      (2L, "spam " * 30)).toDF("doc_id", "text")    // repetitive: rejected
    assert(TextQueries.admissionFeatures(docs).filter(TextQueries.admissionGate)
      .select($"doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("TextQueries.redactPii scaladoc example") {
    import graft.operators.TextQueries
    val r = TextQueries.redactPii(
      Seq((1L, "mail a@b.com from 10.1.2.3")).toDF("doc_id", "text"))
      .select($"redacted").as[String].head()
    assert(r === "mail [EMAIL] from [IP]")
  }

  test("TextQueries.chunkDocs scaladoc example") {
    import graft.operators.TextQueries
    assert(TextQueries.chunkDocs(Seq((1L, "abcdef")).toDF("doc_id", "text"), 4, 2)
      .select($"chunk_idx", $"chunk_start", $"chunk_len")
      .as[(Long, Long, Long)].collect().toSeq ===
      Seq((0L, 1L, 4L), (1L, 3L, 4L)))
  }

  test("TextQueries.bottomKSample scaladoc example") {
    import graft.operators.TextQueries
    val docs = (1L to 5L).map(i => (i, s"doc $i", "en")).toDF("doc_id", "text", "lang")
    val s1 = TextQueries.bottomKSample(docs, 2)
      .select($"lang", $"sample_rank", $"doc_id").collect().toSeq
    assert(s1.size === 2 && s1.map(_.getLong(1)) === Seq(1L, 2L))
    // retry-stable: the sample is a pure function of doc ids
    assert(s1 === TextQueries.bottomKSample(docs, 2)
      .select($"lang", $"sample_rank", $"doc_id").collect().toSeq)
  }

  test("LayoutQueries.zValue2 scaladoc example") {
    import graft.operators.LayoutQueries
    val z = Seq((1L, 0L), (0L, 1L), (1L, 1L), (2L, 0L))
      .toDF("a", "b")
      .select(LayoutQueries.zValue2($"a", $"b")).as[Long].collect().toSeq
    assert(z === Seq(1L, 2L, 3L, 4L)) // a-bits at even, b-bits at odd positions
  }

  test("EventQueries.sequencePatterns scaladoc example") {
    import graft.operators.EventQueries
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, ts(0), 10L, "add"), (2L, ts(1), 10L, "buy"),
      (3L, ts(0), 11L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    assert(EventQueries.sequencePatterns(ev, Seq("add_then_buy" -> "a.*b"))
      .as[(String, Long, Long)].head() === (("add_then_buy", 1L, 500L)))
  }

  test("EventQueries.triangleCounts scaladoc example") {
    import graft.operators.EventQueries
    // one triangle 1-2-3 plus a pendant edge 3-4
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    assert(EventQueries.triangleCounts(edges)
      .orderBy($"node").as[(Long, Long, Long)].collect().toSeq ===
      Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 3L, 1L), (4L, 1L, 0L)))
  }

  test("EventQueries.bfsLevels scaladoc example") {
    import graft.operators.EventQueries
    val nodes = Seq(1L, 2L, 3L, 9L).toDF("k")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(EventQueries.bfsLevels(nodes, edges, source = 1L)
      .orderBy($"node").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 0L), (2L, 1L), (3L, 2L), (9L, -1L))) // -1 = unreachable
  }

  test("EventQueries.pageRank scaladoc example") {
    import graft.operators.EventQueries
    val nodes = Seq(1L, 2L).toDF("k")
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    // micro-unit ranks, teleport 0.15: after one round the source keeps
    // only the teleport mass, the sink gets teleport + 0.85 of the source
    assert(EventQueries.pageRank(nodes, edges, iters = 1)
      .orderBy($"k").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 150000L), (2L, 1000000L)))
  }

  test("DedupQueries.minhashNearDupPairs scaladoc example") {
    val base = (1 to 30).map("w" + _).mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base + " tail"), (3L, "something else entirely"))
      .toDF("doc_id", "text")
    val pairs = DedupQueries.minhashNearDupPairs(spark, docs)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
    assert(pairs === Seq((1L, 2L))) // near-dup found, unrelated doc not paired
  }

  test("DedupQueries.prefixFilterNearDupPairs scaladoc example") {
    val base = (1 to 30).map("w" + _).mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base + " tail"), (3L, "something else entirely"))
      .toDF("doc_id", "text")
    // exact-jaccard pairs (zero-miss prefix filtering), same contract as LSH
    assert(DedupQueries.prefixFilterNearDupPairs(spark, docs)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq === Seq((1L, 2L)))
  }

  test("DedupQueries.incrementalNearDupPairs scaladoc example") {
    val base = (1 to 30).map("w" + _).mkString(" ")
    // docs 1 and 2 are an OLD near-dup pair; doc 4 arrives as a new near-dup
    val docs = Seq(
      (1L, base), (2L, base + " tail"), (3L, "something else entirely"),
      (4L, base + " coda"))
      .toDF("doc_id", "text")
    val pairs = DedupQueries.incrementalNearDupPairs(spark, docs, $"doc_id" === 4L)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
    // new-vs-history only: the settled (1,2) pair is never re-mined
    assert(pairs === Seq((1L, 4L), (2L, 4L)))
    // frame-driven overload (the streaming twin's path): identical contract
    val pairsDf = DedupQueries.incrementalNearDupPairs(spark, docs,
      docs.filter($"doc_id" === 4L).select($"doc_id"))
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
    assert(pairsDf === Seq((1L, 4L), (2L, 4L)))
  }

  test("DedupQueries.tokensOf scaladoc example") {
    assert(DedupQueries.tokensOf("  Hello   WORLD ") === Seq("hello", "world"))
  }

  test("DedupQueries.shinglesOfText scaladoc example") {
    assert(DedupQueries.shinglesOfText("a b c d") === Seq("a b c", "b c d"))
  }

  test("TextQueries.admits scaladoc example") {
    assert(graft.operators.TextQueries.admits(nTokens = 25, distinctRatioMilli = 500) &&
      !graft.operators.TextQueries.admits(2, 500))
  }

  test("TextQueries.admissionGate scaladoc example") {
    import graft.operators.TextQueries.{admissionFeatures, admissionGate}
    val docs = Seq(
      (1L, (1 to 25).map("w" + _).mkString(" ")), // long + diverse: admitted
      (2L, "too short")).toDF("doc_id", "text")
    val feats = admissionFeatures(docs)
    assert(feats.filter(admissionGate).select($"doc_id").as[Long].collect().toSeq === Seq(1L))
    assert(feats.filter(!admissionGate).count() === feats.count() - 1)
  }

  test("SimilarityQueries.ivfCentroids scaladoc example") {
    import graft.operators.SimilarityQueries.ivfCentroids
    val e = Seq((1L, Array(3f, 4f)), (2L, Array(1f, 0f)), (3L, Array(0f, 2f)))
      .toDF("vec_id", "embedding")
    assert(ivfCentroids(spark, e).map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(ivfCentroids(spark, e).head._3 === 5.0)
  }

  test("SimilarityQueries.kmeansCodebook scaladoc example") {
    import graft.operators.SimilarityQueries.kmeansCodebook
    val e = Seq((1L, Array(1f, 0f)), (2L, Array(0.9f, 0f)),
      (3L, Array(0f, 1f)), (4L, Array(0f, 0.9f))).toDF("vec_id", "embedding")
    val cb = kmeansCodebook(spark, e, k = 2, iters = 3)
    assert(cb.length === 2)
    assert(cb.map(_.toSeq).toSeq === kmeansCodebook(spark, e, 2, 3).map(_.toSeq).toSeq)
  }

  test("SimilarityQueries.pqCodebook scaladoc example") {
    import graft.operators.SimilarityQueries.{pqCodebook, PqM, PqSubDim}
    val e = Seq((1L, Array.tabulate(64)(_.toFloat)),
      (2L, Array.fill(64)(1f))).toDF("vec_id", "embedding")
    val cb = pqCodebook(spark, e)
    assert(cb.length === PqM)
    assert(cb.forall(sub => sub.length === 2 && sub.forall(_.length === PqSubDim)))
  }

  test("DedupQueries.embeddingLshPairs scaladoc example") {
    val e1 = Array.tabulate(DedupQueries.embDim)(i => if (i == 0) 1f else 0f)
    val emb = Seq((1L, e1), (2L, e1.clone()), (3L, e1.map(-_)))
      .toDF("vec_id", "embedding")
    val pairs = DedupQueries.embeddingLshPairs(spark, emb)
      .select($"vec_a", $"vec_b", $"cos_milli").collect().toSeq
    // identical vectors share every bucket; the antipodal one shares none
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))) === Seq((1L, 2L)))
    assert(pairs.head.getLong(2) >= 999L)
  }

  test("ExtraRelationalQueries.skyline scaladoc example") {
    import graft.operators.ExtraRelationalQueries.skyline
    val pts = Seq((1L, 10L, 5L), (2L, 20L, 9L), (3L, 15L, 5L), (4L, 10L, 5L))
      .toDF("l_partkey", "unit_c", "qty")
    assert(skyline(pts).orderBy($"l_partkey").as[(Long, Long, Long)]
      .collect().toSeq === Seq((1L, 10L, 5L), (2L, 20L, 9L)))
  }

  test("TextQueries.canonicalUrls scaladoc example") {
    import graft.operators.TextQueries
    assert(TextQueries.canonicalUrls(
      Seq("http://crawler@www.example.com:8080/a/index.html").toDF("url"))
      .as[(String, String)].head === (("https://example.com/a", "example.com")))
  }

  test("DedupQueries.minSharedTable scaladoc example") {
    assert(Seq((Seq[Long](), Seq[Long]()), (Seq(7L), Seq(7L)), (Seq(7L), Seq(9L)))
      .toDF("sig_a", "sig_b").select(DedupQueries.minSharedTable.as("keep"))
      .as[Boolean].collect().toSeq === Seq(true, false, true))
  }

  test("LshPairs.pairs scaladoc example") {
    import graft.operators.LshPairs.{Geometry, pairs}
    // tables 0 and 2 cut on x, table 1 on y: (1, 1) and (1, -1) collide
    // in tables 0 and 2 only
    val g = Geometry(3, 1, Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0)))
    val s = g.side(Seq((1L, Array(1f, 1f)), (2L, Array(1f, -1f))).toDF("id", "embedding"))
    assert(pairs(s, s, _ < _).as[(Long, Long, Long)].collect().toSeq === Seq((1L, 2L, 0L)))
  }

  test("SimilarityQueries.planeLit scaladoc example") {
    assert(graft.operators.SimilarityQueries.planeLit(Array(1.0, -0.5)) === "[1.0,-0.5]")
  }

  test("DedupQueries.autoPlanesPerTable scaladoc example") {
    assert(DedupQueries.autoPlanesPerTable(500) === DedupQueries.lshPlanesPerTableCount)
    assert(DedupQueries.autoPlanesPerTable(5000) === 13)
    assert(DedupQueries.autoPlanesPerTable(50000) === 19)
  }

  test("SimilarityQueries.semanticDecontaminateReport scaladoc example") {
    import graft.operators.SimilarityQueries.semanticDecontaminateReport
    val e1 = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    val docs = Seq((1L, "a b c d", "en"), (2L, "e f g h", "en"),
      (3L, "q r s t", "en")).toDF("doc_id", "text", "lang")
    val emb = Seq((1L, e1), (2L, e1.map(-_)), (3L, e1.clone()))
      .toDF("vec_id", "embedding")
    // held = doc 3; train doc 1 mirrors it (cos 1.0) -> dropped;
    // train doc 2 is antipodal -> kept
    assert(semanticDecontaminateReport(spark, docs, emb, trainPred = $"doc_id" < 3L)
      .as[(String, Long, Long, Long, Long)].head == (("en", 2L, 1L, 4L, 4L)))
  }

  test("SimilarityQueries.decontaminatedCorpus scaladoc example") {
    import graft.operators.SimilarityQueries.decontaminatedCorpus
    def gram(p: String) = (1 to 8).map(p + _).mkString(" ")
    val e = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    val docs = Seq(
      (1L, "clean text one", "en"),
      (2L, s"lead ${gram("g")}", "en"),
      (3L, "clean text two", "en"),
      (9L, s"${gram("g")} tail", "en"))
      .toDF("doc_id", "text", "lang")
    val emb = Seq((1L, e.clone()), (2L, e.map(-_)), (3L, e.map(-_)), (9L, e))
      .toDF("vec_id", "embedding")
    // 1 dropped semantically (mirror), 2 dropped lexically (shared shingle),
    // 3 kept — clean on both gates
    assert(decontaminatedCorpus(spark, docs, emb, trainPred = $"doc_id" < 9L)
      .as[(Long, String, Long)].collect().toSeq === Seq((3L, "en", 3L)))
  }

  test("SimilarityQueries.ivfSearch scaladoc example") {
    import graft.operators.SimilarityQueries
    val dim = DedupQueries.embDim
    def v(hot: Int) = Array.tabulate(dim)(i => if (i == hot) 1f else 0f)
    val corpus = Seq((1L, v(0)), (2L, v(1)), (3L, v(2))).toDF("vec_id", "embedding")
    val queries = Seq((100L, v(0))).toDF("vec_id", "embedding")
    val top = SimilarityQueries.ivfSearch(spark, corpus, queries, probes = 3, topK = 1)
      .as[(Long, Long, Long, Long)].head()
    assert(top._1 === 100L && top._2 === 1L && top._3 === 1L) // exact match wins rank 1
  }

  test("SimilarityQueries.indexBuild scaladoc example") {
    import graft.operators.SimilarityQueries
    def v(hot: Int) = Array.tabulate(4)(i => if (i == hot) 1f else 0f)
    val docs = Seq.tabulate(3)(i =>
      (i + 1L, (1 to 21).map(t => s"d${i}w$t").mkString(" ")))
      .toDF("doc_id", "text")
    val emb = Seq((1L, v(0)), (2L, v(1)), (3L, v(2))).toDF("vec_id", "embedding")
    assert(SimilarityQueries.indexBuild(spark, docs, emb)
      .select($"n_docs", $"n_tokens")
      .as[(Long, Long)].collect().toSeq === Seq((1L, 21L), (1L, 21L), (1L, 21L)))
  }

  test("SimilarityQueries.bm25Search scaladoc example") {
    import graft.operators.SimilarityQueries
    val docs = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "ducks swim across ponds")).toDF("doc_id", "text")
    val hits = SimilarityQueries.bm25Search(docs, Seq(7L -> Seq("spark")), k = 5)
      .select($"query_id", $"rank", $"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(hits === Seq((7L, 1L, 1L))) // only the doc containing the term scores
  }

  test("SimilarityQueries.proximitySearch scaladoc example") {
    import graft.operators.SimilarityQueries
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps"),
      (2L, "en", "quick stream with a fox far away later")).toDF("doc_id", "lang", "text")
    val r = SimilarityQueries.proximitySearch(docs, Seq((1L, "quick", "fox")), window = 3)
      .select($"qid", $"lang", $"n_docs", $"n_pairs").as[(Long, String, Long, Long)]
      .collect().toSeq
    assert(r === Seq((1L, "en", 1L, 1L))) // only doc 1 has the terms within 3 positions
  }

  test("SimilarityQueries.knnGraph scaladoc example") {
    import graft.operators.SimilarityQueries
    val e1 = Array.tabulate(DedupQueries.embDim)(i => if (i == 0) 1f else 0f)
    val emb = Seq((1L, e1), (2L, e1.clone()), (3L, e1.map(-_)), (4L, e1.map(-_)))
      .toDF("vec_id", "embedding")
    val edges = SimilarityQueries.knnGraph(spark, emb)
      .select($"vec_id", $"nbr_id").as[(Long, Long)].collect().toSet
    // neighbors only within shared LSH buckets: the antipodal pair is unreachable
    assert(edges === Set((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)))
  }

  test("SimilarityQueries.semanticClusters scaladoc example") {
    import graft.operators.SimilarityQueries
    val e1 = Array.tabulate(DedupQueries.embDim)(i => if (i == 0) 1f else 0f)
    val emb = Seq((1L, e1), (2L, e1.clone()), (3L, e1.map(-_)), (4L, e1.map(-_)))
      .toDF("vec_id", "embedding")
    assert(SimilarityQueries.semanticClusters(spark, emb)
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)))
  }

  test("SimilarityQueries.postings scaladoc example") {
    import graft.operators.SimilarityQueries
    assert(SimilarityQueries.postings(Seq((1L, "spark joins spark")).toDF("doc_id", "text"))
      .as[(Long, String, Long)].collect().toSet ===
      Set((1L, "spark", 2L), (1L, "joins", 1L)))
  }

  test("SimilarityQueries.impactPrunedPostings scaladoc example") {
    import graft.operators.SimilarityQueries
    val dt = (1L to 40L).map(i => (i, "hot", i)).toDF("doc_id", "tok", "tf")
    assert(SimilarityQueries.impactPrunedPostings(dt).count() === 32L)
    assert(SimilarityQueries.impactPrunedPostings(dt)
      .agg(min($"tf")).as[Long].head === 9L)
  }

  test("SimilarityQueries.rrfFuse scaladoc example") {
    import graft.operators.SimilarityQueries
    val lex = Seq((1L, 7L, 1L), (1L, 8L, 2L)).toDF("query_id", "doc_id", "lex_rank")
    val vec = Seq((1L, 7L, 2L), (1L, 9L, 1L)).toDF("query_id", "doc_id", "vec_rank")
    assert(SimilarityQueries.rrfFuse(lex, vec)
      .select($"rank", $"doc_id", $"fused_micro")
      .as[(Long, Long, Long)].collect().toSeq ===
      Seq((1L, 7L, 16393L + 16129L), (2L, 9L, 16393L), (3L, 8L, 16129L)))
  }

  test("SimilarityQueries.crossLingualMirrors scaladoc example") {
    // the planted translated-pair fixture (round-7 directive 6): docs 1/2
    // share an embedding neighborhood (cluster {1,2}) but predict en vs de
    // via TextFns.langId — a translated mirror; cluster {3,4} is en-only
    // and must NOT appear in the matrix
    import graft.operators.SimilarityQueries
    import graft.functions.TextFns
    val e1 = Array.tabulate(DedupQueries.embDim)(i => if (i == 0) 1f else 0f)
    val emb = Seq((1L, e1), (2L, e1.clone()), (3L, e1.map(-_)), (4L, e1.map(-_)))
      .toDF("vec_id", "embedding")
    val docs = Seq((1L, "the of and to in"), (2L, "der die und ist zu"),
      (3L, "the of and a is"), (4L, "of the is a and")).toDF("doc_id", "text")
    assert(SimilarityQueries.crossLingualMirrors(spark, emb,
        docs.select($"doc_id", TextFns.langId($"text").as("lang")))
      .as[(String, String, Long, Long)].collect().toSeq ===
      Seq(("de", "en", 1L, 2L)))
  }

  test("SimilarityQueries.hardNegatives scaladoc example") {
    import graft.operators.SimilarityQueries
    val e1 = Array.tabulate(DedupQueries.embDim)(i => if (i == 0) 1f else 0f)
    val emb = Seq((1L, e1), (2L, e1.clone()), (3L, e1.clone())).toDF("vec_id", "embedding")
    val pos = Seq((1L, 2L)).toDF("vec_a", "vec_b")
    val negs = SimilarityQueries.hardNegatives(spark, emb, n = 1, k = 5,
        positives = Some(pos))
      .select($"vec_id", $"nbr_id").as[(Long, Long)].collect().toSet
    // vec 1's positive (2) is excluded; its hard negative is vec 3
    assert(negs.contains((1L, 3L)) && !negs.contains((1L, 2L)))
  }

  test("TextQueries.boilerplateSpans scaladoc example") {
    import graft.operators.TextQueries
    val tpl = (1 to 10).map("t" + _).mkString(" ") // 10-token template: 3 8-shingles
    val docs = Seq((1L, "en", tpl), (2L, "en", tpl),
      (3L, "en", (1 to 10).map("u" + _).mkString(" ")))
      .toDF("doc_id", "lang", "text")
    assert(TextQueries.boilerplateSpans(docs)
      .as[(String, Long, Long, Long, Long, Long)].head() ===
      (("en", 3L, 2L, 9L, 6L, 666L))) // the two template copies share all shingles
  }

  test("TextQueries.periodicityReport scaladoc example") {
    import graft.operators.TextQueries
    val docs = Seq((1L, "en", Seq.fill(10)("a b").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    assert(TextQueries.periodicityReport(docs)
      .as[(String, Long, Long, Long, Long)].head() ===
      (("en", 1L, 1L, 1L, 17L))) // every bigram repeats at gap 2: periodic
  }

  test("TextQueries.codeSwitchReport scaladoc example") {
    import graft.operators.TextQueries
    val docs = Seq((1L, "en", "one short single-language document"))
      .toDF("doc_id", "lang", "text")
    assert(TextQueries.codeSwitchReport(docs)
      .as[(String, Long, Long, Long, Long)].head() ===
      (("en", 1L, 1L, 0L, 1000L))) // one chunk, one language, dominant share 100%
  }

  test("Multimodal.stubDecode scaladoc example") {
    import graft.operators.Multimodal
    val a = Multimodal.MediaAsset(1L, Array.fill[Byte](2058)(2), "image/png", 2058L)
    val fs = Multimodal.stubDecode(a).toSeq
    assert(fs.map(_.frame_bytes) === Seq(1024L, 1024L, 10L))
    assert(fs.head.byte_sum === 2048L) // 1024 bytes of value 2
  }

  test("Multimodal.assets / decodeFrames / sampleFrames scaladoc examples") {
    import graft.operators.Multimodal
    val a = Multimodal.assets(spark, sf)
    assert(a.count() > 0)
    val f = Multimodal.decodeFrames(spark, sf)
    assert(f.count() >= a.count()) // every asset yields >= 1 frame
    assert(Multimodal.sampleFrames(f, 2).filter(_.frame_no % 2 != 0).count() === 0L)
  }

  test("Multimodal.dHashChunks scaladoc example") {
    import graft.operators.Multimodal
    val ramp = Array.tabulate[Byte](650)(i => (i / 10).toByte)
    val a = Multimodal.MediaAsset(1L, ramp, "image/png", 650L)
    assert(Multimodal.dHashChunks(Multimodal.MediaAsset(9L, Array.emptyByteArray,
      "image/png", 0L)).isEmpty) // empty payloads have no hash
    val Some((_, _, c0, c1, c2, c3)) = Multimodal.dHashChunks(a)
    // gradient bits survive a uniform brightness shift that breaks checksums
    val brighter = a.copy(payload = ramp.map(b => ((b & 0xff) + 30).toByte))
    assert(Multimodal.dHashChunks(brighter).get._3 === c0)
  }

  test("Multimodal.sharedFrames scaladoc example") {
    import graft.operators.Multimodal
    val payload = Array.fill[Byte](2048)(7)
    val ds = Seq(
      Multimodal.MediaAsset(1L, payload, "image/png", 2048L),
      Multimodal.MediaAsset(2L, payload.clone(), "image/png", 2048L)).toDS()
    val r = Multimodal.sharedFrames(ds).head()
    assert(r.getLong(1) === 4L && r.getLong(2) === 4L) // all 4 frames shared
  }

  test("Multimodal.withReencodes scaladoc example") {
    import graft.operators.Multimodal
    val ds = Seq(Multimodal.MediaAsset(1L, Array.fill[Byte](10)(1), "image/png", 10L)).toDS()
    val ids = Multimodal.withReencodes(ds).collect().map(_.asset_id).sorted.toSeq
    assert(ids === Seq(1L, 1000001L)) // original + deterministic re-encode
  }

  test("Multimodal.shotBoundaries scaladoc example") {
    import graft.operators.Multimodal
    val payload = Array.fill[Byte](1024)(0) ++ Array.fill[Byte](1024)(100)
    val ds = Seq(Multimodal.MediaAsset(1L, payload, "video/mp4", 2048L)).toDS()
    assert(Multimodal.shotBoundaries(ds).as[(Long, Long, Long, Long)].head() ===
      ((1L, 2L, 2L, 100L))) // the mean-byte jump of 100 cuts a second segment
  }

  test("Multimodal.perceptualNearDups scaladoc example") {
    import graft.operators.Multimodal
    val ramp = Array.tabulate[Byte](650)(i => (i / 10).toByte)
    val ds = Multimodal.withReencodes(
      Seq(Multimodal.MediaAsset(1L, ramp, "image/png", 650L)).toDS())
    // the +30-brightness re-encode preserves every dHash gradient bit
    assert(Multimodal.perceptualNearDups(ds)
      .select($"asset_a", $"asset_b", $"hamming").as[(Long, Long, Long)]
      .collect().toSeq === Seq((1L, 1000001L, 0L)))
  }

  test("LayoutQueries.zOrderWrite scaladoc example") {
    import graft.operators.LayoutQueries
    val dir = s"$tmp/zorder_doc"
    val df = (0L until 256L).map(i => (i % 16, i / 16)).toDF("x", "y")
    LayoutQueries.zOrderWrite(df, "x", "y", files = 4, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() === 256L && back.columns.toSeq.sorted === Seq("x", "y"))
  }

  test("LayoutQueries.compact scaladoc example") {
    import graft.operators.LayoutQueries
    val in = s"$tmp/compact_doc_in"
    val out = s"$tmp/compact_doc_out"
    (0L until 1000L).toDF("id").repartition(16).write.mode("overwrite").parquet(in)
    val (nIn, nOut) = LayoutQueries.compact(spark, in, out, Seq.empty)
    assert(nOut < nIn && spark.read.parquet(out).count() === 1000L)
  }

  // ----- the policy gate ---------------------------------------------------

  /** Public operator methods exempt from the doc-example requirement, each
    * with its reason. Everything here is either a constant/accessor (no
    * behavior to exemplify), a Scala-package-private member that Java
    * reflection still reports public, or an oracle-SQL generator exercised
    * by every oracle that embeds it. */
  private val excluded: Map[String, Set[String]] = Map(
    "DedupQueries" -> Set(
      "numBands", "embDim", "lshTableCount", "lshPlanesPerTableCount", // constant accessors
      "AutoPlanes",     // sentinel constant; behavior exemplified by the
                        // autoPlanesPerTable doc example + ScaleSpec
      "LocalFoldMaxEdges", // size-gate constant; behavior (local fold ==
                        // distributed rounds on either side of the gate)
                        // exercised by LocalFoldSpec
      "minhashNearDupPairsUnordered", // private[graft] sort-free form of the
                        // documented minhashNearDupPairs (same pair set,
                        // minus d03's declared output order); gated by every
                        // cluster-family oracle (d08/d12/d16/t26/t46/d18)
      "minhashNearDupPairsPreCollapsed", // private[graft] d03 kernel for
                        // callers that guarantee one row per normalized
                        // text (streaming-ingest canon); gated by the t38
                        // oracle + StreamingSpec equivalence
      "d06OracleSql"),  // oracle-SQL constant consumed by the s12 oracle
    "SimilarityQueries" -> Set(
      "IvfK", "KmK", "PqK", "PqM", "PqSubDim", // private[graft] codebook constants
      "ImpactPostings", // private[graft] s21 index-build constant
      // private[graft] hybrid-retrieval leg seams shared by s20/s21 and
      // the SimilaritySpec fusion-spine + recall-harness gates; each is
      // exercised by BOTH hybrid oracles (s20 exact, s21 indexed) —
      // postings/impactPrunedPostings/rrfFuse have doc examples below
      "lexTopR", "vecTopRExact", "vecTopRLsh",
      // private[graft] s22 decision seam shared with StreamSemanticDecontaminate;
      // gated by the s22 oracle + the twin equivalence test
      "semDecontStats",
      "fixtureBucketSql", // oracle-SQL generator, embedded in the ten LSH oracles
      // private[graft] s11/d19 seams shared with StreamClusterLabels'
      // live-report composition; gated by the s11/d19 oracles + the
      // StreamDedupSpec composition test
      "mutualKnnPairs", "mirrorMatrix"),
    "TextQueries" -> Set(
      "polyHashSqlOf",  // oracle-SQL generator, embedded in a dozen oracles
      "packShardCol",   // private[graft] t08 shard column shared with
                        // StreamIngest; Java-reflection artifact, gated by
                        // the t08 + t38 oracles
      "PackBudget",     // private[graft] packing constant shared with s19
      "packShardSql",   // private[graft] oracle-SQL mirror of packShardCol,
                        // embedded in the t08/t38/s19 oracles
      "domainCapReport", // private[graft] t42 O(domains) cap seam, gated by
                         // the t42 oracle + the twin equivalence test
      "DomainBudgetPct", // private[graft] budget constant shared with the twin
      "docShingles",     // private[graft] t44 per-doc projection seam shared
                         // with StreamDecontaminate; gated by the t44 oracle
                         // + the twin equivalence test
      "lexDroppedIds",   // private[graft] t44/s23 drop-decision seam, gated
                         // by the t44 + s23 oracles
      "lexDroppedSqlCtes", // its DuckDB CTE mirror, embedded in the s23 oracle
      "decontLangStats",  // private[graft] t44 decision/economics seam, same gates
      "trainSplitPred",   // private[operators] t06 split seam shared with s22;
                          // gated by the t06/t44/s22 oracles
      "trainSplitPredSql"), // its DuckDB mirror, embedded in the s22 oracle
    "Multimodal" -> Set("FrameSize", "ShardBytes", "ShardGroups"), // constants
    // private[graft] kernel entry points; LshPairsSpec checks them against
    // brute force, and the d06/s09/s22/s23 oracles gate every caller
    "LshPairs" -> Set("geometry", "sideOf", "selfPairs", "crossPairs"))

  test("every public operator method has a runnable doc example or a documented exclusion") {
    // The reference's CONTRIBUTING policy (doc-test per public item),
    // enforced structurally: enumerate the operator objects' public
    // methods via reflection; each must appear in a "<Object>.<method>"
    // doc-example test above or in the documented exclusion table.
    val objs: Seq[(String, AnyRef)] = Seq(
      "RelationalQueries" -> graft.operators.RelationalQueries,
      "ExtraRelationalQueries" -> graft.operators.ExtraRelationalQueries,
      "EventQueries" -> graft.operators.EventQueries,
      "DedupQueries" -> graft.operators.DedupQueries,
      "SimilarityQueries" -> graft.operators.SimilarityQueries,
      "TextQueries" -> graft.operators.TextQueries,
      "Multimodal" -> graft.operators.Multimodal,
      "LayoutQueries" -> graft.operators.LayoutQueries,
      "SqlSurfaceQueries" -> graft.operators.SqlSurfaceQueries,
      "DslQueries" -> graft.operators.DslQueries,
      "LshPairs" -> graft.operators.LshPairs)
    // a method is covered when some doc-example test names it after its object
    val names = testNames
    def hasExample(obj: String, m: String): Boolean =
      names.exists(t => t.contains(s"$obj.$m ") || t.contains(s"$obj.$m/") ||
        t.contains(s" $m ") && t.startsWith(obj + "."))
    for ((oName, o) <- objs) {
      val pub = o.getClass.getDeclaredMethods.toSeq
        .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
        .map(_.getName).filterNot(_.contains("$")).toSet - "all"
      val ex = excluded.getOrElse(oName, Set.empty)
      val missing = pub.filterNot(m => ex.contains(m) || hasExample(oName, m))
      assert(missing.isEmpty,
        s"$oName public methods without a doc example or documented exclusion: " +
          missing.toSeq.sorted.mkString(", "))
      val staleEx = ex -- pub
      assert(staleEx.isEmpty, s"$oName exclusion list names vanished methods: $staleEx")
    }
  }
}
