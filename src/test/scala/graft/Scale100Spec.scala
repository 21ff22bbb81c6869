package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, sum}
import graft.operators.DedupQueries

/** The 100x tier of ScaleSpec for the heaviest operators (d03, d06, d08,
  * s09, s11 + the iterative graph family q48/q54/q55): two decades of
  * growth on the same deterministic generators, asserting a ≲linear
  * runtime fit and EXACT output linearity
  * (the corpora embed matches at a fixed per-id rate, so true counts are a
  * pure function of n — any deviation is a recall or flood bug, not
  * noise). A quadratic regression at 100x overshoots the runtime bound by
  * ~two orders of magnitude and usually floods the output count first.
  *
  * Bucket geometry is tuned for the LARGE size per the documented
  * K ~ 2*log2(n) - 10 contract and held fixed across both sizes, so the
  * (deterministic) recall is identical at both ends and output ratios are
  * exact. Runtime bounds allow 2.5x headroom per decade over linear plus a
  * fixed-overhead floor — generous for a shared local[4] JVM, far below
  * any quadratic blowup. */
class Scale100Spec extends SparkSpec {

  import spark.implicits._

  private def docCorpus(n: Int): DataFrame =
    spark.range(n).as[Long].map(ScaleCorpus.doc _).toDF("doc_id", "text")

  private def vecCorpus(n: Int): DataFrame =
    spark.range(n).as[Long].map(ScaleCorpus.vecTight _).toDF("vec_id", "embedding")

  private def timed(f: => Long): (Double, Long) = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val rows = f
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  /** ≲linear fit over two decades: runtime ratio <= 250x (2.5x headroom
    * per decade compounded, with a fixed-cost floor on the small run) and
    * the output count exactly as predicted at both sizes. */
  private def assert100x(name: String, run: DataFrame => Long,
      small: DataFrame, big: DataFrame,
      expectSmall: Long, expectBig: Long): Unit = {
    run(small) // warmup: codegen + JIT, untimed
    spark.catalog.clearCache()
    val (tS, outS) = timed(run(small))
    val (tL, outL) = timed(run(big))
    info(f"$name: 1x -> ${tS}%.2f s / $outS, 100x -> ${tL}%.2f s / $outL")
    assert(outS === expectSmall, s"$name small-size output drifted: $outS")
    assert(outL === expectBig, s"$name 100x output not linear: $outL (want $expectBig)")
    assert(tL <= 250.0 * math.max(tS, 0.5),
      f"$name runtime beyond a linear fit: ${tS}%.2f s -> ${tL}%.2f s for 100x data")
  }

  /** Round telemetry of the last two clusterLabels calls in `t` (the 1x
    * and 100x runs of [[assert100x]]), read from the named Observations:
    * each call emits one `graft.gate.clusterLabels` row, then one
    * `graft.rounds.clusterLabels` row per round. Same round count at both
    * sizes, and every round's frontier exactly 100x. */
  private def assertFixedRounds(name: String, t: Traced): Unit = {
    val calls = t.observed.foldLeft(Vector.empty[Vector[Long]]) {
      case (cs, ("graft.gate.clusterLabels", _)) => cs :+ Vector.empty
      case (cs, ("graft.rounds.clusterLabels", r)) if cs.nonEmpty =>
        cs.init :+ (cs.last :+ r.getAs[Long]("n"))
      case (cs, _) => cs
    }
    assert(calls.length >= 2, s"$name: expected the 1x and 100x calls, got ${t.observed}")
    val Seq(fS, fL) = calls.takeRight(2)
    info(s"$name rounds: 1x -> ${fS.length} ${fS.mkString("[", ",", "]")}, " +
      s"100x -> ${fL.length} ${fL.mkString("[", ",", "]")}")
    assert(fL.length === fS.length,
      s"$name: propagation rounds must track DIAMETER, not data size: $fS vs $fL")
    assert(fL === fS.map(_ * 100L),
      s"$name: per-round frontier must scale exactly with the 100x data: $fS vs $fL")
  }

  test("t44 decontamination: 100x corpus => ≲linear runtime, pinned deterministic drops") {
    // dropped-doc counts are a pure function of the deterministic corpus
    // and the deterministic hash split (a train doc drops iff its sole
    // shingle-sharing partner lands heldout), so the exact values are
    // pinned as regression constants; they scale ~100x (binomial shape of
    // the split, not a closed form)
    import graft.operators.TextQueries
    import org.apache.spark.sql.functions.{lit => l, sum => s}
    def run(df: DataFrame): Long =
      TextQueries.decontaminateReport(df.withColumn("lang", l("en")))
        .agg(s($"n_dropped")).as[Long].head
    assert100x("t44", run,
      docCorpus(4000), docCorpus(400000), 82L, 8001L)
  }

  test("d03 minhash dedup: 100x corpus => linear pairs and ≲linear runtime") {
    // every 10th doc is a near-dup of its predecessor: exactly n/10 pairs
    assert100x("d03",
      df => DedupQueries.minhashNearDupPairs(spark, df).count(),
      docCorpus(4000), docCorpus(400000), 400L, 40000L)
  }

  test("d06 embedding-LSH dedup: 100x corpus => linear pairs and ≲linear runtime") {
    // clusters of 4 consecutive ids: C(4,2) = 6 pairs per cluster = 1.5n.
    // The tier runs K=40 deep buckets over the tight generator: true pairs
    // (cos ~0.9999) collide in some table with near-certainty while the
    // ~2e10 random cross-pairs expect < 1 collision total at 8/2^40 — and
    // the exact-cosine verify (>= 850 milli) removes even those, so the
    // pair count is EXACTLY 1.5n at both sizes, deterministically.
    def run(df: DataFrame): Long = DedupQueries.embeddingLshPairs(spark, df,
      tables = 8, planesPerTable = 40, minCosMilli = 850L).count()
    assert100x("d06", run, vecCorpus(2000), vecCorpus(200000), 3000L, 300000L)
  }

  test("d08 cluster labels: 100x graph => exact components, ≲linear runtime, FIXED rounds") {
    // chains of 8 consecutive ids at constant diameter: component count is
    // exactly n/8 and pointer-jumping rounds stay fixed while n grows 100x
    def graph(n: Int): DataFrame = spark.range(n).toDF("doc_id")
    def run(docs: DataFrame): Long = {
      val ids = docs.select($"doc_id")
      val edges = ids.filter($"doc_id" % 8 =!= 7)
        .select($"doc_id".as("doc_a"), ($"doc_id" + 1).as("doc_b"))
      DedupQueries.clusterLabels(docs, edges, localFoldMaxEdges = -1L)
        .select($"cluster_id").distinct().count() // distributed rounds are the subject
    }
    val (_, t) = trace(assert100x("d08", run, graph(40000), graph(4000000), 5000L, 500000L))
    // the third decade of round telemetry (rounds-track-diameter, measured
    // — sf1_probe.json holds the sf0.1->sf1 pair, this is the 100x point):
    // identical chain diameter => identical round count, and each round's
    // changed-label frontier is EXACTLY 100x (the graph is 100 disjoint
    // copies and label propagation is deterministic dataflow)
    assertFixedRounds("d08", t)
  }

  test("s09 kNN graph: 100x corpus => linear edges and ≲linear runtime") {
    // within a 4-cluster every vector has exactly 3 same-cluster neighbors
    // (k=5 cap never binds; at K=40 the ~2e10 random cross-pairs expect
    // < 1 bucket collision in total): exactly 3n directed edges
    def run(df: DataFrame): Long = graft.operators.SimilarityQueries
      .knnGraph(spark, df, tables = 8, planesPerTable = 40).count()
    assert100x("s09", run, vecCorpus(2000), vecCorpus(200000), 6000L, 600000L)
  }

  test("s11 semantic clusters: 100x corpus => exact labels, ≲linear runtime, FIXED rounds") {
    // mutual-kNN over the same geometry: one label per vector, and the
    // distinct-label count is exactly the n/4 construction clusters
    def run(df: DataFrame): Long = {
      val labels = graft.operators.SimilarityQueries
        .semanticClusters(spark, df, tables = 8, planesPerTable = 40,
          localFoldMaxEdges = -1L) // distributed round telemetry is the subject
      val n = labels.count()
      val k = labels.select($"cluster_id").distinct().count()
      n * 1000000L + k // pack both invariants into one asserted number
    }
    val (_, t) = trace(assert100x("s11", run, vecCorpus(2000), vecCorpus(200000),
      2000L * 1000000L + 500L, 200000L * 1000000L + 50000L))
    // third-decade round telemetry: constant 4-vector cluster diameter =>
    // identical propagation rounds at 1x and 100x, frontier exactly 100x
    assertFixedRounds("s11", t)
  }

  // ----- the iterative graph family (q48/q54/q55) ---------------------------
  // Same two-decade contract as the dedup/ANN tiers: deterministic
  // generators whose TRUE answer is a pure function of n, so output checks
  // are exact, and rounds stay fixed (pageRank: iters; triangles:
  // one-shot; BFS: tree depth grows only logarithmically) while volume
  // grows 100x — any superlinear join or flooded frontier breaks the
  // runtime fit or the exact sum first.

  test("q48 pageRank: 100x graph => exact rank mass and ≲linear runtime") {
    // disconnected 8-node chains: rank values repeat per block, so total
    // rank mass is exactly (n/8) x the one-block reference sum
    def nodes(n: Long): DataFrame = spark.range(n).select($"id".as("k"))
    def edges(n: Long): DataFrame = spark.range(n).filter($"id" % 8 =!= 7)
      .select($"id".as("src"), ($"id" + 1).as("dst"), lit(1L).as("w"))
    def run(n: Long)(unused: DataFrame): Long =
      graft.operators.EventQueries.pageRank(nodes(n), edges(n), iters = 5)
        .agg(sum($"r")).head().getLong(0)
    val blockSum = graft.operators.EventQueries.pageRank(nodes(8), edges(8), iters = 5)
      .agg(sum($"r")).head().getLong(0)
    assert100x("q48", df => run(df.count())(df),
      spark.range(4000).toDF("n"), spark.range(400000).toDF("n"),
      blockSum * 500L, blockSum * 50000L)
  }

  test("q54 triangles: 100x graph => exact triangle mass and ≲linear runtime") {
    // disconnected 4-node motifs (one triangle + a pendant edge): per-node
    // counts sum to exactly 3 per block; rows are exactly 4 per block
    def edges(blocks: Long): DataFrame = spark.range(blocks).as[Long]
      .flatMap { b =>
        val a = 4 * b
        Seq((a, a + 1), (a, a + 2), (a + 1, a + 2), (a + 2, a + 3))
      }.toDF("u", "v")
    def run(df: DataFrame): Long = {
      val t = graft.operators.EventQueries.triangleCounts(df)
      val agg = t.agg(count(lit(1)), sum($"n_tri")).head()
      agg.getLong(0) * 1000000L + agg.getLong(1) // pack rows + mass
    }
    assert100x("q54", run, edges(1000), edges(100000),
      4000L * 1000000L + 3000L, 400000L * 1000000L + 300000L)
  }

  test("q55 BFS: 100x tree => exact level mass and ≲linear runtime") {
    // complete-ish binary tree rooted at 1: every node is reachable with
    // lvl = floor(log2(id)), so the level sum is a pure function of n and
    // the round count grows only with depth (12 -> 18), not volume
    def nodes(n: Long): DataFrame = spark.range(1, n + 1).select($"id".as("k"))
    def edges(n: Long): DataFrame = spark.range(1, n + 1).as[Long]
      .flatMap(i => Seq(2 * i, 2 * i + 1).filter(_ <= n).map(c => (i, c)))
      .toDF("src", "dst")
    def levelMass(n: Long): Long = {
      var s = 0L; var i = 1L
      while (i <= n) { s += 63 - java.lang.Long.numberOfLeadingZeros(i); i += 1 }
      s
    }
    def run(n: Long): Long =
      graft.operators.EventQueries.bfsLevels(nodes(n), edges(n), source = 1L)
        .agg(sum($"lvl")).head().getLong(0)
    assert100x("q55", df => run(df.count()),
      spark.range(4000).toDF("n"), spark.range(400000).toDF("n"),
      levelMass(4000), levelMass(400000))
  }
}
