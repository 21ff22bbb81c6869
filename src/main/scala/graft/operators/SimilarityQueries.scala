package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{TextFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2.2 LLM ops).
  *
  * Scale design: brute-force is broadcast(queries) × corpus — embarrassingly
  * parallel, no shuffle of the corpus, the right baseline even at 100 TB for
  * small query sets. The sign-LSH variant buckets the corpus once (16-bit
  * bucket = 16 hyperplane signs) and only scores candidates in matching /
  * adjacent-hamming buckets — the classic recall/throughput trade.
  */
object SimilarityQueries {

  private val Dim = 64
  // MMR: candidate depth per query and the number of greedy diverse picks.
  // Integer score = 7*rel - 3*max_sim (lambda=0.7 scaled by 10).
  private val MmrCandDepth = 20
  private val MmrK = 5
  // 8 planes + hamming<=3 expansion: ~36% of the corpus scored per query on
  // uniform data (vs 100% brute force) at ~0.5 recall@10 — tuned for the
  // weak-signal random embeddings in the fixture; denser real-world
  // neighborhoods get better recall at the same setting.
  private val NumPlanes = 8

  // IVF: constant-size codebook — k centroids REGARDLESS of corpus size, so
  // the driver collect is O(k) and per-vector assignment is O(k) at any
  // scale. nprobe=16 of 64 cells => ~25% of the corpus scored per query on
  // the uniform fixture (tight real-world clusters need far fewer probes).
  private[graft] val IvfK = 64
  private val IvfProbes = 16
  // 2^64/phi (Fibonacci hashing). Odd => multiplication mod 2^64 is a
  // bijection on ids: no ties, selection spread uniformly over the corpus.
  private val IvfHashMult = 0x9E3779B97F4A7C15L
  private val IvfHashMultUnsigned = java.lang.Long.toUnsignedString(IvfHashMult)

  // BM25 (s10): literal query set over the documents vocabulary ("dup" is
  // the one rare term — df ~ 5% — so idf actually moves the ranking).
  // MUST be declared above `val all` (object init is sequential).
  private val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("hash", "join", "dup"),
    2L -> Seq("window", "agg", "stream"),
    3L -> Seq("vector", "scan", "order"))
  private val Bm25Terms: Seq[(Long, String)] =
    Bm25Queries.flatMap { case (q, ts) => ts.map(q -> _) }

  // s15 proximity queries: (qid, term_a, term_b) pairs of common fixture
  // terms, matched when they co-occur within ProxWindow token positions.
  // MUST be declared above `val all` (object init is sequential).
  private val ProxQueries: Seq[(Long, String, String)] =
    Seq((1L, "hash", "join"), (2L, "merge", "join"), (3L, "scan", "filter"))
  private val ProxWindow = 5
  private val ProxQueriesSqlValues: String =
    ProxQueries.map { case (q, a, b) => s"($q, '$a', '$b')" }.mkString(", ")

  // s20 hybrid fusion: each side contributes its top FuseR ranks; RRF
  // contribution = RrfScale // (RrfK + rank), the standard K=60 smoothing
  // in integer micro-units (distinct per rank <= FuseR, so fused ties only
  // arise across docs and break on doc_id). MUST be declared above
  // `val all` (object init is sequential).
  private val FuseR = 20
  private val RrfK = 60
  private val RrfScale = 1000000L
  // s21 impact-ordered postings: each term's list pruned to its m
  // highest-tf (tie: lowest doc_id) entries at index-build time. MUST be
  // declared above `val all` (object init is sequential).
  private[graft] val ImpactPostings = 32

  /** The BM25 per-(term, doc) contribution in exact integer arithmetic,
    * written once and rendered for either engine's integer-division
    * operator (Spark `div`, DuckDB `//` — identical on the all-positive
    * operands here). Expects columns tf, df, dl, n_docs, t_total in scope.
    * Milli-scaled: rational idf * tf-saturation (k1 = 6/5, b = 3/4 with
    * the rationals cleared — see the s10 comment). */
  private def bm25Contrib(idiv: String): String =
    s"((1000 * (n_docs - df + 1)) $idiv (df + 1)) * " +
      s"((2200000 * tf) $idiv (1000 * tf + 300 + " +
      s"(9 * ((1000000 * dl) $idiv ((1000 * t_total) $idiv n_docs))) $idiv 10))"
  private val Bm25ContribExpr = bm25Contrib("div")

  // PQ: 8 subspaces x 8 dims, 16 codewords each (4-bit codes). MUST be
  // declared above `val all` — oracle strings interpolate these eagerly
  // during Seq construction (object init is sequential).
  private[graft] val PqM = 8            // subspaces
  private[graft] val PqSubDim = Dim / PqM
  private[graft] val PqK = 16           // codewords per subspace (4 bits)

  /** The codebook: the IvfK corpus vectors whose unsigned
    * (vec_id * IvfHashMult) mod 2^64 is smallest — a deterministic
    * hash-sample both engines can compute (Spark: signed order of
    * h ^ Long.MinValue == unsigned order of h; DuckDB: HUGEINT product mod
    * 2^64 — identical because vec_ids are non-negative). Distributed
    * top-k (TakeOrdered) then an O(k) collect; norms precomputed once.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // a 3-vector corpus: all 3 survive the IvfK cap, sorted by vec_id,
    * // each with its precomputed L2 norm
    * val e = Seq((1L, Array(3f, 4f)), (2L, Array(1f, 0f)), (3L, Array(0f, 2f)))
    *   .toDF("vec_id", "embedding")
    * ivfCentroids(spark, e).map(_._1).toSeq == Seq(1L, 2L, 3L)
    * ivfCentroids(spark, e).head._3 == 5.0 // norm of (3,4)
    * }}}
    */
  private[graft] def ivfCentroids(
      s: SparkSession, e: DataFrame): Array[(Long, Array[Double], Double)] = {
    import s.implicits._
    e.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .map { case (id, emb) => (id, emb, (id * IvfHashMult) ^ Long.MinValue) }
      .toDF("vec_id", "embedding", "h")
      .orderBy($"h")
      .limit(IvfK)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
      .map { case (id, emb) =>
        val a = emb.map(_.toDouble)
        var n = 0.0; var i = 0
        while (i < a.length) { n += a(i) * a(i); i += 1 }
        (id, a, math.sqrt(n))
      }
  }

  /** Assignment kernel: one narrow pass computes each vector's `n` best
    * cells (integer-milli cosine, ties to the lower centroid id —
    * bit-identical to the oracle's window ranking over the same set). */
  private def assignCells(
      s: SparkSession, vecs: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Double], Double)]],
      n: Int): DataFrame = {
    import s.implicits._
    vecs.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cents = bc.value
        it.map { case (id, emb) =>
          val a = emb.map(_.toDouble)
          var na = 0.0; var i = 0
          while (i < a.length) { na += a(i) * a(i); i += 1 }
          val normA = math.sqrt(na)
          val topId = Array.fill(n)(-1L)
          val topCs = Array.fill(n)(Long.MinValue)
          cents.foreach { case (cid, c, normC) =>
            var dot = 0.0; var j = 0
            while (j < a.length) { dot += a(j) * c(j); j += 1 }
            val cs = math.floor(dot * 1000.0 / (normA * normC)).toLong
            var k = 0
            var placed = false
            while (k < n && !placed) {
              if (cs > topCs(k) || (cs == topCs(k) && (topId(k) < 0 || cid < topId(k)))) {
                var m = n - 1
                while (m > k) { topCs(m) = topCs(m - 1); topId(m) = topId(m - 1); m -= 1 }
                topCs(k) = cs; topId(k) = cid
                placed = true
              }
              k += 1
            }
          }
          (id, emb, topId.filter(_ >= 0).toSeq)
        }
      }.toDF("vec_id", "embedding", "cells")
  }

  /** Parameterized IVF-flat search (the s03 pipeline as a library call):
    * constant-size hash-sampled codebook (IvfK centroids whatever the
    * corpus size), one narrow assignment pass over the corpus (O(N*k)),
    * probe the queries' nprobe best cells, exact re-rank inside the
    * probed cells. Corpus/queries are any frames with (vec_id,
    * embedding); the broadcast is O(k), never corpus-sized.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * def v(hot: Int) = Array.tabulate(64)(i => if (i == hot) 1f else 0f)
    * val corpus = Seq((1L, v(0)), (2L, v(1)), (3L, v(2))).toDF("vec_id", "embedding")
    * val queries = Seq((100L, v(0))).toDF("vec_id", "embedding")
    * ivfSearch(spark, corpus, queries, probes = 3, topK = 1)
    *   // (100, 1, 1, ~1000): the exact match wins rank 1
    * }}}
    */
  def ivfSearch(s: SparkSession, corpus: DataFrame, queries: DataFrame,
      probes: Int = IvfProbes, topK: Int = 10): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(ivfCentroids(s, corpus))
    val cells = assignCells(s, corpus, bc, 1)
      .select($"vec_id", $"embedding", element_at($"cells", 1).as("cell"))
    val probed = assignCells(s, queries, bc, probes)
      .select($"vec_id".as("query_id"), $"embedding".as("q"),
        explode($"cells").as("cell"))
    val wRank = Window.partitionBy($"query_id").orderBy($"cos_milli".desc, $"vec_id")
    cells.join(broadcast(probed), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        VectorFns.cosineMilli($"q", $"embedding").as("cos_milli"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter($"rank" <= topK)
      .select($"query_id", $"rank", $"vec_id", $"cos_milli")
      .orderBy($"query_id", $"rank")
  }

  /** Composed retrieval-index build (s19) — the t38 pattern for the
    * similarity family: admit canonical quality-gated docs (t05's gate),
    * join their embeddings, assign each admitted doc to its IVF cell
    * (s03's hash-sampled codebook contract), and pack each cell's docs
    * into [[TextQueries.PackBudget]]-token context windows (t08's integer
    * cumsum packer, partitioned by (cell, poly-hash shard) so no cell ever
    * serializes through one task). Output: per (cell, shard, chunk) the doc
    * count and exact token count — the shard manifest a retrieval corpus
    * build hands to the indexer.
    *
    * Scale shape: admission is one narrow projection + one hash agg; the
    * codebook broadcast is O(64); assignment is one mapPartitions pass;
    * the only corpus-to-corpus exchange is the doc_id equi-join of admitted
    * docs to cells; packing cumsums run per (cell, shard). Nothing is ever
    * all-pairs or globally ordered.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * def v(hot: Int) = Array.tabulate(4)(i => if (i == hot) 1f else 0f)
    * val docs = Seq.tabulate(3)(i =>
    *   (i + 1L, (1 to 21).map(t => s"d${i}w$t").mkString(" ")))
    *   .toDF("doc_id", "text")
    * val emb = Seq((1L, v(0)), (2L, v(1)), (3L, v(2))).toDF("vec_id", "embedding")
    * // 3 orthogonal vectors -> 3 singleton cells, each doc packs alone
    * indexBuild(spark, docs, emb).select($"n_docs", $"n_tokens")
    *   .as[(Long, Long)].collect().toSeq == Seq((1L, 21L), (1L, 21L), (1L, 21L))
    * }}}
    */
  def indexBuild(s: SparkSession, docs: DataFrame, emb: DataFrame): DataFrame = {
    import s.implicits._
    val scored = TextQueries.admissionFeatures(docs)
    val canon = scored.groupBy($"content_key").agg(min($"doc_id").as("doc_id"))
    val admitted = scored.join(canon, Seq("content_key", "doc_id"))
      .filter(TextQueries.admissionGate)
      .select($"doc_id", $"n_tokens".as("n"))
    val bc = s.sparkContext.broadcast(ivfCentroids(s, emb))
    val cells = assignCells(s, emb, bc, 1)
      .select($"vec_id".as("doc_id"), element_at($"cells", 1).as("cell"))
    val b = lit(TextQueries.PackBudget)
    val w = Window.partitionBy($"cell", $"shard").orderBy($"doc_id")
    admitted.join(cells, Seq("doc_id"))
      .withColumn("shard", TextQueries.packShardCol)
      .withColumn("fin", sum($"n").over(w))
      .withColumn("start", $"fin" - $"n")
      .withColumn("c0", floor($"start" / b).cast("long"))
      .withColumn("c1", floor(($"fin" - 1) / b).cast("long"))
      .select($"cell", $"shard", $"start", $"fin",
        explode(sequence($"c0", $"c1")).as("chunk"))
      .groupBy($"cell", $"shard", $"chunk")
      .agg(count(lit(1)).as("n_docs"),
        sum(least(($"chunk" + 1) * b, $"fin") - greatest($"chunk" * b, $"start"))
          .as("n_tokens"))
      .orderBy($"cell", $"shard", $"chunk")
  }

  /** DuckDB literal for one hyperplane: Double.toString is shortest
    * round-trip, so the oracle parses back the identical IEEE doubles and
    * list_dot_product reproduces the JVM's sequential accumulation bit for
    * bit — which is what makes the LSH bucket assignment (sign of the dot)
    * and therefore the whole approximate result set oracle-checkable. */
  /** DuckDB list literal of one hyperplane row — the seam every
    * literal-plane oracle (d06/d14/s02/s09/s22) replays the fixed-seed
    * geometry through.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * planeLit(Array(1.0, -0.5)) == "[1.0,-0.5]"
    * }}}
    */
  private[graft] def planeLit(row: Array[Double]): String =
    row.map(_.toString).mkString("[", ",", "]")

  // ----- IVF with a LEARNED codebook: distributed Lloyd's k-means ----------
  // s03's hash-sampled codebook is the bootstrap; production IVF learns the
  // codebook with k-means. Everything runs in INTEGER-MILLI space
  // (component -> floor(x*1000)): integer sums are associative, so the
  // centroid update is partitioning-independent, and squared-L2 distances
  // are exact integers both engines compare identically — which makes a
  // LEARNED quantizer fully DuckDB-oracle-checkable, fixed iteration count
  // and all. (Float k-means would hash-mismatch: parallel fp sums are
  // order-dependent.)
  private[graft] val KmK = 16
  private val KmIters = 3
  private val KmProbes = 4

  // two-stage retrieval: 64 -> 16-dim fixed random projection, exact
  // re-rank of the coarse top-50
  private val ProjDim = 16
  private val RerankDepth = 50

  private def milliOf(emb: Array[Float]): Array[Long] = {
    val m = new Array[Long](emb.length)
    var i = 0
    while (i < m.length) { m(i) = math.floor(emb(i).toDouble * 1000.0).toLong; i += 1 }
    m
  }

  /** The `n` nearest cells by exact integer squared-L2, ties to the lower
    * cell index — the same ordering the oracle's window rank applies. */
  private def nearestCells(cb: Array[Array[Long]], m: Array[Long], n: Int): Array[Int] = {
    val topIdx = Array.fill(n)(-1)
    val topD = Array.fill(n)(Long.MaxValue)
    var c = 0
    while (c < cb.length) {
      val cv = cb(c)
      var d = 0L; var j = 0
      while (j < m.length) { val x = m(j) - cv(j); d += x * x; j += 1 }
      var k = 0
      var placed = false
      while (k < n && !placed) {
        if (d < topD(k)) { // strict: equal distance keeps the earlier (lower) cell
          var t = n - 1
          while (t > k) { topD(t) = topD(t - 1); topIdx(t) = topIdx(t - 1); t -= 1 }
          topD(k) = d; topIdx(k) = c
          placed = true
        }
        k += 1
      }
      c += 1
    }
    topIdx.filter(_ >= 0)
  }

  /** Lloyd's k-means over the integer-milli vectors, distributed: each
    * iteration is one narrow assignment pass (broadcast codebook, O(n*k))
    * plus one map-side-combined hash agg of per-component sums; only the
    * k*dim aggregated sums ever reach the driver. Seeds are the s03
    * hash-sample (deterministic); empty cells keep their previous
    * centroid; component update is floorDiv(sum, count) — exact integers
    * end to end, so the learned codebook is bit-identical on every run,
    * partitioning, and engine.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // two tight groups on the axes -> k=2 integer-milli centroids; exact
    * // determinism: a second run returns the bit-identical codebook
    * val e = Seq((1L, Array(1f, 0f)), (2L, Array(0.9f, 0f)),
    *   (3L, Array(0f, 1f)), (4L, Array(0f, 0.9f))).toDF("vec_id", "embedding")
    * val cb = kmeansCodebook(spark, e, k = 2, iters = 3)
    * cb.length == 2 && cb.map(_.toSeq) == kmeansCodebook(spark, e, 2, 3).map(_.toSeq)
    * }}}
    */
  private[graft] def kmeansCodebook(
      s: SparkSession, e: DataFrame,
      k: Int = KmK, iters: Int = KmIters): Array[Array[Long]] = {
    import s.implicits._
    // read by the seed pick and by every round
    val mv = OpCache.persistRotating("kmeansCodebook.milli",
      e.select($"vec_id", $"embedding").as[(Long, Array[Float])]
        .map { case (id, emb) => (id, milliOf(emb)) }
        .toDF("vec_id", "m")).as[(Long, Array[Long])]
    var cb: Array[Array[Long]] = mv
      .map { case (id, m) => (id, m, (id * IvfHashMult) ^ Long.MinValue) }
      .toDF("vec_id", "m", "h")
      .orderBy($"h").limit(k)
      .select($"vec_id", $"m").as[(Long, Array[Long])]
      .collect().sortBy(_._1).map(_._2)
    for (_ <- 0 until iters) {
      val bc = s.sparkContext.broadcast(cb)
      val sums = mv.mapPartitions { it =>
        val code = bc.value
        it.flatMap { case (_, m) =>
          val cell = nearestCells(code, m, 1)(0)
          m.iterator.zipWithIndex.map { case (v, j) => (cell, j, v) }
        }
      }.toDF("cell", "j", "v")
        .groupBy($"cell", $"j")
        .agg(sum($"v").as("sv"), count(lit(1)).as("n"))
        .as[(Int, Int, Long, Long)].collect()
      val next = cb.map(_.clone()) // empty cells keep their previous centroid
      sums.foreach { case (c, j, sv, n) => next(c)(j) = Math.floorDiv(sv, n) }
      cb = next
    }
    OpCache.release(s, "kmeansCodebook.milli")
    cb
  }

  /** Assignment under the learned codebook: each vector's `n` nearest
    * cells (integer squared-L2, ties to the lower cell index). */
  private def kmAssign(
      s: SparkSession, vecs: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Long]]],
      n: Int): DataFrame = {
    import s.implicits._
    vecs.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val code = bc.value
        it.map { case (id, emb) =>
          (id, emb, nearestCells(code, milliOf(emb), n).toSeq)
        }
      }.toDF("vec_id", "embedding", "cells")
  }

  /** The s04 oracle: the 3 Lloyd iterations unrolled as CTE layers (the
    * iteration count is a fixed hyperparameter, so unrolling is faithful).
    * Distances use the dot-product identity |a-b|^2 = aa - 2ab + bb over
    * BIGINT lists (exact below 2^53 even through DuckDB's DOUBLE return);
    * centroid components update as floor(sum/count) ≡ Math.floorDiv
    * (DuckDB's // truncates toward zero — NOT used). */
  private def s04OracleSql: String = {
    def iter(t: Int): String = s"""
        a$t AS (
          SELECT vec_id, m, cell FROM (
            SELECT m.vec_id, m.m, c.cell,
                   row_number() OVER (PARTITION BY m.vec_id ORDER BY
                     list_dot_product(m.m, m.m) - 2*list_dot_product(m.m, c.c)
                       + list_dot_product(c.c, c.c), c.cell) AS rk
            FROM mt m CROSS JOIN c${t - 1} c) WHERE rk = 1),
        u$t AS (
          SELECT cell, r.j AS j,
                 CAST(floor(sum(m[r.j])::DOUBLE / count(*)) AS BIGINT) AS v
          FROM a$t CROSS JOIN range(1, ${Dim + 1}) r(j)
          GROUP BY cell, r.j),
        c$t AS (
          SELECT p.cell, coalesce(u.c, p.c) AS c
          FROM c${t - 1} p LEFT JOIN
            (SELECT cell, list(v ORDER BY j) AS c FROM u$t GROUP BY cell) u
          USING (cell))"""
    s"""
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        mt AS (SELECT vec_id,
                      list_transform(e, x -> CAST(floor(x * 1000) AS BIGINT)) AS m
               FROM t),
        c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, m AS c
          FROM (SELECT vec_id, m FROM mt
                ORDER BY (CAST(vec_id AS HUGEINT) * $IvfHashMultUnsigned)
                         % 18446744073709551616
                LIMIT $KmK)),
        ${(1 to KmIters).map(iter).mkString(",")},
        asg AS (
          SELECT vec_id, cell, rk FROM (
            SELECT m.vec_id, c.cell,
                   row_number() OVER (PARTITION BY m.vec_id ORDER BY
                     list_dot_product(m.m, m.m) - 2*list_dot_product(m.m, c.c)
                       + list_dot_product(c.c, c.c), c.cell) AS rk
            FROM mt m CROSS JOIN c$KmIters c)),
        cells AS (
          SELECT a.vec_id, t.e, a.cell FROM asg a JOIN t USING (vec_id)
          WHERE a.rk = 1),
        probes AS (
          SELECT a.vec_id AS query_id, t.e AS qe, a.cell
          FROM asg a JOIN t USING (vec_id)
          WHERE a.vec_id < 5 AND a.rk <= $KmProbes),
        cand AS (
          SELECT p.query_id, cl.vec_id,
                 CAST(floor(list_dot_product(p.qe, cl.e) * 1000.0 /
                   (sqrt(list_dot_product(p.qe, p.qe)) * sqrt(list_dot_product(cl.e, cl.e)))) AS BIGINT) AS cos_milli
          FROM probes p JOIN cells cl USING (cell)
          WHERE cl.vec_id != p.query_id),
        final AS (
          SELECT query_id, vec_id, cos_milli,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_milli DESC, vec_id) AS BIGINT) AS rank
          FROM cand)
        SELECT query_id, rank, vec_id, cos_milli
        FROM final WHERE rank <= 10
        ORDER BY query_id, rank"""
  }

  val all: Seq[QueryDef] = Seq(

    // ----- brute-force cosine top-k (exact; the correctness baseline) -------
    QueryDef(
      "s01_ann_bruteforce_topk",
      (s, d) => bruteTopK(s, d),
      oracle = Some(s01OracleSql)),

    // ----- sign-LSH bucketed ANN (scale path; recall checked in tests) ------
    // The query side explodes its bucket *neighborhood* (every bucket within
    // hamming<=3 — C(8,0..3) = 93 masks) so candidate selection is a plain
    // equi-join on bucket: the corpus is hash-partitioned by bucket and only
    // matching buckets are ever touched. The alternative — a
    // bit_count(xor)<=3 *predicate* — plans as a nested-loop scan of every
    // corpus row per query, which cuts scoring but not scanning and dies at
    // 100 TB. Same candidate set either way (x in neighborhood(q) iff
    // hamming(x,q)<=3), so recall is unchanged.
    QueryDef(
      "s02_ann_lsh_bucketed",
      (s, d) => lshTopK(s, d),
      oracle = Some(s02OracleSql)),

    // ----- IVF-flat ANN: coarse quantizer + probed cells --------------------
    // The third ANN operating point (after brute force and sign-LSH): a
    // coarse quantizer partitions the corpus into cells, each vector is
    // assigned to its best cell ONCE (cells table = the inverted file,
    // built with one broadcast of the tiny centroid set), and a query
    // scores only the nprobe most promising cells — corpus work per query
    // drops from O(N) to O(N * nprobe / k). The codebook is CONSTANT-size
    // (k = 64 regardless of corpus rows): centroids are a deterministic
    // hash-sample — the k vectors with the smallest unsigned
    // (vec_id * 2^64/phi) mod 2^64, a bijection on ids so selection is
    // unbiased and tie-free, and reproducible in DuckDB with HUGEINT
    // arithmetic — so the collect is O(k) and assignment O(N*k) no matter
    // how big the corpus gets (production would run mini-batch k-means and
    // persist the centroid table; the plumbing is identical). Ties broken
    // by centroid id everywhere so both engines agree bit for bit.
    QueryDef(
      "s03_ann_ivf",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
        ivfSearch(s, e, e.filter($"vec_id" < 5))
      },
      oracle = Some(s"""
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        c AS (SELECT vec_id AS cent_id, e AS ce FROM t
              ORDER BY (CAST(vec_id AS HUGEINT) * $IvfHashMultUnsigned)
                       % 18446744073709551616
              LIMIT $IvfK),
        scored AS (
          SELECT t.vec_id, t.e, c.cent_id,
                 CAST(floor(list_dot_product(t.e, c.ce) * 1000.0 /
                   (sqrt(list_dot_product(t.e, t.e)) * sqrt(list_dot_product(c.ce, c.ce)))) AS BIGINT) AS cs
          FROM t CROSS JOIN c),
        rk AS (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rk
          FROM scored),
        cells AS (SELECT vec_id, e, cent_id AS cell FROM rk WHERE rk = 1),
        probes AS (SELECT vec_id AS query_id, e AS qe, cent_id AS cell
                   FROM rk WHERE vec_id < 5 AND rk <= $IvfProbes),
        cand AS (
          SELECT p.query_id, cl.vec_id,
                 CAST(floor(list_dot_product(p.qe, cl.e) * 1000.0 /
                   (sqrt(list_dot_product(p.qe, p.qe)) * sqrt(list_dot_product(cl.e, cl.e)))) AS BIGINT) AS cos_milli
          FROM probes p JOIN cells cl USING (cell)
          WHERE cl.vec_id != p.query_id),
        final AS (
          SELECT query_id, vec_id, cos_milli,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_milli DESC, vec_id) AS BIGINT) AS rank
          FROM cand)
        SELECT query_id, rank, vec_id, cos_milli
        FROM final WHERE rank <= 10
        ORDER BY query_id, rank""")),

    // ----- IVF ANN with a LEARNED (k-means) codebook ------------------------
    // The production IVF path s03 bootstraps: the codebook comes from 3
    // distributed Lloyd iterations in integer-milli space (see
    // kmeansCodebook — associative integer sums make the learned centroids
    // partitioning-independent and oracle-exact), then the same inverted-
    // file search: assign once, probe the nprobe nearest cells per query,
    // exact-cosine rank. Same output contract as s01/s02/s03 so the four
    // ANN operating points are directly comparable.
    QueryDef(
      "s04_ann_ivf_kmeans",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
        val bc = s.sparkContext.broadcast(kmeansCodebook(s, e))
        val cells = kmAssign(s, e, bc, 1)
          .select($"vec_id", $"embedding", element_at($"cells", 1).as("cell"))
        val probes = kmAssign(s, e.filter($"vec_id" < 5), bc, KmProbes)
          .select($"vec_id".as("query_id"), $"embedding".as("q"),
            explode($"cells").as("cell"))
        val wRank = Window.partitionBy($"query_id").orderBy($"cos_milli".desc, $"vec_id")
        cells.join(broadcast(probes), Seq("cell"))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id",
            VectorFns.cosineMilli($"q", $"embedding").as("cos_milli"))
          .withColumn("rank", row_number().over(wRank).cast("long"))
          .filter($"rank" <= 10)
          .select($"query_id", $"rank", $"vec_id", $"cos_milli")
          .orderBy($"query_id", $"rank")
      },
      oracle = Some(s04OracleSql)),

    // ----- two-stage retrieval: random-projection coarse + exact re-rank ----
    // The compressed-domain operating point (what PQ/OPQ systems do, with
    // a dense random projection standing in for the codebook): project
    // 64-dim vectors to 16 dims once (4x less memory traffic — at 100 TB
    // the projected table is what stays hot), score EVERY candidate in the
    // cheap projected space, keep the top-50 per query, then re-rank just
    // those with the exact 64-dim cosine. Projection rows are fixed-seed
    // literals, so DuckDB reproduces the whole two-stage result set
    // bit-for-bit (the established literal-plane trick). Broadcast of the
    // constant-size query set; the corpus streams — no corpus shuffle.
    QueryDef(
      "s05_ann_projected_rerank",
      (s, d) => {
        import s.implicits._
        val bc = s.sparkContext.broadcast(VectorFns.hyperplanes(ProjDim, Dim))
        val projRaw = Tables.embeddings(s, d)
          .select($"vec_id", $"embedding").as[(Long, Array[Float])]
          .mapPartitions { it =>
            val ps = bc.value
            it.map { case (id, emb) =>
              val a = emb.map(_.toDouble)
              val p = Array.tabulate(ps.length) { i =>
                val row = ps(i)
                var dot = 0.0; var j = 0
                while (j < a.length) { dot += a(j) * row(j); j += 1 }
                dot
              }
              (id, emb, p)
            }
          }.toDF("vec_id", "embedding", "p")
        val proj = OpCache.persistRotating("s05.proj", projRaw)
        val queries = proj.filter($"vec_id" < 5)
          .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"p".as("qp"))
        val wCoarse = Window.partitionBy($"query_id").orderBy($"cm".desc, $"vec_id")
        val wExact = Window.partitionBy($"query_id").orderBy($"cos_milli".desc, $"vec_id")
        proj.join(broadcast(queries), $"vec_id" =!= $"query_id")
          .withColumn("cm", VectorFns.cosineMilliInterpreted($"qp", $"p"))
          .withColumn("crk", row_number().over(wCoarse))
          .filter($"crk" <= RerankDepth)
          .select($"query_id", $"vec_id",
            VectorFns.cosineMilli($"qe", $"embedding").as("cos_milli"))
          .withColumn("rank", row_number().over(wExact).cast("long"))
          .filter($"rank" <= 10)
          .select($"query_id", $"rank", $"vec_id", $"cos_milli")
          .orderBy($"query_id", $"rank")
      },
      oracle = Some(s05OracleSql)),

    // ----- int8 embedding quantization --------------------------------------
    // The storage side of the similarity stack: symmetric per-vector int8
    // quantization (scale = max |component|, q = round(x*127/scale)) cuts
    // embedding bytes 4x — the standard serving-index compression. Pure
    // per-row arithmetic (native transform/aggregate expressions, no
    // shuffle until the final sort), and every step is elementwise double
    // math both engines execute identically, so the error report —
    // per-vector scale, max and summed reconstruction error — is
    // hash-exact. A real pipeline writes q out as ARRAY<TINYINT>; the
    // error columns are the part worth a correctness contract.
    QueryDef(
      "s06_embedding_quantize_int8",
      (s, d) => {
        import s.implicits._
        // JVM kernel, not transform/zip_with: Catalyst inlines the shared
        // `scale` subexpression into every element lambda (O(d^2) per row
        // — measured 2.7 s vs 0.3 s at sf0.1, the shingles lesson again).
        // Same arithmetic order as the oracle: max is order-independent,
        // the error sum is sequential left-to-right.
        Tables.embeddings(s, d)
          .select($"vec_id", $"embedding").as[(Long, Array[Float])]
          .map { case (id, emb) =>
            val a = emb.map(_.toDouble)
            var sc = 0.0
            a.foreach(x => sc = math.max(sc, math.abs(x)))
            var maxErr = 0.0
            var sumErr = 0.0
            a.foreach { x =>
              val q = math.floor(x * 127.0 / sc + 0.5)
              val err = math.abs(x - q * sc / 127.0)
              maxErr = math.max(maxErr, err)
              sumErr += err
            }
            (id, math.floor(sc * 1000.0).toLong,
              math.floor(maxErr * 1000000.0).toLong,
              math.floor(sumErr * 1000000.0).toLong)
          }
          .toDF("vec_id", "scale_milli", "max_err_micro", "sum_err_micro")
          .orderBy($"vec_id")
      },
      oracle = Some("""
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        s AS (SELECT vec_id, e,
                     list_max(list_transform(e, x -> abs(x))) AS sc
              FROM t),
        q AS (SELECT vec_id, sc,
                     list_transform(list_zip(e, list_transform(e, x -> floor(x * 127.0 / sc + 0.5))),
                       p -> abs(p[1] - p[2] * sc / 127.0)) AS err
              FROM s)
        SELECT vec_id,
               CAST(floor(sc * 1000.0) AS BIGINT) AS scale_milli,
               CAST(floor(list_max(err) * 1000000.0) AS BIGINT) AS max_err_micro,
               CAST(floor(list_reduce(list_prepend(0.0, err), (acc, x) -> acc + x) * 1000000.0) AS BIGINT) AS sum_err_micro
        FROM q
        ORDER BY vec_id""")),

    // ----- MMR diverse top-k (retrieval post-processing) ---------------------
    // Maximal Marginal Relevance: after candidate generation, greedily pick
    // results balancing relevance against similarity to what is already
    // picked — the standard diversity re-ranker for RAG retrieval. Scores
    // stay in INTEGER milli space: score = 7*rel - 3*max_sim (the lambda =
    // 0.7 trade-off scaled by 10), so argmax ties (score desc, vec_id) are
    // engine-exact with no float lambda arithmetic. The MmrK greedy rounds
    // run as a per-query JVM kernel (mapGroups): each query's greedy is
    // independent over its bounded CandDepth candidate list, so the whole
    // stage is ONE job — a tiny shuffle of queries x CandDepth rows after
    // the broadcast candidate generation; the corpus itself is never
    // reshuffled. The oracle unrolls the same integer argmax as CTE rounds
    // with NOT EXISTS anti-joins — pure-integer scores make the two
    // formulations provably identical.
    QueryDef(
      "s07_mmr_diverse_topk",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
        val queries = e.filter($"vec_id" < 5)
          .select($"vec_id".as("query_id"), $"embedding".as("q"))
        val w = Window.partitionBy($"query_id").orderBy($"rel".desc, $"vec_id")
        val k = MmrK
        e.join(broadcast(queries), $"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id", $"embedding",
            VectorFns.cosineMilli($"q", $"embedding").as("rel"))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= MmrCandDepth).drop("rk")
          .as[(Long, Long, Array[Float], Long)]
          .groupByKey(_._1)
          .flatMapGroups { (qid, it) =>
            val cand = it.toArray.sortBy(c => (-c._4, c._2)) // rel desc, vec_id
            val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
            val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
            var r = 1
            while (r <= k && chosen.length < cand.length) {
              var best = -1
              var bestScore = Long.MinValue
              var i = 0
              while (i < cand.length) {
                val c = cand(i)
                if (!chosen.exists(_._1 == c._2)) {
                  val maxSim = if (chosen.isEmpty) 0L
                    else chosen.iterator.map(s => DedupQueries.cosMilliOf(c._3, s._2)).max
                  val score = if (chosen.isEmpty) c._4 * 7 else c._4 * 7 - maxSim * 3
                  // argmax with (score desc, vec_id asc) tie-break: strict
                  // > plus candidates iterated in (rel desc, vec_id) order
                  // is NOT the same order, so compare ids explicitly
                  if (score > bestScore || (score == bestScore && (best < 0 || c._2 < cand(best)._2))) {
                    best = i; bestScore = score
                  }
                }
                i += 1
              }
              val b = cand(best)
              picked += ((qid, r.toLong, b._2, b._4, bestScore))
              chosen += ((b._2, b._3))
              r += 1
            }
            picked.iterator
          }
          .toDF("query_id", "pick_rank", "vec_id", "rel", "score")
          .orderBy($"query_id", $"pick_rank")
      },
      oracle = Some(s07OracleSql)),

    // ----- product-quantization ANN (ADC scan over 8-byte codes) ------------
    // The compression endgame of the ANN stack: each 64-dim vector is cut
    // into 8 subspaces of 8 dims; each subspace quantizes to one of 16
    // codewords (4 bits), so a vector's search footprint is 8 nibbles —
    // 32x smaller than the raw floats. At 100 TB that is the difference
    // between an index that fits executor memory and one that doesn't:
    // the scan touches ONLY the code table; raw vectors are never read at
    // query time. Scoring is the classic ADC (asymmetric distance): per
    // query, precompute a [subspace x codeword] table of exact integer
    // squared-L2 distances (O(M*K*subdim), driver-side over the broadcast
    // constant-size codebook), broadcast it, and each corpus row's
    // approximate distance is 8 table lookups — no arithmetic on vectors
    // at all. Everything runs in integer-milli space (milliOf): encoding
    // argmins, the LUT, and the summed distances are exact BIGINTs, so
    // the full approximate result set is DuckDB-reproducible (codebook =
    // the same smallest-hash seed rows as s03, sliced per subspace).
    QueryDef(
      "s08_ann_pq_adc",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
        val bcCb = s.sparkContext.broadcast(pqCodebook(s, e))
        val codes = e.select($"vec_id", $"embedding").as[(Long, Array[Float])]
          .mapPartitions { it =>
            val cb = bcCb.value
            it.map { case (id, emb) =>
              val m = milliOf(emb)
              (id, Seq.tabulate(PqM) { j =>
                var best = 0; var bd = Long.MaxValue
                var c = 0
                while (c < cb(j).length) {
                  val dist = subD2(m, j * PqSubDim, cb(j)(c))
                  if (dist < bd) { bd = dist; best = c } // strict: tie keeps lower cw
                  c += 1
                }
                best
              })
            }
          }
        // constant-size query set -> driver LUT build is O(nq*M*K*subdim)
        val lut: Array[(Long, Array[Array[Long]])] = e.filter($"vec_id" < 5)
          .select($"vec_id", $"embedding").as[(Long, Array[Float])]
          .collect().sortBy(_._1)
          .map { case (qid, emb) =>
            val m = milliOf(emb)
            (qid, Array.tabulate(PqM)(j => bcCb.value(j).map(subD2(m, j * PqSubDim, _))))
          }
        val bcLut = s.sparkContext.broadcast(lut)
        val w = Window.partitionBy($"query_id").orderBy($"adc_d2", $"vec_id")
        codes.mapPartitions { it =>
          val ts = bcLut.value
          it.flatMap { case (id, cs) =>
            ts.iterator.filter(_._1 != id).map { case (qid, t) =>
              var dist = 0L; var j = 0
              while (j < PqM) { dist += t(j)(cs(j)); j += 1 }
              (qid, id, dist)
            }
          }
        }.toDF("query_id", "vec_id", "adc_d2")
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 10)
          .select($"query_id", $"rank", $"vec_id", $"adc_d2")
          .orderBy($"query_id", $"rank")
      },
      oracle = Some(s08OracleSql)),

    // ----- kNN graph over the whole corpus (graph-clustering input) ---------
    // Every node's top-5 neighbors — the all-nodes generalization of the
    // fixed-query ANN ops, and the input structure semantic clustering /
    // graph-based dedup builds on. Candidates come from d06's banded
    // sign-LSH buckets (shared kernels => identical geometry), so the
    // self-join is an equi-join on (table, bucket): per-node work is
    // bounded by bucket occupancy (the K contract on autoPlanesPerTable),
    // never the corpus — the difference between O(n * occupancy) and the
    // O(n^2) brute-force graph at 100 TB. Exact integer-milli cosine
    // scoring, rank ties to the lower neighbor id.
    QueryDef(
      "s09_knn_graph",
      (s, d) => knnGraph(s, Tables.embeddings(s, d)),
      oracle = Some(s09OracleSql)),

    // ----- BM25 lexical retrieval (inverted-index scoring) ------------------
    // The keyword-search complement to the ANN family: build the postings
    // table (doc, term, tf) once, score a literal query set with BM25
    // (k1 = 1.2, b = 0.75), return top-10 per query. All scoring stays in
    // exact integer arithmetic so both engines agree bit for bit:
    // truncating `div` at three defined points (avgdl, length norm, tf
    // saturation) and a RATIONAL idf (N - df + 1)/(df + 1) instead of the
    // classic log idf — log-free for cross-engine exactness, same
    // monotone-in-df ordering. The tf-saturation term is the standard
    // tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl)) with the rationals cleared:
    // k1 = 6/5, b = 3/4 => 2200*tf / (1000*tf + 300 + 900*dl/avgdl) in
    // milli-units.
    //
    // Scale: postings are the one corpus-scale shuffle (map-side
    // combinable, the same dt table t12 builds); the query-term join is a
    // broadcast of |queries|*|terms| rows, so only the queried terms'
    // postings — sum of df(t), not the corpus — survive into scoring; dl
    // joins on doc_id; corpus stats are a 1-row broadcast. Per-query top-k
    // is a window over that df-bounded candidate set (the s01 contract;
    // hot terms at 100 TB would pre-prune with an impact-ordered index —
    // the classic WAND trade, out of scope).
    QueryDef(
      "s10_bm25_retrieval",
      (s, d) => bm25Search(Tables.documents(s, d), Bm25Queries, k = 10),
      oracle = Some(s10OracleSql)),

    // ----- hybrid retrieval: BM25 + vector fused by reciprocal rank ---------
    // The serving pattern every production retrieval stack converges on:
    // a lexical ranking and a semantic ranking answer the same query
    // INDEPENDENTLY, and reciprocal-rank fusion (RRF, K = 60) merges the
    // two top-R lists — rank-based, so the incomparable score scales
    // (BM25 millis vs cosine millis) never need calibration. Queries here
    // are query-BY-DOCUMENT (docs 0-4, which carry both text and an
    // embedding via the shared id space): the "more like this" shape that
    // retrieval-augmented dedup and recommendation run. The lexical side
    // is s10's exact integer BM25 with the query doc's term set as the
    // query (terms come from a FRAME, never a driver collect); the vector
    // side is s01's exact cosine contract. Fusion itself consumes only
    // the two O(queries x R) ranked lists — at 100 TB each side swaps in
    // its indexed variant (s02/s03, impact-ordered postings) and the
    // fusion plan is unchanged. Docs missing from a side's top-R
    // contribute 0 (reported rank 0): full-outer fuse, never inner — an
    // inner join would silently drop single-modality hits.
    QueryDef(
      "s20_hybrid_rrf",
      (s, d) => {
        val dt = postings(Tables.documents(s, d))
        rrfFuse(lexTopR(dt, dt), vecTopRExact(Tables.embeddings(s, d)))
      },
      oracle = Some(s20OracleSql)),

    // ----- hybrid retrieval over the INDEXED legs (s21) ----------------------
    // Executes the scale claim s20 documents: "each side swaps in its
    // indexed variant and the fusion plan is unchanged". The lexical side
    // scores from an IMPACT-ORDERED postings index — each term's list
    // pruned to its ImpactPostings highest-tf entries (the classic
    // WAND-family trade: per-term serving cost O(m), not O(df); corpus
    // stats dl/df/avgdl stay exact from the full table, only candidate
    // generation is pruned). The vector side is s02's sign-LSH bucketed
    // ANN (equi-join on bucket neighborhoods — never a corpus NLJ). The
    // fusion is LITERALLY the same code path as s20 (rrfFuse);
    // SimilaritySpec asserts the fused spine of both optimized plans is
    // node-identical, and grades s21 against s20's exact fusion with the
    // s17 recall harness. At 100 TB: the impact index bounds per-query
    // lexical work by m per term, the LSH buckets bound vector work by
    // bucket occupancy — this is the plan that serves, with s20 as its
    // recall ground truth.
    QueryDef(
      "s21_hybrid_rrf_indexed",
      (s, d) => {
        val dt = postings(Tables.documents(s, d))
        rrfFuse(lexTopR(dt, impactPrunedPostings(dt)),
          vecTopRLsh(Tables.embeddings(s, d)))
      },
      oracle = Some(s21OracleSql)),

    // ----- semantic clusters: connected components over the mutual-kNN graph
    // The SemDeDup-family capstone: label every vector with a semantic
    // cluster id by running connected components over the MUTUAL kNN graph
    // (keep edge a—b only if b is in a's top-k AND a is in b's top-k — the
    // standard symmetrization that stops hub nodes from gluing unrelated
    // neighborhoods into one giant component). Composes two proven scale
    // paths end to end: s09's bucket-bounded kNN edges (per-node work =
    // bucket occupancy, never the corpus) feed d08's pointer-jumping
    // label propagation (O(log diameter) rounds, loud on non-convergence).
    // The mutual filter is a self-semi-join on the reversed edge — an
    // equi-join on both key columns, linear in edges.
    QueryDef(
      "s11_semantic_clusters",
      (s, d) => semanticClusters(s, Tables.embeddings(s, d)),
      oracle = Some(s11OracleSql)),

    // ----- cross-lingual mirror matrix (d19) ---------------------------------
    // s11's semantic clusters x t01's predicted language labels: a cluster
    // whose members span languages is a TRANSLATED MIRROR — the
    // multilingual-dedup report every multilingual corpus build publishes
    // (semantic dedup sees through translation where every lexical
    // method d01-d13 is blind: a document and its translation share an
    // embedding neighborhood but no shingles). Composes two gated
    // operators in one O(clusters x langs) aggregate; see
    // crossLingualMirrors for the planted translated-pair fixture.
    QueryDef(
      "d19_crosslingual_mirrors",
      (s, d) => {
        import s.implicits._
        // the corpus's language labels = its language-ID stage's output
        // (the synthetic fixture's text is one shared vocabulary, so
        // re-predicting here would collapse every label to 'en' and the
        // report would be vacuously empty — the planted-fixture test
        // drives the TextFns.langId composition instead)
        crossLingualMirrors(s, Tables.embeddings(s, d),
          Tables.documents(s, d).select($"doc_id", $"lang"))
      },
      oracle = Some(s"""
        WITH cl AS ($s11OracleSql),
        lang AS (SELECT doc_id, lang FROM documents),
        byl AS (
          SELECT cl.cluster_id, lang.lang, CAST(count(*) AS BIGINT) AS n
          FROM cl JOIN lang ON cl.vec_id = lang.doc_id
          GROUP BY 1, 2)
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(a.n + b.n) AS BIGINT) AS n_docs
        FROM byl a JOIN byl b ON a.cluster_id = b.cluster_id AND a.lang < b.lang
        GROUP BY 1, 2
        ORDER BY lang_a, lang_b""")),

    // ----- semantic eval decontamination (s22) -------------------------------
    // The embedding-space face of t44: a paraphrased benchmark item shares
    // no 8-token shingle with its source (t44 is blind to it) but still
    // lands in the heldout item's embedding neighborhood. Train docs whose
    // embedding clears the cosine bar against ANY heldout embedding are
    // dropped; same split, same per-lang report shape as t44, so the two
    // gates compose into one scrub-economics view. Candidates from a
    // BIPARTITE sign-LSH bucket join (train rows vs heldout rows on
    // (table, bucket), first-shared-table exactly-once) — K follows the
    // heldout count, so collisions per train doc stay bounded at any
    // corpus size. See semanticDecontaminateReport.
    QueryDef(
      "s22_semantic_decontaminate",
      (s, d) => semanticDecontaminateReport(s,
        Tables.documents(s, d), Tables.embeddings(s, d)),
      oracle = Some(s22OracleSql)),

    // ----- decontamination APPLY step (s23) -----------------------------------
    // The materialized end state of the eval-integrity story (d10's
    // capstone pattern): the cleaned training corpus after BOTH gates —
    // t44's lexical shingle rule and s22's semantic cosine rule — have
    // dropped their casualties. One row per kept train doc; the frame a
    // pipeline feeds to packing after eval hygiene. Oracle composes the
    // two gates' existing CTE chains in one statement, so the union +
    // anti-join is hash-verified end to end.
    QueryDef(
      "s23_decontaminated_corpus",
      (s, d) => decontaminatedCorpus(s,
        Tables.documents(s, d), Tables.embeddings(s, d)),
      oracle = Some(s23OracleSql)),

    // ----- contrastive hard negatives (embedding-training data mining) ------
    // Contrastive/embedding training needs, per anchor, negatives that are
    // CLOSE but not duplicates — random negatives are trivially separable
    // and teach nothing. Hard negative = a top-cosine kNN neighbor that is
    // not a semantic near-duplicate: rank s09's bucket-bounded kNN edges
    // per anchor, remove the d06 positive pairs, keep the top-3 survivors.
    // The general form anti-joins an arbitrary positive set (any dedup
    // decision, a curated blocklist); the default positives are d06's
    // pairs, and because s09 and d06 share bucket geometry, a kNN edge is
    // a d06 positive iff its exact cosine clears d06's bar — so the
    // default path folds the anti-join into a filter on the already-
    // computed cosine, ONE bucket+cosine pass over the corpus
    // (SimilaritySpec asserts the fold equals the real anti-join; the
    // oracle replays the general NOT EXISTS form against the full d06
    // pair CTE). Scale: everything downstream of the kNN graph is linear
    // in its edges — k rows per anchor, never the corpus.
    QueryDef(
      "s12_hard_negatives",
      (s, d) => hardNegatives(s, Tables.embeddings(s, d)),
      oracle = Some(s12OracleSql)),

    // ----- dimension-truncation recall report (matryoshka evaluation) -------
    // The decision tool behind "can we serve 16 of the 64 dims?": exact
    // top-10 neighbors under full-dimension cosine vs under the 16-dim
    // prefix, per query, with recall@10 as the overlap. Both rankings are
    // integer-milli cosines with explicit tie order, so the report is
    // bit-exact cross-engine. Cost class = s01 (brute force over the
    // broadcast query set — the evaluation anchor, not the serving path;
    // the serving path is s02/s03/s08).
    QueryDef(
      "s14_trunc_recall",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
        val queries = e.filter($"vec_id" < 5)
          .select($"vec_id".as("query_id"), $"embedding".as("q"))
        def top10(scoreCol: org.apache.spark.sql.Column, name: String) = {
          val w = Window.partitionBy($"query_id").orderBy(col(name).desc, $"vec_id")
          e.crossJoin(broadcast(queries))
            .filter($"vec_id" =!= $"query_id")
            .select($"query_id", $"vec_id", scoreCol.as(name))
            .withColumn("rank", row_number().over(w))
            .filter($"rank" <= 10)
            .select($"query_id", $"vec_id")
        }
        val full = top10(VectorFns.cosineMilli($"q", $"embedding"), "cm_full")
        val trunc = top10(VectorFns.cosineMilli(
          slice($"q", 1, 16), slice($"embedding", 1, 16)), "cm_trunc")
        full.join(trunc, Seq("query_id", "vec_id"), "left_semi")
          .groupBy($"query_id").agg(count(lit(1)).as("n_common"))
          .join(queries.select($"query_id"), Seq("query_id"), "right")
          .select($"query_id",
            coalesce($"n_common", lit(0L)).as("n_common"),
            (coalesce($"n_common", lit(0L)) * 100L).as("recall_centi"))
          .orderBy($"query_id")
      },
      oracle = Some("""
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        q AS (SELECT vec_id AS query_id, e AS qe FROM t WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, t.vec_id,
                 CAST(floor(list_dot_product(q.qe, t.e) * 1000.0 /
                   (sqrt(list_dot_product(q.qe, q.qe)) *
                    sqrt(list_dot_product(t.e, t.e)))) AS BIGINT) AS cm_full,
                 CAST(floor(list_dot_product(q.qe[1:16], t.e[1:16]) * 1000.0 /
                   (sqrt(list_dot_product(q.qe[1:16], q.qe[1:16])) *
                    sqrt(list_dot_product(t.e[1:16], t.e[1:16])))) AS BIGINT) AS cm_trunc
          FROM q CROSS JOIN t WHERE t.vec_id != q.query_id),
        fullr AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cm_full DESC, vec_id) AS r
            FROM scored) WHERE r <= 10),
        truncr AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cm_trunc DESC, vec_id) AS r
            FROM scored) WHERE r <= 10),
        common AS (
          SELECT f.query_id, count(*) AS n_common
          FROM fullr f SEMI JOIN truncr t2
            ON f.query_id = t2.query_id AND f.vec_id = t2.vec_id
          GROUP BY f.query_id)
        SELECT q.query_id,
               CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
               CAST(coalesce(c.n_common, 0) * 100 AS BIGINT) AS recall_centi
        FROM q LEFT JOIN common c ON q.query_id = c.query_id
        ORDER BY q.query_id""")),

    // ----- per-label centroid + dispersion profile --------------------------
    // The domain-profiling pass a training-mix pipeline runs before
    // balancing: one centroid per label plus how tightly the label's
    // vectors hug it. Two passes, both scale-flat: (1) posexplode ->
    // hash agg by (label, dim) — the map-side partial collapses each
    // partition to labels x d sums before the exchange, so the shuffle
    // never carries n x d rows; centroids are exact integer-milli
    // (sum div n — associative, partitioning-independent, oracle-exact);
    // (2) broadcast the O(labels x d) centroid table back and score each
    // vector against its own centroid with the codegen'd CosineMilliExpr
    // (milli components are exact in float: integers < 2^24), then one
    // label-sized agg. No join of the corpus against itself anywhere.
    QueryDef(
      "s13_label_centroids",
      (s, d) => {
        import s.implicits._
        val m = Tables.embeddings(s, d).select($"vec_id", $"label",
          transform($"embedding",
            x => floor(x.cast("double") * 1000).cast("float")).as("m"))
        val cents = m
          .select($"label", posexplode($"m").as(Seq("pos", "v")))
          .groupBy($"label", $"pos")
          .agg(sum($"v".cast("long")).as("sm"), count(lit(1)).as("cnt"))
          .groupBy($"label")
          .agg(array_sort(collect_list(
            struct($"pos", expr("sm div cnt").cast("float").as("c")))).as("ps"))
          .select($"label", expr("transform(ps, x -> x.c)").as("centroid"))
        m.join(broadcast(cents), Seq("label"))
          .select($"label", VectorFns.cosineMilli($"m", $"centroid").as("cos_milli"))
          .groupBy($"label")
          .agg(count(lit(1)).as("n"),
            expr("sum(cos_milli) div count(1)").as("avg_cos_milli"),
            min($"cos_milli").as("min_cos_milli"),
            sum(($"cos_milli" < 500L).cast("long")).as("n_far"))
          .select($"label".cast("long").as("label"), $"n",
            $"avg_cos_milli", $"min_cos_milli", $"n_far")
          .orderBy($"label")
      },
      oracle = Some("""
        WITH t AS (
          SELECT vec_id, label,
                 list_transform(embedding::DOUBLE[], x -> floor(x * 1000)) AS m
          FROM embeddings),
        ex AS (
          SELECT label, unnest(m) AS v,
                 unnest(generate_series(1, len(m))) AS pos
          FROM t),
        sums AS (
          SELECT label, pos, CAST(sum(v) AS BIGINT) AS sm,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM ex GROUP BY label, pos),
        cents AS (
          SELECT label, list(CAST(sm // cnt AS DOUBLE) ORDER BY pos) AS ce
          FROM sums GROUP BY label),
        scored AS (
          SELECT t.label,
                 CAST(floor(list_dot_product(t.m, c.ce) * 1000.0 /
                   (sqrt(list_dot_product(t.m, t.m)) *
                    sqrt(list_dot_product(c.ce, c.ce)))) AS BIGINT) AS cos_milli
          FROM t JOIN cents c USING (label))
        SELECT CAST(label AS BIGINT) AS label,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cos_milli) // count(*) AS BIGINT) AS avg_cos_milli,
               CAST(min(cos_milli) AS BIGINT) AS min_cos_milli,
               CAST(sum(CASE WHEN cos_milli < 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_far
        FROM scored GROUP BY label
        ORDER BY label""")),

    // ----- positional proximity search (s15) --------------------------------
    // The positional half of the inverted index: docs where two query
    // terms co-occur within ProxWindow token positions — phrase/NEAR
    // semantics BM25's bag-of-words scoring cannot express. Scale shape is
    // s10's discipline extended with positions: postings carry (doc, pos,
    // token), the BROADCAST query-term join discards every non-queried
    // posting before any shuffle, and the position pairing is an equi-join
    // on (qid, doc) whose fan-out is bounded by per-doc term frequency —
    // never a corpus scan per query, never all-pairs. Report is an
    // O(queries x langs) aggregate: matched docs + qualifying position
    // pairs.
    QueryDef(
      "s15_proximity_search",
      (s, d) => proximitySearch(Tables.documents(s, d), ProxQueries, ProxWindow),
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, lang,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        pos AS (
          SELECT doc_id, lang, u.i AS pos, t[u.i] AS tok
          FROM toks, unnest(generate_series(1, len(t))) u(i)),
        qs(qid, term_a, term_b) AS (VALUES $ProxQueriesSqlValues),
        pa AS (SELECT qid, doc_id, lang, pos AS pos_a
               FROM pos JOIN qs ON tok = term_a),
        pb AS (SELECT qid, doc_id, pos AS pos_b
               FROM pos JOIN qs ON tok = term_b),
        m AS (SELECT pa.qid, pa.doc_id, pa.lang
              FROM pa JOIN pb ON pa.qid = pb.qid AND pa.doc_id = pb.doc_id
              WHERE abs(pos_a - pos_b) <= $ProxWindow)
        SELECT CAST(qid AS BIGINT) AS qid, term_a, term_b, lang,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM m JOIN qs USING (qid)
        GROUP BY qid, term_a, term_b, lang
        ORDER BY qid, lang""")),

    // ----- attribute-filtered ANN (s16) -------------------------------------
    // The vector-DB "filtered search" seat: top-k nearest neighbors among
    // vectors satisfying a metadata predicate — here each query retrieves
    // within its OWN label (same-category retrieval). The predicate is a
    // PRE-filter expressed as an equi-join key: corpus joins the broadcast
    // query set ON label, so candidate selection is a BroadcastHashJoin
    // that touches only same-label rows — no theta-join corpus sweep (the
    // contrast with s01's deliberate brute force, gated), and selectivity
    // scales with label cardinality. Post-filtering would score everything
    // and then discard — the classic filtered-ANN mistake at 100 TB.
    QueryDef(
      "s16_filtered_ann",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
        val queries = e.filter($"vec_id" < 5)
          .select($"vec_id".as("query_id"), $"label", $"embedding".as("q"))
        val w = Window.partitionBy($"query_id")
          .orderBy($"cos_milli".desc, $"vec_id")
        e.join(broadcast(queries), Seq("label"))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"label", $"vec_id",
            VectorFns.cosineMilli($"q", $"embedding").as("cos_milli"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 5)
          .select($"query_id", $"label".cast("long").as("label"), $"rank",
            $"vec_id", $"cos_milli")
          .orderBy($"query_id", $"rank")
      },
      oracle = Some("""
        WITH t AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
        q AS (SELECT vec_id AS query_id, label, e AS qe FROM t WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, q.label, t.vec_id,
                 CAST(floor(list_dot_product(q.qe, t.e) * 1000.0 /
                   (sqrt(list_dot_product(q.qe, q.qe)) *
                    sqrt(list_dot_product(t.e, t.e)))) AS BIGINT) AS cos_milli
          FROM q JOIN t ON t.label = q.label AND t.vec_id != q.query_id),
        ranked AS (
          SELECT query_id, label, vec_id, cos_milli,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_milli DESC, vec_id) AS BIGINT) AS rank
          FROM scored)
        SELECT query_id, CAST(label AS BIGINT) AS label, rank, vec_id, cos_milli
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank""")),

    // ----- retrieval evaluation harness: recall@k (s17) ---------------------
    // Evaluation as a first-class operator: per query, how much of the
    // exact brute-force top-10 does the sign-LSH serving path recover?
    // This is s14's truncation-recall report generalized to ANY two
    // ranked retrievals — here the s01 ground truth vs the s02 serving
    // path, computed by a semi-join of the two (query, id) top-k sets.
    // Ground truth REQUIRES the brute-force ranking (what it measures),
    // so the brute side reuses s01's gated pipeline; the report is
    // O(queries). Run continuously, this is the recall monitor that
    // catches LSH parameter drift in production.
    QueryDef(
      "s17_recall_harness",
      (s, d) => {
        import s.implicits._
        val exact = bruteTopK(s, d).select($"query_id", $"vec_id")
        val served = lshTopK(s, d).select($"query_id", $"vec_id")
        val hit = exact.join(served, Seq("query_id", "vec_id"), "left_semi")
          .groupBy($"query_id").agg(count(lit(1)).as("n_hit"))
        exact.groupBy($"query_id").agg(count(lit(1)).as("k"))
          .join(hit, Seq("query_id"), "left")
          .select($"query_id", $"k",
            coalesce($"n_hit", lit(0L)).as("n_hit"),
            expr("(1000 * coalesce(n_hit, 0)) div k").as("recall_milli"))
          .orderBy($"query_id")
      },
      oracle = Some(s"""
        WITH exact AS ($s01OracleSql),
        served AS (${s02OracleSql.replace("ORDER BY query_id, rank", "")}),
        hit AS (
          SELECT e.query_id, count(*) AS n_hit
          FROM exact e SEMI JOIN served s
            ON e.query_id = s.query_id AND e.vec_id = s.vec_id
          GROUP BY e.query_id),
        base AS (SELECT query_id, count(*) AS k FROM exact GROUP BY query_id)
        SELECT query_id, CAST(k AS BIGINT) AS k,
               CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
               (1000 * CAST(coalesce(n_hit, 0) AS BIGINT)) // k AS recall_milli
        FROM base LEFT JOIN hit USING (query_id)
        ORDER BY query_id""")),

    // ----- embedding drift monitor (s18) ------------------------------------
    // The MLOps alarm for a re-embedded or re-crawled corpus: per label,
    // (a) the cosine between the old and new snapshots' exact
    // integer-milli centroids (s13's recipe per snapshot — the mean-shift
    // signal), and (b) q88's KS statistic between the two snapshots'
    // distributions of per-vector cosine to the SHARED baseline centroid
    // (the shape-change signal a mean can't see — e.g. variance doubling
    // with the centroid fixed). Snapshots are simulated as vec_id parity
    // (production feeds two index generations). Scale: centroids are
    // O(labels x dim) aggregates; scoring is one broadcast join with the
    // codegen'd cosine; the KS windows run per label over the bounded
    // O(2000) cosine-milli support — never raw vectors.
    QueryDef(
      "s18_embedding_drift",
      (s, d) => {
        import s.implicits._
        val m = Tables.embeddings(s, d)
          .select($"vec_id", $"label",
            transform($"embedding",
              x => floor(x.cast("double") * 1000).cast("float")).as("m"))
          .withColumn("snap", pmod($"vec_id", lit(2)).cast("int"))
        def centroids(snap: Int, out: String) = m.filter($"snap" === snap)
          .select($"label", posexplode($"m").as(Seq("pos", "v")))
          .groupBy($"label", $"pos")
          .agg(sum($"v".cast("long")).as("sm"), count(lit(1)).as("cnt"))
          .groupBy($"label")
          .agg(array_sort(collect_list(
            struct($"pos", expr("sm div cnt").cast("float").as("c")))).as("ps"))
          .select($"label", expr("transform(ps, x -> x.c)").as(out))
        val c0 = centroids(0, "cent0")
        val shift = c0.join(centroids(1, "cent1"), Seq("label"))
          .select($"label", VectorFns.cosineMilli($"cent0", $"cent1").as("centroid_cos_milli"))
        val sup = m.join(broadcast(c0), Seq("label"))
          .select($"label", $"snap", VectorFns.cosineMilli($"m", $"cent0").as("cm"))
          .groupBy($"label", $"cm")
          .agg(sum(when($"snap" === 0, 1L).otherwise(0L)).as("c1"),
            sum(when($"snap" === 1, 1L).otherwise(0L)).as("c2"))
        val wl = Window.partitionBy($"label")
        val ks = sup
          .withColumn("t1", sum($"c1").over(wl))
          .withColumn("t2", sum($"c2").over(wl))
          .withColumn("f1", expr(
            "(1000 * sum(c1) over (partition by label order by cm rows unbounded preceding)) div greatest(t1, 1)"))
          .withColumn("f2", expr(
            "(1000 * sum(c2) over (partition by label order by cm rows unbounded preceding)) div greatest(t2, 1)"))
          .groupBy($"label")
          .agg(first($"t1").as("n_a"), first($"t2").as("n_b"),
            max(abs($"f1" - $"f2")).as("ks_milli"))
        shift.join(ks, Seq("label"))
          .select($"label".cast("long").as("label"), $"n_a", $"n_b",
            $"centroid_cos_milli", $"ks_milli")
          .orderBy($"label")
      },
      oracle = Some("""
        WITH t AS (
          SELECT vec_id, label, vec_id % 2 AS snap,
                 list_transform(embedding::DOUBLE[], x -> floor(x * 1000)) AS m
          FROM embeddings),
        ex AS (
          SELECT label, snap, unnest(m) AS v,
                 unnest(generate_series(1, len(m))) AS pos
          FROM t),
        sums AS (
          SELECT label, snap, pos, CAST(sum(v) AS BIGINT) AS sm,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM ex GROUP BY label, snap, pos),
        cents AS (
          SELECT label, snap, list(CAST(sm // cnt AS DOUBLE) ORDER BY pos) AS ce
          FROM sums GROUP BY label, snap),
        shift AS (
          SELECT a.label,
                 CAST(floor(list_dot_product(a.ce, b.ce) * 1000.0 /
                   (sqrt(list_dot_product(a.ce, a.ce)) *
                    sqrt(list_dot_product(b.ce, b.ce)))) AS BIGINT) AS centroid_cos_milli
          FROM cents a JOIN cents b
            ON a.label = b.label AND a.snap = 0 AND b.snap = 1),
        scored AS (
          SELECT t.label, t.snap,
                 CAST(floor(list_dot_product(t.m, c.ce) * 1000.0 /
                   (sqrt(list_dot_product(t.m, t.m)) *
                    sqrt(list_dot_product(c.ce, c.ce)))) AS BIGINT) AS cm
          FROM t JOIN cents c ON t.label = c.label AND c.snap = 0),
        sup AS (
          SELECT label, cm,
                 CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                 CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
          FROM scored GROUP BY label, cm),
        cd AS (
          SELECT label, cm,
                 CAST(sum(c1) OVER (PARTITION BY label) AS BIGINT) AS t1,
                 CAST(sum(c2) OVER (PARTITION BY label) AS BIGINT) AS t2,
                 CAST(sum(c1) OVER (PARTITION BY label ORDER BY cm
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
                 CAST(sum(c2) OVER (PARTITION BY label ORDER BY cm
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
          FROM sup),
        ks AS (
          SELECT label, CAST(max(t1) AS BIGINT) AS n_a, CAST(max(t2) AS BIGINT) AS n_b,
                 CAST(max(abs((1000 * cum1) // greatest(t1, 1)
                            - (1000 * cum2) // greatest(t2, 1))) AS BIGINT) AS ks_milli
          FROM cd GROUP BY label)
        SELECT CAST(s.label AS BIGINT) AS label, n_a, n_b, centroid_cos_milli, ks_milli
        FROM shift s JOIN ks USING (label)
        ORDER BY label""")),

    // ----- composed retrieval-index build (s19) ------------------------------
    // The capstone the s-family stages exist for, as ONE oracle-gated plan
    // (t38's pattern on the retrieval side): t05's admission gate picks the
    // canonical quality-passing docs, their embeddings land in s03's IVF
    // cells, and t08's integer packer lays each cell's docs into 512-token
    // context windows per (cell, poly-hash shard). The oracle replays all
    // four stages as composed CTEs of the t05/s03/t08 oracle shapes.
    QueryDef(
      "s19_index_build",
      (s, d) => indexBuild(s, Tables.documents(s, d), Tables.embeddings(s, d)),
      oracle = Some(s"""
        WITH toksd AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_key,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        feats AS (
          SELECT doc_id, content_key,
                 CAST(len(t) AS BIGINT) AS n,
                 CAST(floor(len(list_distinct(t)) * 1000.0 / len(t)) AS BIGINT) AS dr
          FROM toksd),
        canon AS (SELECT content_key, min(doc_id) AS doc_id FROM feats GROUP BY content_key),
        adm AS (
          SELECT f.doc_id, f.n
          FROM feats f JOIN canon c ON f.content_key = c.content_key AND f.doc_id = c.doc_id
          WHERE f.n >= 20 AND f.dr >= 200),
        t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        c2 AS (SELECT vec_id AS cent_id, e AS ce FROM t
               ORDER BY (CAST(vec_id AS HUGEINT) * $IvfHashMultUnsigned)
                        % 18446744073709551616
               LIMIT $IvfK),
        scoredv AS (
          SELECT t.vec_id, c2.cent_id,
                 CAST(floor(list_dot_product(t.e, c2.ce) * 1000.0 /
                   (sqrt(list_dot_product(t.e, t.e)) * sqrt(list_dot_product(c2.ce, c2.ce)))) AS BIGINT) AS cs
          FROM t CROSS JOIN c2),
        cells AS (
          SELECT vec_id, cent_id AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rk
            FROM scoredv) WHERE rk = 1),
        j AS (
          SELECT a.doc_id, cl.cell,
                 CAST(${TextQueries.packShardSql} AS BIGINT) AS shard, a.n
          FROM adm a JOIN cells cl ON a.doc_id = cl.vec_id),
        spans AS (
          SELECT cell, shard,
                 CAST(sum(n) OVER (PARTITION BY cell, shard ORDER BY doc_id) AS BIGINT) AS fin,
                 CAST(sum(n) OVER (PARTITION BY cell, shard ORDER BY doc_id) - n AS BIGINT) AS start
          FROM j),
        ex AS (
          SELECT cell, shard, start, fin,
                 unnest(generate_series(CAST(floor(start::DOUBLE / ${TextQueries.PackBudget}) AS BIGINT),
                                        CAST(floor((fin - 1)::DOUBLE / ${TextQueries.PackBudget}) AS BIGINT))) AS chunk
          FROM spans)
        SELECT cell, shard, chunk, count(*) AS n_docs,
               CAST(sum(least((chunk + 1) * ${TextQueries.PackBudget}, fin)
                        - greatest(chunk * ${TextQueries.PackBudget}, start)) AS BIGINT) AS n_tokens
        FROM ex
        GROUP BY cell, shard, chunk
        ORDER BY cell, shard, chunk""")))

  /** The s10 pipeline over an arbitrary (doc_id, text) table: BM25 top-k
    * per query in exact integer-milli arithmetic (see the s10 comment).
    * Query terms absent from the corpus contribute nothing; a query with
    * no matching term returns no rows.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val docs = Seq((1L, "spark shuffles data across executors"),
    *   (2L, "ducks swim across ponds")).toDF("doc_id", "text")
    * bm25Search(docs, Seq(7L -> Seq("spark")), k = 5)
    *   .select($"query_id", $"rank", $"doc_id")
    *   .as[(Long, Long, Long)].collect().toSeq == Seq((7L, 1L, 1L))
    * }}}
    */
  def bm25Search(docs: DataFrame, queries: Seq[(Long, Seq[String])],
      k: Int): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val s = docs.sparkSession
    import s.implicits._
    // postings are read three times (dl, dft, scoring)
    val dt = postings(docs)
    val dl = dt.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    val dft = dt.groupBy($"tok").agg(count(lit(1)).as("df"))
    val terms = queries
      .flatMap { case (q, ts) => ts.distinct.map(q -> _) }
      .toDF("query_id", "tok")
    val qterms = terms.join(dft, "tok")
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("t_total"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"score_milli".desc, $"doc_id")
    dt.join(broadcast(qterms), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select($"query_id", $"doc_id", expr(Bm25ContribExpr).as("contrib"))
      .groupBy($"query_id", $"doc_id")
      .agg(expr("sum(contrib) div 1000").as("score_milli"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id", $"score_milli")
      .orderBy($"query_id", $"rank")
  }

  /** The postings table (doc_id, tok, tf) over a (doc_id, text) frame —
    * the one corpus-scale shuffle every lexical operator here shares, read
    * more than once by each: one slot, so s20 and s21 share one frame.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * postings(Seq((1L, "spark joins spark")).toDF("doc_id", "text"))
    *   .as[(Long, String, Long)].collect().toSet ==
    *   Set((1L, "spark", 2L), (1L, "joins", 1L))
    * }}}
    */
  private[graft] def postings(docs: DataFrame): DataFrame =
    OpCache.persistRotating("postings.docTerms",
      docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))

  /** The impact-ordered index build: each term's posting list pruned to
    * its [[ImpactPostings]] highest-tf entries (tie: lowest doc_id). One
    * window shuffle by term at build time; per-term serving cost becomes
    * O(m) instead of O(df) — the WAND-family trade, with recall graded
    * against the exact leg by SimilaritySpec's s17-harness test.
    *
    * Example (run verbatim by DocExamplesSpec — 40 docs of one term, only
    * the 32 highest-tf postings survive the index build):
    * {{{
    * val dt = (1L to 40L).map(i => (i, "hot", i)).toDF("doc_id", "tok", "tf")
    * impactPrunedPostings(dt).count() == 32
    * impactPrunedPostings(dt).agg(min($"tf")).as[Long].head == 9L
    * }}}
    */
  private[graft] def impactPrunedPostings(dt: DataFrame): DataFrame = {
    val wi = Window.partitionBy(col("tok")).orderBy(col("tf").desc, col("doc_id"))
    dt.withColumn("ir", row_number().over(wi))
      .filter(col("ir") <= ImpactPostings)
      .select(col("doc_id"), col("tok"), col("tf"))
  }

  /** The hybrid lexical leg: exact integer BM25 of every query doc's term
    * set (query docs = ids < 5, terms from the FULL postings frame `dt` —
    * never a driver collect), scored against the postings in `scoringDt`,
    * top [[FuseR]] per query. `scoringDt = dt` is the exact leg (s20);
    * `scoringDt = impactPrunedPostings(dt)` is the indexed leg (s21) —
    * corpus statistics (df, dl, avgdl) always come from the full table,
    * so the two legs score identically wherever the pruned index retained
    * the posting. */
  private[graft] def lexTopR(dt: DataFrame, scoringDt: DataFrame): DataFrame = {
    val dl = dt.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dft = dt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val qterms = dt.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("tok"))
      .join(dft, "tok")
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_total"))
    val wl = Window.partitionBy(col("query_id"))
      .orderBy(col("score_milli").desc, col("doc_id"))
    scoringDt.join(broadcast(qterms), "tok")
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), expr(Bm25ContribExpr).as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(expr("sum(contrib) div 1000").as("score_milli"))
      .withColumn("lex_rank", row_number().over(wl).cast("long"))
      .filter(col("lex_rank") <= FuseR)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
  }

  /** The hybrid vector leg, exact contract: s01's brute-force cosine,
    * top [[FuseR]] per query doc (ids < 5). */
  private[graft] def vecTopRExact(e: DataFrame): DataFrame = {
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_milli").desc, col("doc_id"))
    e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        VectorFns.cosineMilli(col("q"), col("embedding")).as("cos_milli"))
      .withColumn("vec_rank", row_number().over(wv).cast("long"))
      .filter(col("vec_rank") <= FuseR)
      .select(col("query_id"), col("doc_id"), col("vec_rank"))
  }

  /** The hybrid vector leg, indexed contract: s02's sign-LSH bucketed
    * candidates (hamming<=3 neighborhood equi-join — never a corpus NLJ),
    * exact cosine rank, top [[FuseR]] per query doc. */
  private[graft] def vecTopRLsh(e0: DataFrame): DataFrame = {
    val planes = VectorFns.hyperplanes(NumPlanes, Dim)
    val neighborhood: Seq[Long] =
      (0L until (1L << NumPlanes)).filter(java.lang.Long.bitCount(_) <= 3)
    val e = e0.withColumn("bucket", VectorFns.signLshBucket(col("embedding"), planes))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        explode(array(neighborhood.map(m => col("bucket").bitwiseXOR(lit(m))): _*))
          .as("bucket"))
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_milli").desc, col("doc_id"))
    e.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        VectorFns.cosineMilli(col("q"), col("embedding")).as("cos_milli"))
      .withColumn("vec_rank", row_number().over(wv).cast("long"))
      .filter(col("vec_rank") <= FuseR)
      .select(col("query_id"), col("doc_id"), col("vec_rank"))
  }

  /** Reciprocal-rank fusion of two (query_id, doc_id, <side>_rank) top-R
    * lists — ONE code path for the exact (s20) and indexed (s21) hybrids;
    * SimilaritySpec asserts the fused spine of both optimized plans is
    * node-identical, making "swap in the indexed legs, fusion unchanged"
    * executable rather than asserted. Full-outer, never inner: a doc on
    * one side's list only still scores (the missing side reports rank 0
    * and contributes nothing).
    *
    * Example (run verbatim by DocExamplesSpec — doc 7 on both lists wins,
    * single-modality docs 8 and 9 survive the full-outer fuse):
    * {{{
    * val lex = Seq((1L, 7L, 1L), (1L, 8L, 2L)).toDF("query_id", "doc_id", "lex_rank")
    * val vec = Seq((1L, 7L, 2L), (1L, 9L, 1L)).toDF("query_id", "doc_id", "vec_rank")
    * rrfFuse(lex, vec).select($"rank", $"doc_id", $"fused_micro")
    *   .as[(Long, Long, Long)].collect().toSeq ==
    *   Seq((1L, 7L, 16393L + 16129L), (2L, 9L, 16393L), (3L, 8L, 16129L))
    * }}}
    */
  private[graft] def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame = {
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("fused_micro").desc, col("doc_id"))
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .withColumn("fused_micro",
        when(col("lex_rank") > 0L, expr(s"$RrfScale div ($RrfK + lex_rank)")).otherwise(0L)
          + when(col("vec_rank") > 0L, expr(s"$RrfScale div ($RrfK + vec_rank)")).otherwise(0L))
      .withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= 10L)
      .select(col("query_id"), col("rank"), col("doc_id"), col("fused_micro"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s01's exact brute-force top-10 (the evaluation ground truth shared
    * with s17's harness). */
  private def bruteTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val queries = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos_milli".desc, $"vec_id")
    e.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        VectorFns.cosineMilli($"q", $"embedding").as("cos_milli"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 10)
      .select($"query_id", $"rank", $"vec_id", $"cos_milli")
      .orderBy($"query_id", $"rank")
  }

  private def s01OracleSql: String = """
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        q AS (SELECT vec_id AS query_id, e AS qe FROM t WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, t.vec_id,
                 CAST(floor(list_dot_product(q.qe, t.e) * 1000.0 /
                   (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(t.e, t.e)))) AS BIGINT) AS cos_milli
          FROM q JOIN t ON t.vec_id != q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cos_milli,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_milli DESC, vec_id) AS BIGINT) AS rank
          FROM scored)
        SELECT query_id, rank, vec_id, cos_milli
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank"""

  /** s02's sign-LSH bucketed top-10 (the serving path s17 evaluates). */
  private def lshTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planes = VectorFns.hyperplanes(NumPlanes, Dim)
    val neighborhood: Seq[Long] =
      (0L until (1L << NumPlanes)).filter(java.lang.Long.bitCount(_) <= 3)
    val e = Tables.embeddings(s, d)
      .withColumn("bucket", VectorFns.signLshBucket($"embedding", planes))
    val queries = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q"),
        explode(array(neighborhood.map(m => $"bucket".bitwiseXOR(lit(m))): _*))
          .as("bucket"))
    // equi-join on bucket: each corpus row lands in exactly one bucket and
    // each (query, bucket) mask is distinct, so candidates are unique
    val cand = e.join(broadcast(queries), Seq("bucket"))
      .filter($"vec_id" =!= $"query_id")
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos_milli".desc, $"vec_id")
    cand
      .select($"query_id", $"vec_id",
        VectorFns.cosineMilli($"q", $"embedding").as("cos_milli"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 10)
      .select($"query_id", $"rank", $"vec_id", $"cos_milli")
      .orderBy($"query_id", $"rank")
  }

  /** The s15 pipeline over an arbitrary (doc_id, lang, text) table:
    * positional proximity (NEAR) search. For each (qid, term_a, term_b),
    * reports per-lang how many docs contain the terms within `window`
    * token positions and how many qualifying position pairs exist.
    * Postings are pruned to queried terms by broadcast join BEFORE any
    * shuffle; position pairing is an equi-join on (qid, doc_id) bounded
    * by per-doc term frequency.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val docs = Seq((1L, "en", "the quick brown fox jumps"),
    *   (2L, "en", "quick stream with a fox far away later")).toDF("doc_id", "lang", "text")
    * proximitySearch(docs, Seq((1L, "quick", "fox")), window = 3)
    *   .select($"qid", $"lang", $"n_docs", $"n_pairs")
    *   .as[(Long, String, Long, Long)].collect().toSeq == Seq((1L, "en", 1L, 1L))
    * }}}
    */
  def proximitySearch(docs: DataFrame, queries: Seq[(Long, String, String)],
      window: Int): DataFrame = {
    require(window >= 0, s"need window >= 0, got $window")
    val s = docs.sparkSession
    import s.implicits._
    val pos = docs
      .select($"doc_id", $"lang", posexplode(TextFns.tokens($"text")).as(Seq("p0", "tok")))
      .select($"doc_id", $"lang", ($"p0" + 1).as("pos"), $"tok")
    val qs = queries.toDF("qid", "term_a", "term_b")
    val pa = pos.join(broadcast(qs.select($"qid", $"term_a".as("tok"))), Seq("tok"))
      .select($"qid", $"doc_id", $"lang", $"pos".as("pos_a"))
    val pb = pos.join(broadcast(qs.select($"qid", $"term_b".as("tok"))), Seq("tok"))
      .select($"qid", $"doc_id", $"pos".as("pos_b"))
    pa.join(pb, Seq("qid", "doc_id"))
      .filter(abs($"pos_a" - $"pos_b") <= window)
      .groupBy($"qid", $"lang")
      .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_pairs"))
      .join(broadcast(qs), Seq("qid"))
      .select($"qid", $"term_a", $"term_b", $"lang", $"n_docs", $"n_pairs")
      .orderBy($"qid", $"lang")
  }

  /** The s12 pipeline over an arbitrary (vec_id, embedding) table: per
    * anchor, the top-`n` highest-cosine kNN neighbors that are NOT
    * positives. `positives` is any (vec_a, vec_b) pair set (orientation
    * irrelevant); None derives d06's near-dup pairs, and — since the kNN
    * edges come from the same bucket geometry — folds the anti-join into
    * `cos_milli < minCosMilli` on the edges themselves: a kNN edge shares
    * a bucket by construction, so it is a d06 pair iff its exact cosine
    * clears the bar. One bucket+cosine pass instead of two.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val e1 = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    * val emb = Seq((1L, e1), (2L, e1.clone()), (3L, e1.clone())).toDF("vec_id", "embedding")
    * hardNegatives(spark, emb, n = 1, k = 5,
    *   positives = Some(Seq((1L, 2L)).toDF("vec_a", "vec_b")))
    *   // vec 1: positive 2 excluded, hard negative is vec 3
    * }}}
    */
  def hardNegatives(s: SparkSession, embeddings: DataFrame,
      tables: Int = DedupQueries.lshTableCount,
      planesPerTable: Int = DedupQueries.AutoPlanes,
      dim: Int = DedupQueries.embDim,
      k: Int = 5, n: Int = 3, minCosMilli: Long = 400L,
      positives: Option[DataFrame] = None): DataFrame = {
    require(n <= k, s"need n <= k, got n=$n k=$k")
    import s.implicits._
    val knn = knnGraph(s, embeddings, tables, planesPerTable, dim, k)
    val nonDup = positives match {
      case Some(pos) =>
        // general form: drop an edge if EITHER orientation is a positive
        val both = pos.select($"vec_a".as("vec_id"), $"vec_b".as("nbr_id"))
          .unionByName(pos.select($"vec_b".as("vec_id"), $"vec_a".as("nbr_id")))
        knn.join(both, Seq("vec_id", "nbr_id"), "left_anti")
      case None => knn.filter($"cos_milli" < minCosMilli)
    }
    val w = Window.partitionBy($"vec_id").orderBy($"cos_milli".desc, $"nbr_id")
    nonDup
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter($"neg_rank" <= n)
      .select($"vec_id", $"neg_rank", $"nbr_id", $"cos_milli")
      .orderBy($"vec_id", $"neg_rank")
  }

  /** The s12 oracle: the GENERAL form — s09's kNN oracle anti-joined
    * (NOT EXISTS, both orientations) against d06's full pair oracle, then
    * re-ranked. The Spark default path folds the anti-join into a cosine
    * filter; the oracle deliberately does not, so a hash match also
    * certifies the fold's equivalence. */
  private def s12OracleSql: String = s"""
        WITH knn AS ($s09OracleSql),
        sem AS (${DedupQueries.d06OracleSql.replace("ORDER BY vec_a, vec_b", "")}),
        neg AS (
          SELECT k.vec_id, k.nbr_id, k.cos_milli,
                 CAST(row_number() OVER (PARTITION BY k.vec_id
                   ORDER BY k.cos_milli DESC, k.nbr_id) AS BIGINT) AS neg_rank
          FROM knn k
          WHERE NOT EXISTS (
            SELECT 1 FROM sem s
            WHERE (s.vec_a = k.vec_id AND s.vec_b = k.nbr_id)
               OR (s.vec_a = k.nbr_id AND s.vec_b = k.vec_id)))
        SELECT vec_id, neg_rank, nbr_id, cos_milli
        FROM neg WHERE neg_rank <= 3
        ORDER BY vec_id, neg_rank"""

  /** The s11 pipeline over an arbitrary (vec_id, embedding) table:
    * (vec_id, cluster_id) labels from connected components over the
    * mutual-kNN graph. Bucket geometry and k follow [[knnGraph]]'s
    * defaults and tuning contract.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val e1 = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    * val emb = Seq((1L, e1), (2L, e1.clone()), (3L, e1.map(-_)), (4L, e1.map(-_)))
    *   .toDF("vec_id", "embedding")
    * semanticClusters(spark, emb).as[(Long, Long)].collect().toSeq ==
    *   Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
    * }}}
    */
  def semanticClusters(s: SparkSession, embeddings: DataFrame,
      tables: Int = DedupQueries.lshTableCount,
      planesPerTable: Int = DedupQueries.AutoPlanes,
      dim: Int = DedupQueries.embDim,
      k: Int = 5,
      localFoldMaxEdges: Long = DedupQueries.LocalFoldMaxEdges): DataFrame = {
    import s.implicits._
    val labels = DedupQueries.clusterLabels(
      embeddings.select($"vec_id".as("doc_id")),
      mutualKnnPairs(s, embeddings, tables, planesPerTable, dim, k),
      localFoldMaxEdges = localFoldMaxEdges)
    labels.select($"doc_id".as("vec_id"), $"cluster_id").orderBy($"vec_id")
  }

  /** s11's edge half: the MUTUAL kNN pair set (a—b kept iff each is in
    * the other's top-k; a < b) as (doc_a, doc_b) rows — the exact pair
    * feed [[graft.streaming.StreamClusterLabels]] folds incrementally, so
    * stream-maintained labels and batch [[semanticClusters]] agree by
    * construction (StreamDedupSpec executes the composition). */
  private[graft] def mutualKnnPairs(s: SparkSession, embeddings: DataFrame,
      tables: Int = DedupQueries.lshTableCount,
      planesPerTable: Int = DedupQueries.AutoPlanes,
      dim: Int = DedupQueries.embDim,
      k: Int = 5): DataFrame = {
    import s.implicits._
    val dir = OpCache.persistRotating("mutualKnnPairs.dir",
      knnGraph(s, embeddings, tables, planesPerTable, dim, k)
        .select($"vec_id".as("a"), $"nbr_id".as("b")))
    dir
      .join(dir.select($"b".as("a"), $"a".as("b")), Seq("a", "b"), "left_semi")
      .filter($"a" < $"b")
      .select($"a".as("doc_a"), $"b".as("doc_b"))
  }

  /** Cross-lingual mirror report (d19): [[semanticClusters]] x the
    * corpus's language labels (the t01 language-ID stage's output — pass
    * any (doc_id, lang) frame; the doc example and the planted-fixture
    * test feed [[TextFns.langId]] directly) over the shared id space,
    * reduced to the unordered language-pair matrix of multilingual
    * clusters — a semantic cluster whose members span languages is a
    * translated mirror (the multilingual-dedup report every multilingual
    * corpus build publishes; the cross-lingual face of SemDeDup — every
    * lexical method d01-d13 is blind to translation because a document
    * and its translation share an embedding neighborhood but no
    * shingles). Output per (lang_a < lang_b): `n_clusters` sharing both
    * languages and `n_docs` = the two languages' members inside those
    * clusters (a 3-language cluster contributes to each of its 3 pairs).
    *
    * Scale shape: past s11's gated clusters and one label scan,
    * everything is O(clusters x langs) — the per-(cluster, lang) count
    * table self-joins on cluster_id (bounded by languages per cluster,
    * never members squared), and the matrix is O(langs^2) rows however
    * big the corpus.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val e1 = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    * val emb = Seq((1L, e1), (2L, e1.clone()), (3L, e1.map(-_)), (4L, e1.map(-_)))
    *   .toDF("vec_id", "embedding")
    * val docs = Seq((1L, "the of and to in"), (2L, "der die und ist zu"),
    *   (3L, "the of and a is"), (4L, "of the is a and")).toDF("doc_id", "text")
    * // cluster {1,2} is an en/de translated mirror; cluster {3,4} is en-only
    * crossLingualMirrors(spark, emb,
    *     docs.select($"doc_id", TextFns.langId($"text").as("lang")))
    *   .as[(String, String, Long, Long)].collect().toSeq == Seq(("de", "en", 1L, 2L))
    * }}}
    */
  def crossLingualMirrors(s: SparkSession, embeddings: DataFrame,
      docLangs: DataFrame,
      tables: Int = DedupQueries.lshTableCount,
      planesPerTable: Int = DedupQueries.AutoPlanes,
      dim: Int = DedupQueries.embDim,
      k: Int = 5): DataFrame =
    mirrorMatrix(semanticClusters(s, embeddings, tables, planesPerTable, dim, k),
      docLangs)

  /** d19's aggregation tail over an ARBITRARY (vec_id, cluster_id) label
    * frame — factored out so the report can also run on LIVE labels
    * ([[graft.streaming.StreamClusterLabels]].labelsFor) instead of a
    * nightly closure (StreamDedupSpec executes that composition:
    * mirrorMatrix over stream-maintained labels == [[crossLingualMirrors]]
    * row for row). O(clusters x langs) past the label frame. */
  private[graft] def mirrorMatrix(clusters: DataFrame, docLangs: DataFrame): DataFrame = {
    val s = clusters.sparkSession
    import s.implicits._
    val langs = docLangs.select($"doc_id".as("vec_id"), $"lang")
    val byLang = clusters.join(langs, Seq("vec_id"))
      .groupBy($"cluster_id", $"lang").agg(count(lit(1)).as("n"))
    byLang.select($"cluster_id", $"lang".as("lang_a"), $"n".as("n_a"))
      .join(byLang.select($"cluster_id", $"lang".as("lang_b"), $"n".as("n_b")),
        Seq("cluster_id"))
      .filter($"lang_a" < $"lang_b")
      .groupBy($"lang_a", $"lang_b")
      .agg(count(lit(1)).as("n_clusters"), sum($"n_a" + $"n_b").as("n_docs"))
      .orderBy($"lang_a", $"lang_b")
  }

  /** Semantic eval decontamination (s22) — the embedding-space face of
    * t44's lexical rule, closing the contamination story it starts: a
    * PARAPHRASED benchmark item shares no 8-token shingle with its source,
    * so the n-gram gate (t44) is blind to it, but it still lands in the
    * heldout item's embedding neighborhood (the SemDeDup observation
    * applied to eval integrity). Any TRAIN document whose embedding
    * clears `minCosMilli` against ANY heldout embedding is dropped from
    * training (the train side pays, exactly as in t44). Output: t44's
    * per-lang report shape — (lang, n_train, n_dropped, tokens_dropped,
    * tokens_clean) — so the two gates compose into one economics view.
    * The split defaults to the t06 salted-hash bucket: the SAME docs are
    * train for both gates.
    *
    * Scale shape: candidates come from a BIPARTITE sign-LSH bucket join —
    * train bucket rows against heldout bucket rows on (table, bucket),
    * first-shared-table filtered so each (train, held) pair verifies
    * once. Random collisions per train doc are L*held/2^K, so K follows
    * the heldout count (`AutoPlanes` derives it via
    * [[DedupQueries.autoPlanesPerTable]] over the HELDOUT side — the
    * static, size-known side; at the fixture's ~50 heldout vectors this
    * floors to the fixture K=6, at a 10^5-item benchmark suite K=21
    * bounds collisions per train doc below 1). Train docs without an
    * embedding are counted but never droppable; heldout embeddings probe,
    * never pay.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val e1 = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    * val docs = Seq((1L, "a b c d", "en"), (2L, "e f g h", "en"),
    *   (3L, "q r s t", "en")).toDF("doc_id", "text", "lang")
    * val emb = Seq((1L, e1), (2L, e1.map(-_)), (3L, e1.clone()))
    *   .toDF("vec_id", "embedding")
    * // held = doc 3; train doc 1 mirrors it (cos 1.0) -> dropped;
    * // train doc 2 is antipodal -> kept
    * semanticDecontaminateReport(spark, docs, emb, trainPred = $"doc_id" < 3L)
    *   .as[(String, Long, Long, Long, Long)].head == (("en", 2L, 1L, 4L, 4L))
    * }}}
    */
  def semanticDecontaminateReport(s: SparkSession, docs: DataFrame,
      embeddings: DataFrame,
      trainPred: Column = TextQueries.trainSplitPred,
      minCosMilli: Long = 400L,
      tables: Int = DedupQueries.lshTableCount,
      planesPerTable: Int = DedupQueries.AutoPlanes,
      dim: Int = DedupQueries.embDim): DataFrame = {
    import s.implicits._
    val meta = docs.select($"doc_id", $"lang",
      size(TextFns.tokens($"text")).cast("long").as("n_toks"),
      trainPred.as("is_train"))
    val vecs = embeddings.select($"vec_id".as("doc_id"), $"embedding")
    val held = meta.filter(!$"is_train").join(vecs, Seq("doc_id"))
      .select($"doc_id", $"embedding")
    // geometry follows the heldout count (see scaladoc); derived once,
    // before any bucket row exists, so both sides bucket identically
    semDecontStats(meta.filter($"is_train").join(vecs, Seq("doc_id"), "left"),
        LshPairs.sideOf(held, tables, planesPerTable, dim), minCosMilli)
      .orderBy($"lang")
  }

  /** s22's decision + economics half over TRAIN (doc_id, lang, n_toks,
    * embedding-nullable) rows vs the static heldout side `held`: per-lang
    * sums, UNORDERED — the same split-invariant monoid
    * as t44's ([[graft.streaming.StreamSemanticDecontaminate]] folds these
    * per micro-batch; the batch report adds the orderBy). Each doc's drop
    * decision is against the static heldout set only, so the sums are
    * order- and split-independent. */
  private[graft] def semDecontStats(train: DataFrame, held: LshPairs.Side,
      minCosMilli: Long): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    val withVec = train.filter($"embedding".isNotNull)
      .select($"doc_id", $"embedding")
    val dropped = LshPairs.crossPairs(withVec, held)
      .filter($"cos_milli" >= minCosMilli)
      .select($"a".as("doc_id")).distinct()
    train
      .join(dropped.withColumn("is_dropped", lit(1L)), Seq("doc_id"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_train"),
        sum(coalesce($"is_dropped", lit(0L))).as("n_dropped"),
        sum(when($"is_dropped".isNotNull, $"n_toks").otherwise(0L)).as("tokens_dropped"),
        sum(when($"is_dropped".isNull, $"n_toks").otherwise(0L)).as("tokens_clean"))
  }

  /** Literal-plane bucket SQL for the fixture geometry, the one generator
    * behind every oracle that replays the LSH buckets (d06, d14, s09, s22,
    * s23 and the oracles embedding them): the per-table bucket column list
    * (aliased b0..bL-1 over a DOUBLE[] column `e`) and the
    * any-shared-bucket join condition between row aliases `a` and `b`. */
  private[operators] def fixtureBucketSql(a: String, b: String): (String, String) = {
    val tables = DedupQueries.lshTableCount
    val ppt = DedupQueries.lshPlanesPerTableCount
    val planes = VectorFns.hyperplanes(tables * ppt, DedupQueries.embDim)
    def bucket(t: Int): String = (0 until ppt).map { k =>
      s"(CASE WHEN list_dot_product(e, ${planeLit(planes(t * ppt + k))}) >= 0 THEN ${1L << k} ELSE 0 END)"
    }.mkString(" + ")
    val bcols = (0 until tables).map(t => s"(${bucket(t)}) AS b$t").mkString(",\n               ")
    val cond = (0 until tables).map(t => s"$a.b$t = $b.b$t").mkString(" OR ")
    (bcols, cond)
  }

  /** The s22 oracle: literal-plane per-table buckets on BOTH split sides
    * (the d06/s09 replay), bipartite any-shared-bucket candidates, exact
    * cosine verify, t44's report tail. */
  private def s22OracleSql: String = {
    val (bcols, cond) = fixtureBucketSql("t", "h")
    s"""
        WITH meta AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_toks,
                 (${TextQueries.trainSplitPredSql}) AS is_train
          FROM documents),
        bk AS (SELECT vec_id, e,
               $bcols
               FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)),
        train AS (SELECT m.doc_id, b.* FROM meta m JOIN bk b ON m.doc_id = b.vec_id WHERE m.is_train),
        held AS (SELECT b.* FROM meta m JOIN bk b ON m.doc_id = b.vec_id WHERE NOT m.is_train),
        dropped AS (
          SELECT DISTINCT t.doc_id
          FROM train t JOIN held h ON ($cond)
          WHERE floor(list_dot_product(t.e, h.e) * 1000.0 /
            (sqrt(list_dot_product(t.e, t.e)) * sqrt(list_dot_product(h.e, h.e)))) >= 400),
        tr AS (SELECT doc_id, lang, n_toks FROM meta WHERE is_train)
        SELECT tr.lang, CAST(count(*) AS BIGINT) AS n_train,
               CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN tr.n_toks ELSE 0 END) AS BIGINT) AS tokens_dropped,
               CAST(sum(CASE WHEN d.doc_id IS NULL THEN tr.n_toks ELSE 0 END) AS BIGINT) AS tokens_clean
        FROM tr LEFT JOIN dropped d ON tr.doc_id = d.doc_id
        GROUP BY tr.lang
        ORDER BY tr.lang"""
  }

  /** The decontamination APPLY step (s23) — the materialized end state
    * the two gates imply, t49-style capstone of the eval-integrity story:
    * the cleaned TRAINING CORPUS after both the lexical rule (t44: any
    * train doc sharing an 8-token shingle with the heldout set) and the
    * semantic rule (s22: any train doc whose embedding clears the cosine
    * bar against any heldout embedding) have dropped their casualties.
    * One row per KEPT train doc — (doc_id, lang, n_toks) — the frame a
    * pipeline feeds to packing (t08/t45) after eval hygiene. Both gates
    * read the SAME t06 salted-hash split, so this is exactly t44's and
    * s22's decisions applied — the composed oracle replays both gates'
    * CTE chains in one statement (hash-verifying the identity end to
    * end), and SimilaritySpec pins the per-lang kept counts against the
    * two reports' inclusion-exclusion bounds.
    *
    * Scale shape: the union of two already-linear dropped-id sets
    * (lexical: one equi-semi-join of exploded train shingles against the
    * heldout minority; semantic: the bipartite bucket join with
    * heldout-count-derived K) anti-joined back onto the train frame —
    * no new shuffle class beyond the gates themselves.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * def gram(p: String) = (1 to 8).map(p + _).mkString(" ")
    * val e = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    * val docs = Seq(
    *   (1L, "clean text one", "en"),           // train: embedding mirrors held -> dropped (semantic)
    *   (2L, s"lead ${gram("g")}", "en"),       // train: leaks shingle g -> dropped (lexical)
    *   (3L, "clean text two", "en"),           // train: clean both ways -> KEPT
    *   (9L, s"${gram("g")} tail", "en"))       // heldout
    *   .toDF("doc_id", "text", "lang")
    * val emb = Seq((1L, e.clone()), (2L, e.map(-_)), (3L, e.map(-_)), (9L, e))
    *   .toDF("vec_id", "embedding")
    * decontaminatedCorpus(spark, docs, emb, trainPred = $"doc_id" < 9L)
    *   .as[(Long, String, Long)].collect().toSeq == Seq((3L, "en", 3L))
    * }}}
    */
  def decontaminatedCorpus(s: SparkSession, docs: DataFrame,
      embeddings: DataFrame,
      trainPred: Column = TextQueries.trainSplitPred,
      minCosMilli: Long = 400L,
      tables: Int = DedupQueries.lshTableCount,
      planesPerTable: Int = DedupQueries.AutoPlanes,
      dim: Int = DedupQueries.embDim): DataFrame = {
    import s.implicits._
    // one scan: shingle keys + token counts + the split, read by both gates
    val sh = OpCache.persistRotating("decontaminatedCorpus.shingles",
      TextQueries.docShingles(docs).withColumn("is_train", trainPred))
    val trainSh = sh.filter($"is_train")
    val heldSh = sh.filter(!$"is_train")
      .select(explode($"gs").as("g")).distinct()
    val lexDropped = TextQueries.lexDroppedIds(trainSh, heldSh)
    // semantic gate: identical geometry derivation to semanticDecontaminateReport
    val vecs = embeddings.select($"vec_id".as("doc_id"), $"embedding")
    val held = sh.filter(!$"is_train").select($"doc_id").join(vecs, Seq("doc_id"))
    val semDropped = LshPairs.crossPairs(trainSh.select($"doc_id").join(vecs, Seq("doc_id")),
        LshPairs.sideOf(held, tables, planesPerTable, dim))
      .filter($"cos_milli" >= minCosMilli)
      .select($"a".as("doc_id")).distinct()
    trainSh
      .join(lexDropped.unionByName(semDropped).distinct(), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", $"n_toks")
      .orderBy($"doc_id")
  }

  /** The s23 oracle: t44's shingle/split CTE chain (via
    * [[TextQueries.lexDroppedSqlCtes]]) composed with s22's literal-plane
    * bucket CTEs, dropped sets unioned, anti-joined back onto the train
    * frame. */
  private def s23OracleSql: String = {
    val (bcols, cond) = fixtureBucketSql("t", "h")
    s"""
        WITH ${TextQueries.lexDroppedSqlCtes},
        bk AS (SELECT vec_id, e,
               $bcols
               FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)),
        vtrain AS (SELECT m.doc_id, b.* FROM trainsh m JOIN bk b ON m.doc_id = b.vec_id),
        vheld AS (SELECT b.* FROM sh m JOIN bk b ON m.doc_id = b.vec_id WHERE m.split = 'heldout'),
        semdrop AS (
          SELECT DISTINCT t.doc_id
          FROM vtrain t JOIN vheld h ON ($cond)
          WHERE floor(list_dot_product(t.e, h.e) * 1000.0 /
            (sqrt(list_dot_product(t.e, t.e)) * sqrt(list_dot_product(h.e, h.e)))) >= 400),
        dropped AS (SELECT doc_id FROM lexdrop UNION SELECT doc_id FROM semdrop)
        SELECT tr.doc_id, tr.lang, tr.n_toks
        FROM trainsh tr LEFT JOIN dropped d ON tr.doc_id = d.doc_id
        WHERE d.doc_id IS NULL
        ORDER BY tr.doc_id"""
  }

  /** The s09 pipeline over an arbitrary (vec_id, embedding) table: the
    * [[LshPairs]] self form with both orientations of each pair, ranked
    * top-k per source. Bucket geometry defaults to AUTO: K is derived from
    * the corpus count by the rule on [[DedupQueries.autoPlanesPerTable]]
    * (at the 500-vector fixture the derived K equals d06's fixture tuning,
    * so sf0.01 oracles are unchanged; ScaleSpec drives both an explicit
    * K=14 and the auto geometry over 2k/20k synthetic vectors).
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // same 4 vectors: kNN edges exist only within shared LSH buckets
    * knnGraph(spark, emb).select($"vec_id", $"nbr_id").as[(Long, Long)]
    *   .collect().toSet == Set((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L))
    * }}}
    */
  def knnGraph(s: SparkSession, embeddings: DataFrame,
      tables: Int = DedupQueries.lshTableCount,
      planesPerTable: Int = DedupQueries.AutoPlanes,
      dim: Int = DedupQueries.embDim,
      k: Int = 5): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"a").orderBy($"cos_milli".desc, $"b")
    LshPairs.selfPairs("knnGraph", embeddings, tables, planesPerTable, dim, _ =!= _)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"a".as("vec_id"), $"rank", $"b".as("nbr_id"), $"cos_milli")
      .orderBy($"vec_id", $"rank")
  }

  /** The s09 oracle: d06's literal-plane bucket columns (same fixed-seed
    * hyperplanes as the Spark kernel), symmetric shared-bucket join,
    * exact-cosine rank — the established bucketed-candidate replay. */
  private def s09OracleSql: String = {
    val (bcols, cond) = fixtureBucketSql("a", "b")
    s"""
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        bk AS (SELECT vec_id, e,
               $bcols
               FROM t),
        cand AS (
          SELECT a.vec_id AS src, b.vec_id AS nbr,
                 CAST(floor(list_dot_product(a.e, b.e) * 1000.0 /
                   (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) AS BIGINT) AS cos_milli
          FROM bk a JOIN bk b ON a.vec_id != b.vec_id AND ($cond)),
        rk AS (
          SELECT src, nbr, cos_milli,
                 CAST(row_number() OVER (PARTITION BY src
                   ORDER BY cos_milli DESC, nbr) AS BIGINT) AS rank
          FROM cand)
        SELECT src AS vec_id, rank, nbr AS nbr_id, cos_milli
        FROM rk WHERE rank <= 5
        ORDER BY vec_id, rank"""
  }

  // ----- PQ helpers ---------------------------------------------------------

  /** Exact integer squared-L2 between `c` and the slice of `a` at `off`. */
  private def subD2(a: Array[Long], off: Int, c: Array[Long]): Long = {
    var dist = 0L; var i = 0
    while (i < c.length) { val x = a(off + i) - c(i); dist += x * x; i += 1 }
    dist
  }

  /** [subspace][codeword][subdim] codebook from the PqK smallest-hash seed
    * vectors (the s03 deterministic hash-sample), sliced per subspace.
    * Codeword index = rank in hash order, matching the oracle's
    * row_number(). Constant size at any corpus scale: O(PqK) collect.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // 2 full-dim vectors -> 2 codewords per subspace, each of PqSubDim
    * // integer-milli components, for all PqM subspaces
    * val e = Seq((1L, Array.tabulate(64)(_.toFloat)),
    *   (2L, Array.fill(64)(1f))).toDF("vec_id", "embedding")
    * val cb = pqCodebook(spark, e)
    * cb.length == PqM && cb.forall(sub => sub.length == 2 &&
    *   sub.forall(_.length == PqSubDim))
    * }}}
    */
  private[graft] def pqCodebook(s: SparkSession, e: DataFrame): Array[Array[Array[Long]]] = {
    import s.implicits._
    val seeds = e.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .map { case (id, emb) => (milliOf(emb), (id * IvfHashMult) ^ Long.MinValue) }
      .toDF("m", "h")
      .orderBy($"h").limit(PqK)
      .as[(Array[Long], Long)]
      .collect().sortBy(_._2).map(_._1)
    Array.tabulate(PqM)(j => seeds.map(_.slice(j * PqSubDim, (j + 1) * PqSubDim)))
  }

  /** The s08 oracle: same hash-sampled seeds as s03 give the codewords
    * (row_number in hash order), list_slice cuts subvectors, the encode
    * argmin and the ADC sum replay in exact BIGINT arithmetic (the
    * |a-b|^2 = aa - 2ab + bb identity over integer-milli lists — every
    * intermediate far below 2^53, so DOUBLE round-trips are exact). */
  private def s08OracleSql: String = s"""
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        mt AS (SELECT vec_id,
                      list_transform(e, x -> CAST(floor(x * 1000) AS BIGINT)) AS m
               FROM t),
        seeds AS (
          SELECT row_number() OVER (ORDER BY (CAST(vec_id AS HUGEINT) * $IvfHashMultUnsigned)
                                             % 18446744073709551616) - 1 AS cw, m
          FROM mt
          ORDER BY (CAST(vec_id AS HUGEINT) * $IvfHashMultUnsigned) % 18446744073709551616
          LIMIT $PqK),
        sub AS (
          SELECT cw, r.j AS j, list_slice(m, r.j * $PqSubDim + 1, (r.j + 1) * $PqSubDim) AS c
          FROM seeds CROSS JOIN range(0, $PqM) r(j)),
        vsub AS (
          SELECT vec_id, r.j AS j, list_slice(m, r.j * $PqSubDim + 1, (r.j + 1) * $PqSubDim) AS v
          FROM mt CROSS JOIN range(0, $PqM) r(j)),
        enc AS (
          SELECT vec_id, j, cw FROM (
            SELECT v.vec_id, v.j, s.cw,
                   row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
                     list_dot_product(v.v, v.v) - 2*list_dot_product(v.v, s.c)
                       + list_dot_product(s.c, s.c), s.cw) AS rk
            FROM vsub v JOIN sub s USING (j)) WHERE rk = 1),
        lut AS (
          SELECT q.vec_id AS query_id, q.j, s.cw,
                 CAST(list_dot_product(q.v, q.v) - 2*list_dot_product(q.v, s.c)
                      + list_dot_product(s.c, s.c) AS BIGINT) AS d2
          FROM vsub q JOIN sub s USING (j)
          WHERE q.vec_id < 5),
        adc AS (
          SELECT l.query_id, e.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
          FROM enc e JOIN lut l ON e.j = l.j AND e.cw = l.cw
          WHERE e.vec_id != l.query_id
          GROUP BY l.query_id, e.vec_id),
        final AS (
          SELECT query_id, vec_id, adc_d2,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_d2, vec_id) AS BIGINT) AS rank
          FROM adc)
        SELECT query_id, rank, vec_id, adc_d2
        FROM final WHERE rank <= 10
        ORDER BY query_id, rank"""

  /** The s07 MMR oracle: candidate generation + MmrK unrolled greedy
    * rounds. Scores are pure integers (7*rel - 3*max_sim), so every
    * argmax tie-breaks identically to the Spark rounds. */
  private def s07OracleSql: String = {
    def cos(a: String, b: String): String =
      s"CAST(floor(list_dot_product($a, $b) * 1000.0 / " +
        s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))) AS BIGINT)"
    val rounds = (2 to MmrK).map { r =>
      s"""
        selu${r - 1} AS (${(1 until r).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")}),
        r$r AS (
          SELECT c.query_id, c.vec_id, c.e, c.rel,
                 CAST(c.rel * 7 - 3 * max(${cos("c.e", "s.e")}) AS BIGINT) AS score
          FROM cand c JOIN selu${r - 1} s ON s.query_id = c.query_id
          WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} x
                            WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
          GROUP BY c.query_id, c.vec_id, c.e, c.rel),
        s$r AS (
          SELECT query_id, vec_id, e, rel, score, CAST($r AS BIGINT) AS pick_rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rk
            FROM r$r) WHERE rk = 1)"""
    }.mkString(",")
    val unionAll = (1 to MmrK).map(i => s"SELECT query_id, pick_rank, vec_id, rel, score FROM s$i")
      .mkString("\n          UNION ALL ")
    s"""
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        q AS (SELECT vec_id AS query_id, e AS qe FROM t WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, t.vec_id, t.e, ${cos("q.qe", "t.e")} AS rel
          FROM q JOIN t ON t.vec_id != q.query_id),
        cand AS (
          SELECT query_id, vec_id, e, rel FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rk
            FROM scored) WHERE rk <= $MmrCandDepth),
        s1 AS (
          SELECT query_id, vec_id, e, rel, CAST(rel * 7 AS BIGINT) AS score,
                 CAST(1 AS BIGINT) AS pick_rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rk
            FROM cand) WHERE rk = 1),
        $rounds
        SELECT query_id, pick_rank, vec_id, rel, score FROM (
          $unionAll)
        ORDER BY query_id, pick_rank"""
  }

  /** The two-stage (projected coarse + exact re-rank) oracle: the 16
    * projection rows as literals; both stages' rankings recomputed. */
  private def s05OracleSql: String = {
    val rows = VectorFns.hyperplanes(ProjDim, Dim)
    val projList = rows.map(r => s"list_dot_product(e, ${planeLit(r)})").mkString("[", ",\n                   ", "]")
    s"""
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        p AS (SELECT vec_id, e, $projList AS pv FROM t),
        q AS (SELECT vec_id AS query_id, e AS qe, pv AS qp FROM p WHERE vec_id < 5),
        coarse AS (
          SELECT q.query_id, p.vec_id, p.e, q.qe,
                 CAST(floor(list_dot_product(q.qp, p.pv) * 1000.0 /
                   (sqrt(list_dot_product(q.qp, q.qp)) * sqrt(list_dot_product(p.pv, p.pv)))) AS BIGINT) AS cm
          FROM q JOIN p ON p.vec_id != q.query_id),
        c50 AS (
          SELECT query_id, vec_id, e, qe FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cm DESC, vec_id) AS crk
            FROM coarse) WHERE crk <= $RerankDepth),
        exact AS (
          SELECT query_id, vec_id,
                 CAST(floor(list_dot_product(qe, e) * 1000.0 /
                   (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e)))) AS BIGINT) AS cos_milli
          FROM c50),
        final AS (
          SELECT query_id, vec_id, cos_milli,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_milli DESC, vec_id) AS BIGINT) AS rank
          FROM exact)
        SELECT query_id, rank, vec_id, cos_milli
        FROM final WHERE rank <= 10
        ORDER BY query_id, rank"""
  }

  /** The LSH result set is deterministic given the fixed-seed hyperplanes,
    * so it has a full oracle: the planes are embedded as SQL literals and
    * the bucket (sign bits) + hamming<=3 candidate set + exact ranking are
    * recomputed in DuckDB. */
  /** The sign-LSH bucket of column `e` as DuckDB SQL over the SAME literal
    * hyperplanes Spark uses — shared by the s02 and s21 oracles. */
  private def lshBucketSql: String = {
    val planes = VectorFns.hyperplanes(NumPlanes, Dim)
    (0 until NumPlanes).map { i =>
      s"(CASE WHEN list_dot_product(e, ${planeLit(planes(i))}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
  }

  private def s02OracleSql: String = {
    val bucketExpr = lshBucketSql
    s"""
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        b AS (SELECT vec_id, e, $bucketExpr AS bucket FROM t),
        q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qb FROM b WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, b.vec_id,
                 CAST(floor(list_dot_product(q.qe, b.e) * 1000.0 /
                   (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(b.e, b.e)))) AS BIGINT) AS cos_milli
          FROM q JOIN b ON b.vec_id != q.query_id AND bit_count(xor(b.bucket, q.qb)) <= 3),
        ranked AS (
          SELECT query_id, vec_id, cos_milli,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_milli DESC, vec_id) AS BIGINT) AS rank
          FROM scored)
        SELECT query_id, rank, vec_id, cos_milli
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank"""
  }

  /** The s10 oracle: the SAME postings/df/dl/stats tables and the SAME
    * integer contribution formula (rendered with DuckDB's `//`), so the
    * scores hash-match bit for bit. */
  private def s10OracleSql: String = {
    val values = Bm25Terms
      .map { case (q, t) => s"(CAST($q AS BIGINT), '$t')" }.mkString(", ")
    s"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
          FROM documents),
        dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
               FROM toks GROUP BY doc_id, tok),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM dt GROUP BY doc_id),
        dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(dl) AS BIGINT) AS t_total FROM dl),
        terms(query_id, tok) AS (VALUES $values),
        scored AS (
          SELECT query_id, doc_id,
                 CAST(sum(${bm25Contrib("//")}) // 1000 AS BIGINT) AS score_milli
          FROM dt
          JOIN terms USING (tok)
          JOIN dft USING (tok)
          JOIN dl USING (doc_id)
          CROSS JOIN st
          GROUP BY query_id, doc_id),
        ranked AS (
          SELECT query_id, doc_id, score_milli,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY score_milli DESC, doc_id) AS BIGINT) AS rank
          FROM scored)
        SELECT query_id, rank, doc_id, score_milli
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank"""
  }

  /** The s20 oracle: s10's integer BM25 with the query docs' term sets as
    * queries, s01's cosine ranking, RRF-fused over each side's top FuseR
    * with integer micro contributions. */
  private def s20OracleSql: String = s"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
          FROM documents),
        dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
               FROM toks GROUP BY doc_id, tok),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM dt GROUP BY doc_id),
        dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(dl) AS BIGINT) AS t_total FROM dl),
        qt AS (SELECT doc_id AS query_id, tok FROM dt WHERE doc_id < 5),
        lexs AS (
          SELECT query_id, doc_id,
                 CAST(sum(${bm25Contrib("//")}) // 1000 AS BIGINT) AS score_milli
          FROM dt
          JOIN qt USING (tok)
          JOIN dft USING (tok)
          JOIN dl USING (doc_id)
          CROSS JOIN st
          WHERE doc_id != query_id
          GROUP BY query_id, doc_id),
        lexr AS (
          SELECT query_id, doc_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY score_milli DESC, doc_id) AS BIGINT) AS lex_rank
          FROM lexs QUALIFY lex_rank <= $FuseR),
        t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        qv AS (SELECT vec_id AS query_id, e AS qe FROM t WHERE vec_id < 5),
        vecs AS (
          SELECT qv.query_id, t.vec_id AS doc_id,
                 CAST(floor(list_dot_product(qv.qe, t.e) * 1000.0 /
                   (sqrt(list_dot_product(qv.qe, qv.qe)) *
                    sqrt(list_dot_product(t.e, t.e)))) AS BIGINT) AS cos_milli
          FROM qv JOIN t ON t.vec_id != qv.query_id),
        vecr AS (
          SELECT query_id, doc_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_milli DESC, doc_id) AS BIGINT) AS vec_rank
          FROM vecs QUALIFY vec_rank <= $FuseR),
        fused AS (
          SELECT coalesce(l.query_id, v.query_id) AS query_id,
                 coalesce(l.doc_id, v.doc_id) AS doc_id,
                 coalesce(l.lex_rank, 0) AS lex_rank,
                 coalesce(v.vec_rank, 0) AS vec_rank,
                 CAST(coalesce($RrfScale // ($RrfK + l.lex_rank), 0)
                    + coalesce($RrfScale // ($RrfK + v.vec_rank), 0) AS BIGINT) AS fused_micro
          FROM lexr l FULL JOIN vecr v
            ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
        ranked AS (
          SELECT query_id, doc_id, fused_micro, lex_rank, vec_rank,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY fused_micro DESC, doc_id) AS BIGINT) AS rank
          FROM fused)
        SELECT query_id, rank, doc_id, fused_micro,
               CAST(lex_rank AS BIGINT) AS lex_rank,
               CAST(vec_rank AS BIGINT) AS vec_rank
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank"""

  /** The s21 oracle: s20's fusion verbatim, with the lexical side scoring
    * from the impact-pruned postings (stats from the full table) and the
    * vector side from s02's LSH bucket neighborhoods. */
  private def s21OracleSql: String = s"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
          FROM documents),
        dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
               FROM toks GROUP BY doc_id, tok),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM dt GROUP BY doc_id),
        dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(dl) AS BIGINT) AS t_total FROM dl),
        qt AS (SELECT doc_id AS query_id, tok FROM dt WHERE doc_id < 5),
        dti AS (
          SELECT doc_id, tok, tf FROM (
            SELECT doc_id, tok, tf,
                   row_number() OVER (PARTITION BY tok
                     ORDER BY tf DESC, doc_id) AS ir
            FROM dt)
          WHERE ir <= $ImpactPostings),
        lexs AS (
          SELECT query_id, doc_id,
                 CAST(sum(${bm25Contrib("//")}) // 1000 AS BIGINT) AS score_milli
          FROM dti
          JOIN qt USING (tok)
          JOIN dft USING (tok)
          JOIN dl USING (doc_id)
          CROSS JOIN st
          WHERE doc_id != query_id
          GROUP BY query_id, doc_id),
        lexr AS (
          SELECT query_id, doc_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY score_milli DESC, doc_id) AS BIGINT) AS lex_rank
          FROM lexs QUALIFY lex_rank <= $FuseR),
        t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        b AS (SELECT vec_id, e, $lshBucketSql AS bucket FROM t),
        qv AS (SELECT vec_id AS query_id, e AS qe, bucket AS qb
               FROM b WHERE vec_id < 5),
        vecs AS (
          SELECT qv.query_id, b.vec_id AS doc_id,
                 CAST(floor(list_dot_product(qv.qe, b.e) * 1000.0 /
                   (sqrt(list_dot_product(qv.qe, qv.qe)) *
                    sqrt(list_dot_product(b.e, b.e)))) AS BIGINT) AS cos_milli
          FROM qv JOIN b ON b.vec_id != qv.query_id
            AND bit_count(xor(b.bucket, qv.qb)) <= 3),
        vecr AS (
          SELECT query_id, doc_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_milli DESC, doc_id) AS BIGINT) AS vec_rank
          FROM vecs QUALIFY vec_rank <= $FuseR),
        fused AS (
          SELECT coalesce(l.query_id, v.query_id) AS query_id,
                 coalesce(l.doc_id, v.doc_id) AS doc_id,
                 coalesce(l.lex_rank, 0) AS lex_rank,
                 coalesce(v.vec_rank, 0) AS vec_rank,
                 CAST(coalesce($RrfScale // ($RrfK + l.lex_rank), 0)
                    + coalesce($RrfScale // ($RrfK + v.vec_rank), 0) AS BIGINT) AS fused_micro
          FROM lexr l FULL JOIN vecr v
            ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
        ranked AS (
          SELECT query_id, doc_id, fused_micro, lex_rank, vec_rank,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY fused_micro DESC, doc_id) AS BIGINT) AS rank
          FROM fused)
        SELECT query_id, rank, doc_id, fused_micro,
               CAST(lex_rank AS BIGINT) AS lex_rank,
               CAST(vec_rank AS BIGINT) AS vec_rank
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank"""

  /** The s11 oracle: s09's full kNN oracle nested as a CTE, the same
    * mutual-edge filter, then the d08 recursive-CTE transitive closure
    * with min-reachable-id labels. */
  private def s11OracleSql: String = s"""
        WITH RECURSIVE knn AS ($s09OracleSql),
        dir AS (SELECT vec_id AS a, nbr_id AS b FROM knn),
        mutual AS (
          SELECT a, b FROM dir
          WHERE a < b AND EXISTS (
            SELECT 1 FROM dir d2 WHERE d2.a = dir.b AND d2.b = dir.a)),
        edges AS (
          SELECT a, b FROM mutual
          UNION ALL
          SELECT b, a FROM mutual),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS (
          SELECT t.vec_id,
                 least(t.vec_id, coalesce(min(r.b), t.vec_id)) AS cluster_id
          FROM embeddings t LEFT JOIN reach r ON r.a = t.vec_id
          GROUP BY t.vec_id)
        SELECT vec_id, cluster_id FROM labels ORDER BY vec_id"""
}
