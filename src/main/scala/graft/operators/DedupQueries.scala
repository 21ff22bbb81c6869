package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{TextFns, VectorFns}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Deduplication operators over `documents` / `embeddings` (SURVEY.md §2.2
  * LLM ops): exact, n-gram-Jaccard (exact quadratic baseline, blocked),
  * MinHash+LSH (the 100 TB scale path — shuffle on band buckets instead of
  * all-pairs), SimHash chunk-blocking, and embedding-cosine near-dup.
  *
  * Scale design: the quadratic baseline exists only as a correctness anchor
  * (benchmark=false); MinHash-LSH turns near-dup search into
  * explode(bands) + equi-join on (band, hash) — a plain shuffle join Spark
  * distributes and AQE skew-handles. SimHash's 4×16-bit chunk blocking has a
  * pigeonhole guarantee: hamming ≤ 3 implies ≥ 1 identical chunk, so the
  * blocked join finds exactly the hamming ≤ 3 pairs.
  */
object DedupQueries {

  private val P = 2147483647L // 2^31 - 1
  private val NumHashes = 48
  private val Bands = 16 // x 3 rows; P(miss | j=0.8) ≈ 1e-5, j=0.9 ≈ 1e-9
  private val EmbDim = 64
  // 12 tables x 6 planes: measured on the fixture (uniform-ish embeddings,
  // every near-dup pair in the weak 0.4-0.6 cosine band) this cuts
  // candidates 2.5x vs 8x4 (sf0.1: 1.04M -> 409k of 2M possible pairs) at
  // recall 0.59 vs 0.76. At such a low cosine threshold (theta ~ 66deg,
  // p_collision ~ 0.63/plane) sign-LSH candidate counts are intrinsically
  // near-quadratic — real corpora with tight dup clusters (cos >= 0.9,
  // p ~ 0.86/plane) get >= 0.95 recall from this same config with far
  // sparser buckets.
  private val LshTables = 12
  private val LshPlanesPerTable = 6

  /** Sentinel default for `planesPerTable` params: derive K from the corpus
    * count via [[autoPlanesPerTable]]. Callers wanting a FIXED geometry
    * (streaming twins, whose buckets must be stable across micro-batches
    * and restarts; scale specs probing one explicit K) pass a literal. */
  val AutoPlanes: Int = 0

  /** Size gate for the iterative graph kernels' single-task fold paths
    * ([[clusterLabels]]; [[graft.operators.EventQueries.bfsLevels]] and
    * `pageRank` share the constant): an edge set at or below this count
    * (~4M edges = ~64 MiB of (long, long) rows, the order of a large
    * broadcast side) is folded by ONE executor task in memory instead of
    * running per-round distributed joins. The choice is input-size-adaptive
    * exactly like a broadcast join's: above the gate, the O(log diameter)
    * shuffle rounds run unchanged — at 100 TB a billion-edge near-dup
    * graph takes the distributed path, while the many real pipelines whose
    * mined pair set is small skip tens of scheduler round-trips per query.
    * Tests that exercise the distributed loop itself pass a negative gate
    * to force it; `SPARK_GRAFT_LOCAL_FOLD_MAX_EDGES=-1` forces it
    * process-wide (`tools/iter_probe.sh` measures the distributed rounds'
    * real cost this way — below-gate bench numbers otherwise only ever
    * exercise the fold). Which side a call took reads from its
    * `graft.gate.<op>` Observation (see [[OpCache.checkpointObserved]]). Unset, the default is unchanged. Lazy, so a
    * malformed value fails at first use with a message naming the variable,
    * not as an `ExceptionInInitializerError` of this object. */
  lazy val LocalFoldMaxEdges: Long = graft.Env.long("SPARK_GRAFT_LOCAL_FOLD_MAX_EDGES", 4L << 20)

  /** The K-tuning contract, executable. Random (non-neighbor) pairs collide
    * in a K-bit bucket with probability ~L/2^K, so candidates grow as
    * n^2 * L / 2^K unless K grows with log2(n) — this is the rule of thumb
    * documented on [[embeddingLshPairs]], anchored so the 500-vector
    * fixture resolves to exactly the fixture K=6 (every sf0.01 oracle and
    * recall floor is unchanged): K(n) = round(2*log2(n)) - 12, floored at
    * the fixture K and capped at 24 (16M buckets/table — beyond that,
    * per-table recall p^K for the cos>=0.9 near-dup regime decays with no
    * candidate left to prune at any plausible corpus size). Growing K
    * trades away LOW-cosine recall by design (the fixture's deliberately
    * weak 0.4 band is why fixture K is small); the near-dup regime the
    * scale path serves (cos >= 0.9, p ~ 0.86/plane) keeps multi-table
    * recall high: at K=19, 1-(1-0.86^19)^12 ~ 0.55 per table set against
    * a candidate set ~3000x sparser than K=6 would give at that n.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * autoPlanesPerTable(500) == lshPlanesPerTableCount // fixture anchor
    * autoPlanesPerTable(5000) == 13
    * autoPlanesPerTable(50000) == 19
    * }}}
    */
  def autoPlanesPerTable(n: Long): Int = {
    val log2n = math.log(math.max(n, 1L).toDouble) / math.log(2.0)
    math.min(24, math.max(LshPlanesPerTable, math.round(2.0 * log2n).toInt - 12))
  }

  /** Deterministic affine minhash params (fixed-seed LCG, driver-side). */
  private val (hashA, hashB): (Array[Long], Array[Long]) = {
    var s = 42L
    def next(bound: Long): Long = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33) % bound + bound) % bound
    }
    val a = Array.fill(NumHashes)(next(1 << 20) + 1) // nonzero, < 2^20: no overflow in a*h
    val b = Array.fill(NumHashes)(next(P))
    (a, b)
  }

  /** 48-element minhash signature of a distinct-shingle array. One xxhash64
    * per shingle, then cheap affine maps — all native expressions.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val sh = Seq(Seq("a b c", "b c d"), Seq("b c d", "a b c")).toDF("sh")
    * // set semantics: 48-row signatures, identical for identical shingle sets
    * sh.select(minhashSig($"sh")).collect()  // two equal 48-element arrays
    * }}}
    */
  def minhashSig(sh: Column): Column = {
    val hs = transform(sh, x => pmod(xxhash64(x), lit(P)))
    array((0 until NumHashes).map { i =>
      array_min(transform(hs, h => pmod(h * hashA(i) + hashB(i), lit(P))))
    }: _*)
  }

  /** Band hashes (16 bands of 3 signature rows each).
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * sh.select(bandHashes(minhashSig($"sh")))  // 16 band hashes per doc
    * }}}
    */
  def bandHashes(sig: Column): Column =
    array((0 until Bands).map { j =>
      xxhash64(lit(j), element_at(sig, j * 3 + 1), element_at(sig, j * 3 + 2),
        element_at(sig, j * 3 + 3))
    }: _*)

  /** 64-bit SimHash from token multiset: bit b is set iff the sum over
    * tokens of ±1 (by bit b of the token's hash) is positive. Per-bit
    * literal masks (not column-valued shifts) keep it all native exprs.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * Seq(Seq("the", "quick", "fox"), Seq("fox", "quick", "the")).toDF("t")
    *   .select(simhash($"t"))  // equal hashes: multiset semantics, order-free
    * }}}
    */
  def simhash(toksCol: Column): Column = {
    val hs = transform(toksCol, t => xxhash64(t))
    (0 until 64).map { b =>
      val mask = lit(1L << b)
      when(
        aggregate(hs, lit(0L),
          (acc, h) => acc + when(h.bitwiseAND(mask) =!= 0, 1L).otherwise(-1L)) > 0,
        mask).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** Distinct 3-token shingles per doc. Tokenization is native; the shingle
    * build runs in a typed JVM map: the expression form
    * (TextFns.shingles) references the token array from inside a lambda and
    * Catalyst inlines it, re-running regexp+split for every element access —
    * measured 12s vs 0.4s over 5000 docs at sf0.1. Same values either way
    * (partial trailing shingle via space-joined available tokens, then
    * distinct), so the DuckDB PairSql oracle is unchanged.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * shinglesOf(spark, Seq((1L, "a b c d")).toDF("doc_id", "text"))
    *   .as[(Long, Seq[String])].head() == ((1L, Seq("a b c", "b c d")))
    * }}}
    */
  private def docShingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(s, Tables.documents(s, d))

  def shinglesOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs
      .select($"doc_id", TextFns.tokens($"text").as("t"))
      .as[(Long, Seq[String])]
      .map { case (id, t) =>
        val n = math.max(t.length - 2, 1)
        val sh = new scala.collection.mutable.LinkedHashSet[String]
        var i = 0
        while (i < n) {
          sh += t.slice(i, math.min(i + 3, t.length)).mkString(" ")
          i += 1
        }
        (id, sh.toSeq)
      }
      .toDF("doc_id", "sh")
  }

  /** JVM twin of [[graft.functions.TextFns.tokens]] for the typed streaming
    * path: trim SPACES only (Spark `trim` semantics — NOT Java's
    * control-char trim), root-locale lowercase, collapse whitespace runs,
    * split on single spaces KEEPING empties (Spark `split` keeps trailing
    * empty strings). StreamIngestTwsSpec property-tests equivalence with
    * the Column kernel over the real documents table.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * tokensOf("  Hello   WORLD ") == Seq("hello", "world")
    * }}}
    */
  def tokensOf(text: String): Seq[String] = {
    var s = 0; var e = text.length
    while (s < e && text.charAt(s) == ' ') s += 1
    while (e > s && text.charAt(e - 1) == ' ') e -= 1
    text.substring(s, e).toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ").split(" ", -1).toSeq
  }

  /** JVM twin of [[shinglesOf]]'s per-row kernel: the distinct 3-token
    * shingles of one text, in first-occurrence order.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * shinglesOfText("a b c d") == Seq("a b c", "b c d")
    * }}}
    */
  def shinglesOfText(text: String): Seq[String] = {
    val t = tokensOf(text)
    val n = math.max(t.length - 2, 1)
    val sh = new scala.collection.mutable.LinkedHashSet[String]
    var i = 0
    while (i < n) {
      sh += t.slice(i, math.min(i + 3, t.length)).mkString(" ")
      i += 1
    }
    sh.toSeq
  }

  /** cache() only if this exact plan isn't already cached — d03 and d08
    * share `minhashNearDupPairs`, and a second .cache() on the same plan
    * logs "Asked to cache already cached data" and re-registers nothing. */
  private def cached(df: DataFrame): DataFrame = {
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.cache()
    df
  }

  /** FNV-1a 64-bit — the JVM-loop hash for the signature hot path. The
    * minhash/simhash result contract does not depend on hash choice (LSH
    * candidates are re-verified with exact jaccard), so the sketch kernels
    * run as per-partition JVM loops (~10us/doc) instead of interpreted
    * higher-order expressions (~3.5ms/doc measured at sf0.1) — that
    * per-doc constant IS the 100 TB bottleneck. */
  private def fnv64(str: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < str.length) { h ^= str.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** JVM minhash-signature kernel over a distinct-shingle set — the hot-loop
    * twin of [[minhashSig]], shared by the batch band explode and the
    * streaming dedup processor so both compute identical sketches.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val sig = minhashSigOf(Seq("a b c", "b c d"))  // 48 rows
    * sig.toSeq == minhashSigOf(Seq("b c d", "a b c")).toSeq  // order-free
    * }}}
    */
  def minhashSigOf(sh: Seq[String]): Array[Long] = {
    val hs = sh.iterator.map(x => ((fnv64(x) % P) + P) % P).toArray
    Array.tabulate(NumHashes) { i =>
      var m = Long.MaxValue; var j = 0
      while (j < hs.length) {
        val v = (hs(j) * hashA(i) + hashB(i)) % P
        if (v < m) m = v
        j += 1
      }
      m
    }
  }

  /** JVM band hash of band `b` of a [[minhashSigOf]] signature.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * bandHashOf(0, sig)  // pure function of signature rows 0..2
    * }}}
    */
  def bandHashOf(b: Int, sig: Array[Long]): Long =
    fnv64(s"$b:${sig(b * 3)}:${sig(b * 3 + 1)}:${sig(b * 3 + 2)}")

  /** LSH band count — the streaming processor scans bands for the minimal
    * shared one to make pair emission exactly-once. */
  def numBands: Int = Bands

  /** JVM twin of [[TextFns.jaccardMilli]] over distinct-shingle seqs:
    * floor(1000·|∩|/|∪|), identical to the Column form on positive sizes.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * jaccardMilliOf(Seq("a", "b", "c"), Seq("b", "c", "d")) == 500L  // 2/4
    * }}}
    */
  def jaccardMilliOf(a: Seq[String], b: Seq[String]): Long = {
    val sa = a.toSet
    val sb = b.toSet
    val inter = sa.count(sb.contains)
    val union = sa.size + sb.size - inter
    inter.toLong * 1000L / union
  }

  /** (doc_id, band, band_hash) rows, sketch computed in a JVM loop. */
  private def bandRowsTyped(s: SparkSession, shingleDf: DataFrame): DataFrame = {
    import s.implicits._
    shingleDf.select($"doc_id", $"sh").as[(Long, Seq[String])]
      .flatMap { case (id, sh) =>
        val sig = minhashSigOf(sh)
        (0 until Bands).iterator.map(b => (id, b, bandHashOf(b, sig)))
      }
      .toDF("doc_id", "band", "bh")
  }

  /** The MinHash-LSH near-dup pipeline in its skew-proof form. Exact
    * duplicates (identical normalized text) are collapsed to one
    * representative BEFORE sketching, so an adversarial flood of m
    * identical documents contributes ONE row per band bucket instead of m
    * (whose self-join would explode as m^2 — the "unsalted bucket" hazard);
    * the full pair set is recovered afterwards by expanding representative
    * pairs over their duplicate groups (identical texts have identical
    * jaccard) plus the j=1000 within-group pairs. The result — and the
    * PairSql oracle — are unchanged. The pair-LISTING contract itself is
    * inherently O(m^2) in duplicate multiplicity (the output enumerates
    * every pair); the keep-one materialization (d07) stays linear.
    *
    * Sketches + band rows are materialized once (cache) — without it the
    * self-join recomputes the sketch on BOTH sides of every band row
    * (measured 886s vs ~5s at sf0.1). At cluster scale the same principle
    * holds: persist the signature table before the band join.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val base = (1 to 30).map("w" + _).mkString(" ")
    * val docs = Seq((1L, base), (2L, base + " tail"),
    *   (3L, "something else entirely")).toDF("doc_id", "text")
    * minhashNearDupPairs(spark, docs).select($"doc_a", $"doc_b")
    *   .as[(Long, Long)].collect().toSeq == Seq((1L, 2L))
    * }}}
    */
  def minhashNearDupPairs(s: SparkSession, docs: DataFrame): DataFrame =
    minhashNearDupPairsUnordered(s, docs).orderBy(col("doc_a"), col("doc_b"))

  /** [[minhashNearDupPairs]] without the final global sort — the form every
    * SET consumer (cluster labeling, overlap matrices, pair-set joins)
    * should read: the sort is part of d03's DECLARED output contract, not
    * of the pair set, and each labeling query that consumed the ordered
    * frame paid a full range-exchange + sort of the pair table it then
    * immediately hash-shuffled again (guide §2.4: an orderBy used only for
    * deterministic output). */
  private[graft] def minhashNearDupPairsUnordered(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val groups = exactDupGroups(docs)
    val sh = cached(shinglesOf(s, groups.select($"rep".as("doc_id"), $"text")))
    val bands = cached(bandRowsTyped(s, sh))
    val cand = bands.select($"band", $"bh", $"doc_id".as("rep_a"))
      .join(bands.select($"band", $"bh", $"doc_id".as("rep_b")), Seq("band", "bh"))
      .filter($"rep_a" < $"rep_b")
      .select($"rep_a", $"rep_b").distinct()
    expandRepPairs(groups, verifyJaccard(cand, sh))
  }

  /** [[minhashNearDupPairsUnordered]] for a caller that GUARANTEES one row
    * per distinct normalized text (the streaming-ingest canon table: one
    * canonical doc per content key, where content_key = md5 of the
    * normalized text). Exact-dup groups are then singletons by
    * construction, so the md5-collapse shuffle is skipped and the group
    * re-expansion is the identity rename — the rest (sketch, band join,
    * exact verify) is the d03 kernel unchanged. Gated by the t38 oracle,
    * which replays the full composition including this contract. */
  private[graft] def minhashNearDupPairsPreCollapsed(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val sh = cached(shinglesOf(s, docs.select($"doc_id", $"text")))
    val bands = cached(bandRowsTyped(s, sh))
    val cand = bands.select($"band", $"bh", $"doc_id".as("rep_a"))
      .join(bands.select($"band", $"bh", $"doc_id".as("rep_b")), Seq("band", "bh"))
      .filter($"rep_a" < $"rep_b")
      .select($"rep_a", $"rep_b").distinct()
    verifyJaccard(cand, sh)
      .select($"rep_a".as("doc_a"), $"rep_b".as("doc_b"), $"j_milli")
  }

  /** Exact-duplicate collapse shared by every pair-mining pipeline: one row
    * per distinct normalized text, keeping the min doc_id as representative
    * plus the full sorted member list for later expansion. This is the
    * skew-proof pre-pass — an adversarial flood of m identical documents
    * contributes ONE row to any downstream bucket instead of m (whose
    * self-join would explode as m²). */
  private def exactDupGroups(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    cached(docs
      .select($"doc_id", $"text", md5(TextFns.normalize($"text")).as("k"))
      .groupBy($"k")
      // first(text) is order-nondeterministic across raw variants that share
      // a normalized form (case/whitespace), but every consumer re-normalizes
      // before shingling (TextFns.tokens), so any representative yields
      // bit-identical downstream sketches — the choice cannot reach output.
      .agg(min($"doc_id").as("rep"), sort_array(collect_list($"doc_id")).as("ids"),
        first($"text").as("text")))
  }

  /** Exact-jaccard verification of a candidate (rep_a, rep_b) set against
    * the shingle table — removes every candidate-generation false positive,
    * so any GENERATION scheme with guaranteed recall yields the exact pair
    * set. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame): DataFrame = {
    import cand.sparkSession.implicits._
    // shingle arrays are DISTINCT by construction (shinglesOf), so
    // |a ∪ b| = |a| + |b| − |a ∩ b|: one array_intersect pass (codegen
    // subexpression elimination shares the two references) replaces
    // jaccardMilli's intersect + union — the union's hash-set build was
    // half the verify stage's per-pair CPU. Same value bit for bit on
    // distinct inputs (DedupSpec's exact-pair gates and every d03/d13
    // oracle cover it).
    val inter = size(array_intersect($"sh_a", $"sh_b"))
    val jm = floor(inter * lit(1000.0) / (size($"sh_a") + size($"sh_b") - inter))
      .cast("long")
    cand
      .join(sh.select($"doc_id".as("rep_a"), $"sh".as("sh_a")), Seq("rep_a"))
      .join(sh.select($"doc_id".as("rep_b"), $"sh".as("sh_b")), Seq("rep_b"))
      .select($"rep_a", $"rep_b", jm.as("j_milli"))
      .filter($"j_milli" >= 800)
  }

  /** Expand verified representative pairs back over their exact-duplicate
    * groups: cross-group pairs inherit the representatives' jaccard
    * (identical texts => identical shingle sets), within-group pairs are
    * exact duplicates (jaccard 1000 by definition). */
  private def expandRepPairs(groups: DataFrame, verified: DataFrame): DataFrame = {
    import groups.sparkSession.implicits._
    val cross = verified
      .join(groups.select($"rep".as("rep_a"), $"ids".as("ids_a")), Seq("rep_a"))
      .join(groups.select($"rep".as("rep_b"), $"ids".as("ids_b")), Seq("rep_b"))
      .select(explode($"ids_a").as("ia"), $"ids_b", $"j_milli")
      .select($"ia", explode($"ids_b").as("ib"), $"j_milli")
      .select(least($"ia", $"ib").as("doc_a"), greatest($"ia", $"ib").as("doc_b"), $"j_milli")
    val within = groups.filter(size($"ids") > 1)
      .select($"ids").as[Seq[Long]]
      .flatMap(ids => ids.combinations(2).map(p => (p(0), p(1), 1000L)))
      .toDF("doc_a", "doc_b", "j_milli")
    cross.unionByName(within)
  }

  /** EXACT Jaccard similarity join at scale via prefix filtering — the
    * AllPairs/PPJoin candidate scheme (Bayardo–Ma–Srikant, WWW'07; Xiao et
    * al., WWW'08). Same result set as the quadratic baseline d02 and the
    * LSH path d03, but with a recall GUARANTEE the probabilistic sketch
    * lacks: a missed pair is impossible, not merely ~1e-5 unlikely.
    *
    * Principle: fix any global total order on shingles. For Jaccard
    * threshold t, J(A,B) >= t forces |A∩B| >= ceil(t·|A|) (J >= t implies
    * |B| >= t·|A|, so i >= t/(1+t)·(|A|+|B|) >= t·|A|). If the smallest
    * common shingle x were outside A's first |A| − ceil(t·|A|) + 1
    * shingles, every common shingle (all >= x in the order) would sit in
    * A's last ceil(t·|A|) − 1 positions — fewer than the overlap requires.
    * So x lies in BOTH docs' prefixes, and an equi-join on prefix shingles
    * finds every qualifying pair; exact verification then removes false
    * positives. t = 0.8 here, matching j_milli >= 800 exactly (floor(1000
    * i/u) >= 800 <=> 5i >= 4u).
    *
    * Scale shape: ordering shingles by ascending document frequency
    * (rarest first — the order is a performance choice, completeness holds
    * for ANY total order) makes prefix buckets small: a shingle appearing
    * in df docs contributes at most df prefix rows, and common shingles
    * are pushed out of prefixes entirely. Costs are one O(vocab) hash agg
    * for df, per-doc bounded windows for prefix selection (partitioned by
    * doc_id — never corpus-sized), one equi-join on prefix shingle keys,
    * and the shared verify. The 5·n_b >= 4·n_a size filter prunes
    * impossible-size pairs before verification. Exact-duplicate collapse
    * up front caps the worst bucket skew exactly as in d03.
    *
    * Everything after the shingle build runs on 64-bit hashed keys —
    * and unlike the LSH paths this KEEPS the zero-miss guarantee. A
    * collision merges two universe elements, which is monotone toward
    * MORE candidates: hash-set intersections only grow and unions only
    * shrink, so J_hash >= J_string, any truly-similar pair still clears
    * the threshold on the hashed universe, and prefix filtering over
    * hash sets (sizes, df, order (df, h), join key all on the SAME
    * merged universe) remains pigeonhole-complete; the string-set verify
    * then removes every false candidate. Net: only 8-byte keys cross
    * the df/ranking/candidate shuffles (ShuffleSpec-measured), never
    * shingle strings.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // same contract as minhashNearDupPairs, but zero-miss (exact jaccard)
    * prefixFilterNearDupPairs(spark, docs).select($"doc_a", $"doc_b")
    *   .as[(Long, Long)].collect().toSeq == Seq((1L, 2L))
    * }}}
    */
  def prefixFilterNearDupPairs(s: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val groups = exactDupGroups(docs)
    val sh = cached(shinglesOf(s, groups.select($"rep".as("doc_id"), $"text")))
    val toks = cached(sh.select($"doc_id", explode($"sh").as("tok"))
      .select($"doc_id", xxhash64($"tok").as("h")).distinct())
    val sizes = toks.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val dfreq = toks.groupBy($"h").agg(count(lit(1)).as("df"))
    // prefix length p = n − ceil(0.8·n) + 1, with ceil(4n/5) = (4n+4) div 5.
    // BOTH sides of the candidate self-join below read this frame —
    // unpersisted, each side re-runs the df aggregation, the size
    // aggregation, their joins and the per-doc ranking window from the
    // cached toks (the round-9 63-Exchange plan); the rotating slot halves
    // that pipeline to one computation, and the frame is small (O(prefix
    // tokens), 8-byte hashes — far below the shingle table already cached).
    val prefix = OpCache.persistRotating("prefixFilter.prefix",
      toks.join(dfreq, Seq("h")).join(sizes, Seq("doc_id"))
        .withColumn("r", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"df", $"h")))
        .filter($"r" <= $"n" - expr("(n * 4 + 4) div 5") + 1)
        .select($"h", $"doc_id", $"n"))
    val cand = prefix.select($"h", $"doc_id".as("rep_a"), $"n".as("na"))
      .join(prefix.select($"h", $"doc_id".as("rep_b"), $"n".as("nb")), Seq("h"))
      .filter($"rep_a" < $"rep_b" && $"nb" * 5 >= $"na" * 4 && $"na" * 5 >= $"nb" * 4)
      .select($"rep_a", $"rep_b").distinct()
    expandRepPairs(groups, verifyJaccard(cand, sh))
      .orderBy($"doc_a", $"doc_b") // d13's declared output contract
  }

  /** Connected-components cluster labels over an arbitrary near-dup pair
    * set: every doc gets the min doc_id of its transitive cluster
    * (singletons label themselves). Two size-gated execution paths with
    * identical results (LocalFoldSpec asserts equality on randomized
    * graphs):
    *
    *  - at or below [[LocalFoldMaxEdges]] mined pairs, ONE executor task
    *    folds the whole component structure with union-find (no rounds,
    *    no per-round shuffles — the broadcast-join trade applied to the
    *    closure);
    *  - above it, min-label propagation WITH pointer jumping: each round a
    *    node takes the min over (its label, its neighbors' labels) and
    *    then compresses one pointer hop (label := label(label)) — labels
    *    are always doc_ids within the same component, so jumping is sound,
    *    and the component minimum reaches every node in O(log diameter)
    *    rounds instead of O(diameter). Each round is two shuffle joins +
    *    an agg that scale with executors, ONE Spark job (the convergence
    *    count rides the checkpoint job as an Observation side-metric);
    *    the driver only reads metrics (no data collect). If the cap is
    *    ever hit without convergence the query FAILS rather than silently
    *    emitting wrong labels (templated corpora produce arbitrarily long
    *    near-dup chains; a silent cap would mislabel them).
    *
    * Telemetry rides the same side-metrics as named Observations (see
    * [[OpCache.checkpointObserved]]): `graft.gate.clusterLabels` carries
    * the mined edge count the gate decided on, and each distributed round
    * emits one `graft.rounds.clusterLabels` row with the number of labels
    * it changed, the converged round's 0 last (none on the fold path).
    * This is the capacity-planning number for the iterative dedup family:
    * rounds grow with log(component diameter), not with data size, and a
    * frontier that stops shrinking flags a long templated-corpus chain
    * before the maxRounds failure does.
    *
    * Example (run verbatim by DocExamplesSpec): a 2-chain, an edgeless
    * singleton, and a pair collapse to min-id cluster labels:
    * {{{
    * val docs  = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    * val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    * DedupQueries.clusterLabels(docs, pairs).as[(Long, Long)].collect().toSeq ==
    *   Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
    * }}}
    */
  def clusterLabels(docs: DataFrame, pairs: DataFrame, maxRounds: Int = 32,
      localFoldMaxEdges: Long = LocalFoldMaxEdges): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // One materialization of the mined pair set feeds BOTH paths below (the
    // distributed loop previously materialized it into its edge cache
    // anyway), and the size gate rides it as an Observation side-metric —
    // no standalone count action (the ObservationJobsSpec discipline).
    val (p, nEdges) = OpCache.checkpointObserved(pairs.select($"doc_a", $"doc_b"),
      "graft.gate.clusterLabels", count(lit(1)))
    val labels =
      if (localFoldMaxEdges >= 0L && nEdges <= localFoldMaxEdges) localFoldLabels(p)
      else distributedLabels(p, maxRounds)
    // isolated nodes re-enter with their own id as the label
    docs.select($"doc_id").join(labels, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
      .orderBy($"doc_id")
  }

  /** The below-gate path of [[clusterLabels]]: union-find over the WHOLE
    * checkpointed pair set in ONE executor task (path compression + union
    * by MIN root, so every tree root is its component's minimum doc_id —
    * the same label the distributed rounds converge to). No per-round
    * shuffles, no rounds at all: the entire component structure folds in
    * one pass, exactly like a broadcast join folds a small build side into
    * one local hash table. Emits labels for touched nodes only; the caller
    * joins isolated docs back. */
  private def localFoldLabels(p: DataFrame): DataFrame = {
    val s = p.sparkSession
    import s.implicits._
    p.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent.update(c, r); c = n }
        r
      }
      it.foreach { case (a, b) =>
        if (!parent.contains(a)) parent.update(a, a)
        if (!parent.contains(b)) parent.update(b, b)
        val ra = find(a)
        val rb = find(b)
        if (ra < rb) parent.update(rb, ra)
        else if (rb < ra) parent.update(ra, rb)
      }
      val ks = parent.keys.toArray // snapshot: find() mutates values below
      ks.iterator.map(k => (k, find(k)))
    }.toDF("doc_id", "cluster_id")
  }

  /** The above-gate path of [[clusterLabels]]: the O(log diameter)
    * distributed min-label rounds with pointer jumping, over an already
    * checkpointed pair frame. Returns labels for touched nodes only. */
  private def distributedLabels(pairs: DataFrame, maxRounds: Int): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    // (A shuffle-free partition-local union-find contraction pre-pass was
    // measured here and reverted: with hash-shuffled pair sets, adjacent
    // edges almost never share a partition, so local contraction merges
    // nothing — a 20k-node chain scattered over 32 partitions still took
    // 15 rounds with it. The O(log diameter) distributed rounds below are
    // the honest cost; real near-dup components have small diameters.
    // Small pair sets never reach this path at all — clusterLabels folds
    // them in one task below the LocalFoldMaxEdges gate.)
    val edges = pairs.select($"doc_a", $"doc_b")
      .union(pairs.select($"doc_b", $"doc_a"))
      .toDF("src", "dst").cache()
    // Iterate ONLY over nodes that have at least one edge: an isolated
    // node's label can never change, so it joins back once at the end
    // with cluster_id = its own id. At corpus scale this is the
    // difference between per-round joins over the near-dup SUBGRAPH
    // (pairs are a small fraction of docs) and per-round joins over the
    // whole corpus.
    val touched = edges.select($"src".as("doc_id")).distinct()
    // localCheckpoint (eager) per round: the pointer-jump self-join would
    // otherwise DOUBLE the logical plan every round (2^rounds analyzer
    // nodes — lineage, not data, becomes the bottleneck; the standard
    // iterative-graph discipline, same reason GraphX checkpoints)
    var labels = touched.select($"doc_id", $"doc_id".as("cluster_id")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    val frontier = Seq.newBuilder[Long]
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.select($"doc_id".as("dst"), $"cluster_id".as("nl")), "dst")
        .groupBy($"src".as("doc_id")).agg(min($"nl").as("nmin"))
      val stepped = labels.join(nbrMin, Seq("doc_id"), "left")
        .select($"doc_id", $"cluster_id".as("old"),
          least($"cluster_id", coalesce($"nmin", $"cluster_id")).as("cluster_id"))
        .cache()
      // pointer jump: label := min(label, label(label)) — roughly doubles
      // the propagated distance every round. (A second jump per round was
      // measured at sf0.1 and only cut 8 rounds to 7 on the long-chain
      // mutual-kNN graph — the per-round reach is gated by the one-hop
      // nbrMin step, not jump depth — while deepening every round's plan;
      // not worth it.) The pre-round label rides along as `old` so the
      // convergence check below is a filter over the checkpointed result,
      // not another join.
      // The convergence count rides INSIDE the checkpoint job via the
      // Observation API (CollectMetrics): the eager localCheckpoint is the
      // round's one materializing action, and the changed-label sum is
      // collected as a free side-metric of that same job — one Spark job
      // per round instead of checkpoint + count (the round-4 verdict's
      // job-overhead stretch item; ObservationJobsSpec asserts the job
      // count). This also retires the old rounds<2 count-skip heuristic:
      // the exact count is now free every round.
      val (next, c) = OpCache.checkpointObserved(
        stepped.join(
            stepped.select($"doc_id".as("cluster_id"), $"cluster_id".as("ll")),
            Seq("cluster_id"), "left")
          .select($"doc_id", $"old",
            least($"cluster_id", coalesce($"ll", $"cluster_id")).as("cluster_id")),
        "graft.rounds.clusterLabels",
        sum(($"cluster_id" =!= $"old").cast("long"))) // null (no rows) reads 0: converged
      changed = c
      stepped.unpersist()
      labels = next.select($"doc_id", $"cluster_id")
      frontier += changed
      rounds += 1
    }
    require(changed == 0,
      s"near-dup clustering did not converge after $rounds rounds " +
        s"($changed labels still changing); raise maxRounds")
    org.slf4j.LoggerFactory.getLogger("graft.DedupQueries")
      .info(s"clusterLabels converged in $rounds rounds; " +
        s"frontier=${frontier.result().mkString(",")}")
    edges.unpersist()
    labels
  }

  /** Exact-jaccard verified pair set — shared by the quadratic baseline and
    * as the LSH verification step. */
  private val PairSql = """
        WITH toks AS (
          SELECT doc_id, lang,
                 string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, lang,
                 list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                   i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
          FROM toks)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(floor(len(list_intersect(a.s, b.s)) * 1000.0 /
                 len(list_distinct(list_concat(a.s, b.s)))) AS BIGINT) AS j_milli
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE floor(len(list_intersect(a.s, b.s)) * 1000.0 /
                 len(list_distinct(list_concat(a.s, b.s)))) >= 800
        ORDER BY doc_a, doc_b"""

  /** PairSql as a nestable CTE body (no trailing ORDER BY). */
  private def PairSqlNoOrder: String = PairSql.replace("ORDER BY doc_a, doc_b", "")

  val all: Seq[QueryDef] = Seq(

    // ----- exact dedup: hash-groupBy on the normalized text -----------------
    QueryDef(
      "d01_dedup_exact",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(md5(TextFns.normalize($"text"))).as("n_distinct"),
            (count(lit(1)) - countDistinct(md5(TextFns.normalize($"text")))).as("n_exact_dups"))
          .orderBy($"source")
      },
      oracle = Some("""
        SELECT source, count(*) AS n_docs,
               count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_distinct,
               count(*) - count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_exact_dups
        FROM documents
        GROUP BY source
        ORDER BY source""")),

    // ----- exact-dedup materialization: keep one doc per content group ------
    // What a training pipeline actually runs: group by content hash, keep
    // the smallest doc_id as canonical, emit the surviving corpus with its
    // duplicate multiplicity. Pure hash agg — map-side combinable, one
    // shuffle, no skew concern beyond AQE's (a giant duplicate cluster is
    // one group row, not a join explosion).
    QueryDef(
      "d07_dedup_keep_canonical",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .groupBy(md5(TextFns.normalize($"text")).as("content_key"))
          .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
          .select($"doc_id", $"content_key", $"n_copies")
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT min(doc_id) AS doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_key,
               count(*) AS n_copies
        FROM documents
        GROUP BY content_key
        ORDER BY doc_id""")),

    // ----- n-gram Jaccard near-dup: exact quadratic baseline ----------------
    QueryDef(
      "d02_dedup_ngram_jaccard",
      (s, d) => {
        import s.implicits._
        val sh = docShingles(s, d)
        val a = sh.select($"doc_id".as("doc_a"), $"sh".as("sh_a"))
        val b = sh.select($"doc_id".as("doc_b"), $"sh".as("sh_b"))
        a.join(b, $"doc_a" < $"doc_b")
          .select($"doc_a", $"doc_b", TextFns.jaccardMilli($"sh_a", $"sh_b").as("j_milli"))
          .filter($"j_milli" >= 800)
          .orderBy($"doc_a", $"doc_b")
      },
      oracle = Some(PairSql),
      benchmark = false), // exact quadratic baseline; LSH (d03) is the scale path

    // ----- MinHash + LSH near-dup: the scale path ---------------------------
    // Candidates come from an equi-join on (band, band_hash); exact jaccard
    // verification then removes LSH false positives, so the result equals the
    // quadratic baseline (same oracle) with P(missed pair) ~ 1e-5.
    QueryDef(
      "d03_dedup_minhash_lsh",
      (s, d) => minhashNearDupPairs(s, Tables.documents(s, d)),
      oracle = Some(PairSql)),

    // ----- cross-source duplication matrix (d18) -----------------------------
    // The corpus-report table every multi-source build publishes (the
    // Dolma/RedPajama-style source-overlap matrix): which SOURCES
    // duplicate each other. Verified near-dup pairs come from d03's
    // LSH + exact-verify kernels (the scale path); each pair maps to its
    // unordered source pair via two id equi-joins against the narrow
    // (doc_id, source) projection, and the result is bounded by
    // O(sources^2) rows however big the corpus — the diagonal is
    // within-source duplication, off-diagonal is cross-source
    // contamination (the "did C4 leak into our crawl" question).
    // max_j_milli (order-insensitive, integer) grades how close the
    // strongest overlap is to exact mirroring.
    QueryDef(
      "d18_source_overlap",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val src = docs.select($"doc_id", $"source")
        minhashNearDupPairsUnordered(s, docs)
          .join(src.select($"doc_id".as("doc_a"), $"source".as("s1")), Seq("doc_a"))
          .join(src.select($"doc_id".as("doc_b"), $"source".as("s2")), Seq("doc_b"))
          .select(least($"s1", $"s2").as("source_a"),
            greatest($"s1", $"s2").as("source_b"), $"j_milli")
          .groupBy($"source_a", $"source_b")
          .agg(count(lit(1)).as("n_pairs"), max($"j_milli").as("max_j_milli"))
          .orderBy($"source_a", $"source_b")
      },
      oracle = Some(s"""
        WITH p AS ($PairSql),
        s AS (SELECT doc_id, source FROM documents)
        SELECT least(sa.source, sb.source) AS source_a,
               greatest(sa.source, sb.source) AS source_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(max(p.j_milli) AS BIGINT) AS max_j_milli
        FROM p JOIN s sa ON p.doc_a = sa.doc_id
               JOIN s sb ON p.doc_b = sb.doc_id
        GROUP BY 1, 2
        ORDER BY source_a, source_b""")),

    // ----- EXACT Jaccard join at scale: prefix filtering --------------------
    // The deterministic counterpart to d03: candidates from an equi-join on
    // rare-first prefix shingles (pigeonhole-complete for J >= 0.8) instead
    // of MinHash bands — zero miss probability, no sketch parameters. Same
    // oracle as d02/d03 because the result is the exact pair set.
    QueryDef(
      "d13_dedup_jaccard_prefixfilter",
      (s, d) => prefixFilterNearDupPairs(s, Tables.documents(s, d)),
      oracle = Some(PairSql)),

    // ----- LSH capacity introspection (d14) ---------------------------------
    // The tuning evidence behind d06's K ~ 2*log2(n) - 10 contract, AS A
    // QUERY: per LSH table, how full are the buckets and how many
    // candidate pairs would the self-join generate (sum over buckets of
    // occ*(occ-1)/2 — the exact pre-verify join size)? Run before a
    // 100 TB dedup, this report says whether K is too small (hot buckets,
    // quadratic candidates) BEFORE paying for the join — measure, don't
    // guess, applied to the sketch parameters themselves. One bucket-
    // assignment scan + an O(tables x 2^K) aggregate.
    QueryDef(
      "d14_lsh_introspection",
      (s, d) => {
        import s.implicits._
        val planes = VectorFns.hyperplanes(LshTables * LshPlanesPerTable, EmbDim)
        val bcols = (0 until LshTables).map { t =>
          VectorFns.signLshBucket($"embedding",
            planes.slice(t * LshPlanesPerTable, (t + 1) * LshPlanesPerTable)).as(s"b$t")
        }
        val tb = (0 until LshTables).map(t =>
          struct(lit(t.toLong).as("tbl"), col(s"b$t").as("bucket")))
        Tables.embeddings(s, d)
          .select($"vec_id" +: bcols: _*)
          .select(explode(array(tb: _*)).as("x"))
          .select($"x.tbl", $"x.bucket")
          .groupBy($"tbl", $"bucket").agg(count(lit(1)).as("occ"))
          .groupBy($"tbl")
          .agg(count(lit(1)).as("n_buckets_used"),
            sum($"occ").as("n_vectors"),
            max($"occ").as("max_occ"),
            sum(expr("(occ * (occ - 1)) div 2")).as("est_cand_pairs"))
          .orderBy($"tbl")
      },
      oracle = Some(d14OracleSql)),

    // ----- near-dup cluster assignment: connected components ----------------
    // The step after pair mining in a real dedup pipeline: group docs into
    // transitive near-dup clusters and label each with the cluster's min
    // doc_id (singletons label themselves). See `clusterLabels`: min-label
    // propagation with pointer jumping — O(log diameter) rounds, loud
    // failure (not silent wrong labels) if the round cap is ever hit.
    // Oracle: transitive closure via a recursive CTE.
    QueryDef(
      "d08_dedup_clusters",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        clusterLabels(docs, minhashNearDupPairsUnordered(s, docs).select($"doc_a", $"doc_b"))
      },
      oracle = Some(s"""
        WITH RECURSIVE pairs AS (${PairSqlNoOrder}),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS (
          SELECT d.doc_id,
                 least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id)
        SELECT doc_id, cluster_id FROM labels ORDER BY doc_id""")),

    // ----- license propagation at NEAR-DUP cluster grain (t46) ---------------
    // t43 folds the license lattice over EXACT-dup groups; the stronger
    // production guarantee runs the same fold over TRANSITIVE near-dup
    // clusters (a restricted document's lightly-edited mirror must also
    // escalate its cluster) — exactly the associativity claim t43's
    // scaladoc makes, made executable: d08's distributed labels feed the
    // identical max-tier / min_by-keeper aggregation, and the oracle
    // replays closure + fold end to end. Unlike the exact grain (zero
    // multi-source groups in the sf0.01 fixture), near-dup clusters DO mix
    // sources here, so the escalation path is oracle-exercised too.
    QueryDef(
      "t46_license_cluster",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val tier = pmod(TextFns.polyHash(concat(lit("lic:"), $"source")), lit(3L))
        val members = docs.select($"doc_id", tier.as("tier"),
          size(TextFns.tokens($"text")).cast("long").as("n_toks"))
        val labels = clusterLabels(docs,
          minhashNearDupPairsUnordered(s, docs).select($"doc_a", $"doc_b"))
        members.join(labels, Seq("doc_id"))
          .groupBy($"cluster_id")
          .agg(max($"tier").as("gtier"),
            min_by($"tier", $"doc_id").as("ktier"),
            min_by($"n_toks", $"doc_id").as("ktoks"),
            count(lit(1)).as("n_members"))
          .groupBy(when($"gtier" === 0L, "permissive")
            .when($"gtier" === 1L, "attribution")
            .otherwise("restricted").as("license"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(($"ktier" < $"gtier").cast("long")).as("n_escalated"),
            sum($"n_members").as("n_members"),
            sum($"ktoks").as("kept_tokens"))
          .orderBy($"license")
      },
      oracle = Some(s"""
        WITH RECURSIVE pairs AS (${PairSqlNoOrder}),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS (
          SELECT d.doc_id,
                 least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id),
        mem AS (
          SELECT doc_id,
                 CAST((${TextQueries.polyHashSqlOf("'lic:' || source")}) % 3 AS BIGINT) AS tier,
                 CAST(len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_toks
          FROM documents),
        g AS (
          SELECT l.cluster_id, max(m.tier) AS gtier,
                 min_by(m.tier, m.doc_id) AS ktier,
                 min_by(m.n_toks, m.doc_id) AS ktoks,
                 CAST(count(*) AS BIGINT) AS n_members
          FROM mem m JOIN labels l ON m.doc_id = l.doc_id
          GROUP BY l.cluster_id)
        SELECT CASE gtier WHEN 0 THEN 'permissive' WHEN 1 THEN 'attribution'
                          ELSE 'restricted' END AS license,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(CASE WHEN ktier < gtier THEN 1 ELSE 0 END) AS BIGINT) AS n_escalated,
               CAST(sum(n_members) AS BIGINT) AS n_members,
               CAST(sum(ktoks) AS BIGINT) AS kept_tokens
        FROM g GROUP BY 1
        ORDER BY license""")),

    // ----- keep-BEST canonical per near-dup cluster -------------------------
    // d07 keeps min doc_id per EXACT-dup group; production near-dup pipelines
    // keep the highest-QUALITY member of each transitive cluster and drop
    // the rest. Selection is an explicit total order (quality score desc,
    // n_chars desc, doc_id asc) so both engines agree bit for bit; the
    // ranking window partitions by cluster — groups are bounded by dup
    // multiplicity, never corpus-sized. Reuses d08's distributed labeling;
    // the oracle replays it as the recursive closure plus the same argmax.
    QueryDef(
      "d12_dedup_keep_best",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val labels = clusterLabels(docs,
          minhashNearDupPairsUnordered(s, docs).select($"doc_a", $"doc_b"))
        val t = TextFns.tokens($"text")
        val scored = docs.select($"doc_id", $"n_chars",
          floor(size(array_distinct(t)) * lit(1000.0) / size(t)).cast("long").as("score"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
          .orderBy($"score".desc, $"n_chars".desc, $"doc_id")
        labels.join(scored, Seq("doc_id"))
          .withColumn("rn", row_number().over(w))
          .groupBy($"cluster_id")
          .agg(count(lit(1)).as("n_members"),
            max(when($"rn" === 1, $"doc_id")).as("kept_doc"),
            max(when($"rn" === 1, $"score")).as("kept_score"),
            (count(lit(1)) - 1).as("n_dropped"))
          .orderBy($"cluster_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE pairs AS (${PairSqlNoOrder}),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS (
          SELECT d.doc_id,
                 least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id),
        scored AS (
          SELECT doc_id, n_chars,
                 CAST(floor(len(list_distinct(t)) * 1000.0 / len(t)) AS BIGINT) AS score
          FROM (SELECT doc_id, n_chars,
                       string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
                FROM documents)),
        ranked AS (
          SELECT l.cluster_id, s.doc_id, s.score,
                 row_number() OVER (PARTITION BY l.cluster_id
                   ORDER BY s.score DESC, s.n_chars DESC, s.doc_id) AS rn
          FROM labels l JOIN scored s ON l.doc_id = s.doc_id)
        SELECT cluster_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_doc,
               CAST(max(CASE WHEN rn = 1 THEN score END) AS BIGINT) AS kept_score,
               CAST(count(*) - 1 AS BIGINT) AS n_dropped
        FROM ranked GROUP BY cluster_id
        ORDER BY cluster_id""")),

    // ----- leakage-safe cluster-aware train/heldout split -------------------
    // t06 splits by doc hash, which lets two near-duplicates land on
    // opposite sides of the split — the classic self-contamination t07 then
    // has to detect. The fix is to split at the CLUSTER grain: the salted
    // hash is taken of the d08 cluster label, so a whole near-dup family
    // moves together and straddling is impossible by construction. The
    // report PROVES it: per-lang train/heldout counts plus the number of
    // clusters seen on both sides, which must be zero.
    QueryDef(
      "t26_cluster_split",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val labels = clusterLabels(docs,
          minhashNearDupPairsUnordered(s, docs).select($"doc_a", $"doc_b"))
        val bucket = pmod(graft.functions.TextFns.polyHash(
          concat(lit("csplit:"), $"cluster_id".cast("string"))), lit(100L))
        val tagged = labels
          .withColumn("split", when(bucket < 90L, "train").otherwise("heldout"))
          .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
        // the zero-straddle proof rides the SAME plan as a 1-row broadcast
        // scalar (a standalone count action here used to run the whole
        // label pipeline twice per invocation)
        val straddle = tagged.groupBy($"cluster_id")
          .agg(countDistinct($"split").as("sides"))
          .filter($"sides" > 1)
          .agg(count(lit(1)).as("straddle_clusters"))
        tagged.groupBy($"lang")
          .agg(sum(($"split" === "train").cast("long")).as("n_train"),
            sum(($"split" === "heldout").cast("long")).as("n_heldout"))
          .crossJoin(broadcast(straddle))
          .orderBy($"lang")
      },
      oracle = Some(s"""
        WITH RECURSIVE pairs AS (${PairSqlNoOrder}),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS (
          SELECT d.doc_id, d.lang,
                 least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id, d.lang),
        tagged AS (
          SELECT lang,
                 CASE WHEN (${TextQueries.polyHashSqlOf(
                   "'csplit:' || CAST(cluster_id AS VARCHAR)")}) % 100 < 90
                      THEN 'train' ELSE 'heldout' END AS split
          FROM labels)
        SELECT lang,
               CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
               CAST(sum(CASE WHEN split = 'heldout' THEN 1 ELSE 0 END) AS BIGINT) AS n_heldout,
               CAST(0 AS BIGINT) AS straddle_clusters
        FROM tagged
        GROUP BY lang
        ORDER BY lang""")),

    // ----- SimHash near-dup: hamming<=3 via 4x16-bit chunk pigeonhole -------
    // The JVM kernel's FNV-1a is reproduced in DuckDB with HUGEINT
    // arithmetic mod 2^64 (same trick as t04's polyHash) — so unlike
    // xxhash64-based sketches this one IS oracle-checkable: the oracle
    // computes per-token FNV-1a, per-bit majority votes, the 64-bit
    // signature, and the all-pairs hamming<=3 set (the chunk-blocked join
    // finds exactly that set by the pigeonhole guarantee).
    QueryDef(
      "d04_dedup_simhash",
      (s, d) => {
        import s.implicits._
        // same materialize-before-self-join principle as d03; the signature
        // itself is the codegen'd SimHash64Expr, so the tokenize -> hash ->
        // vote loop fuses into the corpus scan (the former typed-map kernel
        // survives in VectorExprSpec as the bit-equality reference)
        val docs = Tables.documents(s, d)
          .select($"doc_id", TextFns.simhash64(TextFns.tokens($"text")).as("sig"))
          .cache()
        val chunked = docs.select($"doc_id", $"sig",
          posexplode(array((0 until 4).map(c =>
            shiftright($"sig", c * 16).bitwiseAND(0xFFFFL)): _*)).as(Seq("chunk", "cv")))
        val l = chunked.select($"chunk", $"cv", $"doc_id".as("doc_a"), $"sig".as("sig_a"))
        val r = chunked.select($"chunk", $"cv", $"doc_id".as("doc_b"), $"sig".as("sig_b"))
        l.join(r, Seq("chunk", "cv"))
          .filter($"doc_a" < $"doc_b")
          .select($"doc_a", $"doc_b", $"sig_a", $"sig_b").distinct()
          .select($"doc_a", $"doc_b",
            bit_count($"sig_a".bitwiseXOR($"sig_b")).cast("long").as("hamming"))
          .filter($"hamming" <= 3)
          .orderBy($"doc_a", $"doc_b")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
          FROM documents),
        dt AS (SELECT DISTINCT tok FROM toks),
        th AS (
          SELECT tok,
            list_reduce(
              list_prepend(CAST(14695981039346656037 AS HUGEINT),
                list_transform(generate_series(1, length(tok)),
                  i -> CAST(ascii(substring(tok, i, 1)) AS HUGEINT))),
              (acc, c) -> (xor(acc, c) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS h
          FROM dt),
        votes AS (
          SELECT t.doc_id, g.b,
                 sum(CASE WHEN (th.h // (CAST(1 AS HUGEINT) << g.b)) % 2 = 1 THEN 1 ELSE -1 END) AS v
          FROM toks t JOIN th ON t.tok = th.tok
          CROSS JOIN generate_series(0, 63) g(b)
          GROUP BY t.doc_id, g.b),
        sigs AS (
          SELECT doc_id,
                 CAST(CASE WHEN s >= CAST(9223372036854775808 AS HUGEINT)
                           THEN s - CAST(18446744073709551616 AS HUGEINT) ELSE s END AS BIGINT) AS sig
          FROM (SELECT doc_id,
                       sum(CASE WHEN v > 0 THEN (CAST(1 AS HUGEINT) << b) ELSE CAST(0 AS HUGEINT) END) AS s
                FROM votes GROUP BY doc_id))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3
        ORDER BY doc_a, doc_b""")),

    // ----- embedding-cosine near-dup: exact all-pairs correctness anchor ----
    // Like d02, this is the *quadratic baseline*: collect + broadcast +
    // all-pairs JVM loop, bit-identical to the DuckDB oracle (same sequential
    // double accumulation), small-table only — benchmark=false. The 100 TB
    // path is d06 (sign-LSH banded buckets + exact-cosine verification),
    // which involves no driver-side collect.
    QueryDef(
      "d05_dedup_embedding_cosine",
      (s, d) => {
        import s.implicits._
        val vecs = Tables.embeddings(s, d)
          .select($"vec_id", $"embedding")
          .as[(Long, Array[Float])]
        val all = s.sparkContext.broadcast(
          vecs.collect().sortBy(_._1).map { case (id, e) =>
            val dd = e.map(_.toDouble)
            var n = 0.0; var i = 0
            while (i < dd.length) { n += dd(i) * dd(i); i += 1 }
            (id, dd, math.sqrt(n))
          })
        vecs.mapPartitions { it =>
          val corpus = all.value
          it.flatMap { case (idA, embA) =>
            val a = embA.map(_.toDouble)
            var na = 0.0; var i = 0
            while (i < a.length) { na += a(i) * a(i); i += 1 }
            val normA = math.sqrt(na)
            corpus.iterator
              .filter(_._1 > idA)
              .map { case (idB, b, normB) =>
                var dot = 0.0; var j = 0
                while (j < a.length) { dot += a(j) * b(j); j += 1 }
                (idA, idB, math.floor(dot * 1000.0 / (normA * normB)).toLong)
              }
              .filter(_._3 >= 400L)
          }
        }.toDF("vec_a", "vec_b", "cos_milli")
          .orderBy($"vec_a", $"vec_b")
      },
      oracle = Some("""
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(floor(list_dot_product(a.e, b.e) * 1000.0 /
                 (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) AS BIGINT) AS cos_milli
        FROM t a JOIN t b ON a.vec_id < b.vec_id
        WHERE floor(list_dot_product(a.e, b.e) * 1000.0 /
                 (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) >= 400
        ORDER BY vec_a, vec_b"""),
      benchmark = false), // exact quadratic anchor; d06 is the scale path

    // ----- embedding near-dup, sign-LSH banded: the 100 TB scale path -------
    // d03's MinHash pattern applied to vectors: L tables x K hyperplanes
    // each; a pair is a candidate iff it shares any table's K-bit bucket
    // (P(candidate) = 1-(1-p^K)^L with p = 1 - acos(cos)/pi). Candidates
    // come from an equi-join on (table, bucket) — a plain shuffle join with
    // no driver collect and no all-pairs scan — then exact-cosine
    // verification removes LSH false positives, so emitted pairs are always
    // a subset of the d05 anchor (asserted in DedupSpec together with
    // recall on the fixture; see the L/K constants for the tuning data).
    QueryDef(
      "d06_dedup_embedding_lsh",
      (s, d) => embeddingLshPairs(s, Tables.embeddings(s, d)),
      oracle = Some(d06OracleSql)),

    // ----- dedup agreement report: lexical vs semantic pair overlap ---------
    // The cross-signal report a dedup rollout decision needs: of all mined
    // near-dup pairs, how many does each signal family find — MinHash over
    // text (d03) vs sign-LSH over embeddings (d06) — and how many do both?
    // One full-outer join of the two pair sets; the oracle composes both
    // queries' exact oracles as nested CTEs, so the report is
    // hash-verified end to end. benchmark=false: its two stages are
    // already benchmarked as d03/d06, the report adds only a tiny join.
    QueryDef(
      "d09_dedup_agreement",
      (s, d) => {
        import s.implicits._
        val lex = minhashNearDupPairsUnordered(s, Tables.documents(s, d))
          .select($"doc_a", $"doc_b", lit(1).as("l"))
        val sem = embeddingLshPairs(s, Tables.embeddings(s, d))
          .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b"), lit(1).as("m"))
        lex.join(sem, Seq("doc_a", "doc_b"), "full_outer")
          .select(when($"l".isNotNull && $"m".isNotNull, "both")
            .when($"l".isNotNull, "lexical_only")
            .otherwise("semantic_only").as("relation"))
          .groupBy($"relation").agg(count(lit(1)).as("n_pairs"))
          .orderBy($"relation")
      },
      oracle = Some(s"""
        WITH lex AS (${PairSqlNoOrder}),
        sem AS (${d06OracleSql.replace("ORDER BY vec_a, vec_b", "")})
        SELECT CASE WHEN l.doc_a IS NOT NULL AND s.vec_a IS NOT NULL THEN 'both'
                    WHEN l.doc_a IS NOT NULL THEN 'lexical_only'
                    ELSE 'semantic_only' END AS relation,
               count(*) AS n_pairs
        FROM lex l FULL JOIN sem s ON l.doc_a = s.vec_a AND l.doc_b = s.vec_b
        GROUP BY relation
        ORDER BY relation"""),
      benchmark = false),

    // ----- unified dedup decision (capstone) --------------------------------
    // The materialized end state of the whole dedup story: cluster over the
    // UNION of the lexical (d03) and semantic (d06) pair sets — a doc is
    // dropped if EITHER signal family links it into a cluster it is not the
    // canonical (min doc_id) of. This is the policy a production corpus
    // build applies; it composes three already-verified pieces (d03 pairs,
    // d06 pairs, d08's cluster labeling) into the per-lang kept/dropped
    // decision table. Oracle: recursive-CTE transitive closure over the
    // union of both exact pair oracles. benchmark=false: every stage is
    // already benchmarked as d03/d06/d08.
    QueryDef(
      "d10_dedup_decision",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val lex = minhashNearDupPairsUnordered(s, docs).select($"doc_a", $"doc_b")
        val sem = embeddingLshPairs(s, Tables.embeddings(s, d))
          .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b"))
        val labels = clusterLabels(docs, lex.unionByName(sem).distinct())
        labels.join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(($"doc_id" === $"cluster_id").cast("long")).as("n_kept"),
            sum(($"doc_id" =!= $"cluster_id").cast("long")).as("n_dropped"))
          .orderBy($"lang")
      },
      oracle = Some(s"""
        WITH RECURSIVE lex AS (${PairSqlNoOrder}),
        sem AS (${d06OracleSql.replace("ORDER BY vec_a, vec_b", "")}),
        pairs AS (
          SELECT doc_a, doc_b FROM lex
          UNION
          SELECT vec_a AS doc_a, vec_b AS doc_b FROM sem),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS (
          SELECT d.doc_id, d.lang,
                 least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id, d.lang)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        FROM labels GROUP BY lang
        ORDER BY lang"""),
      benchmark = false),

    // ----- incremental dedup: new batch vs history --------------------------
    // The daily-ingest shape batch d03 can't express: dedupe TODAY's crawl
    // against the full historical corpus WITHOUT re-mining history against
    // itself. Only the new slice's band rows drive the join's left side;
    // history contributes lookups in matching (band, bucket) keys only, so
    // the per-ingest cost is O(|new| * bucket occupancy) — history-squared
    // never appears. (In production the history band table is a persisted
    // index the ingest job reads; here both sides derive from the same
    // fixture with a deterministic doc_id slice standing in for "today".)
    // Pair contract is d03's: candidates from shared bands, verified with
    // exact jaccard >= 800 — so the result is exactly the d03 pair set
    // restricted to pairs touching the new slice, which is also what the
    // oracle computes from the quadratic exact-jaccard CTE.
    QueryDef(
      "d11_dedup_incremental",
      (s, d) => incrementalNearDupPairs(
        s, Tables.documents(s, d), pmod(col("doc_id"), lit(10)) === 7),
      oracle = Some(s"""
        WITH pairs AS (${PairSqlNoOrder})
        SELECT doc_a, doc_b, j_milli FROM pairs
        WHERE doc_a % 10 = 7 OR doc_b % 10 = 7
        ORDER BY doc_a, doc_b""")),

    // ----- fuzzy string join via deletion-neighborhood blocking (d15) -------
    // Entity-resolution's string seat: all word pairs within edit distance
    // 1 across the corpus + part-name vocabularies (spelling variants,
    // typos). Blocking is SymSpell's symmetric-delete trick: each word
    // emits its n+1 single-deletion keys; ANY two words at Levenshtein
    // distance <= 1 provably share a key (substitution at i: both delete
    // i; insertion: the longer word's deletion IS the shorter word, which
    // emits itself as key 0) — so the equi-join on keys is COMPLETE, never
    // an all-pairs scan, and candidate fan-out is bounded by word length x
    // key occupancy. The exact Levenshtein verify then removes false
    // candidates. Everything runs on the VOCABULARY (distinct words with
    // corpus counts), which is domain-bounded, not corpus-bounded — the
    // corpus is scanned once for counts. The oracle is the INDEPENDENT
    // brute-force formulation (all vocab pairs, levenshtein filter), so
    // blocked and exhaustive algorithms must agree exactly (d02-vs-d03's
    // discipline).
    QueryDef(
      "d15_fuzzy_wordjoin",
      (s, d) => {
        import s.implicits._
        val docWords = Tables.documents(s, d)
          .select(explode(TextFns.tokens($"text")).as("w"))
        val partWords = Tables.part(s, d)
          .select(explode(split(lower($"p_name"), " ")).as("w"))
        val vocab = docWords.unionByName(partWords)
          .filter(length($"w") >= 3 && $"w".rlike("^[a-z]+$"))
          .groupBy($"w").agg(count(lit(1)).as("cnt"))
        fuzzyWordPairs(vocab)
      },
      oracle = Some("""
        WITH w AS (
          SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
          FROM documents
          UNION ALL
          SELECT unnest(string_split(lower(p_name), ' ')) AS w FROM part),
        vocab AS (
          SELECT w, CAST(count(*) AS BIGINT) AS cnt
          FROM w
          WHERE length(w) >= 3 AND regexp_matches(w, '^[a-z]+$')
          GROUP BY w)
        SELECT a.w AS word_a, b.w AS word_b, a.cnt AS cnt_a, b.cnt AS cnt_b
        FROM vocab a JOIN vocab b ON a.w < b.w
        WHERE levenshtein(a.w, b.w) <= 1
        ORDER BY word_a, word_b""")),

    // ----- dedup token-savings report (t36/d16) -----------------------------
    // The number that justifies the dedup pipeline to whoever pays for
    // training compute: per language, how many tokens the near-dup
    // keep-canonical pass actually removes. Composes d08's transitive
    // cluster labels with t03's token counts: one labels join, a plain
    // doc_id == cluster_id comparison to mark the kept member (the label
    // IS the cluster minimum by clusterLabels' contract — no window
    // needed), one per-lang aggregate. The oracle replays the full
    // recursive-closure labeling plus the same token sums.
    QueryDef(
      "d16_dedup_savings",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val labels = clusterLabels(docs,
          minhashNearDupPairsUnordered(s, docs).select($"doc_a", $"doc_b"))
        val toks = docs.select($"doc_id", $"lang",
          size(TextFns.tokens($"text")).cast("long").as("nt"))
        // the kept member is the cluster minimum, and clusterLabels LABELS
        // each cluster with its minimum doc_id — so keep is a plain column
        // comparison; the cluster-partitioned min window this used to run
        // (one full shuffle + sort of the corpus) recomputed the invariant
        toks.join(labels, Seq("doc_id"))
          .withColumn("keep", $"doc_id" === $"cluster_id")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
            sum($"nt").as("total_tokens"),
            sum(when($"keep", $"nt").otherwise(0L)).as("kept_tokens"))
          .select($"lang", $"n_docs", $"n_kept", $"total_tokens", $"kept_tokens",
            expr("(1000 * (total_tokens - kept_tokens)) div total_tokens").as("saved_milli"))
          .orderBy($"lang")
      },
      oracle = Some(s"""
        WITH RECURSIVE pairs AS (${PairSqlNoOrder}),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS (
          SELECT d.doc_id,
                 least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id),
        toks AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS nt
          FROM documents),
        marked AS (
          SELECT t.lang, t.nt,
                 (t.doc_id = min(t.doc_id) OVER (PARTITION BY l.cluster_id)) AS keep
          FROM toks t JOIN labels l USING (doc_id))
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(nt) AS BIGINT) AS total_tokens,
               CAST(sum(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT) AS kept_tokens,
               (1000 * (CAST(sum(nt) AS BIGINT) - CAST(sum(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT)))
                 // CAST(sum(nt) AS BIGINT) AS saved_milli
        FROM marked GROUP BY lang
        ORDER BY lang""")))

  /** Fuzzy word join (d15), exposed as a library call over any vocabulary
    * `(w: string, cnt: long)`: all pairs within Levenshtein distance 1,
    * with their corpus counts, found by SymSpell symmetric-delete blocking
    * + exact verify — complete for distance <= 1 by the deletion-key
    * argument in the d15 QueryDef scaladoc, and vocabulary-bounded at any
    * corpus size.
    *
    * Example (substitution pairs; "zzzz" is isolated):
    * {{{
    *   val v = Seq(("red", 10L), ("rod", 3L), ("zzzz", 1L)).toDF("w", "cnt")
    *   DedupQueries.fuzzyWordPairs(v).select("word_a", "word_b").as[(String, String)]
    *     .collect()  // Array(("red", "rod"))
    * }}} */
  def fuzzyWordPairs(vocab: DataFrame): DataFrame = {
    val keys = vocab.select(col("w"), col("cnt"), explode(expr(
      """transform(sequence(0, length(w)),
           i -> if(i = 0, w,
                   concat(substring(w, 1, i - 1),
                          substring(w, i + 1, length(w) - i))))""")).as("k"))
    val a = keys.select(col("k"), col("w").as("word_a"), col("cnt").as("cnt_a"))
    val b = keys.select(col("k"), col("w").as("word_b"), col("cnt").as("cnt_b"))
    a.join(b, Seq("k"))
      .filter(col("word_a") < col("word_b"))
      .select(col("word_a"), col("word_b"), col("cnt_a"), col("cnt_b"))
      .distinct() // vocab^2-bounded candidate pairs, never corpus-sized
      .filter(levenshtein(col("word_a"), col("word_b")) <= 1)
      .orderBy(col("word_a"), col("word_b"))
  }

  /** Incremental near-dup mining: all near-dup pairs touching the docs
    * selected by `isNew` (a predicate over doc_id) — new-vs-history plus
    * new-vs-new, never history-vs-history. See the d11 QueryDef scaladoc
    * for the scale contract.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // docs 1/2 are a settled pair; doc 4 arrives as a new near-dup of both
    * incrementalNearDupPairs(spark, docs, $"doc_id" === 4L)
    *   .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq ==
    *   Seq((1L, 4L), (2L, 4L))  // (1,2) is never re-mined
    * }}}
    */
  def incrementalNearDupPairs(s: SparkSession, docs: DataFrame, isNew: org.apache.spark.sql.Column): DataFrame = {
    import s.implicits._
    val sh = cached(shinglesOf(s, docs.select($"doc_id", $"text")))
    val bands = cached(bandRowsTyped(s, sh))
    incrementalFromNewBands(sh, bands, bands.filter(isNew))
  }

  /** Frame-driven variant of [[incrementalNearDupPairs]]: the new slice is
    * named by a one-column (`doc_id`) DataFrame instead of a predicate.
    * The new-ness flag reaches the banded rows through a semi-join on
    * doc_id — never a collected literal id list — so a backfill batch of
    * 10^7 new docs plans the same three-join shape as a ten-doc trickle
    * (the driver neither sees the ids nor bakes them into the plan).
    * Used by the streaming ingestion twin, whose "new" set is data
    * (this batch's unseen content keys), not a doc_id formula.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // same contract as the predicate form: the new slice is doc 4
    * incrementalNearDupPairs(spark, docs, docs.filter($"doc_id" === 4L).select($"doc_id"))
    *   .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq ==
    *   Seq((1L, 4L), (2L, 4L))  // (1,2) is never re-mined
    * }}}
    */
  def incrementalNearDupPairs(s: SparkSession, docs: DataFrame, newIds: DataFrame): DataFrame = {
    import s.implicits._
    // computed once per query, like cached(), but freed with the returned
    // plan: the streaming caller passes a new `docs` every micro-batch, and
    // a CacheManager entry per batch would pin every batch's frames
    val sh = shinglesOf(s, docs.select($"doc_id", $"text")).localCheckpoint(eager = false)
    val bands = bandRowsTyped(s, sh).localCheckpoint(eager = false)
    incrementalFromNewBands(sh, bands,
      bands.join(newIds.select($"doc_id"), Seq("doc_id"), "left_semi"))
  }

  /** Shared tail of both incremental variants: candidate pairs from the new
    * slice's band rows vs all band rows, then the exact-jaccard verify. */
  private def incrementalFromNewBands(sh: DataFrame, bands: DataFrame,
      newBands: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    val cand = newBands
      .select($"band", $"bh", $"doc_id".as("id_n"))
      .join(bands.select($"band", $"bh", $"doc_id".as("id_o")), Seq("band", "bh"))
      .filter($"id_n" =!= $"id_o")
      .select(least($"id_n", $"id_o").as("doc_a"),
        greatest($"id_n", $"id_o").as("doc_b"))
      .distinct()
    cand
      .join(sh.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), Seq("doc_a"))
      .join(sh.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), Seq("doc_b"))
      .select($"doc_a", $"doc_b", TextFns.jaccardMilli($"sh_a", $"sh_b").as("j_milli"))
      .filter($"j_milli" >= 800)
      .orderBy($"doc_a", $"doc_b")
  }

  /** JVM per-table sign-LSH bucket kernel — shared by batch d06 and the
    * streaming twin so both compute identical buckets.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val planes = VectorFns.hyperplanes(lshTableCount * lshPlanesPerTableCount, embDim)
    * lshBucketsOf(v, lshTableCount, lshPlanesPerTableCount, planes)
    *   // one bucket per table; identical vectors share every bucket
    * }}}
    */
  def lshBucketsOf(emb: Array[Float], tables: Int, planesPerTable: Int,
      planes: Array[Array[Double]]): Array[Long] = {
    val a = emb.map(_.toDouble)
    Array.tabulate(tables) { t =>
      var bucket = 0L
      var k = 0
      while (k < planesPerTable) {
        val p = planes(t * planesPerTable + k)
        var dot = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * p(i); i += 1 }
        if (dot >= 0) bucket |= (1L << k)
        k += 1
      }
      bucket
    }
  }

  /** JVM exact cosine in milli — the same sequential double accumulation as
    * the d05 anchor (bit-identical to DuckDB's list_dot_product).
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * cosMilliOf(Array(3f, 4f), Array(3f, 4f)) == 1000L
    * cosMilliOf(Array(1f, 0f), Array(0f, 1f)) == 0L
    * }}}
    */
  def cosMilliOf(ea: Array[Float], eb: Array[Float]): Long = {
    val a = ea.map(_.toDouble); val b = eb.map(_.toDouble)
    var na = 0.0; var nb = 0.0; var dot = 0.0; var i = 0
    while (i < a.length) {
      na += a(i) * a(i); nb += b(i) * b(i); dot += a(i) * b(i); i += 1
    }
    math.floor(dot * 1000.0 / (math.sqrt(na) * math.sqrt(nb))).toLong
  }

  /** d06 geometry accessors for the streaming twin. */
  def embDim: Int = EmbDim
  def lshTableCount: Int = LshTables
  def lshPlanesPerTableCount: Int = LshPlanesPerTable

  /** The d06 pipeline over an arbitrary (vec_id, embedding) table.
    *
    * Tuning contract for scale: random (non-neighbor) pairs collide in a
    * K-bit bucket with probability ~L/2^K, so the candidate set grows as
    * n^2 * L / 2^K — K must grow with log2(n) (rule of thumb:
    * K ≈ 2*log2(n) - 10 keeps expected random collisions per vector
    * bounded) while L buys recall at p^K per table. The default
    * `planesPerTable = AutoPlanes` EXECUTES that contract: K is derived
    * from the corpus count by [[autoPlanesPerTable]] (the 500-vector
    * fixture derives exactly the fixture K=6, tuned for its deliberately
    * weak 0.4-cosine band); ScaleSpec drives this same pipeline at both
    * an explicit K=14 and the auto-derived K over 2k/20k-vector corpora
    * and asserts the runtime and pair trends stay near-linear.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val e1 = Array.tabulate(embDim)(i => if (i == 0) 1f else 0f)
    * val emb = Seq((1L, e1), (2L, e1.clone()), (3L, e1.map(-_)))
    *   .toDF("vec_id", "embedding")
    * // identical vectors share every bucket; the antipodal one shares none
    * embeddingLshPairs(spark, emb).select($"vec_a", $"vec_b")
    *   .as[(Long, Long)].collect().toSeq == Seq((1L, 2L))
    * }}}
    */
  def embeddingLshPairs(s: SparkSession, embeddings: DataFrame,
      tables: Int = LshTables, planesPerTable: Int = AutoPlanes,
      minCosMilli: Long = 400L): DataFrame = {
    import s.implicits._
    val vecs = cached(embeddings.select($"vec_id", $"embedding"))
    // AutoPlanes: one metadata-cheap count over the (already cached) vector
    // frame buys the geometry the K-tuning contract demands at THIS corpus
    // size — the round-8 verdict's fixed-K superlinearity (s11 3.35x, d19
    // 3.71x per decade at the sf1 probe) was exactly this count not
    // happening. At the 500-vector fixture the derived K equals the
    // fixture K, so every oracle and recall floor is byte-identical.
    val ppt = if (planesPerTable == AutoPlanes) autoPlanesPerTable(vecs.count())
              else planesPerTable
    val planes = VectorFns.hyperplanes(tables * ppt, EmbDim)
    // (vec_id, table, bucket) rows — JVM kernel, same materialize-before-
    // self-join principle as d03's band rows
    // Bucket rows carry the PREFIX of the vector's bucket signature (the
    // buckets of tables before `tbl`) so a pair colliding in several tables
    // is emitted exactly once — at its minimal shared table (the same
    // exactly-once trick StreamDedup uses). That replaces the round-3
    // global `distinct` over the exploded candidate set — a full extra
    // Exchange on the widest intermediate — and the prefix (avg L/2
    // elements instead of L) halves the signature bytes shuffled through
    // the self-join.
    val buckets = cached(vecs.as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        val bks = lshBucketsOf(emb, tables, ppt, planes)
        (0 until tables).iterator.map(t => (id, t, bks(t), bks.take(t).toSeq))
      }.toDF("vec_id", "tbl", "bucket", "sig"))
    val cand = buckets.select($"tbl", $"bucket", $"vec_id".as("vec_a"), $"sig".as("sig_a"))
      .join(buckets.select($"tbl", $"bucket", $"vec_id".as("vec_b"), $"sig".as("sig_b")), Seq("tbl", "bucket"))
      .filter($"vec_a" < $"vec_b" && minSharedTable)
      .select($"vec_a", $"vec_b")
    cand
      .join(vecs.select($"vec_id".as("vec_a"), $"embedding".as("ea")), Seq("vec_a"))
      .join(vecs.select($"vec_id".as("vec_b"), $"embedding".as("eb")), Seq("vec_b"))
      // codegen'd fused cosine (CosineMilliExpr) — bit-equal to the typed
      // cosMilliOf loop (VectorExprSpec) but stays in whole-stage codegen:
      // no row ser/deser on the verify hot path
      .select($"vec_a", $"vec_b", graft.functions.VectorFns.cosineMilli($"ea", $"eb").as("cos_milli"))
      .filter($"cos_milli" >= minCosMilli)
      .orderBy($"vec_a", $"vec_b")
  }

  /** True iff `tbl` is the FIRST table in which the two vectors collide.
    * `sig_a`/`sig_b` are the bucket-signature PREFIXES for tables 0..tbl-1
    * (equal length on both sides of a (tbl, bucket) join), so "no earlier
    * collision" is one zip_with/exists pass over at most L-1 elements —
    * negligible next to the Exchange it replaces. The join key already
    * guarantees collision AT `tbl`, so each colliding pair survives from
    * exactly one (tbl, bucket) group.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // empty prefixes = table 0 (keep); equal element = collided earlier
    * // (drop); differing prefixes = first collision here (keep)
    * Seq((Seq[Long](), Seq[Long]()), (Seq(7L), Seq(7L)), (Seq(7L), Seq(9L)))
    *   .toDF("sig_a", "sig_b").select(minSharedTable.as("keep"))
    *   .as[Boolean].collect().toSeq == Seq(true, false, true)
    * }}}
    */
  private[graft] def minSharedTable: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      "NOT exists(zip_with(sig_a, sig_b, (x, y) -> x = y), c -> c)")

  /** d06 is deterministic given the fixed-seed hyperplanes, so — like s02 —
    * it gets a full oracle: per-table 4-bit buckets recomputed in DuckDB
    * from literal planes (list_dot_product matches the JVM kernel's
    * sequential double accumulation bit for bit), candidates = pairs
    * sharing any table bucket, verified with the exact cosine. */
  /** d14 oracle: the same literal-plane per-table buckets as d06's oracle,
    * unpivoted and aggregated to the occupancy report. */
  private def d14OracleSql: String = {
    val planes = graft.functions.VectorFns.hyperplanes(LshTables * LshPlanesPerTable, EmbDim)
    def bucket(t: Int): String = (0 until LshPlanesPerTable).map { k =>
      s"(CASE WHEN list_dot_product(e, ${SimilarityQueries.planeLit(planes(t * LshPlanesPerTable + k))}) >= 0 THEN ${1L << k} ELSE 0 END)"
    }.mkString(" + ")
    val bcols = (0 until LshTables).map(t => s"(${bucket(t)}) AS b$t").mkString(",\n               ")
    val unions = (0 until LshTables)
      .map(t => s"SELECT $t AS tbl, b$t AS bucket FROM bk").mkString("\n          UNION ALL ")
    s"""
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        bk AS (SELECT vec_id,
               $bcols
               FROM t),
        tb AS ($unions),
        occ AS (SELECT tbl, bucket, count(*) AS occ FROM tb GROUP BY tbl, bucket)
        SELECT CAST(tbl AS BIGINT) AS tbl,
               CAST(count(*) AS BIGINT) AS n_buckets_used,
               CAST(sum(occ) AS BIGINT) AS n_vectors,
               CAST(max(occ) AS BIGINT) AS max_occ,
               CAST(sum((occ * (occ - 1)) // 2) AS BIGINT) AS est_cand_pairs
        FROM occ GROUP BY tbl
        ORDER BY tbl"""
  }

  private[operators] def d06OracleSql: String = {
    val planes = graft.functions.VectorFns.hyperplanes(LshTables * LshPlanesPerTable, EmbDim)
    def bucket(t: Int): String = (0 until LshPlanesPerTable).map { k =>
      s"(CASE WHEN list_dot_product(e, ${SimilarityQueries.planeLit(planes(t * LshPlanesPerTable + k))}) >= 0 THEN ${1L << k} ELSE 0 END)"
    }.mkString(" + ")
    val bcols = (0 until LshTables).map(t => s"(${bucket(t)}) AS b$t").mkString(",\n               ")
    val cond = (0 until LshTables).map(t => s"a.b$t = b.b$t").mkString(" OR ")
    s"""
        WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        bk AS (SELECT vec_id, e,
               $bcols
               FROM t)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(floor(list_dot_product(a.e, b.e) * 1000.0 /
                 (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) AS BIGINT) AS cos_milli
        FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND ($cond)
        WHERE floor(list_dot_product(a.e, b.e) * 1000.0 /
              (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) >= 400
        ORDER BY vec_a, vec_b"""
  }
}
