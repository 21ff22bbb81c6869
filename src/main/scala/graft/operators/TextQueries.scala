package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators over `documents` (SURVEY.md §2.2 LLM ops):
  * language-ID (stopword heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting (md5 +
  * polynomial rolling hash). All native expressions; per-row, shuffle-free
  * until the final aggregate.
  */
object TextQueries {

  /** The admission feature projection — one narrow per-row pass shared by
    * batch t05 and its streaming upsert twin (StreamAdmission): content
    * key for canonical-copy selection, predicted language, and the quality
    * signals. All deterministic per row, so batch/stream results agree
    * regardless of how the corpus is split into micro-batches.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val docs = Seq((1L, (1 to 25).map("tok" + _).mkString(" ")),
    *   (2L, "spam " * 30)).toDF("doc_id", "text")
    * admissionFeatures(docs).filter(admissionGate)
    *   .select($"doc_id").as[Long].collect().toSeq == Seq(1L)
    * }}}
    */
  def admissionFeatures(docs: DataFrame): DataFrame =
    admissionFeaturesWithText(docs).drop("text")

  /** [[admissionFeatures]] plus the raw text column, in ONE stateless
    * select — the streaming twins need the text alongside the features
    * without a stream-stream self-join on doc_id. Single source of truth
    * for the feature expressions.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // case/whitespace variants share one content_key; text rides along
    * val docs = Seq((1L, " Hello  World "), (2L, "hello world")).toDF("doc_id", "text")
    * val f = TextQueries.admissionFeaturesWithText(docs)
    * f.select($"content_key").distinct().count() == 1
    * f.filter($"doc_id" === 1L).select($"text").as[String].head == " Hello  World "
    * }}}
    */
  private[graft] def admissionFeaturesWithText(docs: DataFrame): DataFrame = {
    val t = TextFns.tokens(col("text"))
    val nToks = size(t).cast("long")
    val distinctRatio = floor(size(array_distinct(t)) * lit(1000.0) / size(t)).cast("long")
    docs.select(col("doc_id"),
      md5(TextFns.normalize(col("text"))).as("content_key"),
      TextFns.langId(col("text")).as("predicted_lang"),
      nToks.as("n_tokens"),
      distinctRatio.as("distinct_ratio_milli"),
      col("text"))
  }

  /** t05's admission gate over the feature columns. The thresholds live in
    * [[admits]] — its JVM twin for the typed streaming path.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val feats = admissionFeatures(docs)  // doc 1 long+diverse, doc 2 short
    * feats.filter(admissionGate).select($"doc_id").as[Long].collect() == Seq(1L)
    * feats.filter(!admissionGate).count() == feats.count() - 1  // exact partition
    * }}}
    */
  def admissionGate: Column =
    (col("n_tokens") >= MinTokens) && (col("distinct_ratio_milli") >= MinDistinctMilli)

  /** JVM twin of [[admissionGate]] (same thresholds, same integer
    * comparisons) for stateful processors that gate row-at-a-time.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * admits(nTokens = 25, distinctRatioMilli = 500) && !admits(2, 500)
    * }}}
    */
  def admits(nTokens: Long, distinctRatioMilli: Long): Boolean =
    nTokens >= MinTokens && distinctRatioMilli >= MinDistinctMilli

  private val MinTokens = 20L
  private val MinDistinctMilli = 200L

  // ----- deterministic split / packing constants ---------------------------
  // Split/shard membership hashes on doc_id via the t04 polynomial hash
  // (mod 2^31-1 — overflow-free under Spark 4's default ANSI mode, where a
  // wrap-around Fibonacci multiply would throw ARITHMETIC_OVERFLOW) with a
  // distinct salt prefix per assignment so the two are uncorrelated. Both
  // engines compute it over CAST(doc_id AS STRING). Declared above
  // `val all` — oracle strings are built eagerly during Seq construction
  // (object init is sequential).
  private val TrainPct = 90
  private val PackShards = 8
  /** t08's token budget per packed context window, shared with the s19
    * retrieval-index capstone so both packers agree. */
  private[graft] val PackBudget = 512L
  private val ChunkSize = 120
  private val ChunkStride = 90
  private val SampleK = 20
  private val ShuffleShards = 4L

  // Affine post-scramble for the salted doc hashes: the rolling hash alone
  // is MONOTONE over same-length numeric ids ("x:123" vs "x:124" differ
  // only in the last digit, so consecutive ids get consecutive hashes) —
  // bottom-k "samples" would be id-prefixes and hash-order "shuffles"
  // would be id-order. One multiplicative step mod the same prime P
  // decorrelates hash order from id order (A*h+B mod P is a bijection on
  // [0, P), so no collisions are introduced) and is replayed exactly by
  // the DuckDB mirror. A < 2^21 keeps A*h < 2^52: no BIGINT overflow in
  // either engine.
  private val ScrambleA = 1103515L
  private val ScrambleB = 12345L
  private val HashP = 2147483647L // 2^31 - 1, polyHash's own modulus

  private def saltedDocHash(salt: String): Column =
    pmod(TextFns.polyHash(concat(lit(salt), col("doc_id").cast("string")))
      * lit(ScrambleA) + lit(ScrambleB), lit(HashP))

  /** DuckDB mirror of [[TextFns.polyHash]] over an arbitrary VARCHAR SQL
    * expression (t04's poly_fp). */
  private[operators] def polyHashSqlOf(e: String): String = s"""
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(generate_series(1, length($e)),
                       i -> CAST(ascii(substring($e, i, 1)) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 2147483647)"""

  /** DuckDB mirror of [[saltedDocHash]]: the salted poly hash plus the
    * same affine scramble. */
  private def saltedDocHashSql(salt: String): String =
    s"""((${polyHashSqlOf(s"'$salt' || CAST(doc_id AS VARCHAR)")})
                 * $ScrambleA + $ScrambleB) % $HashP"""

  private def splitBucket: Column = pmod(saltedDocHash("split:"), lit(100L))
  /** The t06 salted-hash train/heldout split predicate (reads `doc_id`),
    * shared with [[SimilarityQueries.semanticDecontaminateReport]] so the
    * lexical (t44) and semantic (s22) decontamination gates agree on
    * which documents are train. */
  private[operators] def trainSplitPred: Column = splitBucket < TrainPct
  /** DuckDB mirror of [[trainSplitPred]], embedded in the s22 oracle. */
  private[operators] def trainSplitPredSql: String = s"($splitBucketSql) < $TrainPct"
  private def packShard: Column = pmod(saltedDocHash("shard:"), lit(PackShards.toLong))
  /** t08's shard column shared with [[graft.streaming.StreamIngest]] so the
    * composed ingestion pipeline packs with the SAME oracle-replicable
    * poly-hash sharding as the standalone packer (reads `doc_id`). */
  private[graft] def packShardCol: Column = packShard
  private def splitBucketSql: String = s"(${saltedDocHashSql("split:")}) % 100"
  /** DuckDB mirror of [[packShardCol]] (reads `doc_id`), shared with the
    * s19 oracle. */
  private[graft] def packShardSql: String = s"(${saltedDocHashSql("shard:")}) % $PackShards"

  // ----- BPE merge induction (t13) -----------------------------------------
  private val BpeRounds = 3

  /** Hashed-feature buckets for the t21 linear model: 256 weight rows.
    * MUST be declared before `val all` — oracle strings interpolate it
    * eagerly during Seq construction (a later declaration reads as 0). */
  private val ModelBuckets = 256L

  /** t24 blocklist — token-boundary phrases of mixed lengths (declared
    * above `val all`; interpolated into the oracle). */
  private val BlockPhrases = Seq("slow", "table table", "fast key scan")

  /** t42 per-domain doc budget as a percent of post-dedup URLs (declared
    * above `val all`; interpolated into the oracle; shared with the
    * [[graft.streaming.StreamDomainGovernance]] twin so both gates agree). */
  private[graft] val DomainBudgetPct = 60L

  /** t45's fold-state radix: the greedy no-split packer's (windows, fill)
    * state packs into one BIGINT as windows * PackFoldM + fill — sound
    * because fill <= PackBudget << PackFoldM. Declared above `val all`
    * (interpolated into the oracle). */
  private val PackFoldM = 1000000L

  /** Greedy non-overlapping left-to-right application of merge (s1, s2) to a
    * space-separated symbol string. EXACTLY mirrors the DuckDB
    * `list_reduce` lambda in the t13 oracle: fold symbols left to right,
    * gluing the current symbol onto the accumulator (no space) iff the
    * accumulator's LAST symbol equals s1 and the current symbol equals s2.
    * The boundary-aware endsWith(" "+s1) check makes overlapping runs merge
    * greedily ([a,a,a] + (a,a) -> [aa, a]), matching classic BPE.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * applyBpeMerge("a a a", "a", "a") == "aa a"  // greedy, boundary-aware
    * applyBpeMerge("x y z", "y", "z") == "x yz"
    * }}}
    */
  def applyBpeMerge(sym: String, s1: String, s2: String): String = {
    val parts = sym.split(' ')
    val sb = new StringBuilder(parts(0))
    var i = 1
    while (i < parts.length) {
      val x = parts(i)
      val acc = sb.toString
      if (x == s2 && (acc == s1 || acc.endsWith(" " + s1))) sb.append(x)
      else { sb.append(' '); sb.append(x) }
      i += 1
    }
    sb.toString
  }

  /** Distinct 8-token shingle KEYS per doc — the contamination-check grain
    * (3-token shingles are too common across unrelated docs to mean
    * leakage; 8-grams are the n-gram-overlap decontamination standard).
    * Keys come from the codegen'd ShingleHashesExpr: no shingle string is
    * ever materialized and no typed map runs — the former string kernel's
    * ~70 bytes/window allocation was the dominant cost of this pass. The
    * hash is a join/group key only (outputs aggregate counts), same
    * collision budget as the xxhash64-of-string form it replaced. */
  private def shingleKeys8(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      array_distinct(TextFns.shingleHashes(TextFns.tokens(col("text")))).as("gs"))

  /** The t14 pipeline over an arbitrary documents table (doc_id, lang,
    * text): per-lang boilerplate-span decision table.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val tpl = (1 to 10).map("t" + _).mkString(" ")  // 3 8-token shingles
    * val docs = Seq((1L, "en", tpl), (2L, "en", tpl),
    *   (3L, "en", (1 to 10).map("u" + _).mkString(" "))).toDF("doc_id", "lang", "text")
    * boilerplateSpans(docs).as[(String, Long, Long, Long, Long, Long)].head() ==
    *   (("en", 3L, 2L, 9L, 6L, 666L))  // the two template copies share all shingles
    * }}}
    */
  def boilerplateSpans(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Shingle identity is only ever used as a grouping/join key (the output
    // aggregates counts, never the shingle text), so only 8-byte hash keys
    // exist anywhere in this plan — computed in-scan by ShingleHashesExpr.
    // A 64-bit collision would merge two shingles' df counts; at n distinct
    // shingles the chance is ~n^2/2^65 (4M shingles -> ~5e-7), the same
    // accepted risk as d01's md5 keys.
    // read twice: document-frequency agg + the join back
    val ex = OpCache.persistRotating("boilerplateSpans.shingles", shingleKeys8(docs)
      .select($"doc_id", $"lang", explode($"gs").as("g")))
    val docFreq = ex.groupBy($"g").agg(count(lit(1)).as("df"))
    val perDoc = ex.join(docFreq, Seq("g"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_sh"),
        sum(($"df" >= 2).cast("long")).as("shared"))
    perDoc.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(($"shared" * 2 >= $"n_sh").cast("long")).as("high_overlap_docs"),
        sum($"n_sh").as("total_shingles"),
        sum($"shared").as("shared_shingles"),
        floor(sum($"shared") * lit(1000.0) / sum($"n_sh")).cast("long").as("shared_milli"))
      .orderBy($"lang")
  }

  val all: Seq[QueryDef] = Seq(

    // ----- language identification (stopword heuristic) ---------------------
    QueryDef(
      "t01_lang_id",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"lang".as("labeled"), TextFns.langId($"text").as("predicted"))
          .groupBy($"labeled", $"predicted")
          .agg(count(lit(1)).as("n"))
          .orderBy($"labeled", $"predicted")
      },
      oracle = Some {
        val scoreExprs = TextFns.langScoreSql()
        val pick = TextFns.langPickSql
        s"""
        WITH toks AS (
          SELECT lang AS labeled,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        scored AS (
          SELECT labeled,
                 $scoreExprs
          FROM toks)
        SELECT labeled, $pick AS predicted, count(*) AS n
        FROM scored
        GROUP BY 1, 2
        ORDER BY labeled, predicted"""
      }),

    // ----- quality scoring ---------------------------------------------------
    QueryDef(
      "t02_quality_score",
      (s, d) => {
        import s.implicits._
        val t = TextFns.tokens($"text")
        val nToks = size(t).cast("long")
        val distinctRatio = floor(size(array_distinct(t)) * lit(1000.0) / size(t)).cast("long")
        val meanTokLen = floor(
          aggregate(t, lit(0L), (acc, x) => acc + length(x)) * lit(1000.0) / size(t)).cast("long")
        val stopHits = TextFns.StopwordSets.map { case (_, ws) => TextFns.stopwordHits(t, ws) }
          .reduce(_ + _)
        Tables.documents(s, d)
          .select($"doc_id", $"n_chars",
            nToks.as("n_tokens"),
            distinctRatio.as("distinct_ratio_milli"),
            meanTokLen.as("mean_token_len_milli"),
            stopHits.as("stopword_kinds"),
            (nToks >= 20 && distinctRatio >= 200).cast("long").as("passes_quality"))
          .orderBy($"doc_id")
      },
      oracle = Some {
        val stopArrs = TextFns.StopwordSets.map { case (_, ws) =>
          val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_intersect(t, $arr))"
        }.mkString(" + ")
        s"""
        WITH toks AS (
          SELECT doc_id, n_chars,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents)
        SELECT doc_id, n_chars,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(floor(len(list_distinct(t)) * 1000.0 / len(t)) AS BIGINT) AS distinct_ratio_milli,
               CAST(floor(list_reduce(list_prepend(0, list_transform(t, x -> length(x))),
                 (acc, x) -> acc + x) * 1000.0 / len(t)) AS BIGINT) AS mean_token_len_milli,
               CAST($stopArrs AS BIGINT) AS stopword_kinds,
               CAST(len(t) >= 20 AND floor(len(list_distinct(t)) * 1000.0 / len(t)) >= 200 AS BIGINT) AS passes_quality
        FROM toks
        ORDER BY doc_id"""
      }),

    // ----- corpus filter: the composed training-data admission pipeline -----
    // What the individual operators exist FOR: keep exactly the documents
    // that (a) are the canonical copy of their content group (d07 logic),
    // and (b) pass the quality gate (t02 logic), labeled with predicted
    // language (t01 logic). One narrow feature projection, one hash agg
    // for canonicals, one equi-join — linear and shuffle-minimal at any
    // scale.
    QueryDef(
      "t05_corpus_filter",
      (s, d) => {
        import s.implicits._
        val scored = admissionFeatures(Tables.documents(s, d))
        val canon = scored.groupBy($"content_key").agg(min($"doc_id").as("doc_id"))
        scored.join(canon, Seq("content_key", "doc_id"))
          .filter(admissionGate)
          .select($"doc_id", $"predicted_lang", $"n_tokens")
          .orderBy($"doc_id")
      },
      oracle = Some {
        val scoreExprs = TextFns.langScoreSql()
        val pick = TextFns.langPickSql
        s"""
        WITH toks AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_key,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        feats AS (
          SELECT doc_id, content_key,
                 CAST(len(t) AS BIGINT) AS n_tokens,
                 CAST(floor(len(list_distinct(t)) * 1000.0 / len(t)) AS BIGINT) AS distinct_ratio_milli,
                 $scoreExprs
          FROM toks),
        canon AS (SELECT content_key, min(doc_id) AS doc_id FROM feats GROUP BY content_key)
        SELECT f.doc_id, $pick AS predicted_lang, f.n_tokens
        FROM feats f JOIN canon c ON f.content_key = c.content_key AND f.doc_id = c.doc_id
        WHERE f.n_tokens >= 20 AND f.distinct_ratio_milli >= 200
        ORDER BY f.doc_id"""
      }),

    // ----- token counting: whitespace + BPE-ish regex ------------------------
    QueryDef(
      "t03_token_counts",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"lang",
            size(TextFns.tokens($"text")).cast("long").as("ws_tokens"),
            TextFns.bpeishCount($"text").cast("long").as("bpeish_tokens"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"ws_tokens").as("total_ws_tokens"),
            sum($"bpeish_tokens").as("total_bpeish_tokens"))
          .orderBy($"lang")
      },
      oracle = Some(s"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS BIGINT) AS total_ws_tokens,
               CAST(sum(len(regexp_extract_all(text, '${TextFns.BpeishPattern}'))) AS BIGINT) AS total_bpeish_tokens
        FROM documents
        GROUP BY lang
        ORDER BY lang""")),

    // ----- document fingerprinting: md5 + polynomial rolling hash ------------
    QueryDef(
      "t04_fingerprint",
      (s, d) => {
        import s.implicits._
        val norm = TextFns.normalize($"text")
        Tables.documents(s, d)
          .select($"doc_id", md5(norm).as("md5_fp"), TextFns.polyHash(norm).as("poly_fp"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH n AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
          FROM documents)
        SELECT doc_id, md5(s) AS md5_fp,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(s)),
                     i -> CAST(ascii(substring(s, i, 1)) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % 2147483647) AS poly_fp
        FROM n
        ORDER BY doc_id""")),

    // ----- deterministic stratified train/heldout split ----------------------
    // Every training corpus needs a reproducible split. Membership is a pure
    // function of doc_id (Fibonacci hash mod 100 < 90): no RNG, no state,
    // stable under reprocessing and retries, and any engine can recompute it
    // — the property that makes downstream eval hygiene auditable. Output is
    // the per-(lang, split) stratification summary; the split itself is a
    // narrow projection any query can reuse.
    QueryDef(
      "t06_split_stratified",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"lang",
            when(splitBucket < TrainPct, "train").otherwise("heldout").as("split"),
            size(TextFns.tokens($"text")).cast("long").as("n_tokens"))
          .groupBy($"lang", $"split")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("total_tokens"))
          .orderBy($"lang", $"split")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT lang,
                 CASE WHEN $splitBucketSql < $TrainPct
                      THEN 'train' ELSE 'heldout' END AS split,
                 len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_tokens
          FROM documents)
        SELECT lang, split, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM t GROUP BY lang, split
        ORDER BY lang, split""")),

    // ----- cross-split contamination check -----------------------------------
    // Benchmark decontamination: a heldout document is contaminated if it
    // shares any 8-token shingle with any train document. Shape: distinct
    // train shingles (hash agg) -> semi-join from heldout shingles (plain
    // shuffle equi-join on the shingle) -> distinct contaminated docs ->
    // per-lang counts. Linear in corpus shingles at any scale — the same
    // bucket-join discipline as the dedup family, never an all-pairs scan.
    QueryDef(
      "t07_contamination",
      (s, d) => {
        import s.implicits._
        // materialize once: both split branches read the shingle-key table
        // (keys computed in-scan by ShingleHashesExpr — only 8-byte longs
        // ever shuffle; same collision budget as boilerplateSpans)
        val sh = OpCache.persistRotating("t07.shingles", shingleKeys8(Tables.documents(s, d))
          .withColumn("split", when(splitBucket < TrainPct, "train").otherwise("heldout")))
        val trainSh = sh.filter($"split" === "train")
          .select(explode($"gs").as("g")).distinct()
        val heldout = sh.filter($"split" === "heldout")
        val contaminated = heldout
          .select($"doc_id", $"lang", explode($"gs").as("g"))
          .join(trainSh, Seq("g"), "left_semi")
          .select($"doc_id", $"lang").distinct()
        heldout.groupBy($"lang").agg(count(lit(1)).as("n_heldout"))
          .join(contaminated.groupBy($"lang").agg(count(lit(1)).as("nc")), Seq("lang"), "left")
          .select($"lang", $"n_heldout", coalesce($"nc", lit(0L)).as("n_contaminated"))
          .orderBy($"lang")
      },
      oracle = Some {
        val gram = (0 to 7).map(k => s"t[i+$k]").mkString(", ")
        s"""
        WITH toks AS (
          SELECT doc_id, lang,
                 CASE WHEN $splitBucketSql < $TrainPct
                      THEN 'train' ELSE 'heldout' END AS split,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, lang, split,
                 list_distinct(list_transform(generate_series(1, greatest(len(t) - 7, 1)),
                   i -> concat_ws(' ', $gram))) AS s
          FROM toks),
        tr AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE split = 'train'),
        held AS (SELECT doc_id, lang, s FROM sh WHERE split = 'heldout'),
        cont AS (
          SELECT DISTINCT h.doc_id, h.lang
          FROM (SELECT doc_id, lang, unnest(s) AS g FROM held) h
          JOIN tr USING (g))
        SELECT h.lang, count(*) AS n_heldout,
               coalesce(CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_contaminated
        FROM held h LEFT JOIN cont c ON h.doc_id = c.doc_id
        GROUP BY h.lang
        ORDER BY h.lang"""
      }),

    // ----- context-window packing --------------------------------------------
    // Training-sequence packing: per (lang, shard) documents are
    // concatenated in doc_id order and chunked into fixed token budgets
    // (512 here); a document straddling a boundary spans several chunks —
    // exactly how pretraining dataloaders pack. Output: per chunk, how many
    // docs touch it and its token count (== budget except each shard's
    // tail). Sharding is the scale story: a GLOBAL ordered cumsum would
    // serialize the corpus through one task, so packing runs per
    // (lang, hash-shard) — 8 here, thousands in production — which is also
    // the semantics dataloaders actually use (order within a shard,
    // never a global order). All integer arithmetic: window cumsum, floor
    // division for chunk spans, overlap sums — bit-identical cross-engine.
    QueryDef(
      "t08_pack_context",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"lang", $"shard").orderBy($"doc_id")
        val b = lit(PackBudget)
        val spans = Tables.documents(s, d)
          .select($"doc_id", $"lang", packShard.as("shard"),
            size(TextFns.tokens($"text")).cast("long").as("n"))
          .withColumn("fin", sum($"n").over(w))
          .withColumn("start", $"fin" - $"n")
          .withColumn("c0", floor($"start" / b).cast("long"))
          .withColumn("c1", floor(($"fin" - 1) / b).cast("long"))
        spans
          .select($"lang", $"shard", $"start", $"fin",
            explode(sequence($"c0", $"c1")).as("chunk"))
          .groupBy($"lang", $"shard", $"chunk")
          .agg(count(lit(1)).as("n_docs"),
            sum(least(($"chunk" + 1) * b, $"fin") - greatest($"chunk" * b, $"start"))
              .as("n_tokens"))
          .orderBy($"lang", $"shard", $"chunk")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang,
                 CAST($packShardSql AS BIGINT) AS shard,
                 CAST(len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n
          FROM documents),
        spans AS (
          SELECT lang, shard,
                 CAST(sum(n) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS BIGINT) AS fin,
                 CAST(sum(n) OVER (PARTITION BY lang, shard ORDER BY doc_id) - n AS BIGINT) AS start
          FROM t),
        ex AS (
          SELECT lang, shard, start, fin,
                 unnest(generate_series(CAST(floor(start::DOUBLE / $PackBudget) AS BIGINT),
                                        CAST(floor((fin - 1)::DOUBLE / $PackBudget) AS BIGINT))) AS chunk
          FROM spans)
        SELECT lang, shard, chunk, count(*) AS n_docs,
               CAST(sum(least((chunk + 1) * $PackBudget, fin)
                        - greatest(chunk * $PackBudget, start)) AS BIGINT) AS n_tokens
        FROM ex
        GROUP BY lang, shard, chunk
        ORDER BY lang, shard, chunk""")),

    // ----- composed ingestion: admission -> near-dup dedup -> packing -------
    // The capstone the stages exist for, as ONE oracle-gated batch plan (the
    // same function StreamingSpec proves ≡ the continuous StreamIngest job
    // across a checkpointed restart): canonicalize by content key and gate
    // (t05), mine exact-jaccard-verified near-dup pairs among the admitted
    // canonicals (d03's contract), drop the larger-rep side per pair (d07's
    // keep-canonical rule), pack survivors into 512-token context windows
    // per (predicted_lang, poly-hash shard) (t08). The oracle replays every
    // stage in DuckDB as composed CTEs of the t05/d03/t08 oracle shapes.
    QueryDef(
      "t38_ingest_packed",
      (s, d) => graft.streaming.StreamIngest.ingestBatch(Tables.documents(s, d)),
      oracle = Some {
        val scoreExprs = TextFns.langScoreSql()
        val pick = TextFns.langPickSql
        s"""
        WITH toks AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_key,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        feats AS (
          SELECT doc_id, content_key, t,
                 CAST(len(t) AS BIGINT) AS n_tokens,
                 CAST(floor(len(list_distinct(t)) * 1000.0 / len(t)) AS BIGINT) AS distinct_ratio_milli,
                 $scoreExprs
          FROM toks),
        canon AS (SELECT content_key, min(doc_id) AS rep FROM feats GROUP BY content_key),
        adm AS (
          SELECT f.content_key, f.doc_id, f.n_tokens, f.t, $pick AS predicted_lang
          FROM feats f JOIN canon c ON f.content_key = c.content_key AND f.doc_id = c.rep
          WHERE f.n_tokens >= 20 AND f.distinct_ratio_milli >= 200),
        sh AS (
          SELECT doc_id, content_key,
                 list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                   i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
          FROM adm),
        pairs AS (
          SELECT a.content_key AS ck_a, b.content_key AS ck_b,
                 a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE floor(len(list_intersect(a.s, b.s)) * 1000.0 /
                  len(list_distinct(list_concat(a.s, b.s)))) >= 800),
        dropped AS (
          SELECT DISTINCT CASE WHEN id_a > id_b THEN ck_a ELSE ck_b END AS content_key
          FROM pairs),
        surv AS (
          SELECT a.doc_id, a.predicted_lang AS lang, a.n_tokens AS n
          FROM adm a LEFT JOIN dropped d ON a.content_key = d.content_key
          WHERE d.content_key IS NULL),
        sharded AS (
          SELECT doc_id, lang, CAST($packShardSql AS BIGINT) AS shard, n
          FROM surv),
        spans AS (
          SELECT lang, shard,
                 CAST(sum(n) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS BIGINT) AS fin,
                 CAST(sum(n) OVER (PARTITION BY lang, shard ORDER BY doc_id) - n AS BIGINT) AS start
          FROM sharded),
        ex AS (
          SELECT lang, shard, start, fin,
                 unnest(generate_series(CAST(floor(start::DOUBLE / $PackBudget) AS BIGINT),
                                        CAST(floor((fin - 1)::DOUBLE / $PackBudget) AS BIGINT))) AS chunk
          FROM spans)
        SELECT lang, shard, chunk, count(*) AS n_docs,
               CAST(sum(least((chunk + 1) * $PackBudget, fin)
                        - greatest(chunk * $PackBudget, start)) AS BIGINT) AS n_tokens
        FROM ex
        GROUP BY lang, shard, chunk
        ORDER BY lang, shard, chunk"""
      }),

    // ----- repetition filters (Gopher/C4-style quality rules) ---------------
    // The repetition family of corpus-quality signals: dominant-token
    // ratio, fraction of bigram occurrences that are duplicates, and the
    // Simpson concentration index (sum of squared token counts over n^2 —
    // an entropy stand-in that needs only integer counts, so it is
    // cross-engine exact where -sum(p log p) would drift on libm
    // differences). Per-row JVM kernel (hash-map counts); the oracle
    // recomputes via unnest + group-by at document grain.
    QueryDef(
      "t09_repetition",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", TextFns.tokens($"text").as("t"))
          .as[(Long, Seq[String])]
          .map { case (id, t) =>
            val n = t.length
            val counts = new scala.collection.mutable.HashMap[String, Long]
            t.foreach(w => counts.update(w, counts.getOrElse(w, 0L) + 1L))
            val top = counts.values.max
            val simpson = counts.values.map(c => c * c).sum
            val bg = new scala.collection.mutable.HashMap[(String, String), Long]
            var i = 0
            while (i < n - 1) {
              val k = (t(i), t(i + 1))
              bg.update(k, bg.getOrElse(k, 0L) + 1L)
              i += 1
            }
            val dupOcc = bg.values.filter(_ >= 2L).sum
            val dupMilli =
              if (n > 1) math.floor(dupOcc * 1000.0 / (n - 1)).toLong else 0L
            (id, n.toLong,
              math.floor(top * 1000.0 / n).toLong,
              dupMilli,
              math.floor(simpson * 1000000.0 / (n.toLong * n)).toLong)
          }
          .toDF("doc_id", "n_tokens", "top_token_milli", "dup_bigram_milli", "simpson_micro")
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id,
                 string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        tc AS (
          SELECT doc_id, tok, count(*) AS c
          FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
          GROUP BY doc_id, tok),
        tok_stats AS (
          SELECT doc_id, max(c) AS top, sum(c * c) AS simpson
          FROM tc GROUP BY doc_id),
        bg AS (
          SELECT doc_id, g, count(*) AS c
          FROM (SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(t) - 1),
                         i -> concat_ws(' ', t[i], t[i+1]))) AS g
                FROM toks)
          GROUP BY doc_id, g),
        bg_stats AS (
          SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_occ
          FROM bg GROUP BY doc_id)
        SELECT k.doc_id,
               CAST(len(k.t) AS BIGINT) AS n_tokens,
               CAST(floor(ts.top * 1000.0 / len(k.t)) AS BIGINT) AS top_token_milli,
               CAST(CASE WHEN len(k.t) > 1
                    THEN floor(coalesce(bs.dup_occ, 0) * 1000.0 / (len(k.t) - 1))
                    ELSE 0 END AS BIGINT) AS dup_bigram_milli,
               CAST(floor(ts.simpson * 1000000.0 / (len(k.t) * len(k.t))) AS BIGINT) AS simpson_micro
        FROM toks k
        JOIN tok_stats ts USING (doc_id)
        LEFT JOIN bg_stats bs USING (doc_id)
        ORDER BY k.doc_id""")),

    // ----- PII scan ----------------------------------------------------------
    // Corpus-compliance telemetry: per language, how many documents carry
    // emails / IPv4s / phone-shaped strings and the total match counts —
    // the decision table a redaction pass or an exclusion filter consumes.
    // Patterns live in TextFns restricted to the Java-regex/RE2 common
    // dialect (the t03 BPE-ish precedent); the synthetic fixture is
    // PII-free, so the fixture result is the all-clean baseline and
    // TextSpec proves the detectors fire on planted PII.
    QueryDef(
      "t10_pii_scan",
      (s, d) => {
        import s.implicits._
        val e = TextFns.piiEmails($"text")
        val i = TextFns.piiIpv4s($"text")
        val p = TextFns.piiPhones($"text")
        Tables.documents(s, d)
          .select($"lang", e.as("e"), i.as("i"), p.as("p"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(($"e" > 0 || $"i" > 0 || $"p" > 0).cast("long")).as("docs_with_pii"),
            sum($"e").as("emails"), sum($"i").as("ipv4s"), sum($"p").as("phones"))
          .orderBy($"lang")
      },
      oracle = Some(s"""
        WITH m AS (
          SELECT lang,
                 len(regexp_extract_all(text, '${TextFns.EmailPattern}')) AS e,
                 len(regexp_extract_all(text, '${TextFns.Ipv4Pattern}')) AS i,
                 len(regexp_extract_all(text, '${TextFns.PhonePattern}')) AS p
          FROM documents)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN e > 0 OR i > 0 OR p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
               CAST(sum(e) AS BIGINT) AS emails,
               CAST(sum(i) AS BIGINT) AS ipv4s,
               CAST(sum(p) AS BIGINT) AS phones
        FROM m GROUP BY lang
        ORDER BY lang""")),

    // ----- deterministic data-mix sampling -----------------------------------
    // Training-mix construction: each source gets a target sampling rate and
    // membership is a pure function of (source, doc_id) — the same
    // RNG-free discipline as the t06 split, so the mix is reproducible
    // under retries and recomputable by any engine for audit. Here the
    // per-source rate is itself derived deterministically from the source
    // name (20–90%); in production it would be a tiny broadcast config
    // table keyed by source. Per-row predicate + hash agg: shuffle-free
    // until the final per-source rollup, linear at any corpus size.
    QueryDef(
      "t11_mix_sampling",
      (s, d) => {
        import s.implicits._
        val targetPct = pmod(TextFns.polyHash($"source"), lit(71L)) + lit(20L)
        val keep = (pmod(saltedDocHash("mix:"), lit(100L)) < targetPct).cast("long")
        Tables.documents(s, d)
          .select($"source", targetPct.as("target_pct"), keep.as("keep"),
            size(TextFns.tokens($"text")).cast("long").as("n_tokens"))
          .groupBy($"source", $"target_pct")
          .agg(count(lit(1)).as("n_docs"),
            sum($"keep").as("n_sampled"),
            sum($"keep" * $"n_tokens").as("sampled_tokens"),
            floor(sum($"keep") * lit(100000.0) / count(lit(1))).cast("long")
              .as("achieved_pct_milli"))
          .orderBy($"source")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT source,
                 (${polyHashSqlOf("source")}) % 71 + 20 AS target_pct,
                 (${saltedDocHashSql("mix:")}) % 100 AS mix_bucket,
                 len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_tokens
          FROM documents),
        k AS (
          SELECT source, target_pct,
                 CASE WHEN mix_bucket < target_pct THEN 1 ELSE 0 END AS keep,
                 n_tokens
          FROM t)
        SELECT source, CAST(target_pct AS BIGINT) AS target_pct,
               count(*) AS n_docs,
               CAST(sum(keep) AS BIGINT) AS n_sampled,
               CAST(sum(keep * n_tokens) AS BIGINT) AS sampled_tokens,
               CAST(floor(sum(keep) * 100000.0 / count(*)) AS BIGINT) AS achieved_pct_milli
        FROM k GROUP BY source, target_pct
        ORDER BY source""")),

    // ----- unigram LM surprisal scoring --------------------------------------
    // Perplexity-style quality scoring without a trained LM: score each
    // document by the corpus's own unigram statistics. Per-token surprisal
    // is bucketed to whole bits with INTEGER floor-log2 —
    // `length(bin(x)) - 1` in both engines — so
    //   bits(tok) = floor_log2(T) - floor_log2(cf(tok))
    // approximates -log2 p(tok) within 1 bit using only integer/string
    // ops: no libm log whose last-ulp differences would break the
    // cross-engine hash. Shape: doc-term counts (one shuffle with map-side
    // combine) -> vocab counts (agg over dt, bounded by vocab size, NOT
    // corpus size) -> join dt back to vocab on token -> per-doc then
    // per-lang rollup. The corpus total T is a 1-row broadcast. At 100 TB
    // the dt⋈vocab equi-join is the only real shuffle; for bounded vocabs
    // broadcast(vocab) removes it entirely, and hot-token reducer skew is
    // bounded by doc count per token (salt if needed — SkewJoin pattern).
    QueryDef(
      "t12_unigram_surprisal",
      (s, d) => {
        import s.implicits._
        val dt = Tables.documents(s, d)
          .select($"doc_id", $"lang", explode(TextFns.tokens($"text")).as("tok"))
          .groupBy($"doc_id", $"lang", $"tok").agg(count(lit(1)).as("tf"))
        val vocab = dt.groupBy($"tok").agg(sum($"tf").as("cf"))
        val total = vocab.agg(sum($"cf").as("t_total"))
        val perDoc = dt.join(vocab, "tok").crossJoin(broadcast(total))
          .select($"doc_id", $"lang", $"tf",
            ($"tf" * (length(bin($"t_total")) - length(bin($"cf"))).cast("long")).as("sbits"),
            ($"tf" * ($"cf" === 1L).cast("long")).as("hap"))
          .groupBy($"doc_id", $"lang")
          .agg(sum($"tf").as("n_tok"), sum($"sbits").as("bits"), sum($"hap").as("haps"))
        perDoc.groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tok").as("total_tokens"),
            sum($"bits").as("total_surprisal_bits"),
            floor(sum($"bits") * lit(1000.0) / sum($"n_tok")).cast("long").as("avg_bits_milli"),
            sum($"haps").as("hapax_tokens"))
          .orderBy($"lang")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, lang,
                 unnest(string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
          FROM documents),
        dt AS (SELECT doc_id, lang, tok, count(*) AS tf FROM toks GROUP BY doc_id, lang, tok),
        vocab AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM dt GROUP BY tok),
        tot AS (SELECT CAST(sum(cf) AS BIGINT) AS t_total FROM vocab),
        per_doc AS (
          SELECT doc_id, lang,
                 CAST(sum(tf) AS BIGINT) AS n_tok,
                 CAST(sum(tf * (length(bin(t_total)) - length(bin(cf)))) AS BIGINT) AS bits,
                 CAST(sum(CASE WHEN cf = 1 THEN tf ELSE 0 END) AS BIGINT) AS haps
          FROM dt JOIN vocab USING (tok) CROSS JOIN tot
          GROUP BY doc_id, lang)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(bits) AS BIGINT) AS total_surprisal_bits,
               CAST(floor(sum(bits) * 1000.0 / sum(n_tok)) AS BIGINT) AS avg_bits_milli,
               CAST(sum(haps) AS BIGINT) AS hapax_tokens
        FROM per_doc GROUP BY lang
        ORDER BY lang""")),

    // ----- BPE merge induction -----------------------------------------------
    // Tokenizer-vocabulary learning as a distributed pipeline: reduce the
    // corpus to a word-frequency table ONCE (the only corpus-scale
    // shuffle, map-side combinable), then run greedy BPE merge rounds over
    // the vocab-sized table: count adjacent symbol pairs weighted by word
    // frequency, pick the argmax (total order: count desc, then pair —
    // deterministic across engines), apply the merge, repeat. The per-round
    // argmax is a 1-row driver decision like d08's convergence count; data
    // never leaves the cluster. Merge application is a greedy
    // left-to-right fold defined IDENTICALLY as a JVM kernel
    // ([[applyBpeMerge]]) and a DuckDB list_reduce lambda, so the learned
    // merges hash-match (the s04 unrolled-iterations trick). Rounds are
    // unrolled 3x in the oracle; production runs the same loop to 30k+
    // merges; the word table and its rewrites are eager checkpoints, so
    // each round is one agg + map over the vocab (~MBs), not the corpus.
    QueryDef(
      "t13_bpe_merges",
      (s, d) => {
        import s.implicits._
        var words = Tables.documents(s, d)
          .select(explode(TextFns.tokens($"text")).as("w"))
          .groupBy($"w").agg(count(lit(1)).as("freq"))
          .as[(String, Long)]
          .map { case (w, f) =>
            // split to UNICODE CODEPOINTS (mirrors DuckDB substring(w,i,1))
            val chars = w.codePoints().toArray
              .map(cp => new String(Character.toChars(cp)))
            (chars.mkString(" "), f)
          }
          .toDF("sym", "freq").localCheckpoint()
        val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
        for (r <- 1 to BpeRounds) {
          val top = words.as[(String, Long)]
            .flatMap { case (sym, f) =>
              val ps = sym.split(' ')
              (0 until ps.length - 1).iterator.map(i => (ps(i), ps(i + 1), f))
            }
            .toDF("s1", "s2", "f")
            .groupBy($"s1", $"s2").agg(sum($"f").as("cnt"))
            .orderBy($"cnt".desc, $"s1", $"s2").limit(1)
            .as[(String, String, Long)].collect()(0)
          merges += ((r, top._1, top._2, top._3))
          val (m1, m2) = (top._1, top._2)
          if (r < BpeRounds) words = words.as[(String, Long)]
            .map { case (sym, f) => (applyBpeMerge(sym, m1, m2), f) }
            .toDF("sym", "freq").localCheckpoint()
        }
        s.createDataset(merges.toSeq)
          .toDF("merge_rank", "s1", "s2", "pair_count")
          .orderBy($"merge_rank")
      },
      oracle = Some {
        def pairsOf(wordsCte: String, n: Int): String = s"""
        pairs$n AS (
          SELECT p.s1 AS s1, p.s2 AS s2, CAST(sum(freq) AS BIGINT) AS cnt FROM (
            SELECT unnest(list_transform(generate_series(1, len(s) - 1),
                     i -> {'s1': s[i], 's2': s[i+1]})) AS p, freq
            FROM (SELECT string_split(sym, ' ') AS s, freq FROM $wordsCte))
          GROUP BY 1, 2),
        merge$n AS (SELECT s1, s2, cnt FROM pairs$n ORDER BY cnt DESC, s1, s2 LIMIT 1)"""
        def mergedWords(prev: String, n: Int): String = s"""
        words$n AS (
          SELECT list_reduce(string_split(sym, ' '),
                   (acc, x) -> CASE WHEN x = m.s2 AND (acc = m.s1 OR ends_with(acc, ' ' || m.s1))
                               THEN acc || x ELSE acc || ' ' || x END) AS sym, freq
          FROM $prev, merge${n - 1} m)"""
        s"""
        WITH toks AS (
          SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
          FROM documents),
        w0 AS (SELECT w, count(*) AS freq FROM toks GROUP BY w),
        words1 AS (
          SELECT array_to_string(list_transform(generate_series(1, length(w)),
                   i -> substring(w, i, 1)), ' ') AS sym, freq
          FROM w0),
        ${pairsOf("words1", 1)},
        ${mergedWords("words1", 2)},
        ${pairsOf("words2", 2)},
        ${mergedWords("words2", 3)},
        ${pairsOf("words3", 3)}
        SELECT * FROM (
          SELECT 1 AS merge_rank, s1, s2, cnt AS pair_count FROM merge1
          UNION ALL SELECT 2, s1, s2, cnt FROM merge2
          UNION ALL SELECT 3, s1, s2, cnt FROM merge3)
        ORDER BY merge_rank"""
      }),

    // ----- inter-document boilerplate spans ----------------------------------
    // C4-style repeated-span detection: an 8-token shingle present in >= 2
    // documents is boilerplate (headers, license blocks, templated
    // paragraphs); each doc is scored by the fraction of its shingles that
    // are shared. Same linear shape as t07: explode shingles, one hash agg
    // for document frequency, one equi-join back — never all-pairs. The
    // "shared majority" flag uses the integer inequality 2*shared >= n
    // (no division). A removal pass would drop flagged docs or spans; this
    // emits the per-lang decision table.
    QueryDef(
      "t14_boilerplate_spans",
      (s, d) => boilerplateSpans(Tables.documents(s, d)),
      oracle = Some {
        val gram = (0 to 7).map(k => s"t[i+$k]").mkString(", ")
        s"""
        WITH toks AS (
          SELECT doc_id, lang,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, lang,
                 list_distinct(list_transform(generate_series(1, greatest(len(t) - 7, 1)),
                   i -> concat_ws(' ', $gram))) AS s
          FROM toks),
        ex AS (SELECT doc_id, lang, unnest(s) AS g FROM sh),
        df AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
        per_doc AS (
          SELECT e.doc_id, e.lang, count(*) AS n_sh,
                 sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS shared
          FROM ex e JOIN df d USING (g)
          GROUP BY e.doc_id, e.lang)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN shared * 2 >= n_sh THEN 1 ELSE 0 END) AS BIGINT) AS high_overlap_docs,
               CAST(sum(n_sh) AS BIGINT) AS total_shingles,
               CAST(sum(shared) AS BIGINT) AS shared_shingles,
               CAST(floor(sum(shared) * 1000.0 / sum(n_sh)) AS BIGINT) AS shared_milli
        FROM per_doc GROUP BY lang
        ORDER BY lang"""
      }),

    // ----- bigram LM surprisal (t12's unigram model, one order up) ----------
    // Conditional surprisal under a self-trained bigram model:
    // bits(w2|w1) ~ log2(cf(w1·) / cf(w1 w2)), taken at integer-log2
    // precision via the t12 bin-length trick (length(bin(x)) =
    // floor(log2 x)+1, so the difference IS the integer log-ratio — no
    // floats anywhere). The prefix count cf(w1·) sums bigram counts, so
    // the model is properly normalized (sum_w2 P(w2|w1) = 1 at full
    // precision). Pipeline shape: one corpus-scale pair explode feeding
    // two map-side-combinable hash aggs (the bigram table and its prefix
    // marginal), then a vocab-sized join back — the same narrow-join
    // shape as t12, with the bigram table bounded by corpus token count.
    // Per-doc conditional surprisal is THE repetition signal unigram
    // models miss: a doc repeating one phrase has low bigram surprisal
    // but normal unigram surprisal.
    QueryDef(
      "t15_bigram_surprisal",
      (s, d) => {
        import s.implicits._
        val dt = Tables.documents(s, d)
          .select($"doc_id", $"lang", TextFns.tokens($"text").as("t"))
          .select($"doc_id", $"lang", explode(expr(
            "transform(sequence(1, size(t)-1), i -> struct(t[i-1] AS w1, t[i] AS w2))")).as("p"))
          .select($"doc_id", $"lang", $"p.w1", $"p.w2")
          .groupBy($"doc_id", $"lang", $"w1", $"w2").agg(count(lit(1)).as("tf"))
        val big = dt.groupBy($"w1", $"w2").agg(sum($"tf").as("cf2"))
        val pre = big.groupBy($"w1").agg(sum($"cf2").as("cf1"))
        dt.join(big, Seq("w1", "w2")).join(pre, Seq("w1"))
          .select($"doc_id", $"lang", $"tf",
            ($"tf" * (length(bin($"cf1")) - length(bin($"cf2"))).cast("long")).as("sbits"),
            ($"tf" * ($"cf2" === 1L).cast("long")).as("hap"))
          .groupBy($"doc_id", $"lang")
          .agg(sum($"tf").as("n_bi"), sum($"sbits").as("bits"), sum($"hap").as("haps"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_bi").as("total_bigrams"),
            sum($"bits").as("total_surprisal_bits"),
            floor(sum($"bits") * lit(1000.0) / sum($"n_bi")).cast("long").as("avg_bits_milli"),
            sum($"haps").as("hapax_bigrams"))
          .orderBy($"lang")
      },
      oracle = Some("""
        WITH lst AS (
          SELECT doc_id, lang,
                 string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        pairs AS (
          SELECT doc_id, lang,
                 unnest(list_slice(t, 1, len(t)-1)) AS w1,
                 unnest(list_slice(t, 2, len(t))) AS w2
          FROM lst),
        dt AS (SELECT doc_id, lang, w1, w2, count(*) AS tf
               FROM pairs GROUP BY doc_id, lang, w1, w2),
        big AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cf2 FROM dt GROUP BY w1, w2),
        pre AS (SELECT w1, CAST(sum(cf2) AS BIGINT) AS cf1 FROM big GROUP BY w1),
        per_doc AS (
          SELECT doc_id, lang,
                 CAST(sum(tf) AS BIGINT) AS n_bi,
                 CAST(sum(tf * (length(bin(cf1)) - length(bin(cf2)))) AS BIGINT) AS bits,
                 CAST(sum(CASE WHEN cf2 = 1 THEN tf ELSE 0 END) AS BIGINT) AS haps
          FROM dt JOIN big USING (w1, w2) JOIN pre USING (w1)
          GROUP BY doc_id, lang)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_bi) AS BIGINT) AS total_bigrams,
               CAST(sum(bits) AS BIGINT) AS total_surprisal_bits,
               CAST(floor(sum(bits) * 1000.0 / sum(n_bi)) AS BIGINT) AS avg_bits_milli,
               CAST(sum(haps) AS BIGINT) AS hapax_bigrams
        FROM per_doc GROUP BY lang
        ORDER BY lang""")),

    // ----- overlapping document chunking (retrieval / context prep) ---------
    // Split every document into fixed-size character windows with overlap —
    // the chunking primitive behind retrieval indexing and long-document
    // context preparation. Chunk starts step by `ChunkStride`; the final
    // window is allowed to run short. Emits per-chunk offsets, length, and
    // an md5 content fingerprint so the oracle checks the chunk BYTES, not
    // just the arithmetic.
    //
    // Scale: narrow projection + per-row explode — embarrassingly parallel,
    // zero shuffles before the output sort; output size is input chars /
    // stride, a constant factor. The chunk count formula stays in exact
    // non-negative integer arithmetic so both engines agree on every edge
    // (len <= size, len = size + 1, empty text => one empty chunk).
    QueryDef(
      "t16_chunk_overlap",
      (s, d) => {
        import s.implicits._
        chunkDocs(Tables.documents(s, d), ChunkSize, ChunkStride)
          .orderBy($"doc_id", $"chunk_idx")
      },
      oracle = Some(s"""
        WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
                   FROM documents),
        ex AS (
          SELECT doc_id, text, len,
                 unnest(generate_series(CAST(0 AS BIGINT),
                   (greatest(len - $ChunkSize, 0) + ${ChunkStride - 1}) // $ChunkStride)) AS chunk_idx
          FROM d)
        SELECT doc_id, chunk_idx,
               chunk_idx * $ChunkStride + 1 AS chunk_start,
               CAST(length(substr(text, CAST(chunk_idx * $ChunkStride + 1 AS INTEGER), $ChunkSize)) AS BIGINT) AS chunk_len,
               md5(substr(text, CAST(chunk_idx * $ChunkStride + 1 AS INTEGER), $ChunkSize)) AS chunk_md5
        FROM ex
        ORDER BY doc_id, chunk_idx""")),

    // ----- deterministic bottom-k per-stratum sample -------------------------
    // Fixed-BUDGET sampling (exactly K docs per language — eval-set and
    // inspection-set construction), complementing t06/t11's fixed-RATE
    // splits: keep each stratum's K smallest salted doc hashes. Bottom-k by
    // a uniform hash IS a uniform sample, it is mergeable (the bottom-k of
    // a union is the bottom-k of the parts' bottom-ks), and membership is a
    // pure function of the id — retry-stable, engine-independent.
    //
    // Scale: rank<=K over a hash-partitioned window executes as
    // WindowGroupLimit(Partial) -> shuffle -> WindowGroupLimit(Final):
    // every input partition forwards at most K rows per stratum, so the
    // shuffle carries O(partitions * K), never the corpus — the per-group
    // generalization of q12's TakeOrderedAndProject (gated in
    // PlanQualitySpec). Few-stratum reducer skew is bounded by the same
    // partial limit.
    QueryDef(
      "t17_bottomk_sample",
      (s, d) => bottomKSample(Tables.documents(s, d), SampleK),
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, lang,
                          ${saltedDocHashSql("sample:")} AS h
                   FROM documents),
        r AS (SELECT lang, doc_id, h,
                     CAST(row_number() OVER (PARTITION BY lang
                       ORDER BY h, doc_id) AS BIGINT) AS sample_rank
              FROM t)
        SELECT lang, sample_rank, doc_id, h AS sample_hash
        FROM r WHERE sample_rank <= $SampleK
        ORDER BY lang, sample_rank""")),

    // ----- weighted PPS sample (sequential Poisson, Ohlsson 1998) -----------
    // t17's uniform bottom-k generalized to probability-proportional-to-size:
    // priority = u/w (u a salted unit-uniform hash of doc_id, w = doc
    // weight), keep the K SMALLEST priorities per stratum — heavier docs get
    // proportionally smaller priorities, so inclusion probability tracks
    // weight (the standard πps approximation). Priorities are quantized to
    // integer micro-units with truncating division, so both engines rank
    // identical BIGINTs — no IEEE reasoning needed anywhere. Same
    // mergeability and retry-stability as t17 (priority is a pure function
    // of (doc_id, weight)), same WindowGroupLimit partial->final execution:
    // the shuffle carries O(partitions * K), never the corpus.
    QueryDef(
      "t27_weighted_sample",
      (s, d) => weightedSample(Tables.documents(s, d), SampleK),
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, lang, greatest(n_chars, 1) AS w,
                          ${saltedDocHashSql("wsample:")} AS h
                   FROM documents),
        r AS (SELECT lang, doc_id, w, (h * 1000000) // w AS priority_micro
              FROM t),
        k AS (SELECT lang, doc_id, w, priority_micro,
                     CAST(row_number() OVER (PARTITION BY lang
                       ORDER BY priority_micro, doc_id) AS BIGINT) AS sample_rank
              FROM r)
        SELECT lang, sample_rank, doc_id, w AS weight, priority_micro
        FROM k WHERE sample_rank <= $SampleK
        ORDER BY lang, sample_rank""")),

    // ----- BPE tokenizer APPLICATION at corpus scale -------------------------
    // The other half of t13: learn the merge table (same 3 greedy rounds),
    // then tokenize the WHOLE corpus with it and report per-lang token
    // economics (characters vs post-merge BPE tokens, compression ratio).
    // The scale trick is that application never touches documents again:
    // after the one corpus shuffle into per-(lang, word) counts, merges
    // are applied to the DISTINCT-WORD table (vocab-sized, MBs) and the
    // per-lang totals come from cnt-weighted sums over the vocab — exactly
    // how production tokenizer-stats jobs avoid re-scanning the corpus per
    // vocab revision. Merge learning is t13's loop (argmax = a 1-row
    // driver decision per round) carried over a (w, sym, freq) table so
    // each word keeps its identity through the rewrites.
    QueryDef(
      "t18_bpe_tokenize",
      (s, d) => {
        import s.implicits._
        // read twice: the word table below and the final per-lang join
        val lw = OpCache.persistRotating("t18.wordCounts", Tables.documents(s, d)
          .select($"lang", explode(TextFns.tokens($"text")).as("w"))
          .groupBy($"lang", $"w").agg(count(lit(1)).as("cnt")))
        var words = lw.groupBy($"w").agg(sum($"cnt").as("freq"))
          .as[(String, Long)]
          .map { case (w, f) =>
            val chars = w.codePoints().toArray
              .map(cp => new String(Character.toChars(cp)))
            (w, chars.mkString(" "), f)
          }
          .toDF("w", "sym", "freq").localCheckpoint()
        for (_ <- 1 to BpeRounds) {
          val top = words.as[(String, String, Long)]
            .flatMap { case (_, sym, f) =>
              val ps = sym.split(' ')
              (0 until ps.length - 1).iterator.map(i => (ps(i), ps(i + 1), f))
            }
            .toDF("s1", "s2", "f")
            .groupBy($"s1", $"s2").agg(sum($"f").as("cnt"))
            .orderBy($"cnt".desc, $"s1", $"s2").limit(1)
            .as[(String, String, Long)].collect()(0)
          val (m1, m2) = (top._1, top._2)
          words = words.as[(String, String, Long)]
            .map { case (w, sym, f) => (w, applyBpeMerge(sym, m1, m2), f) }
            .toDF("w", "sym", "freq").localCheckpoint()
        }
        val nsym = words.as[(String, String, Long)]
          .map { case (w, sym, _) => (w, sym.split(' ').length.toLong) }
          .toDF("w", "nsym")
        lw.join(nsym, "w")
          .groupBy($"lang")
          .agg(sum($"cnt").as("n_words"),
            sum($"cnt" * length($"w").cast("long")).as("char_tokens"),
            sum($"cnt" * $"nsym").as("bpe_tokens"))
          .select($"lang", $"n_words", $"char_tokens", $"bpe_tokens",
            floor($"bpe_tokens" * lit(1000.0) /
              greatest($"char_tokens", lit(1L))).cast("long").as("compression_milli"))
          .orderBy($"lang")
      },
      oracle = Some(t18OracleSql)),

    // ----- deterministic corpus shuffle into training shards -----------------
    // Every pretraining run needs a REPRODUCIBLE global shuffle of the
    // corpus into training order — orderBy(rand()) is neither reproducible
    // across retries nor scalable (one total sort). The scalable form is
    // hash order: shard = seeded hash of the doc id, within-shard position
    // = rank of an INDEPENDENTLY-salted hash (distinct salt prefixes, same
    // trick as t06-vs-t08: shard choice and in-shard order stay
    // uncorrelated). One Exchange on shard, sort within shard, done — at
    // 100 TB the shard count scales with the corpus so each shard fits a
    // reducer, which is exactly how training-shard writers lay out files.
    // Fully deterministic given the salts => DuckDB replays it exactly.
    QueryDef(
      "t19_shuffle_shards",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"shard").orderBy($"order_hash", $"doc_id")
        Tables.documents(s, d)
          .select($"doc_id",
            pmod(saltedDocHash("shuffle:"), lit(ShuffleShards)).as("shard"),
            saltedDocHash("order:").as("order_hash"))
          .withColumn("pos", row_number().over(w).cast("long"))
          .select($"shard", $"pos", $"doc_id", $"order_hash")
          .orderBy($"shard", $"pos")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id,
                 (${saltedDocHashSql("shuffle:")}) % $ShuffleShards AS shard,
                 ${saltedDocHashSql("order:")} AS order_hash
          FROM documents)
        SELECT shard,
               CAST(row_number() OVER (PARTITION BY shard
                 ORDER BY order_hash, doc_id) AS BIGINT) AS pos,
               doc_id, order_hash
        FROM t
        ORDER BY shard, pos""")),

    // ----- cross-document exact repeated-span mining -------------------------
    // The exact-substring-dedup family (suffix-array dedup a la "Deduplicating
    // Training Data Makes Language Models Better"), re-expressed as
    // distributed diagonal-run merging: a shingle match at positions (pa, pb)
    // lies on diagonal pa-pb, and a run of consecutive pa on one diagonal IS
    // a maximal exact repeat of run+7 tokens. Shape: positional 8-shingles ->
    // df-bounded self-join on the 64-bit shingle hash (linear in true
    // repetitions, never all-pairs over docs) -> per-(pair, diagonal) island
    // detection (pa - row_number) -> span aggregation. t14 flags the docs
    // drowning in corpus-wide boilerplate; t20 pinpoints the exact long
    // copies between specific pairs — what you delete span-by-span.
    QueryDef(
      "t20_repeated_spans",
      (s, d) => repeatedSpans(Tables.documents(s, d)),
      oracle = Some(repeatedSpansOracle)),

    // ----- substring-dedup scrub economics (the remove step) -----------------
    // t20 finds the exact cross-document copies; t39 prices cutting them:
    // each span is removed from the higher-id doc (lower id keeps the only
    // copy), per-doc overlapping cuts merge into maximal segments, and the
    // per-lang report says how many docs get rewritten and what fraction of
    // their tokens disappears — the go/no-go evidence before running a
    // corpus rewrite. Past the miner everything is O(spans): per-doc
    // windows over a handful of intervals, one corpus scan for token
    // counts. This is the Lee et al. 2022 substring-dedup decision table.
    QueryDef(
      "t39_span_scrub",
      (s, d) => spanScrubReport(Tables.documents(s, d)),
      oracle = Some(spanScrubOracle)),

    // ----- filter ablation: which quality gate uniquely rejects what? --------
    // The filter-redundancy report a corpus build runs before touching its
    // gate set: per filter, how many docs fail it at all, and how many ONLY
    // it catches (n_unique_fail = the docs lost if the filter is dropped —
    // zero means the filter is redundant given the others). t25's funnel
    // shows sequential attrition; this shows marginal value. Four gates
    // over the t02/t05 signals: token floor, lexical diversity, canonical
    // copy (d07), sane mean token length. ONE corpus scan computes all
    // four flags (plus t05's content-key hash agg for canonicity); the
    // eight counts come from a single aggregate row exploded to four
    // output rows — O(1) past the scan.
    QueryDef(
      "t40_filter_ablation",
      (s, d) => filterAblation(Tables.documents(s, d)),
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS ck,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        feats AS (
          SELECT doc_id, ck,
                 CAST(len(t) AS BIGINT) AS n,
                 CAST(floor(len(list_distinct(t)) * 1000.0 / len(t)) AS BIGINT) AS dr,
                 CAST(floor(list_reduce(list_prepend(0, list_transform(t, x -> length(x))),
                   (acc, x) -> acc + x) * 1000.0 / len(t)) AS BIGINT) AS mt
          FROM toks),
        canon AS (SELECT ck, min(doc_id) AS m FROM feats GROUP BY ck),
        flags AS (
          SELECT (n < 20) AS x_len, (dr < 200) AS x_div,
                 (f.doc_id <> c.m) AS x_canon,
                 (mt < 2000 OR mt > 15000) AS x_tok
          FROM feats f JOIN canon c USING (ck)),
        agg AS (
          SELECT
            CAST(sum(CASE WHEN x_len THEN 1 ELSE 0 END) AS BIGINT) AS f_len,
            CAST(sum(CASE WHEN x_len AND NOT x_div AND NOT x_canon AND NOT x_tok THEN 1 ELSE 0 END) AS BIGINT) AS u_len,
            CAST(sum(CASE WHEN x_div THEN 1 ELSE 0 END) AS BIGINT) AS f_div,
            CAST(sum(CASE WHEN x_div AND NOT x_len AND NOT x_canon AND NOT x_tok THEN 1 ELSE 0 END) AS BIGINT) AS u_div,
            CAST(sum(CASE WHEN x_canon THEN 1 ELSE 0 END) AS BIGINT) AS f_canon,
            CAST(sum(CASE WHEN x_canon AND NOT x_len AND NOT x_div AND NOT x_tok THEN 1 ELSE 0 END) AS BIGINT) AS u_canon,
            CAST(sum(CASE WHEN x_tok THEN 1 ELSE 0 END) AS BIGINT) AS f_tok,
            CAST(sum(CASE WHEN x_tok AND NOT x_len AND NOT x_div AND NOT x_canon THEN 1 ELSE 0 END) AS BIGINT) AS u_tok
          FROM flags)
        SELECT 'canonical_copy' AS filter, f_canon AS n_fail, u_canon AS n_unique_fail FROM agg
        UNION ALL SELECT 'lexical_diversity', f_div, u_div FROM agg
        UNION ALL SELECT 'mean_token_length', f_tok, u_tok FROM agg
        UNION ALL SELECT 'token_floor', f_len, u_len FROM agg
        ORDER BY filter""")),

    // ----- epoch-budget waterfilling (the data-mix epoch decision) -----------
    // The step the mixing family feeds: t11 samples at given rates, t22
    // rebalances shares, t30 splits an annotation budget — t41 decides HOW
    // MANY EPOCHS of each source a training run gets under a total token
    // budget, the LLaMA-recipe waterfill (repeat every source at a common
    // level λ, clamp each at its own cap). Caps here derive from the t04
    // poly-hash (a deterministic stand-in for per-source quality/licensing
    // tiers, like t21's synthetic model weights); the budget is 1.5 epochs
    // of the corpus. One corpus aggregate, then everything runs on the
    // O(sources) table.
    QueryDef(
      "t41_epoch_waterfill",
      (s, d) => {
        import s.implicits._
        val srcs = Tables.documents(s, d)
          .select($"source", size(TextFns.tokens($"text")).cast("long").as("nt"))
          .groupBy($"source").agg(sum($"nt").as("s_tokens"))
          .withColumn("cap_milli",
            (pmod(TextFns.polyHash($"source"), lit(4L)) + 1L) * 1000L)
        epochWaterfill(srcs)
      },
      oracle = Some(s"""
        WITH srcs AS (
          SELECT source,
                 CAST(sum(len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS BIGINT) AS s_tokens,
                 CAST(((${polyHashSqlOf("source")}) % 4 + 1) * 1000 AS BIGINT) AS cap_milli
          FROM documents GROUP BY source),
        base AS (
          SELECT source, s_tokens, cap_milli,
                 CAST(sum(s_tokens) OVER () AS BIGINT) AS total_s,
                 CAST(sum(s_tokens) OVER () * 1500 AS BIGINT) AS bm,
                 coalesce(CAST(sum(cap_milli * s_tokens) OVER (ORDER BY cap_milli, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pprev,
                 CAST(sum(s_tokens) OVER () AS BIGINT)
                   - coalesce(CAST(sum(s_tokens) OVER (ORDER BY cap_milli, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS rprev,
                 coalesce(CAST(max(cap_milli) OVER (ORDER BY cap_milli, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cap_prev
          FROM srcs),
        cand AS (
          SELECT *, CASE WHEN rprev > 0 AND bm >= pprev
                         THEN (bm - pprev) // rprev END AS cand
          FROM base),
        lamt AS (
          SELECT max(CASE WHEN cand IS NOT NULL AND cand >= cap_prev AND cand <= cap_milli
                          THEN cand END) AS lam_valid,
                 CAST(sum(cap_milli * s_tokens) AS BIGINT) AS capped_mass,
                 CAST(max(cap_milli) AS BIGINT) AS cap_max,
                 CAST(max(bm) AS BIGINT) AS bm
          FROM cand)
        SELECT c.source, c.s_tokens, c.cap_milli,
               CAST(least(coalesce(l.lam_valid,
                 CASE WHEN l.bm >= l.capped_mass THEN l.cap_max END), c.cap_milli) AS BIGINT) AS epochs_milli,
               (least(coalesce(l.lam_valid,
                 CASE WHEN l.bm >= l.capped_mass THEN l.cap_max END), c.cap_milli) * c.s_tokens) // 1000 AS alloc_tokens
        FROM cand c CROSS JOIN lamt l
        ORDER BY c.source""")),

    // ----- URL/domain-grain corpus governance --------------------------------
    // The crawl-side gate that runs BEFORE any text filter: canonicalize
    // URLs, dedup on the canonical form, cap any one registered domain's
    // share of the corpus (waterfill at unit weight — see
    // domainGovernance). The documents table carries no URL, so the query
    // synthesizes one deterministically from (doc_id, source) with every
    // messy variant the canonicalizer must handle — scheme case, www/m
    // subdomains, host case, trailing slash, /index.html, query strings,
    // fragments — and the oracle replays the same synthesis. doc_id is
    // reduced mod 7 BEFORE squaring so the skew term never overflows at
    // probe-scale ids (k·10^9).
    QueryDef(
      "t42_domain_governance",
      (s, d) => {
        import s.implicits._
        val d7 = pmod($"doc_id", lit(7L))
        val scheme = when(d7 === 0L, "HTTPS").when(d7 === 1L, "http")
          .otherwise("https")
        val sub = when(pmod($"doc_id", lit(5L)) === 0L, "www.")
          .when(pmod($"doc_id", lit(5L)) === 1L, "WWW.")
          .when(pmod($"doc_id", lit(5L)) === 2L, "m.")
          .otherwise("")
        val host0 = concat(sub, $"source", lit("-"),
          pmod(pmod(d7 * d7, lit(7L)), lit(3L)).cast("string"),
          lit(".com"))
        val host1 = when(pmod($"doc_id", lit(11L)) === 0L, upper(host0))
          .otherwise(host0)
        // userinfo + explicit-port variants: the canonicalizer must strip
        // both, so a fetch recorded as user@host:8080 dedups with the rest
        val host = concat(
          when(pmod($"doc_id", lit(17L)) === 0L, "crawler@").otherwise(""),
          host1,
          when(pmod($"doc_id", lit(13L)) === 0L, ":8080").otherwise(""))
        val tail = when(pmod($"doc_id", lit(6L)) === 0L, "/")
          .when(pmod($"doc_id", lit(6L)) === 1L, "/index.html")
          .when(pmod($"doc_id", lit(6L)) === 2L, "?utm_source=feed")
          .when(pmod($"doc_id", lit(6L)) === 3L, "#frag")
          .when(pmod($"doc_id", lit(6L)) === 4L, "?x=1&utm=2")
          .otherwise("")
        val urls = Tables.documents(s, d).select($"doc_id",
          concat(scheme, lit("://"), host,
            lit("/p/"), pmod($"doc_id", lit(40L)).cast("string"), tail).as("url"))
        domainGovernance(urls)
      },
      oracle = Some(s"""
        WITH parts AS (
          SELECT doc_id,
                 (CASE WHEN doc_id % 5 = 0 THEN 'www.' WHEN doc_id % 5 = 1 THEN 'WWW.'
                       WHEN doc_id % 5 = 2 THEN 'm.' ELSE '' END)
                 || source || '-'
                 || CAST((((doc_id % 7) * (doc_id % 7)) % 7) % 3 AS VARCHAR)
                 || '.com' AS h
          FROM documents),
        urls AS (
          SELECT doc_id,
                 (CASE WHEN doc_id % 7 = 0 THEN 'HTTPS'
                       WHEN doc_id % 7 = 1 THEN 'http' ELSE 'https' END)
                 || '://'
                 || (CASE WHEN doc_id % 17 = 0 THEN 'crawler@' ELSE '' END)
                 || (CASE WHEN doc_id % 11 = 0 THEN upper(h) ELSE h END)
                 || (CASE WHEN doc_id % 13 = 0 THEN ':8080' ELSE '' END)
                 || '/p/' || CAST(doc_id % 40 AS VARCHAR)
                 || (CASE WHEN doc_id % 6 = 0 THEN '/'
                          WHEN doc_id % 6 = 1 THEN '/index.html'
                          WHEN doc_id % 6 = 2 THEN '?utm_source=feed'
                          WHEN doc_id % 6 = 3 THEN '#frag'
                          WHEN doc_id % 6 = 4 THEN '?x=1&utm=2' ELSE '' END) AS url
          FROM parts),
        canon AS (
          SELECT regexp_replace(regexp_replace(regexp_replace(
                   lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                   '^[^@]*@', ''), ':[0-9]+$$', ''), '^www\\.', '') AS host,
                 regexp_replace(regexp_replace(
                   regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
                   '/index\\.html$$', ''), '/$$', '') AS p
          FROM urls),
        dom AS (
          SELECT regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT 'https://' || host || p) AS BIGINT) AS n_urls
          FROM canon GROUP BY 1),
        base AS (
          SELECT domain, n_docs, n_urls,
                 CAST(sum(n_urls) OVER () AS BIGINT) AS total_u,
                 (CAST(sum(n_urls) OVER () AS BIGINT) * $DomainBudgetPct) // 100 AS b,
                 coalesce(CAST(sum(n_urls) OVER (ORDER BY n_urls, domain
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pprev,
                 CAST(count(*) OVER () AS BIGINT)
                   - coalesce(CAST(count(*) OVER (ORDER BY n_urls, domain
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS rprev,
                 coalesce(CAST(max(n_urls) OVER (ORDER BY n_urls, domain
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cap_prev
          FROM dom),
        cand AS (
          SELECT *, CASE WHEN rprev > 0 AND b >= pprev
                         THEN (b - pprev) // rprev END AS cand
          FROM base),
        lamt AS (
          SELECT max(CASE WHEN cand IS NOT NULL AND cand >= cap_prev AND cand <= n_urls
                          THEN cand END) AS lam_valid,
                 CAST(sum(n_urls) AS BIGINT) AS total_u2,
                 CAST(max(n_urls) AS BIGINT) AS cap_max,
                 CAST(max(b) AS BIGINT) AS b
          FROM cand)
        SELECT c.domain, c.n_docs, c.n_urls,
               CAST(least(coalesce(l.lam_valid,
                 CASE WHEN l.b >= l.total_u2 THEN l.cap_max END), c.n_urls) AS BIGINT) AS kept
        FROM cand c CROSS JOIN lamt l
        ORDER BY c.domain""")),

    // ----- license propagation through dedup groups --------------------------
    // Provenance governance: when dedup keeps ONE canonical copy of a
    // document that arrived from several sources, the kept copy's
    // effective license is the MOST RESTRICTIVE across its group — a
    // permissively-licensed mirror of a restricted document does not
    // launder the restriction. Per-source tiers here derive from the t04
    // poly-hash (the t21/t41 synthetic-stand-in convention: 0 permissive,
    // 1 attribution, 2 restricted; max = lattice join); groups are d01's
    // exact content-key grain (production can run the same fold at d08's
    // near-dup-cluster grain — the max is associative over any grouping).
    // Output per effective license: groups kept, groups ESCALATED (the
    // keeper's own source was more permissive than the group — the
    // dangerous case a naive per-doc license column gets wrong), total
    // copies, and kept tokens. One corpus scan, one content-key agg, one
    // O(licenses) agg. The escalation path is exercised by TextSpec's
    // planted multi-source group (the sf0.01 fixture has no cross-source
    // exact dups; the oracle still value-checks tiering and totals).
    QueryDef(
      "t43_license_fold",
      (s, d) => licenseFold(Tables.documents(s, d)),
      oracle = Some(s"""
        WITH f AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS ck,
                 CAST((${polyHashSqlOf("'lic:' || source")}) % 3 AS BIGINT) AS tier,
                 CAST(len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_toks
          FROM documents),
        g AS (
          SELECT ck, max(tier) AS gtier, min_by(tier, doc_id) AS ktier,
                 min_by(n_toks, doc_id) AS ktoks,
                 CAST(count(*) AS BIGINT) AS n_copies
          FROM f GROUP BY ck)
        SELECT CASE gtier WHEN 0 THEN 'permissive' WHEN 1 THEN 'attribution'
                          ELSE 'restricted' END AS license,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN ktier < gtier THEN 1 ELSE 0 END) AS BIGINT) AS n_escalated,
               CAST(sum(n_copies) AS BIGINT) AS n_copies,
               CAST(sum(ktoks) AS BIGINT) AS kept_tokens
        FROM g GROUP BY 1
        ORDER BY license""")),

    // ----- eval decontamination (the REMOVE step t07 stops short of) ---------
    // t07 flags heldout docs that leak into training; the production
    // decision runs the OTHER way: any TRAIN document sharing an 8-token
    // shingle with the heldout set is dropped from training (the GPT-3/
    // PaLM n-gram decontamination rule), because a leaked eval answer in
    // the training set invalidates the benchmark, not the eval doc. Same
    // linear shape as t07 with the semi-join reversed — distinct heldout
    // shingles (the minority side at any split ratio; Catalyst picks
    // broadcast vs shuffle semi-join from its size) probe the train
    // side; plus the scrub economics (t39's convention): per
    // lang, docs and tokens dropped vs kept. In-scan shingle keys, one
    // equi-join, never all-pairs.
    QueryDef(
      "t44_decontaminate",
      (s, d) => decontaminateReport(Tables.documents(s, d)),
      oracle = Some {
        val gram = (0 to 7).map(k => s"t[i+$k]").mkString(", ")
        s"""
        WITH toks AS (
          SELECT doc_id, lang,
                 CASE WHEN $splitBucketSql < $TrainPct
                      THEN 'train' ELSE 'heldout' END AS split,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, lang, split, CAST(len(t) AS BIGINT) AS n_toks,
                 list_distinct(list_transform(generate_series(1, greatest(len(t) - 7, 1)),
                   i -> concat_ws(' ', $gram))) AS s
          FROM toks),
        held AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE split = 'heldout'),
        train AS (SELECT doc_id, lang, n_toks, s FROM sh WHERE split = 'train'),
        dropped AS (
          SELECT DISTINCT tr.doc_id
          FROM (SELECT doc_id, unnest(s) AS g FROM train) tr
          JOIN held USING (g))
        SELECT t.lang, CAST(count(*) AS BIGINT) AS n_train,
               CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN t.n_toks ELSE 0 END) AS BIGINT) AS tokens_dropped,
               CAST(sum(CASE WHEN d.doc_id IS NULL THEN t.n_toks ELSE 0 END) AS BIGINT) AS tokens_clean
        FROM train t LEFT JOIN dropped d ON t.doc_id = d.doc_id
        GROUP BY t.lang
        ORDER BY t.lang"""
      }),

    // ----- no-split packing + fragmentation economics (t45) ------------------
    // t08's packer is the PRETRAINING regime (docs straddle window
    // boundaries — waste is only shard tails); t45 is the SFT/eval regime
    // (no-split, truncate-at-budget) where fragmentation is real and is
    // the cost metric behind the sequence-length decision. Greedy fold per
    // (lang, poly-shard) as one native aggregate lambda — see packNoSplit.
    QueryDef(
      "t45_pack_nosplit",
      (s, d) => {
        import s.implicits._
        packNoSplit(Tables.documents(s, d)
          .select($"doc_id", $"lang", packShardCol.as("shard"),
            size(TextFns.tokens($"text")).cast("long").as("n")))
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, lang,
                 CAST($packShardSql AS BIGINT) AS shard,
                 CAST(len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n
          FROM documents),
        b AS (
          SELECT doc_id, lang, shard, least(n, $PackBudget) AS n2,
                 CASE WHEN n > $PackBudget THEN 1 ELSE 0 END AS trunc
          FROM toks),
        g AS (
          SELECT lang, shard, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n2) AS BIGINT) AS packed_tokens,
                 CAST(sum(trunc) AS BIGINT) AS truncated_docs,
                 list_reduce(
                   list_prepend(CAST($PackFoldM AS BIGINT), list(n2 ORDER BY doc_id)),
                   (acc, x) -> CASE WHEN acc % $PackFoldM + x <= $PackBudget
                                    THEN acc + x
                                    ELSE acc - (acc % $PackFoldM) + $PackFoldM + x END) AS enc
          FROM b GROUP BY lang, shard)
        SELECT lang, shard, n_docs,
               enc // $PackFoldM AS n_windows,
               packed_tokens,
               enc // $PackFoldM * $PackBudget - packed_tokens AS waste_tokens,
               truncated_docs
        FROM g
        ORDER BY lang, shard""")),

    // ----- broadcast linear-model inference (hashed bag-of-words) ------------
    // The fastText/logreg quality-classifier shape at corpus scale: token ->
    // hashed feature bucket -> broadcast join against an O(B) weight table ->
    // per-doc score agg. The model crosses the cluster ONCE (broadcast);
    // the corpus never shuffles until the per-doc aggregate — inference is
    // a pure map-side pipeline however many TB the text is. The weights
    // here are a deterministic synthetic table (this container trains no
    // real model); swapping in learned weights changes one DataFrame.
    // t02 scores docs with hand-written heuristics; t21 is the same
    // decision seat occupied by a MODEL, which is how production pipelines
    // (CCNet, FineWeb) actually gate quality.
    QueryDef(
      "t21_model_score",
      (s, d) => modelScores(Tables.documents(s, d)),
      oracle = Some(modelScoresOracle)),

    // ----- heuristic-vs-model gate agreement (t48) ---------------------------
    // The calibration report a pipeline runs BEFORE swapping t02's
    // heuristic quality gate for t21's model gate (the FineWeb/DCLM
    // ablation discipline): per lang, the 2x2 confusion between the two
    // decisions, raw agreement, and Cohen's kappa — agreement corrected
    // for chance, the standard inter-rater statistic (kappa ~ 0 here, as
    // it should be: the synthetic LCG model is independent of the
    // heuristic by construction, and a HIGH kappa on real data is what
    // licenses the swap). Composes two gated operators; past the two
    // per-doc gate scans everything is one per-lang aggregate, and kappa
    // is computed from the O(langs) count table in double arithmetic
    // (identical expression text on both engines, and products of
    // per-lang counts would overflow BIGINT at 100 TB grain).
    QueryDef(
      "t48_gate_agreement",
      (s, d) => {
        import s.implicits._
        val t = TextFns.tokens($"text")
        val h = Tables.documents(s, d).select($"doc_id", $"lang",
          (size(t) >= 20 &&
            floor(size(array_distinct(t)) * lit(1000.0) / size(t)) >= 200)
            .cast("long").as("hpass"))
        val m = modelScores(Tables.documents(s, d))
          .select($"doc_id", $"pass".as("mpass"))
        h.join(m, Seq("doc_id"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"),
            sum($"hpass" * $"mpass").as("a"),
            sum($"hpass" * (lit(1L) - $"mpass")).as("b"),
            sum((lit(1L) - $"hpass") * $"mpass").as("c"))
          .withColumn("dd", $"n" - $"a" - $"b" - $"c")
          .select($"lang", $"n".as("n_docs"),
            $"a".as("both_pass"), $"dd".as("both_fail"),
            $"b".as("only_heuristic"), $"c".as("only_model"),
            expr("(1000 * (a + dd)) div n").as("agree_milli"),
            expr("""CASE WHEN cast(n as double)*n
                         - (cast(a+b as double)*(a+c) + cast(n-(a+b) as double)*(n-(a+c))) = 0
                    THEN 0
                    ELSE CAST(floor((cast(n as double)*(a+dd)
                         - (cast(a+b as double)*(a+c) + cast(n-(a+b) as double)*(n-(a+c)))) * 1000.0
                         / (cast(n as double)*n
                         - (cast(a+b as double)*(a+c) + cast(n-(a+b) as double)*(n-(a+c))))) AS BIGINT)
                    END""").as("kappa_milli"))
          .orderBy($"lang")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, lang,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        h AS (
          SELECT doc_id, lang,
                 CAST(len(t) >= 20 AND
                      floor(len(list_distinct(t)) * 1000.0 / len(t)) >= 200 AS BIGINT) AS hpass
          FROM toks),
        tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        f AS (
          SELECT doc_id,
                 CAST((${polyHashSqlOf("tok")}) % $ModelBuckets AS BIGINT) AS bucket
          FROM tk),
        sc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(((bucket * 1103515245 + 12345) % 2003) - 1001) AS BIGINT) AS w_sum
          FROM f GROUP BY doc_id),
        m AS (
          SELECT doc_id,
                 CAST(CASE WHEN floor(w_sum * 1000.0 / n_tokens) >= 0
                      THEN 1 ELSE 0 END AS BIGINT) AS mpass
          FROM sc),
        g AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(hpass * mpass) AS BIGINT) AS a,
                 CAST(sum(hpass * (1 - mpass)) AS BIGINT) AS b,
                 CAST(sum((1 - hpass) * mpass) AS BIGINT) AS c
          FROM h JOIN m USING (doc_id) GROUP BY lang),
        x AS (SELECT lang, n, a, b, c, n - a - b - c AS dd FROM g)
        SELECT lang, n AS n_docs, a AS both_pass, dd AS both_fail,
               b AS only_heuristic, c AS only_model,
               (1000 * (a + dd)) // n AS agree_milli,
               CASE WHEN cast(n as double)*n
                         - (cast(a+b as double)*(a+c) + cast(n-(a+b) as double)*(n-(a+c))) = 0
                    THEN 0
                    ELSE CAST(floor((cast(n as double)*(a+dd)
                         - (cast(a+b as double)*(a+c) + cast(n-(a+b) as double)*(n-(a+c)))) * 1000.0
                         / (cast(n as double)*n
                         - (cast(a+b as double)*(a+c) + cast(n-(a+b) as double)*(n-(a+c))))) AS BIGINT)
                    END AS kappa_milli
        FROM x
        ORDER BY lang""")),

    // ----- temperature-scaled mixture rebalancing ---------------------------
    // Multilingual/multi-source temperature sampling (the mT5/XLM-R recipe):
    // target share of source s ∝ tokens(s)^(1/T). T=2 makes the exponent a
    // SQUARE ROOT, which is IEEE-correctly-rounded on every engine — so
    // unlike pow(x, 0.7) the targets are bit-exact cross-engine (floor after
    // sqrt, integer arithmetic beyond). Output: per-source current vs target
    // token share and the up/down-sampling factor a mixer must apply. One
    // hash agg over the corpus; the share table is O(sources), so the
    // unpartitioned window over it is a driver-sized operation, not a skew
    // risk.
    QueryDef(
      "t22_temperature_mix",
      (s, d) => {
        import s.implicits._
        val all = Window.partitionBy(lit(1))
        Tables.documents(s, d)
          .select($"source", size(TextFns.tokens($"text")).cast("long").as("n"))
          .groupBy($"source")
          .agg(sum($"n").as("tokens"), count(lit(1)).as("docs"))
          .withColumn("w", floor(sqrt($"tokens")).cast("long"))
          .withColumn("tot_t", sum($"tokens").over(all))
          .withColumn("tot_w", sum($"w").over(all))
          .select($"source", $"tokens", $"docs",
            floor($"tokens" * lit(1000.0) / $"tot_t").cast("long").as("current_milli"),
            floor($"w" * lit(1000.0) / $"tot_w").cast("long").as("target_milli"),
            floor($"w" * $"tot_t" * lit(1000.0) / ($"tokens" * $"tot_w"))
              .cast("long").as("factor_milli"))
          .orderBy($"source")
      },
      oracle = Some("""
        WITH tok AS (
          SELECT source,
                 CAST(sum(len(string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))) AS BIGINT) AS tokens,
                 CAST(count(*) AS BIGINT) AS docs
          FROM documents GROUP BY source),
        w AS (
          SELECT *, CAST(floor(sqrt(tokens)) AS BIGINT) AS w,
                 CAST(sum(tokens) OVER () AS BIGINT) AS tot_t,
                 CAST(sum(CAST(floor(sqrt(tokens)) AS BIGINT)) OVER () AS BIGINT) AS tot_w
          FROM tok)
        SELECT source, tokens, docs,
               CAST(floor(tokens * 1000.0 / tot_t) AS BIGINT) AS current_milli,
               CAST(floor(w * 1000.0 / tot_w) AS BIGINT) AS target_milli,
               CAST(floor(w * tot_t * 1000.0 / (tokens * tot_w)) AS BIGINT) AS factor_milli
        FROM w
        ORDER BY source""")),

    // ----- blocklist / safety phrase filtering ------------------------------
    // The C4-style badwords pass: flag documents containing any blocklist
    // PHRASE as a contiguous token sequence (token-boundary exact match,
    // not substring). Multi-pattern matching at corpus scale: phrases group
    // by token length L, the corpus side emits its length-L shingle keys
    // (ShingleHashesExpr, in-scan), and each group is one equi-join against
    // a broadcast handful of phrase keys — no per-phrase regex scan, no
    // O(phrases) passes over the text. Phrase keys come from the SAME
    // expression over the phrase literals, so key equality is equality of
    // token windows by construction.
    QueryDef(
      "t24_blocklist",
      (s, d) => {
        import s.implicits._
        val docs = OpCache.persistRotating("t24.tokens", Tables.documents(s, d)
          .select($"doc_id", TextFns.tokens($"text").as("t")))
        val hits = BlockPhrases.groupBy(_.split(' ').length).toSeq.map {
          case (len, phrases) =>
            val keys = phrases.toDF("phrase")
              .select($"phrase",
                element_at(TextFns.shingleHashes(split($"phrase", " "), len), 1).as("g"))
            docs.select($"doc_id",
              explode(TextFns.shingleHashes($"t", len)).as("g"))
              .join(broadcast(keys), Seq("g"))
              .select($"phrase", $"doc_id")
        }.reduce(_ unionByName _)
        val counts = hits.groupBy($"phrase")
          .agg(countDistinct($"doc_id").as("nd"))
        BlockPhrases.toDF("phrase")
          .join(counts, Seq("phrase"), "left")
          .select($"phrase", coalesce($"nd", lit(0L)).as("n_docs"))
          .orderBy($"phrase")
      },
      oracle = Some(s"""
        WITH norm AS (
          SELECT doc_id,
                 ' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ' AS s
          FROM documents),
        bl(phrase) AS (VALUES ${BlockPhrases.map(p => s"('$p')").mkString(", ")})
        SELECT b.phrase,
               CAST(count(DISTINCT CASE WHEN position(' ' || b.phrase || ' ' IN n.s) > 0
                                        THEN n.doc_id END) AS BIGINT) AS n_docs
        FROM bl b CROSS JOIN norm n
        GROUP BY b.phrase
        ORDER BY b.phrase""")),

    // ----- corpus attrition funnel (pipeline capstone report) ---------------
    // The per-language survivorship table every corpus build publishes:
    // raw docs -> exact-dedup canonicals (d07's min-id rule) -> quality
    // pass (t02's gate) -> blocklist-clean (t24's phrases). All four stage
    // predicates compose in ONE doc-level pass: canonical membership is a
    // broadcast-size (content_key -> keeper) join, blocklist flags are the
    // t24 key joins, and the funnel is a single per-lang aggregate —
    // the stages never each rescan the corpus.
    QueryDef(
      "t25_funnel",
      (s, d) => {
        import s.implicits._
        val t = TextFns.tokens($"text")
        val base = OpCache.persistRotating("t25.base", Tables.documents(s, d)
          .select($"doc_id", $"lang",
            md5(TextFns.normalize($"text")).as("ck"),
            (size(t) >= 20 &&
              floor(size(array_distinct(t)) * lit(1000.0) / size(t)) >= 200L)
              .as("quality"),
            TextFns.tokens($"text").as("t")))
        val canon = base.groupBy($"ck").agg(min($"doc_id").as("keeper"))
        val hit = BlockPhrases.groupBy(_.split(' ').length).toSeq.map {
          case (len, phrases) =>
            val keys = phrases.toDF("phrase")
              .select(element_at(TextFns.shingleHashes(split($"phrase", " "), len), 1).as("g"))
            base.select($"doc_id", explode(TextFns.shingleHashes($"t", len)).as("g"))
              .join(broadcast(keys), Seq("g"), "left_semi")
              .select($"doc_id")
        }.reduce(_ unionByName _).distinct().withColumn("flagged", lit(true))
        base.join(canon, Seq("ck"))
          .join(hit, Seq("doc_id"), "left")
          .select($"lang", ($"doc_id" === $"keeper").as("canon"), $"quality",
            coalesce($"flagged", lit(false)).as("flagged"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_raw"),
            sum($"canon".cast("long")).as("n_unique"),
            sum(($"canon" && $"quality").cast("long")).as("n_quality"),
            sum(($"canon" && $"quality" && !$"flagged").cast("long")).as("n_clean"))
          .withColumn("kept_milli",
            floor($"n_clean" * lit(1000.0) / $"n_raw").cast("long"))
          .orderBy($"lang")
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT doc_id, lang,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS ck,
                 ' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ' AS s,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        q AS (
          SELECT doc_id, lang, ck, s,
                 (len(t) >= 20 AND
                  floor(len(list_distinct(t)) * 1000.0 / len(t)) >= 200) AS quality
          FROM base),
        canon AS (SELECT ck, min(doc_id) AS keeper FROM q GROUP BY ck),
        flags AS (
          SELECT doc_id, bool_or(${BlockPhrases
            .map(p => s"position(' $p ' IN s) > 0").mkString(" OR ")}) AS flagged
          FROM q GROUP BY doc_id, s),
        j AS (
          SELECT q.lang, (q.doc_id = c.keeper) AS canon, q.quality,
                 coalesce(f.flagged, FALSE) AS flagged
          FROM q JOIN canon c ON q.ck = c.ck
          LEFT JOIN flags f ON q.doc_id = f.doc_id)
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_raw,
               CAST(sum(CASE WHEN canon THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
               CAST(sum(CASE WHEN canon AND quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
               CAST(sum(CASE WHEN canon AND quality AND NOT flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
               CAST(floor(sum(CASE WHEN canon AND quality AND NOT flagged THEN 1 ELSE 0 END) * 1000.0
                 / count(*)) AS BIGINT) AS kept_milli
        FROM j
        GROUP BY lang
        ORDER BY lang""")),

    // ----- quality-tier assignment (FineWeb-Edu-style deciles) --------------
    // Tiered sampling needs every doc placed in its within-language quality
    // decile. Scale-correct ranking without sorting the corpus: the score
    // domain is BOUNDED (milli ratio 0..1000), so a (lang, score) histogram
    // (hash agg, <=1001 rows per lang) + a window over that tiny histogram
    // yields each score's before-count; a doc's exact rank is before +
    // row_number within its (lang, score) group (tie order doc_id), and
    // tier = (10*(rank-1)) div n + 1 — the SAME explicit formula on both
    // engines rather than trusting two NTILE tie conventions. No window
    // ever sees raw corpus rows ordered by score (q45's discipline).
    QueryDef(
      "t23_quality_tiers",
      (s, d) => {
        import s.implicits._
        val t = TextFns.tokens($"text")
        val scored = Tables.documents(s, d)
          .select($"doc_id", $"lang", $"n_chars",
            floor(size(array_distinct(t)) * lit(1000.0) / size(t)).cast("long").as("score"))
        val hist = scored.groupBy($"lang", $"score").agg(count(lit(1)).as("cnt"))
        val wh = Window.partitionBy($"lang").orderBy($"score".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wl = Window.partitionBy($"lang")
        val cuts = hist
          .withColumn("before", sum($"cnt").over(wh) - $"cnt")
          .withColumn("n", sum($"cnt").over(wl))
          .select($"lang", $"score", $"before", $"n")
        val wg = Window.partitionBy($"lang", $"score").orderBy($"doc_id")
        scored.join(broadcast(cuts), Seq("lang", "score"))
          .withColumn("rank", $"before" + row_number().over(wg))
          .withColumn("tier", expr("(10 * (rank - 1)) div n + 1"))
          .groupBy($"lang", $"tier")
          .agg(count(lit(1)).as("n_docs"),
            max($"score").as("best_score"),
            min($"score").as("worst_score"),
            sum($"n_chars").as("chars"))
          .orderBy($"lang", $"tier")
      },
      oracle = Some("""
        WITH scored AS (
          SELECT doc_id, lang, n_chars,
                 CAST(floor(len(list_distinct(t)) * 1000.0 / len(t)) AS BIGINT) AS score
          FROM (SELECT doc_id, lang, n_chars,
                       string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
                FROM documents)),
        ranked AS (
          SELECT lang, n_chars, score,
                 row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rank,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM scored)
        SELECT lang, CAST((10 * (rank - 1)) // n + 1 AS BIGINT) AS tier,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(max(score) AS BIGINT) AS best_score,
               CAST(min(score) AS BIGINT) AS worst_score,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM ranked
        GROUP BY lang, tier
        ORDER BY lang, tier""")),

    // ----- k-anonymity audit (t28) ------------------------------------------
    // The privacy gate a corpus runs before release: how many documents sit
    // in quasi-identifier groups smaller than k=5? Quasi-identifier here is
    // (lang, source, n_chars div 50) — metadata an adversary could match
    // against an external table even with text scrubbed (t10's PII scan
    // covers CONTENT; this covers METADATA linkability). Two map-side-
    // combinable hash aggs: group sizes on the quasi-identifier, then the
    // per-lang risk report with the smallest group size (the k the release
    // actually achieves). No joins, no windows, nothing corpus-ordered.
    QueryDef(
      "t28_kanonymity",
      (s, d) => {
        import s.implicits._
        val groups = Tables.documents(s, d)
          .groupBy($"lang", $"source", expr("n_chars div 50").as("len_b"))
          .agg(count(lit(1)).as("gsize"))
        groups.groupBy($"lang")
          .agg(sum($"gsize").as("n_docs"),
            count(lit(1)).as("n_groups"),
            min($"gsize").as("k_achieved"),
            sum(when($"gsize" < 5, 1L).otherwise(0L)).as("n_risky_groups"),
            sum(when($"gsize" < 5, $"gsize").otherwise(0L)).as("n_risky_docs"))
          .withColumn("risky_milli", expr("(1000 * n_risky_docs) div n_docs"))
          .orderBy($"lang")
      },
      oracle = Some("""
        WITH g AS (
          SELECT lang, source, n_chars // 50 AS len_b, count(*) AS gsize
          FROM documents GROUP BY 1, 2, 3)
        SELECT lang, CAST(sum(gsize) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(gsize) AS BIGINT) AS k_achieved,
               CAST(sum(CASE WHEN gsize < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_groups,
               CAST(sum(CASE WHEN gsize < 5 THEN gsize ELSE 0 END) AS BIGINT) AS n_risky_docs,
               CAST((1000 * sum(CASE WHEN gsize < 5 THEN gsize ELSE 0 END))
                    // sum(gsize) AS BIGINT) AS risky_milli
        FROM g GROUP BY lang
        ORDER BY lang""")),

    // ----- TF-IDF keyword extraction (t29) ----------------------------------
    // Per-document top-3 keywords by tf x floor-log2-idf — the metadata
    // tagger a corpus pipeline runs for routing and inspection. IDF uses
    // t12's libm-free trick: floor(log2(n_docs/df)) = length(bin(n_docs
    // div df)) - 1, so scores are exact integers on both engines. Shape:
    // the postings slot (one corpus explode into (doc, tok, tf)), a vocab-sized df
    // agg joined back ON THE TOKEN (vocab-sized build side), the 1-row
    // n_docs broadcast, and a per-doc WindowGroupLimit top-3 (t17's
    // partial->final shape) — the corpus is never sorted globally.
    QueryDef(
      "t29_keywords",
      (s, d) => {
        import s.implicits._
        val dt = SimilarityQueries.postings(Tables.documents(s, d))
        val dfreq = dt.groupBy($"tok").agg(count(lit(1)).as("df"))
        val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        val wk = Window.partitionBy($"doc_id").orderBy($"score".desc, $"tok")
        dt.join(dfreq, Seq("tok"))
          .crossJoin(broadcast(nDocs))
          .withColumn("score", expr("tf * (length(bin(n_docs div df)) - 1)"))
          .withColumn("rank", row_number().over(wk).cast("long"))
          .filter($"rank" <= 3)
          .select($"doc_id", $"rank", $"tok", $"tf", $"df", $"score")
          .orderBy($"doc_id", $"rank")
      },
      oracle = Some("""
        WITH dt AS (
          SELECT doc_id, tok, count(*) AS tf FROM (
            SELECT doc_id,
                   unnest(string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
            FROM documents)
          GROUP BY doc_id, tok),
        dfreq AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, tok, tf, df,
                 tf * (length(bin(n_docs // df)) - 1) AS score
          FROM dt JOIN dfreq USING (tok) CROSS JOIN n),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY score DESC, tok) AS BIGINT) AS rank
          FROM scored)
        SELECT doc_id, rank, tok, CAST(tf AS BIGINT) AS tf,
               CAST(df AS BIGINT) AS df, CAST(score AS BIGINT) AS score
        FROM ranked WHERE rank <= 3
        ORDER BY doc_id, rank""")),

    // ----- Neyman allocation for stratified sampling (t30) ------------------
    // Survey-sampling optimal design: given a total inspection budget of
    // K=200 docs, allocate per-language sample sizes proportional to
    // N_h * sigma_h (Neyman 1934) — strata that are bigger OR more variable
    // in length get more of the budget. Determinism discipline: per-stratum
    // moments are exact integer sums (q23's recipe), sigma uses sqrt — the
    // one IEEE-exact non-integer exponent (t22's rule) — and the weight is
    // immediately quantized to integer millis, so the shares, the floor
    // allocations, and the largest-remainder top-up (rank by remainder
    // desc, lang asc) are all exact integer arithmetic on both engines.
    // One corpus hash agg; everything after is O(strata).
    QueryDef(
      "t30_neyman_allocation",
      (s, d) => {
        import s.implicits._
        val k = 200L
        val st = Tables.documents(s, d)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("sx"),
            sum($"n_chars" * $"n_chars").as("sx2"))
          .withColumn("w_milli", expr(
            "cast(floor(cast(n as double) * sqrt(cast(n * sx2 - sx * sx as double) / (cast(n as double) * cast(n - 1 as double))) * 1000) as bigint)"))
        val tot = st.agg(sum($"w_milli").as("tw"), count(lit(1)).as("n_strata"))
        val base = st.crossJoin(broadcast(tot))
          .withColumn("alloc_base", expr(s"($k * w_milli) div tw"))
          .withColumn("rem", expr(s"$k * w_milli - alloc_base * tw"))
        val wl = Window.orderBy($"rem".desc, $"lang")
        val wall = Window.partitionBy(lit(1))
        base
          .withColumn("shortfall", lit(k) - sum($"alloc_base").over(wall))
          .withColumn("rrank", row_number().over(wl))
          .withColumn("alloc",
            $"alloc_base" + when($"rrank" <= $"shortfall", 1L).otherwise(0L))
          .select($"lang", $"n".as("n_docs"), $"w_milli", $"alloc_base", $"alloc")
          .orderBy($"lang")
      },
      oracle = Some("""
        WITH st AS (
          SELECT lang, count(*) AS n, sum(n_chars) AS sx,
                 sum(n_chars * n_chars) AS sx2
          FROM documents GROUP BY lang),
        w AS (
          SELECT lang, n,
                 CAST(floor(CAST(n AS DOUBLE) *
                   sqrt(CAST(n * sx2 - sx * sx AS DOUBLE) /
                        (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) * 1000)
                   AS BIGINT) AS w_milli
          FROM st),
        tot AS (SELECT CAST(sum(w_milli) AS BIGINT) AS tw FROM w),
        base AS (
          SELECT lang, n, w_milli,
                 (200 * w_milli) // tw AS alloc_base,
                 200 * w_milli - ((200 * w_milli) // tw) * tw AS rem
          FROM w CROSS JOIN tot),
        ranked AS (
          SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rrank,
                 200 - sum(alloc_base) OVER () AS shortfall
          FROM base)
        SELECT lang, CAST(n AS BIGINT) AS n_docs, w_milli,
               CAST(alloc_base AS BIGINT) AS alloc_base,
               CAST(alloc_base + CASE WHEN rrank <= shortfall THEN 1 ELSE 0 END
                 AS BIGINT) AS alloc
        FROM ranked
        ORDER BY lang""")),

    // ----- distribution-shape audit: length power law (t33) -----------------
    // Corpus length distributions should be heavy-tailed; a truncation cap
    // or padding pipeline bug shows up as a broken tail. Fit the log-log
    // slope of the doc-length histogram: x = floor(log2(n_chars)), y =
    // floor(log2(bin count)) — both via the libm-free bin-length trick —
    // then q76's olsFit over the O(log n) histogram rows. A healthy Zipf
    // tail gives a steady negative slope with high R²; the fit input is
    // ONE corpus hash agg, the regression is over ~a dozen rows. Coarse
    // by construction (integer logs) but exact on both engines — the
    // audit wants the slope's sign and rough magnitude, not decimals.
    QueryDef(
      "t33_length_powerlaw",
      (s, d) => {
        import s.implicits._
        val hist = Tables.documents(s, d)
          .select(expr("cast(length(bin(greatest(n_chars, 1))) - 1 as bigint)").as("x"))
          .groupBy($"x").agg(count(lit(1)).as("cnt"))
          .select(lit("n_chars").as("seg"), $"x",
            expr("cast(length(bin(cnt)) - 1 as bigint)").as("y"))
        ExtraRelationalQueries.olsFit(hist).orderBy($"seg")
      },
      oracle = Some("""
        WITH hist AS (
          SELECT CAST(length(bin(greatest(n_chars, 1))) - 1 AS BIGINT) AS x,
                 count(*) AS cnt
          FROM documents GROUP BY 1),
        xy AS (
          SELECT 'n_chars' AS seg, x,
                 CAST(length(bin(cnt)) - 1 AS BIGINT) AS y
          FROM hist),
        m AS (
          SELECT seg, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2
          FROM xy GROUP BY seg)
        SELECT seg, CAST(n AS BIGINT) AS n,
               CAST(floor(1000000 *
                 (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                 (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 AS BIGINT) AS slope_micro,
               CAST(floor(1000 * (CAST(sy AS DOUBLE) -
                 (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                 (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                 CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT) AS intercept_milli,
               CAST(floor(1000 *
                 (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
                 (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                 ((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                  (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                 AS BIGINT) AS r2_milli
        FROM m
        ORDER BY seg""")),

    // ----- within-document periodicity (t31) --------------------------------
    // The inference-loop detector: a model (or scraper template) stuck in
    // a loop emits the SAME n-gram at a REGULAR period — a signal t09's
    // global ratios and t20's cross-document spans both miss. Positional
    // bigram hashes come off the scan via the codegen'd ShingleHashesExpr
    // (t20's kernel at n=2); gaps between consecutive occurrences of each
    // repeated bigram live in per-(doc, bigram) windows; a doc is flagged
    // periodic when one gap value dominates (>= 50% of >= 8 repeat pairs).
    // Everything is per-doc bounded — no cross-document joins at all; the
    // report is a per-lang aggregate. Hash keys carry t20's collision
    // budget (join/grouping keys only, never output).
    QueryDef(
      "t31_periodicity",
      (s, d) => periodicityReport(Tables.documents(s, d)),
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, lang,
                 string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        pos AS (
          SELECT doc_id, lang, i AS pos, concat_ws(' ', t[i], t[i+1]) AS g
          FROM (SELECT doc_id, lang, t,
                       unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
                FROM toks)),
        gaps AS (
          SELECT doc_id, lang, nxt - pos AS gap
          FROM (SELECT doc_id, lang, pos,
                       lead(pos) OVER (PARTITION BY doc_id, g ORDER BY pos) AS nxt
                FROM pos)
          WHERE nxt IS NOT NULL),
        pg AS (SELECT doc_id, lang, gap, count(*) AS cnt
               FROM gaps GROUP BY 1, 2, 3),
        pd AS (SELECT doc_id, lang, cnt,
                      CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS total,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY cnt DESC, gap) AS rk
               FROM pg),
        top AS (SELECT doc_id, lang, total, CAST(cnt AS BIGINT) AS top_cnt,
                       (total >= 8 AND cnt * 2 >= total) AS periodic
                FROM pd WHERE rk = 1),
        dl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang)
        SELECT dl.lang, n_docs,
               CAST(count(top.doc_id) AS BIGINT) AS n_with_repeats,
               CAST(coalesce(sum(CASE WHEN periodic THEN 1 ELSE 0 END), 0) AS BIGINT)
                 AS n_periodic,
               CAST(coalesce(max(top_cnt), 0) AS BIGINT) AS max_top_cnt
        FROM dl LEFT JOIN top USING (lang)
        GROUP BY dl.lang, n_docs
        ORDER BY lang""")),

    // ----- content-defined chunking + storage-dedup report (t34) ------------
    // The rsync/LBFS/restic trick t16's fixed windows cannot do: chunk
    // boundaries are set by CONTENT (positions where the rolling hash of the
    // trailing 8 chars is 0 mod 64, ~64-char expected chunks), so inserting
    // a sentence shifts only the chunks it touches — every other chunk keeps
    // its fingerprint and dedups against the previous revision. The
    // boundary predicate is stateless per position (no min/max clamp, which
    // a production chunker adds), so both engines evaluate it with pure
    // higher-order functions: filter(sequence) + an 8-element aggregate per
    // position — O(8n) per doc, in-scan, whole-stage codegen, no UDF. The
    // report groups chunks by md5: only (16-byte digest, length) pairs ever
    // reach the shuffle (map-side combined), never chunk text — d01's
    // discipline at sub-document granularity. Output: corpus chunking +
    // reclaimable-storage stats.
    QueryDef(
      "t34_cdc_chunks",
      (s, d) => {
        import s.implicits._
        cdcChunks(Tables.documents(s, d))
          .select(md5($"chunk").as("fp"), length($"chunk").cast("long").as("len"))
          .groupBy($"fp")
          .agg(count(lit(1)).as("cnt"), min($"len").as("len"))
          .agg(sum($"cnt").as("total_chunks"),
            count(lit(1)).as("uniq_chunks"),
            sum($"cnt" * $"len").as("total_bytes"),
            sum($"len").as("uniq_bytes"),
            sum(when($"cnt" > 1, 1L).otherwise(0L)).as("n_shared_fps"))
          .select($"total_chunks", $"uniq_chunks", $"total_bytes", $"uniq_bytes",
            expr("total_bytes div total_chunks").as("avg_chunk_len"),
            expr("(1000 * (total_bytes - uniq_bytes)) div total_bytes").as("reclaim_milli"),
            $"n_shared_fps")
      },
      oracle = Some("""
        WITH nrm AS (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
          FROM documents),
        bounds AS (
          SELECT doc_id, s, length(s) AS n,
                 list_filter(generate_series(8, length(s) - 1),
                   i -> list_reduce(
                          list_prepend(CAST(0 AS BIGINT),
                            list_transform(generate_series(i - 7, i),
                              j -> CAST(ascii(substring(s, j, 1)) AS BIGINT))),
                          (acc, c) -> (acc * 31 + c) % 2147483647) % 64 = 0) AS bpos
          FROM nrm),
        withb AS (
          SELECT doc_id, s,
                 list_concat(list_concat([CAST(0 AS BIGINT)], bpos), [CAST(n AS BIGINT)]) AS b
          FROM bounds),
        chunks AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(b) - 1),
                   k -> substring(s, CAST(list_extract(b, k) AS INTEGER) + 1,
                                  CAST(list_extract(b, k + 1) - list_extract(b, k) AS INTEGER))))
                 AS chunk
          FROM withb),
        fps AS (
          SELECT md5(chunk) AS fp, CAST(count(*) AS BIGINT) AS cnt,
                 CAST(min(length(chunk)) AS BIGINT) AS len
          FROM chunks GROUP BY md5(chunk))
        SELECT CAST(sum(cnt) AS BIGINT) AS total_chunks,
               CAST(count(*) AS BIGINT) AS uniq_chunks,
               CAST(sum(cnt * len) AS BIGINT) AS total_bytes,
               CAST(sum(len) AS BIGINT) AS uniq_bytes,
               CAST(sum(cnt * len) AS BIGINT) // CAST(sum(cnt) AS BIGINT) AS avg_chunk_len,
               (1000 * (CAST(sum(cnt * len) AS BIGINT) - CAST(sum(len) AS BIGINT)))
                 // CAST(sum(cnt * len) AS BIGINT) AS reclaim_milli,
               CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fps
        FROM fps""")),

    // ----- code-switch / mixed-language detection (t35) ---------------------
    // Document-level language ID (t01) calls a document one language; real
    // multilingual corpora interleave languages WITHIN documents, and
    // mixed docs poison monolingual training buckets. Here each doc is
    // scored in 50-token windows (the same stopword vote as t01, applied
    // per chunk via langIdTokens), the dominant chunk language is the
    // explicit-tie-order mode, and a doc is "mixed" when a minority
    // language holds more than 20% of its chunks. Everything is per-doc
    // bounded (chunk explode + per-doc windows on one shuffle); the
    // report is the per-label summary with the worst dominant share.
    QueryDef(
      "t35_code_switch",
      (s, d) => codeSwitchReport(Tables.documents(s, d)),
      oracle = Some {
        val scoreExprs = TextFns.langScoreSql("ct")
        val pick = TextFns.langPickSql
        s"""
        WITH toks AS (
          SELECT doc_id, lang,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        ch AS (
          SELECT doc_id, lang, t[i * 50 + 1 : (i + 1) * 50] AS ct
          FROM (SELECT doc_id, lang, t,
                       unnest(generate_series(0,
                         greatest(CAST(ceil(len(t) / 50.0) AS BIGINT), 1) - 1)) AS i
                FROM toks)),
        scored AS (
          SELECT doc_id, lang,
                 $scoreExprs
          FROM ch),
        voted AS (
          SELECT doc_id, lang, $pick AS pl FROM scored),
        pdl AS (
          SELECT doc_id, lang, pl, CAST(count(*) AS BIGINT) AS cnt
          FROM voted GROUP BY doc_id, lang, pl),
        pd AS (
          SELECT doc_id, lang, cnt,
                 CAST(row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, pl) AS BIGINT) AS rk,
                 CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_chunks,
                 CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_langs
          FROM pdl),
        dom AS (
          SELECT doc_id, lang, n_chunks, n_langs,
                 (1000 * cnt) // n_chunks AS dom_share_milli
          FROM pd WHERE rk = 1)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN n_langs > 1 AND dom_share_milli < 800
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed_docs,
               CAST(min(dom_share_milli) AS BIGINT) AS min_dom_share_milli
        FROM dom GROUP BY lang
        ORDER BY lang"""
      }),

    // ----- PII redaction (t37) ----------------------------------------------
    // t10 DETECTS personal data; a privacy-compliant corpus needs it
    // REMOVED. Emails, IPv4s and phone numbers are replaced with typed
    // placeholders (same RE2-safe patterns as t10, in a fixed
    // email -> ip -> phone order so overlapping matches resolve
    // identically on both engines) and the report proves the surgery:
    // per language, documents touched and the exact character delta.
    // Pure per-row work in-scan; the redacted text itself is the library
    // output (`redactPii`), the query emits the audit. At 100 TB the
    // rewrite is the same single pass a quality filter already pays.
    QueryDef(
      "t37_pii_redaction",
      (s, d) => {
        import s.implicits._
        val red = redactPii(Tables.documents(s, d))
        red.groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(($"text" =!= $"redacted").cast("long")).as("n_redacted"),
            sum(length($"text").cast("long")).as("chars_before"),
            sum(length($"redacted").cast("long")).as("chars_after"))
          .select($"lang", $"n_docs", $"n_redacted", $"chars_before", $"chars_after",
            ($"chars_after" - $"chars_before").as("char_delta"))
          .orderBy($"lang")
      },
      oracle = Some(s"""
        WITH red AS (
          SELECT lang, text,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text, '${TextFns.EmailPattern}', '[EMAIL]', 'g'),
                     '${TextFns.Ipv4Pattern}', '[IP]', 'g'),
                   '${TextFns.PhonePattern}', '[PHONE]', 'g') AS redacted
          FROM documents)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN text <> redacted THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted,
               CAST(sum(length(text)) AS BIGINT) AS chars_before,
               CAST(sum(length(redacted)) AS BIGINT) AS chars_after,
               CAST(sum(length(redacted)) - sum(length(text)) AS BIGINT) AS char_delta
        FROM red GROUP BY lang
        ORDER BY lang""")))

  /** The t18 oracle: t13's unrolled merge-learning CTE chain (same pair
    * counts, same argmax order, same list_reduce merge fold) carried over a
    * (w, sym, freq) table so each vocab word keeps its identity, one extra
    * merge application (words4 = merge3 applied), then cnt-weighted
    * per-lang sums over the vocab. */
  private def t18OracleSql: String = {
    def pairsOf(wordsCte: String, n: Int): String = s"""
        pairs$n AS (
          SELECT p.s1 AS s1, p.s2 AS s2, CAST(sum(freq) AS BIGINT) AS cnt FROM (
            SELECT unnest(list_transform(generate_series(1, len(s) - 1),
                     i -> {'s1': s[i], 's2': s[i+1]})) AS p, freq
            FROM (SELECT string_split(sym, ' ') AS s, freq FROM $wordsCte))
          GROUP BY 1, 2),
        merge$n AS (SELECT s1, s2, cnt FROM pairs$n ORDER BY cnt DESC, s1, s2 LIMIT 1)"""
    def mergedWords(prev: String, n: Int): String = s"""
        words$n AS (
          SELECT w, list_reduce(string_split(sym, ' '),
                   (acc, x) -> CASE WHEN x = m.s2 AND (acc = m.s1 OR ends_with(acc, ' ' || m.s1))
                               THEN acc || x ELSE acc || ' ' || x END) AS sym, freq
          FROM $prev, merge${n - 1} m)"""
    s"""
        WITH toks AS (
          SELECT lang,
                 unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
          FROM documents),
        lw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY lang, w),
        w0 AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS freq FROM lw GROUP BY w),
        words1 AS (
          SELECT w, array_to_string(list_transform(generate_series(1, length(w)),
                   i -> substring(w, i, 1)), ' ') AS sym, freq
          FROM w0),
        ${pairsOf("words1", 1)},
        ${mergedWords("words1", 2)},
        ${pairsOf("words2", 2)},
        ${mergedWords("words2", 3)},
        ${pairsOf("words3", 3)},
        ${mergedWords("words3", 4)},
        nsym AS (SELECT w, CAST(len(string_split(sym, ' ')) AS BIGINT) AS nsym FROM words4)
        SELECT lang,
               CAST(sum(cnt) AS BIGINT) AS n_words,
               CAST(sum(cnt * length(w)) AS BIGINT) AS char_tokens,
               CAST(sum(cnt * nsym) AS BIGINT) AS bpe_tokens,
               CAST(floor(sum(cnt * nsym) * 1000.0 /
                 greatest(sum(cnt * length(w)), 1)) AS BIGINT) AS compression_milli
        FROM lw JOIN nsym USING (w)
        GROUP BY lang ORDER BY lang"""
  }

  /** Deterministic bottom-k per-stratum sample (t17), exposed as a library
    * call: the k docs per language with the smallest salted doc hashes —
    * a uniform, mergeable, retry-stable fixed-budget sample. Output:
    * (lang, sample_rank [1..k], doc_id, sample_hash).
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val docs = (1L to 5L).map(i => (i, s"doc $i", "en")).toDF("doc_id", "text", "lang")
    * bottomKSample(docs, 2)  // 2 rows, ranks 1..2, stable across reruns
    * }}}
    */
  def bottomKSample(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val s = docs.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy($"h", $"doc_id")
    docs
      .select($"doc_id", $"lang", saltedDocHash("sample:").as("h"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter($"sample_rank" <= k)
      .select($"lang", $"sample_rank", $"doc_id", $"h".as("sample_hash"))
      .orderBy($"lang", $"sample_rank")
  }

  /** Within-document periodicity report (t31), exposed as a library call
    * over any (doc_id, lang, text) frame: per-doc dominant repeat period
    * of bigrams, flagged periodic when one gap dominates (>= 50% of >= 8
    * repeat pairs), aggregated per lang. Per-doc windows only — no
    * cross-document joins.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val docs = Seq((1L, "en", Seq.fill(10)("a b").mkString(" ")))
    *   .toDF("doc_id", "lang", "text")
    * periodicityReport(docs).as[(String, Long, Long, Long, Long)].head() ==
    *   (("en", 1L, 1L, 1L, 17L))  // every bigram repeats at gap 2: periodic
    * }}}
    */
  def periodicityReport(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pos = docs.select($"doc_id", $"lang",
        posexplode(TextFns.shingleHashes(TextFns.tokens($"text"), 2)).as(Seq("p0", "g")))
      .select($"doc_id", $"lang", ($"p0" + 1L).cast("long").as("pos"), $"g")
    val wg = Window.partitionBy($"doc_id", $"g").orderBy($"pos")
    val perGap = pos
      .withColumn("nxt", lead($"pos", 1).over(wg))
      .filter($"nxt".isNotNull)
      .select($"doc_id", $"lang", ($"nxt" - $"pos").as("gap"))
      .groupBy($"doc_id", $"lang", $"gap").agg(count(lit(1)).as("cnt"))
    val wd = Window.partitionBy($"doc_id").orderBy($"cnt".desc, $"gap")
    val top = perGap
      .withColumn("total", sum($"cnt").over(Window.partitionBy($"doc_id")))
      .withColumn("rk", row_number().over(wd))
      .filter($"rk" === 1)
      .select($"doc_id", $"lang", $"total", $"cnt".as("top_cnt"),
        ($"total" >= 8L && $"cnt" * 2 >= $"total").as("periodic"))
    docs.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .join(top.groupBy($"lang").agg(
        count(lit(1)).as("n_with_repeats"),
        sum(when($"periodic", 1L).otherwise(0L)).as("n_periodic"),
        max($"top_cnt").as("max_top_cnt")), Seq("lang"), "left")
      .select($"lang", $"n_docs",
        coalesce($"n_with_repeats", lit(0L)).as("n_with_repeats"),
        coalesce($"n_periodic", lit(0L)).as("n_periodic"),
        coalesce($"max_top_cnt", lit(0L)).as("max_top_cnt"))
      .orderBy($"lang")
  }

  /** Weighted PPS bottom-k sample (t27), exposed as a library call:
    * sequential Poisson sampling (Ohlsson 1998) — per stratum, the k docs
    * with the smallest priority = salted-unit-uniform-hash / weight,
    * quantized to integer micro-units so ranking is engine-exact. Weight
    * is n_chars clamped to >= 1. Output: (lang, sample_rank [1..k],
    * doc_id, weight, priority_micro).
    *
    * Example (run verbatim by DocExamplesSpec) — a 1000x heavier doc wins
    * the k=1 slot because its priority is its hash divided by its weight:
    * {{{
    * val docs = Seq((1L, "x", "en", 1L), (2L, "x", "en", 1000L))
    *   .toDF("doc_id", "text", "lang", "n_chars")
    * TextQueries.weightedSample(docs, 1)
    *   .select($"doc_id").as[Long].head() == 2L
    * }}} */
  def weightedSample(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val s = docs.sparkSession
    import s.implicits._
    val wlim = Window.partitionBy($"lang").orderBy($"priority_micro", $"doc_id")
    docs
      .select($"doc_id", $"lang", greatest($"n_chars", lit(1L)).as("w"),
        saltedDocHash("wsample:").as("h"))
      .withColumn("priority_micro", expr("(h * 1000000) div w"))
      .withColumn("sample_rank", row_number().over(wlim).cast("long"))
      .filter($"sample_rank" <= k)
      .select($"lang", $"sample_rank", $"doc_id", $"w".as("weight"), $"priority_micro")
      .orderBy($"lang", $"sample_rank")
  }

  /** Cross-document exact repeated-span miner (t20), exposed as a library
    * call. Returns one row per unordered doc pair that shares at least one
    * exact repeat of `minRun + 7` tokens: (doc_a, doc_b, n_spans,
    * max_span_tokens, dup_tokens).
    *
    * Algorithm (distributed diagonal-run merging): positional 8-token
    * shingles; shingles present in 2..`maxDf` distinct docs survive (df >= 2
    * = repeated; df > maxDf = corpus boilerplate, t14's territory — the cap
    * also bounds the self-join's per-key fan-out, so no hot shingle can
    * produce a quadratic key); self-join on the shingle hash; consecutive
    * matches on one diagonal (pa - pb) collapse into maximal spans via the
    * pa - row_number island trick. Work is linear in true shingle matches at
    * any corpus size. Only 8-byte hashes and integer positions cross the
    * shuffles.
    *
    * `minRun` = minimum consecutive matched shingles per reported span
    * (span length in tokens = run + 7).
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val span = (1 to 20).map("d" + _).mkString(" ")
    * val docs = Seq((1L, s"a b c $span", "en"), (2L, s"$span x y", "en"))
    *   .toDF("doc_id", "text", "lang")
    * TextQueries.repeatedSpans(docs)
    *   .select("doc_a", "doc_b", "max_span_tokens")
    *   .as[(Long, Long, Long)].head == ((1L, 2L, 20L))
    * }}}
    */
  def repeatedSpans(docs: DataFrame, minRun: Int = 8, maxDf: Int = 32): DataFrame = {
    require(minRun >= 1, s"need minRun >= 1, got $minRun")
    require(maxDf >= 2, s"need maxDf >= 2, got $maxDf")
    val s = docs.sparkSession
    import s.implicits._
    verifiedSpanRows(docs, minRun, maxDf)
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_spans"),
        max($"span_tokens").as("max_span_tokens"),
        sum($"span_tokens").as("dup_tokens"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** The verified span rows behind [[repeatedSpans]] and [[spanScrubReport]]:
    * one row per maximal exact repeat, (doc_a, doc_b, diag, start_a,
    * span_tokens) with doc_a < doc_b and start_b = start_a - diag. Every row
    * has passed the token-window slice compare, so a 64-bit shingle collision
    * can never fabricate one.
    */
  private def verifiedSpanRows(docs: DataFrame, minRun: Int, maxDf: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // positional shingle keys straight from the codegen'd expression — no
    // shingle strings, no typed map; (pos, g) comes off the scan stage.
    // Read three times: df agg + both self-join sides
    val pos = OpCache.persistRotating("verifiedSpanRows.positions", docs
      .select($"doc_id",
        posexplode(TextFns.shingleHashes(TextFns.tokens($"text"))).as(Seq("p0", "g")))
      .select($"doc_id", ($"p0" + 1L).cast("long").as("pos"), $"g"))
    val keep = pos.groupBy($"g")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2 && $"nd" <= maxDf)
      .select($"g")
    // restricting ONE side to kept shingles restricts the equi-join itself
    val a = pos.join(keep, Seq("g"))
      .select($"g", $"doc_id".as("doc_a"), $"pos".as("pa"))
    val b = pos.select($"g", $"doc_id".as("doc_b"), $"pos".as("pb"))
    val w = Window.partitionBy($"doc_a", $"doc_b", $"diag").orderBy($"pa")
    val spans = a.join(b, Seq("g"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", $"pa", $"pb", ($"pa" - $"pb").as("diag"))
      .withColumn("isl", $"pa" - row_number().over(w))
      .groupBy($"doc_a", $"doc_b", $"diag", $"isl")
      .agg(min($"pa").as("start_a"), (count(lit(1)) + 7).as("span_tokens"))
      .filter($"span_tokens" >= minRun + 7)
    // exact verify (d03/d13's discipline, at span granularity): hashes are
    // join keys only — before a span becomes an output row, compare the
    // actual token windows, so a 64-bit shingle collision can never
    // fabricate a reported span. One slice-compare covers every shingle in
    // the maximal span. Cost: O(spans) rows joined against per-doc token
    // arrays — the span side is tiny, so this broadcasts and the corpus
    // side is a scan, never an extra corpus shuffle. (The one residual
    // collision effect: a false mid-run match could bridge two real spans
    // whose bridged window then fails verify and is dropped — at ~2^-64
    // per shingle pair that is the accepted budget.)
    val toks = docs.select($"doc_id", TextFns.tokens($"text").as("t"))
    spans
      .join(toks.select($"doc_id".as("doc_a"), $"t".as("ta")), Seq("doc_a"))
      .join(toks.select($"doc_id".as("doc_b"), $"t".as("tb")), Seq("doc_b"))
      .filter(slice($"ta", $"start_a".cast("int"), $"span_tokens".cast("int")) ===
        slice($"tb", ($"start_a" - $"diag").cast("int"), $"span_tokens".cast("int")))
      .select($"doc_a", $"doc_b", $"diag", $"start_a", $"span_tokens")
  }

  /** The t20 oracle: same positional shingles (DuckDB list indexing past the
    * end yields NULLs that concat_ws skips — the kernel's partial-shingle
    * semantics), same df window, same diagonal islands, on raw shingle
    * strings (the Spark side's xxhash64 is a join key only, never output).
    */
  private def repeatedSpansOracle: String = {
    val gram = (0 to 7).map(k => s"t[i+$k]").mkString(", ")
    s"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
      FROM documents),
    pos AS (
      SELECT doc_id, i AS pos, concat_ws(' ', $gram) AS g
      FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
            FROM toks)),
    keep AS (
      SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM pos GROUP BY g)
      WHERE nd BETWEEN 2 AND 32),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
             a.pos - b.pos AS diag
      FROM (SELECT p.* FROM pos p JOIN keep USING (g)) a
      JOIN pos b USING (g)
      WHERE a.doc_id < b.doc_id),
    runs AS (
      SELECT doc_a, doc_b, diag,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
      FROM m),
    spans AS (
      SELECT doc_a, doc_b, count(*) + 7 AS span_tokens
      FROM runs GROUP BY doc_a, doc_b, diag, isl
      HAVING count(*) + 7 >= 15)
    SELECT doc_a, doc_b,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(span_tokens) AS BIGINT) AS max_span_tokens,
           CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY doc_a, doc_b
    ORDER BY doc_a, doc_b"""
  }

  /** Filter-ablation report (t40) over an arbitrary (doc_id, text) corpus:
    * per quality gate, how many docs fail it at all (`n_fail`) and how many
    * ONLY it catches (`n_unique_fail` — the docs lost if the gate is
    * dropped; zero means the gate is redundant given the other three).
    * Gates: t05's token floor and lexical diversity, d07's canonical-copy
    * rule, and a sane-mean-token-length band. ONE corpus scan computes all
    * four flags (plus the content-key hash agg for canonicity); the eight
    * counts collapse to a single aggregate row exploded to four output
    * rows — O(1) work past the scan at any corpus size.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val docs = Seq((1L, (1 to 25).map("w" + _).mkString(" ")), (2L, "tiny"))
    *   .toDF("doc_id", "text")
    * filterAblation(docs).filter($"filter" === "token_floor")
    *   .select($"n_fail", $"n_unique_fail").as[(Long, Long)].head == ((1L, 1L))
    * }}}
    */
  def filterAblation(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val t = TextFns.tokens($"text")
    val nToks = size(t).cast("long")
    val distinctRatio = floor(size(array_distinct(t)) * lit(1000.0) / size(t)).cast("long")
    val meanTokLen = floor(
      aggregate(t, lit(0L), (acc, x) => acc + length(x)) * lit(1000.0) / size(t)).cast("long")
    val feats = docs
      .select($"doc_id",
        md5(TextFns.normalize($"text")).as("ck"),
        nToks.as("n"), distinctRatio.as("dr"), meanTokLen.as("mt"))
    val canon = feats.groupBy($"ck").agg(min($"doc_id").as("m"))
    val flags = feats.join(canon, Seq("ck"))
      .select(($"n" < 20L).as("x_len"), ($"dr" < 200L).as("x_div"),
        ($"doc_id" =!= $"m").as("x_canon"),
        ($"mt" < 2000L || $"mt" > 15000L).as("x_tok"))
    def fails(c: Column) = sum(c.cast("long"))
    def uniq(c: Column, others: Column*) =
      sum((c && others.map(!_).reduce(_ && _)).cast("long"))
    val one = flags.agg(
      fails($"x_len").as("f_len"), uniq($"x_len", $"x_div", $"x_canon", $"x_tok").as("u_len"),
      fails($"x_div").as("f_div"), uniq($"x_div", $"x_len", $"x_canon", $"x_tok").as("u_div"),
      fails($"x_canon").as("f_canon"), uniq($"x_canon", $"x_len", $"x_div", $"x_tok").as("u_canon"),
      fails($"x_tok").as("f_tok"), uniq($"x_tok", $"x_len", $"x_div", $"x_canon").as("u_tok"))
    one.select(explode(array(
        struct(lit("canonical_copy").as("filter"), $"f_canon".as("n_fail"), $"u_canon".as("n_unique_fail")),
        struct(lit("lexical_diversity").as("filter"), $"f_div".as("n_fail"), $"u_div".as("n_unique_fail")),
        struct(lit("mean_token_length").as("filter"), $"f_tok".as("n_fail"), $"u_tok".as("n_unique_fail")),
        struct(lit("token_floor").as("filter"), $"f_len".as("n_fail"), $"u_len".as("n_unique_fail")))).as("e"))
      .select($"e.filter".as("filter"), $"e.n_fail".as("n_fail"),
        $"e.n_unique_fail".as("n_unique_fail"))
      .orderBy($"filter")
  }

  /** Epoch-budget waterfilling (t41) over a (source, s_tokens, cap_milli)
    * table: split a total token budget across sources at a COMMON
    * milli-epoch level λ, clamping each source at its own epoch cap (the
    * LLaMA-recipe shape: high-quality sources may repeat more) — epochs_i =
    * min(λ, cap_i) with λ chosen so Σ epochs_i·s_i ≈ budget. λ comes from
    * the classic sorted-prefix closed form: sort sources by cap; for the
    * branch capping exactly the first i−1 sources the candidate is
    * (budget − capped prefix mass) div (remaining weight), valid when it
    * lands between the neighbouring caps — every bracket-valid candidate
    * is FEASIBLE (its implied allocation ≤ budget, by the floor) and the
    * true λ is the largest feasible, so selection is MAX over valid
    * candidates (min under-allocates when an earlier branch's floor lands
    * exactly on its bracket's upper edge — caught by the t42 unit-weight
    * edge case, where the quantization is a whole doc), and an
    * over-generous budget degrades to all-capped. All
    * integer milli arithmetic (div == // on positive operands), one
    * O(sources) pass after the per-source aggregate — the windows only
    * ever see the source table, never the corpus.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // budget 1.5 epochs of 200 tokens = 300; a caps at 1.0, b soaks to 2.0
    * val srcs = Seq(("a", 100L, 1000L), ("b", 100L, 4000L))
    *   .toDF("source", "s_tokens", "cap_milli")
    * epochWaterfill(srcs).select($"source", $"epochs_milli", $"alloc_tokens")
    *   .as[(String, Long, Long)].collect().toSeq ==
    *   Seq(("a", 1000L, 100L), ("b", 2000L, 200L))
    * }}}
    */
  def epochWaterfill(srcs: DataFrame, budgetMilliEpochs: Long = 1500L): DataFrame = {
    require(budgetMilliEpochs > 0, s"need a positive budget, got $budgetMilliEpochs")
    val s = srcs.sparkSession
    import s.implicits._
    val wAll = Window.partitionBy(lit(1))
    val wPrev = Window.partitionBy(lit(1)).orderBy($"cap_milli", $"source")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lam = srcs
      .withColumn("total_s", sum($"s_tokens").over(wAll))
      .withColumn("bm", $"total_s" * budgetMilliEpochs)
      .withColumn("pprev", coalesce(sum($"cap_milli" * $"s_tokens").over(wPrev), lit(0L)))
      .withColumn("rprev", $"total_s" - coalesce(sum($"s_tokens").over(wPrev), lit(0L)))
      .withColumn("cap_prev", coalesce(max($"cap_milli").over(wPrev), lit(0L)))
      .withColumn("cand", when($"rprev" > 0L && $"bm" >= $"pprev",
        expr("(bm - pprev) div rprev")))
      .withColumn("lam_valid", max(when(
        $"cand".isNotNull && $"cand" >= $"cap_prev" && $"cand" <= $"cap_milli",
        $"cand")).over(wAll))
      .withColumn("capped_mass", sum($"cap_milli" * $"s_tokens").over(wAll))
      .withColumn("lam", coalesce($"lam_valid",
        when($"bm" >= $"capped_mass", max($"cap_milli").over(wAll))))
    lam.select($"source", $"s_tokens", $"cap_milli",
        least($"lam", $"cap_milli").as("epochs_milli"))
      .withColumn("alloc_tokens", expr("(epochs_milli * s_tokens) div 1000"))
      .orderBy($"source")
  }

  /** URL/domain-grain corpus governance (t42) over a (doc_id, url) frame —
    * the first filter every web-scale pipeline runs, in two stages:
    *
    *  1. URL-CANONICALIZATION DEDUP (d01's shape at URL grain): lowercase
    *     the host, strip a leading `www.`, drop the query string and
    *     fragment, strip a trailing `/index.html` then a trailing `/`, and
    *     fold the scheme to `https` — one canonical URL per fetched page
    *     however it was linked. Dedup keys on the canonical string.
    *  2. PER-DOMAIN CAP via [[epochWaterfill]]'s sorted-prefix closed form
    *     at UNIT weight: a total budget of `budgetPct`% of the deduped
    *     URLs splits across registered domains (last two host labels) at a
    *     common per-domain level λ, each domain clamped at its own URL
    *     count — kept_d = min(n_urls_d, λ) with λ the MAX valid candidate
    *     (budget − prefix) div remaining over domains sorted by size
    *     (every valid candidate is feasible; the largest is the true λ).
    *     This is how corpus builds bound any one site's share (the
    *     Common-Crawl top-domain skew) without starving the tail.
    *
    * Everything before the O(domains) waterfill is one per-row projection
    * plus one (domain, url) aggregate — no corpus-wide window, no driver
    * loop; at 100 TB the canonicalization rides the scan and the cap
    * decision runs on a table the size of the domain list.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val urls = Seq(
    *   (1L, "HTTPS://WWW.Big.com/a/index.html"),
    *   (2L, "https://big.com/a/"),          // canonical dup of doc 1
    *   (3L, "https://big.com/b"), (4L, "https://m.big.com/c"),
    *   (5L, "http://tiny.com/x?utm_source=feed")).toDF("doc_id", "url")
    * // 4 deduped urls, budget 50% = 2 -> λ = 1: big.com keeps 1 of 3
    * TextQueries.domainGovernance(urls, budgetPct = 50L)
    *   .as[(String, Long, Long, Long)].collect().toSeq ==
    *   Seq(("big.com", 4L, 3L, 1L), ("tiny.com", 1L, 1L, 1L))
    * }}}
    */
  def domainGovernance(urls: DataFrame, budgetPct: Long = DomainBudgetPct): DataFrame = {
    val s = urls.sparkSession
    import s.implicits._
    val dom = canonicalUrls(urls)
      .groupBy($"domain")
      .agg(count(lit(1)).as("n_docs"), countDistinct($"curl").as("n_urls"))
    domainCapReport(dom, budgetPct)
  }

  /** t42's canonicalization projection: one (curl, domain) row per input
    * (doc_id, url) row — the per-row half shared with the streaming twin
    * ([[graft.streaming.StreamDomainGovernance]]), which folds these rows
    * incrementally instead of re-aggregating the corpus.
    *
    * Host handling: userinfo (`user@`) and an explicit `:port` are
    * stripped before grouping, so `http://u@host.com:8080/x` and
    * `https://host.com/x` share one canonical URL. The registered domain
    * is the LAST TWO host labels — a deliberate approximation of the
    * public-suffix list (which is a 9k-rule moving target this
    * zero-egress build can't ship): it is exact for `.com`-style TLDs
    * and groups one level too coarse for multi-label suffixes
    * (`*.co.uk` collapses into `co.uk`). Production use behind a crawl
    * should swap this one expression for a suffix-list lookup table
    * (a broadcast join against the PSL — the plan shape is unchanged).
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * canonicalUrls(Seq("http://crawler@www.example.com:8080/a/index.html").toDF("url"))
    *   .as[(String, String)].head == (("https://example.com/a", "example.com"))
    * }}}
    */
  private[graft] def canonicalUrls(urls: DataFrame): DataFrame = {
    val host = regexp_replace(regexp_replace(regexp_replace(
      lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)),
      "^[^@]*@", ""), ":[0-9]+$", ""), "^www\\.", "")
    val path = regexp_replace(regexp_replace(
      regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
      "/index\\.html$", ""), "/$", "")
    urls.select(concat(lit("https://"), host, path).as("curl"),
      regexp_extract(host, "([^.]+\\.[^.]+)$", 1).as("domain"))
  }

  /** t42's cap decision over a prepared (domain, n_docs, n_urls) table —
    * the O(domains) half shared with the streaming twin, which recomputes
    * it per micro-batch from its folded state. */
  private[graft] def domainCapReport(dom: DataFrame, budgetPct: Long): DataFrame = {
    require(budgetPct > 0 && budgetPct <= 100, s"need budgetPct in (0,100], got $budgetPct")
    val s = dom.sparkSession
    import s.implicits._
    // unit-weight waterfill — epochWaterfill's closed form with weight 1
    // per domain; runs on the O(domains) aggregate only
    val wAll = Window.partitionBy(lit(1))
    val wPrev = Window.partitionBy(lit(1)).orderBy($"n_urls", $"domain")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lam = dom
      .withColumn("total_u", sum($"n_urls").over(wAll))
      .withColumn("b", expr(s"(total_u * $budgetPct) div 100"))
      .withColumn("pprev", coalesce(sum($"n_urls").over(wPrev), lit(0L)))
      .withColumn("rprev",
        count(lit(1)).over(wAll) - coalesce(count(lit(1)).over(wPrev), lit(0L)))
      .withColumn("cap_prev", coalesce(max($"n_urls").over(wPrev), lit(0L)))
      .withColumn("cand", when($"rprev" > 0L && $"b" >= $"pprev",
        expr("(b - pprev) div rprev")))
      .withColumn("lam_valid", max(when(
        $"cand".isNotNull && $"cand" >= $"cap_prev" && $"cand" <= $"n_urls",
        $"cand")).over(wAll))
      .withColumn("lam", coalesce($"lam_valid",
        when($"b" >= $"total_u", max($"n_urls").over(wAll))))
    lam.select($"domain", $"n_docs", $"n_urls",
        least($"lam", $"n_urls").as("kept"))
      .orderBy($"domain")
  }

  /** No-split greedy packing report (t45) over a (doc_id, lang, shard, n)
    * frame — the SFT/eval dataloader regime, where a document must live
    * WHOLLY inside one context window (t08's pretraining packer lets docs
    * straddle boundaries, so its waste is only shard tails; here
    * fragmentation is real and is THE cost of the sequence-length
    * decision): per (lang, shard), docs pack greedily in doc_id order,
    * a window closes when the next doc doesn't fit, docs longer than the
    * budget are truncated to it and counted. Output per (lang, shard):
    * docs, windows, packed tokens (post-truncation), waste
    * (windows x budget − packed), truncated docs — all integers.
    *
    * Scale shape: the greedy fold is inherently sequential PER SHARD but
    * shard-parallel across the corpus (t08's sharding story — thousands of
    * shards in production); it runs as ONE native `aggregate` lambda over
    * each shard's ordered token-count list with the (windows, fill) state
    * packed into a single BIGINT (windows * 10^6 + fill) — the t13
    * discipline of defining a fold once and replaying it verbatim as
    * DuckDB's list_reduce.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val rows = Seq((1L, "en", 0L, 300L), (2L, "en", 0L, 300L),
    *   (3L, "en", 0L, 600L), (4L, "en", 1L, 10L))
    *   .toDF("doc_id", "lang", "shard", "n")
    * // shard 0: doc 2 doesn't fit after doc 1 (600 > 512 budget), doc 3
    * // truncates to 512 and opens its own window -> 3 windows, waste 424
    * TextQueries.packNoSplit(rows).as[(String, Long, Long, Long, Long, Long, Long)]
    *   .collect().toSeq == Seq(("en", 0L, 3L, 3L, 1112L, 424L, 1L),
    *                           ("en", 1L, 1L, 1L, 10L, 502L, 0L))
    * }}}
    */
  def packNoSplit(rows: DataFrame, budget: Long = PackBudget): DataFrame = {
    require(budget > 0 && budget < PackFoldM, s"need 0 < budget < $PackFoldM, got $budget")
    val s = rows.sparkSession
    import s.implicits._
    val b = lit(budget)
    val m = lit(PackFoldM)
    val base = rows.select($"doc_id", $"lang", $"shard",
      least($"n", b).as("n2"), ($"n" > b).cast("long").as("trunc"))
    base.groupBy($"lang", $"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n2").as("packed_tokens"),
        sum($"trunc").as("truncated_docs"),
        aggregate(
          transform(sort_array(collect_list(struct($"doc_id", $"n2"))),
            x => x.getField("n2")),
          m, (acc, x) =>
            when(pmod(acc, m) + x <= b, acc + x)
              .otherwise(acc - pmod(acc, m) + m + x)).as("enc"))
      .select($"lang", $"shard", $"n_docs",
        expr(s"enc div $PackFoldM").as("n_windows"),
        $"packed_tokens",
        (expr(s"enc div $PackFoldM") * b - $"packed_tokens").as("waste_tokens"),
        $"truncated_docs")
      .orderBy($"lang", $"shard")
  }

  /** License propagation through exact-dedup groups (t43) over a
    * (doc_id, text, source) frame: group documents by normalized content
    * key (d01's grain), fold each group's per-source license tiers with
    * MAX (the lattice join: 0 permissive < 1 attribution < 2 restricted —
    * a permissive mirror never launders a restricted original), and
    * report per effective license: groups, ESCALATED groups (keeper's own
    * source was more permissive than the group — the case a naive per-doc
    * license column silently gets wrong), total copies, kept tokens.
    * `tierCol` maps each row to its tier; the t43 query derives it from
    * the source poly-hash (synthetic stand-in for a real license table).
    * One scan, one content-key agg, one O(licenses) agg; the fold is
    * associative, so the same decision runs unchanged at near-dup-cluster
    * grain or inside an incremental ingest fold.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // docs 1+2 are one content group: keeper 1 is permissive (tier 0)
    * // but copy 2 is restricted -> the group ESCALATES to restricted
    * val docs = Seq((1L, "same text", "a"), (2L, "same  TEXT ", "b"),
    *   (3L, "other", "a")).toDF("doc_id", "text", "source")
    * TextQueries.licenseFold(docs, when($"source" === "b", 2L).otherwise(0L))
    *   .select($"license", $"n_groups", $"n_escalated", $"n_copies")
    *   .as[(String, Long, Long, Long)].collect().toSeq ==
    *   Seq(("permissive", 1L, 0L, 1L), ("restricted", 1L, 1L, 2L))
    * }}}
    */
  def licenseFold(docs: DataFrame, tierCol: Column = defaultLicenseTier): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val f = docs.select($"doc_id",
      md5(TextFns.normalize($"text")).as("ck"), tierCol.as("tier"),
      size(TextFns.tokens($"text")).cast("long").as("n_toks"))
    val g = f.groupBy($"ck").agg(
      max($"tier").as("gtier"),
      min_by($"tier", $"doc_id").as("ktier"),
      min_by($"n_toks", $"doc_id").as("ktoks"),
      count(lit(1)).as("n_copies"))
    g.groupBy(when($"gtier" === 0L, "permissive")
        .when($"gtier" === 1L, "attribution")
        .otherwise("restricted").as("license"))
      .agg(count(lit(1)).as("n_groups"),
        sum(($"ktier" < $"gtier").cast("long")).as("n_escalated"),
        sum($"n_copies").as("n_copies"),
        sum($"ktoks").as("kept_tokens"))
      .orderBy($"license")
  }

  /** t43's synthetic per-source tier: the t04 poly-hash of the salted
    * source name mod 3 — deterministic, oracle-replayable (the t21/t41
    * synthetic-model convention). */
  private def defaultLicenseTier: Column =
    pmod(TextFns.polyHash(concat(lit("lic:"), col("source"))), lit(3L))

  /** Eval decontamination (t44) over a (doc_id, text, lang) frame — the
    * REMOVE step t07's check stops short of: any TRAIN document sharing
    * an 8-token shingle with the heldout set is dropped from training
    * (the GPT-3/PaLM n-gram rule — a leaked eval answer invalidates the
    * benchmark, so the train side pays, not the eval side). Train-train
    * shingle overlap is untouched: only heldout shingles probe. Output
    * per lang: train docs, dropped docs, and the token economics of the
    * scrub (t39's convention). `trainPred` decides split membership; the
    * t44 query uses the t06 salted-hash bucket, so the split is exactly
    * the stratified-split family's.
    *
    * Scale shape: distinct heldout shingles are the minority-split side
    * (a tenth of the corpus shingles at a 90/10 split — Catalyst picks
    * broadcast vs shuffle semi-join from its size; at 100 TB it shuffles,
    * and the join stays one linear equi-semi-join either way) probing
    * exploded train shingle keys (in-scan ShingleHashesExpr longs, never
    * strings); linear in corpus shingles, never all-pairs.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * def gram(p: String) = (1 to 8).map(p + _).mkString(" ")
    * val docs = Seq(
    *   (1L, s"${gram("g")} tail", "en"),          // heldout
    *   (2L, s"lead ${gram("g")} ${gram("h")}", "en"), // train: leaks g -> dropped
    *   (3L, s"${gram("h")} tail", "en"))          // train: shares h with TRAIN 2 only -> kept
    *   .toDF("doc_id", "text", "lang")
    * TextQueries.decontaminateReport(docs, trainPred = $"doc_id" > 1L)
    *   .as[(String, Long, Long, Long, Long)].head ==
    *   (("en", 2L, 1L, 17L, 9L))
    * }}}
    */
  def decontaminateReport(docs: DataFrame,
      trainPred: Column = splitBucket < TrainPct): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // one scan: shingle keys (in-scan ShingleHashesExpr) and the token
    // count ride the same projection — never a self-join back for n_toks.
    // The shingle frame is read twice (heldout probe side + train side);
    // its slot trades one scan+shingle pass (~40% of the operator's work,
    // measured at sf0.1) for executor storage, bounded to the latest
    // invocation — at 100 TB the corpus-wide shingle arrays are this
    // operator's biggest memory consumer.
    val sh = OpCache.persistRotating("decontaminateReport.shingles", docShingles(docs)
      .withColumn("split", when(trainPred, "train").otherwise("heldout")))
    val heldSh = sh.filter($"split" === "heldout")
      .select(explode($"gs").as("g")).distinct()
    decontLangStats(sh.filter($"split" === "train"), heldSh)
      .orderBy($"lang")
  }

  /** t44's per-doc projection half: one (doc_id, lang, gs, n_toks) row per
    * (doc_id, text, lang) input row, shingle keys and the token count on
    * one scan — shared with the streaming twin
    * ([[graft.streaming.StreamDecontaminate]]), which runs it per
    * micro-batch instead of over the corpus. */
  private[graft] def docShingles(docs: DataFrame): DataFrame = {
    val t = TextFns.tokens(col("text"))
    docs.select(col("doc_id"), col("lang"),
      array_distinct(TextFns.shingleHashes(t)).as("gs"),
      size(t).cast("long").as("n_toks"))
  }

  /** t44's drop decision over TRAIN [[docShingles]] rows vs a heldout
    * shingle-key set `heldSh` (one `g` column): the distinct doc_ids of
    * train docs sharing any 8-token shingle with the heldout set — shared
    * by the t44 report and the s23 apply step. */
  private[graft] def lexDroppedIds(train: DataFrame, heldSh: DataFrame): DataFrame =
    train
      .select(col("doc_id"), explode(col("gs")).as("g"))
      .join(heldSh, Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()

  /** The t44 oracle's shingle/split CTE chain (toks -> sh -> heldsh ->
    * trainsh -> lexdrop), exposed as a WITH-body fragment so the s23
    * apply-step oracle can compose the lexical gate with s22's semantic
    * CTEs in one statement. `trainsh` carries (doc_id, lang, n_toks, s);
    * `lexdrop` the dropped doc_ids. */
  private[graft] def lexDroppedSqlCtes: String = {
    val gram = (0 to 7).map(k => s"t[i+$k]").mkString(", ")
    s"""toks AS (
          SELECT doc_id, lang,
                 CASE WHEN $splitBucketSql < $TrainPct
                      THEN 'train' ELSE 'heldout' END AS split,
                 string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, lang, split, CAST(len(t) AS BIGINT) AS n_toks,
                 list_distinct(list_transform(generate_series(1, greatest(len(t) - 7, 1)),
                   i -> concat_ws(' ', $gram))) AS s
          FROM toks),
        heldsh AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE split = 'heldout'),
        trainsh AS (SELECT doc_id, lang, n_toks, s FROM sh WHERE split = 'train'),
        lexdrop AS (
          SELECT DISTINCT tr.doc_id
          FROM (SELECT doc_id, unnest(s) AS g FROM trainsh) tr
          JOIN heldsh USING (g))"""
  }

  /** t44's decision + economics half over TRAIN [[docShingles]] rows vs a
    * heldout shingle-key set `heldSh` (one `g` column): per-lang train
    * docs, dropped docs, and dropped/clean token sums — UNORDERED (the
    * streaming twin folds these as plain sums; the batch report adds the
    * orderBy). The drop decision is per-doc against the static heldout
    * set only, so the per-lang sums are split-invariant monoids. */
  private[graft] def decontLangStats(train: DataFrame, heldSh: DataFrame): DataFrame = {
    val dropped = lexDroppedIds(train, heldSh)
    train
      .join(dropped.withColumn("is_dropped", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_train"),
        sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"),
        sum(when(col("is_dropped").isNotNull, col("n_toks")).otherwise(0L)).as("tokens_dropped"),
        sum(when(col("is_dropped").isNull, col("n_toks")).otherwise(0L)).as("tokens_clean"))
  }

  /** Substring-dedup scrub economics (t39) — the REMOVE step the t20 miner
    * stops short of (the Lee et al. 2022 "Deduplicating Training Data"
    * rewrite): every verified repeated span is cut from the HIGHER-id doc of
    * its pair (the lower id keeps the only copy — d07's keep-lowest canon at
    * span granularity), overlapping/adjacent cuts on one doc are merged into
    * maximal segments, and the result is a per-lang report of what scrubbing
    * would delete: (lang, docs_scrubbed, segments, tokens_removed,
    * doc_tokens, removed_milli).
    *
    * Scale shape: everything downstream of the t20 miner is O(spans), not
    * O(corpus) — the interval merge runs per-doc windows over the few spans
    * each doc carries (partitioned by doc_id, never a global sort), and the
    * only corpus-wide touch is one scan for per-doc token counts that joins
    * to the span-bearing docs. `removed_milli` is integer `div`, exact on
    * both engines.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val span = (1 to 20).map("d" + _).mkString(" ")
    * val docs = Seq((1L, s"a b c $span", "en"), (2L, s"$span x y", "en"))
    *   .toDF("doc_id", "text", "lang")
    * // doc 2 (higher id) loses the 20-token span out of its 22 tokens
    * TextQueries.spanScrubReport(docs)
    *   .select("lang", "docs_scrubbed", "tokens_removed", "doc_tokens")
    *   .as[(String, Long, Long, Long)].head == (("en", 1L, 20L, 22L))
    * }}}
    */
  def spanScrubReport(docs: DataFrame, minRun: Int = 8, maxDf: Int = 32): DataFrame = {
    require(minRun >= 1, s"need minRun >= 1, got $minRun")
    require(maxDf >= 2, s"need maxDf >= 2, got $maxDf")
    val s = docs.sparkSession
    import s.implicits._
    // token intervals to cut, on the losing (higher-id) doc; identical
    // intervals from different partners collapse before the merge
    val iv = verifiedSpanRows(docs, minRun, maxDf)
      .select($"doc_b".as("doc_id"),
        ($"start_a" - $"diag").as("s"),
        ($"start_a" - $"diag" + $"span_tokens" - 1L).as("e"))
      .distinct()
    // classic interval merge as per-doc islands: a row starts a new segment
    // iff it begins past every earlier end (+1 coalesces adjacent cuts)
    val wOrd = Window.partitionBy($"doc_id").orderBy($"s", $"e")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val perDoc = iv
      .withColumn("prev_e", max($"e").over(wPrev))
      .withColumn("brk", when($"prev_e".isNull || $"s" > $"prev_e" + 1L, 1L).otherwise(0L))
      .withColumn("island", sum($"brk").over(wOrd))
      .groupBy($"doc_id", $"island")
      .agg((max($"e") - min($"s") + 1L).as("covered"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("segments"), sum($"covered").as("removed"))
    val meta = docs.select($"doc_id", $"lang",
      size(TextFns.tokens($"text")).cast("long").as("n_toks"))
    perDoc.join(meta, Seq("doc_id"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("docs_scrubbed"),
        sum($"segments").as("segments"),
        sum($"removed").as("tokens_removed"),
        sum($"n_toks").as("doc_tokens"))
      .withColumn("removed_milli", expr("(tokens_removed * 1000) div doc_tokens"))
      .orderBy($"lang")
  }

  /** The t39 oracle: t20's CTE chain kept at span-row granularity (min(pa)
    * recovers each span's start; start_b = start_a - diag), then the same
    * distinct-interval merge and per-lang rollup in SQL windows. Positive
    * operands make DuckDB's `//` and Spark's `div` agree exactly.
    */
  private def spanScrubOracle: String = {
    val gram = (0 to 7).map(k => s"t[i+$k]").mkString(", ")
    s"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
      FROM documents),
    pos AS (
      SELECT doc_id, i AS pos, concat_ws(' ', $gram) AS g
      FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
            FROM toks)),
    keep AS (
      SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM pos GROUP BY g)
      WHERE nd BETWEEN 2 AND 32),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
             a.pos - b.pos AS diag
      FROM (SELECT p.* FROM pos p JOIN keep USING (g)) a
      JOIN pos b USING (g)
      WHERE a.doc_id < b.doc_id),
    runs AS (
      SELECT doc_a, doc_b, diag, pa,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
      FROM m),
    iv AS (
      SELECT DISTINCT doc_b AS doc_id, s, s + n - 1 AS e
      FROM (SELECT doc_b, min(pa) - diag AS s, count(*) + 7 AS n
            FROM runs GROUP BY doc_a, doc_b, diag, isl
            HAVING count(*) + 7 >= 15)),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  CAST(-1 AS BIGINT)) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM iv),
    seg AS (
      SELECT doc_id, island, max(e) - min(s) + 1 AS covered
      FROM (SELECT doc_id, s, e,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e) AS island
            FROM marked)
      GROUP BY doc_id, island),
    perdoc AS (
      SELECT doc_id, count(*) AS segments, sum(covered) AS removed
      FROM seg GROUP BY doc_id)
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS docs_scrubbed,
           CAST(sum(p.segments) AS BIGINT) AS segments,
           CAST(sum(p.removed) AS BIGINT) AS tokens_removed,
           CAST(sum(len(tk.t)) AS BIGINT) AS doc_tokens,
           CAST((sum(p.removed) * 1000) // sum(len(tk.t)) AS BIGINT) AS removed_milli
    FROM perdoc p
    JOIN documents d USING (doc_id)
    JOIN toks tk USING (doc_id)
    GROUP BY d.lang
    ORDER BY d.lang"""
  }

  /** Broadcast linear-model inference (t21), exposed as a library call:
    * per-doc (doc_id, lang, n_tokens, w_sum, score_milli, pass). Each token
    * hashes to one of [[ModelBuckets]] feature buckets (codegen'd polyHash);
    * the bucket->weight model is a 256-row DataFrame broadcast-joined to the
    * exploded tokens, so scoring never shuffles the corpus — the only
    * exchange is the per-doc aggregate. The LCG-derived weights stand in for
    * a trained model; inference plumbing (hash, broadcast, agg) is the part
    * that must scale and is what this operator locks.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val r = TextQueries.modelScores(
    *   Seq((7L, "alpha beta gamma", "en")).toDF("doc_id", "text", "lang")).head
    * r.getLong(2) == 3L &&
    *   r.getLong(4) == math.floor(r.getLong(3) * 1000.0 / 3).toLong
    * }}}
    */
  def modelScores(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val weights = s.range(ModelBuckets).select(
      $"id".as("bucket"),
      ((($"id" * 1103515245L + 12345L) % 2003L) - 1001L).as("w"))
    docs
      .select($"doc_id", $"lang", explode(TextFns.tokens($"text")).as("tok"))
      .select($"doc_id", $"lang",
        pmod(TextFns.polyHash($"tok"), lit(ModelBuckets)).as("bucket"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_tokens"), sum($"w").as("w_sum"))
      .select($"doc_id", $"lang", $"n_tokens", $"w_sum",
        floor($"w_sum" * lit(1000.0) / $"n_tokens").cast("long").as("score_milli"))
      .withColumn("pass", ($"score_milli" >= 0L).cast("long"))
      .orderBy($"doc_id")
  }

  /** The t21 oracle: same token hash (char fold), same LCG weights inline
    * (DuckDB needs no broadcast — the weight function is pure), same
    * per-row double division for the milli score. */
  private def modelScoresOracle: String = s"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
      FROM documents),
    f AS (
      SELECT doc_id, lang,
             CAST((${polyHashSqlOf("tok")}) % $ModelBuckets AS BIGINT) AS bucket
      FROM toks),
    sc AS (
      SELECT doc_id, lang,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(((bucket * 1103515245 + 12345) % 2003) - 1001) AS BIGINT) AS w_sum
      FROM f GROUP BY doc_id, lang)
    SELECT doc_id, lang, n_tokens, w_sum,
           CAST(floor(w_sum * 1000.0 / n_tokens) AS BIGINT) AS score_milli,
           CAST(CASE WHEN floor(w_sum * 1000.0 / n_tokens) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
    FROM sc
    ORDER BY doc_id"""

  /** Overlapping fixed-window chunker (t16), exposed as a library call:
    * (doc_id, chunk_idx, chunk_start [1-based], chunk_len, chunk_md5).
    * `size` is the window width in characters, `stride` the start step
    * (overlap = size - stride); the last window may run short, and an
    * empty document yields one empty chunk (locked in EdgeCaseSpec).
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * chunkDocs(Seq((1L, "abcdef")).toDF("doc_id", "text"), 4, 2)
    *   .select($"chunk_idx", $"chunk_start", $"chunk_len")
    *   .as[(Long, Long, Long)].collect().toSeq ==
    *   Seq((0L, 1L, 4L), (1L, 3L, 4L))
    * }}}
    */
  def chunkDocs(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(0 < stride && stride <= size, s"need 0 < stride <= size, got $size/$stride")
    val s = docs.sparkSession
    import s.implicits._
    val last = floor(
      (greatest(length($"text").cast("long") - size, lit(0L)) + (stride - 1)) / stride)
    docs
      .select($"doc_id", $"text", explode(sequence(lit(0L), last)).as("chunk_idx"))
      .select($"doc_id", $"chunk_idx",
        ($"chunk_idx" * stride + 1).as("chunk_start"),
        substring($"text", ($"chunk_idx" * stride + 1).cast("int"), lit(size)).as("c"))
      .select($"doc_id", $"chunk_idx", $"chunk_start",
        length($"c").cast("long").as("chunk_len"),
        md5($"c".cast("binary")).as("chunk_md5"))
  }

  /** PII redaction (t37), exposed as a library call: the input frame plus
    * a `redacted` column with emails, IPv4s and phone numbers replaced by
    * typed placeholders, in that fixed order (t10's RE2-safe patterns).
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * redactPii(Seq((1L, "mail a@b.com from 10.1.2.3")).toDF("doc_id", "text"))
    *   .select($"redacted").as[String].head() == "mail [EMAIL] from [IP]"
    * }}}
    */
  def redactPii(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.regexp_replace
    docs.withColumn("redacted",
      regexp_replace(
        regexp_replace(
          regexp_replace(docs("text"), TextFns.EmailPattern, "[EMAIL]"),
          TextFns.Ipv4Pattern, "[IP]"),
        TextFns.PhonePattern, "[PHONE]"))
  }

  /** Code-switch report (t35), exposed as a library call over any
    * `(doc_id, lang, text)` frame: per labeled language, document counts
    * with chunk totals, the number of MIXED documents (a minority chunk
    * language above 20%), and the worst dominant-language share. Chunk =
    * 50-token window, voted by [[TextFns.langIdTokens]]; the per-doc mode
    * uses the explicit (count desc, lang) tie order.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * codeSwitchReport(Seq((1L, "en", "one short single-language document"))
    *   .toDF("doc_id", "lang", "text"))
    *   .as[(String, Long, Long, Long, Long)].head() == (("en", 1L, 1L, 0L, 1000L))
    * }}}
    */
  def codeSwitchReport(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val W = 50
    val chunks = docs
      .select($"doc_id", $"lang", TextFns.tokens($"text").as("t"))
      .withColumn("nc", expr(s"greatest(cast(ceil(size(t) / $W.0) as int), 1)"))
      .select($"doc_id", $"lang", explode(expr(
        s"transform(sequence(0, nc - 1), i -> slice(t, i * $W + 1, $W))")).as("ct"))
      .select($"doc_id", $"lang", TextFns.langIdTokens($"ct").as("pl"))
    val perDocLang = chunks.groupBy($"doc_id", $"lang", $"pl")
      .agg(count(lit(1)).as("cnt"))
    val wd = Window.partitionBy($"doc_id").orderBy($"cnt".desc, $"pl")
    val perDoc = perDocLang
      .withColumn("rk", row_number().over(wd))
      .withColumn("n_chunks", sum($"cnt").over(Window.partitionBy($"doc_id")))
      .withColumn("n_langs", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .filter($"rk" === 1)
      .select($"doc_id", $"lang",
        $"n_chunks", $"n_langs",
        expr("(1000 * cnt) div n_chunks").as("dom_share_milli"))
    perDoc.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chunks").as("n_chunks"),
        sum(when($"n_langs" > 1 && $"dom_share_milli" < 800, 1L).otherwise(0L))
          .as("n_mixed_docs"),
        min($"dom_share_milli").as("min_dom_share_milli"))
      .orderBy($"lang")
  }

  /** Content-defined chunking (t34), exposed as a library call over any
    * `(doc_id, text)` frame: one row per `(doc_id, chunk)` where chunk
    * boundaries sit after every position whose trailing-8-char rolling
    * polynomial hash is 0 mod 64 (~64-char expected chunks) over the
    * normalized text. Because the boundary test depends only on local
    * CONTENT, an edit shifts only the chunks it touches — the rest keep
    * their bytes (and so their fingerprints) and dedup across revisions,
    * which fixed-window chunking (`chunkDocs`) structurally cannot do.
    * One fused codegen'd pass per document ([[graft.functions.CdcBoundariesExpr]]),
    * and an empty document yields one empty chunk.
    *
    * Example (chunks always reassemble the normalized text):
    * {{{
    *   val one = Seq((1L, "The quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    *   TextQueries.cdcChunks(one).agg(concat_ws("", collect_list($"chunk"))).as[String].head()
    *   // "the quick brown fox jumps over the lazy dog"
    * }}} */
  def cdcChunks(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("s", graft.functions.TextFns.normalize($"text"))
      .withColumn("n", length($"s"))
      .withColumn("bpos", graft.functions.TextFns.cdcBoundaries($"s"))
      .withColumn("b", expr("concat(array(0), bpos, array(n))"))
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(b) - 1),
             k -> substring(s, element_at(b, k) + 1,
                            element_at(b, k + 1) - element_at(b, k)))""")).as("chunk"))
  }
}
