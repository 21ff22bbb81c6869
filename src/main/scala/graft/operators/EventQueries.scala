package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Temporal / event-stream surface over the `events` fixture (SURVEY.md
  * §2.2 streaming semantics + as-of join). These run as batch here; the same
  * column expressions run under `readStream` (see graft.streaming and the
  * streaming specs) — windows and watermarks are identical in both modes.
  *
  * Scale notes: the as-of join is the shuffle-once/sort-within-partition
  * formulation (union + last(ignoreNulls) over a key-partitioned window) —
  * no per-row lookups, no broadcast of the big side, skew-safe under AQE.
  * `events.ts` is ns-precision parquet: Spark truncates to micros, DuckDB
  * keeps nanos, so queries only ever emit date_trunc'd times (see QueryDef).
  */
object EventQueries {
  import RelationalQueries.{cents, centsRow}

  val all: Seq[QueryDef] = Seq(

    // ----- semi-structured: JSON props extraction ---------------------------
    QueryDef(
      "q30_json_extract_agg",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_type",
            get_json_object($"props", "$.k").cast("long").as("k"),
            $"value")
          .groupBy($"event_type")
          .agg(sum($"k").as("sum_k"), count(lit(1)).as("n"), cents($"value").as("value_c"))
          .orderBy($"event_type")
      },
      oracle = Some("""
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               count(*) AS n,
               CAST(sum(floor(value * 100)) AS BIGINT) AS value_c
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // ----- as-of join: each event -> latest order at-or-before its time -----
    QueryDef(
      "q31_asof_join",
      (s, d) => {
        import s.implicits._
        // de-dup state rows per (key, time) so the as-of pick is total-ordered
        val ord = Tables.orders(s, d)
          .groupBy($"o_custkey".as("k"), $"o_orderdate".as("t"))
          .agg(max($"o_orderkey").as("o_orderkey"))
          .select($"k", $"t", $"o_orderkey", lit(1).as("is_state"),
            lit(null).cast("long").as("event_id"))
        val ev = Tables.events(s, d)
          .select($"user_id".as("k"), $"ts".as("t"),
            lit(null).cast("long").as("o_orderkey"), lit(0).as("is_state"),
            $"event_id")
        // state rows sort before events at the same instant => inclusive as-of
        val w = Window.partitionBy($"k").orderBy($"t", $"is_state".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ord.unionByName(ev)
          .withColumn("matched_order", last($"o_orderkey", ignoreNulls = true).over(w))
          .filter($"is_state" === 0)
          .select($"event_id", coalesce($"matched_order", lit(-1L)).as("matched_order"))
          .orderBy($"event_id")
      },
      oracle = Some("""
        WITH ord AS (
          SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
          FROM orders GROUP BY 1, 2)
        SELECT e.event_id, coalesce(o.o_orderkey, -1) AS matched_order
        FROM events e
        ASOF LEFT JOIN ord o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        ORDER BY e.event_id""")),

    // ----- tumbling window aggregation (batch form of streaming window) -----
    QueryDef(
      "q32_tumbling_window",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
          .agg(count(lit(1)).as("n"), cents($"value").as("value_c"))
          .select(unix_timestamp($"w.start").as("w_start_epoch"),
            $"event_type", $"n", $"value_c")
          .orderBy($"w_start_epoch", $"event_type")
      },
      oracle = Some("""
        SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS w_start_epoch,
               event_type, count(*) AS n,
               CAST(sum(floor(value * 100)) AS BIGINT) AS value_c
        FROM events
        GROUP BY 1, 2
        ORDER BY w_start_epoch, event_type""")),

    // ----- sliding window aggregation ---------------------------------------
    QueryDef(
      "q33_sliding_window",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy(window($"ts", "2 hours", "1 hour").as("w"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp($"w.start").as("w_start_epoch"), $"n")
          .orderBy($"w_start_epoch")
      },
      // each event lands in 2 hourly-offset 2h windows: window starts at
      // hour(ts) and hour(ts)-1
      oracle = Some("""
        SELECT w_start_epoch, count(*) AS n FROM (
          SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS w_start_epoch
          FROM events
          UNION ALL
          SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) - 3600
          FROM events)
        GROUP BY 1
        ORDER BY w_start_epoch""")),

    // ----- session windows (30 min gap) per user ----------------------------
    QueryDef(
      "q34_session_windows",
      (s, d) => {
        import s.implicits._
        val sess = Tables.events(s, d)
          .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
          .agg(count(lit(1)).as("n_events"))
        sess.groupBy($"user_id")
          .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"),
            max($"n_events").as("max_session_events"))
          .orderBy($"user_id")
      },
      // gaps-and-islands replica: a new session starts when the gap from the
      // previous event of the same user is >= 30 minutes
      oracle = Some("""
        WITH marked AS (
          SELECT user_id, ts,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        >= INTERVAL '30 minutes'
                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      THEN 1 ELSE 0 END AS new_sess
          FROM events),
        sess AS (
          SELECT user_id,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM marked),
        per_sess AS (
          SELECT user_id, sess_id, count(*) AS n_events
          FROM sess GROUP BY 1, 2)
        SELECT user_id, count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events,
               max(n_events) AS max_session_events
        FROM per_sess
        GROUP BY user_id
        ORDER BY user_id""")),

    // ----- event-type funnel: first signup -> first purchase delta per user --
    QueryDef(
      "q35_funnel_first_events",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .filter($"event_type".isin("signup", "purchase"))
          .groupBy($"user_id")
          .agg(
            min(when($"event_type" === "signup", $"ts")).as("first_signup"),
            min(when($"event_type" === "purchase", $"ts")).as("first_purchase"))
          .filter($"first_signup".isNotNull && $"first_purchase".isNotNull &&
            $"first_purchase" >= $"first_signup")
          .select($"user_id",
            floor((unix_timestamp($"first_purchase") - unix_timestamp($"first_signup")) / 60)
              .cast("long").as("minutes_to_purchase"))
          .orderBy($"user_id")
      },
      oracle = Some("""
        SELECT user_id,
               CAST(floor(epoch(date_trunc('second', first_purchase)
                 - date_trunc('second', first_signup)) / 60) AS BIGINT) AS minutes_to_purchase
        FROM (
          SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
                 min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
          FROM events
          WHERE event_type IN ('signup', 'purchase')
          GROUP BY user_id)
        WHERE first_signup IS NOT NULL AND first_purchase IS NOT NULL
          AND first_purchase >= first_signup
        ORDER BY user_id""")),

    // ----- link-authority (PageRank) over the page-transition graph ----------
    // Consecutive events per user (by event_id) define src -> dst transitions
    // between pages (`props.k`); PageRank over that graph is the classic
    // link-authority quality signal a web-corpus curation pipeline weights
    // documents by. Ranks are fixed-point integers (micro-units) with
    // truncating division applied BEFORE summation, so every intermediate is
    // an exact BIGINT on both engines and the DuckDB oracle (10 unrolled
    // iteration CTEs) matches bit-for-bit — the same cross-engine
    // determinism trick as the cents convention (QueryDef scaladoc).
    //
    // Scale: edges are grouped to |distinct (src,dst)| rows once; each
    // iteration is one join of the rank table (|V|) with edges (|E|) plus a
    // hash agg — the standard distributed PageRank round, linear per
    // iteration. On a cluster, edges would be pre-partitioned by src once
    // and every iteration reuses that partitioning (here: slotted + tiny
    // ranks auto-broadcast). localCheckpoint every 5 rounds truncates
    // lineage, same discipline as d08's label propagation (amortized —
    // measured cheaper than both per-round and end-only checkpointing).
    QueryDef(
      "q48_pagerank_authority",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"user_id", $"event_id",
            get_json_object($"props", "$.k").cast("long").as("k"))
          .filter($"k".isNotNull)
        val hop = ev.select($"k".as("src"),
          lead($"k", 1).over(Window.partitionBy($"user_id").orderBy($"event_id"))
            .as("dst"))
        val edges = hop.filter($"dst".isNotNull)
          .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
        // both the node set and every edge endpoint come from the same
        // ev.k domain, so the size-gated single-task fold is sound here
        pageRank(ev.select($"k").distinct(), edges, iters = 10,
            localFoldMaxEdges = DedupQueries.LocalFoldMaxEdges)
          .select($"k", $"r".as("rank_micro"))
          .orderBy($"k")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT user_id, event_id,
                 CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
          FROM events
          WHERE json_extract_string(props, '$$.k') IS NOT NULL),
        hop AS (
          SELECT k AS src,
                 lead(k) OVER (PARTITION BY user_id ORDER BY event_id) AS dst
          FROM ev),
        edges AS (
          SELECT src, dst, count(*) AS w FROM hop
          WHERE dst IS NOT NULL GROUP BY src, dst),
        outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
        ew AS (SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN outw o USING (src)),
        nodes AS (SELECT DISTINCT k FROM ev),
        pr0 AS (SELECT k, CAST(1000000 AS BIGINT) AS r FROM nodes),
        ${(1 to 10).map(prIterCte).mkString(",\n        ")}
        SELECT k, r AS rank_micro FROM pr10 ORDER BY k""")),

    // ----- triangle counting over the page-transition graph -----------------
    // Per-node triangle participation (the local-density signal behind
    // clustering coefficients / link-spam scores) via degree-ordered
    // orientation — see [[triangleCounts]] for the scale argument. The
    // oracle counts the same canonical triangle set with plain u<v
    // self-joins (orientation changes the execution, never the result).
    QueryDef(
      "q54_triangle_counts",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"user_id", $"event_id",
            get_json_object($"props", "$.k").cast("long").as("k"))
          .filter($"k".isNotNull)
        val hop = ev.select($"k".as("src"),
          lead($"k", 1).over(Window.partitionBy($"user_id").orderBy($"event_id"))
            .as("dst"))
        // persist the distinct edge set: triangleCounts references it four
        // times (degree union x2, orientation, closing join) and each
        // reference otherwise re-derives the events scan + lead window
        val und = OpCache.persistRotating("q54.und",
          hop.filter($"dst".isNotNull && $"src" =!= $"dst")
            .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
            .distinct())
        triangleCounts(und).orderBy($"node")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT user_id, event_id,
                 CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
          FROM events
          WHERE json_extract_string(props, '$$.k') IS NOT NULL),
        hop AS (
          SELECT k AS src,
                 lead(k) OVER (PARTITION BY user_id ORDER BY event_id) AS dst
          FROM ev),
        edges AS (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM hop WHERE dst IS NOT NULL AND src <> dst),
        tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM edges e1
          JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
          JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v),
        pernode AS (
          SELECT node, count(*) AS n_tri FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
          GROUP BY node),
        deg AS (
          SELECT node, count(*) AS degree FROM (
            SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
          GROUP BY node)
        SELECT d.node, d.degree, coalesce(p.n_tri, 0) AS n_tri
        FROM deg d LEFT JOIN pernode p USING (node)
        ORDER BY node""")),

    // ----- BFS shortest-path levels from a source page -----------------------
    // Hop distance from page 0 over the DIRECTED transition graph; -1 for
    // unreachable pages. The Spark side iterates frontier expansion to an
    // EMPTY frontier (no depth cap — correct at any diameter); the oracle's
    // recursive CTE needs a finite bound, set far past any possible
    // distance in the 100-page fixture domain (distance < node count).
    QueryDef(
      "q55_bfs_levels",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"user_id", $"event_id",
            get_json_object($"props", "$.k").cast("long").as("k"))
          .filter($"k".isNotNull)
        val hop = ev.select($"k".as("src"),
          lead($"k", 1).over(Window.partitionBy($"user_id").orderBy($"event_id"))
            .as("dst"))
        val edges = hop.filter($"dst".isNotNull && $"src" =!= $"dst").distinct()
        bfsLevels(ev.select($"k").distinct(), edges, source = 0L).orderBy($"node")
      },
      oracle = Some("""
        WITH RECURSIVE ev AS (
          SELECT user_id, event_id,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events
          WHERE json_extract_string(props, '$.k') IS NOT NULL),
        hop AS (
          SELECT k AS src,
                 lead(k) OVER (PARTITION BY user_id ORDER BY event_id) AS dst
          FROM ev),
        edges AS (
          SELECT DISTINCT src, dst FROM hop
          WHERE dst IS NOT NULL AND src <> dst),
        bfs(node, lvl) AS (
          SELECT CAST(0 AS BIGINT), 0
          UNION
          SELECT e.dst, bfs.lvl + 1
          FROM bfs JOIN edges e ON e.src = bfs.node
          WHERE bfs.lvl < 120),
        lv AS (SELECT node, min(lvl) AS lvl FROM bfs GROUP BY node),
        nodes AS (SELECT DISTINCT k FROM ev)
        SELECT n.k AS node, CAST(coalesce(lv.lvl, -1) AS BIGINT) AS lvl
        FROM nodes n LEFT JOIN lv ON lv.node = n.k
        ORDER BY node""")),

    // ----- snapshot diff / period-over-period entity churn (CDC shape) ------
    // Classify every (user, event_type) entity between two activity windows
    // as added / removed / changed / unchanged — the incremental-refresh
    // primitive of a corpus pipeline ("what entered, left, or changed since
    // the last build?").
    //
    // Scale: each snapshot is one filtered partial aggregation (map-side
    // combine, one shuffle on the entity key); the full outer join then
    // reuses that same hash partitioning, so no second shuffle of either
    // side and no broadcast. At 100 TB the period predicates prune at the
    // scan (ts is the natural partition column), so cost tracks the two
    // windows, not the full history.
    QueryDef(
      "q50_snapshot_diff",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        def snap(pred: org.apache.spark.sql.Column, as: String) =
          ev.filter(pred).groupBy($"user_id", $"event_type")
            .agg(count(lit(1)).as(as))
        val before = snap($"ts" < lit("2024-01-04").cast("timestamp"), "n")
        val after = snap($"ts" >= lit("2024-01-28").cast("timestamp"), "m")
        before.join(after, Seq("user_id", "event_type"), "full_outer")
          .select($"user_id", $"event_type",
            coalesce($"n", lit(0L)).as("n_before"),
            coalesce($"m", lit(0L)).as("n_after"),
            when($"n".isNull, "added")
              .when($"m".isNull, "removed")
              .when($"n" === $"m", "unchanged")
              .otherwise("changed").as("change_class"))
          .orderBy($"user_id", $"event_type")
      },
      oracle = Some("""
        WITH a AS (SELECT user_id, event_type, count(*) AS n FROM events
                   WHERE ts < TIMESTAMP '2024-01-04 00:00:00' GROUP BY 1, 2),
             b AS (SELECT user_id, event_type, count(*) AS m FROM events
                   WHERE ts >= TIMESTAMP '2024-01-28 00:00:00' GROUP BY 1, 2)
        SELECT coalesce(a.user_id, b.user_id) AS user_id,
               coalesce(a.event_type, b.event_type) AS event_type,
               coalesce(a.n, 0) AS n_before,
               coalesce(b.m, 0) AS n_after,
               CASE WHEN a.user_id IS NULL THEN 'added'
                    WHEN b.user_id IS NULL THEN 'removed'
                    WHEN a.n = b.m THEN 'unchanged'
                    ELSE 'changed' END AS change_class
        FROM a FULL OUTER JOIN b
          ON a.user_id = b.user_id AND a.event_type = b.event_type
        ORDER BY user_id, event_type""")),

    // ----- event-rate anomaly detection (trailing z-score) ------------------
    // The pipeline-observability alarm: per-hour event counts scored
    // against the trailing 24 hours' mean and variance. Stats follow the
    // q23 determinism recipe — exact integer sum and sum-of-squares over
    // the window, one identical double formula for the z-score on both
    // engines, floored to millis. The window runs over the HOURLY series
    // (O(hours) rows at any event volume), never raw events; the only
    // corpus-sized operation is the one hash agg to hourly grain.
    QueryDef(
      "q64_rate_anomaly",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window.orderBy($"h")
          .rowsBetween(-24, -1)
        Tables.events(s, d)
          .groupBy(date_trunc("hour", $"ts").as("h"))
          .agg(count(lit(1)).as("n"))
          .withColumn("k", count(lit(1)).over(w))
          .withColumn("sm", sum($"n").over(w))
          .withColumn("sq", sum($"n" * $"n").over(w))
          .filter($"k" >= 12) // need at least half a day of history
          .select($"h".cast("date").as("day"), hour($"h").cast("long").as("hh"), $"n",
            floor(($"n" * $"k" - $"sm") * lit(1000.0) /
              (sqrt(($"sq" * $"k" - $"sm" * $"sm")) + lit(1.0))).cast("long")
              .as("z_milli"))
          .withColumn("anomaly", ($"z_milli" >= 3000L || $"z_milli" <= -3000L).cast("long"))
          .orderBy($"day", $"hh")
      },
      oracle = Some("""
        WITH hourly AS (
          SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1),
        stats AS (
          SELECT h, n,
                 CAST(count(*) OVER tw AS BIGINT) AS k,
                 CAST(sum(n) OVER tw AS BIGINT) AS sm,
                 CAST(sum(n * n) OVER tw AS BIGINT) AS sq
          FROM hourly
          WINDOW tw AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        SELECT CAST(h AS DATE) AS day, CAST(hour(h) AS BIGINT) AS hh, n,
               CAST(floor((n * k - sm) * 1000.0 /
                 (sqrt(CAST(sq * k - sm * sm AS DOUBLE)) + 1.0)) AS BIGINT) AS z_milli,
               CAST(CASE WHEN floor((n * k - sm) * 1000.0 /
                      (sqrt(CAST(sq * k - sm * sm AS DOUBLE)) + 1.0)) >= 3000
                      OR floor((n * k - sm) * 1000.0 /
                      (sqrt(CAST(sq * k - sm * sm AS DOUBLE)) + 1.0)) <= -3000
                    THEN 1 ELSE 0 END AS BIGINT) AS anomaly
        FROM stats WHERE k >= 12
        ORDER BY day, hh""")),

    // ----- rolling 7-day distinct users (WAU) -------------------------------
    // Rolling DISTINCT is the aggregate windows can't do (distinct doesn't
    // decompose over a sliding frame); the scalable exact form credits each
    // (day, user) activity row to the 7 window-days it influences — a
    // constant x7 explode of the already-deduped day grain, linear at any
    // event volume — then one hash countDistinct per window day. Window
    // days outside the observed range are clipped by a semi-join against
    // the tiny day set.
    QueryDef(
      "q62_rolling_wau",
      (s, d) => {
        import s.implicits._
        val du = Tables.events(s, d)
          .select(date_trunc("day", $"ts").cast("date").as("day"), $"user_id")
          .distinct()
        val days = du.select($"day").distinct()
        du.select(explode(sequence($"day", date_add($"day", 6))).as("w"), $"user_id")
          .join(days.select($"day".as("w")), Seq("w"), "left_semi")
          .groupBy($"w")
          .agg(countDistinct($"user_id").as("wau7"))
          .select($"w".as("day"), $"wau7")
          .orderBy($"day")
      },
      oracle = Some("""
        WITH du AS (
          SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
          FROM events),
        days AS (SELECT DISTINCT day FROM du),
        ex AS (
          SELECT CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                   INTERVAL 1 DAY)) AS DATE) AS w, user_id
          FROM du)
        SELECT w AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau7
        FROM ex SEMI JOIN days ON ex.w = days.day
        GROUP BY w ORDER BY day""")),

    // ----- cohort retention (weekly) ----------------------------------------
    // The warehouse-standard cohort table: users grouped by first-seen week,
    // tracked by distinct activity in each later week. Raw events shuffle
    // exactly ONCE (hash by user_id into a collect_set of active weeks —
    // map-side partials dedup before the exchange, and per-user state is
    // bounded by the horizon's week count, not the user's event count);
    // first-seen is array_min of that set, so no second scan and no join.
    // Everything after the explode is O(users x active-weeks) -> the
    // O(cohorts x horizon) grid, where cohort size is just the week-0 cell
    // (every user is active in their own first week) read back via a window
    // over the tiny grid. Retention ratios use per-row double division
    // (IEEE-deterministic) floored to millis.
    QueryDef(
      "q59_cohort_retention",
      (s, d) => {
        import s.implicits._
        val w0 = org.apache.spark.sql.expressions.Window.partitionBy($"cw")
        Tables.events(s, d)
          .select($"user_id", date_trunc("week", $"ts").cast("date").as("w"))
          .groupBy($"user_id").agg(collect_set($"w").as("ws"))
          .select(array_min($"ws").as("cw"), explode($"ws").as("w"))
          .select($"cw", floor(datediff($"w", $"cw") / 7).cast("long").as("weeks_since"))
          .groupBy($"cw", $"weeks_since")
          .agg(count(lit(1)).as("n_active"))
          .withColumn("cohort_size",
            max(when($"weeks_since" === 0L, $"n_active")).over(w0))
          .select($"cw".as("cohort_week"), $"weeks_since", $"n_active", $"cohort_size",
            floor($"n_active" * lit(1000.0) / $"cohort_size").cast("long").as("retention_milli"))
          .orderBy($"cohort_week", $"weeks_since")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
          FROM events),
        fw AS (SELECT user_id, min(w) AS cw FROM ev GROUP BY user_id),
        cs AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size FROM fw GROUP BY cw),
        j AS (
          SELECT cw, CAST(date_diff('day', cw, w) // 7 AS BIGINT) AS weeks_since
          FROM ev JOIN fw USING (user_id))
        SELECT j.cw AS cohort_week, weeks_since,
               CAST(count(*) AS BIGINT) AS n_active,
               cohort_size,
               CAST(floor(count(*) * 1000.0 / cohort_size) AS BIGINT) AS retention_milli
        FROM j JOIN cs ON j.cw = cs.cw
        GROUP BY j.cw, weeks_since, cohort_size
        ORDER BY cohort_week, weeks_since""")),

    // ----- CDC log compaction (latest-wins + tombstones) --------------------
    // The events table read as a change-data-capture stream on entity =
    // user_id: 'error' is a delete tombstone, every other event upserts the
    // payload. Materializing current state from a 100 TB log is ONE hash
    // aggregation: max_by(payload, (ts, event_id)) is a declarative
    // aggregate with map-side partial merge, so each input partition sends
    // one candidate row per entity into a single shuffle — no global sort,
    // no per-entity window, no skew beyond what AQE already splits. The
    // same shape (minus count) runs incrementally under foreachBatch.
    QueryDef(
      "q65_cdc_compaction",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy($"user_id")
          .agg(
            count(lit(1)).as("n_changes"),
            max_by(
              struct($"event_type", $"value", $"ts"),
              struct($"ts", $"event_id")).as("last"))
          .select(
            $"user_id", $"n_changes",
            when($"last.event_type" === "error", lit("deleted"))
              .otherwise(lit("live")).as("status"),
            date_trunc("second", $"last.ts").as("last_ts"),
            when($"last.event_type" === "error", lit(0L))
              .otherwise(floor($"last.value" * 100).cast("long")).as("last_value_c"))
          .orderBy($"user_id")
      },
      oracle = Some("""
        WITH v AS (
          SELECT user_id, event_type, value, ts,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS n_changes
          FROM events)
        SELECT user_id, CAST(n_changes AS BIGINT) AS n_changes,
               CASE WHEN event_type = 'error' THEN 'deleted' ELSE 'live' END AS status,
               date_trunc('second', ts) AS last_ts,
               CAST(CASE WHEN event_type = 'error' THEN 0
                    ELSE floor(value * 100) END AS BIGINT) AS last_value_c
        FROM v WHERE rn = 1
        ORDER BY user_id""")),

    // ----- SCD Type-2 dimension history (gaps and islands) ------------------
    // Build slowly-changing-dimension intervals from the change log: per
    // user, consecutive events with the same attribute (props.k bucketed)
    // collapse into one [valid_from, valid_to) version row; the open
    // interval is the current version. Change points come from one lag()
    // pass, island ids from a running sum — both inside per-user windows,
    // so every window is bounded by one entity's history, never the
    // corpus. One shuffle on user_id serves the lag, the running sum, the
    // island agg, and the valid_to lead (same partitioning throughout).
    QueryDef(
      "q66_scd2_intervals",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val wv = Window.partitionBy($"user_id").orderBy($"version")
        Tables.events(s, d)
          .select($"user_id", $"ts", $"event_id",
            expr("cast(get_json_object(props, '$.k') as bigint) div 25").as("kb"))
          .withColumn("chg",
            when(lag($"kb", 1).over(w).isNull || lag($"kb", 1).over(w) =!= $"kb", 1L)
              .otherwise(0L))
          .withColumn("version", sum($"chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy($"user_id", $"version")
          .agg(min($"kb").as("kb"),
            min(date_trunc("second", $"ts")).as("valid_from"),
            count(lit(1)).as("n_events"))
          .select($"user_id", $"version", $"kb", $"valid_from",
            lead($"valid_from", 1).over(wv).as("valid_to"),
            lead($"valid_from", 1).over(wv).isNull.as("is_current"),
            $"n_events")
          .orderBy($"user_id", $"version")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, ts, event_id,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS kb
          FROM events),
        m AS (
          SELECT *, CASE WHEN lag(kb) OVER w IS NULL OR lag(kb) OVER w <> kb
                         THEN 1 ELSE 0 END AS chg
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        v AS (
          SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
          FROM m),
        i AS (
          SELECT user_id, version, min(kb) AS kb,
                 min(date_trunc('second', ts)) AS valid_from,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM v GROUP BY user_id, version)
        SELECT user_id, version, kb, valid_from,
               lead(valid_from) OVER wv AS valid_to,
               (lead(valid_from) OVER wv IS NULL) AS is_current,
               n_events
        FROM i WINDOW wv AS (PARTITION BY user_id ORDER BY version)
        ORDER BY user_id, version""")),

    // ----- multi-touch attribution (time-decay) -----------------------------
    // Marketing-style revenue attribution: each purchase distributes its
    // cents across the user's view/click touchpoints in the 7 preceding
    // days, weighted by 2^(7 - days_before) (halving per day of age).
    // Power-of-two weights + truncating division keep every credit an
    // exact integer on both engines — no remainder juggling, no floats.
    // Shape: conversions and touches both hash-shuffle ONCE on user_id
    // into an equi-join whose fan-out is bounded by per-user activity in
    // the window (never corpus x corpus); the per-conversion weight total
    // is a window over that conversion's own touches; the report is a
    // final O(channels x 8) agg. Skewed power users are AQE's standard
    // split case because the join key is the plain user_id.
    QueryDef(
      "q68_attribution",
      (s, d) => {
        import s.implicits._
        val e = Tables.events(s, d)
        val conv = e.filter($"event_type" === "purchase")
          .select($"user_id", $"event_id".as("conv_id"), $"ts".as("cts"),
            floor($"value" * 100).cast("long").as("total_c"))
        val touch = e.filter($"event_type".isin("view", "click"))
          .select($"user_id", $"event_type".as("touch_type"), $"ts".as("tts"))
        val wc = Window.partitionBy($"conv_id")
        conv.join(touch, Seq("user_id"))
          .filter($"tts" <= $"cts")
          .withColumn("days",
            expr("(unix_micros(cts) - unix_micros(tts)) div 86400000000"))
          .filter($"days" <= 7)
          .withColumn("w", expr("shiftleft(cast(1 as bigint), cast(7 - days as int))"))
          .withColumn("sum_w", sum($"w").over(wc))
          .withColumn("credit_c", expr("(total_c * w) div sum_w"))
          .groupBy($"touch_type", $"days")
          .agg(count(lit(1)).as("n_touches"), sum($"credit_c").as("credit_c"))
          .orderBy($"touch_type", $"days")
      },
      oracle = Some("""
        WITH conv AS (
          SELECT user_id, event_id AS conv_id, ts AS cts,
                 CAST(floor(value * 100) AS BIGINT) AS total_c
          FROM events WHERE event_type = 'purchase'),
        touch AS (
          SELECT user_id, event_type AS touch_type, ts AS tts
          FROM events WHERE event_type IN ('view', 'click')),
        j AS (
          SELECT conv_id, total_c, touch_type,
                 (epoch_us(cts) - epoch_us(tts)) // 86400000000 AS days
          FROM conv JOIN touch USING (user_id)
          WHERE tts <= cts
            AND (epoch_us(cts) - epoch_us(tts)) // 86400000000 <= 7),
        w AS (SELECT *, (CAST(1 AS BIGINT) << CAST(7 - days AS INT)) AS w FROM j),
        sw AS (SELECT *, CAST(sum(w) OVER (PARTITION BY conv_id) AS BIGINT) AS sum_w
               FROM w)
        SELECT touch_type, days, CAST(count(*) AS BIGINT) AS n_touches,
               CAST(sum((total_c * w) // sum_w) AS BIGINT) AS credit_c
        FROM sw GROUP BY touch_type, days
        ORDER BY touch_type, days""")),

    // ----- duration-weighted average (q70) ----------------------------------
    // The TWAP/state-duration primitive: each event's attribute (props.k)
    // HOLDS from its timestamp until the user's next event, so the honest
    // per-user average weighs each value by how long it was in force —
    // time-weighted, not event-weighted (a burst of short-lived states no
    // longer dominates). One lead() inside the per-user window prices the
    // holding duration in exact epoch micros; the aggregate is two integer
    // sums and one truncating division — associative, partition-order-free,
    // engine-exact. Same single user_id shuffle discipline as q66.
    QueryDef(
      "q70_time_weighted_avg",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"user_id", $"ts", $"event_id",
            expr("cast(get_json_object(props, '$.k') as bigint)").as("k"))
          .withColumn("dur_us",
            expr("unix_micros(lead(ts, 1) over (partition by user_id order by ts, event_id)) - unix_micros(ts)"))
          .filter($"dur_us".isNotNull)
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_intervals"),
            sum($"dur_us").as("held_us"),
            expr("(1000 * sum(k * dur_us)) div sum(dur_us)").as("twa_k_milli"))
          .orderBy($"user_id")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, ts, event_id,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                 epoch_us(lead(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us
          FROM events)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
               CAST(sum(dur_us) AS BIGINT) AS held_us,
               CAST((1000 * sum(k * dur_us)) // sum(dur_us) AS BIGINT) AS twa_k_milli
        FROM e WHERE dur_us IS NOT NULL
        GROUP BY user_id
        ORDER BY user_id""")),

    // ----- join-size estimation from count-min sketches (q71) ---------------
    // The planner's cardinality question answered WITHOUT running the join:
    // sketch each side's key multiset with a mergeable count-min Aggregator
    // (map-side partial sketches, raw keys never shuffle, O(1 KB) state),
    // then the row-wise sketch inner product upper-bounds the equi-join
    // size — deterministically >= exact (cells are exact sums, collisions
    // only add). The query also runs the real join once to verify. The
    // oracled columns are all DETERMINISTIC: the exact counts, the Markov
    // eps-bound exact + 4*nE*nO/Width (a pure function of those counts),
    // and est_ge_exact, which is a structural CMS guarantee, not a
    // probabilistic one. The probabilistic half (est <= bound, failure
    // class ~(1/4)^Depth) is asserted in SketchSpec on the fixed fixture
    // rather than baked into the oracle as a pinned TRUE. Collecting two
    // 1 KB sketches is a constant-size driver decision, independent of
    // table size.
    QueryDef(
      "q71_cms_join_estimate",
      (s, d) => {
        import s.implicits._
        import graft.functions.CountMin
        val cms = new CountMin().toColumn
        val ev = Tables.events(s, d).select($"user_id").as[Long]
        val or = Tables.orders(s, d).select($"o_custkey").as[Long]
        val skE = ev.select(cms).head()
        val skO = or.select(cms).head()
        val est = CountMin.innerProduct(skE, skO)
        val nE = skE.take(CountMin.Width).sum // row 0 holds every key once
        val nO = skO.take(CountMin.Width).sum
        val exact = Tables.events(s, d)
          .join(Tables.orders(s, d), $"user_id" === $"o_custkey").count()
        val bound = exact + 4L * nE * nO / CountMin.Width
        Seq((nE, nO, exact, bound, est >= exact))
          .toDF("n_events", "n_orders", "exact_join_rows",
            "eps_bound_rows", "est_ge_exact")
      },
      oracle = Some(s"""
        SELECT e.n_events, o.n_orders, j.exact_join_rows,
               CAST(j.exact_join_rows +
                 4 * e.n_events * o.n_orders // ${graft.functions.CountMin.Width}
                 AS BIGINT) AS eps_bound_rows,
               TRUE AS est_ge_exact
        FROM (SELECT CAST(count(*) AS BIGINT) AS n_events FROM events) e,
             (SELECT CAST(count(*) AS BIGINT) AS n_orders FROM orders) o,
             (SELECT CAST(count(*) AS BIGINT) AS exact_join_rows
              FROM events JOIN orders ON user_id = o_custkey) j""")),

    // ----- chi-square independence test (q75) -------------------------------
    // The A/B experimentation seat: users deterministically hash into two
    // arms (t06's RNG-free discipline — assignment is a pure function of
    // user_id, retry-stable on both engines), and the test asks whether
    // event-type mix is independent of arm. The contingency table is ONE
    // hash agg over the corpus; everything after is O(cells). Expected
    // counts and per-cell chi-square contributions are one identical double
    // formula from exact integer marginals; each contribution is floored
    // to integer micros BEFORE the total sums, so the statistic is an
    // integer sum — engine-order-free (the q23 discipline applied to a
    // test statistic).
    QueryDef(
      "q75_chi_square",
      (s, d) => {
        import s.implicits._
        val cells = Tables.events(s, d)
          .select(pmod(graft.functions.TextFns.polyHash(
            concat(lit("ab:"), $"user_id".cast("string"))), lit(2L)).as("arm"),
            $"event_type")
          .groupBy($"arm", $"event_type")
          .agg(count(lit(1)).as("o"))
        val wArm = Window.partitionBy($"arm")
        val wType = Window.partitionBy($"event_type")
        val wAll = Window.partitionBy(lit(1))
        cells
          .withColumn("rt", sum($"o").over(wArm))
          .withColumn("ct", sum($"o").over(wType))
          .withColumn("n", sum($"o").over(wAll))
          .withColumn("e_milli", expr(
            "cast(floor(1000 * cast(rt as double) * cast(ct as double) / cast(n as double)) as bigint)"))
          .withColumn("contrib_micro", expr(
            """cast(floor(1000000 *
               (cast(o as double) - cast(rt as double) * cast(ct as double) / cast(n as double)) *
               (cast(o as double) - cast(rt as double) * cast(ct as double) / cast(n as double)) /
               (cast(rt as double) * cast(ct as double) / cast(n as double))) as bigint)"""))
          .withColumn("chi2_micro", sum($"contrib_micro").over(wAll))
          .select($"arm", $"event_type", $"o", $"e_milli", $"contrib_micro", $"chi2_micro")
          .orderBy($"arm", $"event_type")
      },
      oracle = Some(s"""
        WITH cells AS (
          SELECT (${TextQueries.polyHashSqlOf("'ab:' || CAST(user_id AS VARCHAR)")}) % 2 AS arm,
                 event_type, count(*) AS o
          FROM events GROUP BY 1, 2),
        m AS (
          SELECT arm, event_type, o,
                 sum(o) OVER (PARTITION BY arm) AS rt,
                 sum(o) OVER (PARTITION BY event_type) AS ct,
                 sum(o) OVER () AS n
          FROM cells),
        c AS (
          SELECT arm, event_type, CAST(o AS BIGINT) AS o,
                 CAST(floor(1000 * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) /
                   CAST(n AS DOUBLE)) AS BIGINT) AS e_milli,
                 CAST(floor(1000000 *
                   (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) *
                   (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) /
                   (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)
                   AS contrib_micro
          FROM m)
        SELECT arm, event_type, o, e_milli, contrib_micro,
               CAST(sum(contrib_micro) OVER () AS BIGINT) AS chi2_micro
        FROM c
        ORDER BY arm, event_type""")),

    // ----- point-in-time join against SCD2 history (q78) --------------------
    // The feature-store correctness primitive: revenue attributed to the
    // attribute version that was ACTIVE when each purchase happened — a
    // temporal containment join of facts against the q66-built dimension
    // history, the thing that prevents label leakage in training-data
    // assembly (using today's attribute for yesterday's example). The
    // history intervals tile each user's timeline (valid_to = successor's
    // valid_from, open current version), so every purchase matches
    // EXACTLY one version row; the join is equi on user_id with an
    // interval post-filter — per-user fan-out bounded by that user's
    // version count, never a cross product. History build + join share
    // one user_id partitioning.
    QueryDef(
      "q78_pit_join",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        val hist = graft.streaming.StreamScd2.scd2Batch(ev)
          .select($"user_id", $"version", $"kb", $"valid_from", $"valid_to")
        val purch = ev.filter($"event_type" === "purchase")
          .select($"user_id", date_trunc("second", $"ts").as("pts"),
            floor($"value" * 100).cast("long").as("c"))
        purch.join(hist, Seq("user_id"))
          .filter($"pts" >= $"valid_from" &&
            ($"valid_to".isNull || $"pts" < $"valid_to"))
          .groupBy($"kb")
          .agg(count(lit(1)).as("n_purchases"),
            sum($"c").as("revenue_c"),
            countDistinct($"user_id").as("n_users"))
          .orderBy($"kb")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, ts, event_id,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS kb
          FROM events),
        m AS (
          SELECT *, CASE WHEN lag(kb) OVER w IS NULL OR lag(kb) OVER w <> kb
                         THEN 1 ELSE 0 END AS chg
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        v AS (
          SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
          FROM m),
        i AS (
          SELECT user_id, version, min(kb) AS kb,
                 min(date_trunc('second', ts)) AS valid_from
          FROM v GROUP BY user_id, version),
        hist AS (
          SELECT user_id, kb, valid_from,
                 lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to
          FROM i),
        p AS (
          SELECT user_id, date_trunc('second', ts) AS pts,
                 CAST(floor(value * 100) AS BIGINT) AS c
          FROM events WHERE event_type = 'purchase')
        SELECT kb, CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(c) AS BIGINT) AS revenue_c,
               CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users
        FROM p JOIN hist ON p.user_id = hist.user_id
         AND pts >= valid_from AND (valid_to IS NULL OR pts < valid_to)
        GROUP BY kb
        ORDER BY kb""")),

    // ----- bot / automation detection (q79) ---------------------------------
    // The behavioral data-quality gate a pipeline runs before training on
    // user events: humans are bursty, bots are fast OR metronomic. Per
    // user, inter-event gaps (one lead() in the per-user window, gaps in
    // whole seconds so squared sums stay far from overflow), then exact
    // integer moments give rate and the coefficient of variation via one
    // identical double formula (q23's recipe on gaps). Flags are explicit
    // integer thresholds — >30 events/hour sustained, or cv < 0.4 with
    // enough events (too regular for a human) — so the decision table is
    // engine-exact. One user_id shuffle serves the gaps and the moments.
    QueryDef(
      "q79_bot_detection",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"user_id", $"ts", $"event_id")
          .withColumn("gap_s", expr(
            "(unix_micros(lead(ts, 1) over (partition by user_id order by ts, event_id)) - unix_micros(ts)) div 1000000"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n"),
            sum(when($"gap_s".isNotNull, 1L).otherwise(0L)).as("ng"),
            sum($"gap_s").as("sg"), sum($"gap_s" * $"gap_s").as("sg2"),
            min($"gap_s").as("min_gap_s"))
          .filter($"ng" >= 2)
          .withColumn("rate_milli", expr("(n * 3600 * 1000) div sg"))
          .withColumn("cv_milli", expr(
            """cast(floor(1000 * sqrt(cast(ng * sg2 - sg * sg as double) /
               (cast(ng as double) * cast(ng - 1 as double))) /
               (cast(sg as double) / cast(ng as double))) as bigint)"""))
          .withColumn("is_bot",
            $"rate_milli" > 30000L || ($"cv_milli" < 400L && $"n" >= 20L))
          .select($"user_id", $"n", $"min_gap_s", $"rate_milli", $"cv_milli", $"is_bot")
          .orderBy($"user_id")
      },
      oracle = Some("""
        WITH g AS (
          SELECT user_id,
                 (epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                  - epoch_us(ts)) // 1000000 AS gap_s
          FROM events),
        m AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN gap_s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ng,
                 CAST(sum(gap_s) AS BIGINT) AS sg,
                 CAST(sum(gap_s * gap_s) AS BIGINT) AS sg2,
                 CAST(min(gap_s) AS BIGINT) AS min_gap_s
          FROM g GROUP BY user_id),
        r AS (
          SELECT *, (n * 3600 * 1000) // sg AS rate_milli,
                 CAST(floor(1000 * sqrt(CAST(ng * sg2 - sg * sg AS DOUBLE) /
                   (CAST(ng AS DOUBLE) * CAST(ng - 1 AS DOUBLE))) /
                   (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))) AS BIGINT) AS cv_milli
          FROM m WHERE ng >= 2)
        SELECT user_id, n, min_gap_s, rate_milli, cv_milli,
               (rate_milli > 30000 OR (cv_milli < 400 AND n >= 20)) AS is_bot
        FROM r
        ORDER BY user_id""")),

    // ----- event-sequence pattern matching (q89) ----------------------------
    // The MATCH_RECOGNIZE seat: each user's event history becomes an
    // ordered one-char-per-event string (types here have distinct
    // initials; production maps types to symbols explicitly), and behavior
    // patterns are regexes over it — subsequence funnels ('v.*c.*p'),
    // adjacency ('ee' = two errors back to back, something q35's
    // order-only funnel cannot say), anchors ('^v'). ONE shuffle to the
    // user key builds every sequence; all patterns evaluate as conditional
    // aggregates in the SAME pass (adding a pattern is free); the report
    // unpivots to O(patterns) rows. Regexes stay in the Java/RE2 common
    // dialect (t10's contract). Per-user strings are session-history
    // sized, never corpus sized.
    QueryDef(
      "q89_sequence_pattern",
      (s, d) => sequencePatterns(Tables.events(s, d), Seq(
        ("funnel_view_click_purchase", "v.*c.*p"),
        ("signup_then_purchase", "s.*p"),
        ("double_error", "ee"),
        ("starts_with_view", "^v"))),
      oracle = Some("""
        WITH sq AS (
          SELECT user_id,
                 string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS sq
          FROM events GROUP BY user_id),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(CASE WHEN regexp_matches(sq, 'v.*c.*p') THEN 1 ELSE 0 END) AS BIGINT) AS m0,
                 CAST(sum(CASE WHEN regexp_matches(sq, 's.*p') THEN 1 ELSE 0 END) AS BIGINT) AS m1,
                 CAST(sum(CASE WHEN regexp_matches(sq, 'ee') THEN 1 ELSE 0 END) AS BIGINT) AS m2,
                 CAST(sum(CASE WHEN regexp_matches(sq, '^v') THEN 1 ELSE 0 END) AS BIGINT) AS m3
          FROM sq),
        u AS (
          SELECT 'funnel_view_click_purchase' AS pattern, m0 AS n_match, n_users FROM m
          UNION ALL SELECT 'signup_then_purchase', m1, n_users FROM m
          UNION ALL SELECT 'double_error', m2, n_users FROM m
          UNION ALL SELECT 'starts_with_view', m3, n_users FROM m)
        SELECT pattern, n_match, (1000 * n_match) // n_users AS share_milli
        FROM u
        ORDER BY pattern""")),

    // ----- EWMA baseline + anomaly scoring (q90) ----------------------------
    // q64's trailing z-score needs a full window of history per point;
    // the EWMA baseline is the streaming-friendly alternative every
    // monitoring stack runs: e_t = (20*x_t + 80*e_{t-1}) div 100 — an
    // exact integer recurrence (q85's discipline), seeded with the first
    // observation. A point is anomalous when it deviates from the
    // baseline (the PREVIOUS ewma — the forecast, never the value being
    // tested) by > 50%. ONE corpus-sized hash agg to the O(hours) series;
    // the inherently sequential fold runs as a single-task kernel over
    // that series (constant-size at any event volume); the DuckDB oracle
    // replays the identical recurrence as a recursive CTE.
    QueryDef(
      "q90_ewma_anomaly",
      (s, d) => {
        import s.implicits._
        val hourly = Tables.events(s, d)
          .groupBy(date_trunc("hour", $"ts").as("h"))
          .agg(count(lit(1)).as("x"))
          .as[(java.sql.Timestamp, Long)]
        val folded = hourly.coalesce(1).sortWithinPartitions($"h")
          .mapPartitions { it =>
            var e = -1L
            it.map { case (h, x) =>
              val prev = e
              e = if (prev < 0) x else (20 * x + 80 * prev) / 100
              (h, x, if (prev < 0) x else prev, e)
            }
          }
          .toDF("h", "x", "baseline", "ewma")
        folded
          .withColumn("dev_milli", expr("(1000 * abs(x - baseline)) div greatest(baseline, 1)"))
          .withColumn("is_anomaly", $"dev_milli" > 500)
          .orderBy($"h")
      },
      oracle = Some("""
        WITH RECURSIVE hourly AS (
          SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY date_trunc('hour', ts)),
        se AS (
          SELECT CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS i, h, x
          FROM hourly),
        rec AS (
          SELECT i, h, x, x AS baseline, x AS ewma FROM se WHERE i = 1
          UNION ALL
          SELECT s.i, s.h, s.x, r.ewma, (20 * s.x + 80 * r.ewma) // 100
          FROM rec r JOIN se s ON s.i = r.i + 1)
        SELECT h, x, baseline, ewma,
               (1000 * abs(x - baseline)) // greatest(baseline, 1) AS dev_milli,
               ((1000 * abs(x - baseline)) // greatest(baseline, 1)) > 500 AS is_anomaly
        FROM rec ORDER BY h"""))
  ,

    // ----- CUSUM changepoint detection (q99) --------------------------------
    // q90's EWMA flags outlier POINTS; CUSUM detects sustained LEVEL
    // SHIFTS — small per-point drifts that accumulate: g <- max(0, g + x
    // - mean - slack), alarm while g exceeds 3x the reference mean. This
    // is the retrospective (Page-Hinkley) form: the reference mean is the
    // series' own exact integer mean, slack 5% of it — all integer, all
    // deterministic. Same scale shape as q90: ONE corpus agg to the
    // O(days) series, the sequential fold as a single-task kernel, the
    // oracle replaying the identical recurrence as a recursive CTEs over
    // the row-numbered series.
    QueryDef(
      "q99_cusum_changepoint",
      (s, d) => {
        import s.implicits._
        val daily = Tables.events(s, d)
          .groupBy(date_trunc("day", $"ts").as("dy"))
          .agg(count(lit(1)).as("x"))
        val ser = daily
          .withColumn("mean", expr("sum(x) over (partition by 1) div count(x) over (partition by 1)"))
          .select($"dy", $"x", $"mean", expr("mean div 20").as("slack"))
          .as[(java.sql.Timestamp, Long, Long, Long)]
        ser.coalesce(1).sortWithinPartitions($"dy")
          .mapPartitions { it =>
            var g = 0L
            it.map { case (dy, x, mean, slack) =>
              g = math.max(0L, g + x - mean - slack)
              (dy, x, g, g > 3 * mean)
            }
          }
          .toDF("dy", "x", "g", "alarm")
          .orderBy($"dy")
      },
      oracle = Some("""
        WITH RECURSIVE daily AS (
          SELECT date_trunc('day', ts) AS dy, CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY date_trunc('day', ts)),
        st AS (SELECT CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean FROM daily),
        se AS (
          SELECT CAST(row_number() OVER (ORDER BY dy) AS BIGINT) AS i, dy, x,
                 mean, mean // 20 AS slack
          FROM daily CROSS JOIN st),
        rec AS (
          SELECT i, dy, x, mean, slack,
                 greatest(CAST(0 AS BIGINT), x - mean - slack) AS g
          FROM se WHERE i = 1
          UNION ALL
          SELECT s2.i, s2.dy, s2.x, s2.mean, s2.slack,
                 greatest(CAST(0 AS BIGINT), r.g + s2.x - s2.mean - s2.slack)
          FROM rec r JOIN se s2 ON s2.i = r.i + 1)
        SELECT dy, x, g, g > 3 * mean AS alarm
        FROM rec ORDER BY dy""")),

    // ----- conversion latency percentiles (q100) ----------------------------
    // The product metric funnels (q35) stop short of: HOW LONG conversion
    // takes. Per user, the hours between the first view and the first
    // subsequent purchase; the latency distribution is then reduced on
    // its O(distinct hours) histogram with exact percentile_disc cum
    // windows (q45's definition) — raw conversions are never sorted.
    // One user-key shuffle builds the firsts; output is the one-row
    // latency profile.
    QueryDef(
      "q100_time_to_convert",
      (s, d) => {
        import s.implicits._
        val firsts = Tables.events(s, d)
          .filter($"event_type".isin("view", "purchase"))
          .groupBy($"user_id")
          .agg(min(when($"event_type" === "view", $"ts")).as("v"),
            min(when($"event_type" === "purchase" , $"ts")).as("p"))
          .filter($"v".isNotNull && $"p".isNotNull && $"p" > $"v")
          .select(expr("(unix_micros(p) - unix_micros(v)) div 3600000000").as("hrs"))
        val hist = firsts.groupBy($"hrs").agg(count(lit(1)).as("hn"))
        val wcum = Window.orderBy($"hrs")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wall = Window.partitionBy(lit(1))
        hist
          .withColumn("cum", sum($"hn").over(wcum))
          .withColumn("n", sum($"hn").over(wall))
          .agg(first($"n").as("n_converted"),
            min(when($"cum" * 2 >= $"n", $"hrs")).as("p50_hours"),
            min(when($"cum" * 10 >= $"n" * 9, $"hrs")).as("p90_hours"),
            max($"hrs").as("max_hours"))
      },
      oracle = Some("""
        WITH firsts AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN ts END) AS v,
                 min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
          FROM events
          WHERE event_type IN ('view', 'purchase')
          GROUP BY user_id),
        lat AS (
          SELECT (epoch_us(p) - epoch_us(v)) // 3600000000 AS hrs
          FROM firsts WHERE v IS NOT NULL AND p IS NOT NULL AND p > v),
        hist AS (SELECT hrs, CAST(count(*) AS BIGINT) AS hn FROM lat GROUP BY hrs),
        cd AS (
          SELECT hrs,
                 CAST(sum(hn) OVER (ORDER BY hrs ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 CAST(sum(hn) OVER () AS BIGINT) AS n
          FROM hist)
        SELECT CAST(max(n) AS BIGINT) AS n_converted,
               CAST(min(CASE WHEN cum * 2 >= n THEN hrs END) AS BIGINT) AS p50_hours,
               CAST(min(CASE WHEN cum * 10 >= n * 9 THEN hrs END) AS BIGINT) AS p90_hours,
               CAST(max(hrs) AS BIGINT) AS max_hours
        FROM cd"""))
  )

  /** Event-sequence pattern report (q89), exposed as a library call: each
    * user's (ts, event_id)-ordered event-type initials become one string;
    * every `(label, regex)` in `pats` is evaluated as a conditional
    * aggregate in one pass over the sequences, and the report is one row
    * per pattern with its match count and per-user share in millis.
    * Regexes must stay in the Java/RE2 common dialect (t10's contract).
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val ev = Seq((1L, ts("10:00"), 10L, "add"), (2L, ts("10:01"), 10L, "buy"),
    *   (3L, ts("10:00"), 11L, "view")).toDF("event_id", "ts", "user_id", "event_type")
    * sequencePatterns(ev, Seq("add_then_buy" -> "a.*b"))
    *   .as[(String, Long, Long)].head() == (("add_then_buy", 1L, 500L))
    * }}}
    */
  def sequencePatterns(events: org.apache.spark.sql.DataFrame,
      pats: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val seqs = events
      .select($"user_id",
        struct($"ts", $"event_id", substring($"event_type", 1, 1).as("c")).as("e"))
      .groupBy($"user_id")
      .agg(sort_array(collect_list($"e")).as("es"))
      .select(concat_ws("", expr("transform(es, x -> x.c)")).as("sq"))
    val aggs = seqs.agg(
      count(lit(1)).as("n_users"),
      pats.zipWithIndex.map { case ((_, p), i) =>
        sum(when($"sq".rlike(p), 1L).otherwise(0L)).as(s"m$i")
      }: _*)
    aggs.select(expr(
        "stack(" + pats.length + ", " +
          pats.zipWithIndex.map { case ((n, _), i) => s"'$n', m$i" }.mkString(", ") +
          ") as (pattern, n_match)"),
        $"n_users")
      .select($"pattern", $"n_match",
        expr("(1000 * n_match) div n_users").as("share_milli"))
      .orderBy($"pattern")
  }

  /** One unrolled PageRank iteration as a DuckDB CTE (oracle helper):
    * contributions use truncating integer division per edge before the sum,
    * mirroring [[pageRank]] exactly. */
  private def prIterCte(i: Int): String =
    s"""pr$i AS (
       |          SELECT n.k,
       |                 CAST(150000 + (85 * COALESCE(c.c, 0)) // 100 AS BIGINT) AS r
       |          FROM nodes n LEFT JOIN (
       |            SELECT ew.dst AS k, sum((p.r * ew.w) // ew.ow) AS c
       |            FROM pr${i - 1} p JOIN ew ON p.k = ew.src
       |            GROUP BY ew.dst) c USING (k))""".stripMargin

  /** Per-node triangle counts over an undirected simple graph given as
    * canonical edges (u < v, distinct, no self-loops): (node, degree, n_tri)
    * for every node, zero-triangle nodes included.
    *
    * Algorithm: degree-ordered orientation (the MapReduce triangle-counting
    * scheme of Suri & Vassilvitskii, WWW'11). Each edge is directed from its
    * (degree, id)-smaller endpoint to the larger, so every out-degree is
    * O(sqrt(m)) no matter how skewed the degree distribution — a celebrity
    * node with 10^8 neighbors contributes wedges only through the few
    * higher-ordered ones, not C(10^8, 2) pairs. Wedges (two out-edges of one
    * node, ordered) are closed by one equi-join back on the oriented edge
    * set; each triangle materializes exactly once, at its orientation-least
    * node. Everything is equi-joins + hash aggregation: shuffles on node
    * ids, no driver state, AQE-rebalanceable at 100 TB.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // one triangle 1-2-3 plus a pendant edge 3-4
    * val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    * triangleCounts(edges).orderBy($"node").as[(Long, Long, Long)].collect().toSeq ==
    *   Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 3L, 1L), (4L, 1L, 0L))
    * }}}
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // deg is referenced three times (both orientation joins + the final
    // degree report); its slot keeps the degree aggregation single-run
    val deg = OpCache.persistRotating("triangleCounts.deg",
      edges.select($"u".as("n")).unionAll(edges.select($"v".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("deg")))
    // total orientation order: (degree, id); ord struct compares lexically
    val withOrd = edges
      .join(deg.select($"n".as("u"), struct($"deg", $"n").as("uo")), "u")
      .join(deg.select($"n".as("v"), struct($"deg", $"n").as("vo")), "v")
    // read three times: both wedge sides and the closing join
    val oriented = OpCache.persistRotating("triangleCounts.oriented", withOrd.select(
      when($"uo" < $"vo", $"u").otherwise($"v").as("src"),
      when($"uo" < $"vo", $"v").otherwise($"u").as("dst"),
      when($"uo" < $"vo", $"vo").otherwise($"uo").as("dord")))
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"),
        $"o1.src" === $"o2.src" && $"o1.dord" < $"o2.dord")
      .select($"o1.src".as("a"), $"o1.dst".as("b"), $"o2.dst".as("c"))
    // the closing edge is oriented b -> c (b precedes c in the total order)
    val tri = wedges.join(oriented.select($"src".as("b"), $"dst".as("c")),
      Seq("b", "c"))
    val perNode = tri.select($"a".as("node"))
      .unionAll(tri.select($"b".as("node")))
      .unionAll(tri.select($"c".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("n_tri"))
    val out = deg.select($"n".as("node"), $"deg".as("degree"))
      .join(perNode, Seq("node"), "left")
      .select($"node", $"degree", coalesce($"n_tri", lit(0L)).as("n_tri"))
    out
  }

  /** Hop distance of every node from `source` over directed `edges`
    * (src, dst): (node, lvl), lvl = -1 when unreachable. Classic frontier
    * BFS as iterated joins: each round joins the CURRENT frontier (not the
    * whole visited set) against the edge table, anti-joins out already
    * visited nodes, and stops when the frontier empties — the number of
    * Spark jobs is the graph's eccentricity from the source, and each
    * round's shuffle is proportional to the frontier's out-edges, not the
    * graph. Each round's frontier size is the demand-driven convergence
    * check, a side-metric of the round's checkpoint job (same discipline as
    * d08); localCheckpoint truncates the accumulating union lineage. The
    * counts are named Observations: `graft.gate.bfsLevels` (the edge count
    * the gate decided on) and one `graft.rounds.bfsLevels` row per depth
    * (its frontier size, 0 last). Below the
    * [[graft.operators.DedupQueries.LocalFoldMaxEdges]] gate the whole
    * traversal instead folds in ONE executor task (levels are a pure
    * function of (edges, source), so the two paths agree by construction;
    * LocalFoldSpec asserts it) — pass a negative gate to force the
    * distributed rounds.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val nodes = Seq(1L, 2L, 3L, 9L).toDF("k")
    * val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    * bfsLevels(nodes, edges, source = 1L).orderBy($"node")
    *   .as[(Long, Long)].collect().toSeq ==
    *   Seq((1L, 0L), (2L, 1L), (3L, 2L), (9L, -1L))  // -1 = unreachable
    * }}}
    */
  def bfsLevels(nodes: DataFrame, edges: DataFrame, source: Long,
      localFoldMaxEdges: Long = DedupQueries.LocalFoldMaxEdges): DataFrame = {
    val s = nodes.sparkSession
    import s.implicits._
    val src = nodes.filter($"k" === source)
      .select($"k".as("node"), lit(0L).as("lvl"))
    var levels = src.localCheckpoint()
    var frontier = levels
    var depth = 0L
    var more = frontier.limit(1).count() > 0
    // Size-gated single-task fold (the DedupQueries.LocalFoldMaxEdges
    // contract): levels are a pure function of (edges, source), so when the
    // edge set fits one task, the whole BFS runs as one in-memory pass —
    // no per-depth frontier jobs. The seed probe above already decided
    // source membership; the tail join below is shared by both paths.
    // Edge count rides the checkpoint as an Observation (no extra action).
    // Above the gate the checkpointed edge frame still pays off: the
    // distributed loop joins the frontier against it EVERY depth, so one
    // materialization replaces a per-depth recompute of the edge derivation.
    var loopEdges = edges
    if (more && localFoldMaxEdges >= 0L) {
      val (e, nEdges) = OpCache.checkpointObserved(edges.select($"src", $"dst"),
        "graft.gate.bfsLevels", count(lit(1)))
      if (nEdges == 0L) {
        // An empty edge frame materializes as 0 partitions, so the
        // coalesce(1) fold closure below would never run and a PRESENT
        // source would come back -1 (the round-9 advisory). With no edges
        // the answer is closed-form: the source (already proven present by
        // the seed probe) is at level 0, everything else unreachable.
        return nodes.select($"k".as("node"),
          when($"k" === source, lit(0L)).otherwise(lit(-1L)).as("lvl"))
      }
      if (nEdges <= localFoldMaxEdges) {
        val lv = e.as[(Long, Long)].coalesce(1).mapPartitions { it =>
          val adj = scala.collection.mutable.LongMap.empty[scala.collection.mutable.ArrayBuffer[Long]]
          it.foreach { case (a, b) =>
            adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty[Long]) += b
          }
          val lvl = scala.collection.mutable.LongMap.empty[Long]
          lvl.update(source, 0L)
          var q = List(source)
          var d = 0L
          while (q.nonEmpty) {
            d += 1
            val nextQ = scala.collection.mutable.ArrayBuffer.empty[Long]
            q.foreach { u =>
              adj.get(u).foreach(_.foreach { v =>
                if (!lvl.contains(v)) { lvl.update(v, d); nextQ += v }
              })
            }
            q = nextQ.toList
          }
          lvl.iterator
        }.toDF("node", "lvl")
        return nodes.select($"k".as("node"))
          .join(lv, Seq("node"), "left")
          .select($"node", coalesce($"lvl", lit(-1L)).as("lvl"))
      }
      loopEdges = e
    }
    while (more) {
      depth += 1
      // frontier-emptiness rides the checkpoint job as an Observation
      // side-metric (the clusterLabels discipline): one job per round for
      // the frontier, none for the emptiness probe
      val (next, reached) = OpCache.checkpointObserved(
        frontier.join(loopEdges, frontier("node") === loopEdges("src"))
          .select($"dst".as("node")).distinct()
          .join(levels, Seq("node"), "left_anti")
          .select($"node", lit(depth).as("lvl")),
        "graft.rounds.bfsLevels", count(lit(1)))
      if (reached == 0L) more = false
      else {
        levels = levels.unionByName(next).localCheckpoint()
        frontier = next
      }
    }
    nodes.select($"k".as("node"))
      .join(levels, Seq("node"), "left")
      .select($"node", coalesce($"lvl", lit(-1L)).as("lvl"))
  }

  /** Fixed-point PageRank (damping 0.85, teleport 0.15) over a weighted edge
    * list. `nodes` must carry one `k` column (the vertex id); `edges` carries
    * (`src`, `dst`, `w`). Ranks are micro-units (BIGINT, start 1_000_000);
    * per-edge contributions are `(r * w) div out_w` — truncating division
    * before the exact integer sum, so the result is independent of
    * parallelism and reproducible on any engine. Dangling-node mass is
    * dropped (sink-loss variant), deterministic on both sides.
    *
    * Each iteration is ONE join + ONE hash agg, linear in |E|: nodes enter
    * the aggregate as zero-contribution rows unioned under the edge
    * contributions (union is free — no shuffle, no join), so every vertex
    * — including those with no inbound edges — gets its teleport term from
    * the same sum, and the per-round teleport left-join is gone. The plan
    * is linear in the previous round (no self-join doubling), so lineage
    * only needs periodic truncation: an eager localCheckpoint every 5
    * rounds (and on the last) bounds analyzer depth while keeping the job
    * count at iters/5, not iters — in-between rounds fuse into the next
    * checkpoint's job (the d08 discipline, amortized).
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val nodes = Seq(1L, 2L).toDF("k")
    * val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    * pageRank(nodes, edges, iters = 1).orderBy($"k")
    *   .as[(Long, Long)].collect().toSeq == Seq((1L, 150000L), (2L, 1000000L))
    * }}}
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
      localFoldMaxEdges: Long = -1L): DataFrame = {
    val s = nodes.sparkSession
    import s.implicits._
    // Size-gated single-task fold, OPT-IN ONLY (default off, unlike
    // clusterLabels/bfsLevels): the fold seeds every edge endpoint at the
    // initial rank, which equals the distributed iteration only when every
    // endpoint is in `nodes` — callers that construct both from the same
    // key domain (q48: nodes = distinct k, edges ⊆ k×k) pass the gate
    // explicitly; general callers keep the distributed loop. Edge count
    // rides the checkpoint as the named Observation `graft.gate.pageRank`
    // (no extra count action), and
    // the fold replays the exact integer recurrence ((r*w) div ow per edge,
    // then 150000 + (85*c) div 100) so results are bit-identical
    // (LocalFoldSpec asserts it against the distributed loop).
    if (localFoldMaxEdges >= 0L && iters > 0) {
      val (e, nEdges) = OpCache.checkpointObserved(edges.select($"src", $"dst", $"w"),
        "graft.gate.pageRank", count(lit(1)))
      if (nEdges <= localFoldMaxEdges) {
        val ranks = e.as[(Long, Long, Long)].coalesce(1).mapPartitions { it =>
          val es = it.toArray
          val ow = scala.collection.mutable.LongMap.empty[Long]
          es.foreach { case (src, _, w) => ow.update(src, ow.getOrElse(src, 0L) + w) }
          val r = scala.collection.mutable.LongMap.empty[Long]
          es.foreach { case (src, dst, _) =>
            r.update(src, 1000000L); r.update(dst, 1000000L)
          }
          val ks = r.keys.toArray
          var i = 0
          while (i < iters) {
            val c = scala.collection.mutable.LongMap.empty[Long]
            es.foreach { case (src, dst, w) =>
              // ow(src) == 0 must SKIP the contribution, not throw: the
              // distributed loop's SQL `div` yields null on zero weight
              // sums and its sum() skips nulls (the round-9 advisory)
              val o = ow(src)
              if (o != 0L) c.update(dst, c.getOrElse(dst, 0L) + (r(src) * w) / o)
            }
            ks.foreach(k => r.update(k, 150000L + 85L * c.getOrElse(k, 0L) / 100L))
            i += 1
          }
          ks.iterator.map(k => (k, r(k)))
        }.toDF("k", "r")
        // nodes outside the edge set receive zero contributions every
        // round: their rank is the bare teleport term after iteration 1
        // and stays there — the same closed form the distributed loop's
        // zero-row union produces
        return nodes.select($"k").join(ranks, Seq("k"), "left")
          .select($"k", coalesce($"r", lit(150000L)).as("r"))
      }
      return pageRankLoop(nodes, e, iters)
    }
    pageRankLoop(nodes, edges, iters)
  }

  /** The distributed fixed-point loop of [[pageRank]]. */
  private def pageRankLoop(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val s = nodes.sparkSession
    import s.implicits._
    val outw = edges.groupBy($"src").agg(sum($"w").as("ow"))
    // The join with outw shuffles both sides on src, so the slotted ew is
    // already hash-partitioned on the per-iteration join key — don't add an
    // explicit repartition here (measured: it only inserts a redundant
    // pre-cache shuffle; the loop below never re-shuffles ew as-is).
    val ew = OpCache.persistRotating("pageRank.weightedEdges", edges.join(outw, "src"))
    val zeros = OpCache.persistRotating("pageRank.zeros", nodes.select($"k", lit(0L).as("c")))
    var r = zeros.select($"k", lit(1000000L).as("r"))
    for (i <- 1 to iters) {
      // ow == 0 (a source whose weights sum to zero) contributes NOTHING:
      // the explicit guard pins that semantics on both ANSI (where a bare
      // div would throw DIVIDE_BY_ZERO) and non-ANSI (null, skipped by
      // sum) sessions, and matches the single-task fold's skip — the
      // round-9 advisory's divergence, closed from both sides. No real
      // caller can hit it (q48's weights are positive counts).
      r = r.join(ew, r("k") === ew("src"))
        .select($"dst".as("k"),
          expr("case when ow = 0 then null else (r * w) div ow end").as("c"))
        .unionAll(zeros)
        .groupBy($"k").agg(sum($"c").as("c"))
        .select($"k", (lit(150000L) + expr("(85 * c) div 100")).as("r"))
      if (i % 5 == 0 || i == iters) r = r.localCheckpoint()
    }
    OpCache.release(s, "pageRank.weightedEdges", "pageRank.zeros") // r is a checkpoint
    r
  }
}
