package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import RelationalQueries.cents

/** Second tranche of CONTRACT-layer coverage (SURVEY.md §2.2): multiset set
  * ops, analytic window functions, ordered collect, map functions over JSON
  * props, a custom typed Aggregator, and the reference's load-test pipeline
  * at its original 36.3M-element volume. */
object ExtraRelationalQueries {

  /** Typed custom aggregation (SURVEY §2.2 "Aggregator[IN,BUF,OUT]"): the
    * cents-range (max-min) of an integer-cents column — buffer is a pair of
    * exact longs, so the result is engine-order-independent. */
  object CentsRange extends Aggregator[Long, (Long, Long), Long] {
    def zero: (Long, Long) = (Long.MaxValue, Long.MinValue)
    def reduce(b: (Long, Long), a: Long): (Long, Long) =
      (math.min(b._1, a), math.max(b._2, a))
    def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
      (math.min(x._1, y._1), math.max(x._2, y._2))
    def finish(r: (Long, Long)): Long = if (r._2 < r._1) 0L else r._2 - r._1
    def bufferEncoder: Encoder[(Long, Long)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** One SQL text executed verbatim by BOTH engines (q46): correlated
    * EXISTS — TPC-H Q4's shape on this schema. Catalyst must DECORRELATE
    * the per-row subquery into one left-semi join on the order key (gated
    * in PlanQualitySpec); an engine that executed the subquery per row
    * would rescan lineitem |orders| times. */
  private val SqlExistsQ4 = """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority"""

  /** One SQL text executed verbatim by BOTH engines (q47): correlated
    * SCALAR subquery with an aggregate — TPC-H Q17's shape. Decorrelates
    * to one grouped aggregate on l_partkey joined back to the fact scan.
    * Deterministic across engines because per-part quantity sums are
    * exact integers in double (values <= 50, far below 2^53), so the avg
    * and the 0.5*avg threshold are bit-identical however the sum is
    * parallelized. */
  private val SqlScalarQ17 = """
        SELECT l_returnflag, count(*) AS n_small,
               CAST(sum(floor(l_extendedprice * 100)) AS BIGINT) AS small_rev_c
        FROM lineitem l1
        WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
                            FROM lineitem l2
                            WHERE l2.l_partkey = l1.l_partkey)
        GROUP BY l_returnflag
        ORDER BY l_returnflag"""

  /** One SQL text executed verbatim by BOTH engines (q38). */
  private val SqlApiQ3 = """
        SELECT l_orderkey,
               CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100)) AS BIGINT) AS revenue_c,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue_c DESC, o_orderdate, l_orderkey
        LIMIT 10"""


  /** One FK-orphan check: rows of `child` whose `key` resolves to no
    * `parent` row — a single left-anti join, violations only (q63).
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val child  = Seq(1L, 2L, 9L).toDF("fk")
    * val parent = Seq(1L, 2L).toDF("pk")
    * orphanReport("child->parent", child, "fk", parent, "pk")
    *   .as[(String, Long)].head() == (("child->parent", 1L))
    * }}}
    */
  def orphanReport(rel: String, child: org.apache.spark.sql.DataFrame, key: String,
      parent: org.apache.spark.sql.DataFrame, pkey: String): org.apache.spark.sql.DataFrame =
    child.select(col(key).as("k"))
      .join(parent.select(col(pkey).as("k")), Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
      .select(lit(rel).as("relationship"), col("n_orphans"))

  /** Shared oracle for q60 and q102 (identical exact report, two plan
    * shapes). MUST be above `val all` — object init is sequential. */
  private val ProfileDriftOracleSql = """
        WITH li AS (
          SELECT (l_shipdate < DATE '1995-06-01') AS ina,
                 CAST(floor(l_quantity * 100) AS BIGINT) AS qty_c,
                 CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c,
                 CAST(floor(l_discount * 1000) AS BIGINT) AS disc_m,
                 l_returnflag
          FROM lineitem),
        stats AS (
          SELECT
            count(CASE WHEN ina THEN 1 END) AS n_a,
            count(CASE WHEN NOT ina THEN 1 END) AS n_b,
            count(DISTINCT CASE WHEN ina THEN qty_c END) AS qty_d_a,
            count(DISTINCT CASE WHEN NOT ina THEN qty_c END) AS qty_d_b,
            CAST(sum(CASE WHEN ina THEN qty_c ELSE 0 END) AS BIGINT) AS qty_s_a,
            CAST(sum(CASE WHEN NOT ina THEN qty_c ELSE 0 END) AS BIGINT) AS qty_s_b,
            count(DISTINCT CASE WHEN ina THEN price_c END) AS price_d_a,
            count(DISTINCT CASE WHEN NOT ina THEN price_c END) AS price_d_b,
            CAST(sum(CASE WHEN ina THEN price_c ELSE 0 END) AS BIGINT) AS price_s_a,
            CAST(sum(CASE WHEN NOT ina THEN price_c ELSE 0 END) AS BIGINT) AS price_s_b,
            count(DISTINCT CASE WHEN ina THEN disc_m END) AS disc_d_a,
            count(DISTINCT CASE WHEN NOT ina THEN disc_m END) AS disc_d_b,
            CAST(sum(CASE WHEN ina THEN disc_m ELSE 0 END) AS BIGINT) AS disc_s_a,
            CAST(sum(CASE WHEN NOT ina THEN disc_m ELSE 0 END) AS BIGINT) AS disc_s_b,
            count(DISTINCT CASE WHEN ina THEN l_returnflag END) AS flag_d_a,
            count(DISTINCT CASE WHEN NOT ina THEN l_returnflag END) AS flag_d_b
          FROM li),
        rep(col, n_a, n_b, distinct_a, distinct_b, s_a, s_b, numeric) AS (
          SELECT 'qty_c', n_a, n_b, qty_d_a, qty_d_b, qty_s_a, qty_s_b, TRUE FROM stats
          UNION ALL
          SELECT 'price_c', n_a, n_b, price_d_a, price_d_b, price_s_a, price_s_b, TRUE FROM stats
          UNION ALL
          SELECT 'disc_m', n_a, n_b, disc_d_a, disc_d_b, disc_s_a, disc_s_b, TRUE FROM stats
          UNION ALL
          SELECT 'l_returnflag', n_a, n_b, flag_d_a, flag_d_b, 0, 0, FALSE FROM stats)
        SELECT col AS "column",
               CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               CAST(distinct_a AS BIGINT) AS distinct_a,
               CAST(distinct_b AS BIGINT) AS distinct_b,
               CAST(s_a // greatest(n_a, 1) AS BIGINT) AS avg_a,
               CAST(s_b // greatest(n_b, 1) AS BIGINT) AS avg_b,
               CAST(CASE WHEN numeric THEN floor(
                 abs(s_b // greatest(n_b, 1) - s_a // greatest(n_a, 1)) * 1000.0 /
                 greatest(abs(s_a // greatest(n_a, 1)), 1)) ELSE 0 END AS BIGINT) AS drift_milli
        FROM rep
        ORDER BY "column""""

  val all: Seq[QueryDef] = Seq(

    // ----- multiset set ops: EXCEPT ALL / INTERSECT ALL ---------------------
    QueryDef(
      "q25_multiset_ops",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d).select(($"l_quantity").cast("long").as("q"))
        val hi = Tables.lineitem(s, d).filter($"l_discount" >= 0.05)
          .select(($"l_quantity").cast("long").as("q"))
        val exceptAll = li.exceptAll(hi).groupBy($"q").agg(count(lit(1)).as("n"))
          .withColumn("op", lit("except_all"))
        val intersectAll = li.intersectAll(hi).groupBy($"q").agg(count(lit(1)).as("n"))
          .withColumn("op", lit("intersect_all"))
        exceptAll.unionByName(intersectAll).orderBy($"op", $"q")
      },
      oracle = Some("""
        SELECT q, n, op FROM (
          SELECT q, count(*) AS n, 'except_all' AS op FROM (
            SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem
            EXCEPT ALL
            SELECT CAST(l_quantity AS BIGINT) FROM lineitem WHERE l_discount >= 0.05)
          GROUP BY q
          UNION ALL
          SELECT q, count(*) AS n, 'intersect_all' AS op FROM (
            SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem
            INTERSECT ALL
            SELECT CAST(l_quantity AS BIGINT) FROM lineitem WHERE l_discount >= 0.05)
          GROUP BY q)
        ORDER BY op, q""")),

    // ----- analytic window functions: ntile / percent_rank / cume_dist ------
    QueryDef(
      "q26_window_analytics",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_orderpriority")
          .orderBy($"o_totalprice", $"o_orderkey")
        Tables.orders(s, d)
          .select($"o_orderpriority", $"o_orderkey",
            ntile(4).over(w).cast("long").as("quartile"),
            floor(percent_rank().over(w) * 10000).cast("long").as("pct_rank_bp"),
            floor(cume_dist().over(w) * 10000).cast("long").as("cume_bp"))
          .orderBy($"o_orderpriority", $"o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderpriority, o_orderkey,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               CAST(floor(percent_rank() OVER w * 10000) AS BIGINT) AS pct_rank_bp,
               CAST(floor(cume_dist() OVER w * 10000) AS BIGINT) AS cume_bp
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderpriority, o_orderkey""")),

    // ----- ordered collect_list / collect_set -------------------------------
    QueryDef(
      "q27_collect_sorted",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .groupBy($"o_custkey")
          .agg(
            concat_ws(",", sort_array(collect_set($"o_orderstatus"))).as("statuses"),
            count(lit(1)).as("n"))
          .orderBy($"o_custkey")
      },
      oracle = Some("""
        SELECT o_custkey,
               array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
               count(*) AS n
        FROM orders
        GROUP BY o_custkey
        ORDER BY o_custkey""")),

    // ----- map functions over parsed JSON props ------------------------------
    // Semantic (not fixture-shaped) oracle: both sides derive the key set,
    // entry count, and lookups from the JSON structure itself (DuckDB
    // json_keys), and the map is widened with map_concat so the query
    // exercises multi-key maps even though fixture props carry one key.
    QueryDef(
      "q28_map_functions",
      (s, d) => {
        import s.implicits._
        val m = from_json($"props",
          org.apache.spark.sql.types.DataType.fromDDL("map<string,string>"))
        Tables.events(s, d)
          .select($"event_id", $"event_type",
            map_concat(m, map(lit("et"), $"event_type")).as("m"))
          .select($"event_id",
            concat_ws(",", array_sort(map_keys($"m"))).as("keys"),
            element_at($"m", "k").cast("long").as("k_value"),
            element_at($"m", "et").as("et_value"),
            size($"m").cast("long").as("n_entries"))
          .orderBy($"event_id")
      },
      oracle = Some("""
        SELECT event_id,
               array_to_string(list_sort(list_append(json_keys(props), 'et')), ',') AS keys,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
               event_type AS et_value,
               CAST(len(json_keys(props)) + 1 AS BIGINT) AS n_entries
        FROM events
        ORDER BY event_id""")),

    // ----- explicit GROUPING SETS (the general form behind rollup/cube) -----
    // Disjoint single-dimension sets — the shape ROLLUP/CUBE can't express;
    // grouping() flags disambiguate natural NULLs from subtotal NULLs.
    QueryDef(
      "q36_grouping_sets",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .groupingSets(
            Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority")),
            $"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(floor($"o_totalprice" * 100)).cast("long").as("total_c"),
            grouping($"o_orderstatus").cast("long").as("g_s"),
            grouping($"o_orderpriority").cast("long").as("g_p"))
          .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
            coalesce($"o_orderpriority", lit("ALL")).as("priority"),
            $"n", $"total_c", $"g_s", $"g_p")
          .orderBy($"status", $"priority")
      },
      oracle = Some("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n,
               CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS total_c,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_s,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_p
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY status, priority""")),

    // ----- array functions: build, transform, filter, zip_with, aggregate, --
    // explode + re-aggregate roundtrip (SURVEY §2.2 scalar array fns)
    QueryDef(
      "q37_array_functions",
      (s, d) => {
        import s.implicits._
        // the array table feeds both the report and the explode-roundtrip
        // side of its self-join — one slot instead of two
        // collect_list shuffles of the whole fact table
        val base = OpCache.persistRotating("q37.base",
          Tables.lineitem(s, d)
            .groupBy($"l_orderkey")
            .agg(sort_array(collect_list(floor($"l_quantity" * 100).cast("long"))).as("qs")))
        // explode + re-aggregate: prove the roundtrip sums back to the array fold
        val resum = base.select($"l_orderkey", explode($"qs").as("x"))
          .groupBy($"l_orderkey").agg(sum($"x").as("explode_resum_c"))
        base.join(resum, Seq("l_orderkey"))
          .select($"l_orderkey".as("okey"),
            size($"qs").cast("long").as("n_items"),
            aggregate($"qs", lit(0L), (a, x) => a + x).as("qty_sum_c"),
            array_max($"qs").as("qty_max_c"),
            size(filter($"qs", _ > 2500L)).cast("long").as("n_big"),
            aggregate(zip_with($"qs", reverse($"qs"), (a, b) => a + b),
              lit(0L), (a, x) => a + x).as("palindrome_sum_c"),
            $"explode_resum_c")
          .orderBy($"okey")
      },
      oracle = Some("""
        WITH arr AS (
          SELECT l_orderkey,
                 list_sort(list(CAST(floor(l_quantity * 100) AS BIGINT))) AS qs
          FROM lineitem GROUP BY l_orderkey),
        resum AS (
          SELECT l_orderkey, CAST(sum(x) AS BIGINT) AS explode_resum_c
          FROM (SELECT l_orderkey, unnest(qs) AS x FROM arr)
          GROUP BY l_orderkey)
        SELECT arr.l_orderkey AS okey,
               CAST(len(qs) AS BIGINT) AS n_items,
               CAST(list_sum(qs) AS BIGINT) AS qty_sum_c,
               CAST(list_max(qs) AS BIGINT) AS qty_max_c,
               CAST(len(list_filter(qs, x -> x > 2500)) AS BIGINT) AS n_big,
               CAST(list_sum(list_transform(generate_series(1, len(qs)),
                 i -> qs[i] + qs[len(qs) - i + 1])) AS BIGINT) AS palindrome_sum_c,
               explode_resum_c
        FROM arr JOIN resum ON arr.l_orderkey = resum.l_orderkey
        ORDER BY okey""")),

    // ----- SQL API end-to-end: one SQL text, both engines -------------------
    // The TPC-H Q3 shape (shipping priority) run through spark.sql over
    // temp views — the SAME SQL string is the oracle, so this row also
    // proves the engine's ANSI-SQL surface agrees with DuckDB verbatim.
    QueryDef(
      "q38_sql_api",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(SqlApiQ3)
      },
      oracle = Some(SqlApiQ3)),

    // ----- custom typed Aggregator ------------------------------------------
    QueryDef(
      "q29_typed_aggregator_range",
      (s, d) => {
        import s.implicits._
        val rangeUdaf = udaf(CentsRange)
        Tables.orders(s, d)
          .select($"o_orderpriority", floor($"o_totalprice" * 100).cast("long").as("c"))
          .groupBy($"o_orderpriority")
          .agg(rangeUdaf($"c").as("range_c"), count(lit(1)).as("n"))
          .orderBy($"o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority,
               max(CAST(floor(o_totalprice * 100) AS BIGINT))
                 - min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS range_c,
               count(*) AS n
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ----- reference tests/load.rs at original volume ------------------------
    // filter(even) ∘ map(factorial) ∘ map(+1) over 10! * 10 = 36,288,000
    // elements (reference tests/load.rs:24-41) — the crate's only
    // throughput artifact, reproduced as a codegen'd Spark pipeline via the
    // DSL expression path.
    QueryDef(
      "r07_dsl_load_pipeline",
      (s, d) => {
        import s.implicits._
        import graft.dsl.{Compiler, SP}
        val n = 3628800L * 10L
        def factLong(x: Long): Long = (1L to x).product max 1L
        val factCase: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
          v => (0L to 9L).foldLeft(lit(-1L))((acc, k) =>
            when(v === k, lit(factLong(k))).otherwise(acc))
        val sp = SP.compose(
          SP.compose(
            SP.filterExpr[Long](_ % 2 == 0, v => v % 2 === 0),
            SP.mapExpr[Long, Long](factLong, factCase)),
          SP.mapExpr[Long, Long](_ + 1, v => v + 1))
        val df = s.range(n).select(($"id" % 10).as("value"))
        Compiler.compileExpr(sp, df, "value")
          .getOrElse(sys.error("expression pipeline expected"))
          .agg(sum($"value").as("sum_out"), count(lit(1)).as("n_out"))
      },
      oracle = Some("""
        SELECT CAST(sum(value) AS BIGINT) AS sum_out, count(*) AS n_out FROM (
          SELECT CASE CAST(range % 10 AS BIGINT)
                   WHEN 0 THEN 1 WHEN 2 THEN 2 WHEN 4 THEN 24
                   WHEN 6 THEN 720 WHEN 8 THEN 40320 END + 1 AS value
          FROM range(36288000)
          WHERE range % 2 = 0)""")),

    // ----- pivot (crosstab): rows -> columns ---------------------------------
    // Explicit pivot values keep the output schema static (the distributed
    // contract: no extra pass to discover values, and the plan is a plain
    // hash agg with one conditional-sum column per value — exactly the
    // conditional-aggregation SQL the oracle spells out).
    QueryDef(
      "q39_pivot",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .groupBy($"o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(sum(floor($"o_totalprice" * 100)).cast("long"))
          .orderBy($"o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN floor(o_totalprice * 100) END) AS BIGINT) AS F,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN floor(o_totalprice * 100) END) AS BIGINT) AS O,
               CAST(sum(CASE WHEN o_orderstatus = 'P' THEN floor(o_totalprice * 100) END) AS BIGINT) AS P
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ----- unpivot (melt): columns -> rows -----------------------------------
    QueryDef(
      "q40_unpivot",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(sum(floor($"l_quantity" * 100)).cast("long").as("qty_c"),
            sum(floor($"l_extendedprice" * 100)).cast("long").as("price_c"),
            sum(floor($"l_discount" * 100)).cast("long").as("disc_c"))
          .unpivot(Array($"l_returnflag"),
            Array($"qty_c", $"price_c", $"disc_c"), "metric", "value")
          .orderBy($"l_returnflag", $"metric")
      },
      oracle = Some("""
        WITH w AS (
          SELECT l_returnflag,
                 CAST(sum(floor(l_quantity * 100)) AS BIGINT) AS qty_c,
                 CAST(sum(floor(l_extendedprice * 100)) AS BIGINT) AS price_c,
                 CAST(sum(floor(l_discount * 100)) AS BIGINT) AS disc_c
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, metric, value FROM (
          SELECT l_returnflag, 'qty_c' AS metric, qty_c AS value FROM w
          UNION ALL SELECT l_returnflag, 'price_c', price_c FROM w
          UNION ALL SELECT l_returnflag, 'disc_c', disc_c FROM w)
        ORDER BY l_returnflag, metric""")),

    // ----- correlation / covariance from exact integer sums ------------------
    // Native corr()/covar_samp() are parallel double sums — order-dependent,
    // so never bit-stable across engines or partitionings. Same cure as q23
    // variance: aggregate the five moment sums as exact BIGINTs (associative,
    // partitioning-independent), then combine per group with ONE double
    // formula written identically on both engines. Sums that would overflow
    // 2^63 when multiplied (n*spp at scale) are cast to double first — each
    // sum is exact below 2^53, and scalar IEEE arithmetic in a fixed order is
    // deterministic. Quantity enters as whole units and price as whole
    // dollars to keep every BIGINT product inside 2^63 at bench scale.
    QueryDef(
      "q41_corr_covar_from_int_sums",
      (s, d) => {
        import s.implicits._
        val qi = floor($"l_quantity").cast("long")
        val pi = floor($"l_extendedprice").cast("long")
        Tables.lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(qi).as("sq"), sum(pi).as("sp"),
            sum(qi * qi).as("sqq"), sum(pi * pi).as("spp"),
            sum(qi * pi).as("sqp"))
          .select($"l_returnflag", $"n",
            floor(($"n" * $"sqp" - $"sq" * $"sp") * lit(1000.0) /
              ($"n" * ($"n" - lit(1)))).cast("long").as("covar_samp_milli"),
            floor(($"n" * $"sqp" - $"sq" * $"sp") * lit(1000000.0) /
              sqrt(($"n".cast("double") * $"sqq" - $"sq".cast("double") * $"sq") *
                   ($"n".cast("double") * $"spp" - $"sp".cast("double") * $"sp")))
              .cast("long").as("corr_micro"))
          .orderBy($"l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, n,
               CAST(floor((n*sqp - sq*sp) * 1000.0 / (n * (n - 1))) AS BIGINT) AS covar_samp_milli,
               CAST(floor((n*sqp - sq*sp) * 1000000.0 /
                 sqrt((CAST(n AS DOUBLE)*sqq - CAST(sq AS DOUBLE)*sq) *
                      (CAST(n AS DOUBLE)*spp - CAST(sp AS DOUBLE)*sp))) AS BIGINT) AS corr_micro
        FROM (
          SELECT l_returnflag, count(*) AS n,
                 CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sq,
                 CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sp,
                 CAST(sum(CAST(floor(l_quantity) AS BIGINT) * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sqq,
                 CAST(sum(CAST(floor(l_extendedprice) AS BIGINT) * CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS spp,
                 CAST(sum(CAST(floor(l_quantity) AS BIGINT) * CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sqp
          FROM lineitem GROUP BY l_returnflag)
        ORDER BY l_returnflag""")),

    // ----- RANGE-frame window: trailing 90-day revenue per customer ----------
    // Value-based frames (RANGE BETWEEN n PRECEDING) vs the row-based frames
    // q10/q26 cover: the frame is defined by the ORDER-BY value distance, so
    // same-day peer rows always aggregate together regardless of their
    // physical order — which is also what makes the result deterministic.
    // One shuffle on the partition key; integer-cents sums stay exact.
    QueryDef(
      "q42_range_frame_trailing_window",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"day").rangeBetween(-90, 0)
        Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey",
            datediff($"o_orderdate", lit("1992-01-01").cast("date")).cast("long").as("day"),
            floor($"o_totalprice" * 100).cast("long").as("price_c"))
          .withColumn("trailing_90d_c", sum($"price_c").over(w))
          .orderBy($"o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey, o_custkey, day, price_c,
               CAST(sum(price_c) OVER (PARTITION BY o_custkey ORDER BY day
                 RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_90d_c
        FROM (
          SELECT o_orderkey, o_custkey,
                 CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                 CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c
          FROM orders)
        ORDER BY o_orderkey""")),

    // ----- re-aggregatable sketch state: two-level HLL merge -----------------
    // The 100 TB pattern q24 doesn't show: sketch ONCE at the fine level
    // (nation), then roll up by MERGING sketch state (hll_union_agg) instead
    // of re-scanning customers — exactly how a segment/partition-level sketch
    // catalog serves arbitrary rollups. Oracle form as q24: exact counts both
    // engines compute + a within-tolerance boolean from Spark's own sketches
    // (lgConfigK=14 => rsd about 0.8%, so +-5% is a many-sigma bound).
    QueryDef(
      "q43_sketch_partial_merge",
      (s, d) => {
        import s.implicits._
        val c = Tables.customer(s, d)
          .join(Tables.nation(s, d), $"c_nationkey" === $"n_nationkey")
          .join(Tables.region(s, d), $"n_regionkey" === $"r_regionkey")
        c.groupBy($"r_name", $"n_name")
          .agg(count(lit(1)).as("exact_n"),
            hll_sketch_agg($"c_custkey", lit(14)).as("sk"))
          .groupBy($"r_name")
          .agg(sum($"exact_n").as("exact_customers"),
            hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
          .select($"r_name", $"exact_customers",
            ($"est" >= $"exact_customers" * 0.95 &&
             $"est" <= $"exact_customers" * 1.05).as("merged_within_5pct"))
          .orderBy($"r_name")
      },
      oracle = Some("""
        SELECT r_name, count(*) AS exact_customers, TRUE AS merged_within_5pct
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    // ----- time-series gap fill + forward fill -------------------------------
    // The resample shape every metrics/feature pipeline needs: a dense date
    // spine (priority x month-offset, generated — never scanned), left-join
    // the sparse observed aggregate onto it, zero-fill the additive column
    // and FORWARD-fill the state-like one with last(ignoreNulls) over a
    // key-partitioned ordered window. Spine generation is explode(sequence)
    // on a tiny dimension — at 100 TB the spine is still keys x months,
    // never data-sized; the fill is one shuffle on the spine key. Month
    // keys stay integer offsets ((year-1992)*12 + month-1) so both engines
    // compute the join key with integer arithmetic only.
    QueryDef(
      "q44_gapfill_forward_fill",
      (s, d) => {
        import s.implicits._
        val o = Tables.orders(s, d)
        val base = o.filter($"o_totalprice" >= 350000)
          .groupBy($"o_orderpriority".as("pri"),
            ((year($"o_orderdate") - 1995) * 12 + month($"o_orderdate") - 1)
              .cast("long").as("m"))
          .agg(count(lit(1)).as("n_orders"),
            sum(floor($"o_totalprice" * 100)).cast("long").as("cents"))
        val spine = o.select($"o_orderpriority".as("pri")).distinct()
          .select($"pri", explode(sequence(lit(0L), lit(79L))).as("m"))
        val w = Window.partitionBy($"pri").orderBy($"m")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(base, Seq("pri", "m"), "left")
          .select($"pri", $"m",
            coalesce($"n_orders", lit(0L)).as("n_orders"),
            coalesce(last($"cents", ignoreNulls = true).over(w), lit(0L))
              .as("filled_cents"))
          .orderBy($"pri", $"m")
      },
      oracle = Some("""
        WITH base AS (
          SELECT o_orderpriority AS pri,
                 (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS m,
                 count(*) AS n_orders,
                 CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS cents
          FROM orders WHERE o_totalprice >= 350000 GROUP BY 1, 2),
        spine AS (
          SELECT pri, g.m FROM (SELECT DISTINCT o_orderpriority AS pri FROM orders)
          CROSS JOIN (SELECT unnest(generate_series(0, 79)) AS m) g),
        j AS (
          SELECT s.pri, s.m, coalesce(b.n_orders, 0) AS n_orders, b.cents
          FROM spine s LEFT JOIN base b ON s.pri = b.pri AND s.m = b.m)
        SELECT pri, m, CAST(n_orders AS BIGINT) AS n_orders,
               CAST(coalesce(last_value(cents IGNORE NULLS) OVER (
                 PARTITION BY pri ORDER BY m
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS filled_cents
        FROM j ORDER BY pri, m""")),

    // ----- time-series linear interpolation ---------------------------------
    // q44's sibling: gaps filled by the LINE between the surrounding known
    // points instead of the last value — the resample/interpolate primitive
    // for sensor-style series. All integer: interp = pv + (nv - pv) *
    // (m - pm) div (nm - pm) (truncating), leading/trailing gaps clamp to
    // the nearest known value. Same scale shape as q44: spine is keys x
    // months (never data-sized), two windows over the key partition (one
    // forward, one backward), no self-join.
    QueryDef(
      "q61_gapfill_interpolate",
      (s, d) => {
        import s.implicits._
        val o = Tables.orders(s, d)
        val base = o.filter($"o_totalprice" >= 350000)
          .groupBy($"o_orderpriority".as("pri"),
            ((year($"o_orderdate") - 1995) * 12 + month($"o_orderdate") - 1)
              .cast("long").as("m"))
          .agg(sum(floor($"o_totalprice" * 100)).cast("long").as("cents"))
        val spine = o.select($"o_orderpriority".as("pri")).distinct()
          .select($"pri", explode(sequence(lit(0L), lit(79L))).as("m"))
        val wf = Window.partitionBy($"pri").orderBy($"m")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wb = Window.partitionBy($"pri").orderBy($"m".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val known = when($"cents".isNotNull, $"m")
        spine.join(base, Seq("pri", "m"), "left")
          .select($"pri", $"m", $"cents",
            last($"cents", ignoreNulls = true).over(wf).as("pv"),
            last(known, ignoreNulls = true).over(wf).as("pm"),
            last($"cents", ignoreNulls = true).over(wb).as("nv"),
            last(known, ignoreNulls = true).over(wb).as("nm"))
          .select($"pri", $"m",
            coalesce($"cents",
              when($"pv".isNotNull && $"nv".isNotNull,
                $"pv" + expr("(nv - pv) * (m - pm) div (nm - pm)")),
              $"pv", $"nv", lit(0L)).as("interp_cents"),
            $"cents".isNotNull.cast("long").as("is_observed"))
          .orderBy($"pri", $"m")
      },
      oracle = Some("""
        WITH base AS (
          SELECT o_orderpriority AS pri,
                 (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS m,
                 CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS cents
          FROM orders WHERE o_totalprice >= 350000 GROUP BY 1, 2),
        spine AS (
          SELECT pri, g.m FROM (SELECT DISTINCT o_orderpriority AS pri FROM orders)
          CROSS JOIN (SELECT unnest(generate_series(0, 79)) AS m) g),
        j AS (
          SELECT s.pri, s.m, b.cents FROM spine s
          LEFT JOIN base b ON s.pri = b.pri AND s.m = b.m),
        v AS (
          SELECT pri, m, cents,
                 last_value(cents IGNORE NULLS) OVER (PARTITION BY pri ORDER BY m
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                 last_value(CASE WHEN cents IS NOT NULL THEN m END IGNORE NULLS)
                   OVER (PARTITION BY pri ORDER BY m
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pm,
                 last_value(cents IGNORE NULLS) OVER (PARTITION BY pri ORDER BY m DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv,
                 last_value(CASE WHEN cents IS NOT NULL THEN m END IGNORE NULLS)
                   OVER (PARTITION BY pri ORDER BY m DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nm
          FROM j)
        SELECT pri, m,
               CAST(coalesce(cents,
                 CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
                      THEN pv + (nv - pv) * (m - pm) // (nm - pm) END,
                 pv, nv, 0) AS BIGINT) AS interp_cents,
               CAST(CASE WHEN cents IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_observed
        FROM v ORDER BY pri, m""")),

    // ----- mode + exact discrete percentiles ---------------------------------
    // Order statistics that return ACTUAL data values (mode; percentile_disc
    // p25/p50/p75), with every tie broken by an explicit total order so both
    // engines agree bit for bit: mode = argmax (count desc, value asc) via
    // row_number; percentile_disc = min value whose cumulative fraction
    // cum/n >= p (the ANSI cume_dist definition spelled out, identical SQL
    // on both sides rather than trusting two engines' built-in tie rules).
    // Scale shape = q22's, upgraded for a near-continuous domain: NEVER
    // window over raw rows (one task would sort a whole group), and don't
    // window over a cents-level histogram either (the price domain is
    // ~10M distinct cents — domain-bounded but a 3-partition sort tail).
    // Two-level range-partition selection instead: a coarse histogram of
    // 65536-cent buckets (parallel hash agg; <=~200 entries per group at
    // ANY data size) locates the bucket holding each target rank, then a
    // fine cents histogram restricted to those buckets (hash agg again;
    // window input <= 65536 entries by construction) resolves the exact
    // value. Every shuffle is a hash agg; both windows are constant-size.
    QueryDef(
      "q45_mode_percentile_disc",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val resolved = percentileDiscTwoLevel(
          li, $"l_linestatus", floor($"l_extendedprice" * 100).cast("long"),
          Seq(0.25, 0.5, 0.75))
        val pct = resolved.groupBy($"st").agg(
          min(when($"p" === 0.25, $"c")).as("p25_c"),
          min(when($"p" === 0.5, $"c")).as("p50_c"),
          min(when($"p" === 0.75, $"c")).as("p75_c"))
        val qc = li.groupBy($"l_linestatus".as("st"),
            floor($"l_quantity").cast("long").as("q"))
          .agg(count(lit(1)).as("n"))
        val md = qc.withColumn("rk",
            row_number().over(Window.partitionBy($"st").orderBy($"n".desc, $"q")))
          .filter($"rk" === 1).select($"st", $"q".as("mode_qty"))
        pct.join(md, Seq("st"))
          .select($"st".as("l_linestatus"), $"mode_qty", $"p25_c", $"p50_c", $"p75_c")
          .orderBy($"l_linestatus")
      },
      oracle = Some("""
        WITH hist AS (SELECT l_linestatus AS st, CAST(floor(l_extendedprice * 100) AS BIGINT) AS c,
                             count(*) AS hn
                      FROM lineitem GROUP BY 1, 2),
        cd AS (SELECT st, c,
                      CAST(sum(hn) OVER (PARTITION BY st ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                      / CAST(sum(hn) OVER (PARTITION BY st) AS BIGINT) AS d
               FROM hist),
        pct AS (SELECT st, min(CASE WHEN d >= 0.25 THEN c END) AS p25_c,
                       min(CASE WHEN d >= 0.5 THEN c END) AS p50_c,
                       min(CASE WHEN d >= 0.75 THEN c END) AS p75_c
                FROM cd GROUP BY st),
        qc AS (SELECT l_linestatus AS st, CAST(floor(l_quantity) AS BIGINT) AS q, count(*) AS n
               FROM lineitem GROUP BY 1, 2),
        md AS (SELECT st, q AS mode_qty FROM (
                 SELECT st, q, row_number() OVER (PARTITION BY st ORDER BY n DESC, q) AS rk FROM qc)
               WHERE rk = 1)
        SELECT st AS l_linestatus, mode_qty, p25_c, p50_c, p75_c
        FROM pct JOIN md USING (st) ORDER BY l_linestatus""")),

    // ----- winsorized robust statistics (q73) -------------------------------
    // Outlier-robust aggregates: per return flag, the revenue mean with
    // values clamped into [P10, P90] — the winsorized mean a metrics
    // pipeline reports when a few extreme rows would otherwise move the
    // average. The percentile cut points come from the SAME two-level
    // range-partition selection as q45 (shared helper — constant-size
    // windows at any data scale); clamping is then one broadcast join of
    // the O(groups) cut table onto the fact scan and a plain integer hash
    // agg. Means are truncating-division cents, exact on both engines.
    QueryDef(
      "q73_winsorized_stats",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val cents = floor($"l_extendedprice" * 100).cast("long")
        val cuts = percentileDiscTwoLevel(li, $"l_returnflag", cents, Seq(0.10, 0.90))
          .groupBy($"st")
          .agg(min(when($"p" === 0.10, $"c")).as("p10_c"),
            min(when($"p" === 0.90, $"c")).as("p90_c"))
        li.select($"l_returnflag".as("st"), cents.as("c"))
          .join(broadcast(cuts), Seq("st"))
          .withColumn("w", least(greatest($"c", $"p10_c"), $"p90_c"))
          .groupBy($"st")
          .agg(count(lit(1)).as("n"),
            first($"p10_c").as("p10_c"), first($"p90_c").as("p90_c"),
            expr("sum(c) div count(1)").as("raw_mean_c"),
            expr("sum(w) div count(1)").as("wins_mean_c"),
            sum(when($"c" < $"p10_c", 1L).otherwise(0L)).as("n_clipped_lo"),
            sum(when($"c" > $"p90_c", 1L).otherwise(0L)).as("n_clipped_hi"))
          .select($"st".as("l_returnflag"), $"n", $"p10_c", $"p90_c",
            $"raw_mean_c", $"wins_mean_c", $"n_clipped_lo", $"n_clipped_hi")
          .orderBy($"l_returnflag")
      },
      oracle = Some("""
        WITH hist AS (
          SELECT l_returnflag AS st, CAST(floor(l_extendedprice * 100) AS BIGINT) AS c,
                 count(*) AS hn
          FROM lineitem GROUP BY 1, 2),
        cd AS (SELECT st, c,
                      CAST(sum(hn) OVER (PARTITION BY st ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                      / CAST(sum(hn) OVER (PARTITION BY st) AS BIGINT) AS d
               FROM hist),
        cuts AS (SELECT st, min(CASE WHEN d >= 0.10 THEN c END) AS p10_c,
                        min(CASE WHEN d >= 0.90 THEN c END) AS p90_c
                 FROM cd GROUP BY st),
        v AS (SELECT st, c, p10_c, p90_c,
                     least(greatest(c, p10_c), p90_c) AS w
              FROM (SELECT l_returnflag AS st,
                           CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
                    FROM lineitem) JOIN cuts USING (st))
        SELECT st AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
               p10_c, p90_c,
               CAST(sum(c) // count(*) AS BIGINT) AS raw_mean_c,
               CAST(sum(w) // count(*) AS BIGINT) AS wins_mean_c,
               CAST(sum(CASE WHEN c < p10_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
               CAST(sum(CASE WHEN c > p90_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi
        FROM v GROUP BY st, p10_c, p90_c
        ORDER BY l_returnflag""")),

    // ----- ANSI percentile_cont (q74) ---------------------------------------
    // Interpolated continuous percentiles — the other half of the ANSI
    // percentile pair (q45 covers percentile_disc). pos = (n-1)*p brackets
    // two order statistics; the result is v1 + (v2-v1)*frac. Spark's
    // built-in percentile_cont buffers per-group values (collect-like at
    // scale) and its interpolation isn't bit-contracted against other
    // engines, so this uses the q45 two-level RANK selection instead:
    // coarse 65536-cent histogram locates the buckets holding ranks
    // floor(pos)+1 and +2, a fine histogram inside only those buckets
    // resolves both exact cents values, and ONE identical double formula
    // on both engines interpolates (per-row IEEE arithmetic, floored to
    // millis). Every window is histogram-sized; raw rows are never sorted.
    QueryDef(
      "q74_percentile_cont",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val cents = floor($"l_extendedprice" * 100).cast("long")
        val vals = li.select($"l_linestatus".as("st"), cents.as("c"),
          (cents / 65536L).cast("long").as("b"))
        val coarse = vals.groupBy($"st", $"b").agg(count(lit(1)).as("hn"))
        val wb = Window.partitionBy($"st").orderBy($"b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cb = coarse
          .withColumn("cum", sum($"hn").over(wb))
          .withColumn("n", sum($"hn").over(Window.partitionBy($"st")))
        val ranks = cb.select($"st", $"n").distinct()
          .select($"st", $"n", explode(array(lit(0.5), lit(0.95))).as("p"))
          .withColumn("k", expr("cast(floor((n - 1) * p) as bigint)"))
          .select($"st", $"n", $"p", explode(array(
            struct(lit(1).as("which"), ($"k" + 1).as("r")),
            struct(lit(2).as("which"), least($"k" + 2, $"n").as("r")))).as("t"))
          .select($"st", $"n", $"p", $"t.which".as("which"), $"t.r".as("r"))
        val picks = cb.join(ranks.select($"st", $"p", $"which", $"r"), Seq("st"))
          .filter($"cum" >= $"r" && $"cum" - $"hn" < $"r")
          .select($"st", $"p", $"which", $"r", $"b", ($"cum" - $"hn").as("before"))
        val wf = Window.partitionBy($"st", $"p", $"which").orderBy($"c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val resolved = vals
          .join(broadcast(picks), Seq("st", "b"))
          .groupBy($"st", $"p", $"which", $"r", $"before", $"c")
          .agg(count(lit(1)).as("fn"))
          .withColumn("cum", $"before" + sum($"fn").over(wf))
          .filter($"cum" >= $"r" && $"cum" - $"fn" < $"r")
        resolved.groupBy($"st", $"p")
          .agg(min(when($"which" === 1, $"c")).as("v1"),
            min(when($"which" === 2, $"c")).as("v2"))
          .join(ranks.select($"st", $"n").distinct(), Seq("st"))
          .withColumn("pcont_milli", expr(
            "cast(floor(1000 * (v1 + (v2 - v1) * ((n - 1) * p - floor((n - 1) * p)))) as bigint)"))
          .select($"st".as("l_linestatus"), $"p", $"v1", $"v2", $"pcont_milli")
          .orderBy($"l_linestatus", $"p")
      },
      oracle = Some("""
        WITH v AS (
          SELECT l_linestatus AS st, CAST(floor(l_extendedprice * 100) AS BIGINT) AS c,
                 row_number() OVER (PARTITION BY l_linestatus
                   ORDER BY floor(l_extendedprice * 100)) AS rn,
                 count(*) OVER (PARTITION BY l_linestatus) AS n
          FROM lineitem),
        ps(p) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.95 AS DOUBLE))),
        t AS (
          SELECT st, n, p,
                 CAST(floor((n - 1) * p) AS BIGINT) + 1 AS r1,
                 least(CAST(floor((n - 1) * p) AS BIGINT) + 2, n) AS r2
          FROM (SELECT DISTINCT st, n FROM v) CROSS JOIN ps),
        picked AS (
          SELECT t.st, t.p, t.n,
                 min(CASE WHEN rn = r1 THEN c END) AS v1,
                 min(CASE WHEN rn = r2 THEN c END) AS v2
          FROM t JOIN v ON v.st = t.st AND (rn = r1 OR rn = r2)
          GROUP BY t.st, t.p, t.n)
        SELECT st AS l_linestatus, p, v1, v2,
               CAST(floor(1000 * (v1 + (v2 - v1) * ((n - 1) * p - floor((n - 1) * p))))
                 AS BIGINT) AS pcont_milli
        FROM picked
        ORDER BY l_linestatus, p""")),

    // ----- distributed OLS regression via sufficient statistics (q76) -------
    // Trend fitting at 100 TB the way statistics libraries can't: ordinary
    // least squares needs only five sufficient statistics (n, Σx, Σy, Σxy,
    // Σx²[, Σy² for R²]) — ALL exact integer sums from one map-side-
    // combinable hash agg per group; slope/intercept/R² are then one
    // identical double formula over those exact moments (q41/q23's recipe
    // extended from correlation to the fitted line). Per market segment:
    // order value in whole dollars (keeps Σy² far from overflow at any
    // SF) against days since 1995-01-01. The customer dimension arrives
    // by broadcast; nothing but the one fact agg ever shuffles.
    QueryDef(
      "q76_ols_trend",
      (s, d) => {
        import s.implicits._
        val xy = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")),
            $"o_custkey" === $"c_custkey")
          .select($"c_mktsegment".as("seg"),
            datediff($"o_orderdate".cast("date"), lit("1995-01-01").cast("date"))
              .cast("long").as("x"),
            floor($"o_totalprice").cast("long").as("y"))
        olsFit(xy).withColumnRenamed("seg", "c_mktsegment")
          .orderBy($"c_mktsegment")
      },
      oracle = Some("""
        WITH xy AS (
          SELECT c_mktsegment AS seg,
                 CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
                 CAST(floor(o_totalprice) AS BIGINT) AS y
          FROM orders JOIN customer ON o_custkey = c_custkey),
        m AS (
          SELECT seg, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2
          FROM xy GROUP BY seg)
        SELECT seg AS c_mktsegment, CAST(n AS BIGINT) AS n,
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
        ORDER BY c_mktsegment""")),

    // ----- mix-shift decomposition (q77) ------------------------------------
    // "Why did the average order value move between 1995 and 1996?" —
    // decompose the change into rate effects (each segment's own average
    // moved), mix effects (order volume shifted between segments), and the
    // interaction term, per segment. ONE scan: conditional aggregates
    // split the two periods inside a single hash agg (q60's single-scan
    // discipline); totals come from windows over the O(segments) result,
    // so nothing rescans or re-shuffles the facts. Averages and shares
    // are exact truncating-division integers; the effect terms are one
    // identical double formula over those exact integers, floored to
    // micros per segment (engine-order-free — any cross-segment total is
    // then an integer sum).
    QueryDef(
      "q77_mix_shift",
      (s, d) => {
        import s.implicits._
        val o = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")),
            $"o_custkey" === $"c_custkey")
          .filter(year($"o_orderdate").isin(1995, 1996))
          .select($"c_mktsegment".as("seg"),
            (year($"o_orderdate") === 1995).as("p1"),
            floor($"o_totalprice" * 100).cast("long").as("c"))
        val wAll = Window.partitionBy(lit(1))
        o.groupBy($"seg")
          .agg(sum(when($"p1", 1L).otherwise(0L)).as("n1"),
            sum(when(!$"p1", 1L).otherwise(0L)).as("n2"),
            sum(when($"p1", $"c").otherwise(0L)).as("s1"),
            sum(when(!$"p1", $"c").otherwise(0L)).as("s2"))
          .withColumn("t1", sum($"n1").over(wAll))
          .withColumn("t2", sum($"n2").over(wAll))
          .withColumn("avg1_c", expr("s1 div n1"))
          .withColumn("avg2_c", expr("s2 div n2"))
          .withColumn("share1_milli", expr("(1000 * n1) div t1"))
          .withColumn("share2_milli", expr("(1000 * n2) div t2"))
          .withColumn("rate_effect_micro", expr(
            """cast(floor(1000000 * (cast(n1 as double) / cast(t1 as double)) *
               (cast(avg2_c as double) - cast(avg1_c as double)) / 100) as bigint)"""))
          .withColumn("mix_effect_micro", expr(
            """cast(floor(1000000 * (cast(n2 as double) / cast(t2 as double) -
               cast(n1 as double) / cast(t1 as double)) *
               cast(avg1_c as double) / 100) as bigint)"""))
          .withColumn("interaction_micro", expr(
            """cast(floor(1000000 * (cast(n2 as double) / cast(t2 as double) -
               cast(n1 as double) / cast(t1 as double)) *
               (cast(avg2_c as double) - cast(avg1_c as double)) / 100) as bigint)"""))
          .select($"seg".as("c_mktsegment"), $"n1", $"n2", $"avg1_c", $"avg2_c",
            $"share1_milli", $"share2_milli",
            $"rate_effect_micro", $"mix_effect_micro", $"interaction_micro")
          .orderBy($"c_mktsegment")
      },
      oracle = Some("""
        WITH o AS (
          SELECT c_mktsegment AS seg,
                 (year(o_orderdate) = 1995) AS p1,
                 CAST(floor(o_totalprice * 100) AS BIGINT) AS c
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE year(o_orderdate) IN (1995, 1996)),
        g AS (
          SELECT seg,
                 CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN p1 THEN c ELSE 0 END) AS BIGINT) AS s1,
                 CAST(sum(CASE WHEN NOT p1 THEN c ELSE 0 END) AS BIGINT) AS s2
          FROM o GROUP BY seg),
        t AS (
          SELECT *, CAST(sum(n1) OVER () AS BIGINT) AS t1,
                 CAST(sum(n2) OVER () AS BIGINT) AS t2,
                 s1 // n1 AS avg1_c, s2 // n2 AS avg2_c
          FROM g)
        SELECT seg AS c_mktsegment, n1, n2, avg1_c, avg2_c,
               (1000 * n1) // t1 AS share1_milli,
               (1000 * n2) // t2 AS share2_milli,
               CAST(floor(1000000 * (CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE)) *
                 (CAST(avg2_c AS DOUBLE) - CAST(avg1_c AS DOUBLE)) / 100) AS BIGINT)
                 AS rate_effect_micro,
               CAST(floor(1000000 * (CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE) -
                 CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE)) *
                 CAST(avg1_c AS DOUBLE) / 100) AS BIGINT) AS mix_effect_micro,
               CAST(floor(1000000 * (CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE) -
                 CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE)) *
                 (CAST(avg2_c AS DOUBLE) - CAST(avg1_c AS DOUBLE)) / 100) AS BIGINT)
                 AS interaction_micro
        FROM t
        ORDER BY c_mktsegment""")),

    // ----- FIFO allocation via cumulative-interval overlap (q80) ------------
    // Inventory-style matching WITHOUT iteration: per part, 'F' lineitems
    // are supply lots and 'O' lineitems are demand, both in shipdate
    // order. FIFO pairing = overlap of cumulative-quantity intervals —
    // supply row i owns [cum_i - qty_i, cum_i) of the part's supply axis,
    // demand row j owns the same on the demand axis, and FIFO matches
    // exactly the overlapping interval pairs (the classic cumsum trick
    // that replaces a sequential allocator loop). The overlap join is
    // equi on partkey + range predicates, and fan-out is LINEAR: each
    // demand interval overlaps amortized O(1) supply intervals because
    // both axes are partitions of the same line. Per-pair staleness
    // (demand date - supply date, quantity-weighted) is the genuinely
    // FIFO-dependent output; matched totals telescope to min(supply,
    // demand) — asserted as the conservation invariant.
    QueryDef(
      "q80_fifo_allocation",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_partkey".as("pk"), $"l_linestatus".as("st"),
            floor($"l_quantity").cast("long").as("qty"),
            $"l_shipdate".cast("date").as("sd"), $"l_orderkey", $"l_linenumber")
        val w = Window.partitionBy($"pk").orderBy($"sd", $"l_orderkey", $"l_linenumber")
        def cumOf(status: String, p: String) = li.filter($"st" === status)
          .withColumn("hi", sum($"qty").over(w))
          .select($"pk", $"sd".as(s"${p}_sd"), ($"hi" - $"qty").as(s"${p}_lo"),
            $"hi".as(s"${p}_hi"))
        val sup = cumOf("F", "s")
        val dem = cumOf("O", "d")
        val pairs = sup.join(dem, Seq("pk"))
          .filter($"s_lo" < $"d_hi" && $"d_lo" < $"s_hi")
          .select($"pk",
            (least($"s_hi", $"d_hi") - greatest($"s_lo", $"d_lo")).as("m"),
            datediff($"d_sd", $"s_sd").cast("long").as("days"))
          .groupBy($"pk")
          .agg(count(lit(1)).as("n_pairs"), sum($"m").as("matched_q"),
            sum($"m" * $"days").as("staleness_qty_days"))
        li.groupBy($"pk")
          .agg(sum(when($"st" === "F", $"qty").otherwise(0L)).as("supply_q"),
            sum(when($"st" === "O", $"qty").otherwise(0L)).as("demand_q"))
          .join(pairs, Seq("pk"), "left")
          .select($"pk".as("l_partkey"), $"supply_q", $"demand_q",
            coalesce($"matched_q", lit(0L)).as("matched_q"),
            ($"demand_q" - coalesce($"matched_q", lit(0L))).as("unmet_q"),
            coalesce($"n_pairs", lit(0L)).as("n_pairs"),
            coalesce($"staleness_qty_days", lit(0L)).as("staleness_qty_days"))
          .orderBy($"l_partkey")
      },
      oracle = Some("""
        WITH li AS (
          SELECT l_partkey AS pk, l_linestatus AS st,
                 CAST(floor(l_quantity) AS BIGINT) AS qty,
                 CAST(l_shipdate AS DATE) AS sd, l_orderkey, l_linenumber
          FROM lineitem),
        sup AS (
          SELECT pk, sd AS s_sd,
                 CAST(sum(qty) OVER w - qty AS BIGINT) AS s_lo,
                 CAST(sum(qty) OVER w AS BIGINT) AS s_hi
          FROM li WHERE st = 'F'
          WINDOW w AS (PARTITION BY pk ORDER BY sd, l_orderkey, l_linenumber
                       ROWS UNBOUNDED PRECEDING)),
        dem AS (
          SELECT pk, sd AS d_sd,
                 CAST(sum(qty) OVER w - qty AS BIGINT) AS d_lo,
                 CAST(sum(qty) OVER w AS BIGINT) AS d_hi
          FROM li WHERE st = 'O'
          WINDOW w AS (PARTITION BY pk ORDER BY sd, l_orderkey, l_linenumber
                       ROWS UNBOUNDED PRECEDING)),
        pairs AS (
          SELECT sup.pk, CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(least(s_hi, d_hi) - greatest(s_lo, d_lo)) AS BIGINT) AS matched_q,
                 CAST(sum((least(s_hi, d_hi) - greatest(s_lo, d_lo)) *
                      date_diff('day', s_sd, d_sd)) AS BIGINT) AS staleness_qty_days
          FROM sup JOIN dem ON sup.pk = dem.pk
            AND s_lo < d_hi AND d_lo < s_hi
          GROUP BY sup.pk),
        tot AS (
          SELECT pk,
                 CAST(sum(CASE WHEN st = 'F' THEN qty ELSE 0 END) AS BIGINT) AS supply_q,
                 CAST(sum(CASE WHEN st = 'O' THEN qty ELSE 0 END) AS BIGINT) AS demand_q
          FROM li GROUP BY pk)
        SELECT pk AS l_partkey, supply_q, demand_q,
               coalesce(matched_q, 0) AS matched_q,
               demand_q - coalesce(matched_q, 0) AS unmet_q,
               coalesce(n_pairs, 0) AS n_pairs,
               coalesce(staleness_qty_days, 0) AS staleness_qty_days
        FROM tot LEFT JOIN pairs USING (pk)
        ORDER BY l_partkey""")),

    // ----- share-of-parent hierarchy report (q81) ---------------------------
    // The OLAP drill-down companion to q15/q16's rollup: each nation's
    // revenue with its share of the parent region and of the grand total,
    // plus its rank within the parent — the numbers a drill-down UI
    // actually shows. ONE fact aggregation (map-side combinable, dims by
    // broadcast); parent and grand totals are windows over the O(nations)
    // result — the fact table is never rescanned per level. Shares are
    // truncating-division millis of exact integer cents.
    QueryDef(
      "q81_share_of_parent",
      (s, d) => {
        import s.implicits._
        val base = Tables.lineitem(s, d)
          .join(broadcast(Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey")),
            $"l_suppkey" === $"s_suppkey")
          .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
          .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name", $"n_name")
          .agg(sum(floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100).cast("long"))
            .as("rev_c"))
        val wr = Window.partitionBy($"r_name")
        val wall = Window.partitionBy(lit(1))
        base
          .withColumn("region_c", sum($"rev_c").over(wr))
          .withColumn("grand_c", sum($"rev_c").over(wall))
          .withColumn("rank_in_region",
            row_number().over(Window.partitionBy($"r_name")
              .orderBy($"rev_c".desc, $"n_name")).cast("long"))
          .select($"r_name", $"n_name", $"rev_c",
            expr("(1000 * rev_c) div region_c").as("share_of_region_milli"),
            expr("(1000 * rev_c) div grand_c").as("share_of_total_milli"),
            $"rank_in_region")
          .orderBy($"r_name", $"rank_in_region")
      },
      oracle = Some("""
        WITH base AS (
          SELECT r_name, n_name,
                 CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100)) AS BIGINT) AS rev_c
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name),
        w AS (
          SELECT *, CAST(sum(rev_c) OVER (PARTITION BY r_name) AS BIGINT) AS region_c,
                 CAST(sum(rev_c) OVER () AS BIGINT) AS grand_c,
                 CAST(row_number() OVER (PARTITION BY r_name
                   ORDER BY rev_c DESC, n_name) AS BIGINT) AS rank_in_region
          FROM base)
        SELECT r_name, n_name, rev_c,
               (1000 * rev_c) // region_c AS share_of_region_milli,
               (1000 * rev_c) // grand_c AS share_of_total_milli,
               rank_in_region
        FROM w
        ORDER BY r_name, rank_in_region""")),

    // ----- ABC / Pareto classification (q82) --------------------------------
    // Inventory's 80/15/5 rule: rank parts by revenue, classify by the
    // cumulative share BEFORE each part (A until 80%, B until 95%, C the
    // tail — "before" so a part straddling a boundary lands in the upper
    // class on both engines). The fact table aggregates ONCE; ranking and
    // cumulative sums are windows over the dimension-sized part result —
    // at any fact scale the windowed table stays O(parts). Classes and
    // shares are exact integer arithmetic on cents.
    QueryDef(
      "q82_abc_classification",
      (s, d) => {
        import s.implicits._
        val perPart = Tables.lineitem(s, d)
          .groupBy($"l_partkey")
          .agg(sum(floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100).cast("long"))
            .as("rev_c"))
        val wr = Window.orderBy($"rev_c".desc, $"l_partkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wall = Window.partitionBy(lit(1))
        perPart
          .withColumn("before_c", sum($"rev_c").over(wr) - $"rev_c")
          .withColumn("total_c", sum($"rev_c").over(wall))
          .withColumn("cls", expr(
            """CASE WHEN (1000 * before_c) div total_c < 800 THEN 'A'
                    WHEN (1000 * before_c) div total_c < 950 THEN 'B'
                    ELSE 'C' END"""))
          .groupBy($"cls")
          .agg(count(lit(1)).as("n_parts"),
            sum($"rev_c").as("class_rev_c"),
            first($"total_c").as("total_c"))
          .select($"cls", $"n_parts", $"class_rev_c",
            expr("(1000 * class_rev_c) div total_c").as("class_share_milli"))
          .orderBy($"cls")
      },
      oracle = Some("""
        WITH p AS (
          SELECT l_partkey,
                 CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100)) AS BIGINT) AS rev_c
          FROM lineitem GROUP BY l_partkey),
        r AS (
          SELECT *, CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                      ROWS UNBOUNDED PRECEDING) - rev_c AS BIGINT) AS before_c,
                 CAST(sum(rev_c) OVER () AS BIGINT) AS total_c
          FROM p),
        c AS (
          SELECT *, CASE WHEN (1000 * before_c) // total_c < 800 THEN 'A'
                         WHEN (1000 * before_c) // total_c < 950 THEN 'B'
                         ELSE 'C' END AS cls
          FROM r)
        SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(rev_c) AS BIGINT) AS class_rev_c,
               (1000 * CAST(sum(rev_c) AS BIGINT)) // total_c AS class_share_milli
        FROM c GROUP BY cls, total_c
        ORDER BY cls""")),

    // ----- correlated EXISTS subquery (decorrelation) ------------------------
    QueryDef(
      "q46_exists_subquery",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(SqlExistsQ4)
      },
      oracle = Some(SqlExistsQ4)),

    // ----- correlated scalar-aggregate subquery (decorrelation) -------------
    QueryDef(
      "q47_scalar_subquery",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(SqlScalarQ17)
      },
      oracle = Some(SqlScalarQ17)),

    // ----- mergeable heavy-hitters summary (Misra–Gries) --------------------
    // A k=4 MG summary over an exponentially-skewed derived key (the t12
    // integer floor-log2 of l_orderkey%100+1: level L holds ~2^L of every
    // 100 keys, so high levels are true heavy hitters). The summary contents
    // depend on execution order, so the query emits only its ORDER-INVARIANT
    // guarantees next to the exact counts (q24's convention): the estimate
    // never overestimates, underestimates by at most floor(n/(k+1)), and any
    // item above that threshold must be tracked. At 100 TB only the O(k)
    // summary runs (partial-agg tree, no key shuffle); the exact groupBy
    // here is the verification harness, not the operator.
    QueryDef(
      "q53_heavy_hitters_mg",
      (s, d) => {
        import s.implicits._
        val k = 4
        val lvl = (length(bin(lit(1) + col("l_orderkey") % 100)) - 1).cast("long")
        val keys = Tables.lineitem(s, d).select(lvl.as("lvl"))
        val summary: Map[Long, Long] =
          keys.as[Long].select(new graft.functions.MisraGries(k).toColumn).head()
        val exact = keys.groupBy($"lvl").agg(count(lit(1)).as("n"))
        val total = Tables.lineitem(s, d).count()
        val bound = graft.functions.MisraGries.bound(total, k)
        val est = summary.toSeq.toDF("lvl", "est")
        exact.join(broadcast(est), Seq("lvl"), "left")
          .withColumn("e", coalesce($"est", lit(0L)))
          .select(
            $"lvl", $"n",
            ($"e" <= $"n" && $"e" >= $"n" - bound).as("within_bound"),
            (!($"n" > bound) || $"e" > 0).as("survivor_tracked"))
          .orderBy($"lvl")
      },
      oracle = Some("""
        WITH x AS (SELECT length(bin(1 + (l_orderkey % 100))) - 1 AS lvl
                   FROM lineitem)
        SELECT lvl, count(*) AS n,
               TRUE AS within_bound, TRUE AS survivor_tracked
        FROM x GROUP BY lvl ORDER BY lvl""")),

    // ----- bloom-filter semi-join pruning (runtime-filter pattern) ----------
    // The selective dim predicate's surviving key set is compressed into a
    // bloom filter (a driver collect of O(bits) — ~1.2 MB per million keys
    // at 1% fpp, independent of the FACT table's size) and broadcast, so the
    // fact scan is pruned BEFORE its shuffle. False positives are removed by
    // the exact join that follows, so the result is bit-identical to the
    // plain join — the bloom only cuts shuffled volume (~10x here; at 100 TB
    // it is the difference between shuffling the whole fact table and
    // shuffling roughly the matching slice). This is the explicit, testable
    // form of Spark's own InjectRuntimeFilter, for when the dim side is too
    // big to broadcast-hash-join but its keyset still fits a bloom.
    QueryDef(
      "q49_bloom_semijoin_prune",
      (s, d) => {
        import s.implicits._
        val dim = OpCache.persistRotating("q49.dim", Tables.orders(s, d)
          .filter($"o_totalprice" > 450000.0)
          .select($"o_orderkey"))
        // Sized from the real key count (one cheap count over the slotted dim);
        // the merged bloom is deterministic — fixed-seed hashes, OR-merge.
        val bloom = dim.stat.bloomFilter("o_orderkey", math.max(dim.count(), 1000L), 0.01)
        val bc = s.sparkContext.broadcast(bloom)
        val mightContain = udf((k: Long) => bc.value.mightContainLong(k))
        Tables.lineitem(s, d)
          .filter(mightContain($"l_orderkey"))
          .join(dim, $"l_orderkey" === $"o_orderkey")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"), cents($"l_extendedprice").as("rev_c"))
          .orderBy($"l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(floor(l_extendedprice * 100)) AS BIGINT) AS rev_c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_totalprice > 450000.0
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ----- referential-integrity check (FK orphan audit) --------------------
    // q60's sibling in the promotion gate: count child rows whose foreign
    // key resolves to no parent, per relationship. Each check is one
    // left-anti join on the key — at 100 TB the parent key sets are the
    // join's build sides and AQE picks broadcast vs shuffle per
    // relationship; no check ever materializes the match, only the
    // violations. (The fixtures are clean, so expected counts are zero —
    // the gate's healthy state; the oracle proves the queries agree on
    // that, the test below proves they catch planted orphans.)
    QueryDef(
      "q63_integrity_check",
      (s, d) => {
        import s.implicits._
        orphanReport("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
            Tables.orders(s, d), "o_orderkey")
          .unionByName(orphanReport("orders->customer", Tables.orders(s, d), "o_custkey",
            Tables.customer(s, d), "c_custkey"))
          .unionByName(orphanReport("customer->nation", Tables.customer(s, d), "c_nationkey",
            Tables.nation(s, d), "n_nationkey"))
          .orderBy($"relationship")
      },
      oracle = Some("""
        SELECT 'customer->nation' AS relationship,
               CAST((SELECT count(*) FROM customer c
                     WHERE NOT EXISTS (SELECT 1 FROM nation n
                                       WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT) AS n_orphans
        UNION ALL
        SELECT 'lineitem->orders',
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        UNION ALL
        SELECT 'orders->customer',
               CAST((SELECT count(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        ORDER BY relationship""")),

    // ----- dataset profiling / drift report (data-contract validation) ------
    // The check every scheduled 100 TB pipeline runs before promoting a new
    // snapshot: per-column row counts, distinct counts, and mean drift
    // between the previous window and the new one. Through round 9 this
    // ran the NAIVE single-reduce form — 8 exact countDistincts, which
    // Catalyst plans as ONE Expand multiplying every fact row 9x before
    // the shuffle (the documented scale-killer q102 was built to replace;
    // 2.95 s at sf0.1 vs q102's 1.15 s, all of it the 9-column-key hash
    // of 9x-expanded rows). The final optimization round retires the
    // anchor: both drift queries now run the scalable unpivot plan below
    // (same oracle, hash-identical report); the Expand form lives in git
    // history (round-9 plans/r10/q60_profile_drift_before.txt). Verify
    // still checks q60 against its oracle; Bench times the plan once, as
    // q102, instead of timing the same plan twice.
    QueryDef(
      "q60_profile_drift",
      (s, d) => profileDriftReport(s, d),
      oracle = Some(ProfileDriftOracleSql),
      benchmark = false),

    // ----- scalable profile/drift (q102): the drift report without Expand ---
    // The same EXACT report in the 100-TB shape: unpivot each row into 4
    // (column, value) pairs via explode (a Generate, streamed — never an
    // Expand), then a two-level aggregation. Level 1 groups by
    // (column, value): the map-side partial combine collapses each
    // partition to its distinct values, so the one fact-sized shuffle
    // carries only O(sum of per-column cardinalities) rows. Level 2 is a
    // tiny per-column reduce: distinct_a = count of values seen in window
    // a, n_a = sum of per-value counts, and the window sum is
    // sum(value * count) — all exact longs, so the report hash-matches
    // the DuckDB oracle bit-for-bit. Swap the explode list to
    // profile more columns; the plan shape is unchanged.
    QueryDef(
      "q102_profile_drift_scalable",
      (s, d) => profileDriftReport(s, d),
      oracle = Some(ProfileDriftOracleSql)),

    // ----- replica-reconciliation checksums (q67) ---------------------------
    // How you compare two 100 TB replicas/snapshots WITHOUT moving data:
    // each side computes per-bucket commutative signatures locally — count,
    // bit_xor of a deterministic row hash, and a wrap-safe additive sum —
    // then only the O(buckets) signature tables travel and divergent
    // buckets pinpoint what to re-sync. Everything is a map-side-combinable
    // hash agg (xor and sum are commutative+associative, so partitioning
    // and row order are irrelevant); the row hash serializes doubles as
    // integer cents and timestamps as epoch micros so any engine
    // reproduces it bit-for-bit. xor catches value edits, count catches
    // cardinality, the modular sum catches xor-cancelling double edits.
    QueryDef(
      "q67_replica_checksum",
      (s, d) => checksumReport(
        Tables.orders(s, d),
        date_trunc("day", col("o_orderdate")).cast("date"),
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long"),
        unix_micros(col("o_orderdate").cast("timestamp")), col("o_orderpriority")),
      oracle = Some(s"""
        WITH t AS (
          SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS bucket,
                 ${TextQueries.polyHashSqlOf(
                   "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
                   "CAST(floor(o_totalprice * 100) AS BIGINT), " +
                   "epoch_us(o_orderdate), o_orderpriority)")} AS h
          FROM orders)
        SELECT bucket, count(*) AS n_rows, bit_xor(h) AS xor_sig,
               CAST(sum(h % 1048576) AS BIGINT) AS sum_sig
        FROM t GROUP BY bucket ORDER BY bucket""")),

    // ----- MERGE INTO semantics (q72) ---------------------------------------
    // The ANSI MERGE dataflow on plain tables: a refund ledger derived from
    // error events merges into customer balances — matched keys UPDATE
    // (balance minus refunds), ledger keys with no customer INSERT,
    // untouched customers pass through, and every output row is classified.
    // Executed as ONE full-outer hash join on the key (both sides
    // pre-aggregated/unique), not row-at-a-time lookups: the same shape a
    // transactional MERGE compiles to, minus the log — pair with a
    // partitioned rewrite for storage. Money stays integer cents
    // throughout.
    QueryDef(
      "q72_merge_upsert",
      (s, d) => {
        import s.implicits._
        val target = Tables.customer(s, d)
          .select($"c_custkey".as("k"), floor($"c_acctbal" * 100).cast("long").as("tval"))
        val source = Tables.events(s, d)
          .filter($"event_type" === "error")
          .groupBy($"user_id".as("k"))
          .agg((-sum(floor($"value" * 100))).cast("long").as("delta"))
        mergeUpsert(target, source).orderBy($"k")
      },
      oracle = Some("""
        WITH target AS (
          SELECT c_custkey AS k, CAST(floor(c_acctbal * 100) AS BIGINT) AS tval
          FROM customer),
        source AS (
          SELECT user_id AS k, CAST(-sum(floor(value * 100)) AS BIGINT) AS delta
          FROM events WHERE event_type = 'error' GROUP BY user_id)
        SELECT coalesce(t.k, s.k) AS k,
               CASE WHEN t.k IS NULL THEN 'inserted'
                    WHEN s.k IS NULL THEN 'unchanged'
                    ELSE 'updated' END AS merge_action,
               coalesce(tval, 0) + coalesce(delta, 0) AS new_val
        FROM target t FULL OUTER JOIN source s ON t.k = s.k
        ORDER BY k""")),

    // ----- market-basket association mining (q69) ---------------------------
    // Frequent-pair support / confidence / lift over order baskets — the
    // classic co-purchase analysis, in the shape that survives 100 TB of
    // baskets: ONE hash agg collapses the fact table to a sorted distinct
    // brand set per basket (collect_set dedups map-side, exactly like the
    // old DISTINCT's partial), and pairs come from an array transform over
    // that set — fan-out bounded by basket size squared (<= 13 lines ->
    // <= 78 pairs, NEVER corpus x corpus) with NO basket self-join: the
    // old shape shuffled the basket table three times (distinct + both
    // self-join sides); this shuffles it once. Pair counts are one hash
    // agg over O(vocab^2) keys, item counts join back onto the pair
    // table, not onto baskets. Metrics are exact integer millis with
    // truncating division: lift = c_ab*N/(c_a*c_b). Brand dimension
    // arrives by broadcast; min support 5 prunes noise pairs before the
    // metric joins. The per-basket set is referenced three times (pairs,
    // item counts, basket count), so it lives in a slot.
    QueryDef(
      "q69_market_basket",
      (s, d) => {
        import s.implicits._
        val baskets = OpCache.persistRotating("q69.baskets",
          Tables.lineitem(s, d)
            .join(broadcast(Tables.part(s, d).select($"p_partkey", $"p_brand")),
              $"l_partkey" === $"p_partkey")
            .groupBy($"l_orderkey".as("o"))
            .agg(sort_array(collect_set($"p_brand")).as("bs")))
        val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
        val items = baskets.select(explode($"bs").as("b"))
          .groupBy($"b").agg(count(lit(1)).as("c"))
        // sorted set => x precedes y iff x < y: the transform enumerates
        // exactly the ordered pairs the old a < b self-join emitted
        val pairs = baskets.select(explode(expr(
            """flatten(transform(bs, (x, i) ->
               transform(slice(bs, i + 2, size(bs)),
                 y -> named_struct('brand_a', x, 'brand_b', y))))""")).as("p"))
          .select($"p.brand_a", $"p.brand_b")
          .groupBy($"brand_a", $"brand_b").agg(count(lit(1)).as("n_ab"))
          .filter($"n_ab" >= 5)
        pairs
          .join(items.select($"b".as("brand_a"), $"c".as("c_a")), Seq("brand_a"))
          .join(items.select($"b".as("brand_b"), $"c".as("c_b")), Seq("brand_b"))
          .crossJoin(broadcast(nBaskets))
          .select($"brand_a", $"brand_b", $"n_ab",
            expr("(1000 * n_ab) div n_baskets").as("support_milli"),
            expr("(1000 * n_ab) div c_a").as("conf_ab_milli"),
            expr("(1000 * n_ab) div c_b").as("conf_ba_milli"),
            expr("(1000 * n_ab * n_baskets) div (c_a * c_b)").as("lift_milli"))
          .orderBy($"brand_a", $"brand_b")
      },
      oracle = Some("""
        WITH basket AS (
          SELECT DISTINCT l_orderkey AS o, p_brand AS b
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        n AS (SELECT count(DISTINCT o) AS n_baskets FROM basket),
        items AS (SELECT b, count(*) AS c FROM basket GROUP BY b),
        pairs AS (
          SELECT a.b AS brand_a, bb.b AS brand_b, count(*) AS n_ab
          FROM basket a JOIN basket bb ON a.o = bb.o AND a.b < bb.b
          GROUP BY a.b, bb.b
          HAVING count(*) >= 5)
        SELECT brand_a, brand_b, CAST(n_ab AS BIGINT) AS n_ab,
               CAST((1000 * n_ab) // n_baskets AS BIGINT) AS support_milli,
               CAST((1000 * n_ab) // ia.c AS BIGINT) AS conf_ab_milli,
               CAST((1000 * n_ab) // ib.c AS BIGINT) AS conf_ba_milli,
               CAST((1000 * n_ab * n_baskets) // (ia.c * ib.c) AS BIGINT) AS lift_milli
        FROM pairs
        JOIN items ia ON ia.b = brand_a
        JOIN items ib ON ib.b = brand_b
        CROSS JOIN n
        ORDER BY brand_a, brand_b""")),

    // ----- RFM customer segmentation (q84) ----------------------------------
    // The classic CRM segmentation: score every customer 1-5 on Recency
    // (days since last order), Frequency (order count) and Monetary (cents
    // spent), then bucket score triples into named segments. The fact table
    // aggregates ONCE to an O(customers) profile; scores are quintiles from
    // explicit row_number ranks with (value, custkey) tie order — exact
    // integer arithmetic, no NTILE tie-convention dependence. The three
    // global rank windows run over the customer-level aggregate, never raw
    // orders — exact at the sizes this anchor targets, but a single-task
    // sort of the whole profile. q103 below is the 100-TB form: quintile
    // boundary VALUES from the q45 two-level range-partition selection, no
    // customer-sized sort anywhere (plan-gated); this query stays as the
    // exact-rank small-data anchor (the q60/q102 pairing).
    QueryDef(
      "q84_rfm_segmentation",
      (s, d) => {
        import s.implicits._
        val per = Tables.orders(s, d)
          .groupBy($"o_custkey")
          .agg(max($"o_orderdate").as("last_ts"),
            count(lit(1)).as("freq"),
            sum(floor($"o_totalprice" * 100).cast("long")).as("mon_c"))
        val wall = Window.partitionBy(lit(1))
        val wr = Window.orderBy($"rec_days".asc, $"o_custkey")
        val wf = Window.orderBy($"freq".desc, $"o_custkey")
        val wm = Window.orderBy($"mon_c".desc, $"o_custkey")
        per
          .withColumn("end_ts", max($"last_ts").over(wall))
          .withColumn("rec_days", datediff($"end_ts", $"last_ts").cast("long"))
          .withColumn("n", count(lit(1)).over(wall))
          .withColumn("r_rn", row_number().over(wr).cast("long"))
          .withColumn("f_rn", row_number().over(wf).cast("long"))
          .withColumn("m_rn", row_number().over(wm).cast("long"))
          .withColumn("r_score", expr("5 - (5 * (r_rn - 1)) div n"))
          .withColumn("f_score", expr("5 - (5 * (f_rn - 1)) div n"))
          .withColumn("m_score", expr("5 - (5 * (m_rn - 1)) div n"))
          .withColumn("segment", expr(
            """CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champions'
                    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                    WHEN r_score >= 4 AND f_score <= 2 THEN 'recent_light'
                    ELSE 'core' END"""))
          .groupBy($"segment")
          .agg(count(lit(1)).as("n_customers"),
            sum($"mon_c").as("total_mon_c"),
            sum($"rec_days").as("sum_rec_days"),
            sum($"freq").as("sum_freq"))
          .select($"segment", $"n_customers", $"total_mon_c",
            expr("total_mon_c div n_customers").as("avg_mon_c"),
            expr("sum_rec_days div n_customers").as("avg_rec_days"),
            expr("(1000 * sum_freq) div n_customers").as("avg_freq_milli"))
          .orderBy($"segment")
      },
      oracle = Some("""
        WITH per AS (
          SELECT o_custkey, max(o_orderdate) AS last_ts,
                 CAST(count(*) AS BIGINT) AS freq,
                 CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS mon_c
          FROM orders GROUP BY o_custkey),
        scored AS (
          SELECT o_custkey, freq, mon_c,
                 date_diff('day', CAST(last_ts AS DATE),
                   CAST((SELECT max(last_ts) FROM per) AS DATE)) AS rec_days,
                 CAST(count(*) OVER () AS BIGINT) AS n,
                 CAST(row_number() OVER (ORDER BY date_diff('day', CAST(last_ts AS DATE),
                   CAST((SELECT max(last_ts) FROM per) AS DATE)), o_custkey) AS BIGINT) AS r_rn,
                 CAST(row_number() OVER (ORDER BY freq DESC, o_custkey) AS BIGINT) AS f_rn,
                 CAST(row_number() OVER (ORDER BY mon_c DESC, o_custkey) AS BIGINT) AS m_rn
          FROM per),
        seg AS (
          SELECT rec_days, freq, mon_c,
                 5 - (5 * (r_rn - 1)) // n AS r_score,
                 5 - (5 * (f_rn - 1)) // n AS f_score,
                 5 - (5 * (m_rn - 1)) // n AS m_score
          FROM scored),
        named AS (
          SELECT *,
                 CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champions'
                      WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                      WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                      WHEN r_score >= 4 AND f_score <= 2 THEN 'recent_light'
                      ELSE 'core' END AS segment
          FROM seg)
        SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(mon_c) AS BIGINT) AS total_mon_c,
               CAST(sum(mon_c) AS BIGINT) // count(*) AS avg_mon_c,
               CAST(sum(rec_days) AS BIGINT) // count(*) AS avg_rec_days,
               (1000 * CAST(sum(freq) AS BIGINT)) // count(*) AS avg_freq_milli
        FROM named GROUP BY segment
        ORDER BY segment""")),

    // ----- RFM segmentation, 100-TB form (q103) -----------------------------
    // q84's scalable successor (the q60 -> q102 pattern): same customer
    // profile, same segment names, but scores come from quintile boundary
    // VALUES instead of per-customer global ranks. q84's three
    // unpartitioned row_number windows sort the whole O(customers)
    // aggregate in ONE task — at TPC-H SF100k that's a ~10^9-row
    // single-task sort, the plan's first casualty. Here each dimension's
    // 20/40/60/80% boundaries come from the shared two-level
    // range-partition selection (percentileDiscTwoLevel, q45's machinery:
    // windows only ever see O(200)-bucket histograms), the twelve boundary
    // cells collapse to ONE broadcast row, and scoring is a per-row
    // comparison against it — no customer-sized sort anywhere
    // (PlanQualitySpec gates every window's input aggregate). Semantics
    // shift vs q84 exactly as documented there: tied values share a score
    // (boundary semantics) instead of splitting on (value, custkey) rank
    // order — the honest large-scale definition, since rank-splitting ties
    // by id is arbitrary at any scale. q84 stays as the exact-rank anchor.
    QueryDef(
      "q103_rfm_value_segments",
      (s, d) => {
        import s.implicits._
        val per = Tables.orders(s, d)
          .groupBy($"o_custkey")
          .agg(max($"o_orderdate").as("last_ts"),
            count(lit(1)).as("freq"),
            sum(floor($"o_totalprice" * 100).cast("long")).as("mon_c"))
        val endTs = per.agg(max($"last_ts").as("end_ts"))
        // one O(customers) profile, computed once: 6 histogram scans + the
        // scoring scan all read the slot, not re-aggregate orders
        val perR = OpCache.persistRotating("q103.profile", per.crossJoin(broadcast(endTs))
          .withColumn("rec_days", datediff($"end_ts", $"last_ts").cast("long"))
          .select($"o_custkey", $"rec_days", $"freq", $"mon_c"))
        val ps = Seq(0.2, 0.4, 0.6, 0.8)
        // ONE two-level selection over the (dimension, value) unpivot — the
        // q102 explode/Generate shape, never Expand — instead of three
        // separate invocations of the histogram machinery (measured: 4.2 s
        // -> ~2 s at sf0.1; the boundary stages are pure fixed overhead)
        val perLong = perR.select(explode(array(
            struct(lit("r").as("st"), $"rec_days".as("v")),
            struct(lit("f").as("st"), $"freq".as("v")),
            struct(lit("m").as("st"), $"mon_c".as("v")))).as("e"))
          .select($"e.st".as("st"), $"e.v".as("v"))
        val bounds = percentileDiscTwoLevel(perLong, $"st", $"v", ps)
        def cell(st: String, p: Double) = max(when($"st" === st && $"p" === p, $"c"))
        val wide = bounds.agg(
          cell("r", 0.2).as("r2"), cell("r", 0.4).as("r4"),
          cell("r", 0.6).as("r6"), cell("r", 0.8).as("r8"),
          cell("f", 0.2).as("f2"), cell("f", 0.4).as("f4"),
          cell("f", 0.6).as("f6"), cell("f", 0.8).as("f8"),
          cell("m", 0.2).as("m2"), cell("m", 0.4).as("m4"),
          cell("m", 0.6).as("m6"), cell("m", 0.8).as("m8"))
        def over(v: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          (v > b).cast("long")
        perR.crossJoin(broadcast(wide))
          // recency: low rec_days = good; freq/monetary: high = good
          .withColumn("r_score", lit(5) - over($"rec_days", $"r2") -
            over($"rec_days", $"r4") - over($"rec_days", $"r6") - over($"rec_days", $"r8"))
          .withColumn("f_score", lit(1) + over($"freq", $"f2") +
            over($"freq", $"f4") + over($"freq", $"f6") + over($"freq", $"f8"))
          .withColumn("m_score", lit(1) + over($"mon_c", $"m2") +
            over($"mon_c", $"m4") + over($"mon_c", $"m6") + over($"mon_c", $"m8"))
          .withColumn("segment", expr(
            """CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champions'
                    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                    WHEN r_score >= 4 AND f_score <= 2 THEN 'recent_light'
                    ELSE 'core' END"""))
          .groupBy($"segment")
          .agg(count(lit(1)).as("n_customers"),
            sum($"mon_c").as("total_mon_c"),
            sum($"rec_days").as("sum_rec_days"),
            sum($"freq").as("sum_freq"))
          .select($"segment", $"n_customers", $"total_mon_c",
            expr("total_mon_c div n_customers").as("avg_mon_c"),
            expr("sum_rec_days div n_customers").as("avg_rec_days"),
            expr("(1000 * sum_freq) div n_customers").as("avg_freq_milli"))
          .orderBy($"segment")
      },
      oracle = Some("""
        WITH per AS (
          SELECT o_custkey, max(o_orderdate) AS last_ts,
                 CAST(count(*) AS BIGINT) AS freq,
                 CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS mon_c
          FROM orders GROUP BY o_custkey),
        perr AS (
          SELECT o_custkey, freq, mon_c,
                 CAST(date_diff('day', CAST(last_ts AS DATE),
                   CAST((SELECT max(last_ts) FROM per) AS DATE)) AS BIGINT) AS rec_days
          FROM per),
        cd AS (
          SELECT rec_days, freq, mon_c,
                 cume_dist() OVER (ORDER BY rec_days) AS cdr,
                 cume_dist() OVER (ORDER BY freq) AS cdf,
                 cume_dist() OVER (ORDER BY mon_c) AS cdm
          FROM perr),
        b AS (
          SELECT min(CASE WHEN cdr >= 0.2 THEN rec_days END) AS r2,
                 min(CASE WHEN cdr >= 0.4 THEN rec_days END) AS r4,
                 min(CASE WHEN cdr >= 0.6 THEN rec_days END) AS r6,
                 min(CASE WHEN cdr >= 0.8 THEN rec_days END) AS r8,
                 min(CASE WHEN cdf >= 0.2 THEN freq END) AS f2,
                 min(CASE WHEN cdf >= 0.4 THEN freq END) AS f4,
                 min(CASE WHEN cdf >= 0.6 THEN freq END) AS f6,
                 min(CASE WHEN cdf >= 0.8 THEN freq END) AS f8,
                 min(CASE WHEN cdm >= 0.2 THEN mon_c END) AS m2,
                 min(CASE WHEN cdm >= 0.4 THEN mon_c END) AS m4,
                 min(CASE WHEN cdm >= 0.6 THEN mon_c END) AS m6,
                 min(CASE WHEN cdm >= 0.8 THEN mon_c END) AS m8
          FROM cd),
        scored AS (
          SELECT rec_days, freq, mon_c,
                 5 - (CASE WHEN rec_days > b.r2 THEN 1 ELSE 0 END)
                   - (CASE WHEN rec_days > b.r4 THEN 1 ELSE 0 END)
                   - (CASE WHEN rec_days > b.r6 THEN 1 ELSE 0 END)
                   - (CASE WHEN rec_days > b.r8 THEN 1 ELSE 0 END) AS r_score,
                 1 + (CASE WHEN freq > b.f2 THEN 1 ELSE 0 END)
                   + (CASE WHEN freq > b.f4 THEN 1 ELSE 0 END)
                   + (CASE WHEN freq > b.f6 THEN 1 ELSE 0 END)
                   + (CASE WHEN freq > b.f8 THEN 1 ELSE 0 END) AS f_score,
                 1 + (CASE WHEN mon_c > b.m2 THEN 1 ELSE 0 END)
                   + (CASE WHEN mon_c > b.m4 THEN 1 ELSE 0 END)
                   + (CASE WHEN mon_c > b.m6 THEN 1 ELSE 0 END)
                   + (CASE WHEN mon_c > b.m8 THEN 1 ELSE 0 END) AS m_score
          FROM perr CROSS JOIN b),
        named AS (
          SELECT *,
                 CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champions'
                      WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                      WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                      WHEN r_score >= 4 AND f_score <= 2 THEN 'recent_light'
                      ELSE 'core' END AS segment
          FROM scored)
        SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(mon_c) AS BIGINT) AS total_mon_c,
               CAST(sum(mon_c) AS BIGINT) // count(*) AS avg_mon_c,
               CAST(sum(rec_days) AS BIGINT) // count(*) AS avg_rec_days,
               (1000 * CAST(sum(freq) AS BIGINT)) // count(*) AS avg_freq_milli
        FROM named GROUP BY segment
        ORDER BY segment""")),

    // ----- interval concurrency sweep (q104) ---------------------------------
    // The classic max-overlapping-intervals / resource-occupancy operator
    // (warehouse capacity planning, connection-pool sizing): each lineitem
    // holds an open shipment over [l_shipdate, l_receiptdate); per
    // supplier, the peak number of simultaneously open shipments is a
    // sweep-line — +1/-1 boundary events, one per-supplier ordered running
    // sum, max. Half-open semantics are encoded in the sort itself
    // (ORDER BY ts, delta puts the -1 first at a shared instant, so an
    // interval ending exactly when another starts never overlaps it) —
    // identical tie handling on both engines, and the partition max is
    // invariant to the remaining within-tie order (a tie group is all +1s
    // or all -1s, whose running values form one monotone run). Scale:
    // events = 2x lineitem rows, ONE hash exchange on l_suppkey, windows
    // per supplier — no global order anywhere; output is the O(peaks)
    // histogram of per-supplier peaks. The fixture's lineitem carries no
    // receipt column, so the window closes after a deterministic 1-14 day
    // transit keyed on (orderkey, linenumber) — identical arithmetic on
    // both engines; production reads the real l_receiptdate.
    QueryDef(
      "q104_shipment_concurrency",
      (s, d) => shipmentConcurrency(Tables.lineitem(s, d).withColumn(
        "l_receiptdate",
        expr("timestampadd(DAY, CAST(1 + pmod(l_orderkey + l_linenumber, 14) AS INT), l_shipdate)"))),
      oracle = Some("""
        WITH li AS (
          SELECT l_suppkey, l_shipdate,
                 l_shipdate + to_days(CAST(1 + (l_orderkey + l_linenumber) % 14 AS INT))
                   AS l_receiptdate
          FROM lineitem),
        ev AS (
          SELECT l_suppkey, l_shipdate AS ts, CAST(1 AS BIGINT) AS delta
          FROM li
          UNION ALL
          SELECT l_suppkey, l_receiptdate, CAST(-1 AS BIGINT) FROM li),
        c AS (
          SELECT l_suppkey,
                 CAST(sum(delta) OVER (PARTITION BY l_suppkey ORDER BY ts, delta
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open
          FROM ev),
        p AS (SELECT l_suppkey, CAST(max(open) AS BIGINT) AS peak_open
              FROM c GROUP BY l_suppkey)
        SELECT peak_open, CAST(count(*) AS BIGINT) AS n_suppliers
        FROM p GROUP BY peak_open
        ORDER BY peak_open""")),

    // ----- Kaplan-Meier survival / churn curve (q85) ------------------------
    // Customer-lifetime survival analysis with right censoring: lifetime =
    // weeks between a customer's first and last order; the churn event is
    // observed only when the last order predates the observation end by
    // more than 90 days (otherwise the lifetime is censored — the customer
    // may still be active). Estimator: S(t) = prod_{t_i <= t} (1 - d_i/n_i),
    // computed as the integer-milli recurrence S <- (S * (n_i - d_i)) div n_i
    // in event-time order — exact on both engines, no floating products.
    // Scale shape: ONE per-customer agg over orders (the only corpus-sized
    // op), then everything runs on the O(distinct lifetime weeks) series —
    // at-risk counts are a reverse cumsum window over that series, and the
    // sequential fold (inherently ordered, like every KM implementation)
    // runs as a single-task kernel over <=O(weeks) rows, constant-size at
    // any corpus scale. The DuckDB oracle replays the identical recurrence
    // as a recursive CTE.
    QueryDef(
      "q85_survival_km",
      (s, d) => {
        import s.implicits._
        val per = Tables.orders(s, d)
          .groupBy($"o_custkey")
          .agg(min($"o_orderdate").as("first_ts"), max($"o_orderdate").as("last_ts"))
        val wall = Window.partitionBy(lit(1))
        val lab = per
          .withColumn("end_ts", max($"last_ts").over(wall))
          .select(expr("CAST(datediff(last_ts, first_ts) div 7 AS BIGINT)").as("t"),
            (datediff($"end_ts", $"last_ts") > 90).as("churned"))
        kmCurve(lab)
      },
      oracle = Some("""
        WITH RECURSIVE per AS (
          SELECT o_custkey, min(o_orderdate) AS first_ts, max(o_orderdate) AS last_ts
          FROM orders GROUP BY o_custkey),
        lab AS (
          SELECT date_diff('day', CAST(first_ts AS DATE), CAST(last_ts AS DATE)) // 7 AS t,
                 date_diff('day', CAST(last_ts AS DATE),
                   CAST((SELECT max(last_ts) FROM per) AS DATE)) > 90 AS churned
          FROM per),
        ser AS (
          SELECT t, CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS m
          FROM lab GROUP BY t),
        ev AS (
          SELECT CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i, t, d, n_at_risk
          FROM (SELECT t, d,
                  CAST(sum(m) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
                FROM ser)
          WHERE d > 0),
        rec AS (
          SELECT i, t, d, n_at_risk,
                 (1000 * (n_at_risk - d)) // n_at_risk AS s
          FROM ev WHERE i = 1
          UNION ALL
          SELECT e.i, e.t, e.d, e.n_at_risk, (r.s * (e.n_at_risk - e.d)) // e.n_at_risk
          FROM rec r JOIN ev e ON e.i = r.i + 1)
        SELECT t, d AS d_events, n_at_risk, CAST(s AS BIGINT) AS surv_milli
        FROM rec ORDER BY t""")),

    // ----- weekly seasonality index + seasonal-naive backtest (q86) ---------
    // The time-series operational pair: (a) a day-of-week seasonality index
    // (per-dow mean revenue vs overall mean, in millis) and (b) a
    // seasonal-naive forecast backtest — predict each day's revenue with the
    // PREVIOUS observation of the same weekday and report the per-dow MAE —
    // the baseline every real forecaster must beat. Day-of-week is computed
    // as days-since-a-fixed-Monday mod 7 (identical on both engines —
    // Spark's dayofweek() and DuckDB's dayofweek() disagree on numbering).
    // ONE corpus-sized hash agg to the O(days) daily series; lag and means
    // are windows/aggs over that series; everything integer cents.
    QueryDef(
      "q86_seasonal_backtest",
      (s, d) => {
        import s.implicits._
        val daily = Tables.orders(s, d)
          .groupBy(date_trunc("day", $"o_orderdate").as("day"))
          .agg(sum(floor($"o_totalprice" * 100).cast("long")).as("rev_c"))
        seasonalBacktest(daily)
      },
      oracle = Some("""
        WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS day,
                 CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS rev_c
          FROM orders GROUP BY date_trunc('day', o_orderdate)),
        base AS (
          SELECT day, rev_c,
                 date_diff('day', DATE '1970-01-05', CAST(day AS DATE)) % 7 AS dow,
                 lag(rev_c, 1) OVER (
                   PARTITION BY date_diff('day', DATE '1970-01-05', CAST(day AS DATE)) % 7
                   ORDER BY day) AS prev_c
          FROM daily),
        agg AS (
          SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(rev_c) AS BIGINT) AS sum_c,
                 CAST(sum(CASE WHEN prev_c IS NOT NULL THEN abs(rev_c - prev_c) END) AS BIGINT) AS abs_err_c,
                 CAST(sum(CASE WHEN prev_c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_fc
          FROM base GROUP BY dow),
        tot AS (SELECT CAST(sum(sum_c) AS BIGINT) AS total_c,
                       CAST(sum(n_days) AS BIGINT) AS total_days FROM agg)
        SELECT CAST(dow AS BIGINT) AS dow, n_days,
               sum_c // n_days AS dow_mean_c,
               (1000 * (sum_c // n_days)) // (total_c // total_days) AS index_milli,
               abs_err_c // n_fc AS mae_c
        FROM agg CROSS JOIN tot
        ORDER BY dow""")),

    // ----- skyline / Pareto frontier (q87) ----------------------------------
    // The multi-criteria optimum set: parts where no other part is both
    // cheaper (min observed unit price) and better-selling (total
    // quantity). 2-D dominance needs no pairwise join — see [[skyline]];
    // the window runs over the O(parts) aggregate, never facts, and for
    // frontier sets too big for one task the merge-idempotence law
    // (executed by SketchSpec) lets partition-local frontiers prune first
    // — the classic distributed skyline recipe.
    QueryDef(
      "q87_skyline_pareto",
      (s, d) => {
        import s.implicits._
        val pts = Tables.lineitem(s, d)
          .groupBy($"l_partkey")
          .agg(min(floor($"l_extendedprice" * 100 / $"l_quantity").cast("long")).as("unit_c"),
            sum($"l_quantity".cast("long")).as("qty"))
        skyline(pts).orderBy($"unit_c", $"l_partkey")
      },
      oracle = Some("""
        WITH pts AS (
          SELECT l_partkey,
                 CAST(min(floor(l_extendedprice * 100 / l_quantity)) AS BIGINT) AS unit_c,
                 CAST(sum(l_quantity) AS BIGINT) AS qty
          FROM lineitem GROUP BY l_partkey),
        ranked AS (
          SELECT *, max(qty) OVER (ORDER BY unit_c, qty DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_qty_before
          FROM pts)
        SELECT l_partkey, unit_c, qty
        FROM ranked
        WHERE best_qty_before IS NULL OR qty > best_qty_before
        ORDER BY unit_c, l_partkey""")),

    // ----- two-sample Kolmogorov-Smirnov drift statistic (q88) --------------
    // q60 monitors per-column MEAN drift; this is the distribution-shape
    // monitor: the KS statistic between two snapshots' order-value
    // distributions (1995 vs 1996), D = max |cdf1 - cdf2|. ONE conditional
    // hash agg collapses the facts to the O(observed dollar values)
    // support; cumulative counts are windows over that support; each CDF is
    // quantized to exact integer millis BEFORE the difference (resolution
    // +-1 milli, and no n1*n2 cross product that would overflow at 10^12
    // rows). The max and its location (smallest value attaining it) come
    // from one more O(support) window — facts are never rescanned.
    QueryDef(
      "q88_ks_drift",
      (s, d) => {
        import s.implicits._
        val sup = Tables.orders(s, d)
          .filter(year($"o_orderdate").isin(1995, 1996))
          .groupBy(floor($"o_totalprice").cast("long").as("v"))
          .agg(sum(when(year($"o_orderdate") === 1995, 1L).otherwise(0L)).as("c1"),
            sum(when(year($"o_orderdate") === 1996, 1L).otherwise(0L)).as("c2"))
        ksReport(sup)
          .withColumnRenamed("n_a", "n_1995").withColumnRenamed("n_b", "n_1996")
      },
      oracle = Some("""
        WITH sup AS (
          SELECT CAST(floor(o_totalprice) AS BIGINT) AS v,
                 CAST(sum(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                 CAST(sum(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS c2
          FROM orders
          WHERE year(o_orderdate) IN (1995, 1996)
          GROUP BY floor(o_totalprice)),
        c AS (
          SELECT v,
                 CAST(sum(c1) OVER () AS BIGINT) AS t1,
                 CAST(sum(c2) OVER () AS BIGINT) AS t2,
                 CAST(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
                 CAST(sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
          FROM sup),
        diffs AS (
          SELECT v, t1, t2,
                 abs((1000 * cum1) // t1 - (1000 * cum2) // t2) AS diff
          FROM c),
        m AS (SELECT *, CAST(max(diff) OVER () AS BIGINT) AS ks FROM diffs)
        SELECT t1 AS n_1995, t2 AS n_1996, ks AS ks_milli,
               CAST(min(v) AS BIGINT) AS at_value
        FROM m WHERE diff = ks
        GROUP BY t1, t2, ks""")),

    // ----- isotonic regression / monotone calibration (q91) -----------------
    // The score-calibration seat (Platt/isotonic, reward-model and ranker
    // calibration): fit the best NONDECREASING curve of average order
    // value against order frequency, by weighted least squares — the
    // pool-adjacent-violators (PAVA) fit. Shape: ONE corpus agg to the
    // O(distinct frequency) series of exact integer (weight, cents-sum)
    // pairs; the inherently sequential PAVA stack fold runs as a
    // single-task kernel over that series (violator comparisons are exact
    // long cross-products, never float). The oracle is the INDEPENDENT
    // minimax closed form iso_i = max_{j<=i} min_{k>=i} mean(y[j..k]) —
    // interval sums are integers exact in double, so both formulations
    // floor to identical millis. (At >2^53 total cents the cross-products
    // and oracle doubles both need widening — documented, fixture-safe.)
    QueryDef(
      "q91_isotonic_calibration",
      (s, d) => {
        import s.implicits._
        val ser = Tables.orders(s, d)
          .groupBy($"o_custkey")
          .agg(count(lit(1)).as("f"),
            sum(floor($"o_totalprice" * 100).cast("long")).as("c"))
          .groupBy($"f")
          .agg(count(lit(1)).as("w"), sum($"c").as("sc"))
        isotonicFit(ser)
      },
      oracle = Some("""
        WITH per AS (
          SELECT o_custkey, CAST(count(*) AS BIGINT) AS f,
                 CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS c
          FROM orders GROUP BY o_custkey),
        ser AS (
          SELECT f, CAST(count(*) AS BIGINT) AS w, CAST(sum(c) AS BIGINT) AS sc
          FROM per GROUP BY f),
        idx AS (
          SELECT f, w, sc,
                 CAST(row_number() OVER (ORDER BY f) AS BIGINT) AS i,
                 CAST(sum(w) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
                 CAST(sum(sc) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
          FROM ser),
        -- all interval means (j..k), j and k 1-based series indexes
        iv AS (
          SELECT j.i AS j, k.i AS k,
                 CAST(k.cs - (j.cs - j.sc) AS DOUBLE) /
                 CAST(k.cw - (j.cw - j.w) AS DOUBLE) AS m
          FROM idx j JOIN idx k ON j.i <= k.i),
        -- minimax: iso_i = max over j<=i of (min over k>=i of mean(j..k))
        mn AS (
          SELECT a.i, iv.j, min(iv.m) AS mn
          FROM idx a JOIN iv ON iv.j <= a.i AND iv.k >= a.i
          GROUP BY a.i, iv.j),
        iso AS (SELECT i, max(mn) AS iso_val FROM mn GROUP BY i)
        SELECT idx.f, idx.w,
               CAST(floor(1000 * CAST(idx.sc AS DOUBLE) / CAST(idx.w AS DOUBLE)) AS BIGINT) AS raw_milli,
               CAST(floor(1000 * iso.iso_val) AS BIGINT) AS iso_milli
        FROM idx JOIN iso USING (i)
        ORDER BY f""")),

    // ----- MAD robust outlier report (q92) ----------------------------------
    // q73 winsorizes against fixed percentiles; this is the robust
    // Z-SCORE: per group, the median and the median absolute deviation
    // (MAD — breakdown point 50%, unlike stddev's 0), then each row's
    // robust z = |x - median| / MAD in millis and the count beyond 3.5
    // (the Iglewicz-Hoban cut; the 1.4826 normal-consistency factor is
    // deliberately NOT folded in — the threshold is on raw MAD units,
    // identical on both engines). Both medians come from the shared
    // two-level range-partition selection (q45/q73) — constant-size
    // windows at any scale; the MAD pass runs on the deviation HISTOGRAM,
    // never a second raw sort. Everything is exact integer cents.
    QueryDef(
      "q92_mad_outliers",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val cents = floor($"l_extendedprice" * 100).cast("long")
        val med = percentileDiscTwoLevel(li, $"l_returnflag", cents, Seq(0.5))
          .select($"st", $"c".as("med_c"))
        // dev feeds the MAD percentile pass and the final outlier
        // aggregate, and is deliberately NOT persisted (the round-10 A/B
        // the round-9 verdict asked for, both alternatives measured):
        //  - persisted (round 9's intent), the ~7 MB cached frame is
        //    AQE-coalesced to ~1 partition and every CPU-heavy consumer
        //    serializes on it (measured 2026-08, sf0.1, local[32]:
        //    executor task-seconds 1.9 -> 8.2, wall 3.1 -> 11.1 s — the
        //    exact cached-frame/coalescing interaction the verdict
        //    flagged);
        //  - a (st, |c-med|) histogram rewrite ADDS a full O(distinct
        //    cents) exchange the current shape never pays (taskSec 5.8,
        //    shuffle 0.4 -> 10.5 MB): dev is a narrow broadcast-join, the
        //    MAD fine pass only reads rows inside the one straddling
        //    coarse bucket, and the final agg's map-side partial
        //    collapses to 3 rows per partition.
        // Recomputing the narrow scan in its three consumers, in
        // parallel, is the cheapest execution at sf0.1 AND the scalable
        // one (§5: cache only when recompute beats the memory pressure).
        val dev = li.select($"l_returnflag".as("st"), cents.as("c"))
          .join(broadcast(med), Seq("st"))
          .withColumn("ad", abs($"c" - $"med_c"))
        val mad = percentileDiscTwoLevel(dev, $"st", $"ad", Seq(0.5))
          .select($"st", $"c".as("mad_c"))
        dev.join(broadcast(mad), Seq("st"))
          .withColumn("rz_milli", expr("(1000 * ad) div greatest(mad_c, 1)"))
          .groupBy($"st")
          .agg(count(lit(1)).as("n"),
            first($"med_c").as("median_c"), first($"mad_c").as("mad_c"),
            sum(when($"rz_milli" > 3500, 1L).otherwise(0L)).as("n_outliers"),
            max($"rz_milli").as("max_rz_milli"))
          .select($"st".as("l_returnflag"), $"n", $"median_c", $"mad_c",
            $"n_outliers", $"max_rz_milli")
          .orderBy($"l_returnflag")
      },
      oracle = Some("""
        WITH hist AS (
          SELECT l_returnflag AS st, CAST(floor(l_extendedprice * 100) AS BIGINT) AS c,
                 CAST(count(*) AS BIGINT) AS hn
          FROM lineitem GROUP BY 1, 2),
        cd AS (
          SELECT st, c,
                 CAST(sum(hn) OVER (PARTITION BY st ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 / CAST(sum(hn) OVER (PARTITION BY st) AS BIGINT) AS d
          FROM hist),
        med AS (SELECT st, CAST(min(CASE WHEN d >= 0.5 THEN c END) AS BIGINT) AS med_c
                FROM cd GROUP BY st),
        dh AS (
          SELECT h.st, abs(c - med_c) AS ad, CAST(sum(hn) AS BIGINT) AS hn
          FROM hist h JOIN med USING (st)
          GROUP BY h.st, abs(c - med_c)),
        cd2 AS (
          SELECT st, ad,
                 CAST(sum(hn) OVER (PARTITION BY st ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 / CAST(sum(hn) OVER (PARTITION BY st) AS BIGINT) AS d
          FROM dh),
        mad AS (SELECT st, CAST(min(CASE WHEN d >= 0.5 THEN ad END) AS BIGINT) AS mad_c
                FROM cd2 GROUP BY st),
        rep AS (
          SELECT d2.st, d2.hn, me.med_c, m.mad_c,
                 (1000 * d2.ad) // greatest(m.mad_c, 1) AS rz
          FROM dh d2 JOIN mad m USING (st) JOIN med me USING (st))
        SELECT st AS l_returnflag, CAST(sum(hn) AS BIGINT) AS n,
               med_c AS median_c, mad_c,
               CAST(sum(CASE WHEN rz > 3500 THEN hn ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(max(rz) AS BIGINT) AS max_rz_milli
        FROM rep GROUP BY st, med_c, mad_c
        ORDER BY l_returnflag""")),

    // ----- cohort lifetime value via keyed Kaplan-Meier (q93) ---------------
    // q85's curve per acquisition cohort, reduced to the number LTV models
    // consume: expected lifetime = the area under each cohort's survival
    // step curve (sum of interval-length x S-before, exact week-millis).
    // The keyed variant runs every per-cohort series fold IN PARALLEL
    // (flatMapGroups — cohorts partition the work; each group's series is
    // O(distinct weeks)); at-risk counts are cohort-partitioned windows.
    // Zero-churn cohorts surface with S=1000 and zero area via the size
    // join, not silent absence. The oracle replays the identical
    // (S, area, d) recurrence as ONE cohort-keyed recursive CTE.
    QueryDef(
      "q93_cohort_ltv",
      (s, d) => {
        import s.implicits._
        val per = Tables.orders(s, d)
          .groupBy($"o_custkey")
          .agg(min($"o_orderdate").as("first_ts"), max($"o_orderdate").as("last_ts"))
        val wall = Window.partitionBy(lit(1))
        val lab = per
          .withColumn("end_ts", max($"last_ts").over(wall))
          .select(date_trunc("quarter", $"first_ts").as("cohort"),
            expr("CAST(datediff(last_ts, first_ts) div 7 AS BIGINT)").as("t"),
            (datediff($"end_ts", $"last_ts") > 90).as("churned"))
        val ser = lab.groupBy($"cohort", $"t")
          .agg(sum(when($"churned", 1L).otherwise(0L)).as("d"), count(lit(1)).as("m"))
        val wrev = Window.partitionBy($"cohort").orderBy($"t".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ev = ser.withColumn("n_at_risk", sum($"m").over(wrev))
          .filter($"d" > 0)
          .select($"cohort", $"t", $"d", $"n_at_risk")
          .as[(java.sql.Timestamp, Long, Long, Long)]
        val folded = ev.groupByKey(_._1).flatMapGroups { (cohort, it) =>
          val rows = it.toArray.sortBy(_._2)
          var sm = 1000L; var prevT = 0L; var area = 0L; var churned = 0L
          rows.foreach { case (_, t, dd, n) =>
            area += (t - prevT) * sm
            sm = (sm * (n - dd)) / n
            prevT = t; churned += dd
          }
          Iterator((cohort, churned, sm, area))
        }.toDF("cohort", "n_churned", "final_surv_milli", "area")
        lab.groupBy($"cohort").agg(count(lit(1)).as("n_customers"))
          .join(folded, Seq("cohort"), "left")
          .select($"cohort", $"n_customers",
            coalesce($"n_churned", lit(0L)).as("n_churned"),
            coalesce($"final_surv_milli", lit(1000L)).as("final_surv_milli"),
            coalesce($"area", lit(0L)).as("exp_lifetime_week_milli"))
          .orderBy($"cohort")
      },
      oracle = Some("""
        WITH RECURSIVE per AS (
          SELECT o_custkey, min(o_orderdate) AS first_ts, max(o_orderdate) AS last_ts
          FROM orders GROUP BY o_custkey),
        lab AS (
          SELECT date_trunc('quarter', first_ts) AS cohort,
                 date_diff('day', CAST(first_ts AS DATE), CAST(last_ts AS DATE)) // 7 AS t,
                 date_diff('day', CAST(last_ts AS DATE),
                   CAST((SELECT max(last_ts) FROM per) AS DATE)) > 90 AS churned
          FROM per),
        ser AS (
          SELECT cohort, t, CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS m
          FROM lab GROUP BY cohort, t),
        ev AS (
          SELECT cohort, CAST(row_number() OVER (PARTITION BY cohort ORDER BY t) AS BIGINT) AS i,
                 t, d, n_at_risk
          FROM (SELECT cohort, t, d,
                  CAST(sum(m) OVER (PARTITION BY cohort ORDER BY t DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
                FROM ser)
          WHERE d > 0),
        rec AS (
          SELECT cohort, i, t,
                 CAST((1000 * (n_at_risk - d)) // n_at_risk AS BIGINT) AS s,
                 CAST(t * 1000 AS BIGINT) AS area,
                 d AS cum_d
          FROM ev WHERE i = 1
          UNION ALL
          SELECT e.cohort, e.i, e.t,
                 (r.s * (e.n_at_risk - e.d)) // e.n_at_risk,
                 r.area + (e.t - r.t) * r.s,
                 r.cum_d + e.d
          FROM rec r JOIN ev e ON e.cohort = r.cohort AND e.i = r.i + 1),
        fin AS (
          SELECT r.cohort, r.cum_d, r.s, r.area
          FROM rec r JOIN (SELECT cohort, max(i) AS mi FROM ev GROUP BY cohort) l
            ON r.cohort = l.cohort AND r.i = l.mi),
        sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_customers
                  FROM lab GROUP BY cohort)
        SELECT sizes.cohort, n_customers,
               CAST(coalesce(cum_d, 0) AS BIGINT) AS n_churned,
               CAST(coalesce(s, 1000) AS BIGINT) AS final_surv_milli,
               CAST(coalesce(area, 0) AS BIGINT) AS exp_lifetime_week_milli
        FROM sizes LEFT JOIN fin USING (cohort)
        ORDER BY cohort""")),

    // ----- Benford first-digit audit (q94) ----------------------------------
    // The forensic-accounting screen: natural amount distributions follow
    // Benford's law (P(d) = log10(1 + 1/d)); fabricated or capped data
    // does not. Per leading digit of the integer order value: observed vs
    // expected share (expected log-millis carried as the same 9 literals
    // on both engines — no libm at query time) and the chi-square
    // contribution in exact integer micros, q75's floor-before-sum
    // recipe. ONE hash agg to 9 rows; digits with zero observations
    // surface explicitly through the expected-table left join. (Deviation
    // squares need widening past ~10^9 rows per digit — q75's documented
    // bound.)
    QueryDef(
      "q94_benford_audit",
      (s, d) => {
        import s.implicits._
        val digits = Tables.orders(s, d)
          .select(substring(floor($"o_totalprice").cast("long").cast("string"), 1, 1)
            .cast("long").as("dg"))
          .groupBy($"dg").agg(count(lit(1)).as("nd"))
        val expTab = Seq((1L, 301L), (2L, 176L), (3L, 124L), (4L, 96L), (5L, 79L),
          (6L, 66L), (7L, 57L), (8L, 51L), (9L, 45L)).toDF("dg", "exp_milli")
        val wall = Window.partitionBy(lit(1))
        expTab.join(digits, Seq("dg"), "left")
          .withColumn("nd", coalesce($"nd", lit(0L)))
          .withColumn("n", sum($"nd").over(wall))
          .withColumn("ed", expr("(n * exp_milli) div 1000"))
          .select($"dg", $"nd",
            expr("(1000 * nd) div n").as("obs_milli"), $"exp_milli",
            expr("(1000000 * (nd - ed) * (nd - ed)) div greatest(ed, 1)").as("chi2_micro"))
          .orderBy($"dg")
      },
      oracle = Some("""
        WITH digits AS (
          SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS dg,
                 CAST(count(*) AS BIGINT) AS nd
          FROM orders GROUP BY 1),
        expected(dg, exp_milli) AS (VALUES
          (CAST(1 AS BIGINT), CAST(301 AS BIGINT)), (2, 176), (3, 124), (4, 96),
          (5, 79), (6, 66), (7, 57), (8, 51), (9, 45)),
        j AS (
          SELECT e.dg, CAST(coalesce(d.nd, 0) AS BIGINT) AS nd, e.exp_milli
          FROM expected e LEFT JOIN digits d ON e.dg = d.dg),
        t AS (
          SELECT *, CAST(sum(nd) OVER () AS BIGINT) AS n FROM j),
        f AS (
          SELECT *, (n * exp_milli) // 1000 AS ed FROM t)
        SELECT dg, nd, (1000 * nd) // n AS obs_milli, exp_milli,
               (1000000 * (nd - ed) * (nd - ed)) // greatest(ed, 1) AS chi2_micro
        FROM f
        ORDER BY dg""")),

    // ----- difference-in-differences estimator (q95) ------------------------
    // The causal-inference workhorse q75's randomized A/B cannot replace
    // when treatment wasn't randomized: DiD = (treated post - treated pre)
    // - (control post - control pre), here BUILDING-segment customers
    // (treated) vs the rest across 1995->1996 on mean order value. ONE
    // conditional hash agg produces the four cells; means are exact
    // integer MICRO-cents (truncating div) so the estimator is engine-
    // exact; the parallel-trends caveat is the analyst's, not the
    // engine's. (Micro-cent products overflow past ~10^12 total cents per
    // cell — q94's documented widening bound.)
    QueryDef(
      "q95_diff_in_diff",
      (s, d) => {
        import s.implicits._
        val base = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")),
            $"o_custkey" === $"c_custkey")
          .filter(year($"o_orderdate").isin(1995, 1996))
          .select(($"c_mktsegment" === "BUILDING").as("treated"),
            (year($"o_orderdate") === 1996).as("post"),
            floor($"o_totalprice" * 100).cast("long").as("c"))
        base.groupBy($"treated", $"post")
          .agg(count(lit(1)).as("n"), sum($"c").as("sc"))
          .agg(
            sum(when($"treated" && $"post", expr("(1000000 * sc) div n"))).as("t_post"),
            sum(when($"treated" && !$"post", expr("(1000000 * sc) div n"))).as("t_pre"),
            sum(when(!$"treated" && $"post", expr("(1000000 * sc) div n"))).as("c_post"),
            sum(when(!$"treated" && !$"post", expr("(1000000 * sc) div n"))).as("c_pre"),
            sum($"n").as("n_orders"))
          .select($"n_orders", $"t_pre", $"t_post", $"c_pre", $"c_post",
            (($"t_post" - $"t_pre") - ($"c_post" - $"c_pre")).as("did_microc"))
      },
      oracle = Some("""
        WITH base AS (
          SELECT (c_mktsegment = 'BUILDING') AS treated,
                 (year(o_orderdate) = 1996) AS post,
                 CAST(floor(o_totalprice * 100) AS BIGINT) AS c
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE year(o_orderdate) IN (1995, 1996)),
        cells AS (
          SELECT treated, post, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS sc
          FROM base GROUP BY treated, post),
        m AS (
          SELECT
            CAST(sum(CASE WHEN treated AND post THEN (1000000 * sc) // n END) AS BIGINT) AS t_post,
            CAST(sum(CASE WHEN treated AND NOT post THEN (1000000 * sc) // n END) AS BIGINT) AS t_pre,
            CAST(sum(CASE WHEN NOT treated AND post THEN (1000000 * sc) // n END) AS BIGINT) AS c_post,
            CAST(sum(CASE WHEN NOT treated AND NOT post THEN (1000000 * sc) // n END) AS BIGINT) AS c_pre,
            CAST(sum(n) AS BIGINT) AS n_orders
          FROM cells)
        SELECT n_orders, t_pre, t_post, c_pre, c_post,
               (t_post - t_pre) - (c_post - c_pre) AS did_microc
        FROM m""")),

    // ----- exact pro-rata allocation, largest remainder (q96) ---------------
    // The billing/finance primitive: a header-level amount (here a 5%
    // order discount in cents) split across the order's lines in
    // proportion to value, with NO cent created or destroyed — floor
    // shares, then the remainder cents go to the lines with the largest
    // fractional parts (explicit (remainder desc, linenumber) tie order;
    // t30's largest-remainder discipline at line grain). All windows
    // partition by order key — bounded by lines per order, never
    // corpus-sized — and conservation (sum alloc = header amount) holds
    // per order by construction, asserted in the spec.
    QueryDef(
      "q96_prorate_allocation",
      (s, d) => {
        import s.implicits._
        val wo = Window.partitionBy($"l_orderkey")
        Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_linenumber".cast("long").as("ln"),
            floor($"l_extendedprice" * 100).cast("long").as("v"))
          .withColumn("vtot", sum($"v").over(wo))
          .withColumn("dd", expr("vtot div 20"))
          .withColumn("base_c", expr("(dd * v) div vtot"))
          .withColumn("rk", row_number().over(Window.partitionBy($"l_orderkey")
            .orderBy(expr("(dd * v) % vtot").desc, $"ln")).cast("long"))
          .withColumn("rem", expr("dd - sum(base_c) over (partition by l_orderkey)"))
          .select($"l_orderkey", $"ln", $"v", $"dd",
            expr("base_c + IF(rk <= rem, 1, 0)").as("alloc_c"))
          .orderBy($"l_orderkey", $"ln")
      },
      oracle = Some("""
        WITH li AS (
          SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
                 CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
          FROM lineitem),
        w AS (
          SELECT *, CAST(sum(v) OVER (PARTITION BY l_orderkey) AS BIGINT) AS vtot
          FROM li),
        b AS (
          SELECT *, vtot // 20 AS dd, ((vtot // 20) * v) // vtot AS base_c,
                 ((vtot // 20) * v) % vtot AS fr
          FROM w),
        r AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY l_orderkey
                   ORDER BY fr DESC, ln) AS BIGINT) AS rk,
                 dd - CAST(sum(base_c) OVER (PARTITION BY l_orderkey) AS BIGINT) AS rem
          FROM b)
        SELECT l_orderkey, ln, v, dd,
               base_c + (CASE WHEN rk <= rem THEN 1 ELSE 0 END) AS alloc_c
        FROM r
        ORDER BY l_orderkey, ln""")),

    // ----- Mann-Whitney rank-sum test (q97) ---------------------------------
    // The nonparametric two-sample test beside q88's KS: does the BUILDING
    // segment's order-value distribution stochastically dominate the
    // rest? Ranks come from the value HISTOGRAM (one hash agg + windows
    // over the O(distinct values) support — raw rows are never sorted);
    // ties take average ranks kept integer by the doubled-rank trick
    // (2*avg = 2*rmin + c - 1). Outputs both doubled U statistics (their
    // sum must be 2*n1*n2 — the classic identity, spec-asserted) and the
    // tie-corrected normal z in millis via one identical double formula
    // on exact integer inputs (q79's recipe).
    QueryDef(
      "q97_mann_whitney",
      (s, d) => {
        import s.implicits._
        val base = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")),
            $"o_custkey" === $"c_custkey")
          .select(($"c_mktsegment" === "BUILDING").as("a"),
            floor($"o_totalprice" * 100).cast("long").as("v"))
        val hist = base.groupBy($"v")
          .agg(sum(when($"a", 1L).otherwise(0L)).as("n1"),
            sum(when(!$"a", 1L).otherwise(0L)).as("n2"))
          .withColumn("c", $"n1" + $"n2")
        val wv = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, -1)
        val wall = Window.partitionBy(lit(1))
        hist
          .withColumn("before", coalesce(sum($"c").over(wv), lit(0L)))
          .withColumn("ravg2", expr("2 * (before + 1) + c - 1"))
          .withColumn("t1", sum($"n1").over(wall))
          .withColumn("t2", sum($"n2").over(wall))
          .withColumn("ties3", expr("c * c * c - c"))
          .agg(first($"t1").as("n1"), first($"t2").as("n2"),
            sum(expr("n1 * ravg2")).as("r1_x2"),
            sum($"ties3").as("tie3"))
          .select($"n1", $"n2",
            expr("r1_x2 - n1 * (n1 + 1)").as("u1_x2"),
            expr("2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1))").as("u2_x2"),
            expr("""CAST(floor(1000 *
                (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0) /
                sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
                  (CAST(n1 + n2 + 1 AS DOUBLE)
                   - CAST(tie3 AS DOUBLE) /
                     (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))) AS BIGINT)""")
              .as("z_milli"))
      },
      oracle = Some("""
        WITH base AS (
          SELECT (c_mktsegment = 'BUILDING') AS a,
                 CAST(floor(o_totalprice * 100) AS BIGINT) AS v
          FROM orders JOIN customer ON o_custkey = c_custkey),
        hist AS (
          SELECT v, CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n2
          FROM base GROUP BY v),
        w AS (
          SELECT *, n1 + n2 AS c,
                 CAST(coalesce(sum(n1 + n2) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before,
                 CAST(sum(n1) OVER () AS BIGINT) AS t1,
                 CAST(sum(n2) OVER () AS BIGINT) AS t2
          FROM hist),
        m AS (
          SELECT max(t1) AS n1, max(t2) AS n2,
                 CAST(sum(n1 * (2 * (before + 1) + c - 1)) AS BIGINT) AS r1_x2,
                 CAST(sum(c * c * c - c) AS BIGINT) AS tie3
          FROM w)
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               r1_x2 - n1 * (n1 + 1) AS u1_x2,
               2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS u2_x2,
               CAST(floor(1000 *
                 (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                  - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0) /
                 sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
                   (CAST(n1 + n2 + 1 AS DOUBLE)
                    - CAST(tie3 AS DOUBLE) /
                      (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))) AS BIGINT)
                 AS z_milli
        FROM m""")),

    // ----- Gini concentration coefficient (q98) -----------------------------
    // q82 classifies the Pareto head; Gini measures the WHOLE inequality
    // curve — per market segment, how concentrated customer revenue is
    // (0 = equal, ->1 = one whale). The rank-weighted sum comes from the
    // revenue HISTOGRAM: an equal-value run of c customers starting after
    // `before` others contributes v*c*(2*before+c+1) to twice the
    // Lorenz numerator — exact integers, no row-level sort (q97's
    // histogram-rank discipline), windows over O(distinct revenues) per
    // segment. G_milli = (1000*(2S - (n+1)T)) div (nT).
    QueryDef(
      "q98_gini_concentration",
      (s, d) => {
        import s.implicits._
        val per = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")),
            $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment", $"o_custkey")
          .agg(sum(floor($"o_totalprice" * 100).cast("long")).as("rev"))
        val hist = per.groupBy($"c_mktsegment".as("seg"), $"rev".as("v"))
          .agg(count(lit(1)).as("c"))
        val wseg = Window.partitionBy($"seg").orderBy($"v")
          .rowsBetween(Window.unboundedPreceding, -1)
        hist
          .withColumn("before", coalesce(sum($"c").over(wseg), lit(0L)))
          .withColumn("s2", expr("v * c * (2 * before + c + 1)"))
          .groupBy($"seg")
          .agg(sum($"c").as("n"), sum(expr("v * c")).as("total_c"), sum($"s2").as("s2t"))
          .select($"seg", $"n", $"total_c",
            expr("(1000 * (s2t - (n + 1) * total_c)) div (n * total_c)").as("gini_milli"))
          .orderBy($"seg")
      },
      oracle = Some("""
        WITH per AS (
          SELECT c_mktsegment AS seg, o_custkey,
                 CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS rev
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment, o_custkey),
        hist AS (
          SELECT seg, rev AS v, CAST(count(*) AS BIGINT) AS c
          FROM per GROUP BY seg, rev),
        w AS (
          SELECT *, CAST(coalesce(sum(c) OVER (PARTITION BY seg ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
          FROM hist),
        m AS (
          SELECT seg, CAST(sum(c) AS BIGINT) AS n,
                 CAST(sum(v * c) AS BIGINT) AS total_c,
                 CAST(sum(v * c * (2 * before + c + 1)) AS BIGINT) AS s2t
          FROM w GROUP BY seg)
        SELECT seg, n, total_c,
               (1000 * (s2t - (n + 1) * total_c)) // (n * total_c) AS gini_milli
        FROM m
        ORDER BY seg""")),

    // ----- customer segment migration matrix (q101) -------------------------
    // The CRM year-over-year transition matrix: each customer's activity
    // tier in 1995 vs 1996 (single/repeat/multi orders, or inactive),
    // counted per (from, to) cell — the input to churn/upgrade funnels
    // and Markov LTV models. Two O(customers) per-year aggregates from
    // ONE conditional scan, a full-outer join on the customer key
    // (absence = 'inactive' on that side), one matrix-sized count. Tier
    // cuts are explicit integer thresholds — engine-exact.
    QueryDef(
      "q101_segment_migration",
      (s, d) => {
        import s.implicits._
        val per = Tables.orders(s, d)
          .filter(year($"o_orderdate").isin(1995, 1996))
          .groupBy($"o_custkey")
          .agg(sum(when(year($"o_orderdate") === 1995, 1L).otherwise(0L)).as("n95"),
            sum(when(year($"o_orderdate") === 1996, 1L).otherwise(0L)).as("n96"))
        def tier(c: org.apache.spark.sql.Column) =
          when(c >= 3, "multi").when(c === 2, "repeat")
            .when(c === 1, "single").otherwise("inactive")
        per.select(tier($"n95").as("from_tier"), tier($"n96").as("to_tier"))
          .groupBy($"from_tier", $"to_tier")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy($"from_tier", $"to_tier")
      },
      oracle = Some("""
        WITH per AS (
          SELECT o_custkey,
                 CAST(sum(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS n95,
                 CAST(sum(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS n96
          FROM orders
          WHERE year(o_orderdate) IN (1995, 1996)
          GROUP BY o_custkey),
        t AS (
          SELECT CASE WHEN n95 >= 3 THEN 'multi' WHEN n95 = 2 THEN 'repeat'
                      WHEN n95 = 1 THEN 'single' ELSE 'inactive' END AS from_tier,
                 CASE WHEN n96 >= 3 THEN 'multi' WHEN n96 = 2 THEN 'repeat'
                      WHEN n96 = 1 THEN 'single' ELSE 'inactive' END AS to_tier
          FROM per)
        SELECT from_tier, to_tier, CAST(count(*) AS BIGINT) AS n_customers
        FROM t GROUP BY from_tier, to_tier
        ORDER BY from_tier, to_tier""")))

  /** Per-group OLS fit from sufficient statistics (q76), exposed as a
    * library call over any (seg, x, y) integer frame: one hash agg of the
    * five exact integer moments per group, then slope/intercept/R² as one
    * identical double formula — nothing but the moment agg ever shuffles.
    * Output: (seg, n, slope_micro, intercept_milli, r2_milli).
    *
    * Example (run verbatim by DocExamplesSpec) — a perfect line comes
    * back exactly:
    * {{{
    * val line = (0L until 10L).map(x => ("a", x, 3 * x + 7)).toDF("seg", "x", "y")
    * val r = ExtraRelationalQueries.olsFit(line).head()
    * (r.getLong(2), r.getLong(3), r.getLong(4)) == ((3000000L, 7000L, 1000L))
    * }}} */
  def olsFit(xy: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    xy.groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).as("sy2"))
      .withColumn("slope_micro", expr(
        """cast(floor(1000000 *
           (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) /
           (cast(n as double) * cast(sx2 as double) - cast(sx as double) * cast(sx as double)))
           as bigint)"""))
      .withColumn("intercept_milli", expr(
        """cast(floor(1000 * (cast(sy as double) -
           (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) /
           (cast(n as double) * cast(sx2 as double) - cast(sx as double) * cast(sx as double)) *
           cast(sx as double)) / cast(n as double)) as bigint)"""))
      .withColumn("r2_milli", expr(
        """cast(floor(1000 *
           (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) *
           (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) /
           ((cast(n as double) * cast(sx2 as double) - cast(sx as double) * cast(sx as double)) *
            (cast(n as double) * cast(sy2 as double) - cast(sy as double) * cast(sy as double))))
           as bigint)"""))
      .select(col("seg"), col("n"), col("slope_micro"),
        col("intercept_milli"), col("r2_milli"))

  /** Two-level range-partition exact percentile_disc over an integer-cents
    * expression, grouped by `stCol`: returns (st, p, c) — for each group
    * and target fraction, the minimum value whose cumulative fraction
    * >= p (the ANSI cume_dist definition). Pass 1 finds the 65536-cent
    * coarse bucket holding each target rank (parallel hash agg, O(200)
    * entries per group at ANY data size); pass 2 resolves the exact cents
    * value inside only those buckets. Both windows are constant-size by
    * construction — no window ever sees raw rows (q45/q22's discipline,
    * shared by q73's winsorization). */
  /** The drift report both q60 and q102 declare (one ProfileDriftOracleSql
    * contract): explode-unpivot + two-level aggregation — see the q102
    * QueryDef comment for the plan-shape argument. */
  private def profileDriftReport(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val split = lit("1995-06-01").cast("date")
    val pairs = Tables.lineitem(s, d)
      .select(($"l_shipdate" < split).as("ina"), explode(array(
        struct(lit("qty_c").as("c"),
          floor($"l_quantity" * 100).cast("long").as("v"),
          lit(true).as("num")),
        struct(lit("price_c").as("c"),
          floor($"l_extendedprice" * 100).cast("long").as("v"),
          lit(true).as("num")),
        struct(lit("disc_m").as("c"),
          floor($"l_discount" * 1000).cast("long").as("v"),
          lit(true).as("num")),
        struct(lit("l_returnflag").as("c"),
          ascii($"l_returnflag").cast("long").as("v"),
          lit(false).as("num")))).as("p"))
      .select($"ina", $"p.c", $"p.v", $"p.num")
    pairs
      .groupBy($"c", $"v", $"num")
      .agg(count(when($"ina", lit(1))).as("na"),
        count(when(!$"ina", lit(1))).as("nb"))
      .groupBy($"c", $"num")
      .agg(sum($"na").as("n_a"), sum($"nb").as("n_b"),
        count(when($"na" > 0, lit(1))).as("distinct_a"),
        count(when($"nb" > 0, lit(1))).as("distinct_b"),
        sum(when($"num", $"v" * $"na").otherwise(lit(0L))).as("s_a"),
        sum(when($"num", $"v" * $"nb").otherwise(lit(0L))).as("s_b"))
      .select($"c".as("column"), $"n_a", $"n_b", $"distinct_a", $"distinct_b",
        expr("s_a div greatest(n_a, 1L)").as("avg_a"),
        expr("s_b div greatest(n_b, 1L)").as("avg_b"),
        when($"num", floor(
          abs(expr("s_b div greatest(n_b, 1L)") - expr("s_a div greatest(n_a, 1L)")) *
            lit(1000.0) / greatest(abs(expr("s_a div greatest(n_a, 1L)")), lit(1L)))
          .cast("long")).otherwise(lit(0L)).as("drift_milli"))
      .orderBy($"column")
  }

  private def percentileDiscTwoLevel(li: org.apache.spark.sql.DataFrame,
      stCol: org.apache.spark.sql.Column, cents: org.apache.spark.sql.Column,
      targets: Seq[Double]): org.apache.spark.sql.DataFrame = {
    val coarse = li.groupBy(stCol.as("st"), (cents / 65536L).cast("long").as("b"))
      .agg(count(lit(1)).as("hn"))
    val wb = Window.partitionBy(col("st")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cb = coarse
      .withColumn("cum", sum(col("hn")).over(wb))
      .withColumn("n", sum(col("hn")).over(Window.partitionBy(col("st"))))
    // one explode-filter pass over the bucket histogram for ALL targets —
    // not a per-target union of cb branches (q103 measured the union form
    // at ~4x the runtime: each branch re-derives the histogram plan)
    val picks = cb
      .select(col("st"), col("b"), col("hn"), col("cum"), col("n"),
        explode(array(targets.map(lit): _*)).as("p"))
      .filter(col("cum") / col("n") >= col("p") &&
        (col("cum") - col("hn")) / col("n") < col("p"))
      .select(col("st"), col("p"), col("b"),
        (col("cum") - col("hn")).as("before"), col("n"))
    val fine = li
      .select(stCol.as("st"), cents.as("c"), (cents / 65536L).cast("long").as("b"))
      .join(broadcast(picks), Seq("st", "b"))
      .groupBy(col("st"), col("p"), col("before"), col("n"), col("c"))
      .agg(count(lit(1)).as("fn"))
    val wf = Window.partitionBy(col("st"), col("p")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fine
      .withColumn("cum", col("before") + sum(col("fn")).over(wf))
      .filter(col("cum") / col("n") >= col("p") &&
        (col("cum") - col("fn")) / col("n") < col("p"))
      .select(col("st"), col("p"), col("c"))
  }

  /** ANSI MERGE INTO semantics as one full-outer join (q72), exposed as a
    * library call. `target` keyed uniquely by `key`; `source` rows carry a
    * delta column. Matched rows apply the update expression, source-only
    * rows insert, target-only rows pass through — each row classified
    * (updated / inserted / unchanged). This is the transactional MERGE's
    * dataflow semantics on plain tables: one shuffle on the key, no
    * row-at-a-time lookups; pair it with a partitioned rewrite
    * (LayoutQueries.compact's discipline) for the storage side.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val target = Seq((1L, 100L), (2L, 200L)).toDF("k", "tval")
    * val deltas = Seq((2L, -50L), (9L, 700L)).toDF("k", "delta")
    * ExtraRelationalQueries.mergeUpsert(target, deltas)
    *   .orderBy("k").collect().map(_.toSeq) ==
    *   Seq(Seq(1L, "unchanged", 100L), Seq(2L, "updated", 150L),
    *       Seq(9L, "inserted", 700L))
    * }}} */
  def mergeUpsert(target: org.apache.spark.sql.DataFrame, source: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    target.join(source, Seq("k"), "full_outer")
      .select(col("k"),
        when(col("tval").isNull, lit("inserted"))
          .when(col("delta").isNull, lit("unchanged"))
          .otherwise(lit("updated")).as("merge_action"),
        (coalesce(col("tval"), lit(0L)) + coalesce(col("delta"), lit(0L))).as("new_val"))

  /** Per-bucket commutative checksum table (q67), exposed as a library
    * call: (bucket, n_rows, xor_sig, sum_sig) from a deterministic
    * poly-hash of the '|'-joined field list. Two replicas diverge exactly
    * in the buckets whose signature rows differ.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val a = Seq((1L, "x", 7L), (2L, "y", 9L)).toDF("k", "s", "v")
    * val shuffled = Seq((2L, "y", 9L), (1L, "x", 7L)).toDF("k", "s", "v")
    * def sig(df: DataFrame) =
    *   checksumReport(df, lit(1), $"k", $"s", $"v").collect().toSeq
    * sig(a) == sig(shuffled)  // commutative: row order never matters
    * }}}
    */
  def checksumReport(df: org.apache.spark.sql.DataFrame, bucket: org.apache.spark.sql.Column,
      fields: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    df.select(bucket.as("bucket"),
        graft.functions.TextFns.polyHash(concat_ws("|", fields: _*)).as("h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_sig"),
        sum(expr("h % 1048576")).as("sum_sig"))
      .orderBy(col("bucket"))

  /** Kaplan-Meier survival curve (q85), exposed as a library call over any
    * `(t: long, churned: boolean)` lifetime table: one row per event time
    * with the at-risk count, event count, and the KM estimate in exact
    * integer millis — S <- (S * (n_i - d_i)) div n_i in event-time order.
    * The input is expected to be pre-aggregated (one row per subject); the
    * curve itself runs on the O(distinct t) series: at-risk counts by a
    * reverse-cumsum window, then the inherently sequential product as a
    * single-task fold over <=O(series) rows — constant-size however large
    * the subject table was.
    *
    * Example (no censoring, lifetimes 1,1,2 => S = 333 then 0):
    * {{{
    *   val lt = Seq((1L, true), (1L, true), (2L, true)).toDF("t", "churned")
    *   ExtraRelationalQueries.kmCurve(lt).show()
    * }}} */
  /** The q104 sweep-line over an arbitrary (l_suppkey, l_shipdate,
    * l_receiptdate) interval table: per key, the peak number of
    * simultaneously open half-open [ship, receipt) intervals, reported as
    * the (peak_open, n_suppliers) histogram. Boundary semantics ride the
    * event sort — at a shared instant the -1 (close) sorts before the +1
    * (open), so back-to-back intervals never count as concurrent.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    * val li = Seq((7L, ts(1), ts(2)), (7L, ts(2), ts(3)), (7L, ts(2), ts(4)))
    *   .toDF("l_suppkey", "l_shipdate", "l_receiptdate")
    * // [1,2) closes exactly as the others open -> peak is 2, not 3
    * ExtraRelationalQueries.shipmentConcurrency(li)
    *   .as[(Long, Long)].head == ((2L, 1L))
    * }}} */
  def shipmentConcurrency(li: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ev = li.select(col("l_suppkey"), col("l_shipdate").as("ts"), lit(1L).as("delta"))
      .unionAll(li.select(col("l_suppkey"), col("l_receiptdate").as("ts"), lit(-1L).as("delta")))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("ts"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("open", sum(col("delta")).over(w))
      .groupBy(col("l_suppkey"))
      .agg(max(col("open")).as("peak_open"))
      .groupBy(col("peak_open"))
      .agg(count(lit(1)).as("n_suppliers"))
      .orderBy(col("peak_open"))
  }

  def kmCurve(lifetimes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = lifetimes.sparkSession
    import s.implicits._
    val ser = lifetimes.groupBy(col("t"))
      .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("m"))
    val wrev = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val events = ser
      .withColumn("n_at_risk", sum(col("m")).over(wrev))
      .filter(col("d") > 0)
      .select(col("t"), col("d"), col("n_at_risk")).as[(Long, Long, Long)]
    events.coalesce(1).sortWithinPartitions(col("t"))
      .mapPartitions { it =>
        var sMilli = 1000L
        it.map { case (t, dd, n) =>
          sMilli = (sMilli * (n - dd)) / n
          (t, dd, n, sMilli)
        }
      }
      .toDF("t", "d_events", "n_at_risk", "surv_milli").orderBy(col("t"))
  }

  /** Weighted isotonic regression (q91), exposed as a library call over an
    * aggregated series `(f: long, w: long, sc: long)` — x value, weight
    * (count), and exact integer y-sum: returns one row per x with the raw
    * mean and the pool-adjacent-violators (PAVA) nondecreasing fit, both
    * floored to millis. Violator detection compares block means as exact
    * long cross-products (S1*W2 > S2*W1), never floats; the final block
    * mean is one double division per block (exact-integer operands). The
    * fold is inherently sequential and runs as a single-task kernel over
    * the O(distinct x) series — constant-size at any corpus scale.
    *
    * Example (the violating middle point pools with its left neighbor):
    * {{{
    *   val ser = Seq((1L, 1L, 4000L), (2L, 1L, 2000L), (3L, 1L, 9000L)).toDF("f", "w", "sc")
    *   ExtraRelationalQueries.isotonicFit(ser).select("iso_milli").as[Long].collect()
    *   // Array(3000000, 3000000, 9000000)
    * }}} */
  def isotonicFit(ser: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    ser.select(col("f"), col("w"), col("sc")).as[(Long, Long, Long)]
      .coalesce(1).sortWithinPartitions(col("f"))
      .mapPartitions { it =>
        val pts = it.toArray
        // PAVA: stack of merged blocks (startIdx, weight, sum)
        val st = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
        pts.zipWithIndex.foreach { case ((_, w, sc), i) =>
          var blk = (i, w, sc)
          while (st.nonEmpty && {
            val (_, pw, ps) = st.last
            // violator iff mean(prev) > mean(new): ps/pw > bs/bw
            ps * blk._2 > blk._3 * pw
          }) {
            val (pi, pw, ps) = st.remove(st.length - 1)
            blk = (pi, pw + blk._2, ps + blk._3)
          }
          st += blk
        }
        val iso = new Array[Long](pts.length)
        st.foreach { case (start, w, sum) =>
          val v = math.floor(1000.0 * sum.toDouble / w.toDouble).toLong
          var i = start
          val end = st.find(_._1 > start).map(_._1).getOrElse(pts.length)
          while (i < end) { iso(i) = v; i += 1 }
        }
        pts.zipWithIndex.iterator.map { case ((f, w, sc), i) =>
          (f, w, math.floor(1000.0 * sc.toDouble / w.toDouble).toLong, iso(i))
        }
      }
      .toDF("f", "w", "raw_milli", "iso_milli")
      .orderBy(col("f"))
  }

  /** 2-D skyline / Pareto frontier (q87's kernel) over any
    * `(l_partkey, unit_c, qty)` points frame: the rows no other row
    * dominates (lower-or-equal `unit_c` AND higher-or-equal `qty`, strict
    * in at least one). No pairwise join: sort by (unit_c asc, qty desc,
    * key), and a point is on the frontier iff its qty strictly exceeds
    * the running max over everything sorted before it — one window, one
    * pass over the aggregate. Of coincident points the smallest key is
    * kept. UNORDERED (q87 adds the orderBy).
    *
    * MERGE-IDEMPOTENT: skyline(A ∪ B) == skyline(skyline(A) ∪ skyline(B))
    * — a locally dominated point is globally dominated by the same
    * surviving dominator, so partition-local frontiers can prune before
    * the global pass (the distributed recipe for frontier sets too big
    * for one task). SketchSpec EXECUTES this law: per-partition skylines,
    * merged, re-skylined, asserted equal to the one-pass form.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * val pts = Seq((1L, 10L, 5L), (2L, 20L, 9L), (3L, 15L, 5L), (4L, 10L, 5L))
    *   .toDF("l_partkey", "unit_c", "qty")
    * // 1 frontier (cheapest at qty 5; coincident 4 loses the key tie);
    * // 2 frontier (more qty at higher price); 3 dominated by 1
    * skyline(pts).orderBy($"l_partkey").as[(Long, Long, Long)]
    *   .collect().toSeq == Seq((1L, 10L, 5L), (2L, 20L, 9L))
    * }}}
    */
  def skyline(pts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.orderBy(col("unit_c").asc, col("qty").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    pts
      .withColumn("best_qty_before", max(col("qty")).over(w))
      .filter(col("best_qty_before").isNull || col("qty") > col("best_qty_before"))
      .select(col("l_partkey"), col("unit_c"), col("qty"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic (q88), exposed as a library
    * call over any pre-aggregated support table `(v: long, c1: long,
    * c2: long)` (value, count in sample A, count in sample B): returns one
    * row (n_a, n_b, ks_milli, at_value) where ks_milli = max over v of
    * |cdfA - cdfB| with each CDF quantized to exact integer millis before
    * the difference, and at_value is the smallest v attaining the max.
    * All windows run over the O(support) table, never raw rows.
    *
    * Example (A all below B: D = 1000 at A's top value):
    * {{{
    *   val sup = Seq((1L, 4L, 0L), (2L, 6L, 0L), (10L, 0L, 5L)).toDF("v", "c1", "c2")
    *   ExtraRelationalQueries.ksReport(sup).show()  // ks_milli=1000, at_value=2
    * }}} */
  def ksReport(sup: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wall = Window.partitionBy(lit(1))
    sup
      .withColumn("t1", sum(col("c1")).over(wall))
      .withColumn("t2", sum(col("c2")).over(wall))
      .withColumn("f1", expr("(1000 * sum(c1) over (order by v rows unbounded preceding)) div t1"))
      .withColumn("f2", expr("(1000 * sum(c2) over (order by v rows unbounded preceding)) div t2"))
      .withColumn("diff", abs(col("f1") - col("f2")))
      .withColumn("ks", max(col("diff")).over(wall))
      .filter(col("diff") === col("ks"))
      .groupBy(col("t1"), col("t2"), col("ks"))
      .agg(min(col("v")).as("at_value"))
      .select(col("t1").as("n_a"), col("t2").as("n_b"),
        col("ks").as("ks_milli"), col("at_value"))
  }

  /** Day-of-week seasonality index + seasonal-naive backtest (q86), exposed
    * as a library call over any `(day: timestamp, rev_c: long)` daily
    * series: per-dow mean vs overall mean in millis, and the MAE of
    * predicting each day with the previous observation of the same weekday.
    * Day-of-week is days-since-1970-01-05 (a Monday) mod 7 — identical on
    * any engine, unlike dayofweek() numbering. All O(days)-sized windows.
    *
    * Example (two identical Mondays forecast each other exactly):
    * {{{
    *   val days = Seq(("2024-01-01", 500L), ("2024-01-08", 500L))
    *     .toDF("d", "rev_c").select(to_timestamp($"d").as("day"), $"rev_c")
    *   ExtraRelationalQueries.seasonalBacktest(days)
    *     .select($"dow", $"mae_c").as[(Long, Long)].head()  // (0, 0)
    * }}} */
  def seasonalBacktest(daily: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = daily
      .withColumn("dow", expr("pmod(datediff(day, DATE '1970-01-05'), 7)").cast("long"))
      .withColumn("prev_c",
        lag(col("rev_c"), 1).over(Window.partitionBy(col("dow")).orderBy(col("day"))))
    val wall = Window.partitionBy(lit(1))
    base.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("rev_c")).as("sum_c"),
        sum(when(col("prev_c").isNotNull, abs(col("rev_c") - col("prev_c")))).as("abs_err_c"),
        sum(when(col("prev_c").isNotNull, 1L).otherwise(0L)).as("n_fc"))
      .withColumn("total_c", sum(col("sum_c")).over(wall))
      .withColumn("total_days", sum(col("n_days")).over(wall))
      .select(col("dow"), col("n_days"),
        expr("sum_c div n_days").as("dow_mean_c"),
        expr("(1000 * (sum_c div n_days)) div (total_c div total_days)").as("index_milli"),
        expr("abs_err_c div n_fc").as("mae_c"))
      .orderBy(col("dow"))
  }
}
