package graft

/** Plan-quality gates (SURVEY.md §4.2): these assert the *shape* of the
  * physical plan, not results — predicate pushdown reaching the parquet
  * scan, column pruning, broadcast joins for dimensions, no cartesian
  * products where an equi-join is expected. A correct-but-badly-planned
  * query fails here before it ever becomes a 100 TB incident. */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: filter is pushed down to the parquet scan") {
    val p = plan("q02_filter_projection")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,49.0)"), p)
  }

  test("q02: scan reads only the needed columns") {
    val p = plan("q02_filter_projection")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_tax") && !read.contains("l_returnflag"),
      s"column pruning failed: $read")
  }

  test("q03: dimension joins are broadcast, fact side not shuffled by join") {
    val p = plan("q03_join_broadcast_star")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q04: fact-fact join is an equi hash join, never a nested loop") {
    // at small sf Catalyst rightly broadcasts the smaller fact; the gate is
    // that it stays an equi join (BHJ/SHJ/SMJ all fine)
    val p = plan("q04_join_shuffle_facts")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("NestedLoop"), p)
  }

  test("q12: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("q12_topk_global")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t17: per-stratum bottom-k pushes a partial group limit below the shuffle") {
    // the per-group analogue of q12's gate: rank<=K must execute as
    // WindowGroupLimit Partial (before the exchange) + Final, so the
    // shuffle carries O(partitions * K) rows, never the corpus
    val p = plan("t17_bottomk_sample")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), s"no partial window group limit: $p")
  }

  test("q69: basket pair explode is an equi-join on the basket key; stats broadcast") {
    val p = plan("q69_market_basket")
    // the only tolerated non-equi element is the 1-row n_baskets broadcast
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"only the 1-row stats broadcast may be non-equi: $p")
  }

  test("t27: weighted PPS sample keeps the t17 partial group limit shape") {
    val p = plan("t27_weighted_sample")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), s"no partial window group limit: $p")
  }

  for (q <- Seq("q73_winsorized_stats", "q74_percentile_cont"))
    test(s"$q: windows only over histograms (the shared q45 discipline)") {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => WindowNode}
      val windows = plan.collect { case w: WindowNode => w }
      assert(windows.nonEmpty)
      windows.foreach { w =>
        assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
          s"window over raw rows (no aggregate below it): $w")
      }
    }

  test("t29: per-doc keyword top-3 pushes a partial group limit; no global sort of scores") {
    val p = plan("t29_keywords")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), s"no partial window group limit: $p")
  }

  test("q21: interval join broadcasts the tiny bucket table") {
    val p = plan("q21_range_join_buckets")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q01: aggregation has a map-side partial phase") {
    val p = plan("q01_agg_pricing_summary")
    assert(p.contains("partial_"), s"no partial aggregation: $p")
  }

  test("whole-stage codegen covers the scan->filter->project spine of q02") {
    // AQE hides codegen spans in the unexecuted plan string; ask for the
    // codegen view explicitly
    val p = SparkEntry.queries("q02_filter_projection")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"), p.take(2000))
  }

  test("s16: filtered ANN prefilters via an equi broadcast join on the label") {
    val p = plan("s16_filtered_ann")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"filtered ANN must join on the predicate key, not sweep the corpus: $p")
  }

  test("s01: ANN scoring broadcasts the query vectors") {
    val p = plan("s01_ann_bruteforce_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q22: median never windows over raw rows — only the tiny histogram") {
    // the histogram agg must come BEFORE any Window: a window directly over
    // the scan would sort all rows in one partition per group
    val p = SparkEntry.queries("q22_median_disc")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val windowIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("Aggregate")
    assert(windowIdx >= 0 && aggIdx > windowIdx,
      s"window must consume the aggregated histogram, not the scan: $p")
  }

  test("d07: canonical dedup is one partial-aggregated hash agg") {
    val p = plan("d07_dedup_keep_canonical")
    assert(p.contains("partial_"), s"no map-side partial aggregation: $p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("s03: IVF probe join is a broadcast hash join on cell") {
    val p = plan("s03_ann_ivf")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), s"probe fell back to a scan: $p")
  }

  test("s02: bucketed ANN candidate selection is a hash join on bucket, not a corpus scan") {
    val p = plan("s02_ann_lsh_bucketed")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), s"candidate selection fell back to a scan: $p")
  }

  test("q41: moment sums aggregate with a map-side partial phase, no join") {
    // five exact BIGINT sums in ONE hash agg pass — a plan that computed
    // each moment in its own aggregation (or joined them back) would scan
    // the fact table repeatedly
    val p = plan("q41_corr_covar_from_int_sums")
    assert(p.contains("partial_"), s"no partial aggregation: $p")
    assert(!p.contains("Join"), s"moments must not need a join: $p")
  }

  test("q42: RANGE window shuffles once on the partition key") {
    val p = plan("q42_range_frame_trailing_window")
    assert(p.contains("Window"), p)
    // one exchange for the window partitioning, one for the output sort —
    // a third would mean the frame recomputed the partitioning
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"$exchanges exchanges: $p")
  }

  test("q43: sketch rollup merges partial sketch state (object hash agg)") {
    // hll_sketch_agg/hll_union_agg carry binary sketch buffers — they must
    // plan as ObjectHashAggregate with a partial phase, i.e. sketch state
    // merges upward instead of re-scanning customers at the region level
    val p = plan("q43_sketch_partial_merge")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_"), s"no partial sketch phase: $p")
  }

  test("s08: ADC scan never joins or shuffles the corpus before scoring") {
    // the PQ contract: scoring is a mapPartitions over the code table with
    // a broadcast LUT; the only shuffle is the final per-query top-k window
    val p = plan("s08_ann_pq_adc")
    assert(!p.contains("Join"), s"ADC scoring must be join-free: $p")
    assert(p.contains("Window"), p)
  }

  test("q45: percentiles window over the value histogram, never raw rows") {
    // unlike q22's single-branch plan, q45 joins two branches — so walk the
    // tree: EVERY Window node must have an Aggregate strictly below it
    // (the histogram) before any relation scan
    val plan = SparkEntry.queries("q45_mode_percentile_disc")(spark, sf)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => WindowNode}
    val windows = plan.collect { case w: WindowNode => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"window over raw rows (no aggregate below it): $w")
    }
  }

  test("q103: every window reads a bucket histogram — q84's customer-sized rank sort is gone") {
    // the scalable RFM must never sort the O(customers) profile in one
    // task: each Window's nearest input Aggregate has to be the two-level
    // percentile machinery's (st, bucket) histogram, not the per-customer
    // (o_custkey) aggregate q84 ranks over
    val plan = SparkEntry.queries("q103_rfm_value_segments")(spark, sf)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => WindowNode}
    val windows = plan.collect { case w: WindowNode => w }
    assert(windows.nonEmpty, s"expected the histogram cum-sum windows:\n$plan")
    windows.foreach { w =>
      val agg = w.child.collectFirst { case a: Aggregate => a }
      assert(agg.nonEmpty, s"window over raw rows (no histogram below it): $w")
      val groups = agg.get.groupingExpressions
        .flatMap(_.collect { case ar: AttributeReference => ar.name })
      assert(!groups.contains("o_custkey"),
        s"window input is the O(customers) aggregate — the single-task rank came back: $w")
    }
  }

  for (q <- Seq("t39_span_scrub", "s19_index_build", "q104_shipment_concurrency"))
    test(s"$q: every window is key-partitioned — no single-task global sort") {
      // the round-6 rows' scale claims all rest on per-key windows (t39's
      // per-doc interval merge, s19's per-(cell, shard) packing cumsum,
      // q104's per-supplier sweep); an empty partitionSpec is the q84
      // failure mode sneaking back in
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
      val windows = plan.collect { case w: WindowNode => w }
      assert(windows.nonEmpty, s"expected keyed windows in $q:\n$plan")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"$q plans an unpartitioned window (single-task sort): $w")
      }
    }

  test("q46: correlated EXISTS decorrelates to one semi join, no per-row subquery") {
    val p = plan("q46_exists_subquery")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join: $p")
    assert(!p.contains("Subquery"), s"subquery must be decorrelated away: $p")
  }

  test("q47: correlated scalar aggregate decorrelates to a grouped join") {
    val p = plan("q47_scalar_subquery")
    // the per-part average must be ONE aggregate joined back, not a
    // re-scan of lineitem per outer row
    assert(p.contains("partial_avg") || p.contains("avg("), s"no decorrelated aggregate: $p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("m04: media dedup groups by checksum, payload never reaches the shuffle") {
    val p = plan("m04_media_dedup")
    assert(p.contains("partial_"), s"no map-side combine: $p")
    // the payload column must be projected away before the exchange
    val exchangeIdx = p.indexOf("Exchange")
    assert(exchangeIdx >= 0, p)
    assert(!p.substring(0, exchangeIdx).contains("payload#") ||
      p.indexOf("md5") < exchangeIdx,
      s"payload bytes must be hashed before the shuffle: $p")
  }

  test("q49: the bloom prunes the fact side before the join, with no false negatives") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dim = Tables.orders(spark, sf)
      .filter($"o_totalprice" > 450000.0).select($"o_orderkey")
    val bloom = dim.stat.bloomFilter("o_orderkey", math.max(dim.count(), 1000L), 0.01)
    val li = Tables.lineitem(spark, sf)
    val total = li.count()
    val matching = li.join(dim, $"l_orderkey" === $"o_orderkey").count()
    val mightContain = udf((k: Long) => bloom.mightContainLong(k))
    val kept = li.filter(mightContain($"l_orderkey")).count()
    assert(kept >= matching, s"bloom dropped true matches: kept=$kept matching=$matching")
    assert(kept <= matching + (total * 2) / 100 + 10,
      s"bloom barely prunes (fpp blowout): kept=$kept matching=$matching total=$total")
    assert(kept < total / 2, s"prune ineffective on this fixture: kept=$kept of $total")
  }

  test("s09/d06: pair dedup happens at the minimal shared table, scored in codegen") {
    // Round 3 planned a global `distinct` over the exploded candidate set —
    // a full extra Exchange on the widest intermediate — then scored with a
    // typed .map (row ser/deser on the hot path). The fixed plan emits each
    // pair exactly once from its first shared (tbl, bucket) group, so there
    // must be NO aggregate anywhere, and scoring must be the codegen'd
    // cosine_milli expression.
    for (name <- Seq("s09_knn_graph", "d06_dedup_embedding_lsh")) {
      val p = plan(name)
      assert(!p.contains("HashAggregate"),
        s"$name: candidate distinct (an extra Exchange) is back:\n$p")
      assert(p.contains("cosine_milli"),
        s"$name: scoring must stay in whole-stage codegen via CosineMilliExpr:\n$p")
      assert(!p.contains("MapElements"),
        s"$name: typed .map re-introduced on the scoring path:\n$p")
    }
  }

  test("q31: as-of join is union + one keyed window — no join operator at all") {
    // the 100 TB as-of contract: state and event rows union, shuffle ONCE
    // on the key, and last(ignoreNulls) picks the as-of match inside the
    // window — a per-row lookup join (or a range join) would shuffle or
    // scan per event. Gate: no Join node, exactly one hash exchange before
    // the window (the output orderBy adds a range exchange, nothing else).
    val p = plan("q31_asof_join")
    assert(!p.contains("Join"), s"as-of must not plan a join: $p")
    assert(p.contains("Window"), p)
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, // one for the window key, one for orders' groupBy dedup
      s"as-of should shuffle once per input leg, got $hashEx hash exchanges:\n$p")
  }

  test("q32/q33: time windows are plain hash aggregates with a partial phase") {
    // window()/session_window() must aggregate map-side like any groupBy —
    // a plan that sorted or windowed raw events first would not scale
    for (name <- Seq("q32_tumbling_window", "q33_sliding_window")) {
      val p = plan(name)
      assert(p.contains("partial_"), s"$name: no map-side combine:\n$p")
      assert(!p.contains("Window"), // the analytic-window operator, not time windows
        s"$name: time bucketing must stay an aggregate, not an analytic window:\n$p")
    }
  }

  test("q59: raw events shuffle once; everything else is grid-sized") {
    // one hash exchange on user_id for the collect_set (with a map-side
    // partial), one on the O(cohorts x horizon) grid agg, one tiny window
    // exchange on cw; no join anywhere (first-seen is array_min of the set,
    // cohort size is the grid's own week-0 cell)
    val p = plan("q59_cohort_retention")
    assert(!p.contains("Join"), s"cohort retention must not plan a join:\n$p")
    assert(p.contains("partial_collect_set"), s"no map-side combine:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 3, s"expected <=3 hash exchanges, got $hashEx:\n$p")
  }

  test("q60: the whole profile is one scan (conditional aggs, not per-column passes)") {
    val p = plan("q60_profile_drift")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"profile report must scan once, got $scans scans:\n$p")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
  }

  test("q102: the scalable profile never plans an Expand (q60's 9x row multiplier)") {
    val p = plan("q102_profile_drift_scalable")
    assert(!p.contains("Expand"),
      s"the 100 TB profile must unpivot via Generate, not Expand:\n$p")
    assert(p.contains("Generate explode"), s"expected explode-unpivot Generate:\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"profile report must scan once, got $scans scans:\n$p")
    assert(p.contains("partial_count"),
      s"level-1 (column,value) agg lost its map-side combine:\n$p")
  }

  test("q50: the two snapshot aggregates feed the outer join with one shuffle each") {
    val p = plan("q50_snapshot_diff")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 2,
      s"expected exactly 2 hash exchanges (one per snapshot agg, join reuses them), got $hashEx:\n$p")
    assert(p.contains("FullOuter"), p)
    assert(p.contains("partial_count"), s"no map-side combine: $p")
  }

  for (q <- Seq("q84_rfm_segmentation", "q88_ks_drift", "q92_mad_outliers",
      "q97_mann_whitney", "q98_gini_concentration", "s18_embedding_drift"))
    test(s"$q: windows only over aggregated supports, never raw rows") {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => WindowNode}
      val windows = plan.collect { case w: WindowNode => w }
      assert(windows.nonEmpty)
      windows.foreach { w =>
        assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
          s"window over raw rows (no aggregate below it): $w")
      }
    }

  for (q <- Seq("q85_survival_km", "q90_ewma_anomaly", "q99_cusum_changepoint"))
    test(s"$q: the single-task recurrence fold consumes an aggregated series, not raw rows") {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Repartition}
      val folds = plan.collect { case r: Repartition if r.numPartitions == 1 => r }
      assert(folds.nonEmpty, s"no coalesce(1) fold stage found:\n$plan")
      folds.foreach { r =>
        assert(r.child.collectFirst { case a: Aggregate => a }.nonEmpty,
          s"coalesce(1) directly over raw rows — the fold input must be the O(series) aggregate:\n$r")
      }
    }

  test("q96: every per-order window reuses ONE hash exchange on the order key") {
    val p = plan("q96_prorate_allocation")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"expected exactly 1 hash exchange shared by all order-key windows, got $hashEx:\n$p")
  }

  test("s20: both fusion sides broadcast their query-sized tables; postings aggregate in partials") {
    // the lexical side must reach the corpus postings via a BROADCAST of
    // the O(queries x terms) qterm table (an inverted-index probe, never a
    // corpus-wide shuffle join on tok), and the postings/df aggregates
    // must keep their map-side partial phase; the vector side's broadcast
    // of the 5-query set is the s01 contract (BNLJ allowed via bnljOk)
    val p = plan("s20_hybrid_rrf")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast qterm probe:\n$p")
    assert(p.contains("partial_count"), s"postings aggregate lost its partial phase:\n$p")
  }

  test("t42: domain aggregate is distinct-first with map-side partials (whale domains can't hot-key)") {
    // count(DISTINCT curl) must plan as the two-phase expand: a partial
    // aggregate keyed (domain, curl) — spread across executors by the URL,
    // so a whale domain holding 10% of a 100 TB crawl never lands on one
    // reducer as raw rows — then the per-domain count with its own partial
    // phase. A regression to a single-phase domain-keyed aggregate over
    // raw rows is the classic skew incident.
    val p = plan("t42_domain_governance")
    assert(p.contains("partial_count"), s"no map-side partial aggregate:\n$p")
    val partialKeys = p.linesIterator
      .filter(l => l.contains("HashAggregate(keys=[domain") && l.contains("curl"))
    assert(partialKeys.nonEmpty,
      s"expected a (domain, curl)-keyed distinct stage before the domain rollup:\n$p")
  }

  test("OpCache slots are session-scoped: another session's rotation never evicts a live frame") {
    // the round-8 advisory: the slot registry was process-global, so two
    // sessions (or concurrently running suites) invoking the same operator
    // silently unpersisted each other's frames mid-consumption — correct
    // answers via lineage recompute, invisible perf cliff
    import graft.operators.OpCache
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    withNewSession { s2 =>
      val a = OpCache.persistRotating("opcache.scope.test", Seq(1L, 2L).toDF("x"))
      a.count()
      assert(a.storageLevel !== StorageLevel.NONE)
      // same slot, DIFFERENT session: must not evict a
      val b = OpCache.persistRotating("opcache.scope.test",
        { import s2.implicits._; Seq(3L).toDF("x") })
      b.count()
      assert(a.storageLevel !== StorageLevel.NONE,
        "a second session's rotation evicted the first session's live frame")
      assert(b.storageLevel !== StorageLevel.NONE)
      // same slot, SAME session: rotates the previous generation out
      val c = OpCache.persistRotating("opcache.scope.test", Seq(4L).toDF("x"))
      c.count()
      assert(a.storageLevel === StorageLevel.NONE,
        "same-session rotation must unpersist the previous generation")
      Seq(b, c).foreach(_.unpersist())
    }
  }

  test("OpCache: a cloned session's fill never frees the generation its parent filled") {
    // every streaming query runs its batches in a clone of its session, and
    // a clone inherits its parent's temp views, the slot views among them
    import graft.operators.OpCache
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val a = OpCache.persistRotating("opcache.clone.test", Seq(1L, 2L).toDF("x"))
    a.count()
    val inClone = Seq.newBuilder[DataFrame]
    val ms = MemoryStream[Long]
    val q = ms.toDF().writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      assert(b.sparkSession ne spark)
      inClone += OpCache.persistRotating("opcache.clone.test", b.select($"value".as("x")))
      ()
    }.start()
    try Seq(3L, 4L).foreach { v => ms.addData(v); q.processAllAvailable() }
    finally q.stop()
    val Seq(b1, b2) = inClone.result()
    assert(a.storageLevel !== StorageLevel.NONE,
      "a cloned session's fill evicted its parent's live frame")
    assert(b1.storageLevel === StorageLevel.NONE,
      "the clone's own rotation must unpersist the generation it filled")
    Seq(a, b2).foreach(_.unpersist())
  }

  test("OpCache slot survives re-persisting a re-built CTE plan (CacheManager's normalized key)") {
    // each build of a WITH plan gets fresh CTE ids: the analyzed plans
    // differ, the normalized ones (the key CacheManager matches on) do not,
    // so the second persist re-registers the SAME entry and the slot must
    // not unpersist it
    import graft.operators.OpCache
    import org.apache.spark.storage.StorageLevel
    def cte = spark.sql("WITH t AS (SELECT id FROM range(10)) SELECT a.id FROM t a JOIN t b ON a.id = b.id")
    val first = OpCache.persistRotating("opcache.cte.test", cte)
    first.count()
    val second = OpCache.persistRotating("opcache.cte.test", cte)
    assert(second.count() === 10L)
    assert(second.storageLevel !== StorageLevel.NONE,
      "re-persisting an equal CTE plan evicted the slot's live entry")
    second.unpersist()
  }

  test("DSL typed path: each stage is a codegen'd MapElements/Filter, no MapPartitions, no kryo") {
    // a per-element ds.flatMap is a MapPartitions boundary outside
    // whole-stage codegen (~2x slower on dsl-load); the stages are kryo-typed
    // in between, so Catalyst must drop every kryo round trip for the chain
    // to codegen with its source
    import graft.dsl.{Compiler, Keyed, SP}
    import org.apache.spark.sql.catalyst.expressions.objects.{DecodeUsingSerializer, EncodeUsingSerializer}
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import spark.implicits._
    val aqe = new AdaptiveSparkPlanHelper {}
    // operators inside a codegen stage (an InputAdapter ends the stage)
    def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(inStage)
    }
    val lambdas = SP.compose(
      SP.compose(SP.filter[Long](_ % 2 == 0), SP.map[Long, String](_.toString)),
      SP.map[String, Long](_.length.toLong))
    val cases = Seq(
      "lambda pipeline" ->
        Compiler.compile(lambdas)(spark.range(1000).map(i => Keyed(i % 7, i.longValue, i.longValue))).toDF(),
      "r06_dsl_typed_fusion" -> SparkEntry.queries("r06_dsl_typed_fusion")(spark, sf))
    for ((name, df) <- cases) {
      df.collect() // AQE settles the final plan on the first action
      val plan = df.queryExecution.executedPlan
      val nodes = aqe.collect(plan) { case p => p }
      assert(!nodes.exists(_.isInstanceOf[MapPartitionsExec]), s"$name: MapPartitions boundary:\n$plan")
      val kryo = nodes.flatMap(_.expressions).exists(_.exists {
        case _: EncodeUsingSerializer | _: DecodeUsingSerializer[_] => true
        case _ => false
      })
      assert(!kryo, s"$name: a kryo serialize/deserialize pair survived the optimizer:\n$plan")
      val codegen = aqe.collect(plan) { case w: WholeStageCodegenExec => inStage(w.child) }.flatten
      val ops = nodes.filter(p => p.isInstanceOf[MapElementsExec] || p.isInstanceOf[FilterExec])
      assert(ops.count(_.isInstanceOf[MapElementsExec]) >= 2, s"$name: pipeline stages missing:\n$plan")
      assert(ops.forall(op => codegen.exists(_ eq op)),
        s"$name: a pipeline MapElements/Filter runs outside whole-stage codegen:\n$plan")
    }
  }

  /** 1000 `Keyed` rows over 7 keys from a projection: no input-side
    * MapElements to blur the counts. */
  private def keyedRange = {
    import spark.implicits._
    spark.range(1000).select(($"id" % 7).as("key"), $"id".as("seq"), $"id".as("value"))
      .as[graft.dsl.Keyed[Long]]
  }

  test("DSL stateful fallback: one hash shuffle on key, one sort on seq alone, the runner in MapPartitions") {
    // the two-column (key, seq) comparison sort, the appended grouping key
    // and the per-key group collection were the fallback's cost
    import graft.dsl.{Compiler, SP}
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    val aqe = new AdaptiveSparkPlanHelper {}
    val sum = SP.fsm(0L) { (acc: Long, v: Long) => (acc + v, Seq(acc + v)) }
    val df = Compiler.compile(sum)(keyedRange).toDF()
    df.collect() // AQE settles the final plan on the first action
    val plan = df.queryExecution.executedPlan
    val nodes = aqe.collect(plan) { case p => p }
    def names(a: Seq[Expression]): Seq[String] =
      a.collect { case at: Attribute => at.name }
    val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1, s"shuffles:\n$plan")
    exchanges.head.outputPartitioning match {
      case h: HashPartitioning => assert(names(h.expressions) === Seq("key"), s"partitioning:\n$plan")
      case other => fail(s"not a hash partitioning: $other\n$plan")
    }
    val sorts = nodes.collect { case s: SortExec => s }
    assert(sorts.size === 1 && names(sorts.head.sortOrder.map(_.child)) === Seq("seq"),
      s"sorts:\n$plan")
    assert(nodes.exists(_.isInstanceOf[MapPartitionsExec]), s"no MapPartitions runner:\n$plan")
    val grouping = nodes.filter(p => p.nodeName.startsWith("AppendColumns") ||
      p.isInstanceOf[MapGroupsExec] || p.isInstanceOf[ObjectHashAggregateExec])
    assert(grouping.isEmpty, s"per-key grouping machinery:\n$plan")
  }

  test("DSL typed path: runs of maps and of filters fuse: filter . map . map . map is one Filter and two MapElements") {
    import graft.dsl.{Compiler, SP}
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import spark.implicits._
    val aqe = new AdaptiveSparkPlanHelper {}
    def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(inStage)
    }
    val sp = SP.compose(SP.compose(SP.compose(SP.filter[Long](_ % 2 == 0),
      SP.map[Long, Long](_ + 1)), SP.map[Long, String](_.toString)), SP.map[String, Long](_.length.toLong))
    val df = Compiler.compile(sp)(keyedRange).toDF()
    df.collect()
    val plan = df.queryExecution.executedPlan
    val nodes = aqe.collect(plan) { case p => p }
    val filters = nodes.filter(_.isInstanceOf[FilterExec])
    val maps = nodes.filter(_.isInstanceOf[MapElementsExec])
    // the fused map run, then the cast to the output encoder
    assert(filters.size === 1 && maps.size === 2, s"unfused stages:\n$plan")
    val codegen = aqe.collect(plan) { case w: WholeStageCodegenExec => inStage(w.child) }.flatten
    assert((filters ++ maps).forall(op => codegen.exists(_ eq op)),
      s"a stage runs outside whole-stage codegen:\n$plan")
  }
}
