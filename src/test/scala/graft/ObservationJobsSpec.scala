package graft

/** Driver-loop action gates for the iterative operators (the round-4
  * verdict's job-overhead stretch item): the per-round convergence /
  * emptiness probe must ride the round's one materializing action
  * (localCheckpoint) as an Observation side-metric, never as a separate
  * count action. At 100 TB every extra action is scheduler round-trips
  * plus a stage launch per round — d08/d12/t26/s11 share clusterLabels'
  * loop and q55 shares the BFS loop, so one stray probe multiplies across
  * the whole iterative family. Asserted on ACTION NAMES (a reintroduced
  * `.count()` per round fails regardless of how AQE splits jobs), with the
  * job totals logged for the record. */
class ObservationJobsSpec extends SparkSpec {

  import spark.implicits._

  test("clusterLabels issues no per-round count action (probe rides the checkpoint)") {
    import graft.operators.DedupQueries
    val docs = (0L until 40L).toDF("doc_id")
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, t) = trace {
      DedupQueries.clusterLabels(docs, chain, maxRounds = 8,
          localFoldMaxEdges = -1L) // the distributed loop is the test subject
        .as[(Long, Long)].collect()
    }
    assert(labels.forall(_._2 == 0L) && labels.length == 40)
    // round telemetry rides the same Observation metric, named per round:
    // per-round changed counts, one row per round, converged (0) last — the
    // rounds-vs-size number the sf1 probe recorded (bench/sf1_probe.json)
    val frontier = t.longs("graft.rounds.clusterLabels")
    assert(frontier.nonEmpty && frontier.last === 0L,
      s"frontier must end at the converged round: $frontier")
    assert(frontier.init.forall(_ > 0L),
      s"every non-final round must have changed labels: $frontier")
    // pointer jumping: a 40-chain converges in O(log n) rounds, not ~40
    assert(frontier.length <= 8, s"40-chain took ${frontier.length} rounds")
    val actions = t.actions
    info(s"clusterLabels(40-chain): ${t.jobs} jobs, rounds=${frontier.length}, " +
      s"frontier=${frontier.mkString(",")}, actions = ${actions.groupBy(identity).view.mapValues(_.size).toMap}")
    val counts = actions.count(_ == "count")
    assert(counts === 0,
      s"clusterLabels ran $counts standalone count actions — the convergence " +
        "probe must ride the checkpoint job as an Observation")
  }

  test("bfsLevels issues no per-depth count action (frontier probe rides the checkpoint)") {
    import graft.operators.EventQueries
    val nodes = (0L until 33L).toDF("k")
    val edges = (0L until 32L).map(i => (i, i + 1)).toDF("src", "dst")
    val (lvls, t) = trace {
      EventQueries.bfsLevels(nodes, edges, 0L, localFoldMaxEdges = -1L)
        .as[(Long, Long)].collect() // the distributed loop is the test subject
    }
    assert(lvls.length == 33 && lvls.map(_._2).max == 32L)
    val actions = t.actions
    info(s"bfsLevels(32-chain): ${t.jobs} jobs, actions = ${actions.groupBy(identity).view.mapValues(_.size).toMap}")
    // the single seed probe before the loop is the only count allowed; a
    // reintroduced per-depth probe shows up as ~32 of them
    val counts = actions.count(_ == "count")
    assert(counts <= 1,
      s"bfsLevels ran $counts standalone count actions — the frontier " +
        "probe must ride the checkpoint job as an Observation")
  }

  test("size gates and rounds are named Observations: one gate row per call, carrying the edge count") {
    import graft.operators.EventQueries
    val nodes = (0L until 12L).toDF("k")
    val edges = (0L until 10L).map(i => (i, i + 1, 1L)).toDF("src", "dst", "w")
    val (_, bfs) = trace {
      EventQueries.bfsLevels(nodes, edges.select($"src", $"dst"), 0L,
        localFoldMaxEdges = 1000L).collect()
    }
    assert(bfs.longs("graft.gate.bfsLevels") === Seq(10L), bfs.observed)
    assert(bfs.longs("graft.rounds.bfsLevels").isEmpty, "the fold path runs no rounds")
    val (_, pr) = trace {
      EventQueries.pageRank(nodes, edges, iters = 3, localFoldMaxEdges = 1000L).collect()
    }
    assert(pr.longs("graft.gate.pageRank") === Seq(10L), pr.observed)
    // the distributed BFS names every depth: frontier sizes 1 per depth of
    // the 10-chain, then the empty frontier that ends the loop
    val (_, dist) = trace {
      EventQueries.bfsLevels(nodes, edges.select($"src", $"dst"), 0L,
        localFoldMaxEdges = -1L).collect()
    }
    assert(dist.longs("graft.rounds.bfsLevels") === Seq.fill(10)(1L) :+ 0L, dist.observed)
    // every Observation in src/main carries a name: an unnamed one gets a
    // random UUID no listener can attribute
    val unnamed = SourceScan.mainSources.collect {
      case (file, lines) if SourceScan.code(lines).exists(_.matches(""".*Observation\(\s*\).*""")) => file
    }
    assert(unnamed.isEmpty, s"unnamed Observation in src/main: ${unnamed.mkString(", ")}")
  }
}
