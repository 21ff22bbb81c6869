package graft

import graft.operators.{DedupQueries, EventQueries}
import org.apache.spark.sql.functions._

/** Equality gates for the size-gated single-task fold paths added in the
  * optimization round: below [[DedupQueries.LocalFoldMaxEdges]] the
  * iterative graph kernels (clusterLabels union-find, bfsLevels, the
  * opt-in pageRank fold) run as ONE executor task instead of per-round
  * distributed joins. These tests assert the two paths produce
  * IDENTICAL rows on deterministic pseudo-random graphs — chains, stars,
  * cliques, and a hash-scrambled sparse graph — so the gate can never
  * change what a query computes, only how it executes. */
class LocalFoldSpec extends SparkSpec {

  import spark.implicits._

  // deterministic LCG so the graphs are stable across runs
  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)

  private def scrambledPairs(n: Int, nodes: Int, seed: Long): Seq[(Long, Long)] = {
    val r = lcg(seed)
    (1 to n).map { _ =>
      val a = math.floorMod(r.next(), nodes).toLong
      val b = math.floorMod(r.next(), nodes).toLong
      (a, if (a == b) (b + 1) % nodes else b)
    }
  }

  test("clusterLabels: local union-find fold == distributed pointer jumping") {
    val cases = Seq(
      "chain" -> (0L until 63L).map(i => (i, i + 1)),
      "star" -> (1L until 40L).map(i => (0L, i)),
      "cliques" -> (0L until 60L).flatMap(i => if (i % 4 != 3) Seq((i, i + 1)) else Nil),
      "scrambled" -> scrambledPairs(300, 120, seed = 7L))
    cases.foreach { case (name, pairSeq) =>
      val docs = (0L until 130L).toDF("doc_id")
      val pairs = pairSeq.toDF("doc_a", "doc_b")
      val (local, lt) = trace(DedupQueries.clusterLabels(docs, pairs)
        .as[(Long, Long)].collect().toSeq)
      assert(lt.longs("graft.gate.clusterLabels").length === 1 &&
        lt.longs("graft.rounds.clusterLabels").isEmpty,
        s"$name: small graph must take the local fold (no rounds): ${lt.observed}")
      val (dist, dt) = trace(DedupQueries.clusterLabels(docs, pairs, localFoldMaxEdges = -1L)
        .as[(Long, Long)].collect().toSeq)
      assert(dt.longs("graft.rounds.clusterLabels").nonEmpty,
        s"$name: forced distributed path must record its rounds")
      assert(local === dist, s"$name: local fold diverged from distributed labels")
    }
  }

  test("bfsLevels: local traversal fold == distributed frontier rounds") {
    val nodes = (0L until 80L).toDF("k")
    val cases = Seq(
      "chain" -> (0L until 50L).map(i => (i, i + 1)),
      "dag+unreachable" -> (scrambledPairs(150, 60, seed = 11L) :+ (0L, 1L)),
      "cycle" -> ((0L until 20L).map(i => (i, (i + 1) % 20)) :+ (70L, 71L)))
    cases.foreach { case (name, edgeSeq) =>
      val edges = edgeSeq.toDF("src", "dst")
      val local = EventQueries.bfsLevels(nodes, edges, source = 0L)
        .orderBy($"node").as[(Long, Long)].collect().toSeq
      val dist = EventQueries.bfsLevels(nodes, edges, source = 0L,
        localFoldMaxEdges = -1L).orderBy($"node").as[(Long, Long)].collect().toSeq
      assert(local === dist, s"$name: local BFS fold diverged from distributed levels")
    }
  }

  test("bfsLevels: absent source stays all -1 on both paths") {
    val nodes = (1L until 10L).toDF("k")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    Seq(DedupQueries.LocalFoldMaxEdges, -1L).foreach { gate =>
      val got = EventQueries.bfsLevels(nodes, edges, source = 0L, localFoldMaxEdges = gate)
        .as[(Long, Long)].collect().toMap
      assert(got.values.forall(_ == -1L), s"gate=$gate: $got")
    }
  }

  test("bfsLevels: present source with ZERO edges is level 0 on both paths") {
    // the round-9 advisory: an empty edge frame coalesces to 0 partitions,
    // so the fold closure never ran and a present source came back -1
    val nodes = (0L until 5L).toDF("k")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    Seq(DedupQueries.LocalFoldMaxEdges, -1L).foreach { gate =>
      val got = EventQueries.bfsLevels(nodes, edges, source = 2L, localFoldMaxEdges = gate)
        .as[(Long, Long)].collect().toMap
      assert(got(2L) === 0L, s"gate=$gate: present source must be level 0: $got")
      assert((got - 2L).values.forall(_ == -1L), s"gate=$gate: $got")
    }
  }

  test("pageRank: zero-weight-sum sources skip their contributions on both paths") {
    // the round-9 advisory: the fold used bare Scala division, which threw
    // on ow(src) == 0 where the distributed SQL div yields null (skipped)
    val nodes = (0L until 4L).toDF("k")
    val edges = Seq((0L, 1L, 3L), (0L, 2L, -3L), (1L, 2L, 2L)).toDF("src", "dst", "w")
    Seq(2, 5).foreach { iters =>
      val local = EventQueries.pageRank(nodes, edges, iters,
        localFoldMaxEdges = DedupQueries.LocalFoldMaxEdges)
        .orderBy($"k").as[(Long, Long)].collect().toSeq
      val dist = EventQueries.pageRank(nodes, edges, iters)
        .orderBy($"k").as[(Long, Long)].collect().toSeq
      assert(local === dist, s"iters=$iters: zero-weight-sum fold diverged")
    }
  }

  test("pageRank: opt-in local fold == distributed loop (endpoints within nodes)") {
    val r = lcg(23L)
    val edgeSeq = scrambledPairs(200, 50, seed = 23L)
      .map { case (a, b) => (a, b, math.floorMod(r.next(), 5L) + 1L) }
    val nodes = (0L until 60L).toDF("k") // superset of all endpoints + isolated tail
    val edges = edgeSeq.toDF("src", "dst", "w")
    Seq(1, 7, 10).foreach { iters =>
      val local = EventQueries.pageRank(nodes, edges, iters,
        localFoldMaxEdges = DedupQueries.LocalFoldMaxEdges)
        .orderBy($"k").as[(Long, Long)].collect().toSeq
      val dist = EventQueries.pageRank(nodes, edges, iters)
        .orderBy($"k").as[(Long, Long)].collect().toSeq
      assert(local === dist, s"iters=$iters: local pageRank fold diverged")
    }
  }

  test("a malformed SPARK_GRAFT_LOCAL_FOLD_MAX_EDGES fails naming the variable and its value") {
    val name = "SPARK_GRAFT_LOCAL_FOLD_MAX_EDGES"
    assert(Env.long(name, 4L << 20, Map.empty) === (4L << 20))
    assert(Env.long(name, 4L << 20, Map(name -> " -1 ")) === -1L)
    val e = intercept[IllegalArgumentException](Env.long(name, 4L << 20, Map(name -> "4M")))
    assert(e.getMessage.contains(name) && e.getMessage.contains("'4M'"), e.getMessage)
  }
}
