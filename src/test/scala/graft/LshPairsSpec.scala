package graft

import graft.operators.{DedupQueries, LshPairs}
import org.apache.spark.sql.{Column, DataFrame}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The batch sign-LSH pair kernel against brute force, and the cache
  * footprint of its d06 caller. */
class LshPairsSpec extends SparkSpec {

  import spark.implicits._

  private val Dim = 8
  private val Tables = 4

  /** Fixed seeds: reproducible cases (as in DslParitySpec). */
  private def checkAll[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(7L + i)).foreach(body)
    }

  /** A few small nonzero integer vectors, then exact duplicates and
    * antipodes of some of them (so a cross split puts them across sides). */
  private val genVecs: Gen[Seq[Array[Float]]] = for {
    n <- Gen.choose(4, 7)
    base <- Gen.listOfN(n, Gen.listOfN(Dim, Gen.choose(-2, 2)).map { v =>
      (if (v.forall(_ == 0)) 1 +: v.tail else v).map(_.toFloat).toArray
    })
    dups <- Gen.someOf(base.indices)
    antis <- Gen.someOf(base.indices)
  } yield base ++ dups.map(i => base(i).clone()) ++ antis.map(i => base(i).map(-_))

  private def frame(vs: Seq[(Long, Array[Float])]): DataFrame = vs.toDF("vec_id", "embedding")

  /** Every (a, b, cos_milli) with `pred(a, b)` whose vectors share a bucket
    * in some table of `g`: the pair contract, pair by pair. */
  private def brute(g: LshPairs.Geometry, left: Seq[(Long, Array[Float])],
      right: Seq[(Long, Array[Float])], pred: (Long, Long) => Boolean): Seq[(Long, Long, Long)] = {
    def bk(v: Array[Float]) = DedupQueries.lshBucketsOf(v, g.tables, g.ppt, g.planes)
    (for {
      (a, ea) <- left; (b, eb) <- right
      if pred(a, b) && bk(ea).zip(bk(eb)).exists { case (x, y) => x == y }
    } yield (a, b, DedupQueries.cosMilliOf(ea, eb))).sorted
  }

  private def collected(df: DataFrame): Seq[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSeq.sorted

  // AutoPlanes derives the fixture K=6 at this size; 2 and 3 are fixed
  // small K, so most pairs collide, many of them in several tables
  for (k <- Seq(DedupQueries.AutoPlanes, 2, 3)) {
    val kName = if (k == DedupQueries.AutoPlanes) "auto K" else s"K=$k"

    test(s"property ($kName): the self form equals brute force, each pair once per allowed orientation") {
      checkAll(Gen.zip(genVecs, Gen.oneOf(-1000L, 0L, 400L)), 4) { case (vs, t) =>
        val ids = vs.zipWithIndex.map { case (v, i) => (i.toLong + 1, v) }
        val g = LshPairs.geometry(Tables, k, Dim, ids.size.toLong)
        def self(pred: (Column, Column) => Column) =
          LshPairs.selfPairs("lshprop", frame(ids), Tables, k, Dim, pred)
        assert(collected(self(_ < _).filter($"cos_milli" >= t)) ===
          brute(g, ids, ids, _ < _).filter(_._3 >= t), s"<, t=$t")
        assert(collected(self(_ =!= _)) === brute(g, ids, ids, _ != _), "=!=")
      }
    }

    test(s"property ($kName): the cross form equals the brute-force bipartite set") {
      checkAll(genVecs, 4) { vs =>
        val (tr, hd) = vs.splitAt(vs.size / 2)
        val train = tr.zipWithIndex.map { case (v, i) => (i.toLong + 1, v) }
        val held = hd.zipWithIndex.map { case (v, i) => (i.toLong + 1000, v) }
        val heldSide = LshPairs.sideOf(frame(held), Tables, k, Dim)
        val g = heldSide.geometry
        assert(g.ppt === (if (k == DedupQueries.AutoPlanes) DedupQueries.lshPlanesPerTableCount else k))
        assert(collected(LshPairs.crossPairs(frame(train), heldSide)) ===
          brute(g, train, held, (_, _) => true))
      }
    }
  }

  test("d06: embeddingLshPairs over three distinct inputs keeps one generation of cached frames") {
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val inputs = (1 to 3).map(k => (0 until 40).map(i =>
      (i.toLong, Array.tabulate(DedupQueries.embDim)(j => ((i * k + j) % 5 - 2).toFloat)))
      .toDF("vec_id", "embedding"))
    val before = persisted
    inputs.foreach(in => DedupQueries.embeddingLshPairs(spark, in).collect())
    // the vector and bucket frames of the latest input; a bare .cache()
    // per call adds two frames per input
    assert(persisted - before <= 2, s"persisted RDDs: $before before, $persisted after")
  }
}
