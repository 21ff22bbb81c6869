package graft

import graft.dsl.{Compiler, Interpreter, Keyed, SP}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.expressions.objects.DecodeUsingSerializer
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** An intermediate element type with no Spark encoder (not a Product, not a
  * bean): the typed path must carry it between stages anyway. */
final class Opaque(val n: Int)

/** Tier-A REF parity (SURVEY.md §5): compiled Spark output == the ported
  * rspl interpreter, per key, order-sensitive. Plus straight ports of the
  * reference's own integration tests (basic.rs / events.rs / demands.rs). */
class DslParitySpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic mini property-runner (scalatestplus bridge not on the
    * offline classpath): fixed seeds => reproducible cases. */
  private def checkAll[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private def keyed(input: Seq[Int]): Seq[Keyed[Int]] =
    input.zipWithIndex.map { case (v, i) => Keyed((i % 3).toLong, i.toLong, v) }

  private def compiled[B](sp: SP[Int, B], input: Seq[Int])(
      implicit enc: Encoder[Keyed[B]]): Map[Long, Vector[B]] =
    collectPerKey(Compiler.compile(sp)(spark.createDataset(keyed(input))))

  private def collectPerKey[B](ds: Dataset[Keyed[B]]): Map[Long, Vector[B]] =
    ds.collect().toVector
      .groupBy(_.key).view
      .mapValues(_.sortBy(_.seq).map(_.value)).toMap

  private def oracle[B](sp: SP[Int, B], input: Seq[Int]): Map[Long, Vector[B]] =
    input.zipWithIndex.groupBy(_._2 % 3).map { case (k, vs) =>
      k.toLong -> Interpreter.evalN(sp, vs.map(_._1), 100000)
    }.filter(_._2.nonEmpty) // keys with no output have no compiled rows either

  // --- random stateless pipelines ------------------------------------------
  private val genStateless: Gen[SP[Int, Int]] = {
    val leaf = Gen.oneOf(
      Gen.choose(-5, 5).map(k => SP.map[Int, Int](_ + k)),
      Gen.choose(1, 4).map(m => SP.filter[Int](_ % m == 0)),
      Gen.choose(2, 9).map(k => SP.map[Int, Int](_ * k)))
    def term(depth: Int): Gen[SP[Int, Int]] =
      if (depth <= 0) leaf
      else Gen.frequency(
        2 -> leaf,
        3 -> (for (a <- term(depth - 1); b <- term(depth - 1)) yield SP.compose(a, b)))
    term(3)
  }

  test("property: stateless pipelines — compiled == interpreter, per key") {
    checkAll(Gen.zip(genStateless, Gen.listOfN(30, Gen.choose(-50, 50))), 30) {
      case (sp, input) => assert(compiled(sp, input) === oracle(sp, input))
    }
  }

  // --- typed stateless path: value types, encoders, input shapes -----------
  private def chain[A](sps: Seq[SP[A, A]]): SP[A, A] = sps.reduce(SP.compose(_, _))

  private val genFilterOnly: Gen[SP[Int, Int]] = for {
    n <- Gen.choose(1, 4)
    ms <- Gen.listOfN(n, Gen.choose(1, 4))
  } yield chain(ms.map(m => SP.filter[Int](_ % m == 0)))

  private val genMapOnly: Gen[SP[Int, Int]] = for {
    n <- Gen.choose(1, 4)
    ks <- Gen.listOfN(n, Gen.choose(-5, 5))
  } yield chain(ks.map(k => SP.map[Int, Int](v => v * 3 + k)))

  /** Int -> String -> (Int, String), with a filter on the String stage. */
  private def toPair(k: Int): SP[Int, (Int, String)] = SP.compose(
    SP.compose(SP.map[Int, String](v => (v * k).toString), SP.filter[String](!_.startsWith("-"))),
    SP.map[String, (Int, String)](s => (s.length, s)))

  /** Int -> Opaque -> Int: the middle type has no Spark encoder. */
  private def viaOpaque(m: Int): SP[Int, Int] = SP.compose(
    SP.compose(SP.map[Int, Opaque](new Opaque(_)), SP.filter[Opaque](_.n % m == 0)),
    SP.map[Opaque, Int](o => o.n * 2))

  /** Every typed-path shape checked against the interpreter, per key, with
    * input built from a local Seq and from a DataFrame `.as[Keyed[Int]]`. */
  private def checkTypedPath(s: SparkSession): Unit = {
    def inputs(input: Seq[Int]): Seq[Dataset[Keyed[Int]]] = Seq(
      s.createDataset(keyed(input)),
      s.createDataFrame(keyed(input).map(k => (k.key, k.seq, k.value)))
        .toDF("key", "seq", "value").as[Keyed[Int]])
    def same[B](sp: SP[Int, B], input: Seq[Int])(
        implicit enc: Encoder[Keyed[B]]): Unit =
      inputs(input).foreach(ds => assert(collectPerKey(Compiler.compile(sp)(ds)) === oracle(sp, input)))
    val genInput = Gen.listOfN(30, Gen.choose(-50, 50))
    checkAll(Gen.zip(Gen.oneOf(genStateless, genFilterOnly, genMapOnly), genInput), 12) {
      case (sp, input) => same(sp, input)
    }
    checkAll(Gen.zip(Gen.choose(-3, 3), genInput), 4) { case (k, input) => same(toPair(k), input) }
    checkAll(Gen.zip(Gen.choose(1, 4), genInput), 4) { case (m, input) => same(viaOpaque(m), input) }
  }

  test("property: typed path — type-changing, encoder-less, filter-only, map-only, DataFrame input") {
    checkTypedPath(spark)
  }

  test("property: typed path is correct when EliminateSerialization does not fire (kryo round trips run)") {
    withNewSession { s =>
      s.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.EliminateSerialization")
      // the rule really is off: the kryo deserializer stays in the plan
      val plan = Compiler.compile(viaOpaque(2))(s.createDataset(keyed(1 to 10)))
        .queryExecution.optimizedPlan
      assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[DecodeUsingSerializer[_]]))), plan)
      checkTypedPath(s)
    }
  }

  // --- random stateful terms (Get/Put, alternate, fsm) ----------------------
  private val genStateful: Gen[SP[Int, Int]] = {
    val pairSwap: SP[Int, Int] = {
      def go: SP[Int, Int] =
        SP.get[Int, Int](a => SP.get[Int, Int](b =>
          SP.put(b, SP.put(a, go))))
      go
    }
    val runningSum: SP[Int, Int] = {
      def go(acc: Int): SP[Int, Int] =
        SP.get[Int, Int](a => SP.put(acc + a, go(acc + a)))
      go(0)
    }
    val parityFsm: SP[Int, Int] =
      SP.fsm(true) { (even: Boolean, a: Int) =>
        if (a % 2 == 0) (!even, Seq(a, a)) else (even, if (even) Seq(a) else Nil)
      }
    for {
      b <- Gen.oneOf(pairSwap, runningSum, parityFsm)
      wrap <- Gen.oneOf[SP[Int, Int]](
        b,
        SP.alternate(b, SP.map[Int, Int](_ - 1)),
        SP.compose(SP.map[Int, Int](_ + 1), b),
        SP.bind[Int, Int, Int](SP.map[Int, Int](_ % 2), h =>
          if (h == 0) b else SP.map[Int, Int](_ * 10)))
    } yield wrap
  }

  test("property: stateful terms — compiled (flatMapGroups) == interpreter, per key") {
    checkAll(Gen.zip(genStateful, Gen.listOfN(24, Gen.choose(-50, 50))), 20) {
      case (sp, input) => assert(compiled(sp, input) === oracle(sp, input))
    }
  }

  // --- reference tests/basic.rs ported -------------------------------------
  test("reference basic.rs: bind + alternate + map pipeline") {
    val id = (x: Int) => x
    val spAux: SP[Int, Int] =
      SP.get(n1 => SP.get(n2 => SP.put(n2, SP.put(n1, SP.map(id)))))
    val sp = SP.bind[Int, Boolean, Int](SP.map(_ == 0), b =>
      if (b) SP.alternate(spAux, SP.map(_ + 1)) else SP.map(id))
    // stream: overeager placeholder 0, then 1..6 (tests/basic.rs:31-44)
    val out = Interpreter.evalN(sp, Seq(0, 1, 2, 3, 4, 5, 6))
    assert(out === Vector(2, 4, 1, 5, 5, 7))
    // same term through the Spark compiler, single key
    val ds = spark.createDataset(
      Seq(0, 1, 2, 3, 4, 5, 6).zipWithIndex.map { case (v, i) => Keyed(0L, i.toLong, v) })
    val sparkOut = Compiler.compile(sp)(ds).collect().sortBy(_.seq).map(_.value).toVector
    assert(sparkOut === Vector(2, 4, 1, 5, 5, 7))
  }

  // --- reference tests/events.rs ported -------------------------------------
  sealed trait Ev
  case object ShiftDepressed extends Ev
  case object ShiftReleased extends Ev
  case class Key(c: Int) extends Ev

  test("reference events.rs: shift-key FSM emits 9 runs before first false") {
    def defaultState: SP[Ev, Boolean] = SP.get {
      case ShiftDepressed => SP.put(true, shifted)
      case ShiftReleased => defaultState
      case Key(c) => SP.put(c != 0, defaultState)
    }
    def shifted: SP[Ev, Boolean] = SP.get {
      case ShiftDepressed => shifted
      case ShiftReleased => SP.put(true, defaultState)
      case Key(c) => SP.put(c != 0, shifted)
    }
    // channel init placeholder + the 11-event script (tests/events.rs:71-92)
    val script: Seq[Ev] = Seq(ShiftReleased,
      Key(1), ShiftDepressed, Key(1), Key(5), ShiftReleased, Key(5),
      Key(7), ShiftReleased, Key(3), ShiftDepressed, Key(0))
    val out = Interpreter.evalN(defaultState, script)
    assert(out.takeWhile(identity).length === 9) // RUNS_REFERENCE (events.rs:10)
  }

  // --- reference tests/demands.rs ported ------------------------------------
  test("reference demands.rs: sqrt2 * pi * e within 0.001 of 12.077005857") {
    def babylon(x: Double): SP[Unit, Double] = SP.put(x, babylon((x + 2.0 / x) / 2.0))
    def bbp(sum: Double, k: Int, p16: Double): SP[Unit, Double] =
      SP.put(sum, bbp(sum + (1.0 / p16) * (4.0 / (8 * k + 1) - 2.0 / (8 * k + 4)
        - 1.0 / (8 * k + 5) - 1.0 / (8 * k + 6)), k + 1, p16 * 16.0))
    def euler(sum: Double, k: Long, kfac: Long): SP[Unit, Double] =
      SP.put(sum, euler(sum + 1.0 / kfac, k + 1, kfac * (k + 1)))
    val demand = Seq.fill(64)(())
    val sqrt2 = Interpreter.evalN(babylon(1.0), demand, 11).last
    val pi = Interpreter.evalN(bbp(0.0, 0, 1.0), demand, 6).last
    val e = Interpreter.evalN(euler(1.0, 1, 1), demand, 11).last
    assert(math.abs(sqrt2 * pi * e - 12.077005857) < 0.001)
  }

  // --- expression path agrees with the lambda path ---------------------------
  test("expression path and interpreter agree on r01 semantics") {
    val df = Tables.lineitem(spark, sf)
    val got = SparkEntry.queries("r01_dsl_expr_pipeline")(spark, sf).count()
    val expect = df.filter($"l_quantity" >= 30.0).count()
    assert(got === expect && got > 0)
  }

  test("stateful fallback fails loudly, naming the key and the cap, past MaxOutputsPerKey") {
    // a Put-only generator after the first Get never stops emitting; the
    // fallback used to truncate it silently at the cap
    val forever: SP[Int, Long] =
      SP.get((_: Int) => SP.generate[Int, Long, Long](n => (n, n + 1), 0L))
    val ds = spark.createDataset(Seq(Keyed(7L, 0L, 1)))
    val e = intercept[Exception](
      Compiler.compile(forever)(ds).write.format("noop").mode("overwrite").save())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("key 7") &&
      msgs.contains(s"MaxOutputsPerKey = ${Compiler.MaxOutputsPerKey}"), msgs)
  }
}
