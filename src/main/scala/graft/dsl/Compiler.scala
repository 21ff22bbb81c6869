package graft.dsl

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** A logical-stream element: `key` identifies the stream (rspl evaluates one
  * stream; we run one rspl machine *per key* for scale), `seq` is the
  * monotone within-key order (SURVEY.md §7.4 #1). */
final case class Keyed[A](key: Long, seq: Long, value: A)

/** Compiles [[SP]] terms to Spark plans (SURVEY.md §3.4).
  *
  * Pipeline classification:
  *  1. *Expression path* — every Map/Filter in the (compose-flattened)
  *     pipeline carries a Column witness: emit native `select`/`where`
  *     (whole-stage codegen; predicates push down to the scan).
  *     `Alternate(map, map)` additionally compiles to row_number-parity
  *     routing — no state machine needed.
  *  2. *Typed stateless path* — opaque lambdas: each run of consecutive
  *     maps is fused into one function and each run of filters into one
  *     predicate, then one `ds.map` (MapElements) or `ds.filter`
  *     (TypedFilter) per fused stage, kryo-encoded in between so Catalyst
  *     elides the round trips and the chain runs in whole-stage codegen
  *     (distributed, no shuffle, key/seq preserved). Fusion allocates one
  *     `Keyed` per map run instead of one per map.
  *  3. *Stateful fallback* — anything with real Get/Put control flow:
  *     one hash shuffle on `key`, each partition sorted on `seq` alone, then
  *     [[Interpreter.runKeyed]] in `mapPartitions` keeps one machine per key
  *     and pushes each row to its key's machine, emitting that machine's
  *     `Put`s lazily up to its next `Get`. Memory contract: no element is
  *     buffered per key; a partition holds one machine (continuation plus
  *     emission counter) per live key, the same per-key state
  *     graft.streaming.StreamFsm keeps in its state store. This is the
  *     batch analogue of `flatMapGroupsWithState`.
  *
  * The normalizer's compose-fusion subsumes the reference's construction-time
  * Put/Get cancellation (reference `src/combinators.rs:101-120`, acknowledged
  * there as weak fusion — Catalyst collapses our emitted projections/filters
  * instead).
  */
object Compiler {

  /** One stateless stage after normalization. */
  sealed trait Stage
  final case class MapStage(f: Any => Any, expr: Option[Column => Column]) extends Stage
  final case class FilterStage(p: Any => Boolean, expr: Option[Column => Column]) extends Stage

  /** Flatten a term into stateless stages if (and only if) it is a pure
    * map/filter/compose pipeline. */
  def statelessStages(sp: SP[_, _]): Option[List[Stage]] = sp match {
    case SP.Map(f, e) => Some(List(MapStage(f.asInstanceOf[Any => Any], e)))
    case SP.Filter(p, e) => Some(List(FilterStage(p.asInstanceOf[Any => Boolean], e)))
    case SP.Compose(a, b) =>
      for (sa <- statelessStages(a); sb <- statelessStages(b)) yield sa ++ sb
    case _ => None
  }

  /** Expression path: compile onto a DataFrame whose `valueCol` column holds
    * the element. Returns None unless every stage has a Column witness. */
  def compileExpr(sp: SP[_, _], df: DataFrame, valueCol: String): Option[DataFrame] = {
    def allExpr(stages: List[Stage]): Option[List[Either[Column => Column, Column => Column]]] =
      stages.foldRight(Option(List.empty[Either[Column => Column, Column => Column]])) {
        case (MapStage(_, Some(e)), acc) => acc.map(Left(e) :: _)
        case (FilterStage(_, Some(e)), acc) => acc.map(Right(e) :: _)
        case _ => None
      }
    statelessStages(sp).flatMap(allExpr).map { ops =>
      ops.foldLeft(df) {
        case (d, Left(mapE)) => d.withColumn(valueCol, mapE(col(valueCol)))
        case (d, Right(filtE)) => d.where(filtE(col(valueCol)))
      }
    }
  }

  /** Expression path for `alternate(map f, map g)` over keyed streams:
    * within each key's seq-ordered stream, output i comes from branch i % 2
    * (reference alternation is per *emission*; for 1-in-1-out branches that
    * is row parity). Emits a row_number + when/otherwise plan — no state
    * machine, and the window is partitioned by key so the plan scales: an
    * unpartitioned `Window.orderBy` would move the whole dataset to a single
    * task (the engine runs one rspl machine per key, SURVEY.md §7.4 #1, so
    * per-key parity is the native semantics).
    */
  def compileAlternateExpr(
      sp: SP[_, _], df: DataFrame, valueCol: String, keyCol: String,
      orderCol: String): Option[DataFrame] =
    sp match {
      case SP.Alternate(SP.Map(_, Some(e1)), SP.Map(_, Some(e2))) =>
        val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
        Some(df
          .withColumn("__rn", row_number().over(w))
          .withColumn(valueCol,
            when(col("__rn") % 2 === 1, e1(col(valueCol))).otherwise(e2(col(valueCol))))
          .drop("__rn"))
      case _ => None
    }

  /** Typed path: stateless fusion when possible, else the per-key
    * runner fallback. Output `seq` is the input seq for stateless stages
    * (order-preserving) and the per-key emission index for the stateful
    * fallback (matching rspl's output-sequence semantics).
    *
    * The stateful fallback needs a product-encoded `Keyed` (top-level `key`
    * and `seq` columns): it shuffles and sorts on them. */
  def compile[A, B](sp: SP[A, B])(ds: Dataset[Keyed[A]])(
      implicit encB: Encoder[Keyed[B]]): Dataset[Keyed[B]] = {
    statelessStages(sp) match {
      case Some(stages) =>
        // no shuffle; EliminateSerialization drops every kryo round trip
        // between stages, so intermediate types need no Spark encoder
        val anyEnc = Encoders.kryo[Keyed[Any]]
        fuse(stages).foldLeft(ds.asInstanceOf[Dataset[Keyed[Any]]]) {
          case (d, MapStage(f, _)) => d.map(k => Keyed(k.key, k.seq, f(k.value)))(anyEnc)
          case (d, FilterStage(p, _)) => d.filter(k => p(k.value))
        }.map(_.asInstanceOf[Keyed[B]])(encB)
      case None =>
        for (c <- Seq("key", "seq") if !ds.columns.exists(_.equalsIgnoreCase(c)))
          throw new IllegalArgumentException(
            s"Compiler.compile: the input has no top-level `$c` column (columns: " +
              s"${ds.columns.mkString(", ")}); the stateful path needs a product-encoded Keyed")
        // one shuffle on key, each partition sorted on seq alone (a radix
        // sort on one long), then one machine per key fed row by row —
        // per-key sequential (rspl semantics ARE sequential per stream),
        // parallel across keys
        ds.repartition(col("key")).sortWithinPartitions(col("seq"))
          .mapPartitions(rows => Interpreter.runKeyed(sp, rows, MaxOutputsPerKey))(encB)
    }
  }

  /** Fuses each run of consecutive maps into one function and each run of
    * consecutive filters into one predicate: one `Keyed` per map run, not
    * per map. */
  private def fuse(stages: List[Stage]): List[Stage] =
    stages.foldRight(List.empty[Stage]) {
      case (MapStage(f, _), MapStage(g, _) :: rest) => MapStage(v => g(f(v)), None) :: rest
      case (FilterStage(p, _), FilterStage(q, _) :: rest) => FilterStage(v => p(v) && q(v), None) :: rest
      case (stage, rest) => stage :: rest
    }

  /** Safety valve for Put-only loops under finite batch input (a generator
    * composed into a pipeline would otherwise emit forever): the fallback
    * fails the job, naming the key, when a key's output past this many is
    * requested. Outputs are produced lazily, so none are buffered up to
    * the cap. */
  val MaxOutputsPerKey: Int = 10_000_000

  /** Demand-driven generator (reference R8 / `tests/demands.rs`): n steps of
    * the state-passing body as a single-partition Dataset — the semantics
    * are inherently sequential (each step needs the previous state), exactly
    * like the reference's on-demand Put loop. */
  def generateN[B, S](spark: SparkSession, body: S => (B, S), init: S, n: Int)(
      implicit enc: Encoder[(Long, B)]): Dataset[(Long, B)] = {
    import spark.implicits._
    spark.range(1).repartition(1).flatMap { _ =>
      Iterator.iterate((init, Option.empty[B]))(s => {
        val (b, s2) = body(s._1); (s2, Some(b))
      }).drop(1).take(n).zipWithIndex.collect { case ((_, Some(b)), i) => (i.toLong, b) }
    }
  }

  /** Batch `bind` at the DataFrame level (reference R9): materialize the
    * first output of `sp` on the ordered stream, let `chooser` build the
    * downstream plan, apply it to the rest of the input — data-dependent
    * query construction (SURVEY.md §7.4 #3: batch + first-trigger only). */
  def bindDF(
      sp: SP[_, _], df: DataFrame, valueCol: String, orderCol: String)(
      chooser: Any => DataFrame => DataFrame): DataFrame = {
    val compiled = compileExpr(sp, df, valueCol)
      .getOrElse(throw new IllegalArgumentException("bindDF needs an expression pipeline"))
    val firstRow = compiled.orderBy(col(orderCol)).select(col(orderCol), col(valueCol)).head()
    val rest = df.where(col(orderCol) > lit(firstRow.get(0)))
    chooser(firstRow.get(1))(rest)
  }
}
