package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

/** The batch sign-LSH pair kernel behind d06, s09 and the semantic
  * decontamination paths (s22, s23 and their streaming twins). It owns the
  * decisions those callers share, so none of them needs to know them:
  *
  *  - the geometry: K derived from a count by
  *    [[DedupQueries.autoPlanesPerTable]] when the caller passes
  *    [[DedupQueries.AutoPlanes]], and the fixed-seed hyperplanes;
  *  - the bucket-row format: one `(id, tbl, bucket, sig)` row per vector
  *    and table, `sig` the buckets of the tables before `tbl`;
  *  - the pair contract: a pair is a candidate iff it shares a bucket in
  *    some table, and it is emitted exactly once, from its minimal shared
  *    table ([[DedupQueries.minSharedTable]]), then scored by joining both
  *    embeddings back and taking the codegen'd `cosineMilli`.
  *
  * Vector frames are `(id, embedding)` by position, whatever their column
  * names. Every pair frame has the columns `(a, b, cos_milli)`; callers
  * keep only their tail (a threshold, a top-k window, distinct ids). */
private[graft] object LshPairs {

  /** `tables` tables of `ppt` hyperplanes each: what both sides of one
    * pair run must bucket with. */
  final case class Geometry(tables: Int, ppt: Int, planes: Array[Array[Double]]) {

    /** The `(id, tbl, bucket, sig)` bucket rows of an `(id, embedding)`
      * frame. The signature PREFIX (tables before `tbl`, equal length on
      * both sides of a `(tbl, bucket)` join) is what lets
      * [[DedupQueries.minSharedTable]] keep each colliding pair once, with
      * no global `distinct` over the exploded candidates, and it shuffles
      * half the bytes of a full signature. */
    def bucketRows(vecs: DataFrame): DataFrame = {
      val s = vecs.sparkSession
      import s.implicits._
      val (l, k, p) = (tables, ppt, planes)
      vecs.as[(Long, Array[Float])].flatMap { case (id, emb) =>
        val bks = DedupQueries.lshBucketsOf(emb, l, k, p)
        (0 until l).iterator.map(t => (id, t, bks(t), bks.take(t).toSeq))
      }.toDF("id", "tbl", "bucket", "sig")
    }

    /** `vecs` as one side of a pair join, bucketed by this geometry. */
    def side(vecs: DataFrame): Side = Side(this, vecs, bucketRows(vecs))
  }

  /** One side of a pair join: its `(id, embedding)` vectors and their
    * bucket rows under `geometry`. */
  final case class Side(geometry: Geometry, vecs: DataFrame, buckets: DataFrame)

  /** The geometry for `tables` tables of `planesPerTable` planes over
    * `dim`-dimensional vectors. `n` (a vector count) is evaluated only
    * for `planesPerTable == AutoPlanes`, to derive K from it. */
  def geometry(tables: Int, planesPerTable: Int, dim: Int, n: => Long): Geometry = {
    val ppt = if (planesPerTable == DedupQueries.AutoPlanes) DedupQueries.autoPlanesPerTable(n)
              else planesPerTable
    Geometry(tables, ppt, VectorFns.hyperplanes(tables * ppt, dim))
  }

  /** `vecs` as a side whose geometry follows its own count. `keep`
    * materializes a frame before it is read again (called with "vecs"
    * before the count, then with "buckets"): a cache slot, a checkpoint
    * for a static side, or nothing. */
  def sideOf(vecs: DataFrame, tables: Int, planesPerTable: Int, dim: Int,
      keep: (String, DataFrame) => DataFrame = (_, df) => df): Side = {
    val v = keep("vecs", vecs)
    val g = geometry(tables, planesPerTable, dim, v.count())
    Side(g, v, keep("buckets", g.bucketRows(v)))
  }

  /** The self form: pairs of one `(vec_id, embedding)` table that satisfy
    * `pred(a, b)` (`<` for each unordered pair once, `=!=` for both
    * orientations). The vector and bucket frames go into the
    * `<op>.vecs` / `<op>.buckets` [[OpCache]] slots; with `AutoPlanes`
    * the K count doubles as the vector slot's warm-up. */
  def selfPairs(op: String, embeddings: DataFrame, tables: Int, planesPerTable: Int,
      dim: Int, pred: (Column, Column) => Column): DataFrame = {
    val side = sideOf(embeddings.select(col("vec_id"), col("embedding")),
      tables, planesPerTable, dim, (slot, df) => OpCache.persistRotating(s"$op.$slot", df))
    pairs(side, side, pred)
  }

  /** The cross form: every pair of a `train` vector (`a`, an
    * `(id, embedding)` frame bucketed by `held`'s geometry) and a `held`
    * vector (`b`). */
  def crossPairs(train: DataFrame, held: Side): DataFrame =
    pairs(held.geometry.side(train), held, (_, _) => lit(true))

  /** Every `(a, b, cos_milli)` with `a` from `left` and `b` from `right`
    * that share a bucket in some table and satisfy `pred(a, b)`, each pair
    * once. Both sides must be bucketed by one [[Geometry]] instance.
    *
    * Example (run verbatim by DocExamplesSpec):
    * {{{
    * // tables 0 and 2 cut on x, table 1 on y: (1, 1) and (1, -1) collide
    * // in tables 0 and 2 only
    * val g = Geometry(3, 1, Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0)))
    * val s = g.side(Seq((1L, Array(1f, 1f)), (2L, Array(1f, -1f))).toDF("id", "embedding"))
    * pairs(s, s, _ < _).as[(Long, Long, Long)].collect().toSeq == Seq((1L, 2L, 0L))
    * }}}
    */
  def pairs(left: Side, right: Side, pred: (Column, Column) => Column): DataFrame = {
    require(left.geometry eq right.geometry, "both sides of a pair join must share one geometry")
    def buckets(s: Side, id: String, sig: String) =
      s.buckets.select(col("tbl"), col("bucket"), col("id").as(id), col("sig").as(sig))
    def vecs(s: Side, id: String, e: String) =
      s.vecs.select(col(s.vecs.columns(0)).as(id), col(s.vecs.columns(1)).as(e))
    buckets(left, "a", "sig_a")
      .join(buckets(right, "b", "sig_b"), Seq("tbl", "bucket"))
      .filter(pred(col("a"), col("b")) && DedupQueries.minSharedTable)
      .select(col("a"), col("b"))
      .join(vecs(left, "a", "ea"), Seq("a"))
      .join(vecs(right, "b", "eb"), Seq("b"))
      // codegen'd fused cosine (CosineMilliExpr): bit-equal to the typed
      // cosMilliOf loop (VectorExprSpec), and the scoring stage stays in
      // whole-stage codegen with no row ser/deser
      .select(col("a"), col("b"), VectorFns.cosineMilli(col("ea"), col("eb")).as("cos_milli"))
  }
}
