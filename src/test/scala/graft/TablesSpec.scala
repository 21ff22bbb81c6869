package graft

import java.nio.file.Files

import graft.streaming.StreamDecontaminateApply

/** [[Tables.parquet]] gives the schema `spark.read.parquet` infers, field
  * for field, without running a Spark job, and reads it afresh on every
  * call. */
class TablesSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_tables_$name").toString

  private def sameSchema(paths: String*): Unit = {
    val want = spark.read.parquet(paths: _*).schema
    val got = Tables.parquet(spark, paths: _*).schema
    assert(got.fields.toSeq === want.fields.toSeq, s"schema of ${paths.mkString(", ")}")
  }

  test("(a) every sf0.001 fixture table: the inferred schema, field for field") {
    Tables.names.foreach(t => sameSchema(s"$sf/$t.parquet"))
  }

  test("(b) a multi-file directory written by Spark") {
    val dir = tmp("multi")
    (0 until 100).map(i => (i.toLong, s"s$i", i * 0.5, i % 2 == 0)).toDF("id", "s", "x", "b")
      .repartition(4).write.mode("overwrite").parquet(dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) > 1)
    sameSchema(dir)
  }

  test("(c) a hive-partitioned directory: the partition columns present, in the same position") {
    val dir = tmp("part")
    (0 until 60).map(i => (i.toLong, (i % 3).toLong, s"r${i % 2}", i * 1.5)).toDF("id", "k", "r", "x")
      .write.mode("overwrite").partitionBy("k", "r").parquet(dir)
    sameSchema(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq === Seq("id", "x", "k", "r"))
    assert(Tables.parquet(spark, dir).where($"k" === 1L).count() === 20L)
  }

  test("(d) several paths: StreamDecontaminateApply.kept's batch directories") {
    val out = tmp("kept")
    (0 until 3).foreach { b =>
      (0 until 5).map(i => (b * 5L + i, "en", i)).toDF("doc_id", "lang", "n_toks")
        .write.parquet(s"$out/batch_$b")
    }
    val dirs = (0 until 3).map(b => s"file:$out/batch_$b")
    sameSchema(dirs: _*)
    val kept = StreamDecontaminateApply.kept(spark, out)
    assert(kept.schema === spark.read.parquet(dirs: _*).schema)
    assert(kept.count() === 15L)
  }

  test("no Spark job per load, nor while q03, q08 and q11 build their plans") {
    val (_, loads) = trace(Tables.names.foreach { t =>
      if (t == "events") Tables.events(spark, sf) else Tables.load(spark, sf, t)
    })
    assert(loads.jobs === 0, s"${loads.jobs} jobs over ${Tables.names.size} table loads")
    val defs = SparkEntry.allDefs.map(q => q.name -> q).toMap
    Seq("q03_join_broadcast_star", "q08_join_full_outer", "q11_window_lag_delta").foreach { n =>
      val (_, built) = trace(defs(n).fn(spark, sf))
      assert(built.jobs === 0, s"$n ran ${built.jobs} jobs before returning its plan")
    }
  }

  test("a file rewritten in place with another schema is read with the new schema") {
    val dir = tmp("rewrite")
    Seq((1L, "a")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq === Seq("id", "s"))
    Seq((2.5, 7, true)).toDF("x", "n", "b").write.mode("overwrite").parquet(dir)
    sameSchema(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq === Seq("x", "n", "b"))
    assert(Tables.parquet(spark, dir).as[(Double, Int, Boolean)].collect().toSeq === Seq((2.5, 7, true)))
  }

  test("a missing path fails with a message that names it") {
    val missing = s"${tmp("missing")}/no_such_table.parquet"
    val e = intercept[Exception](Tables.parquet(spark, missing))
    assert(e.getMessage.contains(missing), e.getMessage)
  }
}
