package graft

import graft.streaming._
import org.apache.spark.sql.DataFrame

/** The fold contract every DataFrame-state foreachBatch twin gets from
  * [[BatchFold]], checked over all twelve twins by driving their
  * `merge(batch, batchId)` directly with small static batches:
  *
  *  - a report taken after batch 0 still executes after five more merges
  *    (and a GC): a replaced generation stays readable for as long as a
  *    reader holds it;
  *  - once the reports are dropped, the RDDs the fold persisted since it
  *    began shrink to the live generation's tables: nothing else keeps an
  *    old generation alive;
  *  - a redelivered batch id is a no-op. */
class BatchFoldSpec extends SparkSpec {

  import spark.implicits._

  /** A fresh twin state: its fold, its merge and a report view. */
  private final case class Probe(fold: BatchFold, merge: (DataFrame, Long) => Unit,
      report: () => DataFrame)

  private def ts(i: Int) =
    java.sql.Timestamp.valueOf(f"2024-03-${1 + i / 1440}%02d ${i / 60 % 24}%02d:${i % 60}%02d:00")
  private def txt(i: Int) = (0 until 12).map(j => s"w${(i * 7 + j) % 90}").mkString(" ")
  private def vec(i: Int) = Array.tabulate(64)(j => ((i * 31 + j) % 7 - 3).toFloat)
  private val langs = Seq("en", "de", "fr")

  /** Twin registry: name -> (fresh state, batch i). Batches hold 20 rows;
    * batch i's ids start at 20 i. */
  private lazy val twins: Seq[(String, () => Probe, Int => DataFrame)] = Seq(
    ("StreamCdc", { () =>
      val st = new StreamCdc.CdcState(spark)
      Probe(st.fold, st.merge, () => st.snapshot)
    }, { i =>
      (0 until 20).map { j => val id = i * 20 + j
        (id.toLong, ts(id), (id % 7).toLong, Seq("signup", "view", "error")(id % 3), id.toDouble)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
    }),
    ("StreamScd2", { () =>
      val st = new StreamScd2.Scd2State(spark)
      Probe(st.fold, st.merge, () => st.history)
    }, { i =>
      (0 until 20).map { j => val id = i * 20 + j
        (id.toLong, ts(id), (id % 7).toLong, s"""{"k": ${(id / 9) * 25}}""")
      }.toDF("event_id", "ts", "user_id", "props")
    }),
    ("StreamQuantiles", { () =>
      val st = new StreamQuantiles.QuantileState(spark)
      Probe(st.fold, st.merge, () => st.quantiles(Seq(0.5, 0.9)))
    }, { i => (0 until 20).map(j => ((i * 20 + j) * 37 % 101).toLong).toDF("c") }),
    ("StreamRollingDistinct", { () =>
      val st = new StreamRollingDistinct.WauState(spark)
      Probe(st.fold, st.merge, () => st.wau7)
    }, { i =>
      (0 until 20).map { j => val id = i * 20 + j; (ts(id * 97), (id * 13 % 41).toLong) }
        .toDF("ts", "user_id")
    }),
    ("StreamSample", { () =>
      val st = new StreamSample.SampleState(spark, 3)
      Probe(st.fold, st.merge, () => st.sample)
    }, { i =>
      (0 until 20).map { j => val id = i * 20 + j; (id.toLong, langs(id % 3)) }.toDF("doc_id", "lang")
    }),
    ("StreamAdmission", { () =>
      val st = new StreamAdmission.CanonicalState(spark)
      Probe(st.fold, st.merge, () => st.admitted)
    }, { i => (0 until 20).map(j => ScaleCorpus.doc(i * 20L + j)).toDF("doc_id", "text") }),
    ("StreamIngest", { () =>
      val st = new StreamIngest.IngestState(spark)
      Probe(st.fold, st.merge, () => st.packed)
    }, { i => (0 until 20).map(j => ScaleCorpus.doc(i * 20L + j)).toDF("doc_id", "text") }),
    ("StreamIngestTws", { () =>
      val st = new StreamIngestTws.TwsIngestState(spark)
      Probe(st.fold, st.merge, () => st.packed)
    }, { i =>
      (0 until 20).map { j => val id = i * 20 + j
        if (j % 4 == 3) StreamIngestTws.IngestEvent("pair", s"k${id - 1}", s"k$id", 900L, "", 0L, "")
        else StreamIngestTws.IngestEvent("canon", s"k$id", "", id.toLong, langs(id % 3), 100L + id, "")
      }.toDF()
    }),
    ("StreamClusterLabels", { () =>
      val st = new StreamClusterLabels.ClusterState(spark, None)
      Probe(st.fold, st.merge, () => st.snapshot)
    }, { i =>
      (0 until 20).map { j => val id = i * 20 + j; ((id * 13 % 170).toLong, (id * 7 % 170).toLong) }
        .filter { case (a, b) => a != b }.toDF("doc_a", "doc_b")
    }),
    ("StreamDomainGovernance", { () =>
      val st = new StreamDomainGovernance.GovState(spark, None, graft.operators.TextQueries.DomainBudgetPct)
      Probe(st.fold, st.merge, () => st.report)
    }, { i =>
      (0 until 20).map { j => val id = i * 20 + j; (id.toLong, s"https://d${id % 5}.com/p/${id % 33}") }
        .toDF("doc_id", "url")
    }),
    ("StreamDecontaminate", { () =>
      val heldout = (0 until 10).map(i => (i.toLong, txt(i * 3), "en")).toDF("doc_id", "text", "lang")
      val st = new StreamDecontaminate.DecontState(spark, None, StreamDecontaminate.heldShOf(heldout))
      Probe(st.fold, st.merge, () => st.report)
    }, { i =>
      (0 until 20).map { j => val id = i * 20 + j; (100L + id, txt(id), langs(id % 3)) }
        .toDF("doc_id", "text", "lang")
    }),
    ("StreamSemanticDecontaminate", { () =>
      val heldout = (0 until 10).map(i => (i.toLong, s"held $i", "en", vec(i * 3)))
        .toDF("doc_id", "text", "lang", "embedding")
      val st = new StreamSemanticDecontaminate.SemDecontState(
        spark, None, StreamSemanticDecontaminate.heldStateOf(heldout), 400L)
      Probe(st.fold, st.merge, () => st.report)
    }, { i =>
      (0 until 20).map { j => val id = i * 20 + j; (100L + id, s"doc $id", langs(id % 3), vec(id)) }
        .toDF("doc_id", "text", "lang", "embedding")
    }))

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  for ((name, fresh, batch) <- twins) {
    test(s"$name: a report taken after batch 0 still executes after 5 more merges") {
      val p = fresh()
      p.merge(batch(0), 0L)
      val early = p.report()
      val want = early.collect().toSeq
      assert(want.nonEmpty, s"$name: batch 0 must fold to a non-empty report")
      (1 to 5).foreach(i => p.merge(batch(i), i.toLong))
      System.gc()
      assert(early.collect().toSeq === want)
    }

    test(s"$name: with reports dropped, only the live generation stays persisted") {
      val p = fresh()
      val before = persistedIds
      (0 to 5).foreach { i => p.merge(batch(i), i.toLong); p.report().collect() }
      val live = p.fold.tables.get.size
      def held = persistedIds -- before
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (held.size > live && System.nanoTime() < deadline) { System.gc(); Thread.sleep(200) }
      assert(held.size <= live,
        s"$name: ${held.size} RDDs persisted since the fold began, the live generation has $live tables")
    }

    test(s"$name: a redelivered batch id is a no-op") {
      val p = fresh()
      p.merge(batch(0), 0L)
      p.merge(batch(1), 1L)
      val want = p.report().collect().toSeq
      p.merge(batch(2), 1L)
      p.merge(batch(3), 0L)
      assert(p.report().collect().toSeq === want)
      assert(p.fold.lastCommittedBatch === 1L)
    }
  }
}
