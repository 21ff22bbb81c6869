package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.dsl.{Compiler, Keyed, SP}
import graft.streaming.StreamFsm
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.StreamingQuery

object CheckpointIoSpec {
  type Ev = (String, Double, Long)

  /** The r05 machine: a signup toggles the state, a purchase in the armed
    * state emits (event id, cents). */
  def step(st: Boolean, e: Ev): (Boolean, Seq[(Long, Long)]) = e match {
    case ("signup", _, _) => (!st, Nil)
    case ("purchase", v, id) if st => (st, Seq((id, math.floor(v * 100).toLong)))
    case _ => (st, Nil)
  }
}

/** Local checkpoint I/O runs in-process under [[SessionConf.common]]: no
  * `readlink`/`chmod` subprocess per checkpoint, WAL, offset or state-store
  * file, and a checkpointed stream still restarts exactly once. */
class CheckpointIoSpec extends SparkSpec {
  import CheckpointIoSpec._
  import spark.implicits._

  private def keyed(df: org.apache.spark.sql.DataFrame): Dataset[Keyed[Ev]] =
    df.select($"user_id", $"event_id", $"event_type", $"value")
      .as[(Long, Long, String, Double)]
      .map { case (u, id, t, v) => Keyed(u, id, (t, v, id)) }

  /** Subprocesses started while `body` runs, as their command lines. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_process_starts", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("the session's file: file system is the in-process one") {
    val fs = FileSystem.get(new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[InProcessLocalFileSystem],
      s"file: resolves to ${fs.getClass.getName}: a file system cached before the session " +
        "ignores fs.file.impl")
  }

  test("checkpointed file-source FSM: no subprocess per batch, exactly-once across a restart") {
    val events = Tables.events(spark, sf)
    val schema = events.schema
    val rows = events.orderBy($"event_id").collect().toSeq
    val nFiles = 7
    val chunks = rows.grouped((rows.size + nFiles - 1) / nFiles).toSeq
    assert(chunks.size === nFiles)
    val work = Files.createTempDirectory("graft_ckpt_io").toFile
    val in = new File(work, "in")
    in.mkdirs()
    val ckpt = new File(work, "ckpt").getPath
    // one parquet file per micro-batch, file i the i-th oldest
    val mtime0 = System.currentTimeMillis() - 60000L
    val parts = chunks.zipWithIndex.map { case (c, i) =>
      val stage = new File(work, s"stage-$i").getPath
      spark.createDataFrame(c.asJava, schema).coalesce(1).write.parquet(stage)
      new File(stage).listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    }
    def publish(ids: Range): Unit = ids.foreach { i =>
      val dst = new File(in, f"chunk-$i%02d.parquet")
      Files.move(parts(i).toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      assert(dst.setLastModified(mtime0 + i * 1000L))
    }

    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[Keyed[(Long, Long)]]()
    val batches = new java.util.concurrent.atomic.AtomicInteger()
    /** Runs the query from its checkpoint until the input is drained;
      * returns the subprocesses started from query start to the last batch
      * (stopping the query is left out: it removes the session's artifact
      * directory with an `rm -rf`, once per query). */
    def run(): Seq[String] = {
      val source = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(in.getPath)
      var q: Option[StreamingQuery] = None
      try processStarts {
        q = Some(StreamFsm.fsmStreamAuto(keyed(source), false)(step).writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: Dataset[Keyed[(Long, Long)]], _: Long) =>
            batches.incrementAndGet()
            b.collect().foreach(k => assert(got.add(k), s"output re-emitted after restart: $k"))
          }
          .start())
        q.get.processAllAvailable()
      } finally q.foreach(_.stop())
    }

    publish(0 until 5)
    val forks = run()
    publish(5 until nFiles)
    val forksAfterRestart = run()
    assert(batches.get() === nFiles, "one micro-batch per file")
    Seq(forks, forksAfterRestart).foreach { f =>
      assert(f.isEmpty, s"${f.size} subprocesses during checkpointed batches, e.g. " +
        f.distinct.take(3).mkString("; "))
    }

    val batch = Compiler.compile(SP.fsm(false)(step))(keyed(spark.read.parquet(in.getPath)))
      .collect().toSet
    assert(got.asScala.toSet === batch)
    assert(batch.nonEmpty)
  }

  test("permission mapping: 0644 and 0755 map to POSIX sets, the sticky bit delegates") {
    def posix(mode: Int) =
      InProcessLocalFileSystem.posix(new FsPermission(mode.toShort)).map(PosixFilePermissions.toString)
    assert(posix(Integer.parseInt("644", 8)) === Some("rw-r--r--"))
    assert(posix(Integer.parseInt("755", 8)) === Some("rwxr-xr-x"))
    assert(posix(Integer.parseInt("1777", 8)) === None)

    val dir = Files.createTempDirectory("graft_perm")
    val fs = new InProcessLocalFileSystem
    fs.initialize(new java.net.URI("file:///"), new org.apache.hadoop.conf.Configuration())
    try {
      val f = Files.createFile(dir.resolve("f"))
      fs.setPermission(new Path(f.toUri), new FsPermission(Integer.parseInt("755", 8).toShort))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) === "rwxr-xr-x")
      // the sticky bit goes through Hadoop's own setter and lands whole
      fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1750", 8).toShort))
      assert(fs.getFileStatus(new Path(dir.toUri)).getPermission.toShort ===
        Integer.parseInt("1750", 8).toShort)
    } finally fs.close()
  }
}
