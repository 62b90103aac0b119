package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamRuns._
import graft.streaming.StreamingQueries.shardStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The contract of [[GraftCheckpointFileManager]] on `file:`: a write is
  * invisible until `close()` publishes it, a no-overwrite publish never
  * replaces, an overwrite swaps whole files, and every checkpoint and
  * state-store file operation of a stateful query runs without forking a
  * child process. A restart on the same checkpoint reuses the classes
  * its first run compiled.
  */
class CheckpointFileManagerSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def newDir(): java.nio.file.Path = Files.createTempDirectory("graft-cfm-")

  private def manager(dir: java.nio.file.Path): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), spark.sessionState.newHadoopConf())

  /** Every entry of `dir` whose name does not start with a dot. */
  private def visible(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq.sorted
    finally s.close()
  }

  private def write(fm: CheckpointFileManager, p: Path, body: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("CheckpointFileManager.create gives the java.nio manager for a file: path in the test session") {
    val fm = manager(newDir())
    fm shouldBe a[GraftCheckpointFileManager]
    fm.asInstanceOf[GraftCheckpointFileManager].underlying shouldBe a[NioCheckpointFileManager]
  }

  test("CheckpointFileManager.create gives Spark's default for a flaky:// path") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.flaky.impl", classOf[FlakyCheckpointFs].getName)
    val fm = CheckpointFileManager.create(new Path(s"flaky://${newDir()}/ckpt"), conf)
    // no AbstractFileSystem is registered for flaky://, so Spark's own
    // choice falls back from FileContext to FileSystem
    fm.asInstanceOf[GraftCheckpointFileManager].underlying shouldBe a[FileSystemBasedCheckpointFileManager]
  }

  test("a stream dropped before close() and a cancelled stream leave no visible file") {
    val dir = newDir()
    val fm = manager(dir)
    val dropped = fm.createAtomic(new Path(dir.resolve("0").toUri), false)
    dropped.write("torn".getBytes(UTF_8))
    dropped.flush()
    val cancelled = fm.createAtomic(new Path(dir.resolve("1").toUri), false)
    cancelled.write("torn".getBytes(UTF_8))
    cancelled.cancel()
    fm.exists(new Path(dir.resolve("0").toUri)) shouldBe false
    fm.exists(new Path(dir.resolve("1").toUri)) shouldBe false
    visible(dir) shouldBe empty
    // the cancelled stream's temp file is gone; only the dropped one's remains
    Files.list(dir).count() shouldBe 1L
  }

  test("a second no-overwrite createAtomic fails with FileAlreadyExistsException and keeps the first bytes") {
    val dir = newDir()
    val fm = manager(dir)
    val p = new Path(dir.resolve("offsets/0").toUri)
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    read(fm, p) shouldBe "first"
    visible(dir.resolve("offsets")) shouldBe Seq("0")
    Files.list(dir.resolve("offsets")).count() shouldBe 1L
  }

  test("an overwrite replaces the whole file at close(), with no sidecar") {
    val dir = newDir()
    val fm = manager(dir)
    val p = new Path(dir.resolve("1.delta").toUri)
    write(fm, p, "old", overwrite = true)
    val out = fm.createAtomic(p, true)
    out.write("new".getBytes(UTF_8))
    out.flush()
    read(fm, p) shouldBe "old"
    out.close()
    read(fm, p) shouldBe "new"
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSeq shouldBe Seq("1.delta")
  }

  /** A `dropDuplicates` + `PerKeyTracker` stream over `shards`. */
  private def tracker(shards: String, maxFiles: Int) =
    PerKeyTracker.track(shardStream(spark, shards, maxFilesPerTrigger = Some(maxFiles)).dropDuplicates("event_id"))

  test("production confs: a dropDuplicates + tracker query commits, restarts and reloads its state") {
    // session defaults, so Spark's ChecksumCheckpointFileManager wraps
    // this manager for the state stores
    spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") shouldBe "true"
    val base = newBase()
    val shards = eventShards(spark, sf001, base)
    val ckpt = s"$base/ckpt"
    val got = new Batches[(Long, PerKeyTracker.KeyState)]
    val sink = failOnce(2)(got.sink[(Long, PerKeyTracker.KeyState)](identity))
    // the restart must load batch 1's state from its files
    crashAndRestart(ckpt, between = StateStoreBridge.unloadAll()) {
      start(tracker(shards, 2), ckpt, mode = "update")(sink)
    }
    got.rows.toMap shouldBe perKeyTruth(spark, sf001)

    val stateFiles = Files.walk(Paths.get(ckpt, "state")).iterator.asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
    stateFiles.filter(_.endsWith(".delta")) should not be empty
    stateFiles.filter(_.endsWith(".delta.crc")) should not be empty
    stateFiles.filter(_.startsWith(".")) shouldBe empty
  }

  test("a restart on the same checkpoint compiles no class in its first batch") {
    val base = newBase()
    val shards = s"$base/shards"
    val events = ShardLayout.Events.source(spark, sf001)
    ShardLayout.Events.append(events.filter(col("event_id") % 2 === 0), shards)
    val ckpt = s"$base/ckpt"
    // (batch id, codegen compiles so far), read after the batch's sink job
    val seen = mutable.Buffer.empty[(Long, Long)]
    def run(): Unit = drain(tracker(shards, 10000), ckpt, "update") { (ds, batchId) =>
      ds.collect()
      seen.synchronized(seen += batchId -> graft.Bench.codegenCompiles)
    }
    run()
    ShardLayout.Events.append(events.filter(col("event_id") % 2 === 1), shards)
    val beforeRestart = graft.Bench.codegenCompiles
    run()
    val batches = seen.synchronized(seen.toSeq)
    batches.map(_._1) shouldBe Seq(0L, 1L)
    // the restart's planning and first batch hit the codegen cache, which
    // Spark keys by class loader: one executor loader per session
    batches(1)._2 - beforeRestart shouldBe 0L
  }

  test("fork guard: three stateful micro-batches on a file: checkpoint start no process") {
    val base = newBase()
    val shards = eventShards(spark, sf001, base)
    val files = ShardLayout.partFiles(shards).size
    val got = new Batches[(Long, PerKeyTracker.KeyState)]
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    val dump = Paths.get(base, "forks.jfr")
    recording.start()
    try drain(tracker(shards, (files + 2) / 3), s"$base/ckpt", "update")(got.sink(identity))
    finally {
      recording.stop()
      recording.dump(dump)
      recording.close()
    }
    got.ids shouldBe Seq(0L, 1L, 2L)
    // Spark deletes a dropped session's artifact directory (every query
    // runs on a session clone) with `rm -rf` from a cleaner thread, at
    // a time set by GC, not by this query; it is not checkpoint I/O. A
    // non-isolated session skips only the job-artifact cleanup, not this
    // delete, so graft sessions still fork it
    val starts = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .filterNot(c => c.startsWith("rm -rf ") && c.contains("/artifacts-"))
    starts shouldBe empty
  }
}
