package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.scalatest.Assertions._
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Millis, Seconds, Span}
import scala.collection.mutable

/** The one way a spec runs a stream: one `foreachBatch` query on one
  * checkpoint, drained to completion, failed once after a batch's sink,
  * restarted, and waited on. Every streaming spec starts its queries
  * here (StreamingSpec's source scan holds the rest of `src/test` to
  * it), so a new commit-point injection has one place to land.
  *
  * The injection points it offers:
  *  - after the sink, before the commit log ([[failOnce]]);
  *  - anywhere a failure surfaces through the query, such as a flaky
  *    checkpoint file system or a task of the sink's own job
  *    ([[crashes]], [[crashAndRestart]]).
  */
object StreamRuns {

  /** A fresh temp directory for one test's shards, checkpoints and sink. */
  def newBase(): String = Files.createTempDirectory("graft-spec-").toString

  /** The events table of `sfDir`, sharded under `base/shards`. */
  def eventShards(spark: SparkSession, sfDir: String, base: String): String = {
    val dir = s"$base/shards"
    ShardLayout.Events.materialize(spark, sfDir, dir)
    dir
  }

  /** `format("graft-shards")` at `dir` with `startingPosition` and any
    * further source options, for specs that pin the options themselves.
    */
  def open(spark: SparkSession, dir: String, position: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format("graft-shards")
      .option("path", dir)
      .option("startingPosition", position)
      .options(options)
      .load()

  /** Start one `foreachBatch` query of `ds` on `ckpt`. */
  def start[T](ds: Dataset[T], ckpt: String, trigger: Trigger = Trigger.AvailableNow(),
      mode: String = "append")(batch: (Dataset[T], Long) => Unit): StreamingQuery =
    ds.writeStream
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch(batch)
      .start()

  /** Wait for `q` to end; it must end without an exception. */
  def await(q: StreamingQuery): StreamingQuery = {
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    q
  }

  /** [[start]] an `AvailableNow` query and [[await]] it. */
  def drain[T](ds: Dataset[T], ckpt: String, mode: String = "append")(
      batch: (Dataset[T], Long) => Unit): StreamingQuery =
    await(start(ds, ckpt, mode = mode)(batch))

  /** What a sink received, one entry per batch it ran, in order: a
    * replayed batch id appears once per run that delivered it.
    */
  final class Batches[A] {
    private val seen = mutable.Buffer.empty[(Long, Seq[A])]

    /** A batch function that collects each batch's rows through `decode`. */
    def sink[T](decode: T => A): (Dataset[T], Long) => Unit = { (ds, id) =>
      val rows = ds.collect().toSeq.map(decode)
      synchronized(seen += id -> rows)
    }

    def all: Vector[(Long, Seq[A])] = synchronized(seen.toVector)
    def ids: Vector[Long] = all.map(_._1)
    def rows: Vector[A] = all.flatMap(_._2)
    /** The last batch's rows: the whole result of a complete-mode query. */
    def last: Seq[A] = all.last._2
  }

  /** A batch function that runs each batch to its end and keeps nothing:
    * the work of the `noop` sink.
    */
  def discard[T]: (Dataset[T], Long) => Unit =
    (ds, _) => ds.write.format("noop").mode("overwrite").save()

  /** [[drain]] `ds` on `ckpt` into a fresh [[Batches]]. */
  def collect[T, A](ds: Dataset[T], ckpt: String, mode: String = "append")(
      decode: T => A): Batches[A] = {
    val got = new Batches[A]
    drain(ds, ckpt, mode)(got.sink(decode))
    got
  }

  /** Every `event_id` one drain of `ds` delivers. */
  def eventIds(ds: DataFrame, ckpt: String): Vector[Long] =
    collect(ds.select("event_id"), ckpt)(_.getLong(0)).rows

  /** `sink`, then one thrown failure on the first run of batch `batchId`:
    * a crash after the side effect and before the epoch's commit.
    */
  def failOnce[T](batchId: Long)(sink: (Dataset[T], Long) => Unit): (Dataset[T], Long) => Unit = {
    val fired = new AtomicBoolean(false)
    (ds, id) => {
      sink(ds, id)
      if (id == batchId && fired.compareAndSet(false, true))
        throw new RuntimeException(s"injected failure after the sink of batch $id")
    }
  }

  /** Await `q`, which must fail and leave exactly one uncommitted epoch
    * on `ckpt`: its offsets were written, its commit was not.
    */
  def crashes(q: StreamingQuery, ckpt: String): Unit = {
    intercept[Exception](q.awaitTermination())
    assert(q.exception.isDefined, "the failure must surface through query.exception")
    assert(offsets(ckpt) == commits(ckpt) + 1,
      s"expected one uncommitted epoch, got offsets=${offsets(ckpt)} commits=${commits(ckpt)}")
  }

  /** `run` on `ckpt` must [[crashes crash]]; after `between`, its restart
    * must drain with every epoch committed. Returns the restart.
    */
  def crashAndRestart(ckpt: String, between: => Unit = ())(run: => StreamingQuery): StreamingQuery = {
    crashes(run, ckpt)
    between
    val q = await(run)
    assert(offsets(ckpt) == commits(ckpt), "the restart must commit every epoch it wrote")
    q
  }

  // the checkpoint's local path, also for a `flaky://` one
  private def offsets(ckpt: String) = StreamControl.checkpointOffsets(new java.net.URI(ckpt).getPath)
  private def commits(ckpt: String) = StreamControl.checkpointCommits(new java.net.URI(ckpt).getPath)

  /** The per-key `(n, min_id, max_id)` of `sfDir`'s events, by `user_id`:
    * what [[PerKeyTracker]] must hold after the whole stream.
    */
  def perKeyTruth(spark: SparkSession, sfDir: String): Map[Long, PerKeyTracker.KeyState] =
    graft.Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)), min(col("event_id")), max(col("event_id")))
      .collect()
      .map(r => r.getLong(0) -> PerKeyTracker.KeyState(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  /** A per-key tracker's output as `(user_id, n, min_id, max_id)`, the
    * columns an [[IdempotentSink]] of it stores ([[PerKeySchema]]).
    */
  def flatPerKey(ds: Dataset[(Long, PerKeyTracker.KeyState)]): DataFrame =
    ds.toDF("user_id", "state").select(col("user_id"), col("state.n").as("n"),
      col("state.min_id").as("min_id"), col("state.max_id").as("max_id"))

  val PerKeySchema: StructType = StructType.fromDDL("user_id BIGINT, n BIGINT, min_id BIGINT, max_id BIGINT")

  /** The latest state per key that the [[IdempotentSink]] at `out` holds
    * of a [[flatPerKey]] stream: the tracker's state only grows, so the
    * row with the largest `n` is the last one emitted.
    */
  def sinkPerKey(spark: SparkSession, out: String): Map[Long, PerKeyTracker.KeyState] =
    IdempotentSink.readAll(spark, out, PerKeySchema).collect()
      .map(r => r.getLong(0) -> PerKeyTracker.KeyState(r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupMapReduce(_._1)(_._2)((a, b) => if (a.n >= b.n) a else b)

  /** Retry `body` until it passes, for up to `seconds`: the listener bus
    * delivers a query's events after the query returns.
    */
  def within[T](seconds: Int)(body: => T): T =
    Eventually.eventually(Eventually.timeout(Span(seconds, Seconds)),
      Eventually.interval(Span(50, Millis)))(body)
}
