package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamingQueries.shardStream
import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.collection.mutable

/** [[StateStoreRelease]] on the test session: a terminated run's
  * state-store providers are unloaded by the time a later-registered
  * listener sees its terminated event, a restart on the same checkpoint
  * still rebuilds its state, and a RocksDB provider whose instance lock a
  * cancelled task holds does not stall the listener bus.
  */
class StateStoreReleaseSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def newDir(): java.nio.file.Path = Files.createTempDirectory("graft-release-")

  /** A listener registered after the session's own: one latch per run,
    * counted down when the run's terminated event reaches it.
    */
  private final class Terminations extends StreamingQueryListener {
    private val ended = new ConcurrentHashMap[UUID, CountDownLatch]()
    private def latch(run: UUID) = ended.computeIfAbsent(run, _ => new CountDownLatch(1))
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      latch(e.runId).countDown()
    def await(run: UUID, seconds: Long): Boolean = latch(run).await(seconds, TimeUnit.SECONDS)
  }

  private def withTerminations[T](body: Terminations => T): T = {
    val t = new Terminations
    spark.streams.addListener(t)
    try body(t) finally spark.streams.removeListener(t)
  }

  private def trackerTruth: Map[Long, PerKeyTracker.KeyState] =
    graft.Tables.events(spark, sf001)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))
      .collect()
      .map(r => r.getLong(0) -> PerKeyTracker.KeyState(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  test("a failed run's providers are unloaded at its termination, the restart's at its stop") {
    val base = newDir()
    val shards = base.resolve("shards").toString
    ShardLayout.Events.materialize(spark, sf001, shards)
    val ckpt = base.resolve("ckpt").toString
    val finalStates = mutable.Map.empty[Long, PerKeyTracker.KeyState]
    @volatile var crashed = false
    withTerminations { ends =>
      def start() =
        PerKeyTracker.track(shardStream(spark, shards, maxFilesPerTrigger = Some(2)).dropDuplicates("event_id"))
          .writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (ds: Dataset[(Long, PerKeyTracker.KeyState)], batchId: Long) =>
            ds.collect().foreach { case (k, s) => finalStates.synchronized { finalStates(k) = s } }
            if (batchId == 1L && !crashed) {
              crashed = true
              throw new RuntimeException("crash after the sink write, before the commit")
            }
          }
          .start()

      val first = start()
      intercept[Exception](first.awaitTermination())
      ends.await(first.runId, 30) shouldBe true
      StateStoreBridge.loaded(first.runId) shouldBe empty

      val second = start()
      second.processAllAvailable()
      // the dedup's and the tracker's providers, loaded in this JVM
      StateStoreBridge.loaded(second.runId) should not be empty
      second.stop()
      ends.await(second.runId, 30) shouldBe true
      StateStoreBridge.loaded(second.runId) shouldBe empty
      second.exception shouldBe None
    }
    finalStates.toMap shouldBe trackerTruth
  }

  test("stopping a RocksDB query mid-batch returns, and later listeners get its termination promptly") {
    val base = newDir()
    val shards = base.resolve("shards").toString
    ShardLayout.Events.materialize(spark, sf001, shards)
    StateStoreReleaseSpec.inTask = new CountDownLatch(1)
    withTerminations { ends =>
      val q = StreamingQueries.withConfs(spark, Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
        PerKeyTracker.trackTws(shardStream(spark, shards, maxFilesPerTrigger = Some(1)))
          .toDF("user_id", "state")
          .writeStream
          .outputMode("update")
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .foreachBatch { (df: DataFrame, _: Long) =>
            // a task holds its RocksDB instance lock until its rows are
            // drained; park there, deaf to the stop's interrupt, so the
            // release's close waits for the lock after the run is gone
            df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
              if (rows.hasNext) {
                rows.next()
                StateStoreReleaseSpec.inTask.countDown()
                val until = System.nanoTime() + TimeUnit.SECONDS.toNanos(StateStoreReleaseSpec.ParkSeconds)
                while (System.nanoTime() < until)
                  try Thread.sleep(100) catch { case _: InterruptedException => () }
              }
              rows.foreach(_ => ())
            }
          }
          .start()
      }
      StateStoreReleaseSpec.inTask.await(60, TimeUnit.SECONDS) shouldBe true
      q.stop()
      // a close on the bus would hold this event until the parked task ends
      ends.await(q.runId, StateStoreReleaseSpec.ParkSeconds / 3) shouldBe true
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(4 * StateStoreReleaseSpec.ParkSeconds)
      while (StateStoreBridge.loaded(q.runId).nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      StateStoreBridge.loaded(q.runId) shouldBe empty
    }
  }
}

object StateStoreReleaseSpec {
  /** Counted down by a task of the RocksDB query once it holds its store. */
  @volatile var inTask: CountDownLatch = new CountDownLatch(1)

  /** How long that task keeps its store after the stop. */
  val ParkSeconds = 15L
}
