package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamRuns._
import graft.streaming.StreamingQueries.shardStream
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[StateStoreRelease]] on the test session: a terminated run's
  * state-store providers are unloaded by the time a later-registered
  * listener sees its terminated event, a restart on the same checkpoint
  * still rebuilds its state, and a RocksDB provider whose instance lock a
  * cancelled task holds does not stall the listener bus.
  */
class StateStoreReleaseSpec extends AnyFunSuite with SparkSpec with Matchers {

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

  test("a failed run's providers are unloaded at its termination, the restart's at its stop") {
    val base = newBase()
    val shards = eventShards(spark, sf001, base)
    val ckpt = s"$base/ckpt"
    val got = new Batches[(Long, PerKeyTracker.KeyState)]
    val sink = failOnce(1)(got.sink[(Long, PerKeyTracker.KeyState)](identity))
    withTerminations { ends =>
      def run() = start(
        PerKeyTracker.track(shardStream(spark, shards, maxFilesPerTrigger = Some(2)).dropDuplicates("event_id")),
        ckpt, Trigger.ProcessingTime(0L), "update")(sink)

      val first = run()
      crashes(first, ckpt)
      ends.await(first.runId, 30) shouldBe true
      StateStoreBridge.loaded(first.runId) shouldBe empty

      val second = run()
      second.processAllAvailable()
      // the dedup's and the tracker's providers, loaded in this JVM
      StateStoreBridge.loaded(second.runId) should not be empty
      second.stop()
      ends.await(second.runId, 30) shouldBe true
      StateStoreBridge.loaded(second.runId) shouldBe empty
      second.exception shouldBe None
    }
    got.rows.toMap shouldBe perKeyTruth(spark, sf001)
  }

  test("stopping a RocksDB query mid-batch returns, and later listeners get its termination promptly") {
    val base = newBase()
    val shards = eventShards(spark, sf001, base)
    StateStoreReleaseSpec.inTask = new CountDownLatch(1)
    withTerminations { ends =>
      val q = StreamingQueries.withConfs(spark, Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
        val tracker = PerKeyTracker.trackTws(shardStream(spark, shards, maxFilesPerTrigger = Some(1)))
        start(tracker.toDF("user_id", "state"), s"$base/ckpt", Trigger.ProcessingTime(0L), "update") {
          (df: DataFrame, _: Long) =>
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
      }
      StateStoreReleaseSpec.inTask.await(60, TimeUnit.SECONDS) shouldBe true
      q.stop()
      // a close on the bus would hold this event until the parked task ends
      ends.await(q.runId, StateStoreReleaseSpec.ParkSeconds / 3) shouldBe true
      within(4 * StateStoreReleaseSpec.ParkSeconds.toInt)(StateStoreBridge.loaded(q.runId) shouldBe empty)
    }
  }
}

object StateStoreReleaseSpec {
  /** Counted down by a task of the RocksDB query once it holds its store. */
  @volatile var inTask: CountDownLatch = new CountDownLatch(1)

  /** How long that task keeps its store after the stop. */
  val ParkSeconds = 15L
}
