package graft.streaming

import java.util.UUID
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Closes a stream run's state-store providers when the run terminates.
  *
  * Spark 4.1 keeps a terminated run's providers, and the state maps they
  * hold, loaded until the executor's next maintenance tick (60 s by
  * default; see [[org.apache.spark.sql.graftbridge.StateStoreBridge]]),
  * although a restart on the same checkpoint runs under a new run id and
  * rebuilds its state from the checkpoint files. After three failovers the
  * heap held five runs' state maps. This listener unloads exactly the
  * providers whose `queryRunId` is the terminated run's.
  *
  * It reaches only providers loaded in the driver JVM, which in a
  * `local[n]` session is the executor; cluster executors keep Spark's
  * maintenance tick. [[graft.GraftExtensions]] registers it on every graft
  * session.
  *
  * The closes run on one daemon thread, not on the listener bus: a
  * RocksDB provider's `close()` waits for its instance lock, which a
  * cancelled task of the stopped run may still hold, and on the bus that
  * would delay every later listener's events. The bus waits at most
  * [[StateStoreRelease.BusWaitMs]] for the release, so a quick one (every
  * HDFS-backed provider) has finished before later listeners see the
  * termination.
  */
final class StateStoreRelease extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    StateStoreRelease.release(e.runId)
}

object StateStoreRelease {

  /** The longest the listener bus waits for one run's release. */
  val BusWaitMs = 1000L

  private val worker = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "graft-state-store-release")
    t.setDaemon(true)
    t
  }

  /** Unload run `runId`'s providers on the release thread; wait for it up
    * to [[BusWaitMs]]. A failed release is rethrown, so the bus logs it.
    */
  def release(runId: UUID): Unit = {
    val unload: Runnable = () => StateStoreBridge.loaded(runId).foreach(StateStoreBridge.unload)
    val done = worker.submit(unload)
    try done.get(BusWaitMs, TimeUnit.MILLISECONDS)
    catch { case _: TimeoutException => () }
  }
}
