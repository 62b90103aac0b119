package org.apache.spark.sql.graftbridge

import java.util.UUID
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProvider, StateStoreProviderId}
import scala.collection.mutable

/** Bridge into `private[sql]` state-store lifecycle control.
  *
  * Every state-store provider a task loads stays in
  * `StateStore.loadedProviders` until something unloads it. For a query
  * run that has terminated, Spark 4.1 does so only at the executor's next
  * maintenance tick (`spark.sql.streaming.stateStore.maintenanceInterval`,
  * 60 s), when the coordinator no longer names this executor as the run's
  * active instance. When a provider loads, the coordinator names only
  * providers registered at another executor for unloading, so a stopped
  * run's providers are not evicted before that tick, and a restarted run
  * never reads them: it rebuilds its state from the checkpoint.
  */
object StateStoreBridge {

  /** Unload and close every loaded provider: what Spark itself calls on
    * executor shutdown, safe between queries when nothing is running.
    */
  def unloadAll(): Unit = StateStore.unloadAll()

  /** `StateStore.loadedProviders`, which Spark 4.1.2 keeps private and
    * guards with its own monitor. Resolved once, on first use; a renamed
    * member throws there instead of reading as "nothing loaded".
    */
  private lazy val loadedProviders: mutable.HashMap[StateStoreProviderId, StateStoreProvider] = {
    val f = StateStore.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    f.get(StateStore).asInstanceOf[mutable.HashMap[StateStoreProviderId, StateStoreProvider]]
  }

  /** The providers loaded in this JVM for query run `runId`. In a
    * `local[n]` session this JVM is the executor; a cluster executor's
    * providers are not visible here.
    */
  def loaded(runId: UUID): Seq[StateStoreProviderId] =
    loadedProviders.synchronized(loadedProviders.keys.filter(_.queryRunId == runId).toSeq)

  /** Remove `id` from the loaded providers and close it, as Spark's
    * maintenance task does for an inactive instance. The close runs outside
    * Spark's monitor; a RocksDB provider's close may wait for its instance
    * lock.
    */
  def unload(id: StateStoreProviderId): Unit =
    StateStore.removeFromLoadedProvidersAndClose(id)
}
