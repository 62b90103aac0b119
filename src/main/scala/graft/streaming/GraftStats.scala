package graft.streaming

import java.util.UUID
import org.apache.spark.sql.streaming.StreamingQueryListener

/** ConsumerStats re-expressed as a `StreamingQueryListener` (O15).
  *
  * The reference exposes ten callback hooks for checkpoint acks, in-flight
  * record gauges and lifecycle events (ConsumerStats.scala:11-61). In
  * Spark those observations arrive as query-lifecycle events and per-batch
  * `StreamingQueryProgress`:
  *
  *  - reportInitialization        -> onQueryStarted
  *  - reportShutdown              -> onQueryTerminated (exception => failed)
  *  - trackRecord / batchEnqueue  -> progress.numInputRows per batch
  *  - checkpointAcked             -> each completed batch (epoch commit)
  *  - recordNrOfInFlightRecords   -> stateRowsTotal gauge (below)
  *  - recordNrOfProcessedUncheckpointedRecords -> stateRowsUpdated gauge
  *
  * The two state-depth gauges (ConsumerStats.scala:26-31) are the rows a
  * consumer is holding versus the rows touched since the last checkpoint
  * ack; Spark reports exactly those per batch in
  * `progress.stateOperators` — `numRowsTotal` is the state a restart
  * would restore (in-flight), `numRowsUpdated` the rows this epoch wrote
  * before its commit. Both are summed across the query's stateful
  * operators.
  *
  * Every observation lands in ONE record per query ([[QueryStats]], read
  * with [[of]]): the reference's hooks live on a per-consumer stats
  * instance, so a session-wide listener keeps per-query resolution or two
  * concurrent queries' observations would overwrite each other.
  *
  * Registered session-wide via the `streamingQueryListeners` static conf
  * (the reflective `ConsumerStats` config hook), so nothing here may grow
  * with listener lifetime: the records are bounded
  * ([[GraftStats.BoundedIdMap]] — newest [[GraftStats.IdCapacity]]
  * queries retained, oldest evicted).
  *
  * Thread-safe: listener callbacks fire on the streaming listener bus.
  */
final class GraftStats extends StreamingQueryListener {
  import GraftStats._

  private val queries = new BoundedIdMap(IdCapacity, QueryStats())

  /** The record of query `id`, once its start was observed. */
  def of(id: UUID): Option[QueryStats] = queries.get(id)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    queries.update(e.id)(_.copy(started = true))

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = Option(p.stateOperators).getOrElse(Array.empty)
    // per-shard rows from the observeShardRows tap (absent unless the
    // query was instrumented; empty batches report an empty map)
    val perShard = Option(p.observedMetrics).filter(_.containsKey(ShardRowsMetric))
      .map(_.get(ShardRowsMetric).getAs[scala.collection.Map[Int, Long]](ShardRowsField).toMap)
    queries.update(p.id) { s =>
      val counted = s.copy(batches = s.batches + 1, rows = s.rows + p.numInputRows)
      val gauged = if (ops.isEmpty) counted else counted.copy(
        stateRowsTotal = ops.map(_.numRowsTotal).sum, stateRowsUpdated = ops.map(_.numRowsUpdated).sum)
      perShard.fold(gauged)(m => gauged.copy(shardRowsLastBatch = m,
        shardRowsTotal = m.foldLeft(gauged.shardRowsTotal) { case (acc, (shard, n)) =>
          acc.updated(shard, acc.getOrElse(shard, 0L) + n)
        }))
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    queries.update(e.id)(_.copy(terminated = true, failed = e.exception.isDefined))
}

object GraftStats {

  /** What [[GraftStats]] observed of one query.
    *
    * @param batches            checkpointAcked analog: committed epochs
    * @param rows               trackRecord analog: input rows
    * @param stateRowsTotal     recordNrOfInFlightRecords analog, last
    *                           stateful batch (0 until one reports)
    * @param stateRowsUpdated   recordNrOfProcessedUncheckpointedRecords
    *                           analog, last stateful batch
    * @param shardRowsLastBatch rows per shard in the last reported epoch —
    *                           the per-shard uncheckpointed-records analog
    * @param shardRowsTotal     rows per shard over the query's lifetime —
    *                           the per-shard trackRecord counter, the
    *                           `ShardConsumerId(stream, app, shardId)`
    *                           analog (ShardConsumerId.scala:3-9) that lets
    *                           a user see ONE hot shard
    */
  final case class QueryStats(started: Boolean = false, terminated: Boolean = false,
      failed: Boolean = false, batches: Long = 0L, rows: Long = 0L,
      stateRowsTotal: Long = 0L, stateRowsUpdated: Long = 0L,
      shardRowsLastBatch: Map[Int, Long] = Map.empty, shardRowsTotal: Map[Int, Long] = Map.empty)

  /** Record bound: far above any plausible concurrent-query count, far
    * below "one record per query for the life of the session".
    */
  val IdCapacity = 256

  /** Name of the observed metric [[observeShardRows]] attaches and
    * [[GraftStats]] consumes, and its map field.
    */
  val ShardRowsMetric = "graft_shard_rows"
  val ShardRowsField = "rows_by_shard"

  /** Instrument a (streaming or batch) DataFrame with the per-shard row
    * tap: every micro-batch reports `map<shard, rows>` through the
    * standard `observedMetrics` channel, which [[GraftStats]] turns into
    * the per-shard consumer gauges. The tap is one
    * [[graft.functions.CountByKey]] aggregate folded into the batch's own
    * pass — no extra scan, no shuffle (CollectMetrics aggregates
    * partition-locally and merges O(shard count) maps on the driver), and
    * the data plane is untouched (observe is a planner no-op for the
    * result rows).
    */
  def observeShardRows(df: org.apache.spark.sql.DataFrame,
      shardCol: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    df.observe(ShardRowsMetric,
      graft.functions.CountByKey.countByKey(shardCol).as(ShardRowsField))

  /** Insertion-ordered map of query records capped at `max` entries —
    * oldest evicted first (an update refreshes its position); an update
    * of an absent id starts from `zero`. The
    * listener is session-lived, so nothing here may grow with
    * queries-ever-started. Synchronized: listener callbacks can race a
    * reader thread.
    */
  final class BoundedIdMap[V](max: Int, zero: V) {
    private val m = new java.util.LinkedHashMap[UUID, V]()
    def update(id: UUID)(f: V => V): Unit = synchronized {
      m.put(id, f(Option(m.remove(id)).getOrElse(zero)))
      if (m.size > max) { val it = m.keySet().iterator(); it.next(); it.remove() }
    }
    def get(id: UUID): Option[V] = synchronized(Option(m.get(id)))
    def size: Int = synchronized(m.size)
  }
}
