package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-key streaming state tracking — the `KeyValueGroupedDataset`
  * arbitrary-state surface (SURVEY.md §1.4: the ShardCheckpointTracker
  * O6 would be re-implementable this way if per-record tracking over a
  * side channel were ever required).
  *
  * Tracks, per partition key, the record count and the id range seen so
  * far; state persists in the state store across micro-batches and is
  * checkpointed with the query — the Spark-native form of the reference's
  * per-shard in-flight bookkeeping (RecordProcessorImpl.scala:22-91).
  *
  * At 100 TB: state is per-key O(1) (three longs), partitioned by the
  * shuffle on the grouping key, spillable via the state store; use
  * a timeout (ProcessingTime/EventTime) to GC idle keys.
  */
object PerKeyTracker {

  final case class Event(event_id: Long, user_id: Long)
  final case class KeyState(n: Long, min_id: Long, max_id: Long)

  /** `rows` folded into a key's state, or into the empty state. */
  private def fold(prev: Option[KeyState], rows: Iterator[Event]): KeyState =
    rows.foldLeft(prev.getOrElse(KeyState(0L, Long.MaxValue, Long.MinValue))) { (s, r) =>
      KeyState(s.n + 1, math.min(s.min_id, r.event_id), math.max(s.max_id, r.event_id))
    }

  private def update(
      key: Long, rows: Iterator[Event], state: GroupState[KeyState]): (Long, KeyState) = {
    val next = fold(state.getOption, rows)
    state.update(next)
    (key, next)
  }

  /** Attach the tracker to a stream with `event_id`/`user_id` columns.
    * Emits the cumulative per-key state once per key per micro-batch.
    */
  def track(events: DataFrame): Dataset[(Long, KeyState)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select("event_id", "user_id").as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
  }

  /** The same tracker on Spark 4's `transformWithState` API — the
    * successor to mapGroupsWithState: typed named state handles
    * (ValueState/ListState/MapState), TTL-based GC instead of manual
    * timeouts, and timers — all backed by the RocksDB state store (the
    * provider transformWithState requires, and the one that makes
    * beyond-heap state sizes workable at scale).
    */
  class TrackProcessor extends StatefulProcessor[Long, Event, (Long, KeyState)] {
    @transient private var st: ValueState[KeyState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("perKey", Encoders.product[KeyState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, KeyState)] = {
      val next = fold(Option.when(st.exists())(st.get()), rows)
      st.update(next)
      Iterator.single((key, next))
    }
  }

  /** [[track]]'s twin on the transformWithState surface; caller must run
    * it under the RocksDB state store provider.
    */
  def trackTws(events: DataFrame): Dataset[(Long, KeyState)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select("event_id", "user_id").as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new TrackProcessor, TimeMode.None(), OutputMode.Update())
  }
}
