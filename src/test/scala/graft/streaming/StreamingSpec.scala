package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamingQueries.{shardStream, withConfs}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.collection.mutable

/** Pins the delivery-semantics layer the reference exists for
  * (SURVEY.md §0): at-least-once replay after failure (lease-lost analog,
  * RecordProcessorImpl.scala:164-166), WAL-before-commit checkpointing
  * (O7/O8), graceful stop (O11/O13/C11), listener stats (O15), the
  * inspectable sink (C10) and exactly-once via the idempotent
  * foreachBatch sink (O5's replacement, SURVEY.md §7.4).
  */
object StreamingSpec {
  // cross-run state for the crash-injection sinks (single forked test JVM)
  val received: mutable.Buffer[(Long, Seq[Long])] = mutable.Buffer.empty
  @volatile var crashOnBatch: Long = -1L
  @volatile var crashed: Boolean = false
}

class StreamingSpec extends AnyFunSuite with SparkSpec with Matchers {
  import StreamingSpec._

  private def newBase(): String = Files.createTempDirectory("graft-spec-").toString

  private def shardDir(base: String): String = {
    val dir = s"$base/shards"
    ShardLayout.Events.materialize(spark, sf001, dir)
    dir
  }

  private def batchEventIds = graft.Tables.events(spark, sf001)
    .select("event_id").collect().map(_.getLong(0)).toSeq

  // the store a 100 TB-state deployment runs: RocksDB with per-batch
  // changelog checkpointing
  private val RocksDbChangelogConfs = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  test("at-least-once: crash after side effect, restart replays exactly the uncommitted batch") {
    val base = newBase()
    val shards = shardDir(base)
    val ckpt = s"$base/ckpt"
    received.clear(); crashed = false; crashOnBatch = 2L

    def start() = shardStream(spark, shards, maxFilesPerTrigger = Some(1))
      .select("event_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val ids = df.collect().map(_.getLong(0)).toSeq
        received.synchronized { received += ((batchId, ids)) }
        // crash AFTER the side effect but BEFORE the epoch commit —
        // the worker-death / lease-lost scenario
        if (batchId == crashOnBatch && !crashed) {
          crashed = true
          throw new RuntimeException(s"injected failure in batch $batchId")
        }
      }
      .start()

    val q1 = start()
    intercept[Exception] { q1.awaitTermination() }
    assert(q1.exception.isDefined, "worker death must surface through query.exception")

    // WAL discipline: batch 2's offsets were written (intent), not committed
    val offsetsAfterCrash = StreamControl.checkpointOffsets(ckpt)
    val commitsAfterCrash = StreamControl.checkpointCommits(ckpt)
    assert(offsetsAfterCrash == commitsAfterCrash + 1,
      s"expected exactly one uncommitted epoch, got offsets=$offsetsAfterCrash commits=$commitsAfterCrash")

    // restart from the same checkpoint: resumes at batch 2, replays it
    val q2 = start()
    q2.awaitTermination()
    assert(StreamControl.checkpointOffsets(ckpt) == StreamControl.checkpointCommits(ckpt))

    val deliveredBatchIds = received.map(_._1)
    assert(deliveredBatchIds.count(_ == crashOnBatch) == 2, "uncommitted batch must be redelivered")
    deliveredBatchIds.filter(_ < crashOnBatch).groupBy(identity).foreach { case (_, g) =>
      assert(g.size == 1, "committed batches must NOT be redelivered")
    }

    // duplicates exist (at-least-once), and dedup == the batch ground truth
    val all = received.flatMap(_._2)
    assert(all.size > all.distinct.size)
    all.distinct.sorted shouldBe batchEventIds.sorted
  }

  test("exactly-once: idempotent foreachBatch sink collapses the replayed batch") {
    val base = newBase()
    val shards = shardDir(base)
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    crashed = false; crashOnBatch = 2L

    def start() = shardStream(spark, shards, maxFilesPerTrigger = Some(1))
      .select("event_id", "user_id", "event_type")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        IdempotentSink.writeBatch(df, batchId, out)
        if (batchId == crashOnBatch && !crashed) {
          crashed = true
          throw new RuntimeException("crash after sink write, before commit")
        }
      }
      .start()

    intercept[Exception] { start().awaitTermination() }
    val q2 = start(); q2.awaitTermination()

    // batch 2 was written twice, but the second write overwrote the first:
    // end-to-end output is exactly the batch ground truth
    val sinkSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, event_type STRING")
    val ids = IdempotentSink.readAll(spark, out, sinkSchema)
      .select("event_id").collect().map(_.getLong(0)).toSeq
    ids.size shouldBe ids.distinct.size
    ids.sorted shouldBe batchEventIds.sorted
  }

  test("degraded checkpoint store: completes under injected latency; a failed commit recovers by replay") {
    // the reference proves the stream completes against a 1-RPS-throttled
    // DynamoDB checkpoint table (KinesisSourceTest.scala:230-258). Spark's
    // checkpoint-degradation analog has two regimes, both demonstrated
    // here on a flaky:// checkpoint path (FlakyCheckpointFs — source and
    // sink stay healthy): DELAYED metadata writes are absorbed in-flight
    // (commits lag, the query completes), and a FAILED commit write
    // aborts the epoch — recovery is restart-and-replay from the WAL,
    // lossless under at-least-once delivery.
    val base = newBase()
    val shards = shardDir(base)
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyCheckpointFs].getName)
    val got = mutable.Buffer.empty[Long]

    def start(ckpt: String) = shardStream(spark, shards, maxFilesPerTrigger = Some(1))
      .select("event_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.collect().map(_.getLong(0))
        got.synchronized { got ++= ids }
        ()
      }
      .start()

    FlakyCheckpointFs.delayedOps.set(0)
    FlakyCheckpointFs.latencyMs = 15
    FlakyCheckpointFs.failNextCommit = false
    try {
      // regime 1: every checkpoint op delayed — completes in one run
      val q1 = start(s"flaky://$base/ckpt-slow")
      q1.awaitTermination()
      assert(q1.exception.isEmpty, s"latency alone must not fail the query: ${q1.exception}")
      assert(FlakyCheckpointFs.delayedOps.get >= 5,
        s"expected >=5 degraded checkpoint ops, saw ${FlakyCheckpointFs.delayedOps.get}")
      got.synchronized(got.toVector).sorted shouldBe batchEventIds.sorted

      // regime 2: the next commit-log write FAILS outright mid-stream
      got.clear()
      FlakyCheckpointFs.failNextCommit = true
      val q2 = start(s"flaky://$base/ckpt-fail")
      intercept[Exception] { q2.awaitTermination() }
      assert(q2.exception.isDefined, "a failed commit write must surface through query.exception")
      // the epoch stayed uncommitted: offset intent written, commit absent
      assert(StreamControl.checkpointOffsets(s"$base/ckpt-fail") ==
        StreamControl.checkpointCommits(s"$base/ckpt-fail") + 1)

      // restart against the SAME degraded-store checkpoint: replays the
      // uncommitted epoch and completes
      val q3 = start(s"flaky://$base/ckpt-fail")
      q3.awaitTermination()
      assert(q3.exception.isEmpty)
      assert(StreamControl.checkpointOffsets(s"$base/ckpt-fail") ==
        StreamControl.checkpointCommits(s"$base/ckpt-fail"))
      val all = got.synchronized(got.toVector)
      assert(all.size > all.distinct.size, "the uncommitted epoch must have been redelivered")
      all.distinct.sorted shouldBe batchEventIds.sorted
    } finally {
      FlakyCheckpointFs.latencyMs = 0
      FlakyCheckpointFs.failNextCommit = false
    }
  }

  test("idempotent sink: zero committed batches reads as empty, not an error") {
    val out = Files.createTempDirectory("graft-empty-sink-").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("event_id BIGINT, n BIGINT")
    val df = IdempotentSink.readAll(spark, out, schema)
    df.count() shouldBe 0
    df.schema.fieldNames shouldBe Array("event_id", "n")
  }

  test("checkpoint state is inspectable OFFLINE via the state-store reader") {
    // the batch-side analog of the reference's checkpoint observability
    // (ShardCheckpointTracker state was only visible through logs): a
    // stopped query's aggregation state reads back as a batch DataFrame
    // from the checkpoint alone — no query restart — and must agree with
    // the batch ground truth
    val base = newBase()
    val dir = shardDir(base)
    val ckpt = s"$base/ckpt"
    val q = shardStream(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(s"state_inspect_${System.nanoTime()}")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // schema: key struct(grouping cols), value struct(agg buffer), partition_id
    val got = spark.read.format("statestore").load(ckpt)
      .select(col("key.event_type"), col("value.count").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = graft.Tables.events(spark, sf001)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe expected
  }

  test("listener stats mirror ConsumerStats hooks: init, per-batch rows, shutdown") {
    val base = newBase()
    val shards = shardDir(base)
    val stats = new GraftStats
    spark.streams.addListener(stats)
    try {
      val q = shardStream(spark, shards)
        .groupBy(col("event_type")).count()
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(s"stats_${System.nanoTime()}")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // listener bus is async; progress events may trail termination
      val deadline = System.nanoTime() + 10_000_000_000L
      while ((!stats.terminated.get() || stats.rows.get() < batchEventIds.size) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(stats.started.get())
      assert(stats.terminated.get())
      assert(!stats.failed.get())
      assert(stats.batches.get() >= 1)
      assert(stats.rows.get() == batchEventIds.size)
    } finally spark.streams.removeListener(stats)
  }

  test("config-driven stats: streamingQueryListeners conf instantiates GraftStats reflectively") {
    // the reference instantiates ConsumerStats reflectively from config by
    // class name (ConsumerStats.scala:33-42); Spark's exact analog is the
    // spark.sql.streaming.streamingQueryListeners STATIC conf, read when
    // the session's StreamingQueryManager is created — set at builder
    // time in SparkSpec, so the whole suite runs under it (the same
    // production-hook pattern as spark.sql.extensions). Here: assert the
    // conf-built instance exists without ever being added
    // programmatically, and that its hooks observe this test's query.
    val stats = spark.streams.listListeners().collectFirst { case g: GraftStats => g }
    assert(stats.isDefined, "the conf-named listener class must be constructed and attached")
    val g = stats.get
    val rows0 = g.rows.get()
    val base = newBase()
    val shards = shardDir(base)
    val q = shardStream(spark, shards)
      .select("event_id")
      .writeStream
      .format("noop")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // listener bus is async; progress events may trail termination.
    // cumulative flags would be vacuous here (earlier tests already set
    // them) — assert per-query identity and the rows DELTA instead.
    val deadline = System.nanoTime() + 10_000_000_000L
    while ((!g.terminatedIds.contains(q.id) || g.rows.get() - rows0 < batchEventIds.size) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(g.startedIds.contains(q.id), "conf-built listener must observe THIS query's start")
    assert(g.terminatedIds.contains(q.id), "conf-built listener must observe THIS query's termination")
    assert(g.rows.get() - rows0 >= batchEventIds.size)
  }

  test("listener state-depth gauges: stateOperators populate the in-flight/uncheckpointed analogs") {
    // the last O15 hook: ConsumerStats.recordNrOfInFlightRecords /
    // recordNrOfProcessedUncheckpointedRecords (ConsumerStats.scala:26-31)
    // are state-depth gauges; Spark reports them per batch via
    // progress.stateOperators (numRowsTotal / numRowsUpdated). Run a
    // stateful query (s2's dedup shape — every event writes one state
    // row) and assert the conf-registered listener published them.
    val stats = new GraftStats
    spark.streams.addListener(stats)
    val base = newBase()
    val shards = shardDir(base)
    try {
      val q = shardStream(spark, shards)
        .dropDuplicates(Seq("event_id"))
        .groupBy(col("event_type")).count()
        .writeStream
        .outputMode("complete")
        .format("noop")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // listener bus is async; progress events may trail termination
      val deadline = System.nanoTime() + 10_000_000_000L
      while (stats.stateRowsTotal.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      // dedup state holds one row per distinct event_id; the aggregation
      // adds per-type rows on top — the in-flight gauge must see at least
      // the dedup store's depth, and the per-epoch updated gauge must
      // have observed writes
      assert(stats.stateRowsTotal.get() >= batchEventIds.size,
        s"in-flight gauge ${stats.stateRowsTotal.get()} < ${batchEventIds.size} dedup state rows")
      assert(stats.stateRowsUpdated.get() > 0, "uncheckpointed-rows gauge never observed an update")
      // per-query resolution (the reference's stats are per-consumer):
      // the gauge pair must be retrievable by THIS query's id...
      val firstDepth = stats.stateRows.get(q.id)
      assert(firstDepth.exists(_._1 >= batchEventIds.size),
        s"per-query gauge for ${q.id} missing or shallow: $firstDepth")
      // ...and must survive a SECOND stateful query reporting a much
      // smaller depth (the unkeyed gauges, by contract, get overwritten)
      val q2 = shardStream(spark, shards)
        .groupBy(col("event_type")).count()
        .writeStream
        .outputMode("complete")
        .format("noop")
        .option("checkpointLocation", s"$base/ckpt2")
        .trigger(Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
      val deadline2 = System.nanoTime() + 10_000_000_000L
      while (stats.stateRows.get(q2.id).isEmpty && System.nanoTime() < deadline2)
        Thread.sleep(50)
      val secondDepth = stats.stateRows.get(q2.id)
      assert(secondDepth.exists(d => d._1 > 0 && d._1 < batchEventIds.size),
        s"second query's own gauge wrong: $secondDepth")
      assert(stats.stateRows.get(q.id) == firstDepth,
        "a concurrent query's progress must not clobber another query's gauge")
    } finally spark.streams.removeListener(stats)
  }

  test("two consumers run CONCURRENTLY on one session: both exact, stats stay per-query") {
    // the reference's multi-consumer app shape (one KCL app, many
    // consumers): two streaming queries over different shard dirs run
    // simultaneously on one session — results must each match their
    // batch ground truth, and the session-wide listener must keep the
    // two queries' lifecycle + state-depth observations apart
    val stats = new GraftStats
    spark.streams.addListener(stats)
    val base = newBase()
    val eventShards = shardDir(base)
    val docShards = s"$base/docshards"
    ShardLayout.Corpus.materialize(spark, sf001, docShards)
    try {
      // q1: per-type event counts after exact dedup (s2's shape);
      // q2: per-lang distinct-fingerprint corpus dedup (s7's shape);
      // 1-file triggers force many batches so the executions interleave
      val q1 = shardStream(spark, eventShards, maxFilesPerTrigger = Some(1))
        .dropDuplicates(Seq("event_id"))
        .groupBy(col("event_type")).count()
        .writeStream.outputMode("complete").format("memory")
        .queryName("graft_mem_conc_events")
        .option("checkpointLocation", s"$base/ckpt1")
        .trigger(Trigger.AvailableNow())
        .start()
      val q2 = shardStream(spark, docShards, ShardLayout.Corpus.schema, maxFilesPerTrigger = Some(1))
        .select(col("lang"), graft.ops.CorpusOps.fingerprint(col("text")).as("fp"))
        .dropDuplicates(Seq("lang", "fp"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_unique"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("graft_mem_conc_docs")
        .option("checkpointLocation", s"$base/ckpt2")
        .trigger(Trigger.AvailableNow())
        .start()
      q1.awaitTermination(); q2.awaitTermination()
      assert(q1.exception.isEmpty && q2.exception.isEmpty)

      // each result equals ITS batch ground truth — no cross-talk
      val gotEvents = spark.table("graft_mem_conc_events")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val wantEvents = graft.Tables.events(spark, sf001)
        .groupBy(col("event_type")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      gotEvents shouldBe wantEvents
      val gotDocs = spark.table("graft_mem_conc_docs")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val wantDocs = graft.Tables.documents(spark, sf001)
        .select(col("lang"), graft.ops.CorpusOps.fingerprint(col("text")).as("fp"))
        .groupBy(col("lang")).agg(countDistinct(col("fp")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      gotDocs shouldBe wantDocs

      // the listener observed BOTH queries distinctly
      assert(stats.startedIds.contains(q1.id) && stats.startedIds.contains(q2.id))
      assert(stats.terminatedIds.contains(q1.id) && stats.terminatedIds.contains(q2.id))
      // listener bus is async; per-query gauges may trail termination
      val deadline = System.nanoTime() + 10_000_000_000L
      while ((stats.stateRows.get(q1.id).isEmpty || stats.stateRows.get(q2.id).isEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(stats.stateRows.get(q1.id).exists(_._1 > 0),
        s"q1's own state gauge missing: ${stats.stateRows.get(q1.id)}")
      assert(stats.stateRows.get(q2.id).exists(_._1 > 0),
        s"q2's own state gauge missing: ${stats.stateRows.get(q2.id)}")
    } finally spark.streams.removeListener(stats)
  }

  test("per-shard gauges: observed rows-by-shard match routing on a 4-shard run, isolated across two concurrent queries") {
    // the reference keys ConsumerStats per shard — ShardConsumerId(stream,
    // app, shardId), ShardConsumerId.scala:3-9 — so a user can see ONE hot
    // shard. Spark's progress events only aggregate, so the per-shard
    // breakdown rides observedMetrics via the observeShardRows tap
    // (CountByKey): assert the per-shard counts equal the routing ground
    // truth, and that two concurrent queries' gauges stay apart.
    val stats = new GraftStats
    spark.streams.addListener(stats)
    val base = newBase()
    val dirA = s"$base/shardsA"
    val dirB = s"$base/shardsB"
    val events = graft.Tables.events(spark, sf001)
    ShardLayout.Events.append(events, dirA, 4) // 4-shard stream
    ShardLayout.Events.append(events, dirB, 2) // different shard set => different gauge shape
    try {
      def run(dir: String, ckpt: String) = GraftStats.observeShardRows(
          shardStream(spark, dir),
          col("shard"))
        .select("event_id")
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      val qA = run(dirA, s"$base/ckptA")
      val qB = run(dirB, s"$base/ckptB")
      qA.awaitTermination(); qB.awaitTermination()
      assert(qA.exception.isEmpty && qB.exception.isEmpty)
      // listener bus is async; gauges may trail termination
      val deadline = System.nanoTime() + 10_000_000_000L
      while ((stats.shardRowsTotal.get(qA.id).isEmpty || stats.shardRowsTotal.get(qB.id).isEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(50)

      def expected(numShards: Int): Map[Int, Long] = events
        .groupBy(pmod(col("user_id"), lit(numShards)).cast("int").as("s")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

      // 4-shard run: per-shard cumulative rows == the routing ground truth
      val gaugeA = stats.shardRowsTotal.get(qA.id)
      assert(gaugeA.contains(expected(4)), s"4-shard gauge wrong: $gaugeA vs ${expected(4)}")
      // isolation: B's gauge is B's own 2-shard breakdown, untouched by A
      val gaugeB = stats.shardRowsTotal.get(qB.id)
      assert(gaugeB.contains(expected(2)), s"2-shard gauge wrong: $gaugeB vs ${expected(2)}")
      // the last-epoch (uncheckpointed analog) gauge reports a subset of
      // the same shards with counts bounded by the cumulative gauge
      val lastA = stats.shardRowsLastBatch.get(qA.id)
      assert(lastA.isDefined)
      lastA.get.foreach { case (s, n) =>
        assert(gaugeA.get.contains(s) && n <= gaugeA.get(s),
          s"last-batch gauge inconsistent with cumulative: $lastA vs $gaugeA")
      }
    } finally spark.streams.removeListener(stats)
  }

  test("per-shard gauges discover shards created by a live re-shard (split children appear in the map)") {
    // the ShardConsumerId analog must track shards that did not exist at
    // subscribe time — the reference's per-shard stats follow child
    // shards after a split the same way
    val stats = new GraftStats
    spark.streams.addListener(stats)
    val base = newBase()
    val dir = s"$base/shards"
    val events = graft.Tables.events(spark, sf001)
    val ids = batchEventIds.sorted
    val cut = ids(ids.size / 2)
    ShardLayout.Events.append(events.filter(col("event_id") <= cut), dir, 2)
    try {
      val q = GraftStats.observeShardRows(
          shardStream(spark, dir),
          col("shard"))
        .select("event_id")
        .writeStream.format("noop")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .start()
      q.processAllAvailable()
      val deadline0 = System.nanoTime() + 10_000_000_000L
      while (stats.shardRowsTotal.get(q.id).forall(_.isEmpty) &&
        System.nanoTime() < deadline0) Thread.sleep(50)
      val before = stats.shardRowsTotal.get(q.id).getOrElse(Map.empty)
      assert(before.keySet == Set(0, 1), s"pre-split gauge shards: $before")

      // SPLIT 2 -> 4 under the live query: children 2 and 3 appear
      ShardLayout.Events.append(events.filter(col("event_id") > cut), dir, 4)
      q.processAllAvailable()
      StreamControl.stopGracefully(q)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (stats.shardRowsTotal.get(q.id).forall(_.size < 4) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      val after = stats.shardRowsTotal.get(q.id).getOrElse(Map.empty)
      assert(after.keySet == Set(0, 1, 2, 3), s"post-split gauge shards: $after")
      assert(after.values.sum == ids.size.toLong, s"gauge total ${after.values.sum} != ${ids.size}")
    } finally spark.streams.removeListener(stats)
  }

  test("listener identity sets are bounded: oldest query ids evict at capacity") {
    // GraftStats is registered session-wide via the streamingQueryListeners
    // static conf; a long-lived session launches unbounded queries, so the
    // per-query identity sets must not grow with listener lifetime
    val s = new GraftStats.BoundedIdSet(GraftStats.IdCapacity)
    val ids = (0 until GraftStats.IdCapacity + 10).map(_ => java.util.UUID.randomUUID())
    ids.foreach(s.add)
    s.size shouldBe GraftStats.IdCapacity
    ids.take(10).foreach(id => assert(!s.contains(id), "oldest ids must be evicted"))
    ids.drop(10).foreach(id => assert(s.contains(id), "recent ids must be retained"))
    // re-adding refreshes recency: the refreshed id survives the next evictions
    s.add(ids(10))
    (0 until 5).foreach(_ => s.add(java.util.UUID.randomUUID()))
    assert(s.contains(ids(10)))
  }

  test("RocksDB changelog checkpointing: per-batch deltas commit, crash-restore replays them") {
    // the checkpoint mode a 100 TB-state deployment actually runs:
    // instead of snapshotting the full RocksDB instance every batch, the
    // provider commits per-batch CHANGELOG deltas (snapshots amortize in
    // the background), so commit latency is O(batch delta), not O(state).
    // Run the transformWithState per-key tracker under it, crash after a
    // side effect mid-stream, restart: the restore path must rebuild
    // state by replaying changelogs, and the end-to-end result must equal
    // the batch ground truth.
    val base = newBase()
    val shards = shardDir(base)
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    @volatile var crashedOnce = false
    withConfs(spark, RocksDbChangelogConfs) {
      def start() = PerKeyTracker.trackTws(
          shardStream(spark, shards, maxFilesPerTrigger = Some(1)))
        .toDF("user_id", "state")
        .select(col("user_id"), col("state.n").as("n"),
          col("state.min_id").as("min_id"), col("state.max_id").as("max_id"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
          IdempotentSink.writeBatch(df, batchId, out)
          if (batchId == 2L && !crashedOnce) {
            crashedOnce = true
            throw new RuntimeException("crash after sink write, before changelog-backed commit")
          }
        }
        .start()

      intercept[Exception] { start().awaitTermination() }
      val q2 = start(); q2.awaitTermination()
      assert(q2.exception.isEmpty)
    }

    // the checkpoint really is changelog-based: per-batch .changelog
    // deltas exist under the state dir
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt, "state"))
    val changelogs = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.count(_.getFileName.toString.endsWith(".changelog"))
    } finally walk.close()
    assert(changelogs > 0, "changelog checkpointing must write per-batch .changelog deltas")

    // end-to-end: the replayed epoch collapsed in the idempotent sink and
    // the changelog-restored state finished the aggregation exactly
    val sinkSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, n BIGINT, min_id BIGINT, max_id BIGINT")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n").desc)
    val got = IdempotentSink.readAll(spark, out, sinkSchema)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("user_id", "n", "min_id", "max_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val truth = graft.Tables.events(spark, sf001)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    got shouldBe truth
  }

  test("graceful stop: ProcessingTime query drains and stops at a batch boundary") {
    val base = newBase()
    val shards = shardDir(base)
    val mem = s"inspect_${System.nanoTime()}"
    val q = shardStream(spark, shards, maxFilesPerTrigger = Some(2))
      .groupBy(col("event_type")).count()
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(mem)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    q.processAllAvailable()
    // C10 Inspectable: results visible mid-stream, while the query is live
    assert(q.isActive)
    val live = spark.table(mem).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(live.values.sum == batchEventIds.size)
    StreamControl.stopGracefully(q)
    assert(!q.isActive)
    assert(q.exception.isEmpty)
  }

  test("per-key state persists across micro-batches (mapGroupsWithState tracker)") {
    val base = newBase()
    val shards = shardDir(base)
    val finalStates = mutable.Map.empty[Long, PerKeyTracker.KeyState]
    val q = PerKeyTracker.track(
        shardStream(spark, shards, maxFilesPerTrigger = Some(2)))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[(Long, PerKeyTracker.KeyState)], _: Long) =>
        // later batches overwrite: the tracker emits cumulative state
        ds.collect().foreach { case (k, s) => finalStates.synchronized { finalStates(k) = s } }
      }
      .start()
    q.awaitTermination()

    val truth = graft.Tables.events(spark, sf001)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))
      .collect()
      .map(r => r.getLong(0) -> PerKeyTracker.KeyState(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    finalStates.toMap shouldBe truth
  }

  test("per-key arrival order within a shard is sequence order (ordered-shard fidelity)") {
    val base = newBase()
    val shards = shardDir(base)
    val arrivals = mutable.Buffer.empty[(Long, Long)] // (user_id, event_id)
    val q = shardStream(spark, shards, maxFilesPerTrigger = Some(1))
      .select("user_id", "event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // one file (= one shard chunk) per batch; collect preserves the
        // file's row order
        val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        arrivals.synchronized { arrivals ++= rows }
        ()
      }
      .start()
    q.awaitTermination()
    arrivals.groupBy(_._1).foreach { case (user, seq) =>
      val ids = seq.map(_._2)
      assert(ids == ids.sorted, s"user $user observed out-of-order arrivals")
    }
    arrivals.size shouldBe batchEventIds.size
  }

  test("takeover: consumer B resumes from killed consumer A's checkpoint — no gap, bounded overlap") {
    // the reference kills one of two live consumers mid-stream and proves
    // the survivor takes over its shards with completeness intact
    // (KinesisSourceTest.scala:129-180). Spark's lease-takeover analog:
    // the checkpoint IS the lease — a successor consumer (fresh query
    // instance) started on the dead consumer's checkpointLocation resumes
    // at its first uncommitted epoch. A is killed ABRUPTLY while an epoch
    // is open (held open deterministically by a latch), so the takeover
    // exercises the uncommitted-epoch path, not a graceful drain. Both
    // consumers read the packaged graft-shards source, the entry point a
    // library user deploys.
    val base = newBase()
    val shards = shardDir(base)
    val ckpt = s"$base/ckpt"
    val deliveries = mutable.Buffer.empty[(String, Long, Seq[Long])]
    val reachedHeldEpoch = new java.util.concurrent.CountDownLatch(1)
    val releaseHeldEpoch = new java.util.concurrent.CountDownLatch(1)

    def start(who: String, holdBatch: Long) = shardStream(spark, shards, maxFilesPerTrigger = Some(1))
      .select("event_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val ids = df.collect().map(_.getLong(0)).toSeq
        deliveries.synchronized { deliveries += ((who, batchId, ids)) }
        if (batchId == holdBatch) {
          reachedHeldEpoch.countDown()
          // hold the epoch open until A is killed. The kill's interrupt
          // MUST propagate — swallowing it would let this epoch commit
          // after the "kill" and the takeover would vacuously have
          // nothing to replay. The 10 s backstop only guards a hang; if
          // it fires, the epoch commits and the == 2 assertion below
          // fails loudly.
          releaseHeldEpoch.await(10, java.util.concurrent.TimeUnit.SECONDS)
        }
        ()
      }
      .start()

    val qA = start("A", holdBatch = 2L)
    reachedHeldEpoch.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
    qA.stop() // the kill: abrupt, epoch 2 open; interrupts the held await
    releaseHeldEpoch.countDown()
    try qA.awaitTermination() catch { case _: Exception => () }
    val commitsAtTakeover = StreamControl.checkpointCommits(ckpt)
    assert(commitsAtTakeover == 2L,
      s"A must die with epoch 2 OPEN (committed prefix = epochs 0-1), got $commitsAtTakeover")

    val qB = start("B", holdBatch = -1L)
    qB.awaitTermination()
    assert(qB.exception.isEmpty)
    assert(StreamControl.checkpointOffsets(ckpt) == StreamControl.checkpointCommits(ckpt))

    val d = deliveries.synchronized(deliveries.toVector)
    val aIds = d.filter(_._1 == "A").flatMap(_._3)
    val bIds = d.filter(_._1 == "B").flatMap(_._3)
    assert(aIds.nonEmpty, "A must have processed a prefix")
    assert(bIds.nonEmpty, "B must have taken over the remainder")
    // B resumes EXACTLY at A's first uncommitted epoch — the lease handoff
    d.filter(_._1 == "B").map(_._2).min shouldBe commitsAtTakeover
    // no gap: together they deliver the full stream
    (aIds ++ bIds).distinct.sorted shouldBe batchEventIds.sorted
    // bounded overlap: EXACTLY the epoch A died holding is redelivered —
    // committed epochs never, the open epoch always
    val heldEpochIds = d.filter(r => r._1 == "A" && r._2 == 2L).flatMap(_._3).toSet
    assert(heldEpochIds.nonEmpty, "A must have entered the held epoch before dying")
    aIds.toSet.intersect(bIds.toSet) shouldBe heldEpochIds
    val committedByA = d.filter(r => r._1 == "A" && r._2 < commitsAtTakeover).flatMap(_._3).toSet
    assert(committedByA.intersect(bIds.toSet).isEmpty,
      "epochs A committed must not be redelivered to B")
  }

  test("two consumers on disjoint shard subsets partition the stream (rebalance analog)") {
    // the reference's rebalance it-tests assert each consumer received a
    // non-empty exclusive set and the union is complete
    // (KinesisSourceTest.scala:101-127, 261-271)
    val base = newBase()
    val shards = shardDir(base)
    def consume(which: String, pred: org.apache.spark.sql.Column): Seq[Long] = {
      val got = mutable.Buffer.empty[Long]
      val q = shardStream(spark, shards)
        .filter(pred)
        .select("event_id")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt-$which")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.collect().map(_.getLong(0))
          got.synchronized { got ++= ids }
          ()
        }
        .start()
      q.awaitTermination(); got.toSeq
    }
    val a = consume("a", col("shard") < ShardLayout.Events.numShards / 2)
    val b = consume("b", col("shard") >= ShardLayout.Events.numShards / 2)
    assert(a.nonEmpty && b.nonEmpty)
    assert(a.toSet.intersect(b.toSet).isEmpty, "consumers must hold exclusive sets")
    (a ++ b).sorted shouldBe batchEventIds.sorted
  }

  test("dropDuplicatesWithinWatermark: exactly-once delivery with BOUNDED dedup state") {
    // the production form of s2's unbounded-state dedup
    // (StreamingQueries.scala): state rows older than the watermark are
    // evicted, so dedup state is O(watermark window), not O(stream)
    val base = newBase()
    val dir = s"$base/shards"
    val events = graft.Tables.events(spark, sf001)
    val tsCuts = events
      .selectExpr("percentile(cast(ts as double), array(0.3333, 0.6667)) as c")
      .head().getSeq[Double](0)
    def tranche(lo: Option[Double], hi: Option[Double]) = {
      val t = events
      val lof = lo.map(v => t.filter(col("ts").cast("double") > v)).getOrElse(t)
      hi.map(v => lof.filter(col("ts").cast("double") <= v)).getOrElse(lof)
    }
    val tranches = Seq(
      tranche(None, Some(tsCuts(0))),
      tranche(Some(tsCuts(0)), Some(tsCuts(1))),
      tranche(Some(tsCuts(1)), None))

    // every record written TWICE: at-least-once delivery with duplicates
    ShardLayout.Events.append(tranches.head.union(tranches.head), dir, 4)
    val got = mutable.Buffer.empty[Long]
    val q = shardStream(spark, dir)
      .withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id")
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(_.getLong(0))
        got.synchronized { got ++= rows }
        ()
      }
      .start()
    q.processAllAvailable()
    tranches.tail.foreach { t =>
      ShardLayout.Events.append(t.union(t), dir, 4)
      q.processAllAvailable()
    }
    val stateRows = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal)
    StreamControl.stopGracefully(q)

    // duplicates collapsed: every event delivered exactly once
    val g = got.synchronized(got.toVector)
    g.sorted shouldBe batchEventIds.sorted
    // state is bounded by the watermark window: eviction must have kicked
    // in, so the dedup state never held one row per record ever seen
    assert(stateRows.exists(_ > 0), "dedup must keep some state")
    assert(stateRows.max < batchEventIds.size,
      s"state grew to ${stateRows.max} — unbounded (plain dropDuplicates would hold ${batchEventIds.size})")
  }

  // ---- bounded dup-span tracker (StreamingQueries.boundedDupPositions) ----

  /** Drive one `Trigger.AvailableNow` run of the bounded dup-span
    * tracker over whatever is currently in `dir`, resuming from `ckpt`
    * (state and watermark restore from the checkpoint, so per-tranche
    * restarts are fully deterministic — no live-trigger race with
    * tranche appends). The scoped deployment-contract confs and the
    * runner itself live in [[BoundedTrackerHarness]] (shared with the
    * property specs).
    */
  private def runBoundedDupTranche(dir: String, ckpt: String,
      got: mutable.Buffer[(Long, Long)],
      tracker: mutable.Buffer[org.apache.spark.sql.streaming.StateOperatorProgress]): Unit =
    BoundedTrackerHarness.runTranche(spark, dir, ckpt,
      StreamingQueries.boundedDupPositions(_, "60 seconds", ttlMs = 60000L),
      r => (r.getLong(0), r.getLong(1)), got, tracker)

  private def appendDocTranche(t: org.apache.spark.sql.DataFrame, dir: String): Unit =
    ShardLayout.Corpus.append(t, dir)

  private def dupGramRel(t: org.apache.spark.sql.DataFrame) = t
    .select(col("doc_id"), posexplode(graft.functions.WordWindowMd5.wordWindowMd5(
      lower(trim(col("text"))), 8)))
    .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("gh"))

  private def dupMarkedWithin(t: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    val g = dupGramRel(t)
    g.join(g.groupBy("gh").count().filter(col("count") >= 2).select("gh"), "gh")
      .select("doc_id", "pos").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** [[runBoundedDupTranche]]'s sibling for the bounded NEAR-DUP tracker
    * (`boundedNearDupPairs`) — same shared harness runner.
    */
  private def runBoundedNearDupTranche(dir: String, ckpt: String,
      got: mutable.Buffer[(Long, Long, Double)],
      tracker: mutable.Buffer[org.apache.spark.sql.streaming.StateOperatorProgress]): Unit =
    BoundedTrackerHarness.runTranche(spark, dir, ckpt,
      StreamingQueries.boundedNearDupPairs(_, "60 seconds", ttlMs = 60000L),
      r => (r.getLong(0), r.getLong(1), r.getDouble(2)), got, tracker)

  test("bounded near-dup tracker: per-member TTL plateaus bucket state; in-horizon pairs stay exact") {
    // the production form of s8's unbounded bucket store: per-member
    // event-time TTL, so state is O(docs in the horizon) x bands, not
    // O(docs ever seen)
    val base = newBase()
    val dir = s"$base/shards"
    // same synthetic clock as the dup-span tests: one document per
    // second, three ~167 s tranches against a 60 s horizon
    val docs = graft.Tables.documents(spark, sf001)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    val tranches = Seq(
      docs.filter(col("doc_id") < 167),
      docs.filter(col("doc_id") >= 167 && col("doc_id") < 334),
      docs.filter(col("doc_id") >= 334))
    val allPairs = graft.ops.CorpusOps.d2MinhashLsh(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val distinctBuckets = graft.ops.CorpusOps.bandedGramRows(
        graft.Tables.documents(spark, sf001))
      .select("band_key").distinct().count()

    val got = mutable.Buffer.empty[(Long, Long, Double)]
    val tracker = mutable.Buffer.empty[org.apache.spark.sql.streaming.StateOperatorProgress]
    tranches.foreach { t =>
      appendDocTranche(t, dir)
      runBoundedNearDupTranche(dir, s"$base/ckpt", got, tracker)
    }

    val g = got.synchronized(got.toSet)
    // sound: never a pair the full-history batch answer doesn't have
    assert(g.subsetOf(allPairs), s"false pairs: ${g.diff(allPairs).take(5)}")
    // complete inside the horizon: both members of a within-tranche pair
    // co-arrive in one AvailableNow run, before any eviction
    val inTranche = tranches.map { t =>
      graft.ops.CorpusOps.nearDupPairs(t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }.reduce(_ union _)
    assert(inTranche.nonEmpty, "fixture must contain within-tranche near-dup pairs")
    assert(inTranche.subsetOf(g), s"missed in-horizon pairs: ${inTranche.diff(g).take(5)}")
    // the plateau: TTL eviction ran, and live buckets never approached
    // the distinct-bucket count of the whole corpus (the unbounded
    // form's terminal state)
    assert(tracker.nonEmpty, "tracker progress must be observable")
    assert(tracker.map(_.numRowsRemoved).sum > 0, "TTL must evict bucket state")
    val maxState = tracker.map(_.numRowsTotal).max
    assert(maxState > 0 && maxState < distinctBuckets,
      s"state grew to $maxState of $distinctBuckets distinct buckets — unbounded")
  }

  test("bounded near-dup tracker on RocksDB + changelog: TTL state restores across restarts") {
    // the store this tracker actually runs on at 100 TB state: RocksDB
    // with changelog checkpointing (O(batch-delta) commits). Each
    // per-tranche run is a RESTART from the checkpoint, so tranches 2
    // and 3 must rebuild the TTL'd bucket state by replaying changelog
    // deltas — timers, evictions and pair results must all match the
    // same contract the default-store test pins
    val base = newBase()
    val dir = s"$base/shards"
    val docs = graft.Tables.documents(spark, sf001)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    val tranches = Seq(
      docs.filter(col("doc_id") < 167),
      docs.filter(col("doc_id") >= 167 && col("doc_id") < 334),
      docs.filter(col("doc_id") >= 334))
    val allPairs = graft.ops.CorpusOps.d2MinhashLsh(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val got = mutable.Buffer.empty[(Long, Long, Double)]
    val tracker = mutable.Buffer.empty[org.apache.spark.sql.streaming.StateOperatorProgress]
    withConfs(spark, RocksDbChangelogConfs) {
      tranches.foreach { t =>
        appendDocTranche(t, dir)
        runBoundedNearDupTranche(dir, s"$base/ckpt", got, tracker)
      }
    }

    // same contract as the default-store test: sound, in-tranche
    // complete, TTL evicts
    val g = got.synchronized(got.toSet)
    assert(g.subsetOf(allPairs), s"false pairs: ${g.diff(allPairs).take(5)}")
    val inTranche = tranches.map { t =>
      graft.ops.CorpusOps.nearDupPairs(t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }.reduce(_ union _)
    assert(inTranche.nonEmpty && inTranche.subsetOf(g),
      s"missed in-horizon pairs: ${inTranche.diff(g).take(5)}")
    assert(tracker.map(_.numRowsRemoved).sum > 0,
      "TTL must evict bucket state on the RocksDB store")
    // and the checkpoint really is changelog-based
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$base/ckpt", "state"))
    val changelogs = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.count(_.toString.endsWith(".changelog"))
    } finally walk.close()
    assert(changelogs > 0, "no .changelog deltas under the state dir")
  }

  test("bounded near-dup tracker: initial-state bootstrap resumes against an existing batch corpus") {
    // a real at-ingest dedup deploys against an EXISTING corpus whose
    // fingerprints were computed in batch — the reference's
    // resume-from-existing-checkpoint semantics (RecordProcessorImpl
    // .scala:22-91). Seed the tracker's bucket state from batch tranche 1
    // and stream ONLY tranche 2: the emissions must be exactly batch
    // d2-over-both MINUS tranche-1-internal pairs (already answered in
    // batch), i.e. every cross-tranche pair plus tranche-2-internal ones.
    import spark.implicits._
    val copyOf = Map(9 -> 3, 20 -> 5, 25 -> 12, 27 -> 21) // t1-internal, cross, cross, t2-internal
    val texts = new Array[String](30)
    (0 until 30).foreach { i =>
      texts(i) = copyOf.get(i) match {
        case Some(j) => texts(j)
        case None => (0 until 12).map(w => s"u${i}w$w").mkString(" ")
      }
    }
    val all = (0 until 30).map(i => (i.toLong, texts(i), "en", "synthetic", texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id") * 2))
    val tranche1 = all.filter(col("doc_id") < 20)
    val tranche2 = all.filter(col("doc_id") >= 20)

    val base = newBase()
    val dir = s"$base/shards"
    ShardLayout.Corpus.append(tranche2, dir) // the stream sees ONLY new arrivals
    val got = mutable.Buffer.empty[(Long, Long)]
    val progress = mutable.Buffer.empty[org.apache.spark.sql.streaming.StateOperatorProgress]
    BoundedTrackerHarness.runTranche[(Long, Long)](spark, dir, s"$base/ckpt",
      df => StreamingQueries.boundedNearDupPairs(df, "10 seconds", ttlMs = 600000L,
        initialCorpus = Some(tranche1)),
      r => (r.getLong(0), r.getLong(1)), got, progress)

    // ground truth: batch d2 over BOTH tranches, minus tranche-1-internal
    val batchBoth = graft.ops.CorpusOps.nearDupPairs(all)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchBoth == Set((3L, 9L), (5L, 20L), (12L, 25L), (21L, 27L)),
      s"planted corpus ground truth surprising: $batchBoth")
    val expected = batchBoth.filterNot { case (a, b) => a < 20 && b < 20 }
    got.synchronized(got.toSet) shouldBe expected
  }

  test("bounded dup-span tracker: event-time TTL plateaus state; in-horizon marking stays exact") {
    // the production form of s11's unbounded-state tracker: per-gram
    // state carries an event-time TTL, so state is O(horizon), not
    // O(distinct windows ever)
    val base = newBase()
    val dir = s"$base/shards"
    // synthetic ingest time: one document per second, so doc_id IS the
    // event-time axis; three time-ordered tranches of ~167 s against a
    // 60 s horizon — recurrences within a tranche are inside the horizon,
    // grams idle longer than the TTL get evicted between tranches
    val docs = graft.Tables.documents(spark, sf001)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    val tranches = Seq(
      docs.filter(col("doc_id") < 167),
      docs.filter(col("doc_id") >= 167 && col("doc_id") < 334),
      docs.filter(col("doc_id") >= 334))
    val allMarked = dupMarkedWithin(docs)
    val distinctGrams = dupGramRel(docs).select("gh").distinct().count()

    val got = mutable.Buffer.empty[(Long, Long)]
    val tracker = mutable.Buffer.empty[org.apache.spark.sql.streaming.StateOperatorProgress]
    tranches.foreach { t =>
      appendDocTranche(t, dir)
      runBoundedDupTranche(dir, s"$base/ckpt", got, tracker)
    }

    val g = got.synchronized(got.toSet)
    // sound: never marks a position the full-history batch answer doesn't
    assert(g.subsetOf(allMarked),
      s"false marks: ${g.diff(allMarked).take(5)} not in the batch dup set")
    // complete inside the horizon: a recurrence co-arriving in one
    // tranche is processed in one AvailableNow run whose data batch sees
    // the whole tranche, before any eviction
    val inTranche = tranches.map(dupMarkedWithin).reduce(_ union _)
    assert(inTranche.subsetOf(g),
      s"missed in-horizon marks: ${inTranche.diff(g).take(5)}")
    // the plateau: TTL eviction ran, and per-gram state never approached
    // one row per distinct window ever seen (the unbounded form's cost)
    assert(tracker.nonEmpty, "tracker progress must be observable")
    assert(tracker.map(_.numRowsRemoved).sum > 0, "TTL must evict state rows")
    val maxState = tracker.map(_.numRowsTotal).max
    assert(maxState > 0 && maxState < distinctGrams,
      s"state grew to $maxState of $distinctGrams distinct windows — unbounded")
  }

  test("bounded dup-span tracker: TTL stays LIVE on a mostly-unique stream (max watermark policy)") {
    // the failure mode this pins: the marks-side watermark node observes
    // a row only when a duplicate is FOUND, so under the default `min`
    // combine policy a mostly-unique stream would pin the global
    // watermark, the TTL would never fire, and the per-gram store would
    // grow O(distinct windows ever) — the exact cost the bounded form
    // exists to avoid. Under the contracted `max` policy, eviction is
    // driven by the always-advancing occurrence watermark: state must
    // shrink even though NOT ONE duplicate is ever emitted.
    val base = newBase()
    val dir = s"$base/shards"
    import spark.implicits._
    // 240 docs of globally-unique 10-word texts (3 windows each, all
    // distinct), one per second; three 80 s tranches vs the 60 s horizon
    val docs = (0L until 240L).map { i =>
      (i, (0 until 10).map(w => s"u${i}w$w").mkString(" "), "en", "synthetic", 60L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    val tranches = Seq(
      docs.filter(col("doc_id") < 80),
      docs.filter(col("doc_id") >= 80 && col("doc_id") < 160),
      docs.filter(col("doc_id") >= 160))
    val distinctGrams = dupGramRel(docs).select("gh").distinct().count()

    val got = mutable.Buffer.empty[(Long, Long)]
    val tracker = mutable.Buffer.empty[org.apache.spark.sql.streaming.StateOperatorProgress]
    tranches.foreach { t =>
      appendDocTranche(t, dir)
      runBoundedDupTranche(dir, s"$base/ckpt", got, tracker)
    }

    assert(got.synchronized(got.isEmpty), s"unique corpus must mark nothing, got ${got.take(5)}")
    assert(tracker.map(_.numRowsRemoved).sum > 0,
      "TTL must evict even when no duplicate ever advances the marks-side watermark")
    val lastState = tracker.last.numRowsTotal
    assert(lastState < distinctGrams,
      s"final state $lastState of $distinctGrams distinct windows — TTL stalled, state unbounded")
  }

  test("stream-stream interval join: complete result with BOUNDED join state under an advancing watermark") {
    // the production form of s6's generous-watermark join
    // (StreamingQueries.scala): with time-ordered arrival, a tight
    // watermark + the range condition evict both sides' join state, so
    // state is O(join window), not O(stream)
    val base = newBase()
    val dir = s"$base/shards"
    val events = graft.Tables.events(spark, sf001)
    val tsCuts = events
      .selectExpr("percentile(cast(ts as double), array(0.3333, 0.6667)) as c")
      .head().getSeq[Double](0)
    def tranche(lo: Option[Double], hi: Option[Double]) = {
      val t = events
      val lof = lo.map(v => t.filter(col("ts").cast("double") > v)).getOrElse(t)
      hi.map(v => lof.filter(col("ts").cast("double") <= v)).getOrElse(lof)
    }
    val tranches = Seq(
      tranche(None, Some(tsCuts(0))),
      tranche(Some(tsCuts(0)), Some(tsCuts(1))),
      tranche(Some(tsCuts(1)), None))

    ShardLayout.Events.append(tranches.head, dir, 4)
    val src = shardStream(spark, dir)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 minute")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 minute")
    val got = mutable.Buffer.empty[(Long, Long)]
    val q = purchases.join(clicks,
        col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("interval 30 minutes") &&
        col("c_ts") <= col("p_ts"))
      .select("p_id", "c_id")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        got.synchronized { got ++= rows }
        ()
      }
      .start()
    q.processAllAvailable()
    tranches.tail.foreach { t =>
      ShardLayout.Events.append(t, dir, 4)
      q.processAllAvailable()
    }
    val stateRows = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal)
    StreamControl.stopGracefully(q)

    // complete: every batch-join pair was emitted exactly once
    val expected = {
      val p = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      val c = events.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      p.join(c, col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("interval 30 minutes") &&
          col("c_ts") <= col("p_ts"))
        .select("p_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toVector
    }
    val g = got.synchronized(got.toVector)
    g.sorted shouldBe expected.sorted
    // join state is evicted by the watermark: it never held every
    // purchase/click row ever seen
    val totalPc = events
      .filter(col("event_type").isin("purchase", "click")).count()
    assert(stateRows.exists(_ > 0), "the join must keep some state")
    assert(stateRows.max < totalPc,
      s"state grew to ${stateRows.max} — unbounded (an unwatermarked join would hold $totalPc)")
  }

  test("streaming session_window APPEND mode: closed sessions emit exactly once; open-session state is bounded") {
    // the production form of s9's complete-mode sessionization
    // (StreamingQueries.scala): in append mode a session emits exactly
    // once, when the watermark passes its close, and its state row is
    // evicted — state is O(open sessions), not O(all sessions ever)
    val base = newBase()
    val dir = s"$base/shards"
    val events = graft.Tables.events(spark, sf001)
    val tsCuts = events
      .selectExpr("percentile(cast(ts as double), array(0.3333, 0.6667)) as c")
      .head().getSeq[Double](0)
    def tranche(lo: Option[Double], hi: Option[Double]) = {
      val t = events
      val lof = lo.map(v => t.filter(col("ts").cast("double") > v)).getOrElse(t)
      hi.map(v => lof.filter(col("ts").cast("double") <= v)).getOrElse(lof)
    }
    val tranches = Seq(
      tranche(None, Some(tsCuts(0))),
      tranche(Some(tsCuts(0)), Some(tsCuts(1))),
      tranche(Some(tsCuts(1)), None))

    ShardLayout.Events.append(tranches.head, dir, 4)
    val got = mutable.Buffer.empty[(Long, java.sql.Timestamp, Long)]
    val q = shardStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("n_events"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
        got.synchronized { got ++= rows }
        ()
      }
      .start()
    q.processAllAvailable()
    tranches.tail.foreach { t =>
      ShardLayout.Events.append(t, dir, 4)
      q.processAllAvailable()
    }
    val stateRows = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal)
    StreamControl.stopGracefully(q)

    // batch truth: the same session_window aggregation over everything
    val batchSessions = events
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet

    val g = got.synchronized(got.toVector)
    assert(g.nonEmpty, "the advancing watermark must close and emit early sessions")
    g.size shouldBe g.toSet.size // each closed session emitted exactly once
    assert(g.toSet.subsetOf(batchSessions),
      "every emitted session must match the batch aggregation exactly")
    // sessions still open at the end never emitted — and were never state-resident together
    assert(stateRows.max < batchSessions.size,
      s"state grew to ${stateRows.max} — unbounded (all-sessions would hold ${batchSessions.size})")
  }

  test("seek latest: only records appended after the stream opens are delivered") {
    // ConsumerConfig.scala:115-139 `latest`: subscribe at the current end
    // of every shard; pre-existing records are never delivered, records
    // appended afterwards (and shards created afterwards) all are
    val base = newBase()
    val dir = s"$base/shards"
    val events = graft.Tables.events(spark, sf001)
    val ids = batchEventIds.sorted
    val cut = ids(ids.size / 2)
    ShardLayout.Events.append(events.filter(col("event_id") <= cut), dir, 4)

    val got = mutable.Buffer.empty[Long]
    val q = shardStream(spark, dir, startingPosition = "latest")
      .select("event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(_.getLong(0))
        got.synchronized { got ++= rows }
        ()
      }
      .start()
    q.processAllAvailable()
    got.synchronized(assert(got.isEmpty, "latest must skip everything before the subscribe point"))

    // appended after open: delivered — including into a NEW shard set (8)
    ShardLayout.Events.append(events.filter(col("event_id") > cut), dir, 8)
    q.processAllAvailable()
    StreamControl.stopGracefully(q)
    got.synchronized(got.sorted.toVector) shouldBe ids.filter(_ > cut).toVector
  }

  test("re-sharding: stream stays complete across a shard split (4->8) and merge (8->2)") {
    // the reference's resharding it-tests prove no record is lost or
    // duplicated when the shard set changes under a live consumer
    // (KinesisSourceTest.scala:182-228) on its packaged KinesisSource; here
    // the shard set changes between micro-batches under the packaged
    // graft-shards source and the same completeness oracle must hold
    val base = newBase()
    val dir = s"$base/shards"
    val events = graft.Tables.events(spark, sf001)
    val ids = batchEventIds.sorted
    val (c1, c2) = (ids(ids.size / 3), ids(2 * ids.size / 3))
    ShardLayout.Events.append(events.filter(col("event_id") <= c1), dir, 4)

    val arrivals = mutable.Buffer.empty[(Int, Long)] // (shard, event_id)
    val q = shardStream(spark, dir)
      .select("shard", "event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(r => (r.getInt(0), r.getLong(1)))
        arrivals.synchronized { arrivals ++= rows }
        ()
      }
      .start()
    q.processAllAvailable()
    arrivals.synchronized {
      assert(arrivals.map(_._2).toSet == ids.filter(_ <= c1).toSet)
      assert(arrivals.forall(_._1 < 4), "pre-split tranche must live in 4 shards")
    }

    // SPLIT 4->8: child shards appear as new dirs under the live stream
    ShardLayout.Events.append(events.filter(col("event_id") > c1 && col("event_id") <= c2), dir, 8)
    q.processAllAvailable()
    arrivals.synchronized {
      assert(arrivals.exists(_._1 >= 4), "split children must be discovered and consumed")
    }

    // MERGE 8->2: later records collapse back into two shards
    ShardLayout.Events.append(events.filter(col("event_id") > c2), dir, 2)
    q.processAllAvailable()
    StreamControl.stopGracefully(q)

    val got = arrivals.synchronized(arrivals.toVector)
    got.map(_._2).toSet shouldBe ids.toSet                 // nothing lost
    got.size shouldBe got.map(_._2).distinct.size          // nothing duplicated
    // each record observed from exactly one shard (exclusive routing)
    got.groupBy(_._2).values.foreach(v => assert(v.map(_._1).distinct.size == 1))
  }

  test("streaming result == batch result (the reference's core oracle) for s1/s2") {
    val s1 = StreamingQueries.s1StreamHourlyAgg(spark, sf001)
    val b1 = graft.Tables.events(spark, sf001)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    assert(s1.exceptAll(b1).isEmpty && b1.exceptAll(s1).isEmpty)

    val s2 = StreamingQueries.s2StreamDedupCount(spark, sf001)
    val b2 = graft.Tables.events(spark, sf001)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("event_id")).as("n_distinct"))
    assert(s2.exceptAll(b2).isEmpty && b2.exceptAll(s2).isEmpty)
  }

  test("incremental near-dup finds every pair ACROSS micro-batches (1-file triggers)") {
    // one shard file per micro-batch: a near-dup pair routed to different
    // shards has its members arrive in different batches, so every such
    // pair can only be found against bucket STATE, not within a batch
    val streamed = StreamingQueries.s8StreamNearDup(spark, sf001, maxFilesPerTrigger = Some(1))
    val batch = graft.ops.CorpusOps.d2MinhashLsh(spark, sf001)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming IVF ingest assigns arrivals into the fixed batch-trained cells (1-file triggers)") {
    // one shard file per micro-batch: the complete-mode occupancy table
    // must still converge to the batch assignment regardless of how the
    // arrivals interleave, because the quantizer is FIXED during ingest
    val streamed = StreamingQueries
      .s14StreamAnnIngest(spark, sf001, maxFilesPerTrigger = Some(1))
    val cents = graft.ops.VectorOps.exactLabelCentroids(spark, sf001)
    val batch = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"),
        graft.ops.VectorOps.vecAsDouble(col("embedding")).as("v"))
      .withColumn("cell", graft.ops.VectorOps.nearestCellExpr(cents, col("v")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_sum"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // every vector landed somewhere: occupancy sums to the corpus size
    val total = streamed.agg(sum(col("n"))).collect().head.getLong(0)
    total shouldBe graft.Tables.embeddings(spark, sf001).count()
  }

  test("streaming IVF-PQ ingest encodes arrivals against fixed batch-trained codebooks (1-file triggers)") {
    // the full index-build write path: cell assignment AND PQ codes both
    // come from quantizers trained in batch and held fixed — per-row math
    // against literals, so the rollup must equal the batch one under any
    // shard interleaving, and the code_sum column pins WHICH codes every
    // member carries (a single wrong code anywhere breaks the sum)
    val streamed = StreamingQueries
      .s15StreamPqIngest(spark, sf001, maxFilesPerTrigger = Some(1))
    val cents = graft.ops.VectorOps.exactLabelCentroids(spark, sf001)
    val books = graft.ops.VectorOps.trainedPqCodebooks(spark, sf001)
    val batch = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"),
        graft.ops.VectorOps.vecAsDouble(col("embedding")).as("v"))
      .withColumn("cell", graft.ops.VectorOps.nearestCellExpr(cents, col("v")))
      .withColumn("code_key", graft.ops.VectorOps.pqCodeKeyExpr(books, col("v")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_sum"),
        sum(col("code_key")).as("code_sum"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    val total = streamed.agg(sum(col("n"))).collect().head.getLong(0)
    total shouldBe graft.Tables.embeddings(spark, sf001).count()
  }

  test("streaming DSIR gate admits exactly the batch selection under 1-file triggers") {
    // the at-ingest quality gate: weights + cutoff are batch-trained and
    // FIXED, scoring is a stateless per-row projection — so admissions
    // must equal the batch d45 selection (scores are unique enough on
    // this corpus that the >=-cutoff gate and the rank agree) under any
    // shard interleaving
    val streamed = StreamingQueries
      .s16StreamDsirGate(spark, sf001, maxFilesPerTrigger = Some(1))
      .select(col("doc_id"), col("score"))
    val batch = graft.ops.CorpusOps.d45DsirSelect(spark, sf001)
      .select(col("doc_id"), col("score"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming perplexity gate admits exactly the batch head boundary under 1-file triggers") {
    // the fixed-LM CCNet admission (s21): bigram/context weights and the
    // head-tercile cutoff are batch-trained and FIXED, scoring is a
    // stateless per-row projection — so admissions must equal the batch
    // d47 docs at-or-above the head boundary (ties included: the stream
    // cannot rank, so the >=-cutoff gate admits boundary ties by
    // contract) under any shard interleaving
    val streamed = StreamingQueries
      .s21StreamPplGate(spark, sf001, maxFilesPerTrigger = Some(1))
      .select(col("doc_id"), col("n_bigrams"), col("avg_fx"))
    val d47 = graft.ops.CorpusOps.d47PplFilter(spark, sf001).persist()
    val cutoff = d47.filter(col("ppl_bucket") === "head")
      .agg(min(col("avg_fx"))).head().getLong(0)
    val batch = d47.filter(col("avg_fx") >= cutoff)
      .select(col("doc_id"), col("n_bigrams"), col("avg_fx"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    d47.unpersist()
  }

  test("streaming Min-K% gate rejects exactly the batch suspect boundary under 1-file triggers") {
    // the fixed-LM membership firewall (s23): LM weights and the
    // suspect-boundary cutoff are batch-trained and FIXED, scoring is a
    // stateless per-row projection — so admissions must equal the batch
    // d67 docs strictly below the boundary (ties REJECTED: the stream
    // cannot rank, and a contamination firewall fails closed by
    // contract) under any shard interleaving
    val streamed = StreamingQueries
      .s23StreamMinkGate(spark, sf001, maxFilesPerTrigger = Some(1))
      .select(col("doc_id"), col("n_bigrams"), col("mink_fx"))
    val d67 = graft.ops.CorpusOps.d67MinkScreen(spark, sf001).persist()
    val cutoff = d67.filter(col("suspect") === 1L)
      .agg(min(col("mink_fx"))).head().getLong(0)
    val batch = d67.filter(col("mink_fx") < cutoff)
      .select(col("doc_id"), col("n_bigrams"), col("mink_fx"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    d67.unpersist()
  }

  test("streaming rare-token gate admits exactly the batch set under 1-file triggers") {
    // the Count-Min OOV firewall (s24): the 96 KB sketch, the history
    // total and the rarity cutoff are batch-trained and FIXED, scoring
    // is a stateless per-row projection — so admissions must equal the
    // batch d73 rows exactly under any shard interleaving
    val streamed = StreamingQueries
      .s24StreamRareGate(spark, sf001, maxFilesPerTrigger = Some(1))
      .select(col("doc_id"), col("n_tokens"), col("n_rare"), col("rare_ppm"))
    val batch = graft.ops.CorpusOps.d73RareGate(spark, sf001)
      .select(col("doc_id"), col("n_tokens"), col("n_rare"), col("rare_ppm"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming winnow ingest emits batch-identical sketch summaries (1-file triggers)") {
    // stateless per-row selection against no trained model at all: the
    // per-doc (n_sel, gh_sum, pos_sum) rows must equal the batch d52
    // rollup under any shard interleaving, and the integer sums pin the
    // sketch CONTENT — one wrong selected gram anywhere flips a sum
    val streamed = StreamingQueries
      .s17StreamWinnowIngest(spark, sf001, maxFilesPerTrigger = Some(1))
    val batch = graft.ops.CorpusOps.d52Winnow(spark, sf001)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sel"), sum(pmod(col("gh"), lit(1L << 40))).as("gh_sum"),
        sum(col("pos")).as("pos_sum"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming semantic gate flags exactly the batch d56 pairs (1-file triggers)") {
    // stateless per-arrival cosine sweep against the static broadcast
    // eval suite: flags must equal the batch contamination audit under
    // any shard interleaving
    val streamed = StreamingQueries
      .s18StreamSemanticGate(spark, sf001, maxFilesPerTrigger = Some(1))
    val batch = graft.ops.VectorOps.d56SemanticContamination(spark, sf001)
    assert(streamed.count() > 0) // sf0.001 carries 7 true pairs — not vacuous
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming ANN lookup returns the batch kNN graph exactly (1-file triggers)") {
    // the index SEARCH path: per-batch d7-shaped lookup against the
    // static index through foreachBatch + the idempotent epoch sink. The
    // gate streams the constant query slice, so the union of per-batch
    // lookups must equal d58's batch kNN graph RESTRICTED to that slice
    // under any shard interleaving — and the slice must be a strict
    // subset here, or the reshape is vacuous at test scale
    val streamed = StreamingQueries
      .s19StreamAnnLookup(spark, sf001, maxFilesPerTrigger = Some(1))
      .select(col("q_id"), col("n_id"), col("sim"), col("rn").cast("int").as("rn"))
    val batchAll = graft.ops.VectorOps.d58KnnGraph(spark, sf001)
      .select(col("q_id"), col("n_id"), col("sim"), col("rn").cast("int").as("rn"))
    val batch = batchAll.filter(col("q_id") < StreamingQueries.AnnQuerySlice)
    assert(streamed.count() > 0)
    assert(batch.count() < batchAll.count(), "slice must bind at test scale")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // the all-arrivals far-point form still equals the full graph
    val full = StreamingQueries
      .s19StreamAnnLookup(spark, sf001, maxFilesPerTrigger = None, querySlice = None)
      .select(col("q_id"), col("n_id"), col("sim"), col("rn").cast("int").as("rn"))
    assert(full.exceptAll(batchAll).isEmpty && batchAll.exceptAll(full).isEmpty)
  }

  test("streaming Bloom gate flags exactly the batch d62 audit (1-file triggers)") {
    // the bitmap is batch-built and FIXED; probing is stateless per-row
    // integer math, so streamed flags equal the batch audit under any
    // shard interleaving — and the no-false-negative guarantee carries
    val streamed = StreamingQueries
      .s20StreamBloomGate(spark, sf001, maxFilesPerTrigger = Some(1))
    val batch = graft.ops.CorpusOps.d62BloomGate(spark, sf001)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming novelty gate admits exactly the batch d66 set (1-file triggers)") {
    // the window bitmap is batch-built and FIXED; scoring is a stateless
    // per-row fold over each doc's own windows, so streamed admissions
    // and scores equal the batch audit under any shard interleaving
    val streamed = StreamingQueries
      .s22StreamNoveltyGate(spark, sf001, maxFilesPerTrigger = Some(1))
    val batch = graft.ops.CorpusOps.d66NoveltyGate(spark, sf001)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("incremental dup-span marking emits the first occurrence RETROACTIVELY across micro-batches") {
    // 1-file triggers: a window shared by docs in different shards has
    // its first sighting stored in state for whole batches before the
    // second arrives and surfaces both — the marked-position set must
    // still equal batch d28's, independent of interleaving
    import org.apache.spark.sql.functions.{size => asize}
    val streamed = StreamingQueries
      .s11StreamDupPositions(spark, sf001, maxFilesPerTrigger = Some(1))
      .select(col("doc_id"), col("pos"))
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .filter(asize(split(col("t"), " ")) >= 8)
      .select(col("doc_id"),
        posexplode(graft.functions.WordWindowMd5.wordWindowMd5(col("t"), 8)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("gh"))
    val dup = docs.groupBy(col("gh")).count().filter(col("count") >= 2).select("gh")
    val batchMarked = docs.join(dup, "gh").select(col("doc_id"), col("pos"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batchMarked).isEmpty && batchMarked.exceptAll(streamed).isEmpty)
  }

  test("conf scope: each key gets its prior value back, set or unset, also when the body throws") {
    val (wasSet, wasUnset) =
      ("spark.sql.shuffle.partitions", "spark.sql.streaming.multipleWatermarkPolicy")
    val prior = spark.conf.get(wasSet)
    spark.conf.unset(wasUnset)
    val scope = Seq(wasSet -> "3", wasUnset -> "max")
    def assertRestored(): Unit = {
      spark.conf.get(wasSet) shouldBe prior
      assert(!spark.conf.getAll.contains(wasUnset), s"$wasUnset left set after the scope")
    }
    withConfs(spark, scope) {
      spark.conf.get(wasSet) shouldBe "3"
      spark.conf.get(wasUnset) shouldBe "max"
    }
    assertRestored()
    intercept[IllegalStateException] {
      withConfs(spark, scope)(throw new IllegalStateException("body failed"))
    }
    assertRestored()
    // a gate with an extra scoped conf (s5's state-store provider) leaves
    // the session exactly as it found it
    val before = spark.conf.getAll
    StreamingQueries.s5StreamPerKeyTws(spark, sf001).count()
    spark.conf.getAll shouldBe before
  }

  test("every stream reader under src/ opens format(\"graft-shards\")") {
    // the gates and the crash specs must replay the source a user deploys;
    // a plain file-source reader (`readStream...parquet(`) anywhere under
    // src/ is a second delivery path the at-least-once specs do not cover
    import scala.jdk.CollectionConverters._
    val token = "read" + "Stream"
    // the call chain after the token, one level of nested parentheses deep
    val chain = (java.util.regex.Pattern.quote(token) +
      """((?:\s*\.\s*\w+\s*\((?:[^()]|\([^()]*\))*\))*)""").r
    val call = """\.\s*(\w+)\s*\(((?:[^()]|\([^()]*\))*)\)""".r
    val files = Seq("src/main", "src/test").flatMap { d =>
      Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }
    val offenders = files.flatMap { f =>
      val text = Files.readString(f)
      chain.findAllMatchIn(text).flatMap { m =>
        val line = text.substring(text.lastIndexOf('\n', m.start) + 1, m.start).trim
        val comment = line.startsWith("*") || line.startsWith("/") || line.contains("//")
        val calls = call.findAllMatchIn(m.group(1)).map(c => c.group(1) -> c.group(2).trim).toSeq
        val opened = calls.takeWhile { case (name, _) => name != "format" }
        val ok = calls.drop(opened.size).headOption.contains("format" -> "\"graft-shards\"") &&
          opened.forall { case (name, _) => name == "schema" || name == "option" }
        if (comment || ok) None
        else Some(s"${f.getFileName}:${text.substring(0, m.start).count(_ == '\n') + 1}")
      }
    }
    offenders shouldBe empty
  }
}
