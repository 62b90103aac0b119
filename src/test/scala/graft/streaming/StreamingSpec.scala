package graft.streaming

import graft.SparkSpec
import graft.streaming.GraftStats.QueryStats
import graft.streaming.StreamRuns._
import graft.streaming.StreamingQueries.{shardStream, withConfs}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StateOperatorProgress, Trigger}
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
class StreamingSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def batchEventIds = graft.Tables.events(spark, sf001)
    .select("event_id").collect().map(_.getLong(0)).toSeq

  // the store a 100 TB-state deployment runs: RocksDB with per-batch
  // changelog checkpointing
  private val RocksDbChangelogConfs = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Files under `ckpt/state` whose name ends with `.changelog`. */
  private def changelogs(ckpt: String): Int = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(java.nio.file.Paths.get(ckpt, "state"))
    try walk.iterator().asScala.count(_.getFileName.toString.endsWith(".changelog"))
    finally walk.close()
  }

  /** The sf0.001 events in three tranches cut at the ts terciles. */
  private def eventTranches: Seq[DataFrame] = {
    val events = graft.Tables.events(spark, sf001)
    val Seq(c1, c2) = events
      .selectExpr("percentile(cast(ts as double), array(0.3333, 0.6667)) as c")
      .head().getSeq[Double](0)
    val t = col("ts").cast("double")
    Seq(events.filter(t <= c1), events.filter(t > c1 && t <= c2), events.filter(t > c2))
  }

  /** The sf0.001 documents on a synthetic clock, one per second, in three
    * ~167 s tranches against a 60 s horizon.
    */
  private def docTranches: (DataFrame, Seq[DataFrame]) = {
    val docs = graft.Tables.documents(spark, sf001)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    (docs, Seq(
      docs.filter(col("doc_id") < 167),
      docs.filter(col("doc_id") >= 167 && col("doc_id") < 334),
      docs.filter(col("doc_id") >= 334)))
  }

  test("at-least-once: crash after side effect, restart replays exactly the uncommitted batch") {
    val base = newBase()
    val shards = eventShards(spark, sf001, base)
    val ckpt = s"$base/ckpt"
    val received = new Batches[Long]
    // crash AFTER the side effect but BEFORE the epoch commit — the
    // worker-death / lease-lost scenario; the restart resumes at batch 2
    val sink = failOnce(2)(received.sink[Row](_.getLong(0)))
    crashAndRestart(ckpt)(start(shardStream(spark, shards, maxFilesPerTrigger = Some(1))
      .select("event_id"), ckpt)(sink))

    val deliveredBatchIds = received.ids
    assert(deliveredBatchIds.count(_ == 2L) == 2, "uncommitted batch must be redelivered")
    deliveredBatchIds.filter(_ < 2L).groupBy(identity).foreach { case (_, g) =>
      assert(g.size == 1, "committed batches must NOT be redelivered")
    }

    // duplicates exist (at-least-once), and dedup == the batch ground truth
    val all = received.rows
    assert(all.size > all.distinct.size)
    all.distinct.sorted shouldBe batchEventIds.sorted
  }

  test("exactly-once: idempotent foreachBatch sink collapses the replayed batch") {
    val base = newBase()
    val shards = eventShards(spark, sf001, base)
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    val sink = failOnce[Row](2)((df, batchId) => IdempotentSink.writeBatch(df, batchId, out))
    crashAndRestart(ckpt)(start(shardStream(spark, shards, maxFilesPerTrigger = Some(1))
      .select("event_id", "user_id", "event_type"), ckpt)(sink))

    // batch 2 was written twice, but the second write overwrote the first:
    // end-to-end output is exactly the batch ground truth
    val sinkSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, event_type STRING")
    val ids = IdempotentSink.readAll(spark, out, sinkSchema)
      .select("event_id").collect().map(_.getLong(0)).toSeq
    ids.size shouldBe ids.distinct.size
    ids.sorted shouldBe batchEventIds.sorted
  }

  test("sink partial-batch policy: a task failing inside batch 2's write job publishes none of batch 2") {
    // batch 2's first write job dies in one task after its sibling tasks
    // committed theirs; what readAll shows until the restart is the
    // sink's partial-batch policy (IdempotentSink's doc)
    val base = newBase()
    val shards = eventShards(spark, sf001, base)
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    def rows(dir: String) = IdempotentSink.readAll(spark, dir, PerKeySchema).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    var beforeRestart = Set.empty[(Long, Long, Long, Long)]
    crashAndRestart(ckpt, between = { beforeRestart = rows(out) }) {
      start(flatPerKey(PerKeyTracker.track(shardStream(spark, shards, maxFilesPerTrigger = Some(1)))),
          ckpt, mode = "update") { (df: DataFrame, batchId: Long) =>
        val failing = batchId == 2L && failed.compareAndSet(false, true)
        IdempotentSink.writeBatch(if (failing) StreamingSpec.failPartitionZero(df) else df, batchId, out)
      }
    }
    // until the restart: exactly the committed batches 0 and 1
    assert(beforeRestart.nonEmpty, "batches 0 and 1 must have written rows")
    beforeRestart shouldBe rows(s"$out/batch_id=0") ++ rows(s"$out/batch_id=1")
    sinkPerKey(spark, out) shouldBe perKeyTruth(spark, sf001)
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
    val shards = eventShards(spark, sf001, base)
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyCheckpointFs].getName)
    val stream = shardStream(spark, shards, maxFilesPerTrigger = Some(1)).select("event_id")

    FlakyCheckpointFs.delayedOps.set(0)
    FlakyCheckpointFs.latencyMs = 15
    FlakyCheckpointFs.failNextCommit = false
    try {
      // regime 1: every checkpoint op delayed — completes in one run
      eventIds(stream, s"flaky://$base/ckpt-slow").sorted shouldBe batchEventIds.sorted
      assert(FlakyCheckpointFs.delayedOps.get >= 5,
        s"expected >=5 degraded checkpoint ops, saw ${FlakyCheckpointFs.delayedOps.get}")

      // regime 2: the next commit-log write FAILS outright mid-stream; the
      // epoch stays uncommitted, and a restart against the SAME
      // degraded-store checkpoint replays it and completes
      val got = new Batches[Long]
      FlakyCheckpointFs.failNextCommit = true
      val ckpt = s"flaky://$base/ckpt-fail"
      crashAndRestart(ckpt)(start(stream, ckpt)(got.sink(_.getLong(0))))
      val all = got.rows
      assert(all.size > all.distinct.size, "the uncommitted epoch must have been redelivered")
      all.distinct.sorted shouldBe batchEventIds.sorted
    } finally {
      FlakyCheckpointFs.latencyMs = 0
      FlakyCheckpointFs.failNextCommit = false
    }
  }

  test("idempotent sink: zero committed batches reads as empty, not an error") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL("event_id BIGINT, n BIGINT")
    val df = IdempotentSink.readAll(spark, newBase(), schema)
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
    val ckpt = s"$base/ckpt"
    drain(shardStream(spark, eventShards(spark, sf001, base))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")), ckpt, "complete")(discard)

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
    val shards = eventShards(spark, sf001, base)
    val stats = new GraftStats
    spark.streams.addListener(stats)
    try {
      val q = drain(shardStream(spark, shards)
        .groupBy(col("event_type")).count(), s"$base/ckpt", "complete")(discard)
      // listener bus is async; progress events may trail termination
      val s = within(10) {
        stats.of(q.id).filter(s => s.terminated && s.rows >= batchEventIds.size).get
      }
      assert(s.started)
      assert(!s.failed)
      assert(s.batches >= 1)
      assert(s.rows == batchEventIds.size)
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
    val base = newBase()
    val q = drain(shardStream(spark, eventShards(spark, sf001, base))
      .select("event_id"), s"$base/ckpt")(discard)
    // listener bus is async; progress events may trail termination
    val s = within(10) {
      stats.get.of(q.id).filter(s => s.terminated && s.rows >= batchEventIds.size).get
    }
    assert(s.started, "conf-built listener must observe THIS query's start")
    assert(s.terminated, "conf-built listener must observe THIS query's termination")
    assert(s.rows >= batchEventIds.size)
  }

  test("listener state-depth gauges: stateOperators populate the in-flight/uncheckpointed analogs") {
    // the last O15 hook: ConsumerStats.recordNrOfInFlightRecords /
    // recordNrOfProcessedUncheckpointedRecords (ConsumerStats.scala:26-31)
    // are state-depth gauges; Spark reports them per batch via
    // progress.stateOperators (numRowsTotal / numRowsUpdated). Run a
    // stateful query (s2's dedup shape — every event writes one state
    // row) and assert the listener published them.
    val stats = new GraftStats
    spark.streams.addListener(stats)
    val base = newBase()
    val shards = eventShards(spark, sf001, base)
    try {
      val q = drain(shardStream(spark, shards)
        .dropDuplicates(Seq("event_id"))
        .groupBy(col("event_type")).count(), s"$base/ckpt", "complete")(discard)
      // listener bus is async; progress events may trail termination
      val first = within(10)(stats.of(q.id).filter(s => s.terminated && s.stateRowsTotal > 0).get)
      // dedup state holds one row per distinct event_id; the aggregation
      // adds per-type rows on top — the in-flight gauge must see at least
      // the dedup store's depth, and the per-epoch updated gauge must
      // have observed writes
      assert(first.stateRowsTotal >= batchEventIds.size,
        s"in-flight gauge ${first.stateRowsTotal} < ${batchEventIds.size} dedup state rows")
      assert(first.stateRowsUpdated > 0, "uncheckpointed-rows gauge never observed an update")
      // per-query resolution (the reference's stats are per-consumer): a
      // SECOND stateful query reporting a much smaller depth gets its own
      // gauge and leaves the first query's alone
      val q2 = drain(shardStream(spark, shards)
        .groupBy(col("event_type")).count(), s"$base/ckpt2", "complete")(discard)
      val second = within(10)(stats.of(q2.id).filter(s => s.terminated && s.stateRowsTotal > 0).get)
      assert(second.stateRowsTotal < batchEventIds.size,
        s"second query's own gauge wrong: $second")
      assert(stats.of(q.id).contains(first),
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
    val shards = eventShards(spark, sf001, base)
    val docShards = s"$base/docshards"
    ShardLayout.Corpus.materialize(spark, sf001, docShards)
    try {
      // q1: per-type event counts after exact dedup (s2's shape);
      // q2: per-lang distinct-fingerprint corpus dedup (s7's shape);
      // 1-file triggers force many batches so the executions interleave
      val events = new Batches[(String, Long)]
      val docs = new Batches[(String, Long)]
      val q1 = start(shardStream(spark, shards, maxFilesPerTrigger = Some(1))
        .dropDuplicates(Seq("event_id"))
        .groupBy(col("event_type")).count(), s"$base/ckpt1", mode = "complete")(
        events.sink(r => r.getString(0) -> r.getLong(1)))
      val q2 = start(shardStream(spark, docShards, ShardLayout.Corpus.schema, maxFilesPerTrigger = Some(1))
        .select(col("lang"), graft.ops.CorpusOps.fingerprint(col("text")).as("fp"))
        .dropDuplicates(Seq("lang", "fp"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_unique")), s"$base/ckpt2", mode = "complete")(
        docs.sink(r => r.getString(0) -> r.getLong(1)))
      await(q1); await(q2)

      // each result (a complete-mode query's last batch) equals ITS batch
      // ground truth — no cross-talk
      val wantEvents = graft.Tables.events(spark, sf001)
        .groupBy(col("event_type")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      events.last.toMap shouldBe wantEvents
      val wantDocs = graft.Tables.documents(spark, sf001)
        .select(col("lang"), graft.ops.CorpusOps.fingerprint(col("text")).as("fp"))
        .groupBy(col("lang")).agg(countDistinct(col("fp")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      docs.last.toMap shouldBe wantDocs

      // the listener observed BOTH queries distinctly; per-query gauges
      // may trail termination on the async bus
      within(10) {
        for (q <- Seq(q1, q2)) assert(stats.of(q.id).exists(s => s.started && s.terminated &&
          s.stateRowsTotal > 0), s"query ${q.id}'s own record incomplete: ${stats.of(q.id)}")
      }
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
      def run(dir: String, ckpt: String) = start(
        GraftStats.observeShardRows(shardStream(spark, dir), col("shard")).select("event_id"), ckpt)(discard)
      val qA = run(dirA, s"$base/ckptA")
      val qB = run(dirB, s"$base/ckptB")
      await(qA); await(qB)

      def expected(numShards: Int): Map[Int, Long] = events
        .groupBy(pmod(col("user_id"), lit(numShards)).cast("int").as("s")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

      // listener bus is async; gauges may trail termination
      val (a, b) = within(10) {
        (stats.of(qA.id).filter(s => s.terminated && s.shardRowsTotal.nonEmpty).get,
          stats.of(qB.id).filter(s => s.terminated && s.shardRowsTotal.nonEmpty).get)
      }
      // 4-shard run: per-shard cumulative rows == the routing ground truth
      assert(a.shardRowsTotal == expected(4), s"4-shard gauge wrong: ${a.shardRowsTotal} vs ${expected(4)}")
      // isolation: B's gauge is B's own 2-shard breakdown, untouched by A
      assert(b.shardRowsTotal == expected(2), s"2-shard gauge wrong: ${b.shardRowsTotal} vs ${expected(2)}")
      // the last-epoch (uncheckpointed analog) gauge reports a subset of
      // the same shards with counts bounded by the cumulative gauge
      assert(a.shardRowsLastBatch.nonEmpty)
      a.shardRowsLastBatch.foreach { case (s, n) =>
        assert(a.shardRowsTotal.contains(s) && n <= a.shardRowsTotal(s),
          s"last-batch gauge inconsistent with cumulative: ${a.shardRowsLastBatch} vs ${a.shardRowsTotal}")
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
    def shardRows(id: java.util.UUID)(ok: QueryStats => Boolean) =
      within(10)(stats.of(id).filter(ok).get.shardRowsTotal)
    try {
      val q = start(GraftStats.observeShardRows(shardStream(spark, dir), col("shard")).select("event_id"),
        s"$base/ckpt", Trigger.ProcessingTime("100 milliseconds"))(discard)
      q.processAllAvailable()
      val before = shardRows(q.id)(_.shardRowsTotal.nonEmpty)
      assert(before.keySet == Set(0, 1), s"pre-split gauge shards: $before")

      // SPLIT 2 -> 4 under the live query: children 2 and 3 appear
      ShardLayout.Events.append(events.filter(col("event_id") > cut), dir, 4)
      q.processAllAvailable()
      StreamControl.stopGracefully(q)
      val after = shardRows(q.id)(s => s.terminated && s.shardRowsTotal.size >= 4)
      assert(after.keySet == Set(0, 1, 2, 3), s"post-split gauge shards: $after")
      assert(after.values.sum == ids.size.toLong, s"gauge total ${after.values.sum} != ${ids.size}")
    } finally spark.streams.removeListener(stats)
  }

  test("listener identity sets are bounded: oldest query ids evict at capacity") {
    // GraftStats is registered session-wide via the streamingQueryListeners
    // static conf; a long-lived session launches unbounded queries, so the
    // per-query records must not grow with listener lifetime
    val m = new GraftStats.BoundedIdMap(GraftStats.IdCapacity, QueryStats())
    val ids = (0 until GraftStats.IdCapacity + 10).map(_ => java.util.UUID.randomUUID())
    ids.foreach(m.update(_)(_.copy(started = true)))
    m.size shouldBe GraftStats.IdCapacity
    ids.take(10).foreach(id => assert(m.get(id).isEmpty, "oldest ids must be evicted"))
    ids.drop(10).foreach(id => assert(m.get(id).isDefined, "recent ids must be retained"))
    // an update refreshes recency: the refreshed id survives the next evictions
    m.update(ids(10))(_.copy(batches = 1))
    (0 until 5).foreach(_ => m.update(java.util.UUID.randomUUID())(identity))
    m.get(ids(10)) shouldBe Some(QueryStats(started = true, batches = 1))
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
    val shards = eventShards(spark, sf001, base)
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    val sink = failOnce[Row](2)((df, batchId) => IdempotentSink.writeBatch(df, batchId, out))
    withConfs(spark, RocksDbChangelogConfs) {
      crashAndRestart(ckpt)(start(flatPerKey(PerKeyTracker.trackTws(
        shardStream(spark, shards, maxFilesPerTrigger = Some(1)))), ckpt, mode = "update")(sink))
    }

    // the checkpoint really is changelog-based: per-batch .changelog
    // deltas exist under the state dir
    assert(changelogs(ckpt) > 0, "changelog checkpointing must write per-batch .changelog deltas")

    // end-to-end: the replayed epoch collapsed in the idempotent sink and
    // the changelog-restored state finished the aggregation exactly
    sinkPerKey(spark, out) shouldBe perKeyTruth(spark, sf001)
  }

  test("graceful stop: ProcessingTime query drains and stops at a batch boundary") {
    val base = newBase()
    val live = new Batches[Long]
    val q = start(shardStream(spark, eventShards(spark, sf001, base), maxFilesPerTrigger = Some(2))
      .groupBy(col("event_type")).count(), s"$base/ckpt", Trigger.ProcessingTime("100 milliseconds"),
      "complete")(live.sink(_.getLong(1)))
    q.processAllAvailable()
    // C10 Inspectable: results visible mid-stream, while the query is live
    assert(q.isActive)
    assert(live.last.sum == batchEventIds.size)
    StreamControl.stopGracefully(q)
    assert(!q.isActive)
    assert(q.exception.isEmpty)
  }

  test("per-key state persists across micro-batches (mapGroupsWithState tracker)") {
    val base = newBase()
    val got = collect(PerKeyTracker.track(
        shardStream(spark, eventShards(spark, sf001, base), maxFilesPerTrigger = Some(2))),
      s"$base/ckpt", "update")(identity)
    // later batches overwrite: the tracker emits cumulative state
    got.rows.toMap shouldBe perKeyTruth(spark, sf001)
  }

  test("per-key arrival order within a shard is sequence order (ordered-shard fidelity)") {
    val base = newBase()
    // one file (= one shard chunk) per batch; collect preserves the
    // file's row order
    val arrivals = collect(shardStream(spark, eventShards(spark, sf001, base), maxFilesPerTrigger = Some(1))
      .select("user_id", "event_id"), s"$base/ckpt")(r => (r.getLong(0), r.getLong(1))).rows
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
    // instance) started on the dead consumer's checkpoint resumes at its
    // first uncommitted epoch. A is killed ABRUPTLY while an epoch is
    // open (held open deterministically by a latch), so the takeover
    // exercises the uncommitted-epoch path, not a graceful drain. Both
    // consumers read the packaged graft-shards source, the entry point a
    // library user deploys.
    val base = newBase()
    val stream = shardStream(spark, eventShards(spark, sf001, base), maxFilesPerTrigger = Some(1))
      .select("event_id")
    val ckpt = s"$base/ckpt"
    val (a, b) = (new Batches[Long], new Batches[Long])
    val reachedHeldEpoch = new java.util.concurrent.CountDownLatch(1)
    val releaseHeldEpoch = new java.util.concurrent.CountDownLatch(1)

    val qA = start(stream, ckpt) { (df: DataFrame, batchId: Long) =>
      a.sink[Row](_.getLong(0))(df, batchId)
      if (batchId == 2L) {
        reachedHeldEpoch.countDown()
        // hold the epoch open until A is killed. The kill's interrupt
        // MUST propagate — swallowing it would let this epoch commit
        // after the "kill" and the takeover would vacuously have
        // nothing to replay. The 10 s backstop only guards a hang; if
        // it fires, the epoch commits and the == 2 assertion below
        // fails loudly.
        releaseHeldEpoch.await(10, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
    reachedHeldEpoch.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
    qA.stop() // the kill: abrupt, epoch 2 open; interrupts the held await
    releaseHeldEpoch.countDown()
    try qA.awaitTermination() catch { case _: Exception => () }
    val commitsAtTakeover = StreamControl.checkpointCommits(ckpt)
    assert(commitsAtTakeover == 2L,
      s"A must die with epoch 2 OPEN (committed prefix = epochs 0-1), got $commitsAtTakeover")

    drain(stream, ckpt)(b.sink(_.getLong(0)))
    assert(StreamControl.checkpointOffsets(ckpt) == StreamControl.checkpointCommits(ckpt))

    val (aIds, bIds) = (a.rows, b.rows)
    assert(aIds.nonEmpty, "A must have processed a prefix")
    assert(bIds.nonEmpty, "B must have taken over the remainder")
    // B resumes EXACTLY at A's first uncommitted epoch — the lease handoff
    b.ids.min shouldBe commitsAtTakeover
    // no gap: together they deliver the full stream
    (aIds ++ bIds).distinct.sorted shouldBe batchEventIds.sorted
    // bounded overlap: EXACTLY the epoch A died holding is redelivered —
    // committed epochs never, the open epoch always
    val heldEpochIds = a.all.filter(_._1 == 2L).flatMap(_._2).toSet
    assert(heldEpochIds.nonEmpty, "A must have entered the held epoch before dying")
    aIds.toSet.intersect(bIds.toSet) shouldBe heldEpochIds
    val committedByA = a.all.filter(_._1 < commitsAtTakeover).flatMap(_._2).toSet
    assert(committedByA.intersect(bIds.toSet).isEmpty,
      "epochs A committed must not be redelivered to B")
  }

  test("two consumers on disjoint shard subsets partition the stream (rebalance analog)") {
    // the reference's rebalance it-tests assert each consumer received a
    // non-empty exclusive set and the union is complete
    // (KinesisSourceTest.scala:101-127, 261-271)
    val base = newBase()
    val shards = eventShards(spark, sf001, base)
    def consume(which: String, pred: org.apache.spark.sql.Column): Seq[Long] =
      eventIds(shardStream(spark, shards).filter(pred), s"$base/ckpt-$which")
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
    val tranches = eventTranches

    // every record written TWICE: at-least-once delivery with duplicates
    ShardLayout.Events.append(tranches.head.union(tranches.head), dir, 4)
    val got = new Batches[Long]
    val q = start(shardStream(spark, dir)
      .withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id"), s"$base/ckpt", Trigger.ProcessingTime("100 milliseconds"), "update")(
      got.sink(_.getLong(0)))
    q.processAllAvailable()
    tranches.tail.foreach { t =>
      ShardLayout.Events.append(t.union(t), dir, 4)
      q.processAllAvailable()
    }
    val stateRows = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal)
    StreamControl.stopGracefully(q)

    // duplicates collapsed: every event delivered exactly once
    got.rows.sorted shouldBe batchEventIds.sorted
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
  private def runBoundedDupTranche(dir: String, ckpt: String, got: Batches[(Long, Long)],
      tracker: mutable.Buffer[StateOperatorProgress]): Unit =
    BoundedTrackerHarness.runTranche(spark, dir, ckpt,
      StreamingQueries.boundedDupPositions(_, "60 seconds", ttlMs = 60000L),
      r => (r.getLong(0), r.getLong(1)), got, tracker)

  private def dupGramRel(t: DataFrame) = t
    .select(col("doc_id"), posexplode(graft.functions.WordWindowMd5.wordWindowMd5(
      lower(trim(col("text"))), 8)))
    .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("gh"))

  private def dupMarkedWithin(t: DataFrame): Set[(Long, Long)] = {
    val g = dupGramRel(t)
    g.join(g.groupBy("gh").count().filter(col("count") >= 2).select("gh"), "gh")
      .select("doc_id", "pos").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** [[runBoundedDupTranche]]'s sibling for the bounded NEAR-DUP tracker
    * (`boundedNearDupPairs`) — same shared harness runner.
    */
  private def runBoundedNearDupTranche(dir: String, ckpt: String, got: Batches[(Long, Long, Double)],
      tracker: mutable.Buffer[StateOperatorProgress]): Unit =
    BoundedTrackerHarness.runTranche(spark, dir, ckpt,
      StreamingQueries.boundedNearDupPairs(_, "60 seconds", ttlMs = 60000L),
      r => (r.getLong(0), r.getLong(1), r.getDouble(2)), got, tracker)

  test("bounded near-dup tracker: per-member TTL plateaus bucket state; in-horizon pairs stay exact") {
    // the production form of s8's unbounded bucket store: per-member
    // event-time TTL, so state is O(docs in the horizon) x bands, not
    // O(docs ever seen)
    val base = newBase()
    val dir = s"$base/shards"
    // same synthetic clock as the dup-span tests
    val (_, tranches) = docTranches
    val allPairs = graft.ops.CorpusOps.d2MinhashLsh(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val distinctBuckets = graft.ops.CorpusOps.bandedGramRows(
        graft.Tables.documents(spark, sf001))
      .select("band_key").distinct().count()

    val got = new Batches[(Long, Long, Double)]
    val tracker = mutable.Buffer.empty[StateOperatorProgress]
    tranches.foreach { t =>
      ShardLayout.Corpus.append(t, dir)
      runBoundedNearDupTranche(dir, s"$base/ckpt", got, tracker)
    }

    val g = got.rows.toSet
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
    val progress = tracker.toVector
    assert(progress.nonEmpty, "tracker progress must be observable")
    assert(progress.map(_.numRowsRemoved).sum > 0, "TTL must evict bucket state")
    val maxState = progress.map(_.numRowsTotal).max
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
    val (_, tranches) = docTranches
    val allPairs = graft.ops.CorpusOps.d2MinhashLsh(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val got = new Batches[(Long, Long, Double)]
    val tracker = mutable.Buffer.empty[StateOperatorProgress]
    withConfs(spark, RocksDbChangelogConfs) {
      tranches.foreach { t =>
        ShardLayout.Corpus.append(t, dir)
        runBoundedNearDupTranche(dir, s"$base/ckpt", got, tracker)
      }
    }

    // same contract as the default-store test: sound, in-tranche
    // complete, TTL evicts
    val g = got.rows.toSet
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
    assert(changelogs(s"$base/ckpt") > 0, "no .changelog deltas under the state dir")
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
    val got = new Batches[(Long, Long)]
    BoundedTrackerHarness.runTranche[(Long, Long)](spark, dir, s"$base/ckpt",
      df => StreamingQueries.boundedNearDupPairs(df, "10 seconds", ttlMs = 600000L,
        initialCorpus = Some(tranche1)),
      r => (r.getLong(0), r.getLong(1)), got, mutable.Buffer.empty[StateOperatorProgress])

    // ground truth: batch d2 over BOTH tranches, minus tranche-1-internal
    val batchBoth = graft.ops.CorpusOps.nearDupPairs(all)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchBoth == Set((3L, 9L), (5L, 20L), (12L, 25L), (21L, 27L)),
      s"planted corpus ground truth surprising: $batchBoth")
    val expected = batchBoth.filterNot { case (a, b) => a < 20 && b < 20 }
    got.rows.toSet shouldBe expected
  }

  test("bounded dup-span tracker: event-time TTL plateaus state; in-horizon marking stays exact") {
    // the production form of s11's unbounded-state tracker: per-gram
    // state carries an event-time TTL, so state is O(horizon), not
    // O(distinct windows ever)
    val base = newBase()
    val dir = s"$base/shards"
    // synthetic ingest time: one document per second, so doc_id IS the
    // event-time axis; recurrences within a tranche are inside the
    // horizon, grams idle longer than the TTL get evicted between tranches
    val (docs, tranches) = docTranches
    val allMarked = dupMarkedWithin(docs)
    val distinctGrams = dupGramRel(docs).select("gh").distinct().count()

    val got = new Batches[(Long, Long)]
    val tracker = mutable.Buffer.empty[StateOperatorProgress]
    tranches.foreach { t =>
      ShardLayout.Corpus.append(t, dir)
      runBoundedDupTranche(dir, s"$base/ckpt", got, tracker)
    }

    val g = got.rows.toSet
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
    val progress = tracker.toVector
    assert(progress.nonEmpty, "tracker progress must be observable")
    assert(progress.map(_.numRowsRemoved).sum > 0, "TTL must evict state rows")
    val maxState = progress.map(_.numRowsTotal).max
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

    val got = new Batches[(Long, Long)]
    val tracker = mutable.Buffer.empty[StateOperatorProgress]
    tranches.foreach { t =>
      ShardLayout.Corpus.append(t, dir)
      runBoundedDupTranche(dir, s"$base/ckpt", got, tracker)
    }

    assert(got.rows.isEmpty, s"unique corpus must mark nothing, got ${got.rows.take(5)}")
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
    val tranches = eventTranches

    ShardLayout.Events.append(tranches.head, dir, 4)
    val src = shardStream(spark, dir)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 minute")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 minute")
    val got = new Batches[(Long, Long)]
    val q = start(purchases.join(clicks,
        col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("interval 30 minutes") &&
        col("c_ts") <= col("p_ts"))
      .select("p_id", "c_id"), s"$base/ckpt", Trigger.ProcessingTime("100 milliseconds"))(
      got.sink(r => (r.getLong(0), r.getLong(1))))
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
    got.rows.sorted shouldBe expected.sorted
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
    val tranches = eventTranches

    ShardLayout.Events.append(tranches.head, dir, 4)
    val got = new Batches[(Long, java.sql.Timestamp, Long)]
    val q = start(shardStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("n_events")),
      s"$base/ckpt", Trigger.ProcessingTime("100 milliseconds"))(
      got.sink(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))))
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

    val g = got.rows
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

    val got = new Batches[Long]
    val q = start(shardStream(spark, dir, startingPosition = "latest").select("event_id"),
      s"$base/ckpt", Trigger.ProcessingTime("100 milliseconds"))(got.sink(_.getLong(0)))
    q.processAllAvailable()
    assert(got.rows.isEmpty, "latest must skip everything before the subscribe point")

    // appended after open: delivered — including into a NEW shard set (8)
    ShardLayout.Events.append(events.filter(col("event_id") > cut), dir, 8)
    q.processAllAvailable()
    StreamControl.stopGracefully(q)
    got.rows.sorted shouldBe ids.filter(_ > cut).toVector
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

    val arrivals = new Batches[(Int, Long)] // (shard, event_id)
    val q = start(shardStream(spark, dir).select("shard", "event_id"), s"$base/ckpt",
      Trigger.ProcessingTime("100 milliseconds"))(arrivals.sink(r => (r.getInt(0), r.getLong(1))))
    q.processAllAvailable()
    assert(arrivals.rows.map(_._2).toSet == ids.filter(_ <= c1).toSet)
    assert(arrivals.rows.forall(_._1 < 4), "pre-split tranche must live in 4 shards")

    // SPLIT 4->8: child shards appear as new dirs under the live stream
    ShardLayout.Events.append(events.filter(col("event_id") > c1 && col("event_id") <= c2), dir, 8)
    q.processAllAvailable()
    assert(arrivals.rows.exists(_._1 >= 4), "split children must be discovered and consumed")

    // MERGE 8->2: later records collapse back into two shards
    ShardLayout.Events.append(events.filter(col("event_id") > c2), dir, 2)
    q.processAllAvailable()
    StreamControl.stopGracefully(q)

    val got = arrivals.rows
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

  test("every stream under src/test starts through StreamRuns") {
    // the harness is the one place a spec starts a query, so an injection
    // point added there reaches every delivery spec; a query started
    // anywhere else in src/test is a path the harness does not cover
    import scala.jdk.CollectionConverters._
    val tokens = Seq("write" + "Stream", "\"checkpoint" + "Location\"")
    val walk = Files.walk(java.nio.file.Paths.get("src/test"))
    val offenders = try walk.iterator().asScala.toSeq
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "StreamRuns.scala")
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if tokens.exists(line.contains) => s"${f.getFileName}:${i + 1}"
        }
      }
    finally walk.close()
    offenders shouldBe empty
  }
}

object StreamingSpec {

  /** `df` whose partition-0 task fails a second into its run, after its
    * sibling tasks (the batch's other partitions) have had time to commit.
    */
  def failPartitionZero(df: DataFrame): DataFrame = {
    require(df.rdd.getNumPartitions > 1, "the failing task needs sibling tasks")
    df.mapPartitions { (rows: Iterator[Row]) =>
      if (org.apache.spark.TaskContext.getPartitionId() == 0) {
        Thread.sleep(1000)
        throw new RuntimeException("injected task failure inside the sink's write job")
      }
      rows
    }(org.apache.spark.sql.Encoders.row(df.schema))
  }
}
