package graft.sources

import graft.SparkSpec
import graft.streaming.{ShardedEvents, StreamControl}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.streaming.{Offset => ConnectorOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.collection.mutable

/** Pins the packaged `format("graft-shards")` surface — the reference's
  * `KinesisSource(consumerConfig)` library entry point
  * (KinesisSource.scala:46-95): options-map validation fails eagerly and
  * clearly (the `getStreamPosition` config-error analog,
  * ConsumerConfig.scala:115-139), the three starting positions deliver
  * the right record sets, admission control passes through, and the
  * `latest` subscribe point is CHECKPOINT-STABLE across restarts.
  */
class GraftShardsProviderSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def newBase(): String = Files.createTempDirectory("graft-src-spec-").toString

  private def shardDir(base: String): String = {
    val dir = s"$base/shards"
    ShardedEvents.materialize(spark, sf001, dir)
    dir
  }

  private def batchEvents = graft.Tables.events(spark, sf001)

  private def open(dir: String, position: String, extra: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.readStream.format("graft-shards")
      .option("path", dir)
      .option("startingPosition", position)
    extra.foreach { case (k, v) => r.option(k, v) }
    r.load()
  }

  private def collectIds(df: DataFrame, ckpt: String): Seq[Long] = {
    val got = mutable.Buffer.empty[Long]
    val q = df.select("event_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.collect().map(_.getLong(0))
        got.synchronized { got ++= ids }
        ()
      }
      .start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    got.synchronized(got.toVector)
  }

  // ---- options validation: config errors fail at load(), clearly ----

  test("options: missing path fails eagerly with a clear message") {
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-shards").load()
    }
    e.getMessage should include("path")
  }

  test("options: invalid startingPosition fails eagerly, naming the valid values") {
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-shards")
        .option("path", "/tmp/x")
        .option("startingPosition", "从头") // the reference's unmatched-position config error
        .load()
    }
    e.getMessage should include("startingPosition")
    e.getMessage should include("trim_horizon")
    e.getMessage should include("at_timestamp")
  }

  test("options: malformed at_timestamp value fails eagerly") {
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-shards")
        .option("path", "/tmp/x")
        .option("startingPosition", "at_timestamp:yesterday-ish")
        .load()
    }
    e.getMessage should include("timestamp")
  }

  test("options: non-positive maxFilesPerTrigger fails eagerly") {
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-shards")
        .option("path", "/tmp/x")
        .option("startingPosition", "trim_horizon")
        .option("maxFilesPerTrigger", "0")
        .load()
    }
    e.getMessage should include("maxFilesPerTrigger")
  }

  test("schema: defaults to the sharded-events record schema") {
    val df = spark.readStream.format("graft-shards")
      .option("path", newBase())
      .option("startingPosition", "trim_horizon")
      .load()
    df.schema shouldBe ShardedEvents.schema
  }

  // ---- starting positions deliver the right record sets ----

  test("trim_horizon: full replay equals the batch table") {
    val base = newBase()
    val ids = collectIds(open(shardDir(base), "trim_horizon"), s"$base/ckpt")
    ids.sorted shouldBe batchEvents.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("at_timestamp: delivery starts at the event-time position") {
    val base = newBase()
    val ids = collectIds(open(shardDir(base), "at_timestamp:2024-01-15"), s"$base/ckpt")
    val expected = batchEvents.filter(col("ts") >= lit("2024-01-15").cast("timestamp"))
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(expected.nonEmpty && expected.size < batchEvents.count())
    ids.sorted shouldBe expected
  }

  test("maxFilesPerTrigger: admission control reaches the inner file source") {
    val base = newBase()
    val dir = shardDir(base)
    var batches = 0
    val q = open(dir, "trim_horizon", Map("maxFilesPerTrigger" -> "1"))
      .select("event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => batches += 1; b.count(); () }
      .start()
    q.awaitTermination()
    // one shard file per micro-batch: at least one batch per shard
    assert(batches >= ShardedEvents.NumShards,
      s"expected >=${ShardedEvents.NumShards} single-file batches, got $batches")
  }

  test("latest: subscribe point is frozen at first start and survives restart (checkpoint-stable)") {
    val base = newBase()
    val dir = s"$base/shards"
    val ckpt = s"$base/ckpt"
    val events = batchEvents
    val ids = events.select("event_id").collect().map(_.getLong(0)).sorted
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    // tranche 1 exists BEFORE the subscribe: must never be delivered
    ShardedEvents.appendTranche(events.filter(col("event_id") <= c1), dir, 4)
    val got1 = collectIds(open(dir, "latest"), ckpt)
    assert(got1.isEmpty, s"latest must skip the pre-subscribe records, got ${got1.take(5)}")

    // tranche 2 appended after the subscribe: delivered on the next run
    ShardedEvents.appendTranche(
      events.filter(col("event_id") > c1 && col("event_id") <= c2), dir, 4)
    val got2 = collectIds(open(dir, "latest"), ckpt)
    got2.sorted shouldBe ids.filter(i => i > c1 && i <= c2).toSeq

    // tranche 3 + RESTART from the same checkpoint: the snapshot file —
    // not a re-resolution against the now-advanced stream — defines the
    // subscribe point, so only records after the ORIGINAL ends arrive;
    // nothing already delivered is re-delivered (offsets) and nothing
    // pre-subscribe leaks in (snapshot)
    ShardedEvents.appendTranche(events.filter(col("event_id") > c2), dir, 4)
    val got3 = collectIds(open(dir, "latest"), ckpt)
    got3.sorted shouldBe ids.filter(_ > c2).toSeq
    assert(StreamControl.checkpointOffsets(ckpt) == StreamControl.checkpointCommits(ckpt))
  }

  test("schema override: a caller schema serves a different record layout (the corpus stream)") {
    // one registered source, two record layouts: the stream opener passes
    // the documents schema through format("graft-shards")
    val base = newBase()
    val dir = s"$base/shards"
    graft.streaming.ShardedCorpus.materialize(spark, sf001, dir)
    val df = graft.streaming.StreamingQueries.shardStream(spark, dir,
      graft.streaming.ShardedCorpus.schema)
    df.schema shouldBe graft.streaming.ShardedCorpus.schema
    val got = mutable.Buffer.empty[Long]
    val q = df.select("doc_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.collect().map(_.getLong(0))
        got.synchronized { got ++= ids }
        ()
      }
      .start()
    q.awaitTermination()
    got.synchronized(got.toVector).sorted shouldBe graft.Tables.documents(spark, sf001)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("latest: subscribing BEFORE the stream directory exists starts clean, later records flow") {
    // the canonical Kinesis LATEST shape: the consumer subscribes before
    // the producer has written anything — start() must not fail on the
    // missing path, and everything the producer writes afterwards is
    // post-subscribe and delivered whole
    val base = newBase()
    val dir = s"$base/not-yet-written"
    val ckpt = s"$base/ckpt"
    val got1 = collectIds(open(dir, "latest"), ckpt)
    assert(got1.isEmpty, s"empty subscribe must deliver nothing, got ${got1.take(5)}")

    val events = batchEvents
    ShardedEvents.appendTranche(events, dir, 4)
    val got2 = collectIds(open(dir, "latest"), ckpt)
    got2.sorted shouldBe events.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("options: a wrong-typed seek column fails eagerly at load(), naming the expected type") {
    // presence-only validation would pass this schema and crash at
    // start() with a raw ClassCastException inside the latest-ends
    // resolution; the config must reject it at load()
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val swapped = StructType(Seq(
      StructField("shard", LongType),     // must be int
      StructField("event_id", IntegerType))) // must be bigint
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-shards")
        .schema(swapped)
        .option("path", "/tmp/x")
        .option("startingPosition", "latest")
        .load()
    }
    e.getMessage should include("type")
    e.getMessage should (include("int") and include("shard"))
  }

  test("options: a position needing absent columns fails eagerly against a caller schema") {
    // `latest` seeks by (shard, event_id); the documents schema has no
    // event_id — the config must say so at load(), not fail mid-query
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-shards")
        .schema(graft.streaming.ShardedCorpus.schema)
        .option("path", "/tmp/x")
        .option("startingPosition", "latest")
        .load()
    }
    e.getMessage should include("event_id")
  }

  test("at_timestamp seek is PUSHED into the micro-batch parquet scan (scale pin)") {
    // the seek filter must reach the per-batch FileSourceScan's
    // PushedFilters — evaluated above the scan it would re-read every
    // retained record each batch, which at 100 TB is the difference
    // between a seek and a full-stream rescan
    val base = newBase()
    val dir = shardDir(base)
    var lastPlan = ""
    val q = open(dir, "at_timestamp:2024-01-15")
      .select("event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
      .start()
    q.awaitTermination()
    lastPlan = org.apache.spark.sql.graftbridge.StreamPlanBridge.lastExecutedPlan(q)
    assert(lastPlan.nonEmpty, "no executed micro-batch plan captured")
    assert(lastPlan.contains("PushedFilters: [") &&
      lastPlan.contains("GreaterThanOrEqual(ts"),
      s"seek filter not pushed into the batch scan:\n$lastPlan")
  }

  test("latest: coarse min-end prefilter is PUSHED into the micro-batch parquet scan (scale pin)") {
    // the exact per-shard cut is a map-literal lookup by shard — not
    // pushable — so batch 0 would READ the whole retained stream just to
    // discard it. afterEnds plants `event_id > min(end)` beside it; it must
    // reach the scan's PushedFilters so row-group stats skip the
    // retained history unread
    val base = newBase()
    val dir = s"$base/shards"
    ShardedEvents.appendTranche(batchEvents, dir, 4) // retained pre-subscribe history
    val q = open(dir, "latest")
      .select("event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
      .start()
    q.awaitTermination()
    val lastPlan = org.apache.spark.sql.graftbridge.StreamPlanBridge.lastExecutedPlan(q)
    assert(lastPlan.nonEmpty, "no executed micro-batch plan captured")
    assert(lastPlan.contains("PushedFilters: [") &&
      lastPlan.contains("GreaterThan(event_id"),
      s"coarse latest prefilter not pushed into the batch scan:\n$lastPlan")
  }

  test("latest: the per-shard cut is one filter — no broadcast, no join in the micro-batch plan") {
    // the frozen snapshot is O(shard count): looking the shard up in a
    // map literal costs no exchange, no per-batch local relation and no
    // broadcast job, where a join to the snapshot paid all three
    val base = newBase()
    val dir = s"$base/shards"
    val ids = batchEvents.select("event_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 2)
    ShardedEvents.appendTranche(batchEvents.filter(col("event_id") <= cut), dir, 4)
    val ckpt = s"$base/ckpt"
    collectIds(open(dir, "latest"), ckpt) shouldBe empty
    // appended after subscribe, into 4 new shards too: all of it flows
    ShardedEvents.appendTranche(batchEvents.filter(col("event_id") > cut), dir, 8)
    val got = mutable.Buffer.empty[Long]
    val q = open(dir, "latest")
      .select("event_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized { got ++= b.collect().map(_.getLong(0)) }
        ()
      }
      .start()
    q.awaitTermination()
    val lastPlan = org.apache.spark.sql.graftbridge.StreamPlanBridge.lastExecutedPlan(q)
    assert(lastPlan.contains("FileScan"), s"no executed micro-batch plan captured:\n$lastPlan")
    assert(!lastPlan.contains("BroadcastExchange") && !lastPlan.contains("Join"),
      s"latest cut still joins the snapshot:\n$lastPlan")
    got.synchronized(got.sorted.toVector) shouldBe ids.filter(_ > cut).toVector
  }

  test("options: seek-column validation is case-insensitive, like Spark's column resolution") {
    // a caller schema naming the columns 'TS'/'EVENT_ID' resolves fine in
    // the seek filters (Spark's default resolution is case-insensitive),
    // so load() must not reject it on a case mismatch
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType, TimestampType}
    val shouted = StructType(Seq(
      StructField("EVENT_ID", LongType),
      StructField("TS", TimestampType),
      StructField("SHARD", IntegerType)))
    spark.readStream.format("graft-shards")
      .schema(shouted)
      .option("path", "/tmp/x")
      .option("startingPosition", "latest")
      .load()
      .schema shouldBe shouted
    spark.readStream.format("graft-shards")
      .schema(shouted)
      .option("path", "/tmp/x")
      .option("startingPosition", "at_timestamp:2024-01-15")
      .load()
      .schema shouldBe shouted
  }

  test("maxRecordsPerTrigger: every micro-batch stays under the record cap; the stream stays complete") {
    // the records-per-fetch bound of the reference's KCL polling config
    // (KinesisSource.scala:119-121): admission is per whole file here, so
    // the cap is enforced conservatively — no batch may exceed it, and a
    // multi-batch drain still delivers everything exactly once
    val base = newBase()
    val dir = s"$base/shards"
    ShardedEvents.appendTranche(batchEvents, dir, 4) // 4 files, ~250 records each
    val cap = 300L
    val batchSizes = mutable.Buffer.empty[Long]
    val got = mutable.Buffer.empty[Long]
    val q = open(dir, "trim_horizon", Map("maxRecordsPerTrigger" -> cap.toString))
      .select("event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.collect().map(_.getLong(0))
        batchSizes.synchronized { batchSizes += ids.length.toLong }
        got.synchronized { got ++= ids }
        ()
      }
      .start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    val sizes = batchSizes.synchronized(batchSizes.toVector)
    assert(sizes.count(_ > 0) >= 2, s"cap must split the drain into multiple batches, got $sizes")
    sizes.foreach(s => assert(s <= cap, s"batch of $s records exceeds the $cap cap: $sizes"))
    got.synchronized(got.toVector).sorted shouldBe
      batchEvents.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("maxRecordsPerTrigger composes with maxFilesPerTrigger: the tighter bound wins") {
    val base = newBase()
    val dir = s"$base/shards"
    ShardedEvents.appendTranche(batchEvents, dir, 4)
    var batches = 0
    // record cap admits everything; the 1-file cap must still hold
    val q = open(dir, "trim_horizon",
        Map("maxRecordsPerTrigger" -> "1000000", "maxFilesPerTrigger" -> "1"))
      .select("event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => if (b.count() > 0) batches += 1; () }
      .start()
    q.awaitTermination()
    assert(q.exception.isEmpty)
    assert(batches >= 4, s"expected >=4 single-file batches under the composed limits, got $batches")
  }

  test("maxRecordsPerTrigger: a restart mid-drain resumes under the cap without loss or re-admission") {
    // the pending-file computation rebuilds per source instance from the
    // metadata log — a successor must see exactly the not-yet-admitted
    // files, keep every batch under the cap, and deliver the remainder
    // exactly once
    val base = newBase()
    val dir = s"$base/shards"
    ShardedEvents.appendTranche(batchEvents, dir, 4)
    val cap = 300L
    val got = mutable.Buffer.empty[Long]
    val sizes = mutable.Buffer.empty[Long]
    def drain(stopAfterBatches: Int): Boolean = {
      var batches = 0
      val q = open(dir, "trim_horizon", Map("maxRecordsPerTrigger" -> cap.toString))
        .select("event_id")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val ids = b.collect().map(_.getLong(0))
          got.synchronized { got ++= ids }
          sizes.synchronized { sizes += ids.length.toLong }
          batches += 1
          if (batches >= stopAfterBatches) throw new RuntimeException("injected stop")
          ()
        }
        .start()
      try { q.awaitTermination(); true } catch { case _: Exception => false }
    }
    // first incarnation dies after one committed-side batch; the batch
    // that threw did NOT commit, so its rows redeliver to the successor
    assert(!drain(stopAfterBatches = 2), "first incarnation must die mid-drain")
    assert(drain(Int.MaxValue), "successor must drain to completion")
    sizes.synchronized(sizes.toVector).foreach(s => assert(s <= cap, s"batch of $s exceeds cap"))
    // the one uncommitted batch redelivers: distinct ids == full stream
    got.synchronized(got.toVector).distinct.sorted shouldBe
      batchEvents.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("options: non-positive or non-numeric maxRecordsPerTrigger fails eagerly") {
    for (bad <- Seq("0", "-5", "many")) {
      val e = intercept[IllegalArgumentException] {
        spark.readStream.format("graft-shards")
          .option("path", "/tmp/x")
          .option("startingPosition", "trim_horizon")
          .option("maxRecordsPerTrigger", bad)
          .load()
      }
      e.getMessage should include("maxRecordsPerTrigger")
    }
  }

  // ---- getBatch builds the micro-batch without a listing job ----

  private def partFileCount(dir: String): Int =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard=")).map { d =>
      d.listFiles().count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    }.sum

  /** Job descriptions of every Spark job `body` starts, in order. A
    * sentinel job afterwards flushes the listener: the bus delivers one
    * listener's events in order, so once the sentinel is seen every
    * earlier job has been too.
    */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val sentinel = s"graft-spec-flush-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(sentinel)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(sentinel), "listener never saw the sentinel job")
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.takeWhile(_ != sentinel)
  }

  test("getBatch: a micro-batch of more than 32 files runs no listing job and serves the batch table") {
    // past spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    // paths, resolving a batch through DataSource.resolveRelation runs a
    // "Listing leaf files" job with one task per file — per micro-batch,
    // replays included. Ten tranches over 4 shard dirs give >32 files in
    // few enough directories that the inner source's own root listing
    // stays on the driver, so any listing job is the batch's.
    val base = newBase()
    val dir = s"$base/shards"
    val events = batchEvents
    for (t <- 0 until 10) ShardedEvents.appendTranche(events.filter(pmod(col("event_id"), lit(10)) === t), dir, 4)
    val files = partFileCount(dir)
    assert(files > 32, s"fixture must exceed the discovery threshold, got $files files")
    val got = mutable.Buffer.empty[(Long, Int)]
    val batchFiles = mutable.Buffer.empty[Int]
    val jobs = jobDescriptions {
      val q = open(dir, "trim_horizon", Map("maxFilesPerTrigger" -> (files * 2).toString))
        .select(col("event_id"), col("shard"), input_file_name())
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val all = b.collect()
          batchFiles.synchronized { batchFiles += all.map(_.getString(2)).distinct.length }
          val rows = all.map(r => (r.getLong(0), r.getInt(1)))
          got.synchronized { got ++= rows }
          ()
        }
        .start()
      q.awaitTermination()
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    batchFiles.synchronized(batchFiles.toVector) shouldBe Vector(files)
    val listing = jobs.filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"micro-batch ran listing jobs: $listing")
    got.synchronized(got.toVector).sorted shouldBe
      events.select(col("event_id"), pmod(col("user_id"), lit(4)).cast("int"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
  }

  test("missing file: a file deleted before its uncommitted batch replays is skipped, not an error") {
    // the documented policy, as the inner file source has it: a logged
    // file that no longer exists when its batch is (re)built is skipped
    // with a warning; the rest of the batch is delivered
    val base = newBase()
    val dir = s"$base/shards"
    val events = batchEvents
    ShardedEvents.appendTranche(events, dir, 4)
    val ckpt = s"$base/ckpt"
    def run(failFirst: Boolean): (Seq[Long], Seq[String]) = {
      val got = mutable.Buffer.empty[Long]
      val inputs = mutable.Buffer.empty[String]
      val q = open(dir, "trim_horizon", Map("maxFilesPerTrigger" -> "100"))
        .select(col("event_id"), input_file_name())
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val all = b.collect()
          inputs.synchronized { inputs ++= all.map(_.getString(1)).distinct }
          if (failFirst) throw new RuntimeException("injected stop before commit")
          got.synchronized { got ++= all.map(_.getLong(0)) }
          ()
        }
        .start()
      try q.awaitTermination() catch { case _: Exception if failFirst => () }
      if (!failFirst) assert(q.exception.isEmpty, s"replay failed: ${q.exception}")
      (got.synchronized(got.toVector), inputs.synchronized(inputs.toVector))
    }
    val (_, admitted) = run(failFirst = true)
    assert(admitted.size >= 2, s"batch 0 must admit several files, got $admitted")
    assert(StreamControl.checkpointCommits(ckpt) == 0, "batch 0 must stay uncommitted")
    val gone = new org.apache.hadoop.fs.Path(new java.net.URI(admitted.head))
    val goneIds = spark.read.parquet(gone.toString).select("event_id").collect().map(_.getLong(0)).toSet
    val fs = gone.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(goneIds.nonEmpty && fs.delete(gone, false))
    val (ids, replayed) = run(failFirst = false)
    replayed.toSet shouldBe admitted.toSet - admitted.head
    ids.sorted shouldBe events.select("event_id").collect().map(_.getLong(0))
      .filterNot(goneIds).sorted.toSeq
  }

  test("maxRecordsPerTrigger: the footer cache holds only pending files, never an admitted one") {
    // the source driven trigger by trigger: each latestOffset recomputes
    // the pending set and the footer cache with it, so after a trigger
    // the cache may hold the files that trigger then admitted, but none
    // an EARLIER trigger admitted; once the drain is done it is empty
    val base = newBase()
    val dir = s"$base/shards"
    ShardedEvents.appendTranche(batchEvents.filter(col("event_id") % 2 === 0), dir, 4)
    ShardedEvents.appendTranche(batchEvents.filter(col("event_id") % 2 =!= 0), dir, 4)
    val src = new GraftShardsProvider().createSource(spark.sqlContext, s"$base/meta", None,
      "graft-shards", Map("path" -> dir, "startingPosition" -> "trim_horizon",
        "maxRecordsPerTrigger" -> "300")).asInstanceOf[GraftShardsSource]
    val ra = src.recordAdmission.get
    // a second, read-only view of the same source log
    val log = org.apache.spark.sql.graftbridge.FileSourceBridge.parquetStream(
      spark, s"$base/meta", ShardedEvents.schema, dir, Map.empty)
    var admitted = Set.empty[org.apache.hadoop.fs.Path]
    var start: Option[ConnectorOffset] = None
    var batches = 0
    var drained = false
    try while (!drained) {
      val end = src.latestOffset(start.orNull, src.getDefaultReadLimit)
      ra.cachedFooterPaths.intersect(admitted) shouldBe empty
      drained = start.contains(end)
      if (!drained) {
        admitted = log.admittedFiles()
        start = Some(end)
        batches += 1
      }
    } finally { src.stop(); log.source.stop() }
    assert(batches >= 3, s"the cap must split the drain, got $batches batches")
    admitted.size shouldBe partFileCount(dir)
    ra.cachedFooterPaths shouldBe empty
  }

  test("RecordAdmission: the listStatus walk finds exactly the files a recursive listFiles does") {
    import org.apache.hadoop.fs.Path
    val base = newBase()
    val dir = s"$base/shards"
    ShardedEvents.appendTranche(batchEvents, dir, 4) // part files, .crc sidecars, _SUCCESS
    val root = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val part = fs.listStatus(new Path(dir, "shard=1")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    // a nested shard directory, plus files the walk must skip
    val nested = new Path(dir, "shard=1/nested/part-nested.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, nested, false, conf)
    for (skip <- Seq("shard=0/_tmp.parquet", "shard=0/.hidden.parquet", "shard=0/notes.txt",
        "shard=0/part-x.parquet.crc"))
      fs.create(new Path(dir, skip)).close()

    // the pre-walk selection: recursive listFiles, filtered by file name
    val viaListFiles = {
      val out = mutable.Set.empty[Path]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (f.isFile && name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith("."))
          out += fs.makeQualified(f.getPath)
      }
      out.toSet
    }
    val walk = new RecordAdmission(conf, dir, 1000L, () => Set.empty)
    walk.pendingFiles().map(_._1).toSet shouldBe viaListFiles
    viaListFiles should contain(fs.makeQualified(nested))
    viaListFiles.map(_.getName).filter(n => n.contains("_tmp") || n.contains("hidden") ||
      n.endsWith(".crc") || n.endsWith(".txt")) shouldBe empty
    // admitted files leave the pending set
    val one = fs.makeQualified(nested)
    new RecordAdmission(conf, dir, 1000L, () => Set(one)).pendingFiles().map(_._1).toSet shouldBe
      viaListFiles - one
  }

  test("format stream checkpoints like any source: WAL offsets commit per epoch") {
    val base = newBase()
    val dir = shardDir(base)
    collectIds(open(dir, "trim_horizon", Map("maxFilesPerTrigger" -> "2")), s"$base/ckpt")
    assert(StreamControl.checkpointOffsets(s"$base/ckpt") > 0)
    assert(StreamControl.checkpointOffsets(s"$base/ckpt") ==
      StreamControl.checkpointCommits(s"$base/ckpt"))
  }
}
