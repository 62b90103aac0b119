package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** End-to-end Structured Streaming queries wired into the driver's
  * CORRECTNESS gate: each runs a real streaming query — sharded file
  * source (O1), checkpointLocation (O8), trigger policy (O7),
  * event-time watermark (Q4's watermark analog), memory sink (C10,
  * the reference's Inspectable sink) — synchronously to completion with
  * `Trigger.AvailableNow`, then returns the result table so the DuckDB
  * oracle can compare it against the batch answer. Streaming result ==
  * batch result IS the reference's core delivery-semantics oracle
  * (`dedupAndGroupByKey(received) == groupByKey(sent)`,
  * KinesisSourceTest.scala:63-64).
  *
  * The memory sink is a test/observability sink exactly like the
  * reference's Inspectable (driver-resident; production sinks are
  * foreachBatch/parquet — see IdempotentSink).
  *
  * SCALE NOTES (100 TB): the aggregations are standard partial+final over
  * the stream with watermark-bounded state; `complete` output mode is
  * used here only because the memory sink requires it — at scale the same
  * plan runs in `update`/`append` mode against a keyed sink. State per
  * window×type is O(groups), not O(rows).
  */
object StreamingQueries {

  private val runCounter = new AtomicLong(0)

  // Each sharded layout is the SOURCE (static at query time), so it is
  // materialized once per (JVM, layout, sfDir); every query run still gets
  // a fresh checkpoint location and result table.
  private val shardDirs = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private def shardDir(layout: String, sfDir: String)(write: String => Unit): String =
    shardDirs.computeIfAbsent((layout, sfDir), { _ =>
      val d = Files.createTempDirectory(s"graft-$layout-").toString + "/shards"
      write(d)
      d
    })

  private def eventShards(spark: SparkSession, sfDir: String): String =
    shardDir("events", sfDir)(ShardedEvents.materialize(spark, sfDir, _))
  private def corpusShards(spark: SparkSession, sfDir: String): String =
    shardDir("corpus", sfDir)(ShardedCorpus.materialize(spark, sfDir, _))
  private def embedShards(spark: SparkSession, sfDir: String): String =
    shardDir("embed", sfDir)(ShardedEmbeddings.materialize(spark, sfDir, _))

  /** Open a sharded stream directory through the REGISTERED source — the
    * packaged `format("graft-shards")` entry point a library user calls
    * ([[graft.sources.GraftShardsProvider]], the
    * `KinesisSource(consumerConfig)` analog). It is the one reader of
    * every gate query, spec and test harness, so the CORRECTNESS gate and
    * the crash specs run the surface a user deploys. `schema` selects the
    * record layout (events by default; [[ShardedCorpus.schema]],
    * [[ShardedEmbeddings.schema]]); `maxFilesPerTrigger` is the
    * record-intake admission control (O9) and the `throttle` analog (C7):
    * it bounds work per micro-batch the way the reference's size-0 queue
    * bounds the KCL thread.
    *
    * The schema is declared with the `shard` partition column last. The
    * inner file source delivers each batch as data columns, then
    * partition columns, and Spark binds a batch to the declared schema by
    * POSITION, so a caller schema with `shard` earlier (the bounded
    * trackers' `..., shard, ts`) would swap two columns' values.
    */
  private[graft] def shardStream(spark: SparkSession, dir: String,
      schema: StructType = ShardedEvents.schema,
      maxFilesPerTrigger: Option[Int] = None,
      startingPosition: String = "trim_horizon"): DataFrame = {
    val (shard, data) = schema.partition(_.name == "shard")
    val r = spark.readStream.format("graft-shards").schema(StructType(data ++ shard))
      .option("path", dir)
      .option("startingPosition", startingPosition)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.load()
  }

  /** Run one `Trigger.AvailableNow` query to completion on a fresh
    * checkpoint directory; a failed query throws here.
    */
  private def runAvailableNow(w: DataStreamWriter[Row]): Unit =
    w.option("checkpointLocation", Files.createTempDirectory("graft-ckpt-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Run `df` to completion into a fresh memory-sink table and return it.
    * The table is named `graft_mem_*`, the prefix
    * [[graft.GraftSession.scrub]] drops result views by.
    */
  private def runToMemory(df: DataFrame, mode: OutputMode): DataFrame = {
    val mem = s"graft_mem_${runCounter.incrementAndGet()}_${System.nanoTime()}"
    runAvailableNow(df.writeStream.outputMode(mode).format("memory").queryName(mem))
    df.sparkSession.table(mem)
  }

  /** Streaming state-partition sizing rule (guide §2.2/§5, r15 verdict
    * item 1): one state partition per [[StateBytesPerPartition]] of the
    * query's SOURCE table on disk, floored at [[MinStatePartitions]] and
    * capped at 4096 — the `pairParts` discipline applied to streaming
    * state. The floor is the r15 partition sweep's optimum at fixture
    * state volume (8/16/32 partitions → 16.3/23.4/40.9 CPU-s on s6:
    * per-store load/commit overhead grows FASTER than won parallelism
    * while state is small), re-confirmed at the 16× far point this round;
    * the ceiling keeps per-store state bounded at corpus scale, where a
    * checkpoint-PERMANENT partition count sized for a laptop is the
    * first incident. Derived from data size, never from the local core
    * count.
    */
  private[streaming] val MinStatePartitions = 8
  private[streaming] val StateBytesPerPartition: Long = 64L << 20

  private[streaming] def statePartitionsFor(bytes: Long): Int =
    // SPARK_GRAFT_STATE_PARTS: measurement override for partition sweeps
    // (the r15/r16 A/B harness); unset in any deployed configuration
    sys.env.get("SPARK_GRAFT_STATE_PARTS").map(_.trim.toInt).getOrElse(
      math.min(4096L, math.max(MinStatePartitions.toLong,
        bytes / StateBytesPerPartition)).toInt)

  /** On-disk bytes of `sfDir/table` (regular files under it) — the cheap
    * O(files) size probe behind [[statePartitionsFor]]; 0 when missing
    * (spec fixtures), which lands on the floor.
    */
  private[streaming] def sourceBytes(sfDir: String, table: String): Long =
    try {
      val p = java.nio.file.Paths.get(sfDir, table)
      if (!java.nio.file.Files.exists(p)) 0L
      else if (java.nio.file.Files.isRegularFile(p)) java.nio.file.Files.size(p)
      else {
        val walk = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size(_)).sum
        } finally walk.close()
      }
    } catch { case _: Throwable => 0L }

  // per-source sizing shorthands: each streaming query derives its state
  // width from ITS source table's bytes (events / documents / embeddings)
  private def eventsStateParts(sfDir: String): Int =
    statePartitionsFor(sourceBytes(sfDir, "events.parquet"))
  private def corpusStateParts(sfDir: String): Int =
    statePartitionsFor(sourceBytes(sfDir, "documents.parquet"))
  private def embedStateParts(sfDir: String): Int =
    statePartitionsFor(sourceBytes(sfDir, "embeddings.parquet"))

  /** Session confs scoped around every gate query, with the reasoning:
    *
    *  - `noDataMicroBatches.enabled=false`: after the data batches, Spark
    *    by default runs one extra NO-DATA micro-batch so watermark-driven
    *    finalization can fire — a full reload+commit of every state store
    *    instance (s6 pays it on 4 join stores × partitions) that cannot
    *    change any result HERE: the gate queries are complete-mode
    *    aggregations (each data batch re-emits the whole table), inner
    *    stream-stream joins (emission happens at match time; the no-data
    *    batch only evicts state, and an AvailableNow run terminates
    *    anyway), watermark-free fMGWS/dedup chains (no watermark, nothing
    *    to finalize), or stateless projections. Measured A/B (r16): s6
    *    CPU 10.6 → 8.7 s, wall 2.15 → 1.66 s; oracle 130/130 after the
    *    change. At deployment the same setting is the standard trade for
    *    append-mode sinks that tolerate one-batch emission latency; forms
    *    that NEED the finalization batch (eager eviction for the bounded
    *    trackers' state plateau) must re-enable it — the bounded-tracker
    *    spec harness owns its own confs, not this scope.
    *  - `checkpoint.fileChecksum.enabled=false`: Spark 4.1 writes a
    *    checksum sidecar per checkpoint file (offset log, commit log,
    *    every state delta — the test logs' ChecksumCheckpointFileManager
    *    warnings). These gate runs checkpoint to a FRESH temp dir per run
    *    and never recover from it, so the sidecars are pure small-file
    *    I/O (2× the checkpoint file count) with nothing to protect; a
    *    durable production checkpoint keeps the default.
    */
  private val ScopedStreamConfs = Seq(
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")

  /** Run `body` with streaming-state partitioning sized to these queries'
    * state volume, restoring the session default afterwards. The state
    * partition count is checkpoint-PERMANENT (fixed at the first batch
    * forever), so a streaming job must size it deliberately instead of
    * inheriting the batch shuffle default: every stateful operator keeps
    * one or more store instances per partition, and when state is small
    * the per-store load/commit overhead dominates the actual work. Sizing
    * is scale-adaptive ([[statePartitionsFor]] over the query's source
    * table bytes — at fixture SFs it lands on the sweep-optimal floor, at
    * corpus scale it grows with the data). Session-conf scoping is safe
    * here because the driver runs queries sequentially; the restore keeps
    * batch queries on the session default. `extra` adds confs that one
    * query needs (s5's state-store provider) to the same scope.
    */
  private def withStateSizing[T](spark: SparkSession, partitions: Int,
      extra: (String, String)*)(body: => T): T =
    withConfs(spark, (("spark.sql.shuffle.partitions" -> partitions.toString) +:
      ScopedStreamConfs) ++ extra)(body)

  /** Set `confs` on the session for the duration of `body`, then restore
    * each key to its prior value: re-set when it had one, unset when it
    * had none — also when `body` throws.
    */
  private[streaming] def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val explicit = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> explicit.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Hourly tumbling-window aggregation over the event stream with a
    * 1-hour watermark: the windowed-aggregation + watermark surface the
    * reference delegates entirely to downstream code (SURVEY.md §2D).
    */
  def s1StreamHourlyAgg(spark: SparkSession, sfDir: String): DataFrame = withStateSizing(spark, eventsStateParts(sfDir)) {
    val result = shardStream(spark, eventShards(spark, sfDir))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"), col("total"))
    runToMemory(result, OutputMode.Complete())
  }

  /** Streaming initial-position seek (O10, ConsumerConfig.scala:115-139 in
    * the reference): the stream starts at the `graft-shards`
    * `startingPosition`. `at-timestamp` is a pushed-down event-time
    * predicate — the same seek the Kinesis connector's
    * `startingPosition=at_timestamp` performs, expressed declaratively so
    * it prunes at the scan.
    */
  def s3StreamSeek(spark: SparkSession, sfDir: String): DataFrame =
    seekAgg(spark, sfDir, "at_timestamp:2024-01-15")

  /** The `trim-horizon` twin of [[s3StreamSeek]]: full replay from the
    * oldest retained record of every shard.
    */
  def s3StreamSeekTrim(spark: SparkSession, sfDir: String): DataFrame =
    seekAgg(spark, sfDir, "trim_horizon")

  private def seekAgg(spark: SparkSession, sfDir: String, startingPosition: String): DataFrame = withStateSizing(spark, eventsStateParts(sfDir)) {
    val result = shardStream(spark, eventShards(spark, sfDir), startingPosition = startingPosition)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    runToMemory(result, OutputMode.Complete())
  }

  /** Arbitrary per-key state in the correctness gate: the
    * mapGroupsWithState tracker (O6's surface) runs over the sharded
    * stream, each micro-batch's cumulative emissions land in the
    * idempotent per-batch sink, and the FINAL emission per key (largest
    * cumulative count, via one ranking window) must equal the batch
    * aggregation — all distributed, no driver-side collection.
    */
  def s4StreamPerKeyState(spark: SparkSession, sfDir: String): DataFrame =
    perKeyFinal(spark, sfDir, PerKeyTracker.track)

  /** s4's twin on Spark 4's `transformWithState` (PerKeyTracker.trackTws):
    * identical per-key semantics and the same oracle, but state lives in
    * named ValueState handles in the RocksDB state store — the API and
    * provider combination that scales state beyond executor heap. The
    * provider conf joins this query's conf scope (read at query start),
    * so the other streaming gates keep their default (HDFS-backed
    * in-memory) provider.
    */
  def s5StreamPerKeyTws(spark: SparkSession, sfDir: String): DataFrame =
    perKeyFinal(spark, sfDir, PerKeyTracker.trackTws,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** The body s4 and s5 share: `tracker` over the event stream, each
    * micro-batch's cumulative emissions into the idempotent per-batch
    * sink, then the final emission per key (largest cumulative count).
    */
  private def perKeyFinal(spark: SparkSession, sfDir: String,
      tracker: DataFrame => Dataset[(Long, PerKeyTracker.KeyState)],
      confs: (String, String)*): DataFrame = withStateSizing(spark, eventsStateParts(sfDir), confs: _*) {
    val out = Files.createTempDirectory("graft-state-out-").toString
    runAvailableNow(tracker(shardStream(spark, eventShards(spark, sfDir)))
      .toDF("user_id", "state")
      .select(col("user_id"), col("state.n").as("n"),
        col("state.min_id").as("min_id"), col("state.max_id").as("max_id"))
      .writeStream
      .outputMode("update")
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        IdempotentSink.writeBatch(df, batchId, out)
      })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n").desc)
    val sinkSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, n BIGINT, min_id BIGINT, max_id BIGINT")
    IdempotentSink.readAll(spark, out, sinkSchema)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("n"), col("min_id"), col("max_id"))
  }

  /** Stream-stream event-time interval self-join: purchases matched to
    * the same user's clicks in the preceding 30 minutes — the canonical
    * attribution join, and the one major stateful streaming surface the
    * suite didn't yet demonstrate. Both sides are the SAME source stream
    * (a streaming self-join); the equi-key (user_id) plus the event-time
    * range condition is what lets Spark bound each side's join state by
    * the other side's watermark instead of keeping streams forever.
    *
    * The watermark delay is set beyond the fixture's 30-day span so
    * correctness is independent of how the AvailableNow run chunks files
    * into micro-batches (shards interleave the full time range, so a
    * tight delay could drop cross-batch matches). At 100 TB, size the
    * delay to the source's real arrival disorder — that delay, times the
    * per-side arrival rate, IS the state size, which is the point of the
    * range condition.
    *
    * DEPLOYMENT NOTE — do not copy the 35-day delay: it is a FIXTURE
    * correctness requirement (a bounded replay whose shards interleave
    * the corpus's whole 30-day span out of event-time order), not the
    * operator's sizing rule. A live source delivers roughly in event
    * time, so the rule is `watermark delay ≈ join interval (30 min
    * here) + the source's maximum arrival disorder` (minutes on a
    * healthy bus) — two-sided state then holds minutes of traffic, not
    * weeks. A 35-day delay copied onto a production stream keeps ~35
    * days of BOTH sides in the state store: at any real arrival rate
    * that is the first operational incident this query would cause.
    *
    * r15 partition sweep (the r14 s8/s12/s13 A/B, run for this row):
    * state partitions 8/16/32 at sf0.1 read wall 5.2/6.7/16.8 s, cpu
    * 16.3/23.4/40.9 s (min-of-3 scrubbed-warm, contended box — the CPU
    * column is the signal). The join stages DO run at only 8 tasks,
    * but per-store load/commit overhead grows faster than the won
    * parallelism: 8 stays optimal at fixture state volume, same
    * shape as the bucket families' sweep. The projections are already
    * minimal (4 + 3 columns), and watermark delay is inert at fixture
    * scale (one AvailableNow batch — the watermark never advances
    * mid-run, so no eviction happens under ANY delay). s6's wall is
    * the honest two-sided state cost; no lever left at this SF.
    */
  def s6StreamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = withStateSizing(spark, eventsStateParts(sfDir)) {
    val events = shardStream(spark, eventShards(spark, sfDir))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_value"))
      .withWatermark("p_ts", "35 days")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "35 days")
    val result = purchases.join(clicks,
        col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("interval 30 minutes") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id"), col("user_id"),
        round(col("p_value"), 2).as("p_value"))
    runToMemory(result, OutputMode.Append())
  }

  /** Streaming dedup + per-type counts: `dropDuplicates` over the record
    * id is the replay-collapse operator in stream form (the reference's
    * at-least-once delivery makes downstream dedup the canonical consumer
    * pattern, README.md:104-108). Unbounded dedup state here (the
    * correctness harness replays a bounded table); production uses
    * `dropDuplicatesWithinWatermark` so state is GC'd by event time.
    */
  def s2StreamDedupCount(spark: SparkSession, sfDir: String): DataFrame = withStateSizing(spark, eventsStateParts(sfDir)) {
    val result = shardStream(spark, eventShards(spark, sfDir))
      .dropDuplicates(Seq("event_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_distinct"))
    runToMemory(result, OutputMode.Complete())
  }

  /** INCREMENTAL vector-store ingest — IVF index MAINTENANCE at ingest,
    * completing the at-ingest family (s7 exact doc dedup, s8 near-dup,
    * s10 contamination, s11 dup spans, s14 the ANN index): new embeddings
    * arrive on a sharded stream and are assigned to their coarse-quantizer
    * cell by the BATCH-TRAINED quantizer (`VectorOps.exactLabelCentroids`
    * — exact-integer centroids, the d34 quantizer, held fixed during
    * ingest exactly as a deployed IVF index holds its cells fixed between
    * retrains). Output: per-cell occupancy `(cell, n, id_sum)` — the
    * id_sum checksum pins WHICH vectors landed in each cell, not just how
    * many. Assignment is per-row math against a literal centroid table, so
    * emissions are shard-interleaving-independent and streaming == batch:
    * the oracle replays training + assignment + occupancy in SQL.
    *
    * SCALE: the stream side is stateless per-row assignment (zero
    * shuffle before the aggregation — no join, the k×dim quantizer rides
    * the expression tree); aggregation state is O(k cells), nothing
    * else. This is the shape that lets a 1000-executor ingest keep a
    * 100 TB IVF index's cell directory current between nightly retrains;
    * cell-occupancy skew read off this query is also the re-balancing
    * signal a real index uses to decide WHEN to retrain.
    */
  def s14StreamAnnIngest(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = withStateSizing(spark, embedStateParts(sfDir)) {
    val shardDir = embedShards(spark, sfDir)
    val cents = graft.ops.VectorOps.exactLabelCentroids(spark, sfDir)
    val result = shardStream(spark, shardDir, ShardedEmbeddings.schema, maxFilesPerTrigger)
      .select(col("vec_id"),
        graft.ops.VectorOps.vecAsDouble(col("embedding")).as("v"))
      .withColumn("cell", graft.ops.VectorOps.nearestCellExpr(cents, col("v")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_sum"))
    runToMemory(result, OutputMode.Complete())
  }

  /** FULL vector-index build at ingest — s14 plus the PQ half: arriving
    * embeddings are assigned to their coarse cell AND PQ-ENCODED against
    * the batch-trained codebooks (`VectorOps.trainedPqCodebooks`, d35's
    * k-medians training — deterministic, so the streaming session derives
    * the identical codebooks from the identical sample). This is the
    * complete write path of a deployed IVF-PQ index: between retrains,
    * BOTH quantizers are fixed and ingest produces (cell, code) postings.
    * Output: per-cell `(cell, n, id_sum, code_sum)` where `code_sum`
    * sums each member's 8 codes packed 4-bits-apiece into one long
    * (`VectorOps.pqCodeKeyExpr`) — an order-free integer fingerprint of
    * WHICH codes the cell holds, so a wrong code anywhere in the stream
    * fails the hash even when occupancy is right.
    *
    * SCALE: same stateless-projection shape as s14 — the k×dim coarse
    * table AND the M×K×subdim codebooks all ride the expression tree as
    * literals (zero shuffle, zero join before the O(cells) aggregation).
    * Encoding at ingest is exactly how a 100 TB index amortizes its
    * PQ compression: each vector is scanned once, at arrival.
    */
  def s15StreamPqIngest(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = withStateSizing(spark, embedStateParts(sfDir)) {
    val shardDir = embedShards(spark, sfDir)
    val cents = graft.ops.VectorOps.exactLabelCentroids(spark, sfDir)
    val books = graft.ops.VectorOps.trainedPqCodebooks(spark, sfDir)
    val result = shardStream(spark, shardDir, ShardedEmbeddings.schema, maxFilesPerTrigger)
      .select(col("vec_id"),
        graft.ops.VectorOps.vecAsDouble(col("embedding")).as("v"))
      .withColumn("cell", graft.ops.VectorOps.nearestCellExpr(cents, col("v")))
      .withColumn("code_key", graft.ops.VectorOps.pqCodeKeyExpr(books, col("v")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_sum"),
        sum(col("code_key")).as("code_sum"))
    runToMemory(result, OutputMode.Complete())
  }

  /** QUALITY GATE at ingest — d45's DSIR importance weights running as an
    * admission filter: the weight table and the admission threshold (the
    * k-th selected score of the batch selection) are derived ONCE from
    * the batch corpus (`CorpusOps.dsirGate` — deterministic, the
    * s14/s15 train-in-batch/apply-at-ingest discipline) and held for
    * the session in the (model, corpus)-keyed `TrainedModelCache` —
    * later runs pay only the streamed pass, the deployed train-once
    * shape (this family's training otherwise re-ran per gate run and
    * dominated the row at scale) — then every
    * arriving document is scored by the identical zero-shuffle expression
    * (`CorpusOps.dsirScore` — the dense weight array rides the plan as a
    * literal) and admitted iff score >= cutoff. A stream cannot rank, so
    * the gate admits score ties at the boundary — the oracle encodes
    * exactly that (score >= min(selected score)), which on this corpus
    * equals the batch selection.
    *
    * SCALE: stateless per-row projection + filter — no state store, no
    * shuffle, no join; the weight table is O(buckets) literals. This is
    * the shape of a real at-ingest quality gate: retrain the weights
    * nightly in batch, ship them to the ingest job as a broadcast/literal,
    * and the 1000-executor stream filters at wire speed.
    */
  def s16StreamDsirGate(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    val shardDir = corpusShards(spark, sfDir)
    val (wts, cutoff) = graft.ops.TrainedModelCache.getOrTrain("dsir", sfDir)(
      graft.ops.CorpusOps.dsirGate(spark, sfDir))
    val result = shardStream(spark, shardDir, ShardedCorpus.schema, maxFilesPerTrigger)
      .select(col("doc_id"), graft.ops.CorpusOps.dsirScore(wts, col("text")).as("score"))
      .filter(col("score") >= cutoff)
    runToMemory(result, OutputMode.Append())
  }

  /** PERPLEXITY admission at ingest — d47's CCNet quality screen as the
    * s16 shape with a FIXED LM: the hashed add-one bigram model and the
    * batch head-tercile boundary both train in batch
    * (`CorpusOps.pplGate`), then every arriving document is scored by
    * the SAME zero-shuffle weight-literal fold (`CorpusOps.pplScored`,
    * shared verbatim) and admitted iff its avg_fx ties-or-beats the
    * batch boundary. Emitted rows carry (doc_id, n_bigrams, avg_fx) so
    * the oracle pins the score arithmetic, not just membership.
    *
    * SCALE: stateless zero-shuffle projection — no state store, no
    * watermark; the model is two dense literals (4096 + 256 weights)
    * compiled into the executor-side fold, the cutoff one scalar. This
    * is how a deployed CCNet-style gate ingests; periodic retraining
    * swaps literals between restarts (the drifting-target variant stays
    * consciously out of scope — its per-batch semantics are undefined).
    */
  def s21StreamPplGate(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    val shardDir = corpusShards(spark, sfDir)
    val (bigWts, ctxWts, cutoff) = graft.ops.TrainedModelCache.getOrTrain("ppl", sfDir)(
      graft.ops.CorpusOps.pplGate(spark, sfDir))
    val result = graft.ops.CorpusOps.pplScored(
        shardStream(spark, shardDir, ShardedCorpus.schema, maxFilesPerTrigger), bigWts, ctxWts)
      .filter(col("avg_fx") >= cutoff)
    runToMemory(result, OutputMode.Append())
  }

  /** WINNOW-SKETCH maintenance at ingest — the d52 fingerprint index's
    * WRITE path (the s14/s15 at-ingest family applied to the overlap
    * screen): every arriving document is winnowed by the SAME fused
    * kernel the batch sketch uses (`CorpusOps.winnowSelected`, shared
    * verbatim — selection is per-document, so it needs no trained model
    * and no state at all), and the emitted row is the document's sketch
    * summary `(doc_id, n_sel, gh_sum, pos_sum)`: selection count plus
    * order-free integer sums of the selected hashes and positions — one
    * wrong selected gram ANYWHERE flips a sum, so the oracle pins the
    * sketch content, not just its size. `gh_sum` sums `gh mod 2^40`
    * (raw 60-bit hashes would overflow int64 within one long document;
    * 2^40×2^20-selections stays exact in both engines). Documents under
    * the guarantee threshold emit nothing, exactly as in batch.
    *
    * SCALE: stateless zero-shuffle projection — no state store, no
    * watermark, no join; each executor winnows its arrivals at wire
    * speed and appends index rows. This is how a deployed overlap screen
    * ingests: the d53 join side reads the accumulated sketch table.
    */
  def s17StreamWinnowIngest(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    val shardDir = corpusShards(spark, sfDir)
    val result = graft.ops.CorpusOps.winnowSelected(
        shardStream(spark, shardDir, ShardedCorpus.schema, maxFilesPerTrigger))
      .select(col("doc_id"), size(col("sel")).cast("long").as("n_sel"),
        aggregate(col("sel"), lit(0L),
          (acc, g) => acc + pmod(g.getField("gh"), lit(1L << 40))).as("gh_sum"),
        aggregate(col("sel"), lit(0L), (acc, g) => acc + g.getField("pos")).as("pos_sum"))
      .filter(col("n_sel") > 0)
    runToMemory(result, OutputMode.Append())
  }

  /** INCREMENTAL corpus dedup — `ops.CorpusOps.d1ExactDedup`'s fingerprint
    * running at ingest: documents arrive on a sharded stream, each
    * micro-batch fingerprints its documents (d1's md5-of-sorted-word-set,
    * computed per-row, no shuffle), and `dropDuplicates` keeps the FIRST
    * arrival of every (lang, fingerprint) across batches. Keying the
    * dedup state by (lang, fp) — not fp alone — makes the per-lang counts
    * independent of shard interleaving, so streaming == batch exactly.
    *
    * SCALE: this is how a 100 TB pipeline actually deduplicates — against
    * accumulated state at ingest, not nightly over the full corpus. State
    * holds one 32-byte fingerprint per unique document (never the text);
    * with an ingest-time watermark the same query runs
    * `dropDuplicatesWithinWatermark` to bound it (the s2 production note
    * applies verbatim).
    */
  def s7StreamCorpusDedup(spark: SparkSession, sfDir: String): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    val shardDir = corpusShards(spark, sfDir)
    val result = shardStream(spark, shardDir, ShardedCorpus.schema)
      .select(col("lang"), graft.ops.CorpusOps.fingerprint(col("text")).as("fp"))
      .dropDuplicates(Seq("lang", "fp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_unique"))
    runToMemory(result, OutputMode.Complete())
  }

  // encoder codegen requires these to be publicly accessible
  /** One banded KEY row of the ingest stream (see
    * `ops.CorpusOps.bandedKeyRows` — no gram payload). */
  case class BandedKeyRow(band_key: Long, doc_id: Long)
  /** LSH-bucket state: the doc IDS ever seen in this band bucket —
    * the side-table layout's whole per-bucket state (gram sets live in
    * the doc-keyed [[graft.ops.CorpusOps.sortedGramSets]] relation the
    * verify join reads). */
  case class BucketIds(ids: List[Long])
  /** An unverified candidate pair (same band bucket), a_id < b_id. */
  case class CandPair(a_id: Long, b_id: Long)

  /** INCREMENTAL near-dup detection — d2's MinHash-LSH running at ingest,
    * in the SIDE-TABLE layout a 100 TB deployment runs: each arriving
    * document lands in its LSH band buckets (`flatMapGroupsWithState`
    * keyed by band key) whose state holds doc IDS ONLY; a bucket emits an
    * unverified CANDIDATE pair the moment a second member arrives;
    * candidates are collapsed across bands by a first-arrival dedup
    * (append-mode stateful chaining) and then EXACT-verified in a
    * stream-static join against the doc-keyed gram-set side table
    * ([[graft.ops.CorpusOps.sortedGramSets]] — the
    * [[graft.functions.SortedJaccard]] merge, arithmetic identical to
    * the in-state verify it replaces). Output == the batch d2 answer, so
    * the oracle IS d2's brute-force SQL: streaming == batch, the
    * reference's core delivery oracle, extended to a similarity join.
    *
    * SCALE — why ids-only state: the band explode replicates per-band,
    * so gram-set-in-bucket state pays `Bands`× (24×) the corpus's gram
    * volume through BOTH the banding shuffle and the state store — the
    * measured byte-volume floor of the previous form's far points. Ids
    * cut that to 16 B per (doc, band); the verify join's side table
    * carries each document's grams ONCE, broadcast at fixture scale and
    * a doc_id shuffle join at 100 TB (candidates are LSH-sparse, so the
    * join's stream side is tiny). The layout's SECOND state term — absent
    * from the in-state form, where verification preceded dedup — is the
    * cross-band `dropDuplicates` on candidate pairs, which now runs
    * BEFORE the verify join and therefore holds one (a_id, b_id) key per
    * distinct CO-BUCKET pair ever emitted, verified or not. LSH-sparse
    * by design, but it is the layout's dominant state term when buckets
    * run hot: a bucket of k members contributes C(k,2) dedup keys —
    * quadratic per hot bucket, where the bucket-id state is linear. The
    * full-retrospective oracle form accepts that (co-bucket pairs ARE
    * its candidate set); the TTL'd [[boundedNearDupPairs]] production
    * form bounds the horizon and with it k. Bucket state still grows with distinct
    * docs ever seen (the full-retrospective oracle needs it); the
    * horizon-bounded production form is SHIPPED as
    * [[boundedNearDupPairs]] — per-member event-time TTL on a
    * self-contained bucket store (grams in state: a bounded-horizon
    * store holds O(horizon) gram sets by construction, and needs no
    * side-table freshness contract), `multipleWatermarkPolicy=max`,
    * plateau pinned by StreamingSpec. The stored-id guard makes the
    * operator idempotent under at-least-once replay.
    */
  def s8StreamNearDup(spark: SparkSession, sfDir: String): DataFrame =
    s8StreamNearDup(spark, sfDir, maxFilesPerTrigger = None)

  /** The spec drives this overload with `maxFilesPerTrigger = Some(1)` to
    * prove pairs are found across micro-batch boundaries (each member in
    * a different batch), not only within one.
    */
  def s8StreamNearDup(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    import spark.implicits._
    val shardDir = corpusShards(spark, sfDir)
    val banded = graft.ops.CorpusOps.bandedKeyRows(
        shardStream(spark, shardDir, ShardedCorpus.schema, maxFilesPerTrigger))
      .as[BandedKeyRow]
    val cands = banded
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(candidateTracker)
    val result = verifiedPairs(cands.toDF().dropDuplicates(Seq("a_id", "b_id")),
        graft.Tables.documents(spark, sfDir))
    runToMemory(result, OutputMode.Append())
  }

  /** The verify stage of the side-table layout: candidate (a_id, b_id)
    * rows meet the doc-keyed gram-set table on both endpoints and the
    * exact sorted-merge Jaccard gates at the d2 threshold — the same
    * division the in-state verify computed, now a codegen'd projection.
    * The side table broadcasts here (fixture-sized); at 100 TB it is a
    * doc_id shuffle join, with the stream side at candidate volume.
    */
  private def verifiedPairs(cands: DataFrame, corpus: DataFrame): DataFrame = {
    val grams = graft.ops.CorpusOps.sortedGramSets(corpus)
    cands
      .join(broadcast(grams.select(col("doc_id").as("a_id"), col("grams").as("ga"))), "a_id")
      .join(broadcast(grams.select(col("doc_id").as("b_id"), col("grams").as("gb"))), "b_id")
      .withColumn("j", graft.functions.SortedJaccard.sortedJaccard(col("ga"), col("gb")))
      .filter(col("j") >= graft.ops.CorpusOps.JaccardThreshold)
      .select(col("a_id"), col("b_id"), round(col("j"), 6).as("jaccard"))
  }

  /** `|A ∩ B|` over two sorted distinct long arrays — one linear
    * allocation-free merge (the Scala twin of
    * [[graft.functions.SortedJaccard]]'s kernel, used by the bounded
    * production tracker whose self-contained state keeps gram sets
    * in-bucket). The sort the merge relies on is `bandedGramRowsTs`'
    * delivery contract: grams arrive sorted from the scan projection
    * (once per DOCUMENT, native `array_sort`, before the band explode).
    */
  private def sortedIntersectCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** The bucket-probe step s8 and s12 share: pair each arriving banded
    * key row against the bucket's stored member IDS as canonical
    * (a_id < b_id) CANDIDATES — verification happens downstream in the
    * side-table join ([[verifiedPairs]]); a cross-band hash collision
    * can only ADD a candidate, which the exact verify rejects. The
    * stored-id check makes the operator idempotent under at-least-once
    * replay — and, under s12's initial state, prevents a seeded document
    * from re-pairing if its tranche is ever replayed.
    */
  private val candidateTracker =
    (_: Long, rows: Iterator[BandedKeyRow], state: GroupState[BucketIds]) => {
      var stored = state.getOption.map(_.ids).getOrElse(Nil)
      val out = List.newBuilder[CandPair]
      rows.foreach { r =>
        if (!stored.contains(r.doc_id)) { // at-least-once replay guard
          stored.foreach { s =>
            out += (if (s < r.doc_id) CandPair(s, r.doc_id) else CandPair(r.doc_id, s))
          }
          stored = r.doc_id :: stored
        }
      }
      state.update(BucketIds(stored))
      out.result().iterator
    }

  /** The tranche-2 (`doc_id >= cut`) shard dirs s12 and s13 stream,
    * materialized once per (JVM, sfDir) like the full layouts.
    */
  private def tranche2Shards(docs: DataFrame, sfDir: String, cut: Long): String =
    shardDir("corpus-t2", sfDir) { d =>
      ShardedEvents.routed(docs.filter(col("doc_id") >= cut),
          col("doc_id"), col("doc_id"), ShardedCorpus.NumShards)
        .write.mode("overwrite").partitionBy("shard").parquet(d)
    }

  /** s12: the near-dup tracker RESUMED against an existing corpus — the
    * gate-query form of the initial-state bootstrap
    * ([[boundedNearDupPairs]]'s `initialCorpus`, here on s8's unbounded
    * twin so the oracle needs no horizon semantics). The corpus is split
    * at the median doc_id: tranche 1 is the PRE-EXISTING batch corpus —
    * its banded fingerprints seed the bucket state before the first
    * micro-batch — and ONLY tranche 2 streams. The tracker must then
    * emit exactly batch-d2-over-the-WHOLE-corpus minus
    * tranche-1-internal pairs (batch d2 already answered those): every
    * cross-tranche pair plus tranche-2-internal ones — the reference's
    * resume-from-existing-checkpoint semantics
    * (RecordProcessorImpl.scala:22-91) as an oracled query.
    *
    * SCALE: seeding is one batch pass over the existing corpus grouped
    * by band key — ids only in the side-table layout, so the seed
    * exchange and the installed state are 16 B per (doc, band) instead
    * of the corpus's gram volume ×Bands; the stream then emits
    * candidates exactly as s8, and the verify join's side table is the
    * WHOLE corpus's gram sets (cross-tranche pairs need tranche-1
    * grams).
    */
  def s12StreamNearDupSeeded(spark: SparkSession, sfDir: String): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val cut = (docs.agg(max(col("doc_id"))).collect().head.getLong(0) + 1L) / 2L
    val seed = graft.ops.CorpusOps.bandedKeyRows(docs.filter(col("doc_id") < cut))
      .as[BandedKeyRow]
      .groupByKey(_.band_key)
      .mapGroups { (k, it) => k -> BucketIds(it.map(_.doc_id).toList) }
      .groupByKey(_._1).mapValues(_._2)
    val shardDir = tranche2Shards(docs, sfDir, cut)
    val banded = graft.ops.CorpusOps.bandedKeyRows(
        shardStream(spark, shardDir, ShardedCorpus.schema))
      .as[BandedKeyRow]
    val cands = banded
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout, seed)(candidateTracker)
    val result = verifiedPairs(cands.toDF().dropDuplicates(Seq("a_id", "b_id")), docs)
    runToMemory(result, OutputMode.Append())
  }

  /** s13: the dup-span tracker RESUMED against an existing corpus —
    * [[s12StreamNearDupSeeded]]'s pattern applied to [[
    * s11StreamDupPositions]], completing bootstrap parity across the
    * dedup-at-ingest family. Tranche 1 (doc_id below the median cut)
    * seeds the per-gram state in batch: first occurrence by (doc_id,
    * pos) order plus whether tranche 1 already held a second distinct
    * occurrence (`multi`). Only tranche 2 streams. Emissions are then
    * exactly marked-positions-over-BOTH minus
    * marked-positions-over-tranche-1-alone — including the RETROACTIVE
    * cross-tranche case: a window single in the existing corpus whose
    * duplicate arrives in the stream marks its old position too, which
    * batch-over-tranche-1 could not have known.
    */
  def s13StreamDupSeeded(spark: SparkSession, sfDir: String): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val cut = (docs.agg(max(col("doc_id"))).collect().head.getLong(0) + 1L) / 2L
    def occurrences(df: DataFrame): org.apache.spark.sql.Dataset[GramOccurrence] =
      df.select(col("doc_id"),
          posexplode(graft.functions.WordWindowMd5.wordWindowMd5(
            lower(trim(col("text"))), 8)))
        .select(col("col").as("gh"), col("doc_id"), col("pos").cast("long").as("pos"))
        .as[GramOccurrence]
    val seed = occurrences(docs.filter(col("doc_id") < cut))
      .groupByKey(_.gh)
      .mapGroups { (gh, it) =>
        val occs = it.toList
        val first = occs.minBy(o => (o.doc_id, o.pos))
        gh -> GramFirst(first.doc_id, first.pos,
          multi = occs.exists(o => o.doc_id != first.doc_id || o.pos != first.pos))
      }
      .groupByKey(_._1).mapValues(_._2)
    val shardDir = tranche2Shards(docs, sfDir, cut)
    val marked = occurrences(shardStream(spark, shardDir, ShardedCorpus.schema))
      .groupByKey(_.gh)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout, seed)(dupPositionTracker)
    val result = marked.toDF()
      .dropDuplicates(Seq("doc_id", "pos"))
    runToMemory(result, OutputMode.Append())
  }

  /** One w-word window occurrence of the document ingest stream (see
    * [[s11StreamDupPositions]]). */
  case class GramOccurrence(gh: Long, doc_id: Long, pos: Long)
  /** Per-gram dup-detection state: the first occurrence seen, and
    * whether a second DISTINCT occurrence has already surfaced it. */
  case class GramFirst(docId: Long, pos: Long, multi: Boolean)
  /** A marked duplicate position. */
  case class MarkedPos(doc_id: Long, pos: Long)

  /** The per-gram marking step s11 and s13 share: a second DISTINCT
    * occurrence of a window marks the occurrence AND — retroactively —
    * the stored first; a replay of the stored first is recognized by
    * (doc_id, pos) equality and never counts as a second sighting.
    */
  private val dupPositionTracker =
    (_: Long, rows: Iterator[GramOccurrence], state: GroupState[GramFirst]) => {
      var st = state.getOption.orNull
      val out = List.newBuilder[MarkedPos]
      rows.foreach { o =>
        if (st == null) st = GramFirst(o.doc_id, o.pos, multi = false)
        else if (o.doc_id != st.docId || o.pos != st.pos) { // replay of the first is not a second sighting
          if (!st.multi) { out += MarkedPos(st.docId, st.pos); st = st.copy(multi = true) }
          out += MarkedPos(o.doc_id, o.pos)
        }
      }
      state.update(st)
      out.result().iterator
    }

  /** INCREMENTAL duplicate-substring detection — d28's marked positions
    * at INGEST, completing the dedup-at-ingest family (s7 = exact doc,
    * s8 = near-dup doc, s11 = duplicated span): every arriving document
    * explodes into its 8-word window hashes (the fused WordWindowMd5
    * kernel — per-row, streamable), and `flatMapGroupsWithState` keyed
    * by window hash emits a position the moment its window is seen a
    * SECOND time anywhere in the stream — including retroactively
    * emitting the stored first occurrence. Chained append-mode dedup on
    * (doc_id, pos) collapses at-least-once replays (same pattern as
    * s8); a replayed occurrence identical to the stored first is
    * recognized by (doc_id, pos) equality and never counts as a second
    * sighting, so the output is exactly batch d28's marked-position set
    * regardless of shard interleaving — which is what the oracle
    * asserts. (The island merge that turns positions into maximal spans
    * is d28's per-doc batch post-pass; the streaming value is the
    * marking itself.)
    *
    * SCALE note: state holds one (doc_id, pos) per DISTINCT window hash
    * — the honest cost of exact one-pass dup detection — and the chained
    * dropDuplicates holds a second store with one row per MARKED position
    * forever (both unbounded here, where the oracle needs the full
    * retrospective answer). At corpus scale the standard trade is a
    * two-pass layout (batch d28), an approximate pre-filter (Bloom
    * cascade) in front of this exact tracker, or the event-time-bounded
    * production form shipped as [[boundedDupPositions]]: TTL on the
    * per-gram store + dropDuplicatesWithinWatermark on the marked
    * positions, state = O(horizon) with the plateau pinned by
    * StreamingSpec.
    */
  def s11StreamDupPositions(spark: SparkSession, sfDir: String): DataFrame =
    s11StreamDupPositions(spark, sfDir, maxFilesPerTrigger = None)

  /** The spec drives this overload with `maxFilesPerTrigger = Some(1)` to
    * force the first/second sighting of a window into DIFFERENT
    * micro-batches — the cross-batch retroactive emission path.
    */
  def s11StreamDupPositions(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    import spark.implicits._
    val shardDir = corpusShards(spark, sfDir)
    // no length pre-filter — see the matching note in CorpusOps.dupSpans
    val occurrences = shardStream(spark, shardDir, ShardedCorpus.schema, maxFilesPerTrigger)
      .select(col("doc_id"),
        posexplode(graft.functions.WordWindowMd5.wordWindowMd5(
          lower(trim(col("text"))), 8)))
      .select(col("col").as("gh"), col("doc_id"), col("pos").cast("long").as("pos"))
      .as[GramOccurrence]
    val marked = occurrences
      .groupByKey(_.gh)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(dupPositionTracker)
    val result = marked.toDF()
      .dropDuplicates(Seq("doc_id", "pos"))
    runToMemory(result, OutputMode.Append())
  }

  /** [[GramOccurrence]] carrying its ingest event time. */
  case class GramOccurrenceTs(gh: Long, doc_id: Long, pos: Long, ts: java.sql.Timestamp)
  /** A marked duplicate position stamped with the SECOND sighting's event
    * time — the retroactively-emitted first occurrence is stamped with
    * the second sighting's ts too, so the emission is never late against
    * the downstream watermark dedup. */
  case class MarkedPosTs(doc_id: Long, pos: Long, ts: java.sql.Timestamp)

  /** BOUNDED-state production form of [[s11StreamDupPositions]] — the
    * same one-pass dup-span tracker with BOTH of its state stores scoped
    * to an event-time horizon, so state is O(windows inside the horizon),
    * not O(distinct windows ever seen):
    *
    *  - the per-gram first-occurrence store carries an `EventTimeTimeout`
    *    of `ttlMs` past its newest sighting; when the watermark passes it
    *    the entry is evicted (a later re-occurrence restarts as a fresh
    *    first);
    *  - the replay-collapse dedup becomes `dropDuplicatesWithinWatermark`
    *    over the marked positions (s2's bounded pattern), evicted on the
    *    same watermark.
    *
    * The semantic trade is explicit and standard (the
    * dropDuplicatesWithinWatermark family): only window pairs whose
    * sightings fall within the horizon of each other are guaranteed
    * marked — the near-history dedup an ingest pipeline actually runs
    * continuously, with the full retrospective answer left to batch d28.
    * StreamingSpec drives time-ordered tranches through this and pins
    * (a) no false marks vs the batch answer, (b) complete marking within
    * a tranche, (c) the state PLATEAU: max state rows < distinct windows
    * ever seen, with evictions observed — including on a mostly-UNIQUE
    * stream, the case below.
    *
    * DEPLOYMENT CONTRACT — two session confs, both required:
    *
    *  1. `spark.sql.streaming.multipleWatermarkPolicy=max`. The query has
    *     two watermark nodes (fMGWS output loses column metadata, so the
    *     marks side must re-declare one), and the marks node only
    *     observes a row when a duplicate is FOUND: under the default
    *     `min` combine policy a mostly-unique stream would pin the global
    *     watermark at the last mark, the TTL would never fire, and state
    *     would grow O(distinct windows) — the exact cost this form exists
    *     to avoid. `max` (= the occurrence-side watermark, which always
    *     advances with ingest) is safe here because no emission is ever
    *     late against it: every mark — including the retroactive first
    *     occurrence — is stamped with the CURRENT batch sighting's ts,
    *     which itself passed the occurrence side's late filter.
    *     StreamingSpec's rare-duplicate test pins the eviction liveness
    *     this policy buys.
    *  2. `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
    *     — Spark pattern-matches flatMapGroupsWithState feeding a stateful
    *     operator as a late-row hazard and refuses to START the query.
    *     The guard is a conservative shape check; this tracker provably
    *     never emits late rows (the ts-stamping argument above). The conf
    *     is SESSION-WIDE — it disables the safety check for every other
    *     query on the session — so scope it around `start()` and restore
    *     it immediately, the way the spec helper `runBoundedDupTranche`
    *     does; do not leave it off globally.
    *
    * Takes any streaming `(doc_id, text, ts)` relation; the caller owns
    * source, sink and trigger.
    */
  def boundedDupPositions(docs: DataFrame, watermarkDelay: String, ttlMs: Long): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val occurrences = docs
      .withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"),
        posexplode(graft.functions.WordWindowMd5.wordWindowMd5(
          lower(trim(col("text"))), 8)))
      .select(col("col").as("gh"), col("doc_id"),
        col("pos").cast("long").as("pos"), col("ts"))
      .as[GramOccurrenceTs]
    val marked = occurrences
      .groupByKey(_.gh)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[GramOccurrenceTs], state: GroupState[GramFirst]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.orNull
            var lastSeenMs = Long.MinValue
            val out = List.newBuilder[MarkedPosTs]
            rows.foreach { o =>
              lastSeenMs = math.max(lastSeenMs, o.ts.getTime)
              if (st == null) st = GramFirst(o.doc_id, o.pos, multi = false)
              else if (o.doc_id != st.docId || o.pos != st.pos) {
                if (!st.multi) { out += MarkedPosTs(st.docId, st.pos, o.ts); st = st.copy(multi = true) }
                out += MarkedPosTs(o.doc_id, o.pos, o.ts)
              }
            }
            state.update(st)
            // evict ttl past the newest sighting — clamped ahead of the
            // current watermark (Spark rejects a timeout the watermark
            // has already passed)
            state.setTimeoutTimestamp(
              math.max(lastSeenMs + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
    marked.toDF()
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("doc_id", "pos")
      .select(col("doc_id"), col("pos"))
  }

  /** [[BandedGramRow]] carrying its document's ingest event time. */
  case class BandedGramRowTs(band_key: Long, doc_id: Long, grams: Array[Long], ts: java.sql.Timestamp)
  /** LSH-bucket state entry with the member's sighting time (epoch ms),
    * so eviction is per-DOCUMENT, not per-bucket: a bucket holding one
    * fresh and one expired member keeps only the fresh one. */
  case class StoredDocTs(docId: Long, grams: Array[Long], tsMs: Long)
  case class BucketDocsTs(docs: List[StoredDocTs])
  /** A verified pair stamped with the SECOND member's arrival time (the
    * moment the pair became knowable — never late vs the occurrence-side
    * watermark). */
  case class RawPairTs(a_id: Long, b_id: Long, j: Double, ts: java.sql.Timestamp)

  /** BOUNDED-state production form of [[s8StreamNearDup]] — the same
    * incremental MinHash-LSH near-dup tracker with BOTH state stores
    * scoped to an event-time horizon (the [[boundedDupPositions]] pattern
    * applied to the bucket store, closing the one remaining
    * indefinitely-growing state in the suite):
    *
    *  - each LSH band bucket's stored members carry their sighting time;
    *    members whose `ts + ttlMs` the watermark has passed are pruned
    *    before new arrivals probe the bucket (an expired document can no
    *    longer form pairs), and the bucket's `EventTimeTimeout` fires
    *    `ttlMs` past its NEWEST member, removing the bucket wholesale;
    *  - the multi-band pair collapse becomes
    *    `dropDuplicatesWithinWatermark(a_id, b_id)`, evicted on the same
    *    watermark (s2's bounded-dedup pattern — multi-band re-emissions
    *    of one pair co-arrive in the same micro-batch, well inside any
    *    horizon).
    *
    * The semantic trade is the standard near-history one: only pairs
    * whose members arrive within `ttlMs` of each other are guaranteed
    * found — dedup-at-ingest against a sliding horizon, with the full
    * retrospective answer left to batch d2. State is O(documents inside
    * the horizon) × bands, not O(documents ever); StreamingSpec pins no
    * false pairs, in-horizon completeness, and the state plateau with
    * observed evictions.
    *
    * DEPLOYMENT CONTRACT: identical to [[boundedDupPositions]] — run
    * with `multipleWatermarkPolicy=max` (the pairs-side watermark node
    * only sees rows when a pair is FOUND; under `min` a mostly-unique
    * corpus would stall the TTL) and
    * `statefulOperator.checkCorrectness.enabled=false` scoped around
    * `start()` (same fMGWS-before-stateful shape, same never-late
    * ts-stamping argument; the conf is session-wide, restore it
    * immediately).
    *
    * Takes any streaming `(doc_id, text, ts)` relation; the caller owns
    * source, sink and trigger.
    *
    * INITIAL-STATE BOOTSTRAP (`initialCorpus`): a real at-ingest dedup
    * deploys against an EXISTING corpus whose fingerprints were computed
    * in batch — the reference's consumers likewise resume from a
    * pre-existing checkpoint table rather than an empty one
    * (RecordProcessorImpl.scala:22-91). Passing the existing corpus as a
    * BATCH `(doc_id, text, ts)` relation seeds the bucket state before
    * the first micro-batch (the `flatMapGroupsWithState` initial-state
    * overload): arrivals then pair against the seeded members exactly as
    * if they had streamed in, while seeded-corpus-INTERNAL pairs are
    * never re-emitted (batch d2 already answered those). Seeding is
    * horizon-scoped: only members within `ttlMs` of the snapshot's
    * newest timestamp are installed — an out-of-horizon member could
    * never legally pair again, and a seeded bucket that no arrival ever
    * probes gets no timeout registered (Spark installs untouched initial
    * state without invoking the function), so seeding expired members
    * would park dead state in the store forever. With the filter,
    * resident seed state obeys the same O(docs in horizon) × bands bound
    * as live state.
    */
  def boundedNearDupPairs(docs: DataFrame, watermarkDelay: String, ttlMs: Long,
      initialCorpus: Option[DataFrame] = None): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val banded = graft.ops.CorpusOps.bandedGramRowsTs(
        docs.withWatermark("ts", watermarkDelay))
      .as[BandedGramRowTs]
    val tracker = (_: Long, rows: Iterator[BandedGramRowTs], state: GroupState[BucketDocsTs]) =>
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        // prune expired members FIRST: a document outside the horizon
        // must not pair with a fresh arrival
        val wm = state.getCurrentWatermarkMs()
        var stored = state.getOption.map(_.docs).getOrElse(Nil)
          .filter(_.tsMs + ttlMs > wm)
        val out = List.newBuilder[RawPairTs]
        rows.foreach { r =>
          if (!stored.exists(_.docId == r.doc_id)) { // at-least-once replay guard
            val g = r.grams // sorted by bandedGramRows' contract
            stored.foreach { s =>
              val inter = sortedIntersectCount(g, s.grams)
              // |A∪B| = |A| + |B| - |A∩B| over distinct gram hashes,
              // exactly as s8StreamNearDup / the d2 oracle (grams
              // arrive and are stored sorted)
              val j = inter.toDouble / (g.length + s.grams.length - inter)
              if (j >= graft.ops.CorpusOps.JaccardThreshold) {
                val (a, b) = if (s.docId < r.doc_id) (s.docId, r.doc_id)
                  else (r.doc_id, s.docId)
                out += RawPairTs(a, b, j, r.ts)
              }
            }
            stored = StoredDocTs(r.doc_id, g, r.ts.getTime) :: stored
          }
        }
        // a data invocation always lands at least one member, so the
        // bucket survives with a timeout ttl past its newest sighting
        // (clamped ahead of the watermark, which Spark requires)
        state.update(BucketDocsTs(stored))
        state.setTimeoutTimestamp(
          math.max(stored.map(_.tsMs).max + ttlMs, wm + 1))
        out.result().iterator
      }
    val grouped = banded.groupByKey(_.band_key)
    val pairs = initialCorpus match {
      case None =>
        grouped.flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(tracker)
      case Some(snapshot) =>
        // horizon-scoped seed (see scaladoc): "now" is the snapshot's own
        // newest timestamp — the moment the batch view was taken
        val newest = snapshot.agg(max(col("ts"))).collect().head.getTimestamp(0)
        val cutoffMs = Option(newest).map(_.getTime - ttlMs)
        val seedState = graft.ops.CorpusOps.bandedGramRowsTs(snapshot)
          .as[BandedGramRowTs]
          .filter(r => cutoffMs.forall(r.ts.getTime > _))
          .groupByKey(_.band_key)
          .mapGroups { (k, it) =>
            k -> BucketDocsTs(it.map(r =>
              StoredDocTs(r.doc_id, r.grams, r.ts.getTime)).toList)
          }
          .groupByKey(_._1).mapValues(_._2)
        grouped.flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout, seedState)(tracker)
    }
    pairs.toDF()
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("a_id", "b_id")
      .select(col("a_id"), col("b_id"), round(col("j"), 6).as("jaccard"))
  }

  /** At-INGEST benchmark-contamination probe: d20's n-gram collision
    * check as a STREAM-STATIC join — the held-out eval slice is a static
    * broadcast table of 60-bit shingle hashes, and arriving documents
    * probe it as they stream in, so contaminated training documents are
    * flagged before they ever land in the corpus. Demonstrates the
    * stream-static broadcast equi-join primitive (s6 is stream-stream;
    * this is the other join shape Structured Streaming offers).
    *
    * SCALE: the static side is benchmark-sized and broadcast once; the
    * streaming side never shuffles its exploded grams before the probe
    * (same plan shape as batch d20). State = the running per-doc counts.
    * Oracle = d20's batch SQL: streaming == batch, shard-order
    * independent because the probe is per-gram and counts are
    * commutative.
    */
  def s10StreamContamination(spark: SparkSession, sfDir: String): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    val shardDir = corpusShards(spark, sfDir)
    val evalGrams = graft.ops.CorpusOps.gramHashRows(
        graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 97 === 0))
      .select(col("gh")).distinct()
    val result = graft.ops.CorpusOps.gramHashRows(
        shardStream(spark, shardDir, ShardedCorpus.schema).filter(col("doc_id") % 97 =!= 0))
      .join(broadcast(evalGrams), "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    runToMemory(result, OutputMode.Complete())
  }

  /** SEMANTIC contamination gate at ingest — d56 running as the arrival
    * check (the embedding-space twin of [[s10StreamContamination]]'s
    * gram audit, completing the contamination family in streaming): the
    * eval suite's vectors are read from the batch table and BROADCAST
    * (static, tiny — the stream-static shape every at-ingest audit here
    * uses), and each arriving training vector sweeps them with the
    * exact codegen'd cosine — any arrival at ≥ the SemDeDup 0.38 level
    * is flagged with its eval witness and 6-dp similarity. Stateless,
    * zero shuffle, zero recall loss (d56's measured case against probed
    * pruning applies verbatim at ingest).
    */
  def s18StreamSemanticGate(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = withStateSizing(spark, embedStateParts(sfDir)) {
    val shardDir = embedShards(spark, sfDir)
    val ev = graft.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(25L)) === 0L)
      .select(col("vec_id").as("eval_id"),
        graft.ops.VectorOps.vecAsDouble(col("embedding")).as("evv"))
    val result = shardStream(spark, shardDir, ShardedEmbeddings.schema, maxFilesPerTrigger)
      .filter(pmod(col("vec_id"), lit(25L)) =!= 0L)
      .select(col("vec_id").as("train_id"),
        graft.ops.VectorOps.vecAsDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(ev))
      .withColumn("sim", graft.ops.VectorOps.cosine(col("evv"), col("v")))
      .filter(col("sim") >= graft.ops.VectorOps.SemDedupThreshold)
      .select(col("eval_id"), col("train_id"), round(col("sim"), 6).as("sim"))
    runToMemory(result, OutputMode.Append())
  }

  /** Constant arrival slice for [[s19StreamAnnLookup]]'s gate row: the
    * deployed lookup shape is a FIXED query rate against a growing index,
    * so the gate streams only `vec_id < 256` (a strict subset at every
    * test SF) while the index side stays the full corpus. Scaling the
    * queries WITH the index — the row's previous form — measures a
    * quadratic no deployment runs.
    */
  private[graft] val AnnQuerySlice = 256L

  /** ANN index SEARCH path at ingest — the query-side twin of s14/s15's
    * write paths, completing the index lifecycle in streaming: every
    * arriving vector looks up its top-3 in-cell neighbors in the STATIC
    * corpus index (the admit-time "have we seen something like this"
    * lookup a dedup-before-admit pipeline runs). Per micro-batch the
    * lookup is d7's plan — cell equi-join + exact rerank + per-query
    * top-k window — executed inside `foreachBatch`, where batch-only
    * operators (the rank window) are legal; results commit through the
    * idempotent epoch sink, so a replayed batch overwrites itself and
    * the lookup stream is exactly-once end to end.
    *
    * SCALE: each micro-batch joins ONLY its arrivals against the index
    * (equi-join on the cell id — the arrival's cell prunes the probe),
    * and the top-k window partitions by arrival. The static side at
    * 100 TB is the bucketed index table; nothing about the shape
    * changes. The gate row streams a CONSTANT arrival slice
    * (`vec_id < ` [[AnnQuerySlice]]) against the full index — the
    * deployed shape, where the query rate is fixed by the ingest tier
    * while the index grows with the corpus, so the row's far points
    * measure stream x fixed-index (linear in the index), not the
    * stream x index quadratic the previous all-arrivals form measured
    * by construction (251x at 16x). `querySlice = None` restores the
    * all-arrivals form as a far-point tool. The oracle is d58's batch
    * kNN graph restricted to the same slice.
    */
  def s19StreamAnnLookup(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      querySlice: Option[Long] = Some(AnnQuerySlice)): DataFrame = withStateSizing(spark, embedStateParts(sfDir)) {
    val shardDir = embedShards(spark, sfDir)
    val out = Files.createTempDirectory("graft-annq-out-").toString
    val index = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("n_id"),
        graft.ops.VectorOps.vecAsDouble(col("embedding")).as("nv"),
        col("label").as("n_label"))
    val arrivals = shardStream(spark, shardDir, ShardedEmbeddings.schema, maxFilesPerTrigger)
    runAvailableNow(querySlice.fold(arrivals)(s => arrivals.filter(col("vec_id") < s))
      .select(col("vec_id").as("q_id"),
        graft.ops.VectorOps.vecAsDouble(col("embedding")).as("qv"),
        col("label").as("q_label"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id").asc)
        val top = df.join(index,
            col("q_label") === col("n_label") && col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"),
            graft.ops.VectorOps.cosine(col("qv"), col("nv")).as("sim"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("n_id"), round(col("sim"), 6).as("sim"), col("rn"))
        IdempotentSink.writeBatch(top, batchId, out)
      })
    IdempotentSink.readAll(spark, out, org.apache.spark.sql.types.StructType.fromDDL(
      "q_id BIGINT, n_id BIGINT, sim DOUBLE, rn INT"))
  }

  /** BLOOM HISTORY GATE at ingest — d62's two-tier membership check
    * running where it actually deploys: the historical bitmap is
    * batch-built once (`CorpusOps.bloomBitmap` — the distributed
    * bitmap_or_agg pass, 8 KB result) and every arriving document
    * probes it through the IDENTICAL literal expression
    * (`CorpusOps.bloomHit`, shared verbatim — the s16 train-in-batch /
    * apply-at-ingest discipline). hit = 0 arrivals are provably new and
    * skip the exact dedup path entirely; hit = 1 routes to it.
    * Stateless, zero shuffle, zero state store — the gate a 1000-node
    * ingest tier runs at wire speed against last year's corpus.
    */
  def s20StreamBloomGate(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    val shardDir = corpusShards(spark, sfDir)
    val bm = graft.ops.TrainedModelCache.getOrTrain("bloom", sfDir)(
      graft.ops.CorpusOps.bloomBitmap(graft.Tables.documents(spark, sfDir)))
    val result = shardStream(spark, shardDir, ShardedCorpus.schema, maxFilesPerTrigger)
      .filter(pmod(col("doc_id"), lit(2L)) === 1L)
      .select(col("doc_id"), graft.ops.CorpusOps.fingerprint(col("text")).as("fp"))
      .select(col("doc_id"),
        when(graft.ops.CorpusOps.bloomHit(bm, col("fp")), lit(1L))
          .otherwise(lit(0L)).as("hit"))
    runToMemory(result, OutputMode.Append())
  }

  /** NOVELTY GATE at ingest — d66's window-Bloom admission running at
    * the ingest tier: the history half's window bitmap is batch-built
    * once (`CorpusOps.windowBloomBitmap` — one distributed bitmap_or_agg
    * pass, 128 KB result) and every arriving document scores its
    * distinct 8-word windows through the IDENTICAL literal probe
    * (`CorpusOps.noveltyGateWith`, shared verbatim — the s16/s20
    * train-in-batch / apply-at-ingest discipline), admitted iff
    * majority-new. Stateless, zero shuffle, zero state store — the
    * dedup-aware quality pre-filter a 1000-node ingest tier runs at
    * wire speed against last year's corpus.
    */
  def s22StreamNoveltyGate(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    val shardDir = corpusShards(spark, sfDir)
    val bm = graft.ops.TrainedModelCache.getOrTrain("window-bloom", sfDir)(
      graft.ops.CorpusOps.windowBloomBitmap(graft.Tables.documents(spark, sfDir)))
    val result = graft.ops.CorpusOps.noveltyGateWith(bm,
        shardStream(spark, shardDir, ShardedCorpus.schema, maxFilesPerTrigger)
          .filter(pmod(col("doc_id"), lit(2L)) === 1L))
    runToMemory(result, OutputMode.Append())
  }

  /** Min-K% MEMORIZATION firewall at ingest — d67's membership-inference
    * screen (Shi et al. 2024) running at the ingest tier: the bigram LM
    * weights and the batch suspect boundary train once
    * (`CorpusOps.minkGate` — ONE training aggregate, shared with the
    * batch screen via `minkScreenWith`), every arriving document scores
    * its k% worst-predicted bigrams through the IDENTICAL zero-shuffle
    * projection (`CorpusOps.minkScored`, shared verbatim — the s16/s21
    * train-in-batch / apply-at-ingest discipline), and is admitted iff
    * its mink_fx sits strictly BELOW the boundary: arrivals the
    * reference LM predicts suspiciously well (benchmark copies, already-
    * trained text) are held out, ties rejected — a contamination
    * firewall fails closed. Stateless, no state store, no watermark.
    */
  def s23StreamMinkGate(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    val shardDir = corpusShards(spark, sfDir)
    val (bigWts, ctxWts, cutoff) = graft.ops.TrainedModelCache.getOrTrain("mink", sfDir)(
      graft.ops.CorpusOps.minkGate(spark, sfDir))
    val result = graft.ops.CorpusOps.minkScored(
        shardStream(spark, shardDir, ShardedCorpus.schema, maxFilesPerTrigger), bigWts, ctxWts)
      .filter(col("mink_fx") < cutoff)
    runToMemory(result, OutputMode.Append())
  }

  /** RARE-TOKEN (OOV/gibberish) firewall at ingest — d73's frequency
    * screen running at the ingest tier: the history half's Count-Min
    * sketch, total token count, and rarity cutoff train once
    * (`CorpusOps.rareGate` — the 96 KB sketch is the whole model),
    * every arriving document scores the rare fraction of its token
    * stream through the IDENTICAL zero-shuffle projection
    * (`CorpusOps.rareGateWith`, shared verbatim — the s16/s21/s23
    * train-in-batch / apply-at-ingest discipline), and is admitted iff
    * rare_ppm sits strictly BELOW the cutoff (ties rejected — the
    * screen fails closed at the boundary). Stateless, no state store,
    * no watermark.
    */
  def s24StreamRareGate(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    val shardDir = corpusShards(spark, sfDir)
    val (cms, total, cutoff) = graft.ops.TrainedModelCache.getOrTrain("rare", sfDir)(
      graft.ops.CorpusOps.rareGate(spark, sfDir))
    val result = graft.ops.CorpusOps.rareGateWith(cms, total, cutoff,
        shardStream(spark, shardDir, ShardedCorpus.schema, maxFilesPerTrigger)
          .filter(pmod(col("doc_id"), lit(2L)) === 1L))
    runToMemory(result, OutputMode.Append())
  }

  /** Streaming event-time SESSIONIZATION: the native `session_window`
    * operator (q_session_window's batch twin) run as a streaming
    * aggregation — the MERGING-window state operator, qualitatively
    * different from s1's tumbling windows (a late event can fuse two
    * open sessions into one, so state is per-session ranges, not
    * per-fixed-bucket counters). Oracle = the batch gaps-and-islands
    * answer: streaming == batch is exactly the reference's delivery
    * oracle, applied to the hardest stateful operator in the suite.
    *
    * SCALE: state is one (start, end, count) range per OPEN session per
    * user; with the 1-hour watermark closed sessions age out of the
    * store. Complete mode here is a memory-sink artifact (the gate
    * compares a full table); production emits closed sessions in append
    * mode with the same plan and watermark-bounded state.
    */
  def s9StreamSession(spark: SparkSession, sfDir: String): DataFrame = withStateSizing(spark, eventsStateParts(sfDir)) {
    val result = shardStream(spark, eventShards(spark, sfDir))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("n_events"))
    runToMemory(result, OutputMode.Complete())
  }

  /** DRIFTING-TARGET temperature rebalance at ingest (the s-series twin
    * of d44 the r10-r12 surveys consciously deferred): the id axis
    * splits into `CorpusOps.DriftEpochs` recalibration windows, and
    * each arrival is admitted against the threshold its OWN window's
    * trained schedule assigns — sqrt-temperature shares over the
    * cumulative mixture of strictly earlier windows (one-epoch lag, the
    * nightly-recalibration recurrence). Epoch 0 and never-seen
    * languages admit fully (a mixer fails OPEN — exploration; the
    * contamination gates fail closed). The schedule is the trained
    * artifact (`TrainedModelCache`, O(epochs x langs) longs); the
    * arrival side is a stateless zero-shuffle projection, so admission
    * is independent of micro-batch chunking — the property that makes a
    * drifting gate oracle-checkable at all.
    */
  def s25StreamDriftMix(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    val shardDir = corpusShards(spark, sfDir)
    val sched = graft.ops.CorpusOps.driftMixSchedule(spark, sfDir)
    val result = graft.ops.CorpusOps.driftMixAdmit(
        shardStream(spark, shardDir, ShardedCorpus.schema, maxFilesPerTrigger), sched)
    runToMemory(result, OutputMode.Append())
  }

  /** PERIODIC LM REFRESH at ingest (the drifting-LM variant the surveys
    * deferred alongside s25): every arrival scores under the bigram LM
    * of its OWN recalibration window — trained on the target slice of
    * strictly earlier windows (cumulative counts, one-epoch lag) — so
    * the model MOVES with the corpus the way a deployed nightly retrain
    * does. Window 0 scores under the unsmoothed-prior model (all
    * add-one defaults), pinning what "no history yet" means. Model
    * state is O(DriftEpochs x buckets) (~0.5 MB) at any corpus size;
    * scoring is the s21 zero-shuffle shape with the weight tables
    * epoch-dispatched through one 2-D literal. Output: each scoreable
    * arrival's (doc_id, epoch, n_bigrams, avg_fx).
    */
  def s26StreamLmRefresh(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = withStateSizing(spark, corpusStateParts(sfDir)) {
    val shardDir = corpusShards(spark, sfDir)
    val m = graft.ops.CorpusOps.lmRefreshModel(spark, sfDir)
    val result = graft.ops.CorpusOps.lmRefreshScored(
        shardStream(spark, shardDir, ShardedCorpus.schema, maxFilesPerTrigger), m)
    runToMemory(result, OutputMode.Append())
  }
}
