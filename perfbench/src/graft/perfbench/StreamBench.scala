package graft.perfbench

import graft.Bench
import graft.streaming.{IdempotentSink, PerKeyTracker}
import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryListener}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** The in-process half of the stream benchmark: session, publisher thread,
  * the `graft-shards` pipeline, failure injection and the raw record of what
  * happened. `perfbench/run.py` stages the inputs before and turns the raw
  * record into metrics after; this program reaches the library only through
  * its public calls and Spark's public progress and listener events.
  *
  * Usage: `StreamBench <workDir>`, with `<workDir>/bench.conf` holding
  * `key=value` lines (see `run.py`). Writes into `<workDir>`:
  *  - `progress.jsonl`: every `StreamingQueryProgress`, as Spark renders it;
  *  - `events.jsonl`: publishes, query starts, injected failures, sink calls,
  *    Spark jobs (traced runs only) and the closing summary;
  *  - `final.tsv`: the per-key `(n, min_id, max_id)` the sink committed.
  */
object StreamBench {

  /** The pipeline's sink rows, flattened from the tracker's `(key, state)`. */
  val SinkSchema: StructType = StructType(Seq("key", "n", "min_id", "max_id")
    .map(StructField(_, LongType)))

  final class InjectedFailure(batchId: Long)
    extends RuntimeException(s"perfbench injected failure after the sink write of batch $batchId")

  private final case class Planned(id: Int, src: String, dst: String)

  private val events = new ConcurrentLinkedQueue[String]()
  private def event(fields: (String, Any)*): Unit = events.add(fields.map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}"))

  private def processCpuSec: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }
  private def gcSec: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  private def vmHwmKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally src.close()
  }

  /** Progress log plus one latch per query run: a run's progress events are
    * all delivered once its terminated event has arrived.
    */
  private final class ProgressLog(out: PrintWriter) extends StreamingQueryListener {
    private val ended = new ConcurrentHashMap[java.util.UUID, CountDownLatch]()
    private def latch(run: java.util.UUID) = ended.computeIfAbsent(run, _ => new CountDownLatch(1))
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(out.println(e.progress.json))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      latch(e.runId).countDown()
    def awaitEnd(run: java.util.UUID): Unit =
      if (!latch(run).await(60, TimeUnit.SECONDS)) sys.error(s"no terminated event for run $run")
  }

  /** Traced runs only: one record per Spark job, tagged with the micro-batch
    * that ran it, with task counts and task-time totals.
    */
  private final class JobTrace extends SparkListener {
    private final class Job(val batch: String, val start: Long, val stages: Int) {
      val tasks, runMs, schedMs, shuffleBytes, inputBytes = new AtomicLong
    }
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    @volatile var lastEventNs: Long = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      jobs.put(e.jobId, new Job(batch.getOrElse("-1"), e.time, e.stageIds.size))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      lastEventNs = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(jobs.get(stageJob.getOrDefault(e.stageId, -1))).foreach { j =>
        val m = e.taskMetrics
        j.tasks.incrementAndGet()
        if (m != null) {
          j.runMs.addAndGet(m.executorRunTime)
          j.schedMs.addAndGet(math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime))
          j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        }
      }
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.remove(e.jobId)).foreach { j =>
        event("ev" -> "job", "job" -> e.jobId, "batch" -> j.batch, "start_ms" -> j.start,
          "end_ms" -> e.time, "stages" -> j.stages, "tasks" -> j.tasks.get, "run_ms" -> j.runMs.get,
          "sched_ms" -> j.schedMs.get, "shuffle_bytes" -> j.shuffleBytes.get,
          "input_bytes" -> j.inputBytes.get)
      }
      lastEventNs = System.nanoTime()
    }
    /** The listener bus is asynchronous: wait for one quiet second. */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while (System.nanoTime() - lastEventNs < 1000000000L && System.nanoTime() < deadline)
        Thread.sleep(100)
    }
  }

  /** `format("graft-shards")` → Q2 replay collapse → per-key tracker →
    * `foreachBatch` → `IdempotentSink`, under the default trigger.
    */
  def startPipeline(spark: SparkSession, stream: String, position: String, cap: Option[Long],
      maxFiles: Option[Long], checkpoint: String, onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val reader = spark.readStream.format("graft-shards")
      .option("path", stream).option("startingPosition", position)
    cap.foreach(c => reader.option("maxRecordsPerTrigger", c))
    maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n))
    PerKeyTracker.track(reader.load().dropDuplicates("event_id"))
      .writeStream.outputMode("update").option("checkpointLocation", checkpoint)
      .foreachBatch { (ds: Dataset[(Long, PerKeyTracker.KeyState)], batchId: Long) =>
        onBatch(ds.toDF("key", "state").select(col("key"), col("state.n").as("n"),
          col("state.min_id").as("min_id"), col("state.max_id").as("max_id")), batchId)
      }
      .start()
  }

  /** The sink's final per-key state: the tracker's rows are cumulative, so
    * each key's last committed row carries the largest `n`.
    */
  def finalState(spark: SparkSession, sinkDir: String): Array[(Long, Long, Long, Long)] =
    IdempotentSink.readAll(spark, sinkDir, SinkSchema).groupBy("key")
      .agg(max("n"), min("min_id"), max("max_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)

  private def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[InjectedFailure])

  def main(args: Array[String]): Unit = {
    // exit explicitly: a failed run must not hang on a lingering non-daemon thread
    val rc = try { run(Paths.get(args(0))); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(rc)
  }

  private def run(work: java.nio.file.Path): Unit = {
    val conf = Files.readAllLines(work.resolve("bench.conf")).asScala
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    def path(k: String) = work.resolve(conf(k)).toString
    val cores = conf("cores")
    val trace = conf("trace") == "1"
    val cap = conf.get("cap").filter(_ != "0").map(_.toLong)
    val maxFiles = conf.get("max_files").filter(_ != "0").map(_.toLong)
    val failAt = conf.get("fail_at").toSeq.flatMap(_.split(',')).filter(_.nonEmpty).map(_.toLong).toSet

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val progressOut = new PrintWriter(work.resolve("progress.jsonl").toFile, "UTF-8")
    val progress = new ProgressLog(progressOut)
    spark.streams.addListener(progress)
    val jobTrace = if (trace) Some(new JobTrace) else None

    // catch-up warm-up: a pass over its own small stream, so class loading,
    // codegen and JIT are paid in set-up, not by the first timed batches
    conf.get("warmup_stream").foreach { stream =>
      val warm = startPipeline(spark, work.resolve(stream).toString, "trim_horizon",
        conf.get("warmup_cap").map(_.toLong), None, path("warmup_checkpoint"),
        (df, id) => IdempotentSink.writeBatch(df, id, path("warmup_sink")))
      warm.processAllAvailable()
      warm.stop()
      progress.awaitEnd(warm.runId)
      finalState(spark, path("warmup_sink"))
    }
    val spins = scala.collection.mutable.ArrayBuffer.fill(3)(Bench.allCoreSpinProbe())

    val sinkDir = path("sink")
    val replays = new ConcurrentHashMap[Long, java.lang.Boolean]()
    def onBatch(df: DataFrame, batchId: Long): Unit = {
      val s = System.currentTimeMillis()
      IdempotentSink.writeBatch(df, batchId, sinkDir)
      event("ev" -> "sink", "batch" -> batchId, "start_ms" -> s, "end_ms" -> System.currentTimeMillis())
      if (failAt(batchId) && replays.putIfAbsent(batchId, true) == null) {
        event("ev" -> "fail", "batch" -> batchId, "t_ms" -> System.currentTimeMillis())
        throw new InjectedFailure(batchId)
      }
    }
    def start(): StreamingQuery = {
      val t = System.currentTimeMillis()
      val q = startPipeline(spark, path("stream"), conf("position"), cap, maxFiles, path("checkpoint"),
        onBatch)
      event("ev" -> "start", "t_ms" -> t, "run_id" -> q.runId.toString)
      q
    }
    val runs = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    /** Run `body` on the current query; after an injected failure, restart
      * on the same checkpoint (which replays the uncommitted batch) and run
      * it again on the new query.
      */
    def supervise(body: StreamingQuery => Unit): Unit = {
      var done = false
      while (!done) {
        try { body(runs.last); done = true }
        catch { case e: StreamingQueryException if injected(e) => runs += start() }
      }
    }

    // a `latest` query subscribes in set-up, once the retained history is
    // written, and commits the batch that cuts that history off
    val plan = conf.get("plan").map { planFile =>
      runs += start()
      runs.last.processAllAvailable()
      Files.readAllLines(work.resolve(planFile)).asScala.map(_.split('\t')).map { f =>
        Planned(f(0).toInt, work.resolve(f(1)).toString, work.resolve(f(2)).toString)
      }
    }
    jobTrace.foreach(spark.sparkContext.addSparkListener)

    val steal0 = Bench.stealSec()
    val cpu0 = processCpuSec
    val gc0 = gcSec
    val t0Ms = System.currentTimeMillis()
    event("ev" -> "t0", "t_ms" -> t0Ms)
    if (runs.isEmpty) runs += start() // the catch-up consumer takes over at t0
    // the staged backlog appears behind the subscribed query at t0: each file
    // is stamped with its publish time as mtime and renamed into its shard
    val publisher = plan.map { plan =>
      val t = new Thread(() => plan.foreach { p =>
        val dst = new File(p.dst)
        dst.getParentFile.mkdirs()
        new File(p.src).setLastModified(System.currentTimeMillis())
        Files.move(Paths.get(p.src), dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        event("ev" -> "publish", "file" -> p.id, "pub_ms" -> System.currentTimeMillis())
      }, "perfbench-generator")
      t.start()
      t
    }
    supervise { q =>
      publisher.foreach(t => while (t.isAlive) q.awaitTermination(100))
      q.processAllAvailable()
    }
    val tEndMs = System.currentTimeMillis()
    val cpu = processCpuSec - cpu0
    val gc = gcSec - gc0
    val steal = Bench.stealSec() - steal0
    runs.foreach { q => q.stop(); progress.awaitEnd(q.runId) }
    // what the run keeps: the heap a full collection cannot free (state
    // store maps, caches), unlike the peak, which follows GC timing
    System.gc()
    val heapRetainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    jobTrace.foreach(_.drain())
    spins ++= Seq.fill(3)(Bench.allCoreSpinProbe())
    val contended = Bench.contentionVerdict(Nil, spins.toSeq,
      if (steal0 < 0) -1.0 else steal, (tEndMs - t0Ms) / 1e3)

    val out = new PrintWriter(work.resolve("final.tsv").toFile, "UTF-8")
    try finalState(spark, sinkDir).foreach { case (k, n, lo, hi) => out.println(s"$k\t$n\t$lo\t$hi") }
    finally out.close()
    event("ev" -> "end", "t_ms" -> tEndMs, "cpu_s" -> cpu, "gc_s" -> gc, "steal_s" -> steal,
      "spin_ms" -> spins.map(v => f"$v%.3f").mkString("[", ",", "]"), "contended" -> contended,
      "hwm_kb" -> vmHwmKb, "heap_retained_mb" -> heapRetainedMb)
    progressOut.close()
    Files.write(work.resolve("events.jsonl"), events.asScala.toSeq.asJava)
    spark.stop()
  }
}
