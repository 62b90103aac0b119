package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The diagnostics CLI over the registered queries — one session
  * ([[GraftSession]], the bench's), one query lookup
  * (`SparkEntry.queries`), one SF dir (`SPARK_GRAFT_SF_DIR`, default
  * sf0.1) and one argument form:
  *
  * {{{
  *   runMain graft.Probe <mode> [name[,name...] ...] [key=value ...]
  * }}}
  *
  * No names means every batch query (streaming queries, `s<N>_*`, run
  * their stream when their plan is built, so they are named explicitly).
  * Options: `runs=N` (time, default 1), `out=<dir>` (plan, exec, dump),
  * `tag=<t>` (plan file suffix, default `plan`), `min=N` (scan, default
  * 2); any `spark.*=<v>` is set on the session first. Modes:
  *  - `time`: wall, CPU, GC and /proc/stat steal per run, each run after a
  *    [[GraftSession.scrub]] (the bench's discipline, so a warm run
  *    measures recompute, not a cache hit), with the all-core spin floor
  *    sampled per query — a scaling table built from these numbers
  *    carries the bench artifact's contention evidence;
  *  - `jobs`: one warm run, then the measured run's Spark job count,
  *    per-job task counts and every completed stage (tasks, wall), jobs
  *    sorted by (description, tasks) and stages by (name, tasks), not by
  *    id — AQE submits broadcast subqueries concurrently, so adjacent
  *    jobs and stages trade ids between runs; sorted, the listing is one
  *    two runs can diff once ids and walls are stripped; the number to watch
  *    when a query's wall looks wrong but its plan looks right (the r15
  *    finding that d55/d50 are orchestration floors, not data costs);
  *  - `exec`: [[ExecAudit.executedStats]] of the post-AQE executed plan;
  *    with `out`, the executed plan is written to `<out>/exec_<q>.txt`;
  *  - `state`: per-micro-batch state rows/memory per stateful operator
  *    from StreamingQueryProgress, for streaming queries, and for each
  *    stream run once it has terminated, how many state-store providers
  *    are still loaded for it (0 unless the release leaks);
  *  - `plan`: the formatted physical plan, printed, or with `out` written
  *    to `<out>/<q>_<tag>.txt` — the `plans/rNN/` before/after evidence;
  *  - `dump`: the query's result as one parquet file under `<out>/<q>`,
  *    for an ad-hoc DuckDB parity check without the full Verify sweep;
  *  - `scan`: [[ScanAudit.fileScans]] of each query with at least `min`
  *    scans.
  */
object Probe {

  final case class Args(mode: String, names: Seq[String], opts: Map[String, String]) {
    def int(key: String, default: Int): Int = opts.get(key).fold(default)(_.toInt)
  }

  private val Modes = Seq("time", "jobs", "exec", "state", "plan", "dump", "scan")

  private val Usage =
    s"usage: graft.Probe <${Modes.mkString("|")}> [name[,name...] ...] [key=value ...]"

  def parse(args: Seq[String]): Args = {
    require(args.nonEmpty && Modes.contains(args.head), Usage)
    val (kvs, words) = args.tail.partition(_.contains("="))
    val opts = kvs.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    Args(args.head, words.flatMap(_.split(',')).filter(_.nonEmpty), opts)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, a) finally spark.stop()
  }

  def run(spark: SparkSession, a: Args): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    a.opts.foreach { case (k, v) => if (k.startsWith("spark.")) spark.conf.set(k, v) }
    val names =
      if (a.names.nonEmpty) a.names
      else SparkEntry.queries.keys.filterNot(_.startsWith("s")).toSeq.sorted
    // every query is built on an empty cache: CacheManager substitutes any
    // matching cached subtree at plan time, so a plan, a scan profile or a
    // timing must not depend on which query ran before it
    def query(name: String): DataFrame = {
      spark.catalog.clearCache()
      SparkEntry.queries(name)(spark, sf)
    }
    def runNoop(name: String, label: String): Double = {
      val t0 = System.nanoTime()
      spark.sparkContext.setJobDescription(s"probe ${a.mode}: $label")
      try query(name).write.format("noop").mode("overwrite").save()
      finally spark.sparkContext.setJobDescription(null)
      (System.nanoTime() - t0) / 1e9
    }
    def write(path: java.nio.file.Path, text: String): Unit = {
      Files.createDirectories(path.getParent)
      Files.write(path, text.getBytes(StandardCharsets.UTF_8))
      println(s"WROTE $path")
    }
    val out = a.opts.get("out").map(Paths.get(_))

    a.mode match {
      case "time" =>
        for (name <- names) {
          println(f"FLOOR $name allCoreSpinMs ${Bench.allCoreSpinProbe()}%.1f")
          for (i <- 1 to a.int("runs", 1)) {
            GraftSession.scrub(spark)
            val (g0, c0, st0) = (Bench.gcTimeMs, Bench.processCpuNs, Bench.stealSec())
            val wall = runNoop(name, s"$name run $i")
            val st1 = Bench.stealSec()
            val steal = if (st0 >= 0 && st1 >= 0) st1 - st0 else -1.0
            println(f"TIME $name run $i: $wall%.2f s" +
              f" cpu ${(Bench.processCpuNs - c0) / 1e9}%.2f s" +
              f" gc ${(Bench.gcTimeMs - g0) / 1e3}%.2f s steal $steal%.2f s")
          }
        }

      case "jobs" =>
        val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int)]
        val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Int)]
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(js: SparkListenerJobStart): Unit = {
            val desc = Option(js.properties)
              .map(_.getProperty("spark.job.description", "")).getOrElse("")
            jobLog.add((js.jobId, desc.take(100), js.stageInfos.map(_.numTasks).sum))
          }
          override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
            stageLog.add((si.stageId, si.name.takeWhile(_ != '\n').take(80), wall, si.numTasks))
          }
        })
        for (name <- names) {
          runNoop(name, s"$name warm-up")
          GraftSession.scrub(spark)
          Thread.sleep(500) // let the listener bus drain
          jobLog.clear(); stageLog.clear()
          val wall = runNoop(name, name)
          Thread.sleep(500)
          import scala.jdk.CollectionConverters._
          val (jobs, stages) = (jobLog.asScala.toSeq, stageLog.asScala.toSeq)
          println(f"QUERY $name wall $wall%.2f s jobs ${jobs.size} stages ${stages.size}")
          jobs.sortBy { case (id, d, t) => (d, t, id) }.foreach { case (id, d, t) =>
            println(f"  job $id%4d tasks $t%3d  $d")
          }
          stages.sortBy { case (id, n, _, t) => (n, t, id) }.foreach { case (id, n, w, t) =>
            println(f"  stage $id%4d tasks $t%3d $w%6d ms  $n")
          }
        }

      case "exec" =>
        for (name <- names) {
          val df = query(name)
          val st = ExecAudit.executedStats(df)
          println(s"EXEC $name directScans=${st.directParquetScans} " +
            s"reusedExchange=${st.reusedExchanges} inMemoryScans=${st.inMemoryScans} " +
            s"distinctCaches=${st.distinctCaches}")
          out.foreach(d => write(d.resolve(s"exec_$name.txt"),
            df.queryExecution.explainString(FormattedMode)))
        }

      case "state" =>
        // runs started and, once terminated, the providers still loaded for
        // each: read after the session's StateStoreRelease has had its turn
        val started = new java.util.concurrent.atomic.AtomicInteger
        val ended = new java.util.concurrent.LinkedBlockingQueue[(java.util.UUID, Int)]
        spark.streams.addListener(new StreamingQueryListener {
          override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
            started.incrementAndGet()
          override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
            ended.add(e.runId -> StateStoreBridge.loaded(e.runId).size)
          override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
            val p = e.progress
            p.stateOperators.zipWithIndex.foreach { case (op, i) =>
              println(f"STATE batch=${p.batchId}%3d op$i=${op.operatorName}%-28s " +
                f"rowsTotal=${op.numRowsTotal}%10d updated=${op.numRowsUpdated}%10d " +
                f"memUsed=${op.memoryUsedBytes}%12d")
            }
          }
        })
        for (name <- names) {
          println(s"QUERY $name")
          println(f"DONE $name wall ${runNoop(name, name)}%.2f s")
          for (_ <- 1 to started.getAndSet(0))
            Option(ended.poll(60, java.util.concurrent.TimeUnit.SECONDS)) match {
              case Some((run, n)) => println(s"RELEASE $name run=$run loadedProviders=$n")
              case None => println(s"RELEASE $name no terminated event within 60 s")
            }
          GraftSession.scrub(spark)
        }

      case "plan" =>
        for (name <- names) {
          val plan = query(name).queryExecution.explainString(FormattedMode)
          out match {
            case Some(d) => write(d.resolve(s"${name}_${a.opts.getOrElse("tag", "plan")}.txt"), plan)
            case None => println(s"===== $name\n$plan")
          }
        }

      case "dump" =>
        val dir = out.getOrElse(throw new IllegalArgumentException(s"dump needs out=<dir>; $Usage"))
        for (name <- names) {
          query(name).coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
          println(s"WROTE ${dir.resolve(name)}")
        }

      case "scan" =>
        for (name <- names) {
          try {
            val scans = ScanAudit.fileScans(query(name))
            if (scans.size >= a.int("min", 2))
              println(s"SCANS $name n=${scans.size}\n  " + scans.mkString("\n  "))
          } catch { case e: Exception =>
            println(s"SCANS $name ERROR ${e.getClass.getSimpleName}")
          }
        }
    }
  }
}
