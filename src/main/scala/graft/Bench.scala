package graft
import java.lang.management.ManagementFactory
import org.apache.spark.metrics.source.CodegenMetrics
import scala.jdk.CollectionConverters._

/** Benchmark main. Per-query timing methodology:
  *  - one warm-up pass over every query first (JIT + code cache + parquet
  *    footer caches), then one measured pass; since r16 the warm-up pass
  *    is itself timed per query and published as `coldSec` in the row
  *    telemetry (plus top-level `coldTotalSec`): the warm-up is the only
  *    pass that pays one-time session costs — model training
  *    (TrainedModelCache), the d70 plan materialization, the streaming
  *    shard layouts — so the artifact now carries those costs per row
  *    instead of only declaring them in `shapes`;
  *  - each measured run writes to the `noop` sink so the FULL plan executes
  *    (a bare `.count()` lets Catalyst prune every column/expression not
  *    needed for counting — it under-measures projection/window queries);
  *  - failures propagate: a broken query must fail the bench run loudly,
  *    not score ~0 s;
  *  - cross-query residue is scrubbed after every run
  *    (`GraftSession.scrub`): the ~39 streaming queries each load
  *    state-store providers keyed by their fresh-per-run checkpoint dir
  *    into `StateStore.loadedProviders` (s2 alone holds ~100k dedup keys
  *    per run; Spark evicts a stopped run's providers only at its next
  *    maintenance tick, and graft's `StateStoreRelease` listener frees them
  *    asynchronously, after the run's terminated event) and register a
  *    `graft_mem_*` memory-sink temp view whose rows
  *    `clearCache()` does not drop. Left in place, 195 query executions
  *    accumulate enough heap that GC pressure inflates allocation-heavy
  *    queries (d26/d27) 4-30x — the r6 bench artifact measured the harness,
  *    not the engine.
  *  - the artifact is SELF-DIAGNOSING: wall-clock alone cannot distinguish
  *    "the engine regressed" from "the machine was busy" (the r7 driver
  *    artifact recorded 2-20x inflated times purely from external load).
  *    Each measured run therefore also records its JVM GC-time delta,
  *    process-CPU-time delta and /proc/stat hypervisor-steal delta, plus
  *    a single-threaded spin probe run just before it (~15 ms of pure
  *    register arithmetic — workload-independent, unlike Spark's own
  *    utilization). Three contention modes, three signals: guest-OS
  *    descheduling inflates the probe's wall/cpu RATIO; host vCPU steal
  *    and frequency throttling inflate thread-cpu along with wall (ratio
  *    blind) but slow the probe's ABSOLUTE wallMs against the run's own
  *    minimum, and show up directly in the steal counter where the
  *    kernel exposes it. The JSON carries per-query telemetry and a
  *    top-level `contended` flag (any signal trips it) so an inflated
  *    artifact flags itself instead of silently reading as a regression.
  *  - the run-scope flag is median-based and therefore blind to a
  *    TRANSIENT stall confined to one query (the r8 artifact recorded one
  *    query 16x inflated under `contended: false`). Each query's best pass
  *    is therefore also judged individually (`querySuspect`): a suspect
  *    query gets a third measured pass, and any query whose best pass
  *    STILL looks contended is listed in `suspectQueries` and carries
  *    `"suspect": true` in its telemetry — per-number distrust, not
  *    whole-artifact distrust.
  *  - the contention signals are still blind to a burst that looks quiet
  *    from inside (the r14 artifact's d26 row: 16.3 s wall / 300 CPU-s
  *    under `contended: false`, re-measured at 1.1 s / 10 CPU-s). Since
  *    r15 the committed `BASELINE_BENCH.json` gives every row a
  *    prior-round CPU reference: a best pass burning >3x its reference
  *    (replication-scaled) forces the extra measured pass even with all
  *    contention signals quiet, samples the all-core floor ADJACENT to
  *    the re-measure (`floorNearMs` in the row), and a row still >3x
  *    after that is listed in `cpuAnomalies` with its `cpuRefRatio` —
  *    the artifact carries the anomaly evidence inline instead of
  *    waiting for a judge re-measurement to disprove it.
  *  - each row also carries its best pass's warm-up terms: `jitSec`, the
  *    JIT compiler's time over the pass (`CompilationMXBean`, -1 where the
  *    JVM does not report it), and `codegenCompiles`, the number of
  *    classes Spark's whole-stage and expression codegen compiled
  *    (`CodegenMetrics`); a measured pass that still compiles shows it in
  *    the row instead of only in its wall and CPU.
  */
object Bench {

  /** Fixed single-threaded busy loop (~10-20 ms of pure register
    * arithmetic). Two readings, catching two distinct contention modes:
    *
    *  - `ratio` (wall/thread-cpu): on an uncontended machine a spinning
    *    thread is never descheduled, so ~1.0; under GUEST-visible CPU
    *    pressure the OS parks the thread and wall grows while thread-CPU
    *    does not.
    *  - `wallMs` (absolute time for the fixed work): host-level vCPU
    *    steal and frequency throttling inflate wall AND thread-cpu
    *    together — the ratio stays ~1.0 and is blind to them — but the
    *    fixed work takes visibly longer. Comparing each query's wallMs
    *    against the run's own minimum exposes intermittent slowdown
    *    without any machine-specific calibration constant.
    */
  private[graft] final case class Spin(ratio: Double, wallMs: Double)

  private def spinProbe(): Spin = {
    val tmx = ManagementFactory.getThreadMXBean
    // Thread-CPU accounting may be unsupported/disabled (the counter then
    // reads -1 and the delta collapses to ~0, which max(cpu,1) would turn
    // into a ~1e7 ratio that trips the contention flag on every run). The
    // ratio abstains with -1 in that case, like stealSec; wallMs still works.
    val cpuOk = tmx.isCurrentThreadCpuTimeSupported && tmx.isThreadCpuTimeEnabled
    val w0 = System.nanoTime(); val c0 = if (cpuOk) tmx.getCurrentThreadCpuTime else -1L
    var x = 0x9E3779B97F4A7C15L; var i = 0
    while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    val wall = System.nanoTime() - w0
    val cpu = if (cpuOk) tmx.getCurrentThreadCpuTime - c0 else -1L
    if (x == 42L) System.err.println("") // defeat dead-code elimination
    val ratio = if (cpuOk && cpu > 0) wall.toDouble / cpu.toDouble else -1.0
    Spin(ratio, wall / 1e6)
  }

  /** Cumulative hypervisor steal seconds from /proc/stat (field 8) — the
    * host descheduling our vCPUs, which neither the spin ratio nor any
    * JVM counter can see. -1 when unavailable (non-Linux, no paravirt
    * steal accounting).
    */
  private[graft] def stealSec(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try parseStealSec(src.getLines().next()) finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Parse the aggregate-cpu line of /proc/stat to steal seconds.
    * Fields: cpu user nice system idle iowait irq softirq STEAL ...
    */
  private[graft] def parseStealSec(cpuLine: String): Double = {
    val f = cpuLine.trim.split("\\s+")
    if (f.length > 8 && f(0) == "cpu") f(8).toDouble / userHz else -1.0
  }

  private val userHz = 100.0 // USER_HZ: jiffies per second, 100 on Linux

  /** Reference spin floor for the normalized total: the ~15 ms the fixed
    * probe work took on this machine class in verified-quiet r8/r9 runs.
    * The within-run suspect flags compare against the RUN's own minimum
    * and so cannot see a GLOBAL slowdown (r10's box ran every probe at
    * ~25 ms — 1.6x — with every within-run signal quiet); `spinNormTotal`
    * = total x (reference / run-min-spin) rescales the headline total to
    * reference-floor seconds so cross-round deltas self-correct. It is
    * ADVISORY (the raw total stays the metric): the rescale assumes the
    * slowdown hits spin-bound and Spark-bound work equally.
    */
  private[graft] val ReferenceSpinFloorMs = 15.0

  /** Reference ALL-CORE spin floor: the wall time for every core to run
    * the fixed probe work CONCURRENTLY on a verified-quiet r14 box
    * (32 cores). The single-core floor alone is box-confounded for
    * cross-round normalization: the r13 second-session box was FASTER
    * single-core (25 vs 28 ms) but ~6% slower under full parallel load,
    * so the single-core-normalized total read +9% while raw per-query
    * cost fell 4%. A Spark suite at local[32] is all-core-bound, so the
    * headline normalization divides by THIS floor; the single-core floor
    * stays published for continuity and for the per-query suspect
    * signal.
    */
  private[graft] val ReferenceAllCoreSpinFloorMs = 30.0

  /** total seconds rescaled to a reference floor; -1 when the run floor
    * is unusable. Used with the single-core floor (legacy continuity)
    * and the all-core floor (the headline `spinNormTotal` since r14 —
    * see [[ReferenceAllCoreSpinFloorMs]]).
    */
  private[graft] def spinNormTotal(totalSec: Double, runMinSpinMs: Double,
      referenceMs: Double = ReferenceSpinFloorMs): Double =
    if (runMinSpinMs > 0) totalSec * (referenceMs / runMinSpinMs) else -1.0

  /** One all-core calibration sample: every core spins the fixed probe
    * work concurrently; the reading is the wall time from common start
    * to the LAST thread's finish — i.e. the machine's quiet-state
    * all-core throughput on pure register arithmetic, the floor the
    * suite's own all-core-bound walls scale with. ~1.5-2x the
    * single-core floor on a healthy box (SMT + all-core frequency);
    * much higher under external load. Sampled a few times per RUN
    * (run-scope normalization needs no per-query sample, and 32 spinning
    * threads would perturb a co-running query).
    */
  private[graft] def allCoreSpinProbe(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val ready = new java.util.concurrent.CountDownLatch(n)
    val go = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until n).map { _ =>
      val t = new Thread(() => {
        ready.countDown()
        go.await()
        var x = 0x9E3779B97F4A7C15L; var i = 0
        while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        if (x == 42L) System.err.println("") // defeat dead-code elimination
      })
      t.setDaemon(true); t.start(); t
    }
    ready.await()
    val t0 = System.nanoTime()
    go.countDown()
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** The three-signal contention verdict (see class doc): any of
    *  (1) median spin RATIO > 1.5 (guest-OS descheduling; -1 = thread-CPU
    *      accounting unavailable, that probe abstains — all abstained means
    *      the signal is skipped entirely),
    *  (2) median spin WALL > 1.5x the run's own best (the fixed probe
    *      work itself ran slow — host steal / frequency throttling),
    *  (3) steal > 10% of measured wall (direct hypervisor counter;
    *      -1 = counter unavailable, signal abstains)
    * means the wall numbers measured the machine, not the engine.
    *
    * This is a RUN-scope verdict: its medians catch sustained load but are
    * blind to a transient stall confined to one query's passes (the r8
    * artifact carried a 16x-off single number under contended:false).
    * [[querySuspect]] is the per-query complement.
    */
  private[graft] def contentionVerdict(spinRatios: Seq[Double], spinWallsMs: Seq[Double],
      totalStealSec: Double, totalWallSec: Double): Boolean = {
    val ratios = spinRatios.filter(_ >= 0).sorted
    val walls = spinWallsMs.sorted
    (ratios.nonEmpty && ratios(ratios.size / 2) > 1.5) ||
      walls(walls.size / 2) > 1.5 * walls.head ||
      (totalStealSec >= 0 && totalStealSec > 0.1 * totalWallSec)
  }

  /** Per-query contention suspicion — the single-query complement of
    * [[contentionVerdict]]'s run-scope medians. A measurement is suspect
    * when any of:
    *  (1) its own spin probe ran > 1.5x the run's best probe (the fixed
    *      probe work was slow RIGHT BEFORE this query — transient host
    *      steal / throttling the run median absorbs);
    *  (2) hypervisor steal during the query exceeded 10% of its wall AND
    *      at least 50 ms absolute (-1 abstains; the absolute floor
    *      matters because /proc/stat ticks in 10 ms jiffies — a single
    *      jiffy landing during a 90 ms query is counter granularity,
    *      not contention, and flagged every tiny query without it);
    *  (3) the serialized-execution signature: process CPU ~= wall on a
    *      query that walls > 1 s. A healthy multi-second query at
    *      local[32] burns CPU on many cores (cpu >> wall); an IO- or
    *      trigger-bound one burns less than its wall (cpu < 0.8x wall);
    *      cpu within [0.8x, 1.4x] of a long wall means the JVM was
    *      effectively pinned to ~1 core by external load — exactly the
    *      r8 d20 blip (7.44 s wall with cpu ~= 0.97x of it, vs 0.46 s
    *      clean). The upper bound is 1.4, not higher: genuinely
    *      low-parallelism-by-design queries sit just above it (d21's
    *      zero-shuffle literal-centroid chain measures cpu ~1.56x wall
    *      on a verified-quiet run) and must not flag every round.
    *      The wall gate SCALES WITH THE RUN'S REPLICATION FACTOR
    *      (`lowParWallGate`, 1 s at the driver's sf0.1): a heavy row's
    *      legitimate sequential phases (driver folds, stateful-stream
    *      commits) grow with data, so the fixed 1 s gate flagged 23-37
    *      rows per 16x run — every one adjudicated as the designed
    *      signal firing on honest sequential work, each costing a
    *      third measured pass. Scaled, far-point runs re-measure only
    *      rows that are slow EVEN FOR THAT SCALE; 1x behavior is
    *      unchanged.
    * Suspects are re-measured, not discarded: a third pass either confirms
    * the number or replaces it with the quiet one.
    */
  private[graft] def querySuspect(wallSec: Double, cpuSec: Double, spinMs: Double,
      queryStealSec: Double, runMinSpinMs: Double,
      lowParWallGate: Double = 1.0): Boolean =
    spinMs > 1.5 * runMinSpinMs ||
      (queryStealSec >= 0.05 && queryStealSec > 0.1 * wallSec) ||
      (wallSec > lowParWallGate && cpuSec >= 0.8 * wallSec && cpuSec <= 1.4 * wallSec)

  /** Per-row CPU reference (seconds) from the committed
    * `BASELINE_BENCH.json`, used as the d26-anomaly tripwire: the r14
    * artifact carried one row at 300 CPU-s that re-measured at 10 CPU-s —
    * min-of-2 cannot survive a throttle/JIT burst spanning both passes,
    * but a row whose best-pass CPU is >3× its prior-round cost is
    * near-certainly measuring the machine, and gets a forced extra pass
    * plus an adjacent all-core floor sample so the burst is labeled IN
    * THE ROW. Parsing is a regex over our own generated format (no JSON
    * lib on the classpath); a missing/unreadable file degrades to an
    * empty map — the cross-check simply abstains (first-run bootstrap).
    * CPU, not wall, is the tripwire: wall varies with parallelism and
    * contention mode, while a query's CPU cost is stable across quiet
    * runs (the r14 adjudication's own signal).
    */
  private[graft] def parseReferenceCpu(json: String): Map[String, Double] = parseRowField(json, "cpuSec")

  /** The numeric `field` of every `"name":{...}` row in `json`. */
  private[graft] def parseRowField(json: String, field: String): Map[String, Double] = {
    val row = (""""([A-Za-z0-9_]+)"\s*:\s*\{[^{}]*?"""" + java.util.regex.Pattern.quote(field) +
      """"\s*:\s*([0-9.Ee+-]+)""").r
    row.findAllMatchIn(json).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  private def loadReferenceCpu(): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get("BASELINE_BENCH.json")
      if (java.nio.file.Files.exists(p))
        parseReferenceCpu(java.nio.file.Files.readString(p))
      else Map.empty
    } catch { case _: Throwable => Map.empty }

  /** CPU anomaly vs the committed reference: >3× the prior-round cost
    * (scaled by the run's replication factor — a 16× far point burns
    * ~16× the CPU legitimately). Abstains when the row has no reference
    * or the reference is sub-0.1 s (ratio on a tiny base is noise).
    */
  private[graft] def cpuAnomalous(refCpu: Option[Double], cpuSec: Double,
      replication: Int): Boolean =
    refCpu.exists(r => r >= 0.1 && cpuSec > 3.0 * r * replication)

  /** The replication factor encoded in a scaled timing dir's name
    * (`tools/gen_scale.py` convention: `<sf>x<N>`, e.g.
    * `/tmp/scale/sf0.1x16` -> 16); 1 for the driver's plain SF dirs.
    * Feeds only the low-parallelism wall gate above — a wrong parse
    * degrades to extra re-measure passes, never to a wrong measurement.
    */
  private[graft] def replicationOf(sfDir: String): Int = {
    val m = java.util.regex.Pattern.compile("x(\\d+)/*$").matcher(sfDir)
    if (m.find()) m.group(1).toInt.max(1) else 1
  }

  private[graft] def gcTimeMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private[graft] def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** The JIT compiler's accumulated time in ms, or -1 if not reported. */
  private[graft] def jitTimeMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else -1L
  }

  /** Classes compiled by Spark's codegen in this JVM so far. */
  private[graft] def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One measured run's telemetry: wall seconds plus the diagnostics that
    * tell a reader WHY the wall time is what it is.
    */
  private[graft] final case class Measure(sec: Double, cpuSec: Double, gcSec: Double,
      spin: Spin, stealSec: Double, jitSec: Double, codegenCompiles: Long)

  private def f(v: Double): String = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  /** One row of the artifact's `telemetry` object; `extra` is the row's
    * optional fields, each starting with a comma.
    */
  private[graft] def telemetryRow(name: String, m: Measure, passes: Int, suspect: Boolean,
      extra: String): String =
    s"\"$name\":{\"cpuSec\":${f(m.cpuSec)},\"gcSec\":${f(m.gcSec)}" +
      s",\"spinWallToCpu\":${f(m.spin.ratio)},\"spinMs\":${f(m.spin.wallMs)}" +
      s",\"stealSec\":${f(m.stealSec)},\"jitSec\":${f(m.jitSec)},\"codegenCompiles\":${m.codegenCompiles}" +
      s",\"passes\":$passes,\"suspect\":$suspect$extra}"

  /** A query failure tagged with the query's name so the failure artifact
    * can say WHICH query broke (the r9 driver artifact could not: the raw
    * analyzer stack blew past the driver's tail-capture window and the
    * root message was lost).
    */
  private final class QueryFailed(val query: String, cause: Throwable)
    extends RuntimeException(cause)

  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The failure artifact's one JSON line: query name + ROOT exception
    * class + message (cause chain unwound, message bounded so the line
    * always fits a tail window).
    */
  private[graft] def failureJson(sfDir: String, query: String, e: Throwable): String = {
    var root: Throwable = e
    while (root.getCause != null && root.getCause != root) root = root.getCause
    val msg = Option(root.getMessage).getOrElse("").take(600)
    s"""{"metric":"total","value":-1,"unit":"sec","sf":"${jsonEscape(sfDir)}"""" +
      s""","error":{"query":"${jsonEscape(query)}"""" +
      s""","exception":"${jsonEscape(root.getClass.getName)}"""" +
      s""","message":"${jsonEscape(msg)}"}}"""
  }

  /** A broken query must still fail the bench loudly (rc != 0 — a failed
    * round must never parse as a clean measurement), but the artifact has
    * to be SELF-DIAGNOSING: one concise JSON line naming the failing query
    * and the ROOT exception message, printed LAST so it survives the
    * driver's bounded tail capture, and persisted to bench_last.json. The
    * raw rethrow it replaces dumped a 40-frame analyzer stack whose tail
    * contained no query name and no message.
    */
  private def emitFailureAndExit(lastJson: java.nio.file.Path, sfDir: String,
      qf: QueryFailed): Nothing = {
    val json = failureJson(sfDir, qf.query, qf.getCause)
    java.nio.file.Files.createDirectories(lastJson.getParent)
    java.nio.file.Files.write(lastJson, json.getBytes("UTF-8"))
    System.err.println(s"[bench] FAILED query=${qf.query}")
    println(json) // last stdout line -> inside any tail window
    sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    // clear any previous run's persisted result FIRST — before anything
    // that can fail (including SparkSession construction): a failed run
    // must not leave a stale bench_last.json behind to be read as THIS
    // run's measurement (failures fail loudly, per the scaladoc)
    val lastJson = java.nio.file.Paths.get("target", "bench_last.json")
    java.nio.file.Files.deleteIfExists(lastJson)

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the deployment's canonical local[32] unless SPARK_GRAFT_CPUS says
    // otherwise (GraftSession.builder). A local[4] run at sf0.1 walls ~35%
    // higher than local[32], so the JSON records which parallelism ran.
    val spark = GraftSession.builder().getOrCreate()
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String): Unit =
      try {
        // label every job with its query so the UI / listener audits
        // (`Probe jobs`, event logs) attribute stages without guessing
        spark.sparkContext.setJobDescription(s"bench: $name")
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable => throw new QueryFailed(name, e)
      } finally spark.sparkContext.setJobDescription(null)

    val names = SparkEntry.queries.keys.toSeq.sorted
    val lowParWallGate = 1.0 * replicationOf(sfDir)
    // all-core floor samples (run-scope; see allCoreSpinProbe) — taken
    // between queries, never concurrently with one
    val allCoreSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    try {
    // The warm-up pass is TIMED per query (r15 verdict item 2): it is the
    // only pass that pays one-time session costs the measured passes then
    // skip — model training (TrainedModelCache), the d70 plan
    // materialization, the streaming shard layouts, JIT — so its per-row
    // wall lands in the artifact as `coldSec` next to the steady-state
    // `sec`. `sec` stays the metric (min of scrubbed measured passes,
    // unchanged methodology); coldSec makes the amortized costs visible
    // instead of declared-only (`shapes`). coldSec is wall on a cold JVM
    // with JIT noise — an upper bound on first-run cost, not a tuned
    // measurement.
    val coldSec = scala.collection.mutable.Map.empty[String, Double]
    names.foreach { n =>
      val t0 = System.nanoTime()
      runOnce(n)
      coldSec(n) = (System.nanoTime() - t0) / 1e9
      GraftSession.scrub(spark)
    } // warm-up
    allCoreSamples += allCoreSpinProbe()
    allCoreSamples += allCoreSpinProbe()
    // min of 2 measured passes: suppresses one-off GC/IO noise without
    // hiding real cost (each pass still executes the full plan).
    // Cache is cleared OUTSIDE the timed window: queries persist only
    // within their own execution (iterative ops like d25's connected
    // components), so leftover blocks are pure cross-query memory
    // pressure that skews later timings, never a warm-start benefit.
    def timed(name: String): Measure = {
      // best of two probe samples: the probe runs right after the
      // previous query's scrub, so a GC pause or scheduler hiccup can
      // land on a single ~15 ms sample and inflate that query's spin
      // reading; a transient cannot hit both samples, while genuine
      // sustained contention inflates both — the min keeps the
      // heuristic's sensitivity to the real signals. (This hardens the
      // spinMs signal only: measured at 16x, the bulk of that scale's
      // 23-25 suspect rows come from querySuspect's deliberate
      // LOW-PARALLELISM signal — heavy rows with cpu ~ wall from
      // sequential driver phases and stateful-stream commits — which
      // is the designed re-measure trigger, not probe noise.)
      val s1 = spinProbe(); val s2 = spinProbe()
      val spin = Spin(
        if (s1.ratio < 0 || s2.ratio < 0) math.max(s1.ratio, s2.ratio)
        else math.min(s1.ratio, s2.ratio),
        math.min(s1.wallMs, s2.wallMs))
      val gc0 = gcTimeMs; val cpu0 = processCpuNs; val st0 = stealSec()
      val jit0 = jitTimeMs; val cg0 = codegenCompiles
      val t0 = System.nanoTime()
      runOnce(name)
      val dt = (System.nanoTime() - t0) / 1e9
      val st1 = stealSec()
      val steal = if (st0 >= 0 && st1 >= 0) st1 - st0 else -1.0
      val jit = if (jit0 >= 0) (jitTimeMs - jit0) / 1e3 else -1.0
      val m = Measure(dt, (processCpuNs - cpu0) / 1e9, (gcTimeMs - gc0) / 1e3, spin, steal,
        jit, codegenCompiles - cg0)
      GraftSession.scrub(spark)
      m
    }
    val sampleEvery = math.max(1, names.size / 4)
    val firstPasses: Seq[(String, Vector[Measure])] =
      names.zipWithIndex.map { case (name, i) =>
        if (i > 0 && i % sampleEvery == 0) allCoreSamples += allCoreSpinProbe()
        name -> Vector(timed(name), timed(name))
      }
    // Per-query suspect pass (see querySuspect): the run-scope contended
    // flag's medians can't see a transient stall confined to one query, so
    // any query whose BEST pass still looks contended gets a third measured
    // pass — the min then either confirms the number or replaces it.
    // Since r15 the committed BASELINE_BENCH.json adds a second tripwire
    // (cpuAnomalous): best-pass CPU >3x the row's prior-round cost forces
    // the same extra pass even when every contention signal is quiet (the
    // r14 d26 row: 300 CPU-s under contended:false, 10 CPU-s clean).
    // Retried rows also sample the ALL-CORE floor right next to the
    // re-measure (floorNear), so a burst is labeled in the row itself
    // instead of being averaged into the run-scope samples.
    val referenceCpu = loadReferenceCpu()
    val replication = replicationOf(sfDir)
    val runMinSpinMs0 = firstPasses.flatMap(_._2.map(_.spin.wallMs)).min
    val floorNear = scala.collection.mutable.Map.empty[String, Double]
    val withRetries: Seq[(String, Vector[Measure], Int)] = firstPasses.map {
      case (name, ms) =>
        val best = ms.minBy(_.sec)
        val contentionSuspect = querySuspect(best.sec, best.cpuSec, best.spin.wallMs,
          best.stealSec, runMinSpinMs0, lowParWallGate)
        val cpuSuspect = cpuAnomalous(referenceCpu.get(name), best.cpuSec, replication)
        if (contentionSuspect || cpuSuspect) {
          System.err.println(s"[bench] query $name suspect " +
            s"(wall=${best.sec}s cpu=${best.cpuSec}s cpuRef=${referenceCpu.get(name)}) — re-measuring")
          val f = allCoreSpinProbe()
          floorNear(name) = f
          allCoreSamples += f
          (name, ms :+ timed(name), 3)
        } else (name, ms, 2)
    }
    allCoreSamples += allCoreSpinProbe()
    allCoreSamples += allCoreSpinProbe()
    val minAllCoreMs = allCoreSamples.min
    // run-min over EVERY pass (including retries) so the final per-query
    // suspect flag in the artifact is judged against the quietest probe seen
    val runMinSpinMs = withRetries.flatMap(_._2.map(_.spin.wallMs)).min
    val results: Seq[(String, Measure, Int, Boolean)] = withRetries.map {
      case (name, ms, passes) =>
        val best = ms.minBy(_.sec)
        val stillSuspect = querySuspect(best.sec, best.cpuSec, best.spin.wallMs,
          best.stealSec, runMinSpinMs, lowParWallGate) ||
          cpuAnomalous(referenceCpu.get(name), best.cpuSec, replication)
        (name, best, passes, stillSuspect)
    }
    val qs = results.map { case (k, m, _, _) => s"\"" + k + "\":" + f(m.sec) }
      .mkString("{", ",", "}")
    val telemetry = results.map { case (k, m, passes, suspect) =>
      // cpuRef/cpuRefRatio: the committed prior-round CPU and this row's
      // ratio against it (replication-scaled) — the artifact then carries
      // the anomaly evidence inline; floorNearMs labels what the all-core
      // floor read right before a retried row's extra pass.
      val ref = referenceCpu.get(k).map(r =>
        s",\"cpuRef\":${f(r)},\"cpuRefRatio\":${f(m.cpuSec / (r.max(0.001) * replication))}")
        .getOrElse("")
      val near = floorNear.get(k).map(v => s",\"floorNearMs\":${f(v)}").getOrElse("")
      val cold = coldSec.get(k).map(v => s",\"coldSec\":${f(v)}").getOrElse("")
      telemetryRow(k, m, passes, suspect, ref + near + cold)
    }.mkString("{", ",", "}")
    val total = results.map(_._2.sec).sum
    val spins = results.map(_._2.spin.ratio).filter(_ >= 0).sorted
    val medianSpin = if (spins.nonEmpty) spins(spins.size / 2) else -1.0
    val maxSpin = if (spins.nonEmpty) spins.last else -1.0
    val spinWalls = results.map(_._2.spin.wallMs).sorted
    val (minSpinMs, medianSpinMs) = (spinWalls.head, spinWalls(spinWalls.size / 2))
    val totalSteal = { val s = results.map(_._2.stealSec).filter(_ >= 0); if (s.isEmpty) -1.0 else s.sum }
    val contended = contentionVerdict(results.map(_._2.spin.ratio),
      results.map(_._2.spin.wallMs), totalSteal, total)
    val suspectNames = results.collect { case (k, _, _, true) => "\"" + k + "\"" }
    // rows whose best pass is STILL >3x the committed prior-round CPU
    // after the forced re-measure — the artifact's own "do not trust this
    // number without the floor annotation" list
    val cpuAnomalyNames = results.collect {
      case (k, m, _, _) if cpuAnomalous(referenceCpu.get(k), m.cpuSec, replication) =>
        "\"" + k + "\""
    }
    // record the SESSION parallelism, not just machine cores: wall times
    // from a local[4] run read as a ~40% regression against a local[32]
    // baseline unless the artifact says which config it measured
    val cores = Runtime.getRuntime.availableProcessors()
    val totalCpu = results.map(_._2.cpuSec).sum
    val totalGc = results.map(_._2.gcSec).sum
    val coldTotal = coldSec.values.sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"""" +
        s""","coldTotalSec":${f(coldTotal)}""" +
        s""","parallelism":$cpus,"contended":$contended""" +
        s""","suspectQueries":${suspectNames.mkString("[", ",", "]")}""" +
        s""","cpuAnomalies":${cpuAnomalyNames.mkString("[", ",", "]")}""" +
        s""","cpuRefRows":${referenceCpu.size}""" +
        s""","contention":{"medianSpinWallToCpu":${f(medianSpin)}""" +
        s""","maxSpinWallToCpu":${f(maxSpin)},"minSpinMs":${f(minSpinMs)}""" +
        s""","medianSpinMs":${f(medianSpinMs)},"maxSpinMs":${f(spinWalls.last)}""" +
        s""","minAllCoreSpinMs":${f(minAllCoreMs)}""" +
        s""","spinNormTotal":${f(spinNormTotal(total, minAllCoreMs, ReferenceAllCoreSpinFloorMs))}""" +
        s""","spinNormTotalSingleCore":${f(spinNormTotal(total, minSpinMs))}""" +
        s""","lowParWallGate":${f(lowParWallGate)}""" +
        s""","stealSec":${f(totalSteal)},"cores":$cores,"procCpuSec":${f(totalCpu)}""" +
        s""","gcSec":${f(totalGc)}},"telemetry":$telemetry}"""
    println(json)
    // Also persist to a file: the driver tails stdout and noisy stderr can
    // push the metric line out of its window (r6's artifact had parsed:null).
    java.nio.file.Files.createDirectories(lastJson.getParent)
    java.nio.file.Files.write(lastJson, json.getBytes("UTF-8"))
    // The driver captures only a bounded TAIL of stdout, and the full line
    // above (128 queries x telemetry) far exceeds it — r10/r11 both shipped
    // `parsed: null` bench artifacts because the tail held a truncated
    // fragment of the full line. A compact totals-only summary printed LAST
    // always fits the window; per-query detail lives in the full line above
    // and in target/bench_last.json. `queries` carries the 5 slowest so the
    // tail alone still names where the time went.
    val slowest = results.sortBy(-_._2.sec).take(5)
      .map { case (k, m, _, _) => s"\"" + k + "\":" + f(m.sec) }
      .mkString("{", ",", "}")
    // `shapes` records measurement-shape choices cross-round comparisons
    // must not conflate (r12 ADVICE): s19 streams a constant arrival
    // slice against the growing index since r12 — earlier rounds
    // streamed ALL arrivals (a different, by-construction-quadratic row)
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir"""" +
        s""","n":${results.size},"parallelism":$cpus,"contended":$contended""" +
        s""","suspectCount":${suspectNames.size},"cpuAnomalyCount":${cpuAnomalyNames.size}""" +
        s""","cpuRefRows":${referenceCpu.size},"minSpinMs":${f(minSpinMs)}""" +
        s""","minAllCoreSpinMs":${f(minAllCoreMs)}""" +
        s""","spinNormTotal":${f(spinNormTotal(total, minAllCoreMs, ReferenceAllCoreSpinFloorMs))}""" +
        s""","spinNormTotalSingleCore":${f(spinNormTotal(total, minSpinMs))}""" +
        s""","coldTotalSec":${f(coldTotal)}""" +
        s""","shapes":{"s19":"querySlice=vec_id<${graft.streaming.StreamingQueries.AnnQuerySlice}"""" +
        s""","d70":"reads the materialized d50 plan artifact (snapshot-keyed, written once per corpus); its full first-run cost is the row's coldSec"}""" +
        s""","queries":$slowest,"full":"target/bench_last.json"}"""
    println(summary)
    // Three more channels for the driver's parser, which still read
    // `parsed: null` off r12's sbt-prefixed stdout tail: a fixed sidecar
    // file, and the same compact line UNPREFIXED on stderr (sbt decorates
    // stdout lines with [info], stderr passes through).
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target", "bench_summary.json"),
      summary.getBytes("UTF-8"))
    System.err.println(summary)
    } catch { case qf: QueryFailed => emitFailureAndExit(lastJson, sfDir, qf) }
    spark.stop()
  }
}
