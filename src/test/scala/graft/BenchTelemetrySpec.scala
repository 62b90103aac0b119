package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the bench artifact's contention self-diagnosis — the logic that
  * decides whether a BENCH_r{N}.json measured the engine or the machine.
  * Three workload-independent signals (see `Bench` scaladoc); each is
  * exercised alone, because each catches a contention mode the others
  * are blind to.
  */
class BenchTelemetrySpec extends AnyFunSuite with Matchers {

  private val quietRatios = Seq.fill(73)(1.0)
  private val quietWalls = Seq.fill(73)(15.0)

  test("quiet run: no signal trips") {
    assert(!Bench.contentionVerdict(quietRatios, quietWalls, totalStealSec = 0.5,
      totalWallSec = 40.0))
  }

  test("signal 1: guest-OS descheduling trips on the spin RATIO") {
    // external same-host load parks the probe thread: wall grows,
    // thread-cpu does not, ratio >> 1
    val descheduled = Seq.fill(73)(2.4)
    assert(Bench.contentionVerdict(descheduled, quietWalls, 0.0, 40.0))
  }

  test("signal 2: host slowdown mid-run trips on absolute spin WALL vs the run's best") {
    // host steal / frequency throttling inflate thread-cpu WITH wall —
    // ratio stays 1.0 — but the fixed probe work visibly slows for the
    // affected stretch of the run
    val walls = Seq.fill(36)(15.0) ++ Seq.fill(37)(40.0) // median 40 > 1.5 * 15
    assert(Bench.contentionVerdict(quietRatios, walls, 0.0, 40.0))
  }

  test("signal 3: hypervisor steal counter trips when steal exceeds 10% of wall") {
    assert(Bench.contentionVerdict(quietRatios, quietWalls, totalStealSec = 8.4,
      totalWallSec = 63.8))
    // unavailable counter (-1) abstains rather than tripping
    assert(!Bench.contentionVerdict(quietRatios, quietWalls, totalStealSec = -1.0,
      totalWallSec = 63.8))
  }

  test("ratio abstention: unsupported thread-CPU accounting (-1 ratios) skips signal 1") {
    // without the guard, a -1 CPU counter collapses the delta to ~0 and the
    // ratio reads ~1e7 — every artifact would self-flag contended:true
    val abstained = Seq.fill(73)(-1.0)
    assert(!Bench.contentionVerdict(abstained, quietWalls, 0.0, 40.0))
    // a mix keeps signal 1 alive over the ratios that DID measure
    val mixed = Seq.fill(36)(-1.0) ++ Seq.fill(37)(2.4)
    assert(Bench.contentionVerdict(mixed, quietWalls, 0.0, 40.0))
  }

  // ---- per-query suspect verdict (the single-query complement: a
  // transient stall confined to one query leaves every run-scope median
  // quiet — r8 shipped d20 at 7.44 s vs 0.46 s clean under contended:false)

  test("suspect: quiet query is not suspect") {
    assert(!Bench.querySuspect(wallSec = 0.5, cpuSec = 4.0, spinMs = 15.0,
      queryStealSec = 0.0, runMinSpinMs = 15.0))
  }

  test("suspect signal 1: own spin probe slow vs run best") {
    assert(Bench.querySuspect(0.5, 4.0, spinMs = 30.0, 0.0, runMinSpinMs = 15.0))
  }

  test("suspect signal 2: steal during the query exceeds 10% of its wall; -1 abstains") {
    assert(Bench.querySuspect(2.0, 20.0, 15.0, queryStealSec = 0.5, 15.0))
    assert(!Bench.querySuspect(2.0, 20.0, 15.0, queryStealSec = -1.0, 15.0))
    // /proc/stat ticks in 10 ms jiffies: ONE jiffy landing during a 90 ms
    // query is counter granularity, not contention — the absolute floor
    // keeps tiny queries from flagging on it
    assert(!Bench.querySuspect(0.09, 0.16, 15.0, queryStealSec = 0.01, 15.0))
  }

  test("suspect signal 3: serialized-execution signature (cpu ~= wall on a long query)") {
    // the r8 d20 blip: 7.44 s wall with ~7 s cpu — effectively one core
    assert(Bench.querySuspect(wallSec = 7.44, cpuSec = 7.0, 15.0, 0.0, 15.0))
    // healthy parallel query: cpu >> wall
    assert(!Bench.querySuspect(7.44, 60.0, 15.0, 0.0, 15.0))
    // low-parallelism-BY-DESIGN query just above the band (d21's
    // zero-shuffle chain: cpu ~1.56x wall on a verified-quiet run) — must
    // not flag every round
    assert(!Bench.querySuspect(1.14, 1.77, 15.0, 0.0, 15.0))
    // trigger/IO-bound query: cpu << wall
    assert(!Bench.querySuspect(7.44, 2.0, 15.0, 0.0, 15.0))
    // sub-second wall never trips signal 3 (nothing meaningful to re-run)
    assert(!Bench.querySuspect(0.5, 0.5, 15.0, 0.0, 15.0))
  }

  test("signal 3's wall gate scales with the run's replication factor") {
    // a 5 s cpu~=wall row at 16x is legitimate sequential-phase growth
    // (23-37 such rows per 16x run were adjudicated honest in r13) —
    // the scaled gate stops the third measured pass there...
    assert(!Bench.querySuspect(5.0, 5.1, 15.0, 0.0, 15.0, lowParWallGate = 16.0))
    // ...while a row slow EVEN FOR THAT SCALE still flags
    assert(Bench.querySuspect(20.0, 20.5, 15.0, 0.0, 15.0, lowParWallGate = 16.0))
    // and the other two signals are gate-independent
    assert(Bench.querySuspect(0.5, 4.0, spinMs = 30.0, 0.0, 15.0, lowParWallGate = 16.0))
    assert(Bench.querySuspect(2.0, 20.0, 15.0, queryStealSec = 0.5, 15.0, lowParWallGate = 16.0))
  }

  test("replication factor parses from the gen_scale dir convention, else 1") {
    Bench.replicationOf("/tmp/scale/sf0.1x16") shouldBe 16
    Bench.replicationOf("/tmp/scale/sf0.1x4/") shouldBe 4
    Bench.replicationOf("/root/testdata/sf0.1") shouldBe 1
    Bench.replicationOf("/root/testdata/sf0.001") shouldBe 1
    Bench.replicationOf("weird") shouldBe 1
  }

  test("one artificially-stalled query flags itself while the run-scope flag stays false") {
    // 72 quiet queries + 1 stalled: the stall inflates that query's wall
    // (cpu ~= wall) and its probe, but every run-scope MEDIAN stays quiet
    val ratios = quietRatios
    val walls = Seq.fill(72)(15.0) :+ 40.0
    assert(!Bench.contentionVerdict(ratios, walls, totalStealSec = 0.2, totalWallSec = 40.0))
    assert(Bench.querySuspect(wallSec = 7.44, cpuSec = 7.2, spinMs = 40.0,
      queryStealSec = 0.1, runMinSpinMs = 15.0))
  }

  // ---- failure artifact (the r9 gap: a failed run's artifact carried
  // only truncated analyzer stack frames — no query name, no message)

  test("failure artifact: one JSON line naming the query and the ROOT exception") {
    val root = new IllegalStateException("col \"ts\" not found\n\tin schema")
    val wrapped = new RuntimeException(new RuntimeException(root))
    val json = Bench.failureJson("/data/sf0.1", "c2_filter", wrapped)
    json should include(""""query":"c2_filter"""")
    json should include(""""exception":"java.lang.IllegalStateException"""")
    // message survives with control chars escaped (the line must stay ONE
    // line or the driver's tail window can cut it mid-diagnosis)
    json should include("""col \"ts\" not found\n\tin schema""")
    json shouldNot include("\n")
    json should include(""""value":-1""")
  }

  test("failure artifact: null message and oversized message are bounded") {
    val json = Bench.failureJson("/d", "q", new RuntimeException(null: String))
    json should include(""""message":""""")
    val big = Bench.failureJson("/d", "q", new RuntimeException("x" * 10000))
    assert(big.length < 1500) // fits any sane tail window
  }

  test("spin-floor-normalized total: rescales to the reference floor, abstains on bad floor") {
    // a run whose quietest probe took 2x the reference floor measured a
    // globally-slow box: the normalized total halves the raw one
    Bench.spinNormTotal(60.0, Bench.ReferenceSpinFloorMs * 2) shouldBe 30.0 +- 1e-9
    // at the reference floor the rescale is the identity
    Bench.spinNormTotal(60.0, Bench.ReferenceSpinFloorMs) shouldBe 60.0 +- 1e-9
    // unusable floor (never produced by spinProbe, defensive) abstains
    Bench.spinNormTotal(60.0, 0.0) shouldBe -1.0
  }

  test("cpu reference parse: per-row cpuSec extracted from BASELINE_BENCH.json telemetry") {
    val json = """{"queries":{"d1_x":1.2},"telemetry":{"d1_x":{"cpuSec":4.5600,"gcSec":0.0100,
      |"spinMs":24.1,"suspect":false},"s9_stream_session":{"cpuSec":9.5400,"passes":2}}}"""
      .stripMargin.replace("\n", "")
    val ref = Bench.parseReferenceCpu(json)
    ref("d1_x") shouldBe 4.56 +- 1e-9
    ref("s9_stream_session") shouldBe 9.54 +- 1e-9
    // unreadable / empty input abstains with an empty map, never throws
    Bench.parseReferenceCpu("") shouldBe Map.empty
    Bench.parseReferenceCpu("not json at all") shouldBe Map.empty
  }

  test("row telemetry: jitSec and codegenCompiles parse next to the existing fields") {
    val m = Bench.Measure(sec = 1.5, cpuSec = 4.56, gcSec = 0.01, spin = Bench.Spin(1.02, 24.1),
      stealSec = 0.0, jitSec = 1.25, codegenCompiles = 7L)
    val json = """{"telemetry":{""" +
      Bench.telemetryRow("s2_x", m, passes = 2, suspect = false, extra = ""","coldSec":3.0000""") + "," +
      Bench.telemetryRow("d1_x", m.copy(jitSec = -1.0, codegenCompiles = 0L), 3, suspect = true, "") + "}}"
    Bench.parseRowField(json, "jitSec") shouldBe Map("s2_x" -> 1.25, "d1_x" -> -1.0)
    Bench.parseRowField(json, "codegenCompiles") shouldBe Map("s2_x" -> 7.0, "d1_x" -> 0.0)
    // the earlier fields read as before
    Bench.parseReferenceCpu(json) shouldBe Map("s2_x" -> 4.56, "d1_x" -> 4.56)
    Bench.parseRowField(json, "coldSec") shouldBe Map("s2_x" -> 3.0)
    Bench.parseRowField(json, "passes") shouldBe Map("s2_x" -> 2.0, "d1_x" -> 3.0)
  }

  test("cpu anomaly tripwire: >3x the committed prior-round CPU, replication-scaled") {
    // the r14 d26 case: 300 CPU-s against a ~10 CPU-s reference must trip
    assert(Bench.cpuAnomalous(Some(10.1), 300.0, replication = 1))
    // a healthy row well inside 3x must not
    assert(!Bench.cpuAnomalous(Some(10.1), 25.0, replication = 1))
    // a 16x far point burning 16x the CPU is legitimate, not anomalous
    assert(!Bench.cpuAnomalous(Some(10.0), 160.0, replication = 16))
    assert(Bench.cpuAnomalous(Some(10.0), 500.0, replication = 16))
    // abstains: no reference row, or a sub-0.1 s base (ratio is noise)
    assert(!Bench.cpuAnomalous(None, 300.0, replication = 1))
    assert(!Bench.cpuAnomalous(Some(0.05), 300.0, replication = 1))
  }

  test("cpu reference parse: the COMMITTED BASELINE_BENCH.json yields a full per-row map") {
    // pins the real file's format against the regex (a format drift in
    // make_baseline_bench.py would silently disarm the tripwire)
    val p = java.nio.file.Paths.get("BASELINE_BENCH.json")
    assume(java.nio.file.Files.exists(p))
    val ref = Bench.parseReferenceCpu(java.nio.file.Files.readString(p))
    assert(ref.size >= 100, s"expected a full per-row reference, got ${ref.size} rows")
    assert(ref.values.forall(_ >= 0.0))
    assert(ref.contains("d26_repetition") && ref.contains("s9_stream_session"))
  }

  test("steal parse: /proc/stat aggregate-cpu line, jiffies to seconds") {
    // cpu user nice system idle iowait irq softirq STEAL guest guest_nice
    Bench.parseStealSec("cpu  3378047 0 1916229 130463598 40238 0 31882 566726 0 0") shouldBe
      5667.26 +- 0.01
    Bench.parseStealSec("cpu 1 2 3 4 5 6 7 0 0 0") shouldBe 0.0
    // malformed / too-short / wrong-label lines abstain with -1
    Bench.parseStealSec("cpu0 1 2 3 4 5 6 7 8 9") shouldBe -1.0
    Bench.parseStealSec("cpu 1 2 3") shouldBe -1.0
  }
}
