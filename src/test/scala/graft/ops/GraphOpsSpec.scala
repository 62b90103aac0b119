package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class GraphOpsSpec extends AnyFunSuite with SparkSpec with Matchers {

  /** Distributed-path components (localCap = 0 sends every non-empty
    * graph to the star loop): the correctness pins below run against
    * THIS, because the public default finishes every test-sized graph on
    * the driver — the local ≡ distributed pins close the loop.
    */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.connectedComponentsBounded(edges.toDF("a", "b"), 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Public-default components — the bounded local finisher. */
  private def ccLocal(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def route: String = GraphOps.lastRoute.get()._1

  /** Deterministic LCG edge set over `n` ids starting at `base`: mid-size
    * components with nontrivial structure, no fixture or RNG dependence.
    */
  private def lcgEdges(seed: Long, m: Int, n: Long, base: Long = 0L): Seq[(Long, Long)] = {
    var x = seed
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) >>> 1; x }
    (1 to m).map(_ => (base + next() % n, base + next() % n))
      .filter { case (a, b) => a != b }
  }

  test("a 6-node chain needs multiple propagation rounds and still labels everyone with the min") {
    // diameter 5: strictly more star rounds than a star-shaped graph
    val labels = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)))
    labels shouldBe (1L to 6L).map(_ -> 1L).toMap
    route shouldBe "distributed"
  }

  test("disjoint components keep distinct minimum labels; cycles terminate") {
    val labels = cc(Seq(
      (10L, 11L), (11L, 12L), (12L, 10L), // triangle (cycle)
      (7L, 20L),                          // pair bridging id ranges
      (30L, 31L)))
    labels shouldBe Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      7L -> 7L, 20L -> 7L,
      30L -> 30L, 31L -> 30L)
    // a 300-node cycle: diameter 150, O(log n) star rounds
    val cycle = (0L until 300L).map(i => (i, (i + 1) % 300L))
    cc(cycle) shouldBe (0L until 300L).map(_ -> 0L).toMap
  }

  test("duplicate and reversed edges do not change the fixpoint") {
    val labels = cc(Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (2L, 3L)))
    labels shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
  }

  test("empty edge list yields an empty labeling") {
    // zero canonical edges fit any cap, so both calls finish at entry
    cc(Seq.empty) shouldBe Map.empty
    ccLocal(Seq.empty) shouldBe Map.empty
  }

  test("large-star/small-star agrees with propagation on a long chain (its worst case)") {
    // the comparison side is the driver union-find: a 300-node chain,
    // diameter 299, against O(log n) star rounds
    val chain = (1L until 300L).map(i => (i, i + 1))
    cc(chain) shouldBe (1L to 300L).map(_ -> 1L).toMap
    ccLocal(chain) shouldBe cc(chain)
  }

  test("large-star/small-star agrees with propagation on cycles, bridges and duplicates") {
    val edges = Seq(
      (10L, 11L), (11L, 12L), (12L, 10L), // triangle
      (7L, 20L), (20L, 7L), (7L, 20L),    // duplicated + reversed pair
      (30L, 31L), (31L, 32L), (32L, 33L), // path
      (0L, 40L))                          // min-id zero endpoint
    cc(edges) shouldBe ccLocal(edges)
  }

  test("self-loop-only nodes keep a row in every implementation") {
    val edges = Seq((5L, 5L), (1L, 2L))
    val expected = Map(5L -> 5L, 1L -> 1L, 2L -> 1L)
    cc(edges) shouldBe expected
    ccLocal(edges) shouldBe expected
  }

  test("large-star/small-star agrees with propagation on a pseudo-random graph") {
    val edges = lcgEdges(12345L, 120, 60L)
    cc(edges) shouldBe ccLocal(edges)
  }

  test("star contraction on the empty graph is empty") {
    // self-loops alone leave the star loop an EMPTY canonical edge set:
    // no round runs, and every node labels itself through the closing join
    cc(Seq((4L, 4L), (9L, 9L))) shouldBe Map(4L -> 4L, 9L -> 9L)
    route shouldBe "distributed"
  }

  test("star contraction accepts non-Long numeric id columns (Int ids)") {
    // the pre-pass reads min(src) through a decimal cast — a raw getLong
    // there is a ClassCastException on Int-typed edge lists
    import spark.implicits._
    val rows = GraphOps.connectedComponentsBounded(
        Seq((1, 2), (2, 3), (5, 6)).toDF("x", "y"), 0L)
      .collect()
    rows.head.get(0) shouldBe a[Integer] // the input type, not widened
    rows.map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
  }

  test("negative ids: the star loop and the local finish give the same labels") {
    // the star potential is shifted by the graph minimum, so negative ids
    // need no precondition; the shift is applied to the decimal sum on the
    // driver, so ids spanning the whole long range cannot wrap either
    val path = Seq((-5L, -4L), (-4L, -3L), (-3L, 7L), (7L, 8L))
    val pathLabels = Map(-5L -> -5L, -4L -> -5L, -3L -> -5L, 7L -> -5L, 8L -> -5L)
    cc(path) shouldBe pathLabels
    route shouldBe "distributed"
    ccLocal(path) shouldBe pathLabels
    route shouldBe "local-finish"
    // with an UNSHIFTED potential (the raw id sum) this graph reads
    // unchanged after round one — deduping a negative-sum edge offsets
    // the replacements — and the loop stopped with -7 labelled -9
    val falseFixpoint = Seq((-4L, -7L), (-9L, -7L), (0L, -4L), (-4L, -11L), (-7L, 0L),
      (-9L, -7L), (0L, -9L))
    cc(falseFixpoint) shouldBe Seq(-11L, -9L, -7L, -4L, 0L).map(_ -> -11L).toMap
    val random = lcgEdges(4242L, 150, 70L, base = -35L)
    cc(random) shouldBe ccLocal(random)
    val wide = Seq((Long.MinValue, 0L), (0L, Long.MaxValue), (Long.MaxValue - 1, -1L),
      (Long.MinValue + 1, Long.MinValue + 2))
    cc(wide) shouldBe ccLocal(wide)
    cc(wide)(Long.MaxValue) shouldBe Long.MinValue
  }

  // ---- bounded local finisher (the round-floor cut) -------------------

  test("the public default finishes a small graph locally and matches the distributed loop") {
    val edges = lcgEdges(98765L, 200, 90L)
    val localLabels = ccLocal(edges)
    route shouldBe "local-finish"
    localLabels shouldBe cc(edges)
  }

  test("local finish handles negative ids, duplicates, self-loops and chains exactly") {
    val edges = Seq((-5L, -4L), (-4L, -3L), (7L, 7L), (1L, 2L), (2L, 1L), (2L, 3L))
    ccLocal(edges) shouldBe Map(
      -5L -> -5L, -4L -> -5L, -3L -> -5L, 7L -> 7L, 1L -> 1L, 2L -> 1L, 3L -> 1L)
    route shouldBe "local-finish"
    // a long chain also lands local under the default
    val chain = (1L until 300L).map(i => (i, i + 1))
    ccLocal(chain) shouldBe (1L to 300L).map(_ -> 1L).toMap
    GraphOps.lastRoute.get() shouldBe (("local-finish", 299L))
  }

  test("local finish preserves Int-typed id columns (the Int-id output contract)") {
    import spark.implicits._
    val rows = GraphOps.connectedComponents(Seq((1, 2), (2, 3), (5, 6)).toDF("a", "b"))
      .collect()
    rows.head.get(0) shouldBe a[Integer] // cast back to the input type, not widened
    rows.map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
  }

  test("star loop finishes MID-LOOP on the driver once contraction crosses the cap") {
    // contraction shrinks the edge set toward one edge per non-root
    // node, so the mid-loop trigger needs m >> n — the near-dup CLIQUE
    // shape: a 60-clique (1770 canonical edges) over a cap of 200
    // enters distributed, collapses to a 59-edge star in one round, and
    // the driver union-find closes — same labels as the fixpoint path
    import spark.implicits._
    val clique = for (a <- 1L to 60L; b <- (a + 1) to 60L) yield (a, b)
    val out = GraphOps.connectedComponentsBounded(clique.toDF("x", "y"), 200L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe (1L to 60L).map(_ -> 1L).toMap
    GraphOps.lastRoute.get() shouldBe (("local-midloop", 1770L))
  }

  test("star loop finishes at ENTRY when the whole canonical set fits the cap") {
    // every edge given twice: 98 canonical rows exceed the cap of 60 at
    // entry, but the 49 distinct edges the star loop starts from fit it
    import spark.implicits._
    val chain = (1L until 50L).map(i => (i, i + 1))
    val out = GraphOps.connectedComponentsBounded((chain ++ chain).toDF("x", "y"), 60L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe (1L to 50L).map(_ -> 1L).toMap
    GraphOps.lastRoute.get() shouldBe (("local-entry", 98L))
  }

  test("star rounds preserve the node set (the invariant the mid-loop local finish relies on)") {
    // finishLocally is exact mid-loop ONLY because every node of a
    // >= 2-node component survives each round's edge set (large-star's
    // v > u emissions + small-star's self edge) — pin that structurally
    // on randomized graphs, independent of the single clique-shaped
    // local-finish test, so a future edit to either half-round that
    // breaks the persistence property fails HERE, not silently in a
    // vanished-node mislabel (ADVICE r13)
    import spark.implicits._
    var x = 555L
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) >>> 1; x }
    for (trial <- 1 to 2) {
      val raw = (1 to 80 * trial).map(_ => (next() % (40 * trial), next() % (40 * trial)))
        .filter { case (a, b) => a != b }
      var cur = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct.toDF("a", "b")
      def nodeSet(rows: Array[org.apache.spark.sql.Row]): Set[Long] =
        rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      var nodes = nodeSet(cur.collect())
      for (_ <- 1 to 3) { // past any test graph's fixpoint
        // re-root each round on its computed rows (the loop's truncated()
        // discipline): the invariant is about ROUND semantics, and an
        // unbounded 3-round lineage re-executed per assertion is the
        // plan-blowup the production loop exists to avoid
        val roundRows = GraphOps.starRound(cur, 4).collect()
        nodeSet(roundRows) shouldBe nodes
        nodes = nodeSet(roundRows)
        cur = roundRows.map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("a", "b")
      }
    }
  }

  test("d63's gate shape: the local default equals the forced-distributed star end-to-end") {
    // the oracle gates d63 on the public (local-finish) path; this pin
    // keeps the DISTRIBUTED contraction equal to it on the real
    // chain-block edge list, so the star loop's coverage on the gate's
    // shape is kept by spec where the gate does not drive it
    val sf = "/root/testdata/sf0.001"
    val ids = graft.Tables.documents(spark, sf).select(col("doc_id"))
    val edges = ids
      .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      .filter(pmod(col("b"), lit(250)) =!= 0)
      .join(ids.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
      .persist()
    val viaDefault = GraphOps.d63ChainComponents(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    route shouldBe "local-finish"
    val viaStar = GraphOps.connectedComponentsBounded(edges, 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    route shouldBe "distributed"
    edges.unpersist()
    viaStar shouldBe viaDefault
  }
}
