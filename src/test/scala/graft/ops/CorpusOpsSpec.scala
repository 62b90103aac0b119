package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{size => asize}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the corpus-operator semantics beyond the DuckDB oracle:
  * the LSH path must FIND the planted near-dup pairs (the oracle only
  * checks the emitted pairs are correct), SimHash must place near-dups at
  * small Hamming distance, and dedup must be a partition of the corpus.
  */
class CorpusOpsSpec extends AnyFunSuite with SparkSpec with Matchers {

  test("bandedGramRows delivers gram arrays SORTED and distinct (the tracker merge contract)") {
    // StreamingQueries.sortedIntersectCount merges without re-sorting;
    // this pins the delivery contract independently of the pair results
    val rows = CorpusOps.bandedGramRows(graft.Tables.documents(spark, sf001))
      .select(col("grams")).limit(500).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = r.getSeq[Long](0)
      assert(g == g.sorted, "grams must arrive sorted ascending")
      assert(g.distinct.size == g.size, "grams must be distinct per document")
    }
  }

  test("d2 MinHash-LSH finds high-Jaccard pairs with exact scores") {
    val pairs = CorpusOps.d2MinhashLsh(spark, sf001).collect()
    // sf0.001 plants a handful of near-dup pairs; LSH must surface them
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.6 && j <= 1.0)
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
    }
  }

  test("d2 LSH recall is total against brute force at the 0.6 threshold") {
    import spark.implicits._
    // brute-force truth: all-pairs exact shingle Jaccard (test scale only)
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("ws"))
      .filter(asize(col("ws")) >= 3)
      .select(col("doc_id"),
        expr("array_distinct(transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))")
          .as("shingles"))
    def side(p: String) = docs.select(col("doc_id").as(s"${p}_id"), col("shingles").as(s"${p}_sh"))
    val truth = side("a").crossJoin(side("b"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("j", asize(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
        asize(array_union(col("a_sh"), col("b_sh"))))
      .filter(col("j") >= 0.6)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    val found = CorpusOps.d2MinhashLsh(spark, sf001)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    found shouldBe truth
  }

  test("LSH recall holds on a GENERATED corpus with planted near-dups") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi", "pi", "rho",
      "sigma", "tau", "ups")
    // 60 base docs + a near-dup of each even doc (replace ~8% of words)
    val base = (0 until 60).map { i =>
      (i.toLong, Seq.fill(30 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))))
    }
    val dups = base.filter(_._1 % 2 == 0).map { case (i, ws) =>
      val mutated = ws.map(w => if (rnd.nextInt(100) < 8) vocab(rnd.nextInt(vocab.size)) else w)
      (1000L + i, mutated)
    }
    val docs = (base ++ dups).map { case (i, ws) => (i, ws.mkString(" ")) }
      .toDF("doc_id", "text")

    // brute-force truth
    val sh = docs
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("ws"))
      .select(col("doc_id"),
        expr("array_distinct(transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))")
          .as("sh"))
    def side(p: String) = sh.select(col("doc_id").as(s"${p}_id"), col("sh").as(s"${p}_sh"))
    val truth = side("a").crossJoin(side("b")).filter(col("a_id") < col("b_id"))
      .withColumn("j", asize(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
        asize(array_union(col("a_sh"), col("b_sh"))))
      .filter(col("j") >= 0.6)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet

    val found = CorpusOps.nearDupPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "generator must plant detectable near-dups")
    found shouldBe truth
  }

  test("d1 exact dedup is a partition: every doc maps to one canonical id <= its own") {
    val out = CorpusOps.d1ExactDedup(spark, sf001).collect()
    val nDocs = graft.Tables.documents(spark, sf001).count()
    assert(out.length == nDocs)
    out.foreach { r =>
      assert(r.getAs[Long]("canonical_id") <= r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("dup_count") >= 1L)
    }
  }

  test("d5 SimHash: near-dup pairs sit at smaller Hamming distance than random pairs") {
    import spark.implicits._
    val sim = CorpusOps.d5Simhash(spark, sf001)
      .as[(Long, Long)].collect().toMap
    val nearDups = CorpusOps.d2MinhashLsh(spark, sf001)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect()
    assume(nearDups.nonEmpty)
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val nearAvg = nearDups.map { case (a, b) => hamming(sim(a), sim(b)) }.sum.toDouble / nearDups.length
    val ids = sim.keys.toArray.sorted
    val randomPairs = ids.take(40).flatMap(a => ids.takeRight(40).map(b => (a, b))).filter { case (a, b) => a < b }
    val randAvg = randomPairs.map { case (a, b) => hamming(sim(a), sim(b)) }.sum.toDouble / randomPairs.length
    assert(nearAvg < randAvg,
      s"near-dup avg hamming $nearAvg should be below random avg $randAvg")
  }

  test("d1 fingerprint is invariant to word order and duplication (generated docs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("spark", "row", "key", "join", "agg", "scan", "fast", "slow", "table", "value")
    val docs = (0 until 60).map { i =>
      val words = Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      val shuffledWithDups = rnd.shuffle(words ++ Seq.fill(rnd.nextInt(5))(words(rnd.nextInt(words.size))))
      (i.toLong, words.mkString(" "), shuffledWithDups.mkString(" "))
    }
    val df = docs.toDF("id", "t1", "t2")
    def fp(c: String) =
      md5(concat_ws(" ", array_sort(array_distinct(split(lower(trim(col(c))), " ")))))
    val diff = df.filter(fp("t1") =!= fp("t2")).count()
    diff shouldBe 0L
  }

  test("d4 langid predictions are deterministic and cover only known langs") {
    val rows = CorpusOps.d4LangId(spark, sf001).collect()
    val langs = Set("en", "de", "fr", "es")
    rows.foreach(r => assert(langs.contains(r.getAs[String]("pred_lang"))))
    // confusion matrix row-sums = corpus size
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == graft.Tables.documents(spark, sf001).count())
  }

  test("d19 split is a deterministic total assignment near the 80/10/10 target") {
    val a = CorpusOps.d19SplitAssign(spark, sf001).collect()
    val b = CorpusOps.d19SplitAssign(spark, sf001).collect()
    // re-running (the retry/speculation case) yields byte-identical splits
    a.map(r => (r.getLong(0), r.getString(2))).toMap shouldBe
      b.map(r => (r.getLong(0), r.getString(2))).toMap
    assert(a.length == graft.Tables.documents(spark, sf001).count())
    val frac = a.groupBy(_.getString(2)).view.mapValues(_.length.toDouble / a.length).toMap
    // hash buckets are uniform; at n=500 allow generous binomial slack
    assert(frac("train") > 0.70 && frac("train") < 0.90, frac)
    assert(frac("val") > 0.04 && frac("val") < 0.16, frac)
    assert(frac("test") > 0.04 && frac("test") < 0.16, frac)
  }

  test("d20 contamination counts are bounded by the doc's own shingle count and exclude eval docs") {
    val docs = graft.Tables.documents(spark, sf001)
    val out = CorpusOps.d20Contamination(spark, sf001).collect()
    assert(out.nonEmpty) // planted dups guarantee collisions with the eval slice
    val shingleCounts = docs
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("ws"))
      .select(col("doc_id"), asize(array_distinct(
        transform(sequence(lit(0), asize(col("ws")) - 3),
          i => concat_ws(" ", col("ws")(i), col("ws")(i + 1), col("ws")(i + 2))))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val (id, n) = (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shared"))
      assert(id % 97 != 0, s"eval doc $id must not appear in the contamination report")
      assert(n >= 1 && n <= shingleCounts(id), s"doc $id shares $n of ${shingleCounts(id)} shingles")
    }
  }

  test("d28 dup-span merge: shared runs mark exact token ranges, islands merge, unique text is silent") {
    import spark.implicits._
    // w0..w19 are 20 distinct words; doc 1 and doc 2 share words 4..15
    // (a 12-word run = five 8-windows at positions 4..8 of doc 1), and
    // doc 3 repeats doc 1's words 0..7 (one window at position 0). Doc 1
    // therefore has TWO duplicated regions that merge into islands
    // [0,8) and [4,16) -> one island [0,16); doc 4 is fully unique.
    val w = (0 until 40).map(i => s"w$i")
    def doc(ws: Seq[String]) = ws.mkString(" ")
    val docs = Seq(
      (1L, doc(w.slice(0, 20))),                       // w0..w19
      (2L, doc(Seq("x0", "x1") ++ w.slice(4, 16) ++ Seq("x2", "x3"))), // shares w4..w15
      (3L, doc(w.slice(0, 8) ++ Seq("y0", "y1"))),     // shares w0..w7
      (4L, doc((20 until 40).map(i => s"u$i")))        // unique
    ).toDF("doc_id", "text")
    val spans = CorpusOps.dupSpans(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Long]("span_begin"), r.getAs[Long]("span_end"), r.getAs[Long]("n_grams"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toList).toMap
    // doc 1: window [0,8) (shared with doc 3) and windows 4..8 (shared
    // with doc 2, covering [4,16)) overlap -> single merged span [0,16)
    spans(1L) shouldBe List((0L, 16L, 6L))
    // doc 2: its shared run w4..w15 sits at offsets 2..13 -> windows 2..6
    spans(2L) shouldBe List((2L, 14L, 5L))
    // doc 3: exactly the one shared window at position 0
    spans(3L) shouldBe List((0L, 8L, 1L))
    spans.get(4L) shouldBe None
  }

  test("d28 spans at sf0.001 are well-formed, disjoint and window-consistent") {
    val rows = CorpusOps.d28DupSpans(spark, sf001).collect()
    assert(rows.nonEmpty) // planted dups guarantee shared 8-word runs
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rs) =>
      val spans = rs.map(r => (r.getAs[Long]("span_begin"), r.getAs[Long]("span_end"), r.getAs[Long]("n_grams"))).sortBy(_._1)
      spans.foreach { case (b, e, n) =>
        assert(b >= 0 && e - b >= 8, s"doc $id span [$b,$e) narrower than one window")
        assert(n >= 1 && n <= e - b - 7, s"doc $id span [$b,$e) claims $n windows")
      }
      spans.sliding(2).foreach {
        case Array((_, e1, _), (b2, _, _)) =>
          // islands merge any window starting at or before the previous
          // end, so surviving neighbors must start strictly after it
          assert(b2 > e1, s"doc $id spans ending $e1 / starting $b2 should have merged")
        case _ =>
      }
    }
  }

  test("d23 single-scan twin computes exactly the two-scan baseline's answer") {
    val twoScan = CorpusOps.d23TfidfTopTerms(spark, sf001).collect().toSet
    val oneScan = CorpusOps.d23TfidfSingleScan(spark, sf001).collect().toSet
    oneScan shouldBe twoScan
  }

  test("d33 BPE training: merges compose across iterations and application is greedy left-to-right") {
    import spark.implicits._
    // round 1: top pair is ("b", "b") (5 adjacent occurrences: the b-run
    // contributes 3 — greedy application must collapse it to (b+b, b+b),
    // NOT overlap — plus one each in docs 2 and 4). round 2: the merged
    // b+b token must itself pair and merge with "c" (composition),
    // counting occurrences the round-1 rewrite CREATED.
    val docs = Seq(
      "a b b b b c",   // run of four b's: greedy -> a (b+b) (b+b) c
      "x b b c y",     // one more (b,b), then (b+b, c) after merge 1
      "q b b c q",     // ditto
      "a z a z"        // background pairs, below the winners
    ).toDF("text")
    val merges = CorpusOps.bpeTrain(docs, iters = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    merges(0) shouldBe ((1, "b b", 5L))
    // after merge 1: docs read (a b+b b+b c | x b+b c y | q b+b c q) —
    // pair (b+b, c) appears 3 times, beating (a, z)'s 2
    merges(1) shouldBe ((2, "b+b c", 3L))
  }

  test("d37 BPE encode: token accounting matches a hand-computed greedy application") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b b b b c"), // merges "b b" then "b+b c": a (b+b) (b+b)+c -> 6 ws tokens, 3 bpe
      (2L, "x b b c y"),   // x (b+b)+c y -> 5 ws, 3 bpe
      (3L, "q b b c q"),   // q (b+b)+c q -> 5 ws, 3 bpe
      (4L, "b")            // single token, no pairs -> 1, 1
    ).toDF("doc_id", "text")
    val merges = CorpusOps.bpeTrain(docs, iters = 2)
      .collect().sortBy(_.getInt(0)).map(_.getString(1)).toSeq
    merges shouldBe Seq("b b", "b+b c")
    val out = CorpusOps.bpeEncode(docs, merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    out(1L) shouldBe ((6L, 3L, 3L, 500000L))
    out(2L) shouldBe ((5L, 3L, 2L, 600000L))
    out(3L) shouldBe ((5L, 3L, 2L, 600000L))
    out(4L) shouldBe ((1L, 1L, 0L, 1000000L))
  }

  test("d37 on the fixture corpus: invariants hold and merges land") {
    val rows = CorpusOps.d37BpeEncode(spark, sf001).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val (nWs, nBpe, saved, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nBpe >= 1 && nBpe <= nWs)
      assert(saved == nWs - nBpe)
      assert(ppm == 1000000L * nBpe / nWs)
    }
    // the trained merges must actually tokenize something in the corpus
    assert(rows.map(_.getLong(3)).sum > 0, "no merge applications landed")
  }

  test("d74 fertility report: planted two-language rollup, and the fixture rollup equals d37 re-aggregated") {
    import spark.implicits._
    // lang en = the d37 fixture docs (merges land), lang xx = text the
    // trained merges never touch (fertility exactly 10^6 — the
    // under-served-language signal)
    val docs = Seq(
      (1L, "en", "a b b b b c"), (2L, "en", "x b b c y"), (3L, "en", "q b b c q"),
      (4L, "xx", "m n o"), (6L, "xx", "o n m")
    ).toDF("doc_id", "lang", "text")
    val merges = CorpusOps.bpeTrain(docs, iters = 2)
      .collect().sortBy(_.getInt(0)).map(_.getString(1)).toSeq
    val out = CorpusOps.bpeEncode(docs, merges, carry = Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_ws")).as("tw"), sum(col("n_bpe")).as("tb"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    out("en") shouldBe ((3L, 16L, 9L))  // 6+5+5 words -> 3+3+3 bpe tokens
    out("xx") shouldBe ((2L, 6L, 6L))   // untouched

    // the gate row on the fixture = d37's per-doc accounting re-aggregated
    val fert = CorpusOps.d74TokenFertility(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val expect = CorpusOps.d37BpeEncode(spark, sf001)
      .join(graft.Tables.documents(spark, sf001).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_ws")).as("tw"), sum(col("n_bpe")).as("tb"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          1000000L * r.getLong(3) / r.getLong(2)))).toMap
    fert shouldBe expect
    fert.values.foreach { case (_, tw, tb, ppm) =>
      assert(tb <= tw && ppm <= 1000000L && ppm > 0L)
    }
  }

  test("d38 PII redaction scrubs planted emails/phones/IPs and leaves clean text byte-identical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach me at a.user+tag@sub.example.org thanks"),
      (2L, "call +1 555-0199 or +1 555-0200 now"),
      (3L, "hosts 192.168.0.1 and 10.0.0.255 up"),
      (4L, "nothing sensitive here"),
      (5L, "mixed bob@x.io from 127.0.0.1 call +1 555-1234 end")
    ).toDF("doc_id", "t")
    val out = CorpusOps.redactPii(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    out(1L)._1 shouldBe 1L
    out(2L)._2 shouldBe 2L
    out(3L)._3 shouldBe 2L
    out(4L) shouldBe ((0L, 0L, 0L,
      java.security.MessageDigest.getInstance("MD5")
        .digest("nothing sensitive here".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString))
    out(5L) shouldBe ((1L, 1L, 1L,
      java.security.MessageDigest.getInstance("MD5")
        .digest("mixed <EMAIL> from <IP> call <PHONE> end".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString))
  }

  test("d38 precondition: the corpus itself contains no digit and no @ (planting is the only PII)") {
    val dirty = graft.Tables.documents(spark, sf001)
      .filter(col("text").rlike("[0-9@]")).count()
    dirty shouldBe 0L
  }

  test("d38 on the fixture corpus: every planted category is redacted, counts follow doc_id % 4") {
    val rows = CorpusOps.d38PiiRedact(spark, sf001).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val (id, ne, np, ni) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val want = (id % 4) match {
        case 0 => (1L, 0L, 0L)
        case 1 => (0L, 1L, 0L)
        case 2 => (0L, 0L, 1L)
        case _ => (0L, 0L, 0L)
      }
      ((ne, np, ni)) shouldBe want
    }
  }

  test("d39 token budget equals the naive single-window greedy prefix") {
    import spark.implicits._
    // naive truth: ONE global window over (quality desc, doc_id) — the
    // single-partition form d39's bucket decomposition must reproduce
    val naiveW = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val truth = CorpusOps.d11Quality(spark, sf001)
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(naiveW), lit(0L)))
      .filter(col("cum_before") < CorpusOps.TokenBudget)
      .select(col("doc_id"), col("n_tokens"), col("cum_before"))
      .as[(Long, Long, Long)].collect().toSet
    val got = CorpusOps.d39TokenBudget(spark, sf001)
      .select(col("doc_id"), col("n_tokens"), col("cum_before"))
      .as[(Long, Long, Long)].collect().toSet
    got shouldBe truth
    assert(got.nonEmpty)
  }

  test("d39 selection is a maximal greedy prefix of the budget") {
    val rows = CorpusOps.d39TokenBudget(spark, sf001).collect()
    // every selected doc started under the budget
    rows.foreach(r => assert(r.getAs[Long]("cum_before") < CorpusOps.TokenBudget))
    // the selection FILLS the budget: the furthest doc's span crosses or
    // meets it (otherwise another doc would fit, contradicting maximality
    // — unless the whole corpus fit)
    val n = graft.Tables.documents(spark, sf001).count()
    val last = rows.maxBy(_.getAs[Long]("cum_before"))
    if (rows.length < n)
      assert(last.getAs[Long]("cum_before") + last.getAs[Long]("n_tokens") >= CorpusOps.TokenBudget)
    // selected docs dominate the unselected on quality: min selected
    // quality >= any unselected doc's would-be insertion point is implied
    // by the prefix property already checked against the naive window
  }

  test("d40 epoch mix: caps, the largest language, and exact cardinality") {
    import spark.implicits._
    val mix = CorpusOps.d40EpochMix(spark, sf001)
    val perLang = mix.groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("docs"), count(lit(1)).as("rows"),
        max(col("epoch")).as("k"), min(col("epoch")).as("kmin"))
      .as[(String, Long, Long, Long, Long)].collect()
    val counts = graft.Tables.documents(spark, sf001)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val maxDocs = counts.values.max
    perLang.foreach { case (lang, docs, rows, k, kmin) =>
      assert(kmin == 1L, s"$lang: epochs must start at 1")
      assert(k >= 1L && k <= CorpusOps.MaxEpochs, s"$lang: epoch cap violated")
      assert(docs == counts(lang), s"$lang: every doc must be scheduled")
      assert(rows == docs * k, s"$lang: rows must be docs x epochs")
      val expectK = math.min(CorpusOps.MaxEpochs, (maxDocs + counts(lang) - 1) / counts(lang))
      assert(k == expectK, s"$lang: epochs=$k, expected $expectK")
    }
    // the largest language is never upsampled
    val biggest = counts.maxBy(_._2)._1
    assert(perLang.find(_._1 == biggest).get._4 == 1L)
    // each doc gets the contiguous epoch set 1..k (no gaps, no dups)
    val bad = mix.groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("c"), max(col("epoch")).as("mx"),
        countDistinct(col("epoch")).as("d"))
      .filter(col("c") =!= col("d") || col("mx") =!= col("c"))
      .count()
    assert(bad == 0L)
  }

  test("d41 soft dedup equals a naive groupBy-join recompute and actually thins") {
    import spark.implicits._
    // independent truth: dup_count via groupBy + join-back (vs the
    // operator's single-shuffle window), same quality/draw algebra
    val base = CorpusOps.d11Quality(spark, sf001)
      .withColumn("q_ppm", round(col("quality") * 1000000.0).cast("long"))
      .join(graft.Tables.documents(spark, sf001)
        .select(col("doc_id"), CorpusOps.fingerprint(col("text")).as("fp")), Seq("doc_id"))
    val groups = base.groupBy("fp").agg(count(lit(1)).as("dc"))
    val draw = pmod(conv(substring(
      md5(concat(col("doc_id").cast("string"), lit(":soft"))), 1, 15), 16, 10).cast("long"),
      lit(1000000L))
    val truth = base.join(groups, Seq("fp"))
      .withColumn("score_ppm", expr("q_ppm div dc"))
      .filter(draw < col("score_ppm"))
      .select(col("doc_id"), col("dc").as("dup_count"), col("score_ppm"))
      .as[(Long, Long, Long)].collect().toSet
    val got = CorpusOps.d41SoftDedup(spark, sf001)
      .as[(Long, Long, Long)].collect().toSet
    got shouldBe truth
    // the draw actually thins the corpus, but keeps most of it (quality
    // ppm is high; dup groups are rare)
    val n = graft.Tables.documents(spark, sf001).count()
    assert(got.nonEmpty && got.size < n)
    // every dup-group member's score is its quality split across the group
    got.foreach { case (_, dc, score) => assert(dc >= 1L && score <= 1000000L / dc) }
  }

  test("d33 BPE training on the fixture corpus: counts are exact and iterations monotone in rank") {
    val merges = CorpusOps.d33BpeTrain(spark, sf001, iters = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    merges.map(_._1).toSeq shouldBe Seq(1, 2, 3)
    merges.foreach { case (_, pair, cnt) =>
      assert(pair.split(' ').length >= 2 && cnt >= 1)
    }
    // iteration 1's winner must be d30's top pair (same count, same tie-break)
    val d30Top = CorpusOps.d30BpePairs(spark, sf001).collect().head
    (merges(0)._2, merges(0)._3) shouldBe ((d30Top.getString(0), d30Top.getLong(1)))
  }

  test("d44 temperature mix equals the naive window; small languages gain share over proportional") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf001)
    val corpus = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val draw = conv(substring(
      md5(concat(col("doc_id").cast("string"), lit(":temp"))), 1, 15), 16, 10).cast("long")
    // naive truth: targets in exact integer arithmetic + ONE per-lang window
    val s = corpus.map { case (l, n) => l -> math.floor(math.sqrt(n.toDouble) * 1e6).toLong }
    val (stot, ntot) = (s.values.sum, corpus.values.sum)
    val target = corpus.map { case (l, n) => l -> math.min(n, (ntot / 2) * s(l) / stot) }
    val naiveW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("draw"), col("doc_id"))
    val truth = docs.select(col("doc_id"), col("lang"), draw.as("draw"))
      .withColumn("rk", row_number().over(naiveW).cast("long"))
      .as[(Long, String, Long, Long)].collect()
      .filter { case (_, l, _, rk) => rk <= target(l) }
      .map { case (id, l, _, rk) => (id, l, rk) }.toSet
    val got = CorpusOps.d44TemperatureMix(spark, sf001)
      .as[(Long, String, Long)].collect()
    got.toSet shouldBe truth
    // temperature property: every language SMALLER than the largest gets
    // at least its proportional share of the selected set; the largest
    // gets at most its proportional share (alpha = 0.5 flattens)
    val selected = got.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nsel = selected.values.sum.toDouble
    val maxLang = corpus.maxBy(_._2)._1
    corpus.foreach { case (l, n) =>
      val propShare = n.toDouble / ntot
      val selShare = selected.getOrElse(l, 0L) / nsel
      if (l == maxLang) assert(selShare <= propShare + 1e-9)
      else assert(selShare >= propShare - 1e-9,
        s"$l under-represented: $selShare < $propShare")
    }
    // the budget binds: about half the corpus is selected (integer floors
    // and per-lang caps only ever REDUCE it)
    assert(nsel <= ntot / 2 && nsel >= ntot / 4)
  }

  test("d48 leakage rows are exactly the held-out members of d1 dup groups with a train twin") {
    import spark.implicits._
    val leaked = CorpusOps.d48SplitLeakage(spark, sf001).collect()
    assert(leaked.nonEmpty) // the fixture corpus plants cross-split dups
    val split = CorpusOps.d19SplitAssign(spark, sf001)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    val dupGroup = CorpusOps.d1ExactDedup(spark, sf001)
      .select(col("doc_id"), col("canonical_id")).as[(Long, Long)].collect().toMap
    // every emitted row: held-out split consistent with d19, witness is a
    // genuine train-side member of the SAME d1 fingerprint group
    leaked.foreach { r =>
      val (id, s) = (r.getAs[Long]("doc_id"), r.getAs[String]("split"))
      s should not be "train"
      split(id) shouldBe s
      val w = r.getAs[Long]("first_train_id")
      split(w) shouldBe "train"
      dupGroup(w) shouldBe dupGroup(id)
      r.getAs[Long]("n_train_dups") should be >= 1L
    }
    // and complete: no held-out doc sharing a group with a train doc is missed
    val trainGroups = dupGroup.collect { case (id, g) if split(id) == "train" => g }.toSet
    val expected = dupGroup.collect {
      case (id, g) if split(id) != "train" && trainGroups(g) => id
    }.toSet
    leaked.map(_.getAs[Long]("doc_id")).toSet shouldBe expected
  }

  test("d49 containment: planted subsets detected asymmetrically, Jaccard-blind pairs included") {
    import spark.implicits._
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val long = base + " " + (13 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),             // 12 tokens -> 5 windows, ALL inside doc 2
      (2L, long),             // 60 tokens: superset
      (3L, "a b c d e f g h i j"), // unrelated
      (4L, long)              // exact dup of 2
    ).toDF("doc_id", "text")
    val out = CorpusOps.containmentOver(docs)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // 1 ⊂ 2: full containment one way only — the pair symmetric Jaccard
    // misses (5 shared / 53 union windows ≈ 0.09)
    out((1L, 2L))._5 shouldBe 1000000L
    out.get((2L, 1L)) shouldBe None
    // exact dups contain each other at exactly 1.0 in both directions
    out((2L, 4L))._5 shouldBe 1000000L
    out((4L, 2L))._5 shouldBe 1000000L
    // the unrelated doc appears in no pair; shared counts stay bounded
    out.keys.flatMap(k => Seq(k._1, k._2)) should not contain 3L
    out.values.foreach(r => r._4 should be <= r._3)
  }

  test("d50 training plan equals a full in-memory replay of all four stages") {
    import spark.implicits._
    // d50's r15 draws: BOTH 60-bit slices of one md5(doc_id) — element 0
    // (temperature) and element 1 (order) of Md5Slices60
    def drawTemp(id: Long): Long = md5Prefix60(s"$id")
    def drawOrder(id: Long): Long = md5Second60(s"$id")
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .as[(Long, String, String, String)].collect()
    // stage 1: exact-dup canonicals
    val canon = docs.groupBy { case (_, _, _, t) =>
      t.trim.toLowerCase.split(" ", -1).distinct.sorted.mkString(" ")
    }.values.map(_.minBy(_._1)).toSeq
    def nTokens(t: String): Long = t.trim.toLowerCase.split(" ", -1).length.toLong
    // stage 2: temperature targets over the canon survivors
    val counts = canon.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val s = counts.map { case (l, n) => l -> math.floor(math.sqrt(n.toDouble) * 1e6).toLong }
    val (stot, ntot) = (s.values.sum, counts.values.sum)
    val target = counts.map { case (l, n) => l -> math.min(n, (ntot / 2) * s(l) / stot) }
    val selected = canon.groupBy(_._2).toSeq.flatMap { case (lang, members) =>
      members.sortBy(m => (drawTemp(m._1), m._1)).take(target(lang).toInt)
    }
    // stage 3: stratified interleave over the selected set
    val slots = selected.map(_._3).distinct.sorted.zipWithIndex
      .map { case (src, i) => src -> (i + 1L) }.toMap
    val ordered = selected.groupBy(_._3).toSeq.flatMap { case (src, members) =>
      members.sortBy(m => (drawOrder(m._1), m._1)).zipWithIndex
        .map { case (m, i) => (m._1, m._2, src, nTokens(m._4), i + 1L, slots(src)) }
    }.sortBy { case (_, _, _, _, round, slot) => (round, slot) }
    // stage 4: greedy token packing of that order
    var cum = 0L
    val expected = ordered.map { case (id, lang, src, nt, round, slot) =>
      val chunk = cum / CorpusOps.PlanChunkTokens; cum += nt
      (id, lang, src, nt, round, slot, chunk)
    }.toSet
    val got = CorpusOps.d50TrainingPlan(spark, sf001)
      .as[(Long, String, String, Long, Long, Long, Long)].collect().toSet
    got shouldBe expected
    assert(got.nonEmpty)
  }

  test("d49 hot-window cap: boilerplate shared beyond the cap is a stop-window; real subsets survive") {
    import spark.implicits._
    // 300 docs that ARE one identical 8-word boilerplate window: uncapped,
    // every pair would score containment 1.0 (300 x 299 bogus pairs); the
    // cap classifies the window as boilerplate and emits none of them
    val boiler = "click here to accept all our cookie terms"
    val hot = (1000 to 1299).map(i => (i.toLong, boiler))
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val long = base + " " + (13 to 60).map(i => s"w$i").mkString(" ")
    val out = CorpusOps.containmentOver(
      (hot ++ Seq((1L, base), (2L, long))).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, Long)].collect()
    // the genuine subset pair still detected at full containment
    out.find(r => r._1 == 1L && r._2 == 2L).get._5 shouldBe 1000000L
    // and not one pair among the boilerplate docs
    out.count(r => r._1 >= 1000L && r._2 >= 1000L) shouldBe 0
  }

  test("d51 containment clusters: a reprint chain rolls into one cluster") {
    import spark.implicits._
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val long = base + " " + (13 to 60).map(i => s"w$i").mkString(" ")
    val tail8 = (53 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),              // 1 ⊂ 2
      (2L, long),
      (3L, long),              // exact dup of 2
      (4L, tail8),             // 4 ⊂ 2 (the last window of `long`)
      (7L, "a b c d e f g h i j"),  // unrelated: no containment edge
      (8L, "p q r s t u v x y z")
    ).toDF("doc_id", "text")
    val got = CorpusOps.containmentClustersOver(docs)
      .as[(Long, Long, Long)].collect().toSet
    // the chain {1 ⊂ 2, 2 = 3, 4 ⊂ 2} is ONE cluster labeled by its min
    got shouldBe Set((1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (4L, 1L, 4L))
  }

  test("d42 interleave rank equals the naive per-source window; schedule is a valid interleave") {
    import spark.implicits._
    // naive truth: ONE window partitioned by source over (draw, doc_id) —
    // the #sources-parallelism form d42's bucket decomposition must equal
    val draw = conv(substring(
      md5(concat(col("doc_id").cast("string"), lit(":order"))), 1, 15), 16, 10).cast("long")
    val naiveW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("draw"), col("doc_id"))
    val truth = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("source"), draw.as("draw"))
      .withColumn("round", row_number().over(naiveW).cast("long"))
      .select(col("doc_id"), col("round"))
      .as[(Long, Long)].collect().toSet
    val got = CorpusOps.d42InterleaveOrder(spark, sf001)
    got.select(col("doc_id"), col("round")).as[(Long, Long)].collect().toSet shouldBe truth
    val rows = got.collect()
    // rounds are dense 1..n_s within every source; slots are dense 1..k
    // over the alphabetical source order — together (round, slot) is a
    // strict total order with round-robin structure
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      rs.map(_.getAs[Long]("round")).sorted shouldBe (1L to rs.length).toArray
      rs.map(_.getAs[Long]("slot")).distinct.length shouldBe 1
    }
    val bySlot = rows.groupBy(_.getAs[Long]("slot")).view.mapValues(_.head.getAs[String]("source")).toMap
    bySlot.keys.toSeq.sorted shouldBe (1L to bySlot.size)
    bySlot.toSeq.sortBy(_._1).map(_._2) shouldBe bySlot.values.toSeq.sorted
  }

  test("band skew guard: salted sub-bucket pairs equal the unsalted pair set, riders and minBands intact") {
    import spark.implicits._
    // one HOT bucket (600 docs in band 0 / key 111 — over the forced cap
    // of 50), docs 0..9 ALSO share band 1 / key 222 (the consensus band),
    // plus cold singleton buckets; the `fp` rider must survive both paths
    val rows =
      (0L until 600L).map(i => (i, 0, 111L, i * 7)) ++
        (0L until 10L).map(i => (i, 1, 222L, i * 7)) ++
        (600L until 650L).map(i => (i, 1, 1000L + i, i * 7))
    val banded = rows.toDF("doc_id", "band_id", "band_key", "fp")
    def run(minBands: Int, cap: Long) =
      CorpusOps.candidatePairsFromBands(banded, minBands, 0, cap)
        .select(col("a_id"), col("b_id"), col("a_fp"), col("b_fp"))
        .as[(Long, Long, Long, Long)].collect().toSet
    val salted = run(1, 50)
    CorpusOps.lastBandRoute shouldBe "hot" // the guard actually fired
    val unsalted = run(1, Long.MaxValue)
    CorpusOps.lastBandRoute shouldBe "cold"
    salted shouldBe unsalted
    salted.size shouldBe 600 * 599 / 2 // the 45 band-1 pairs are a subset of the hot bucket's
    salted.foreach { case (a, b, afp, bfp) =>
      assert(a < b); assert(afp == a * 7 && bfp == b * 7) // riders intact
    }
    // consensus: only docs 0..9 share BOTH bands — the count must not be
    // inflated by a pair meeting several salted sub-buckets
    val consensus = run(2, 50)
    consensus.map(p => (p._1, p._2)) shouldBe
      (for (a <- 0L until 10L; b <- (a + 1) until 10L) yield (a, b)).toSet
  }

  test("band skew guard: several hot buckets, each with its own fan-out, keep the pair set on the one hot path") {
    import spark.implicits._
    // three buckets over a forced cap of 50 (120, 300 and 80 docs) plus
    // cold singletons; the hot table is never collected, however many
    // buckets it holds
    val rows =
      (0L until 120L).map(i => (i, 0, 111L)) ++
        (1000L until 1300L).map(i => (i, 0, 222L)) ++
        (2000L until 2080L).map(i => (i, 1, 333L)) ++
        (3000L until 3050L).map(i => (i, 1, 9000L + i))
    val banded = rows.toDF("doc_id", "band_id", "band_key")
    // the guard's 1-in-64 doc sample flags a bucket at cap 50 when it
    // holds one sampled doc: it samples the 300- and 80-doc buckets (and
    // one singleton) but none of the 120 docs, so two planted buckets are
    // salted, each at its own fan-out, next to a 120-doc bucket on the
    // cold side of the same plan
    val sampled = banded.filter(pmod(xxhash64(col("doc_id")), lit(64L)) === 0)
      .select(col("band_key")).as[Long].collect().toSet
    sampled should contain allOf (222L, 333L)
    sampled should not contain 111L
    def pairSet(cap: Long) =
      CorpusOps.candidatePairsFromBands(banded, 1, 0, cap)
        .as[(Long, Long)].collect().toSet
    val hot = pairSet(50)
    CorpusOps.lastBandRoute shouldBe "hot"
    val cold = pairSet(Long.MaxValue)
    CorpusOps.lastBandRoute shouldBe "cold"
    hot shouldBe cold
    hot.size shouldBe 120 * 119 / 2 + 300 * 299 / 2 + 80 * 79 / 2
  }

  test("band skew guard: a planted mass-duplicate bucket over the DEFAULT cap survives with the exact pair count") {
    import spark.implicits._
    // 5000 docs in one band bucket (> BandBucketCap 4096) — the
    // boilerplate-corpus shape that OOMed the unguarded kernel by
    // buffering the whole bucket in one task; plus cold singletons
    val n = 5000L
    val rows = (0L until n).map(i => (i, 0, 7L)) ++
      (n until n + 100L).map(i => (i, 0, 100000L + i))
    val banded = rows.toDF("doc_id", "band_id", "band_key")
    val pairs = CorpusOps.candidatePairsFromBands(banded)
    pairs.count() shouldBe n * (n - 1) / 2
    CorpusOps.lastBandRoute shouldBe "hot"
  }
}
