package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over the `documents` corpus
  * (`doc_id, text, lang, source, n_chars`): exact + near deduplication,
  * text analysis, language-ID, and SimHash fingerprinting.
  *
  * These go beyond the reference's own surface (kcl-akka-stream is a
  * stream connector, SURVEY.md §0) — they are the corpus-side capability a
  * 100 TB training-data pipeline needs on top of it.
  *
  * SCALE NOTES (100 TB):
  *  - Exact dedup shuffles a 32-byte md5 fingerprint, never the document
  *    text; group-and-join-back is two shuffles on that fingerprint.
  *  - Near-dup is banded MinHash-LSH: candidate generation is an equi-join
  *    on (band_id, band_key) — never an all-pairs cross join — and the
  *    exact-Jaccard verification runs only on LSH candidates. All-pairs at
  *    N documents is O(N^2); LSH is O(N·bands + candidates).
  *  - Everything is built from codegen'd `functions._` (split/transform/
  *    aggregate/md5) — no UDFs, no driver-side loops; per-document work is
  *    bounded by document length.
  */
object CorpusOps {

  /** Lower-cased whitespace tokens of the normalized text. */
  private def words(text: Column): Column = split(lower(trim(text)), " ")

  /** The exact-dedup canonical fingerprint (d1's identity): md5 of the
    * sorted distinct word set. ONE definition — d1, d18's canonical stage
    * and the streaming ingest dedup (s7) must agree byte for byte.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(words(text)))))

  /** 3-word shingles (distinct) — the near-dup unit. */
  private val ShingleSql =
    "array_distinct(transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))"

  /** Exact dedup: canonical fingerprint = md5 of the sorted distinct word
    * set. Each document maps to the smallest doc_id sharing its
    * fingerprint. Only the 32-byte fingerprint is shuffled.
    */
  def d1ExactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // window over the fingerprint, not groupBy + join-back: one scan and
    // ONE shuffle (the join form materializes the fingerprint subplan
    // twice and shuffles twice); identical output
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        fingerprint(col("text")).as("fp"))
      .select(col("doc_id"),
        min(col("doc_id")).over(w).as("canonical_id"),
        count(lit(1)).over(w).as("dup_count"))
  }

  // MinHash parameters. d2 (word shingles, threshold 0.6) uses the FIRST
  // 48 hash functions in 24 bands of 2 rows: a pair at Jaccard s survives
  // banding with probability 1 - (1 - s^2)^24 — miss ~2e-5 at the 0.6
  // threshold itself, <2e-6 at s >= 0.65, negligible above. (12 bands was
  // ~0.5% at s = 0.6 — too loose for an exact-equality oracle; a
  // borderline pair in a regenerated corpus could flip the gate. Re-run
  // `Test/runMain graft.RecallCheck` whenever the corpus or these
  // parameters change.)
  // d14 (char grams, threshold 0.7, high background) uses all 96 in 32
  // bands of 3 rows. The seed pool is append-only: Seeds(i) depends only
  // on i, so widening it never changes existing signatures. Candidate
  // pairs are verified with exact Jaccard, so extra bands cost only
  // signature width + band rows, never precision.
  private val NumHashes = 96
  private val Bands = 24
  private val RowsPerBand = 2
  private val MinhashP = 2147483647L // 2^31 - 1 (Mersenne prime)

  // Affine permutations (a*h + b) mod P over the field Z_P need LARGE
  // well-mixed multipliers: with small a_i (e.g. first primes), a*h+b
  // never wraps mod P for a small base hash h, so ALL functions map small
  // h to small values in lockstep — one unlucky shingle then captures
  // every min and destroys the signature. Derive a_i in [1, P-1] and
  // b_i in [0, P-1] from a fixed 64-bit mixing constant instead.
  private val Seeds: Seq[(Long, Long)] = {
    val g = 0x9E3779B97F4A7C15L // 2^64 / golden ratio
    (0 until NumHashes).map { i =>
      val a = java.lang.Long.remainderUnsigned(g * (2 * i + 1), MinhashP - 1) + 1
      val b = java.lang.Long.remainderUnsigned(g * (2 * i + 2) + 0x7F4A7C15L, MinhashP)
      (a, b)
    }
  }
  /** The d2 near-dup gate. private[graft]: the streaming side-table
    * verify (`streaming.StreamingQueries.verifiedPairs`) gates on the
    * SAME constant — a literal there could silently drift from the batch
    * oracle if one side is retuned. */
  private[graft] val JaccardThreshold = 0.6

  private def shingleSets(docs: DataFrame): DataFrame =
    scanWide(docs)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), expr(ShingleSql).as("shingles"))

  /** Near-dup detection via banded MinHash-LSH + exact-Jaccard
    * verification. Output: (a_id, b_id, jaccard) for pairs with 3-word
    * shingle Jaccard >= 0.6. The DuckDB oracle computes the same pairs by
    * brute force (feasible at verification scale only) — matching it
    * demonstrates the LSH bands achieve full recall at this threshold.
    */
  def d2MinhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    nearDupPairs(Tables.documents(spark, sfDir))

  /** [[nearDupPairs]]'s one live lowered-text cache: the `(doc_id, t)`
    * projection feeds the signature kernel AND both verify join sides —
    * before this each consumer re-read the text column and re-ran
    * lower/trim (`Probe scan`: three document scans; now one). The persist
    * is the text column itself (one spill-ready extra copy,
    * MEMORY_AND_DISK) — the [[ReplaceOnCallCache]] trade d49/d53 make
    * for their hash streams, here buying two deleted full-text scans
    * for d2 and every composer of it (d18's loser set, d25's cluster
    * edges).
    */
  private val d2DocsCache = new ReplaceOnCallCache

  /** The LSH pipeline over any `(doc_id, text)` corpus — exposed so the
    * recall property can be tested on generated corpora, not just the
    * fixture data. The signature side runs the fused
    * [[graft.functions.WordShingleMinHash]] kernel straight off the text
    * (no shingle array, no per-shingle lambda); the verify side is the
    * same exact shingle-set Jaccard the oracle pins, computed by the
    * fused [[graft.functions.WordShingleJaccard]] kernel from the raw
    * texts — the join payload is the ~300-char documents, not the ~3x
    * larger materialized shingle arrays, and shingle sets are built only
    * for the O(candidates) rows banding emitted.
    */
  def nearDupPairs(docs: DataFrame): DataFrame = {
    val k = Bands * RowsPerBand
    val docsT = d2DocsCache.register(scanWide(docs)
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .filter(size(split(col("t"), " ")) >= 3))
    val sig = docsT
      .select(col("doc_id"), graft.functions.WordShingleMinHash.wordShingleMinhash(
        col("t"), 3, Seeds.take(k).map(_._1), Seeds.take(k).map(_._2), MinhashP).as("mh"))
    val cands = candidatePairs(sig, Bands, RowsPerBand,
      parts = pairParts(docs, Bands))
    val ta = docsT.select(col("doc_id").as("a_id"), col("t").as("ta"))
    val tb = docsT.select(col("doc_id").as("b_id"), col("t").as("tb"))
    cands.join(ta, "a_id").join(tb, "b_id")
      .withColumn("j",
        graft.functions.WordShingleJaccard.wordShingleJaccard(col("ta"), col("tb"), 3))
      .filter(col("j") >= JaccardThreshold)
      .select(col("a_id"), col("b_id"), round(col("j"), 6).as("jaccard"))
  }

  /** [[d14NgramJaccard]]'s one live lowered-text cache (the
    * [[d2DocsCache]] trade for d14's own projection — its filter
    * differs, so the two sites cannot share a plan): signature kernel
    * plus both verify join sides read ONE document scan.
    */
  private val d14DocsCache = new ReplaceOnCallCache

  /** Character 8-gram Jaccard near-dup pairs — the n-gram variant of the
    * dedup family (d2 = word shingles, d14 = char grams; char grams catch
    * near-dups that word tokenization misses: joined/split words,
    * punctuation edits). Same banded MinHash-LSH mechanics over the gram
    * set, but with its own banding shape: this corpus draws every doc
    * from one shared vocabulary, so short grams have enormous BACKGROUND
    * overlap (4-gram Jaccard medians ~0.28 — LSH candidates then approach
    * all-pairs and candidate verification goes quadratic). 8-grams push
    * the background to ~0.04 (p99 0.09) while true near-dups stay >= 0.8;
    * 32 bands x 3 rows with a >= 2-matching-bands consensus then gives
    * miss ~7.6e-5 AT the 0.7 output threshold itself (binomial(32, 0.7³)
    * below 2 — the same order as d2's at-threshold bar, ~1e-6 at s=0.8
    * where the truth actually sits) while the consensus prunes one-band
    * background collisions ~30x — the verify set stays O(true pairs),
    * not O(N²).
    */
  def d14NgramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val docsT = d14DocsCache.register(scanWide(docs)
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .filter(length(col("t")) >= 8)) // sequence(1, n) must be ascending
    // candidate side: the fused kernel — window hash + k minima straight
    // off the string, no gram array materialized (the base hash only
    // drives recall; the verify below is what the oracle pins)
    val sig = docsT.select(col("doc_id"),
      graft.functions.CharGramMinHash.charGramMinhash(
        col("t"), 8, Seeds.map(_._1), Seeds.map(_._2), MinhashP).as("mh"))
    // width heuristic counts the RAW relation (columnless scan), not the
    // text-transforming filtered projection — counting docsT would pay a
    // full lower/trim/length pass over every document just to pick a
    // shuffle width (the filter only trims a handful of degenerate rows,
    // so the estimate is the same)
    val cands = candidatePairs(sig, bands = 32, rowsPerBand = 3, minBands = 2,
      parts = pairParts(docs, 32))
    // verify side: exact gram-set Jaccard, but computed by the fused
    // binary kernel from the raw TEXTS — the join payload is the ~300-char
    // documents, not the ~8x-larger materialized gram arrays
    val ta = docsT.select(col("doc_id").as("a_id"), col("t").as("ta"))
    val tb = docsT.select(col("doc_id").as("b_id"), col("t").as("tb"))
    cands
      .join(ta, "a_id").join(tb, "b_id")
      .withColumn("j", graft.functions.NgramJaccard.ngramJaccard(col("ta"), col("tb"), 8))
      .filter(col("j") >= 0.7)
      .select(col("a_id"), col("b_id"), round(col("j"), 6).as("jaccard"))
  }

  /** Upscale-only shuffle width for the pair families' heavy exchanges
    * (candidate buckets, pair aggregation): est rows / 100k, never below
    * the session layout and capped at 4096. At gate scale this IS the
    * session width — the plan stays byte-identical, bench unmoved — while
    * at replicated far points (64x: ~10-13M candidate-side rows) the
    * exchanges widen to ~100-130 so per-partition volume stays bounded
    * instead of funneling 64x the rows through a fixed 32 (measured:
    * d49 17.2 -> 13.5 s at 64x under width 128). One cheap O(1) count
    * per query (parquet metadata count — the d60/d9 sizing precedent);
    * `rowsPerDoc` is the per-doc fan-out of the candidate relation
    * (bands for banded LSH, ~window count for gram joins) — a width
    * heuristic, not a correctness knob.
    */
  private def pairParts(docs: DataFrame, rowsPerDoc: Long): Int = {
    val session = docs.sparkSession.sessionState.conf.numShufflePartitions
    math.max(session, math.min(4096L, docs.count() * rowsPerDoc / 100000L).toInt)
  }

  /** Round-robin widen a NARROW batch scan before a CPU-heavy per-row
    * kernel (BPE merge chains, md5-per-token LM scoring, PQ argmin
    * encoding): parquet splits at row-group granularity, so a
    * few-row-group table pins the whole kernel pass to a handful of
    * tasks no matter the session width — the sf0.1 `documents` table is
    * ONE row group, and the heavy scan rows measured 1.2-1.6x
    * parallelism on a 32-thread session before this. The exchange
    * carries only the kernel's pruned input columns and is CONDITIONAL:
    * when the scan already fills half the session — the 100 TB case,
    * where tables arrive as thousands of row groups — this is a no-op,
    * so no gratuitous shuffle ships at scale. Streaming frames pass
    * through untouched (micro-batch sources size their own partitions;
    * an RDD probe on an unbounded frame is illegal anyway). Round-robin
    * repartition is deterministic (Spark local-sorts before routing)
    * and every consumer is order-free.
    */
  private[ops] def scanWide(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }

  /** Widen `df`'s layout to `parts` on `keys` when above the session
    * width; no-op otherwise, so session-scale plans are untouched. The
    * downstream groupBy/join on the same keys reuses the layout (hash
    * distribution satisfied) rather than exchanging a second time.
    */
  private def widened(df: DataFrame, parts: Int, keys: Column*): DataFrame =
    if (parts > df.sparkSession.sessionState.conf.numShufflePartitions)
      df.repartition(parts, keys: _*)
    else df

  /** LSH banding over a `(doc_id, mh: array<long>)` signature table:
    * candidate pairs are docs sharing any band — an equi-join on the band
    * key, never all-pairs.
    */
  private def candidatePairs(sig: DataFrame, bands: Int, rowsPerBand: Int,
      minBands: Int = 1, parts: Int = 0): DataFrame = {
    require(bands * rowsPerBand <= NumHashes)
    // band key = one 64-bit hash of the band's minhash values, not a
    // concatenated string: the banded table shuffles and groups on this
    // key, and fixed-width longs compare/serialize several times cheaper
    // than ~40-char strings. A cross-band 2^-64 hash collision can only
    // ADD a candidate pair, which the exact verify then rejects — recall
    // and the emitted pairs are unchanged (`Test/runMain graft.RecallCheck`
    // re-confirmed).
    val bandKeys = (0 until bands).map { b =>
      xxhash64((0 until rowsPerBand).map(r => col("mh").getItem(b * rowsPerBand + r)): _*)
    }
    candidatePairsFromBands(sig
      .select(col("doc_id"), posexplode(array(bandKeys: _*)).as(Seq("band_id", "band_key"))),
      minBands, parts)
  }

  /** Band-bucket size above which [[candidatePairsFromBands]] routes a
    * bucket through salted sub-bucket pair generation. Banding keeps
    * TYPICAL buckets tiny (background-collision analysis at d2/d14/d16),
    * but boilerplate-heavy crawl corpora concentrate real buckets
    * (template pages, empty docs, licence headers): a bucket of n docs
    * costs O(n) per-task memory in the grouped kernel, so an unguarded
    * million-doc bucket is an executor OOM. 4096 payloads is a few
    * hundred KB buffered — far below task memory — while the salted path
    * it triggers bounds memory at ~2x this cap regardless of n.
    */
  private[ops] val BandBucketCap = 4096L

  /** Route taken by the most recent [[candidatePairsFromBands]] call —
    * "cold" (no hot buckets) or "hot" (sampled hot buckets salted, the
    * rest cold) — observability for the skew-guard specs, the GraphOps
    * `lastRoute` convention. Test-only visibility; results are identical
    * on both routes.
    */
  @volatile private[ops] var lastBandRoute: String = ""

  /** The shared candidate self-join over a banded
    * `(doc_id, band_id, band_key, extras...)` table: docs sharing a band
    * meet in an equi-join on the band key — never all-pairs. Extra columns
    * ride along as `a_<name>`/`b_<name>` so callers (d12 carries the
    * fingerprint) avoid a join-back.
    *
    * `minBands` is a consensus filter on the number of matching bands —
    * the multi-probe count is free (the dedup step is a groupBy anyway)
    * and at high band counts it prunes background collisions by orders of
    * magnitude: a pair matches a band with probability s^rows, so true
    * pairs match many bands while background pairs almost always match
    * exactly one. minBands = 1 is plain LSH (dedup only).
    */
  private[ops] def candidatePairsFromBands(banded: DataFrame, minBands: Int = 1,
      parts: Int = 0, hotCap: Long = BandBucketCap): DataFrame = {
    val extras = banded.columns.filterNot(Set("doc_id", "band_id", "band_key"))
    val names = Seq("a_id", "b_id") ++ extras.flatMap(c => Seq(s"a_$c", s"b_$c"))
    val payload = struct((Seq("doc_id") ++ extras).map(col): _*)
    val out = Seq(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id")) ++
      extras.flatMap(c => Seq(col(s"a.$c").as(s"a_$c"), col(s"b.$c").as(s"b_$c")))
    // Bucket-grouped pair generation rather than a banded SELF-JOIN: one
    // shuffle groups each band bucket, then ordered pairs stream out of
    // two pipelined Generates. A self-join materializes the signature
    // subplan TWICE (once per side — and exchange reuse cannot save a
    // broadcast side), doubling the most expensive CPU stage; here the
    // kernel runs once per document. Per-task memory is O(largest bucket),
    // bounded at `hotCap` by the skew guard below.
    def pairsOf(grouped: DataFrame): DataFrame = grouped
      .filter(size(col("bucket")) >= 2)
      .select(explode(col("bucket")).as("a"), col("bucket"))
      .select(col("a"), explode(col("bucket")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(out: _*)
    // Salted sub-bucket pair generation for hot buckets, pair set provably
    // unchanged (the ContainmentHotCap discipline, except LSH buckets
    // cannot be DROPPED — a hot bucket is exactly the mass-duplicate case
    // dedup exists for). Each doc gets salt = hash(doc_id) mod s and is
    // replicated to the s sub-buckets {min(salt,k), max(salt,k)}; the
    // aggregate keeps the two salt classes as SEPARATE lists, so each
    // sub-bucket emits exactly its wanted pairs — diagonal (k1 == k2):
    // within-list ordered pairs; off-diagonal: the la x lb cross product
    // (a cross-salt pair's two docs land in different lists of exactly
    // ONE sub-bucket, {sa,sb}; a same-salt pair's docs share la in every
    // (sa, k) but only the diagonal enumerates within-list). A first cut
    // enumerated one mixed list and filtered same-salt pairs after the
    // fact — 2.2x the wanted pairs generated, measured 1.55x the
    // unguarded wall on a pure-hot workload; the split-list form emits
    // each pair once. Per (band_id, band_key) every unordered pair
    // appears exactly once, so the minBands consensus count below is
    // untouched. Expected sub-bucket class size is n/s <= ~hotCap
    // payloads (hash-spread salts), the memory bound.
    def saltedPairs(hot: DataFrame): DataFrame = {
      val salted = hot
        .withColumn("salt", pmod(xxhash64(col("doc_id")), col("s").cast("long")).cast("int"))
        .withColumn("k", explode(sequence(lit(0), col("s") - 1)))
        .select(col("band_id"), col("band_key"),
          least(col("salt"), col("k")).as("k1"),
          greatest(col("salt"), col("k")).as("k2"),
          col("salt"), payload.as("p"))
      val grouped = widened(salted, parts, col("band_id"), col("band_key"), col("k1"), col("k2"))
        .groupBy(col("band_id"), col("band_key"), col("k1"), col("k2"))
        .agg(collect_list(when(col("salt") === col("k1"), col("p"))).as("la"),
          collect_list(when(col("salt") === col("k2"), col("p"))).as("lb"))
      val diag = grouped.filter(col("k1") === col("k2"))
        .filter(size(col("la")) >= 2)
        .select(explode(col("la")).as("a"), col("la").as("lst"))
        .select(col("a"), explode(col("lst")).as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(out: _*)
      // cross pairs carry no order guarantee between the salt classes —
      // normalize each pair by doc_id, swapping the whole payload structs
      // so extras stay with their document
      val cross = grouped.filter(col("k1") =!= col("k2"))
        .select(explode(col("la")).as("a"), col("lb"))
        .select(col("a"), explode(col("lb")).as("b"))
        .select(when(col("a.doc_id") < col("b.doc_id"), col("a")).otherwise(col("b")).as("a"),
          when(col("a.doc_id") < col("b.doc_id"), col("b")).otherwise(col("a")).as("b"))
        .select(out: _*)
      diag.unionByName(cross)
    }
    def bucketPairs(df: DataFrame): DataFrame =
      pairsOf(widened(df, parts, col("band_id"), col("band_key"))
        .groupBy(col("band_id"), col("band_key"))
        .agg(collect_list(payload).as("bucket")))
    // Skew detection: a count pre-pass over a DETERMINISTIC 1-in-64 doc
    // sample. The sample predicate is a plain filter on doc_id, so Catalyst
    // pushes it below the signature projection and the pre-pass computes
    // signatures for ~1.6% of the corpus (an unsampled count pre-pass
    // re-paid the full signature scan: measured +57% on d2). Sampled
    // threshold hotCap/256 catches true-size >= hotCap buckets with
    // overwhelming probability (Binomial mean hotCap/64, e.g. 64 samples
    // for the default cap vs a cutoff of 16); buckets a few times SMALLER
    // than the cap occasionally flag too — routing is correctness-neutral,
    // so over-detection only costs the salted plan shape. The bound is
    // PROBABILISTIC, not absolute: a bucket near hotCap whose sample
    // misses the cutoff (P(Binomial(hotCap, 1/64) < 16) ~ 1e-14 at the
    // default cap, growing only for sub-cap buckets that need no guard)
    // falls on the unguarded O(bucket) path — whp is the contract, the
    // same class of guarantee the salt spread itself gives. The hot table
    // stays a lazy DataFrame — nothing but the one `limit(1)` emptiness
    // check reaches the driver, however many buckets are hot — and the
    // common no-skew case takes the original single-aggregation plan
    // verbatim. The check is an EAGER Spark job on every call, so a
    // streaming `banded` fails here, loudly; the streaming near-dup family
    // has its own stateful path.
    val SampleMod = 64L
    val hot = SkewJoin.hotKeys(
      banded.filter(pmod(xxhash64(col("doc_id")), lit(SampleMod)) === 0),
      math.max(1L, hotCap / (SampleMod * 4)), col("band_id"), col("band_key"))
    val pairs =
      if (hot.limit(1).collect().isEmpty) {
        lastBandRoute = "cold"
        bucketPairs(banded)
      } else {
        lastBandRoute = "hot"
        // n-hat = sampled count x SampleMod; s >= 2n/hotCap keeps expected
        // sub-buckets at <= ~2*hotCap docs (sampling noise is within 2x
        // whp at these means). The 4096 clamp bounds replication (fan-out
        // is s per doc) — a bucket needing more holds >8M docs and is
        // dominated by its own O(n^2) pair output, not by the salt
        // replicas. The joins carry no broadcast hint: the planner (AQE
        // at run time) sizes the hot table like any other join side.
        val fanOut = hot.select(col("band_id"), col("band_key"),
          least(lit(4096L), greatest(lit(2L),
            expr(s"(${2 * SampleMod} * `count` + ${hotCap - 1}) div $hotCap"))).cast("int").as("s"))
        bucketPairs(banded.join(fanOut, Seq("band_id", "band_key"), "left_anti"))
          .unionByName(saltedPairs(banded.join(fanOut, Seq("band_id", "band_key"))))
      }
    val grouped = widened(pairs, parts, col("a_id"), col("b_id"))
      .groupBy(names.map(col): _*)
      .count()
    (if (minBands > 1) grouped.filter(col("count") >= minBands) else grouped)
      .drop("count")
  }

  /** Corpus text analysis per (lang, source): document counts, whitespace
    * token counts, BPE-ish subtoken counts (letter runs / digit runs /
    * other symbols), char totals, and a stopword ratio. Ratios are formed
    * as exact integer sums divided once at the end, so the result is
    * order-independent (safe under any shuffle/merge order).
    */
  def d3TextStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("lang"), col("source"), col("n_chars"),
        size(words(col("text"))).cast("long").as("n_tokens"),
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").as("n_subtokens"),
        size(filter(words(col("text")), w => w.isin("the", "a", "of"))).cast("long").as("n_stop"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_subtokens")).as("total_subtokens"),
        sum(col("n_chars")).as("total_chars"),
        // exact-ppm ratio, not round(double, 6): the rounded rational sits
        // on 6 dp half-boundaries where engine rounding rules diverge
        // (the d11 lesson — see QualityPpmSql)
        (expr("(1000000 * sum(n_stop)) div sum(n_tokens)") / lit(1000000.0)).as("stop_ratio"))

  /** Language-ID n-gram/marker heuristic: score each document against
    * per-language marker-word sets and take the arg-max (deterministic
    * precedence on ties), then report the (actual, predicted) confusion
    * matrix. The corpus is synthetic with a language-independent vocabulary
    * (verified: all five langs share the identical word set), so accuracy
    * is meaningless by construction — the operator demonstrates the
    * mechanism, and the oracle pins the deterministic computation.
    */
  def d4LangId(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = words(col("text"))
    def score(markers: String*): Column =
      size(filter(ws, w => w.isin(markers: _*))).cast("long")
    val scored = Tables.documents(spark, sfDir).select(
      col("lang"),
      score("the", "a", "of").as("s_en"),
      score("der", "die", "und").as("s_de"),
      score("le", "la", "et").as("s_fr"),
      score("el", "los", "y").as("s_es"))
    scored
      .withColumn("pred_lang",
        when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
          .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  /** Polynomial rolling-hash document fingerprint (Rabin–Karp style):
    * h = fold over characters of (h*31 + ascii(c)) mod (1e9+7), computed
    * by the fused [[graft.functions.RollingHash]] kernel (bit-identical to
    * the composed aggregate/split form — pinned by RollingHashSpec).
    * Per-row, no shuffle; the classic content-defined fingerprint for
    * exact-dup detection and chunking. (Oracle folds the same polynomial
    * with DuckDB `list_reduce`.)
    */
  def d10RollingHash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.RollingHash.rollingHash(col("text")).as("fp"))

  /** Per-document quality score — the standard pre-training filter
    * signals (length, stopword rate, mean word length) combined into one
    * bounded score. Every input is an exact integer count divided once,
    * so the score is deterministic under any execution order.
    *
    * The d11/d18 quality score at 6 dp, computed ENTIRELY in exact int64
    * arithmetic: q = 0.4·min(1, n/100) + 0.3·(1 − stop/n) +
    * 0.3·min(1, len/(8n)) over common denominator 2000n gives
    * ppm = 10^6·(8n·min(n,100) + 600(n−stop) + 75·min(8n,len)) div 2000n,
    * then quality = ppm/10^6 (one division of identical operands — the
    * same double in every engine). The earlier float formulation rounded
    * a double whose RATIONAL value (denominator 2000n) systematically
    * terminates near 6 dp half-boundaries, where Spark's BigDecimal
    * HALF_UP and DuckDB's multiply-path rounding disagree — an observed
    * 1/500 gate flip at sf0.001.
    */
  private val QNTok = "cast(size(split(lower(trim(text)), ' ')) as bigint)"
  private val QNStop = "cast(size(filter(split(lower(trim(text)), ' '), w -> w in ('the', 'a', 'of'))) as bigint)"
  private val QSumLen = "cast(aggregate(transform(split(lower(trim(text)), ' '), w -> length(w)), 0, (acc, x) -> acc + x) as bigint)"
  private val QualityPpmSql =
    s"(1000000 * (8 * $QNTok * least($QNTok, 100) + 600 * ($QNTok - $QNStop) + " +
      s"75 * least(8 * $QNTok, $QSumLen))) div (2000 * $QNTok)"

  /** quality at 6 dp as an exact double: integer ppm / 10^6. */
  private def qualityCol: Column = expr(QualityPpmSql) / lit(1000000.0)

  def d11Quality(spark: SparkSession, sfDir: String): DataFrame =
    // widened: see d39's note — the quality lambdas, not the scan, are
    // the cost, and they were pinned to row-group parallelism
    scanWide(Tables.documents(spark, sfDir))
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tokens"),
        qualityCol.as("quality"))

  /** Curriculum / difficulty bucketing: per-language quality DECILES
    * over the exact-ppm d11 score — the assignment step of
    * quality-ordered training (curriculum schedules, decile ablations,
    * bucket-weighted sampling). `ntile` over (q_ppm, doc_id) is fully
    * deterministic — the int64 score has no float ties and doc_id
    * breaks exact-score ties identically in both engines.
    *
    * SCALE: a per-language ntile is a per-language total order — fine
    * while languages are few and partitions hold (the d27 discussion),
    * but at 100 TB the curriculum form is approximate CUTOFFS: the
    * q_approx_stats percentile sketch per language broadcasts ~9 cutoff
    * scalars and bucket assignment becomes a zero-shuffle per-row
    * comparison, trading exact decile edges for O(1) memory. This exact
    * form is what the sketch is audited against.
    */
  def d32QualityDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("q_ppm"), col("doc_id"))
    scanWide(Tables.documents(spark, sfDir)) // the d39 quality-lambda note
      .select(col("doc_id"), col("lang"), expr(QualityPpmSql).as("q_ppm"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .select(col("doc_id"), col("lang"),
        (col("q_ppm") / lit(1000000.0)).as("quality"), col("decile"))
  }

  /** The 100 TB decile form promised by [[d32QualityDeciles]]'s SCALE note,
    * now a gate query of its own: per-language approximate decile CUTOFFS
    * (one mergeable quantile sketch per language — `approx_percentile`
    * partials combine map-side, so the only shuffle is ~KB of sketch per
    * language) broadcast back against the corpus, where bucket assignment
    * is a zero-shuffle per-row comparison against 9 scalars. No
    * per-language total order, no `Window` over document rows anywhere in
    * the plan (pinned Window-free + BroadcastHashJoin by PlanShapeSpec).
    * Two corpus scans by design (sketch pass, then assignment pass) —
    * both column-pruned to (doc_id, lang, text); the alternative, a
    * persisted score relation, trades cluster memory for the re-scan and
    * is the same call under `.persist()`.
    *
    * The sketch is the DETERMINISTIC KMV form ([[qualityDecilesKmv]]):
    * per language, the k=1024 documents with the smallest portable
    * 60-bit md5(doc_id) hashes form a uniform sample whose every element
    * is reproducible by any engine that sorts the same hashes — so the
    * gate is a full hash oracle (DuckDB replays sample, cutoffs, and
    * assignment bit-exactly), unlike `approx_percentile`, whose kept
    * elements depend on partial-merge order. That built-in-sketch form
    * remains as [[qualityDecilesCutoff]], rank-error-bounded by
    * DecileCutoffSpec; the KMV form's own disagreement with the exact
    * ntile gate is bounded by DecileKmvSpec.
    */
  def d32QualityDecilesCutoff(spark: SparkSession, sfDir: String): DataFrame =
    qualityDecilesKmv(Tables.documents(spark, sfDir), k = 1024)

  /** [[qualityDecilesKmv]]'s one live scored-projection cache: the
    * quality score re-tokenizes text through three interpreted lambdas
    * per row, and both the KMV cutoff aggregate and the final
    * assignment join consumed it from separate text scans (the
    * tokenBudgetOver persist-first contract, applied here).
    */
  private val d32ScoredCache = new ReplaceOnCallCache

  /** Parameterized core of the KMV decile form — deterministic cutoffs
    * from a bottom-k-by-hash sample ([[graft.functions.BottomKPairs]]:
    * one bounded mergeable aggregate per language, map-side combined;
    * at most k pairs of state per partial regardless of corpus size),
    * broadcast back for zero-shuffle value-based assignment. Cutoff i
    * (i = 1..9) is the sample element at rank ceil(i·kk/10) (integer
    * form `(i*kk+9) div 10`, kk = |sample|); decile = 1 + #cutoffs
    * strictly below the row's score, so cutoff-value ties all land in
    * one bucket (the documented value-semantics trade vs ntile's
    * rank-splitting).
    */
  private[graft] def qualityDecilesKmv(docs: DataFrame, k: Int): DataFrame = {
    val scored = d32ScoredCache.register(scanWide(docs) // the d39 quality-lambda note
      .select(col("doc_id"), col("lang"), expr(QualityPpmSql).as("q_ppm")))
    val cuts = scored
      .withColumn("h", element_at(
        graft.functions.Md5Prefix64.md5Prefix64(array(col("doc_id").cast("string"))), 1))
      .groupBy(col("lang"))
      .agg(graft.functions.BottomKPairs.bottomKPairs(col("h"), col("q_ppm"), k).as("smp"))
      .select(col("lang"),
        expr("array_sort(transform(smp, s -> s.v))").as("vals"),
        size(col("smp")).cast("long").as("kk"))
      .select(col("lang"),
        expr("transform(sequence(1, 9), i -> element_at(vals, cast((i * kk + 9) div 10 as int)))")
          .as("cuts"))
    scored.join(broadcast(cuts), Seq("lang"))
      .withColumn("decile",
        (size(expr("filter(cuts, c -> q_ppm > c)")) + lit(1)).cast("long"))
      .select(col("doc_id"), col("lang"),
        (col("q_ppm") / lit(1000000.0)).as("quality"), col("decile"))
  }

  /** Parameterized core of [[d32QualityDecilesCutoff]]; DecileCutoffSpec
    * drives `accuracy` low to make the sketch error observable.
    */
  def qualityDecilesCutoff(docs: DataFrame, accuracy: Int): DataFrame = {
    val scored = docs
      .select(col("doc_id"), col("lang"), expr(QualityPpmSql).as("q_ppm"))
    val ps = (1 to 9).map(_ / 10.0).mkString(", ")
    val cuts = scored.groupBy(col("lang"))
      .agg(expr(s"approx_percentile(q_ppm, array($ps), $accuracy)").as("cuts"))
    // decile = 1 + #cutoffs strictly below this row's score: ties on a
    // cutoff value all land in the same bucket (value-based semantics, vs
    // ntile's rank-splitting of ties — the documented trade).
    scored.join(broadcast(cuts), Seq("lang"))
      .withColumn("decile",
        (size(expr("filter(cuts, c -> q_ppm > c)")) + lit(1)).cast("long"))
      .select(col("doc_id"), col("lang"),
        (col("q_ppm") / lit(1000000.0)).as("quality"), col("decile"))
  }

  /** End-to-end corpus PREPARATION pipeline — the actual 100 TB use case
    * the individual d-operators exist for, composed into one declarative
    * plan: per-doc language-ID (d4's scorer) and quality score (d11's
    * exact formula) → keep quality >= 0.5 → keep only exact-dup canonicals
    * (d1's fingerprint, keep the smallest doc_id) → drop near-dup losers
    * (the higher id of any d2 pair at Jaccard >= 0.6) → survival stats per
    * (lang, pred_lang). The content-derived keep/drop sets are computed on
    * the FULL corpus, so the decision for a document never depends on
    * filter order. Catalyst fuses the three per-doc annotation passes into
    * one scan; the dedup/near-dup branches are the d1/d2 plans unchanged
    * (only fingerprints and ids shuffle); the final semi/anti joins are
    * id-only. min/max of the (rounded) quality rather than avg keeps the
    * aggregate order-independent and oracle-exact.
    */
  def d18CorpusPrep(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val ws = words(col("text"))
    def score(markers: String*): Column =
      size(filter(ws, w => w.isin(markers: _*))).cast("long")
    val quality = qualityCol // d11's exact-ppm score (see QualityPpmSql)
    // ONE text-reading projection carries langid, quality, n_tokens AND
    // the dedup fingerprint (r15: the canon stage used to be a SECOND
    // full text scan + a doc_id semi-join back). The fp window now
    // shuffles ~24 B/row more than the bare (doc_id, fp) form — at
    // 100 TB that widening is noise against the text scan it deletes.
    // The window runs over ALL rows (quality-filtering first would
    // promote a different canonical when a group's min-id doc is
    // low-quality — a semantics change); the filter lands after.
    val annotated = scanWide(docs).select(
      col("doc_id"), col("lang"),
      when(score("the", "a", "of") >= greatest(score("der", "die", "und"),
          score("le", "la", "et"), score("el", "los", "y")), "en")
        .when(score("der", "die", "und") >= greatest(score("le", "la", "et"),
          score("el", "los", "y")), "de")
        .when(score("le", "la", "et") >= score("el", "los", "y"), "fr")
        .otherwise("es").as("pred_lang"),
      quality.as("quality"),
      size(ws).cast("long").as("n_tokens"),
      fingerprint(col("text")).as("fp"))
    val fpw = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val losers = nearDupPairs(docs).select(col("b_id").as("doc_id")).distinct()
    annotated
      .withColumn("min_id", min(col("doc_id")).over(fpw))
      .filter(col("quality") >= 0.5 && col("doc_id") === col("min_id"))
      .join(losers, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"))
  }

  /** SimHash document fingerprint (16-bit): majority vote per bit over the
    * 60-bit md5 hashes of the document's distinct words, computed by the
    * fused [[graft.functions.SimHashBits]] kernel (bit-identical to the
    * composed aggregate/filter form — pinned by SimHashBitsSpec). Entirely
    * per-row (no shuffle): near-dup docs land within small Hamming
    * distance — [[d12SimhashNeardup]] is that banded join.
    */
  def d5Simhash(spark: SparkSession, sfDir: String): DataFrame =
    scanWide(Tables.documents(spark, sfDir))
      .select(col("doc_id"), array_distinct(words(col("text"))).as("ws"))
      .select(col("doc_id"),
        graft.functions.Md5Prefix64.md5Prefix64(col("ws")).as("hs"))
      .select(col("doc_id"),
        graft.functions.SimHashBits.simhashBits(col("hs"), 16).as("simhash"))

  // d12 parameters: a 48-bit SHINGLE simhash in 4 bands of 12 bits, pair
  // threshold hamming <= 3. Recall is EXACT by pigeonhole — a pair within
  // hamming 3 differs in at most 3 bands, so at least one band is intact
  // and the equi-join emits it; the hamming verify then keeps precision
  // exact. (No probabilistic bound anywhere, unlike MinHash banding.)
  // 48 bits rather than d5's 16: pair search needs collision headroom — 16
  // bits over a corpus-scale doc count pairs everything by birthday alone.
  // Shingle features rather than word sets: this corpus draws all docs
  // from ONE shared vocabulary (d4's caveat), so distinct-word
  // fingerprints converge corpus-wide; 3-word shingles discriminate. At
  // 100 TB the same plan runs a 64-bit fingerprint in 4 x 16-bit bands.
  private val SimhashBits = 48
  private val SimhashBands = 4
  private val SimhashBandBits = SimhashBits / SimhashBands
  private val SimhashMaxHamming = SimhashBands - 1

  /** SimHash banded near-dup join: the O(N) near-dup search d5's doc
    * promises. Fingerprint per-row (no shuffle), band into
    * [[SimhashBands]] equi-join keys, verify candidates with exact bit
    * arithmetic. Output: (a_id, b_id, hd) for pairs within hamming
    * distance [[SimhashMaxHamming]].
    */
  def d12SimhashNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    // coalesce makes the fingerprint provably NON-nullable. Without it the
    // band join keys are nullable, so the optimizer pushes an
    // IsNotNull(band_val) constraint below the Generate — a Filter that
    // re-evaluates the whole split/shingle/md5/simhash chain once per row
    // per side (measured 8x slower at sf0.1). Non-nullable keys generate
    // no constraint; the sentinel is unreachable for non-null text.
    val fp = shingleSets(Tables.documents(spark, sfDir))
      .select(col("doc_id"),
        graft.functions.Md5Prefix64.md5Prefix64(col("shingles")).as("hs"))
      .select(col("doc_id"),
        coalesce(graft.functions.SimHashBits.simhashBits(col("hs"), SimhashBits), lit(-1L)).as("sh"))
    val bandCols = (0 until SimhashBands).map { b =>
      shiftright(col("sh"), b * SimhashBandBits)
        .bitwiseAND(lit((1L << SimhashBandBits) - 1))
    }
    val banded = fp.select(col("doc_id"), col("sh"),
      posexplode(array(bandCols: _*)).as(Seq("band_id", "band_key")))
    candidatePairsFromBands(banded) // fingerprints ride along as a_sh/b_sh
      .withColumn("hd", bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast("long"))
      .filter(col("hd") <= SimhashMaxHamming)
      .select(col("a_id"), col("b_id"), col("hd"))
  }

  /** Deterministic train/val/test split assignment: bucket = (top 60 bits
    * of md5(doc_id || ":split")) mod 100, train < 80, val < 90, else test.
    * The salt suffix keys the split so other hash uses of doc_id stay
    * uncorrelated.
    *
    * SCALE: a pure per-row projection — zero shuffle, zero state. Hashing
    * rather than rand() is the point at 100 TB: a retried or speculative
    * task re-derives the SAME assignment (rand() would leak rows across
    * splits on retry), and the split is reproducible across runs and
    * clusters.
    */
  def d19SplitAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val h = graft.functions.Md5Slices60.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":split")))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), (h % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
  }

  /** Benchmark-contamination audit (the GPT-3-style n-gram collision
    * check): which training documents share a 3-word shingle with the
    * held-out eval slice (doc_id % 97 == 0), and how many shared shingles
    * each has. Output: (doc_id, n_shared) over non-eval documents with at
    * least one collision.
    *
    * SCALE: the eval side of the join is a benchmark — tiny next to a
    * 100 TB corpus — so its distinct 60-bit shingle hashes are BROADCAST
    * and the corpus side streams through the probe without shuffling its
    * exploded grams; the only shuffle is the final per-doc count. Joining
    * 8-byte hashes, not gram strings, keeps the broadcast and the probe
    * rows small; the oracle hashes identically so parity is exact even
    * under (negligible) prefix collisions. Shingle lists are distinct per
    * document, so count(*) after the equi-join is the distinct
    * shared-gram count.
    *
    * d20 consumes the gram stream twice (eval-side distinct + train-side
    * probe) from two scans ON PURPOSE: both consumers shuffle only tiny
    * post-filter subsets (the ~1% eval distinct and the broadcast-join
    * matches), so the r15 gram-hash cache traded two cheap kernel passes
    * for a columnar build + two cache reads of the FULL stream — measured
    * d20 6.3 -> 9.3 bench CPU-s and reverted. At 100 TB the same math
    * holds: the cache writes+reads ~2x the text bytes it saves scanning.
    */
  def d20Contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = gramHashRows(Tables.documents(spark, sfDir))
    val evalGrams = grams.filter(col("doc_id") % 97 === 0).select(col("gh")).distinct()
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalGrams), "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Exploded distinct 60-bit shingle-hash rows `(doc_id, gh)` for any
    * `(doc_id, text)` relation — per-row projection + explode only, so
    * the same code binds to a batch table (d20) or a `readStream` ingest
    * source (s10's at-ingest contamination probe).
    */
  def gramHashRows(docs: DataFrame): DataFrame =
    shingleSets(docs).select(col("doc_id"),
      explode(graft.functions.Md5Prefix64.md5Prefix64(col("shingles"))).as("gh"))

  /** `(band_key, doc_id, grams)` rows for any `(doc_id, text)` relation —
    * batch or STREAMING (every step is a per-row projection + explode, so
    * the same code binds to a `readStream` source): d2's fused MinHash
    * signature, d2's banding (band identity mixed into the xxhash64 key —
    * a cross-band collision can only ADD a candidate, which downstream
    * exact verification rejects), plus the 60-bit gram-hash SET for that
    * verification. Gram-hash Jaccard equals shingle-string Jaccard except
    * under a 60-bit collision within one candidate pair (~2^-60 · |grams|²
    * — the d12/d20 acceptance).
    *
    * CONTRACT: `grams` arrives SORTED ascending — the sort runs once per
    * DOCUMENT in the scan projection (native `array_sort`, before the
    * band explode replicates the array `Bands` times), so the stateful
    * trackers' per-pair exact verify is a plain primitive merge with no
    * per-arrival re-sort (`StreamingQueries.sortedIntersectCount`).
    * Jaccard is set-valued, so ordering is free to choose.
    */
  def bandedGramRows(docs: DataFrame): DataFrame =
    bandedGramRowsCarrying(docs, Nil)

  /** `(band_key, doc_id)` rows WITHOUT the gram payload — the banding
    * for the side-table near-dup layout (`StreamingQueries`' s8/s12):
    * bucket state stores doc IDS and the exact verify runs in a join
    * against [[sortedGramSets]], so the band explode must not replicate
    * every document's gram array once per band ([[Bands]]× the gram
    * volume through the shuffle AND the state store — measured as the
    * dominant byte volume of the tracker rows). Same scan, same ≥3-word
    * floor, same band keys as [[bandedGramRows]].
    */
  def bandedKeyRows(docs: DataFrame): DataFrame =
    bandedGramRowsCarrying(docs, Nil, includeGrams = false)

  /** `(doc_id, grams)` — each banded document's SORTED DISTINCT 60-bit
    * gram-hash set, exactly the `grams` column [[bandedGramRows]] would
    * deliver (same scan, same floor, same hashes — the verify-join side
    * table for the [[bandedKeyRows]] layout). At fixture scale the
    * relation broadcasts; at 100 TB it is the doc-keyed gram-set table
    * the near-dup scaladocs name, met by a shuffle join on doc_id.
    */
  def sortedGramSets(docs: DataFrame): DataFrame =
    shingleSets(docs).select(col("doc_id"),
      array_sort(graft.functions.Md5Prefix64.md5Prefix64(col("shingles"))).as("grams"))

  /** [[bandedGramRows]] with the ingest event time carried through every
    * projection — the bounded-state streaming near-dup
    * (`StreamingQueries.boundedNearDupPairs`) needs each banded row
    * stamped with its document's `ts` so bucket state can be scoped to an
    * event-time horizon.
    */
  def bandedGramRowsTs(docs: DataFrame): DataFrame =
    bandedGramRowsCarrying(docs, Seq("ts"))

  private def bandedGramRowsCarrying(docs: DataFrame, carry: Seq[String],
      includeGrams: Boolean = true): DataFrame = {
    val k = Bands * RowsPerBand
    val carried = carry.map(col)
    val gramCols = if (includeGrams)
      Seq(array_sort(graft.functions.Md5Prefix64.md5Prefix64(expr(ShingleSql))).as("grams"))
    else Nil
    val sig = scanWide(docs)
      .select(col("doc_id") +: lower(trim(col("text"))).as("t") +: carried: _*)
      .filter(size(split(col("t"), " ")) >= 3)
      .select(col("doc_id") +: col("t") +: split(col("t"), " ").as("ws") +: carried: _*)
      .select(col("doc_id") +:
        graft.functions.WordShingleMinHash.wordShingleMinhash(
          col("t"), 3, Seeds.take(k).map(_._1), Seeds.take(k).map(_._2), MinhashP).as("mh") +:
        (gramCols ++ carried): _*)
    val bandKeys = (0 until Bands).map { b =>
      xxhash64(lit(b) +: (0 until RowsPerBand).map(r => col("mh").getItem(b * RowsPerBand + r)): _*)
    }
    sig.select(col("doc_id") +: (gramCols.map(_ => col("grams")) ++
      Seq(explode(array(bandKeys: _*)).as("band_key")) ++ carried): _*)
  }

  /** Top terms per language by a log-free TF-IDF: score(w, lang) =
    * tf(w, lang) * N / df(w), where tf counts occurrences in the
    * language, N is the corpus size and df the number of documents
    * containing w. The log-free rational form is deliberate: every factor
    * is an exact int64, so the one double division is bit-identical in
    * any engine — log() parity across libm implementations is not
    * guaranteed, exact-integer ratios are. Rank preserves the idf
    * ordering monotonically.
    *
    * SCALE: tf (by lang, w) and df (by w, distinct doc) are separate
    * aggregations over the token explode, each with map-side partial
    * aggregation — the source is tokenized twice (different group keys
    * cannot share one shuffle; at 100 TB persist the exploded tokens or
    * accept two scans — two scans beat shuffling the token stream). They
    * rejoin on the term key, vocabulary-sized, and the top-k per language
    * is a WindowGroupLimit over the scored vocabulary, never the token
    * stream. N arrives via a broadcast single-row count aggregate, so the
    * whole query stays one lazy plan (no eager driver count()), and tf is
    * widened to double BEFORE the multiply: tf·N stays exact under 2^53
    * and cannot hit int64 ANSI overflow at corpus scale.
    */
  def d23TfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(words(col("text"))).as("w"))
    val tf = toks.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("w")).agg(count_distinct(col("doc_id")).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score").desc, col("w").asc)
    tf.join(df, "w").crossJoin(broadcast(n))
      .withColumn("score", round(col("tf").cast("double") * col("n_docs") / col("df"), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("w").as("term"), col("score"), col("rank"))
  }

  /** Single-scan form of [[d23TfidfTopTerms]] — the trade documented
    * there ("persist the exploded tokens or accept two scans"), cashed
    * in without either: tokenize ONCE, collapse the token stream to the
    * distinct (w, doc_id, lang) level (map-side partial aggregation
    * collapses each input partition's tokens before anything shuffles),
    * aggregate once more to (w, lang) carrying BOTH sum-of-counts (tf)
    * and docs-per-(w, lang) — and recover df(w) as a window SUM over the
    * vocabulary-level relation, exact because a document has exactly one
    * language, so distinct docs containing w = sum over langs of
    * docs-per-(w, lang). No tf-vs-df join, no second tokenize pass: one
    * corpus scan feeds everything, and every post-collapse shuffle is
    * vocabulary-sized (the per-w window groups are at most |langs| rows).
    * PlanShapeSpec pins exactly one token explode in the plan vs d23's
    * two. At 100 TB re-reading and re-tokenizing the corpus dominates,
    * so this is the production form; d23 stays in the gate as the
    * two-scan baseline the bench compares it against.
    */
  def d23TfidfSingleScan(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val perDoc = docs.select(col("doc_id"), col("lang"),
        explode(words(col("text"))).as("w"))
      .groupBy(col("w"), col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val byLang = perDoc.groupBy(col("w"), col("lang"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("dl"))
    val perW = org.apache.spark.sql.expressions.Window.partitionBy(col("w"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score").desc, col("w").asc)
    byLang
      .withColumn("df", sum(col("dl")).over(perW))
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf").cast("double") * col("n_docs") / col("df"), 6))
      .withColumn("rank", row_number().over(rk).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("w").as("term"), col("score"), col("rank"))
  }

  /** Per-stratum sample size for [[d22StratifiedSample]]. */
  private val StratumN = 8

  /** Deterministic stratified sample: the [[StratumN]] documents with the
    * smallest salted hash per (lang, source) stratum — balanced
    * subsampling for training mixes, where `TABLESAMPLE`/`rand()` can
    * neither stratify nor reproduce.
    *
    * SCALE: rank-by-hash within stratum is one shuffle on the stratum
    * key, and the rank filter plans as WindowGroupLimit — partial top-N
    * runs map-side BEFORE the exchange, so each stratum ships at most
    * N rows per input partition, never the stratum. The hash (not doc_id
    * order) makes the sample unbiased w.r.t. ingest order and stable
    * under retry, and the ":strat" salt decorrelates it from d19's split.
    */
  def d22StratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val h = graft.functions.Md5Slices60.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":strat")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("source")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), h.as("h"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= StratumN)
      .select(col("doc_id"), col("lang"), col("source"), col("rank").cast("long").as("rank"))
  }

  /** Tokens per packed training chunk for [[d27PackChunks]]. */
  private val PackCapacity = 256L

  /** Prefix-sum buckets for [[d27PackChunks]] — the parallelism of the
    * packing order within each language.
    */
  private val PackBuckets = 8

  /** Sequence packing: the pretraining "concatenate the corpus, chunk
    * into fixed token windows" step. Documents are laid out per language
    * in deterministic salted-hash order; each doc occupies token span
    * [tok_start, tok_end) of its language's stream and is assigned every
    * [[PackCapacity]]-token chunk it overlaps, with its offsets inside
    * the chunk. Output: (lang, doc_id, chunk_id, begin_off, end_off) —
    * all exact int64.
    *
    * SCALE: a naive global running sum is a single-partition window per
    * language — the classic scale-killer. This computes the SAME numbers
    * hierarchically: the layout order is (bucket, h, doc_id) where
    * bucket = h mod [[PackBuckets]], so each (lang, bucket) partition
    * cumsums independently in parallel, bucket totals (langs × buckets
    * rows) prefix-sum on a single tiny partition, and a broadcast join
    * adds the offsets back. One shuffle for the bucketed window, one
    * map-side aggregate, zero shuffles after — the chunk explode is a
    * pipelined Generate. The DuckDB oracle computes the straightforward
    * global window over the identical order and matches bit for bit,
    * proving the two-level decomposition exact.
    */
  def d27PackChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val h = graft.functions.Md5Slices60.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":pack")))
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(words(col("text"))).cast("long").as("n_tokens"), h.as("h"))
      .withColumn("b", pmod(col("h"), lit(PackBuckets.toLong)))
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("b")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val local = base.withColumn("local_before",
      coalesce(sum(col("n_tokens")).over(localW), lit(0L)))
    val prefW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val prefix = base.groupBy(col("lang"), col("b"))
      .agg(sum(col("n_tokens")).as("btot"))
      .withColumn("prefix", coalesce(sum(col("btot")).over(prefW), lit(0L)))
      .select(col("lang"), col("b"), col("prefix"))
    local.join(broadcast(prefix), Seq("lang", "b"))
      .withColumn("tok_start", col("prefix") + col("local_before"))
      .withColumn("tok_end", col("tok_start") + col("n_tokens"))
      .withColumn("chunk_id",
        explode(expr(s"sequence(tok_start div $PackCapacity, (tok_end - 1) div $PackCapacity)")))
      .select(col("lang"), col("doc_id"), col("chunk_id"),
        greatest(col("tok_start") - col("chunk_id") * PackCapacity, lit(0L)).as("begin_off"),
        (least(col("tok_end"), (col("chunk_id") + 1) * PackCapacity)
          - col("chunk_id") * PackCapacity).as("end_off"))
  }

  /** Near-dup CLUSTERS: connected components over the d2 pair graph.
    * Pair lists are not directly actionable for dedup — if A~B and B~C,
    * dropping "the second member of each pair" removes B and C even
    * though A~C may not hold. The transitive closure gives one
    * cluster_id (smallest member doc_id) per document, from which the
    * survivor set is `doc_id = cluster_id`.
    *
    * SCALE: the pair graph is LSH-sized (O(true near-dups), not O(N²) —
    * see [[nearDupPairs]]) and [[GraphOps.connectedComponents]] runs
    * over exactly that edge list (a driver union-find at this size, star
    * contraction above its cap), so the clustering step touches only
    * documents that have at least one near-dup. The DuckDB oracle recomputes the closure with a recursive
    * CTE over the brute-force pair set.
    */
  def d25DedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = nearDupPairs(Tables.documents(spark, sfDir))
      .select(col("a_id"), col("b_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    GraphOps.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        count(lit(1)).over(w).cast("long").as("cluster_size"))
  }

  /** Repetition + lexical-diversity quality filter (the Gopher-style
    * "fraction of the text inside the most repeated n-gram" signals):
    * per document, the top bigram and trigram frequency as a fraction of
    * all bigrams/trigrams, plus the type-token ratio. All three ratios
    * are exact ppm integer arithmetic (see [[QualityPpmSql]] for why
    * round(double, 6) cannot gate an oracle).
    *
    * SCALE: ONE scan of `documents` (plan-pinned in PlanShapeSpec). The
    * r14 form read the text column three times — two gram scans unioned
    * plus a base join for the ttr columns; at 100 TB a 3× scan of the
    * widest column is real money. Now a single projection tokenizes
    * once, emits BOTH gram streams from one `posexplode` over a
    * two-element array of gram arrays, and the per-doc scalars
    * (n_tokens, n_distinct) ride the aggregation chain as max()
    * passengers — constant per doc_id, so carrying them is exact and
    * the final doc_id join disappears. The gram stream still collapses
    * map-side: a document's grams live in one partition, so the
    * (doc_id, glen, gram) partial hash aggregation reduces each doc to
    * its distinct grams before anything shuffles; everything after the
    * first aggregation moves only per-doc scalars.
    */
  def d26Repetition(spark: SparkSession, sfDir: String): DataFrame = {
    def gramsExpr(n: Int): String = {
      val parts = (0 until n).map(j => if (j == 0) "ws[i]" else s"ws[i+$j]").mkString(", ")
      s"transform(sequence(0, size(ws) - $n), i -> concat_ws(' ', $parts))"
    }
    val exploded = scanWide(Tables.documents(spark, sfDir))
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
        posexplode(expr(s"array(${gramsExpr(2)}, ${gramsExpr(3)})")))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("pos") + 2).as("glen"), explode(col("col")).as("g"))
    val byLen = exploded
      .groupBy(col("doc_id"), col("glen"), col("g"))
      .agg(count(lit(1)).as("cnt"),
        max(col("n_tokens")).as("n_tokens"), max(col("n_distinct")).as("n_distinct"))
      .groupBy(col("doc_id"), col("glen"))
      .agg(max(col("cnt")).as("top"), sum(col("cnt")).as("n"),
        max(col("n_tokens")).as("n_tokens"), max(col("n_distinct")).as("n_distinct"))
    byLen.groupBy(col("doc_id")).agg(
        max(when(col("glen") === 2, col("top"))).as("top2"),
        max(when(col("glen") === 2, col("n"))).as("n2"),
        max(when(col("glen") === 3, col("top"))).as("top3"),
        max(when(col("glen") === 3, col("n"))).as("n3"),
        max(col("n_tokens")).as("n_tokens"), max(col("n_distinct")).as("n_distinct"))
      .select(col("doc_id"), col("n_tokens"),
        (expr("(1000000 * n_distinct) div n_tokens") / lit(1000000.0)).as("ttr"),
        (expr("(1000000 * top2) div n2") / lit(1000000.0)).as("bigram_rep"),
        (expr("(1000000 * top3) div n3") / lit(1000000.0)).as("trigram_rep"))
  }

  /** Tokenizer-induction primitive: the corpus-wide adjacent-token-pair
    * frequency count that drives one BPE merge step (the top pair is the
    * next merge; training iterates this, re-tokenizing between rounds —
    * demonstrated here as the single-iteration primitive, which is where
    * all the data volume is). Output: the 20 most frequent adjacent
    * pairs with exact counts, ties broken by pair text so both engines
    * pick the same boundary set.
    *
    * SCALE: pairs collapse MAP-SIDE (partial hash agg on the exploded
    * pair stream reduces each partition to its distinct pairs) before
    * one shuffle of (pair, partial count); the top-k is
    * TakeOrderedAndProject over the aggregated vocabulary — no global
    * sort of the pair stream, no second shuffle.
    */
  def d30BpePairs(spark: SparkSession, sfDir: String): DataFrame =
    scanWide(Tables.documents(spark, sfDir))
      .select(words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(
        expr("transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', ws[i], ws[i+1]))")).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)

  /** d33: ITERATED BPE merge training — the full tokenizer-induction loop
    * d30 is one step of. Each of `iters` rounds counts adjacent token
    * pairs corpus-wide, merges THE most frequent pair (ties broken by
    * pair text, as d30) into a single `l+r` token everywhere, and
    * re-tokenizes with the merged vocabulary feeding the next round —
    * canonical BPE, where merged tokens compose (`a+b` can merge again
    * with `c`). Output: the merge table `(iter, pair, cnt)`.
    *
    * The merge application is pure STRING algebra so an oracle replays it
    * bit-exactly with no procedural code: wrap the single-spaced token
    * string so every token owns its boundary spaces
    * (`' ' + replace(t, ' ', '  ') + ' '`), replace `' l  r '` with
    * `' l+r '` — plain left-to-right non-overlapping replace, which IS
    * greedy BPE application, including the self-adjacent case
    * (`b b b -> (b+b) b`, the second occurrence's leading boundary was
    * consumed) — then collapse doubles and trim. Spark's `replace` and
    * DuckDB's `replace` share these exact semantics, which is what makes
    * the iterative oracle hash-exact (d21's iterative-oracle precedent).
    *
    * SCALE: each round is one scan of the corpus (lineage re-applies the
    * i-1 accumulated merges as per-row string ops — no materialized
    * intermediate), one map-side-collapsed pair count (the d30 shape),
    * and a 1-row collect for the argmax (the same k-row driver step as
    * Lloyd's in [[graft.ops.VectorOps]]; a production run with large
    * `iters` would persist the re-tokenized corpus every few rounds to
    * cap lineage depth, exactly as d25 checkpoints its label iteration).
    */
  def d33BpeTrain(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame = {
    import spark.implicits._
    trainedBpeMerges(spark, sfDir, iters).toDF("iter", "pair", "cnt")
  }

  /** The BPE merge table trained ONCE per corpus snapshot
    * ([[TrainedModelCache]] — the r13 batch-trainer discipline): d33,
    * d37 and d74 all need the same `iters`-round merge list, and each
    * training round is a full corpus scan plus a pair-count shuffle, so
    * the three rows re-paid 3x scans apiece per run before this.
    * Deterministic (exact integer pair counts, text-ordered tie
    * breaks), so a hit is bit-identical to a retrain; the spec-
    * parameterized [[bpeTrain]] core keeps training inline for the
    * property pins.
    */
  private[graft] def trainedBpeMerges(spark: SparkSession, sfDir: String,
      iters: Int): Seq[(Int, String, Long)] =
    TrainedModelCache.getOrTrain(s"bpe-merges-$iters", sfDir)(
      bpeTrain(Tables.documents(spark, sfDir), iters).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq)

  /** The BPE training loop over any `(text)` corpus — see [[d33BpeTrain]]. */
  def bpeTrain(docs: DataFrame, iters: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var state = scanWide(docs)
      .select(lower(trim(col("text"))).as("t"))
      .filter(col("t") =!= "")
    val merges = Seq.newBuilder[(Int, String, Long)]
    var i = 1
    var exhausted = false
    while (i <= iters && !exhausted) {
      val top = state
        .select(split(col("t"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(
          expr("transform(sequence(0, size(ws) - 2), i -> struct(ws[i] as l, ws[i+1] as r))")).as("p"))
        .select(col("p.l").as("l"), col("p.r").as("r"))
        .groupBy(col("l"), col("r")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every document merged to one token
      else {
        val (l, r, cnt) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((i, l + " " + r, cnt))
        state = state.select(bpeMergeApply(col("t"), l, r).as("t"))
        i += 1
      }
    }
    merges.result().toDF("iter", "pair", "cnt")
  }

  /** One greedy BPE merge (`l r` -> `l+r`) applied everywhere in a
    * single-spaced token string — the boundary-doubling left-to-right
    * non-overlapping replace documented at [[d33BpeTrain]], shared by
    * training ([[bpeTrain]]) and encoding ([[bpeEncode]]) so the two
    * are the same algebra by construction.
    */
  private def bpeMergeApply(t: Column, l: String, r: String): Column =
    trim(replace(
      replace(
        concat(lit(" "), replace(t, lit(" "), lit("  ")), lit(" ")),
        lit(" " + l + "  " + r + " "), lit(" " + l + "+" + r + " ")),
      lit("  "), lit(" ")))

  /** d37: BPE ENCODE — apply a trained merge table to the corpus, the
    * deployment half of the tokenizer family (d30 counts one round's
    * pairs, d33 trains the merge list, d37 tokenizes with it — the step
    * that actually runs over all 100 TB when a tokenizer ships). Trains
    * `iters` merges with [[bpeTrain]] (driver-side merge list, the same
    * tiny k-row collect as Lloyd's), then re-applies them IN ORDER to
    * every document and reports per-doc token accounting:
    * `(doc_id, n_ws, n_bpe, saved, compress_ppm)` — whitespace tokens,
    * post-merge tokens, merge applications landed in the doc, and the
    * exact-ppm compression ratio.
    *
    * SCALE: the encode pass is ONE corpus scan with zero shuffle — the
    * merge table is a driver constant folded into the per-row expression
    * chain (k nested replaces), and every output column is a per-row
    * projection. At a production vocabulary (30k+ merges) the expression
    * chain would be replaced by a broadcast merge list applied in a
    * batched `mapPartitions` loop (same order semantics, one pass per
    * partition, no per-merge plan nodes); at gate size the declarative
    * chain is exact and keeps the whole pass in codegen.
    */
  def d37BpeEncode(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val merges = trainedBpeMerges(spark, sfDir, iters)
      .sortBy(_._1).map(_._2)
    bpeEncode(docs, merges)
  }

  /** Tokenize any `(doc_id, text)` corpus with an ordered BPE merge
    * list — see [[d37BpeEncode]]. `carry` columns ride the scan into
    * the output unchanged (d74's lang rollup — no re-attach join).
    */
  def bpeEncode(docs: DataFrame, merges: Seq[String], carry: Seq[String] = Nil): DataFrame = {
    val base = scanWide(docs)
      .select(col("doc_id") +: carry.map(col) :+ lower(trim(col("text"))).as("t"): _*)
      .filter(col("t") =!= "")
    val encoded = merges.foldLeft(col("t")) { (t, pair) =>
      val Array(l, r) = pair.split(" ")
      bpeMergeApply(t, l, r)
    }
    base.select(col("doc_id") +: carry.map(col) :+
        size(split(col("t"), " ")).cast("long").as("n_ws") :+
        size(split(encoded, " ")).cast("long").as("n_bpe"): _*)
      .withColumn("saved", col("n_ws") - col("n_bpe"))
      .withColumn("compress_ppm", expr("(1000000 * n_bpe) div n_ws"))
  }

  /** d74: TOKENIZER FERTILITY REPORT — the per-language audit shipped
    * with every tokenizer release (fertility = subword tokens per
    * whitespace word, the multilingual-equity metric of the XLM-R /
    * NLLB tokenizer analyses): d33's trained merge list applied by
    * [[bpeEncode]], rolled up per language into exact integer ppm. A
    * language whose fertility stays near 10^6 gains nothing from the
    * shared vocabulary (under-served by the training mix) — the signal
    * mixture rebalancing (d29/d44) consumes. Output:
    * `(lang, n_docs, total_words, total_bpe, fertility_ppm)`.
    *
    * SCALE: d37's zero-shuffle encode scan with lang CARRIED through
    * it (no re-attach join, no second text pass), then one map-side-
    * combined rollup to O(langs) rows.
    */
  def d74TokenFertility(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val merges = trainedBpeMerges(spark, sfDir, iters)
      .sortBy(_._1).map(_._2)
    bpeEncode(docs, merges, carry = Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_ws")).as("total_words"),
        sum(col("n_bpe")).as("total_bpe"))
      // Euclidean split (the d47/d67 discipline): these are CORPUS-sized
      // sums, so the naive 10^6 * total_bpe wraps int64 past ~9.2e12
      // tokens per language; the split is value-identical and keeps
      // every intermediate under 10^6 * total_words' REMAINDER
      .withColumn("fertility_ppm", expr(
        "(total_bpe div total_words) * 1000000" +
          " + ((total_bpe % total_words) * 1000000) div total_words"))
  }

  /** Language-MIXTURE rebalancing — the "data mixing" step of a
    * pretraining pipeline: downsample every language to (approximately)
    * the size of the smallest one by a deterministic per-document hash
    * gate. Each language keeps documents whose hash bucket (md5 top-60
    * bits mod 1e6, salt `:mix`) falls under its keep rate
    * `rate_ppm = floor(1e6 * n_min / n_lang)` — reproducible under
    * retries/speculation where `rand()` is not, and tunable to ANY
    * target mixture by swapping the rate table. Output:
    * (doc_id, lang, rate_ppm) for kept documents.
    *
    * SCALE: this is the RATE form, not the exact-N form — the corpus
    * side never shuffles and never ranks. The per-lang counts are one
    * partial+final aggregate over (lang) — a few dozen rows — the global
    * min is a one-row aggregate of THAT, and the rate table broadcasts
    * back for a per-row predicate. An exact-N variant needs a per-lang
    * total order (see d22's WindowGroupLimit for the bounded-N case or
    * d27's two-level prefix sum for the unbounded one); at corpus scale
    * mixture weights are rates, and the hash gate keeps them exact-ppm
    * deterministic so the DuckDB oracle reproduces the selection
    * bit for bit.
    */
  def d29LangMixture(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // nmin as a global window over the O(langs) aggregate, not a
    // crossJoin with a second aggregate of the same counts — the join
    // form re-derived counts and re-scanned the lang column (`Probe scan`:
    // 3 scans -> 2); the unpartitioned window is over |langs| rows
    val rates = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("nmin", min(col("n")).over(
        org.apache.spark.sql.expressions.Window.orderBy().rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .select(col("lang"), expr("(1000000 * nmin) div n").as("rate_ppm"))
    val hb = pmod(graft.functions.Md5Slices60.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":mix"))),
      lit(1000000L))
    docs.select(col("doc_id"), col("lang"), hb.as("hb"))
      .join(broadcast(rates), "lang")
      .filter(col("hb") < col("rate_ppm"))
      .select(col("doc_id"), col("lang"), col("rate_ppm"))
  }

  /** Window width (words) of the duplicate-substring unit for
    * [[d28DupSpans]].
    */
  private val SpanW = 8

  /** Duplicate-SUBSTRING span detection (the span-level dedup of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better" —
    * doc-level near-dup d2/d14 is blind to a boilerplate paragraph pasted
    * into thousands of otherwise-unique documents): any [[SpanW]]-word
    * window whose text occurs more than once in the corpus marks its
    * token range, and overlapping/adjacent marked ranges merge into
    * maximal spans. Output: (doc_id, span_begin, span_end, n_grams) —
    * token offsets [begin, end) a span-cut pass would remove, n_grams =
    * duplicated windows merged into the span.
    *
    * SCALE: the exact suffix-array formulation of the paper is replaced
    * by its standard distributed approximation — fixed-width window
    * hashing. Only 8-byte window hashes shuffle (never window text):
    * once for the global occurrence count (partial map-side agg), once
    * for the hash equi-join marking duplicated positions, once
    * partitioned by doc_id for the merge. The merge itself is
    * gaps-and-islands: spans sorted by position within a doc start a new
    * island exactly when they clear the previous window (`pos > prev +
    * W`), so one lag + one running sum + one grouped agg — and the
    * groupBy(doc_id, island) reuses the window's hash-partitioning on
    * doc_id (no fourth shuffle). The oracle recomputes everything from
    * the same md5-prefix hashes, so parity is exact even under a
    * (negligible, 2^-60) hash collision.
    */
  def d28DupSpans(spark: SparkSession, sfDir: String): DataFrame =
    dupSpans(Tables.documents(spark, sfDir))

  /** [[d28DupSpans]] over any `(doc_id, text)` relation. The window
    * hashes come from the fused [[graft.functions.WordWindowMd5]] kernel
    * (one digest per byte RANGE of the normalized text — the composed
    * transform/slice/concat_ws form allocates one window string per
    * token through interpreted lambdas; WordWindowMd5Spec pins them
    * bit-identical).
    */
  def dupSpans(docs: DataFrame): DataFrame = {
    // no length pre-filter: the kernel returns an empty array for
    // sub-window documents and posexplode drops it — a size(split(...))
    // filter would re-tokenize every document just to decide nothing.
    // widened: the window-hash kernel is the d28 wall and this scan is
    // referenced twice (occurrence count + the mark join) — unwidened it
    // ran both passes at row-group parallelism (16x: 2.7x on 32 threads).
    // The two-pass re-derivation is deliberate: the r15 sweep's
    // ReplaceOnCallCache here re-measured d28 5.0 -> 8.7 bench CPU-s
    // (columnar build of the positioned stream + broadcast flips), and a
    // shared unconditional gh repartition measured worse still at
    // fixture stats — see containmentOver's note.
    val grams = scanWide(docs)
      .select(col("doc_id"),
        posexplode(graft.functions.WordWindowMd5.wordWindowMd5(
          lower(trim(col("text"))), SpanW)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("gh"))
    val dup = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select(col("gh"))
    val marked = grams.join(dup, "gh").select(col("doc_id"), col("pos"))
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      // null lag (first row of a doc) falls through to otherwise(1): a new island
      .withColumn("step",
        when(col("pos") <= lag(col("pos"), 1).over(byPos) + SpanW, lit(0L)).otherwise(lit(1L)))
      .withColumn("island", sum(col("step")).over(byPos))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_begin"),
        (max(col("pos")) + SpanW).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_begin"), col("span_end"), col("n_grams"))
  }

  /** The three PII patterns [[redactPii]] scrubs, chosen to have
    * IDENTICAL match semantics in Java regex (Spark) and RE2 (DuckDB):
    * character classes, bounded counted repetition, `\b` word
    * boundaries — no backreferences, no lookaround, no alternation
    * whose greediness the two engines could resolve differently.
    */
  private[ops] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[ops] val IpRe    = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private[ops] val PhoneRe = "\\+1 555-[0-9]{4}\\b"

  /** d38: PII REDACTION — scrub emails, phone numbers, and IPv4
    * addresses from document text, the compliance pass every real
    * training corpus runs before anything else touches it. The synthetic
    * corpus contains no PII by construction (no digit and no `@` appears
    * anywhere — spec-asserted), so the gate PLANTS deterministic PII
    * derived from `doc_id` (doc_id % 4 selects an email, a phone, an IP,
    * or nothing, appended to the text) — the same construction the
    * DuckDB oracle replays, the d16 planted-twin precedent. The operator
    * itself ([[redactPii]]) is generic over any `(doc_id, t)` input.
    *
    * Output: `(doc_id, n_email, n_phone, n_ip, red_md5)` — per-category
    * match counts and the md5 of the redacted text, which pins the
    * actual replacement bytes, not just the counts.
    *
    * SCALE: a pure row-local projection — zero shuffle, regexes compiled
    * once per generated class instance inside codegen'd
    * `RegExpReplace`/`RegExpCount`, the whole pass one codegen span. At
    * 100 TB this is scan-bound, exactly as a compliance sweep should be.
    */
  def d38PiiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    // widened: three regex passes per row ran at row-group parallelism
    // (16x: 1.4x on 32 threads); at deployment width this is a no-op
    // and the pass stays scan-bound as documented
    val docs = scanWide(Tables.documents(spark, sfDir))
    val planted = docs.select(col("doc_id"),
      concat(lower(trim(col("text"))),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@mail.example.com now")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit(" call +1 555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"), lit(" today")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit(" from 10."), pmod(col("doc_id"), lit(256)), lit("."),
            pmod(col("doc_id") * 7, lit(256)), lit("."),
            pmod(col("doc_id") * 13, lit(256)), lit(" logged")))
        .otherwise(lit(""))).as("t"))
    redactPii(planted)
  }

  /** Corpus EXPORT layout — the write path that hands a prepared corpus
    * to training: hive-partitioned by `lang` (the column every
    * downstream mixture/curriculum job filters on), RANGE-partitioned by
    * `(lang, doc_id)` within, and size-bounded via `maxRecordsPerFile`.
    * The range exchange gives every parquet file a doc_id interval
    * DISJOINT from its siblings in the same lang (spec-pinned), so a
    * reader's `doc_id BETWEEN ...` predicate prunes whole files from
    * row-group statistics — at 100 TB, file-level pruning is the
    * difference between listing a directory and scanning it. Files are
    * internally sorted, so any per-doc merge downstream is a streamed
    * merge, not a re-sort.
    *
    * SCALE: `repartitionByRange` samples the key distribution (no
    * global sort on the driver, no single-partition funnel);
    * `maxRecordsPerFile` splits a writer task's output sequentially, so
    * file size is bounded WITHOUT a second shuffle. The lang partition
    * count times range partitions bounds the small-file count — the two
    * knobs a real export tunes together.
    */
  def writeCorpusShards(docs: DataFrame, outDir: String, maxRecordsPerFile: Int,
      rangePartitions: Int = 8): Unit =
    docs.repartitionByRange(rangePartitions, col("lang"), col("doc_id"))
      .sortWithinPartitions(col("lang"), col("doc_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy("lang")
      .parquet(outDir)

  /** Scrub [[EmailRe]]/[[IpRe]]/[[PhoneRe]] from any `(doc_id, t)`
    * input — see [[d38PiiRedact]]. Redaction order: email, then IP,
    * then phone (emails can contain digit runs; nothing a later pattern
    * matches overlaps an earlier placeholder).
    */
  def redactPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        regexp_count(col("t"), lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(col("t"), lit(PhoneRe)).cast("long").as("n_phone"),
        regexp_count(col("t"), lit(IpRe)).cast("long").as("n_ip"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
          EmailRe, "<EMAIL>"), IpRe, "<IP>"), PhoneRe, "<PHONE>")).as("red_md5"))

  /** Token budget for [[d39TokenBudget]] — the corpus-selection cap. */
  private[graft] val TokenBudget = 10000L

  /** Width of one [[d39TokenBudget]] quality bucket in ppm: q_ppm is in
    * [0, 10^6], so `q_ppm div 125000` yields 9 buckets (0..8) that are
    * MONOTONE in the score — ordering by (bucket desc, q_ppm desc,
    * doc_id) IS ordering by (q_ppm desc, doc_id), which is what lets
    * the cumulative sum decompose across buckets.
    */
  private val BudgetBucketPpm = 125000L

  /** [[d39TokenBudget]]'s one live scored-projection cache —
    * [[tokenBudgetOver]] consumes its input twice (offsets aggregate +
    * rank join) and names the persist-first contract for expensive
    * inputs; this caller's quality lambda chain is exactly that.
    */
  private val d39ScoredCache = new ReplaceOnCallCache

  /** Token-budget corpus selection: the "take the best documents until
    * the token budget is full" step of curriculum/budgeted pre-training
    * (quality-ranked greedy selection). Documents are ordered by the
    * exact-ppm d11 quality DESCENDING (doc_id breaks exact ties); a
    * document is selected iff the tokens accumulated STRICTLY BEFORE it
    * are under [[TokenBudget]] — so the budget is filled and the last
    * selected document may straddle the cap, the standard greedy-prefix
    * convention. Output: (doc_id, n_tokens, quality, cum_before), all
    * selection inputs exact int64.
    *
    * SCALE: the naive form is a cumulative sum over ONE global ordering
    * — a single-partition window, the d27 scale-killer. Same cure as
    * d27, but with a twist: the packing order there was hash-major, so
    * any hash prefix worked; here the order is a VALUE (quality), so
    * the parallel unit must be a monotone range of the score —
    * [[BudgetBucketPpm]]-wide quality buckets. Each bucket cumsums its
    * own rows in parallel, the 9 bucket totals prefix-sum on one tiny
    * partition, and a broadcast join re-adds the offsets: one shuffle,
    * no global sort. The selection filter itself cannot push below the
    * window (it depends on the sum), but everything it reads is already
    * column-pruned to 3 int64s/row. The DuckDB oracle runs the single
    * global window over the identical order and matches bit for bit,
    * proving the bucket decomposition exact.
    */
  def d39TokenBudget(spark: SparkSession, sfDir: String): DataFrame =
    tokenBudgetOver(
      // widened: the quality score re-tokenizes the text through three
      // interpreted lambdas per row — at row-group parallelism that scan
      // was the whole 16x wall (the d59/d28 starvation class)
      d39ScoredCache.register(scanWide(Tables.documents(spark, sfDir))
        .select(col("doc_id"),
          size(words(col("text"))).cast("long").as("n_tokens"),
          expr(QualityPpmSql).as("q_ppm"))),
      TokenBudget)
      .select(col("doc_id"), col("n_tokens"),
        (col("q_ppm") / lit(1000000.0)).as("quality"), col("cum_before"))

  /** The bucket-decomposed greedy-prefix selection behind
    * [[d39TokenBudget]], over any (doc_id, n_tokens, q_ppm) relation —
    * factored out so the property suite can drive it with adversarial
    * score/tie distributions (all-one-bucket, bucket-boundary ties,
    * empty buckets) against the naive global window.
    */
  private[graft] def tokenBudgetOver(base0: DataFrame, budget: Long): DataFrame = {
    val base = base0.withColumn("b", expr(s"q_ppm div $BudgetBucketPpm"))
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("q_ppm").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val local = base.withColumn("local_before",
      coalesce(sum(col("n_tokens")).over(localW), lit(0L)))
    val prefW = org.apache.spark.sql.expressions.Window
      .orderBy(col("b").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val prefix = base.groupBy(col("b"))
      .agg(sum(col("n_tokens")).as("btot"))
      .withColumn("prefix", coalesce(sum(col("btot")).over(prefW), lit(0L)))
      .select(col("b"), col("prefix"))
    local.join(broadcast(prefix), Seq("b"))
      .withColumn("cum_before", col("prefix") + col("local_before"))
      .filter(col("cum_before") < budget)
      .select(col("doc_id"), col("n_tokens"), col("q_ppm"), col("cum_before"))
  }

  /** Soft dedup: dedup-AWARE weighted subsampling, the alternative to
    * hard-dropping duplicates that real curation pipelines prefer when
    * duplication itself carries signal (a document repeated across
    * sources is often GOOD — it just must not dominate). Each document
    * gets a sampling score score_ppm = q_ppm div dup_count (its exact
    * d11 quality, split evenly across its exact-dup group, so every
    * unique TEXT contributes ~its quality worth of expected mass no
    * matter how often it was crawled) and survives iff an independent
    * deterministic per-doc hash draw lands under the score — a
    * reproducible Bernoulli(score) thinning, where `rand()` could never
    * give the same corpus twice. Output: the surviving documents with
    * their group size and score.
    *
    * SCALE: dup_count rides d1's single-shuffle window over the 32-byte
    * [[fingerprint]] (only fp + doc_id shuffle — never text); quality,
    * the draw, and the keep decision are per-row expressions on top, so
    * the whole operator is ONE shuffle end to end and the filter is a
    * pipelined projection after the window — no second pass, no join.
    */
  def d41SoftDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val draw = pmod(graft.functions.Md5Slices60.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":soft"))),
      lit(1000000L))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        expr(QualityPpmSql).as("q_ppm"))
      .select(col("doc_id"), col("q_ppm"),
        count(lit(1)).over(w).as("dup_count"))
      .withColumn("score_ppm", expr("q_ppm div dup_count"))
      .filter(draw < col("score_ppm"))
      .select(col("doc_id"), col("dup_count"), col("score_ppm"))
  }

  /** Epoch cap for [[d40EpochMix]] — no language repeats more than this. */
  private[graft] val MaxEpochs = 4L

  /** Domain-mixing upsampling: the static mix-rebalance step of
    * multilingual pre-training (each under-represented language is
    * repeated toward the size of the largest, capped at [[MaxEpochs]]
    * epochs — the "don't repeat data more than ~4 times" rule). Epoch
    * counts are pure integer arithmetic over the per-language doc
    * counts: epochs(lang) = min(MaxEpochs, ceil(max_docs / n_docs)).
    * Output: one (doc_id, lang, epoch) row per scheduled repetition —
    * the materialized sampling plan a training loader consumes.
    *
    * SCALE: per-language counts are one map-side-combined aggregate
    * (O(langs) rows); the window max over that tiny relation is a
    * single partition of ~langs rows (NOT document rows — the d32
    * caveat does not apply); the epochs table broadcasts back and the
    * explode is a pipelined Generate — no shuffle touches document
    * rows beyond the count. Upsampling by explode (not by re-reading)
    * keeps the plan one scan; a real loader would read the plan, not
    * materialize copies.
    */
  def d40EpochMix(spark: SparkSession, sfDir: String): DataFrame = {
    val maxW = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val eps = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("max_docs", max(col("n_docs")).over(maxW))
      .withColumn("epochs",
        least(lit(MaxEpochs), expr("(max_docs + n_docs - 1) div n_docs")))
      .select(col("lang"), col("epochs"))
    Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
      .join(broadcast(eps), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        explode(expr("sequence(1L, epochs)")).as("epoch"))
  }

  /** Draw-space bucket width for [[d42InterleaveOrder]]: the 60-bit md5
    * draw splits into 256 buckets (2^52 wide), so the within-source rank
    * decomposes over source × bucket partitions.
    */
  private[graft] val OrderBucketWidth = 1L << 52

  /** Temperature-scaled mixture sampling — the standard multilingual
    * curation step (mT5/XLM-R's `p_l ∝ n_l^α`, here α = 0.5): each
    * language's share of a half-corpus budget follows the SQUARE ROOT
    * of its size, boosting under-represented languages relative to
    * proportional sampling without d29's hard equalization or d40's
    * repetition. Exactness discipline: sqrt is IEEE correctly-rounded
    * (bit-identical across engines), and everything after it is
    * integer — s_l = floor(sqrt(n_l)·1e6), target_l = min(n_l,
    * (B·s_l) div Σs) with B = total div 2 — so the selected SET is
    * engine-exact, never "approximately temperature-weighted". (At
    * 100 TB row counts, B·s_l approaches int64 range — promote to
    * DECIMAL(38,0) as GraftRecord.sequenceOrder does.) Selection is
    * the exact smallest-draw target_l per language: reproducible, and
    * monotone in the budget (a bigger budget only ADDS documents —
    * the property training-data ablations rely on).
    *
    * SCALE: the per-language rank reuses [[d42InterleaveOrder]]'s
    * draw-space bucket decomposition (offsets broadcast, local rank per
    * (lang, bucket) — parallelism langs × 256 at any corpus size,
    * document rows shuffle once); the target table is O(langs) rows of
    * pure integer arithmetic over order-free sums.
    */
  def d44TemperatureMix(spark: SparkSession, sfDir: String): DataFrame =
    temperatureMixOver(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")))

  /** [[d44TemperatureMix]]'s core over any `(doc_id, lang)` relation —
    * parameterized for the ScalaCheck property pin (the d39
    * `tokenBudgetOver` pattern).
    */
  private[graft] def temperatureMixOver(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val draw = graft.functions.Md5Slices60.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":temp")))
    val base = docs
      .select(col("doc_id"), col("lang"), draw.as("draw"))
      .withColumn("b", expr(s"draw div $OrderBucketWidth"))
    val allW = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(w.unboundedPreceding, w.unboundedFollowing)
    val targets = base.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("s", floor(sqrt(col("n_docs").cast("double")) * lit(1000000L)).cast("long"))
      .withColumn("stot", sum(col("s")).over(allW))   // integer sums: order-free
      .withColumn("ntot", sum(col("n_docs")).over(allW))
      .withColumn("target",
        least(col("n_docs"), expr("((ntot div 2) * s) div stot")))
      .select(col("lang"), col("target"))
    bucketRank(base, Seq("lang"), Seq(col("draw"), col("doc_id")))
      .join(broadcast(targets), Seq("lang"))
      .filter(col("rk") <= col("target"))
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  /** Bucket-decomposed grouped rank — the shared core of d42/d44/d45's
    * selection/ordering operators. Ranks `df`'s rows within each
    * `groupCols` group by `orderCols` (ties must be broken fully — the
    * last order column must be a key) WITHOUT a per-group global window:
    * `df` must carry a long column `b` that is MONOTONE NON-DECREASING
    * along the `orderCols` ordering within every group (a draw-space or
    * score-space quantization). Per-(group, b) counts roll into broadcast
    * prefix offsets — the only single-partition window runs over that
    * O(groups × buckets) relation — and each (group, b) partition ranks
    * locally and adds its offset: parallelism is groups × buckets at any
    * corpus size, and data rows shuffle exactly once (into their rank
    * partition). Returns `df` plus `rk` (1-based rank within the group).
    *
    * `df` is consumed TWICE (the offsets aggregate and the rank join):
    * callers whose input derives from an expensive scan must persist it
    * first (d45/d47 persist their O(docs)-row scored projections; d42/
    * d44's draw projection is one md5 per ROW and re-derives cheaply).
    *
    * [[tokenBudgetOver]] (d39) is the weighted sibling: same
    * decomposition with a SUM accumulator instead of a count.
    */
  private[graft] def bucketRank(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[Column]): DataFrame =
    bucketRank(df, groupCols, orderCols, withTotal = false)

  /** `withTotal = true` additionally emits `tot` = the GROUP's total row
    * count on every ranked row, computed inside the same O(groups ×
    * buckets) offsets aggregation (one more window column over the
    * already-shuffled bucket counts) — a consumer that needs "rank vs
    * group size" (d55's drop-the-top-quarter rule) then needs NO second
    * count aggregation and NO second broadcast join over the data.
    *
    * `withGroupIndex = true` (single group column only) additionally
    * emits `gidx` = the group's 1-based dense index in group sort order —
    * `dense_rank` over the SAME bounded offsets table, replacing the
    * separate distinct-groups scan + single-partition window + second
    * broadcast join the interleave consumers (d42, d50's slot stage)
    * used to pay for the identical value.
    */
  private[graft] def bucketRank(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[Column], withTotal: Boolean = false,
      withGroupIndex: Boolean = false): DataFrame = {
    require(!withGroupIndex || groupCols.size == 1,
      "withGroupIndex needs a single group column")
    val w = org.apache.spark.sql.expressions.Window
    val group = groupCols.map(col)
    val prefW = org.apache.spark.sql.expressions.Window
      .partitionBy(group: _*).orderBy(col("b"))
      .rowsBetween(w.unboundedPreceding, -1)
    val totW = org.apache.spark.sql.expressions.Window
      .partitionBy(group: _*)
      .rowsBetween(w.unboundedPreceding, w.unboundedFollowing)
    val counted = df.groupBy((group :+ col("b")): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(prefW), lit(0L)))
    val outCols = group :+ col("b") :+ col("off")
    var offsets = counted.select((outCols :+ col("n")): _*)
    if (withTotal) offsets = offsets.withColumn("tot", sum(col("n")).over(totW))
    if (withGroupIndex)
      // single-partition window, but over the AGGREGATED O(groups ×
      // buckets) offsets rows — the same bounded model-sized table that
      // broadcasts below, never the data
      offsets = offsets.withColumn("gidx", dense_rank().over(
        org.apache.spark.sql.expressions.Window.orderBy(group.head)).cast("long"))
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy((group :+ col("b")): _*).orderBy(orderCols: _*)
    df.join(broadcast(offsets.drop("n")), groupCols :+ "b")
      .withColumn("rk", col("off") + row_number().over(localW))
      .drop("off") // internal: a chained bucketRank must not collide on it
  }

  /** Reproducible stratified training-order interleave — the "global
    * shuffle" every pre-training pipeline runs before packing: documents
    * are ordered by a seeded per-doc hash draw (never `rand()`, which
    * cannot give the same corpus twice), stratified so round k of the
    * schedule holds the k-th pick of EVERY source — sources interleave
    * evenly from the first batch instead of clumping, and an exhausted
    * source simply drops out of later rounds. Output: (doc_id, source,
    * round, slot); the training order is ORDER BY (round, slot) — a
    * total ORDER, deliberately not a dense global index (densifying is
    * d27/d39's prefix-sum job if a consumer needs one; a loader sorts).
    *
    * SCALE: the naive within-source rank is one window partitioned by
    * source — parallelism collapses to #sources, a real skew at corpus
    * scale. The rank here decomposes over the DRAW SPACE instead (the
    * d39 bucket technique, re-derived for a hash ordering): bucket =
    * draw div 2^52 (256 buckets), per-(source, bucket) counts roll into
    * broadcast prefix offsets (O(sources × 256) rows — the only
    * single-partition window runs over THAT tiny relation), and each
    * (source, bucket) partition ranks locally + offset. Parallelism is
    * sources × 256 regardless of corpus size; document rows shuffle
    * exactly once (into their rank partition). The md5 draw is uniform,
    * so buckets are balanced by construction.
    */
  def d42InterleaveOrder(spark: SparkSession, sfDir: String): DataFrame =
    interleaveOrderOver(Tables.documents(spark, sfDir).select(col("doc_id"), col("source")))

  /** [[d42InterleaveOrder]]'s core over any `(doc_id, source)` relation —
    * parameterized for the ScalaCheck property pin.
    */
  private[graft] def interleaveOrderOver(docs: DataFrame): DataFrame = {
    val draw = graft.functions.Md5Slices60.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":order")))
    val base = docs
      .select(col("doc_id"), col("source"), draw.as("draw"))
      .withColumn("b", expr(s"draw div $OrderBucketWidth"))
    // slot = the source's dense index, from the SAME offsets broadcast
    // the rank join already reads (bucketRank withGroupIndex)
    bucketRank(base, Seq("source"), Seq(col("draw"), col("doc_id")),
        withGroupIndex = true)
      .withColumnRenamed("rk", "round")
      .select(col("doc_id"), col("source"), col("round"), col("gidx").as("slot"))
  }

  /** Hashed-feature bucket count for [[d45DsirSelect]]. 256 buckets is
    * deliberately coarse for the fixture vocabulary; the production knob
    * is 10^4–10^5 (the DSIR paper uses 10^4) and everything here is
    * O(buckets) driver state, so raising it is free until the weight
    * table stops being a broadcastable literal.
    */
  private[graft] val DsirBuckets = 256

  /** Score-space quantization width for d45's [[bucketRank]] ranking:
    * scores are fixed-point 2^-20 log-likelihood units, so 2^22-wide
    * buckets = 4-bit steps of raw log-ratio — fine enough that rank
    * parallelism stays high, coarse enough that the offset table stays
    * tiny. The score RANGE grows with document length, not corpus size,
    * so the bucket count is corpus-independent.
    */
  private val DsirScoreBucketWidth = 1L << 22

  /** 20-fractional-bit fixed-point binary logarithm of a positive long:
    * floor(log2(n) · 2^20) computed by the classic shift-and-square
    * recurrence. Every step is an IEEE-754 double multiply / power-of-two
    * divide / compare — all correctly rounded and engine-independent — so
    * Spark-side weights and the DuckDB oracle's recursive-CTE replay of
    * this exact recurrence are BIT-IDENTICAL, the same discipline that
    * lets d44 use sqrt. (A libm log() would not be: ln is not required to
    * be correctly rounded, and a 1-ulp disagreement under floor-to-fixed
    * flips a weight.)
    */
  private[graft] def log2Fx(n: Long): Long = {
    require(n > 0, s"log2Fx domain: $n")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(n)
    var m = n.toDouble / java.lang.Math.pow(2.0, e.toDouble) // exact: n < 2^53, 2^e exact
    var frac = 0L
    var i = 0
    while (i < 20) {
      m = m * m
      if (m >= 2.0) { frac = frac * 2 + 1; m = m / 2 } else frac = frac * 2
      i += 1
    }
    e.toLong * (1L << 20) + frac
  }

  /** DSIR-style data selection via importance resampling (Xie et al.,
    * NeurIPS 2023 — hashed n-gram importance weights): documents are
    * scored by the log-likelihood ratio of a TARGET unigram distribution
    * (here: the English slice, the "looks like the domain I want" proxy)
    * against the RAW pool distribution, over [[DsirBuckets]] hashed word
    * features, and the top quarter by score is selected. Weight of
    * feature f: w_f = log p_t(f) − log p_r(f) with add-one smoothing,
    * in [[log2Fx]] fixed-point units so the score is an exact int64 sum;
    * doc score = Σ over token OCCURRENCES of w_bucket(token) — exactly
    * the doc's log importance weight under the bag-of-hashed-unigrams
    * model. Output: (doc_id, score, rk) for the selected k = N div 4.
    *
    * SCALE, in three corpus passes none of which shuffles document text:
    * (1) the feature-count pass is one map-side-combined aggregate to
    * O(buckets) rows, collected like kmeansCentroids' k-row table;
    * (2) the weight table rides the SCORING scan as a dense array
    * literal indexed positionally by bucket (element_at is O(1); a map
    * literal's lookup is a linear probe) — scoring is a zero-shuffle
    * codegen'd projection; (3) selection is [[bucketRank]] over the
    * score-space quantization (score-range buckets, NOT a global
    * TakeOrdered: k = N/4 is corpus-sized, so top-k-to-driver is not an
    * option). The count() for k is a parquet metadata read.
    */
  def d45DsirSelect(spark: SparkSession, sfDir: String): DataFrame =
    dsirSelectWith(lmDocs(spark, sfDir), trainedDsirWeights(spark, sfDir))

  /** DSIR importance weights trained once per corpus snapshot — the d45
    * batch row and the s16 gate share one training aggregate per
    * session (see [[trainedPplModel]]'s rationale).
    */
  private[graft] def trainedDsirWeights(spark: SparkSession, sfDir: String): Array[Long] =
    TrainedModelCache.getOrTrain("dsir-wts", sfDir)(dsirWeights(lmDocs(spark, sfDir)))

  /** [[d45DsirSelect]]'s core over any `(doc_id, is_target, text)`
    * relation — parameterized for the ScalaCheck property pin (trains
    * inline; the sfDir entry point shares the cached weights).
    */
  private[graft] def dsirSelectOver(docs: DataFrame): DataFrame =
    dsirSelectWith(docs, dsirWeights(docs))

  private def dsirSelectWith(docs: DataFrame, wts: Array[Long]): DataFrame = {
    val k = docs.count() / 4
    // persist the O(docs)-row scored projection (the d13 persisted-cell-
    // assignment pattern): bucketRank consumes it twice (offsets + rank
    // join) and re-deriving it re-runs the md5-per-token scoring scan
    val scored = scanWide(docs).select(col("doc_id"), dsirScore(wts, col("text")).as("score"))
      .withColumn("b", expr(s"(-score) div $DsirScoreBucketWidth"))
      .persist()
    bucketRank(scored, Seq.empty, Seq(col("score").desc, col("doc_id")))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("score"), col("rk"))
  }

  /** The importance-weight table: per-bucket fixed-point log-likelihood
    * ratios, from ONE map-side-combined aggregate collected at O(buckets)
    * (the kmeansCentroids small-model precedent). Dense in bucket id:
    * buckets absent from the pool keep the smoothed t=r=0 weight
    * (lR − lT), so a STREAMED document with unseen tokens (s16) still
    * scores — the batch scan never consults them.
    */
  private[graft] def dsirWeights(docs: DataFrame): Array[Long] = {
    val B = DsirBuckets
    val counts = docs
      .select(col("is_target"), explode(words(col("text"))).as("w"))
      .select(pmod(graft.functions.Md5Slices60.md5Prefix60(col("w")),
        lit(B.toLong)).as("f"), col("is_target"))
      .groupBy(col("f"))
      .agg(count(lit(1)).as("r"), count_if(col("is_target")).as("t"))
      .collect()
    val tTot = counts.map(_.getAs[Long]("t")).sum
    val rTot = counts.map(_.getAs[Long]("r")).sum
    val (lT, lR) = (log2Fx(tTot + B), log2Fx(rTot + B))
    val wts = Array.fill[Long](B)(lR - lT)
    counts.foreach { row =>
      val f = row.getAs[Long]("f").toInt
      wts(f) = (log2Fx(row.getAs[Long]("t") + 1) - lT) -
        (log2Fx(row.getAs[Long]("r") + 1) - lR)
    }
    wts
  }

  /** The zero-shuffle scoring expression: fold the token array through a
    * positional lookup into the dense per-bucket weight literal. Shared
    * verbatim by the batch selection and the s16 at-ingest gate (the two
    * must agree bit for bit on every document).
    */
  private[graft] def dsirScore(wts: Array[Long], text: Column): Column = {
    val B = DsirBuckets
    // ONE literal node (the d13 lesson): array(lit, lit, ...) builds an
    // O(buckets)-node expression tree that codegen chokes on
    val wlit = typedlit(wts.toSeq)
    aggregate(words(text), lit(0L), (acc, w) => acc +
      element_at(wlit,
        (pmod(graft.functions.Md5Slices60.md5Prefix60(w), lit(B.toLong)) + 1)
          .cast("int")))
  }

  /** Token capacity of one training chunk in [[d50TrainingPlan]]. */
  private[graft] val PlanChunkTokens = 2048L

  /** Draw-bucket width for d50's packing prefix sum: the (round, slot)
    * training order is monotone in `round`, so rounds quantize into the
    * parallel cumsum buckets (the d39 monotone-bucket requirement, met
    * by construction).
    */
  private val PlanRoundBucket = 64L

  /** d50's three live stage caches ([[ReplaceOnCallCache]] lifetime
    * contract), persisted MEMORY_AND_DISK_SER: each stage is O(selected
    * docs) rows of fixed-width integers, so at 100 TB the serialized
    * spill-ready tier keeps a memory-pressured executor degrading to
    * disk instead of evicting and recomputing the text-reading base
    * projection (D50PersistSpec pins tier and eviction survival).
    */
  private val d50CanonCache = new ReplaceOnCallCache
  private val d50SelectedCache = new ReplaceOnCallCache
  private val d50OrderedCache = new ReplaceOnCallCache
  private[graft] def d50Caches = Seq(d50CanonCache, d50SelectedCache, d50OrderedCache)
  private val D50Tier = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** The composed TRAINING PLAN — the d18 composition idea applied to
    * the curation-to-loader handoff, end to end in one query: exact-dup
    * canonicals (d1's fingerprint identity) → temperature-scaled
    * per-language selection over the survivors (d44's α = 0.5 integer
    * targets against a half-budget) → the reproducible stratified
    * interleave order (d42's seeded draw: round k holds every source's
    * k-th surviving pick) → token packing of that order into
    * fixed-capacity chunks (d27's greedy prefix rule at
    * [[PlanChunkTokens]]). Output: (doc_id, lang, source, n_tokens,
    * round, slot, chunk_id) — the materialized schedule a training
    * loader consumes directly: ORDER BY (round, slot) is the read
    * order, chunk_id the batch boundary, and n_tokens rides along so
    * token accounting (loader sizing, the d70 manifests) never re-joins
    * the corpus.
    *
    * SCALE: four data shuffles end to end, each O(selected rows) of
    * fixed-width integers (fp window; lang-rank; source-rank; pack
    * cumsum) — text is read once in the first projection and never
    * moves. Every rank/cumsum runs bucket-decomposed ([[bucketRank]] /
    * the d39 two-level prefix sum with bucket = round div
    * [[PlanRoundBucket]], monotone in the order by construction); the
    * only single-partition windows are the O(buckets) offset tables,
    * broadcast back. The DuckDB oracle replays all four stages with
    * plain global windows — matching it proves every decomposition.
    */
  def d50TrainingPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val fpW = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    // both 60-bit draws from ONE native md5 of the doc_id (r15: the r14
    // form drew twice over salted strings through hex round-trips —
    // see graft.functions.Md5Slices60's scaladoc for the cut)
    val draws = graft.functions.Md5Slices60.md5Slices60(col("doc_id").cast("string"))
    // one text-reading projection; 32-byte fp + integers from here on
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        fingerprint(col("text")).as("fp"),
        size(words(col("text"))).cast("long").as("n_tokens"),
        draws.getItem(0).as("dtemp"), draws.getItem(1).as("dorder"))
    val canon = d50CanonCache.register(base
      .withColumn("min_id", min(col("doc_id")).over(fpW))
      .filter(col("doc_id") === col("min_id"))
      .drop("fp", "min_id"),
      D50Tier) // consumed by targets + both ranks + the pack cumsum
    val allW = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(w.unboundedPreceding, w.unboundedFollowing)
    val targets = canon.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("s", floor(sqrt(col("n_docs").cast("double")) * lit(1000000L)).cast("long"))
      .withColumn("stot", sum(col("s")).over(allW))
      .withColumn("ntot", sum(col("n_docs")).over(allW))
      .withColumn("target", least(col("n_docs"), expr("((ntot div 2) * s) div stot")))
      .select(col("lang"), col("target"))
    val selected = d50SelectedCache.register(bucketRank(
        canon.withColumn("b", expr(s"dtemp div $OrderBucketWidth")),
        Seq("lang"), Seq(col("dtemp"), col("doc_id")))
      .join(broadcast(targets), Seq("lang"))
      .filter(col("rk") <= col("target"))
      .drop("rk", "b", "target"),
      D50Tier)
    // slot rides the bucketRank offsets table (withGroupIndex) — the r14
    // form paid a distinct-sources scan + single-partition window + a
    // second broadcast join for the same dense index
    val ordered = d50OrderedCache.register(bucketRank(
        selected.withColumn("b", expr(s"dorder div $OrderBucketWidth")),
        Seq("source"), Seq(col("dorder"), col("doc_id")), withGroupIndex = true)
      .withColumnRenamed("rk", "round")
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens"), col("round"), col("gidx").as("slot")),
      D50Tier)
    // d39's two-level prefix sum over the (round, slot) total order,
    // bucketed by round ranges (monotone in the order by construction)
    val pb = ordered.withColumn("pb", expr(s"round div $PlanRoundBucket"))
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pb")).orderBy(col("round"), col("slot"))
      .rowsBetween(w.unboundedPreceding, -1)
    val prefW = org.apache.spark.sql.expressions.Window
      .orderBy(col("pb")).rowsBetween(w.unboundedPreceding, -1)
    val prefix = pb.groupBy(col("pb")).agg(sum(col("n_tokens")).as("btot"))
      .withColumn("prefix", coalesce(sum(col("btot")).over(prefW), lit(0L)))
      .select(col("pb"), col("prefix"))
    pb.withColumn("local_before", coalesce(sum(col("n_tokens")).over(localW), lit(0L)))
      .join(broadcast(prefix), Seq("pb"))
      .withColumn("chunk_id", expr(s"(prefix + local_before) div $PlanChunkTokens"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("round"), col("slot"), col("chunk_id"))
  }

  /** Containment threshold for [[d49Containment]] (ppm): a document 80%
    * of whose windows appear in another is a subset-duplicate.
    */
  private[graft] val ContainmentPpm = 800000L

  /** Stop-window cap for [[d49Containment]]: a window shared by more
    * documents than this is boilerplate (navigation chrome, license
    * headers), not evidence of containment — it would fan the candidate
    * join out by its occurrence count SQUARED while carrying no signal.
    * Such windows are excluded from BOTH sides of the ratio (the
    * stopword-removal convention), which also bounds every per-hash join
    * group: the d2-banding stop-gram analog, materialized as code.
    */
  private[graft] val ContainmentHotCap = 256L

  /** Containment (asymmetric near-dup) detection — the subset-duplicate
    * case symmetric Jaccard misses by construction: a short document
    * embedded in a much longer one (wire-story reprints inside portals,
    * quoted posts, boilerplate-wrapped articles) can have Jaccard ~0
    * against its superset while being 100% redundant. Containment of A
    * in B = |windows(A) ∩ windows(B)| / |windows(A)| over d28's 8-word
    * rolling windows; emit ordered pairs at ≥ [[ContainmentPpm]], the
    * contained side first. Exact integer ppm; the oracle replays it
    * from the same 60-bit window hashes.
    *
    * SCALE: candidate pairs come from the window-hash EQUI-join (only
    * hashes shuffle, the d28/d20 discipline) — a pair must share an
    * 8-word window to be considered, which at 0.8 containment it
    * provably does (any A with ≥1 window has ≥0.8·|windows| shared). The
    * per-hash fan-out is the d28 duplication profile: bounded by how
    * often one exact window recurs corpus-wide; a pathological
    * boilerplate window (shared by millions of docs) is the d2-banding
    * analog of a stop-gram — cap-and-log per-hash group size at
    * deployment, exactly as the dup-span family documents.
    */
  def d49Containment(spark: SparkSession, sfDir: String): DataFrame =
    containmentOver(Tables.documents(spark, sfDir))

  /** [[d49Containment]]'s core over any `(doc_id, text)` relation —
    * parameterized for the planted-subset spec.
    */
  private[graft] def containmentOver(docs: DataFrame): DataFrame = {
    val raw = scanWide(docs)
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.WordWindowMd5.wordWindowMd5(
          lower(trim(col("text"))), SpanW))).as("gh"))
    // the hot list is tiny (windows above the cap), so excluding
    // stop-windows is one broadcast anti join — no second corpus shuffle.
    // The kernel re-derives per consumer ON PURPOSE: the r15 sweep tried
    // a ReplaceOnCallCache on `raw` (d49 14.1 -> 18.3 bench CPU-s: the
    // columnar build plus accurate-small-stats broadcast flips cost more
    // than the rescans) and an unconditional shared gh repartition
    // (worse still — the optimizer's BHJ flips at fixture stats keep the
    // copies from reusing one exchange and each copy pays the shuffle).
    // At 100 TB stats are large, the self-join stays a sort-merge on gh,
    // and the two sides' canonically-equal exchanges reuse one kernel
    // pass — the shape this plain form plans there.
    val hot = raw.groupBy(col("gh")).agg(count(lit(1)).as("n"))
      .filter(col("n") > ContainmentHotCap).select(col("gh"))
    // ~40 distinct 8-word windows per ~300-char doc (width heuristic)
    val parts = pairParts(docs, 40)
    val grams = widened(raw.join(broadcast(hot), Seq("gh"), "left_anti"),
      parts, col("gh"))
    val na = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_a"))
    val shared = widened(
        grams.select(col("doc_id").as("a_id"), col("gh"))
          .join(grams.select(col("doc_id").as("b_id"), col("gh")), "gh")
          .filter(col("a_id") =!= col("b_id")),
        parts, col("a_id"), col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("n_shared"))
    shared.join(na.withColumnRenamed("doc_id", "a_id"), "a_id")
      .withColumn("cont_ppm", expr("(1000000 * n_shared) div n_a"))
      .filter(col("cont_ppm") >= ContainmentPpm)
      .select(col("a_id"), col("b_id"), col("n_a"), col("n_shared"), col("cont_ppm"))
  }

  /** Containment CLUSTERS — the dedup-actionable rollup of [[d49Containment]]
    * (d25's move applied to the asymmetric edge set): connected components
    * over the undirected containment graph, labeling every involved
    * document with its component's smallest doc_id. A reprint CHAIN
    * (A ⊂ B, B duplicated as C, C ⊂ D) becomes ONE cluster to keep one
    * representative from — pairwise output alone would deduplicate it
    * piecemeal. Output: (doc_id, cluster_id, cluster_size) for documents
    * in at least one containment pair.
    *
    * SCALE: edges are d49's (already hot-capped) pairs normalized to
    * undirected form; components run [[GraphOps.connectedComponents]]
    * (the d25 machinery verbatim); the size window partitions by cluster
    * over O(involved docs) rows.
    */
  def d51ContainmentClusters(spark: SparkSession, sfDir: String): DataFrame =
    containmentClustersOver(Tables.documents(spark, sfDir))

  /** [[d51ContainmentClusters]]'s core over any `(doc_id, text)` relation
    * — parameterized for the planted-chain spec.
    */
  private[graft] def containmentClustersOver(docs: DataFrame): DataFrame = {
    val pairs = containmentOver(docs)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    GraphOps.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        count(lit(1)).over(w).cast("long").as("cluster_size"))
  }

  /** Cross-split leakage audit — the eval-integrity check run after any
    * d19-style split: an exact duplicate (d1's canonical fingerprint)
    * appearing in BOTH train and a held-out split means the held-out
    * copy measures memorization, not generalization. Emits every
    * CONTAMINATED held-out document with its split, how many train-side
    * twins it has, and the smallest such train doc (the witness a triage
    * UI links to). Composes the two pinned identities verbatim: d19's
    * seeded split hash and d1's fingerprint — leakage found under any
    * other definition would not correspond to what those operators
    * shipped.
    *
    * SCALE: the d41/d1 single-shuffle shape — one scan projects
    * (doc_id, fp, split), the fp-partitioned window computes the
    * train-side count and witness with conditional aggregates, and the
    * held-out filter is a pipelined projection on top. Only the 32-byte
    * fingerprint + split shuffle; text never moves, no join, no second
    * pass.
    */
  def d48SplitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val h = graft.functions.Md5Slices60.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":split")))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        when((h % 100) < 80, "train").when((h % 100) < 90, "val")
          .otherwise("test").as("split"))
      .select(col("doc_id"), col("split"),
        count_if(col("split") === "train").over(w).as("n_train_dups"),
        min(when(col("split") === "train", col("doc_id"))).over(w).as("first_train_id"))
      .filter(col("split") =!= "train" && col("n_train_dups") >= 1)
  }

  /** Hashed-bigram bucket count for [[d47PplFilter]]'s LM. As with
    * [[DsirBuckets]], deliberately small for the fixture vocabulary; the
    * production knob is millions of buckets and the model stays O(buckets)
    * driver state either way.
    */
  private[graft] val PplBigramBuckets = 4096

  /** Per-bigram score offset for d47: shifts every (negative) log-prob
    * term into nonnegative range so the truncating integer division both
    * engines share IS floor division (Spark's `div` truncates toward
    * zero, DuckDB's `//` floors — they agree only on nonnegatives). A
    * per-bigram CONSTANT shift is rank-neutral for the per-bigram
    * average the terciles order by. 2^26 fixed-point = 64.0 in log2
    * units, safely above any term's magnitude (|term| <= log2(count)+8
    * < 64 until per-bucket counts pass 2^56).
    */
  private[graft] val PplTermOffset = 1L << 26

  /** Score-space bucket width for d47's tercile [[bucketRank]]: average
    * fixed-point 2^-40 units (the 2^-20 log quantization divided through
    * by n_bigrams carries another 2^20 scale), range bounded by the
    * offset band — corpus-independent like d45's.
    */
  private val PplScoreBucketWidth = 1L << 38

  /** CCNet-style LM-perplexity quality bucketing (Wenzek et al. 2020 —
    * the head/middle/tail split every web-scale curation pipeline runs):
    * a hashed add-one BIGRAM language model trains on the TARGET slice
    * (the English documents, as d45), every document is scored by its
    * per-bigram average log-probability proxy, and documents split into
    * perplexity terciles by rank — `head` reads most like the target LM.
    * Scoring term for bigram (w1, w2): log2fx(C(h(w1 w2)) + 1) −
    * log2fx(C(h(w1)) + 256) in [[log2Fx]] fixed point (+[[PplTermOffset]]
    * to stay nonnegative), i.e. an add-one-smoothed conditional over
    * hashed bigram space — the KenLM surrogate that keeps the model
    * O(buckets) and the oracle bit-exact. Documents under 2 tokens have
    * no bigram to score and are excluded (CCNet drops unscorable docs).
    * Output: (doc_id, n_bigrams, avg_fx, ppl_bucket).
    *
    * SCALE: training is ONE map-side-combined grouping-sets aggregate
    * (bigram buckets and context buckets in one shuffle, ≤ 4096+256
    * output rows, collected like kmeansCentroids); scoring rides a
    * second scan as a zero-shuffle fold over two dense array literals;
    * terciles are [[bucketRank]] over the score-space quantization plus
    * one broadcast single-row count. Document text never shuffles.
    */
  def d47PplFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = lmDocs(spark, sfDir)
    val (bigWts, ctxWts) = trainedPplModel(spark, sfDir)
    pplFilterWith(docs, bigWts, ctxWts)
  }

  /** The `(doc_id, is_target, text)` projection every LM-family trainer
    * and scorer reads — target slice = the English documents.
    */
  private def lmDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), (col("lang") === "en").as("is_target"), col("text"))

  /** The hashed bigram LM trained ONCE per corpus snapshot
    * ([[TrainedModelCache]]) — shared by every batch consumer
    * (d47/d67/d69) AND the s21/s23 gates, so one session trains the LM
    * once no matter how many rows score with it: the deployed
    * nightly-train shape the r12 verdict extended to the gates, now
    * covering the batch screens too (each re-paid the training
    * aggregate per run — at 16x that scan, not scoring, owned their
    * walls). Deterministic (exact-integer grouping-sets counts), so a
    * hit is bit-identical to a retrain.
    */
  private[graft] def trainedPplModel(spark: SparkSession, sfDir: String): (Array[Long], Array[Long]) =
    TrainedModelCache.getOrTrain("ppl-lm", sfDir)(pplModel(lmDocs(spark, sfDir)))

  /** Per-document bigram-LM scoring shared by d47's terciles and the
    * s21 at-ingest gate: `(doc_id, n_bigrams, avg_fx)` as a zero-shuffle
    * projection through the fused [[graft.functions.LmScoreFx]] kernel
    * (denom = 1 selects every term — the plain per-bigram average) —
    * one native md5 per token, weights as expression state, the words
    * array referenced once so the gate's pushdown inlining can never
    * duplicate the hash pass. Works identically on a batch relation and
    * a stream (stateless projection). `n_bigrams` re-reads only the
    * cheap split (`ws`), never the hash pass.
    */
  private[graft] def pplScored(docs: DataFrame,
      bigWts: Array[Long], ctxWts: Array[Long]): DataFrame =
    lmScoredBy(docs, bigWts, ctxWts, 1, "avg_fx")

  /** The one scored-projection shape [[pplScored]] (denom 1) and
    * [[minkScored]] (denom [[MinkDenom]]) share.
    */
  private def lmScoredBy(docs: DataFrame, bigWts: Array[Long], ctxWts: Array[Long],
      denom: Int, scoreName: String): DataFrame =
    scanWide(docs)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), (size(col("ws")) - 1).cast("long").as("n_bigrams"),
        graft.functions.LmScoreFx.lmScoreFx(col("ws"), bigWts, ctxWts,
          PplTermOffset, denom).as(scoreName))

  /** floor((acc * 2^20) / n) for nonnegative `acc`, exact at ANY
    * magnitude: the naive (acc * 1048576) form overflows int64 once a
    * document carries ~2^16 bigrams of 2^27-scale terms (a book-length
    * crawl page), and Spark's non-ANSI Long silently wraps where DuckDB
    * errors. The Euclidean split (q·2^20 + floor(r·2^20/n), r = acc
    * mod n < n) keeps every intermediate under 2^48, and each double
    * division below is of an EXACTLY-divisible multiple — the true
    * quotient is an integer below 2^53, so the correctly-rounded IEEE
    * result is bit-exact (the [[log2Fx]] discipline).
    *
    * Built for an aggregate `finish` lambda: `acc` is the fold's
    * accumulator slot, so the whole scoring fold appears ONCE in the
    * expression tree. This matters because the streamed gates filter on
    * the scored value and predicate pushdown inlines the full
    * expression into the filter condition with no cost guard — a
    * two-fold-reference form was MEASURED to double s21's bench CPU
    * (9.1 -> 19.3 s) before this shape restored it.
    */
  private def fxAvg(acc: Column, n: Column): Column = {
    val r = acc % n
    val q = ((acc - r) / n).cast("long")
    val r2 = (r * 1048576L) % n
    val q2 = ((r * 1048576L - r2) / n).cast("long")
    q * 1048576L + q2
  }

  /** Bigram LM bucket from the two words' 60-bit hashes: each word is
    * hashed ONCE per document pass and the pair combines in integer
    * arithmetic — (h1 mod 2^20)·1000003 + (h2 mod 2^20), mod
    * [[PplBigramBuckets]] (every intermediate < 2^41; the odd multiplier
    * mixes the classes so the 4096-bucket distribution matches a direct
    * string hash). The previous form md5-hashed the CONCATENATED bigram
    * string — one extra md5 + string alloc per bigram, ~2x the scoring
    * constant of the whole LM family (s21/s23/d47/d67/d69), for no
    * statistical gain at 4096 buckets. The oracle replays this exact
    * integer combine.
    */
  private[graft] def bigramBucket(h1: Column, h2: Column): Column =
    pmod(pmod(h1, lit(1048576L)) * lit(1000003L) + pmod(h2, lit(1048576L)),
      lit(PplBigramBuckets.toLong))

  /** The per-bigram LM score-term ARRAY over the bound word-hash column
    * `hws` — the composed form of the scoring term, now used only where
    * weight tables must DISPATCH per row (s26's epoch-indexed 2-D
    * literal); the fixed-weights scorers ([[pplScored]]/[[minkScored]])
    * run the fused [[graft.functions.LmScoreFx]] kernel, which replays
    * this exact arithmetic (LmScoreFxSpec pins the two term-for-term).
    * Shape matters as much as content:
    * adjacent hashes pair through `zip_with` over two slices, whose
    * lambda sees ELEMENTS — under optimizer substitution (the streamed
    * gates filter on the scored value, and predicate pushdown inlines
    * the full expression with the hws projection collapsed into it)
    * this at worst duplicates the linear hash pass. The previous
    * index-fold form read `element_at(hws, i)` per term, which the same
    * substitution turned into a PER-TERM re-hash of the whole document
    * — O(tokens^2)/doc, measured 5.6x on s21/s23 before this shape.
    */
  private def pplTerms(bigLit: Column, ctxLit: Column): Column =
    zip_with(slice(col("hws"), lit(1), size(col("hws")) - 1),
      slice(col("hws"), lit(2), size(col("hws")) - 1), (h1, h2) =>
        element_at(bigLit, (bigramBucket(h1, h2) + 1).cast("int")) -
          element_at(ctxLit, (pmod(h1, lit(DsirBuckets.toLong)) + 1).cast("int")) +
          lit(PplTermOffset))

  /** [[d47PplFilter]]'s core over any `(doc_id, is_target, text)`
    * relation — parameterized for the ScalaCheck property pin.
    */
  private[graft] def pplFilterOver(docs: DataFrame): DataFrame = {
    val (bigWts, ctxWts) = pplModel(docs)
    pplFilterWith(docs, bigWts, ctxWts)
  }

  /** [[pplFilterWith]]'s one live scored-projection cache
    * ([[ReplaceOnCallCache]] lifetime contract — the returned ranking
    * references it lazily, so the op cannot unpersist before the
    * caller's action).
    */
  private val pplScoredCache = new ReplaceOnCallCache

  /** [[pplFilterOver]] with a pre-trained LM — shared with [[pplGate]],
    * which needs the same tercile boundary without paying a second
    * training aggregate.
    */
  private def pplFilterWith(docs: DataFrame,
      bigWts: Array[Long], ctxWts: Array[Long]): DataFrame = {
    // persisted O(docs)-row projection (see d45): consumed three times —
    // offsets, rank join, and the tercile count — and each re-derivation
    // would re-run the two-md5s-per-token scoring scan;
    // replace-on-next-call bounds a long session to one live cache
    val scored = pplScoredCache.register(pplScored(docs, bigWts, ctxWts)
      .withColumn("b", expr(s"(-avg_fx) div $PplScoreBucketWidth")))
    val n = broadcast(scored.agg(count(lit(1)).as("n_docs")))
    bucketRank(scored, Seq.empty, Seq(col("avg_fx").desc, col("doc_id")))
      .crossJoin(n)
      .select(col("doc_id"), col("n_bigrams"), col("avg_fx"),
        when(col("rk") <= expr("n_docs div 3"), lit("head"))
          .when(col("rk") <= expr("(2 * n_docs) div 3"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** The hashed bigram LM: dense per-bucket [[log2Fx]] tables
    * (bigram-bucket counts + context-bucket counts over the target
    * slice), from ONE grouping-sets aggregate — both marginals in one
    * shuffle, O(buckets) rows collected.
    */
  private[graft] def pplModel(docs: DataFrame): (Array[Long], Array[Long]) = {
    // bind hws before the per-index lambda (same O(tokens^2) trap as the
    // scoring fold — see pplTermAt); buckets use the SAME word-hash
    // combine the scoring term does (bigramBucket — no copy to drift)
    val pairs = scanWide(docs).filter(col("is_target"))
      .select(words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(graft.functions.Md5Prefix64.md5Prefix64(col("ws")).as("hws"))
      .select(explode(zip_with(slice(col("hws"), lit(1), size(col("hws")) - 1),
        slice(col("hws"), lit(2), size(col("hws")) - 1), (h1, h2) =>
          struct(bigramBucket(h1, h2).as("hb"),
            pmod(h1, lit(DsirBuckets.toLong)).as("hc")))).as("u"))
      .select(col("u.hb").as("hb"), col("u.hc").as("hc"))
    val rows = pairs
      .groupingSets(Seq(Seq(col("hb")), Seq(col("hc"))), col("hb"), col("hc"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val bigWts = Array.fill[Long](PplBigramBuckets)(log2Fx(1)) // absent: count 0
    val ctxWts = Array.fill[Long](DsirBuckets)(log2Fx(256L))   // absent: 0 + 256
    rows.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("hb")))
        bigWts(r.getAs[Long]("hb").toInt) = log2Fx(r.getAs[Long]("n") + 1)
      else if (!r.isNullAt(r.fieldIndex("hc")))
        ctxWts(r.getAs[Long]("hc").toInt) = log2Fx(r.getAs[Long]("n") + 256)
    }
    (bigWts, ctxWts)
  }

  /** The trained gate for the s21 streaming twin: the dense bigram/
    * context weight tables plus the batch head-tercile boundary (the
    * minimum avg_fx of d47's `head` bucket — a stream cannot rank, so
    * the gate admits avg_fx >= cutoff, every document that would tie or
    * beat the batch boundary). All three derive deterministically from
    * the batch corpus — the s14/s15/s16 train-in-batch / apply-at-ingest
    * discipline with a FIXED LM (the consciously-skipped drifting-target
    * variant stays skipped; see SURVEY round-10 note 2).
    */
  private[graft] def pplGate(spark: SparkSession, sfDir: String): (Array[Long], Array[Long], Long) = {
    val docs = lmDocs(spark, sfDir)
    val (bigWts, ctxWts) = trainedPplModel(spark, sfDir)
    // tercile boundary from the SAME trained weights — one training
    // aggregate total, not one per consumer
    val cutRow = pplFilterWith(docs, bigWts, ctxWts)
      .filter(col("ppl_bucket") === "head")
      .agg(min(col("avg_fx"))).head()
    // fewer than 3 scoreable docs -> empty head tercile -> null min:
    // the gate must ADMIT NOTHING (the oracle's `avg_fx >= NULL` is
    // empty), not NPE — Long.MaxValue is the same admit-nothing cutoff
    // in range (avg_fx is a bounded fixed-point score far below it)
    val cutoff = if (cutRow.isNullAt(0)) Long.MaxValue else cutRow.getLong(0)
    (bigWts, ctxWts, cutoff)
  }

  /** The trained gate for the s16 streaming twin: the dense weight table
    * and the batch selection's admission threshold (the k-th selected
    * score — a stream cannot rank, so the gate admits score >= cutoff,
    * i.e. every document that ties the boundary). Both derive
    * deterministically from the batch corpus, the s14/s15
    * train-in-batch / apply-at-ingest discipline.
    */
  private[graft] def dsirGate(spark: SparkSession, sfDir: String): (Array[Long], Long) = {
    val wts = trainedDsirWeights(spark, sfDir)
    val cutRow = d45DsirSelect(spark, sfDir)
      .agg(min(col("score"))).head()
    // empty selection -> null min -> admit nothing (same degenerate-
    // corpus discipline as pplGate's cutoff)
    val cutoff = if (cutRow.isNullAt(0)) Long.MaxValue else cutRow.getLong(0)
    (wts, cutoff)
  }

  /** Min-K% fraction denominator: the k lowest-scoring bigrams averaged
    * per document are max(1, n_bigrams div [[MinkDenom]]) — the paper's
    * k = 20%. Corpus-independent; the suspect share below is the other
    * knob.
    */
  private val MinkDenom = 5L

  /** Min-K%-Prob memorization screen (Shi et al. 2024, "Detecting
    * Pretraining Data from Large Language Models" — the membership-
    * inference signal benchmark-decontamination pipelines run): a
    * document the reference LM has effectively SEEN has no surprising
    * tokens, so the mean log-probability of its k% WORST-predicted
    * bigrams stays high; fresh text always carries low-probability
    * tail tokens. Reuses d47's hashed add-one bigram LM verbatim
    * (trained on the `en` slice via [[pplModel]] — in deployment, on
    * the LM's known pretraining corpus); per document, the
    * [[MinkDenom]] ascending score terms average into `mink_fx`
    * (exact fixed point, the d47 discipline), documents rank globally
    * by it, and the top ceil(5%) are flagged `suspect = 1` — the
    * candidates a decontamination pass holds out or audits. Output:
    * (doc_id, n_bigrams, mink_fx, rk, suspect).
    *
    * SCALE: scoring is the [[pplScored]] zero-shuffle scan shape plus a
    * per-document O(tokens)-average bounded quickselect inside the same
    * fused kernel — no extra shuffle,
    * no join; the rank is [[bucketRank]] over the score-space
    * quantization (parallel at any corpus size) plus one broadcast
    * single-row count. Document text never shuffles.
    */
  def d67MinkScreen(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = lmDocs(spark, sfDir)
    val (bigWts, ctxWts) = trainedPplModel(spark, sfDir)
    minkScreenWith(docs, bigWts, ctxWts)
  }

  /** Per-document Min-K% scoring shared by [[d67MinkScreen]] and the s23
    * at-ingest gate: `(doc_id, n_bigrams, mink_fx)` as a zero-shuffle
    * projection through the fused [[graft.functions.LmScoreFx]] kernel
    * with denom = [[MinkDenom]] — each document's k = max(1, n div 5)
    * LOWEST score terms average in exact fixed point via the bounded
    * quickselect (the [[graft.functions.BottomKAvgFx]] selection,
    * O(tokens) average, one primitive copy) that replaced the
    * per-document `array_sort` + slice fold (the sort was the family's
    * entire residual constant at far scale once training was cached —
    * s23 85.4 s warm at 64x); the fusion then removed the remaining
    * duplicated hash pass (see [[pplScored]]). Single structural
    * reference to the words array: the s23 gate's pushdown inlines this
    * into its filter condition without re-deriving anything.
    * Bit-identical output: sum of the k-smallest multiset is
    * order-independent and the kernel replays fxAvg's truncating
    * Euclidean split. Works identically on a batch relation and a
    * stream (stateless).
    */
  private[graft] def minkScored(docs: DataFrame,
      bigWts: Array[Long], ctxWts: Array[Long]): DataFrame =
    lmScoredBy(docs, bigWts, ctxWts, MinkDenom.toInt, "mink_fx")

  /** [[minkScreenWith]]'s one live scored-projection cache (same
    * lifetime contract as [[pplScoredCache]]).
    */
  private val minkScoredCache = new ReplaceOnCallCache

  /** [[d67MinkScreen]] with a pre-trained LM — shared with [[minkGate]],
    * which needs the same suspect boundary without a second training
    * aggregate.
    */
  private[graft] def minkScreenWith(docs: DataFrame,
      bigWts: Array[Long], ctxWts: Array[Long]): DataFrame = {
    // persisted O(docs)-row projection, consumed by offsets, the rank
    // join and the count (the d47 pattern)
    val scored = minkScoredCache.register(minkScored(docs, bigWts, ctxWts)
      .withColumn("b", expr(s"(-mink_fx) div $PplScoreBucketWidth")))
    val n = broadcast(scored.agg(count(lit(1)).as("n_docs")))
    bucketRank(scored, Seq.empty, Seq(col("mink_fx").desc, col("doc_id")))
      .crossJoin(n)
      .select(col("doc_id"), col("n_bigrams"), col("mink_fx"), col("rk"),
        when(col("rk") <= expr("(n_docs + 19) div 20"), lit(1L))
          .otherwise(lit(0L)).as("suspect"))
  }

  /** The trained gate for the s23 streaming twin: the dense LM weight
    * tables plus the batch suspect boundary (the minimum mink_fx of
    * d67's flagged set). A stream cannot rank, so the gate REJECTS
    * `mink_fx >= cutoff` — every arrival that would tie or beat the
    * batch boundary is held out as likely-memorized (ties rejected:
    * a contamination firewall fails CLOSED).
    */
  private[graft] def minkGate(spark: SparkSession, sfDir: String): (Array[Long], Array[Long], Long) = {
    val docs = lmDocs(spark, sfDir)
    val (bigWts, ctxWts) = trainedPplModel(spark, sfDir)
    val cutRow = minkScreenWith(docs, bigWts, ctxWts)
      .filter(col("suspect") === 1L)
      .agg(min(col("mink_fx"))).head()
    // no scoreable docs -> empty suspect set -> null min: with no
    // reference corpus nothing can be memorized, so the gate admits
    // everything (every mink_fx sits far below Long.MaxValue)
    val cutoff = if (cutRow.isNullAt(0)) Long.MaxValue else cutRow.getLong(0)
    (bigWts, ctxWts, cutoff)
  }

  /** [[curriculumOver]]'s one live phase-projection cache (the
    * [[bucketRank]] double-consumption contract — the input derives
    * from d47's rank join, too expensive to re-derive per pass).
    */
  private val curriculumCache = new ReplaceOnCallCache

  /** CURRICULUM training order (the easy-to-hard schedule LM curricula
    * run — e.g. Campos 2021; Li et al. 2022 use exactly a perplexity
    * proxy): documents order by d47's difficulty phase — `head` (most
    * target-like, easiest for the reference LM) trains first, then
    * `middle`, then `tail` — and SHUFFLE within each phase by a seeded
    * ':curr' draw, because phase-internal score order would correlate
    * consecutive gradients (the d42 interleave rationale applied within
    * difficulty bands). Output: (doc_id, phase, phase_idx, pos) with
    * `pos` the 1-based global training position.
    *
    * SCALE: d47's plan verbatim (one training aggregate, zero-shuffle
    * scoring, bucket-decomposed tercile rank), then ONE more
    * [[bucketRank]] over the O(docs)-row phase projection with
    * b = phase_idx·256 + draw div 2^52 — monotone along the
    * (phase_idx, draw) ordering, so the global position needs no
    * global sort (no rangepartitioning; parallelism stays 3×256 at any
    * corpus size). Document text never shuffles.
    */
  def d69CurriculumOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = lmDocs(spark, sfDir)
    val (bigWts, ctxWts) = trainedPplModel(spark, sfDir)
    curriculumFrom(pplFilterWith(docs, bigWts, ctxWts))
  }

  /** [[d69CurriculumOrder]]'s core over any `(doc_id, is_target, text)`
    * relation — parameterized for the spec's replay pin (trains inline;
    * the sfDir entry point shares the cached LM).
    */
  private[graft] def curriculumOver(docs: DataFrame): DataFrame =
    curriculumFrom(pplFilterOver(docs))

  private def curriculumFrom(pplFiltered: DataFrame): DataFrame = {
    val draw = graft.functions.Md5Slices60.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":curr")))
    val base = curriculumCache.register(pplFiltered
      .select(col("doc_id"), col("ppl_bucket").as("phase"),
        when(col("ppl_bucket") === "head", lit(0L))
          .when(col("ppl_bucket") === "middle", lit(1L))
          .otherwise(lit(2L)).as("phase_idx"))
      .withColumn("draw", draw)
      .withColumn("b", expr(s"phase_idx * 256 + (draw div $OrderBucketWidth)")))
    bucketRank(base, Seq.empty, Seq(col("phase_idx"), col("draw"), col("doc_id")))
      .select(col("doc_id"), col("phase"), col("phase_idx"), col("rk").as("pos"))
  }

  /** Chunks per output shard for [[d70ShardManifest]]. 2 × 2048-token
    * chunks keeps the fixture manifests multi-row (the dedup-canonical
    * schedule is small at gate scale); the production knob targets the
    * storage layer's object size (e.g. ~256 MB of tokens).
    */
  private[graft] val ChunksPerShard = 2L

  /** The MATERIALIZED training plan: [[d50TrainingPlan]]'s output
    * written once per corpus SNAPSHOT to a parquet artifact — the
    * loader-facing contract. A production pipeline WRITES the plan (it
    * is the data loader's input by definition), and every consumer that
    * derives from the schedule — the d70 shard manifests, loader
    * sizing, token accounting — reads the artifact instead of
    * re-running the four-window chain per consumer. This is the
    * TrainedModelCache discipline applied to a table-valued artifact
    * (snapshot-keyed: a corpus regenerated at the same path
    * re-materializes) and the declared-shared-stage analog of the
    * streaming shard layout (materialized once per (JVM, corpus),
    * outside any single query's measurement — the bench summary's
    * `shapes` field declares it). The plan is deterministic end to end
    * (seeded draws, exact-integer ranks), so reading the artifact is
    * row-identical to recomputation.
    */
  private[graft] def materializedTrainingPlan(spark: SparkSession, sfDir: String): String =
    TrainedModelCache.getOrTrain("d50-plan-artifact", sfDir) {
      val dir = java.nio.file.Files.createTempDirectory("graft-plan-").toString + "/plan"
      d50TrainingPlan(spark, sfDir).write.mode("overwrite").parquet(dir)
      dir
    }

  /** SHARD MANIFESTS for the training plan — the loader-facing rollup
    * that turns [[d50TrainingPlan]]'s logical schedule into physical
    * output shards: chunk_id div [[ChunksPerShard]] is the shard, and
    * each shard's manifest row carries its doc/chunk/token counts and
    * chunk range — what a distributed data loader reads to size
    * workers, verify completeness, and seek. Output: (shard_id, n_docs,
    * n_chunks, n_tokens, first_chunk, last_chunk).
    *
    * SCALE: reads the [[materializedTrainingPlan]] artifact — the
    * loader contract: manifests describe the WRITTEN plan, so building
    * them is one map-side-combined groupBy over O(docs) integer rows
    * into O(shards) rows, with no re-run of the schedule chain and NO
    * re-attach join against the corpus (d50's public schema carries
    * `n_tokens` for exactly this).
    */
  def d70ShardManifest(spark: SparkSession, sfDir: String): DataFrame = {
    spark.read.parquet(materializedTrainingPlan(spark, sfDir))
      .withColumn("shard_id", expr(s"chunk_id div $ChunksPerShard"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("chunk_id")).as("n_chunks"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("chunk_id")).as("first_chunk"),
        max(col("chunk_id")).as("last_chunk"))
  }

  /** SNAPSHOT DIFF — the incremental-crawl primitive: what changed
    * between two corpus versions at the d1 fingerprint level. The even
    * doc_id half stands in for the previous snapshot, the odd half for
    * the new one (the d62 history/arrivals convention); each distinct
    * fingerprint reports how many copies live in each side and its
    * status — `added` (new side only: genuinely new content to
    * process), `removed` (old side only: content that disappeared),
    * `common` (carry over untouched — at 100 TB the overwhelming bulk,
    * which an incremental pipeline must NOT reprocess). Output:
    * (fp, status, n_old, n_new).
    *
    * SCALE: the d1/d41 single-shuffle shape — one scan projects the
    * 32-byte fingerprint + a side bit, one fp-keyed map-side-combined
    * aggregate carries both conditional counts; text never shuffles,
    * no join, no second pass.
    */
  def d71SnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(fingerprint(col("text")).as("fp"), pmod(col("doc_id"), lit(2L)).as("half"))
      .groupBy(col("fp"))
      .agg(count_if(col("half") === 0L).as("n_old"),
        count_if(col("half") === 1L).as("n_new"))
      .select(col("fp"),
        when(col("n_old") === 0L, lit("added"))
          .when(col("n_new") === 0L, lit("removed"))
          .otherwise(lit("common")).as("status"),
        col("n_old"), col("n_new"))
  }

  /** Winnowing window: the number of consecutive [[SpanW]]-word-gram
    * hashes one selection window spans. Guarantee threshold: any shared
    * run of at least [[WinnowW]] + [[SpanW]] − 1 words (= 11) contains a
    * full selection window inside the shared region, so BOTH documents
    * select the same gram there — overlap detection cannot miss it.
    * Expected sketch density is 2/([[WinnowW]]+1) of all gram positions.
    */
  private[graft] val WinnowW = 4

  /** Positions-per-document cap for the winnow tiebreak encoding: the
    * selection key packs (hash-high-bits, inverted position) into one
    * int64 by replacing the gram hash's low 20 bits with 2^20−1−pos, so
    * a single `array_min` implements "smallest hash, RIGHTMOST position
    * on ties" — the tiebreak that keeps selections position-shift
    * invariant (two documents sharing a region pick the same gram
    * regardless of where the region sits). Documents are capped at 2^20
    * gram positions (a ~1M-word document; longer inputs fail loudly in
    * [[winnowSelected]] rather than silently mis-ranking).
    */
  private val WinnowPosCap = 1L << 20

  /** Per-document winnow selection, entirely ROW-LOCAL: `(doc_id, sel)`
    * where `sel` is the array of selected `(pos, gh)` grams from the
    * fused [[graft.functions.WinnowMd5]] kernel. Winnowing is a
    * per-document computation, so unlike d28's corpus-wide window
    * functions NOTHING here shuffles — the whole selection runs inside
    * the scan projection (the correct 100 TB shape: fingerprinting is
    * embarrassingly row-parallel; only what a caller JOINS afterwards
    * ever moves). The kernel exists because the composed column form
    * (kept below as [[winnowSelectedComposed]], the spec reference) gets
    * INLINED into InferFiltersFromGenerate's pre-explode filter and
    * re-evaluated interpreted several times per document — measured 13 s
    * vs sub-second at sf0.1.
    */
  private[graft] def winnowSelected(docs: DataFrame): DataFrame =
    scanWide(docs).select(col("doc_id"),
      graft.functions.WinnowMd5.winnowMd5(
        lower(trim(col("text"))), SpanW, WinnowW).as("sel"))

  /** The composed-columns reference implementation of the winnow
    * selection — `(doc_id, ghs, selkeys)` with `selkeys` the distinct
    * window minima of the packed keys. WinnowSpec pins the kernel
    * bit-identical to this form; it is NOT on the query path (see
    * [[winnowSelected]] for why).
    */
  private[graft] def winnowSelectedComposed(docs: DataFrame): DataFrame = {
    val w = WinnowW
    val cap = WinnowPosCap
    docs
      .select(col("doc_id"),
        graft.functions.WordWindowMd5.wordWindowMd5(
          lower(trim(col("text"))), SpanW).as("ghs"))
      .withColumn("keys",
        when(size(col("ghs")) >= lit(cap), raise_error(
          concat(lit("winnow: document exceeds 2^20 gram positions: doc_id="),
            col("doc_id").cast("string"))).cast("array<bigint>"))
          .otherwise(transform(col("ghs"), (g, i) =>
            g - pmod(g, lit(cap)) + (lit(cap - 1) - i.cast("long")))))
      .withColumn("selkeys",
        when(size(col("keys")) >= w,
          array_distinct(transform(sequence(lit(0), size(col("keys")) - w),
            i => array_min(slice(col("keys"), i + 1, lit(w))))))
          .otherwise(typedlit(Seq.empty[Long])))
      .select(col("doc_id"), col("ghs"), col("selkeys"))
  }

  /** d52: WINNOWING document fingerprints (Schleimer–Wilkerson–Aiken,
    * SIGMOD 2003 — the MOSS sketch): over each sliding window of
    * [[WinnowW]] consecutive gram hashes, select the minimum (rightmost
    * on ties); the distinct selected grams are the document's
    * fingerprint sketch. The point at 100 TB: the sketch carries d28's
    * guarantee for matches of length ≥ [[WinnowW]]+[[SpanW]]−1 at
    * ~2/([[WinnowW]]+1) ≈ 40% of the gram volume — downstream overlap
    * joins (d53) shuffle a provably-thinned subset instead of every
    * window hash, chosen content-locally so both copies of a shared
    * region thin IDENTICALLY (random sampling would not).
    *
    * Output: `(doc_id, pos, gh)` — the selected gram positions and their
    * 60-bit hashes. Sub-11-word documents produce no rows (no full
    * selection window exists; the guarantee threshold is documented on
    * [[WinnowW]]).
    *
    * SCALE: zero shuffle — selection is a per-row array fold inside the
    * scan projection (see [[winnowSelected]]); the output explode is
    * pipelined. The oracle replays the same packed-key arithmetic with
    * DuckDB list comprehensions.
    */
  def d52Winnow(spark: SparkSession, sfDir: String): DataFrame =
    winnowOver(Tables.documents(spark, sfDir))

  /** [[d52Winnow]]'s core over any `(doc_id, text)` relation. */
  private[graft] def winnowOver(docs: DataFrame): DataFrame =
    winnowSelected(docs)
      .select(col("doc_id"), explode(col("sel")).as("sg"))
      .select(col("doc_id"), col("sg.pos").as("pos"), col("sg.gh").as("gh"))

  /** d53: WINNOW-SKETCH overlap pairs — d28's cross-document duplicate
    * detection run on the [[d52Winnow]] sketches instead of every window
    * hash: documents sharing at least one selected gram, with the count
    * of distinct shared selected grams as the overlap weight. By the
    * winnowing guarantee this detects every shared run of ≥
    * [[WinnowW]]+[[SpanW]]−1 words while joining ~40% of the gram
    * volume; d28 remains the exact-span tool, d53 the screening pass a
    * 100 TB corpus runs first.
    *
    * Output: `(a_id, b_id, n_shared)`, a_id < b_id.
    *
    * SCALE: the join input is the per-doc DISTINCT selected-gram set,
    * deduplicated row-locally (an array_distinct over the selection,
    * zero shuffle); stop-grams above [[ContainmentHotCap]] are removed
    * by the d49 broadcast-anti-join guard BEFORE the self-join, so every
    * per-hash join group is bounded and boilerplate cannot fan out
    * quadratically. One shuffle for the hot count, one for the pair
    * aggregation.
    */
  def d53WinnowOverlap(spark: SparkSession, sfDir: String): DataFrame =
    winnowOverlapOver(Tables.documents(spark, sfDir))

  /** d57: the CORPUS REPORT CARD — the per-source health rollup a data
    * team runs daily over the lake: document and unique-fingerprint
    * counts (d1's identity), the exact-dup rate, total token volume,
    * mean quality (d11's formula), and English share — all in exact
    * integer ppm (the d44/d49 discipline: a health metric that flips
    * with engine rounding is an alert that cries wolf). Output:
    * `(source, n_docs, n_unique, dup_ppm, total_tokens,
    * mean_quality_ppm, en_ppm)`.
    *
    * SCALE: ONE text-reading scan projects (source, lang, fp, n_tokens,
    * q_ppm); the rollup is a single groupBy(source) whose distinct-count
    * shuffles only the 32-byte fingerprint per doc; every output metric
    * is integer arithmetic over the aggregate row. At 100 TB this is a
    * scan plus an O(sources)-row result — the cheapest possible shape
    * for a monitoring query, which is the point: it runs every day.
    */
  def d57CorpusReport(spark: SparkSession, sfDir: String): DataFrame =
    corpusReportOver(Tables.documents(spark, sfDir))

  /** [[d57CorpusReport]]'s core over any `(source, lang, text)` relation. */
  private[graft] def corpusReportOver(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"),
        fingerprint(col("text")).as("fp"),
        expr(QNTok).as("n_tokens"), expr(QualityPpmSql).as("q_ppm"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        sum(col("n_tokens")).as("total_tokens"),
        count_if(col("lang") === "en").as("n_en"),
        sum(col("q_ppm")).as("q_sum"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        expr("(1000000 * (n_docs - n_unique)) div n_docs").as("dup_ppm"),
        col("total_tokens"),
        expr("q_sum div n_docs").as("mean_quality_ppm"),
        expr("(1000000 * n_en) div n_docs").as("en_ppm"))

  /** d61: SPAN SCRUBBING — the ACTIONABLE form of d28 (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": don't
    * just find duplicated substrings, REMOVE them, keeping the first
    * occurrence): a window occurrence is redundant iff it is not the
    * corpus-wide FIRST occurrence of its 8-word gram (ordered by
    * (doc_id, pos)); every token covered by a redundant window is
    * scrubbed. Output per document: token counts before/after and the
    * md5 of the scrubbed text — the hash pins the exact reconstructed
    * bytes, not just the counts (the d38 red_md5 discipline).
    *
    * SCALE, in the d28 shapes throughout: one gram explode (the fused
    * kernel), ONE gh-partitioned window for global first-occurrence
    * attribution (only (doc_id, pos, gh) rows shuffle — never text), the
    * d28 lag+cumsum island merge per doc, and a row-local rebuild: the
    * merged islands per doc are FEW (they're maximal runs), so the
    * per-token coverage test folds over a handful of ranges — not the
    * O(tokens × windows) interpreted trap d47 documented. Text is read
    * exactly twice (gram pass, rebuild pass) and never shuffled.
    */
  def d61SpanScrub(spark: SparkSession, sfDir: String): DataFrame =
    spanScrubOver(Tables.documents(spark, sfDir))

  /** [[d61SpanScrub]]'s core over any `(doc_id, text)` relation. */
  private[graft] def spanScrubOver(docs: DataFrame): DataFrame = {
    val w = SpanW
    val grams = scanWide(docs) // window-kernel scan (the d28 note)
      .select(col("doc_id"),
        posexplode(graft.functions.WordWindowMd5.wordWindowMd5(
          lower(trim(col("text"))), w)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("gh"))
    val byGh = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gh")).orderBy(col("doc_id"), col("pos"))
    val red = grams
      .withColumn("rn", row_number().over(byGh))
      .filter(col("rn") >= 2)
      .select(col("doc_id"), col("pos"))
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = red
      .withColumn("step",
        when(col("pos") <= lag(col("pos"), 1).over(byPos) + w, lit(0L)).otherwise(lit(1L)))
      .withColumn("island", sum(col("step")).over(byPos))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("b"), (max(col("pos")) + w).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("b"), col("e"))).as("isl"))
    docs.join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), words(col("text")).as("ws"),
        expr("coalesce(isl, cast(array() as array<struct<b:bigint,e:bigint>>))").as("isl"))
      .withColumn("kept", filter(col("ws"), (_, i) =>
        !exists(col("isl"), s =>
          s.getField("b") <= i.cast("long") && i.cast("long") < s.getField("e"))))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(col("kept"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("kept"))).as("clean_md5"))
  }

  /** Bloom-gate geometry: m = 2^16 bits (1024 packed longs), k = 3
    * probe positions per fingerprint, each a 20-bit hex slice of the d1
    * md5 fingerprint reduced mod m — nothing but integer arithmetic, so
    * the filter and its false positives are DETERMINISTIC and the
    * DuckDB oracle replays them exactly.
    */
  private val BloomBits = 1 << 16
  private val BloomK = 3

  /** d62: BLOOM MEMBERSHIP GATE — dedup against a HISTORICAL corpus too
    * big to join (the "have we trained on this before" check against
    * last year's crawl): the train half's d1 fingerprints build one
    * m = 2^16-bit Bloom bitmap (k = 3 positions each), and the eval
    * half probes it with a zero-shuffle expression. A Bloom filter
    * cannot false-negative, so `hit = 0` PROVES the document is new;
    * `hit = 1` routes to the exact d1 path (the standard two-tier
    * membership design). Output: `(doc_id, hit)` per eval doc.
    *
    * SCALE: this is the pattern's point — the historical side collapses
    * to m bits regardless of corpus size: the bitmap builds in ONE
    * map-side-combined pass through the native
    * [[graft.functions.BitmapOrAgg]] aggregate (fixed m/64-long buffer
    * per partial, word-wise-OR merge — commutative, associative,
    * idempotent, so partitioning and duplicates are invisible), and the
    * single 8 KB result row is collected like kmeansCentroids' k-row
    * model. The probe side rides the scan as ONE packed-long-array
    * literal (the d13 one-node lesson) with three mask lookups per
    * document — scan-bound. False positives are bounded by the standard
    * (1−e^{−kn/m})^k and, being pure integer arithmetic, are
    * reproducible: the spec measures the exact rate on the gate corpus.
    */
  def d62BloomGate(spark: SparkSession, sfDir: String): DataFrame =
    bloomGateOver(Tables.documents(spark, sfDir))

  /** The k probe positions of a fingerprint column. */
  private def bloomPositions(fp: Column): Seq[Column] = (0 until BloomK).map { j =>
    pmod(conv(substring(fp, 1 + 5 * j, 5), 16, 10).cast("long"), lit(BloomBits.toLong))
  }

  /** The trained gate for d62/s20: the packed train-half bitmap, built
    * distributed via [[graft.functions.BitmapOrAgg]] and collected as
    * ONE 8 KB row (the kmeansCentroids small-model precedent).
    */
  private[graft] def bloomBitmap(docs: DataFrame): Seq[Long] =
    docs.filter(pmod(col("doc_id"), lit(2L)) === 0L)
      .select(fingerprint(col("text")).as("fp"))
      .select(explode(array(bloomPositions(col("fp")): _*)).as("p"))
      .agg(graft.functions.BitmapOrAgg.bitmapOrAgg(col("p"), BloomBits).as("bm"))
      .head().getSeq[Long](0)

  /** The k-mask literal probe over precomputed bit positions — shared by
    * [[bloomHit]] (fingerprint geometry) and [[windowBloomHit]] (window
    * geometry); geometry-generic because the word index is exact integer
    * arithmetic.
    */
  private def bloomProbe(bitmap: Seq[Long], positions: Seq[Column]): Column = {
    val blit = typedlit(bitmap)
    // single-bit masks as a 64-entry literal: shiftleft/shiftright take
    // a constant shift, so the variable bit index selects a mask instead
    val masks = typedlit((0 until 64).map(1L << _))
    positions.map { p =>
      // shiftright = exact integer div-by-64 for the nonnegative position
      // (Column `/` is double division — correct only while truncation
      // happens to floor, i.e. below 2^53 bits; integer arithmetic keeps
      // the word index exact at ANY bitmap geometry, matching the
      // integer pmod bit index)
      element_at(blit, (shiftright(p, 6) + 1).cast("int"))
        .bitwiseAND(element_at(masks, (pmod(p, lit(64L)) + 1).cast("int"))) =!= 0L
    }.reduce(_ && _)
  }

  /** The zero-shuffle probe expression over a fingerprint column —
    * shared VERBATIM by the batch audit and the s20 at-ingest gate (the
    * two must agree bit for bit on every document).
    */
  private[graft] def bloomHit(bitmap: Seq[Long], fp: Column): Column =
    bloomProbe(bitmap, bloomPositions(fp))

  /** [[d62BloomGate]]'s core over any `(doc_id, text)` relation: even
    * doc_ids are the historical (train) side, odd the arrivals.
    */
  private[graft] def bloomGateOver(docs: DataFrame): DataFrame = {
    val bm = bloomBitmap(docs)
    docs.filter(pmod(col("doc_id"), lit(2L)) === 1L)
      // fp bound as a real column: the probe references it k times (the
      // d47 lesson — an inline fingerprint would md5 the text k times)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .select(col("doc_id"),
        when(bloomHit(bm, col("fp")), lit(1L)).otherwise(lit(0L)).as("hit"))
  }

  /** Window-Bloom geometry for d66/s22: m = 2^20 bits (16,384 packed
    * longs — a 128 KB literal), k = 3 positions per 8-word-window hash.
    * The window universe is ~2 orders denser than d62's one fingerprint
    * per document, so the bitmap is 16x larger to keep the DETERMINISTIC
    * false-positive rate one a pre-filter can afford (load n·k/m ≈ 0.5
    * at sf0.1 history → FPR ~5%; size m with the corpus, the probe is
    * geometry-generic). Positions are the three 20-bit slices of the
    * 60-bit gram hash — integer arithmetic only, so DuckDB replays the
    * filter AND its false positives exactly.
    */
  private val WindowBloomBits = 1 << 20

  /** The k probe positions of a 60-bit window-hash column. */
  private def windowBloomPositions(gh: Column): Seq[Column] =
    (0 until BloomK).map { j =>
      pmod(shiftright(gh, 20 * j), lit(WindowBloomBits.toLong))
    }

  /** The trained gate for d66/s22: the packed bitmap over the history
    * half's DISTINCT window hashes, built distributed via
    * [[graft.functions.BitmapOrAgg]] and collected as ONE 128 KB row
    * (the d62 small-model precedent).
    */
  private[graft] def windowBloomBitmap(docs: DataFrame): Seq[Long] =
    scanWide(docs.filter(pmod(col("doc_id"), lit(2L)) === 0L)) // window-kernel scan
      .select(explode(array_distinct(graft.functions.WordWindowMd5
        .wordWindowMd5(lower(trim(col("text"))), SpanW))).as("gh"))
      .select(explode(array(windowBloomPositions(col("gh")): _*)).as("p"))
      .agg(graft.functions.BitmapOrAgg.bitmapOrAgg(col("p"), WindowBloomBits).as("bm"))
      .head().getSeq[Long](0)

  /** The zero-shuffle window probe — shared VERBATIM by batch d66 and
    * the s22 at-ingest gate.
    */
  private[graft] def windowBloomHit(bitmap: Seq[Long], gh: Column): Column =
    bloomProbe(bitmap, windowBloomPositions(gh))

  /** Admission threshold for [[d66NoveltyGate]]: majority-new windows. */
  private val NoveltyGatePpm = 500000L

  /** d66: NOVELTY GATE against a HISTORICAL corpus — [[d64Novelty]]'s
    * self-information signal computed where it deploys: arrivals (odd
    * doc_ids) score their distinct 8-word windows against the history
    * half's window Bloom and are admitted iff at least half their
    * windows are new. A Bloom filter cannot false-negative, so a seen
    * window ALWAYS probes hit — false positives can only UNDERCOUNT
    * novelty, making the gate conservative-admit: every admitted
    * document is majority-new with certainty (the spec pins the
    * conservatism doc by doc and measures the deterministic FP rate).
    * Output: `(doc_id, n_windows, n_new, novelty_ppm)` per admitted doc;
    * sub-8-word docs have no windows and are excluded (the d28 family's
    * convention).
    *
    * SCALE: the d62 collapse applied to d64 — a history of ANY size
    * becomes 2^20 bits in one map-side-combined pass, and the arrival
    * side is a stateless zero-shuffle projection (three mask lookups
    * per distinct window), wire-speed at a 1000-node ingest tier. The
    * exact d64 computation needs the full window index (one big
    * shuffle); this is the approximate at-ingest form that fronts it.
    */
  def d66NoveltyGate(spark: SparkSession, sfDir: String): DataFrame =
    noveltyGateOver(Tables.documents(spark, sfDir))

  /** [[d66NoveltyGate]]'s core over any `(doc_id, text)` relation. */
  private[graft] def noveltyGateOver(docs: DataFrame): DataFrame =
    noveltyGateWith(windowBloomBitmap(docs),
      docs.filter(pmod(col("doc_id"), lit(2L)) === 1L))

  /** The arrival-side scorer — shared VERBATIM by batch d66 and the s22
    * at-ingest gate (the two must agree bit for bit per document).
    */
  private[graft] def noveltyGateWith(bitmap: Seq[Long], arrivals: DataFrame): DataFrame =
    scanWide(arrivals) // window kernel + per-window probes; streaming passes through
      .select(col("doc_id"), array_distinct(graft.functions.WordWindowMd5
        .wordWindowMd5(lower(trim(col("text"))), SpanW)).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_windows"),
        size(filter(col("ws"), gh => !windowBloomHit(bitmap, gh)))
          .cast("long").as("n_new"))
      .withColumn("novelty_ppm", expr("(1000000 * n_new) div n_windows"))
      .filter(col("novelty_ppm") >= NoveltyGatePpm)

  /** Dimensions of the [[d59HashedEmbed]] embedding. */
  private val HashedEmbedDims = 16L

  /** d59: HASHED TEXT EMBEDDINGS — deterministic in-engine embedding
    * generation by signed feature hashing (Weinberger et al. 2009, the
    * "hashing trick"): each token's 60-bit md5 picks a dimension
    * (`h mod 16`) and a sign (next bit), the signed counts are
    * L2-normalized, and the result is a unit vector any of this
    * engine's vector operators (d6/d7, d46, d55, d58) can consume —
    * closing the text → vector → ANN loop WITHOUT an external model
    * (where a learned encoder would slot in, the multimodal d8 stub
    * discipline applies; the hashing embedding is the fully-real,
    * fully-exact baseline). Output: `(doc_id, dim, val)` rows for the
    * occupied dimensions of each non-degenerate document.
    *
    * ENGINE-EXACT despite the normalization: components and the squared
    * norm are integers; `val = v / sqrt(n2)` is one IEEE division by a
    * correctly-rounded sqrt of an integer — bit-identical in every
    * engine (the d44 sqrt discipline), then rounded to 6 dp. Documents
    * whose signed counts fully cancel (norm 0) are dropped — the
    * documented degenerate case.
    *
    * SCALE: one text-reading explode, one groupBy on (doc_id, dim) of
    * integer rows, and a doc_id window for the norm that reuses the
    * partitioning — O(docs × dims) fixed-width rows shuffle, text
    * never does.
    */
  def d59HashedEmbed(spark: SparkSession, sfDir: String): DataFrame =
    hashedEmbedOver(Tables.documents(spark, sfDir))

  /** [[d59HashedEmbed]]'s core over any `(doc_id, text)` relation. */
  private[graft] def hashedEmbedOver(docs: DataFrame): DataFrame = {
    val d = HashedEmbedDims
    // widened + native: the token hashes come from ONE Md5Prefix64
    // kernel pass over the word array (same top-60-bit value as the
    // composed conv(substring(md5(w))) per exploded token it replaces,
    // bit-identical — the kernel's pinned convention) and the explode
    // carries longs, not strings; the per-token hex round-trip was this
    // row's whole 16x wall (5.3 s at 1.8x parallelism on 32 threads)
    val v = scanWide(docs)
      .select(col("doc_id"), explode(
        graft.functions.Md5Prefix64.md5Prefix64(words(col("text")))).as("hv"))
      .select(col("doc_id"), pmod(col("hv"), lit(d)).as("dim"),
        when(pmod(expr(s"hv div $d"), lit(2L)) === 0L, lit(1L))
          .otherwise(lit(-1L)).as("sgn"))
      .groupBy(col("doc_id"), col("dim")).agg(sum(col("sgn")).as("v"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    v.withColumn("n2", sum(col("v") * col("v")).over(byDoc))
      .filter(col("n2") > 0)
      .select(col("doc_id"), col("dim"),
        round(col("v") / sqrt(col("n2").cast("double")), 6).as("val"))
  }

  /** The fixed query of [[d54Bm25]]: a literal five-term keyword query
    * over the corpus vocabulary — "dup" is the discriminative rare term
    * (df ≈ 5% of docs), the rest are common terms whose idf the Lucene
    * variant keeps positive. BM25 parameters are the standard k1 = 1.2,
    * b = 0.75, carried EXACTLY as the rationals 6/5 and 3/4 — see
    * [[bm25Over]] for how they disappear into integer arithmetic.
    */
  private[graft] val Bm25Query = Seq("dup", "spark", "join", "window", "stream")

  /** d54: BM25 KEYWORD RETRIEVAL — the classic sparse ranking function
    * (Robertson–Spärck Jones / Okapi), the retrieval side of a corpus
    * engine: score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * for the fixed query [[Bm25Query]]; output the top 20 documents.
    *
    * ENGINE-EXACT despite logs and rationals, the d45/d44 discipline:
    *  - idf(t) is the LUCENE BM25 variant log(1 + (N−df+½)/(df+½)) =
    *    log((N+1)/(df+½)) = log2Fx(2N+2) − log2Fx(2df+1) in 2^20 fixed
    *    point (the ratio of half-integers is a ratio of integers;
    *    [[log2Fx]] is the correctly-rounded shift-and-square recurrence
    *    both engines replay bit-identically). Unlike the raw
    *    Robertson–Spärck Jones form this is STRICTLY POSITIVE even for
    *    df > N/2 — no clamp, common terms still discriminate by tf/dl,
    *    and every operand stays nonnegative so `div` truncation and
    *    `//` flooring agree.
    *  - the tf part with k1 = 6/5, b = 3/4 and INTEGER-FLOORED avgdl
    *    A = T div N multiplies out to 44·A·tf / (20·A·tf + 6·A + 18·dl)
    *    — a ratio of int64s. Doc contribution = (idf_fx·44·A·tf) div
    *    (20·A·tf + 6·A + 18·dl); score = Σ contributions, an exact
    *    int64 in 2^20 fixed point.
    *
    * SCALE: one text-reading projection computes (dl, tf_t) per doc
    * row-locally (the token array bound ONCE — the d47 lesson) and is
    * persisted; the corpus statistics (N, T, df_t) are ONE map-side-
    * combined aggregate to a single driver row (the kmeansCentroids
    * small-model precedent); scoring is a zero-shuffle codegen'd
    * integer projection with the idf weights as literals; top-20 is
    * TakeOrderedAndProject (no global sort). Nothing but the O(1)
    * stats row ever leaves the executors before the final 20 rows.
    */
  def d54Bm25(spark: SparkSession, sfDir: String): DataFrame =
    bm25Over(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** [[bm25Over]]'s one live (dl, tf_t) projection cache — the scoring
    * pass and the eager stats row both consume it, and the returned
    * top-20 references it lazily ([[ReplaceOnCallCache]] contract).
    */
  private val bm25BaseCache = new ReplaceOnCallCache

  /** [[d54Bm25]]'s core over any `(doc_id, text)` relation —
    * parameterized for the in-memory-reference spec.
    */
  private[graft] def bm25Over(docs: DataFrame): DataFrame = {
    val q = Bm25Query
    val toks = docs.select(col("doc_id"), words(col("text")).as("ws"))
    val base = bm25BaseCache.register(toks.select(
      col("doc_id") +: size(col("ws")).cast("long").as("dl") +:
        q.zipWithIndex.map { case (t, i) =>
          size(filter(col("ws"), w => w === lit(t))).cast("long").as(s"tf$i")
        }: _*))
    val st = base.agg(count(lit(1)).as("n"),
      sum(col("dl")).as("t") +:
        q.indices.map(i => count_if(col(s"tf$i") > 0).as(s"df$i")): _*).head()
    val n = st.getAs[Long]("n")
    // empty corpus: no stats to score against — an empty top-20, not an
    // ArithmeticException out of the avgdl division below
    if (n == 0L)
      return base.select(col("doc_id"), lit(0L).as("score"), lit(0L).as("rk"))
        .limit(0)
    val t = st.getAs[Long]("t")
    val a = t / n
    val score = q.indices.map { i =>
      val df = st.getAs[Long](s"df$i")
      val idf = log2Fx(2 * n + 2) - log2Fx(2 * df + 1)
      expr(s"(${idf}L * ${44 * a}L * tf$i) div (${20 * a}L * tf$i + ${6 * a}L + 18L * dl)")
    }.reduce(_ + _)
    val top = base.select(col("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
    // rank window runs over the already-taken 20 rows only
    top.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))).cast("long"))
  }

  /** [[d53WinnowOverlap]]'s core over any `(doc_id, text)` relation. */
  private[graft] def winnowOverlapOver(docs: DataFrame): DataFrame = {
    // distinct selected grams per doc, still row-local: project the
    // hashes out of the selection structs, distinct, THEN explode
    val fps = winnowSelected(docs)
      .select(col("doc_id"),
        explode(array_distinct(transform(col("sel"),
          g => g.getField("gh")))).as("gh"))
    // per-consumer kernel re-derivation is deliberate — see
    // containmentOver's note (the r15 cache and shared-repartition
    // variants both re-measured SLOWER at fixture stats: 5.4 -> 8.3
    // bench CPU-s cached; the plain form sort-merges on gh at scale
    // where the sides' canonically-equal exchanges reuse one pass)
    val hot = fps.groupBy(col("gh")).agg(count(lit(1)).as("n"))
      .filter(col("n") > ContainmentHotCap).select(col("gh"))
    // ~12 winnow-selected grams per doc (width heuristic)
    val parts = pairParts(docs, 12)
    val kept = widened(fps.join(broadcast(hot), Seq("gh"), "left_anti"),
      parts, col("gh"))
    widened(
        kept.select(col("doc_id").as("a_id"), col("gh"))
          .join(kept.select(col("doc_id").as("b_id"), col("gh")), "gh")
          .filter(col("a_id") < col("b_id")),
        parts, col("a_id"), col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("n_shared"))
  }

  /** d64: per-document NOVELTY — the fraction of a document's distinct
    * 8-word windows (d28's unit) whose corpus-wide FIRST occurrence (by
    * smallest doc_id) is this document. The self-information signal
    * dedup-aware quality weighting uses (SlimPajama-style
    * self-repetition metrics): boilerplate-heavy and reprint documents
    * score near 0, original text near 10^6 ppm. Exact integer ppm;
    * documents under 8 words have no window and are excluded (the d28
    * family's convention).
    *
    * SCALE: the d48 one-shuffle shape — a gh-partitioned window
    * attributes first occurrence (only (doc_id, gh) rows shuffle, text
    * never moves), then one doc_id rollup. No join, no second text
    * scan.
    */
  def d64Novelty(spark: SparkSession, sfDir: String): DataFrame =
    noveltyOver(Tables.documents(spark, sfDir))

  /** [[d64Novelty]]'s core over any `(doc_id, text)` relation —
    * parameterized for the planted-verbatim-copy spec (the fixture
    * corpus has no verbatim dups, only bag-of-words ones).
    */
  private[graft] def noveltyOver(docs: DataFrame): DataFrame = {
    val ghW = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
    scanWide(docs) // window-kernel scan (the d28 note)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordWindowMd5.wordWindowMd5(lower(trim(col("text"))), SpanW))).as("gh"))
      .withColumn("first_id", min(col("doc_id")).over(ghW))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        count_if(col("first_id") === col("doc_id")).as("n_novel"))
      .select(col("doc_id"), col("n_windows"), col("n_novel"),
        expr("(1000000 * n_novel) div n_windows").as("novelty_ppm"))
  }

  /** d65: GROUP-AWARE SPLIT — d19's 80/10/10 assignment drawn from the
    * d1 fingerprint GROUP's canonical (smallest doc_id) instead of the
    * document, so exact duplicates can never straddle splits: the
    * constructive fix for everything d48's leakage audit detects
    * (spec-pinned: d48 run against this assignment returns zero rows).
    * Output `(doc_id, canonical_id, split)` — the loader keys splits by
    * document while provenance keeps the group witness.
    *
    * SCALE: the d41/d48 shape — one scan, one fp-keyed window shuffle
    * of (doc_id, 32-byte fp), the split a pure hash of the canonical.
    */
  def d65GroupSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val fpW = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val h = graft.functions.Md5Slices60.md5Prefix60(
      concat(col("canonical_id").cast("string"), lit(":split")))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .withColumn("canonical_id", min(col("doc_id")).over(fpW))
      .select(col("doc_id"), col("canonical_id"), (h % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("canonical_id"), col("split"))
  }

  // ---- d72/d73/s24: Count-Min frequency sketch family ----------------

  /** CMS geometry for the corpus token sketch (see
    * [[graft.functions.CmsAgg]]): depth 3 rows of 2^12 buckets — 12,288
    * int64 counters, a 96 KB model — keyed by three DISJOINT 12-bit
    * slices of the 60-bit md5-prefix token hash. Deployment sizes width
    * to the vocabulary (~e/eps buckets for an eps·total additive error
    * bound); the estimate and probe are geometry-generic integer
    * arithmetic, so only these two constants move.
    */
  private[graft] val CmsWidth = 4096
  private[graft] val CmsDepth = 3
  private val CmsBits = 12

  /** The scalar 60-bit md5-prefix token hash (d59/d65's convention). */
  private def tokenHash(w: Column): Column =
    graft.functions.Md5Slices60.md5Prefix60(w)

  /** [[heavyHittersOver]]'s one live vocabulary cache: the relation
    * feeds the sketch-training aggregate AND the estimate/rank pass at
    * the caller's action, after this op returned — the
    * replace-on-next-call contract (see [[ReplaceOnCallCache]]).
    */
  private val vocabCache = new ReplaceOnCallCache

  /** The `(w, cnt)` token vocabulary of a corpus — the ONE relation
    * every CMS consumer trains/ranks over (d72's exact counts, d73/s24's
    * history sketch). Single definition so the two gates' oracles can
    * never desynchronize on tokenization (the bpeCteSql/md5Prefix60
    * no-copy-to-drift discipline).
    */
  private def vocabOver(docs: DataFrame): DataFrame =
    docs.select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** The trained frequency model over a `(w, cnt)` vocabulary relation:
    * (CMS counters, total token count), collected as ONE 96 KB row (the
    * d62/d66 small-model precedent — bounded at O(depth·width)
    * regardless of corpus size). The sketch is built FROM the already-
    * collapsed vocabulary — one weighted update of cnt per distinct
    * token — so the building pass aggregates vocabulary-sized integer
    * rows map-side; the token stream itself never shuffles.
    */
  private[graft] def cmsModel(vocab: DataFrame): (Seq[Long], Long) = {
    val r = vocab
      .select(tokenHash(col("w")).as("h"), col("cnt"))
      .agg(graft.functions.CmsAgg.cmsAgg(col("h"), col("cnt"), CmsWidth, CmsDepth).as("cms"),
        coalesce(sum(col("cnt")), lit(0L)).as("total"))
      .head()
    (r.getSeq[Long](0), r.getLong(1))
  }

  /** The zero-shuffle CMS point-estimate expression over a 60-bit hash
    * column — min over the depth rows' literal counters, an OVERESTIMATE
    * never an underestimate (the one-sided CMS bound both gate
    * directions below lean on). Shared VERBATIM by the batch rows and
    * the s24 at-ingest gate. Bind the hash as a real column or lambda
    * variable at call sites: the expression references `h` once per row
    * (the d47 inline-expansion lesson).
    */
  private[graft] def cmsEstimate(cms: Seq[Long], h: Column): Column = {
    val clit = typedlit(cms)
    (0 until CmsDepth).map { j =>
      element_at(clit, (lit((j * CmsWidth).toLong)
        + pmod(shiftright(h, CmsBits * j), lit(CmsWidth.toLong)) + lit(1L)).cast("int"))
    }.reduce(least(_, _))
  }

  /** Output size of [[d72HeavyHitters]]. */
  private val HeavyHittersK = 20

  /** d72: CORPUS HEAVY HITTERS — the top-[[HeavyHittersK]] tokens by
    * exact count, each carrying its Count-Min estimate and the
    * estimate's overcount: the frequency-sketch audit a boilerplate/
    * stop-list builder runs before trusting the sketch at a scale where
    * only the sketch is affordable. `overcount >= 0` always (the CMS
    * one-sided bound), `= 0` when none of the token's three rows
    * collide.
    *
    * SCALE: one tokenize collapses map-side to the vocabulary relation
    * (the d23 single-scan discipline); the sketch build reads it ONCE
    * into 96 KB of counters (no second text scan — the vocabulary is
    * cached, vocabulary-sized); the top-k is TakeOrderedAndProject
    * (distributed partial top-k, no global sort), and the estimate is
    * three literal lookups per row.
    */
  def d72HeavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    heavyHittersOver(Tables.documents(spark, sfDir))

  /** [[d72HeavyHitters]]'s core over any `(doc_id, text)` relation. */
  private[graft] def heavyHittersOver(docs: DataFrame): DataFrame = {
    val vocab = vocabCache.register(vocabOver(docs))
    val (cms, _) = cmsModel(vocab)
    // h bound as a real column: cmsEstimate references it depth times
    // (its own documented call-site contract — the d47 lesson)
    vocab
      .withColumn("h", tokenHash(col("w")))
      .select(col("w").as("token"), col("cnt"),
        cmsEstimate(cms, col("h")).as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(HeavyHittersK)
  }

  /** Rarity threshold for [[d73RareGate]]: a token is RARE iff its
    * estimated count times this denominator is below the history's
    * total token count (est < total/256 — i.e. under ~0.4% of the
    * stream). `est * 256` stays in int64 while total < 2^55 tokens,
    * far beyond any corpus.
    */
  private[graft] val RareDen = 256L

  /** [[rareGate]]'s cutoff trains on the top ceil(1/20) rarest history
    * documents (the d67 suspect-cut convention).
    */
  private val RareSuspectDen = 20L

  /** [[bucketRank]] width for the rare_ppm rank (range [0, 10^6]). */
  private val RarePpmBucketWidth = 4096L

  /** Per-document rare-token scoring shared VERBATIM by the batch gate
    * and the s24 at-ingest gate: `(doc_id, n_tokens, n_rare, rare_ppm)`
    * with multiplicity (a gibberish page repeating one OOV token IS
    * mostly rare). Stateless zero-shuffle projection through the fused
    * [[graft.functions.RareCountFx]] kernel — one native md5 per
    * token, the 96 KB sketch as expression state, the words array
    * referenced once so the s24 gate's pushdown inlining can never
    * duplicate the hash pass (the [[pplScored]] discipline); the ppm
    * is exact integer arithmetic. Works identically on a batch
    * relation and a stream.
    */
  private[graft] def rareScored(docs: DataFrame, cms: Seq[Long], total: Long): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        graft.functions.RareCountFx.rareCountFx(col("ws"), cms.toArray, total,
          RareDen, CmsWidth, CmsDepth).as("n_rare"))
      .withColumn("rare_ppm", expr("(1000000 * n_rare) div n_tokens"))


  /** The trained gate for d73/s24: the history half's (CMS counters,
    * total, cutoff). The cutoff is the minimum rare_ppm of the history's
    * own top-ceil(5%) rarest documents — scored through the SAME sketch
    * arrivals will see — floored at 1 ppm: an all-common history (every
    * doc rare_ppm 0) would otherwise train cutoff 0 and reject every
    * arrival; the floor degrades that corpus to "reject any arrival
    * with ANY rare token", closed but never total. An EMPTY history has
    * no vocabulary to judge against: cutoff Long.MaxValue admits
    * everything (the minkGate no-reference convention).
    */
  private[graft] def rareGate(spark: SparkSession, sfDir: String): (Seq[Long], Long, Long) = {
    val docs = Tables.documents(spark, sfDir)
    val hist = docs.filter(pmod(col("doc_id"), lit(2L)) === 0L)
    val (cms, total) = cmsModel(vocabOver(hist))
    // plain persist, not a ReplaceOnCallCache: unlike the pplScored/
    // minkScored precedents nothing lazy escapes this function — every
    // consumer (offsets join, count, the cut head()) runs before return,
    // so the scored history is released deterministically here
    val scored = rareScored(hist, cms, total)
      .withColumn("b", expr(s"(-rare_ppm) div $RarePpmBucketWidth"))
      .persist()
    val n = broadcast(scored.agg(count(lit(1)).as("n_docs")))
    val cutRow = bucketRank(scored, Seq.empty, Seq(col("rare_ppm").desc, col("doc_id")))
      .crossJoin(n)
      .filter(col("rk") <= expr(s"(n_docs + ${RareSuspectDen - 1}) div $RareSuspectDen"))
      .agg(min(col("rare_ppm"))).head()
    scored.unpersist()
    val cutoff = if (cutRow.isNullAt(0)) Long.MaxValue else math.max(cutRow.getLong(0), 1L)
    (cms, total, cutoff)
  }

  /** The arrival-side gate — shared VERBATIM by batch d73 and the s24
    * at-ingest gate (the two must agree bit for bit per document):
    * admitted iff rare_ppm sits strictly BELOW the trained cutoff
    * (ties rejected — a gibberish screen fails closed at the boundary).
    */
  private[graft] def rareGateWith(cms: Seq[Long], total: Long, cutoff: Long,
      arrivals: DataFrame): DataFrame =
    rareScored(arrivals, cms, total).filter(col("rare_ppm") < cutoff)

  /** d73: RARE-TOKEN (OOV/gibberish) GATE against a HISTORICAL corpus —
    * the frequency-based quality screen crawl pipelines run at ingest
    * (the C4/Gopher "mostly dictionary words" family, made deployable
    * at any history size by the [[graft.functions.CmsAgg]] sketch):
    * arrivals (odd doc_ids, the d62 convention) score the fraction of
    * their token stream whose HISTORY-estimated frequency is below
    * total/[[RareDen]], and are admitted iff that fraction sits below
    * the trained cutoff. CMS collisions can only INFLATE an estimate —
    * i.e. make a token look more common — so n_rare UNDERCOUNTS and the
    * gate errs toward ADMITTING (the spec pins the direction and that
    * the production geometry is collision-free on the gate corpus);
    * the cutoff itself trains through the same sketch, so the bias
    * cancels to first order at the boundary.
    *
    * SCALE: the d62/d66 collapse — a history of ANY size becomes 96 KB
    * of counters in one map-side-combined pass over the vocabulary
    * relation, and the arrival side is a stateless zero-shuffle
    * projection, wire-speed at a 1000-node ingest tier.
    */
  def d73RareGate(spark: SparkSession, sfDir: String): DataFrame = {
    val (cms, total, cutoff) = rareGate(spark, sfDir)
    rareGateWith(cms, total, cutoff,
      Tables.documents(spark, sfDir).filter(pmod(col("doc_id"), lit(2L)) === 1L))
  }

  // === Drifting-target variants (s25/s26) ==============================
  //
  // The r10-r12 skip reasoning for streaming rebalance was "targets
  // drift as counts grow — semantics consciously murky; revisit only if
  // a principled windowed definition emerges". This is that definition:
  // the corpus's id axis (its time axis — the reference's sequence
  // numbers, KinesisSource.scala's per-shard ordering) splits into
  // [[DriftEpochs]] fixed recalibration WINDOWS, and the model applied
  // to window e is derived from windows STRICTLY BEFORE e — the
  // one-epoch-lag recurrence a deployed nightly job actually runs
  // (today's gate uses yesterday's close). Deterministic, independent
  // of micro-batch chunking (epoch is data-derived, not arrival-
  // derived), and SQL-replayable via prefix aggregation.

  /** Number of recalibration windows the drifting-target operators
    * split the id axis into — FIXED at any scale (a deployed mixer
    * rebalances on calendar boundaries, so history holds O(windows)
    * models, not O(corpus)): model state stays O(DriftEpochs x buckets)
    * no matter the corpus size.
    */
  private[graft] val DriftEpochs = 16L

  /** The trained drift-mix schedule: for every (epoch, lang), the
    * 2^20-fixed-point admission threshold p derived from the CLOSED
    * epochs' cumulative counts — sqrt-temperature weights (d44's
    * integer convention) over the trailing mixture, scaled so the
    * expected admitted volume is ~half of arrivals with the tempered
    * language shares: p = min(2^20, ((s*2^19) div stot) * ctot div c).
    * Epoch 0 and never-seen languages admit everything (a mixer fails
    * OPEN on no history — exploration posture; contrast the
    * contamination gates, which fail closed). All-integer recurrence +
    * IEEE-exact sqrt, so the DuckDB oracle replays it bit-exactly.
    */
  private[graft] case class DriftMixSchedule(w: Long, langs: Seq[String], p: Array[Long])

  private[graft] def driftMixSchedule(spark: SparkSession, sfDir: String): DriftMixSchedule =
    TrainedModelCache.getOrTrain("drift-mix", sfDir)(
      driftMixScheduleOver(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))))

  /** [[driftMixSchedule]]'s trainer over any `(doc_id, lang)` relation —
    * parameterized for the spec's replay pin (trains inline; the sfDir
    * entry point caches).
    */
  private[graft] def driftMixScheduleOver(docs: DataFrame): DriftMixSchedule = {
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val w = mx / DriftEpochs + 1
      val counts = docs
        .select(expr(s"doc_id div $w").as("epoch"), col("lang"))
        .groupBy(col("epoch"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
      val langs = counts.keys.map(_._2).toSeq.distinct.sorted
      val nE = DriftEpochs.toInt
      val p = new Array[Long](nE * langs.size)
      val cum = scala.collection.mutable.Map(langs.map(_ -> 0L): _*)
      for (e <- 0 until nE) {
        val ctot = cum.values.sum
        val s = langs.map(l => l -> (if (cum(l) > 0)
          math.floor(math.sqrt(cum(l).toDouble) * 1000000).toLong else 0L)).toMap
        val stot = s.values.sum
        langs.zipWithIndex.foreach { case (l, i) =>
          p(e * langs.size + i) =
            if (cum(l) == 0 || stot == 0) 1048576L
            else math.min(1048576L, s(l) * 524288L / stot * ctot / cum(l))
        }
        langs.foreach(l => cum(l) += counts.getOrElse((e.toLong, l), 0L))
      }
      DriftMixSchedule(w, langs, p)
    }

  /** Admission under a [[DriftMixSchedule]] as a stateless zero-shuffle
    * projection — works identically on the batch relation and the
    * ingest stream (the s16 gate discipline, with a PER-EPOCH threshold
    * instead of one global cutoff). Output: admitted (doc_id, lang,
    * epoch). The threshold table enters as one array literal indexed by
    * epoch*|langs|+langIdx (element_at is O(1); the tiny lang->idx map
    * literal's linear probe is over |langs| entries).
    */
  private[graft] def driftMixAdmit(docs: DataFrame, sched: DriftMixSchedule): DataFrame = {
    val langIdx = typedlit(sched.langs.zipWithIndex.toMap)
    val pLit = typedlit(sched.p.toSeq)
    val draw = pmod(graft.functions.Md5Slices60.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":dmix"))),
      lit(1048576L))
    docs
      .select(col("doc_id"), col("lang"),
        expr(s"doc_id div ${sched.w}").as("epoch"), draw.as("draw"))
      .withColumn("p", coalesce(
        element_at(pLit, (col("epoch").cast("int") * sched.langs.size +
          element_at(langIdx, col("lang")) + 1)),
        lit(1048576L)))
      .filter(col("draw") < col("p"))
      .select(col("doc_id"), col("lang"), col("epoch"))
  }

  /** The per-epoch REFRESHED bigram LM: for each of the
    * [[DriftEpochs]] windows, the d47 hashed add-one LM trained on the
    * target slice of all STRICTLY EARLIER windows (cumulative counts,
    * one-epoch lag) — the "periodic LM refresh" a drifting-corpus
    * deployment runs nightly. One grouping-sets aggregate over
    * (epoch, bucket) + a driver prefix fold; model state is
    * O(DriftEpochs x (4096+256)) longs (~0.5 MB) at ANY corpus size.
    */
  private[graft] case class LmRefreshModel(w: Long,
      big: Array[Array[Long]], ctx: Array[Array[Long]])

  private[graft] def lmRefreshModel(spark: SparkSession, sfDir: String): LmRefreshModel =
    TrainedModelCache.getOrTrain("lm-refresh", sfDir)(
      lmRefreshModelOver(lmDocs(spark, sfDir)))

  /** [[lmRefreshModel]]'s trainer over any `(doc_id, is_target, text)`
    * relation — parameterized for the spec's replay pin. The epoch
    * width derives from the max doc_id over ALL documents (scoring
    * epochs), not just the target slice.
    */
  private[graft] def lmRefreshModelOver(docs: DataFrame): LmRefreshModel = {
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val w = mx / DriftEpochs + 1
      val pairs = docs.filter(col("is_target"))
        .select(expr(s"doc_id div $w").as("epoch"), words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("epoch"), graft.functions.Md5Prefix64.md5Prefix64(col("ws")).as("hws"))
        .select(col("epoch"), explode(zip_with(
          slice(col("hws"), lit(1), size(col("hws")) - 1),
          slice(col("hws"), lit(2), size(col("hws")) - 1), (h1, h2) =>
            struct(bigramBucket(h1, h2).as("hb"),
              pmod(h1, lit(DsirBuckets.toLong)).as("hc")))).as("u"))
        .select(col("epoch"), col("u.hb").as("hb"), col("u.hc").as("hc"))
      val rows = pairs
        .groupingSets(Seq(Seq(col("epoch"), col("hb")), Seq(col("epoch"), col("hc"))),
          col("epoch"), col("hb"), col("hc"))
        .agg(count(lit(1)).as("n"))
        .collect()
      val nE = DriftEpochs.toInt
      val cumB = new Array[Long](PplBigramBuckets)
      val cumC = new Array[Long](DsirBuckets)
      val perB = Array.fill(nE)(Map.empty[Int, Long])
      val perC = Array.fill(nE)(Map.empty[Int, Long])
      rows.foreach { r =>
        val e = r.getAs[Long]("epoch").toInt
        if (!r.isNullAt(r.fieldIndex("hb")))
          perB(e) += (r.getAs[Long]("hb").toInt -> r.getAs[Long]("n"))
        else if (!r.isNullAt(r.fieldIndex("hc")))
          perC(e) += (r.getAs[Long]("hc").toInt -> r.getAs[Long]("n"))
      }
      val big = Array.ofDim[Long](nE, PplBigramBuckets)
      val ctx = Array.ofDim[Long](nE, DsirBuckets)
      for (e <- 0 until nE) {
        var b = 0
        while (b < PplBigramBuckets) { big(e)(b) = log2Fx(cumB(b) + 1); b += 1 }
        var c = 0
        while (c < DsirBuckets) { ctx(e)(c) = log2Fx(cumC(c) + 256); c += 1 }
        perB(e).foreach { case (k, n) => cumB(k) += n }
        perC(e).foreach { case (k, n) => cumC(k) += n }
      }
      LmRefreshModel(w, big, ctx)
    }

  /** Per-document scoring under the REFRESHED LM of the document's own
    * epoch — [[pplScored]]'s zero-shuffle shape with the weight tables
    * epoch-dispatched through one 2-D array literal (element_at of
    * element_at; one literal node, the d13 lesson). Stateless: batch
    * and stream share it. Output: (doc_id, epoch, n_bigrams, avg_fx).
    */
  private[graft] def lmRefreshScored(docs: DataFrame, m: LmRefreshModel): DataFrame = {
    val bigLit = typedlit(m.big.map(_.toSeq).toSeq)
    val ctxLit = typedlit(m.ctx.map(_.toSeq).toSeq)
    val eIdx = (col("epoch") + 1).cast("int")
    val terms = pplTerms(element_at(bigLit, eIdx), element_at(ctxLit, eIdx))
    val score = aggregate(terms, lit(0L),
      (acc, t) => acc + t,
      acc => fxAvg(acc, (size(col("hws")) - 1).cast("long")))
    scanWide(docs)
      .select(col("doc_id"), expr(s"doc_id div ${m.w}").as("epoch"),
        words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("epoch"),
        graft.functions.Md5Prefix64.md5Prefix64(col("ws")).as("hws"))
      .select(col("doc_id"), col("epoch"),
        (size(col("hws")) - 1).cast("long").as("n_bigrams"), score.as("avg_fx"))
  }
}
