package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a DuckDB-equivalent in `oracleSql` (same
  * output column names; doubles rounded identically on both sides) unless the
  * computation is not SQL-expressible, in which case the driver records a
  * rows-only check and correctness is pinned by ScalaTest specs instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.RelationalOps.qRevenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2C test-oracle computations + §2B combinator surface (events table)
    "q1_groupbykey" -> (ops.EventOps.q1GroupByKey _),
    "q2_dedup_replay" -> (state.ReplayCollapse.q2DedupReplay _),
    "q3_except" -> (ops.EventOps.q3Except _),
    "q3_intersect" -> (ops.EventOps.q3Intersect _),
    "c1_project" -> (ops.EventOps.c1Project _),
    "c2_filter" -> (ops.EventOps.c2Filter _),
    "c3_grouped" -> (ops.EventOps.c3Grouped _),
    "c4_explode" -> (ops.EventOps.c4Explode _),
    "c5_perkey_order" -> (ops.EventOps.c5PerKeyOrder _),
    "c6_union" -> (ops.EventOps.c6Union _),
    "c8_topk" -> (ops.EventOps.c8TopK _),
    "o10_seek_timestamp" -> (ops.EventOps.o10SeekTimestamp _),
    "q_sessionize" -> (ops.EventOps.qSessionize _),
    "q_session_window" -> (ops.EventOps.qSessionWindow _),
    "q_asof_signup" -> (ops.EventOps.qAsofSignup _),
    // training-data pipeline operators (documents/embeddings corpus)
    "d1_exact_dedup" -> (ops.CorpusOps.d1ExactDedup _),
    "d2_minhash_lsh" -> (ops.CorpusOps.d2MinhashLsh _),
    "d3_text_stats" -> (ops.CorpusOps.d3TextStats _),
    "d4_langid" -> (ops.CorpusOps.d4LangId _),
    "d5_simhash" -> (ops.CorpusOps.d5Simhash _),
    "d10_rolling_hash" -> (ops.CorpusOps.d10RollingHash _),
    "d12_simhash_neardup" -> (ops.CorpusOps.d12SimhashNeardup _),
    "d14_ngram_jaccard" -> (ops.CorpusOps.d14NgramJaccard _),
    "d11_quality" -> (ops.CorpusOps.d11Quality _),
    "d18_corpus_prep" -> (ops.CorpusOps.d18CorpusPrep _),
    "d19_split_assign" -> (ops.CorpusOps.d19SplitAssign _),
    "d20_contamination" -> (ops.CorpusOps.d20Contamination _),
    "d22_stratified_sample" -> (ops.CorpusOps.d22StratifiedSample _),
    "d25_dedup_clusters" -> (ops.CorpusOps.d25DedupClusters _),
    "d26_repetition" -> (ops.CorpusOps.d26Repetition _),
    "d27_pack_chunks" -> (ops.CorpusOps.d27PackChunks _),
    "d28_dup_spans" -> (ops.CorpusOps.d28DupSpans _),
    "d29_lang_mixture" -> (ops.CorpusOps.d29LangMixture _),
    "d30_bpe_pairs" -> (ops.CorpusOps.d30BpePairs _),
    "d33_bpe_train" -> ((s: SparkSession, dir: String) => ops.CorpusOps.d33BpeTrain(s, dir)),
    "d37_bpe_encode" -> ((s: SparkSession, dir: String) => ops.CorpusOps.d37BpeEncode(s, dir)),
    "d38_pii_redact" -> (ops.CorpusOps.d38PiiRedact _),
    "d39_token_budget" -> (ops.CorpusOps.d39TokenBudget _),
    "d40_epoch_mix" -> (ops.CorpusOps.d40EpochMix _),
    "d41_soft_dedup" -> (ops.CorpusOps.d41SoftDedup _),
    "d42_interleave_order" -> (ops.CorpusOps.d42InterleaveOrder _),
    "d44_temperature_mix" -> (ops.CorpusOps.d44TemperatureMix _),
    "d45_dsir_select" -> (ops.CorpusOps.d45DsirSelect _),
    "d47_ppl_filter" -> (ops.CorpusOps.d47PplFilter _),
    "d48_split_leakage" -> (ops.CorpusOps.d48SplitLeakage _),
    "d49_containment" -> (ops.CorpusOps.d49Containment _),
    "d50_training_plan" -> (ops.CorpusOps.d50TrainingPlan _),
    "d51_containment_clusters" -> (ops.CorpusOps.d51ContainmentClusters _),
    "d52_winnow" -> (ops.CorpusOps.d52Winnow _),
    "d53_winnow_overlap" -> (ops.CorpusOps.d53WinnowOverlap _),
    "d54_bm25" -> (ops.CorpusOps.d54Bm25 _),
    "d57_corpus_report" -> (ops.CorpusOps.d57CorpusReport _),
    "d59_hashed_embed" -> (ops.CorpusOps.d59HashedEmbed _),
    "d61_span_scrub" -> (ops.CorpusOps.d61SpanScrub _),
    "d62_bloom_gate" -> (ops.CorpusOps.d62BloomGate _),
    "d34_ann_ivf_probes" -> (ops.VectorOps.d34AnnIvfProbes _),
    "d46_semdedup" -> (ops.VectorOps.d46SemDedup _),
    "d55_d4_select" -> (ops.VectorOps.d55D4Select _),
    "d56_semantic_contamination" -> (ops.VectorOps.d56SemanticContamination _),
    "d58_knn_graph" -> (ops.VectorOps.d58KnnGraph _),
    "d60_semantic_clusters" -> (ops.VectorOps.d60SemanticClusters _),
    "d63_chain_components" -> (ops.GraphOps.d63ChainComponents _),
    "d64_novelty" -> (ops.CorpusOps.d64Novelty _),
    "d65_group_split" -> (ops.CorpusOps.d65GroupSplit _),
    "d66_novelty_gate" -> (ops.CorpusOps.d66NoveltyGate _),
    "d67_mink_screen" -> (ops.CorpusOps.d67MinkScreen _),
    "d68_cluster_cap" -> (ops.VectorOps.d68ClusterCap _),
    "d69_curriculum_order" -> (ops.CorpusOps.d69CurriculumOrder _),
    "d70_shard_manifest" -> (ops.CorpusOps.d70ShardManifest _),
    "d71_snapshot_diff" -> (ops.CorpusOps.d71SnapshotDiff _),
    "d72_heavy_hitters" -> (ops.CorpusOps.d72HeavyHitters _),
    "d73_rare_gate" -> (ops.CorpusOps.d73RareGate _),
    "d74_token_fertility" ->
      ((s: SparkSession, dir: String) => ops.CorpusOps.d74TokenFertility(s, dir)),
    "d35_ann_ivf_pq" -> (ops.VectorOps.d35AnnIvfPq _),
    "d36_ann_ivfpq_full" -> (ops.VectorOps.d36AnnIvfPqFull _),
    "d43_ann_ivfpq_residual" -> (ops.VectorOps.d43AnnIvfPqResidual _),
    "d32_quality_deciles" -> (ops.CorpusOps.d32QualityDeciles _),
    "d32_deciles_cutoff" -> (ops.CorpusOps.d32QualityDecilesCutoff _),
    "d23_tfidf_topterms" -> (ops.CorpusOps.d23TfidfTopTerms _),
    "d23_tfidf_singlescan" -> (ops.CorpusOps.d23TfidfSingleScan _),
    "d6_ann_brute" -> (ops.VectorOps.d6AnnBrute _),
    "d7_ann_ivf" -> (ops.VectorOps.d7AnnIvf _),
    "d13_ann_ivf_kmeans" -> (ops.VectorOps.d13AnnIvfKmeans _),
    // the first oracle-checked trained-quantizer path: median updates are
    // order-independent, so DuckDB reproduces training hash-exactly
    "d21_ann_ivf_kmedians" -> (ops.VectorOps.d21AnnIvfKmedians _),
    "d24_embed_quantize" -> (ops.VectorOps.d24EmbedQuantize _),
    "d8_multimodal_decode" -> (ops.MultimodalOps.d8MultimodalDecode _),
    "d15_frame_sample" -> (ops.MultimodalOps.d15FrameSample _),
    "d17_resize" -> (ops.MultimodalOps.d17Resize _),
    "d9_embed_neardup" -> (ops.VectorOps.d9EmbedNeardup _),
    "d31_ann_filtered" -> (ops.VectorOps.d31AnnFiltered _),
    "d16_srp_neardup" -> (ops.VectorOps.d16SrpNeardup _),
    // end-to-end Structured Streaming (sharded file source, checkpoint,
    // watermark, memory sink) run synchronously via Trigger.AvailableNow
    "s1_stream_hourly_agg" -> (streaming.StreamingQueries.s1StreamHourlyAgg _),
    "s2_stream_dedup_count" -> (streaming.StreamingQueries.s2StreamDedupCount _),
    "s3_stream_seek" -> (streaming.StreamingQueries.s3StreamSeek _),
    "s3_stream_seek_trim" -> (streaming.StreamingQueries.s3StreamSeekTrim _),
    "s4_stream_perkey_state" -> (streaming.StreamingQueries.s4StreamPerKeyState _),
    "s5_stream_perkey_tws" -> (streaming.StreamingQueries.s5StreamPerKeyTws _),
    "s6_stream_stream_join" -> (streaming.StreamingQueries.s6StreamStreamJoin _),
    "s7_stream_corpus_dedup" -> (streaming.StreamingQueries.s7StreamCorpusDedup _),
    "s8_stream_neardup" -> (streaming.StreamingQueries.s8StreamNearDup _),
    "s9_stream_session" -> (streaming.StreamingQueries.s9StreamSession _),
    "s10_stream_contamination" -> (streaming.StreamingQueries.s10StreamContamination _),
    "s11_stream_dup_positions" -> (streaming.StreamingQueries.s11StreamDupPositions _),
    "s12_stream_neardup_seeded" -> (streaming.StreamingQueries.s12StreamNearDupSeeded _),
    "s13_stream_dup_seeded" -> (streaming.StreamingQueries.s13StreamDupSeeded _),
    "s14_stream_ann_ingest" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s14StreamAnnIngest(s, dir)),
    "s15_stream_pq_ingest" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s15StreamPqIngest(s, dir)),
    "s16_stream_dsir_gate" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s16StreamDsirGate(s, dir)),
    "s17_stream_winnow_ingest" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s17StreamWinnowIngest(s, dir)),
    "s18_stream_semantic_gate" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s18StreamSemanticGate(s, dir)),
    "s19_stream_ann_lookup" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s19StreamAnnLookup(s, dir)),
    "s20_stream_bloom_gate" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s20StreamBloomGate(s, dir)),
    "s21_stream_ppl_gate" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s21StreamPplGate(s, dir)),
    "s22_stream_novelty_gate" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s22StreamNoveltyGate(s, dir)),
    "s23_stream_mink_gate" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s23StreamMinkGate(s, dir)),
    "s24_stream_rare_gate" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s24StreamRareGate(s, dir)),
    "s25_stream_drift_mix" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s25StreamDriftMix(s, dir)),
    "s26_stream_lm_refresh" ->
      ((s: SparkSession, dir: String) => streaming.StreamingQueries.s26StreamLmRefresh(s, dir)),
    // relational coverage (SURVEY.md §2D → Spark built-ins)
    "q_pricing_summary" -> (ops.RelationalOps.qPricingSummary _),
    "q_revenue_by_nation" -> (ops.RelationalOps.qRevenueByNation _),
    "q_top_orders_per_cust" -> (ops.RelationalOps.qTopOrdersPerCust _),
    "q_cust_with_orders" -> (ops.RelationalOps.qCustWithOrders _),
    "q_cust_no_urgent" -> (ops.RelationalOps.qCustNoUrgent _),
    "q_distinct_suppliers" -> (ops.RelationalOps.qDistinctSuppliers _),
    "q_rollup_revenue" -> (ops.RelationalOps.qRollupRevenue _),
    "q_percentiles" -> (ops.RelationalOps.qPercentiles _),
    "q_brand_supplier_revenue" -> (ops.RelationalOps.qBrandSupplierRevenue _),
    "q_salted_join" -> (ops.SkewJoin.qSaltedJoin _),
    "q_pivot_priority" -> (ops.RelationalOps.qPivotPriority _),
    "q_approx_stats" -> (ops.RelationalOps.qApproxStats _),
  )

  /** Unrolled DuckDB replay of [[ops.VectorOps]]' IVF-PQ pipeline —
    * d21's iterative-oracle technique lifted to the subspace grid. The
    * k-MEDIANS codebook update (component medians rounded to 6 dp,
    * selection-based → order-independent) is what makes the 3-iteration
    * × 8-subspace training replayable at all; the encode, ADC ranking
    * (fixed-m-order summation on both engines) and exact cosine rerank
    * then follow hash-exactly. `probed = true` additionally replays
    * d34's exact-integer coarse-centroid probe (nprobe = 3) to restrict
    * the scored set — the full d36 composition.
    */
  private def pqOracleSql(probed: Boolean): String = {
    val iters = (0 until 3).map { i =>
      s"j$i AS (SELECT s.vec_id, s.m, s.v, c.cid, c.cv FROM sub s JOIN cb$i c ON s.m = c.m), " +
        s"d$i AS (SELECT vec_id, m, v, cid, list_sum([(v[m*8+j] - cv[j]) * (v[m*8+j] - cv[j]) for j in range(1, 9)]) AS d FROM j$i), " +
        s"a$i AS (SELECT vec_id, m, v, cid FROM (SELECT vec_id, m, v, cid, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM d$i) WHERE rn = 1), " +
        s"x$i AS (SELECT m, cid, j, v[m*8+j] AS x FROM a$i, LATERAL unnest(range(1, 9)) AS t(j)), " +
        s"g$i AS (SELECT m, cid, j, round(quantile_cont(x, 0.5), 6) AS c FROM x$i GROUP BY m, cid, j), " +
        s"cb${i + 1} AS (SELECT m, cid, list(c ORDER BY j) AS cv FROM g$i GROUP BY m, cid), "
    }.mkString
    val candCte =
      if (!probed)
        "cand AS (SELECT q.q_id, e.vec_id FROM q, e WHERE e.vec_id <> q.q_id), "
      else
        "ex AS (SELECT label, unnest(range(1, len(v) + 1)) AS i, v FROM e), " +
          "qz AS (SELECT label, i, sum(CAST(floor(v[i] * 1048576) AS BIGINT)) AS sq, count(*) AS n FROM ex GROUP BY 1, 2), " +
          "cents AS (SELECT label AS c_label, list(sq / (n * 1048576.0) ORDER BY i) AS cv FROM qz GROUP BY label), " +
          "cd AS (SELECT q_id, qv, c_label, list_sum([(qv[i] - cv[i]) * (qv[i] - cv[i]) for i in range(1, len(qv) + 1)]) AS dist FROM q, cents), " +
          "probe AS (SELECT q_id, c_label FROM (SELECT q_id, c_label, row_number() OVER (PARTITION BY q_id ORDER BY dist, c_label) AS crn FROM cd) WHERE crn <= 3), " +
          "cand AS (SELECT p.q_id, e.vec_id FROM probe p JOIN e ON e.label = p.c_label WHERE e.vec_id <> p.q_id), "
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings), " +
      "samp AS (SELECT vec_id, v FROM e WHERE vec_id % 4 = 0), " +
      "sub AS (SELECT vec_id, m, v FROM samp, LATERAL unnest(range(0, 8)) AS t(m)), " +
      "seed AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v FROM (SELECT vec_id, v FROM samp ORDER BY vec_id LIMIT 16)), " +
      "cb0 AS (SELECT m, cid, [v[m*8+j] for j in range(1, 9)] AS cv FROM seed, LATERAL unnest(range(0, 8)) AS t(m)), " +
      iters +
      "esub AS (SELECT vec_id, m, v FROM e, LATERAL unnest(range(0, 8)) AS t(m)), " +
      "ej AS (SELECT s.vec_id, s.m, s.v, c.cid, c.cv FROM esub s JOIN cb3 c ON s.m = c.m), " +
      "ed AS (SELECT vec_id, m, v, cid, list_sum([(v[m*8+j] - cv[j]) * (v[m*8+j] - cv[j]) for j in range(1, 9)]) AS d FROM ej), " +
      "codes AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM ed) WHERE rn = 1), " +
      "q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20), " +
      "jq AS (SELECT q.q_id, q.qv, c.m, c.cid, c.cv FROM q, cb3 c), " +
      "qtab AS (SELECT q_id, m, cid, list_sum([(qv[m*8+j] - cv[j]) * (qv[m*8+j] - cv[j]) for j in range(1, 9)]) AS d FROM jq), " +
      candCte +
      "adc AS (SELECT c.q_id, c.vec_id, list_sum(list(t.d ORDER BY t.m)) AS adc FROM cand c JOIN codes k ON k.vec_id = c.vec_id JOIN qtab t ON t.q_id = c.q_id AND t.m = k.m AND t.cid = k.cid GROUP BY c.q_id, c.vec_id), " +
      "topc AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS crn FROM adc) WHERE crn <= 50), " +
      "s AS (SELECT c.q_id, c.vec_id AS n_id, list_sum([q.qv[i] * e.v[i] for i in range(1, len(e.v) + 1)]) / (sqrt(list_sum([q.qv[i] * q.qv[i] for i in range(1, len(q.qv) + 1)])) * sqrt(list_sum([e.v[i] * e.v[i] for i in range(1, len(e.v) + 1)]))) AS sim FROM topc c JOIN q ON q.q_id = c.q_id JOIN e ON e.vec_id = c.vec_id), " +
      "r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM s) " +
      "SELECT q_id, n_id, round(sim, 6) AS sim, rn FROM r WHERE rn <= 10"
  }

  /** Unrolled DuckDB replay of d13's sample-trained k-means IVF: 3 Lloyd
    * iterations over the 1-in-4 sample with d34's EXACT-INTEGER mean
    * update (floor-quantized 2^20ths summed as BIGINTs — order-free, so
    * both engines derive bit-identical centroids), then the full-corpus
    * assignment and own-cell exact-rerank search.
    */
  private def kmeansOracleSql: String = {
    val iters = (0 until 3).map { i =>
      s"j$i AS (SELECT s.vec_id, s.v, c.cid, c.cv FROM samp s CROSS JOIN c$i c), " +
        s"d$i AS (SELECT vec_id, v, cid, list_sum([(v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, len(v) + 1)]) AS d FROM j$i), " +
        s"a$i AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d$i) WHERE rn = 1), " +
        s"x$i AS (SELECT cid, i, v[i] AS x FROM a$i, LATERAL unnest(range(1, len(v) + 1)) AS t(i)), " +
        s"m$i AS (SELECT cid, i, sum(CAST(floor(x * 1048576) AS BIGINT)) AS sq, count(*) AS n FROM x$i GROUP BY cid, i), " +
        s"c${i + 1} AS (SELECT cid, list(sq / (n * 1048576.0) ORDER BY i) AS cv FROM m$i GROUP BY cid), "
    }.mkString
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "samp AS (SELECT vec_id, v FROM e WHERE vec_id % 4 = 0), " +
      "c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cv FROM (SELECT vec_id, v FROM samp ORDER BY vec_id LIMIT 8)), " +
      iters +
      "jf AS (SELECT e.vec_id, e.v, c.cid, c.cv FROM e CROSS JOIN c3 c), " +
      "df AS (SELECT vec_id, v, cid, list_sum([(v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, len(v) + 1)]) AS d FROM jf), " +
      "af AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM df) WHERE rn = 1), " +
      "q AS (SELECT vec_id AS q_id, v AS qv, cid AS q_cid FROM af WHERE vec_id < 20), " +
      "s AS (SELECT q.q_id, a.vec_id AS n_id, list_sum([qv[i] * a.v[i] for i in range(1, len(a.v) + 1)]) / (sqrt(list_sum([qv[i] * qv[i] for i in range(1, len(qv) + 1)])) * sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, len(a.v) + 1)]))) AS sim FROM q JOIN af a ON a.cid = q.q_cid AND a.vec_id <> q.q_id), " +
      "r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM s) " +
      "SELECT q_id, n_id, round(sim, 6) AS sim, rn FROM r WHERE rn <= 10"
  }

  /** d43's replay: like [[pqOracleSql]](probed) but PQ trains on and
    * encodes RESIDUALS `v − centroid(cell(v))` (centroids = d34's
    * exact-integer table), and the ADC table is per (query, probed
    * cell) — the query residual differs per cell.
    */
  private def residPqOracleSql: String = {
    val iters = (0 until 3).map { i =>
      s"j$i AS (SELECT s.vec_id, s.m, s.v, c.cid, c.cv FROM sub s JOIN cb$i c ON s.m = c.m), " +
        s"d$i AS (SELECT vec_id, m, v, cid, list_sum([(v[m*8+j] - cv[j]) * (v[m*8+j] - cv[j]) for j in range(1, 9)]) AS d FROM j$i), " +
        s"a$i AS (SELECT vec_id, m, v, cid FROM (SELECT vec_id, m, v, cid, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM d$i) WHERE rn = 1), " +
        s"x$i AS (SELECT m, cid, j, v[m*8+j] AS x FROM a$i, LATERAL unnest(range(1, 9)) AS t(j)), " +
        s"g$i AS (SELECT m, cid, j, round(quantile_cont(x, 0.5), 6) AS c FROM x$i GROUP BY m, cid, j), " +
        s"cb${i + 1} AS (SELECT m, cid, list(c ORDER BY j) AS cv FROM g$i GROUP BY m, cid), "
    }.mkString
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings), " +
      "ex AS (SELECT label, unnest(range(1, len(v) + 1)) AS i, v FROM e), " +
      "qz AS (SELECT label, i, sum(CAST(floor(v[i] * 1048576) AS BIGINT)) AS sq, count(*) AS n FROM ex GROUP BY 1, 2), " +
      "cents AS (SELECT label AS c_label, list(sq / (n * 1048576.0) ORDER BY i) AS cv FROM qz GROUP BY label), " +
      "rsd AS (SELECT e.vec_id, e.label, [e.v[i] - c.cv[i] for i in range(1, len(e.v) + 1)] AS rv FROM e JOIN cents c ON e.label = c.c_label), " +
      "samp AS (SELECT vec_id, rv AS v FROM rsd WHERE vec_id % 4 = 0), " +
      "sub AS (SELECT vec_id, m, v FROM samp, LATERAL unnest(range(0, 8)) AS t(m)), " +
      "seed AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v FROM (SELECT vec_id, v FROM samp ORDER BY vec_id LIMIT 16)), " +
      "cb0 AS (SELECT m, cid, [v[m*8+j] for j in range(1, 9)] AS cv FROM seed, LATERAL unnest(range(0, 8)) AS t(m)), " +
      iters +
      "esub AS (SELECT vec_id, m, rv AS v FROM rsd, LATERAL unnest(range(0, 8)) AS t(m)), " +
      "ej AS (SELECT s.vec_id, s.m, s.v, c.cid, c.cv FROM esub s JOIN cb3 c ON s.m = c.m), " +
      "ed AS (SELECT vec_id, m, v, cid, list_sum([(v[m*8+j] - cv[j]) * (v[m*8+j] - cv[j]) for j in range(1, 9)]) AS d FROM ej), " +
      "codes AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM ed) WHERE rn = 1), " +
      "q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20), " +
      "cd AS (SELECT q_id, qv, c_label, list_sum([(qv[i] - cv[i]) * (qv[i] - cv[i]) for i in range(1, len(qv) + 1)]) AS dist FROM q, cents), " +
      "probe AS (SELECT q_id, c_label FROM (SELECT q_id, c_label, row_number() OVER (PARTITION BY q_id ORDER BY dist, c_label) AS crn FROM cd) WHERE crn <= 3), " +
      "qres AS (SELECT p.q_id, p.c_label, [q.qv[i] - c.cv[i] for i in range(1, len(q.qv) + 1)] AS rv FROM probe p JOIN q ON q.q_id = p.q_id JOIN cents c ON c.c_label = p.c_label), " +
      "jq AS (SELECT r.q_id, r.c_label, r.rv AS v, c.m, c.cid, c.cv FROM qres r, cb3 c), " +
      "qtab AS (SELECT q_id, c_label, m, cid, list_sum([(v[m*8+j] - cv[j]) * (v[m*8+j] - cv[j]) for j in range(1, 9)]) AS d FROM jq), " +
      "cand AS (SELECT p.q_id, e.vec_id, e.label FROM probe p JOIN e ON e.label = p.c_label WHERE e.vec_id <> p.q_id), " +
      "adc AS (SELECT c.q_id, c.vec_id, list_sum(list(t.d ORDER BY t.m)) AS adc FROM cand c JOIN codes k ON k.vec_id = c.vec_id JOIN qtab t ON t.q_id = c.q_id AND t.c_label = c.label AND t.m = k.m AND t.cid = k.cid GROUP BY c.q_id, c.vec_id), " +
      "topc AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS crn FROM adc) WHERE crn <= 50), " +
      "s AS (SELECT c.q_id, c.vec_id AS n_id, list_sum([q.qv[i] * e.v[i] for i in range(1, len(e.v) + 1)]) / (sqrt(list_sum([q.qv[i] * q.qv[i] for i in range(1, len(q.qv) + 1)])) * sqrt(list_sum([e.v[i] * e.v[i] for i in range(1, len(e.v) + 1)]))) AS sim FROM topc c JOIN q ON q.q_id = c.q_id JOIN e ON e.vec_id = c.vec_id), " +
      "r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM s) " +
      "SELECT q_id, n_id, round(sim, 6) AS sim, rn FROM r WHERE rn <= 10"
  }

  /** The shared containment replay (d49 pairs / d51 clusters): the same
    * 8-word windows hashed to 60-bit md5 prefixes (the d28 identity),
    * stop-windows above the 256-doc cap excluded from both sides of the
    * ratio, shared-window counts per ordered pair.
    */
  private def containmentCteSql: String =
    "WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), " +
      "g0 AS (SELECT doc_id, unnest([array_to_string(ws[i:i+7], ' ') for i in range(1, len(ws) - 6)]) AS s FROM w WHERE len(ws) >= 8), " +
      "graw AS (SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS gh FROM g0), " +
      "g AS (SELECT * FROM graw WHERE gh NOT IN (SELECT gh FROM graw GROUP BY gh HAVING count(*) > 256)), " +
      "na AS (SELECT doc_id, count(*) AS n_a FROM g GROUP BY doc_id), " +
      "sh AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id <> b.doc_id GROUP BY 1, 2) "

  /** The shared semantic-contamination replay (d56 batch audit / s18
    * at-ingest gate — the two must agree row for row, so they gate
    * against ONE oracle string): exact eval-×-train cosine sweep at the
    * SemDeDup 0.38 level, thresholded on the unrounded similarity.
    */
  private def semanticContaminationOracleSql: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "ev AS (SELECT vec_id AS eval_id, v AS evv FROM e WHERE vec_id % 25 = 0), " +
      "s AS (SELECT eval_id, e.vec_id AS train_id, list_sum([evv[i] * v[i] for i in range(1, len(v) + 1)]) / (sqrt(list_sum([evv[i] * evv[i] for i in range(1, len(evv) + 1)])) * sqrt(list_sum([v[i] * v[i] for i in range(1, len(v) + 1)]))) AS sim FROM ev, e WHERE e.vec_id % 25 <> 0) " +
      "SELECT eval_id, train_id, round(sim, 6) AS sim FROM s WHERE sim >= 0.38"

  /** The shared Bloom-gate replay (d62 batch audit / s20 at-ingest gate
    * — identical semantics, ONE oracle string): k = 3 fingerprint-slice
    * positions, the train half's distinct position set, and the
    * all-positions-present probe.
    */
  private def bloomGateOracleSql: String =
    "WITH f AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS fp FROM documents), " +
      "p AS (SELECT doc_id, [CAST(('0x' || substr(fp, 1 + 5 * j, 5)) AS BIGINT) % 65536 for j in range(0, 3)] AS ps FROM f), " +
      "train AS (SELECT DISTINCT unnest(ps) AS p FROM p WHERE doc_id % 2 = 0), " +
      "e AS (SELECT doc_id, unnest(ps) AS x FROM p WHERE doc_id % 2 = 1), " +
      "h AS (SELECT e.doc_id, count(t.p) AS nhit FROM e LEFT JOIN train t ON t.p = e.x GROUP BY e.doc_id) " +
      "SELECT doc_id, CASE WHEN nhit = 3 THEN 1 ELSE 0 END AS hit FROM h"

  /** The shared d66/s22 replay: window hashes (the d64 CTE), the three
    * 20-bit position slices, train = the history half's distinct
    * positions; a window counts as seen iff all three positions hit
    * (Bloom semantics over the position SET — bit-identical to probing
    * the packed bitmap); admitted docs are majority-new.
    */
  private def noveltyGateOracleSql: String =
    "WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), " +
      "g AS (SELECT doc_id, unnest(list_distinct([CAST(('0x' || substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 15)) AS BIGINT) for i in range(1, len(ws) - 6)])) AS gh FROM w WHERE len(ws) >= 8), " +
      "p AS (SELECT doc_id, gh, [gh % 1048576, (gh // 1048576) % 1048576, (gh // 1099511627776) % 1048576] AS ps FROM g), " +
      "train AS (SELECT DISTINCT unnest(ps) AS p FROM p WHERE doc_id % 2 = 0), " +
      "e AS (SELECT doc_id, gh, unnest(ps) AS x FROM p WHERE doc_id % 2 = 1), " +
      "h AS (SELECT doc_id, gh, count(t.p) AS nh FROM e LEFT JOIN train t ON t.p = e.x GROUP BY doc_id, gh), " +
      "s AS (SELECT doc_id, count(*) AS n_windows, count(*) FILTER (nh < 3) AS n_new FROM h GROUP BY doc_id) " +
      "SELECT doc_id, n_windows, n_new, (1000000 * n_new) // n_windows AS novelty_ppm FROM s " +
      "WHERE (1000000 * n_new) // n_windows >= 500000"

  /** The shared BPE train+encode replay (d37 / d74): three greedy merge
    * rounds, each one = the globally most frequent adjacent pair under
    * the (count desc, l, r) total order, applied to every document via
    * the doubled-space replace trick that prevents overlapping-pair
    * double application — producing `s0` (pre-merge) and `s3`
    * (post-merge) per-doc token streams for the final SELECT to
    * account. `lang` rides `s0` for d74's rollup.
    */
  private def bpeCteSql: String =
    "WITH s0 AS (SELECT doc_id, lang, lower(trim(text)) AS t FROM documents WHERE lower(trim(text)) <> ''), " +
      "c1 AS (SELECT unnest([{'l': ws[i], 'r': ws[i+1]} for i in range(1, len(ws))]) AS u FROM (SELECT string_split(t, ' ') AS ws FROM s0) WHERE len(ws) >= 2), " +
      "m1 AS (SELECT u.l AS l, u.r AS r, count(*) AS cnt FROM c1 GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1), " +
      "s1 AS (SELECT doc_id, trim(replace(replace(' ' || replace(t, ' ', '  ') || ' ', ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || '+' || m.r || ' '), '  ', ' ')) AS t FROM s0, m1 AS m), " +
      "c2 AS (SELECT unnest([{'l': ws[i], 'r': ws[i+1]} for i in range(1, len(ws))]) AS u FROM (SELECT string_split(t, ' ') AS ws FROM s1) WHERE len(ws) >= 2), " +
      "m2 AS (SELECT u.l AS l, u.r AS r, count(*) AS cnt FROM c2 GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1), " +
      "s2 AS (SELECT doc_id, trim(replace(replace(' ' || replace(t, ' ', '  ') || ' ', ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || '+' || m.r || ' '), '  ', ' ')) AS t FROM s1, m2 AS m), " +
      "c3 AS (SELECT unnest([{'l': ws[i], 'r': ws[i+1]} for i in range(1, len(ws))]) AS u FROM (SELECT string_split(t, ' ') AS ws FROM s2) WHERE len(ws) >= 2), " +
      "m3 AS (SELECT u.l AS l, u.r AS r, count(*) AS cnt FROM c3 GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1), " +
      "s3 AS (SELECT doc_id, trim(replace(replace(' ' || replace(t, ' ', '  ') || ' ', ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || '+' || m.r || ' '), '  ', ' ')) AS t FROM s2, m3 AS m) "

  /** The d73/s24 Count-Min rare-token replay, shared by the batch gate
    * and the at-ingest twin: the sketch is replayed as a (j, b, s)
    * counter relation — buckets are integer 12-bit slices of the 60-bit
    * md5-prefix hash and counters are plain sums, so the estimate (min
    * over rows, empty cell = 0), every collision, the trained cutoff
    * (top-ceil(5%)-rarest history minimum, floored at 1 ppm), and the
    * strict-below admission all replay EXACTLY in integer arithmetic.
    */
  private def rareGateOracleSql: String =
    "WITH toks AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents), " +
      "hv AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM toks), " +
      "hist AS (SELECT h, CAST(count(*) AS BIGINT) AS cnt FROM hv WHERE doc_id % 2 = 0 GROUP BY h), " +
      "tot AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS t FROM hist), " +
      "cells AS (SELECT g.j, (h >> (12 * g.j)) & 4095 AS b, CAST(sum(cnt) AS BIGINT) AS s FROM hist, (SELECT unnest([0, 1, 2]) AS j) g GROUP BY 1, 2), " +
      "uh AS (SELECT DISTINCT h FROM hv), " +
      "eh AS (SELECT uh.h, CAST(min(coalesce(c.s, 0)) AS BIGINT) AS est FROM uh CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) g LEFT JOIN cells c ON c.j = g.j AND c.b = (uh.h >> (12 * g.j)) & 4095 GROUP BY uh.h), " +
      "d AS (SELECT hv.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(count(*) FILTER (WHERE eh.est * 256 < (SELECT t FROM tot)) AS BIGINT) AS n_rare FROM hv JOIN eh USING (h) GROUP BY hv.doc_id), " +
      "sc AS (SELECT doc_id, n_tokens, n_rare, (1000000 * n_rare) // n_tokens AS rare_ppm FROM d), " +
      "hr AS (SELECT doc_id, rare_ppm, row_number() OVER (ORDER BY rare_ppm DESC, doc_id) AS rk FROM sc WHERE doc_id % 2 = 0), " +
      "nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM hr), " +
      "cut AS (SELECT greatest(coalesce((SELECT min(rare_ppm) FROM hr, nn WHERE rk <= (n_docs + 19) // 20), 9223372036854775807), 1) AS c) " +
      "SELECT doc_id, n_tokens, n_rare, rare_ppm FROM sc, cut WHERE doc_id % 2 = 1 AND rare_ppm < c"

  /** The shared kNN-graph replay (d58 / d60): all same-cell cosine
    * pairs ranked per query vector with a plain window.
    */
  private def knnGraphCteSql: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings), " +
      "s AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) / (sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, len(a.v) + 1)])) * sqrt(list_sum([b.v[i] * b.v[i] for i in range(1, len(b.v) + 1)]))) AS sim FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id), " +
      "r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM s) "

  /** The shared SemDeDup replay (d46 / d55): exact-integer label
    * centroids, unrounded centroid similarities, and the per-cell
    * near-dup drop set under the lowest-centroid-similarity-first keep
    * rule.
    */
  private def semdedupCteSql: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings), " +
      "ex AS (SELECT label, unnest(range(1, len(v) + 1)) AS i, v FROM e), " +
      "qz AS (SELECT label, i, sum(CAST(floor(v[i] * 1048576) AS BIGINT)) AS sq, count(*) AS n FROM ex GROUP BY 1, 2), " +
      "cents AS (SELECT label AS c_label, list(sq / (n * 1048576.0) ORDER BY i) AS cv FROM qz GROUP BY label), " +
      "cs AS (SELECT e.vec_id, e.label, e.v, list_sum([e.v[i] * cv[i] for i in range(1, len(e.v) + 1)]) / (sqrt(list_sum([e.v[i] * e.v[i] for i in range(1, len(e.v) + 1)])) * sqrt(list_sum([cv[i] * cv[i] for i in range(1, len(cv) + 1)]))) AS csim FROM e JOIN cents ON cents.c_label = e.label), " +
      "dropped AS (SELECT DISTINCT a.vec_id FROM cs a JOIN cs b ON a.label = b.label AND a.vec_id <> b.vec_id " +
      "WHERE list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) / (sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, len(a.v) + 1)])) * sqrt(list_sum([b.v[i] * b.v[i] for i in range(1, len(b.v) + 1)]))) >= 0.38 " +
      "AND (b.csim < a.csim OR (b.csim = a.csim AND b.vec_id < a.vec_id))) "

  /** The d54 BM25 replay: per-doc (dl, tf_t) projections, the one-row
    * corpus statistics, Lucene-variant idf through the SAME 20-step
    * fixed-point log recurrence as the DSIR oracle, and the all-integer
    * scoring — generated over the [[ops.CorpusOps.Bm25Query]] terms.
    */
  private def bm25OracleSql: String = {
    val terms = ops.CorpusOps.Bm25Query
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ws, w -> w = '$t')) AS BIGINT) AS tf$i" }.mkString(", ")
    val dfs = terms.indices.map(i =>
      s"CAST(count(*) FILTER (WHERE tf$i > 0) AS BIGINT) AS df$i").mkString(", ")
    val nsBranches = (Seq("SELECT 2*n + 2 AS nn FROM st") ++
      terms.indices.map(i => s"SELECT 2*df$i + 1 FROM st")).mkString(" UNION ALL ")
    val idfs = terms.indices.map(i =>
      s"(SELECT v FROM lgf, st WHERE lgf.n = 2*st.n + 2) - " +
        s"(SELECT v FROM lgf, st WHERE lgf.n = 2*st.df$i + 1) AS idf$i").mkString(", ")
    val contribs = terms.indices.map(i =>
      s"(i.idf$i * 44 * a.a * b.tf$i) // (20 * a.a * b.tf$i + 6 * a.a + 18 * b.dl)")
      .mkString(" + ")
    "WITH RECURSIVE tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), " +
      s"base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, $tfs FROM tok), " +
      s"st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS t, $dfs FROM base), " +
      s"ns AS (SELECT DISTINCT nn FROM ($nsBranches)), " +
      "lg AS (SELECT nn AS n, CAST(length(bin(nn)) - 1 AS BIGINT) AS e, nn / power(2.0, length(bin(nn)) - 1) AS m, CAST(0 AS BIGINT) AS fr, 0 AS i FROM ns " +
      "UNION ALL SELECT n, e, CASE WHEN m*m >= 2 THEN m*m/2 ELSE m*m END, fr*2 + CASE WHEN m*m >= 2 THEN 1 ELSE 0 END, i + 1 FROM lg WHERE i < 20), " +
      "lgf AS (SELECT n, e * 1048576 + fr AS v FROM lg WHERE i = 20), " +
      s"idf AS (SELECT $idfs), " +
      "av AS (SELECT t // n AS a FROM st), " +
      s"sc AS (SELECT b.doc_id, $contribs AS score FROM base b, idf i, av a) " +
      "SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk " +
      "FROM sc ORDER BY score DESC, doc_id LIMIT 20"
  }

  /** The shared winnowing replay (d52 sketch / d53 overlap): the d28
    * 8-word gram hashes per document as an ORDERED list, the packed
    * (hash-high-bits, inverted-position) selection keys, and the
    * distinct window minima over every full [[ops.CorpusOps.WinnowW]]-
    * gram window — all integer arithmetic, list-comprehension replay of
    * the row-local Spark selection.
    */
  private def winnowCteSql: String =
    "WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), " +
      "g AS (SELECT doc_id, [CAST(('0x' || substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 15)) AS BIGINT) for i in range(1, len(ws) - 6)] AS ghs FROM w WHERE len(ws) >= 8), " +
      "k AS (SELECT doc_id, ghs, [ghs[i] - (ghs[i] % 1048576) + (1048576 - i) for i in range(1, len(ghs) + 1)] AS keys FROM g), " +
      "s AS (SELECT doc_id, ghs, list_distinct([list_min(keys[i:i+3]) for i in range(1, len(keys) - 2)]) AS sel FROM k WHERE len(keys) >= 4), "

  /** The shared CCNet-perplexity replay (d47 batch terciles / s21
    * at-ingest gate): the hashed add-one bigram LM retrained in SQL
    * (bucket counts -> the same fixed-point log2 recursive CTE), per-doc
    * average log-prob `av`, doc count `nn`, and the global rank `r`; the
    * per-bigram +2^26 offset keeps the integer division nonnegative,
    * where Spark's truncating div and DuckDB's flooring // agree.
    */
  private def pplCteSql: String =
    "WITH RECURSIVE " +
      "w AS (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS ws FROM documents), " +
      // each word hashed ONCE (the 60-bit md5 convention); the bigram
      // bucket is the engine's integer combine of the two word hashes
      "hwv AS (SELECT doc_id, lang, [CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) for w in ws] AS hws FROM w WHERE len(ws) >= 2), " +
      "bg0 AS (SELECT doc_id, lang, unnest([{'hb': ((hws[i] % 1048576) * 1000003 + hws[i+1] % 1048576) % 4096, 'hc': hws[i] % 256} for i in range(1, len(hws))]) AS u FROM hwv), " +
      "bg AS (SELECT doc_id, lang, u.hb AS hb, u.hc AS hc FROM bg0), " +
      "cb AS (SELECT hb, count(*) AS n FROM bg WHERE lang = 'en' GROUP BY hb), " +
      "cu AS (SELECT hc, count(*) AS n FROM bg WHERE lang = 'en' GROUP BY hc), " +
      "ns AS (SELECT DISTINCT n FROM (SELECT n + 1 AS n FROM cb UNION ALL SELECT n + 256 FROM cu)), " +
      "lg AS (SELECT n, CAST(length(bin(n)) - 1 AS BIGINT) AS e, n / power(2.0, length(bin(n)) - 1) AS m, CAST(0 AS BIGINT) AS fr, 0 AS i FROM ns " +
      "UNION ALL SELECT n, e, CASE WHEN m*m >= 2 THEN m*m/2 ELSE m*m END, fr*2 + CASE WHEN m*m >= 2 THEN 1 ELSE 0 END, i + 1 FROM lg WHERE i < 20), " +
      "lgf AS (SELECT n, e * 1048576 + fr AS v FROM lg WHERE i = 20), " +
      "cbw AS (SELECT cb.hb, lgf.v FROM cb JOIN lgf ON lgf.n = cb.n + 1), " +
      "cuw AS (SELECT cu.hc, lgf.v FROM cu JOIN lgf ON lgf.n = cu.n + 256), " +
      "sc AS (SELECT bg.doc_id, count(*) AS n_bigrams, CAST(sum(coalesce(cbw.v, 0) - coalesce(cuw.v, 8388608) + 67108864) AS BIGINT) AS score FROM bg LEFT JOIN cbw ON cbw.hb = bg.hb LEFT JOIN cuw ON cuw.hc = bg.hc GROUP BY bg.doc_id), " +
      "av AS (SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, (score // n_bigrams) * 1048576 + ((score % n_bigrams) * 1048576) // n_bigrams AS avg_fx FROM sc), " +
      "nn AS (SELECT count(*) AS n_docs FROM av), " +
      "r AS (SELECT doc_id, n_bigrams, avg_fx, row_number() OVER (ORDER BY avg_fx DESC, doc_id) AS rk FROM av) "

  /** The shared training-plan replay (d50's schedule / d70's shard
    * manifests): dedup-canon -> sqrt-temperature targets -> per-lang
    * selection -> per-source order + slots -> the (round, slot) token
    * prefix sum, ending at `p` (one row per scheduled doc with
    * `cum_before`). Every stage a plain global window — what the
    * engine's bucket decompositions must equal.
    */
  private def trainingPlanCteSql: String =
    "WITH f AS (SELECT doc_id, lang, source, " +
      "md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS fp, " +
      "CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens, " +
      "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS dtemp, " +
      "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 15)) AS BIGINT) AS dorder FROM documents), " +
      "canon AS (SELECT f.* FROM f JOIN (SELECT fp, min(doc_id) AS m FROM f GROUP BY fp) g ON f.fp = g.fp AND f.doc_id = g.m), " +
      "c AS (SELECT lang, count(*) AS n_docs FROM canon GROUP BY lang), " +
      "t AS (SELECT lang, n_docs, CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS s FROM c), " +
      "g2 AS (SELECT lang, n_docs, s, sum(s) OVER () AS stot, sum(n_docs) OVER () AS ntot FROM t), " +
      "tg AS (SELECT lang, least(n_docs, ((ntot // 2) * s) // stot) AS target FROM g2), " +
      "sel AS (SELECT canon.*, row_number() OVER (PARTITION BY lang ORDER BY dtemp, doc_id) AS rk FROM canon), " +
      "s2 AS (SELECT sel.doc_id, sel.lang, sel.source, sel.n_tokens, sel.dorder FROM sel JOIN tg USING (lang) WHERE sel.rk <= tg.target), " +
      "sl AS (SELECT source, CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS slot FROM (SELECT DISTINCT source FROM s2)), " +
      "o AS (SELECT s2.doc_id, s2.lang, s2.source, s2.n_tokens, CAST(row_number() OVER (PARTITION BY s2.source ORDER BY s2.dorder, s2.doc_id) AS BIGINT) AS round FROM s2), " +
      "o2 AS (SELECT o.*, sl.slot FROM o JOIN sl USING (source)), " +
      "p AS (SELECT o2.*, coalesce(sum(n_tokens) OVER (ORDER BY round, slot ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM o2) " +
      ""

  /** The shared semantic-cluster replay (d60 clusters / d68's cap): the
    * d51 reach CTE over the thresholded kNN edges, ending at the
    * per-vector `lab(vec_id, cluster_id)` labeling.
    */
  private def semanticClustersCteSql: String =
    "WITH RECURSIVE " + knnGraphCteSql.stripPrefix("WITH ") +
      ", k AS (SELECT q_id, n_id, round(sim, 6) AS sim FROM r WHERE rn <= 3), " +
      "p AS (SELECT DISTINCT least(q_id, n_id) AS a, greatest(q_id, n_id) AS b FROM k WHERE sim >= 0.3), " +
      "ed AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p), " +
      "reach(src, dst) AS (SELECT src, dst FROM ed UNION SELECT r2.src, ed.dst FROM reach r2 JOIN ed ON r2.dst = ed.src), " +
      "lab AS (SELECT src AS vec_id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src) "

  /** The shared Min-K% replay (d67 batch screen / s23 at-ingest gate):
    * the d47 LM CTEs verbatim, each document's per-bigram score terms
    * re-listed and sorted ascending, the k = max(1, n//5) prefix
    * average in the same exact fixed point, and the global suspicion
    * rank (desc, doc_id ties). Reuses pplCteSql's `nn` doc count — the
    * scoreable-document set is identical.
    */
  private def minkCteSql: String =
    pplCteSql +
      ", tm AS (SELECT bg.doc_id, coalesce(cbw.v, 0) - coalesce(cuw.v, 8388608) + 67108864 AS t FROM bg LEFT JOIN cbw ON cbw.hb = bg.hb LEFT JOIN cuw ON cuw.hc = bg.hc), " +
      "st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, list_sort(list(t)) AS ts FROM tm GROUP BY doc_id), " +
      "mk AS (SELECT doc_id, n_bigrams, greatest(1, n_bigrams // 5) AS k, list_sum(list_slice(ts, 1, CAST(greatest(1, n_bigrams // 5) AS BIGINT))) AS s FROM st), " +
      "mv AS (SELECT doc_id, n_bigrams, CAST((s // k) * 1048576 + ((s % k) * 1048576) // k AS BIGINT) AS mink_fx FROM mk), " +
      "mr AS (SELECT doc_id, n_bigrams, mink_fx, CAST(row_number() OVER (ORDER BY mink_fx DESC, doc_id) AS BIGINT) AS rk FROM mv) "

  /** The shared DSIR replay (d45 batch selection / s16 at-ingest gate):
    * hashed-bucket counts, the 20-step shift-and-square fixed-point
    * binary log as a recursive CTE (every step an IEEE double multiply /
    * power-of-two divide — correctly rounded, engine-identical, the same
    * recurrence as `CorpusOps.log2Fx`), per-bucket log-ratio weights,
    * per-document scores, and the plain global rank the engine's
    * bucket-decomposed rank must equal.
    */
  private def dsirCteSql: String =
    "WITH RECURSIVE " +
      "tok AS (SELECT doc_id, lang, unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents), " +
      "tb AS (SELECT doc_id, lang, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS f FROM tok), " +
      "cnt AS (SELECT f, count(*) AS r, count(*) FILTER (WHERE lang = 'en') AS t FROM tb GROUP BY f), " +
      "tot AS (SELECT CAST(sum(t) AS BIGINT) + 256 AS tn, CAST(sum(r) AS BIGINT) + 256 AS rn FROM cnt), " +
      "ns AS (SELECT DISTINCT n FROM (SELECT t + 1 AS n FROM cnt UNION ALL SELECT r + 1 FROM cnt UNION ALL SELECT tn FROM tot UNION ALL SELECT rn FROM tot)), " +
      "lg AS (SELECT n, CAST(length(bin(n)) - 1 AS BIGINT) AS e, n / power(2.0, length(bin(n)) - 1) AS m, CAST(0 AS BIGINT) AS fr, 0 AS i FROM ns " +
      "UNION ALL SELECT n, e, CASE WHEN m*m >= 2 THEN m*m/2 ELSE m*m END, fr*2 + CASE WHEN m*m >= 2 THEN 1 ELSE 0 END, i + 1 FROM lg WHERE i < 20), " +
      "lgf AS (SELECT n, e * 1048576 + fr AS v FROM lg WHERE i = 20), " +
      "w AS (SELECT cnt.f, (lt.v - (SELECT lgf.v FROM lgf, tot WHERE lgf.n = tot.tn)) - (lr.v - (SELECT lgf.v FROM lgf, tot WHERE lgf.n = tot.rn)) AS wt " +
      "FROM cnt JOIN lgf lt ON lt.n = cnt.t + 1 JOIN lgf lr ON lr.n = cnt.r + 1), " +
      "sc AS (SELECT tb.doc_id, CAST(sum(w.wt) AS BIGINT) AS score FROM tb JOIN w ON w.f = tb.f GROUP BY tb.doc_id), " +
      "k AS (SELECT count(*) // 4 AS k FROM documents), " +
      "r AS (SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk FROM sc)"

  /** s15's replay: d35's PQ training + full-corpus encode (packed to the
    * 4-bit-per-code long), the exact-integer coarse assignment (s14's
    * CTEs), and the per-cell (n, id_sum, code_sum) rollup. Per-row math
    * against literal quantizers makes streaming == batch regardless of
    * shard interleaving.
    */
  private def streamPqIngestOracleSql: String = {
    val iters = (0 until 3).map { i =>
      s"j$i AS (SELECT s.vec_id, s.m, s.v, c.cid, c.cv FROM sub s JOIN cb$i c ON s.m = c.m), " +
        s"d$i AS (SELECT vec_id, m, v, cid, list_sum([(v[m*8+j] - cv[j]) * (v[m*8+j] - cv[j]) for j in range(1, 9)]) AS d FROM j$i), " +
        s"a$i AS (SELECT vec_id, m, v, cid FROM (SELECT vec_id, m, v, cid, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM d$i) WHERE rn = 1), " +
        s"x$i AS (SELECT m, cid, j, v[m*8+j] AS x FROM a$i, LATERAL unnest(range(1, 9)) AS t(j)), " +
        s"g$i AS (SELECT m, cid, j, round(quantile_cont(x, 0.5), 6) AS c FROM x$i GROUP BY m, cid, j), " +
        s"cb${i + 1} AS (SELECT m, cid, list(c ORDER BY j) AS cv FROM g$i GROUP BY m, cid), "
    }.mkString
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings), " +
      "samp AS (SELECT vec_id, v FROM e WHERE vec_id % 4 = 0), " +
      "sub AS (SELECT vec_id, m, v FROM samp, LATERAL unnest(range(0, 8)) AS t(m)), " +
      "seed AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v FROM (SELECT vec_id, v FROM samp ORDER BY vec_id LIMIT 16)), " +
      "cb0 AS (SELECT m, cid, [v[m*8+j] for j in range(1, 9)] AS cv FROM seed, LATERAL unnest(range(0, 8)) AS t(m)), " +
      iters +
      "esub AS (SELECT vec_id, m, v FROM e, LATERAL unnest(range(0, 8)) AS t(m)), " +
      "ej AS (SELECT s.vec_id, s.m, s.v, c.cid, c.cv FROM esub s JOIN cb3 c ON s.m = c.m), " +
      "ed AS (SELECT vec_id, m, v, cid, list_sum([(v[m*8+j] - cv[j]) * (v[m*8+j] - cv[j]) for j in range(1, 9)]) AS d FROM ej), " +
      "codes AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM ed) WHERE rn = 1), " +
      "ck AS (SELECT vec_id, CAST(sum(CAST(cid AS BIGINT) * (CAST(1 AS BIGINT) << CAST(4 * m AS INTEGER))) AS BIGINT) AS code_key FROM codes GROUP BY vec_id), " +
      "ex AS (SELECT label, unnest(range(1, len(v) + 1)) AS i, v FROM e), " +
      "qz AS (SELECT label, i, sum(CAST(floor(v[i] * 1048576) AS BIGINT)) AS sq, count(*) AS n FROM ex GROUP BY 1, 2), " +
      "cents AS (SELECT label AS ccid, list(sq / (n * 1048576.0) ORDER BY i) AS cv FROM qz GROUP BY label), " +
      "asg AS (SELECT vec_id, ccid, list_sum([(v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, len(v) + 1)]) AS d FROM e, cents), " +
      "pick AS (SELECT vec_id, ccid, row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn FROM asg) " +
      "SELECT p.ccid AS cell, count(*) AS n, CAST(sum(p.vec_id) AS BIGINT) AS id_sum, CAST(sum(ck.code_key) AS BIGINT) AS code_sum FROM pick p JOIN ck USING (vec_id) WHERE p.rn = 1 GROUP BY cell"
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "s15_stream_pq_ingest" -> streamPqIngestOracleSql,
    "d13_ann_ivf_kmeans" -> kmeansOracleSql,
    "d35_ann_ivf_pq" -> pqOracleSql(probed = false),
    "d36_ann_ivfpq_full" -> pqOracleSql(probed = true),
    "d43_ann_ivfpq_residual" -> residPqOracleSql,
    "q1_groupbykey" ->
      "SELECT user_id, string_agg(props, ',' ORDER BY event_id) AS msgs FROM events GROUP BY user_id",
    // q2 collapses a deterministic suffix-replay back to the original stream,
    // so its oracle is Q1 over msg = event_id || ':' || props.
    "q2_dedup_replay" ->
      "SELECT user_id, string_agg(event_id || ':' || props, ',' ORDER BY event_id) AS msgs FROM events GROUP BY user_id",
    "q3_except" ->
      "SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events WHERE event_type = 'click' EXCEPT SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') FROM events WHERE event_type = 'purchase'",
    "q3_intersect" ->
      "SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events WHERE event_type = 'click' INTERSECT SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') FROM events WHERE event_type = 'error'",
    "c1_project" ->
      "SELECT event_id, user_id, CAST(props->>'$.k' AS BIGINT) AS k, CAST(round(value * 100) AS BIGINT) AS value_cents FROM events",
    "c2_filter" ->
      "SELECT event_id, user_id, event_type FROM events WHERE NOT starts_with(event_type, 'err')",
    "c3_grouped" ->
      "WITH r AS (SELECT user_id, event_id, CAST((row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1) // 5 AS BIGINT) AS batch_id FROM events) SELECT user_id, batch_id, count(*) AS n_in_batch, min(event_id) AS first_id, max(event_id) AS last_id FROM r GROUP BY user_id, batch_id",
    "c4_explode" ->
      "SELECT event_id, CAST(i AS BIGINT) AS i FROM events, LATERAL unnest(generate_series(1, (CAST(props->>'$.k' AS BIGINT) % 3) + 1)) AS t(i)",
    "c5_perkey_order" ->
      "SELECT event_id, user_id, row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn, round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running FROM events",
    "c6_union" ->
      "SELECT event_id, user_id, 'click' AS src FROM events WHERE event_type = 'click' UNION ALL SELECT event_id, user_id, 'view' AS src FROM events WHERE event_type = 'view'",
    "c8_topk" ->
      "SELECT event_id, user_id, value FROM events ORDER BY value DESC, event_id LIMIT 100",
    "o10_seek_timestamp" ->
      "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total FROM events WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY event_type",
    "q_sessionize" ->
      "WITH g AS (SELECT user_id, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) > INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_sess FROM events) SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events FROM g GROUP BY user_id",
    "q_session_window" ->
      "WITH g AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_sess FROM events), s AS (SELECT user_id, ts, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM g) SELECT user_id, min(ts) AS session_start, count(*) AS n_events FROM s GROUP BY user_id, sid",
    "q_asof_signup" ->
      "SELECT event_id, user_id, last_signup FROM (SELECT event_id, user_id, event_type, last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup FROM events) WHERE event_type = 'purchase' AND last_signup IS NOT NULL",
    "d1_exact_dedup" ->
      "WITH fp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS fp FROM documents), g AS (SELECT fp, min(doc_id) AS canonical_id, count(*) AS dup_count FROM fp GROUP BY fp) SELECT f.doc_id, g.canonical_id, g.dup_count FROM fp f JOIN g ON f.fp = g.fp",
    "d2_minhash_lsh" ->
      "WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), sh AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS shingles FROM w WHERE len(ws) >= 3), p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) / len(list_distinct(a.shingles || b.shingles)) AS j FROM sh a JOIN sh b ON a.doc_id < b.doc_id) SELECT a_id, b_id, round(j, 6) AS jaccard FROM p WHERE j >= 0.6",
    "d3_text_stats" ->
      "SELECT lang, source, count(*) AS n_docs, CAST(sum(len(string_split(lower(trim(text)), ' '))) AS BIGINT) AS total_tokens, CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_subtokens, CAST(sum(n_chars) AS BIGINT) AS total_chars, ((1000000 * CAST(sum(len(list_filter(string_split(lower(trim(text)), ' '), w -> w IN ('the', 'a', 'of')))) AS BIGINT)) // CAST(sum(len(string_split(lower(trim(text)), ' '))) AS BIGINT)) / 1000000.0 AS stop_ratio FROM documents GROUP BY lang, source",
    "d4_langid" ->
      "WITH s AS (SELECT lang, len(list_filter(string_split(lower(trim(text)), ' '), w -> w IN ('the', 'a', 'of'))) AS s_en, len(list_filter(string_split(lower(trim(text)), ' '), w -> w IN ('der', 'die', 'und'))) AS s_de, len(list_filter(string_split(lower(trim(text)), ' '), w -> w IN ('le', 'la', 'et'))) AS s_fr, len(list_filter(string_split(lower(trim(text)), ' '), w -> w IN ('el', 'los', 'y'))) AS s_es FROM documents) SELECT lang, CASE WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en' WHEN s_de >= greatest(s_fr, s_es) THEN 'de' WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang, count(*) AS n FROM s GROUP BY lang, pred_lang",
    "d5_simhash" ->
      "WITH h AS (SELECT doc_id, [CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) for w in list_distinct(string_split(lower(trim(text)), ' '))] AS hs FROM documents) SELECT doc_id, CAST(list_sum([CASE WHEN 2 * len(list_filter(hs, x -> (x >> j) % 2 = 1)) >= len(hs) THEN (CAST(1 AS BIGINT) << j) ELSE 0 END for j in range(0, 16)]) AS BIGINT) AS simhash FROM h",
    "d10_rolling_hash" ->
      "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split(text, '')]), (acc, x) -> (acc * 31 + x) % 1000000007) AS fp FROM documents",
    "d14_ngram_jaccard" ->
      "WITH g AS (SELECT doc_id, list_distinct([substr(lower(trim(text)), i, 8) for i in range(1, len(lower(trim(text))) - 6)]) AS gs FROM documents WHERE len(lower(trim(text))) >= 8), p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) / len(list_distinct(a.gs || b.gs)) AS j FROM g a JOIN g b ON a.doc_id < b.doc_id) SELECT a_id, b_id, round(j, 6) AS jaccard FROM p WHERE j >= 0.7",
    "d12_simhash_neardup" ->
      "WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), sh AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS shingles FROM w WHERE len(ws) >= 3), h AS (SELECT doc_id, [CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) for s in shingles] AS hs FROM sh), f AS (SELECT doc_id, CAST(list_sum([CASE WHEN 2 * len(list_filter(hs, x -> (x >> j) % 2 = 1)) >= len(hs) THEN (CAST(1 AS BIGINT) << j) ELSE 0 END for j in range(0, 48)]) AS BIGINT) AS sh FROM h) SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hd FROM f a JOIN f b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.sh, b.sh)) <= 3",
    "d11_quality" ->
      "WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n, CAST(len(list_filter(ws, w -> w IN ('the', 'a', 'of'))) AS BIGINT) AS s, CAST(list_sum([len(w) for w in ws]) AS BIGINT) AS l FROM t) SELECT doc_id, n AS n_tokens, ((1000000 * (8 * n * least(n, 100) + 600 * (n - s) + 75 * least(8 * n, l))) // (2000 * n)) / 1000000.0 AS quality FROM c",
    "d19_split_assign" ->
      "WITH h AS (SELECT doc_id, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15)) AS BIGINT) % 100 AS bucket FROM documents) SELECT doc_id, bucket, CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM h",
    "d20_contamination" ->
      "WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), sh AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS shingles FROM w WHERE len(ws) >= 3), g AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS gh FROM sh, LATERAL unnest(shingles) AS t(s)), ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0) SELECT doc_id, count(*) AS n_shared FROM g JOIN ev USING (gh) WHERE doc_id % 97 <> 0 GROUP BY doc_id",
    "d22_stratified_sample" ->
      "WITH h AS (SELECT doc_id, lang, source, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 15)) AS BIGINT) AS h FROM documents), r AS (SELECT doc_id, lang, source, row_number() OVER (PARTITION BY lang, source ORDER BY h, doc_id) AS rank FROM h) SELECT doc_id, lang, source, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 8",
    // transitive closure of the brute-force near-dup pair graph via a
    // recursive CTE; Spark reaches the same fixpoint by min-label
    // propagation over the LSH pair graph
    "d25_dedup_clusters" ->
      "WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), sh AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS shingles FROM w WHERE len(ws) >= 3), p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) / len(list_distinct(a.shingles || b.shingles)) >= 0.6), e AS (SELECT a_id AS src, b_id AS dst FROM p UNION ALL SELECT b_id, a_id FROM p), reach(src, dst) AS (SELECT src, dst FROM e UNION SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src), lab AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src) SELECT doc_id, cluster_id, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size FROM lab",
    // the oracle's single global window per lang over the identical
    // (bucket, h, doc_id) order proves Spark's two-level prefix-sum
    // decomposition exact
    "d27_pack_chunks" ->
      "WITH d AS (SELECT doc_id, lang, CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 15)) AS BIGINT) AS h FROM documents), s AS (SELECT doc_id, lang, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h % 8, h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start FROM d), g AS (SELECT lang, doc_id, tok_start, tok_start + n_tokens AS tok_end, unnest(range(tok_start // 256, ((tok_start + n_tokens - 1) // 256) + 1)) AS chunk_id FROM s) SELECT lang, doc_id, chunk_id, greatest(tok_start - chunk_id * 256, 0) AS begin_off, least(tok_end, (chunk_id + 1) * 256) - chunk_id * 256 AS end_off FROM g",
    "d26_repetition" ->
      "WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), w3 AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 3), g AS (SELECT doc_id, 2 AS glen, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS g FROM w3 UNION ALL SELECT doc_id, 3 AS glen, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS g FROM w3), c AS (SELECT doc_id, glen, g, count(*) AS cnt FROM g GROUP BY doc_id, glen, g), a AS (SELECT doc_id, glen, max(cnt) AS top, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY doc_id, glen), p AS (SELECT doc_id, max(CASE WHEN glen = 2 THEN top END) AS top2, max(CASE WHEN glen = 2 THEN n END) AS n2, max(CASE WHEN glen = 3 THEN top END) AS top3, max(CASE WHEN glen = 3 THEN n END) AS n3 FROM a GROUP BY doc_id), t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens, CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct FROM w3) SELECT t.doc_id AS doc_id, n_tokens, ((1000000 * n_distinct) // n_tokens) / 1000000.0 AS ttr, ((1000000 * top2) // n2) / 1000000.0 AS bigram_rep, ((1000000 * top3) // n3) / 1000000.0 AS trigram_rep FROM t JOIN p ON t.doc_id = p.doc_id",
    // exact-ppm scores have no float ties; doc_id breaks exact ties, so
    // ntile is deterministic in both engines
    "d32_quality_deciles" ->
      "WITH t AS (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS ws FROM documents), c AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n, CAST(len(list_filter(ws, w -> w IN ('the', 'a', 'of'))) AS BIGINT) AS s, CAST(list_sum([len(w) for w in ws]) AS BIGINT) AS l FROM t), q AS (SELECT doc_id, lang, (1000000 * (8 * n * least(n, 100) + 600 * (n - s) + 75 * least(8 * n, l))) // (2000 * n) AS q_ppm FROM c) SELECT doc_id, lang, q_ppm / 1000000.0 AS quality, CAST(ntile(10) OVER (PARTITION BY lang ORDER BY q_ppm, doc_id) AS BIGINT) AS decile FROM q",
    // the KMV decile replay: same quality CTEs, then the bottom-1024
    // docs per language by 60-bit md5(doc_id) (DISTINCT mirrors the
    // aggregate's set semantics), cutoffs at integer-ceil decile ranks
    // of the value-sorted sample, value-based assignment — every stage
    // merge-order independent, so the hash compare is exact
    "d32_deciles_cutoff" ->
      ("WITH t AS (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS ws FROM documents), " +
        "c AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n, CAST(len(list_filter(ws, w -> w IN ('the', 'a', 'of'))) AS BIGINT) AS s, CAST(list_sum([len(w) for w in ws]) AS BIGINT) AS l FROM t), " +
        "q AS (SELECT doc_id, lang, (1000000 * (8 * n * least(n, 100) + 600 * (n - s) + 75 * least(8 * n, l))) // (2000 * n) AS q_ppm FROM c), " +
        "h AS (SELECT doc_id, lang, q_ppm, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM q), " +
        "smp AS (SELECT lang, h, q_ppm FROM (SELECT DISTINCT lang, h, q_ppm FROM h) d QUALIFY row_number() OVER (PARTITION BY lang ORDER BY h, q_ppm) <= 1024), " +
        "agg AS (SELECT lang, list_sort(list(q_ppm)) AS vals, count(*) AS kk FROM smp GROUP BY lang), " +
        "cuts AS (SELECT lang, [vals[CAST((i * kk + 9) // 10 AS INT)] for i in range(1, 10)] AS cs FROM agg) " +
        "SELECT q.doc_id AS doc_id, q.lang AS lang, q.q_ppm / 1000000.0 AS quality, CAST(1 + len(list_filter(cuts.cs, x -> q.q_ppm > x)) AS BIGINT) AS decile FROM q JOIN cuts ON q.lang = cuts.lang"),
    // the oracle's single global window over (q_ppm DESC, doc_id) proves
    // Spark's quality-bucket prefix-sum decomposition exact; strict
    // cum_before < budget is the greedy-prefix selection rule
    "d39_token_budget" ->
      ("WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), " +
        "c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n, CAST(len(list_filter(ws, w -> w IN ('the', 'a', 'of'))) AS BIGINT) AS s, CAST(list_sum([len(w) for w in ws]) AS BIGINT) AS l FROM t), " +
        "q AS (SELECT doc_id, n AS n_tokens, (1000000 * (8 * n * least(n, 100) + 600 * (n - s) + 75 * least(8 * n, l))) // (2000 * n) AS q_ppm FROM c), " +
        "r AS (SELECT doc_id, n_tokens, q_ppm, CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY q_ppm DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM q) " +
        "SELECT doc_id, n_tokens, q_ppm / 1000000.0 AS quality, cum_before FROM r WHERE cum_before < 10000"),
    // epochs(lang) = min(4, ceil(max_docs / n_docs)) in exact integer
    // arithmetic; generate_series(1, n) is inclusive like Spark's
    // sequence(1, n)
    // temperature mixture: IEEE sqrt then pure integer arithmetic gives
    // engine-exact per-language targets; selection = smallest-draw
    // target_l per language (the oracle's plain window = what the
    // engine's bucket-decomposed rank must equal)
    "d44_temperature_mix" ->
      ("WITH h AS (SELECT doc_id, lang, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':temp'), 1, 15)) AS BIGINT) AS draw FROM documents), " +
        "c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang), " +
        "t AS (SELECT lang, n_docs, CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS s FROM c), " +
        "g AS (SELECT lang, n_docs, s, sum(s) OVER () AS stot, sum(n_docs) OVER () AS ntot FROM t), " +
        "tg AS (SELECT lang, least(n_docs, ((ntot // 2) * s) // stot) AS target FROM g), " +
        "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY draw, doc_id) AS rk FROM h) " +
        "SELECT r.doc_id, r.lang, r.rk FROM r JOIN tg USING (lang) WHERE r.rk <= tg.target"),
    // DSIR importance weights replayed end to end: the oracle re-derives
    // the per-bucket fixed-point log2 weights with the SAME 20-step
    // shift-and-square recurrence (every step an IEEE double multiply /
    // power-of-two divide — correctly rounded, engine-identical), scores
    // every document, and ranks with the plain global window the
    // engine's bucket-decomposed rank must equal
    "d45_dsir_select" ->
      (dsirCteSql + " SELECT doc_id, score, rk FROM r, k WHERE rk <= k.k"),
    // the at-ingest twin admits by SCORE >= the batch selection's minimum
    // (a stream cannot rank; ties at the boundary are admitted)
    "s16_stream_dsir_gate" ->
      (dsirCteSql + " SELECT sc.doc_id, sc.score FROM sc WHERE sc.score >= " +
        "(SELECT min(score) FROM r, k WHERE rk <= k.k)"),
    // the composed training plan: dedup -> temperature selection ->
    // stratified interleave -> token packing, each stage replayed with
    // the plain global window the engine's decomposition must equal
    "d50_training_plan" ->
      (trainingPlanCteSql +
        "SELECT doc_id, lang, source, n_tokens, round, slot, CAST(cum_before // 2048 AS BIGINT) AS chunk_id FROM p"),
    // shard manifests: the d50 replay rolled up to chunk_id // 2 shards
    "d70_shard_manifest" ->
      (trainingPlanCteSql +
        ", pl AS (SELECT doc_id, n_tokens, CAST(cum_before // 2048 AS BIGINT) AS chunk_id FROM p) " +
        "SELECT chunk_id // 2 AS shard_id, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT chunk_id) AS BIGINT) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
        "min(chunk_id) AS first_chunk, max(chunk_id) AS last_chunk FROM pl GROUP BY 1"),
    // snapshot diff: the d1 fingerprint identity + conditional counts
    // over the even/odd halves — pure integer/string arithmetic
    "d71_snapshot_diff" ->
      ("WITH f AS (SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS fp, doc_id % 2 AS half FROM documents), " +
        "g AS (SELECT fp, CAST(count(*) FILTER (WHERE half = 0) AS BIGINT) AS n_old, CAST(count(*) FILTER (WHERE half = 1) AS BIGINT) AS n_new FROM f GROUP BY fp) " +
        "SELECT fp, CASE WHEN n_old = 0 THEN 'added' WHEN n_new = 0 THEN 'removed' ELSE 'common' END AS status, n_old, n_new FROM g"),
    // asymmetric containment: both engines hash the same 8-word windows
    // to 60-bit md5 prefixes (the d28 identity), so shared-window counts
    // and the integer ppm ratio are exact by construction
    "d49_containment" -> (containmentCteSql +
        "SELECT a_id, b_id, na.n_a, sh.n_shared, (1000000 * sh.n_shared) // na.n_a AS cont_ppm " +
        "FROM sh JOIN na ON na.doc_id = sh.a_id WHERE (1000000 * sh.n_shared) // na.n_a >= 800000"),
    // undirected components over the containment pairs (the d25 reach CTE
    // over d49's edge set)
    "d51_containment_clusters" -> ("WITH RECURSIVE " + containmentCteSql.stripPrefix("WITH ") +
        ", p AS (SELECT DISTINCT least(a_id, b_id) AS a_id, greatest(a_id, b_id) AS b_id FROM sh JOIN na ON na.doc_id = sh.a_id WHERE (1000000 * sh.n_shared) // na.n_a >= 800000), " +
        "e AS (SELECT a_id AS src, b_id AS dst FROM p UNION ALL SELECT b_id, a_id FROM p), " +
        "reach(src, dst) AS (SELECT src, dst FROM e UNION SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src), " +
        "lab AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src) " +
        "SELECT doc_id, cluster_id, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size FROM lab"),
    // winnowing: both engines hash the same 8-word windows (the d28
    // identity) and pack (hash-high-bits, inverted position) into one
    // int64 key, so window minima — and therefore the selected sketch —
    // are exact integer arithmetic on both sides
    "d52_winnow" -> (winnowCteSql +
        "x AS (SELECT doc_id, ghs, unnest(sel) AS key FROM s) " +
        "SELECT doc_id, 1048575 - (key % 1048576) AS pos, ghs[CAST(1048576 - (key % 1048576) AS INTEGER)] AS gh FROM x"),
    "d53_winnow_overlap" -> (winnowCteSql +
        "f AS (SELECT DISTINCT doc_id, ghs[CAST(1048576 - (key % 1048576) AS INTEGER)] AS gh FROM (SELECT doc_id, ghs, unnest(sel) AS key FROM s)), " +
        "hot AS (SELECT gh FROM f GROUP BY gh HAVING count(*) > 256), " +
        "kept AS (SELECT doc_id, gh FROM f WHERE gh NOT IN (SELECT gh FROM hot)) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared " +
        "FROM kept a JOIN kept b USING (gh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2"),
    // BM25: Lucene-variant idf through the shared fixed-point log
    // recurrence; all scoring arithmetic nonneg int64 on both engines
    "d54_bm25" -> bm25OracleSql,
    // at-ingest winnow sketches are stateless per-row selections, so the
    // streamed index rows equal the batch replay's per-doc summaries
    // under any shard interleaving
    "s17_stream_winnow_ingest" -> (winnowCteSql +
        "x AS (SELECT doc_id, ghs, unnest(sel) AS key FROM s), " +
        "p AS (SELECT doc_id, 1048575 - (key % 1048576) AS pos, ghs[CAST(1048576 - (key % 1048576) AS INTEGER)] AS gh FROM x) " +
        "SELECT doc_id, count(*) AS n_sel, CAST(sum(gh % 1099511627776) AS BIGINT) AS gh_sum, CAST(sum(pos) AS BIGINT) AS pos_sum FROM p GROUP BY doc_id"),
    // the corpus report card: d1's fingerprint + d11's quality ppm +
    // language share, rolled up per source in exact integer ppm
    "d57_corpus_report" ->
      ("WITH t AS (SELECT source, lang, string_split(lower(trim(text)), ' ') AS ws, md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS fp FROM documents), " +
        "c AS (SELECT source, lang, fp, CAST(len(ws) AS BIGINT) AS n, CAST(len(list_filter(ws, w -> w IN ('the', 'a', 'of'))) AS BIGINT) AS s, CAST(list_sum([len(w) for w in ws]) AS BIGINT) AS l FROM t), " +
        "q AS (SELECT source, lang, fp, n, (1000000 * (8 * n * least(n, 100) + 600 * (n - s) + 75 * least(8 * n, l))) // (2000 * n) AS qp FROM c), " +
        "g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(count(DISTINCT fp) AS BIGINT) AS n_unique, CAST(sum(n) AS BIGINT) AS total_tokens, CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en, CAST(sum(qp) AS BIGINT) AS q_sum FROM q GROUP BY source) " +
        "SELECT source, n_docs, n_unique, (1000000 * (n_docs - n_unique)) // n_docs AS dup_ppm, total_tokens, q_sum // n_docs AS mean_quality_ppm, (1000000 * n_en) // n_docs AS en_ppm FROM g"),
    // span scrubbing: global first-occurrence attribution per gram hash,
    // the d28 island merge, and a per-index rebuild — the clean_md5 pins
    // the exact reconstructed bytes on both engines
    "d61_span_scrub" ->
      ("WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), " +
        "g0 AS (SELECT doc_id, unnest([{'p': CAST(i - 1 AS BIGINT), 's': array_to_string(ws[i:i+7], ' ')} for i in range(1, len(ws) - 6)]) AS u FROM w WHERE len(ws) >= 8), " +
        "g AS (SELECT doc_id, u.p AS pos, CAST(('0x' || substr(md5(u.s), 1, 15)) AS BIGINT) AS gh FROM g0), " +
        "r AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn FROM g), " +
        "red AS (SELECT doc_id, pos FROM r WHERE rn >= 2), " +
        "st AS (SELECT doc_id, pos, CASE WHEN pos <= lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8 THEN 0 ELSE 1 END AS step FROM red), " +
        "i0 AS (SELECT doc_id, pos, sum(step) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM st), " +
        "isl AS (SELECT doc_id, min(pos) AS b, max(pos) + 8 AS e FROM i0 GROUP BY doc_id, island), " +
        "ia AS (SELECT doc_id, list({'b': b, 'e': e}) AS islands FROM isl GROUP BY doc_id), " +
        "base AS (SELECT w.doc_id, w.ws, coalesce(ia.islands, []) AS islands FROM w LEFT JOIN ia ON ia.doc_id = w.doc_id), " +
        "k AS (SELECT doc_id, ws, [ws[i] for i in range(1, len(ws) + 1) if len(list_filter(islands, s -> s.b <= i - 1 AND i - 1 < s.e)) = 0] AS kept FROM base) " +
        // coalesce: a fully-scrubbed doc has kept = [] and DuckDB's
        // array_to_string([]) is NULL where Spark's concat_ws is ''
        "SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens, CAST(len(ws) - len(kept) AS BIGINT) AS n_removed, md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5 FROM k"),
    // the at-ingest Bloom gate probes the identical batch-built bitmap,
    // stateless per row — streamed flags equal the batch audit exactly,
    // so the two share ONE oracle string (no copy to drift)
    "s20_stream_bloom_gate" -> bloomGateOracleSql,
    // d66/s22 novelty gate: same replay for the batch audit and the
    // at-ingest gate — the bitmap is fixed and probing is stateless
    // integer math, so streamed admissions equal batch exactly
    "d66_novelty_gate" -> noveltyGateOracleSql,
    "s22_stream_novelty_gate" -> noveltyGateOracleSql,
    // the s21 admission replay: same LM CTEs; cutoff = the batch head
    // tercile's minimum avg_fx; admit every doc tying-or-beating it
    // (rank cannot stream, the score comparison can — s16's discipline)
    "s21_stream_ppl_gate" ->
      (pplCteSql +
        "SELECT doc_id, n_bigrams, avg_fx FROM av WHERE avg_fx >= " +
        "(SELECT min(avg_fx) FROM r, nn WHERE rk <= n_docs // 3)"),
    // curriculum order: the d47 tercile replay mapped to phase indices,
    // then one plain global window over (phase, seeded ':curr' draw,
    // doc_id) — what the engine's bucket decomposition must equal
    "d69_curriculum_order" ->
      (pplCteSql +
        ", ph AS (SELECT doc_id, CASE WHEN rk <= n_docs // 3 THEN 'head' WHEN rk <= (2 * n_docs) // 3 THEN 'middle' ELSE 'tail' END AS phase, " +
        "CAST(CASE WHEN rk <= n_docs // 3 THEN 0 WHEN rk <= (2 * n_docs) // 3 THEN 1 ELSE 2 END AS BIGINT) AS phase_idx, " +
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':curr'), 1, 15)) AS BIGINT) AS draw FROM r, nn) " +
        "SELECT doc_id, phase, phase_idx, CAST(row_number() OVER (ORDER BY phase_idx, draw, doc_id) AS BIGINT) AS pos FROM ph"),
    // Min-K% screen: the ascending k-prefix average and the global
    // suspicion rank replayed in the same exact fixed point
    "d67_mink_screen" ->
      (minkCteSql +
        "SELECT mr.doc_id, mr.n_bigrams, mr.mink_fx, mr.rk, " +
        "CAST(CASE WHEN mr.rk <= (nn.n_docs + 19) // 20 THEN 1 ELSE 0 END AS BIGINT) AS suspect FROM mr, nn"),
    // the s23 admission replay: same term CTEs; cutoff = the batch
    // suspect set's minimum mink_fx; admit strictly below it (ties
    // rejected — the firewall fails closed; rank cannot stream, the
    // score comparison can — s21's discipline)
    "s23_stream_mink_gate" ->
      (minkCteSql +
        "SELECT doc_id, n_bigrams, mink_fx FROM mv WHERE mink_fx < " +
        "(SELECT min(mink_fx) FROM mr, nn WHERE rk <= (n_docs + 19) // 20)"),
    // heavy hitters: the Count-Min sketch replayed as a (j, b, s)
    // counter relation — integer slices and sums, so the estimate and
    // every collision are exact on both engines; top-20 cut is
    // deterministic under the (cnt desc, token) total order
    "d72_heavy_hitters" ->
      ("WITH toks AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents), " +
        "vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM toks GROUP BY w), " +
        "cells AS (SELECT g.j, (h >> (12 * g.j)) & 4095 AS b, CAST(sum(cnt) AS BIGINT) AS s FROM vocab, (SELECT unnest([0, 1, 2]) AS j) g GROUP BY 1, 2), " +
        "est AS (SELECT v.w, v.cnt, CAST(min(c.s) AS BIGINT) AS cms_est FROM vocab v CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) g JOIN cells c ON c.j = g.j AND c.b = (v.h >> (12 * g.j)) & 4095 GROUP BY v.w, v.cnt) " +
        "SELECT w AS token, cnt, cms_est, cms_est - cnt AS overcount FROM est ORDER BY cnt DESC, w LIMIT 20"),
    // d73/s24 rare-token gate: the sketch, the cutoff training, and the
    // strict-below admission replay in one shared oracle — the gate is
    // stateless per arrival, so streamed admissions equal batch exactly
    "d73_rare_gate" -> rareGateOracleSql,
    "s24_stream_rare_gate" -> rareGateOracleSql,
    // drifting-target temperature rebalance: the one-epoch-lag schedule
    // replayed as a prefix aggregation over the 16 id-axis windows —
    // sqrt-temperature integer weights (the d44 convention) over the
    // cumulative mixture of strictly earlier windows; epoch 0 and
    // never-seen languages admit fully
    "s25_stream_drift_mix" ->
      ("WITH wd AS (SELECT (max(doc_id) // 16) + 1 AS w FROM documents), " +
        "e AS (SELECT doc_id, lang, doc_id // wd.w AS epoch, " +
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dmix'), 1, 15)) AS BIGINT) % 1048576 AS draw FROM documents, wd), " +
        "c AS (SELECT epoch, lang, count(*) AS n FROM e GROUP BY epoch, lang), " +
        "cum AS (SELECT ge.epoch, gl.lang, " +
        "coalesce((SELECT CAST(sum(c.n) AS BIGINT) FROM c WHERE c.lang = gl.lang AND c.epoch < ge.epoch), 0) AS cn " +
        "FROM (SELECT DISTINCT epoch FROM e) ge CROSS JOIN (SELECT DISTINCT lang FROM e) gl), " +
        "w2 AS (SELECT epoch, lang, cn, CASE WHEN cn > 0 THEN CAST(floor(sqrt(CAST(cn AS DOUBLE)) * 1000000) AS BIGINT) ELSE 0 END AS s FROM cum), " +
        "tot AS (SELECT epoch, CAST(sum(s) AS BIGINT) AS stot, CAST(sum(cn) AS BIGINT) AS ctot FROM w2 GROUP BY epoch), " +
        "p AS (SELECT w2.epoch, w2.lang, CASE WHEN w2.cn = 0 OR t.stot = 0 THEN 1048576 " +
        "ELSE least(1048576, (((w2.s * 524288) // t.stot) * t.ctot) // w2.cn) END AS p " +
        "FROM w2 JOIN tot t USING (epoch)) " +
        "SELECT e.doc_id, e.lang, e.epoch FROM e JOIN p ON e.epoch = p.epoch AND e.lang = p.lang WHERE e.draw < p.p"),
    // periodic LM refresh: the d47 LM replay (same word-hash / integer
    // bigram-bucket / recursive log2 CTEs) with an epoch dimension —
    // per-window weights from the CUMULATIVE counts of strictly earlier
    // windows; absent (epoch, bucket) pairs fall to the add-one
    // defaults (0 / log2fx(256)), which is exactly the epoch-0 model
    "s26_stream_lm_refresh" ->
      ("WITH RECURSIVE wd AS (SELECT (max(doc_id) // 16) + 1 AS w FROM documents), " +
        "w AS (SELECT doc_id, lang, doc_id // wd.w AS epoch, string_split(lower(trim(text)), ' ') AS ws FROM documents, wd), " +
        "hwv AS (SELECT doc_id, lang, epoch, [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) for x in ws] AS hws FROM w WHERE len(ws) >= 2), " +
        "bg0 AS (SELECT doc_id, lang, epoch, unnest([{'hb': ((hws[i] % 1048576) * 1000003 + hws[i+1] % 1048576) % 4096, 'hc': hws[i] % 256} for i in range(1, len(hws))]) AS u FROM hwv), " +
        "bg AS (SELECT doc_id, lang, epoch, u.hb AS hb, u.hc AS hc FROM bg0), " +
        "cbe AS (SELECT epoch, hb, count(*) AS n FROM bg WHERE lang = 'en' GROUP BY epoch, hb), " +
        "cue AS (SELECT epoch, hc, count(*) AS n FROM bg WHERE lang = 'en' GROUP BY epoch, hc), " +
        "eps AS (SELECT DISTINCT epoch FROM bg), " +
        "cbc AS (SELECT e.epoch, c.hb, CAST(sum(c.n) AS BIGINT) AS cn FROM eps e JOIN cbe c ON c.epoch < e.epoch GROUP BY e.epoch, c.hb), " +
        "cuc AS (SELECT e.epoch, c.hc, CAST(sum(c.n) AS BIGINT) AS cn FROM eps e JOIN cue c ON c.epoch < e.epoch GROUP BY e.epoch, c.hc), " +
        "ns AS (SELECT DISTINCT n FROM (SELECT cn + 1 AS n FROM cbc UNION ALL SELECT cn + 256 FROM cuc)), " +
        "lg AS (SELECT n, CAST(length(bin(n)) - 1 AS BIGINT) AS e, n / power(2.0, length(bin(n)) - 1) AS m, CAST(0 AS BIGINT) AS fr, 0 AS i FROM ns " +
        "UNION ALL SELECT n, e, CASE WHEN m*m >= 2 THEN m*m/2 ELSE m*m END, fr*2 + CASE WHEN m*m >= 2 THEN 1 ELSE 0 END, i + 1 FROM lg WHERE i < 20), " +
        "lgf AS (SELECT n, e * 1048576 + fr AS v FROM lg WHERE i = 20), " +
        "cbw AS (SELECT cbc.epoch, cbc.hb, lgf.v FROM cbc JOIN lgf ON lgf.n = cbc.cn + 1), " +
        "cuw AS (SELECT cuc.epoch, cuc.hc, lgf.v FROM cuc JOIN lgf ON lgf.n = cuc.cn + 256), " +
        "sc AS (SELECT bg.doc_id, bg.epoch, count(*) AS n_bigrams, " +
        "CAST(sum(coalesce(cbw.v, 0) - coalesce(cuw.v, 8388608) + 67108864) AS BIGINT) AS score " +
        "FROM bg LEFT JOIN cbw ON cbw.hb = bg.hb AND cbw.epoch = bg.epoch " +
        "LEFT JOIN cuw ON cuw.hc = bg.hc AND cuw.epoch = bg.epoch GROUP BY bg.doc_id, bg.epoch) " +
        "SELECT doc_id, epoch, CAST(n_bigrams AS BIGINT) AS n_bigrams, " +
        "(score // n_bigrams) * 1048576 + ((score % n_bigrams) * 1048576) // n_bigrams AS avg_fx FROM sc"),
    // Bloom gate: k=3 20-bit hex slices of the d1 fingerprint mod 2^16 —
    // pure integer arithmetic, so the filter AND its false positives
    // replay exactly; the oracle probes the position set directly
    "d62_bloom_gate" -> bloomGateOracleSql,
    // hashed embeddings: integer signed counts, one IEEE divide by a
    // correctly-rounded integer sqrt — the d44 discipline
    "d59_hashed_embed" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents), " +
        "h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS hv FROM tok), " +
        "b AS (SELECT doc_id, hv % 16 AS dim, CASE WHEN (hv // 16) % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM h), " +
        "v AS (SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS v FROM b GROUP BY 1, 2), " +
        "n AS (SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS n2 FROM v GROUP BY 1) " +
        "SELECT v.doc_id, v.dim, round(v.v / sqrt(n.n2), 6) AS val FROM v JOIN n USING (doc_id) WHERE n.n2 > 0"),
    // cross-split leakage: d19's split hash + d1's fingerprint composed
    // verbatim, so the contaminated held-out set is exact by construction
    "d48_split_leakage" ->
      ("WITH f AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS fp, " +
        "CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train' " +
        "WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END AS split FROM documents), " +
        "t AS (SELECT fp, count(*) AS n_train_dups, min(doc_id) AS first_train_id FROM f WHERE split = 'train' GROUP BY fp) " +
        "SELECT f.doc_id, f.split, t.n_train_dups, t.first_train_id FROM f JOIN t USING (fp) WHERE f.split <> 'train'"),
    // CCNet tercile replay: the hashed add-one bigram LM retrained in
    // SQL (bucket counts -> the same fixed-point log2 recursive CTE),
    // per-doc average log-prob, plain global rank into terciles; the
    // per-bigram +2^26 offset keeps the integer division nonnegative,
    // where Spark's truncating div and DuckDB's flooring // agree
    "d47_ppl_filter" ->
      (pplCteSql +
        "SELECT doc_id, n_bigrams, avg_fx, CASE WHEN rk <= n_docs // 3 THEN 'head' WHEN rk <= (2 * n_docs) // 3 THEN 'middle' ELSE 'tail' END AS ppl_bucket FROM r, nn"),
    // SemDeDup replay: exact-integer centroids (the d34 table), so the
    // unrounded centroid-similarity ordering the keep-rule compares is
    // bit-identical across engines; pairs meet only within their cell
    "d46_semdedup" ->
      (semdedupCteSql +
        "SELECT cs.vec_id, CAST(cs.label AS BIGINT) AS cell, round(cs.csim, 6) AS cent_sim, " +
        "CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept " +
        "FROM cs LEFT JOIN dropped d ON d.vec_id = cs.vec_id"),
    // D4: SemDeDup survivors, then drop the most-prototypical quarter
    // per cell (rank on the 6-dp centroid similarity, vec_id tiebreak)
    "d55_d4_select" ->
      (semdedupCteSql +
        ", keptr AS (SELECT cs.vec_id, CAST(cs.label AS BIGINT) AS cell, round(cs.csim, 6) AS cent_sim FROM cs WHERE cs.vec_id NOT IN (SELECT vec_id FROM dropped)), " +
        "rk AS (SELECT vec_id, cell, cent_sim, CAST(row_number() OVER (PARTITION BY cell ORDER BY cent_sim DESC, vec_id) AS BIGINT) AS prot_rk, count(*) OVER (PARTITION BY cell) AS n_cell FROM keptr) " +
        "SELECT vec_id, cell, cent_sim, prot_rk FROM rk WHERE prot_rk > n_cell // 4"),
    // at-ingest semantic gate: the d56 sweep against the static broadcast
    // eval suite is stateless per-row math, so streamed flags equal the
    // batch audit and the two share ONE oracle string
    "s18_stream_semantic_gate" -> semanticContaminationOracleSql,
    // kNN graph: the block decomposition is invisible to the result —
    // the oracle ranks all same-cell pairs with a plain window
    "d58_knn_graph" -> (knnGraphCteSql +
        "SELECT q_id, n_id, round(sim, 6) AS sim, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 3"),
    // the at-ingest ANN lookup streams a CONSTANT query slice against
    // the static index (the deployed fixed-rate shape), so its result is
    // the batch kNN graph restricted to that slice
    "s19_stream_ann_lookup" -> (knnGraphCteSql +
        "SELECT q_id, n_id, round(sim, 6) AS sim, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 3 " +
        s"AND q_id < ${streaming.StreamingQueries.AnnQuerySlice}"),
    // semantic clusters: the d51 reach CTE over the thresholded kNN edges
    "d60_semantic_clusters" -> (semanticClustersCteSql +
        "SELECT vec_id, cluster_id, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size FROM lab"),
    // diversity cap: the d60 cluster replay plus the seeded ':cap' draw
    // rank within each cluster — the keep set is pure integer arithmetic
    "d68_cluster_cap" -> (semanticClustersCteSql +
        ", sz AS (SELECT vec_id, cluster_id, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size, " +
        "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':cap'), 1, 15)) AS BIGINT) AS draw FROM lab), " +
        "ck AS (SELECT vec_id, cluster_id, cluster_size, CAST(row_number() OVER (PARTITION BY cluster_id ORDER BY draw, vec_id) AS BIGINT) AS keep_rk FROM sz) " +
        "SELECT vec_id, cluster_id, cluster_size, keep_rk, CAST(CASE WHEN keep_rk <= 2 THEN 1 ELSE 0 END AS BIGINT) AS kept FROM ck"),
    // semantic contamination: exact eval-x-train cosine sweep (both
    // engines fold the same index order; threshold on the unrounded sim)
    "d56_semantic_contamination" -> semanticContaminationOracleSql,
    // the interleave key replayed directly: within-source rank over the
    // seeded md5 draw (the oracle's plain window = what the engine's
    // bucket decomposition must equal), slot = alphabetical source index
    "d42_interleave_order" ->
      ("WITH h AS (SELECT doc_id, source, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':order'), 1, 15)) AS BIGINT) AS draw FROM documents), " +
        "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY draw, doc_id) AS round FROM h), " +
        "s AS (SELECT source, row_number() OVER (ORDER BY source) AS slot FROM (SELECT DISTINCT source FROM documents)) " +
        "SELECT r.doc_id, r.source, r.round, s.slot FROM r JOIN s USING (source)"),
    "d40_epoch_mix" ->
      ("WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang), " +
        "e AS (SELECT lang, least(4, (max(n_docs) OVER () + n_docs - 1) // n_docs) AS epochs FROM c) " +
        "SELECT d.doc_id, d.lang, CAST(u.epoch AS BIGINT) AS epoch FROM documents d JOIN e USING (lang), LATERAL unnest(generate_series(1, e.epochs)) AS u(epoch)"),
    // dup_count from d1's fingerprint; the keep decision is a
    // deterministic salted-hash Bernoulli draw against q_ppm div
    // dup_count — all exact int64, so the surviving set is hash-exact
    "d41_soft_dedup" ->
      ("WITH f AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS fp, string_split(lower(trim(text)), ' ') AS ws FROM documents), " +
        "c AS (SELECT doc_id, fp, CAST(len(ws) AS BIGINT) AS n, CAST(len(list_filter(ws, w -> w IN ('the', 'a', 'of'))) AS BIGINT) AS s, CAST(list_sum([len(w) for w in ws]) AS BIGINT) AS l FROM f), " +
        "q AS (SELECT doc_id, fp, (1000000 * (8 * n * least(n, 100) + 600 * (n - s) + 75 * least(8 * n, l))) // (2000 * n) AS q_ppm FROM c), " +
        "g AS (SELECT doc_id, q_ppm, CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS dup_count FROM q) " +
        "SELECT doc_id, dup_count, q_ppm // dup_count AS score_ppm FROM g " +
        "WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':soft'), 1, 15)) AS BIGINT) % 1000000 < q_ppm // dup_count"),
    // top-k boundary ties broken by pair text on both engines
    "d30_bpe_pairs" ->
      "WITH w AS (SELECT string_split(lower(trim(text)), ' ') AS ws FROM documents), p AS (SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS pair FROM w WHERE len(ws) >= 2) SELECT pair, count(*) AS cnt FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20",
    // iterated BPE: the oracle replays the SAME three merges — argmax by
    // (cnt, pair text) each round, then the boundary-space replace that
    // is greedy left-to-right merge application in both engines (see
    // CorpusOps.d33BpeTrain scaladoc)
    "d33_bpe_train" ->
      ("WITH s0 AS (SELECT lower(trim(text)) AS t FROM documents WHERE lower(trim(text)) <> ''), " +
        "c1 AS (SELECT unnest([{'l': ws[i], 'r': ws[i+1]} for i in range(1, len(ws))]) AS u FROM (SELECT string_split(t, ' ') AS ws FROM s0) WHERE len(ws) >= 2), " +
        "m1 AS (SELECT u.l AS l, u.r AS r, count(*) AS cnt FROM c1 GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1), " +
        "s1 AS (SELECT trim(replace(replace(' ' || replace(t, ' ', '  ') || ' ', ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || '+' || m.r || ' '), '  ', ' ')) AS t FROM s0, m1 AS m), " +
        "c2 AS (SELECT unnest([{'l': ws[i], 'r': ws[i+1]} for i in range(1, len(ws))]) AS u FROM (SELECT string_split(t, ' ') AS ws FROM s1) WHERE len(ws) >= 2), " +
        "m2 AS (SELECT u.l AS l, u.r AS r, count(*) AS cnt FROM c2 GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1), " +
        "s2 AS (SELECT trim(replace(replace(' ' || replace(t, ' ', '  ') || ' ', ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || '+' || m.r || ' '), '  ', ' ')) AS t FROM s1, m2 AS m), " +
        "c3 AS (SELECT unnest([{'l': ws[i], 'r': ws[i+1]} for i in range(1, len(ws))]) AS u FROM (SELECT string_split(t, ' ') AS ws FROM s2) WHERE len(ws) >= 2), " +
        "m3 AS (SELECT u.l AS l, u.r AS r, count(*) AS cnt FROM c3 GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1) " +
        "SELECT 1 AS iter, l || ' ' || r AS pair, cnt FROM m1 " +
        "UNION ALL SELECT 2, l || ' ' || r, cnt FROM m2 " +
        "UNION ALL SELECT 3, l || ' ' || r, cnt FROM m3"),
    // BPE encode: replay the same 3-merge training (d33's CTE chain, with
    // doc_id carried through), apply merge 3 too, then count tokens per
    // document before and after — parity is the same string algebra
    "d37_bpe_encode" ->
      (bpeCteSql +
        "SELECT s0.doc_id, len(string_split(s0.t, ' ')) AS n_ws, len(string_split(s3.t, ' ')) AS n_bpe, " +
        "len(string_split(s0.t, ' ')) - len(string_split(s3.t, ' ')) AS saved, " +
        "(1000000 * len(string_split(s3.t, ' '))) // len(string_split(s0.t, ' ')) AS compress_ppm " +
        "FROM s0 JOIN s3 USING (doc_id)"),
    // tokenizer fertility: the same train+encode replay rolled up per
    // language in exact integer ppm
    "d74_token_fertility" ->
      (bpeCteSql +
        "SELECT s0.lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(len(string_split(s0.t, ' '))) AS BIGINT) AS total_words, " +
        "CAST(sum(len(string_split(s3.t, ' '))) AS BIGINT) AS total_bpe, " +
        "CAST((sum(len(string_split(s3.t, ' '))) // sum(len(string_split(s0.t, ' ')))) * 1000000 " +
        "+ ((sum(len(string_split(s3.t, ' '))) % sum(len(string_split(s0.t, ' ')))) * 1000000) // sum(len(string_split(s0.t, ' '))) AS BIGINT) AS fertility_ppm " +
        "FROM s0 JOIN s3 USING (doc_id) GROUP BY s0.lang"),
    // PII redaction: the corpus has no PII (spec-asserted), so both
    // engines plant the same doc_id-derived emails/phones/IPs, then
    // scrub with patterns whose Java-regex and RE2 semantics coincide
    // (char classes, bounded repetition, \b only); red_md5 pins the
    // replacement bytes
    "d38_pii_redact" ->
      ("WITH p AS (SELECT doc_id, lower(trim(text)) || CASE doc_id % 4 " +
        "WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now' " +
        "WHEN 1 THEN ' call +1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' " +
        "WHEN 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) || ' logged' " +
        "ELSE '' END AS t FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_email, " +
        "CAST(len(regexp_extract_all(t, '\\+1 555-[0-9]{4}\\b')) AS BIGINT) AS n_phone, " +
        "CAST(len(regexp_extract_all(t, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ip, " +
        "md5(regexp_replace(regexp_replace(regexp_replace(t, " +
        "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'), " +
        "'\\+1 555-[0-9]{4}\\b', '<PHONE>', 'g')) AS red_md5 FROM p"),
    // rate-based mixture rebalance: the hash gate is exact integer ppm,
    // so the oracle reproduces the selection bit for bit
    "d29_lang_mixture" ->
      "WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang), m AS (SELECT min(n) AS nmin FROM c), r AS (SELECT lang, (1000000 * m.nmin) // n AS rate_ppm FROM c, m), h AS (SELECT doc_id, lang, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 15)) AS BIGINT) % 1000000 AS hb FROM documents) SELECT h.doc_id, h.lang, r.rate_ppm FROM h JOIN r ON h.lang = r.lang WHERE h.hb < r.rate_ppm",
    // duplicate-substring spans: both engines hash the same 8-word
    // windows to 60-bit md5 prefixes, so parity is exact by construction
    "d28_dup_spans" ->
      "WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), g0 AS (SELECT doc_id, unnest([{'p': CAST(i - 1 AS BIGINT), 's': array_to_string(ws[i:i+7], ' ')} for i in range(1, len(ws) - 6)]) AS u FROM w WHERE len(ws) >= 8), g AS (SELECT doc_id, u.p AS pos, CAST(('0x' || substr(md5(u.s), 1, 15)) AS BIGINT) AS gh FROM g0), d AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2), m AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gh)), s AS (SELECT doc_id, pos, CASE WHEN pos <= lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8 THEN 0 ELSE 1 END AS step FROM m), i AS (SELECT doc_id, pos, sum(step) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM s) SELECT doc_id, min(pos) AS span_begin, max(pos) + 8 AS span_end, count(*) AS n_grams FROM i GROUP BY doc_id, island",
    "d24_embed_quantize" ->
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), s AS (SELECT vec_id, v, list_max([abs(x) for x in v]) / 127.0 AS scale FROM e), q AS (SELECT vec_id, v, scale, CASE WHEN scale = 0 THEN [0.0 for x in v] ELSE [greatest(-127.0, least(127.0, floor(x / scale + 0.5))) for x in v] END AS qv FROM s) SELECT vec_id, round(scale, 6) AS scale, CAST(len(v) AS BIGINT) AS n_dims, round(list_max([abs(v[i] - qv[i] * scale) for i in range(1, len(v) + 1)]), 6) AS max_err, CAST(len(list_filter(qv, x -> abs(x) = 127.0)) AS BIGINT) AS n_saturated FROM q",
    "d23_tfidf_topterms" ->
      "WITH n AS (SELECT count(*) AS n_docs FROM documents), t AS (SELECT doc_id, lang, unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents), tf AS (SELECT lang, w, count(*) AS tf FROM t GROUP BY lang, w), df AS (SELECT w, count(DISTINCT doc_id) AS df FROM t GROUP BY w), s AS (SELECT tf.lang, tf.w, round(tf.tf * n.n_docs / df.df, 6) AS score FROM tf JOIN df ON tf.w = df.w CROSS JOIN n), r AS (SELECT lang, w, score, row_number() OVER (PARTITION BY lang ORDER BY score DESC, w) AS rank FROM s) SELECT lang, w AS term, score, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5",
    // identical result to d23 by construction; same oracle
    "d23_tfidf_singlescan" ->
      "WITH n AS (SELECT count(*) AS n_docs FROM documents), t AS (SELECT doc_id, lang, unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents), tf AS (SELECT lang, w, count(*) AS tf FROM t GROUP BY lang, w), df AS (SELECT w, count(DISTINCT doc_id) AS df FROM t GROUP BY w), s AS (SELECT tf.lang, tf.w, round(tf.tf * n.n_docs / df.df, 6) AS score FROM tf JOIN df ON tf.w = df.w CROSS JOIN n), r AS (SELECT lang, w, score, row_number() OVER (PARTITION BY lang ORDER BY score DESC, w) AS rank FROM s) SELECT lang, w AS term, score, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5",
    // the composed prep pipeline: langid + quality (d4/d11 formulas) ->
    // quality gate -> exact-dup canonicals (d1) -> near-dup loser removal
    // (d2 pairs) -> per-(lang, pred_lang) survival stats
    "d18_corpus_prep" ->
      "WITH t AS (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS ws FROM documents), ann AS (SELECT doc_id, lang, CASE WHEN len(list_filter(ws, w -> w IN ('the', 'a', 'of'))) >= greatest(len(list_filter(ws, w -> w IN ('der', 'die', 'und'))), len(list_filter(ws, w -> w IN ('le', 'la', 'et'))), len(list_filter(ws, w -> w IN ('el', 'los', 'y')))) THEN 'en' WHEN len(list_filter(ws, w -> w IN ('der', 'die', 'und'))) >= greatest(len(list_filter(ws, w -> w IN ('le', 'la', 'et'))), len(list_filter(ws, w -> w IN ('el', 'los', 'y')))) THEN 'de' WHEN len(list_filter(ws, w -> w IN ('le', 'la', 'et'))) >= len(list_filter(ws, w -> w IN ('el', 'los', 'y'))) THEN 'fr' ELSE 'es' END AS pred_lang, ((1000000 * (8 * CAST(len(ws) AS BIGINT) * least(CAST(len(ws) AS BIGINT), 100) + 600 * (CAST(len(ws) AS BIGINT) - CAST(len(list_filter(ws, w -> w IN ('the', 'a', 'of'))) AS BIGINT)) + 75 * least(8 * CAST(len(ws) AS BIGINT), CAST(list_sum([len(w) for w in ws]) AS BIGINT)))) // (2000 * CAST(len(ws) AS BIGINT))) / 1000000.0 AS quality, CAST(len(ws) AS BIGINT) AS n_tokens FROM t), fp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS fp FROM documents), canon AS (SELECT f.doc_id FROM fp f JOIN (SELECT fp, min(doc_id) AS m FROM fp GROUP BY fp) g ON f.fp = g.fp WHERE f.doc_id = g.m), sh AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS shingles FROM t WHERE len(ws) >= 3), losers AS (SELECT DISTINCT b.doc_id AS b_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) / len(list_distinct(a.shingles || b.shingles)) >= 0.6) SELECT lang, pred_lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens, min(quality) AS min_quality, max(quality) AS max_quality FROM ann WHERE quality >= 0.5 AND doc_id IN (SELECT doc_id FROM canon) AND doc_id NOT IN (SELECT b_id FROM losers) GROUP BY lang, pred_lang",
    "d6_ann_brute" ->
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20), s AS (SELECT q.q_id, e.vec_id AS n_id, list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)]) / (sqrt(list_sum([qv[i] * qv[i] for i in range(1, len(qv) + 1)])) * sqrt(list_sum([v[i] * v[i] for i in range(1, len(v) + 1)]))) AS sim FROM q, e WHERE e.vec_id <> q.q_id), r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM s) SELECT q_id, n_id, round(sim, 6) AS sim, rn FROM r WHERE rn <= 10",
    "d21_ann_ivf_kmedians" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8), " +
        "j0 AS (SELECT e.vec_id, e.v, c.cid, c.cv FROM e CROSS JOIN c0 c), " +
        "d0 AS (SELECT vec_id, v, cid, list_sum([(v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, len(v) + 1)]) AS d FROM j0), " +
        "a0 AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d0) WHERE rn = 1), " +
        "x0 AS (SELECT cid, i, v[i] AS x FROM a0, LATERAL unnest(range(1, len(v) + 1)) AS t(i)), " +
        "m0 AS (SELECT cid, i, round(quantile_cont(x, 0.5), 6) AS m FROM x0 GROUP BY cid, i), " +
        "c1 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m0 GROUP BY cid), " +
        "j1 AS (SELECT e.vec_id, e.v, c.cid, c.cv FROM e CROSS JOIN c1 c), " +
        "d1 AS (SELECT vec_id, v, cid, list_sum([(v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, len(v) + 1)]) AS d FROM j1), " +
        "a1 AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d1) WHERE rn = 1), " +
        "x1 AS (SELECT cid, i, v[i] AS x FROM a1, LATERAL unnest(range(1, len(v) + 1)) AS t(i)), " +
        "m1 AS (SELECT cid, i, round(quantile_cont(x, 0.5), 6) AS m FROM x1 GROUP BY cid, i), " +
        "c2 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m1 GROUP BY cid), " +
        "j2 AS (SELECT e.vec_id, e.v, c.cid, c.cv FROM e CROSS JOIN c2 c), " +
        "d2 AS (SELECT vec_id, v, cid, list_sum([(v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, len(v) + 1)]) AS d FROM j2), " +
        "a2 AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d2) WHERE rn = 1), " +
        "q AS (SELECT vec_id AS q_id, v AS qv, cid AS q_cid FROM a2 WHERE vec_id < 20), " +
        "s AS (SELECT q.q_id, a.vec_id AS n_id, list_sum([qv[i] * a.v[i] for i in range(1, len(a.v) + 1)]) / (sqrt(list_sum([qv[i] * qv[i] for i in range(1, len(qv) + 1)])) * sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, len(a.v) + 1)]))) AS sim FROM q JOIN a2 a ON a.cid = q.q_cid AND a.vec_id <> q.q_id), " +
        "r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM s) " +
        "SELECT q_id, n_id, round(sim, 6) AS sim, rn FROM r WHERE rn <= 10"),
    "d7_ann_ivf" ->
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings), q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label FROM e WHERE vec_id < 20), s AS (SELECT q.q_id, e.vec_id AS n_id, list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)]) / (sqrt(list_sum([qv[i] * qv[i] for i in range(1, len(qv) + 1)])) * sqrt(list_sum([v[i] * v[i] for i in range(1, len(v) + 1)]))) AS sim FROM q JOIN e ON e.label = q.q_label AND e.vec_id <> q.q_id), r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM s) SELECT q_id, n_id, round(sim, 6) AS sim, rn FROM r WHERE rn <= 10",
    // multi-probe IVF: centroids from exact integer sums (floor-quantized
    // 2^20ths summed as BIGINTs — order-free, so both engines derive
    // bit-identical centroids), cells ranked per query, top 2 probed
    "d34_ann_ivf_probes" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings), " +
        "ex AS (SELECT label, unnest(range(1, len(v) + 1)) AS i, v FROM e), " +
        "qz AS (SELECT label, i, sum(CAST(floor(v[i] * 1048576) AS BIGINT)) AS sq, count(*) AS n FROM ex GROUP BY 1, 2), " +
        "cents AS (SELECT label AS c_label, list(sq / (n * 1048576.0) ORDER BY i) AS cv FROM qz GROUP BY label), " +
        "q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20), " +
        "cd AS (SELECT q_id, qv, c_label, list_sum([(qv[i] - cv[i]) * (qv[i] - cv[i]) for i in range(1, len(qv) + 1)]) AS dist FROM q, cents), " +
        "pc AS (SELECT q_id, qv, c_label FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist, c_label) AS crn FROM cd) WHERE crn <= 2), " +
        "s AS (SELECT pc.q_id, e.vec_id AS n_id, list_sum([pc.qv[i] * e.v[i] for i in range(1, len(e.v) + 1)]) / (sqrt(list_sum([pc.qv[i] * pc.qv[i] for i in range(1, len(pc.qv) + 1)])) * sqrt(list_sum([e.v[i] * e.v[i] for i in range(1, len(e.v) + 1)]))) AS sim FROM pc JOIN e ON e.label = pc.c_label AND e.vec_id <> pc.q_id), " +
        "r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM s) " +
        "SELECT q_id, n_id, round(sim, 6) AS sim, rn FROM r WHERE rn <= 10"),
    // hybrid search: metadata predicate prunes BEFORE the distance math
    "d31_ann_filtered" ->
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), en AS (SELECT e.vec_id, e.v FROM e JOIN documents d ON d.doc_id = e.vec_id WHERE d.lang = 'en'), q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20), s AS (SELECT q.q_id, en.vec_id AS n_id, list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)]) / (sqrt(list_sum([qv[i] * qv[i] for i in range(1, len(qv) + 1)])) * sqrt(list_sum([v[i] * v[i] for i in range(1, len(v) + 1)]))) AS sim FROM q, en WHERE en.vec_id <> q.q_id), r AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM s) SELECT q_id, n_id, round(sim, 6) AS sim, rn FROM r WHERE rn <= 10",
    "d8_multimodal_decode" ->
      "WITH j AS (SELECT d.doc_id, d.lang, d.text, CAST(e.embedding AS DOUBLE[]) AS v FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id), h AS (SELECT doc_id, lang, octet_length(CAST(text AS BLOB)) AS byte_len, CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h, v FROM j) SELECT doc_id, lang, byte_len, h % 640 + 1 AS width, h % 480 + 1 AS height, ['png', 'jpg', 'webp'][CAST(h % 3 AS INT) + 1] AS format, len(v) AS emb_dim, round(sqrt(list_sum([v[i] * v[i] for i in range(1, len(v) + 1)])), 6) AS emb_norm FROM h",
    "d15_frame_sample" ->
      "SELECT doc_id, CAST(i AS BIGINT) AS frame_idx, md5(substring(text, CAST(i * 32 + 1 AS BIGINT), 32)) AS frame_md5 FROM documents, LATERAL unnest(range(0, length(text) // 32)) AS t(i) WHERE length(text) >= 32 AND i % 4 = 0",
    // the REAL resample: the oracle recomputes the area-average thumbnail
    // pixels from the same bytes (exact integer box decomposition — see
    // MultimodalOps.boxAverage) and fingerprints the same pixel string;
    // chars == bytes because the corpus is ASCII (asserted in
    // MultimodalOpsSpec), which is what lets char-slicing DuckDB replay a
    // byte-raster kernel
    "d17_resize" ->
      ("WITH hsh AS (SELECT doc_id, text, CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h FROM documents), " +
        "dims AS (SELECT doc_id, text, h % 640 + 1 AS w, h % 480 + 1 AS ht FROM hsh), " +
        "meta AS (SELECT doc_id, text, w AS width, ht AS height, " +
        "CASE WHEN greatest(w, ht) <= 256 THEN w WHEN w >= ht THEN 256 ELSE greatest(1, w * 256 // ht) END AS out_w, " +
        "CASE WHEN greatest(w, ht) <= 256 THEN ht WHEN w >= ht THEN greatest(1, ht * 256 // w) ELSE 256 END AS out_h FROM dims), " +
        "ras AS (SELECT *, least(32, length(text)) AS sw, length(text) // least(32, length(text)) AS sh FROM meta), " +
        "tgt AS (SELECT *, CASE WHEN greatest(sw, sh) <= 8 THEN sw WHEN sw >= sh THEN 8 ELSE greatest(1, sw * 8 // sh) END AS tw, " +
        "CASE WHEN greatest(sw, sh) <= 8 THEN sh WHEN sw >= sh THEN greatest(1, sh * 8 // sw) ELSE 8 END AS th FROM ras), " +
        "tmb AS (SELECT doc_id, width, height, out_w, out_h, " +
        "array_to_string([CAST(list_sum(flatten([[ord(substr(text, y * sw + x + 1, 1)) for x in range((i % tw) * sw // tw, (i % tw + 1) * sw // tw)] for y in range((i // tw) * sh // th, (i // tw + 1) * sh // th)])) // (((i % tw + 1) * sw // tw - (i % tw) * sw // tw) * ((i // tw + 1) * sh // th - (i // tw) * sh // th)) AS VARCHAR) for i in range(0, tw * th)], ',') AS thumb FROM tgt) " +
        "SELECT doc_id, width, height, out_w, out_h, md5(thumb) AS thumb_md5 FROM tmb"),
    "d9_embed_neardup" ->
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) / (sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, len(a.v) + 1)])) * sqrt(list_sum([b.v[i] * b.v[i] for i in range(1, len(b.v) + 1)]))) AS sim FROM e a JOIN e b ON a.vec_id < b.vec_id) SELECT a_id, b_id, round(sim, 6) AS sim FROM s WHERE sim >= 0.45",
    // oracle = brute force over the SAME planted corpus (union of the
    // embeddings table and the perturbed twins d16 constructs); the LSH
    // path must therefore achieve exact recall at the 0.9 threshold
    "d16_srp_neardup" ->
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), aug AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id + 10000, [x * CAST(0.99 AS DOUBLE) + CAST(0.001 AS DOUBLE) for x in v] FROM e WHERE vec_id < 50), s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) / (sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, len(a.v) + 1)])) * sqrt(list_sum([b.v[i] * b.v[i] for i in range(1, len(b.v) + 1)]))) AS sim FROM aug a JOIN aug b ON a.vec_id < b.vec_id) SELECT a_id, b_id, round(sim, 6) AS sim FROM s WHERE sim >= 0.9",
    "s1_stream_hourly_agg" ->
      "SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n, round(sum(value), 2) AS total FROM events GROUP BY 1, 2",
    "s2_stream_dedup_count" ->
      "SELECT event_type, count(DISTINCT event_id) AS n_distinct FROM events GROUP BY event_type",
    "s3_stream_seek" ->
      "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total FROM events WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY event_type",
    "s3_stream_seek_trim" ->
      "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total FROM events GROUP BY event_type",
    "s4_stream_perkey_state" ->
      "SELECT user_id, count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id FROM events GROUP BY user_id",
    "s5_stream_perkey_tws" ->
      "SELECT user_id, count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id FROM events GROUP BY user_id",
    "s6_stream_stream_join" ->
      "SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id, round(p.value, 2) AS p_value FROM events p JOIN events c ON p.event_type = 'purchase' AND c.event_type = 'click' AND c.user_id = p.user_id AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts",
    // streaming first-arrival dedup keyed by (lang, fp) == batch
    // per-lang distinct-fingerprint count, independent of shard order
    "s7_stream_corpus_dedup" ->
      "SELECT lang, count(DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' '))) AS n_unique FROM documents GROUP BY lang",
    // incremental LSH near-dup at ingest == the batch d2 answer
    "s8_stream_neardup" ->
      "WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), sh AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS shingles FROM w WHERE len(ws) >= 3), p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) / len(list_distinct(a.shingles || b.shingles)) AS j FROM sh a JOIN sh b ON a.doc_id < b.doc_id) SELECT a_id, b_id, round(j, 6) AS jaccard FROM p WHERE j >= 0.6",
    // the seeded resume: batch-d2-over-the-whole-corpus MINUS
    // tranche-1-internal pairs (tranche 1 = doc_id below the median cut,
    // the pre-existing corpus whose pairs batch d2 already answered)
    "s12_stream_neardup_seeded" ->
      "WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), sh AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS shingles FROM w WHERE len(ws) >= 3), p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) / len(list_distinct(a.shingles || b.shingles)) AS j FROM sh a JOIN sh b ON a.doc_id < b.doc_id), cut AS (SELECT (max(doc_id) + 1) // 2 AS c FROM documents) SELECT a_id, b_id, round(j, 6) AS jaccard FROM p, cut WHERE j >= 0.6 AND NOT (a_id < c AND b_id < c)",
    // at-ingest contamination probe (stream-static broadcast join) ==
    // the batch d20 answer
    "s10_stream_contamination" ->
      "WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), sh AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS shingles FROM w WHERE len(ws) >= 3), g AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS gh FROM sh, LATERAL unnest(shingles) AS t(s)), ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0) SELECT doc_id, count(*) AS n_shared FROM g JOIN ev USING (gh) WHERE doc_id % 97 <> 0 GROUP BY doc_id",
    // incremental dup-span marking at ingest == batch d28's marked
    // positions (the pre-island-merge set), shard-order independent
    "s11_stream_dup_positions" ->
      "WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), g0 AS (SELECT doc_id, unnest([{'p': CAST(i - 1 AS BIGINT), 's': array_to_string(ws[i:i+7], ' ')} for i in range(1, len(ws) - 6)]) AS u FROM w WHERE len(ws) >= 8), g AS (SELECT doc_id, u.p AS pos, CAST(('0x' || substr(md5(u.s), 1, 15)) AS BIGINT) AS gh FROM g0), d AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2) SELECT g.doc_id, g.pos FROM g JOIN d USING (gh)",
    // seeded resume of the span marker: marked positions over BOTH
    // tranches EXCEPT those already marked over tranche 1 alone — the
    // difference includes the retroactive cross-tranche marks
    "s13_stream_dup_seeded" ->
      ("WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), " +
        "g0 AS (SELECT doc_id, unnest([{'p': CAST(i - 1 AS BIGINT), 's': array_to_string(ws[i:i+7], ' ')} for i in range(1, len(ws) - 6)]) AS u FROM w WHERE len(ws) >= 8), " +
        "g AS (SELECT doc_id, u.p AS pos, CAST(('0x' || substr(md5(u.s), 1, 15)) AS BIGINT) AS gh FROM g0), " +
        "cut AS (SELECT (max(doc_id) + 1) // 2 AS c FROM documents), " +
        "d AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2), " +
        "allm AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gh)), " +
        "d1 AS (SELECT gh FROM g, cut WHERE doc_id < c GROUP BY gh HAVING count(*) >= 2), " +
        "t1 AS (SELECT g.doc_id, g.pos FROM g JOIN d1 USING (gh), cut WHERE g.doc_id < c) " +
        "SELECT doc_id, pos FROM allm EXCEPT SELECT doc_id, pos FROM t1"),
    // streaming IVF ingest: the oracle replays the exact-integer coarse
    // quantizer (d34's centroid CTEs), assigns every vector by the same
    // (distance, cid) argmin, and aggregates cell occupancy — per-row
    // assignment makes streaming == batch regardless of shard order
    "s14_stream_ann_ingest" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings), " +
        "ex AS (SELECT label, unnest(range(1, len(v) + 1)) AS i, v FROM e), " +
        "qz AS (SELECT label, i, sum(CAST(floor(v[i] * 1048576) AS BIGINT)) AS sq, count(*) AS n FROM ex GROUP BY 1, 2), " +
        "cents AS (SELECT label AS cid, list(sq / (n * 1048576.0) ORDER BY i) AS cv FROM qz GROUP BY label), " +
        "asg AS (SELECT vec_id, cid, list_sum([(v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, len(v) + 1)]) AS d FROM e, cents), " +
        "pick AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM asg) " +
        "SELECT cid AS cell, count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum FROM pick WHERE rn = 1 GROUP BY cell"),
    // streaming session_window == the batch gaps-and-islands sessions
    "s9_stream_session" ->
      "WITH g AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_sess FROM events), s AS (SELECT user_id, ts, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM g) SELECT user_id, min(ts) AS session_start, count(*) AS n_events FROM s GROUP BY user_id, sid",
    "q_pricing_summary" ->
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_base, round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc, round(avg(l_quantity), 4) AS avg_qty, count(*) AS n FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' GROUP BY l_returnflag, l_linestatus",
    "q_revenue_by_nation" ->
      "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' GROUP BY n_name",
    "q_top_orders_per_cust" ->
      "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3",
    "q_cust_with_orders" ->
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "q_cust_no_urgent" ->
      "SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')",
    "q_distinct_suppliers" ->
      "SELECT l_partkey, count(DISTINCT l_suppkey) AS n_supp, round(sum(l_quantity), 2) AS qty FROM lineitem GROUP BY l_partkey",
    "q_brand_supplier_revenue" ->
      "SELECT p_brand, n_name, CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents, count(DISTINCT l_suppkey) AS n_suppliers FROM lineitem JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey WHERE p_type = 'ECONOMY' GROUP BY p_brand, n_name",
    "q_salted_join" ->
      "SELECT o_orderkey, o_custkey, c_name, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey",
    "q_percentiles" ->
      "SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4) AS p50, round(quantile_cont(l_extendedprice, 0.9), 4) AS p90, count(*) AS n FROM lineitem GROUP BY l_returnflag",
    "q_pivot_priority" ->
      "SELECT o_custkey, count(*) FILTER (o_orderpriority = '1-URGENT') AS urgent, count(*) FILTER (o_orderpriority = '2-HIGH') AS high, count(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium FROM orders GROUP BY o_custkey",
    "q_rollup_revenue" ->
      "SELECT r_name, n_name, round(sum(o_totalprice), 2) AS total, count(*) AS n_orders FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY ROLLUP(r_name, n_name)",
    // novelty: both engines hash the same 8-word windows (the d28
    // identity) and attribute first occurrence by smallest doc_id —
    // merge-order free, so the ppm is exact
    "d64_novelty" ->
      ("WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_distinct([CAST(('0x' || substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 15)) AS BIGINT) for i in range(1, len(ws) - 6)])) AS gh FROM w WHERE len(ws) >= 8), " +
        "f AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY gh) AS first_id FROM g) " +
        "SELECT doc_id, count(*) AS n_windows, count(*) FILTER (first_id = doc_id) AS n_novel, " +
        "(1000000 * count(*) FILTER (first_id = doc_id)) // count(*) AS novelty_ppm FROM f GROUP BY doc_id"),
    // group-aware split: the d1 fingerprint identity, then d19's split
    // hash applied to the group canonical instead of the document
    "d65_group_split" ->
      ("WITH t AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS fp FROM documents), " +
        "c AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS canonical_id FROM t), " +
        "h AS (SELECT doc_id, canonical_id, CAST(('0x' || substr(md5(CAST(canonical_id AS VARCHAR) || ':split'), 1, 15)) AS BIGINT) % 100 AS bucket FROM c) " +
        "SELECT doc_id, canonical_id, CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM h"),
    // the chain graph's components are analytic: 250-id blocks, label =
    // the block's smallest PRESENT id (min per block, not the block
    // floor — correct for any id base, r11 ADVICE); membership and the
    // edge rule replay the Spark side's existence probe literally (a
    // node appears iff one of its two candidate edges has both endpoints
    // and crosses no block boundary). Components = per-block runs still
    // assumes within-block contiguity, like the engine's gate corpus.
    "d63_chain_components" ->
      ("WITH d AS (SELECT doc_id FROM documents), " +
        "nd AS (SELECT a.doc_id FROM d a JOIN d b ON b.doc_id = a.doc_id + 1 WHERE b.doc_id % 250 != 0 " +
        "UNION SELECT b.doc_id FROM d a JOIN d b ON b.doc_id = a.doc_id + 1 WHERE b.doc_id % 250 != 0) " +
        "SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY doc_id // 250) AS label FROM nd"),
    // KMV sketch replay (see RelationalOps.qApproxStats): bottom-1024
    // rows per flag by 60-bit md5(orderkey_linenumber) → order-statistic
    // percentiles in exact cents; bottom-64 distinct md5(suppkey) hashes
    // → exact count below 64 distinct, else floor(63·2^60/h_64). Every
    // stage is merge-order independent, so the hash compare is exact.
    "q_approx_stats" ->
      ("WITH li AS (SELECT l_returnflag, " +
        "CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) AS hr, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents, " +
        "CAST(('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hs FROM lineitem), " +
        "smp AS (SELECT l_returnflag, hr, cents FROM (SELECT DISTINCT l_returnflag, hr, cents FROM li) d QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY hr, cents) <= 1024), " +
        "agg AS (SELECT l_returnflag, list_sort(list(cents)) AS vals, count(*) AS kk FROM smp GROUP BY l_returnflag), " +
        "kmv AS (SELECT l_returnflag, hs FROM (SELECT DISTINCT l_returnflag, hs FROM li) d QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY hs) <= 64), " +
        "kagg AS (SELECT l_returnflag, count(*) AS kd, max(hs) AS hk FROM kmv GROUP BY l_returnflag), " +
        "cnt AS (SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag) " +
        "SELECT agg.l_returnflag AS l_returnflag, vals[CAST((5 * kk + 9) // 10 AS INT)] AS p50_cents, vals[CAST((9 * kk + 9) // 10 AS INT)] AS p90_cents, " +
        "CASE WHEN kd < 64 THEN kd ELSE CAST(floor(63.0 * 1152921504606846976.0 / hk) AS BIGINT) END AS n_supp_approx, n " +
        "FROM agg JOIN kagg ON agg.l_returnflag = kagg.l_returnflag JOIN cnt ON agg.l_returnflag = cnt.l_returnflag"),
  )
}
