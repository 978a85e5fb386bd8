package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.sources.{BinarySink, HtmlArticles, PagedJson, ZstNdjson}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the north-star
  * training-data-pipeline extensions) is exposed as a `queries` entry
  * `(SparkSession, sfDir) => DataFrame`, with `oracleSql` giving the
  * equivalent DuckDB SQL over the same parquet tables. Column names and
  * value types are aligned between the two on purpose:
  *   - counts are LONG/BIGINT on both sides,
  *   - money aggregates sum DECIMAL-cast inputs (associative, order-free)
  *     and surface as DOUBLE,
  *   - float similarity scores are rounded to 4 decimals,
  *   - hashing shared with the oracle is md5-based (never Spark-private
  *     hash functions),
  *   - every query has a total deterministic ORDER BY.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    IngestPipelines.redditFilter(spark, "/root/testdata/sf0.001")

  /** Hot-block cap shared by q20/q24 and their oracles — interpolated into
    * the SQL so a changed cap cannot silently diverge from the oracle. */
  private val blockCap = 20

  private val kwContains = Seq("spark", "window", "stream")
  private val kwComments = Seq("query", "merge", "batch")

  /** q49 mixing weights rendered as SQL, from the same constants the Spark
    * side uses — rate-table edits cannot silently diverge from the oracle. */
  private val sampleRateCase = "CASE " +
    CorpusOps.defaultRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r " }.mkString +
    s"ELSE ${CorpusOps.defaultRate} END"
  private val kwRegex = Seq("merge-join", "vector", "batch")
  private val kwTerms = Seq("spark", "vector", "window")
  /** Wide keyword set for the Aho–Corasick scan (q40) — the many-terms
    * allowlist regime the automaton exists for. Two-word phrases so the
    * filter is selective on the synthetic corpus (single common words
    * match ~100% of documents); a few never-matching terms exercise the
    * automaton's miss path. */
  private val kwWide = Seq(
    "spark vector", "merge join", "window stream", "vector spark",
    "batch window", "query merge", "stream batch", "join vector",
    "spark spark", "window window", "vector merge", "batch batch",
    "query stream", "merge window", "stream join", "join batch",
    "compaction", "quorum", "lineage", "snapshot isolation")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — reference-parity pipelines (SURVEY.md §2.1–2.2, §3) —
    "q01_reddit_filter" -> ((s, d) => IngestPipelines.redditFilter(s, d)),
    "q02_keyword_filter" -> ((s, d) => IngestPipelines.keywordFilter(s, d, kwContains)),
    "q03_regex_keyword" -> ((s, d) => IngestPipelines.regexKeywordCounts(s, d, kwRegex)),
    "q04_terms_extract" -> ((s, d) => IngestPipelines.termsExtract(s, d, kwTerms)),
    "q05_date_range" -> ((s, d) => IngestPipelines.dateRangeCounts(s, d)),
    "q06_string_predicates" -> ((s, d) => IngestPipelines.stringShapePredicates(s, d)),
    // — relational surface (§2.3–2.5) —
    "q07_union_dedup" -> ((s, d) => Relational.unionDedup(s, d)),
    "q08_last_wins" -> ((s, d) => Relational.lastWinsPerUser(s, d)),
    "q09_conditional_counts" -> ((s, d) => Relational.conditionalCounts(s, d)),
    "q10_distinct_types" -> ((s, d) => Relational.distinctTypes(s, d)),
    "q11_date_format_kit" -> ((s, d) => Relational.dateFormatKit(s, d)),
    "q12_orders_customer" -> ((s, d) => Relational.ordersWithCustomer(s, d)),
    "q13_customers_without_orders" -> ((s, d) => Relational.customersWithoutOrders(s, d)),
    "q14_pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "q15_revenue_by_nation" -> ((s, d) => Relational.revenueByNation(s, d)),
    "q16_top_orders_per_customer" -> ((s, d) => Relational.topOrdersPerCustomer(s, d)),
    "q17_hourly_counts" -> ((s, d) => Relational.hourlyEventCounts(s, d)),
    // — dedup suite (north-star) —
    "q18_exact_dedup" -> ((s, d) => DedupOps.exactDedup(s, d)),
    // q19 (an xxhash64 MinHash-LSH variant) was retired: its 2^64-affine
    // hash family cannot be replayed in the DuckDB oracle. The banding
    // operator is hash-verified through the md5 family (q55), and its
    // recall is pinned in DedupSpec.
    "q20_ngram_jaccard" -> ((s, d) => DedupOps.ngramJaccardPairs(s, d, maxBlock = blockCap)),
    "q21_simhash" -> ((s, d) => DedupOps.simHash(s, d)),
    // — similarity search (north-star) —
    "q22_ann_cosine_topk" -> ((s, d) => AnnSearch.bruteForceTopK(s, d)),
    "q23_ann_lsh_topk" -> ((s, d) => AnnSearch.lshTopK(s, d)),
    "q35_ann_ivf_topk" -> ((s, d) => AnnSearch.ivfTopK(s, d)),
    "q24_embedding_neardup" -> ((s, d) => AnnSearch.embeddingNearDupPairs(s, d, maxBlock = blockCap)),
    // — text analysis (north-star) —
    "q25_lang_id" -> ((s, d) => TextAnalysis.langId(s, d)),
    "q26_quality_score" -> ((s, d) => TextAnalysis.qualityScore(s, d)),
    "q27_token_counts" -> ((s, d) => TextAnalysis.tokenCounts(s, d)),
    "q28_term_frequency" -> ((s, d) => TextAnalysis.termFrequency(s, d)),
    "q29_fingerprints" -> ((s, d) => TextAnalysis.fingerprints(s, d)),
    // — multimodal / semi-structured / paged sources —
    "q30_multimodal_decode" -> ((s, d) => Multimodal.decodeFeatures(s, d)),
    "q39_frame_sample" -> ((s, d) => Multimodal.frameSample(s, d)),
    "q41_media_resize" -> ((s, d) => Multimodal.resize(s, d)),
    "q31_html_articles" -> ((s, d) => HtmlArticles.fazRoundTrip(s, d)),
    "q32_paged_api" -> ((s, d) => PagedJson.pagedRoundTrip(s, d)),
    "q33_zst_ndjson" -> ((s, d) => ZstNdjson.zstRoundTrip(s, d)),
    "q34_binary_sink" -> ((s, d) => BinarySink.binarySinkReport(s, d)),
    // — streaming-unified transforms, run in batch mode here (§2.8) —
    "q36_sessionization" -> ((s, d) => graft.streaming.StreamOps.sessionReport(s, d)),
    "q37_anomaly_state" -> ((s, d) => graft.streaming.StatefulOps.anomalyReport(s, d)),
    "q38_salted_join" -> ((s, d) => SkewJoin.skewedRevenueBySegment(s, d)),
    "q40_multi_keyword" -> ((s, d) => IngestPipelines.multiKeywordFilter(s, d, kwWide)),
    "q42_ann_batch_topk" -> ((s, d) => AnnSearch.batchTopK(s, d)),
    "q43_media_corpus" -> ((s, d) => HtmlArticles.mediaCorpus(s, d)),
    "q44_suppliers_by_nation" -> ((s, d) => Relational.suppliersByNation(s, d)),
    // — round-3 reference-parity closers —
    "q45_url_strip_dedup" -> ((s, d) => DedupOps.urlStripDedup(s, d)),
    "q46_csv_header" -> ((s, d) => graft.sources.CsvRoundTrip.csvHeaderRoundTrip(s, d)),
    "q47_comments_filter" -> ((s, d) => IngestPipelines.commentsFilter(s, d, kwComments)),
    // — corpus-construction suite (cluster collapse, mixing, weighting) —
    "q48_dedup_clusters" -> ((s, d) => Components.dedupClusters(s, d)),
    "q49_stratified_sample" -> ((s, d) => CorpusOps.stratifiedSample(s, d)),
    "q50_tfidf_topterms" -> ((s, d) => CorpusOps.tfIdfTopTerms(s, d)),
    "q51_label_centroids" -> ((s, d) => AnnSearch.centroidsByLabel(s, d)),
    "q52_corpus_stats" -> ((s, d) => CorpusOps.corpusStats(s, d)),
    "q53_knn_join" -> ((s, d) => AnnSearch.knnJoin(s, d)),
    "q54_asof_join" -> ((s, d) => AsOfJoin.clicksWithLastPurchase(s, d)),
    "q55_minhash_oracled" -> ((s, d) => DedupOps.minHashLshPairsOracled(s, d)),
    "q56_attribution_join" -> ((s, d) => graft.streaming.StreamOps.attributionReport(s, d)),
    "q57_unicode_clean" -> ((s, d) => TextAnalysis.unicodeClean(s, d)),
    "q58_training_pipeline" -> ((s, d) => CorpusOps.trainingPipeline(s, d)),
    // — round-4 additions: compliance, quality rules, eval integrity,
    //   multi-grain reporting, time-series analytics, vector compression —
    "q59_pii_redaction" -> ((s, d) => TextAnalysis.piiRedact(s, d)),
    "q60_gopher_quality" -> ((s, d) => TextAnalysis.gopherQuality(s, d)),
    "q61_contamination" -> ((s, d) => CorpusOps.contaminationCheck(s, d)),
    "q62_rollup_revenue" -> ((s, d) => Relational.rollupRevenue(s, d)),
    "q63_activity_windows" -> ((s, d) => Relational.userActivityWindows(s, d)),
    "q64_embed_quantize" -> ((s, d) => AnnSearch.quantizeEmbeddings(s, d)),
    "q65_hll_distinct" -> ((s, d) => Sketches.hllDistinct(s, d)),
    "q66_reservoir_sample" -> ((s, d) => CorpusOps.reservoirSample(s, d)),
    // — round-6 additions: the composed near-dup pipeline product, and the
    //   sketch-based corpus profile —
    "q67_neardup_keepers" -> ((s, d) => DedupOps.nearDupKeepers(s, d)),
    "q68_corpus_stats_approx" -> ((s, d) => CorpusOps.corpusStatsApprox(s, d)),
    "q69_ivf_train" -> ((s, d) => AnnSearch.trainIvfCodebook(s, d)),
    "q70_mixture_weights" -> ((s, d) => CorpusOps.mixtureWeights(s, d)),
    "q71_unigram_logprob" -> ((s, d) => TextAnalysis.unigramLogProb(s, d)),
    "q72_span_dedup" -> ((s, d) => DedupOps.spanDedupReport(s, d)),
    "q73_sequence_pack" -> ((s, d) => CorpusOps.sequencePack(s, d)),
    "q74_bloom_dedup" -> ((s, d) => DedupOps.bloomDedupGate(s, d)),
    "q75_interval_join" -> ((s, d) => IntervalJoin.eventsInWindows(s, d)),
    "q76_corpus_build" -> ((s, d) => CorpusOps.corpusBuild(s, d)),
    "q77_pivot_matrix" -> ((s, d) => Relational.langMatrix(s, d)),
    "q78_gap_fill" -> ((s, d) => Relational.hourlyGapFill(s, d)),
    "q79_unpivot_roundtrip" -> ((s, d) => Relational.langMatrixLong(s, d)),
    "q80_corpus_diff" -> ((s, d) => CorpusOps.corpusDiff(s, d)),
    "q81_leakage_safe_split" -> ((s, d) => DedupOps.leakageSafeSplit(s, d)),
    "q82_semantic_dedup" -> ((s, d) => AnnSearch.semanticDedup(s, d)),
    "q83_table_profile" -> ((s, d) => Profiler.documentsProfile(s, d)),
    "q84_curriculum_shards" -> ((s, d) => CorpusOps.curriculumShards(s, d)),
    "q85_pq_encode" -> ((s, d) => AnnSearch.pqEncode(s, d)),
    "q86_pq_adc_topk" -> ((s, d) => AnnSearch.pqAdcTopK(s, d)),
    "q87_chunk_windows" -> ((s, d) => CorpusOps.chunkDocuments(s, d)),
    "q88_incremental_dedup" -> ((s, d) => DedupOps.incrementalDedupGate(s, d)),
    "q89_bpe_pair_stats" -> ((s, d) => TextAnalysis.bpePairStats(s, d)),
    "q90_quality_keepers" -> ((s, d) => DedupOps.qualityKeepers(s, d)),
    "q91_value_histogram" -> ((s, d) => Profiler.valueHistogram(s, d)),
    "q92_incremental_neardup" -> ((s, d) => DedupOps.incrementalNearDupGate(s, d)),
    "q93_ann_recall_audit" -> ((s, d) => AnnSearch.annRecallAudit(s, d)),
    "q94_stream_bloom_gate" -> ((s, d) => graft.streaming.BloomGate.bloomReplayBatch(s, d)),
    "q95_snapshot_merge" -> ((s, d) => CorpusOps.snapshotMerge(s, d)),
    "q96_robust_outliers" -> ((s, d) => CorpusOps.robustOutliers(s, d)),
    "q97_triangle_census" -> ((s, d) => Components.triangleStats(s, d)),
    "q98_pagerank" -> ((s, d) => Components.pageRankDocs(s, d)),
    "q99_cms_heavy_hitters" -> ((s, d) => Sketches.countMinHeavyHitters(s, d)),
    "q100_scd2_history" -> ((s, d) => Relational.scd2History(s, d)),
    "q101_funnel" -> ((s, d) => Relational.funnelReport(s, d)),
    "q102_zorder_layout" -> ((s, d) => Layout.zorderAudit(s, d)),
    "q103_top_quality" -> ((s, d) => TextAnalysis.topQualityPerSource(s, d)),
    "q104_cms_join_card" -> ((s, d) => Sketches.cmsJoinCardinality(s, d)),
    "q105_incr_agg" -> ((s, d) => CorpusOps.incrementalAggMaintenance(s, d)),
    "q106_fuzzy_link" -> ((s, d) => RecordLinkage.fuzzyLinkParts(s, d)),
    "q107_cohort_retention" -> ((s, d) => Analytics.cohortRetention(s, d)),
    "q108_grouped_hll" -> ((s, d) => Sketches.groupedHllDistinct(s, d)),
    "q109_skew_profile" -> ((s, d) => Analytics.skewProfile(s, d)),
    "q110_bigram_logprob" -> ((s, d) => TextAnalysis.bigramLogProb(s, d)),
    "q111_pmi_pairs" -> ((s, d) => TextAnalysis.pmiTopPairs(s, d)),
    "q112_hard_negatives" -> ((s, d) => AnnSearch.hardNegatives(s, d)),
    "q113_embed_outliers" -> ((s, d) => AnnSearch.embeddingOutliers(s, d)),
    "q114_setsim_join" -> ((s, d) => DedupOps.setSimJoin(s, d)),
    "q115_weighted_sample" -> ((s, d) => CorpusOps.weightedSample(s, d)),
    "q116_communities" -> ((s, d) => Components.communities(s, d)),
    "q117_bpe_train" -> ((s, d) => TextAnalysis.bpeTrainMerges(s, d)),
    "q118_event_transitions" -> ((s, d) => Analytics.eventTransitions(s, d)),
    "q119_hll_merge" -> ((s, d) => Sketches.hllMergeAudit(s, d)),
    "q120_data_card" -> ((s, d) => Analytics.dataCard(s, d)),
    "q121_ranking_eval" -> ((s, d) => AnnSearch.rankingEval(s, d)),
    "q122_containment_join" -> ((s, d) => DedupOps.containmentJoin(s, d)),
    "q123_multiprobe_lsh" -> ((s, d) => AnnSearch.multiProbeAudit(s, d)),
    "q124_drift_report" -> ((s, d) => Analytics.driftReport(s, d)),
    "q125_forget_users" -> ((s, d) => Relational.forgetUsers(s, d)),
    "q126_pit_join" -> ((s, d) => Relational.pointInTimeJoin(s, d)),
    "q127_ttl_dedup" -> ((s, d) => graft.streaming.TtlDedup.ttlDedupReplay(s, d)),
    "q128_orc_roundtrip" -> ((s, d) => sources.ColumnarRoundTrip.orcRoundTrip(s, d)),
    "q129_partitioned_scan" -> ((s, d) => sources.ColumnarRoundTrip.partitionedScan(s, d)),
    "q130_repetition" -> ((s, d) => TextAnalysis.repetitionRatios(s, d)),
    "q131_kmv_intersect" -> ((s, d) => Sketches.kmvIntersection(s, d)),
    "q132_compaction_plan" -> ((s, d) => Layout.compactionPlan(s, d)),
    "q133_fuzzy_contamination" -> ((s, d) => CorpusOps.fuzzyContamination(s, d)),
    "q134_tokenizer_fertility" -> ((s, d) => CorpusOps.tokenizerFertility(s, d)),
    "q135_url_host_stats" -> ((s, d) => TextAnalysis.urlHostStats(s, d)),
    "q136_matryoshka_audit" -> ((s, d) => AnnSearch.matryoshkaAudit(s, d)),
    "q137_bpe_encode" -> ((s, d) => TextAnalysis.bpeEncode(s, d)),
    "q138_dedup_sweep" -> ((s, d) => DedupOps.dedupThresholdSweep(s, d)),
    "q139_vacuum_plan" -> ((s, d) => Layout.vacuumPlan(s, d)),
    "q140_dup_runs" -> ((s, d) => DedupOps.duplicatedRuns(s, d)),
    "q141_crossmodal_eval" -> ((s, d) => Multimodal.crossModalEval(s, d)),
    "q142_quantile_merge" -> ((s, d) => Sketches.quantileMergeAudit(s, d)),
    "q143_ivf_delta" -> ((s, d) => AnnSearch.ivfDeltaAudit(s, d)),
    "q144_bpe_decode" -> ((s, d) => TextAnalysis.bpeDecodeAudit(s, d)),
    "q145_ccnet_buckets" -> ((s, d) => TextAnalysis.ccnetBuckets(s, d)),
    "q146_source_kl" -> ((s, d) => CorpusOps.sourceKlDrift(s, d)),
    "q147_dsir_weights" -> ((s, d) => CorpusOps.dsirWeights(s, d)),
    "q148_padding_sweep" -> ((s, d) => CorpusOps.paddingSweep(s, d)),
    "q149_cluster_histogram" -> ((s, d) => DedupOps.dedupClusterHistogram(s, d)),
    "q150_minhash_accuracy" -> ((s, d) => DedupOps.minhashAccuracyAudit(s, d)),
    "q151_quality_pr" -> ((s, d) => TextAnalysis.qualityPrCurve(s, d)),
    "q152_schema_evolution" -> ((s, d) => sources.ColumnarRoundTrip.schemaEvolutionScan(s, d)),
    "q153_dedup_rewrite" -> ((s, d) => DedupOps.dedupRewrite(s, d)),
    "q154_filter_pipeline" -> ((s, d) => TextAnalysis.filterPipeline(s, d)),
    "q155_token_budget" -> ((s, d) => CorpusOps.tokenBudgetPlan(s, d)),
    "q156_novelty_curve" -> ((s, d) => CorpusOps.noveltyCurve(s, d)),
    "q157_decontaminate" -> ((s, d) => CorpusOps.decontaminate(s, d)),
    "q158_embedding_health" -> ((s, d) => AnnSearch.embeddingHealth(s, d)),
    "q159_simhash_pairs" -> ((s, d) => DedupOps.simHashPairs(s, d)),
    "q160_detector_agreement" -> ((s, d) => DedupOps.detectorAgreement(s, d)),
    "q161_batch_novelty" -> ((s, d) => CorpusOps.batchNovelty(s, d)),
    "q162_pseudonymize" -> ((s, d) => Relational.pseudonymizeAudit(s, d)),
    "q163_ivf_probe_sweep" -> ((s, d) => AnnSearch.ivfProbeSweep(s, d)),
    "q164_cluster_budget" -> ((s, d) => CorpusOps.clusterBudgetPlan(s, d)),
    "q165_media_capstone" -> ((s, d) => Multimodal.mediaCorpusAudit(s, d)),
    "q166_curate_stream" -> ((s, d) =>
      graft.streaming.CuratePipeline.curateReplayBatch(s, d)),
    "q167_bm25_rank" -> ((s, d) => CorpusOps.bm25Rank(s, d)),
    "q168_quality_floor" -> ((s, d) => TextAnalysis.sourceQualityFloor(s, d)),
    "q169_source_overlap" -> ((s, d) => DedupOps.sourceOverlapMatrix(s, d)),
    "q170_cluster_silhouette" -> ((s, d) => AnnSearch.clusterSilhouette(s, d)),
    "q171_cluster_purity" -> ((s, d) => AnnSearch.clusterPurity(s, d)),
    "q172_hybrid_rrf" -> ((s, d) => CorpusOps.hybridRrf(s, d)),
    "q173_neardup_gate" -> ((s, d) =>
      graft.streaming.NearDupGate.replayBatch(s, d)),
    "q174_dedup_policy" -> ((s, d) => DedupOps.dedupPolicyReport(s, d)),
    "q175_setsim_keepers" -> ((s, d) => DedupOps.setSimJoinKeepers(s, d)),
    "q176_bitext_mine" -> ((s, d) => MiningOps.bitextMine(s, d)),
    "q177_posting_lists" -> ((s, d) => MiningOps.postingLists(s, d)),
    "q178_containment_keepers" -> ((s, d) => DedupOps.containmentJoinKeepers(s, d)),
    "q179_ivfpq_topk" -> ((s, d) => AnnSearch.ivfPqTopK(s, d)),
    "q180_engagement_curve" -> ((s, d) => Analytics.engagementCurve(s, d)),
    "q184_char_entropy" -> ((s, d) => TextAnalysis.charEntropy(s, d)),
    "q185_kcore" -> ((s, d) => Components.kCoreDocs(s, d)),
    "q186_export_manifest" -> ((s, d) => Layout.exportManifest(s, d)),
    "q187_session_cooccur" -> ((s, d) => Analytics.sessionCooccurrence(s, d)),
    "q188_lang_confusion" -> ((s, d) => TextAnalysis.langConfusion(s, d)),
    "q181_burst_detect" -> ((s, d) => Analytics.burstDetect(s, d)),
    "q182_preference_pairs" -> ((s, d) => TextAnalysis.preferencePairs(s, d)),
    "q183_kwic" -> ((s, d) => IngestPipelines.kwicConcordance(s, d, kwContains)),
    "q189_crawl_plan" -> ((s, d) => IngestPipelines.crawlPlan(s, d)),
    "q190_thread_trees" -> ((s, d) => Components.threadTrees(s, d)),
    "q191_mg_heavy_hitters" -> ((s, d) => Sketches.mgHeavyHitters(s, d)),
    "q192_pivot_roundtrip" -> ((s, d) => Relational.pivotRoundTrip(s, d)),
    "q193_revenue_rollup" -> ((s, d) => Relational.revenueRollup(s, d)),
    "q194_url_canonical" -> ((s, d) => TextAnalysis.urlCanonicalize(s, d)),
    "q195_stratified_split" -> ((s, d) => CorpusOps.stratifiedSplit(s, d)),
    "q196_decayed_trending" -> ((s, d) => Analytics.decayedTrending(s, d)),
    "q197_typo_link" -> ((s, d) => RecordLinkage.typoLink(s, d)),
    "q198_bot_signals" -> ((s, d) => Analytics.botSignals(s, d)),
    "q199_video_keyframes" -> ((s, d) => Multimodal.videoKeyframes(s, d)),
    "q200_pareto_frontier" -> ((s, d) => CorpusOps.paretoFrontier(s, d)),
    "q201_source_exemplars" -> ((s, d) => TextAnalysis.sourceExemplars(s, d)),
    "q202_robust_outliers" -> ((s, d) => Analytics.robustOutliers(s, d)),
    "q203_ring_churn" -> ((s, d) => Layout.ringChurn(s, d)),
    "q204_quantile_normalize" -> ((s, d) => TextAnalysis.quantileNormalize(s, d)),
    "q205_rolling_hll_wau" -> ((s, d) => Sketches.rollingHllWau(s, d)),
    "q206_personalized_pagerank" -> ((s, d) => Components.pprDocs(s, d)),
    "q207_multitouch_attribution" -> ((s, d) =>
      Analytics.multiTouchAttribution(s, d)),
    "q208_expectation_suite" -> ((s, d) => Profiler.expectationSuite(s, d)),
    "q209_hits" -> ((s, d) => Components.hitsDocs(s, d)),
    "q210_k_anonymity" -> ((s, d) => Profiler.kAnonymityAudit(s, d)),
    "q211_textrank_keywords" -> ((s, d) => MiningOps.textRankKeywords(s, d)),
    "q212_ab_test" -> ((s, d) => Analytics.abTestReport(s, d)),
    "q213_benford" -> ((s, d) => Profiler.benfordAudit(s, d)),
    "q214_phrase_search" -> ((s, d) => MiningOps.phraseSearch(s, d)),
    "q215_activity_streaks" -> ((s, d) => Analytics.activityStreaks(s, d)),
    "q216_zonemap_audit" -> ((s, d) => Layout.zoneMapAudit(s, d)),
    "q217_bfs_hops" -> ((s, d) => Components.bfsDocs(s, d)),
    "q218_loo_target_encode" -> ((s, d) => Analytics.looTargetEncode(s, d)),
    "q219_feature_hashing" -> ((s, d) => Analytics.featureHashing(s, d)),
    "q220_ewma_daily" -> ((s, d) => Analytics.ewmaDaily(s, d)),
    "q221_prf_expand" -> ((s, d) => CorpusOps.prfExpandRank(s, d)),
    "q222_contrastive_triplets" -> ((s, d) =>
      AnnSearch.contrastiveTriplets(s, d)),
    "q223_dataset_card" -> ((s, d) => Profiler.datasetCard(s, d)),
    "q224_funnel_latency" -> ((s, d) => Analytics.funnelLatency(s, d)),
    "q225_stickiness" -> ((s, d) => Analytics.stickinessGrid(s, d)),
    "q226_linear_score" -> ((s, d) => Analytics.linearScore(s, d)),
    "q227_modularity" -> ((s, d) => Components.modularityAudit(s, d)),
    "q228_path_mining" -> ((s, d) => Analytics.pathMining(s, d)),
    "q229_dedup_savings" -> ((s, d) => DedupOps.dedupSavings(s, d)),
    "q230_lateness_audit" -> ((s, d) => Analytics.latenessAudit(s, d)),
    "q231_join_card_audit" -> ((s, d) => Analytics.joinCardAudit(s, d)),
    "q232_rle_audit" -> ((s, d) => Layout.rleAudit(s, d)),
    "q233_stream_enrich" -> ((s, d) =>
      graft.streaming.StreamOps.enrichedSegmentReport(s, d)),
    "q234_winsorized_mean" -> ((s, d) => Analytics.winsorizedReport(s, d)),
    "q235_degree_histogram" -> ((s, d) => Components.degreeHistogram(s, d)),
    "q236_zorder_pruning" -> ((s, d) => Layout.zorderPruning(s, d)),
    "q237_fd_profile" -> ((s, d) => Profiler.fdProfile(s, d)),
    "q238_correlation_audit" -> ((s, d) => Profiler.correlationAudit(s, d)),
    "q239_bloom_sweep" -> ((s, d) =>
      graft.streaming.BloomGate.bloomSweep(s, d)),
    "q240_keeper_policies" -> ((s, d) => DedupOps.keeperPolicyReport(s, d)),
    "q241_negative_edges" -> ((s, d) => Components.negativeEdgeSamples(s, d)),
    "q242_term_drift" -> ((s, d) => TextAnalysis.termDrift(s, d)),
    "q243_message_passing" -> ((s, d) => Components.messagePassing(s, d)),
    "q244_coverage_matrix" -> ((s, d) => Profiler.coverageMatrix(s, d)),
    "q245_ushaped_attribution" -> ((s, d) =>
      Analytics.uShapedAttribution(s, d)),
    "q246_assortativity" -> ((s, d) => Components.assortativity(s, d)),
    "q247_gini" -> ((s, d) => Analytics.giniConcentration(s, d)),
    "q248_full_curate" -> ((s, d) =>
      graft.streaming.FullCurate.replayBatch(s, d)),
    "q249_curate_decisions" -> ((s, d) =>
      graft.streaming.FullCurate.decisionLog(s, d)),
    "q250_curate_funnel" -> ((s, d) =>
      graft.streaming.FullCurate.funnelReport(s, d)),
    "q251_vocab_growth" -> ((s, d) => TextAnalysis.vocabGrowth(s, d)),
    "q252_token_budget" -> ((s, d) => CorpusOps.tokenBudgetAllocation(s, d)),
    "q253_sft_pairs" -> ((s, d) => CorpusOps.sftPairs(s, d)),
    "q254_dup_clusters" -> ((s, d) => DedupOps.dupClusterReport(s, d)),
    "q255_vocab_drift" -> ((s, d) => TextAnalysis.vocabDrift(s, d)),
    "q256_domain_drift" -> ((s, d) => MiningOps.domainCentroidDrift(s, d)),
    "q257_sample_ladder" -> ((s, d) => CorpusOps.sampleLadder(s, d)),
    "q258_band_audit" -> ((s, d) => DedupOps.bandCollisionAudit(s, d)),
    "q259_pruned_index" -> ((s, d) => CorpusOps.prunedIndexAudit(s, d)),
    "q260_matched_holdout" -> ((s, d) => CorpusOps.matchedHoldout(s, d)),
    "q261_quote_flows" -> ((s, d) => DedupOps.quoteFlows(s, d)),
    "q262_poisson_bootstrap" -> ((s, d) => CorpusOps.poissonBootstrap(s, d)),
    "q263_fano_factor" -> ((s, d) => Analytics.arrivalOverdispersion(s, d)),
    "q264_positional_profile" -> ((s, d) => TextAnalysis.positionalProfile(s, d)),
    "q265_phase_funnel" -> ((s, d) =>
      graft.streaming.FullCurate.phaseFunnel(s, d)),
    "q266_bbit_minhash" -> ((s, d) => DedupOps.bbitMinhashAudit(s, d)),
    "q267_commonness_matrix" -> ((s, d) =>
      CorpusOps.commonnessQualityMatrix(s, d)),
    "q268_balanced_shards" -> ((s, d) => CorpusOps.balancedShards(s, d)),
    "q269_distinct_ngrams" -> ((s, d) =>
      TextAnalysis.distinctNgramDiversity(s, d)),
    "q270_zipf_slope" -> ((s, d) => TextAnalysis.zipfSlope(s, d)),
    "q271_quota_gate" -> ((s, d) =>
      graft.streaming.QuotaGate.quotaReplayBatch(s, d)),
    "q272_fragment_stitch" -> ((s, d) => DedupOps.fragmentStitch(s, d)),
    "q273_cluster_cohesion" -> ((s, d) => DedupOps.clusterCohesion(s, d)),
    "q274_subject_access" -> ((s, d) => Relational.subjectAccessReport(s, d)),
    "q275_winnow_matches" -> ((s, d) => DedupOps.winnowedMatches(s, d)),
    "q276_cdc_chunks" -> ((s, d) => DedupOps.cdcChunkDedup(s, d)),
    "q277_blocking_audit" -> ((s, d) => DedupOps.blockingAudit(s, d)),
    "q278_lsh_scurve" -> ((s, d) => DedupOps.lshScurveAudit(s, d)),
    "q279_incremental_cc" -> ((s, d) => Components.incrementalCc(s, d)),
    "q280_prototype_prune" -> ((s, d) => AnnSearch.prototypePrune(s, d)),
    "q281_louvain_moves" -> ((s, d) => Components.louvainMoveAudit(s, d)),
    "q282_ams_f2" -> ((s, d) => Sketches.amsF2(s, d)),
    "q283_kn_bigrams" -> ((s, d) => TextAnalysis.knBigramTable(s, d)),
    "q284_unimax_alloc" -> ((s, d) => CorpusOps.unimaxAllocation(s, d)),
    "q285_local_clustering" -> ((s, d) => Components.localClustering(s, d)),
    "q286_reciprocal_nn" -> ((s, d) =>
      AnnSearch.reciprocalNearestNeighbors(s, d)),
    "q287_randomized_response" -> ((s, d) =>
      Profiler.randomizedResponse(s, d)),
    "q288_kmv_anotb" -> ((s, d) => Sketches.kmvANotB(s, d)),
    "q289_good_turing" -> ((s, d) => TextAnalysis.goodTuring(s, d)),
    "q290_bcubed_eval" -> ((s, d) => DedupOps.bcubedEval(s, d)),
    "q291_conformal_gate" -> ((s, d) => TextAnalysis.conformalGate(s, d)),
    "q292_assortativity" -> ((s, d) =>
      Components.degreeAssortativity(s, d)),
    "q293_soft_dedup" -> ((s, d) => DedupOps.softDedupWeights(s, d)),
    "q294_medoid_keepers" -> ((s, d) => DedupOps.medoidKeepers(s, d)),
    "q295_padding_waste" -> ((s, d) => CorpusOps.paddingWasteTable(s, d)),
    "q296_dirichlet_ql" -> ((s, d) => CorpusOps.dirichletQlRank(s, d)),
    "q297_unigram_lm_train" -> ((s, d) => TextAnalysis.unigramLmTrain(s, d)),
    "q298_unigram_encode" -> ((s, d) =>
      TextAnalysis.unigramEncodeFertility(s, d)),
    "q299_contam_gate" -> ((s, d) =>
      graft.streaming.ContamGate.contamGateBatch(s, d)),
    "q300_weighted_jaccard" -> ((s, d) =>
      DedupOps.weightedJaccardRescore(s, d)),
    "q301_media_phash_classes" -> ((s, d) => Multimodal.phashClasses(s, d)),
    "q302_media_phash_pairs" -> ((s, d) => Multimodal.phashPairs(s, d)),
    "q303_video_phash_classes" -> ((s, d) =>
      Multimodal.videoPhashClasses(s, d)),
    "q304_video_phash_pairs" -> ((s, d) =>
      Multimodal.videoPhashPairs(s, d)),
    "q305_media_phash_gate" -> ((s, d) =>
      graft.streaming.MediaGate.replayBatch(s, d)),
    "q306_pair_media_consistency" -> ((s, d) =>
      Multimodal.pairedMediaConsistency(s, d)),
    "q307_video_phash_gate" -> ((s, d) =>
      graft.streaming.MediaGate.replayVideoBatch(s, d)),
    "q308_semantic_gate" -> ((s, d) =>
      graft.streaming.SemanticGate.replayBatch(s, d)),
    "q309_l_diversity" -> ((s, d) => Profiler.lDiversityAudit(s, d)),
    "q310_epoch_shuffle" -> ((s, d) => CorpusOps.epochShuffle(s, d)),
    "q311_bradley_terry" -> ((s, d) => Analytics.bradleyTerry(s, d)),
    "q312_fleiss_kappa" -> ((s, d) => Analytics.fleissKappa(s, d)),
    "q313_pass_at_k" -> ((s, d) => Analytics.passAtK(s, d)),
    "q314_krippendorff_alpha" -> ((s, d) =>
      Analytics.krippendorffAlpha(s, d)),
    "q315_brier_decomposition" -> ((s, d) =>
      TextAnalysis.brierDecomposition(s, d)),
    "q316_star_contraction" -> ((s, d) => Components.starClusters(s, d)),
    "q317_multimodal_curate" -> ((s, d) =>
      graft.streaming.MultiModalCurate.decisionLog(s, d)),
  )

  // ————— oracle SQL building blocks (DuckDB dialect) —————

  /** Whitespace tokens of lower(text), boundary empties removed — matches
    * TextFunctions.tokens, including its null→[] guard. */
  private val toksSql =
    "list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), t -> t <> '')"

  /** 32-bit md5-derived hash — matches TextFunctions.md5Hash32. */
  private def h32(c: String) = s"CAST('0x' || substr(md5($c), 1, 8) AS BIGINT)"

  /** Normalized-text fingerprint — matches TextFunctions.fingerprint
    * (DuckDB regexp_replace needs the 'g' flag; Spark replaces all). */
  private val fpSql = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  /** Index-ordered dot product of two list columns, double math — matches
    * VectorFunctions.dot. */
  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def normSql(a: String) =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  private def cosSql(a: String, b: String) =
    s"floor((${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))*1e4 + 0.5)/1e4"

  /** Integer-exact sign-LSH bucket — matches VectorFunctions.signLshBucket:
    * plane j (0-based), coordinate i (1-based) = ((i*(2j+3)) mod 101) - 50. */
  private def bucketSql(emb: String, bits: Int): String =
    (0 until bits).map { j =>
      s"(CASE WHEN list_sum(list_transform(range(1, len($emb)+1), " +
        s"i -> CAST($emb[i] AS DOUBLE) * (CAST((i*${2 * j + 3}) % 101 AS DOUBLE) - 50))) > 0 " +
        s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  /** The md5 + mod-prime MinHash+LSH pair chain (corpus → shingles → h32 →
    * 16-perm signature → 4-band slices → rank ≤ bandBlockCap A-side
    * registration → candidate join → match-fraction estimate), shared
    * verbatim by the q55 pair oracle and the q67 composed-pipeline oracle —
    * one source of truth for the hash family. The cap mirrors
    * `DedupOps.registeredBand` (round 9, sf10-motivated) and never binds
    * at driver SFs (max block 34 at sf0.1), so it is result-neutral
    * everywhere the oracle runs. */
  /** The md5-family MinHash CTE chain (signatures → bands → capped
    * candidates → est) over an arbitrary `(doc_id, text)` corpus SQL —
    * parameterized (round 10) so the composed q248 pipeline can band its
    * extended corpus with the IDENTICAL chain the q55 family audits.
    *
    * MATERIALIZED discipline (round 12): DuckDB INLINES plain CTEs, so a
    * CTE referenced k times is re-derived k times — and in the unrolled
    * graph oracles the edge relation is referenced once per round, which
    * re-ran this whole chain 5–6× and disk-killed every sf1 replay of
    * the CC family (the r11 q67 attempt spilled >70 GB). `sigl`,
    * `banded`, `est`, and every downstream `sym`/`prs`/`ed`/round CTE
    * with ≥2 references are now MATERIALIZED — result-identical, chain
    * computed once. */
  private def minHashCtesOver(corpusSql: String): String =
    s"""corpus AS (
       |  $corpusSql),
       |toks AS (SELECT doc_id, $toksSql AS tk FROM corpus),
       |shq AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
       |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
       |    FROM toks WHERE len(tk) >= 3) z),
       |h AS (SELECT doc_id, ${h32("sh")} AS h FROM shq),
       |sg AS (
       |  SELECT doc_id, p.p AS p,
       |    min(((2*p.p + 3) * h + (7*p.p + 1)) % 2147483647) AS v
       |  FROM h CROSS JOIN range(0, 16) p(p) GROUP BY doc_id, p.p),
       |sigl AS MATERIALIZED (SELECT doc_id, list(v ORDER BY p) AS s FROM sg GROUP BY doc_id),
       |banded AS MATERIALIZED (
       |  SELECT doc_id, b.b AS band, list_slice(s, b.b*4 + 1, b.b*4 + 4) AS bk
       |  FROM sigl CROSS JOIN range(0, 4) b(b)),
       |ranked AS (
       |  SELECT doc_id, band, bk,
       |    row_number() OVER (PARTITION BY band, bk ORDER BY doc_id) AS rk
       |  FROM banded),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM ranked x JOIN banded y
       |    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id
       |    AND x.rk <= ${DedupOps.bandBlockCap}),
       |est AS MATERIALIZED (
       |  SELECT c.a, c.b,
       |    floor((len(list_filter(range(1, 17), i -> sa.s[i] = sb.s[i])) / 16.0)*1e4 + 0.5)/1e4
       |      AS est_jaccard
       |  FROM cand c
       |  JOIN sigl sa ON sa.doc_id = c.a
       |  JOIN sigl sb ON sb.doc_id = c.b)""".stripMargin

  /** The chain over the standard doubled corpus — every pre-round-10
    * oracle's text is byte-identical to the former inline val. */
  private lazy val minHashCtesSql: String = minHashCtesOver(
    """SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents""".stripMargin)

  /** Unrolled connected-components rounds for the oracle side (round-11,
    * verdict ask #3). The former `WITH RECURSIVE reach(node, lbl)` CTE
    * materializes the full node×reachable-label relation — c² rows per
    * c-clique — which is exactly why the keeper-chain oracles could not
    * complete at sf1's ~10M-edge pair graphs (replica clusters of ~100
    * docs → 10⁴ rows each). Fixed-K unrolled min-label propagation keeps
    * ONE row per node per round; with the pointer-jumping term the label
    * horizon grows superlinearly in K, so K=5 covers component diameters
    * far beyond the corpus's duplicate clusters (near-cliques, diameter
    * ≤ 3; the q48 chain fixture, diameter 4, converges in 3 rounds).
    * `CcUnrollSpec` pins rounds-to-fixpoint ≤ lpRounds − 1 on the gate
    * corpora; the sf1 differential is the end-to-end proof. */
  val lpRounds = 5

  /** The unrolled min-label CTE chain: `lp0` = `seed` (must yield
    * `(node, lbl)`), each round takes the min over the node's own label,
    * its neighbours' labels in `sym` (`(src, dst)`, symmetric), and its
    * label's label (pointer jumping); ends at `out(node, outCol)` — the
    * drop-in replacement for the recursive `comp`. MATERIALIZED is
    * load-bearing, as in the q185/q206/q217 oracles: without it DuckDB
    * inlines each round into the next and re-derives the chain.
    *
    * Fixpoint guard (round 12): the unrolled form equals the recursive
    * fixpoint only if the graph converges within K rounds, and a
    * too-deep graph would otherwise UNDER-MERGE silently — the
    * differential would flag a hash mismatch, but misattributed to the
    * engine. So the final CTE compares lp{K} against lp{K-1} and raises
    * a targeted DuckDB `error()` if any label is still moving: oracle
    * non-convergence surfaces as its own named failure, never as a
    * plausible-but-wrong label set. */
  private def minLabelCtes(sym: String, seed: String,
                           out: String, outCol: String,
                           pfx: String = "lp"): String = {
    val rounds = (1 to lpRounds).map { i =>
      s"""$pfx$i AS MATERIALIZED (
         |  SELECT n.node,
         |    least(n.lbl, coalesce(min(m.lbl), n.lbl),
         |          coalesce(min(j.lbl), n.lbl)) AS lbl
         |  FROM $pfx${i - 1} n
         |  LEFT JOIN $sym s ON s.src = n.node
         |  LEFT JOIN $pfx${i - 1} m ON m.node = s.dst
         |  LEFT JOIN $pfx${i - 1} j ON j.node = n.lbl
         |  GROUP BY n.node, n.lbl)""".stripMargin
    }.mkString(",\n")
    s"""${pfx}0 AS MATERIALIZED ($seed),
       |$rounds,
       |${out}_conv AS (
       |  SELECT count(*) AS changed FROM $pfx$lpRounds a
       |  JOIN $pfx${lpRounds - 1} b ON a.node = b.node AND a.lbl <> b.lbl),
       |$out AS MATERIALIZED (
       |  SELECT node, CASE WHEN (SELECT changed FROM ${out}_conv) = 0
       |    THEN lbl ELSE error('cc oracle unconverged at K=$lpRounds')
       |  END AS $outCol FROM $pfx$lpRounds)""".stripMargin
  }

  /** The keeper-election form shared by the q67 chain (q67/q81/q90/q149/
    * q175/q178/q254/q261): min doc_id over each ≥0.5-estimated-Jaccard
    * component, one row per paired node, replacing the recursive `reach`. */
  private lazy val keeperCompCtes: String = minLabelCtes("sym",
    "SELECT DISTINCT src AS node, src AS lbl FROM sym", "comp", "keeper0")

  /** The SimHash banded-pair chain over the doubled corpus (q21's
    * fingerprint replay → 8-bit band keys → capped blocks → popcount
    * verification), shared by the q159 pair oracle and the q160
    * agreement oracle. Ends at CTE `shp` (a, b, hamming). */
  private lazy val simPairCtesSql: String = {
    import DedupOps.{simBands, simBandBits, simBlockCap, simHammingMax}
    s"""shtoks AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM (
       |    SELECT doc_id, text FROM documents
       |    UNION ALL SELECT doc_id + ${DedupOps.dupOffset}, text
       |    FROM documents) c),
       |shh AS (SELECT doc_id, ${h32("tok")} AS h FROM shtoks),
       |shbits AS (
       |  SELECT doc_id, b.i AS bit,
       |    CAST(sum(CASE WHEN (h >> CAST(b.i AS INTEGER)) & 1 = 1
       |      THEN 1 ELSE -1 END) AS BIGINT) AS s
       |  FROM shh, range(0, 32) b(i) GROUP BY doc_id, b.i),
       |sim AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN s > 0
       |      THEN CAST(1 AS BIGINT) << CAST(bit AS INTEGER)
       |      ELSE 0 END) AS BIGINT) AS sh
       |  FROM shbits GROUP BY doc_id),
       |shbanded AS (
       |  SELECT doc_id, sh,
       |    ((sh >> CAST(b.b * $simBandBits AS INTEGER))
       |      & ${(1L << simBandBits) - 1})
       |      + b.b * ${1L << simBandBits} AS bk
       |  FROM sim CROSS JOIN range(0, $simBands) b(b)),
       |shok AS (
       |  SELECT bk FROM shbanded GROUP BY bk
       |  HAVING count(*) <= $simBlockCap),
       |shblocks AS (
       |  SELECT k.doc_id, k.sh, k.bk FROM shbanded k JOIN shok USING (bk)),
       |shp AS (
       |  SELECT a, b, CAST(bit_count(x) AS BIGINT) AS hamming FROM (
       |    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |      xor(x.sh, y.sh) AS x
       |    FROM shblocks x JOIN shblocks y
       |      ON x.bk = y.bk AND x.doc_id < y.doc_id) z
       |  WHERE bit_count(x) <= $simHammingMax)""".stripMargin
  }

  /** The perceptual-fingerprint chain (q301/q302): corpus + brightness
    * twins (offset DERIVED as max(doc_id)+1, the q292 discipline) →
    * per-media dHash / audio energy-sign fingerprint replayed from the
    * generation laws (the engine computes the same bits through the
    * REAL codecs) → distinct-hash classes with keeper election. Ends at
    * CTEs `phf` (media_id, kind, phash) and `phcls` (kind, phash,
    * class_size, keeper_id). */
  private lazy val phashCtesSql: String = {
    import Multimodal.{phashDupMod, phashGrayShift, phashGrid, audioFpWindows}
    val gm = phashGrid     // 8: dHash grid
    val aw = audioFpWindows // 33: energy windows
    s"""phd AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
       |phoff AS (SELECT max(doc_id) + 1 AS o FROM phd),
       |phg AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(text), 1, 2) AS BIGINT) AS g
       |  FROM phd),
       |phm AS (
       |  SELECT doc_id AS base_id, doc_id AS media_id, 0 AS gs FROM phd
       |  UNION ALL
       |  SELECT doc_id, doc_id + (SELECT o FROM phoff), $phashGrayShift
       |  FROM phd WHERE doc_id % $phashDupMod = 0),
       |phf AS MATERIALIZED (
       |  SELECT media_id,
       |    CASE WHEN base_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       |    CAST(CASE WHEN base_id % 2 = 0 THEN
       |      coalesce(list_sum(flatten(list_transform(range(0, $gm), y ->
       |        list_transform(range(0, ${gm - 1}), x ->
       |          CASE WHEN (3*(((x+1)*(1 + base_id % 8))//$gm)
       |                     + 5*((y*(1 + base_id % 5))//$gm) + gg) % 256
       |                  > (3*((x*(1 + base_id % 8))//$gm)
       |                     + 5*((y*(1 + base_id % 5))//$gm) + gg) % 256
       |          THEN CAST(1 AS BIGINT) << CAST(y*${gm - 1} + x AS INTEGER)
       |          ELSE CAST(0 AS BIGINT) END)))), 0)
       |    ELSE
       |      coalesce(list_sum(list_transform(range(0, ${aw - 1}), wi ->
       |        CASE WHEN
       |          coalesce(list_sum(list_transform(
       |            range(((wi+1)*(16 + base_id % 32))//$aw,
       |                  ((wi+2)*(16 + base_id % 32))//$aw),
       |            i -> (7*i + gg) % 256)), 0)
       |          > coalesce(list_sum(list_transform(
       |            range((wi*(16 + base_id % 32))//$aw,
       |                  ((wi+1)*(16 + base_id % 32))//$aw),
       |            i -> (7*i + gg) % 256)), 0)
       |        THEN CAST(1 AS BIGINT) << CAST(wi AS INTEGER)
       |        ELSE CAST(0 AS BIGINT) END)), 0)
       |    END AS BIGINT) AS phash
       |  FROM (SELECT m0.base_id, m0.media_id, (g.g + m0.gs) % 256 AS gg
       |        FROM phm m0 JOIN phg g ON g.doc_id = m0.base_id) m),
       |phcls AS MATERIALIZED (
       |  SELECT kind, phash, CAST(count(*) AS BIGINT) AS class_size,
       |    min(media_id) AS keeper_id
       |  FROM phf GROUP BY kind, phash)""".stripMargin
  }

  /** The video scene-signature chain (q303/q304): corpus + brightness
    * twins (derived offset, q292 discipline) → per-frame byte sums from
    * the GVID generation laws → 33-window energy-sign fingerprint →
    * exact-hash classes with keeper election. Ends at CTEs `vhf`
    * (media_id, n_frames, vhash) and `vhcls` (vhash, class_size,
    * keeper_id). */
  private lazy val vhashCtesSql: String = {
    import Multimodal.{phashDupMod, phashGrayShift, audioFpWindows => aw}
    s"""vhd AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
       |vhoff AS (SELECT max(doc_id) + 1 AS o FROM vhd),
       |vhg AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(text), 1, 2) AS BIGINT) AS g
       |  FROM vhd),
       |vhm AS (
       |  SELECT doc_id AS base_id, doc_id AS media_id, 0 AS gs FROM vhd
       |  UNION ALL
       |  SELECT doc_id, doc_id + (SELECT o FROM vhoff), $phashGrayShift
       |  FROM vhd WHERE doc_id % $phashDupMod = 0),
       |vhs AS MATERIALIZED (
       |  SELECT media_id, n,
       |    list_transform(range(0, n), f ->
       |      list_sum(list_transform(range(0, l), i ->
       |        (3*i + 17*(f//s) + gg) % 256))) AS fs
       |  FROM (SELECT m0.media_id, (g.g + m0.gs) % 256 AS gg,
       |          12 + m0.base_id % 9 AS l, 24 + m0.base_id % 24 AS n,
       |          6 + m0.base_id % 5 AS s
       |        FROM vhm m0 JOIN vhg g ON g.doc_id = m0.base_id) d),
       |vhf AS MATERIALIZED (
       |  SELECT media_id, n AS n_frames,
       |    CAST(coalesce(list_sum(list_transform(range(0, ${aw - 1}), wi ->
       |      CASE WHEN
       |        coalesce(list_sum(fs[CAST((wi+1)*n//$aw AS INTEGER) + 1 :
       |                             CAST((wi+2)*n//$aw AS INTEGER)]), 0)
       |        > coalesce(list_sum(fs[CAST(wi*n//$aw AS INTEGER) + 1 :
       |                               CAST((wi+1)*n//$aw AS INTEGER)]), 0)
       |      THEN CAST(1 AS BIGINT) << CAST(wi AS INTEGER)
       |      ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS vhash
       |  FROM vhs),
       |vhcls AS MATERIALIZED (
       |  SELECT vhash, CAST(count(*) AS BIGINT) AS class_size,
       |    min(media_id) AS keeper_id
       |  FROM vhf GROUP BY vhash)""".stripMargin
  }

  /** The BPE training chain (corpus → word-frequency dictionary →
    * char-spaced symbol strings → per-round top-pair + leftmost
    * non-overlapping `replace` merge), shared verbatim by the q117
    * trainer oracle and the q137 encoder oracle — one source of truth
    * for the merge table. Exposes CTEs `w0` (all corpus words), `t0..t{R-1}`
    * (per-round merges) and `v1..vR` (vocab sizes). */
  private lazy val bpeTrainCtesSql: String = {
    val rounds = (0 until TextAnalysis.bpeTrainRounds).map { i =>
      s"""p$i AS (
         |  SELECT pr.a AS a, pr.b AS b, CAST(sum(c) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT c, unnest(list_transform(range(1, len(sy)),
         |      i -> {'a': sy[i], 'b': sy[i+1]})) AS pr
         |    FROM (SELECT string_split(trim(s), ' ') AS sy, c
         |          FROM s$i) q) z
         |  GROUP BY 1, 2),
         |t$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |s${i + 1} AS (
         |  SELECT replace(s, ' ' || t.a || ' ' || t.b || ' ',
         |    ' ' || t.a || t.b || ' ') AS s, c
         |  FROM s$i CROSS JOIN t$i t),
         |v${i + 1} AS (
         |  SELECT CAST(count(DISTINCT sym) AS BIGINT) AS vocab FROM (
         |    SELECT unnest(string_split(trim(s), ' ')) AS sym
         |    FROM s${i + 1}) z)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (SELECT unnest($toksSql) AS w FROM documents),
       |wc AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c
       |  FROM w0 WHERE length(w) >= 2 GROUP BY w),
       |s0 AS (
       |  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s, c
       |  FROM wc),
       |$rounds""".stripMargin
  }

  /** The 2-iteration integer-exact Lloyd's training chain (embeddings on
    * the e3 grid → assign → mean → assign → mean), shared by the q69
    * codebook oracle and the q82 semantic-dedup oracle — one source of
    * truth for the trained clustering. Ends at CTE `m2` (per-list per-dim
    * integer sums + member counts after the second M-step). */
  private lazy val ivfTrainCtesSql: String =
    """eq AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS e
      |  FROM embeddings),
      |cb0 AS (SELECT vec_id + 1 AS c, e AS s, CAST(1 AS BIGINT) AS n
      |        FROM eq WHERE vec_id < 16),
      |s1 AS (
      |  SELECT q.vec_id, cb.c,
      |    CAST(list_sum(list_transform(range(1, len(q.e)+1),
      |      i -> q.e[i]*cb.s[i])) AS DOUBLE) / CAST(cb.n AS DOUBLE) AS score
      |  FROM eq q CROSS JOIN cb0 cb),
      |a1 AS (
      |  SELECT vec_id, c AS list_id FROM (
      |    SELECT vec_id, c,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) AS rn
      |    FROM s1) z WHERE rn = 1),
      |ex1 AS (
      |  SELECT a.list_id, unnest(q.e) AS v, unnest(range(1, len(q.e)+1)) AS dim
      |  FROM a1 a JOIN eq q USING (vec_id)),
      |m1 AS (
      |  SELECT list_id, dim, CAST(sum(v) AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM ex1 GROUP BY 1, 2),
      |cb1 AS (
      |  SELECT list_id AS c, list(s ORDER BY dim) AS s, min(n) AS n
      |  FROM m1 GROUP BY list_id
      |  UNION ALL
      |  SELECT c, s, n FROM cb0
      |  WHERE c NOT IN (SELECT DISTINCT list_id FROM m1)),
      |s2 AS (
      |  SELECT q.vec_id, cb.c,
      |    CAST(list_sum(list_transform(range(1, len(q.e)+1),
      |      i -> q.e[i]*cb.s[i])) AS DOUBLE) / CAST(cb.n AS DOUBLE) AS score
      |  FROM eq q CROSS JOIN cb1 cb),
      |a2 AS (
      |  SELECT vec_id, c AS list_id FROM (
      |    SELECT vec_id, c,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) AS rn
      |    FROM s2) z WHERE rn = 1),
      |ex2 AS (
      |  SELECT a.list_id, unnest(q.e) AS v, unnest(range(1, len(q.e)+1)) AS dim
      |  FROM a2 a JOIN eq q USING (vec_id)),
      |m2 AS (
      |  SELECT list_id, dim, CAST(sum(v) AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM ex2 GROUP BY 1, 2)""".stripMargin

  /** Product-quantization training chain (e3-grid subvectors → first-16
    * seed → one Lloyd update per subspace), shared by the q85 encode and
    * q86 ADC oracles. Ends at `sv` (subvectors), `cb1` (trained
    * codebook), `sc2` (per-(vec, sub, candidate) scores + err2). */
  private lazy val pqCtesSql: String =
    """eq AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS e
      |  FROM embeddings),
      |sv AS (
      |  SELECT vec_id, s.s AS sub, list_slice(e, s.s*8 + 1, s.s*8 + 8) AS se
      |  FROM eq CROSS JOIN range(0, 8) s(s)),
      |cb0 AS (SELECT sub, vec_id + 1 AS c, se AS s, CAST(1 AS BIGINT) AS n
      |        FROM sv WHERE vec_id < 16),
      |sc1 AS (
      |  SELECT v.vec_id, v.sub, cb.c,
      |    CAST(list_sum(list_transform(cb.s, x -> x*x)) AS DOUBLE)
      |      / CAST(cb.n*cb.n AS DOUBLE)
      |    - CAST(2*list_sum(list_transform(range(1, 9),
      |        i -> v.se[i]*cb.s[i])) AS DOUBLE) / CAST(cb.n AS DOUBLE)
      |      AS score
      |  FROM sv v JOIN cb0 cb ON cb.sub = v.sub),
      |a1 AS (
      |  SELECT vec_id, sub, c AS code FROM (
      |    SELECT vec_id, sub, c,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY score, c) AS rn
      |    FROM sc1) z WHERE rn = 1),
      |ex1 AS (
      |  SELECT a.sub, a.code AS c, unnest(v.se) AS val,
      |    unnest(range(1, 9)) AS dim
      |  FROM a1 a JOIN sv v ON v.vec_id = a.vec_id AND v.sub = a.sub),
      |m1 AS (
      |  SELECT sub, c, dim, CAST(sum(val) AS BIGINT) AS sd_sum,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM ex1 GROUP BY 1, 2, 3),
      |cb1 AS (
      |  SELECT sub, c, list(sd_sum ORDER BY dim) AS s, min(cnt) AS n
      |  FROM m1 GROUP BY sub, c),
      |sc2 AS (
      |  SELECT v.vec_id, v.sub, cb.c,
      |    CAST(list_sum(list_transform(cb.s, x -> x*x)) AS DOUBLE)
      |      / CAST(cb.n*cb.n AS DOUBLE)
      |    - CAST(2*list_sum(list_transform(range(1, 9),
      |        i -> v.se[i]*cb.s[i])) AS DOUBLE) / CAST(cb.n AS DOUBLE)
      |      AS score,
      |    list_sum(list_transform(
      |      list_transform(range(1, 9),
      |        i -> CAST(v.se[i] AS DOUBLE)
      |          - CAST(cb.s[i] AS DOUBLE) / CAST(cb.n AS DOUBLE)),
      |      x -> x*x)) AS err2
      |  FROM sv v JOIN cb1 cb ON cb.sub = v.sub)""".stripMargin

  private val germanMonthCase =
    "CASE month(o_orderdate) WHEN 1 THEN 'Januar' WHEN 2 THEN 'Februar' " +
      "WHEN 3 THEN 'März' WHEN 4 THEN 'April' WHEN 5 THEN 'Mai' WHEN 6 THEN 'Juni' " +
      "WHEN 7 THEN 'Juli' WHEN 8 THEN 'August' WHEN 9 THEN 'September' " +
      "WHEN 10 THEN 'Oktober' WHEN 11 THEN 'November' WHEN 12 THEN 'Dezember' END"

  def oracleSql: Map[String, String] = Map(
    "q01_reddit_filter" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  floor((value)*1e2 + 0.5)/1e2 AS value
        |FROM events
        |WHERE lower(event_type) IN ('click','view','purchase')
        |  AND value > 50.0
        |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 10
        |ORDER BY event_id""".stripMargin,

    "q02_keyword_filter" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lower(text) LIKE '%spark%' OR lower(text) LIKE '%window%'
        |   OR lower(text) LIKE '%stream%'
        |ORDER BY doc_id""".stripMargin,

    "q03_regex_keyword" ->
      """SELECT lang, count(*) AS n_docs FROM documents
        |WHERE regexp_matches(text, '(?i)\b(merge-join|merge join|vector|batch)\b')
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q04_terms_extract" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(text), '\b(spark|vector|window)\b', 1) AS terms
        |  FROM documents)
        |SELECT doc_id, array_to_string(terms, ',') AS terms_csv,
        |  CAST(len(terms) AS BIGINT) AS n_terms
        |FROM t WHERE len(terms) > 0 ORDER BY doc_id""".stripMargin,

    "q05_date_range" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
        |                      AND TIMESTAMP '1998-12-31 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q06_string_predicates" ->
      """SELECT p_partkey, p_name, p_brand, p_type FROM part
        |WHERE regexp_matches(lower(p_type), '(economy|promo)$')
        |   OR contains(p_name, 'widget')
        |ORDER BY p_partkey""".stripMargin,

    "q07_union_dedup" ->
      """WITH u AS (
        |  SELECT * FROM documents WHERE lang = 'de'
        |  UNION ALL
        |  SELECT * FROM documents WHERE lang = 'es')
        |SELECT min(doc_id) AS doc_id, md5(lower(trim(text))) AS text_key,
        |  count(*) AS n_copies
        |FROM u
        |WHERE text IS NOT NULL AND length(trim(text)) > 0
        |GROUP BY md5(lower(trim(text)))
        |ORDER BY doc_id""".stripMargin,

    "q08_last_wins" ->
      """SELECT user_id, event_type, floor((value)*1e2 + 0.5)/1e2 AS value FROM (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q09_conditional_counts" ->
      """SELECT event_type, count(*) AS total,
        |  CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS matched,
        |  CAST(sum(CASE WHEN value <= 0.0 OR value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q10_distinct_types" ->
      "SELECT DISTINCT lower(event_type) AS event_type FROM events ORDER BY event_type",

    "q11_date_format_kit" ->
      s"""SELECT o_orderkey,
         |  strftime(o_orderdate, '%d.%m.%Y') AS dotted,
         |  regexp_replace(strftime(o_orderdate, '%d.%m.%Y'),
         |    '(\\d{2})\\.(\\d{2})\\.(\\d{4})', '\\3-\\2-\\1') AS iso,
         |  lpad(CAST(day(o_orderdate) AS VARCHAR), 2, '0') || '. ' ||
         |    $germanMonthCase || ' ' ||
         |    CAST(year(o_orderdate) AS VARCHAR) AS german
         |FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""".stripMargin,

    "q12_orders_customer" ->
      """SELECT o_orderkey, c_name, c_mktsegment, floor((o_totalprice)*1e2 + 0.5)/1e2 AS o_totalprice
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q13_customers_without_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 350000.0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // 1e4-unit integer quantization (floor(x·1e4+0.5)) instead of a
    // double→DECIMAL cast: the cast's half-rounding differs between the
    // engines on representable halves; floor of a correctly-rounded
    // product cannot
    "q14_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity * 10000 + 0.5) AS HUGEINT))
        |    AS DOUBLE) / 1e4 AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS HUGEINT))
        |    AS DOUBLE) / 1e4 AS sum_base_price,
        |  CAST(sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS HUGEINT) *
        |    (10000 - CAST(floor(l_discount * 10000 + 0.5) AS HUGEINT)))
        |    AS DOUBLE) / 1e8 AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q15_revenue_by_nation" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS HUGEINT) *
        |    (10000 - CAST(floor(l_discount * 10000 + 0.5) AS HUGEINT)))
        |    AS DOUBLE) / 1e8 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q16_top_orders_per_customer" ->
      """SELECT o_custkey, rk, o_orderkey, floor((o_totalprice)*1e2 + 0.5)/1e2 AS o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
        |  FROM orders) t
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q17_hourly_counts" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 10000 + 0.5) AS HUGEINT)) AS DOUBLE)
        |    / 1e4 AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "q18_exact_dedup" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents)
         |SELECT min(doc_id) AS keep_doc_id, $fpSql AS fp, count(*) AS n_copies
         |FROM corpus
         |GROUP BY $fpSql HAVING count(*) > 1
         |ORDER BY keep_doc_id""".stripMargin,

    // the md5 + mod-prime MinHash family, coordinate-for-coordinate:
    // banding, candidate join on raw signature slices, match-fraction
    // verification — the oracle twin of the banding OPERATOR
    "q55_minhash_oracled" ->
      s"""WITH $minHashCtesSql
         |SELECT a, b, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5 ORDER BY a, b""".stripMargin,

    "q20_ngram_jaccard" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents),
         |toks AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
         |    FROM toks WHERE len(tk) >= 3) z),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |bk AS (SELECT doc_id, min(md5(sh)) AS bk FROM sh GROUP BY doc_id),
         |blocks AS (
         |  SELECT * FROM (
         |    SELECT doc_id, bk, count(*) OVER (PARTITION BY bk) AS bsz FROM bk) b
         |  WHERE bsz <= $blockCap),
         |cand AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b FROM blocks x
         |  JOIN blocks y ON x.bk = y.bk AND x.doc_id < y.doc_id),
         |inter AS (
         |  SELECT a, b, count(*) AS n_inter FROM cand
         |  JOIN sh sa ON sa.doc_id = a
         |  JOIN sh sb ON sb.doc_id = b AND sb.sh = sa.sh
         |  GROUP BY a, b)
         |SELECT a, b, n_inter, jaccard FROM (
         |  SELECT a, b, n_inter,
         |    floor((CAST(n_inter AS DOUBLE) /
         |      CAST(za.n_sh + zb.n_sh - n_inter AS DOUBLE))*1e4 + 0.5)/1e4 AS jaccard
         |  FROM inter
         |  JOIN sizes za ON za.doc_id = a
         |  JOIN sizes zb ON zb.doc_id = b) j
         |WHERE jaccard >= 0.6 ORDER BY a, b""".stripMargin,

    "q21_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |h AS (SELECT doc_id, ${h32("tok")} AS h FROM toks),
         |bits AS (
         |  SELECT doc_id, b.i AS bit,
         |    CAST(sum(CASE WHEN (h >> CAST(b.i AS INTEGER)) & 1 = 1
         |      THEN 1 ELSE -1 END) AS BIGINT) AS s
         |  FROM h, range(0, 32) b(i) GROUP BY doc_id, b.i)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN s > 0
         |    THEN CAST(1 AS BIGINT) << CAST(bit AS INTEGER)
         |    ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q22_ann_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, ${cosSql("e.embedding", "q.qe")} AS cos_sim
         |FROM embeddings e, q
         |WHERE e.vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "q23_ann_lsh_topk" ->
      s"""WITH b AS (
         |  SELECT vec_id, label, embedding,
         |    ${bucketSql("embedding", 4)} AS bucket
         |  FROM embeddings),
         |q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, e.bucket, ${cosSql("e.embedding", "q.qe")} AS cos_sim
         |FROM b e, q
         |WHERE e.vec_id <> 0 AND e.bucket = q.qb
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "q35_ann_ivf_topk" ->
      s"""WITH cents AS (
         |  SELECT list(list_transform(embedding, x -> CAST(x AS DOUBLE))
         |    ORDER BY vec_id) AS cs
         |  FROM embeddings WHERE vec_id < 16),
         |a AS (
         |  SELECT vec_id, label, embedding,
         |    list_transform(cs, c -> list_sum(list_transform(
         |      range(1, len(embedding)+1),
         |      i -> CAST(embedding[i] AS DOUBLE) * c[i]))) AS dots
         |  FROM embeddings, cents),
         |asg AS (
         |  SELECT vec_id, label, embedding, dots,
         |    CAST(list_indexof(dots, list_max(dots)) AS BIGINT) AS list_id
         |  FROM a),
         |q AS (
         |  SELECT embedding AS qe,
         |    list_filter(range(1, len(dots)+1),
         |      i -> dots[i] >= (list_sort(dots))[len(dots) - 4 + 1]) AS probe_lists
         |  FROM asg WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, e.list_id, ${cosSql("e.embedding", "q.qe")} AS cos_sim
         |FROM asg e, q
         |WHERE e.vec_id <> 0 AND list_contains(q.probe_lists, e.list_id)
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "q24_embedding_neardup" ->
      s"""WITH c AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
         |b AS (SELECT vec_id, embedding, ${bucketSql("embedding", 16)} AS bucket FROM c),
         |capped AS (
         |  SELECT * FROM (
         |    SELECT vec_id, embedding, bucket,
         |      count(*) OVER (PARTITION BY bucket) AS bsz FROM b) z
         |  WHERE bsz <= $blockCap)
         |SELECT a, b, cos_sim FROM (
         |  SELECT x.vec_id AS a, y.vec_id AS b,
         |    ${cosSql("x.embedding", "y.embedding")} AS cos_sim
         |  FROM capped x JOIN capped y
         |    ON x.bucket = y.bucket AND x.vec_id < y.vec_id) p
         |WHERE cos_sim >= 0.95 ORDER BY a, b""".stripMargin,

    "q25_lang_id" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
         |c AS (
         |  SELECT doc_id, lang, len(tk) AS n,
         |    len(list_filter(tk, x -> x IN ('the','a','of'))) AS en,
         |    len(list_filter(tk, x -> x IN ('spark','query','vector'))) AS tech,
         |    len(list_filter(tk, x -> x IN ('table','row','column'))) AS dat
         |  FROM t)
         |SELECT doc_id, lang,
         |  CASE WHEN n = 0 THEN 'unknown'
         |       WHEN en >= tech AND en >= dat THEN 'en_like'
         |       WHEN tech >= dat THEN 'tech_like'
         |       ELSE 'data_like' END AS predicted
         |FROM c ORDER BY doc_id""".stripMargin,

    "q26_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(length(text) - length(regexp_replace(text, '[\\p{P}\\p{S}]', '', 'g')) AS BIGINT) AS n_punct,
         |    CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS n_stop
         |  FROM t)
         |SELECT doc_id, n_tokens, n_punct, n_stop,
         |  floor((CASE WHEN n_tokens = 0 THEN 0.0
         |    ELSE least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.6 +
         |         (CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 0.4
         |    END)*1e4 + 0.5)/1e4 AS quality
         |FROM c ORDER BY doc_id""".stripMargin,

    "q27_token_counts" ->
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS ws_tokens,
         |  CAST(len(list_filter(regexp_extract_all(text,
         |    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'), t -> t <> '')) AS BIGINT) AS bpe_ish_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q28_term_frequency" ->
      s"""SELECT tok AS token, count(*) AS freq FROM (
         |  SELECT unnest($toksSql) AS tok FROM documents) t
         |GROUP BY tok ORDER BY freq DESC, token LIMIT 20""".stripMargin,

    "q29_fingerprints" ->
      s"""SELECT doc_id, lang, $fpSql AS fp,
         |  ${h32(fpSql)} AS fp32
         |FROM documents ORDER BY doc_id""".stripMargin,

    // the oracle recomputes the DECODED features from the generation laws
    // (image: w = 1+id%8, h = 1+id%5, g = first md5 byte, pixel =
    // (3x+5y+g) mod 256; audio: n = 16+id%32, rate 8000, sample =
    // (7i+g) mod 256) — the Spark side must encode a real PNG / real WAV
    // and codec-decode it back to hit these numbers
    "q30_multimodal_decode" ->
      """WITH m AS (SELECT doc_id,
        |  CAST('0x' || substr(md5(coalesce(text, '')), 1, 2) AS BIGINT) AS g
        |  FROM documents),
        |img AS (
        |  SELECT doc_id, 1 + doc_id % 8 AS w, 1 + doc_id % 5 AS h, g
        |  FROM m WHERE doc_id % 2 = 0),
        |aud AS (
        |  SELECT doc_id, 16 + doc_id % 32 AS n, g
        |  FROM m WHERE doc_id % 2 = 1)
        |SELECT m.doc_id AS media_id,
        |  CASE WHEN m.doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |  coalesce(i.w, -1) AS width, coalesce(i.h, -1) AS height,
        |  CAST(coalesce(list_sum(list_transform(range(0, i.h), y ->
        |    list_sum(list_transform(range(0, i.w), x ->
        |      (3*x + 5*y + i.g) % 256)))), -1) AS BIGINT) AS pixel_sum,
        |  coalesce(a.n, -1) AS n_frames,
        |  CAST(CASE WHEN m.doc_id % 2 = 1 THEN 8000 ELSE -1 END AS BIGINT)
        |    AS sample_rate,
        |  CAST(coalesce(list_sum(list_transform(range(0, a.n), i ->
        |    (7*i + a.g) % 256)), -1) AS BIGINT) AS sample_sum
        |FROM m LEFT JOIN img i ON i.doc_id = m.doc_id
        |     LEFT JOIN aud a ON a.doc_id = m.doc_id
        |ORDER BY media_id""".stripMargin,

    "q31_html_articles" ->
      """SELECT CAST(doc_id // 3 AS BIGINT) AS page_id,
        |  lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '.' ||
        |    lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '.2023' AS source_date,
        |  '2023-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
        |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS iso_date,
        |  'doc_' || CAST(doc_id AS VARCHAR) AS title,
        |  CAST(length(trim(coalesce(text, ''))) AS BIGINT) AS body_len
        |FROM documents ORDER BY page_id, title""".stripMargin,

    "q32_paged_api" ->
      """SELECT event_id, user_id, event_type, floor((value)*1e2 + 0.5)/1e2 AS value,
        |  CAST(event_id // 100 AS BIGINT) AS page_id,
        |  CASE WHEN event_id // 100 < (SELECT max(event_id // 100) FROM events)
        |    THEN CAST(event_id // 100 + 1 AS VARCHAR) END AS next_token,
        |  min(event_id) OVER (PARTITION BY event_id // 100) AS first_in_page
        |FROM events ORDER BY event_id""".stripMargin,

    // round trip through zstd NDJSON must reproduce the parquet rows
    "q33_zst_ndjson" ->
      """SELECT event_id, user_id, event_type, floor((value)*1e2 + 0.5)/1e2 AS value
        |FROM events ORDER BY event_id""".stripMargin,

    // the url/fetch_url pair mirrors the reference's .jpg rewrite for
    // extension-less image URLs (reddit_image_scraper.py:30): even ids
    // are direct .png URLs (kept), odd ids are page URLs (repaired)
    "q34_binary_sink" ->
      """WITH u AS (
        |  SELECT doc_id, text,
        |    'https://i.imgur.com/d' || CAST(doc_id AS VARCHAR) ||
        |      (CASE WHEN doc_id % 2 = 0 THEN '.png' ELSE '' END) AS url
        |  FROM documents)
        |SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS name,
        |  url,
        |  CASE WHEN lower(url) LIKE '%jpg' OR lower(url) LIKE '%jpeg'
        |         OR lower(url) LIKE '%png' OR lower(url) LIKE '%gif'
        |    THEN url ELSE url || '.jpg' END AS fetch_url,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  true AS ok, CAST(1 AS BIGINT) AS attempts
        |FROM u ORDER BY name""".stripMargin,

    // gaps-and-islands mirror of session_window: new session when the gap
    // to the previous event is >= 30 min (Spark sessions are half-open);
    // session end = last event + gap
    "q36_sessionization" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // running-mean anomaly flag in 1e-4 fixed point (integer compare —
    // v4*n > 3*sum4 — so Spark state fold and SQL window agree exactly)
    "q37_anomaly_state" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4,
        |    date_trunc('microseconds', ts) AS ts
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, value, v4,
        |    count(*) OVER win AS pc, sum(v4) OVER win AS ps
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, floor((value)*1e2 + 0.5)/1e2 AS value
        |FROM w WHERE pc >= 3 AND v4 * pc > 3 * ps
        |ORDER BY event_id""".stripMargin,

    // fixed-size frame fan-out over the DECODED PCM stream: the laws give
    // n samples = 16+id%32 and sample(i) = (7i+g) mod 256, so per-frame
    // lengths and sums are closed-form — a wrong WAV parse breaks them
    "q39_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, 16 + doc_id % 32 AS n,
        |    CAST('0x' || substr(md5(coalesce(text, '')), 1, 2) AS BIGINT) AS g
        |  FROM documents WHERE doc_id % 2 = 1),
        |u AS (
        |  SELECT media_id, n, g,
        |    unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT))) AS frame_no
        |  FROM m)
        |SELECT media_id, 'audio' AS kind, frame_no,
        |  CAST(least(16, n - frame_no * 16) AS BIGINT) AS frame_len,
        |  CAST(list_sum(list_transform(
        |    range(frame_no * 16, least(n, (frame_no + 1) * 16)),
        |    i -> (7*i + g) % 256)) AS BIGINT) AS frame_sum
        |FROM u ORDER BY media_id, frame_no""".stripMargin,

    "q44_suppliers_by_nation" ->
      """SELECT n_name, count(*) AS n_suppliers,
        |  CAST(sum(CAST(floor(s_acctbal * 10000 + 0.5) AS HUGEINT)) AS DOUBLE)
        |    / 1e4 AS total_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // every parsed field is reconstructible from documents alone
    "q43_media_corpus" ->
      """SELECT
        |  CASE WHEN doc_id % 2 = 0 THEN 'en_outlet' ELSE 'de_outlet' END AS media,
        |  CASE WHEN doc_id % 2 = 0 THEN 'en_' ELSE 'de_' END
        |    || CAST(doc_id AS VARCHAR) AS id,
        |  'doc_' || CAST(doc_id AS VARCHAR) AS title,
        |  '2023-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
        |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS iso_date,
        |  CASE WHEN doc_id % 3 = 0
        |    THEN 'author_' || CAST(doc_id AS VARCHAR) ELSE '' END AS author,
        |  CASE WHEN doc_id % 3 = 0 THEN ''
        |       WHEN doc_id % 3 = 1 THEN 'term_' || CAST(doc_id % 5 AS VARCHAR)
        |       ELSE 'term_' || CAST(doc_id % 5 AS VARCHAR) || ',term_'
        |         || CAST((doc_id + 1) % 5 AS VARCHAR) END AS terms_csv,
        |  CAST(doc_id % 3 AS BIGINT) AS n_terms,
        |  CAST(length(trim(coalesce(text, ''))) AS BIGINT) AS body_len
        |FROM documents ORDER BY id""".stripMargin,

    // NaN policy mirrored from batchTopK: zero-norm vectors score NaN =
    // unscorable, excluded before ranking (NaN otherwise sorts FIRST under
    // ORDER BY DESC in both engines, diverging from TopKAgg's NaN-last)
    "q42_ann_batch_topk" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |s AS (
         |  SELECT q.q_id, e.vec_id, ${cosSql("e.embedding", "q.qe")} AS cos_sim
         |  FROM embeddings e, q WHERE e.vec_id >= 5),
         |r AS (
         |  SELECT q_id, vec_id, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rk
         |  FROM s WHERE NOT isnan(cos_sim))
         |SELECT q_id, rk, vec_id, cos_sim FROM r WHERE rk <= 5
         |ORDER BY q_id, rk""".stripMargin,

    // resize invariants are derivable from the source bytes alone
    // real nearest-neighbor downsample by 2: resized pixel (x,y) samples
    // source (2x,2y), so resized_sum has the closed form below; png_ok
    // TRUE asserts the re-encode→decode roundtrip actually ran
    "q41_media_resize" ->
      """WITH law AS (
        |  SELECT doc_id, 1 + doc_id % 8 AS w, 1 + doc_id % 5 AS h,
        |    CAST('0x' || substr(md5(coalesce(text, '')), 1, 2) AS BIGINT) AS g
        |  FROM documents WHERE doc_id % 2 = 0)
        |SELECT doc_id AS media_id, w AS width, h AS height,
        |  (w + 1) // 2 AS resized_w, (h + 1) // 2 AS resized_h,
        |  CAST(list_sum(list_transform(range(0, (h + 1) // 2), y ->
        |    list_sum(list_transform(range(0, (w + 1) // 2), x ->
        |      (6*x + 10*y + g) % 256)))) AS BIGINT) AS resized_sum,
        |  true AS png_ok
        |FROM law ORDER BY media_id""".stripMargin,

    // the automaton's semantics are exactly an any-contains disjunction
    "q40_multi_keyword" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE ${kwWide.map(k => s"lower(text) LIKE '%$k%'").mkString("\n   OR ")}
         |ORDER BY doc_id""".stripMargin,

    // the two copies collide ONLY after the URL strip (different tracking
    // URL per copy) — the regexp_replace composition is what's under test
    "q45_url_strip_dedup" ->
      """WITH c AS (
        |  SELECT doc_id, source AS title,
        |    coalesce(text, '') || ' see https://a.example/'
        |      || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, source,
        |    coalesce(text, '') || ' see https://b.example/'
        |      || CAST(doc_id AS VARCHAR)
        |  FROM documents),
        |k AS (
        |  SELECT doc_id,
        |    md5(title || chr(10)
        |      || regexp_replace(text, 'https?://\S+', '', 'g')) AS dedup_key
        |  FROM c)
        |SELECT min(doc_id) AS keep_doc_id, dedup_key, count(*) AS n_copies
        |FROM k GROUP BY dedup_key ORDER BY keep_doc_id""".stripMargin,

    // round trip through a header CSV must reproduce the parquet rows
    "q46_csv_header" ->
      """SELECT event_id, user_id, event_type, floor((value)*1e2 + 0.5)/1e2 AS value
        |FROM events ORDER BY event_id""".stripMargin,

    "q47_comments_filter" ->
      s"""SELECT doc_id, coalesce(lang, '') AS lang,
         |  coalesce(source, '') AS source, n_chars,
         |  CAST(length(coalesce(text, '')) AS BIGINT) AS body_len,
         |  substr(coalesce(text, ''), 1, 40) AS snippet,
         |  md5(coalesce(text, '')) AS body_md5
         |FROM documents
         |WHERE ${kwComments.map(k => s"lower(text) LIKE '%$k%'").mkString(" OR ")}
         |ORDER BY doc_id""".stripMargin,

    // transitive closure via recursive CTE — min reachable id per node,
    // seeded with every doc so singletons are their own component
    "q48_dedup_clusters" ->
      s"""WITH
        |ids AS (SELECT doc_id FROM documents),
        |edges AS (
        |  SELECT a.doc_id AS a, a.doc_id + 1 AS b
        |  FROM ids a JOIN ids b2 ON b2.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 5 <> 4),
        |sym AS (
        |  SELECT a AS src, b AS dst FROM edges
        |  UNION ALL SELECT b, a FROM edges),
        |${minLabelCtes("sym", "SELECT doc_id AS node, doc_id AS lbl FROM ids",
            "comp", "component")}
        |SELECT i.doc_id, c.component, cnt.cluster_size
        |FROM ids i
        |JOIN comp c ON c.node = i.doc_id
        |JOIN (SELECT component, count(*) AS cluster_size
        |      FROM comp GROUP BY component) cnt USING (component)
        |ORDER BY doc_id""".stripMargin,

    "q49_stratified_sample" ->
      s"""SELECT doc_id, lang,
         |  ${h32("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |  CAST($sampleRateCase AS BIGINT) AS rate
         |FROM documents
         |WHERE ${h32("CAST(doc_id AS VARCHAR)")} % 100 < $sampleRateCase
         |ORDER BY doc_id""".stripMargin,

    "q50_tfidf_topterms" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
         |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         |s AS (
         |  SELECT doc_id, term, tf, df,
         |    floor((round(tf * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 8))*1e4 + 0.5)/1e4 AS tfidf
         |  FROM tf JOIN df USING (term), n),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, term) AS BIGINT) AS rk FROM s)
         |SELECT doc_id, rk, term, tf, df, tfidf FROM r
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "q51_label_centroids" ->
      """WITH u AS (
        |  SELECT label, unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'dim': CAST(i AS BIGINT),
        |          'v': CAST(embedding[i] AS DOUBLE)})) AS e
        |  FROM embeddings)
        |SELECT label, e.dim AS dim, floor((avg(e.v))*1e4 + 0.5)/1e4 + 0.0 AS mean_val
        |FROM u GROUP BY label, e.dim ORDER BY label, dim""".stripMargin,

    "q52_corpus_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  floor((avg(CAST(n_chars AS DOUBLE)))*1e4 + 0.5)/1e4 AS avg_chars,
        |  floor((quantile_cont(CAST(n_chars AS DOUBLE), 0.5))*1e4 + 0.5)/1e4 AS median_chars,
        |  CAST(sum(CASE WHEN length(trim(coalesce(text, ''))) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // kNN join: bucket-local neighbors ranked per vector; the guard and
    // ranking mirror the Spark side (groupBy cap ≡ window cap on results)
    "q53_knn_join" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding", 4)} AS bucket
         |  FROM embeddings),
         |capped AS (
         |  SELECT * FROM (
         |    SELECT vec_id, embedding, bucket,
         |      count(*) OVER (PARTITION BY bucket) AS bsz FROM b) z
         |  WHERE bsz <= 500),
         |pairs AS (
         |  SELECT x.vec_id AS vec_id, y.vec_id AS nbr,
         |    ${cosSql("x.embedding", "y.embedding")} AS cos_sim
         |  FROM capped x JOIN capped y
         |    ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
         |r AS (
         |  SELECT vec_id, nbr, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_sim DESC, nbr) AS BIGINT) AS rk
         |  FROM pairs WHERE NOT isnan(cos_sim))
         |SELECT vec_id, rk, nbr, cos_sim FROM r WHERE rk <= 3
         |ORDER BY vec_id, rk""".stripMargin,

    // DuckDB's native ASOF JOIN is an independent second formulation of
    // the same operator (Spark side: union + running last-non-null)
    "q54_asof_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, lower(event_type) AS et,
        |    date_trunc('microseconds', ts) AS ts
        |  FROM events),
        |l AS (SELECT event_id, user_id, ts FROM e WHERE et = 'click'),
        |r AS (
        |  SELECT user_id, ts, max(event_id) AS purchase_id
        |  FROM e WHERE et = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, r.purchase_id AS matched_purchase_id
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    "q56_attribution_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, lower(event_type) AS et,
        |    date_trunc('microseconds', ts) AS ts
        |  FROM events)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM e c JOIN e p
        |  ON c.et = 'click' AND p.et = 'purchase'
        | AND c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,

    // the SAME Scala unicode string is interpolated here, so both engines
    // normalize identical bytes; DuckDB strip_accents ≡ NFD + drop Mn
    // (verified char-for-char for the tail's characters)
    "q57_unicode_clean" ->
      s"""WITH c AS (
         |  SELECT doc_id,
         |    coalesce(text, '') || '${TextAnalysis.unicodeTail.replace("'", "''")}' AS raw
         |  FROM documents),
         |n AS (
         |  SELECT doc_id, nfc_normalize(raw) AS nfc, strip_accents(raw) AS folded
         |  FROM c)
         |SELECT doc_id,
         |  CAST(length(nfc) AS BIGINT) AS nfc_len, md5(nfc) AS nfc_md5,
         |  CAST(length(folded) AS BIGINT) AS folded_len, md5(folded) AS folded_md5
         |FROM n ORDER BY doc_id""".stripMargin,

    // capstone: quality gate → exact dedup → stratified sample in one query
    "q58_training_pipeline" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, lang, text FROM documents),
         |q AS (
         |  SELECT doc_id, lang, text,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM corpus),
         |f AS (SELECT *, $fpSql AS fp FROM q
         |      WHERE n_tokens >= ${CorpusOps.pipelineMinTokens}),
         |keep AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
         |d AS (
         |  SELECT f.doc_id, f.lang, f.n_tokens, f.fp FROM f
         |  JOIN keep ON f.fp = keep.fp AND f.doc_id = keep.doc_id)
         |SELECT doc_id, lang, n_tokens, fp,
         |  ${h32("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |FROM d
         |WHERE ${h32("CAST(doc_id AS VARCHAR)")} % 100 < $sampleRateCase
         |ORDER BY doc_id""".stripMargin,

    // salting changes only shuffle routing, never results → plain join SQL
    "q38_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 10000 + 0.5) AS HUGEINT)) AS DOUBLE)
        |    / 1e4 AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // PII patterns + replacement ORDER shared verbatim with piiRedact
    // (email → URL → IP → phone); the PII tail is doc_id-derived, so both
    // engines redact identical bytes
    "q59_pii_redaction" ->
      s"""WITH r AS (
         |  SELECT doc_id, coalesce(text, '')
         |    || ' Contact user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com or +49 170 ' || CAST(1000000 + doc_id AS VARCHAR)
         |    || ' at 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
         |    || ' via https://tracker.example/visit?id=' || CAST(doc_id AS VARCHAR)
         |    AS raw
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, raw,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw,
         |      '${TextAnalysis.piiEmail}', '<EMAIL>', 'g'),
         |      '${TextAnalysis.piiUrl}', '<URL>', 'g'),
         |      '${TextAnalysis.piiIp}', '<IP>', 'g'),
         |      '${TextAnalysis.piiPhone}', '<PHONE>', 'g') AS clean
         |  FROM r)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(raw, '${TextAnalysis.piiEmail}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(raw, '${TextAnalysis.piiUrl}')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(raw, '${TextAnalysis.piiIp}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(raw, '${TextAnalysis.piiPhone}')) AS BIGINT) AS n_phones,
         |  CAST(length(clean) AS BIGINT) AS clean_len,
         |  md5(clean) AS clean_md5
         |FROM c ORDER BY doc_id""".stripMargin,

    // thresholds interpolated from the same constants gopherQuality uses
    "q60_gopher_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks,
         |    CAST(length(text) - length(regexp_replace(text, '[\\p{P}\\p{S}]', '', 'g')) AS BIGINT) AS n_punct
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    floor((CAST(length(array_to_string(toks, '')) AS DOUBLE)
         |      / CAST(greatest(len(toks), 1) AS DOUBLE))*1e4 + 0.5)/1e4 AS mean_word_len,
         |    floor((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
         |      / CAST(greatest(len(toks), 1) AS DOUBLE))*1e4 + 0.5)/1e4 AS dup_ratio,
         |    floor((CAST(n_punct AS DOUBLE)
         |      / CAST(greatest(len(toks), 1) AS DOUBLE))*1e4 + 0.5)/1e4 AS punct_ratio
         |  FROM t)
         |SELECT doc_id, n_words, mean_word_len, dup_ratio, punct_ratio,
         |  (n_words >= ${TextAnalysis.gopherMinWords}
         |   AND dup_ratio < ${TextAnalysis.gopherMaxDupRatio}
         |   AND mean_word_len BETWEEN ${TextAnalysis.gopherMeanLen._1}
         |     AND ${TextAnalysis.gopherMeanLen._2}) AS passes
         |FROM m ORDER BY doc_id""".stripMargin,

    // 8-gram shingles, per-doc distinct BEFORE the unnest, canary planted
    // in the same docs as contaminationCheck
    "q61_contamination" ->
      s"""WITH d AS (
         |  SELECT doc_id, coalesce(text, '')
         |    || CASE WHEN doc_id % ${CorpusOps.benchMod} = 0
         |              OR doc_id % ${CorpusOps.contamMod} = 0
         |       THEN ' ${CorpusOps.contaminationCanary}' ELSE '' END AS text
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
         |      i -> array_to_string(toks[i:i+7], ' ')))) AS shingle
         |  FROM (SELECT doc_id, $toksSql AS toks FROM d))
         |SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
         |  count(*) AS n_shared
         |FROM sh t JOIN sh b ON t.shingle = b.shingle
         |WHERE b.doc_id % ${CorpusOps.benchMod} = 0
         |  AND t.doc_id % ${CorpusOps.benchMod} <> 0
         |GROUP BY train_doc, bench_doc
         |ORDER BY train_doc, bench_doc""".stripMargin,

    "q62_rollup_revenue" ->
      """WITH j AS (
        |  SELECT n_name, o_orderpriority, o_totalprice FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey)
        |SELECT coalesce(n_name, 'ALL') AS nation,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(grouping(n_name) AS BIGINT) AS g_nation,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS HUGEINT))
        |    AS DOUBLE) / 1e4 AS revenue
        |FROM j GROUP BY ROLLUP(n_name, o_orderpriority)
        |ORDER BY nation, priority""".stripMargin,

    // value pre-rounded so the sliding avg aggregates identical doubles
    "q63_activity_windows" ->
      """WITH e AS (
        |  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts,
        |    floor((value)*1e2 + 0.5)/1e2 AS v2
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS seq,
        |  date_diff('microsecond', lag(ts) OVER w, ts) AS gap_us,
        |  floor((avg(v2) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))*1e4 + 0.5)/1e4 AS mavg3
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    // floor(x + 0.5) on BOTH sides: Java and C round() diverge on negative
    // halves; floor-plus-half is bit-identical across the engines
    "q64_embed_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |t AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN amax > 0 THEN 127.0 / amax END AS scale
        |  FROM s),
        |u AS (
        |  SELECT vec_id, embedding, scale,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS q
        |  FROM t)
        |SELECT vec_id,
        |  CAST(floor(scale * 1e4 + 0.5) AS BIGINT) AS scale_u4,
        |  list_max(list_transform(q, l -> abs(l))) AS max_level,
        |  CAST(floor(list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> (CAST(embedding[i] AS DOUBLE) - CAST(q[i] AS DOUBLE) / scale)
        |         * (CAST(embedding[i] AS DOUBLE) - CAST(q[i] AS DOUBLE) / scale)))
        |    / len(embedding) * 1e8 + 0.5) AS BIGINT) AS mse_u8
        |FROM u ORDER BY vec_id""".stripMargin,

    // the HLL sketch replayed step-for-step in SQL: same md5-32 hash
    // family, bucket = top 8 bits, rho = 25 - bit_length(low 24 bits);
    // the register inverse-power sum is exact in double (≤256 powers of
    // two ≥ 2^-25), so engine summation order cannot diverge
    "q65_hll_distinct" ->
      s"""WITH h AS (
         |  SELECT ${h32("CAST(user_id AS VARCHAR)")} AS hv FROM events),
         |r AS (
         |  SELECT hv // 16777216 AS bucket,
         |    CASE WHEN hv % 16777216 = 0 THEN 25
         |         ELSE 25 - (CAST(floor(log2(hv % 16777216)) AS BIGINT) + 1)
         |    END AS rho
         |  FROM h),
         |regs AS (SELECT bucket, max(rho) AS reg FROM r GROUP BY bucket),
         |a AS (
         |  SELECT count(*) AS present, sum(power(2.0, -reg)) AS sinv FROM regs),
         |e AS (
         |  SELECT (0.7213 / (1.0 + 1.079 / ${Sketches.hllM}))
         |      * ${Sketches.hllM}.0 * ${Sketches.hllM}.0
         |      / (sinv + (${Sketches.hllM} - present)) AS e_raw,
         |    ${Sketches.hllM} - present AS v
         |  FROM a),
         |est AS (
         |  SELECT floor((round(CASE WHEN e_raw <= ${2.5 * Sketches.hllM} AND v > 0
         |    THEN ${Sketches.hllM}.0 * ln(${Sketches.hllM}.0 / v)
         |    ELSE e_raw END, 8))*1e4 + 0.5)/1e4 AS hll_estimate
         |  FROM e)
         |SELECT hll_estimate,
         |  (SELECT count(DISTINCT user_id) FROM events) AS exact_distinct,
         |  floor((abs(hll_estimate - (SELECT count(DISTINCT user_id) FROM events))
         |    / CAST((SELECT count(DISTINCT user_id) FROM events) AS DOUBLE))*1e4 + 0.5)/1e4
         |    AS rel_err
         |FROM est""".stripMargin,

    "q66_reservoir_sample" ->
      """SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS priority
        |FROM documents ORDER BY priority LIMIT 100""".stripMargin,

    // the composed end-to-end near-dup product: the q55 pair chain feeding
    // a q48-style recursive transitive closure, min-id keeper election,
    // singleton docs kept via the left join
    "q67_neardup_keepers" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |ids AS (SELECT doc_id FROM corpus),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |$keeperCompCtes,
         |labeled AS MATERIALIZED (
         |  SELECT i.doc_id, coalesce(c.keeper0, i.doc_id) AS keeper
         |  FROM ids i LEFT JOIN comp c ON c.node = i.doc_id),
         |cs AS (SELECT keeper, count(*) AS cluster_size
         |       FROM labeled GROUP BY keeper)
         |SELECT l.doc_id, l.keeper, l.doc_id = l.keeper AS is_keeper,
         |  cs.cluster_size
         |FROM labeled l JOIN cs USING (keeper)
         |ORDER BY doc_id""".stripMargin,

    // the sketch-vs-exact contract: the oracle pins the exact median and
    // asserts the sketch stayed inside the 5% bound (constant TRUE — a
    // hash mismatch means the KLL sketch drifted out of tolerance)
    "q68_corpus_stats_approx" ->
      """SELECT source, count(*) AS n_docs,
        |  floor((quantile_cont(CAST(n_chars AS DOUBLE), 0.5))*1e4 + 0.5)/1e4
        |    AS median_exact,
        |  TRUE AS approx_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Lloyd's k-means, 2 integer-exact iterations: e3-grid vectors,
    // rational (sum, n) centroids, score = one exact-int double division
    // (IEEE-identical across engines), argmax tie -> lowest list id
    "q69_ivf_train" ->
      s"""WITH $ivfTrainCtesSql
         |SELECT list_id, n AS n_members, dim,
         |  floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0)*1e6 + 0.5)/1e6 + 0.0
         |    AS centroid
         |FROM m2 ORDER BY list_id, dim""".stripMargin,

    // temperature mixing weights: alpha = 0.5 so p^alpha is sqrt — a
    // correctly-rounded IEEE primitive, identical across engines
    "q70_mixture_weights" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
        |        sum(sqrt(CAST(n_docs AS DOUBLE))) AS sum_sq FROM c)
        |SELECT lang, n_docs,
        |  floor((CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE))*1e6 + 0.5)/1e6 AS p,
        |  floor((sqrt(CAST(n_docs AS DOUBLE)) / sum_sq)*1e6 + 0.5)/1e6 AS w,
        |  floor((sqrt(CAST(n_docs AS DOUBLE)) / sum_sq /
        |    (CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)))*1e4 + 0.5)/1e4 AS sample_rate
        |FROM c CROSS JOIN t ORDER BY lang""".stripMargin,

    // per-token ln(tf/T) quantized to integer micro-units BEFORE the
    // per-doc sum, so the aggregation is exact-integer and immune to
    // float addition order
    "q71_unigram_logprob" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY term),
         |t AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf),
         |u AS (
         |  SELECT doc_id,
         |    CAST(floor(round(ln(CAST(tf AS DOUBLE) / CAST(total AS DOUBLE)), 8)
         |      * 1e6 + 0.5) AS BIGINT) AS u
         |  FROM toks JOIN tf USING (term) CROSS JOIN t)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  floor((CAST(sum(u) AS DOUBLE) / count(*) / 1e6)*1e4 + 0.5)/1e4 + 0.0
         |    AS mean_logprob
         |FROM u GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // C4-style repeated-span report over the partially-reduplicated
    // corpus (every doc_id % 7 = 0 doc has a shifted full copy); the
    // flag compares exact integers (n_dup > 0.5 * n_spans), never the
    // rounded ratio
    "q72_span_dedup" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 200000, text FROM documents
         |  WHERE doc_id % 7 = 0),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |spans AS (
         |  SELECT doc_id, unnest(list_transform(range(0, len(toks) // 5),
         |    i -> md5(array_to_string(list_slice(toks, i*5 + 1, i*5 + 5),
         |      ' ')))) AS span
         |  FROM tk WHERE len(toks) >= 5),
         |counts AS (SELECT span, CAST(count(*) AS BIGINT) AS cnt
         |           FROM spans GROUP BY span)
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_spans,
         |  floor((CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*))*1e4 + 0.5)/1e4 AS dup_ratio,
         |  CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    > 0.5 * count(*) AS flagged
         |FROM spans s JOIN counts c USING (span)
         |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin,

    // concat-then-chunk sequence packing: global token prefix sum in doc
    // order, then exact integer chunk arithmetic (the engine computes the
    // same prefix sum two-phase — bucketed partials + tiny offset table)
    "q73_sequence_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents WHERE len($toksSql) > 0),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start
         |  FROM d)
         |SELECT doc_id, n_tokens, CAST(start AS BIGINT) AS start,
         |  CAST(start // 128 AS BIGINT) AS seq_id,
         |  CAST(start % 128 AS BIGINT) AS seq_offset,
         |  CAST((start + n_tokens - 1) // 128 - start // 128 AS BIGINT)
         |    AS n_boundary_crossings
         |FROM c ORDER BY doc_id""".stripMargin,

    // Bloom gate: m=1024 bits as 32 bit_or'd 32-bit words, k=3 md5-derived
    // positions; history = even ids, batch = odd ids plus every 10th even
    // doc re-arriving id-shifted (true duplicates), so hits split into
    // true positives and auditable false positives
    "q74_bloom_dedup" ->
      s"""WITH docs AS (SELECT doc_id, $fpSql AS fp FROM documents),
         |hist AS (SELECT * FROM docs WHERE doc_id % 2 = 0),
         |fresh AS (
         |  SELECT * FROM docs WHERE doc_id % 2 = 1
         |  UNION ALL
         |  SELECT doc_id + 500000, fp FROM docs
         |  WHERE doc_id % 2 = 0 AND doc_id % 10 = 0),
         |hpos AS (
         |  SELECT ${h32("fp || '#' || r.j")} % 1024 AS pos
         |  FROM hist CROSS JOIN range(0, 3) r(j)),
         |bloom AS (
         |  SELECT pos // 32 AS word,
         |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
         |  FROM hpos GROUP BY 1),
         |npos AS (
         |  SELECT doc_id, fp, ${h32("fp || '#' || r.j")} % 1024 AS pos
         |  FROM fresh CROSS JOIN range(0, 3) r(j)),
         |checked AS (
         |  SELECT n.doc_id, n.fp,
         |    sum(CASE WHEN (coalesce(b.bits, 0) &
         |      (CAST(1 AS BIGINT) << CAST(n.pos % 32 AS INT))) <> 0
         |      THEN 1 ELSE 0 END) AS n_set
         |  FROM npos n LEFT JOIN bloom b ON b.word = n.pos // 32
         |  GROUP BY 1, 2)
         |SELECT c.doc_id, c.n_set = 3 AS bloom_hit,
         |  h.fp IS NOT NULL AS exact_dup,
         |  (c.n_set = 3 AND h.fp IS NULL) AS false_positive
         |FROM checked c
         |LEFT JOIN (SELECT DISTINCT fp FROM hist) h ON h.fp = c.fp
         |ORDER BY c.doc_id""".stripMargin,

    // the naive range formulation IS the oracle — the engine must get the
    // same answer from the bucketized equi-join rewrite
    "q75_interval_join" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS t FROM events),
        |win AS (
        |  SELECT event_id AS window_id, t AS w_start,
        |    t + 7200000000 AS w_end
        |  FROM ev WHERE event_id % 199 = 0),
        |hits AS (
        |  SELECT w.window_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM win w JOIN ev e ON e.t >= w.w_start AND e.t < w.w_end
        |  GROUP BY 1)
        |SELECT w.window_id, w.w_start,
        |  CAST(coalesce(h.n_events, 0) AS BIGINT) AS n_events
        |FROM win w LEFT JOIN hits h USING (window_id)
        |ORDER BY window_id""".stripMargin,

    // the capstone corpus build: token gate -> span-dup gate (integer-
    // exact) -> unigram-LM floor (exact micro-units) -> sqrt-temperature
    // sampling -> prefix-sum sequence packing, one statement
    "q76_corpus_build" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang, $toksSql AS toks FROM documents
         |  WHERE len($toksSql) >= 5),
         |b2 AS (SELECT doc_id, lang, toks,
         |         CAST(len(toks) AS BIGINT) AS n_tokens FROM base),
         |spans AS (
         |  SELECT doc_id, unnest(list_transform(range(0, len(toks) // 5),
         |    i -> md5(array_to_string(list_slice(toks, i*5 + 1, i*5 + 5),
         |      ' ')))) AS span
         |  FROM b2),
         |sc AS (SELECT span, count(*) AS cnt FROM spans GROUP BY 1),
         |dupok AS (
         |  SELECT doc_id,
         |    floor((CAST(n_dup AS DOUBLE) / CAST(n_spans AS DOUBLE))*1e4 + 0.5)/1e4
         |      AS dup_ratio
         |  FROM (
         |    SELECT s.doc_id, count(*) AS n_spans,
         |      sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS n_dup
         |    FROM spans s JOIN sc c USING (span) GROUP BY 1) z
         |  WHERE n_dup * 2 <= n_spans),
         |toks2 AS (SELECT doc_id, unnest(toks) AS term FROM b2),
         |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks2 GROUP BY 1),
         |t AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf),
         |lmok AS (
         |  SELECT doc_id,
         |    floor((CAST(units AS DOUBLE) / n / 1e6)*1e4 + 0.5)/1e4 + 0.0 AS mean_logprob
         |  FROM (
         |    SELECT doc_id,
         |      sum(CAST(floor(round(ln(CAST(tf AS DOUBLE)
         |        / CAST(total AS DOUBLE)), 8)
         |        * 1e6 + 0.5) AS BIGINT)) AS units,
         |      count(*) AS n
         |    FROM toks2 JOIN tf USING (term) CROSS JOIN t GROUP BY 1) z
         |  WHERE units > -8600000 * n),
         |cnts AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
         |         FROM b2 GROUP BY 1),
         |ct AS (SELECT CAST(sum(n_docs) AS BIGINT) AS ctotal,
         |         sum(sqrt(CAST(n_docs AS DOUBLE))) AS sum_sq FROM cnts),
         |rates AS (
         |  SELECT lang, CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) / sum_sq /
         |    (CAST(n_docs AS DOUBLE) / CAST(ctotal AS DOUBLE)) * 30.0 + 0.5)
         |    AS BIGINT) AS rate
         |  FROM cnts CROSS JOIN ct),
         |samp AS (
         |  SELECT b.doc_id, b.lang, b.n_tokens, d.dup_ratio, l.mean_logprob
         |  FROM b2 b JOIN dupok d USING (doc_id) JOIN lmok l USING (doc_id)
         |  JOIN rates r USING (lang)
         |  WHERE ${h32("CAST(b.doc_id AS VARCHAR)")} % 100 < r.rate),
         |packed AS (
         |  SELECT *, sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - n_tokens AS start
         |  FROM samp)
         |SELECT doc_id, lang, n_tokens, dup_ratio, mean_logprob,
         |  CAST(start AS BIGINT) AS start,
         |  CAST(start // 128 AS BIGINT) AS seq_id
         |FROM packed ORDER BY doc_id""".stripMargin,

    // pivot = one pass of per-value conditional counts, dense zeros
    "q77_pivot_matrix" ->
      """SELECT source,
        |  CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |  CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        |  CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |  CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // dense hourly spine via range(), decimal-exact sums (q17 trick),
    // IGNORE NULLS forward fill
    "q78_gap_fill" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    CAST(floor(value * 10000 + 0.5) AS HUGEINT) AS v
        |  FROM events),
        |agg AS (
        |  SELECT event_type, h, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(v) AS DOUBLE) / 1e4 AS sv
        |  FROM ev GROUP BY 1, 2),
        |bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
        |spine AS (
        |  SELECT t.event_type, u.h
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds) u),
        |j AS (
        |  SELECT s.event_type, s.h, coalesce(a.n_events, 0) AS n_events,
        |    a.sv
        |  FROM spine s LEFT JOIN agg a USING (event_type, h))
        |SELECT event_type, CAST(h AS BIGINT) AS h,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  floor((coalesce(last_value(sv IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY h
        |    ROWS UNBOUNDED PRECEDING), 0))*1e2 + 0.5)/1e2 AS filled_sum
        |FROM j ORDER BY event_type, h""".stripMargin,

    // the roundtrip law IS the oracle: unpivot(pivot(T)) = groupBy(T)
    "q79_unpivot_roundtrip" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,

    // v2 replayed: every 5th dropped, every 7th amended, every 11th
    // re-added under a new id; classification is content-fingerprint-based
    "q80_corpus_diff" ->
      s"""WITH v1 AS (SELECT doc_id, $fpSql AS fp1 FROM documents),
         |v2 AS (
         |  SELECT doc_id,
         |    md5(regexp_replace(lower(trim(
         |      CASE WHEN doc_id % 7 = 0
         |        THEN coalesce(text, '') || ' v2-edit' ELSE text END)),
         |      '\\s+', ' ', 'g')) AS fp2
         |  FROM documents WHERE doc_id % 5 <> 4
         |  UNION ALL
         |  SELECT doc_id + 300000, $fpSql FROM documents
         |  WHERE doc_id % 11 = 0),
         |j AS (
         |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, fp1, fp2
         |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
         |SELECT doc_id,
         |  CASE WHEN fp1 IS NULL THEN 'added'
         |       WHEN fp2 IS NULL THEN 'removed'
         |       WHEN fp1 = fp2 THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |FROM j ORDER BY doc_id""".stripMargin,

    // split assignment hashes the near-dup CLUSTER label (q67's keeper),
    // so near-dups never straddle train/test; leak_prevented marks docs
    // whose cluster a naive per-doc hash split WOULD have torn apart
    "q81_leakage_safe_split" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |ids AS (SELECT doc_id FROM corpus),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |$keeperCompCtes,
         |labeled AS MATERIALIZED (
         |  SELECT i.doc_id, coalesce(c.keeper0, i.doc_id) AS keeper
         |  FROM ids i LEFT JOIN comp c ON c.node = i.doc_id),
         |sp AS (
         |  SELECT doc_id, keeper,
         |    CAST('0x' || substr(md5('split:' || CAST(keeper AS VARCHAR)), 1, 4)
         |      AS BIGINT) % 10 AS kb,
         |    CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
         |      AS BIGINT) % 10 AS db
         |  FROM labeled),
         |nm AS (
         |  SELECT doc_id, keeper,
         |    CASE WHEN kb < 8 THEN 'train' WHEN kb = 8 THEN 'val'
         |         ELSE 'test' END AS split,
         |    CASE WHEN db < 8 THEN 'train' WHEN db = 8 THEN 'val'
         |         ELSE 'test' END AS naive_split
         |  FROM sp),
         |aud AS (SELECT keeper, count(DISTINCT naive_split) AS nn
         |        FROM nm GROUP BY keeper)
         |SELECT nm.doc_id, nm.keeper, nm.split, nm.naive_split,
         |  aud.nn > 1 AS leak_prevented
         |FROM nm JOIN aud USING (keeper)
         |ORDER BY doc_id""".stripMargin,

    // SemDeDup: assign to the TRAINED q69 codebook (rounded-double
    // centroids, argmax tie -> lowest list), then prune any vector with a
    // lower-id same-cluster neighbor at cosine >= 0.92; -2.0 = "no lower
    // neighbor" sentinel (outside cosine range)
    "q82_semantic_dedup" ->
      s"""WITH $ivfTrainCtesSql,
         |cv AS (
         |  SELECT list_id,
         |    list(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0)*1e6 + 0.5)/1e6 + 0.0
         |      ORDER BY dim) AS c
         |  FROM m2 GROUP BY list_id),
         |corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
         |sc AS (
         |  SELECT c.vec_id, cv.list_id,
         |    list_sum(list_transform(range(1, len(c.embedding)+1),
         |      i -> CAST(c.embedding[i] AS DOUBLE) * cv.c[i])) AS score
         |  FROM corpus c CROSS JOIN cv),
         |asg AS (
         |  SELECT s.vec_id, s.list_id, c.embedding FROM (
         |    SELECT vec_id, list_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, list_id) AS rn
         |    FROM sc) s JOIN corpus c USING (vec_id) WHERE s.rn = 1),
         |prs AS (
         |  SELECT y.vec_id AS vec_id,
         |    ${cosSql("x.embedding", "y.embedding")} AS cs
         |  FROM asg x JOIN asg y
         |    ON x.list_id = y.list_id AND x.vec_id < y.vec_id),
         |mx AS (SELECT vec_id, max(cs) AS m FROM prs GROUP BY vec_id)
         |SELECT a.vec_id, a.list_id,
         |  coalesce(mx.m, -2.0) AS max_cos_lower,
         |  coalesce(mx.m, -2.0) < 0.92 AS is_kept
         |FROM asg a LEFT JOIN mx USING (vec_id)
         |ORDER BY a.vec_id""".stripMargin,

    // per-column profile in string space; min/max are byte-lexicographic
    // VARCHAR order in both engines
    "q83_table_profile" ->
      """WITH m AS (
        |  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS v FROM documents
        |  UNION ALL SELECT 'text', text FROM documents
        |  UNION ALL SELECT 'lang', lang FROM documents
        |  UNION ALL SELECT 'source', source FROM documents
        |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents)
        |SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(v) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        |  min(v) AS min_val, max(v) AS max_val
        |FROM m GROUP BY col_name ORDER BY col_name""".stripMargin,

    // the oracle states the NAIVE global-window form; the Spark plan
    // computes the same rank via value-frequency offsets + partitioned
    // windows (no global sort) — the hash proves the decomposition exact
    "q84_curriculum_shards" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rnk,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, n_chars, CAST(rnk AS BIGINT) AS rnk,
        |  CAST(floor((rnk - 1) * 10.0 / n) AS BIGINT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,

    // PQ: per-subspace k-means on the e3 grid (first-16 seed, one Lloyd
    // update), L2 argmin via s·s/n² − 2·v·s/n with exact-int double
    // divisions; err2 = grid-space squared error in original scale
    "q85_pq_encode" ->
      s"""WITH $pqCtesSql
         |SELECT vec_id, sub, c AS code,
         |  floor((err2 / 1000000.0)*1e6 + 0.5)/1e6 + 0.0 AS err2
         |FROM (
         |  SELECT vec_id, sub, c, err2,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY score, c) AS rn
         |  FROM sc2) z
         |WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin,

    // ADC search over the PQ codes: query builds an m×k distance lookup
    // table, each vector is scored by m lookups summed in subspace order
    // (deterministic fold); parenthesization of qq + (A - B) is shared
    // with the Spark side
    "q86_pq_adc_topk" ->
      s"""WITH $pqCtesSql,
         |codes AS (
         |  SELECT vec_id, sub, c AS code FROM (
         |    SELECT vec_id, sub, c,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY score, c) AS rn
         |    FROM sc2) z WHERE rn = 1),
         |q AS (
         |  SELECT sub, se AS qe,
         |    list_sum(list_transform(se, x -> x*x)) AS qq
         |  FROM sv WHERE vec_id = 0),
         |lut AS (
         |  SELECT cb.sub, cb.c,
         |    CAST(q.qq AS DOUBLE) +
         |      (CAST(list_sum(list_transform(cb.s, x -> x*x)) AS DOUBLE)
         |         / CAST(cb.n*cb.n AS DOUBLE)
         |       - CAST(2*list_sum(list_transform(range(1, 9),
         |           i -> q.qe[i]*cb.s[i])) AS DOUBLE) / CAST(cb.n AS DOUBLE))
         |      AS d
         |  FROM cb1 cb JOIN q ON q.sub = cb.sub)
         |SELECT vec_id,
         |  floor((list_sum(list(l.d ORDER BY l.sub)) / 1000000.0)*1e4 + 0.5)/1e4 + 0.0
         |    AS adc_dist2
         |FROM codes JOIN lut l ON l.sub = codes.sub AND l.c = codes.code
         |WHERE vec_id <> 0
         |GROUP BY vec_id
         |ORDER BY adc_dist2, vec_id LIMIT 10""".stripMargin,

    // 32-token windows, stride 24, tail window shortened; empty docs
    // produce no chunks
    "q87_chunk_windows" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |f AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
         |u AS (
         |  SELECT doc_id, tk, n,
         |    unnest(range(0,
         |      1 + CAST(ceil(greatest(n - 32, 0) / 24.0) AS BIGINT))) AS i
         |  FROM f)
         |SELECT doc_id, i AS chunk_id, i*24 + 1 AS start_tok,
         |  CAST(least(32, n - i*24) AS BIGINT) AS n_tok,
         |  array_to_string(
         |    list_slice(tk, i*24 + 1, i*24 + least(32, n - i*24)), ' ')
         |    AS chunk_text
         |FROM u ORDER BY doc_id, chunk_id""".stripMargin,

    // q80's diff composed with q74's Bloom: only the v2 delta (added +
    // changed) is screened against v1 history; re-added docs are the
    // true positives
    "q88_incremental_dedup" ->
      s"""WITH v1 AS (SELECT doc_id, $fpSql AS fp1 FROM documents),
         |v2 AS (
         |  SELECT doc_id,
         |    md5(regexp_replace(lower(trim(
         |      CASE WHEN doc_id % 7 = 0
         |        THEN coalesce(text, '') || ' v2-edit' ELSE text END)),
         |      '\\s+', ' ', 'g')) AS fp2
         |  FROM documents WHERE doc_id % 5 <> 4
         |  UNION ALL
         |  SELECT doc_id + 300000, $fpSql FROM documents
         |  WHERE doc_id % 11 = 0),
         |delta AS (
         |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
         |    CASE WHEN fp1 IS NULL THEN 'added' ELSE 'changed' END AS status,
         |    fp2 AS fp
         |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
         |  WHERE fp2 IS NOT NULL AND (fp1 IS NULL OR fp1 <> fp2)),
         |hpos AS (
         |  SELECT ${h32("fp1 || '#' || r.j")} % 1024 AS pos
         |  FROM v1 CROSS JOIN range(0, 3) r(j)),
         |bloom AS (
         |  SELECT pos // 32 AS word,
         |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
         |  FROM hpos GROUP BY 1),
         |npos AS (
         |  SELECT doc_id, fp, ${h32("fp || '#' || r.j")} % 1024 AS pos
         |  FROM delta CROSS JOIN range(0, 3) r(j)),
         |checked AS (
         |  SELECT n.doc_id, n.fp,
         |    sum(CASE WHEN (coalesce(b.bits, 0) &
         |      (CAST(1 AS BIGINT) << CAST(n.pos % 32 AS INT))) <> 0
         |      THEN 1 ELSE 0 END) AS n_set
         |  FROM npos n LEFT JOIN bloom b ON b.word = n.pos // 32
         |  GROUP BY 1, 2)
         |SELECT d.doc_id, d.status, c.n_set = 3 AS bloom_hit,
         |  h.fp1 IS NOT NULL AS exact_dup,
         |  (c.n_set = 3 AND h.fp1 IS NULL) AS false_positive
         |FROM delta d
         |JOIN checked c ON c.doc_id = d.doc_id AND c.fp = d.fp
         |LEFT JOIN (SELECT DISTINCT fp1 FROM v1) h ON h.fp1 = d.fp
         |ORDER BY d.doc_id""".stripMargin,

    // first BPE merge-candidate stats: overlapping 2-char pairs of every
    // >=2-char token occurrence, top-20 by count then pair
    "q89_bpe_pair_stats" ->
      s"""WITH w AS (SELECT unnest($toksSql) AS w FROM documents),
         |p AS (
         |  SELECT unnest(list_transform(range(1, length(w)),
         |    i -> substr(w, CAST(i AS INT), 2))) AS pair
         |  FROM w WHERE length(w) >= 2)
         |SELECT pair, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    // q67's clusters with the production keeper policy: survivor = max
    // n_chars, ties to the lowest doc_id
    "q90_quality_keepers" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |ids AS (SELECT doc_id FROM corpus),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |$keeperCompCtes,
         |labeled AS (
         |  SELECT i.doc_id, coalesce(c.keeper0, i.doc_id) AS cluster_id
         |  FROM ids i LEFT JOIN comp c ON c.node = i.doc_id),
         |cn AS (SELECT doc_id, n_chars FROM documents
         |       UNION ALL SELECT doc_id + 100000, n_chars FROM documents),
         |lb AS (SELECT l.doc_id, l.cluster_id, c.n_chars
         |       FROM labeled l JOIN cn c ON c.doc_id = l.doc_id),
         |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lb GROUP BY 1),
         |best AS (
         |  SELECT cluster_id, doc_id AS best_doc_id FROM (
         |    SELECT cluster_id, doc_id,
         |      row_number() OVER (PARTITION BY cluster_id
         |        ORDER BY n_chars DESC, doc_id) AS rn
         |    FROM lb) z WHERE rn = 1)
         |SELECT lb.doc_id, lb.cluster_id, lb.n_chars, b.best_doc_id,
         |  lb.doc_id = b.best_doc_id AS is_kept, cs.cluster_size
         |FROM lb JOIN best b USING (cluster_id) JOIN cs USING (cluster_id)
         |ORDER BY lb.doc_id""".stripMargin,

    // equi-width 20-bucket histogram; max clamps into the last bucket;
    // empty buckets absent in both engines
    "q91_value_histogram" ->
      """WITH ev AS (SELECT value FROM events WHERE value IS NOT NULL),
        |b AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),
        |k AS (
        |  SELECT least(CAST(floor((value - lo) / ((hi - lo) / 20))
        |      AS BIGINT), 19) AS bucket,
        |    lo, hi
        |  FROM ev CROSS JOIN b),
        |g AS (
        |  SELECT bucket,
        |    floor((lo + bucket * ((hi - lo) / 20))*1e4 + 0.5)/1e4 + 0.0 AS bucket_lo
        |  FROM k)
        |SELECT bucket, bucket_lo, CAST(count(*) AS BIGINT) AS n
        |FROM g GROUP BY bucket, bucket_lo ORDER BY bucket""".stripMargin,

    // the LSH extension of q88: the v2 delta is banded against v1
    // HISTORY's bands (no history self-join); re-added docs hit at est
    // 1.0, amended docs hit their previous version
    "q92_incremental_neardup" ->
      s"""WITH v2 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0
         |      THEN coalesce(text, '') || ' v2-edit' ELSE text END AS text
         |  FROM documents WHERE doc_id % 5 <> 4
         |  UNION ALL
         |  SELECT doc_id + 300000, text FROM documents WHERE doc_id % 11 = 0),
         |v1fp AS (SELECT doc_id, $fpSql AS fp1 FROM documents),
         |delta AS (
         |  SELECT v2.doc_id,
         |    CASE WHEN v1fp.doc_id IS NULL THEN 'added'
         |         ELSE 'changed' END AS status,
         |    v2.text
         |  FROM v2 LEFT JOIN v1fp ON v1fp.doc_id = v2.doc_id
         |  WHERE v1fp.doc_id IS NULL OR v1fp.fp1 <>
         |    md5(regexp_replace(lower(trim(v2.text)), '\\s+', ' ', 'g'))),
         |alld AS (
         |  SELECT 0 AS side, doc_id, text FROM documents
         |  UNION ALL SELECT 1, doc_id, text FROM delta),
         |toks AS (SELECT side, doc_id, $toksSql AS tk FROM alld),
         |shq AS (
         |  SELECT DISTINCT side, doc_id, sh FROM (
         |    SELECT side, doc_id, unnest(list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
         |    FROM toks WHERE len(tk) >= 3) z),
         |h AS (SELECT side, doc_id, ${h32("sh")} AS h FROM shq),
         |sg AS (
         |  SELECT side, doc_id, p.p AS p,
         |    min(((2*p.p + 3) * h + (7*p.p + 1)) % 2147483647) AS v
         |  FROM h CROSS JOIN range(0, 16) p(p) GROUP BY side, doc_id, p.p),
         |sigl AS MATERIALIZED (SELECT side, doc_id, list(v ORDER BY p) AS s
         |         FROM sg GROUP BY side, doc_id),
         |bd AS MATERIALIZED (
         |  SELECT side, doc_id, b.b AS band,
         |    list_slice(s, b.b*4 + 1, b.b*4 + 4) AS bk
         |  FROM sigl CROSS JOIN range(0, 4) b(b)),
         |cand AS (
         |  SELECT DISTINCT d.doc_id AS doc_id, v.doc_id AS hist_id
         |  FROM bd d JOIN bd v
         |    ON d.band = v.band AND d.bk = v.bk AND d.side = 1 AND v.side = 0),
         |est AS (
         |  SELECT c.doc_id, c.hist_id,
         |    floor((len(list_filter(range(1, 17), i -> sa.s[i] = sb.s[i])) / 16.0)*1e4 + 0.5)/1e4
         |      AS ej
         |  FROM cand c
         |  JOIN sigl sa ON sa.side = 1 AND sa.doc_id = c.doc_id
         |  JOIN sigl sb ON sb.side = 0 AND sb.doc_id = c.hist_id),
         |hits AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near,
         |    min(hist_id) AS first_match
         |  FROM est WHERE ej >= 0.5 GROUP BY doc_id)
         |SELECT d.doc_id, d.status,
         |  CAST(coalesce(h.n_near, 0) AS BIGINT) AS n_near,
         |  CAST(coalesce(h.first_match, -1) AS BIGINT) AS first_match,
         |  h.n_near IS NOT NULL AS near_hit
         |FROM delta d LEFT JOIN hits h ON h.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // recall@10 of the 4-bit sign-LSH index vs exact top-10, per query;
    // tie policy (cos DESC, vec_id) matches q42's TopKAgg convention
    "q93_ann_recall_audit" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS qe,
         |    ${bucketSql("embedding", 4)} AS qb
         |  FROM embeddings WHERE vec_id < 10),
         |ex AS (
         |  SELECT q.q_id, e.vec_id, ${cosSql("e.embedding", "q.qe")} AS cos_sim
         |  FROM embeddings e, q WHERE e.vec_id >= 10),
         |exr AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos_sim DESC, vec_id) AS rk
         |    FROM ex WHERE NOT isnan(cos_sim)) z WHERE rk <= 10),
         |ls AS (
         |  SELECT q.q_id, e.vec_id, ${cosSql("e.embedding", "q.qe")} AS cos_sim
         |  FROM embeddings e JOIN q ON ${bucketSql("e.embedding", 4)} = q.qb
         |  WHERE e.vec_id >= 10),
         |lsr AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos_sim DESC, vec_id) AS rk
         |    FROM ls WHERE NOT isnan(cos_sim)) z WHERE rk <= 10),
         |ne AS (SELECT q_id, count(*) AS n_exact FROM exr GROUP BY 1),
         |nl AS (SELECT q_id, count(*) AS n_lsh FROM lsr GROUP BY 1),
         |ov AS (
         |  SELECT e.q_id, count(*) AS n_overlap
         |  FROM exr e JOIN lsr l ON l.q_id = e.q_id AND l.vec_id = e.vec_id
         |  GROUP BY 1)
         |SELECT q.q_id,
         |  CAST(coalesce(ne.n_exact, 0) AS BIGINT) AS n_exact,
         |  CAST(coalesce(nl.n_lsh, 0) AS BIGINT) AS n_lsh,
         |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  floor((CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) /
         |    CAST(coalesce(ne.n_exact, 1) AS DOUBLE))*1e4 + 0.5)/1e4 + 0.0 AS recall
         |FROM q LEFT JOIN ne ON ne.q_id = q.q_id
         |LEFT JOIN nl ON nl.q_id = q.q_id
         |LEFT JOIN ov ON ov.q_id = q.q_id
         |ORDER BY q.q_id""".stripMargin,

    // exact relational replay of the sequential per-source Bloom gate:
    // a position is covered for doc d iff its first setter precedes d;
    // suppressed ⟺ all k positions covered
    "q94_stream_bloom_gate" ->
      s"""WITH docs AS (
         |  SELECT source, doc_id, $fpSql AS fp FROM documents
         |  UNION ALL
         |  SELECT source, doc_id + 100000, $fpSql FROM documents),
         |pos AS (
         |  SELECT source, doc_id, fp,
         |    ${h32("fp || '#' || r.j")} % 1024 AS pos
         |  FROM docs CROSS JOIN range(0, 3) r(j)),
         |fs AS (SELECT source, pos, min(doc_id) AS first_doc
         |       FROM pos GROUP BY 1, 2),
         |cov AS (
         |  SELECT p.source, p.doc_id, p.fp,
         |    sum(CASE WHEN f.first_doc < p.doc_id THEN 1 ELSE 0 END) AS n_cov
         |  FROM pos p JOIN fs f ON f.source = p.source AND f.pos = p.pos
         |  GROUP BY 1, 2, 3),
         |ff AS (SELECT source, fp, min(doc_id) AS first_fp_doc
         |       FROM docs GROUP BY 1, 2)
         |SELECT c.doc_id, c.source,
         |  c.n_cov < 3 AS emitted,
         |  c.doc_id = ff.first_fp_doc AS exact_first,
         |  (c.n_cov = 3 AND c.doc_id = ff.first_fp_doc) AS false_drop
         |FROM cov c JOIN ff ON ff.source = c.source AND ff.fp = c.fp
         |ORDER BY c.doc_id""".stripMargin,

    // the oracle recomputes the v2 snapshot DIRECTLY; the Spark side
    // derives it by applying the changelog to v1 — the hash match is the
    // merge(v1, delta) ≡ snapshot(v2) theorem
    "q95_snapshot_merge" ->
      s"""SELECT doc_id,
         |  md5(regexp_replace(lower(trim(
         |    CASE WHEN doc_id % 7 = 0
         |      THEN coalesce(text, '') || ' v2-edit' ELSE text END)),
         |    '\\s+', ' ', 'g')) AS fp
         |FROM documents WHERE doc_id % 5 <> 4
         |UNION ALL
         |SELECT doc_id + 300000, $fpSql FROM documents WHERE doc_id % 11 = 0
         |ORDER BY doc_id""".stripMargin,

    // MAD outliers: two exact medians, robust threshold 3·1.4826·MAD
    // with the shared literal 4.4478
    "q96_robust_outliers" ->
      """WITH med AS (
        |  SELECT source,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
        |  FROM documents GROUP BY source),
        |dev AS (
        |  SELECT d.source, abs(CAST(d.n_chars AS DOUBLE) - m.med) AS adev,
        |    m.med
        |  FROM documents d JOIN med m ON m.source = d.source),
        |mad AS (
        |  SELECT source, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY source)
        |SELECT dev.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  floor((any_value(dev.med))*1e4 + 0.5)/1e4 + 0.0 AS median_chars,
        |  floor((any_value(mad.mad))*1e4 + 0.5)/1e4 + 0.0 AS mad_chars,
        |  CAST(sum(CASE WHEN dev.adev > 4.4478 * mad.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad ON mad.source = dev.source
        |GROUP BY dev.source ORDER BY dev.source""".stripMargin,

    // triangle census on the md5-LSH similarity graph at threshold 0.2:
    // wedges joined on the common lower endpoint, closed by a left join
    "q97_triangle_census" ->
      s"""WITH $minHashCtesSql,
         |ed AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.2),
         |wg AS (
         |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM ed e1 JOIN ed e2 ON e1.a = e2.a AND e1.b < e2.b),
         |cnt AS (
         |  SELECT count(*) AS n_wedges, count(e3.a) AS n_triangles
         |  FROM wg LEFT JOIN ed e3 ON e3.a = wg.v AND e3.b = wg.w),
         |ne AS (SELECT count(*) AS n_edges FROM ed)
         |SELECT CAST(ne.n_edges AS BIGINT) AS n_edges,
         |  CAST(cnt.n_wedges AS BIGINT) AS n_wedges,
         |  CAST(cnt.n_triangles AS BIGINT) AS n_triangles,
         |  CASE WHEN cnt.n_wedges = 0 THEN 0.0
         |       ELSE floor((CAST(cnt.n_triangles AS DOUBLE) / cnt.n_wedges)*1e4 + 0.5)/1e4
         |         + 0.0
         |  END AS wedge_closure
         |FROM ne, cnt""".stripMargin,

    // integer-exact PageRank, 5 unrolled rounds: contrib = r // deg,
    // r' = 150000 + (85 * Σ contrib) // 100 — BIGINT floor division is
    // summation-order-free, so the hash match replays the whole iteration
    "q98_pagerank" -> {
      val rounds = (0 until 5).map { i =>
        s"""c$i AS (SELECT r.node, r.r // d.deg AS c
           |        FROM r$i r JOIN deg d USING (node)),
           |r${i + 1} AS MATERIALIZED (
           |  SELECT s.dst AS node,
           |    CAST(150000 + (85 * sum(c.c)) // 100 AS BIGINT) AS r
           |  FROM sym s JOIN c$i c ON c.node = s.src GROUP BY s.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minHashCtesSql,
         |ed AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.2),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b, a FROM ed),
         |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM sym GROUP BY src),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg),
         |$rounds
         |SELECT r5.node AS doc_id, CAST(d.deg AS BIGINT) AS degree,
         |  r5.r AS rank_ppm,
         |  floor((CAST(r5.r AS DOUBLE) / 1000000.0)*1e4 + 0.5)/1e4 AS rank
         |FROM r5 JOIN deg d USING (node)
         |ORDER BY doc_id""".stripMargin
    },

    // Count-Min replay: bucket_r(t) = md5-32(t‖'#'‖r) mod 256; estimate =
    // min over 4 rows of the colliding-bucket sums — exact BIGINT both sides
    "q99_cms_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS t FROM documents),
         |tc AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
         |sk AS (
         |  SELECT r.r AS r,
         |    ${h32("t || '#' || CAST(r.r AS VARCHAR)")} % 256 AS bucket,
         |    CAST(sum(cnt) AS BIGINT) AS bsum
         |  FROM tc CROSS JOIN range(0, 4) r(r) GROUP BY 1, 2),
         |top AS (SELECT t, cnt FROM tc ORDER BY cnt DESC, t LIMIT 20),
         |est AS (
         |  SELECT top.t AS t, min(sk.bsum) AS cms
         |  FROM top CROSS JOIN range(0, 4) r(r)
         |  JOIN sk ON sk.r = r.r
         |    AND sk.bucket = ${h32("top.t || '#' || CAST(r.r AS VARCHAR)")} % 256
         |  GROUP BY 1)
         |SELECT top.t AS token, CAST(top.cnt AS BIGINT) AS exact_cnt,
         |  CAST(est.cms AS BIGINT) AS cms_est,
         |  CAST(est.cms - top.cnt AS BIGINT) AS overest
         |FROM top JOIN est USING (t)
         |ORDER BY exact_cnt DESC, token""".stripMargin,

    // SCD2: lead() closes each interval, row_number() versions it — both
    // over the one (doc_id, seq) window
    "q100_scd2_history" -> {
      def fp(c: String) =
        s"md5(regexp_replace(lower(trim($c)), '\\s+', ' ', 'g'))"
      s"""WITH chg AS (
         |  SELECT doc_id, 0 AS seq, ${fp("text")} AS fp FROM documents
         |  UNION ALL
         |  SELECT doc_id, 1, ${fp("text || ' rev1'")} FROM documents
         |  WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id, 2, ${fp("text || ' rev2'")} FROM documents
         |  WHERE doc_id % 21 = 0),
         |ts AS (
         |  SELECT doc_id, seq, fp,
         |    DATE '2024-01-01' + CAST(seq*30 + doc_id % 7 AS INTEGER)
         |      AS valid_from
         |  FROM chg)
         |SELECT doc_id, fp, valid_from,
         |  lead(valid_from) OVER w AS valid_to,
         |  (lead(valid_from) OVER w IS NULL) AS is_current,
         |  CAST(row_number() OVER w AS BIGINT) AS version
         |FROM ts
         |WINDOW w AS (PARTITION BY doc_id ORDER BY seq)
         |ORDER BY doc_id, version""".stripMargin
    },

    // ordered funnel: three stacked cumulative mins over the one
    // (user_id, ts, event_id) window, then per-user flags
    "q101_funnel" ->
      """WITH v AS (
        |  SELECT user_id, ts, event_id, event_type AS et,
        |    min(CASE WHEN event_type = 'view' THEN ts END) OVER w AS v1
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (
        |  SELECT *, min(CASE WHEN et = 'click' AND ts > v1 THEN ts END)
        |    OVER w AS c1
        |  FROM v
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (
        |  SELECT *, min(CASE WHEN et = 'purchase' AND ts > c1 THEN ts END)
        |    OVER w AS p1
        |  FROM c
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |u AS (
        |  SELECT user_id,
        |    max(CASE WHEN et = 'view' THEN 1 ELSE 0 END) AS f_view,
        |    max(CASE WHEN c1 IS NOT NULL THEN 1 ELSE 0 END) AS f_click,
        |    max(CASE WHEN p1 IS NOT NULL THEN 1 ELSE 0 END) AS f_purchase
        |  FROM p GROUP BY user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(f_view) AS BIGINT) AS n_view,
        |  CAST(sum(f_click) AS BIGINT) AS n_view_click,
        |  CAST(sum(f_purchase) AS BIGINT) AS n_full_funnel,
        |  CASE WHEN sum(f_view) = 0 THEN 0.0
        |       ELSE floor((CAST(sum(f_purchase) AS DOUBLE)
        |                  / CAST(sum(f_view) AS DOUBLE))*1e4 + 0.5)/1e4
        |  END AS view_to_purchase
        |FROM u""".stripMargin,

    // Morton interleave replayed bit-by-bit; blocks are the zkey >> 6 prefix
    "q102_zorder_layout" ->
      s"""WITH keyed AS (
         |  SELECT user_id % 256 AS x,
         |    CAST(dayofyear(ts) % 256 AS BIGINT) AS y
         |  FROM events),
         |z AS (SELECT x, y, ${Layout.zValueSql("x", "y")} AS zkey FROM keyed)
         |SELECT zkey >> 6 AS zblock, count(*) AS n_rows,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max,
         |  (max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS span
         |FROM z
         |GROUP BY 1 ORDER BY zblock""".stripMargin,

    // grouped top-k: the oracle states the WINDOW form; the engine's
    // bounded-aggregate form must agree row-for-row (ties by doc_id)
    "q103_top_quality" ->
      s"""WITH t AS (SELECT doc_id, source, text, $toksSql AS tk FROM documents),
         |c AS (
         |  SELECT doc_id, source,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS n_stop
         |  FROM t),
         |q AS (
         |  SELECT doc_id, source,
         |    floor((CASE WHEN n_tokens = 0 THEN 0.0
         |      ELSE least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.6 +
         |           (CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 0.4
         |      END)*1e4 + 0.5)/1e4 AS quality
         |  FROM c),
         |r AS (
         |  SELECT source, doc_id, quality,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY quality DESC, doc_id) AS rank
         |  FROM q)
         |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, quality
         |FROM r WHERE rank <= 3
         |ORDER BY source, rank""".stripMargin,

    // CMS inner-product join-size estimate vs the exact Σ cntL·cntR
    "q104_cms_join_card" ->
      s"""WITH l AS (SELECT user_id AS k, count(*) AS cnt FROM events
         |           WHERE event_type = 'view' GROUP BY 1),
         |r AS (SELECT user_id AS k, count(*) AS cnt FROM events
         |      WHERE event_type = 'purchase' GROUP BY 1),
         |ex AS (SELECT CAST(sum(l.cnt * r.cnt) AS BIGINT) AS exact_size
         |       FROM l JOIN r USING (k)),
         |skl AS (
         |  SELECT rr.r AS r,
         |    ${h32("CAST(k AS VARCHAR) || '#' || CAST(rr.r AS VARCHAR)")} % 256 AS bucket,
         |    CAST(sum(cnt) AS BIGINT) AS s
         |  FROM l CROSS JOIN range(0, 4) rr(r) GROUP BY 1, 2),
         |skr AS (
         |  SELECT rr.r AS r,
         |    ${h32("CAST(k AS VARCHAR) || '#' || CAST(rr.r AS VARCHAR)")} % 256 AS bucket,
         |    CAST(sum(cnt) AS BIGINT) AS s
         |  FROM r CROSS JOIN range(0, 4) rr(r) GROUP BY 1, 2),
         |ip AS (
         |  SELECT a.r, CAST(sum(a.s * b.s) AS BIGINT) AS ip
         |  FROM skl a JOIN skr b ON a.r = b.r AND a.bucket = b.bucket
         |  GROUP BY 1),
         |est AS (SELECT min(ip) AS cms_estimate FROM ip)
         |SELECT ex.exact_size, est.cms_estimate,
         |  est.cms_estimate - ex.exact_size AS overest,
         |  floor((CAST(est.cms_estimate - ex.exact_size AS DOUBLE)
         |        / CAST(ex.exact_size AS DOUBLE))*1e4 + 0.5)/1e4 AS rel_err
         |FROM ex, est""".stripMargin,

    // the IVM theorem stated directly: the oracle recomputes the summary
    // from the v2 snapshot; the engine maintains it as agg(v1) ⊕ Δ
    "q105_incr_agg" ->
      """WITH v2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2-edit' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 5 <> 4
        |  UNION ALL
        |  SELECT doc_id + 300000, source, text FROM documents
        |  WHERE doc_id % 11 = 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS sum_len
        |FROM v2 GROUP BY source ORDER BY source""".stripMargin,

    // blocked fuzzy link: block on first word + length band, verify
    // levenshtein ≤ 2 — both engines' textbook edit distance agree
    "q106_fuzzy_link" ->
      """WITH names AS (
        |  SELECT p_name, CAST(min(p_partkey) AS BIGINT) AS name_id
        |  FROM part GROUP BY p_name),
        |dict AS (
        |  SELECT name_id, p_name, string_split(p_name, ' ')[1] AS block,
        |    length(p_name) AS len
        |  FROM names),
        |dirty AS (
        |  SELECT name_id + 500000 AS variant_id,
        |    substr(p_name, 1, length(p_name)-2)
        |      || substr(p_name, length(p_name), 1) AS vname
        |  FROM names),
        |db AS (
        |  SELECT variant_id, vname, string_split(vname, ' ')[1] AS vblock,
        |    length(vname) AS vlen
        |  FROM dirty)
        |SELECT name_id, p_name, variant_id, vname,
        |  CAST(levenshtein(p_name, vname) AS BIGINT) AS dist
        |FROM dict JOIN db
        |  ON block = vblock AND abs(len - vlen) <= 2
        |WHERE levenshtein(p_name, vname) <= 2
        |ORDER BY name_id, variant_id""".stripMargin,

    // weeks are date_trunc Mondays in both engines; offsets are exact
    // day-diffs // 7 (both operands week-truncated → exact multiples)
    "q107_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id),
        |cells AS (
        |  SELECT cohort_wk, wk_offset, CAST(count(*) AS BIGINT) AS n_active
        |  FROM (
        |    SELECT DISTINCT f.cohort_wk,
        |      datediff('day', f.cohort_wk, ev.wk) // 7 AS wk_offset,
        |      ev.user_id
        |    FROM ev JOIN f USING (user_id))
        |  GROUP BY cohort_wk, wk_offset),
        |sizes AS (
        |  SELECT cohort_wk, n_active AS cohort_size FROM cells
        |  WHERE wk_offset = 0)
        |SELECT c.cohort_wk, c.wk_offset, c.n_active, s.cohort_size,
        |  floor((c.n_active / CAST(s.cohort_size AS DOUBLE))*1e4 + 0.5)/1e4 AS retention
        |FROM cells c JOIN sizes s USING (cohort_wk)
        |ORDER BY cohort_wk, wk_offset""".stripMargin,

    // q65's register math verbatim with event_type in every grouping key
    "q108_grouped_hll" ->
      s"""WITH h AS (
         |  SELECT event_type,
         |    ${h32("CAST(user_id AS VARCHAR)")} AS hv FROM events),
         |r AS (
         |  SELECT event_type, hv // 16777216 AS bucket,
         |    CASE WHEN hv % 16777216 = 0 THEN 25
         |         ELSE 25 - (CAST(floor(log2(hv % 16777216)) AS BIGINT) + 1)
         |    END AS rho
         |  FROM h),
         |regs AS (
         |  SELECT event_type, bucket, max(rho) AS reg FROM r GROUP BY 1, 2),
         |a AS (
         |  SELECT event_type, count(*) AS present,
         |    sum(power(2.0, -reg)) AS sinv
         |  FROM regs GROUP BY event_type),
         |e AS (
         |  SELECT event_type,
         |    (0.7213 / (1.0 + 1.079 / ${Sketches.hllM}))
         |      * ${Sketches.hllM}.0 * ${Sketches.hllM}.0
         |      / (sinv + (${Sketches.hllM} - present)) AS e_raw,
         |    ${Sketches.hllM} - present AS v
         |  FROM a),
         |est AS (
         |  SELECT event_type,
         |    floor((round(CASE WHEN e_raw <= ${2.5 * Sketches.hllM} AND v > 0
         |      THEN ${Sketches.hllM}.0 * ln(${Sketches.hllM}.0 / v)
         |      ELSE e_raw END, 8))*1e4 + 0.5)/1e4 AS hll_estimate
         |  FROM e),
         |ex AS (
         |  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
         |  FROM events GROUP BY event_type)
         |SELECT event_type, hll_estimate, exact_distinct,
         |  floor((abs(hll_estimate - exact_distinct)
         |    / CAST(exact_distinct AS DOUBLE))*1e4 + 0.5)/1e4 AS rel_err
         |FROM est JOIN ex USING (event_type)
         |ORDER BY event_type""".stripMargin,

    // Spark `percentile` and DuckDB `quantile_cont` share the R-7 linear
    // interpolation; divisions are rounded before ceil so a one-ulp
    // disagreement cannot flip the integer salt factor
    "q109_skew_profile" ->
      """WITH kc AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY o_custkey),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    CAST(max(cnt) AS BIGINT) AS max_cnt,
        |    quantile_cont(cnt, 0.5) AS p50d,
        |    quantile_cont(cnt, 0.99) AS p99d
        |  FROM kc)
        |SELECT n_keys, n_rows, max_cnt,
        |  floor((p50d)*1e4 + 0.5)/1e4 AS p50, floor((p99d)*1e4 + 0.5)/1e4 AS p99,
        |  floor((CAST(max_cnt AS DOUBLE) / p50d)*1e4 + 0.5)/1e4 AS skew_ratio,
        |  greatest(1, CAST(ceil(round(CAST(max_cnt AS DOUBLE) / p99d, 6))
        |    AS BIGINT)) AS salt_factor
        |FROM s""".stripMargin,

    // q71's micro-nat quantization over λ-interpolated bigram
    // probabilities; the λ constants are interpolated from the Scala side
    // so the two engines cannot drift
    "q110_bigram_logprob" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |toks AS (SELECT doc_id, unnest(tk) AS term FROM tk),
         |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c1
         |        FROM toks GROUP BY term),
         |t AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM uni),
         |bgs AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len(tk) - 1, 0) + 1),
         |    i -> array_to_string(tk[i:i+1], ' '))) AS bg
         |  FROM tk),
         |big AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
         |        FROM bgs GROUP BY bg),
         |u AS (
         |  SELECT doc_id,
         |    CAST(floor(round(ln(
         |      ${TextAnalysis.bigramLambda} * (CAST(c2 AS DOUBLE) / u1.c1)
         |      + ${1.0 - TextAnalysis.bigramLambda}
         |        * (CAST(u2.c1 AS DOUBLE) / total)), 8) * 1e6 + 0.5)
         |      AS BIGINT) AS u
         |  FROM bgs JOIN big USING (bg)
         |  JOIN uni u1 ON u1.term = string_split(bg, ' ')[1]
         |  JOIN uni u2 ON u2.term = string_split(bg, ' ')[2]
         |  CROSS JOIN t)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  floor((CAST(sum(u) AS DOUBLE) / count(*) / 1e6)*1e4 + 0.5)/1e4 + 0.0
         |    AS mean_logprob
         |FROM u GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // document-level PMI over sorted-distinct capped token sets; the
    // oracle generates pairs by self-join where the engine fans out
    // per-row — identical candidate sets because both slice the same
    // canonical (sorted, capped) list
    "q111_pmi_pairs" ->
      s"""WITH dt AS (
         |  SELECT doc_id,
         |    list_slice(list_sort(list_distinct($toksSql)), 1,
         |      ${TextAnalysis.pmiTokenCap}) AS ts
         |  FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |tokd AS (SELECT doc_id, unnest(ts) AS t FROM dt),
         |df AS (SELECT t, CAST(count(*) AS BIGINT) AS df
         |       FROM tokd GROUP BY t),
         |pc AS (
         |  SELECT x.t AS a, y.t AS b, CAST(count(*) AS BIGINT) AS n_ab
         |  FROM tokd x JOIN tokd y
         |    ON x.doc_id = y.doc_id AND x.t < y.t
         |  GROUP BY a, b
         |  HAVING count(*) >= ${TextAnalysis.pmiMinSupport})
         |SELECT pc.a, pc.b, n_ab, da.df AS df_a, db.df AS df_b,
         |  floor((round(ln(CAST(n_ab AS DOUBLE) * n_docs
         |    / (CAST(da.df AS DOUBLE) * db.df)), 8))*1e4 + 0.5)/1e4 AS pmi
         |FROM pc
         |JOIN df da ON da.t = pc.a
         |JOIN df db ON db.t = pc.b
         |CROSS JOIN n
         |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,

    // q42's window form restricted to different-label candidates; the
    // engine's TopKAgg orders by (rounded cos_sim DESC, vec_id) — the
    // same total order as the oracle's row_number
    "q112_hard_negatives" ->
      s"""WITH a AS (
         |  SELECT vec_id AS q_id, label AS q_label, embedding AS qe
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |s AS (
         |  SELECT a.q_id, a.q_label, e.vec_id,
         |    ${cosSql("e.embedding", "a.qe")} AS cos_sim
         |  FROM embeddings e, a WHERE e.label <> a.q_label),
         |r AS (
         |  SELECT q_id, q_label, vec_id, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rk
         |  FROM s WHERE NOT isnan(cos_sim))
         |SELECT q_id, q_label, rk, vec_id, cos_sim FROM r WHERE rk <= 5
         |ORDER BY q_id, rk""".stripMargin,

    // distance to the q51 centroid (rounded means ARE the model), then
    // per-label z from exact integer micro-unit sums — HUGEINT here,
    // decimal on the engine side, identical integers either way
    "q113_embed_outliers" ->
      """WITH cent AS (
        |  SELECT label, e.dim AS dim, floor((avg(e.v))*1e4 + 0.5)/1e4 + 0.0 AS mean_val
        |  FROM (
        |    SELECT label, unnest(list_transform(range(1, len(embedding) + 1),
        |      i -> {'dim': CAST(i AS BIGINT),
        |            'v': CAST(embedding[i] AS DOUBLE)})) AS e
        |    FROM embeddings)
        |  GROUP BY label, e.dim),
        |ca AS (
        |  SELECT label, list(mean_val ORDER BY dim) AS c
        |  FROM cent GROUP BY label),
        |d AS (
        |  SELECT vec_id, e.label,
        |    CAST(floor(sqrt(list_sum(list_transform(
        |      range(1, len(embedding) + 1),
        |      i -> (CAST(embedding[i] AS DOUBLE) - c[i])
        |         * (CAST(embedding[i] AS DOUBLE) - c[i])))) * 1e6 + 0.5)
        |      AS BIGINT) AS u
        |  FROM embeddings e JOIN ca USING (label)),
        |st AS (
        |  SELECT label, CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(u AS HUGEINT)) AS su,
        |    sum(CAST(u AS HUGEINT) * CAST(u AS HUGEINT)) AS su2
        |  FROM d GROUP BY label)
        |SELECT vec_id, label,
        |  floor((CAST(u AS DOUBLE) / 1e6)*1e4 + 0.5)/1e4 + 0.0 AS dist,
        |  floor((CAST(n * u - su AS DOUBLE)
        |    / sqrt(CAST(n * su2 - su * su AS DOUBLE)))*1e4 + 0.5)/1e4 + 0.0 AS z
        |FROM d JOIN st USING (label)
        |ORDER BY z DESC, vec_id LIMIT 20""".stripMargin,

    // the oracle states the NAIVE form (any shared token → exact Jaccard
    // ≥ τ); the engine's rarest-first prefix filter is lossless, so the
    // hash match proves no pair was dropped. τ is the exact rational
    // num/den — integer threshold test in both engines.
    "q114_setsim_join" ->
      s"""WITH base AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |dt AS (
         |  SELECT doc_id, list_sort(list_distinct(list_transform(
         |    range(1, greatest(len(tk) - 2, 0) + 1),
         |    i -> array_to_string(tk[i:i+2], ' ')))) AS ts
         |  FROM base WHERE len(tk) >= 3),
         |tok AS (SELECT doc_id, unnest(ts) AS t FROM dt),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id),
         |j AS (
         |  SELECT da, db,
         |    CAST(len(list_intersect(x.ts, y.ts)) AS BIGINT) AS inter,
         |    CAST(len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts))
         |      AS BIGINT) AS union_sz
         |  FROM cand
         |  JOIN dt x ON x.doc_id = da
         |  JOIN dt y ON y.doc_id = db)
         |SELECT da AS doc_a, db AS doc_b, inter, union_sz,
         |  floor((inter / CAST(union_sz AS DOUBLE))*1e4 + 0.5)/1e4 AS jaccard
         |FROM j
         |WHERE inter * ${DedupOps.setSimTauDen}
         |  >= union_sz * ${DedupOps.setSimTauNum}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Efraimidis–Spirakis keys from the shared md5-32 uniform; the key is
    // rounded to 8 decimals with a doc_id tiebreak before the top-k cut
    "q115_weighted_sample" ->
      s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         |  floor((ln((${h32("CAST(doc_id AS VARCHAR)")} + 0.5) / 4294967296.0)
         |    / n_chars)*1e8 + 0.5)/1e8 AS ks
         |FROM documents WHERE n_chars > 0
         |ORDER BY ks DESC, doc_id LIMIT 100""".stripMargin,

    // synchronous LPA unrolled: the engine's argmax is
    // max(struct(cnt, -lbl)) — identical total order to the oracle's
    // row_number(ORDER BY cnt DESC, lbl)
    "q116_communities" -> {
      val rounds = (0 until 3).map { i =>
        s"""n$i AS (
           |  SELECT s.dst, l.lbl, count(*) AS cnt
           |  FROM sym s JOIN l$i l ON l.node = s.src
           |  GROUP BY s.dst, l.lbl),
           |l${i + 1} AS MATERIALIZED (
           |  SELECT dst AS node, lbl FROM (
           |    SELECT dst, lbl, row_number() OVER (PARTITION BY dst
           |      ORDER BY cnt DESC, lbl) AS rk
           |    FROM n$i) z WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minHashCtesSql,
         |ed AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.2),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b, a FROM ed),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
         |$rounds,
         |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
         |       FROM l3 GROUP BY lbl)
         |SELECT l3.node AS doc_id, l3.lbl AS community, sz.community_size
         |FROM l3 JOIN sz USING (lbl)
         |ORDER BY doc_id""".stripMargin
    },

    // three unrolled BPE rounds; both engines merge with the SAME builtin
    // `replace` (literal, leftmost-non-overlapping), so every round's
    // corpus state is bit-identical
    "q117_bpe_train" -> {
      val out = (0 until TextAnalysis.bpeTrainRounds).map { i =>
        s"""SELECT CAST(${i + 1} AS BIGINT) AS round, t.a AS sym_a,
           |  t.b AS sym_b, t.cnt AS pair_count, v.vocab AS vocab_after
           |FROM t$i t CROSS JOIN v${i + 1} v""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $bpeTrainCtesSql
         |$out
         |ORDER BY round""".stripMargin
    },

    // one lead() window per user timeline, µs-truncated ts + event_id as
    // the deterministic order — then pure keyed counting
    "q118_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
        |    event_type
        |  FROM events),
        |p AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM e),
        |c AS (
        |  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS cnt
        |  FROM p WHERE nxt IS NOT NULL GROUP BY cur, nxt),
        |t AS (SELECT cur, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY cur)
        |SELECT c.cur, c.nxt, c.cnt,
        |  floor((c.cnt / CAST(t.tot AS DOUBLE))*1e4 + 0.5)/1e4 AS p
        |FROM c JOIN t USING (cur)
        |ORDER BY cur, nxt""".stripMargin,

    // the merge theorem replayed: even/odd register tables folded by
    // bucket-max vs the direct sketch — diff pinned to 0.0
    "q119_hll_merge" -> {
      def regs(px: String, pred: String) =
        s"""${px}h AS (
           |  SELECT ${h32("CAST(user_id AS VARCHAR)")} AS hv
           |  FROM events $pred),
           |${px}r AS (
           |  SELECT hv // 16777216 AS bucket,
           |    CASE WHEN hv % 16777216 = 0 THEN 25
           |         ELSE 25 - (CAST(floor(log2(hv % 16777216)) AS BIGINT) + 1)
           |    END AS rho
           |  FROM ${px}h),
           |${px}regs AS (
           |  SELECT bucket, max(rho) AS reg FROM ${px}r GROUP BY bucket)"""
          .stripMargin
      def est(px: String, regsName: String, outName: String) =
        s"""${px}a AS (
           |  SELECT count(*) AS present, sum(power(2.0, -reg)) AS sinv
           |  FROM $regsName),
           |${px}e AS (
           |  SELECT (0.7213 / (1.0 + 1.079 / ${Sketches.hllM}))
           |      * ${Sketches.hllM}.0 * ${Sketches.hllM}.0
           |      / (sinv + (${Sketches.hllM} - present)) AS e_raw,
           |    ${Sketches.hllM} - present AS v
           |  FROM ${px}a),
           |${px}est AS (
           |  SELECT floor((round(CASE WHEN e_raw <= ${2.5 * Sketches.hllM} AND v > 0
           |    THEN ${Sketches.hllM}.0 * ln(${Sketches.hllM}.0 / v)
           |    ELSE e_raw END, 8))*1e4 + 0.5)/1e4 AS $outName
           |  FROM ${px}e)""".stripMargin
      s"""WITH ${regs("ev", "WHERE event_id % 2 = 0")},
         |${regs("od", "WHERE event_id % 2 <> 0")},
         |${regs("al", "")},
         |mregs AS (
         |  SELECT bucket, max(reg) AS reg FROM (
         |    SELECT * FROM evregs UNION ALL SELECT * FROM odregs) u
         |  GROUP BY bucket),
         |${est("m", "mregs", "merged_estimate")},
         |${est("d", "alregs", "direct_estimate")}
         |SELECT merged_estimate, direct_estimate,
         |  floor((merged_estimate - direct_estimate)*1e4 + 0.5)/1e4 AS diff
         |FROM mest CROSS JOIN dest""".stripMargin
    },

    // per-source datasheet: quality CASE is q26's verbatim; the dominant
    // language is the oracle's row_number vs the engine's
    // min(struct(-cnt, lang)) — same total order
    "q120_data_card" ->
      s"""WITH t AS (
         |  SELECT source, lang, n_chars, text, $toksSql AS tk
         |  FROM documents),
         |b AS (
         |  SELECT source, lang, n_chars, $fpSql AS fp,
         |    floor((CASE WHEN len(tk) = 0 THEN 0.0
         |      ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 +
         |        (CAST(len(list_filter(tk,
         |          x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |         / CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4
         |      END)*1e4 + 0.5)/1e4 AS quality
         |  FROM t),
         |st AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
         |    quantile_cont(n_chars, 0.5) AS med,
         |    CAST(sum(CAST(floor(quality * 1e4 + 0.5) AS BIGINT)) AS BIGINT)
         |      AS qu
         |  FROM b GROUP BY source),
         |tl AS (
         |  SELECT source, lang AS top_lang, cnt AS top_cnt FROM (
         |    SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY count(*) DESC, lang) AS rk
         |    FROM b GROUP BY source, lang) z
         |  WHERE rk = 1)
         |SELECT st.source, n_docs, n_langs, top_lang,
         |  floor((CAST(top_cnt AS DOUBLE) / n_docs)*1e4 + 0.5)/1e4 AS top_lang_share,
         |  floor((med)*1e4 + 0.5)/1e4 AS median_chars,
         |  floor((CAST(n_docs - n_unique AS DOUBLE) / n_docs)*1e4 + 0.5)/1e4 AS dup_rate,
         |  floor((CAST(qu AS DOUBLE) / 1e4 / n_docs)*1e4 + 0.5)/1e4 AS mean_quality
         |FROM st JOIN tl USING (source)
         |ORDER BY source""".stripMargin,

    // order-aware index eval: DCG gains quantized to micro-units per
    // (query, rank) row, summed as BIGINTs — exact in both engines
    "q121_ranking_eval" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS qe,
         |    ${bucketSql("embedding", 4)} AS qb
         |  FROM embeddings WHERE vec_id < 10),
         |ex0 AS (
         |  SELECT q.q_id, e.vec_id, ${cosSql("e.embedding", "q.qe")} AS cos_sim
         |  FROM embeddings e, q WHERE e.vec_id >= 10),
         |ex AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, vec_id) AS rk
         |    FROM ex0 WHERE NOT isnan(cos_sim)) z WHERE rk <= 10),
         |ls0 AS (
         |  SELECT q.q_id, e.vec_id, ${cosSql("e.embedding", "q.qe")} AS cos_sim
         |  FROM embeddings e JOIN q ON ${bucketSql("e.embedding", 4)} = q.qb
         |  WHERE e.vec_id >= 10),
         |ls AS (
         |  SELECT q_id, vec_id, rk FROM (
         |    SELECT q_id, vec_id, CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rk
         |    FROM ls0 WHERE NOT isnan(cos_sim)) z WHERE rk <= 10),
         |rel AS (
         |  SELECT ls.q_id, ls.rk FROM ls
         |  JOIN ex ON ls.q_id = ex.q_id AND ls.vec_id = ex.vec_id),
         |sc AS (
         |  SELECT q_id, CAST(count(*) AS BIGINT) AS n_relevant,
         |    min(rk) AS first_rel,
         |    CAST(sum(CAST(floor(1e6 / log2(rk + 1.0) + 0.5) AS BIGINT))
         |      AS BIGINT) AS dcg_u
         |  FROM rel GROUP BY q_id),
         |ne AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM ex GROUP BY q_id),
         |id AS (
         |  SELECT ne.q_id, ne.n_exact,
         |    CAST(sum(CAST(floor(1e6 / log2(i.i + 1.0) + 0.5) AS BIGINT))
         |      AS BIGINT) AS idcg_u
         |  FROM ne CROSS JOIN range(1, 11) i(i) WHERE i.i <= ne.n_exact
         |  GROUP BY ne.q_id, ne.n_exact)
         |SELECT id.q_id, id.n_exact,
         |  CAST(coalesce(sc.n_relevant, 0) AS BIGINT) AS n_relevant,
         |  floor((CASE WHEN sc.first_rel IS NOT NULL
         |    THEN 1.0 / sc.first_rel ELSE 0.0 END)*1e4 + 0.5)/1e4 + 0.0 AS mrr,
         |  floor((coalesce(sc.dcg_u, 0) / CAST(id.idcg_u AS DOUBLE))*1e4 + 0.5)/1e4 + 0.0
         |    AS ndcg
         |FROM id LEFT JOIN sc USING (q_id)
         |ORDER BY q_id""".stripMargin,

    // directed near-subset detection; same naive-oracle-vs-prefix-filter
    // losslessness contract as q114, with the probe side's |A| as the
    // denominator
    "q122_containment_join" ->
      s"""WITH base AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |dt AS (
         |  SELECT doc_id, list_sort(list_distinct(list_transform(
         |    range(1, greatest(len(tk) - 2, 0) + 1),
         |    i -> array_to_string(tk[i:i+2], ' ')))) AS ts
         |  FROM base WHERE len(tk) >= 3),
         |tok AS (SELECT doc_id, unnest(ts) AS t FROM dt),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id <> b.doc_id),
         |j AS (
         |  SELECT da, db,
         |    CAST(len(list_intersect(x.ts, y.ts)) AS BIGINT) AS inter,
         |    CAST(len(x.ts) AS BIGINT) AS n_src
         |  FROM cand
         |  JOIN dt x ON x.doc_id = da
         |  JOIN dt y ON y.doc_id = db)
         |SELECT da AS src, db AS dst, inter, n_src,
         |  floor((inter / CAST(n_src AS DOUBLE))*1e4 + 0.5)/1e4 AS containment
         |FROM j
         |WHERE inter * ${DedupOps.containTauDen}
         |  >= n_src * ${DedupOps.containTauNum}
         |ORDER BY src, dst""".stripMargin,

    // probe set = home bucket + the 4 Hamming-1 buckets (xor masks);
    // recalls against the q42-shape exact top-10
    "q123_multiprobe_lsh" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS qe,
         |    ${bucketSql("embedding", 4)} AS qb
         |  FROM embeddings WHERE vec_id < 10),
         |pr AS (
         |  SELECT q_id, qe, xor(qb, m.m) AS pb, m.m = 0 AS is_home
         |  FROM q CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8]) AS m) m),
         |sc AS (
         |  SELECT q_id, vec_id, is_home, cos_sim FROM (
         |    SELECT p.q_id, e.vec_id, p.is_home,
         |      ${cosSql("e.embedding", "p.qe")} AS cos_sim
         |    FROM embeddings e JOIN pr p
         |      ON ${bucketSql("e.embedding", 4)} = p.pb
         |    WHERE e.vec_id >= 10) z
         |  WHERE NOT isnan(cos_sim)),
         |ex0 AS (
         |  SELECT q.q_id, e.vec_id, ${cosSql("e.embedding", "q.qe")} AS cos_sim
         |  FROM embeddings e, q WHERE e.vec_id >= 10),
         |ex AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, vec_id) AS rk
         |    FROM ex0 WHERE NOT isnan(cos_sim)) z WHERE rk <= 10),
         |sing AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_single
         |         FROM sc WHERE is_home GROUP BY q_id),
         |mult AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_multi
         |         FROM sc GROUP BY q_id),
         |stop AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, vec_id) AS rk
         |    FROM sc WHERE is_home) z WHERE rk <= 10),
         |mtop AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_sim DESC, vec_id) AS rk
         |    FROM sc) z WHERE rk <= 10),
         |srec AS (SELECT s.q_id, count(*) AS hits FROM stop s
         |         JOIN ex USING (q_id, vec_id) GROUP BY s.q_id),
         |mrec AS (SELECT s.q_id, count(*) AS hits FROM mtop s
         |         JOIN ex USING (q_id, vec_id) GROUP BY s.q_id)
         |SELECT q.q_id,
         |  CAST(coalesce(sing.n_single, 0) AS BIGINT) AS n_single,
         |  CAST(coalesce(mult.n_multi, 0) AS BIGINT) AS n_multi,
         |  floor((coalesce(srec.hits, 0) / 10.0)*1e4 + 0.5)/1e4 + 0.0 AS recall_single,
         |  floor((coalesce(mrec.hits, 0) / 10.0)*1e4 + 0.5)/1e4 + 0.0 AS recall_multi
         |FROM q
         |LEFT JOIN sing USING (q_id)
         |LEFT JOIN mult USING (q_id)
         |LEFT JOIN srec USING (q_id)
         |LEFT JOIN mrec USING (q_id)
         |ORDER BY q_id""".stripMargin,

    // paired 7-observed-day frames over the O(days) daily rollup; pure
    // integer drift test
    "q124_drift_report" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS ds,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT ds, cnt,
        |    CAST(sum(cnt) OVER (ORDER BY ds
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS recent7,
        |    CAST(sum(cnt) OVER (ORDER BY ds
        |      ROWS BETWEEN 13 PRECEDING AND 7 PRECEDING) AS BIGINT)
        |      AS prior7,
        |    count(*) OVER (ORDER BY ds
        |      ROWS BETWEEN 13 PRECEDING AND 7 PRECEDING) AS n_prior
        |  FROM daily)
        |SELECT ds, cnt, recent7, prior7,
        |  abs(recent7 - prior7) AS drift,
        |  abs(recent7 - prior7) * 2 > prior7 AS flagged
        |FROM w WHERE n_prior = 7 ORDER BY ds""".stripMargin,

    // deletion-list cascade: customers → their orders → those orders'
    // lineitems, plus the user's events; audited counts per relation
    "q125_forget_users" ->
      """WITH del AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
        |delord AS (
        |  SELECT o_orderkey AS k FROM orders
        |  WHERE o_custkey IN (SELECT k FROM del))
        |SELECT 'customer' AS table_name,
        |  CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_before,
        |  CAST((SELECT count(*) FROM customer
        |        WHERE c_custkey IN (SELECT k FROM del)) AS BIGINT) AS n_deleted,
        |  CAST((SELECT count(*) FROM customer) AS BIGINT)
        |    - CAST((SELECT count(*) FROM customer
        |            WHERE c_custkey IN (SELECT k FROM del)) AS BIGINT)
        |    AS n_after
        |UNION ALL
        |SELECT 'events',
        |  CAST((SELECT count(*) FROM events) AS BIGINT),
        |  CAST((SELECT count(*) FROM events
        |        WHERE user_id IN (SELECT k FROM del)) AS BIGINT),
        |  CAST((SELECT count(*) FROM events) AS BIGINT)
        |    - CAST((SELECT count(*) FROM events
        |            WHERE user_id IN (SELECT k FROM del)) AS BIGINT)
        |UNION ALL
        |SELECT 'lineitem',
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem
        |        WHERE l_orderkey IN (SELECT k FROM delord)) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT)
        |    - CAST((SELECT count(*) FROM lineitem
        |            WHERE l_orderkey IN (SELECT k FROM delord)) AS BIGINT)
        |UNION ALL
        |SELECT 'orders',
        |  CAST((SELECT count(*) FROM orders) AS BIGINT),
        |  CAST((SELECT count(*) FROM orders
        |        WHERE o_custkey IN (SELECT k FROM del)) AS BIGINT),
        |  CAST((SELECT count(*) FROM orders) AS BIGINT)
        |    - CAST((SELECT count(*) FROM orders
        |            WHERE o_custkey IN (SELECT k FROM del)) AS BIGINT)
        |ORDER BY table_name""".stripMargin,

    // the q100 history probed at three fixed dates: exactly one version
    // matches each (doc, date) — the training-serving-skew guard
    "q126_pit_join" -> {
      def fp(c: String) =
        s"md5(regexp_replace(lower(trim($c)), '\\s+', ' ', 'g'))"
      s"""WITH chg AS (
         |  SELECT doc_id, 0 AS seq, ${fp("text")} AS fp FROM documents
         |  UNION ALL
         |  SELECT doc_id, 1, ${fp("text || ' rev1'")} FROM documents
         |  WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id, 2, ${fp("text || ' rev2'")} FROM documents
         |  WHERE doc_id % 21 = 0),
         |ts AS (
         |  SELECT doc_id, seq, fp,
         |    DATE '2024-01-01' + CAST(seq*30 + doc_id % 7 AS INTEGER)
         |      AS valid_from
         |  FROM chg),
         |hist AS (
         |  SELECT doc_id, fp, valid_from,
         |    lead(valid_from) OVER w AS valid_to,
         |    (lead(valid_from) OVER w IS NULL) AS is_current,
         |    CAST(row_number() OVER w AS BIGINT) AS version
         |  FROM ts
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY seq)),
         |probes AS (
         |  SELECT doc_id, pd.probe_date FROM documents
         |  CROSS JOIN (SELECT unnest([DATE '2024-01-15', DATE '2024-02-15',
         |    DATE '2024-03-15']) AS probe_date) pd)
         |SELECT p.doc_id, p.probe_date, h.version, h.fp, h.is_current
         |FROM probes p JOIN hist h ON p.doc_id = h.doc_id
         |WHERE h.valid_from <= p.probe_date
         |  AND (h.valid_to IS NULL OR p.probe_date < h.valid_to)
         |ORDER BY p.doc_id, p.probe_date""".stripMargin
    },

    // the TTL gate's exact replay: one lag per fingerprint chain; gap
    // from last SEEN (admitted or not) > TTL admits — integer day math
    "q127_ttl_dedup" ->
      s"""WITH occ AS (
         |  SELECT $fpSql AS fp, doc_id, o.occ,
         |    CAST(doc_id % 30 + o.shift AS BIGINT) AS ts_day
         |  FROM documents
         |  CROSS JOIN (VALUES ${graft.streaming.TtlDedup.occShifts.zipWithIndex
           .map { case (s, i) => s"($i, $s)" }.mkString(", ")}) o(occ, shift)),
         |lagd AS (
         |  SELECT doc_id, occ, ts_day,
         |    lag(ts_day) OVER (PARTITION BY fp
         |      ORDER BY ts_day, doc_id, occ) AS prev
         |  FROM occ)
         |SELECT doc_id, occ, ts_day,
         |  (prev IS NULL OR ts_day - prev > ${graft.streaming.TtlDedup.ttlDays})
         |    AS admitted
         |FROM lagd ORDER BY doc_id, occ""".stripMargin,

    // the oracle aggregates the ORIGINAL table — a hash match proves the
    // engine's ORC write→read cycle lossless (q46's contract, columnar)
    "q128_orc_roundtrip" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS HUGEINT))
        |    AS DOUBLE) / 1e4 AS sum_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // same lossless-roundtrip contract for the Hive-partitioned layout;
    // the engine side must also PRUNE to the one partition (plan-asserted
    // in ColumnarRoundTripSpec)
    "q129_partitioned_scan" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    // per-row shingle/distinct arithmetic replayed with list ops; the
    // flag thresholds are interpolated from the one Scala source of truth
    "q130_repetition" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
         |g AS (
         |  SELECT doc_id, lang, tk,
         |    list_transform(range(1, len(tk)),
         |      i -> array_to_string(list_slice(tk, i, i + 1), ' ')) AS g2,
         |    list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(list_slice(tk, i, i + 2), ' ')) AS g3
         |  FROM t),
         |m AS (
         |  SELECT doc_id, lang,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CASE WHEN len(g2) <= 0 THEN 0.0 ELSE
         |      floor(((len(g2) - len(list_distinct(g2)))
         |        / CAST(len(g2) AS DOUBLE))*1e4 + 0.5)/1e4 END AS dup_bigram_frac,
         |    CASE WHEN len(g3) <= 0 THEN 0.0 ELSE
         |      floor(((len(g3) - len(list_distinct(g3)))
         |        / CAST(len(g3) AS DOUBLE))*1e4 + 0.5)/1e4 END AS dup_trigram_frac,
         |    CASE WHEN len(tk) = 0 THEN 0.0 ELSE
         |      floor((list_max(list_transform(list_distinct(tk),
         |        x -> len(list_filter(tk, y -> y = x))))
         |        / CAST(len(tk) AS DOUBLE))*1e4 + 0.5)/1e4 END AS top_token_frac
         |  FROM g)
         |SELECT doc_id, lang, n_tokens, dup_bigram_frac, dup_trigram_frac,
         |  top_token_frac,
         |  (dup_bigram_frac > ${TextAnalysis.dupBigramMax}
         |    OR top_token_frac > ${TextAnalysis.topTokenMax}) AS flagged
         |FROM m ORDER BY doc_id""".stripMargin,

    // the sketch is replayed bit-for-bit (shared md5-32 hash family,
    // integer k-th minima); only the final estimate divides
    "q131_kmv_intersect" ->
      s"""WITH ska AS (
         |  SELECT DISTINCT ${h32("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events WHERE event_type = 'view'
         |  ORDER BY h LIMIT ${Sketches.kmvK}),
         |skb AS (
         |  SELECT DISTINCT ${h32("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events WHERE event_type = 'purchase'
         |  ORDER BY h LIMIT ${Sketches.kmvK}),
         |th AS (
         |  SELECT least((SELECT max(h) FROM ska), (SELECT max(h) FROM skb))
         |    AS theta),
         |ns AS (
         |  SELECT count(*) AS n_sample
         |  FROM ska JOIN skb USING (h) CROSS JOIN th WHERE h < theta),
         |ex AS (
         |  SELECT count(*) AS exact_overlap FROM (
         |    SELECT user_id FROM events WHERE event_type = 'view'
         |    INTERSECT
         |    SELECT user_id FROM events WHERE event_type = 'purchase'))
         |SELECT n_sample, theta,
         |  floor((n_sample * 4294967296.0 / theta)*1e4 + 0.5)/1e4 AS kmv_estimate,
         |  exact_overlap,
         |  floor((abs(floor((n_sample * 4294967296.0 / theta)*1e4 + 0.5)/1e4
         |    - exact_overlap) / CAST(exact_overlap AS DOUBLE))*1e4 + 0.5)/1e4 AS rel_err
         |FROM ns, th, ex""".stripMargin,

    // greedy first-fit as a prefix sum: bin = floor(bytes-before / target)
    "q132_compaction_plan" ->
      s"""WITH f AS (
         |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS bytes
         |  FROM documents GROUP BY source, lang),
         |c AS (
         |  SELECT *, coalesce(sum(bytes) OVER (PARTITION BY source
         |    ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND 1 PRECEDING), 0) AS cum_before
         |  FROM f)
         |SELECT source, lang, n_docs, bytes,
         |  CAST(floor(cum_before / ${Layout.compactionTarget}.0) AS BIGINT)
         |    AS bin
         |FROM c ORDER BY source, lang""".stripMargin,

    // q61's canary chain with per-doc distinct-set sizes riding along;
    // Jaccard and bench-containment from the same matched-pair counts
    "q133_fuzzy_contamination" ->
      s"""WITH d AS (
         |  SELECT doc_id, coalesce(text, '')
         |    || CASE WHEN doc_id % ${CorpusOps.benchMod} = 0
         |              OR doc_id % ${CorpusOps.contamMod} = 0
         |       THEN ' ${CorpusOps.contaminationCanary}' ELSE '' END AS text
         |  FROM documents),
         |sets AS (
         |  SELECT doc_id, list_distinct(
         |    list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
         |      i -> array_to_string(toks[i:i+7], ' '))) AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM d)),
         |ex AS (
         |  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh,
         |    unnest(sh) AS shingle
         |  FROM sets),
         |pairs AS (
         |  SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
         |    count(*) AS n_shared,
         |    max(t.n_sh) AS n_train, max(b.n_sh) AS n_bench
         |  FROM ex t JOIN ex b ON t.shingle = b.shingle
         |  WHERE b.doc_id % ${CorpusOps.benchMod} = 0
         |    AND t.doc_id % ${CorpusOps.benchMod} <> 0
         |  GROUP BY train_doc, bench_doc)
         |SELECT train_doc, bench_doc, n_shared, n_train, n_bench,
         |  floor((n_shared / CAST(n_train + n_bench - n_shared AS DOUBLE))*1e4 + 0.5)/1e4
         |    AS jaccard,
         |  floor((n_shared / CAST(n_bench AS DOUBLE))*1e4 + 0.5)/1e4 AS containment
         |FROM pairs ORDER BY train_doc, bench_doc""".stripMargin,

    // vocabulary cut is deterministic (count DESC, token ASC); OOV words
    // fragment to characters — the BPE worst case
    "q134_tokenizer_fertility" ->
      s"""WITH words AS (
         |  SELECT lang, unnest($toksSql) AS w FROM documents),
         |vocab AS (
         |  SELECT w AS vw FROM (
         |    SELECT w, count(*) AS cnt FROM words GROUP BY w
         |    ORDER BY cnt DESC, w LIMIT ${CorpusOps.fertilityVocab})),
         |j AS (
         |  SELECT lang,
         |    CASE WHEN vw IS NOT NULL THEN 1
         |      ELSE len(w) END AS n_toks,
         |    CASE WHEN vw IS NOT NULL THEN 0 ELSE 1 END AS oov
         |  FROM words LEFT JOIN vocab ON w = vw)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(oov) AS BIGINT) AS n_oov,
         |  floor((sum(n_toks) / CAST(count(*) AS DOUBLE))*1e4 + 0.5)/1e4 AS fertility,
         |  floor((sum(oov) / CAST(count(*) AS DOUBLE))*1e4 + 0.5)/1e4 AS oov_rate
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin,

    // host/path re-derived with REGEXES so the match cross-checks Spark's
    // parse_url against an independent parse of the same synthetic URL
    "q135_url_host_stats" ->
      """WITH u AS (
        |  SELECT 'https://' || source || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example.com/' || lang || '/doc-'
        |      || CAST(doc_id AS VARCHAR) || '.html?ref=feed' AS url,
        |    lang, n_chars
        |  FROM documents),
        |p AS (
        |  SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
        |    CAST(len(string_split(
        |      regexp_extract(url, 'https://[^/]+(/[^?]*)', 1), '/')) - 1
        |      AS BIGINT) AS path_depth,
        |    lang, n_chars
        |  FROM u)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  max(path_depth) AS max_depth,
        |  floor((avg(CAST(n_chars AS DOUBLE)))*1e4 + 0.5)/1e4 AS avg_chars
        |FROM p GROUP BY host ORDER BY host""".stripMargin,

    // the q42 ranking semantics twice (full + truncated prefix), same
    // rounding, same NaN-exclusion policy, same (cos DESC, id ASC) ties
    "q136_matryoshka_audit" -> {
      val dims = AnnSearch.mrlDims
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS qv FROM embeddings
         |  WHERE vec_id < 5),
         |s AS (
         |  SELECT q.q_id, e.vec_id,
         |    ${cosSql("e.embedding", "q.qv")} AS cf,
         |    ${cosSql(s"list_slice(e.embedding, 1, $dims)",
                       s"list_slice(q.qv, 1, $dims)")} AS ct
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 5),
         |f AS (SELECT * FROM s WHERE NOT isnan(cf) AND NOT isnan(ct)),
         |rf AS (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cf DESC, vec_id) AS rk
         |  FROM f),
         |rt AS (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ct DESC, vec_id) AS rk
         |  FROM f),
         |tf AS (
         |  SELECT q_id, list(vec_id ORDER BY rk) AS ids_f
         |  FROM rf WHERE rk <= 10 GROUP BY q_id),
         |tt AS (
         |  SELECT q_id, list(vec_id ORDER BY rk) AS ids_t
         |  FROM rt WHERE rk <= 10 GROUP BY q_id)
         |SELECT tf.q_id,
         |  CAST(len(list_intersect(ids_f, ids_t)) AS BIGINT) AS n_overlap,
         |  ids_f[1] = ids_t[1] AS top1_agree,
         |  floor((len(list_intersect(ids_f, ids_t)) / 10.0)*1e4 + 0.5)/1e4
         |    AS overlap_frac
         |FROM tf JOIN tt ON tf.q_id = tt.q_id ORDER BY tf.q_id""".stripMargin
    },

    // the trained merges (shared CTE chain) applied to every word TYPE
    // in round order with the same leftmost non-overlapping `replace`
    "q137_bpe_encode" -> {
      val spaced = "' ' || regexp_replace(types.w, '(.)', '\\1 ', 'g')"
      val applied = (0 until TextAnalysis.bpeTrainRounds).foldLeft(spaced) {
        (acc, i) =>
          s"replace($acc,\n      ' ' || m$i.a || ' ' || m$i.b || ' ', ' ' || m$i.a || m$i.b || ' ')"
      }
      val mergeJoins = (0 until TextAnalysis.bpeTrainRounds)
        .map(i => s"CROSS JOIN t$i m$i").mkString(" ")
      s"""WITH $bpeTrainCtesSql,
         |types AS (SELECT DISTINCT w FROM w0),
         |enc AS (
         |  SELECT types.w AS w, CAST(len(string_split(trim(
         |    $applied), ' ')) AS BIGINT) AS n_bpe
         |  FROM types $mergeJoins),
         |occ AS (SELECT doc_id, unnest($toksSql) AS w FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(length(occ.w)) AS BIGINT) AS n_chars,
         |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
         |  floor((sum(length(occ.w)) / CAST(sum(n_bpe) AS DOUBLE))*1e4 + 0.5)/1e4
         |    AS chars_per_token
         |FROM occ JOIN enc ON occ.w = enc.w
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // the q55 est relation swept against the 1/16-aligned threshold
    // table; both aggregates derive from the same filtered relation
    "q138_dedup_sweep" ->
      s"""WITH $minHashCtesSql,
         |th AS (SELECT CAST(x AS DOUBLE) AS threshold FROM (VALUES
         |  ${DedupOps.sweepThresholds.map(t => s"($t)").mkString(", ")}) v(x)),
         |sv AS (
         |  SELECT threshold, a, b FROM est CROSS JOIN th
         |  WHERE est_jaccard >= threshold),
         |np AS (
         |  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM sv GROUP BY threshold),
         |nd AS (
         |  SELECT threshold, CAST(count(DISTINCT d) AS BIGINT)
         |    AS n_docs_affected
         |  FROM (SELECT threshold, unnest([a, b]) AS d FROM sv) z
         |  GROUP BY threshold),
         |tot AS (SELECT 2 * count(*) AS n_total FROM documents)
         |SELECT threshold, n_pairs, n_docs_affected,
         |  floor((n_docs_affected / CAST(n_total AS DOUBLE))*1e4 + 0.5)/1e4
         |    AS frac_affected
         |FROM np JOIN nd USING (threshold) CROSS JOIN tot
         |ORDER BY threshold""".stripMargin,

    // written files and retained-snapshot references both derive from
    // per-row CASE arithmetic over the version mods; vacuum = anti-join
    "q139_vacuum_plan" -> {
      import Layout.{vacAmend1Mod => a1, vacDeleteMod => dl,
        vacAmend2Mod => a2, vacBuckets => nb}
      s"""WITH d AS (
         |  SELECT doc_id, n_chars, doc_id % $nb AS bucket,
         |    doc_id % $a1 = 0 AS am1, doc_id % $dl = 0 AS del1,
         |    doc_id % $a2 = 0 AS am2
         |  FROM documents),
         |written AS (
         |  SELECT version, bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(n_chars) AS BIGINT) AS bytes
         |  FROM (
         |    SELECT n_chars, bucket, CAST(0 AS BIGINT) AS version FROM d
         |    UNION ALL
         |    SELECT n_chars, bucket, 1 FROM d WHERE am1
         |    UNION ALL
         |    SELECT n_chars, bucket, 2 FROM d WHERE am2 AND NOT del1) z
         |  GROUP BY version, bucket),
         |refs AS (
         |  SELECT DISTINCT version, bucket FROM (
         |    SELECT CASE WHEN am1 THEN CAST(1 AS BIGINT)
         |      ELSE 0 END AS version, bucket
         |    FROM d WHERE NOT del1
         |    UNION ALL
         |    SELECT CASE WHEN am2 THEN 2 WHEN am1 THEN 1 ELSE 0 END, bucket
         |    FROM d WHERE NOT del1) z)
         |SELECT w.version, w.bucket, n_rows, bytes,
         |  r.version IS NOT NULL AS referenced,
         |  CASE WHEN r.version IS NOT NULL THEN 0 ELSE bytes END
         |    AS reclaim_bytes
         |FROM written w LEFT JOIN refs r
         |  ON w.version = r.version AND w.bucket = r.bucket
         |ORDER BY w.version, w.bucket""".stripMargin
    },

    // q72's span grid with per-doc indices; adjacent duplicated spans
    // chain via the gap-and-islands constant idx - row_number()
    "q140_dup_runs" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + ${DedupOps.spanDupOffset}, text
         |  FROM documents WHERE doc_id % ${DedupOps.spanDupMod} = 0),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |spans AS (
         |  SELECT doc_id,
         |    unnest(range(0, len(toks) // ${DedupOps.spanLen})) AS idx,
         |    unnest(list_transform(range(0, len(toks) // ${DedupOps.spanLen}),
         |      i -> md5(array_to_string(
         |        list_slice(toks, i*${DedupOps.spanLen} + 1,
         |          i*${DedupOps.spanLen} + ${DedupOps.spanLen}), ' ')))) AS span
         |  FROM tk WHERE len(toks) >= ${DedupOps.spanLen}),
         |dup AS (
         |  SELECT s.doc_id, s.idx FROM spans s
         |  JOIN (SELECT span FROM spans GROUP BY span HAVING count(*) > 1) c
         |    USING (span)),
         |runs AS (
         |  SELECT doc_id, idx,
         |    idx - (row_number() OVER (PARTITION BY doc_id ORDER BY idx) - 1)
         |      AS grp
         |  FROM dup)
         |SELECT doc_id,
         |  CAST(min(idx) * ${DedupOps.spanLen} AS BIGINT) AS start_token,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(count(*) * ${DedupOps.spanLen} AS BIGINT) AS run_tokens,
         |  count(*) >= ${DedupOps.minRunSpans} AS long_run
         |FROM runs GROUP BY doc_id, grp
         |ORDER BY doc_id, start_token""".stripMargin,

    // bottom-k-by-hash sample sketch replayed bit-for-bit; merged and
    // direct sketches must agree exactly (the mergeability theorem),
    // sample quantiles audited against the exact rank quantile
    "q142_quantile_merge" -> {
      val k = Sketches.qsK
      val h = h32("CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")
      def quantiles(rel: String, name: String) =
        s"""  SELECT p, v AS $name
           |  FROM probs, (SELECT count(*) AS n FROM $rel) c,
           |    (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM $rel) r
           |  WHERE r.rn = CAST(floor((c.n - 1) * p) AS BIGINT) + 1""".stripMargin
      s"""WITH li AS (
         |  SELECT $h AS h, l_extendedprice AS v, l_orderkey % 2 AS part
         |  FROM lineitem),
         |ska AS (SELECT h, v FROM li WHERE part = 0 ORDER BY h, v LIMIT $k),
         |skb AS (SELECT h, v FROM li WHERE part = 1 ORDER BY h, v LIMIT $k),
         |merged AS (
         |  SELECT h, v FROM (SELECT h, v FROM ska
         |                    UNION ALL SELECT h, v FROM skb) u
         |  ORDER BY h, v LIMIT $k),
         |direct AS (SELECT h, v FROM li ORDER BY h, v LIMIT $k),
         |probs AS (SELECT CAST(unnest([${Sketches.qsProbs.mkString(", ")}])
         |  AS DOUBLE) AS p),
         |eq AS (
         |${quantiles("li", "exact_q")}),
         |dq AS (
         |${quantiles("direct", "direct_q")}),
         |mq AS (
         |${quantiles("merged", "merged_q")})
         |SELECT p, exact_q, direct_q, merged_q,
         |  floor((merged_q - direct_q)*1e4 + 0.5)/1e4 AS merge_diff,
         |  floor((abs(merged_q - exact_q) / exact_q)*1e4 + 0.5)/1e4 AS rel_err
         |FROM eq JOIN dq USING (p) JOIN mq USING (p)
         |ORDER BY p""".stripMargin
    },

    // both towers collapse to the md5 gray law (pixel(0,0) = sample(0)
    // = g), so the oracle replays the integer ranking without a codec —
    // the engine side went through the REAL PNG/WAV decode to get ghat
    "q141_crossmodal_eval" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(coalesce(text, '')), 1, 2) AS BIGINT)
        |      AS gv
        |  FROM documents),
        |med AS (SELECT doc_id AS media_id, gv AS ghat FROM g),
        |q AS (
        |  SELECT doc_id AS q_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |    gv AS gq
        |  FROM g WHERE doc_id < 20),
        |scored AS (
        |  SELECT q.q_id, m.media_id, 255 - abs(m.ghat - q.gq) AS sim
        |  FROM q CROSS JOIN med m),
        |ranked AS (
        |  SELECT q_id, media_id,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, media_id) AS rk
        |  FROM scored),
        |tr AS (
        |  SELECT q_id, rk FROM ranked WHERE media_id = q_id AND rk <= 10),
        |ties AS (
        |  SELECT q_id, CAST(count(*) AS BIGINT) AS n_ties
        |  FROM scored WHERE sim = 255 GROUP BY q_id)
        |SELECT q.q_id AS q_id, q.kind AS kind,
        |  coalesce(t.n_ties, 0) AS n_ties,
        |  coalesce(tr.rk, -1) AS true_rank,
        |  floor((CASE WHEN tr.rk IS NOT NULL THEN 1.0 / tr.rk
        |        ELSE 0.0 END)*1e4 + 0.5)/1e4 AS rr,
        |  coalesce(tr.rk, -1) = 1 AS hit1,
        |  tr.rk IS NOT NULL AS hitk
        |FROM q LEFT JOIN tr ON q.q_id = tr.q_id
        |  LEFT JOIN ties t ON q.q_id = t.q_id
        |ORDER BY q_id""".stripMargin,

    // base-only Lloyd's training (LIMIT-seeded), one extra M-step to the
    // stored centroids, then base/delta assignment against them; drift's
    // integer numerator (s_b·n_d − n_b·s_d) keeps everything exact until
    // one sqrt + one division
    "q143_ivf_delta" -> {
      import AnnSearch.{ivfDeltaMod => dm, ivfDriftTau => dt,
        ivfGrowthTau => gt}
      def assignStats(src: String, cb: String, pfx: String) =
        s"""s$pfx AS (
           |  SELECT q.vec_id, cb.c,
           |    CAST(list_sum(list_transform(range(1, len(q.e)+1),
           |      i -> q.e[i]*cb.s[i])) AS DOUBLE) / CAST(cb.n AS DOUBLE)
           |      AS score
           |  FROM $src q CROSS JOIN $cb cb),
           |a$pfx AS (
           |  SELECT vec_id, c AS list_id FROM (
           |    SELECT vec_id, c,
           |      row_number() OVER (PARTITION BY vec_id
           |        ORDER BY score DESC, c) AS rn
           |    FROM s$pfx) z WHERE rn = 1),
           |ex$pfx AS (
           |  SELECT a.list_id, unnest(q.e) AS v,
           |    unnest(range(1, len(q.e)+1)) AS dim
           |  FROM a$pfx a JOIN $src q USING (vec_id)),
           |m$pfx AS (
           |  SELECT list_id, dim, CAST(sum(v) AS BIGINT) AS s,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM ex$pfx GROUP BY 1, 2)""".stripMargin
      def carry(prev: String, m: String, out: String) =
        s"""$out AS (
           |  SELECT list_id AS c, list(s ORDER BY dim) AS s, min(n) AS n
           |  FROM $m GROUP BY list_id
           |  UNION ALL
           |  SELECT c, s, n FROM $prev
           |  WHERE c NOT IN (SELECT DISTINCT list_id FROM $m))""".stripMargin
      s"""WITH eqa AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS e
         |  FROM embeddings),
         |eqb AS (SELECT * FROM eqa WHERE vec_id % $dm <> 0),
         |eqd AS (SELECT * FROM eqa WHERE vec_id % $dm = 0),
         |cb0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS c, e AS s,
         |    CAST(1 AS BIGINT) AS n
         |  FROM (SELECT vec_id, e FROM eqb ORDER BY vec_id LIMIT 16) z),
         |${assignStats("eqb", "cb0", "1")},
         |${carry("cb0", "m1", "cb1")},
         |${assignStats("eqb", "cb1", "2")},
         |${carry("cb1", "m2", "cb2")},
         |${assignStats("eqb", "cb2", "b")},
         |${assignStats("eqd", "cb2", "d")},
         |cells AS (
         |  SELECT coalesce(b.list_id, d.list_id) AS list_id,
         |    coalesce(b.s, 0) AS s_b, coalesce(b.n, 0) AS n_b,
         |    coalesce(d.s, 0) AS s_d, coalesce(d.n, 0) AS n_d
         |  FROM mb b FULL OUTER JOIN md d
         |    ON b.list_id = d.list_id AND b.dim = d.dim),
         |per AS (
         |  SELECT list_id, max(n_b) AS n_base, max(n_d) AS n_delta,
         |    sum(CAST(s_b*n_d - n_b*s_d AS HUGEINT) * (s_b*n_d - n_b*s_d))
         |      AS ssq
         |  FROM cells GROUP BY list_id),
         |fin AS (
         |  SELECT list_id, n_base, n_delta,
         |    floor((n_delta / CAST(greatest(n_base, 1) AS DOUBLE))*1e4 + 0.5)/1e4
         |      AS growth,
         |    CASE WHEN n_base > 0 AND n_delta > 0 THEN
         |      floor((sqrt(CAST(ssq AS DOUBLE))
         |        / CAST(n_base*(n_base+n_delta) AS DOUBLE) / 1000.0)*1e6 + 0.5)/1e6
         |    ELSE 0.0 END AS drift
         |  FROM per)
         |SELECT list_id, n_base, n_delta, growth, drift,
         |  (n_base = 0 AND n_delta > 0) OR drift > $dt OR growth > $gt
         |    AS needs_retrain
         |FROM fin ORDER BY list_id""".stripMargin
    },

    // decode = strip separators from the merge chain's symbol string;
    // the hash match is the concatenativity theorem over all word types
    "q144_bpe_decode" -> {
      val spaced = "' ' || regexp_replace(types.w, '(.)', '\\1 ', 'g')"
      val applied = (0 until TextAnalysis.bpeTrainRounds).foldLeft(spaced) {
        (acc, i) =>
          s"replace($acc,\n      ' ' || m$i.a || ' ' || m$i.b || ' ', ' ' || m$i.a || m$i.b || ' ')"
      }
      val mergeJoins = (0 until TextAnalysis.bpeTrainRounds)
        .map(i => s"CROSS JOIN t$i m$i").mkString(" ")
      s"""WITH $bpeTrainCtesSql,
         |types AS (SELECT DISTINCT w FROM w0),
         |enc AS (
         |  SELECT types.w AS w, trim($applied) AS e
         |  FROM types $mergeJoins)
         |SELECT w, CAST(length(w) AS BIGINT) AS n_chars,
         |  CAST(len(string_split(e, ' ')) AS BIGINT) AS n_bpe,
         |  replace(e, ' ', '') AS decoded,
         |  replace(e, ' ', '') = w AS round_trip
         |FROM enc ORDER BY w""".stripMargin
    },

    // q71's scoring chain with lang riding along; tercile cuts are pure
    // integer rank arithmetic and bucket means re-quantize to 1e4 units
    "q145_ccnet_buckets" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY term),
         |t AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf),
         |u AS (
         |  SELECT doc_id, lang,
         |    CAST(floor(round(ln(CAST(tf AS DOUBLE) / CAST(total AS DOUBLE)), 8)
         |      * 1e6 + 0.5) AS BIGINT) AS u
         |  FROM toks JOIN tf USING (term) CROSS JOIN t),
         |sc AS (
         |  SELECT doc_id, lang,
         |    floor((CAST(sum(u) AS DOUBLE) / count(*) / 1e6)*1e4 + 0.5)/1e4 + 0.0
         |      AS mean_logprob
         |  FROM u GROUP BY doc_id, lang),
         |r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY mean_logprob DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n_lang
         |  FROM sc),
         |bk AS (
         |  SELECT lang,
         |    CASE WHEN rn * 3 <= n_lang THEN 'head'
         |         WHEN rn * 3 <= n_lang * 2 THEN 'middle'
         |         ELSE 'tail' END AS bucket,
         |    mean_logprob,
         |    CAST(floor(mean_logprob * 1e4 + 0.5) AS BIGINT) AS m4
         |  FROM r)
         |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  floor((CAST(sum(m4) AS DOUBLE) / count(*) / 1e4)*1e4 + 0.5)/1e4 + 0.0
         |    AS mean_bucket_logprob,
         |  min(mean_logprob) AS min_logprob,
         |  max(mean_logprob) AS max_logprob
         |FROM bk GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,

    // corpus counts DERIVE from the per-source relation; per-term KL
    // contributions quantized to micro-units before the exact sum
    "q146_source_kl" ->
      s"""WITH st AS (
         |  SELECT source, term, CAST(count(*) AS BIGINT) AS tf_s
         |  FROM (SELECT source, unnest($toksSql) AS term FROM documents) z
         |  GROUP BY 1, 2),
         |ct AS (SELECT term, CAST(sum(tf_s) AS BIGINT) AS tf_c
         |       FROM st GROUP BY term),
         |ts AS (SELECT source, CAST(sum(tf_s) AS BIGINT) AS t_s
         |       FROM st GROUP BY source),
         |tc AS (SELECT CAST(sum(t_s) AS BIGINT) AS t_c FROM ts),
         |u AS (
         |  SELECT source,
         |    CAST(floor((CAST(tf_s AS DOUBLE) / CAST(t_s AS DOUBLE)) *
         |      round(ln((CAST(tf_s AS DOUBLE) * CAST(t_c AS DOUBLE))
         |        / (CAST(t_s AS DOUBLE) * CAST(tf_c AS DOUBLE))), 8)
         |      * 1e6 + 0.5) AS BIGINT) AS u
         |  FROM st JOIN ct USING (term) JOIN ts USING (source)
         |  CROSS JOIN tc)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
         |  floor((CAST(sum(u) AS DOUBLE) / 1e6)*1e6 + 0.5)/1e6 + 0.0 AS kl
         |FROM u GROUP BY source ORDER BY source""".stripMargin,

    // hashed-bigram feature table (≤4096 rows) with Laplace-smoothed
    // log-ratios in micro-units; per-doc weights are exact integer sums
    "q147_dsir_weights" -> {
      val b = CorpusOps.dsirBuckets
      s"""WITH tk AS (
         |  SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |fe AS (
         |  SELECT doc_id, lang, ${h32("bg")} % $b AS f
         |  FROM (
         |    SELECT doc_id, lang, unnest(list_transform(
         |      range(1, greatest(len(toks) - 1, 0) + 1),
         |      i -> array_to_string(toks[i:i+1], ' '))) AS bg
         |    FROM tk) z),
         |raw AS (SELECT f, CAST(count(*) AS BIGINT) AS c_r
         |        FROM fe GROUP BY f),
         |tgt AS (SELECT f, CAST(count(*) AS BIGINT) AS c_t
         |        FROM fe WHERE lang = '${CorpusOps.dsirTargetLang}'
         |        GROUP BY f),
         |tot AS (
         |  SELECT (SELECT CAST(sum(c_r) AS BIGINT) FROM raw) AS t_r,
         |         (SELECT CAST(sum(c_t) AS BIGINT) FROM tgt) AS t_t),
         |wt AS (
         |  SELECT raw.f AS f,
         |    CAST(floor(round(ln(
         |      (CAST(coalesce(c_t, 0) + 1 AS DOUBLE) * CAST(t_r + $b AS DOUBLE))
         |      / (CAST(t_t + $b AS DOUBLE) * CAST(c_r + 1 AS DOUBLE))), 8)
         |      * 1e6 + 0.5) AS BIGINT) AS u
         |  FROM raw LEFT JOIN tgt ON raw.f = tgt.f CROSS JOIN tot)
         |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_feats,
         |  CAST(floor(CAST(sum(u) AS DOUBLE) / 100.0 + 0.5) AS BIGINT)
         |    / 1e4 AS weight
         |FROM fe JOIN wt USING (f)
         |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin
    },

    // q138's sweep pattern over per-doc token counts: exact integer
    // truncation/padding mass per candidate context length
    "q148_padding_sweep" ->
      s"""WITH d AS (
         |  SELECT CAST(len($toksSql) AS BIGINT) AS n FROM documents
         |  WHERE len($toksSql) > 0),
         |lens AS (SELECT CAST(unnest([${CorpusOps.packSweepLens
              .mkString(", ")}]) AS BIGINT) AS max_len)
         |SELECT max_len, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n > max_len THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_truncated,
         |  CAST(sum(CASE WHEN n > max_len THEN n - max_len ELSE 0 END)
         |    AS BIGINT) AS tokens_lost,
         |  CAST(sum(CASE WHEN n < max_len THEN max_len - n ELSE 0 END)
         |    AS BIGINT) AS pad_tokens,
         |  floor((CAST(sum(least(n, max_len)) AS DOUBLE)
         |    / CAST(count(*) * max_len AS DOUBLE))*1e4 + 0.5)/1e4 + 0.0 AS utilization
         |FROM d CROSS JOIN lens
         |GROUP BY max_len ORDER BY max_len""".stripMargin,

    // the q67 component chain rolled up by family size — the dedup
    // policy report (heavy tail = threshold too loose)
    "q149_cluster_histogram" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |ids AS (SELECT doc_id FROM corpus),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |$keeperCompCtes,
         |labeled AS MATERIALIZED (
         |  SELECT i.doc_id, coalesce(c.keeper0, i.doc_id) AS keeper
         |  FROM ids i LEFT JOIN comp c ON c.node = i.doc_id),
         |cs AS (SELECT keeper, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM labeled GROUP BY keeper)
         |SELECT cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
         |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    // q55's estimate joined to the exact distinct-shingle Jaccard of
    // the same pairs; the error column audits the 16-perm estimator
    "q150_minhash_accuracy" ->
      s"""WITH $minHashCtesSql,
         |prs AS (SELECT a, b, est_jaccard FROM est
         |        WHERE est_jaccard >= 0.5),
         |ssz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |        FROM shq GROUP BY doc_id),
         |inter AS (
         |  SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS ni
         |  FROM prs p
         |  JOIN shq x ON x.doc_id = p.a
         |  JOIN shq y ON y.doc_id = p.b AND y.sh = x.sh
         |  GROUP BY p.a, p.b),
         |ex AS (
         |  SELECT p.a, p.b, p.est_jaccard,
         |    floor((coalesce(i.ni, 0) /
         |      CAST(na.n + nb.n - coalesce(i.ni, 0) AS DOUBLE))*1e4 + 0.5)/1e4
         |      AS exact_jaccard
         |  FROM prs p
         |  LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
         |  JOIN ssz na ON na.doc_id = p.a
         |  JOIN ssz nb ON nb.doc_id = p.b)
         |SELECT a, b, est_jaccard, exact_jaccard,
         |  floor((abs(est_jaccard - exact_jaccard))*1e4 + 0.5)/1e4 AS abs_err
         |FROM ex ORDER BY a, b""".stripMargin,

    // q26's score swept against q60's gate as the label; P/R/F1 in
    // integer-ratio forms, kappa's parenthesization pinned cross-engine
    "q151_quality_pr" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(length(text) - length(regexp_replace(text,
         |      '[\\p{P}\\p{S}]', '', 'g')) AS BIGINT) AS n_punct,
         |    CAST(len(list_filter(tk,
         |      x -> x IN ('the','a','of','and','to','in'))) AS BIGINT)
         |      AS n_stop,
         |    floor((CAST(length(array_to_string(tk, '')) AS DOUBLE)
         |      / CAST(greatest(len(tk), 1) AS DOUBLE))*1e4 + 0.5)/1e4 AS mean_word_len,
         |    floor((1.0 - CAST(len(list_distinct(tk)) AS DOUBLE)
         |      / CAST(greatest(len(tk), 1) AS DOUBLE))*1e4 + 0.5)/1e4 AS dup_ratio
         |  FROM t),
         |sig AS (
         |  SELECT doc_id,
         |    floor((CASE WHEN n_tokens = 0 THEN 0.0
         |      ELSE least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.6 +
         |        (CAST(n_stop AS DOUBLE)
         |          / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 0.4
         |      END)*1e4 + 0.5)/1e4 AS quality,
         |    (n_tokens >= ${TextAnalysis.gopherMinWords}
         |     AND dup_ratio < ${TextAnalysis.gopherMaxDupRatio}
         |     AND mean_word_len BETWEEN ${TextAnalysis.gopherMeanLen._1}
         |       AND ${TextAnalysis.gopherMeanLen._2}) AS passes
         |  FROM c),
         |th AS (SELECT CAST(unnest([${TextAnalysis.prThresholds
              .mkString(", ")}]) AS DOUBLE) AS threshold),
         |cnt AS (
         |  SELECT threshold,
         |    CAST(sum(CASE WHEN quality >= threshold AND passes
         |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN quality >= threshold AND NOT passes
         |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN quality < threshold AND passes
         |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN quality < threshold AND NOT passes
         |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM sig CROSS JOIN th GROUP BY threshold)
         |SELECT threshold, tp, fp, fn, tn,
         |  CASE WHEN tp + fp = 0 THEN 0.0
         |    ELSE floor((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))*1e4 + 0.5)/1e4
         |  END AS precision,
         |  CASE WHEN tp + fn = 0 THEN 0.0
         |    ELSE floor((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))*1e4 + 0.5)/1e4
         |  END AS recall,
         |  CASE WHEN 2*tp + fp + fn = 0 THEN 0.0
         |    ELSE floor((CAST(2*tp AS DOUBLE)
         |      / CAST(2*tp + fp + fn AS DOUBLE))*1e4 + 0.5)/1e4
         |  END AS f1,
         |  floor(((CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
         |    - (CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
         |       + CAST(fn + tn AS DOUBLE) * CAST(fp + tn AS DOUBLE))
         |      / (CAST(tp + fp + fn + tn AS DOUBLE)
         |         * CAST(tp + fp + fn + tn AS DOUBLE)))
         |  / (1.0 - (CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
         |       + CAST(fn + tn AS DOUBLE) * CAST(fp + tn AS DOUBLE))
         |      / (CAST(tp + fp + fn + tn AS DOUBLE)
         |         * CAST(tp + fp + fn + tn AS DOUBLE))))*1e4 + 0.5)/1e4 + 0.0 AS kappa
         |FROM cnt ORDER BY threshold""".stripMargin,

    // the engine writes two parquet snapshots with DIFFERENT schemas and
    // mergeSchema-reads them; the oracle derives the same relation from
    // the original table with a parity CASE — NULLs land exactly on the
    // pre-evolution rows iff the storage cycle is lossless
    "q152_schema_evolution" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, n_chars, $toksSql AS tk FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n_chars,
         |    CASE WHEN doc_id % 2 <> 0 THEN
         |      floor((CASE WHEN len(tk) = 0 THEN 0.0
         |        ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 +
         |          (CAST(len(list_filter(tk,
         |            x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |            / CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4
         |        END)*1e4 + 0.5)/1e4
         |    ELSE NULL END AS quality
         |  FROM t)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(quality) AS BIGINT) AS n_with_quality,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  floor((CAST(sum(CAST(floor(quality * 1e4 + 0.5) AS BIGINT))
         |    AS DOUBLE) / count(quality) / 1e4)*1e4 + 0.5)/1e4 + 0.0 AS mean_quality
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // q140's run chain applied as an edit: long runs cut, kept stream
    // fingerprinted — the hash match proves the rewrite token-for-token
    "q153_dedup_rewrite" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + ${DedupOps.spanDupOffset}, text
         |  FROM documents WHERE doc_id % ${DedupOps.spanDupMod} = 0),
         |tkc AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |spans AS (
         |  SELECT doc_id,
         |    unnest(range(0, len(tk) // ${DedupOps.spanLen})) AS idx,
         |    unnest(list_transform(range(0, len(tk) // ${DedupOps.spanLen}),
         |      i -> md5(array_to_string(
         |        list_slice(tk, i*${DedupOps.spanLen} + 1,
         |          i*${DedupOps.spanLen} + ${DedupOps.spanLen}), ' '))))
         |      AS span
         |  FROM tkc WHERE len(tk) >= ${DedupOps.spanLen}),
         |dup AS (
         |  SELECT s.doc_id, s.idx FROM spans s
         |  JOIN (SELECT span FROM spans GROUP BY span HAVING count(*) > 1) c
         |    USING (span)),
         |grps AS (
         |  SELECT doc_id, idx,
         |    idx - (row_number() OVER (PARTITION BY doc_id ORDER BY idx) - 1)
         |      AS grp
         |  FROM dup),
         |runs AS (
         |  SELECT doc_id,
         |    CAST(min(idx) * ${DedupOps.spanLen} AS BIGINT) AS s,
         |    CAST(count(*) * ${DedupOps.spanLen} AS BIGINT) AS l
         |  FROM grps GROUP BY doc_id, grp
         |  HAVING count(*) >= ${DedupOps.minRunSpans}),
         |rpd AS (
         |  SELECT doc_id, list({'s': s, 'l': l}) AS rs
         |  FROM runs GROUP BY doc_id),
         |cut AS (
         |  SELECT t.doc_id, t.tk, coalesce(r.rs, []) AS rs
         |  FROM tkc t LEFT JOIN rpd r USING (doc_id)),
         |kept AS (
         |  SELECT doc_id, tk,
         |    list_filter(list_transform(range(0, len(tk)),
         |        i -> {'t': tk[i + 1], 'i': i}),
         |      st -> len(list_filter(rs,
         |        r -> st.i >= r.s AND st.i < r.s + r.l)) = 0) AS ks
         |  FROM cut)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(tk) - len(ks) AS BIGINT) AS n_cut,
         |  CAST(len(ks) AS BIGINT) AS n_kept,
         |  md5(coalesce(
         |    array_to_string(list_transform(ks, st -> st.t), ' '), ''))
         |    AS kept_fp
         |FROM kept ORDER BY doc_id""".stripMargin,

    // fixed rule order = reason attribution; every signal reuses its
    // already-oracled per-row form (q60 word stats, q130 repetition,
    // q26 composite score) in one scan
    "q154_filter_pipeline" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
         |m AS (
         |  SELECT doc_id, lang,
         |    CAST(len(tk) AS BIGINT) AS n_words,
         |    CASE WHEN len(tk) <= 1 THEN 0.0 ELSE
         |      floor(((len(g2) - len(list_distinct(g2)))
         |        / CAST(len(g2) AS DOUBLE))*1e4 + 0.5)/1e4 END AS dup_bigram_frac,
         |    CASE WHEN len(tk) = 0 THEN 0.0 ELSE
         |      floor((list_max(list_transform(list_distinct(tk),
         |        x -> len(list_filter(tk, y -> y = x))))
         |        / CAST(len(tk) AS DOUBLE))*1e4 + 0.5)/1e4 END AS top_token_frac,
         |    floor((CAST(length(array_to_string(tk, '')) AS DOUBLE)
         |      / CAST(greatest(len(tk), 1) AS DOUBLE))*1e4 + 0.5)/1e4 AS mean_word_len,
         |    floor((CASE WHEN len(tk) = 0 THEN 0.0
         |      ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 +
         |        (CAST(len(list_filter(tk,
         |          x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |          / CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4
         |      END)*1e4 + 0.5)/1e4 AS quality
         |  FROM (
         |    SELECT doc_id, lang, tk,
         |      list_transform(range(1, len(tk)),
         |        i -> array_to_string(list_slice(tk, i, i + 1), ' ')) AS g2
         |    FROM t) z)
         |SELECT doc_id, lang, n_words,
         |  CASE
         |    WHEN n_words < ${TextAnalysis.gopherMinWords} THEN 'too_short'
         |    WHEN dup_bigram_frac > ${TextAnalysis.dupBigramMax}
         |      OR top_token_frac > ${TextAnalysis.topTokenMax}
         |      THEN 'repetitive'
         |    WHEN NOT (mean_word_len BETWEEN ${TextAnalysis.gopherMeanLen._1}
         |      AND ${TextAnalysis.gopherMeanLen._2}) THEN 'word_shape'
         |    WHEN quality < ${TextAnalysis.filterQualityFloor}
         |      THEN 'low_quality'
         |    ELSE 'keep' END AS reason
         |FROM m ORDER BY doc_id""".stripMargin,

    // α=0.5 temperature share over token mass; floor of one pinned
    // double product allocates the budget identically in both engines
    "q155_token_budget" ->
      s"""WITH tl AS (
         |  SELECT lang, CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |tot AS (
         |  SELECT sum(sqrt(CAST(n_tokens AS DOUBLE))) AS sum_sq FROM tl)
         |SELECT lang, n_tokens,
         |  floor((sqrt(CAST(n_tokens AS DOUBLE)) / sum_sq)*1e6 + 0.5)/1e6 AS weight,
         |  CAST(floor(${CorpusOps.mixBudgetTokens}.0 *
         |    (sqrt(CAST(n_tokens AS DOUBLE)) / sum_sq)) AS BIGINT)
         |    AS target_tokens,
         |  floor((CAST(floor(${CorpusOps.mixBudgetTokens}.0 *
         |    (sqrt(CAST(n_tokens AS DOUBLE)) / sum_sq)) AS DOUBLE)
         |    / CAST(n_tokens AS DOUBLE))*1e4 + 0.5)/1e4 AS epochs,
         |  CAST(floor(${CorpusOps.mixBudgetTokens}.0 *
         |    (sqrt(CAST(n_tokens AS DOUBLE)) / sum_sq)) AS BIGINT)
         |    > n_tokens AS oversampled
         |FROM tl CROSS JOIN tot ORDER BY lang""".stripMargin,

    // each distinct span attributed to its min-doc_id first occurrence;
    // deciles cut by doc_id vs max id; cumulative over ten rows only
    "q156_novelty_curve" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |spans AS (
         |  SELECT doc_id, unnest(list_transform(range(0, len(toks) // 5),
         |    i -> md5(array_to_string(list_slice(toks, i*5 + 1, i*5 + 5),
         |      ' ')))) AS span
         |  FROM tk WHERE len(toks) >= 5),
         |mx AS (SELECT max(doc_id) AS max_id FROM documents),
         |pd AS (
         |  SELECT least(9, CAST(floor(doc_id * 10 / (max_id + 1))
         |      AS BIGINT)) AS decile,
         |    CAST(count(*) AS BIGINT) AS n_spans
         |  FROM spans CROSS JOIN mx GROUP BY 1),
         |fd AS (
         |  SELECT least(9, CAST(floor(first_doc * 10 / (max_id + 1))
         |      AS BIGINT)) AS decile,
         |    CAST(count(*) AS BIGINT) AS n_new
         |  FROM (SELECT span, min(doc_id) AS first_doc
         |        FROM spans GROUP BY span) f
         |  CROSS JOIN mx GROUP BY 1),
         |j AS (
         |  SELECT pd.decile, pd.n_spans, coalesce(fd.n_new, 0) AS n_new
         |  FROM pd LEFT JOIN fd ON pd.decile = fd.decile),
         |c AS (
         |  SELECT decile, n_spans, n_new,
         |    CAST(sum(n_spans) OVER (ORDER BY decile
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_spans,
         |    CAST(sum(n_new) OVER (ORDER BY decile
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_new
         |  FROM j)
         |SELECT decile, n_spans, CAST(n_new AS BIGINT) AS n_new,
         |  cum_spans, cum_new,
         |  floor((CAST(n_new AS DOUBLE) / CAST(n_spans AS DOUBLE))*1e4 + 0.5)/1e4
         |    AS novelty_rate,
         |  floor((CAST(cum_new AS DOUBLE) / CAST(cum_spans AS DOUBLE))*1e4 + 0.5)/1e4
         |    AS cum_distinct_frac
         |FROM c ORDER BY decile""".stripMargin,

    // the q133 pair chain rolled up to a per-train-doc verdict; all
    // train ids surface (unmatched keep with zero hits)
    "q157_decontaminate" ->
      s"""WITH d AS (
         |  SELECT doc_id, coalesce(text, '')
         |    || CASE WHEN doc_id % ${CorpusOps.benchMod} = 0
         |              OR doc_id % ${CorpusOps.contamMod} = 0
         |       THEN ' ${CorpusOps.contaminationCanary}' ELSE '' END AS text
         |  FROM documents),
         |sets AS (
         |  SELECT doc_id, list_distinct(
         |    list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
         |      i -> array_to_string(toks[i:i+7], ' '))) AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM d)),
         |ex AS (
         |  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh,
         |    unnest(sh) AS shingle
         |  FROM sets),
         |pairs AS (
         |  SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
         |    count(*) AS n_shared, max(b.n_sh) AS n_bench
         |  FROM ex t JOIN ex b ON t.shingle = b.shingle
         |  WHERE b.doc_id % ${CorpusOps.benchMod} = 0
         |    AND t.doc_id % ${CorpusOps.benchMod} <> 0
         |  GROUP BY train_doc, bench_doc),
         |agg AS (
         |  SELECT train_doc AS doc_id,
         |    CAST(count(*) AS BIGINT) AS n_bench_hits,
         |    max(floor((n_shared / CAST(n_bench AS DOUBLE))*1e4 + 0.5)/1e4)
         |      AS max_containment
         |  FROM pairs GROUP BY train_doc)
         |SELECT t.doc_id,
         |  coalesce(a.n_bench_hits, 0) AS n_bench_hits,
         |  coalesce(a.max_containment, 0.0) AS max_containment,
         |  CASE WHEN coalesce(a.max_containment, 0.0)
         |    >= ${CorpusOps.contamDropTau} THEN 'drop'
         |    ELSE 'keep' END AS status
         |FROM (SELECT doc_id FROM documents
         |      WHERE doc_id % ${CorpusOps.benchMod} <> 0) t
         |LEFT JOIN agg a ON t.doc_id = a.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    // exact integer sums/sums-of-squares on the e3 grid; the variance
    // composition (ssq − s²/n)/n is pinned term for term
    "q158_embedding_health" ->
      """WITH eq AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS e
        |  FROM embeddings),
        |st AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s,
        |    CAST(sum(v * v) AS BIGINT) AS ssq
        |  FROM (
        |    SELECT unnest(range(1, len(e)+1)) AS dim, unnest(e) AS v
        |    FROM eq) z
        |  GROUP BY dim),
        |sv AS (
        |  SELECT dim, n, s,
        |    CAST(n AS HUGEINT) * ssq - CAST(s AS HUGEINT) * s AS vnum
        |  FROM st),
        |tot AS (SELECT sum(vnum) AS vnum_tot FROM sv)
        |SELECT dim,
        |  CAST(floor(CAST(s * 1000 AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
        |    AS BIGINT) / 1e6 AS mean,
        |  floor((CAST(vnum AS DOUBLE) / CAST(n * n AS DOUBLE) / 1e6)*1e6 + 0.5)/1e6
        |    AS variance,
        |  floor((CAST(vnum AS DOUBLE) / CAST(vnum_tot AS DOUBLE))*1e6 + 0.5)/1e6
        |    AS var_share
        |FROM sv CROSS JOIN tot ORDER BY dim""".stripMargin,

    // q21's fingerprint replay banded into 8-bit keys; the pigeonhole
    // candidates verified by popcount — never all-pairs
    "q159_simhash_pairs" ->
      s"""WITH $simPairCtesSql
         |SELECT a, b, hamming FROM shp ORDER BY a, b""".stripMargin,

    // both pair sets over the same doubled corpus; the Venn rollup
    // carries each bucket's known-exact-dup count (ground truth by
    // construction: the shifted copies)
    "q160_detector_agreement" ->
      s"""WITH $minHashCtesSql,
         |$simPairCtesSql,
         |mh AS (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |fo AS (
         |  SELECT coalesce(m.a, s.a) AS a, coalesce(m.b, s.b) AS b,
         |    CASE WHEN m.a IS NOT NULL AND s.a IS NOT NULL THEN 'both'
         |         WHEN m.a IS NOT NULL THEN 'minhash_only'
         |         ELSE 'simhash_only' END AS method
         |  FROM mh m FULL OUTER JOIN shp s
         |    ON m.a = s.a AND m.b = s.b)
         |SELECT method, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN b = a + ${DedupOps.dupOffset}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups
         |FROM fo GROUP BY method ORDER BY method""".stripMargin,

    // history collapses to its distinct span set; the batch left-joins
    // it span-keyed — the q156 diagnostic at ingestion time
    "q161_batch_novelty" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |spans AS (
         |  SELECT doc_id, unnest(list_transform(range(0, len(toks) // 5),
         |    i -> md5(array_to_string(list_slice(toks, i*5 + 1, i*5 + 5),
         |      ' ')))) AS span
         |  FROM tk WHERE len(toks) >= 5),
         |hist AS (
         |  SELECT DISTINCT span FROM spans
         |  WHERE doc_id % ${CorpusOps.batchNovMod} <> 0),
         |b AS (
         |  SELECT s.doc_id, s.span, h.span IS NOT NULL AS seen
         |  FROM spans s LEFT JOIN hist h ON s.span = h.span
         |  WHERE s.doc_id % ${CorpusOps.batchNovMod} = 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
         |  CAST(sum(CASE WHEN seen THEN 0 ELSE 1 END) AS BIGINT) AS n_novel,
         |  floor((sum(CASE WHEN seen THEN 0 ELSE 1 END)
         |    / CAST(count(*) AS DOUBLE))*1e4 + 0.5)/1e4 AS novelty_rate
         |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the keyed md5 remap is a pure function, so integrity is preserved
    // by construction; the audit proves it relationally per referencing
    // relation (distinct counts + orphan counts before vs after)
    "q162_pseudonymize" ->
      """WITH cust AS (
        |  SELECT c_custkey AS id,
        |    md5('u:' || CAST(c_custkey AS VARCHAR)) AS p
        |  FROM customer),
        |rel AS (
        |  SELECT 'orders' AS relation, o_custkey AS rid FROM orders
        |  UNION ALL
        |  SELECT 'events', user_id FROM events)
        |SELECT relation,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT rid) AS BIGINT) AS n_ids,
        |  CAST(count(DISTINCT md5('u:' || CAST(rid AS VARCHAR)))
        |    AS BIGINT) AS n_pids,
        |  CAST(count(DISTINCT CASE WHEN rid NOT IN (SELECT id FROM cust)
        |    THEN rid END) AS BIGINT) AS n_orphans_before,
        |  CAST(count(DISTINCT CASE WHEN md5('u:' || CAST(rid AS VARCHAR))
        |    NOT IN (SELECT p FROM cust)
        |    THEN md5('u:' || CAST(rid AS VARCHAR)) END) AS BIGINT)
        |    AS n_orphans_after,
        |  count(DISTINCT rid) = count(DISTINCT md5('u:' ||
        |    CAST(rid AS VARCHAR)))
        |  AND count(DISTINCT CASE WHEN rid NOT IN (SELECT id FROM cust)
        |    THEN rid END) = count(DISTINCT CASE
        |    WHEN md5('u:' || CAST(rid AS VARCHAR))
        |      NOT IN (SELECT p FROM cust)
        |    THEN md5('u:' || CAST(rid AS VARCHAR)) END) AS intact
        |FROM rel GROUP BY relation ORDER BY relation""".stripMargin,

    // q35's assignment chain; list ranks by (dot desc, c asc) are pure
    // array arithmetic; per-nprobe candidates ranked and recalled
    // against the exact top-10
    "q163_ivf_probe_sweep" -> {
      val cos = cosSql("e.embedding", "q.qe")
      s"""WITH cents AS (
         |  SELECT list(list_transform(embedding, x -> CAST(x AS DOUBLE))
         |    ORDER BY vec_id) AS cs
         |  FROM embeddings WHERE vec_id < 16),
         |a AS (
         |  SELECT vec_id, embedding,
         |    list_transform(cs, c -> list_sum(list_transform(
         |      range(1, len(embedding)+1),
         |      i -> CAST(embedding[i] AS DOUBLE) * c[i]))) AS dots
         |  FROM embeddings, cents),
         |asg AS (
         |  SELECT vec_id, embedding, dots,
         |    CAST(list_indexof(dots, list_max(dots)) AS BIGINT) AS list_id
         |  FROM a),
         |q AS (
         |  SELECT embedding AS qe,
         |    list_transform(range(1, len(dots)+1), c ->
         |      CAST(len(list_filter(range(1, len(dots)+1), i ->
         |        dots[i] > dots[c] OR (dots[i] = dots[c] AND i < c))) + 1
         |        AS BIGINT)) AS ranks
         |  FROM asg WHERE vec_id = 0),
         |nps AS (SELECT CAST(unnest([${AnnSearch.probeSweep
              .mkString(", ")}]) AS BIGINT) AS nprobe),
         |cand AS (
         |  SELECT * FROM (
         |    SELECT nprobe, e.vec_id, $cos AS cos
         |    FROM asg e, q, nps
         |    WHERE e.vec_id <> 0
         |      AND q.ranks[CAST(e.list_id AS INTEGER)] <= nprobe) z
         |  WHERE NOT isnan(cos)),
         |topk AS (
         |  SELECT nprobe, vec_id,
         |    row_number() OVER (PARTITION BY nprobe
         |      ORDER BY cos DESC, vec_id) AS rk
         |  FROM cand),
         |exact AS (
         |  SELECT e.vec_id
         |  FROM embeddings e,
         |    (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
         |  WHERE e.vec_id <> 0
         |  ORDER BY $cos DESC, vec_id LIMIT 10),
         |nc AS (
         |  SELECT nprobe, CAST(count(*) AS BIGINT) AS n_candidates
         |  FROM cand GROUP BY nprobe),
         |rc AS (
         |  SELECT t.nprobe, CAST(count(*) AS BIGINT) AS n_recalled
         |  FROM topk t JOIN exact x ON t.vec_id = x.vec_id
         |  WHERE t.rk <= 10 GROUP BY t.nprobe),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_total
         |  FROM embeddings WHERE vec_id <> 0)
         |SELECT n.nprobe, nc.n_candidates,
         |  floor((nc.n_candidates / CAST(tot.n_total AS DOUBLE))*1e4 + 0.5)/1e4
         |    AS scanned_frac,
         |  coalesce(rc.n_recalled, 0) AS n_recalled,
         |  floor((coalesce(rc.n_recalled, 0) / 10.0)*1e4 + 0.5)/1e4 AS recall
         |FROM nps n JOIN nc USING (nprobe)
         |LEFT JOIN rc ON rc.nprobe = n.nprobe CROSS JOIN tot
         |ORDER BY n.nprobe""".stripMargin
    },

    // cluster-balanced budget: the q82 trained-codebook assignment
    // (rounded-double centroids, argmax tie → lowest cluster) feeding
    // the q155 sqrt-temperature allocation with cluster as the key
    "q164_cluster_budget" ->
      s"""WITH $ivfTrainCtesSql,
         |cv AS (
         |  SELECT list_id,
         |    list(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0)*1e6 + 0.5)/1e6 + 0.0
         |      ORDER BY dim) AS c
         |  FROM m2 GROUP BY list_id),
         |sc AS (
         |  SELECT e.vec_id, cv.list_id,
         |    list_sum(list_transform(range(1, len(e.embedding)+1),
         |      i -> CAST(e.embedding[i] AS DOUBLE) * cv.c[i])) AS score
         |  FROM embeddings e CROSS JOIN cv),
         |asg AS (
         |  SELECT vec_id, list_id AS cluster FROM (
         |    SELECT vec_id, list_id,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY score DESC, list_id) AS rn
         |    FROM sc) z WHERE rn = 1),
         |tk AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |tc AS (
         |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n) AS BIGINT) AS n_tokens
         |  FROM asg JOIN tk ON vec_id = doc_id GROUP BY cluster),
         |tot AS (
         |  SELECT sum(sqrt(CAST(n_tokens AS DOUBLE))) AS sum_sq FROM tc)
         |SELECT cluster, n_docs, n_tokens,
         |  floor((sqrt(CAST(n_tokens AS DOUBLE)) / sum_sq)*1e6 + 0.5)/1e6 AS weight,
         |  CAST(floor(${CorpusOps.mixBudgetTokens}.0 *
         |    (sqrt(CAST(n_tokens AS DOUBLE)) / sum_sq)) AS BIGINT)
         |    AS target_tokens,
         |  floor((CAST(floor(${CorpusOps.mixBudgetTokens}.0 *
         |    (sqrt(CAST(n_tokens AS DOUBLE)) / sum_sq)) AS DOUBLE)
         |    / CAST(n_tokens AS DOUBLE))*1e4 + 0.5)/1e4 AS epochs,
         |  CAST(floor(${CorpusOps.mixBudgetTokens}.0 *
         |    (sqrt(CAST(n_tokens AS DOUBLE)) / sum_sq)) AS BIGINT)
         |    > n_tokens AS oversampled
         |FROM tc CROSS JOIN tot ORDER BY cluster""".stripMargin,

    // media capstone: the corpus (base + seeded payload copies + seeded
    // truncated blobs) and every stage verdict recomputed from the
    // generation laws alone — a wrong decode, gate, or election breaks
    // the hash without the oracle touching a codec
    "q165_media_capstone" -> {
      import Multimodal.{capstoneDupMod => dm, capstoneCorruptMod => cm,
        capstoneDupOffset => doff, capstoneCorruptOffset => coff,
        capstoneGateLo => lo, capstoneGateHi => hi}
      s"""WITH d AS (
         |  SELECT doc_id, coalesce(text, '') AS text FROM documents),
         |m0 AS (
         |  SELECT doc_id AS base_id, doc_id AS media_id, true AS ok FROM d
         |  UNION ALL
         |  SELECT doc_id, doc_id + $doff, true FROM d WHERE doc_id % $dm = 0
         |  UNION ALL
         |  SELECT doc_id, doc_id + $coff, false FROM d
         |  WHERE doc_id % $cm = 0),
         |g AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(text), 1, 2) AS BIGINT) AS g
         |  FROM d),
         |feat AS (
         |  SELECT m0.media_id,
         |    CASE WHEN base_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         |    m0.ok AS decode_ok,
         |    CASE WHEN m0.ok AND base_id % 2 = 0
         |      THEN 1 + base_id % 8 ELSE -1 END AS width,
         |    CASE WHEN m0.ok AND base_id % 2 = 0
         |      THEN 1 + base_id % 5 ELSE -1 END AS height,
         |    CAST(CASE WHEN m0.ok AND base_id % 2 = 0
         |      THEN list_sum(list_transform(range(0, 1 + base_id % 5), y ->
         |        list_sum(list_transform(range(0, 1 + base_id % 8), x ->
         |          (3*x + 5*y + g.g) % 256))))
         |      ELSE -1 END AS BIGINT) AS pixel_sum,
         |    CASE WHEN m0.ok AND base_id % 2 = 1
         |      THEN 16 + base_id % 32 ELSE -1 END AS n_frames,
         |    CAST(CASE WHEN m0.ok AND base_id % 2 = 1
         |      THEN list_sum(list_transform(range(0, 16 + base_id % 32), i ->
         |        (7*i + g.g) % 256))
         |      ELSE -1 END AS BIGINT) AS sample_sum
         |  FROM m0 JOIN g ON g.doc_id = m0.base_id),
         |gated AS (
         |  SELECT *,
         |    decode_ok AND
         |      $lo * (CASE WHEN kind = 'image' THEN width * height
         |                  ELSE n_frames END)
         |        <= (CASE WHEN kind = 'image' THEN pixel_sum
         |                 ELSE sample_sum END) AND
         |      (CASE WHEN kind = 'image' THEN pixel_sum
         |            ELSE sample_sum END)
         |        < $hi * (CASE WHEN kind = 'image' THEN width * height
         |                      ELSE n_frames END) AS gate_ok
         |  FROM feat),
         |grp AS (
         |  SELECT kind, width, height, pixel_sum, n_frames, sample_sum,
         |    min(media_id) AS keeper_id,
         |    CAST(count(*) AS BIGINT) AS n_copies
         |  FROM gated WHERE gate_ok
         |  GROUP BY 1, 2, 3, 4, 5, 6)
         |SELECT f.media_id, f.kind, f.decode_ok, f.gate_ok,
         |  coalesce(grp.n_copies, -1) AS n_copies,
         |  coalesce(grp.keeper_id, -1) AS keeper_id,
         |  f.gate_ok AND f.media_id = coalesce(grp.keeper_id, -1) AS kept
         |FROM gated f LEFT JOIN grp USING (kind, width, height, pixel_sum,
         |  n_frames, sample_sum)
         |ORDER BY f.media_id""".stripMargin
    },

    // streaming-pipeline replay: q94's sequential-gate theorem (a Bloom
    // position is set for d iff an earlier doc hashes to it) extended by
    // the stateless quality cut — the curated table the stream appends
    "q166_curate_stream" -> {
      import graft.streaming.BloomGate
      import graft.streaming.CuratePipeline.{minTokens, maxTokens}
      // per-doc u4 score — the q168 `sc` expression verbatim
      val uSql = "CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0 " +
        "ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 + " +
        "(CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) " +
        "/ CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4 " +
        "END) * 1e4 + 0.5) AS BIGINT)"
      s"""WITH base AS (
         |  SELECT source, doc_id, $fpSql AS fp, $toksSql AS tk
         |  FROM documents),
         |scored AS (
         |  SELECT source, doc_id, fp,
         |    CAST(len(tk) AS BIGINT) AS n_tokens, $uSql AS q_u4
         |  FROM base),
         |docs AS (
         |  SELECT * FROM scored
         |  UNION ALL
         |  SELECT source, doc_id + 100000, fp, n_tokens, q_u4 FROM scored),
         |freq AS (SELECT source, q_u4 AS u, CAST(count(*) AS BIGINT) AS cnt
         |         FROM scored GROUP BY source, q_u4),
         |cum AS (
         |  SELECT source, u, cnt,
         |    sum(cnt) OVER (PARTITION BY source ORDER BY u) AS cum,
         |    sum(cnt) OVER (PARTITION BY source) AS n
         |  FROM freq),
         |thr AS (
         |  SELECT source, min(u) AS thr_u4 FROM cum
         |  WHERE cum * 100 >= n * ${TextAnalysis.floorQuantilePct}
         |  GROUP BY source),
         |pos AS (
         |  SELECT source, doc_id, fp, n_tokens, q_u4,
         |    ${h32("fp || '#' || r.j")} % ${BloomGate.mBits} AS pos
         |  FROM docs CROSS JOIN range(0, ${BloomGate.kHashes}) r(j)),
         |fs AS (SELECT source, pos, min(doc_id) AS first_doc
         |       FROM pos GROUP BY 1, 2),
         |cov AS (
         |  SELECT p.source, p.doc_id, p.fp, p.n_tokens, p.q_u4,
         |    sum(CASE WHEN f.first_doc < p.doc_id THEN 1 ELSE 0 END) AS n_cov
         |  FROM pos p JOIN fs f ON f.source = p.source AND f.pos = p.pos
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT c.doc_id, c.source, c.fp, c.n_tokens, c.q_u4
         |FROM cov c JOIN thr t ON t.source = c.source
         |WHERE c.n_cov < ${BloomGate.kHashes}
         |  AND c.n_tokens >= $minTokens AND c.n_tokens < $maxTokens
         |  AND c.q_u4 >= t.thr_u4
         |ORDER BY c.doc_id""".stripMargin
    },
    "q167_bm25_rank" -> {
      val qvals = CorpusOps.bm25Queries
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      s"""WITH qt(query_id, term) AS (VALUES $qvals),
         |lens AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               CAST(sum(dl) AS BIGINT) AS t FROM lens),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest($toksSql) AS term FROM documents) z
         |  WHERE term IN (SELECT term FROM qt)
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |       FROM tf GROUP BY term),
         |s AS (
         |  SELECT qt.query_id, tf.doc_id,
         |    CAST(floor(
         |      round(ln(CAST(2*n+2 AS DOUBLE) / CAST(2*df+1 AS DOUBLE)), 8)
         |      * ((44.0 * CAST(t AS DOUBLE) * CAST(tf AS DOUBLE))
         |        / (20.0 * CAST(t AS DOUBLE) * CAST(tf AS DOUBLE)
         |          + 6.0 * CAST(t AS DOUBLE)
         |          + 18.0 * CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)))
         |      * 1e4 + 0.5) AS BIGINT) AS u
         |  FROM tf JOIN qt USING (term) JOIN df USING (term)
         |  JOIN lens USING (doc_id) CROSS JOIN tot),
         |agg AS (SELECT query_id, doc_id, CAST(sum(u) AS BIGINT) AS score_u4
         |        FROM s GROUP BY 1, 2),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_u4 DESC, doc_id) AS BIGINT) AS rk FROM agg)
         |SELECT CAST(query_id AS BIGINT) AS query_id, rk, doc_id, score_u4
         |FROM r WHERE rk <= ${CorpusOps.bm25K}
         |ORDER BY query_id, rk""".stripMargin
    },
    "q168_quality_floor" ->
      s"""WITH t AS (SELECT source, text, $toksSql AS tk FROM documents),
         |sc AS (
         |  SELECT source,
         |    CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0
         |      ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 +
         |        (CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |          / CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4
         |      END) * 1e4 + 0.5) AS BIGINT) AS u
         |  FROM t),
         |freq AS (SELECT source, u, CAST(count(*) AS BIGINT) AS cnt
         |         FROM sc GROUP BY source, u),
         |cum AS (
         |  SELECT source, u, cnt,
         |    sum(cnt) OVER (PARTITION BY source ORDER BY u) AS cum,
         |    sum(cnt) OVER (PARTITION BY source) AS n
         |  FROM freq),
         |thr AS (
         |  SELECT source, min(u) AS thr_u4, CAST(max(n) AS BIGINT) AS n_docs
         |  FROM cum
         |  WHERE cum * 100 >= n * ${TextAnalysis.floorQuantilePct}
         |  GROUP BY source),
         |agg AS (
         |  SELECT f.source, max(t.thr_u4) AS thr_u4, max(t.n_docs) AS n_docs,
         |    CAST(sum(CASE WHEN f.u >= t.thr_u4 THEN f.cnt ELSE 0 END)
         |      AS BIGINT) AS n_kept
         |  FROM freq f JOIN thr t USING (source) GROUP BY f.source)
         |SELECT source, n_docs, thr_u4, n_kept,
         |  n_docs - n_kept AS n_dropped,
         |  floor((CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE))*1e4 + 0.5)/1e4
         |    AS kept_rate
         |FROM agg ORDER BY source""".stripMargin,
    "q169_source_overlap" ->
      s"""WITH corpus AS (
         |  SELECT source, $fpSql AS fp FROM documents
         |  UNION ALL
         |  SELECT 'src' || CAST((CAST(substr(source, 4) AS INT) + 1) % 20
         |      AS VARCHAR) AS source, $fpSql AS fp
         |  FROM documents
         |  WHERE doc_id % ${DedupOps.overlapMirrorStride} = 0),
         |d AS (SELECT DISTINCT source, fp FROM corpus),
         |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_fps
         |       FROM d GROUP BY source),
         |pr AS (SELECT a.fp, a.source AS src_a, b.source AS src_b
         |       FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source),
         |ag AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared
         |       FROM pr GROUP BY 1, 2)
         |SELECT src_a, src_b, n_shared, pa.n_fps AS fps_a, pb.n_fps AS fps_b,
         |  floor((CAST(n_shared AS DOUBLE)
         |    / CAST(pa.n_fps + pb.n_fps - n_shared AS DOUBLE))*1e4 + 0.5)/1e4 AS jaccard
         |FROM ag JOIN ps pa ON ag.src_a = pa.source
         |         JOIN ps pb ON ag.src_b = pb.source
         |ORDER BY src_a, src_b""".stripMargin,
    "q170_cluster_silhouette" ->
      s"""WITH $ivfTrainCtesSql,
         |cv AS (
         |  SELECT list_id,
         |    list(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0)*1e6 + 0.5)/1e6 + 0.0
         |      ORDER BY dim) AS c
         |  FROM m2 GROUP BY list_id),
         |cc AS (SELECT list_id,
         |         list_sum(list_transform(c, x -> x * x)) AS cc FROM cv),
         |ev AS (SELECT vec_id, embedding,
         |         list_sum(list_transform(embedding,
         |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS ee
         |       FROM embeddings),
         |sc AS (
         |  SELECT ev.vec_id, cv.list_id, ev.ee,
         |    list_sum(list_transform(range(1, len(ev.embedding)+1),
         |      i -> CAST(ev.embedding[i] AS DOUBLE) * cv.c[i])) AS dot
         |  FROM ev CROSS JOIN cv),
         |d AS (
         |  SELECT vec_id, list_id, (ee - 2.0 * dot) + cc AS dist,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dot DESC, list_id) AS rn
         |  FROM sc JOIN cc USING (list_id)),
         |own AS (SELECT vec_id, list_id AS cluster, dist AS a
         |        FROM d WHERE rn = 1),
         |oth AS (
         |  SELECT d.vec_id, min(d.dist) AS b
         |  FROM d JOIN own ON d.vec_id = own.vec_id
         |    AND d.list_id <> own.cluster
         |  GROUP BY d.vec_id),
         |s AS (
         |  SELECT own.cluster,
         |    CAST(floor(round(CASE WHEN greatest(a, b) <= 0 THEN 0.0
         |        ELSE (b - a) / greatest(a, b) END, 8) * 1e6 + 0.5)
         |      AS BIGINT) AS u,
         |    CASE WHEN b < a THEN 1 ELSE 0 END AS neg
         |  FROM own JOIN oth USING (vec_id))
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(neg) AS BIGINT) AS n_misassigned,
         |  CAST(floor(CAST(sum(u) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
         |    AS mean_sil_u6
         |FROM s GROUP BY cluster ORDER BY cluster""".stripMargin,
    "q171_cluster_purity" ->
      s"""WITH $ivfTrainCtesSql,
         |cv AS (
         |  SELECT list_id,
         |    list(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0)*1e6 + 0.5)/1e6 + 0.0
         |      ORDER BY dim) AS c
         |  FROM m2 GROUP BY list_id),
         |sc AS (
         |  SELECT e.vec_id, cv.list_id,
         |    list_sum(list_transform(range(1, len(e.embedding)+1),
         |      i -> CAST(e.embedding[i] AS DOUBLE) * cv.c[i])) AS score
         |  FROM embeddings e CROSS JOIN cv),
         |asg AS (
         |  SELECT vec_id, list_id AS cluster FROM (
         |    SELECT vec_id, list_id,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY score DESC, list_id) AS rn
         |    FROM sc) z WHERE rn = 1),
         |cells AS (
         |  SELECT cluster, lang, CAST(count(*) AS BIGINT) AS n_cell
         |  FROM asg JOIN documents d ON asg.vec_id = d.doc_id
         |  GROUP BY cluster, lang),
         |cx AS (
         |  SELECT cluster, lang, n_cell,
         |    sum(n_cell) OVER (PARTITION BY cluster) AS n,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY n_cell DESC, lang) AS rk
         |  FROM cells),
         |hx AS (
         |  SELECT cluster, lang, n_cell, n, rk,
         |    CAST(floor(round(
         |      -(CAST(n_cell AS DOUBLE) / CAST(n AS DOUBLE)) *
         |        ln(CAST(n_cell AS DOUBLE) / CAST(n AS DOUBLE)), 8) * 1e6
         |      + 0.5) AS BIGINT) AS h_u6
         |  FROM cx),
         |agg AS (
         |  SELECT cluster, CAST(max(n) AS BIGINT) AS n_vecs,
         |    max(CASE WHEN rk = 1 THEN lang END) AS top_lang,
         |    max(CASE WHEN rk = 1 THEN n_cell END) AS n_top,
         |    CAST(sum(h_u6) AS BIGINT) AS entropy_u6
         |  FROM hx GROUP BY cluster)
         |SELECT cluster, n_vecs, top_lang, n_top,
         |  CAST(floor(CAST(n_top AS DOUBLE) / CAST(n_vecs AS DOUBLE) * 1e4
         |    + 0.5) AS BIGINT) AS purity_u4,
         |  entropy_u6
         |FROM agg ORDER BY cluster""".stripMargin,

    // RRF fusion of the q167 BM25 ranking and a q42-shaped dense cosine
    // ranking over the same query ids; contributions are exact
    // floor(1e6/(60+rank)+0.5) integers, fused score an integer sum
    "q172_hybrid_rrf" -> {
      val qvals = CorpusOps.bm25Queries
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      val qidList = CorpusOps.bm25Queries.map(_._1).distinct.sorted.mkString(", ")
      val k = CorpusOps.bm25K
      val k0 = CorpusOps.rrfK0
      s"""WITH qt(query_id, term) AS (VALUES $qvals),
         |lens AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               CAST(sum(dl) AS BIGINT) AS t FROM lens),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest($toksSql) AS term FROM documents) z
         |  WHERE term IN (SELECT term FROM qt)
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |       FROM tf GROUP BY term),
         |s AS (
         |  SELECT qt.query_id, tf.doc_id,
         |    CAST(floor(
         |      round(ln(CAST(2*n+2 AS DOUBLE) / CAST(2*df+1 AS DOUBLE)), 8)
         |      * ((44.0 * CAST(t AS DOUBLE) * CAST(tf AS DOUBLE))
         |        / (20.0 * CAST(t AS DOUBLE) * CAST(tf AS DOUBLE)
         |          + 6.0 * CAST(t AS DOUBLE)
         |          + 18.0 * CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)))
         |      * 1e4 + 0.5) AS BIGINT) AS u
         |  FROM tf JOIN qt USING (term) JOIN df USING (term)
         |  JOIN lens USING (doc_id) CROSS JOIN tot),
         |agg AS (SELECT query_id, doc_id, CAST(sum(u) AS BIGINT) AS score_u4
         |        FROM s GROUP BY 1, 2),
         |lexr AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_u4 DESC, doc_id) AS BIGINT) AS bm25_rk
         |  FROM agg),
         |lexk AS (SELECT * FROM lexr WHERE bm25_rk <= $k),
         |qv AS (SELECT vec_id AS query_id, embedding AS qe
         |       FROM embeddings WHERE vec_id IN ($qidList)),
         |dsc AS (
         |  SELECT qv.query_id, e.vec_id AS doc_id,
         |    ${cosSql("e.embedding", "qv.qe")} AS cos
         |  FROM embeddings e, qv WHERE e.vec_id <> qv.query_id),
         |denr AS (SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, doc_id) AS BIGINT) AS dense_rk
         |  FROM dsc WHERE NOT isnan(cos)),
         |denk AS (SELECT * FROM denr WHERE dense_rk <= $k),
         |f AS (
         |  SELECT query_id, doc_id,
         |    (CASE WHEN bm25_rk IS NOT NULL
         |       THEN CAST(floor(1e6 / ($k0.0 + bm25_rk) + 0.5) AS BIGINT)
         |       ELSE 0 END
         |     + CASE WHEN dense_rk IS NOT NULL
         |       THEN CAST(floor(1e6 / ($k0.0 + dense_rk) + 0.5) AS BIGINT)
         |       ELSE 0 END) AS rrf_u6,
         |    CAST(coalesce(bm25_rk, 0) AS BIGINT) AS b_rk,
         |    CAST(coalesce(dense_rk, 0) AS BIGINT) AS d_rk
         |  FROM lexk FULL JOIN denk USING (query_id, doc_id)),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_u6 DESC, doc_id) AS BIGINT) AS rk FROM f)
         |SELECT query_id, rk, doc_id, rrf_u6,
         |  b_rk AS bm25_rk, d_rk AS dense_rk
         |FROM r WHERE rk <= $k
         |ORDER BY query_id, rk""".stripMargin
    },

    // the q173 streaming near-dup gate's exact relational replay: band →
    // rank per (band, slice) by doc_id (the groupCap registration) →
    // registered×later candidate join → integer coordinate-match
    // verification (≥8 of 16 = est-Jaccard ≥ 0.5) → per-doc collider
    // rollup. Reuses the q55 CTE chain's signature family verbatim.
    "q173_neardup_gate" -> {
      import graft.streaming.NearDupGate.{groupCap, matchMin}
      s"""WITH $minHashCtesSql,
         |gr AS (
         |  SELECT doc_id, band, bk,
         |    row_number() OVER (PARTITION BY band, bk ORDER BY doc_id) AS rk
         |  FROM banded),
         |gc AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM gr x JOIN banded y
         |    ON x.band = y.band AND x.bk = y.bk
         |    AND x.doc_id < y.doc_id AND x.rk <= $groupCap),
         |gm AS (
         |  SELECT gc.a, gc.b FROM gc
         |  JOIN sigl sa ON sa.doc_id = gc.a
         |  JOIN sigl sb ON sb.doc_id = gc.b
         |  WHERE len(list_filter(range(1, 17), i -> sa.s[i] = sb.s[i]))
         |    >= $matchMin),
         |hits AS (
         |  SELECT b AS doc_id, CAST(count(*) AS BIGINT) AS n_prior_neardups,
         |    min(a) AS first_collider
         |  FROM gm GROUP BY b)
         |SELECT s.doc_id, (h.doc_id IS NULL) AS admitted,
         |  coalesce(h.n_prior_neardups, 0) AS n_prior_neardups,
         |  coalesce(h.first_collider, -1) AS first_collider
         |FROM sigl s LEFT JOIN hits h ON h.doc_id = s.doc_id
         |ORDER BY s.doc_id""".stripMargin
    },

    // the q174 policy table: q138's sweep + q160's agreement + the
    // seeded-ground-truth precision bound, one row per candidate τ.
    // Reuses the q55 (est) and q159 (shp) CTE chains verbatim.
    "q174_dedup_policy" -> {
      val tvals = DedupOps.sweepThresholds.map(t => s"($t)").mkString(", ")
      s"""WITH $minHashCtesSql,
         |$simPairCtesSql,
         |th AS (SELECT CAST(x AS DOUBLE) AS threshold
         |       FROM (VALUES $tvals) v(x)),
         |pw AS (
         |  SELECT e.a, e.b, e.est_jaccard, s.a IS NOT NULL AS in_sh
         |  FROM est e LEFT JOIN shp s ON e.a = s.a AND e.b = s.b),
         |sv AS (
         |  SELECT th.threshold, pw.a, pw.b, pw.in_sh
         |  FROM pw CROSS JOIN th WHERE pw.est_jaccard >= th.threshold),
         |pt AS (
         |  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN in_sh THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_both,
         |    CAST(sum(CASE WHEN b = a + ${DedupOps.dupOffset}
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_seeded
         |  FROM sv GROUP BY threshold),
         |nd AS (
         |  SELECT threshold, CAST(count(DISTINCT d) AS BIGINT)
         |    AS n_docs_affected
         |  FROM (SELECT threshold, a AS d FROM sv
         |        UNION ALL SELECT threshold, b FROM sv) z
         |  GROUP BY threshold),
         |tot AS (SELECT CAST(2 * count(*) AS BIGINT) AS n_total
         |        FROM documents)
         |SELECT pt.threshold, pt.n_pairs, nd.n_docs_affected,
         |  floor((CAST(nd.n_docs_affected AS DOUBLE)
         |    / CAST(tot.n_total AS DOUBLE))*1e4 + 0.5)/1e4 AS frac_affected,
         |  pt.n_both,
         |  floor((CAST(pt.n_both AS DOUBLE)
         |    / CAST(pt.n_pairs AS DOUBLE))*1e4 + 0.5)/1e4 AS agree_rate,
         |  pt.n_seeded,
         |  floor((CAST(pt.n_seeded AS DOUBLE)
         |    / CAST(pt.n_pairs AS DOUBLE))*1e4 + 0.5)/1e4 AS precision_lb
         |FROM pt JOIN nd USING (threshold) CROSS JOIN tot
         |ORDER BY pt.threshold""".stripMargin
    },

    // dedup-then-audit: q67's keeper election (minhash CTE chain + CC)
    // collapses near-dup clusters, then q114's NAIVE exact set-sim join
    // runs over keeper texts PLUS the seeded borderline pairs — the
    // oracle states the uncapped all-shared-token candidate form, so the
    // hash match proves the engine's prefix filter stayed lossless over
    // the reduced corpus, and the seeds guarantee the match is never
    // vacuous (0 rows ≡ 0 rows): each accepted seed pair exercises the
    // inter/union/jaccard value columns and the rejected seeds exercise
    // the τ cut (see DedupOps.setSimSeeds).
    "q175_setsim_keepers" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |ids AS (SELECT doc_id FROM corpus),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |$keeperCompCtes,
         |labeled AS MATERIALIZED (
         |  SELECT i.doc_id, coalesce(c.keeper0, i.doc_id) AS keeper
         |  FROM ids i LEFT JOIN comp c ON c.node = i.doc_id),
         |sdsrc AS (
         |  SELECT doc_id, CASE WHEN doc_id % ${2 * DedupOps.setSimSeedStride} = 0
         |      THEN ${DedupOps.setSimSeedDivAccept}
         |      ELSE ${DedupOps.setSimSeedDivReject} END AS d
         |  FROM documents WHERE doc_id % ${DedupOps.setSimSeedStride} = 0),
         |sdrows AS (
         |  SELECT doc_id + ${DedupOps.setSimSeedOffsetA} AS doc_id,
         |    array_to_string(list_transform(range(0, ${DedupOps.setSimSeedLen}),
         |      i -> 'sd' || CAST(doc_id AS VARCHAR) || 'x' || CAST(i AS VARCHAR)),
         |      ' ') AS text
         |  FROM sdsrc
         |  UNION ALL
         |  SELECT doc_id + ${DedupOps.setSimSeedOffsetB},
         |    array_to_string(list_concat(
         |      list_transform(range(0, ${DedupOps.setSimSeedLen} - d),
         |        i -> 'sd' || CAST(doc_id AS VARCHAR) || 'x' || CAST(i AS VARCHAR)),
         |      list_transform(range(0, d),
         |        i -> 'sd' || CAST(doc_id AS VARCHAR) || 'y' || CAST(i AS VARCHAR))),
         |      ' ')
         |  FROM sdsrc),
         |kbase AS (
         |  SELECT c.doc_id, $toksSql AS tk
         |  FROM corpus c JOIN labeled l ON l.doc_id = c.doc_id
         |  WHERE l.doc_id = l.keeper
         |  UNION ALL
         |  SELECT doc_id, $toksSql AS tk FROM sdrows),
         |kdt AS MATERIALIZED (
         |  SELECT doc_id, list_sort(list_distinct(list_transform(
         |    range(1, greatest(len(tk) - 2, 0) + 1),
         |    i -> array_to_string(tk[i:i+2], ' ')))) AS ts
         |  FROM kbase WHERE len(tk) >= 3),
         |ktok AS MATERIALIZED (SELECT doc_id, unnest(ts) AS t FROM kdt),
         |kcand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM ktok a JOIN ktok b ON a.t = b.t AND a.doc_id < b.doc_id),
         |kj AS (
         |  SELECT da, db,
         |    CAST(len(list_intersect(x.ts, y.ts)) AS BIGINT) AS inter,
         |    CAST(len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts))
         |      AS BIGINT) AS union_sz
         |  FROM kcand
         |  JOIN kdt x ON x.doc_id = da
         |  JOIN kdt y ON y.doc_id = db)
         |SELECT da AS doc_a, db AS doc_b, inter, union_sz,
         |  floor((inter / CAST(union_sz AS DOUBLE))*1e4 + 0.5)/1e4 AS jaccard
         |FROM kj
         |WHERE inter * ${DedupOps.setSimTauDen}
         |  >= union_sz * ${DedupOps.setSimTauNum}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // margin-based bitext mining: q53's capped sign-LSH candidates,
    // u4-grid cosines, per-side top-k stats, one exact-integer margin
    // division, rank-1 election per anchor
    "q176_bitext_mine" ->
      s"""WITH b AS (
         |  SELECT vec_id, label, embedding,
         |    ${bucketSql("embedding", 4)} AS bucket
         |  FROM embeddings),
         |capped AS (
         |  SELECT * FROM (
         |    SELECT vec_id, label, embedding, bucket,
         |      count(*) OVER (PARTITION BY bucket) AS bsz FROM b) z
         |  WHERE bsz <= 500),
         |cand AS (
         |  SELECT x.vec_id AS a_id, y.vec_id AS b_id,
         |    CAST(floor((${dotSql("x.embedding", "y.embedding")}
         |      / (${normSql("x.embedding")} * ${normSql("y.embedding")}))
         |      * 1e4 + 0.5) AS BIGINT) AS cos_u4
         |  FROM capped x JOIN capped y ON x.bucket = y.bucket
         |  WHERE x.label % 2 = 0 AND y.label % 2 = 1
         |    AND NOT isnan(${dotSql("x.embedding", "y.embedding")}
         |      / (${normSql("x.embedding")} * ${normSql("y.embedding")}))),
         |ta AS (SELECT a_id, b_id, cos_u4 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY a_id
         |      ORDER BY cos_u4 DESC, b_id) AS rk FROM cand) z
         |  WHERE rk <= ${MiningOps.bitextK}),
         |tb AS (SELECT a_id, b_id, cos_u4 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY b_id
         |      ORDER BY cos_u4 DESC, a_id) AS rk FROM cand) z
         |  WHERE rk <= ${MiningOps.bitextK}),
         |sa AS (SELECT a_id, CAST(sum(cos_u4) AS BIGINT) AS sum_a,
         |         CAST(count(*) AS BIGINT) AS n_a FROM ta GROUP BY a_id),
         |sb AS (SELECT b_id, CAST(sum(cos_u4) AS BIGINT) AS sum_b,
         |         CAST(count(*) AS BIGINT) AS n_b FROM tb GROUP BY b_id),
         |m AS (
         |  SELECT p.a_id, p.b_id, p.cos_u4,
         |    CAST(floor(((((CAST(p.cos_u4 AS DOUBLE) * 2) * sa.n_a)
         |        * sb.n_b) * 1e4)
         |      / (CAST(sa.sum_a AS DOUBLE) * sb.n_b
         |        + CAST(sb.sum_b AS DOUBLE) * sa.n_a)
         |      + 0.5) AS BIGINT) AS margin_u4
         |  FROM ta p JOIN sa USING (a_id) JOIN sb USING (b_id)
         |  WHERE CAST(sa.sum_a AS DOUBLE) * sb.n_b
         |      + CAST(sb.sum_b AS DOUBLE) * sa.n_a > 0.0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY a_id
         |    ORDER BY margin_u4 DESC, cos_u4 DESC, b_id) AS rn FROM m)
         |SELECT a_id, b_id, cos_u4, margin_u4 FROM r
         |WHERE rn = 1 AND margin_u4 >= ${MiningOps.bitextTauU4}
         |ORDER BY a_id""".stripMargin,

    // inverted-index blocks: (term, doc-id block) delta-encoded gap:tf
    // postings with block/global document frequencies — all integers
    "q177_posting_lists" ->
      s"""WITH tf AS (
         |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest($toksSql) AS term FROM documents) z
         |  GROUP BY term, doc_id),
         |lists AS (
         |  SELECT term,
         |    CAST(floor(doc_id / ${MiningOps.postingBlock}.0) AS BIGINT)
         |      AS blk,
         |    list(doc_id ORDER BY doc_id) AS ids,
         |    list(tf ORDER BY doc_id) AS tfs,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(tf) AS BIGINT) AS sum_tf
         |  FROM tf GROUP BY 1, 2),
         |dft AS (SELECT term, CAST(sum(n_docs) AS BIGINT) AS df
         |        FROM lists GROUP BY term)
         |SELECT l.term, l.blk, dft.df, l.n_docs, l.sum_tf,
         |  array_to_string(list_transform(range(1, len(ids)+1), i ->
         |    CAST(ids[i] - CASE WHEN i = 1
         |        THEN blk * ${MiningOps.postingBlock}
         |        ELSE ids[i-1] END AS VARCHAR)
         |      || ':' || CAST(tfs[i] AS VARCHAR)), ' ') AS postings
         |FROM lists l JOIN dft USING (term)
         |ORDER BY l.term, l.blk""".stripMargin,

    // q175's keeper-election chain UNION the seeded digest rows, then the
    // DIRECTED containment audit (q122 semantics, post-dedup τ=1/2) over
    // that corpus
    "q178_containment_keepers" ->
      s"""WITH $containKeepCtesSql
         |SELECT src, dst, inter, n_src, containment
         |FROM ckp ORDER BY src, dst""".stripMargin,

    // the q178 audit rolled up to the SOURCE-pair level: who quotes
    // whom, weighted containment per flow (see containKeepCtesSql)
    "q261_quote_flows" ->
      s"""WITH $containKeepCtesSql,
         |m AS (
         |  SELECT CASE WHEN src >= ${DedupOps.digestOffset}
         |           AND src < ${DedupOps.digestOffset + DedupOps.dupOffset}
         |           THEN src - ${DedupOps.digestOffset} ELSE src END AS sb,
         |         CASE WHEN dst >= ${DedupOps.digestOffset}
         |           AND dst < ${DedupOps.digestOffset + DedupOps.dupOffset}
         |           THEN dst - ${DedupOps.digestOffset} ELSE dst END AS db,
         |         (dst >= ${DedupOps.digestOffset}
         |           AND dst < ${DedupOps.digestOffset + DedupOps.dupOffset})
         |           AS into_digest,
         |         inter, n_src
         |  FROM ckp)
         |SELECT xs.source AS src_source, ys.source AS dst_source,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN into_digest THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_into_digests,
         |  CAST(sum(inter) AS BIGINT) AS sum_inter,
         |  CAST(sum(n_src) AS BIGINT) AS sum_n_src,
         |  CAST(sum(inter) * 10000 // sum(n_src) AS BIGINT)
         |    AS w_containment_u4
         |FROM m JOIN documents xs ON xs.doc_id = m.sb
         |JOIN documents ys ON ys.doc_id = m.db
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,

    // deterministic Poisson(1) bootstrap: md5-grid inverse-CDF weights,
    // one groupBy(replicate) of weighted sums
    "q262_poisson_bootstrap" -> {
      val uSql = "CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0 " +
        "ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 + " +
        "(CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) " +
        "/ CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4 " +
        "END) * 1e4 + 0.5) AS BIGINT)"
      val thr = CorpusOps.bootPoissonCdfU4
      s"""WITH sc AS (
         |  SELECT doc_id, $uSql AS q_u4
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) z),
         |reps AS (SELECT CAST(x AS BIGINT) AS b
         |         FROM range(0, ${CorpusOps.bootReplicates}) r(x)),
         |wts AS (
         |  SELECT b, q_u4,
         |    CASE WHEN u < ${thr(0)} THEN 0 WHEN u < ${thr(1)} THEN 1
         |         WHEN u < ${thr(2)} THEN 2 WHEN u < ${thr(3)} THEN 3
         |         WHEN u < ${thr(4)} THEN 4 ELSE 5 END AS w
         |  FROM (
         |    SELECT b, q_u4,
         |      ${h32("'boot:' || CAST(b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")}
         |        % 10000 AS u
         |    FROM sc CROSS JOIN reps) z)
         |SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
         |  CAST(sum(w * q_u4) // greatest(sum(w), 1) AS BIGINT) AS mean_q_u4
         |FROM wts GROUP BY b ORDER BY b""".stripMargin
    },

    // Fano factor of hourly arrivals per type over the dense hour span
    // (zeros enter via H, not a grid explode); HUGEINT products
    "q263_fano_factor" ->
      s"""WITH hrs AS (
         |  SELECT event_type, epoch_ms(ts) // 3600000 AS h FROM events),
         |span AS (SELECT CAST(max(h) - min(h) + 1 AS BIGINT) AS n_hours
         |         FROM hrs),
         |ph AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS c
         |       FROM hrs GROUP BY event_type, h)
         |SELECT event_type,
         |  CAST(sum(c) AS BIGINT) AS n_events,
         |  CAST(n_hours AS BIGINT) AS n_hours,
         |  CAST(count(*) AS BIGINT) AS n_active_hours,
         |  CAST((CAST(n_hours AS HUGEINT) * sum(c * c)
         |    - CAST(sum(c) AS HUGEINT) * sum(c)) * 1000000
         |    // (CAST(n_hours AS HUGEINT) * sum(c)) AS BIGINT) AS fano_ppm
         |FROM ph CROSS JOIN span
         |GROUP BY event_type, n_hours
         |ORDER BY event_type""".stripMargin,

    // per relative-position decile: token volume, type count, argmax
    // token (ties -> larger token, mirrored) and its exact u4 share
    "q264_positional_profile" ->
      s"""WITH pt AS (
         |  SELECT least(p.pos * 10 // greatest(p.l, 1), 9) AS rp,
         |    p.tok
         |  FROM (
         |    SELECT unnest(list_transform(range(1, len(tk) + 1),
         |      i -> struct_pack(pos := i - 1, tok := tk[i], l := len(tk))))
         |      AS p
         |    FROM (SELECT $toksSql AS tk FROM documents) d) z),
         |ct AS (SELECT rp, tok, CAST(count(*) AS BIGINT) AS c
         |       FROM pt GROUP BY rp, tok),
         |agg AS (
         |  SELECT rp, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_types
         |  FROM ct GROUP BY rp),
         |top AS (
         |  SELECT rp, tok AS top_token, c AS top_cnt FROM (
         |    SELECT *, row_number() OVER (PARTITION BY rp
         |      ORDER BY c DESC, tok DESC) AS rn FROM ct) z
         |  WHERE rn = 1)
         |SELECT CAST(agg.rp AS INT) AS rp, agg.n_tokens, agg.n_types,
         |  top.top_token, top.top_cnt,
         |  CAST(top.top_cnt * 10000 // agg.n_tokens AS BIGINT)
         |    AS top_share_u4
         |FROM agg JOIN top ON top.rp = agg.rp
         |ORDER BY rp""".stripMargin,
  ) ++ oracleSqlRest

  /** The q178 dedup-then-audit CTE chain (minhash election → keeper +
    * keeper-sourced digest corpus → directed containment), shared by
    * the q178 oracle and the q261 source-pair rollup; ends at CTE
    * `ckp` (src, dst, inter, n_src, containment). */
  private lazy val containKeepCtesSql: String =
    s"""$minHashCtesSql,
         |prs AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |ids AS (SELECT doc_id FROM corpus),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |$keeperCompCtes,
         |labeled AS MATERIALIZED (
         |  SELECT i.doc_id, coalesce(c.keeper0, i.doc_id) AS keeper
         |  FROM ids i LEFT JOIN comp c ON c.node = i.doc_id),
         |dig AS (
         |  SELECT x.doc_id + ${DedupOps.digestOffset} AS doc_id,
         |    x.text || ' ' || y.text AS text
         |  FROM documents x JOIN documents y ON y.doc_id = x.doc_id + 1
         |  JOIN labeled lx ON lx.doc_id = x.doc_id AND lx.doc_id = lx.keeper
         |  JOIN labeled ly ON ly.doc_id = y.doc_id AND ly.doc_id = ly.keeper
         |  WHERE x.doc_id % ${DedupOps.digestStride} = 0
         |    AND x.doc_id < ${DedupOps.dupOffset}
         |    AND y.doc_id < ${DedupOps.dupOffset}),
         |kbase AS (
         |  SELECT c.doc_id, $toksSql AS tk
         |  FROM corpus c JOIN labeled l ON l.doc_id = c.doc_id
         |  WHERE l.doc_id = l.keeper
         |  UNION ALL
         |  SELECT doc_id, $toksSql AS tk FROM dig),
         |kdt AS MATERIALIZED (
         |  SELECT doc_id, list_sort(list_distinct(list_transform(
         |    range(1, greatest(len(tk) - 2, 0) + 1),
         |    i -> array_to_string(tk[i:i+2], ' ')))) AS ts
         |  FROM kbase WHERE len(tk) >= 3),
         |ktok AS MATERIALIZED (SELECT doc_id, unnest(ts) AS t FROM kdt),
         |kcand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM ktok a JOIN ktok b ON a.t = b.t AND a.doc_id <> b.doc_id),
         |kj AS (
         |  SELECT da, db,
         |    CAST(len(list_intersect(x.ts, y.ts)) AS BIGINT) AS inter,
         |    CAST(len(x.ts) AS BIGINT) AS n_src
         |  FROM kcand
         |  JOIN kdt x ON x.doc_id = da
         |  JOIN kdt y ON y.doc_id = db),
         |ckp AS (
         |  SELECT da AS src, db AS dst, inter, n_src,
         |    floor((inter / CAST(n_src AS DOUBLE))*1e4 + 0.5)/1e4
         |      AS containment
         |  FROM kj
         |  WHERE inter * ${DedupOps.containKeepTauDen}
         |    >= n_src * ${DedupOps.containKeepTauNum})""".stripMargin

  /** One position-unrolled Viterbi DP round over the word-type
    * dictionary `wd`, reading piece costs from `pcRef`: emits
    * dp{e}_0..dp{e}_L and the per-word best segmentation `seg{e}`.
    * Shared by the q297 trainer (rounds 0..E−1) and the q298 encoder
    * (round E over the trained pc). */
  private def uniDpBlockSql(e: Int, pcRef: String): String = {
    val L = TextAnalysis.uniMaxWordLen
    val P = TextAnalysis.uniMaxPieceLen
    val dps = (1 to L).map { j =>
      val cands = (1 to math.min(P, j)).map { k =>
        s"""    SELECT d.w, d.c, d.cost + p.cost_u6 AS cost,
           |      d.path || p.piece || '|' AS path
           |    FROM dp${e}_${j - k} d JOIN $pcRef p
           |      ON p.piece = substr(d.w, ${j - k + 1}, $k)
           |    WHERE length(d.w) >= $j""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""dp${e}_$j AS MATERIALIZED (
         |  SELECT w, c, cost, path FROM (
         |    SELECT w, c, cost, path,
         |      row_number() OVER (PARTITION BY w ORDER BY cost, path) AS rn
         |    FROM (
         |$cands) u) z
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val segs = (1 to L).map(j =>
      s"SELECT w, c, path FROM dp${e}_$j WHERE length(w) = $j")
      .mkString("\n    UNION ALL ")
    s"""dp${e}_0 AS (SELECT w, c, CAST(0 AS BIGINT) AS cost, '' AS path
       |  FROM wd),
       |$dps,
       |seg$e AS (
       |    $segs)""".stripMargin
  }

  /** The q297 unigram-LM training chain: word dictionary → substring
    * seed → pc0 → EM rounds (Viterbi round + re-estimate + prune) →
    * pc{E}. No leading WITH so consumers can extend the chain. */
  private lazy val uniLmChainSql: String = {
    val L = TextAnalysis.uniMaxWordLen
    val P = TextAnalysis.uniMaxPieceLen
    val rounds = TextAnalysis.uniPruneSchedule.indices.map { e =>
      val cap = TextAnalysis.uniPruneSchedule(e)
      s"""${uniDpBlockSql(e, s"pc$e")},
         |ecnt$e AS MATERIALIZED (
         |  SELECT piece, CAST(sum(c) AS BIGINT) AS cnt FROM (
         |    SELECT c, unnest(list_filter(string_split(path, '|'),
         |      x -> x <> '')) AS piece
         |    FROM seg$e) z GROUP BY piece),
         |keep$e AS (
         |  SELECT ch.piece, greatest(coalesce(e.cnt, 0), 1) AS cnt
         |  FROM chars ch LEFT JOIN ecnt$e e USING (piece)
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt FROM ecnt$e WHERE length(piece) >= 2
         |    ORDER BY cnt DESC, piece LIMIT $cap) zz),
         |tot${e + 1} AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM keep$e),
         |pc${e + 1} AS MATERIALIZED (
         |  SELECT piece, cnt,
         |    CAST(-floor(round(ln(CAST(cnt AS DOUBLE) / t), 8) * 1e6 + 0.5)
         |      AS BIGINT) AS cost_u6
         |  FROM keep$e CROSS JOIN tot${e + 1})""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (SELECT unnest($toksSql) AS w FROM documents),
       |wd AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM w0
       |  WHERE regexp_matches(w, '^[a-z0-9]+$$') AND length(w) <= $L
       |  GROUP BY w),
       |sub AS (
       |  SELECT substr(w, i.i, k.k) AS piece, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM wd CROSS JOIN range(1, ${L + 1}) i(i)
       |       CROSS JOIN range(1, ${P + 1}) k(k)
       |  WHERE i.i + k.k - 1 <= length(w)
       |  GROUP BY 1),
       |chars AS MATERIALIZED (
       |  SELECT piece, cnt FROM sub WHERE length(piece) = 1),
       |seed AS (
       |  SELECT piece, cnt FROM chars
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM sub WHERE length(piece) >= 2
       |    ORDER BY cnt DESC, piece LIMIT ${TextAnalysis.uniSeedMulti}) z),
       |tot0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM seed),
       |pc0 AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CAST(-floor(round(ln(CAST(cnt AS DOUBLE) / t), 8) * 1e6 + 0.5)
       |      AS BIGINT) AS cost_u6
       |  FROM seed CROSS JOIN tot0),
       |$rounds""".stripMargin
  }

  /** Continuation of [[oracleSql]] — one Scala Map literal hit the JVM
    * 64 KB method-bytecode ceiling territory as the surface grew, and
    * splitting also lets the shared-CTE vals sit next to the entries
    * that use them. Merged via `++` above; key order is irrelevant
    * (the driver joins by name). */
  private lazy val oracleSqlRest: Map[String, String] = Map(

    // IVF coarse pruning (all-integer e3-grid dots vs the first-16
    // seeds, nprobe=4) composed with q86's trained-PQ ADC scoring over
    // the probed lists only
    "q179_ivfpq_topk" ->
      s"""WITH $pqCtesSql,
         |codes AS (
         |  SELECT vec_id, sub, c AS code FROM (
         |    SELECT vec_id, sub, c,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY score, c) AS rn
         |    FROM sc2) z WHERE rn = 1),
         |cents AS (SELECT vec_id + 1 AS c, e AS ce FROM eq WHERE vec_id < 16),
         |ad AS (
         |  SELECT q.vec_id, ct.c,
         |    list_sum(list_transform(range(1, len(q.e)+1),
         |      i -> q.e[i]*ct.ce[i])) AS idot
         |  FROM eq q CROSS JOIN cents ct),
         |asg AS (SELECT vec_id, c AS list_id FROM (
         |    SELECT vec_id, c,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY idot DESC, c) AS rn
         |    FROM ad) z WHERE rn = 1),
         |probes AS (SELECT c AS list_id FROM (
         |    SELECT c, row_number() OVER (ORDER BY idot DESC, c) AS rn
         |    FROM ad WHERE vec_id = 0) z
         |  WHERE rn <= 4),
         |q AS (
         |  SELECT sub, se AS qe,
         |    list_sum(list_transform(se, x -> x*x)) AS qq
         |  FROM sv WHERE vec_id = 0),
         |lut AS (
         |  SELECT cb.sub, cb.c,
         |    CAST(q.qq AS DOUBLE) +
         |      (CAST(list_sum(list_transform(cb.s, x -> x*x)) AS DOUBLE)
         |         / CAST(cb.n*cb.n AS DOUBLE)
         |       - CAST(2*list_sum(list_transform(range(1, 9),
         |           i -> q.qe[i]*cb.s[i])) AS DOUBLE) / CAST(cb.n AS DOUBLE))
         |      AS d
         |  FROM cb1 cb JOIN q ON q.sub = cb.sub)
         |SELECT codes.vec_id, asg.list_id,
         |  floor((list_sum(list(l.d ORDER BY l.sub)) / 1000000.0)*1e4 + 0.5)/1e4 + 0.0
         |    AS adc_dist2
         |FROM codes
         |JOIN asg ON asg.vec_id = codes.vec_id
         |JOIN probes ON probes.list_id = asg.list_id
         |JOIN lut l ON l.sub = codes.sub AND l.c = codes.code
         |WHERE codes.vec_id <> 0
         |GROUP BY codes.vec_id, asg.list_id
         |ORDER BY adc_dist2, codes.vec_id LIMIT 10""".stripMargin,

    // rolling-distinct via the exploded user-day grid (prefix-decomposable
    // form of count(DISTINCT) OVER RANGE, which DuckDB also lacks)
    "q180_engagement_curve" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('day', ts) AS DATE) AS ds FROM events),
        |days AS (SELECT DISTINCT ds FROM ud),
        |dau AS (SELECT ds, CAST(count(*) AS BIGINT) AS dau
        |        FROM ud GROUP BY ds),
        |newu AS (
        |  SELECT ds, CAST(count(*) AS BIGINT) AS new_users FROM (
        |    SELECT user_id, min(ds) AS ds FROM ud GROUP BY user_id) f
        |  GROUP BY ds),
        |contrib AS (
        |  SELECT DISTINCT ud.user_id, ud.ds + CAST(t.o AS INTEGER) AS ds
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) t),
        |wau AS (
        |  SELECT c.ds, CAST(count(*) AS BIGINT) AS wau7
        |  FROM contrib c JOIN days USING (ds) GROUP BY c.ds)
        |SELECT d.ds, d.dau, w.wau7,
        |  coalesce(n.new_users, CAST(0 AS BIGINT)) AS new_users
        |FROM dau d JOIN wau w USING (ds) LEFT JOIN newu n USING (ds)
        |ORDER BY d.ds""".stripMargin,

    // integer burst rule over the per-type hourly rollup; 24-hour warm-up
    // gate mirrors q124's n_prior discipline
    "q181_burst_detect" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hh,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, hh, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY hh
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT)
        |      AS prior24,
        |    count(*) OVER (PARTITION BY event_type ORDER BY hh
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS n_prior
        |  FROM hourly)
        |SELECT event_type,
        |  strftime(hh, '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  cnt, prior24, cnt * 24 > prior24 * 3 AS flagged
        |FROM w WHERE n_prior = 24
        |ORDER BY event_type, hour_start""".stripMargin,

    // argmax/argmin by lexicographic (quality, doc_id) order — the window
    // form here is the oracle twin of the Spark side's ordered-struct
    // max/min aggregate
    "q182_preference_pairs" ->
      s"""WITH t AS (
         |  SELECT source, doc_id, $toksSql AS tk FROM documents),
         |c AS (
         |  SELECT source, doc_id,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(tk,
         |      x -> x IN ('the','a','of','and','to','in'))) AS BIGINT)
         |      AS n_stop
         |  FROM t),
         |s AS (
         |  SELECT source, doc_id,
         |    floor((CASE WHEN n_tokens = 0 THEN 0.0
         |      ELSE least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.6 +
         |           (CAST(n_stop AS DOUBLE)
         |              / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 0.4
         |      END)*1e4 + 0.5)/1e4 AS q
         |  FROM c),
         |r AS (
         |  SELECT source, doc_id, q,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY q DESC, doc_id) AS rb,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY q ASC, doc_id) AS rw
         |  FROM s)
         |SELECT b.source,
         |  b.doc_id AS chosen_id, b.q AS chosen_quality,
         |  w.doc_id AS rejected_id, w.q AS rejected_quality,
         |  floor((b.q - w.q)*1e4 + 0.5)/1e4 AS margin
         |FROM r b JOIN r w ON b.source = w.source
         |WHERE b.rb = 1 AND w.rw = 1 AND b.q > w.q
         |ORDER BY b.source""".stripMargin,

    // first-hit keyword-in-context snippets; substr clamps identically in
    // both engines, positions index the length-preserving lower(text)
    "q183_kwic" ->
      """SELECT doc_id, kw.keyword,
        |  CAST(strpos(lower(text), kw.keyword) AS BIGINT) AS pos,
        |  substr(text,
        |    CAST(greatest(1, strpos(lower(text), kw.keyword) - 30) AS BIGINT),
        |    CAST(length(kw.keyword) + 60 AS BIGINT)) AS snippet
        |FROM documents
        |CROSS JOIN (SELECT unnest([KWLIST]) AS keyword) kw
        |WHERE strpos(lower(text), kw.keyword) > 0
        |ORDER BY doc_id, kw.keyword""".stripMargin
        .replace("KWLIST",
          kwContains.map(k => s"'${k.toLowerCase}'").mkString(",")),

    // 37-bucket Shannon entropy, rendered from the SAME alphabet constant
    // the Spark side folds over — bucket order (and therefore the exact
    // left-associative float-sum order) cannot diverge between engines;
    // round(log2, 8) is the documented transcendental ulp-guard
    "q184_char_entropy" -> {
      val idx = TextAnalysis.entropyAlphabet.indices
      val cnts = TextAnalysis.entropyAlphabet.zipWithIndex.map {
        case (ch, i) => s"length(t) - length(replace(t, '$ch', '')) AS c_$i"
      }.mkString(",\n    ")
      val alphaSum = idx.map(i => s"c_$i").mkString(" + ")
      def term(c: String) =
        s"(CASE WHEN $c > 0 THEN CAST($c AS DOUBLE) * round(log2(CAST($c AS DOUBLE)), 8) ELSE 0.0 END)"
      val s = (idx.map(i => term(s"c_$i")) :+ term(s"(len - ($alphaSum))"))
        .mkString(" +\n    ")
      s"""WITH raw AS (
         |  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents),
         |b AS (
         |  SELECT doc_id, length(t) AS len,
         |    $cnts
         |  FROM raw),
         |e AS (
         |  SELECT doc_id,
         |    CAST(len AS BIGINT) AS len,
         |    CAST(len - ($alphaSum) AS BIGINT) AS n_other,
         |    CASE WHEN len > 0 THEN
         |      floor((round(log2(CAST(len AS DOUBLE)), 8) -
         |        ($s) / CAST(len AS DOUBLE))*1e4 + 0.5)/1e4
         |    ELSE 0.0 END AS entropy,
         |    CASE WHEN len > 0 THEN
         |      floor((CAST(len - ($alphaSum) AS DOUBLE)
         |        / CAST(len AS DOUBLE))*1e4 + 0.5)/1e4
         |    ELSE 0.0 END AS other_ratio
         |  FROM b)
         |SELECT doc_id, len, n_other, entropy, other_ratio,
         |  entropy < 4.0 AS flagged
         |FROM e ORDER BY doc_id""".stripMargin
    },

    // fixed-12-round peel, unrolled — each round drops nodes whose
    // current degree is below k and restricts the edge set to survivors;
    // the Spark side's early exit is equivalence-preserving (peeling is
    // monotone, so a fixpoint persists through the remaining rounds)
    "q185_kcore" -> {
      val k = 3; val rounds = 12
      // MATERIALIZED is load-bearing: without it DuckDB inlines each
      // CTE at every reference site and the doubly-self-referential
      // peel rounds explode the scan tree ~3^rounds-fold
      val peel = (1 to rounds).map { i =>
        val prev = s"sym${i - 1}"
        s"""a$i AS MATERIALIZED (SELECT src AS node FROM (
           |    SELECT src, count(*) AS deg FROM $prev GROUP BY src) d
           |  WHERE deg >= $k),
           |sym$i AS MATERIALIZED (
           |  SELECT s.src, s.dst FROM $prev s
           |  JOIN a$i x ON s.src = x.node
           |  JOIN a$i y ON s.dst = y.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.2),
         |sym0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |         UNION ALL SELECT b, a FROM prs),
         |$peel
         |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
         |FROM sym$rounds GROUP BY src ORDER BY doc_id""".stripMargin
    },

    // portable md5 shard assignment; bit_xor checksum commutes so both
    // engines fold partition-order-independently
    "q186_export_manifest" ->
      s"""WITH f AS (
         |  SELECT doc_id, length(text) AS n_chars,
         |    ${h32(fpSql)} AS fp32
         |  FROM documents WHERE coalesce(text, '') <> '')
         |SELECT fp32 % ${Layout.exportShards} AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  min(doc_id) AS min_doc_id,
         |  max(doc_id) AS max_doc_id,
         |  bit_xor(fp32) AS checksum32
         |FROM f GROUP BY shard ORDER BY shard""".stripMargin,

    // market-basket lift over q36-semantics session islands; the pair
    // relation comes from a within-session self-join in SQL where Spark
    // explodes the per-session sorted item set (equivalent sets)
    "q187_session_cooccur" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |m AS (
        |  SELECT user_id, ts, k,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, k,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |d AS (SELECT DISTINCT user_id, sid, k FROM s),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
        |        FROM (SELECT DISTINCT user_id, sid FROM d) z),
        |marg AS (SELECT k AS item, CAST(count(*) AS BIGINT) AS n_item
        |         FROM d GROUP BY k),
        |p AS (
        |  SELECT x.k AS a, y.k AS b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM d x JOIN d y
        |    ON x.user_id = y.user_id AND x.sid = y.sid AND x.k < y.k
        |  GROUP BY x.k, y.k HAVING count(*) >= MINSUP)
        |SELECT p.a, p.b, p.n_ab,
        |  ma.n_item AS n_a, mb.n_item AS n_b,
        |  floor((CAST(p.n_ab * t.n_sessions AS DOUBLE)
        |    / CAST(ma.n_item * mb.n_item AS DOUBLE))*1e4 + 0.5)/1e4 AS lift
        |FROM p
        |JOIN marg ma ON ma.item = p.a
        |JOIN marg mb ON mb.item = p.b
        |CROSS JOIN tot t
        |ORDER BY p.a, p.b""".stripMargin
        .replace("MINSUP", Analytics.cooccurMinSupport.toString),

    // q25's per-row classifier rolled to the (lang, predicted) matrix
    "q188_lang_confusion" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
         |c AS (
         |  SELECT doc_id, lang, len(tk) AS n,
         |    len(list_filter(tk, x -> x IN ('the','a','of'))) AS en,
         |    len(list_filter(tk, x -> x IN ('spark','query','vector'))) AS tech,
         |    len(list_filter(tk, x -> x IN ('table','row','column'))) AS dat
         |  FROM t),
         |pr AS (
         |  SELECT lang,
         |    CASE WHEN n = 0 THEN 'unknown'
         |         WHEN en >= tech AND en >= dat THEN 'en_like'
         |         WHEN tech >= dat THEN 'tech_like'
         |         ELSE 'data_like' END AS predicted
         |  FROM c),
         |cells AS (
         |  SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
         |  FROM pr GROUP BY lang, predicted),
         |tt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
         |       FROM cells GROUP BY lang)
         |SELECT c.lang, c.predicted, c.n, t.n_lang,
         |  floor((CAST(c.n AS DOUBLE) / CAST(t.n_lang AS DOUBLE))*1e4 + 0.5)/1e4
         |    AS share
         |FROM cells c JOIN tt t ON t.lang = c.lang
         |ORDER BY c.lang, c.predicted""".stripMargin,

    // snake-dealt politeness schedule over the q135 host rollup; the
    // politeness and worker constants interpolate from the Scala side
    "q189_crawl_plan" ->
      s"""WITH u AS (
         |  SELECT regexp_extract(
         |    'https://' || source || CAST(doc_id % 7 AS VARCHAR)
         |      || '.example.com/' || lang || '/doc-'
         |      || CAST(doc_id AS VARCHAR) || '.html?ref=feed',
         |    'https://([^/]+)/', 1) AS host
         |  FROM documents),
         |ph AS (
         |  SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
         |    CAST(count(*) * ${IngestPipelines.politenessMs} AS BIGINT)
         |      AS drain_ms
         |  FROM u GROUP BY host),
         |r AS (
         |  SELECT host, n_urls, drain_ms,
         |    row_number() OVER (ORDER BY drain_ms DESC, host) AS rk
         |  FROM ph),
         |a AS (
         |  SELECT host, n_urls, drain_ms,
         |    CAST(CASE WHEN (rk-1) % ${2 * IngestPipelines.crawlWorkers}
         |            < ${IngestPipelines.crawlWorkers}
         |      THEN (rk-1) % ${2 * IngestPipelines.crawlWorkers}
         |      ELSE ${2 * IngestPipelines.crawlWorkers - 1}
         |        - ((rk-1) % ${2 * IngestPipelines.crawlWorkers})
         |      END AS BIGINT) AS worker
         |  FROM r),
         |l AS (SELECT worker, CAST(sum(drain_ms) AS BIGINT)
         |        AS worker_load_ms
         |      FROM a GROUP BY worker),
         |m AS (SELECT max(worker_load_ms) AS makespan_ms FROM l)
         |SELECT a.host, a.n_urls, a.drain_ms, a.worker,
         |  l.worker_load_ms, m.makespan_ms
         |FROM a JOIN l USING (worker) CROSS JOIN m
         |ORDER BY a.host""".stripMargin,

    // recursive-CTE walk of the same md5-derived reply forest the engine
    // resolves by pointer doubling; CTE iterations = true max depth
    // (fine at oracle scale), engine rounds = log2(block) by design
    "q190_thread_trees" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT event_id AS node,
        |    CASE WHEN event_id % 64 = 0 THEN NULL
        |         ELSE event_id - (event_id % 64)
        |           + (CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
        |                AS BIGINT) % (event_id % 64))
        |    END AS parent
        |  FROM events),
        |walk AS (
        |  SELECT node, node AS anc, CAST(0 AS BIGINT) AS depth FROM nodes
        |  UNION ALL
        |  SELECT w.node, n.parent AS anc, w.depth + 1 AS depth
        |  FROM walk w JOIN nodes n ON n.node = w.anc
        |  WHERE n.parent IS NOT NULL),
        |res AS (
        |  SELECT node, arg_max(anc, depth) AS root_id, max(depth) AS depth
        |  FROM walk GROUP BY node),
        |st AS (
        |  SELECT root_id, CAST(count(*) AS BIGINT) AS thread_n,
        |         max(depth) AS thread_depth
        |  FROM res GROUP BY root_id)
        |SELECT r.node AS event_id, r.root_id, r.depth, s.thread_n,
        |       s.thread_depth
        |FROM res r JOIN st s USING (root_id)
        |ORDER BY event_id""".stripMargin,

    // exact heavy hitters at the MG threshold N/(k+1), k=32: the oracle
    // needs no candidate pass — the MG guarantee makes the engine's
    // two-pass output equal the plain exact filter
    "q191_mg_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         |      FROM t GROUP BY tok),
         |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c)
         |SELECT c.tok AS token, c.cnt, n.n_total,
         |  (c.cnt * 10000) // n.n_total AS share_bp
         |FROM c, n
         |WHERE c.cnt * 33 > n.n_total
         |ORDER BY c.cnt DESC, token""".stripMargin,

    // the wide+melt cycle emulated directly: every (source × declared
    // lang) grid cell 0-filled — equality proves the pivot/unpivot
    // round trip lossless
    "q192_pivot_roundtrip" ->
      """WITH cell AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source, lang),
        |s AS (SELECT DISTINCT source FROM documents),
        |l AS (SELECT unnest(['de','en','es','fr','zh']) AS lang),
        |m AS (
        |  SELECT s.source, l.lang, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |  FROM s CROSS JOIN l
        |  LEFT JOIN cell c ON c.source = s.source AND c.lang = l.lang),
        |t AS (SELECT source, CAST(sum(n) AS BIGINT) AS row_total
        |      FROM m GROUP BY source)
        |SELECT m.source, m.lang, m.n, t.row_total
        |FROM m JOIN t USING (source)
        |ORDER BY m.source, m.lang""".stripMargin,

    // ROLLUP (r_name, n_name) with lvl matching Spark's grouping_id()
    // bit order (bit 2 = region aggregated, bit 1 = nation aggregated)
    "q193_revenue_rollup" ->
      """WITH j AS (
        |  SELECT r.r_name, n.n_name,
        |    CAST(floor(o.o_totalprice * 1e4 + 0.5) AS BIGINT) AS pu
        |  FROM orders o
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey),
        |g AS (
        |  SELECT r_name, n_name,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(pu) AS BIGINT) AS revenue_u,
        |    CAST(2 * GROUPING(r_name) + GROUPING(n_name) AS BIGINT) AS lvl
        |  FROM j GROUP BY ROLLUP (r_name, n_name))
        |SELECT coalesce(r_name, '(all)') AS r_name,
        |  coalesce(n_name, '(all)') AS n_name, lvl, n_orders, revenue_u
        |FROM g ORDER BY lvl, r_name, n_name""".stripMargin,

    // the messy-URL construction + RFC-3986-style canonicalization
    // replayed with regexes and list ops; grouping on the canonical form
    "q194_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN upper('site' || CAST((doc_id // 5) % 13 AS VARCHAR)
        |             || '.Example.COM')
        |      ELSE 'site' || CAST((doc_id // 5) % 13 AS VARCHAR)
        |             || '.Example.COM' END ||
        |    '/posts/doc-' || CAST(doc_id // 5 AS VARCHAR) || '.html' ||
        |    CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END || '?' ||
        |    CASE WHEN doc_id % 5 < 2
        |      THEN (CASE WHEN doc_id % 2 = 0 THEN 'utm_source=news'
        |              ELSE 'fbclid=xyz' END)
        |        || '&p=' || CAST((doc_id // 5) % 3 AS VARCHAR)
        |        || '&s=' || CAST((doc_id // 5) % 4 AS VARCHAR)
        |      ELSE 's=' || CAST((doc_id // 5) % 4 AS VARCHAR) || '&'
        |        || (CASE WHEN doc_id % 2 = 0 THEN 'utm_source=news'
        |              ELSE 'fbclid=xyz' END)
        |        || '&p=' || CAST((doc_id // 5) % 3 AS VARCHAR)
        |    END ||
        |    CASE WHEN doc_id % 4 = 0 THEN '#sec1' ELSE '' END AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf
        |      FROM u),
        |p AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(nf, 'https://([^/?#]+)', 1)) AS host,
        |    regexp_replace(regexp_extract(nf, 'https://[^/?]+([^?]*)', 1),
        |      '/$', '') AS path,
        |    regexp_extract(nf, '\?(.*)$', 1) AS q
        |  FROM c),
        |k AS (
        |  SELECT doc_id, url, host, path,
        |    array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      x -> NOT regexp_matches(x, '^(utm_|fbclid=|ref=)'))), '&')
        |      AS kept
        |  FROM p),
        |canon AS (
        |  SELECT doc_id, url,
        |    'https://' || host || path ||
        |      CASE WHEN kept = '' THEN '' ELSE '?' || kept END
        |      AS canonical_url
        |  FROM k)
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_raw,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_spellings,
        |  min(doc_id) AS keeper_doc
        |FROM canon GROUP BY canonical_url
        |ORDER BY canonical_url""".stripMargin,

    // md5-ranked stratified 80/10/10 split with exact floor counts per
    // language; val/test get exactly n//10 each, train the rest
    "q195_stratified_split" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |      AS rk
        |  FROM documents),
        |s AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) // 10 AS BIGINT) AS n_val,
        |    CAST(count(*) // 10 AS BIGINT) AS n_test
        |  FROM r GROUP BY lang),
        |s2 AS (SELECT lang, n - n_val - n_test AS n_train, n_val, n_test
        |       FROM s)
        |SELECT r.doc_id, r.lang, r.rk,
        |  CASE WHEN r.rk <= s2.n_train THEN 'train'
        |       WHEN r.rk <= s2.n_train + s2.n_val THEN 'val'
        |       ELSE 'test' END AS split,
        |  s2.n_train, s2.n_val, s2.n_test
        |FROM r JOIN s2 USING (lang)
        |ORDER BY r.doc_id""".stripMargin,

    // half-life-3-day decay in exact 2^20-unit integers; the final
    // double is one division by a power of two (exact in binary fp)
    "q196_decayed_trending" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d FROM events),
        |m AS (SELECT max(d) AS ref FROM e),
        |w AS (
        |  SELECT event_type,
        |    CASE WHEN (date_diff('day', d, m.ref) // 3) >= 20
        |      THEN CAST(0 AS BIGINT)
        |      ELSE (CAST(1 AS BIGINT)
        |        << CAST(20 - date_diff('day', d, m.ref) // 3 AS INT))
        |    END AS wu
        |  FROM e, m)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(wu) AS BIGINT) AS decayed_units,
        |  floor(CAST(sum(wu) AS DOUBLE) / 1048576.0 * 1e4 + 0.5) / 1e4
        |    AS decayed
        |FROM w GROUP BY event_type
        |ORDER BY decayed_units DESC, event_type""".stripMargin,

    // the oracle links typos the NAIVE way — all (typo × vocab) pairs
    // under levenshtein ≤ 1 (the q114 discipline: quadratic verifier
    // only ever lives oracle-side); the engine's deletion-neighborhood
    // blocking must reproduce it losslessly
    "q197_typo_link" ->
      s"""WITH v AS (
         |  SELECT DISTINCT unnest($toksSql) AS t FROM documents),
         |src AS (
         |  SELECT t, CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)
         |    % length(t) AS INT) AS p
         |  FROM v WHERE length(t) >= 4),
         |ty AS (
         |  SELECT DISTINCT
         |    substr(t, 1, p) || substr(t, p + 2, length(t)) AS typo
         |  FROM src)
         |SELECT ty.typo, v.t AS matched,
         |  CAST(levenshtein(ty.typo, v.t) AS BIGINT) AS dist
         |FROM ty CROSS JOIN v
         |WHERE levenshtein(ty.typo, v.t) <= 1
         |ORDER BY ty.typo, v.t""".stripMargin,

    // per-user type entropy (micro-nat integer cells, q171 discipline)
    // + exact-integer cadence variance; CV < 1/2 compared without
    // division as vn*4 < (sum g)^2
    "q198_bot_signals" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events),
         |cells AS (
         |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_cell
         |  FROM e GROUP BY user_id, event_type),
         |cn AS (SELECT user_id, CAST(sum(n_cell) AS BIGINT) AS n
         |       FROM cells GROUP BY user_id),
         |ent AS (
         |  SELECT c.user_id, max(cn.n) AS n_events,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(CAST(floor(round(
         |      -(CAST(n_cell AS DOUBLE) / CAST(cn.n AS DOUBLE)) *
         |        ln(CAST(n_cell AS DOUBLE) / CAST(cn.n AS DOUBLE)), 8)
         |      * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS entropy_u6
         |  FROM cells c JOIN cn ON cn.user_id = c.user_id
         |  GROUP BY c.user_id),
         |g AS (
         |  SELECT user_id,
         |    (us - lag(us) OVER (PARTITION BY user_id ORDER BY us))
         |      // 1000000 AS gap
         |  FROM e),
         |gs AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
         |    CAST(sum(gap) AS BIGINT) AS gap_sum_s,
         |    CAST(count(*) * sum(gap * gap) - sum(gap) * sum(gap)
         |      AS BIGINT) AS gap_var_num
         |  FROM g WHERE gap IS NOT NULL GROUP BY user_id)
         |SELECT ent.user_id, ent.n_events, ent.n_types, ent.entropy_u6,
         |  coalesce(gs.n_gaps, 0) AS n_gaps,
         |  coalesce(gs.gap_sum_s, 0) AS gap_sum_s,
         |  coalesce(gs.gap_var_num, 0) AS gap_var_num,
         |  ent.entropy_u6 < ${Analytics.botEntropyFloorU6} AS low_entropy,
         |  coalesce(gs.n_gaps, 0) >= ${Analytics.botMinGaps}
         |    AND coalesce(gs.gap_var_num, 0) * 4
         |      < coalesce(gs.gap_sum_s, 0) * coalesce(gs.gap_sum_s, 0)
         |    AS regular_cadence,
         |  (ent.entropy_u6 < ${Analytics.botEntropyFloorU6})
         |    AND (coalesce(gs.n_gaps, 0) >= ${Analytics.botMinGaps}
         |      AND coalesce(gs.gap_var_num, 0) * 4
         |        < coalesce(gs.gap_sum_s, 0) * coalesce(gs.gap_sum_s, 0))
         |    AS bot_flag
         |FROM ent LEFT JOIN gs ON gs.user_id = ent.user_id
         |ORDER BY ent.user_id""".stripMargin,

    // the GVID laws replayed in SQL: per-frame byte sums from the
    // generation arithmetic, keyframes = frames whose sum differs from
    // the previous frame (a wrong container parse breaks every sum)
    "q199_video_keyframes" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    12 + doc_id % 9 AS l, 24 + doc_id % 24 AS n,
        |    6 + doc_id % 5 AS s,
        |    CAST('0x' || substr(md5(coalesce(text, '')), 1, 2) AS BIGINT)
        |      AS g
        |  FROM documents),
        |f AS (SELECT media_id, n, s, l, g, unnest(range(n)) AS fr FROM m),
        |sm AS (
        |  SELECT media_id, n, fr,
        |    CAST(list_sum(list_transform(range(l),
        |      i -> (3 * i + 17 * (fr // s) + g) % 256)) AS BIGINT) AS fsum
        |  FROM f),
        |lg AS (
        |  SELECT media_id, n, fr, fsum,
        |    lag(fsum) OVER (PARTITION BY media_id ORDER BY fr) AS prev
        |  FROM sm),
        |k AS (
        |  SELECT media_id, n, fr, fsum,
        |    CAST(row_number() OVER (PARTITION BY media_id ORDER BY fr) - 1
        |      AS BIGINT) AS scene_idx
        |  FROM lg WHERE prev IS NULL OR fsum != prev),
        |c AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_scenes
        |      FROM k GROUP BY media_id)
        |SELECT k.media_id, CAST(k.fr AS BIGINT) AS frame_idx, k.scene_idx,
        |  k.fsum AS frame_sum, CAST(k.n AS BIGINT) AS n_frames, c.n_scenes
        |FROM k JOIN c USING (media_id)
        |ORDER BY k.media_id, frame_idx""".stripMargin,

    // the skyline by the O(n²) NOT EXISTS dominance test — the engine's
    // frequency-table form must reproduce it exactly
    "q200_pareto_frontier" ->
      s"""WITH t AS (SELECT doc_id, n_chars, $toksSql AS tk FROM documents),
         |sc AS (
         |  SELECT doc_id, n_chars,
         |    CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0
         |      ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 +
         |        (CAST(len(list_filter(tk,
         |           x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |          / CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4
         |      END) * 1e4 + 0.5) AS BIGINT) AS q_u4
         |  FROM t)
         |SELECT d.doc_id, d.q_u4, d.n_chars
         |FROM sc d
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM sc o
         |  WHERE o.q_u4 >= d.q_u4 AND o.n_chars <= d.n_chars
         |    AND (o.q_u4 > d.q_u4 OR o.n_chars < d.n_chars))
         |ORDER BY d.doc_id""".stripMargin,

    // per-source top-3 by the q26 score; rank via the same total order
    // the bounded aggregator uses (score desc, doc_id asc)
    "q201_source_exemplars" ->
      s"""WITH t AS (SELECT source, doc_id, $toksSql AS tk FROM documents),
         |sc AS (
         |  SELECT source, doc_id,
         |    CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0
         |      ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 +
         |        (CAST(len(list_filter(tk,
         |           x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |          / CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4
         |      END) * 1e4 + 0.5) AS BIGINT) AS q_u4
         |  FROM t),
         |r AS (
         |  SELECT source, doc_id, q_u4,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY q_u4 DESC, doc_id) AS BIGINT) AS rank
         |  FROM sc)
         |SELECT source, rank, doc_id, q_u4
         |FROM r WHERE rank <= 3
         |ORDER BY source, rank""".stripMargin,

    // discrete median + MAD on the integer 1e-2 grid, both as smallest
    // unit with 2*cum >= n over (type, unit) frequency tables; outlier
    // iff |u - med| > 3*MAD, all integer comparisons
    "q202_robust_outliers" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS u
        |  FROM events),
        |f1 AS (SELECT event_type, u, CAST(count(*) AS BIGINT) AS cnt
        |       FROM e GROUP BY event_type, u),
        |c1 AS (
        |  SELECT event_type, u, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY u) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM f1),
        |med AS (
        |  SELECT event_type, CAST(min(u) AS BIGINT) AS med_u2,
        |    CAST(max(n) AS BIGINT) AS n
        |  FROM c1 WHERE cum * 2 >= n GROUP BY event_type),
        |d AS (
        |  SELECT e.event_type, abs(e.u - m.med_u2) AS dv, m.med_u2, m.n
        |  FROM e JOIN med m ON m.event_type = e.event_type),
        |f2 AS (SELECT event_type, dv, CAST(count(*) AS BIGINT) AS cnt
        |       FROM d GROUP BY event_type, dv),
        |c2 AS (
        |  SELECT event_type, dv, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY dv) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM f2),
        |mad AS (
        |  SELECT event_type, CAST(min(dv) AS BIGINT) AS mad_u2
        |  FROM c2 WHERE cum * 2 >= n GROUP BY event_type),
        |agg AS (
        |  SELECT d.event_type, max(d.n) AS n, max(d.med_u2) AS med_u2,
        |    max(ma.mad_u2) AS mad_u2,
        |    CAST(sum(CASE WHEN d.dv > ma.mad_u2 * 3 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_outliers
        |  FROM d JOIN mad ma ON ma.event_type = d.event_type
        |  GROUP BY d.event_type)
        |SELECT event_type, n, med_u2, mad_u2, n_outliers,
        |  (n_outliers * 10000) // n AS outlier_bp
        |FROM agg ORDER BY event_type""".stripMargin,

    // the ring successor probe and mod assignment replayed with list
    // ops; churn + post-resize load spread per strategy
    "q203_ring_churn" ->
      s"""WITH keys AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |      AS BIGINT) AS h
         |  FROM documents),
         |ring8 AS (
         |  SELECT (i // ${Layout.ringVnodes}) AS worker,
         |    CAST('0x' || substr(md5('w:'
         |      || CAST(i // ${Layout.ringVnodes} AS VARCHAR) || ':'
         |      || CAST(i % ${Layout.ringVnodes} AS VARCHAR)), 1, 8)
         |      AS BIGINT) AS pt
         |  FROM (SELECT unnest(range(${Layout.ringWorkers * Layout.ringVnodes})) AS i)),
         |ring9 AS (
         |  SELECT (i // ${Layout.ringVnodes}) AS worker,
         |    CAST('0x' || substr(md5('w:'
         |      || CAST(i // ${Layout.ringVnodes} AS VARCHAR) || ':'
         |      || CAST(i % ${Layout.ringVnodes} AS VARCHAR)), 1, 8)
         |      AS BIGINT) AS pt
         |  FROM (SELECT unnest(range(${(Layout.ringWorkers + 1) * Layout.ringVnodes})) AS i)),
         |p8 AS (SELECT list_sort(list(pt)) AS pts FROM ring8),
         |p9 AS (SELECT list_sort(list(pt)) AS pts FROM ring9),
         |a8 AS (
         |  SELECT k.doc_id, k.h,
         |    coalesce(list_min(list_filter(p8.pts, p -> p >= k.h)),
         |      p8.pts[1]) AS succ
         |  FROM keys k, p8),
         |a9 AS (
         |  SELECT k.doc_id, k.h,
         |    coalesce(list_min(list_filter(p9.pts, p -> p >= k.h)),
         |      p9.pts[1]) AS succ
         |  FROM keys k, p9),
         |w8 AS (SELECT a.doc_id, r.worker AS w_before
         |       FROM a8 a JOIN ring8 r ON r.pt = a.succ),
         |w9 AS (SELECT a.doc_id, r.worker AS w_after
         |       FROM a9 a JOIN ring9 r ON r.pt = a.succ),
         |ringm AS (SELECT w8.doc_id, w8.w_before, w9.w_after
         |          FROM w8 JOIN w9 USING (doc_id)),
         |modm AS (SELECT doc_id, h % ${Layout.ringWorkers} AS w_before,
         |           h % ${Layout.ringWorkers + 1} AS w_after FROM keys),
         |rs AS (
         |  SELECT 'ring' AS strategy, CAST(count(*) AS BIGINT) AS n_keys,
         |    CAST(sum(CASE WHEN w_before <> w_after THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_moved
         |  FROM ringm),
         |rl AS (
         |  SELECT CAST(max(c) AS BIGINT) AS max_load,
         |    CAST(min(c) AS BIGINT) AS min_load
         |  FROM (SELECT count(*) AS c FROM ringm GROUP BY w_after)),
         |ms AS (
         |  SELECT 'mod' AS strategy, CAST(count(*) AS BIGINT) AS n_keys,
         |    CAST(sum(CASE WHEN w_before <> w_after THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_moved
         |  FROM modm),
         |ml AS (
         |  SELECT CAST(max(c) AS BIGINT) AS max_load,
         |    CAST(min(c) AS BIGINT) AS min_load
         |  FROM (SELECT count(*) AS c FROM modm GROUP BY w_after))
         |SELECT strategy, n_keys, n_moved,
         |  (n_moved * 10000) // n_keys AS moved_bp, max_load, min_load
         |FROM rs, rl
         |UNION ALL
         |SELECT strategy, n_keys, n_moved,
         |  (n_moved * 10000) // n_keys AS moved_bp, max_load, min_load
         |FROM ms, ml
         |ORDER BY strategy""".stripMargin,

    // percent-rank on the integer grid: strictly-smaller counts from
    // the (source, unit) frequency table, never a per-doc sort
    "q204_quantile_normalize" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS tk FROM documents),
         |sc AS (
         |  SELECT doc_id, source,
         |    CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0
         |      ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 +
         |        (CAST(len(list_filter(tk,
         |           x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |          / CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4
         |      END) * 1e4 + 0.5) AS BIGINT) AS q_u4
         |  FROM t),
         |f AS (SELECT source, q_u4, CAST(count(*) AS BIGINT) AS cnt
         |      FROM sc GROUP BY source, q_u4),
         |c AS (
         |  SELECT source, q_u4, cnt,
         |    sum(cnt) OVER (PARTITION BY source ORDER BY q_u4) AS cum,
         |    sum(cnt) OVER (PARTITION BY source) AS n
         |  FROM f),
         |tbl AS (SELECT source, q_u4, CAST(cum - cnt AS BIGINT) AS below,
         |          CAST(n AS BIGINT) AS n
         |        FROM c)
         |SELECT s.doc_id, s.source, s.q_u4, t2.n AS n_source,
         |  (t2.below * 10000) // greatest(t2.n - 1, 1) AS prank_bp
         |FROM sc s JOIN tbl t2 ON t2.source = s.source AND t2.q_u4 = s.q_u4
         |ORDER BY s.doc_id""".stripMargin,

    // per-day HLL registers max-merged across the trailing 7 observed
    // days (the q65 laws windowed), next to the q180-style exact grid
    "q205_rolling_hll_wau" ->
      s"""WITH ev AS (
         |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
         |  FROM events),
         |days AS (
         |  SELECT d, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS idx
         |  FROM (SELECT DISTINCT d FROM ev)),
         |mx AS (SELECT max(idx) AS max_idx FROM days),
         |h AS (
         |  SELECT d, ${h32("CAST(user_id AS VARCHAR)")} AS hv FROM ev),
         |r AS (
         |  SELECT d, hv // 16777216 AS bucket,
         |    CASE WHEN hv % 16777216 = 0 THEN 25
         |         ELSE 25 - (CAST(floor(log2(hv % 16777216)) AS BIGINT) + 1)
         |    END AS rho
         |  FROM h),
         |dayregs AS (SELECT d, bucket, max(rho) AS reg
         |            FROM r GROUP BY d, bucket),
         |fan AS (
         |  SELECT unnest(range(dy.idx, least(dy.idx + 6, mx.max_idx) + 1))
         |      AS tidx, dr.bucket, dr.reg
         |  FROM dayregs dr JOIN days dy ON dy.d = dr.d CROSS JOIN mx),
         |merged AS (SELECT tidx, bucket, max(reg) AS reg
         |           FROM fan GROUP BY tidx, bucket),
         |a AS (
         |  SELECT tidx, count(*) AS present,
         |    sum(power(2.0, -reg)) AS sinv
         |  FROM merged GROUP BY tidx),
         |e AS (
         |  SELECT tidx,
         |    (0.7213 / (1.0 + 1.079 / ${Sketches.hllM}))
         |      * ${Sketches.hllM}.0 * ${Sketches.hllM}.0
         |      / (sinv + (${Sketches.hllM} - present)) AS e_raw,
         |    ${Sketches.hllM} - present AS v
         |  FROM a),
         |est AS (
         |  SELECT tidx,
         |    floor((round(CASE WHEN e_raw <= ${2.5 * Sketches.hllM} AND v > 0
         |      THEN ${Sketches.hllM}.0 * ln(${Sketches.hllM}.0 / v)
         |      ELSE e_raw END, 8))*1e4 + 0.5)/1e4 AS hll_wau
         |  FROM e),
         |grid AS (SELECT DISTINCT user_id, d FROM ev),
         |gfan AS (
         |  SELECT DISTINCT
         |    unnest(range(dy.idx, least(dy.idx + 6, mx.max_idx) + 1))
         |      AS tidx, g.user_id
         |  FROM grid g JOIN days dy ON dy.d = g.d CROSS JOIN mx),
         |ex AS (SELECT tidx, CAST(count(*) AS BIGINT) AS exact_wau
         |       FROM gfan GROUP BY tidx)
         |SELECT dy.d AS day, least(est.tidx, 7) AS window_days,
         |  est.hll_wau, ex.exact_wau,
         |  floor((abs(est.hll_wau - ex.exact_wau)
         |    / CAST(ex.exact_wau AS DOUBLE))*1e4 + 0.5)/1e4 AS rel_err
         |FROM est JOIN ex USING (tidx) JOIN days dy ON dy.idx = est.tidx
         |ORDER BY day""".stripMargin,

    // q98's unrolled rounds with the teleport mass concentrated on the
    // node%20==0 seed set; the teleport constant is one integer division
    "q206_personalized_pagerank" -> {
      // MATERIALIZED on the graph + seed relations is load-bearing (the
      // q185 lesson): rounds re-reference them, and inlining would
      // re-expand the whole minhash pipeline per reference
      val rounds = (0 until 5).map { i =>
        s"""c$i AS (SELECT r.node, r.r // d.deg AS c
           |        FROM r$i r JOIN deg d USING (node)),
           |r${i + 1} AS (
           |  SELECT s.dst AS node,
           |    CAST(coalesce(max(sd.tele), 0)
           |      + (85 * sum(c.c)) // 100 AS BIGINT) AS r
           |  FROM sym s JOIN c$i c ON c.node = s.src
           |  LEFT JOIN seedt sd ON sd.node = s.dst
           |  GROUP BY s.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minHashCtesSql,
         |ed AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.2),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b, a FROM ed),
         |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg
         |        FROM sym GROUP BY src),
         |seedt AS MATERIALIZED (
         |  SELECT node, CAST(150000 * (SELECT count(*) FROM deg)
         |      // (SELECT count(*) FROM deg WHERE node % 20 = 0) AS BIGINT)
         |    AS tele
         |  FROM deg WHERE node % 20 = 0),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg),
         |$rounds
         |SELECT r5.node AS doc_id, CAST(d.deg AS BIGINT) AS degree,
         |  (sd.node IS NOT NULL) AS is_seed, r5.r AS rank_ppm,
         |  floor((CAST(r5.r AS DOUBLE) / 1000000.0)*1e4 + 0.5)/1e4 AS rank
         |FROM r5 JOIN deg d USING (node)
         |LEFT JOIN seedt sd ON sd.node = r5.node
         |ORDER BY doc_id""".stripMargin
    },

    // largest-remainder credit split: base ppm to every touch, the
    // remainder dealt one ppm each to the earliest touches
    "q207_multitouch_attribution" ->
      """WITH c AS (
        |  SELECT user_id, ts AS click_ts, event_id AS click_id
        |  FROM events WHERE event_type = 'click'),
        |b AS (
        |  SELECT user_id, ts AS buy_ts, event_id AS buy_id
        |  FROM events WHERE event_type = 'purchase'),
        |p AS (
        |  SELECT b.buy_id, c.click_id, c.click_ts
        |  FROM b JOIN c ON c.user_id = b.user_id
        |  WHERE c.click_ts <= b.buy_ts
        |    AND c.click_ts > b.buy_ts - INTERVAL 30 MINUTE),
        |r AS (
        |  SELECT buy_id, click_id,
        |    CAST(row_number() OVER (PARTITION BY buy_id
        |      ORDER BY click_ts, click_id) AS BIGINT) AS touch_rank,
        |    CAST(count(*) OVER (PARTITION BY buy_id) AS BIGINT)
        |      AS n_touches
        |  FROM p)
        |SELECT buy_id, click_id, touch_rank, n_touches,
        |  CAST(1000000 // n_touches
        |    + CASE WHEN touch_rank <= 1000000 % n_touches THEN 1 ELSE 0 END
        |    AS BIGINT) AS credit_ppm
        |FROM r ORDER BY buy_id, touch_rank""".stripMargin,

    // six named constraints into a verdict table; the 300k price cap is
    // deliberately violated so both verdicts occur
    "q208_expectation_suite" ->
      """WITH base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s_complete,
        |    CAST(sum(CASE WHEN o_totalprice >= 0 AND o_totalprice < 1000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s_range,
        |    CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s_domain,
        |    CAST(sum(CASE WHEN o_totalprice <= 300000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s_cap
        |  FROM orders),
        |u AS (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) AS s_unique
        |      FROM orders),
        |rf AS (
        |  SELECT CAST(count(*) AS BIGINT) AS s_ref FROM orders o
        |  WHERE o.o_custkey IN (SELECT c_custkey FROM customer)),
        |m AS (SELECT * FROM base, u, rf),
        |rows_ AS (
        |  SELECT 'completeness' AS check, 'o_custkey' AS "column",
        |    s_complete AS satisfied, n, (s_complete * 10000) // n
        |      AS observed_bp, CAST(10000 AS BIGINT) AS threshold_bp FROM m
        |  UNION ALL
        |  SELECT 'uniqueness', 'o_orderkey', s_unique, n,
        |    (s_unique * 10000) // n, 10000 FROM m
        |  UNION ALL
        |  SELECT 'value_range_0_1m', 'o_totalprice', s_range, n,
        |    (s_range * 10000) // n, 10000 FROM m
        |  UNION ALL
        |  SELECT 'status_domain', 'o_orderstatus', s_domain, n,
        |    (s_domain * 10000) // n, 10000 FROM m
        |  UNION ALL
        |  SELECT 'price_cap_300k', 'o_totalprice', s_cap, n,
        |    (s_cap * 10000) // n, 10000 FROM m
        |  UNION ALL
        |  SELECT 'referential_customer', 'o_custkey', s_ref, n,
        |    (s_ref * 10000) // n, 10000 FROM m)
        |SELECT "check", "column", satisfied, n, observed_bp,
        |  CAST(threshold_bp AS BIGINT) AS threshold_bp,
        |  observed_bp >= threshold_bp AS pass
        |FROM rows_ ORDER BY "check" """.stripMargin,

    // HITS: integer max-normalized mutual iteration, 3 unrolled rounds;
    // the scalar max subqueries are the oracle twin of the engine's
    // O(1)-row driver actions
    "q209_hits" -> {
      val rounds = (0 until 3).map { i =>
        s"""ar$i AS MATERIALIZED (SELECT e.b AS node, sum(h.h) AS raw
           |         FROM ed e JOIN h$i h ON h.node = e.a GROUP BY e.b),
           |a${i + 1} AS MATERIALIZED (
           |  SELECT n.node,
           |    CAST(coalesce((ar.raw * 1000000) // (SELECT max(raw) FROM ar$i), 0)
           |      AS BIGINT) AS av
           |  FROM nodes n LEFT JOIN ar$i ar ON ar.node = n.node),
           |hr$i AS MATERIALIZED (SELECT e.a AS node, sum(a.av) AS raw
           |         FROM ed e JOIN a${i + 1} a ON a.node = e.b GROUP BY e.a),
           |h${i + 1} AS MATERIALIZED (
           |  SELECT n.node,
           |    CAST(coalesce((hr.raw * 1000000) // (SELECT max(raw) FROM hr$i), 0)
           |      AS BIGINT) AS h
           |  FROM nodes n LEFT JOIN hr$i hr ON hr.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minHashCtesSql,
         |ed AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.2),
         |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
         |  SELECT a AS node FROM ed UNION ALL SELECT b FROM ed) z),
         |odeg AS (SELECT a AS node, count(*) AS od FROM ed GROUP BY a),
         |ideg AS (SELECT b AS node, count(*) AS idg FROM ed GROUP BY b),
         |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
         |$rounds
         |SELECT n.node AS doc_id,
         |  CAST(coalesce(od, 0) AS BIGINT) AS out_deg,
         |  CAST(coalesce(idg, 0) AS BIGINT) AS in_deg,
         |  a3.av AS auth_ppm, h3.h AS hub_ppm,
         |  floor((CAST(a3.av AS DOUBLE) / 1000000.0)*1e4 + 0.5)/1e4 AS authority,
         |  floor((CAST(h3.h AS DOUBLE) / 1000000.0)*1e4 + 0.5)/1e4 AS hub
         |FROM nodes n
         |LEFT JOIN odeg ON odeg.node = n.node
         |LEFT JOIN ideg ON ideg.node = n.node
         |JOIN a3 ON a3.node = n.node
         |JOIN h3 ON h3.node = n.node
         |ORDER BY doc_id""".stripMargin
    },

    "q210_k_anonymity" ->
      """WITH pub AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS qi_nation,
        |    c_mktsegment AS qi_segment,
        |    (c_acctbal < 0) AS qi_acct_neg,
        |    o_orderpriority AS sensitive
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cls AS (
        |  SELECT qi_nation, qi_segment, qi_acct_neg,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT sensitive) AS BIGINT) AS l
        |  FROM pub GROUP BY 1, 2, 3),
        |tot AS (SELECT count(*) AS n_total FROM pub)
        |SELECT qi_nation, qi_segment, qi_acct_neg, n, l,
        |  CAST((n * 10000) // n_total AS BIGINT) AS share_bp,
        |  (n < 10) AS k_violation, (l < 3) AS l_violation
        |FROM cls CROSS JOIN tot
        |ORDER BY qi_nation, qi_segment, qi_acct_neg""".stripMargin,

    // TextRank = q98's integer PageRank over the word-adjacency graph;
    // node keys are the word strings themselves
    "q211_textrank_keywords" -> {
      val rounds = (0 until 5).map { i =>
        s"""c$i AS (SELECT r.node, r.r // d.deg AS c
           |        FROM r$i r JOIN deg d USING (node)),
           |r${i + 1} AS MATERIALIZED (
           |  SELECT s.dst AS node,
           |    CAST(150000 + (85 * sum(c.c)) // 100 AS BIGINT) AS r
           |  FROM sym s JOIN c$i c ON c.node = s.src GROUP BY s.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH ed AS MATERIALIZED (
         |  SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b FROM (
         |    SELECT pr[1] AS w1, pr[2] AS w2 FROM (
         |      SELECT unnest(list_transform(range(1, len(tk)),
         |        i -> [tk[i], tk[i+1]])) AS pr
         |      FROM (SELECT $toksSql AS tk FROM documents) t) u) v
         |  WHERE regexp_matches(w1, '^[a-z]{4,}$$')
         |    AND regexp_matches(w2, '^[a-z]{4,}$$') AND w1 <> w2),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b, a FROM ed),
         |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg
         |        FROM sym GROUP BY src),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg),
         |$rounds
         |SELECT r5.node AS word, CAST(d.deg AS BIGINT) AS degree,
         |  r5.r AS rank_ppm,
         |  floor((CAST(r5.r AS DOUBLE) / 1000000.0)*1e4 + 0.5)/1e4 AS rank
         |FROM r5 JOIN deg d USING (node)
         |ORDER BY rank_ppm DESC, word LIMIT 25""".stripMargin
    },

    // 2x2 chi-square in HUGEINT (det² alone passes BIGINT); micro-unit
    // floor division, critical value carried as the exact literal
    "q212_ab_test" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 4
        |      >= count(*) THEN 1 ELSE 0 END AS conv,
        |    (user_id % 2 = 0) AS va
        |  FROM events GROUP BY user_id),
        |cells AS (
        |  SELECT
        |    CAST(sum(CASE WHEN va AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN va AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN NOT va AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT va AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM pu),
        |chi AS (
        |  SELECT a, b, c, d,
        |    CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0
        |    THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(a + b + c + d AS HUGEINT)
        |        * ((CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
        |           * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c))
        |        * 1000000)
        |      // (CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d))
        |      AS BIGINT) END AS chi2_micro
        |  FROM cells)
        |SELECT a + b AS n_a, a AS conv_a, c + d AS n_b, c AS conv_b,
        |  CAST((a * 1000000) // (a + b) AS BIGINT) AS rate_a_ppm,
        |  CAST((c * 1000000) // (c + d) AS BIGINT) AS rate_b_ppm,
        |  chi2_micro, (chi2_micro > 3841459) AS significant_95
        |FROM chi""".stripMargin,

    // first digit of the exact-cents BIGINT (x100 preserves the leading
    // digit); Benford expectations from the shared ppm literal table
    "q213_benford" -> {
      val values = operators.Profiler.benfordPpm
        .map { case (d, p) => s"($d, $p)" }.mkString(", ")
      s"""WITH dg AS (
         |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
         |    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
         |  FROM orders),
         |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
         |      FROM dg GROUP BY digit),
         |t AS (SELECT sum(n) AS n_total FROM g),
         |e AS (SELECT * FROM (VALUES $values) v(digit, benford_ppm))
         |SELECT g.digit, g.n,
         |  CAST((g.n * 1000000) // t.n_total AS BIGINT) AS observed_ppm,
         |  CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
         |  CAST(abs((g.n * 1000000) // t.n_total - e.benford_ppm)
         |    AS BIGINT) AS deviation_ppm,
         |  (abs((g.n * 1000000) // t.n_total - e.benford_ppm) > 10000)
         |    AS flagged
         |FROM g CROSS JOIN t JOIN e ON e.digit = g.digit
         |ORDER BY g.digit""".stripMargin
    },

    // positional postings for the two probe terms, phrase = pos+1 join
    "q214_phrase_search" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |q AS (
         |  SELECT doc_id, p.pos AS pos, p.tok AS tok FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
         |      i -> struct_pack(pos := i - 1, tok := tk[i]))) AS p
         |    FROM tk) z),
         |p1 AS (SELECT doc_id, pos FROM q WHERE tok = 'fast'),
         |p2 AS (SELECT doc_id, pos FROM q WHERE tok = 'merge')
         |SELECT p1.doc_id, CAST(count(*) AS BIGINT) AS n_matches,
         |  CAST(min(p1.pos) AS BIGINT) AS first_pos
         |FROM p1 JOIN p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
         |GROUP BY p1.doc_id ORDER BY p1.doc_id""".stripMargin,

    // gap-and-islands on the calendar axis: day - row_number constant
    // exactly while days are consecutive
    "q215_activity_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |k AS (
        |  SELECT user_id, day,
        |    day - CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY day) AS INTEGER) AS isl
        |  FROM days),
        |s AS (
        |  SELECT user_id, isl, min(day) AS start_day,
        |    CAST(count(*) AS BIGINT) AS len
        |  FROM k GROUP BY user_id, isl)
        |SELECT user_id, start_day, len,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_day)
        |    AS BIGINT) AS streak_no
        |FROM s ORDER BY user_id, start_day""".stripMargin,

    // min/max stats per block under two layouts; prunable iff the stat
    // range proves no row matches; one stat aggregation, tiny unpivot
    "q216_zonemap_audit" ->
      """WITH base AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |st AS MATERIALIZED (
        |  SELECT layout, blk, min(d) AS min_d, max(d) AS max_d,
        |    min(cents) AS min_c, max(cents) AS max_c,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM (
        |    SELECT 'key_block' AS layout,
        |      'k' || CAST(o_orderkey // 1000 AS VARCHAR) AS blk, d, cents
        |    FROM base
        |    UNION ALL
        |    SELECT 'month', strftime(d, '%Y-%m'), d, cents FROM base) u
        |  GROUP BY layout, blk),
        |p AS MATERIALIZED (
        |  SELECT layout, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(CASE WHEN max_d < DATE '2000-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS sk1,
        |    CAST(sum(CASE WHEN max_d < DATE '2000-01-01' THEN n_rows ELSE 0 END) AS BIGINT) AS rw1,
        |    CAST(sum(CASE WHEN min_d >= DATE '1996-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS sk2,
        |    CAST(sum(CASE WHEN min_d >= DATE '1996-01-01' THEN n_rows ELSE 0 END) AS BIGINT) AS rw2,
        |    CAST(sum(CASE WHEN max_c <= 40000000 THEN 1 ELSE 0 END) AS BIGINT) AS sk3,
        |    CAST(sum(CASE WHEN max_c <= 40000000 THEN n_rows ELSE 0 END) AS BIGINT) AS rw3,
        |    CAST(sum(CASE WHEN min_c > 500000 THEN 1 ELSE 0 END) AS BIGINT) AS sk4,
        |    CAST(sum(CASE WHEN min_c > 500000 THEN n_rows ELSE 0 END) AS BIGINT) AS rw4
        |  FROM st GROUP BY layout),
        |r AS (
        |  SELECT layout, n_blocks, 'date_ge_2000' AS predicate,
        |    sk1 AS n_skipped, rw1 AS rows_skipped FROM p
        |  UNION ALL SELECT layout, n_blocks, 'date_lt_1996', sk2, rw2 FROM p
        |  UNION ALL SELECT layout, n_blocks, 'price_gt_400k', sk3, rw3 FROM p
        |  UNION ALL SELECT layout, n_blocks, 'price_le_5k', sk4, rw4 FROM p)
        |SELECT layout, predicate, n_blocks, n_skipped,
        |  CAST((n_skipped * 10000) // n_blocks AS BIGINT) AS skip_bp,
        |  rows_skipped
        |FROM r ORDER BY layout, predicate""".stripMargin,

    // min-distance relaxation, 5 unrolled rounds; NULL handling is
    // explicit CASE on both engines (never least()'s NULL semantics).
    // Each d$i is referenced TWICE (nb$i and d${i+1}) — without
    // MATERIALIZED the inlining doubles per round and the whole minhash
    // chain re-expands 2^rounds times (the q206/q185 disk-blowup class,
    // reproduced at sf1)
    "q217_bfs_hops" -> {
      val rounds = (0 until 5).map { i =>
        s"""nb$i AS (
           |  SELECT s.dst AS node, min(d.d) + 1 AS nd
           |  FROM sym s JOIN d$i d ON d.node = s.src AND d.d IS NOT NULL
           |  GROUP BY s.dst),
           |d${i + 1} AS MATERIALIZED (
           |  SELECT d.node,
           |    CASE WHEN d.d IS NULL THEN nb.nd
           |         WHEN nb.nd IS NULL THEN d.d
           |         WHEN nb.nd < d.d THEN nb.nd ELSE d.d END AS d
           |  FROM d$i d LEFT JOIN nb$i nb ON nb.node = d.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minHashCtesSql,
         |ed AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.2),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b, a FROM ed),
         |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg
         |        FROM sym GROUP BY src),
         |d0 AS MATERIALIZED (SELECT node,
         |        CASE WHEN node % 20 = 0 THEN CAST(0 AS BIGINT) END AS d
         |       FROM deg),
         |$rounds
         |SELECT d5.node AS doc_id, CAST(g.deg AS BIGINT) AS degree,
         |  (d5.node % 20 = 0) AS is_seed,
         |  CAST(coalesce(d5.d, -1) AS BIGINT) AS hops
         |FROM d5 JOIN deg g ON g.node = d5.node
         |ORDER BY doc_id""".stripMargin
    },

    // LOO mean in exact cents: (segment sum - own target) // (n - 1)
    "q218_loo_target_encode" ->
      """WITH o AS (
        |  SELECT o_orderkey, c_mktsegment AS segment,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |st AS (SELECT segment, sum(cents) AS seg_sum,
        |         CAST(count(*) AS BIGINT) AS seg_n
        |       FROM o GROUP BY segment)
        |SELECT o.o_orderkey, o.segment, o.cents,
        |  CASE WHEN st.seg_n = 1 THEN CAST(-1 AS BIGINT)
        |    ELSE CAST((st.seg_sum - o.cents) // (st.seg_n - 1) AS BIGINT)
        |  END AS loo_cents
        |FROM o JOIN st USING (segment)
        |ORDER BY o.o_orderkey""".stripMargin,

    // hashing trick: bucket = h32("col=value") mod 64, sign from the
    // next hash bit; collisions sum
    "q219_feature_hashing" ->
      s"""WITH f AS (
         |  SELECT c_custkey, unnest([
         |    'nation=' || CAST(c_nationkey AS VARCHAR),
         |    'segment=' || c_mktsegment,
         |    'acct_neg=' || CAST(c_acctbal < 0 AS VARCHAR)]) AS feat
         |  FROM customer),
         |h AS (SELECT c_custkey, ${h32("feat")} AS h FROM f)
         |SELECT c_custkey, CAST(h % 64 AS BIGINT) AS bucket,
         |  CAST(sum(((h // 64) % 2) * 2 - 1) AS BIGINT) AS w
         |FROM h GROUP BY c_custkey, h % 64
         |ORDER BY c_custkey, bucket""".stripMargin,

    // s_t = (3x_t + 7s_{t-1}) // 10 over the zero-filled 28-slot grid;
    // list_reduce's first element is the fold init on both engines
    "q220_ewma_daily" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |md AS (SELECT max(day) AS maxd FROM ev),
        |cnt AS (
        |  SELECT event_type, 27 - datediff('day', day, maxd) AS pos,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM ev CROSS JOIN md
        |  WHERE datediff('day', day, maxd) < 28
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT t.event_type, p.p AS pos
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN range(0, 28) p(p)),
        |fil AS (
        |  SELECT g.event_type, g.pos, coalesce(c.x, 0) AS x
        |  FROM grid g LEFT JOIN cnt c
        |    ON c.event_type = g.event_type AND c.pos = g.pos),
        |arr AS (SELECT event_type, list(x ORDER BY pos) AS xs
        |        FROM fil GROUP BY event_type)
        |SELECT event_type, CAST(p.p AS BIGINT) AS pos,
        |  CAST(xs[p.p + 1] AS BIGINT) AS x,
        |  CAST(list_reduce(list_slice(xs, 1, p.p + 1),
        |    (s, x) -> (3 * x + 7 * s) // 10) AS BIGINT) AS ewma
        |FROM arr CROSS JOIN range(0, 28) p(p)
        |ORDER BY event_type, pos""".stripMargin,

    // PRF: q167's scoring twice — feedback top-k, expansion-term
    // window, Rocchio integer weights, re-rank. tok/lens re-referenced
    // across the two passes → MATERIALIZED
    "q221_prf_expand" -> {
      val qvals = CorpusOps.bm25Queries
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      def uExpr =
        """CAST(floor(
          |      round(ln(CAST(2*n+2 AS DOUBLE) / CAST(2*df+1 AS DOUBLE)), 8)
          |      * ((44.0 * CAST(t AS DOUBLE) * CAST(tf AS DOUBLE))
          |        / (20.0 * CAST(t AS DOUBLE) * CAST(tf AS DOUBLE)
          |          + 6.0 * CAST(t AS DOUBLE)
          |          + 18.0 * CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)))
          |      * 1e4 + 0.5) AS BIGINT)""".stripMargin
      s"""WITH qt(query_id, term) AS (VALUES $qvals),
         |lens AS MATERIALIZED (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               CAST(sum(dl) AS BIGINT) AS t FROM lens),
         |ptok AS MATERIALIZED (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |ptf1 AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM ptok
         |  WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term),
         |pdf1 AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |         FROM ptf1 GROUP BY term),
         |ps1 AS (
         |  SELECT qt.query_id, ptf1.doc_id, $uExpr AS u
         |  FROM ptf1 JOIN qt USING (term) JOIN pdf1 USING (term)
         |  JOIN lens USING (doc_id) CROSS JOIN tot),
         |pagg1 AS (SELECT query_id, doc_id, CAST(sum(u) AS BIGINT) AS su
         |          FROM ps1 GROUP BY 1, 2),
         |pfb AS MATERIALIZED (
         |  SELECT query_id, doc_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY su DESC, doc_id) AS rk FROM pagg1) z
         |  WHERE rk <= ${CorpusOps.bm25K}),
         |pfbt AS (
         |  SELECT DISTINCT pfb.query_id, pfb.doc_id, ptok.term
         |  FROM pfb JOIN ptok ON ptok.doc_id = pfb.doc_id
         |  WHERE regexp_matches(ptok.term, '^[a-z]{4,}$$')),
         |pfbdf AS (
         |  SELECT f.query_id, f.term, CAST(count(*) AS BIGINT) AS fb_df
         |  FROM pfbt f LEFT JOIN qt q2
         |    ON q2.query_id = f.query_id AND q2.term = f.term
         |  WHERE q2.term IS NULL
         |  GROUP BY f.query_id, f.term),
         |pexp AS (
         |  SELECT query_id, term FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY fb_df DESC, term) AS rn FROM pfbdf) z
         |  WHERE rn <= ${CorpusOps.prfExpansions}),
         |pw AS MATERIALIZED (
         |  SELECT query_id, term, CAST(2 AS BIGINT) AS w FROM qt
         |  UNION ALL
         |  SELECT query_id, term, CAST(1 AS BIGINT) FROM pexp),
         |ptf2 AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM ptok
         |  WHERE term IN (SELECT DISTINCT term FROM pw)
         |  GROUP BY doc_id, term),
         |pdf2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |         FROM ptf2 GROUP BY term),
         |ps2 AS (
         |  SELECT pw.query_id, ptf2.doc_id, pw.w * $uExpr AS wu
         |  FROM ptf2 JOIN pw ON pw.term = ptf2.term
         |  JOIN pdf2 ON pdf2.term = ptf2.term
         |  JOIN lens ON lens.doc_id = ptf2.doc_id CROSS JOIN tot),
         |pagg2 AS (SELECT query_id, doc_id, CAST(sum(wu) AS BIGINT)
         |            AS score_u4
         |          FROM ps2 GROUP BY 1, 2)
         |SELECT CAST(query_id AS BIGINT) AS query_id, rk, doc_id, score_u4
         |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_u4 DESC, doc_id) AS BIGINT) AS rk FROM pagg2) z
         |WHERE rk <= ${CorpusOps.bm25K}
         |ORDER BY query_id, rk""".stripMargin
    },

    // cross-modal triplets: lexical positives (minhash graph, mirrored
    // ids mapped out), embedding hard negatives (q53's capped bucket
    // join, near-dups anti-joined away). CTE names prefixed t- to stay
    // clear of the minhash chain's own names
    "q222_contrastive_triplets" ->
      s"""WITH $minHashCtesSql,
         |tprs AS MATERIALIZED (
         |  SELECT DISTINCT least(a % 100000, b % 100000) AS pa,
         |    greatest(a % 100000, b % 100000) AS pb
         |  FROM est
         |  WHERE est_jaccard >= 0.2 AND a % 100000 <> b % 100000),
         |tpos AS (SELECT pa AS anchor_id, min(pb) AS pos_id
         |         FROM tprs GROUP BY pa),
         |tsym AS (SELECT pa, pb FROM tprs
         |         UNION ALL SELECT pb, pa FROM tprs),
         |nb AS (
         |  SELECT coalesce(min(b.b), ${AnnSearch.triplesMaxBits}) AS bits
         |  FROM range(0, ${AnnSearch.triplesMaxBits + 1}) b(b)
         |  CROSS JOIN (SELECT count(*) AS n FROM embeddings) c
         |  WHERE (1 << b.b) * 100 >= c.n),
         |tbk AS (
         |  SELECT vec_id, embedding,
         |    (${bucketSql("embedding", 12)}) % (1 << (SELECT bits FROM nb))
         |      AS bucket
         |  FROM embeddings),
         |tcapped AS (
         |  SELECT * FROM (
         |    SELECT vec_id, embedding, bucket,
         |      count(*) OVER (PARTITION BY bucket) AS bsz FROM tbk) z
         |  WHERE bsz <= 500),
         |tcand AS (
         |  SELECT x.vec_id AS anchor_id, y.vec_id AS cand_id,
         |    ${cosSql("x.embedding", "y.embedding")} AS cand_cos
         |  FROM tcapped x JOIN tcapped y
         |    ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
         |tcnp AS (
         |  SELECT c.* FROM tcand c
         |  LEFT JOIN tsym s ON s.pa = c.anchor_id AND s.pb = c.cand_id
         |  WHERE s.pa IS NULL AND NOT isnan(c.cand_cos)),
         |tneg AS (
         |  SELECT anchor_id, cand_id AS neg_id, cand_cos AS neg_cos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY anchor_id
         |      ORDER BY cand_cos DESC, cand_id) AS rk FROM tcnp) z
         |  WHERE rk = 1),
         |tj AS (
         |  SELECT p.anchor_id, p.pos_id, n.neg_id, n.neg_cos,
         |    ${cosSql("ea.embedding", "ep.embedding")} AS pos_cos
         |  FROM tpos p JOIN tneg n ON n.anchor_id = p.anchor_id
         |  JOIN embeddings ea ON ea.vec_id = p.anchor_id
         |  JOIN embeddings ep ON ep.vec_id = p.pos_id)
         |SELECT anchor_id, pos_id, neg_id, pos_cos, neg_cos,
         |  CAST(floor(pos_cos*1e4 + 0.5) - floor(neg_cos*1e4 + 0.5)
         |    AS BIGINT) AS margin_u4,
         |  (neg_cos >= pos_cos) AS hard
         |FROM tj WHERE NOT isnan(pos_cos)
         |ORDER BY anchor_id""".stripMargin,

    // the datasheet as a (stat, value) table — all exact BIGINTs;
    // quality quantiles ride the (u, cnt) frequency grid (q168's
    // discipline, never a corpus sort)
    "q223_dataset_card" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT source, lang,
         |    CAST(len($toksSql) AS BIGINT) AS nt,
         |    CAST(len(list_filter($toksSql,
         |      x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS ns,
         |    $fpSql AS fp
         |  FROM documents),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(sum(nt) AS BIGINT) AS total_tokens,
         |    CAST(sum(CASE WHEN nt < 10 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_short,
         |    CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp
         |  FROM base),
         |q AS (
         |  SELECT CAST(floor((CASE WHEN nt = 0 THEN 0.0
         |    ELSE least(1.0, CAST(nt AS DOUBLE) / 100.0) * 0.6 +
         |      (CAST(ns AS DOUBLE) / CAST(greatest(nt, 1) AS DOUBLE)) * 0.4
         |    END) * 1e4 + 0.5) AS BIGINT) AS u
         |  FROM base),
         |freq AS (SELECT u, CAST(count(*) AS BIGINT) AS cnt
         |         FROM q GROUP BY u),
         |cum AS (
         |  SELECT u, cnt, sum(cnt) OVER (ORDER BY u) AS cum,
         |    sum(cnt) OVER () AS n
         |  FROM freq),
         |p25 AS (SELECT min(u) AS p25 FROM cum WHERE cum * 100 >= n * 25),
         |p50 AS (SELECT min(u) AS p50 FROM cum WHERE cum * 100 >= n * 50),
         |p75 AS (SELECT min(u) AS p75 FROM cum WHERE cum * 100 >= n * 75),
         |conc AS (
         |  SELECT CAST(max(sc) AS BIGINT) AS max_source FROM (
         |    SELECT count(*) AS sc FROM base GROUP BY source) z),
         |r AS (SELECT * FROM tot, p25, p50, p75, conc),
         |card AS (
         |  SELECT 'n_docs' AS stat, n_docs AS value FROM r
         |  UNION ALL SELECT 'n_sources', n_sources FROM r
         |  UNION ALL SELECT 'n_langs', n_langs FROM r
         |  UNION ALL SELECT 'total_tokens', total_tokens FROM r
         |  UNION ALL SELECT 'mean_doc_tokens_micro',
         |    CAST((total_tokens * 1000000) // n_docs AS BIGINT) FROM r
         |  UNION ALL SELECT 'n_exact_dup_docs', n_docs - n_distinct_fp FROM r
         |  UNION ALL SELECT 'exact_dup_ppm',
         |    CAST(((n_docs - n_distinct_fp) * 1000000) // n_docs AS BIGINT)
         |    FROM r
         |  UNION ALL SELECT 'n_short_docs', n_short FROM r
         |  UNION ALL SELECT 'short_doc_ppm',
         |    CAST((n_short * 1000000) // n_docs AS BIGINT) FROM r
         |  UNION ALL SELECT 'quality_p25_u4', p25 FROM r
         |  UNION ALL SELECT 'quality_p50_u4', p50 FROM r
         |  UNION ALL SELECT 'quality_p75_u4', p75 FROM r
         |  UNION ALL SELECT 'top_source_share_ppm',
         |    CAST((max_source * 1000000) // n_docs AS BIGINT) FROM r)
         |SELECT stat, value FROM card ORDER BY stat""".stripMargin,

    // exact integer seconds from microsecond epochs; percentiles on the
    // (sec, cnt) frequency grid — the discrete-quantile discipline
    "q224_funnel_latency" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) AS us
        |  FROM events),
        |fc AS (SELECT user_id, min(us) AS click_us FROM ev
        |       WHERE event_type = 'click' GROUP BY user_id),
        |conv AS (
        |  SELECT (min(e.us) - fc.click_us) // 1000000 AS sec
        |  FROM ev e JOIN fc ON fc.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.us >= fc.click_us
        |  GROUP BY e.user_id, fc.click_us),
        |freq AS MATERIALIZED (
        |  SELECT sec, CAST(count(*) AS BIGINT) AS cnt
        |  FROM conv GROUP BY sec),
        |cum AS MATERIALIZED (
        |  SELECT sec, cnt, sum(cnt) OVER (ORDER BY sec) AS cum,
        |    sum(cnt) OVER () AS n
        |  FROM freq)
        |SELECT CAST((SELECT sum(cnt) FROM freq) AS BIGINT) AS n_converted,
        |  (SELECT min(sec) FROM cum WHERE cum * 100 >= n * 25) AS p25_s,
        |  (SELECT min(sec) FROM cum WHERE cum * 100 >= n * 50) AS p50_s,
        |  (SELECT min(sec) FROM cum WHERE cum * 100 >= n * 75) AS p75_s,
        |  (SELECT min(sec) FROM cum WHERE cum * 100 >= n * 90) AS p90_s,
        |  (SELECT max(sec) FROM freq) AS max_s""".stripMargin,

    "q225_stickiness" ->
      """WITH d AS MATERIALIZED (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |        FROM d GROUP BY day),
        |grid AS (SELECT DISTINCT day AS g FROM d),
        |wau AS (
        |  SELECT g, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM d JOIN grid
        |    ON datediff('day', day, g) >= 0 AND datediff('day', day, g) <= 6
        |  GROUP BY g)
        |SELECT dau.day, dau.dau, wau.wau,
        |  CAST((dau.dau * 10000) // wau.wau AS BIGINT) AS stickiness_bp
        |FROM dau JOIN wau ON wau.g = dau.day
        |ORDER BY dau.day""".stripMargin,

    // q219's features scored by a fixed integer weight formula —
    // batch model inference as pure relational arithmetic
    "q226_linear_score" ->
      s"""WITH f AS (
         |  SELECT c_custkey, unnest([
         |    'nation=' || CAST(c_nationkey AS VARCHAR),
         |    'segment=' || c_mktsegment,
         |    'acct_neg=' || CAST(c_acctbal < 0 AS VARCHAR)]) AS feat
         |  FROM customer),
         |h AS (SELECT c_custkey, ${h32("feat")} AS h FROM f),
         |x AS (SELECT c_custkey, CAST(h % 64 AS BIGINT) AS bucket,
         |        CAST(sum(((h // 64) % 2) * 2 - 1) AS BIGINT) AS w
         |      FROM h GROUP BY c_custkey, h % 64)
         |SELECT c_custkey,
         |  CAST(sum(w * ((bucket * 7) % 21 - 10)) AS BIGINT) AS logit,
         |  (sum(w * ((bucket * 7) % 21 - 10)) > 0) AS predicted
         |FROM x GROUP BY c_custkey
         |ORDER BY c_custkey""".stripMargin,

    // q116's LPA labels + per-community edge/degree mass; the ppm
    // division is offset-shifted positive because DuckDB // floors
    // while Spark div truncates — they disagree on negatives
    "q227_modularity" -> {
      val rounds = (0 until 3).map { i =>
        s"""n$i AS (
           |  SELECT s.dst, l.lbl, count(*) AS cnt
           |  FROM sym s JOIN l$i l ON l.node = s.src
           |  GROUP BY s.dst, l.lbl),
           |l${i + 1} AS MATERIALIZED (
           |  SELECT dst AS node, lbl FROM (
           |    SELECT dst, lbl, row_number() OVER (PARTITION BY dst
           |      ORDER BY cnt DESC, lbl) AS rk
           |    FROM n$i) z WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minHashCtesSql,
         |ed AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.2),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b, a FROM ed),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
         |$rounds,
         |lf AS MATERIALIZED (SELECT node, lbl FROM l3),
         |mc AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
         |ein AS (
         |  SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS e_in
         |  FROM ed JOIN lf la ON la.node = ed.a
         |  JOIN lf lb ON lb.node = ed.b
         |  WHERE la.lbl = lb.lbl GROUP BY la.lbl),
         |deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY src),
         |ds AS (
         |  SELECT lf.lbl AS community, CAST(sum(deg) AS BIGINT) AS deg_sum,
         |    CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM deg JOIN lf ON lf.node = deg.node GROUP BY lf.lbl)
         |SELECT ds.community, ds.n_nodes, ds.deg_sum,
         |  coalesce(ein.e_in, 0) AS e_in, mc.m AS m_edges,
         |  CAST(4 * mc.m * coalesce(ein.e_in, 0) - ds.deg_sum * ds.deg_sum
         |    AS BIGINT) AS q_num,
         |  CAST(((4 * mc.m * coalesce(ein.e_in, 0)
         |      - ds.deg_sum * ds.deg_sum) * 1000000
         |      + (4 * mc.m * mc.m) * 1000000) // (4 * mc.m * mc.m)
         |    - 1000000 AS BIGINT) AS q_ppm
         |FROM ds LEFT JOIN ein ON ein.community = ds.community
         |CROSS JOIN mc
         |ORDER BY ds.community""".stripMargin
    },

    // two leads over one per-user window; support over the O(types^3)
    // path domain; deterministic top-20 cut
    "q228_path_mining" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
        |    event_type
        |  FROM events),
        |p AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e3
        |  FROM e),
        |c AS (
        |  SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS cnt
        |  FROM p WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |  GROUP BY e1, e2, e3),
        |t AS (SELECT sum(cnt) AS n_total FROM c)
        |SELECT e1, e2, e3, cnt,
        |  CAST((cnt * 10000) // n_total AS BIGINT) AS support_bp
        |FROM c CROSS JOIN t
        |ORDER BY cnt DESC, e1, e2, e3 LIMIT 20""".stripMargin,

    // exact keeper anti-join + greedy pair-drop, one token scan; the
    // mirrored pair ids map out with % 100000 (q222's device)
    "q229_dedup_savings" ->
      s"""WITH $minHashCtesSql,
         |docs AS MATERIALIZED (
         |  SELECT doc_id, $fpSql AS fp,
         |    CAST(len($toksSql) AS BIGINT) AS nt
         |  FROM documents),
         |tots AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |           CAST(sum(nt) AS BIGINT) AS tokens_total FROM docs),
         |keep AS (SELECT fp, min(doc_id) AS keep_id FROM docs GROUP BY fp),
         |ex AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_removed,
         |    CAST(coalesce(sum(d.nt), 0) AS BIGINT) AS tokens_removed
         |  FROM docs d JOIN keep k
         |    ON k.fp = d.fp AND d.doc_id <> k.keep_id),
         |rid AS (
         |  SELECT DISTINCT greatest(a % 100000, b % 100000) AS doc_id
         |  FROM est
         |  WHERE est_jaccard >= 0.2 AND a % 100000 <> b % 100000),
         |nr AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_removed,
         |    CAST(coalesce(sum(d.nt), 0) AS BIGINT) AS tokens_removed
         |  FROM docs d JOIN rid ON rid.doc_id = d.doc_id)
         |SELECT 'exact' AS method, t.n_docs, t.tokens_total,
         |  ex.n_removed, ex.tokens_removed,
         |  CAST((ex.tokens_removed * 10000) // t.tokens_total AS BIGINT)
         |    AS savings_bp
         |FROM ex CROSS JOIN tots t
         |UNION ALL
         |SELECT 'near_pair_greedy', t.n_docs, t.tokens_total,
         |  nr.n_removed, nr.tokens_removed,
         |  CAST((nr.tokens_removed * 10000) // t.tokens_total AS BIGINT)
         |FROM nr CROSS JOIN tots t
         |ORDER BY method""".stripMargin,

    // running per-user high-water mark (exclusive), then a CASE sweep
    // over the fixed delta grid
    "q230_lateness_audit" ->
      s"""WITH e AS (
        |  SELECT user_id, event_id,
        |    epoch_us(date_trunc('microseconds', ts)) AS us,
        |    epoch_us(date_trunc('microseconds', ts))
        |      + (${h32("CAST(event_id AS VARCHAR)")} % 600) * 1000000
        |      AS arrival_us
        |  FROM events),
        |h AS (
        |  SELECT us, max(us) OVER (PARTITION BY user_id
        |    ORDER BY arrival_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM e),
        |f AS (SELECT * FROM h WHERE hwm IS NOT NULL),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_eligible,
        |    CAST(sum(CASE WHEN us < hwm - 0 THEN 1 ELSE 0 END) AS BIGINT) AS l0,
        |    CAST(sum(CASE WHEN us < hwm - 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS l10,
        |    CAST(sum(CASE WHEN us < hwm - 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS l60,
        |    CAST(sum(CASE WHEN us < hwm - 300000000 THEN 1 ELSE 0 END) AS BIGINT) AS l300,
        |    CAST(sum(CASE WHEN us < hwm - 900000000 THEN 1 ELSE 0 END) AS BIGINT) AS l900
        |  FROM f),
        |r AS (
        |  SELECT CAST(0 AS BIGINT) AS delta_s, n_eligible, l0 AS n_late FROM agg
        |  UNION ALL SELECT 10, n_eligible, l10 FROM agg
        |  UNION ALL SELECT 60, n_eligible, l60 FROM agg
        |  UNION ALL SELECT 300, n_eligible, l300 FROM agg
        |  UNION ALL SELECT 900, n_eligible, l900 FROM agg)
        |SELECT delta_s, n_eligible, n_late,
        |  CAST((n_late * 10000) // n_eligible AS BIGINT) AS late_bp
        |FROM r ORDER BY delta_s""".stripMargin,

    // System-R estimate |A||B|/max(ndv) vs the actual join count
    "q231_join_card_audit" ->
      """WITH oc AS (
        |  SELECT 'orders_customer' AS join_name,
        |    (SELECT count(*) FROM orders) AS n_l,
        |    (SELECT count(*) FROM customer) AS n_r,
        |    (SELECT count(DISTINCT o_custkey) FROM orders) AS d_l,
        |    (SELECT count(DISTINCT c_custkey) FROM customer) AS d_r,
        |    (SELECT count(*) FROM orders JOIN customer
        |      ON o_custkey = c_custkey) AS actual),
        |lo AS (
        |  SELECT 'lineitem_orders',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(DISTINCT l_orderkey) FROM lineitem),
        |    (SELECT count(DISTINCT o_orderkey) FROM orders),
        |    (SELECT count(*) FROM lineitem JOIN orders
        |      ON l_orderkey = o_orderkey)),
        |lp AS (
        |  SELECT 'lineitem_part',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM part),
        |    (SELECT count(DISTINCT l_partkey) FROM lineitem),
        |    (SELECT count(DISTINCT p_partkey) FROM part),
        |    (SELECT count(*) FROM lineitem JOIN part
        |      ON l_partkey = p_partkey)),
        |ck AS (SELECT user_id AS cu FROM events WHERE event_type = 'click'),
        |pc AS (SELECT user_id AS pu FROM events
        |       WHERE event_type = 'purchase'),
        |cp AS (
        |  SELECT 'clicks_purchases_user',
        |    (SELECT count(*) FROM ck),
        |    (SELECT count(*) FROM pc),
        |    (SELECT count(DISTINCT cu) FROM ck),
        |    (SELECT count(DISTINCT pu) FROM pc),
        |    (SELECT count(*) FROM ck JOIN pc ON cu = pu)),
        |u AS (SELECT * FROM oc UNION ALL SELECT * FROM lo
        |      UNION ALL SELECT * FROM lp UNION ALL SELECT * FROM cp)
        |SELECT join_name, CAST(n_l AS BIGINT) AS n_l,
        |  CAST(n_r AS BIGINT) AS n_r, CAST(d_l AS BIGINT) AS d_l,
        |  CAST(d_r AS BIGINT) AS d_r,
        |  CAST((n_l * n_r) // greatest(d_l, d_r) AS BIGINT) AS est,
        |  CAST(actual AS BIGINT) AS actual,
        |  CAST((abs((n_l * n_r) // greatest(d_l, d_r) - actual) * 1000000)
        |    // greatest(actual, 1) AS BIGINT) AS err_ppm
        |FROM u ORDER BY join_name""".stripMargin,

    // block-local lag runs vs the distinct-count floor
    "q232_rle_audit" ->
      """WITH base AS MATERIALIZED (
        |  SELECT o_orderkey, o_orderkey // 1000 AS blk,
        |    o_orderstatus, o_orderpriority
        |  FROM orders),
        |r1 AS (
        |  SELECT 'o_orderstatus' AS "column",
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN prev IS NULL OR prev <> o_orderstatus
        |      THEN 1 ELSE 0 END) AS BIGINT) AS natural_runs,
        |    (SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT)
        |     FROM base) AS sorted_runs
        |  FROM (SELECT o_orderstatus, lag(o_orderstatus, 1)
        |      OVER (PARTITION BY blk ORDER BY o_orderkey) AS prev
        |    FROM base) z),
        |r2 AS (
        |  SELECT 'o_orderpriority',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN prev IS NULL OR prev <> o_orderpriority
        |      THEN 1 ELSE 0 END) AS BIGINT),
        |    (SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT)
        |     FROM base)
        |  FROM (SELECT o_orderpriority, lag(o_orderpriority, 1)
        |      OVER (PARTITION BY blk ORDER BY o_orderkey) AS prev
        |    FROM base) z),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |SELECT "column", n_rows, natural_runs, sorted_runs,
        |  CAST(((natural_runs - sorted_runs) * 10000) // natural_runs
        |    AS BIGINT) AS shrink_bp
        |FROM u ORDER BY "column" """.stripMargin,

    // stream-static enrichment rolled to (segment, hour); LEFT join —
    // unmatched facts survive as 'unknown', never dropped
    "q233_stream_enrich" ->
      """WITH dim AS (
        |  SELECT c_custkey AS d_user, c_mktsegment AS segment
        |  FROM customer),
        |e AS (
        |  SELECT e.user_id, date_trunc('hour', e.ts) AS wstart,
        |    coalesce(d.segment, 'unknown') AS segment
        |  FROM events e LEFT JOIN dim d ON d.d_user = e.user_id)
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  segment, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM e GROUP BY 1, 2
        |ORDER BY window_start, segment""".stripMargin,

    // exact discrete p1/p99 clip bounds from the (type, unit) grid;
    // sums exact integers, means one floor division each
    "q234_winsorized_mean" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS u
        |  FROM events),
        |freq AS (
        |  SELECT event_type, u, CAST(count(*) AS BIGINT) AS cnt
        |  FROM ev GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, u, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY u) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM freq),
        |lo AS (SELECT event_type, min(u) AS lo_u2 FROM cum
        |       WHERE cum * 100 >= n * 1 GROUP BY 1),
        |hi AS (SELECT event_type, min(u) AS hi_u2 FROM cum
        |       WHERE cum * 100 >= n * 99 GROUP BY 1),
        |j AS (
        |  SELECT ev.event_type, u, lo_u2, hi_u2,
        |    greatest(least(u, hi_u2), lo_u2) AS uw
        |  FROM ev JOIN lo USING (event_type) JOIN hi USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n, lo_u2, hi_u2,
        |  CAST(sum(CASE WHEN u < lo_u2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_low,
        |  CAST(sum(CASE WHEN u > hi_u2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_high,
        |  CAST(sum(u) AS BIGINT) AS sum_u2,
        |  CAST(sum(uw) AS BIGINT) AS sum_win_u2,
        |  CAST(CAST(sum(u) AS BIGINT) // count(*) AS BIGINT) AS mean_u2,
        |  CAST(CAST(sum(uw) AS BIGINT) // count(*) AS BIGINT)
        |    AS mean_win_u2
        |FROM j GROUP BY event_type, lo_u2, hi_u2
        |ORDER BY event_type""".stripMargin,

    // exact power-of-two range membership (never floor(log2): the float
    // log wobbles at exact powers)
    "q235_degree_histogram" ->
      s"""WITH $minHashCtesSql,
         |ed AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.2),
         |deg AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS node FROM ed UNION ALL SELECT b FROM ed) z
         |  GROUP BY node),
         |pw AS (
         |  SELECT p.p AS p, CAST(1 AS BIGINT) << p.p AS lo,
         |    CAST(1 AS BIGINT) << (p.p + 1) AS hi
         |  FROM range(0, 31) p(p)),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes_total FROM deg),
         |b AS (
         |  SELECT pw.p, pw.lo, CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(max(deg) AS BIGINT) AS max_deg
         |  FROM deg JOIN pw ON deg.deg >= pw.lo AND deg.deg < pw.hi
         |  GROUP BY pw.p, pw.lo)
         |SELECT CAST(p AS BIGINT) AS p, lo AS deg_ge, n_nodes, max_deg,
         |  CAST((n_nodes * 10000) // t.n_nodes_total AS BIGINT) AS share_bp
         |FROM b CROSS JOIN tot t ORDER BY p""".stripMargin,

    // three layouts, two 1-D predicates; zorder prunes on both axes
    "q236_zorder_pruning" -> {
      val z = Layout.zValueSql("x", "y")
      s"""WITH k AS MATERIALIZED (
         |  SELECT user_id % 256 AS x,
         |    CAST(hour(ts) AS BIGINT) AS y
         |  FROM events),
         |kz AS MATERIALIZED (SELECT x, y, $z AS zkey FROM k),
         |st AS MATERIALIZED (
         |  SELECT layout, blk, min(x) AS min_x, max(x) AS max_x,
         |    min(y) AS min_y, max(y) AS max_y,
         |    CAST(count(*) AS BIGINT) AS n_rows
         |  FROM (
         |    SELECT 'user_block' AS layout, x // 8 AS blk, x, y FROM kz
         |    UNION ALL SELECT 'hour_block', y // 3, x, y FROM kz
         |    UNION ALL SELECT 'zorder', zkey >> 6, x, y FROM kz) u
         |  GROUP BY layout, blk),
         |p AS MATERIALIZED (
         |  SELECT layout, CAST(count(*) AS BIGINT) AS n_blocks,
         |    CAST(sum(CASE WHEN min_x >= 32 THEN 1 ELSE 0 END) AS BIGINT) AS sk1,
         |    CAST(sum(CASE WHEN min_x >= 32 THEN n_rows ELSE 0 END) AS BIGINT) AS rw1,
         |    CAST(sum(CASE WHEN min_y >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS sk2,
         |    CAST(sum(CASE WHEN min_y >= 8 THEN n_rows ELSE 0 END) AS BIGINT) AS rw2
         |  FROM st GROUP BY layout),
         |r AS (
         |  SELECT layout, n_blocks, 'x_lt_32' AS predicate,
         |    sk1 AS n_skipped, rw1 AS rows_skipped FROM p
         |  UNION ALL SELECT layout, n_blocks, 'y_lt_8', sk2, rw2 FROM p)
         |SELECT layout, predicate, n_blocks, n_skipped,
         |  CAST((n_skipped * 10000) // n_blocks AS BIGINT) AS skip_bp,
         |  rows_skipped
         |FROM r ORDER BY layout, predicate""".stripMargin
    },

    // per candidate: one groupBy(A) + countDistinct(B); violations exact
    "q237_fd_profile" -> {
      def cand(name: String, table: String, det: String, dep: String) =
        s"""SELECT '$name' AS candidate,
           |  CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  CAST((sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) * 10000)
           |    // count(*) AS BIGINT) AS violation_bp,
           |  (sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0) AS holds
           |FROM (
           |  SELECT CAST($det AS VARCHAR) AS a,
           |    count(DISTINCT CAST($dep AS VARCHAR)) AS nb
           |  FROM $table GROUP BY 1) z""".stripMargin
      Seq(
        cand("nation_to_region", "nation", "n_nationkey", "n_regionkey"),
        cand("custkey_to_segment", "customer", "c_custkey", "c_mktsegment"),
        cand("orderpriority_to_status", "orders", "o_orderpriority",
          "o_orderstatus"),
        cand("user_to_event_type", "events", "user_id", "event_type"),
        cand("orderkey_to_custkey", "orders", "o_orderkey", "o_custkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY candidate")
    },

    // Spearman on tie-averaged doubled ranks + Pearson r² as exact
    // rationals in HUGEINT; rank maps from value-frequency tables
    "q238_correlation_audit" -> {
      def rmap(c: String) =
        s"""r_$c AS MATERIALIZED (
           |  SELECT v, CAST(2 * coalesce(cbef, 0) + cnt + 1 AS BIGINT) AS r2
           |  FROM (
           |    SELECT $c AS v, CAST(count(*) AS BIGINT) AS cnt,
           |      sum(count(*)) OVER (ORDER BY $c
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cbef
           |    FROM base GROUP BY $c) z)""".stripMargin
      def pairSql(name: String, x: String, y: String) =
        s"""SELECT '$name' AS pair, CAST(count(*) AS BIGINT) AS n,
           |  CAST(1000000 - (6 * CAST(sum((r2x - r2y) * (r2x - r2y))
           |      AS HUGEINT) * 1000000)
           |    // (CAST(4 AS HUGEINT) * count(*)
           |       * (CAST(count(*) AS HUGEINT) * count(*) - 1))
           |    AS BIGINT) AS spearman_ppm,
           |  CASE WHEN (CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x)
           |        - CAST(sum(x) AS HUGEINT) * sum(x))
           |      * (CAST(count(*) AS HUGEINT) * sum(CAST(y AS HUGEINT) * y)
           |        - CAST(sum(y) AS HUGEINT) * sum(y)) = 0 THEN CAST(0 AS BIGINT)
           |  ELSE CAST(
           |    ((CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * y)
           |        - CAST(sum(x) AS HUGEINT) * sum(y))
           |      * (CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * y)
           |        - CAST(sum(x) AS HUGEINT) * sum(y)) * 1000000)
           |    // ((CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x)
           |        - CAST(sum(x) AS HUGEINT) * sum(x))
           |      * (CAST(count(*) AS HUGEINT) * sum(CAST(y AS HUGEINT) * y)
           |        - CAST(sum(y) AS HUGEINT) * sum(y))) AS BIGINT) END
           |    AS pearson_r2_ppm,
           |  CAST(CASE WHEN CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * y)
           |      - CAST(sum(x) AS HUGEINT) * sum(y) > 0 THEN 1
           |    WHEN CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * y)
           |      - CAST(sum(x) AS HUGEINT) * sum(y) < 0 THEN -1
           |    ELSE 0 END AS BIGINT) AS pearson_sign
           |FROM (
           |  SELECT b.$x AS x, b.$y AS y, rx.r2 AS r2x, ry.r2 AS r2y
           |  FROM base b
           |  JOIN r_$x rx ON rx.v = b.$x
           |  JOIN r_$y ry ON ry.v = b.$y) j""".stripMargin
      s"""WITH base AS MATERIALIZED (
         |  SELECT CAST(n_chars AS BIGINT) AS len,
         |    CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0
         |      ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 +
         |        (CAST(len(list_filter(tk,
         |          x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |          / CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4
         |      END) * 1e4 + 0.5) AS BIGINT) AS q,
         |    CAST(len(tk) AS BIGINT) AS nt
         |  FROM (SELECT n_chars, $toksSql AS tk FROM documents) t),
         |${rmap("len")},
         |${rmap("q")},
         |${rmap("nt")}
         |${pairSql("len_vs_quality", "len", "q")}
         |UNION ALL
         |${pairSql("len_vs_tokens", "len", "nt")}
         |UNION ALL
         |${pairSql("tokens_vs_quality", "nt", "q")}
         |ORDER BY pair""".stripMargin
    },

    // first-setter replay swept over the m grid in one pass; the q94
    // mechanism with m as a dimension
    "q239_bloom_sweep" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT source, doc_id, $fpSql AS fp FROM documents
         |  UNION ALL
         |  SELECT source, doc_id + 100000, $fpSql FROM documents),
         |ms AS (SELECT * FROM (VALUES (64), (512), (4096)) v(m)),
         |pos AS MATERIALIZED (
         |  SELECT ms.m, b.source, b.doc_id, b.fp,
         |    ${h32("b.fp || '#' || CAST(j.j AS VARCHAR)")} % ms.m AS pos
         |  FROM base b CROSS JOIN ms CROSS JOIN range(0, 3) j(j)),
         |fs AS (SELECT m, source, pos, min(doc_id) AS first_doc
         |       FROM pos GROUP BY m, source, pos),
         |cov AS (
         |  SELECT p.m, p.source, p.doc_id, p.fp,
         |    CAST(sum(CASE WHEN fs.first_doc < p.doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_cov
         |  FROM pos p JOIN fs
         |    ON fs.m = p.m AND fs.source = p.source AND fs.pos = p.pos
         |  GROUP BY p.m, p.source, p.doc_id, p.fp),
         |ff AS (SELECT source, fp, min(doc_id) AS first_fp_doc
         |       FROM base GROUP BY source, fp)
         |SELECT CAST(c.m AS BIGINT) AS m,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN c.n_cov < 3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_emitted,
         |  CAST(sum(CASE WHEN c.doc_id = ff.first_fp_doc THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_unique,
         |  CAST(sum(CASE WHEN c.n_cov = 3 AND c.doc_id = ff.first_fp_doc
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_drops,
         |  CAST((sum(CASE WHEN c.n_cov = 3 AND c.doc_id = ff.first_fp_doc
         |    THEN 1 ELSE 0 END) * 10000)
         |    // sum(CASE WHEN c.doc_id = ff.first_fp_doc THEN 1 ELSE 0 END)
         |    AS BIGINT) AS false_drop_bp
         |FROM cov c JOIN ff ON ff.source = c.source AND ff.fp = c.fp
         |GROUP BY c.m ORDER BY m""".stripMargin,

    // recursive CC over the mapped pair graph, three keeper elections
    // as rk=1 windows over members, one stats rollup per policy
    "q240_keeper_policies" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (
         |  SELECT DISTINCT least(a % 100000, b % 100000) AS a,
         |    greatest(a % 100000, b % 100000) AS b
         |  FROM est
         |  WHERE est_jaccard >= 0.2 AND a % 100000 <> b % 100000),
         |symp AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM symp),
         |${minLabelCtes("symp", "SELECT node, node AS lbl FROM nodes",
             "comp", "component")},
         |degr AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |         FROM symp GROUP BY src),
         |feats AS MATERIALIZED (
         |  SELECT doc_id AS node,
         |    CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0
         |      ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 +
         |        (CAST(len(list_filter(tk,
         |          x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |          / CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4
         |      END) * 1e4 + 0.5) AS BIGINT) AS q_u4,
         |    CAST(len(tk) AS BIGINT) AS nt
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |mem AS MATERIALIZED (
         |  SELECT c.component, c.node, d.deg, f.q_u4, f.nt
         |  FROM comp c JOIN degr d ON d.node = c.node
         |  JOIN feats f ON f.node = c.node),
         |k_min AS (
         |  SELECT component, node FROM (
         |    SELECT component, node, row_number() OVER (
         |      PARTITION BY component ORDER BY node) AS rk FROM mem) z
         |  WHERE rk = 1),
         |k_q AS (
         |  SELECT component, node FROM (
         |    SELECT component, node, row_number() OVER (
         |      PARTITION BY component ORDER BY q_u4 DESC, node) AS rk
         |    FROM mem) z
         |  WHERE rk = 1),
         |k_deg AS (
         |  SELECT component, node FROM (
         |    SELECT component, node, row_number() OVER (
         |      PARTITION BY component ORDER BY deg DESC, node) AS rk
         |    FROM mem) z
         |  WHERE rk = 1),
         |u AS (
         |  SELECT 'min_id' AS policy, m.q_u4, m.nt
         |  FROM k_min k JOIN mem m
         |    ON m.component = k.component AND m.node = k.node
         |  UNION ALL
         |  SELECT 'max_quality', m.q_u4, m.nt
         |  FROM k_q k JOIN mem m
         |    ON m.component = k.component AND m.node = k.node
         |  UNION ALL
         |  SELECT 'max_degree', m.q_u4, m.nt
         |  FROM k_deg k JOIN mem m
         |    ON m.component = k.component AND m.node = k.node)
         |SELECT policy, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(q_u4) // count(*) AS BIGINT) AS mean_quality_u4,
         |  CAST(sum(nt) AS BIGINT) AS kept_tokens
         |FROM u GROUP BY policy ORDER BY policy""".stripMargin,

    // md5-probed non-neighbor candidates with rejection against the
    // true adjacency riding as the audit column
    "q241_negative_edges" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (
         |  SELECT DISTINCT least(a % 100000, b % 100000) AS a,
         |    greatest(a % 100000, b % 100000) AS b
         |  FROM est
         |  WHERE est_jaccard >= 0.2 AND a % 100000 <> b % 100000),
         |mx AS (SELECT max(doc_id) AS mx FROM documents),
         |cnd AS (
         |  SELECT p.a, p.b, CAST(j.j AS BIGINT) AS j,
         |    ${h32("CAST(p.a AS VARCHAR) || '#' || CAST(j.j AS VARCHAR)")}
         |      % (mx.mx + 1) AS c
         |  FROM prs p CROSS JOIN mx CROSS JOIN range(1, 3) j(j)),
         |symn AS (SELECT a AS s_a, b AS s_c FROM prs
         |         UNION ALL SELECT b, a FROM prs)
         |SELECT c.a, c.b, c.j, c.c,
         |  (s.s_a IS NULL AND c.c <> c.a AND c.c <> c.b) AS accepted
         |FROM cnd c LEFT JOIN symn s ON s.s_a = c.a AND s.s_c = c.c
         |ORDER BY a, b, j""".stripMargin,

    // per-term presence 2x2 between doc-id-parity halves, q212's exact
    // chi-square arithmetic, top-20 cut
    "q242_term_drift" ->
      s"""WITH halves AS (
         |  SELECT DISTINCT doc_id % 2 AS h, doc_id, term FROM (
         |    SELECT doc_id, unnest($toksSql) AS term FROM documents) z),
         |tot AS (
         |  SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n1
         |  FROM documents),
         |cnt AS (
         |  SELECT term,
         |    CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM halves GROUP BY term),
         |tb AS (
         |  SELECT term, a, n0 - a AS b, c, n1 - c AS d
         |  FROM cnt CROSS JOIN tot)
         |SELECT term, a AS docs_h0, c AS docs_h1,
         |  CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0
         |  THEN CAST(0 AS BIGINT)
         |  ELSE CAST((CAST(a + b + c + d AS HUGEINT)
         |      * ((CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
         |         * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c))
         |      * 1000000)
         |    // (CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d))
         |    AS BIGINT) END AS chi2_micro
         |FROM tb
         |ORDER BY chi2_micro DESC, term LIMIT 20""".stripMargin,

    // two mean-aggregation layers, each one edge join + node rollup;
    // 2-hop information without 2-hop pair enumeration
    "q243_message_passing" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (
         |  SELECT DISTINCT least(a % 100000, b % 100000) AS a,
         |    greatest(a % 100000, b % 100000) AS b
         |  FROM est
         |  WHERE est_jaccard >= 0.2 AND a % 100000 <> b % 100000),
         |symm AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |feat AS MATERIALIZED (
         |  SELECT doc_id AS node,
         |    CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0
         |      ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 +
         |        (CAST(len(list_filter(tk,
         |          x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |          / CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4
         |      END) * 1e4 + 0.5) AS BIGINT) AS q_u4
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents) t),
         |h1 AS MATERIALIZED (
         |  SELECT s.dst AS node, CAST(count(*) AS BIGINT) AS deg,
         |    CAST(sum(f.q_u4) // count(*) AS BIGINT) AS h1_u4
         |  FROM symm s JOIN feat f ON f.node = s.src
         |  GROUP BY s.dst),
         |h2 AS (
         |  SELECT s.dst AS node,
         |    CAST(sum(h.h1_u4) // count(*) AS BIGINT) AS h2_u4
         |  FROM symm s JOIN h1 h ON h.node = s.src
         |  GROUP BY s.dst)
         |SELECT h1.node AS doc_id, h1.deg, f.q_u4, h1.h1_u4, h2.h2_u4
         |FROM h1 JOIN h2 ON h2.node = h1.node
         |JOIN feat f ON f.node = h1.node
         |ORDER BY doc_id""".stripMargin,

    // the schema cube cross-joined from tiny distinct relations; the
    // zero cells ARE the finding
    "q244_coverage_matrix" ->
      """WITH g AS (
        |  SELECT s.source, l.lang
        |  FROM (SELECT DISTINCT source FROM documents) s
        |  CROSS JOIN (SELECT DISTINCT lang FROM documents) l),
        |c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |      FROM documents GROUP BY source, lang),
        |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source
        |       FROM documents GROUP BY source)
        |SELECT g.source, g.lang, coalesce(c.n, 0) AS n_docs,
        |  CAST((coalesce(c.n, 0) * 10000) // ps.n_source AS BIGINT)
        |    AS source_share_bp,
        |  (c.n IS NULL) AS empty
        |FROM g LEFT JOIN c ON c.source = g.source AND c.lang = g.lang
        |JOIN ps ON ps.source = g.source
        |ORDER BY g.source, g.lang""".stripMargin,

    // 40/20/40 with the largest-remainder middle share; conservation
    // to exactly 1e6 in every branch
    "q245_ushaped_attribution" ->
      """WITH c AS (
        |  SELECT user_id, ts AS click_ts, event_id AS click_id
        |  FROM events WHERE event_type = 'click'),
        |b AS (
        |  SELECT user_id, ts AS buy_ts, event_id AS buy_id
        |  FROM events WHERE event_type = 'purchase'),
        |p AS (
        |  SELECT b.buy_id, c.click_id, c.click_ts
        |  FROM b JOIN c ON c.user_id = b.user_id
        |  WHERE c.click_ts <= b.buy_ts
        |    AND c.click_ts > b.buy_ts - INTERVAL 30 MINUTE),
        |r AS (
        |  SELECT buy_id, click_id,
        |    CAST(row_number() OVER (PARTITION BY buy_id
        |      ORDER BY click_ts, click_id) AS BIGINT) AS touch_rank,
        |    CAST(count(*) OVER (PARTITION BY buy_id) AS BIGINT)
        |      AS n_touches
        |  FROM p)
        |SELECT buy_id, click_id, touch_rank, n_touches,
        |  CAST(CASE WHEN n_touches = 1 THEN 1000000
        |    WHEN n_touches = 2 THEN 500000
        |    WHEN touch_rank = 1 OR touch_rank = n_touches THEN 400000
        |    ELSE 200000 // (n_touches - 2)
        |      + CASE WHEN touch_rank - 1 <= 200000 % (n_touches - 2)
        |        THEN 1 ELSE 0 END
        |    END AS BIGINT) AS credit_ppm
        |FROM r ORDER BY buy_id, touch_rank""".stripMargin,

    // endpoint-degree Pearson over the symmetrized edge list, q238's
    // exact-rational power-sum discipline
    "q246_assortativity" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (
         |  SELECT DISTINCT least(a % 100000, b % 100000) AS a,
         |    greatest(a % 100000, b % 100000) AS b
         |  FROM est
         |  WHERE est_jaccard >= 0.2 AND a % 100000 <> b % 100000),
         |syma AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |dg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT)
         |        AS deg FROM syma GROUP BY src),
         |xy AS (
         |  SELECT du.deg AS x, dv.deg AS y
         |  FROM syma s JOIN dg du ON du.node = s.src
         |  JOIN dg dv ON dv.node = s.dst),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * y)
         |      - CAST(sum(x) AS HUGEINT) * sum(y) AS cov_n,
         |    (CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x)
         |      - CAST(sum(x) AS HUGEINT) * sum(x))
         |    * (CAST(count(*) AS HUGEINT) * sum(CAST(y AS HUGEINT) * y)
         |      - CAST(sum(y) AS HUGEINT) * sum(y)) AS var_n
         |  FROM xy)
         |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
         |  CASE WHEN var_n = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(((cov_n * cov_n) * 1000000) // var_n AS BIGINT)
         |  END AS r2_ppm,
         |  CAST(CASE WHEN cov_n > 0 THEN 1 WHEN cov_n < 0 THEN -1
         |    ELSE 0 END AS BIGINT) AS r_sign,
         |  CASE WHEN cov_n > 0 THEN 'assortative'
         |    WHEN cov_n < 0 THEN 'disassortative'
         |    ELSE 'neutral' END AS regime
         |FROM agg""".stripMargin,

    // Gini via tie-averaged doubled ranks over the revenue frequency
    // table; two nonnegative floor divisions, HUGEINT intermediates
    "q247_gini" ->
      """WITH rev AS MATERIALIZED (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |r2m AS (
        |  SELECT v, CAST(2 * coalesce(cb, 0) + cnt + 1 AS BIGINT) AS r2
        |  FROM (
        |    SELECT cents AS v, CAST(count(*) AS BIGINT) AS cnt,
        |      sum(count(*)) OVER (ORDER BY cents
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb
        |    FROM rev GROUP BY cents) z),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS HUGEINT) AS sx,
        |    CAST(sum(r2 * cents) AS HUGEINT) AS srx,
        |    CAST(max(cents) AS BIGINT) AS max_cents
        |  FROM rev JOIN r2m ON r2m.v = rev.cents)
        |SELECT n, CAST(sx AS BIGINT) AS total_cents, max_cents,
        |  CAST((srx * 1000000) // (CAST(n AS HUGEINT) * sx)
        |    - ((n + 1) * 1000000) // n AS BIGINT) AS gini_ppm,
        |  CAST((CAST(max_cents AS HUGEINT) * 1000000) // sx AS BIGINT)
        |    AS top1_share_ppm
        |FROM agg""".stripMargin,

    // the composed streaming curation gate: q94's Bloom first-setter
    // replay ⋈ q173's rank-capped band replay (both over the extended
    // corpus with edited re-crawls) ⋈ q166/q168's per-source floor table
    "q248_full_curate" ->
      s"""WITH $fullCurateCtesSql
         |SELECT f.doc_id, f.source, f.fp, f.n_tokens, f.q_u4
         |FROM fvec f
         |WHERE f.emitted AND f.nd_ok AND f.len_ok AND f.floor_ok
         |ORDER BY f.doc_id""".stripMargin,

    // the per-document decision log of the composed gate: every stage's
    // verdict plus the primary dropped_by label in stage order
    "q249_curate_decisions" ->
      s"""WITH $fullCurateCtesSql
         |SELECT doc_id, source, n_tokens, q_u4,
         |  emitted, nd_ok, len_ok, floor_ok,
         |  (emitted AND nd_ok AND len_ok AND floor_ok) AS curated,
         |  CASE WHEN NOT emitted THEN 'exact'
         |       WHEN NOT nd_ok THEN 'neardup'
         |       WHEN NOT len_ok THEN 'length'
         |       WHEN NOT floor_ok THEN 'floor'
         |       ELSE 'none' END AS dropped_by
         |FROM fvec
         |ORDER BY doc_id""".stripMargin,

    // the release-report funnel: per source, what each stage cut, in
    // stage order (columns + n_curated re-sum to n_arrived)
    "q250_curate_funnel" ->
      s"""WITH $fullCurateCtesSql
         |SELECT source, CAST(count(*) AS BIGINT) AS n_arrived,
         |  CAST(sum(CASE WHEN NOT emitted THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exact_dropped,
         |  CAST(sum(CASE WHEN emitted AND NOT nd_ok THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_neardup_dropped,
         |  CAST(sum(CASE WHEN emitted AND nd_ok AND NOT len_ok
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_length_dropped,
         |  CAST(sum(CASE WHEN emitted AND nd_ok AND len_ok AND NOT floor_ok
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_floor_dropped,
         |  CAST(sum(CASE WHEN emitted AND nd_ok AND len_ok AND floor_ok
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_curated,
         |  CAST(sum(CASE WHEN emitted AND nd_ok AND len_ok AND floor_ok
         |    THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS yield_u4
         |FROM fvec
         |GROUP BY source
         |ORDER BY source""".stripMargin,

    // the q250 funnel cut by arrival phase (fixture id regions) — the
    // designed per-phase fate profile as a query
    "q265_phase_funnel" ->
      s"""WITH $fullCurateCtesSql,
         |ph AS (
         |  SELECT CASE WHEN doc_id >= ${graft.streaming.FullCurate.editOffset}
         |           THEN 'edited_recrawl'
         |         WHEN doc_id >= 100000 THEN 'exact_rearrival'
         |         ELSE 'base' END AS phase,
         |    emitted, nd_ok, len_ok, floor_ok
         |  FROM fvec)
         |SELECT phase, CAST(count(*) AS BIGINT) AS n_arrived,
         |  CAST(sum(CASE WHEN NOT emitted THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exact_dropped,
         |  CAST(sum(CASE WHEN emitted AND NOT nd_ok THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_neardup_dropped,
         |  CAST(sum(CASE WHEN emitted AND nd_ok AND NOT len_ok
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_length_dropped,
         |  CAST(sum(CASE WHEN emitted AND nd_ok AND len_ok AND NOT floor_ok
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_floor_dropped,
         |  CAST(sum(CASE WHEN emitted AND nd_ok AND len_ok AND floor_ok
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_curated,
         |  CAST(sum(CASE WHEN emitted AND nd_ok AND len_ok AND floor_ok
         |    THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS yield_u4
         |FROM ph
         |GROUP BY phase
         |ORDER BY phase""".stripMargin,

    // Heaps-law growth curve: distinct-so-far via first-occurrence
    // decile, exact integer pairs only (fitting is the consumer's job)
    "q251_vocab_growth" -> {
      val nd = TextAnalysis.vocabDeciles
      s"""WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |pd AS (
         |  SELECT least(doc_id * $nd // n_docs, ${nd - 1}) AS decile,
         |    CAST(len($toksSql) AS BIGINT) AS nt
         |  FROM documents CROSS JOIN tot),
         |tc AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs_dec,
         |         CAST(sum(nt) AS BIGINT) AS nt_dec
         |       FROM pd GROUP BY decile),
         |fsn AS (
         |  SELECT least(first_doc * $nd // n_docs, ${nd - 1}) AS decile,
         |    CAST(count(*) AS BIGINT) AS new_types
         |  FROM (
         |    SELECT tok, min(doc_id) AS first_doc FROM (
         |      SELECT doc_id, unnest($toksSql) AS tok FROM documents) z
         |    GROUP BY tok) f CROSS JOIN tot
         |  GROUP BY 1),
         |grid AS (SELECT CAST(x AS INT) AS decile FROM range(0, $nd) r(x)),
         |filled AS (
         |  SELECT g.decile,
         |    coalesce(tc.n_docs_dec, 0) AS n_docs_dec,
         |    coalesce(tc.nt_dec, 0) AS nt_dec,
         |    coalesce(fsn.new_types, 0) AS new_types
         |  FROM grid g LEFT JOIN tc ON tc.decile = g.decile
         |  LEFT JOIN fsn ON fsn.decile = g.decile),
         |cum AS (
         |  SELECT decile, new_types,
         |    CAST(sum(n_docs_dec) OVER (ORDER BY decile) AS BIGINT)
         |      AS n_docs_cum,
         |    CAST(sum(nt_dec) OVER (ORDER BY decile) AS BIGINT)
         |      AS n_tokens_cum,
         |    CAST(sum(new_types) OVER (ORDER BY decile) AS BIGINT)
         |      AS vocab_cum
         |  FROM filled)
         |SELECT decile, n_docs_cum, n_tokens_cum, vocab_cum, new_types,
         |  CAST(vocab_cum * 10000 // greatest(n_tokens_cum, 1) AS BIGINT)
         |    AS ttr_u4
         |FROM cum ORDER BY decile""".stripMargin
    },

    // greedy budget allocation: rank sources by exact-integer mean
    // quality, fund in rank order until B = total/4 is exhausted
    "q252_token_budget" -> {
      val uSql = "CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0 " +
        "ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 + " +
        "(CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) " +
        "/ CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4 " +
        "END) * 1e4 + 0.5) AS BIGINT)"
      s"""WITH pd AS (
         |  SELECT source, CAST(len(tk) AS BIGINT) AS nt, $uSql AS q_u4
         |  FROM (SELECT source, $toksSql AS tk FROM documents) z),
         |ps AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(nt) AS BIGINT) AS src_tokens,
         |    CAST(sum(q_u4) // count(*) AS BIGINT) AS mean_q_u4
         |  FROM pd GROUP BY source),
         |b AS (SELECT CAST(sum(src_tokens) // ${CorpusOps.budgetDen}
         |        AS BIGINT) AS budget_tokens FROM ps),
         |rkd AS (
         |  SELECT ps.*, b.budget_tokens,
         |    CAST(row_number() OVER (ORDER BY mean_q_u4 DESC, source)
         |      AS INT) AS rk,
         |    CAST(coalesce(sum(src_tokens) OVER (
         |      ORDER BY mean_q_u4 DESC, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS prior_tokens
         |  FROM ps CROSS JOIN b),
         |alloc AS (
         |  SELECT source, rk, mean_q_u4, n_docs, src_tokens,
         |    greatest(0, least(src_tokens, budget_tokens - prior_tokens))
         |      AS tokens_taken
         |  FROM rkd)
         |SELECT source, rk, mean_q_u4, n_docs, src_tokens,
         |  CAST(tokens_taken AS BIGINT) AS tokens_taken,
         |  CAST(tokens_taken * 10000 // greatest(src_tokens, 1) AS BIGINT)
         |    AS frac_taken_u4
         |FROM alloc ORDER BY rk""".stripMargin
    },

    // reply-forest SFT pairs: md5-block parents (q190 convention on doc
    // ids), hygiene cuts, best-reply election by (quality, lowest id)
    "q253_sft_pairs" -> {
      val uSql = "CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0 " +
        "ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 + " +
        "(CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) " +
        "/ CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4 " +
        "END) * 1e4 + 0.5) AS BIGINT)"
      s"""WITH d AS (
         |  SELECT doc_id, $fpSql AS fp, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    $uSql AS q_u4
         |  FROM (SELECT doc_id, text, $toksSql AS tk FROM documents) z),
         |ch AS (
         |  SELECT *,
         |    doc_id - (doc_id % ${CorpusOps.sftBlock})
         |      + (${h32("CAST(doc_id AS VARCHAR)")} % (doc_id % ${CorpusOps.sftBlock}))
         |      AS parent
         |  FROM d WHERE doc_id % ${CorpusOps.sftBlock} <> 0),
         |cand AS (
         |  SELECT p.doc_id AS prompt_doc, c.doc_id AS response_doc,
         |    p.n_tokens AS prompt_tokens, c.n_tokens AS response_tokens,
         |    c.q_u4 AS response_q_u4
         |  FROM ch c JOIN d p ON p.doc_id = c.parent
         |  WHERE p.n_tokens >= ${CorpusOps.sftMinTokens}
         |    AND c.n_tokens >= ${CorpusOps.sftMinTokens}
         |    AND p.fp <> c.fp),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY prompt_doc
         |      ORDER BY response_q_u4 DESC, response_doc) AS rn,
         |    CAST(count(*) OVER (PARTITION BY prompt_doc) AS BIGINT)
         |      AS n_candidates
         |  FROM cand)
         |SELECT prompt_doc, response_doc, prompt_tokens, response_tokens,
         |  response_q_u4, n_candidates
         |FROM r WHERE rn = 1
         |ORDER BY prompt_doc""".stripMargin
    },

    // dup-farm review report: q67's keeper-labeled clusters rolled up
    // with base features inherited via % dupOffset
    "q254_dup_clusters" -> {
      val uSql = "CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0 " +
        "ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 + " +
        "(CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) " +
        "/ CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4 " +
        "END) * 1e4 + 0.5) AS BIGINT)"
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |ids AS (SELECT doc_id FROM corpus),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |$keeperCompCtes,
         |labeled AS MATERIALIZED (
         |  SELECT i.doc_id, coalesce(c.keeper0, i.doc_id) AS keeper
         |  FROM ids i LEFT JOIN comp c ON c.node = i.doc_id),
         |csz AS (SELECT keeper, CAST(count(*) AS BIGINT) AS cluster_size
         |        FROM labeled GROUP BY keeper),
         |feats AS (
         |  SELECT doc_id AS base_id, source, $uSql AS q_u4
         |  FROM (SELECT doc_id, source, $toksSql AS tk FROM documents) z)
         |SELECT l.keeper, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(sum(CASE WHEN l.doc_id < 100000 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_base,
         |  CAST(count(DISTINCT f.source) AS BIGINT) AS n_sources,
         |  min(f.q_u4) AS q_min_u4, max(f.q_u4) AS q_max_u4,
         |  min(l.doc_id) AS first_doc, max(l.doc_id) AS last_doc
         |FROM labeled l
         |JOIN csz ON csz.keeper = l.keeper
         |JOIN feats f ON f.base_id = l.doc_id % 100000
         |WHERE csz.cluster_size > 1
         |GROUP BY l.keeper
         |ORDER BY l.keeper""".stripMargin
    },

    // snapshot vocab drift: one presence-counter pass over both
    // versions' tokens (q92's v2 convention), O(1)-row rollup
    "q255_vocab_drift" ->
      s"""WITH v2 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN coalesce(text, '') || ' v2-edit'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 5 <> 4
         |  UNION ALL
         |  SELECT doc_id + 300000, text FROM documents WHERE doc_id % 11 = 0),
         |tt AS (
         |  SELECT tok, 'v1' AS side FROM (
         |    SELECT unnest($toksSql) AS tok FROM documents) a
         |  UNION ALL
         |  SELECT tok, 'v2' FROM (
         |    SELECT unnest($toksSql) AS tok FROM v2) b),
         |pt AS (
         |  SELECT tok,
         |    CAST(sum(CASE WHEN side = 'v1' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN side = 'v2' THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM tt GROUP BY tok)
         |SELECT
         |  CAST(sum(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_v1,
         |  CAST(sum(CASE WHEN c2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_v2,
         |  CAST(sum(CASE WHEN c1 = 0 AND c2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_born_types,
         |  CAST(sum(CASE WHEN c1 > 0 AND c2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dead_types,
         |  CAST(sum(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shared_types,
         |  CAST(sum(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END) * 10000
         |    // count(*) AS BIGINT) AS vocab_jaccard_u4,
         |  CAST(sum(c1) AS BIGINT) AS tokens_v1,
         |  CAST(sum(c2) AS BIGINT) AS tokens_v2
         |FROM pt""".stripMargin,

    // per-label centroid vs global centroid, signed cos² ppm — integer
    // e3 centroids (one correctly-rounded division per dim), HUGEINT
    // product, no sqrt
    "q256_domain_drift" ->
      s"""WITH q AS (
         |  SELECT label, d.i AS dim,
         |    CAST(floor(CAST(embedding[d.i] AS DOUBLE) * 1000 + 0.5)
         |      AS BIGINT) AS qv
         |  FROM embeddings CROSS JOIN range(1, 65) d(i)),
         |ds AS (SELECT label, dim, CAST(sum(qv) AS BIGINT) AS s,
         |         CAST(count(*) AS BIGINT) AS n
         |       FROM q GROUP BY label, dim),
         |lc AS (SELECT label, dim,
         |         CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
         |           AS BIGINT) AS c
         |       FROM ds),
         |gc AS (SELECT dim,
         |         CAST(floor(CAST(sum(s) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
         |           + 0.5) AS BIGINT) AS g
         |       FROM ds GROUP BY dim),
         |dots AS (
         |  SELECT lc.label,
         |    CAST(sum(lc.c * gc.g) AS BIGINT) AS dot,
         |    CAST(sum(lc.c * lc.c) AS BIGINT) AS na,
         |    CAST(sum(gc.g * gc.g) AS BIGINT) AS nb
         |  FROM lc JOIN gc USING (dim) GROUP BY lc.label),
         |nv AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
         |       FROM embeddings GROUP BY label)
         |SELECT d.label, nv.n_vecs,
         |  CAST((CASE WHEN d.dot < 0 THEN -1 ELSE 1 END) *
         |    (CAST(d.dot AS HUGEINT) * d.dot * 1000000
         |      // greatest(d.na * d.nb, 1)) AS BIGINT) AS cos2_ppm_signed
         |FROM dots d JOIN nv ON nv.label = d.label
         |ORDER BY d.label""".stripMargin,

    // nested scaling-law ladder: smallest-rung assignment + O(rungs)
    // cumulative rollup; subsets nested by the shared hash threshold
    "q257_sample_ladder" -> {
      val uSql = "CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0 " +
        "ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 + " +
        "(CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) " +
        "/ CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4 " +
        "END) * 1e4 + 0.5) AS BIGINT)"
      val rungs = CorpusOps.ladderBp.map(b => s"($b)").mkString(", ")
      s"""WITH rg(rung_bp) AS (VALUES $rungs),
         |pd AS (
         |  SELECT source, CAST(len(tk) AS BIGINT) AS nt, $uSql AS q_u4,
         |    ${h32("'ladder:' || CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
         |  FROM (SELECT doc_id, source, $toksSql AS tk FROM documents) z),
         |asg AS (
         |  SELECT pd.*, (SELECT min(rung_bp) FROM rg
         |                WHERE pd.bucket < rg.rung_bp) AS min_rung
         |  FROM pd),
         |cum AS (
         |  SELECT r.rung_bp,
         |    CAST(count(a.bucket) AS BIGINT) AS n_docs,
         |    CAST(coalesce(sum(a.nt), 0) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT a.source) AS BIGINT) AS n_sources,
         |    CAST(coalesce(sum(a.q_u4), 0) AS BIGINT) AS sum_q
         |  FROM rg r LEFT JOIN asg a ON a.min_rung <= r.rung_bp
         |  GROUP BY r.rung_bp)
         |SELECT CAST(rung_bp AS BIGINT) AS rung_bp, n_docs, n_tokens,
         |  n_sources,
         |  CAST(sum_q // greatest(n_docs, 1) AS BIGINT) AS mean_q_u4
         |FROM cum ORDER BY rung_bp""".stripMargin
    },

    // per-band LSH health: slice cardinalities, cap pressure, uncapped
    // pair mass over the audited banded relation
    "q258_band_audit" ->
      s"""WITH $minHashCtesSql,
         |blocks AS (
         |  SELECT band, bk, CAST(count(*) AS BIGINT) AS bsz
         |  FROM banded GROUP BY band, bk)
         |SELECT CAST(band AS INT) AS band,
         |  CAST(sum(bsz) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_slices,
         |  CAST(sum(CASE WHEN bsz > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_colliding_slices,
         |  CAST(max(bsz) AS BIGINT) AS max_block,
         |  CAST(sum(CASE WHEN bsz > ${DedupOps.bandBlockCap} THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_capped_blocks,
         |  CAST(sum(bsz * (bsz - 1) // 2) AS BIGINT) AS pair_mass
         |FROM blocks GROUP BY band ORDER BY band""".stripMargin,

    // impact-ordered pruning: per-term top-f% postings (tf desc, doc),
    // full-index IDF, overlap@k vs the untruncated q167 ranking
    "q259_pruned_index" -> {
      val qvals = CorpusOps.bm25Queries
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      val pvals = CorpusOps.prunePcts.map(p => s"($p)").mkString(", ")
      s"""WITH qt(query_id, term) AS (VALUES $qvals),
         |pcts(pct) AS (VALUES $pvals),
         |lens AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               CAST(sum(dl) AS BIGINT) AS t FROM lens),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest($toksSql) AS term FROM documents) z
         |  WHERE term IN (SELECT term FROM qt)
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |       FROM tf GROUP BY term),
         |rnk AS (SELECT *, CAST(row_number() OVER (PARTITION BY term
         |    ORDER BY tf DESC, doc_id) AS BIGINT) AS irk FROM tf),
         |s AS (
         |  SELECT CAST(p.pct AS BIGINT) AS pct, qt.query_id, r.doc_id,
         |    CAST(floor(
         |      round(ln(CAST(2*n+2 AS DOUBLE) / CAST(2*df+1 AS DOUBLE)), 8)
         |      * ((44.0 * CAST(t AS DOUBLE) * CAST(tf AS DOUBLE))
         |        / (20.0 * CAST(t AS DOUBLE) * CAST(tf AS DOUBLE)
         |          + 6.0 * CAST(t AS DOUBLE)
         |          + 18.0 * CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)))
         |      * 1e4 + 0.5) AS BIGINT) AS u
         |  FROM rnk r JOIN qt USING (term) JOIN df USING (term)
         |  JOIN lens ON lens.doc_id = r.doc_id
         |  CROSS JOIN tot CROSS JOIN pcts p
         |  WHERE r.irk * 100 <= df.df * p.pct + 99),
         |agg AS (SELECT pct, query_id, doc_id, CAST(sum(u) AS BIGINT)
         |          AS score_u4
         |        FROM s GROUP BY 1, 2, 3),
         |nsc AS (SELECT pct, query_id, CAST(count(*) AS BIGINT)
         |          AS n_scored_docs
         |        FROM agg GROUP BY 1, 2),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY pct, query_id
         |    ORDER BY score_u4 DESC, doc_id) AS rk FROM agg),
         |top AS (SELECT pct, query_id, doc_id FROM r2
         |        WHERE rk <= ${CorpusOps.bm25K}),
         |fulltop AS (SELECT query_id, doc_id FROM top WHERE pct = 100),
         |ov AS (
         |  SELECT t.pct, t.query_id,
         |    CAST(count(*) AS BIGINT) AS k_returned,
         |    CAST(count(f.doc_id) AS BIGINT) AS n_overlap_full
         |  FROM top t LEFT JOIN fulltop f
         |    ON f.query_id = t.query_id AND f.doc_id = t.doc_id
         |  GROUP BY 1, 2)
         |SELECT ov.pct, CAST(ov.query_id AS BIGINT) AS query_id,
         |  nsc.n_scored_docs, ov.k_returned, ov.n_overlap_full
         |FROM ov JOIN nsc ON nsc.pct = ov.pct AND nsc.query_id = ov.query_id
         |ORDER BY ov.pct, ov.query_id""".stripMargin
    },

    // largest-remainder quota holdout: exact apportionment + smallest
    // md5-rank selection per source, per-source audit rollup
    "q260_matched_holdout" ->
      s"""WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
         |ps AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_src, nn,
         |    CAST(nn // ${CorpusOps.holdoutDen} AS BIGINT) AS e,
         |    CAST((nn // ${CorpusOps.holdoutDen}) * count(*) // nn AS BIGINT)
         |      AS base,
         |    CAST(((nn // ${CorpusOps.holdoutDen}) * count(*)) % nn AS BIGINT)
         |      AS rem
         |  FROM documents CROSS JOIN tot GROUP BY source, nn),
         |sh AS (SELECT CAST(max(e) - sum(base) AS BIGINT) AS short FROM ps),
         |qs AS (
         |  SELECT ps.*, least(base + CASE WHEN
         |      row_number() OVER (ORDER BY rem DESC, source) <= sh.short
         |      THEN 1 ELSE 0 END, n_src) AS quota
         |  FROM ps CROSS JOIN sh),
         |rkd AS (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source ORDER BY
         |      ${h32("'hold:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS mrk
         |  FROM documents),
         |sel AS (
         |  SELECT r.source, CAST(count(*) AS BIGINT) AS n_selected,
         |    CAST(sum(r.doc_id) AS BIGINT) AS sel_id_sum,
         |    min(r.doc_id) AS sel_id_min, max(r.doc_id) AS sel_id_max
         |  FROM rkd r JOIN qs ON qs.source = r.source
         |  WHERE r.mrk <= qs.quota
         |  GROUP BY r.source)
         |SELECT s.source, qs.n_src, CAST(qs.quota AS BIGINT) AS quota,
         |  s.n_selected, s.sel_id_sum, s.sel_id_min, s.sel_id_max,
         |  CAST(abs(qs.quota * qs.nn - qs.n_src * qs.e) * 10000
         |    // greatest(qs.e * qs.nn, 1) AS BIGINT) AS share_err_u4
         |FROM sel s JOIN qs ON qs.source = s.source
         |ORDER BY s.source""".stripMargin,

    // b-bit MinHash (Li & König): 1-bit estimate 2·rate − 1 (clamped)
    // next to the full 16-perm estimate on q150's candidate pairs
    "q266_bbit_minhash" ->
      s"""WITH $minHashCtesSql,
         |prs AS (SELECT a, b, est_jaccard FROM est
         |        WHERE est_jaccard >= 0.5),
         |bb AS (
         |  SELECT p.a, p.b, p.est_jaccard,
         |    floor(greatest(0.0,
         |      CAST(2 * len(list_filter(range(1, 17),
         |        i -> sa.s[i] % 2 = sb.s[i] % 2)) - 16 AS DOUBLE)
         |      / 16.0)*1e4 + 0.5)/1e4 AS est_b1
         |  FROM prs p
         |  JOIN sigl sa ON sa.doc_id = p.a
         |  JOIN sigl sb ON sb.doc_id = p.b)
         |SELECT a, b, est_jaccard, est_b1,
         |  floor(abs(est_b1 - est_jaccard)*1e4 + 0.5)/1e4 AS abs_gap
         |FROM bb ORDER BY a, b""".stripMargin,

    // commonness (shared-shingle weighted ratio) × Gopher verdict per
    // source — ratios of summed counts, never means of ratios
    "q267_commonness_matrix" ->
      s"""WITH t AS (SELECT source, doc_id, $toksSql AS tk FROM documents),
         |feat AS (
         |  SELECT source, doc_id,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    (len(tk) >= ${TextAnalysis.gopherMinWords}
         |     AND floor((1.0 - CAST(len(list_distinct(tk)) AS DOUBLE)
         |       / CAST(greatest(len(tk), 1) AS DOUBLE))*1e4 + 0.5)/1e4
         |       < ${TextAnalysis.gopherMaxDupRatio}
         |     AND floor((CAST(length(array_to_string(tk, '')) AS DOUBLE)
         |       / CAST(greatest(len(tk), 1) AS DOUBLE))*1e4 + 0.5)/1e4
         |       BETWEEN ${TextAnalysis.gopherMeanLen._1}
         |         AND ${TextAnalysis.gopherMeanLen._2}) AS gopher_pass,
         |    list_distinct(list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shs
         |  FROM t),
         |sh AS (SELECT doc_id, unnest(shs) AS sh FROM feat),
         |df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
         |shared AS (
         |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM sh s JOIN df ON df.sh = s.sh AND df.df >= 2
         |  GROUP BY s.doc_id)
         |SELECT f.source, f.gopher_pass,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(coalesce(sd.n_shared, 0)) * 10000
         |    // greatest(sum(len(f.shs)), 1) AS BIGINT) AS common_u4,
         |  CAST(sum(f.n_tokens) // count(*) AS BIGINT) AS tokens_per_doc
         |FROM feat f LEFT JOIN shared sd ON sd.doc_id = f.doc_id
         |GROUP BY f.source, f.gopher_pass
         |ORDER BY f.source, f.gopher_pass""".stripMargin,

    // round-robin-decreasing (LPT stream form) vs hash sharding: per
    // shard, doc/token mass under both policies + exact load factors
    "q268_balanced_shards" -> {
      val k = CorpusOps.balancedShardCount
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |        FROM d),
         |r AS (SELECT doc_id, n_tokens,
         |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rnk
         |  FROM d),
         |p AS (SELECT doc_id, n_tokens,
         |    CAST((rnk - 1) % $k AS BIGINT) AS shard_rr,
         |    CAST(doc_id % $k AS BIGINT) AS shard_hash FROM r),
         |rr AS (SELECT shard_rr AS shard,
         |    CAST(count(*) AS BIGINT) AS rr_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS rr_tokens FROM p GROUP BY 1),
         |hh AS (SELECT shard_hash AS shard,
         |    CAST(count(*) AS BIGINT) AS hash_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS hash_tokens FROM p GROUP BY 1)
         |SELECT coalesce(rr.shard, hh.shard) AS shard,
         |  coalesce(rr_docs, 0) AS rr_docs,
         |  coalesce(rr_tokens, 0) AS rr_tokens,
         |  CAST(coalesce(rr_tokens, 0) * $k * 10000
         |    // greatest(total_tokens, 1) AS BIGINT) AS rr_load_u4,
         |  coalesce(hash_docs, 0) AS hash_docs,
         |  coalesce(hash_tokens, 0) AS hash_tokens,
         |  CAST(coalesce(hash_tokens, 0) * $k * 10000
         |    // greatest(total_tokens, 1) AS BIGINT) AS hash_load_u4
         |FROM rr FULL JOIN hh ON hh.shard = rr.shard CROSS JOIN tot
         |ORDER BY shard""".stripMargin
    },

    // distinct-n type-token ratios per (source, n) — one tagged union,
    // one two-level aggregation
    "q269_distinct_ngrams" ->
      s"""WITH t AS (SELECT source, $toksSql AS tk FROM documents),
         |g AS (
         |  SELECT source, 1 AS n, unnest(tk) AS gram FROM t
         |  UNION ALL
         |  SELECT source, 2 AS n,
         |    unnest(list_transform(range(1, len(tk)),
         |      i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS gram
         |  FROM t
         |  UNION ALL
         |  SELECT source, 3 AS n,
         |    unnest(list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS gram
         |  FROM t)
         |SELECT source, n, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
         |  CAST(count(DISTINCT gram) * 10000
         |    // greatest(count(*), 1) AS BIGINT) AS ttr_u4
         |FROM g GROUP BY source, n
         |ORDER BY source, n""".stripMargin,

    // log-log OLS over each source's top-100 unigrams; ln rounded to
    // 1e-8 then half-up-quantized to exact 1e-6 BIGINT units so every
    // OLS sum is integer-exact — only the final divisions are float
    "q270_zipf_slope" ->
      s"""WITH f AS (
         |  SELECT source, tok, CAST(count(*) AS BIGINT) AS f
         |  FROM (SELECT source, unnest($toksSql) AS tok FROM documents) z
         |  GROUP BY source, tok),
         |r AS (SELECT source, f,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY f DESC, tok) AS rnk
         |  FROM f),
         |h AS (SELECT source,
         |    CAST(floor(round(ln(rnk), 8) * 1e6 + 0.5) AS BIGINT) AS x,
         |    CAST(floor(round(ln(f), 8) * 1e6 + 0.5) AS BIGINT) AS y
         |  FROM r WHERE rnk <= ${TextAnalysis.zipfHeadRanks}),
         |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x*y) AS BIGINT) AS sxy,
         |    CAST(sum(x*x) AS BIGINT) AS sxx
         |  FROM h GROUP BY source)
         |SELECT source, n AS n_ranks,
         |  floor((CAST(n*sxy - sx*sy AS DOUBLE)
         |    / CAST(n*sxx - sx*sx AS DOUBLE))*1e4 + 0.5)/1e4 AS slope,
         |  floor(((CAST(sy AS DOUBLE)
         |    - (CAST(n*sxy - sx*sy AS DOUBLE)
         |       / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
         |    / CAST(n AS DOUBLE) / 1e6)*1e4 + 0.5)/1e4 AS intercept
         |FROM s ORDER BY source""".stripMargin,

    // per-(source, bucket) quota admission: row_number replay of the
    // sequential counter gate, rolled up per key
    "q271_quota_gate" ->
      s"""WITH mx AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS n_total
         |  FROM documents),
         |d AS (SELECT source,
         |    CAST(doc_id * ${graft.streaming.QuotaGate.quotaBuckets}
         |      // n_total AS BIGINT) AS bucket, doc_id
         |  FROM documents CROSS JOIN mx),
         |r AS (SELECT source, bucket, doc_id,
         |    row_number() OVER (PARTITION BY source, bucket
         |      ORDER BY doc_id) AS rk
         |  FROM d)
         |SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_arrived,
         |  CAST(sum(CASE WHEN rk <= ${graft.streaming.QuotaGate.quotaPerBucket}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  max(CASE WHEN rk <= ${graft.streaming.QuotaGate.quotaPerBucket}
         |    THEN doc_id END) AS last_admitted
         |FROM r GROUP BY source, bucket
         |ORDER BY source, bucket""".stripMargin,

    // fragment stitching: boundary 5-gram index, heads (last-5 key) ⋈
    // tails (first-5 key) — the seeded head→tail pairs plus natural
    // same-boundary collisions, enumerated identically by both engines
    "q272_fragment_stitch" -> {
      import DedupOps.{stitchStride, stitchHeadOffset, stitchTailOffset, stitchOverlap}
      val o = stitchOverlap
      s"""WITH base AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |frag AS (
         |  SELECT doc_id, tk,
         |    CAST(greatest($o, 3 * len(tk) // 5) AS INT) AS h
         |  FROM base WHERE doc_id % $stitchStride = 0 AND len(tk) >= 12),
         |corpus0 AS (
         |  SELECT doc_id, tk FROM base
         |  UNION ALL
         |  SELECT doc_id + $stitchHeadOffset, list_slice(tk, 1, h) FROM frag
         |  UNION ALL
         |  SELECT doc_id + $stitchTailOffset,
         |    list_slice(tk, h - ${o - 1}, len(tk)) FROM frag),
         |fc AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n
         |       FROM corpus0 WHERE len(tk) >= $o),
         |heads AS (
         |  SELECT doc_id AS a, n AS a_len,
         |    md5(array_to_string(
         |      list_slice(tk, CAST(n - ${o - 1} AS INT), CAST(n AS INT)), ' '))
         |      AS key
         |  FROM fc),
         |tails AS (
         |  SELECT doc_id AS b, n AS b_len,
         |    md5(array_to_string(list_slice(tk, 1, $o), ' ')) AS key
         |  FROM fc)
         |SELECT a, b, a_len, b_len,
         |  a_len + b_len - $o AS stitched_len,
         |  (a >= $stitchHeadOffset AND a < $stitchTailOffset
         |    AND b = a + ${stitchTailOffset - stitchHeadOffset}) AS seeded
         |FROM heads JOIN tails USING (key)
         |WHERE a <> b
         |ORDER BY a, b""".stripMargin
    },

    // near-dup cluster cohesion: the q254 keeper chain (same banded
    // pair relation + unrolled min-label CC), then edges rolled up per
    // keeper against the clique bound — exact integer u4
    "q273_cluster_cohesion" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |ids AS (SELECT doc_id FROM corpus),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |$keeperCompCtes,
         |labeled AS MATERIALIZED (
         |  SELECT i.doc_id, coalesce(c.keeper0, i.doc_id) AS keeper
         |  FROM ids i LEFT JOIN comp c ON c.node = i.doc_id),
         |csz AS (SELECT keeper, CAST(count(*) AS BIGINT) AS cluster_size
         |        FROM labeled GROUP BY keeper),
         |edg AS (
         |  SELECT l.keeper, CAST(count(*) AS BIGINT) AS n_edges
         |  FROM prs p JOIN labeled l ON l.doc_id = p.a GROUP BY l.keeper)
         |SELECT c.keeper, c.cluster_size, e.n_edges,
         |  CAST(c.cluster_size * (c.cluster_size - 1) // 2 AS BIGINT)
         |    AS clique_edges,
         |  CAST(e.n_edges * 10000
         |    // (c.cluster_size * (c.cluster_size - 1) // 2) AS BIGINT)
         |    AS cohesion_u4
         |FROM csz c JOIN edg e ON e.keeper = c.keeper
         |WHERE c.cluster_size >= 2
         |ORDER BY c.keeper""".stripMargin,

    // subject access report: per-fact pre-aggregation behind the
    // subject stride, two key-aligned left joins, zero-activity
    // subjects kept with 0 counts / -1 id bounds
    "q274_subject_access" -> {
      val k = Relational.subjectStride
      s"""WITH subj AS (
         |  SELECT c_custkey AS subject_id, c_name AS name,
         |    c_mktsegment AS segment
         |  FROM customer WHERE c_custkey % $k = 0),
         |ev AS (
         |  SELECT user_id AS subject_id,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
         |      AS events_value_u4,
         |    min(event_id) AS first_event_id,
         |    max(event_id) AS last_event_id,
         |    CAST(sum(event_id) AS BIGINT) AS event_id_checksum
         |  FROM events WHERE user_id % $k = 0 GROUP BY user_id),
         |ord AS (
         |  SELECT o_custkey AS subject_id,
         |    CAST(count(*) AS BIGINT) AS n_orders,
         |    CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))
         |      AS BIGINT) AS spend_u4
         |  FROM orders WHERE o_custkey % $k = 0 GROUP BY o_custkey)
         |SELECT s.subject_id, s.name, s.segment,
         |  coalesce(ev.n_events, 0) AS n_events,
         |  coalesce(ev.events_value_u4, 0) AS events_value_u4,
         |  coalesce(ev.first_event_id, -1) AS first_event_id,
         |  coalesce(ev.last_event_id, -1) AS last_event_id,
         |  coalesce(ev.event_id_checksum, 0) AS event_id_checksum,
         |  coalesce(ord.n_orders, 0) AS n_orders,
         |  coalesce(ord.spend_u4, 0) AS spend_u4
         |FROM subj s
         |LEFT JOIN ev ON ev.subject_id = s.subject_id
         |LEFT JOIN ord ON ord.subject_id = s.subject_id
         |ORDER BY s.subject_id""".stripMargin
    },

    // winnowing (Schleimer et al. 2003): per-window min of k-gram
    // md5-32 hashes, distinct per doc, boilerplate keys HAVING-dropped,
    // pair rollup with containment vs the smaller sketch
    "q275_winnow_matches" -> {
      import DedupOps.{winnowBlockCap, winnowMinShared}
      s"""WITH base AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |wd AS (
         |  SELECT doc_id,
         |    list_transform(range(1, len(tk) - 1), i ->
         |      ${h32("array_to_string(list_slice(tk, i, i + 2), ' ')")}) AS hs
         |  FROM base WHERE len(tk) >= 6),
         |fp0 AS (
         |  SELECT DISTINCT doc_id, h FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len(hs) - 2), j ->
         |        list_min(list_slice(hs, j, j + 3)))) AS h
         |    FROM wd) z),
         |fps AS (SELECT doc_id, h FROM fp0
         |        UNION ALL SELECT doc_id + ${DedupOps.dupOffset}, h FROM fp0),
         |keep AS (SELECT h FROM fps GROUP BY h
         |         HAVING count(*) <= $winnowBlockCap),
         |kept AS (SELECT f.doc_id, f.h FROM fps f JOIN keep USING (h)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
         |       FROM kept GROUP BY doc_id),
         |sh AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM kept x JOIN kept y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY x.doc_id, y.doc_id
         |  HAVING count(*) >= $winnowMinShared)
         |SELECT a, b, n_shared, sa.nfp AS a_fp, sb.nfp AS b_fp,
         |  n_shared * 10000 // least(sa.nfp, sb.nfp) AS containment_u4
         |FROM sh JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
         |ORDER BY a, b""".stripMargin
    },

    // content-defined chunking: token-hash modular boundaries, final
    // chunk takes the remainder; edited fixture copy (one mid-doc token
    // swapped, two-step id shift); chunk-hash dedup rollup per doc
    "q276_cdc_chunks" -> {
      import DedupOps.{cdcModulus, cdcThreshold, cdcStride, cdcEditOffset}
      s"""WITH base AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |docs AS (SELECT doc_id, tk FROM base WHERE len(tk) >= 1),
         |ed0 AS (
         |  SELECT doc_id AS orig_id, tk, len(tk) AS m, len(tk) // 3 AS m3
         |  FROM docs WHERE doc_id % $cdcStride = 0 AND len(tk) >= 20),
         |edited AS (
         |  SELECT orig_id + $cdcEditOffset AS doc_id,
         |    list_concat(list_concat(
         |      list_slice(tk, 1, m3),
         |      ['zed' || CAST(orig_id AS VARCHAR)]),
         |      list_slice(tk, m3 + 2, m)) AS tk
         |  FROM ed0),
         |corpus AS (SELECT doc_id, tk FROM docs
         |           UNION ALL SELECT doc_id, tk FROM edited),
         |bnd AS (
         |  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    list_filter(range(1, len(tk) + 1), i ->
         |      ${h32("'cdc:' || tk[CAST(i AS INT)]")} % $cdcModulus
         |        < $cdcThreshold) AS bpos
         |  FROM corpus),
         |spans AS (
         |  SELECT doc_id, tk, n_tokens,
         |    CASE WHEN len(bpos) > 0 AND bpos[len(bpos)] = n_tokens
         |      THEN bpos ELSE list_append(bpos, n_tokens) END AS ends
         |  FROM bnd),
         |sp2 AS (
         |  SELECT doc_id, tk, n_tokens, ends,
         |    list_prepend(CAST(1 AS BIGINT),
         |      list_transform(list_slice(ends, 1, len(ends) - 1),
         |        e -> e + 1)) AS starts
         |  FROM spans),
         |ch0 AS (
         |  SELECT doc_id, tk, n_tokens, starts, ends,
         |    unnest(range(1, len(starts) + 1)) AS ci
         |  FROM sp2),
         |chunks AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(ends[CAST(ci AS INT)] - starts[CAST(ci AS INT)] + 1
         |      AS BIGINT) AS chunk_len,
         |    md5(array_to_string(list_slice(tk,
         |      CAST(starts[CAST(ci AS INT)] AS INT),
         |      CAST(ends[CAST(ci AS INT)] AS INT)), ' ')) AS ch
         |  FROM ch0),
         |hd AS (SELECT ch, count(DISTINCT doc_id) AS nd
         |       FROM chunks GROUP BY ch)
         |SELECT c.doc_id, max(c.n_tokens) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN h.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS shared_chunks,
         |  CAST(sum(CASE WHEN h.nd >= 2 THEN c.chunk_len ELSE 0 END)
         |    AS BIGINT) AS shared_tokens,
         |  CAST(sum(CASE WHEN h.nd >= 2 THEN c.chunk_len ELSE 0 END)
         |    AS BIGINT) * 10000 // max(c.n_tokens) AS shared_bp,
         |  c.doc_id >= $cdcEditOffset AS edited
         |FROM chunks c JOIN hd h ON h.ch = c.ch
         |GROUP BY c.doc_id
         |ORDER BY c.doc_id""".stripMargin
    },

    // blocking-quality audit: the md5 chain's banded/ranked CTEs, each
    // pair keyed by its MINIMUM colliding band, per-band-prefix rollup
    // against all-pairs and the designed mirror ground truth
    "q277_blocking_audit" ->
      s"""WITH $minHashCtesSql,
         |pm AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, min(x.band) AS min_band
         |  FROM ranked x JOIN banded y
         |    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id
         |    AND x.rk <= ${DedupOps.bandBlockCap}
         |  GROUP BY x.doc_id, y.doc_id),
         |pb AS (
         |  SELECT min_band, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN b = a + ${DedupOps.dupOffset} THEN 1
         |      ELSE 0 END) AS BIGINT) AS n_true
         |  FROM pm GROUP BY min_band),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sigl),
         |tot2 AS (SELECT n_docs, n_docs * (n_docs - 1) // 2 AS all_pairs,
         |                n_docs // 2 AS n_designed FROM tot),
         |ax AS (SELECT unnest(range(1, 5)) AS b)
         |SELECT CAST(ax.b AS INT) AS bands_used, CAST(4 AS INT) AS rows_per_band,
         |  CAST(coalesce(sum(pb.n_pairs), 0) AS BIGINT) AS candidates,
         |  CAST(coalesce(sum(pb.n_true), 0) AS BIGINT) AS true_caught,
         |  t.n_designed, t.all_pairs,
         |  (t.all_pairs - CAST(coalesce(sum(pb.n_pairs), 0) AS BIGINT))
         |    * 10000 // t.all_pairs AS reduction_ratio_u4,
         |  CAST(coalesce(sum(pb.n_true), 0) AS BIGINT)
         |    * 10000 // t.n_designed AS pairs_completeness_u4
         |FROM ax CROSS JOIN tot2 t
         |LEFT JOIN pb ON pb.min_band < ax.b
         |GROUP BY ax.b, t.n_designed, t.all_pairs
         |ORDER BY bands_used""".stripMargin,

    // LSH S-curve: per (b, r) split of the 16-perm signature, measured
    // would-collide fraction vs analytic 1-(1-J^r)^b at each match
    // level; powers as repeated IEEE multiplication, never pow()
    "q278_lsh_scurve" -> {
      val configs = Seq(1 -> 16, 2 -> 8, 4 -> 4, 8 -> 2, 16 -> 1)
      val branches = configs.map { case (b, r) =>
        val collide = (0 until b).map { i =>
          (1 to r).map(j => s"sa[${i * r + j}] = sb[${i * r + j}]")
            .mkString("(", " AND ", ")")
        }.mkString("(", " OR ", ")")
        val jExpr = "(CAST(m AS DOUBLE) / 16.0)"
        val jr = List.fill(r)(jExpr).mkString(" * ")
        val q = s"(1.0 - ($jr))"
        val p = s"1.0 - ${List.fill(b)(q).mkString(" * ")}"
        s"""SELECT CAST($b AS INT) AS b, CAST($r AS INT) AS r,
           |  m AS matches, CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(CASE WHEN $collide THEN 1 ELSE 0 END) AS BIGINT)
           |    AS collide_n,
           |  CAST(sum(CASE WHEN $collide THEN 1 ELSE 0 END) AS BIGINT)
           |    * 10000 // CAST(count(*) AS BIGINT) AS collide_frac_u4,
           |  CAST(floor(($p) * 1e4 + 0.5) AS BIGINT) AS analytic_p_u4
           |FROM prs GROUP BY m""".stripMargin
      }
      s"""WITH $minHashCtesSql,
         |prs AS (
         |  SELECT c.a, c.b, sa.s AS sa, sb.s AS sb,
         |    CAST(len(list_filter(range(1, 17), i -> sa.s[i] = sb.s[i]))
         |      AS BIGINT) AS m
         |  FROM cand c
         |  JOIN sigl sa ON sa.doc_id = c.a
         |  JOIN sigl sb ON sb.doc_id = c.b
         |  WHERE len(list_filter(range(1, 17), i -> sa.s[i] = sb.s[i])) >= 8)
         |${branches.mkString("", "\nUNION ALL\n", "")}
         |ORDER BY b, matches""".stripMargin
    },

    // incremental CC: old labels from the est>=0.75 base graph, new
    // labels from the full est>=0.5 graph — the declarative statement of
    // the contraction identity the engine computes incrementally
    "q279_incremental_cc" ->
      s"""WITH $minHashCtesSql,
         |ap AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |bp AS MATERIALIZED (SELECT a, b FROM est
         |       WHERE est_jaccard >= ${Components.incCcTauBase}),
         |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
         |  SELECT a AS node FROM ap UNION ALL SELECT b FROM ap) z),
         |symb AS MATERIALIZED (SELECT a AS src, b AS dst FROM bp
         |         UNION ALL SELECT b, a FROM bp),
         |symf AS MATERIALIZED (SELECT a AS src, b AS dst FROM ap
         |         UNION ALL SELECT b, a FROM ap),
         |${minLabelCtes("symb", "SELECT node, node AS lbl FROM nodes",
            "compb", "oldk", "lb")},
         |${minLabelCtes("symf", "SELECT node, node AS lbl FROM nodes",
            "compf", "newk", "lf")}
         |SELECT n.node, cb.oldk AS old_label, cf.newk AS new_label,
         |  cb.oldk <> cf.newk AS changed
         |FROM nodes n
         |JOIN compb cb ON cb.node = n.node
         |JOIN compf cf ON cf.node = n.node
         |ORDER BY n.node""".stripMargin,

    // D4 prototype pruning: the q82 codebook/assignment CTEs kept with
    // the winning score; cosine to the OWN centroid on the r4 grid,
    // quantize-then-rank, integer-exact drop rules
    "q280_prototype_prune" -> {
      import AnnSearch.{protoPct, outlierPct}
      s"""WITH $ivfTrainCtesSql,
         |cv AS MATERIALIZED (
         |  SELECT list_id,
         |    list(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0)*1e6 + 0.5)/1e6 + 0.0
         |      ORDER BY dim) AS c
         |  FROM m2 GROUP BY list_id),
         |corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
         |sc AS (
         |  SELECT c.vec_id, cv.list_id,
         |    list_sum(list_transform(range(1, len(c.embedding)+1),
         |      i -> CAST(c.embedding[i] AS DOUBLE) * cv.c[i])) AS score
         |  FROM corpus c CROSS JOIN cv),
         |asg AS MATERIALIZED (
         |  SELECT s.vec_id, s.list_id, s.score, c.embedding FROM (
         |    SELECT vec_id, list_id, score,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, list_id) AS rn
         |    FROM sc) s JOIN corpus c USING (vec_id) WHERE s.rn = 1),
         |cn AS (SELECT list_id, ${normSql("c")} AS nrm FROM cv),
         |cosr AS MATERIALIZED (
         |  SELECT a.vec_id, CAST(a.list_id AS BIGINT) AS list_id,
         |    floor((a.score / (${normSql("a.embedding")} * cn.nrm))*1e4 + 0.5)/1e4
         |      AS cos_c
         |  FROM asg a JOIN cn ON cn.list_id = a.list_id),
         |rk AS (
         |  SELECT vec_id, list_id, cos_c,
         |    CAST(row_number() OVER (PARTITION BY list_id
         |      ORDER BY cos_c DESC, vec_id) AS BIGINT) AS rnk,
         |    CAST(count(*) OVER (PARTITION BY list_id) AS BIGINT) AS cluster_n
         |  FROM cosr)
         |SELECT vec_id, list_id, cos_c, rnk, cluster_n,
         |  rnk * 100 <= cluster_n * $protoPct AS drop_proto,
         |  (cluster_n - rnk + 1) * 100 <= cluster_n * $outlierPct AS drop_outlier,
         |  NOT (rnk * 100 <= cluster_n * $protoPct)
         |    AND NOT ((cluster_n - rnk + 1) * 100 <= cluster_n * $outlierPct)
         |    AS is_kept
         |FROM rk ORDER BY vec_id""".stripMargin
    },

    // Louvain local-move gains over the q116 LPA partition: all-BIGINT
    // 2m²-scaled modularity deltas, argmax ties to the smallest target
    "q281_louvain_moves" -> {
      val rounds = (0 until 3).map { i =>
        s"""n$i AS (
           |  SELECT s.dst, l.lbl, count(*) AS cnt
           |  FROM sym s JOIN l$i l ON l.node = s.src
           |  GROUP BY s.dst, l.lbl),
           |l${i + 1} AS MATERIALIZED (
           |  SELECT dst AS node, lbl FROM (
           |    SELECT dst, lbl, row_number() OVER (PARTITION BY dst
           |      ORDER BY cnt DESC, lbl) AS rk
           |    FROM n$i) z WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minHashCtesSql,
         |ed AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.2),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b, a FROM ed),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
         |$rounds,
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
         |deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS k
         |       FROM sym GROUP BY src),
         |stot AS MATERIALIZED (
         |  SELECT l.lbl, CAST(sum(d.k) AS BIGINT) AS st
         |  FROM l3 l JOIN deg d ON d.node = l.node GROUP BY l.lbl),
         |nbr AS MATERIALIZED (
         |  SELECT s.src AS node, l.lbl AS c, CAST(count(*) AS BIGINT) AS kic
         |  FROM sym s JOIN l3 l ON l.node = s.dst GROUP BY s.src, l.lbl),
         |cur AS MATERIALIZED (
         |  SELECT l.node, l.lbl AS a_lbl, d.k, sa.st AS st_a,
         |    coalesce(na.kic, 0) AS kia
         |  FROM l3 l JOIN deg d ON d.node = l.node
         |  JOIN stot sa ON sa.lbl = l.lbl
         |  LEFT JOIN nbr na ON na.node = l.node AND na.c = l.lbl),
         |gains AS (
         |  SELECT c.node, n.c AS target,
         |    2 * m.m * (n.kic - c.kia) - c.k * (sc.st - c.st_a + c.k) AS gain
         |  FROM cur c JOIN nbr n ON n.node = c.node AND n.c <> c.a_lbl
         |  JOIN stot sc ON sc.lbl = n.c CROSS JOIN m),
         |best AS (
         |  SELECT node, target, gain FROM (
         |    SELECT node, target, gain,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY gain DESC, target) AS rn
         |    FROM gains) z WHERE rn = 1)
         |SELECT c.node AS doc_id, c.a_lbl AS community, c.k AS degree,
         |  c.kia AS k_in_cur, coalesce(b.gain, 0) AS gain_x2m2,
         |  CASE WHEN coalesce(b.gain, 0) > 0 THEN b.target ELSE c.a_lbl END
         |    AS best_community,
         |  coalesce(b.gain, 0) > 0 AS moved
         |FROM cur c LEFT JOIN best b ON b.node = c.node
         |ORDER BY doc_id""".stripMargin
    },

    // AMS F2: 16 signed token-count folds (md5 parity ±1), estimate =
    // mean of z², exact F2 alongside — all BIGINT
    "q282_ams_f2" -> {
      import Sketches.amsS
      s"""WITH tc AS MATERIALIZED (
         |  SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest($toksSql) AS t FROM documents) z GROUP BY t),
         |sgn AS MATERIALIZED (
         |  SELECT i.i AS counter_id,
         |    CAST(sum((CASE WHEN ${h32("'ams' || CAST(i.i AS VARCHAR) || '#' || t")} % 2 = 0
         |      THEN 1 ELSE -1 END) * cnt) AS BIGINT) AS z
         |  FROM tc CROSS JOIN range(0, $amsS) i(i) GROUP BY i.i),
         |est AS (SELECT CAST(sum(z * z) // $amsS AS BIGINT) AS f2_est FROM sgn),
         |ex AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact,
         |              CAST(sum(cnt) AS BIGINT) AS n_tokens FROM tc)
         |SELECT counter_id, z, z * z AS z2, f2_est, f2_exact, n_tokens,
         |  abs(f2_est - f2_exact) * 10000 // f2_exact AS err_bp
         |FROM sgn CROSS JOIN est CROSS JOIN ex
         |ORDER BY counter_id""".stripMargin
    },

    // Kneser-Ney bigram table: discount 3/4 as ×4-scaled integers,
    // continuation counts from the bigram-type table, micro-unit probs
    "q283_kn_bigrams" -> {
      import TextAnalysis.knTopN
      s"""WITH bg AS (
         |  SELECT split_part(bgs, ' ', 1) AS w1,
         |    split_part(bgs, ' ', 2) AS w2
         |  FROM (
         |    SELECT unnest(list_transform(range(1, len(tk)),
         |      i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS bgs
         |    FROM (SELECT $toksSql AS tk FROM documents) d
         |    WHERE len(tk) >= 2) z),
         |c12 AS MATERIALIZED (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |  FROM bg GROUP BY w1, w2),
         |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         |               CAST(count(*) AS BIGINT) AS n1r
         |        FROM c12 GROUP BY w1),
         |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1l
         |         FROM c12 GROUP BY w2),
         |ty AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM c12)
         |SELECT w1, w2, c12, c1, n1r, n1l, t_types, pml_u6, lambda_u6,
         |  pcont_u6, pml_u6 + (lambda_u6 * pcont_u6 // 1000000) AS pkn_u6
         |FROM (
         |  SELECT c.w1, c.w2, c.c12, x.c1, x.n1r, n.n1l, t.t_types,
         |    greatest(4 * c.c12 - 3, 0) * 1000000 // (4 * x.c1) AS pml_u6,
         |    3 * x.n1r * 1000000 // (4 * x.c1) AS lambda_u6,
         |    n.n1l * 1000000 // t.t_types AS pcont_u6
         |  FROM c12 c JOIN ctx x USING (w1) JOIN cont n USING (w2)
         |  CROSS JOIN ty t) q
         |ORDER BY c12 DESC, w1, w2 LIMIT $knTopN""".stripMargin
    },

    // UniMax water-filling: cap-ascending prefix sums find the binding
    // prefix closed-form; integer level + one-token residual deal
    "q284_unimax_alloc" -> {
      import CorpusOps.unimaxEpochCap
      s"""WITH pl AS MATERIALIZED (
         |  SELECT lang, CAST(sum(len($toksSql)) AS BIGINT) AS mass
         |  FROM documents GROUP BY lang),
         |wc AS (SELECT lang, mass, mass * $unimaxEpochCap AS cap FROM pl),
         |tot AS (SELECT CAST(sum(mass) * ${CorpusOps.unimaxBudgetVolumes}
         |                 AS BIGINT) AS budget,
         |               CAST(count(*) AS BIGINT) AS n_langs FROM pl),
         |rk AS MATERIALIZED (
         |  SELECT lang, mass, cap,
         |    CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS idx,
         |    CAST(sum(cap) OVER (ORDER BY cap, lang) AS BIGINT) AS pfx
         |  FROM wc),
         |j AS MATERIALIZED (
         |  SELECT r.lang, r.mass, r.cap, r.idx, r.pfx, t.budget, t.n_langs,
         |    (r.pfx - r.cap + r.cap * (t.n_langs - r.idx + 1)) <= t.budget
         |      AS bound
         |  FROM rk r CROSS JOIN tot t),
         |sp AS (SELECT CAST(sum(CASE WHEN bound THEN 1 ELSE 0 END) AS BIGINT) AS k,
         |    CAST(coalesce(sum(CASE WHEN bound THEN cap END), 0) AS BIGINT)
         |      AS cap_sum FROM j),
         |lvl AS (
         |  SELECT s.k, s.cap_sum,
         |    CASE WHEN t.n_langs = s.k THEN 0
         |      ELSE (t.budget - s.cap_sum) // (t.n_langs - s.k) END AS level
         |  FROM sp s CROSS JOIN tot t),
         |fin AS (
         |  SELECT j.lang, j.mass, j.cap, j.idx, j.bound, l.level,
         |    CASE WHEN j.bound THEN j.cap ELSE l.level +
         |      (CASE WHEN j.idx - l.k <=
         |        j.budget - l.cap_sum - l.level * (j.n_langs - l.k)
         |       THEN 1 ELSE 0 END) END AS alloc
         |  FROM j CROSS JOIN lvl l)
         |SELECT lang, mass, cap, idx AS cap_rank, level AS water_level,
         |  alloc, alloc * 10000 // greatest(mass, 1) AS epochs_u4, bound
         |FROM fin ORDER BY lang""".stripMargin
    },

    // per-node clustering coefficient: the q97 canonical wedge joins
    // run once, each closed triangle emits its three corners
    "q285_local_clustering" ->
      s"""WITH $minHashCtesSql,
         |edc AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.2),
         |deg AS MATERIALIZED (
         |  SELECT node, CAST(count(*) AS BIGINT) AS k FROM (
         |    SELECT a AS node FROM edc UNION ALL SELECT b FROM edc) z
         |  GROUP BY node),
         |tri AS MATERIALIZED (
         |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM edc e1
         |  JOIN edc e2 ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN edc e3 ON e3.a = e1.b AND e3.b = e2.b),
         |pn AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |    SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
         |    UNION ALL SELECT w FROM tri) z
         |  GROUP BY node)
         |SELECT d.node AS doc_id, d.k AS degree,
         |  coalesce(pn.n_tri, 0) AS n_triangles,
         |  d.k * (d.k - 1) // 2 AS possible,
         |  CASE WHEN d.k >= 2
         |    THEN coalesce(pn.n_tri, 0) * 10000 // (d.k * (d.k - 1) // 2)
         |    ELSE 0 END AS lcc_u4,
         |  d.k >= 2 AS defined
         |FROM deg d LEFT JOIN pn ON pn.node = d.node
         |ORDER BY doc_id""".stripMargin,

    // reciprocal top-1 neighbors over capped sign-LSH buckets on the
    // RAW embedding table; mutuality via a best-table self-join
    "q286_reciprocal_nn" ->
      s"""WITH emb0 AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding", 4)} AS bucket
         |  FROM embeddings),
         |okb AS (SELECT bucket FROM emb0 GROUP BY bucket
         |        HAVING count(*) <= 500),
         |emb AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, e.bucket
         |  FROM emb0 e JOIN okb USING (bucket)),
         |prs AS MATERIALIZED (
         |  SELECT x.vec_id AS v, y.vec_id AS n,
         |    ${cosSql("x.embedding", "y.embedding")} AS cs
         |  FROM emb x JOIN emb y
         |    ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
         |cnt AS MATERIALIZED (
         |  SELECT v, CAST(count(*) AS BIGINT) AS n_cands
         |  FROM prs GROUP BY v),
         |best AS MATERIALIZED (
         |  SELECT v, n AS best_n, cs FROM (
         |    SELECT v, n, cs, row_number() OVER (PARTITION BY v
         |      ORDER BY cs DESC, n) AS rn
         |    FROM prs) z WHERE rn = 1)
         |SELECT p.v AS a, q.v AS b, p.cs AS cos_sim,
         |  ca.n_cands AS a_cands, cb.n_cands AS b_cands
         |FROM best p JOIN best q
         |  ON p.best_n = q.v AND q.best_n = p.v AND p.v < q.v
         |JOIN cnt ca ON ca.v = p.v
         |JOIN cnt cb ON cb.v = q.v
         |ORDER BY a""".stripMargin,

    // Warner randomized response with deterministic md5 coins; debias
    // closed form in exact integers; eps via the round-8 ln snap
    "q287_randomized_response" -> {
      import Profiler.{rrKeepNum, rrDen}
      s"""WITH docs AS (SELECT doc_id, lang FROM documents),
         |idx AS MATERIALIZED (
         |  SELECT lang,
         |    CAST(row_number() OVER (ORDER BY lang) AS BIGINT) - 1 AS li
         |  FROM (SELECT DISTINCT lang FROM docs) z),
         |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM idx),
         |c2 AS MATERIALIZED (
         |  SELECT i.li, h % $rrDen < $rrKeepNum AS keep,
         |    (h // $rrDen) % (kk.k - 1) AS alt
         |  FROM (
         |    SELECT d.lang, ${h32("'rr:' || CAST(d.doc_id AS VARCHAR)")} AS h
         |    FROM docs d) d2
         |  JOIN idx i USING (lang) CROSS JOIN kk),
         |obs AS (
         |  SELECT CASE WHEN keep THEN li
         |    WHEN alt >= li THEN alt + 1 ELSE alt END AS li,
         |    CAST(count(*) AS BIGINT) AS reported_n
         |  FROM c2 GROUP BY 1),
         |tn AS (SELECT li, CAST(count(*) AS BIGINT) AS true_n
         |       FROM c2 GROUP BY li),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs)
         |SELECT lang, true_n, reported_n, est_n, k, n, est_n - true_n AS err,
         |  CAST(floor(round(ln(3.0 * (k - 1)), 8) * 1e4 + 0.5) AS BIGINT)
         |    AS eps_u4
         |FROM (
         |  SELECT i.lang, coalesce(tn.true_n, 0) AS true_n,
         |    coalesce(obs.reported_n, 0) AS reported_n,
         |    ($rrDen * (kk.k - 1) * coalesce(obs.reported_n, 0)
         |      - ${rrDen - rrKeepNum} * tot.n)
         |      // ($rrKeepNum * kk.k - $rrDen) AS est_n,
         |    kk.k, tot.n
         |  FROM idx i
         |  LEFT JOIN tn USING (li) LEFT JOIN obs USING (li)
         |  CROSS JOIN tot CROSS JOIN kk) q
         |ORDER BY lang""".stripMargin
    },

    // theta A-not-B over per-source shingle vocabularies: bottom-k
    // sketches, sample = skA under theta anti-joined against skB;
    // exact EXCEPT audit alongside
    "q288_kmv_anotb" ->
      s"""WITH sha AS MATERIALIZED (
         |  SELECT DISTINCT sh FROM (
         |    SELECT unnest(list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
         |    FROM (SELECT $toksSql AS tk FROM documents
         |          WHERE source = 'src0') d WHERE len(tk) >= 3) z),
         |shb AS MATERIALIZED (
         |  SELECT DISTINCT sh FROM (
         |    SELECT unnest(list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
         |    FROM (SELECT $toksSql AS tk FROM documents
         |          WHERE source = 'src1') d WHERE len(tk) >= 3) z),
         |ska AS (
         |  SELECT DISTINCT ${h32("sh")} AS h FROM sha
         |  ORDER BY h LIMIT ${Sketches.kmvK}),
         |skb AS (
         |  SELECT DISTINCT ${h32("sh")} AS h FROM shb
         |  ORDER BY h LIMIT ${Sketches.kmvK}),
         |th AS (
         |  SELECT least((SELECT max(h) FROM ska), (SELECT max(h) FROM skb))
         |    AS theta),
         |ns AS (
         |  SELECT count(*) AS n_sample
         |  FROM ska CROSS JOIN th
         |  WHERE h < theta AND h NOT IN (SELECT h FROM skb)),
         |ex AS (
         |  SELECT count(*) AS exact_diff FROM (
         |    SELECT sh FROM sha EXCEPT SELECT sh FROM shb))
         |SELECT n_sample, theta,
         |  floor((n_sample * 4294967296.0 / theta)*1e4 + 0.5)/1e4 AS kmv_estimate,
         |  exact_diff,
         |  CASE WHEN exact_diff = 0 THEN -1.0 ELSE
         |    floor((abs(floor((n_sample * 4294967296.0 / theta)*1e4 + 0.5)/1e4
         |      - exact_diff) / CAST(exact_diff AS DOUBLE))*1e4 + 0.5)/1e4 + 0.0
         |  END AS rel_err
         |FROM ns, th, ex""".stripMargin,

    // Good-Turing: frequency-of-frequencies, r* = (r+1)N_{r+1}/N_r and
    // the unseen mass N_1/N, all exact micro-units
    "q289_good_turing" ->
      s"""WITH tc AS MATERIALIZED (
         |  SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest($toksSql) AS t FROM documents) z GROUP BY t),
         |fof AS MATERIALIZED (
         |  SELECT cnt AS r, CAST(count(*) AS BIGINT) AS n_r
         |  FROM tc GROUP BY cnt),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |               CAST(count(*) AS BIGINT) AS n_types FROM tc),
         |uno AS (SELECT CAST(coalesce(sum(CASE WHEN r = 1 THEN n_r END), 0)
         |          AS BIGINT) AS n_one FROM fof),
         |nxt AS (SELECT r - 1 AS r, n_r AS n_next FROM fof)
         |SELECT f.r, f.n_r, coalesce(x.n_next, 0) AS n_next,
         |  coalesce(x.n_next, 0) > 0 AS has_next,
         |  (f.r + 1) * coalesce(x.n_next, 0) * 1000000 // f.n_r AS r_star_u6,
         |  f.r * f.n_r * 1000000 // t.n_tokens AS mass_u6,
         |  o.n_one * 1000000 // t.n_tokens AS p0_u6,
         |  t.n_tokens, t.n_types
         |FROM fof f LEFT JOIN nxt x USING (r)
         |CROSS JOIN tot t CROSS JOIN uno o
         |ORDER BY f.r LIMIT ${TextAnalysis.gtTopR}""".stripMargin,

    // B-cubed over the q67 keeper clusters vs the designed mirror truth;
    // per-element rationals floored to u6, per-size + total rollup
    "q290_bcubed_eval" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |ids AS (SELECT doc_id FROM corpus),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |$keeperCompCtes,
         |labeled AS MATERIALIZED (
         |  SELECT i.doc_id, coalesce(c.keeper0, i.doc_id) AS keeper
         |  FROM ids i LEFT JOIN comp c ON c.node = i.doc_id),
         |cs AS (SELECT keeper, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM labeled GROUP BY keeper),
         |lab2 AS MATERIALIZED (
         |  SELECT l.doc_id, l.keeper, cs.cluster_size
         |  FROM labeled l JOIN cs USING (keeper)),
         |part AS (
         |  SELECT CASE WHEN doc_id < ${DedupOps.dupOffset}
         |    THEN doc_id + ${DedupOps.dupOffset}
         |    ELSE doc_id - ${DedupOps.dupOffset} END AS doc_id,
         |    keeper AS partner_keeper
         |  FROM lab2),
         |s2 AS MATERIALIZED (
         |  SELECT cluster_size,
         |    inter * 1000000 // cluster_size AS p_u6,
         |    inter * 1000000 // 2 AS r_u6,
         |    2 * inter * 1000000 // (cluster_size + 2) AS f_u6
         |  FROM (
         |    SELECT l.cluster_size,
         |      CAST(1 + CASE WHEN l.keeper = p.partner_keeper
         |        THEN 1 ELSE 0 END AS BIGINT) AS inter
         |    FROM lab2 l JOIN part p USING (doc_id)) z)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_elements,
         |  CAST(sum(p_u6) // count(*) AS BIGINT) AS precision_u6,
         |  CAST(sum(r_u6) // count(*) AS BIGINT) AS recall_u6,
         |  CAST(sum(f_u6) // count(*) AS BIGINT) AS f1_u6
         |FROM s2 GROUP BY cluster_size
         |UNION ALL
         |SELECT CAST(0 AS BIGINT), CAST(count(*) AS BIGINT),
         |  CAST(sum(p_u6) // count(*) AS BIGINT),
         |  CAST(sum(r_u6) // count(*) AS BIGINT),
         |  CAST(sum(f_u6) // count(*) AS BIGINT)
         |FROM s2
         |ORDER BY cluster_size""".stripMargin,

    // split-conformal threshold: exact rank-(k+1) quantile of passing
    // calibration scores from the u4 frequency table; test coverage +
    // false-admit measured on the held-out half
    "q291_conformal_gate" -> {
      import TextAnalysis.{confAlphaPct, gopherMinWords, gopherMaxDupRatio, gopherMeanLen}
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents),
         |base AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(floor((CASE WHEN len(tk) = 0 THEN 0.0
         |      ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 +
         |        (CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |          / CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4
         |      END)*1e4 + 0.5) AS BIGINT) AS score_u4,
         |    (CAST(len(tk) AS BIGINT) >= $gopherMinWords
         |     AND floor((1.0 - CAST(len(list_distinct(tk)) AS DOUBLE)
         |       / CAST(greatest(len(tk), 1) AS DOUBLE))*1e4 + 0.5)/1e4
         |       < $gopherMaxDupRatio
         |     AND floor((CAST(length(array_to_string(tk, '')) AS DOUBLE)
         |       / CAST(greatest(len(tk), 1) AS DOUBLE))*1e4 + 0.5)/1e4
         |       BETWEEN ${gopherMeanLen._1} AND ${gopherMeanLen._2})
         |      AS passes,
         |    ${h32("'cal:' || CAST(doc_id AS VARCHAR)")} % 2 = 0 AS is_calib
         |  FROM t),
         |np AS (SELECT CAST(count(*) AS BIGINT) AS n_cal_pass
         |       FROM base WHERE is_calib AND passes),
         |lv AS (
         |  SELECT score_u4, CAST(count(*) AS BIGINT) AS c,
         |    CAST(coalesce(sum(count(*)) OVER (ORDER BY score_u4
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM base WHERE is_calib AND passes GROUP BY score_u4),
         |thr AS (
         |  SELECT score_u4 AS threshold_u4 FROM lv CROSS JOIN np
         |  WHERE cum_before <= n_cal_pass * $confAlphaPct // 100
         |    AND cum_before + c > n_cal_pass * $confAlphaPct // 100),
         |st AS (
         |  SELECT
         |    CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_test_pass,
         |    CAST(sum(CASE WHEN passes AND score_u4 >= threshold_u4
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_test_pass_kept,
         |    CAST(sum(CASE WHEN NOT passes THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_test_fail,
         |    CAST(sum(CASE WHEN NOT passes AND score_u4 >= threshold_u4
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_test_fail_admitted
         |  FROM base CROSS JOIN thr WHERE NOT is_calib)
         |SELECT threshold_u4, n_cal_pass,
         |  n_cal_pass * $confAlphaPct // 100 AS allowed_misses,
         |  n_test_pass, n_test_pass_kept,
         |  n_test_pass_kept * 10000 // greatest(n_test_pass, 1)
         |    AS coverage_u4,
         |  n_test_fail, n_test_fail_admitted,
         |  n_test_fail_admitted * 10000 // greatest(n_test_fail, 1)
         |    AS false_admit_u4
         |FROM thr CROSS JOIN np CROSS JOIN st""".stripMargin
    },

    // symmetrized degree assortativity: r is an exact integer rational
    // (HUGEINT / DECIMAL(38) cross products — the q212 precedent,
    // INTERNAL only since round 13: raw wide-integer output columns
    // hash-render differently across engines); the one float op is the
    // final r4-snapped division. A seeded disassortative star (hub and
    // leaf ids derived from MAX(doc_id) so the namespace is provably
    // collision-free on any corpus; one leaf per document)
    // de-degenerates the clique-bag fixture so gate-SF r is
    // fractional, not exactly +1.
    "q292_assortativity" ->
      s"""WITH $minHashCtesSql,
         |edg0 AS (SELECT a, b FROM est WHERE est_jaccard >= 0.2),
         |mx AS (SELECT MAX(doc_id) AS maxid FROM documents),
         |star AS (SELECT CAST(maxid + ${2L * DedupOps.dupOffset + 1L}
         |             AS BIGINT) AS a,
         |           doc_id + maxid + ${3L * DedupOps.dupOffset + 1L} AS b
         |         FROM documents CROSS JOIN mx),
         |edg AS MATERIALIZED (SELECT a, b FROM edg0
         |        UNION ALL SELECT a, b FROM star),
         |symd AS MATERIALIZED (SELECT a AS src, b AS dst FROM edg
         |        UNION ALL SELECT b, a FROM edg),
         |dg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS k
         |       FROM symd GROUP BY src),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m2,
         |    CAST(sum(x.k) AS BIGINT) AS sum_d,
         |    CAST(sum(x.k * x.k) AS BIGINT) AS sum_d2,
         |    CAST(sum(x.k * y.k) AS BIGINT) AS sum_dxdy
         |  FROM symd e
         |  JOIN dg x ON x.node = e.src
         |  JOIN dg y ON y.node = e.dst),
         |r AS (
         |  SELECT m2, sum_d, sum_d2, sum_dxdy,
         |    CAST(m2 AS HUGEINT) * sum_dxdy
         |      - CAST(sum_d AS HUGEINT) * sum_d AS num,
         |    CAST(m2 AS HUGEINT) * sum_d2
         |      - CAST(sum_d AS HUGEINT) * sum_d AS den
         |  FROM s)
         |SELECT m2, sum_d, sum_d2, sum_dxdy,
         |  floor((CAST(num AS DOUBLE) / CAST(den AS DOUBLE))*1e4 + 0.5)/1e4
         |    + 0.0 AS assortativity
         |FROM r""".stripMargin,

    // soft dedup: 1/cluster_size micro-weights over the q67 keeper
    // clusters, per-source effective vs raw mass
    "q293_soft_dedup" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |ids AS (SELECT doc_id FROM corpus),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |$keeperCompCtes,
         |labeled AS MATERIALIZED (
         |  SELECT i.doc_id, coalesce(c.keeper0, i.doc_id) AS keeper
         |  FROM ids i LEFT JOIN comp c ON c.node = i.doc_id),
         |cs AS (SELECT keeper, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM labeled GROUP BY keeper),
         |lab2 AS MATERIALIZED (
         |  SELECT l.doc_id, cs.cluster_size
         |  FROM labeled l JOIN cs USING (keeper)),
         |dsrc AS MATERIALIZED (
         |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + ${DedupOps.dupOffset}, source,
         |    CAST(len($toksSql) AS BIGINT)
         |  FROM documents),
         |w AS (
         |  SELECT d.source, d.n_tokens, l.cluster_size,
         |    1000000 // l.cluster_size AS w_u6,
         |    d.n_tokens * 1000000 // l.cluster_size AS eff_tok_u6
         |  FROM dsrc d JOIN lab2 l USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
         |  CAST(sum(w_u6) AS BIGINT) AS effective_docs_u6,
         |  CAST(sum(eff_tok_u6) AS BIGINT) AS effective_tokens_u6,
         |  CAST(sum(eff_tok_u6) AS BIGINT) // greatest(CAST(sum(n_tokens)
         |    AS BIGINT), 1) // 100 AS keep_ratio_u4
         |FROM w GROUP BY source
         |ORDER BY source""".stripMargin,

    // medoid keeper election: the q67 chain + within-cluster exact
    // Jaccard over distinct-shingle sets (size-capped clusters only)
    "q294_medoid_keepers" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
         |ids AS (SELECT doc_id FROM corpus),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |$keeperCompCtes,
         |labeled AS MATERIALIZED (
         |  SELECT i.doc_id, coalesce(c.keeper0, i.doc_id) AS keeper
         |  FROM ids i LEFT JOIN comp c ON c.node = i.doc_id),
         |cs AS (SELECT keeper, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM labeled GROUP BY keeper),
         |msel AS MATERIALIZED (
         |  SELECT l.doc_id, l.keeper, cs.cluster_size
         |  FROM labeled l JOIN cs USING (keeper)
         |  WHERE cs.cluster_size BETWEEN 2 AND ${DedupOps.medoidMaxSize}),
         |mdt AS MATERIALIZED (
         |  SELECT s.doc_id, s.keeper,
         |    list_sort(list_distinct(list_transform(
         |      range(1, greatest(len(c.tk) - 2, 0) + 1),
         |      i -> array_to_string(c.tk[i:i+2], ' ')))) AS ts
         |  FROM msel s
         |  JOIN (SELECT doc_id, $toksSql AS tk FROM corpus) c
         |    ON c.doc_id = s.doc_id),
         |msz AS MATERIALIZED (
         |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_sh FROM mdt),
         |mtok AS MATERIALIZED (
         |  SELECT keeper, doc_id, unnest(ts) AS t FROM mdt),
         |mp AS MATERIALIZED (
         |  SELECT x.keeper, x.doc_id AS a, y.doc_id AS b,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM mtok x JOIN mtok y
         |    ON x.keeper = y.keeper AND x.t = y.t AND x.doc_id < y.doc_id
         |  GROUP BY x.keeper, x.doc_id, y.doc_id),
         |jp AS MATERIALIZED (
         |  SELECT mp.keeper, a, b,
         |    inter * 1000000 // (sa.n_sh + sb.n_sh - inter) AS j_u6
         |  FROM mp
         |  JOIN msz sa ON sa.doc_id = a
         |  JOIN msz sb ON sb.doc_id = b),
         |sc AS (
         |  SELECT keeper, doc_id, CAST(sum(j_u6) AS BIGINT) AS score FROM (
         |    SELECT keeper, a AS doc_id, j_u6 FROM jp
         |    UNION ALL SELECT keeper, b, j_u6 FROM jp) z
         |  GROUP BY keeper, doc_id),
         |al AS (
         |  SELECT m.keeper, m.doc_id, coalesce(sc.score, 0) AS score
         |  FROM msel m LEFT JOIN sc
         |    ON sc.keeper = m.keeper AND sc.doc_id = m.doc_id),
         |md AS (
         |  SELECT keeper, doc_id AS medoid, score FROM (
         |    SELECT keeper, doc_id, score,
         |      row_number() OVER (PARTITION BY keeper
         |        ORDER BY score DESC, doc_id) AS rn
         |    FROM al) z WHERE rn = 1)
         |SELECT s.keeper, s.cluster_size, md.medoid,
         |  CAST(md.score AS BIGINT) AS medoid_score_u6,
         |  md.medoid <> s.keeper AS changed
         |FROM (SELECT DISTINCT keeper, cluster_size FROM msel) s
         |JOIN md USING (keeper)
         |ORDER BY s.keeper""".stripMargin,

    // padding waste per length-bucket count: the oracle states the
    // naive global-rank window; the engine computes the same rank via
    // the q84 frequency-table decomposition
    "q295_padding_waste" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |r AS (
         |  SELECT n_tok,
         |    CAST(row_number() OVER (ORDER BY n_tok, doc_id) - 1 AS BIGINT)
         |      AS rnk0,
         |    CAST(count(*) OVER () AS BIGINT) AS n
         |  FROM d),
         |f AS (
         |  SELECT k.k, r.rnk0 * k.k // r.n AS bucket, r.n_tok
         |  FROM r CROSS JOIN (
         |    SELECT CAST(unnest([${CorpusOps.padBucketCounts.mkString(", ")}])
         |      AS BIGINT) AS k) k),
         |b AS (
         |  SELECT k, bucket, CAST(count(*) AS BIGINT) AS c,
         |    CAST(sum(n_tok) AS BIGINT) AS btok,
         |    CAST(max(n_tok) AS BIGINT) AS bmax
         |  FROM f GROUP BY k, bucket)
         |SELECT k, CAST(sum(c) AS BIGINT) AS n_docs,
         |  CAST(sum(btok) AS BIGINT) AS raw_tokens,
         |  CAST(sum(bmax * c) AS BIGINT) AS padded_tokens,
         |  CAST(sum(bmax * c) - sum(btok) AS BIGINT) AS waste_tokens,
         |  (CAST(sum(bmax * c) AS BIGINT) - CAST(sum(btok) AS BIGINT))
         |    * 10000 // greatest(CAST(sum(bmax * c) AS BIGINT), 1)
         |    AS waste_bp
         |FROM b GROUP BY k ORDER BY k""".stripMargin,

    // Dirichlet query likelihood: matched-postings part + per-doc
    // length prior, each ln round-8 snapped to micro-nats (the q110
    // discipline); naive window ranking on the oracle side
    "q296_dirichlet_ql" -> {
      val qvals = CorpusOps.bm25Queries
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      s"""WITH qt(query_id, term) AS (VALUES $qvals),
         |nq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS nq
         |       FROM qt GROUP BY query_id),
         |lens AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl FROM documents),
         |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t FROM lens),
         |st AS MATERIALIZED (
         |  SELECT doc_id, term FROM (
         |    SELECT doc_id, unnest($toksSql) AS term FROM documents) z
         |  WHERE term IN (SELECT term FROM qt)),
         |ctf AS (SELECT term, CAST(count(*) AS BIGINT) AS ctf
         |        FROM st GROUP BY term),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM st GROUP BY doc_id, term),
         |m AS (
         |  SELECT qt.query_id, tf.doc_id, lens.dl,
         |    CAST(sum(CAST(floor(
         |      round(ln(1.0 + CAST(tf * t AS DOUBLE)
         |        / CAST(${CorpusOps.qlMu} * ctf AS DOUBLE)), 8)
         |      * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS match_u6
         |  FROM tf JOIN qt USING (term) JOIN ctf USING (term)
         |  JOIN lens USING (doc_id) CROSS JOIN tot
         |  GROUP BY qt.query_id, tf.doc_id, lens.dl),
         |sc AS (
         |  SELECT m.query_id, m.doc_id,
         |    m.match_u6 + nq.nq * CAST(floor(
         |      round(ln(CAST(${CorpusOps.qlMu} AS DOUBLE)
         |        / CAST(m.dl + ${CorpusOps.qlMu} AS DOUBLE)), 8)
         |      * 1e6 + 0.5) AS BIGINT) AS score_u6
         |  FROM m JOIN nq USING (query_id)),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_u6 DESC, doc_id) AS BIGINT) AS rk FROM sc)
         |SELECT CAST(query_id AS BIGINT) AS query_id, rk, doc_id, score_u6
         |FROM r WHERE rk <= ${CorpusOps.bm25K}
         |ORDER BY query_id, rk""".stripMargin
    },

    // unigram-LM (SentencePiece-style) tokenizer training: integer-exact
    // hard-EM over the word-type dictionary; the Viterbi DP unrolls as
    // one CTE per word position with a per-word (cost, path) argmin —
    // the engine side runs the identical DP as one aggregate() HOF
    "q297_unigram_lm_train" -> {
      val E = TextAnalysis.uniPruneSchedule.size
      s"""WITH $uniLmChainSql
         |SELECT piece, length(piece) = 1 AS is_char, cnt, cost_u6
         |FROM pc$E ORDER BY piece""".stripMargin
    },

    // unigram Viterbi ENCODE with the q297-trained vocabulary (the q137
    // apply-half analog): one more unrolled DP round over the word-type
    // dictionary, then the corpus token stream joins the encoded types
    // and rolls up per-source fertility/compression (OOV reported)
    "q298_unigram_encode" -> {
      val E = TextAnalysis.uniPruneSchedule.size
      s"""WITH $uniLmChainSql,
         |${uniDpBlockSql(E, s"pc$E")},
         |enc AS MATERIALIZED (
         |  SELECT w,
         |    CAST(len(list_filter(string_split(path, '|'),
         |      x -> x <> '')) AS BIGINT) AS n_pieces,
         |    CAST(length(w) AS BIGINT) AS n_chars
         |  FROM seg$E),
         |tokq AS (SELECT source, unnest($toksSql) AS w FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(CASE WHEN e.n_pieces IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_enc_words,
         |  CAST(sum(CASE WHEN e.n_pieces IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_oov_words,
         |  CAST(sum(coalesce(e.n_pieces, 0)) AS BIGINT) AS n_pieces,
         |  CAST(sum(coalesce(e.n_chars, 0)) AS BIGINT) AS n_chars,
         |  CAST(sum(coalesce(e.n_pieces, 0)) * 10000
         |    // greatest(sum(CASE WHEN e.n_pieces IS NOT NULL
         |         THEN 1 ELSE 0 END), 1) AS BIGINT) AS fertility_u4,
         |  CAST(sum(coalesce(e.n_chars, 0)) * 10000
         |    // greatest(sum(coalesce(e.n_pieces, 0)), 1) AS BIGINT)
         |    AS compression_u4
         |FROM tokq t LEFT JOIN enc e USING (w)
         |GROUP BY source ORDER BY source""".stripMargin
    },

    // streaming contamination gate, batch replay over the q61 canary
    // fixture: a train doc (doc_id % benchMod != 0) is dropped when any
    // of its 8-grams occurs in the bench docs' gram set; hits counted
    // over gram OCCURRENCES
    "q299_contam_gate" -> {
      val bm = CorpusOps.benchMod
      val cm = CorpusOps.contamMod
      val n = graft.streaming.ContamGate.gateGramN
      s"""WITH docsx AS (
         |  SELECT source, doc_id,
         |    coalesce(text, '') ||
         |      CASE WHEN doc_id % $bm = 0 OR doc_id % $cm = 0
         |        THEN ' ${CorpusOps.contaminationCanary}' ELSE '' END
         |      AS text
         |  FROM documents),
         |toksq AS (SELECT source, doc_id, $toksSql AS tk FROM docsx),
         |bg AS MATERIALIZED (
         |  SELECT DISTINCT gram FROM (
         |    SELECT unnest(list_transform(range(1, len(tk) - ${n - 2}),
         |      i -> array_to_string(list_slice(tk, i, i + ${n - 1}), ' ')))
         |      AS gram
         |    FROM toksq WHERE doc_id % $bm = 0 AND len(tk) >= $n) z),
         |tr AS (SELECT source, doc_id, tk FROM toksq
         |       WHERE doc_id % $bm <> 0),
         |hits AS (
         |  SELECT source, doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM (
         |    SELECT source, doc_id,
         |      unnest(list_transform(range(1, len(tk) - ${n - 2}),
         |        i -> array_to_string(list_slice(tk, i, i + ${n - 1}), ' ')))
         |        AS gram
         |    FROM tr WHERE len(tk) >= $n) g
         |  WHERE gram IN (SELECT gram FROM bg)
         |  GROUP BY source, doc_id)
         |SELECT t.source, t.doc_id, CAST(len(tk) AS BIGINT) AS n_toks,
         |  coalesce(h.n_hit, 0) AS n_hit_grams,
         |  coalesce(h.n_hit, 0) = 0 AS admitted
         |FROM tr t LEFT JOIN hits h USING (source, doc_id)
         |ORDER BY t.doc_id""".stripMargin
    },

    // weighted (multiset) Jaccard rescoring of the tau>=0.5 candidate
    // pairs: sum min(tf) over the token INTERSECTION only; sum max
    // derived as tot_a + tot_b - sum min; gap vs the r4 estimate in
    // millionths (half-up floor recovers the exact integer)
    "q300_weighted_jaccard" ->
      s"""WITH $minHashCtesSql,
         |prs AS MATERIALIZED (
         |  SELECT a, b, est_jaccard FROM est WHERE est_jaccard >= 0.5),
         |tfr AS MATERIALIZED (
         |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest(tk) AS w
         |    FROM (SELECT doc_id, $toksSql AS tk FROM corpus) tq) z
         |  GROUP BY doc_id, w),
         |tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tot
         |        FROM tfr GROUP BY doc_id),
         |inter AS (
         |  SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS n_shared_types,
         |    CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS s_min
         |  FROM prs p
         |  JOIN tfr ta ON ta.doc_id = p.a
         |  JOIN tfr tb ON tb.doc_id = p.b AND tb.w = ta.w
         |  GROUP BY p.a, p.b)
         |SELECT p.a, p.b,
         |  coalesce(i.n_shared_types, 0) AS n_shared_types,
         |  coalesce(i.s_min, 0) AS s_min,
         |  x.tot AS tot_a, y.tot AS tot_b, p.est_jaccard,
         |  coalesce(i.s_min, 0) * 1000000
         |    // greatest(x.tot + y.tot - coalesce(i.s_min, 0), 1)
         |    AS w_jaccard_u6,
         |  CAST(floor(p.est_jaccard * 1e6 + 0.5) AS BIGINT)
         |    - coalesce(i.s_min, 0) * 1000000
         |      // greatest(x.tot + y.tot - coalesce(i.s_min, 0), 1)
         |    AS gap_u6
         |FROM prs p
         |LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
         |JOIN tot x ON x.doc_id = p.a
         |JOIN tot y ON y.doc_id = p.b
         |ORDER BY p.a, p.b""".stripMargin,

    // per-media perceptual fingerprint through the render laws (real
    // codecs on the engine side), exact-hash classes + keeper election
    "q301_media_phash_classes" ->
      s"""WITH $phashCtesSql
         |SELECT f.media_id, f.kind, f.phash, c.class_size, c.keeper_id,
         |  f.media_id = c.keeper_id AS is_keeper
         |FROM phf f JOIN phcls c USING (kind, phash)
         |ORDER BY f.media_id""".stripMargin,

    // Hamming-banded near-dup edges BETWEEN distinct fingerprint
    // classes (q159's banding one level up), hot blocks capped
    "q302_media_phash_pairs" -> {
      import Multimodal.{phashBlockCap, phashHammingMax,
        phashBandBits, phashBandShifts}
      val shiftRows = phashBandShifts.toSeq.sortBy(_._1).flatMap {
        case (kind, shifts) => shifts.map(sh => s"('$kind', $sh)")
      }.mkString(", ")
      s"""WITH $phashCtesSql,
         |phbk AS (
         |  SELECT kind, phash, class_size, keeper_id,
         |    kind || ':' || CAST(s.sh AS VARCHAR) || ':' ||
         |      CAST((phash >> CAST(s.sh AS INTEGER))
         |        & ${(1L << phashBandBits) - 1} AS VARCHAR) AS bk
         |  FROM phcls
         |  JOIN (VALUES $shiftRows) s(k, sh) ON s.k = kind),
         |phok AS (SELECT bk FROM phbk GROUP BY bk
         |         HAVING count(*) <= $phashBlockCap),
         |phbl AS (SELECT k.* FROM phbk k JOIN phok USING (bk)),
         |php AS (
         |  SELECT kind, keeper_a, keeper_b, size_a, size_b,
         |    CAST(bit_count(x) AS BIGINT) AS hamming
         |  FROM (
         |    SELECT DISTINCT x.kind AS kind, x.keeper_id AS keeper_a,
         |      y.keeper_id AS keeper_b, x.class_size AS size_a,
         |      y.class_size AS size_b, xor(x.phash, y.phash) AS x
         |    FROM phbl x JOIN phbl y
         |      ON x.bk = y.bk AND x.keeper_id < y.keeper_id) z
         |  WHERE bit_count(x) <= $phashHammingMax)
         |SELECT kind, keeper_a, keeper_b, size_a, size_b, hamming
         |FROM php ORDER BY kind, keeper_a, keeper_b""".stripMargin
    },

    // video scene-signature dedup: per-frame byte sums from the laws,
    // 33-window energy-sign fingerprint, exact-hash classes + keeper
    "q303_video_phash_classes" ->
      s"""WITH $vhashCtesSql
         |SELECT f.media_id, f.vhash, CAST(f.n_frames AS BIGINT) AS n_frames,
         |  c.class_size, c.keeper_id,
         |  f.media_id = c.keeper_id AS is_keeper
         |FROM vhf f JOIN vhcls c USING (vhash)
         |ORDER BY f.media_id""".stripMargin,

    // video near-dup pairs: the q302 Hamming banding over the video
    // fingerprint classes (audio geometry — 4 disjoint + 3 rotated arms)
    "q304_video_phash_pairs" -> {
      import Multimodal.{phashBlockCap, phashHammingMax,
        phashBandBits, phashBandShifts}
      val shiftRows =
        phashBandShifts("audio").map(sh => s"($sh)").mkString(", ")
      s"""WITH $vhashCtesSql,
         |vbk AS (
         |  SELECT vhash, class_size, keeper_id,
         |    'video:' || CAST(s.sh AS VARCHAR) || ':' ||
         |      CAST((vhash >> CAST(s.sh AS INTEGER))
         |        & ${(1L << phashBandBits) - 1} AS VARCHAR) AS bk
         |  FROM vhcls
         |  CROSS JOIN (VALUES $shiftRows) s(sh)),
         |vok AS (SELECT bk FROM vbk GROUP BY bk
         |        HAVING count(*) <= $phashBlockCap),
         |vbl AS (SELECT k.* FROM vbk k JOIN vok USING (bk)),
         |vp AS (
         |  SELECT keeper_a, keeper_b, size_a, size_b,
         |    CAST(bit_count(x) AS BIGINT) AS hamming
         |  FROM (
         |    SELECT DISTINCT x.keeper_id AS keeper_a,
         |      y.keeper_id AS keeper_b, x.class_size AS size_a,
         |      y.class_size AS size_b, xor(x.vhash, y.vhash) AS x
         |    FROM vbl x JOIN vbl y
         |      ON x.bk = y.bk AND x.keeper_id < y.keeper_id) z
         |  WHERE bit_count(x) <= $phashHammingMax)
         |SELECT keeper_a, keeper_b, size_a, size_b, hamming
         |FROM vp ORDER BY keeper_a, keeper_b""".stripMargin
    },

    // streaming media-perceptual gate: the exact relational replay of
    // the seen-based sequential fold (rank ≤ cap per band group ×
    // later arrivals, popcount ≤ 6 verification, per-media rollup)
    "q305_media_phash_gate" -> {
      import Multimodal.{phashBandBits, phashBandShifts, phashHammingMax}
      val shiftRows = phashBandShifts.toSeq.sortBy(_._1).flatMap {
        case (kind, shifts) => shifts.map(sh => s"('$kind', $sh)")
      }.mkString(", ")
      s"""WITH $phashCtesSql,
         |gmb AS MATERIALIZED (
         |  SELECT media_id, phash,
         |    kind || ':' || CAST(s.sh AS VARCHAR) || ':' ||
         |      CAST((phash >> CAST(s.sh AS INTEGER))
         |        & ${(1L << phashBandBits) - 1} AS VARCHAR) AS bk
         |  FROM phf
         |  JOIN (VALUES $shiftRows) s(k, sh) ON s.k = kind),
         |gmr AS (
         |  SELECT media_id, phash, bk,
         |    row_number() OVER (PARTITION BY bk ORDER BY media_id) AS rk
         |  FROM gmb),
         |ghit AS (
         |  SELECT b, CAST(count(*) AS BIGINT) AS n_prior_neardups,
         |    min(a) AS first_collider
         |  FROM (
         |    SELECT DISTINCT x.media_id AS a, y.media_id AS b,
         |      x.phash AS pa, y.phash AS pb
         |    FROM gmr x JOIN gmb y
         |      ON x.bk = y.bk AND x.media_id < y.media_id
         |    WHERE x.rk <= ${graft.streaming.MediaGate.groupCap}) z
         |  WHERE bit_count(xor(pa, pb)) <= $phashHammingMax
         |  GROUP BY b)
         |SELECT f.media_id, f.kind, h.n_prior_neardups IS NULL AS admitted,
         |  coalesce(h.n_prior_neardups, 0) AS n_prior_neardups,
         |  coalesce(h.first_collider, -1) AS first_collider
         |FROM phf f LEFT JOIN ghit h ON h.b = f.media_id
         |ORDER BY f.media_id""".stripMargin
    },

    // paired text-media consistency: q55 text near-dup pairs (base docs)
    // x q301 fingerprints on both ends; caption-swap = text matches,
    // media far; cross-kind matches flagged incomparable
    "q306_pair_media_consistency" -> {
      import Multimodal.phashHammingMax
      s"""WITH $minHashCtesSql,
         |$phashCtesSql,
         |pmc AS (
         |  SELECT e.a, e.b, e.est_jaccard,
         |    x.kind AS kind_a, y.kind AS kind_b,
         |    CASE WHEN x.kind = y.kind
         |      THEN CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT)
         |      ELSE CAST(-1 AS BIGINT) END AS hamming
         |  FROM est e
         |  JOIN phf x ON x.media_id = e.a
         |  JOIN phf y ON y.media_id = e.b
         |  WHERE e.est_jaccard >= 0.5
         |    AND e.a < ${DedupOps.dupOffset} AND e.b < ${DedupOps.dupOffset})
         |SELECT a, b, est_jaccard, kind_a, kind_b, hamming,
         |  CASE WHEN hamming < 0 THEN 'cross_kind'
         |       WHEN hamming <= $phashHammingMax THEN 'consistent'
         |       ELSE 'media_mismatch' END AS verdict
         |FROM pmc ORDER BY a, b""".stripMargin
    },

    // video streaming gate replay: the q305 machinery over the q303
    // scene-signature fingerprints (audio band geometry — 32 bits)
    "q307_video_phash_gate" -> {
      import Multimodal.{phashBandBits, phashBandShifts, phashHammingMax}
      val shiftRows =
        phashBandShifts("audio").map(sh => s"($sh)").mkString(", ")
      s"""WITH $vhashCtesSql,
         |vgb AS MATERIALIZED (
         |  SELECT media_id, vhash,
         |    'video:' || CAST(s.sh AS VARCHAR) || ':' ||
         |      CAST((vhash >> CAST(s.sh AS INTEGER))
         |        & ${(1L << phashBandBits) - 1} AS VARCHAR) AS bk
         |  FROM vhf
         |  CROSS JOIN (VALUES $shiftRows) s(sh)),
         |vgr AS (
         |  SELECT media_id, vhash, bk,
         |    row_number() OVER (PARTITION BY bk ORDER BY media_id) AS rk
         |  FROM vgb),
         |vghit AS (
         |  SELECT b, CAST(count(*) AS BIGINT) AS n_prior_neardups,
         |    min(a) AS first_collider
         |  FROM (
         |    SELECT DISTINCT x.media_id AS a, y.media_id AS b,
         |      x.vhash AS pa, y.vhash AS pb
         |    FROM vgr x JOIN vgb y
         |      ON x.bk = y.bk AND x.media_id < y.media_id
         |    WHERE x.rk <= ${graft.streaming.MediaGate.groupCap}) z
         |  WHERE bit_count(xor(pa, pb)) <= $phashHammingMax
         |  GROUP BY b)
         |SELECT f.media_id, 'video' AS kind,
         |  h.n_prior_neardups IS NULL AS admitted,
         |  coalesce(h.n_prior_neardups, 0) AS n_prior_neardups,
         |  coalesce(h.first_collider, -1) AS first_collider
         |FROM vhf f LEFT JOIN vghit h ON h.b = f.media_id
         |ORDER BY f.media_id""".stripMargin
    },

    // semantic gate replay: doubled embeddings, 32-plane sign vector
    // banded into 4 disjoint 8-bit arms (the q302 geometry on semantic
    // bits — measured 98.9% near-dup recall vs 20.6% single-probe),
    // rank ≤ cap registration per band, r4-quantized cosine verify
    "q308_semantic_gate" -> {
      import graft.streaming.SemanticGate.{bits => sgBits,
        bandBits => sgBandBits, bandShifts => sgShifts,
        groupCap => sgCap, tau => sgTau}
      val shiftRows = sgShifts.map(sh => s"($sh)").mkString(", ")
      s"""WITH seb AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
         |sgs AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    ${bucketSql("embedding", sgBits)} AS sim32
         |  FROM seb),
         |sgb AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    CAST(s.sh AS VARCHAR) || ':' ||
         |      CAST((sim32 >> CAST(s.sh AS INTEGER))
         |        & ${(1L << sgBandBits) - 1} AS VARCHAR) AS bk
         |  FROM sgs CROSS JOIN (VALUES $shiftRows) s(sh)),
         |sgr AS (
         |  SELECT vec_id, embedding, bk,
         |    row_number() OVER (PARTITION BY bk ORDER BY vec_id) AS rk
         |  FROM sgb),
         |sghit AS (
         |  SELECT b, CAST(count(*) AS BIGINT) AS n_prior_semdups,
         |    min(a) AS first_collider
         |  FROM (
         |    SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
         |      x.embedding AS ea, y.embedding AS eb
         |    FROM sgr x JOIN sgb y
         |      ON x.bk = y.bk AND x.vec_id < y.vec_id
         |    WHERE x.rk <= $sgCap) z
         |  WHERE ${cosSql("ea", "eb")} >= $sgTau
         |  GROUP BY b)
         |SELECT s.vec_id, h.n_prior_semdups IS NULL AS admitted,
         |  coalesce(h.n_prior_semdups, 0) AS n_prior_semdups,
         |  coalesce(h.first_collider, -1) AS first_collider
         |FROM sgs s LEFT JOIN sghit h ON h.b = s.vec_id
         |ORDER BY s.vec_id""".stripMargin
    },

    // entropy l-diversity + t-closeness over the q210 published relation:
    // per-term micro-nat quantization (ulp-snapped ln), integer-exact
    // variational distance |cnt·N − g·n| in BIGINT, ⌈ln3·1e6⌉ carried as
    // the exact literal 1098613
    "q309_l_diversity" ->
      """WITH pub AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS qi_nation,
        |    c_mktsegment AS qi_segment,
        |    (c_acctbal < 0) AS qi_acct_neg,
        |    o_orderpriority AS sensitive
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cc AS MATERIALIZED (
        |  SELECT qi_nation, qi_segment, qi_acct_neg, sensitive,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM pub GROUP BY 1, 2, 3, 4),
        |cls AS MATERIALIZED (
        |  SELECT qi_nation, qi_segment, qi_acct_neg,
        |    CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS l_distinct
        |  FROM cc GROUP BY 1, 2, 3),
        |g AS (SELECT sensitive, CAST(sum(cnt) AS BIGINT) AS g_cnt
        |      FROM cc GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cc),
        |ent AS (
        |  SELECT c.qi_nation, c.qi_segment, c.qi_acct_neg,
        |    sum(CAST(floor((CAST(c.cnt AS DOUBLE) *
        |      round(ln(CAST(c.cnt AS DOUBLE) / CAST(s.n AS DOUBLE)), 8)) *
        |      1e6 + 0.5) AS BIGINT)) AS hsum_u
        |  FROM cc c JOIN cls s USING (qi_nation, qi_segment, qi_acct_neg)
        |  GROUP BY 1, 2, 3),
        |tv AS (
        |  SELECT s.qi_nation, s.qi_segment, s.qi_acct_neg,
        |    sum(abs(coalesce(c.cnt, 0) * t.n_total - g.g_cnt * s.n))
        |      AS tvd_num
        |  FROM cls s CROSS JOIN g CROSS JOIN tot t
        |  LEFT JOIN cc c ON c.qi_nation = s.qi_nation
        |    AND c.qi_segment = s.qi_segment
        |    AND c.qi_acct_neg = s.qi_acct_neg
        |    AND c.sensitive = g.sensitive
        |  GROUP BY 1, 2, 3),
        |h AS (
        |  SELECT s.qi_nation, s.qi_segment, s.qi_acct_neg, s.n,
        |    s.l_distinct, tv.tvd_num,
        |    CAST(floor(((CAST(-e.hsum_u AS DOUBLE) / 1e6) /
        |      CAST(s.n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS h6
        |  FROM cls s
        |  JOIN ent e USING (qi_nation, qi_segment, qi_acct_neg)
        |  JOIN tv USING (qi_nation, qi_segment, qi_acct_neg))
        |SELECT qi_nation, qi_segment, qi_acct_neg, n, l_distinct,
        |  CAST(h6 AS DOUBLE) / 1e6 AS entropy_nats,
        |  (h6 < 1098613) AS entropy_l_violation,
        |  floor((CAST(tvd_num AS DOUBLE) /
        |    (2.0 * CAST(n * t.n_total AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS tvd,
        |  (tvd_num * 10 > n * t.n_total * 7) AS t_violation
        |FROM h CROSS JOIN tot t
        |ORDER BY qi_nation, qi_segment, qi_acct_neg""".stripMargin,

    // deterministic epoch reshuffle audit: per-epoch md5 shard keys,
    // stay-counts, epoch-0 language mix (ties to the lexicographically
    // largest lang, the max(struct) order), integer-bp balance
    "q310_epoch_shuffle" ->
      """WITH a AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8)
        |      AS BIGINT) % 8 AS s0,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1'), 1, 8)
        |      AS BIGINT) % 8 AS s1
        |  FROM documents),
        |bl AS MATERIALIZED (
        |  SELECT s0 AS shard, lang, CAST(count(*) AS BIGINT) AS cnt
        |  FROM a GROUP BY 1, 2),
        |e0 AS (SELECT shard, CAST(sum(cnt) AS BIGINT) AS n_e0,
        |    CAST(count(*) AS BIGINT) AS n_langs_e0 FROM bl GROUP BY 1),
        |tp AS (SELECT shard, lang AS top_lang, cnt AS top_cnt,
        |    row_number() OVER (PARTITION BY shard
        |      ORDER BY cnt DESC, lang DESC) AS rn FROM bl),
        |e1 AS (SELECT s1 AS shard, CAST(count(*) AS BIGINT) AS n_e1
        |       FROM a GROUP BY 1),
        |st AS (SELECT s0 AS shard, CAST(count(*) AS BIGINT) AS n_stay
        |       FROM a WHERE s0 = s1 GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM a),
        |j AS (
        |  SELECT coalesce(e0.shard, e1.shard) AS shard,
        |    coalesce(n_e0, 0) AS n_e0, coalesce(n_e1, 0) AS n_e1,
        |    coalesce(n_langs_e0, 0) AS n_langs_e0
        |  FROM e0 FULL OUTER JOIN e1 ON e0.shard = e1.shard)
        |SELECT j.shard, n_e0, n_e1, coalesce(n_stay, 0) AS n_stay,
        |  n_langs_e0, t.top_lang,
        |  CAST((coalesce(t.top_cnt, 0) * 10000) // greatest(n_e0, 1)
        |    AS BIGINT) AS top_share_bp,
        |  CAST((n_e0 * 10000 * 8) // n_total AS BIGINT) AS balance_bp
        |FROM j LEFT JOIN st ON st.shard = j.shard
        |LEFT JOIN tp t ON t.shard = j.shard AND t.rn = 1
        |CROSS JOIN tot
        |ORDER BY j.shard""".stripMargin,

    // Bradley–Terry MM in fixed-point u-units, 3 unrolled iterations:
    // cent-exact duels, micro-LONG pair terms (order-independent sums),
    // per-round Σπ=K renormalization
    "q311_bradley_terry" -> {
      val rounds = (0 until 3).map { r =>
        s"""t${r + 1} AS (SELECT dr.i AS item,
           |  sum(CAST(floor(((CAST(n_ij AS DOUBLE) * 1e8) /
           |    CAST(greatest(pi.u + pj.u, 1) AS DOUBLE)) * 1e6 + 0.5)
           |    AS BIGINT)) AS d_u
           |  FROM dr JOIN p$r pi ON pi.item = dr.i
           |  JOIN p$r pj ON pj.item = dr.j GROUP BY 1),
           |r${r + 1} AS MATERIALIZED (SELECT it.item,
           |  CAST(floor(((CAST(it.wins AS DOUBLE) * 1e6) /
           |    CAST(t${r + 1}.d_u AS DOUBLE)) * 1e8 + 0.5) AS BIGINT) AS r_u
           |  FROM it JOIN t${r + 1} USING (item)),
           |p${r + 1} AS MATERIALIZED (SELECT item,
           |  CAST(floor(((CAST(r_u AS DOUBLE) / CAST(s.s_u AS DOUBLE)) *
           |    CAST(k.n_items AS DOUBLE)) * 1e8 + 0.5) AS BIGINT) AS u
           |  FROM r${r + 1}
           |  CROSS JOIN (SELECT sum(r_u) AS s_u FROM r${r + 1}) s
           |  CROSS JOIN k)""".stripMargin
      }.mkString(",\n")
      s"""WITH sc AS MATERIALIZED (
         |  SELECT user_id, event_type,
         |    CAST(sum(CAST(floor("value" * 100.0 + 0.5) AS BIGINT))
         |      AS BIGINT) AS score
         |  FROM events GROUP BY 1, 2),
         |du AS (
         |  SELECT CASE WHEN a.score > b.score THEN a.event_type
         |           ELSE b.event_type END AS winner,
         |         CASE WHEN a.score > b.score THEN b.event_type
         |           ELSE a.event_type END AS loser
         |  FROM sc a JOIN sc b ON a.user_id = b.user_id
         |    AND a.event_type < b.event_type
         |  WHERE a.score <> b.score),
         |wi AS MATERIALIZED (
         |  SELECT winner, loser, CAST(count(*) AS BIGINT) AS w
         |  FROM du GROUP BY 1, 2),
         |dr AS MATERIALIZED (
         |  SELECT i, j, CAST(sum(n) AS BIGINT) AS n_ij FROM (
         |    SELECT winner AS i, loser AS j, w AS n FROM wi
         |    UNION ALL SELECT loser, winner, w FROM wi) z GROUP BY 1, 2),
         |it AS MATERIALIZED (
         |  SELECT d.item, coalesce(wb.wins, 0) AS wins, d.n_comps FROM
         |    (SELECT i AS item, CAST(sum(n_ij) AS BIGINT) AS n_comps
         |     FROM dr GROUP BY 1) d
         |    LEFT JOIN (SELECT winner AS item, CAST(sum(w) AS BIGINT)
         |      AS wins FROM wi GROUP BY 1) wb USING (item)),
         |k AS (SELECT count(*) AS n_items FROM it),
         |p0 AS (SELECT item, CAST(100000000 AS BIGINT) AS u FROM it),
         |$rounds
         |SELECT it.item AS event_type, it.wins, it.n_comps,
         |  p3.u AS strength_u, CAST(p3.u AS DOUBLE) / 1e8 AS strength
         |FROM it JOIN p3 USING (item)
         |ORDER BY strength_u DESC, event_type""".stripMargin
    },

    // Fleiss' kappa: 25-id event blocks, md5-priority 5-rater panels,
    // integer-exact A/B sums, r6 report divisions, kappa from the two
    // quantized values
    "q312_fleiss_kappa" ->
      """WITH r AS MATERIALIZED (
        |  SELECT event_id, event_type, event_id // 25 AS item,
        |    row_number() OVER (PARTITION BY (event_id // 25)
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events),
        |kept AS (SELECT * FROM r WHERE rn <= 5),
        |full5 AS (SELECT item FROM kept GROUP BY item
        |          HAVING count(*) = 5),
        |nij AS MATERIALIZED (
        |  SELECT k.item, k.event_type, CAST(count(*) AS BIGINT) AS nij
        |  FROM kept k JOIN full5 USING (item) GROUP BY 1, 2),
        |a AS (SELECT CAST(sum(nij * nij) AS BIGINT) AS a_sum,
        |    CAST(count(DISTINCT item) AS BIGINT) AS n_items FROM nij),
        |cj AS (SELECT event_type, CAST(sum(nij) AS BIGINT) AS c_j
        |       FROM nij GROUP BY 1),
        |b AS (SELECT CAST(sum(c_j * c_j) AS BIGINT) AS b_sum,
        |    CAST(count(*) AS BIGINT) AS n_categories FROM cj),
        |q AS (SELECT a_sum, n_items, b_sum, n_categories,
        |  floor((CAST(a_sum - n_items * 5 AS DOUBLE) /
        |    CAST(n_items * 20 AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS p_bar,
        |  floor((CAST(b_sum AS DOUBLE) /
        |    CAST((n_items * 5) * (n_items * 5) AS DOUBLE)) * 1e6 + 0.5)
        |    / 1e6 AS p_e
        |  FROM a CROSS JOIN b)
        |SELECT n_items, CAST(5 AS BIGINT) AS n_raters, n_categories,
        |  a_sum, b_sum, p_bar, p_e,
        |  CASE WHEN p_e = 1.0 THEN NULL
        |    ELSE floor(((p_bar - p_e) / (1.0 - p_e)) * 1e6 + 0.5) / 1e6
        |  END AS kappa
        |FROM q""".stripMargin,

    // pass@k: falling-factorial binomial ratio as exact integer
    // products (zero-crossing handles c > n-k), per-task micro-unit
    // quantization before the cross-task sum
    "q313_pass_at_k" ->
      """WITH t AS (
        |  SELECT event_id // 20 AS task,
        |    CASE WHEN event_type IN ('purchase', 'signup') THEN 1
        |      ELSE 0 END AS pass
        |  FROM events),
        |ag AS MATERIALIZED (
        |  SELECT task, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(pass) AS BIGINT) AS c
        |  FROM t GROUP BY 1),
        |kk AS (SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS k),
        |p AS (
        |  SELECT k, n, c,
        |    CAST(list_product(list_transform(range(0, k),
        |      i -> n - c - i)) AS DOUBLE) AS num,
        |    CAST(list_product(list_transform(range(0, k),
        |      i -> n - i)) AS DOUBLE) AS den
        |  FROM ag CROSS JOIN kk WHERE n >= k),
        |u AS (SELECT k, n, c,
        |    CAST(floor((1.0 - num / den) * 1e6 + 0.5) AS BIGINT) AS p_u6
        |  FROM p)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_tasks,
        |  CAST(sum(n) AS BIGINT) AS n_samples,
        |  CAST(sum(c) AS BIGINT) AS n_passing,
        |  CAST(sum(p_u6) AS BIGINT) AS sum_u6,
        |  floor(((CAST(sum(p_u6) AS DOUBLE) / 1e6) /
        |    CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS pass_at_k
        |FROM u GROUP BY k ORDER BY k""".stripMargin,

    // Krippendorff nominal alpha: ragged md5-priority panels (2..5 by
    // item), observed disagreement in exact 12ths (every m-1 divides
    // 12), one BIGINT division for alpha
    "q314_krippendorff_alpha" ->
      """WITH r AS MATERIALIZED (
        |  SELECT event_id, event_type, event_id // 25 AS item,
        |    2 + (event_id // 25) % 4 AS want,
        |    row_number() OVER (PARTITION BY (event_id // 25)
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events),
        |kept AS (SELECT * FROM r WHERE rn <= want),
        |fullp AS (SELECT item, CAST(count(*) AS BIGINT) AS m
        |          FROM kept GROUP BY item, want HAVING count(*) = want),
        |nij AS MATERIALIZED (
        |  SELECT k.item, f.m, k.event_type, CAST(count(*) AS BIGINT) AS nij
        |  FROM kept k JOIN fullp f USING (item) GROUP BY 1, 2, 3),
        |pu AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(sum((m * m - sq) * (12 // (m - 1))) AS BIGINT) AS d_o_num12
        |  FROM (SELECT item, m, sum(nij * nij) AS sq
        |        FROM nij GROUP BY 1, 2) z),
        |mg AS (
        |  SELECT CAST(sum(n_c) AS BIGINT) AS n,
        |    CAST(sum(n_c * n_c) AS BIGINT) AS marg_sq,
        |    CAST(count(*) AS BIGINT) AS n_categories
        |  FROM (SELECT event_type, sum(nij) AS n_c
        |        FROM nij GROUP BY 1) z)
        |SELECT n_units, n AS n_ratings, n_categories, d_o_num12, marg_sq,
        |  floor((CAST(d_o_num12 AS DOUBLE) / (12.0 * CAST(n AS DOUBLE)))
        |    * 1e6 + 0.5) / 1e6 AS d_o,
        |  floor((CAST(n * n - marg_sq AS DOUBLE) /
        |    CAST(n * (n - 1) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS d_e,
        |  CASE WHEN n * n = marg_sq THEN NULL
        |    ELSE floor((1.0 - CAST((n - 1) * d_o_num12 AS DOUBLE) /
        |      CAST(12 * (n * n - marg_sq) AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |  END AS alpha
        |FROM pu CROSS JOIN mg""".stripMargin,

    // Murphy decomposition of the q26 score vs the q60 gate: exact
    // 400N-scaled Brier sum, per-bin micro-unit reliability/resolution
    // terms, (d/N)*(d/N) pinned squaring, residual of the four
    // independently-quantized values
    "q315_brier_decomposition" ->
      s"""WITH t AS (
         |  SELECT $toksSql AS toks FROM documents),
         |m AS (
         |  SELECT CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(toks,
         |      x -> x IN ('the','a','of','and','to','in'))) AS BIGINT)
         |      AS n_stop,
         |    floor((CAST(length(array_to_string(toks, '')) AS DOUBLE)
         |      / CAST(greatest(len(toks), 1) AS DOUBLE))*1e4 + 0.5)/1e4
         |      AS mean_word_len,
         |    floor((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
         |      / CAST(greatest(len(toks), 1) AS DOUBLE))*1e4 + 0.5)/1e4
         |      AS dup_ratio
         |  FROM t),
         |f AS (
         |  SELECT CAST(floor((CASE WHEN n_words = 0 THEN 0.0
         |      ELSE least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.6 +
         |        (CAST(n_stop AS DOUBLE) /
         |         CAST(greatest(n_words, 1) AS DOUBLE)) * 0.4
         |      END) * 1e4 + 0.5) AS BIGINT) AS u4,
         |    (n_words >= ${TextAnalysis.gopherMinWords}
         |     AND dup_ratio < ${TextAnalysis.gopherMaxDupRatio}
         |     AND mean_word_len BETWEEN ${TextAnalysis.gopherMeanLen._1}
         |       AND ${TextAnalysis.gopherMeanLen._2}) AS pass
         |  FROM m),
         |ft AS (SELECT least(u4 // 1000, 9) AS b, pass FROM f),
         |bins AS MATERIALIZED (
         |  SELECT b, CAST(count(*) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS c_b
         |  FROM ft GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n,
         |        CAST(sum(c_b) AS BIGINT) AS c FROM bins),
         |tr AS (
         |  SELECT count(*) AS n_bins,
         |    sum(n_b*(2*b+1)*(2*b+1) - 40*(2*b+1)*c_b + 400*c_b)
         |      AS brier400,
         |    sum(CAST(floor((((CAST((2*b+1)*n_b - 20*c_b AS DOUBLE) / 20.0) *
         |      (CAST((2*b+1)*n_b - 20*c_b AS DOUBLE) / 20.0)) /
         |      CAST(n_b AS DOUBLE)) * 1e6 + 0.5) AS BIGINT))
         |      AS rel_sum,
         |    sum(CAST(floor((((CAST(c_b*t.n - t.c*n_b AS DOUBLE) /
         |      CAST(t.n AS DOUBLE)) * (CAST(c_b*t.n - t.c*n_b AS DOUBLE) /
         |      CAST(t.n AS DOUBLE))) / CAST(n_b AS DOUBLE)) * 1e6 + 0.5)
         |      AS BIGINT)) AS res_sum
         |  FROM bins CROSS JOIN tot t),
         |q AS (
         |  SELECT n_bins, t.n, t.c,
         |    CAST(floor((CAST(brier400 AS DOUBLE) /
         |      (400.0 * CAST(t.n AS DOUBLE))) * 1e6 + 0.5) AS BIGINT)
         |      AS brier_u6,
         |    CAST(floor(((CAST(rel_sum AS DOUBLE) / 1e6) /
         |      CAST(t.n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS rel_u6,
         |    CAST(floor(((CAST(res_sum AS DOUBLE) / 1e6) /
         |      CAST(t.n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS res_u6,
         |    CAST(floor((CAST(t.c * (t.n - t.c) AS DOUBLE) /
         |      (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE))) * 1e6 + 0.5)
         |      AS BIGINT) AS unc_u6
         |  FROM tr CROSS JOIN tot t)
         |SELECT n AS n_docs, c AS n_pass, CAST(n_bins AS BIGINT) AS n_bins,
         |  floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6
         |    AS base_rate,
         |  CAST(brier_u6 AS DOUBLE) / 1e6 AS brier,
         |  CAST(rel_u6 AS DOUBLE) / 1e6 AS reliability,
         |  CAST(res_u6 AS DOUBLE) / 1e6 AS resolution,
         |  CAST(unc_u6 AS DOUBLE) / 1e6 AS uncertainty,
         |  brier_u6 - (rel_u6 - res_u6 + unc_u6) AS identity_residual_u6
         |FROM q""".stripMargin,

    // star-contraction CC over the 64-block consecutive-id chain graph:
    // the oracle replays components as gaps-and-islands window algebra —
    // an independent formulation of the same maximal-run clusters
    "q316_star_contraction" ->
      """WITH d AS (SELECT doc_id, doc_id // 64 AS blk FROM documents),
        |i AS (
        |  SELECT doc_id, blk,
        |    CASE WHEN lag(doc_id) OVER (PARTITION BY blk ORDER BY doc_id)
        |      = doc_id - 1 THEN 0 ELSE 1 END AS brk
        |  FROM d),
        |g AS (SELECT doc_id, blk,
        |    sum(brk) OVER (PARTITION BY blk ORDER BY doc_id) AS grp
        |  FROM i)
        |SELECT doc_id,
        |  CAST(min(doc_id) OVER (PARTITION BY blk, grp) AS BIGINT)
        |    AS component,
        |  CAST(count(*) OVER (PARTITION BY blk, grp) AS BIGINT)
        |    AS cluster_size
        |FROM g ORDER BY doc_id""".stripMargin,

    // the full multi-modal admission chain (r16): the q248/q249 text
    // verdict chain + the q305/q307/q308 gate replays over the ITEM
    // relation (media/embedding derive from the BASE id, so re-arrivals
    // and edits carry their original fingerprints). Each gate chain is
    // the standalone oracle's shape, renamed and re-rooted.
    "q317_multimodal_curate" -> {
      import Multimodal.{phashBandBits, phashBandShifts, phashHammingMax}
      import graft.streaming.{FullCurate, MediaGate}
      import graft.streaming.SemanticGate.{bits => sgBits,
        bandBits => sgBandBits, bandShifts => sgShifts,
        groupCap => sgCap, tau => sgTau}
      val mask = (1L << phashBandBits) - 1
      val phShiftRows = phashBandShifts.toSeq.sortBy(_._1).flatMap {
        case (kind, shifts) => shifts.map(sh => s"('$kind', $sh)")
      }.mkString(", ")
      val vShiftRows =
        phashBandShifts("audio").map(sh => s"($sh)").mkString(", ")
      val sShiftRows = sgShifts.map(sh => s"($sh)").mkString(", ")
      s"""WITH $fullCurateCtesSql,
         |$phashCtesSql,
         |$vhashCtesSql,
         |mmb AS MATERIALIZED (
         |  SELECT doc_id AS base_id, doc_id FROM documents
         |  UNION ALL SELECT doc_id, doc_id + 100000 FROM documents
         |  UNION ALL SELECT doc_id, doc_id + ${FullCurate.editOffset}
         |    FROM documents WHERE doc_id % ${FullCurate.editStride} = 0),
         |mgm AS MATERIALIZED (
         |  SELECT m.doc_id AS media_id, p.kind, p.phash
         |  FROM mmb m JOIN phf p ON p.media_id = m.base_id),
         |mgb AS MATERIALIZED (
         |  SELECT media_id, phash,
         |    kind || ':' || CAST(s.sh AS VARCHAR) || ':' ||
         |      CAST((phash >> CAST(s.sh AS INTEGER)) & $mask AS VARCHAR) AS bk
         |  FROM mgm JOIN (VALUES $phShiftRows) s(k, sh) ON s.k = kind),
         |mgr AS (
         |  SELECT media_id, phash, bk,
         |    row_number() OVER (PARTITION BY bk ORDER BY media_id) AS rk
         |  FROM mgb),
         |mghit AS (
         |  SELECT DISTINCT b FROM (
         |    SELECT DISTINCT x.media_id AS a, y.media_id AS b,
         |      x.phash AS pa, y.phash AS pb
         |    FROM mgr x JOIN mgb y
         |      ON x.bk = y.bk AND x.media_id < y.media_id
         |    WHERE x.rk <= ${MediaGate.groupCap}) z
         |  WHERE bit_count(xor(pa, pb)) <= $phashHammingMax),
         |mvm AS MATERIALIZED (
         |  SELECT m.doc_id AS media_id, v.vhash
         |  FROM mmb m JOIN vhf v ON v.media_id = m.base_id),
         |mvb AS MATERIALIZED (
         |  SELECT media_id, vhash,
         |    'video:' || CAST(s.sh AS VARCHAR) || ':' ||
         |      CAST((vhash >> CAST(s.sh AS INTEGER)) & $mask AS VARCHAR) AS bk
         |  FROM mvm CROSS JOIN (VALUES $vShiftRows) s(sh)),
         |mvr AS (
         |  SELECT media_id, vhash, bk,
         |    row_number() OVER (PARTITION BY bk ORDER BY media_id) AS rk
         |  FROM mvb),
         |mvhit AS (
         |  SELECT DISTINCT b FROM (
         |    SELECT DISTINCT x.media_id AS a, y.media_id AS b,
         |      x.vhash AS pa, y.vhash AS pb
         |    FROM mvr x JOIN mvb y
         |      ON x.bk = y.bk AND x.media_id < y.media_id
         |    WHERE x.rk <= ${MediaGate.groupCap}) z
         |  WHERE bit_count(xor(pa, pb)) <= $phashHammingMax),
         |msm AS (
         |  SELECT m.doc_id AS vec_id, e.embedding
         |  FROM mmb m JOIN embeddings e ON e.vec_id = m.base_id),
         |msg AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    ${bucketSql("embedding", sgBits)} AS sim32
         |  FROM msm),
         |msb AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    CAST(s.sh AS VARCHAR) || ':' ||
         |      CAST((sim32 >> CAST(s.sh AS INTEGER))
         |        & ${(1L << sgBandBits) - 1} AS VARCHAR) AS bk
         |  FROM msg CROSS JOIN (VALUES $sShiftRows) s(sh)),
         |msr AS (
         |  SELECT vec_id, embedding, bk,
         |    row_number() OVER (PARTITION BY bk ORDER BY vec_id) AS rk
         |  FROM msb),
         |mshit AS (
         |  SELECT DISTINCT b FROM (
         |    SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
         |      x.embedding AS ea, y.embedding AS eb
         |    FROM msr x JOIN msb y
         |      ON x.bk = y.bk AND x.vec_id < y.vec_id
         |    WHERE x.rk <= $sgCap) z
         |  WHERE ${cosSql("ea", "eb")} >= $sgTau),
         |mmv AS (
         |  SELECT f.doc_id, f.source, f.n_tokens, f.q_u4,
         |    f.emitted, f.nd_ok,
         |    (sh.b IS NULL) AS sem_ok,
         |    (mh.b IS NULL) AS media_ok,
         |    (vh.b IS NULL) AS video_ok,
         |    f.len_ok, f.floor_ok
         |  FROM fvec f
         |  LEFT JOIN mghit mh ON mh.b = f.doc_id
         |  LEFT JOIN mvhit vh ON vh.b = f.doc_id
         |  LEFT JOIN mshit sh ON sh.b = f.doc_id)
         |SELECT doc_id, source, n_tokens, q_u4,
         |  emitted, nd_ok, sem_ok, media_ok, video_ok, len_ok, floor_ok,
         |  (emitted AND nd_ok AND sem_ok AND media_ok AND video_ok
         |    AND len_ok AND floor_ok) AS curated,
         |  CASE WHEN NOT emitted THEN 'exact'
         |       WHEN NOT nd_ok THEN 'neardup'
         |       WHEN NOT sem_ok THEN 'semantic'
         |       WHEN NOT media_ok THEN 'media'
         |       WHEN NOT video_ok THEN 'video'
         |       WHEN NOT len_ok THEN 'length'
         |       WHEN NOT floor_ok THEN 'floor'
         |       ELSE 'none' END AS dropped_by
         |FROM mmv
         |ORDER BY doc_id""".stripMargin
    },
  )

  /** The composed-curation CTE chain shared by q248/q249: the extended
    * corpus (`fdocs`), the md5 MinHash band chain over it, the q173
    * rank-capped collider set (`hits`), the per-doc features (`feat`),
    * the q168 history floor table (`thr`), the q94 Bloom coverage
    * (`cov`), and the final per-doc verdict vector (`fvec`). */
  private lazy val fullCurateCtesSql: String = {
      import graft.streaming.{BloomGate, FullCurate, NearDupGate}
      import graft.streaming.CuratePipeline.{minTokens, maxTokens}
      val uSql = "CAST(floor((CASE WHEN CAST(len(tk) AS BIGINT) = 0 THEN 0.0 " +
        "ELSE least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.6 + " +
        "(CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) " +
        "/ CAST(greatest(len(tk), 1) AS DOUBLE)) * 0.4 " +
        "END) * 1e4 + 0.5) AS BIGINT)"
      s"""fdocs AS (
         |  SELECT source, doc_id, text FROM documents
         |  UNION ALL SELECT source, doc_id + 100000, text FROM documents
         |  UNION ALL SELECT source, doc_id + ${FullCurate.editOffset},
         |    CASE WHEN doc_id % ${2 * FullCurate.editStride} = 0
         |      THEN array_to_string(tk[1:(len(tk)+2)//3], ' ') ||
         |        '${FullCurate.rewriteSuffix}'
         |      ELSE text || '${FullCurate.editSuffix}' END AS text
         |  FROM (SELECT source, doc_id, text, $toksSql AS tk FROM documents) ed
         |  WHERE doc_id % ${FullCurate.editStride} = 0),
         |${minHashCtesOver("SELECT doc_id, text FROM fdocs")},
         |gr AS (
         |  SELECT doc_id, band, bk,
         |    row_number() OVER (PARTITION BY band, bk ORDER BY doc_id) AS rk
         |  FROM banded),
         |gc AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM gr x JOIN banded y
         |    ON x.band = y.band AND x.bk = y.bk
         |    AND x.doc_id < y.doc_id AND x.rk <= ${NearDupGate.groupCap}),
         |gm AS (
         |  SELECT gc.a, gc.b FROM gc
         |  JOIN sigl sa ON sa.doc_id = gc.a
         |  JOIN sigl sb ON sb.doc_id = gc.b
         |  WHERE len(list_filter(range(1, 17), i -> sa.s[i] = sb.s[i]))
         |    >= ${NearDupGate.matchMin}),
         |hits AS (SELECT DISTINCT b AS doc_id FROM gm),
         |feat AS (
         |  SELECT source, doc_id, $fpSql AS fp,
         |    CAST(len(tk) AS BIGINT) AS n_tokens, $uSql AS q_u4
         |  FROM (SELECT source, doc_id, text, $toksSql AS tk FROM fdocs) z),
         |hfreq AS (
         |  SELECT source, $uSql AS u, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT source, $toksSql AS tk FROM documents) z
         |  GROUP BY 1, 2),
         |hcum AS (
         |  SELECT source, u, cnt,
         |    sum(cnt) OVER (PARTITION BY source ORDER BY u) AS cum,
         |    sum(cnt) OVER (PARTITION BY source) AS n
         |  FROM hfreq),
         |thr AS (
         |  SELECT source, min(u) AS thr_u4 FROM hcum
         |  WHERE cum * 100 >= n * ${TextAnalysis.floorQuantilePct}
         |  GROUP BY source),
         |pos AS (
         |  SELECT f.source, f.doc_id,
         |    ${h32("f.fp || '#' || r.j")} % ${BloomGate.mBits} AS pos
         |  FROM feat f CROSS JOIN range(0, ${BloomGate.kHashes}) r(j)),
         |fs AS (SELECT source, pos, min(doc_id) AS first_doc
         |       FROM pos GROUP BY 1, 2),
         |cov AS (
         |  SELECT p.source, p.doc_id,
         |    sum(CASE WHEN f.first_doc < p.doc_id THEN 1 ELSE 0 END) AS n_cov
         |  FROM pos p JOIN fs f ON f.source = p.source AND f.pos = p.pos
         |  GROUP BY 1, 2),
         |fvec AS (
         |  SELECT f.doc_id, f.source, f.fp, f.n_tokens, f.q_u4,
         |    (c.n_cov < ${BloomGate.kHashes}) AS emitted,
         |    (h.doc_id IS NULL) AS nd_ok,
         |    (f.n_tokens >= $minTokens AND f.n_tokens < $maxTokens) AS len_ok,
         |    (f.q_u4 >= t.thr_u4) AS floor_ok
         |  FROM feat f
         |  JOIN cov c ON c.doc_id = f.doc_id
         |  JOIN thr t ON t.source = f.source
         |  LEFT JOIN hits h ON h.doc_id = f.doc_id)""".stripMargin
  }
}
