package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import org.apache.spark.sql.graft.CollectedSort

import graft.operators._

/** Driver contract — see SURVEY.md §7.
  *
  * Every oracle-checked query obeys the determinism rules of FIXTURES.md
  * §B.4: exact-decimal sums (order-free), BIGINT epoch seconds instead of
  * timestamps, explicit tie-breaks, and a final ORDER BY mirrored in the
  * DuckDB SQL. Column names match between Spark and SQL exactly. That
  * final ORDER BY runs where [[queries]] puts it: in one task over the
  * whole result, not through a range exchange.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    EventAnalytics.busiestUserPerWindow(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Every caller
    * consumes the whole result: Verify writes it to parquet, the perfbench
    * harness collects it, and Bench and Probe write it to the noop sink,
    * where no row reaches the driver. Each query is wrapped in
    * [[org.apache.spark.sql.graft.CollectedSort]]: a root global ORDER BY
    * runs in one task over a single-partition exchange instead of through
    * a range exchange and its sampling job, and that one task also
    * writes or returns every row. The operators keep their own ORDER BY;
    * [[bareQueries]] holds them unwrapped. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    bareQueries.map { case (name, build) =>
      name -> ((s: SparkSession, d: String) => CollectedSort(build(s, d)))
    }

  /** The operators behind [[queries]], as they build their DataFrames. */
  private[graft] def bareQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Reference parity (events table; SURVEY.md §2.1 rows 13–17)
    "q1_busiest_user"     -> ((s, d) => EventAnalytics.busiestUserPerWindow(s, d)),
    "q2_unique_users"     -> ((s, d) => EventAnalytics.uniqueUsersPerWindow(s, d)),
    "q2b_unique_users_approx" -> ((s, d) => EventAnalytics.uniqueUsersApproxPerWindow(s, d)),
    "q3_avg_value"        -> ((s, d) => EventAnalytics.avgValuePerWindow(s, d)),
    "q4_global_parity"    -> ((s, d) => EventAnalytics.globalReferenceParity(s, d)),
    "q5_sliding_activity" -> ((s, d) => EventAnalytics.slidingActivity(s, d)),
    "q6_session_stats"    -> ((s, d) => EventAnalytics.sessionStats(s, d)),
    "q7_first_event_per_user" -> ((s, d) => EventAnalytics.firstEventPerUser(s, d)),
    "q8_json_props_sum"   -> ((s, d) => EventAnalytics.jsonPropsSum(s, d)),
    // Relational surface (TPC-H-ish; SURVEY.md §2.2 joins/aggs/sorts/set-ops)
    "q10_pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "q11_revenue_by_nation" -> ((s, d) => Relational.revenueByNation(s, d)),
    "q12_top_orders"      -> ((s, d) => Relational.topOrders(s, d)),
    "q13_priority_top3"   -> ((s, d) => Relational.priorityTop3(s, d)),
    "q14_rollup_returns"  -> ((s, d) => Relational.rollupReturns(s, d)),
    "q15_set_ops"         -> ((s, d) => Relational.setOpsCustomers(s, d)),
    "q16_customers_without_orders" -> ((s, d) => Relational.customersWithoutOrders(s, d)),
    "q17_customers_with_open_orders" -> ((s, d) => Relational.customersWithOpenOrders(s, d)),
    "q18_orders_per_month" -> ((s, d) => Relational.ordersPerMonth(s, d)),
    "q19_status_by_year"  -> ((s, d) => Relational.statusByYear(s, d)),
    "q20_above_avg_parts" -> ((s, d) => Relational.aboveAvgParts(s, d)),
    "q39_merge_join"      -> ((s, d) => Relational.ordersLineitemMergeJoin(s, d)),
    "q40_cube_orders"     -> ((s, d) => Relational.cubeOrderStats(s, d)),
    "q41_order_history"   -> ((s, d) => Relational.customerOrderHistory(s, d)),
    "q42_salted_revenue"  -> ((s, d) => Relational.revenueByNationSalted(s, d)),
    "q107_salted_differential" -> ((s, d) => Relational.revenueByNationSaltedDifferential(s, d)),
    "q43_deterministic_sample" -> ((s, d) => TextAnalysis.deterministicSample(s, d)),
    "q64_repetition_metrics" -> ((s, d) => TextAnalysis.repetitionMetrics(s, d)),
    "q65_eval_contamination" -> ((s, d) => TextAnalysis.evalContamination(s, d)),
    "q66_pii_redaction"   -> ((s, d) => TextAnalysis.piiRedaction(s, d)),
    "q67_snapshot_diff"   -> ((s, d) => Snapshot.snapshotDiff(s, d)),
    "q69_mixture_sample"  -> ((s, d) => TextAnalysis.mixtureSample(s, d)),
    "q70_frequency_quality" -> ((s, d) => TextAnalysis.frequencyQuality(s, d)),
    "q71_sequence_packing" -> ((s, d) => TextAnalysis.sequencePacking(s, d)),
    "q46_bucketed_join"   -> ((s, d) => graft.sources.Bucketing.bucketedOrderRevenue(s, d)),
    "q48_asof_join"       -> ((s, d) => Temporal.asofLatestOrder(s, d)),
    "q49_range_join"      -> ((s, d) => Temporal.eventNeighborCounts(s, d)),
    "q50_window_suite"    -> ((s, d) => Relational.windowFunctionSuite(s, d)),
    "q51_price_quantiles" -> ((s, d) => Relational.priceQuantiles(s, d)),
    "q58_price_quantiles_approx" -> ((s, d) => Relational.priceQuantilesApprox(s, d)),
    "q59_sql_api"         -> ((s, d) => Relational.sqlApiLateOrders(s, d)),
    "q52_status_pivot"    -> ((s, d) => Relational.statusPriorityPivot(s, d)),
    "q53_grouping_sets"   -> ((s, d) => Relational.groupingSetsStats(s, d)),
    "q54_partition_pruned" -> ((s, d) => graft.sources.Sinks.dailyActivity(s, d, "2024-01-15")),
    "q62_range_clustered" -> ((s, d) => graft.sources.Clustering.shipdateRangeRevenue(s, d)),
    "q63_zorder_slice"    -> ((s, d) => graft.sources.Clustering.zorderSliceStats(s, d)),
    "q55_doc_chunks"      -> ((s, d) => TextAnalysis.documentChunks(s, d)),
    "q56_tfidf_top3"      -> ((s, d) => TextAnalysis.tfidfTopTerms(s, d)),
    "q75_bm25_search"     -> ((s, d) => TextAnalysis.bm25TopDocs(s, d)),
    "q76_repeated_spans"  -> ((s, d) => TextAnalysis.repeatedSpanCoverage(s, d)),
    "q77_hybrid_rrf"      -> ((s, d) => Similarity.hybridRrfTopDocs(s, d)),
    "q78_heavy_hitters"   -> ((s, d) => TextAnalysis.heavyHitterTokens(s, d)),
    "q79_source_coverage" -> ((s, d) => TextAnalysis.sourceCoverage(s, d)),
    "q80_temperature_mixture" -> ((s, d) => TextAnalysis.temperatureMixture(s, d)),
    "q82_leakage_safe_split" -> ((s, d) => TextAnalysis.leakageSafeSplit(s, d)),
    "q83_shard_manifest"  -> ((s, d) => TextAnalysis.shardManifest(s, d)),
    "q84_token_budget_quota" -> ((s, d) => TextAnalysis.tokenBudgetQuota(s, d)),
    "q85_lm_surprisal"    -> ((s, d) => TextAnalysis.lmSurprisal(s, d)),
    "q86_random_projection" -> ((s, d) => Similarity.randomProjection(s, d)),
    "q87_ivf_maintenance" -> ((s, d) => Similarity.incrementalIvfMaintenance(s, d)),
    "q88_source_contamination" -> ((s, d) => TextAnalysis.crossSourceContamination(s, d)),
    "q89_cluster_safe_split" -> ((s, d) => Dedup.clusterSafeSplit(s, d)),
    "q90_curation_gate"   -> ((s, d) => TextAnalysis.curationGate(s, d)),
    "q91_bpe_first_merge" -> ((s, d) => TextAnalysis.bpeFirstMerge(s, d)),
    "q103_bpe_train"      -> ((s, d) => TextAnalysis.bpeTrain(s, d)),
    "q104_bpe_encode"     -> ((s, d) => TextAnalysis.bpeEncode(s, d)),
    "q117_bpe_fertility"  -> ((s, d) => TextAnalysis.bpeFertility(s, d)),
    "q105_span_dedup_rewrite" -> ((s, d) => TextAnalysis.spanDedupRewrite(s, d)),
    "q106_span_dedup_incremental" -> ((s, d) => TextAnalysis.incrementalSpanDedup(s, d)),
    "q108_run_collapse"   -> ((s, d) => TextAnalysis.runCollapse(s, d)),
    "q114_sql_run_collapse" -> ((s, d) => PipelineSql.sqlRunCollapse(s, d)),
    "q109_column_profile" -> ((s, d) => Profiling.documentsProfile(s, d)),
    "q113_profile_incremental" -> ((s, d) => Profiling.documentsProfileIncremental(s, d)),
    "q110_vocab_growth"   -> ((s, d) => TextAnalysis.vocabGrowth(s, d)),
    "q111_token_drift"    -> ((s, d) => TextAnalysis.tokenDrift(s, d)),
    "q112_embedding_drift" -> ((s, d) => Similarity.embeddingDrift(s, d)),
    "q115_source_drift"   -> ((s, d) => TextAnalysis.sourceDrift(s, d)),
    "q116_monitor_panel"  -> ((s, d) => PipelineSql.monitorPanel(s, d)),
    "q118_rejection_breakdown" -> ((s, d) => TextAnalysis.rejectionBreakdown(s, d)),
    "q119_script_audit"   -> ((s, d) => TextAnalysis.scriptAudit(s, d)),
    "q92_stratified_topk" -> ((s, d) => TextAnalysis.stratifiedTopK(s, d)),
    "q93_training_manifest" -> ((s, d) => TextAnalysis.trainingManifest(s, d)),
    "q94_surprisal_sweep" -> ((s, d) => TextAnalysis.surprisalSweep(s, d)),
    "q95_label_consistency" -> ((s, d) => TextAnalysis.labelConsistency(s, d)),
    "q97_winnowing_fingerprints" -> ((s, d) => TextAnalysis.winnowingFingerprints(s, d)),
    "q44_union_parties"   -> ((s, d) => Relational.activeParties(s, d)),
    "q45_embedding_array_stats" -> ((s, d) => Similarity.embeddingArrayStats(s, d)),
    // LLM-pipeline text ops (documents table)
    "q21_text_quality"    -> ((s, d) => TextAnalysis.textQuality(s, d)),
    "q22_lang_id"         -> ((s, d) => TextAnalysis.langId(s, d)),
    "q23_token_counts"    -> ((s, d) => TextAnalysis.tokenCounts(s, d)),
    "q24_fingerprints"    -> ((s, d) => TextAnalysis.fingerprints(s, d)),
    "q25_corpus_stats"    -> ((s, d) => TextAnalysis.corpusStats(s, d)),
    "q26_binary_payload"  -> ((s, d) => TextAnalysis.binaryPayloadFeatures(s, d)),
    "q27_dedup_exact"     -> ((s, d) => Dedup.exactDedup(s, d)),
    "q68_incremental_dedup" -> ((s, d) => Dedup.incrementalDedup(s, d)),
    "q72_incremental_neardup" -> ((s, d) => Dedup.incrementalNearDup(s, d)),
    "q74_bloom_incremental_dedup" -> ((s, d) => Dedup.bloomIncrementalDedup(s, d)),
    "q28_near_dup_jaccard" -> ((s, d) => Dedup.nearDupJaccard(s, d)),
    "q163_cross_source_dup_mass" -> ((s, d) => Dedup.crossSourceDupMass(s, d)),
    "q167_dedup_threshold_sweep" -> ((s, d) => Dedup.dedupThresholdSweep(s, d)),
    "q135_containment_dedup" -> ((s, d) => Dedup.containmentDedup(s, d)),
    "q61_dup_clusters"    -> ((s, d) => Dedup.nearDupClusters(s, d)),
    "q120_dedup_survivors" -> ((s, d) => Dedup.dedupSurvivors(s, d)),
    "q29_minhash_lsh"     -> ((s, d) => Dedup.minhashLshAgreement(s, d)),
    "q29b_minhash_sig_portable" -> ((s, d) => Dedup.minhashSignaturesPortable(s, d)),
    "q29c_minhash_lsh_portable" -> ((s, d) => Dedup.minhashLshPairsPortable(s, d)),
    "q98_dedup_funnel"    -> ((s, d) => Dedup.dedupFunnel(s, d)),
    "q99_minhash_calibration" -> ((s, d) => Dedup.minhashCalibration(s, d)),
    "q121_lsh_recall_audit" -> ((s, d) => Dedup.lshRecallAudit(s, d)),
    "q122_annealed_mixture" -> ((s, d) => TextAnalysis.annealedMixture(s, d)),
    "q123_zipf_audit"     -> ((s, d) => TextAnalysis.zipfAudit(s, d)),
    "q129_dsir_sample"    -> ((s, d) => TextAnalysis.dsirSample(s, d)),
    "q130_unigram_train"  -> ((s, d) => TextAnalysis.unigramTrain(s, d)),
    "q132_k_anonymity"    -> ((s, d) => TextAnalysis.kAnonymityAudit(s, d)),
    "q136_unigram_fertility" -> ((s, d) => TextAnalysis.unigramFertility(s, d)),
    "q131_unigram_encode" -> ((s, d) => TextAnalysis.unigramEncode(s, d)),
    "q124_embedding_dim_health" -> ((s, d) => Similarity.embeddingDimHealth(s, d)),
    "q125_funnel"         -> ((s, d) => EventAnalytics.funnel(s, d)),
    "q126_retrieval_eval" -> ((s, d) => TextAnalysis.retrievalEval(s, d)),
    "q127_shard_checksums" -> ((s, d) => TextAnalysis.shardChecksums(s, d)),
    "q30_simhash"         -> ((s, d) => Dedup.simhash(s, d)),
    "q31_simhash_pairs"   -> ((s, d) => Dedup.simhashNearPairs(s, d)),
    // Similarity search (embeddings table)
    "q32_label_centroids" -> ((s, d) => Similarity.labelCentroids(s, d)),
    "q57_centroids_udaf"  -> ((s, d) => Similarity.labelCentroidsAgg(s, d)),
    "q33_knn_brute"       -> ((s, d) => Similarity.knnBrute(s, d)),
    "q34_emb_near_dup"    -> ((s, d) => Similarity.embeddingNearDupPairsAudit(s, d)),
    "q34b_emb_near_dup_lsh" -> ((s, d) => Similarity.embeddingNearDupPairsLsh(s, d)),
    "q35_ann_lsh"         -> ((s, d) => Similarity.annLshTop3(s, d)),
    "q47_ann_ivf"         -> ((s, d) => Similarity.annIvfTopK(s, d)),
    "q60_ann_ivf_kmeans"  -> ((s, d) => Similarity.annIvfKmeansTopK(s, d)),
    "q160_embedding_isolation" -> ((s, d) => Similarity.embeddingIsolation(s, d)),
    "q162_filtered_ann"   -> ((s, d) => Similarity.annIvfFilteredTopK(s, d)),
    "q166_ivf_cell_balance" -> ((s, d) => Similarity.ivfCellBalance(s, d)),
    "q168_modality_skew"  -> ((s, d) => Similarity.modalitySkew(s, d)),
    "q73_semantic_dedup"  -> ((s, d) => Similarity.semanticDedup(s, d)),
    "q81_quantized_ann"   -> ((s, d) => Similarity.quantizedAnnTopK(s, d)),
    // Multimodal codec-free decode pipeline + CLF parity fixtures
    "q36_media_features"  -> ((s, d) => Multimodal.mediaFeatures(s, d)),
    "q96_media_thumbnails" -> ((s, d) => Multimodal.mediaThumbnails(s, d)),
    "q128_image_near_dup" -> ((s, d) => Multimodal.imageNearDup(s, d)),
    "q164_media_contamination" -> ((s, d) => Multimodal.mediaContamination(s, d)),
    "q133_image_dup_clusters" -> ((s, d) => Multimodal.imageDupClusters(s, d)),
    "q134_video_signatures" -> ((s, d) => Multimodal.videoSignatures(s, d)),
    "q137_image_incremental_dedup" -> ((s, d) => Multimodal.imageIncrementalDedup(s, d)),
    "q138_audio_signatures" -> ((s, d) => Multimodal.audioSignatures(s, d)),
    "q139_video_near_dup" -> ((s, d) => Multimodal.videoNearDup(s, d)),
    "q140_video_dup_clusters" -> ((s, d) => Multimodal.videoDupClusters(s, d)),
    "q141_audio_near_dup" -> ((s, d) => Multimodal.audioNearDup(s, d)),
    "q142_audio_dup_clusters" -> ((s, d) => Multimodal.audioDupClusters(s, d)),
    "q143_containment_incremental" -> ((s, d) => Dedup.containmentIncremental(s, d)),
    "q144_video_incremental_dedup" -> ((s, d) => Multimodal.videoIncrementalDedup(s, d)),
    "q145_audio_incremental_dedup" -> ((s, d) => Multimodal.audioIncrementalDedup(s, d)),
    "q146_media_dedup_manifest" -> ((s, d) => Multimodal.mediaDedupManifest(s, d)),
    "q147_video_prefix_containment" -> ((s, d) => Multimodal.videoPrefixContainment(s, d)),
    "q148_video_prefix_incremental" -> ((s, d) => Multimodal.videoPrefixIncremental(s, d)),
    "q149_incremental_clusters" -> ((s, d) => Dedup.incrementalClusters(s, d)),
    "q150_pq_ann" -> ((s, d) => Similarity.pqAnnTopK(s, d)),
    "q151_ivfpq_ann" -> ((s, d) => Similarity.ivfPqTopK(s, d)),
    "q152_pq_incremental" -> ((s, d) => Similarity.pqIncrementalEncode(s, d)),
    "q153_ivfpq_rerank" -> ((s, d) => Similarity.ivfPqRerank(s, d)),
    "q154_ivfpq_recall" -> ((s, d) => Similarity.ivfPqRecall(s, d)),
    "q155_ivfpq_deletes" -> ((s, d) => Similarity.ivfPqDeletes(s, d)),
    "q156_source_mixture" -> ((s, d) => TextAnalysis.sourceMixture(s, d)),
    "q161_epoch_plan"     -> ((s, d) => TextAnalysis.epochPlan(s, d)),
    "q165_post_dedup_mixture" -> ((s, d) => TextAnalysis.postDedupMixture(s, d)),
    "q157_cell_representatives" -> ((s, d) => Similarity.cellRepresentatives(s, d)),
    "q158_duplication_fractions" -> ((s, d) => TextAnalysis.duplicationFractions(s, d)),
    "q169_balanced_shards" -> ((s, d) => TextAnalysis.balancedShards(s, d)),
    "q170_padding_waste"  -> ((s, d) => TextAnalysis.paddingWaste(s, d)),
    "q171_skew_advisor"   -> ((s, d) => Relational.skewAdvisor(s, d)),
    "q172_media_safe_split" -> ((s, d) => Multimodal.mediaSafeSplit(s, d)),
    "q173_audio_prefix_containment" -> ((s, d) => Multimodal.audioPrefixContainment(s, d)),
    "q174_audio_prefix_incremental" -> ((s, d) => Multimodal.audioPrefixIncremental(s, d)),
    "q175_media_contamination_full" -> ((s, d) => Multimodal.mediaContaminationFull(s, d)),
    "q176_audio_prefix_rate_normalized" -> ((s, d) => Multimodal.audioPrefixContainmentNormalized(s, d)),
    "q177_audio_prefix_incremental_normalized" -> ((s, d) => Multimodal.audioPrefixIncrementalNormalized(s, d)),
    "q178_video_prefix_time_normalized" -> ((s, d) => Multimodal.videoPrefixContainmentTimeNormalized(s, d)),
    "q179_video_prefix_incremental_normalized" -> ((s, d) => Multimodal.videoPrefixIncrementalTimeNormalized(s, d)),
    "q159_ivfpq_compaction" -> ((s, d) => Similarity.ivfPqCompaction(s, d)),
    "q37_clf_parse"       -> ((s, _) => graft.clf.LogParser.fixtureValid(s)),
    "q38_clf_dead_letters" -> ((s, _) => graft.clf.LogParser.fixtureDead(s)),
    // CLF at volume: deterministic generated corpus at the reference's
    // full 1.57M-line scale (LogCorpus.NumLines; 120k lines in round 3,
    // grown in round 4), hash-gated against DuckDB's regexp engine
    // running the same 13-group pattern.
    "q37b_clf_parse_volume" -> ((s, _) => graft.clf.LogCorpus.parsedValidVolume(s)),
    "q38b_clf_dead_letters_volume" -> ((s, _) => graft.clf.LogCorpus.deadLettersVolume(s)),
    // SQL-text reachability for the pipeline surface: pure spark.sql
    // over temp views of the flagship LLM ops (q59's contract extended)
    "q100_sql_pipeline_report" -> ((s, d) => PipelineSql.curationReport(s, d)),
    "q101_sql_simhash_pairs" -> ((s, d) => PipelineSql.sqlSimhashNearPairs(s, d)),
    "q102_sql_knn_brute" -> ((s, d) => PipelineSql.sqlKnnBrute(s, d)),
  )

  /** Jaccard over df-filtered shingle sets (shared by q28 and the q61
    * cluster oracle): shingles with document frequency > MaxShingleDf are
    * dropped from sizes AND intersections, mirroring Dedup.nearDupJaccard's
    * stop-shingle cutoff. */
  /** q28's exact shingle-Jaccard chain, ending at `j(d1, d2, j)` —
    * callers append their own SELECT tail. Shared by the q28 pair
    * oracle and the q163 cross-source rollup oracle. */
  private val q28ChainSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |              WHERE len(string_split_regex(text, '\\s+')) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |              unnest(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |       FROM toks),
      |dfq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
      |k AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfq ON sh.s = dfq.s WHERE dfq.df <= ${operators.Dedup.MaxShingleDf}),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM k GROUP BY 1),
      |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      |       FROM k a JOIN k b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |j AS (SELECT d1, d2, CAST(inter AS DOUBLE)/(s1.n + s2.n - inter) AS j
      |      FROM pr JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id)""".stripMargin

  private val q28Sql: String =
    q28ChainSql +
      "\nSELECT d1, d2, ROUND(j, 6) AS jaccard FROM j WHERE j >= 0.6 ORDER BY d1, d2"

  /** The q128 perceptual-hash CTE chain: generator-derived 8×8 gray
    * grids → aHash halves → 4×16 bands → capped buckets → candidate
    * pairs → XOR-popcount-verified near pairs (`imgpairs`). Shared by
    * the q128 pair listing and q133's cluster closure. */
  // Per-sampled-frame video aHashes derived from the pixel generator in
  // closed form — `fah(doc_id, nf, si, hi, lo)` — shared by the q134
  // signature fold and the q139/q140 near-dup chain (r13).
  private val vidFrameCtes: String =
    """v AS (SELECT doc_id, doc_id % 30 + 1 AS nf,
      |             doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h
      |           FROM documents WHERE doc_id % 3 = 2),
      |sfr AS (SELECT doc_id, nf, w, h,
      |         unnest(list_transform(range(0, CASE WHEN nf <= 5 THEN nf ELSE 5 END),
      |                i -> {'si': i, 'f': CASE WHEN nf <= 5 THEN i ELSE i * nf // 5 END})) AS s
      |        FROM v),
      |fg AS (SELECT doc_id, nf, s.si AS si, w, h,
      |        list_transform(range(0, 64), t ->
      |          ( (doc_id*131 + s.f*104729 + (((t//8)*h//8*w + (t%8)*w//8)*3 + 0)*7919)%256
      |          + (doc_id*131 + s.f*104729 + (((t//8)*h//8*w + (t%8)*w//8)*3 + 1)*7919)%256
      |          + (doc_id*131 + s.f*104729 + (((t//8)*h//8*w + (t%8)*w//8)*3 + 2)*7919)%256) // 3) AS gr
      |       FROM sfr),
      |fgs AS (SELECT doc_id, nf, si, gr, CAST(list_sum(gr) AS BIGINT) AS sm FROM fg),
      |fah AS (SELECT doc_id, nf, si,
      |         CAST(list_sum(list_transform(range(32, 64), t ->
      |           CASE WHEN 64*gr[CAST(t+1 AS INT)] >= sm
      |                THEN (1::BIGINT << CAST(t - 32 AS INT)) ELSE 0 END)) AS BIGINT) AS hi,
      |         CAST(list_sum(list_transform(range(0, 32), t ->
      |           CASE WHEN 64*gr[CAST(t+1 AS INT)] >= sm
      |                THEN (1::BIGINT << CAST(t AS INT)) ELSE 0 END)) AS BIGINT) AS lo
      |        FROM fgs)""".stripMargin

  // q139's banding + aligned-envelope verify over vidFrameCtes' fah —
  // ends at `vidpairs(d1, d2, n_frames_aligned, ham_total, ham_max)`;
  // shared by the q139 entry and q140's recursive closure.
  private val vidPairCtes: String =
    s"""fcnt AS (SELECT doc_id, COUNT(*) AS ns FROM fah GROUP BY 1),
      |vbd AS (SELECT doc_id, si, unnest([
      |         {'band_idx': 0, 'band_val': hi // 65536},
      |         {'band_idx': 1, 'band_val': hi % 65536},
      |         {'band_idx': 2, 'band_val': lo // 65536},
      |         {'band_idx': 3, 'band_val': lo % 65536}]) AS b
      |       FROM fah),
      |vmem AS (SELECT doc_id, si, b.band_idx AS band_idx, b.band_val AS band_val,
      |          ROW_NUMBER() OVER (PARTITION BY si, b.band_idx, b.band_val ORDER BY doc_id) AS rn,
      |          COUNT(*) OVER (PARTITION BY si, b.band_idx, b.band_val) AS n
      |        FROM vbd),
      |vkept AS (SELECT * FROM vmem WHERE n >= 2 AND rn <= ${operators.Dedup.MaxBucket}),
      |vcand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |          FROM vkept a JOIN vkept b
      |            ON a.si = b.si AND a.band_idx = b.band_idx
      |              AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
      |vvf AS (SELECT vcand.d1, vcand.d2,
      |          bit_count(xor(fa.hi, fb.hi)) + bit_count(xor(fa.lo, fb.lo)) AS ham
      |        FROM vcand JOIN fah fa ON fa.doc_id = vcand.d1
      |                   JOIN fah fb ON fb.doc_id = vcand.d2 AND fb.si = fa.si),
      |vag AS (SELECT d1, d2, COUNT(*) AS n_aligned,
      |          CAST(SUM(ham) AS BIGINT) AS ham_total,
      |          CAST(MAX(ham) AS BIGINT) AS ham_max
      |        FROM vvf GROUP BY 1, 2),
      |vidpairs AS (SELECT vag.d1, vag.d2, vag.n_aligned AS n_frames_aligned,
      |          vag.ham_total, vag.ham_max
      |        FROM vag JOIN fcnt c1 ON vag.d1 = c1.doc_id
      |                 JOIN fcnt c2 ON vag.d2 = c2.doc_id
      |        WHERE c1.ns = c2.ns AND vag.n_aligned = c1.ns
      |          AND vag.ham_max <= ${operators.Multimodal.ImgHammingMax})""".stripMargin

  // Audio envelope-hash derivation from the PCM generator in closed form
  // — ends at `aah(doc_id, n, total_abs, peak_abs, n_clipped, sig_hi,
  // sig_lo)` — shared by q138 and the q141/q142 near-dup chain (r13).
  private val audSigCtes: String =
    s"""a AS (SELECT doc_id, doc_id % 2000 + 500 AS n
      |           FROM documents WHERE doc_id % 3 = 1),
      |sm AS (SELECT doc_id, n,
      |         list_transform(range(0, n), i ->
      |           abs((doc_id*131 + i*7919) % 65536 - 32768)) AS s
      |       FROM a),
      |en AS (SELECT doc_id, n,
      |         CAST(list_sum(s) AS BIGINT) AS total_abs,
      |         CAST(list_max(s) AS BIGINT) AS peak_abs,
      |         CAST(len(list_filter(s, x -> x >= 32767)) AS BIGINT) AS n_clipped,
      |         list_transform(range(0, ${operators.Multimodal.AudioWindows}), t ->
      |           CAST(list_sum(list_transform(
      |             range((t*n + 63)//64, ((t+1)*n + 63)//64),
      |             i -> s[CAST(i + 1 AS INT)])) AS BIGINT)) AS e
      |       FROM sm),
      |aah AS (SELECT doc_id, n, total_abs, peak_abs, n_clipped,
      |         CAST(list_sum(list_transform(range(32, 64), t ->
      |           CASE WHEN 64*e[CAST(t+1 AS INT)] >= total_abs
      |                THEN (1::BIGINT << CAST(t - 32 AS INT)) ELSE 0 END)) AS BIGINT) AS sig_hi,
      |         CAST(list_sum(list_transform(range(0, 32), t ->
      |           CASE WHEN 64*e[CAST(t+1 AS INT)] >= total_abs
      |                THEN (1::BIGINT << CAST(t AS INT)) ELSE 0 END)) AS BIGINT) AS sig_lo
      |       FROM en)""".stripMargin

  // Per-FIXED-WINDOW audio prefix signatures derived from the PCM
  // generator in closed form — `awf(doc_id, nw, wi, hi, lo)`, 256-sample
  // windows of 64 four-sample cells under the aHash threshold rule —
  // shared by the q173 pair chain and q174's frozen-index probe.
  private val audWinCtes: String = {
    val w = operators.Multimodal.AudioPrefixWindowSamples
    val cell = w / operators.Multimodal.AudioWindows
    s"""aw AS (SELECT doc_id, doc_id % 2000 + 500 AS n
      |           FROM documents WHERE doc_id % 3 = 1),
      |awn AS (SELECT doc_id, n, n // $w AS nw FROM aw),
      |awin AS (SELECT doc_id, nw, unnest(range(0, nw)) AS wi FROM awn),
      |ace AS (SELECT doc_id, nw, wi,
      |        list_transform(range(0, ${operators.Multimodal.AudioWindows}), t ->
      |          CAST(list_sum(list_transform(range(wi*$w + t*$cell, wi*$w + (t+1)*$cell),
      |            i -> abs((doc_id*131 + i*7919) % 65536 - 32768))) AS BIGINT)) AS e
      |       FROM awin),
      |acs AS (SELECT doc_id, nw, wi, e, CAST(list_sum(e) AS BIGINT) AS sm FROM ace),
      |awf AS (SELECT doc_id, nw, wi,
      |         CAST(list_sum(list_transform(range(32, 64), t ->
      |           CASE WHEN 64*e[CAST(t+1 AS INT)] >= sm
      |                THEN (1::BIGINT << CAST(t - 32 AS INT)) ELSE 0 END)) AS BIGINT) AS hi,
      |         CAST(list_sum(list_transform(range(0, 32), t ->
      |           CASE WHEN 64*e[CAST(t+1 AS INT)] >= sm
      |                THEN (1::BIGINT << CAST(t AS INT)) ELSE 0 END)) AS BIGINT) AS lo
      |        FROM acs)""".stripMargin
  }

  // Dense per-FRAME video aHashes (stride 1, ALL frames — not the q36
  // sampled five) from the pixel generator in closed form —
  // `vaf(doc_id, nf, fi, hi, lo)` — shared by the q147/q148 prefix
  // chains and q175's video-prefix leg (r16: previously inlined in both
  // prefix oracles).
  private val vidDenseCtes: String =
    """va AS (SELECT doc_id, doc_id % 30 + 1 AS nf,
      |             doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h
      |           FROM documents WHERE doc_id % 3 = 2),
      |vafr AS (SELECT doc_id, nf, w, h, unnest(range(0, nf)) AS f FROM va),
      |vfg AS (SELECT doc_id, nf, f, w, h,
      |        list_transform(range(0, 64), t ->
      |          ( (doc_id*131 + f*104729 + (((t//8)*h//8*w + (t%8)*w//8)*3 + 0)*7919)%256
      |          + (doc_id*131 + f*104729 + (((t//8)*h//8*w + (t%8)*w//8)*3 + 1)*7919)%256
      |          + (doc_id*131 + f*104729 + (((t//8)*h//8*w + (t%8)*w//8)*3 + 2)*7919)%256) // 3) AS gr
      |       FROM vafr),
      |vfgs AS (SELECT doc_id, nf, f, gr, CAST(list_sum(gr) AS BIGINT) AS sm FROM vfg),
      |vaf AS (SELECT doc_id, nf, f AS fi,
      |         CAST(list_sum(list_transform(range(32, 64), t ->
      |           CASE WHEN 64*gr[CAST(t+1 AS INT)] >= sm
      |                THEN (1::BIGINT << CAST(t - 32 AS INT)) ELSE 0 END)) AS BIGINT) AS hi,
      |         CAST(list_sum(list_transform(range(0, 32), t ->
      |           CASE WHEN 64*gr[CAST(t+1 AS INT)] >= sm
      |                THEN (1::BIGINT << CAST(t AS INT)) ELSE 0 END)) AS BIGINT) AS lo
      |        FROM vfgs)""".stripMargin

  // q147's frame-0 banding (capped buckets, >=2-member floor) +
  // aligned-prefix verify over vaf — ends at `vpagg(d1, d2,
  // n_frames_1, n_frames_2, n_frames_aligned, ham_total, ham_max)`;
  // the per-frame Hamming cut and direction verdict stay with the
  // consumer (q147 lists verdicts, q175 only needs surviving pairs).
  private val vidPfxPairCtes: String =
    s"""vb0 AS (SELECT doc_id, unnest([
      |         {'band_idx': 0, 'band_val': hi // 65536},
      |         {'band_idx': 1, 'band_val': hi % 65536},
      |         {'band_idx': 2, 'band_val': lo // 65536},
      |         {'band_idx': 3, 'band_val': lo % 65536}]) AS b
      |       FROM vaf WHERE fi = 0),
      |vmem0 AS (SELECT doc_id, b.band_idx AS band_idx, b.band_val AS band_val,
      |          ROW_NUMBER() OVER (PARTITION BY b.band_idx, b.band_val ORDER BY doc_id) AS rn,
      |          COUNT(*) OVER (PARTITION BY b.band_idx, b.band_val) AS n
      |        FROM vb0),
      |vkept0 AS (SELECT * FROM vmem0 WHERE n >= 2 AND rn <= ${operators.Dedup.MaxBucket}),
      |vcand0 AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |          FROM vkept0 a JOIN vkept0 b
      |            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |              AND a.doc_id < b.doc_id),
      |vver AS (SELECT c.d1, c.d2, fa.nf AS nf1, fb.nf AS nf2,
      |          bit_count(xor(fa.hi, fb.hi)) + bit_count(xor(fa.lo, fb.lo)) AS ham
      |        FROM vcand0 c JOIN vaf fa ON fa.doc_id = c.d1
      |                   JOIN vaf fb ON fb.doc_id = c.d2 AND fb.fi = fa.fi),
      |vpagg AS (SELECT d1, d2, CAST(MAX(nf1) AS BIGINT) AS n_frames_1,
      |          CAST(MAX(nf2) AS BIGINT) AS n_frames_2,
      |          COUNT(*) AS n_frames_aligned,
      |          CAST(SUM(ham) AS BIGINT) AS ham_total,
      |          CAST(MAX(ham) AS BIGINT) AS ham_max
      |        FROM vver GROUP BY 1, 2)""".stripMargin

  // q173's window-0 banding + aligned-prefix verify over audWinCtes'
  // awf — ends at `apagg(d1, d2, n_windows_1, n_windows_2,
  // n_windows_aligned, ham_total, ham_max)`. CTE names are ap-prefixed
  // so the fragment composes with audPairCtes (whose amem/akept/acand
  // would otherwise collide) inside the q175 oracle.
  private val audPfxPairCtes: String =
    s"""ab0 AS (SELECT doc_id, unnest([
      |         {'band_idx': 0, 'band_val': hi // 65536},
      |         {'band_idx': 1, 'band_val': hi % 65536},
      |         {'band_idx': 2, 'band_val': lo // 65536},
      |         {'band_idx': 3, 'band_val': lo % 65536}]) AS b
      |       FROM awf WHERE wi = 0),
      |apmem AS (SELECT doc_id, b.band_idx AS band_idx, b.band_val AS band_val,
      |          ROW_NUMBER() OVER (PARTITION BY b.band_idx, b.band_val ORDER BY doc_id) AS rn,
      |          COUNT(*) OVER (PARTITION BY b.band_idx, b.band_val) AS cnt
      |        FROM ab0),
      |apkept AS (SELECT * FROM apmem WHERE cnt >= 2 AND rn <= ${operators.Dedup.MaxBucket}),
      |apcand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |          FROM apkept a JOIN apkept b
      |            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |              AND a.doc_id < b.doc_id),
      |apver AS (SELECT c.d1, c.d2, fa.nw AS nw1, fb.nw AS nw2,
      |          bit_count(xor(fa.hi, fb.hi)) + bit_count(xor(fa.lo, fb.lo)) AS ham
      |        FROM apcand c JOIN awf fa ON fa.doc_id = c.d1
      |                   JOIN awf fb ON fb.doc_id = c.d2 AND fb.wi = fa.wi),
      |apagg AS (SELECT d1, d2, CAST(MAX(nw1) AS BIGINT) AS n_windows_1,
      |          CAST(MAX(nw2) AS BIGINT) AS n_windows_2,
      |          COUNT(*) AS n_windows_aligned,
      |          CAST(SUM(ham) AS BIGINT) AS ham_total,
      |          CAST(MAX(ham) AS BIGINT) AS ham_max
      |        FROM apver GROUP BY 1, 2)""".stripMargin

  // q141's banding + verify over audSigCtes' aah — ends at
  // `audpairs(d1, d2, hamming, n_samples_1, n_samples_2)`.
  private val audPairCtes: String =
    s"""abd AS (SELECT doc_id, sig_hi, sig_lo, CAST(n AS BIGINT) AS ns, unnest([
      |         {'band_idx': 0, 'band_val': sig_hi // 65536},
      |         {'band_idx': 1, 'band_val': sig_hi % 65536},
      |         {'band_idx': 2, 'band_val': sig_lo // 65536},
      |         {'band_idx': 3, 'band_val': sig_lo % 65536}]) AS b
      |       FROM aah),
      |amem AS (SELECT doc_id, sig_hi, sig_lo, ns,
      |          b.band_idx AS band_idx, b.band_val AS band_val,
      |          ROW_NUMBER() OVER (PARTITION BY b.band_idx, b.band_val ORDER BY doc_id) AS rn,
      |          COUNT(*) OVER (PARTITION BY b.band_idx, b.band_val) AS n
      |        FROM abd),
      |akept AS (SELECT * FROM amem WHERE n >= 2 AND rn <= ${operators.Dedup.MaxBucket}),
      |acand AS (SELECT DISTINCT a.doc_id AS d1, a.sig_hi AS hi1, a.sig_lo AS lo1, a.ns AS ns1,
      |                 b.doc_id AS d2, b.sig_hi AS hi2, b.sig_lo AS lo2, b.ns AS ns2
      |          FROM akept a JOIN akept b
      |            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |              AND a.doc_id < b.doc_id),
      |audpairs AS (SELECT d1, d2,
      |    CAST(bit_count(xor(hi1, hi2)) + bit_count(xor(lo1, lo2)) AS BIGINT) AS hamming,
      |    ns1 AS n_samples_1, ns2 AS n_samples_2
      |  FROM acand
      |  WHERE bit_count(xor(hi1, hi2)) + bit_count(xor(lo1, lo2))
      |    <= ${operators.Multimodal.ImgHammingMax})""".stripMargin

  private val q128Ctes: String =
    s"""p AS (SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h
      |           FROM documents WHERE doc_id % 3 = 0),
      |g AS (SELECT doc_id,
      |        list_transform(range(0, 64), t ->
      |          ( (doc_id*131 + (((t//8)*h//8*w + (t%8)*w//8)*3 + 0)*7919)%256
      |          + (doc_id*131 + (((t//8)*h//8*w + (t%8)*w//8)*3 + 1)*7919)%256
      |          + (doc_id*131 + (((t//8)*h//8*w + (t%8)*w//8)*3 + 2)*7919)%256) // 3) AS gr
      |      FROM p),
      |gs AS (SELECT doc_id, gr, CAST(list_sum(gr) AS BIGINT) AS s FROM g),
      |ah AS (SELECT doc_id,
      |         CAST(list_sum(list_transform(range(32, 64), t ->
      |           CASE WHEN 64*gr[CAST(t+1 AS INT)] >= s
      |                THEN (1::BIGINT << CAST(t - 32 AS INT)) ELSE 0 END)) AS BIGINT) AS hi,
      |         CAST(list_sum(list_transform(range(0, 32), t ->
      |           CASE WHEN 64*gr[CAST(t+1 AS INT)] >= s
      |                THEN (1::BIGINT << CAST(t AS INT)) ELSE 0 END)) AS BIGINT) AS lo
      |       FROM gs),
      |bd AS (SELECT doc_id, hi, lo, unnest([
      |         {'band_idx': 0, 'band_val': hi // 65536},
      |         {'band_idx': 1, 'band_val': hi % 65536},
      |         {'band_idx': 2, 'band_val': lo // 65536},
      |         {'band_idx': 3, 'band_val': lo % 65536}]) AS b
      |       FROM ah),
      |mem AS (SELECT doc_id, hi, lo, b.band_idx AS band_idx, b.band_val AS band_val,
      |          ROW_NUMBER() OVER (PARTITION BY b.band_idx, b.band_val ORDER BY doc_id) AS rn,
      |          COUNT(*) OVER (PARTITION BY b.band_idx, b.band_val) AS n
      |        FROM bd),
      |kept AS (SELECT * FROM mem WHERE n >= 2 AND rn <= ${operators.Dedup.MaxBucket}),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, a.hi AS hi1, a.lo AS lo1,
      |                b.doc_id AS d2, b.hi AS hi2, b.lo AS lo2
      |         FROM kept a JOIN kept b
      |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
      |imgpairs AS (SELECT d1, d2,
      |    CAST(bit_count(xor(hi1, hi2)) + bit_count(xor(lo1, lo2)) AS BIGINT) AS hamming
      |  FROM cand
      |  WHERE bit_count(xor(hi1, hi2)) + bit_count(xor(lo1, lo2)) <= ${operators.Multimodal.ImgHammingMax})""".stripMargin

  /** q135's oracle: the q28 posting-list CTEs up to pair intersections
    * and sizes, projected to the asymmetric containment statistic. */
  private val q135Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |              WHERE len(string_split_regex(text, '\\s+')) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |              unnest(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |       FROM toks),
      |dfq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
      |k AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfq ON sh.s = dfq.s WHERE dfq.df <= ${operators.Dedup.MaxShingleDf}),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM k GROUP BY 1),
      |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      |       FROM k a JOIN k b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |c AS (SELECT d1, d2, CAST(inter AS BIGINT) AS inter,
      |        CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
      |        (1000 * CAST(inter AS BIGINT)) // CAST(s1.n AS BIGINT) AS cont1_permille,
      |        (1000 * CAST(inter AS BIGINT)) // CAST(s2.n AS BIGINT) AS cont2_permille
      |      FROM pr JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id)
      |SELECT d1, d2, inter, n1, n2, cont1_permille, cont2_permille,
      |  CASE WHEN cont1_permille >= ${operators.Dedup.ContainmentPermille}
      |        AND cont2_permille >= ${operators.Dedup.ContainmentPermille} THEN 'mutual'
      |       WHEN cont1_permille >= ${operators.Dedup.ContainmentPermille} THEN 'd1_in_d2'
      |       ELSE 'd2_in_d1' END AS relation
      |FROM c
      |WHERE greatest(cont1_permille, cont2_permille) >= ${operators.Dedup.ContainmentPermille}
      |ORDER BY d1, d2""".stripMargin

  /** The q29c portable-MinHash CTE chain (shingles → md5 hashes → 64
    * permutation minima → 16×4 band keys → capped buckets → candidate
    * pairs → signature-estimated Jaccard in `est`), shared by the q29c
    * oracle and q99's calibration oracle. */
  private val q29cCtes: String =
    (s"""toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |              WHERE len(string_split_regex(text, '\\s+')) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |              unnest(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |       FROM toks),
      |hx AS (SELECT doc_id,
      |         CAST(list_sum(list_transform(range(1, 9), i ->
      |           (strpos('0123456789abcdef', substr(md5(s), CAST(i AS INT), 1)) - 1) * CAST(16**(8-i) AS BIGINT)
      |         )) AS BIGINT) AS x
      |       FROM sh),
      |sig AS (SELECT doc_id, ii.i AS perm_idx, MIN((PERMA[CAST(ii.i AS INT)]*x + PERMB[CAST(ii.i AS INT)]) % 4294967291) AS sig_value
      |        FROM hx CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii
      |        GROUP BY 1, 2),
      |bk AS (SELECT doc_id, CAST((perm_idx - 1) // 4 AS BIGINT) AS band_idx,
      |         MIN(CASE WHEN (perm_idx - 1) % 4 = 0 THEN sig_value END) AS s0,
      |         MIN(CASE WHEN (perm_idx - 1) % 4 = 1 THEN sig_value END) AS s1,
      |         MIN(CASE WHEN (perm_idx - 1) % 4 = 2 THEN sig_value END) AS s2,
      |         MIN(CASE WHEN (perm_idx - 1) % 4 = 3 THEN sig_value END) AS s3
      |       FROM sig GROUP BY 1, 2),
      |bkey AS (SELECT doc_id, band_idx,
      |           ((((((s0 % 1000000007) * 1000003 + (s1 % 1000000007)) % 1000000007)
      |               * 1000003 + (s2 % 1000000007)) % 1000000007)
      |               * 1000003 + (s3 % 1000000007)) % 1000000007 AS band_key
      |         FROM bk),
      |mem AS (SELECT doc_id, band_idx, band_key,
      |          ROW_NUMBER() OVER (PARTITION BY band_idx, band_key ORDER BY doc_id) AS rn,
      |          COUNT(*) OVER (PARTITION BY band_idx, band_key) AS n
      |        FROM bkey),
      |kept AS (SELECT * FROM mem WHERE n >= 2 AND rn <= ${operators.Dedup.MaxBucket}),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |         FROM kept a JOIN kept b
      |           ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |est AS (SELECT d1, d2,
      |          ROUND(CAST(SUM(CASE WHEN s1.sig_value = s2.sig_value THEN 1 ELSE 0 END) AS DOUBLE)/64, 6) AS est_jaccard
      |        FROM cand
      |        JOIN sig s1 ON s1.doc_id = d1
      |        JOIN sig s2 ON s2.doc_id = d2 AND s2.perm_idx = s1.perm_idx
      |        GROUP BY 1, 2)""".stripMargin
      .replace("PERMA", graft.operators.Dedup.permALiteral)
      .replace("PERMB", graft.operators.Dedup.permBLiteral))

  /** q34b's full banded sign-LSH chain in DuckDB SQL (8 bands × 3 fixed
    * hyperplanes with the DECIMAL-exact dot so the sign bits match
    * Spark's; buckets capped at Dedup.MaxBucket smallest vec_ids;
    * distinct candidates; exact decimal cosine), ending at
    * `s(v1, v2, cos_sim)` — callers append their own SELECT tail.
    * Shared by the q34b pair oracle and the q160 isolation oracle. */
  private val embLshChainSql: String =
    (s"""WITH pl AS (SELECT PLANES AS p),
      |bits AS (
      |  SELECT e.vec_id, bb.b AS band_idx,
      |    CAST(list_sum(list_transform(range(0, 3), j ->
      |      CASE WHEN CAST(ROUND(list_sum(list_transform(range(1, 65), i ->
      |             CAST(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
      |                  * (pl.p)[CAST(bb.b*3 + j + 1 AS INT)][CAST(i AS INT)] AS DECIMAL(18,12)))), 12) AS DOUBLE) >= 0
      |           THEN (1 << CAST(j AS INT)) ELSE 0 END)) AS BIGINT) AS band_key
      |  FROM embeddings e CROSS JOIN pl CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bb),
      |mem AS (SELECT vec_id, band_idx, band_key,
      |          ROW_NUMBER() OVER (PARTITION BY band_idx, band_key ORDER BY vec_id) AS rn,
      |          COUNT(*) OVER (PARTITION BY band_idx, band_key) AS n
      |        FROM bits),
      |kept AS (SELECT * FROM mem WHERE n >= 2 AND rn <= ${operators.Dedup.MaxBucket}),
      |cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
      |         FROM kept a JOIN kept b
      |           ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.vec_id < b.vec_id),
      |nr AS (
      |  SELECT vec_id, sqrt(CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)) AS nrm
      |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
      |w AS (SELECT e.vec_id, e.embedding, nr.nrm FROM embeddings e JOIN nr ON e.vec_id = nr.vec_id),
      |u AS (SELECT c.v1, c.v2, a.nrm AS n1, b.nrm AS n2, unnest(a.embedding) AS x, unnest(b.embedding) AS y
      |      FROM cand c JOIN w a ON a.vec_id = c.v1 JOIN w b ON b.vec_id = c.v2),
      |s AS (SELECT v1, v2,
      |        CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
      |          / (any_value(n1) * any_value(n2)) AS cos_sim
      |      FROM u GROUP BY v1, v2)""".stripMargin
      .replace("PLANES", operators.Similarity.ndPlanesSqlLiteral))

  // q90's composite gate — shared verbatim by the q118 rejection
  // breakdown (CTE) and the q90 entry itself, the q116 composition rule.
  private val curationGateOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t FROM documents),
        |model AS (SELECT t, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df FROM toks
        |          WHERE (doc_id * 2654435761) % 100 >= 20 GROUP BY 1),
        |tot AS (SELECT CAST(length(bin(CAST(SUM(cnt) AS BIGINT))) - 1 AS BIGINT) AS bits_total FROM model),
        |sc AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |         CAST(SUM(CASE WHEN COALESCE(df, 0) < ${operators.TextAnalysis.MinDf} THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |         CAST(SUM(bits_total - (length(bin(COALESCE(cnt, 1))) - 1)) AS BIGINT) AS sum_bits
        |       FROM toks LEFT JOIN model USING (t) CROSS JOIN tot GROUP BY 1),
        |tc AS (SELECT doc_id, MAX(c) AS top_tok_cnt FROM
        |         (SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY 1, 2) GROUP BY 1),
        |j AS (SELECT s.doc_id, s.n_tokens, tc.top_tok_cnt,
        |        (1000 * s.n_oov) // s.n_tokens AS oov_permille,
        |        (100 * s.sum_bits) // s.n_tokens AS bits_x100
        |      FROM sc s JOIN tc ON s.doc_id = tc.doc_id)
        |SELECT doc_id, n_tokens, CAST(top_tok_cnt AS BIGINT) AS top_tok_cnt, oov_permille, bits_x100,
        |  CAST(CASE WHEN n_tokens < ${operators.TextAnalysis.GateMinTokens} THEN 1 ELSE 0 END
        |     + CASE WHEN top_tok_cnt * ${operators.TextAnalysis.GateTopTokenDiv} > n_tokens THEN 2 ELSE 0 END
        |     + CASE WHEN oov_permille > ${operators.TextAnalysis.GateMaxOovPermille} THEN 4 ELSE 0 END
        |     + CASE WHEN bits_x100 > ${operators.TextAnalysis.GateMaxBitsX100} THEN 8 ELSE 0 END AS BIGINT) AS fail_mask,
        |  (CASE WHEN n_tokens < ${operators.TextAnalysis.GateMinTokens} THEN 1 ELSE 0 END
        |     + CASE WHEN top_tok_cnt * ${operators.TextAnalysis.GateTopTokenDiv} > n_tokens THEN 2 ELSE 0 END
        |     + CASE WHEN oov_permille > ${operators.TextAnalysis.GateMaxOovPermille} THEN 4 ELSE 0 END
        |     + CASE WHEN bits_x100 > ${operators.TextAnalysis.GateMaxBitsX100} THEN 8 ELSE 0 END) = 0 AS keep
        |FROM j ORDER BY doc_id""".stripMargin

  // q75's integer-exact BM25 — shared verbatim by the q126 retrieval
  // eval (CTE) and the q75 entry itself, the q116 composition rule.
  private val bm25OracleSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
        |st AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS total_dl, COUNT(*) AS n_docs FROM toks),
        |ex AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM ex
        |       WHERE term IN (${operators.TextAnalysis.Bm25QueryTerms.map("'" + _ + "'").mkString(", ")})
        |       GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT t.doc_id, t.tf, t.dl,
        |         ((s.n_docs + 1) * 1000000 // (d.df + 1))
        |           * ((t.tf * 2200 * 1000) //
        |              (1000*t.tf + 300 + (900*t.dl*1000) // (s.total_dl*1000 // s.n_docs))) AS term_score
        |       FROM tf t JOIN dfq d USING (term) CROSS JOIN st s),
        |agg AS (SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score,
        |          COUNT(*) AS n_terms_matched, MAX(dl) AS dl
        |        FROM sc GROUP BY 1),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank FROM agg)
        |SELECT rank, doc_id, score, n_terms_matched, dl FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin

  // Drift monitors (q111 token / q112 embedding / q115 source) — each
  // also a CTE fragment of the q116 monitor-panel oracle. The drift
  // statistics are computed in DECIMAL(38,0) (exact) but PROJECTED as
  // canonical digit strings: DECIMAL(38,0) cells hash engine-unstably
  // at the driver gate (r10 — values replayed identical, hashes did
  // not), while digit strings are byte-identical everywhere. Ordering
  // stays on the decimal so top-k remains numeric.
  private val tokenDriftOracleSql: String =
    """WITH tp AS (SELECT doc_id % 10 = 9 AS is_batch,
        |              unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
        |h AS (SELECT tok,
        |        SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS cnt_batch,
        |        SUM(CASE WHEN is_batch THEN 0 ELSE 1 END) AS cnt_hist
        |      FROM tp GROUP BY 1),
        |t AS (SELECT SUM(cnt_batch) AS n_batch, SUM(cnt_hist) AS n_hist FROM h),
        |x AS (SELECT tok, CAST(cnt_batch AS BIGINT) AS cnt_batch,
        |        CAST(cnt_hist AS BIGINT) AS cnt_hist,
        |        CAST(t.n_batch AS BIGINT) AS n_batch, CAST(t.n_hist AS BIGINT) AS n_hist,
        |        CAST(abs(CAST(cnt_batch AS DECIMAL(19,0)) * CAST(t.n_hist AS DECIMAL(19,0))
        |               - CAST(cnt_hist AS DECIMAL(19,0)) * CAST(t.n_batch AS DECIMAL(19,0)))
        |             AS DECIMAL(38,0)) AS drift_x
        |      FROM h, t)
        |SELECT tok, cnt_batch, cnt_hist, n_batch, n_hist,
        |  CAST(drift_x AS VARCHAR) AS drift
        |FROM x
        |ORDER BY drift_x DESC, tok LIMIT 25""".stripMargin

  private val embeddingDriftOracleSql: String =
    """WITH e0 AS (SELECT vec_id % 10 = 9 AS is_batch, label,
        |              unnest(list_transform(embedding,
        |                (v, i) -> struct_pack(dim := i, v := v))) AS z
        |            FROM embeddings),
        |e AS (SELECT is_batch, label, CAST(z.dim AS BIGINT) AS dim,
        |             CAST(floor(CAST(z.v AS DOUBLE) * 1e12) AS BIGINT) AS vf
        |           FROM e0),
        |c AS (SELECT label,
        |        SUM(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END) AS n_batch,
        |        SUM(CASE WHEN vec_id % 10 = 9 THEN 0 ELSE 1 END) AS n_hist
        |      FROM embeddings GROUP BY 1),
        |d AS (SELECT label, CAST(dim AS BIGINT) AS dim,
        |        SUM(CASE WHEN is_batch THEN vf ELSE 0 END) AS sum_b,
        |        SUM(CASE WHEN is_batch THEN 0 ELSE vf END) AS sum_h
        |      FROM e GROUP BY 1, 2),
        |dr AS (SELECT d.label, d.dim,
        |         abs(CAST(sum_b AS DECIMAL(30,0)) * CAST(n_hist AS DECIMAL(7,0))
        |           - CAST(sum_h AS DECIMAL(30,0)) * CAST(n_batch AS DECIMAL(7,0))) AS drift_dim
        |       FROM d JOIN c ON d.label = c.label),
        |r AS (SELECT label, dim, drift_dim,
        |        ROW_NUMBER() OVER (PARTITION BY label ORDER BY drift_dim DESC, dim ASC) AS rn
        |      FROM dr),
        |a AS (SELECT label, SUM(drift_dim) AS l1 FROM dr GROUP BY 1)
        |SELECT CAST(c.label AS BIGINT) AS label, CAST(c.n_batch AS BIGINT) AS n_batch,
        |  CAST(c.n_hist AS BIGINT) AS n_hist,
        |  CAST(CAST(a.l1 AS DECIMAL(38,0)) AS VARCHAR) AS l1_drift,
        |  CAST(r.dim AS BIGINT) AS top_dim,
        |  CAST(CAST(r.drift_dim AS DECIMAL(38,0)) AS VARCHAR) AS top_dim_drift
        |FROM c JOIN a ON c.label = a.label JOIN r ON c.label = r.label AND r.rn = 1
        |ORDER BY label""".stripMargin

  private val sourceDriftOracleSql: String =
    """WITH p AS (SELECT source,
        |        SUM(CASE WHEN doc_id % 10 = 9 THEN 1 ELSE 0 END) AS docs_batch,
        |        SUM(CASE WHEN doc_id % 10 = 9 THEN 0 ELSE 1 END) AS docs_hist,
        |        SUM(CASE WHEN doc_id % 10 = 9 THEN n_chars ELSE 0 END) AS chars_batch,
        |        SUM(CASE WHEN doc_id % 10 = 9 THEN 0 ELSE n_chars END) AS chars_hist
        |      FROM documents GROUP BY 1),
        |t AS (SELECT SUM(docs_batch) AS n_batch, SUM(docs_hist) AS n_hist FROM p)
        |SELECT source, CAST(docs_batch AS BIGINT) AS docs_batch,
        |  CAST(docs_hist AS BIGINT) AS docs_hist,
        |  CAST(t.n_batch AS BIGINT) AS n_batch, CAST(t.n_hist AS BIGINT) AS n_hist,
        |  CAST(CAST(abs(CAST(docs_batch AS DECIMAL(19,0)) * CAST(t.n_hist AS DECIMAL(19,0))
        |         - CAST(docs_hist AS DECIMAL(19,0)) * CAST(t.n_batch AS DECIMAL(19,0)))
        |       AS DECIMAL(38,0)) AS VARCHAR) AS share_drift,
        |  CAST(CAST(abs(CAST(chars_batch AS DECIMAL(19,0)) * CAST(docs_hist AS DECIMAL(19,0))
        |         - CAST(chars_hist AS DECIMAL(19,0)) * CAST(docs_batch AS DECIMAL(19,0)))
        |       AS DECIMAL(38,0)) AS VARCHAR) AS len_drift
        |FROM p, t
        |ORDER BY source""".stripMargin

  // Intra-doc run collapse (q108 + its SQL-text twin q114):
  // gaps-and-islands run ids (i - rn over (doc, tok)) -> position-in-run;
  // kept = pos <= 2, rebuilt with an ordered string_agg; run stats from
  // the run-length table.
  private val runCollapseOracleSql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(text, '\s+') AS ts FROM documents),
        |tp AS (SELECT doc_id, unnest(ts) AS tok, unnest(range(1, len(ts)+1)) AS i FROM d),
        |r AS (SELECT doc_id, i, tok,
        |        i - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp
        |      FROM tp),
        |p AS (SELECT doc_id, i, tok, grp,
        |        ROW_NUMBER() OVER (PARTITION BY doc_id, tok, grp ORDER BY i) AS pos
        |      FROM r),
        |runs AS (SELECT doc_id, tok, grp, COUNT(*) AS run_len FROM p GROUP BY 1, 2, 3),
        |ragg AS (SELECT doc_id, MAX(run_len) AS max_run,
        |           COALESCE(SUM(CASE WHEN run_len > 2 THEN run_len - 2 END), 0) AS n_dropped,
        |           COALESCE(SUM(CASE WHEN run_len > 2 THEN 1 END), 0) AS n_runs_collapsed
        |         FROM runs GROUP BY 1),
        |clean AS (SELECT doc_id, COUNT(*) AS n_tokens_clean,
        |            string_agg(tok, ' ' ORDER BY i) AS text_clean
        |          FROM p WHERE pos <= 2 GROUP BY 1)
        |SELECT d.doc_id, CAST(len(d.ts) AS BIGINT) AS n_tokens,
        |  CAST(c.n_tokens_clean AS BIGINT) AS n_tokens_clean,
        |  CAST(a.n_dropped AS BIGINT) AS n_dropped,
        |  CAST(a.n_runs_collapsed AS BIGINT) AS n_runs_collapsed,
        |  CAST(a.max_run AS BIGINT) AS max_run,
        |  c.text_clean
        |FROM d LEFT JOIN ragg a USING (doc_id) LEFT JOIN clean c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin

  // Column profile (q109 + its incremental twin q113): generated from
  // Profiling.ProfiledColumns — see Profiling.oracleSql for the
  // per-column template and tie-break notes.
  private val profileOracleSql: String = operators.Profiling.oracleSql

  /** Shared oracle for q33 (DataFrame API) and q102 (pure spark.sql text
    * over embeddings_v) — brute-force cosine top-5 with the exact-decimal
    * dot product, the ANN-baseline contract both API surfaces must hit. */
  private val knnBruteOracleSql: String =
    """WITH nr AS (
      |  SELECT vec_id, sqrt(CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)) AS nrm
      |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
      |q AS (SELECT e.vec_id AS q_id, e.embedding AS qe, nr.nrm AS qn
      |      FROM embeddings e JOIN nr ON e.vec_id = nr.vec_id WHERE e.vec_id <= 4),
      |c AS (SELECT e.vec_id AS n_id, e.embedding AS ne, nr.nrm AS nn
      |      FROM embeddings e JOIN nr ON e.vec_id = nr.vec_id),
      |u AS (SELECT q_id, n_id, qn, nn, unnest(qe) AS x, unnest(ne) AS y
      |      FROM q JOIN c ON q_id <> n_id),
      |s AS (SELECT q_id, n_id,
      |        CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
      |          / (any_value(qn) * any_value(nn)) AS cos_sim
      |      FROM u GROUP BY q_id, n_id),
      |r AS (SELECT q_id, n_id, cos_sim,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS rank
      |      FROM s)
      |SELECT q_id, n_id, cos_sim, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Shared oracle for q31 (DataFrame API) and q101 (pure spark.sql text
    * over the registered native functions) — identical output contract,
    * one definition. Banded Hamming pairs with the same MaxBucket cap as
    * the Spark side: buckets keep their MaxBucket smallest doc_ids. */
  private val simhashPairsOracleSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t FROM documents),
      |h AS (SELECT doc_id, md5(t) AS m FROM tok),
      |bits AS (
      |  SELECT doc_id, pp.p AS p, bb.b AS b,
      |    CASE WHEN SUM(CASE WHEN ((strpos('0123456789abcdef', substr(m, CAST(pp.p AS INT), 1)) - 1)
      |                             // (1 << CAST(bb.b AS INT))) % 2 = 1 THEN 1 ELSE -1 END) >= 0
      |         THEN 1 ELSE 0 END AS bit
      |  FROM h CROSS JOIN (SELECT unnest(range(1, 17)) AS p) pp CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb
      |  GROUP BY 1, 2, 3),
      |digits AS (SELECT doc_id, p, CAST(SUM(bit * (1 << CAST(b AS INT))) AS INT) AS d FROM bits GROUP BY 1, 2),
      |sh AS (SELECT doc_id, string_agg(substr('0123456789abcdef', d + 1, 1), '' ORDER BY p) AS simhash
      |       FROM digits GROUP BY doc_id),
      |banded AS (SELECT doc_id, simhash, bb.b AS band_idx, substr(simhash, CAST(bb.b*4 + 1 AS INT), 4) AS band_val,
      |             ROW_NUMBER() OVER (PARTITION BY bb.b, substr(simhash, CAST(bb.b*4 + 1 AS INT), 4) ORDER BY doc_id) AS rn,
      |             COUNT(*) OVER (PARTITION BY bb.b, substr(simhash, CAST(bb.b*4 + 1 AS INT), 4)) AS n
      |           FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb),
      |kept AS (SELECT * FROM banded WHERE n >= 2 AND rn <= ${operators.Dedup.MaxBucket}),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2, a.simhash AS h1, b2.simhash AS h2
      |         FROM kept a JOIN kept b2
      |           ON a.band_idx = b2.band_idx AND a.band_val = b2.band_val AND a.doc_id < b2.doc_id),
      |ham AS (SELECT d1, d2,
      |  CAST(list_sum(list_transform(range(1, 17), p -> bit_count(xor(
      |      strpos('0123456789abcdef', substr(h1, CAST(p AS INT), 1)) - 1,
      |      strpos('0123456789abcdef', substr(h2, CAST(p AS INT), 1)) - 1)))) AS BIGINT) AS hamming
      |  FROM cand)
      |SELECT d1, d2, hamming FROM ham WHERE hamming <= 6 ORDER BY d1, d2""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_busiest_user" ->
      """WITH c AS (
        |  SELECT CAST(FLOOR(EPOCH(ts)/2678400)*2678400 AS BIGINT) AS w_start, user_id, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT w_start, user_id, cnt FROM (
        |  SELECT w_start, user_id, cnt,
        |         ROW_NUMBER() OVER (PARTITION BY w_start ORDER BY cnt DESC, user_id DESC) AS rn
        |  FROM c) t
        |WHERE rn = 1 ORDER BY w_start""".stripMargin,
    "q2_unique_users" ->
      """SELECT CAST(FLOOR(EPOCH(ts)/2678400)*2678400 AS BIGINT) AS w_start,
        |       COUNT(DISTINCT user_id) AS uniq_users
        |FROM events GROUP BY 1 ORDER BY w_start""".stripMargin,
    // q2b error-band oracle (r13): the exact leg is reproduced; the HLL
    // estimate is Spark-internal, so the oracle pins its 10%-band verdict
    // literal TRUE — the hash matches iff the sketch actually landed in
    // band (the q99-calibration gating pattern for sketch twins).
    "q2b_unique_users_approx" ->
      """SELECT CAST(FLOOR(EPOCH(ts)/2678400)*2678400 AS BIGINT) AS w_start,
        |       COUNT(DISTINCT user_id) AS uniq_users_exact,
        |       TRUE AS hll_within_10pct
        |FROM events GROUP BY 1 ORDER BY w_start""".stripMargin,
    "q3_avg_value" ->
      """SELECT CAST(FLOOR(EPOCH(ts)/2678400)*2678400 AS BIGINT) AS w_start,
        |       CAST(FLOOR(CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS BIGINT) AS avg_value_floor,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY w_start""".stripMargin,
    "q4_global_parity" ->
      """WITH per_user AS (
        |  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
        |top AS (
        |  SELECT user_id AS busiest_user, cnt AS busiest_cnt FROM per_user
        |  ORDER BY cnt DESC, user_id DESC LIMIT 1),
        |g AS (
        |  SELECT COUNT(DISTINCT user_id) AS uniq_users,
        |         CAST(FLOOR(CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS BIGINT) AS avg_value_floor,
        |         COUNT(*) AS n_events
        |  FROM events)
        |SELECT busiest_user, busiest_cnt, uniq_users, avg_value_floor, n_events FROM top, g""".stripMargin,
    "q5_sliding_activity" ->
      """WITH e AS (SELECT CAST(FLOOR(EPOCH(ts)/86400) AS BIGINT) AS d, user_id FROM events),
        |x AS (SELECT (d - s.i)*86400 AS w_start, user_id
        |      FROM e CROSS JOIN (SELECT unnest(range(0,7)) AS i) s)
        |SELECT w_start, COUNT(*) AS cnt, COUNT(DISTINCT user_id) AS uniq_users
        |FROM x GROUP BY 1 ORDER BY w_start""".stripMargin,
    "q6_session_stats" ->
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, us,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT user_id, MIN(us) AS sess_start_us, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sess_start_us""".stripMargin,
    "q7_first_event_per_user" ->
      """SELECT user_id, event_id AS first_event_id, epoch_us(ts) AS first_ts_us,
        |       event_type AS first_event_type
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |      FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q8_json_props_sum" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(regexp_extract(props, '"k": *(-?\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q10_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_charge,
        |  ROUND(CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(18,4))), 4) AS DOUBLE)/COUNT(*), 6) AS avg_disc,
        |  CAST(FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)) AS BIGINT) AS avg_qty_floor,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q11_revenue_by_nation" ->
      """SELECT r_name, n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o_orderkey) AS n_orders,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q12_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q13_priority_top3" ->
      """SELECT o_orderpriority, rank_in_priority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_priority,
        |         o_orderkey, o_totalprice
        |  FROM orders) t
        |WHERE rank_in_priority <= 3 ORDER BY o_orderpriority, rank_in_priority""".stripMargin,
    "q14_rollup_returns" ->
      """SELECT CASE WHEN GROUPING(l_returnflag)=1 THEN '(all)' ELSE l_returnflag END AS returnflag,
        |       CASE WHEN GROUPING(l_linestatus)=1 THEN '(all)' ELSE l_linestatus END AS linestatus,
        |       COUNT(*) AS n,
        |       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q15_set_ops" ->
      """SELECT c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT
        |  SELECT c_custkey FROM customer WHERE c_acctbal < 0
        |) t ORDER BY c_custkey""".stripMargin,
    "q16_customers_without_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q17_customers_with_open_orders" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q18_orders_per_month" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |       regexp_replace(o_orderpriority, '^\d-', '') AS priority,
        |       COUNT(*) AS n_orders,
        |       COUNT(DISTINCT o_custkey) AS n_customers,
        |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1,2 ORDER BY month, priority""".stripMargin,
    "q19_status_by_year" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(SUM(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |  CAST(SUM(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |  CAST(SUM(CASE WHEN o_orderstatus='P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
        |  COUNT(*) AS n_total
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin,
    "q20_above_avg_parts" ->
      """SELECT p_brand, COUNT(*) AS n_above, MIN(p_partkey) AS min_partkey
        |FROM part
        |WHERE p_retailprice > (SELECT CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(18,2))), 2) AS DOUBLE)/COUNT(*) FROM part)
        |GROUP BY 1 ORDER BY p_brand""".stripMargin,
    "q39_merge_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_items, COUNT(DISTINCT o_orderkey) AS n_orders,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q40_cube_orders" ->
      """SELECT CASE WHEN GROUPING(o_orderstatus)=1 THEN '(all)' ELSE o_orderstatus END AS status,
        |       CASE WHEN GROUPING(o_orderpriority)=1 THEN '(all)' ELSE o_orderpriority END AS priority,
        |       COUNT(*) AS n,
        |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q42_salted_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o_orderkey) AS n_orders,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // Differential salting: plan differs (hot minority salted, cold
    // majority plain), result must not — same oracle as q42/q11.
    "q107_salted_differential" ->
      """SELECT r_name, n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o_orderkey) AS n_orders,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q43_deterministic_sample" ->
      """SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
        |  CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
        |FROM documents WHERE (doc_id * 2654435761) % 100 < 20
        |GROUP BY 1 ORDER BY lang""".stripMargin,
    // Gopher-style repetition metrics. Tie-break parity: Spark keeps the
    // first maximal run in ascending sort order = the lexicographically
    // smallest token among equal counts; mirrored by ORDER BY cnt DESC,
    // tok ASC here. Single-token docs have no bigrams -> COALESCE(cnt, 0)
    // and a NULL top bigram on both sides.
    "q64_repetition_metrics" ->
      """WITH d AS (SELECT doc_id, string_split_regex(text, '\s+') AS ts FROM documents),
        |ucnt AS (SELECT doc_id, tok, COUNT(*) AS cnt
        |         FROM (SELECT doc_id, unnest(ts) AS tok FROM d) GROUP BY 1, 2),
        |utop AS (SELECT doc_id, tok, cnt FROM
        |           (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok ASC) AS rn FROM ucnt)
        |         WHERE rn = 1),
        |bcnt AS (SELECT doc_id, bg, COUNT(*) AS cnt
        |         FROM (SELECT doc_id,
        |                 unnest(list_transform(range(1, CAST(greatest(len(ts), 1) AS BIGINT)),
        |                                       i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)])) AS bg
        |               FROM d) GROUP BY 1, 2),
        |btop AS (SELECT doc_id, bg, cnt FROM
        |           (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg ASC) AS rn FROM bcnt)
        |         WHERE rn = 1)
        |SELECT d.doc_id, CAST(len(d.ts) AS BIGINT) AS n_tokens,
        |  u.tok AS top_token, CAST(u.cnt AS BIGINT) AS top_token_cnt,
        |  b.bg AS top_bigram, CAST(COALESCE(b.cnt, 0) AS BIGINT) AS top_bigram_cnt,
        |  (u.cnt * 5 <= len(d.ts) AND COALESCE(b.cnt, 0) * 10 <= greatest(len(d.ts) - 1, 1)
        |    AND len(d.ts) >= 20) AS keep
        |FROM d JOIN utop u USING (doc_id) LEFT JOIN btop b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Train/eval decontamination: 8-token shingles, q43's hash split.
    // The train side is DISTINCT so the left join cannot amplify.
    "q65_eval_contamination" ->
      """WITH d AS (SELECT doc_id, string_split_regex(text, '\s+') AS ts FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_transform(range(1, CAST(greatest(len(ts) - 6, 1) AS BIGINT)),
        |                               i -> array_to_string(ts[CAST(i AS INT):CAST(i + 7 AS INT)], ' '))) AS shingle
        |       FROM d WHERE len(ts) >= 8),
        |ev AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE (doc_id * 2654435761) % 100 < 20),
        |tr AS (SELECT DISTINCT shingle FROM sh WHERE (doc_id * 2654435761) % 100 >= 20)
        |SELECT e.doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_shingles,
        |  (SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END) * 5 >= COUNT(*)) AS contaminated
        |FROM ev e LEFT JOIN tr t USING (shingle)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // PII scrub: the injection CASE re-derives the identical PII-bearing
    // corpus (pure functions of doc_id), then RE2 counts/redacts with the
    // same portable regexes ('g' = replace-all, Spark's default).
    "q66_pii_redaction" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ||
        |         CASE WHEN doc_id % 8 = 0 THEN ' or admin' || CAST(doc_id AS VARCHAR) || '@example.org' ELSE '' END
        |       WHEN doc_id % 4 = 1 THEN text || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
        |         CAST((doc_id * 7) % 256 AS VARCHAR) || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) || ' logged'
        |       WHEN doc_id % 4 = 2 THEN text || ' call 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' today'
        |       ELSE text END AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(txt, '\b555-\d{4}\b')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(txt,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b555-\d{4}\b', '<PHONE>', 'g') AS redacted
        |FROM t ORDER BY doc_id""".stripMargin,
    // Snapshot diff: both versions are pure functions of event_id; +1.0 is
    // an exact IEEE op so updated doubles are bit-identical cross-engine.
    "q67_snapshot_diff" ->
      """WITH ev AS (SELECT event_id, event_type, value FROM events),
        |p AS (SELECT event_id, event_type AS old_type, value AS old_value FROM ev WHERE event_id % 10 <> 7),
        |n AS (SELECT event_id, event_type AS new_type,
        |        CASE WHEN event_id % 5 = 0 THEN value + 1.0 ELSE value END AS new_value
        |      FROM ev WHERE event_id % 10 <> 3)
        |SELECT COALESCE(p.event_id, n.event_id) AS event_id,
        |  CASE WHEN n.new_type IS NULL THEN 'D' WHEN p.old_type IS NULL THEN 'I' ELSE 'U' END AS change,
        |  p.old_value AS old_value, n.new_value AS new_value
        |FROM p FULL OUTER JOIN n ON p.event_id = n.event_id
        |WHERE n.new_type IS NULL OR p.old_type IS NULL
        |   OR p.old_value <> n.new_value OR p.old_type <> n.new_type
        |ORDER BY event_id""".stripMargin,
    // Stratified mixture sampling: per-lang rate CASE, q69's hash cut.
    "q69_mixture_sample" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE (doc_id * 1103515245 + 12345) % 100 <
        |  CASE WHEN lang = 'en' THEN 30 WHEN lang = 'zh' THEN 80 ELSE 60 END
        |ORDER BY doc_id""".stripMargin,
    // Token-df model from the train split scores every doc; df is unique
    // per token so the scoring join cannot amplify.
    "q70_frequency_quality" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t FROM documents),
        |tr AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok
        |       WHERE (doc_id * 2654435761) % 100 >= 20 GROUP BY 1),
        |sc AS (SELECT k.doc_id, COUNT(*) AS n_tokens,
        |         CAST(SUM(CASE WHEN COALESCE(tr.df, 0) < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |         CAST(SUM(COALESCE(tr.df, 0)) AS BIGINT) AS sum_df
        |       FROM tok k LEFT JOIN tr USING (t) GROUP BY 1)
        |SELECT doc_id, n_tokens, n_oov, sum_df,
        |  CAST(n_oov AS DOUBLE) / n_tokens AS oov_ratio
        |FROM sc ORDER BY doc_id""".stripMargin,
    // Sequence packing: the oracle computes the global running token count
    // directly; the Spark side derives the identical sum via the two-phase
    // (bucket-local + offsets) scan.
    "q71_sequence_packing" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM d)
        |SELECT doc_id, n_tokens, cum_tokens,
        |  CAST(FLOOR(CAST(cum_tokens - n_tokens AS DOUBLE) / 512) AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,
    // Same rows as the bucketed-layout join (bucketing is physical only).
    "q46_bucketed_join" ->
      """SELECT o_orderkey, o_orderpriority, COUNT(*) AS n_items,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY o_orderkey""".stripMargin,
    // As-of semantics spelled out relationally: latest order (date desc,
    // orderkey desc) at-or-before each event, -1/0.0 when none. The Spark
    // side computes this with one union+window pass, not this join.
    "q48_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec FROM events),
        |o AS (SELECT o_custkey, o_orderkey, o_totalprice, CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS ot FROM orders),
        |j AS (SELECT e.event_id, e.user_id, e.ts_sec, o.o_orderkey, o.o_totalprice,
        |        ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY o.ot DESC, o.o_orderkey DESC) AS rn
        |      FROM e LEFT JOIN o ON o.o_custkey = e.user_id AND o.ot <= e.ts_sec)
        |SELECT event_id, user_id, ts_sec,
        |  COALESCE(o_orderkey, -1) AS asof_orderkey,
        |  COALESCE(o_totalprice, 0.0) AS asof_totalprice
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // Naive |t1-t2| <= 3600 self-join — semantically identical to the
    // Spark side's bucketized equi-join decomposition.
    "q49_range_join" ->
      """WITH e AS (SELECT event_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t FROM events)
        |SELECT e1.event_id,
        |  CAST(COUNT(CASE WHEN e2.event_id <> e1.event_id THEN 1 END) AS BIGINT) AS n_within_1h
        |FROM e e1 JOIN e e2 ON ABS(e1.t - e2.t) <= 3600
        |GROUP BY 1 ORDER BY e1.event_id""".stripMargin,
    "q59_sql_api" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  COUNT(DISTINCT o_orderkey) AS n_orders,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q50_window_suite" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  ROUND(percent_rank() OVER w, 9) AS pct_rank,
        |  ROUND(cume_dist() OVER w, 9) AS cume,
        |  COALESCE(lead(o_totalprice, 1) OVER w, 0.0) AS next_price,
        |  first_value(o_orderkey) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS top_orderkey
        |FROM orders WHERE o_custkey % 100 = 0
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "q51_price_quantiles" ->
      """WITH q AS (
        |  SELECT o_orderstatus, COUNT(*) AS n_orders,
        |    [quantile_cont(o_totalprice, 0.25), quantile_cont(o_totalprice, 0.5),
        |     quantile_cont(o_totalprice, 0.75), quantile_cont(o_totalprice, 0.95)] AS qs
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, n_orders,
        |  CAST([0.25, 0.5, 0.75, 0.95][CAST(i AS INT)] AS DOUBLE) AS q,
        |  ROUND(qs[CAST(i AS INT)], 4) AS price_quantile
        |FROM q CROSS JOIN (SELECT unnest(range(1, 5)) AS i) ii
        |ORDER BY o_orderstatus, q""".stripMargin,
    // q58 error-band oracle (r13): exact leg = q51's quantile_cont; the
    // GK-sketch estimate is Spark-internal, so the oracle pins the
    // 1%-band verdict literal TRUE (observed corpus error ≤ 0.14%).
    "q58_price_quantiles_approx" ->
      """WITH q AS (
        |  SELECT o_orderstatus, COUNT(*) AS n_orders,
        |    [quantile_cont(o_totalprice, 0.25), quantile_cont(o_totalprice, 0.5),
        |     quantile_cont(o_totalprice, 0.75), quantile_cont(o_totalprice, 0.95)] AS qs
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, n_orders,
        |  CAST([0.25, 0.5, 0.75, 0.95][CAST(i AS INT)] AS DOUBLE) AS q,
        |  ROUND(qs[CAST(i AS INT)], 4) AS price_quantile,
        |  TRUE AS sketch_within_1pct
        |FROM q CROSS JOIN (SELECT unnest(range(1, 5)) AS i) ii
        |ORDER BY o_orderstatus, q""".stripMargin,
    "q52_status_pivot" ->
      """SELECT o_orderstatus,
        |  COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
        |  COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS n_high,
        |  COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS n_medium,
        |  COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS n_not_specified,
        |  COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS n_low
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q53_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, '(all)') AS status,
        |  COALESCE(o_orderpriority, '(all)') AS priority,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,
    // Same rows as the partition-pruned read of the date-partitioned copy
    // (partitioning is physical layout only).
    "q54_partition_pruned" ->
      """SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(ROUND(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    // Clustered layouts are layout-only: the copies hold the same rows as
    // lineitem, so the oracle reads the raw table with the same predicate.
    "q62_range_clustered" ->
      """SELECT CAST(FLOOR(EPOCH(l_shipdate)) AS BIGINT) AS ship_sec,
        |  COUNT(*) AS n_items,
        |  CAST(ROUND(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q63_zorder_slice" ->
      """SELECT l_suppkey, COUNT(*) AS n_items,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 299 AND l_suppkey BETWEEN 10 AND 29
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q41_order_history" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_totalprice,
        |  COALESCE(LAG(o_totalprice, 1) OVER w, 0.0) AS prev_price,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total,
        |  ROW_NUMBER() OVER w AS order_seq
        |FROM orders
        |WHERE o_custkey % 100 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, order_seq""".stripMargin,
    "q44_union_parties" ->
      """SELECT party_key FROM (
        |  SELECT c_custkey AS party_key FROM customer WHERE c_acctbal > 9000
        |  UNION
        |  SELECT o_custkey AS party_key FROM orders WHERE o_orderstatus = 'P'
        |) t ORDER BY party_key""".stripMargin,
    "q45_embedding_array_stats" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  CAST(list_min(embedding) AS DOUBLE) AS min_c,
        |  CAST(list_max(embedding) AS DOUBLE) AS max_c,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive,
        |  CAST(embedding[1] AS DOUBLE) AS c1,
        |  CAST(embedding[64] AS DOUBLE) AS c64
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q21_text_quality" ->
      """WITH t AS (SELECT doc_id, n_chars, string_split_regex(text, '\s+') AS tks FROM documents),
        |r AS (SELECT doc_id, n_chars,
        |  CAST(len(tks) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(list_sum(list_transform(tks, t -> length(t))) AS DOUBLE)/len(tks), 6) AS avg_token_len,
        |  ROUND(CAST(len(list_filter(tks, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)/len(tks), 6) AS stopword_ratio,
        |  ROUND(CAST(len(list_distinct(tks)) AS DOUBLE)/len(tks), 6) AS distinct_ratio
        |FROM t)
        |SELECT doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio, distinct_ratio,
        |  0.5*distinct_ratio + 0.5*least(CAST(n_tokens AS DOUBLE)/100.0, 1.0) AS quality_score
        |FROM r ORDER BY doc_id""".stripMargin,
    "q22_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, string_split_regex(text, '\s+') AS tks FROM documents),
        |s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(tks, t -> t IN ('the','a','is','of'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(tks, t -> t IN ('der','die','und','das'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(tks, t -> t IN ('le','et','les','une'))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(tks, t -> t IN ('el','la','los','que'))) AS BIGINT) AS s_es
        |FROM t),
        |p AS (SELECT *, CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |                     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |                     WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang FROM s)
        |SELECT doc_id, lang, s_en, s_de, s_fr, s_es, pred_lang, pred_lang = lang AS is_match
        |FROM p ORDER BY doc_id""".stripMargin,
    "q23_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
        |  n_chars,
        |  ROUND(CAST(n_chars AS DOUBLE)/len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')), 6) AS chars_per_bpe_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q24_fingerprints" ->
      """SELECT doc_id, md5(text) AS md5_raw,
        |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS md5_norm,
        |  md5(substr(text, 1, 64)) AS md5_prefix64
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q25_corpus_stats" ->
      """SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(FLOOR(CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)) AS BIGINT) AS avg_chars_floor
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    "q26_binary_payload" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
        |  md5(text) AS payload_md5, source AS media_source
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Multimodal roundtrip gate: Spark encodes formula-generated pixels/
    // samples into REAL BMP/WAV/PPM bytes and re-parses them; DuckDB
    // recomputes the decoded features in closed form from the same integer
    // formulas (Multimodal.imgVal/vidVal/wavVal). The order-weighted
    // checksum makes the hash sensitive to BMP row flips/BGR/padding and
    // PPM frame-sampling mistakes.
    "q36_media_features" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 3 AS fmt_i, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h,
        |         doc_id % 30 + 1 AS nf, doc_id % 2000 + 500 AS ns
        |  FROM documents)
        |SELECT doc_id, 'bmp' AS format,
        |  CAST(54 + h*((w*3 + 3)//4*4) AS BIGINT) AS payload_bytes,
        |  CAST(w*h*3 AS BIGINT) AS n_values,
        |  CAST(list_sum(list_transform(range(0, w*h*3), i -> (doc_id*131 + i*7919)%256)) AS BIGINT) AS sum_values,
        |  CAST(list_min(list_transform(range(0, w*h*3), i -> (doc_id*131 + i*7919)%256)) AS BIGINT) AS min_value,
        |  CAST(list_max(list_transform(range(0, w*h*3), i -> (doc_id*131 + i*7919)%256)) AS BIGINT) AS max_value,
        |  CAST(list_sum(list_transform(range(0, w*h*3), i -> (i+1)*((doc_id*131 + i*7919)%256))) AS BIGINT) AS checksum,
        |  CAST(1 AS BIGINT) AS n_sampled_frames
        |FROM p WHERE fmt_i = 0
        |UNION ALL
        |SELECT doc_id, 'wav',
        |  CAST(44 + 2*ns AS BIGINT), CAST(ns AS BIGINT),
        |  CAST(list_sum(list_transform(range(0, ns), i -> (doc_id*131 + i*7919)%65536 - 32768)) AS BIGINT),
        |  CAST(list_min(list_transform(range(0, ns), i -> (doc_id*131 + i*7919)%65536 - 32768)) AS BIGINT),
        |  CAST(list_max(list_transform(range(0, ns), i -> (doc_id*131 + i*7919)%65536 - 32768)) AS BIGINT),
        |  CAST(list_sum(list_transform(range(0, ns), i -> (i+1)*((doc_id*131 + i*7919)%65536 - 32768))) AS BIGINT),
        |  CAST(1 AS BIGINT)
        |FROM p WHERE fmt_i = 1
        |UNION ALL
        |SELECT doc_id, 'vid',
        |  CAST(nf*(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + w*h*3) AS BIGINT),
        |  CAST(least(nf,5)*w*h*3 AS BIGINT),
        |  CAST(list_sum(list_transform(range(0, least(nf,5)), j -> list_sum(list_transform(range(0, w*h*3),
        |    i -> (doc_id*131 + (CASE WHEN nf <= 5 THEN j ELSE j*nf//5 END)*104729 + i*7919)%256)))) AS BIGINT),
        |  CAST(list_min(list_transform(range(0, least(nf,5)), j -> list_min(list_transform(range(0, w*h*3),
        |    i -> (doc_id*131 + (CASE WHEN nf <= 5 THEN j ELSE j*nf//5 END)*104729 + i*7919)%256)))) AS BIGINT),
        |  CAST(list_max(list_transform(range(0, least(nf,5)), j -> list_max(list_transform(range(0, w*h*3),
        |    i -> (doc_id*131 + (CASE WHEN nf <= 5 THEN j ELSE j*nf//5 END)*104729 + i*7919)%256)))) AS BIGINT),
        |  CAST(list_sum(list_transform(range(0, least(nf,5)), j -> list_sum(list_transform(range(0, w*h*3),
        |    i -> (j*(w*h*3) + i + 1)*((doc_id*131 + (CASE WHEN nf <= 5 THEN j ELSE j*nf//5 END)*104729 + i*7919)%256))))) AS BIGINT),
        |  CAST(least(nf,5) AS BIGINT)
        |FROM p WHERE fmt_i = 2
        |ORDER BY doc_id""".stripMargin,
    // Media resize: the oracle re-derives the 8x8 nearest-neighbor gray
    // thumbnail from the synthetic pixel generator — thumb cell t maps to
    // source pixel (ty*h//8, tx*w//8), channel value (doc_id*131 +
    // i*7919)%256 at logical index i = pixel*3 + c (all integer div).
    "q96_media_thumbnails" ->
      """WITH p AS (SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h
        |           FROM documents WHERE doc_id % 3 = 0),
        |g AS (SELECT doc_id, w, h,
        |        list_transform(range(0, 64), t ->
        |          ( (doc_id*131 + (((t//8)*h//8*w + (t%8)*w//8)*3 + 0)*7919)%256
        |          + (doc_id*131 + (((t//8)*h//8*w + (t%8)*w//8)*3 + 1)*7919)%256
        |          + (doc_id*131 + (((t//8)*h//8*w + (t%8)*w//8)*3 + 2)*7919)%256) // 3) AS gr
        |      FROM p)
        |SELECT doc_id, CAST(w AS BIGINT) AS src_w, CAST(h AS BIGINT) AS src_h,
        |  CAST(list_sum(gr) // 64 AS BIGINT) AS thumb_mean,
        |  CAST(list_min(gr) AS BIGINT) AS thumb_min,
        |  CAST(list_max(gr) AS BIGINT) AS thumb_max,
        |  CAST(list_sum(list_transform(range(0, 64), t -> (t+1)*gr[CAST(t+1 AS INT)])) AS BIGINT) AS thumb_checksum
        |FROM g ORDER BY doc_id""".stripMargin,
    "q27_dedup_exact" ->
      """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS text_md5,
        |  MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY text_md5""".stripMargin,
    // Asymmetric containment dedup: q28's posting-list core projected
    // to inter/|A| permille with a direction verdict.
    "q135_containment_dedup" -> q135Sql,
    // Incremental containment (r13): the oracle re-derives the frozen
    // index from scratch — corpus-split (doc_id % 10 != 9) shingles,
    // frozen df stop list, kept postings + sizes — then the batch-side
    // representation (batch shingles minus the stop list) and the
    // cross-only probe, so the artifact is re-gated every verify run.
    "q143_containment_incremental" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
        |              WHERE len(string_split_regex(text, '\\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |              unnest(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |       FROM toks),
        |cdf AS (SELECT s, COUNT(*) AS df FROM sh WHERE doc_id % 10 != 9 GROUP BY 1),
        |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN cdf ON sh.s = cdf.s
        |        WHERE sh.doc_id % 10 != 9 AND cdf.df <= ${operators.Dedup.MaxShingleDf}),
        |sz2 AS (SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY 1),
        |bsh AS (SELECT sh.doc_id, sh.s FROM sh
        |        LEFT JOIN (SELECT s FROM cdf WHERE df > ${operators.Dedup.MaxShingleDf}) st
        |          ON sh.s = st.s
        |        WHERE sh.doc_id % 10 = 9 AND st.s IS NULL),
        |sz1 AS (SELECT doc_id, COUNT(*) AS n FROM bsh GROUP BY 1),
        |pr AS (SELECT b.doc_id AS d1, i.doc_id AS d2, COUNT(*) AS inter
        |       FROM bsh b JOIN idx i ON b.s = i.s GROUP BY 1, 2),
        |c AS (SELECT d1, d2, CAST(inter AS BIGINT) AS inter,
        |        CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
        |        (1000 * CAST(inter AS BIGINT)) // CAST(s1.n AS BIGINT) AS cont1_permille,
        |        (1000 * CAST(inter AS BIGINT)) // CAST(s2.n AS BIGINT) AS cont2_permille
        |      FROM pr JOIN sz1 s1 ON d1 = s1.doc_id JOIN sz2 s2 ON d2 = s2.doc_id)
        |SELECT d1, d2, inter, n1, n2, cont1_permille, cont2_permille,
        |  CASE WHEN cont1_permille >= ${operators.Dedup.ContainmentPermille}
        |        AND cont2_permille >= ${operators.Dedup.ContainmentPermille} THEN 'mutual'
        |       WHEN cont1_permille >= ${operators.Dedup.ContainmentPermille} THEN 'd1_in_d2'
        |       ELSE 'd2_in_d1' END AS relation
        |FROM c
        |WHERE greatest(cont1_permille, cont2_permille) >= ${operators.Dedup.ContainmentPermille}
        |ORDER BY d1, d2""".stripMargin,
    // Perceptual image near-dup: the q96 pixel-generator-derived 8x8
    // gray grid folded to a 64-bit aHash (bit t: 64*gray >= sum, the
    // exact-integer mean threshold), split into two unsigned 32-bit
    // halves, banded 4x16 with the q29c capped-bucket machinery, and
    // verified by XOR-popcount Hamming (shared CTE chain with q133).
    "q128_image_near_dup" ->
      s"""WITH $q128Ctes
        |SELECT d1, d2, hamming FROM imgpairs ORDER BY d1, d2""".stripMargin,
    // q164 image decontamination: the q128 pair chain re-derived, then an
    // eval image (q65's split predicate) is contaminated when a verified
    // near-pair links it to a train image. Mirrors
    // Multimodal.mediaContamination (which reads the img_pairs artifact).
    "q164_media_contamination" ->
      s"""WITH $q128Ctes,
        |prt AS (SELECT d1 AS e, d2 AS t FROM imgpairs
        |        UNION ALL SELECT d2, d1 FROM imgpairs),
        |hits AS (SELECT e, MIN(t) AS tm FROM prt
        |         WHERE (e * 2654435761) % 100 < 20
        |           AND (t * 2654435761) % 100 >= 20 GROUP BY 1),
        |ev AS (SELECT doc_id FROM p WHERE (doc_id * 2654435761) % 100 < 20)
        |SELECT ev.doc_id, (hits.tm IS NOT NULL) AS contaminated,
        |  CAST(COALESCE(hits.tm, -1) AS BIGINT) AS train_match
        |FROM ev LEFT JOIN hits ON hits.e = ev.doc_id ORDER BY ev.doc_id""".stripMargin,
    // Audio energy-envelope signatures: |PCM| mass folded into 64
    // windows (sample i -> window i*64//n, mirrored via ceil
    // boundaries), mean-threshold hashed like the image aHash, plus
    // peak/mean/clip/low-energy audit columns.
    "q138_audio_signatures" ->
      s"""WITH $audSigCtes
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples, sig_hi, sig_lo,
        |  total_abs, peak_abs, total_abs // n AS mean_abs, n_clipped,
        |  total_abs // n < ${operators.Multimodal.LowEnergyAbs} AS low_energy,
        |  n < ${operators.Multimodal.AudioWindows} AS short_track
        |FROM aah ORDER BY doc_id""".stripMargin,
    // Audio near-dup verdicts: q128's banding + XOR-popcount verify over
    // q138's envelope hashes (aah), replayed in closed form. No exact
    // generator class exists inside any test SF (65536-id envelope
    // cycle): gate-SF output is empty (the q139 empty-gate contract,
    // derivation pinned), while sf0.1's long near-uniform envelopes
    // yield real verified pairs (761, hash-matched there too).
    "q141_audio_near_dup" ->
      s"""WITH $audSigCtes,
        |$audPairCtes
        |SELECT d1, d2, hamming, n_samples_1, n_samples_2
        |FROM audpairs ORDER BY d1, d2""".stripMargin,
    // Audio dup clusters + survivors: q141's pair chain, the q61
    // recursive closure, longest-capture survivor (most samples, ties
    // smallest doc_id).
    "q142_audio_dup_clusters" ->
      s"""WITH RECURSIVE $audSigCtes,
        |$audPairCtes,
        |edges AS (SELECT d1 AS src, d2 AS dst FROM audpairs
        |          UNION ALL SELECT d2, d1 FROM audpairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |comps AS (SELECT id AS doc_id, MIN(comp) AS comp_id FROM reach GROUP BY 1),
        |lens AS (SELECT doc_id, CAST(n AS BIGINT) AS ns FROM aah),
        |jn AS (SELECT c.comp_id, c.doc_id, l.ns FROM comps c JOIN lens l USING (doc_id)),
        |agg AS (SELECT comp_id, COUNT(*) AS n_members,
        |          CAST(SUM(ns) AS BIGINT) AS samples_total FROM jn GROUP BY 1),
        |surv AS (SELECT comp_id, doc_id AS survivor_doc_id, ns AS survivor_samples
        |         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY comp_id
        |                 ORDER BY ns DESC, doc_id ASC) AS rk FROM jn)
        |         WHERE rk = 1)
        |SELECT agg.comp_id, agg.n_members, agg.samples_total,
        |  surv.survivor_doc_id, surv.survivor_samples,
        |  agg.samples_total - surv.survivor_samples AS samples_removed
        |FROM agg JOIN surv USING (comp_id) ORDER BY agg.comp_id""".stripMargin,
    // Incremental image dedup: batch images (doc_id%10=9) hash-probed
    // against the corpus-split min-doc index — q68's split at the
    // perceptual-hash level, sharing the q128 hash CTEs.
    "q137_image_incremental_dedup" ->
      s"""WITH $q128Ctes,
        |idx AS (SELECT hi, lo, MIN(doc_id) AS dup_of FROM ah
        |        WHERE doc_id % 10 <> 9 GROUP BY 1, 2)
        |SELECT b.doc_id, b.hi, b.lo,
        |  CASE WHEN i.dup_of IS NULL THEN 'new' ELSE 'dup' END AS status, i.dup_of
        |FROM ah b LEFT JOIN idx i USING (hi, lo)
        |WHERE b.doc_id % 10 = 9 ORDER BY b.doc_id""".stripMargin,
    // Video temporal-activity signatures: per sampled frame (the q36
    // sampling) the generator-derived aHash, folded into order-weighted
    // checksums + consecutive-frame Hamming stats; low_motion flags
    // static streams (single-frame streams are static by definition).
    "q134_video_signatures" ->
      s"""WITH $vidFrameCtes,
        |cons AS (SELECT a.doc_id,
        |          bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS ham
        |         FROM fah a JOIN fah b ON a.doc_id = b.doc_id AND b.si = a.si + 1),
        |chk AS (SELECT doc_id, CAST(MAX(nf) AS BIGINT) AS n_frames, COUNT(*) AS n_sampled,
        |         CAST(SUM((si + 1) * hi) AS BIGINT) AS cks_hi,
        |         CAST(SUM((si + 1) * lo) AS BIGINT) AS cks_lo
        |        FROM fah GROUP BY 1),
        |hm AS (SELECT doc_id, CAST(MIN(ham) AS BIGINT) AS ham_min,
        |         CAST(MAX(ham) AS BIGINT) AS ham_max,
        |         (100 * CAST(SUM(ham) AS BIGINT)) // COUNT(*) AS ham_mean_x100
        |       FROM cons GROUP BY 1)
        |SELECT chk.doc_id, chk.n_frames, chk.n_sampled, chk.cks_hi, chk.cks_lo,
        |  hm.ham_min, hm.ham_max, hm.ham_mean_x100,
        |  COALESCE(hm.ham_mean_x100 < ${operators.Multimodal.LowMotionX100}, TRUE) AS low_motion
        |FROM chk LEFT JOIN hm USING (doc_id) ORDER BY chk.doc_id""".stripMargin,
    // Incremental video dedup: the batch's exact perceptual signature
    // keys (ordered sampled-frame aHash sequence, one ordered
    // string_agg) probed against the corpus-split key index. Batch
    // residue mod 7 (not q68's mod 10): the generator's video exact
    // classes sit at delta 3840 = 0 (mod 10), so a mod-10 split could
    // never observe a cross-split dup at any SF.
    "q144_video_incremental_dedup" ->
      s"""WITH $vidFrameCtes,
        |seqk AS (SELECT doc_id, CAST(COUNT(*) AS VARCHAR) || '|' ||
        |           string_agg(CAST(hi AS VARCHAR) || ':' || CAST(lo AS VARCHAR), '|' ORDER BY si) AS sig_key
        |         FROM fah GROUP BY doc_id),
        |vidx AS (SELECT sig_key, MIN(doc_id) AS dup_of FROM seqk
        |         WHERE doc_id % ${operators.Multimodal.VideoBatchMod} <> ${operators.Multimodal.VideoBatchResidue}
        |         GROUP BY 1)
        |SELECT b.doc_id, b.sig_key,
        |  CASE WHEN i.dup_of IS NULL THEN 'new' ELSE 'dup' END AS status, i.dup_of
        |FROM seqk b LEFT JOIN vidx i USING (sig_key)
        |WHERE b.doc_id % ${operators.Multimodal.VideoBatchMod} = ${operators.Multimodal.VideoBatchResidue}
        |ORDER BY b.doc_id""".stripMargin,
    // Incremental audio dedup: the q68 batch's envelope hashes
    // (resample-invariant q138 kernel) probed against the corpus-split
    // envelope index — exact-key probing at q141's Hamming-0 point.
    "q145_audio_incremental_dedup" ->
      s"""WITH $audSigCtes,
        |aidx AS (SELECT sig_hi, sig_lo, MIN(doc_id) AS dup_of FROM aah
        |         WHERE doc_id % 10 <> 9 GROUP BY 1, 2)
        |SELECT b.doc_id, b.sig_hi, b.sig_lo,
        |  CASE WHEN i.dup_of IS NULL THEN 'new' ELSE 'dup' END AS status, i.dup_of
        |FROM aah b LEFT JOIN aidx i USING (sig_hi, sig_lo)
        |WHERE b.doc_id % 10 = 9 ORDER BY b.doc_id""".stripMargin,
    // Media dedup manifest: the three modality pair chains composed in
    // one statement (modalities partition doc_id space, so ONE
    // recursive closure over the unioned pair sets yields per-modality
    // components), per-doc size metric by modality (image area / video
    // frames / audio samples), survivor = max size tie min doc_id,
    // verdict + dup_of per media document.
    "q146_media_dedup_manifest" ->
      s"""WITH RECURSIVE $q128Ctes,
        |$vidFrameCtes,
        |$vidPairCtes,
        |$audSigCtes,
        |$audPairCtes,
        |edges AS (SELECT d1 AS src, d2 AS dst FROM imgpairs
        |          UNION ALL SELECT d2, d1 FROM imgpairs
        |          UNION ALL SELECT d1, d2 FROM vidpairs
        |          UNION ALL SELECT d2, d1 FROM vidpairs
        |          UNION ALL SELECT d1, d2 FROM audpairs
        |          UNION ALL SELECT d2, d1 FROM audpairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |comps AS (SELECT id AS doc_id, MIN(comp) AS comp_id FROM reach GROUP BY 1),
        |msz AS (SELECT doc_id, CAST((doc_id % 24 + 8) * (doc_id % 16 + 8) AS BIGINT) AS sz
        |        FROM documents WHERE doc_id % 3 = 0
        |        UNION ALL SELECT doc_id, CAST(nf AS BIGINT) FROM v
        |        UNION ALL SELECT doc_id, CAST(n AS BIGINT) FROM aah),
        |jn AS (SELECT c.comp_id, c.doc_id, m.sz FROM comps c JOIN msz m USING (doc_id)),
        |surv AS (SELECT comp_id, doc_id AS survivor_doc_id
        |         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY comp_id
        |                 ORDER BY sz DESC, doc_id ASC) AS rk FROM jn)
        |         WHERE rk = 1),
        |media AS (SELECT doc_id,
        |            CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'vid' END AS modality
        |          FROM documents)
        |SELECT m.doc_id, m.modality, c.comp_id,
        |  CASE WHEN c.comp_id IS NULL OR m.doc_id = s.survivor_doc_id
        |       THEN 'keep' ELSE 'drop' END AS verdict,
        |  CASE WHEN c.comp_id IS NOT NULL AND m.doc_id <> s.survivor_doc_id
        |       THEN s.survivor_doc_id END AS dup_of
        |FROM media m LEFT JOIN comps c USING (doc_id)
        |             LEFT JOIN surv s USING (comp_id)
        |ORDER BY m.doc_id""".stripMargin,
    // Video prefix containment: EVERY frame hashed (dense stride-1
    // table), candidates share a band of frame 0's hash (capped
    // buckets), the overlapping prefix verified frame-by-frame at the
    // per-frame Hamming cap, direction verdict by length.
    "q147_video_prefix_containment" ->
      s"""WITH $vidDenseCtes,
        |$vidPfxPairCtes
        |SELECT d1, d2, n_frames_1, n_frames_2, n_frames_aligned, ham_total, ham_max,
        |  CASE WHEN n_frames_1 = n_frames_2 THEN 'mutual'
        |       WHEN n_frames_1 < n_frames_2 THEN 'd1_in_d2'
        |       ELSE 'd2_in_d1' END AS relation
        |FROM vpagg
        |WHERE n_frames_aligned = LEAST(n_frames_1, n_frames_2)
        |  AND ham_max <= ${operators.Multimodal.ImgHammingMax}
        |ORDER BY d1, d2""".stripMargin,
    // Incremental video prefix containment: batch (doc_id % 7 = 1, the
    // q144 video split) frame-0 bands probe the frozen corpus band
    // index (capped at build, no >=2-member floor — a 1-member corpus
    // bucket is a probe-able candidate), verify joins the candidates'
    // frame rows, q147's cuts and verdict verbatim with d1 = batch doc.
    "q148_video_prefix_incremental" ->
      s"""WITH $vidDenseCtes,
        |cb0 AS (SELECT doc_id, unnest([
        |         {'band_idx': 0, 'band_val': hi // 65536},
        |         {'band_idx': 1, 'band_val': hi % 65536},
        |         {'band_idx': 2, 'band_val': lo // 65536},
        |         {'band_idx': 3, 'band_val': lo % 65536}]) AS b
        |       FROM vaf
        |       WHERE fi = 0 AND doc_id % ${operators.Multimodal.VideoBatchMod}
        |         <> ${operators.Multimodal.VideoBatchResidue}),
        |cmem AS (SELECT doc_id, b.band_idx AS band_idx, b.band_val AS band_val,
        |          ROW_NUMBER() OVER (PARTITION BY b.band_idx, b.band_val ORDER BY doc_id) AS rn
        |        FROM cb0),
        |ckept AS (SELECT * FROM cmem WHERE rn <= ${operators.Dedup.MaxBucket}),
        |bb AS (SELECT doc_id, b.band_idx AS band_idx, b.band_val AS band_val
        |       FROM (SELECT doc_id, unnest([
        |              {'band_idx': 0, 'band_val': hi // 65536},
        |              {'band_idx': 1, 'band_val': hi % 65536},
        |              {'band_idx': 2, 'band_val': lo // 65536},
        |              {'band_idx': 3, 'band_val': lo % 65536}]) AS b
        |             FROM vaf
        |             WHERE fi = 0 AND doc_id % ${operators.Multimodal.VideoBatchMod}
        |               = ${operators.Multimodal.VideoBatchResidue})),
        |icand AS (SELECT DISTINCT bb.doc_id AS d1, ckept.doc_id AS d2
        |          FROM bb JOIN ckept USING (band_idx, band_val)),
        |iver AS (SELECT c.d1, c.d2, fa.nf AS nf1, fb.nf AS nf2,
        |          bit_count(xor(fa.hi, fb.hi)) + bit_count(xor(fa.lo, fb.lo)) AS ham
        |        FROM icand c JOIN vaf fa ON fa.doc_id = c.d1
        |                   JOIN vaf fb ON fb.doc_id = c.d2 AND fb.fi = fa.fi),
        |ipagg AS (SELECT d1, d2, CAST(MAX(nf1) AS BIGINT) AS n_frames_1,
        |          CAST(MAX(nf2) AS BIGINT) AS n_frames_2,
        |          COUNT(*) AS n_frames_aligned,
        |          CAST(SUM(ham) AS BIGINT) AS ham_total,
        |          CAST(MAX(ham) AS BIGINT) AS ham_max
        |        FROM iver GROUP BY 1, 2)
        |SELECT d1, d2, n_frames_1, n_frames_2, n_frames_aligned, ham_total, ham_max,
        |  CASE WHEN n_frames_1 = n_frames_2 THEN 'mutual'
        |       WHEN n_frames_1 < n_frames_2 THEN 'd1_in_d2'
        |       ELSE 'd2_in_d1' END AS relation
        |FROM ipagg
        |WHERE n_frames_aligned = LEAST(n_frames_1, n_frames_2)
        |  AND ham_max <= ${operators.Multimodal.ImgHammingMax}
        |ORDER BY d1, d2""".stripMargin,
    // Audio prefix containment: per-fixed-window signatures from the
    // PCM generator, window-0 banding (capped buckets), aligned-prefix
    // verify at the per-window Hamming cap, direction by window count.
    "q173_audio_prefix_containment" ->
      s"""WITH $audWinCtes,
        |$audPfxPairCtes
        |SELECT d1, d2, n_windows_1, n_windows_2, n_windows_aligned, ham_total, ham_max,
        |  CASE WHEN n_windows_1 = n_windows_2 THEN 'mutual'
        |       WHEN n_windows_1 < n_windows_2 THEN 'd1_in_d2'
        |       ELSE 'd2_in_d1' END AS relation
        |FROM apagg
        |WHERE n_windows_aligned = LEAST(n_windows_1, n_windows_2)
        |  AND ham_max <= ${operators.Multimodal.ImgHammingMax}
        |ORDER BY d1, d2""".stripMargin,
    // Incremental audio prefix containment: batch (doc_id % 10 = 9)
    // window-0 bands probe the FROZEN corpus band index (capped at
    // build, no cnt>=2 gate — the batch provides the second member),
    // verify only against corpus window rows.
    "q174_audio_prefix_incremental" ->
      s"""WITH $audWinCtes,
        |cb0 AS (SELECT doc_id, unnest([
        |         {'band_idx': 0, 'band_val': hi // 65536},
        |         {'band_idx': 1, 'band_val': hi % 65536},
        |         {'band_idx': 2, 'band_val': lo // 65536},
        |         {'band_idx': 3, 'band_val': lo % 65536}]) AS b
        |       FROM awf WHERE wi = 0 AND doc_id % 10 <> 9),
        |cmem AS (SELECT doc_id, b.band_idx AS band_idx, b.band_val AS band_val,
        |          ROW_NUMBER() OVER (PARTITION BY b.band_idx, b.band_val ORDER BY doc_id) AS rn
        |        FROM cb0),
        |ckept AS (SELECT * FROM cmem WHERE rn <= ${operators.Dedup.MaxBucket}),
        |bb AS (SELECT doc_id, b.band_idx AS band_idx, b.band_val AS band_val
        |       FROM (SELECT doc_id, unnest([
        |              {'band_idx': 0, 'band_val': hi // 65536},
        |              {'band_idx': 1, 'band_val': hi % 65536},
        |              {'band_idx': 2, 'band_val': lo // 65536},
        |              {'band_idx': 3, 'band_val': lo % 65536}]) AS b
        |             FROM awf WHERE wi = 0 AND doc_id % 10 = 9)),
        |icand AS (SELECT DISTINCT bb.doc_id AS d1, ckept.doc_id AS d2
        |          FROM bb JOIN ckept USING (band_idx, band_val)),
        |iver AS (SELECT c.d1, c.d2, fa.nw AS nw1, fb.nw AS nw2,
        |          bit_count(xor(fa.hi, fb.hi)) + bit_count(xor(fa.lo, fb.lo)) AS ham
        |        FROM icand c JOIN awf fa ON fa.doc_id = c.d1
        |                   JOIN awf fb ON fb.doc_id = c.d2 AND fb.wi = fa.wi),
        |ipagg AS (SELECT d1, d2, CAST(MAX(nw1) AS BIGINT) AS n_windows_1,
        |          CAST(MAX(nw2) AS BIGINT) AS n_windows_2,
        |          COUNT(*) AS n_windows_aligned,
        |          CAST(SUM(ham) AS BIGINT) AS ham_total,
        |          CAST(MAX(ham) AS BIGINT) AS ham_max
        |        FROM iver GROUP BY 1, 2)
        |SELECT d1, d2, n_windows_1, n_windows_2, n_windows_aligned, ham_total, ham_max,
        |  CASE WHEN n_windows_1 = n_windows_2 THEN 'mutual'
        |       WHEN n_windows_1 < n_windows_2 THEN 'd1_in_d2'
        |       ELSE 'd2_in_d1' END AS relation
        |FROM ipagg
        |WHERE n_windows_aligned = LEAST(n_windows_1, n_windows_2)
        |  AND ham_max <= ${operators.Multimodal.ImgHammingMax}
        |ORDER BY d1, d2""".stripMargin,
    // Full-release media decontamination: every eval-side media doc of
    // every modality, contaminated when ANY perceptual chain — image
    // near-pairs, video aligned pairs OR TIME-NORMALIZED video prefix
    // containment (q178), audio envelope pairs OR RATE-NORMALIZED audio
    // prefix containment (q176) — links it to a train-side doc. All
    // five chains re-derived from the generators. The prefix legs read
    // the NORMALIZED chains since r18; on the all-canonical generator
    // corpus the normalization is the identity (q176/q178 oracle
    // contract), so their closed form below IS the raw q147/q173 chain
    // — the vpfx/apfx CTEs are unchanged by the swap, and a
    // normalization bug perturbing canonical streams hash-mismatches
    // here. The split predicate is q65's.
    "q175_media_contamination_full" ->
      s"""WITH $q128Ctes,
        |$vidFrameCtes,
        |$vidPairCtes,
        |$vidDenseCtes,
        |$vidPfxPairCtes,
        |$audSigCtes,
        |$audPairCtes,
        |$audWinCtes,
        |$audPfxPairCtes,
        |vpfx AS (SELECT d1, d2 FROM vpagg
        |         WHERE n_frames_aligned = LEAST(n_frames_1, n_frames_2)
        |           AND ham_max <= ${operators.Multimodal.ImgHammingMax}),
        |apfx AS (SELECT d1, d2 FROM apagg
        |         WHERE n_windows_aligned = LEAST(n_windows_1, n_windows_2)
        |           AND ham_max <= ${operators.Multimodal.ImgHammingMax}),
        |allp AS (SELECT d1, d2 FROM imgpairs
        |         UNION ALL SELECT d1, d2 FROM vidpairs
        |         UNION ALL SELECT d1, d2 FROM vpfx
        |         UNION ALL SELECT d1, d2 FROM audpairs
        |         UNION ALL SELECT d1, d2 FROM apfx),
        |prt AS (SELECT d1 AS e, d2 AS t FROM allp
        |        UNION ALL SELECT d2, d1 FROM allp),
        |hits AS (SELECT e, MIN(t) AS tm FROM prt
        |         WHERE (e * 2654435761) % 100 < 20
        |           AND (t * 2654435761) % 100 >= 20 GROUP BY 1),
        |ev AS (SELECT doc_id,
        |         CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'vid' END AS modality
        |       FROM documents WHERE (doc_id * 2654435761) % 100 < 20)
        |SELECT ev.doc_id, ev.modality, (hits.tm IS NOT NULL) AS contaminated,
        |  CAST(COALESCE(hits.tm, -1) AS BIGINT) AS train_match
        |FROM ev LEFT JOIN hits ON hits.e = ev.doc_id ORDER BY ev.doc_id""".stripMargin,
    // Rate-normalized audio prefix containment: the q173 chain over
    // header-rate-normalized windows, plus both sides' parsed rates.
    // The generator encodes EVERY track at the canonical 8 kHz, where
    // the nearest-neighbor normalization is provably the identity
    // (i*8000/8000 = i) — so the closed form is q173's window chain
    // with a constant rate column. The constants are not vacuous: the
    // Spark side parses both rates from the real RIFF headers, so a
    // mis-parse (or a normalization bug perturbing canonical-rate
    // tracks) hash-mismatches here. The non-identity path is
    // spec-proven with a crafted 16 kHz resampled+clipped fixture.
    "q176_audio_prefix_rate_normalized" ->
      s"""WITH $audWinCtes,
        |$audPfxPairCtes
        |SELECT d1, d2,
        |  CAST(8000 AS INTEGER) AS sample_rate_1,
        |  CAST(8000 AS INTEGER) AS sample_rate_2,
        |  n_windows_1, n_windows_2, n_windows_aligned, ham_total, ham_max,
        |  CASE WHEN n_windows_1 = n_windows_2 THEN 'mutual'
        |       WHEN n_windows_1 < n_windows_2 THEN 'd1_in_d2'
        |       ELSE 'd2_in_d1' END AS relation
        |FROM apagg
        |WHERE n_windows_aligned = LEAST(n_windows_1, n_windows_2)
        |  AND ham_max <= ${operators.Multimodal.ImgHammingMax}
        |ORDER BY d1, d2""".stripMargin,
    // Rate-normalized incremental audio prefix containment: q174's
    // frozen-index probe over HEADER-RATE-NORMALIZED windows, plus both
    // sides' parsed rates. The generator encodes every track at the
    // canonical 8 kHz, where the NN normalization is the identity — so
    // the closed form is q174's incremental chain with constant rate
    // columns. The constants are not vacuous: the Spark side parses
    // both rates from the real RIFF headers through the real
    // normalization kernel, so a mis-parse or a normalization bug
    // perturbing canonical-rate tracks hash-mismatches here. The
    // non-identity path (a 16 kHz resampled+clipped INCREMENT flipping
    // new → contained, which raw q174 misses) is spec-proven.
    "q177_audio_prefix_incremental_normalized" ->
      s"""WITH $audWinCtes,
        |cb0 AS (SELECT doc_id, unnest([
        |         {'band_idx': 0, 'band_val': hi // 65536},
        |         {'band_idx': 1, 'band_val': hi % 65536},
        |         {'band_idx': 2, 'band_val': lo // 65536},
        |         {'band_idx': 3, 'band_val': lo % 65536}]) AS b
        |       FROM awf WHERE wi = 0 AND doc_id % 10 <> 9),
        |cmem AS (SELECT doc_id, b.band_idx AS band_idx, b.band_val AS band_val,
        |          ROW_NUMBER() OVER (PARTITION BY b.band_idx, b.band_val ORDER BY doc_id) AS rn
        |        FROM cb0),
        |ckept AS (SELECT * FROM cmem WHERE rn <= ${operators.Dedup.MaxBucket}),
        |bb AS (SELECT doc_id, b.band_idx AS band_idx, b.band_val AS band_val
        |       FROM (SELECT doc_id, unnest([
        |              {'band_idx': 0, 'band_val': hi // 65536},
        |              {'band_idx': 1, 'band_val': hi % 65536},
        |              {'band_idx': 2, 'band_val': lo // 65536},
        |              {'band_idx': 3, 'band_val': lo % 65536}]) AS b
        |             FROM awf WHERE wi = 0 AND doc_id % 10 = 9)),
        |icand AS (SELECT DISTINCT bb.doc_id AS d1, ckept.doc_id AS d2
        |          FROM bb JOIN ckept USING (band_idx, band_val)),
        |iver AS (SELECT c.d1, c.d2, fa.nw AS nw1, fb.nw AS nw2,
        |          bit_count(xor(fa.hi, fb.hi)) + bit_count(xor(fa.lo, fb.lo)) AS ham
        |        FROM icand c JOIN awf fa ON fa.doc_id = c.d1
        |                   JOIN awf fb ON fb.doc_id = c.d2 AND fb.wi = fa.wi),
        |ipagg AS (SELECT d1, d2, CAST(MAX(nw1) AS BIGINT) AS n_windows_1,
        |          CAST(MAX(nw2) AS BIGINT) AS n_windows_2,
        |          COUNT(*) AS n_windows_aligned,
        |          CAST(SUM(ham) AS BIGINT) AS ham_total,
        |          CAST(MAX(ham) AS BIGINT) AS ham_max
        |        FROM iver GROUP BY 1, 2)
        |SELECT d1, d2,
        |  CAST(8000 AS INTEGER) AS sample_rate_1,
        |  CAST(8000 AS INTEGER) AS sample_rate_2,
        |  n_windows_1, n_windows_2, n_windows_aligned, ham_total, ham_max,
        |  CASE WHEN n_windows_1 = n_windows_2 THEN 'mutual'
        |       WHEN n_windows_1 < n_windows_2 THEN 'd1_in_d2'
        |       ELSE 'd2_in_d1' END AS relation
        |FROM ipagg
        |WHERE n_windows_aligned = LEAST(n_windows_1, n_windows_2)
        |  AND ham_max <= ${operators.Multimodal.ImgHammingMax}
        |ORDER BY d1, d2""".stripMargin,
    // Time-normalized video prefix containment: q147's chain over
    // header-time-base-normalized frames, plus both sides' parsed fps
    // tags. The generator writes untagged streams (canonical 24 fps),
    // where the NN re-timing is the identity — so the closed form is
    // q147's frame chain with constant fps columns. The constants are
    // not vacuous: the Spark side runs the real tag parse + re-time
    // branch, so a parser or re-timing bug perturbing canonical streams
    // hash-mismatches here. The non-identity path (a 48 fps
    // frame-doubled re-encode flipping reject → contained) is
    // spec-proven through the real PPM kernel.
    "q178_video_prefix_time_normalized" ->
      s"""WITH $vidDenseCtes,
        |$vidPfxPairCtes
        |SELECT d1, d2,
        |  CAST(24 AS INTEGER) AS fps_1,
        |  CAST(24 AS INTEGER) AS fps_2,
        |  n_frames_1, n_frames_2, n_frames_aligned, ham_total, ham_max,
        |  CASE WHEN n_frames_1 = n_frames_2 THEN 'mutual'
        |       WHEN n_frames_1 < n_frames_2 THEN 'd1_in_d2'
        |       ELSE 'd2_in_d1' END AS relation
        |FROM vpagg
        |WHERE n_frames_aligned = LEAST(n_frames_1, n_frames_2)
        |  AND ham_max <= ${operators.Multimodal.ImgHammingMax}
        |ORDER BY d1, d2""".stripMargin,
    // Time-normalized incremental video prefix containment: q148's
    // frozen-index probe over HEADER-TIME-BASE-NORMALIZED frames, plus
    // both sides' parsed fps tags. The generator writes untagged
    // streams (canonical 24 fps), where the NN re-timing is the
    // identity — so the closed form is q148's incremental chain with
    // constant fps columns. The constants are not vacuous: the Spark
    // side runs the real tag parse + re-time branch on both the batch
    // and the index build, so a parser or re-timing bug perturbing
    // canonical streams hash-mismatches here. The non-identity path (a
    // 48 fps frame-doubled clipped INCREMENT flipping new → contained,
    // which raw q148 misses) is spec-proven through the real PPM
    // kernel.
    "q179_video_prefix_incremental_normalized" ->
      s"""WITH $vidDenseCtes,
        |cb0 AS (SELECT doc_id, unnest([
        |         {'band_idx': 0, 'band_val': hi // 65536},
        |         {'band_idx': 1, 'band_val': hi % 65536},
        |         {'band_idx': 2, 'band_val': lo // 65536},
        |         {'band_idx': 3, 'band_val': lo % 65536}]) AS b
        |       FROM vaf
        |       WHERE fi = 0 AND doc_id % ${operators.Multimodal.VideoBatchMod}
        |         <> ${operators.Multimodal.VideoBatchResidue}),
        |cmem AS (SELECT doc_id, b.band_idx AS band_idx, b.band_val AS band_val,
        |          ROW_NUMBER() OVER (PARTITION BY b.band_idx, b.band_val ORDER BY doc_id) AS rn
        |        FROM cb0),
        |ckept AS (SELECT * FROM cmem WHERE rn <= ${operators.Dedup.MaxBucket}),
        |bb AS (SELECT doc_id, b.band_idx AS band_idx, b.band_val AS band_val
        |       FROM (SELECT doc_id, unnest([
        |              {'band_idx': 0, 'band_val': hi // 65536},
        |              {'band_idx': 1, 'band_val': hi % 65536},
        |              {'band_idx': 2, 'band_val': lo // 65536},
        |              {'band_idx': 3, 'band_val': lo % 65536}]) AS b
        |             FROM vaf
        |             WHERE fi = 0 AND doc_id % ${operators.Multimodal.VideoBatchMod}
        |               = ${operators.Multimodal.VideoBatchResidue})),
        |icand AS (SELECT DISTINCT bb.doc_id AS d1, ckept.doc_id AS d2
        |          FROM bb JOIN ckept USING (band_idx, band_val)),
        |iver AS (SELECT c.d1, c.d2, fa.nf AS nf1, fb.nf AS nf2,
        |          bit_count(xor(fa.hi, fb.hi)) + bit_count(xor(fa.lo, fb.lo)) AS ham
        |        FROM icand c JOIN vaf fa ON fa.doc_id = c.d1
        |                   JOIN vaf fb ON fb.doc_id = c.d2 AND fb.fi = fa.fi),
        |ipagg AS (SELECT d1, d2, CAST(MAX(nf1) AS BIGINT) AS n_frames_1,
        |          CAST(MAX(nf2) AS BIGINT) AS n_frames_2,
        |          COUNT(*) AS n_frames_aligned,
        |          CAST(SUM(ham) AS BIGINT) AS ham_total,
        |          CAST(MAX(ham) AS BIGINT) AS ham_max
        |        FROM iver GROUP BY 1, 2)
        |SELECT d1, d2,
        |  CAST(24 AS INTEGER) AS fps_1,
        |  CAST(24 AS INTEGER) AS fps_2,
        |  n_frames_1, n_frames_2, n_frames_aligned, ham_total, ham_max,
        |  CASE WHEN n_frames_1 = n_frames_2 THEN 'mutual'
        |       WHEN n_frames_1 < n_frames_2 THEN 'd1_in_d2'
        |       ELSE 'd2_in_d1' END AS relation
        |FROM ipagg
        |WHERE n_frames_aligned = LEAST(n_frames_1, n_frames_2)
        |  AND ham_max <= ${operators.Multimodal.ImgHammingMax}
        |ORDER BY d1, d2""".stripMargin,
    // Video near-dup verdicts: per-frame hashes from the generator,
    // q128's banding keyed by (frame position, band), aligned-envelope
    // verify (same sampled count, every frame within the Hamming cap).
    "q139_video_near_dup" ->
      s"""WITH $vidFrameCtes,
        |$vidPairCtes
        |SELECT d1, d2, n_frames_aligned, ham_total, ham_max
        |FROM vidpairs ORDER BY d1, d2""".stripMargin,
    // Video dup clusters + survivors: q139's pair chain, the q61
    // recursive closure, longest-copy-survivor argmax (most frames,
    // ties smallest doc_id).
    "q140_video_dup_clusters" ->
      s"""WITH RECURSIVE $vidFrameCtes,
        |$vidPairCtes,
        |edges AS (SELECT d1 AS src, d2 AS dst FROM vidpairs
        |          UNION ALL SELECT d2, d1 FROM vidpairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |comps AS (SELECT id AS doc_id, MIN(comp) AS comp_id FROM reach GROUP BY 1),
        |lens AS (SELECT doc_id, CAST(nf AS BIGINT) AS nf FROM v),
        |jn AS (SELECT c.comp_id, c.doc_id, l.nf FROM comps c JOIN lens l USING (doc_id)),
        |agg AS (SELECT comp_id, COUNT(*) AS n_members,
        |          CAST(SUM(nf) AS BIGINT) AS frames_total FROM jn GROUP BY 1),
        |surv AS (SELECT comp_id, doc_id AS survivor_doc_id, nf AS survivor_frames
        |         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY comp_id
        |                 ORDER BY nf DESC, doc_id ASC) AS rk FROM jn)
        |         WHERE rk = 1)
        |SELECT agg.comp_id, agg.n_members, agg.frames_total,
        |  surv.survivor_doc_id, surv.survivor_frames,
        |  agg.frames_total - surv.survivor_frames AS frames_removed
        |FROM agg JOIN surv USING (comp_id) ORDER BY agg.comp_id""".stripMargin,
    // Image dup clusters + survivors: q128's pair chain, the q61
    // recursive closure, highest-resolution-survivor argmax from the
    // metadata catalog.
    "q133_image_dup_clusters" ->
      s"""WITH RECURSIVE $q128Ctes,
        |edges AS (SELECT d1 AS src, d2 AS dst FROM imgpairs
        |          UNION ALL SELECT d2, d1 FROM imgpairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |comps AS (SELECT id AS doc_id, MIN(comp) AS comp_id FROM reach GROUP BY 1),
        |area AS (SELECT doc_id,
        |           CAST((doc_id % 24 + 8) * (doc_id % 16 + 8) AS BIGINT) AS area
        |         FROM documents WHERE doc_id % 3 = 0),
        |jn AS (SELECT c.comp_id, c.doc_id, a.area FROM comps c JOIN area a USING (doc_id)),
        |agg AS (SELECT comp_id, COUNT(*) AS n_members,
        |          CAST(SUM(area) AS BIGINT) AS total_area FROM jn GROUP BY 1),
        |surv AS (SELECT comp_id, doc_id AS survivor_doc_id, area AS survivor_area
        |         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY comp_id
        |                 ORDER BY area DESC, doc_id ASC) AS rk FROM jn)
        |         WHERE rk = 1)
        |SELECT agg.comp_id, agg.n_members, agg.total_area,
        |  surv.survivor_doc_id, surv.survivor_area,
        |  agg.total_area - surv.survivor_area AS area_removed
        |FROM agg JOIN surv USING (comp_id) ORDER BY comp_id""".stripMargin,
    // Incremental dedup: batch (doc_id % 10 = 9) probed against the
    // min-doc_id-per-hash index built from the rest.
    "q68_incremental_dedup" ->
      """WITH d AS (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS content_md5
        |           FROM documents),
        |idx AS (SELECT content_md5, MIN(doc_id) AS dup_of FROM d WHERE doc_id % 10 <> 9 GROUP BY 1)
        |SELECT b.doc_id, b.content_md5,
        |  CASE WHEN i.dup_of IS NULL THEN 'new' ELSE 'dup' END AS status, i.dup_of AS dup_of
        |FROM d b LEFT JOIN idx i USING (content_md5)
        |WHERE b.doc_id % 10 = 9 ORDER BY b.doc_id""".stripMargin,
    // Bloom-pruned incremental dedup: the Bloom filter changes WHICH rows
    // pay the confirm-join shuffle, never the answer — so the oracle is
    // the same plain batch-vs-corpus join as q68, and a bloom false
    // negative would surface as a hash mismatch here.
    "q74_bloom_incremental_dedup" ->
      """WITH d AS (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS content_md5
        |           FROM documents),
        |idx AS (SELECT content_md5, MIN(doc_id) AS dup_of FROM d WHERE doc_id % 10 <> 9 GROUP BY 1)
        |SELECT b.doc_id, b.content_md5,
        |  CASE WHEN i.dup_of IS NULL THEN 'new' ELSE 'dup' END AS status, i.dup_of AS dup_of
        |FROM d b LEFT JOIN idx i USING (content_md5)
        |WHERE b.doc_id % 10 = 9 ORDER BY b.doc_id""".stripMargin,
    // Incremental NEAR-dup: the q29c signature/band machinery, but the
    // bucket table is built from the corpus split only (doc_id % 10 <> 9,
    // capped at MaxBucket smallest doc_ids per bucket — singleton buckets
    // kept: a batch doc joining one IS a candidate pair) and probed by the
    // batch split; per batch doc the best estimate wins (ties: smallest
    // corpus doc_id). Mirrors Dedup.incrementalNearDup, where the corpus
    // side is the PERSISTED bucketed index table.
    "q72_incremental_neardup" ->
      (s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
        |              WHERE len(string_split_regex(text, '\\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |              unnest(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |       FROM toks),
        |hx AS (SELECT doc_id,
        |         CAST(list_sum(list_transform(range(1, 9), i ->
        |           (strpos('0123456789abcdef', substr(md5(s), CAST(i AS INT), 1)) - 1) * CAST(16**(8-i) AS BIGINT)
        |         )) AS BIGINT) AS x
        |       FROM sh),
        |sig AS (SELECT doc_id, ii.i AS perm_idx, MIN((PERMA[CAST(ii.i AS INT)]*x + PERMB[CAST(ii.i AS INT)]) % 4294967291) AS sig_value
        |        FROM hx CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii
        |        GROUP BY 1, 2),
        |bk AS (SELECT doc_id, CAST((perm_idx - 1) // 4 AS BIGINT) AS band_idx,
        |         MIN(CASE WHEN (perm_idx - 1) % 4 = 0 THEN sig_value END) AS s0,
        |         MIN(CASE WHEN (perm_idx - 1) % 4 = 1 THEN sig_value END) AS s1,
        |         MIN(CASE WHEN (perm_idx - 1) % 4 = 2 THEN sig_value END) AS s2,
        |         MIN(CASE WHEN (perm_idx - 1) % 4 = 3 THEN sig_value END) AS s3
        |       FROM sig GROUP BY 1, 2),
        |bkey AS (SELECT doc_id, band_idx,
        |           ((((((s0 % 1000000007) * 1000003 + (s1 % 1000000007)) % 1000000007)
        |               * 1000003 + (s2 % 1000000007)) % 1000000007)
        |               * 1000003 + (s3 % 1000000007)) % 1000000007 AS band_key
        |         FROM bk),
        |mem AS (SELECT doc_id, band_idx, band_key,
        |          ROW_NUMBER() OVER (PARTITION BY band_idx, band_key ORDER BY doc_id) AS rn
        |        FROM bkey WHERE doc_id % 10 <> 9),
        |idx AS (SELECT doc_id, band_idx, band_key FROM mem WHERE rn <= ${operators.Dedup.MaxBucket}),
        |cand AS (SELECT DISTINCT b.doc_id AS bd, i.doc_id AS cd
        |         FROM bkey b JOIN idx i USING (band_idx, band_key)
        |         WHERE b.doc_id % 10 = 9),
        |est AS (SELECT bd, cd,
        |          ROUND(CAST(SUM(CASE WHEN s1.sig_value = s2.sig_value THEN 1 ELSE 0 END) AS DOUBLE)/64, 6) AS est_jaccard
        |        FROM cand
        |        JOIN sig s1 ON s1.doc_id = bd
        |        JOIN sig s2 ON s2.doc_id = cd AND s2.perm_idx = s1.perm_idx
        |        GROUP BY 1, 2),
        |hit AS (SELECT bd, cd, est_jaccard,
        |          ROW_NUMBER() OVER (PARTITION BY bd ORDER BY est_jaccard DESC, cd ASC) AS rk
        |        FROM est WHERE est_jaccard >= 0.5)
        |SELECT d.doc_id,
        |  CASE WHEN h.cd IS NULL THEN 'new' ELSE 'dup' END AS status,
        |  h.cd AS dup_of, h.est_jaccard AS est_jaccard
        |FROM documents d LEFT JOIN (SELECT * FROM hit WHERE rk = 1) h ON h.bd = d.doc_id
        |WHERE d.doc_id % 10 = 9 ORDER BY d.doc_id""".stripMargin
        .replace("PERMA", graft.operators.Dedup.permALiteral)
        .replace("PERMB", graft.operators.Dedup.permBLiteral)),
    "q28_near_dup_jaccard" -> q28Sql,
    // q163: the q28 chain rolled up by unordered source pair, each cell's
    // share of total dup mass, cross-source flag. Mirrors
    // Dedup.crossSourceDupMass (which reads the pair_stats artifact; the
    // oracle re-derives from raw text, re-gating the artifact).
    "q163_cross_source_dup_mass" ->
      (q28ChainSql +
        s""",
        |jj AS (SELECT d1, d2 FROM j WHERE j >= 0.6),
        |ss AS (SELECT LEAST(da.source, db.source) AS source_a,
        |              GREATEST(da.source, db.source) AS source_b
        |       FROM jj JOIN documents da ON da.doc_id = jj.d1
        |               JOIN documents db ON db.doc_id = jj.d2),
        |g AS (SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
        |      FROM ss GROUP BY 1, 2)
        |SELECT source_a, source_b, n_dup_pairs,
        |  ROUND(CAST(n_dup_pairs AS DOUBLE)
        |        / CAST(SUM(n_dup_pairs) OVER () AS DOUBLE), 6) AS pair_share,
        |  (source_a <> source_b) AS is_cross
        |FROM g ORDER BY source_a, source_b""".stripMargin),
    // Threshold operating curve: the q28 chain's (inter, n1, n2) pair
    // core re-derived from raw text, integer-permille Jaccard, one row
    // per candidate cutoff. Mirrors Dedup.dedupThresholdSweep (which
    // reads the pair_stats artifact; this re-gates it every verify run).
    "q167_dedup_threshold_sweep" ->
      (q28ChainSql +
        s""",
        |jpc AS (SELECT d1, d2, (1000 * inter) // (s1.n + s2.n - inter) AS jp
        |        FROM pr JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id),
        |dmx AS (SELECT doc_id, MAX(jp) AS mj FROM
        |          (SELECT d1 AS doc_id, jp FROM jpc UNION ALL SELECT d2, jp FROM jpc)
        |        GROUP BY 1),
        |dmc AS (SELECT dmx.doc_id, dmx.mj, d.n_chars FROM dmx
        |        JOIN documents d USING (doc_id)),
        |ths AS (SELECT unnest([${operators.Dedup.SweepThresholds.mkString(", ")}]) AS th)
        |SELECT CAST(th AS BIGINT) AS threshold_permille,
        |  CAST((SELECT COUNT(*) FROM jpc WHERE jp >= th) AS BIGINT) AS n_pairs,
        |  CAST((SELECT COUNT(*) FROM dmc WHERE mj >= th) AS BIGINT) AS n_docs_flagged,
        |  CAST((SELECT COALESCE(SUM(n_chars), 0) FROM dmc WHERE mj >= th) AS BIGINT)
        |    AS flagged_chars,
        |  ROUND(CAST((SELECT COALESCE(SUM(n_chars), 0) FROM dmc WHERE mj >= th) AS DOUBLE)
        |    / (SELECT CAST(SUM(n_chars) AS DOUBLE) FROM documents), 6) AS flagged_char_share
        |FROM ths ORDER BY threshold_permille""".stripMargin),
    // Modality-skew audit: the q28 text pairs joined against the
    // embedding table (vec_id = doc_id), exact-decimal cosine per pair
    // (the q34 DECIMAL(18,12) routing), three-way status. Mirrors
    // Similarity.modalitySkew (which reads the pair_stats artifact; the
    // oracle re-derives the text chain from raw text).
    "q168_modality_skew" ->
      (q28ChainSql +
        s""",
        |tp AS (SELECT d1, d2, ROUND(j, 6) AS jaccard FROM j WHERE j >= 0.6),
        |uz AS (SELECT tp.d1, tp.d2, unnest(a.embedding) AS x, unnest(b.embedding) AS y
        |       FROM tp JOIN embeddings a ON a.vec_id = tp.d1
        |                JOIN embeddings b ON b.vec_id = tp.d2),
        |cs AS (SELECT d1, d2,
        |         CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
        |           / (sqrt(CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE))
        |            * sqrt(CAST(ROUND(SUM(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE))) AS cos_sim
        |       FROM uz GROUP BY 1, 2)
        |SELECT tp.d1, tp.d2, tp.jaccard, cs.cos_sim,
        |  CASE WHEN cs.cos_sim IS NULL THEN 'missing_embedding'
        |       WHEN cs.cos_sim >= ${operators.Similarity.SkewCosineFloor} THEN 'aligned'
        |       ELSE 'skewed' END AS status
        |FROM tp LEFT JOIN cs ON tp.d1 = cs.d1 AND tp.d2 = cs.d2
        |ORDER BY tp.d1, tp.d2""".stripMargin),
    // Connected components over the near-dup pair graph: DuckDB computes
    // the transitive closure with a recursive CTE (min reachable doc_id =
    // the component id Spark's star-contraction CC converges to).
    "q61_dup_clusters" ->
      s"""WITH RECURSIVE
        |pairs AS ($q28Sql),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |comps AS (SELECT id AS doc_id, MIN(comp) AS comp_id FROM reach GROUP BY 1)
        |SELECT doc_id, comp_id, COUNT(*) OVER (PARTITION BY comp_id) AS n_members
        |FROM comps ORDER BY doc_id""".stripMargin,
    // Dedup survivor selection: q61's recursive closure + a per-cluster
    // deterministic argmax (most tokens, tie smallest doc_id) and the
    // kept/removed token bookkeeping.
    "q120_dedup_survivors" ->
      s"""WITH RECURSIVE
        |pairs AS ($q28Sql),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |comps AS (SELECT id AS doc_id, MIN(comp) AS comp_id FROM reach GROUP BY 1),
        |t AS (SELECT doc_id, CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
        |      FROM documents),
        |j AS (SELECT c.comp_id, c.doc_id, t.n_tokens FROM comps c JOIN t USING (doc_id)),
        |agg AS (SELECT comp_id, COUNT(*) AS n_members,
        |          CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM j GROUP BY 1),
        |surv AS (SELECT comp_id, doc_id AS survivor_doc_id, n_tokens AS survivor_tokens,
        |           ROW_NUMBER() OVER (PARTITION BY comp_id
        |             ORDER BY n_tokens DESC, doc_id ASC) AS rn FROM j)
        |SELECT a.comp_id, a.n_members, a.total_tokens,
        |  s.survivor_doc_id, s.survivor_tokens,
        |  a.total_tokens - s.survivor_tokens AS tokens_removed
        |FROM agg a JOIN surv s ON a.comp_id = s.comp_id AND s.rn = 1
        |ORDER BY a.comp_id""".stripMargin,
    // q165: q120's survivor rule (recursive closure + per-cluster argmax)
    // inverted into the dropped set, then q156's per-source token rollup
    // computed raw vs kept with the signed share delta. Mirrors
    // TextAnalysis.postDedupMixture (which reads the persisted label
    // artifact; the oracle re-derives the closure from raw text).
    "q165_post_dedup_mixture" ->
      s"""WITH RECURSIVE
        |pairs AS ($q28Sql),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |comps AS (SELECT id AS doc_id, MIN(comp) AS comp_id FROM reach GROUP BY 1),
        |t AS (SELECT doc_id, source, CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS tok
        |      FROM documents),
        |jm AS (SELECT c.comp_id, c.doc_id, t.tok FROM comps c JOIN t USING (doc_id)),
        |sv AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY comp_id
        |         ORDER BY tok DESC, doc_id ASC) AS rn FROM jm),
        |dropped AS (SELECT doc_id FROM sv WHERE rn > 1),
        |pd AS (SELECT t.source, t.tok, (dr.doc_id IS NOT NULL) AS is_drop
        |       FROM t LEFT JOIN dropped dr USING (doc_id)),
        |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
        |        CAST(SUM(CASE WHEN is_drop THEN 0 ELSE 1 END) AS BIGINT) AS n_docs_kept,
        |        CAST(SUM(tok) AS BIGINT) AS tokens_raw,
        |        CAST(SUM(CASE WHEN is_drop THEN 0 ELSE tok END) AS BIGINT) AS tokens_kept
        |      FROM pd GROUP BY 1)
        |SELECT source, n_docs_raw, n_docs_kept, tokens_raw, tokens_kept,
        |  ROUND(CAST(tokens_raw AS DOUBLE) / CAST(SUM(tokens_raw) OVER () AS DOUBLE), 6) AS share_raw,
        |  ROUND(CAST(tokens_kept AS DOUBLE) / CAST(SUM(tokens_kept) OVER () AS DOUBLE), 6) AS share_kept,
        |  ROUND(CAST(tokens_kept AS DOUBLE) / CAST(SUM(tokens_kept) OVER () AS DOUBLE)
        |      - CAST(tokens_raw AS DOUBLE) / CAST(SUM(tokens_raw) OVER () AS DOUBLE), 6) AS share_delta
        |FROM g ORDER BY source""".stripMargin,
    // Cluster-aware split: near-dup clusters (the q61 recursive closure)
    // are keyed on their root; unclustered docs fall back to q82's
    // content-hash rule exactly.
    "q89_cluster_safe_split" ->
      s"""WITH RECURSIVE
        |pairs AS ($q28Sql),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |comps AS (SELECT id AS doc_id, MIN(comp) AS comp_id FROM reach GROUP BY 1),
        |d AS (SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_md5
        |      FROM documents),
        |h AS (SELECT doc_id, content_md5,
        |        CAST(list_sum(list_transform(range(1, 9), i ->
        |          (strpos('0123456789abcdef', substr(content_md5, CAST(i AS INT), 1)) - 1) * CAST(16**(8-i) AS BIGINT)
        |        )) AS BIGINT) AS hv_md5
        |      FROM d),
        |j AS (SELECT h.doc_id, c.comp_id,
        |        CASE WHEN c.comp_id IS NOT NULL THEN (c.comp_id * 2654435761 + 17) % 100
        |             ELSE hv_md5 % 100 END AS hv
        |      FROM h LEFT JOIN comps c ON h.doc_id = c.doc_id)
        |SELECT doc_id, comp_id,
        |  CASE WHEN hv < 80 THEN 'train' WHEN hv < 90 THEN 'val' ELSE 'test' END AS split
        |FROM j ORDER BY doc_id""".stripMargin,
    // Media-aware split: ONE recursive closure over the UNION of the
    // text pair graph (q28) and all three media pair graphs
    // (q128/q139/q141 chains — the q146 edge set), then q89's split
    // rule verbatim on the unified roots. Cross-modal duplicates can
    // no longer straddle train/eval.
    "q172_media_safe_split" ->
      s"""WITH RECURSIVE $q128Ctes,
        |$vidFrameCtes,
        |$vidPairCtes,
        |$audSigCtes,
        |$audPairCtes,
        |tpairs AS ($q28Sql),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM tpairs
        |          UNION ALL SELECT d2, d1 FROM tpairs
        |          UNION ALL SELECT d1, d2 FROM imgpairs
        |          UNION ALL SELECT d2, d1 FROM imgpairs
        |          UNION ALL SELECT d1, d2 FROM vidpairs
        |          UNION ALL SELECT d2, d1 FROM vidpairs
        |          UNION ALL SELECT d1, d2 FROM audpairs
        |          UNION ALL SELECT d2, d1 FROM audpairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |comps AS (SELECT id AS doc_id, MIN(comp) AS comp_id FROM reach GROUP BY 1),
        |d AS (SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_md5
        |      FROM documents),
        |h AS (SELECT doc_id, content_md5,
        |        CAST(list_sum(list_transform(range(1, 9), i ->
        |          (strpos('0123456789abcdef', substr(content_md5, CAST(i AS INT), 1)) - 1) * CAST(16**(8-i) AS BIGINT)
        |        )) AS BIGINT) AS hv_md5
        |      FROM d),
        |j AS (SELECT h.doc_id, c.comp_id,
        |        CASE WHEN c.comp_id IS NOT NULL THEN (c.comp_id * 2654435761 + 17) % 100
        |             ELSE hv_md5 % 100 END AS hv
        |      FROM h LEFT JOIN comps c ON h.doc_id = c.doc_id)
        |SELECT doc_id, comp_id,
        |  CASE WHEN hv < 80 THEN 'train' WHEN hv < 90 THEN 'val' ELSE 'test' END AS split
        |FROM j ORDER BY doc_id""".stripMargin,
    // Dedup funnel: q27's keeper rule + the q61 recursive closure
    // (cluster-root keeper) + q76's span coverage under the 500-permille
    // screen, folded into four survival rows.
    "q98_dedup_funnel" ->
      s"""WITH RECURSIVE
        |pairs AS ($q28Sql),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |comps AS (SELECT id AS doc_id, MIN(comp) AS comp_id FROM reach GROUP BY 1),
        |d AS (SELECT doc_id, CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_toks,
        |        md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_md5
        |      FROM documents),
        |ek AS (SELECT content_md5, MIN(doc_id) AS keep_id FROM d GROUP BY 1),
        |toks8 AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
        |          WHERE len(string_split_regex(text, '\\s+')) >= 8),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, len(t)-6), i -> md5(array_to_string(t[i:i+7], ' ')))) AS gh
        |      FROM toks8),
        |own AS (SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY 1),
        |rep AS (SELECT g.doc_id,
        |          CAST(SUM(CASE WHEN o.first_doc < g.doc_id THEN 1 ELSE 0 END) AS BIGINT) * 1000 // COUNT(*) AS rep_permille
        |        FROM g JOIN own o USING (gh) GROUP BY 1),
        |f AS (SELECT d.n_toks,
        |        (d.doc_id = ek.keep_id) AS s2,
        |        (d.doc_id = ek.keep_id AND (c.comp_id IS NULL OR c.comp_id = d.doc_id)) AS s3,
        |        (d.doc_id = ek.keep_id AND (c.comp_id IS NULL OR c.comp_id = d.doc_id)
        |         AND COALESCE(rep.rep_permille < ${operators.Dedup.SpanScreenPermille}, TRUE)) AS s4
        |      FROM d JOIN ek USING (content_md5)
        |      LEFT JOIN comps c ON c.doc_id = d.doc_id
        |      LEFT JOIN rep ON rep.doc_id = d.doc_id),
        |a AS (SELECT COUNT(*) AS d1, CAST(SUM(n_toks) AS BIGINT) AS t1,
        |        CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |        CAST(SUM(CASE WHEN s2 THEN n_toks ELSE 0 END) AS BIGINT) AS t2,
        |        CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
        |        CAST(SUM(CASE WHEN s3 THEN n_toks ELSE 0 END) AS BIGINT) AS t3,
        |        CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
        |        CAST(SUM(CASE WHEN s4 THEN n_toks ELSE 0 END) AS BIGINT) AS t4
        |      FROM f)
        |SELECT 1 AS stage_ord, 'raw' AS stage, d1 AS n_docs, t1 AS n_tokens,
        |       d1 * 1000 // NULLIF(d1, 0) AS retained_docs_permille FROM a
        |UNION ALL SELECT 2, 'exact', d2, t2, d2 * 1000 // NULLIF(d1, 0) FROM a
        |UNION ALL SELECT 3, 'near_dup', d3, t3, d3 * 1000 // NULLIF(d1, 0) FROM a
        |UNION ALL SELECT 4, 'span_screen', d4, t4, d4 * 1000 // NULLIF(d1, 0) FROM a
        |ORDER BY stage_ord""".stripMargin,
    // Overlapping 32-token windows every 24 tokens; tails shorter than
    // the 8-token overlap drop unless they're the only chunk. DuckDB
    // lambda indexes are 1-based (Spark's are 0-based) — hence i = 1 /
    // idx - 1.
    "q55_doc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS tks FROM documents),
        |ch AS (SELECT doc_id,
        |         list_filter(list_transform(range(0, greatest(len(tks), 1), 24), s -> tks[CAST(s+1 AS INT):CAST(s+32 AS INT)]),
        |                     (c, i) -> i = 1 OR len(c) >= 8) AS chunks
        |       FROM t),
        |u AS (SELECT doc_id, unnest(list_transform(chunks, (c, i) -> {'idx': i - 1, 'c': c})) AS e FROM ch)
        |SELECT doc_id, CAST(e.idx AS BIGINT) AS chunk_idx,
        |  CAST(len(e.c) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(e.c, ' ')) AS chunk_md5
        |FROM u ORDER BY doc_id, chunk_idx""".stripMargin,
    // Integer-exact tf-idf ranking: score = tf * ((N+1)*1e6 // (df+1)).
    "q56_tfidf_top3" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nd FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |        tf.tf * ((n.nd + 1) * 1000000 // (dfq.df + 1)) AS score
        |      FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS term_rank FROM s)
        |SELECT doc_id, term_rank, term, tf, df, score
        |FROM r WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin,
    // BM25 in the same integer-exact arithmetic as TextAnalysis.bm25TopDocs
    // (idf and length normalization via BIGINT integral division — `//`
    // here, `div` in Spark — so score is exact, not a float tolerance).
    "q75_bm25_search" -> bm25OracleSql,
    // Retrieval eval: q75's ranking (its oracle text verbatim as a CTE)
    // scored against strict-AND term containment; precision/recall@rank
    // in integer permille.
    "q126_retrieval_eval" ->
      (s"""WITH r AS ($bm25OracleSql),
        |rel AS (SELECT doc_id,
        |          list_has_all(list_distinct(string_split_regex(text, '\\s+')),
        |                       [QTERMS]) AS relevant
        |        FROM documents),
        |t AS (SELECT CAST(SUM(CASE WHEN relevant THEN 1 ELSE 0 END) AS BIGINT) AS total_relevant FROM rel),
        |j AS (SELECT r.rank, r.doc_id, rel.relevant FROM r JOIN rel USING (doc_id)),
        |c AS (SELECT rank, doc_id, relevant,
        |        CAST(SUM(CASE WHEN relevant THEN 1 ELSE 0 END)
        |          OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_relevant
        |      FROM j)
        |SELECT c.rank, c.doc_id, c.relevant, c.cum_relevant,
        |  (1000 * c.cum_relevant) // c.rank AS precision_permille,
        |  t.total_relevant,
        |  (1000 * c.cum_relevant) // nullif(t.total_relevant, 0) AS recall_permille
        |FROM c, t ORDER BY c.rank""".stripMargin
        .replace("QTERMS", operators.TextAnalysis.Bm25QueryTerms.map("'" + _ + "'").mkString(", "))),
    // Cross-doc repeated 8-token spans: DuckDB's t[i:i+7] inclusive slice
    // mirrors Spark's slice(t, i, 8); both engines md5 the identical
    // space-joined span text.
    "q76_repeated_spans" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
        |              WHERE len(string_split_regex(text, '\s+')) >= 8),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, len(t)-6), i -> md5(array_to_string(t[i:i+7], ' ')))) AS gh
        |      FROM toks),
        |own AS (SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY 1),
        |r AS (SELECT g.doc_id, COUNT(*) AS total_spans,
        |        CAST(SUM(CASE WHEN o.first_doc < g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS repeated_spans
        |      FROM g JOIN own o USING (gh) GROUP BY 1)
        |SELECT doc_id, total_spans, repeated_spans,
        |       repeated_spans * 1000 // total_spans AS rep_permille
        |FROM r ORDER BY doc_id""".stripMargin,
    // Hybrid RRF fusion: q75's integer-exact BM25 arm (depth 20) + a
    // dense cosine arm (query = embedding 0, decimal-exact dot), fused
    // with BIGINT floor(1e6/(60+rank)) terms so the order is hash-exact.
    "q77_hybrid_rrf" ->
      (s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
        |st AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS total_dl, COUNT(*) AS n_docs FROM toks),
        |ex AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM ex
        |       WHERE term IN (${operators.TextAnalysis.Bm25QueryTerms.map("'" + _ + "'").mkString(", ")})
        |       GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT t.doc_id, t.tf, t.dl,
        |         ((s.n_docs + 1) * 1000000 // (d.df + 1))
        |           * ((t.tf * 2200 * 1000) //
        |              (1000*t.tf + 300 + (900*t.dl*1000) // (s.total_dl*1000 // s.n_docs))) AS term_score
        |       FROM tf t JOIN dfq d USING (term) CROSS JOIN st s),
        |agg AS (SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score FROM sc GROUP BY 1),
        |lexr AS (SELECT doc_id AS id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank FROM agg),
        |lex AS (SELECT * FROM lexr WHERE lex_rank <= ${operators.Similarity.RrfDepth}),
        |nr AS (SELECT vec_id, sqrt(CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)) AS nrm
        |       FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
        |q AS (SELECT e.embedding AS qe, nr.nrm AS qn FROM embeddings e JOIN nr ON e.vec_id = nr.vec_id WHERE e.vec_id = 0),
        |u AS (SELECT e.vec_id, nr.nrm AS nn, q.qn, unnest(e.embedding) AS x, unnest(q.qe) AS y
        |      FROM embeddings e JOIN nr ON e.vec_id = nr.vec_id CROSS JOIN q WHERE e.vec_id <> 0),
        |ds AS (SELECT vec_id,
        |         CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
        |           / (any_value(nn) * any_value(qn)) AS cs
        |       FROM u GROUP BY vec_id),
        |denr AS (SELECT vec_id AS id, ROW_NUMBER() OVER (ORDER BY cs DESC, vec_id ASC) AS dense_rank FROM ds),
        |den AS (SELECT * FROM denr WHERE dense_rank <= ${operators.Similarity.RrfDepth}),
        |f AS (SELECT COALESCE(l.id, d.id) AS id, l.lex_rank, d.dense_rank,
        |        CAST(COALESCE(1000000 // (${operators.Similarity.RrfK} + l.lex_rank), 0)
        |           + COALESCE(1000000 // (${operators.Similarity.RrfK} + d.dense_rank), 0) AS BIGINT) AS rrf_score
        |      FROM lex l FULL JOIN den d ON l.id = d.id),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_score DESC, id ASC) AS rank FROM f)
        |SELECT rank, id, rrf_score, lex_rank, dense_rank FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin),
    // Exact heavy hitters: the two-phase MG sketch changes WHO pays for an
    // exact count, never the answer — the oracle is the plain threshold.
    "q78_heavy_hitters" ->
      (s"""WITH ex AS (SELECT unnest(string_split_regex(text, '\\s+')) AS token FROM documents),
        |tt AS (SELECT COUNT(*) AS total FROM ex),
        |c AS (SELECT token, COUNT(*) AS cnt FROM ex GROUP BY 1)
        |SELECT c.token, c.cnt, tt.total, c.cnt * 1000 // tt.total AS share_permille
        |FROM c CROSS JOIN tt WHERE c.cnt * ${operators.TextAnalysis.HhK} > tt.total
        |ORDER BY c.cnt DESC, c.token ASC""".stripMargin),
    "q79_source_coverage" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |             CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS tokens
        |           FROM documents GROUP BY 1),
        |g AS (SELECT CAST(SUM(tokens) AS BIGINT) AS grand FROM s),
        |r AS (SELECT s.*, g.grand,
        |        ROW_NUMBER() OVER (ORDER BY tokens DESC, source ASC) AS rank,
        |        CAST(SUM(tokens) OVER (ORDER BY tokens DESC, source ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) * 1000 // g.grand AS cum_permille
        |      FROM s CROSS JOIN g)
        |SELECT rank, source, n_docs, tokens, tokens * 1000 // grand AS share_permille, cum_permille
        |FROM r ORDER BY rank""".stripMargin,
    // Ordered funnel: stacked per-user window minima (view -> click at or
    // after it -> purchase at or after that), folded to 4 stage rows.
    "q125_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END)
        |        OVER (PARTITION BY user_id) AS tv FROM e),
        |c AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND us >= tv THEN us END)
        |        OVER (PARTITION BY user_id) AS tc FROM v),
        |p AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us >= tc THEN us END)
        |        OVER (PARTITION BY user_id) AS tp FROM c),
        |u AS (SELECT user_id, MAX(tv) AS tv, MAX(tc) AS tc, MAX(tp) AS tp FROM p GROUP BY 1),
        |a AS (SELECT COUNT(*) AS n_users,
        |        CAST(SUM(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |        CAST(SUM(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |        CAST(SUM(CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
        |      FROM u)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_ord, 'all_users' AS stage,
        |         n_users AS n_users, CAST(1000 AS BIGINT) AS conv_permille FROM a
        |  UNION ALL SELECT 2, 'viewed', n_view, (1000 * n_view) // nullif(n_users, 0) FROM a
        |  UNION ALL SELECT 3, 'clicked_after_view', n_click, (1000 * n_click) // nullif(n_view, 0) FROM a
        |  UNION ALL SELECT 4, 'purchased_after_click', n_purchase, (1000 * n_purchase) // nullif(n_click, 0) FROM a)
        |ORDER BY stage_ord""".stripMargin,
    // Embedding dim health: per-dim fixed-point range + exact-zero mass;
    // dead = min == max (collapsed projection). Dims come from the ARRAY
    // (index-lambda unnest), not a fixed range(1,65) zip, so ragged or
    // null vectors report the same dim cells as the Spark posexplode.
    "q124_embedding_dim_health" ->
      """WITH z AS (SELECT unnest(list_transform(embedding,
        |             (v, i) -> struct_pack(dim := i, v := v))) AS z FROM embeddings),
        |e AS (SELECT CAST(z.dim AS BIGINT) AS dim,
        |             CAST(floor(CAST(z.v AS DOUBLE) * 1e12) AS BIGINT) AS vf, z.v AS v
        |           FROM z)
        |SELECT dim, MIN(vf) AS vmin_fp, MAX(vf) AS vmax_fp,
        |  MAX(vf) - MIN(vf) AS spread_fp,
        |  CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  MIN(vf) = MAX(vf) AS dead
        |FROM e GROUP BY 1 ORDER BY dim""".stripMargin,
    // DSIR importance resampling: hashed unigram+bigram bucket models
    // (q29c's md5 32-bit reduction mod B), add-one-smoothed target-vs-raw
    // rate ratio per bucket via HUGEINT cross-multiplication, per-doc
    // mean weight capped, weight-scaled deterministic hash keep rule,
    // per-language selection audit.
    "q129_dsir_sample" ->
      s"""WITH d AS (SELECT doc_id, lang, string_split_regex(text, '\\s+') AS ts FROM documents),
        |occ AS (SELECT doc_id, lang, unnest(ts) AS f FROM d
        |        UNION ALL
        |        SELECT doc_id, lang,
        |          unnest(list_transform(range(1, CAST(greatest(len(ts), 1) AS BIGINT)),
        |                                i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)])) AS f
        |        FROM d),
        |bk AS (SELECT doc_id, lang,
        |         CAST(list_sum(list_transform(range(1, 9), i ->
        |           (strpos('0123456789abcdef', substr(md5(f), CAST(i AS INT), 1)) - 1) * CAST(16**(8-i) AS BIGINT)
        |         )) AS BIGINT) % ${operators.TextAnalysis.DsirBuckets} AS bkt
        |       FROM occ),
        |m AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c_r,
        |        CAST(SUM(CASE WHEN lang = '${operators.TextAnalysis.DsirTargetLang}' THEN 1 ELSE 0 END) AS BIGINT) AS c_t
        |      FROM bk GROUP BY 1),
        |t AS (SELECT CAST(SUM(c_r) AS BIGINT) AS d_r, CAST(SUM(c_t) AS BIGINT) AS d_t FROM m),
        |w AS (SELECT bkt,
        |        CAST((1000::HUGEINT * (c_t + 1) * (d_r + ${operators.TextAnalysis.DsirBuckets}))
        |          // ((c_r + 1) * (d_t + ${operators.TextAnalysis.DsirBuckets})) AS BIGINT) AS w_b
        |      FROM m, t),
        |doc AS (SELECT bk.doc_id, bk.lang,
        |          least(${operators.TextAnalysis.DsirCapPermille},
        |                CAST(SUM(w_b) AS BIGINT) // COUNT(*)) AS w_doc
        |        FROM bk JOIN w USING (bkt) GROUP BY 1, 2),
        |k AS (SELECT doc_id, lang, w_doc,
        |        ((doc_id % 1000000) * 1597334677 + 7) % 1000000 < w_doc * ${operators.TextAnalysis.DsirBudgetPermille} AS kept
        |      FROM doc)
        |SELECT lang, lang = '${operators.TextAnalysis.DsirTargetLang}' AS is_target,
        |  COUNT(*) AS n_raw,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  (1000 * CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS kept_permille,
        |  CAST(SUM(w_doc) AS BIGINT) // COUNT(*) AS mean_w_permille,
        |  COALESCE(CAST(SUM(CASE WHEN kept THEN w_doc END) AS BIGINT)
        |    // nullif(CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT), 0), 0) AS mean_w_kept_permille
        |FROM k GROUP BY 1, 2 ORDER BY lang""".stripMargin,
    // k-anonymity screen: group sizes over the (source, lang,
    // length-bucket) quasi-identifier tuple, below-k flags, corpus k.
    "q132_k_anonymity" ->
      s"""WITH g AS (SELECT source, lang,
        |    n_chars // ${operators.TextAnalysis.KAnonLenBucket} * ${operators.TextAnalysis.KAnonLenBucket} AS len_bucket_lo,
        |    COUNT(*) AS n_docs
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT source, lang, len_bucket_lo, n_docs,
        |  n_docs < ${operators.TextAnalysis.KAnonK} AS below_k,
        |  CAST(MIN(n_docs) OVER () AS BIGINT) AS corpus_k
        |FROM g ORDER BY source, lang, len_bucket_lo""".stripMargin,
    // Unigram-LM tokenizer: seed substring stats, whole-bit costs, one
    // unrolled-Viterbi hard-E-step, usage-ranked prune — the whole
    // trained vocab re-derived in SQL (generated CTE chain, the q103
    // pattern); encode replays a second DP under the re-scored vocab.
    "q130_unigram_train" -> operators.TextAnalysis.unigramTrainOracleSql(),
    "q131_unigram_encode" -> operators.TextAnalysis.unigramEncodeOracleSql(),
    "q136_unigram_fertility" -> operators.TextAnalysis.unigramFertilityOracleSql(),
    // Zipf rank-frequency audit: exact top-k token histogram with
    // rank x count and cumulative stream share; all BIGINT (sums cast —
    // DuckDB SUM/windowed-SUM over BIGINT widens to HUGEINT).
    "q123_zipf_audit" ->
      s"""WITH c AS (SELECT tok, COUNT(*) AS cnt FROM
        |    (SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM documents) GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
        |tp AS (SELECT tok, CAST(cnt AS BIGINT) AS cnt FROM c
        |       ORDER BY cnt DESC, tok LIMIT ${operators.TextAnalysis.ZipfTopK}),
        |r AS (SELECT tok, cnt,
        |        CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rnk
        |      FROM tp)
        |SELECT r.rnk, r.tok, r.cnt, r.rnk * r.cnt AS rank_x_cnt,
        |  (1000 * CAST(SUM(r.cnt) OVER (ORDER BY r.rnk
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)) // t.total
        |    AS cum_share_permille
        |FROM r, t ORDER BY r.rnk""".stripMargin,
    // Annealed mixture schedule: q80's rate derivation per epoch (w =
    // count / floor(sqrt(count)) / 1 for epochs 1/2/3), epoch-salted
    // hash sampler, per-epoch normalizers via PARTITION BY epoch windows.
    "q122_annealed_mixture" ->
      s"""WITH c AS (SELECT source, COUNT(*) AS count_s FROM documents GROUP BY 1),
        |ep AS (SELECT unnest(range(1, 4)) AS epoch),
        |we AS (SELECT epoch, source, count_s,
        |         CASE epoch WHEN 1 THEN count_s
        |                    WHEN 2 THEN CAST(floor(sqrt(count_s)) AS BIGINT)
        |                    ELSE 1 END AS w
        |       FROM c CROSS JOIN ep),
        |ws AS (SELECT epoch, source, count_s, w,
        |         CAST(SUM(count_s) OVER (PARTITION BY epoch) AS BIGINT) AS total,
        |         CAST(SUM(w) OVER (PARTITION BY epoch) AS BIGINT) AS sum_w
        |       FROM we),
        |rt AS (SELECT epoch, source, count_s, w,
        |         LEAST(1000, CASE WHEN epoch = 1
        |           THEN (1000 * (total // ${operators.TextAnalysis.MixTargetDiv})) // total
        |           ELSE (1000 * (total // ${operators.TextAnalysis.MixTargetDiv}) * w)
        |                  // (sum_w * count_s) END) AS rate_permille
        |       FROM ws)
        |SELECT rt.epoch, rt.source, rt.count_s, rt.w, rt.rate_permille,
        |  COUNT(*) AS n_sampled, CAST(SUM(d.n_chars) AS BIGINT) AS sampled_chars
        |FROM documents d JOIN rt ON d.source = rt.source
        |WHERE (d.doc_id * 2654435761 + 987654321 + rt.epoch * ${operators.TextAnalysis.AnnealEpochSalt}) % 1000 < rt.rate_permille
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY rt.epoch, rt.source""".stripMargin,
    // Temperature mixture: rates derived via floor(sqrt(count)) (IEEE sqrt
    // is correctly rounded, counts << 2^52, so both engines floor the same
    // double), keep rule = the multiplicative hash cut at rate_permille.
    "q80_temperature_mixture" ->
      (s"""WITH c AS (SELECT source, COUNT(*) AS count_s FROM documents GROUP BY 1),
        |g AS (SELECT CAST(SUM(CAST(floor(sqrt(count_s)) AS BIGINT)) AS BIGINT) AS sum_w,
        |             CAST(SUM(count_s) AS BIGINT) AS total FROM c),
        |rt AS (SELECT c.source, c.count_s, CAST(floor(sqrt(c.count_s)) AS BIGINT) AS w,
        |         LEAST(1000, (1000 * (g.total // ${operators.TextAnalysis.MixTargetDiv}) * CAST(floor(sqrt(c.count_s)) AS BIGINT))
        |                       // (g.sum_w * c.count_s)) AS rate_permille
        |       FROM c CROSS JOIN g)
        |SELECT rt.source, rt.count_s, rt.w, rt.rate_permille,
        |       COUNT(*) AS n_sampled, CAST(SUM(d.n_chars) AS BIGINT) AS sampled_chars
        |FROM documents d JOIN rt ON d.source = rt.source
        |WHERE (d.doc_id * 2654435761 + 987654321) % 1000 < rt.rate_permille
        |GROUP BY 1, 2, 3, 4 ORDER BY rt.source""".stripMargin),
    // Leakage-safe split: the split hashes the CONTENT digest (first 8 md5
    // hex digits as an integer — Spark conv(,16,10), here a positional
    // digit fold), so identical documents always share a split.
    "q82_leakage_safe_split" ->
      """WITH d AS (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS content_md5
        |           FROM documents),
        |h AS (SELECT doc_id, content_md5,
        |        CAST(list_sum(list_transform(range(1, 9), i ->
        |          (strpos('0123456789abcdef', substr(content_md5, CAST(i AS INT), 1)) - 1) * CAST(16**(8-i) AS BIGINT)
        |        )) AS BIGINT) AS hv
        |      FROM d)
        |SELECT doc_id, content_md5,
        |  CASE WHEN hv % 100 < 80 THEN 'train' WHEN hv % 100 < 90 THEN 'val' ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,
    // Deterministic shuffle/shard: position is a pure function of the
    // multiplicative-hash key within the hash-assigned shard.
    "q83_shard_manifest" ->
      s"""WITH d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
        |    (doc_id * 48271 + 11) % 999983 AS skey
        |  FROM documents)
        |SELECT skey % ${operators.TextAnalysis.NumShards} AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY skey % ${operators.TextAnalysis.NumShards}
        |    ORDER BY skey, doc_id) AS BIGINT) AS pos,
        |  doc_id, skey, n_tokens
        |FROM d ORDER BY shard, pos""".stripMargin,
    // Shard integrity checksums: q83's shard key + q82's content-hash
    // fold, order-independent per-shard sums.
    "q127_shard_checksums" ->
      s"""WITH m AS (SELECT doc_id, text,
        |      md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_md5
        |    FROM documents),
        |d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
        |    (doc_id * 48271 + 11) % 999983 AS skey,
        |    CAST(list_sum(list_transform(range(1, 9), i ->
        |      (strpos('0123456789abcdef', substr(content_md5, CAST(i AS INT), 1)) - 1)
        |        * CAST(16**(8-i) AS BIGINT))) AS BIGINT) AS hv
        |  FROM m)
        |SELECT skey % ${operators.TextAnalysis.NumShards} AS shard,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(hv) AS BIGINT) AS content_checksum,
        |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
        |FROM d GROUP BY 1 ORDER BY shard""".stripMargin,
    // Token-budget quota: greedy prefix (in hash order) per source until
    // the running token sum exceeds the budget.
    "q84_token_budget_quota" ->
      s"""WITH d AS (SELECT source, doc_id,
        |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
        |    (doc_id * 69621 + 3) % 999959 AS hkey
        |  FROM documents),
        |c AS (SELECT source, doc_id, hkey, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY hkey, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM d)
        |SELECT source, doc_id, hkey, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens <= ${operators.TextAnalysis.QuotaTokens}
        |ORDER BY source, cum_tokens""".stripMargin,
    // Unigram LM surprisal in WHOLE BITS: floor(log2 x) = len(bin(x)) - 1
    // exactly on both engines, so no float log anywhere; OOV pays the
    // ceiling cost bits_total (cnt -> 1).
    "q85_lm_surprisal" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t FROM documents),
        |model AS (SELECT t, COUNT(*) AS cnt FROM toks
        |          WHERE (doc_id * 2654435761) % 100 >= 20 GROUP BY 1),
        |tot AS (SELECT CAST(length(bin(CAST(SUM(cnt) AS BIGINT))) - 1 AS BIGINT) AS bits_total FROM model),
        |scored AS (SELECT doc_id,
        |             bits_total - (length(bin(COALESCE(cnt, 1))) - 1) AS bits,
        |             CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS oov
        |           FROM toks LEFT JOIN model USING (t) CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(oov) AS BIGINT) AS n_oov,
        |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
        |  (100 * CAST(SUM(bits) AS BIGINT)) // COUNT(*) AS bits_x100
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // Random sign projection: the oracle regenerates the hashed +-1 matrix
    // positionally and folds each output component in exact decimal.
    "q86_random_projection" -> operators.Similarity.randomProjectionOracleSql(),
    // Composite curation gate: four integer-exact signals (length, q64's
    // top-token rule via MAX(count), q70's df-model OOV rate, q85's
    // whole-bit surprisal) folded into a fail bitmask + keep verdict.
    "q90_curation_gate" -> curationGateOracleSql,
    // Gate rejection breakdown: q90's verdicts as a per-(source, mask)
    // cross-tab with integer-exact shares — the q100/q116 composition
    // pattern (the leg's oracle text verbatim as a CTE).
    "q118_rejection_breakdown" ->
      s"""WITH g AS ($curationGateOracleSql),
        |per AS (SELECT d.source, g.fail_mask, COUNT(*) AS n_docs
        |        FROM g JOIN documents d USING (doc_id) GROUP BY 1, 2)
        |SELECT source, fail_mask, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(SUM(n_docs) OVER (PARTITION BY source) AS BIGINT) AS src_docs,
        |  (1000 * CAST(n_docs AS BIGINT))
        |    // CAST(SUM(n_docs) OVER (PARTITION BY source) AS BIGINT) AS share_permille
        |FROM per ORDER BY source, fail_mask""".stripMargin,
    // Lang-vs-script consistency audit: exact ASCII-printable permille
    // per doc, suspects counted both directions (latin label over
    // non-ASCII text, non-latin label over ASCII text).
    "q119_script_audit" -> {
      val latin = operators.TextAnalysis.ScriptLatinLangs.map(l => s"'$l'").mkString(", ")
      val floor = operators.TextAnalysis.ScriptAsciiFloorPermille
      s"""WITH p AS (SELECT lang,
        |    CASE WHEN length(text) = 0 THEN 1000
        |         ELSE (1000 * length(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')))
        |              // length(text) END AS ap
        |  FROM documents),
        |s AS (SELECT lang, ap,
        |        CASE WHEN lang IN ($latin) THEN (CASE WHEN ap < $floor THEN 1 ELSE 0 END)
        |             ELSE (CASE WHEN ap >= $floor THEN 1 ELSE 0 END) END AS susp
        |      FROM p)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(susp) AS BIGINT) AS n_suspect,
        |  (1000 * CAST(SUM(susp) AS BIGINT)) // COUNT(*) AS suspect_permille,
        |  CAST(MIN(ap) AS BIGINT) AS min_ascii_permille,
        |  CAST(SUM(ap) AS BIGINT) // COUNT(*) AS mean_ascii_permille
        |FROM s GROUP BY 1 ORDER BY lang""".stripMargin
    },
    // BPE first merge: top adjacent char pair within words (tie-break
    // cnt desc, pair asc), applied left-to-right non-overlapping via
    // replace() length arithmetic on both engines.
    "q91_bpe_first_merge" ->
      """WITH w AS (SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
        |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair
        |      FROM (SELECT w, unnest(range(1, length(w))) AS i FROM w WHERE length(w) >= 2)),
        |c AS (SELECT pair, COUNT(*) AS cnt FROM p GROUP BY 1),
        |top AS (SELECT pair AS top_pair, cnt AS pair_cnt FROM c ORDER BY cnt DESC, pair ASC LIMIT 1)
        |SELECT d.doc_id, t.top_pair, t.pair_cnt,
        |  CAST(length(d.text) - length(replace(d.text, t.top_pair, '·')) AS BIGINT) AS n_merges,
        |  CAST(length(d.text) AS BIGINT) AS n_chars_before,
        |  CAST(length(replace(d.text, t.top_pair, '·')) AS BIGINT) AS n_chars_after
        |FROM documents d CROSS JOIN top t ORDER BY d.doc_id""".stripMargin,
    // Multi-iteration BPE: the q91 learn/apply step iterated; the oracle
    // unrolls the same chain as CTEs (LIMIT-1 recount + chr(256+i) merge
    // apply per iteration) so learned pairs, counts, and every
    // per-iteration merge count are hash-gated.
    "q103_bpe_train" -> operators.TextAnalysis.bpeTrainOracleSql(),
    // Span-level dedup rewrite: q76's duplicated 8-token spans EXCISED
    // from every non-owner document, the corpus rewritten; covered token
    // positions via a left join against the per-doc covered-position set,
    // kept text rebuilt with an ordered string_agg.
    "q105_span_dedup_rewrite" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(range(1, len(t)-6)) AS s,
        |        unnest(list_transform(range(1, len(t)-6), i -> md5(array_to_string(t[i:i+7], ' ')))) AS gh
        |      FROM toks WHERE len(t) >= 8),
        |own AS (SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY 1),
        |ex AS (SELECT g.doc_id, g.s FROM g JOIN own USING (gh) WHERE own.first_doc < g.doc_id),
        |cov AS (SELECT DISTINCT doc_id, s + d AS p
        |        FROM ex CROSS JOIN (SELECT unnest(range(0, 8)) AS d)),
        |tokpos AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t)+1)) AS i FROM toks),
        |kept AS (SELECT tp.doc_id, COUNT(*) AS n_kept,
        |           string_agg(tp.tok, ' ' ORDER BY tp.i) AS text_dedup
        |         FROM tokpos tp LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.i = c.p
        |         WHERE c.p IS NULL GROUP BY 1)
        |SELECT tk.doc_id,
        |  CAST(len(tk.t) AS BIGINT) AS n_tokens,
        |  CAST(len(tk.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(k.text_dedup, '') AS text_dedup
        |FROM toks tk LEFT JOIN kept k USING (doc_id)
        |ORDER BY tk.doc_id""".stripMargin,
    // Incremental span dedup: the doc_id%10=9 batch rewritten against the
    // history side's presence-only span set (q68's batch-vs-index split at
    // span level); same covered-position rebuild as q105.
    "q106_span_dedup_incremental" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
        |bt AS (SELECT * FROM toks WHERE doc_id % 10 = 9),
        |hist AS (SELECT DISTINCT md5(array_to_string(t[i:i+7], ' ')) AS gh
        |         FROM (SELECT t, unnest(range(1, len(t)-6)) AS i FROM toks
        |               WHERE doc_id % 10 <> 9 AND len(t) >= 8)),
        |bs AS (SELECT doc_id,
        |         unnest(range(1, len(t)-6)) AS s,
        |         unnest(list_transform(range(1, len(t)-6), i -> md5(array_to_string(t[i:i+7], ' ')))) AS gh
        |       FROM bt WHERE len(t) >= 8),
        |ex AS (SELECT bs.doc_id, bs.s FROM bs JOIN hist USING (gh)),
        |cov AS (SELECT DISTINCT doc_id, s + d AS p
        |        FROM ex CROSS JOIN (SELECT unnest(range(0, 8)) AS d)),
        |tokpos AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t)+1)) AS i FROM bt),
        |kept AS (SELECT tp.doc_id, COUNT(*) AS n_kept,
        |           string_agg(tp.tok, ' ' ORDER BY tp.i) AS text_dedup
        |         FROM tokpos tp LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.i = c.p
        |         WHERE c.p IS NULL GROUP BY 1)
        |SELECT tk.doc_id,
        |  CAST(len(tk.t) AS BIGINT) AS n_tokens,
        |  CAST(len(tk.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(k.text_dedup, '') AS text_dedup
        |FROM bt tk LEFT JOIN kept k USING (doc_id)
        |ORDER BY tk.doc_id""".stripMargin,
    // BPE encode: the trained merge chain applied to the corpus, reported
    // as the encoded vocabulary-usage table (per-symbol occurrences and
    // token-type spread, merge symbols flagged) — shares q103's unrolled
    // CTE chain, reads only its final working corpus.
    "q104_bpe_encode" -> operators.TextAnalysis.bpeEncodeOracleSql(),
    // Tokenizer fertility by source: the q103 learn/apply chain's final
    // corpus joined back to documents for the source label; fertility and
    // compression as integer-exact permille rates.
    "q117_bpe_fertility" -> operators.TextAnalysis.bpeFertilityOracleSql(),
    // Intra-doc run collapse: gaps-and-islands run ids (i - rn over
    // (doc, tok)) → position-in-run; kept = pos ≤ 2, rebuilt with an
    // ordered string_agg; run stats from the run-length table.
    "q108_run_collapse" -> runCollapseOracleSql,
    // q114 is q108 as pure SQL text through the registered native kernel
    // (graft_collapse_runs by name) — shared oracle, two API surfaces.
    "q114_sql_run_collapse" -> runCollapseOracleSql,
    "q109_column_profile" -> profileOracleSql,
    // q113 produces the SAME report from merged batch+history histograms
    // (histograms are sufficient statistics; counts add) — the q57/q32
    // shared-oracle pattern: one semantic definition, two physical shapes.
    "q113_profile_incremental" -> profileOracleSql,
    // Source-mix drift: per-source doc counts both sides; share drift =
    // |docs_b·N_h − docs_h·N_b|, mean-length drift = |chars_b·docs_h −
    // chars_h·docs_b| — exact cross-multiplication, no float rates.
    "q115_source_drift" -> sourceDriftOracleSql,
    // The monitor panel re-derives all three legs as CTEs (their texts
    // verbatim) and unions the long-format rows — composition gated
    // end-to-end, the q100 pattern for the monitoring family.
    "q116_monitor_panel" ->
      s"""WITH e AS (${embeddingDriftOracleSql}),
        |s AS (${sourceDriftOracleSql}),
        |t AS (${tokenDriftOracleSql})
        |SELECT 'embedding' AS monitor, CAST(label AS VARCHAR) AS item,
        |       n_batch AS batch_cnt, n_hist AS hist_cnt, l1_drift AS drift
        |FROM e
        |UNION ALL
        |SELECT 'source', source, docs_batch, docs_hist, share_drift FROM s
        |UNION ALL
        |SELECT 'token', tok, cnt_batch, cnt_hist, drift FROM t
        |ORDER BY monitor, item""".stripMargin,
    // Vocabulary growth: first appearance per distinct (gram, type) →
    // decile histogram → running sum per gram (the one-scan Heaps
    // curves, unigram + bigram).
    "q110_vocab_growth" ->
      """WITH d AS (SELECT doc_id, string_split_regex(text, '\s+') AS ts FROM documents),
        |tp AS (SELECT doc_id, 1 AS gram, unnest(ts) AS term FROM d
        |       UNION ALL
        |       SELECT doc_id, 2 AS gram,
        |         unnest(list_transform(range(1, CAST(greatest(len(ts), 1) AS BIGINT)),
        |                               i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)])) AS term
        |       FROM d),
        |fs AS (SELECT gram, term, MIN(doc_id) AS first_doc FROM tp GROUP BY 1, 2),
        |mx AS (SELECT MAX(doc_id) AS m FROM documents),
        |h AS (SELECT gram, CAST(first_doc * 10 // (mx.m + 1) + 1 AS BIGINT) AS decile,
        |        COUNT(*) AS new_types
        |      FROM fs, mx GROUP BY 1, 2)
        |SELECT CAST(gram AS BIGINT) AS gram, decile, CAST(new_types AS BIGINT) AS new_types,
        |  CAST(SUM(new_types) OVER (PARTITION BY gram ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
        |FROM h ORDER BY gram, decile""".stripMargin,
    // Token drift: batch-vs-history counts in one histogram; exact
    // cross-multiplied rate difference computed in DECIMAL(38,0) and
    // emitted as a canonical digit string; top 25 with token tie-break.
    "q111_token_drift" -> tokenDriftOracleSql,
    // Embedding drift: per-(label, dim) count-scaled mean comparison via
    // exact cross-multiplication (q111's statistic, dense side); values
    // enter as fixed-point floor(v*1e12) BIGINTs (IEEE-identical on both
    // engines — decimal CASTs round ties engine-specifically); L1 over
    // dims + the most-shifted dim with smallest-dim tie-break.
    "q112_embedding_drift" -> embeddingDriftOracleSql,
    // Threshold-calibration sweep: q85's scoring bucketed, with the
    // cumulative keep rate per candidate threshold.
    "q94_surprisal_sweep" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t FROM documents),
        |model AS (SELECT t, COUNT(*) AS cnt FROM toks
        |          WHERE (doc_id * 2654435761) % 100 >= 20 GROUP BY 1),
        |tot AS (SELECT CAST(length(bin(CAST(SUM(cnt) AS BIGINT))) - 1 AS BIGINT) AS bits_total FROM model),
        |scored AS (SELECT doc_id, bits_total - (length(bin(COALESCE(cnt, 1))) - 1) AS bits
        |           FROM toks LEFT JOIN model USING (t) CROSS JOIN tot),
        |per_doc AS (SELECT doc_id,
        |              (100 * CAST(SUM(bits) AS BIGINT)) // COUNT(*) AS bits_x100
        |            FROM scored GROUP BY 1),
        |hist AS (SELECT (bits_x100 // ${operators.TextAnalysis.SweepBucket}) * ${operators.TextAnalysis.SweepBucket} AS bucket_lo,
        |           COUNT(*) AS n_docs FROM per_doc GROUP BY 1),
        |c AS (SELECT bucket_lo, n_docs,
        |        CAST(SUM(n_docs) OVER (ORDER BY bucket_lo
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
        |        CAST(SUM(n_docs) OVER () AS BIGINT) AS total
        |      FROM hist)
        |SELECT bucket_lo, n_docs, cum_docs, (1000 * cum_docs) // total AS keep_rate_permille
        |FROM c ORDER BY bucket_lo""".stripMargin,
    // Label-consistency audit: duplicate-content groups with conflicting
    // lang/source labels.
    "q95_label_consistency" ->
      """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS content_md5,
        |  COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  MIN(doc_id) AS first_doc_id
        |FROM documents GROUP BY 1
        |HAVING COUNT(*) >= 2 AND (COUNT(DISTINCT lang) > 1 OR COUNT(DISTINCT source) > 1)
        |ORDER BY content_md5""".stripMargin,
    // Winnowing fingerprints: the oracle recomputes the direct polynomial
    // per position; the Spark side's rolling kernel must match exactly.
    "q97_winnowing_fingerprints" -> operators.TextAnalysis.winnowingOracleSql(),
    // Exact-count stratified sample: k per language by hash rank.
    "q92_stratified_topk" ->
      s"""WITH d AS (SELECT lang, doc_id, source,
        |    (doc_id * 1664525 + 1013904223) % 999979 AS hkey FROM documents),
        |r AS (SELECT lang, doc_id, source, hkey,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hkey, doc_id) AS BIGINT) AS rk
        |  FROM d)
        |SELECT lang, rk, doc_id, source, hkey FROM r
        |WHERE rk <= ${operators.TextAnalysis.StratifiedK} ORDER BY lang, rk""".stripMargin,
    // Training manifest: q82's split rule x q90's gate x embedding
    // presence (doc_id = vec_id), trainable = keep AND train AND has_emb.
    "q93_training_manifest" ->
      s"""WITH dd AS (SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_md5
        |            FROM documents),
        |hh AS (SELECT doc_id,
        |         CAST(list_sum(list_transform(range(1, 9), i ->
        |           (strpos('0123456789abcdef', substr(content_md5, CAST(i AS INT), 1)) - 1) * CAST(16**(8-i) AS BIGINT)
        |         )) AS BIGINT) AS hv
        |       FROM dd),
        |sp AS (SELECT doc_id,
        |         CASE WHEN hv % 100 < 80 THEN 'train' WHEN hv % 100 < 90 THEN 'val' ELSE 'test' END AS split
        |       FROM hh),
        |toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t FROM documents),
        |model AS (SELECT t, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df FROM toks
        |          WHERE (doc_id * 2654435761) % 100 >= 20 GROUP BY 1),
        |tot AS (SELECT CAST(length(bin(CAST(SUM(cnt) AS BIGINT))) - 1 AS BIGINT) AS bits_total FROM model),
        |sc AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |         CAST(SUM(CASE WHEN COALESCE(df, 0) < ${operators.TextAnalysis.MinDf} THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |         CAST(SUM(bits_total - (length(bin(COALESCE(cnt, 1))) - 1)) AS BIGINT) AS sum_bits
        |       FROM toks LEFT JOIN model USING (t) CROSS JOIN tot GROUP BY 1),
        |tc AS (SELECT doc_id, MAX(c) AS top_tok_cnt FROM
        |         (SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY 1, 2) GROUP BY 1),
        |gate AS (SELECT s.doc_id,
        |           CAST(CASE WHEN s.n_tokens < ${operators.TextAnalysis.GateMinTokens} THEN 1 ELSE 0 END
        |              + CASE WHEN tc.top_tok_cnt * ${operators.TextAnalysis.GateTopTokenDiv} > s.n_tokens THEN 2 ELSE 0 END
        |              + CASE WHEN (1000 * s.n_oov) // s.n_tokens > ${operators.TextAnalysis.GateMaxOovPermille} THEN 4 ELSE 0 END
        |              + CASE WHEN (100 * s.sum_bits) // s.n_tokens > ${operators.TextAnalysis.GateMaxBitsX100} THEN 8 ELSE 0 END AS BIGINT) AS fail_mask
        |         FROM sc s JOIN tc ON s.doc_id = tc.doc_id)
        |SELECT sp.doc_id, sp.split, g.fail_mask, g.fail_mask = 0 AS keep,
        |  e.vec_id IS NOT NULL AS has_embedding,
        |  (g.fail_mask = 0 AND sp.split = 'train' AND e.vec_id IS NOT NULL) AS trainable
        |FROM sp JOIN gate g ON sp.doc_id = g.doc_id
        |LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings) e ON e.vec_id = sp.doc_id
        |ORDER BY sp.doc_id""".stripMargin,
    // Incremental IVF maintenance: the oracle re-derives the CORPUS-ONLY
    // trained model (batch held out of the Lloyd sample) and replays the
    // per-cell occupancy/drift algebra in integer permille.
    "q87_ivf_maintenance" -> operators.Similarity.incrementalIvfOracleSql(),
    // Cross-source span-overlap matrix: distinct (source, span-digest)
    // pairs, per-span source lists capped (boilerplate cut), pairwise
    // shared-span counts normalized by the smaller source's vocabulary.
    "q88_source_contamination" ->
      s"""WITH toks AS (SELECT source, string_split_regex(text, '\\s+') AS t FROM documents
        |              WHERE len(string_split_regex(text, '\\s+')) >= 8),
        |g AS (SELECT DISTINCT source,
        |        unnest(list_transform(range(1, len(t)-6), i -> md5(array_to_string(t[i:i+7], ' ')))) AS gh
        |      FROM toks),
        |cap AS (SELECT gh FROM g GROUP BY 1
        |        HAVING COUNT(*) BETWEEN 2 AND ${operators.TextAnalysis.MaxSpanSources}),
        |k AS (SELECT g.source, g.gh FROM g JOIN cap USING (gh)),
        |bs AS (SELECT source, COUNT(*) AS n_spans FROM g GROUP BY 1),
        |pr AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS shared_spans
        |       FROM k a JOIN k b ON a.gh = b.gh AND a.source < b.source GROUP BY 1, 2)
        |SELECT pr.s1, pr.s2, pr.shared_spans, x.n_spans AS n_spans_s1, y.n_spans AS n_spans_s2,
        |  (1000 * pr.shared_spans) // LEAST(x.n_spans, y.n_spans) AS overlap_permille
        |FROM pr JOIN bs x ON pr.s1 = x.source JOIN bs y ON pr.s2 = y.source
        |ORDER BY pr.s1, pr.s2""".stripMargin,
    "q29b_minhash_sig_portable" ->
      ("""WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
        |              WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |              unnest(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |       FROM toks),
        |hx AS (SELECT doc_id,
        |         CAST(list_sum(list_transform(range(1, 9), i ->
        |           (strpos('0123456789abcdef', substr(md5(s), CAST(i AS INT), 1)) - 1) * CAST(16**(8-i) AS BIGINT)
        |         )) AS BIGINT) AS x
        |       FROM sh),
        |sig AS (SELECT doc_id, ii.i AS perm_idx, MIN((PERMA[CAST(ii.i AS INT)]*x + PERMB[CAST(ii.i AS INT)]) % 4294967291) AS sig_value
        |        FROM hx CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii
        |        GROUP BY 1, 2)
        |SELECT doc_id, perm_idx, CAST(sig_value AS BIGINT) AS sig_value
        |FROM sig ORDER BY doc_id, perm_idx""".stripMargin
        .replace("PERMA", graft.operators.Dedup.permALiteral)
        .replace("PERMB", graft.operators.Dedup.permBLiteral)),
    // Full LSH path in SQL: md5-portable shingle hashes → minhash
    // signatures → 16×4 band fold mod 1e9+7 → buckets capped at
    // Dedup.MaxBucket smallest doc_ids → distinct candidate pairs →
    // q29 error-band oracle (r13): the xxhash64 production LSH emits
    // hashes DuckDB cannot reproduce, so the gated row carries only
    // oracle-reproducible counts (exact-Jaccard ≥ 0.9 truth pairs via
    // q28's capped-shingle chain, t_-prefixed because q29cCtes owns the
    // bare names; the portable survivor count via the full q29c
    // derivation) plus the two Spark-side verdicts pinned literal TRUE:
    // full recall of the truth set, and ≥ 0.95 set-Jaccard agreement
    // with the portable twin (observed: identical sets at both SFs).
    "q29_minhash_lsh" ->
      s"""WITH $q29cCtes,
        |t_dfq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
        |t_k AS (SELECT sh.doc_id, sh.s FROM sh JOIN t_dfq ON sh.s = t_dfq.s
        |        WHERE t_dfq.df <= ${operators.Dedup.MaxShingleDf}),
        |t_sz AS (SELECT doc_id, COUNT(*) AS n FROM t_k GROUP BY 1),
        |t_pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |         FROM t_k a JOIN t_k b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |t_j AS (SELECT d1, d2, CAST(inter AS DOUBLE)/(s1.n + s2.n - inter) AS j
        |        FROM t_pr JOIN t_sz s1 ON d1 = s1.doc_id JOIN t_sz s2 ON d2 = s2.doc_id)
        |SELECT
        |  (SELECT COUNT(*) FROM t_j WHERE ROUND(j, 6) >= 0.9) AS n_high_jaccard,
        |  (SELECT COUNT(*) FROM est WHERE est_jaccard >= 0.5) AS n_portable_pairs,
        |  TRUE AS recall_ok,
        |  TRUE AS parity_ok""".stripMargin,
    // signature-estimated Jaccard >= 0.5. Mirrors
    // Dedup.minhashLshPairsPortable exactly.
    "q29c_minhash_lsh_portable" ->
      s"""WITH $q29cCtes
        |SELECT d1, d2, est_jaccard FROM est WHERE est_jaccard >= 0.5 ORDER BY d1, d2""".stripMargin,
    // Incremental cluster maintenance: the from-scratch truth the
    // quotient merge must equal — clusters over (corpus-split LSH pairs
    // ∪ the batch's q72 probe edges), computed here by recursive
    // closure. Shares q72's signature/banding prefix; corpus pairs come
    // from the corpus-capped buckets (idx), probe edges from batch band
    // rows against the same idx. The Spark side never re-runs CC over
    // the corpus — the hash gate IS the incremental-equals-batch proof.
    "q149_incremental_clusters" ->
      (s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
        |              WHERE len(string_split_regex(text, '\\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |              unnest(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |       FROM toks),
        |hx AS (SELECT doc_id,
        |         CAST(list_sum(list_transform(range(1, 9), i ->
        |           (strpos('0123456789abcdef', substr(md5(s), CAST(i AS INT), 1)) - 1) * CAST(16**(8-i) AS BIGINT)
        |         )) AS BIGINT) AS x
        |       FROM sh),
        |sig AS (SELECT doc_id, ii.i AS perm_idx, MIN((PERMA[CAST(ii.i AS INT)]*x + PERMB[CAST(ii.i AS INT)]) % 4294967291) AS sig_value
        |        FROM hx CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii
        |        GROUP BY 1, 2),
        |bk AS (SELECT doc_id, CAST((perm_idx - 1) // 4 AS BIGINT) AS band_idx,
        |         MIN(CASE WHEN (perm_idx - 1) % 4 = 0 THEN sig_value END) AS s0,
        |         MIN(CASE WHEN (perm_idx - 1) % 4 = 1 THEN sig_value END) AS s1,
        |         MIN(CASE WHEN (perm_idx - 1) % 4 = 2 THEN sig_value END) AS s2,
        |         MIN(CASE WHEN (perm_idx - 1) % 4 = 3 THEN sig_value END) AS s3
        |       FROM sig GROUP BY 1, 2),
        |bkey AS (SELECT doc_id, band_idx,
        |           ((((((s0 % 1000000007) * 1000003 + (s1 % 1000000007)) % 1000000007)
        |               * 1000003 + (s2 % 1000000007)) % 1000000007)
        |               * 1000003 + (s3 % 1000000007)) % 1000000007 AS band_key
        |         FROM bk),
        |mem AS (SELECT doc_id, band_idx, band_key,
        |          ROW_NUMBER() OVER (PARTITION BY band_idx, band_key ORDER BY doc_id) AS rn
        |        FROM bkey WHERE doc_id % 10 <> 9),
        |idx AS (SELECT doc_id, band_idx, band_key FROM mem WHERE rn <= ${operators.Dedup.MaxBucket}),
        |ccand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |          FROM idx a JOIN idx b USING (band_idx, band_key)
        |          WHERE a.doc_id < b.doc_id),
        |cest AS (SELECT d1, d2,
        |          ROUND(CAST(SUM(CASE WHEN s1.sig_value = s2.sig_value THEN 1 ELSE 0 END) AS DOUBLE)/64, 6) AS ej
        |         FROM ccand
        |         JOIN sig s1 ON s1.doc_id = d1
        |         JOIN sig s2 ON s2.doc_id = d2 AND s2.perm_idx = s1.perm_idx
        |         GROUP BY 1, 2),
        |cp AS (SELECT d1, d2 FROM cest WHERE ej >= 0.5),
        |bcand AS (SELECT DISTINCT b.doc_id AS bd, i.doc_id AS cd
        |          FROM bkey b JOIN idx i USING (band_idx, band_key)
        |          WHERE b.doc_id % 10 = 9),
        |best AS (SELECT bd, cd,
        |          ROUND(CAST(SUM(CASE WHEN s1.sig_value = s2.sig_value THEN 1 ELSE 0 END) AS DOUBLE)/64, 6) AS ej
        |         FROM bcand
        |         JOIN sig s1 ON s1.doc_id = bd
        |         JOIN sig s2 ON s2.doc_id = cd AND s2.perm_idx = s1.perm_idx
        |         GROUP BY 1, 2),
        |bc AS (SELECT bd, cd FROM best WHERE ej >= 0.5),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM cp UNION ALL SELECT d2, d1 FROM cp
        |          UNION ALL SELECT bd, cd FROM bc UNION ALL SELECT cd, bd FROM bc),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id AS doc_id, MIN(comp) AS comp_id, id % 10 = 9 AS is_batch
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin
        .replace("PERMA", graft.operators.Dedup.permALiteral)
        .replace("PERMB", graft.operators.Dedup.permBLiteral)),
    // MinHash calibration audit: q29c's pair + estimate machinery as-is,
    // then the exact Jaccard over the SAME distinct raw shingle sets the
    // sketch estimates (no df cutoff), banded on |est − exact| permille.
    "q99_minhash_calibration" ->
      s"""WITH $q29cCtes,
        |p AS (SELECT d1, d2, CAST(ROUND(est_jaccard * 64) AS BIGINT) AS matches
        |      FROM est WHERE est_jaccard >= 0.5),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |xi AS (SELECT p.d1 AS d1, p.d2 AS d2, COUNT(*) AS inter
        |       FROM p JOIN sh a ON a.doc_id = p.d1
        |              JOIN sh b ON b.doc_id = p.d2 AND b.s = a.s
        |       GROUP BY 1, 2),
        |m AS (SELECT p.matches, COALESCE(xi.inter, 0) AS inter,
        |        s1.n + s2.n - COALESCE(xi.inter, 0) AS uni
        |      FROM p LEFT JOIN xi ON xi.d1 = p.d1 AND xi.d2 = p.d2
        |      JOIN sz s1 ON p.d1 = s1.doc_id JOIN sz s2 ON p.d2 = s2.doc_id),
        |e AS (SELECT matches * 1000 // 64 AS est_permille,
        |        inter * 1000 // uni AS exact_permille FROM m)
        |SELECT ABS(est_permille - exact_permille) // 50 * 50 AS err_band_lo_permille,
        |  COUNT(*) AS n_pairs,
        |  MIN(exact_permille) AS min_exact_permille,
        |  MAX(exact_permille) AS max_exact_permille
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    // LSH recall audit: exact in-slice Jaccard (q34's constant-modulus
    // slice over q99's no-cutoff shingle sets) classified against the
    // q29c candidate set; misses per 100-permille similarity band.
    "q121_lsh_recall_audit" ->
      s"""WITH $q29cCtes,
        |md AS (SELECT GREATEST(1, (COUNT(*) + ${operators.Similarity.AuditRows - 1})
        |         // ${operators.Similarity.AuditRows}) AS m FROM documents),
        |sl AS (SELECT doc_id, s FROM sh, md WHERE doc_id % md.m = 0),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sl GROUP BY 1),
        |xi AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |       FROM sl a JOIN sl b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pr AS (SELECT xi.d1, xi.d2,
        |         (1000 * inter) // (s1.n_sh + s2.n_sh - inter) AS exact_permille
        |       FROM xi JOIN sz s1 ON xi.d1 = s1.doc_id JOIN sz s2 ON xi.d2 = s2.doc_id),
        |fl AS (SELECT pr.exact_permille,
        |         CASE WHEN e.d1 IS NOT NULL THEN 1 ELSE 0 END AS found
        |       FROM pr LEFT JOIN (SELECT d1, d2 FROM est WHERE est_jaccard >= 0.5) e
        |         ON pr.d1 = e.d1 AND pr.d2 = e.d2
        |       WHERE pr.exact_permille >= ${operators.Dedup.RecallAuditMinPermille})
        |SELECT exact_permille // 100 * 100 AS band_lo_permille,
        |  COUNT(*) AS n_pairs, CAST(SUM(found) AS BIGINT) AS n_found,
        |  COUNT(*) - CAST(SUM(found) AS BIGINT) AS n_missed,
        |  (1000 * (COUNT(*) - CAST(SUM(found) AS BIGINT))) // COUNT(*) AS miss_permille
        |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin,
    // SQL-text pipeline report: re-derives all four composed operators
    // from scratch — q27's exact keeper, q29c's portable LSH candidates
    // (the shared CTE block), q75's integer BM25 top-10, q90's 4-signal
    // gate — then replays the per-source fold. Gate/BM25 CTEs carry g_/b_
    // prefixes because q29cCtes already owns the bare `toks` name.
    "q100_sql_pipeline_report" ->
      s"""WITH $q29cCtes,
        |lshdup AS (SELECT DISTINCT d2 AS doc_id FROM est WHERE est_jaccard >= 0.5),
        |xd AS (SELECT doc_id, source,
        |         md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_md5
        |       FROM documents),
        |ek AS (SELECT content_md5, MIN(doc_id) AS keep_doc_id FROM xd GROUP BY 1),
        |g_toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t FROM documents),
        |g_model AS (SELECT t, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df FROM g_toks
        |            WHERE (doc_id * 2654435761) % 100 >= 20 GROUP BY 1),
        |g_tot AS (SELECT CAST(length(bin(CAST(SUM(cnt) AS BIGINT))) - 1 AS BIGINT) AS bits_total FROM g_model),
        |g_sc AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |           CAST(SUM(CASE WHEN COALESCE(df, 0) < ${operators.TextAnalysis.MinDf} THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |           CAST(SUM(bits_total - (length(bin(COALESCE(cnt, 1))) - 1)) AS BIGINT) AS sum_bits
        |         FROM g_toks LEFT JOIN g_model USING (t) CROSS JOIN g_tot GROUP BY 1),
        |g_tc AS (SELECT doc_id, MAX(c) AS top_tok_cnt FROM
        |           (SELECT doc_id, t, COUNT(*) AS c FROM g_toks GROUP BY 1, 2) GROUP BY 1),
        |gate AS (SELECT s.doc_id,
        |           (CASE WHEN s.n_tokens < ${operators.TextAnalysis.GateMinTokens} THEN 1 ELSE 0 END
        |            + CASE WHEN tc.top_tok_cnt * ${operators.TextAnalysis.GateTopTokenDiv} > s.n_tokens THEN 2 ELSE 0 END
        |            + CASE WHEN (1000 * s.n_oov) // s.n_tokens > ${operators.TextAnalysis.GateMaxOovPermille} THEN 4 ELSE 0 END
        |            + CASE WHEN (100 * s.sum_bits) // s.n_tokens > ${operators.TextAnalysis.GateMaxBitsX100} THEN 8 ELSE 0 END) = 0 AS keep
        |         FROM g_sc s JOIN g_tc tc ON s.doc_id = tc.doc_id),
        |b_toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
        |b_st AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS total_dl, COUNT(*) AS n_docs FROM b_toks),
        |b_ex AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM b_toks),
        |b_tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM b_ex
        |         WHERE term IN (${operators.TextAnalysis.Bm25QueryTerms.map("'" + _ + "'").mkString(", ")})
        |         GROUP BY 1, 2),
        |b_dfq AS (SELECT term, COUNT(*) AS df FROM b_tf GROUP BY 1),
        |b_sc AS (SELECT t.doc_id, t.tf, t.dl,
        |           ((s.n_docs + 1) * 1000000 // (d.df + 1))
        |             * ((t.tf * 2200 * 1000) //
        |                (1000*t.tf + 300 + (900*t.dl*1000) // (s.total_dl*1000 // s.n_docs))) AS term_score
        |         FROM b_tf t JOIN b_dfq d USING (term) CROSS JOIN b_st s),
        |b_agg AS (SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score FROM b_sc GROUP BY 1),
        |b_r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank FROM b_agg),
        |bm AS (SELECT DISTINCT doc_id FROM b_r WHERE rank <= 10)
        |SELECT xd.source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN xd.doc_id <> ek.keep_doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dupes,
        |  CAST(SUM(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh_flagged,
        |  CAST(SUM(CASE WHEN gate.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_gate_keep,
        |  CAST(SUM(CASE WHEN bm.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bm25_top10,
        |  CAST(SUM(CASE WHEN xd.doc_id = ek.keep_doc_id AND l.doc_id IS NULL AND gate.keep
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_final_keep
        |FROM xd
        |JOIN ek USING (content_md5)
        |LEFT JOIN lshdup l ON l.doc_id = xd.doc_id
        |LEFT JOIN bm ON bm.doc_id = xd.doc_id
        |JOIN gate ON gate.doc_id = xd.doc_id
        |GROUP BY xd.source ORDER BY xd.source""".stripMargin,
    "q30_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t FROM documents),
        |h AS (SELECT doc_id, md5(t) AS m FROM tok),
        |bits AS (
        |  SELECT doc_id, pp.p AS p, bb.b AS b,
        |    CASE WHEN SUM(CASE WHEN ((strpos('0123456789abcdef', substr(m, CAST(pp.p AS INT), 1)) - 1)
        |                             // (1 << CAST(bb.b AS INT))) % 2 = 1 THEN 1 ELSE -1 END) >= 0
        |         THEN 1 ELSE 0 END AS bit
        |  FROM h CROSS JOIN (SELECT unnest(range(1, 17)) AS p) pp CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb
        |  GROUP BY 1, 2, 3),
        |digits AS (SELECT doc_id, p, CAST(SUM(bit * (1 << CAST(b AS INT))) AS INT) AS d FROM bits GROUP BY 1, 2)
        |SELECT doc_id, string_agg(substr('0123456789abcdef', d + 1, 1), '' ORDER BY p) AS simhash
        |FROM digits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Banded Hamming pairs with the same MaxBucket cap as the Spark side:
    // buckets keep their MaxBucket smallest doc_ids. q101 runs the same
    // pipeline as pure spark.sql text over the registered native
    // functions — one oracle definition, two API surfaces.
    "q31_simhash_pairs" -> simhashPairsOracleSql,
    "q101_sql_simhash_pairs" -> simhashPairsOracleSql,
    "q32_label_centroids" ->
      """SELECT label, dim,
        |  CAST(ROUND(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)/COUNT(*) AS centroid
        |FROM (SELECT label, unnest(range(1, 65)) AS dim, unnest(embedding) AS v FROM embeddings)
        |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,
    // The typed-Aggregator path computes the SAME centroids as q32 — one
    // oracle definition, two physical shapes.
    "q57_centroids_udaf" ->
      """SELECT label, dim,
        |  CAST(ROUND(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)/COUNT(*) AS centroid
        |FROM (SELECT label, unnest(range(1, 65)) AS dim, unnest(embedding) AS v FROM embeddings)
        |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,
    "q33_knn_brute" -> knnBruteOracleSql,
    // q102: the same query as PURE spark.sql text over embeddings_v —
    // identical dot-product fragment, identical output contract, so the
    // oracle is shared verbatim with q33 (one definition, two APIs)
    "q102_sql_knn_brute" -> knnBruteOracleSql,
    // Exact all-pairs baseline pinned to a CONSTANT-size audit slice:
    // vec_id % ceil(n/128) = 0 keeps ~128 rows at ANY corpus size, so the
    // O(n²) kernel never grows with the data at top level; the flagship
    // scale path is q34b. Mirrors Similarity.embeddingNearDupPairsAudit.
    "q34_emb_near_dup" ->
      """WITH m AS (SELECT GREATEST(1, CAST(ceil(count(*) / 128.0) AS BIGINT)) AS md FROM embeddings),
        |nr AS (
        |  SELECT vec_id, sqrt(CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)) AS nrm
        |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings WHERE vec_id % (SELECT md FROM m) = 0) GROUP BY vec_id),
        |w AS (SELECT e.vec_id, e.embedding, nr.nrm FROM embeddings e JOIN nr ON e.vec_id = nr.vec_id
        |      WHERE e.vec_id % (SELECT md FROM m) = 0),
        |u AS (SELECT a.vec_id AS v1, b.vec_id AS v2, a.nrm AS n1, b.nrm AS n2,
        |             unnest(a.embedding) AS x, unnest(b.embedding) AS y
        |      FROM w a JOIN w b ON a.vec_id < b.vec_id),
        |s AS (SELECT v1, v2,
        |        CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
        |          / (any_value(n1) * any_value(n2)) AS cos_sim
        |      FROM u GROUP BY v1, v2)
        |SELECT v1, v2, cos_sim FROM s WHERE cos_sim >= 0.4 ORDER BY v1, v2""".stripMargin,
    // Flagship near-dup: banded sign-LSH (8 bands x 3 fixed hyperplanes,
    // DECIMAL-exact dot so the sign bits match Spark's), buckets capped at
    // Dedup.MaxBucket smallest vec_ids, distinct candidates, exact decimal
    // cosine >= 0.4. Mirrors Similarity.embeddingNearDupPairsLsh.
    "q34b_emb_near_dup_lsh" ->
      (embLshChainSql +
        "\nSELECT v1, v2, cos_sim FROM s WHERE cos_sim >= 0.4 ORDER BY v1, v2"),
    // q160 isolation audit: the full q34b chain re-derived, then vectors
    // absent from BOTH pair endpoints are the isolated set, rolled up per
    // label. Mirrors Similarity.embeddingIsolation (which reads the
    // persisted emb_pairs artifact — the oracle re-deriving from scratch
    // is exactly what makes a stale artifact fail loudly).
    "q160_embedding_isolation" ->
      (embLshChainSql +
        s""",
        |p AS (SELECT v1 AS vec_id FROM s WHERE cos_sim >= 0.4
        |      UNION SELECT v2 FROM s WHERE cos_sim >= 0.4)
        |SELECT CAST(e.label AS BIGINT) AS label,
        |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(SUM(CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_isolated,
        |  ROUND(CAST(SUM(CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE), 6) AS isolation_rate
        |FROM embeddings e LEFT JOIN p ON p.vec_id = e.vec_id
        |GROUP BY 1 ORDER BY label""".stripMargin),
    // Sign-LSH ANN: hybrid bucket bits reproduced with the decimal-exact
    // dot (mirrors Similarity.annLshTop3's hybridSign), then in-bucket
    // exact-cosine top-3.
    "q35_ann_lsh" ->
      ("""WITH pl AS (SELECT PLANES AS p),
        |bk AS (SELECT e.vec_id,
        |  CAST(list_sum(list_transform(range(0, 8), j ->
        |    CASE WHEN CAST(ROUND(list_sum(list_transform(range(1, 65), i ->
        |           CAST(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
        |                * (pl.p)[CAST(j + 1 AS INT)][CAST(i AS INT)] AS DECIMAL(18,12)))), 12) AS DOUBLE) >= 0
        |         THEN (1 << CAST(j AS INT)) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM embeddings e CROSS JOIN pl),
        |nr AS (SELECT vec_id, sqrt(CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)) AS nrm
        |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
        |w AS (SELECT e.vec_id, e.embedding, bk.bucket, nr.nrm
        |  FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id JOIN nr ON e.vec_id = nr.vec_id),
        |q AS (SELECT vec_id AS q_id, embedding AS qe, nrm AS qn, bucket AS qb FROM w WHERE vec_id <= 4),
        |u AS (SELECT q.q_id, w.vec_id AS n_id, w.bucket, q.qn, w.nrm AS nn,
        |  unnest(q.qe) AS x, unnest(w.embedding) AS y
        |  FROM q JOIN w ON w.bucket = q.qb AND w.vec_id <> q.q_id),
        |s AS (SELECT q_id, n_id, any_value(bucket) AS bucket,
        |  CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
        |    / (any_value(qn) * any_value(nn)) AS cos_sim
        |  FROM u GROUP BY q_id, n_id),
        |r AS (SELECT q_id, n_id, bucket, cos_sim,
        |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS rank FROM s)
        |SELECT q_id, n_id, bucket, cos_sim, rank FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
        .replace("PLANES", operators.Similarity.annPlanesSqlLiteral)),
    // IVF ANN on the fixed seed centroids (generated in lockstep with the
    // Scala pipeline — see Similarity.ivfOracleSql).
    "q47_ann_ivf" -> operators.Similarity.ivfOracleSql(iters = 0),
    "q162_filtered_ann" -> operators.Similarity.ivfFilteredOracleSql(),
    "q166_ivf_cell_balance" -> operators.Similarity.ivfCellBalanceOracleSql(),
    // k-means IVF: the oracle re-derives the identical trained model in
    // SQL (3 unrolled Lloyd iterations over the deterministic 50% sample,
    // exact-decimal sums and norms), then replays the probe+rank pipeline.
    "q60_ann_ivf_kmeans" -> operators.Similarity.ivfOracleSql(iters = 3),
    // PQ/ADC: unrolled per-subspace Lloyd in SQL re-derives the
    // identical codebooks (decimal-exact distance/sum/mean arithmetic),
    // then encode -> per-query LUT -> ADC rank -> exact-cosine audit.
    "q150_pq_ann" -> operators.Similarity.pqOracleSql(),
    // IVFPQ: both trained models re-derived in SQL (IVF Lloyd prefix +
    // PQ Lloyd chain), then probe -> ADC over probed cells only -> rank.
    "q151_ivfpq_ann" -> operators.Similarity.ivfPqOracleSql(),
    // Incremental PQ: batch encodes against codebooks trained with the
    // batch held out; oracle re-trains the held-out model and re-encodes.
    "q152_pq_incremental" -> operators.Similarity.pqIncrementalOracleSql(),
    // Two-stage serving: ADC shortlist -> exact-decimal cosine rerank.
    "q153_ivfpq_rerank" -> operators.Similarity.ivfPqRerankOracleSql(),
    // Recall@5 of the ADC top-k vs the exact brute-force truth — both
    // legs deterministic, so the recall numbers hash-gate directly.
    "q154_ivfpq_recall" -> operators.Similarity.ivfPqRecallOracleSql(),
    // Tombstone-aware probe: deletes excluded before ranking.
    "q155_ivfpq_deletes" -> operators.Similarity.ivfPqDeletesOracleSql(),
    // Domain-mixture reweighting: uniform target over `source`, half-
    // corpus token budget, clamped per-domain inclusion rates.
    "q156_source_mixture" -> operators.TextAnalysis.sourceMixtureOracleSql,
    "q161_epoch_plan" -> operators.TextAnalysis.epochPlanOracleSql,
    // Per-IVF-cell prototypes: top-m by exact-decimal centroid score.
    "q157_cell_representatives" -> operators.Similarity.cellRepresentativesOracleSql(),
    // Gopher duplication-fraction metrics (occurrence-mass half; q64
    // covers the top-element half) + composite flag.
    "q158_duplication_fractions" -> operators.TextAnalysis.duplicationFractionsOracleSql,
    // Mass-balanced export shards: exact global token prefix sum (q71's
    // distributed machinery; the oracle's flat window), contiguous
    // integer-exact shard boundaries, per-shard skew factor.
    "q169_balanced_shards" -> operators.TextAnalysis.balancedShardsOracleSql,
    // Padding waste under pow2 length-bucketed batching vs pad-to-max;
    // integer-exact pow2 ceiling via the bit-length identity.
    "q170_padding_waste" -> operators.TextAnalysis.paddingWasteOracleSql,
    // Join-skew advisor: hottest join keys vs the fair per-key share,
    // advised salt fanout. Mirrors Relational.skewAdvisor (top-k THEN
    // the hot cut, same deterministic tie-break).
    "q171_skew_advisor" ->
      s"""WITH c AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS cnt
        |           FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS dk FROM c),
        |t AS (SELECT c.l_orderkey, c.cnt, s.total // s.dk AS fair FROM c, s
        |      ORDER BY c.cnt DESC, c.l_orderkey ASC LIMIT ${operators.Relational.SkewTopK})
        |SELECT l_orderkey, cnt, fair,
        |  (1000 * cnt) // fair AS ratio_permille,
        |  LEAST(CAST(${operators.Relational.SkewMaxSalt} AS BIGINT),
        |        (cnt + fair - 1) // fair) AS advised_salt
        |FROM t WHERE cnt > ${operators.Relational.SkewHotFactor} * fair
        |ORDER BY cnt DESC, l_orderkey ASC""".stripMargin,
    // Per-cell compaction report; flagged cells rewritten tombstone-free
    // into the v2 index (spec pins v2 = v1 minus flagged-cell dead rows).
    "q159_ivfpq_compaction" -> operators.Similarity.ivfPqCompactionOracleSql(),
    "q73_semantic_dedup" -> operators.Similarity.semanticDedupOracleSql(),
    // Int8 scalar quantization of the L2-NORMALIZED vectors (symmetric,
    // global scale 127): integer code dots approximate 127^2*cosine
    // (BIGINT, no float ties); only the audit cosine routes through
    // decimals. The norm is the exact-decimal one all cosine oracles use.
    "q81_quantized_ann" ->
      """WITH nr AS (SELECT vec_id, sqrt(CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)) AS nrm
        |       FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
        |qz AS (SELECT e.vec_id, e.embedding,
        |         list_transform(range(1, 65), i ->
        |           CASE WHEN nr.nrm = 0.0 THEN 0
        |                ELSE CAST(FLOOR((CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) / nr.nrm) * 127.0 + 0.5) AS INT)
        |           END) AS qv
        |       FROM embeddings e JOIN nr ON e.vec_id = nr.vec_id),
        |q AS (SELECT vec_id AS q_id, qv AS qqv FROM qz WHERE vec_id <= 4),
        |sc AS (SELECT q.q_id, c.vec_id AS n_id,
        |         CAST(list_sum(list_transform(range(1, 65), i ->
        |           CAST(qqv[CAST(i AS INT)] AS BIGINT) * CAST(c.qv[CAST(i AS INT)] AS BIGINT))) AS BIGINT) AS approx_dot
        |       FROM qz c CROSS JOIN q WHERE c.vec_id <> q.q_id),
        |r AS (SELECT q_id, n_id, approx_dot,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx_dot DESC, n_id ASC) AS rank
        |      FROM sc),
        |top AS (SELECT * FROM r WHERE rank <= 5),
        |u AS (SELECT t.q_id, t.n_id, t.approx_dot, t.rank, a.nrm AS qn, b.nrm AS nn,
        |        unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
        |      FROM top t
        |      JOIN embeddings ea ON ea.vec_id = t.q_id JOIN embeddings eb ON eb.vec_id = t.n_id
        |      JOIN nr a ON a.vec_id = t.q_id JOIN nr b ON b.vec_id = t.n_id),
        |f AS (SELECT q_id, n_id, any_value(approx_dot) AS approx_dot, any_value(rank) AS rank,
        |        CAST(ROUND(SUM(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(18,12))), 12) AS DOUBLE)
        |          / (any_value(qn) * any_value(nn)) AS cos_exact
        |      FROM u GROUP BY q_id, n_id)
        |SELECT q_id, n_id, approx_dot, rank, cos_exact FROM f ORDER BY q_id, rank""".stripMargin,
    "q37b_clf_parse_volume" -> clf.LogCorpus.validOracleSql,
    "q38b_clf_dead_letters_volume" -> clf.LogCorpus.deadOracleSql,
    "q37_clf_parse" -> clf.LogCorpus.fixtureValidOracleSql,
    "q38_clf_dead_letters" -> clf.LogCorpus.fixtureDeadOracleSql,
  )
}
