package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AnnIndexStore, EventOps, Multimodal, Pipeline, Relational, Similarity, TextAnalysis, TextDedup}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 that the engine implements registers
  * here: a DataFrame query over the driver testdata plus (where
  * SQL-expressible) an equivalent DuckDB oracle. Column names and types are
  * aligned on both sides (driver hashes values after sorting columns by
  * name); non-integer outputs are exact-decimal-derived doubles so the hash
  * is deterministic across engines.
  */
object SparkEntry {

  /** Flagship: the reference's `cat` archive range scan
    * (`/root/reference/triton.go:344-367`) on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    EventOps.catRange(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "q02_customer_by_region" -> ((s, d) => Relational.customerByRegion(s, d)),
    "q03_revenue_by_priority" -> ((s, d) => Relational.revenueByPriority(s, d)),
    "q04_top_orders" -> ((s, d) => Relational.topOrders(s, d)),
    "q05_top_orders_per_customer" -> ((s, d) => Relational.topOrdersPerCustomer(s, d)),
    "q06_active_customers_by_segment" -> ((s, d) => Relational.activeCustomersBySegment(s, d)),
    "q07_idle_customers_by_nation" -> ((s, d) => Relational.idleCustomersByNation(s, d)),
    "q08_customer_rollup" -> ((s, d) => Relational.customerRollup(s, d)),
    "q09_nation_presence" -> ((s, d) => Relational.nationPresence(s, d)),
    "q10_cat_range" -> ((s, d) => EventOps.catRange(s, d)),
    "q11_union_slices" -> ((s, d) => EventOps.unionSlices(s, d)),
    "q12_hourly_rollup" -> ((s, d) => EventOps.hourlyRollup(s, d)),
    "q13_lag_stats" -> ((s, d) => EventOps.lagStats(s, d)),
    "q14_decode_props" -> ((s, d) => EventOps.decodeProps(s, d)),
    "q15_sessionize" -> ((s, d) => EventOps.sessionize(s, d)),
    "q16_asof_last_click" -> ((s, d) => EventOps.asOfLastClick(s, d)),
    "q17_archive_keys" -> ((s, d) => EventOps.archiveKeys(s, d)),
    "q18_user_cardinality" -> ((s, d) => EventOps.userCardinality(s, d)),
    "q19_exact_dedup" -> ((s, d) => TextDedup.exactDedup(s, d)),
    // explicit harness opt-in to the saturation fallback: stress SFs with
    // saturated shingle vocabularies route to minhash-LSH in-operator
    // instead of failing the suite (the engine default is fail-fast)
    "q20_ngram_jaccard_pairs" -> ((s, d) => TextDedup.ngramJaccardPairs(s, d, routeOnSaturation = true)),
    "q21_minhash_lsh_pairs" -> ((s, d) => TextDedup.minhashLshPairs(s, d)),
    "q22_simhash_pairs" -> ((s, d) => TextDedup.simhashPairs(s, d)),
    "q23_cosine_neardup" -> ((s, d) => Similarity.cosineNearDupPairs(s, d)),
    "q24_ann_bruteforce" -> ((s, d) => Similarity.annBruteForce(s, d)),
    "q25_ann_lsh" -> ((s, d) => Similarity.annLsh(s, d)),
    "q26_langid_confusion" -> ((s, d) => TextAnalysis.langIdConfusion(s, d)),
    "q27_quality_score" -> ((s, d) => TextAnalysis.qualityScore(s, d)),
    "q28_token_stats" -> ((s, d) => TextAnalysis.tokenStats(s, d)),
    "q29_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(s, d)),
    "q30_blob_meta" -> ((s, d) => Multimodal.blobMeta(s, d)),
    "q31_frame_sample" -> ((s, d) => Multimodal.frameSample(s, d)),
    "q32_session_window" -> ((s, d) => EventOps.sessionWindowNative(s, d)),
    "q33_tri_roundtrip" -> ((s, d) => EventOps.triRoundtrip(s, d)),
    "q34_msgpack_roundtrip" -> ((s, d) => EventOps.msgpackRoundtrip(s, d)),
    "q35_ann_ivf" -> ((s, d) => Similarity.annIvf(s, d)),
    "q36_event_cube" -> ((s, d) => EventOps.eventCube(s, d)),
    "q37_salted_agg" -> ((s, d) => EventOps.saltedAgg(s, d)),
    "q38_range_join" -> ((s, d) => EventOps.rangeJoinBuckets(s, d)),
    "q39_topk_agg" -> ((s, d) => EventOps.topkAgg(s, d)),
    "q40_token_percentiles" -> ((s, d) => TextAnalysis.tokenPercentiles(s, d)),
    "q41_event_pivot" -> ((s, d) => EventOps.eventTypePivot(s, d)),
    "q42_cosine_neardup_lsh" -> ((s, d) => Similarity.cosineNearDupLsh(s, d)),
    "q43_stream_hourly" -> ((s, d) => graft.streaming.StreamOps.hourlyCountsStreamed(s, d)),
    "q44_stratified_sample" -> ((s, d) => Pipeline.stratifiedSample(s, d)),
    "q45_filter_funnel" -> ((s, d) => Pipeline.filterFunnel(s, d)),
    "q46_weighted_mix" -> ((s, d) => Pipeline.weightedMix(s, d)),
    "q47_stream_hourly_append" -> ((s, d) => graft.streaming.StreamOps.hourlyCountsStreamedAppend(s, d)),
    "q48_dedup_clusters" -> ((s, d) => operators.Clustering.dedupClusters(s, d)),
    "q49_contamination" -> ((s, d) => TextAnalysis.contamination(s, d)),
    "q50_repetition" -> ((s, d) => TextAnalysis.repetitionStats(s, d)),
    "q51_ngram_novelty" -> ((s, d) => TextAnalysis.ngramNovelty(s, d)),
    "q52_sequence_packing" -> ((s, d) => Pipeline.sequencePacking(s, d)),
    "q53_ann_ivf_kmeans" -> ((s, d) => Similarity.annIvfKmeans(s, d)),
    "q54_token_percentiles_approx" -> ((s, d) => TextAnalysis.tokenPercentilesApprox(s, d)),
    "q55_dedup_keep_list" -> ((s, d) => operators.Clustering.dedupKeepList(s, d)),
    "q56_incremental_dedup" -> ((s, d) => TextDedup.incrementalDedup(s, d)),
    "q57_embed_dedup_clusters" -> ((s, d) => operators.Clustering.embedDedupClusters(s, d)),
    "q58_token_chunks" -> ((s, d) => Pipeline.tokenChunks(s, d)),
    "q59_stream_incremental_dedup" -> ((s, d) => graft.streaming.StreamOps.incrementalDedupStreamed(s, d)),
    "q60_audio_meta" -> ((s, d) => Multimodal.audioMeta(s, d)),
    "q61_image_resize" -> ((s, d) => Multimodal.imageResize(s, d)),
    "q62_audio_energy" -> ((s, d) => Multimodal.audioEnergy(s, d)),
    "q63_pii_redaction" -> ((s, d) => TextAnalysis.piiRedaction(s, d)),
    "q64_line_dedup" -> ((s, d) => TextDedup.lineDedup(s, d)),
    "q65_token_rarity" -> ((s, d) => TextAnalysis.tokenRarity(s, d)),
    "q66_canonical_docs" -> ((s, d) => operators.Clustering.canonicalDocs(s, d)),
    "q67_token_budget_mix" -> ((s, d) => Pipeline.tokenBudgetMix(s, d)),
    "q68_quantize_int8" -> ((s, d) => Similarity.quantizeInt8(s, d)),
    "q69_line_dedup_keep_first" -> ((s, d) => TextDedup.lineDedupKeepFirst(s, d)),
    "q70_dup_ngram_fraction" -> ((s, d) => TextAnalysis.dupNgramFraction(s, d)),
    "q71_knn_classify" -> ((s, d) => Similarity.knnClassify(s, d)),
    "q72_stream_sessionize" -> ((s, d) => graft.streaming.StreamOps.sessionizeStreamed(s, d)),
    "q73_cross_source_overlap" -> ((s, d) => TextAnalysis.crossSourceOverlap(s, d)),
    "q74_user_cardinality_exact" -> ((s, d) => EventOps.userCardinalityExact(s, d)),
    "q75_contamination_bloom" -> ((s, d) => TextAnalysis.contaminationBloom(s, d)),
    "q76_dup_substring_coverage" -> ((s, d) => TextDedup.dupSubstringCoverage(s, d)),
    "q77_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(s, d)),
    "q78_training_shards" -> ((s, d) => Pipeline.trainingShards(s, d)),
    "q79_quality_gate" -> ((s, d) => TextAnalysis.qualityGate(s, d)),
    "q80_split_manifest" -> ((s, d) => Pipeline.splitManifest(s, d)),
    "q81_source_tfidf" -> ((s, d) => TextAnalysis.sourceTfidfProfile(s, d)),
    "q82_embed_stats" -> ((s, d) => Similarity.embedStats(s, d)),
    "q83_stream_quality_gate" -> ((s, d) => graft.streaming.StreamOps.qualityGateStreamed(s, d)),
    "q84_archive_compact" -> ((s, d) => EventOps.archiveCompact(s, d)),
    "q85_zipf_profile" -> ((s, d) => TextAnalysis.zipfProfile(s, d)),
    "q86_hourly_anomaly" -> ((s, d) => EventOps.hourlyAnomaly(s, d)),
    "q87_event_funnel" -> ((s, d) => EventOps.eventFunnel(s, d)),
    "q88_retention_cohorts" -> ((s, d) => EventOps.retentionCohorts(s, d)),
    "q89_gif_frame_sample" -> ((s, d) => Multimodal.gifFrameSample(s, d)),
    "q90_integrity_audit" -> ((s, d) => Relational.integrityAudit(s, d)),
    "q91_stream_running_counts" -> ((s, d) => graft.streaming.StreamOps.runningCountsStreamed(s, d)),
    "q92_stream_stream_join" -> ((s, d) => graft.streaming.StreamOps.streamStreamJoin(s, d)),
    "q93_event_transitions" -> ((s, d) => EventOps.eventTransitions(s, d)),
    // rows-only BY DESIGN (like q25/q53): IVF neighbor sets are
    // engine-specific; SimilarityRecallSpec gates probe-all exactness
    // and bounded-probe label agreement vs q71's exact vote
    "q94_knn_classify_ivf" -> ((s, d) => Similarity.knnClassifyIvf(s, d)),
    // rows-only BY DESIGN: the BPE merge recursion is not expressible in
    // one SQL query; PipelineCleaningSpec pins merges/encode on a hand
    // fixture + round-trip/determinism invariants
    "q95_subword_bpe" -> ((s, d) => TextAnalysis.subwordProfile(s, d)),
    "q96_stream_abandonment" -> ((s, d) => graft.streaming.StreamOps.streamAbandonment(s, d)),
    "q97_bigram_entropy" -> ((s, d) => TextAnalysis.bigramCrossEntropy(s, d)),
    "q98_heavy_hitters" -> ((s, d) => TextAnalysis.heavyHitters(s, d)),
    "q99_asof_nearest" -> ((s, d) => EventOps.asOfNearestClick(s, d)),
    "q100_jsonl_ingest" -> ((s, d) => EventOps.jsonlDeadLetter(s, d)),
    "q101_above_avg_orders" -> ((s, d) => Relational.aboveCustomerAvgOrders(s, d)),
    "q102_curriculum_bins" -> ((s, d) => Pipeline.curriculumBins(s, d)),
    "q103_fuzzy_name_pairs" -> ((s, d) => TextDedup.fuzzyNamePairs(s, d)),
    "q104_stream_dedup" -> ((s, d) => graft.streaming.StreamOps.streamDedupWithinWatermark(s, d)),
    "q105_order_histogram" -> ((s, d) => Relational.orderValueHistogram(s, d)),
    "q106_stickiness" -> ((s, d) => EventOps.stickiness(s, d)),
    // rows-only BY DESIGN (like q25/q53): float-sum order makes the
    // covariance's low bits engine-specific and the eigen recursion has
    // no SQL oracle; SimilarityRecallSpec gates axis recovery, Rayleigh
    // residual, orthogonality and determinism
    "q107_embedding_pca" -> ((s, d) => Similarity.embeddingPca(s, d)),
    "q108_bm25_topdocs" -> ((s, d) => TextAnalysis.bm25TopDocs(s, d)),
    "q109_cdc_merge" -> ((s, d) => Relational.cdcMerge(s, d)),
    "q110_grouping_sets" -> ((s, d) => Relational.groupingSetsReport(s, d)),
    "q111_incremental_view" -> ((s, d) => graft.streaming.StreamOps.incrementalViewMaintenance(s, d)),
    "q112_orc_roundtrip" -> ((s, d) => EventOps.orcRoundtrip(s, d)),
    "q113_csv_ingest" -> ((s, d) => EventOps.csvDeadLetter(s, d)),
    "q114_latest_state" -> ((s, d) => EventOps.latestStateSnapshot(s, d)),
    "q115_schema_evolution" -> ((s, d) => EventOps.schemaEvolutionRead(s, d)),
    "q116_pivot_roundtrip" -> ((s, d) => EventOps.eventPivotRoundtrip(s, d)),
    "q117_observed_metrics" -> ((s, d) => EventOps.observedMetricsRollup(s, d)),
    // rows-only BY DESIGN (like q25/q53): cell ids are engine-specific;
    // SimilarityRecallSpec gates coverage/quota/membership/determinism
    "q118_diversity_sample" -> ((s, d) => Similarity.diversitySample(s, d)),
    "q119_stream_static_join" -> ((s, d) => graft.streaming.StreamOps.streamStaticEnrich(s, d)),
    "q120_hybrid_rrf" -> ((s, d) => Similarity.hybridRrf(s, d)),
    "q121_zorder_pruning" -> ((s, d) => EventOps.zorderPruning(s, d)),
    "q122_experiment_lift" -> ((s, d) => EventOps.experimentLift(s, d)),
    "q123_source_psi" -> ((s, d) => TextAnalysis.sourcePsi(s, d)),
    "q124_embedding_outliers" -> ((s, d) => Similarity.embeddingOutliers(s, d)),
    "q125_purge_audit" -> ((s, d) => EventOps.purgeAudit(s, d)),
    "q126_basket_lift" -> ((s, d) => EventOps.basketLift(s, d)),
    "q127_seasonal_profile" -> ((s, d) => EventOps.seasonalProfile(s, d)),
    "q128_padding_waste" -> ((s, d) => Pipeline.paddingWaste(s, d)),
    "q129_retrieval_eval" -> ((s, d) => Similarity.retrievalEval(s, d)),
    "q130_stream_drift" -> ((s, d) => graft.streaming.StreamOps.streamSourceDrift(s, d)),
    "q131_source_calibration" -> ((s, d) => Pipeline.sourceCalibration(s, d)),
    "q132_skew_report" -> ((s, d) => EventOps.skewReport(s, d)),
    "q133_cohort_ltv" -> ((s, d) => EventOps.cohortLtv(s, d)),
    "q134_benford_profile" -> ((s, d) => Relational.benfordProfile(s, d)),
    "q135_gini_concentration" -> ((s, d) => Relational.giniConcentration(s, d)),
    "q136_scd2_history" -> ((s, d) => EventOps.scd2History(s, d)),
    "q137_concurrency_profile" -> ((s, d) => EventOps.concurrencyProfile(s, d)),
    "q138_expectations" -> ((s, d) => Relational.expectationsReport(s, d)),
    "q139_column_stats" -> ((s, d) => Relational.columnStatsProfile(s, d)),
    "q140_cusum_drift" -> ((s, d) => EventOps.cusumDrift(s, d)),
    "q141_token_dispersion" -> ((s, d) => TextAnalysis.tokenDispersion(s, d)),
    "q142_bipartite_pagerank" -> ((s, d) => operators.Clustering.bipartitePagerank(s, d)),
    "q143_vocab_overlap" -> ((s, d) => TextAnalysis.vocabOverlap(s, d)),
    "q144_entity_resolution" -> ((s, d) => operators.Clustering.entityResolution(s, d)),
    "q145_chi_square" -> ((s, d) => Relational.chiSquareScreen(s, d)),
    "q146_pareto_frontier" -> ((s, d) => Relational.paretoFrontier(s, d)),
    "q147_spearman_corr" -> ((s, d) => Relational.spearmanCorr(s, d)),
    "q148_copurchase_triangles" -> ((s, d) => operators.Clustering.copurchaseTriangles(s, d)),
    "q149_ks_distance" -> ((s, d) => TextAnalysis.ksDistance(s, d)),
    "q150_image_dhash" -> ((s, d) => Multimodal.imageDhash(s, d)),
    "q151_bootstrap_ci" -> ((s, d) => Relational.bootstrapCi(s, d)),
    "q152_quantile_normalize" -> ((s, d) => TextAnalysis.quantileNormalize(s, d)),
    "q153_frequent_sequences" -> ((s, d) => EventOps.frequentSequences(s, d)),
    "q154_cuped_lift" -> ((s, d) => EventOps.cupedLift(s, d)),
    "q155_dedup_eval" -> ((s, d) => Similarity.dedupEval(s, d)),
    "q156_split_leakage" -> ((s, d) => Pipeline.splitLeakage(s, d)),
    "q157_ols_trend" -> ((s, d) => Relational.olsTrend(s, d)),
    "q158_lag_features" -> ((s, d) => EventOps.lagFeatures(s, d)),
    "q159_stream_timer_sessions" -> ((s, d) => graft.streaming.StreamOps.timerSessionsStreamed(s, d)),
    "q160_audio_resample" -> ((s, d) => Multimodal.audioResample(s, d)),
    "q161_bucketed_join_audit" -> ((s, d) => Relational.bucketedJoinAudit(s, d)),
    "q162_cluster_capped_sample" -> ((s, d) => operators.Clustering.clusterCappedSample(s, d)),
    "q163_matryoshka_eval" -> ((s, d) => Similarity.matryoshkaEval(s, d)),
    "q164_broadcast_plan_audit" -> ((s, d) => Relational.broadcastPlanAudit(s, d)),
    "q165_cumulative_users" -> ((s, d) => EventOps.cumulativeUsers(s, d)),
    "q166_bench_leak_report" -> ((s, d) => TextAnalysis.benchLeakReport(s, d)),
    "q167_stream_jdbc_upsert" -> ((s, d) => graft.streaming.StreamOps.streamJdbcUpsert(s, d)),
    "q168_mad_outliers" -> ((s, d) => TextAnalysis.madOutliers(s, d)),
    "q169_variant_ingest" -> ((s, d) => EventOps.variantIngest(s, d)),
    "q170_forward_fill" -> ((s, d) => EventOps.forwardFillHourly(s, d)),
    "q171_maxsim_retrieval" -> ((s, d) => Similarity.maxsimRetrieval(s, d)),
    "q172_label_propagation" -> ((s, d) => operators.Clustering.labelPropagation(s, d)),
    "q173_percentile_bands" -> ((s, d) => EventOps.hourlyPercentileBands(s, d)),
    "q174_negative_samples" -> ((s, d) => Pipeline.negativeSamples(s, d)),
    "q175_asof_native" -> ((s, d) => EventOps.asOfNativeClick(s, d)),
    "q176_recon_report" -> ((s, d) => Relational.reconReport(s, d)),
    "q177_rfm_segments" -> ((s, d) => EventOps.rfmSegments(s, d)),
    "q178_dataset_card" -> ((s, d) => TextAnalysis.datasetCard(s, d)),
    "q179_late_data_audit" -> ((s, d) => EventOps.lateDataAudit(s, d)),
    "q180_column_stats_approx" -> ((s, d) => Relational.columnStatsApprox(s, d)),
    "q181_ann_ivfpq" -> ((s, d) => Similarity.annIvfPq(s, d)),
    "q182_sequence_packing_bpe" -> ((s, d) => Pipeline.sequencePackingBpe(s, d)),
    "q183_asof_nearest_native" -> ((s, d) => EventOps.asOfNearestClickNative(s, d)),
    "q184_spearman_grid" -> ((s, d) => Relational.spearmanCorrGridRank(s, d)),
    // q185/q186: the persisted-index lifecycle (build→write→load→serve)
    // — rows-only like q181 (engine-specific estimates); AnnIndexStoreSpec
    // pins row-for-row equality with the in-session index and vote
    // equality through q94's knnClassifyFrom seam.
    "q185_ann_index_serve" -> ((s, d) => AnnIndexStore.annIndexServe(s, d)),
    "q186_knn_from_index" -> ((s, d) => AnnIndexStore.knnClassifyFromIndex(s, d)),
    "q187_lag_features_chunked" -> ((s, d) => EventOps.lagFeaturesChunked(s, d)),
    "q188_ann_index_append" -> ((s, d) => AnnIndexStore.annIndexAppendAudit(s, d)),
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_customer_by_region" ->
      """SELECT r_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q03_revenue_by_priority" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderstatus <> 'F' AND l_discount > 0.0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q04_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q05_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rk
        |  FROM orders) t WHERE rk <= 3""".stripMargin,

    "q06_active_customers_by_segment" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q07_idle_customers_by_nation" ->
      """SELECT n_name, count(*) AS n_idle
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q08_customer_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q09_nation_presence" ->
      """WITH c AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer),
        |     s AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier)
        |SELECT nationkey, 'both' AS presence FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s) t1
        |UNION ALL
        |SELECT nationkey, 'customer_only' AS presence FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s) t2
        |ORDER BY presence, nationkey""".stripMargin,

    "q10_cat_range" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value FROM events
        |WHERE epoch_us(ts) >= epoch_us(TIMESTAMP '2024-01-05')
        |  AND epoch_us(ts) < epoch_us(TIMESTAMP '2024-01-10')
        |  AND event_type = 'purchase'
        |ORDER BY ts_us, event_id""".stripMargin,

    "q11_union_slices" ->
      """WITH a AS (SELECT 'early' AS slice, event_type FROM events WHERE epoch_us(ts) < epoch_us(TIMESTAMP '2024-01-03')),
        |     b AS (SELECT 'late' AS slice, event_type FROM events WHERE epoch_us(ts) >= epoch_us(TIMESTAMP '2024-01-28'))
        |SELECT slice, event_type, count(*) AS n
        |FROM (SELECT * FROM a UNION ALL SELECT * FROM b) t
        |GROUP BY slice, event_type ORDER BY slice, event_type""".stripMargin,

    "q12_hourly_rollup" ->
      """SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS hour_epoch,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q13_lag_stats" ->
      """WITH per AS (SELECT event_type AS shard, max(epoch_us(ts)) AS last_us, count(*) AS n_records FROM events GROUP BY 1),
        |     h AS (SELECT max(epoch_us(ts)) AS head_us FROM events)
        |SELECT shard, n_records, CAST((head_us - last_us) // 1000000 AS BIGINT) AS age_sec
        |FROM per, h ORDER BY shard""".stripMargin,

    "q14_decode_props" ->
      """SELECT event_type,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(sum(COALESCE(k, 0)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM (SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q15/q32/q72 gap boundary: a delta of EXACTLY 30 min starts a new
    // session (d >= 1800000000) — session_window's half-open semantics,
    // mirrored by EventOps.sessionize.
    "q15_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |x AS (SELECT user_id, ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS d FROM e)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN d IS NULL OR d >= 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q16_asof_last_click" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
        |           WHERE event_type IN ('purchase', 'click')),
        |x AS (SELECT *,
        |  last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_id,
        |  last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
        |  FROM e)
        |SELECT user_id, event_id AS purchase_id, ts_us AS purchase_us, last_click_id, last_click_us
        |FROM x WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin,

    "q17_archive_keys" ->
      """WITH k AS (SELECT strftime(ts, '%Y%m%d') || '/events-' || event_type || '-'
        |  || CAST(epoch_us(ts) // 1000000 AS BIGINT) || '.tri' AS key FROM events)
        |SELECT regexp_extract(key, '^([0-9]{8})/', 1) AS kdate,
        |  regexp_extract(key, '^[0-9]{8}/([a-z_]+)-', 1) AS stream,
        |  regexp_extract(key, '^[0-9]{8}/[a-z_]+-([a-z_]+)-', 1) AS client,
        |  count(*) AS n_files
        |FROM k GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,
    // q18_user_cardinality: approx_count_distinct column is engine-specific
    // → rows-only check (no oracle) by design.

    "q19_exact_dedup" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS n_unique,
        |  count(*) - count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS n_dups
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // word-TRIGRAM shingles (TextDedup.ShingleWidth) — see the width
    // rationale there; the oracle reproduces the same n-gram set
    "q20_ngram_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]) shs FROM t),
        |n AS (SELECT doc_id, len(shs) nsh FROM sh),
        |ex AS (SELECT doc_id, unnest(shs) sh FROM sh),
        |p AS (SELECT a.doc_id da, b.doc_id db, count(*) inter
        |      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT p.da AS doc_a, p.db AS doc_b,
        |  floor(CAST(inter AS DOUBLE) / (x.nsh + y.nsh - inter) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM p JOIN n x ON p.da = x.doc_id JOIN n y ON p.db = y.doc_id
        |WHERE CAST(inter AS DOUBLE) / (x.nsh + y.nsh - inter) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q21_minhash_lsh_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([CAST(concat('0x', substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15)) AS BIGINT)
        |         for i in range(1, len(ts) - 1)]) hs FROM t),
        |ex AS (SELECT doc_id, unnest(hs) h FROM sh),
        |seeds AS (SELECT r.s, CAST(concat('0x', substr(md5(CAST(r.s AS VARCHAR)), 1, 15)) AS BIGINT) c FROM range(32) r(s)),
        |mh AS (SELECT ex.doc_id, seeds.s, min(xor(ex.h, seeds.c)) mh FROM ex, seeds GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(mh ORDER BY s) sig FROM mh GROUP BY 1),
        |band AS (SELECT doc_id, r.b band, array_to_string(sig[r.b * 4 + 1 : r.b * 4 + 4], ',') bkey
        |         FROM sig, range(8) r(b)),
        |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM band a JOIN band b
        |         ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |j AS (SELECT da, db, len(list_intersect(x.hs, y.hs)) inter, len(x.hs) na, len(y.hs) nb
        |      FROM cand JOIN sh x ON cand.da = x.doc_id JOIN sh y ON cand.db = y.doc_id)
        |SELECT da AS doc_a, db AS doc_b, floor(CAST(inter AS DOUBLE) / (na + nb - inter) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM j WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,

    "q22_simhash_pairs" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
        |tc AS (SELECT doc_id, tok, count(*) c FROM tok GROUP BY 1, 2),
        |th AS (SELECT doc_id, c, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) h FROM tc),
        |bits AS (SELECT doc_id, r.j, sum(CASE WHEN (h >> r.j) & 1 = 1 THEN c ELSE -c END) w
        |         FROM th, range(60) r(j) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, CAST(sum(CASE WHEN w > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) sig
        |        FROM bits GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3 ORDER BY doc_a, doc_b""".stripMargin,

    "q23_cosine_neardup" ->
      """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) nrm FROM vv),
        |p AS (SELECT a.vec_id va, b.vec_id vb,
        |        list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]), (x, y) -> x + y) / (a.nrm * b.nrm) c
        |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT va AS vec_a, vb AS vec_b, floor(c * 1000000.0 + 0.5) / 1000000.0 AS cosine FROM p WHERE c >= 0.45 ORDER BY vec_a, vec_b""".stripMargin,

    "q24_ann_bruteforce" ->
      """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) nrm FROM vv),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 100 = 0),
        |sc AS (SELECT q.query_id, n.vec_id,
        |        list_reduce(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]), (x, y) -> x + y) / (n.nrm * q.qn) c
        |      FROM n, q WHERE n.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, c, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) rk FROM sc)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, vec_id AS neighbor_id, floor(c * 1000000.0 + 0.5) / 1000000.0 AS cosine
        |FROM r WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin,
    // q25_ann_lsh: candidate recall is engine-specific by design → rows-only check.
    // q53_ann_ivf_kmeans: learned cell geometry is engine-specific → rows-only;
    //   SimilarityRecallSpec gates recall vs brute force + scanned fraction.
    // q54_token_percentiles_approx: sketch estimates are engine-specific →
    //   rows-only; a spec pins each estimate inside the sketch's documented
    //   rank-error bound around q40's exact percentiles.

    "q26_langid_confusion" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) tok FROM documents),
        |tb AS (SELECT doc_id, lang, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 4096 b FROM toks),
        |prof AS (SELECT lang AS plang, b, count(*) c FROM tb GROUP BY 1, 2),
        |tot AS (SELECT plang, CAST(sum(c) AS BIGINT) total FROM prof GROUP BY 1),
        |sc AS (SELECT t.doc_id, t.lang, p.plang,
        |         CAST(CAST(sum(p.c) AS BIGINT) AS DOUBLE) / tot.total AS score
        |       FROM tb t JOIN prof p ON t.b = p.b JOIN tot ON p.plang = tot.plang
        |       GROUP BY t.doc_id, t.lang, p.plang, tot.total),
        |arg AS (SELECT doc_id, lang, plang,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) rn FROM sc)
        |SELECT lang, plang AS predicted, count(*) AS n FROM arg WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,

    "q27_quality_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) ntok, CAST(len(list_distinct(toks)) AS BIGINT) ndist,
        |  CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT) nstop,
        |  CAST(list_reduce(list_transform(toks, x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b) AS BIGINT) sumlen
        |  FROM t)
        |SELECT doc_id, ntok,
        |  floor((0.4 * (CAST(ndist AS DOUBLE) / ntok) + 0.3 * (1.0 - CAST(nstop AS DOUBLE) / ntok)
        |    + 0.3 * least(CAST(sumlen AS DOUBLE) / ntok / 10.0, 1.0)) * 1000000.0 + 0.5) / 1000000.0 AS score
        |FROM m ORDER BY doc_id""".stripMargin,

    "q28_token_stats" ->
      """WITH t AS (SELECT source, string_split(text, ' ') toks, text FROM documents),
        |m AS (SELECT source, CAST(len(toks) AS BIGINT) n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) n_re,
        |  CAST(list_reduce(list_transform(toks, x -> (length(x) + 3) // 4), (a, b) -> a + b) AS BIGINT) n_bpe
        |  FROM t)
        |SELECT source, count(*) AS n_docs, CAST(sum(n_ws) AS BIGINT) AS sum_ws_tokens,
        |  CAST(sum(n_re) AS BIGINT) AS sum_re_tokens, CAST(sum(n_bpe) AS BIGINT) AS sum_bpe_pieces,
        |  CAST(max(n_ws) AS BIGINT) AS max_ws_tokens
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    "q29_fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |tri AS (SELECT doc_id, unnest([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]) tri FROM t),
        |fp AS (SELECT doc_id, min(CAST(concat('0x', substr(md5(tri), 1, 15)) AS BIGINT)) fingerprint FROM tri GROUP BY 1),
        |g AS (SELECT fingerprint, count(*) group_size FROM fp GROUP BY 1)
        |SELECT fp.doc_id, fp.fingerprint, g.group_size FROM fp JOIN g USING (fingerprint) ORDER BY doc_id""".stripMargin,

    // q30: the engine builds a REAL PNG per doc (pixels = text bytes cycled
    // into a (1+doc_id%16) x (1+(doc_id/16)%16) RGB raster) and decodes it
    // with ImageIO; PNG losslessness means the decoded pixel checksum must
    // equal md5 of the cycled bytes, which DuckDB computes codec-free.
    "q30_blob_meta" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 16 AS width, 1 + (doc_id // 16) % 16 AS height, text FROM documents)
        |SELECT doc_id, width, height, width * height * 3 AS n_pixel_bytes,
        |  md5(substring(repeat(text, CAST(ceil(CAST(width * height * 3 AS DOUBLE) / length(text)) AS INT)),
        |      1, CAST(width * height * 3 AS INT))) AS pixel_md5
        |FROM d ORDER BY doc_id""".stripMargin,

    "q31_frame_sample" ->
      """WITH f AS (SELECT doc_id, unnest(list_transform(range(0, (length(text) - 1) // 64 + 1),
        |  i -> struct_pack(i := i, fr := substr(text, CAST(i * 64 + 1 AS INT), 64)))) AS u FROM documents)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS frame_idx, md5(u.fr) AS frame_md5
        |FROM f WHERE u.i % 3 = 0 ORDER BY doc_id, frame_idx""".stripMargin,

    "q32_session_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |x AS (SELECT user_id, ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS d FROM e)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN d IS NULL OR d >= 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q33_tri_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        |  max(epoch_us(ts)) AS max_ts_us,
        |  min(event_id) AS min_event_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q34_msgpack_roundtrip" ->
      """WITH r AS (SELECT CASE WHEN event_id % 50 = 0 THEN NULL ELSE event_type END et,
        |                  CASE WHEN event_id % 50 = 0 THEN NULL ELSE value END v,
        |                  CASE WHEN event_id % 50 = 0 THEN NULL ELSE epoch_us(ts) END u FROM events)
        |SELECT COALESCE(et, '_corrupt_') AS event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN et IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(sum(CAST(v AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        |  max(u) AS max_ts_us
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q35_ann_ivf" ->
      """WITH vv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) nrm FROM vv),
        |el AS (SELECT label, r.i AS i, CAST(v[r.i] AS DECIMAL(25,12)) AS x FROM vv, range(1, 65) r(i)),
        |cent AS (SELECT label, i, CAST(CAST(sum(x) AS DECIMAL(30,12)) AS DOUBLE) / count(*) AS c FROM el GROUP BY 1, 2),
        |centv AS (SELECT label, list(c ORDER BY i) cv FROM cent GROUP BY 1),
        |centn AS (SELECT label, cv, sqrt(list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b)) cn FROM centv),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 100 = 0),
        |qc AS (SELECT q.query_id, c.label, q.qv, q.qn,
        |        list_reduce(list_transform(range(1, 65), i -> q.qv[i] * c.cv[i]), (x, y) -> x + y) / (q.qn * c.cn) AS csim
        |       FROM q, centn c),
        |probed AS (SELECT query_id, label, qv, qn FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, label ASC) crk FROM qc) t
        |  WHERE crk <= 2),
        |sc AS (SELECT p.query_id, n.vec_id,
        |        list_reduce(list_transform(range(1, 65), i -> n.v[i] * p.qv[i]), (x, y) -> x + y) / (n.nrm * p.qn) AS c
        |       FROM probed p JOIN n ON p.label = n.label WHERE n.vec_id <> p.query_id),
        |r AS (SELECT query_id, vec_id, c, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) rk FROM sc)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, vec_id AS neighbor_id, floor(c * 1000000.0 + 0.5) / 1000000.0 AS cosine
        |FROM r WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin,

    "q36_event_cube" ->
      """SELECT event_type, user_id % 10 AS user_bucket, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY CUBE(event_type, user_id % 10)
        |ORDER BY event_type NULLS FIRST, user_bucket NULLS FIRST""".stripMargin,

    "q37_salted_agg" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q38_range_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS u FROM events),
        |p AS (SELECT event_id, user_id, u FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, u FROM e WHERE event_type = 'click')
        |SELECT p.event_id AS purchase_id,
        |  CAST((SELECT count(*) FROM c
        |        WHERE c.user_id = p.user_id AND c.u >= p.u - 300000000 AND c.u < p.u) AS BIGINT)
        |    AS n_recent_clicks
        |FROM p ORDER BY purchase_id""".stripMargin,

    "q39_topk_agg" ->
      """SELECT event_type, CAST(rk AS BIGINT) AS rank, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) rk
        |  FROM events) t
        |WHERE rk <= 3 ORDER BY event_type, rank""".stripMargin,

    // dyadic quantile fractions over BIGINT counts: the linear
    // interpolation is exact in binary, so quantile_cont reproduces
    // Spark's percentile() bit-for-bit
    "q40_token_percentiles" ->
      """WITH t AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) n_ws FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  quantile_cont(n_ws, 0.25) AS p25,
        |  quantile_cont(n_ws, 0.5) AS p50,
        |  quantile_cont(n_ws, 0.75) AS p75
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    // q42: the LSH candidate generation is deterministic md5 arithmetic,
    // so the oracle reproduces the exact same hyperplanes, signatures,
    // bands, candidate pairs, and cosines — a full hash-match check of the
    // banded near-dup path (not just rows).
    "q42_cosine_neardup_lsh" ->
      """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) nrm FROM vv),
        |planes AS (SELECT r.p, list_transform(range(0, 64), i ->
        |    CAST(CAST(concat('0x', substr(md5(CAST(r.p AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000 AS DOUBLE) / 1000.0) w
        |  FROM range(16) r(p)),
        |sigs AS (SELECT n.vec_id,
        |    CAST(sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> n.v[i] * pl.w[i]), (a, b) -> a + b) >= 0
        |             THEN (1::BIGINT << pl.p) ELSE 0 END) AS BIGINT) AS sig
        |  FROM n, planes pl GROUP BY n.vec_id),
        |band AS (SELECT vec_id, r.b AS band, (sig >> (r.b * 4)) & 15 AS bkey FROM sigs, range(4) r(b)),
        |cand AS (SELECT DISTINCT a.vec_id va, b.vec_id vb FROM band a JOIN band b
        |         ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
        |p AS (SELECT va, vb,
        |        list_reduce(list_transform(range(1, 65), i -> x.v[i] * y.v[i]), (a, b) -> a + b) / (x.nrm * y.nrm) c
        |      FROM cand JOIN n x ON va = x.vec_id JOIN n y ON vb = y.vec_id)
        |SELECT va AS vec_a, vb AS vec_b, floor(c * 1000000.0 + 0.5) / 1000000.0 AS cosine
        |FROM p WHERE c >= 0.45 ORDER BY vec_a, vec_b""".stripMargin,

    // q43: the streaming query's result must equal the batch GROUP BY —
    // stream/batch agreement is the correctness claim, so the oracle is
    // the plain batch formulation.
    "q43_stream_hourly" ->
      """SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS window_epoch,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q47: the PRODUCTION streaming shape — OutputMode.Append into a file
    // sink, drained past the final windows by a sentinel event — must
    // produce the same batch GROUP BY; same oracle as q43 by construction.
    "q47_stream_hourly_append" ->
      """SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS window_epoch,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q44: seedless determinism — the "random" order is the shared 60-bit
    // content hash, so the oracle reproduces the exact sample.
    "q44_stratified_sample" ->
      """WITH h AS (SELECT source, doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) h
        |  FROM documents),
        |r AS (SELECT source, doc_id, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) rk FROM h)
        |SELECT source, CAST(rk AS BIGINT) AS rank, doc_id, h AS sample_key
        |FROM r WHERE rk <= 5 ORDER BY source, rank""".stripMargin,

    "q45_filter_funnel" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) ntok,
        |    CAST(len(list_distinct(toks)) AS BIGINT) ndist,
        |    CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT) nstop
        |  FROM t),
        |r AS (SELECT CASE WHEN ntok < 5 THEN 'too_short'
        |                  WHEN CAST(nstop AS DOUBLE) / ntok > 0.5 THEN 'stopword_flood'
        |                  WHEN CAST(ndist AS DOUBLE) / ntok < 0.3 THEN 'repetitive'
        |                  ELSE 'kept' END AS reason, ntok FROM m)
        |SELECT reason, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
        |FROM r GROUP BY reason ORDER BY reason""".stripMargin,

    // q46: the keep decision is a pure long compare against
    // floor(rate * 2^60) — rates are exact binary fractions, so the floor
    // and the comparison are bit-identical across engines.
    "q46_weighted_mix" ->
      """WITH d AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) ntok,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) h,
        |    CAST(concat('0x', substr(md5(source), 1, 15)) AS BIGINT) % 4 b
        |  FROM documents),
        |r AS (SELECT *, CASE b WHEN 0 THEN CAST(1.0 AS DOUBLE) WHEN 1 THEN CAST(0.5 AS DOUBLE)
        |                       WHEN 2 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.125 AS DOUBLE) END rate
        |  FROM d),
        |k AS (SELECT source, ntok,
        |    h < CAST(floor(rate * 1152921504606846976.0) AS BIGINT) kept FROM r)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN kept THEN ntok ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    // q48: connected components over q21's verified pair set — the oracle
    // recomputes the same pairs, then closes them transitively with a
    // recursive CTE (min reachable id = the component label).
    "q48_dedup_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([CAST(concat('0x', substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15)) AS BIGINT)
        |         for i in range(1, len(ts) - 1)]) hs FROM t),
        |ex AS (SELECT doc_id, unnest(hs) h FROM sh),
        |seeds AS (SELECT r.s, CAST(concat('0x', substr(md5(CAST(r.s AS VARCHAR)), 1, 15)) AS BIGINT) c FROM range(32) r(s)),
        |mh AS (SELECT ex.doc_id, seeds.s, min(xor(ex.h, seeds.c)) mh FROM ex, seeds GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(mh ORDER BY s) sig FROM mh GROUP BY 1),
        |band AS (SELECT doc_id, r.b band, array_to_string(sig[r.b * 4 + 1 : r.b * 4 + 4], ',') bkey
        |         FROM sig, range(8) r(b)),
        |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM band a JOIN band b
        |         ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |j AS (SELECT da, db, len(list_intersect(x.hs, y.hs)) inter, len(x.hs) na, len(y.hs) nb
        |      FROM cand JOIN sh x ON cand.da = x.doc_id JOIN sh y ON cand.db = y.doc_id),
        |pairs AS (SELECT da, db FROM j WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8),
        |e AS (SELECT da u, db v FROM pairs UNION SELECT db, da FROM pairs),
        |r AS (SELECT u AS n, u AS reach FROM (SELECT DISTINCT u FROM e) b0
        |      UNION SELECT r.n, e.v FROM r JOIN e ON r.reach = e.u),
        |c AS (SELECT n AS doc_id, min(reach) AS cluster_id FROM r GROUP BY 1),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM c GROUP BY 1)
        |SELECT c.doc_id, c.cluster_id, sz.cluster_size
        |FROM c JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin,

    // q49: benchmark n-gram hashes live in a broadcast sorted array on the
    // Spark side; the oracle expresses the same membership test as a join
    // on the raw trigram strings (60-bit collisions negligible, same
    // argument as q20/q21).
    "q49_contamination" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, source, list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]) shs FROM t),
        |bm AS (SELECT DISTINCT unnest(shs) sh FROM sh WHERE doc_id % 97 = 0),
        |ex AS (SELECT doc_id, source, len(shs) nsh, unnest(shs) sh FROM sh WHERE doc_id % 97 <> 0),
        |ov AS (SELECT e.doc_id, e.source, any_value(e.nsh) nsh, count(b.sh) hits
        |       FROM ex e LEFT JOIN bm b ON e.sh = b.sh GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN CAST(hits AS DOUBLE) / nsh >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  floor(max(CAST(hits AS DOUBLE) / nsh) * 1000000.0 + 0.5) / 1000000.0 AS max_overlap
        |FROM ov GROUP BY source ORDER BY source""".stripMargin,

    // short docs agree with the Spark kernel by construction: LEFT JOIN +
    // CASE keeps 1-token docs (no bigrams) in the result and defines both
    // degenerate fractions as 0.0, matching repetitionStats' semantics
    "q50_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |m AS (SELECT doc_id, CAST(len(ts) AS BIGINT) ntok,
        |    [ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))] l2,
        |    [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)] l3
        |  FROM t),
        |bc AS (SELECT doc_id, max(c) maxc FROM (
        |    SELECT doc_id, b2, count(*) c FROM (SELECT doc_id, unnest(l2) b2 FROM m) u GROUP BY 1, 2) g
        |  GROUP BY 1)
        |SELECT m.doc_id, ntok,
        |  floor((CASE WHEN len(l3) > 0 THEN 1.0 - CAST(len(list_distinct(l3)) AS DOUBLE) / len(l3) ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS dup_tri_frac,
        |  floor((CASE WHEN len(l2) > 0 THEN CAST(COALESCE(maxc, 0) AS DOUBLE) / len(l2) ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS top_bi_frac
        |FROM m LEFT JOIN bc USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q51_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]) shs FROM t),
        |ex AS (SELECT doc_id, unnest(shs) sh FROM sh),
        |f AS (SELECT sh, min(doc_id) fd FROM ex GROUP BY 1),
        |n AS (SELECT e.doc_id, count(*) nsh, sum(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END) n_novel
        |      FROM ex e JOIN f ON e.sh = f.sh GROUP BY 1)
        |SELECT doc_id, CAST(nsh AS BIGINT) AS nsh, CAST(n_novel AS BIGINT) AS n_novel,
        |  floor(CAST(n_novel AS DOUBLE) / nsh * 1000000.0 + 0.5) / 1000000.0 AS novelty
        |FROM n ORDER BY doc_id""".stripMargin,

    // q52: greedy sequential packing is inherently iterative — the oracle
    // steps one document per (language, doc_id-range) per recursion level
    // (the operator's parallel packing unit), then renumbers bins per
    // language with the same cumulative-ranges offset as the Spark side.
    "q52_sequence_packing" ->
      """WITH RECURSIVE d AS (SELECT lang, doc_id // 256 AS grp, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) ntok,
        |    row_number() OVER (PARTITION BY lang, doc_id // 256 ORDER BY doc_id) rn
        |  FROM documents),
        |p AS (
        |  SELECT lang, grp, doc_id, ntok, rn, CAST(0 AS BIGINT) AS bin, ntok AS bintot
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.lang, d.grp, d.doc_id, d.ntok, d.rn,
        |    CASE WHEN p.bintot + d.ntok > 256 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.bintot + d.ntok > 256 THEN d.ntok ELSE p.bintot + d.ntok END
        |  FROM p JOIN d ON d.lang = p.lang AND d.grp = p.grp AND d.rn = p.rn + 1),
        |nb AS (SELECT lang, grp, max(bin) + 1 AS nbins FROM p GROUP BY 1, 2),
        |off AS (SELECT lang, grp, COALESCE(sum(nbins) OVER (PARTITION BY lang ORDER BY grp
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o FROM nb)
        |SELECT p.lang, CAST(p.bin + off.o AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(p.ntok) AS BIGINT) AS n_tokens
        |FROM p JOIN off USING (lang, grp) GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin,

    // q56: the incremental screen — q21's banding across the
    // incoming/corpus split, exact-Jaccard verify, LEFT JOIN back so
    // every incoming doc gets a (n_matches, best_jaccard, kept) decision.
    "q56_incremental_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([CAST(concat('0x', substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15)) AS BIGINT)
        |         for i in range(1, len(ts) - 1)]) hs FROM t),
        |ex AS (SELECT doc_id, unnest(hs) h FROM sh),
        |seeds AS (SELECT r.s, CAST(concat('0x', substr(md5(CAST(r.s AS VARCHAR)), 1, 15)) AS BIGINT) c FROM range(32) r(s)),
        |mh AS (SELECT ex.doc_id, seeds.s, min(xor(ex.h, seeds.c)) mh FROM ex, seeds GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(mh ORDER BY s) sig FROM mh GROUP BY 1),
        |band AS (SELECT doc_id, r.b band, array_to_string(sig[r.b * 4 + 1 : r.b * 4 + 4], ',') bkey
        |         FROM sig, range(8) r(b)),
        |cand AS (SELECT DISTINCT a.doc_id di, b.doc_id dc FROM band a JOIN band b
        |         ON a.band = b.band AND a.bkey = b.bkey
        |         AND a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
        |j AS (SELECT di, dc, len(list_intersect(x.hs, y.hs)) inter, len(x.hs) na, len(y.hs) nb
        |      FROM cand JOIN sh x ON cand.di = x.doc_id JOIN sh y ON cand.dc = y.doc_id),
        |m AS (SELECT di, count(*) n, max(CAST(inter AS DOUBLE) / (na + nb - inter)) bj FROM j
        |      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8 GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(m.n, 0) AS BIGINT) AS n_matches,
        |  floor(COALESCE(m.bj, 0.0) * 1000000.0 + 0.5) / 1000000.0 AS best_jaccard,
        |  m.di IS NULL AS kept
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
        |LEFT JOIN m ON d.doc_id = m.di
        |ORDER BY d.doc_id""".stripMargin,

    // q59: the STREAMING detector under q56's exact oracle — threshold-0
    // keyed band state emits precisely the batch candidate bar (shares
    // >= 1 band bucket), and the shared decision tail makes the streaming
    // and batch screens hash-equal by construction. One oracle, two
    // engine surfaces.
    "q59_stream_incremental_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([CAST(concat('0x', substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15)) AS BIGINT)
        |         for i in range(1, len(ts) - 1)]) hs FROM t),
        |ex AS (SELECT doc_id, unnest(hs) h FROM sh),
        |seeds AS (SELECT r.s, CAST(concat('0x', substr(md5(CAST(r.s AS VARCHAR)), 1, 15)) AS BIGINT) c FROM range(32) r(s)),
        |mh AS (SELECT ex.doc_id, seeds.s, min(xor(ex.h, seeds.c)) mh FROM ex, seeds GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(mh ORDER BY s) sig FROM mh GROUP BY 1),
        |band AS (SELECT doc_id, r.b band, array_to_string(sig[r.b * 4 + 1 : r.b * 4 + 4], ',') bkey
        |         FROM sig, range(8) r(b)),
        |cand AS (SELECT DISTINCT a.doc_id di, b.doc_id dc FROM band a JOIN band b
        |         ON a.band = b.band AND a.bkey = b.bkey
        |         AND a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
        |j AS (SELECT di, dc, len(list_intersect(x.hs, y.hs)) inter, len(x.hs) na, len(y.hs) nb
        |      FROM cand JOIN sh x ON cand.di = x.doc_id JOIN sh y ON cand.dc = y.doc_id),
        |m AS (SELECT di, count(*) n, max(CAST(inter AS DOUBLE) / (na + nb - inter)) bj FROM j
        |      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8 GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(m.n, 0) AS BIGINT) AS n_matches,
        |  floor(COALESCE(m.bj, 0.0) * 1000000.0 + 0.5) / 1000000.0 AS best_jaccard,
        |  m.di IS NULL AS kept
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
        |LEFT JOIN m ON d.doc_id = m.di
        |ORDER BY d.doc_id""".stripMargin,

    // q57: q42's deterministic LSH-fed cosine pairs closed into components
    // (the embedding-side q48); same recursive-closure oracle pattern.
    "q57_embed_dedup_clusters" ->
      """WITH RECURSIVE vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) nrm FROM vv),
        |planes AS (SELECT r.p, list_transform(range(0, 64), i ->
        |    CAST(CAST(concat('0x', substr(md5(CAST(r.p AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000 AS DOUBLE) / 1000.0) w
        |  FROM range(16) r(p)),
        |sigs AS (SELECT n.vec_id,
        |    CAST(sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> n.v[i] * pl.w[i]), (a, b) -> a + b) >= 0
        |             THEN (1::BIGINT << pl.p) ELSE 0 END) AS BIGINT) AS sig
        |  FROM n, planes pl GROUP BY n.vec_id),
        |band AS (SELECT vec_id, r.b AS band, (sig >> (r.b * 4)) & 15 AS bkey FROM sigs, range(4) r(b)),
        |cand AS (SELECT DISTINCT a.vec_id va, b.vec_id vb FROM band a JOIN band b
        |         ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
        |p AS (SELECT va, vb FROM (
        |        SELECT va, vb, list_reduce(list_transform(range(1, 65), i -> x.v[i] * y.v[i]), (a, b) -> a + b) / (x.nrm * y.nrm) c
        |        FROM cand JOIN n x ON va = x.vec_id JOIN n y ON vb = y.vec_id) s
        |      WHERE c >= 0.45),
        |e AS (SELECT va u, vb v FROM p UNION SELECT vb, va FROM p),
        |rch AS (SELECT u AS nd, u AS reach FROM (SELECT DISTINCT u FROM e) b0
        |        UNION SELECT rch.nd, e.v FROM rch JOIN e ON rch.reach = e.u),
        |comp AS (SELECT nd AS vec_id, min(reach) AS cluster_id FROM rch GROUP BY 1),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
        |SELECT comp.vec_id, comp.cluster_id, sz.cluster_size
        |FROM comp JOIN sz USING (cluster_id) ORDER BY vec_id""".stripMargin,

    // q58: token-window chunking — same slicing arithmetic on both sides;
    // content compared via md5 so the oracle hash-checks chunks without
    // megabyte rows.
    "q58_token_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |c AS (SELECT doc_id, ts, unnest(range((len(ts) - 1) // 48 + 1)) AS i FROM t)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(least(i * 48 + 64, len(ts)) - i * 48 AS BIGINT) AS n_tokens,
        |  md5(array_to_string(ts[i * 48 + 1 : least(i * 48 + 64, len(ts))], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // q60: the engine builds a REAL 16-bit PCM mono WAV per doc (sample =
    // text byte * 257, little-endian; rate 8000*(1+doc_id%4)) and decodes
    // it with javax.sound.sampled. byte*257 makes both LE bytes of each
    // sample the text byte itself, so the lossless PCM stream is exactly
    // the text with every char doubled — md5-able as a plain string.
    "q60_audio_meta" ->
      """SELECT doc_id, 8000 * (1 + doc_id % 4) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels, CAST(length(text) AS BIGINT) AS n_frames,
        |  md5(regexp_replace(text, '(.)', '\1\1', 'g')) AS pcm_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q61: decode + nearest-neighbor resize — the thumbnail byte at
    // out-pixel (x,y), channel c is source byte (sy*w+sx)*3+c of the
    // cycled text (sx = x*w//8, sy = y*h//8, integer division), which
    // the oracle indexes directly out of the q30 generating rule.
    "q61_image_resize" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id // 16) % 16 AS h, text FROM documents),
        |c AS (SELECT doc_id, w, h,
        |        substring(repeat(text, CAST(ceil(CAST(w*h*3 AS DOUBLE)/length(text)) AS INT)), 1, CAST(w*h*3 AS INT)) AS cyc
        |      FROM d),
        |p AS (SELECT doc_id, w, h, cyc, unnest(range(192)) AS p FROM c),
        |b AS (SELECT doc_id, w, h, p,
        |        substring(cyc, CAST(((((p//3)//8) * h // 8) * w + (((p//3)%8) * w // 8)) * 3 + (p%3) + 1 AS INT), 1) AS ch
        |      FROM p)
        |SELECT doc_id, CAST(w AS BIGINT) AS src_w, CAST(h AS BIGINT) AS src_h,
        |       md5(string_agg(ch, '' ORDER BY p)) AS thumb_md5
        |FROM b GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // q62: amplitude stats over the decoded PCM — integer-exact (sample =
    // byte*257), so the oracle folds the same values from the text.
    "q62_audio_energy" ->
      """WITH u AS (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM documents),
        |v AS (SELECT doc_id, ascii(substring(text, CAST(i AS INT), 1)) * 257 AS v FROM u)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(v) AS BIGINT) AS sum_amp, CAST(max(v) AS BIGINT) AS peak_amp
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q63: both engines append the same deterministic PII tail (the corpus
    // itself is PII-free), then count/redact with the same RE2-compatible
    // patterns; the post-redaction md5 proves the masking byte-identical.
    "q63_pii_redaction" ->
      """WITH a AS (SELECT doc_id,
        |  text || repeat(' user' || doc_id || '@mail.example.com', CAST(1 + doc_id % 3 AS INT))
        |       || repeat(' +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), CAST(doc_id % 2 AS INT))
        |       || ' 10.' || (doc_id % 256) || '.0.1' AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '[a-z0-9._]+@[a-z0-9.]+[a-z]')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(aug, '\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(aug, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
        |    '[a-z0-9._]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g'),
        |    '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS clean_md5
        |FROM a ORDER BY doc_id""".stripMargin,

    // q64: lines are fixed 4-token spans (the corpus has no newlines);
    // any line occurring 2+ times anywhere is dropped from every doc, and
    // the kept lines reassemble in pos order — md5-checked.
    "q64_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |l AS (SELECT doc_id, i AS pos, array_to_string(ts[i*4+1 : i*4+4], ' ') AS line
        |      FROM t, unnest(generate_series(0, CAST(ceil(len(ts)/4.0) AS INT) - 1)) u(i)),
        |c AS (SELECT line, count(*) AS c FROM l GROUP BY line),
        |k AS (SELECT l.doc_id, l.pos, l.line FROM l JOIN c USING (line) WHERE c.c < 2),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |        string_agg(line, ' ' ORDER BY pos) AS txt FROM k GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(ceil(len(ts)/4.0) AS BIGINT) AS n_lines FROM t)
        |SELECT n.doc_id, n.n_lines, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  md5(coalesce(r.txt, '')) AS clean_md5
        |FROM n LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // q65: unigram-LM scoring with integer-exact arithmetic-mean
    // probability (no libm log, so the doubles match bit-for-bit).
    "q65_token_rarity" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok),
        |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM f),
        |j AS (SELECT t.doc_id, f.freq FROM t JOIN f USING (tok))
        |SELECT j.doc_id, CAST(count(*) AS BIGINT) AS ntok,
        |  CAST(min(j.freq) AS BIGINT) AS min_freq,
        |  floor(1e6 * (CAST(sum(j.freq) AS DOUBLE) / (count(*) * tot.total)) + 0.5) / 1e6 AS mean_prob
        |FROM j, tot GROUP BY j.doc_id, tot.total ORDER BY j.doc_id""".stripMargin,

    // q55: q48's component closure LEFT-JOINed to every document — the
    // keep decision is "doc is its cluster's min id" (unclustered docs
    // are their own cluster and kept).
    "q55_dedup_keep_list" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([CAST(concat('0x', substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15)) AS BIGINT)
        |         for i in range(1, len(ts) - 1)]) hs FROM t),
        |ex AS (SELECT doc_id, unnest(hs) h FROM sh),
        |seeds AS (SELECT r.s, CAST(concat('0x', substr(md5(CAST(r.s AS VARCHAR)), 1, 15)) AS BIGINT) c FROM range(32) r(s)),
        |mh AS (SELECT ex.doc_id, seeds.s, min(xor(ex.h, seeds.c)) mh FROM ex, seeds GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(mh ORDER BY s) sig FROM mh GROUP BY 1),
        |band AS (SELECT doc_id, r.b band, array_to_string(sig[r.b * 4 + 1 : r.b * 4 + 4], ',') bkey
        |         FROM sig, range(8) r(b)),
        |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM band a JOIN band b
        |         ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |j AS (SELECT da, db, len(list_intersect(x.hs, y.hs)) inter, len(x.hs) na, len(y.hs) nb
        |      FROM cand JOIN sh x ON cand.da = x.doc_id JOIN sh y ON cand.db = y.doc_id),
        |pairs AS (SELECT da, db FROM j WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8),
        |e AS (SELECT da u, db v FROM pairs UNION SELECT db, da FROM pairs),
        |r AS (SELECT u AS n, u AS reach FROM (SELECT DISTINCT u FROM e) b0
        |      UNION SELECT r.n, e.v FROM r JOIN e ON r.reach = e.u),
        |c AS (SELECT n AS doc_id, min(reach) AS cluster_id FROM r GROUP BY 1)
        |SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
        |  d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS keep
        |FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // q66: q55's component closure + q27's (already 1e-6-rounded) quality
    // score; the representative is argmax(score), doc_id tie-break.
    "q66_canonical_docs" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([CAST(concat('0x', substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15)) AS BIGINT)
        |         for i in range(1, len(ts) - 1)]) hs FROM t),
        |ex AS (SELECT doc_id, unnest(hs) h FROM sh),
        |seeds AS (SELECT r.s, CAST(concat('0x', substr(md5(CAST(r.s AS VARCHAR)), 1, 15)) AS BIGINT) c FROM range(32) r(s)),
        |mh AS (SELECT ex.doc_id, seeds.s, min(xor(ex.h, seeds.c)) mh FROM ex, seeds GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(mh ORDER BY s) sig FROM mh GROUP BY 1),
        |band AS (SELECT doc_id, r.b band, array_to_string(sig[r.b * 4 + 1 : r.b * 4 + 4], ',') bkey
        |         FROM sig, range(8) r(b)),
        |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM band a JOIN band b
        |         ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |j AS (SELECT da, db, len(list_intersect(x.hs, y.hs)) inter, len(x.hs) na, len(y.hs) nb
        |      FROM cand JOIN sh x ON cand.da = x.doc_id JOIN sh y ON cand.db = y.doc_id),
        |pairs AS (SELECT da, db FROM j WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8),
        |e AS (SELECT da u, db v FROM pairs UNION SELECT db, da FROM pairs),
        |r AS (SELECT u AS n, u AS reach FROM (SELECT DISTINCT u FROM e) b0
        |      UNION SELECT r.n, e.v FROM r JOIN e ON r.reach = e.u),
        |c AS (SELECT n AS doc_id, min(reach) AS cluster_id FROM r GROUP BY 1),
        |m AS (SELECT doc_id, CAST(len(ts) AS BIGINT) ntok, CAST(len(list_distinct(ts)) AS BIGINT) ndist,
        |  CAST(len(list_filter(ts, x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT) nstop,
        |  CAST(list_reduce(list_transform(ts, x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b) AS BIGINT) sumlen
        |  FROM t),
        |q AS (SELECT doc_id,
        |  floor((0.4 * (CAST(ndist AS DOUBLE) / ntok) + 0.3 * (1.0 - CAST(nstop AS DOUBLE) / ntok)
        |    + 0.3 * least(CAST(sumlen AS DOUBLE) / ntok / 10.0, 1.0)) * 1000000.0 + 0.5) / 1000000.0 AS score
        |  FROM m),
        |lab AS (SELECT q.doc_id, COALESCE(c.cluster_id, q.doc_id) AS cluster_id, q.score
        |        FROM q LEFT JOIN c ON q.doc_id = c.doc_id)
        |SELECT doc_id, cluster_id, score,
        |  row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC) = 1 AS keep
        |FROM lab ORDER BY doc_id""".stripMargin,

    // q67: the oracle's single window per source IS the semantics; the
    // engine reproduces it with the two-level bucket decomposition (bucket
    // order is monotone in h, so the totals agree row-for-row).
    "q67_token_budget_mix" ->
      """WITH d AS (SELECT source, doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) ntok
        |  FROM documents),
        |r AS (SELECT source, doc_id, ntok,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) mix_rank,
        |    sum(ntok) OVER (PARTITION BY source ORDER BY h, doc_id
        |                    ROWS UNBOUNDED PRECEDING) cum_tok
        |  FROM d)
        |SELECT source, doc_id, CAST(mix_rank AS BIGINT) AS mix_rank, ntok,
        |  CAST(cum_tok AS BIGINT) AS cum_tok, cum_tok <= 800 AS keep
        |FROM r ORDER BY source, mix_rank""".stripMargin,

    // q68: both engines run the IDENTICAL double expression (float→double
    // exact, IEEE ops bit-deterministic), so the integer summaries — incl.
    // the order-sensitive Σ(i+1)·q_i — must match exactly. DuckDB lambda
    // index is 1-based where Spark's is 0-based; both compute (i+1).
    "q68_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |    list_reduce(list_transform(v, x -> abs(x)), (a, b) -> greatest(a, b)) ma FROM e),
        |qv AS (SELECT vec_id, label, ma,
        |    list_transform(v, x -> CAST(floor(x * 127.0 / greatest(ma, 1e-30) + 0.5) AS BIGINT)) q
        |  FROM m)
        |SELECT vec_id, label, CAST(len(q) AS BIGINT) AS n_dims,
        |  floor(ma * 1e6 + 0.5) / 1e6 AS max_abs,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS q_energy,
        |  CAST(list_sum(list_transform(q, (x, i) -> x * i)) AS BIGINT) AS q_check
        |FROM qv ORDER BY vec_id""".stripMargin,

    // q69: C4 keep-first — the occurrence with the smallest (doc_id, pos)
    // survives, all later copies drop. Spark groups by xxhash64(line),
    // the oracle by the line text — identical modulo 64-bit collisions.
    "q69_line_dedup_keep_first" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |l AS (SELECT doc_id, i AS pos, array_to_string(ts[i*4+1 : i*4+4], ' ') AS line
        |      FROM t, unnest(generate_series(0, CAST(ceil(len(ts)/4.0) AS INT) - 1)) u(i)),
        |k AS (SELECT doc_id, pos, line,
        |        row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS occ FROM l),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |        string_agg(line, ' ' ORDER BY pos) AS txt FROM k WHERE occ = 1 GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(ceil(len(ts)/4.0) AS BIGINT) AS n_lines FROM t)
        |SELECT n.doc_id, n.n_lines, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  md5(coalesce(r.txt, '')) AS clean_md5
        |FROM n LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // q70: duplicate-trigram fraction at corpus scope (RefinedWeb filter
    // signal) — distinct trigrams per doc, df >= 2 marks both copies.
    "q70_dup_ngram_fraction" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]) shs FROM t),
        |ex AS (SELECT doc_id, unnest(shs) sh FROM sh),
        |f AS (SELECT sh, count(*) df FROM ex GROUP BY 1),
        |n AS (SELECT e.doc_id, count(*) nsh, sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) n_dup
        |      FROM ex e JOIN f ON e.sh = f.sh GROUP BY 1)
        |SELECT doc_id, CAST(nsh AS BIGINT) AS nsh, CAST(n_dup AS BIGINT) AS n_dup,
        |  floor(CAST(n_dup AS DOUBLE) / nsh * 1000000.0 + 0.5) / 1000000.0 AS dup_frac
        |FROM n ORDER BY doc_id""".stripMargin,

    // q71: q24's exact top-5 + a label majority vote, ties to the
    // smallest label.
    "q71_knn_classify" ->
      """WITH vv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) nrm FROM vv),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 100 = 0),
        |sc AS (SELECT q.query_id, n.vec_id, n.label,
        |        list_reduce(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]), (x, y) -> x + y) / (n.nrm * q.qn) c
        |      FROM n, q WHERE n.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, label, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) rk FROM sc),
        |v AS (SELECT query_id, CAST(label AS BIGINT) AS label, count(*) AS votes FROM r WHERE rk <= 5 GROUP BY 1, 2),
        |w AS (SELECT query_id, label, votes,
        |        row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label ASC) vr FROM v)
        |SELECT query_id, label AS pred_label, CAST(votes AS BIGINT) AS votes
        |FROM w WHERE vr = 1 ORDER BY query_id""".stripMargin,

    // q72: the streaming session_window run must equal the batch session
    // rollup — same oracle as q32 by construction.
    "q72_stream_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |x AS (SELECT user_id, ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS d FROM e)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN d IS NULL OR d >= 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q73: cross-source contamination matrix — distinct word trigrams per
    // source, COMPLETE unordered-pair matrix (zero-overlap pairs included
    // via the left join), trigram-set Jaccard. Spark hashes shingles to
    // 60-bit longs, the oracle works on the raw strings — identical modulo
    // negligible 60-bit collisions (same convention as q20/q70).
    "q73_cross_source_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]) shs FROM t),
        |ex AS (SELECT doc_id, unnest(shs) sh FROM sh),
        |sg AS (SELECT DISTINCT d.source, e.sh FROM ex e JOIN documents d USING (doc_id)),
        |gs AS (SELECT source, count(*) AS n FROM sg GROUP BY 1),
        |sz AS (SELECT s.source, coalesce(gs.n, 0) AS n
        |       FROM (SELECT DISTINCT source FROM documents) s LEFT JOIN gs USING (source)),
        |sp AS (SELECT a.source AS sa, b.source AS sb, count(*) AS ns
        |       FROM sg a JOIN sg b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2),
        |p AS (SELECT a.source AS source_a, b.source AS source_b, a.n AS na, b.n AS nb
        |      FROM sz a JOIN sz b ON a.source < b.source)
        |SELECT source_a, source_b, CAST(coalesce(ns, 0) AS BIGINT) AS n_shared,
        |  CASE WHEN na + nb - coalesce(ns, 0) = 0 THEN 0.0
        |       ELSE floor(CAST(coalesce(ns, 0) AS DOUBLE) / (na + nb - coalesce(ns, 0)) * 1000000.0 + 0.5) / 1000000.0 END AS jaccard
        |FROM p LEFT JOIN sp ON source_a = sa AND source_b = sb
        |ORDER BY source_a, source_b""".stripMargin,

    // q74: q18's exact half split out so the distinct count is
    // oracle-checked (the HLL column stays rows-only in q18 by design).
    "q74_user_cardinality_exact" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users_exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q75: the Bloom-prefiltered screen is exact by construction (false
    // positives die in the verify join), so the oracle is q49's SQL shape
    // at this operator's (mod 61, threshold 0.3) parameters.
    "q75_contamination_bloom" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, source, list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]) shs FROM t),
        |bm AS (SELECT DISTINCT unnest(shs) sh FROM sh WHERE doc_id % 61 = 0),
        |ex AS (SELECT doc_id, source, len(shs) nsh, unnest(shs) sh FROM sh WHERE doc_id % 61 <> 0),
        |ov AS (SELECT e.doc_id, e.source, any_value(e.nsh) nsh, count(b.sh) hits
        |       FROM ex e LEFT JOIN bm b ON e.sh = b.sh GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN CAST(hits AS DOUBLE) / nsh >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  floor(max(CAST(hits AS DOUBLE) / nsh) * 1000000.0 + 0.5) / 1000000.0 AS max_overlap
        |FROM ov GROUP BY source ORDER BY source""".stripMargin,

    // q76: duplicated-substring span coverage — stride-1 8-token windows,
    // df >= 2 across the corpus, merged spans (gaps-and-islands; with
    // fixed-length stride-1 windows the previous span end is lag(pos)+7).
    // Spark keys the corpus stream on xxhash64(window), the oracle on the
    // window strings — identical modulo negligible 64-bit collisions
    // (q64/q69 convention).
    "q76_dup_substring_coverage" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |base AS (SELECT doc_id, CAST(len(ts) AS BIGINT) ntok, ts FROM t),
        |wins AS (SELECT doc_id, unnest(range(1, CAST(ntok AS INT) - 6)) AS pos, ts FROM base),
        |wstr AS (SELECT doc_id, pos, array_to_string(ts[pos:pos+7], ' ') AS w FROM wins),
        |df AS (SELECT w FROM wstr GROUP BY w HAVING count(*) >= 2),
        |dups AS (SELECT doc_id, pos FROM wstr JOIN df USING (w)),
        |isl AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |          OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 7 THEN 1 ELSE 0 END AS brk FROM dups),
        |grp AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM isl),
        |per AS (SELECT doc_id, g, count(*) nw, max(pos) - min(pos) + 8 cov FROM grp GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(nw) AS BIGINT) n_dup_windows, CAST(count(*) AS BIGINT) n_spans,
        |        CAST(sum(cov) AS BIGINT) dup_tokens FROM per GROUP BY 1)
        |SELECT b.doc_id, b.ntok, CAST(GREATEST(b.ntok - 7, 0) AS BIGINT) AS n_windows,
        |  CAST(COALESCE(a.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  floor(CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / b.ntok * 1000000.0 + 0.5) / 1000000.0 AS dup_cov_frac
        |FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    // q77_semantic_dedup: no oracle by design — the learned k-means
    // codebook is not SQL-expressible (rows-only; spec gates in
    // SimilarityRecallSpec cover in-cell exactness, recall vs the global
    // exact prune, and the one-keeper-per-component invariant).

    // q78: the manifest the Spark side computes from the READ-BACK shard
    // files must equal the assignment arithmetic computed straight off
    // the documents table — any write/read loss or shard misassignment
    // breaks the hash compare. Shard + checksum reproduce hash60 via
    // md5 (the established cross-engine convention).
    "q78_training_shards" ->
      """WITH d AS (SELECT doc_id, text,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 32 AS shard
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  CAST(sum(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 1000000007) AS BIGINT) AS content_sum
        |FROM d GROUP BY shard ORDER BY shard""".stripMargin,

    // q79: integer cross-multiplied rule comparisons — no division, no
    // rounding convention needed; both engines evaluate identical BIGINT
    // arithmetic. sum(len(tok)) uses the single-char-split identity
    // len(text) - (ntok - 1).
    "q79_quality_gate" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') ts FROM documents),
        |m AS (SELECT doc_id, CAST(len(ts) AS BIGINT) ntok,
        |  CAST(len(text) - len(ts) + 1 AS BIGINT) sumlen,
        |  CAST(len(list_distinct(ts)) AS BIGINT) nd,
        |  CAST(len(list_intersect(ts, ['the','a','of','to','and'])) AS BIGINT) nstop FROM t)
        |SELECT doc_id, ntok,
        |  ntok < 16 AS f_short,
        |  ntok > 96 AS f_long,
        |  (sumlen < ntok * 4 OR sumlen * 10 > ntok * 52) AS f_len,
        |  nd * 100 < ntok * 35 AS f_ttr,
        |  nstop < 2 AS f_stop,
        |  NOT (ntok < 16 OR ntok > 96 OR sumlen < ntok * 4
        |    OR sumlen * 10 > ntok * 52 OR nd * 100 < ntok * 35
        |    OR nstop < 2) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // q80: bucket + membership checksum reproduce hash60 via md5 (the
    // established cross-engine convention, q78's form).
    "q80_split_manifest" ->
      """WITH d AS (SELECT doc_id, source, text,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |a AS (SELECT doc_id, source, text, h,
        |    CASE WHEN h % 100 < 90 THEN 'train'
        |         WHEN h % 100 < 95 THEN 'val' ELSE 'test' END AS split
        |  FROM d)
        |SELECT split, source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  CAST(sum(h % 1000000007) AS BIGINT) AS id_sum
        |FROM a GROUP BY split, source ORDER BY split, source""".stripMargin,

    // q81: idf takes one of nSources distinct ln values (small-integer
    // ratios — identical doubles in both engines); the product with the
    // BIGINT tf is then exact IEEE arithmetic on identical operands, so
    // the (score desc, term asc) rank and the round6-ed score agree
    // bit-for-bit.
    "q81_source_tfidf" ->
      """WITH terms AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT source, term, CAST(count(*) AS BIGINT) tf FROM terms GROUP BY 1, 2),
        |sfq AS (SELECT term, CAST(count(*) AS BIGINT) sf FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT source) AS BIGINT) n_src FROM documents),
        |sc AS (SELECT source, term, tf, sf,
        |    tf * ln(CAST(n_src AS DOUBLE) / CAST(sf AS DOUBLE)) AS score
        |  FROM tf JOIN sfq USING (term) CROSS JOIN n),
        |r AS (SELECT *, CAST(row_number() OVER
        |    (PARTITION BY source ORDER BY score DESC, term ASC) AS BIGINT) AS rank
        |  FROM sc)
        |SELECT source, rank, term, tf, sf,
        |  floor(score * 1000000.0 + 0.5) / 1000000.0 AS tfidf
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    // q82: float sums re-associate under partial aggregation, so the
    // stats quantize components to integers (floor(c*1e6+0.5), the
    // engine-shared rounding form — float->double is exact in both
    // engines) and sum BIGINTs order-free. DuckDB's sum(BIGINT) widens
    // to HUGEINT, hence the casts back.
    "q82_embed_stats" ->
      """WITH base AS (SELECT label, vec_id, len(embedding) nd, embedding FROM embeddings),
        |c AS (SELECT label, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) qc FROM base),
        |per AS (SELECT label, CAST(sum(qc) AS BIGINT) sum_q, CAST(sum(qc * qc) AS BIGINT) sum_q2 FROM c GROUP BY label),
        |v AS (SELECT label, CAST(count(*) AS BIGINT) n_vecs, CAST(max(nd) AS BIGINT) n_dims FROM base GROUP BY label)
        |SELECT label, n_vecs, n_dims, sum_q, sum_q2,
        |  floor(sum_q / (n_vecs * n_dims * 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS mean_comp,
        |  floor(sum_q2 / (n_vecs * 1000000000000.0) * 1000000.0 + 0.5) / 1000000.0 AS mean_energy
        |FROM per JOIN v USING (label) ORDER BY label""".stripMargin,

    // q83: the streamed router's per-source rollup under the aggregate
    // form of q79's rule battery; n_misrouted is the file-level
    // routing cross-check, identically 0 when every row landed in the
    // sink its own flags dictate.
    "q83_stream_quality_gate" ->
      """WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') ts FROM documents),
        |m AS (SELECT source, CAST(len(ts) AS BIGINT) ntok,
        |  CAST(len(text) - len(ts) + 1 AS BIGINT) sumlen,
        |  CAST(len(list_distinct(ts)) AS BIGINT) nd,
        |  CAST(len(list_intersect(ts, ['the','a','of','to','and'])) AS BIGINT) nstop FROM t),
        |f AS (SELECT source, ntok < 16 AS f_short, ntok > 96 AS f_long,
        |  (sumlen < ntok * 4 OR sumlen * 10 > ntok * 52) AS f_len,
        |  nd * 100 < ntok * 35 AS f_ttr, nstop < 2 AS f_stop FROM m)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN NOT (f_short OR f_long OR f_len OR f_ttr OR f_stop) THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |  CAST(sum(CASE WHEN f_long THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
        |  CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
        |  CAST(sum(CASE WHEN f_ttr THEN 1 ELSE 0 END) AS BIGINT) AS n_ttr,
        |  CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
        |  CAST(0 AS BIGINT) AS n_misrouted
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    // q84: per-day rollup of the COMPACTED archive slice vs the original
    // table — certifies the rewrite + rename swap preserved every row.
    "q84_archive_compact" ->
      """SELECT strftime(ts, '%Y%m%d') AS date, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        |  max(epoch_us(ts)) AS max_ts_us,
        |  min(event_id) AS min_event_id
        |FROM events
        |WHERE epoch_us(ts) < (SELECT min(epoch_us(ts)) FROM events) + CAST(5 AS BIGINT) * 86400 * 1000000
        |GROUP BY 1 ORDER BY date""".stripMargin,

    // q85: both engines quantize ln(rank)/ln(freq) to BIGINT
    // (floor(ln·1e6+0.5) on exact integer inputs), sum the OLS moments
    // order-free in integers, and divide once in doubles on identical
    // operands. DuckDB's sum(BIGINT) widens to HUGEINT — cast back.
    "q85_zipf_profile" ->
      """WITH tf AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
        |cnt AS (SELECT source, term, CAST(count(*) AS BIGINT) tf FROM tf GROUP BY 1, 2),
        |rk AS (SELECT source, tf,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY tf DESC, term ASC) AS BIGINT) AS rank
        |  FROM cnt),
        |q AS (SELECT source, tf,
        |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) x,
        |    CAST(floor(ln(CAST(tf AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) y
        |  FROM rk),
        |agg AS (SELECT source, CAST(count(*) AS BIGINT) vocab, CAST(sum(tf) AS BIGINT) n_tokens,
        |    CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
        |    CAST(sum(x * y) AS BIGINT) sxy, CAST(sum(x * x) AS BIGINT) sxx
        |  FROM q GROUP BY source)
        |SELECT source, vocab, n_tokens,
        |  CASE WHEN vocab > 1 THEN
        |    floor((CAST(vocab AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |          (CAST(vocab AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |          * 1000000.0 + 0.5) / 1000000.0
        |  ELSE 0.0 END AS zipf_slope
        |FROM agg ORDER BY source""".stripMargin,

    // q86: integer hourly counts, integer trailing moment sums, one
    // double mean/variance/sqrt/z on identical operands; warmup and
    // zero-variance hours pin z = 0 / has_baseline false so no
    // NULL-vs-NaN convention ever reaches the compare.
    "q86_hourly_anomaly" ->
      """WITH hourly AS (SELECT event_type,
        |    CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS hour_epoch,
        |    CAST(count(*) AS BIGINT) n
        |  FROM events GROUP BY 1, 2),
        |wn AS (SELECT event_type, hour_epoch, n,
        |    CAST(count(*) OVER w AS BIGINT) k,
        |    CAST(sum(n) OVER w AS BIGINT) m,
        |    CAST(sum(n * n) OVER w AS BIGINT) s2
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_epoch
        |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |sc AS (SELECT event_type, hour_epoch, n,
        |    (k = 24 AND (24.0 * s2 - CAST(m * m AS DOUBLE)) / 552.0 > 0.0) AS has_baseline,
        |    (CAST(n AS DOUBLE) - CAST(m AS DOUBLE) / 24.0) /
        |      sqrt((24.0 * s2 - CAST(m * m AS DOUBLE)) / 552.0) AS z0
        |  FROM wn)
        |SELECT event_type, hour_epoch, n, has_baseline,
        |  floor((CASE WHEN has_baseline THEN z0 ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS z,
        |  (has_baseline AND
        |   abs(floor((CASE WHEN has_baseline THEN z0 ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0) >= 3.0) AS is_spike
        |FROM sc ORDER BY event_type, hour_epoch""".stripMargin,

    // q87: strict ordering — each stage's min ts among events strictly
    // after the user's previous-stage entry; lags sum as integer
    // microseconds, one double division for the mean.
    "q87_event_funnel" ->
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) t2, min(s1.t1) t1
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
        |  GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) t3, min(s2.t2) t2
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
        |  GROUP BY e.user_id),
        |rep AS (
        |  SELECT '1_signup' stage, CAST(count(*) AS BIGINT) n_users, CAST(0 AS BIGINT) sum_lag_us FROM s1
        |  UNION ALL
        |  SELECT '2_click', CAST(count(*) AS BIGINT), CAST(coalesce(sum(t2 - t1), 0) AS BIGINT) FROM s2
        |  UNION ALL
        |  SELECT '3_purchase', CAST(count(*) AS BIGINT), CAST(coalesce(sum(t3 - t2), 0) AS BIGINT) FROM s3)
        |SELECT stage, n_users, sum_lag_us,
        |  floor((CASE WHEN n_users > 0 THEN sum_lag_us / (n_users * 3600000000.0) ELSE 0.0 END)
        |        * 1000000.0 + 0.5) / 1000000.0 AS mean_lag_hours
        |FROM rep ORDER BY stage""".stripMargin,

    // q88: integer epoch weeks (epoch_us // one-week-of-micros) — no
    // calendar or timezone arithmetic to disagree on.
    "q88_retention_cohorts" ->
      """WITH uw AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
        |c AS (SELECT user_id, min(week) cohort_week FROM uw GROUP BY user_id)
        |SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM uw JOIN c ON uw.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q89: each 4x4 frame's 16 pixel bytes ARE md5(doc_id:frame:text)
    // (identity gray palette, GIF lossless at <=256 colors), so the
    // decoded-pixel sum over the stride-2 sampled frames is restated
    // from the generation rule — no codec in the oracle.
    "q89_gif_frame_sample" ->
      """WITH fr AS (SELECT doc_id, text, CAST(2 + doc_id % 6 AS BIGINT) n_frames FROM documents),
        |sam AS (SELECT doc_id, n_frames, unnest(range(0, CAST(n_frames AS INT), 2)) f, text FROM fr),
        |px AS (SELECT doc_id, n_frames, f,
        |    md5(doc_id || ':' || f || ':' || text) h FROM sam)
        |SELECT doc_id, any_value(n_frames) AS n_frames,
        |  CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(sum(list_sum([CAST(concat('0x', substr(h, 2*i-1, 2)) AS BIGINT) for i in range(1, 17)])) AS BIGINT) AS pix_sum
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q90: per-edge anti-join orphan counts; the events edge is a soft
    // edge whose non-zero count is the informative outcome.
    "q90_integrity_audit" ->
      """WITH e(edge_child, edge_parent, n_child_rows, n_orphans) AS (
        |  SELECT 'orders.o_custkey', 'customer.c_custkey',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL SELECT 'lineitem.l_orderkey', 'orders.o_orderkey',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL SELECT 'lineitem.l_partkey', 'part.p_partkey',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |  UNION ALL SELECT 'lineitem.l_suppkey', 'supplier.s_suppkey',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |  UNION ALL SELECT 'customer.c_nationkey', 'nation.n_nationkey',
        |    (SELECT count(*) FROM customer),
        |    (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |  UNION ALL SELECT 'supplier.s_nationkey', 'nation.n_nationkey',
        |    (SELECT count(*) FROM supplier),
        |    (SELECT count(*) FROM supplier sp WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = sp.s_nationkey))
        |  UNION ALL SELECT 'nation.n_regionkey', 'region.r_regionkey',
        |    (SELECT count(*) FROM nation),
        |    (SELECT count(*) FROM nation n WHERE NOT EXISTS
        |      (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
        |  UNION ALL SELECT 'events.user_id', 'customer.c_custkey',
        |    (SELECT count(*) FROM events),
        |    (SELECT count(*) FROM events ev WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = ev.user_id)))
        |SELECT edge_child, edge_parent,
        |  CAST(n_child_rows AS BIGINT) AS n_child_rows,
        |  CAST(n_orphans AS BIGINT) AS n_orphans
        |FROM e ORDER BY edge_child, edge_parent""".stripMargin,

    // q91: a monotone per-user counter's max across micro-batch
    // emissions equals the batch count; last-seen is the batch max.
    "q91_stream_running_counts" ->
      """SELECT user_id, count(*) AS n_events, max(epoch_us(ts)) AS last_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q92: the batch form of the attribution join — purchases within
    // [click, click + 1h) per user; lags in integer microseconds.
    "q92_stream_stream_join" ->
      """SELECT c.user_id, count(*) AS n_pairs,
        |  CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS sum_lag_us,
        |  CAST(min(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS min_lag_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) >= epoch_us(c.ts)
        | AND epoch_us(p.ts) < epoch_us(c.ts) + 3600000000
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    // q96: batch left-anti twin of the streamed left-outer join — NO
    // time cutoff: the stream's far-future sentinel record makes every
    // click decidable (see streamAbandonment's doc), so both engines
    // score the full click set.
    "q96_stream_abandonment" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS t FROM events
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS t FROM events
        |      WHERE event_type = 'purchase')
        |SELECT c.user_id, count(*) AS n_abandoned,
        |  CAST(min(c.t) AS BIGINT) AS min_click_us,
        |  CAST(max(c.t) AS BIGINT) AS max_click_us
        |FROM c WHERE NOT EXISTS (SELECT 1 FROM p
        |  WHERE p.user_id = c.user_id AND p.t >= c.t
        |    AND p.t < c.t + 3600000000)
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    // q97: ML bigram LM over the corpus itself — integer counts, qln
    // quantization (the q85 discipline), one final double division
    // chain identical in both engines. range(1, len) is empty for
    // 1-token docs, which stay via the LEFT JOIN with entropy 0.0.
    "q97_bigram_entropy" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |bg AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        |       FROM t, UNNEST(range(1, len(ts))) AS u(i)),
        |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
        |       FROM bg GROUP BY 1, 2),
        |m AS (SELECT w1, w2,
        |        CAST(floor(ln(CAST(sum(c2) OVER (PARTITION BY w1) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        |      - CAST(floor(ln(CAST(c2 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS score
        |      FROM c2),
        |sc AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS nb,
        |         CAST(sum(score) AS BIGINT) AS ss
        |       FROM bg JOIN m ON bg.w1 = m.w1 AND bg.w2 = m.w2
        |       GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(sc.nb, 0) AS n_bigrams,
        |  CASE WHEN sc.nb IS NULL THEN 0.0
        |    ELSE floor(((CAST(sc.ss AS DOUBLE) / 1000000.0) / sc.nb) * 1000000.0 + 0.5) / 1000000.0
        |  END AS cross_entropy
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // q98: the Misra-Gries pass only PROPOSES candidates; the exact
    // recheck disposes — so the sketch-side nondeterminism (partition
    // layout) never reaches the output and the full-groupBy oracle
    // hash-matches. Threshold is integer: c*k > N.
    "q98_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |n AS (SELECT count(*) AS c FROM t),
        |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1)
        |SELECT cnt.w AS token, cnt.c AS n FROM cnt, n
        |WHERE cnt.c * 32 > n.c
        |ORDER BY cnt.c DESC, cnt.w ASC""".stripMargin,

    // q100: the oracle replays the deterministic mod-37 corruption rule
    // on the ORIGINAL parquet — dead letters never parse, so their
    // aggregate columns are NULL in both engines.
    "q100_jsonl_ingest" ->
      """WITH g AS (SELECT event_type AS kind, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(user_id) AS BIGINT) AS sum_user,
        |    CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
        |  FROM events WHERE event_id % 37 != 0 GROUP BY 1),
        |d AS (SELECT '_dead' AS kind, CAST(count(*) AS BIGINT) AS n,
        |    CAST(NULL AS BIGINT) AS sum_user, CAST(NULL AS BIGINT) AS max_ts_us
        |  FROM events WHERE event_id % 37 = 0)
        |SELECT * FROM (SELECT * FROM g UNION ALL SELECT * FROM d)
        |ORDER BY kind""".stripMargin,

    // q99: identical window formulation on both engines — the
    // (ts, event_id) order and the 1-row frame exclusions make the
    // backward/forward candidates deterministic, and the nearest/
    // tolerance selection is integer CASE arithmetic. 2h tolerance
    // = 7200000000 us.
    "q99_asof_nearest" -> q99Sql,

    // q183: the SAME oracle text as q99 — the native AsOfJoinExec
    // nearest path must hash-equal the window composition row for row,
    // which is precisely the operator's correctness claim.
    "q183_asof_nearest_native" -> q99Sql,

    // q93: per-user order is (epoch_us, event_id) — the tie-break is
    // part of the contract; top-k cuts on (n desc, path asc).
    "q93_event_transitions" ->
      """WITH o AS (SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT event_type AS e1, e2, e3, count(*) AS n
        |FROM o WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin,

    "q41_event_pivot" ->
      """SELECT strftime(ts, '%Y%m%d') AS day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    // q101: the 1.5x-average screen in integer cents — avg() is a
    // DOUBLE whose summation order differs between engines, so the
    // comparison is cross-multiplied: cents * 2 * cnt > 3 * sum_cents.
    // DuckDB runs the correlated form as written; Spark decorrelates
    // the same text (PlanSpec pins that).
    "q101_above_avg_orders" ->
      """SELECT o.o_orderpriority,
        |  count(*) AS n_big,
        |  CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_big_cents
        |FROM orders o
        |WHERE CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 2 *
        |      (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |    > 3 * (SELECT sum(CAST(CAST(o2.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin,

    // q105: bin ids are pure integer arithmetic ((cents-mn)*16 // span)
    // so edge rows can't straddle engines; bin_lo is one int-to-double
    // conversion + one divide — IEEE-identical — then round6.
    "q105_order_histogram" ->
      """WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM orders),
        |b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM c)
        |SELECT least((c.cents - b.mn) * 16 // (b.mx - b.mn + 1), 15) AS bin,
        |  floor((b.mn + least((c.cents - b.mn) * 16 // (b.mx - b.mn + 1), 15) * (b.mx - b.mn + 1) / 16.0) * 1000000 + 0.5) / 1000000 AS bin_lo,
        |  count(*) AS n_orders,
        |  CAST(sum(c.cents) AS BIGINT) AS sum_cents
        |FROM c, b
        |GROUP BY 1, 2
        |ORDER BY bin""".stripMargin,

    // q102: the oracle runs REAL ntile() over the global (dkey, doc_id)
    // order; the Spark side reproduces the SQL-standard split from a
    // distributed rank (per-key offsets + partitioned row_number) —
    // hash equality IS the proof the two formulations agree.
    "q102_curriculum_bins" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    CAST(length(text) - len(string_split(text, ' ')) + 1 AS BIGINT) AS sumlen
        |  FROM documents),
        |k AS (SELECT doc_id, ntok, sumlen * 1000000 // ntok AS dkey FROM d),
        |r AS (SELECT *, CAST(ntile(10) OVER (ORDER BY dkey, doc_id) AS BIGINT) AS bin FROM k)
        |SELECT bin, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS sum_ntok,
        |  min(dkey) AS min_dkey, max(dkey) AS max_dkey
        |FROM r GROUP BY bin ORDER BY bin""".stripMargin,

    // q103: both engines implement textbook Levenshtein; the block key
    // (last name token) and the tie-break (name_a < name_b) are part of
    // the operator contract, so the join conditions match verbatim.
    "q103_fuzzy_name_pairs" ->
      """WITH n AS (SELECT p_name, CAST(count(*) AS BIGINT) AS cnt,
        |    list_extract(string_split(p_name, ' '), len(string_split(p_name, ' '))) AS family
        |  FROM part GROUP BY 1)
        |SELECT a.family AS family, a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
        |  a.cnt * b.cnt AS n_pairs
        |FROM n a JOIN n b ON a.family = b.family AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY family, name_a, name_b""".stripMargin,

    // q104: the oracle is the ORIGINAL parquet's rollup — the streamed
    // side ingests the doubled input, so hash equality proves every
    // injected duplicate was dropped and nothing else was.
    "q104_stream_dedup" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_user,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // q106: days are integer epoch days; the trailing-7-day distinct
    // count is the same 7x explode in both engines.
    "q106_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |w AS (SELECT DISTINCT user_id, ud.day + t.g AS day
        |  FROM ud, generate_series(0, 6) AS t(g)),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau FROM w GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |  floor(dau.dau / wau.wau * 1000000.0 + 0.5) / 1000000 AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,

    // q108: idf arguments are exact integers (the BM25+ rewrite
    // ln((N+1)/(df+0.5)) = ln(2(N+1)) - ln(2df+1)), the tf saturation is
    // one integer rational, and the per-term doubles add in fixed pivot
    // order — so the whole score is one identical IEEE chain per engine.
    "q108_bm25_topdocs" ->
      """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |    string_split(text, ' ') AS ts FROM documents),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS s_tok FROM d),
        |h AS (SELECT doc_id, dl, t, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(ts) AS t FROM d)
        |  WHERE t IN ('scan', 'filter', 'vector') GROUP BY 1, 2, 3),
        |f AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM h GROUP BY 1),
        |sc AS (SELECT h.doc_id, h.dl, h.t,
        |    ((floor(ln(CAST(2 * (st.n_docs + 1) AS DOUBLE)) * 1000000.0 + 0.5)
        |      - floor(ln(CAST(2 * f.df + 1 AS DOUBLE)) * 1000000.0 + 0.5)) / 1000000.0)
        |    * CAST(22 * h.tf * st.s_tok AS DOUBLE)
        |    / CAST(10 * h.tf * st.s_tok + 3 * st.s_tok + 9 * h.dl * st.n_docs AS DOUBLE) AS ts_score
        |  FROM h JOIN f ON h.t = f.t CROSS JOIN st),
        |p AS (SELECT doc_id, dl,
        |    coalesce(max(CASE WHEN t = 'scan' THEN ts_score END), 0.0) AS s_scan,
        |    coalesce(max(CASE WHEN t = 'filter' THEN ts_score END), 0.0) AS s_filter,
        |    coalesce(max(CASE WHEN t = 'vector' THEN ts_score END), 0.0) AS s_vector
        |  FROM sc GROUP BY 1, 2)
        |SELECT doc_id, dl,
        |  floor((s_scan + s_filter + s_vector) * 1000000.0 + 0.5) / 1000000.0 AS bm25
        |FROM p ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // q109: the oracle applies the same deterministic change feed with
    // CASE arithmetic instead of the join — semantics, not plan shape,
    // is what hash equality certifies.
    "q109_cdc_merge" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM orders),
        |mk AS (SELECT max(o_orderkey) AS mk FROM base),
        |merged AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 3 THEN cents * 11 // 10 ELSE cents END AS cents
        |  FROM base WHERE o_orderkey % 10 != 7),
        |ins AS (SELECT b.o_orderkey + mk.mk + 1 AS o_orderkey,
        |    'N' AS o_orderstatus, b.cents
        |  FROM base b, mk WHERE b.o_orderkey % 10 = 1),
        |allr AS (SELECT * FROM merged UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM allr GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

    // q111: the oracle is the one-shot rollup; the streamed side built
    // it incrementally across 4 real micro-batches, so hash equality
    // certifies the merge (no double-count, no lost batch).
    "q111_incremental_view" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_user
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // q112: rollup oracled from the ORIGINAL parquet — a row or a
    // timestamp micro lost in either ORC leg hash-mismatches.
    "q112_orc_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_user,
        |  CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // q113: replay of the mod-41 type-corruption rule; the dead group's
    // typed aggregates are NULL in both engines.
    "q113_csv_ingest" ->
      """SELECT CASE WHEN event_id % 41 = 0 THEN '_dead' ELSE event_type END AS kind,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN event_id % 41 != 0 THEN user_id END) AS BIGINT) AS sum_user,
        |  CAST(max(CASE WHEN event_id % 41 != 0 THEN epoch_us(ts) END) AS BIGINT) AS max_ts_us
        |FROM events GROUP BY 1 ORDER BY kind""".stripMargin,

    // q114: the oracle is the textbook row_number window; the Spark side
    // is the map-side-combinable max_by form — hash equality certifies
    // the two formulations pick the same (unique-keyed) latest row.
    "q114_latest_state" ->
      """WITH st AS (SELECT user_id, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |    epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(max(ts_us) AS BIGINT) AS max_ts_us
        |FROM st WHERE rn = 1 GROUP BY 1 ORDER BY event_type""".stripMargin,

    // q115: replay of the deterministic v1/v2 split — v1 rows must read
    // back with a NULL new column, nothing more and nothing less.
    "q115_schema_evolution" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_value,
        |  CAST(sum(CASE WHEN event_id % 2 = 1
        |    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // q116: the oracle builds the dense day x type grid directly —
    // hash equality proves the pivot's zero-fill survives the melt.
    "q116_pivot_roundtrip" ->
      """WITH d AS (SELECT DISTINCT strftime(ts, '%Y%m%d') AS day FROM events),
        |t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
        |c AS (SELECT strftime(ts, '%Y%m%d') AS day, event_type,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
        |SELECT d.day AS day, t.event_type AS event_type,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM d CROSS JOIN t
        |LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
        |ORDER BY day, event_type""".stripMargin,

    // q117: the observation row and the query row come from ONE Spark
    // scan; the oracle recomputes both — the metrics path is held to
    // the same hash standard as the query path.
    "q117_observed_metrics" ->
      """WITH p AS (SELECT 'purchase' AS kind, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents_all,
        |    CAST(NULL AS BIGINT) AS day_span
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT '_metrics' AS kind, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents_all,
        |    CAST(max(epoch_us(ts) // 86400000000)
        |      - min(epoch_us(ts) // 86400000000) + 1 AS BIGINT) AS day_span
        |  FROM events)
        |SELECT * FROM (SELECT * FROM p UNION ALL SELECT * FROM m)
        |ORDER BY kind""".stripMargin,

    // q119: the inner stream-static join drops customer-less events
    // deterministically; the oracle replays the same join in batch.
    "q119_stream_static_join" ->
      """SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // q110: gid recomputed from grouping() bits — engine-neutral, unlike
    // grouping_id()'s engine-specific bit order guarantees.
    "q110_grouping_sets" ->
      """SELECT
        |  CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
        |  (o_orderpriority, o_orderstatus), ())
        |ORDER BY gid, priority, status""".stripMargin,

    // q120: both legs replay already-certified chains (q108's BM25, q24's
    // cosine order for one query); the fusion is two fixed-order doubles,
    // round6-quantized, doc_id tiebreak.
    "q120_hybrid_rrf" ->
      s"""WITH $retrievalCtes
        |SELECT doc_id, sparse_rank, dense_rank, rrf
        |FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    // q121: the Morton interleave expands to the same 16 integer terms the
    // Spark side folds (user bit i -> 2i+1, time bit i -> 2i); all grid
    // math is exact integer division, so the manifests are engine-neutral.
    "q121_zorder_pruning" ->
      s"""WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS t FROM events),
        |b AS (SELECT min(u) AS min_u, max(u) AS max_u, min(t) AS min_t, max(t) AS max_t FROM ev),
        |g AS (SELECT ((u - min_u) * 256) // (max_u - min_u + 1) AS ub,
        |             ((t - min_t) * 256) // (max_t - min_t + 1) AS tb FROM ev, b),
        |zz AS (SELECT ub, tb, ($zorderTermsSql) AS z FROM g),
        |tagged AS (
        |  SELECT 'zorder' AS layout, z >> 8 AS bucket, ub, tb FROM zz
        |  UNION ALL
        |  SELECT 'tsort' AS layout, tb AS bucket, ub, tb FROM zz),
        |m AS (SELECT layout, bucket, CAST(count(*) AS BIGINT) AS cnt,
        |    min(ub) AS lo_u, max(ub) AS hi_u, min(tb) AS lo_t, max(tb) AS hi_t,
        |    CAST(sum(CASE WHEN ub BETWEEN 64 AND 127 AND tb BETWEEN 64 AND 127
        |      THEN 1 ELSE 0 END) AS BIGINT) AS hit
        |  FROM tagged GROUP BY 1, 2)
        |SELECT layout, CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(CASE WHEN hi_u >= 64 AND lo_u <= 127 AND hi_t >= 64 AND lo_t <= 127
        |    THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
        |  CAST(sum(CASE WHEN hi_u >= 64 AND lo_u <= 127 AND hi_t >= 64 AND lo_t <= 127
        |    THEN cnt ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  CAST(sum(hit) AS BIGINT) AS rows_matching,
        |  floor((CAST(sum(CASE WHEN hi_u >= 64 AND lo_u <= 127 AND hi_t >= 64 AND lo_t <= 127
        |      THEN cnt ELSE 0 END) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS scan_frac
        |FROM m GROUP BY layout ORDER BY layout""".stripMargin,

    "q122_experiment_lift" -> q122Sql,

    // q131: same ntile rank as q102's oracle; share is an exact integer
    // rational over the per-source window total.
    "q131_source_calibration" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    CAST(length(text) - len(string_split(text, ' ')) + 1 AS BIGINT) AS sumlen
        |  FROM documents),
        |k AS (SELECT doc_id, source, sumlen * 1000000 // ntok AS dkey FROM d),
        |r AS (SELECT *, CAST(ntile(10) OVER (ORDER BY dkey, doc_id) AS BIGINT) AS bin FROM k),
        |g AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS n_docs FROM r GROUP BY 1, 2),
        |t AS (SELECT source, bin, n_docs,
        |    CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS src_total FROM g)
        |SELECT source, bin, n_docs,
        |  floor((CAST(n_docs AS DOUBLE) / CAST(src_total AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS share
        |FROM t ORDER BY source, bin""".stripMargin,

    // q132: no percentile interpolation — integer/exact-rational stats
    // only; salt_rec is pure integer ceiling arithmetic.
    "q132_skew_report" ->
      """WITH l AS (SELECT user_id, CAST(count(*) AS BIGINT) AS load FROM events GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(load) AS BIGINT) AS n_rows,
        |    CAST(max(load) AS BIGINT) AS max_load FROM l),
        |top AS (SELECT user_id, load FROM l ORDER BY load DESC, user_id ASC LIMIT 5)
        |SELECT user_id, load, n_keys, n_rows, max_load,
        |  floor((CAST(load * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS skew_ratio,
        |  (max_load * n_keys + n_rows - 1) // n_rows AS salt_rec
        |FROM top CROSS JOIN st ORDER BY load DESC, user_id ASC""".stripMargin,

    // q133: cohorts and week offsets are integer epoch-week arithmetic;
    // value accumulates in exact cents; one final per-user division.
    "q133_cohort_ltv" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        |c AS (SELECT user_id, min(ts_us) // 604800000000 AS cohort_week
        |  FROM e WHERE event_type = 'signup' GROUP BY user_id),
        |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size FROM c GROUP BY 1),
        |tri AS (SELECT c.cohort_week,
        |    (e.ts_us // 604800000000) - c.cohort_week AS weeks_since,
        |    CAST(count(*) AS BIGINT) AS n_purchases,
        |    CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND (e.ts_us // 604800000000) >= c.cohort_week
        |  GROUP BY 1, 2),
        |cum AS (SELECT tri.*, sz.cohort_size,
        |    CAST(sum(sum_cents) OVER (PARTITION BY tri.cohort_week ORDER BY weeks_since
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        |  FROM tri JOIN sz ON tri.cohort_week = sz.cohort_week)
        |SELECT cohort_week, weeks_since, n_purchases, sum_cents, cohort_size,
        |  floor((CAST(cum_cents AS DOUBLE) / 100.0 / CAST(cohort_size AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS ltv_per_user
        |FROM cum ORDER BY cohort_week, weeks_since""".stripMargin,

    // q134: counting is integer (first digit of the BIGINT floor); the
    // Benford expectation is (ln(d+1)-ln(d))/ln(10) so every
    // transcendental takes an INTEGER argument (the q123 discipline).
    "q134_benford_profile" ->
      """WITH c AS (SELECT o_orderpriority,
        |    CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1, 2),
        |t AS (SELECT c.*, CAST(sum(n_orders) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n_total FROM c)
        |SELECT o_orderpriority, digit, n_orders,
        |  floor((CAST(n_orders AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS share,
        |  floor(((ln(digit + 1) - ln(digit)) / ln(10)) * 1000000.0 + 0.5) / 1000000.0 AS benford
        |FROM t ORDER BY o_orderpriority, digit""".stripMargin,

    // q135: revenue in exact cents; the sorted-rank Gini identity needs
    // only integer sums (DuckDB widens the rank product to HUGEINT, the
    // Spark side runs it in DECIMAL(38,0)); one double division at the end.
    "q135_gini_concentration" ->
      """WITH rev AS (SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |rk AS (SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey, rev.cents,
        |    row_number() OVER (PARTITION BY c.c_nationkey ORDER BY rev.cents, rev.o_custkey) AS i
        |  FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey)
        |SELECT nationkey, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  floor((CAST(2 * sum(i * cents) - (count(*) + 1) * sum(cents) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS gini
        |FROM rk GROUP BY nationkey ORDER BY nationkey""".stripMargin,

    // q136: consecutive-duplicate collapse then versioned validity
    // intervals; valid_to_us = -1 marks the open current version.
    "q136_scd2_history" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |ch AS (SELECT user_id, event_id, ts_us, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
        |  FROM e),
        |f AS (SELECT user_id, event_id, ts_us, event_type FROM ch
        |  WHERE prev_type IS NULL OR prev_type <> event_type),
        |v AS (SELECT user_id, event_type, ts_us,
        |    CAST(row_number() OVER w AS BIGINT) AS version,
        |    COALESCE(lead(ts_us) OVER w, -1) AS valid_to_us
        |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id, version, event_type AS state, ts_us AS valid_from_us,
        |  CAST(valid_to_us AS BIGINT) AS valid_to_us, valid_to_us = -1 AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin,

    // q137: the oracle runs the textbook GLOBAL running sum over the
    // sweep points; the Spark side computes the same levels with the
    // bounded-grid prefix-sum + per-hour window (no single-partition
    // window over the data), so hash equality certifies the decomposition.
    "q137_concurrency_profile" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |m AS (SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w >= 1800000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s2 AS (SELECT user_id, ts_us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM m),
        |iv AS (SELECT user_id, sess_id, min(ts_us) AS start_us,
        |    max(ts_us) + 1800000000 AS end_us
        |  FROM s2 GROUP BY 1, 2),
        |p AS (SELECT start_us AS p_us, 1 AS delta FROM iv
        |  UNION ALL SELECT end_us, -1 FROM iv),
        |lv AS (SELECT p_us, sum(delta) OVER (ORDER BY p_us, delta
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS level FROM p)
        |SELECT p_us // 86400000000 AS day, CAST(max(level) AS BIGINT) AS peak_concurrency,
        |  CAST(count(*) AS BIGINT) AS n_points
        |FROM lv GROUP BY 1 ORDER BY day""".stripMargin,

    // q138: the oracle replays each declared rule as its own aggregate;
    // semantics (not plan shape) is what hash equality pins — the Spark
    // side folds the scalar rules into one scan + stack().
    "q138_expectations" ->
      """WITH o AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_key_null,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS f_key_dup,
        |    CAST(sum(CASE WHEN o_totalprice > 0.0 AND o_totalprice < 1000000.0 THEN 0 ELSE 1 END) AS BIGINT) AS f_price_range,
        |    CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS BIGINT) AS f_status_domain,
        |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_date_null
        |  FROM orders),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN c_mktsegment IS NULL OR length(c_mktsegment) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS f_seg_empty,
        |    CAST(sum(CASE WHEN c_acctbal >= -1000.0 THEN 0 ELSE 1 END) AS BIGINT) AS f_acctbal_min
        |  FROM customer),
        |fk AS (SELECT CAST(count(*) AS BIGINT) AS f_fk FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |r AS (
        |  SELECT 'orders.o_orderkey.not_null' AS rule, o.n AS n_checked, o.f_key_null AS n_failed FROM o
        |  UNION ALL SELECT 'orders.o_orderkey.unique', o.n, o.f_key_dup FROM o
        |  UNION ALL SELECT 'orders.o_totalprice.in_range', o.n, o.f_price_range FROM o
        |  UNION ALL SELECT 'orders.o_orderstatus.in_domain', o.n, o.f_status_domain FROM o
        |  UNION ALL SELECT 'orders.o_orderdate.not_null', o.n, o.f_date_null FROM o
        |  UNION ALL SELECT 'orders.o_custkey.fk_customer', o.n, fk.f_fk FROM o, fk
        |  UNION ALL SELECT 'customer.c_mktsegment.not_empty', c.n, c.f_seg_empty FROM c
        |  UNION ALL SELECT 'customer.c_acctbal.min_bound', c.n, c.f_acctbal_min FROM c)
        |SELECT rule, n_checked, n_failed, n_failed = 0 AS pass
        |FROM r ORDER BY rule""".stripMargin,

    // q139: all-integer stats; text columns report min/max = -1 (not
    // NULL — a NULL would float the pandas compare column; lexicographic
    // extremes are a collation trap). The Spark side runs one Expand
    // aggregate; the oracle spells the same stats plainly.
    "q139_column_stats" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS eday
        |  FROM orders),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_key,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd_key,
        |    CAST(min(o_orderkey) AS BIGINT) AS mn_key, CAST(max(o_orderkey) AS BIGINT) AS mx_key,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_cust,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_cust,
        |    CAST(min(o_custkey) AS BIGINT) AS mn_cust, CAST(max(o_custkey) AS BIGINT) AS mx_cust,
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_status,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
        |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_prio,
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd_prio,
        |    CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_cents,
        |    CAST(count(DISTINCT cents) AS BIGINT) AS nd_cents,
        |    CAST(min(cents) AS BIGINT) AS mn_cents, CAST(max(cents) AS BIGINT) AS mx_cents,
        |    CAST(sum(CASE WHEN eday IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_eday,
        |    CAST(count(DISTINCT eday) AS BIGINT) AS nd_eday,
        |    CAST(min(eday) AS BIGINT) AS mn_eday, CAST(max(eday) AS BIGINT) AS mx_eday
        |  FROM o)
        |SELECT 'orders.o_orderkey' AS col_name, n AS n_rows, nn_key AS n_null, nd_key AS n_distinct, mn_key AS min_val, mx_key AS max_val FROM a
        |UNION ALL SELECT 'orders.o_custkey', n, nn_cust, nd_cust, mn_cust, mx_cust FROM a
        |UNION ALL SELECT 'orders.o_orderstatus', n, nn_status, nd_status, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) FROM a
        |UNION ALL SELECT 'orders.o_orderpriority', n, nn_prio, nd_prio, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) FROM a
        |UNION ALL SELECT 'orders.o_totalprice_cents', n, nn_cents, nd_cents, mn_cents, mx_cents FROM a
        |UNION ALL SELECT 'orders.o_orderdate_eday', n, nn_eday, nd_eday, mn_eday, mx_eday FROM a
        |ORDER BY col_name""".stripMargin,

    // q140: the oracle computes the SAME closed form (running sum minus
    // clamped running min) — the recursion-free CUSUM identity; all
    // integer arithmetic, so 5 window passes stay hash-exact.
    "q140_cusum_drift" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |g AS (SELECT day, n_events,
        |    CAST(sum(n_events) OVER () AS BIGINT) AS t,
        |    CAST(count(*) OVER () AS BIGINT) AS dd
        |  FROM d),
        |p AS (SELECT day, n_events, t,
        |    sum(n_events * dd - t - (t // 4)) OVER w AS pp,
        |    sum(t - n_events * dd - (t // 4)) OVER w AS pn
        |  FROM g WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (SELECT day, n_events, t,
        |    pp - least(0, min(pp) OVER w2) AS cusum_pos,
        |    pn - least(0, min(pn) OVER w2) AS cusum_neg
        |  FROM p WINDOW w2 AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT day, n_events, CAST(cusum_pos AS BIGINT) AS cusum_pos,
        |  CAST(cusum_neg AS BIGINT) AS cusum_neg,
        |  cusum_pos > 2 * t AS spike, cusum_neg > 2 * t AS dip
        |FROM c ORDER BY day""".stripMargin,

    // q141: lower median = the element at rank (n+1) div 2 — integer
    // throughout; the oracle attaches medians by the same window-max
    // trick, so both engines share one definition text-for-text.
    "q141_token_dispersion" ->
      """WITH tk AS (SELECT source, doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        |  FROM documents),
        |r1 AS (SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS BIGINT) AS i,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n FROM tk),
        |m1 AS (SELECT *, max(CASE WHEN i = (n + 1) // 2 THEN n_tokens END) OVER (PARTITION BY source) AS med FROM r1),
        |d AS (SELECT source, doc_id, n_tokens, n, med, abs(n_tokens - med) AS dev FROM m1),
        |r2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY dev, doc_id) AS BIGINT) AS j FROM d),
        |m2 AS (SELECT *, max(CASE WHEN j = (n + 1) // 2 THEN dev END) OVER (PARTITION BY source) AS mad FROM r2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(med) AS BIGINT) AS median_tokens,
        |  CAST(min(mad) AS BIGINT) AS mad_tokens,
        |  CAST(sum(CASE WHEN dev > mad * 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM m2 GROUP BY source ORDER BY source""".stripMargin,

    // q142: the oracle unrolls the 5 integer PageRank rounds as a CTE
    // chain (recursive CTEs cannot aggregate); identical truncating
    // divisions keep every round hash-exact.
    "q142_bipartite_pagerank" ->
      """WITH pr AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |e AS (SELECT p * 2 AS src, s * 2 + 1 AS dst FROM pr
        |  UNION ALL SELECT s * 2 + 1, p * 2 FROM pr),
        |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, dg.deg FROM e JOIN dg ON e.src = dg.src),
        |i1 AS (SELECT ed.dst AS node, CAST(150000 + (85 * sum(1000000 // ed.deg)) // 100 AS BIGINT) AS r
        |  FROM ed GROUP BY ed.dst),
        |i2 AS (SELECT ed.dst AS node, CAST(150000 + (85 * sum(q.r // ed.deg)) // 100 AS BIGINT) AS r
        |  FROM ed JOIN i1 q ON ed.src = q.node GROUP BY ed.dst),
        |i3 AS (SELECT ed.dst AS node, CAST(150000 + (85 * sum(q.r // ed.deg)) // 100 AS BIGINT) AS r
        |  FROM ed JOIN i2 q ON ed.src = q.node GROUP BY ed.dst),
        |i4 AS (SELECT ed.dst AS node, CAST(150000 + (85 * sum(q.r // ed.deg)) // 100 AS BIGINT) AS r
        |  FROM ed JOIN i3 q ON ed.src = q.node GROUP BY ed.dst),
        |i5 AS (SELECT ed.dst AS node, CAST(150000 + (85 * sum(q.r // ed.deg)) // 100 AS BIGINT) AS r
        |  FROM ed JOIN i4 q ON ed.src = q.node GROUP BY ed.dst)
        |SELECT (i5.node - 1) // 2 AS s_suppkey, dg.deg AS degree, i5.r AS rank_ppm
        |FROM i5 JOIN dg ON i5.node = dg.src WHERE i5.node % 2 = 1
        |ORDER BY s_suppkey""".stripMargin,

    // q143: both coefficients are exact integer rationals in ppm — the
    // // floor divisions match Spark's div exactly; the self-join
    // fan-out per term is source-bounded on both engines.
    "q143_vocab_overlap" ->
      """WITH tt AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
        |st AS (SELECT DISTINCT source, term FROM tt),
        |v AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab FROM st GROUP BY 1),
        |i AS (SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source GROUP BY 1, 2)
        |SELECT i.sa AS source_a, i.sb AS source_b, va.vocab AS vocab_a,
        |  vb.vocab AS vocab_b, i.n_shared,
        |  (i.n_shared * 1000000) // (va.vocab + vb.vocab - i.n_shared) AS jaccard_ppm,
        |  (i.n_shared * 1000000) // least(va.vocab, vb.vocab) AS overlap_ppm
        |FROM i JOIN v va ON i.sa = va.source JOIN v vb ON i.sb = vb.source
        |ORDER BY source_a, source_b""".stripMargin,

    // q144: the recursive closure mirrors q48's; the component key
    // differs per engine (min name vs min hash60) but is only a grouping
    // key — membership sets, canonical names, and sizes are identical.
    "q144_entity_resolution" ->
      """WITH RECURSIVE n AS (SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
        |    regexp_extract(p_name, '([^ ]+)$', 1) AS family FROM part GROUP BY 1),
        |pr AS (SELECT a.p_name AS na, b.p_name AS nb FROM n a JOIN n b
        |  ON a.family = b.family AND a.p_name < b.p_name
        |  AND levenshtein(a.p_name, b.p_name) <= 2),
        |e AS (SELECT na AS u, nb AS v FROM pr UNION SELECT nb, na FROM pr),
        |r AS (SELECT u AS nm, u AS reach FROM (SELECT DISTINCT u FROM e) b0
        |  UNION SELECT r.nm, e.v FROM r JOIN e ON r.reach = e.u),
        |c AS (SELECT nm AS p_name, min(reach) AS comp FROM r GROUP BY 1),
        |m AS (SELECT n.p_name, n.n_parts, coalesce(c.comp, n.p_name) AS comp
        |  FROM n LEFT JOIN c ON n.p_name = c.p_name),
        |g AS (SELECT comp, min(p_name) AS canonical_name,
        |    CAST(count(*) AS BIGINT) AS cluster_size,
        |    CAST(sum(n_parts) AS BIGINT) AS cluster_parts FROM m GROUP BY 1)
        |SELECT m.p_name, g.canonical_name, g.cluster_size, g.cluster_parts
        |FROM m JOIN g USING (comp) ORDER BY m.p_name""".stripMargin,

    // q145: the two double chains (expected, contribution) run the SAME
    // literal operation order on both engines, then quantize to BIGINT
    // e6 — so the grid-total chi2 is an order-free integer sum.
    "q145_chi_square" ->
      """WITH obs0 AS (SELECT o_orderstatus, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS observed FROM orders GROUP BY 1, 2),
        |grid AS (SELECT s.o_orderstatus, p.o_orderpriority
        |  FROM (SELECT DISTINCT o_orderstatus FROM orders) s,
        |       (SELECT DISTINCT o_orderpriority FROM orders) p),
        |obs AS (SELECT g.o_orderstatus, g.o_orderpriority,
        |    coalesce(o.observed, 0) AS observed
        |  FROM grid g LEFT JOIN obs0 o USING (o_orderstatus, o_orderpriority)),
        |g AS (SELECT *, CAST(sum(observed) OVER () AS BIGINT) AS n,
        |    CAST(sum(observed) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS r,
        |    CAST(sum(observed) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS c
        |  FROM obs),
        |d AS (SELECT *, observed * n - r * c AS d FROM g),
        |q AS (SELECT *,
        |    CAST(floor(CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS expected_e6,
        |    CAST(floor(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT) AS contrib_e6
        |  FROM d),
        |dm AS (SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS ns,
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS np FROM orders)
        |SELECT o_orderstatus, o_orderpriority, observed, expected_e6, contrib_e6,
        |  CAST(sum(contrib_e6) OVER () AS BIGINT) AS chi2_e6,
        |  (ns - 1) * (np - 1) AS dof
        |FROM q, dm ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    // q146: same per-price-max + strictly-preceding prefix-max
    // factorization of skyline dominance; the oracle's single ordered
    // window equals the Spark side's bucket-decomposed prefix max.
    "q146_pareto_frontier" ->
      """WITH p AS (SELECT p_partkey,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
        |    CAST(p_size AS BIGINT) AS sz FROM part),
        |pp AS (SELECT price_cents, max(sz) AS msize FROM p GROUP BY 1),
        |pf AS (SELECT price_cents, msize, max(msize) OVER (ORDER BY price_cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix FROM pp)
        |SELECT p.p_partkey, p.price_cents, p.sz AS p_size
        |FROM p JOIN pf USING (price_cents)
        |WHERE p.sz = pf.msize AND (pf.prefix IS NULL OR p.sz > pf.prefix)
        |ORDER BY p.price_cents, p.p_partkey""".stripMargin,

    // q147: doubled average ranks (min_rank + max_rank) keep d and sum_d2
    // exact BIGINTs; the single double chain runs the SAME literal
    // operation order on both engines before the e6 quantize. The 1.5
    // factor compensates the 4x of squared doubled ranks.
    "q147_spearman_corr" -> q147Sql,

    // q184: the SAME oracle text as q147 — the grid-rank fallback (no
    // per-row window anywhere) must hash-equal the window form, making
    // the 100x single-giant-partition path itself driver-gated.
    "q184_spearman_grid" -> q147Sql,

    // q148: the oracle runs the same orient-once formulation (pa < pb
    // everywhere), so each triangle appears exactly once on both sides.
    "q148_copurchase_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM op a JOIN op b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT pa, pb, CAST(count(*) AS BIGINT) AS c FROM pr
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT e1.pa AS part_a, e1.pb AS part_b, e2.pb AS part_c,
        |  least(e1.c, e2.c, e3.c) AS support
        |FROM e e1 JOIN e e2 ON e1.pb = e2.pa
        |JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        |ORDER BY part_a, part_b, part_c""".stripMargin,

    // q149: ECDFs compare cross-multiplied (cum_a*n_b vs cum_b*n_a), so
    // the sup distance is an exact integer rational in ppm; both engines
    // take the sup over the SAME dense (source x observed-length) grid.
    "q149_ks_distance" ->
      """WITH dl AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS l FROM documents),
        |cnt AS (SELECT source, l, CAST(count(*) AS BIGINT) AS cnt FROM dl GROUP BY 1, 2),
        |grid AS (SELECT s.source, v.l, coalesce(c.cnt, 0) AS cnt
        |  FROM (SELECT DISTINCT source FROM cnt) s
        |  CROSS JOIN (SELECT DISTINCT l FROM cnt) v
        |  LEFT JOIN cnt c ON c.source = s.source AND c.l = v.l),
        |cum AS (SELECT source, l, CAST(sum(cnt) OVER (PARTITION BY source ORDER BY l) AS BIGINT) AS cum FROM grid),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM dl GROUP BY 1)
        |SELECT a.source AS source_a, b.source AS source_b, ta.n AS n_a, tb.n AS n_b,
        |  (max(abs(a.cum * tb.n - b.cum * ta.n)) * 1000000) // (ta.n * tb.n) AS ks_ppm
        |FROM cum a JOIN cum b ON a.l = b.l AND a.source < b.source
        |JOIN tot ta ON ta.source = a.source JOIN tot tb ON tb.source = b.source
        |GROUP BY 1, 2, 3, 4 ORDER BY source_a, source_b""".stripMargin,

    // q150: the oracle rebuilds the 9x8 grayscale from the generating
    // text (q61's repeat/substring reconstruction — lossless PNG makes
    // the codec round trip checkable), then packs the same gradient bits.
    "q150_image_dhash" ->
      """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 16 AS BIGINT) AS w, CAST(1 + (doc_id // 16) % 16 AS BIGINT) AS h, text FROM documents),
        |c AS (SELECT doc_id, w, h,
        |    substring(repeat(text, CAST(ceil(CAST(w*h*3 AS DOUBLE)/length(text)) AS INT)), 1, CAST(w*h*3 AS INT)) AS cyc
        |  FROM d),
        |g AS (SELECT doc_id, w, h, cyc, unnest(range(72)) AS p FROM c),
        |l AS (SELECT doc_id, w, h, p // 9 AS y, p % 9 AS x,
        |  (299 * ascii(substring(cyc, CAST((((p//9)*h//8)*w + ((p%9)*w//9))*3 + 1 AS INT), 1))
        | + 587 * ascii(substring(cyc, CAST((((p//9)*h//8)*w + ((p%9)*w//9))*3 + 2 AS INT), 1))
        | + 114 * ascii(substring(cyc, CAST((((p//9)*h//8)*w + ((p%9)*w//9))*3 + 3 AS INT), 1))) // 1000 AS luma
        |  FROM g),
        |b AS (SELECT doc_id, w, h, y, x,
        |    CASE WHEN luma < lead(luma) OVER (PARTITION BY doc_id, y ORDER BY x) THEN 1 ELSE 0 END AS bit
        |  FROM l),
        |bd AS (SELECT doc_id, w, h, y // 2 AS band,
        |    CAST(sum(bit * (1 << CAST((y % 2) * 8 + x AS INT))) AS BIGINT) AS val
        |  FROM b WHERE x < 8 GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, w AS src_w, h AS src_h,
        |  CAST(max(CASE WHEN band = 0 THEN val END) AS BIGINT) AS b0,
        |  CAST(max(CASE WHEN band = 1 THEN val END) AS BIGINT) AS b1,
        |  CAST(max(CASE WHEN band = 2 THEN val END) AS BIGINT) AS b2,
        |  CAST(max(CASE WHEN band = 3 THEN val END) AS BIGINT) AS b3
        |FROM bd GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,

    // q151: replica membership is bit b of the shared hash60 — the
    // oracle materializes the 32-way expand that the Spark side folds
    // into conditional aggregates; replica means are floor-div integer
    // cents, so the rank picks are engine-exact.
    "q151_bootstrap_ci" ->
      """WITH base AS (SELECT c.c_mktsegment AS segment,
        |    CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST(concat('0x', substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |seg AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents FROM base GROUP BY 1),
        |reps AS (SELECT segment, b, CAST(count(*) AS BIGINT) AS cnt_b,
        |    CAST(sum(cents) AS BIGINT) AS sum_b
        |  FROM base, unnest(range(32)) u(b) WHERE (h >> CAST(b AS INT)) & 1 = 1
        |  GROUP BY 1, 2),
        |means AS (SELECT segment, b, sum_b // cnt_b AS mean_b FROM reps WHERE cnt_b > 0),
        |rk AS (SELECT segment, mean_b,
        |    row_number() OVER (PARTITION BY segment ORDER BY mean_b, b) AS ra,
        |    row_number() OVER (PARTITION BY segment ORDER BY mean_b DESC, b DESC) AS rd
        |  FROM means),
        |ci AS (SELECT segment, max(CASE WHEN ra = 2 THEN mean_b END) AS ci_lo_cents,
        |    max(CASE WHEN rd = 2 THEN mean_b END) AS ci_hi_cents FROM rk GROUP BY 1)
        |SELECT s.segment, s.n_orders, s.sum_cents // s.n_orders AS mean_cents,
        |  ci.ci_lo_cents, ci.ci_hi_cents
        |FROM seg s JOIN ci USING (segment) ORDER BY segment""".stripMargin,

    // q152: norm_len is the exact global order statistic at rank
    // ceil(r*N/n_s) — both engines run the same integer rank math and
    // the same half-open (cum-cnt, cum] grid lookup.
    "q152_quantile_normalize" ->
      """WITH dl AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS l FROM documents),
        |grid AS (SELECT l, CAST(count(*) AS BIGINT) AS cnt FROM dl GROUP BY 1),
        |cgrid AS (SELECT l, cnt, CAST(sum(cnt) OVER (ORDER BY l) AS BIGINT) AS cum FROM grid),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM dl GROUP BY 1),
        |nall AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM dl),
        |rnk AS (SELECT dl.doc_id, dl.source, dl.l,
        |    row_number() OVER (PARTITION BY dl.source ORDER BY dl.l, dl.doc_id) AS r,
        |    t.n_s, nall.n_total
        |  FROM dl JOIN tot t USING (source), nall)
        |SELECT rnk.doc_id, rnk.source, rnk.l AS len, g.l AS norm_len
        |FROM rnk JOIN cgrid g
        |  ON (rnk.r * rnk.n_total + rnk.n_s - 1) // rnk.n_s > g.cum - g.cnt
        | AND (rnk.r * rnk.n_total + rnk.n_s - 1) // rnk.n_s <= g.cum
        |ORDER BY doc_id""".stripMargin,

    // q153: both engines share the ONE (user, ts, type) sort for the
    // position index; support is exists-per-user (distinct before the
    // rollup), cap and threshold are literal on both sides.
    "q153_frequent_sequences" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_type) AS rn
        |  FROM events),
        |cp AS (SELECT user_id, event_type, rn FROM ev WHERE rn <= 10),
        |tr AS (SELECT DISTINCT a.user_id, a.event_type AS t1, b.event_type AS t2, c.event_type AS t3
        |  FROM cp a JOIN cp b ON a.user_id = b.user_id AND a.rn < b.rn
        |  JOIN cp c ON b.user_id = c.user_id AND b.rn < c.rn)
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_users
        |FROM tr GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |ORDER BY t1, t2, t3""".stripMargin,

    // q154: every statistic folds to exact BIGINT sums; theta and the
    // means are the SAME literal double chains on both engines
    // (products may pass 2^53 — IEEE round-to-nearest is
    // engine-identical, the q145 argument), round6-quantized.
    "q154_cuped_lift" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |mid AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS t_mid FROM ev),
        |pu AS (SELECT user_id,
        |    CAST(sum(CASE WHEN ts_us < t_mid THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN ts_us >= t_mid THEN 1 ELSE 0 END) AS BIGINT) AS y,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0 AS va
        |  FROM ev, mid GROUP BY user_id),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(CASE WHEN va THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN va THEN x ELSE 0 END) AS BIGINT) AS sx_a,
        |    CAST(sum(CASE WHEN va THEN y ELSE 0 END) AS BIGINT) AS sy_a,
        |    CAST(sum(CASE WHEN NOT va THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN NOT va THEN x ELSE 0 END) AS BIGINT) AS sx_b,
        |    CAST(sum(CASE WHEN NOT va THEN y ELSE 0 END) AS BIGINT) AS sy_b
        |  FROM pu),
        |t AS (SELECT *,
        |    CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0
        |      THEN 0.0
        |      ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    END AS theta,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
        |  FROM a)
        |SELECT n_a, n_b,
        |  floor(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_a,
        |  floor(CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_b,
        |  floor((CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) - theta * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) - xbar)) * 1e6 + 0.5) / 1e6 AS adj_a,
        |  floor((CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) - theta * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) - xbar)) * 1e6 + 0.5) / 1e6 AS adj_b,
        |  floor(theta * 1e6 + 0.5) / 1e6 AS theta,
        |  floor((CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS lift_raw,
        |  floor(((CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) - theta * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) - xbar))
        |       - (CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) - theta * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) - xbar))) * 1e6 + 0.5) / 1e6 AS lift_adj
        |FROM t""".stripMargin,

    // q155: the oracle composes q23's exact pair CTE with q42's LSH
    // chain (shared vv/n prefix) and folds the full-outer compare to
    // one row of integer-ppm precision/recall.
    "q155_dedup_eval" ->
      """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) nrm FROM vv),
        |pe AS (SELECT a.vec_id va, b.vec_id vb,
        |        list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]), (x, y) -> x + y) / (a.nrm * b.nrm) c
        |      FROM n a JOIN n b ON a.vec_id < b.vec_id),
        |ex AS (SELECT va, vb FROM pe WHERE c >= 0.45),
        |planes AS (SELECT r.p, list_transform(range(0, 64), i ->
        |    CAST(CAST(concat('0x', substr(md5(CAST(r.p AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000 AS DOUBLE) / 1000.0) w
        |  FROM range(16) r(p)),
        |sigs AS (SELECT n.vec_id,
        |    CAST(sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> n.v[i] * pl.w[i]), (a, b) -> a + b) >= 0
        |             THEN (1::BIGINT << pl.p) ELSE 0 END) AS BIGINT) AS sig
        |  FROM n, planes pl GROUP BY n.vec_id),
        |band AS (SELECT vec_id, r.b AS band, (sig >> (r.b * 4)) & 15 AS bkey FROM sigs, range(4) r(b)),
        |cand AS (SELECT DISTINCT a.vec_id va, b.vec_id vb FROM band a JOIN band b
        |         ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
        |pc AS (SELECT va, vb,
        |        list_reduce(list_transform(range(1, 65), i -> x.v[i] * y.v[i]), (a, b) -> a + b) / (x.nrm * y.nrm) c
        |      FROM cand JOIN n x ON va = x.vec_id JOIN n y ON vb = y.vec_id),
        |ls AS (SELECT va, vb FROM pc WHERE c >= 0.45),
        |j AS (SELECT CASE WHEN e.va IS NOT NULL THEN 1 ELSE 0 END e,
        |             CASE WHEN l.va IS NOT NULL THEN 1 ELSE 0 END l
        |      FROM ex e FULL OUTER JOIN ls l ON e.va = l.va AND e.vb = l.vb),
        |a AS (SELECT CAST(sum(e) AS BIGINT) n_exact, CAST(sum(l) AS BIGINT) n_lsh,
        |             CAST(sum(e * l) AS BIGINT) n_common FROM j)
        |SELECT n_exact, n_lsh, n_common, n_exact - n_common AS n_missed,
        |  n_lsh - n_common AS n_false,
        |  CASE WHEN n_lsh > 0 THEN (n_common * 1000000) // n_lsh ELSE 0 END AS precision_ppm,
        |  CASE WHEN n_exact > 0 THEN (n_common * 1000000) // n_exact ELSE 0 END AS recall_ppm
        |FROM a""".stripMargin,

    // q156: q21's exact-verified pair chain + q80's seedless split rule,
    // folded to the 3x3 upper contamination matrix.
    "q156_split_leakage" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([CAST(concat('0x', substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15)) AS BIGINT)
        |         for i in range(1, len(ts) - 1)]) hs FROM t),
        |ex AS (SELECT doc_id, unnest(hs) h FROM sh),
        |seeds AS (SELECT r.s, CAST(concat('0x', substr(md5(CAST(r.s AS VARCHAR)), 1, 15)) AS BIGINT) c FROM range(32) r(s)),
        |mh AS (SELECT ex.doc_id, seeds.s, min(xor(ex.h, seeds.c)) mh FROM ex, seeds GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(mh ORDER BY s) sig FROM mh GROUP BY 1),
        |band AS (SELECT doc_id, r.b band, array_to_string(sig[r.b * 4 + 1 : r.b * 4 + 4], ',') bkey
        |         FROM sig, range(8) r(b)),
        |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM band a JOIN band b
        |         ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |j AS (SELECT da, db, len(list_intersect(x.hs, y.hs)) inter, len(x.hs) na, len(y.hs) nb
        |      FROM cand JOIN sh x ON cand.da = x.doc_id JOIN sh y ON cand.db = y.doc_id),
        |pr AS (SELECT da, db FROM j WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8),
        |sp AS (SELECT da, db,
        |    CASE WHEN CAST(concat('0x', substr(md5(CAST(da AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
        |         WHEN CAST(concat('0x', substr(md5(CAST(da AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
        |         ELSE 'test' END sa,
        |    CASE WHEN CAST(concat('0x', substr(md5(CAST(db AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
        |         WHEN CAST(concat('0x', substr(md5(CAST(db AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
        |         ELSE 'test' END sb
        |  FROM pr)
        |SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs, least(sa, sb) <> greatest(sa, sb) AS leaked
        |FROM sp GROUP BY 1, 2, 4 ORDER BY split_a, split_b""".stripMargin,

    // q157: slope/intercept/R2 are the SAME literal chains over exact
    // per-nation BIGINT sums on both engines; degenerate variance pins 0.
    "q157_ols_trend" ->
      """WITH pc AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS x,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |m AS (SELECT n.n_name, pc.x, pc.y FROM pc
        |  JOIN customer c ON pc.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |a AS (SELECT n_name, CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sx,
        |    CAST(sum(y) AS BIGINT) sy, sum(x * y) sxy,
        |    sum(x * x) sxx, sum(y * y) syy
        |  FROM m GROUP BY 1),
        |d AS (SELECT *,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov
        |  FROM a)
        |SELECT n_name, n,
        |  floor(CASE WHEN vx = 0.0 THEN 0.0 ELSE cov / vx END * 1e6 + 0.5) / 1e6 AS slope,
        |  floor(CASE WHEN vx = 0.0 THEN 0.0 ELSE (CAST(sy AS DOUBLE) - (cov / vx) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) END * 1e6 + 0.5) / 1e6 AS intercept,
        |  floor(CASE WHEN vx = 0.0 OR vy = 0.0 THEN 0.0 ELSE cov * cov / (vx * vy) END * 1e6 + 0.5) / 1e6 AS r2
        |FROM d ORDER BY n_name""".stripMargin,

    // q158: one (user, ts, event_id) sort serves lag/lag2/trailing
    // frame on both engines; -1 sentinels keep the columns BIGINT.
    "q158_lag_features" -> q158Sql,

    // q187: SAME oracle text as q158 — the bucketed-window chunked form
    // (carry-seeded (user, ts-bucket) partitions) is certified equal to
    // the plain user-keyed window, the q183/q184 shared-truth precedent.
    "q187_lag_features_chunked" -> q158Sql,

    // q159: SAME oracle text as q72 — the timer-driven transformWithState
    // sessionizer and the session_window sessionizer are certified
    // against one batch truth, so the two streaming surfaces can't drift.
    "q159_stream_timer_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |x AS (SELECT user_id, ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS d FROM e)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN d IS NULL OR d >= 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q160: the resample is exact integer rational interpolation, so the
    // oracle reproduces every output sample from the generating text
    // (s[j] = byte*257, the q60/q62 rule); the LEFT JOIN keeps clips
    // whose downsample rounds to zero frames.
    "q160_audio_resample" ->
      """WITH d AS (SELECT doc_id, CAST(8000 * (1 + doc_id % 4) AS BIGINT) AS src_rate, text,
        |    CAST(length(text) AS BIGINT) AS n_in FROM documents),
        |o AS (SELECT doc_id, src_rate, n_in, (n_in * 11025) // src_rate AS n_out, text FROM d),
        |u AS (SELECT doc_id, src_rate, n_in, n_out, text, unnest(range(n_out)) AS i FROM o),
        |v AS (SELECT doc_id,
        |    (ascii(substring(text, CAST(least((i * src_rate) // 11025, n_in - 1) + 1 AS INT), 1)) * 257
        |       * (11025 - (i * src_rate) % 11025)
        |     + ascii(substring(text, CAST(least((i * src_rate) // 11025 + 1, n_in - 1) + 1 AS INT), 1)) * 257
        |       * ((i * src_rate) % 11025)) // 11025 AS v
        |  FROM u)
        |SELECT o.doc_id, o.src_rate, o.n_in, o.n_out,
        |  CAST(coalesce(sum(v.v), 0) AS BIGINT) AS sum_amp,
        |  CAST(coalesce(max(v.v), 0) AS BIGINT) AS peak_amp
        |FROM o LEFT JOIN v ON o.doc_id = v.doc_id
        |GROUP BY 1, 2, 3, 4 ORDER BY o.doc_id""".stripMargin,

    // q161: the rollup must equal the plain two-table join, and the
    // executed plan's Exchange count under the join is pinned to 0 — a
    // plan regression (lost co-location) turns this row red.
    "q161_bucketed_join_audit" ->
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(0 AS BIGINT) AS n_join_exchanges
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    // q162: q48's recursive-CTE components + the same seedless hash rank;
    // kept = rank <= 2 inside each near-dup cluster.
    "q162_cluster_capped_sample" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([CAST(concat('0x', substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15)) AS BIGINT)
        |         for i in range(1, len(ts) - 1)]) hs FROM t),
        |ex AS (SELECT doc_id, unnest(hs) h FROM sh),
        |seeds AS (SELECT r.s, CAST(concat('0x', substr(md5(CAST(r.s AS VARCHAR)), 1, 15)) AS BIGINT) c FROM range(32) r(s)),
        |mh AS (SELECT ex.doc_id, seeds.s, min(xor(ex.h, seeds.c)) mh FROM ex, seeds GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(mh ORDER BY s) sig FROM mh GROUP BY 1),
        |band AS (SELECT doc_id, r.b band, array_to_string(sig[r.b * 4 + 1 : r.b * 4 + 4], ',') bkey
        |         FROM sig, range(8) r(b)),
        |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM band a JOIN band b
        |         ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |j AS (SELECT da, db, len(list_intersect(x.hs, y.hs)) inter, len(x.hs) na, len(y.hs) nb
        |      FROM cand JOIN sh x ON cand.da = x.doc_id JOIN sh y ON cand.db = y.doc_id),
        |pairs AS (SELECT da, db FROM j WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8),
        |e AS (SELECT da u, db v FROM pairs UNION SELECT db, da FROM pairs),
        |r AS (SELECT u AS n, u AS reach FROM (SELECT DISTINCT u FROM e) b0
        |      UNION SELECT r.n, e.v FROM r JOIN e ON r.reach = e.u),
        |c AS (SELECT n AS doc_id, min(reach) AS cluster_id FROM r GROUP BY 1),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM c GROUP BY 1),
        |k AS (SELECT c.doc_id, c.cluster_id, sz.cluster_size,
        |    CAST(row_number() OVER (PARTITION BY c.cluster_id
        |      ORDER BY CAST(concat('0x', substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 15)) AS BIGINT), c.doc_id) AS BIGINT) AS keep_rank
        |  FROM c JOIN sz USING (cluster_id))
        |SELECT doc_id, cluster_id, cluster_size, keep_rank, keep_rank <= 2 AS kept
        |FROM k ORDER BY doc_id""".stripMargin,

    // q163: both rankings are the q24-proven (cosine DESC, vec_id) tie
    // discipline; truncated side slices the same vectors to 16 dims, and
    // every fold runs in index order on both engines.
    "q163_matryoshka_eval" ->
      """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) nrm FROM vv),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 100 = 0),
        |sc AS (SELECT q.query_id, n.vec_id,
        |        list_reduce(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]), (x, y) -> x + y) / (n.nrm * q.qn) c
        |      FROM n, q WHERE n.vec_id <> q.query_id),
        |rf AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) rk FROM sc) WHERE rk <= 5),
        |tn AS (SELECT vec_id, v[1:16] tv, sqrt(list_reduce(list_transform(v[1:16], x -> x * x), (a, b) -> a + b)) nrm FROM vv),
        |tq AS (SELECT vec_id AS query_id, tv AS qv, nrm AS qn FROM tn WHERE vec_id % 100 = 0),
        |sct AS (SELECT tq.query_id, tn.vec_id,
        |        list_reduce(list_transform(range(1, 17), i -> tn.tv[i] * tq.qv[i]), (x, y) -> x + y) / (tn.nrm * tq.qn) c
        |      FROM tn, tq WHERE tn.vec_id <> tq.query_id),
        |rt AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) rk FROM sct) WHERE rk <= 5),
        |h AS (SELECT rf.query_id, CAST(count(*) AS BIGINT) n_overlap
        |      FROM rf JOIN rt ON rf.query_id = rt.query_id AND rf.vec_id = rt.vec_id GROUP BY 1)
        |SELECT a.query_id, CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap
        |FROM (SELECT DISTINCT query_id FROM rf) a LEFT JOIN h USING (query_id)
        |ORDER BY query_id""".stripMargin,

    // q164: rollup equals the plain star join; the plan counters are
    // pinned literals — broadcast regressions turn the row red.
    "q164_broadcast_plan_audit" ->
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS acctbal_cents,
        |  CAST(2 AS BIGINT) AS n_broadcast_joins,
        |  CAST(0 AS BIGINT) AS n_sort_merge_joins
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY r_name""".stripMargin,

    // q123: +1 source-side / +r = Tg div Ts global-side smoothing keeps
    // every PSI log-ratio an INTEGER ln argument (and does not charge
    // small sources fake drift on empty bins); each bin term quantizes
    // to a BIGINT so the per-source sum is order-free.
    "q123_source_psi" -> q123Sql,

    // q130: the streaming twin accumulates the SAME (source, bin) counts
    // across micro-batches, so q123's oracle certifies the lifecycle.
    "q130_stream_drift" -> q123Sql,

    // q124: centroid components derive from BIGINT-quantized sums (order-
    // free); the distance is the same ascending-index fold as q24's cosine.
    "q124_embedding_outliers" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |qc AS (SELECT label, i, CAST(sum(CAST(floor(v[i] * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM e, (SELECT unnest(range(1, 65)) AS i) g GROUP BY label, i),
        |cl AS (SELECT label, list(CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) ORDER BY i) AS c
        |  FROM qc GROUP BY label),
        |d AS (SELECT e.label, e.vec_id,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[i] - cl.c[i]) * (e.v[i] - cl.c[i])), (a, b) -> a + b) AS d2
        |  FROM e JOIN cl ON e.label = cl.label),
        |r AS (SELECT label, vec_id, d2,
        |    row_number() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id ASC) AS rk
        |  FROM d)
        |SELECT CAST(label AS BIGINT) AS label, CAST(rk AS BIGINT) AS rank, vec_id,
        |  floor(d2 * 1000000.0 + 0.5) / 1000000.0 AS dist2
        |FROM r WHERE rk <= 5 ORDER BY label, rank""".stripMargin,

    // q125: the oracle replays the same membership check as conditional
    // aggregation — semantics, not plan shape, is what hash equality pins.
    "q125_purge_audit" ->
      """WITH del AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
        |a AS (
        |  SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS rows_before,
        |    CAST(sum(CASE WHEN c_custkey IN (SELECT k FROM del) THEN 1 ELSE 0 END) AS BIGINT) AS refs_deleted,
        |    CAST(sum(CASE WHEN c_custkey IN (SELECT k FROM del) THEN 0 ELSE 1 END) AS BIGINT) AS rows_after
        |  FROM customer
        |  UNION ALL
        |  SELECT 'orders', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_custkey IN (SELECT k FROM del) THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN o_custkey IN (SELECT k FROM del) THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'events', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN user_id IN (SELECT k FROM del) THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN user_id IN (SELECT k FROM del) THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM events)
        |SELECT * FROM a ORDER BY tbl""".stripMargin,

    // q126: lift is an exact integer rational (n_ab*N)/(n_a*n_b) — one
    // double division; sessions are q15's 30-minute-gap definition.
    "q126_basket_lift" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |x AS (SELECT user_id, event_id, ts_us, event_type,
        |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
        |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) >= 1800000000
        |      THEN 1 ELSE 0 END AS brk FROM e),
        |sx AS (SELECT user_id, event_type,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x),
        |st AS (SELECT DISTINCT user_id, sid, event_type FROM sx),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM (SELECT DISTINCT user_id, sid FROM st)),
        |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT pr.type_a, pr.type_b, pa.n AS n_a, pb.n AS n_b, pr.n_ab,
        |  floor((CAST(pr.n_ab * nt.n_total AS DOUBLE) / CAST(pa.n * pb.n AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS lift
        |FROM pr JOIN pt pa ON pr.type_a = pa.event_type
        |  JOIN pt pb ON pr.type_b = pb.event_type CROSS JOIN nt
        |ORDER BY type_a, type_b""".stripMargin,

    // q127: dow/hour from INTEGER epoch arithmetic ((days+4)%7, 0=Sunday)
    // — dayofweek()/hour() week conventions differ across engines.
    "q127_seasonal_profile" ->
      """WITH e AS (SELECT epoch_us(ts) AS ts_us, value FROM events),
        |c AS (SELECT (ts_us // 86400000000 + 4) % 7 AS dow,
        |    (ts_us // 3600000000) % 24 AS hour,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM e),
        |g AS (SELECT dow, hour, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents FROM c GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS n_total FROM g)
        |SELECT dow, hour, n_events, sum_cents,
        |  floor((CAST(sum_cents AS DOUBLE) / 100.0 / CAST(n_events AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS mean_value,
        |  floor((CAST(n_events * 168 AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS rate_idx
        |FROM g CROSS JOIN t ORDER BY dow, hour""".stripMargin,

    // q128: pad_frac = (n·max − sum)/(n·max), an exact integer rational.
    "q128_padding_waste" ->
      """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok FROM documents),
        |g AS (SELECT ntok // 64 AS bucket, CAST(count(*) AS BIGINT) AS n_seqs,
        |    CAST(sum(ntok) AS BIGINT) AS sum_tok, CAST(max(ntok) AS BIGINT) AS max_tok
        |  FROM d GROUP BY 1)
        |SELECT bucket, n_seqs, sum_tok, max_tok,
        |  floor((CAST(n_seqs * max_tok - sum_tok AS DOUBLE) / CAST(n_seqs * max_tok AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS pad_frac
        |FROM g ORDER BY bucket""".stripMargin,

    // q129: DCG position terms are BIGINTs from integer-ln arguments
    // (rel·floor(1e9·qln(2)/qln(rank+1))) so per-method sums are
    // order-free; the ranked legs reuse the shared retrieval CTE chain.
    "q129_retrieval_eval" ->
      s"""WITH $retrievalCtes,
        |hy AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
        |  FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 20)),
        |rl AS (SELECT doc_id, CAST(1 AS BIGINT) AS rel FROM d
        |  WHERE list_contains(ts, 'scan') AND list_contains(ts, 'filter') AND list_contains(ts, 'vector')),
        |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM rl),
        |rk AS (SELECT 'sparse' AS method, doc_id, sparse_rank AS rank FROM sp WHERE sparse_rank <= 20
        |  UNION ALL SELECT 'dense', doc_id, dense_rank FROM de WHERE dense_rank <= 20
        |  UNION ALL SELECT 'hybrid', doc_id, rank FROM hy),
        |j AS (SELECT rk.method, rk.rank, coalesce(rl.rel, 0) AS rel
        |  FROM rk LEFT JOIN rl ON rk.doc_id = rl.doc_id),
        |t AS (SELECT method, rank, rel,
        |    rel * CAST(floor(CAST(693147 AS DOUBLE)
        |      / CAST(CAST(floor(ln(CAST(rank + 1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE)
        |      * 1000000000.0) AS BIGINT) AS dcg_q
        |  FROM j),
        |pm AS (SELECT method, CAST(sum(rel) AS BIGINT) AS n_rel_at_k,
        |    CAST(sum(dcg_q) AS BIGINT) AS dcg_q,
        |    min(CASE WHEN rel = 1 THEN rank END) AS first_rel
        |  FROM t GROUP BY 1),
        |ic AS (SELECT CAST(sum(CAST(floor(CAST(693147 AS DOUBLE)
        |      / CAST(CAST(floor(ln(CAST(i + 1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE)
        |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS idcg_q
        |  FROM (SELECT unnest(range(1, 21)) AS i) g CROSS JOIN nr WHERE i <= least(20, n_rel))
        |SELECT method, n_rel_at_k,
        |  floor((CASE WHEN first_rel IS NOT NULL THEN CAST(1.0 AS DOUBLE) / CAST(first_rel AS DOUBLE) ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS mrr,
        |  floor((CASE WHEN idcg_q > 0 THEN CAST(dcg_q AS DOUBLE) / CAST(idcg_q AS DOUBLE) ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS ndcg
        |FROM pm CROSS JOIN ic ORDER BY method""".stripMargin,

    // q165: first-touch day per user, then a day-bounded running sum —
    // integer arithmetic end to end.
    "q165_cumulative_users" ->
      """WITH fu AS (SELECT user_id, min(epoch_us(ts) // 86400000000) AS day FROM events GROUP BY 1),
        |nu AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM fu GROUP BY 1)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
        |FROM nu ORDER BY day""".stripMargin,

    // q166: the Spark side matches 60-bit 8-gram hashes, the oracle the
    // 8-gram strings — equality is the q49 hash-collision-free argument.
    // Leak threshold as the integer form hits*2 >= item_nsh (no FP
    // boundary); items with zero hits re-enter via the left join.
    "q166_bench_leak_report" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] for i in range(1, len(ts) - 6)]) shs FROM t),
        |b AS (SELECT doc_id AS bench_id, CAST(len(shs) AS BIGINT) AS item_nsh, unnest(shs) AS g FROM sh WHERE doc_id % 97 = 0 AND len(shs) > 0),
        |c AS (SELECT doc_id, unnest(shs) AS g FROM sh WHERE doc_id % 97 <> 0),
        |ph AS (SELECT b.bench_id, any_value(b.item_nsh) AS item_nsh, c.doc_id, CAST(count(*) AS BIGINT) AS hits
        |       FROM b JOIN c USING (g) GROUP BY b.bench_id, c.doc_id),
        |pi AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS n_docs_hit,
        |         CAST(sum(CASE WHEN hits * 2 >= item_nsh THEN 1 ELSE 0 END) AS BIGINT) AS n_leaking_docs,
        |         floor(max(CAST(hits AS DOUBLE) / item_nsh) * 1000000.0 + 0.5) / 1000000.0 AS max_containment
        |       FROM ph GROUP BY bench_id),
        |items AS (SELECT doc_id AS bench_id, CAST(len(shs) AS BIGINT) AS item_nsh FROM sh WHERE doc_id % 97 = 0 AND len(shs) > 0)
        |SELECT items.bench_id, items.item_nsh,
        |  CAST(coalesce(pi.n_docs_hit, 0) AS BIGINT) AS n_docs_hit,
        |  CAST(coalesce(pi.n_leaking_docs, 0) AS BIGINT) AS n_leaking_docs,
        |  coalesce(pi.max_containment, 0.0) AS max_containment
        |FROM items LEFT JOIN pi USING (bench_id) ORDER BY items.bench_id""".stripMargin,

    // q167: the oracle is the plain batch rollup — if the ledger ever
    // double-applies a replayed batch, every n/sum_cents doubles and the
    // hash goes red; same cents form as q119.
    "q167_stream_jdbc_upsert" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // q168: exact medians — Spark percentile() and DuckDB quantile_cont
    // both linear-interpolate, and token counts are integers so the
    // interpolated halves are exact doubles; the k=5 multiply is one
    // identical IEEE op per engine.
    "q168_mad_outliers" ->
      """WITH l AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws FROM documents),
        |m AS (SELECT source, quantile_cont(n_ws, 0.5) AS med FROM l GROUP BY 1),
        |a AS (SELECT l.source, abs(l.n_ws - m.med) AS adev FROM l JOIN m USING (source)),
        |d AS (SELECT source, quantile_cont(adev, 0.5) AS mad FROM a GROUP BY 1)
        |SELECT a.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  floor(any_value(m.med) * 1000000.0 + 0.5) / 1000000.0 AS med_tokens,
        |  floor(any_value(d.mad) * 1000000.0 + 0.5) / 1000000.0 AS mad_tokens,
        |  CAST(sum(CASE WHEN adev > mad * 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM a JOIN d USING (source) JOIN m USING (source)
        |GROUP BY a.source ORDER BY a.source""".stripMargin,

    // q169: the VARIANT path must agree with plain JSON extraction — the
    // q14 contract extended with missing-key and max aggregates.
    "q169_variant_ingest" ->
      """WITH t AS (SELECT event_type,
        |    CASE WHEN json_valid(props) THEN 1 ELSE 0 END AS ok,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type,
        |  CAST(sum(1 - ok) AS BIGINT) AS n_corrupt,
        |  CAST(sum(CASE WHEN ok = 1 AND k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_k_missing,
        |  CAST(sum(coalesce(k, 0)) AS BIGINT) AS sum_k,
        |  max(k) AS max_k,
        |  count(*) AS n
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q170: dense type x hour axis generated from global bounds; the
    // fill is last_value IGNORE NULLS over the bounded axis, -1 before a
    // type's first observation (q158's sentinel convention).
    "q170_forward_fill" ->
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour_epoch,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(epoch_us(ts) // 3600000000) AS h0, max(epoch_us(ts) // 3600000000) AS h1 FROM events),
        |ax AS (SELECT et.event_type, unnest(generate_series(b.h0, b.h1)) AS hour_epoch
        |  FROM (SELECT DISTINCT event_type FROM events) et, b)
        |SELECT ax.event_type, ax.hour_epoch,
        |  CAST(coalesce(h.n_events, 0) AS BIGINT) AS n_events,
        |  CAST(coalesce(last_value(h.sum_cents IGNORE NULLS) OVER
        |    (PARTITION BY ax.event_type ORDER BY ax.hour_epoch
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS BIGINT) AS filled_cents
        |FROM ax LEFT JOIN h ON ax.event_type = h.event_type AND ax.hour_epoch = h.hour_epoch
        |ORDER BY ax.event_type, ax.hour_epoch""".stripMargin,

    // q171: every subcosine is the q24 fixed-order fold on a 16-dim
    // slice; the per-query-chunk MAX and the 4-term left-to-right sum
    // are reproduced literally, so the score chain is one identical
    // IEEE computation per engine.
    "q171_maxsim_retrieval" ->
      """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |q AS (SELECT vec_id, v FROM vv WHERE vec_id % 1000 = 0),
        |qc AS (SELECT q.vec_id AS qid, r.c AS qcc, list_slice(q.v, r.c*16+1, r.c*16+16) AS cv,
        |    sqrt(list_reduce(list_transform(list_slice(q.v, r.c*16+1, r.c*16+16), x -> x*x), (a,b) -> a+b)) AS nrm
        |  FROM q, range(4) r(c)),
        |dd AS (SELECT vv.vec_id AS did, r.c AS dcc, list_slice(vv.v, r.c*16+1, r.c*16+16) AS cv,
        |    sqrt(list_reduce(list_transform(list_slice(vv.v, r.c*16+1, r.c*16+16), x -> x*x), (a,b) -> a+b)) AS nrm
        |  FROM vv, range(4) r(c)),
        |sub AS (SELECT qc.qid, dd.did, qc.qcc,
        |    max(CASE WHEN qc.nrm * dd.nrm = 0 THEN 0.0
        |        ELSE list_reduce(list_transform(range(1, 17), i -> qc.cv[i] * dd.cv[i]), (a,b) -> a+b) / (qc.nrm * dd.nrm) END) AS m
        |  FROM qc JOIN dd ON dd.did <> qc.qid GROUP BY 1, 2, 3),
        |sc AS (SELECT qid, did,
        |    max(CASE WHEN qcc = 0 THEN m END) + max(CASE WHEN qcc = 1 THEN m END)
        |  + max(CASE WHEN qcc = 2 THEN m END) + max(CASE WHEN qcc = 3 THEN m END) AS score
        |  FROM sub GROUP BY 1, 2),
        |rk AS (SELECT qid, did, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, did ASC) AS rk FROM sc)
        |SELECT qid AS query_id, CAST(rk AS BIGINT) AS rank, did AS vec_id,
        |  floor(score * 1000000.0 + 0.5) / 1000000.0 AS maxsim
        |FROM rk WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin,

    // q172: three synchronous rounds unrolled; the vote is count DESC
    // then label ASC — a deterministic argmax in both engines. Edge CTE
    // is q148's support-filtered co-purchase build.
    "q172_label_propagation" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM op a JOIN op b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS MATERIALIZED (SELECT pa, pb FROM pr GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS MATERIALIZED (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
        |l0 AS (SELECT DISTINCT u, u AS lbl FROM sym),
        |l1 AS (SELECT u, nl AS lbl FROM (
        |  SELECT s.u, l.lbl AS nl, row_number() OVER (PARTITION BY s.u ORDER BY count(*) DESC, l.lbl ASC) AS rk
        |  FROM sym s JOIN l0 l ON s.v = l.u GROUP BY s.u, l.lbl) WHERE rk = 1),
        |l2 AS (SELECT u, nl AS lbl FROM (
        |  SELECT s.u, l.lbl AS nl, row_number() OVER (PARTITION BY s.u ORDER BY count(*) DESC, l.lbl ASC) AS rk
        |  FROM sym s JOIN l1 l ON s.v = l.u GROUP BY s.u, l.lbl) WHERE rk = 1),
        |l3 AS (SELECT u, nl AS lbl FROM (
        |  SELECT s.u, l.lbl AS nl, row_number() OVER (PARTITION BY s.u ORDER BY count(*) DESC, l.lbl ASC) AS rk
        |  FROM sym s JOIN l2 l ON s.v = l.u GROUP BY s.u, l.lbl) WHERE rk = 1)
        |SELECT u AS part_id, lbl AS label FROM l3 ORDER BY part_id""".stripMargin,

    // q173: percentiles on integer cents — interpolated positions use
    // the same (n-1)*q / lo + (hi-lo)*frac chain in both engines.
    "q173_percentile_bands" ->
      """WITH t AS (SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT event_type, hour_of_day, count(*) AS n_events,
        |  floor(quantile_cont(cents, 0.5) * 1000000.0 + 0.5) / 1000000.0 AS p50_cents,
        |  floor(quantile_cont(cents, 0.9) * 1000000.0 + 0.5) / 1000000.0 AS p90_cents,
        |  floor(quantile_cont(cents, 0.99) * 1000000.0 + 0.5) / 1000000.0 AS p99_cents
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q174: hash60 reproduced as md5 arithmetic (the q42 idiom); self
    // draws are rejected rows in both engines, misses drop in the join.
    "q174_negative_samples" ->
      """WITH d AS (SELECT doc_id, source FROM documents),
        |n AS (SELECT max(doc_id) + 1 AS n FROM d),
        |p AS (SELECT d.doc_id, js.j,
        |    CAST(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || '#' || CAST(js.j AS VARCHAR)), 1, 15)) AS BIGINT) % n.n AS BIGINT) AS neg_id,
        |    d.source AS pos_source
        |  FROM d, n, (SELECT unnest([1, 2, 3]) AS j) js)
        |SELECT p.doc_id, CAST(p.j AS BIGINT) AS j, p.neg_id, p.pos_source, d2.source AS neg_source
        |FROM p JOIN d d2 ON p.neg_id = d2.doc_id
        |WHERE p.neg_id <> p.doc_id
        |ORDER BY 1, 2""".stripMargin,

    // q175: strict-backward as-of, ties at equal click ts to the
    // greatest click_id — exactly AsOfJoinExec's held-row overwrite
    // order. delta_us is NULL-propagating on unmatched purchases.
    "q175_asof_native" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_us
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'),
        |m AS (SELECT purchase_id, click_id, click_us FROM (
        |  SELECT p.purchase_id, c.click_id, c.click_us,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY c.click_us DESC, c.click_id DESC) AS rk
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.click_us <= p.purchase_us
        |    AND p.purchase_us - c.click_us <= 7200000000) WHERE rk = 1)
        |SELECT p.user_id, p.purchase_id, p.purchase_us,
        |  m.click_id, m.click_us, p.purchase_us - m.click_us AS delta_us
        |FROM p LEFT JOIN m USING (purchase_id)
        |ORDER BY purchase_id""".stripMargin,

    // q176: exact-integer ledger classes — ec*(100-d)*(100+t) per line
    // (scale 1e4 vs cents), header scaled identically, so "match" is
    // integer equality in both engines; the full outer is the one join
    // type the rest of the suite didn't exercise.
    "q176_recon_report" ->
      """WITH l AS (SELECT l_orderkey,
        |    sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
        |      * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT))) AS derived_u
        |  FROM lineitem GROUP BY 1),
        |o AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 10000 AS header_u FROM orders),
        |c AS (SELECT CASE WHEN l.l_orderkey IS NULL THEN 'no_lines'
        |                  WHEN o.o_orderkey IS NULL THEN 'no_order'
        |                  WHEN o.header_u = l.derived_u THEN 'match'
        |                  ELSE 'mismatch' END AS status,
        |             coalesce(abs(o.header_u - l.derived_u), 0) AS d
        |      FROM o FULL JOIN l ON o.o_orderkey = l.l_orderkey)
        |SELECT status, count(*) AS n, CAST(sum(d) AS BIGINT) AS sum_abs_diff_u
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // q177: fixed integer thresholds (no ntile); averages as one
    // explicit integer-sum division per engine.
    "q177_rfm_segments" ->
      """WITH u AS (SELECT user_id, max(epoch_us(ts) // 86400000000) AS last_day,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM events GROUP BY 1),
        |d AS (SELECT max(epoch_us(ts) // 86400000000) AS d0 FROM events),
        |x AS (SELECT u.user_id, d.d0 - u.last_day AS recency_days, u.frequency, u.monetary_cents,
        |      CASE WHEN u.frequency >= 20 AND d.d0 - u.last_day <= 7 THEN 'champion'
        |           WHEN d.d0 - u.last_day <= 7 THEN 'recent'
        |           WHEN u.frequency >= 20 THEN 'frequent'
        |           WHEN d.d0 - u.last_day >= 30 THEN 'at_risk'
        |           ELSE 'regular' END AS segment
        |      FROM u, d)
        |SELECT segment, count(*) AS n_users,
        |  CAST(sum(monetary_cents) AS BIGINT) AS sum_cents,
        |  floor(CAST(sum(frequency) AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_frequency,
        |  floor(CAST(sum(recency_days) AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_recency_days
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,

    // q178: q19's normalization for the dup field; one row.
    "q178_dataset_card" ->
      """WITH t AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |  FROM documents)
        |SELECT count(*) AS n_docs,
        |  count(DISTINCT source) AS n_sources,
        |  CAST(sum(n_ws) AS BIGINT) AS n_tokens,
        |  count(*) - count(DISTINCT h) AS n_exact_dup_docs,
        |  floor(CAST(sum(n_ws) AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_doc_tokens,
        |  CAST(sum(CASE WHEN n_ws < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short_docs
        |FROM t""".stripMargin,

    // q179: the EVICTION cut replayed in integer ms — a late row
    // survives iff its hour window's END is above the mid-sentinel
    // watermark (= ms-truncated corpus max ts): Spark drops a late row
    // only when its window was evicted in a PRIOR batch, which the
    // operator pins there by construction (measured rule — a late row
    // below the watermark whose window is still in state MERGES).
    "q179_late_data_audit" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS us FROM events),
        |ot AS (SELECT * FROM e WHERE event_id % 50 <> 0),
        |lt AS (SELECT * FROM e WHERE event_id % 50 = 0),
        |wm AS (SELECT max(us) // 1000 AS wm_ms FROM e),
        |kl AS (SELECT l.event_type, CAST(count(*) AS BIGINT) AS n FROM lt l, wm
        |  WHERE ((l.us // 3600000000) + 1) * 3600000 > wm.wm_ms GROUP BY 1),
        |tot AS (SELECT event_type, count(*) AS n_total FROM e GROUP BY 1),
        |onn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_ot FROM ot GROUP BY 1)
        |SELECT t.event_type, t.n_total,
        |  CAST(coalesce(o.n_ot, 0) + coalesce(k.n, 0) AS BIGINT) AS n_survived,
        |  CAST(t.n_total - coalesce(o.n_ot, 0) - coalesce(k.n, 0) AS BIGINT) AS n_late_dropped
        |FROM tot t LEFT JOIN onn o USING (event_type) LEFT JOIN kl k USING (event_type)
        |ORDER BY event_type""".stripMargin,
  )

  // The retrieval CTE chain shared by q120 (hybrid RRF) and q129 (eval):
  // q108's BM25 leg, q24's cosine leg for query vec 0, ranks, and the
  // fused RRF score — one text so the two oracles can never drift apart.
  private lazy val retrievalCtes: String =
    """d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |    string_split(text, ' ') AS ts FROM documents),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS s_tok FROM d),
      |h AS (SELECT doc_id, dl, t, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, dl, unnest(ts) AS t FROM d)
      |  WHERE t IN ('scan', 'filter', 'vector') GROUP BY 1, 2, 3),
      |f AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM h GROUP BY 1),
      |sc AS (SELECT h.doc_id, h.dl, h.t,
      |    ((floor(ln(CAST(2 * (st.n_docs + 1) AS DOUBLE)) * 1000000.0 + 0.5)
      |      - floor(ln(CAST(2 * f.df + 1 AS DOUBLE)) * 1000000.0 + 0.5)) / 1000000.0)
      |    * CAST(22 * h.tf * st.s_tok AS DOUBLE)
      |    / CAST(10 * h.tf * st.s_tok + 3 * st.s_tok + 9 * h.dl * st.n_docs AS DOUBLE) AS ts_score
      |  FROM h JOIN f ON h.t = f.t CROSS JOIN st),
      |p AS (SELECT doc_id, dl,
      |    coalesce(max(CASE WHEN t = 'scan' THEN ts_score END), 0.0) AS s_scan,
      |    coalesce(max(CASE WHEN t = 'filter' THEN ts_score END), 0.0) AS s_filter,
      |    coalesce(max(CASE WHEN t = 'vector' THEN ts_score END), 0.0) AS s_vector
      |  FROM sc GROUP BY 1, 2),
      |bm AS (SELECT doc_id,
      |    floor((s_scan + s_filter + s_vector) * 1000000.0 + 0.5) / 1000000.0 AS bm25
      |  FROM p ORDER BY bm25 DESC, doc_id LIMIT 50),
      |sp AS (SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS sparse_rank
      |  FROM bm),
      |vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) nrm FROM vv),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id = 0),
      |dsc AS (SELECT n.vec_id,
      |    list_reduce(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]), (x, y) -> x + y) / (n.nrm * q.qn) c
      |  FROM n, q WHERE n.vec_id <> q.query_id),
      |de AS (SELECT vec_id AS doc_id, CAST(row_number() OVER (ORDER BY c DESC, vec_id ASC) AS BIGINT) AS dense_rank
      |  FROM dsc ORDER BY c DESC, vec_id ASC LIMIT 50),
      |fu AS (SELECT coalesce(sp.doc_id, de.doc_id) AS doc_id, sp.sparse_rank, de.dense_rank
      |  FROM sp FULL OUTER JOIN de ON sp.doc_id = de.doc_id),
      |fused AS (SELECT doc_id, sparse_rank, dense_rank,
      |    floor((coalesce(CAST(1.0 AS DOUBLE) / CAST(sparse_rank + 60 AS DOUBLE), 0.0)
      |         + coalesce(CAST(1.0 AS DOUBLE) / CAST(dense_rank + 60 AS DOUBLE), 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS rrf
      |  FROM fu)""".stripMargin

  // q121's 16-term Morton expansion, generated so the oracle text and the
  // Spark fold can never drift apart on a bit position
  private lazy val zorderTermsSql: String = (0 until 8).map { i =>
    s"(((ub >> $i) & 1) << ${2 * i + 1}) + (((tb >> $i) & 1) << ${2 * i})"
  }.mkString(" + ")

  // q158/q187: one oracle text for the plain user-keyed window and the
  // skew-bounded (user, ts-bucket) chunked form — the carry seeding makes
  // the chunked plan value-identical, so one truth certifies both.
  private lazy val q158Sql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
      |w AS (SELECT *,
      |    lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) l1,
      |    lag(ts_us, 2) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) l2,
      |    first_value(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) f3,
      |    count(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) c3
      |  FROM ev)
      |SELECT event_id, user_id, event_type,
      |  CAST(coalesce(ts_us - l1, -1) AS BIGINT) AS gap1_us,
      |  CAST(coalesce(l1 - l2, -1) AS BIGINT) AS gap2_us,
      |  CAST(CASE WHEN c3 > 0 THEN (ts_us - f3) // c3 ELSE -1 END AS BIGINT) AS mean_gap3
      |FROM w ORDER BY user_id, event_id""".stripMargin

  // q147/q184: one oracle text for the window-ranked and grid-ranked
  // Spearman — the doubled-rank identity r2 = 2·(#smaller)+(#equal)+1
  // makes the fallback exactly the window form's value.
  private lazy val q147Sql: String =
    """WITH pc AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS spend_cents
      |  FROM orders GROUP BY 1),
      |m AS (SELECT n.n_name, pc.n_orders, pc.spend_cents
      |  FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
      |r AS (SELECT n_name,
      |    2 * rank() OVER (PARTITION BY n_name ORDER BY n_orders)
      |      + count(*) OVER (PARTITION BY n_name, n_orders) - 1 AS rx,
      |    2 * rank() OVER (PARTITION BY n_name ORDER BY spend_cents)
      |      + count(*) OVER (PARTITION BY n_name, spend_cents) - 1 AS ry
      |  FROM m),
      |g AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
      |    CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2 FROM r GROUP BY 1)
      |SELECT n_name, n_customers, sum_d2,
      |  CASE WHEN n_customers > 1 THEN CAST(floor(1000000.0 - 1500000.0 * CAST(sum_d2 AS DOUBLE)
      |    / (CAST(n_customers AS DOUBLE) * (CAST(n_customers AS DOUBLE) * CAST(n_customers AS DOUBLE) - 1.0))
      |    + 0.5) AS BIGINT) ELSE 0 END AS rho_e6
      |FROM g ORDER BY n_name""".stripMargin

  // q99/q183: one oracle text for the window-composed and the native
  // nearest as-of — hash equality between the two engine paths IS the
  // native operator's correctness gate.
  private lazy val q99Sql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |w AS (SELECT *,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS) OVER wb AS prev_id,
      |    last_value(CASE WHEN event_type = 'click' THEN t END IGNORE NULLS) OVER wb AS prev_us,
      |    first_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS) OVER wf AS next_id,
      |    first_value(CASE WHEN event_type = 'click' THEN t END IGNORE NULLS) OVER wf AS next_us
      |  FROM ev
      |  WINDOW wb AS (PARTITION BY user_id ORDER BY t, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |         wf AS (PARTITION BY user_id ORDER BY t, event_id
      |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
      |p AS (SELECT *,
      |    (prev_us IS NOT NULL AND t - prev_us <= 7200000000) AS back_ok,
      |    (next_us IS NOT NULL AND next_us - t <= 7200000000) AS fwd_ok
      |  FROM w WHERE event_type = 'purchase'),
      |sel AS (SELECT *,
      |    (back_ok AND (NOT fwd_ok OR t - prev_us <= next_us - t)) AS take_back
      |  FROM p)
      |SELECT user_id, event_id AS purchase_id, t AS purchase_us,
      |  CASE WHEN take_back THEN prev_id WHEN fwd_ok THEN next_id END AS click_id,
      |  CASE WHEN take_back THEN prev_us WHEN fwd_ok THEN next_us END AS click_us,
      |  CASE WHEN take_back THEN t - prev_us WHEN fwd_ok THEN next_us - t END AS delta_us
      |FROM sel ORDER BY purchase_id""".stripMargin

  // q122: counts are exact integers; the cvr/lift/z chain is the same
  // fixed-order double expression on both sides, round6-quantized.
  private lazy val q123Sql: String =
    """WITH d AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    CAST(length(text) - len(string_split(text, ' ')) + 1 AS BIGINT) AS sumlen
        |  FROM documents),
        |ds AS (SELECT source, (sumlen * 1000000) // ntok AS iscore FROM d),
        |b AS (SELECT min(iscore) AS mn, max(iscore) AS mx FROM ds),
        |bn AS (SELECT source, ((iscore - mn) * 16) // (mx - mn + 1) AS bin FROM ds, b),
        |c AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c FROM bn GROUP BY 1, 2),
        |ts AS (SELECT source, CAST(sum(c) AS BIGINT) AS t_s FROM c GROUP BY 1),
        |grid AS (SELECT ts.source, ts.t_s, gs.bin, coalesce(c.c, 0) AS c
        |  FROM ts CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) gs
        |  LEFT JOIN c ON c.source = ts.source AND c.bin = gs.bin),
        |gt AS (SELECT bin, CAST(sum(c) AS BIGINT) AS c_g FROM grid GROUP BY 1),
        |tg AS (SELECT CAST(sum(c) AS BIGINT) AS t_g FROM c),
        |terms AS (SELECT g.source, g.t_s,
        |    CAST(floor(((CAST(g.c + 1 AS DOUBLE) / CAST(g.t_s + 16 AS DOUBLE)
        |        - CAST(gt.c_g + (tg.t_g // g.t_s) AS DOUBLE) / CAST(tg.t_g + 16 * (tg.t_g // g.t_s) AS DOUBLE))
        |      * (CAST(CAST(floor(ln(CAST((g.c + 1) * (tg.t_g + 16 * (tg.t_g // g.t_s)) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        |          - CAST(floor(ln(CAST((gt.c_g + (tg.t_g // g.t_s)) * (g.t_s + 16) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0))
        |      * 1000000000000.0) AS BIGINT) AS term_q
        |  FROM grid g JOIN gt ON g.bin = gt.bin CROSS JOIN tg)
        |SELECT source, max(t_s) AS n_docs,
        |  floor((CAST(sum(term_q) AS DOUBLE) / 1000000000000.0) * 1000000.0 + 0.5) / 1000000.0 AS psi
        |FROM terms GROUP BY source ORDER BY source""".stripMargin

  private lazy val q122Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
      |exp AS (SELECT user_id, min(ts_us) AS t0,
      |    CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 'A' ELSE 'B' END AS variant
      |  FROM ev WHERE event_type = 'click' GROUP BY user_id),
      |pu AS (SELECT e.user_id, e.variant,
      |    max(CASE WHEN p.ts_us > e.t0 AND p.ts_us <= e.t0 + 604800000000 THEN 1 ELSE 0 END) AS converted
      |  FROM exp e LEFT JOIN (SELECT user_id, ts_us FROM ev WHERE event_type = 'purchase') p
      |    ON e.user_id = p.user_id
      |  GROUP BY e.user_id, e.variant),
      |pv AS (SELECT variant, CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS k
      |  FROM pu GROUP BY variant),
      |ab AS (SELECT
      |    (SELECT n FROM pv WHERE variant = 'A') AS n_a, (SELECT k FROM pv WHERE variant = 'A') AS k_a,
      |    (SELECT n FROM pv WHERE variant = 'B') AS n_b, (SELECT k FROM pv WHERE variant = 'B') AS k_b)
      |SELECT n_a, k_a, n_b, k_b,
      |  floor((CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS cvr_a,
      |  floor((CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS cvr_b,
      |  floor((CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS lift_abs,
      |  floor(((CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |    / sqrt((CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |         * (1.0 - CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |         * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))) * 1000000.0 + 0.5) / 1000000.0 AS z_score
      |FROM ab""".stripMargin
}
