package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
import graft.functions._
import graft.sources._
import graft.streaming._

/** One registered gate: its name, the Spark program that answers it,
  * and the DuckDB SQL its output must hash-match. The oracle is built
  * on first use, so resolving one gate's run function never builds
  * another gate's SQL. */
final class Gate(val name: String, val run: (SparkSession, String) => DataFrame,
    oracle: => String) {
  lazy val oracleSql: String = oracle
}

object Gate {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
      oracle: => String): Gate = new Gate(name, run, oracle)
}

/** The correctness contract — see SURVEY.md §7. Every operator family
  * in SURVEY §2 is exposed as a named gate with a DuckDB oracle; column
  * names/types are aligned on both sides (the oracle check sorts
  * columns by name before hashing). */
object SparkEntry {

  /** Flagship query (the README clustering benchmark analog) on
    * /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.monthlyAgg(spark, "/root/testdata/sf0.001")

  /** Every gate, each declared once; Verify and Bench run them in this
    * order. */
  lazy val gates: Seq[Gate] = Seq(
    Gate("q_monthly_agg", Analytics.monthlyAgg, Analytics.monthlyAggSql),
    Gate("q_demand_by_zone", Analytics.demandByZone, Analytics.demandByZoneSql),
    Gate("q_revenue_tips", Analytics.revenueTips, Analytics.revenueTipsSql),
    Gate("q_duration_percentiles",
      Analytics.durationPercentiles,
      Analytics.durationPercentilesSql),
    Gate("q_hourly_matrix", Analytics.hourlyMatrix, Analytics.hourlyMatrixSql),
    Gate("q_speed_band", Analytics.speedBand, Analytics.speedBandSql),
    Gate("q_coverage_matrix", Analytics.coverageMatrix, Analytics.coverageMatrixSql),
    Gate("q_silver_union", Silver.silverUnion, Silver.silverUnionSql),
    Gate("q_dim_date", (s, _) => GoldDims.dimDate(s), GoldDims.dimDateSql),
    Gate("q_dim_zone", GoldDims.dimZone, GoldDims.dimZoneSql),
    Gate("q_dim_payment_type",
      (s, _) => GoldDims.dimPaymentType(s),
      GoldDims.dimPaymentTypeSql),
    Gate("q_dim_rate_code", (s, _) => GoldDims.dimRateCode(s), GoldDims.dimRateCodeSql),
    Gate("q_fct_trips", GoldFact.fctTrips, GoldFact.fctTripsSql),
    Gate("q_quality_report", Quality.report, Quality.reportSql),
    // training-data pipeline ops (documents / embeddings tables)
    Gate("q_dedup_exact", Dedup.exactDedup, Dedup.exactDedupSql),
    Gate("q_ngram_jaccard",
      (s, d) => Dedup.ngramJaccardPairs(s, d, 0.8),
      Dedup.ngramJaccardSql(0.8)),
    Gate("q_minhash_dedup", Dedup.minhashDupPairs(_, _), Dedup.minhashDupSql()),
    Gate("q_simhash", Dedup.simhash, Dedup.simhashSql),
    Gate("q_token_counts", TextAnalysis.tokenCounts, TextAnalysis.tokenCountsSql),
    Gate("q_quality_score", TextAnalysis.qualityScore, TextAnalysis.qualityScoreSql),
    Gate("q_perplexity", Perplexity.score(_, _), Perplexity.scoreSql()),
    Gate("q_domain_reweight",
      DomainReweight.domainReweight,
      DomainReweight.domainReweightSql),
    Gate("q_dsir_sample", Dsir.sample(_, _), Dsir.sampleSql()),
    Gate("q_gopher_rules",
      (s, d) => GopherRules.score(s, d, minStops = 1),
      GopherRules.scoreSql(minStops = 1)),
    Gate("q_lang_id", TextAnalysis.langId, TextAnalysis.langIdSql),
    Gate("q_fingerprint", TextAnalysis.fingerprint, TextAnalysis.fingerprintSql),
    Gate("q_chunking",
      TextAnalysis.chunkDocuments(_, _),
      TextAnalysis.chunkDocumentsSql()),
    Gate("q_sequence_pack", TextAnalysis.packChunks(_, _), TextAnalysis.packChunksSql()),
    Gate("q_knn_bruteforce",
      Similarity.knnBruteForce(_, _),
      Similarity.knnBruteForceSql()),
    Gate("q_hard_negatives",
      Similarity.hardNegatives(_, _),
      Similarity.hardNegativesSql()),
    Gate("q_dup_weighted_sample",
      Sampling.dupWeightedSample(_, _),
      Sampling.dupWeightedSampleSql()),
    Gate("q_curriculum", Sampling.curriculum(_, _), Sampling.curriculumSql()),
    Gate("q_source_overlap", Dedup.sourceOverlap, Dedup.sourceOverlapSql),
    Gate("q_theta_overlap", Theta.thetaOverlap(_, _), Theta.thetaOverlapSql()),
    Gate("q_theta_overlap_sketch",
      Theta.thetaOverlapSketch(_, _),
      Theta.thetaOverlapSketchSql()),
    Gate("q_tokenizer_fertility", WordPiece.fertility(_, _), WordPiece.fertilitySql()),
    Gate("q_mixture_budget", Sampling.mixtureBudget(_, _), Sampling.mixtureBudgetSql()),
    Gate("q_blocklist_scrub",
      Blocklist.blocklistReport(_, _),
      Blocklist.blocklistReportSql()),
    Gate("q_embedding_drift",
      Divergence.embeddingDrift(_, _),
      Divergence.embeddingDriftSql()),
    Gate("q_zipf_slope", TextAnalysis.zipfSlope(_, _), TextAnalysis.zipfSlopeSql()),
    Gate("q_hll_distinct", Hll.distinctSketch(_, _), Hll.distinctSketchSql()),
    Gate("q_ddsketch_quantiles",
      DdSketch.quantileSketch(_, _),
      DdSketch.quantileSketchSql()),
    // exact complete mining as a block-pair equi-join (1-Bucket-Theta);
    // the sub-quadratic banded-LSH miner is its own gate below
    Gate("q_cosine_neardup",
      Similarity.cosineNearDupPairs(_, _),
      Similarity.cosineNearDupSql()),
    // oracle replays the integer sign-banding, then exact-FP verifies —
    // hash-exact for any corpus; the LSH recall bound is spec-gated
    Gate("q_cosine_neardup_lsh",
      Similarity.cosineNearDupLsh(_, _),
      Similarity.cosineNearDupLshSql()),
    Gate("q_media_features", Multimodal.mediaFeatures, Multimodal.mediaFeaturesSql),
    // hash-exact gates: integer-quantized ANN twins (buckets, probes
    // and top-k are exact integer decisions; FP scale paths stay
    // recall-gated in SimilaritySpec)
    Gate("q_knn_lsh", Similarity.knnLshQuant(_, _), Similarity.knnLshQuantSql()),
    Gate("q_knn_ivf", Similarity.knnIvfQuant(_, _), Similarity.knnIvfQuantSql()),
    Gate("q_knn_ivfpq", Similarity.knnIvfPq(_, _), Similarity.knnIvfPqSql()),
    // SQ8 + 4× oversampled exact re-rank recovers the exact top-k on
    // this corpus (verified at every SF) — gated against the same
    // brute-force oracle, which would catch any quantization drift
    Gate("q_knn_quantized", Similarity.knnQuantized(_, _), Similarity.knnBruteForceSql()),
    // incremental index maintenance: staged base cells + batch-only
    // assignment must be bit-identical to the full rebuild (same oracle)
    Gate("q_knn_ivf_incremental",
      Similarity.knnIvfIncremental(_, _),
      Similarity.knnIvfQuantSql()),
    // hash-exact gate: deterministic-sketch stats (KMV median +
    // register HLL); the engine-internal approx builtins stay
    // error-envelope-gated in GraftSpec
    Gate("q_approx_stats",
      Analytics.approxStatsSketch(_, _),
      Analytics.approxStatsSketchSql),
    Gate("q_frame_sample", Multimodal.frameSample(_, _), Multimodal.frameSampleSql()),
    // ingestion manifest + streaming batch-twin
    Gate("q_ingest_manifest", Ingest.manifest, Ingest.manifestSql),
    // scheduler cadence: trigger catalog → owed run expansion
    Gate("q_schedule_due", (s, _) => Scheduler.dueRuns(s), Scheduler.dueRunsSql()),
    // in-engine trained quality classifier (fixed-point batch GD —
    // the training loop itself is hash-gated, unrolled in the oracle)
    Gate("q_quality_classifier",
      QualityModel.trainAndScore,
      QualityModel.trainAndScoreSql),
    Gate("q_classifier_eval",
      QualityModel.evalHoldout(_, _),
      QualityModel.evalHoldoutSql()),
    Gate("q_stream_hourly", EventsStream.hourlyBatch, EventsStream.hourlyBatchSql),
    Gate("q_stream_recovery", EventsStream.recoveryQuery, EventsStream.recoverySql),
    Gate("q_stream_dedup", EventsStream.streamDedupQuery, EventsStream.streamDedupSql),
    Gate("q_stream_join",
      EventsStream.runStreamStreamJoin(_, _),
      EventsStream.attributionSql),
    Gate("q_stream_enrich", EventsStream.runStreamEnrich, EventsStream.streamEnrichSql),
    // window-function surface (frames, lag/lead, sessionization)
    Gate("q_running_totals", WindowOps.runningTotals, WindowOps.runningTotalsSql),
    Gate("q_sessionize", WindowOps.sessionize(_, _), WindowOps.sessionizeSql()),
    Gate("q_rollup_revenue", Analytics.rollupRevenue, Analytics.rollupRevenueSql),
    Gate("q_distinct_counts", Analytics.distinctCounts, Analytics.distinctCountsSql),
    Gate("q_event_props", Analytics.eventProps, Analytics.eventPropsSql),
    // same values through the typed path — same oracle
    Gate("q_event_props_variant", Analytics.eventPropsVariant, Analytics.eventPropsSql),
    Gate("q_set_ops", Analytics.setOps, Analytics.setOpsSql),
    Gate("q_pivot_status", Analytics.pivotStatus, Analytics.pivotStatusSql),
    Gate("q_frame_index", Multimodal.frameIndex(_, _), Multimodal.frameIndexSql()),
    Gate("q_asof_join", AsOfJoin.eventsAsOfDaily, AsOfJoin.eventsAsOfDailySql),
    Gate("q_asof_join_native",
      AsOfJoin.eventsAsOfDailyNative,
      AsOfJoin.eventsAsOfDailySql),
    Gate("q_range_join", AsOfJoin.eventsRangeJoin, AsOfJoin.eventsRangeJoinSql),
    Gate("q_asof_forward", AsOfJoin.eventsAsOfForward, AsOfJoin.eventsAsOfForwardSql),
    Gate("q_asof_tolerance",
      AsOfJoin.eventsAsOfTolerance,
      AsOfJoin.eventsAsOfToleranceSql),
    Gate("q_label_norms", Similarity.labelNorms, Similarity.labelNormsSql),
    Gate("q_dup_clusters", Dedup.dupClusters(_, _), Dedup.dupClustersSql()),
    Gate("q_deduped_corpus", Dedup.dedupedCorpus(_, _), Dedup.dedupedCorpusSql()),
    Gate("q_deduped_corpus_longest",
      Dedup.dedupedCorpusLongest(_, _),
      Dedup.dedupedCorpusLongestSql()),
    // deterministic data-mixing ops (hash-bucket sampling, exact membership)
    Gate("q_stratified_sample",
      (s, d) => Sampling.stratifiedSample(s, d, Sampling.defaultRates),
      Sampling.stratifiedSampleSql(Sampling.defaultRates)),
    Gate("q_train_val_test", Sampling.trainValTest(_, _), Sampling.trainValTestSql()),
    Gate("q_split_leakage", Sampling.splitLeakage(_, _), Sampling.splitLeakageSql()),
    // compliance / corpus-quality passes
    Gate("q_pii_scan", Pii.piiScan, Pii.piiScanSql),
    Gate("q_k_anonymity", Pii.kAnonymity(_, _), Pii.kAnonymitySql()),
    Gate("q_l_diversity", Pii.lDiversity(_, _), Pii.lDiversitySql()),
    Gate("q_repetition", TextAnalysis.repetition, TextAnalysis.repetitionSql),
    Gate("q_bm25", Retrieval.bm25Query, Retrieval.bm25Sql()),
    Gate("q_retrieval_metrics",
      Retrieval.retrievalMetrics(_, _),
      Retrieval.retrievalMetricsSql()),
    Gate("q_hybrid_search", Retrieval.hybridSearch(_, _), Retrieval.hybridSearchSql()),
    Gate("q_scd2_users", Scd.userStatusScd2, Scd.userStatusScd2Sql),
    Gate("q_stream_sessions",
      EventsStream.runSessionStream,
      EventsStream.sessionWindowSql),
    Gate("q_contamination",
      Decontaminate.contamination(_, _),
      Decontaminate.contaminationSql()),
    Gate("q_contamination_bloom",
      Decontaminate.bloomContamination(_, _),
      Decontaminate.bloomContaminationSql()),
    Gate("q_contamination_fuzzy",
      Decontaminate.fuzzyContamination(_, _),
      Decontaminate.fuzzyContaminationSql()),
    Gate("q_unigram_seed", Unigram.seedCandidates(_, _), Unigram.seedCandidatesSql()),
    Gate("q_unigram_model", Unigram.modelContract(_, _), Unigram.modelContractSql),
    Gate("q_unigram_encode", Unigram.encodeContract(_, _), Unigram.encodeContractSql),
    // hash-exact on actual piece sequences (the inventory is
    // SQL-recomputable, so the oracle replays the greedy matcher)
    Gate("q_wordpiece_counts", WordPiece.pieceCounts(_, _), WordPiece.pieceCountsSql()),
    Gate("q_mg_merge", CountMin.mgMerge(_, _), CountMin.mgMergeSql()),
    Gate("q_mg_topk", CountMin.mgTopk(_, _), CountMin.mgTopkSql()),
    Gate("q_countmin", CountMin.estimateQuery(_, _), CountMin.estimateQuerySql()),
    Gate("q_nn_graph", Similarity.nnGraph(_, _), Similarity.nnGraphSql()),
    Gate("q_neardup_editdist",
      Dedup.editDistanceRefine(_, _),
      Dedup.editDistanceRefineSql()),
    Gate("q_slice_divergence",
      Divergence.sliceDivergence(_, _),
      Divergence.sliceDivergenceSql),
    Gate("q_cube_revenue", Analytics.cubeRevenue, Analytics.cubeRevenueSql),
    Gate("q_grouping_sets",
      Analytics.groupingSetsRevenue,
      Analytics.groupingSetsRevenueSql),
    Gate("q_amount_outliers", Analytics.amountOutliers, Analytics.amountOutliersSql),
    Gate("q_compaction", Ingest.compactionQuery, Ingest.compactionSql),
    Gate("q_upsert", Ingest.upsertQuery, Ingest.upsertSql),
    // the 4-micro-batch CDC apply converges to the same table as the
    // single-shot MERGE (disjoint keys per feed file) — same oracle
    Gate("q_stream_cdc", EventsStream.cdcApplyQuery, Ingest.upsertSql),
    Gate("q_mixture_sample", Sampling.mixtureSample(_, _), Sampling.mixtureSampleSql()),
    Gate("q_rolling_1h", WindowOps.rollingHour, WindowOps.rollingHourSql),
    Gate("q_ntile_deciles", WindowOps.ntileDeciles, WindowOps.ntileDecilesSql),
    Gate("q_gap_fill", WindowOps.gapFillHourly, WindowOps.gapFillHourlySql),
    Gate("q_heavy_hitters",
      TextAnalysis.heavyHitters(_, _),
      TextAnalysis.heavyHittersSql()),
    Gate("q_pmi_collocations",
      TextAnalysis.pmiCollocations(_, _),
      TextAnalysis.pmiCollocationsSql()),
    Gate("q_quality_gate", TextAnalysis.qualityGate, TextAnalysis.qualityGateSql),
    Gate("q_corpus_shuffle", Sampling.corpusShuffle(_, _), Sampling.corpusShuffleSql()),
    // hash-exact gate: INTEGER-quantized Lloyd's — the whole 5-iteration
    // loop is exact integer arithmetic, replayed by an unrolled DuckDB
    // CTE chain. (The double-precision kmeansFull stays spec-gated in
    // KMeansSpec; r4 left this rows-only.)
    Gate("q_kmeans", Clustering.kmeansQuantSummary(_, _), Clustering.kmeansQuantSql()),
    // behavioral / product analytics (round 3)
    Gate("q_funnel", Behavioral.funnel, Behavioral.funnelSql),
    Gate("q_retention", Behavioral.retention, Behavioral.retentionSql),
    Gate("q_topk_per_group", Behavioral.topKPerGroup(_, _), Behavioral.topKPerGroupSql),
    Gate("q_fuzzy_match", Fuzzy.fuzzyMatch, Fuzzy.fuzzyMatchSql),
    Gate("q_insert_overwrite", Ingest.insertOverwriteQuery, Ingest.insertOverwriteSql),
    Gate("q_bpe_pairs", Bpe.pairCounts, Bpe.pairCountsSql),
    // merge loop gated by CONTRACT: first merge == pair-count argmax
    // (exactly SQL-recomputable) + structural booleans pinned TRUE;
    // the full table stays BpeSpec-differentialed
    Gate("q_bpe_merges", Bpe.mergesContract(_, _), Bpe.mergesContractSql),
    Gate("q_covariance", Pca.covariance, Pca.covarianceSql),
    // eigensolve gated by CONTRACT (hll_union pattern): exact decimal
    // covariance trace hash-pinned + invariants evaluated on the data
    // pinned TRUE; the projection itself stays PcaSpec-differentialed
    Gate("q_pca_project", Pca.pcaContract(_, _), Pca.pcaContractSql()),
    Gate("q_profile", Profile.profileEvents, Profile.profileEventsSql),
    Gate("q_key_skew", Profile.keySkewProfile, Profile.keySkewProfileSql),
    Gate("q_calibration", QualityModel.calibration(_, _), QualityModel.calibrationSql()),
    Gate("q_roc_auc", QualityModel.rocAuc(_, _), QualityModel.rocAucSql()),
    Gate("q_pr_curve", QualityModel.prCurve(_, _), QualityModel.prCurveSql()),
    Gate("q_containment", Dedup.containmentPairs(_, _), Dedup.containmentSql()),
    Gate("q_ks_test", Divergence.ksTest(_, _), Divergence.ksTestSql),
    Gate("q_kappa", QualityModel.kappa(_, _), QualityModel.kappaSql()),
    Gate("q_chi2_independence",
      Profile.chi2Independence(_, _),
      Profile.chi2IndependenceSql),
    Gate("q_dp_release", Pii.dpRelease(_, _), Pii.dpReleaseSql()),
    Gate("q_t_closeness", Pii.tCloseness(_, _), Pii.tClosenessSql()),
    Gate("q_bradley_terry", Preference.bradleyTerry(_, _), Preference.bradleyTerrySql),
    Gate("q_preference_pairs",
      Preference.preferencePairs(_, _),
      Preference.preferencePairsSql),
    Gate("q_preference_length_bias",
      Preference.preferenceLengthBias(_, _),
      Preference.preferenceLengthBiasSql),
    Gate("q_coreset", Coreset.kCenter(_, _), Coreset.kCenterSql()),
    Gate("q_entity_resolution", Fuzzy.entityResolution(_, _), Fuzzy.entityResolutionSql),
    Gate("q_dedup_funnel", Dedup.dedupFunnel(_, _), Dedup.dedupFunnelSql()),
    Gate("q_langid_confusion",
      TextAnalysis.langIdConfusion(_, _),
      TextAnalysis.langIdConfusionSql),
    Gate("q_mixture_report", Profile.mixtureReport(_, _), Profile.mixtureReportSql),
    Gate("q_data_card", DataCard.dataCard(_, _), DataCard.dataCardSql()),
    Gate("q_tfidf_terms",
      TextAnalysis.tfidfTopTerms(_, _),
      TextAnalysis.tfidfTopTermsSql()),
    Gate("q_bootstrap_ci", Sampling.bootstrapCi(_, _), Sampling.bootstrapCiSql()),
    Gate("q_sample_ess", Sampling.sampleEss(_, _), Sampling.sampleEssSql),
    Gate("q_mad_outliers", Profile.madOutliers, Profile.madOutliersSql),
    Gate("q_benford", Profile.benford, Profile.benfordSql),
    Gate("q_token_budget", Sampling.tokenBudget(_, _), Sampling.tokenBudgetSql()),
    Gate("q_quota_sample", Sampling.quotaSample(_, _), Sampling.quotaSampleSql()),
    Gate("q_quantile_norm", Sampling.quantileNorm, Sampling.quantileNormSql),
    Gate("q_ngrams_expr", TextAnalysis.ngramsExpr(_, _), TextAnalysis.ngramsExprSql),
    Gate("q_mode", Analytics.modePerUser, Analytics.modePerUserSql),
    Gate("q_try_semantics", Analytics.trySemantics, Analytics.trySemanticsSql),
    Gate("q_map_funcs", Analytics.mapFuncs, Analytics.mapFuncsSql),
    Gate("q_ts_anomaly", TimeSeries.dailyAnomaly, TimeSeries.dailyAnomalySql),
    Gate("q_histogram", Analytics.histogram(_, _), Analytics.histogramSql()),
    Gate("q_phrase_search", Retrieval.phraseSearch(_, _), Retrieval.phraseSearchSql()),
    Gate("q_cluster_split", Sampling.clusterSplit(_, _), Sampling.clusterSplitSql()),
    Gate("q_incremental_dedup", Dedup.incrementalDedupQuery, Dedup.incrementalDedupSql),
    Gate("q_incr_agg",
      MaterializedView.incrementalAggQuery,
      MaterializedView.incrementalAggSql),
    Gate("q_attribution", Behavioral.attribution, Behavioral.attributionSql),
    Gate("q_ab_test", Behavioral.abTest(_, _), Behavioral.abTestSql()),
    Gate("q_table_diff", Reconcile.tableDiffQuery, Reconcile.tableDiffSql),
    Gate("q_schema_evolution", Ingest.schemaEvolutionQuery, Ingest.schemaEvolutionSql),
    // additive maintenance is batch-split independent: same oracle as
    // the single-fold IVM query
    Gate("q_stream_ivm", EventsStream.ivmStreamQuery, MaterializedView.incrementalAggSql),
    Gate("q_mv_rewrite", MaterializedView.mvRewriteQuery, MaterializedView.mvRewriteSql),
    // the oracle string IS the Spark program (SQL-surface parity)
    Gate("q_sql_e2e", Analytics.sqlE2e, Analytics.monthlyAggSql),
    Gate("q_sql_recursive", Analytics.sqlRecursive, Analytics.recursiveSpineSql),
    Gate("q_tpch_q1", TpchQueries.q1, TpchQueries.q1Sql),
    Gate("q_tpch_q3", TpchQueries.q3, TpchQueries.q3Sql),
    Gate("q_tpch_q4", TpchQueries.q4, TpchQueries.q4Sql),
    Gate("q_tpch_q6", TpchQueries.q6, TpchQueries.q6Sql),
    Gate("q_tpch_q19", TpchQueries.q19, TpchQueries.q19Sql),
    Gate("q_tpch_q2", TpchSuite.q2, TpchSuite.q2Sql),
    Gate("q_tpch_q7", TpchSuite.q7, TpchSuite.q7Sql),
    Gate("q_tpch_q8", TpchSuite.q8, TpchSuite.q8Sql),
    Gate("q_tpch_q9", TpchSuite.q9, TpchSuite.q9Sql),
    Gate("q_tpch_q11", TpchSuite.q11, TpchSuite.q11Sql),
    Gate("q_tpch_q12", TpchSuite.q12, TpchSuite.q12Sql),
    Gate("q_tpch_q13", TpchSuite.q13, TpchSuite.q13Sql),
    Gate("q_tpch_q14", TpchSuite.q14, TpchSuite.q14Sql),
    Gate("q_tpch_q15", TpchSuite.q15, TpchSuite.q15Sql),
    Gate("q_tpch_q16", TpchSuite.q16, TpchSuite.q16Sql),
    Gate("q_tpch_q17", TpchSuite.q17, TpchSuite.q17Sql),
    Gate("q_tpch_q20", TpchSuite.q20, TpchSuite.q20Sql),
    Gate("q_tpch_q21", TpchSuite.q21, TpchSuite.q21Sql),
    Gate("q_tpch_q22", TpchSuite.q22, TpchSuite.q22Sql),
    Gate("q_clamped_balance",
      StatefulBatch.clampedBalance(_, _),
      StatefulBatch.clampedBalanceSql),
    // transformWithState streaming strategy, same contract — same oracle
    Gate("q_stream_balance",
      TwsOps.twsBalanceQuery(_, _),
      StatefulBatch.clampedBalanceSql),
    Gate("q_tpch_q5", TpchQueries.q5, TpchQueries.q5Sql),
    Gate("q_media_dedup", Multimodal.mediaDedupQuery, Multimodal.mediaDedupSql),
    Gate("q_media_neardup", Multimodal.mediaNearDupQuery, Multimodal.mediaNearDupSql),
    Gate("q_unpivot", Analytics.unpivotStatus, Analytics.unpivotStatusSql),
    Gate("q_winsorize", Analytics.winsorize, Analytics.winsorizeSql),
    // black-box sketch gated by CONTRACT: exact weekly distincts are
    // hash-pinned, the engine-private estimate folds into a pinned
    // envelope boolean (re-agg identity still spec-pinned)
    Gate("q_hll_union", Analytics.hllUnionGate, Analytics.hllUnionGateSql),
    // from-scratch register HLL: integer-exact registers + pinned-IEEE
    // estimate make the sketch itself hash-gateable (unlike the
    // black-box hll_sketch_agg of q_hll_union, which stays rows-only)
    Gate("q_hll_registers", Analytics.hllRegisterRollup, Analytics.hllRegisterSql),
    // round 3: substring-level dedup, weighted sampling, MMR, BPE encode
    Gate("q_substring_dup", Dedup.substringSpans(_, _), Dedup.substringSpansSql()),
    Gate("q_paragraph_dedup", Dedup.paragraphDedup(_, _), Dedup.paragraphDedupSql()),
    Gate("q_weighted_sample",
      Sampling.weightedSample(_, _),
      Sampling.weightedSampleSql()),
    // hash-exact gate: fixed-point MMR — integer micro-unit sims make
    // the greedy recurrence replayable as k unrolled SQL steps. (FP
    // twin mmrRerank stays spec-gated in RetrievalSpec.)
    Gate("q_mmr_rerank", Retrieval.mmrRerankQuant(_, _), Retrieval.mmrRerankQuantSql()),
    // encoder gated by CONTRACT: exact per-doc word counts + pinned
    // tokenization bounds; totals stay BpeSpec-differentialed
    Gate("q_bpe_encode", Bpe.encodeContract(_, _), Bpe.encodeContractSql),
    // hash-exact gate: quantized-cluster SemDeDup — integer cosine
    // threshold + pinned-IEEE reported cosine, replayed in DuckDB on
    // top of the unrolled quantized-Lloyd's CTEs. (FP twin semDedup
    // stays spec-gated in SemDedupSpec.)
    Gate("q_semdedup", Clustering.semDedupQuant(_, _), Clustering.semDedupQuantSql()),
    // deterministic sketch: hash-exact oracle (md5 priorities, bottom-k,
    // within-sample percentiles) + mergeability identity in spec
    Gate("q_quantile_sketch",
      Analytics.quantileSketchRollup(_, _),
      Analytics.quantileSketchSql()),
    // streaming maintenance of the same sketch: stream == batch == oracle
    Gate("q_stream_sketch",
      EventsStream.sketchStreamQuery,
      Analytics.quantileSketchSql()),
    // SQL scalar/window surface parity sweeps
    Gate("q_scalar_funcs", Analytics.scalarFuncs, Analytics.scalarFuncsSql),
    Gate("q_window_misc", WindowOps.windowMisc, WindowOps.windowMiscSql),
    Gate("q_array_funcs", Analytics.arrayFuncs, Analytics.arrayFuncsSql),
    Gate("q_null_semantics", Analytics.nullSemantics, Analytics.nullSemanticsSql),
    Gate("q_temperature_mix",
      Sampling.temperatureMix(_, _),
      Sampling.temperatureMixSql()),
    Gate("q_json_source", Ingest.jsonSourceQuery, Ingest.jsonSourceSql),
    Gate("q_orc_source", Ingest.orcSourceQuery, Ingest.orcSourceSql),
    Gate("q_time_travel", Versioned.timeTravelQuery, Versioned.timeTravelSql),
    // file-stats manifest: planning prunes files from footer-derived
    // min/max stats without listing the table (the Iceberg mechanic)
    Gate("q_manifest_prune",
      ManifestIndex.manifestPruneQuery,
      ManifestIndex.manifestPruneSql),
    Gate("q_stream_snapshots",
      EventsStream.snapshotStreamQuery,
      EventsStream.snapshotStreamSql),
    Gate("q_bfs_hops", Graph.bfsQuery, Graph.bfsSql),
    Gate("q_pagerank", Graph.pageRankQuery, Graph.pageRankSql),
    Gate("q_skyline", Skyline.orderSkyline, Skyline.orderSkylineSql),
    Gate("q_curation", Curation.curate, Curation.curateSql()),
    Gate("q_assoc_rules", MarketBasket.assocRules(_, _), MarketBasket.assocRulesSql()),
    Gate("q_item_neighbors",
      MarketBasket.itemNeighbors(_, _),
      MarketBasket.itemNeighborsSql()),
    // end-to-end through the custom DataSource V2 connector (byte-range
    // splits, pushdown, pruning) — oracle reads the original parquet
    Gate("q_dsv2_source", v2.GraftCsvQuery.dsv2Query, v2.GraftCsvQuery.dsv2Sql),
    Gate("q_tpch_q10", TpchQueries.q10, TpchQueries.q10Sql),
    Gate("q_tpch_q18", TpchQueries.q18, TpchQueries.q18Sql),
    // bit-exact second-moment statistics (quantized integer moments)
    Gate("q_stats_moments", Analytics.statsMoments, Analytics.statsMomentsSql),
    Gate("q_spearman", Analytics.spearman, Analytics.spearmanSql),
    // right-to-be-forgotten: merge-on-read tombstones ≡ compacted rewrite
    Gate("q_forget", Forget.forgetQuery, Forget.forgetSql),
    // change data feed over versioned snapshots — same oracle as
    // q_table_diff (storage round-trip must be change-transparent)
    Gate("q_change_feed", Forget.changeFeedQuery, Reconcile.tableDiffSql),
    Gate("q_join_types", Analytics.joinTypes, Analytics.joinTypesSql),
    // the oracle string IS the Spark program (correlated decorrelation)
    Gate("q_correlated", Analytics.sqlCorrelated, Analytics.correlatedSql),
    Gate("q_triangles", Graph.triangles(_, _), Graph.trianglesSql()),
  )

  private lazy val byName: Map[String, Gate] = gates.map(g => g.name -> g).toMap

  /** The named gates, in the order given. Any unknown name fails,
    * naming every unknown one: a typo must not run nothing and exit
    * clean. */
  def lookup(names: Seq[String]): Seq[Gate] = {
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown gate name(s): ${unknown.mkString(", ")}")
    names.map(byName)
  }

  /** [[lookup]] over a comma-separated list, which must name a gate. */
  def lookup(csv: String): Seq[Gate] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, s"no gate named in '$csv'")
    lookup(names)
  }

  /** name → run function, a view of [[gates]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, g) => n -> g.run }

  /** name → DuckDB-equivalent ANSI SQL (same parquet tables), a view of
    * [[gates]]. Builds every oracle. */
  def oracleSql: Map[String, String] = byName.map { case (n, g) => n -> g.oracleSql }

  /** The shared staged artifacts, in build order: each is built once per
    * sf dir and read by several gates. Bench warms and times them; Probe
    * times one as `prebuild:<name>`. */
  val stageBuilds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "dedup" -> ((s, d) => DedupStage.prebuild(s, d)),
    "fact" -> ((s, d) => { GoldStage.fact(s, d).count(); () }),
    "basket" -> ((s, d) => BasketStage.prebuild(s, d)),
    "model" -> ((s, d) => QualityModel.prebuild(s, d)),
    "fuzzy" -> ((s, d) => { Fuzzy.supplierPairs(s, d).count(); () }))
}
