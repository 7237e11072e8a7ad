package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** The co-access degree cap, interpolated into every oracle that must
    * apply the same filter as the Spark side (six queries ride it) — one
    * source of truth, so retuning [[ThreatOps.CoaccessMaxDegree]] can't
    * silently break hash parity.
    */
  private val DegCap = ThreatOps.CoaccessMaxDegree

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ThreatOps.qUserFeatures(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A. preprocessing
    "q_preprocess" -> (ThreatOps.qPreprocess _),
    // B. behavioral / graph analytics
    "q_after_hours_top" -> (ThreatOps.qAfterHoursTop _),
    "q_resource_access" -> (ThreatOps.qResourceAccess _),
    "q_high_activity" -> (ThreatOps.qHighActivity _),
    "q_activity_patterns" -> (ThreatOps.qActivityPatterns _),
    "q_degree_centrality" -> (ThreatOps.qDegreeCentrality _),
    "q_activity_entropy" -> (ThreatOps.qActivityEntropy _),
    "q_temporal_entropy" -> (ThreatOps.qTemporalEntropy _),
    "q_resource_entropy" -> (ThreatOps.qResourceEntropy _),
    "q_coaccess_pairs" -> (ThreatOps.qCoaccessPairs _),
    "q_coaccess_capped" -> (ThreatOps.qCoaccessCapped _),
    "q_coaccess_components" -> (ThreatOps.qCoaccessComponents _),
    "q_peer_anomaly" -> (ThreatOps.qPeerAnomaly _),
    "q_blast_radius" -> (ThreatOps.qBlastRadius _),
    "q_kcore" -> (ThreatOps.qKcore _),
    "q_degree_dist" -> (ThreatOps.qDegreeDist _),
    "q_risk_propagation" -> (ThreatOps.qRiskPropagation _),
    "q_handoff_pairs" -> (ThreatOps.qHandoffPairs _),
    "q_handoff_balance" -> (ThreatOps.qHandoffBalance _),
    "q_component_density" -> (ThreatOps.qComponentDensity _),
    "q_funnel" -> (ThreatOps.qFunnel _),
    "q_hourly_heatmap" -> (ThreatOps.qHourlyHeatmap _),
    "q_resource_access_approx" -> (ThreatOps.qResourceAccessApprox _),
    "q_skew_agg" -> (ThreatOps.qSkewAgg _),
    "q_event_transitions" -> (ThreatOps.qEventTransitions _),
    "q_rare_access_pmi" -> (ThreatOps.qRareAccessPmi _),
    "q_ewma_drift" -> (ThreatOps.qEwmaDrift _),
    "q_sketch_rollup" -> (ThreatOps.qSketchRollup _),
    "q_cusum_drift" -> (ThreatOps.qCusumDrift _),
    "q_seasonal_baseline" -> (ThreatOps.qSeasonalBaseline _),
    "q_autocorr" -> (ThreatOps.qAutocorr _),
    "q_pagerank" -> (ThreatOps.qPagerank _),
    "q_knn_triangles" -> (ThreatOps.qKnnTriangles _),
    "q_clustering_coeff" -> (ThreatOps.qClusteringCoeff _),
    "q_sketch_setops" -> (ThreatOps.qSketchSetops _),
    // C. feature extraction
    "q_user_features" -> (ThreatOps.qUserFeatures _),
    // E. relational core
    "q1_agg" -> (RelationalOps.q1Agg _),
    "q3_join" -> (RelationalOps.q3Join _),
    "q5_join" -> (RelationalOps.q5Join _),
    "q14_promo" -> (RelationalOps.q14Promo _),
    "q_window" -> (RelationalOps.qWindow _),
    "q_sessionize" -> (RelationalOps.qSessionize _),
    "q_session_window" -> (RelationalOps.qSessionWindow _),
    "q_windowed_counts" -> (RelationalOps.qWindowedCounts _),
    "q_sliding_counts" -> (RelationalOps.qSlidingCounts _),
    "q_asof_join" -> (RelationalOps.qAsofJoin _),
    "q_rollup" -> (RelationalOps.qRollup _),
    "q_anti_join" -> (RelationalOps.qAntiJoin _),
    "q_semi_join" -> (RelationalOps.qSemiJoin _),
    "q_percentiles" -> (RelationalOps.qPercentiles _),
    "q_percentiles_approx" -> (RelationalOps.qPercentilesApprox _),
    "q_pivot" -> (RelationalOps.qPivot _),
    "q_profile" -> (RelationalOps.qProfile _),
    "q_cube" -> (RelationalOps.qCube _),
    "q_latest_snapshot" -> (RelationalOps.qLatestSnapshot _),
    "q_interval_join" -> (RelationalOps.qIntervalJoin _),
    "q_daily_change" -> (RelationalOps.qDailyChange _),
    "q_histogram" -> (RelationalOps.qHistogram _),
    "q_ntile" -> (RelationalOps.qNtile _),
    "q_gap_fill" -> (RelationalOps.qGapFill _),
    "q_time_rollup" -> (RelationalOps.qTimeRollup _),
    "q_dq_checks" -> (RelationalOps.qDqChecks _),
    "q_rank_fns" -> (RelationalOps.qRankFns _),
    "q_purchase_gaps" -> (RelationalOps.qPurchaseGaps _),
    "q_set_ops" -> (RelationalOps.qSetOps _),
    "q_min_by_group" -> (RelationalOps.qMinByGroup _),
    "q_moving_avg" -> (RelationalOps.qMovingAvg _),
    "q_exists_agg" -> (RelationalOps.qExistsAgg _),
    "q_top_per_group" -> (RelationalOps.qTopPerGroup _),
    "q_full_outer" -> (RelationalOps.qFullOuter _),
    "q_unpivot" -> (RelationalOps.qUnpivot _),
    "q_grouping_sets" -> (RelationalOps.qGroupingSets _),
    "q_weekly_retention" -> (RelationalOps.qWeeklyRetention _),
    "q_rfm" -> (RelationalOps.qRfm _),
    "q_attribution" -> (RelationalOps.qAttribution _),
    "q_cumulative_users" -> (RelationalOps.qCumulativeUsers _),
    "q_pareto_users" -> (RelationalOps.qParetoUsers _),
    "q_dau_wau" -> (RelationalOps.qDauWau _),
    "q_funnel3" -> (RelationalOps.qFunnel3 _),
    "q_assoc_rules" -> (RelationalOps.qAssocRules _),
    "q_skyline" -> (RelationalOps.qSkyline _),
    "q_ohlc" -> (RelationalOps.qOhlc _),
    "q_twap" -> (RelationalOps.qTwap _),
    "q_coaccess_jaccard" -> (ThreatOps.qCoaccessJaccard _),
    "q_burstiness" -> (ThreatOps.qBurstiness _),
    "q_holt_forecast" -> (ThreatOps.qHoltForecast _),
    "q6_forecast" -> (RelationalOps.q6Forecast _),
    "q7_volume" -> (RelationalOps.q7Volume _),
    "q8_marketshare" -> (RelationalOps.q8MarketShare _),
    "q9_profit" -> (RelationalOps.q9Profit _),
    "q10_returns" -> (RelationalOps.q10Returns _),
    "q11_important" -> (RelationalOps.q11Important _),
    "q12_priority" -> (RelationalOps.q12Priority _),
    "q13_distribution" -> (RelationalOps.q13Distribution _),
    "q15_top_supplier" -> (RelationalOps.q15TopSupplier _),
    "q16_supplier_cnt" -> (RelationalOps.q16SupplierCnt _),
    "q17_small_qty" -> (RelationalOps.q17SmallQty _),
    "q18_large_orders" -> (RelationalOps.q18LargeOrders _),
    "q19_disjunct" -> (RelationalOps.q19Disjunct _),
    "q20_promotion" -> (RelationalOps.q20Promotion _),
    "q21_waiting" -> (RelationalOps.q21Waiting _),
    "q22_dormant" -> (RelationalOps.q22Dormant _),
    "q_bloom_join" -> (BloomOps.qBloomJoin _),
    "q_heavy_hitters" -> (HeavyHitters.qHeavyHitters _),
    // F. LLM-data-pipeline: dedup
    "q_dedup_exact" -> (DedupOps.qDedupExact _),
    "q_dedup_minhash" -> (DedupOps.qDedupMinhash _),
    "q_dedup_minhash_pairs" -> (DedupOps.qDedupMinhashPairs _),
    "q_dedup_incremental" -> (DedupOps.qDedupIncremental _),
    "q_minhash_calibration" -> (DedupOps.qMinhashCalibration _),
    "q_dedup_simhash" -> (DedupOps.qDedupSimhash _),
    "q_dedup_simhash_pairs" -> (DedupOps.qDedupSimhashPairs _),
    "q_dedup_clusters" -> (DedupOps.qDedupClusters _),
    "q_dedup_funnel" -> (DedupOps.qDedupFunnel _),
    "q_doc_dup_profile" -> (DedupOps.qDocDupProfile _),
    "q_ngram_jaccard" -> (DedupOps.qNgramJaccard _),
    "q_containment" -> (DedupOps.qContainment _),
    "q_edit_distance" -> (DedupOps.qEditDistance _),
    "q_decontaminate" -> (DedupOps.qDecontaminate _),
    // F. similarity search
    "q_embed_neardup" -> (SimilarityOps.qEmbedNeardup _),
    "q_ann_brute" -> (SimilarityOps.qAnnBrute _),
    "q_ann_lsh" -> (SimilarityOps.qAnnLsh _),
    "q_ann_ivf" -> (SimilarityOps.qAnnIvf _),
    "q_ann_ivfpq" -> (SimilarityOps.qAnnIvfPq _),
    "q_embed_stats" -> (SimilarityOps.qEmbedStats _),
    "q_embed_quantize" -> (SimilarityOps.qEmbedQuantize _),
    "q_pq_codes" -> (SimilarityOps.qPqCodes _),
    // F. text analysis
    "q_lang_id" -> (TextOps.qLangId _),
    "q_quality_score" -> (TextOps.qQualityScore _),
    "q_token_count" -> (TextOps.qTokenCount _),
    "q_fingerprint" -> (TextOps.qFingerprint _),
    "q_tfidf" -> (TextOps.qTfidf _),
    "q_bm25" -> (TextOps.qBm25 _),
    "q_stratified_sample" -> (TextOps.qStratifiedSample _),
    "q_chunk_docs" -> (TextOps.qChunkDocs _),
    "q_repetition" -> (TextOps.qRepetition _),
    "q_corpus_filter" -> (TextOps.qCorpusFilter _),
    "q_corpus_funnel" -> (TextOps.qCorpusFunnel _),
    "q_redact" -> (TextOps.qRedact _),
    "q_vocab" -> (TextOps.qVocab _),
    "q_unigram_surprisal" -> (TextOps.qUnigramSurprisal _),
    "q_weighted_sample" -> (TextOps.qWeightedSample _),
    "q_det_sample" -> (TextOps.qDetSample _),
    "q_cooccurrence" -> (TextOps.qCooccurrence _),
    // F. multimodal plumbing
    "q_multimodal_meta" -> (MultimodalOps.qMultimodalMeta _),
    "q_media_features" -> (MultimodalOps.qMediaFeatures _),
    "q_media_neardup" -> (MultimodalOps.qMediaNeardup _),
    // D. anomaly detection
    "q_zscore_anomaly" -> (MLOps.qZscoreAnomaly _),
    "q_quantile_outlier" -> (MLOps.qQuantileOutlier _),
    "q_mad_outlier" -> (MLOps.qMadOutlier _),
    "q_anomaly_overlap" -> (MLOps.qAnomalyOverlap _),
    "q_eval_metrics" -> (MLOps.qEvalMetrics _),
    "q_kmeans_anomaly" -> (MLOps.qKmeansAnomaly _),
    "q_pca_project" -> (MLOps.qPcaProject _),
    "q_pca_variance" -> (MLOps.qPcaVariance _),
    "q_roc_points_supervised" -> (MLOps.qRocPointsSupervised _),
    "q_ensemble_vote" -> (MLOps.qEnsembleVote _),
    "q_anomaly_report" -> (MLOps.qAnomalyReport _),
    "q_supervised_rf" -> (MLOps.qSupervisedRf _),
    "q_supervised_gbt" -> (MLOps.qSupervisedGbt _),
    "q_supervised_svc" -> (MLOps.qSupervisedSvc _),
    "q_recon_error" -> (MLOps.qReconError _),
    "q_density_outlier" -> (MLOps.qDensityOutlier _),
    "q_dbscan_clusters" -> (MLOps.qDbscanClusters _),
    "q_roc_auc" -> (MLOps.qRocAuc _),
    "q_roc_points" -> (MLOps.qRocPoints _),
    "q_pr_points" -> (MLOps.qPrPoints _),
    "q_pr_auc" -> (MLOps.qPrAuc _),
    "q_model_report" -> (MLOps.qModelReport _),
    "q_iforest_score" -> (MLOps.qIforestScore _),
    "q_silhouette" -> (MLOps.qSilhouette _),
    "q_rfm_approx" -> (RelationalOps.qRfmApprox _),
    "q_calibration" -> (MLOps.qCalibration _),
    "q_scd2_history" -> (RelationalOps.qScd2History _),
    "q_source_mix" -> (TextOps.qSourceMix _),
    "q_temperature_mix" -> (TextOps.qTemperatureMix _),
    "q_lexical_diversity" -> (TextOps.qLexicalDiversity _),
    "q_pack_docs" -> (TextOps.qPackDocs _),
    "q_holt_winters" -> (ThreatOps.qHoltWinters _),
    "q_psi" -> (ThreatOps.qPsi _),
    "q_markov_surprisal" -> (ThreatOps.qMarkovSurprisal _),
    "q_hits" -> (ThreatOps.qHits _),
    "q_seasonal_decompose" -> (ThreatOps.qSeasonalDecompose _),
    "q_benford" -> (RelationalOps.qBenford _),
    "q_gini" -> (RelationalOps.qGini _),
    "q_chi2" -> (ThreatOps.qChi2 _),
    // B. statistical hypothesis tests
    "q_ks_test" -> (StatsOps.qKsTest _),
    "q_welch_ttest" -> (StatsOps.qWelchTtest _),
    "q_corr_matrix" -> (StatsOps.qCorrMatrix _),
    // F. corpus analysis / tokenizer induction
    "q_kl_divergence" -> (TextOps.qKlDivergence _),
    "q_bpe_merges" -> (TextOps.qBpeMerges _),
    // E. relational DQ
    "q_ref_integrity" -> (RelationalOps.qRefIntegrity _),
    // F. semantic dedup + diverse sampling
    "q_semantic_dedup" -> (SimilarityOps.qSemanticDedup _),
    "q_mmr_sample" -> (SimilarityOps.qMmrSample _),
    // B. association / effect-size screens + multivariate outliers
    "q_mutual_info" -> (StatsOps.qMutualInfo _),
    "q_cramers_v" -> (StatsOps.qCramersV _),
    "q_mahalanobis" -> (StatsOps.qMahalanobis _),
    // F. corpus statistics + substring-level dedup
    "q_zipf_fit" -> (TextOps.qZipfFit _),
    "q_window_dup" -> (TextOps.qWindowDup _),
    // B. graph health (round 8)
    "q_assortativity" -> (ThreatOps.qAssortativity _),
    // D. density-ratio outliers (round 8)
    "q_lof_score" -> (MLOps.qLofScore _),
    // F. corpus forensics (round 8)
    "q_token_len_dist" -> (TextOps.qTokenLenDist _),
    "q_ngram_novelty" -> (TextOps.qNgramNovelty _),
    "q_dup_rate_by_source" -> (DedupOps.qDupRateBySource _),
    "q_cross_source_dup" -> (DedupOps.qCrossSourceDup _),
    "q_char_entropy" -> (TextOps.qCharEntropy _),
    "q_centroid_sim" -> (SimilarityOps.qCentroidSim _),
    "q_shingle_df_profile" -> (DedupOps.qShingleDfProfile _),
    "q_pack_efficiency" -> (TextOps.qPackEfficiency _),
    "q_source_overlap" -> (TextOps.qSourceOverlap _),
    "q_dedup_threshold_sweep" -> (DedupOps.qDedupThresholdSweep _),
    "q_token_freq_spectrum" -> (TextOps.qTokenFreqSpectrum _),
    // F. LM scoring / corpus accounting / index maintenance / embedding
    // monitoring (round 12)
    "q_bigram_surprisal" -> (TextOps.qBigramSurprisal _),
    "q_tokenizer_fertility" -> (TextOps.qTokenizerFertility _),
    "q_dedup_index_compact" -> (DedupOps.qDedupIndexCompact _),
    "q_embed_drift" -> (SimilarityOps.qEmbedDrift _),
    // F. contamination forensics / boilerplate triage / weighted dedup /
    // ANN calibration (round 12, batch 2)
    "q_contamination_pairs" -> (DedupOps.qContaminationPairs _),
    "q_boilerplate_chunks" -> (TextOps.qBoilerplateChunks _),
    "q_weighted_jaccard" -> (DedupOps.qWeightedJaccard _),
    "q_ann_recall_sweep" -> (SimilarityOps.qAnnRecallSweep _),
    // F. label QA / ingest verdict / embedding QA (round 12, batch 3)
    "q_lang_confusion" -> (TextOps.qLangConfusion _),
    "q_shard_ingest_report" -> (DedupOps.qShardIngestReport _),
    "q_embed_outliers" -> (SimilarityOps.qEmbedOutliers _),
  )

  /** Shared oracle-SQL fragments (DuckDB dialect). */
  private val tokSql = "regexp_split_to_array(trim(text), '\\s+')"
  /** Distinct word k-shingles of a token array `t` (mirror of
    * ShingleHash32's shingling) — k-parameterized so every oracle shares
    * ONE definition.
    */
  private def shingleSqlK(k: Int): String = {
    val terms = (0 until k).map(j => s"t[i+$j]").mkString(", ")
    s"""list_distinct(CASE WHEN len(t) >= $k
        THEN list_transform(generate_series(1, len(t)-${k - 1}),
             i -> concat_ws(' ', $terms))
        ELSE []::VARCHAR[] END)"""
  }
  private val shingleSql = shingleSqlK(3)
  /** 32-bit md5-prefix hash lambda body (mirror of TextFunctions.hash32). */
  private val hash32Sql = "('0x' || substr(md5(x),1,8))::BIGINT"
  private val docShinglesSql =
    s"""SELECT doc_id, lang, n_chars, $shingleSql AS sh
        FROM (SELECT doc_id, lang, n_chars, $tokSql AS t FROM documents)"""
  /** Shingles + 32-bit md5-prefix hashes (mirror of TextFunctions.hash32). */
  private val hashedShinglesSql =
    s"""SELECT doc_id, lang, n_chars, sh,
          list_transform(sh, x -> $hash32Sql) AS hs
        FROM ($docShinglesSql)"""
  import graft.functions.TextFunctions.{permA, permB, MinhashPrime => MP}
  private def minhashSql(j: Int): String =
    s"list_min(list_transform(hs, h -> (h*${permA(j)} + ${permB(j)}) % $MP)) AS mh_$j"
  private def bandSql(b: Int): String =
    (0 until 3).map(r => s"mh_${3 * b + r}::VARCHAR").mkString(" || '|' || ")
  /** Per-doc language-ID verdict (mirror of TextOps.qLangId, no ORDER BY
    * so it can sit inside a CTE) — shared by the lang-id oracle and the
    * confusion-matrix oracle so the argmax can never silently diverge. */
  private val langIdSql = {
    val markerIn = TextOps.markers.map { case (l, ws) =>
      s"len(list_filter(t, x -> x IN (${ws.map(w => s"'$w'").mkString(",")}))) AS score_$l"
    }.mkString(", ")
    val gr = s"greatest(${TextOps.markers.map(m => s"score_${m._1}").mkString(",")})"
    val caseExpr = TextOps.markers.map { case (l, _) =>
      s"WHEN score_$l = $gr AND score_$l > 0 THEN '$l'"
    }.mkString(" ")
    s"""WITH sc AS (SELECT doc_id, lang, $markerIn
        FROM (SELECT doc_id, lang, $tokSql AS t FROM documents))
        SELECT doc_id, lang AS declared_lang,
          CASE $caseExpr ELSE 'und' END AS pred_lang,
          ${TextOps.markers.map(m => s"score_${m._1}").mkString(", ")}
        FROM sc"""
  }

  private val embNormSql =
    """SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nv
       FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings)"""

  /** q_user_features body, shared by the anomaly-detection oracles. */
  private val userFeaturesSql =
    """WITH lg AS (
         SELECT user_id, event_type, json_extract_string(props,'$.k') AS resource,
           CASE WHEN EXTRACT(hour FROM ts) < 8 OR EXTRACT(hour FROM ts) > 18 THEN 1 ELSE 0 END AS iah,
           CASE WHEN isodow(ts)-1 >= 5 THEN 1 ELSE 0 END AS iw
         FROM events),
       base AS (
         SELECT user_id, count(*) AS total_activities,
           CAST(sum(iah) AS BIGINT) AS after_hours_activities,
           CAST(sum(iw) AS BIGINT) AS weekend_activities,
           count(DISTINCT resource) AS unique_resources,
           count(DISTINCT event_type) AS activity_types
         FROM lg GROUP BY user_id),
       ae AS (
         SELECT user_id, round(log2(sum(f)) - sum(f*log2(f))/sum(f), 4) AS activity_entropy
         FROM (SELECT user_id, event_type, count(*)::DOUBLE AS f FROM events GROUP BY 1,2)
         GROUP BY user_id),
       te AS (
         SELECT user_id, round(log2(sum(f)) - sum(f*log2(f))/sum(f), 4) AS temporal_entropy
         FROM (SELECT user_id, EXTRACT(hour FROM ts) AS h, count(*)::DOUBLE AS f FROM events GROUP BY 1,2)
         GROUP BY user_id)
       SELECT b.user_id, total_activities, after_hours_activities, weekend_activities,
         unique_resources, activity_types, activity_entropy, temporal_entropy,
         round(after_hours_activities*1.0/greatest(total_activities,1), 4) AS after_hours_ratio,
         round(weekend_activities*1.0/greatest(total_activities,1), 4) AS weekend_ratio
       FROM base b JOIN ae USING(user_id) JOIN te USING(user_id)"""

  /** Single source of truth with the engine side: the oracle must score
    * exactly the features MLOps scores.
    */
  /** 60-bit SimHash fingerprints (mirror of DedupOps.qDedupSimhash):
    * per-token 60-bit md5 hash, ±1 vote per bit position, sign → bit.
    * The 60 vote columns are generated, same as the Scala side. */
  private val simhashSql = {
    val votes = (0 until 60).map(j =>
      s"sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS b_$j").mkString(", ")
    val fp = (0 until 60).map(j =>
      s"(CASE WHEN b_$j > 0 THEN (1::BIGINT << $j) ELSE 0 END)").mkString(" | ")
    s"""WITH toks AS (SELECT doc_id, ('0x' || substr(md5(x), 1, 15))::BIGINT AS h
          FROM (SELECT doc_id, unnest($tokSql) AS x FROM documents)),
        votes AS (SELECT doc_id, $votes FROM toks GROUP BY doc_id)
        SELECT doc_id, $fp AS simhash FROM votes"""
  }

  /** Connected-components CTE block over the thresholded pair graph
    * (expects a CTE `pr(doc_a, doc_b, jaccard)` in scope; the enclosing
    * WITH must be RECURSIVE) — shared by the cluster oracle and the
    * corpus-filter oracle so the two can never silently diverge. */
  private val clusterCompSql =
    s"""e AS (SELECT doc_a AS a, doc_b AS b FROM pr
            WHERE jaccard >= ${DedupOps.ClusterJaccard}
          UNION ALL
          SELECT doc_b, doc_a FROM pr
            WHERE jaccard >= ${DedupOps.ClusterJaccard}),
        reach(s, d) AS (
          SELECT DISTINCT a AS s, a AS d FROM e
          UNION
          SELECT r.s, e.b FROM reach r JOIN e ON r.d = e.a),
        comp AS (SELECT s AS doc_id, min(d) AS cluster_id FROM reach GROUP BY s)"""

  /** Distinct-bigram count over a token array `t` (mirror of
    * ShingleHash32(text, 2) size — dedup happens on the bigram STRINGS
    * before hashing, so no hash step is needed here). Shared by the
    * repetition and corpus-filter oracles. */
  private val uniqBigramsSql =
    """len(list_distinct(CASE WHEN len(t) >= 2
         THEN list_transform(generate_series(1, len(t)-1),
              i -> concat_ws(' ', t[i], t[i+1]))
         ELSE []::VARCHAR[] END))"""

  /** SimHash band-blocked verified pairs as a CTE block (expects `fp`
    * = simhashSql in scope; yields `sp(doc_a, doc_b, hamming)`) — shared
    * by the simhash-pairs oracle and the edit-distance oracle. */
  private val simhashPairsSql = {
    val bands = (0 until DedupOps.SimhashBands).map { b =>
      val shift = b * DedupOps.SimhashBandBits
      val mask = (1L << DedupOps.SimhashBandBits) - 1
      s"'$b:' || ((simhash >> $shift) & $mask)::VARCHAR"
    }.mkString(", ")
    // band-bucket population cap (first-K by doc_id) — the identical
    // clamp DedupOps.SimhashBandCap applies on the engine side
    s"""banded AS (SELECT doc_id, simhash, band
          FROM (SELECT doc_id, simhash, unnest([$bands]) AS band FROM fp) t
          QUALIFY row_number() OVER (PARTITION BY band ORDER BY doc_id)
            <= ${DedupOps.SimhashBandCap}),
        sp AS (SELECT doc_a, doc_b, hamming FROM (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.doc_id < b.doc_id)
          WHERE hamming <= ${DedupOps.HammingMax})"""
  }

  /** MinHash signature CTE `s` (doc_id, hj = distinct shingle hashes,
    * mh_0 … mh_11) — mirror of DedupOps.signatures + sigRows; the one
    * signature definition of every MinHash oracle except q_dedup_minhash
    * (whose unprefixed band_b columns it emits itself). */
  private val minhashSigCte =
    s"""s AS (SELECT doc_id, list_distinct(hs) AS hj,
          ${(0 until 12).map(minhashSql).mkString(", ")}
        FROM ($hashedShinglesSql))"""
  /** Uncapped `(doc_id, bucket)` band rows over `s` — mirror of
    * DedupOps.bandRows. */
  private val minhashBandRowsSql =
    s"""SELECT doc_id, unnest([${(0 until 4).map(b =>
          s"'$b:' || md5(${bandSql(b)})").mkString(", ")}]) AS bucket
        FROM s"""
  /** `s`, the capped band rows `bk` and the candidate pairs `cand` —
    * mirror of DedupOps.bucketPairs over the band rows. */
  private val minhashCandCtes =
    s"""$minhashSigCte,
        bk AS (SELECT doc_id, bucket FROM ($minhashBandRowsSql) t
          -- band-bucket population cap (first-K by doc_id), the identical
          -- clamp DedupOps.MinhashBandCap applies on the engine side
          QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
            <= ${DedupOps.MinhashBandCap}),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)"""
  /** Verified candidates: `cand` joined to `s` on both sides (sa, sb). */
  private val minhashVerifiedSql =
    "FROM cand JOIN s sa ON sa.doc_id = doc_a JOIN s sb ON sb.doc_id = doc_b"
  /** Shingle-hash Jaccard of `sa`/`sb`, 4 dp (the engine's r4(jaccard)). */
  private val minhashJaccardSql =
    """round(len(list_intersect(sa.hj, sb.hj))*1.0
          / len(list_distinct(list_concat(sa.hj, sb.hj))), 4)"""
  /** `p / (10⁴·q)` rounded HALF_UP to 4 dp in integer arithmetic — mirror
    * of DedupOps.halfUp4. */
  private def halfUp4Sql(p: String, q: String): String =
    s"CAST((2 * ($p) + ($q)) // (2 * ($q)) AS DOUBLE) / 10000"

  /** MinHash-LSH verified candidate pairs (mirror of
    * DedupOps.qDedupMinhashPairs) — shared by the pairs oracle and the
    * connected-components cluster oracle. */
  private val minhashPairsSql =
    s"""WITH $minhashCandCtes
        SELECT doc_a, doc_b, $minhashJaccardSql AS jaccard
        $minhashVerifiedSql
        ORDER BY jaccard DESC, doc_a, doc_b"""

  /** CTE chain for the per-doc curation verdict (mirror of
    * TextOps.qCorpusFilter) — shared by the corpus-filter oracle and the
    * funnel-report oracle. Callers prepend `WITH RECURSIVE `. */
  private val corpusFilterCtes =
    s"""pr AS ($minhashPairsSql),
        $clusterCompSql,
        tok AS (SELECT doc_id, $tokSql AS t FROM documents),
        rep AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
          round(1 - $uniqBigramsSql / greatest(len(t)-1, 1)::DOUBLE, 4)
            AS dup_bigram_ratio
        FROM tok
        -- token-less docs have no row on the Spark rep side (explode of
        -- a null/empty token array emits no rows); mirror, then restore
        -- them via the LEFT JOIN from documents below
        WHERE t IS NOT NULL AND len(t) > 0)"""

  /** Per-doc verdict SELECT over [[corpusFilterCtes]] (no ORDER BY so it
    * can sit inside a CTE). */
  private val corpusVerdictSql =
    s"""SELECT d.doc_id, COALESCE(n_tokens, 0) AS n_tokens, dup_bigram_ratio,
          CAST(CASE WHEN COALESCE(n_tokens, 0) >= ${TextOps.MinTokens}
            THEN 1 ELSE 0 END AS BIGINT) AS len_ok,
          CAST(CASE WHEN dup_bigram_ratio <= ${TextOps.MaxDupBigramRatio}
            THEN 1 ELSE 0 END AS BIGINT) AS rep_ok,
          CAST(CASE WHEN d.doc_id = COALESCE(c.cluster_id, d.doc_id)
            THEN 1 ELSE 0 END AS BIGINT) AS dedup_ok,
          CAST(CASE WHEN COALESCE(n_tokens, 0) >= ${TextOps.MinTokens}
            AND dup_bigram_ratio <= ${TextOps.MaxDupBigramRatio}
            AND d.doc_id = COALESCE(c.cluster_id, d.doc_id)
            THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM documents d
          LEFT JOIN rep r ON d.doc_id = r.doc_id
          LEFT JOIN comp c ON d.doc_id = c.doc_id"""

  private val mlFeatures = MLOps.FeatureCols

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  /** The preprocess null-drop policy as SQL, applied to every event-
    * driven oracle below so the oracle specifies the SAME function the
    * operators compute (Tables.cleanEvents) on dirty data too — not just
    * on fixtures that happen to be null-free. `q_profile` is exempt: it
    * profiles the raw rows on both sides.
    */
  private val cleanEventsSub =
    "(SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL" +
      " AND event_type IS NOT NULL)"
  /** Words that can legally follow `events` without being its alias —
    * the blacklist that keeps the alias capture from swallowing a
    * keyword (`FROM events WHERE ...` has no alias). Any OTHER
    * identifier after `events` (optionally `AS`-prefixed) is captured
    * and re-attached to the injected policy subquery, so an oracle
    * written `FROM events x` rewrites to valid SQL instead of tripping
    * a confusing DuckDB parse error at verify time.
    */
  private val aliasBlacklist =
    "WHERE|GROUP|ORDER|HAVING|JOIN|LEFT|RIGHT|FULL|CROSS|INNER|ASOF|ON|" +
      "USING|UNION|INTERSECT|EXCEPT|LIMIT|WINDOW|QUALIFY|SELECT"
  private val eventsRef =
    s"""(FROM|JOIN) events\\b(\\s+(?:(?i:AS)\\s+)?(?!(?i:$aliasBlacklist)\\b)[A-Za-z_][A-Za-z0-9_]*)?""".r
  // q_profile and q_dq_checks measure the dirty rows themselves (null
  // counts, raw rowcounts) — the policy would blind them on both sides.
  private val cleanExempt = Set("q_profile", "q_dq_checks")

  private def withCleanEvents(sql: String): String = {
    val out = eventsRef.replaceAllIn(sql, m => {
      val alias = Option(m.group(2)).getOrElse(" events")
      java.util.regex.Matcher.quoteReplacement(s"${m.group(1)} $cleanEventsSub$alias")
    })
    // LOUD failure beats silent policy divergence: the only `events`
    // references allowed to survive the rewrite are the ones inside the
    // injected policy subquery itself (recognizable by their WHERE).
    // An oracle written as `from events` / `FROM events AS x` / any form
    // the restrictive pattern above doesn't cover trips this at startup,
    // instead of quietly shipping an un-policied oracle.
    val policyTail = " WHERE user_id IS NOT NULL AND ts IS NOT NULL" +
      " AND event_type IS NOT NULL)"
    val leftover = """(?i)\b(from|join)\s+events\b""".r.findAllMatchIn(out)
      .count(m => !out.startsWith(policyTail, m.end))
    require(leftover == 0,
      s"oracle SQL has an events reference the null-policy rewrite missed:\n$sql")
    out
  }

  def oracleSql: Map[String, String] = rawOracleSql.map {
    case (k, v) if cleanExempt(k) => k -> v
    case (k, v) => k -> withCleanEvents(v)
  }

  private def rawOracleSql: Map[String, String] = Map(
    "q_preprocess" ->
      """SELECT event_id, user_id, event_type,
         json_extract_string(props,'$.k') AS resource,
         EXTRACT(hour FROM ts) AS hour_of_day,
         isodow(ts)-1 AS day_of_week,
         CASE WHEN isodow(ts)-1 >= 5 THEN 1 ELSE 0 END::BIGINT AS is_weekend,
         CASE WHEN EXTRACT(hour FROM ts) < 8 OR EXTRACT(hour FROM ts) > 18 THEN 1 ELSE 0 END::BIGINT AS is_after_hours
         FROM events
         WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
         ORDER BY event_id""",
    "q_after_hours_top" ->
      """SELECT user_id, count(*) AS after_hours_count FROM events
         WHERE EXTRACT(hour FROM ts) < 8 OR EXTRACT(hour FROM ts) > 18
         GROUP BY user_id ORDER BY after_hours_count DESC, user_id LIMIT 10""",
    "q_resource_access" ->
      """SELECT user_id, count(DISTINCT json_extract_string(props,'$.k')) AS unique_resources,
         count(*) AS total_accesses
         FROM events GROUP BY user_id
         ORDER BY unique_resources DESC, user_id LIMIT 10""",
    "q_high_activity" ->
      """SELECT user_id, count(*) AS activity_count FROM events
         GROUP BY user_id ORDER BY activity_count DESC, user_id LIMIT 10""",
    "q_activity_patterns" ->
      """SELECT user_id, event_type, count(*) AS n FROM events
         GROUP BY user_id, event_type ORDER BY user_id, n DESC, event_type""",
    "q_degree_centrality" ->
      """SELECT user_id, count(*)*2 AS total_degree FROM events
         GROUP BY user_id ORDER BY total_degree DESC, user_id LIMIT 10""",
    "q_activity_entropy" ->
      """SELECT user_id,
         round(log2(sum(f)) - sum(f*log2(f))/sum(f), 4) AS activity_entropy,
         CAST(sum(f) AS BIGINT) AS activity_count
         FROM (SELECT user_id, event_type, count(*)::DOUBLE AS f FROM events GROUP BY 1,2)
         GROUP BY user_id ORDER BY activity_entropy DESC, user_id""",
    "q_temporal_entropy" ->
      """SELECT user_id,
         round(log2(sum(f)) - sum(f*log2(f))/sum(f), 4) AS temporal_entropy,
         CAST(sum(f) AS BIGINT) AS activity_count
         FROM (SELECT user_id, EXTRACT(hour FROM ts) AS h, count(*)::DOUBLE AS f FROM events GROUP BY 1,2)
         GROUP BY user_id ORDER BY temporal_entropy DESC, user_id""",
    "q_resource_entropy" ->
      """SELECT user_id,
         round(log2(sum(f)) - sum(f*log2(f))/sum(f), 4) AS resource_entropy,
         CAST(sum(f) AS BIGINT) AS access_count
         FROM (SELECT user_id, json_extract_string(props,'$.k') AS r, count(*)::DOUBLE AS f
               FROM events GROUP BY 1,2)
         GROUP BY user_id ORDER BY resource_entropy DESC, user_id""",
    "q_user_features" -> s"$userFeaturesSql ORDER BY b.user_id",
    "q_coaccess_pairs" ->
      """WITH ur AS (SELECT DISTINCT user_id, json_extract_string(props,'$.k') AS res
           FROM events WHERE json_extract_string(props,'$.k') IS NOT NULL)
         SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS shared_resources
         FROM ur a JOIN ur b ON a.res = b.res AND a.user_id < b.user_id
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY shared_resources DESC, user_a, user_b LIMIT 100""",
    // Same projection with the production degree cap: resources touched by
    // more than 1000 distinct users are dropped before pairing (the Spark
    // side's CoaccessMaxDegree) — the oracle applies the identical filter,
    // so the capped entry is hash-checked, not rows-only.
    "q_coaccess_capped" ->
      s"""WITH ur AS (SELECT DISTINCT user_id, json_extract_string(props,'$$.k') AS res
           FROM events WHERE json_extract_string(props,'$$.k') IS NOT NULL
             AND user_id IS NOT NULL),
         keep AS (SELECT res FROM ur GROUP BY res HAVING count(*) <= $DegCap)
         SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS shared_resources
         FROM ur a JOIN ur b ON a.res = b.res AND a.user_id < b.user_id
         WHERE a.res IN (SELECT res FROM keep)
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY shared_resources DESC, user_a, user_b LIMIT 100""",
    // Transitive closure over the capped pair graph; component id = min
    // reachable user id, singletons = users with no qualifying edge.
    "q_coaccess_components" ->
      s"""WITH RECURSIVE ur AS (SELECT DISTINCT user_id, json_extract_string(props,'$$.k') AS res
           FROM events WHERE json_extract_string(props,'$$.k') IS NOT NULL
             AND user_id IS NOT NULL),
         keep AS (SELECT res FROM ur GROUP BY res HAVING count(*) <= $DegCap),
         pr AS (SELECT a.user_id AS ua, b.user_id AS ub
           FROM ur a JOIN ur b ON a.res = b.res AND a.user_id < b.user_id
           WHERE a.res IN (SELECT res FROM keep)
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT ua AS a, ub AS b FROM pr UNION ALL SELECT ub, ua FROM pr),
         reach(s, d) AS (
           SELECT DISTINCT a AS s, a AS d FROM e
           UNION
           SELECT r.s, e.b FROM reach r JOIN e ON r.d = e.a),
         comp AS (SELECT s AS uid, min(d) AS cid FROM reach GROUP BY s),
         users AS (SELECT DISTINCT user_id FROM events),
         c AS (SELECT u.user_id, COALESCE(comp.cid, u.user_id) AS component_id
           FROM users u LEFT JOIN comp ON u.user_id = comp.uid),
         sz AS (SELECT component_id, CAST(count(*) AS BIGINT) AS component_size
           FROM c GROUP BY 1)
         SELECT c.user_id, c.component_id, sz.component_size
         FROM c JOIN sz USING (component_id) ORDER BY c.user_id""",
    // Peer z-scores from exact-DECIMAL sufficient statistics per
    // component (population variance); mirrors the Mahalanobis oracle's
    // integer-exact accumulation so r4 is boundary-safe.
    "q_peer_anomaly" ->
      s"""WITH RECURSIVE uf AS ($userFeaturesSql),
         ur AS (SELECT DISTINCT user_id, json_extract_string(props,'$$.k') AS res
           FROM events WHERE json_extract_string(props,'$$.k') IS NOT NULL
             AND user_id IS NOT NULL),
         keep AS (SELECT res FROM ur GROUP BY res HAVING count(*) <= $DegCap),
         pr AS (SELECT a.user_id AS ua, b.user_id AS ub
           FROM ur a JOIN ur b ON a.res = b.res AND a.user_id < b.user_id
           WHERE a.res IN (SELECT res FROM keep)
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT ua AS a, ub AS b FROM pr UNION ALL SELECT ub, ua FROM pr),
         reach(s, d) AS (
           SELECT DISTINCT a AS s, a AS d FROM e
           UNION
           SELECT r.s, e.b FROM reach r JOIN e ON r.d = e.a),
         comp AS (SELECT s AS uid, min(d) AS cid FROM reach GROUP BY s),
         users AS (SELECT DISTINCT user_id FROM events),
         c AS (SELECT u.user_id, COALESCE(comp.cid, u.user_id) AS component_id
           FROM users u LEFT JOIN comp ON u.user_id = comp.uid),
         x AS (SELECT c.user_id, c.component_id,
             CAST(uf.total_activities AS DECIMAL(18,0)) AS ta,
             CAST(uf.unique_resources AS DECIMAL(18,0)) AS uq,
             CAST(round(uf.after_hours_ratio * 10000) AS DECIMAL(18,0)) AS ahr4
           FROM c JOIN uf USING (user_id)),
         st AS (SELECT component_id, count(*) AS n,
             sum(ta) AS s_ta, sum(ta*ta) AS ss_ta,
             sum(uq) AS s_uq, sum(uq*uq) AS ss_uq,
             sum(ahr4) AS s_ah, sum(ahr4*ahr4) AS ss_ah
           FROM x GROUP BY 1)
         SELECT x.user_id, x.component_id, CAST(st.n AS BIGINT) AS peer_n,
           round(greatest(
             CASE WHEN (ss_ta::DOUBLE - s_ta::DOUBLE*s_ta::DOUBLE/n::DOUBLE)/n::DOUBLE > 0
               THEN abs(ta::DOUBLE - s_ta::DOUBLE/n::DOUBLE)
                 / sqrt((ss_ta::DOUBLE - s_ta::DOUBLE*s_ta::DOUBLE/n::DOUBLE)/n::DOUBLE) ELSE 0 END,
             CASE WHEN (ss_uq::DOUBLE - s_uq::DOUBLE*s_uq::DOUBLE/n::DOUBLE)/n::DOUBLE > 0
               THEN abs(uq::DOUBLE - s_uq::DOUBLE/n::DOUBLE)
                 / sqrt((ss_uq::DOUBLE - s_uq::DOUBLE*s_uq::DOUBLE/n::DOUBLE)/n::DOUBLE) ELSE 0 END,
             CASE WHEN (ss_ah::DOUBLE - s_ah::DOUBLE*s_ah::DOUBLE/n::DOUBLE)/n::DOUBLE > 0
               THEN abs(ahr4::DOUBLE - s_ah::DOUBLE/n::DOUBLE)
                 / sqrt((ss_ah::DOUBLE - s_ah::DOUBLE*s_ah::DOUBLE/n::DOUBLE)/n::DOUBLE) ELSE 0 END), 4) AS peer_z,
           CAST(CASE WHEN round(greatest(
             CASE WHEN (ss_ta::DOUBLE - s_ta::DOUBLE*s_ta::DOUBLE/n::DOUBLE)/n::DOUBLE > 0
               THEN abs(ta::DOUBLE - s_ta::DOUBLE/n::DOUBLE)
                 / sqrt((ss_ta::DOUBLE - s_ta::DOUBLE*s_ta::DOUBLE/n::DOUBLE)/n::DOUBLE) ELSE 0 END,
             CASE WHEN (ss_uq::DOUBLE - s_uq::DOUBLE*s_uq::DOUBLE/n::DOUBLE)/n::DOUBLE > 0
               THEN abs(uq::DOUBLE - s_uq::DOUBLE/n::DOUBLE)
                 / sqrt((ss_uq::DOUBLE - s_uq::DOUBLE*s_uq::DOUBLE/n::DOUBLE)/n::DOUBLE) ELSE 0 END,
             CASE WHEN (ss_ah::DOUBLE - s_ah::DOUBLE*s_ah::DOUBLE/n::DOUBLE)/n::DOUBLE > 0
               THEN abs(ahr4::DOUBLE - s_ah::DOUBLE/n::DOUBLE)
                 / sqrt((ss_ah::DOUBLE - s_ah::DOUBLE*s_ah::DOUBLE/n::DOUBLE)/n::DOUBLE) ELSE 0 END), 4) > 3.0
             THEN 1 ELSE 0 END AS BIGINT) AS is_peer_outlier
         FROM x JOIN st USING (component_id) ORDER BY x.user_id""",
    // Bounded BFS unrolled to its 3 hop CTEs (no recursion — the depth
    // bound is the point); same capped pair graph as the components
    // oracle; min(hop) resolves multi-path visits exactly as the Spark
    // side's min-agg does.
    "q_blast_radius" ->
      s"""WITH ur AS (SELECT DISTINCT user_id, json_extract_string(props,'$$.k') AS res
           FROM events WHERE json_extract_string(props,'$$.k') IS NOT NULL
             AND user_id IS NOT NULL),
         keep AS (SELECT res FROM ur GROUP BY res HAVING count(*) <= $DegCap),
         pr AS (SELECT a.user_id AS ua, b.user_id AS ub
           FROM ur a JOIN ur b ON a.res = b.res AND a.user_id < b.user_id
           WHERE a.res IN (SELECT res FROM keep)
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT ua AS a, ub AS b FROM pr UNION ALL SELECT ub, ua FROM pr),
         seeds AS (SELECT user_id AS seed FROM events GROUP BY 1
           ORDER BY count(*) DESC, user_id LIMIT 10),
         h0 AS (SELECT seed, seed AS uid, 0 AS hop FROM seeds),
         h1 AS (SELECT DISTINCT h0.seed, e.b AS uid, 1 AS hop
           FROM h0 JOIN e ON h0.uid = e.a),
         h2 AS (SELECT DISTINCT h1.seed, e.b AS uid, 2 AS hop
           FROM h1 JOIN e ON h1.uid = e.a),
         h3 AS (SELECT DISTINCT h2.seed, e.b AS uid, 3 AS hop
           FROM h2 JOIN e ON h2.uid = e.a),
         allh AS (SELECT * FROM h0 UNION ALL SELECT * FROM h1
           UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)
         SELECT seed AS seed_user, uid AS user_id,
           CAST(min(hop) AS BIGINT) AS hop
         FROM allh GROUP BY 1, 2 ORDER BY seed_user, hop, user_id""",
    // 8 identically unrolled peel rounds (the q_blast_radius pattern);
    // peeling is monotone, so the engine side's early exit at the
    // fixpoint can never diverge from the fixed unrolling.
    // Every round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    // each e_i references e_{i-1} three times, so the inlined unrolling
    // is a 3^8-leaf scan tree (observed as an fd-exhaustion abort) —
    // materialization is the oracle-side twin of the engine side's
    // per-round localCheckpoint.
    // ur/keep/pr stay PLAIN (inlined) CTEs: materializing ur would block
    // DuckDB from pushing the `res IN keep` semi-join into the pair
    // self-join, and on a hot-key amplified fixture the unfiltered join
    // is a Sigma-deg² spill (observed: out-of-disk at x10). Only the
    // peel rounds need MATERIALIZED (see below).
    "q_kcore" ->
      s"""WITH ur AS (SELECT DISTINCT user_id, json_extract_string(props,'$$.k') AS res
           FROM events WHERE json_extract_string(props,'$$.k') IS NOT NULL
             AND user_id IS NOT NULL),
         keep AS (SELECT res FROM ur GROUP BY res HAVING count(*) <= $DegCap),
         pr AS (SELECT a.user_id AS ua, b.user_id AS ub
           FROM ur a JOIN ur b ON a.res = b.res AND a.user_id < b.user_id
           WHERE a.res IN (SELECT res FROM keep)
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e0 AS MATERIALIZED (SELECT ua AS a, ub AS b FROM pr UNION ALL SELECT ub, ua FROM pr),
         ${(1 to ThreatOps.KcoreRounds).map { i =>
             val p = i - 1
             s"""k$i AS MATERIALIZED (SELECT a FROM e$p GROUP BY a
                  HAVING count(*) >= ${ThreatOps.KcoreK}),
                e$i AS MATERIALIZED (SELECT e.a, e.b FROM e$p e
                  JOIN k$i x ON e.a = x.a JOIN k$i y ON e.b = y.a)"""
           }.mkString(", ")}
         SELECT a AS user_id, CAST(count(*) AS BIGINT) AS core_degree
         FROM e${ThreatOps.KcoreRounds} GROUP BY a ORDER BY user_id""",
    // bucket = len(bin(degree))−1 ≡ floor(log2) in EXACT integer
    // arithmetic on both engines (no libm log to diverge); -1 marks
    // isolated users (no capped pair edge).
    "q_degree_dist" ->
      s"""WITH ur AS (SELECT DISTINCT user_id, json_extract_string(props,'$$.k') AS res
           FROM events WHERE json_extract_string(props,'$$.k') IS NOT NULL
             AND user_id IS NOT NULL),
         keep AS (SELECT res FROM ur GROUP BY res HAVING count(*) <= $DegCap),
         pr AS (SELECT a.user_id AS ua, b.user_id AS ub
           FROM ur a JOIN ur b ON a.res = b.res AND a.user_id < b.user_id
           WHERE a.res IN (SELECT res FROM keep)
           GROUP BY 1, 2 HAVING count(*) >= 2),
         d AS (SELECT uid, CAST(count(*) AS BIGINT) AS degree FROM
           (SELECT ua AS uid FROM pr UNION ALL SELECT ub FROM pr) GROUP BY 1),
         users AS (SELECT DISTINCT user_id AS uid FROM events),
         f AS (SELECT COALESCE(d.degree, 0) AS degree
           FROM users LEFT JOIN d USING (uid))
         SELECT CAST(CASE WHEN degree = 0 THEN -1
             ELSE length(bin(degree)) - 1 END AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(degree) AS BIGINT) AS min_degree,
           CAST(max(degree) AS BIGINT) AS max_degree
         FROM f GROUP BY 1 ORDER BY bucket""",
    // first-touch frame bounds the pair term exactly like the capped
    // co-access projection; the 1-h window is exact integer microseconds
    // (epoch_us both engines); equal first touches excluded so direction
    // is well-defined.
    "q_handoff_pairs" ->
      s"""WITH ft0 AS (SELECT user_id,
             json_extract_string(props,'$$.k') AS resource,
             min(epoch_us(ts)) AS first_us
           FROM events WHERE json_extract_string(props,'$$.k') IS NOT NULL
           GROUP BY 1, 2),
         keep AS (SELECT resource FROM ft0 GROUP BY 1
           HAVING count(*) <= $DegCap),
         ft AS (SELECT * FROM ft0 WHERE resource IN (SELECT resource FROM keep))
         SELECT a.user_id AS user_from, b.user_id AS user_to,
           count(*) AS n_handoffs
         FROM ft a JOIN ft b ON a.resource = b.resource
           AND a.user_id <> b.user_id
           AND b.first_us > a.first_us
           AND b.first_us - a.first_us <= 3600000000
         GROUP BY 1, 2
         ORDER BY n_handoffs DESC, user_from, user_to LIMIT 50""",
    // Same ft0/keep/ft first-touch chain as q_handoff_pairs; both
    // directions aggregated from the one directed-event join, merged on
    // user_id. All-integer output.
    "q_handoff_balance" ->
      s"""WITH ft0 AS (SELECT user_id,
             json_extract_string(props,'$$.k') AS resource,
             min(epoch_us(ts)) AS first_us
           FROM events WHERE json_extract_string(props,'$$.k') IS NOT NULL
           GROUP BY 1, 2),
         keep AS (SELECT resource FROM ft0 GROUP BY 1
           HAVING count(*) <= $DegCap),
         ft AS (SELECT * FROM ft0 WHERE resource IN (SELECT resource FROM keep)),
         ho AS (SELECT a.user_id AS user_from, b.user_id AS user_to
           FROM ft a JOIN ft b ON a.resource = b.resource
             AND a.user_id <> b.user_id
             AND b.first_us > a.first_us
             AND b.first_us - a.first_us <= 3600000000),
         o AS (SELECT user_from AS user_id, count(*) AS n_out,
             count(DISTINCT user_to) AS n_recipients
           FROM ho GROUP BY 1),
         i AS (SELECT user_to AS user_id, count(*) AS n_in,
             count(DISTINCT user_from) AS n_senders
           FROM ho GROUP BY 1)
         SELECT COALESCE(o.user_id, i.user_id) AS user_id,
           CAST(COALESCE(n_out, 0) AS BIGINT) AS n_out,
           CAST(COALESCE(n_in, 0) AS BIGINT) AS n_in,
           CAST(COALESCE(n_out, 0) - COALESCE(n_in, 0) AS BIGINT) AS net,
           CAST(COALESCE(n_recipients, 0) AS BIGINT) AS n_recipients,
           CAST(COALESCE(n_senders, 0) AS BIGINT) AS n_senders
         FROM o FULL JOIN i ON o.user_id = i.user_id
         ORDER BY user_id""",
    // Same ur/keep/pr/e/reach/comp closure as q_coaccess_components;
    // edges attach to a component by ONE endpoint (both share it by
    // definition); density = 2E·10000 // n(n−1) in pure integers.
    "q_component_density" ->
      s"""WITH RECURSIVE ur AS (SELECT DISTINCT user_id, json_extract_string(props,'$$.k') AS res
           FROM events WHERE json_extract_string(props,'$$.k') IS NOT NULL
             AND user_id IS NOT NULL),
         keep AS (SELECT res FROM ur GROUP BY res HAVING count(*) <= $DegCap),
         pr AS (SELECT a.user_id AS ua, b.user_id AS ub
           FROM ur a JOIN ur b ON a.res = b.res AND a.user_id < b.user_id
           WHERE a.res IN (SELECT res FROM keep)
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT ua AS a, ub AS b FROM pr UNION ALL SELECT ub, ua FROM pr),
         reach(s, d) AS (
           SELECT DISTINCT a AS s, a AS d FROM e
           UNION
           SELECT r.s, e.b FROM reach r JOIN e ON r.d = e.a),
         comp AS (SELECT s AS uid, min(d) AS cid FROM reach GROUP BY s),
         users AS (SELECT DISTINCT user_id FROM events),
         c AS (SELECT u.user_id, COALESCE(comp.cid, u.user_id) AS component_id
           FROM users u LEFT JOIN comp ON u.user_id = comp.uid),
         nc AS (SELECT component_id, count(*) AS n_users FROM c GROUP BY 1),
         ec AS (SELECT comp.cid AS component_id, count(*) AS n_edges
           FROM pr JOIN comp ON pr.ua = comp.uid GROUP BY 1)
         SELECT nc.component_id, CAST(nc.n_users AS BIGINT) AS n_users,
           CAST(COALESCE(ec.n_edges, 0) AS BIGINT) AS n_edges,
           CAST(CASE WHEN nc.n_users >= 2
             THEN (COALESCE(ec.n_edges, 0) * 2 * 10000)
               // (nc.n_users * (nc.n_users - 1))
             ELSE 0 END AS BIGINT) AS density_bp
         FROM nc LEFT JOIN ec USING (component_id)
         ORDER BY component_id""",
    // forward push (user risk → resource mean, exact basis points via
    // integer div) then max-pull back to users; both hops on the
    // DISTINCT (user, resource) grid.
    "q_risk_propagation" ->
      """WITH risk AS (SELECT user_id,
           CAST(sum(CASE WHEN EXTRACT(hour FROM ts) < 8
             OR EXTRACT(hour FROM ts) > 18 THEN 1 ELSE 0 END) AS BIGINT) AS r
           FROM events GROUP BY 1),
         grid AS (SELECT DISTINCT user_id,
             json_extract_string(props,'$.k') AS resource
           FROM events WHERE json_extract_string(props,'$.k') IS NOT NULL),
         rres AS (SELECT resource,
             CAST(sum(r) * 10000 // count(*) AS BIGINT) AS resource_risk_bp
           FROM grid JOIN risk USING (user_id) GROUP BY 1)
         SELECT g.user_id, max(rres.resource_risk_bp) AS exposure_bp,
           CAST(count(*) AS BIGINT) AS n_resources
         FROM grid g JOIN rres USING (resource)
         GROUP BY 1 ORDER BY exposure_bp DESC, g.user_id LIMIT 50""",
    "q_hourly_heatmap" -> {
      val cols = (0 until 24).map(h =>
        f"CAST(sum(CASE WHEN EXTRACT(hour FROM ts) = $h THEN 1 ELSE 0 END) AS BIGINT) AS h_$h%02d")
        .mkString(", ")
      s"SELECT user_id, $cols FROM events GROUP BY user_id ORDER BY user_id"
    },
    "q_funnel" ->
      """WITH su AS (SELECT user_id, min(ts) AS first_signup
           FROM events WHERE event_type = 'signup' GROUP BY 1),
         pu AS (SELECT e.user_id, min(e.ts) AS first_purchase_after
           FROM events e JOIN su USING(user_id)
           WHERE e.event_type = 'purchase' AND e.ts >= su.first_signup
           GROUP BY 1)
         SELECT su.user_id, first_signup, first_purchase_after,
           CASE WHEN first_purchase_after IS NOT NULL
                 AND epoch_us(first_purchase_after) - epoch_us(first_signup)
                     <= 3600000000
             THEN 1 ELSE 0 END::BIGINT AS converted_1h
         FROM su LEFT JOIN pu ON su.user_id = pu.user_id
         ORDER BY su.user_id""",
    "q_session_window" ->
      """WITH s AS (
           SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         b AS (
           -- session_window compares the EXACT event-time gap (micros),
           -- not second-floored timestamps: boundary must match exactly
           SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                  OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
               THEN 1 ELSE 0 END AS new_sess
           FROM s),
         c AS (
           SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
           FROM b),
         g AS (
           SELECT user_id, session_id, count(*) AS n_events,
             epoch_us(max(ts))//1000000 - epoch_us(min(ts))//1000000 AS duration_s
           FROM c GROUP BY user_id, session_id)
         SELECT user_id, count(*) AS n_sessions,
           max(n_events) AS max_session_events,
           CAST(max(duration_s) AS BIGINT) AS max_session_duration_s,
           round(avg(n_events), 4) AS avg_session_events
         FROM g GROUP BY user_id ORDER BY user_id""",
    // Same term universe as q_tfidf/q_vocab (unnest of the shared
    // tokenizer, no extra filtering) so the spectrum reconciles with
    // every other termFreq consumer.
    "q_token_freq_spectrum" ->
      s"""WITH t AS (SELECT doc_id, unnest(t) AS term
            FROM (SELECT doc_id, $tokSql AS t FROM documents)),
          ctf AS (SELECT term, CAST(count(*) AS BIGINT) AS ctf
            FROM t GROUP BY 1),
          tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS tot FROM ctf)
          SELECT CAST(length(CAST(ctf AS VARCHAR)) AS BIGINT) AS freq_digits,
            CAST(count(*) AS BIGINT) AS n_types,
            CAST(sum(ctf) AS BIGINT) AS n_tokens,
            CAST(sum(ctf) * 10000 // tot AS BIGINT) AS token_share_bp
          FROM ctf CROSS JOIN tot GROUP BY 1, tot ORDER BY 1""",
    "q_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest(t) AS term
            FROM (SELECT doc_id, $tokSql AS t FROM documents)),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
          df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n FROM documents),
          sc AS (SELECT doc_id, term,
            round(tf * (ln((n + 1.0)/(df + 1.0)) + 1.0), 4) AS tfidf
            FROM tf JOIN df USING(term) CROSS JOIN n),
          r AS (SELECT doc_id, term, tfidf,
            CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term) AS BIGINT) AS rk FROM sc)
          SELECT doc_id, term, tfidf, rk FROM r WHERE rk <= 5
          ORDER BY doc_id, rk""",
    "q_zscore_anomaly" -> {
      val stats = mlFeatures.map(f =>
        s"avg($f) AS mu_$f, stddev_pop($f) AS sd_$f").mkString(", ")
      val zs = mlFeatures.map(f =>
        s"CASE WHEN sd_$f IS NULL OR sd_$f = 0 THEN 0.0 ELSE ($f - mu_$f)/sd_$f END AS z_$f")
        .mkString(", ")
      s"""WITH uf AS ($userFeaturesSql),
          st AS (SELECT count(*) AS cnt, $stats FROM uf),
          z AS (SELECT user_id, cnt, $zs FROM uf CROSS JOIN st),
          sc AS (SELECT user_id, cnt,
            round(greatest(${mlFeatures.map(f => s"abs(z_$f)").mkString(", ")}), 4) AS anomaly_score,
            round(sqrt(${mlFeatures.map(f => s"z_$f*z_$f").mkString(" + ")}), 4) AS z_l2
          FROM z)
          SELECT user_id, anomaly_score, z_l2,
            CASE WHEN row_number() OVER (ORDER BY anomaly_score DESC, user_id)
                 <= ceil(cnt * 0.1) THEN 1 ELSE 0 END::BIGINT AS is_anomaly
          FROM sc ORDER BY user_id"""
    },
    // Replays the z-score chain, the per-feature quantile chain, and the
    // MAD chain (each verbatim from its own gated oracle), derives the
    // three 0/1 user flags, and reduces them to one sums row — overlap
    // in exact integer basis points, no float anywhere.
    "q_anomaly_overlap" -> {
      val stats = mlFeatures.map(f =>
        s"avg($f) AS mu_$f, stddev_pop($f) AS sd_$f").mkString(", ")
      val zs = mlFeatures.map(f =>
        s"CASE WHEN sd_$f IS NULL OR sd_$f = 0 THEN 0.0 ELSE ($f - mu_$f)/sd_$f END AS z_$f")
        .mkString(", ")
      val qflags = mlFeatures.map(f =>
        s"""CASE WHEN row_number() OVER (ORDER BY $f DESC, user_id)
            <= ceil(count(*) OVER () * 0.1) THEN 1 ELSE 0 END AS flag_$f""")
        .mkString(", ")
      s"""WITH uf AS ($userFeaturesSql),
          st AS (SELECT count(*) AS cnt, $stats FROM uf),
          z AS (SELECT user_id, cnt, $zs FROM uf CROSS JOIN st),
          sc AS (SELECT user_id, cnt,
            round(greatest(${mlFeatures.map(f => s"abs(z_$f)").mkString(", ")}), 4) AS anomaly_score
          FROM z),
          zf AS (SELECT user_id,
            CASE WHEN row_number() OVER (ORDER BY anomaly_score DESC, user_id)
              <= ceil(cnt * 0.1) THEN 1 ELSE 0 END AS fz FROM sc),
          fl AS (SELECT user_id, $qflags FROM uf),
          qf AS (SELECT user_id,
            CASE WHEN ${mlFeatures.map(f => s"flag_$f").mkString(" + ")} >= 2
              THEN 1 ELSE 0 END AS fq FROM fl),
          ev AS (SELECT user_id, event_type, value FROM events
            WHERE value IS NOT NULL AND user_id IS NOT NULL
              AND ts IS NOT NULL AND event_type IS NOT NULL),
          med AS (SELECT event_type AS met, quantile_cont(value, 0.5) AS med
            FROM ev GROUP BY 1),
          dev AS (SELECT user_id, event_type, abs(value - med) AS adev
            FROM ev JOIN med ON event_type = met),
          mad AS (SELECT event_type AS aet, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY 1),
          mf AS (SELECT user_id,
              max(CASE WHEN adev > 3.0 * 1.4826 * mad THEN 1 ELSE 0 END) AS fm
            FROM dev JOIN mad ON event_type = aet GROUP BY user_id),
          j AS (SELECT COALESCE(fz, 0) AS fz, COALESCE(fq, 0) AS fq,
              COALESCE(fm, 0) AS fm
            FROM zf FULL JOIN qf ON zf.user_id = qf.user_id
            FULL JOIN mf ON COALESCE(zf.user_id, qf.user_id) = mf.user_id),
          s AS (SELECT sum(fz) AS nz, sum(fq) AS nq, sum(fm) AS nm,
              sum(fz*fq) AS bzq, sum(fz*fm) AS bzm, sum(fq*fm) AS bqm FROM j)
          SELECT det_a, det_b, CAST(n_a AS BIGINT) AS n_a,
            CAST(n_b AS BIGINT) AS n_b, CAST(n_both AS BIGINT) AS n_both,
            CAST(n_a + n_b - n_both AS BIGINT) AS n_union,
            CAST(CASE WHEN n_a + n_b - n_both = 0 THEN 0
              ELSE (n_both * 10000) // (n_a + n_b - n_both) END AS BIGINT) AS jaccard_bp
          FROM (
            SELECT 'mad' AS det_a, 'quantile' AS det_b, nm AS n_a, nq AS n_b, bqm AS n_both FROM s
            UNION ALL SELECT 'mad', 'zscore', nm, nz, bzm FROM s
            UNION ALL SELECT 'quantile', 'zscore', nq, nz, bzq FROM s)
          ORDER BY det_a, det_b"""
    },
    "q_quantile_outlier" -> {
      val flags = mlFeatures.map(f =>
        s"""CASE WHEN row_number() OVER (ORDER BY $f DESC, user_id)
            <= ceil(count(*) OVER () * 0.1) THEN 1 ELSE 0 END AS flag_$f""")
        .mkString(", ")
      s"""WITH uf AS ($userFeaturesSql),
          fl AS (SELECT user_id, $flags FROM uf)
          SELECT user_id,
            CAST(${mlFeatures.map(f => s"flag_$f").mkString(" + ")} AS BIGINT) AS n_outlier_features,
            CASE WHEN ${mlFeatures.map(f => s"flag_$f").mkString(" + ")} >= 2
              THEN 1 ELSE 0 END::BIGINT AS is_outlier
          FROM fl ORDER BY user_id"""
    },
    "q_roc_auc" ->
      """WITH e AS (
           SELECT vec_id,
             CASE WHEN label = 0 THEN 1 ELSE 0 END AS truth,
             round(sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))), 4) AS l2,
             round(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 4) AS mx
           FROM embeddings),
         s AS (
           SELECT 'l2_norm' AS detector, truth, l2 AS score FROM e
           UNION ALL
           SELECT 'max_abs' AS detector, truth, mx AS score FROM e),
         r AS (
           SELECT detector, truth,
             rank() OVER (PARTITION BY detector ORDER BY score)
               + (count(*) OVER (PARTITION BY detector, score) - 1) / 2.0 AS arank
           FROM s),
         a AS (
           SELECT detector,
             CAST(sum(truth) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(truth) AS BIGINT) AS n_neg,
             sum(CASE WHEN truth = 1 THEN arank ELSE 0 END) AS rpos
           FROM r GROUP BY detector)
         SELECT detector, n_pos, n_neg,
           round((rpos - n_pos*(n_pos+1)/2.0) / (n_pos * n_neg), 4) AS auc
         FROM a ORDER BY detector""",
    "q_roc_points" ->
      """WITH e AS (
           SELECT vec_id,
             CASE WHEN label = 0 THEN 1 ELSE 0 END AS truth,
             round(sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))), 4) AS l2,
             round(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 4) AS mx
           FROM embeddings),
         s AS (
           SELECT 'l2_norm' AS detector, truth, l2 AS score FROM e
           UNION ALL
           SELECT 'max_abs' AS detector, truth, mx AS score FROM e),
         g AS (
           SELECT detector, score,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(truth) AS BIGINT) AS np
           FROM s GROUP BY detector, score),
         c AS (
           SELECT detector, score, n, np,
             sum(n) OVER w AS cum_n, sum(np) OVER w AS cum_np
           FROM g WINDOW w AS (PARTITION BY detector ORDER BY score DESC)),
         t AS (
           SELECT detector, sum(np) AS pos, sum(n) - sum(np) AS neg
           FROM g GROUP BY detector)
         SELECT c.detector,
           round(score, 4) AS threshold,
           CAST(cum_np AS BIGINT) AS tp,
           CAST(cum_n - cum_np AS BIGINT) AS fp,
           round(cum_np * 1.0 / pos, 4) AS tpr,
           round((cum_n - cum_np) * 1.0 / neg, 4) AS fpr
         FROM c JOIN t ON c.detector = t.detector
         ORDER BY c.detector, threshold DESC""",
    // PR curve: identical CTE chain to q_roc_points, projected to
    // precision (tp / threshold-predicted-positives) and recall (≡ tpr).
    "q_pr_points" ->
      """WITH e AS (
           SELECT vec_id,
             CASE WHEN label = 0 THEN 1 ELSE 0 END AS truth,
             round(sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))), 4) AS l2,
             round(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 4) AS mx
           FROM embeddings),
         s AS (
           SELECT 'l2_norm' AS detector, truth, l2 AS score FROM e
           UNION ALL
           SELECT 'max_abs' AS detector, truth, mx AS score FROM e),
         g AS (
           SELECT detector, score,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(truth) AS BIGINT) AS np
           FROM s GROUP BY detector, score),
         c AS (
           SELECT detector, score, n, np,
             sum(n) OVER w AS cum_n, sum(np) OVER w AS cum_np
           FROM g WINDOW w AS (PARTITION BY detector ORDER BY score DESC)),
         t AS (
           SELECT detector, sum(np) AS pos, sum(n) - sum(np) AS neg
           FROM g GROUP BY detector)
         SELECT c.detector,
           round(score, 4) AS threshold,
           CAST(cum_np AS BIGINT) AS tp,
           CAST(cum_n - cum_np AS BIGINT) AS fp,
           round(cum_np * 1.0 / cum_n, 4) AS precision,
           round(cum_np * 1.0 / pos, 4) AS recall
         FROM c JOIN t ON c.detector = t.detector
         ORDER BY c.detector, threshold DESC""",
    // Average precision: AP = sum over descending-threshold tie groups of
    // (np/pos) * (cum_np/cum_n) — sklearn's step interpolation.
    "q_pr_auc" ->
      """WITH e AS (
           SELECT vec_id,
             CASE WHEN label = 0 THEN 1 ELSE 0 END AS truth,
             round(sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))), 4) AS l2,
             round(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 4) AS mx
           FROM embeddings),
         s AS (
           SELECT 'l2_norm' AS detector, truth, l2 AS score FROM e
           UNION ALL
           SELECT 'max_abs' AS detector, truth, mx AS score FROM e),
         g AS (
           SELECT detector, score,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(truth) AS BIGINT) AS np
           FROM s GROUP BY detector, score),
         c AS (
           SELECT detector, score, n, np,
             sum(n) OVER w AS cum_n, sum(np) OVER w AS cum_np
           FROM g WINDOW w AS (PARTITION BY detector ORDER BY score DESC)),
         t AS (SELECT detector, sum(np) AS pos FROM g GROUP BY detector)
         SELECT c.detector,
           round(sum(np * 1.0 / pos * (cum_np * 1.0 / cum_n)), 4) AS avg_precision
         FROM c JOIN t ON c.detector = t.detector
         GROUP BY c.detector ORDER BY c.detector""",
    "q_eval_metrics" ->
      """WITH e AS (
           SELECT vec_id,
             CASE WHEN label = 0 THEN 1 ELSE 0 END AS truth,
             round(sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))), 4) AS score,
             count(*) OVER () AS cnt
           FROM embeddings),
         p AS (
           SELECT vec_id, truth,
             CASE WHEN row_number() OVER (ORDER BY score DESC, vec_id)
                  <= ceil(cnt * 0.1) THEN 1 ELSE 0 END AS pred
           FROM e),
         cm AS (
           SELECT CAST(sum(pred*truth) AS BIGINT) AS tp,
             CAST(sum(pred*(1-truth)) AS BIGINT) AS fp,
             CAST(sum((1-pred)*truth) AS BIGINT) AS fn,
             CAST(sum((1-pred)*(1-truth)) AS BIGINT) AS tn
           FROM p)
         SELECT tp, fp, fn, tn,
           round(tp*1.0/greatest(tp+fp, 1), 4) AS precision,
           round(tp*1.0/greatest(tp+fn, 1), 4) AS recall,
           round(2.0*tp/greatest(2*tp+fp+fn, 1), 4) AS f1
         FROM cm""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice::DECIMAL(12,2)), 2)::DOUBLE AS sum_base_price,
         round(sum(l_extendedprice::DECIMAL(12,2)
           * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS sum_disc_price,
         round(sum(l_extendedprice::DECIMAL(12,2)
           * (1 - l_discount::DECIMAL(4,2))
           * (1 + l_tax::DECIMAL(4,2))), 2)::DOUBLE AS sum_charge,
         round(avg(l_quantity), 4) AS avg_qty,
         round(sum(l_extendedprice::DECIMAL(12,2))::DOUBLE / count(*), 4) AS avg_price,
         round(sum(l_discount::DECIMAL(4,2))::DOUBLE / count(*), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q3_join" ->
      """SELECT l_orderkey, o_orderdate,
         round(sum(l_extendedprice::DECIMAL(12,2)
           * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q5_join" ->
      """SELECT n_name, round(sum(l_extendedprice::DECIMAL(12,2)
           * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS revenue
         FROM customer c
         JOIN orders o ON c_custkey = o_custkey
         JOIN lineitem l ON l_orderkey = o_orderkey
         JOIN supplier s ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation n ON s_nationkey = n_nationkey
         JOIN region r ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q14_promo" ->
      """WITH li AS (SELECT l_partkey, l_shipdate,
           l_extendedprice::DECIMAL(12,2)
             * (1 - l_discount::DECIMAL(4,2)) AS rev
           FROM lineitem)
         SELECT date_trunc('month', l_shipdate) AS ship_month,
           round(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END), 2)::DOUBLE AS promo_rev,
           round(sum(rev), 2)::DOUBLE AS total_rev,
           round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)::DOUBLE
             / sum(rev)::DOUBLE, 4) AS promo_pct
         FROM li JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY 1""",
    "q_window" ->
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             row_number() OVER w AS order_rank,
             round(sum(o_totalprice) OVER w, 2) AS running_spend
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
         WHERE order_rank <= 3 ORDER BY o_custkey, order_rank""",
    "q_sessionize" ->
      """WITH s AS (
           SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         b AS (
           SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                  OR epoch_us(ts)//1000000 - epoch_us(prev_ts)//1000000 > 1800
               THEN 1 ELSE 0 END AS new_sess
           FROM s),
         c AS (
           SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
           FROM b),
         g AS (
           SELECT user_id, session_id, count(*) AS n_events,
             epoch_us(max(ts))//1000000 - epoch_us(min(ts))//1000000 AS duration_s
           FROM c GROUP BY user_id, session_id)
         SELECT user_id, count(*) AS n_sessions,
           max(n_events) AS max_session_events,
           CAST(max(duration_s) AS BIGINT) AS max_session_duration_s,
           round(avg(n_events), 4) AS avg_session_events
         FROM g GROUP BY user_id ORDER BY user_id""",
    "q_windowed_counts" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
         count(*) AS n,
         round(sum(value::DECIMAL(14,2)), 2)::DOUBLE AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_sliding_counts" ->
      """WITH w AS (SELECT event_type, value,
           unnest([time_bucket(INTERVAL '30 minutes', ts),
                   time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE])
             AS window_start
         FROM events)
         SELECT window_start, event_type, count(*) AS n,
           round(sum(value::DECIMAL(14,2)), 2)::DOUBLE AS sum_value
         FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts, p.ts AS last_purchase_ts,
           epoch_us(e.ts)//1000000 - epoch_us(p.ts)//1000000 AS secs_since_purchase
         FROM events e ASOF LEFT JOIN
           (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts >= p.ts
         ORDER BY e.event_id""",
    "q_rollup" ->
      """SELECT user_id, event_type, count(*) AS n,
           round(sum(value::DECIMAL(14,2)), 2)::DOUBLE AS sum_value
         FROM events GROUP BY ROLLUP(user_id, event_type)
         ORDER BY user_id NULLS LAST, event_type NULLS LAST""",
    "q_skew_agg" ->
      """SELECT event_type, count(*) AS n,
           round(sum(value::DECIMAL(14,2)), 2)::DOUBLE AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_interval_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           count(e.ts) AS events_10m,
           CAST(count(CASE WHEN e.event_type = 'error' THEN 1 END) AS BIGINT)
             AS errors_10m
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase') p
         LEFT JOIN events e
           ON e.user_id = p.user_id
          AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 10 MINUTE
         GROUP BY 1, 2, 3 ORDER BY purchase_id""",
    "q_daily_change" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT user_id, strftime(d, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n,
           CAST(n - lag(n, 1) OVER (PARTITION BY user_id ORDER BY d) AS BIGINT)
             AS delta
         FROM daily ORDER BY user_id, day""",
    "q_histogram" ->
      """SELECT event_type,
           CASE WHEN value IS NULL THEN NULL
                WHEN value < 0 THEN 0
                WHEN value >= 100 THEN 11
                ELSE CAST(floor(value / 10.0) AS BIGINT) + 1 END AS bin,
           count(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY event_type, bin""",
    "q_latest_snapshot" ->
      """SELECT user_id, resource, event_id, ts, event_type, round(value, 4) AS value
         FROM (SELECT user_id, json_extract_string(props,'$.k') AS resource,
                 event_id, ts, event_type, value,
                 row_number() OVER (PARTITION BY user_id, json_extract_string(props,'$.k')
                   ORDER BY ts DESC, event_id DESC) AS rn
               FROM events
               WHERE json_extract_string(props,'$.k') IS NOT NULL)
         WHERE rn = 1 ORDER BY user_id, resource""",
    "q_cube" ->
      """SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
           CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total_price
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY status, priority""",
    "q_set_ops" ->
      """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
         SELECT 'click_and_purchase' AS tag, user_id
           FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
         UNION ALL
         SELECT 'click_no_purchase' AS tag, user_id
           FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
         ORDER BY tag, user_id""",
    "q_min_by_group" ->
      """SELECT p_brand, p_partkey, round(p_retailprice, 2) AS price
         FROM (SELECT p_brand, p_partkey, p_retailprice,
                 min(p_retailprice) OVER (PARTITION BY p_brand) AS brand_min
               FROM part)
         WHERE p_retailprice = brand_min
         ORDER BY p_brand, p_partkey""",
    "q_moving_avg" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT user_id, strftime(d, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n,
           round(avg(n) OVER (PARTITION BY user_id ORDER BY d - DATE '1970-01-01'
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
         FROM daily ORDER BY user_id, day""",
    "q_bloom_join" ->
      """SELECT l_returnflag, count(*) AS n_lines,
           round(sum(l_extendedprice::DECIMAL(12,2)
             * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS revenue
         FROM lineitem l
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_orderkey = l.l_orderkey
                         AND o.o_orderpriority = '1-URGENT')
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_full_outer" ->
      """WITH s AS (SELECT user_id, count(*) AS n_signups FROM events
             WHERE event_type = 'signup' GROUP BY 1),
         e AS (SELECT user_id, count(*) AS n_errors FROM events
             WHERE event_type = 'error' GROUP BY 1)
         SELECT coalesce(s.user_id, e.user_id) AS user_id,
           CAST(coalesce(n_signups, 0) AS BIGINT) AS n_signups,
           CAST(coalesce(n_errors, 0) AS BIGINT) AS n_errors,
           CASE WHEN s.user_id IS NULL THEN 'error_only'
                WHEN e.user_id IS NULL THEN 'signup_only'
                ELSE 'both' END AS tag
         FROM s FULL OUTER JOIN e ON s.user_id = e.user_id
         ORDER BY user_id""",
    "q_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS t FROM documents),
         sh AS (SELECT doc_id, ${shingleSqlK(5)} AS sh FROM t),
         hs AS (SELECT doc_id,
             list_transform(sh, x -> $hash32Sql) AS hs
           FROM sh),
         ce AS (SELECT doc_id, unnest(list_distinct(hs)) AS h FROM hs
           WHERE doc_id % 20 <> 0),
         ev AS (SELECT DISTINCT unnest(hs) AS h FROM hs WHERE doc_id % 20 = 0),
         sc AS (SELECT doc_id, count(*) AS n_shared FROM ce
             WHERE h IN (SELECT h FROM ev) GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(sc.n_shared, 0) AS BIGINT) AS n_shared,
           CAST(coalesce(sc.n_shared, 0) > 0 AS BIGINT) AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
         LEFT JOIN sc USING (doc_id) ORDER BY doc_id""",
    "q_vocab" ->
      s"""WITH t AS (SELECT doc_id, unnest(t) AS term
            FROM (SELECT doc_id, $tokSql AS t FROM documents)),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2)
          SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
          FROM tf GROUP BY term ORDER BY df DESC, term LIMIT 50""",
    "q_weighted_sample" ->
      """WITH d AS (
           SELECT doc_id, lang, n_chars,
             (CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                '#graft-wsample-42')), 1, 8)) AS BIGINT) + 1) / 4294967296.0 AS u
           FROM documents WHERE n_chars > 0)
         SELECT doc_id, lang, n_chars,
           round(pow(u, 1.0 / n_chars), 9) AS sample_key
         FROM d ORDER BY sample_key DESC, doc_id LIMIT 20""",
    "q_unigram_surprisal" ->
      s"""WITH t AS (SELECT doc_id, unnest(t) AS term
            FROM (SELECT doc_id, $tokSql AS t FROM documents)),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
          ctf AS (SELECT term AS cterm, CAST(sum(tf) AS BIGINT) AS ctf
                  FROM tf GROUP BY 1),
          norm AS (SELECT CAST(sum(ctf) AS BIGINT) AS t_tokens,
                     CAST(count(*) AS BIGINT) AS v_size FROM ctf)
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
            round(sum(-tf * ln((ctf + 1.0)/(t_tokens + v_size)))/sum(tf), 4)
              AS surprisal
          FROM tf JOIN ctf ON term = cterm CROSS JOIN norm
          GROUP BY doc_id ORDER BY doc_id""",
    "q_cooccurrence" ->
      s"""WITH tok AS (SELECT $tokSql AS t FROM documents),
          ps AS (
            SELECT unnest(list_transform(generate_series(1, len(t)-1),
              i -> {'wa': t[i], 'wb': t[i+1]})) AS p FROM tok
            UNION ALL
            SELECT unnest(list_transform(generate_series(1, len(t)-2),
              i -> {'wa': t[i], 'wb': t[i+2]})) AS p FROM tok),
          pc AS (SELECT p.wa AS wa, p.wb AS wb, count(*) AS c FROM ps GROUP BY 1, 2),
          la AS (SELECT wa, sum(c)::BIGINT AS ca FROM pc GROUP BY 1),
          ra AS (SELECT wb, sum(c)::BIGINT AS cb FROM pc GROUP BY 1),
          t2 AS (SELECT sum(c)::DOUBLE AS total FROM pc)
          SELECT pc.wa, pc.wb, pc.c,
            round(log2(pc.c * total / (ca * cb)), 4) AS pmi
          FROM pc JOIN la USING (wa) JOIN ra USING (wb) CROSS JOIN t2
          ORDER BY pmi DESC, pc.wa, pc.wb LIMIT 100""",
    "q_det_sample" ->
      """SELECT doc_id, lang, n_chars, rk FROM (
           SELECT doc_id, lang, n_chars, CAST(row_number() OVER (
             PARTITION BY lang
             ORDER BY md5(doc_id::VARCHAR || '#graft-sample-42') ASC,
               doc_id ASC) AS BIGINT) AS rk
           FROM documents)
         WHERE rk <= 20 ORDER BY lang, rk""",
    "q_top_per_group" ->
      """WITH br AS (SELECT user_id, json_extract_string(props,'$.k') AS resource,
             count(*) AS n
           FROM events WHERE json_extract_string(props,'$.k') IS NOT NULL
           GROUP BY 1, 2)
         SELECT user_id, rk, resource, n FROM (
           SELECT user_id, resource, n, CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY n DESC, resource ASC) AS BIGINT) AS rk
           FROM br)
         WHERE rk <= 3 ORDER BY user_id, rk""",
    "q_unpivot" ->
      """WITH t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
         u AS (SELECT DISTINCT user_id FROM events),
         c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2)
         SELECT u.user_id, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
         FROM u CROSS JOIN t
         LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
         ORDER BY u.user_id, t.event_type""",
    "q_grouping_sets" ->
      """SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
           CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total_price
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY status, priority""",
    "q_twap" ->
      """WITH e AS (
           SELECT event_type, CAST(ts AS DATE) AS d, value,
             epoch_us(lead(ts) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                ORDER BY ts, event_id)) - epoch_us(ts) AS dt_us
           FROM events WHERE value IS NOT NULL)
         SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           round(sum(value::DECIMAL(14,2) * dt_us)::DOUBLE
             / sum(dt_us)::DOUBLE, 4) AS twap,
           CAST(count(*) AS BIGINT) AS n_intervals
         FROM e WHERE dt_us IS NOT NULL
         GROUP BY event_type, d ORDER BY event_type, day""",
    "q_coaccess_jaccard" ->
      """WITH ur AS (SELECT DISTINCT user_id, json_extract_string(props,'$.k') AS res
           FROM events WHERE json_extract_string(props,'$.k') IS NOT NULL
             AND user_id IS NOT NULL),
         cnt AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM ur GROUP BY 1),
         p AS (SELECT a.user_id AS ua, b.user_id AS ub, CAST(count(*) AS BIGINT) AS sh
               FROM ur a JOIN ur b ON a.res = b.res AND a.user_id < b.user_id
               GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT ua AS user_a, ub AS user_b, sh AS shared_resources,
           round(sh::DOUBLE / (ca.n + cb.n - sh)::DOUBLE, 4) AS jaccard
         FROM p JOIN cnt ca ON ua = ca.user_id JOIN cnt cb ON ub = cb.user_id
         ORDER BY jaccard DESC, user_a, user_b LIMIT 50""",
    "q_burstiness" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c,
                  CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS ss
                FROM daily GROUP BY 1)
         SELECT user_id, c AS n_days,
           s::DOUBLE / c::DOUBLE AS mean_daily,
           (ss::DOUBLE / c::DOUBLE
              - (s::DOUBLE / c::DOUBLE) * (s::DOUBLE / c::DOUBLE))
             / (s::DOUBLE / c::DOUBLE) AS fano,
           (sqrt(ss::DOUBLE / c::DOUBLE
               - (s::DOUBLE / c::DOUBLE) * (s::DOUBLE / c::DOUBLE)) - s::DOUBLE / c::DOUBLE)
             / (sqrt(ss::DOUBLE / c::DOUBLE
               - (s::DOUBLE / c::DOUBLE) * (s::DOUBLE / c::DOUBLE)) + s::DOUBLE / c::DOUBLE)
             AS burstiness
         FROM st WHERE c >= 2 ORDER BY fano DESC, user_id""",
    "q_ohlc" ->
      """WITH e AS (
           SELECT event_type, CAST(ts AS DATE) AS d, value,
             printf('%020d-%012d', epoch_us(ts), event_id) AS k
           FROM events WHERE value IS NOT NULL)
         SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           min_by(value, k) AS open, max(value) AS high, min(value) AS low,
           max_by(value, k) AS close,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value::DECIMAL(14,2))::DOUBLE / count(value), 4) AS mean_value
         FROM e GROUP BY event_type, d
         ORDER BY event_type, day""",
    "q_skyline" ->
      """WITH m AS (
           SELECT c_custkey, c_acctbal, CAST(count(o_orderkey) AS BIGINT) AS n_orders
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY 1, 2)
         SELECT c_custkey, c_acctbal, n_orders FROM m a
         WHERE NOT EXISTS (SELECT 1 FROM m b
           WHERE b.c_acctbal >= a.c_acctbal AND b.n_orders >= a.n_orders
             AND (b.c_acctbal > a.c_acctbal OR b.n_orders > a.n_orders))
         ORDER BY c_custkey""",
    "q_funnel3" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS step_ts FROM events
             WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS step_ts FROM events e
             JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.ts >= s1.step_ts GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS step_ts FROM events e
             JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.ts >= s2.step_ts GROUP BY 1),
         c AS (
           SELECT '1_signup' AS step, CAST(count(*) AS BIGINT) AS users FROM s1
           UNION ALL
           SELECT '2_click', CAST(count(*) AS BIGINT) FROM s2
           UNION ALL
           SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM s3)
         SELECT step, users,
           CASE WHEN coalesce(lag(users) OVER (ORDER BY step), users) > 0
                THEN round(users::DOUBLE /
                  coalesce(lag(users) OVER (ORDER BY step), users)::DOUBLE, 4)
           END AS conv_from_prev
         FROM c ORDER BY step""",
    "q_assoc_rules" ->
      """WITH baskets AS (SELECT DISTINCT user_id, event_type FROM events),
         n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM baskets),
         supp AS (SELECT event_type, CAST(count(*) AS BIGINT) AS s
                  FROM baskets GROUP BY 1),
         pc AS (SELECT a.event_type AS ante, b.event_type AS cons,
                  CAST(count(*) AS BIGINT) AS s_ab
                FROM baskets a JOIN baskets b ON a.user_id = b.user_id
                WHERE a.event_type <> b.event_type GROUP BY 1, 2)
         SELECT ante, cons, s_ab,
           round(s_ab::DOUBLE / n_users::DOUBLE, 4) AS support,
           round(s_ab::DOUBLE / sa.s::DOUBLE, 4) AS confidence,
           round((s_ab::DOUBLE / sa.s::DOUBLE) / (sb.s::DOUBLE / n_users::DOUBLE), 4) AS lift
         FROM pc
         JOIN supp sa ON ante = sa.event_type
         JOIN supp sb ON cons = sb.event_type
         CROSS JOIN n
         ORDER BY lift DESC, ante, cons""",
    "q_autocorr" ->
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
           FROM events GROUP BY 1, 2),
         pairs AS (
           SELECT a.event_type, lag, a.c AS x, b.c AS y
           FROM daily a
           CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
           JOIN daily b ON b.event_type = a.event_type AND b.d = a.d - CAST(lag AS INTEGER)),
         stats AS (
           SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
           FROM pairs GROUP BY 1, 2)
         SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
                 AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
                THEN round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                     / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                          * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 4)
           END AS acf
         FROM stats ORDER BY event_type, lag""",
    "q_mad_outlier" ->
      """WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
         med AS (SELECT event_type AS met, quantile_cont(value, 0.5) AS med
                 FROM ev GROUP BY 1),
         dev AS (SELECT event_type, abs(value - med) AS adev, med
                 FROM ev JOIN med ON event_type = met),
         mad AS (SELECT event_type AS aet, quantile_cont(adev, 0.5) AS mad
                 FROM dev GROUP BY 1)
         SELECT event_type, round(any_value(med), 4) AS median_value,
           round(any_value(mad), 4) AS mad,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN adev > 3.0 * 1.4826 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM dev JOIN mad ON event_type = aet
         GROUP BY event_type ORDER BY event_type""",
    "q_attribution" ->
      """WITH c AS (
           SELECT event_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
           FROM events),
         p AS (SELECT channel FROM c
               WHERE event_type = 'purchase' AND channel IS NOT NULL),
         t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM p)
         SELECT channel, CAST(count(*) AS BIGINT) AS conversions,
           round(count(*)::DOUBLE / any_value(total)::DOUBLE, 4) AS share
         FROM p CROSS JOIN t
         GROUP BY channel ORDER BY conversions DESC, channel""",
    "q_cumulative_users" ->
      """WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS d
             FROM events GROUP BY 1),
         daily AS (SELECT d, CAST(count(*) AS BIGINT) AS new_users
             FROM fs GROUP BY 1)
         SELECT strftime(d, '%Y-%m-%d') AS day, new_users,
           CAST(sum(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
         FROM daily ORDER BY day""",
    "q_pareto_users" ->
      """WITH t AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
             FROM events GROUP BY 1),
         r AS (SELECT user_id, n,
             CAST(row_number() OVER (ORDER BY n DESC, user_id) AS BIGINT) AS rk,
             CAST(sum(n) OVER (ORDER BY n DESC, user_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t),
         g AS (SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_users FROM t),
         th AS (SELECT unnest([5000, 8000, 9000]) AS threshold_bp)
         SELECT CAST(threshold_bp AS BIGINT) AS threshold_bp,
           min(rk) AS users_needed, any_value(n_users) AS n_users,
           round(min(rk)::DOUBLE / any_value(n_users)::DOUBLE, 4) AS user_fraction
         FROM r CROSS JOIN g CROSS JOIN th
         WHERE cum * 10000 >= threshold_bp * total
         GROUP BY 1 ORDER BY threshold_bp""",
    "q_dau_wau" ->
      """WITH grid AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         mx AS (SELECT max(d) AS max_d FROM grid),
         dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM grid GROUP BY 1),
         ex AS (SELECT DISTINCT user_id, d + CAST(off AS INTEGER) AS td
                FROM grid CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS off) o
                CROSS JOIN mx WHERE d + CAST(off AS INTEGER) <= max_d),
         wau AS (SELECT td, CAST(count(*) AS BIGINT) AS wau FROM ex GROUP BY 1)
         SELECT strftime(d, '%Y-%m-%d') AS day, dau, wau,
           round(dau::DOUBLE / wau::DOUBLE, 4) AS stickiness
         FROM dau JOIN wau ON d = td ORDER BY day""",
    "q_weekly_retention" ->
      """WITH fw AS (
           SELECT user_id, date_trunc('week', min(ts)) AS cohort
           FROM events GROUP BY 1),
         cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
                FROM fw GROUP BY 1),
         aw AS (SELECT DISTINCT user_id AS au, date_trunc('week', ts) AS w
                FROM events),
         cells AS (
           SELECT cohort, date_diff('day', cohort, w) // 7 AS week_offset,
             CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
           FROM aw JOIN fw ON au = user_id
           GROUP BY 1, 2)
         SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset, active_users, cohort_size,
           round(active_users::DOUBLE / cohort_size::DOUBLE, 4) AS retention
         FROM cells JOIN cs USING (cohort)
         ORDER BY cohort_week, week_offset""",
    "q_rfm" ->
      """WITH purch AS (
           SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase' AND value IS NOT NULL),
         rfm AS (
           SELECT user_id, max(ts) AS last_ts,
             CAST(count(*) AS BIGINT) AS frequency,
             sum(value::DECIMAL(12,2))::DOUBLE AS monetary
           FROM purch GROUP BY 1),
         scored AS (
           SELECT user_id,
             CAST(date_diff('day', last_ts, (SELECT max(ts) FROM purch)) AS BIGINT) AS recency_days,
             frequency, monetary FROM rfm)
         SELECT user_id, recency_days, frequency, monetary,
           CAST(ntile(5) OVER (ORDER BY recency_days, user_id) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary, user_id) AS BIGINT) AS m_score,
           CAST(ntile(5) OVER (ORDER BY recency_days, user_id) AS VARCHAR)
             || CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS VARCHAR)
             || CAST(ntile(5) OVER (ORDER BY monetary, user_id) AS VARCHAR) AS segment
         FROM scored ORDER BY user_id""",
    "q6_forecast" ->
      """SELECT round(sum(l_extendedprice::DECIMAL(12,2) * l_discount::DECIMAL(4,2)), 2)::DOUBLE AS revenue,
           count(*) AS n_lines
         FROM lineitem
         WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q8_marketshare" ->
      """SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0::DECIMAL(12,2) END)::DOUBLE
                 / sum(volume)::DOUBLE, 4) AS mkt_share
         FROM (SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                 l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2)) AS volume,
                 sn.n_name AS supp_nation
               FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation cn ON c_nationkey = cn.n_nationkey
               JOIN region ON cn.n_regionkey = r_regionkey
               JOIN supplier ON l_suppkey = s_suppkey
               JOIN nation sn ON s_nationkey = sn.n_nationkey
               JOIN part ON l_partkey = p_partkey
               WHERE r_name = 'ASIA' AND p_type = 'PROMO'
                 AND o_orderdate >= '1995-01-01' AND o_orderdate < '1997-01-01')
         GROUP BY o_year ORDER BY o_year""",
    "q9_profit" ->
      """SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
           round(sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))
             - 0.6::DECIMAL(2,1) * p_retailprice::DECIMAL(12,2) * l_quantity::DECIMAL(4,0)), 2)::DOUBLE AS profit
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN part ON l_partkey = p_partkey
         WHERE p_type = 'STANDARD'
         GROUP BY 1, 2 ORDER BY nation, o_year DESC""",
    // data-derived threshold (multiple of the MEAN per-part value) —
    // scale-invariant, so the entry stays non-vacuous on amplified
    // fixtures; mirrors RelationalOps.Q11ThresholdX
    "q11_important" ->
      s"""WITH pv AS (
           SELECT l_partkey,
             sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(4,2))) AS val_dec
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_regionkey = 3
           GROUP BY 1)
         SELECT l_partkey AS p_partkey, round(val_dec, 2)::DOUBLE AS value
         FROM pv
         WHERE val_dec::DOUBLE > (SELECT sum(val_dec)::DOUBLE / count(*)
             * ${RelationalOps.Q11ThresholdX} FROM pv)
         ORDER BY value DESC, p_partkey""",
    "q12_priority" ->
      """SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
           AND l_shipdate > o_orderdate + INTERVAL 90 DAY
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           round(sum(l_extendedprice::DECIMAL(12,2)
             * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
             OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
           AND l_shipdate >= '1995-01-01' AND l_shipdate < '1997-01-01'
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q10_returns" ->
      """SELECT c_custkey, c_name,
           round(sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2)), 2)::DOUBLE AS revenue,
           c_acctbal, n_name
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q13_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
             round(sum(l_extendedprice::DECIMAL(12,2)
               * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         ORDER BY s_suppkey""",
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part ON p_partkey = l_partkey
         WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
           AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q20_promotion" ->
      """WITH promo AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
         li AS (SELECT l_partkey, l_suppkey, l_quantity, l_shipdate
                FROM lineitem JOIN promo ON l_partkey = p_partkey),
         shipped96 AS (SELECT l_suppkey, l_partkey, sum(l_quantity) AS q96
                       FROM li WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
                       GROUP BY 1, 2),
         tot AS (SELECT l_partkey AS pk, sum(l_quantity) AS qall FROM li GROUP BY 1),
         qual AS (SELECT DISTINCT l_suppkey FROM shipped96
                  JOIN tot ON l_partkey = pk WHERE q96 > qall * 0.06)
         SELECT s_suppkey, s_name
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         WHERE n_regionkey = 2 AND s_suppkey IN (SELECT l_suppkey FROM qual)
         ORDER BY s_suppkey""",
    "q21_waiting" ->
      """WITH per_order AS (
           SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 100 DAY
                                 THEN l_suppkey END) AS n_late,
             max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 100 DAY
                      THEN l_suppkey END) AS late_supp
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'
           GROUP BY 1)
         SELECT s_suppkey, s_name, numwait FROM (
           SELECT late_supp, count(*) AS numwait
           FROM per_order WHERE n_supp >= 2 AND n_late = 1
           GROUP BY 1) w
         JOIN supplier ON late_supp = s_suppkey
         ORDER BY numwait DESC, s_suppkey LIMIT 20""",
    "q17_small_qty" ->
      """SELECT round(sum(l_extendedprice::DECIMAL(12,2))::DOUBLE / 7.0, 2) AS avg_yearly
         FROM lineitem
         JOIN part ON p_partkey = l_partkey
         JOIN (SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_thresh
               FROM lineitem
               JOIN part ON p_partkey = l_partkey
               WHERE p_brand = 'Brand#12'
               GROUP BY 1) t ON t.pk = l_partkey
         WHERE p_brand = 'Brand#12' AND l_quantity < qty_thresh""",
    "q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(total_qty, 2) AS total_qty
         FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
               FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300) big
         JOIN orders ON o_orderkey = big.l_orderkey
         JOIN customer ON c_custkey = o_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q19_disjunct" ->
      """SELECT round(sum(l_extendedprice::DECIMAL(12,2)
             * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS revenue,
           count(*) AS n_lines
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 25)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 35)""",
    "q22_dormant" ->
      """SELECT c_nationkey, count(*) AS numcust,
           round(sum(c_acctbal::DECIMAL(14,2)), 2)::DOUBLE AS totacctbal
         FROM customer
         WHERE c_acctbal > (SELECT sum(c_acctbal::DECIMAL(14,2))::DOUBLE / count(*)
                            FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderdate >= '2000-01-01')
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q_event_transitions" ->
      """WITH b AS (SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS from_type, event_type AS to_type FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n FROM b
               WHERE from_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           round(n / sum(n) OVER (PARTITION BY from_type), 4) AS prob
         FROM c ORDER BY from_type, to_type""",
    "q_rare_access_pmi" ->
      """WITH e AS (SELECT user_id, json_extract_string(props,'$.k') AS resource
             FROM events WHERE json_extract_string(props,'$.k') IS NOT NULL),
         p AS (SELECT user_id, resource, count(*) AS n_ur FROM e GROUP BY 1, 2),
         u AS (SELECT user_id, count(*) AS n_u FROM e GROUP BY 1),
         r AS (SELECT resource, count(*) AS n_r FROM e GROUP BY 1),
         t AS (SELECT count(*)::DOUBLE AS total FROM e)
         SELECT p.user_id, p.resource, n_ur, n_u, n_r,
           round(log2(n_ur * total / (n_u * n_r)), 4) AS pmi
         FROM p JOIN u USING (user_id) JOIN r USING (resource) CROSS JOIN t
         ORDER BY pmi ASC, user_id, resource LIMIT 100""",
    "q_ewma_drift" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT a.user_id, strftime(a.d, '%Y-%m-%d') AS day,
           CAST(a.n AS BIGINT) AS n,
           sum(b.n * pow(0.5, (a.d - b.d) - 1))
             / sum(pow(0.5, (a.d - b.d) - 1)) AS ewma7,
           a.n / (sum(b.n * pow(0.5, (a.d - b.d) - 1))
             / sum(pow(0.5, (a.d - b.d) - 1))) AS drift
         FROM daily a LEFT JOIN daily b
           ON b.user_id = a.user_id AND b.d >= a.d - 7 AND b.d < a.d
         GROUP BY a.user_id, a.d, a.n
         ORDER BY a.user_id, day""",
    "q_rank_fns" ->
      """SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id,
           round(value, 4) AS value, CAST(rnk AS BIGINT) AS rnk,
           CAST(dense_rnk AS BIGINT) AS dense_rnk,
           round(pct_rank, 4) AS pct_rank, round(cume, 4) AS cume
         FROM (
           SELECT event_type, event_id, value,
             rank() OVER w AS rnk, dense_rank() OVER w AS dense_rnk,
             percent_rank() OVER w AS pct_rank, cume_dist() OVER w AS cume,
             row_number() OVER w AS rn
           FROM events
           WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id ASC))
         WHERE rn <= 5 ORDER BY event_type, rn""",
    "q_purchase_gaps" ->
      """WITH p AS (
           SELECT user_id, ts, event_id,
             floor(epoch(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT
               - floor(epoch(ts))::BIGINT AS gap_s
           FROM events WHERE event_type = 'purchase')
         SELECT user_id, count(*) AS n_purchases,
           count(gap_s) AS n_gaps,
           round(avg(gap_s), 4) AS avg_gap_s,
           max(gap_s) AS max_gap_s, min(gap_s) AS min_gap_s
         FROM p GROUP BY user_id ORDER BY user_id""",
    "q_dq_checks" ->
      """SELECT * FROM (
         SELECT 'events_rowcount' AS check_name,
           round(count(*)::DOUBLE, 4) AS metric,
           (count(*) > 0)::BIGINT AS passed FROM events
         UNION ALL
         SELECT 'events_user_null_rate',
           round(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 4),
           (sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) <= 0.01)::BIGINT
           FROM events
         UNION ALL
         SELECT 'events_event_id_dups',
           round((count(*) - count(DISTINCT event_id))::DOUBLE, 4),
           (count(*) - count(DISTINCT event_id) = 0)::BIGINT FROM events
         UNION ALL
         SELECT 'events_value_negative',
           round(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)::DOUBLE, 4),
           (sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) = 0)::BIGINT FROM events
         UNION ALL
         SELECT 'events_span_days',
           round((max(ts::DATE) - min(ts::DATE))::DOUBLE, 4),
           (max(ts::DATE) - min(ts::DATE) >= 7)::BIGINT FROM events
         UNION ALL
         SELECT 'lineitem_orderkey_ri',
           round(count(*)::DOUBLE, 4), (count(*) = 0)::BIGINT
           FROM (SELECT DISTINCT l_orderkey FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
         UNION ALL
         SELECT 'orders_custkey_ri',
           round(count(*)::DOUBLE, 4), (count(*) = 0)::BIGINT
           FROM (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)))
         ORDER BY check_name""",
    "q_time_rollup" ->
      """SELECT
           CASE WHEN GROUPING(h) = 0 THEN 'hour'
                WHEN GROUPING(d) = 0 THEN 'day'
                WHEN GROUPING(w) = 0 THEN 'week' ELSE 'all' END AS grain,
           coalesce(
             CASE WHEN GROUPING(h) = 0 THEN strftime(h, '%Y-%m-%d %H:00') END,
             CASE WHEN GROUPING(d) = 0 THEN strftime(d, '%Y-%m-%d') END,
             CASE WHEN GROUPING(w) = 0 THEN strftime(w, '%Y-%m-%d') END,
             'ALL') AS bucket,
           count(*) AS n,
           round(sum(value::DECIMAL(14,2)), 2)::DOUBLE AS sum_value
         FROM (SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
                      date_trunc('week', ts) AS w, value
               FROM events)
         GROUP BY GROUPING SETS ((h), (d), (w), ())
         ORDER BY grain, bucket""",
    "q_ntile" ->
      """WITH d AS (SELECT event_type, value,
           ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
           FROM events)
         SELECT event_type, CAST(decile AS BIGINT) AS decile, count(*) AS n,
           round(min(value), 4) AS min_v, round(max(value), 4) AS max_v,
           round(sum(value::DECIMAL(14,2))::DOUBLE / count(value), 4) AS avg_v
         FROM d GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_gap_fill" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
           FROM events GROUP BY 1, 2),
         spine AS (SELECT user_id,
             unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
           FROM (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1))
         SELECT s.user_id, strftime(s.d, '%Y-%m-%d') AS day,
           coalesce(dd.n, 0) AS n,
           CASE WHEN dd.n IS NULL THEN 1 ELSE 0 END::BIGINT AS gap,
           sum(coalesce(dd.n, 0)) OVER (PARTITION BY s.user_id ORDER BY s.d)::BIGINT
             AS running_total
         FROM spine s LEFT JOIN daily dd ON s.user_id = dd.user_id AND s.d = dd.d
         ORDER BY s.user_id, day""",
    // Mirrors the integer-exact argmax: |c·S_k − k·s| is a pure BIGINT
    // expression on both engines, so the changepoint day can't hinge on
    // windowed float summation order (the sf0.1 gate caught a user whose
    // cusum returned EXACTLY to its peak — a mathematical tie only
    // integer arithmetic preserves on both engines). peak_cusum is one
    // identically-shaped float expression over the integer inputs.
    "q_cusum_drift" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         stats AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS ss
           FROM daily GROUP BY 1),
         run AS (SELECT user_id, d,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS BIGINT) AS k,
             CAST(sum(n) OVER (PARTITION BY user_id ORDER BY d) AS BIGINT) AS rs
           FROM daily),
         pk AS (SELECT r.user_id, r.d, st.c, st.s, st.ss,
             abs(st.c * r.rs - r.k * st.s) AS num,
             row_number() OVER (PARTITION BY r.user_id
               ORDER BY abs(st.c * r.rs - r.k * st.s) DESC, r.d) AS rk
           FROM run r JOIN stats st USING(user_id))
         SELECT user_id, strftime(d, '%Y-%m-%d') AS changepoint_day,
           CASE WHEN ss::DOUBLE / c::DOUBLE
               - (s::DOUBLE / c::DOUBLE) * (s::DOUBLE / c::DOUBLE) > 0
             THEN num::DOUBLE / (c::DOUBLE * sqrt(ss::DOUBLE / c::DOUBLE
               - (s::DOUBLE / c::DOUBLE) * (s::DOUBLE / c::DOUBLE)))
             ELSE 0.0 END AS peak_cusum,
           c AS n_days
         FROM pk WHERE rk = 1 ORDER BY user_id""",
    "q_seasonal_baseline" ->
      """WITH cells AS (SELECT user_id, isodow(ts)-1 AS day_of_week,
             EXTRACT(hour FROM ts) AS hour_of_day, count(*) AS n
           FROM events GROUP BY 1, 2, 3),
         tot AS (SELECT user_id, sum(n) AS total FROM cells GROUP BY 1)
         SELECT c.user_id, day_of_week, hour_of_day, CAST(n AS BIGINT) AS n,
           round(total / 168.0, 4) AS expected,
           round((n - total / 168.0) / sqrt(total / 168.0), 4) AS z
         FROM cells c JOIN tot t ON c.user_id = t.user_id
         ORDER BY z DESC, c.user_id, day_of_week, hour_of_day LIMIT 50""",
    "q_pagerank" ->
      """WITH ur AS (SELECT DISTINCT 'u' || user_id::VARCHAR AS u,
             'r' || json_extract_string(props,'$.k') AS r
           FROM events
           WHERE user_id IS NOT NULL AND json_extract_string(props,'$.k') IS NOT NULL),
         e AS (SELECT u AS src, r AS dst FROM ur UNION ALL SELECT r, u FROM ur),
         deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
         nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
         r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
         r1 AS (SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * sum(r0.rank / deg.d) AS rank
           FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src GROUP BY 1),
         r2 AS (SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * sum(r1.rank / deg.d) AS rank
           FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src GROUP BY 1),
         r3 AS (SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * sum(r2.rank / deg.d) AS rank
           FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src GROUP BY 1)
         SELECT node,
           CASE WHEN node LIKE 'u%' THEN 'user' ELSE 'resource' END AS kind,
           round(rank * 1000, 4) AS rank_x1000
         FROM r3 ORDER BY node""",
    // The kNN sparsifier reads the CAPPED co-access projection (deg ≤
    // CoaccessMaxDegree, same keep-filter as q_coaccess_capped) — the
    // oracle applies the identical degree filter so the entry stays
    // hash-checked with the production cap active.
    "q_knn_triangles" ->
      s"""WITH ur AS (SELECT DISTINCT user_id, json_extract_string(props,'$$.k') AS res
           FROM events
           WHERE json_extract_string(props,'$$.k') IS NOT NULL AND user_id IS NOT NULL),
         keep AS (SELECT res FROM ur GROUP BY res HAVING count(*) <= $DegCap),
         pc AS (SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS c
           FROM ur a JOIN ur b ON a.res = b.res AND a.user_id < b.user_id
           WHERE a.res IN (SELECT res FROM keep)
           GROUP BY 1, 2 HAVING count(*) >= 2),
         dirp AS (SELECT ua AS u, ub AS v, c FROM pc
           UNION ALL SELECT ub, ua, c FROM pc),
         knn AS (SELECT u, v FROM (
             SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY c DESC, v) AS rk
             FROM dirp) WHERE rk <= 3),
         und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM knn),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM und e1
           JOIN und e2 ON e1.b = e2.a
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
         SELECT user_id, count(*) AS n_triangles FROM (
           SELECT x AS user_id FROM tri
           UNION ALL SELECT y FROM tri
           UNION ALL SELECT z FROM tri)
         GROUP BY 1 ORDER BY n_triangles DESC, user_id""",
    // Repeats the ur/keep/pc/dirp/knn/und chain of q_knn_triangles
    // (a copy); lcc is pure integer arithmetic (2·T·10000 // deg(deg−1))
    // so the hash has no float to drift on.
    "q_clustering_coeff" ->
      s"""WITH ur AS (SELECT DISTINCT user_id, json_extract_string(props,'$$.k') AS res
           FROM events
           WHERE json_extract_string(props,'$$.k') IS NOT NULL AND user_id IS NOT NULL),
         keep AS (SELECT res FROM ur GROUP BY res HAVING count(*) <= $DegCap),
         pc AS (SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS c
           FROM ur a JOIN ur b ON a.res = b.res AND a.user_id < b.user_id
           WHERE a.res IN (SELECT res FROM keep)
           GROUP BY 1, 2 HAVING count(*) >= 2),
         dirp AS (SELECT ua AS u, ub AS v, c FROM pc
           UNION ALL SELECT ub, ua, c FROM pc),
         knn AS (SELECT u, v FROM (
             SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY c DESC, v) AS rk
             FROM dirp) WHERE rk <= 3),
         und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM knn),
         dire AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
         deg AS (SELECT a AS user_id, count(*) AS degree FROM dire GROUP BY 1),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM und e1
           JOIN und e2 ON e1.b = e2.a
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         tc AS (SELECT user_id, count(*) AS n_triangles FROM (
             SELECT x AS user_id FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
           GROUP BY 1)
         SELECT d.user_id, d.degree,
           CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN d.degree >= 2
             THEN (COALESCE(tc.n_triangles, 0) * 2 * 10000)
               // (d.degree * (d.degree - 1))
             ELSE 0 END AS BIGINT) AS lcc_bp
         FROM deg d LEFT JOIN tc USING (user_id) ORDER BY user_id""",
    "q_redact" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           regexp_replace(regexp_replace(regexp_replace(text,
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
             AS redacted
         FROM documents ORDER BY doc_id""",
    "q_exists_agg" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_percentiles" ->
      """SELECT event_type, count(*) AS n,
           round(min(value), 4) AS min_v,
           round(sum(value::DECIMAL(14,2))::DOUBLE / count(value), 4) AS avg_v,
           round(max(value), 4) AS max_v,
           round(quantile_cont(value, 0.25), 4) AS p25,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.75), 4) AS p75
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_profile" ->
      """SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id_nulls,
           count(DISTINCT user_id) AS user_id_distinct,
           min(user_id) AS user_id_min, max(user_id) AS user_id_max,
           CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_type_nulls,
           count(DISTINCT event_type) AS event_type_distinct,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
           count(DISTINCT value) AS value_distinct,
           round(min(value), 4) AS value_min, round(max(value), 4) AS value_max,
           min(ts) AS ts_min, max(ts) AS ts_max,
           CAST(sum(CASE WHEN json_extract_string(props,'$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS resource_nulls,
           count(DISTINCT json_extract_string(props,'$.k')) AS resource_distinct
         FROM events""",
    "q_pivot" ->
      """SELECT user_id,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id,
         count(*) AS dup_count
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q_dedup_minhash" ->
      s"""WITH s AS ($hashedShinglesSql),
          mh AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
            ${(0 until 12).map(minhashSql).mkString(", ")}
          FROM s)
          SELECT doc_id, n_shingles,
            ${(0 until 12).map(j => s"mh_$j").mkString(", ")},
            ${(0 until 4).map(b => s"md5(${bandSql(b)}) AS band_$b").mkString(", ")}
          FROM mh ORDER BY doc_id""",
    "q_dedup_minhash_pairs" -> minhashPairsSql,
    // Incremental dedup = batch MinHash over the FULL corpus restricted
    // to pairs with a new-shard endpoint (doc_id % mod = 0): the engine
    // side probes a persisted signature index instead of re-shingling
    // history, and equivalence to this unioned-frame batch run is the
    // operator's correctness claim. The s/bk/cand fragment of
    // minhashPairsSql (same permutations, same first-K band cap — the cap
    // is applied over the union on the engine side too, so capped buckets
    // stay hash-checked); the shard restriction and pair_kind are pure
    // integer arithmetic on doc_id.
    "q_dedup_incremental" ->
      s"""WITH $minhashCandCtes
          SELECT doc_a, doc_b,
            CASE WHEN doc_a % ${DedupOps.IncrementalShardMod} = 0
                  AND doc_b % ${DedupOps.IncrementalShardMod} = 0
                 THEN 'intra' ELSE 'cross' END AS pair_kind,
            $minhashJaccardSql AS jaccard
          $minhashVerifiedSql
          WHERE doc_a % ${DedupOps.IncrementalShardMod} = 0
             OR doc_b % ${DedupOps.IncrementalShardMod} = 0
          ORDER BY jaccard DESC, doc_a, doc_b""",
    // Reads minhashPairsSql as a CTE; the sweep is two integer rollups
    // per threshold literal (dyadic-safe doubles, so both engines cut
    // the identical hash-verified jaccard set).
    "q_dedup_threshold_sweep" ->
      s"""WITH pr AS ($minhashPairsSql),
          th(bp, t) AS (SELECT * FROM (VALUES (5000, 0.5), (6000, 0.6),
            (7000, 0.7), (8000, 0.8), (9000, 0.9)) v(bp, t)),
          jb AS (SELECT bp, doc_a, doc_b FROM pr CROSS JOIN th
            WHERE jaccard >= t),
          np AS (SELECT bp, CAST(count(*) AS BIGINT) AS n_pairs
            FROM jb GROUP BY 1),
          nd AS (SELECT bp, CAST(count(DISTINCT d) AS BIGINT) AS n_docs_affected
            FROM (SELECT bp, doc_a AS d FROM jb
                  UNION ALL SELECT bp, doc_b FROM jb) GROUP BY 1)
          SELECT CAST(np.bp AS BIGINT) AS threshold_bp, n_pairs,
            n_docs_affected
          FROM np JOIN nd ON np.bp = nd.bp ORDER BY 1""",
    // The verified pairs of minhashPairsSql (its s/bk/cand fragment)
    // joined to both signatures, as on the engine side; estimate =
    // integer agree-count k, decile = 10k//12 in pure integer arithmetic,
    // and each mean is halfUp4Sql of an exact integer numerator (Sigma-k;
    // 10^4 x Sigma of the round-4'd DECIMAL(14,4) exact and |est-exact|).
    "q_minhash_calibration" ->
      s"""WITH $minhashCandCtes,
          p AS (SELECT
            CAST(${(0 until 12).map(j =>
              s"(CASE WHEN sa.mh_$j = sb.mh_$j THEN 1 ELSE 0 END)").mkString(" + ")}
              AS BIGINT) AS n_agree,
            CAST($minhashJaccardSql AS DECIMAL(14,4)) AS exact4
          $minhashVerifiedSql)
          SELECT CAST(n_agree * 10 // 12 AS BIGINT) AS decile,
            count(*) AS n_pairs,
            ${halfUp4Sql("10000 * sum(n_agree)", "12 * count(*)")} AS mean_est,
            ${halfUp4Sql("sum(CAST(exact4 * 10000 AS BIGINT))", "count(*)")}
              AS mean_exact,
            ${halfUp4Sql("sum(CAST(abs(CAST(round(n_agree / 12.0, 4) AS DECIMAL(14,4))" +
              " - exact4) * 10000 AS BIGINT))", "count(*)")} AS mae
          FROM p GROUP BY 1 ORDER BY decile""",
    "q_dedup_simhash" ->
      s"""WITH fp AS ($simhashSql)
          SELECT doc_id, simhash, simhash >> 44 AS bucket16
          FROM fp ORDER BY doc_id""",
    "q_dedup_simhash_pairs" ->
      s"""WITH fp AS ($simhashSql),
          $simhashPairsSql
          SELECT doc_a, doc_b, hamming FROM sp
          ORDER BY hamming, doc_a, doc_b""",
    "q_edit_distance" ->
      s"""WITH fp AS ($simhashSql),
          $simhashPairsSql
          SELECT doc_a, doc_b, hamming,
            levenshtein(da.text, db.text)::BIGINT AS edit_distance,
            round(1.0 - levenshtein(da.text, db.text)::DOUBLE
              / greatest(len(da.text), len(db.text)), 4) AS similarity
          FROM sp
          JOIN documents da ON da.doc_id = doc_a
          JOIN documents db ON db.doc_id = doc_b
          ORDER BY edit_distance, doc_a, doc_b LIMIT 50""",
    // Stage predicates reuse q_dedup_exact's md5-min grid and
    // q_dedup_clusters' component CTE; everything emitted is an exact
    // integer (retention in basis points via integer division).
    "q_dedup_funnel" ->
      s"""WITH RECURSIVE pr AS ($minhashPairsSql),
          $clusterCompSql,
          ex AS (SELECT doc_id, source,
              CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text))
                THEN 1 ELSE 0 END AS ex_s
            FROM documents),
          cl AS (SELECT d.doc_id,
              CASE WHEN d.doc_id = COALESCE(c.cluster_id, d.doc_id)
                THEN 1 ELSE 0 END AS cl_s
            FROM documents d LEFT JOIN comp c USING (doc_id))
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(ex_s) AS BIGINT) AS n_exact_survivors,
            CAST(sum(ex_s * cl_s) AS BIGINT) AS n_final_survivors,
            CAST(count(*) - sum(ex_s) AS BIGINT) AS removed_exact,
            CAST(sum(ex_s) - sum(ex_s * cl_s) AS BIGINT) AS removed_near,
            CAST((sum(ex_s * cl_s) * 10000) // count(*) AS BIGINT) AS retention_bp
          FROM ex JOIN cl USING (doc_id)
          GROUP BY source ORDER BY source""",
    // Per-doc profile over the same pr/comp chain as the cluster oracle
    // plus the md5 window; max_jaccard is the max of values
    // q_dedup_minhash_pairs already emits hash-identically.
    "q_doc_dup_profile" ->
      s"""WITH RECURSIVE pr AS ($minhashPairsSql),
          $clusterCompSql,
          g AS (SELECT doc_id, source,
              count(*) OVER (PARTITION BY md5(text)) - 1 AS n_exact_dups
            FROM documents),
          t AS (SELECT doc_a AS doc_id, jaccard FROM pr
            UNION ALL SELECT doc_b, jaccard FROM pr),
          np AS (SELECT doc_id, count(*) AS n_near_pairs,
              max(jaccard) AS max_jaccard
            FROM t GROUP BY 1),
          cs AS (SELECT cluster_id, count(*) AS sz FROM comp GROUP BY 1)
          SELECT g.doc_id, g.source,
            CAST(g.n_exact_dups AS BIGINT) AS n_exact_dups,
            CAST(COALESCE(np.n_near_pairs, 0) AS BIGINT) AS n_near_pairs,
            COALESCE(np.max_jaccard, 0.0) AS max_jaccard,
            CAST(COALESCE(cs.sz, 1) AS BIGINT) AS cluster_size
          FROM g LEFT JOIN np USING (doc_id)
          LEFT JOIN comp ON g.doc_id = comp.doc_id
          LEFT JOIN cs ON COALESCE(comp.cluster_id, g.doc_id) = cs.cluster_id
          ORDER BY g.doc_id""",
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE pr AS ($minhashPairsSql),
          $clusterCompSql
          SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
            CAST(CASE WHEN d.doc_id = COALESCE(c.cluster_id, d.doc_id)
              THEN 1 ELSE 0 END AS BIGINT) AS is_survivor
          FROM documents d LEFT JOIN comp c USING (doc_id)
          ORDER BY d.doc_id""",
    "q_ngram_jaccard" ->
      s"""WITH s AS (SELECT doc_id, lang, n_chars, list_distinct(hs) AS hj
            FROM ($hashedShinglesSql))
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            round(len(list_intersect(a.hj, b.hj))*1.0
              / len(list_distinct(list_concat(a.hj, b.hj))), 4) AS jaccard
          FROM s a JOIN s b
            ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
          ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""",
    "q_containment" ->
      s"""WITH h AS (SELECT doc_id, list_distinct(hs) AS h
            FROM ($hashedShinglesSql) WHERE len(hs) > 0),
          anch AS (SELECT doc_id, unnest(list_sort(h)[1:${DedupOps.ContainmentAnchors}]) AS a FROM h),
          post AS (SELECT doc_id, unnest(h) AS hh FROM h),
          cand AS (SELECT least(x.doc_id, y.doc_id) AS doc_a,
              greatest(x.doc_id, y.doc_id) AS doc_b
            FROM anch x JOIN post y ON x.a = y.hh AND x.doc_id <> y.doc_id
            GROUP BY 1, 2),
          ver AS (SELECT doc_a, doc_b,
              round(len(list_intersect(ha.h, hb.h))::DOUBLE / len(ha.h), 4) AS c_ab,
              round(len(list_intersect(ha.h, hb.h))::DOUBLE / len(hb.h), 4) AS c_ba
            FROM cand JOIN h ha ON ha.doc_id = doc_a JOIN h hb ON hb.doc_id = doc_b)
          SELECT doc_a, doc_b, c_ab, c_ba FROM ver
          WHERE greatest(c_ab, c_ba) >= ${DedupOps.ContainmentMin}
          ORDER BY greatest(c_ab, c_ba) DESC, doc_a, doc_b""",
    // Corpus shingle df = number of documents whose DISTINCT shingle set
    // contains the shingle (the engine reaches the same number through
    // clone groups weighted by member count); digit buckets + integer
    // division keep the profile hash-exact.
    "q_shingle_df_profile" ->
      s"""WITH h AS (SELECT doc_id, list_distinct(hs) AS h
            FROM ($hashedShinglesSql) WHERE len(hs) > 0),
          post AS (SELECT doc_id, unnest(h) AS hh FROM h),
          df AS (SELECT hh, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1)
          SELECT CAST(length(CAST(df AS VARCHAR)) AS BIGINT) AS df_digits,
            CAST(count(*) AS BIGINT) AS n_shingles,
            CAST(sum(df) AS BIGINT) AS n_postings,
            CAST(sum(least(df, ${DedupOps.ContainmentDfCap})) AS BIGINT)
              AS capped_postings,
            CAST((sum(df) - sum(least(df, ${DedupOps.ContainmentDfCap})))
              * 10000 // sum(df) AS BIGINT) AS truncated_bp
          FROM df GROUP BY 1 ORDER BY 1""",
    "q_embed_stats" ->
      s"""WITH n AS ($embNormSql)
          SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
            count(DISTINCT len(v)) AS n_dims,
            round(avg(nv), 4) AS avg_norm,
            round(min(nv), 4) AS min_norm,
            round(max(nv), 4) AS max_norm
          FROM n GROUP BY 1 ORDER BY 1""",
    "q_embed_quantize" ->
      """WITH d AS (
           SELECT vec_id, i, embedding[i]::DOUBLE AS v
           FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
         ps AS (SELECT i, min(v) AS mn, max(v) AS mx FROM d GROUP BY i),
         st AS (SELECT list(mn ORDER BY i) AS mn_l, list(mx ORDER BY i) AS mx_l
           FROM ps),
         e AS (
           SELECT vec_id, len(embedding) AS n_dims,
             list_transform(generate_series(1, len(embedding)), i ->
               CASE WHEN (mx_l[i] - mn_l[i]) > 0 THEN
                 power(embedding[i]::DOUBLE - (mn_l[i]
                   + least(greatest(floor((embedding[i]::DOUBLE - mn_l[i])
                       / (mx_l[i] - mn_l[i]) * 255 + 0.5), 0), 255)
                     / 255.0 * (mx_l[i] - mn_l[i])), 2)
               ELSE power(embedding[i]::DOUBLE - mn_l[i], 2) END) AS errs
           FROM embeddings, st)
         SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims,
           round(sqrt(list_sum(errs) / n_dims), 4) AS rmse,
           round(sqrt(list_max(errs)), 4) AS max_err
         FROM e ORDER BY vec_id""",
    // nc = per-label population cap (first-K by vec_id), the identical
    // clamp SimilarityOps.NeardupLabelCap applies on the engine side
    "q_embed_neardup" ->
      s"""WITH n AS ($embNormSql),
          nc AS (SELECT * FROM n
            QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id)
              <= ${SimilarityOps.NeardupLabelCap})
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            CAST(a.label AS BIGINT) AS label,
            round(list_sum(list_transform(generate_series(1, len(a.v)),
              i -> a.v[i]*b.v[i])) / (a.nv*b.nv), 4) AS cos
          FROM nc a JOIN nc b ON a.label = b.label AND a.vec_id < b.vec_id
          ORDER BY cos DESC, vec_a, vec_b LIMIT 20""",
    "q_ann_brute" ->
      s"""WITH n AS ($embNormSql),
          p AS (SELECT vec_id AS probe_id, v AS pv, nv AS pnv FROM n WHERE vec_id < 5),
          sc AS (SELECT probe_id, vec_id,
            round(list_sum(list_transform(generate_series(1, len(pv)),
              i -> pv[i]*v[i])) / (pnv*nv), 4) AS cos
            FROM n CROSS JOIN p WHERE vec_id != probe_id),
          r AS (SELECT probe_id, vec_id, cos,
            CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id)
              AS BIGINT) AS rank FROM sc)
          SELECT probe_id, vec_id, cos, rank FROM r WHERE rank <= 10
          ORDER BY probe_id, rank""",
    "q_lang_id" -> s"""$langIdSql ORDER BY doc_id""",
    "q_quality_score" ->
      s"""WITH s AS (SELECT doc_id, text, $tokSql AS t FROM documents),
          m AS (SELECT doc_id,
            CAST(length(text) AS BIGINT) AS len_chars,
            CAST(len(t) AS BIGINT) AS n_tokens,
            (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))*1.0
              / greatest(length(text), 1) AS punct_ratio,
            len(list_filter(t, x -> x IN ('the','a','of','and','to','is')))*1.0
              / greatest(len(t), 1) AS stop_ratio,
            list_sum(list_transform(t, x -> length(x)))*1.0
              / greatest(len(t), 1) AS mwl,
            CAST(round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))*10000.0
              / greatest(length(text), 1)) AS BIGINT) AS punct_bp,
            CAST(round(len(list_filter(t, x -> x IN ('the','a','of','and','to','is')))*10000.0
              / greatest(len(t), 1)) AS BIGINT) AS stop_bp
          FROM s)
          SELECT doc_id, len_chars, n_tokens,
            round(punct_ratio, 4) AS punct_ratio,
            round(stop_ratio, 4) AS stopword_ratio,
            round(mwl, 4) AS mean_word_len,
            least(n_tokens, 100)*400
              + (10000 - punct_bp)*3 + least(stop_bp*5, 10000)*3 AS quality_bp
          FROM m ORDER BY doc_id""",
    "q_token_count" ->
      s"""SELECT doc_id,
          CAST(len($tokSql) AS BIGINT) AS ws_tokens,
          CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
            AS BIGINT) AS bpe_tokens,
          CAST(length(text) AS BIGINT) AS n_chars_calc
          FROM documents ORDER BY doc_id""",
    "q_chunk_docs" ->
      s"""WITH tok AS (SELECT doc_id, $tokSql AS t FROM documents),
          st AS (SELECT doc_id, t,
            unnest(generate_series(0, len(t)-1, ${TextOps.ChunkStride})) AS s
          FROM tok)
          SELECT doc_id, CAST(s // ${TextOps.ChunkStride} AS BIGINT) AS chunk_idx,
            CAST(len(list_slice(t, s+1, s+${TextOps.ChunkSize})) AS BIGINT) AS chunk_tokens,
            substr(md5(array_to_string(list_slice(t, s+1, s+${TextOps.ChunkSize}), ' ')),
              1, 8) AS chunk_hash
          FROM st ORDER BY doc_id, chunk_idx""",
    "q_corpus_filter" ->
      s"""WITH RECURSIVE $corpusFilterCtes
          $corpusVerdictSql
          ORDER BY d.doc_id""",
    "q_corpus_funnel" ->
      s"""WITH RECURSIVE $corpusFilterCtes,
          cf AS ($corpusVerdictSql),
          a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
            CAST(sum(len_ok) AS BIGINT) AS n1,
            CAST(sum(CASE WHEN len_ok = 1 AND rep_ok = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n2,
            CAST(sum(keep) AS BIGINT) AS n3
          FROM cf)
          SELECT stage, docs_in, docs_kept,
            round(docs_kept * 1.0 / greatest(docs_in, 1), 4) AS keep_rate
          FROM (
            SELECT '0_raw' AS stage, n0 AS docs_in, n0 AS docs_kept FROM a
            UNION ALL SELECT '1_length', n0, n1 FROM a
            UNION ALL SELECT '2_repetition', n1, n2 FROM a
            UNION ALL SELECT '3_dedup', n2, n3 FROM a)
          ORDER BY stage""",
    "q_repetition" ->
      s"""WITH tok AS (SELECT doc_id, $tokSql AS t FROM documents),
          tf AS (SELECT doc_id, x, count(*) AS c
            FROM (SELECT doc_id, unnest(t) AS x FROM tok) GROUP BY 1, 2),
          ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
            CAST(count(*) AS BIGINT) AS uniq_tokens, CAST(max(c) AS BIGINT) AS top_c
          FROM tf GROUP BY 1),
          bs AS (SELECT doc_id, CAST($uniqBigramsSql AS BIGINT) AS uniq_bigrams
          FROM tok)
          SELECT ts.doc_id, n_tokens, uniq_tokens,
            round(uniq_tokens / n_tokens::DOUBLE, 4) AS uniq_token_ratio,
            round(top_c / n_tokens::DOUBLE, 4) AS top_token_frac,
            CAST(greatest(n_tokens - 1, 0) AS BIGINT) AS n_bigrams,
            uniq_bigrams,
            round(1 - uniq_bigrams / greatest(n_tokens - 1, 1)::DOUBLE, 4)
              AS dup_bigram_ratio
          FROM ts JOIN bs ON ts.doc_id = bs.doc_id ORDER BY ts.doc_id""",
    "q_fingerprint" ->
      s"""WITH s AS (SELECT doc_id, $shingleSql AS sh,
            list_distinct(CASE WHEN length(text) >= 8
              THEN list_transform(generate_series(1, length(text)-7),
                   i -> substr(text, i, 8))
              ELSE []::VARCHAR[] END) AS cg
          FROM (SELECT doc_id, text, $tokSql AS t FROM documents))
          SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
            list_min(list_transform(sh, x -> md5(x))) AS shingle_fp,
            list_min(list_transform(cg, x -> md5(x))) AS chargram_fp
          FROM s ORDER BY doc_id""",
    "q_bm25" ->
      s"""WITH t AS (SELECT doc_id, unnest(t) AS term
            FROM (SELECT doc_id, $tokSql AS t FROM documents)),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
          dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
          df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
          sc AS (SELECT tf.doc_id, term,
            round(ln(1.0 + (n - df + 0.5)/(df + 0.5))
              * (tf * (1.2 + 1.0))
              / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4) AS bm25
            FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN st),
          r AS (SELECT doc_id, term, bm25,
            CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY bm25 DESC, term) AS BIGINT) AS rk FROM sc)
          SELECT doc_id, term, bm25, rk FROM r WHERE rk <= 5
          ORDER BY doc_id, rk""",
    "q_multimodal_meta" ->
      """WITH m AS (SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len FROM documents)
         SELECT doc_id, byte_len,
           byte_len % 64 + 1 AS fake_width,
           byte_len // 7 % 64 + 1 AS fake_height,
           byte_len // 100 + 1 AS n_frames,
           (byte_len // 100 + 1 + 3) // 4 AS sampled_frames
         FROM m ORDER BY doc_id""",
    // Byte-profile perceptual near-dup: the text payload IS the binary
    // payload (ASCII — asserted per fixture scale by TextMlSpec's
    // "oracle precondition" test, which fails loudly if any documents
    // fixture gains a non-ASCII or multi-byte character), so ascii()
    // over split chars reproduces the byte kernel exactly; quantization is pure integer
    // division, the band key the same sorted byte:q8 cell string, the
    // 64-doc bucket cap mirrored via QUALIFY, the L1 verify a full-outer
    // cell merge — all integers, so the hash must match bit-for-bit.
    "q_media_neardup" ->
      s"""WITH ch AS (SELECT doc_id, ascii(c) AS byte,
             CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
                 FROM documents) GROUP BY 1, 2),
         pr AS (SELECT doc_id, byte, cnt,
             sum(cnt) OVER (PARTITION BY doc_id) AS len FROM ch),
         q AS (SELECT doc_id, byte, byte % ${MultimodalOps.MediaBands} AS band,
             cnt * 10000 // len AS s10k, cnt * 256 // len AS q8 FROM pr),
         bk0 AS (SELECT doc_id, band,
             band::VARCHAR || '|' || string_agg(
               byte::VARCHAR || ':' || q8::VARCHAR, ',' ORDER BY byte) AS bkey
           FROM q GROUP BY 1, 2),
         bk AS (SELECT doc_id, bkey FROM bk0
           QUALIFY row_number() OVER (PARTITION BY bkey ORDER BY doc_id)
             <= ${MultimodalOps.MediaBandCap}),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bk a JOIN bk b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         sa AS (SELECT doc_a, doc_b, byte, s10k AS v
           FROM cand JOIN q ON q.doc_id = doc_a),
         sb AS (SELECT doc_a, doc_b, byte, s10k AS v
           FROM cand JOIN q ON q.doc_id = doc_b),
         m AS (SELECT coalesce(sa.doc_a, sb.doc_a) AS doc_a,
             coalesce(sa.doc_b, sb.doc_b) AS doc_b,
             coalesce(sa.v, 0) AS va, coalesce(sb.v, 0) AS vb
           FROM sa FULL JOIN sb ON sa.doc_a = sb.doc_a
             AND sa.doc_b = sb.doc_b AND sa.byte = sb.byte),
         l1 AS (SELECT doc_a, doc_b, CAST(sum(abs(va - vb)) AS BIGINT) AS l1_bp
           FROM m GROUP BY 1, 2
           HAVING sum(abs(va - vb)) <= ${MultimodalOps.MediaL1MaxBp}),
         ln AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS blen,
             md5(text) AS h FROM documents)
         SELECT doc_a, doc_b, l1_bp,
           la.blen AS byte_len_a, lb.blen AS byte_len_b,
           CAST(CASE WHEN la.h = lb.h THEN 1 ELSE 0 END AS BIGINT) AS exact_dup
         FROM l1 JOIN ln la ON la.doc_id = doc_a
           JOIN ln lb ON lb.doc_id = doc_b
         ORDER BY l1_bp, doc_a, doc_b""",
    "q_calibration" ->
      """WITH e AS (
           SELECT vec_id,
             CASE WHEN label = 0 THEN 1 ELSE 0 END AS truth,
             round(sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))), 4) AS l2,
             round(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 4) AS mx
           FROM embeddings),
         s AS (
           SELECT 'l2_norm' AS detector, truth, l2 AS score FROM e
           UNION ALL
           SELECT 'max_abs' AS detector, truth, mx AS score FROM e),
         mm AS (SELECT detector, min(score) AS mn, max(score) AS mxs
           FROM s GROUP BY detector),
         p AS (SELECT s.detector AS detector, truth,
           CASE WHEN mxs = mn THEN 0.0
                ELSE (score - mn) / (mxs - mn) END AS p
           FROM s JOIN mm ON s.detector = mm.detector)
         SELECT detector, CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
           count(*) AS n,
           round(avg(p), 4) AS mean_score,
           round(avg(truth), 4) AS frac_pos,
           round(avg((p - truth) * (p - truth)), 4) AS brier
         FROM p GROUP BY detector, bin ORDER BY detector, bin""",
    "q_scd2_history" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT user_id, d, n,
           CASE WHEN n >= 4 THEN 'high' WHEN n >= 2 THEN 'med'
                ELSE 'low' END AS tier FROM daily),
         c AS (SELECT user_id, d, n, tier,
           CASE WHEN lag(tier) OVER w IS NULL OR lag(tier) OVER w <> tier
                THEN 1 ELSE 0 END AS chg
           FROM t WINDOW w AS (PARTITION BY user_id ORDER BY d)),
         r AS (SELECT user_id, d, n, tier,
           sum(chg) OVER (PARTITION BY user_id ORDER BY d
             ROWS UNBOUNDED PRECEDING) AS run_id
           FROM c),
         h AS (SELECT user_id, run_id, tier,
           min(d) AS valid_from, max(d) AS last_active,
           CAST(count(*) AS BIGINT) AS n_days, CAST(sum(n) AS BIGINT) AS n_events
           FROM r GROUP BY 1, 2, 3)
         SELECT user_id, tier,
           strftime(valid_from, '%Y-%m-%d') AS valid_from,
           strftime(lead(valid_from) OVER w2, '%Y-%m-%d') AS valid_to,
           strftime(last_active, '%Y-%m-%d') AS last_active,
           n_days, n_events,
           CAST(CASE WHEN lead(valid_from) OVER w2 IS NULL THEN 1 ELSE 0 END
             AS BIGINT) AS is_current
         FROM h WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
         ORDER BY user_id, valid_from""",
    "q_source_mix" ->
      s"""WITH d AS (SELECT source, CAST(len($tokSql) AS BIGINT) AS toks
            FROM documents),
          s AS (SELECT source, count(*) AS n_docs,
            CAST(sum(toks) AS BIGINT) AS n_tokens FROM d GROUP BY source),
          t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
            count(*) AS n_sources FROM s)
          SELECT source, n_docs, n_tokens,
            n_tokens * 10000 // total_tokens AS share_bp,
            round(total_tokens / (n_sources * n_tokens)::DOUBLE, 4)
              AS uniform_weight
          FROM s CROSS JOIN t ORDER BY source""",
    // temp_ratio = sqrt(n_tokens/max_tokens): one exact-long division,
    // one IEEE-correctly-rounded sqrt, one round-4 -- no multi-term
    // float summation to hang the hash on reduction order.
    // types/toks compared by integer cross-multiplication (exact on both
    // engines); micro_ttr is the one r4'd division of two exact sums.
    "q_lexical_diversity" ->
      s"""WITH d AS (SELECT source, len(t) AS toks, len(list_distinct(t)) AS types
            FROM (SELECT source, $tokSql AS t FROM documents))
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(toks) AS BIGINT) AS sum_tokens,
            CAST(sum(types) AS BIGINT) AS sum_types,
            round(sum(types)::DOUBLE / sum(toks), 4) AS micro_ttr,
            CAST(sum(CASE WHEN types*2 <= toks THEN 1 ELSE 0 END) AS BIGINT) AS n_low_diversity,
            CAST(sum(CASE WHEN types*10 >= toks*9 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_diversity
          FROM d GROUP BY source ORDER BY source""",
    "q_temperature_mix" ->
      s"""WITH d AS (SELECT source, CAST(len($tokSql) AS BIGINT) AS toks
            FROM documents),
          s AS (SELECT source, count(*) AS n_docs,
            CAST(sum(toks) AS BIGINT) AS n_tokens FROM d GROUP BY source),
          t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
            CAST(max(n_tokens) AS BIGINT) AS max_tokens FROM s)
          SELECT source, n_docs, n_tokens,
            n_tokens * 10000 // total_tokens AS share_bp,
            round(sqrt(n_tokens::DOUBLE / max_tokens), 4) AS temp_ratio
          FROM s CROSS JOIN t ORDER BY source""",
    "q_pack_docs" ->
      s"""WITH RECURSIVE toks AS (
            SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS toks,
              doc_id // ${TextOps.PackBlock} AS block,
              row_number() OVER (PARTITION BY doc_id // ${TextOps.PackBlock}
                ORDER BY doc_id) AS rn
            FROM documents),
          pack AS (
            SELECT block, rn, doc_id, toks, CAST(0 AS BIGINT) AS seq,
              toks AS fill
            FROM toks WHERE rn = 1
            UNION ALL
            SELECT t.block, t.rn, t.doc_id, t.toks,
              CASE WHEN p.fill > 0 AND p.fill + t.toks > ${TextOps.PackBudget}
                   THEN p.seq + 1 ELSE p.seq END,
              CASE WHEN p.fill > 0 AND p.fill + t.toks > ${TextOps.PackBudget}
                   THEN t.toks ELSE p.fill + t.toks END
            FROM pack p JOIN toks t ON t.block = p.block AND t.rn = p.rn + 1)
          SELECT doc_id, toks, block, seq AS seq_in_block
          FROM pack ORDER BY doc_id""",
    // Repeats q_pack_docs' recursive pack CTE (a copy); the profile is
    // two integer rollups on top.
    "q_pack_efficiency" ->
      s"""WITH RECURSIVE toks AS (
            SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS toks,
              doc_id // ${TextOps.PackBlock} AS block,
              row_number() OVER (PARTITION BY doc_id // ${TextOps.PackBlock}
                ORDER BY doc_id) AS rn
            FROM documents),
          pack AS (
            SELECT block, rn, doc_id, toks, CAST(0 AS BIGINT) AS seq,
              toks AS fill
            FROM toks WHERE rn = 1
            UNION ALL
            SELECT t.block, t.rn, t.doc_id, t.toks,
              CASE WHEN p.fill > 0 AND p.fill + t.toks > ${TextOps.PackBudget}
                   THEN p.seq + 1 ELSE p.seq END,
              CASE WHEN p.fill > 0 AND p.fill + t.toks > ${TextOps.PackBudget}
                   THEN t.toks ELSE p.fill + t.toks END
            FROM pack p JOIN toks t ON t.block = p.block AND t.rn = p.rn + 1),
          bins AS (SELECT block, seq, CAST(count(*) AS BIGINT) AS docs,
              CAST(sum(toks) AS BIGINT) AS fill
            FROM pack GROUP BY 1, 2)
          SELECT docs AS docs_per_bin, CAST(count(*) AS BIGINT) AS n_bins,
            CAST(sum(fill) AS BIGINT) AS total_fill,
            CAST(sum(fill) * 10000
              // (count(*) * ${TextOps.PackBudget}) AS BIGINT) AS fill_bp,
            CAST(sum(CASE WHEN fill > ${TextOps.PackBudget} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_overflow
          FROM bins GROUP BY 1 ORDER BY 1""",
    "q_source_overlap" ->
      s"""WITH st AS (SELECT DISTINCT source, tok FROM (
              SELECT source, unnest($tokSql) AS tok FROM documents)
            WHERE length(tok) > 0),
          sz AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab
            FROM st GROUP BY 1),
          sh AS (SELECT a.source AS source_a, b.source AS source_b,
              CAST(count(*) AS BIGINT) AS shared
            FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
            GROUP BY 1, 2)
          SELECT source_a, source_b, x.vocab AS vocab_a, y.vocab AS vocab_b,
            shared,
            CAST(shared * 10000 // (x.vocab + y.vocab - shared) AS BIGINT)
              AS jaccard_bp
          FROM sh JOIN sz x ON x.source = source_a
            JOIN sz y ON y.source = source_b
          ORDER BY source_a, source_b""",
    "q_psi" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS d FROM events),
         b AS (SELECT min(d) AS d0, max(d) AS d1 FROM ev),
         m AS (SELECT d0 + CAST((d1 - d0) // 2 AS INT) AS mid FROM b),
         t AS (SELECT event_type,
             CAST(sum(CASE WHEN d <= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
             CAST(sum(CASE WHEN d > mid THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
           FROM ev CROSS JOIN m GROUP BY event_type),
         tot AS (SELECT sum(n_base)::DOUBLE AS tb, sum(n_cur)::DOUBLE AS tc FROM t)
         SELECT event_type, n_base, n_cur,
           round(n_base / tb, 4) AS p_base,
           round(n_cur / tc, 4) AS p_cur,
           CASE WHEN n_base > 0 AND n_cur > 0
             THEN round((n_cur / tc - n_base / tb)
                        * ln((n_cur / tc) / (n_base / tb)), 4) END AS psi_term
         FROM t CROSS JOIN tot ORDER BY event_type""",
    "q_markov_surprisal" ->
      """WITH s AS (SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS from_type
           FROM events),
         ue AS (SELECT user_id, from_type, event_type AS to_type, count(*) AS c
           FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2, 3),
         m AS (SELECT from_type, to_type, CAST(sum(c) AS BIGINT) AS n
           FROM ue GROUP BY 1, 2),
         mt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM m GROUP BY 1),
         p AS (SELECT m.from_type, m.to_type, n::DOUBLE / tot AS p
           FROM m JOIN mt USING (from_type))
         SELECT user_id, CAST(sum(c) AS BIGINT) AS n_transitions,
           round(sum(-c * log2(p)) / sum(c), 4) AS avg_surprisal_bits
         FROM ue JOIN p
           ON ue.from_type = p.from_type AND ue.to_type = p.to_type
         GROUP BY user_id
         ORDER BY avg_surprisal_bits DESC, user_id LIMIT 50""",
    // End-only L1 normalization, mirroring the operator: the per-step
    // rescale is a positive scalar that commutes through the linear
    // updates, so only the final hub/auth frames are normalized.
    "q_hits" ->
      """WITH ur AS (SELECT DISTINCT user_id AS u,
             json_extract_string(props,'$.k') AS r
           FROM events WHERE json_extract_string(props,'$.k') IS NOT NULL),
         a0 AS (SELECT DISTINCT r, 1.0 AS a FROM ur),
         h1 AS (SELECT u, sum(a) AS h FROM ur JOIN a0 USING (r) GROUP BY u),
         a1 AS (SELECT r, sum(h) AS a FROM ur JOIN h1 USING (u) GROUP BY r),
         h2 AS (SELECT u, sum(a) AS h FROM ur JOIN a1 USING (r) GROUP BY u),
         a2 AS (SELECT r, sum(h) AS a FROM ur JOIN h2 USING (u) GROUP BY r),
         h3 AS (SELECT u, sum(a) AS h FROM ur JOIN a2 USING (r) GROUP BY u),
         a3 AS (SELECT r, sum(h) AS a FROM ur JOIN h3 USING (u) GROUP BY r)
         SELECT 'u' || u::VARCHAR AS node, 'hub' AS kind,
           round(h / (SELECT sum(h) FROM h3) * 1000, 4) AS score_x1000 FROM h3
         UNION ALL
         SELECT 'r' || r, 'authority',
           round(a / (SELECT sum(a) FROM a3) * 1000, 4) FROM a3
         ORDER BY node""",
    "q_seasonal_decompose" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT event_type, d, n,
             count(*) OVER w AS win_rows,
             sum(n) OVER w AS win_sum,
             isodow(d) - 1 AS dow
           FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         t2 AS (SELECT *, CASE WHEN win_rows = 7
             THEN win_sum::DOUBLE / 7.0 END AS trend FROM t),
         s AS (SELECT event_type, dow,
             (sum(n)::DOUBLE - sum(win_sum)::DOUBLE / 7.0) / count(*)
               AS seasonal_raw
           FROM t2 WHERE trend IS NOT NULL GROUP BY 1, 2)
         SELECT t2.event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(n AS BIGINT) AS n, CAST(t2.dow AS BIGINT) AS dow,
           round(trend, 4) AS trend,
           round(seasonal_raw, 4) AS seasonal,
           round(n - trend - seasonal_raw, 4) AS residual
         FROM t2 LEFT JOIN s
           ON t2.event_type = s.event_type AND t2.dow = s.dow
         ORDER BY t2.event_type, day""",
    "q_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
             AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM orders),
         c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
         tot AS (SELECT sum(n)::DOUBLE AS t FROM c)
         SELECT digit, CAST(n AS BIGINT) AS n,
           round(n / t, 4) AS observed_p,
           round(log10(1.0 + 1.0 / digit), 4) AS benford_p,
           round((n - t * log10(1.0 + 1.0 / digit))
                 * (n - t * log10(1.0 + 1.0 / digit))
                 / (t * log10(1.0 + 1.0 / digit)), 4) AS chi2_term
         FROM c CROSS JOIN tot ORDER BY digit""",
    "q_gini" ->
      """WITH x AS (SELECT event_type, user_id, count(*) AS x
           FROM events GROUP BY 1, 2),
         r AS (SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY x, user_id)
               AS rk
           FROM x),
         g AS (SELECT event_type, CAST(sum(rk * x) AS BIGINT) AS srx,
             CAST(sum(x) AS BIGINT) AS sx, count(*) AS nu
           FROM r GROUP BY 1)
         SELECT event_type, CAST(nu AS BIGINT) AS n_users,
           sx AS total_events,
           round(2.0 * srx / (nu * sx) - (nu + 1.0) / nu, 4) AS gini
         FROM g ORDER BY event_type""",
    "q_chi2" ->
      """WITH cell AS (SELECT event_type, count(*) AS n_total,
             CAST(sum(CASE WHEN EXTRACT(hour FROM ts) < 8
                        OR EXTRACT(hour FROM ts) > 18
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_after
           FROM events GROUP BY event_type),
         tot AS (SELECT sum(n_total)::DOUBLE AS t, sum(n_after)::DOUBLE AS a
           FROM cell)
         SELECT event_type, CAST(n_total AS BIGINT) AS n_total, n_after,
           round(n_total * a / t, 4) AS expected_after,
           round((n_after - n_total * a / t) * (n_after - n_total * a / t)
                 * (1.0 / (n_total * a / t)
                    + 1.0 / (n_total * (t - a) / t)), 4) AS chi2_term
         FROM cell CROSS JOIN tot ORDER BY event_type""",
    "q_ks_test" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d,
             CASE WHEN isodow(ts)-1 >= 5 THEN 1 ELSE 0 END AS wk,
             count(*) AS n
           FROM events GROUP BY 1, 2, 3),
         sup AS (SELECT n,
             CAST(sum(CASE WHEN wk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_wd,
             CAST(sum(CASE WHEN wk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_we
           FROM daily GROUP BY n),
         tot AS (SELECT CAST(sum(c_wd) AS BIGINT) AS n_wd,
             CAST(sum(c_we) AS BIGINT) AS n_we FROM sup),
         ecdf AS (SELECT n_wd, n_we,
             abs(CAST(sum(c_wd) OVER (ORDER BY n) AS DOUBLE)
                   / CAST(n_wd AS DOUBLE)
               - CAST(sum(c_we) OVER (ORDER BY n) AS DOUBLE)
                   / CAST(n_we AS DOUBLE)) AS diff
           FROM sup CROSS JOIN tot)
         SELECT n_wd AS n_weekday, n_we AS n_weekend,
           round(max(diff), 4) AS d_stat,
           round(1.358 * sqrt(CAST(n_wd + n_we AS DOUBLE)
             / CAST(n_wd * n_we AS DOUBLE)), 4) AS crit_05,
           CAST(CASE WHEN max(diff) > 1.358 * sqrt(CAST(n_wd + n_we AS DOUBLE)
             / CAST(n_wd * n_we AS DOUBLE)) THEN 1 ELSE 0 END AS BIGINT)
             AS drift_flag
         FROM ecdf GROUP BY n_wd, n_we""",
    "q_welch_ttest" ->
      """WITH g AS (SELECT
             CAST(sum(CASE WHEN isodow(ts)-1 < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             sum(CASE WHEN isodow(ts)-1 < 5
               THEN CAST(value AS DECIMAL(18,2)) END) AS s0,
             sum(CASE WHEN isodow(ts)-1 < 5
               THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS ss0,
             CAST(sum(CASE WHEN isodow(ts)-1 >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             sum(CASE WHEN isodow(ts)-1 >= 5
               THEN CAST(value AS DECIMAL(18,2)) END) AS s1,
             sum(CASE WHEN isodow(ts)-1 >= 5
               THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS ss1
           FROM events WHERE value IS NOT NULL),
         m AS (SELECT n0, n1,
             CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0,
             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
             (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
                / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0) AS v0,
             (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS v1
           FROM g),
         e AS (SELECT n0, n1, m0, m1,
             v0 / CAST(n0 AS DOUBLE) AS se0, v1 / CAST(n1 AS DOUBLE) AS se1
           FROM m)
         SELECT n0 AS n_weekday, n1 AS n_weekend,
           round(m0, 4) AS mean_weekday, round(m1, 4) AS mean_weekend,
           round((m1 - m0) / sqrt(se0 + se1), 4) AS t_stat,
           round((se0 + se1) * (se0 + se1)
             / (se0 * se0 / (CAST(n0 AS DOUBLE) - 1.0)
                + se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0)), 2) AS df,
           CAST(CASE WHEN abs((m1 - m0) / sqrt(se0 + se1)) > 1.96
             THEN 1 ELSE 0 END AS BIGINT) AS significant
         FROM e""",
    "q_corr_matrix" -> corrMatrixSql,
    "q_kl_divergence" ->
      s"""WITH t AS (SELECT doc_id, unnest(t) AS term
             FROM (SELECT doc_id, $tokSql AS t FROM documents)),
         dtf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         ltf AS (SELECT d.lang, x.term, CAST(sum(x.tf) AS BIGINT) AS ltf
           FROM dtf x JOIN documents d USING (doc_id) GROUP BY 1, 2),
         ctf AS (SELECT term, CAST(sum(ltf) AS BIGINT) AS ctf
           FROM ltf GROUP BY term),
         cn AS (SELECT CAST(sum(ctf) AS BIGINT) AS t_all,
             count(*) AS v FROM ctf),
         lnorm AS (SELECT lang, CAST(sum(ltf) AS BIGINT) AS t_lang
           FROM ltf GROUP BY lang),
         grid AS (SELECT l.lang, c.term, c.ctf, l.t_lang,
             coalesce(f.ltf, 0) AS ltf
           FROM ctf c CROSS JOIN lnorm l
           LEFT JOIN ltf f ON f.lang = l.lang AND f.term = c.term)
         SELECT g.lang, CAST(max(t_lang) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN ltf > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS vocab_used,
           round(sum(((ltf + 1.0) / (t_lang + v))
             * ln(((ltf + 1.0) / (t_lang + v))
                  / ((ctf + 1.0) / (t_all + v)))), 4) AS kl_nats
         FROM grid g CROSS JOIN cn GROUP BY g.lang ORDER BY lang""",
    "q_bpe_merges" ->
      s"""WITH t AS (SELECT unnest(t) AS term
             FROM (SELECT $tokSql AS t FROM documents)),
         tf AS (SELECT term, count(*) AS ctf FROM t GROUP BY term),
         pos AS (SELECT term, ctf,
             unnest(generate_series(1, length(term)-1)) AS i
           FROM tf WHERE length(term) >= 2),
         pr AS (SELECT substr(term, i, 2) AS pair, ctf FROM pos)
         SELECT pair, CAST(sum(ctf) AS BIGINT) AS freq,
           count(*) AS n_contexts
         FROM pr GROUP BY pair ORDER BY freq DESC, pair LIMIT 50""",
    "q_ref_integrity" -> refIntegritySql,
    "q_mutual_info" ->
      """WITH cells AS (SELECT event_type,
             CASE WHEN EXTRACT(hour FROM ts) < 8 OR EXTRACT(hour FROM ts) > 18
               THEN 1 ELSE 0 END AS ah,
             count(*) AS n_tc
           FROM events GROUP BY 1, 2),
         rt AS (SELECT event_type, CAST(sum(n_tc) AS BIGINT) AS n_t
           FROM cells GROUP BY 1),
         ct AS (SELECT ah, CAST(sum(n_tc) AS BIGINT) AS n_c
           FROM cells GROUP BY 1),
         tt AS (SELECT CAST(sum(n_tc) AS BIGINT) AS n FROM cells),
         mi AS (SELECT sum((CAST(n_tc AS DOUBLE) / n)
               * ln((CAST(n_tc AS DOUBLE) / n)
                    / ((CAST(n_t AS DOUBLE) / n) * (CAST(n_c AS DOUBLE) / n))))
             AS mi
           FROM cells JOIN rt USING (event_type) JOIN ct USING (ah)
           CROSS JOIN tt),
         ht AS (SELECT -sum((CAST(n_t AS DOUBLE) / n)
             * ln(CAST(n_t AS DOUBLE) / n)) AS h_type FROM rt CROSS JOIN tt),
         hc AS (SELECT -sum((CAST(n_c AS DOUBLE) / n)
             * ln(CAST(n_c AS DOUBLE) / n)) AS h_flag FROM ct CROSS JOIN tt)
         SELECT n AS n_events, round(mi, 4) AS mi_nats,
           round(h_type, 4) AS h_type, round(h_flag, 4) AS h_flag,
           round(mi / least(h_type, h_flag), 4) AS nmi
         FROM mi CROSS JOIN ht CROSS JOIN hc CROSS JOIN tt""",
    "q_cramers_v" ->
      """WITH cells AS (SELECT event_type, CAST(isodow(ts)-1 AS BIGINT) AS dw,
             count(*) AS n_tc
           FROM events GROUP BY 1, 2),
         rt AS (SELECT event_type, CAST(sum(n_tc) AS BIGINT) AS n_t
           FROM cells GROUP BY 1),
         ct AS (SELECT dw, CAST(sum(n_tc) AS BIGINT) AS n_c
           FROM cells GROUP BY 1),
         tt AS (SELECT CAST(sum(n_tc) AS BIGINT) AS n,
             count(DISTINCT event_type) AS r, count(DISTINCT dw) AS c
           FROM cells),
         o AS (SELECT sum(
             (CAST(n_tc AS DOUBLE) - CAST(n_t AS DOUBLE) * n_c / n)
               * (CAST(n_tc AS DOUBLE) - CAST(n_t AS DOUBLE) * n_c / n)
               / (CAST(n_t AS DOUBLE) * n_c / n)
             - CAST(n_t AS DOUBLE) * n_c / n) AS chi2_obs
           FROM cells JOIN rt USING (event_type) JOIN ct USING (dw)
           CROSS JOIN tt)
         SELECT n AS n_events, r AS n_types, c AS n_dows,
           round(chi2_obs + n, 4) AS chi2,
           round(sqrt((chi2_obs + n)
             / (CAST(n AS DOUBLE) * (least(r, c) - 1))), 4) AS cramers_v
         FROM o CROSS JOIN tt""",
    "q_mahalanobis" -> mahalanobisSql,
    "q_zipf_fit" ->
      s"""WITH t AS (SELECT unnest(t) AS term
             FROM (SELECT $tokSql AS t FROM documents)),
         ctf AS (SELECT term, count(*) AS ctf FROM t GROUP BY term),
         rk AS (SELECT ctf,
             row_number() OVER (ORDER BY ctf DESC, term ASC) AS rank
           FROM ctf),
         top AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
             ln(CAST(ctf AS DOUBLE)) AS y
           FROM rk WHERE rank <= ${graft.operators.TextOps.ZipfTopK}),
         s AS (SELECT count(*) AS n_terms, sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy FROM top)
         SELECT n_terms,
           round((n_terms*sxy - sx*sy) / (n_terms*sxx - sx*sx), 4)
             AS zipf_slope,
           round((sy - ((n_terms*sxy - sx*sy) / (n_terms*sxx - sx*sx)) * sx)
             / n_terms, 4) AS intercept,
           round((n_terms*sxy - sx*sy) * (n_terms*sxy - sx*sy)
             / ((n_terms*sxx - sx*sx) * (n_terms*syy - sy*sy)), 4) AS r2
         FROM s""",
    "q_window_dup" ->
      s"""WITH w AS (SELECT doc_id,
             md5(substr(text, CAST(pos AS INTEGER),
               ${graft.operators.TextOps.DupWindow})) AS wh
           FROM (SELECT doc_id, text,
               unnest(generate_series(1,
                 greatest(length(text) - ${graft.operators.TextOps.DupWindow - 1},
                   1),
                 ${graft.operators.TextOps.DupStride})) AS pos
             FROM documents)),
         df AS (SELECT wh, count(DISTINCT doc_id) AS wdf FROM w GROUP BY wh)
         SELECT doc_id, count(*) AS n_windows,
           CAST(sum(CASE WHEN wdf > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           round(CAST(sum(CASE WHEN wdf > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS dup_frac
         FROM w JOIN df USING (wh) GROUP BY doc_id ORDER BY doc_id""",
    // Degree assortativity: every statistic an exact integer (HUGEINT on
    // the DuckDB side mirrors the Spark side's DECIMAL(38,0)); the final
    // ratio is one double expression of identical shape on both engines.
    "q_assortativity" ->
      s"""WITH ur AS (SELECT DISTINCT user_id, json_extract_string(props,'$$.k') AS res
           FROM events WHERE json_extract_string(props,'$$.k') IS NOT NULL
             AND user_id IS NOT NULL),
         keep AS (SELECT res FROM ur GROUP BY res HAVING count(*) <= $DegCap),
         pr AS (SELECT a.user_id AS ua, b.user_id AS ub
           FROM ur a JOIN ur b ON a.res = b.res AND a.user_id < b.user_id
           WHERE a.res IN (SELECT res FROM keep)
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT ua AS src, ub AS dst FROM pr
           UNION ALL SELECT ub, ua FROM pr),
         d AS (SELECT src AS u, count(*)::HUGEINT AS deg FROM e GROUP BY 1),
         xy AS (SELECT dx.deg AS dx, dy.deg AS dy
           FROM e JOIN d dx ON e.src = dx.u JOIN d dy ON e.dst = dy.u),
         st AS (SELECT count(*)::HUGEINT AS n, sum(dx) AS sx, sum(dy) AS sy,
           sum(dx*dy) AS sxy, sum(dx*dx) AS sxx, sum(dy*dy) AS syy FROM xy)
         SELECT CAST(n AS BIGINT) AS n_edges,
           CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0 THEN 0.0
             ELSE round((n*sxy - sx*sy)::DOUBLE /
               (sqrt((n*sxx - sx*sx)::DOUBLE) * sqrt((n*syy - sy*sy)::DOUBLE)), 4)
           END AS assortativity
         FROM st""",
    "q_token_len_dist" ->
      """WITH toks AS (SELECT source,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS nt
           FROM documents),
         g AS (SELECT source,
             CASE WHEN nt <= 0 THEN -1 ELSE length(bin(nt)) - 1 END AS bucket,
             count(*) AS n_docs, sum(nt) AS total_tokens,
             min(nt) AS min_tokens, max(nt) AS max_tokens
           FROM toks GROUP BY 1, 2),
         ps AS (SELECT source, sum(n_docs) AS src_docs FROM g GROUP BY 1)
         SELECT g.source, CAST(bucket AS BIGINT) AS bucket,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(min_tokens AS BIGINT) AS min_tokens,
           CAST(max_tokens AS BIGINT) AS max_tokens,
           CAST(n_docs * 10000 // src_docs AS BIGINT) AS share_bp
         FROM g JOIN ps USING (source) ORDER BY 1, 2""",
    // Novelty = distinct 5-shingle HASHES first seen in this doc (hashes,
    // not strings, are deduplicated — mirrors array_distinct over
    // ShingleHash32, so an md5-prefix collision dedups identically).
    "q_ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS t FROM documents),
         sh AS (SELECT doc_id, ${shingleSqlK(5)} AS sh FROM t),
         h AS (SELECT DISTINCT doc_id, unnest(list_transform(sh, x -> $hash32Sql)) AS h
           FROM sh),
         f AS (SELECT h, min(doc_id) AS first_doc FROM h GROUP BY 1),
         nov AS (SELECT doc_id, count(*) AS n_shingles,
             sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS n_novel
           FROM h JOIN f USING (h) GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
           CAST(CASE WHEN coalesce(n_shingles, 0) = 0 THEN 10000
             ELSE n_novel * 10000 // n_shingles END AS BIGINT) AS novelty_bp
         FROM documents d LEFT JOIN nov USING (doc_id) ORDER BY doc_id""",
    "q_dup_rate_by_source" ->
      s"""WITH RECURSIVE pr AS ($minhashPairsSql),
         $clusterCompSql,
         ex AS (SELECT min(doc_id) AS kd FROM documents GROUP BY md5(text)),
         agg AS (SELECT d.source, count(*) AS n_docs,
             sum(CASE WHEN d.doc_id IN (SELECT kd FROM ex) THEN 0 ELSE 1 END)
               AS exact_dup_docs,
             sum(CASE WHEN c.cluster_id IS NOT NULL AND c.cluster_id <> d.doc_id
               THEN 1 ELSE 0 END) AS near_dup_docs
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
           GROUP BY 1)
         SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(exact_dup_docs AS BIGINT) AS exact_dup_docs,
           CAST(near_dup_docs AS BIGINT) AS near_dup_docs,
           CAST(exact_dup_docs * 10000 // n_docs AS BIGINT) AS exact_dup_bp,
           CAST(near_dup_docs * 10000 // n_docs AS BIGINT) AS near_dup_bp
         FROM agg ORDER BY source""",
    // Mean jaccard is exact: round(j*1e4) recovers the integer the 4-dp
    // jaccard encodes (within 1e-9 on both engines), the sum is a long.
    "q_cross_source_dup" ->
      s"""WITH pr AS ($minhashPairsSql),
         src AS (SELECT doc_id, source FROM documents),
         j AS (SELECT least(sa.source, sb.source) AS source_a,
             greatest(sa.source, sb.source) AS source_b,
             round(jaccard * 10000)::BIGINT AS j_bp
           FROM pr JOIN src sa ON pr.doc_a = sa.doc_id
                   JOIN src sb ON pr.doc_b = sb.doc_id
           WHERE jaccard >= ${DedupOps.ClusterJaccard})
         SELECT source_a, source_b, count(*) AS n_pairs,
           round(sum(j_bp)::DOUBLE / count(*) / 10000.0, 4) AS avg_jaccard,
           round(max(j_bp)::DOUBLE / 10000.0, 4) AS max_jaccard
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_char_entropy" ->
      """WITH ch AS (SELECT doc_id, substring(text, i, 1) AS ch
           FROM documents, UNNEST(generate_series(1, len(text))) AS t(i)),
         cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
         tot AS (SELECT doc_id, sum(c) AS n, count(*) AS k FROM cnt GROUP BY 1),
         ent AS (SELECT cnt.doc_id, max(n) AS n_chars, max(k) AS k,
             round(-sum((c::DOUBLE / n) * ln(c::DOUBLE / n)), 4) AS e
           FROM cnt JOIN tot USING (doc_id) GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(ent.n_chars, 0) AS BIGINT) AS n_chars,
           CAST(coalesce(ent.k, 0) AS BIGINT) AS n_distinct_chars,
           coalesce(ent.e, 0.0) AS char_entropy
         FROM documents d LEFT JOIN ent ON d.doc_id = ent.doc_id
         ORDER BY d.doc_id""",
    "q_centroid_sim" ->
      """WITH c AS (SELECT label, pos,
             ((embedding[pos])::DOUBLE)::DECIMAL(16,10) AS xd
           FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(pos)),
         s AS (SELECT CAST(label AS BIGINT) AS label, pos,
             -- floor-quantized integer sums (NOT a rounding cast — Spark
             -- rounds HALF_UP, DuckDB truncates, floor has no ties);
             -- 18 digits keeps the product/sum chain within the 38-digit
             -- decimal ceiling on both engines (see SimilarityOps)
             CAST(floor(sum(xd) * 10000) AS DECIMAL(18,0)) AS sv,
             count(*) AS n
           FROM c GROUP BY 1, 2)
         SELECT a.label AS label_a, b.label AS label_b,
           CAST(max(a.n) AS BIGINT) AS n_a, CAST(max(b.n) AS BIGINT) AS n_b,
           -- unrounded: operands are identical exact integers on both
           -- engines, so the double chain is bit-identical, while a final
           -- round(·,4) would disagree on .xxxx5 boundaries
           sum(a.sv * b.sv)::DOUBLE /
             (sqrt(sum(a.sv * a.sv)::DOUBLE) * sqrt(sum(b.sv * b.sv)::DOUBLE))
             AS cosine
         FROM s a JOIN s b ON a.pos = b.pos AND a.label < b.label
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_bigram_surprisal" ->
      s"""WITH tok AS (SELECT doc_id, $tokSql AS t FROM documents),
         bgx AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t)-1),
               i -> {'w1': t[i], 'w2': t[i+1]})) AS p
           FROM tok WHERE len(t) >= 2),
         bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS tf
           FROM bgx GROUP BY 1, 2, 3),
         cbg AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12
           FROM bg GROUP BY 1, 2),
         cw AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cbg GROUP BY 1),
         v AS (SELECT CAST(count(DISTINCT x) AS BIGINT) AS v_size
           FROM (SELECT unnest(t) AS x FROM tok)),
         sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
             round(sum(-tf * ln((c12 + 1.0)/(c1 + v_size)))/sum(tf), 4)
               AS bigram_surprisal
           FROM bg JOIN cbg USING (w1, w2) JOIN cw USING (w1) CROSS JOIN v
           GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           bigram_surprisal
         FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""",
    "q_tokenizer_fertility" ->
      s"""WITH d AS (SELECT lang, source,
             CAST(len($tokSql) AS BIGINT) AS ws,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
               AS BIGINT) AS bpe,
             CAST(len(text) AS BIGINT) AS nc
           FROM documents)
         SELECT lang, source, count(*) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(nc) AS BIGINT) AS n_chars,
           CAST(sum(bpe) * 10000 // greatest(sum(ws), 1) AS BIGINT) AS fertility_bp,
           CAST(sum(nc) * 100 // greatest(sum(bpe), 1) AS BIGINT)
             AS chars_per_token_x100
         FROM d GROUP BY 1, 2 ORDER BY 1, 2""",
    // The oracle rebuilds the index content FROM SCRATCH over the full
    // documents table (uncapped band rows + distinct-hash signature sets)
    // and digests it identically — a hash match proves
    // compaction(history-index, shard) ≡ build(full corpus) without the
    // oracle ever reading the stored files.
    "q_dedup_index_compact" ->
      s"""WITH $minhashSigCte,
         bk AS ($minhashBandRowsSql),
         bd AS (SELECT CAST(split_part(bucket, ':', 1) AS BIGINT) AS band,
             count(*) AS n_rows, count(DISTINCT bucket) AS n_keys,
             count(DISTINCT doc_id) AS n_docs,
             CAST(sum(CAST(('0x' || substr(md5(bucket || '#' ||
               CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)::DECIMAL(38,0))
               AS VARCHAR) AS checksum
           FROM bk WHERE bucket IS NOT NULL GROUP BY 1),
         sg AS (SELECT doc_id, unnest(hj) AS h FROM s),
         sd AS (SELECT CAST(-1 AS BIGINT) AS band, count(*) AS n_rows,
             count(DISTINCT h) AS n_keys, count(DISTINCT doc_id) AS n_docs,
             CAST(sum(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' ||
               CAST(h AS VARCHAR)), 1, 15)) AS BIGINT)::DECIMAL(38,0))
               AS VARCHAR) AS checksum
           FROM sg)
         SELECT band, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_keys AS BIGINT) AS n_keys, CAST(n_docs AS BIGINT) AS n_docs,
           checksum
         FROM (SELECT * FROM bd UNION ALL SELECT * FROM sd) ORDER BY band""",
    // Bin edges ±0.25/±0.125/0 are dyadic (exact in float32 AND double),
    // so the bin decision is bit-identical cross-engine; the PSI sum is
    // the same fixed 6-term left-to-right tree as the Spark side.
    "q_embed_drift" -> {
      val nBins = 6
      def cnt(side: String, b: Int): String = {
        val cond = b match {
          case 0 => "v < -0.25"
          case 1 => "v >= -0.25 AND v < -0.125"
          case 2 => "v >= -0.125 AND v < 0.0"
          case 3 => "v >= 0.0 AND v < 0.125"
          case 4 => "v >= 0.125 AND v < 0.25"
          case 5 => "v >= 0.25"
        }
        val split = if (side == "a") "is_a" else "NOT is_a"
        s"CAST(sum(CASE WHEN $cond AND $split THEN 1 ELSE 0 END) AS BIGINT) AS c${side}_$b"
      }
      val counters = (0 until nBins)
        .flatMap(b => Seq(cnt("a", b), cnt("b", b))).mkString(", ")
      val psiTerms = (0 until nBins).map { b =>
        val pa = s"((ca_$b + 1.0)/(n_a + $nBins))"
        val pb = s"((cb_$b + 1.0)/(n_b + $nBins))"
        s"($pa - $pb) * ln($pa / $pb)"
      }.mkString(" + ")
      s"""WITH ev AS (SELECT CAST(pos AS BIGINT) AS dim,
             (embedding[pos])::DOUBLE AS v, vec_id % 2 = 0 AS is_a
           FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS t(pos)),
         c AS (SELECT dim, $counters FROM ev GROUP BY dim),
         n AS (SELECT dim,
             CAST(${(0 until nBins).map(b => s"ca_$b").mkString(" + ")} AS BIGINT) AS n_a,
             CAST(${(0 until nBins).map(b => s"cb_$b").mkString(" + ")} AS BIGINT) AS n_b,
             ${(0 until nBins).map(b => s"ca_$b, cb_$b").mkString(", ")}
           FROM c)
         SELECT dim, n_a, n_b, round($psiTerms, 6) AS psi
         FROM n ORDER BY dim"""
    },
    "q_contamination_pairs" ->
      s"""WITH d AS (SELECT doc_id,
            list_distinct(list_transform(${shingleSqlK(5)}, x -> $hash32Sql)) AS sh
          FROM (SELECT doc_id, $tokSql AS t FROM documents)),
         tr AS (SELECT doc_id AS train_doc, unnest(sh) AS h FROM d
           WHERE doc_id % 20 <> 0),
         ev AS (SELECT doc_id AS eval_doc, CAST(len(sh) AS BIGINT) AS eval_sh,
             unnest(sh) AS h
           FROM d WHERE doc_id % 20 = 0),
         pr AS (SELECT eval_doc, train_doc, count(*) AS n_shared,
             max(eval_sh) AS eval_sh
           FROM tr JOIN ev USING (h) GROUP BY 1, 2),
         sc AS (SELECT eval_doc, train_doc, CAST(n_shared AS BIGINT) AS n_shared,
             CAST(n_shared * 10000 // eval_sh AS BIGINT) AS containment_bp
           FROM pr WHERE n_shared * 10000 // eval_sh >= ${DedupOps.ContaminationMinBp})
         SELECT eval_doc, train_doc, n_shared, containment_bp, rk FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY eval_doc
             ORDER BY containment_bp DESC, train_doc) AS BIGINT) AS rk
           FROM sc)
         WHERE rk <= ${DedupOps.ContaminationTopK}
         ORDER BY eval_doc, rk""",
    "q_boilerplate_chunks" ->
      s"""WITH ch AS (SELECT doc_id, source,
            substr(md5(array_to_string(
              list_slice(t, s+1, s+${TextOps.ChunkSize}), ' ')), 1, 8) AS chunk_hash
          FROM (SELECT doc_id, source, t,
              unnest(generate_series(0, len(t)-1, ${TextOps.ChunkStride})) AS s
            FROM (SELECT doc_id, source, $tokSql AS t FROM documents))),
         bo AS (SELECT chunk_hash FROM ch GROUP BY chunk_hash
           HAVING count(DISTINCT doc_id) >= ${TextOps.BoilerMinDocs})
         SELECT source, count(*) AS n_chunks,
           CAST(sum(CASE WHEN bo.chunk_hash IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_boiler_chunks,
           CAST(count(DISTINCT CASE WHEN bo.chunk_hash IS NOT NULL
             THEN ch.chunk_hash END) AS BIGINT) AS n_boiler_hashes,
           CAST(sum(CASE WHEN bo.chunk_hash IS NOT NULL THEN 1 ELSE 0 END)
             * 10000 // count(*) AS BIGINT) AS boiler_bp
         FROM ch LEFT JOIN bo USING (chunk_hash)
         GROUP BY source ORDER BY source""",
    // The ratio is ONE IEEE division of exact integer sums — emitted
    // UNROUNDED per the q_centroid_sim policy (bit-identical operands →
    // bit-identical quotient; rounding would break .xxxx5 boundaries).
    "q_weighted_jaccard" ->
      s"""WITH pr AS ($minhashPairsSql),
         t AS (SELECT doc_id, unnest(t) AS term
           FROM (SELECT doc_id, $tokSql AS t FROM documents)),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         sh AS (SELECT pr.doc_a, pr.doc_b,
             CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS w_inter
           FROM pr JOIN tf ta ON ta.doc_id = pr.doc_a
                   JOIN tf tb ON tb.doc_id = pr.doc_b AND tb.term = ta.term
           GROUP BY 1, 2)
         SELECT pr.doc_a, pr.doc_b, pr.jaccard,
           CAST(coalesce(w_inter, 0) AS BIGINT) AS w_inter,
           coalesce(w_inter, 0)::DOUBLE
             / (da.dl + db.dl - coalesce(w_inter, 0)) AS w_jaccard
         FROM pr LEFT JOIN sh ON sh.doc_a = pr.doc_a AND sh.doc_b = pr.doc_b
           JOIN dl da ON da.doc_id = pr.doc_a
           JOIN dl db ON db.doc_id = pr.doc_b
         ORDER BY w_jaccard DESC, pr.doc_a, pr.doc_b""",
    "q_lang_confusion" ->
      s"""WITH lid AS (SELECT declared_lang, pred_lang FROM ($langIdSql)),
         pd AS (SELECT declared_lang, CAST(count(*) AS BIGINT) AS decl_docs
           FROM lid GROUP BY 1),
         cm AS (SELECT declared_lang, pred_lang, count(*) AS n_docs
           FROM lid GROUP BY 1, 2)
         SELECT cm.declared_lang, pred_lang, n_docs,
           CAST(n_docs * 10000 // decl_docs AS BIGINT) AS share_bp,
           CAST(cm.declared_lang = pred_lang AS BIGINT) AS is_match
         FROM cm JOIN pd USING (declared_lang)
         ORDER BY 1, 2""",
    // near-dup column = the batch pair frame restricted to cross pairs —
    // the identity q_dedup_incremental's spec proves (probe ≡ batch)
    "q_shard_ingest_report" ->
      s"""WITH pr AS ($minhashPairsSql),
         nd AS (SELECT doc_id, source, md5(text) AS ch,
             CAST(len($tokSql) AS BIGINT) AS nt
           FROM documents WHERE doc_id % ${DedupOps.IncrementalShardMod} = 0),
         hh AS (SELECT DISTINCT md5(text) AS ch FROM documents
           WHERE doc_id % ${DedupOps.IncrementalShardMod} <> 0),
         ex AS (SELECT DISTINCT doc_id FROM nd WHERE ch IN (SELECT ch FROM hh)),
         nr AS (SELECT DISTINCT d AS doc_id FROM (
             SELECT unnest([doc_a, doc_b]) AS d FROM pr
             WHERE jaccard >= ${DedupOps.ClusterJaccard}
               AND ((doc_a % ${DedupOps.IncrementalShardMod} = 0)
                 <> (doc_b % ${DedupOps.IncrementalShardMod} = 0)))
           WHERE d % ${DedupOps.IncrementalShardMod} = 0)
         SELECT source, count(*) AS n_new_docs,
           CAST(sum(nt) AS BIGINT) AS new_tokens,
           CAST(sum(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_exact_dup,
           CAST(sum(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_near_dup,
           CAST(sum(CASE WHEN ex.doc_id IS NULL AND nr.doc_id IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN ex.doc_id IS NULL AND nr.doc_id IS NULL
             THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS novel_bp
         FROM nd LEFT JOIN ex USING (doc_id) LEFT JOIN nr USING (doc_id)
         GROUP BY source ORDER BY source""",
    // The 3σ decision is the pure-integer comparison (n·x − Σx)² >
    // 9·(n·Σx² − (Σx)²); z² is ONE IEEE division of the two exact decimal
    // operands (unrounded, q_centroid_sim policy). Every decimal product
    // is cast so its TYPE stays inside DECIMAL(38) — DuckDB rejects wider
    // products at bind time.
    "q_embed_outliers" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
            CAST(floor(sqrt(list_sum(list_transform(embedding,
              x -> (x::DOUBLE)*(x::DOUBLE)))) * 1000000) AS DECIMAL(19,0)) AS x
          FROM embeddings),
         st AS (SELECT label, CAST(count(*) AS DECIMAL(18,0)) AS n,
             CAST(sum(x) AS DECIMAL(19,0)) AS s1,
             CAST(sum(x*x) AS DECIMAL(19,0)) AS s2
           FROM e GROUP BY 1),
         j AS (SELECT vec_id, e.label, x,
             CAST(n*x - s1 AS DECIMAL(19,0)) AS dev,
             CAST(CAST(n*s2 AS DECIMAL(37,0)) - CAST(s1*s1 AS DECIMAL(37,0))
               AS DECIMAL(37,0)) AS rhs
           FROM e JOIN st USING (label))
         SELECT vec_id, label, CAST(x AS BIGINT) AS norm_q,
           CASE WHEN rhs = 0 THEN 0.0
             ELSE CAST(CAST(dev*dev AS DECIMAL(38,0)) AS DOUBLE)
               / CAST(rhs AS DOUBLE) END AS z2,
           CAST(CASE WHEN rhs = 0 THEN FALSE
             ELSE CAST(dev*dev AS DECIMAL(38,0)) > CAST(rhs * 9 AS DECIMAL(38,0))
             END AS BIGINT) AS is_outlier
         FROM j ORDER BY vec_id""",
  )

  /** Oracle for q_corr_matrix, generated from the same feature list the
    * operator uses so the two can never drift: exact DECIMAL sums of the
    * per-user LONG features, then the closed-form Pearson ratio in
    * double with the same operand order as the Spark side.
    */
  /** The per-user feature aggregation both [[corrMatrixSql]] and
    * [[mahalanobisSql]] build on — one definition so the oracles can't
    * drift from each other (they mirror StatsOps.userFeatures).
    */
  private val featSelSql: String = Seq(
    "count(*) AS n_events",
    "count(DISTINCT event_type) AS n_types",
    "count(DISTINCT CAST(ts AS DATE)) AS n_days",
    """CAST(sum(CASE WHEN EXTRACT(hour FROM ts) < 8
        OR EXTRACT(hour FROM ts) > 18 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_after_hours""",
    """CAST(sum(CASE WHEN isodow(ts)-1 >= 5 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_weekend""").mkString(",\n           ")

  private def corrMatrixSql: String = {
    val fs = graft.operators.StatsOps.CorrFeatures
    val featSel = featSelSql
    def d(f: String) = s"CAST($f AS DECIMAL(18,0))"
    val sums = (fs.map(f => s"sum(${d(f)}) AS s_$f") ++
      fs.map(f => s"sum(${d(f)} * ${d(f)}) AS ss_$f") ++
      (for (i <- fs.indices; j <- fs.indices if i < j)
        yield s"sum(${d(fs(i))} * ${d(fs(j))}) AS sx_${fs(i)}_${fs(j)}"))
      .mkString(",\n             ")
    def dbl(c: String) = s"CAST($c AS DOUBLE)"
    val rows = (for (i <- fs.indices; j <- fs.indices if i < j) yield {
      val (a, b) = (fs(i), fs(j))
      val varA = s"""(${dbl("n")} * ${dbl(s"ss_$a")}
                 - ${dbl(s"s_$a")} * ${dbl(s"s_$a")})"""
      val varB = s"""(${dbl("n")} * ${dbl(s"ss_$b")}
                 - ${dbl(s"s_$b")} * ${dbl(s"s_$b")})"""
      s"""SELECT '$a' AS feat_a, '$b' AS feat_b,
           CASE WHEN $varA > 0 AND $varB > 0 THEN
             round((${dbl("n")} * ${dbl(s"sx_${a}_$b")}
                 - ${dbl(s"s_$a")} * ${dbl(s"s_$b")})
               / sqrt($varA * $varB), 4)
           ELSE NULL END AS corr
         FROM s"""
    }).mkString("\n UNION ALL ")
    s"""WITH u AS (SELECT user_id,
           $featSel
         FROM events GROUP BY user_id),
       s AS (SELECT count(*) AS n,
             $sums
         FROM u)
       SELECT * FROM ($rows) ORDER BY feat_a, feat_b"""
  }

  /** Oracle for q_mahalanobis, generated from the same feature list the
    * operator uses: exact DECIMAL sums feed per-feature (μ, σ²) on ONE
    * stats row, the distance is per-row scalar arithmetic, zero-variance
    * features contribute 0 — mirroring StatsOps.qMahalanobis term for
    * term.
    */
  private def mahalanobisSql: String = {
    val fs = graft.operators.StatsOps.CorrFeatures
    def d(f: String) = s"CAST($f AS DECIMAL(18,0))"
    val sums = (fs.map(f => s"sum(${d(f)}) AS s_$f") ++
      fs.map(f => s"sum(${d(f)} * ${d(f)}) AS ss_$f")).mkString(",\n             ")
    def dbl(c: String) = s"CAST($c AS DOUBLE)"
    val dist = fs.map { f =>
      val m = s"${dbl(s"s_$f")} / ${dbl("n")}"
      val v = s"""(${dbl(s"ss_$f")} - ${dbl(s"s_$f")} * ${dbl(s"s_$f")}
               / ${dbl("n")}) / (${dbl("n")} - 1.0)"""
      s"""CASE WHEN $v > 0 THEN (${dbl(f)} - $m) * (${dbl(f)} - $m) / ($v)
           ELSE 0.0 END"""
    }.mkString("\n         + ")
    val cut = graft.operators.StatsOps.Chi2k5p99
    s"""WITH u AS (SELECT user_id,
           $featSelSql
         FROM events GROUP BY user_id),
       s AS (SELECT count(*) AS n,
             $sums
         FROM u)
       SELECT user_id, ${fs.mkString(", ")},
         round($dist, 4) AS m_dist2,
         CAST(CASE WHEN ($dist) > $cut THEN 1 ELSE 0 END AS BIGINT)
           AS is_outlier
       FROM u CROSS JOIN s ORDER BY user_id"""
  }

  /** Oracle for q_ref_integrity: one LEFT-JOIN audit per FK edge,
    * generated from the same (child, fk, parent, pk) list shape the
    * operator unions over.
    */
  private def refIntegritySql: String = {
    val edges = Seq(
      ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
      ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
    edges.map { case (rel, child, fk, parent, pk) =>
      s"""SELECT '$rel' AS relation,
           count($fk) AS fk_rows,
           CAST(sum(CASE WHEN $fk IS NOT NULL AND $pk IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
           CASE WHEN count($fk) = 0 THEN 0.0
             ELSE round(CAST(sum(CASE WHEN $fk IS NOT NULL AND $pk IS NULL
               THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count($fk) AS DOUBLE), 4)
           END AS orphan_pct
         FROM $child LEFT JOIN $parent ON $fk = $pk"""
    }.mkString("SELECT * FROM (\n", "\n UNION ALL ", "\n) ORDER BY relation")
  }
}
