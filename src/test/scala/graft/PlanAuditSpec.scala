package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan audit over EVERY declared query: the "would this survive
  * 100x" regression guard. Runs each plan at sf0.001 and rejects
  * plan shapes that explode at scale.
  */
class PlanAuditSpec extends SparkSpec {

  // Non-equi broadcast joins that are *by design*: q_ann_brute broadcasts
  // the tiny probe set against the corpus (self-exclusion is a !=
  // predicate); q_zscore/q_ensemble cross-join ONE broadcast row of
  // global stats onto the feature matrix. Both build sides are O(1)-to-
  // O(probes) regardless of corpus size.
  // q_rare_access_pmi cross-joins ONE broadcast row (the corpus total)
  // onto the pair counts — same O(1) build-side shape.
  // q_sketch_setops joins two ONE-ROW sketch aggregates; q22_dormant
  // cross-joins the ONE-ROW global average balance onto customer;
  // q_cooccurrence broadcasts the ONE-ROW pair-count total.
  // q11_important and q_rfm each cross-join ONE broadcast row (the
  // global value total / the corpus max timestamp) onto a per-key frame.
  private val nestedLoopAllowed =
    Set("q_ann_brute", "q_zscore_anomaly", "q_ensemble_vote", "q_anomaly_report",
      "q_tfidf", "q_bm25", "q_rare_access_pmi", "q_sketch_setops", "q22_dormant",
      "q_cooccurrence", "q11_important", "q_rfm", "q_unigram_surprisal",
      // same ONE-ROW vocab-size broadcast cross as q_unigram_surprisal
      "q_bigram_surprisal",
      "q_assoc_rules",
      // q_skyline's dominance refine is a non-equi anti-join over the
      // candidate frontier — O(skyline), not O(n), by construction
      "q_skyline",
      // one-row broadcast crosses: the grand-total row / the max-day row
      "q_pareto_users", "q_dau_wau",
      // two-phase-rank consumers cross-join ONE broadcast row (the total
      // count that sets the contamination cut) and q_rfm_approx crosses
      // the ONE-ROW quantile-cutoff aggregate — all O(1) build sides
      "q_eval_metrics", "q_quantile_outlier", "q_recon_error",
      "q_iforest_score", "q_rfm_approx",
      // one-row broadcast cross: the per-dim (min, max) codebook arrays
      "q_embed_quantize",
      // one-row broadcast cross: the corpus token total + source count
      // (q_source_mix) / the (total, max) token row (q_temperature_mix)
      "q_source_mix", "q_temperature_mix",
      // one-row broadcast crosses: the date-midpoint row + the
      // period-total row (q_psi); the L1-norm scalar per HITS half-step
      "q_psi", "q_hits",
      // one-row broadcast crosses: the digit grand total / the
      // contingency totals row
      "q_benford", "q_chi2",
      // one-row broadcast crosses: the |langs|-row smoothing grid +
      // one-row corpus normalizer (KL), the one-row probe embedding (MMR
      // shortlist scan)
      "q_kl_divergence", "q_mmr_sample",
      // one-row broadcast crosses: the contingency grand-total row
      // (MI / Cramér's V) and the 1-row (μ, σ²) stats frame the
      // per-user distance reads (Mahalanobis)
      "q_mutual_info", "q_cramers_v", "q_mahalanobis",
      // inherits q_zscore_anomaly's one-row global-stats cross (the
      // overlap table replays all three flag chains)
      "q_anomaly_overlap",
      // one-row broadcast cross: the corpus token total (the spectrum's
      // share-of-corpus denominator) — same O(1) build-side shape
      "q_token_freq_spectrum",
      // one-row broadcast cross: the 50th-smallest distance-bound scalar
      // (t0) the banded edit-distance verify reads (r16)
      "q_edit_distance")

  private def executed(name: String): DataFrame = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // let AQE finalize
    df
  }

  private def finalPlan(name: String): String =
    executed(name).queryExecution.executedPlan.toString

  // Exchanges (shuffles + broadcasts, reused ones excluded) each
  // batch_pipeline operation's final plan runs at sf0.001: the budget a
  // plan change may spend down but never exceed. q_zscore_anomaly and
  // q_dedup_minhash read Memo-pinned frames, whose exchanges run once
  // per session, inside the cached relation.
  private val exchangeBudget = Map(
    "q_preprocess" -> 1, "q_cumulative_users" -> 3, "q_ks_test" -> 3,
    "q_zscore_anomaly" -> 0, "q_bloom_join" -> 4, "q_quality_score" -> 2,
    "q_dedup_minhash" -> 1, "q_ann_brute" -> 3, "q_media_neardup" -> 5)

  test("batch_pipeline operations stay within their exchange budgets") {
    val over = exchangeBudget.toSeq.sorted.flatMap { case (name, budget) =>
      val x = Diag.exchanges(executed(name))
      Option.when(x.run > budget)(s"$name: $x > $budget")
    }
    assert(over.isEmpty, s"exchange budget exceeded: ${over.mkString("; ")}")
  }

  test("no query plans a cartesian product of non-scalar inputs") {
    val offenders = SparkEntry.queries.keys.filter { name =>
      val p = finalPlan(name)
      // a CartesianProduct is only tolerable against a 1-row side
      // (q_zscore's broadcast stats frame never triggers one)
      p.contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("broadcast nested-loop joins appear only where the build side is a bounded probe set") {
    val offenders = SparkEntry.queries.keys.filter { name =>
      !nestedLoopAllowed(name) && finalPlan(name).contains("BroadcastNestedLoopJoin")
    }
    assert(offenders.isEmpty, s"unexpected BNLJ in: $offenders")
  }

  test("behavioral aggregations keep map-side partial aggregation") {
    for (name <- Seq("q_high_activity", "q_activity_entropy", "q_user_features")) {
      val p = finalPlan(name)
      assert(p.contains("partial_count") || p.contains("partial_"),
        s"$name lost partial aggregation:\n$p")
    }
  }

  // Unpartitioned windows tolerated ONLY over provably-tiny frames:
  // RankOps.withGlobalRank's offset scan runs over the numParts-row
  // per-partition-totals aggregate (its consumers inherit that one
  // node); qFunnel3 ranks 3 step rows; q_cumulative_users ranks |days|
  // rows; q_attribution's share-of-total window covers |channels| rows.
  private val tinyFrameWindowAllowed =
    Set("q_funnel3", "q_cumulative_users", "q_attribution",
      // withGlobalRank consumers (numParts-row offset window):
      "q_zscore_anomaly", "q_quantile_outlier", "q_eval_metrics",
      "q_recon_error", "q_iforest_score", "q_roc_auc", "q_roc_points",
      "q_model_report", "q_roc_points_supervised", "q_pr_points", "q_pr_auc",
      "q_pareto_users", "q_rfm", "q_weighted_sample", "q_gini",
      // q_ks_test's ECDF window runs on the distinct-daily-count
      // support frame — tens of rows at any corpus size
      "q_ks_test",
      // detector composites: inherit the offset window from the
      // withGlobalRank-based members they vote over (no windows of
      // their own — MLOps has zero direct Window usage)
      "q_ensemble_vote", "q_anomaly_report",
      // withGlobalRank consumer (vocab ranking for the OLS head)
      "q_zipf_fit")

  test("unpartitioned windows appear only over provably-tiny frames") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.keys.filter { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val bare = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      bare.nonEmpty && !tinyFrameWindowAllowed(name)
    }
    assert(offenders.isEmpty,
      s"unpartitioned window over a data-sized frame in: $offenders")
  }

  test("rank-limit queries keep the WindowGroupLimit pushdown") {
    // Spark 4 plants partial group-limits below the shuffle for
    // row_number() <= k filters — the map-side top-k that makes
    // rank-per-key queries scale. A reformulated filter that stops the
    // pushdown silently reverts to full per-key sorts.
    assert(finalPlan("q_top_per_group").contains("WindowGroupLimit"),
      "q_top_per_group lost the WindowGroupLimit pushdown")
  }

  test("q_latest_snapshot keeps map-side max_by partial aggregation") {
    // r16 rewrote the window row_number()=1 argmax as a max_by aggregate:
    // the shuffle must carry one partial candidate per key per map task
    // (partial_max_by), not every version row through a sort+window.
    val p = finalPlan("q_latest_snapshot")
    assert(p.contains("partial_max_by"),
      s"q_latest_snapshot lost the map-side max_by partial aggregation:\n$p")
  }

  test("scans read only the columns the query needs") {
    // q_high_activity touches only user_id: the parquet ReadSchema must
    // not include the wide props payload.
    val p = finalPlan("q_high_activity")
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("props")),
      s"q_high_activity reads more than it needs:\n$readSchemas")
  }
}
