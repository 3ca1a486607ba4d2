package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

/** Pre-flight gate over EVERY declared query entry — the round-6
  * post-mortem: two sqlfd texts shipped with columns that don't exist
  * and died on first execution at the driver, because nothing in the
  * suite ran them. This spec makes "declared" imply "executed at least
  * once at sf0.001" for all of SparkEntry.queries, and folds in the
  * physical-plan audit (the former `AuditWindows` main, deleted after
  * commit 464cec7) so a scale anti-pattern —
  * unpartitioned window, cartesian product, broadcast nested-loop —
  * can't slip in unannotated either.
  */
class SmokeAllQueriesSpec extends AnyFunSuite {
  lazy val spark = graft.etl.TestSessions.spark
  private val sf = "/root/testdata/sf0.001"

  /** Known-bounded plan shapes, each justified in SURVEY §12: the flag
    * fires on an input that is O(constant) or O(groups), never O(data).
    * Anything NOT listed here that trips a flag fails the suite. */
  private val planAllow: Map[String, Set[String]] = Map(
    "a17_spearman" -> Set("GLOBALWIN"),
    "a22_hll_intersection" -> Set("BNLJ"),
    "a25_welch_ttest" -> Set("BNLJ"),
    "a28_cramers_v" -> Set("BNLJ"),
    "a29_mann_whitney" -> Set("GLOBALWIN"),
    "a30_poisson_bootstrap" -> Set("GLOBALWIN", "BNLJ"),
    "a32_kendall_tau" -> Set("BNLJ"),
    "a33_theil_sen" -> Set("BNLJ"),
    "a34_bh_fdr" -> Set("BNLJ", "GLOBALWIN"),
    "a37_gini_split" -> Set("GLOBALWIN"),
    "a39_jackknife" -> Set("BNLJ"),
    "a42_permutation_test" -> Set("BNLJ"),
    "a48_control_chart" -> Set("GLOBALWIN", "BNLJ"),
    "a54_kruskal_wallis" -> Set("BNLJ"),
    // calendar-bounded month-axis windows (≤ ~84 rows at any SF)
    "a65_runs_test" -> Set("GLOBALWIN"),
    "a66_durbin_watson" -> Set("GLOBALWIN", "BNLJ"),
    "a69_ljung_box" -> Set("GLOBALWIN", "BNLJ"),
    // lang-domain-bounded allocation windows (≤ a few dozen rows)
    "p_mixture_temperature" -> Set("GLOBALWIN"),
    // month-axis candidate ranks + three 1-row chosen-split broadcasts
    "a70_binary_segmentation" -> Set("GLOBALWIN", "BNLJ"),
    // 2-row model-arm window for the shared naive-MAE denominator
    "ml_forecast_eval" -> Set("GLOBALWIN", "BNLJ"),
    // 84x84 bounded month-pair lattice + 1-row tie-stats broadcast
    "a71_mann_kendall" -> Set("BNLJ"),
    // month-axis residual ranks + 1-row params/quantile broadcasts
    "ml_conformal_interval" -> Set("GLOBALWIN", "BNLJ"),
    // month-count window + the 3-row size-axis regression window
    "a72_hurst_rs" -> Set("GLOBALWIN"),
    // train-half order-statistic ranks + 3-row quantile broadcast
    "w47_pinball_eval" -> Set("GLOBALWIN", "BNLJ"),
    // 1-row frozen-mean broadcast into the moment pass
    "a73_jarque_bera" -> Set("BNLJ"),
    "w44_cross_correlation" -> Set("GLOBALWIN"),
    // category-domain-bounded cell tables (≤ 5×25 rows)
    "ml_mutual_info" -> Set("GLOBALWIN"),
    // one-row corpus total broadcast (same class as ml_pr_auc)
    "x20_t_closeness" -> Set("BNLJ"),
    "ann_knn_classify" -> Set("BNLJ"),
    "ann_mips_topk" -> Set("BNLJ"),
    "ann_range_search" -> Set("GLOBALWIN"),
    "b2_equidepth_histogram" -> Set("BNLJ"),
    "d_phrase_mining" -> Set("BNLJ"),
    "d_source_overlap" -> Set("BNLJ"),
    "dq_benford" -> Set("BNLJ"),
    "dq_completeness_trend" -> Set("GLOBALWIN"),
    "dq_ks_test" -> Set("BNLJ"),
    "dq_psi_drift" -> Set("BNLJ"),
    "ev_engagement_index" -> Set("BNLJ"),
    "ev_funnel_windows" -> Set("BNLJ"),
    "ev_hourly_profile" -> Set("GLOBALWIN"),
    "ev_next_event_eval" -> Set("BNLJ"),
    "ev_power_users" -> Set("GLOBALWIN", "BNLJ"),
    "ev_survival_km" -> Set("BNLJ", "GLOBALWIN"),
    "ev_uplift_did" -> Set("BNLJ"),
    "ev_user_similarity" -> Set("GLOBALWIN"),
    "eval_bradley_terry" -> Set("BNLJ"),
    "g_adamic_adar" -> Set("GLOBALWIN"),
    "g_conductance" -> Set("BNLJ"),
    "g_hits" -> Set("GLOBALWIN"),
    "g_jaccard_neighbors" -> Set("GLOBALWIN"),
    "g_luby_mis" -> Set("BNLJ"),
    "g_ppr" -> Set("BNLJ", "GLOBALWIN"),
    "g_triangle_count" -> Set("BNLJ"),
    "j29_churn_anti_join" -> Set("BNLJ"),
    "j9_range_band_join" -> Set("BNLJ"),
    "ml_calibration_bins" -> Set("BNLJ"),
    "ml_cluster_quality" -> Set("BNLJ"),
    "ml_eval_report" -> Set("BNLJ"),
    "ml_gbt_stumps" -> Set("BNLJ", "GLOBALWIN"),
    "ml_kfold_cv" -> Set("GLOBALWIN", "BNLJ"),
    "ml_learning_curve" -> Set("GLOBALWIN", "BNLJ"),
    "ml_pca_power" -> Set("BNLJ"),
    // one-row totals broadcast into the per-threshold term — O(1) side
    "ml_pr_auc" -> Set("BNLJ"),
    // the raw-SQL front door renders the user's literal NTILE text; the
    // scale-safe quartile path is b2_equidepth_histogram's two-phase plan
    "sqlfd_ntile" -> Set("GLOBALWIN"),
    "ml_svm_hinge" -> Set("BNLJ"),
    "mm_batch_manifest" -> Set("GLOBALWIN"),
    "o4_null_ordering" -> Set("GLOBALWIN"),
    "p_budget_waterfill" -> Set("GLOBALWIN", "BNLJ"),
    "p_curriculum_ordering" -> Set("BNLJ"),
    "p_importance_weights" -> Set("BNLJ"),
    "p_leakage_safe_split" -> Set("BNLJ"),
    "p_mixture_sampling" -> Set("BNLJ"),
    "p_weighted_sample" -> Set("GLOBALWIN"),
    "pipe_dataset_card" -> Set("BNLJ"),
    "pipe_hybrid_search" -> Set("BNLJ"),
    "q06_rank_top_parts" -> Set("GLOBALWIN"),
    "q09_cumulative_monthly" -> Set("GLOBALWIN"),
    "q12_part_to_whole_region" -> Set("GLOBALWIN"),
    "q13_report_customers" -> Set("BNLJ"),
    "q18_moving_frame" -> Set("GLOBALWIN"),
    "q19_basket_affinity" -> Set("BNLJ"),
    "q20_rfm_segmentation" -> Set("BNLJ"),
    "q21_pareto_abc" -> Set("BNLJ"),
    "q25_percent_of_parent" -> Set("GLOBALWIN"),
    "q26_abc_xyz" -> Set("BNLJ"),
    "q29_cusum_shift" -> Set("BNLJ", "GLOBALWIN"),
    "q33_segment_migration" -> Set("BNLJ"),
    "q36_decile_lift" -> Set("BNLJ", "GLOBALWIN"),
    "q47_lifecycle_stages" -> Set("BNLJ"),
    "s12_profile_table" -> Set("BNLJ"),
    "s31_dict_advisor" -> Set("BNLJ"),
    "s32_rle_advisor" -> Set("GLOBALWIN"),
    "s_bm25_search" -> Set("BNLJ"),
    "sqlfd_part_to_whole" -> Set("GLOBALWIN"),
    "sqlfd_window_lag" -> Set("GLOBALWIN"),
    "t_bpe_merges" -> Set("GLOBALWIN"),
    "t_embedding_outliers" -> Set("GLOBALWIN"),
    "t_heaps_fit" -> Set("GLOBALWIN"),
    "t_js_divergence" -> Set("BNLJ"),
    "t_keyphrase_rake" -> Set("GLOBALWIN"),
    "t_nb_classify" -> Set("BNLJ"),
    "t_ngram_novelty" -> Set("BNLJ"),
    "t_pmi_pairs" -> Set("GLOBALWIN"),
    "t_style_fingerprint" -> Set("GLOBALWIN"),
    "t_tfidf_topterms" -> Set("BNLJ"),
    "t_unigram_logprob" -> Set("BNLJ"),
    "t_zipf_fit" -> Set("GLOBALWIN"),
    "w20_max_drawdown" -> Set("GLOBALWIN"),
    "w21_rolling_corr" -> Set("GLOBALWIN"),
    "w2_surrogate_keys" -> Set("GLOBALWIN"),
    "w32_seasonal_indices" -> Set("GLOBALWIN", "BNLJ"),
    "x13_retention_sweep" -> Set("BNLJ"),
    "x19_erasure_proof" -> Set("GLOBALWIN", "BNLJ"))

  private def flags(p: SparkPlan): Seq[String] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flags(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      flags(q.plan)
    case w: WindowExec if w.partitionSpec.isEmpty =>
      Seq("GLOBALWIN") ++ w.children.flatMap(flags)
    case c: org.apache.spark.sql.execution.joins.CartesianProductExec =>
      Seq("CARTESIAN") ++ c.children.flatMap(flags)
    case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
      Seq("BNLJ") ++ b.children.flatMap(flags)
    case other => other.children.flatMap(flags)
  }

  test("every query entry has an oracle (driver-verifiable)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty,
      s"entries without oracleSql: ${missing.toSeq.sorted.mkString(", ")}")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracleSql without a query: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("no entry name is defined by more than one pack (shadowing guard)") {
    // `++` merges silently let a later pack SHADOW an earlier entry's
    // definition — the ledger count stays right while one
    // implementation quietly stops being tested (r9 near-miss)
    assert(SparkEntry.duplicateNames.isEmpty,
      s"duplicated entry names: ${SparkEntry.duplicateNames.mkString(", ")}")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"smoke: $name") {
      val df = fn(spark, sf)
      df.count() // any analysis or runtime error fails here, not at the driver
      val hits = flags(df.queryExecution.executedPlan).toSet
      val allowed = planAllow.getOrElse(name, Set.empty)
      assert((hits -- allowed).isEmpty,
        s"$name: unannotated plan flags ${(hits -- allowed).mkString(",")} " +
          "— justify in SURVEY §12 and add to planAllow, or fix the plan")
    }
  }
}
