package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes PLANS.md: `explain("formatted")` output for the headline queries,
  * so the physical shape (broadcasts, pushed filters, pruned schemas,
  * partial aggregation, exchange reuse) is reviewable without running Spark.
  * Run: `sbt "runMain graft.PlanDump"` (regenerate after plan-affecting
  * changes). Ids that only count up per JVM are normalized (see
  * [[normalizeIds]]), so a diff of two PLANS.md files shows only plan
  * changes. */
object PlanDump {
  val Headline = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_chunk_boundaries_dist", "q_chunk_intervals", "q_dedup_minhash",
    "q_dedup_jaccard", "q_sim_topk_brute", "q_sim_topk_lsh", "q_sim_topk_ivf",
    "q_asof_join", "q_window_events", "q_topk_per_group", "q_curation",
    "q_curation_v2", "q_rare_tokens",
    "q_sample_stratified", "q_quota_cap", "q_vec_quantize",
    "q_decontaminate", "q_containment", "q_seq_pack", "q_vocab",
    "q_text_normalize", "q_vec_project", "q_merge_replace", "q_scd2",
    "q_bloom_join", "q_dedup_incremental", "q_sample_weighted",
    "q_salted_join", "q_dedup_nearhist", "q_decontaminate_fuzzy",
    "q_lm_signal", "q_vec_pq", "q_vec_adc", "q_attribution", "q_curation_v3",
    "q_dedup_passage", "q_dedup_scrub", "q_scrub_pack", "q_zorder_layout",
    "q_corpus_overlap", "q_skew_report", "q_dedup_semantic", "q_mm_audio",
    "q_sim_topk_ivfpq", "q_subqueries", "q_vec_rpq", "q_classifier_score",
    "q_chunk_cdc", "q_dedup_editdist", "q_sim_topk_ivfrpq", "q_vec_assign_new",
    "q_chunk_cdc_dedup", "q_drift_report",
    "q_hard_negatives_ivf", "q_ivf_recall_report", "q_mmr_diverse",
    "q_dedup_minhash_auto", "q_gopher_rules", "q_sample_epochs",
    "q_dsir_select", "q_centroid_filter", "q_collocations",
    "q_blocklist_filter", "q_compaction_plan", "q_compaction_incr",
    "q_curation_v5", "q_domain_report", "q_keywords", "q_hilbert_layout",
    "q_join_cardinality", "q_fertility",
    "q2_min_cost_supplier", "q9_product_profit", "q16_supplier_count",
    "q20_promotion_suppliers", "q_sim_maxsim", "q_bm25_topk",
    "q_bootstrap_ci", "q_lexical_diversity", "q_kmv_sketch",
    "q_incremental_agg_retract", "q_quantile_norm",
    "q_transition_matrix", "q_spearman", "q_inverted_index",
    "q_fim_transform", "q_ewma_daily", "q_rolling_wau", "q_benford_audit",
    "q_mannwhitney", "q_dedup_survivors_quality", "q_peak_concurrency",
    "q_event_anomaly", "q_trend_report", "q_ab_test",
    // round-7d lanes
    "q_quantile_sketch", "q_quantile_by_group", "q_length_buckets",
    "q_shard_tokens", "q_url_canon", "q_drift_timeline", "q_pii_luhn",
    "q_neg_samples", "q_curation_v6",
    // round-7f lanes
    "q_bucketed_join", "q_survival_km", "q_calibration_bins",
    "q_vec_norm_audit",
    // round-7g lanes
    "q_token_gini", "q_token_diversity", "q_anova_chars",
    "q_cov_matrix", "q_isotonic_fit",
    // round-7h lanes
    "q_chi2_cells", "q_chi2_summary", "q_pca_project", "q_kcore",
    // round-7i lanes
    "q_table_profile", "q_pr_curve", "q_sample_ess",
    "q_cohens_kappa", "q_weighted_pctl",
    // round-8 lanes
    "q_welch_ttest", "q_t_closeness", "q_target_encode", "q_acf_daily",
    "q_holt_forecast", "q_rec_eval", "q_dpo_pairs", "q_chat_assemble",
    "q_markov_attribution", "q_mixture_rake", "q_ab_power",
    "q_cohort_ltv", "q_stickiness", "q_rfm_segments",
    // round-9 lanes
    "q_table_profile_approx", "q_sim_topk_sq")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline queries (sf0.001, AQE initial plans)\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"`. Things to look for:\n")
    sb.append("`BroadcastHashJoin` on every dimension join, `PushedFilters`/`ReadSchema`\n")
    sb.append("on parquet scans, partial+final `HashAggregate` pairs, `ReusedExchange`\n")
    sb.append("in the distributed chunk plan.\n")
    Headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(normalizeIds(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${Headline.size} queries)")
    spark.stop()
  }

  /** Tokens that differ between any two runs of the same plan, each with a
    * fixed stand-in: expression ids (`vec_id#123L`), exchange `plan_id=`s,
    * RDD ids, lambda-variable suffixes (`lambda x_181`) — all counted up
    * per JVM — object identity hashes (`@60af38ec`), JVM lambda class
    * names, the app id inside temp paths, and the source line of an RDD's
    * call site. */
  private val Volatile = Seq(
    "#\\d+" -> "#_",
    "plan_id=\\d+" -> "plan_id=_",
    "RDD\\[\\d+\\]" -> "RDD[_]",
    "(lambda [a-z]+)_\\d+" -> "$1_",
    "@[0-9a-f]{5,8}\\b" -> "@_",
    "\\$\\$Lambda\\$\\d+/0x[0-9a-f]+" -> "\\$\\$Lambda\\$_",
    "local([-_])\\d{10,}" -> "local$1_",
    "\\.scala:\\d+" -> ".scala:_")

  /** `plan` with every [[Volatile]] token replaced, so a diff of two
    * PLANS.md files shows only plan changes. */
  def normalizeIds(plan: String): String =
    Volatile.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }
}
