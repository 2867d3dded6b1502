package graft.tools

import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.SparkEntry

/** Writes PLANS.md: the formatted physical plan of each flagship
  * query, so plan quality (pushdown, pruning, broadcasts, exchange
  * counts, codegen spans) is reviewable without running Spark.
  *
  * Usage: runMain graft.tools.ExplainDump [sfDir] [outFile]
  */
object ExplainDump {
  private val flagship = Seq(
    "q1_agg", "q3_join_agg", "q5_multi_join", "q_cdc_upsert",
    "q_cdc_parse_avro",
    "q_cdc_compact", "q_asof_custom", "q_dedup_minhash",
    "q_dedup_embedding_lsh", "q_ngram_jaccard", "q_ann_brute",
    "q_ann_ivf", "q_topk_freq", "q_hll_distinct", "q_quantile_sketch",
    "q_pack_sequences", "q_sessionize", "q_containment_pairs",
    "q_bloom_contamination", "q_semantic_dedup", "q_incremental_dedup",
    "q_global_shuffle", "q_bottomk_sample", "q_pii_redact",
    "q_embedding_outliers", "q_rarity_score", "q_mixture_apply",
    "q_curriculum_order", "q_mm_frames", "q_big_orders", "q_small_qty",
    "q_ann_pq", "q_ann_ivfpq", "q_min_cost", "q_solo_returns", "q_zorder_key",
    "q_custdist", "q_supplier_variety", "q_idle_rich", "q_priority_count",
    "q_seg_boilerplate", "q_doc_keywords", "q_word_pairs",
    "q_shipmode_priority", "q_promo_share", "q_disjunctive_join",
    "q_top_supplier", "q_cluster_sizes", "q_group_topk",
    "q_seg_clean", "q_returned_customers",
    "q_chunk_overlap", "q_revenue_share", "q_funnel",
    "q_substring_dup", "q_sketch_overlap", "q_collocations",
    "q_interval_merge", "q_textrank", "q_cross_neardup", "q_pps_sample",
    "q_volume_shipping", "q_market_share", "q_product_profit",
    "q_important_stock", "q_dominant_suppliers",
    "q_cohort_retention", "q_record_linkage", "q_pareto_front",
    "q_triangles",
    "q_gap_fill", "q_anomaly", "q_ewma", "q_seasonality",
    "q_markov_transitions", "q_event_paths", "q_ab_compare",
    "q_tfidf", "q_profile", "q_sliding_distinct", "q_rfm",
    "q_benford", "q_source_gini", "q_knn_label", "q_table_diff",
    "q_sliding_hll", "q_sliding_topk", "q_copurchase",
    "q_attribution", "q_changepoint", "q_user_overlap", "q_kcore",
    "q_mm_phash", "q_bpe_merges", "q_cms_freq", "q_hybrid_search",
    "q_item_sim", "q_dedup_eval", "q_ann_eval",
    "q_kanonymity", "q_fk_audit", "q_winsorize", "q_itemsets3",
    "q_tokenizer_apply", "q_split_leakage", "q_pagerank",
    "q_decile_lift", "q_basket_rules", "q_cdc_scd2",
    "q_key_skew", "q_join_size_est", "q_lateness_audit",
    "q_robust_stats", "q_equidepth_bins", "q_robust_anomaly",
    "q_communities", "q_export_shards", "q_session_features",
    "q_quantile_tdigest", "q_text_langid", "q_bootstrap_ci",
    "q_negative_sample", "q_bm25",
    "q_lm_backoff", "q_span_mask", "q_ngram_coverage",
    "q_quality_confusion", "q_pack_eval", "q_tokenizer_fertility",
    "q_source_ablation", "q_dataset_card",
    // round-8 additions
    "q_csv_roundtrip", "q_orc_roundtrip", "q_store_timetravel",
    "q_store_changes", "q_cdc_route", "q_partitioned_scan",
    "q_bucketed_join", "q_typed_agg", "q_sql_surface",
    "q_dedup_edit", "q_substring_excise",
    // round-9 additions
    "q_lm_score",
    // round-10 additions
    "q_memorization", "q_dup_weights", "q_lm_buckets", "q_dsir_weights",
    "q_holt", "q_novelty_curve", "q_zipf_octaves", "q_burst_detect",
    "q_survival", "q_acf", "q_schema_evolution", "q_cluster_terms",
    "q_stats_drift", "q_dedup_sweep",
    // round-12 additions (the lazy-frame ones — q_bfs_levels runs
    // its search at construction, no single reviewable plan)
    "q_theil_sen", "q_ks_drift", "q_mutual_info", "q_l_diversity",
    "q_embargo_split", "q_token_entropy", "q_stl_decompose",
    "q_assortativity", "q_twap", "q_clustering_coef",
    // round-13 additions (lazy frames only — q_rank_migration and
    // q_connected_components run rank/fixpoint jobs at construction)
    "q_domain_cap", "q_reservoir_sample", "q_rouge_overlap",
    "q_hapax_rate", "q_embed_pool", "q_embed_quantize",
    "q_text_normalize", "q_simpson_diversity", "q_lexicon_flags",
    "q_rbo_sources", "q_vector_norm_audit", "q_label_centroid_dist",
    "q_dp_counts", "q_degree_hist", "q_decay_score",
    "q_order_gap_stats", "q_chi2_contingency", "q_sliding_median",
    "q_tail_boilerplate", "q_partition_balance", "q_psi_drift",
    "q_table_checksum", "q_window_cooccur", "q_hits_scores",
    "q_dlq_replay", "q_grouped_mode", "q_burstiness",
    "q_offset_audit", "q_time_heatmap",
    // round-14 additions (lazy frames)
    "q_mm_shots")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.local(cores = 8, appName = "graft-explain")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries\n\n")
    sb.append(s"Generated by `graft.tools.ExplainDump` on `$sfDir`. ")
    sb.append("What to look for: `PushedFilters`/`ReadSchema` on scans, " +
      "`BroadcastHashJoin` for dims, exchange counts, `*(n)` codegen spans.\n")
    flagship.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[ ExplainDump ] wrote ${flagship.size} plans to $out")
    spark.stop()
  }
}
