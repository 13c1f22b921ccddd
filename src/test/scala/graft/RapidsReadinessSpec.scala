package graft

import graft.plans.RapidsAudit

/** Pins the RAPIDS-readiness classification of every harness query
  * (COVERAGE.md §RAPIDS): which queries' optimized plans contain zero
  * conservative CPU-fallback triggers ("gpu-clean"), which contain
  * exactly the documented triggers, and which families are classified
  * by documentation because constructing them executes work (streaming
  * runs the micro-batch engine; the aria drain iterates). No GPU is
  * needed: the audit reads plans against the public spark-rapids
  * supported-ops categories, it never executes on one. The partition
  * must stay total — adding a query without classifying it fails here.
  */
class RapidsReadinessSpec extends SparkSpec {

  private val gpuClean = Set(
    "agg_collect_sorted", "agg_count_distribution", "agg_cube_pricing",
    "agg_distinct", "agg_grouping_sets", "agg_pivot_linestatus",
    "agg_abc_analysis", "stat_auc_rank", "text_code_ratio", "agg_rollup_customers", "agg_salted_skew", "agg_session_stats",
    "agg_sliding_events", "agg_tumbling_events", "agg_unpivot",
    "dedup_exact", "dq_benford", "dq_constraint_report", "dq_drift_report",
    "dq_freshness_report", "dq_ref_integrity",
    "fn_conditionals", "fn_null_safety", "dq_id_audit", "pipeline_fim_split", "stat_welch_ttest", "dq_dp_counts",
    "fn_date_parts", "fn_json_extract", "fn_regexp",
    "fn_scalar_string_math", "fn_string_extra",
    "graph_degree_histogram", "join_full_outer",
    "join_null_aware_anti",
    "join_lateral_topn", "join_salted_skew", "join_semi_anti",
    "layout_compaction_bins", "layout_zorder_stats", "mm_media_meta",
    "pipeline_epoch_shuffle", "pipeline_source_cap",
    "pipeline_shard_manifest",
    "q10_returned_items", "q11_part_value_share", "q12_priority_shipping",
    "q13_customer_distribution",
    "q14_promo_effect", "q16_supplier_variety", "q17_small_qty_revenue",
    "q18_large_orders", "q19_disjunctive_revenue", "q1_pricing_summary",
    "q20_volume_suppliers", "q22_idle_customers", "q2_min_supplier",
    "q3_shipping_priority", "q4_order_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_product_profit", "rec_copurchase_topk",
    "s11_full_scan_count", "s12_delete_antijoin",
    "s13_update_merge", "s14_table_sizes", "s2_point_lookup",
    "s5_upsert_union", "sample_bottomk", "sample_neyman",
    "sample_stratified", "sample_weighted",
    "set_ops_except", "set_ops_intersect", "src_bucketed_join",
    "src_csv_roundtrip", "src_dpp_prune", "src_json_roundtrip",
    "src_text_roundtrip", "src_binary_meta",
    "src_orc_roundtrip",
    "src_partitioned_prune", "src_schema_evolution", "stat_bootstrap_ci",
    "stat_column_profile", "stat_gini", "stat_mad_outliers", "stat_moments",
    "sub_correlated_scalar", "sub_exists", "sub_in_semijoin",
    "t10_op_chain_seq", "t2_batch_lookup_join", "t5_reserve_min_agg",
    "t6_hazard_flags", "t7_install_merge",
    "text_pii_redact", "text_split_assign",
    "url_parse_domains", "url_domain_stats", "url_exact_dedup",
    "url_domain_blocklist", "url_canonical_dedup", "ts_asof_join",
    "ts_asof_join_native", "ts_asof_tolerance", "ts_downsample_locf",
    "ts_cusum_changepoints", "ts_lag_autocorr",
    "ts_seasonal_profile", "ts_seasonal_anomaly", "ts_ohlc_bars",
    "ts_interarrival_burstiness",
    "ts_ewma_smooth", "ts_funnel_conversion", "ts_interpolate", "ts_range_join",
    "ts_range_join_rule",
    "ts_scd2_intervals", "ts_scd2_lookup", "ts_zscore_outliers",
    "window_cumulative_users", "window_distribution_family",
    "window_event_transitions", "window_range_frame",
    "window_ranking_family", "window_retention_cohorts",
    "window_rfm_segments",
    "window_running_sum", "window_sessionize", "window_streaks",
    "window_topk_per_group", "window_value_family", "window_hazard_curve",
    "window_pareto_front", "window_top_paths", "stat_srm", "stat_power_mde",
    "stat_sprt_monitor",
    "agg_delta_merge", "dq_partition_skew", "ts_period_over_period")

  /** Expected fallback triggers per flagged query (exact sets — a new
    * trigger appearing, or one silently disappearing, both fail). */
  private val flagged: Map[String, Set[String]] = Map(
    "agg_hll_distinct" -> Set("rdd-segment", "bin"),
    "agg_hll_cumulative" -> Set("rdd-segment", "bin"),
    "agg_bitmap_distinct" -> Set("bit-count"),
    "agg_kmv_jaccard" -> Set("rdd-segment"),
    "agg_hll_groups" -> Set("rdd-segment", "bin"),
    "agg_percentiles" -> Set("rdd-segment"),
    "agg_quantile_sketch" -> Set("rdd-segment"),
    "dedup_decontaminate" -> Set("rdd-segment"),
    "dedup_incremental" -> Set("rdd-segment"),
    "dedup_jaccard_pairs" -> Set("rdd-segment"),
    "dedup_threshold_curve" -> Set("rdd-segment"),
    "dedup_containment" -> Set("rdd-segment"),
    "dedup_winnowing" -> Set("higher-order-function", "rdd-segment"),
    // the tokenize HOF sits upstream of the chunk-frame barrier
    "dedup_cdc_chunks" -> Set("rdd-segment"),
    "dedup_bbit_minhash" -> Set("bit-count", "rdd-segment"),
    "dedup_minhash_bands" -> Set("higher-order-function", "rdd-segment"),
    "dedup_minhash_candidates" -> Set("rdd-segment"),
    "dedup_minhash_cjk" -> Set("rdd-segment"),
    "dedup_edit_verify" -> Set("rdd-segment"),
    "dedup_golden_record" -> Set("rdd-segment"),
    "dedup_minhash_est" -> Set("rdd-segment"),
    "dedup_neardup_clusters" -> Set("rdd-segment"),
    "dedup_repeated_spans" -> Set("higher-order-function", "rdd-segment"),
    // gram explode's HOF sits upstream of the grams checkpoint, so the
    // audit sees only the rdd segment
    "dedup_substring_spans" -> Set("rdd-segment"),
    "dedup_substring_cjk" -> Set("rdd-segment"),
    "dedup_substring_share" -> Set("rdd-segment"),
    "dedup_substring_removal" -> Set("rdd-segment"),
    // the eval-gram side is not checkpointed (single consumer), so its
    // transform/slice HOF stays visible
    "dedup_contamination_mask" -> Set("rdd-segment", "higher-order-function"),
    "dedup_simhash" -> Set("higher-order-function"),
    "dedup_soft_weights" -> Set("higher-order-function"),
    // near-dup soft weights: clusters ride the checkpointed candidate
    // frames; the token-count side's transform/filter HOF is not
    "dedup_soft_weights_near" -> Set("rdd-segment", "higher-order-function"),
    "dedup_simhash_incremental" -> Set("bit-count", "rdd-segment"),
    "dedup_simhash_pairs" -> Set("bit-count", "rdd-segment"),
    "fn_array_ops" -> Set("higher-order-function"),
    "graph_assortativity" -> Set("rdd-segment"),
    "graph_bfs_layers" -> Set("rdd-segment"),
    "graph_concomp" -> Set("rdd-segment"),
    "graph_concomp_doubling" -> Set("rdd-segment"),
    "graph_label_prop" -> Set("rdd-segment"),
    "graph_modularity" -> Set("rdd-segment"),
    "window_growth_accounting" -> Set("rdd-segment"),
    "ts_backtest_snaive" -> Set("rdd-segment"),
    "ts_mann_kendall" -> Set("rdd-segment"),
    "text_vocab_coverage" -> Set("rdd-segment"),
    "graph_jaccard_neighbors" -> Set("rdd-segment"),
    "graph_kcore" -> Set("rdd-segment"),
    "graph_pagerank" -> Set("rdd-segment"),
    "graph_ppr" -> Set("rdd-segment"),
    "graph_triangles" -> Set("rdd-segment"),
    "graph_clustering_coeff" -> Set("rdd-segment"),
    "graph_hits" -> Set("rdd-segment"),
    "graph_closeness" -> Set("rdd-segment"),
    "graph_betweenness" -> Set("rdd-segment"),
    "graph_random_walk" -> Set("rdd-segment"),
    "stat_cuped" -> Set("rdd-segment"),
    "ts_slo_burn" -> Set("rdd-segment"),
    "join_bloom_prune" -> Set("rdd-segment"),
    "layout_skip_compare" -> Set("rdd-segment"),
    "mm_decode_real" -> Set("object-node", "jvm-invoke"),
    "mm_decode_audio_real" -> Set("object-node", "jvm-invoke"),
    "mm_frame_sample_real" -> Set("object-node", "jvm-invoke"),
    "mm_decode_summary" -> Set("object-node", "jvm-invoke"),
    "mm_frame_sample" -> Set("object-node", "jvm-invoke"),
    "mm_neardup_pairs" -> Set("bit-count", "rdd-segment"),
    "mm_neardup_real" -> Set("bit-count", "rdd-segment"),
    "mm_resize_real" -> Set("object-node", "jvm-invoke"),
    "mm_resize_meta" -> Set("object-node", "jvm-invoke"),
    "pipeline_cluster_quality" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "pipeline_curation" -> Set("rdd-segment"),
    "pipeline_global_shuffle" -> Set("higher-order-function"),
    "pipeline_chunk_overlap" -> Set("higher-order-function"),
    "pipeline_span_corruption" -> Set("higher-order-function"),
    "pipeline_dataset_card" -> Set("higher-order-function", "rdd-segment"),
    "pipeline_dsir_select" -> Set("higher-order-function", "bin"),
    "pipeline_leakage_split" -> Set("higher-order-function"),
    "pipeline_length_buckets" -> Set("higher-order-function", "bin"),
    "pipeline_pack_sequences" -> Set("higher-order-function"),
    "pipeline_mix_resample" -> Set("higher-order-function"),
    "pipeline_quality_sweep" -> Set("rdd-segment"),
    "dq_category_pmi" -> Set("bin"),
    "q15_top_supplier" -> Set("rdd-segment"),
    "rec_copurchase_lift" -> Set("rdd-segment"),
    "q21_sole_return_supplier" -> Set("rdd-segment"),
    "sim_ann_lsh" -> Set("custom-expression", "rdd-segment"),
    "sim_ann_multiprobe" -> Set("custom-expression", "rdd-segment"),
    "sim_ann_recall" -> Set("custom-expression", "rdd-segment"),
    "sim_bq_topk" -> Set("custom-expression", "bit-count", "rdd-segment"),
    "sim_bq_recall" -> Set("custom-expression", "bit-count", "rdd-segment"),
    "sim_ivfbq_topk" -> Set("custom-expression", "higher-order-function", "bit-count", "rdd-segment"),
    "sim_ivfbq_recall" -> Set("custom-expression", "higher-order-function", "bit-count", "rdd-segment"),
    "sim_cosine_topk" -> Set("custom-expression", "higher-order-function"),
    "sim_embed_quantize" -> Set("higher-order-function"),
    "sim_ivf_topk" -> Set("custom-expression", "rdd-segment"),
    "sim_ivf_recall" -> Set("custom-expression", "rdd-segment"),
    "sim_ivf_trained" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_ivf_probe_curve" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_kmeans" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_kmeans_incremental" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_semdedup" -> Set("custom-expression", "rdd-segment"),
    "sample_cluster_balanced" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sample_kcenter" -> Set("rdd-segment"),
    "sim_lsh_signatures" -> Set("custom-expression", "higher-order-function"),
    // the greedy loop's final lineage cut is the whole visible plan
    "sim_mmr_rerank" -> Set("rdd-segment"),
    "sim_mrl_recall" -> Set("custom-expression", "higher-order-function"),
    "sim_neardup_incremental" -> Set("custom-expression", "rdd-segment"),
    // collapse-first rewrite: the within-group C(n,2) expansion's
    // flatten/transform HOF sits downstream of the grouped barrier
    "sim_neardup_pairs" -> Set("custom-expression", "rdd-segment", "higher-order-function"),
    // nndescent: the bounded-round build ends in a drain cut, so the
    // search-side plans sit on a LogicalRDD; recall/curve join the
    // exact panel (quantize transform + ArrayDotLong) on top
    "sim_nndescent_graph" -> Set("rdd-segment"),
    "sim_nndescent_topk" -> Set("rdd-segment"),
    "sim_nndescent_recall" -> Set("rdd-segment"),
    "sim_nndescent_beam_curve" -> Set("rdd-segment"),
    "sim_nndescent_insert" -> Set("rdd-segment"),
    "sim_nndescent_insert_recall" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_pq_topk" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_pq_recall" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_ivfpq_topk" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_ivfpq_recall" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_ivfadc_topk" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_ivfadc_recall" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_opq_topk" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_opq_recall" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    "sim_ann_probe_curve" -> Set("custom-expression", "rdd-segment"),
    "sim_pq_incremental" -> Set("custom-expression", "higher-order-function", "rdd-segment"),
    // the quantize HOF sits upstream of the moments barrier; everything
    // post-barrier is joins + integral arithmetic
    "sim_pca_power" -> Set("rdd-segment"),
    "sim_pca_explained" -> Set("rdd-segment"),
    "sim_anisotropy_report" -> Set("rdd-segment"),
    // the barrier added by the 64x per-pair-recompute fix
    "sim_random_projection" -> Set("higher-order-function", "rdd-segment"),
    "stat_spearman" -> Set("higher-order-function"),
    "stat_ols_fit" -> Set("higher-order-function"),
    // the k-term ordered double fold (determinism fix: parallel sum
    // reassociation was flaky) is a HOF; the old barrier is gone with
    // the crossJoin it served
    "stat_anova_f" -> Set("higher-order-function"),
    "dq_chi2_independence" -> Set("rdd-segment"),
    "src_generator_pushdown" -> Set("custom-source"),
    "fn_catalog_v2" -> Set("jvm-invoke"),
    // the .rdd zipWithIndex two-phase renumber (see T8 in COVERAGE):
    // the RDD boundary is the documented unbounded-renumber design;
    // its tuple-encoder deserializers are the Invokes
    "t8_collect_renumber" -> Set("rdd-segment", "jvm-invoke"),
    "stat_ks_by_type" -> Set("rdd-segment"),
    "sim_label_centroids" -> Set("rdd-segment"),
    "stat_winsorized" -> Set("rdd-segment"),
    "sub_scalar_agg_max" -> Set("rdd-segment"),
    "text_bm25_rank" -> Set("rdd-segment"),
    "text_token_fertility" -> Set("rdd-segment"),
    "text_bpe_counts" -> Set("rdd-segment"),
    "text_bpe_merges" -> Set("rdd-segment"),
    "text_bpe_vocab" -> Set("rdd-segment"),
    "text_bpe_encode" -> Set("rdd-segment"),
    "text_bytebpe_encode" -> Set("rdd-segment"),
    "text_bpe_encode_heldout" -> Set("rdd-segment"),
    "text_unigram_train" -> Set("rdd-segment"),
    "text_unigram_encode" -> Set("higher-order-function", "rdd-segment"),
    "text_unigram_encode_heldout" -> Set("higher-order-function", "rdd-segment"),
    "text_wordpiece_vocab" -> Set("higher-order-function", "rdd-segment"),
    "text_wordpiece_encode" -> Set("higher-order-function", "rdd-segment"),
    "text_wordpiece_encode_heldout" -> Set("higher-order-function", "rdd-segment"),
    "text_tokenizer_compare" -> Set("higher-order-function", "rdd-segment"),
    // the tokenizer HOF sits UPSTREAM of the tf/bigram stage barrier, so
    // the audit sees only the post-barrier bin (LM weights)
    "text_nb_quality" -> Set("bin", "rdd-segment"),
    "text_nb_confusion" -> Set("bin", "rdd-segment"),
    "text_nb_calibration" -> Set("bin", "rdd-segment"),
    "text_bigram_perplexity" -> Set("bin", "rdd-segment"),
    "text_zipf_fit" -> Set("higher-order-function", "bin"),
    "text_cosine_pairs" -> Set("rdd-segment"),
    "text_countmin_est" -> Set("rdd-segment"),
    "text_unicode_normalize" -> Set("custom-expression"),
    "text_fingerprint" -> Set("higher-order-function"),
    "text_heavy_hitters" -> Set("higher-order-function"),
    "text_lang_id" -> Set("higher-order-function"),
    "text_mix_report" -> Set("higher-order-function"),
    "text_ngram_novelty" -> Set("rdd-segment"),
    "text_char_entropy" -> Set("bin"),
    "text_keyword_rake" -> Set("higher-order-function"),
    "text_perplexity" -> Set("bin", "rdd-segment"),
    "text_quality_score" -> Set("higher-order-function"),
    "text_tfidf_top" -> Set("rdd-segment"),
    "text_token_counts" -> Set("higher-order-function"),
    "text_trigram_stats" -> Set("higher-order-function"),
    "text_repetition_stats" -> Set("higher-order-function"),
    "window_active_users" -> Set("rdd-segment"),
    // the cap's priority frame is checkpointed (ranking + totals
    // consumers); everything behind it is string/hash builtins
    "url_domain_cap" -> Set("rdd-segment"),
    "url_lang_mix" -> Set("bin"),
    "sim_hard_negatives" -> Set("custom-expression", "higher-order-function"),
    "retrieval_rrf_fusion" -> Set("custom-expression", "higher-order-function", "rdd-segment"))

  /** Classified by documentation (construction executes work):
    * streaming (stateful operators are CPU per the docs) and the aria
    * drain (checkpoint-segmented iterative controller by design). */
  private def byDocumentation(n: String): Boolean =
    n.startsWith("stream_") || n.startsWith("aria_")

  test("the classification partitions the whole query board") {
    val names = SparkEntry.queries.keySet
    val classified = gpuClean ++ flagged.keySet ++ names.filter(byDocumentation)
    assert((names -- classified).isEmpty,
      s"unclassified queries: ${(names -- classified).toSeq.sorted}")
    assert((gpuClean -- names).isEmpty, s"stale clean entries: ${gpuClean -- names}")
    assert((flagged.keySet -- names).isEmpty, s"stale flagged entries: ${flagged.keySet -- names}")
    assert(gpuClean.intersect(flagged.keySet).isEmpty)
  }

  test("gpu-clean queries have zero conservative fallback triggers") {
    val dir = sf("sf0.001")
    val bad = gpuClean.toSeq.sorted.flatMap { n =>
      val f = RapidsAudit.flags(SparkEntry.queries(n)(spark, dir))
      if (f.isEmpty) None else Some(s"$n -> ${f.mkString(",")}")
    }
    assert(bad.isEmpty, s"clean queries now flag:\n${bad.mkString("\n")}")
  }

  test("flagged queries carry exactly their documented triggers") {
    val dir = sf("sf0.001")
    val bad = flagged.toSeq.sortBy(_._1).flatMap { case (n, want) =>
      val got = RapidsAudit.flags(SparkEntry.queries(n)(spark, dir)).toSet
      if (got == want) None else Some(s"$n: want $want, got $got")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the detector actually fires on each trigger class") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // spark.range base: a literal LocalRelation would be constant-folded
    // by ConvertToLocalRelation and the expression under test vanishes
    val df = spark.range(4).select(col("id"), array(col("id"), col("id") + 1).as("xs"))
    assert(RapidsAudit.flags(df.select(transform(col("xs"), x => x + 1)))
      .contains("higher-order-function"))
    assert(RapidsAudit.flags(df.select(bin(col("id")))).contains("bin"))
    assert(RapidsAudit.flags(df.select(bit_count(col("id")))).contains("bit-count"))
    assert(RapidsAudit.flags(df.localCheckpoint(false).select(col("id")))
      .contains("rdd-segment"))
    assert(RapidsAudit.flags(df.as[(Long, Seq[Long])].map(_._1).toDF())
      .contains("object-node"))
    assert(RapidsAudit.flags(df.select(
      graft.functions.Portable.dotQ(col("xs"), col("xs")).as("d")))
      .contains("custom-expression"))
    val f = udf((x: Long) => x + 1)
    assert(RapidsAudit.flags(df.select(f(col("id")))).contains("scala-udf"))
    assert(RapidsAudit.flags(spark.read.format("graft.sources.GeneratorSource")
      .option("rows", "16").load()).contains("custom-source"))
  }
}
