package graft

/** Canary over the exact surface the driver measures: every key in
  * [[SparkEntry.queries]] must EXECUTE (not just plan) at sf0.001, and
  * every oracle entry must name a declared key. A future key addition that
  * compiles but dies at runtime — or lands in `oracleSql` without a
  * matching query — would otherwise first surface in the round's
  * BENCH/CORRECTNESS artifacts, after the turn budget is spent (r4 verdict
  * "Next round" #5). The key set itself is pinned too: `queries` is a
  * `toMap`, so a key declared twice would silently shadow the other, and a
  * key dropped from a surface module would silently leave the surface.
  */
class BenchSurfaceSpec extends SparkSpec {

  test("every declared query key executes end-to-end at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sfDir).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every oracle key names a declared query key") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
  }

  // A shared oracle fragment placed in a """ string that lacks the `s`
  // prefix would reach DuckDB as the literal text `$name` or `${...}`.
  test("every oracle string is fully interpolated: no unexpanded fragment reference") {
    val unexpanded = "\\$[{A-Za-z_]".r
    val hits = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      unexpanded.findFirstIn(sql).map(m => s"$name: $m")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** The 237 declared keys, sorted. */
  private val pinned: Seq[String] = Seq(
    "admission_gate", "agg_approx_distinct", "agg_collect_sorted", "agg_column_weight",
    "agg_conditional_family", "agg_count_distinct", "agg_cube", "agg_date_granularity",
    "agg_grouping_sets", "agg_heavy_hitters", "agg_histogram", "agg_hll_mergeable",
    "agg_median_by_group", "agg_min_max_range", "agg_percentile", "agg_percentile_exact",
    "agg_rollup", "agg_stats_moments", "agg_table_rollup", "agg_value_counts",
    "agg_vector_centroid", "agg_weighted_frequency", "ann_recall_at_k", "anomaly_mad",
    "anomaly_mad_approx", "asof_join", "bloom_index_fpr", "bloom_partition_index",
    "bloom_prefilter", "bm25_topk", "bpe_encode_fertility", "bpe_merge_step",
    "bpe_tokenize_shards", "bpe_train_merges", "cdc_merge_upsert", "chunk_cdc", "chunk_overlap",
    "cluster_assign_stats", "cluster_keep_policy", "cms_error_curve", "cms_token_counts",
    "cohort_retention", "corpus_curate", "corpus_diff", "corpus_health_report",
    "curation_attrition", "curriculum_order", "decontaminate_embedding", "decontaminate_eval",
    "decontaminate_ngram", "dedup_cluster", "dedup_cluster_lsh", "dedup_embedding_cosine",
    "dedup_exact", "dedup_exact_normalized", "dedup_image_phash", "dedup_incremental",
    "dedup_minhash", "dedup_minhash_incremental", "dedup_ngram_containment",
    "dedup_ngram_jaccard", "dedup_semantic", "dedup_semantic_clean", "dedup_semantic_incremental",
    "dedup_simhash", "dedup_span_clean", "dedup_span_removal", "doc_fingerprint",
    "doc_lm_quality", "doc_ppl_bigram", "doc_quality_logreg", "drift_ks", "drift_psi",
    "drift_timeline", "embed_normalize", "embedding_abtt", "embedding_pca_power",
    "embedding_qa_report", "emit_partition_scripts", "epoch_repeat_plan", "event_pair_join",
    "expr_array_hof", "expr_date_arith", "expr_ddl_extract", "expr_map_ops",
    "expr_regexp_extract_all", "expr_to_json", "filter_conjunctive", "filter_isin",
    "filter_length_outliers", "filter_like", "filter_point", "filter_time_range",
    "fingerprint_winnowing", "funnel_stages", "fuzzy_name_pairs", "gapfill_locf",
    "graph_pagerank", "heldout_ppl", "inverted_index", "join_anti", "join_broadcast_left",
    "join_bucketed_colocated", "join_equi_inner", "join_explode_agg", "join_full_outer",
    "join_null_safe", "join_semi", "join_skew_salted", "json_extract", "json_struct_roundtrip",
    "kmeans_iterate", "knn_classify", "knn_join", "lang_id", "lang_id_confusion", "lang_id_ngram",
    "layout_compact", "length_bucket_batches", "limit_probe", "lsh_recall_curve",
    "mine_hard_negatives", "mixture_epochs", "mixture_sample", "mixture_temperature_weights",
    "multimodal_features", "multimodal_frames", "multimodal_resize", "ngram_topk",
    "pack_sequences", "parse_query_columns", "parse_trino_dialect", "partition_balance_report",
    "partition_size_report", "pii_redact", "pii_redact_clean", "pretokenize_bpe_regex",
    "privacy_k_anon_report", "q10_returns", "q12_priority_late", "q13_custdist", "q14_promo",
    "q15_top_supplier", "q17_small_qty", "q18_large_orders", "q19_disjunctive", "q1_agg",
    "q21_waiting", "q22_no_orders", "q2_correlated_scalar", "q3_shipping", "q4_exists",
    "q5_region", "q6_forecast", "q7_volume", "q8_mktshare", "quality_calibration",
    "quality_gopher_rules", "quality_repetition", "quality_score", "range_join",
    "range_partition_bounds", "rank_fusion_rrf", "salt_plan_topk", "sample_stratified",
    "sample_topk_stratum", "sample_weight_systematic", "scan_catalog_live", "scan_catalog_views",
    "scan_columns_meta", "scan_querylog_sorted", "scd2_intervals", "score_distribution",
    "score_partition", "score_query_type", "score_resource", "select_dsir", "sessionize_batch",
    "setop_except", "setop_intersect", "setop_union_all", "setop_union_distinct",
    "shard_manifest", "simjoin_ann", "simjoin_exact", "simsearch_filtered", "simsearch_hamming",
    "simsearch_ivf", "simsearch_matryoshka", "simsearch_pq", "simsearch_quant", "simsearch_topk",
    "sink_csv", "sink_json", "sink_orc", "sort_limit_topk", "source_overlap_matrix",
    "source_token_entropy", "span_dup_fraction", "split_train_test", "sql_end_to_end",
    "stream_dedup", "stream_sliding_window", "stream_usage_window", "text_clean",
    "text_normalize_nfc", "text_script_mix", "text_stats_by_source", "text_tfidf", "text_tokens",
    "token_cooccurrence", "token_cooccurrence_doc", "token_count", "token_count_bpe",
    "tokenizer_fertility", "transform_bucket", "transform_bucket_iceberg", "transform_date",
    "transform_pivot", "transform_truncate", "transform_unpivot", "transform_zorder",
    "transform_zscore", "vocab_coverage", "vocab_growth_curve", "window_lag_lead", "window_ntile",
    "window_range_frame", "window_rank_family", "window_running_sum", "window_topn_per_view",
    "winnow_match_spans", "workload_pruning_sim", "write_partitioned", "zipf_fit",
    "zonemap_partition_index", "zorder_layout")

  test("the declared surface is exactly the pinned key set, each key declared once") {
    assert(pinned == pinned.sorted.distinct, "the pinned list must stay sorted and distinct")
    val names = Queries.allSpecs.map(_.name)
    val twice = names.diff(names.distinct).distinct.sorted
    val missing = pinned.diff(names)
    val extra = names.distinct.sorted.diff(pinned)
    assert(twice.isEmpty && missing.isEmpty && extra.isEmpty,
      s"missing: ${missing.mkString(", ")}; extra: ${extra.mkString(", ")}; " +
        s"declared twice: ${twice.mkString(", ")}")
    assert(Queries.queries.size == pinned.size && Queries.oracleSql.keySet.subsetOf(pinned.toSet))
  }
}
