"""Driver-facing query registry.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent ANSI-SQL string the DuckDB oracle can run on the same parquet
tables (None for genuinely non-SQL-expressible operators — the driver then
records a weaker rows-only check).

Parity discipline (SURVEY.md §5, §7 "parity traps"):
- every computed column is aliased identically in Spark and SQL;
- double aggregates go through exact decimal sums and come back as double,
  so values are bit-identical regardless of partitioning / evaluation order;
- timestamps are naive UTC on both sides (session TZ pinned in session.py).
"""

from __future__ import annotations

from dynamic_etl_spark.registry.core import QueryRegistry

#: The driver records hard correctness rows (row-count + schema + value
#: hash vs the DuckDB oracle) for the FIRST 50 registered queries only, so
#: registration order is a verification-signal decision, not cosmetics.
#: Rotation policy: never-driver-confirmed and changed-this-round queries
#: take window slots first; remaining slots re-confirm already-green
#: representatives. Everything past position 50 stays hash-checked every
#: run by the local parity harness (tests/test_oracle_parity.py), which
#: is dtype-strict since r6 and so carries the driver's full signal.
#: Rows-only queries (engine-hash-specific LSH/ANN paths, brute-force-
#: checked in tests/test_llm.py) go last.
DRIVER_WINDOW = 50

#: Positions 1-50 — the rotation that followed CORRECTNESS_r14.json:
#: ALL 38 due re-confirmations (latest green r11 — the exact list
#: the hygiene tripwire computes from the checked-in ledger), then the
#: four composed curation-gate queries, re-planned onto the one
#: shared gate (ops/curation_gate), then the three generators the
#: retail job-count work re-planned after their r14 green, then 5
#: r12-era refreshes to keep the re-confirmation debt level.
#: The stale-ledger CI property (tests/test_oracle_parity.py) computes
#: this window's obligations from the checked-in CORRECTNESS_r*.json.
_WINDOW_ORDER = (
    # ---- ALL 38 due re-confirmations (latest green r11) ----
    "alias_header_resolution",
    "bpe_encode_stats",
    "bpe_fertility_by_lang",
    "bpe_merge_training",
    "c4_quality_gates",
    "clean_distributor_feed",
    "corpus_stratified_sample",
    "cube_order_totals",
    "customer_order_sequence",
    "date_backfill_initial",
    "embedding_mmr_select",
    "embedding_mmr_select_pooled",
    "embedding_topk_vectorized",
    "events_ks_drift",
    "events_ks_drift_binned",
    "events_tumbling_window",
    "events_value_trend",
    "fallback_key_resolution",
    "generator_fact_day",
    "gopher_repetition_gates",
    "knn_label_vote",
    "ks_drift_maintenance",
    "language_id_profile",
    "leakage_safe_split",
    "length_bucketed_batching",
    "pii_detect_redact",
    "pricing_summary",
    "quasi_identifier_risk",
    "rollup_slice_rebuild",
    "scan_projection_filter",
    "scd1_merge_orders",
    "scd2_merge_customers",
    "sequence_packing",
    "source_diversity_profile",
    "split_leakage_audit",
    "surrogate_key_assignment",
    "text_stats_profile",
    "validation_report",
    # ---- re-planned onto the shared curation gate ----
    "incremental_curation_admission",
    "incremental_curation_admission_steady",
    "incremental_curation_admission_dsir",
    "incremental_curation_admission_dsir_steady",
    # ---- re-planned by the retail job-count work since r14 ----
    "generator_distributors",
    "generator_products",
    "generator_stores",
    # ---- 5 r12-era refreshes (oldest-green debt reduction) ----
    "curated_corpus_retrieval",
    "dedup_survivors_best_quality",
    "dsir_importance_selection",
    "fk_integrity_report",
    "scd2_point_in_time_lookup",
)

#: Rotated out after earning their driver-green; the local pytest
#: parity harness still hash-checks each against the same oracle every
#: run. Alphabetical — position past 50 carries no signal.
_ROTATED_OUT = (
    "approx_distinct_exacthash",
    "benchmark_decontamination",
    "benchmark_decontamination_bloom",
    "benchmark_span_scrub",
    "bigram_novelty_profile",
    "bigram_perplexity_profile",
    "bm25_topk_retrieval",
    "change_detection_classification",
    "clean_product_feed",
    "clean_store_feed",
    "coercion_failure_profile",
    "corpus_mixture_sample",
    "corpus_split_assignment",
    "count_min_maintenance",
    "curation_pipeline_accounting",
    "curation_pipeline_lsh",
    "customer_rfm_segmentation",
    "customers_with_orders",
    "customers_without_orders",
    "date_dimension_build",
    "date_gap_fill_incremental",
    "date_key_lookup",
    "dedup_impact_forecast",
    "dedup_keep_first_line",
    "dedup_keep_last_line",
    "dedup_keep_last_line_agg",
    "dedup_survivors",
    "distinct_profile",
    "distinct_sketch_maintenance_exacthash",
    "document_chunking",
    "document_gram_exposure",
    "drop_unresolved_keys",
    "duplicate_detection",
    "duplicate_group_members",
    "duplicated_span_removal",
    "embedding_ann_ivf_exacthash",
    "embedding_ann_lsh_exacthash",
    "embedding_density_exacthash",
    "embedding_dim_spread",
    "embedding_int8_quant",
    "embedding_jl_projection",
    "embedding_knn_join_exacthash",
    "embedding_label_centroids",
    "embedding_margin_alignment",
    "embedding_near_dup",
    "embedding_topk_bruteforce",
    "encoding_repair_profile",
    "events_asof_last_purchase",
    "events_compaction_plan",
    "events_equidepth_deciles",
    "events_fill_forward",
    "events_funnel_conversion",
    "events_hourly_heatmap",
    "events_hourly_resample",
    "events_interarrival_profile",
    "events_json_extract",
    "events_key_skew_profile",
    "events_ks_drift_autogrid",
    "events_minmax_scaled",
    "events_range_interval_join",
    "events_rate_profile",
    "events_retention_cohorts",
    "events_rolling_distinct_users",
    "events_rolling_user_value",
    "events_sessionization",
    "events_sliding_window",
    "events_transition_matrix",
    "events_type_drift_profile",
    "events_type_pagerank_exacthash",
    "events_type_pivot",
    "events_type_unpivot",
    "events_value_histogram",
    "events_value_percentiles",
    "events_value_zscore",
    "events_zorder_tiles",
    "exact_dedup_fingerprint",
    "fk_orphan_attribution",
    "flagship_star_join",
    "freshness_watermark",
    "fuzzy_brand_match",
    "grouping_sets_order_totals",
    "hashed_linear_quality_score",
    "heavy_hitter_maintenance",
    "high_water_mark",
    "hybrid_rrf_retrieval",
    "incremental_near_dup_exacthash",
    "incremental_rollup_maintenance",
    "incremental_semantic_dedup",
    "insert_only_merge",
    "latest_order_per_customer",
    "line_dedup_profile",
    "markup_strip_clean",
    "minhash_near_dup_exacthash",
    "mini_dim_upsert",
    "multimodal_feature_extract",
    "nation_key_set_ops",
    "nation_segment_listagg",
    "natural_key_concat",
    "near_dup_components",
    "ngram_jaccard_similarity",
    "null_count_profile",
    "numeric_profile",
    "order_price_distribution_ranks",
    "orders_above_customer_avg",
    "orders_snapshot_diff",
    "pmi_collocations_top",
    "point_and_flag_filter",
    "quality_rank_calibration",
    "quantile_hist_maintenance",
    "rank_sketch_finalize_exact",
    "reservoir_sample_maintenance",
    "rollup_totals",
    "salted_skew_join",
    "semantic_decontamination",
    "semantic_decontamination_vectorized",
    "semantic_dedup_survivors",
    "shard_assignment_profile",
    "simhash_near_dup_exacthash",
    "snowflake_extraction",
    "source_concentration_profile",
    "source_quota_cap",
    "tfidf_top_terms",
    "tiered_discount_pricing",
    "top_part_types",
    "url_canonical_dedup",
    "url_filter_profile",
    "value_anomaly_mad",
    "value_outlier_gate",
    "vocabulary_build",
    "winnowing_fingerprint",
    "winnowing_overlap_pairs",
)

#: Positions past the rotated-out block: the rows-only queries
#: (engine-hash/libm-specific; each carries a brute-force or property
#: pytest — and since r8 the MinHash, incremental-admission, and SRP-LSH
#: ANN families ALSO carry oracle-backed md5-mode twins inside the window).
_TAIL_ORDER = (
    "events_type_pagerank",
    "approx_distinct_profile",
    "minhash_near_dup",
    "incremental_near_dup",
    "simhash_near_dup",
    "embedding_ann_lsh",
    "embedding_ann_ivf",
    "embedding_knn_join",
    "embedding_density_profile",
    "distinct_sketch_maintenance",
    "rank_sketch_maintenance",
    "corpus_weighted_sample",
    # r11: margin alignment's bucketed IVF production path (MLlib
    # k-means + BLAS — engine-hash-specific; exacthash twin:
    # embedding_margin_alignment; recall + no-NLJ pytests)
    "embedding_margin_alignment_ivf",
    # r11: DSIR's stochastic selection (A-ES over exp(log w) — libm pow
    # in a per-row ordering; exacthash twin: dsir_importance_selection)
    "dsir_weighted_resample",
)


def all_queries() -> QueryRegistry:
    from dynamic_etl_spark.registry import (
        cleaning,
        curation,
        dates,
        events,
        generators,
        llm,
        merge,
        quality,
        relational,
        retrieval,
        validation,
        windows,
    )

    pooled: QueryRegistry = {}
    for module in (
        relational,
        windows,
        cleaning,
        dates,
        merge,
        validation,
        events,
        llm,
        generators,
        curation,
        quality,
        retrieval,
    ):
        overlap = pooled.keys() & module.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        pooled.update(module.QUERIES)

    order = (*_WINDOW_ORDER, *_ROTATED_OUT, *_TAIL_ORDER)
    if len(_WINDOW_ORDER) != DRIVER_WINDOW:
        raise ValueError(
            f"driver window holds {DRIVER_WINDOW} queries, order lists {len(_WINDOW_ORDER)}"
        )
    # adding/removing a query without placing it in the explicit order (or
    # a typo in the order) must fail loudly, not silently shift the window
    missing = pooled.keys() - set(order)
    unknown = set(order) - pooled.keys()
    if missing or unknown:
        raise ValueError(
            f"registry order out of sync: unordered={sorted(missing)} unknown={sorted(unknown)}"
        )
    if len(order) != len(set(order)):
        raise ValueError("registry order contains duplicates")
    return {name: pooled[name] for name in order}
