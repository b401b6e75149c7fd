"""Central query/oracle registry assembled from the gate modules."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tpg_weather_etl_spark import (
    queries_embeddings,
    queries_ml,
    queries_multimodal,
    queries_relational,
    queries_scalar,
    queries_text,
)

_MODULES = [queries_relational, queries_text, queries_embeddings,
            queries_scalar, queries_ml, queries_multimodal]


# The driver caps each round at 50 checked queries of the registry,
# walking it in order. ROUND-14 ROTATION (mechanical, stalest-first
# from CORRECTNESS_r*.json): head = the full r10-stale cohort (47
# names — everything whose latest driver row is r10) plus the 3
# stalest of the r11 cohort (by oldest PRIOR driver row, then name:
# contamination_eval debuted at r11 and has no earlier row;
# agg_by_bin and ann_recall_eval were last seen before r11 at r7) to
# fill the 50-name cap exactly. After r14 no registry query's latest
# driver row is older than r11.
_RUN_FIRST = [
    "embedding_contamination",
    "minhash_pairs_capped",
    "activity_bitmask",
    "approx_accuracy",
    "basket_lift_pairs",
    "bitmap_distinct_users",
    "cube_revenue",
    "decile_stats",
    "disjunctive_pred_revenue",
    "event_transitions",
    "excess_suppliers",
    "fk_integrity",
    "forecast_revenue_change",
    "gap_fill_interpolate",
    "group_mad",
    "idle_customer_balance",
    "important_parts",
    "int8_quant_topk",
    "key_skew_profile",
    "local_supplier_volume",
    "market_share",
    "min_cost_supplier",
    "nb_source_confusion",
    "ngram_novelty",
    "priority_late_orders",
    "profit_by_nation_year",
    "promo_revenue",
    "returned_items",
    "returnflag_priority_counts",
    "shipping_priority",
    "skyline_parts",
    "source_quality_matrix",
    "supplier_cnt_by_type",
    "token_budget_sample",
    "top_supplier",
    "train_test_split",
    "trend_by_type",
    "unpivot_metrics",
    "value_outliers",
    "volume_shipping",
    "waiting_orders",
    "bpe_merges",
    "lateral_top_items",
    "revenue_share",
    "sequence_gaps",
    "variant_extract",
    "deterministic_sample",
    "contamination_eval",
    "agg_by_bin",
    "ann_recall_eval",
]

# Stalest-first after the head: the rest of the r11-refreshed cohort —
# staged as r15's natural head (with the freshest tail below filling
# the remaining cap slots).
_RUN_MID = [
    "anti_join_customers",
    "asof_join",
    "bigram_logprob",
    "bpe_encode",
    "centroid_shift",
    "chi2_source_lang",
    "cluster_size_histogram",
    "cluster_split",
    "contamination_ngrams",
    "dedup_rate_by_source",
    "dedupe_exact",
    "dedupe_priority",
    "doc_chunks",
    "embedding_norm_profile",
    "fingerprint_dedup",
    "group_median",
    "heavy_hitters",
    "interval_join",
    "lag_grid",
    "lang_agreement",
    "lang_quality",
    "latest_per_user",
    "left_join_enrich",
    "length_buckets",
    "neardup_eval",
    "pattern_within",
    "pricing_summary",
    "region_revenue",
    "rolling_7d",
    "rrf_fusion",
    "scalar_bins",
    "semi_join_parts",
    "sessionize",
    "simhash",
    "simhash_pairs",
    "source_kl_drift",
    "source_ks_drift",
    "stratified_sample",
    "text_stats",
    "time_features",
    "token_gini",
    "top_orders",
    "winsorized_stats",
    "gopher_quality",
    "source_mix_weights",
    "minhash_est_accuracy",
]

# Tail, stalest-first: the r12-refreshed cohort, then the 50 names
# refreshed in round 13 (freshest, last to win a cap slot).
_RUN_LAST = [
    "ann_buckets",
    "ann_topk",
    "approx_stats",
    "array_agg_types",
    "bigram_topk",
    "boilerplate_prefixes",
    "bpe_token_stats",
    "char_entropy",
    "cohort_retention",
    "containment_pairs",
    "contains_filter",
    "contrastive_triplets",
    "dedup_clusters",
    "dedup_keeper",
    "distinct_months",
    "dominant_event_type",
    "dsir_importance",
    "embedding_dedup_clusters",
    "embedding_neardup",
    "embedding_topk",
    "funnel_steps",
    "heatmap_hour_dow",
    "intersect_except",
    "ivf_topk",
    "kmeans_ivf_topk",
    "kpi_summary",
    "label_centroids",
    "minhash_pairs",
    "minmax_bounds",
    "mixed_sample",
    "multimodal_features",
    "ngram_coverage_curve",
    "ngram_jaccard_pairs",
    "null_profile",
    "pack_efficiency",
    "perplexity_filter_apply",
    "pivot_event_values",
    "pq_topk",
    "quality_filter_funnel",
    "rollup_revenue",
    "scalar_normalize",
    "session_window_agg",
    "source_overlap_jaccard",
    "temperature_mix_weights",
    "tfidf_top_terms",
    "topk_latest",
    "union_shards",
    "part_triangles",
    "clustering_coeff",
    "edge_jaccard",
    "array_hof_stats",
    "big_orders",
    "bitext_mining_pairs",
    "bm25_topk",
    "char_fingerprints",
    "chunk_dedup",
    "constraint_report",
    "curation_e2e",
    "daily_value_quantiles",
    "dedup_apply",
    "degree_distribution",
    "domain_curation",
    "dup_span_apply",
    "dup_span_fraction",
    "embedding_neardup_capped",
    "embedding_neardup_multi",
    "embedding_zscore",
    "fuzzy_match_sources",
    "gap_fill_forward",
    "jl_topk",
    "json_extract",
    "multimodal_metadata",
    "null_safe_join",
    "numeric_profile",
    "order_count_distribution",
    "pagerank_parts",
    "pii_redact",
    "pipeline_funnel",
    "prefix_jaccard_pairs",
    "rank_functions",
    "repetition_stats",
    "salted_join_revenue",
    "scd2_intervals",
    "semantic_dedup_apply",
    "semantic_dedup_keeper",
    "semantic_search",
    "sequence_pack",
    "sliding_window_counts",
    "small_quantity_revenue",
    "snapshot_diff",
    "source_lang_entropy",
    "source_priority_dedup",
    "sql_api_revenue",
    "tokenized_docs",
    "unigram_logprob",
    "vocab_ids",
    "weighted_sample_topk",
    "zipf_slope",
    "dup_span_regions",
    "kn_bigram_logprob",
]


def _validate_ordering(query_keys: set[str]) -> None:
    # A typo in the hand-maintained ordering lists would silently land
    # a query in the unordered middle — fail loudly instead. Validated
    # against the QUERY key set (oracles are a subset: no-oracle
    # queries get a rows-only check and have no ORACLE entry).
    # raise, not assert: `python -O` strips asserts and a typo here
    # would silently demote a query to the unordered middle.
    unknown = (set(_RUN_FIRST) | set(_RUN_MID) | set(_RUN_LAST)) - query_keys
    if unknown:
        raise ValueError(f"registry ordering names unknown queries: {unknown}")
    for a, b in (("_RUN_FIRST", "_RUN_MID"), ("_RUN_FIRST", "_RUN_LAST"),
                 ("_RUN_MID", "_RUN_LAST")):
        dup = set(globals()[a]) & set(globals()[b])
        if dup:
            raise ValueError(f"queries listed in both {a} and {b}: {dup}")


def _prioritize(d: dict) -> dict:
    head = {k: d[k] for k in _RUN_FIRST if k in d}
    head.update({k: d[k] for k in _RUN_MID if k in d})
    head.update({k: v for k, v in d.items()
                 if k not in head and k not in _RUN_LAST})
    head.update({k: d[k] for k in _RUN_LAST if k in d})
    return head


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable] = {}
    for m in _MODULES:
        out.update(m.QUERIES)
    _validate_ordering(set(out))
    return _prioritize(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLE)
        # data-derived oracles (e.g. fitted kmeans centers inlined as
        # literals) are built at call time, not import time
        for name, build in getattr(m, "ORACLE_DYNAMIC", {}).items():
            out[name] = build()
    return _prioritize(out)
