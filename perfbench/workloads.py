"""The benchmark's workloads: which registry entries each one owns, and
which of them a timed run measures.

Every ``@register`` entry belongs to exactly one workload (checked
against the live registry at start-up). The value beside each entry is
the module whose code does its work, used to sum operation time per
module in the traced run; ``sql`` marks entries written as plain
DataFrame/SQL in ``queries.py``.

A timed run measures the workload's ``TIMED`` entries (plus, for
``pipelines``, the medallion service path), so that a run fits the
time budget of about a minute per run. ``--full`` runs every owned entry instead; it is
the coverage run and takes minutes.
"""

from __future__ import annotations

OWNED: dict[str, dict[str, str]] = {
    "adhoc_sql": {
        "pricing_summary": "relational",
        "sales_summary": "relational",
        "priority_rollup": "relational",
        "count_lineitem": "sql",
        "customer_supplier_nation_balance": "sql",
        "orders_column_profile": "sql",
        "nation_names_by_region": "sql",
        "embedding_positive_dims": "sql",
        "priority_status_cube": "sql",
        "priority_status_grouping_sets": "sql",
        "priority_status_rollup": "sql",
        "order_price_ranks": "sql",
        "lineitem_price_stats": "sql",
        "distinct_customer_count": "sql",
        "approx_distinct_customers": "sql",
        "approx_price_quartiles": "sql",
        "price_quartiles_by_status": "sql",
        "revenue_pivot_by_status": "sql",
        "orders_by_status": "relational",
        "lineitem_stats": "relational",
        "silver_customers": "relational",
        "silver_lineitem": "relational",
        "distinct_flag_status": "relational",
        "const_and_drop": "relational",
        "parts_never_shipped": "relational",
        "sales_analytics": "relational",
        "product_metrics": "relational",
        "region_summary": "relational",
        "top5_parts_by_revenue": "relational",
        "orders_sorted_multi": "relational",
        "nations_union": "sql",
        "nations_intersect": "sql",
        "nations_except": "sql",
        "top3_parts_per_brand": "relational",
        "customer_running_total": "sql",
        "hourly_event_counts": "events",
        "hourly_via_minute_rollup": "events",
        "sliding_event_counts": "events",
        "purchase_last_click": "events",
        "weekly_cohort_retention": "events",
        "weekly_revenue_growth": "sql",
        "rolling_weekly_actives": "events",
        "user_purchase_fill": "events",
        "errors_recent_clicks": "events",
        "event_sessions": "events",
        "funnel_view_to_purchase": "events",
        "event_props_by_type": "events",
        "event_props_pinned": "events",
        "lineitem_unpivot": "sql",
        "green_parts_strings": "sql",
        "orders_by_quarter": "sql",
        "lang_distribution": "relational",
        "shipping_priority_top10": "sql",
        "local_supplier_volume": "sql",
        "returned_items_top20": "sql",
        "large_volume_orders": "sql",
        "cheapest_part_per_brand": "sql",
        "customer_max_order_gap": "sql",
        "customers_with_open_orders": "sql",
        "brands_above_avg_revenue": "sql",
        "order_size_buckets": "sql",
        "customers_without_big_orders": "sql",
        "filter_compound_eq": "sql",
        "nation_order_rollup": "sql",
        "late_shipment_priorities": "sql",
        "discounted_revenue": "sql",
        "nation_trade_volume": "sql",
        "promo_revenue_ratio": "sql",
        "top_supplier_revenue": "sql",
        "small_quantity_revenue": "sql",
        "bracket_revenue": "sql",
        "idle_customer_balance": "sql",
        "customer_order_distribution": "sql",
        "nation_market_share": "sql",
        "nation_profit": "sql",
        "nation_supplier_value": "sql",
        "priority_class_by_flag": "sql",
        "supplier_count_by_part": "sql",
        "bulky_part_suppliers": "sql",
        "waiting_suppliers": "sql",
        "catalog_columns": "catalog",
        "catalog_tables": "catalog",
    },
    "pipelines": {
        # corpus prep: documents, embeddings, binary landing
        "dedup_exact": "dedup",
        "dedup_incremental": "dedup",
        "training_shard_manifest": "text",
        "source_token_budget_cap": "text",
        "doc_token_stats": "text",
        "doc_bpe_tokens": "text",
        "doc_stable_sample": "text",
        "doc_gopher_flags": "text",
        "doc_quality": "text",
        "word_counts_top20": "text",
        "doc_fingerprint": "text",
        "lang_id_pred": "text",
        "dedup_minhash": "dedup",
        "dedup_incremental_near": "dedup",
        "dedup_incremental_near_bucketed": "dedup",
        "dedup_incremental_near_indexed": "dedup",
        "dedup_simhash": "dedup",
        "simhash_quality_report": "dedup",
        "dedup_pipeline": "dedup",
        "dedup_ngram_jaccard": "dedup",
        "cosine_topk": "vector",
        "cosine_topk_arrow": "vector",
        "embedding_near_dups": "vector",
        "ann_lsh_topk": "vector",
        "ann_ivf_topk": "vector",
        "ann_quantized_topk": "vector",
        "ann_two_stage_topk": "vector",
        "ann_ivf_kmeans_topk": "vector",
        "ann_ivf_index_topk": "vector",
        "ann_recall_report": "vector",
        "binary_meta": "multimodal",
        "frame_samples": "multimodal",
        "binary_resize_meta": "multimodal",
        "wav_audio_meta": "multimodal",
        "binary_embed_topk": "multimodal",
        "binary_file_ingest_meta": "multimodal",
        "order_zscores_per_status": "sql",
        "embedding_dedup_clusters": "dedup",
        "dedup_cluster_canonical": "dedup",
        "tfidf_top_terms": "text",
        "lang_stratified_sample": "text",
        "doc_pattern_counts": "text",
        "doc_normalized": "text",
        "doc_redacted": "text",
        "bpe_merges": "text",
        "doc_quality_filter": "text",
        "doc_common_token_ratio": "text",
        "doc_unigram_lm_score": "text",
        "source_mixture_weights": "text",
        "mixture_weighted_sample": "text",
        "doc_chunks": "text",
        "token_budget_packing": "text",
        "doc_decontaminate": "text",
        "doc_repetition": "text",
        "doc_duplicate_spans": "text",
        "bigram_collocations": "text",
        "quality_model_report": "mlquality",
        "train_val_test_split": "text",
        # medallion writes and the other writers
        "medallion_gold_sales_summary": "plans",
        "medallion_gold_incremental_refresh": "plans",
        "customer_upsert": "plans",
        "customer_scd2": "plans",
        "jsonl_roundtrip": "sources",
        "orc_roundtrip": "sources",
        "training_export_pipeline": "plans",
        "zorder_pruning_report": "sources",
        # streaming drains
        "streaming_rollup_drain": "streams",
        "streaming_sessionize_drain": "streams",
        "streaming_interval_join_drain": "streams",
        "streaming_forward_fill_drain": "streams",
        "streaming_dedup_drain": "streams",
    },
}

# Entries a timed run measures, chosen so that a pass takes seconds on
# four cores and every layer the workload exercises is timed. adhoc_sql:
# entries under 0.5 s warm (the fixed per-query cost), including events
# and catalog shapes. pipelines, beside the medallion service path
# (trigger_etl, verify_results, sample_data, then the incremental
# refresh), which it runs in every mode: one text and one dedup entry, a
# vector entry through Python workers, the Python-worker binary landing
# (multimodal), the learned quality model (mlquality; its model is the
# artifact set-up builds and every pass reloads), an upsert
# (plans.incremental), the training export (plans.export), the Z-order
# rewrite (sources.layout) and a streaming drain.
TIMED: dict[str, tuple[str, ...]] = {
    "adhoc_sql": (
        "const_and_drop", "count_lineitem", "nations_union",
        "filter_compound_eq", "discounted_revenue", "orders_by_status",
        "hourly_event_counts", "region_summary", "user_purchase_fill",
        "catalog_columns",
    ),
    "pipelines": (
        "doc_token_stats", "dedup_exact", "cosine_topk_arrow",
        "binary_meta", "quality_model_report", "customer_upsert",
        "training_export_pipeline", "zorder_pruning_report",
        "streaming_rollup_drain",
    ),
}

WORKLOADS = tuple(OWNED)

# Nominal warm-pass length in seconds (four cores, default scale). A run
# makes round(--seconds / PASS_S) whole warm passes, at least one, so
# every run of a workload times the same operations the same number of
# times: a faster program finishes sooner instead of measuring more.
PASS_S = {"adhoc_sql": 2.0, "pipelines": 15.0}

# Entries whose oracle is a table of values pinned to the reference test
# corpus (``_ann_pins.PINNED``, the BPE merge table, the SimHash
# floors): on the benchmark's corpus they get the no-oracle check.
PINNED_ORACLES = frozenset({
    "ann_ivf_index_topk", "ann_ivf_kmeans_topk", "ann_ivf_topk",
    "ann_lsh_topk", "ann_quantized_topk", "ann_two_stage_topk",
    "binary_embed_topk", "dedup_simhash", "bpe_merges",
    # floors keyed by the corpus directory name; the oracle holds the
    # reference corpus's pair
    "simhash_quality_report",
})

# Entries that persist an artifact (index, centroids, model, landing)
# under the artifact cache on first use. Set-up runs the ones a run
# measures, so the timed passes find the cache warm.
ARTIFACT_ENTRIES = frozenset({
    "ann_ivf_index_topk", "ann_ivf_kmeans_topk", "ann_recall_report",
    "binary_file_ingest_meta", "dedup_incremental_near_bucketed",
    "dedup_incremental_near_indexed", "quality_model_report",
})

def check_ownership(registry_names) -> None:
    """Every registry entry in exactly one workload, and nothing else."""
    owned = [n for names in OWNED.values() for n in names]
    dup = sorted({n for n in owned if owned.count(n) > 1})
    missing = sorted(set(registry_names) - set(owned))
    extra = sorted(set(owned) - set(registry_names))
    if dup or missing or extra:
        raise SystemExit(
            f"workload ownership out of date: duplicated={dup} "
            f"unowned={missing} unknown={extra}"
        )
    for wl, names in TIMED.items():
        stray = sorted(set(names) - set(OWNED[wl]))
        if stray:
            raise SystemExit(f"{wl}: timed entries not owned: {stray}")
