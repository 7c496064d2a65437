"""The benchmark's workloads: a fixture scale and an ordered list of
registry query names. Every query here has a DuckDB oracle except
``dedup_minhash_lsh``, whose LSH buckets are hash-dependent."""

from __future__ import annotations

WORKLOADS: dict[str, tuple[float, tuple[str, ...]]] = {
    "olap_sf0.1": (0.1, (
        "topk_orders",
        "partition_pruned_scan",
        "groupby_mean",
        "groupby_first_minby",
        "q1_pricing_summary",
        "window_lag_lead",
        "streaming_hourly_agg",
    )),
    "mix_sf0.01": (0.01, (
        "groupby_mean",
        "ivf_ann_topk",
        "multimodal_resize",
        "pandas_udf_doc_score",
        "dedup_minhash_lsh",
        "bucketed_join_revenue",
        "mapinarrow_matrix_stats",
    )),
}
