#!/usr/bin/env python
"""Regenerate the committed plan-signature snapshot for the most
expensive bench queries (VERDICT r6 "Next round" #7).

The snapshot (results/plan_snapshots.json) pins the structural shape
— exchange / broadcast / scan / cache node counts, via
plans.explain.plan_signature — of the queries where a silent plan
regression costs the most wall-clock. tests/test_plans.py::
test_plan_snapshots_top_queries rebuilds each plan at sf0.001 and
compares; a lost broadcast or an extra shuffle fails pytest before it
ever shows up as bench drift (the r5 cusum incident took a round to
triage for want of exactly this diff).

Run after any DELIBERATE plan change to one of these operators:
    python scripts/plan_snapshots.py
and commit the refreshed JSON together with the operator change.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import registry
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.plans import explain
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# Every query >= 0.5s in BENCH_r07 (20 of them — VERDICT r7 #6 asked
# for exactly this coverage: a lost broadcast or new exchange in any
# headline query fails pytest before it shows up as wall-clock
# drift), plus ks_drift_test (kept from the round-7 top-5 — its
# 16→4-scan rewrite is exactly the kind of deliberate plan change
# this snapshot exists to pin). ~60% of the suite total.
# Round 9 (VERDICT r8 #5): the four r8 queries >= 0.5s in BENCH_r08 —
# decontaminate_winnowing 4.78s, gopher_repetition_signals 3.51s,
# dsir_importance_weights 2.42s, mapinarrow_matrix_stats 0.72s (now
# also an epoch control, so its plan shape is calibration-load-bearing)
# — plus the round-9 addition dedup_substring_exact.
# Round 10: the two r10 additions (dedup_minhash_incremental's index
# probe join and bpe_train_merges' 3-round scan+broadcast chain).
# Round 11: the stored-bucketed index probe and the batched trainer.
# Round 12: the stored-bucketed ANN index probe (bucket-pruning +
# column-pruning shape is the whole point — pin it).
SNAPSHOT_QUERIES = [
    "ivfpq_ann_topk_bucketed",
    "ivf_within_list_nn",
    "dedup_minhash_incremental",
    "dedup_minhash_incremental_bucketed",
    "bpe_train_merges",
    "bpe_train_merges_batched",
    "bpe_encode_corpus",
    "decontaminate_winnowing",
    "gopher_repetition_signals",
    "dsir_importance_weights",
    "mapinarrow_matrix_stats",
    "dedup_substring_exact",
    "ccnet_perplexity_buckets",
    "geo_nearest_supplier",
    "triangle_count_copurchase",
    "scd2_priority_history",
    "sort_asc_rank",
    "boilerplate_phrase_ratio",
    "cusum_changepoint_by_type",
    "ewma_customer_orders",
    "dedup_containment",
    "tfidf_top_terms",
    "q5_revenue_by_nation",
    "link_prediction_common_neighbors",
    "bloom_prefilter_join",
    "dedup_minhash_lsh",
    "q3_shipping_priority",
    "chi2_token_source",
    "gdpr_delete_cascade",
    "dedup_sentence_clean",
    "dedup_winnowing_fingerprints",
    "ivf_ann_topk",
    "ks_drift_test",
]


def build_signatures(spark) -> dict[str, dict[str, int]]:
    qs = registry.queries()
    return {
        name: explain.plan_signature(qs[name](spark, SF_DIR))
        for name in SNAPSHOT_QUERIES
    }


def main() -> None:
    spark = get_spark("plan-snapshots")
    spark.sparkContext.setLogLevel("ERROR")
    sigs = build_signatures(spark)
    path = os.path.join(REPO, "results", "plan_snapshots.json")
    with open(path, "w") as f:
        json.dump({"sf_dir": SF_DIR, "signatures": sigs}, f, indent=1)
    print(json.dumps(sigs, indent=1))
    print(f"-> {path}")


if __name__ == "__main__":
    main()
