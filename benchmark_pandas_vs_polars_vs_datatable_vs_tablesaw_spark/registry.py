"""Central query registry: name -> (spark_fn, oracle_sql | None).

Single source of truth consumed by ``__spark_entry__.py`` (driver
contract), ``bench.py`` (headline suite), and the differential tests.
Each spark_fn is ``(spark, sf_dir) -> DataFrame``; oracle_sql is ANSI
SQL DuckDB runs against the same parquet views (None => driver records
the weaker rows-only check — used only where results are inherently
hash-dependent or probabilistic).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import (
    analytics,
    arrays,
    cdc,
    core,
    dedup,
    dq,
    geo,
    graph,
    joins,
    mlprep,
    multimodal,
    similarity,
    text,
    timeseries,
    tpch_extra,
    training,
)
from .shipping import ensure_package_on_workers
from .sources import pysource, storage
from .streaming import windows as streaming_windows

_MODULES = (
    dedup,
    dq,
    geo,
    cdc,
    graph,
    similarity,
    multimodal,
    text,
    timeseries,
    streaming_windows,
    arrays,
    storage,
    pysource,
    training,
    mlprep,
    core,
    joins,
    tpch_extra,
    analytics,
)

# Registration order == driver correctness-check order (the driver
# verifies the first N registry entries per round; N has been 50).
# The window's job is keeping rows from silently trailing code
# changes (VERDICT r6 "Next round" #1) and continuing the vintage
# drain, stalest rows first. ROTATION POLICY, pinned
# by tests/test_harness.py::test_priority_window_is_ledger_justified
# against scripts/attestation_ledger.py (which ast-diffs every query
# function between the commit its last driver row ran against and the
# working tree):
#
#   (i)  changed-since-row first: every query whose function body
#        changed after the round of its last driver row MUST be in
#        the window (round 12: streaming_minhash_dedup — explicit
#        index-read schemas + replay-layout wording, ADVICE r11);
#   (ii) then stalest-first, monotone: the window may include a
#        round-k row only if every older row is also included (the
#        enforced rule is max(window rounds) <= min(excluded rounds),
#        changed-since-row entries aside).
#
# OUTPUT CONVENTION (registry-wide, pinned after r5's red row): every
# registry query result must be sortable by an engine-neutral pandas
# canonicalizer sorting by ALL columns — so every output column must
# be scalar, with a unique scalar key leading the column list.
# Array-typed payloads are either exploded to long form
# (embedding_random_projection) or stringified (array_join/
# concat_ws); there is NO third option — pandas' multi-key lexsort
# factorizes every column, so an array column fails it even behind a
# unique leading key (ADVICE r6: the earlier wording here promised
# otherwise and contradicted the audit). Array-returning internal
# variants (e.g. embedding_random_projection_vectors) stay available
# for downstream composition but are not registry entries. Audited
# mechanically on every query: tests/helpers.py
# driver_sortability_problems() replays the driver's raw pandas
# multi-key sort inside run_differential (all oracle queries,
# tests/test_differential.py) and in the rows-only smoke
# (tests/test_registry_smoke.py), so a convention violation fails
# pytest before it can fail a driver round.
_PRIORITY = (
    # ---- ROUND 15 WINDOW (first 50 = the driver's check set) ----
    # Entering round 15 all 302 queries are green at their latest
    # driver row and the round-14 ledger shows zero changed-since-row
    # entries: rows by round {8: 21, 9: 45, 10: 44, 11: 48, 12: 46,
    # 13: 48, 14: 50}. Composition per the pinned rotation policy:
    # (i) changed-since-row first — every query function edited in
    #     this optimization round re-attests in the same round
    #     (entries move up into this block as the round's edits land,
    #     displacing the r9 alphabetical tail):
    "decontaminate_winnowing",             # r15 opt: token-factorized winnow hash (chars folded once)
    "dedup_winnowing_fingerprints",        # r15 opt: same shared _with_winnow_hashes rewrite
    "contamination_ngram_overlap",         # r15 opt: pre-split shingle build (O(tokens), was O(tokens^2))
    "dedup_minhash_incremental_recall",    # r15 opt: same pre-split shingle build
    "streaming_minhash_dedup_precision",   # r15 opt: same pre-split shingle build
    "chunk_documents",                     # r15 opt: pre-split chunk windows (one split per row)
    "text_quality_score",                  # r15: scan floor REVERTED (calm-window requalify 0.94x)
    "dedup_minhash_incremental",           # r15: probe-side scan floor REVERTED (requalify 1.07x)
    "phrase_proximity_topk",               # r15 opt: join-free per-row proximity (also r8 vintage)
    "multimodal_resize",                   # r15 opt: decode+resize fused into one mapInPandas
    "multimodal_frame_sample",             # r15 opt: video filter pushed below the Python boundary
    # (ii) stalest-first, monotone (max in-window round <= min
    #     excluded round, changed entries aside): the full 21-row r8
    #     vintage drains this round, then r9 vintage alphabetical
    #     fills the remaining slots; the r9 remainder queues for
    #     round 16. (bpe_pair_counts — also edited this round —
    #     already sits in the r9 block below.)
    # r8 vintage (20 here; the 21st, phrase_proximity_topk, sits in
    # the changed-since-row block above):
    "lang_confusion_matrix",
    "lang_id_heuristic",
    "map_funcs_suite",
    "pandas_udf_doc_score",
    "pii_redaction",
    "scale_up_duplicate",
    "semi_join_customers_with_orders",
    "set_ops_union_except",
    "streaming_hourly_agg",
    "streaming_sliding_agg",
    "streaming_stateful_counter",
    "streaming_topk_users",
    "text_clean_normalize",
    "text_repetition_filter",
    "text_stats",
    "tfidf_top_terms",
    "token_count_regex",
    "topk_orders",
    "udtf_token_explode",
    "window_running_total",
    # r9 vintage (alphabetical fill to exactly 50 — ADVICE r14: the
    # window must have exactly DRIVER_WINDOW entries so the 50th slot
    # is never an implicit module-order fallthrough):
    "ab_test_welch",
    "ann_lsh_topk",
    "approx_quantile_bounds",
    "bpe_pair_counts",
    "bucketed_join_revenue",
    "corr_covar_stats",
    "cube_priority_status",
    "data_budget_repeats",
    "data_mixture_resample",
    "date_parts_agg",
    "dedup_embedding_cosine",
    "dpp_join_pruned_scan",
    "embedding_quantize_int8",
    "exact_percentiles_by_group",
    "grouping_sets_custom",
    "higher_moments_stats",
    "histogram_totalprice",
    "ivf_ann_topk",
    "ivfpq_ann_topk",
)

# The documented driver check window: the driver oracle-verifies the
# first DRIVER_WINDOW registry entries each round. _PRIORITY must fill
# it exactly (ADVICE r14 — at 49 entries the 50th slot silently fell
# to module registration order, skipping the scheduled vintage drain).
DRIVER_WINDOW = 50
if len(_PRIORITY) != DRIVER_WINDOW:
    raise ValueError(
        f"_PRIORITY has {len(_PRIORITY)} entries; the driver checks the "
        f"first {DRIVER_WINDOW} registry entries, so the window must fill "
        "it exactly"
    )

_BY_NAME: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}
for _m in _MODULES:
    for _name, _pair in _m.QUERIES.items():
        if _name in _BY_NAME:
            raise ValueError(f"duplicate query name {_name!r}")
        _BY_NAME[_name] = _pair

_missing = [n for n in _PRIORITY if n not in _BY_NAME]
if _missing:
    raise ValueError(f"priority list names unknown queries: {_missing}")

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    n: _BY_NAME[n] for n in _PRIORITY
}
for _name, _pair in _BY_NAME.items():
    if _name not in REGISTRY:
        REGISTRY[_name] = _pair


def _shipped(fn: Callable[[SparkSession, str], DataFrame]):
    """Wrap a query so the package reaches Python workers first.

    Pandas-UDF closures reference module-level helpers that workers
    re-import by name (see shipping.py); shipping must happen before
    the first UDF-bearing job regardless of the caller's cwd/sys.path.
    """

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_package_on_workers(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _shipped(fn) for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql.strip() for name, (_, sql) in REGISTRY.items() if sql is not None}
