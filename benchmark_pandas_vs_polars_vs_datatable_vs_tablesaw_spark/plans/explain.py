"""Plan inspection — SURVEY.md §2.12 H6 (`describe_optimized_plan`,
`main.rs:155-156`) plus the scale-posture assertions the tests use.

``df.explain("formatted")`` is the Catalyst analogue of Polars'
optimized-plan dump; the helpers below turn plan text into assertable
facts (filter pushed? scan pruned? join broadcast? codegen fused?) so
"the plan is the plan we want" is a test, not a hope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (what explain() prints)."""
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), mode
        )
    except Exception:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()


def has_pushed_filter(df: DataFrame, fragment: str = "") -> bool:
    """True if the scan carries a pushed-down filter (optionally one
    mentioning ``fragment``)."""
    text = plan_text(df)
    for line in text.splitlines():
        if "PushedFilters" in line and "[]" not in line.replace(" ", ""):
            if fragment in line:
                return True
    return False


def scan_columns(df: DataFrame) -> list[str]:
    """Columns actually read by the (first) parquet scan — the
    column-pruning check: ReadSchema must be the used subset."""
    text = plan_text(df)
    for line in text.splitlines():
        if "ReadSchema" in line:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            return [c.split(":")[0].strip() for c in inner.split(",") if c.strip()]
    return []


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_text(df) or "BroadcastNestedLoopJoin" in plan_text(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of distinct Exchange operators in the physical plan — the
    shuffle-budget check (SURVEY.md 'minimize shuffles').

    Formatted plans print every operator twice (tree + detail section),
    so count unique ``(n) Exchange`` detail headers; fall back to tree
    lines halved is wrong for plans without details, so instead count
    detail headers if present, else tree lines."""
    text = plan_text(df)
    detail = [
        line
        for line in text.splitlines()
        if line.strip().startswith("(")
        and ") Exchange" in line
        and "BroadcastExchange" not in line
        and "Reused" not in line
    ]
    if detail:
        return len(detail)
    return sum(
        1
        for line in text.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line and "Reused" not in line
    )


def _tree_depth(line: str) -> int:
    """Indentation depth of a plan-tree line (position of its +-/:-
    marker); non-tree lines sort deepest so they never break a subtree."""
    for marker in ("+-", ":-"):
        pos = line.find(marker)
        if pos >= 0:
            return pos
    return 1 << 30


def single_partition_subtrees(df: DataFrame) -> list[str]:
    """The child subtree (as text) of every ``Exchange SinglePartition``
    node in the simple-mode plan. Used to assert that any single-
    partition shuffle moves aggregated partition METADATA (an
    Aggregate sits below it), never data rows — the scale-safety
    contract of global_rank's offsets branch."""
    lines = plan_text(df, "simple").splitlines()
    subtrees = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        depth = _tree_depth(line)
        sub = []
        for nxt in lines[i + 1 :]:
            if _tree_depth(nxt) <= depth:
                break
            sub.append(nxt)
        subtrees.append("\n".join(sub))
    return subtrees


def plan_signature(df: DataFrame) -> dict[str, int]:
    """Structural fingerprint of the physical plan: distinct node
    counts for the operators whose appearance/disappearance IS a perf
    regression (a lost broadcast, a new exchange, a de-shared cache).
    Counted from the formatted plan's detail headers ``(n) <Op>`` so
    tree/detail double-printing and ReusedExchange references never
    inflate the numbers. Snapshot-compared for the most expensive
    bench queries in tests/test_plans.py (VERDICT r6 "Next round" #7:
    the r5 cusum incident would have been triaged in minutes with a
    committed plan signature to diff)."""
    import re

    text = plan_text(df, "formatted")

    def _distinct(op: str) -> int:
        return len(set(re.findall(rf"^\((\d+)\) {op}\b", text, re.M)))

    return {
        "shuffle_exchanges": _distinct("Exchange"),
        "broadcast_exchanges": _distinct("BroadcastExchange"),
        "broadcast_hash_joins": _distinct("BroadcastHashJoin"),
        "sort_merge_joins": _distinct("SortMergeJoin"),
        "parquet_scans": _distinct("Scan parquet"),
        "cache_scans": _distinct("InMemoryTableScan"),
        "aqe_roots": _distinct("AdaptiveSparkPlan"),
    }
