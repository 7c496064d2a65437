#!/usr/bin/env python
"""Dump `.explain("formatted")` plans as before/after evidence for a change.

Usage: python scripts/plans.py <round> <rev|worktree> [query ...]

Writes plans/r<round>/<query>_<tag>.txt. ``worktree`` imports the
working-tree package (tag "worktree"); any other argument is a git
revision, extracted with ``ab.py``'s archive helper (tag = the rev,
non-word characters replaced by "_"). Expression ids (``#123``),
exchange ids (``[plan_id=123]``) and RDD ids (``MapPartitionsRDD[123]``)
are normalised to ``N`` so that plans from the two arms diff cleanly
whichever arm runs first.
Queries default to bench.py's BENCH_QUERIES; the sf dir is
$SPARK_GRAFT_SF_DIR (default sf0.1), on local[8].
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalise(plan: str) -> str:
    """Replace the session counters a plan text carries with ``N``."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=N]", plan)
    return re.sub(r"\b(\w*RDD)\[\d+\]", r"\1[N]", plan)


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    round_no, arm = sys.argv[1], sys.argv[2]
    if sys.argv[3:]:
        targets = sys.argv[3:]
    else:
        import bench

        targets = bench.BENCH_QUERIES
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.plans import explain
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix="plans-") as tmp:
        if arm == "worktree":
            from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import registry
        else:
            import ab

            registry = ab.archived_registry(arm, tmp)
        qs = registry.queries()
        tag = re.sub(r"\W", "_", arm)
        out_dir = os.path.join(REPO, "plans", f"r{round_no}")
        os.makedirs(out_dir, exist_ok=True)
        spark = get_spark("plans", cpus=8, shuffle_partitions=8)
        spark.sparkContext.setLogLevel("ERROR")
        for name in targets:
            text = normalise(explain.plan_text(qs[name](spark, SF_DIR)))
            path = os.path.join(out_dir, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(text)
            print(f"wrote {path}")


if __name__ == "__main__":
    main()
