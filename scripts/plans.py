#!/usr/bin/env python
"""Compare `.explain("formatted")` plans of a git revision and the working tree.

Usage: python scripts/plans.py compare <rev> [query ...]

Builds each query twice in one Spark session: once through the package
of ``git archive <rev>`` (``ab.py``'s archive helper) and once through
the working tree. Prints ``identical <query>`` when the two normalised
plans match, else a unified diff and ``differs <query>`` with the
sha256 digest of each arm's plan. Exits 1 if any plan differs.

Expression ids (``#123``), exchange ids (``[plan_id=123]``), RDD ids
(``MapPartitionsRDD[123]``), Python lambda variable suffixes
(``lambda x_12``), memory-sink names (``sink_<hex>``) and per-call
scratch directories (``/<12 hex digits>``) are normalised to ``N``, so
the arms compare cleanly whichever builds first. Both arms share the
session catalog: a stored layout the revision's arm writes is read,
not rebuilt, by the worktree arm.

Queries default to bench.py's BENCH_QUERIES; the sf dir is
$SPARK_GRAFT_SF_DIR (default sf0.1), on local[8].
"""

from __future__ import annotations

import difflib
import hashlib
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
    plan = re.sub(r"\b(lambda \w+?)_\d+\b", r"\1_N", plan)
    plan = re.sub(r"(\bsink_|/)[0-9a-f]{12}\b", r"\1N", plan)
    return re.sub(r"\b(\w*RDD)\[\d+\]", r"\1[N]", plan)


def compare(name: str, base: str, tree: str, rev: str) -> bool:
    """Print the outcome for one query; True when the plans match."""
    if base == tree:
        print(f"identical {name}")
        return True
    sys.stdout.writelines(
        difflib.unified_diff(
            base.splitlines(keepends=True),
            tree.splitlines(keepends=True),
            f"{name} @ {rev}",
            f"{name} @ worktree",
        )
    )
    base_sha, tree_sha = (hashlib.sha256(t.encode()).hexdigest()[:16] for t in (base, tree))
    print(f"differs {name} {rev}={base_sha} worktree={tree_sha}")
    return False


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[1] != "compare":
        raise SystemExit(__doc__)
    rev = sys.argv[2]
    if sys.argv[3:]:
        targets = sys.argv[3:]
    else:
        import bench

        targets = bench.BENCH_QUERIES
    import ab
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import registry
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.plans import explain
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix="plans-") as tmp:
        arms = (ab.archived_registry(rev, tmp).queries(), registry.queries())
        spark = get_spark("plans", cpus=8, shuffle_partitions=8)
        spark.sparkContext.setLogLevel("ERROR")
        same = True
        for name in targets:
            base, tree = (normalise(explain.plan_text(qs[name](spark, SF_DIR))) for qs in arms)
            same &= compare(name, base, tree, rev)
    raise SystemExit(0 if same else 1)


if __name__ == "__main__":
    main()
