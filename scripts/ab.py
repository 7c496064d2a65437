#!/usr/bin/env python
"""Interleaved A/B: a git revision's package against the working tree.

Usage: python scripts/ab.py <query[,query...]> <rev>

The base arm is ``git archive <rev>`` of the package, extracted to a
temp dir under a distinct module name; the tree arm is the working
tree. Both arms run in ONE JVM, interleaved rep by rep (base, tree,
base, tree, ...), so host contention waves land on both arms alike
(SCALE.md's measurement discipline). Each arm builds its DataFrames
through its own ``registry.queries()``, so each ships its own package
zip to the Python workers. Every rep times DataFrame build plus a
noop-sink forced run through ``harness.timing.bench_op``; the first
rep of each arm is preceded by an untimed warm-up.

Prints one JSON document: per query, both arms' five reps and
medians, the median speedup (base / tree) and whether it meets the
>= 1.15x keep rule. The sf dir is $SPARK_GRAFT_SF_DIR (default sf0.1).
"""

from __future__ import annotations

import importlib
import io
import json
import os
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG = "benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = 5
KEEP_SPEEDUP = 1.15  # a change ships only at >= 1.15x (ROADMAP keep rule)


def keeps(speedup: float) -> bool:
    """The keep rule: base/tree median speedup of at least 1.15x."""
    return speedup >= KEEP_SPEEDUP


def archived_registry(rev: str, dest: str):
    """Extract ``rev``'s package into ``dest`` under a distinct module
    name (``abpkg_<sha>``), put ``dest`` on sys.path and return that
    package's ``registry`` module."""
    sha = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--short", f"{rev}^{{commit}}"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    blob = subprocess.run(
        ["git", "-C", REPO, "archive", "--format=tar", sha, PKG],
        capture_output=True, check=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
        tar.extractall(dest, filter="data")
    name = "abpkg_" + re.sub(r"\W", "_", sha)
    os.rename(os.path.join(dest, PKG), os.path.join(dest, name))
    if dest not in sys.path:
        sys.path.insert(0, dest)
    return importlib.import_module(f"{name}.registry")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(queries: list[str], rev: str, tmp: str) -> dict:
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import registry
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.harness import timing
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.session import get_spark

    arms = {rev: archived_registry(rev, tmp).queries(), "worktree": registry.queries()}
    missing = {arm: [q for q in queries if q not in fns] for arm, fns in arms.items()}
    if any(missing.values()):
        raise SystemExit(f"unknown queries per arm: {missing}")
    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")
    times = {q: {arm: [] for arm in arms} for q in queries}
    for rep in range(REPS):
        for q in queries:
            for arm, fns in arms.items():
                spark.sparkContext.setJobDescription(f"{q} [{arm}] rep {rep}")
                t = timing.bench_op(
                    q, lambda fn=fns[q]: _force(fn(spark, SF_DIR)), reps=1, warmup=rep == 0
                )
                times[q][arm].append(round(t.times_s[0], 4))
    out = {}
    for q, by_arm in times.items():
        base, tree = (statistics.median(by_arm[arm]) for arm in arms)
        speedup = round(base / tree, 3)
        out[q] = {
            "base_median_s": round(base, 4),
            "tree_median_s": round(tree, 4),
            "speedup": speedup,
            "keep": keeps(speedup),
            "reps_s": by_arm,
        }
    return {"base": rev, "sf_dir": SF_DIR, "reps": REPS, "queries": out}


def main() -> None:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        print(json.dumps(run(sys.argv[1].split(","), sys.argv[2], tmp), indent=1))


if __name__ == "__main__":
    main()
