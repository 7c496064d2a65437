#!/usr/bin/env python
"""One-shot host-epoch probe: how fast is this host RIGHT NOW
relative to the committed rebaseline?

Times the same byte-stable control pair bench.py uses for its
start/mid/end calibration (bench.EPOCH_CONTROLS — a pure-JVM shuffle
agg and an Arrow-exchange op, the two distinct noise modes SCALE.md
documents) and prints one JSON line:

    {"controls": {"groupby_mean": 0.21, ...},
     "rebaseline": {...}, "factor": 1.04, "calm": true}

`factor` is median(control / rebaseline); `calm` applies the same
EPOCH_MARGIN bench.py uses. Since round 10 the probe is a RECORDER,
not a gate (SCALE.md "Timing-baseline policy, re-anchored"): timing
artifacts are regenerated by `scripts/reanchor_job.py` under the
min-across-fresh-JVMs policy with this probe's output embedded as
brackets; the `calm` bit and exit code remain for ad-hoc shell use
and for reading the host's state at a glance.

Exit code 0 when calm, 1 when not.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (repo root on path)
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import registry  # noqa: E402
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_EPOCH_PROBE_REPS", "5"))


def main() -> int:
    spark = get_spark("epoch-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    baseline = bench._load_rebaseline()
    controls = {
        name: round(bench._bench_query(qs, spark, name, REPS, warmup=True).median_s, 4)
        for name in bench.EPOCH_CONTROLS
    }
    factor = bench.epoch_factor({"now": controls}, baseline)
    calm = factor <= bench.EPOCH_MARGIN
    print(
        json.dumps(
            {
                "controls": controls,
                "rebaseline": {n: baseline.get(n) for n in bench.EPOCH_CONTROLS},
                "factor": factor,
                "calm": calm,
                "sf_dir": SF_DIR,
            }
        )
    )
    return 0 if calm else 1


if __name__ == "__main__":
    sys.exit(main())
