#!/usr/bin/env python
"""Scale lane: time registry queries on a k-times blown-up fixture.

Usage: python scripts/scale_probe.py <blowup> <cpus> <query[,query...]>

Every fixture table under $SPARK_GRAFT_SF_DIR (default sf0.1) is
written ``blowup`` times over (``sources.generators.duplicate_rows``:
each row repeated k times, narrow, no shuffle) into a temp sf dir;
the named queries then run there on local[<cpus>] through
``harness.timing.bench_op`` (one warm-up, median of 3, build plus a
noop-sink forced run). Prints one JSON document with the per-query
medians and reps. Past results are recorded in SCALE.md
"Measured headroom".
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import catalog, registry
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.harness import timing
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.session import get_spark
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.sources import generators

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = 3


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    blowup, cpus, queries = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3].split(",")
    qs = registry.queries()
    unknown = [q for q in queries if q not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("scale-probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    with tempfile.TemporaryDirectory(prefix="scale-probe-") as tmp:
        sf_dir = os.path.join(tmp, f"x{blowup}")
        for table in catalog.TABLES:
            generators.duplicate_rows(catalog.read_raw(spark, SF_DIR, table), blowup).write.parquet(
                f"{sf_dir}/{table}.parquet"
            )
        for q in queries:
            t = timing.bench_op(q, lambda fn=qs[q]: _force(fn(spark, sf_dir)), reps=REPS)
            out[q] = {"median_s": round(t.median_s, 4), "reps_s": [round(x, 4) for x in t.times_s]}
            print(f"  {q}: {t.median_s:.3f}s", file=sys.stderr)
    print(json.dumps({"base_sf_dir": SF_DIR, "blowup": blowup, "cpus": cpus, "queries": out}, indent=1))


if __name__ == "__main__":
    main()
