"""Neutral-cwd contract sweep: entry() smoke at sf0.001, then every
queries() entry vs oracle_sql() via DuckDB at sf0.01."""

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from tests.helpers import run_differential
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.session import get_spark

SF = "/root/testdata/sf0.01"


def main():
    spark = get_spark(cpus=16, shuffle_partitions=16)

    res = entry_mod.entry(spark)
    rows = res.collect()
    print(f"entry(): {len(rows)} rows, schema={res.schema.simpleString()}", file=sys.stderr)
    assert len(rows) >= 0

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    ok = bad = 0
    failures = []
    for name, fn in qs.items():
        try:
            sql = oracles.get(name)
            if sql is None:
                n = fn(spark, SF).count()
                print(f"  {name}: rows-only, {n} rows", file=sys.stderr)
                ok += 1
                continue
            problems = run_differential(spark, SF, fn, sql)
            if problems:
                bad += 1
                failures.append((name, problems))
                print(f"  {name}: FAIL {problems}", file=sys.stderr)
            else:
                ok += 1
                print(f"  {name}: ok", file=sys.stderr)
        except Exception as exc:
            bad += 1
            failures.append((name, [f"{type(exc).__name__}: {exc}"]))
            traceback.print_exc()
    print(f"RESULT: {ok}/{ok + bad} ok")
    if failures:
        for name, p in failures:
            print(f"FAILED {name}: {p}")
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
