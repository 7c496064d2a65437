"""What building a query costs the driver, before anything runs.

Building a DataFrame should be cheap and lazy: no Spark job, and tens
to hundreds of py4j round trips, not thousands. Three guards:

- every benchmark query (``perfbench/workloads.py``), rebuilt after a
  first build, fires zero jobs and stays within a py4j-call budget,
  counted with ``perfbench/probe.Py4jCounter``;
- ``catalog``'s schema cache is keyed on file identity, so a rewritten
  fixture is re-read, never served a stale schema;
- ``dedup._index`` builds an index once per session and file identity,
  so a rebuild reuses it and a rewritten fixture rebuilds it.
"""

from __future__ import annotations

import gc
import os
import sys
import time
import uuid

import pytest
from pyspark.sql import types as T

from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import catalog, registry

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))

import probe  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BENCH_QUERIES = sorted({q for _, names in WORKLOADS.values() for q in names})

# py4j calls per rebuild, about 1.5x what each query measured at sf0.01
# when its vector, MinHash and projection expressions became SQL text
# (ivf_ann_topk made ~2000 calls, dedup_minhash_lsh ~1800 and
# mapinarrow_matrix_stats ~700 when built from Column objects).
# ivf_ann_topk and dedup_minhash_lsh: about 1.5x their counts (81 and
# 155) once their indexes became materialized leaves (dedup._index).
PY4J_BUDGET = {
    "bucketed_join_revenue": 250,
    "dedup_minhash_lsh": 230,
    "groupby_first_minby": 250,
    "groupby_mean": 100,
    "ivf_ann_topk": 120,
    "mapinarrow_matrix_stats": 200,
    "multimodal_resize": 100,
    "pandas_udf_doc_score": 200,
    "partition_pruned_scan": 150,
    "q1_pricing_summary": 750,
    "streaming_hourly_agg": 300,
    "topk_orders": 150,
    "window_lag_lead": 300,
}


@pytest.fixture(scope="module")
def sf01_dir(sf_dir):
    path = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.01")
    if not os.path.isfile(os.path.join(path, "lineitem.parquet")):
        pytest.skip(f"no fixtures at {path}")
    return path


def _settle_py4j_finalizer(spark) -> None:
    """py4j's finalizer thread sends one delete command per Java proxy
    that Python dropped, asynchronously. Collect garbage and wait until
    that queue is empty, so a count sees only the commands of the code
    it wraps."""
    gc.collect()
    queue = getattr(spark.sparkContext._gateway._gateway_client, "finalizer_deque", None)
    deadline = time.monotonic() + 10
    while queue and time.monotonic() < deadline:
        time.sleep(0.02)
    time.sleep(0.05)  # the task popped last may still be in flight


def _jobs_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    ids of the jobs that group fired."""
    sc = spark.sparkContext
    group = f"build-cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    probe.drain_listeners(spark)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", BENCH_QUERIES)
def test_rebuild_fires_no_job_within_py4j_budget(spark, sf01_dir, name):
    fn = registry.queries()[name]
    fn(spark, sf01_dir)  # first build: writes layouts, fills the schema cache
    _settle_py4j_finalizer(spark)
    counter = probe.Py4jCounter()
    counter.install()
    try:
        _, jobs = _jobs_in_group(spark, lambda: fn(spark, sf01_dir))
    finally:
        counter.uninstall()
    assert not jobs, f"{name}: building fired {len(jobs)} Spark job(s) {jobs}"
    assert counter.calls <= PY4J_BUDGET[name], (
        f"{name}: building made {counter.calls} py4j calls, budget {PY4J_BUDGET[name]}"
    )


def _write_parquet(path, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path)


def test_schema_cache_follows_file_identity(spark, sf_dir, tmp_path):
    path = str(tmp_path / "region.parquet")
    _write_parquet(path, {"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]})
    assert catalog.load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]

    df, jobs = _jobs_in_group(spark, lambda: catalog.load_table(spark, str(tmp_path), "region"))
    assert df.columns == ["r_regionkey", "r_name"]
    assert not jobs, f"an unchanged file was re-inferred: {len(jobs)} job(s)"

    _write_parquet(path, {"id": [7], "label": ["x"], "weight": [0.5]})
    df = catalog.load_table(spark, str(tmp_path), "region")
    assert df.columns == ["id", "label", "weight"]
    assert [tuple(r) for r in df.collect()] == [(7, "x", 0.5)]

    for _ in range(2):  # read or served from the cache, ts is normalized
        events = catalog.load_table(spark, sf_dir, "events")
        assert isinstance(events.schema["ts"].dataType, T.TimestampType)


def test_index_is_built_once_per_session_and_file_identity(spark, sf_dir, tmp_path, monkeypatch):
    """``dedup._index`` builds an index once per session and input-file
    identity: a rebuilt query gets the same leaves and fires no job, a
    rewritten ``documents.parquet`` rebuilds the index together with
    the band table derived from it, and a new session rebuilds too."""
    import shutil

    import pyarrow.parquet as pq

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import dedup

    for name in catalog.TABLES:
        shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), tmp_path)
    fixtures = str(tmp_path)
    built = []
    index = dedup._index

    def spy(*args, **kwargs):
        built.append(index(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(dedup, "_index", spy)

    def leaves(session):
        """(corpus signatures, their bands, batch signatures)."""
        built.clear()
        dedup.dedup_minhash_incremental(session, fixtures)
        (sigs, bands), batch = built
        return sigs, bands, batch

    first = leaves(spark)
    again, jobs = _jobs_in_group(spark, lambda: leaves(spark))
    assert not jobs, f"a rebuild fired {len(jobs)} job(s)"
    assert all(a is b for a, b in zip(again, first))

    docs = os.path.join(fixtures, "documents.parquet")
    table = pq.read_table(docs)
    pq.write_table(table.slice(0, table.num_rows // 2), docs)
    rewritten = leaves(spark)
    assert not any(a is b for a, b in zip(rewritten, first))
    assert 0 < rewritten[1].count() < first[1].count(), "the bands must follow their base"

    other = spark.newSession()
    fresh = leaves(other)
    assert not any(a is b for a, b in zip(fresh, rewritten))
    uuid_other = other._jsparkSession.sessionUUID()
    assert {key[0] for key in dedup._INDEXES} == {uuid_other}, "other sessions' entries stay"
