"""Central query registry: name -> (spark_fn, oracle_sql | None).

Single source of truth consumed by ``__spark_entry__.py`` (driver
contract), ``bench.py`` (headline suite), ``perfbench/`` and the
differential tests. Each spark_fn is ``(spark, sf_dir) -> DataFrame``;
oracle_sql is ANSI SQL DuckDB runs against the same parquet views
(None => driver records the weaker rows-only check — used only where
results are inherently hash-dependent or probabilistic).

``REGISTRY`` is every operator module's ``QUERIES`` merged in module
order. ``bench.py``, ``perfbench/`` and the tests look queries up by
name; only the driver cares about order. It checks a prefix of
``__spark_entry__.queries()``, which sorts these names over the
committed ``results/attestation_ledger.json``: changed since the last
driver row first, then the stalest row. After editing a query or a
helper it calls, refresh the ledger with
``python scripts/attestation_ledger.py``.
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
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}
for _m in _MODULES:
    for _name, _pair in _m.QUERIES.items():
        if _name in REGISTRY:
            raise ValueError(f"duplicate query name {_name!r}")
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
