"""Loaders for the driver's star-schema parquet fixtures.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings, one parquet file per table under
``{sf_dir}/``. Catalyst gets column pruning + predicate pushdown into
the scan for free.

Parquet carries the schema, but reading it is not free: a plain
``spark.read.parquet`` fires a Spark job to read the footer on every
call. :func:`read_parquet` infers each file's schema once per process,
keyed on the file's identity ``(path, size, mtime_ns)``, and hands it to
the reader, so building a query over an unchanged file fires no job and
a rewritten file is re-inferred.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_SCHEMAS: dict[tuple[str, int, int], T.StructType] = {}


def read_parquet(spark: SparkSession, path: str, identity: str | None = None) -> DataFrame:
    """``spark.read.schema(s).parquet(path)`` with ``s`` inferred once per
    identity of the file at ``identity`` (default ``path``; a layout
    directory passes its ``_SUCCESS`` marker). A rewrite changes the
    size or mtime, so a stale schema is never served."""
    st = os.stat(identity or path)
    key = (os.path.abspath(identity or path), st.st_size, st.st_mtime_ns)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


def read_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Raw parquet read. The events fixture stores TIMESTAMP(NANOS),
    which Spark's reader rejects by default — the legacy nanosAsLong
    conf (runtime-settable) surfaces it as a long we convert in
    :func:`load_table`."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TimestampType whatever layout the
    fixture writer used. Observed variants across driver rounds:

    - TIMESTAMP(NANOS) parquet, surfaced as a ns long via the
      ``nanosAsLong`` legacy conf -> floor to micros exactly as DuckDB
      does when it reads the same nanosecond column;
    - ``timestamp[us]`` parquet without tz metadata, surfaced as
      TIMESTAMP_NTZ by Spark 4 -> cast to TIMESTAMP_LTZ. The session
      timezone is pinned UTC (session.py), so the wall-clock values are
      byte-identical to DuckDB's naive-UTC reading of the same file.

    This is the single normalization point (FIXTURES.md): every query
    and every event-time test goes through :func:`load_table`, so a new
    writer layout only ever needs a branch here.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = read_raw(spark, sf_dir, name)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """:func:`load_table` with a SCAN-PARALLELISM FLOOR for operators
    whose per-row compute dominates (r14 optimization, guide §2.5
    "input skew: one huge unsplittable file ... repartition immediately
    after the read").

    Each fixture table is ONE small parquet file, so the scan plans as
    ONE task — and every expression evaluated before the first exchange
    (winnow char-folds, n-gram construction, md5 bucket hashes) runs on
    one core while the other 31 idle. Measured at sf0.1: the gopher
    gram build alone drops 1.87 s -> 0.62 s with the floor in place.

    SCALE GATE: the round-robin repartition is applied ONLY when the
    scan yields fewer partitions than ``defaultParallelism``. At real
    scale (100 TB => thousands of scan tasks) the condition is false
    and this is a plain :func:`load_table` — a blind repartition there
    would shuffle the whole corpus payload for nothing. Row-level
    results are partitioning-independent for every caller (per-row
    projections and commutative aggregations only).
    """
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df
