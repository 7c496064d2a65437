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

The same first read decides the scan's parallelism. Spark splits a file
into byte ranges of ``FilePartition.maxSplitBytes`` and plans one task
per range, but a range reads only the row groups whose midpoint it
holds, so a file written as ONE row group scans on one core however
many ranges it has. A plain fixture file with fewer row groups than
ranges is therefore read through a copy re-chunked into one row group
per range, written once per identity under ``tempfile.gettempdir()``:
the scan gets one task per range with no exchange. At real scale
writers emit row groups of 128 MB or less, so the copy is never made.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from typing import NamedTuple

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


class _Scan(NamedTuple):
    schema: T.StructType
    path: str  # the file the reader opens: the source or its re-chunked copy
    splits: int | None  # scan tasks Spark plans over it; None for a layout directory


# file identity (path, size, mtime_ns) -> how its scan reads it
_SCANS: dict[tuple[str, int, int], _Scan] = {}
# re-chunked copy -> the source file it was written from
_SOURCES: dict[str, str] = {}


def read_parquet(spark: SparkSession, path: str, identity: str | None = None) -> DataFrame:
    """``spark.read.schema(s).parquet(p)`` with ``s`` inferred once per
    identity of the file at ``identity`` (default ``path``; a layout
    directory passes its ``_SUCCESS`` marker). A rewrite changes the
    size or mtime, so a stale schema is never served. For a plain file
    ``p`` is the file itself or, if it has fewer row groups than Spark
    plans scan tasks, its re-chunked copy (:func:`_split`)."""
    scan = _scan(spark, path, identity)
    return spark.read.schema(scan.schema).parquet(scan.path)


def _scan(spark: SparkSession, path: str, identity: str | None = None) -> _Scan:
    st = os.stat(identity or path)
    key = (os.path.abspath(identity or path), st.st_size, st.st_mtime_ns)
    scan = _SCANS.get(key)
    if scan is None:
        schema = spark.read.parquet(path).schema
        if identity is None:
            scan = _Scan(schema, *_split(spark, *key))
        else:
            scan = _Scan(schema, path, None)
        for old in [k for k in _SCANS if k[0] == key[0]]:
            del _SCANS[old]
        _SCANS[key] = scan
    return scan


def _split(spark: SparkSession, path: str, size: int, mtime_ns: int) -> tuple[str, int]:
    """(file to read, scan tasks) for a parquet file. The task count is
    ``ceil(size / maxSplitBytes)`` under Spark's own rule and the
    session's ``spark.sql.files.*`` confs; a file with fewer row groups
    than that is read through :func:`_rechunk`'s copy."""
    jss = spark._jsparkSession
    conf = jss.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    cores = min_parts.get() if min_parts.isDefined() else jss.leafNodeDefaultParallelism()
    max_split = min(conf.filesMaxPartitionBytes(), max(open_cost, (size + open_cost) // cores))
    splits = -(-size // max_split)
    if splits <= 1:
        return path, 1
    import pyarrow.parquet as pq

    source = pq.ParquetFile(path)
    if source.metadata.num_row_groups >= splits:
        return path, splits
    return _rechunk(source, path, size, mtime_ns, splits), splits


def _rechunk(source, path: str, size: int, mtime_ns: int, groups: int) -> str:
    """A copy of ``path`` in ``groups`` row groups of equal row count,
    with the source's arrow schema, format version and codec, streamed
    one row group at a time. It is named after the source's identity
    under ``tempfile.gettempdir()``, so a later process reuses it, and
    copies of an earlier identity of the same source are deleted."""
    import pyarrow.parquet as pq

    out_dir = os.path.join(os.path.abspath(tempfile.gettempdir()), "sparkbench_scan")
    os.makedirs(out_dir, exist_ok=True)
    stem = hashlib.sha1(path.encode()).hexdigest()[:16]
    current = f"{stem}-{size}-{mtime_ns}-"
    copy = os.path.join(out_dir, f"{current}{groups}.parquet")
    for name in os.listdir(out_dir):
        old = os.path.join(out_dir, name)
        if name.startswith(stem + "-") and not name.startswith(current):
            _SOURCES.pop(old, None)
            try:
                os.remove(old)
            except OSError:
                pass
    if not os.path.exists(copy):
        meta = source.metadata
        rows = -(-meta.num_rows // groups)
        codec = meta.row_group(0).column(0).compression
        int96 = any(meta.schema.column(i).physical_type == "INT96" for i in range(meta.num_columns))
        tmp = f"{copy}.{os.getpid()}.tmp"
        with pq.ParquetWriter(
            tmp,
            source.schema_arrow,
            version=meta.format_version,
            compression="NONE" if codec == "UNCOMPRESSED" else codec,
            use_deprecated_int96_timestamps=int96,
        ) as writer:
            for batch in source.iter_batches(batch_size=rows):
                writer.write_batch(batch, row_group_size=rows)
        os.replace(tmp, copy)
    _SOURCES[copy] = path
    return copy


def source_of(path: str) -> str:
    """The file a scan's input file stands for: the source of a
    re-chunked copy, else ``path`` itself. File-identity checks over a
    frame's ``inputFiles()`` stat this, so a rewritten source is seen."""
    return _SOURCES.get(path, path)


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
    whose per-row compute dominates: every expression evaluated before
    the first exchange (winnow char-folds, n-gram construction, md5
    bucket hashes) runs in the scan's tasks, and a fixture file smaller
    than Spark's open cost (4 MB) scans as ONE task however it is
    chunked. Measured at sf0.1: the gopher gram build alone drops
    1.87 s -> 0.62 s with the floor in place.

    SCALE GATE: the round-robin repartition is applied ONLY when the
    scan plans fewer tasks than ``defaultParallelism`` (the split count
    :func:`read_parquet` decided for the file, so the gate costs no
    planning). At real scale (100 TB => thousands of scan tasks) the
    condition is false and this is a plain :func:`load_table` — a blind
    repartition there would shuffle the whole corpus payload for
    nothing. Row-level results are partitioning-independent for every
    caller (per-row projections and commutative aggregations only).
    """
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if _scan(spark, f"{sf_dir}/{name}.parquet").splits < target:
        df = df.repartition(target)
    return df
