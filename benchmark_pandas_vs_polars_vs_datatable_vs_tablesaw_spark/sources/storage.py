"""Storage-layout operators: bucketed tables (co-located joins) and
partition-pruned reads.

The reference reads flat CSV (SURVEY.md §2.1) — it has no storage
layout at all. At 100 TB, layout IS the optimization: a fact table
bucketed by its join key joins without ANY exchange (the single most
expensive operator at scale), and a table partitioned by a filter
column is read at 1/|partitions| cost via partition pruning. These
queries build both layouts once into a scratch warehouse and
demonstrate the no-shuffle / pruned-scan read paths with fully
oracle-checked results.
"""

from __future__ import annotations

import hashlib
import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..functions.scalars import money_sum

WAREHOUSE = os.path.join(tempfile.gettempdir(), "sparkbench_warehouse")
N_BUCKETS = 8


def _fixture_fingerprint(sf_dir: str, name: str) -> str:
    """Content fingerprint (8 hex chars) of the fixture files backing
    table ``name``: (relative path, size, mtime_ns) of every file.

    Cached layouts are keyed on this, so regenerating a fixture
    invalidates the derived bucketed/partitioned/round-trip copies
    automatically — without it, Spark would silently read a stale
    warehouse snapshot while the DuckDB oracle reads the fresh
    parquet, producing false differentials either way."""
    src = os.path.join(sf_dir, f"{name}.parquet")
    paths = []
    if os.path.isdir(src):
        for root, _, files in os.walk(src):
            paths.extend(os.path.join(root, f) for f in files)
    elif os.path.exists(src):
        paths = [src]
    h = hashlib.md5()
    for p in sorted(paths):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, sf_dir)}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:8]


def _tag(sf_dir: str, name: str) -> str:
    base = re.sub(r"[^0-9A-Za-z]+", "_", sf_dir.rstrip("/")).strip("_")
    return f"{base}_{_fixture_fingerprint(sf_dir, name)}"


def ensure_bucketed_specs(spark: SparkSession, specs) -> list[DataFrame]:
    """Write COMPUTED frames as bucketed+sorted catalog tables, once
    per (table name, session catalog); later calls read the stored
    buckets. ``specs`` is an ordered iterable of
    ``(table_name, bucket_keys, build_fn)`` — ordered so a later spec
    may derive from an earlier stored table (the MinHash index builds
    signatures from one corpus scan, then bands from the STORED
    signatures). Same stale-catalog guard as :func:`_ensure_bucketed`:
    a catalog entry whose backing files are gone is dropped and
    rebuilt — and because later specs DERIVE from earlier ones,
    rebuilding any spec cascades a rebuild of every spec after it in
    the same call (ADVICE r11: without the cascade, a band table that
    kept its files would be served against freshly rebuilt signatures,
    correct only by the unstated determinism of build_fn). Shared by
    operators/dedup._ensure_minhash_index_tables and the scale run in
    results/incremental_minhash_probe.json, which measured exactly
    the layout the operator ships.

    CONTRACT (ADVICE r12): the rebuild cascade propagates only WITHIN
    one call — ``rebuilt_upstream`` starts False per invocation, so a
    base rebuilt by an earlier call (or a prior session against the
    persistent metastore) cannot trigger a rebuild of a derived table
    passed in a later call. A derived spec must therefore always be
    passed in the SAME call as the spec it derives from (every caller
    in this codebase does); the alternative — keying each derived
    table on a fingerprint of its upstream table's files, the way
    ``_fixture_fingerprint`` keys source tables — would make split
    calls safe but buys nothing while no such caller exists."""
    out = []
    rebuilt_upstream = False
    for tbl, keys, build in specs:
        path = os.path.join(WAREHOUSE, tbl)
        stale = spark.catalog.tableExists(tbl) and not os.path.exists(
            os.path.join(path, "_SUCCESS")
        )
        if stale or (rebuilt_upstream and spark.catalog.tableExists(tbl)):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        if not spark.catalog.tableExists(tbl):
            rebuilt_upstream = True
            (
                # repartition on the bucket keys first so each bucket
                # lands in EXACTLY ONE file: Spark trusts a bucketed
                # table's sortBy ordering only when buckets are
                # single-file, and that trust is what lets a
                # sort-merge self-join on the bucket key plan with
                # zero exchange AND zero sort (r12,
                # tests/test_plans.py::test_ivf_within_list_nn_...).
                # Also the right write shape: 8 compact bucket files
                # instead of tasks x buckets fragments.
                build()
                .repartition(N_BUCKETS, *[F.col(k) for k in keys])
                .write.bucketBy(N_BUCKETS, *keys)
                .sortBy(*keys)
                .option("path", path)
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(tbl)
            )
        out.append(spark.table(tbl))
    return out


def _ensure_bucketed(
    spark: SparkSession, sf_dir: str, name: str, bucket_col: str, cols: list[str]
) -> DataFrame:
    """Write ``name`` bucketed+sorted by ``bucket_col`` once per
    (sf_dir, session catalog); later calls read the bucketed files.

    bucketBy pre-shuffles ONCE at write time; every subsequent join or
    aggregation on the bucket key reads co-located, pre-sorted buckets
    and skips both the exchange and the sort — the write cost amortizes
    across every downstream consumer, which is exactly how a 100 TB
    fact table should be laid out.
    """
    tbl = f"{name}_bkt_{_tag(sf_dir, name)}"
    path = os.path.join(WAREHOUSE, tbl)
    # A catalog entry whose backing files are gone (warehouse wiped
    # between sessions) must not be trusted: drop and rewrite.
    if spark.catalog.tableExists(tbl) and not os.path.exists(
        os.path.join(path, "_SUCCESS")
    ):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if not spark.catalog.tableExists(tbl):
        (
            load_table(spark, sf_dir, name)
            .select(*cols)
            .write.bucketBy(N_BUCKETS, bucket_col)
            .sortBy(bucket_col)
            .option("path", path)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )
    return spark.table(tbl)


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders x lineitem with BOTH sides bucketed by the join key:
    the sort-merge join runs with zero Exchange and zero Sort (verify
    with .explain — no Exchange below the SortMergeJoin). The merge
    hint keeps AQE from flipping to broadcast at fixture scale, since
    the point is the co-located read path."""
    li = _ensure_bucketed(
        spark, sf_dir, "lineitem", "l_orderkey", ["l_orderkey", "l_extendedprice", "l_discount"]
    )
    orders = _ensure_bucketed(
        spark, sf_dir, "orders", "o_orderkey", ["o_orderkey", "o_orderstatus"]
    )
    return (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


BUCKETED_JOIN_ORACLE = """
SELECT o_orderstatus,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
           / 10000.0 AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


def _partitioned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders hive-partitioned by o_orderpriority once; read it
    back. Partition values become directories, so a filter on the
    partition column prunes whole directories at planning time. The
    read's schema is cached on the layout's ``_SUCCESS`` marker, which
    every rewrite replaces."""
    path = os.path.join(WAREHOUSE, f"orders_part_{_tag(sf_dir, 'orders')}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        (
            load_table(spark, sf_dir, "orders")
            .write.partitionBy("o_orderpriority")
            .mode("overwrite")
            .parquet(path)
        )
    return read_parquet(spark, path, identity=marker)


def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter on the partition column of a partitioned layout: the scan
    touches ONE priority directory out of five (PartitionFilters in the
    plan, PartitionCount: 1) — at 100 TB this is the difference between
    reading 20 TB and reading 100 TB for the same query."""
    orders = _partitioned_orders(spark, sf_dir)
    return (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
        )
    )


PARTITION_PRUNED_ORACLE = """
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS price_sum
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
"""


def dpp_join_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the partition filter arrives at RUN
    time from the other side of a join, not from a literal predicate.

    A tiny derived dimension (priority -> urgency class) is filtered
    on urgency; the fact side is the hive-partitioned orders layout
    joined on the partition column. Catalyst injects a
    dynamicpruning#... subquery into the fact scan's PartitionFilters
    (reusing the dim broadcast), so only the matching priority
    directories are read — the join-driven analogue of
    partition_pruned_scan, and at 100 TB the mechanism that makes
    star-schema queries read 1/5th of the fact table without the user
    spelling the partition values into the query.
    """
    orders = _partitioned_orders(spark, sf_dir)
    dim = spark.createDataFrame(
        [
            ("1-URGENT", "high"),
            ("2-HIGH", "high"),
            ("3-MEDIUM", "mid"),
            ("4-NOT SPECIFIED", "low"),
            ("5-LOW", "low"),
        ],
        "d_priority string, urgency string",
    ).filter(F.col("urgency") == "high")
    return (
        orders.join(F.broadcast(dim), orders.o_orderpriority == dim.d_priority)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
        )
        .orderBy("o_orderstatus")
    )


DPP_JOIN_ORACLE = """
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS price_sum
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --------------------------------------------------------------------------
# format round-trips: every sink/source format Spark ships natively
# --------------------------------------------------------------------------


def _roundtrip_path(sf_dir: str, fmt: str, src_table: str) -> str:
    return os.path.join(WAREHOUSE, f"rt_{fmt}_{_tag(sf_dir, src_table)}")


_SUPPLIER_AGG_ORACLE = """
SELECT count(*) AS n, count(DISTINCT s_suppkey) AS n_keys,
       round(sum(s_acctbal), 2) AS bal_sum
FROM supplier
"""


def _supplier_agg(df: DataFrame) -> DataFrame:
    return df.select(
        F.count("*").alias("n"),
        F.count_distinct("s_suppkey").alias("n_keys"),
        F.round(F.sum("s_acctbal"), 2).alias("bal_sum"),
    )


def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema'd source: the interchange format of
    most ingestion pipelines. Read back with the WRITER's schema —
    never inference at scale (inference is a full extra pass and can
    widen types batch-to-batch)."""
    src = load_table(spark, sf_dir, "supplier")
    path = _roundtrip_path(sf_dir, "json", "supplier")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        src.write.mode("overwrite").json(path)
    back = spark.read.schema(src.schema).json(path)
    return _supplier_agg(back)


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source — the other columnar format Spark ships a
    vectorized reader for; same pushdown/pruning properties as parquet."""
    src = load_table(spark, sf_dir, "supplier")
    path = _roundtrip_path(sf_dir, "orc", "supplier")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        src.write.mode("overwrite").orc(path)
    return _supplier_agg(spark.read.orc(path))


def parquet_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet with explicit zstd codec — codec choice is a first-order
    cost knob at 100 TB (zstd ≈ snappy decode speed at ~30% smaller
    files ⇒ proportionally less scan I/O)."""
    src = load_table(spark, sf_dir, "supplier")
    path = _roundtrip_path(sf_dir, "pq_zstd", "supplier")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        src.write.option("compression", "zstd").mode("overwrite").parquet(path)
    return _supplier_agg(spark.read.parquet(path))


def textfile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line sink/source (one string column) — the format of
    unprocessed corpus dumps; accounting on line count + total chars."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    path = _roundtrip_path(sf_dir, "text", "documents")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.select(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("n_chars"),
    )


TEXTFILE_ORACLE = """
SELECT count(*) AS n_lines, CAST(sum(length(text)) AS BIGINT) AS n_chars FROM documents
"""


COMPACT_FRAGMENTS = 64
COMPACT_TARGET_FILES = 4


def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the standing maintenance job of every
    large table: streaming ingestion and fine-grained partitioning
    leave thousands of KB-sized files whose per-file open/footer cost
    dominates scans (the classic small-files problem). Compaction
    rewrites them into few scan-sized files.

    Builds a deliberately fragmented copy of ``orders`` (64 files),
    compacts with a REPARTITION-BY-NUM rewrite (a real shuffle rewrite
    — what a production compactor does to also restore clustering;
    ``coalesce`` would merely glue input splits), verifies the file
    count dropped to the target, and returns an aggregate over the
    compacted copy that the oracle checks against the source — i.e.
    the rewrite provably lost nothing. At 100 TB this runs
    per-partition with target file size ≈ 128-512 MB.
    """
    src = load_table(spark, sf_dir, "orders")
    frag = os.path.join(WAREHOUSE, f"frag_orders_{_tag(sf_dir, 'orders')}")
    compacted = os.path.join(WAREHOUSE, f"compact_orders_{_tag(sf_dir, 'orders')}")
    if not os.path.exists(os.path.join(frag, "_SUCCESS")):
        src.repartition(COMPACT_FRAGMENTS).write.mode("overwrite").parquet(frag)
    if not os.path.exists(os.path.join(compacted, "_SUCCESS")):
        spark.read.parquet(frag).repartition(COMPACT_TARGET_FILES).write.mode(
            "overwrite"
        ).parquet(compacted)
    n_files = len(
        [f for f in os.listdir(compacted) if f.endswith(".parquet")]
    )
    assert n_files <= COMPACT_TARGET_FILES, f"compaction left {n_files} files"
    back = spark.read.parquet(compacted)
    return back.select(
        F.count("*").alias("n"),
        F.count_distinct("o_orderkey").alias("n_keys"),
        money_sum(F.col("o_totalprice")).alias("price_sum"),
    )


COMPACT_ORACLE = """
SELECT count(*) AS n, count(DISTINCT o_orderkey) AS n_keys,
       sum(CAST(round(o_totalprice * 10000) AS BIGINT)) / 10000.0 AS price_sum
FROM orders
"""


_Z_BITS = 8  # 8 bits per dimension -> 16-bit z-value
_Z_BUCKET = 1024  # bucket = z / 1024: top 3 interleaved bit-pairs fixed


def zorder_value(xq, yq, bits: int = _Z_BITS):
    """Morton (Z-order) interleave of two ``bits``-bit quantized
    columns — pure shift/mask built-ins, fully codegen'd."""
    z = F.lit(0)
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(xq, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(yq, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def _zorder_value_sql(x: str, y: str, bits: int = _Z_BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key for multi-dimensional data
    skipping — the layout trick behind Delta/Iceberg OPTIMIZE ZORDER:
    sorting by the bit-interleaved key keeps BOTH dimensions locally
    narrow in every file, so min/max footer stats prune scans for
    filters on either column (a plain sort narrows only its leading
    column).

    Quantizes orders onto a 256x256 grid (customer key x order-date
    day), interleaves the bits with shift/mask built-ins (zero Python,
    zero UDF), and reports per-z-range min/max spans of both
    dimensions — the narrowing the oracle verifies numerically: each
    1024-wide z-range confines both coordinates to 32-wide bands
    (top 3 bit-pairs fixed ⇒ span < 2^5). The write-side use is
    ``repartitionByRange(zval).sortWithinPartitions(zval)`` before the
    parquet sink (exercised in the semantic test); at 100 TB the same
    key range-partitions the table so every executor writes disjoint
    z-ranges.
    """
    orders = load_table(spark, sf_dir, "orders")
    xq = F.pmod(F.col("o_custkey"), F.lit(256)).cast("int")
    yq = F.pmod(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")), F.lit(256)
    ).cast("int")
    z = zorder_value(xq, yq)
    return (
        orders.select(xq.alias("xq"), yq.alias("yq"), z.alias("zval"))
        .groupBy(F.floor(F.col("zval") / _Z_BUCKET).cast("int").alias("z_range"))
        .agg(
            F.count("*").alias("n_rows"),
            (F.max("xq") - F.min("xq")).alias("x_span"),
            (F.max("yq") - F.min("yq")).alias("y_span"),
        )
    )


ZORDER_ORACLE = f"""
WITH q AS (
  SELECT o_custkey % 256 AS xq,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256 AS yq
  FROM orders
),
z AS (
  SELECT xq, yq, {_zorder_value_sql('xq', 'yq')} AS zval FROM q
)
SELECT CAST(floor(zval / {_Z_BUCKET}) AS INT) AS z_range, count(*) AS n_rows,
       CAST(max(xq) - min(xq) AS INT) AS x_span,
       CAST(max(yq) - min(yq) AS INT) AS y_span
FROM z
GROUP BY 1
"""


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: a long-lived table whose early files
    predate a column addition, unified with ``mergeSchema`` so old
    files surface the new column as NULL.

    Every multi-year 100 TB table hits this — writers add columns over
    time and a full historical rewrite is off the table. The read path
    must reconcile footers per file (mergeSchema pays a planning-time
    footer pass; at scale, pin the evolved schema in a catalog/
    ``.schema(...)`` instead of re-inferring). The query proves the
    NULL-backfill semantics numerically: per-status counts split into
    rows carrying the late column vs legacy rows, which the oracle
    reproduces from the source table with a CASE on the batch split.
    """
    src = load_table(spark, sf_dir, "orders")
    base = os.path.join(WAREHOUSE, f"orders_evo_{_tag(sf_dir, 'orders')}")
    v1, v2 = os.path.join(base, "v1"), os.path.join(base, "v2")
    if not os.path.exists(os.path.join(v1, "_SUCCESS")):
        (
            src.filter(F.col("o_orderkey") % 2 == 0)
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .write.mode("overwrite")
            .parquet(v1)
        )
    if not os.path.exists(os.path.join(v2, "_SUCCESS")):
        (
            src.filter(F.col("o_orderkey") % 2 == 1)
            .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
            .write.mode("overwrite")
            .parquet(v2)
        )
    evolved = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    return evolved.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.round(F.sum(F.when(F.col("o_orderpriority").isNull(), F.col("o_totalprice"))), 2).alias(
            "legacy_price_sum"
        ),
    )


SCHEMA_EVOLUTION_ORACLE = """
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_priority,
       round(sum(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END), 2)
           AS legacy_price_sum
FROM orders
GROUP BY o_orderstatus
"""


QUERIES: dict = {
    "bucketed_join_revenue": (bucketed_join_revenue, BUCKETED_JOIN_ORACLE),
    "schema_evolution_read": (schema_evolution_read, SCHEMA_EVOLUTION_ORACLE),
    "zorder_layout_stats": (zorder_layout_stats, ZORDER_ORACLE),
    "partition_pruned_scan": (partition_pruned_scan, PARTITION_PRUNED_ORACLE),
    "dpp_join_pruned_scan": (dpp_join_pruned_scan, DPP_JOIN_ORACLE),
    "json_roundtrip": (json_roundtrip, _SUPPLIER_AGG_ORACLE),
    "orc_roundtrip": (orc_roundtrip, _SUPPLIER_AGG_ORACLE),
    "parquet_zstd_roundtrip": (parquet_zstd_roundtrip, _SUPPLIER_AGG_ORACLE),
    "textfile_roundtrip": (textfile_roundtrip, TEXTFILE_ORACLE),
    "compact_small_files": (compact_small_files, COMPACT_ORACLE),
}
