"""Core operator inventory — SURVEY.md §2 (scans, filters, sorts,
limits, group-aggregates, group-first, cast-or-NaN projection, export).

Every function is ``(spark, sf_dir) -> DataFrame`` and has a matching
ANSI-SQL oracle in ``QUERIES`` (run by the driver on DuckDB over the
same parquet). Conventions shared by query and oracle:

- every computed column is aliased identically on both sides (the
  driver sorts columns by name before value-hashing);
- double aggregates are rounded (4 dp for means, 2 dp for big sums) so
  IEEE-754 reassociation differences between engines can't flip the
  hash;
- order-sensitive operators (sorts, group-first, top-k) encode their
  order into a ``row_number`` value with an explicit unique tiebreak
  column, since the hash itself is order-insensitive.

Scale notes are per-operator docstrings: the rule is no driver-side
materialization, filters/projections pushed into the parquet scan, and
shuffles only where the semantics require one.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import shipping
from ..catalog import load_table
from ..functions import scalars
from ..sources import csv_io, generators

# --------------------------------------------------------------------------
# Flagship — the main.rs:143-152 lazy pipeline transposed onto lineitem
# --------------------------------------------------------------------------


def flagship_lazy_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan -> filter -> group -> aliased means -> sort, one Catalyst plan.

    Reference: the Polars lazy pipeline `main.rs:143-152` (filter
    value>500, group_by category, mean(id)/mean(value) with aliases),
    whose `describe_optimized_plan` (`main.rs:155-156`) is Spark's
    ``df.explain``. Catalyst pushes the filter into the parquet scan
    and prunes to the 3 referenced columns; the groupBy is a partial
    (map-side) + final hash aggregate — the only shuffle in the plan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_extendedprice") > 500.0)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.avg("l_quantity"), 4).alias("qty_mean"),
            F.round(F.avg("l_extendedprice"), 4).alias("price_mean"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


FLAGSHIP_ORACLE = """
SELECT l_returnflag,
       round(avg(l_quantity), 4) AS qty_mean,
       round(avg(l_extendedprice), 4) AS price_mean,
       count(*) AS n_rows
FROM lineitem
WHERE l_extendedprice > 500.0
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def sql_api_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline through the OTHER front door: one
    ``spark.sql`` string over registered views instead of DataFrame
    combinators. Both forms parse to the same Catalyst logical plan
    (SURVEY.md §3.2-3.3 — combinators and SQL are two syntaxes for one
    IR), so pushdown/pruning/agg strategy are identical; this entry
    exists to pin that the SQL surface is first-class. The oracle is
    the very same string, making this a dialect-compatibility check
    too."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(FLAGSHIP_ORACLE)


PIPE_FLAGSHIP_SQL = """
FROM lineitem
|> WHERE l_extendedprice > 500.0
|> AGGREGATE round(avg(l_quantity), 4) AS qty_mean,
             round(avg(l_extendedprice), 4) AS price_mean,
             count(*) AS n_rows
   GROUP BY l_returnflag
|> SELECT l_returnflag, qty_mean, price_mean, n_rows
|> ORDER BY l_returnflag
"""


def sql_pipe_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline through the THIRD front door: Spark 4's
    SQL pipe syntax (`FROM ... |> WHERE ... |> AGGREGATE`), the
    operator-chain dialect that reads like the reference notebooks'
    method chains while still parsing to the identical Catalyst plan
    as ``flagship_lazy_pipeline`` and ``sql_api_flagship``. The
    oracle is the classic-SQL formulation, so this entry pins that
    the pipe dialect is semantics-preserving, not just parseable.
    """
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(PIPE_FLAGSHIP_SQL)


# --------------------------------------------------------------------------
# P1 / P2 / P4 — filters and projections
# --------------------------------------------------------------------------


def filter_numeric_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — ``value1 > literal`` row filter (`datatable_benchmark.py:46`,
    `main.rs:114`, `you_TablesawBenchmark1.java:55`).

    Pushed into the parquet scan as a PushedFilter; no shuffle at all —
    this stays a single narrow stage at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_extendedprice") > 1100.0).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
    )


def project_first_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — dtype introspection: find the first numeric column
    dynamically (NB-main:209-210 ``select_dtypes``), then aggregate it.
    The introspection is driver-side schema metadata — no data read.
    """
    li = load_table(spark, sf_dir, "lineitem")
    col = scalars.first_numeric_column(li.schema)
    return li.select(
        F.lit(col).alias("col_name"),
        F.count(col).alias("n"),
        F.min(col).alias("min_v"),
        F.max(col).alias("max_v"),
    )


def cast_nan_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/C1 — numeric-or-NaN matrix projection (`Benchmark1.java:56-78`):
    numeric columns cast to double, non-numeric columns become NaN.
    Pure column expressions — the whole projection is codegen'd; the
    reference's 22-line row loop disappears entirely.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = [
        scalars.numeric_or_nan(F.col(f.name), f.dataType).alias(f.name)
        for f in li.schema.fields
    ]
    return li.select(*cols)


CAST_NAN_ORACLE = """
SELECT CAST(l_orderkey AS DOUBLE) AS l_orderkey,
       CAST(l_partkey AS DOUBLE) AS l_partkey,
       CAST(l_suppkey AS DOUBLE) AS l_suppkey,
       CAST(l_linenumber AS DOUBLE) AS l_linenumber,
       CAST(l_quantity AS DOUBLE) AS l_quantity,
       CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
       CAST(l_discount AS DOUBLE) AS l_discount,
       CAST(l_tax AS DOUBLE) AS l_tax,
       CAST('NaN' AS DOUBLE) AS l_returnflag,
       CAST('NaN' AS DOUBLE) AS l_linestatus,
       CAST('NaN' AS DOUBLE) AS l_shipdate
FROM lineitem
"""


# --------------------------------------------------------------------------
# O1 / O2 / O3 — sorts, top-k, deterministic prefix limit
# --------------------------------------------------------------------------


def global_rank(df: DataFrame, order_cols: list, num_partitions: int | None = None) -> DataFrame:
    """Distributed global ``row_number`` — the scale-safe replacement
    for ``Window.orderBy(...)`` with no partitionBy (which Spark
    executes by moving EVERY row to a single partition: one task sorts
    the whole table — a 100 TB killer).

    Single lazy job, fully parallel:

    1. ``repartitionByRange`` on the order key (Exchange
       rangepartitioning — the same sampled range sort a plain
       ``orderBy`` uses) and tag each row with its range-partition id.
    2. Per-partition counts aggregate into a ≤ num_partitions-row side
       table whose running sum (a window over those few rows) is each
       partition's global rank offset; broadcast-join it back onto the
       locally-sorted data and add the per-partition row index (from
       ``monotonically_increasing_id``'s low 33 bits — no Window over
       the data, no extra exchange).

    Both consumers of the range exchange sit in ONE query plan, so
    Spark's exchange reuse (ReusedExchange / AQE stage cache) computes
    the shuffle once and both branches read the SAME shuffle output —
    partition ids agree by construction, with no cross-job
    RangePartitioner-resampling determinism assumption and no eager
    ``collect()`` (construction is lazy; benchmarks time the full
    cost). The explicit ``num_partitions`` (REPARTITION_BY_NUM) keeps
    AQE from coalescing the two read sides differently.

    Returns the ranked DataFrame with two extra columns: ``rank``
    (BIGINT — never wraps at 100 TB row counts; callers cast to INT
    only at an oracle-matching boundary) and ``_total`` (BIGINT total
    row count, for ntile-style arithmetic; drop if unused).
    """
    spark = df.sparkSession
    # Correctness GUARD (round 13): the offsets branch and the data
    # branch are consistent only because they read the SAME physical
    # range exchange (ReusedExchange). Over a cached (InMemoryRelation)
    # or localCheckpointed (ExistingRDD) input, AQE does NOT reuse the
    # exchange — each physical exchange then resamples its range
    # boundaries under a different RDD-id-derived seed, the two
    # branches disagree on partition sizes, and the ranks silently
    # stop being a permutation of 1..n (measured: a 5000-row cached
    # input produced offsets drifted by +70). Refuse such inputs
    # loudly; callers should rank the uncached plan and accept the
    # recompute, as quality_signal_spearman does.
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        raise ValueError(
            "global_rank: input is persisted; the range-exchange reuse "
            "its offsets depend on breaks over InMemoryRelation inputs "
            "(non-permutation ranks). Rank the uncached plan instead."
        )
    # Round 14 (VERDICT r13 #2 / ADVICE): a plan DERIVED from a cached
    # ancestor — cached.filter(...), or any subtree some other caller
    # registered in the CacheManager — reads storageLevel NONE and has
    # no LogicalRDD in its analyzed plan, yet InMemoryRelation is still
    # substituted at physical planning (withCachedData), re-opening the
    # exact broken-reuse hazard. Inspect the post-cache-substitution
    # plan so persisted ANCESTORS are refused as loudly as persisted
    # roots.
    qe = df._jdf.queryExecution()
    if "InMemoryRelation" in qe.withCachedData().toString():
        raise ValueError(
            "global_rank: input plan reads a cached (InMemoryRelation) "
            "subtree after CacheManager substitution; the range-exchange "
            "reuse its offsets depend on breaks over such inputs "
            "(non-permutation ranks). Unpersist the ancestor or rank "
            "the uncached plan instead."
        )
    if "LogicalRDD" in qe.analyzed().toString():
        raise ValueError(
            "global_rank: input contains an ExistingRDD scan (e.g. "
            "localCheckpoint); the range-exchange reuse its offsets "
            "depend on breaks over such inputs (non-permutation ranks). "
            "Rank the plan that produced it instead."
        )
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(n_part, *order_cols)
    # Offsets branch: counts are sort-independent, so it reads the bare
    # exchange (no local sort) — ReusedExchange shares the shuffle with
    # the main branch below. The windows run over the ≤ n_part count
    # rows (partition METADATA), never the data.
    w_cum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_df = (
        ranged.select(F.spark_partition_id().alias("_pid"))
        .groupBy("_pid")
        .agg(F.count("*").alias("_n"))
        .select(
            "_pid",
            (F.sum("_n").over(w_cum) - F.col("_n")).alias("_offset"),
            F.sum("_n").over(w_all).alias("_total"),
        )
    )
    # Main branch: local sort inside each range partition, then the
    # per-partition row index straight from monotonically_increasing_id
    # — its documented layout is partition id in the upper 31 bits and
    # a 0-based per-partition record counter in the lower 33 (wraps
    # only past 2^33 ≈ 8.6e9 rows PER PARTITION — size partitions
    # accordingly). Evaluated in the projection above the local sort,
    # the counter IS the sorted position, so no Window over the data
    # and no hashpartitioning(_pid) exchange is ever needed: the only
    # full-data shuffle in the whole plan is the range exchange itself.
    mid = F.monotonically_increasing_id()
    local = ranged.sortWithinPartitions(*order_cols).select(
        "*",
        F.spark_partition_id().alias("_pid"),
        mid.bitwiseAND(F.lit((1 << 33) - 1)).alias("_lrn"),
    )
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn("rank", F.col("_offset") + F.col("_lrn") + F.lit(1))
        .drop("_pid", "_offset", "_lrn")
    )


def sort_asc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — full ascending sort on a numeric key (`datatable_benchmark.py:38`,
    `main.rs:100-106`), with the sort order *verified* (not just
    produced) by materializing the global rank, since the oracle hash
    is order-insensitive.

    Rank comes from :func:`global_rank` (range partition + per-range
    local row_number + broadcast prefix offsets) — every stage
    parallel, never a single-partition window.
    """
    orders = load_table(spark, sf_dir, "orders")
    ranked = global_rank(
        orders.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
    )
    # INT cast only at the oracle-matching boundary; rank is BIGINT inside.
    return ranked.select(
        "o_orderkey", "o_totalprice", F.col("rank").cast("int").alias("rank")
    )


def sort_desc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — descending sort (`Benchmark1.java:53-54` sortDescendingOn).
    Same two-pass distributed rank as :func:`sort_asc_rank`."""
    cust = load_table(spark, sf_dir, "customer")
    ranked = global_rank(
        cust.select("c_custkey", "c_acctbal"),
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
    )
    return ranked.select(
        "c_custkey", "c_acctbal", F.col("rank").cast("int").alias("rank")
    )


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O3 fused — top-100 by price. Compiles to TakeOrderedAndProject:
    each partition keeps a local heap of 100, the driver merges — O(k)
    memory regardless of input size, the correct 100 TB formulation of
    "sort then head"."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(100)
    )


def limit_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/O3 — deterministic "first N rows" (`nrows=30_300_000`,
    `Benchmark1.java:19`). A bare ``limit(N)`` over a parallel scan is
    an arbitrary N rows (SURVEY.md §7.5.2), so the deterministic
    formulation is order-then-limit on the table's key.
    """
    orders = load_table(spark, sf_dir, "orders")
    prefix = orders.orderBy("o_orderkey").limit(1000)
    return prefix.select(
        F.count("*").alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# A1 / A2 / A3 — aggregations
# --------------------------------------------------------------------------


def groupby_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — hash group-by + mean of one column
    (`datatable_benchmark.py:54`, `Benchmark1.java:50-51`). Partial
    aggregation runs map-side; only |groups| rows cross the shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg("l_quantity"), 4).alias("qty_mean")
    )


def groupby_multi_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — group-by with multiple aliased means (`main.rs:148-152`)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.avg("o_totalprice"), 4).alias("price_mean"),
        F.round(F.avg("o_custkey"), 4).alias("custkey_mean"),
        F.count("*").alias("n_orders"),
    )


def groupby_first_minby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — first row per group *in a defined order* (NB-main:205
    ``groupby(col0).first()``).

    pandas/polars/datatable take "first" in current frame order; Spark's
    ``F.first`` is explicitly nondeterministic across partitions, so the
    deterministic distributed formulation takes the row with the least
    ``o_orderkey`` per group (SURVEY.md §7.5.1). ``min_by(struct(*),
    order_col)`` does that as a single hash aggregate (partial + final)
    with no per-group sort: it reduces map-side, where a window
    ``row_number() == 1`` would shuffle and sort every row.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.min_by(F.struct("o_orderkey", "o_totalprice", "o_orderstatus"), "o_orderkey").alias("f")
    ).select(
        "o_custkey",
        F.col("f.o_orderkey").alias("o_orderkey"),
        F.col("f.o_totalprice").alias("o_totalprice"),
        F.col("f.o_orderstatus").alias("o_orderstatus"),
    )


GROUPBY_FIRST_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


def median_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — median as an engine aggregate (the reference computes
    medians driver-side over benchmark reps, `Benchmark1.java:120-123`;
    in-engine the analogue is exact percentile aggregation —
    SURVEY.md §2.4 A4).

    ``median``/``percentile`` are exact (sort-based within group);
    at 100 TB swap to ``percentile_approx`` (t-digest sketch, mergeable
    map-side) — same call shape, bounded memory.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("qty_median"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("price_p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("price_p95"),
    )


MEDIAN_ORACLE = """
SELECT l_returnflag,
       round(median(l_quantity), 4) AS qty_median,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS price_p50,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95
FROM lineitem
GROUP BY l_returnflag
"""


def matrix_col_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 at scale — the distributed to_np path: numeric-or-NaN matrix
    view reduced per-column on the executors (see
    :func:`matrix_partition_stats`); the driver receives one row."""
    return matrix_partition_stats(load_table(spark, sf_dir, "lineitem"))


def mapinarrow_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 via mapInArrow: per-partition Arrow batches reduced to
    (count, per-column sum) partials in Python at C speed, then a tiny
    final aggregate — the to_np-at-100 TB recipe when the per-batch
    math genuinely needs Python (numpy/scipy kernels): the matrix
    never materializes anywhere; each task holds one Arrow batch.

    Output equals matrix_col_means' numeric means (same oracle shape)
    — which is the point: the Arrow escape hatch reproduces the
    relational answer exactly, from sums of integral/2-decimal values
    that survive Arrow round-tripping bit-identically.
    """
    import pyarrow as pa

    li = load_table(spark, sf_dir, "lineitem")
    num_cols = [
        f.name for f in li.schema.fields if isinstance(f.dataType, T.NumericType)
    ]
    fields = [pa.field("n", pa.int64())] + [pa.field(c, pa.float64()) for c in num_cols]
    out_schema = T.StructType(
        [T.StructField("n", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in num_cols]
    )

    def partials(batches):
        shipping.prepare_worker()
        import pyarrow.compute as pc

        for batch in batches:
            row = {"n": [batch.num_rows]}
            for c in num_cols:
                col = pc.cast(batch.column(c), pa.float64())
                row[c] = [pc.sum(col, min_count=0).as_py() or 0.0]
            yield pa.RecordBatch.from_pydict(row, schema=pa.schema(fields))

    partial_df = li.selectExpr(*num_cols).mapInArrow(partials, out_schema)
    total = partial_df.agg(
        F.expr("sum(n) AS n_rows"), *[F.expr(f"sum({c}) AS {c}") for c in num_cols]
    )
    return total.selectExpr(
        "n_rows", *[f"round({c} / n_rows, 4) AS {c}_mean" for c in num_cols]
    )


MAPINARROW_ORACLE = """
SELECT count(*) AS n_rows,
       round(avg(CAST(l_orderkey AS DOUBLE)), 4) AS l_orderkey_mean,
       round(avg(CAST(l_partkey AS DOUBLE)), 4) AS l_partkey_mean,
       round(avg(CAST(l_suppkey AS DOUBLE)), 4) AS l_suppkey_mean,
       round(avg(CAST(l_linenumber AS DOUBLE)), 4) AS l_linenumber_mean,
       round(avg(l_quantity), 4) AS l_quantity_mean,
       round(avg(l_extendedprice), 4) AS l_extendedprice_mean,
       round(avg(l_discount), 4) AS l_discount_mean,
       round(avg(l_tax), 4) AS l_tax_mean
FROM lineitem
"""


MATRIX_COL_MEANS_ORACLE = """
SELECT round(avg(CAST(l_orderkey AS DOUBLE)), 4) AS l_orderkey_mean,
       round(avg(CAST(l_partkey AS DOUBLE)), 4) AS l_partkey_mean,
       round(avg(CAST(l_suppkey AS DOUBLE)), 4) AS l_suppkey_mean,
       round(avg(CAST(l_linenumber AS DOUBLE)), 4) AS l_linenumber_mean,
       round(avg(l_quantity), 4) AS l_quantity_mean,
       round(avg(l_extendedprice), 4) AS l_extendedprice_mean,
       round(avg(l_discount), 4) AS l_discount_mean,
       round(avg(l_tax), 4) AS l_tax_mean,
       CAST('NaN' AS DOUBLE) AS l_returnflag_mean,
       CAST('NaN' AS DOUBLE) AS l_linestatus_mean,
       CAST('NaN' AS DOUBLE) AS l_shipdate_mean
FROM lineitem
"""


# --------------------------------------------------------------------------
# S1/S3 — CSV round-trip; S5/S6 — generators
# --------------------------------------------------------------------------


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S3 — write customer to CSV, read it back with an explicit
    schema, aggregate. Exercises the scan and sink ends of the
    reference's read/write benchmark (`NB-main:193,199`) losslessly.
    """
    cust = load_table(spark, sf_dir, "customer")
    out = os.path.join(tempfile.gettempdir(), "sparkbench_csv_roundtrip")
    csv_io.write_csv(cust, out, single_file=False)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    back = csv_io.read_csv(spark, out, schema=schema)
    return back.select(
        F.count("*").alias("n"),
        F.count_distinct("c_custkey").alias("n_keys"),
        F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
    )


def generator_scaling4_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — seeded synthetic generator, checked by distribution
    invariants (Spark's rand stream can't bit-match numpy's, so the
    differential check is on the contract: row count, id range,
    category domain, value bounds).
    """
    df = generators.scaling4(spark, 10_000, seed=42)
    return df.select(
        F.count("*").alias("n_rows"),
        F.count_distinct("category").alias("n_cats"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        (F.min("value2") >= 0.0).cast("int").alias("v2_lo_ok"),
        (F.max("value2") < 1000.0).cast("int").alias("v2_hi_ok"),
        (F.abs(F.avg("value1") - 100.0) < 2.0).cast("int").alias("v1_mean_ok"),
    )


GENERATOR_SCALING4_ORACLE = """
SELECT 10000::BIGINT AS n_rows, 10::BIGINT AS n_cats,
       0::BIGINT AS min_id, 9999::BIGINT AS max_id,
       1 AS v2_lo_ok, 1 AS v2_hi_ok, 1 AS v1_mean_ok
"""


def scale_up_duplicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — row duplication scale-up (NB-main:72 ``index.repeat``):
    every region row repeated 7x; returns per-key copy counts."""
    region = load_table(spark, sf_dir, "region")
    return (
        generators.duplicate_rows(region, 7)
        .groupBy("r_regionkey")
        .agg(F.count("*").alias("copies"))
    )


# --------------------------------------------------------------------------
# C1 — table -> dense numeric matrix export (library function; the
# query-level surface is cast_nan_matrix above)
# --------------------------------------------------------------------------


def to_numpy_matrix(df: DataFrame):
    """C1 — `to_np` (NB-main:218, `Benchmark1.java:56-78`): numeric-or-NaN
    projection, then Arrow-batched collect to a 2-D float64 array.

    This is the one operator that inherently materializes on the driver
    (SURVEY.md §7.5.3); callers at scale should bound it with a filter/
    limit first or use :func:`matrix_partition_stats` which keeps the
    matrix distributed.
    """
    cols = [
        scalars.numeric_or_nan(F.col(f.name), f.dataType).alias(f.name)
        for f in df.schema.fields
    ]
    return df.select(*cols).toPandas().to_numpy()


def matrix_partition_stats(df: DataFrame) -> DataFrame:
    """C1 at scale — the distributed alternative: the same numeric-or-NaN
    matrix view, reduced per-column (mean) without ever leaving the
    executors. Demonstrates the mapInArrow-free formulation: a plain
    aggregate over the projected matrix columns."""
    cols = [
        scalars.numeric_or_nan(F.col(f.name), f.dataType).alias(f.name)
        for f in df.schema.fields
    ]
    proj = df.select(*cols)
    aggs = [F.round(F.avg(c), 4).alias(f"{c}_mean") for c in proj.columns]
    return proj.select(*aggs)


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict = {
    "flagship_lazy_pipeline": (flagship_lazy_pipeline, FLAGSHIP_ORACLE),
    "sql_api_flagship": (sql_api_flagship, FLAGSHIP_ORACLE),
    "sql_pipe_flagship": (sql_pipe_flagship, FLAGSHIP_ORACLE),
    "filter_numeric_gt": (
        filter_numeric_gt,
        """
        SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
        FROM lineitem WHERE l_extendedprice > 1100.0
        """,
    ),
    "project_first_numeric": (
        project_first_numeric,
        """
        SELECT 'l_orderkey' AS col_name, count(l_orderkey) AS n,
               min(l_orderkey) AS min_v, max(l_orderkey) AS max_v
        FROM lineitem
        """,
    ),
    "cast_nan_matrix": (cast_nan_matrix, CAST_NAN_ORACLE),
    "sort_asc_rank": (
        sort_asc_rank,
        """
        SELECT o_orderkey, o_totalprice,
               CAST(row_number() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS INT) AS rank
        FROM orders
        """,
    ),
    "sort_desc_rank": (
        sort_desc_rank,
        """
        SELECT c_custkey, c_acctbal,
               CAST(row_number() OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS rank
        FROM customer
        """,
    ),
    "topk_orders": (
        topk_orders,
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
        """,
    ),
    "limit_prefix": (
        limit_prefix,
        """
        SELECT count(*) AS n, min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
               round(sum(o_totalprice), 2) AS sum_price
        FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 1000)
        """,
    ),
    "groupby_mean": (
        groupby_mean,
        """
        SELECT l_returnflag, round(avg(l_quantity), 4) AS qty_mean
        FROM lineitem GROUP BY l_returnflag
        """,
    ),
    "groupby_multi_mean": (
        groupby_multi_mean,
        """
        SELECT o_orderpriority, round(avg(o_totalprice), 4) AS price_mean,
               round(avg(o_custkey), 4) AS custkey_mean, count(*) AS n_orders
        FROM orders GROUP BY o_orderpriority
        """,
    ),
    "median_stats": (median_stats, MEDIAN_ORACLE),
    "matrix_col_means": (matrix_col_means, MATRIX_COL_MEANS_ORACLE),
    "mapinarrow_matrix_stats": (mapinarrow_matrix_stats, MAPINARROW_ORACLE),
    "groupby_first_minby": (groupby_first_minby, GROUPBY_FIRST_ORACLE),
    "csv_roundtrip": (
        csv_roundtrip,
        """
        SELECT count(*) AS n, count(DISTINCT c_custkey) AS n_keys,
               round(sum(c_acctbal), 2) AS bal_sum
        FROM customer
        """,
    ),
    "generator_scaling4_invariants": (
        generator_scaling4_invariants,
        GENERATOR_SCALING4_ORACLE,
    ),
    "scale_up_duplicate": (
        scale_up_duplicate,
        "SELECT r_regionkey, 7::BIGINT AS copies FROM region",
    ),
}
