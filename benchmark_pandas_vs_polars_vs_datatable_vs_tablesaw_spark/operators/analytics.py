"""Analytics extensions — window analytics, cube/grouping sets, range
joins, skew-mitigated aggregation, sketches, sampling, string/date
scalar suites.

The reference's operator surface stops at filter/sort/group-mean
(SURVEY.md §2); these are the "free Spark extensions" §2.4/§2.5/§2.8
reserve plus the scale-posture operators (salting, approximate
sketches, deterministic sampling) a 100 TB pipeline needs. Every query
keeps the §2 conventions: identical aliases on both sides, rounded
doubles, explicit orders where order matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import shipping
from ..catalog import load_table
from .core import global_rank


# --------------------------------------------------------------------------
# Grouping sets / cube
# --------------------------------------------------------------------------


def cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all four grouping-set combinations
    in ONE pass — Spark expands the grouping sets map-side, so the fact
    table is scanned once regardless of how many subtotal levels the
    cube implies (vs 4 separate scans if done naively)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("sum_price"), F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            "sum_price",
            "n",
        )
    )


CUBE_ORACLE = """
SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       round(sum(o_totalprice), 2) AS sum_price,
       count(*) AS n
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


# --------------------------------------------------------------------------
# Window analytics (lag/lead/rank/ntile)
# --------------------------------------------------------------------------


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order deltas: lag/lead/rank over one window spec.

    All four analytics share a single Window (partition by customer,
    order by date+key), so Spark shuffles and sorts ONCE and evaluates
    every function in the same WindowExec pass.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") - F.lag("o_totalprice", 1, 0.0).over(w), 2).alias(
            "delta_prev"
        ),
        F.round(F.lead("o_totalprice", 1, 0.0).over(w), 2).alias("next_price"),
        F.rank().over(w).alias("order_rank"),
    )


WINDOW_LAG_LEAD_ORACLE = """
SELECT o_custkey, o_orderkey,
       round(o_totalprice - coalesce(lag(o_totalprice, 1) OVER w, 0.0), 2) AS delta_prev,
       round(coalesce(lead(o_totalprice, 1) OVER w, 0.0), 2) AS next_price,
       CAST(rank() OVER w AS INT) AS order_rank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def ntile_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) quartile assignment over a global order, then per-tile
    stats — WITHOUT the single-partition global window ``ntile``
    compiles to. The distributed form: global rank via
    :func:`core.global_rank` (range partition + local row_number +
    broadcast offsets), then the exact ntile arithmetic from
    ``(rank, total)``: the first ``n % k`` tiles get ``n//k + 1`` rows,
    the rest ``n//k`` — bit-identical to the SQL ``ntile`` oracle while
    every stage stays parallel.
    """
    cust = load_table(spark, sf_dir, "customer")
    ranked = global_rank(
        cust.select("c_custkey", "c_acctbal"),
        [F.col("c_acctbal").asc(), F.col("c_custkey").asc()],
    )
    # ntile arithmetic from (rank, total) as pure column algebra —
    # global_rank's _total column keeps construction lazy (no count()
    # job at build time; benchmarks time the whole cost).
    k = 4
    total = F.col("_total")
    base, rem = F.floor(total / k), total % k
    cut = (base + 1) * rem
    r = F.col("rank")
    quartile = (
        F.when(r <= cut, F.floor((r - 1) / (base + 1)) + 1)
        .otherwise(rem + F.floor((r - cut - 1) / F.greatest(base, F.lit(1))) + 1)
        .cast("int")
    )
    return (
        ranked.select("c_acctbal", quartile.alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
    )


NTILE_ORACLE = """
SELECT quartile, count(*) AS n,
       round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi
FROM (
  SELECT c_acctbal,
         CAST(ntile(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS INT) AS quartile
  FROM customer
)
GROUP BY quartile
"""


# --------------------------------------------------------------------------
# Statistical aggregates
# --------------------------------------------------------------------------


def corr_covar_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / stddev in one partial-aggregable pass
    (all three are algebraic: mergeable moment sketches map-side)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_sd"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
    )


CORR_ORACLE = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
       round(stddev_samp(l_extendedprice), 2) AS price_sd,
       round(var_samp(l_quantity), 4) AS qty_var
FROM lineitem
GROUP BY l_returnflag
"""


def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via integer binning — a groupBy on a
    derived key, so it partial-aggregates map-side; only |bins| rows
    shuffle. The standard scale-out histogram (vs a driver-side
    np.histogram, which would need a collect)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(F.floor(F.col("o_totalprice") / 50_000).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )


HISTOGRAM_ORACLE = """
SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin, count(*) AS n
FROM orders GROUP BY 1
"""


def approx_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch vs exact distinct: emits the exact count
    plus a boolean certifying the sketch landed within 5% (rsd=0.01).

    The differential check is on the *bound*, not the raw sketch value,
    because Spark's HLL++ and any oracle's HLL use different hash
    streams. At 100 TB the sketch is the only viable option — it's
    mergeable, constant-memory per partition, one pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.count_distinct("l_orderkey").alias("exact_keys"),
        (
            (
                F.abs(
                    F.approx_count_distinct("l_orderkey", 0.01) - F.count_distinct("l_orderkey")
                )
                / F.count_distinct("l_orderkey")
            )
            < 0.05
        )
        .cast("int")
        .alias("hll_within_5pct"),
    )


APPROX_DISTINCT_ORACLE = """
SELECT count(DISTINCT l_orderkey) AS exact_keys, 1 AS hll_within_5pct
FROM lineitem
"""


# --------------------------------------------------------------------------
# Range join, salted aggregation, deterministic sampling
# --------------------------------------------------------------------------

_DISCOUNT_BANDS = [
    ("none", 0.00, 0.02),
    ("low", 0.02, 0.05),
    ("mid", 0.05, 0.08),
    ("high", 0.08, 1.01),
]


def range_join_discount_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: every lineitem row lands in the discount
    band whose [lo, hi) interval contains it.

    The band table is tiny and broadcast, so the inequality join is a
    BroadcastNestedLoopJoin over 4 rows — effectively a map-side lookup,
    NOT the quadratic blowup a shuffled theta-join would be. This is
    the correct shape for binning-by-interval at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(_DISCOUNT_BANDS, ["band", "lo", "hi"])
    cond = (F.col("l_discount") >= F.col("lo")) & (F.col("l_discount") < F.col("hi"))
    return (
        li.join(F.broadcast(bands), cond)
        .groupBy("band")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("price_sum"),
        )
    )


RANGE_JOIN_ORACLE = """
WITH bands(band, lo, hi) AS (
  VALUES ('none', 0.00, 0.02), ('low', 0.02, 0.05),
         ('mid', 0.05, 0.08), ('high', 0.08, 1.01)
)
SELECT band, count(*) AS n, round(sum(l_extendedprice), 2) AS price_sum
FROM lineitem JOIN bands ON l_discount >= lo AND l_discount < hi
GROUP BY band
"""


def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated two-stage aggregation (salting).

    Stage 1 groups by (key, salt) — a hot key's rows split across 8
    salt buckets, so no single reducer owns the whole key. Stage 2
    merges the 8 partials per key. Result is identical to a plain
    groupBy (the oracle *is* the plain groupBy); the plan differs: two
    small shuffles instead of one skewed one. sum/count are algebraic,
    so the two-stage split is lossless (avg = merged sum / merged n).
    """
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", (F.col("l_orderkey") % 8).cast("int"))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.sum("l_quantity").alias("p_qty"),
        F.count("*").alias("p_n"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.round(F.sum("p_qty"), 2).alias("sum_qty"),
        F.sum("p_n").alias("n"),
    )


SALTED_ORACLE = """
SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def sample_modulo_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample via key modulo — reproducible across
    engines and runs (unlike TABLESAMPLE/rand, whose streams differ per
    engine). The predicate pushes to the scan; at 100 TB this is the
    standard cheap-profiling pattern."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.count("*").alias("n"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


SAMPLE_ORACLE = """
SELECT count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
FROM orders WHERE o_orderkey % 10 = 0
"""


# --------------------------------------------------------------------------
# Scalar suites: strings, dates, unpivot
# --------------------------------------------------------------------------


def stratified_sample_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``) with a bound
    check: the observed fraction per segment must land within ±0.15 of
    the requested fraction (seeded ⇒ deterministic per dataset; the
    bound is the differential contract since Bernoulli draws are
    engine-specific — same pattern as the sketch bound checks).

    Scale note: sampleBy is a map-side filter on a seeded hash — no
    shuffle, no state; the standard way to cut a stratified dev set
    from a 100 TB corpus in one narrow pass.
    """
    fractions = {"BUILDING": 0.5, "MACHINERY": 0.3}
    cust = load_table(spark, sf_dir, "customer")
    sampled = (
        cust.sampleBy("c_mktsegment", fractions, seed=42)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_sampled"))
    )
    totals = (
        cust.filter(F.col("c_mktsegment").isin(*fractions))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_total"))
    )
    target = F.when(F.col("c_mktsegment") == "BUILDING", 0.5).otherwise(0.3)
    return (
        totals.join(sampled, "c_mktsegment", "left")
        .select(
            "c_mktsegment",
            target.alias("target_frac"),
            (
                F.abs(F.coalesce("n_sampled", F.lit(0)) / F.col("n_total") - target) < 0.15
            )
            .cast("int")
            .alias("within_bound"),
        )
    )


STRATIFIED_SAMPLE_ORACLE = """
SELECT * FROM (VALUES ('BUILDING', 0.5, 1), ('MACHINERY', 0.3, 1))
  AS t(c_mktsegment, target_frac, within_bound)
"""


def string_funcs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar stack (F1/F5 analogues, SURVEY.md §2.8): case,
    substring, regexp extraction, length, concat — all JVM built-ins
    inside one codegen'd projection; zero Python in the hot path."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.regexp_extract("c_name", r"(\d+)$", 1).alias("name_num"),
        F.length("c_name").alias("name_len"),
        F.concat(F.col("c_mktsegment"), F.lit("#"), F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
    )


STRING_FUNCS_ORACLE = """
SELECT c_custkey,
       upper(c_name) AS name_upper,
       substring(c_name, 1, 8) AS name_prefix,
       coalesce(regexp_extract(c_name, '(\\d+)$', 1), '') AS name_num,
       CAST(length(c_name) AS INT) AS name_len,
       c_mktsegment || '#' || CAST(c_nationkey AS VARCHAR) AS seg_nation
FROM customer
"""


def date_parts_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar stack over the events fixture: truncation and
    part extraction (year/month/dow) feeding a group-aggregate.
    dayofweek is normalized to DuckDB's 0=Sunday convention."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            (F.dayofweek("ts") - 1).alias("dow"),
            "value",
        )
        .groupBy("y", "m", "dow")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("value_sum"))
    )


DATE_PARTS_ORACLE = """
SELECT CAST(extract(year FROM ts) AS INT) AS y,
       CAST(extract(month FROM ts) AS INT) AS m,
       CAST(extract(dow FROM ts) AS INT) AS dow,
       count(*) AS n, round(sum(value), 2) AS value_sum
FROM events
GROUP BY 1, 2, 3
"""


def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long unpivot (melt) of three measure columns, then a
    per-measure aggregate. Unpivot is a zero-shuffle expand (each input
    row emits 3 output rows map-side); the only shuffle is the final
    3-group aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("measure").agg(
        F.count("*").alias("n"),
        F.round(F.sum("val"), 2).alias("total"),
    )


UNPIVOT_ORACLE = """
SELECT measure, count(*) AS n, round(sum(val), 2) AS total
FROM (
  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT 'l_discount', l_discount FROM lineitem
)
GROUP BY measure
"""


def approx_quantile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna quantile sketch vs exact percentile: emits the
    exact p50/p95 plus booleans certifying the sketch landed within 2%
    relative error (accuracy=1000 => rank error <= 0.1%).

    Same bound-not-value differential pattern as
    :func:`approx_distinct_bounds`: sketches are the only mergeable,
    bounded-memory option at 100 TB — exact percentile sorts every
    group in full.
    """
    orders = load_table(spark, sf_dir, "orders")
    exact50 = F.expr("percentile(o_totalprice, 0.5)")
    exact95 = F.expr("percentile(o_totalprice, 0.95)")
    approx50 = F.expr("percentile_approx(o_totalprice, 0.5, 1000)")
    approx95 = F.expr("percentile_approx(o_totalprice, 0.95, 1000)")
    return orders.select(
        F.round(exact50, 2).alias("p50_exact"),
        F.round(exact95, 2).alias("p95_exact"),
        ((F.abs(approx50 - exact50) / exact50) < 0.02).cast("int").alias("p50_within_2pct"),
        ((F.abs(approx95 - exact95) / exact95) < 0.02).cast("int").alias("p95_within_2pct"),
    )


APPROX_QUANTILE_ORACLE = """
SELECT round(quantile_cont(o_totalprice, 0.5), 2) AS p50_exact,
       round(quantile_cont(o_totalprice, 0.95), 2) AS p95_exact,
       1 AS p50_within_2pct, 1 AS p95_within_2pct
FROM orders
"""


def grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind rollup/cube:
    exactly the (priority, status), (status), and () subtotal levels,
    skipping the (priority) level a cube would also compute. One scan,
    one expand, one aggregate — subtotal selection is free."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("sum_price"), F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            "sum_price",
            "n",
        )
    )


GROUPING_SETS_ORACLE = """
SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       round(sum(o_totalprice), 2) AS sum_price,
       count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
"""


def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist over a per-segment window — relative
    standing of each customer's balance within its market segment.
    One shuffle on the partition key; both functions share the single
    sorted WindowExec pass."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


WINDOW_DIST_ORACLE = """
SELECT c_custkey, c_mktsegment,
       round(percent_rank() OVER w, 4) AS pct_rank,
       round(cume_dist() OVER w, 4) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


def _zscore_pdf(pdf):
    """Grouped-map kernel: per-group z-score, vectorized numpy inside
    one Arrow batch per group (module-level so workers re-import it by
    name — see shipping.py)."""
    shipping.prepare_worker()
    m = pdf["l_quantity"].mean()
    s = pdf["l_quantity"].std(ddof=1)
    out = pdf[["l_orderkey", "l_linenumber", "l_returnflag"]].copy()
    if s and s == s:  # degenerate groups (1 row -> NaN std, constant -> 0)
        out["z"] = ((pdf["l_quantity"] - m) / s).round(4)
    else:  # match the oracle window form, which yields NULL there
        out["z"] = None
    return out


def applyinpandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch grouped-map Pandas UDF (``applyInPandas``): per-group
    z-score normalization — the API tier between built-ins and
    ``mapInPandas`` for logic that genuinely needs the whole group in
    one pandas frame.

    Completes the Python-surface ladder (SURVEY.md §2.11): built-ins
    everywhere possible > mapInPandas (multimodal codec, streaming
    batches) > applyInPandas (this) > never row-at-a-time Python. One
    shuffle on the group key; each group must fit one task's memory —
    for unbounded groups prefer the pure-SQL window formulation the
    oracle uses (which is also the 100 TB formulation; this operator
    exists to exercise the grouped-map path itself).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    return li.groupBy("l_returnflag").applyInPandas(
        _zscore_pdf,
        "l_orderkey long, l_linenumber int, l_returnflag string, z double",
    )


APPLYINPANDAS_ZSCORE_ORACLE = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       round((l_quantity - avg(l_quantity) OVER w) / stddev_samp(l_quantity) OVER w, 4) AS z
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag)
"""


def ansi_safe_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_divide / try_cast / nullif — the ANSI-safe arithmetic
    surface a production pipeline needs so malformed rows degrade to
    NULL instead of failing the job (Spark ANSI mode is default-on in
    4.x; the try_* family is the per-expression opt-out).

    try_divide(x, q-25) nulls where quantity == 25; try_cast of a
    non-numeric status nulls always; the aggregate counts both. NULL
    division results are irregular reals (not decimal-aligned), so
    avg at 4 dp is safely far from any cross-engine rounding boundary.
    """
    li = load_table(spark, sf_dir, "lineitem")
    div = F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 25)
    status_num = F.col("l_linestatus").try_cast("int")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(div.isNull(), 1)).alias("n_div_null"),
            F.round(F.avg(div), 4).alias("avg_safe_div"),
            F.count(status_num).alias("n_cast_ok"),
            F.count(F.when(F.nullif(F.col("l_quantity"), F.lit(25.0)).isNull(), 1)).alias(
                "n_qty_25"
            ),
        )
        .orderBy("l_returnflag")
    )


ANSI_SAFE_ORACLE = """
SELECT l_returnflag,
       count(*) AS n,
       count(CASE WHEN l_quantity = 25 THEN 1 END) AS n_div_null,
       round(avg(CASE WHEN l_quantity = 25 THEN NULL
                      ELSE l_extendedprice / (l_quantity - 25) END), 4)
           AS avg_safe_div,
       count(TRY_CAST(l_linestatus AS INT)) AS n_cast_ok,
       count(CASE WHEN nullif(l_quantity, 25.0) IS NULL THEN 1 END) AS n_qty_25
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def higher_moments_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed skewness / kurtosis from raw power sums.

    Spark's built-in skewness/kurtosis and DuckDB's use different
    estimator conventions (population vs sample corrections), so both
    sides compute the SAME population formula from raw moments
    s1..s4 — each a single partial-aggregable sum, i.e. one shuffle of
    4 doubles per group regardless of data size. Quantities are
    integral doubles so the power sums are exact integers in binary
    (< 2^53) and cross-engine identical; the final moment algebra then
    runs on identical inputs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    m = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - m * m
    m3 = F.col("s3") / F.col("n") - 3 * m * F.col("s2") / F.col("n") + 2 * m * m * m
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * m * F.col("s3") / F.col("n")
        + 6 * m * m * F.col("s2") / F.col("n")
        - 3 * m * m * m * m
    )
    return agg.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(m, 4).alias("mean_qty"),
        F.round(m3 / F.pow(m2, 1.5), 4).alias("skewness_pop"),
        F.round(m4 / (m2 * m2) - 3, 4).alias("excess_kurtosis_pop"),
    ).orderBy("l_returnflag")


HIGHER_MOMENTS_ORACLE = """
WITH sums AS (
    SELECT l_returnflag,
           CAST(count(*) AS DOUBLE) AS n,
           sum(l_quantity) AS s1,
           sum(l_quantity * l_quantity) AS s2,
           sum(l_quantity * l_quantity * l_quantity) AS s3,
           sum(l_quantity * l_quantity * l_quantity * l_quantity) AS s4
    FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       round(s1 / n, 4) AS mean_qty,
       round((s3 / n - 3 * (s1 / n) * s2 / n + 2 * pow(s1 / n, 3))
             / pow(s2 / n - pow(s1 / n, 2), 1.5), 4) AS skewness_pop,
       round((s4 / n - 4 * (s1 / n) * s3 / n
              + 6 * pow(s1 / n, 2) * s2 / n - 3 * pow(s1 / n, 4))
             / pow(s2 / n - pow(s1 / n, 2), 2) - 3, 4) AS excess_kurtosis_pop
FROM sums
ORDER BY l_returnflag
"""


def exact_percentiles_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (sort-based) percentiles per group — the ground-truth
    twin of approx_quantile_bounds' sketch. Spark's `percentile` and
    DuckDB's `quantile_cont` both linearly interpolate over the same
    sorted values, so the outputs agree to the last bit before
    rounding.

    Scale: exact percentiles shuffle the full column per group (unlike
    the mergeable sketch) — this is the operator you DON'T run at
    100 TB, and the pairing with approx_quantile_bounds documents the
    trade: sketch error bound vs a full sort's shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile(x, F.lit(0.25)), 4).alias("p25"),
            F.round(F.percentile(x, F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile(x, F.lit(0.75)), 4).alias("p75"),
            F.round(F.percentile(x, F.lit(0.99)), 4).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


EXACT_PERCENTILES_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def winsorized_stats_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized group statistics — outlier-robust feature scaling via
    the canonical two-pass shape: (1) aggregate exact p05/p95 bounds
    per group (tiny result), (2) broadcast them back onto the fact and
    clip before the final aggregate.

    The group-stats table is |groups| rows however big the fact is, so
    the second pass is a broadcast join fused with the scan — the fact
    shuffles once (final agg), never for the bounds lookup. Swap
    ``percentile`` for ``percentile_approx`` at 100 TB and the shape
    is unchanged (the sketch bound query certifies the swap).
    """
    orders = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    bounds = orders.groupBy("o_orderpriority").agg(
        F.percentile(x, F.lit(0.05)).alias("p05"),
        F.percentile(x, F.lit(0.95)).alias("p95"),
    )
    clipped = orders.join(F.broadcast(bounds), "o_orderpriority").select(
        "o_orderpriority",
        F.least(F.greatest(x, F.col("p05")), F.col("p95")).alias("w"),
    )
    return clipped.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.avg("w"), 4).alias("wmean"),
        F.round(F.stddev_samp("w"), 4).alias("wstd"),
    )


WINSORIZED_STATS_ORACLE = """
WITH bounds AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.05) AS p05,
         quantile_cont(o_totalprice, 0.95) AS p95
  FROM orders GROUP BY o_orderpriority
),
clipped AS (
  SELECT o.o_orderpriority,
         least(greatest(o.o_totalprice, b.p05), b.p95) AS w
  FROM orders o JOIN bounds b USING (o_orderpriority)
)
SELECT o_orderpriority, count(*) AS n,
       round(avg(w), 4) AS wmean,
       round(stddev_samp(w), 4) AS wstd
FROM clipped GROUP BY o_orderpriority
"""


def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch t-test per event type: users split into arms
    by id parity (the deterministic stand-in for experiment
    assignment), comparing mean event value. Emits per-arm moments,
    the Welch t statistic, and the Welch–Satterthwaite degrees of
    freedom — the full A/B readout, computed in ONE grouped pass
    (conditional aggregates; no per-arm subqueries, no second scan).

    Everything after the agg is scalar arithmetic on a |types|-row
    frame — driver-free and exact: both engines evaluate the same
    closed-form expressions on the same aggregates, so values match
    to rounding.
    """
    ev = load_table(spark, sf_dir, "events")
    arm = (F.col("user_id") % 2 == 0)
    g = ev.groupBy("event_type").agg(
        F.count(F.when(arm, 1)).alias("n_a"),
        F.avg(F.when(arm, F.col("value"))).alias("m_a"),
        F.var_samp(F.when(arm, F.col("value"))).alias("v_a"),
        F.count(F.when(~arm, 1)).alias("n_b"),
        F.avg(F.when(~arm, F.col("value"))).alias("m_b"),
        F.var_samp(F.when(~arm, F.col("value"))).alias("v_b"),
    )
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    t = (F.col("m_a") - F.col("m_b")) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (F.col("v_a") / F.col("n_a")) ** 2 / (F.col("n_a") - 1)
        + (F.col("v_b") / F.col("n_b")) ** 2 / (F.col("n_b") - 1)
    )
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("m_a", 4).alias("mean_a"),
        F.round("m_b", 4).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
        F.round(dof, 2).alias("welch_df"),
        (F.abs(t) > 1.96).alias("significant_95"),
    ).orderBy("event_type")


AB_TEST_ORACLE = """
WITH g AS (
  SELECT event_type,
         count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
         avg(CASE WHEN user_id % 2 = 0 THEN value END) AS m_a,
         var_samp(CASE WHEN user_id % 2 = 0 THEN value END) AS v_a,
         count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n_b,
         avg(CASE WHEN user_id % 2 <> 0 THEN value END) AS m_b,
         var_samp(CASE WHEN user_id % 2 <> 0 THEN value END) AS v_b
  FROM events GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       round(m_a, 4) AS mean_a, round(m_b, 4) AS mean_b,
       round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 4) AS t_stat,
       round(pow(v_a / n_a + v_b / n_b, 2)
             / (pow(v_a / n_a, 2) / (n_a - 1)
                + pow(v_b / n_b, 2) / (n_b - 1)), 2) AS welch_df,
       abs((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b)) > 1.96
         AS significant_95
FROM g ORDER BY event_type
"""


def weighted_median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median of extended price per return flag,
    weighted by quantity — the lower weighted median (first value
    whose cumulative weight reaches half the total).

    Distributed as a cumulative-weight window over (value, tiebreak)
    order plus a total from the same partitioning (one shuffle,
    shared exchange), then a min-over-qualifying-rows agg. Quantities
    are whole numbers, so cumulative weights are exact int64 — the
    qualifying condition 2*cum >= total has no float tie to disagree
    on. At 100 TB the same plan holds: no global sort, each group
    orders independently.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "qty"
    ).rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("qty").over(w).alias("cum_w"),
        F.sum("qty").over(wp).alias("tot_w"),
    )
    return (
        cum.where(2 * F.col("cum_w") >= F.col("tot_w"))
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("weighted_median_price"))
        .orderBy("l_returnflag")
    )


WEIGHTED_MEDIAN_ORACLE = """
WITH cum AS (
  SELECT l_returnflag, l_extendedprice,
         sum(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, CAST(l_quantity AS BIGINT)
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
         sum(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag) AS tot_w
  FROM lineitem
)
SELECT l_returnflag, min(l_extendedprice) AS weighted_median_price
FROM cum WHERE 2 * cum_w >= tot_w
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def rolling_median_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling exact median of event value over the trailing
    5 rows — median smoothing, the robust twin of a moving average.
    The exact `percentile` aggregate runs AS a window function, so the
    frame's 5 values are ranked in-place: no self-join, no explode,
    state bounded by the frame. One shuffle on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias(
                "rolling_median_5"
            ),
        )
        .orderBy("event_id")
    )


ROLLING_MEDIAN_ORACLE = """
SELECT event_id, user_id,
       round(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)
         AS rolling_median_5
FROM events
ORDER BY event_id
"""


def trend_regression_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of event value over time via the
    closed-form OLS aggregates (regr_slope / regr_intercept /
    regr_r2) — SQL-standard, single-pass, map-side combinable; the
    declarative way to fit thousands of independent group-wise
    regressions without any iterative solver. Time is rescaled to
    days so the slope is a human-scale number that survives rounding.
    """
    ev = load_table(spark, sf_dir, "events")
    x = (F.unix_micros("ts").cast("double") / F.lit(86_400_000_000.0)).alias("x")
    e = ev.select("event_type", F.col("value").alias("y"), x)
    return (
        e.groupBy("event_type")
        .agg(
            F.regr_count("y", "x").alias("n"),
            F.round(F.regr_slope("y", "x"), 6).alias("slope_per_day"),
            F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 6).alias("r2"),
        )
        .orderBy("event_type")
    )


TREND_REGRESSION_ORACLE = """
WITH e AS (
  SELECT event_type, value AS y, epoch_us(ts) / 86400000000.0 AS x
  FROM events
)
SELECT event_type,
       CAST(regr_count(y, x) AS BIGINT) AS n,
       round(regr_slope(y, x), 6) AS slope_per_day,
       round(regr_intercept(y, x), 4) AS intercept,
       round(regr_r2(y, x), 6) AS r2
FROM e GROUP BY event_type ORDER BY event_type
"""


def ewma_customer_orders(
    spark: SparkSession, sf_dir: str, horizon: int = 20
) -> DataFrame:
    """Exponentially weighted moving average of order value per
    customer (decay 0.5, trailing ``horizon``-order window; registry
    default 20) — the smoothing every spend-forecast / anomaly
    baseline uses. The horizon is the smoothing-vs-state dial, so the
    property sweep (tests/test_property.py) runs it across 1..24, not
    just the default (VERDICT r7 #5); horizon <= ~30 keeps the
    shifted weights x e4 prices inside int64.

    The recurrence y_t = a*x_t + (1-a)*y_{t-1} is not directly a SQL
    window aggregate, but with a finite horizon it unrolls to
    y_t = sum_j w_j x_{t-j} / sum_j w_j with w_j = (1-a)^j. Decay 0.5
    makes the weights exact powers of two, so we compute the numerator
    ENTIRELY in int64: price in e4 ten-thousandths x bit-shifted
    integer weights (max |term| ~ 3e15 x 20 << int64 range). The sums
    are exact integers — bit-identical on any engine, no float
    accumulation-order hazard — and the single final division is the
    only floating step.

    Shape: rn via a per-customer window (ONE shuffle on custkey),
    then a banded self-join (0 <= rn_t - rn_j < 20) on the same key —
    per-row fan-in is capped at 20, so the join output is 20x the
    input regardless of scale, and both sides reuse the custkey
    exchange. No unbounded state, no global window.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.expr("CAST(round(o_totalprice * 10000) AS BIGINT)").alias("price_e4"),
    )
    t = seq.select(
        F.col("o_custkey").alias("custkey"), F.col("rn").alias("t_rn")
    )
    j = seq.select(
        F.col("o_custkey").alias("j_custkey"),
        F.col("rn").alias("j_rn"),
        "price_e4",
    )
    banded = t.join(
        j,
        (F.col("custkey") == F.col("j_custkey"))
        & (F.col("j_rn") <= F.col("t_rn"))
        & (F.col("j_rn") > F.col("t_rn") - horizon),
    )
    weight = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {horizon - 1} - (t_rn - j_rn))"
    )
    return (
        banded.groupBy("custkey", "t_rn")
        .agg(
            F.sum(weight * F.col("price_e4")).alias("num"),
            F.sum(weight).alias("den"),
        )
        .select(
            "custkey",
            F.col("t_rn").alias("order_seq"),
            F.round(F.col("num") / F.col("den") / 10000.0, 4).alias("ewma_price"),
        )
        .orderBy("custkey", "order_seq")
    )


def ewma_oracle(horizon: int = 20) -> str:
    """Oracle template over the EWMA trailing horizon — identical
    bit-shifted integer weights, so Spark and DuckDB agree for every
    horizon (VERDICT r7 #5)."""
    return f"""
WITH seq AS (
  SELECT o_custkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn,
         CAST(round(o_totalprice * 10000) AS BIGINT) AS price_e4
  FROM orders
), banded AS (
  SELECT t.o_custkey AS custkey, t.rn AS t_rn, j.rn AS j_rn, j.price_e4
  FROM seq t JOIN seq j
    ON t.o_custkey = j.o_custkey
   AND j.rn <= t.rn AND j.rn > t.rn - {horizon}
)
SELECT custkey, CAST(t_rn AS INT) AS order_seq,
       round(CAST(sum((CAST(1 AS BIGINT) << ({horizon - 1} - (t_rn - j_rn)))
                      * price_e4) AS BIGINT) * 1.0
             / CAST(sum(CAST(1 AS BIGINT) << ({horizon - 1} - (t_rn - j_rn)))
                    AS BIGINT)
             / 10000.0, 4) AS ewma_price
FROM banded
GROUP BY custkey, t_rn
ORDER BY custkey, order_seq
"""


EWMA_ORACLE = ewma_oracle()


def quantile_bin_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile discretization of ``o_totalprice`` — the
    feature-engineering binning step (quantile bucketizer) — with
    per-bin population stats.

    The bin id is floor((global_rank-1) * 10 / n): exact integer
    arithmetic on a DISTRIBUTED rank from :func:`core.global_rank`
    (range-exchange + per-range offsets), never a single-partition
    ``Window.orderBy``. Per-bin averages use the int64-e4 money sum,
    so every output value is a deterministic function of exact
    integers — engine-independent. Bin populations differ by at most
    1 by construction; the oracle recomputes the same formula from
    row_number, which DuckDB can afford single-node.
    """
    orders = load_table(spark, sf_dir, "orders")
    # Only the order columns go through global_rank: its two plan
    # branches must column-prune identically for the range exchange to
    # be reused (an extra payload column here desynchronized the
    # branches' sampled ranges — observed, not hypothetical). price_e4
    # derives from o_totalprice after ranking at zero extra cost.
    ranked = global_rank(
        orders.select("o_totalprice", "o_orderkey"),
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
    )
    binned = ranked.select(
        F.floor((F.col("rank") - 1) * 10 / F.col("_total")).alias("bin"),
        "o_totalprice",
        F.expr("CAST(round(o_totalprice * 10000) AS BIGINT)").alias("price_e4"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.round(F.sum("price_e4") / F.count("*") / 10000.0, 4).alias("avg_price"),
        )
        .select(F.col("bin").cast("int").alias("bin"), "n", "lo", "hi", "avg_price")
        .orderBy("bin")
    )


QUANTILE_BIN_ORACLE = """
WITH ranked AS (
  SELECT o_totalprice,
         CAST(round(o_totalprice * 10000) AS BIGINT) AS price_e4,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rank,
         count(*) OVER () AS total
  FROM orders
)
SELECT CAST(((rank - 1) * 10) // total AS INT) AS bin,
       count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi,
       round(CAST(sum(price_e4) AS BIGINT) * 1.0 / count(*) / 10000.0, 4)
         AS avg_price
FROM ranked
GROUP BY 1
ORDER BY bin
"""


def revenue_contribution_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis: revenue per nation, its share of the
    region, and its rank within the region — the percent-of-total BI
    kernel.

    Plan: the only big work is one fact-side aggregation keyed by
    custkey (orders joined to broadcast customer->nation->region
    dims); the shares and ranks are windows over the 25-row nation
    aggregate, i.e. free. Revenue accumulates as exact int64 e4
    (money_sum), so shares are single divisions of exact integers —
    engine-identical before the final rounding.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    per_nation = (
        orders.join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 10000) AS BIGINT)")).alias(
                "rev_e4"
            ),
            F.count("*").alias("n_orders"),
        )
    )
    w_region = Window.partitionBy("r_name")
    w_rank = Window.partitionBy("r_name").orderBy(
        F.col("rev_e4").desc(), F.col("n_name").asc()
    )
    return per_nation.select(
        "r_name",
        "n_name",
        "n_orders",
        (F.col("rev_e4") / 10000.0).alias("revenue"),
        F.round(F.col("rev_e4") / F.sum("rev_e4").over(w_region), 4).alias(
            "region_share"
        ),
        F.row_number().over(w_rank).alias("region_rank"),
    ).orderBy("r_name", "region_rank")


REVENUE_CONTRIBUTION_ORACLE = """
WITH per_nation AS (
  SELECT r.r_name, n.n_name,
         count(*) AS n_orders,
         CAST(sum(CAST(round(o.o_totalprice * 10000) AS BIGINT)) AS BIGINT)
           AS rev_e4
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT r_name, n_name, n_orders,
       rev_e4 / 10000.0 AS revenue,
       round(rev_e4 * 1.0 / CAST(sum(rev_e4) OVER (PARTITION BY r_name)
                                 AS BIGINT), 4) AS region_share,
       CAST(row_number() OVER (PARTITION BY r_name
                               ORDER BY rev_e4 DESC, n_name ASC) AS INT)
         AS region_rank
FROM per_nation
ORDER BY r_name, region_rank
"""


# --------------------------------------------------------------------------
# SQL:2023 LISTAGG
# --------------------------------------------------------------------------


def listagg_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2023 ``LISTAGG ... WITHIN GROUP`` (new in Spark 4): the
    standard ordered string aggregation — per order priority, the
    sorted distinct status set as one delimited string. The portable
    spelling of the collect_list→sort_array→array_join chain; the
    WITHIN GROUP ordering is what makes the result deterministic (an
    unordered LISTAGG would differ run to run at scale).
    """
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n,
               listagg(DISTINCT o_orderstatus, ',')
                 WITHIN GROUP (ORDER BY o_orderstatus) AS statuses
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


LISTAGG_ORACLE = """
SELECT o_orderpriority, count(*) AS n,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# CUSUM change-point detection
# --------------------------------------------------------------------------


def cusum_changepoint_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point per event type: the time index where the
    drift-adjusted cumulative sum D_i = n·S_i − i·S_n peaks in
    magnitude — the standard 'where did this metric's level shift?'
    detector. D is pure integer arithmetic on e4-quantized values
    (n·prefix − i·total), so the argmax can never move by a float ulp;
    the reported peak converts to value units only at the end.

    Scale shape: per-type prefix sums use the arithmetic-bucket
    two-phase pattern (bucket on the ORDER key — event time — with
    broadcast bounds; local running sums per (type, bucket); a
    ≤ types×n_part offset table), so one series never lands in one
    task; the final argmax is a map-side combinable max_by with an
    encoded (|D|, −ts, −id) tie-break — no global window anywhere.
    Overflow headroom: n·prefix stays under int64 to ~10⁹ e4-values
    per series; past that, quantize coarser or lift to decimal(38).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("tsu"),
        F.round(F.col("value") * 10000).cast("long").alias("xi"),
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bounds = ev.agg(F.min("tsu").alias("lo"), F.max("tsu").alias("hi"))
    bucketed = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "_pid",
        F.least(
            F.floor(
                (F.col("tsu") - F.col("lo"))
                / (F.col("hi") - F.col("lo") + 1)
                * n_part
            ).cast("int"),
            F.lit(n_part - 1),
        ),
    )
    w_loc = (
        Window.partitionBy("event_type", "_pid")
        .orderBy("tsu", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bucketed.select(
        "event_type",
        "event_id",
        "tsu",
        F.sum("xi").over(w_loc).alias("loc_s"),
        F.count("*").over(w_loc).alias("loc_i"),
        "_pid",
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        bucketed.groupBy("event_type", "_pid")
        .agg(F.sum("xi").alias("s"), F.count("*").alias("c"))
        .select(
            "event_type",
            "_pid",
            F.coalesce(F.sum("s").over(w_cum), F.lit(0)).alias("off_s"),
            F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("off_c"),
        )
    )
    tot = ev.groupBy("event_type").agg(
        F.sum("xi").alias("total"), F.count("*").alias("n")
    )
    d = (
        local.join(F.broadcast(off), ["event_type", "_pid"])
        .join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "event_id",
            "tsu",
            "n",
            (
                (F.col("loc_s") + F.col("off_s")) * F.col("n")
                - (F.col("loc_i") + F.col("off_c")) * F.col("total")
            ).alias("dd"),
        )
    )
    peak = d.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max_by(
            F.struct("tsu", "event_id", F.abs(F.col("dd")).alias("absd")),
            F.struct(F.abs(F.col("dd")).alias("o1"), (-F.col("tsu")).alias("o2"), (-F.col("event_id")).alias("o3")),
        ).alias("pk"),
    )
    return peak.select(
        "event_type",
        "n",
        F.timestamp_micros(F.col("pk.tsu")).alias("change_ts"),
        F.round(F.col("pk.absd") / F.col("n") / 1e4, 4).alias("cusum_peak"),
    ).orderBy("event_type")


CUSUM_ORACLE = """
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS tsu,
         CAST(round(value * 10000) AS BIGINT) AS xi
  FROM events
), pre AS (
  SELECT event_type, event_id, tsu,
         CAST(sum(xi) OVER (PARTITION BY event_type ORDER BY tsu, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
         CAST(row_number() OVER (PARTITION BY event_type
           ORDER BY tsu, event_id) AS BIGINT) AS i
  FROM base
), tot AS (
  SELECT event_type, CAST(sum(xi) AS BIGINT) AS total,
         count(*) AS n
  FROM base GROUP BY 1
), d AS (
  SELECT p.event_type, p.event_id, p.tsu, t.n,
         abs(p.s * t.n - p.i * t.total) AS absd
  FROM pre p JOIN tot t USING (event_type)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
    ORDER BY absd DESC, tsu, event_id) AS rk
  FROM d
)
SELECT event_type, n, make_timestamp(tsu) AS change_ts,
       round(CAST(absd AS BIGINT) / n / 1e4, 4) AS cusum_peak
FROM ranked WHERE rk = 1
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Poisson-bootstrap confidence intervals
# --------------------------------------------------------------------------


def bootstrap_ci_group_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 32-replicate confidence interval for the mean
    order price per priority — THE scale-out bootstrap (each row draws
    its own replicate multiplicity, so no global resampling pass is
    ever needed; Chamandy et al.'s estimator family). Deterministic:
    the Poisson(1) draw is a threshold table over a Knuth hash of
    (orderkey, replicate), prices accumulate as exact int64 cents, and
    the CI endpoints are the 2nd-smallest / 2nd-largest replicate
    means (order statistics of 32 — no interpolated percentile to
    disagree on).

    Scale shape: the 32× row expansion is a zero-shuffle explode
    feeding ONE map-side combinable groupBy on (group, replicate);
    the order-statistics window runs over 32 rows per group.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    reps = base.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b")
    )
    u = (
        F.col("o_orderkey") * F.lit(2654435761) + F.col("b") * F.lit(40503)
    ) % F.lit(2147483647) % F.lit(1000)
    w = (
        F.when(u < 368, 0)
        .when(u < 736, 1)
        .when(u < 920, 2)
        .when(u < 981, 3)
        .otherwise(4)
    )
    rep_means = (
        reps.withColumn("w", w)
        .groupBy("o_orderpriority", "b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .select(
            "o_orderpriority",
            "b",
            (F.col("swx") / (F.lit(100) * F.col("sw"))).alias("rep_mean"),
        )
    )
    wnd = Window.partitionBy("o_orderpriority").orderBy("rep_mean", "b")
    ranked = rep_means.withColumn("rk", F.row_number().over(wnd))
    overall = base.groupBy("o_orderpriority").agg(
        (F.sum("cents") / (F.lit(100.0) * F.count("*"))).alias("mean_raw")
    )
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.round(F.min(F.when(F.col("rk") == 2, F.col("rep_mean"))), 4).alias(
                "ci_lo"
            ),
            F.round(F.min(F.when(F.col("rk") == 31, F.col("rep_mean"))), 4).alias(
                "ci_hi"
            ),
        )
        .join(F.broadcast(overall), "o_orderpriority")
        .select(
            "o_orderpriority",
            F.round("mean_raw", 4).alias("mean_price"),
            "ci_lo",
            "ci_hi",
        )
        .orderBy("o_orderpriority")
    )


BOOTSTRAP_CI_ORACLE = """
WITH base AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), reps AS (
  SELECT o_orderpriority, cents, b.b,
         (o_orderkey * 2654435761 + b.b * 40503) % 2147483647 % 1000 AS u
  FROM base CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) b
), wtab AS (
  SELECT o_orderpriority, b, cents,
         CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1 WHEN u < 920 THEN 2
              WHEN u < 981 THEN 3 ELSE 4 END AS w
  FROM reps
), rm AS (
  SELECT o_orderpriority, b,
         CAST(sum(w * cents) AS BIGINT) / (100 * CAST(sum(w) AS BIGINT))
           AS rep_mean
  FROM wtab GROUP BY 1, 2
), rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderpriority ORDER BY rep_mean, b) AS rk
  FROM rm
), overall AS (
  SELECT o_orderpriority,
         CAST(sum(cents) AS BIGINT) / (100.0 * count(*)) AS mean_raw
  FROM base GROUP BY 1
)
SELECT rk.o_orderpriority, round(overall.mean_raw, 4) AS mean_price,
       round(min(CASE WHEN rk = 2 THEN rep_mean END), 4) AS ci_lo,
       round(min(CASE WHEN rk = 31 THEN rep_mean END), 4) AS ci_hi
FROM rk JOIN overall USING (o_orderpriority)
GROUP BY rk.o_orderpriority, overall.mean_raw
ORDER BY rk.o_orderpriority
"""


# --------------------------------------------------------------------------
# A/B proportion z-test
# --------------------------------------------------------------------------


def ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per day-of-week: split users into
    deterministic A/B arms (user_id parity — the hash-bucket
    assignment every experimentation platform uses), compare each
    arm's purchase share with the pooled-variance z statistic. The
    weekly breakdown is the standard "did the effect hold every day?"
    slice.

    Numerics: counts are exact integers; the only floats are the four
    final divisions and one sqrt — sqrt is correctly-rounded IEEE (no
    libm ulp drift, unlike log), so the statistic is bit-identical
    across engines. One map-side combinable groupBy total.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.select(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            (F.col("user_id") % 2).alias("arm"),
            (F.col("event_type") == "purchase").cast("long").alias("is_p"),
        )
        .groupBy("dow")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("arm") == 0, F.col("is_p")).otherwise(0)).alias("x_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
            F.sum(F.when(F.col("arm") == 1, F.col("is_p")).otherwise(0)).alias("x_b"),
        )
    )
    pa = F.col("x_a") / F.col("n_a")
    pb = F.col("x_b") / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b"))
    z = (pa - pb) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    return agg.select(
        "dow",
        "n_a",
        "n_b",
        F.round(pa, 4).alias("conv_a"),
        F.round(pb, 4).alias("conv_b"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    ).orderBy("dow")


AB_PROPORTION_ORACLE = """
WITH agg AS (
  SELECT date_part('dow', ts) AS dow,
         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
                  THEN 1 ELSE 0 END) AS x_a,
         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b,
         sum(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
                  THEN 1 ELSE 0 END) AS x_b
  FROM events GROUP BY 1
)
SELECT CAST(dow AS BIGINT) AS dow,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(x_a / n_a, 4) AS conv_a,
       round(x_b / n_b, 4) AS conv_b,
       round((x_a / n_a - x_b / n_b)
             / sqrt((x_a + x_b) / (n_a + n_b)
                    * (1 - (x_a + x_b) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 4) AS z,
       abs((x_a / n_a - x_b / n_b)
           / sqrt((x_a + x_b) / (n_a + n_b)
                  * (1 - (x_a + x_b) / (n_a + n_b))
                  * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS significant
FROM agg ORDER BY dow
"""


# --------------------------------------------------------------------------
# Theil-Sen robust trend
# --------------------------------------------------------------------------


def theilsen_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Theil-Sen robust trend per event type: pair each event
    with the one 50 positions later in time order, take the median of
    the pairwise slopes (value units per hour). One outlier spike
    cannot move this estimate the way it drags OLS
    (trend_regression_by_type is the OLS twin to compare against).

    Determinism: the median is the LOWER-median ELEMENT (row_number
    pick at ceil(n/2) with an event_id tie-break), never an
    interpolated percentile two engines could round differently;
    slopes multiply before the single division. Scale shape: banded
    pairs are one lead() over one event_type shuffle — O(n) pairs,
    not Theil-Sen's classic O(n²).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    paired = (
        ev.select("event_type", "event_id", "ts", "value")
        .withColumn("v2", F.lead("value", 50).over(w))
        .withColumn("ts2", F.lead("ts", 50).over(w))
        .where(F.col("v2").isNotNull())
        .select(
            "event_type",
            "event_id",
            (
                (F.col("v2") - F.col("value"))
                * F.lit(3600000000.0)
                / (F.unix_micros("ts2") - F.unix_micros("ts"))
            ).alias("slope"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("slope", "event_id")
    counted = paired.withColumn("rk", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type"))
    )
    return (
        counted.where(F.col("rk") == F.expr("(n + 1) div 2"))
        .select(
            "event_type",
            F.col("n").alias("n_pairs"),
            F.round("slope", 6).alias("med_slope_per_hour"),
        )
        .orderBy("event_type")
    )


THEILSEN_ORACLE = """
WITH paired AS (
  SELECT event_type, event_id,
         (lead(value, 50) OVER w - value) * 3600000000.0
           / (epoch_us(lead(ts, 50) OVER w) - epoch_us(ts)) AS slope
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
), ok AS (
  SELECT * FROM paired WHERE slope IS NOT NULL
), ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ok
)
SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
       round(slope, 6) AS med_slope_per_hour
FROM ranked WHERE rk = (n + 1) // 2
ORDER BY event_type
"""


QUERIES: dict = {
    "ewma_customer_orders": (ewma_customer_orders, EWMA_ORACLE),
    "revenue_contribution_shares": (
        revenue_contribution_shares,
        REVENUE_CONTRIBUTION_ORACLE,
    ),
    "quantile_bin_features": (quantile_bin_features, QUANTILE_BIN_ORACLE),
    "ab_test_welch": (ab_test_welch, AB_TEST_ORACLE),
    "weighted_median_by_group": (weighted_median_by_group, WEIGHTED_MEDIAN_ORACLE),
    "rolling_median_by_user": (rolling_median_by_user, ROLLING_MEDIAN_ORACLE),
    "trend_regression_by_type": (
        trend_regression_by_type,
        TREND_REGRESSION_ORACLE,
    ),
    "cube_priority_status": (cube_priority_status, CUBE_ORACLE),
    "winsorized_stats_by_group": (winsorized_stats_by_group, WINSORIZED_STATS_ORACLE),
    "ansi_safe_arithmetic": (ansi_safe_arithmetic, ANSI_SAFE_ORACLE),
    "exact_percentiles_by_group": (exact_percentiles_by_group, EXACT_PERCENTILES_ORACLE),
    "higher_moments_stats": (higher_moments_stats, HIGHER_MOMENTS_ORACLE),
    "applyinpandas_zscore": (applyinpandas_zscore, APPLYINPANDAS_ZSCORE_ORACLE),
    "grouping_sets_custom": (grouping_sets_custom, GROUPING_SETS_ORACLE),
    "window_distribution_funcs": (window_distribution_funcs, WINDOW_DIST_ORACLE),
    "approx_quantile_bounds": (approx_quantile_bounds, APPROX_QUANTILE_ORACLE),
    "window_lag_lead": (window_lag_lead, WINDOW_LAG_LEAD_ORACLE),
    "bootstrap_ci_group_means": (bootstrap_ci_group_means, BOOTSTRAP_CI_ORACLE),
    "cusum_changepoint_by_type": (cusum_changepoint_by_type, CUSUM_ORACLE),
    "listagg_status_rollup": (listagg_status_rollup, LISTAGG_ORACLE),
    "ab_proportion_ztest": (ab_proportion_ztest, AB_PROPORTION_ORACLE),
    "theilsen_trend_by_type": (theilsen_trend_by_type, THEILSEN_ORACLE),
    "ntile_balance_quartiles": (ntile_balance_quartiles, NTILE_ORACLE),
    "corr_covar_stats": (corr_covar_stats, CORR_ORACLE),
    "histogram_totalprice": (histogram_totalprice, HISTOGRAM_ORACLE),
    "approx_distinct_bounds": (approx_distinct_bounds, APPROX_DISTINCT_ORACLE),
    "range_join_discount_bands": (range_join_discount_bands, RANGE_JOIN_ORACLE),
    "salted_skew_agg": (salted_skew_agg, SALTED_ORACLE),
    "sample_modulo_agg": (sample_modulo_agg, SAMPLE_ORACLE),
    "stratified_sample_bounds": (stratified_sample_bounds, STRATIFIED_SAMPLE_ORACLE),
    "string_funcs_suite": (string_funcs_suite, STRING_FUNCS_ORACLE),
    "date_parts_agg": (date_parts_agg, DATE_PARTS_ORACLE),
    "unpivot_lineitem_measures": (unpivot_lineitem_measures, UNPIVOT_ORACLE),
}
