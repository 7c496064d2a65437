"""Sanity tests for the rows-only (hash-dependent / probabilistic)
queries that the DuckDB oracle cannot check: each one must still find
the deterministically injected ground truth (SURVEY.md §5.2.2 —
the weaker check still verifies semantics, not just row counts)."""

import os

from pyspark.sql import functions as F

from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import load_table
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import dedup, similarity
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.streaming import windows as sw
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import timeseries


def _injected_near_dup_ids(spark, sf_dir):
    """doc_id < 25 with >=2 words — the rows _corpus_with_near_dups
    injects a near-duplicate for."""
    docs = load_table(spark, sf_dir, "documents")
    return {
        r.doc_id
        for r in docs.filter(
            (F.col("doc_id") < 25) & (F.size(F.split("text", " ")) >= 2)
        ).collect()
    }


def test_minhash_lsh_recovers_injected_pairs(spark, sf_dir):
    expected = _injected_near_dup_ids(spark, sf_dir)
    found = {
        r.doc_a
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
        if r.doc_b == r.doc_a + 1_000_000
    }
    missing = expected - found
    # MinHash is an estimator: allow <=2 of ~25 injected pairs to fall
    # under the 0.5 estimated-Jaccard threshold (short docs drop a
    # larger shingle fraction when their last word is removed)
    assert len(missing) <= 2, f"missed injected near-dups: {sorted(missing)}"


def test_containment_catches_planted_subsets(spark, sf_dir):
    """The planted near-dup (last word dropped) has a shingle set that
    is a strict subset of its original's — the DF cap removes hot
    shingles from BOTH sides, so the subset relation survives and
    every planted pair that reaches the postings join must score
    containment exactly 1.0. Jaccard can sit below its 0.6 threshold
    for short docs; containment cannot."""
    found = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.dedup_containment(spark, sf_dir).collect()
    }
    planted = {
        (d, d + 1_000_000): c
        for (d, p), c in found.items()
        if p == d + 1_000_000 and d < 25
    }
    assert len(planted) >= 20, f"too few planted pairs found: {len(planted)}"
    wrong = {k: v for k, v in planted.items() if v != 1.0}
    assert not wrong, f"planted subset pairs must have containment 1.0: {wrong}"


def test_simhash_banding_complete_for_threshold(spark, sf_dir):
    """4 x 16-bit banding provably generates every candidate with
    hamming <= 3, so the query result must EQUAL the brute-force set of
    injected pairs within threshold — no tolerance needed."""
    fps = dedup.simhash_fingerprints(dedup._corpus_with_near_dups(spark, sf_dir))
    a, b = fps.alias("a"), fps.alias("b")
    expected = {
        r.doc_id
        for r in a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1_000_000)
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("h"),
        )
        .filter(F.col("h") <= dedup.HAMMING_MAX)
        .collect()
    }
    found = {
        r.doc_a
        for r in dedup.dedup_simhash(spark, sf_dir).collect()
        if r.doc_b == r.doc_a + 1_000_000
    }
    assert found == expected, (
        f"banding must be complete for h<={dedup.HAMMING_MAX}: "
        f"missing={sorted(expected - found)} extra={sorted(found - expected)}"
    )
    assert len(expected) >= 10, "fixture should inject enough close pairs"


def test_lsh_ann_recall_vs_exact(spark, sf_dir):
    """Bucketed ANN must reach >=40% recall@5 of the exact baseline at
    fixture scale (6 planes / 64 buckets over ~500 vectors is coarse by
    design; recall rises with multi-probe at scale)."""
    exact = {
        (r.q_id, r.vec_id) for r in similarity.ann_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        (r.q_id, r.vec_id) for r in similarity.ann_lsh_topk(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"LSH recall@5 collapsed: {recall:.2f}"


def test_mllib_lsh_recall_vs_exact(spark, sf_dir):
    """The MLlib BucketedRandomProjectionLSH variant must also hold a
    recall floor vs the exact baseline (unit-norm vectors make
    Euclidean and cosine rankings equivalent: d^2 = 2 - 2cos)."""
    exact = {
        (r.q_id, r.vec_id) for r in similarity.ann_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        (r.q_id, r.vec_id) for r in similarity.mllib_lsh_ann_topk(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"MLlib LSH recall@5 collapsed: {recall:.2f}"


def test_streaming_session_window_subset_of_batch(spark, sf_dir):
    """Append-mode session windows withhold sessions past the final
    watermark, so the stream result must be a subset of (and most of)
    the batch sessionization's session count per user."""
    stream = sw.streaming_session_window(spark, sf_dir)
    stream_sessions = stream.groupBy("user_id").count().collect()
    batch = {
        r.user_id: r.n_sessions
        for r in timeseries.events_sessionization(spark, sf_dir).collect()
    }
    assert stream_sessions, "stream produced no sessions"
    for row in stream_sessions:
        assert row["count"] <= batch[row.user_id], (
            f"user {row.user_id}: stream emitted more sessions than batch"
        )


def test_streaming_drain_drops_its_sink_view(spark, sf_dir):
    """Each streaming query drains into a memory sink whose temp view is
    dropped once read: a query built twice leaves no ``sink_*`` view in
    the session, and both DataFrames still return the oracle's rows."""
    from .helpers import compare_frames, duckdb_connection

    dfs = [sw.streaming_hourly_agg(spark, sf_dir) for _ in range(2)]
    sinks = [t.name for t in spark.catalog.listTables() if t.name.startswith("sink_")]
    assert not sinks, f"memory-sink views left registered: {sinks}"
    con = duckdb_connection(sf_dir)
    try:
        oracle = con.execute(sw.STREAMING_HOURLY_ORACLE).fetchdf()
    finally:
        con.close()
    for df in dfs:
        assert compare_frames(df.toPandas(), oracle) == []


def test_streaming_minhash_dedup_adds_no_cache_entry(spark, sf_dir):
    """The streaming MinHash decisions outlive their per-call work
    directory as a local checkpoint, not as a CacheManager entry: three
    builds leave the session's cached-entry count unchanged, and each
    frame still reads its decisions."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    frames = [sw.streaming_minhash_dedup(spark, sf_dir) for _ in range(3)]
    assert cache.numCachedEntries() == before
    counts = {df.count() for df in frames}
    assert len(counts) == 1 and counts.pop() > 0


def test_streaming_upsert_leaves_no_stage_directory(spark, sf_dir):
    """``streaming_foreachbatch_upsert`` swaps each merge through a
    ``<target>_stage`` copy; after the stream ends it checkpoints the
    returned rows and removes both directories, so a build leaves
    nothing under ``sparkbench_upsert`` and the frame still reads."""
    import tempfile

    root = os.path.join(tempfile.gettempdir(), "sparkbench_upsert")

    def listed() -> set[str]:
        return set(os.listdir(root)) if os.path.isdir(root) else set()

    before = listed()
    df = sw.streaming_foreachbatch_upsert(spark, sf_dir)
    assert listed() - before == set()
    assert df.count() > 0


def test_observation_fires_under_local_checkpoint(spark):
    """Pin the mechanism dedup_clusters_cc's convergence witness rides
    on: an ``Observation`` metric attached below ``localCheckpoint(
    eager=True)`` is populated by the checkpoint's own materialization
    job — no separate agg/collect action is needed, so each CC round
    is one action instead of propagate-then-collect. If a Spark
    upgrade stopped firing CollectMetrics under RDD checkpointing,
    ``obs.get`` would block/miss and this test (and CC's fixpoint
    detection) would hang rather than silently mislabel — pin it."""
    from pyspark.sql import Observation

    df = spark.range(1_000).withColumn("label", F.col("id") % 7)
    obs = Observation("ckpt_probe")
    ckpt = df.observe(obs, F.sum("label").alias("label_sum")).localCheckpoint(eager=True)
    assert obs.get["label_sum"] == 2997  # sum of id%7 over 0..999
    assert ckpt.count() == 1_000


def test_session_eviction_tie_is_inclusive(spark, tmp_path):
    """Pin Spark's session-window append emission at an EXACT watermark
    tie (ADVICE r5): a session whose end (last event + 30-min gap)
    lands precisely ON the final watermark (max ts - 1 h) IS emitted —
    the eviction predicate is inclusive. Every truth predicate in the
    repo therefore uses `<=`: STREAMING_SESSION_ORACLE
    (streaming/windows.py), scripts/streaming_scale_probe.py and
    scripts/streaming_recovery_probe.py. The shared fixtures happened
    to be tie-free, so this synthetic fixture puts one session exactly
    on the boundary to keep the three conventions from drifting."""
    import pandas as pd

    t0 = pd.Timestamp("2024-01-01 12:00:00")
    pdf = pd.DataFrame(
        [
            # user 1: lone event; session_end = t0+30min == final watermark (the tie)
            (1, t0, 1, "view", 1.0, "{}"),
            # user 2: watermark advancer (max ts = t0+90min -> wm = t0+30min);
            # its own session ends t0+120min > wm, so it must be withheld
            (2, t0 + pd.Timedelta("90min"), 2, "view", 1.0, "{}"),
            # user 3: clearly closed session, must always be emitted
            (3, t0 - pd.Timedelta("3h"), 3, "view", 1.0, "{}"),
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    fix = tmp_path / "tie_fixture"
    fix.mkdir()
    pdf.to_parquet(fix / "events.parquet", index=False)

    out = sw.streaming_session_window(spark, str(fix)).toPandas()
    emitted = set(out["user_id"])
    assert 3 in emitted, "clearly-closed session missing — drain broken"
    assert 2 not in emitted, "session past the watermark must be withheld"
    assert 1 in emitted, (
        "session ending exactly ON the final watermark must be emitted "
        "(inclusive eviction — the `<=` convention)"
    )


def test_range_clustered_write_produces_disjoint_files(spark, sf_dir, tmp_path):
    """Write-path layout for time-range pruning: repartitionByRange +
    sortWithinPartitions must yield parquet files whose l_shipdate
    [min, max] spans are pairwise disjoint — the property that lets a
    date-filtered scan skip whole files via footer stats at 100 TB."""
    import pyarrow.parquet as pq

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import load_table
    from pyspark.sql import functions as F

    out = str(tmp_path / "clustered")
    (
        load_table(spark, sf_dir, "lineitem")
        .repartitionByRange(4, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    spans = []
    for name in os.listdir(out):
        if not name.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(out, name))
        lo = hi = None
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "l_shipdate"
            )
            st = col.statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        spans.append((lo, hi))
    assert len(spans) >= 2, "range partitioning should emit multiple files"
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"file ranges overlap: ({lo1},{hi1}) vs ({lo2},{hi2})"


def test_foreachbatch_idempotent_sink(spark, sf_dir, tmp_path):
    """foreachBatch sink with idempotent merge semantics: the batch
    function dedups on event_id against what's already in the target,
    so replaying the same source (restart-without-checkpoint, the
    worst case) cannot double rows — the pattern for exactly-once
    delivery onto non-transactional stores."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import (
        normalize_events_ts,
        read_raw,
    )

    target = str(tmp_path / "sink")

    def run_once(checkpoint: str) -> None:
        raw_schema = read_raw(spark, sf_dir, "events").schema
        stream = normalize_events_ts(
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

        def merge_batch(batch_df, batch_id):
            new = batch_df.select("event_id", "user_id", "value")
            if os.path.exists(os.path.join(target, "_SUCCESS")):
                seen = spark.read.parquet(target).select("event_id")
                new = new.join(seen, "event_id", "left_anti")
            new.write.mode("append").parquet(target)

        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once(str(tmp_path / "ckpt1"))
    n_first = spark.read.parquet(target).count()
    # fresh checkpoint => the source replays from scratch; the
    # idempotent merge must keep the target unchanged
    run_once(str(tmp_path / "ckpt2"))
    n_second = spark.read.parquet(target).count()
    n_events = read_raw(spark, sf_dir, "events").count()
    assert n_first == n_events
    assert n_second == n_first, "replay must not duplicate rows"


def test_dynamic_partition_overwrite_touches_only_matching(spark, sf_dir, tmp_path):
    """INSERT OVERWRITE with partitionOverwriteMode=dynamic must
    replace ONLY the partitions present in the incoming frame — the
    nightly-restatement write pattern (static mode would wipe the
    whole table)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import load_table
    from pyspark.sql import functions as F

    target = str(tmp_path / "orders_part")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(target)
    before = {
        r["o_orderpriority"]: r["n"]
        for r in spark.read.parquet(target).groupBy("o_orderpriority").agg(
            F.count("*").alias("n")
        ).collect()
    }

    restated = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .limit(10)
        .withColumn("o_totalprice", F.lit(0.0))
    )
    (
        restated.write.partitionBy("o_orderpriority")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(target)
    )
    after = {
        r["o_orderpriority"]: r["n"]
        for r in spark.read.parquet(target).groupBy("o_orderpriority").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert after["1-URGENT"] == 10, "restated partition must be replaced"
    for prio, n in before.items():
        if prio != "1-URGENT":
            assert after[prio] == n, f"untouched partition {prio} changed"


def test_mixture_keep_decisions_subset_invariant(spark, sf_dir):
    # data_mixture_resample's configured-weight keep rule is content-
    # keyed with NO global state: dropping half the corpus must not
    # flip any surviving doc's fate (the reproducibility property that
    # rand()/row_number-based sampling lacks). The temperature variant
    # intentionally differs — its rates recompute from corpus counts.
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        MIXTURE_KEEP_256,
    )

    docs = load_table(spark, sf_dir, "documents")
    hexd = "0123456789abcdef"
    bucket = F.expr(
        f"(instr('{hexd}', substring(md5(text), 1, 1)) - 1) * 16"
        f" + (instr('{hexd}', substring(md5(text), 2, 1)) - 1)"
    )
    thr = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in MIXTURE_KEEP_256.items()],
        F.lit(256),
    )
    full = {
        r.doc_id: r.kept
        for r in docs.select("doc_id", (bucket < thr).cast("int").alias("kept")).collect()
    }
    half = {
        r.doc_id: r.kept
        for r in docs.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", (bucket < thr).cast("int").alias("kept"))
        .collect()
    }
    assert half and all(full[d] == k for d, k in half.items())


def test_temperature_rates_rebalance_toward_rare(spark, sf_dir):
    # alpha=0.5 temperature: the rarest language keeps rate 1.0, and
    # keep rates are anti-monotone in language frequency
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        mixture_temperature_resample,
    )

    rows = mixture_temperature_resample(spark, sf_dir).collect()
    by_lang = {r.lang: r for r in rows}
    rarest = min(rows, key=lambda r: r.n_total)
    assert by_lang[rarest.lang].target_rate == 1.0
    ordered = sorted(rows, key=lambda r: r.n_total)
    rates = [r.target_rate for r in ordered]
    assert rates == sorted(rates, reverse=True)


def test_bloom_has_no_false_negatives_and_filters(spark, sf_dir):
    """The hand-built bloom (bloom_build + bloom_might_contain) must
    pass EVERY inserted key (no false negatives — the correctness
    contract that lets it pre-filter a join) while rejecting most
    non-members (the reason to build it at all)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.joins import (
        bloom_build,
        bloom_might_contain,
    )

    members = spark.range(0, 500).select(F.col("id").alias("k"))
    bloom = bloom_build(members, "k")

    n_members_pass = (
        members.join(F.broadcast(bloom))
        .filter(bloom_might_contain(F.col("k")))
        .count()
    )
    assert n_members_pass == 500, "bloom dropped an inserted key (false negative)"

    non_members = spark.range(1_000_000, 1_010_000).select(F.col("id").alias("k"))
    n_fp = (
        non_members.join(F.broadcast(bloom))
        .filter(bloom_might_contain(F.col("k")))
        .count()
    )
    # m=2^17 bits, n=500, k=3 => fp rate ~ (1 - e^(-3*500/131072))^3 ~ 1.4e-6
    assert n_fp <= 20, f"false-positive rate implausibly high: {n_fp}/10000"


def test_zorder_write_narrows_both_dimensions(spark, sf_dir, tmp_path):
    """Clustering the write by the Morton key must leave EVERY parquet
    file with a narrow min/max span in BOTH quantized dimensions —
    the property that makes footer-stats skipping work for filters on
    either column. A single-column sort gives this only for its
    leading column; z-order is the win worth the shuffle."""
    import pyarrow.parquet as pq

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import load_table
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.sources.storage import (
        zorder_value,
    )

    orders = load_table(spark, sf_dir, "orders")
    xq = F.pmod(F.col("o_custkey"), F.lit(256)).cast("int")
    yq = F.pmod(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")), F.lit(256)
    ).cast("int")
    quant = orders.select(xq.alias("xq"), yq.alias("yq")).withColumn(
        "zval", zorder_value(F.col("xq"), F.col("yq"))
    )

    out = str(tmp_path / "zordered")
    (
        quant.repartitionByRange(16, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out)
    )

    def spans(col_name):
        widths = []
        for name in os.listdir(out):
            if not name.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(out, name))
            lo = hi = None
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col_name
                )
                st = col.statistics
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            widths.append(hi - lo)
        return widths

    x_widths, y_widths = spans("xq"), spans("yq")
    assert len(x_widths) >= 8, "range partitioning should emit multiple files"
    # 16 z-ranges over a 16-bit z space fix the top 2 bit-pairs of each
    # dim; files at z-range boundaries can straddle two quadrants, so
    # assert on the typical (median) file, not the worst one.
    x_widths.sort(); y_widths.sort()
    assert x_widths[len(x_widths) // 2] <= 128, f"x spans not narrowed: {x_widths}"
    assert y_widths[len(y_widths) // 2] <= 128, f"y spans not narrowed: {y_widths}"


def test_star_contraction_converges_on_high_diameter_chain(spark):
    """The reason star contraction exists: a 512-node path graph has
    diameter 511 (label propagation would need ~511 rounds; its cap of
    15 fails loudly), but large-star/small-star must collapse it to a
    single star in O(log n) <= 12 rounds with every node labeled by
    the component minimum."""
    chain = spark.range(0, 511).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    stars = dedup.star_contract(chain)
    rows = stars.collect()
    assert len(rows) == 511, "fixpoint must be one star edge per non-center node"
    assert all(r.v == 0 for r in rows), "every node must point at the component minimum"
    assert sorted(r.u for r in rows) == list(range(1, 512))


def test_random_projection_preserves_pair_distances(spark, sf_dir):
    """JL guarantee check: for sample pairs, squared distance in the
    16-dim projection must sit within a loose distortion envelope of
    the 64-dim original (k=16 gives eps ~ sqrt(8 ln n / k) — wide, so
    the envelope here is [0.3, 3.0]; a broken sign matrix or a dropped
    1/sqrt(k) scale lands far outside it)."""
    import math

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.similarity import (
        embedding_random_projection_vectors,
    )
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import load_table

    orig = {
        r.vec_id: r.embedding
        for r in load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20).collect()
    }
    proj = {
        r.vec_id: r.proj
        for r in embedding_random_projection_vectors(spark, sf_dir)
        .filter(F.col("vec_id") < 20)
        .collect()
    }

    def d2(a, b):
        return sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))

    ratios = []
    ids = sorted(orig)
    for a, b in zip(ids, ids[1:]):
        do, dp = d2(orig[a], orig[b]), d2(proj[a], proj[b])
        assert do > 0
        ratios.append(dp / do)
    gm = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
    assert all(0.15 <= r <= 4.0 for r in ratios), f"distortion out of envelope: {ratios}"
    assert 0.6 <= gm <= 1.6, f"systematic scale error: geomean {gm}"


def test_skyline_is_antichain_and_complete(spark, sf_dir):
    """Frontier rows must not dominate each other (anti-chain), and
    every non-frontier part must be dominated by some frontier row —
    the defining skyline properties, independent of the oracle SQL."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.mlprep import (
        skyline_pareto_frontier,
    )

    front = [
        (r.p_retailprice, r.p_size)
        for r in skyline_pareto_frontier(spark, sf_dir).collect()
    ]
    allp = [
        (r.p_retailprice, r.p_size)
        for r in load_table(spark, sf_dir, "part")
        .select("p_retailprice", "p_size")
        .collect()
    ]

    def dominates(q, p):
        return (
            q[0] <= p[0] and q[1] >= p[1] and (q[0] < p[0] or q[1] > p[1])
        )

    for a in front:
        assert not any(dominates(b, a) for b in front if b != a), (a, "dominated")
    front_set = set(front)
    for p in allp:
        if p not in front_set:
            assert any(dominates(f, p) for f in front), (p, "not dominated by frontier")


def test_negative_sampling_constraints_and_determinism(spark, sf_dir):
    """Every mined pair must cross sources, respect the K cap and the
    1-in-20 anchor sample, and two independent executions must produce
    the identical pair set (the whole point of hash-derived picks)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.mlprep import (
        _NEG_K,
        negative_sampling_pairs,
    )

    docs = {
        r.doc_id: r.source
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "source").collect()
    }
    rows = negative_sampling_pairs(spark, sf_dir).collect()
    per_anchor = {}
    for r in rows:
        assert r.anchor_id % 20 == 0
        assert docs[r.anchor_id] != docs[r.neg_id], "same-source negative"
        per_anchor.setdefault(r.anchor_id, []).append(r.neg_rank)
    for ranks in per_anchor.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= _NEG_K
    again = {(r.anchor_id, r.neg_id, r.neg_rank) for r in negative_sampling_pairs(spark, sf_dir).collect()}
    assert again == {(r.anchor_id, r.neg_id, r.neg_rank) for r in rows}


def test_kcore_trace_monotone_and_converged(spark, sf_dir):
    """Peeling can only shrink the graph, and on the fixture the
    3-core must reach a fixpoint within the 3-round unroll (equal
    consecutive rounds witness convergence)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.graph import (
        kcore_copurchase_peel,
    )

    trace = sorted(
        ((r.round, r.n_nodes, r.n_edges) for r in kcore_copurchase_peel(spark, sf_dir).collect())
    )
    assert [t[0] for t in trace] == [1, 2, 3]
    for (_, n1, e1), (_, n2, e2) in zip(trace, trace[1:]):
        assert n2 <= n1 and e2 <= e1, "peeling grew the graph"
    assert trace[-1][1:] == trace[-2][1:], "did not converge in 3 rounds"


def test_quantile_normalize_monotone_within_source(spark, sf_dir):
    """The normalization maps within-source rank order onto the global
    distribution, so within a source the normalized value must be
    nondecreasing in the raw value (monotone calibration)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.mlprep import (
        quantile_normalize_scores,
    )

    rows = quantile_normalize_scores(spark, sf_dir).collect()
    assert rows, "empty sample"
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append((r.n_chars, r.doc_id, r.norm_chars))
    for vals in by_source.values():
        vals.sort()
        for (c1, _, n1), (c2, _, n2) in zip(vals, vals[1:]):
            assert n1 <= n2, f"non-monotone mapping: {c1}->{n1} vs {c2}->{n2}"
        for c, _, n in vals:
            assert n is not None


def test_pq_assignment_partitions_every_vector(spark, sf_dir):
    """Each subspace must assign every vector to exactly one center:
    per-subspace assignment counts sum to the vector count."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.similarity import (
        pq_quantize_stats,
    )

    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    per_sub = {}
    for r in pq_quantize_stats(spark, sf_dir).collect():
        per_sub[r.sub] = per_sub.get(r.sub, 0) + r.n_assigned
        assert r.avg_err >= 0
    assert set(per_sub) == set(range(8))
    for sub, total in per_sub.items():
        assert total == n_vecs, f"subspace {sub}: {total} != {n_vecs}"


def test_ivfpq_recalls_most_of_ivf_flat(spark, sf_dir):
    """The PQ layer's quality measured against IVF-Flat over the SAME
    probe set (probe loss is the IVF layer's property): the 4-bit
    seeded codebook must recall >= 70% of the exact-rerank results."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.similarity import (
        ivf_ann_topk,
        ivfpq_ann_topk_bucketed,
    )

    ivf = {(r.q_id, r.vec_id) for r in ivf_ann_topk(spark, sf_dir).collect()}
    pq = {(r.q_id, r.vec_id) for r in ivfpq_ann_topk_bucketed(spark, sf_dir).collect()}
    assert ivf, "IVF returned nothing"
    recall = len(pq & ivf) / len(ivf)
    assert recall >= 0.7, f"PQ shortlist lost too much: recall {recall}"


def test_ivf_quantizer_consumers_agree(spark, sf_dir, monkeypatch):
    """One coarse quantizer: for every vector, the list ivf_ann_topk
    assigns in the session, ``list_id`` in the stored IVF-PQ index and
    ``plist_id`` (the rank-1 list) in the stored top-2 membership table
    are the same list."""
    indexed = []
    index = similarity._index

    def spy(*args, **kwargs):
        indexed.append(index(*args, **kwargs))
        return indexed[-1]

    monkeypatch.setattr(similarity, "_index", spy)
    similarity.ivf_ann_topk(spark, sf_dir)
    (lists,) = indexed
    session = {r.vec_id: r.list_id for r in lists.select("vec_id", "list_id").collect()}
    idx = similarity._ensure_ivfpq_index_table(spark, sf_dir)
    stored = {r.vec_id: r.list_id for r in idx.select("vec_id", "list_id").collect()}
    midx = similarity._ensure_ivfpq_multiprobe_table(spark, sf_dir)
    primary = {}
    for r in midx.select("vec_id", "plist_id").collect():
        primary.setdefault(r.vec_id, set()).add(r.plist_id)

    assert len(session) == load_table(spark, sf_dir, "embeddings").count()
    assert len(set(session.values())) > 1, "every vector fell into one list"
    assert stored == session
    assert primary == {v: {lst} for v, lst in session.items()}


def test_streaming_session_multibatch_equals_batch():
    """Multi-batch incremental certificate (scripts/streaming_scale_probe.py
    at test scale): replaying time-sliced files as separate micro-batches
    through the watermarked session window must emit EXACTLY the batch
    sessionization under the final-watermark predicate — including
    sessions whose events arrive in different micro-batches."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "streaming_scale_probe.py"), "300", "3", "5"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-1500:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["micro_batches"] > 1, "probe must exercise the incremental path"
    assert res["exact_match"], res
    assert res["state_rows_peak"] < res["truth_sessions"], "watermark must evict state"


def test_streaming_interval_join_multibatch_equals_batch():
    """Multi-batch certificate for the stream-stream interval join
    (scripts/streaming_join_scale_probe.py at test scale): pairs whose
    two sides arrive in different micro-batches must still join, orphan
    purchases outside the 30-min window must not, and the result must
    equal the batch interval join exactly."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "streaming_join_scale_probe.py"), "300", "4"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-1500:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["micro_batches"] > 1
    assert res["exact_match"] and res["truth_matches_arithmetic"], res


def test_streaming_dedup_multibatch_bounded_state():
    """Multi-batch certificate for watermarked streaming dedup
    (scripts/streaming_dedup_scale_probe.py at test scale): duplicates
    arriving in later micro-batches must still dedup, every id emits
    exactly once, AND state must evict — the probe at full scale is
    what exposed that plain dropDuplicates+watermark never evicts a
    non-event-time key (motivating dropDuplicatesWithinWatermark in
    streaming_dedup_events)."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "streaming_dedup_scale_probe.py"), "20000"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-1500:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["micro_batches"] > 1
    assert res["exact_match"], res
    assert res["state_rows_peak"] < res["unique"] // 2, (
        f"watermark failed to evict dedup state: peak {res['state_rows_peak']}"
        f" of {res['unique']} keys"
    )


def test_streaming_checkpoint_recovery_exactly_once():
    """Fault-tolerance certificate (scripts/streaming_recovery_probe.py
    at test scale): stop the session-window query mid-stream, restart
    from the checkpoint into the same parquet sink — output must equal
    batch truth exactly (no lost state/offsets, no double commits)."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "streaming_recovery_probe.py"), "300", "4", "5"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-1500:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["killed_after_batch"] >= 0, "query must have been stopped mid-stream"
    assert res["exactly_once_across_restart"], res


def test_sentence_dedup_clean_drops_exactly_the_corpus_dup_chunks(spark, sf_dir):
    """Defining CCNet line-dedup properties, independent of the oracle
    SQL: (a) stats and clean agree per doc (kept + removed == total),
    (b) the corpus has dup chunks to drop (non-vacuous), (c) every
    chunk surviving into clean_text occurs exactly once corpus-wide,
    and (d) clean_text preserves the document's original chunk order
    (it must be a subsequence of the doc's chunk stream)."""
    from collections import Counter

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.dedup import (
        SENT_K,
        dedup_sentence_clean,
        dedup_sentence_stats,
    )

    stats = {r.doc_id: r for r in dedup_sentence_stats(spark, sf_dir).collect()}
    clean = {r.doc_id: r for r in dedup_sentence_clean(spark, sf_dir).collect()}
    assert set(stats) == set(clean)

    # python-side ground truth: chunk every doc, count corpus-wide
    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    truth_chunks = {
        doc_id: [
            " ".join(w[i * SENT_K : i * SENT_K + SENT_K])
            for i in range(len(w) // SENT_K)
        ]
        for doc_id, w in docs.items()
    }
    freq = Counter(c for chunks in truth_chunks.values() for c in chunks)

    assert sum(r.removed_chunks for r in clean.values()) > 0, "vacuous fixture"
    for doc_id, s in stats.items():
        c = clean[doc_id]
        assert c.kept_chunks + c.removed_chunks == s.n_chunks == len(truth_chunks[doc_id])
        expected_kept = [ch for ch in truth_chunks[doc_id] if freq[ch] == 1]
        got = c.clean_text.split(" ") if c.clean_text else []
        # order-preserving reconstruct: the kept chunks, verbatim, in
        # original order (chunks are SENT_K words, so re-chunk the text)
        got_chunks = [
            " ".join(got[i * SENT_K : i * SENT_K + SENT_K])
            for i in range(len(got) // SENT_K)
        ]
        assert got_chunks == expected_kept, doc_id


def test_substring_spans_are_maximal_and_cover_injected_prefixes(spark, sf_dir):
    """ExactSubstr invariants beyond the oracle: (1) spans within a
    doc are MAXIMAL — sorted by start, the next span begins more than
    MATCH_LEN past the previous start (else the island merge should
    have fused them) and never overlaps the previous coverage;
    (2) every span covers >= MATCH_LEN tokens; (3) every injected
    trimmed-twin (doc_id < 25 gains a copy at +1,000,000 sharing its
    whole len-1 prefix) yields a span on BOTH sides reaching back to
    token 1."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.dedup import (
        MATCH_LEN,
        dedup_substring_exact,
    )

    rows = dedup_substring_exact(spark, sf_dir).collect()
    by_doc: dict = {}
    for r in rows:
        assert r.span_tokens >= MATCH_LEN
        assert r.span_tokens == r.span_end - r.span_start + 1
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for spans in by_doc.values():
        spans.sort()
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert s2 > e1 + 1, "touching/overlapping spans must have merged"
    # injected twins: original and +1M copy share the full trimmed
    # prefix; both must carry a span starting at token 1 when the
    # prefix is long enough to hold a MATCH_LEN window
    docs = load_table(spark, sf_dir, "documents")
    eligible = {
        r.doc_id
        for r in docs.filter(
            (F.col("doc_id") < 25)
            & (F.size(F.split("text", " ")) >= MATCH_LEN + 1)
        ).collect()
    }
    for base_id in eligible:
        for side in (base_id, base_id + 1_000_000):
            spans = by_doc.get(side, [])
            assert any(s == 1 for s, _ in spans), (
                f"doc {side}: injected shared prefix must produce a span "
                f"from token 1, got {spans}"
            )


def test_gopher_quality_rules_are_internally_consistent(spark, sf_dir):
    """The panel's pass flags must equal their rule predicates applied
    to the panel's own signal columns (catches a drifted cutoff
    constant), and pass_all must be the conjunction."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        GOPHER_ALPHA_MIN_BP,
        GOPHER_MAX_WORDS,
        GOPHER_MEAN_LEN_HI_BP,
        GOPHER_MEAN_LEN_LO_BP,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
        gopher_quality_signals,
    )

    rows = gopher_quality_signals(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.pass_word_count == int(
            GOPHER_MIN_WORDS <= r.n_words <= GOPHER_MAX_WORDS
        )
        assert r.pass_mean_len == int(
            GOPHER_MEAN_LEN_LO_BP <= r.mean_word_len_bp <= GOPHER_MEAN_LEN_HI_BP
        )
        assert r.pass_symbol == int(r.symbol_hits * 10 <= r.n_words)
        assert r.pass_alpha == int(r.alpha_word_bp >= GOPHER_ALPHA_MIN_BP)
        assert r.pass_stopwords == int(r.stop_hits >= GOPHER_MIN_STOPWORDS)
        assert r.pass_all == (
            r.pass_word_count
            * r.pass_mean_len
            * r.pass_symbol
            * r.pass_alpha
            * r.pass_stopwords
        )


def test_bpe_merge_application_is_greedy_left_to_right(spark):
    """The doubled-space replace must reproduce published BPE greedy
    application exactly: self-overlapping runs merge left-to-right
    without rescanning ('a a a a a' -> ['a+a','a+a','a'], so pair
    ('a','a') counts 5 pre-merge but the merged token never re-pairs
    with a bare 'a' on the left), and rank ties break on pair asc."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        _bpe_merge_rounds,
    )

    docs = spark.createDataFrame([("a a a a a",), ("b c b c",), ("a a b",)], ["text"])
    got = {
        r.merge_rank: (r.pair, r.n)
        for r in _bpe_merge_rounds(docs, 3).collect()
    }
    # r1: 'a a' appears 4x in doc1 + 1x in doc3
    # r2: doc1 -> 'a+a a+a a', doc3 -> 'a+a b'; 'b c' (2x in doc2) wins
    # r3: all remaining pairs count 1; 'a+a a' is the asc-first
    assert got == {1: ("a a", 5), 2: ("b c", 2), 3: ("a+a a", 1)}


def test_incremental_minhash_finds_planted_resubmissions(spark, sf_dir):
    """Every planted near-dup re-submission (corpus doc_id < 50, last
    word dropped, id + 3e6) the certificate's exact-Jaccard truth
    marks >= 0.9 must be admitted-as-duplicate by the index probe, and
    the probe must never pair a batch doc with itself or emit a
    corpus-side id on the batch side."""
    found = dedup.dedup_minhash_incremental(spark, sf_dir).collect()
    assert all(r.batch_id != r.corpus_id for r in found)
    assert all(r.batch_id % 10 == 0 or r.batch_id >= 3_000_000 for r in found)
    assert all(r.corpus_id % 10 != 0 and r.corpus_id < 3_000_000 for r in found)
    planted_hits = {
        r.corpus_id for r in found if r.batch_id == r.corpus_id + 3_000_000
    }
    expected = {
        r.doc_id
        for r in dedup._incremental_sides(spark, sf_dir)[0]
        .filter((F.col("doc_id") < 50) & (F.size(F.split("text", " ")) >= 2))
        .collect()
    }
    # same estimator tolerance as test_minhash_lsh_recovers_injected_pairs
    assert len(expected - planted_hits) <= 2, sorted(expected - planted_hits)


def test_incremental_bucketed_equals_persisted(spark, sf_dir):
    """The stored-bucketed index probe (production 100 TB layout) and
    the session-persisted variant are the same algorithm over the same
    index content — their admission decisions must be row-identical.
    This equivalence is what lets ONE oracle-checked certificate
    (`dedup_minhash_incremental_recall`, pointed at the bucketed path)
    cover both variants."""
    bucketed = sorted(
        map(tuple, dedup.dedup_minhash_incremental_bucketed(spark, sf_dir).collect())
    )
    persisted = sorted(
        map(tuple, dedup.dedup_minhash_incremental(spark, sf_dir).collect())
    )
    assert bucketed == persisted
    assert len(bucketed) > 0


def test_bucketed_specs_rebuild_cascades_to_derived(spark):
    """ADVICE r11 (storage.py): when an earlier spec in an
    ensure_bucketed_specs list is rebuilt (its backing files vanished),
    every LATER spec in the same call must rebuild too — later specs
    derive from earlier ones, so serving an old derived table against
    a fresh base is only correct by an unstated determinism
    assumption. The cascade makes it correct by construction."""
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.sources.storage import (
        WAREHOUSE,
        ensure_bucketed_specs,
    )

    tag = uuid.uuid4().hex[:8]
    base_tbl, derived_tbl = f"test_casc_base_{tag}", f"test_casc_derived_{tag}"
    state = {"v": 1}

    def build_base():
        return spark.range(20).select(
            F.col("id").alias("k"), F.lit(state["v"]).alias("v")
        )

    def build_derived():
        return spark.table(base_tbl).groupBy("v").agg(F.count("*").alias("n"))

    specs = ((base_tbl, ("k",), build_base), (derived_tbl, ("v",), build_derived))
    try:
        ensure_bucketed_specs(spark, specs)
        assert [r.v for r in spark.table(derived_tbl).collect()] == [1]
        # base's files vanish; builders now produce v=2 content
        state["v"] = 2
        shutil.rmtree(os.path.join(WAREHOUSE, base_tbl), ignore_errors=True)
        ensure_bucketed_specs(spark, specs)
        assert [r.v for r in spark.table(base_tbl).select("v").distinct().collect()] == [2]
        assert [r.v for r in spark.table(derived_tbl).collect()] == [2], (
            "derived spec served stale content after its base was rebuilt"
        )
    finally:
        for tbl in (base_tbl, derived_tbl):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            shutil.rmtree(os.path.join(WAREHOUSE, tbl), ignore_errors=True)


def test_semdedup_apply_accounting_and_certificate(spark, sf_dir):
    """semdedup_apply (VERDICT r12 #7) accounting identities and the
    drop certificate, checked against the index and the NN scan it
    shares the stored table with: per-list kept+dropped == total,
    totals sum to the corpus, every list with drops carries a witness
    cosine >= SEMDEDUP_TAU (and NULL otherwise), and the fixture
    actually exercises the drop path at every SF (SEMDEDUP_TAU sits
    below the fixture NN-cos tail by construction).
    The value-level survivor selection is the oracle's job
    (test_differential); this pins the invariants a refactor is most
    likely to break silently."""
    rows = similarity.semdedup_apply(spark, sf_dir).collect()
    corpus_n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == corpus_n
    for r in rows:
        assert r.n_kept + r.n_dropped == r.n_vectors
        if r.n_dropped:
            assert r.min_drop_cos >= similarity.SEMDEDUP_TAU
        else:
            assert r.min_drop_cos is None
    assert sum(r.n_dropped for r in rows) > 0, (
        "fixture must exercise the drop path (threshold sits below the "
        "fixture NN-cos tail by construction)"
    )


def test_streaming_minhash_multibatch_equals_batch():
    """Multi-batch certificate for streaming_minhash_dedup
    (scripts/streaming_minhash_probe.py at test scale): admission
    decisions must be identical whether the SHUFFLED-id,
    arrival-ordered stream arrives as one micro-batch or one file per
    trigger — the split-invariance bought by first-seen-wins admission
    plus appending every SEEN fingerprint to the index — every planted
    re-submission (which carries a SMALLER id than its original, the
    case the retired lower-id rule fails) must be rejected, and no
    original may be rejected on account of its own re-submission."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "scripts", "streaming_minhash_probe.py"),
            "2000",
            "4",
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-1500:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["files"] > 1
    assert res["split_invariant"], res
    assert res["planted"] > 0 and res["planted_recall"] >= 0.9, res
    assert res["originals_rejected"] == 0, res


def test_classifier_auc_equals_bruteforce_pair_count(spark, sf_dir):
    """The distributed midrank AUC must equal the O(n_pos*n_neg)
    pair-count definition — AUC = (#(m_pos > m_neg) + 0.5*#(m_pos ==
    m_neg)) / (n_pos*n_neg) — computed here directly from the
    classifier's own margins on the small fixture. The doubled-midrank
    prefix-sum form and the pair-count form are algebraically equal
    only when the tie correction is exact, so an off-by-half in the
    midrank (the classic cum<=v vs cum<v slip) fails this test while
    still producing a plausible-looking AUC."""
    import numpy as np

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.mlprep import (
        classifier_auc_eval,
    )
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        _hex4_bucket,
        _tokens,
    )
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.training import (
        _W_SQL,
    )
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    w = F.expr(_W_SQL.format(b=_hex4_bucket("token", 64)))
    margins = (
        docs.select("doc_id", F.explode(_tokens()).alias("token"))
        .select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(F.sum("w").cast("long").alias("margin"))
    )
    toks = _tokens()
    truth = docs.select(
        "doc_id",
        (F.size(F.array_distinct(toks)) * 100 >= F.size(toks) * 55)
        .cast("int")
        .alias("is_good"),
    )
    pdf = margins.join(truth, "doc_id").toPandas()
    pos = np.sort(pdf.loc[pdf.is_good == 1, "margin"].to_numpy())
    neg = np.sort(pdf.loc[pdf.is_good == 0, "margin"].to_numpy())
    # counting via searchsorted on the sorted negative margins:
    # #(neg < m) summed over positives, plus half the exact ties
    wins = np.searchsorted(neg, pos, side="left").sum()
    ties = (
        np.searchsorted(neg, pos, side="right") - np.searchsorted(neg, pos, side="left")
    ).sum()
    expected = (wins + 0.5 * ties) / (len(pos) * len(neg))

    row = classifier_auc_eval(spark, sf_dir).collect()[0]
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    assert row.auc == round(expected, 4), (row.auc, expected)
    assert row.gini == round(2 * expected - 1, 4), (row.gini, expected)


def test_auc_by_source_equals_pergroup_bruteforce(spark, sf_dir):
    """VERDICT r13 #7: the per-source AUC must equal the O(n²)
    pair-count Mann-Whitney definition computed independently WITHIN
    each source, and a single-class source must yield the defined NULL
    (not a crash, not a fabricated number)."""
    import numpy as np

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import load_table
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.mlprep import (
        classifier_auc_by_source,
    )
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        _hex4_bucket,
        _tokens,
    )
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.training import (
        _W_SQL,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    w = F.expr(_W_SQL.format(b=_hex4_bucket("token", 64)))
    margins = (
        docs.select("doc_id", F.explode(_tokens()).alias("token"))
        .select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(F.sum("w").cast("long").alias("margin"))
    )
    toks = _tokens()
    truth = docs.select(
        "doc_id",
        "source",
        (F.size(F.array_distinct(toks)) * 100 >= F.size(toks) * 55)
        .cast("int")
        .alias("is_good"),
    )
    pdf = margins.join(truth, "doc_id").toPandas()
    got = {r.source: r for r in classifier_auc_by_source(spark, sf_dir).collect()}
    assert set(got) == set(pdf.source.unique())
    for source, grp in pdf.groupby("source"):
        pos = np.sort(grp.loc[grp.is_good == 1, "margin"].to_numpy())
        neg = np.sort(grp.loc[grp.is_good == 0, "margin"].to_numpy())
        row = got[source]
        assert row.n_pos == len(pos) and row.n_neg == len(neg), source
        if len(pos) == 0 or len(neg) == 0:
            assert row.auc is None and row.gini is None, source
            continue
        wins = np.searchsorted(neg, pos, side="left").sum()
        ties = (
            np.searchsorted(neg, pos, side="right")
            - np.searchsorted(neg, pos, side="left")
        ).sum()
        expected = (wins + 0.5 * ties) / (len(pos) * len(neg))
        assert row.auc == round(expected, 4), (source, row.auc, expected)
        assert row.gini == round(2 * expected - 1, 4), (source, row.gini)


def test_semdedup_boundary_certificate_and_multiprobe_dominance(spark, sf_dir):
    """VERDICT r13 #3: the boundary-miss certificate must be
    non-vacuous (true pairs exist at the fixture τ — a 0/0 certificate
    proves nothing), top-2 visibility must strictly recover boundary
    pairs the primary-only decision misses, and the multiprobe drop
    set must DOMINATE the base per primary list (every base drop pair
    shares primary lists, which both sides' top-2 sets contain — so
    multiprobe can only drop more, never fewer)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.similarity import (
        semdedup_apply,
        semdedup_apply_multiprobe,
        semdedup_boundary_miss,
    )

    cert = semdedup_boundary_miss(spark, sf_dir).collect()[0]
    assert cert.n_true_pairs > 0, "certificate is vacuous at this fixture/τ"
    assert cert.n_visible_primary <= cert.n_visible_top2 <= cert.n_true_pairs
    assert cert.n_visible_top2 > cert.n_visible_primary, (
        "top-2 membership recovered no boundary pairs — fixture lost its "
        "cross-list near-dups or the soft assignment broke"
    )
    assert cert.miss_rate_top2 < cert.miss_rate_primary

    base = {r.list_id: r for r in semdedup_apply(spark, sf_dir).collect()}
    multi = {r.list_id: r for r in semdedup_apply_multiprobe(spark, sf_dir).collect()}
    assert set(base) == set(multi)  # same primary lists, same totals
    for lid in base:
        assert base[lid].n_vectors == multi[lid].n_vectors, lid
        assert multi[lid].n_dropped >= base[lid].n_dropped, lid
    assert sum(m.n_dropped for m in multi.values()) > sum(
        b.n_dropped for b in base.values()
    )


def test_global_rank_refuses_reuse_breaking_inputs(spark):
    """global_rank's offsets branch is consistent with its data branch
    only via range-exchange reuse; over cached (InMemoryRelation) or
    localCheckpointed/parallelized (LogicalRDD) inputs AQE does not
    reuse, each physical exchange resamples boundaries under its own
    RDD-id seed, and the ranks silently stop being a permutation
    (measured round 13: +70 offset drift on a 5000-row cached input,
    which shifted a Spearman rho by 9e-4 — plausible-looking and
    wrong). The guard must refuse these inputs LOUDLY."""
    import pytest
    from pyspark.sql import functions as F

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.core import (
        global_rank,
    )

    df = spark.range(1000).select((F.col("id") % 70).alias("x"))
    cached = df.persist()
    try:
        cached.count()
        with pytest.raises(ValueError, match="persisted"):
            global_rank(cached, ["x"])
        # Round 14 (VERDICT r13 #2): a plan DERIVED from the cached
        # frame reads storageLevel NONE and has no LogicalRDD in its
        # analyzed plan, yet InMemoryRelation is still substituted at
        # physical planning — the guard must catch it via the
        # post-cache-substitution (withCachedData) plan.
        derived = cached.filter(F.col("x") >= 0)
        assert not (derived.storageLevel.useMemory or derived.storageLevel.useDisk)
        with pytest.raises(ValueError, match="InMemoryRelation"):
            global_rank(derived, ["x"])
    finally:
        cached.unpersist()
    lc = df.localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="ExistingRDD"):
        global_rank(lc, ["x"])
    # derived-from-checkpoint keeps the LogicalRDD scan in its analyzed
    # plan, so the existing check must still fire on it
    with pytest.raises(ValueError, match="ExistingRDD"):
        global_rank(lc.select("x"), ["x"])
    # the uncached plan ranks fine and IS a permutation
    ranks = sorted(
        r.rank for r in global_rank(df, ["x"]).select("rank").collect()
    )
    assert ranks == list(range(1, 1001))


def test_spearman_equals_bruteforce_midranks(spark, sf_dir):
    """The distributed min(rank)+max(rank) doubled-midrank Spearman
    must equal pandas' rank(method='average') Pearson-on-ranks — the
    textbook tie-corrected definition — computed from the operator's
    own signals on the small fixture."""
    import numpy as np

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import load_table
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.mlprep import (
        quality_signal_spearman,
    )
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        _hex4_bucket,
        _tokens,
        text_quality_score,
    )
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.training import (
        _W_SQL,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    w = F.expr(_W_SQL.format(b=_hex4_bucket("token", 64)))
    margins = (
        docs.select("doc_id", F.explode(_tokens()).alias("token"))
        .select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(F.sum("w").cast("long").alias("x"))
    )
    score_i = text_quality_score(spark, sf_dir).select(
        "doc_id", F.round(F.col("score") * 10000).cast("long").alias("y")
    )
    pdf = margins.join(score_i, "doc_id").toPandas()
    rx = pdf.x.rank(method="average").to_numpy()
    ry = pdf.y.rank(method="average").to_numpy()
    expected = np.corrcoef(rx, ry)[0, 1]

    row = quality_signal_spearman(spark, sf_dir).collect()[0]
    assert row.n_docs == len(pdf)
    assert row.n_margin_levels == pdf.x.nunique()
    assert row.n_score_levels == pdf.y.nunique()
    assert abs(row.spearman_rho - expected) < 5e-5, (row.spearman_rho, expected)
