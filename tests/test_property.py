"""Property-based differential testing (SURVEY.md §5.2 item 5):
hypothesis draws operator parameters (filter thresholds, bucket
widths, top-k sizes) and the Spark formulation must match DuckDB for
EVERY draw, not just the fixtures pinned in the registry.

Example counts are small (Spark round-trip per example ~0.5 s) but the
parameters cover the interesting boundaries: empty results, full-table
results, k larger than the table.
"""

from __future__ import annotations

import duckdb
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import load_table

from .helpers import compare_frames

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _oracle(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
        )
        con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


@SETTINGS
@given(threshold=st.floats(min_value=-100.0, max_value=5000.0, allow_nan=False))
def test_filter_threshold_matches(spark, sf_dir, threshold):
    got = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice") > threshold)
        .select(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty_sum"),
        )
        .toPandas()
    )
    want = _oracle(
        sf_dir,
        f"""SELECT count(*) AS n, round(sum(l_quantity), 2) AS qty_sum
            FROM lineitem WHERE l_extendedprice > {threshold!r}""",
    )
    assert not compare_frames(got, want)


@SETTINGS
@given(width=st.integers(min_value=1, max_value=500_000))
def test_histogram_width_matches(spark, sf_dir, width):
    got = (
        load_table(spark, sf_dir, "orders")
        .select(F.floor(F.col("o_totalprice") / width).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .toPandas()
    )
    want = _oracle(
        sf_dir,
        f"""SELECT CAST(floor(o_totalprice / {width}) AS BIGINT) AS bin, count(*) AS n
            FROM orders GROUP BY 1""",
    )
    assert not compare_frames(got, want)


@SETTINGS
@given(k=st.integers(min_value=0, max_value=10_000))
def test_topk_size_matches(spark, sf_dir, k):
    got = (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(k)
        .toPandas()
    )
    want = _oracle(
        sf_dir,
        f"""SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT {k}""",
    )
    assert not compare_frames(got, want)


@SETTINGS
@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_money_sum_exact_and_partition_independent(spark, seed):
    """money_sum must equal the exact Decimal sum of 2-decimal inputs
    and be invariant to partitioning (partial-agg merge order) — the
    property that makes the oracle hash deterministic."""
    import decimal

    import numpy as np

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.functions.scalars import (
        money_sum,
    )

    rng = np.random.default_rng(seed)
    cents = rng.integers(-10_000_000, 10_000_000, size=500)
    values = [float(c) / 100.0 for c in cents]
    exact = float(sum(decimal.Decimal(int(c)) for c in cents) / decimal.Decimal(100))

    pdf = [(v,) for v in values]
    results = set()
    for parts in (1, 7, 32):
        df = spark.createDataFrame(pdf, "v double").repartition(parts)
        got = df.agg(money_sum(F.col("v"), scale=100).alias("s")).collect()[0]["s"]
        results.add(got)
    assert results == {exact}, f"{results} != {{{exact}}}"


@given(
    xs=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=20),
    ys=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=20),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_zorder_interleave_is_bijective(spark, xs, ys):
    """The Morton key must deinterleave back to exactly (xq, yq) for
    any quantized pair — a dropped bit or shifted lane silently breaks
    data-skipping locality without failing any aggregate check."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.sources.storage import (
        zorder_value,
    )

    n = min(len(xs), len(ys))
    df = spark.createDataFrame(
        [(x, y) for x, y in zip(xs[:n], ys[:n])], "xq int, yq int"
    )
    rows = df.select("xq", "yq", zorder_value(F.col("xq"), F.col("yq")).alias("z")).collect()

    def deinterleave(z):
        x = y = 0
        for i in range(8):
            x |= ((z >> (2 * i)) & 1) << i
            y |= ((z >> (2 * i + 1)) & 1) << i
        return x, y

    for r in rows:
        assert deinterleave(r.z) == (r.xq, r.yq), (r.xq, r.yq, r.z)


@SETTINGS
@given(k=st.integers(min_value=2, max_value=8))
def test_sentence_dedup_stats_matches_for_any_chunk_width(spark, sf_dir, k):
    """The CCNet line-dedup rollup must match DuckDB for EVERY chunk
    width, not just the registry's SENT_K=4 — k is the 100 TB
    recall/shuffle-volume dial, so the engines must agree across the
    dial's range (including widths where most docs have few chunks)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.dedup import (
        dedup_sentence_stats,
        sentence_stats_oracle,
    )

    got = dedup_sentence_stats(spark, sf_dir, k=k).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        want = con.execute(sentence_stats_oracle(k)).fetchdf()
    finally:
        con.close()
    assert not compare_frames(got, want)


@SETTINGS
@given(k=st.integers(min_value=2, max_value=8))
def test_sentence_dedup_clean_matches_for_any_chunk_width(spark, sf_dir, k):
    """The reconstruct twin of the stats property test: the shipped
    clean query and its shipped oracle template must agree for every
    chunk width, including the order-preserving clean_text rebuild."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.dedup import (
        dedup_sentence_clean,
        sentence_clean_oracle,
    )

    got = dedup_sentence_clean(spark, sf_dir, k=k).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        want = con.execute(sentence_clean_oracle(k)).fetchdf()
    finally:
        con.close()
    assert not compare_frames(got, want)


def _doc_oracle(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


@SETTINGS
@given(w=st.integers(min_value=2, max_value=9))
def test_winnowing_matches_for_any_window(spark, sf_dir, w):
    """The winnow window w is the density/recall dial (kept prints
    ~2/(w+1), MOSS) — the engines must agree across the dial's range,
    including w larger than most docs' shingle count, where the
    ELSE-branch single-print path dominates (VERDICT r7 #5)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.dedup import (
        dedup_winnowing_fingerprints,
        winnowing_oracle,
    )

    got = dedup_winnowing_fingerprints(spark, sf_dir, w=w).toPandas()
    want = _doc_oracle(sf_dir, winnowing_oracle(w))
    assert not compare_frames(got, want)


@SETTINGS
@given(
    k1n=st.integers(min_value=0, max_value=25),
    bn=st.integers(min_value=0, max_value=4),
)
def test_bm25_matches_for_any_k1_b(spark, sf_dir, k1n, bn):
    """BM25's k1 (tf saturation) and b (length normalization) are THE
    relevance-tuning dials; the integer cross-multiplication must keep
    both engines bit-identical across the whole range — k1 = k1n/10 in
    [0, 2.5] (0 = pure-idf binary model), b = bn/4 in [0, 1]
    (0 = no length normalization, 1 = full)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        bm25_keyword_topk,
        bm25_oracle,
    )

    got = bm25_keyword_topk(spark, sf_dir, k1n=k1n, k1d=10, bn=bn, bd=4).toPandas()
    want = _doc_oracle(sf_dir, bm25_oracle(k1n=k1n, k1d=10, bn=bn, bd=4))
    assert not compare_frames(got, want)


@SETTINGS
@given(horizon=st.integers(min_value=1, max_value=24))
def test_ewma_matches_for_any_horizon(spark, sf_dir, horizon):
    """The EWMA trailing horizon bounds the banded self-join fan-in
    (state-per-row dial); the bit-shifted integer weights must agree
    for every horizon, including horizon=1 (EWMA degenerates to the
    raw price) and horizons past most customers' order counts."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.analytics import (
        ewma_customer_orders,
        ewma_oracle,
    )

    got = ewma_customer_orders(spark, sf_dir, horizon=horizon).toPandas()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'")
        want = con.execute(ewma_oracle(horizon)).fetchdf()
    finally:
        con.close()
    assert not compare_frames(got, want)


@SETTINGS
@given(
    window=st.integers(min_value=1, max_value=80),
    stride=st.integers(min_value=1, max_value=80),
)
def test_chunking_matches_for_any_window_stride(spark, sf_dir, window, stride):
    """The RAG chunking dials: overlap (stride < window), exact tiling
    (stride = window) and gapped sampling (stride > window) must all
    agree with DuckDB — the chunk-boundary arithmetic (floor division,
    1-based slice, trailing-partial least()) is where the off-by-ones
    live, and windows past every doc's length exercise the single-chunk
    path."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        chunk_documents,
        chunk_documents_oracle,
    )

    got = chunk_documents(spark, sf_dir, window=window, stride=stride).toPandas()
    want = _doc_oracle(sf_dir, chunk_documents_oracle(window=window, stride=stride))
    assert not compare_frames(got, want)


@SETTINGS
@given(buckets=st.sampled_from([4, 16, 64, 128, 256, 1024]))
def test_dsir_matches_for_any_sketch_width(spark, sf_dir, buckets):
    """The DSIR hashed-feature bucket count is the memory/selectivity
    dial (collisions blur the target/raw contrast as the sketch
    shrinks); the integer micro-nat scores must stay engine-exact at
    every width, including collision-dominated tiny sketches."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.training import (
        dsir_importance_weights,
        dsir_oracle,
    )

    got = dsir_importance_weights(spark, sf_dir, buckets=buckets).toPandas()
    want = _doc_oracle(sf_dir, dsir_oracle(buckets))
    assert not compare_frames(got, want)


@SETTINGS
@given(match_len=st.integers(min_value=2, max_value=20))
def test_substring_dedup_matches_for_any_match_len(spark, sf_dir, match_len):
    """The exact-substring match length is Lee et al. 2022's one dial
    (their production value is 50 tokens): shorter lengths sweep in
    natural within-doc repeats, longer ones exceed most docs' token
    counts and exercise the size(T) >= L gate. The island-merge
    arithmetic (new island iff pos > prev + L) must agree with DuckDB
    for every L, since that is where the off-by-ones live."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.dedup import (
        dedup_substring_exact,
        substring_exact_oracle,
    )

    got = dedup_substring_exact(spark, sf_dir, match_len=match_len).toPandas()
    want = _doc_oracle(sf_dir, substring_exact_oracle(match_len))
    assert not compare_frames(got, want)


@SETTINGS
@given(min_shared=st.integers(min_value=1, max_value=8))
def test_decontamination_matches_for_any_threshold(spark, sf_dir, min_shared):
    """The quarantine threshold is decontamination's precision/recall
    dial: min_shared=1 fires on any single shared winnowed print,
    large values demand long contiguous benchmark overlap. Both
    engines must agree across the dial, including thresholds past the
    planted leaks' print counts (VERDICT r8 #6)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.dedup import (
        decon_winnowing_oracle,
        decontaminate_winnowing,
    )

    got = decontaminate_winnowing(spark, sf_dir, min_shared=min_shared).toPandas()
    want = _doc_oracle(sf_dir, decon_winnowing_oracle(min_shared))
    assert not compare_frames(got, want)


def _emb_oracle(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
        )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


@SETTINGS
@given(n_probe=st.integers(min_value=1, max_value=8))
def test_ivf_matches_for_any_probe_count(spark, sf_dir, n_probe):
    """n_probe is THE recall/cost dial of every IVF index; at
    n_probe = N_CENTROIDS the probed scan degenerates to exact brute
    force, at 1 only the nearest list is read. The probe ranking's
    explicit tiebreaks must keep both engines identical across the
    whole range (VERDICT r8 #6)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.similarity import (
        ivf_ann_oracle,
        ivf_ann_topk,
    )

    got = ivf_ann_topk(spark, sf_dir, n_probe=n_probe).toPandas()
    want = _emb_oracle(sf_dir, ivf_ann_oracle(n_probe))
    assert not compare_frames(got, want)


@SETTINGS
@given(n_probe=st.integers(min_value=1, max_value=8))
def test_ivfpq_matches_for_any_probe_count(spark, sf_dir, n_probe):
    """The IVF-PQ composition shares the coarse quantizer's probe
    dial; ADC scoring + exact re-rank must stay engine-identical for
    every probe width, not just the registry's N_PROBE (VERDICT r8 #6)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.similarity import (
        ivfpq_ann_oracle,
        ivfpq_ann_topk_bucketed,
    )

    got = ivfpq_ann_topk_bucketed(spark, sf_dir, n_probe=n_probe).toPandas()
    want = _emb_oracle(sf_dir, ivfpq_ann_oracle(n_probe))
    assert not compare_frames(got, want)


@SETTINGS
@given(
    min_words=st.integers(min_value=0, max_value=120),
    min_stopwords=st.integers(min_value=0, max_value=4),
)
def test_gopher_quality_matches_for_any_thresholds(
    spark, sf_dir, min_words, min_stopwords
):
    """The Gopher quality panel's word-count floor and stopword
    minimum are the two dials real pipelines retune per corpus; the
    exact-integer pass flags must agree with DuckDB across the range,
    including min_words past every fixture doc (all-fail) and
    min_stopwords=0 (all-pass) — the boundaries where CASE/boolean
    coercion off-by-ones would hide."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        gopher_quality_oracle,
        gopher_quality_signals,
    )

    got = gopher_quality_signals(
        spark, sf_dir, min_words=min_words, min_stopwords=min_stopwords
    ).toPandas()
    want = _doc_oracle(
        sf_dir, gopher_quality_oracle(min_words=min_words, min_stopwords=min_stopwords)
    )
    assert not compare_frames(got, want)


@SETTINGS
@given(
    budget_mult=st.integers(min_value=1, max_value=12),
    cap_bp=st.sampled_from([5_000, 10_000, 20_000, 40_000, 80_000]),
)
def test_budget_repeats_matches_for_any_budget_and_cap(
    spark, sf_dir, budget_mult, cap_bp
):
    """Muennighoff-style repeat allocation's two dials: the budget
    multiplier (how far past the unique corpus the budget reaches)
    and the epoch cap. Integer shares/caps must agree with DuckDB
    across the range, including budget_mult=1 (nothing repeats) and
    caps below 10000 bp (every source under-serves)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.training import (
        data_budget_repeats,
        data_budget_repeats_oracle,
    )

    got = data_budget_repeats(
        spark, sf_dir, budget_mult=budget_mult, max_repeat_bp=cap_bp
    ).toPandas()
    want = _doc_oracle(sf_dir, data_budget_repeats_oracle(budget_mult, cap_bp))
    assert not compare_frames(got, want)


@SETTINGS
@given(n_buckets=st.integers(min_value=1, max_value=12))
def test_ccnet_buckets_match_for_any_width(spark, sf_dir, n_buckets):
    """CCNet's canonical tercile split generalizes to any bucket
    count; the tie-broken ntile must agree with DuckDB for every
    width, including n=1 (everything head) and widths past the
    smallest source's doc count (ntile's uneven-remainder rule is
    where engines could diverge)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        ccnet_buckets_oracle,
        ccnet_perplexity_buckets,
    )

    got = ccnet_perplexity_buckets(spark, sf_dir, n_buckets=n_buckets).toPandas()
    want = _doc_oracle(sf_dir, ccnet_buckets_oracle(n_buckets))
    assert not compare_frames(got, want)


@SETTINGS
@given(n_merges=st.integers(min_value=1, max_value=5))
def test_bpe_merges_match_for_any_round_count(spark, sf_dir, n_merges):
    """The BPE training loop's only dial is how many merge rounds to
    unroll; the greedy left-to-right application (doubled-space
    replace) and the (count desc, pair asc) selection must agree with
    DuckDB's identically-unrolled CTE chain at every depth — each
    extra round compounds any application off-by-one, so depth 5
    exercises 4 chained apply/recount steps."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        _bpe_oracle,
        bpe_train_merges,
    )

    got = bpe_train_merges(spark, sf_dir, n_merges=n_merges).toPandas()
    want = _doc_oracle(sf_dir, _bpe_oracle(n_merges))
    assert not compare_frames(got, want)
    # published-algorithm invariant: selected counts never increase
    # (a merge can only shrink or preserve any other pair's count)
    ns = got.sort_values("merge_rank")["n"].tolist()
    assert all(a >= b for a, b in zip(ns, ns[1:])), ns


@SETTINGS
@given(n_merges=st.integers(min_value=1, max_value=4))
def test_bpe_encode_matches_for_any_merge_count(spark, sf_dir, n_merges):
    """Tokenizer application must agree with DuckDB at every merge
    depth — the encode fold reuses training's greedy apply, so any
    train/apply asymmetry (a span that trains one way and encodes
    another) shows up as a per-doc token-count mismatch. Also pins the
    compression invariant: encoding never grows a document."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        _bpe_encode_oracle,
        bpe_encode_corpus,
    )

    got = bpe_encode_corpus(spark, sf_dir, n_merges=n_merges).toPandas()
    want = _doc_oracle(sf_dir, _bpe_encode_oracle(n_merges))
    assert not compare_frames(got, want)
    assert (got["n_tokens_bpe"] <= got["n_tokens_raw"]).all()
    assert (got["saved_bp"] >= 0).all()


@SETTINGS
@given(n_merges=st.integers(min_value=1, max_value=4))
def test_bpe_batched_k1_degenerates_to_sequential(spark, sf_dir, n_merges):
    """batch_k=1 removes the batching entirely — selection is the
    plain top-1 each round — so the batched trainer must reproduce
    bpe_train_merges row-for-row at every depth. This is the
    unconditional half of the batched==sequential equivalence (the
    conditional half, disjoint batches, is pinned below)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        bpe_train_merges,
        bpe_train_merges_batched,
    )

    seq = bpe_train_merges(spark, sf_dir, n_merges=n_merges).toPandas()
    bat = bpe_train_merges_batched(
        spark, sf_dir, n_merges=n_merges, batch_k=1
    ).toPandas()
    assert not compare_frames(bat, seq)


def test_bpe_batched_equals_sequential_when_disjoint(spark):
    """Token-disjoint merges commute, and when no pair spawned by an
    earlier batch-mate out-ranks a later one the batched trainer must
    equal the sequential one exactly. Corpus: three well-separated
    disjoint pairs (counts 10 > 8 > 6, each doc is just the pair, so
    merging creates no new adjacencies at all) — sequential picks them
    one per round, batched(k=3) in a single round; the merge tables
    must be identical."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        _bpe_merge_rounds,
        _bpe_merge_rounds_batched,
    )

    rows = [("a b",)] * 10 + [("c d",)] * 8 + [("e f",)] * 6
    docs = spark.createDataFrame(rows, ["text"])
    seq = {
        r.merge_rank: (r.pair, r.n) for r in _bpe_merge_rounds(docs, 3).collect()
    }
    bat = {
        r.merge_rank: (r.pair, r.n)
        for r in _bpe_merge_rounds_batched(docs, 3, batch_k=3).collect()
    }
    assert seq == bat == {1: ("a b", 10), 2: ("c d", 8), 3: ("e f", 6)}


def test_bpe_batched_skips_interacting_candidate(spark):
    """The batch selection rule: a candidate sharing a token with a
    higher-ranked selected pair must be SKIPPED (it waits for a later
    round — merging its neighbour changes its occurrences). Corpus
    counts: ('a b', 5) > ('b c', 4) > ('d e', 3); 'b c' conflicts with
    'a b' on 'b', so batched(k=2) selects ('a b', 'd e') in round 1 —
    and 'b c' surfaces in round 2 once 'a b' no longer interacts."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        _bpe_merge_rounds_batched,
    )

    rows = [("a b",)] * 5 + [("b c",)] * 4 + [("d e",)] * 3
    docs = spark.createDataFrame(rows, ["text"])
    got = {
        r.merge_rank: (r.pair, r.n)
        for r in _bpe_merge_rounds_batched(docs, 3, batch_k=2).collect()
    }
    assert got == {1: ("a b", 5), 2: ("d e", 3), 3: ("b c", 4)}


def test_bpe_adaptive_paths_and_equality(spark):
    """The adaptive trainer (VERDICT r12 #5) must (a) equal the
    sequential trainer on an interacting corpus, also when its
    stateful phase folds signed deltas, and (b) actually take ALL
    THREE round shapes under engineered thresholds on a corpus built
    for it — the stats hook records which path each applied round
    took, so a policy inversion fails loudly rather than degenerating
    into always-one-mode."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        _bpe_merge_rounds,
        _bpe_merge_rounds_adaptive,
    )

    # (a) exact equality where merges interact. Corpus 'a b c' x7 +
    # 'b c' x3: round 1 merges 'b c' (count 10), which DESTROYS all 7
    # 'a b' adjacencies and SPAWNS 'a b+c' x7, which wins round 2; the
    # corpus is then fully merged, so both trainers stop at rank 2.
    rows = [("a b c",)] * 7 + [("b c",)] * 3
    docs = spark.createDataFrame(rows, ["text"])
    seq = sorted(map(tuple, _bpe_merge_rounds(docs, 3).collect()))
    adp = sorted(map(tuple, _bpe_merge_rounds_adaptive(docs, 3).collect()))
    assert adp == seq == [(1, "b c", 10), (2, "a b+c", 7)]
    # the same corpus with the stateful phase opened at round 2 and no
    # recount escape: the spawned winner is applied by a signed-delta fold
    stats: list = []
    adp = sorted(
        map(
            tuple,
            _bpe_merge_rounds_adaptive(
                docs, 3, delta_frac=10.0, recount_frac=10.0, stats=stats
            ).collect(),
        )
    )
    assert adp == seq
    assert "delta" in [s["path"] for s in stats]

    # (b) corpus: 'x y' in 8/10 docs, 'p q' in 2/10.
    rows = [("x y",)] * 8 + [("p q",)] * 2
    docs = spark.createDataFrame(rows, ["text"])

    # default fracs (delta_frac 0.1 -> threshold 1 occurrence): both
    # winners stay above it -> the whole run is lazy, no state built
    stats = []
    got = {
        r.merge_rank: (r.pair, r.n)
        for r in _bpe_merge_rounds_adaptive(docs, 3, stats=stats).collect()
    }
    assert got == {1: ("x y", 8), 2: ("p q", 2)}
    assert [s["path"] for s in stats] == ["lazy", "lazy"]

    # delta_frac 10 (threshold 100): the switch is one-round-delayed
    # (decided on the PREVIOUS winner's weight), so round 1 is always
    # lazy, round 2 opens the stateful phase and folds as delta
    stats = []
    got = {
        r.merge_rank: (r.pair, r.n)
        for r in _bpe_merge_rounds_adaptive(
            docs, 3, delta_frac=10.0, stats=stats
        ).collect()
    }
    assert got == {1: ("x y", 8), 2: ("p q", 2)}
    assert [s["path"] for s in stats] == ["lazy", "delta"]

    # recount escape: equal-count pairs ('p q' wins rank 1 on the
    # asc tiebreak), so round 2's winner 'x y' is HEAVY (8 >= 0.5 x
    # 16 docs) inside the stateful phase -> recount, not delta
    rows = [("x y",)] * 8 + [("p q",)] * 8
    docs = spark.createDataFrame(rows, ["text"])
    stats = []
    got = {
        r.merge_rank: (r.pair, r.n)
        for r in _bpe_merge_rounds_adaptive(
            docs, 3, delta_frac=10.0, recount_frac=0.5, stats=stats
        ).collect()
    }
    assert got == {1: ("p q", 8), 2: ("x y", 8)}
    assert [s["path"] for s in stats] == ["lazy", "recount"]


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=6).map(
            " ".join
        ),
        min_size=1,
        max_size=10,
    ),
    delta_frac=st.sampled_from([0.0, 0.3, 0.7, 10.0]),
    recount_frac=st.sampled_from([0.0, 0.5, 10.0]),
)
@example(docs=["a b c"] * 7 + ["b c"] * 3, delta_frac=10.0, recount_frac=10.0)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_bpe_adaptive_equals_sequential_any_threshold(
    spark, docs, delta_frac, recount_frac
):
    """VERDICT r12 #5 property: the adaptive trainer's merge table is
    threshold-INVARIANT — for any (delta_frac, recount_frac) pair
    (never-switch at 0.0, immediate-switch at 10.0, always-recount /
    always-delta inside the stateful phase, mixed between) it equals
    the sequential trainer on arbitrary micro corpora, because every
    round shape selects from exact corpus-wide counts and the policy
    only chooses who pays for the next round, never what it
    computes."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators.text import (
        _bpe_merge_rounds,
        _bpe_merge_rounds_adaptive,
    )

    frame = spark.createDataFrame([(d,) for d in docs], ["text"])
    seq = sorted(map(tuple, _bpe_merge_rounds(frame, 3).collect()))
    adp = sorted(
        map(
            tuple,
            _bpe_merge_rounds_adaptive(
                frame, 3, delta_frac=delta_frac, recount_frac=recount_frac
            ).collect(),
        )
    )
    assert adp == seq
