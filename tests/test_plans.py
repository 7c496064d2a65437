"""Plan-shape assertions (SURVEY.md §4, 'the plan is the plan we
want'): pushdown, pruning, broadcast choice, and shuffle budget are
tested facts, not hopes. These run against sf0.001 — plan shape is
scale-independent for these queries (AQE may coalesce partitions but
does not add exchanges)."""

import os
import shutil

from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import core, joins
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.plans import explain
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.sources import storage


def test_flagship_filter_pushed_and_pruned(spark, sf_dir):
    df = core.flagship_lazy_pipeline(spark, sf_dir)
    assert explain.has_pushed_filter(df, "l_extendedprice"), "filter must reach the scan"
    cols = explain.scan_columns(df)
    assert set(cols) == {"l_returnflag", "l_quantity", "l_extendedprice"}, (
        f"scan must be pruned to the 3 referenced columns, got {cols}"
    )


def test_flagship_single_shuffle(spark, sf_dir):
    # one hash-partitioning exchange for the groupBy; the final orderBy
    # on 3 rows adds a range exchange — budget is 2, not more
    df = core.flagship_lazy_pipeline(spark, sf_dir)
    assert explain.shuffle_count(df) <= 2


def test_filter_scan_is_narrow(spark, sf_dir):
    df = core.filter_numeric_gt(spark, sf_dir)
    assert explain.has_pushed_filter(df, "l_extendedprice")
    assert explain.shuffle_count(df) == 0, "a pure filter+project must not shuffle"


def test_q3_broadcasts_customer(spark, sf_dir):
    df = joins.q3_shipping_priority(spark, sf_dir)
    assert explain.uses_broadcast_join(df), "dimension side must broadcast"


def test_q5_bounded_shuffles(spark, sf_dir):
    # all four dims broadcast; only orders x lineitem + final agg shuffle
    df = joins.q5_revenue_by_nation(spark, sf_dir)
    assert explain.uses_broadcast_join(df)
    assert explain.shuffle_count(df) <= 4


def _assert_distributed_rank_plan(df, data_cols):
    text = explain.plan_text(df)
    assert "rangepartitioning" in text, "rank must shuffle via Exchange rangepartitioning"
    # No Window over the data: the local rank comes from the
    # per-partition record counter, so any Window in the plan is the
    # offsets cumsum over partition counts — it must never mention the
    # data sort columns.
    for line in text.splitlines():
        if "windowspecdefinition" in line:
            assert not any(c in line for c in data_cols), (
                f"data-side window detected (single-partition sort risk): {line}"
            )
    # Any SinglePartition exchange may only move aggregated partition
    # metadata (an Aggregate below it), never data rows.
    for sub in explain.single_partition_subtrees(df):
        assert "HashAggregate" in sub or "SortAggregate" in sub, (
            f"SinglePartition exchange over non-aggregated input:\n{sub}"
        )


def test_global_rank_is_range_partitioned_not_single_partition(spark, sf_dir):
    # the distributed rank must range-partition on the sort key with
    # per-partition local sorts — never Spark's single-partition
    # global-order window (one task sorting the whole table)
    _assert_distributed_rank_plan(core.sort_asc_rank(spark, sf_dir), ["o_totalprice"])
    _assert_distributed_rank_plan(core.sort_desc_rank(spark, sf_dir), ["c_acctbal"])


def test_global_rank_reuses_range_exchange(spark, sf_dir):
    # both consumers (data branch + offsets branch) must read ONE
    # shuffle: after execution the adaptive final plan shows the second
    # consumer as a ReusedExchange of the range exchange — the
    # determinism guarantee (same shuffle output => same partition ids)
    df = core.sort_asc_rank(spark, sf_dir)
    df.collect()
    text = explain.plan_text(df, "simple")
    assert "isFinalPlan=true" in text
    assert "ReusedExchange" in text, "range exchange must be computed once and reused"


def test_ntile_quartiles_no_single_partition(spark, sf_dir):
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import analytics

    _assert_distributed_rank_plan(
        analytics.ntile_balance_quartiles(spark, sf_dir), ["c_acctbal"]
    )


def test_quality_percentile_no_single_partition(spark, sf_dir):
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import text

    # corpus-wide percentile must ride the distributed global_rank —
    # a percent_rank() window with no partitionBy would move the whole
    # corpus through one task
    _assert_distributed_rank_plan(
        text.quality_percentile_rank(spark, sf_dir), ["score"]
    )


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    df = core.topk_orders(spark, sf_dir)
    assert "TakeOrderedAndProject" in explain.plan_text(df), (
        "orderBy().limit(k) must fuse into TakeOrderedAndProject (O(k) memory)"
    )


def test_groupby_minby_single_shuffle(spark, sf_dir):
    df = core.groupby_first_minby(spark, sf_dir)
    assert explain.shuffle_count(df) == 1, "min_by group-first is one hash agg exchange"


def test_groupby_mean_partial_agg(spark, sf_dir):
    # partial_avg before the exchange proves map-side combine
    text = explain.plan_text(core.groupby_mean(spark, sf_dir))
    assert "partial_avg" in text or "partial" in text.lower()


def test_q6_all_predicates_pushed(spark, sf_dir):
    # every Q6 predicate (date range, discount band, quantity bound)
    # must reach the parquet scan as a PushedFilter
    text = explain.plan_text(joins.q6_forecast_revenue(spark, sf_dir))
    pushed = [line for line in text.splitlines() if "PushedFilters" in line]
    assert pushed, "no PushedFilters line in plan"
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed[0], f"{col} predicate not pushed to scan"


def test_sql_api_same_plan_as_dataframe(spark, sf_dir):
    # spark.sql and the combinator chain must produce the same physical
    # plan shape (same operator sequence; ids differ)
    import re

    def shape(df):
        return [
            re.sub(r"\(\d+\)\s*", "", line.strip())
            for line in explain.plan_text(df).splitlines()
            if line.strip().startswith("+-") or line.strip().startswith("(")
        ][:8]

    a = core.flagship_lazy_pipeline(spark, sf_dir)
    b = core.sql_api_flagship(spark, sf_dir)
    assert explain.shuffle_count(a) == explain.shuffle_count(b)
    assert ("HashAggregate" in explain.plan_text(a)) == (
        "HashAggregate" in explain.plan_text(b)
    )


def test_bucketed_join_skips_join_shuffle(spark, sf_dir):
    # both sides bucketed by the join key -> the only Exchange is the
    # final 1-column groupBy; the SortMergeJoin itself reads co-located
    # buckets with no exchange and no sort
    df = storage.bucketed_join_revenue(spark, sf_dir)
    assert "SortMergeJoin" in explain.plan_text(df)
    assert explain.shuffle_count(df) <= 1, "bucketed join must not shuffle the join inputs"


def test_partitioned_scan_prunes(spark, sf_dir):
    df = storage.partition_pruned_scan(spark, sf_dir)
    text = explain.plan_text(df)
    assert "PartitionFilters" in text and "o_orderpriority" in text.split("PartitionFilters", 1)[1].split("]")[0], (
        "filter on the partition column must become a PartitionFilter (directory pruning)"
    )


def test_dpp_join_injects_runtime_partition_filter(spark, sf_dir):
    # the partition filter comes from the joined dimension at run time:
    # the fact scan must carry a dynamicpruning expression in its
    # PartitionFilters instead of a literal priority list
    df = storage.dpp_join_pruned_scan(spark, sf_dir)
    text = explain.plan_text(df)
    assert "dynamicpruning" in text.lower(), (
        "join-driven partition filter must appear as dynamic pruning in the scan"
    )


def test_cache_serves_second_query_from_memory(spark, sf_dir):
    # interactive-analytics pattern: cache once, every subsequent plan
    # over the same frame must read InMemoryTableScan, not the parquet
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import load_table

    df = load_table(spark, sf_dir, "supplier").cache()
    try:
        df.count()  # materialize the cache
        second = df.groupBy("s_nationkey").count()
        text = explain.plan_text(second)
        assert "InMemoryTableScan" in text, "cached input must serve follow-up queries"
        assert "FileScan" not in text.split("InMemoryTableScan")[0], (
            "the aggregate must sit on the cache, not rescan parquet"
        )
    finally:
        df.unpersist()


def test_aqe_coalesces_post_shuffle_partitions(spark, sf_dir):
    # the 100 TB posture leans on AQE re-planning; prove it's live:
    # after execution the adaptive plan must show a coalesced
    # AQEShuffleRead (tiny fixture shuffle -> far fewer partitions
    # than spark.sql.shuffle.partitions)
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import load_table
    from pyspark.sql import functions as F

    df = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, (
        "adaptive execution must coalesce the post-shuffle partitions"
    )


def test_dedup_embedding_cosine_no_all_pairs_join(spark, sf_dir):
    # the registered embedding near-dup must be the LSH-candidate
    # pipeline: every join an equi-join (hash/sort-merge), never the
    # O(n^2) cartesian / broadcast-nested-loop pair product
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import dedup

    text = explain.plan_text(dedup.dedup_embedding_cosine(spark, sf_dir))
    assert "CartesianProduct" not in text, "all-pairs cartesian join is a 100 TB killer"
    assert "BroadcastNestedLoopJoin" not in text, (
        "non-equi pair join (vec_id < vec_id alone) is the all-pairs product"
    )


def test_jaccard_caps_shingle_document_frequency(spark, sf_dir, monkeypatch):
    # the shingle self-join must be preceded by the hot-shingle
    # anti-join (document-frequency cap) — without it one stop-phrase
    # shingle shared by k docs yields k^2 candidate rows at scale. The
    # self-joined postings are an index leaf (dedup._index), so the cap
    # is in the plan of the frame that index is built from.
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import dedup

    builds = []
    index = dedup._index

    def spy(spark, name, build, *params, **kwargs):
        builds.append(build)
        return index(spark, name, build, *params, **kwargs)

    monkeypatch.setattr(dedup, "_index", spy)
    dedup.dedup_ngram_jaccard(spark, sf_dir)
    (build,) = builds
    text = explain.plan_text(build())
    assert "LeftAnti" in text, "hot-shingle document-frequency cap must gate the join"


def test_contamination_broadcasts_benchmark_shingles(spark, sf_dir):
    # the benchmark shingle vocabulary is the small side by
    # construction (evals are MBs, corpora TBs): it must broadcast so
    # the corpus-side scan never shuffles its shingles for the join
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import text

    df = text.contamination_ngram_overlap(spark, sf_dir)
    assert explain.uses_broadcast_join(df), "benchmark shingle set must broadcast"


def test_bpe_pair_counts_no_self_join(spark, sf_dir):
    # pairs are built per-row with a transform, so the plan must have
    # no join at all and the top-k must be TakeOrdered (distributed),
    # never a global-order window
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import text

    t = explain.plan_text(text.bpe_pair_counts(spark, sf_dir))
    assert "Join" not in t, "pair construction must not self-join the token table"
    assert "TakeOrderedAndProject" in t, "top-k must compile to TakeOrdered"
    assert "Window" not in t


def test_kmeans_assign_broadcasts_centroids(spark, sf_dir):
    # k=8 centroid rows broadcast; the corpus never shuffles for the
    # scoring join (the only exchange is the per-vec_id argmin window)
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import similarity

    df = similarity.kmeans_assign_fixed(spark, sf_dir)
    assert explain.uses_broadcast_join(df), "centroid block must broadcast"


def test_data_mixture_no_shuffle_of_corpus(spark, sf_dir):
    # content-hash keep rule is a pure projection; the only exchange
    # is the |langs|-group final aggregate
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import text

    df = text.data_mixture_resample(spark, sf_dir)
    assert explain.shuffle_count(df) <= 1, "mixture resampling must be map-side + one agg"


def test_semdedup_candidates_are_cluster_bounded(spark, sf_dir):
    # assignment broadcasts the k centroids; the pair stage must be an
    # equi-join on centroid_id — never a cartesian pair product over
    # the corpus (the BroadcastNestedLoopJoin present is the k-row
    # centroid scoring block, not an all-pairs join)
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import dedup

    df = dedup.dedup_semantic_clusters(spark, sf_dir)
    text = explain.plan_text(df)
    assert "CartesianProduct" not in text
    assert explain.uses_broadcast_join(df), "centroid block must broadcast"
    assert "SortMergeJoin" in text or "ShuffledHashJoin" in text, (
        "within-cluster pair join must be an equi-join on centroid_id"
    )


def test_token_rarity_no_window(spark, sf_dir):
    # two aggregates + one key-reusing join; no global window anywhere
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import text

    t = explain.plan_text(text.token_rarity_score(spark, sf_dir))
    assert "Window" not in t


def test_mixture_temperature_broadcasts_rates(spark, sf_dir):
    # the |langs|-row computed-rate table must broadcast back onto the
    # corpus scan — the corpus itself shuffles only for the final agg
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import text

    df = text.mixture_temperature_resample(spark, sf_dir)
    assert explain.uses_broadcast_join(df), "rate table must broadcast"


def test_kmeans_lloyd_centroids_broadcast_both_rounds(spark, sf_dir):
    # both assignment rounds must broadcast their centroid block (k
    # rows, fixed then recomputed); the corpus never shuffles for
    # scoring in either round
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import similarity

    t = explain.plan_text(similarity.kmeans_lloyd_two_rounds(spark, sf_dir))
    assert t.count("BroadcastNestedLoopJoin") >= 2 or (
        "BroadcastNestedLoopJoin" in t and "BroadcastHashJoin" in t
    ), "both rounds must score against broadcast centroids"
    assert "CartesianProduct" not in t


def test_chunk_documents_is_narrow(spark, sf_dir):
    # chunking is per-row arithmetic + Generate: it must not shuffle
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import text

    df = text.chunk_documents(spark, sf_dir)
    assert explain.shuffle_count(df) == 0, "chunking must be a narrow stage"


def test_aqe_splits_skewed_join_partition(spark, sf_dir):
    # the other half of the AQE posture: a pathologically skewed join
    # key must trigger the runtime skew-join split (the cluster-side
    # answer to hot keys, alongside the manual salting in
    # salted_skew_agg). Thresholds are lowered so the fixture-sized
    # skew qualifies; the executed SMJ must carry skew=true.
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        left = spark.range(2_000_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), F.lit(1).alias("w"))
        # global agg, NOT groupBy(k): a downstream op that required the
        # join key's hash distribution would veto the skew split (AQE
        # won't add an exchange to repair one it just broke)
        df = left.join(right, "k").agg(F.sum("v").alias("s"))
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE must split the skewed join partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_probe_filters_scan_below_semi_join(spark, sf_dir):
    """The bloom probe must reach the fact scan as a DataFilter (via
    the scalar subquery), BELOW the exact left-semi verify join — the
    cross-join formulation lets PushLeftSemiLeftAntiThroughJoin hoist
    the verify join under the bloom filter, silently making the bloom
    dead weight. Pin the load-bearing shape."""
    df = joins.bloom_prefilter_join(spark, sf_dir)
    text = explain.plan_text(df)
    assert "LeftSemi" in text, "exact verify semi join must remain in the plan"
    assert "NestedLoop" not in text, (
        "bloom must arrive via scalar subquery, not a one-row cross join "
        "(the cross-join form gets the verify join pushed below the probe)"
    )
    probe_lines = [ln for ln in text.splitlines() if "xxhash64(o_custkey" in ln]
    assert probe_lines and all(
        ln.strip().startswith("Condition") for ln in probe_lines
    ), "bloom probe must be a scan-side Filter condition, not a join condition"


def test_plan_snapshots_top_queries(spark, sf_dir):
    """Committed plan-signature diff for every bench query >= 0.5s in
    the last round's artifact plus ks_drift_test (21 queries, ~60% of
    suite total — VERDICT r7 #6): a lost broadcast, a new exchange,
    or a de-shared cache fails HERE, in pytest, instead of surfacing
    a round later as unexplained wall-clock drift (VERDICT r6 "Next
    round" #7 — the r5 cusum incident). After a DELIBERATE plan
    change, regenerate with scripts/plan_snapshots.py and commit the
    refreshed JSON with the operator change. clearCache() first: the
    snapshot is generated in a fresh session, and a warm CacheManager
    entry from an earlier test could otherwise swap a parquet scan
    for an InMemoryTableScan in a plan that doesn't own it."""
    import json
    import os

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import registry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "results", "plan_snapshots.json")) as f:
        committed = json.load(f)["signatures"]
    spark.catalog.clearCache()
    qs = registry.queries()
    live = {
        name: explain.plan_signature(qs[name](spark, sf_dir))
        for name in committed
    }
    assert live == committed, (
        "plan signature drift (regenerate via scripts/plan_snapshots.py "
        "ONLY if the change is deliberate):\n"
        + "\n".join(
            f"  {q}: {committed[q]} -> {live[q]}"
            for q in committed
            if live[q] != committed[q]
        )
    )


def test_sentence_dedup_single_scan_and_shuffle_budget(spark, sf_dir):
    """The sentence-dedup pair computes corpus chunk frequency as
    count() over a window on the md5 digest — ONE scan of documents
    and 4 exchanges (fixture repartition, window-by-digest, per-doc
    rollup, output sort). The groupBy+join-back form this replaces
    shows 2 scans and 5 exchanges for the same answer, measured 2.4x
    slower at 10M chunk rows (SCALE.md, sentence-dedup notes)."""
    import re

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import dedup

    for fn in (dedup.dedup_sentence_stats, dedup.dedup_sentence_clean):
        df = fn(spark, sf_dir)
        text = explain.plan_text(df)
        scans = [
            line
            for line in text.splitlines()
            if re.match(r"\s*\(\d+\) Scan ", line)
        ]
        assert len(scans) == 1, (fn.__name__, scans)
        assert explain.shuffle_count(df) <= 4, fn.__name__


def test_incremental_minhash_bucketed_probe_no_index_exchange(spark, sf_dir):
    """The stored (band, bh)-bucketed MinHash index (VERDICT r10 #1):
    the ingest-batch probe join must plan ZERO Exchange on the index
    side — the batch shuffles itself into the index's bucket layout and
    merge-joins co-located buckets. The 2 exchanges in the probe plan
    are both batch-side (signature min-agg + the SMJ probe side); the
    bucketing-disabled control shows the third, index-side exchange
    that bucketing removes — at 100 TB that third exchange is a
    corpus-sized shuffle per ingest batch."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import dedup

    cand, _ = dedup._bucketed_probe_band_join(spark, sf_dir)
    text = explain.plan_text(cand)
    assert "SortMergeJoin" in text
    assert "mh_band_idx" in text
    assert "Bucketed: true" in text, "index scan must use the bucketed layout"
    n_bucketed = explain.shuffle_count(cand)
    # the absolute count is cache-sensitive (a prior test persisting
    # batch signatures swaps an InMemoryRelation into the plan, and
    # shuffle_count also sees the exchanges recorded inside its build
    # plan), so pin the CLAIM relatively: disabling bucketing adds
    # exactly ONE exchange — the index side's
    spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
    try:
        control, _ = dedup._bucketed_probe_band_join(spark, sf_dir)
        assert explain.shuffle_count(control) == n_bucketed + 1, (
            "control: without bucketing the index side must add its exchange"
        )
    finally:
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")


def test_bucketed_index_append_preserves_exchange_free_probe(spark, sf_dir):
    """The grow-by-batch lifecycle at 100 TB: after a batch is
    admitted, its band rows are APPENDED to the stored index
    (write.mode('append').bucketBy — Spark buckets the new files the
    same way), and the NEXT batch's probe must still read
    `Bucketed: true` with zero index-side exchange. Uses test-scoped
    table names: appending to the shared warehouse index would
    pollute every later correctness run in this /tmp lifetime."""
    import uuid

    from pyspark.sql import functions as F

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import dedup
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.sources.storage import (
        N_BUCKETS,
        ensure_bucketed_specs,
    )

    corpus, batch = dedup._incremental_sides(spark, sf_dir)
    tag = uuid.uuid4().hex[:8]
    tbl = f"test_append_band_{tag}"
    (bands,) = ensure_bucketed_specs(
        spark,
        (
            (
                tbl,
                ("band", "bh"),
                lambda: dedup.band_table(dedup.minhash_signatures(corpus)),
            ),
        ),
    )
    n_before = bands.count()
    # admit the batch: append its band rows, bucketed the same way
    (
        dedup.band_table(dedup.minhash_signatures(batch))
        .write.mode("append")
        .bucketBy(N_BUCKETS, "band", "bh")
        .sortBy("band", "bh")
        .format("parquet")
        .saveAsTable(tbl)
    )
    grown = spark.table(tbl)
    assert grown.count() > n_before, "append must grow the index"
    def probe_plan():
        return (
            dedup.band_table(dedup.minhash_signatures(batch))
            .withColumnRenamed("doc_id", "batch_id")
            .join(
                grown.hint("merge").withColumnRenamed("doc_id", "corpus_id"),
                ["band", "bh"],
            )
            .select("batch_id", "corpus_id")
        )

    # one finally for BOTH the conf restore and the test-scoped table
    # drop (ADVICE r11: dropping only on the success path leaked
    # parquet files + a catalog entry into the shared /tmp warehouse
    # whenever an assertion failed)
    try:
        probe = probe_plan()
        text = explain.plan_text(probe)
        assert "Bucketed: true" in text, "appended index fell off the bucketed read path"
        n_bucketed = explain.shuffle_count(probe)
        # relative control (cache-robust, same as the non-append test):
        # without bucketing the grown index adds exactly its one exchange
        spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
        try:
            assert explain.shuffle_count(probe_plan()) == n_bucketed + 1
        finally:
            spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    finally:
        # DROP alone does not delete data here: ensure_bucketed_specs
        # creates EXTERNAL tables (.option("path", ...)), so without
        # the rmtree every run leaves an orphan uuid-named parquet dir
        # (base + appended files) in the shared /tmp warehouse
        # (ADVICE r12).
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(storage.WAREHOUSE, tbl), ignore_errors=True)


def test_ivfpq_bucketed_probe_reads_only_probed_buckets(spark, sf_dir):
    """The stored IVF-PQ index (VERDICT r11 #1): a probe must read
    ONLY the probed lists' buckets, on BOTH index scans, with zero
    index-side exchange.

    - bucket pruning: the literal ``list_id IN (probed)`` filter makes
      each index scan report ``SelectedBucketsCount: x out of y`` with
      x < y — at 100 TB that is the difference between reading
      n_probe/nlist of the index and reading all of it, per query
      batch;
    - column pruning: the ADC scan's ReadSchema carries ``codes`` but
      NOT ``embedding`` (the hot path reads ~4 bytes/vector), while
      the re-rank fetch reads ``embedding``/``nrm`` but not ``codes``;
    - no index-side exchange: both index consumers are broadcast
      joins (probes / shortlist are the build sides), so no Exchange
      sits between either index scan and its join."""
    import re

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import (
        similarity,
    )

    df = similarity.ivfpq_ann_topk_bucketed(spark, sf_dir)
    text = explain.plan_text(df)
    idx_scans = [
        seg
        for seg in (s.strip() for s in text.split("\n\n"))
        if re.match(r"\(\d+\) Scan parquet spark_catalog\.default\.ivfpq_idx_", seg)
    ]
    assert len(idx_scans) == 2, f"expected ADC + fetch index scans, got {len(idx_scans)}"
    schemas = set()
    for seg in idx_scans:
        assert "Bucketed: true" in seg, "index scan fell off the bucketed read path"
        assert re.search(r"PushedFilters:.*In\(list_id", seg), seg
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", seg)
        assert m, "index scan is not bucket-pruned"
        assert int(m.group(1)) < int(m.group(2)), (
            "probe read every bucket — the literal probe-list filter "
            "is not pruning"
        )
        read = re.search(r"ReadSchema: struct<([^>]*)", seg).group(1)
        schemas.add(
            ("codes" in read, "embedding" in read)
        )
    assert schemas == {(True, False), (False, True)}, (
        f"column pruning regressed: index scans read {schemas} — the ADC "
        "scan must read codes-without-embedding and the fetch the reverse"
    )
    # every index consumer is a broadcast join: the only Exchanges in
    # the plan are candidate-sized (ADC aggregate + rank windows)
    assert "SortMergeJoin" not in text
    assert explain.shuffle_count(df) <= 5


def test_ivf_within_list_nn_selfjoin_no_exchange_no_sort(spark, sf_dir):
    """The stored index's SECOND consumer (SemDeDup within-list NN):
    a self-join of the bucketBy/sortBy(list_id) table on list_id must
    plan with ZERO exchange and ZERO sort — bucketing satisfies the
    join's distribution requirement on both sides and the bucket-file
    sort order satisfies its ordering requirement, so the only
    exchange in the whole query is the final per-vector aggregate.
    At 100 TB this is the difference between a free within-list pair
    scan and re-shuffling + re-sorting the entire index per dedup
    run."""
    import re

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import (
        similarity,
    )

    df = similarity.ivf_within_list_nn(spark, sf_dir)
    text = explain.plan_text(df)
    assert "SortMergeJoin" in text
    idx_scans = [
        seg
        for seg in (s.strip() for s in text.split("\n\n"))
        if re.match(r"\(\d+\) Scan parquet spark_catalog\.default\.ivfpq_idx_", seg)
    ]
    assert len(idx_scans) == 2, f"expected two index scans, got {len(idx_scans)}"
    for seg in idx_scans:
        assert "Bucketed: true" in seg
    assert explain.shuffle_count(df) == 1, (
        "the only exchange must be the final per-vector aggregate"
    )
    # no JOIN-KEY sort anywhere: the single-file-per-bucket sortBy
    # layout + the bucketed-scan-ordering conf satisfy the SMJ's
    # ordering requirement (per-vector aggregate sorts on vec_id are
    # the aggregate's own business and allowed)
    join_key_sorts = [
        seg.splitlines()[0]
        for seg in (s.strip() for s in text.split("\n\n"))
        if re.match(r"\(\d+\) Sort\b", seg)
        and re.search(r"Arguments: \[list_id", seg)
    ]
    assert not join_key_sorts, (
        f"bucket sort order should satisfy the SMJ: {join_key_sorts}"
    )


def test_semdedup_apply_zero_exchange(spark, sf_dir):
    """The stored index's THIRD consumer (semdedup_apply, VERDICT r12
    #7) must plan with ZERO Exchange anywhere: the decision self-join
    is the same bucketed SMJ as ivf_within_list_nn, and — unlike that
    query's per-vector aggregate — every aggregate here groups by
    list_id or (list_id, vec_id), both of which the scan's
    hash(list_id) bucket distribution already satisfies (a hash
    partitioning on a subset of the grouping keys clusters the
    groups). At 100 TB the entire dedup decision + accounting runs
    without moving a single index byte between executors."""
    import re

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import (
        similarity,
    )

    df = similarity.semdedup_apply(spark, sf_dir)
    text = explain.plan_text(df)
    assert explain.shuffle_count(df) == 0, "semdedup_apply must be exchange-free"
    idx_scans = [
        seg
        for seg in (s.strip() for s in text.split("\n\n"))
        if re.match(r"\(\d+\) Scan parquet spark_catalog\.default\.ivfpq_idx_", seg)
    ]
    assert len(idx_scans) >= 3  # a-side, b-side, totals
    for seg in idx_scans:
        assert "Bucketed: true" in seg


def test_semdedup_multiprobe_exchange_budget(spark, sf_dir):
    """semdedup_apply_multiprobe (VERDICT r13 #3) pays EXACTLY two
    data exchanges over the base variant's zero — the (plist_id,
    vec_id) witness-dedup aggregate and the ≤ nlist per-list rollup —
    while the decision self-join stays the exchange-free bucketed SMJ
    and the totals side stays exchange-free (the primary rows are
    filtered from the same bucketed scan). A third exchange means the
    pair fan-out leaked past the map side; zero means the plist
    accounting silently rode the wrong distribution."""
    import re

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import (
        similarity,
    )

    df = similarity.semdedup_apply_multiprobe(spark, sf_dir)
    text = explain.plan_text(df)
    assert explain.shuffle_count(df) == 2, (
        "multiprobe must pay exactly the two plist-keyed exchanges"
    )
    assert "SortMergeJoin" in text
    midx_scans = [
        seg
        for seg in (s.strip() for s in text.split("\n\n"))
        if re.match(r"\(\d+\) Scan parquet spark_catalog\.default\.ivfpq_midx_", seg)
    ]
    assert len(midx_scans) == 3  # a-side, b-side, totals
    for seg in midx_scans:
        assert "Bucketed: true" in seg
    # the final accounting join broadcasts the tiny drops side
    assert "BroadcastHashJoin LeftOuter" in text


def test_ivfpq_index_append_preserves_bucket_pruned_probe(spark, sf_dir):
    """The ANN grow-by-batch lifecycle at 100 TB (the
    test_bucketed_index_append pattern for the IVF-PQ index): after a
    batch of newly encoded vectors is APPENDED to the stored index
    (write.mode('append').bucketBy — Spark buckets the new files the
    same way), a probe against the grown table must still read
    ``Bucketed: true`` AND still bucket-prune on the literal probed
    list_ids (SelectedBucketsCount < total). Multi-file buckets lose
    only the sortBy ORDERING guarantee (the conf claims nothing for
    them — correctness-safe), never pruning. Test-scoped table: an
    append to the shared index would pollute every later run in this
    /tmp lifetime."""
    import re
    import uuid

    from pyspark.sql import functions as F

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import (
        similarity,
    )
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.sources.storage import (
        N_BUCKETS,
        ensure_bucketed_specs,
    )

    base = similarity._ensure_ivfpq_index_table(spark, sf_dir)
    tbl = f"test_append_ivfpq_{uuid.uuid4().hex[:8]}"
    try:
        ensure_bucketed_specs(
            spark, ((tbl, ("list_id",), lambda: base),)
        )
        n_before = spark.table(tbl).count()
        # admit a batch: re-id'd copies of existing rows stand in for
        # freshly assigned+encoded vectors (same schema, same layout)
        (
            base.filter(F.col("vec_id") < 50)
            .withColumn("vec_id", F.col("vec_id") + 1_000_000)
            .write.mode("append")
            .bucketBy(N_BUCKETS, "list_id")
            .sortBy("list_id")
            .format("parquet")
            .saveAsTable(tbl)
        )
        grown = spark.table(tbl)
        assert grown.count() > n_before, "append must grow the index"
        # a bare filter+project doesn't JUSTIFY a bucketed scan (AQE's
        # autoBucketedScan drops it when nothing needs the
        # distribution), so probe with the aggregate shape the real
        # operator ends in
        probe = (
            grown.filter(F.col("list_id").isin([0, 1]))
            .groupBy("list_id")
            .agg(F.count("*").alias("n"))
        )
        text = explain.plan_text(probe)
        assert "Bucketed: true" in text, "appended index fell off the bucketed path"
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", text)
        assert m and int(m.group(1)) < int(m.group(2)), (
            "appended index lost bucket pruning"
        )
    finally:
        # external table (see the other append test): rmtree the data
        # dir too or every run orphans it in the /tmp warehouse
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(storage.WAREHOUSE, tbl), ignore_errors=True)


def test_incremental_minhash_bucketed_verify_join_uses_sig_buckets(spark, sf_dir):
    """The est-Jaccard verify step re-attaches corpus signatures from
    the doc_id-bucketed signature table: both stored index scans in the
    full probe plan must read Bucketed: true (only the candidate list
    ever shuffles — corpus signatures never move)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import dedup

    df = dedup.dedup_minhash_incremental_bucketed(spark, sf_dir)
    text = explain.plan_text(df)
    for tbl in ("mh_band_idx", "mh_sig_idx"):
        scan_detail = [
            seg for seg in text.split("\n\n") if f"Scan parquet spark_catalog.default.{tbl}" in seg
        ]
        assert scan_detail, f"{tbl} scan missing from probe plan"
    assert "Bucketed: false" not in text, "a stored index scan fell off the bucketed read path"
    assert "Bucketed: true" in text


def test_gopher_repetition_is_shuffle_free_per_doc(spark, sf_dir):
    """r14 rewrite pin: the repetition panel is a within-document
    statistic computed by per-row sorted-run folds — the plan must
    carry NO data-sized shuffle (no gram explode, no Window, no
    aggregate exchange). Allowed exchanges: the scan-parallelism floor
    (RoundRobinPartitioning) and the output sort (range)."""
    import re

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import text

    plan = explain.plan_text(text.gopher_repetition_signals(spark, sf_dir))
    assert "Window" not in plan, "per-doc fold regressed to a window"
    assert "HashAggregate" not in plan, "per-doc fold regressed to explode+agg"
    kinds = re.findall(r"Exchange (\w+)", plan)
    assert all(k in ("RoundRobinPartitioning", "rangepartitioning") for k in kinds), kinds


def test_dsir_no_token_stream_window(spark, sf_dir):
    """r14 rewrite pin: bigrams come from an array-side transform, so
    the plan must carry NO Window node (the old lead()-over-pos form
    shuffled and sorted the whole token stream per consumer)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import training

    plan = explain.plan_text(training.dsir_importance_weights(spark, sf_dir))
    assert "Window" not in plan, "bigram formation regressed to lead() window"


def test_bigram_consumers_no_token_stream_window(spark, sf_dir):
    """r14 rewrite pin for the bigram-LM family (same array-side
    formation as dsir): only ccnet's per-source ntile window may
    remain."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import text

    lm = explain.plan_text(text.bigram_lm_score(spark, sf_dir))
    assert "Window" not in lm
    ccnet = explain.plan_text(text.ccnet_perplexity_buckets(spark, sf_dir))
    assert ccnet.count("Window") <= 2, "token-stream windows came back"


def test_decontaminate_single_corpus_print_pass(spark, sf_dir):
    """r14 rewrite pin: shared/size counts come from ONE aggregation
    over ONE derivation of the corpus prints — the winnow-hash
    Generate (explode) must appear exactly twice in the plan (bench
    side + corpus side), not three times as in the shared/sizes pair
    formulation."""
    import re

    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import dedup

    plan = explain.plan_text(dedup.decontaminate_winnowing(spark, sf_dir))
    generates = len(re.findall(r"\(\d+\) Generate", plan))
    assert generates == 2, f"expected 2 print explodes (bench + corpus), got {generates}"


def test_substring_window_hash_is_native(spark, sf_dir):
    """r14 rewrite pin: stage-1 window hashes are native xxhash64 over
    the token slice (the hash is a text-verified pre-filter, so the
    engine-portable per-char fold is not needed here)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import dedup

    plan = explain.plan_text(dedup.dedup_substring_exact(spark, sf_dir))
    assert "xxhash64" in plan
