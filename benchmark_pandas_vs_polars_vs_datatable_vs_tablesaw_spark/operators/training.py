"""Training-data pipeline operators: drift detection, model-based
quality gating, repetition metrics, privacy checks, and deterministic
training-order sharding.

The reference benchmark stops at engine micro-ops (SURVEY.md §2); a
100 TB pretraining pipeline needs a second layer of corpus-level
machinery around them. This module adds the pieces that sit between
curation (text.py / dedup.py) and the trainer:

- ``ks_drift_test``: exact two-sample Kolmogorov-Smirnov distance —
  the standard "did this source's distribution move?" gate between
  snapshots. Integer-exact numerator (no float CDF accumulation).
- ``linear_quality_classifier``: fastText-style linear scorer over
  hashed bag-of-words features, the classic learned quality gate
  (weights here are a deterministic stand-in; the plan shape — hash,
  sum, threshold — is exactly what a trained model needs).
- ``dup_ngram_char_fraction``: Gopher-style within-document
  repetition metric (fraction of characters inside duplicated
  3-grams).
- ``k_anonymity_spectrum``: privacy pre-flight — group-size spectrum
  over quasi-identifier combinations.
- ``deterministic_shuffle_shard``: reproducible global shuffle into
  training shards (hash-mod sharding + within-shard hash order; no
  global sort).

Scale shapes are documented per operator; nothing here materializes
row-level data on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_parallel
from .text import _gram_run_fold, _hex4_bucket, _tokens

# Deterministic stand-in weight for a hashed-feature linear model:
# Knuth multiplicative hash of the bucket id folded into [-500, 500].
# Any trained weight vector drops in by replacing this expression with
# a broadcast lookup — the plan shape (and its cost) is identical.
_W_SQL = "((({b}) * 2654435761) % 1001 - 500)"


def ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    ``value`` distributions of ``click`` and ``purchase`` events —
    the distribution-drift gate run between pipeline snapshots /
    sources before a mixture is retrained.

    D = max_x |F_a(x) - F_b(x)|. Everything up to the final ratio is
    integer arithmetic: per-value counts, then cumulative counts, then
    ``d_num = max |cum_a*n_b - cum_b*n_a|`` (the KS numerator over the
    common denominator n_a*n_b) — so no cross-engine float-CDF
    accumulation can flip the argmax. ``d_at_value`` is the smallest
    value attaining the max (deterministic under ties).

    Scale shape: the raw table reduces to one row per DISTINCT value
    first (map-side combinable), so the expensive steps run on the
    value-level table. The cumulative sums use a two-phase distributed
    prefix sum — range-partition by value, local running totals per
    partition, plus a broadcast per-partition offset table (a window
    over <= n_part metadata rows) — never a single-partition global
    window, so the plan survives value cardinalities in the billions.

    Pass budget (rewritten round 7 — the r4 form re-derived its
    upstream SEVEN times, 16 parquet scans in the plan): the events
    table is scanned exactly THREE times (value bounds; the local
    prefix branch; the per-bucket totals), pinned by the plan-snapshot
    test. The per-bucket totals table (<= n_part rows, metadata not
    data) is persisted and feeds BOTH the offset window and the grand
    totals, and the final D-argmax is ONE map-side-combinable
    aggregation (max of an (dn, -value) struct) instead of a
    max-row self-join — removing the three full recomputations of the
    statistic tree that dominated the old plan.
    """
    ev = load_table(spark, sf_dir, "events")
    a, b = "click", "purchase"
    perv = (
        ev.where(F.col("event_type").isin(a, b))
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == a, 1).otherwise(0)).alias("na_v"),
            F.sum(F.when(F.col("event_type") == b, 1).otherwise(0)).alias("nb_v"),
        )
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Bucket id is ARITHMETIC on the key (broadcast min/max scale), not
    # spark_partition_id() over a range exchange: the prefix sum's
    # local and offset branches re-execute the exchange (no
    # ReusedExchange in this plan shape), and independently re-sampled
    # range boundaries could disagree between them — a data-derived
    # bucket is identical in both branches by construction.
    vbounds = perv.agg(F.min("value").alias("vlo"), F.max("value").alias("vhi"))
    ranged = perv.crossJoin(F.broadcast(vbounds)).withColumn(
        "_pid",
        F.least(
            F.floor(
                (F.col("value") - F.col("vlo"))
                / (F.col("vhi") - F.col("vlo") + 1e-9)
                * n_part
            ).cast("int"),
            F.lit(n_part - 1),
        ),
    )
    w_loc = (
        Window.partitionBy("_pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.select(
        "value",
        "_pid",
        F.sum("na_v").over(w_loc).alias("loc_a"),
        F.sum("nb_v").over(w_loc).alias("loc_b"),
    )
    # Per-bucket totals: one row per range partition (metadata, not
    # data — <= n_part rows). Persisted because it feeds BOTH the
    # offset window and the grand totals: without the persist each
    # consumer re-runs the full value-level aggregation (one more
    # events scan apiece).
    pidtot = (
        ranged.groupBy("_pid")
        .agg(F.sum("na_v").alias("ta"), F.sum("nb_v").alias("tb"))
        .persist()
    )
    w_cum = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    off = pidtot.select(
        "_pid",
        (F.sum("ta").over(w_cum) - F.col("ta")).alias("off_a"),
        (F.sum("tb").over(w_cum) - F.col("tb")).alias("off_b"),
    )
    tot = pidtot.agg(
        F.sum("ta").cast("long").alias("n_a"),
        F.sum("tb").cast("long").alias("n_b"),
    )
    stat = (
        local.join(F.broadcast(off), "_pid")
        .crossJoin(F.broadcast(tot))
        .select(
            "value",
            F.abs(
                (F.col("loc_a") + F.col("off_a")) * F.col("n_b")
                - (F.col("loc_b") + F.col("off_b")) * F.col("n_a")
            ).cast("long").alias("dn"),
        )
    )
    # ONE aggregation finds both the max numerator and the smallest
    # value attaining it: max over (dn, -value) structs orders by dn
    # first, then by -value (larger -value == smaller value; sign
    # flip is exact in IEEE754, so ties still break deterministically).
    # The old max-then-self-join form consumed `stat` three times,
    # re-running the entire prefix-sum tree for each consumer.
    peak = stat.agg(
        F.max(
            F.struct(F.col("dn").alias("dn"), (-F.col("value")).alias("nv"))
        ).alias("pk")
    )
    return (
        tot.crossJoin(F.broadcast(peak))
        .select(
            "n_a",
            "n_b",
            F.col("pk.dn").alias("d_num"),
            (-F.col("pk.nv")).alias("d_at_value"),
            F.round(F.col("pk.dn") / (F.col("n_a") * F.col("n_b")), 4).alias("d_stat"),
        )
    )


KS_DRIFT_ORACLE = """
WITH ab AS (
  SELECT value,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na_v,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb_v
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY value
), tot AS (
  SELECT CAST(sum(na_v) AS BIGINT) AS n_a,
         CAST(sum(nb_v) AS BIGINT) AS n_b
  FROM ab
), cum AS (
  SELECT value,
         sum(na_v) OVER (ORDER BY value) AS cum_a,
         sum(nb_v) OVER (ORDER BY value) AS cum_b
  FROM ab
), stat AS (
  SELECT value,
         CAST(abs(cum_a * t.n_b - cum_b * t.n_a) AS BIGINT) AS dn
  FROM cum, tot t
)
SELECT t.n_a, t.n_b,
       (SELECT max(dn) FROM stat) AS d_num,
       (SELECT min(value) FROM stat
        WHERE dn = (SELECT max(dn) FROM stat)) AS d_at_value,
       round((SELECT max(dn) FROM stat) * 1.0 / (t.n_a * t.n_b), 4) AS d_stat
FROM tot t
"""


def linear_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style linear quality classifier over hashed
    bag-of-words features: token -> 64-bucket hashing trick (shared
    with ``feature_hash_bag``), per-bucket integer weight, per-doc
    margin = sum of token weights, keep when margin > 0; reported as
    per-source keep rates (the mixture decision a curation run ends
    with).

    Weights are a deterministic function of the bucket id (module
    docstring) so the whole pipeline is integer-exact and
    engine-reproducible; swapping in trained weights is a broadcast
    join against a 64-row table and changes nothing about the plan.

    Scale shape: explode -> map-side md5 bucket + weight projection ->
    one groupBy(doc) shuffle carrying (doc_id, source, weight-partial)
    thanks to partial aggregation -> 30-key source rollup. No
    vocabulary state anywhere; constant-width feature space at any
    corpus size.

    The scan is a plain load: a round-robin parallelism floor measured
    below the 1.15x keep rule at sf0.1 (results/scan_floor_ab.json).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source", F.explode(_tokens()).alias("token"))
    w = F.expr(_W_SQL.format(b=_hex4_bucket("token", 64)))
    perdoc = (
        tok.select("doc_id", "source", w.alias("w"))
        .groupBy("doc_id", "source")
        .agg(F.sum("w").cast("long").alias("margin"))
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("margin") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_keep"),
            F.sum("margin").cast("long").alias("total_margin"),
        )
        .orderBy("source")
    )


_LINEAR_W = _W_SQL.format(b=_hex4_bucket("token", 64))

LINEAR_CLASSIFIER_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
  FROM documents
), perdoc AS (
  SELECT doc_id, source,
         CAST(sum({_LINEAR_W}) AS BIGINT) AS margin
  FROM tok
  GROUP BY doc_id, source
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(sum(margin) AS BIGINT) AS total_margin
FROM perdoc
GROUP BY source
ORDER BY source
"""


def dup_ngram_char_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition metric: the fraction of
    character mass sitting inside DUPLICATED token 3-grams (Rae et
    al. 2021 use "fraction of characters in duplicate n-grams" as a
    repetition quality gate; ``text_repetition_filter`` covers the
    top-token variant, this covers the n-gram variant).

    Integer-exact: numerator = sum of len(gram)*count over grams
    occurring >= 2 times in the doc, denominator = same sum over all
    grams; the flag fires at > 20% (dup_chars*5 > total_chars) using
    cross-multiplication, no division. Docs with < 3 tokens have no
    3-grams and are excluded (mirrored in the oracle).

    Scale shape (r14 optimization, guide §2.4): the metric is a
    WITHIN-document statistic, so it needs no shuffle at all — grams
    are built array-side from the token array (the lead()-window
    formulation shuffled and sorted the whole token stream by doc_id)
    and both character masses come from per-row folds: dup_chars from
    the sorted-run fold (``text._gram_run_fold``, the exact per-doc
    analogue of the old groupBy(doc_id, gram) count) and total_chars
    from a linear length fold. The only exchange left is the output
    orderBy(doc_id). State per doc is bounded by the doc's own gram
    count — nothing corpus-wide.
    """
    # Scan-parallelism floor (guide §2.5): per-doc gram folds dominate
    # and were serializing on the single-split scan.
    docs = load_table_parallel(spark, sf_dir, "documents")
    total_expr = (
        f"aggregate(transform(sequence(1, size(T) - 2),"
        f"                    i -> concat_ws(' ', slice(T, i, 3))),"
        f" 0L, (a, g) -> a + CAST(length(g) AS BIGINT))"
    )
    return (
        docs.withColumn("T", _tokens())
        .where(F.expr("size(T) >= 3"))
        .select(
            "doc_id",
            F.expr(_gram_run_fold(3)).alias("f3"),
            F.expr(total_expr).alias("total_chars"),
        )
        .select(
            "doc_id",
            F.col("f3.dup").alias("dup_chars"),
            "total_chars",
            (F.col("f3.dup") * 5 > F.col("total_chars")).alias("flagged"),
        )
        .orderBy("doc_id")
    )


DUP_NGRAM_ORACLE = """
WITH grams AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(string_split(text, ' ')) - 1),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i + 1] || ' ' ||
                string_split(text, ' ')[i + 2])) AS gram
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), counts AS (
  SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END)
            AS BIGINT) AS dup_chars,
       CAST(sum(cnt * length(gram)) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) * 5
            > sum(cnt * length(gram)) AS BOOLEAN) AS flagged
FROM counts
GROUP BY doc_id
ORDER BY doc_id
"""


def k_anonymity_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy pre-flight: k-anonymity group-size spectrum over the
    customer quasi-identifier combination (nation, market segment,
    account-balance sign). Long format ``(k, n_groups, n_rows,
    passed)`` — a release gate reads the smallest k with
    ``passed = k >= 5`` (the conventional floor).

    The balance sign derives from exact cents (round(bal*100) as
    int64) so the binning has no float-boundary ambiguity. Two
    map-side-combinable aggregations: QI -> group size, then size ->
    spectrum; the shuffle carries one row per QI group, the output one
    row per distinct k.
    """
    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    groups = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            (cents < 0).alias("negative_balance"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "negative_balance")
        .agg(F.count("*").alias("k"))
    )
    return (
        groups.groupBy("k")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("k").cast("long").alias("n_rows"),
        )
        .select("k", "n_groups", "n_rows", (F.col("k") >= 5).alias("passed"))
        .orderBy("k")
    )


K_ANONYMITY_ORACLE = """
WITH groups AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) < 0 AS negative_balance,
         count(*) AS k
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT k, count(*) AS n_groups, CAST(sum(k) AS BIGINT) AS n_rows,
       k >= 5 AS passed
FROM groups
GROUP BY k
ORDER BY k
"""


def deterministic_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training-order shuffle into 8 shards —
    what a trainer consumes: shard = content-independent hash of the
    stable doc id (mod 8), order WITHIN each shard by a second hash of
    (id, text). Rerunning on the same corpus reproduces byte-identical
    shard manifests on any engine; no RNG, no global sort.

    Scale shape: this is the one-shuffle alternative to "ORDER BY
    rand()" (a global sort + non-reproducible): hash-mod sharding is a
    plain hash exchange, and the within-shard hash order is a local
    sort per shard writer. Here the shard manifests are summarized
    (count, id checksum, first/last doc in shard order via min_by /
    max_by on the order hash) so the result is a small verifiable
    table rather than a rewritten corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = F.expr(_hex4_bucket("cast(doc_id as string)", 8))
    hkey = F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("text")))
    return (
        docs.select(
            shard.cast("int").alias("shard"),
            "doc_id",
            hkey.alias("hkey"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.min_by("doc_id", "hkey").alias("first_doc_id"),
            F.max_by("doc_id", "hkey").alias("last_doc_id"),
        )
        .orderBy("shard")
    )


_SHARD_BUCKET = _hex4_bucket("cast(doc_id as string)", 8)

SHUFFLE_SHARD_ORACLE = f"""
WITH keyed AS (
  SELECT CAST({_SHARD_BUCKET} AS INT) AS shard,
         doc_id,
         md5(CAST(doc_id AS STRING) || ':' || text) AS hkey
  FROM documents
)
SELECT shard,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       min_by(doc_id, hkey) AS first_doc_id,
       max_by(doc_id, hkey) AS last_doc_id
FROM keyed
GROUP BY shard
ORDER BY shard
"""


VOCAB_SIZE = 16  # fixture corpus has 31 distinct tokens; 16 keeps OOV real


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build a frequency-ranked vocab
    (top ``VOCAB_SIZE`` corpus tokens, ties broken lexicographically so
    the cut is total-ordered and engine-reproducible) and report each
    source's out-of-vocabulary token rate — the go/no-go check before
    freezing a tokenizer on a new data mixture.

    Scale shape: vocab build is a map-side-combinable token count plus
    a TakeOrdered top-k (never a full sort); the probe is a broadcast
    hash join of the corpus token stream against the k-row vocab. The
    corpus is never shuffled by token for the probe — the only
    token-keyed shuffle is the count table, whose width is |vocab|,
    not |corpus|.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(_tokens()).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(VOCAB_SIZE)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 4).alias("oov_rate"),
        )
        .orderBy("source")
    )


VOCAB_OOV_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
), vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS cnt FROM tok GROUP BY token
  ) ORDER BY cnt DESC, token LIMIT {VOCAB_SIZE}
)
SELECT source, count(*) AS n_tokens,
       CAST(sum(CASE WHEN token IN (SELECT token FROM vocab)
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN token IN (SELECT token FROM vocab)
                      THEN 0 ELSE 1 END) * 1.0 / count(*), 4) AS oov_rate
FROM tok
GROUP BY source
ORDER BY source
"""


def adaptive_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ADAPTIVE quality gate: instead of one global
    threshold (which over-prunes weak-but-valuable sources and
    under-prunes strong ones), each source keeps documents scoring
    above its OWN median — the per-domain-percentile filtering used in
    web-corpus curation.

    Score is integer lexical diversity (distinct tokens * 1000 +
    token count): computed per row with zero shuffle (no explode —
    ``array_distinct`` on the split column). The exact per-source
    median can land on k+0.5; the comparison doubles both sides
    (2*score > 2*median, the latter an integer-valued double that
    casts exactly), so the gate has no float-boundary ambiguity.

    Scale shape: one 30-key groupBy for the medians, broadcast back,
    one 30-key groupBy for the report. Exact percentile over a single
    source's scores is the one non-sketch step — swap to
    percentile_approx at 100 TB if a 1%-off cut is acceptable.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        "source",
        (F.size(F.array_distinct(toks)) * 1000 + F.size(toks)).alias("iscore"),
    )
    med = scored.groupBy("source").agg(
        (F.expr("percentile(iscore, 0.5)") * 2).cast("long").alias("median_x2")
    )
    return (
        scored.join(F.broadcast(med), "source")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("iscore") * 2 > F.col("median_x2"), 1).otherwise(0))
            .cast("long")
            .alias("n_keep"),
            F.min("median_x2").alias("median_x2"),
        )
        .orderBy("source")
    )


ADAPTIVE_GATE_ORACLE = """
WITH scored AS (
  SELECT doc_id, source,
         len(list_distinct(string_split(text, ' '))) * 1000
           + len(string_split(text, ' ')) AS iscore
  FROM documents
), med AS (
  SELECT source, CAST(quantile_cont(iscore, 0.5) * 2 AS BIGINT) AS median_x2
  FROM scored GROUP BY source
)
SELECT s.source, count(*) AS n_docs,
       CAST(sum(CASE WHEN s.iscore * 2 > m.median_x2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_keep,
       min(m.median_x2) AS median_x2
FROM scored s JOIN med m ON s.source = m.source
GROUP BY s.source
ORDER BY s.source
"""


def dataset_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning: allocate a training budget (half
    the corpus's tokens) across sources by two-round integer
    waterfilling — equal caps, with capacity freed by small sources
    redistributed to the rest. This is the allocation step between
    "how many tokens does each source have" and "build the mixture"
    (``data_mixture_resample`` consumes exactly such quotas).

    Round 1 caps every source at budget//n; round 2 raises the cap by
    leftover//n_unsaturated for sources that hit the cap. All integer
    division — the plan is engine-exact, and the residual after round
    2 is reported per row (a third round at 100 TB is the same two
    joins again). Scale shape: one 30-key aggregate + two broadcast
    scalar joins; per-row token counts come from ``size(split())``
    with zero shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("tokens")
    )
    totals = per_source.agg(
        F.sum("tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    ).select(
        F.expr("total_tokens div 2").alias("budget"),
        "n_sources",
    )
    r1 = per_source.crossJoin(F.broadcast(totals)).withColumn(
        "cap1", F.expr("budget div n_sources")
    )
    r1_stats = r1.agg(
        F.sum(F.least("tokens", "cap1")).alias("alloc1"),
        F.sum(F.when(F.col("tokens") > F.col("cap1"), 1).otherwise(0)).alias(
            "n_unsat"
        ),
    )
    planned = (
        r1.crossJoin(F.broadcast(r1_stats))
        .withColumn(
            "cap2",
            F.when(
                F.col("n_unsat") > 0,
                F.col("cap1") + F.expr("(budget - alloc1) div n_unsat"),
            ).otherwise(F.col("cap1")),
        )
        .select(
            "source",
            "tokens",
            F.least("tokens", "cap2").cast("long").alias("allocation"),
            (F.col("tokens") <= F.col("cap2")).alias("fully_taken"),
            F.col("cap2").cast("long").alias("final_cap"),
        )
    )
    return planned.orderBy("source")


MIXTURE_PLAN_ORACLE = """
WITH per_source AS (
  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
), totals AS (
  SELECT CAST(sum(tokens) // 2 AS BIGINT) AS budget,
         count(*) AS n_sources
  FROM per_source
), r1 AS (
  SELECT p.*, t.budget, t.n_sources,
         CAST(t.budget // t.n_sources AS BIGINT) AS cap1
  FROM per_source p, totals t
), r1_stats AS (
  SELECT CAST(sum(least(tokens, cap1)) AS BIGINT) AS alloc1,
         CAST(sum(CASE WHEN tokens > cap1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unsat
  FROM r1
)
SELECT r.source, r.tokens,
       CAST(least(r.tokens,
                  CASE WHEN s.n_unsat > 0
                       THEN r.cap1 + (r.budget - s.alloc1) // s.n_unsat
                       ELSE r.cap1 END) AS BIGINT) AS allocation,
       r.tokens <= CASE WHEN s.n_unsat > 0
                        THEN r.cap1 + (r.budget - s.alloc1) // s.n_unsat
                        ELSE r.cap1 END AS fully_taken,
       CAST(CASE WHEN s.n_unsat > 0
                 THEN r.cap1 + (r.budget - s.alloc1) // s.n_unsat
                 ELSE r.cap1 END AS BIGINT) AS final_cap
FROM r1 r, r1_stats s
ORDER BY r.source
"""


REPEAT_BUDGET_MULT = 4  # training budget = 4x the corpus's unique tokens
MAX_REPEAT_BP = 40_000  # cap any source at 4 epochs (basis points)


def data_budget_repeats(
    spark: SparkSession,
    sf_dir: str,
    budget_mult: int = REPEAT_BUDGET_MULT,
    max_repeat_bp: int = MAX_REPEAT_BP,
) -> DataFrame:
    """Data-constrained repeat allocation (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models") — the OVER-budget
    complement to :func:`dataset_mixture_plan`'s under-budget
    waterfilling: when the training budget exceeds the corpus's
    unique tokens, each source repeats, up to the ~4-epoch cap past
    which the paper measures repeated data's value decaying. Targets
    are quality-weighted: each source's share of the budget is
    proportional to its NON-STOPWORD token mass (the cheap exact
    stand-in for a quality score), so fluent sources earn more of the
    repeat budget and capped sources report an explicit deficit —
    the number the pipeline planner feeds back into sourcing.

    All exact int64 arithmetic (shares and repeat factors in basis
    points via div), so the allocation is engine-identical including
    at the cap boundary. Scale shape: one ~|sources|-key aggregate
    with map-side combine + two broadcast scalar joins; per-row token
    counts are zero-shuffle projections. budget_mult (how far past
    the unique corpus the budget reaches) and max_repeat_bp (the
    epoch cap) are the paper's two dials — property-swept in
    tests/test_property.py.
    """
    from .text import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tok).alias("unique_tokens"),
        F.sum(n_tok - n_stop).alias("quality_mass"),
    )
    totals = per_source.agg(
        F.sum("unique_tokens").alias("total_unique"),
        F.sum("quality_mass").alias("total_mass"),
    ).select(
        (F.col("total_unique") * int(budget_mult)).alias("budget"),
        "total_mass",
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .withColumn("target_tokens", F.expr("budget * quality_mass div total_mass"))
        .withColumn(
            "repeat_bp",
            F.least(
                F.lit(int(max_repeat_bp)).cast("long"),
                F.expr("target_tokens * 10000 div unique_tokens"),
            ),
        )
        .withColumn("served_tokens", F.expr("unique_tokens * repeat_bp div 10000"))
        .withColumn(
            "deficit_tokens",
            F.greatest(F.lit(0).cast("long"), F.expr("target_tokens - served_tokens")),
        )
        .select(
            "source",
            "n_docs",
            "unique_tokens",
            "quality_mass",
            "target_tokens",
            "repeat_bp",
            "served_tokens",
            "deficit_tokens",
        )
        .orderBy("source")
    )


def data_budget_repeats_oracle(
    budget_mult: int = REPEAT_BUDGET_MULT,
    max_repeat_bp: int = MAX_REPEAT_BP,
) -> str:
    """Oracle template over the budget multiplier and epoch cap."""
    return f"""
WITH per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS unique_tokens,
         CAST(sum(len(string_split(text, ' '))
              - len(list_filter(string_split(text, ' '),
                                t -> t IN ('the', 'a', 'and', 'of'))))
           AS BIGINT) AS quality_mass
  FROM documents GROUP BY source
), totals AS (
  SELECT CAST(sum(unique_tokens) * {int(budget_mult)} AS BIGINT) AS budget,
         CAST(sum(quality_mass) AS BIGINT) AS total_mass
  FROM per_source
), alloc AS (
  SELECT p.source, p.n_docs, p.unique_tokens, p.quality_mass,
         CAST(t.budget * p.quality_mass // t.total_mass AS BIGINT)
           AS target_tokens,
         CAST(least({int(max_repeat_bp)},
                    (t.budget * p.quality_mass // t.total_mass) * 10000
                      // p.unique_tokens) AS BIGINT) AS repeat_bp
  FROM per_source p, totals t
)
SELECT source, n_docs, unique_tokens, quality_mass, target_tokens, repeat_bp,
       CAST(unique_tokens * repeat_bp // 10000 AS BIGINT) AS served_tokens,
       CAST(greatest(0, target_tokens - unique_tokens * repeat_bp // 10000)
         AS BIGINT) AS deficit_tokens
FROM alloc
ORDER BY source
"""


DATA_BUDGET_REPEATS_ORACLE = data_budget_repeats_oracle()


def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity spectrum — the companion privacy pre-flight to
    ``k_anonymity_spectrum``: k-anonymity bounds how small a
    quasi-identifier group can get, l-diversity bounds how UNIFORM a
    group's sensitive attribute is (a k=50 group whose members all
    share one salary band is still fully disclosed). Groups customers
    by QI = (nation, market segment), measures the number of distinct
    $1000 balance bands per group, and reports the spectrum: for each
    diversity level l, how many QI groups sit at it and their size
    range. A release gate reads the l=1 row directly.

    Scale shape: two map-side combinable aggregations (QI+band, then
    QI), then a spectrum groupBy over the QI-group table — the same
    cardinality ladder as k_anonymity_spectrum.
    """
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("long")
    groups = (
        cust.select("c_nationkey", "c_mktsegment", band.alias("band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("k"), F.count_distinct("band").alias("l"))
    )
    return (
        groups.groupBy("l")
        .agg(
            F.count("*").alias("n_groups"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("l")
    )


L_DIVERSITY_ORACLE = """
WITH groups AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS k,
         count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l
  FROM customer GROUP BY 1, 2
)
SELECT l, count(*) AS n_groups, min(k) AS min_k, max(k) AS max_k
FROM groups GROUP BY l ORDER BY l
"""


DSIR_BUCKETS = 128
DSIR_TARGET_SOURCES = ("src0", "src1")  # the "trusted domain" stand-in


def dsir_importance_weights(
    spark: SparkSession, sf_dir: str, buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023): score every raw-corpus document by how target-domain-like
    its hashed n-gram profile is, w(d) = Σ_g [log p_target(h(g)) −
    log p_raw(h(g))], the standard cheap alternative to a trained
    quality classifier for pretraining data selection.

    Features are hashed word BIGRAMS into DSIR_BUCKETS fixed buckets
    (the same engine-portable md5 hashing trick as
    ``linear_quality_classifier``); target = documents from
    DSIR_TARGET_SOURCES, raw = the whole corpus; add-one smoothing on
    both distributions.

    Exactness: the per-bucket log-ratio is computed ONCE on the
    128-row bucket table and immediately quantized to integer
    MICRO-nats — round(ln((t_b+1)/(N_t+B) · (N_r+B)/(r_b+1)) · 1e6)
    — so the per-doc score is Σ count_{d,b} × L_micro(b), pure int64
    arithmetic whose reduction order cannot change a single bit
    cross-engine (the float ln touches only deterministic integer
    inputs, never data-order-dependent partial sums).

    Scale shape (r14 optimization): ONE data-sized shuffle — the
    (doc, source, bucket) count, partial-aggregated map-side to ≤128
    rows per doc — whose EXCHANGE IS SHARED by every consumer
    (ReusedExchange: the per-doc score chain and the histogram chain
    read the same shuffle output). Bigrams come from an array-side
    transform over the token array (guide §2.4): the previous
    posexplode + lead()-window formulation shuffled and sorted the
    whole token stream by doc_id — and re-ran that shuffle three
    times, once per consumer of `feats`. Both bucket histograms now
    come out of one 128-row aggregate over the shared shuffle (raw =
    sum of all counts, target = the same sum filtered on source), and
    BROADCAST back; no vocabulary state anywhere — the sketch width
    is constant at any corpus size, which is DSIR's entire point at
    100 TB.
    """
    # Scan-parallelism floor (guide §2.5): the md5 bucket hash per
    # bigram dominates and was serializing on the single-split scan.
    docs = load_table_parallel(spark, sf_dir, "documents")
    bigram_bucket = _hex4_bucket("concat(T[i], ' ', T[i+1])", buckets)
    # T[i] is 0-based subscripting; the CASE guards sequence() against
    # descending ranges on docs with < 2 tokens (empty bigram set).
    bigram_buckets_expr = (
        "CASE WHEN size(T) >= 2 THEN"
        f" transform(sequence(0, size(T) - 2), i -> {bigram_bucket})"
        " ELSE CAST(array() AS array<int>) END"
    )
    feats = docs.withColumn("T", _tokens()).select(
        "doc_id",
        "source",
        F.explode(F.expr(bigram_buckets_expr)).alias("b"),
    )
    doc_bucket = feats.groupBy("doc_id", "source", "b").agg(F.count("*").alias("c"))
    hist = doc_bucket.groupBy("b").agg(
        F.sum("c").alias("r_c"),
        F.sum(
            F.when(
                F.col("source").isin(*DSIR_TARGET_SOURCES), F.col("c")
            ).otherwise(F.lit(0))
        ).alias("t_c"),
    )
    tgt_hist = hist.select("b", "t_c")
    raw_hist = hist.select("b", "r_c")
    # corpus totals as broadcast 1-row aggregates (the bm25 `tot`
    # idiom) — no driver-side count() action, no extra scan jobs
    tgt_tot = hist.agg(F.coalesce(F.sum("t_c"), F.lit(0)).alias("tgt_n"))
    raw_tot = hist.agg(F.coalesce(F.sum("r_c"), F.lit(0)).alias("raw_n"))
    bucket_ids = spark.range(buckets).select(F.col("id").cast("int").alias("b"))
    lmicro = (
        bucket_ids.join(F.broadcast(tgt_hist), "b", "left")
        .join(F.broadcast(raw_hist), "b", "left")
        .crossJoin(F.broadcast(tgt_tot))
        .crossJoin(F.broadcast(raw_tot))
        .select(
            "b",
            # every operand CAST to DOUBLE explicitly: Spark parses a
            # bare 1.0 literal as DECIMAL and would route the ratio
            # through scale-limited decimal division (~1e-7 error —
            # enough to flip micro-nat rounding vs DuckDB's doubles)
            F.expr(
                f"CAST(round(ln("
                f"CAST(coalesce(t_c, 0) + 1 AS DOUBLE)"
                f" / CAST(tgt_n + {buckets} AS DOUBLE)"
                f" * CAST(raw_n + {buckets} AS DOUBLE)"
                f" / CAST(coalesce(r_c, 0) + 1 AS DOUBLE)) * 1e6)"
                f" AS BIGINT)"
            ).alias("l_micro"),
        )
    )
    return (
        doc_bucket.join(F.broadcast(lmicro), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("l_micro")).cast("long").alias("dsir_micro"),
        )
        .orderBy("doc_id")
    )


def dsir_oracle(buckets: int = DSIR_BUCKETS) -> str:
    """Oracle template over the DSIR sketch width (hashed-feature
    bucket count) — the memory/selectivity dial; the property sweep
    (tests/test_property.py) holds for every width, including tiny
    sketches where collisions dominate."""
    bucket_sql = _hex4_bucket("w1 || ' ' || w2", buckets)
    return f"""
WITH tok AS (
  SELECT doc_id, source,
         unnest(string_split(text, ' ')) AS w1,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), feats AS (
  SELECT doc_id, source, {bucket_sql} AS b
  FROM (
    SELECT doc_id, source, w1,
           lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok
  ) WHERE w2 IS NOT NULL
), tgt AS (
  SELECT * FROM feats WHERE source IN {DSIR_TARGET_SOURCES!r}
), tn AS (SELECT count(*) AS tgt_n FROM tgt),
rn AS (SELECT count(*) AS raw_n FROM feats),
lm AS (
  SELECT g.b,
         CAST(round(ln(CAST(coalesce(t.t_c, 0) + 1 AS DOUBLE)
                       / CAST(tn.tgt_n + {buckets} AS DOUBLE)
                       * CAST(rn.raw_n + {buckets} AS DOUBLE)
                       / CAST(coalesce(r.r_c, 0) + 1 AS DOUBLE))
                    * 1e6) AS BIGINT) AS l_micro
  FROM range({buckets}) g(b)
  LEFT JOIN (SELECT b, count(*) AS t_c FROM tgt GROUP BY b) t ON t.b = g.b
  LEFT JOIN (SELECT b, count(*) AS r_c FROM feats GROUP BY b) r ON r.b = g.b
  CROSS JOIN tn CROSS JOIN rn
), doc_bucket AS (
  SELECT doc_id, b, count(*) AS c FROM feats GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       CAST(sum(c * l_micro) AS BIGINT) AS dsir_micro
FROM doc_bucket JOIN lm USING (b)
GROUP BY doc_id
ORDER BY doc_id
"""


DSIR_ORACLE = dsir_oracle()


QUERIES: dict = {
    "dsir_importance_weights": (dsir_importance_weights, DSIR_ORACLE),
    "dataset_mixture_plan": (dataset_mixture_plan, MIXTURE_PLAN_ORACLE),
    "data_budget_repeats": (data_budget_repeats, DATA_BUDGET_REPEATS_ORACLE),
    "ks_drift_test": (ks_drift_test, KS_DRIFT_ORACLE),
    "vocab_oov_rate": (vocab_oov_rate, VOCAB_OOV_ORACLE),
    "adaptive_quality_gate": (adaptive_quality_gate, ADAPTIVE_GATE_ORACLE),
    "linear_quality_classifier": (
        linear_quality_classifier,
        LINEAR_CLASSIFIER_ORACLE,
    ),
    "dup_ngram_char_fraction": (dup_ngram_char_fraction, DUP_NGRAM_ORACLE),
    "k_anonymity_spectrum": (k_anonymity_spectrum, K_ANONYMITY_ORACLE),
    "l_diversity_report": (l_diversity_report, L_DIVERSITY_ORACLE),
    "deterministic_shuffle_shard": (
        deterministic_shuffle_shard,
        SHUFFLE_SHARD_ORACLE,
    ),
}
