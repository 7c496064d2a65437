"""Deduplication operators over ``documents`` / ``embeddings``.

North-star extension family (the reference has no dedup — SURVEY.md
§2.7): the five schemes a training-data pipeline needs, each designed
around Spark's shuffle model:

- exact (hash-groupBy): one shuffle on the content hash; at 100 TB,
  group on a digest (md5/sha2/xxhash64) instead of the raw text so
  shuffle rows are ~16 bytes + key, not documents.
- MinHash + LSH banding: signature computation is a narrow per-row
  pass (shingle -> hash -> 32 mins); candidate generation is an
  equi-join on (band_index, band_hash) — i.e. near-dup search becomes
  a *join on a small key*, the only formulation that scales: no
  all-pairs product ever materializes.
- SimHash: 64-bit fingerprint per doc; Hamming-<=k candidates via the
  pigeonhole band trick (4 x 16-bit bands) — again an equi-join.
- n-gram Jaccard: exact verification scheme; candidates from a shared
  shingle join with a document-frequency cap (a stop-phrase shingle
  shared by k docs would otherwise yield k² candidate rows), then
  exact set overlap per pair.
- embedding cosine: LSH-bucketed candidates (random hyperplanes,
  OR-amplified) + exact-cosine verify on candidates only — at the
  0.99 threshold the candidate stage's miss probability is ~6e-7, so
  the output equals the exact all-pairs answer the oracle computes.

The fixture corpus has no duplicates, so each query unions in a
deterministic set of injected (near-)duplicate rows — the dedup logic
is then verified by what it finds. Injection is pure column algebra,
identically expressed in the DuckDB oracles.

ANSI-safety (Spark 4 default): all element_at/index accesses are
guarded to valid ranges and hash arithmetic is reduced mod 1e9+7
before multiplication so nothing overflows int64.
"""

from __future__ import annotations

import os
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_parallel, source_of

MOD = 1_000_000_007
N_HASHES = 32
N_BANDS = 8  # 8 bands x 4 rows
BAND_ROWS = N_HASHES // N_BANDS

# deterministic affine minhash params (seeded, pinned — SURVEY.md §7.5.6)
_A = [2 * i + 1 for i in range(1, N_HASHES + 1)]  # odd multipliers
_B = [7919 * i + 104729 for i in range(N_HASHES)]


def _corpus_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-duplicate copies of doc_id < 25 (last word
    dropped, id shifted by 1,000,000).

    Repartitioned to the session's parallelism: the fixture parquet is
    a single small file (2 input splits), which would serialize the
    downstream shingle/hash work on 2 cores. The shuffle moves only the
    raw text once; at real scale the input has enough splits that this
    coalesces to a no-op under AQE."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.filter("doc_id < 25 AND size(split(text, ' ')) >= 2").selectExpr(
        "doc_id + 1000000 AS doc_id",
        "substr(text, 1, length(text) - length(element_at(split(text, ' '), -1)) - 1) AS text",
    )
    return docs.unionByName(near).repartition(spark.sparkContext.defaultParallelism)


_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         substr(text, 1, length(text) - length(string_split(text, ' ')[-1]) - 1) AS text
  FROM documents
  WHERE doc_id < 25 AND len(string_split(text, ' ')) >= 2
"""


def _corpus_with_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies of doc_id < 50 (id shifted)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return docs.unionByName(dups)


_EXACT_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 50
"""


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per distinct text.

    min_by aggregates map-side — only one survivor row per distinct
    text crosses the shuffle."""
    corpus = _corpus_with_exact_dups(spark, sf_dir)
    return (
        corpus.groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


DEDUP_EXACT_ORACLE = f"""
SELECT min(doc_id) AS keep_id, count(*) AS n_copies
FROM ({_EXACT_CORPUS_SQL})
GROUP BY text
"""


def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a content digest instead of raw text — the
    100 TB formulation: the shuffle key is 32 hex chars, and the text
    column is pruned from the exchange entirely."""
    corpus = _corpus_with_exact_dups(spark, sf_dir)
    return (
        corpus.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


DEDUP_EXACT_HASH_ORACLE = f"""
SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
FROM ({_EXACT_CORPUS_SQL})
GROUP BY md5(text)
"""


# --------------------------------------------------------------------------
# shingles (shared by minhash + jaccard)
# --------------------------------------------------------------------------

# word 3-gram shingles; docs with <3 tokens contribute their whole text.
# Guarded CASE keeps every element_at access in-range under ANSI mode.
_SHINGLES_EXPR = """
CASE WHEN size(split(text, ' ')) >= 3 THEN
  transform(sequence(1, size(split(text, ' ')) - 2),
            i -> concat_ws(' ', element_at(split(text, ' '), i),
                                element_at(split(text, ' '), i + 1),
                                element_at(split(text, ' '), i + 2)))
ELSE array(text) END
"""

_SHINGLES_SQL = """
CASE WHEN len(string_split(text, ' ')) >= 3 THEN
  list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i + 1] || ' ' ||
                      string_split(text, ' ')[i + 2])
ELSE [text] END
"""

# _SHINGLES_EXPR with the token split hoisted into a materialized
# `_toks` column (r15, guide §1.2 step 2): inside an interpreted HOF
# lambda each `element_at(split(text, ' '), i)` re-splits the whole
# text per element — O(tokens^2) allocations per document. That
# allocation burst is what collapsed 32-concurrent-task stages under a
# loaded heap (VERDICT r14 #1; reproduced in
# results/winnow_token_hash_ab.json as isolated 25 s reps). Shingle
# VALUES are identical; only the evaluation cost changes.
_SHINGLES_FROM_TOKS_EXPR = """
CASE WHEN size(_toks) >= 3 THEN
  transform(sequence(1, size(_toks) - 2),
            i -> concat_ws(' ', element_at(_toks, i),
                                element_at(_toks, i + 1),
                                element_at(_toks, i + 2)))
ELSE array(text) END
"""


def _distinct_shingled(
    frame: DataFrame, alias: str = "sh", cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """(cols..., <alias>) rows: per-doc DISTINCT word-3-gram shingles
    built from ONE split per row (see _SHINGLES_FROM_TOKS_EXPR)."""
    return frame.withColumn("_toks", F.expr("split(text, ' ')")).selectExpr(
        *cols, f"explode(array_distinct({_SHINGLES_FROM_TOKS_EXPR})) AS {alias}"
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def minhash_signatures(corpus: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """Per-doc MinHash signature as an array<long> column.

    explode(shingles) -> xxhash64 ONCE per shingle -> N affine
    permutations as N min() aggregates in a single hash agg keyed on
    doc_id. The expensive hash runs once per shingle (not once per
    shingle x permutation), and partial aggregation means only
    n_hashes longs per doc cross the shuffle — the formulation that
    holds at 100 TB. (A previous all-lambda projection re-hashed every
    shingle 32x inside transform() closures: 7s for 5k docs at sf0.1
    vs ~1s for this one.)
    """
    hashed = _distinct_shingled(corpus, "s").selectExpr("doc_id", f"pmod(xxhash64(s), {MOD}) AS h")
    aggs = [F.expr(f"min(pmod({_A[i]}L * h + {_B[i]}L, {MOD})) AS mh_{i}") for i in range(n_hashes)]
    signature = ", ".join(f"mh_{i}" for i in range(n_hashes))
    return (
        hashed.groupBy("doc_id")
        .agg(*aggs)
        .selectExpr("doc_id", f"array({signature}) AS signature")
    )


# (session UUID, index name, params) -> (input-file URIs, their
# identities at build time, the leaf or leaves)
_INDEXES: dict[tuple, tuple[list, list, DataFrame | tuple[DataFrame, DataFrame]]] = {}


def _file_identities(uris: list[str]) -> list[tuple[str, int, int] | None]:
    """(path, size, mtime_ns) per input-file URI, None where the file
    cannot be stat'ed (a remote URI, a deleted file). A re-chunked scan
    copy stands for its source (``catalog.source_of``), whose identity
    is the one that changes on a rewrite."""
    out = []
    for uri in uris:
        path = source_of(unquote(urlparse(uri).path))
        try:
            st = os.stat(path)
        except OSError:
            out.append(None)
        else:
            out.append((path, st.st_size, st.st_mtime_ns))
    return out


def _index(
    spark: SparkSession,
    name: str,
    build: Callable[[], DataFrame],
    *params: object,
    derive: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """An index structure (MinHash signatures, SimHash bands, shingle
    postings, LSH buckets, IVF inverted lists) as a materialized leaf,
    built once per session and input-file identity, then queried.

    The lookup key is (session UUID, ``name``, ``params``): ``params``
    are the call arguments the index depends on (``sf_dir``, a window
    width), never a search parameter such as ``n_probe``. On a miss,
    ``build()`` makes the frame, the identity ``(path, size, mtime_ns)``
    of every file in its ``inputFiles()`` is recorded, and the frame is
    stored as ``localCheckpoint(eager=True)`` at MEMORY_AND_DISK. A hit
    re-stats those files and returns the same leaf, so a rebuilt query
    fires no job and is analysed over a ``Scan ExistingRDD``, not over
    the whole index plan; a rewritten or vanished file rebuilds it (the
    file-identity rule of ``catalog.read_parquet``). ``derive`` makes a
    second index from the first one's leaf (a band table from the
    signatures); it lives in the same entry, so it is rebuilt with its
    base, and the call returns both leaves. Entries of other sessions
    are dropped when one is stored. At 100 TB the same role is a stored
    table (``_ensure_minhash_index_tables``)."""
    key = (spark._jsparkSession.sessionUUID(), name, params)
    entry = _INDEXES.get(key)
    if entry is not None:
        uris, idents, leaf = entry
        if None not in idents and _file_identities(uris) == idents:
            return leaf
    frame = build()
    uris = frame.inputFiles()
    idents = _file_identities(uris)
    level = StorageLevel.MEMORY_AND_DISK
    leaf = frame.localCheckpoint(eager=True, storageLevel=level)
    if derive is not None:
        leaf = (leaf, derive(leaf).localCheckpoint(eager=True, storageLevel=level))
    for other in [k for k in _INDEXES if k[0] != key[0]]:
        del _INDEXES[other]
    _INDEXES[key] = (uris, idents, leaf)
    return leaf


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs.

    Banding: the 32-long signature splits into 8 bands of 4; a pair is
    a candidate iff some band hashes equal — an equi-join on
    (band_index, band_hash). Verification estimates Jaccard as the
    fraction of equal signature positions and keeps pairs >= 0.5.

    No oracle: the result depends on xxhash64, which DuckDB cannot
    reproduce (driver records the rows-only check). The exact-Jaccard
    twin `dedup_ngram_jaccard` is the hash-free, fully oracle-checked
    version of the same pipeline.
    """
    sigs = _index(
        spark, "minhash_lsh_sigs",
        lambda: minhash_signatures(_corpus_with_near_dups(spark, sf_dir)), sf_dir,
    )
    # Bands carry only (doc_id, band, bh) — 3 longs/row — through the
    # candidate join; the 32-long signatures are re-attached to the
    # (far smaller) deduplicated pair set afterwards. Shuffling full
    # signatures through an 8-way-exploded self-join moves 8x the
    # bytes for nothing. `sigs` feeds three consumers (bands + two
    # re-attach joins), so it is an index leaf — computed once, not
    # three times. At 100 TB the same role is played by writing the
    # signature table to storage once and reading it back.
    bands = band_table(sigs)

    cand = (
        bands.alias("l")
        .join(bands.alias("r"), F.expr("l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id"))
        .selectExpr("l.doc_id AS doc_a", "r.doc_id AS doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .join(sigs.selectExpr("doc_id AS doc_a", "signature AS sig_a"), "doc_a")
        .join(sigs.selectExpr("doc_id AS doc_b", "signature AS sig_b"), "doc_b")
    )

    est = (
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
        f" 0, (acc, v) -> acc + v) / {N_HASHES}"
    )
    return (
        cand.withColumn("est_jaccard", F.expr(f"round({est}, 4)"))
        .filter("est_jaccard >= 0.5D")
        .selectExpr("doc_a", "doc_b", "est_jaccard")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash_fingerprints(corpus: DataFrame) -> DataFrame:
    """64-bit SimHash per doc from token hashes.

    Explode tokens -> per-bit +/-1 vote -> sign -> assemble fingerprint.
    One shuffle on doc_id (the vote aggregation); everything else is
    column algebra. At scale the explode+agg is a partial-aggregating
    hash agg, so vote traffic is 64 ints per doc, not per token.
    """
    toks = (
        corpus.select("doc_id", F.explode(F.expr("array_distinct(split(text, ' '))")).alias("tok"))
        .withColumn("h", F.xxhash64("tok"))
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {k}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"v{k}")
            for k in range(64)
        ]
    )
    # assemble: bit k set iff vote > 0; build as sum of shiftleft(1, k).
    fp = None
    for k in range(64):
        bit = F.when(F.col(f"v{k}") > 0, F.expr(f"shiftleft(CAST(1 AS LONG), {k})")).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit
    return votes.select("doc_id", fp.alias("simhash"))


HAMMING_MAX = 3  # Manku et al. (WWW'07) web-dedup operating point


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance <= 3 on 64-bit
    fingerprints, candidates via 4 x 16-bit pigeonhole bands.

    The banding is *complete* for this threshold: <=3 differing bits
    cannot touch all 4 bands, so every qualifying pair shares at least
    one exact band — candidate generation provably misses nothing
    (the guarantee breaks above hamming = bands-1; wider thresholds
    need more/narrower bands and quadratically larger candidate sets).
    Rows-only check — xxhash64-dependent; tests/test_semantics.py
    asserts found == {injected pairs with hamming<=3} exactly.
    """

    def build() -> DataFrame:
        fps = simhash_fingerprints(_corpus_with_near_dups(spark, sf_dir))
        return fps.select(
            "doc_id",
            "simhash",
            F.explode(
                F.expr("transform(sequence(0, 3), b -> struct(b AS band, shiftright(simhash, b * 16) & 65535 AS bh))")
            ).alias("x"),
        ).select("doc_id", "simhash", F.col("x.band").alias("band"), F.col("x.bh").alias("bh"))

    # Self-joined below (l and r both scan it): an index leaf, so the
    # 64-vote fingerprint aggregation runs once, not once per join side.
    bands = _index(spark, "simhash_bands", build, sf_dir)

    cand = (
        bands.alias("l")
        .join(
            bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("fp_a"),
            F.col("r.simhash").alias("fp_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.expr("bit_count(fp_a ^ fp_b)")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------------
# exact n-gram Jaccard (the oracle-checked near-dup scheme)
# --------------------------------------------------------------------------


MAX_SHINGLE_DF = 20  # drop shingles appearing in more docs than this


def _shingle_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared exact-overlap pair pipeline: corpus -> distinct word-3-gram
    shingles -> DF cap -> postings self-join -> (doc_a, doc_b, sz_a,
    sz_b, common). The Jaccard and containment dedup measures are both
    one projection over this frame.

    Candidates come from a self-join on shared shingles (never an
    all-pairs product), with a document-frequency cap first: a shingle
    appearing in > MAX_SHINGLE_DF docs (a stop phrase) contributes
    nothing to near-dup evidence but k² rows to the candidate join —
    the classic quadratic skew-blowup at scale. Hot shingles are
    removed from the shingle sets on BOTH sides (sizes are computed on
    the capped sets, so every derived measure lives in the filtered
    shingle space), identically in the oracles. The hot set is tiny —
    a broadcast anti-join, no shuffle. The join result carries per-doc
    set sizes so no second pass is needed. Hash-free, deterministic,
    and an index leaf (:func:`_index`): the Jaccard query, the
    containment query, and the CC clustering all share ONE build.
    """

    def build() -> DataFrame:
        all_shingled = _distinct_shingled(_corpus_with_near_dups(spark, sf_dir))
        hot = (
            all_shingled.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > MAX_SHINGLE_DF)
            .select("sh")
        )
        shingled = all_shingled.join(F.broadcast(hot), "sh", "left_anti")
        sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("sz"))
        return shingled.join(sizes, "doc_id")

    sh_sz = _index(spark, "shingle_postings", build, sf_dir)

    l, r = sh_sz.alias("l"), sh_sz.alias("r")
    return (
        l.join(r, (F.col("l.sh") == F.col("r.sh")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .groupBy(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.sz").alias("sz_a"),
            F.col("r.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("common"))
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.6) over
    the shared :func:`_shingle_overlap_pairs` pipeline: Jaccard =
    common / (|A| + |B| - common). Fully DuckDB-oracle-checked.
    """
    pairs = _shingle_overlap_pairs(spark, sf_dir)
    jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    return (
        pairs.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= 0.6)
        .select("doc_a", "doc_b", "jaccard")
    )


CONTAINMENT_THRESHOLD = 0.9


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-subset (containment) dedup: pairs where the smaller doc's
    shingle set is >= 90% inside the larger's — containment =
    common / min(|A|, |B|), the Broder containment coefficient.

    Catches what symmetric Jaccard structurally misses: a document
    embedded verbatim in one 3x its length has Jaccard <= 1/3 (never
    reaches a near-dup threshold) but containment 1.0 — the
    boilerplate-expansion / quoted-reuse case a pretraining corpus
    actually needs deduped. Same DF-capped postings join as the
    Jaccard query (shared, cache-keyed build via
    :func:`_shingle_overlap_pairs`); only the final measure differs.
    Emits both measures so downstream policy can distinguish
    "identical" (high Jaccard) from "subsumed" (high containment,
    low Jaccard).
    """
    pairs = _shingle_overlap_pairs(spark, sf_dir)
    cont = F.col("common") / F.least(F.col("sz_a"), F.col("sz_b"))
    jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    return (
        pairs.withColumn("containment", F.round(cont, 4))
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("doc_a", "doc_b", "containment", "jaccard")
    )


# Shared CTE chain: corpus -> DF-capped shingles -> exact-Jaccard
# candidate pairs. DEDUP_NGRAM_JACCARD_ORACLE selects >= 0.6 pairs from
# it; DEDUP_MINHASH_RECALL_ORACLE counts its >= 0.9 subset.
_JACCARD_PAIRS_CTE = f"""
WITH corpus AS ({_CORPUS_SQL}),
all_shingled AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS sh
  FROM corpus
),
hot AS (
  SELECT sh FROM all_shingled GROUP BY sh HAVING count(*) > {MAX_SHINGLE_DF}
),
shingled AS (
  SELECT * FROM all_shingled WHERE sh NOT IN (SELECT sh FROM hot)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
sh_sz AS (SELECT s.doc_id, s.sh, z.sz FROM shingled s JOIN sizes z USING (doc_id)),
pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, l.sz AS sz_a, r.sz AS sz_b,
         count(*) AS common
  FROM sh_sz l JOIN sh_sz r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2, 3, 4
)
"""

DEDUP_NGRAM_JACCARD_ORACLE = f"""
{_JACCARD_PAIRS_CTE}
SELECT doc_a, doc_b,
       round(common / (sz_a + sz_b - common), 4) AS jaccard
FROM pairs
WHERE common / (sz_a + sz_b - common) >= 0.6
"""


DEDUP_CONTAINMENT_ORACLE = f"""
{_JACCARD_PAIRS_CTE}
SELECT doc_a, doc_b,
       round(common / least(sz_a, sz_b), 4) AS containment,
       round(common / (sz_a + sz_b - common), 4) AS jaccard
FROM pairs
WHERE common / least(sz_a, sz_b) >= {CONTAINMENT_THRESHOLD}
"""


# --------------------------------------------------------------------------
# winnowing (MOSS) fingerprint dedup
# --------------------------------------------------------------------------

WINNOW_W = 4  # window of consecutive shingle hashes; selectivity ~2/(w+1)
WINNOW_JACCARD = 0.5  # pair threshold on winnowed-print Jaccard
MAX_PRINT_DF = 20  # stop-print cap, same rationale as MAX_SHINGLE_DF

# Ordered shingle-hash sequence: the module's word-3-gram shingles
# (ORDER PRESERVED — winnowing is position-sensitive, so no
# array_distinct here, unlike the Jaccard pipeline), each hashed with
# doc_fingerprint's portable polynomial fold (acc·31 + codepoint,
# mod 1e9+7). One codegen'd projection, zero shuffle.
#
# Kept as the REFERENCE formulation (scale probes A/B against it; the
# DuckDB oracle recomputes the same formula): it chars every shingle
# independently, so each character is folded ~3x (once per covering
# 3-gram) with a per-char substring allocation inside an interpreted
# lambda. The query paths use the token-level factorization below,
# which produces bit-identical values with each character folded ONCE.
_WINNOW_HASHES_EXPR = f"""
transform({_SHINGLES_EXPR},
          s -> aggregate(sequence(1, length(s)), 0L,
                         (acc, i) -> (acc * 31 + ascii(substring(s, i, 1)))
                                     % 1000000007))
"""

_WINNOW_P = 1_000_000_007
# 31^k mod p for k = 0..63 — covers every realistic token length; the
# rare longer token falls back to a multiply fold.
_POW31_LITERAL = "array(%s)" % ", ".join(
    f"{pow(31, k, _WINNOW_P)}L" for k in range(64)
)

# Per-token polynomial hash + 31^len power, from a pre-split token
# array column `_toks`. The polynomial fold is LINEAR over
# concatenation — H(a || b) = (H(a) * 31^len(b) + H(b)) mod p — so the
# per-shingle hash of "t1 t2 t3" is an O(1) combine of per-token
# hashes and powers (space = codepoint 32, 31^1 = 31). Each character
# is folded exactly once per document instead of once per covering
# shingle (~3x less interpreted-lambda work, no concat_ws shingle
# strings, no per-shingle char re-walk); all intermediates stay below
# p^2 ~ 1e18 < 2^63, so the modular identity is exact (r15
# optimization, guide §1.2 step 2 "per-task work").
_TOKEN_HASHES_EXPR = """
transform(_toks, t -> CASE WHEN length(t) = 0 THEN 0L ELSE
  aggregate(sequence(1, length(t)), 0L,
            (acc, i) -> (acc * 31 + ascii(substring(t, i, 1)))
                        % 1000000007) END)
"""

_TOKEN_POWS_EXPR = f"""
transform(_toks, t -> CASE WHEN length(t) < 64
  THEN element_at({_POW31_LITERAL}, length(t) + 1)
  ELSE aggregate(sequence(1, length(t)), 1L,
                 (acc, i) -> (acc * 31) % 1000000007) END)
"""


def _combine_sql(parts_h: list[str], parts_pw: list[str]) -> str:
    """Left-fold combine of per-token hashes into the hash of the
    space-joined string: H = ((H*31 + 32) % p * pw_k + h_k) % p per
    appended token. Emitted as a flat expression (no lambda)."""
    expr = parts_h[0]
    for h, pw in zip(parts_h[1:], parts_pw[1:]):
        expr = f"((({expr}) * 31 + 32) % {_WINNOW_P} * {pw} + {h}) % {_WINNOW_P}"
    return expr


# Shingle hashes from token hashes: the 3-gram branch combines
# (i, i+1, i+2); the short-doc branch (< 3 tokens) combines the whole
# token list, which equals the char fold of the raw text because
# split-on-' '/join-with-' ' is lossless.
_WINNOW_H_FROM_TOKENS_EXPR = (
    "CASE WHEN size(_th) >= 3 THEN transform(sequence(1, size(_th) - 2), i -> "
    + _combine_sql(
        ["element_at(_th, i)", "element_at(_th, i + 1)", "element_at(_th, i + 2)"],
        ["1", "element_at(_pw, i + 1)", "element_at(_pw, i + 2)"],
    )
    + ") WHEN size(_th) = 2 THEN array("
    + _combine_sql(
        ["element_at(_th, 1)", "element_at(_th, 2)"], ["1", "element_at(_pw, 2)"]
    )
    + ") ELSE array(element_at(_th, 1)) END"
)


def _with_winnow_hashes(frame: DataFrame) -> DataFrame:
    """Add the ordered winnow-hash array ``H`` (bit-identical to
    ``_WINNOW_HASHES_EXPR`` / the DuckDB ``_WINNOW_HASHES_SQL``) via
    the token-level factorization. Staged projections keep the token
    split and per-token folds evaluated once per row (the produced
    arrays are referenced more than once downstream, which blocks
    CollapseProject from re-inlining them)."""
    return (
        frame.withColumn("_toks", F.split(F.col("text"), " "))
        .withColumn("_th", F.expr(_TOKEN_HASHES_EXPR))
        .withColumn("_pw", F.expr(_TOKEN_POWS_EXPR))
        .withColumn("H", F.expr(_WINNOW_H_FROM_TOKENS_EXPR))
        .drop("_toks", "_th", "_pw")
    )


def _prints_expr(w: int) -> str:
    """Winnowed prints from the hash array ``H``: distinct window-min
    over windows of w consecutive hashes. The window min is a flat
    ``least(element_at(...))`` chain instead of ``array_min(slice())``
    — no per-window array allocation (r15; H entries are never NULL,
    so least == array_min)."""
    w = int(w)
    if w <= 1:
        win_min = "element_at(H, st)"
    else:
        win_min = "least(%s)" % ", ".join(
            f"element_at(H, st + {k})" for k in range(w)
        )
    return (
        f"CASE WHEN size(H) >= {w} THEN"
        f" array_distinct(transform(sequence(1, size(H) - {w} + 1),"
        f" st -> {win_min}))"
        f" ELSE array(array_min(H)) END"
    )

_WINNOW_HASHES_SQL = f"""
list_transform({_SHINGLES_SQL},
               s -> list_reduce(
                      list_prepend(0::BIGINT,
                        list_transform(range(1, length(s) + 1),
                          i -> ascii(substr(s, CAST(i AS INT), 1))::BIGINT)),
                      (a, b) -> (a * 31 + b) % 1000000007))
"""


def dedup_winnowing_fingerprints(
    spark: SparkSession, sf_dir: str, w: int = WINNOW_W
) -> DataFrame:
    """Winnowing near-dup pairs (Schleimer/Wilkerson/Aiken, the MOSS
    fingerprinting scheme): hash the ORDERED word-3-gram sequence,
    slide a window of WINNOW_W consecutive hashes, and keep each
    window's MINIMUM as a fingerprint. The winnowing guarantee: any
    shared run of WINNOW_W + 2 consecutive tokens contributes at
    least one shared fingerprint, while the kept set is ~2/(w+1) of
    all shingles — a tunable density/recall dial the plain Jaccard
    pipeline lacks. We fingerprint by window-min VALUE (the original
    selects the rightmost minimal POSITION; value-sets make the
    fingerprint identical cross-engine with no tie-break protocol and
    dedupe the same runs).

    The window-min is per-document array arithmetic (transform over
    sequence + array_min over slice) — ZERO shuffle until the
    fingerprint postings join, which is the same DF-capped equi-join
    shape as :func:`_shingle_overlap_pairs`: candidates are only ever
    docs sharing a (rare) print, never an all-pairs product, and the
    print stream entering the shuffle is ~w/2× smaller than the
    shingle stream the Jaccard pipeline ships. Pair score = Jaccard
    over winnowed-print sets, threshold WINNOW_JACCARD.
    """

    def build() -> DataFrame:
        all_prints = (
            _with_winnow_hashes(_corpus_with_near_dups(spark, sf_dir))
            .select("doc_id", F.explode(F.expr(_prints_expr(w))).alias("p"))
            # A zero-shingle doc yields a NULL print (array_min of empty H).
            # Drop it explicitly on BOTH engines: Spark's left_anti would keep
            # the NULL posting row (inflating that doc's sz) while the oracle's
            # NOT IN drops it — a latent asymmetry even though NULL never
            # equi-joins into pairs (ADVICE r7).
            .filter(F.col("p").isNotNull())
        )
        hot = (
            all_prints.groupBy("p")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > MAX_PRINT_DF)
            .select("p")
        )
        pruned = all_prints.join(F.broadcast(hot), "p", "left_anti")
        sizes = pruned.groupBy("doc_id").agg(F.count("*").alias("sz"))
        return pruned.join(sizes, "doc_id")

    p_sz = _index(spark, "winnow_postings", build, sf_dir, w)
    l, r = p_sz.alias("l"), p_sz.alias("r")
    pairs = (
        l.join(r, (F.col("l.p") == F.col("r.p")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .groupBy(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.sz").alias("sz_a"),
            F.col("r.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    return (
        pairs.withColumn("print_jaccard", F.round(jac, 4))
        .filter(F.col("print_jaccard") >= WINNOW_JACCARD)
        .select("doc_a", "doc_b", "common", "print_jaccard")
    )


def winnowing_oracle(w: int = WINNOW_W) -> str:
    """Oracle template over the winnow window — the density/recall
    dial (kept prints ~2/(w+1)); the property sweep
    (tests/test_property.py) must hold for every w, not just the
    registry's WINNOW_W=4 (VERDICT r7 #5)."""
    return f"""
WITH corpus AS ({_CORPUS_SQL}),
hashed AS (
  SELECT doc_id, {_WINNOW_HASHES_SQL} AS h FROM corpus
),
winnowed AS (
  SELECT doc_id,
         CASE WHEN len(h) >= {w} THEN
           list_distinct(list_transform(range(1, len(h) - {w} + 2),
                         st -> list_min(h[st:st + {w} - 1])))
         ELSE [list_min(h)] END AS prints
  FROM hashed
),
all_prints AS (
  -- p IS NOT NULL mirrors the Spark-side filter: a zero-shingle doc's
  -- NULL print must vanish identically on both engines (ADVICE r7)
  SELECT * FROM (SELECT doc_id, unnest(prints) AS p FROM winnowed)
  WHERE p IS NOT NULL
),
hot AS (
  SELECT p FROM all_prints GROUP BY p HAVING count(*) > {MAX_PRINT_DF}
),
pruned AS (
  SELECT * FROM all_prints WHERE p NOT IN (SELECT p FROM hot)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY doc_id),
p_sz AS (SELECT s.doc_id, s.p, z.sz FROM pruned s JOIN sizes z USING (doc_id)),
pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, l.sz AS sz_a, r.sz AS sz_b,
         count(*) AS common
  FROM p_sz l JOIN p_sz r ON l.p = r.p AND l.doc_id < r.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, common,
       round(common / (sz_a + sz_b - common), 4) AS print_jaccard
FROM pairs
WHERE common / (sz_a + sz_b - common) >= {WINNOW_JACCARD}
"""


DEDUP_WINNOWING_ORACLE = winnowing_oracle()


DECON_MIN_SHARED = 2  # quarantine at >= 2 shared winnowed prints


def decontaminate_winnowing(
    spark: SparkSession, sf_dir: str, min_shared: int = DECON_MIN_SHARED
) -> DataFrame:
    """Benchmark decontamination via winnowing fingerprints — the
    paraphrase-robust upgrade of ``text.contamination_ngram_overlap``
    (same bench/leak construction: benchmark = doc_id % 17 == 0,
    exact leaks re-injected at +2M ids for every third benchmark doc,
    TRUNCATED leaks — last word dropped — at +3M ids for every second,
    so the detector provably fires on both). Instead of matching raw
    3-gram shingles, both sides reduce to winnowed window-min prints
    (WINNOW_W, the MOSS guarantee: any shared run of w+2 tokens still
    shares a print), which cuts the broadcast set and the probe
    stream ~2/(w+1)x while keeping contiguous-overlap recall — the
    reason real decontamination pipelines fingerprint instead of
    shipping every n-gram.

    Output: the quarantine list only (docs with >= min_shared shared
    prints, integer-exact — the precision/recall dial; default
    DECON_MIN_SHARED, property-swept in tests/test_property.py), never
    the corpus. Scale shape: the
    benchmark print set is tiny by construction (evals are MBs,
    corpora are TBs) and BROADCASTS; the corpus side is one projection
    + explode with a map-side-combinable distinct, no corpus-keyed
    shuffle of text. Cites the reference's benchmark framing only —
    composition is original (reference has no dedup machinery).
    """
    # Scan-parallelism floor (r14 optimization, guide §2.5): the winnow
    # char-fold below is the query's dominant cost and was serializing
    # on the fixture's single-split parquet scan; see
    # catalog.load_table_parallel for the scale gate.
    docs = load_table_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    trimmed = F.expr(
        "substr(text, 1, length(text) - length(element_at(split(text, ' '), -1)) - 1)"
    )
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    leak_exact = bench.filter(F.col("doc_id") % 51 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    leak_trunc = (
        bench.filter((F.col("doc_id") % 34 == 0) & (F.size(toks) >= 2))
        .select((F.col("doc_id") + 3_000_000).alias("doc_id"), trimmed.alias("text"))
    )
    corpus = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .unionByName(leak_exact)
        .unionByName(leak_trunc)
    )
    def prints_of(frame: DataFrame) -> DataFrame:
        # Token-level winnow hashes (r15, see _with_winnow_hashes):
        # bit-identical values, ~3x less per-char fold work — the fold
        # was this query's dominant cost AND its 32-core GC-pressure
        # driver (VERDICT r14 #1: 32 concurrent allocation-heavy HOF
        # tasks anti-scaled 7x vs 8 cores under a loaded heap).
        return (
            _with_winnow_hashes(frame)
            .select("doc_id", F.explode(F.expr(_prints_expr(WINNOW_W))).alias("p"))
            .filter(F.col("p").isNotNull())
        )

    bench_prints = prints_of(bench).select("p").distinct()
    corpus_prints = prints_of(corpus)
    # ONE pass over the corpus prints (r14 optimization, guide §1.2/§2.4):
    # the previous shared/sizes pair each re-derived the full winnow-hash
    # explode (the expensive subtree) and shuffled it twice; a broadcast
    # membership mark + a single per-doc aggregate computes both counts
    # from one derivation and one doc_id shuffle. The >= 1 floor keeps
    # the inner-join semantics of the two-table formulation (a doc with
    # zero shared prints never appeared in `shared`), matching the
    # oracle for every min_shared.
    marked = corpus_prints.join(
        F.broadcast(bench_prints.withColumn("hit", F.lit(1))), "p", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("hit").alias("shared_prints"),
            F.count("*").alias("n_prints"),
        )
        .filter(F.col("shared_prints") >= max(int(min_shared), 1))
        .select("doc_id", "shared_prints", "n_prints")
        .orderBy("doc_id")
    )


def decon_winnowing_oracle(min_shared: int = DECON_MIN_SHARED) -> str:
    """Oracle template over the quarantine threshold (VERDICT r8 #6):
    min_shared=1 fires on any single shared print (max recall,
    collision-sensitive), large values demand long contiguous overlap."""
    return _DECON_WINNOWING_ORACLE_TEMPLATE.format(min_shared=int(min_shared))


_DECON_WINNOWING_ORACLE_TEMPLATE = f"""
WITH bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0
),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM bench WHERE doc_id % 51 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         substr(text, 1, length(text) - length(string_split(text, ' ')[-1]) - 1)
           AS text
  FROM bench
  WHERE doc_id % 34 = 0 AND len(string_split(text, ' ')) >= 2
),
bh AS (SELECT doc_id, {_WINNOW_HASHES_SQL} AS h FROM bench),
ch AS (SELECT doc_id, {_WINNOW_HASHES_SQL} AS h FROM corpus),
bw AS (
  SELECT doc_id,
         CASE WHEN len(h) >= {WINNOW_W} THEN
           list_distinct(list_transform(range(1, len(h) - {WINNOW_W} + 2),
                         st -> list_min(h[st:st + {WINNOW_W} - 1])))
         ELSE [list_min(h)] END AS prints
  FROM bh
),
cw AS (
  SELECT doc_id,
         CASE WHEN len(h) >= {WINNOW_W} THEN
           list_distinct(list_transform(range(1, len(h) - {WINNOW_W} + 2),
                         st -> list_min(h[st:st + {WINNOW_W} - 1])))
         ELSE [list_min(h)] END AS prints
  FROM ch
),
bench_prints AS (
  SELECT DISTINCT p
  FROM (SELECT unnest(prints) AS p FROM bw) WHERE p IS NOT NULL
),
corpus_prints AS (
  SELECT * FROM (SELECT doc_id, unnest(prints) AS p FROM cw)
  WHERE p IS NOT NULL
),
shared AS (
  SELECT doc_id, count(*) AS shared_prints
  FROM corpus_prints
  WHERE p IN (SELECT p FROM bench_prints)
  GROUP BY doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_prints FROM corpus_prints GROUP BY doc_id)
SELECT doc_id,
       CAST(shared_prints AS BIGINT) AS shared_prints,
       CAST(n_prints AS BIGINT) AS n_prints
FROM shared JOIN sizes USING (doc_id)
WHERE shared_prints >= {{min_shared}}
ORDER BY doc_id
"""


DECON_WINNOWING_ORACLE = decon_winnowing_oracle()


# --------------------------------------------------------------------------
# exact-substring dedup (the suffix-array technique, Lee et al. 2022)
# --------------------------------------------------------------------------

MATCH_LEN = 8  # tokens; the Lee et al. 2022 "50-token" dial, scaled to
#                the fixture corpus (docs are 10-99 tokens; 50 would
#                exceed most of them). The property sweep
#                (tests/test_property.py) covers the dial's range.


def dedup_substring_exact(
    spark: SparkSession, sf_dir: str, match_len: int = MATCH_LEN
) -> DataFrame:
    """Exact duplicated-substring spans — the distributed analogue of
    Lee et al. 2022's suffix-array ExactSubstr dedup ("Deduplicating
    Training Data Makes Language Models Better"): find every maximal
    token span whose MATCH_LEN-token runs each occur >= 2 times in the
    corpus (any offset, any document, within-doc repeats included),
    i.e. the spans ExactSubstr would cut. The reduction that makes
    this Spark-native instead of a monolithic suffix array: a
    substring of >= L tokens is duplicated iff every one of its
    L-token windows is duplicated, so duplicated-window detection +
    interval union reproduces the deletion set without any global
    sort over the corpus concatenation.

    Plan shape (the VERDICT r8 #4 formulation): (1) per-doc window
    hashes are pure array arithmetic — ZERO shuffle, and the posting
    stream is BOUNDED at one (doc_id, pos, int64) row per token
    position, never the gram text; (2) the only data-sized shuffle
    partial-aggregates map-side to count hash occurrences; (3) the
    extend-match VERIFY re-derives gram text only for postings whose
    hash is duplicated (candidates, a vanishing fraction at scale —
    measured in results/substring_scale.json) and re-counts on the
    text itself, so polynomial-hash collisions (the mod-1e9+7 space
    WILL birthday at 100 TB) can never fabricate a span; (4) island
    merge is one window function over (doc_id, pos). Candidate gram
    re-derivation joins the doc-keyed candidate list back to the token
    arrays, which AQE broadcasts when small — the corpus itself is
    never re-shuffled.

    Output: (doc_id, span_start, span_end, span_tokens,
    n_dup_windows), 1-based token positions, one row per maximal
    quarantine span. Cites the reference's dedup-free benchmark
    framing only (NB-main has no dedup machinery); the algorithm is
    from the public Lee et al. paper, re-expressed declaratively.
    """
    from pyspark.sql import Window

    L = int(match_len)
    corpus = _corpus_with_near_dups(spark, sf_dir)
    toked = (
        corpus.select("doc_id", F.split("text", " ").alias("T"))
        .filter(F.size("T") >= L)
    )
    # Window hash = native xxhash64 over the L-token slice (r14
    # optimization, guide §4.1 "prefer built-ins"). The hash is ONLY a
    # verified pre-filter — stage (3) re-counts on the gram TEXT, so any
    # deterministic hash yields the same output; the previous portable
    # per-character polynomial fold (acc*31+cp mod 1e9+7) materialized
    # each gram string and paid two modulos per character, ~50 codegen
    # ops per window vs one vectorized xxhash64 over the slice. The
    # engine-neutrality the old fold bought is not needed here because
    # the oracle groups on gram text, never on the hash.
    window_hashes = (
        f"transform(sequence(1, size(T) - {L} + 1),"
        f"          st -> xxhash64(slice(T, st, {L})))"
    )
    postings = toked.select(
        "doc_id", F.posexplode(F.expr(window_hashes)).alias("i", "h")
    ).select("doc_id", (F.col("i") + 1).cast("long").alias("pos"), "h")
    dup_h = (
        postings.groupBy("h")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("h")
    )
    cand = postings.join(dup_h, "h", "left_semi")
    # verify on the gram TEXT: every posting of a duplicated hash is a
    # candidate, so for any gram that is genuinely duplicated the
    # re-count below sees ALL its occurrences; collision-only grams
    # re-count to 1 and drop
    cand_gram = cand.join(toked, "doc_id").select(
        "doc_id",
        "pos",
        F.expr(f"concat_ws(' ', slice(T, int(pos), {L}))").alias("gram"),
    )
    dup_pos = (
        cand_gram.withColumn(
            "n_occ", F.count("*").over(Window.partitionBy("gram"))
        )
        .filter(F.col("n_occ") >= 2)
        .select("doc_id", "pos")
    )
    # island merge: windows at pos p cover tokens [p, p+L-1]; a new
    # island starts when the next duplicated window no longer overlaps
    # or touches the previous coverage (pos > prev + L)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        dup_pos.withColumn("prev", F.lag("pos").over(wdoc))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev").isNull() | (F.col("pos") > F.col("prev") + L), 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                wdoc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + L - 1).cast("long").alias("span_end"),
            F.count("*").alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_dup_windows",
        )
        .orderBy("doc_id", "span_start")
    )
    return spans


def substring_exact_oracle(match_len: int = MATCH_LEN) -> str:
    """Oracle template over the match-length dial (VERDICT r8 #4's
    property-sweep requirement). The oracle groups on gram TEXT
    directly — the Spark side's hash stage is a pre-filter whose
    text-verify step makes the two formulations extensionally equal."""
    l = int(match_len)
    return f"""
WITH corpus AS ({_CORPUS_SQL}),
toked AS (
  SELECT doc_id, string_split(text, ' ') AS T FROM corpus
  WHERE len(string_split(text, ' ')) >= {l}
),
positions AS (
  SELECT doc_id, T, unnest(range(1, len(T) - {l} + 2)) AS pos FROM toked
),
grams AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         array_to_string(T[pos:pos + {l} - 1], ' ') AS gram
  FROM positions
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n_occ FROM grams
  ) WHERE n_occ >= 2
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                   OR pos > lag(pos) OVER w + {l} THEN 1 ELSE 0 END AS new_island
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
)
SELECT doc_id,
       min(pos) AS span_start,
       CAST(max(pos) + {l} - 1 AS BIGINT) AS span_end,
       CAST(max(pos) + {l} - 1 - min(pos) + 1 AS BIGINT) AS span_tokens,
       count(*) AS n_dup_windows
FROM isl2
GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


DEDUP_SUBSTRING_ORACLE = substring_exact_oracle()


# --------------------------------------------------------------------------
# recall certificates for the hash-dependent near-dup schemes
# --------------------------------------------------------------------------

MINHASH_RECALL_FLOOR = 0.8  # measured 1.0 at sf0.001/sf0.01 (pinned hashes)
SIMHASH_RECALL_FLOOR = 0.5  # measured 0.72 / 0.80 at sf0.001 / sf0.01


def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable recall certificate for :func:`dedup_minhash_lsh`.

    The LSH pair list itself is xxhash64-dependent (DuckDB cannot
    reproduce it), but its *recall against exact ground truth* is a
    deterministic scalar: hashes and band params are pinned, so on a
    fixed fixture the candidate set — and hence which true pairs it
    recalls — never varies. Truth = exact word-3-gram Jaccard >= 0.9
    pairs (the high-similarity band where 8x4 banding recall is
    ~1 - (1-j^4)^8 ≈ 1-1e-7; measured exactly 1.0 at both checked
    SFs). Output: the truth-pair count (oracle recomputes it exactly)
    and a recall >= MINHASH_RECALL_FLOOR flag (oracle asserts TRUE —
    a banding/signature bug collapses recall to ~0 and flips it).
    """
    truth = (
        dedup_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.9)
        .select("doc_a", "doc_b")
    )
    found = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("hit", F.lit(1))
    )
    agg = truth.join(found, ["doc_a", "doc_b"], "left").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
    )
    return agg.select(
        "n_true",
        (F.col("n_hit") >= F.col("n_true") * F.lit(MINHASH_RECALL_FLOOR)).alias("recall_ok"),
    )


DEDUP_MINHASH_RECALL_ORACLE = f"""
{_JACCARD_PAIRS_CTE}
SELECT count(*) AS n_true, TRUE AS recall_ok
FROM pairs
WHERE common / (sz_a + sz_b - common) >= 0.9
"""


def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable recall certificate for :func:`dedup_simhash`.

    Truth = the planted near-dup pairs (doc_id < 25, last word
    dropped, id + 1e6 — the same injection _corpus_with_near_dups
    makes). SimHash with pinned xxhash64 token hashes is deterministic
    on a fixed fixture, so the fraction of planted pairs landing at
    Hamming <= 3 is a constant (measured 0.72 at sf0.001, 0.80 at
    sf0.01 — token-level SimHash legitimately misses some one-word
    edits on short docs). The oracle recomputes the planted-pair count
    exactly and asserts recall >= SIMHASH_RECALL_FLOOR, which any
    fingerprint/banding bug (recall ~0) flips.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(
        (F.col("doc_id") < 25) & (F.size(F.split(F.col("text"), " ")) >= 2)
    ).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 1_000_000).alias("doc_b"),
    )
    found = (
        dedup_simhash(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("hit", F.lit(1))
    )
    agg = planted.join(found, ["doc_a", "doc_b"], "left").agg(
        F.count(F.lit(1)).alias("n_planted"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
    )
    return agg.select(
        "n_planted",
        (F.col("n_hit") >= F.col("n_planted") * F.lit(SIMHASH_RECALL_FLOOR)).alias("recall_ok"),
    )


DEDUP_SIMHASH_RECALL_ORACLE = """
SELECT count(*) AS n_planted, TRUE AS recall_ok
FROM documents
WHERE doc_id < 25 AND len(string_split(text, ' ')) >= 2
"""


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------


COSINE_LSH_TABLES = 8
COSINE_LSH_PLANES = 4


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: pairs with cosine >= 0.99, found by an
    LSH-bucketed candidate stage + exact-cosine verification — never
    an all-pairs product.

    Candidates: 8 independent random-hyperplane tables of 4 sign bits
    each (similarity.lsh_bucket); a pair is a candidate iff it shares
    a bucket in ANY table — a self-equi-join on (table, bucket). For
    cosine >= 0.99 (angle <= 8.1°) per-table collision probability is
    (1 - θ/π)^4 ≈ 0.83, so the miss probability across 8 OR'd tables
    is (1-0.83)^8 ≈ 6e-7 — at-threshold recall is effectively exact,
    and the DuckDB oracle (exact all-pairs) verifies the output IS the
    exact answer. At 100 TB bucket width scales with log2(n) to keep
    per-bucket candidate counts flat; the verify stage only ever
    touches candidate pairs.

    The band join carries (vec_id, tbl, bucket) only — embeddings are
    re-attached to the (far smaller) deduplicated candidate set, so
    the wide vectors never traverse the exploded self-join. Injected
    exact copies (vec_id+1,000,000 for vec_id < 25) give known
    cosine-1.0 pairs that must collide in every table.
    """
    return embedding_cosine_pairs(_embedding_dup_corpus(spark, sf_dir), threshold=0.99)


def _embedding_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ exact copies of vec_id < 25 (id + 1,000,000) as
    (vec_id, embedding, nrm), an index leaf shared by the embedding
    dedup queries.

    Norms are precomputed once per row BEFORE any verify join: inside
    the join each side's norm would be re-derived per candidate
    partner. sqrt is deterministic, so dot/(norm_a*norm_b) is
    bit-identical to the inlined form. The leaf is consumed by the
    candidate stage and both re-attach joins."""
    from ..functions import vectors

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        copies = emb.filter(F.col("vec_id") < 25).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        return (
            emb.unionByName(copies)
            .repartition(spark.sparkContext.defaultParallelism)
            .withColumn("nrm", F.expr(vectors.norm("embedding")))
        )

    return _index(spark, "embedding_dup_corpus", build, sf_dir)


def embedding_cosine_pairs(
    corpus: DataFrame,
    threshold: float = 0.99,
    dim: int = 64,
    n_tables: int = COSINE_LSH_TABLES,
    n_planes: int = COSINE_LSH_PLANES,
) -> DataFrame:
    """The LSH-candidate + exact-verify pair pipeline over a
    (vec_id, embedding, nrm) DataFrame, ``nrm`` being the L2 norm of
    ``embedding``. ``corpus`` is read three times (bands and both
    re-attach joins), so pass a materialized one
    (:func:`_embedding_dup_corpus`)."""
    from ..functions import vectors
    from .similarity import _hyperplanes, lsh_bucket

    buckets = [
        lsh_bucket("embedding", _hyperplanes(dim, n_planes, seed=42 + 1000 * t))
        for t in range(n_tables)
    ]
    sig = F.expr(
        "array("
        + ", ".join(f"struct({t} AS tbl, {b} AS bucket)" for t, b in enumerate(buckets))
        + ")"
    )
    bands = corpus.select("vec_id", F.explode(sig).alias("s")).select(
        "vec_id", F.col("s.tbl").alias("tbl"), F.col("s.bucket").alias("bucket")
    )
    cand = (
        bands.alias("l")
        .join(
            bands.alias("r"),
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(F.col("l.vec_id").alias("vec_a"), F.col("r.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    pairs = cand.join(
        corpus.select(
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("emb_a"),
            F.col("nrm").alias("nrm_a"),
        ),
        "vec_a",
    ).join(
        corpus.select(
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("emb_b"),
            F.col("nrm").alias("nrm_b"),
        ),
        "vec_b",
    )
    cos = F.expr(vectors.cosine("emb_a", "emb_b", "nrm_a", "nrm_b"))
    return (
        pairs.withColumn("cos", F.round(cos, 4))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


DEDUP_EMBEDDING_ORACLE = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 25
),
pairs AS (
  SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
         list_sum(list_transform(range(1, len(l.embedding) + 1),
                  i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(l.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(r.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos_raw
  FROM corpus l JOIN corpus r ON l.vec_id < r.vec_id
)
SELECT vec_a, vec_b, round(cos_raw, 4) AS cos
FROM pairs
WHERE round(cos_raw, 4) >= 0.99
"""


SEMDEDUP_K = 8
SEMDEDUP_THRESHOLD = 0.99


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space, then look for near-duplicate pairs only WITHIN
    each cluster — the third candidate-generation strategy next to
    hyperplane LSH (dedup_embedding_cosine) and banded MinHash.

    Stage 1 assigns every vector to its nearest of k broadcast
    centroids (argmin on ROUNDED squared L2 with centroid-id tiebreak,
    the kmeans_assign_fixed kernel — the corpus never shuffles for
    assignment). Stage 2 self-joins on centroid_id, so candidate count
    is sum over clusters of |c|² instead of n² — at 100 TB k grows
    with n (the paper uses k ≈ √n) to keep clusters bounded, and the
    equi-join on centroid_id is an ordinary hash shuffle, never a
    cartesian. Exact cosine verifies candidates; injected exact copies
    (vec_id+1,000,000 for vec_id < 25) land in their original's
    cluster by construction (identical vectors ⇒ identical argmin), so
    known cosine-1.0 pairs must survive.
    """
    from ..functions import vectors
    from .similarity import _argmin_assign

    corpus = _embedding_dup_corpus(spark, sf_dir)
    cents = corpus.filter(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    assigned = _argmin_assign(corpus, cents, "centroid_id")
    cand = (
        assigned.alias("l")
        .join(
            assigned.alias("r"),
            (F.col("l.centroid_id") == F.col("r.centroid_id"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.centroid_id").alias("centroid_id"),
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
        )
    )
    pairs = cand.join(
        corpus.select(
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("emb_a"),
            F.col("nrm").alias("nrm_a"),
        ),
        "vec_a",
    ).join(
        corpus.select(
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("emb_b"),
            F.col("nrm").alias("nrm_b"),
        ),
        "vec_b",
    )
    cos = F.expr(vectors.cosine("emb_a", "emb_b", "nrm_a", "nrm_b"))
    return (
        pairs.withColumn("cos", F.round(cos, 4))
        .filter(F.col("cos") >= SEMDEDUP_THRESHOLD)
        .select("centroid_id", "vec_a", "vec_b", "cos")
    )


DEDUP_SEMANTIC_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 25
),
cents AS (
  SELECT vec_id AS centroid_id, embedding AS c_vec
  FROM embeddings WHERE vec_id < {SEMDEDUP_K}
),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         round(list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)
                    * (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE))), 4) AS dist2
  FROM corpus e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, centroid_id FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY dist2 ASC, centroid_id ASC) = 1
),
cand AS (
  SELECT l.centroid_id, l.vec_id AS vec_a, r.vec_id AS vec_b
  FROM assigned l JOIN assigned r
    ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id
),
pairs AS (
  SELECT cand.centroid_id, cand.vec_a, cand.vec_b,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
                  i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
           AS cos_raw
  FROM cand
  JOIN corpus a ON a.vec_id = cand.vec_a
  JOIN corpus b ON b.vec_id = cand.vec_b
)
SELECT centroid_id, vec_a, vec_b, round(cos_raw, 4) AS cos
FROM pairs
WHERE round(cos_raw, 4) >= {SEMDEDUP_THRESHOLD}
"""


# --------------------------------------------------------------------------
# connected components: near-dup pairs -> dedup clusters
# --------------------------------------------------------------------------


def dedup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the near-dup pair graph: every doc in a
    near-dup component gets the component's minimum doc_id as its
    cluster_id — the canonical "keep one per cluster" dedup output.

    Iterative min-label propagation (the simplified star-contraction
    loop): each round every node takes min(own label, neighbors'
    labels); fixpoint when the label sum stops changing (labels only
    ever decrease, so the sum is a monotone convergence witness — one
    scalar per round crosses to the driver, never data). The witness
    rides the SAME job as the propagation: an ``Observation`` metric
    collected while ``localCheckpoint(eager=True)`` materializes the
    round, so each round is ONE action, not propagate-then-collect
    (removes one full pass over the labels per round; the mechanism —
    metrics firing under localCheckpoint's eager job — is pinned by
    tests/test_semantics.py::test_observation_fires_under_local_checkpoint).
    Edges and the current labels are persisted per round; the
    localCheckpoint also truncates lineage per round. Rounds needed =
    graph diameter, O(log n) with doubling variants — the fixture
    graph (pairwise near-dup copies) converges in 1.

    The oracle is the same closure via DuckDB's recursive CTE — an
    iterative Spark algorithm with an exact SQL differential check.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    max_rounds = 15
    converged = False
    for rnd in range(max_rounds):
        prop = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nbr_label"))
        )
        # localCheckpoint, not persist: each round's plan builds on the
        # last round's, and un-truncated lineage makes Catalyst re-plan
        # an exponentially growing tree (see star_contract). The
        # Observation sum is computed by the same eager-materialization
        # job — no separate convergence action.
        obs = Observation(f"cc_round_{rnd}")
        new = (
            labels.join(prop, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias("label"),
            )
            .observe(obs, F.sum("label").alias("label_sum"))
            .localCheckpoint(eager=True)
        )
        cur = obs.get["label_sum"]
        labels = new
        if cur == prev_sum:
            converged = True
            break
        prev_sum = cur
    if not converged:
        # Returning non-converged labels would silently mislabel
        # clusters; a graph needing more rounds than the cap means the
        # diameter outgrew the operator's assumptions — fail loudly.
        raise RuntimeError(
            f"connected-components did not converge within {max_rounds} rounds; "
            "raise the cap or switch to a pointer-doubling variant for "
            "high-diameter graphs"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


DEDUP_CC_ORACLE = f"""
WITH RECURSIVE corpus AS ({_CORPUS_SQL}),
all_shingled AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS sh
  FROM corpus
),
hot AS (
  SELECT sh FROM all_shingled GROUP BY sh HAVING count(*) > {MAX_SHINGLE_DF}
),
shingled AS (
  SELECT * FROM all_shingled WHERE sh NOT IN (SELECT sh FROM hot)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
sh_sz AS (SELECT s.doc_id, s.sh, z.sz FROM shingled s JOIN sizes z USING (doc_id)),
cand AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, l.sz AS sz_a, r.sz AS sz_b,
         count(*) AS common
  FROM sh_sz l JOIN sh_sz r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2, 3, 4
),
near AS (
  SELECT doc_a, doc_b FROM cand
  WHERE common / (sz_a + sz_b - common) >= 0.6
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM near
  UNION ALL
  SELECT doc_b, doc_a FROM near
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
"""


def fuzzy_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup — the full production chain in one
    query: exact near-dup pairs (DF-capped postings join) → transitive
    clusters (iterative min-label CC) → survivor per cluster (the
    component-minimum doc_id, which IS the cluster label) → one-row
    corpus accounting: docs in / docs kept / docs removed / duplicate
    clusters / largest cluster.

    Singleton docs (no near-dup edge) are their own cluster via the
    left-join + coalesce — the accounting covers the WHOLE corpus, not
    just the pair graph. Oracle: the same closure through DuckDB's
    recursive CTE, aggregated identically; the iterative Spark
    algorithm and the SQL fixpoint must agree on every scalar.
    """
    corpus = _corpus_with_near_dups(spark, sf_dir).select("doc_id")
    clusters = dedup_clusters_cc(spark, sf_dir)
    labeled = corpus.join(clusters, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )
    per_cluster = labeled.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return per_cluster.agg(
        F.sum("sz").alias("n_docs"),
        F.count("*").alias("n_kept"),
        F.sum(F.col("sz") - 1).alias("n_removed"),
        F.sum((F.col("sz") > 1).cast("int")).alias("n_dup_clusters"),
        F.max("sz").alias("max_cluster_size"),
    )


FUZZY_DEDUP_PIPELINE_ORACLE = f"""
WITH labels AS (
  SELECT doc_id, cluster_id FROM ({DEDUP_CC_ORACLE}) t
),
corpus2 AS ({_CORPUS_SQL}),
labeled AS (
  SELECT c.doc_id, coalesce(l.cluster_id, c.doc_id) AS cluster_id
  FROM corpus2 c LEFT JOIN labels l USING (doc_id)
),
per_cluster AS (SELECT cluster_id, count(*) AS sz FROM labeled GROUP BY cluster_id)
SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
       count(*) AS n_kept,
       CAST(sum(sz - 1) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_clusters,
       CAST(max(sz) AS BIGINT) AS max_cluster_size
FROM per_cluster
"""


def _edge_fingerprint(e: DataFrame):
    """Order-independent edge-set fingerprint (convergence witness).

    pmod before the sum: raw xxhash64 sums overflow int64 under ANSI;
    mod-reduced terms keep the sum < n * 1e9."""
    row = e.agg(
        F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(MOD))).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]
    return (row.h, row.n)


def _large_star(e: DataFrame) -> DataFrame:
    """Link every larger neighbor of u to min(N(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v"), F.col("u"))).toDF("u", "v")
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges to the smaller endpoint; link u and its (smaller)
    neighbors to min(N(u) ∪ {u})."""
    oriented = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    m = oriented.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    linked = oriented.join(m, "u")
    out = linked.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        linked.select(F.col("u"), F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def star_contract(edges: DataFrame, max_rounds: int = 12) -> DataFrame:
    """Run alternating large-star/small-star to the edge-set fixpoint;
    returns star edges (node -> component minimum). Raises if the cap
    is hit — O(log n) rounds suffice for any graph, so a miss means
    the input (or this code) is broken, not the graph.

    Lineage is truncated EVERY round with an eager ``localCheckpoint``
    (not just persisted): each round's plan builds on the previous
    round's, so without truncation Catalyst re-optimizes a plan that
    doubles per round and analysis time explodes exponentially — a
    512-node chain (9 rounds) went from minutes-stuck to seconds. The
    same applies to any >3-round iterative DataFrame loop; persist()
    caches data but does NOT cap planning cost."""
    edges = edges.localCheckpoint(eager=True)
    prev = _edge_fingerprint(edges)
    for _ in range(max_rounds):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        cur = _edge_fingerprint(edges)
        if cur == prev:
            return edges
        prev = cur
    raise RuntimeError(
        f"star-contraction did not converge within {max_rounds} rounds "
        "(expected O(log n)); the edge set is pathological — inspect it"
    )


def dedup_clusters_star_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction — the O(log n)-round variant that handles the
    high-diameter graphs where min-label propagation
    (:func:`dedup_clusters_cc`, diameter rounds) stalls. Published as
    the MapReduce CC algorithm of Kiveris et al. (KDD'14); each round
    is two groupBy-min + join passes over the edge set, nothing else.

    - large-star: around each node u, link every LARGER neighbor to
      the minimum of N(u) ∪ {u};
    - small-star: orient edges to the smaller endpoint, then link all
      of u's (smaller) neighbors and u itself to that minimum.

    Both steps strictly shrink a monotone potential until the edge set
    is a fixpoint of stars centered at component minima. The loop's
    convergence witness is an order-independent edge-set fingerprint
    (sum of xxhash64(u, v)) — one scalar per round to the driver,
    never data; the final labels are what the oracle (recursive-CTE
    closure, same as dedup_clusters_cc) checks exactly. Edge sets
    persist per round; lineage stays O(rounds) = O(log n), with
    ``localCheckpoint`` the escape hatch past ~20 rounds at scale.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .union(pairs.select(F.col("doc_b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).filter(
        F.col("u") != F.col("v")
    ).distinct()

    stars = star_contract(edges)
    # fixpoint edges are (node -> component minimum) stars; centers
    # appear only on the right, so they label themselves
    return (
        nodes.join(stars, nodes.node == stars.u, "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("v"), F.col("node")).alias("cluster_id"),
        )
    )


# --------------------------------------------------------------------------
# incremental dedup, survivorship, blocked edit-distance verify
# --------------------------------------------------------------------------


def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: admit only batch documents whose
    content digest is absent from the existing corpus snapshot.

    The daily-ingest shape of a 100 TB pipeline: the corpus is huge
    and already deduplicated; each incoming batch is small relative to
    it. The operator is a LEFT ANTI join on the md5 digest — the
    corpus side projects to (digest) only, so the shuffle carries
    16-byte keys, never document text, and at real scale the batch
    side is the small one (broadcastable when it fits; AQE picks that
    up from runtime stats). Here both sides derive from the fixture:
    corpus = doc_id % 10 != 0, batch = doc_id % 10 == 0 plus exact
    re-submissions of corpus docs (doc_id < 40, id-shifted) that the
    anti join must reject.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    resubmitted = corpus.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text", "lang"
    )
    batch = docs.filter(F.col("doc_id") % 10 == 0).unionByName(resubmitted)
    corpus_fp = corpus.select(F.md5("text").alias("fp"))
    return (
        batch.withColumn("fp", F.md5("text"))
        .join(corpus_fp, "fp", "left_anti")
        .select("doc_id", "lang")
    )


DEDUP_INCREMENTAL_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents WHERE doc_id % 10 != 0
),
batch AS (
  SELECT doc_id, text, lang FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text, lang FROM corpus WHERE doc_id < 40
)
SELECT b.doc_id, b.lang
FROM batch b
WHERE md5(b.text) NOT IN (SELECT md5(text) FROM corpus)
"""


def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: pick ONE canonical document per near-duplicate
    cluster by quality, not by arbitrary arrival order.

    Clusters come from a cheap blocking key (first 40 chars — the
    injected near-dups differ only in their final word, so they share
    the block); the survivor is the member with the highest quality
    score (ties broken by lowest doc_id). One groupBy on the block
    key; the min(struct(-score, doc_id)) aggregate combines map-side,
    so only one candidate row per block per partition crosses the
    shuffle — the same scale shape as group-first (SURVEY.md §2.4 A3).
    Quality reuses the text_quality_score expression (text.py) so the
    ranking is the one the curation pipeline already applies.
    """
    corpus = _corpus_with_near_dups(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a", "and", "of")))
    score = F.round(
        F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * (F.lit(1.0) - n_stop / n_tokens), 4
    )
    scored = corpus.select(
        F.substring("text", 1, 40).alias("block"), "doc_id", score.alias("score")
    )
    return (
        scored.groupBy("block")
        .agg(
            F.min(F.struct((-F.col("score")).alias("neg"), F.col("doc_id").alias("d"))).alias("best"),
            F.count("*").alias("n_members"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            "block",
            F.col("best.d").alias("keep_id"),
            (-F.col("best.neg")).alias("best_score"),
            "n_members",
        )
    )


DEDUP_SURVIVORSHIP_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL}),
scored AS (
  SELECT substr(text, 1, 40) AS block, doc_id,
         round(least(1.0, len(string_split(text, ' ')) / 100.0)
               * (1.0 - len(list_filter(string_split(text, ' '),
                                        t -> t IN ('the','a','and','of')))
                 / len(string_split(text, ' '))), 4) AS score
  FROM corpus
),
ranked AS (
  SELECT block, doc_id, score,
         row_number() OVER (PARTITION BY block ORDER BY score DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY block) AS n_members
  FROM scored
)
SELECT block, doc_id AS keep_id, score AS best_score, n_members
FROM ranked WHERE rn = 1 AND n_members >= 2
"""


def dedup_edit_distance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise edit-distance verification (record-linkage
    style): candidate pairs from an equi-join on a blocking key, then
    exact Levenshtein over a bounded suffix window.

    The all-pairs O(n²) never materializes — the join key (30-char
    prefix) confines comparisons to within-block pairs, and the
    Levenshtein runs on right(text, 80) so per-pair cost is bounded
    regardless of document length. The injected near-dups drop the
    final word, so their prefixes collide (same block) while their
    suffixes differ by roughly one word — exactly the edit window the
    distance verifies. Same candidate-then-verify decomposition as
    MinHash→Jaccard above, with an edit metric instead of set overlap.
    """
    corpus = _corpus_with_near_dups(spark, sf_dir).select(
        "doc_id",
        F.substring("text", 1, 30).alias("block"),
        F.expr("right(text, 80)").alias("tail"),
    )
    a = corpus.alias("a")
    b = corpus.alias("b")
    return (
        a.join(b, "block")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.tail"), F.col("b.tail")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 30)
    )


DEDUP_EDIT_DISTANCE_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL}),
keyed AS (
  SELECT doc_id, substr(text, 1, 30) AS block, right(text, 80) AS tail
  FROM corpus
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.tail, b.tail) AS INT) AS edit_dist
FROM keyed a JOIN keyed b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE levenshtein(a.tail, b.tail) <= 30
"""


SENT_K = 4  # words per pseudo-sentence (the fixture text has no
# punctuation/newlines, so "line" = fixed 4-word chunk; at sf0.01 that
# yields ~10% corpus-duplicated chunks — enough signal to verify the
# drop logic without degenerating to all-dup or no-dup)


def _sentence_chunks(spark: SparkSession, sf_dir: str, k: int = SENT_K) -> DataFrame:
    """(doc_id, i, chunk, h): documents chunked into consecutive
    SENT_K-word pseudo-sentences with an md5 digest per chunk.

    CCNet/RefinedWeb line-dedup splits documents on newlines and drops
    lines whose hash repeats corpus-wide; the fixture corpus has no
    newlines, so the deterministic stand-in is fixed-width word chunks
    (the dedup mechanics — hash, corpus-frequency, drop — are
    identical and identically oracle-expressible).

    Scale shape: chunking is a narrow per-row pass (split + slice, no
    shuffle); the corpus-frequency stage keys its one shuffle on the
    32-hex md5 digest (the ``dedup_exact_hash`` digest-keying
    argument; a stats-only pass would drop the chunk text from the
    shuffle rows entirely — the clean query keeps it to rebuild the
    survivors, see SCALE.md). Trailing partial chunks (< SENT_K
    words) are excluded in both engines.
    Repartitioned to the session's parallelism for the same reason as
    ``_corpus_with_near_dups``: the fixture parquet is one small file
    (1-2 input splits) that would serialize chunk+md5 on 1-2 cores; at
    real scale the input has enough splits that AQE coalesces this to
    a no-op.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    words = F.split(F.col("text"), " ")
    n_full = F.floor(F.size(words) / k).cast("int")
    chunks = F.when(
        n_full >= 1,
        F.transform(
            F.sequence(F.lit(0), n_full - 1),
            lambda i: F.array_join(F.slice(words, i * k + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("i", "chunk"))
        .withColumn("h", F.md5("chunk"))
    )


def dedup_sentence_stats(
    spark: SparkSession, sf_dir: str, k: int = SENT_K
) -> DataFrame:
    """CCNet-style line-dedup *measurement*: per document, how many of
    its pseudo-sentences (4-word chunks, see ``_sentence_chunks``) are
    duplicated corpus-wide (total occurrence count >= 2, within-doc
    repeats included — CCNet hashes every line of the corpus and drops
    all copies of any hash seen more than once).

    Output is integer-only (n_chunks, dup_chunks) to stay clear of the
    float-rounding-tie bug class (SCALE.md).

    Scale shape: corpus frequency is count() over a window partitioned
    by the md5 digest — ONE shuffle on the digest and one scan of the
    chunk stream, strictly cheaper than the groupBy+join-back form
    (which re-chunks the corpus for the probe side and shuffles
    twice); then one map-side-combinable per-doc rollup. No all-pairs
    product, no corpus-wide state beyond the distributed digest
    partitions.
    """
    ch = _sentence_chunks(spark, sf_dir, k=k)
    occ = F.count("*").over(Window.partitionBy("h"))
    return (
        ch.withColumn("occ", occ)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("occ") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("dup_chunks"),
        )
        .orderBy("doc_id")
    )


def sentence_stats_oracle(k: int = SENT_K) -> str:
    """The stats oracle as a chunk-width template, so the hypothesis
    property test (tests/test_property.py) can sweep k against the
    SAME SQL the registry ships instead of a copy that could drift."""
    return f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), chunks AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(w, i * {k} + 1,
                                        i * {k} + {k}), ' ')) AS h
  FROM words, unnest(range(0, len(w) // {k})) AS t(i)
), freq AS (
  SELECT h, count(*) AS occ FROM chunks GROUP BY h
)
SELECT c.doc_id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN f.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks
FROM chunks c JOIN freq f USING (h)
GROUP BY c.doc_id
ORDER BY doc_id
"""


DEDUP_SENTENCE_STATS_ORACLE = sentence_stats_oracle()


def dedup_sentence_clean(
    spark: SparkSession, sf_dir: str, k: int = SENT_K
) -> DataFrame:
    """CCNet-style line-dedup *application*: rebuild each document with
    every corpus-duplicated pseudo-sentence removed (all copies
    dropped, CCNet semantics), preserving original chunk order.

    The reconstruction path is the part ``dedup_sentence_stats`` does
    not cover: collect the surviving (position, chunk) pairs per doc,
    sort by position, re-join. ``collect_list`` order is
    nondeterministic, so the sort happens on the collected array
    (array_sort on a (i, chunk) struct orders by the unique i).

    Scale shape: same single-shuffle windowed digest-frequency as the
    stats query plus one per-doc collect whose state is bounded by the
    document's own chunk count — the exact state bound any per-doc
    reconstruction needs; nothing corpus-wide is collected.
    """
    ch = _sentence_chunks(spark, sf_dir, k=k)
    return (
        ch.withColumn("occ", F.count("*").over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("occ") == 1, 1).otherwise(0))
            .cast("long")
            .alias("kept_chunks"),
            F.sum(F.when(F.col("occ") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("removed_chunks"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("occ") == 1, F.struct("i", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def sentence_clean_oracle(k: int = SENT_K) -> str:
    """The clean-reconstruct oracle as a chunk-width template (same
    drift-proofing rationale as ``sentence_stats_oracle``)."""
    return f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), chunks AS (
  SELECT doc_id, i,
         array_to_string(list_slice(w, i * {k} + 1,
                                    i * {k} + {k}), ' ') AS chunk
  FROM words, unnest(range(0, len(w) // {k})) AS t(i)
), freq AS (
  SELECT md5(chunk) AS h, count(*) AS occ FROM chunks GROUP BY md5(chunk)
)
SELECT c.doc_id AS doc_id,
       CAST(sum(CASE WHEN f.occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
       CAST(sum(CASE WHEN f.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS removed_chunks,
       coalesce(string_agg(CASE WHEN f.occ = 1 THEN c.chunk END, ' '
                           ORDER BY c.i), '') AS clean_text
FROM chunks c JOIN freq f ON md5(c.chunk) = f.h
GROUP BY c.doc_id
ORDER BY doc_id
"""


DEDUP_SENTENCE_CLEAN_ORACLE = sentence_clean_oracle()


# --------------------------------------------------------------------------
# incremental MinHash: batch lookup against a materialized signature index
# --------------------------------------------------------------------------

# Floor for the incremental recall certificate: exact cross-side
# 3-gram Jaccard >= 0.9 truth pairs recalled by the banded index probe.
# 8x4 banding at j >= 0.9 misses with prob (1 - j^4)^8 <= 1e-7, and the
# est_jaccard >= 0.5 verify keeps every such pair with near certainty;
# measured exactly 1.0 at sf0.001 and sf0.01 (same as the batch
# MinHash certificate, dedup_minhash_recall).
INCR_MINHASH_RECALL_FLOOR = 1.0


def _incremental_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(corpus, batch) for the incremental near-dup scenario.

    corpus = the already-deduplicated store (doc_id % 10 != 0); batch =
    today's ingest: novel docs (doc_id % 10 == 0) plus planted
    near-duplicate re-submissions of corpus docs (doc_id < 50, last
    word dropped, id + 3,000,000 — the same one-word-edit injection
    _corpus_with_near_dups makes) that the index probe must catch.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    toks = F.split(F.col("text"), " ")
    trimmed = F.expr(
        "substr(text, 1, length(text) - length(element_at(split(text, ' '), -1)) - 1)"
    )
    planted = (
        corpus.filter((F.col("doc_id") < 50) & (F.size(toks) >= 2))
        .select((F.col("doc_id") + 3_000_000).alias("doc_id"), trimmed.alias("text"))
    )
    batch = docs.filter(F.col("doc_id") % 10 == 0).unionByName(planted)
    return corpus, batch


_INCR_CORPUS_SQL = """
  SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0
"""

_INCR_BATCH_SQL = """
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         substr(text, 1, length(text) - length(string_split(text, ' ')[-1]) - 1) AS text
  FROM documents
  WHERE doc_id % 10 != 0 AND doc_id < 50 AND len(string_split(text, ' ')) >= 2
"""


def band_table(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bh) rows from a MinHash signature table — the
    LSH index layout: one 3-long row per (doc, band), equi-joinable on
    (band, bh). At 100 TB this is a STORED table bucketed by (band,
    bh) (SCALE.md): built once when the corpus is deduplicated,
    appended as batches are admitted, never recomputed per query."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {N_BANDS - 1}), b ->"
                f" struct(b AS band, xxhash64(slice(signature, b * {BAND_ROWS} + 1, {BAND_ROWS})) AS bh))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def _incremental_batch_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest batch's MinHash signatures as an index leaf: each
    probe reads them twice (its bands and the verify join), and both
    incremental variants probe with the same batch."""
    return _index(
        spark, "minhash_incr_batch_sigs",
        lambda: minhash_signatures(_incremental_sides(spark, sf_dir)[1]), sf_dir,
    )


def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup lookup: probe a new batch against a
    MATERIALIZED band-signature index of the existing corpus — the
    production composition of MinHash-LSH (build the index once, query
    it per ingest batch) that batch `dedup_minhash_lsh` (self-join)
    and `dedup_incremental_exact` (exact digests only) each cover half
    of.

    Index side: corpus signatures + band table, one in-memory index
    entry (:func:`_index`; a stored table bucketed by (band, bh) at
    100 TB — the probe join then co-locates on the bucket key with no
    corpus-side shuffle). Query side: the batch computes its own
    signatures/bands — cost proportional to the BATCH, never the
    corpus (results/incremental_minhash_probe.json measures exactly
    this) — and equi-joins the index on (band, bh). Candidates
    dedupe, re-attach both signatures, verify est_jaccard >= 0.5.
    Output: (batch_id, corpus_id, est_jaccard) admission decisions.

    No oracle: depends on xxhash64 (driver rows-only check); the
    paired certificate `dedup_minhash_incremental_recall` is fully
    oracle-checked.
    """
    # r15: the r14 probe-side scan-parallelism floor REVERTED — its
    # 1.3x was a hot-epoch read (the serial stock scan is maximally
    # penalized in contended windows); the driver read 0.65x and the
    # r15 calm-window requalification read 1.07x
    # (results/floor_requalify_r15.json), under the pinned >= 1.15x
    # keep rule. The bucketed-index twin stays unfloored as before
    # (flooring a bucketBy write input multiplies per-bucket files).
    index_sigs, index_bands = _index(
        spark, "minhash_incr_index",
        lambda: minhash_signatures(_incremental_sides(spark, sf_dir)[0]), sf_dir,
        derive=band_table,
    )
    batch_sigs = _incremental_batch_sigs(spark, sf_dir)
    cand = (
        band_table(batch_sigs)
        .withColumnRenamed("doc_id", "batch_id")
        .join(
            index_bands.withColumnRenamed("doc_id", "corpus_id"),
            ["band", "bh"],
        )
        .select("batch_id", "corpus_id")
        .dropDuplicates(["batch_id", "corpus_id"])
        .join(
            batch_sigs.select(
                F.col("doc_id").alias("batch_id"), F.col("signature").alias("sig_b")
            ),
            "batch_id",
        )
        .join(
            index_sigs.select(
                F.col("doc_id").alias("corpus_id"), F.col("signature").alias("sig_c")
            ),
            "corpus_id",
        )
    )
    est = F.expr(
        "aggregate(zip_with(sig_b, sig_c, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    ) / F.lit(N_HASHES)
    return (
        cand.withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= 0.5)
        .select("batch_id", "corpus_id", "est_jaccard")
    )


def _ensure_minhash_index_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(band_index, signature_index) of the incremental corpus as
    STORED bucketed tables — the 100 TB formulation the persisted
    variant's docstring argues (VERDICT r10 #1: materialize it and
    prove the probe plan).

    Two tables, written once per (sf_dir, fixture fingerprint):

    - ``mh_band_idx``: (band, bh, doc_id), bucketBy/sortBy (band, bh)
      — the LSH candidate join co-locates on the bucket key, so the
      probe's SortMergeJoin plans an Exchange ONLY on the batch side
      (plan-tested: the index scan reads ``Bucketed: true``).
    - ``mh_sig_idx``: (doc_id, signature), bucketBy/sortBy doc_id —
      the est-Jaccard verify join on corpus_id likewise shuffles only
      the (tiny) candidate list, never corpus signatures.

    Signatures are written first from ONE corpus scan; the band table
    is derived from the stored signatures, so build cost is one pass
    and the two tables can never disagree. Write/guard machinery is
    ``storage.ensure_bucketed_specs`` (shared with the scale probe,
    so the probe measures exactly this layout)."""
    from ..sources.storage import _tag, ensure_bucketed_specs

    tag = _tag(sf_dir, "documents")
    sigs_tbl, bands_tbl = f"mh_sig_idx_{tag}", f"mh_band_idx_{tag}"
    sigs, bands = ensure_bucketed_specs(
        spark,
        (
            (sigs_tbl, ("doc_id",), lambda: minhash_signatures(_incremental_sides(spark, sf_dir)[0])),
            (bands_tbl, ("band", "bh"), lambda: band_table(spark.table(sigs_tbl))),
        ),
    )
    return bands, sigs


def _bucketed_probe_band_join(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Raw (batch_id, corpus_id) band-collision join of the ingest
    batch against the stored bucketed band index — factored out so the
    plan test can assert the crisp fact: exactly ONE Exchange, and it
    is on the batch side (the bucketed index scan is exchange-free).

    The merge hint keeps AQE from flipping to broadcast at fixture
    scale — at 100 TB the index side is the corpus and could never
    broadcast; the co-located bucket read is the point."""
    index_bands, _ = _ensure_minhash_index_tables(spark, sf_dir)
    batch_sigs = _incremental_batch_sigs(spark, sf_dir)
    return (
        band_table(batch_sigs)
        .withColumnRenamed("doc_id", "batch_id")
        .join(
            index_bands.hint("merge").withColumnRenamed("doc_id", "corpus_id"),
            ["band", "bh"],
        )
        .select("batch_id", "corpus_id")
    ), batch_sigs


def dedup_minhash_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_minhash_incremental` with the index as STORED
    bucketed tables instead of a session persist — the production
    100 TB layout, demonstrated rather than argued (VERDICT r10 #1).

    Probe-side cost is proportional to the BATCH alone: the batch
    computes its own signatures/bands, shuffles itself into the
    index's bucket layout (8 buckets on (band, bh)), and merge-joins
    co-located index buckets with zero corpus-side exchange
    (tests/test_plans.py pins this). The est-Jaccard verify re-attaches
    corpus signatures from the doc_id-bucketed signature table the
    same way — only the candidate list moves. Decisions are proven
    identical to the persisted variant
    (tests/test_semantics.py::test_incremental_bucketed_equals_persisted),
    and the oracle-checked certificate
    `dedup_minhash_incremental_recall` probes THIS path.

    No oracle: xxhash64-dependent (driver rows-only check), same as
    the persisted variant."""
    cand, batch_sigs = _bucketed_probe_band_join(spark, sf_dir)
    _, index_sigs = _ensure_minhash_index_tables(spark, sf_dir)
    cand = (
        cand.dropDuplicates(["batch_id", "corpus_id"])
        .join(
            batch_sigs.select(
                F.col("doc_id").alias("batch_id"), F.col("signature").alias("sig_b")
            ),
            "batch_id",
        )
        .join(
            index_sigs.hint("merge").select(
                F.col("doc_id").alias("corpus_id"), F.col("signature").alias("sig_c")
            ),
            "corpus_id",
        )
    )
    est = F.expr(
        "aggregate(zip_with(sig_b, sig_c, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    ) / F.lit(N_HASHES)
    return (
        cand.withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= 0.5)
        .select("batch_id", "corpus_id", "est_jaccard")
    )


def dedup_minhash_incremental_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable recall certificate for the incremental MinHash
    probe — re-pointed (VERDICT r10 #1) at
    :func:`dedup_minhash_incremental_bucketed`, the stored-bucketed
    production path; the persisted variant is proven decision-identical
    by tests/test_semantics.py::test_incremental_bucketed_equals_persisted,
    so one certificate covers both. (The `dedup_minhash_recall`
    pattern: the pair list is xxhash64-dependent, its recall against
    exact truth is a deterministic scalar on a pinned fixture).

    Truth = exact cross-side word-3-gram Jaccard >= 0.9 pairs between
    batch and corpus, computed over DF-capped shingle postings (hot
    shingles with document frequency > MAX_SHINGLE_DF across both
    sides are dropped from both sets — same cap and same filtered-
    space sizes as `_shingle_overlap_pairs`, mirrored exactly in the
    oracle). Output: the truth-pair count (oracle recomputes it
    exactly) and a recall >= INCR_MINHASH_RECALL_FLOOR flag (oracle
    asserts TRUE — an index/banding bug collapses recall and flips
    it).
    """

    def build() -> DataFrame:
        corpus, batch = _incremental_sides(spark, sf_dir)
        postings = _distinct_shingled(
            corpus.select(F.lit("c").alias("side"), "doc_id", "text").unionByName(
                batch.select(F.lit("b").alias("side"), "doc_id", "text")
            ),
            cols=("side", "doc_id"),
        )
        hot = (
            postings.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > MAX_SHINGLE_DF)
            .select("sh")
        )
        return postings.join(F.broadcast(hot), "sh", "left_anti")

    kept = _index(spark, "minhash_incr_postings", build, sf_dir)
    sizes = kept.groupBy("side", "doc_id").agg(F.count("*").alias("sz"))
    sized = kept.join(sizes, ["side", "doc_id"])
    b, c = sized.filter(F.col("side") == "b").alias("b"), sized.filter(
        F.col("side") == "c"
    ).alias("c")
    overlap = (
        b.join(c, F.col("b.sh") == F.col("c.sh"))
        .groupBy(
            F.col("b.doc_id").alias("batch_id"),
            F.col("c.doc_id").alias("corpus_id"),
            F.col("b.sz").alias("sz_b"),
            F.col("c.sz").alias("sz_c"),
        )
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common") / (F.col("sz_b") + F.col("sz_c") - F.col("common"))
    truth = overlap.filter(jac >= 0.9).select("batch_id", "corpus_id")
    found = (
        dedup_minhash_incremental_bucketed(spark, sf_dir)
        .select("batch_id", "corpus_id")
        .withColumn("hit", F.lit(1))
    )
    agg = truth.join(found, ["batch_id", "corpus_id"], "left").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
    )
    return agg.select(
        "n_true",
        (F.col("n_hit") >= F.col("n_true") * F.lit(INCR_MINHASH_RECALL_FLOOR)).alias(
            "recall_ok"
        ),
    )


DEDUP_MINHASH_INCR_RECALL_ORACLE = f"""
WITH corpus AS ({_INCR_CORPUS_SQL}),
batch AS ({_INCR_BATCH_SQL}),
postings AS (
  SELECT 'c' AS side, doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS sh FROM corpus
  UNION ALL
  SELECT 'b' AS side, doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS sh FROM batch
),
hot AS (SELECT sh FROM postings GROUP BY sh HAVING count(*) > {MAX_SHINGLE_DF}),
kept AS (SELECT * FROM postings WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT side, doc_id, count(*) AS sz FROM kept GROUP BY side, doc_id),
sized AS (SELECT k.side, k.doc_id, k.sh, s.sz FROM kept k JOIN sizes s USING (side, doc_id)),
overlap AS (
  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, b.sz AS sz_b, c.sz AS sz_c,
         count(*) AS common
  FROM sized b JOIN sized c ON b.sh = c.sh AND b.side = 'b' AND c.side = 'c'
  GROUP BY 1, 2, 3, 4
)
SELECT count(*) AS n_true, TRUE AS recall_ok
FROM overlap
WHERE common / (sz_b + sz_c - common) >= 0.9
"""


QUERIES: dict = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_ORACLE),
    "dedup_exact_hash": (dedup_exact_hash, DEDUP_EXACT_HASH_ORACLE),
    "dedup_minhash_lsh": (dedup_minhash_lsh, None),
    "dedup_minhash_recall": (dedup_minhash_recall, DEDUP_MINHASH_RECALL_ORACLE),
    "dedup_simhash": (dedup_simhash, None),
    "dedup_simhash_recall": (dedup_simhash_recall, DEDUP_SIMHASH_RECALL_ORACLE),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_ORACLE),
    "dedup_containment": (dedup_containment, DEDUP_CONTAINMENT_ORACLE),
    "dedup_winnowing_fingerprints": (
        dedup_winnowing_fingerprints,
        DEDUP_WINNOWING_ORACLE,
    ),
    "decontaminate_winnowing": (decontaminate_winnowing, DECON_WINNOWING_ORACLE),
    "dedup_substring_exact": (dedup_substring_exact, DEDUP_SUBSTRING_ORACLE),
    "dedup_clusters_cc": (dedup_clusters_cc, DEDUP_CC_ORACLE),
    "fuzzy_dedup_pipeline": (fuzzy_dedup_pipeline, FUZZY_DEDUP_PIPELINE_ORACLE),
    "dedup_clusters_star_contraction": (dedup_clusters_star_contraction, DEDUP_CC_ORACLE),
    "dedup_embedding_cosine": (dedup_embedding_cosine, DEDUP_EMBEDDING_ORACLE),
    "dedup_semantic_clusters": (dedup_semantic_clusters, DEDUP_SEMANTIC_ORACLE),
    "dedup_incremental_exact": (dedup_incremental_exact, DEDUP_INCREMENTAL_ORACLE),
    "dedup_minhash_incremental": (dedup_minhash_incremental, None),
    "dedup_minhash_incremental_bucketed": (dedup_minhash_incremental_bucketed, None),
    "dedup_minhash_incremental_recall": (
        dedup_minhash_incremental_recall,
        DEDUP_MINHASH_INCR_RECALL_ORACLE,
    ),
    "dedup_survivorship": (dedup_survivorship, DEDUP_SURVIVORSHIP_ORACLE),
    "dedup_edit_distance_blocked": (dedup_edit_distance_blocked, DEDUP_EDIT_DISTANCE_ORACLE),
    "dedup_sentence_stats": (dedup_sentence_stats, DEDUP_SENTENCE_STATS_ORACLE),
    "dedup_sentence_clean": (dedup_sentence_clean, DEDUP_SENTENCE_CLEAN_ORACLE),
}
