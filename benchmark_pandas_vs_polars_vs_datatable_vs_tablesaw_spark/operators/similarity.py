"""Similarity search over ``embeddings.embedding`` (array<float>).

Two tiers, as a 100 TB ANN stack should be layered:

- ``ann_cosine_topk``: exact brute-force top-k — broadcast the (small)
  query set against the full corpus, score with JVM-side higher-order
  functions, rank per query with a window. This is both the baseline
  and the *verify/rerank* stage of any approximate scheme. Scales in
  the corpus dimension (the corpus never shuffles — scoring is a
  map-side broadcast join; only k rows per query survive the window).
- ``ann_lsh_topk``: random-hyperplane LSH — deterministic seeded
  hyperplanes, sign-bit bucket signature, candidates = bucket
  equi-join, exact cosine rerank of candidates only. The all-pairs
  product never exists; bucket width trades recall for cost.

Cosine folds are ordered left-to-right in both engines (see
functions/vectors.py), and ranking happens on the *rounded* score with
vec_id tiebreaks, so the exact variant is fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_parallel
from ..functions import vectors
from .dedup import _index

N_QUERIES = 10
TOP_K = 5


def _cos4(a: str, b: str, norm_a: str, norm_b: str) -> str:
    """The 4-dp cosine every operator here ranks on, as SQL text over
    two array operands and their precomputed norms. Rounding before
    ranking with explicit id tiebreaks makes rank order engine-portable."""
    return f"round({vectors.cosine(a, b, norm_a, norm_b)}, 4)"


def _query_frame(emb: DataFrame, *extra: str, nrm: bool = True) -> DataFrame:
    """The query set of every top-k operator here: the first N_QUERIES
    corpus vectors as (q_id, q_vec, q_nrm, *extra). ``emb`` is an
    embeddings frame carrying ``nrm`` unless ``nrm=False``."""
    cols = ["vec_id AS q_id", "embedding AS q_vec", *(["nrm AS q_nrm"] if nrm else []), *extra]
    return emb.filter(f"vec_id < {N_QUERIES}").selectExpr(*cols)


def _cosine_topk(cand: DataFrame) -> DataFrame:
    """The exact rerank tail of every cosine top-k operator here: score
    each candidate row (q_id, q_vec, q_nrm, vec_id, embedding, nrm) by
    4-dp cosine and keep each query's TOP_K by (cos DESC, vec_id ASC)."""
    return (
        cand.withColumn("cos", F.expr(_cos4("q_vec", "embedding", "q_nrm", "nrm")))
        .withColumn(
            "rank", F.expr("row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC)")
        )
        .filter(f"rank <= {TOP_K}")
        .selectExpr("q_id", "vec_id", "cos", "rank")
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: for each query vector (vec_id < 10), the 5
    nearest corpus vectors (self excluded).

    Norms are precomputed once per row on each side BEFORE the
    broadcast join — inside the join each corpus norm would be
    re-derived per query (and each query norm per corpus row), an
    O(|Q|x|C|xdim) waste. sqrt is deterministic so dot/(nrm*q_nrm)
    is bit-identical to the inlined cosine.

    The scan is a plain load: a round-robin parallelism floor measured
    below the 1.15x keep rule at sf0.1 (results/scan_floor_ab.json).
    The scoring stays a JVM expression fold, so the query has no Python
    node and no driver-side collect while it is built.
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("nrm", F.expr(vectors.norm("embedding")))
    )
    return _cosine_topk(emb.join(F.broadcast(_query_frame(emb)), F.col("vec_id") != F.col("q_id")))


ANN_TOPK_ORACLE = f"""
WITH queries AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.q_id, e.vec_id,
         round(
           list_sum(list_transform(range(1, len(q.q_vec) + 1),
                    i -> q.q_vec[i]::DOUBLE * e.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.q_vec, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))), 4) AS cos
  FROM queries q JOIN embeddings e ON e.vec_id != q.q_id
)
SELECT q_id, vec_id, cos,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
"""


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes via a seeded
    LCG (no numpy dependency in the plan: planes become literals)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(state / float(1 << 31) - 0.5)
        planes.append(row)
    return planes


def lsh_bucket(vec: str, planes: list[list[float]]) -> str:
    """Sign-bit bucket id as SQL text over the array operand ``vec``:
    bit i = 1 iff dot(plane_i, vec) > 0. Planes become double literals
    (``repr`` round-trips each value exactly)."""
    bucket = "CAST(0 AS BIGINT)"
    for i, plane in enumerate(planes):
        arr = "array(" + ", ".join(f"{x!r}D" for x in plane) + ")"
        bucket = (
            f"({bucket} + CASE WHEN {vectors.dot(arr, vec)} > 0"
            f" THEN CAST(1 AS LONG) << {i} ELSE CAST(0 AS BIGINT) END)"
        )
    return bucket


N_TABLES = 8
N_PLANES_PER_TABLE = 4


def ann_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES_PER_TABLE,
) -> DataFrame:
    """Multi-table random-hyperplane LSH ANN (OR-amplification).

    One b-bit signature alone has hit probability (1 - θ/π)^b — for
    the fixture's moderately-similar neighbors (θ ≈ 60-70°) that is a
    few percent: single-table recall measured 0.02. The standard fix
    is T independent tables OR'd together: a pair is a candidate if it
    collides in ANY table, lifting recall to 1-(1-p^b)^T (~0.7 here)
    while candidates stay bounded by T * n/2^b per query.

    Plan shape: per-vector signatures for all T tables are one narrow
    projection; explode to (table, bucket) rows; candidates are an
    equi-join on (table, bucket) against the broadcast query set;
    dedupe then exact-cosine rerank. At 100 TB: raise b with log2(n)
    to keep bucket sizes flat, T controls recall — the corpus side
    stays a narrow scan + explode, never an all-pairs product.

    Fully oracle-checked despite being "approximate": the hyperplanes
    are seeded literals, so the candidate sets are deterministic and
    ``_lsh_oracle_sql`` reproduces them bit-exactly in DuckDB.
    tests/test_semantics.py additionally asserts recall@5 >= 0.4 vs
    the exact baseline."""

    def build() -> DataFrame:
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .repartition(spark.sparkContext.defaultParallelism)
            .withColumn("nrm", F.expr(vectors.norm("embedding")))
        )
        dim = 64
        tables = [
            (t, _hyperplanes(dim, n_planes, seed=42 + 1000 * t)) for t in range(n_tables)
        ]
        sig = F.expr(
            "array("
            + ", ".join(
                f"struct({t} AS tbl, {lsh_bucket('embedding', planes)} AS bucket)"
                for t, planes in tables
            )
            + ")"
        )
        return emb.select("vec_id", "embedding", "nrm", F.explode(sig).alias("s")).select(
            "vec_id",
            "embedding",
            "nrm",
            F.col("s.tbl").alias("tbl"),
            F.col("s.bucket").alias("bucket"),
        )

    bucketed = _index(spark, "lsh_buckets", build, sf_dir, n_tables, n_planes)

    queries = _query_frame(bucketed, "tbl AS q_tbl", "bucket AS q_bucket")
    cand = (
        bucketed.join(
            F.broadcast(queries),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "q_vec", "q_nrm", "vec_id", "embedding", "nrm")
        .dropDuplicates(["q_id", "vec_id"])
    )
    return _cosine_topk(cand)


def _lsh_oracle_sql(dim: int = 64) -> str:
    """Full DuckDB oracle for :func:`ann_lsh_topk`.

    The operator is deterministic end-to-end: hyperplanes come from a
    seeded LCG (``_hyperplanes``) and become plan literals, and the
    bucket is a sign test on an ordered-fold dot product — both exactly
    reproducible in SQL by embedding the same plane constants as list
    literals (``repr`` round-trips the doubles bit-exactly). Summation
    order matches vectors.py's left-to-right fold, so the sign of every
    plane dot — hence every bucket, candidate set, and reranked row —
    is bit-identical. This upgrades ann_lsh_topk from the rows-only
    check to a full hash-checked oracle.
    """

    def lit(plane: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    def bucket_expr(planes: list[list[float]]) -> str:
        terms = []
        for i, plane in enumerate(planes):
            dot = (
                f"list_sum(list_transform(range(1, {dim + 1}),"
                f" i -> ({lit(plane)})[i] * embedding[i]::DOUBLE))"
            )
            terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
        return "(" + " + ".join(terms) + ")"

    buckets = ", ".join(
        bucket_expr(_hyperplanes(dim, N_PLANES_PER_TABLE, seed=42 + 1000 * t))
        for t in range(N_TABLES)
    )
    return f"""
WITH base AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm,
         [{buckets}] AS buckets
  FROM embeddings
),
bucketed AS (
  SELECT vec_id, embedding, nrm, tbl, buckets[tbl + 1] AS bucket
  FROM base CROSS JOIN (SELECT unnest(range(0, {N_TABLES}))::INT AS tbl) tables
),
q AS (
  SELECT vec_id AS q_id, tbl AS q_tbl, bucket AS q_bucket
  FROM bucketed WHERE vec_id < {N_QUERIES}
),
cand AS (
  SELECT q.q_id, b.vec_id
  FROM bucketed b
  JOIN q ON b.tbl = q.q_tbl AND b.bucket = q.q_bucket AND b.vec_id != q.q_id
  GROUP BY 1, 2
),
scored AS (
  SELECT c.q_id, c.vec_id,
         round(
           list_sum(list_transform(range(1, {dim + 1}),
                    i -> qe.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
           / (qe.nrm * e.nrm), 4) AS cos
  FROM cand c
  JOIN base e ON e.vec_id = c.vec_id
  JOIN base qe ON qe.vec_id = c.q_id
)
SELECT q_id, vec_id, cos,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
"""


ANN_LSH_ORACLE = _lsh_oracle_sql()


N_CENTROIDS = 8
N_PROBE = 2


# --------------------------------------------------------------------------
# The IVF coarse quantizer, shared by every IVF operator here
# --------------------------------------------------------------------------


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """Coarse-quantizer centroids from an embeddings frame (vec_id,
    embedding, nrm) as (cent_id, c_vec, c_nrm): the data-sampled
    vectors vec_id 100..100+N_CENTROIDS. Sampled rather than k-means
    centroids, so the whole scheme is deterministic and fully
    DuckDB-oracle-checked (k-means centroids would depend on float
    iteration order). At 100 TB the centroids come from a sampled
    k-means job and drop into the same broadcast."""
    return emb.filter(f"vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}").selectExpr(
        "vec_id - 100 AS cent_id", "embedding AS c_vec", "nrm AS c_nrm"
    )


def _centroid_scores(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Every corpus vector against every broadcast centroid, scored
    ``a_cos``. Norms are precomputed per side, not per pair: sqrt is
    deterministic, so dot/(nrm*c_nrm) is bit-identical."""
    return emb.join(F.broadcast(cents), F.lit(True)).withColumn(
        "a_cos", F.expr(_cos4("embedding", "c_vec", "nrm", "c_nrm"))
    )


def _ivf_assign(emb: DataFrame, cents: DataFrame, *carry: str) -> DataFrame:
    """The assignment pass: every corpus vector to its nearest centroid
    (a_cos DESC, cent_id ASC) as (vec_id, *carry, list_id); ``carry``
    names ``emb`` columns to keep alongside.

    max_by over an ordering struct (cos DESC, cent_id ASC via negation)
    instead of a row_number window: the N_CENTROIDS candidate rows per
    vector collapse map-side in the partial aggregate, so the shuffle
    carries one row per vector and nothing is ever sorted. This pass is
    Θ(N·nlist) and the place a scalable assignment would replace."""
    if carry:
        value, alias = f"struct(cent_id, {', '.join(carry)})", "best"
    else:
        value, alias = "cent_id", "list_id"
    lists = _centroid_scores(emb, cents).groupBy("vec_id").agg(
        F.expr(f"max_by({value}, struct(a_cos AS c, -cent_id AS t)) AS {alias}")
    )
    if not carry:
        return lists
    return lists.selectExpr(
        "vec_id", *(f"best.{c} AS {c}" for c in carry), "best.cent_id AS list_id"
    )


def _ivf_top2(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Each vector's two nearest lists, one row each, ranked ``a_rank``
    1 and 2 in assignment order (rank 1 is :func:`_ivf_assign`'s list).
    The soft (multi-assignment) IVF membership: max_by cannot express
    "second best", so this ranks with a window and shuffles all
    N·nlist scored rows once."""
    return (
        _centroid_scores(emb, cents)
        .withColumn(
            "a_rank",
            F.expr("row_number() OVER (PARTITION BY vec_id ORDER BY a_cos DESC, cent_id ASC)"),
        )
        .filter("a_rank <= 2")
    )


def _ivf_probes(queries: DataFrame, cents: DataFrame, n_probe: int, *keep: str) -> DataFrame:
    """Each query's ``n_probe`` nearest lists (p_cos DESC, cent_id
    ASC) as (q_id, *keep, list_id), ``queries`` being a
    :func:`_query_frame`. n_probe is the recall/cost dial of every IVF
    index; n_probe = N_CENTROIDS degenerates to exact search."""
    return (
        queries.join(F.broadcast(cents), F.lit(True))
        .withColumn("p_cos", F.expr(_cos4("q_vec", "c_vec", "q_nrm", "c_nrm")))
        .withColumn(
            "p_rank",
            F.expr("row_number() OVER (PARTITION BY q_id ORDER BY p_cos DESC, cent_id ASC)"),
        )
        .filter(f"p_rank <= {int(n_probe)}")
        .selectExpr("q_id", *keep, "cent_id AS list_id")
    )


def ivf_ann_topk(
    spark: SparkSession, sf_dir: str, n_probe: int = N_PROBE
) -> DataFrame:
    """IVF-Flat ANN: corpus partitioned into inverted lists by nearest
    centroid; queries probe the n_probe nearest lists and rerank
    exactly within them. The probe-count dial is property-swept across
    its full range in tests/test_property.py.

    At 100 TB the assignment pass writes the corpus bucketed or
    partitioned BY list_id (a one-time cost; the stored IVF-PQ index
    below is that layout), and each query then scans only
    nprobe/nlist of the data. This query demonstrates that read path,
    with both the assignment join and the probe join broadcast
    (centroids and queries are small by construction).

    The inverted lists are an index leaf (:func:`_index`) built once
    per session and fixture identity. It carries ``embedding`` and
    ``nrm``, so the centroids and the query vectors are read from it
    too: a query over a built index scans no parquet and repartitions
    nothing. ``n_probe`` is a search parameter, not part of the index.
    """

    def build() -> DataFrame:
        # repartition: the single-file fixture parquet yields 2 input
        # splits, which would serialize the 64-dim cosine assignment
        # pass on 2 cores (same pattern as dedup._corpus_with_near_dups)
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .repartition(spark.sparkContext.defaultParallelism)
            .withColumn("nrm", F.expr(vectors.norm("embedding")))
        )
        return _ivf_assign(emb, _ivf_centroids(emb), "embedding", "nrm")

    assigned = _index(spark, "ivf_lists", build, sf_dir)
    cents = _ivf_centroids(assigned)
    probes = _ivf_probes(_query_frame(assigned), cents, n_probe, "q_vec", "q_nrm")
    # scan only the probed lists, exact rerank
    return _cosine_topk(assigned.join(F.broadcast(probes), "list_id").filter("vec_id != q_id"))


_COS_SQL = """
round(
  list_sum(list_transform(range(1, len({a}) + 1),
           i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
  / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE)))), 4)
"""

def ivf_ann_oracle(n_probe: int = N_PROBE) -> str:
    """Oracle template over the probe-count dial."""
    return f"""
WITH cents AS (
  SELECT vec_id - 100 AS cent_id, embedding AS c_vec
  FROM embeddings WHERE vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, embedding, cent_id AS list_id
  FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.c_vec')} DESC,
                      c.cent_id ASC) AS a_rank
    FROM embeddings e CROSS JOIN cents c
  ) WHERE a_rank = 1
),
probes AS (
  SELECT q_id, q_vec, cent_id AS list_id
  FROM (
    SELECT q.vec_id AS q_id, q.embedding AS q_vec, c.cent_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS_SQL.format(a='q.embedding', b='c.c_vec')} DESC,
                      c.cent_id ASC) AS p_rank
    FROM embeddings q CROSS JOIN cents c
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE p_rank <= {int(n_probe)}
)
SELECT q_id, vec_id, cos, rank
FROM (
  SELECT p.q_id, a.vec_id,
         {_COS_SQL.format(a='p.q_vec', b='a.embedding')} AS cos,
         CAST(row_number() OVER (
           PARTITION BY p.q_id
           ORDER BY {_COS_SQL.format(a='p.q_vec', b='a.embedding')} DESC,
                    a.vec_id ASC) AS INT) AS rank
  FROM assigned a JOIN probes p USING (list_id)
  WHERE a.vec_id != p.q_id
)
WHERE rank <= {TOP_K}
"""


IVF_ANN_ORACLE = ivf_ann_oracle()


def mllib_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via MLlib's ``BucketedRandomProjectionLSH`` (Euclidean): the
    library-provided counterpart to the hand-built hyperplane LSH —
    fit hash tables over the corpus, ``approxSimilarityJoin`` the query
    set within distance 1.3 (fixture embeddings are unit-norm; NN
    distances sit at 1.0-1.25), exact-distance top-5 rerank.

    Same plan shape as the custom LSH: candidates from a bucket
    equi-join (OR across numHashTables), never an all-pairs product;
    the join output carries the exact Euclidean distance for the
    rerank. Seeded ⇒ deterministic per dataset, but hash-dependent ⇒
    rows-only driver check; tests floor recall@5 vs the exact cosine
    baseline (equivalent ordering for unit vectors: d² = 2-2cos).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("features", array_to_vector(F.col("embedding").cast("array<double>")))
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=1.0,
        numHashTables=8,
        seed=42,
    ).fit(emb)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    joined = model.approxSimilarityJoin(emb, queries, 1.3, distCol="dist")
    pairs = joined.select(
        F.col("datasetB.vec_id").alias("q_id"),
        F.col("datasetA.vec_id").alias("vec_id"),
        F.round(F.col("dist"), 4).alias("dist"),
    ).filter(F.col("q_id") != F.col("vec_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "dist", "rank")
    )


MLLIB_LSH_RECALL_FLOOR = 0.8  # measured 1.0 / 0.98 at sf0.001 / sf0.01


def mllib_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable recall certificate for :func:`mllib_lsh_ann_topk`
    (same pattern as dedup_minhash_recall: the ANN neighbor list is
    MLlib-RNG-dependent and irreproducible in SQL, but its recall
    against the exact top-k — which DuckDB recomputes in full — is a
    deterministic scalar under the pinned seed). Output: the exact
    truth-pair count plus a recall >= MLLIB_LSH_RECALL_FLOOR flag; a
    bucketing/join regression collapses recall and flips the flag.
    """
    truth = ann_cosine_topk(spark, sf_dir).select("q_id", "vec_id")
    found = (
        mllib_lsh_ann_topk(spark, sf_dir)
        .select("q_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    agg = truth.join(found, ["q_id", "vec_id"], "left").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
    )
    return agg.select(
        "n_true",
        (F.col("n_hit") >= F.col("n_true") * F.lit(MLLIB_LSH_RECALL_FLOOR)).alias("recall_ok"),
    )


MLLIB_LSH_RECALL_ORACLE = f"""
SELECT count(*) AS n_true, TRUE AS recall_ok
FROM ({ANN_TOPK_ORACLE}) t
"""


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector column hygiene stats (norm distribution per label) — the
    sanity probe every embedding pipeline runs before indexing."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.expr(f"round({vectors.norm('embedding')}, 4) AS nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
    )


EMBEDDING_NORM_ORACLE = """
WITH norms AS (
  SELECT label,
         round(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 4) AS nrm
  FROM embeddings
)
SELECT label, count(*) AS n,
       round(min(nrm), 4) AS min_norm,
       round(max(nrm), 4) AS max_norm
FROM norms GROUP BY label
"""


def crossmodal_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval: text-filtered semantic search — the RAG
    / curation shape where document metadata gates the candidate set
    BEFORE vector scoring.

    documents (text modality) joins embeddings (vector modality) on
    the shared id; the language + length gate prunes candidates at the
    scan, so the cosine pass scores only survivors. Query vectors are
    the first 3 embeddings; top-5 docs each.

    At scale: the metadata gate is a pushed parquet filter (cheap);
    the doc-embedding join is key-equal (co-partitionable/bucketable);
    only the |Q| query vectors broadcast. Score work is
    |survivors| x |Q| x dim — the gate is what makes 100 TB feasible,
    which is the point of filtering before scoring.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en") & (F.col("n_chars") >= 200)
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cand = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id",
        "n_chars",
        "embedding",
        F.expr(f"{vectors.norm('embedding')} AS nrm"),
    )
    queries = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            F.expr(f"{vectors.norm('embedding')} AS q_nrm"),
        )
    )
    cos = F.expr(_cos4("q_vec", "embedding", "q_nrm", "nrm"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("doc_id").asc())
    return (
        cand.join(F.broadcast(queries), F.col("doc_id") != F.col("q_id"))
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "doc_id", "n_chars", "cos", "rank")
    )


CROSSMODAL_ORACLE = """
WITH cand AS (
  SELECT d.doc_id, d.n_chars, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.lang = 'en' AND d.n_chars >= 200),
queries AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.q_id, c.doc_id, c.n_chars,
         round(
           list_sum(list_transform(range(1, len(q.q_vec) + 1),
                    i -> q.q_vec[i]::DOUBLE * c.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.q_vec, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(c.embedding,
                                             x -> x::DOUBLE * x::DOUBLE)))), 4) AS cos
  FROM queries q JOIN cand c ON c.doc_id != q.q_id),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, doc_id ASC) AS INT) AS rank
  FROM scored)
SELECT q_id, doc_id, n_chars, cos, rank FROM ranked WHERE rank <= 5
"""


def mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (MIPS): for each query vector the
    top-5 corpus vectors by RAW dot product — the recommendation /
    retrieval scoring mode where vector magnitude carries signal
    (unlike cosine, which normalizes it away).

    Same scale posture as ann_cosine_topk: corpus never shuffles
    (broadcast queries + per-partition top-k via the rank window on
    q_id — |Q| partitions, each holding |corpus| candidate rows only
    until the window's local sort prunes to k). No norms needed at
    all — MIPS is one fold per (query, candidate).
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = _query_frame(emb, nrm=False)
    ip = F.expr(f"round({vectors.dot('q_vec', 'embedding')}, 4)")
    w = Window.partitionBy("q_id").orderBy(F.col("ip").desc(), F.col("vec_id").asc())
    return (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id"))
        .withColumn("ip", ip)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "ip", "rank")
    )


MIPS_TOPK_ORACLE = f"""
WITH queries AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.q_id, e.vec_id,
         round(list_sum(list_transform(range(1, len(q.q_vec) + 1),
                        i -> q.q_vec[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4) AS ip
  FROM queries q JOIN embeddings e ON e.vec_id != q.q_id
)
SELECT q_id, vec_id, ip,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, vec_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth
    lever for vector corpora at scale (4x smaller than float32, 8x
    smaller than float64; IVF/HNSW serving tiers are routinely int8).

    scale = max|v| / 127; q_i = round(v_i / scale); the emitted
    per-vector stats (scale, quantized L1 mass, mean reconstruction
    error) are the quality metrics a quantization sweep monitors.
    Pure higher-order-function column algebra — codegen'd, zero
    shuffle, trivially parallel at any corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vabs = F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    max_abs = F.array_max(vabs)
    scale = max_abs / F.lit(127.0)
    quant = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") / F.col("scale")).cast("int")
    )
    recon_err = F.zip_with(
        F.col("embedding"),
        F.col("quant"),
        lambda x, q: F.abs(x.cast("double") - q.cast("double") * F.col("scale")),
    )
    return (
        emb.withColumn("scale", scale)
        .withColumn("quant", quant)
        .select(
            "vec_id",
            F.round(F.col("scale"), 6).alias("q_scale"),
            F.aggregate(
                F.col("quant"), F.lit(0).cast("long"), lambda acc, q: acc + F.abs(q)
            ).alias("q_l1"),
            F.round(
                F.aggregate(recon_err, F.lit(0.0), lambda acc, e: acc + e)
                / F.size(F.col("embedding")),
                6,
            ).alias("mean_abs_err"),
        )
    )


EMBEDDING_QUANTIZE_ORACLE = """
WITH scaled AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS q_scale
  FROM embeddings
),
quantized AS (
  SELECT vec_id, embedding, q_scale,
         list_transform(embedding, x -> CAST(round(x::DOUBLE / q_scale) AS INT)) AS quant
  FROM scaled
)
SELECT vec_id,
       round(q_scale, 6) AS q_scale,
       CAST(list_sum(list_transform(quant, q -> CAST(abs(q) AS BIGINT))) AS BIGINT) AS q_l1,
       round(list_sum(list_transform(range(1, len(embedding) + 1),
             i -> abs(embedding[i]::DOUBLE - quant[i]::DOUBLE * q_scale)))
             / len(embedding), 6) AS mean_abs_err
FROM quantized
"""


KMEANS_K = 8


def kmeans_assign_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment step against k = 8 fixed centroids
    (the embeddings with vec_id < 8) — the Lloyd-iteration inner loop
    as a distributed query, and the assignment stage of semantic
    clustering / semdedup pipelines.

    The centroid table is k rows — it BROADCASTS, so assignment is a
    map-side nested-loop over the corpus scan: the corpus never
    shuffles, and at 100 TB each executor scores its partitions
    against the in-memory centroid block. Squared L2 is computed as
    an ordered zip_with fold (JVM codegen, bit-matching the oracle's
    ordered list fold); the argmin ranks on the ROUNDED distance with
    centroid-id tiebreak so both engines resolve near-ties the same
    way. A full Lloyd loop is this query + a k-row mean update per
    round (see dedup_clusters_cc for the iterate-with-scalar-feedback
    pattern).
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    return _argmin_assign(emb, cents, "centroid_id", keep_dist=True)


KMEANS_ASSIGN_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS c_vec
  FROM embeddings WHERE vec_id < {KMEANS_K}
),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         round(list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)
                    * (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE))), 4) AS dist2
  FROM embeddings e CROSS JOIN cents c
)
SELECT vec_id, centroid_id, dist2
FROM scored
QUALIFY row_number() OVER (PARTITION BY vec_id
                           ORDER BY dist2 ASC, centroid_id ASC) = 1
"""


def _argmin_assign(
    emb: DataFrame, cents: DataFrame, out_col: str, keep_dist: bool = False
) -> DataFrame:
    """Assign each (vec_id, embedding) row to the nearest centroid in
    the broadcast (centroid_id, c_vec) table: argmin on ROUNDED
    squared L2 with centroid-id tiebreak (both engines resolve
    near-ties identically). Shared by kmeans_assign_fixed,
    kmeans_lloyd_two_rounds, and dedup.dedup_semantic_clusters.

    The argmin is min(struct(dist2, centroid_id)) — lexicographic
    struct ordering IS the tiebreak — rather than a per-vec_id
    row_number window: the aggregate combines map-side (the broadcast
    join leaves all k scored rows of a vector in one partition), so
    the exchange carries n rows, not n×k. At k=1024 that is a 1024×
    smaller shuffle than the window formulation for identical output.
    """
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.col("c_vec"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        4,
    )
    best = (
        emb.join(F.broadcast(cents))
        .select("vec_id", F.struct(d2.alias("dist2"), "centroid_id").alias("sc"))
        .groupBy("vec_id")
        .agg(F.min("sc").alias("sc"))
    )
    cols = ["vec_id", F.col("sc.centroid_id").alias(out_col)]
    if keep_dist:
        cols.append(F.col("sc.dist2").alias("dist2"))
    return best.select(*cols)


def kmeans_lloyd_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full Lloyd iterations — assignment, centroid-mean update,
    reassignment — as one declarative plan: the iterative-refinement
    algorithm class (k-means, EM, PageRank) on Spark, where each round
    is a bounded-size aggregate fed back via broadcast, never a
    driver-side loop over rows.

    The update step computes per-(cluster, dim) means on the exploded
    dimension table (map-side combined; k x dim = 512 result rows),
    ROUNDS them to 6 decimals — the one place cross-engine float-sum
    order could drift — and reassembles ordered arrays, so round-2
    scoring is again a deterministic ordered fold against broadcast
    centroids. The output surface is integer-only (vec_id, round-1
    cluster, round-2 cluster, moved flag): zero float-hash exposure.
    At 100 TB each extra round adds one scan + one k x dim aggregate;
    centroids always broadcast.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents0 = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    a1 = _argmin_assign(emb, cents0, "c1")

    dims = (
        emb.join(a1, "vec_id")
        .select("c1", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("c1", "dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
    )
    cents1 = dims.groupBy(F.col("c1").alias("centroid_id")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
        ).alias("c_vec")
    )
    a2 = _argmin_assign(emb, cents1, "c2")

    return (
        a1.join(a2, "vec_id")
        .select(
            "vec_id",
            "c1",
            "c2",
            (F.col("c1") != F.col("c2")).cast("int").alias("moved"),
        )
    )


KMEANS_LLOYD_ORACLE = f"""
WITH cents0 AS (
  SELECT vec_id AS centroid_id, embedding AS c_vec
  FROM embeddings WHERE vec_id < {KMEANS_K}
),
scored1 AS (
  SELECT e.vec_id, c.centroid_id,
         round(list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE)
                    * (e.embedding[i]::DOUBLE - c.c_vec[i]::DOUBLE))), 4) AS dist2
  FROM embeddings e CROSS JOIN cents0 c
),
a1 AS (
  SELECT vec_id, centroid_id AS c1 FROM scored1
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY dist2 ASC, centroid_id ASC) = 1
),
exploded AS (
  SELECT a1.c1, unnest(range(1, len(e.embedding) + 1)) AS i, e.embedding
  FROM embeddings e JOIN a1 USING (vec_id)
),
dim_means AS (
  SELECT c1, i - 1 AS dim, round(avg(embedding[i]::DOUBLE), 6) AS m
  FROM exploded GROUP BY c1, i
),
cents1 AS (
  SELECT c1 AS centroid_id, list(m ORDER BY dim) AS c_vec
  FROM dim_means GROUP BY c1
),
scored2 AS (
  SELECT e.vec_id, c.centroid_id,
         round(list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (e.embedding[i]::DOUBLE - c.c_vec[i])
                    * (e.embedding[i]::DOUBLE - c.c_vec[i]))), 4) AS dist2
  FROM embeddings e CROSS JOIN cents1 c
),
a2 AS (
  SELECT vec_id, centroid_id AS c2 FROM scored2
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY dist2 ASC, centroid_id ASC) = 1
)
SELECT vec_id, c1, c2, CAST(c1 != c2 AS INT) AS moved
FROM a1 JOIN a2 USING (vec_id)
"""


JL_OUT_DIM = 16
_JL_DIM = 64


def _jl_sign_sql(i: str, j: str) -> str:
    """Engine-portable ±1 sign for cell (i, j): integer LCG parity.

    Deliberately NOT xxhash64/md5 — the sign source must be an
    expression BOTH engines evaluate bit-identically, so it's pure
    integer arithmetic (Knuth multiplicative constants mod a prime).
    """
    return f"(CASE WHEN (({i} * 2654435761 + {j} * 40503) % 97) % 2 = 0 THEN 1.0 ELSE -1.0 END)"


def embedding_random_projection_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction 64 -> 16 with a
    seedless deterministic ±1 sign matrix (Achlioptas-style database-
    friendly projection): y_j = (1/sqrt(k)) * Σ_i sign(i,j) * x_i.

    Entirely JVM higher-order functions — transform over the 16 output
    dims, each an aggregate fold over the 64 inputs, fused with the
    scan (zero shuffle, zero Python). The matrix is never materialized
    anywhere: signs come from an integer formula, so the operator is
    stateless and identically reproducible on any cluster — the same
    no-stored-randomness rule as the hash-based train/holdout split.
    At scale this is the cheap pre-step that shrinks ANN index memory
    4x; pair distances are preserved within the JL bound (semantic
    test checks the observed distortion envelope).

    This array-typed form (``proj: array<double>``) is the one
    downstream index builders consume; the registry entry
    ``embedding_random_projection`` below explodes it to long form
    because array columns are not sortable by the driver's pandas
    canonicalizer (round-5 red row).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    scale = 1.0 / (JL_OUT_DIM ** 0.5)
    proj = F.expr(
        f"""transform(sequence(0, {JL_OUT_DIM - 1}), j ->
              round({scale} * aggregate(sequence(0, {_JL_DIM - 1}), CAST(0.0 AS DOUBLE),
                (acc, i) -> acc + {_jl_sign_sql('i', 'j')}
                            * CAST(element_at(embedding, i + 1) AS DOUBLE)), 4))"""
    )
    return emb.select("vec_id", "label", proj.alias("proj"))


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry / driver face of the JL projection: the same 64 -> 16
    deterministic projection, emitted long-form ``(vec_id, label, j,
    value)`` — every column scalar and the key (vec_id, j) unique, so
    any engine-neutral canonicalizer can sort it. posexplode keeps the
    whole thing one narrow pipeline stage (still zero shuffle)."""
    vecs = embedding_random_projection_vectors(spark, sf_dir)
    return vecs.select(
        "vec_id",
        "label",
        F.posexplode("proj").alias("j", "value"),
    ).select("vec_id", "label", F.col("j").cast("long").alias("j"), "value")


EMBEDDING_RANDOM_PROJECTION_ORACLE = f"""
SELECT e.vec_id, e.label, t.j AS j,
       round({1.0 / (JL_OUT_DIM ** 0.5)} * list_sum(
         list_transform(range(0, {_JL_DIM}),
           i -> {_jl_sign_sql('i', 't.j')} * e.embedding[i + 1]::DOUBLE)), 4)
       AS value
FROM embeddings e, range(0, {JL_OUT_DIM}) t(j)
"""


def embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene: the 3 vectors farthest from their label's
    centroid, per label — the review queue for mislabeled / corrupted
    embeddings before they poison a nearest-neighbor index.

    Exact INTEGER geometry end to end: components quantize to e4
    int64, per-(label, dim) sums build the centroid NUMERATOR, and the
    squared distance to the centroid scales by n² —
    ``sum_i (n*q_i - S_i)²`` — so no float mean, no float subtraction,
    no accumulation-order dependence; ranks can never flip between
    engines. (Fixture magnitudes: |q| <= ~6e3, n per label ~600 at
    sf0.1 → per-dim term <= ~2e13, 64-dim sum <= ~1.3e15 — int64 has
    3 orders of headroom; at larger n, quantize the MEAN instead.)

    Scale shape: the centroid pass is a (label x dim)-keyed aggregate
    (map-side combinable, 640 output rows); centroids broadcast back
    and the distance fold + per-label top-3 window never shuffles the
    corpus more than once on the label key.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select(
        "vec_id",
        "label",
        # Widen float32 -> double BEFORE the scale multiply: Spark's
        # float*int stays float32 while DuckDB promotes to double, and
        # the precision gap flips round() by 1 on some components
        # (caught at sf0.001).
        F.expr(
            "transform(embedding, x -> cast(round(cast(x as double) * 10000) as bigint))"
        ).alias("qv"),
    )
    sums = (
        rows.select("label", F.posexplode("qv").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.sum("val").alias("s"))
    )
    cent = sums.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, s))), e -> e.s)"
        ).alias("svec")
    )
    counts = rows.groupBy("label").agg(F.count("*").alias("n"))
    dist = (
        rows.join(F.broadcast(cent), "label")
        .join(F.broadcast(counts), "label")
        .select(
            "label",
            "vec_id",
            F.expr(
                "aggregate(zip_with(qv, svec, (a, b) -> (n * a - b) * (n * a - b)), "
                "0L, (acc, x) -> acc + x)"
            ).alias("dd"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("dd").desc(), F.col("vec_id"))
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("label", F.col("rank").cast("int").alias("rank"), "vec_id", "dd")
        .orderBy("label", "rank")
    )


EMBEDDING_OUTLIERS_ORACLE = """
WITH rows0 AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
), n AS (
  SELECT label, count(*) AS n FROM rows0 GROUP BY label
), sums AS (
  SELECT label, i AS pos, sum(qv[i]) AS s
  FROM rows0, generate_series(1, 64) t(i)
  GROUP BY label, i
), cent AS (
  SELECT label, list(s ORDER BY pos) AS svec FROM sums GROUP BY label
), dist AS (
  SELECT r.label, r.vec_id,
         CAST(list_sum(list_transform(range(1, 65),
              i -> (n.n * r.qv[i] - c.svec[i]) * (n.n * r.qv[i] - c.svec[i])))
           AS BIGINT) AS dd
  FROM rows0 r
  JOIN cent c ON r.label = c.label
  JOIN n ON r.label = n.label
)
SELECT label,
       CAST(row_number() OVER (PARTITION BY label ORDER BY dd DESC, vec_id)
            AS INT) AS rank,
       vec_id, dd
FROM dist
QUALIFY rank <= 3
ORDER BY label, rank
"""


RRF_DEPTH = 20   # candidate depth fused from each retriever
RRF_K = 60       # the standard RRF dampening constant
RRF_SCALE = 1_000_000  # integer scale: credit = floor(1e6 / (60 + rank))


def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: fuse the cosine
    ranking (semantic similarity) and the raw inner-product ranking
    (magnitude-aware relevance) of each query's top-20 candidates into
    one list — the standard way to combine retrievers without score
    calibration (Cormack et al. 2009), used verbatim in hybrid
    dense+sparse search stacks.

    Credits are INTEGER ``floor(1e6/(60+rank))`` so fused scores sum
    exactly on any engine — RRF's float 1/(k+r) would accumulate in
    join order. A candidate missing from one list simply earns no
    credit from it (full-outer join semantics). Ties break by vec_id.

    Scale shape: both retriever rankings reuse the broadcast-queries /
    per-query-window shape of ``ann_cosine_topk`` (corpus never
    shuffles); the fusion join runs on the two top-20 lists — |Q|x20
    rows, driver-free and trivially small however large the corpus.
    In production the two inputs would be the outputs of any two ANN
    indexes (IVF, LSH, BM25); the fusion stage is identical.

    The scan reads with a parallelism floor: the per-candidate
    dot-product folds serialize on the single-split scan otherwise
    (1.7x at sf0.1, results/scan_floor_ab.json).
    """
    emb = (
        load_table_parallel(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("nrm", F.expr(vectors.norm("embedding")))
    )
    cand = emb.join(F.broadcast(_query_frame(emb)), F.col("vec_id") != F.col("q_id"))
    cos = F.expr(_cos4("q_vec", "embedding", "q_nrm", "nrm"))
    ip = F.expr(f"round({vectors.dot('q_vec', 'embedding')}, 4)")
    scored = cand.select("q_id", "vec_id", cos.alias("cos"), ip.alias("ip"))
    w_cos = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    w_ip = Window.partitionBy("q_id").orderBy(F.col("ip").desc(), F.col("vec_id"))
    ranked = scored.select(
        "q_id",
        "vec_id",
        F.row_number().over(w_cos).alias("cos_rank"),
        F.row_number().over(w_ip).alias("ip_rank"),
    )
    credit = lambda r: F.when(  # noqa: E731
        F.col(r) <= RRF_DEPTH, F.floor(RRF_SCALE / (RRF_K + F.col(r)))
    ).otherwise(0)
    fused = ranked.select(
        "q_id",
        "vec_id",
        (credit("cos_rank") + credit("ip_rank")).cast("long").alias("rrf_score"),
    ).where(F.col("rrf_score") > 0)
    w_f = Window.partitionBy("q_id").orderBy(
        F.col("rrf_score").desc(), F.col("vec_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f))
        .filter(F.col("fused_rank") <= TOP_K)
        .select("q_id", "vec_id", "rrf_score", F.col("fused_rank").cast("int").alias("fused_rank"))
    )


HYBRID_RRF_ORACLE = f"""
WITH queries AS (
  SELECT vec_id AS q_id, embedding AS q_vec
  FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.q_id, e.vec_id,
         round(
           list_sum(list_transform(range(1, len(q.q_vec) + 1),
                    i -> q.q_vec[i]::DOUBLE * e.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.q_vec, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(e.embedding,
                     x -> x::DOUBLE * x::DOUBLE)))), 4) AS cos,
         round(list_sum(list_transform(range(1, len(q.q_vec) + 1),
                        i -> q.q_vec[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4)
           AS ip
  FROM queries q JOIN embeddings e ON e.vec_id != q.q_id
), ranked AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)
           AS cos_rank,
         row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, vec_id)
           AS ip_rank
  FROM scored
), fused AS (
  SELECT q_id, vec_id,
         CAST(CASE WHEN cos_rank <= {RRF_DEPTH}
                   THEN floor({RRF_SCALE} / ({RRF_K} + cos_rank)) ELSE 0 END
            + CASE WHEN ip_rank <= {RRF_DEPTH}
                   THEN floor({RRF_SCALE} / ({RRF_K} + ip_rank)) ELSE 0 END
              AS BIGINT) AS rrf_score
  FROM ranked
)
SELECT q_id, vec_id, rrf_score,
       CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY rrf_score DESC, vec_id) AS INT) AS fused_rank
FROM fused
WHERE rrf_score > 0
QUALIFY fused_rank <= {TOP_K}
"""


# --------------------------------------------------------------------------
# Product quantization codebook stats
# --------------------------------------------------------------------------

_PQ_SUBS = 8  # 64 dims -> 8 subspaces of 8 dims
_PQ_DIMS = 8
_PQ_CENTERS = 4


def _e4_parts(
    df: DataFrame, key: str = "vec_id", vec: str = "embedding", xi: str = "xi"
) -> DataFrame:
    """``vec`` cut into _PQ_DIMS-wide subvectors, one row per element:
    (key, sub, j, xi) with the element quantized to an e4 int64, so every
    subvector dot or distance built on it is exact integer arithmetic."""
    return df.selectExpr(key, f"posexplode({vec}) AS (dim, x)").selectExpr(
        key,
        f"CAST(dim / {_PQ_DIMS} AS INT) AS sub",
        f"dim % {_PQ_DIMS} AS j",
        f"CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) AS {xi}",
    )


def _pq_centers_df(spark: SparkSession, n_centers: int) -> DataFrame:
    """A seeded integer PQ codebook of ``n_centers`` centers per
    subspace as a (sub, center, j, ci) frame: pq_quantize_stats keeps a
    2-bit demo table, the stored IVF-PQ index encodes with 4 bits and
    its query-side ADC lookup table scores against the same codebook.
    Trained centroids drop in as the same broadcast."""
    return spark.range(_PQ_SUBS * n_centers * _PQ_DIMS).select(
        (F.col("id") / (n_centers * _PQ_DIMS)).cast("int").alias("sub"),
        ((F.col("id") / _PQ_DIMS).cast("long") % n_centers).alias("center"),
        (F.col("id") % _PQ_DIMS).alias("j"),
        (
            (
                (F.col("id") / (n_centers * _PQ_DIMS)).cast("long") * 73856093
                + ((F.col("id") / _PQ_DIMS).cast("long") % n_centers) * 19349663
                + (F.col("id") % _PQ_DIMS) * 83492791
            )
            % 2147483647
            % 10001
            - 5000
        ).alias("ci"),
    )


def pq_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization assignment pass: split each 64-dim vector
    into 8 subvectors, snap each to its nearest of 4 codebook centers,
    and report per (subspace, center) the assignment count and mean
    quantization error — the codebook-health report an IVF-PQ index
    build emits (ivf_ann_topk is the IVF half; PQ is how the residuals
    compress 8× at 100 TB).

    Determinism: the codebook is a seeded integer-hash literal table
    (trained centroids drop in as the same broadcast), coordinates
    quantize to e4 ints FIRST, so every squared distance is an exact
    int64 and the argmin (distance, center tie-break) can never flip
    between engines. Scale shape: posexplode → broadcast-join the
    256-row codebook → two map-side combinable aggregations; the
    argmin is a 4-row-per-key window.
    """
    dims = _e4_parts(load_table(spark, sf_dir, "embeddings"))
    dists = (
        dims.join(F.broadcast(_pq_centers_df(spark, _PQ_CENTERS)), ["sub", "j"])
        .groupBy("vec_id", "sub", "center")
        .agg(
            F.sum((F.col("xi") - F.col("ci")) * (F.col("xi") - F.col("ci"))).alias(
                "d2"
            )
        )
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("d2", "center")
    assigned = dists.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    return (
        assigned.groupBy("sub", "center")
        .agg(
            F.count("*").alias("n_assigned"),
            F.round(F.sum("d2") / F.count("*") / 1e8, 4).alias("avg_err"),
        )
        .orderBy("sub", "center")
    )


PQ_QUANTIZE_ORACLE = f"""
WITH dims AS (
  SELECT vec_id,
         CAST((t.dim - 1) // {_PQ_DIMS} AS INT) AS sub,
         (t.dim - 1) % {_PQ_DIMS} AS j,
         CAST(round(CAST(t.x AS DOUBLE) * 10000) AS BIGINT) AS xi
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS dim) t
), centers AS (
  SELECT CAST(i // ({_PQ_CENTERS} * {_PQ_DIMS}) AS INT) AS sub,
         CAST((i // {_PQ_DIMS}) % {_PQ_CENTERS} AS BIGINT) AS center,
         i % {_PQ_DIMS} AS j,
         CAST((i // ({_PQ_CENTERS} * {_PQ_DIMS})) * 73856093
              + ((i // {_PQ_DIMS}) % {_PQ_CENTERS}) * 19349663
              + (i % {_PQ_DIMS}) * 83492791 AS BIGINT)
           % 2147483647 % 10001 - 5000 AS ci
  FROM (SELECT unnest(generate_series(0,
         {_PQ_SUBS * _PQ_CENTERS * _PQ_DIMS - 1})) AS i)
), dists AS (
  SELECT vec_id, sub, center,
         CAST(sum((xi - ci) * (xi - ci)) AS BIGINT) AS d2
  FROM dims JOIN centers USING (sub, j)
  GROUP BY 1, 2, 3
), assigned AS (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id, sub ORDER BY d2, center) AS rk
  FROM dists
)
SELECT sub, center, count(*) AS n_assigned,
       round(CAST(sum(d2) AS BIGINT) / count(*) / 1e8, 4) AS avg_err
FROM assigned WHERE rk = 1
GROUP BY sub, center
ORDER BY sub, center
"""


# --------------------------------------------------------------------------
# Late-interaction (MaxSim) retrieval
# --------------------------------------------------------------------------


def _query_parts(parts: DataFrame) -> DataFrame:
    """The query vectors' :func:`_e4_parts` as (q_id, qsub, j, qi)."""
    return parts.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("sub").alias("qsub"),
        "j",
        F.col("xi").alias("qi"),
    )


def _maxsim_top3(dots: DataFrame) -> DataFrame:
    """MaxSim from subpair dots (q_id, vec_id, qsub, sub, pdot): max
    over document parts, summed over query parts, top-3 per query by
    (score DESC, vec_id ASC)."""
    maxsim = (
        dots.groupBy("q_id", "vec_id", "qsub")
        .agg(F.max("pdot").alias("best"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("best").alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        maxsim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("q_id", "vec_id", "score", "rank")
    )


def latesim_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT's MaxSim): treat each
    vector's 8 subvectors as per-token embeddings and score
    score(q, d) = Σ_s max_t ⟨q_s, d_t⟩ — every query part finds its
    best-matching document part, the scoring family multi-vector
    retrievers use instead of one pooled dot product. Top-3 per query
    (self excluded).

    Integer-exact: subvector dots are int64 sums of e4-int products,
    the max and the outer sum stay integer, so the ranking is
    bit-portable with no rounding step at all. Scale shape: this is
    the exact BRUTE-FORCE baseline (|Q|×|C|×64 subpair dots via one
    map-side-combinable aggregate chain); production narrows |C| with
    the ANN candidates first (ivf/ivfpq) and MaxSim re-scores only the
    shortlist — the same composition pattern as ivfpq_ann_topk_bucketed.
    """
    parts = _e4_parts(load_table(spark, sf_dir, "embeddings"))
    qparts = _query_parts(parts)
    # subpair dots: for each (q, doc, q-part, doc-part) the int64 dot,
    # then max over doc-parts, then sum over q-parts.
    dots = (
        parts.join(F.broadcast(qparts), "j")
        .where(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id", "qsub", "sub")
        .agg(F.sum(F.col("qi") * F.col("xi")).alias("pdot"))
    )
    return _maxsim_top3(dots)


LATESIM_MAXSIM_ORACLE = f"""
WITH parts AS (
  SELECT vec_id,
         CAST((t.dim - 1) // {_PQ_DIMS} AS INT) AS sub,
         (t.dim - 1) % {_PQ_DIMS} AS j,
         CAST(round(CAST(t.x AS DOUBLE) * 10000) AS BIGINT) AS xi
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS dim) t
), qparts AS (
  SELECT vec_id AS q_id, sub AS qsub, j, xi AS qi
  FROM parts WHERE vec_id < {N_QUERIES}
), dots AS (
  SELECT q.q_id, p.vec_id, q.qsub, p.sub,
         CAST(sum(q.qi * p.xi) AS BIGINT) AS pdot
  FROM parts p JOIN qparts q USING (j)
  WHERE p.vec_id <> q.q_id
  GROUP BY 1, 2, 3, 4
), maxsim AS (
  SELECT q_id, vec_id, CAST(sum(best) AS BIGINT) AS score
  FROM (
    SELECT q_id, vec_id, qsub, max(pdot) AS best
    FROM dots GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)
SELECT q_id, vec_id, score, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM maxsim
) WHERE rank <= 3
"""


def latesim_rerank_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxSim over ANN candidates — the PRODUCTION multi-vector shape:
    the IVF coarse quantizer narrows each query to its probed inverted
    lists (ivf_ann_topk's exact machinery), and only those candidates
    pay the late-interaction Σ_s max_t integer subvector scoring
    (latesim_maxsim_topk is the brute-force twin this narrows). Top-3
    per query.

    Everything stays deterministic: the coarse side is the
    data-sampled-centroid pipeline, the rescoring is pure int64. At
    100 TB the candidate restriction is the whole game — MaxSim costs
    |parts|² per pair, so it must only ever see a shortlist.
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("nrm", F.expr(vectors.norm("embedding")))
    )
    cents = _ivf_centroids(emb)
    probes = _ivf_probes(_query_frame(emb), cents, N_PROBE)
    cand = (
        _ivf_assign(emb, cents)
        .join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    parts = _e4_parts(emb)
    qparts = _query_parts(parts)
    dots = (
        parts.join(cand, "vec_id")
        .join(F.broadcast(qparts), ["q_id", "j"])
        .groupBy("q_id", "vec_id", "qsub", "sub")
        .agg(F.sum(F.col("qi") * F.col("xi")).alias("pdot"))
    )
    return _maxsim_top3(dots)


LATESIM_RERANK_ORACLE = f"""
WITH cents AS (
  SELECT vec_id - 100 AS cent_id, embedding AS c_vec
  FROM embeddings WHERE vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, cent_id AS list_id
  FROM (
    SELECT e.vec_id, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.c_vec')} DESC,
                      c.cent_id ASC) AS a_rank
    FROM embeddings e CROSS JOIN cents c
  ) WHERE a_rank = 1
),
probes AS (
  SELECT q_id, cent_id AS list_id
  FROM (
    SELECT q.vec_id AS q_id, c.cent_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS_SQL.format(a='q.embedding', b='c.c_vec')} DESC,
                      c.cent_id ASC) AS p_rank
    FROM embeddings q CROSS JOIN cents c
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE p_rank <= {N_PROBE}
),
cand AS (
  SELECT p.q_id, a.vec_id
  FROM assigned a JOIN probes p USING (list_id)
  WHERE a.vec_id <> p.q_id
),
parts AS (
  SELECT vec_id,
         CAST((t.dim - 1) // {_PQ_DIMS} AS INT) AS sub,
         (t.dim - 1) % {_PQ_DIMS} AS j,
         CAST(round(CAST(t.x AS DOUBLE) * 10000) AS BIGINT) AS xi
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS dim) t
),
qparts AS (
  SELECT vec_id AS q_id, sub AS qsub, j, xi AS qi
  FROM parts WHERE vec_id < {N_QUERIES}
),
dots AS (
  SELECT c.q_id, c.vec_id, q.qsub, p.sub,
         CAST(sum(q.qi * p.xi) AS BIGINT) AS pdot
  FROM cand c
  JOIN parts p ON p.vec_id = c.vec_id
  JOIN qparts q ON q.q_id = c.q_id AND q.j = p.j
  GROUP BY 1, 2, 3, 4
),
maxsim AS (
  SELECT q_id, vec_id, CAST(sum(best) AS BIGINT) AS score
  FROM (
    SELECT q_id, vec_id, qsub, max(pdot) AS best
    FROM dots GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)
SELECT q_id, vec_id, score, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM maxsim
) WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# Label centroid similarity matrix
# --------------------------------------------------------------------------


def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity matrix between per-label embedding centroids
    — the cluster-confusability report ("which classes does the
    embedding space blur together?") a labeled embedding set ships
    with. All 45 unordered label pairs.

    Integer-exact geometry: coordinates quantize to e4 ints, per-label
    per-dim SUMS are exact int64, and the cosine of two centroids
    Σs_a·s_b / (√Σs_a²·√Σs_b²) is computed from integer sums of
    products (the per-label count cancels out of the cosine), so only
    the final sqrt/division is floating point. Scale shape: one
    map-side combinable groupBy(label, dim), then a |labels|²·dim
    self-join over the 640-row centroid table — trivially broadcast.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sums = (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .select(
            "label",
            "dim",
            F.round(F.col("x").cast("double") * 10000).cast("long").alias("xi"),
        )
        .groupBy("label", "dim")
        .agg(F.sum("xi").alias("s"))
    )
    a = sums.select(F.col("label").alias("la"), "dim", F.col("s").alias("sa"))
    b = sums.select(F.col("label").alias("lb"), "dim", F.col("s").alias("sb"))
    prods = (
        a.join(b, "dim")
        .where(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    norms = sums.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("q"))
    return (
        prods.join(norms.select(F.col("label").alias("la"), F.col("q").alias("qa")), "la")
        .join(norms.select(F.col("label").alias("lb"), F.col("q").alias("qb")), "lb")
        .select(
            "la",
            "lb",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(F.col("qa").cast("double") * F.col("qb").cast("double")),
                4,
            ).alias("cos_sim"),
        )
        .orderBy("la", "lb")
    )


LABEL_CENTROID_SIM_ORACLE = """
WITH x AS (
  SELECT label, t.dim - 1 AS dim,
         CAST(round(CAST(t.x AS DOUBLE) * 10000) AS BIGINT) AS xi
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS dim) t
), sums AS (
  SELECT label, dim, CAST(sum(xi) AS BIGINT) AS s FROM x GROUP BY 1, 2
), prods AS (
  SELECT a.label AS la, b.label AS lb,
         CAST(sum(a.s * b.s) AS BIGINT) AS dot
  FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
), norms AS (
  SELECT label, CAST(sum(s * s) AS BIGINT) AS q FROM sums GROUP BY label
)
SELECT la, lb,
       round(CAST(dot AS DOUBLE)
             / sqrt(CAST(na.q AS DOUBLE) * CAST(nb.q AS DOUBLE)), 4) AS cos_sim
FROM prods JOIN norms na ON na.label = prods.la
           JOIN norms nb ON nb.label = prods.lb
ORDER BY la, lb
"""


# --------------------------------------------------------------------------
# IVF-PQ: coarse inverted lists + product-quantized scoring + exact re-rank
# --------------------------------------------------------------------------

_PQ_SHORTLIST = 50
_IVFPQ_CENTERS = 16  # 4-bit codes — pq_quantize_stats keeps its 2-bit demo table

def ivfpq_ann_oracle(n_probe: int = N_PROBE) -> str:
    """Oracle template over the shared IVF probe-count dial."""
    return f"""
WITH cents AS (
  SELECT vec_id - 100 AS cent_id, embedding AS c_vec
  FROM embeddings WHERE vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, embedding, cent_id AS list_id
  FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.c_vec')} DESC,
                      c.cent_id ASC) AS a_rank
    FROM embeddings e CROSS JOIN cents c
  ) WHERE a_rank = 1
),
probes AS (
  SELECT q_id, q_vec, cent_id AS list_id
  FROM (
    SELECT q.vec_id AS q_id, q.embedding AS q_vec, c.cent_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS_SQL.format(a='q.embedding', b='c.c_vec')} DESC,
                      c.cent_id ASC) AS p_rank
    FROM embeddings q CROSS JOIN cents c
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE p_rank <= {int(n_probe)}
),
pq_centers AS (
  SELECT CAST(i // ({_IVFPQ_CENTERS} * {_PQ_DIMS}) AS INT) AS sub,
         CAST((i // {_PQ_DIMS}) % {_IVFPQ_CENTERS} AS BIGINT) AS center,
         i % {_PQ_DIMS} AS j,
         CAST((i // ({_IVFPQ_CENTERS} * {_PQ_DIMS})) * 73856093
              + ((i // {_PQ_DIMS}) % {_IVFPQ_CENTERS}) * 19349663
              + (i % {_PQ_DIMS}) * 83492791 AS BIGINT)
           % 2147483647 % 10001 - 5000 AS ci
  FROM (SELECT unnest(generate_series(0,
         {_PQ_SUBS * _IVFPQ_CENTERS * _PQ_DIMS - 1})) AS i)
),
dims AS (
  SELECT vec_id,
         CAST((t.dim - 1) // {_PQ_DIMS} AS INT) AS sub,
         (t.dim - 1) % {_PQ_DIMS} AS j,
         CAST(round(CAST(t.x AS DOUBLE) * 10000) AS BIGINT) AS xi
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS dim) t
),
codes AS (
  SELECT vec_id, sub, center AS code
  FROM (
    SELECT vec_id, sub, center,
           row_number() OVER (
             PARTITION BY vec_id, sub
             ORDER BY CAST(sum((xi - ci) * (xi - ci)) AS BIGINT), center) AS rk
    FROM dims JOIN pq_centers USING (sub, j)
    GROUP BY vec_id, sub, center
  ) WHERE rk = 1
),
ldot AS (
  SELECT d.vec_id AS q_id, c.sub, c.center AS code,
         CAST(sum(d.xi * c.ci) AS BIGINT) AS part_dot
  FROM dims d JOIN pq_centers c USING (sub, j)
  WHERE d.vec_id < {N_QUERIES}
  GROUP BY 1, 2, 3
),
approx AS (
  SELECT p.q_id, p.q_vec, a.vec_id, a.embedding,
         CAST(sum(l.part_dot) AS BIGINT) AS adc
  FROM assigned a
  JOIN probes p USING (list_id)
  JOIN codes k ON k.vec_id = a.vec_id
  JOIN ldot l ON l.q_id = p.q_id AND l.sub = k.sub AND l.code = k.code
  WHERE a.vec_id <> p.q_id
  GROUP BY 1, 2, 3, 4
),
shortlist AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY q_id ORDER BY adc DESC, vec_id) AS s_rank
    FROM approx
  ) WHERE s_rank <= {_PQ_SHORTLIST}
)
SELECT q_id, vec_id, cos, rank
FROM (
  SELECT q_id, vec_id,
         {_COS_SQL.format(a='q_vec', b='embedding')} AS cos,
         CAST(row_number() OVER (
           PARTITION BY q_id
           ORDER BY {_COS_SQL.format(a='q_vec', b='embedding')} DESC,
                    vec_id ASC) AS INT) AS rank
  FROM shortlist
) WHERE rank <= {TOP_K}
"""


IVFPQ_ANN_ORACLE = ivfpq_ann_oracle()


def _ensure_ivfpq_index_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings corpus as ONE STORED bucketed IVF-PQ index table,
    the dedup._ensure_minhash_index_tables pattern applied to
    similarity search. Centroid assignments and PQ codes are computed
    ONCE per (sf_dir, fixture fingerprint); every probe afterwards, by
    :func:`ivfpq_ann_topk_bucketed`, :func:`ivf_within_list_nn` or the
    semdedup queries, is pure index reads.

    Layout: (list_id, vec_id, codes array<int>, embedding, nrm),
    bucketBy/sortBy list_id. One table serves both probe stages
    because parquet is columnar:

    - ADC scoring scans (list_id, vec_id, codes) — column pruning
      never touches the embedding bytes, so the hot path reads
      ~4 bytes/vector (8×4-bit codes; int array here for parquet
      simplicity), the whole point of PQ;
    - the exact re-rank re-reads (vec_id, embedding, nrm) for the
      broadcast-joined shortlist.

    Both stages filter ``list_id IN (probed centroids)``, which
    bucket-PRUNES the scan (SelectedBucketsCount in the plan): a probe
    reads only the n_probe lists' buckets, never the whole index —
    probe cost ∝ probed fraction, independent of total corpus size
    (results/ivfpq_scale_probe.json measures it). Storage is one copy
    of the vectors plus codes, exactly FAISS's IVFPQ-with-refine
    layout flattened into one columnar table. Build is a one-time
    two-pass job over the source parquet (assignment pass + encode
    pass); write/guard machinery is storage.ensure_bucketed_specs,
    shared with the scale run so it measured exactly this layout."""
    from ..sources.storage import _tag, ensure_bucketed_specs

    tag = _tag(sf_dir, "embeddings")
    idx_tbl = f"ivfpq_idx_{tag}"

    def build_index() -> DataFrame:
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .repartition(spark.sparkContext.defaultParallelism)
            .withColumn("nrm", F.expr(vectors.norm("embedding")))
        )
        assigned = _ivf_assign(emb, _ivf_centroids(emb), "embedding", "nrm")
        codes = (
            _e4_parts(emb)
            .join(F.broadcast(_pq_centers_df(spark, _IVFPQ_CENTERS)), ["sub", "j"])
            .groupBy("vec_id", "sub", "center")
            .agg(
                F.sum((F.col("xi") - F.col("ci")) * (F.col("xi") - F.col("ci"))).alias(
                    "d2"
                )
            )
            .groupBy("vec_id", "sub")
            .agg(F.min_by("center", F.struct("d2", "center")).alias("code"))
            .groupBy("vec_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "code"))),
                    lambda s: s.code.cast("int"),
                ).alias("codes")
            )
        )
        return assigned.join(codes, "vec_id").select(
            "list_id", "vec_id", "codes", "embedding", "nrm"
        )

    (idx,) = ensure_bucketed_specs(spark, ((idx_tbl, ("list_id",), build_index),))
    return idx


def ivfpq_ann_topk_bucketed(
    spark: SparkSession, sf_dir: str, n_probe: int = N_PROBE
) -> DataFrame:
    """IVF-PQ ANN — the production 100 TB vector-index architecture,
    composed from this module's two halves: the IVF coarse quantizer
    (probed inverted lists, ivf_ann_topk) and the PQ codebook
    (pq_quantize_stats), with the index STORED as a bucketed table
    that is built once and reused across queries.

    Probed candidates are scored by ASYMMETRIC DISTANCE COMPUTATION:
    the corpus vector is replaced by its 8 subspace code centers, the
    query stays exact, and the approximate dot product is a
    per-(query, subspace, center) lookup broadcast to the scorer. The
    PQ shortlist (top ``_PQ_SHORTLIST`` by approximate score) then
    re-ranks EXACTLY, so the PQ error can only cost recall, never
    report a wrong score.

    Fully deterministic, fully oracle-checked: the coarse centroids
    are data-sampled (ivf convention), the PQ codebook is the seeded
    integer table, and both the codes and the ADC scores are exact
    int64 arithmetic on e4-quantized coordinates — reduction order
    cannot move a single candidate across the shortlist boundary.

    Probe-side cost is proportional to the QUERY SET, never the
    corpus: the probed centroid ids are collected driver-side (a
    bounded ≤ N_CENTROIDS control list, the k-means-centroids
    pattern) and pushed into the codes scan as ``list_id IN (...)``,
    which both parquet-row-group-prunes and bucket-prunes — the scan
    reads only the probed lists' buckets
    (tests/test_plans.py::test_ivfpq_bucketed_probe_reads_only_probed_buckets asserts
    SelectedBucketsCount and zero index-side Exchange). The exact
    re-rank fetches only shortlist vectors from the same bucket-pruned
    index scan.

    At 100 TB: codes are 4 bytes/vector (8 subspaces × 4-bit, vs 256
    bytes for float32×64) — the whole probed list scans from RAM; the
    ADC lookup table is built once per query batch; only the
    ≤ SHORTLIST exact re-rank touches full vectors. Measured PQ-layer
    quality (tests/test_semantics.py): recalls ≥ 80% of IVF-Flat's
    top-k from the SAME probe set with this seeded (untrained)
    codebook on the near-random fixture vectors — a trained codebook
    drops into the same broadcast table. Probe-set recall itself is
    the IVF layer's property (SCALE.md known-fixture-artifacts).
    """
    idx = _ensure_ivfpq_index_table(spark, sf_dir)
    # query vectors + coarse centroids come from the SOURCE table —
    # pushed-filter point reads (in production, queries arrive from
    # the caller and centroids from the trained quantizer; neither is
    # an index scan)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("nrm", F.expr(vectors.norm("embedding")))
    )
    queries = _query_frame(emb)
    probes = _ivf_probes(queries, _ivf_centroids(emb), n_probe)
    # bounded control collect (≤ N_CENTROIDS ids): literal probe lists
    # are what lets the codes scan bucket-prune — a runtime join could
    # not prune the file listing
    probe_lists = sorted(
        {r.list_id for r in probes.select("list_id").distinct().collect()}
    )

    # ADC lookup table for the query set (tiny: queries × 8 subs × 16
    # centers), broadcast to the candidate scorer
    ldot = (
        _e4_parts(queries, "q_id", "q_vec", "qi")
        .join(F.broadcast(_pq_centers_df(spark, _IVFPQ_CENTERS)), ["sub", "j"])
        .groupBy("q_id", "sub", F.col("center").alias("code"))
        .agg(F.sum(F.col("qi") * F.col("ci")).alias("part_dot"))
    )

    # ADC scoring: ONLY the probed lists' buckets are read, and column
    # pruning keeps this scan at (list_id, vec_id, codes) width — the
    # embedding bytes are never decoded on the hot path
    in_probed = F.col("list_id").isin([int(x) for x in probe_lists])
    cand = (
        idx.filter(in_probed)
        .select("list_id", "vec_id", "codes")
        .join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", "codes")
    )
    approx = (
        cand.select("q_id", "vec_id", F.posexplode("codes").alias("sub", "code"))
        .join(F.broadcast(ldot), ["q_id", "sub", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("part_dot").alias("adc"))
    )
    ws = Window.partitionBy("q_id").orderBy(F.col("adc").desc(), F.col("vec_id").asc())
    shortlist = (
        approx.withColumn("s_rank", F.row_number().over(ws))
        .filter(F.col("s_rank") <= _PQ_SHORTLIST)
        .select("q_id", "vec_id")
    )

    # exact re-rank: re-read (vec_id, embedding, nrm) for the
    # broadcast shortlist from the SAME bucket-pruned index scan —
    # candidates only ever come from probed lists, so the fetch reads
    # the probed buckets' vector columns and nothing else, with zero
    # index-side exchange (BroadcastHashJoin, index as stream side)
    fetch = idx.filter(in_probed).select("vec_id", "embedding", "nrm")
    return _cosine_topk(
        fetch.join(F.broadcast(shortlist), "vec_id").join(F.broadcast(queries), "q_id")
    )


def _list_pairs(idx: DataFrame, pair: str, *keep: str) -> DataFrame:
    """Vector pairs that share a list of a stored bucketBy(list_id)
    index, with their 4-dp cosine: the sort-merge self-join on list_id
    reads co-located, pre-sorted buckets on both sides, so it plans no
    exchange and no sort. ``pair`` is the SQL condition on (vec_id,
    nn_id); ``keep`` adds index columns to the vec_id side."""
    a = idx.select("list_id", *keep, "vec_id", "embedding", "nrm")
    b = idx.selectExpr(
        "list_id AS list_id_b", "vec_id AS nn_id", "embedding AS emb_b", "nrm AS nrm_b"
    )
    return (
        a.hint("merge")
        .join(b, F.expr(f"list_id = list_id_b AND {pair}"))
        .withColumn("cos", F.expr(_cos4("embedding", "emb_b", "nrm", "nrm_b")))
    )


def ivf_within_list_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's inner loop (Abbas et al. 2023) as the SECOND
    consumer of the stored IVF-PQ index — the 100 TB argument for a
    stored layout is precisely that its write cost amortizes across
    every downstream workload, so here the same bucketBy(list_id)
    table that serves ANN probes also serves semantic dedup: for
    every vector, its exact nearest neighbour WITHIN its coarse list
    (the within-cluster NN scan SemDeDup thresholds to drop
    semantic duplicates; `dedup_semantic_clusters` runs the
    k-means-cluster variant from scratch each session).

    Plan shape is the point (plan-tested): a SELF-join of the stored
    index on list_id reads co-located, pre-sorted buckets on BOTH
    sides — the SortMergeJoin plans ZERO exchange and ZERO sort
    anywhere below it (bucketBy + sortBy list_id satisfy both the
    distribution and the ordering requirement), and column pruning
    reads only (list_id, vec_id, embedding, nrm). The n²/nlist
    within-list pair fan-out is SemDeDup's documented cost model; it
    exists only inside map tasks — the lone exchange in the query is
    the final per-vector max_by aggregate, which partial-aggregates
    to one row per vector before shuffling. Vectors alone in their
    list have no neighbour and are absent (both engines agree by
    construction).

    Deterministic and fully oracle-checked: same data-sampled
    centroids and 4-dp-rounded cosine as every ANN operator here,
    ties broken by smaller nn_id."""
    return (
        _list_pairs(_ensure_ivfpq_index_table(spark, sf_dir), "vec_id != nn_id")
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct(F.col("nn_id"), F.col("cos")),
                F.struct(F.col("cos").alias("c"), (-F.col("nn_id")).alias("t")),
            ).alias("best")
        )
        .select("vec_id", F.col("best.nn_id").alias("nn_id"), F.col("best.cos").alias("cos"))
    )


# SemDeDup drop threshold. Real pipelines run ~0.9+
# on trained encoders; the fixture embeddings are seeded near-random
# (within-list NN cosine tops out ~0.49 at every SF), so the
# demonstration threshold sits at the fixture NN-cos ~0.9-quantile —
# both engines compute the identical 4-dp-rounded cosine, so the
# cut is exact wherever it sits.
SEMDEDUP_TAU = 0.38


def _semdedup_dropped(idx: DataFrame) -> DataFrame:
    """(list_id, vec_id, w_cos) for every vector that SemDeDup drops —
    some SMALLER-id vector in its coarse list sits at cosine >=
    SEMDEDUP_TAU (w_cos = the best such witness). The decision set
    shared by :func:`semdedup_apply` and the at-scale certificate in
    results/semdedup_scale_probe.json, so that run measured exactly
    the shipped decision join (same bucketed SMJ, same expressions)."""
    return (
        _list_pairs(idx, "nn_id < vec_id")
        .filter(F.col("cos") >= F.lit(SEMDEDUP_TAU))
        .groupBy("list_id", "vec_id")
        .agg(F.max("cos").alias("w_cos"))
    )


def semdedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup applied end-to-end (Abbas et al. 2023) — the THIRD
    consumer of the stored bucketBy(list_id) IVF-PQ index:
    :func:`ivf_within_list_nn` computes the within-list NN
    scan; this operator takes the dedup DECISION and reports corpus
    accounting. Drop rule (deterministic, order-free): a vector is
    dropped iff some SMALLER-id vector in its coarse list has cosine
    >= SEMDEDUP_TAU with it — i.e. the lowest vec_id in every
    near-dup relation survives. This is the pair-dominance variant of
    SemDeDup's keep-one-per-group: unlike the paper's sequential
    greedy sweep it is embarrassingly parallel (no decision depends
    on an earlier decision), drops a superset of greedy's drops
    within each transitive near-dup cluster, and is exactly
    SQL-expressible — the right trade at 100 TB, where a sequential
    sweep over a cluster is a non-starter.

    Output: per-list accounting (list_id, n_vectors, n_kept,
    n_dropped) plus the certificate column min_drop_cos — the minimum
    over the list's dropped vectors of their best smaller-id witness
    cosine, which is >= SEMDEDUP_TAU for every real drop and which an
    oracle mismatch in survivor selection cannot fake.

    Plan shape: the decision join is the SAME zero-exchange zero-sort
    bucketed SMJ as :func:`ivf_within_list_nn` (both sides the stored
    index, co-located and pre-sorted on list_id); every aggregate
    after it groups by list_id or (list_id, vec_id), both satisfied
    by the scan's hash(list_id) bucket distribution, so the WHOLE
    query plans with zero Exchange
    (tests/test_plans.py::test_semdedup_apply_zero_exchange)."""
    idx = _ensure_ivfpq_index_table(spark, sf_dir)
    dropped = _semdedup_dropped(idx)
    drops = dropped.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_dropped"),
        F.round(F.min("w_cos"), 4).alias("min_drop_cos"),
    )
    totals = idx.groupBy("list_id").agg(F.count(F.lit(1)).alias("n_vectors"))
    return totals.join(drops, "list_id", "left").select(
        "list_id",
        "n_vectors",
        (F.col("n_vectors") - F.coalesce(F.col("n_dropped"), F.lit(0))).alias("n_kept"),
        F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
        "min_drop_cos",
    )


SEMDEDUP_APPLY_ORACLE = f"""
WITH cents AS (
  SELECT vec_id - 100 AS cent_id, embedding AS c_vec
  FROM embeddings WHERE vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, embedding, cent_id AS list_id
  FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.c_vec')} DESC,
                      c.cent_id ASC) AS a_rank
    FROM embeddings e CROSS JOIN cents c
  ) WHERE a_rank = 1
),
dropped AS (
  SELECT list_id, vec_id, max(cos) AS w_cos
  FROM (
    SELECT a.list_id, a.vec_id,
           {_COS_SQL.format(a='a.embedding', b='b.embedding')} AS cos
    FROM assigned a JOIN assigned b
      ON a.list_id = b.list_id AND b.vec_id < a.vec_id
  ) WHERE cos >= {SEMDEDUP_TAU}
  GROUP BY list_id, vec_id
),
drops AS (
  SELECT list_id, count(*) AS n_dropped, round(min(w_cos), 4) AS min_drop_cos
  FROM dropped GROUP BY list_id
),
totals AS (
  SELECT list_id, count(*) AS n_vectors FROM assigned GROUP BY list_id
)
SELECT t.list_id, t.n_vectors,
       t.n_vectors - coalesce(d.n_dropped, 0) AS n_kept,
       coalesce(d.n_dropped, 0) AS n_dropped,
       d.min_drop_cos
FROM totals t LEFT JOIN drops d USING (list_id)
"""


def _ensure_ivfpq_multiprobe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The soft-IVF (top-2 multi-assignment) membership table as ONE
    STORED bucketed table — the standard mitigation for SemDeDup's
    cross-list boundary miss: a near-dup pair whose
    members land in different coarse lists is invisible to any
    within-list decision, and multi-assigning every vector to its
    top-2 coarse lists makes a pair visible whenever their top-2 sets
    intersect.

    Layout: (list_id, plist_id, vec_id, embedding, nrm) bucketBy/
    sortBy list_id — each vector appears in exactly TWO rows (its
    rank-1 and rank-2 coarse lists; ``plist_id`` carries the rank-1
    list on both rows, so primary accounting needs no join back).
    Storage is 2× the base index's vector payload — the soft-IVF
    replication factor, paid once at build and amortized across every
    probe, exactly like FAISS's multi-assignment IVF variants.

    Build cost: the top-2 rank needs a row_number over the
    (vector × centroid) broadcast cross join, so the demonstration
    build shuffles Θ(N·nlist) rows once (the base index's max_by
    build partial-aggregates that away, but max_by cannot express
    "second best"). The production build composes with the
    hierarchical k-means assignment (``kmeans_tree_assign``): the
    leaf-level argmin already materializes per-vector candidate
    scores over a BOUNDED candidate set, where top-2 falls out at
    Θ(N·branch) with no corpus-sized shuffle."""
    from ..sources.storage import _tag, ensure_bucketed_specs

    tag = _tag(sf_dir, "embeddings")
    tbl = f"ivfpq_midx_{tag}"

    def build_member() -> DataFrame:
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .repartition(spark.sparkContext.defaultParallelism)
            .withColumn("nrm", F.expr(vectors.norm("embedding")))
        )
        ranked = _ivf_top2(emb, _ivf_centroids(emb))
        # rank-1 list carried onto both rows: same vec_id partitioning
        # as the rank window, so no additional exchange
        wp = (
            Window.partitionBy("vec_id")
            .orderBy("a_rank")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return ranked.select(
            F.col("cent_id").alias("list_id"),
            F.first("cent_id").over(wp).alias("plist_id"),
            "vec_id",
            "embedding",
            "nrm",
        )

    (midx,) = ensure_bucketed_specs(spark, ((tbl, ("list_id",), build_member),))
    return midx


def semdedup_apply_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`semdedup_apply` over the soft-IVF top-2 membership table
    — same drop rule (a vector is dropped iff some smaller-id vector
    at cosine >= SEMDEDUP_TAU shares A list with it), but "shares a
    list" now means the pair's top-2 coarse lists INTERSECT, so
    boundary pairs split across two lists are seen whenever either
    side's second-choice list covers the other.
    Accounting stays per PRIMARY list with the identical output schema
    (list_id, n_vectors, n_kept, n_dropped, min_drop_cos), so the two
    variants diff row-for-row and the boundary-miss certificate
    (:func:`semdedup_boundary_miss`) quantifies exactly the pair class
    this variant recovers.

    Plan shape: the decision join is the same exchange-free bucketed
    SMJ (both sides the stored membership table, co-located and
    pre-sorted on list_id); the pair fan-out — now over soft lists, so
    up to 4× the base variant's within-list pairs — still exists only
    inside map tasks. Unlike the base variant the aggregates key by
    PRIMARY list (plist_id), which the bucket distribution on list_id
    does not satisfy, so the query pays exactly two metadata-bound
    exchanges: the (plist_id, vec_id) witness-dedup aggregate
    (map-side partials collapse pair-level rows to vector-level before
    the shuffle — a pair seen via both shared lists reduces locally)
    and the ≤ nlist per-list rollup, broadcast back onto the
    zero-exchange totals side. That is the entire scale price of
    closing the boundary-miss class."""
    midx = _ensure_ivfpq_multiprobe_table(spark, sf_dir)
    dropped = (
        _list_pairs(midx, "nn_id < vec_id", "plist_id")
        .filter(F.col("cos") >= F.lit(SEMDEDUP_TAU))
        .groupBy("plist_id", "vec_id")
        .agg(F.max("cos").alias("w_cos"))
    )
    drops = dropped.groupBy("plist_id").agg(
        F.count(F.lit(1)).alias("n_dropped"),
        F.round(F.min("w_cos"), 4).alias("min_drop_cos"),
    )
    # each vector's primary row is the one where list_id == plist_id,
    # so totals need no second table and stay exchange-free
    totals = (
        midx.filter(F.col("list_id") == F.col("plist_id"))
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    return totals.join(
        F.broadcast(drops.withColumnRenamed("plist_id", "list_id")), "list_id", "left"
    ).select(
        "list_id",
        "n_vectors",
        (F.col("n_vectors") - F.coalesce(F.col("n_dropped"), F.lit(0))).alias("n_kept"),
        F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
        "min_drop_cos",
    )


SEMDEDUP_MULTIPROBE_ORACLE = f"""
WITH cents AS (
  SELECT vec_id - 100 AS cent_id, embedding AS c_vec
  FROM embeddings WHERE vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}
),
ranked AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_COS_SQL.format(a='e.embedding', b='c.c_vec')} DESC,
                    c.cent_id ASC) AS a_rank
  FROM embeddings e CROSS JOIN cents c
),
member AS (
  SELECT vec_id, embedding, cent_id AS list_id, a_rank
  FROM ranked WHERE a_rank <= 2
),
prim AS (
  SELECT vec_id, list_id FROM member WHERE a_rank = 1
),
dropped AS (
  SELECT p.list_id, q.vec_id, max(q.cos) AS w_cos
  FROM (
    SELECT a.vec_id,
           {_COS_SQL.format(a='a.embedding', b='b.embedding')} AS cos
    FROM member a JOIN member b
      ON a.list_id = b.list_id AND b.vec_id < a.vec_id
  ) q JOIN prim p USING (vec_id)
  WHERE q.cos >= {SEMDEDUP_TAU}
  GROUP BY p.list_id, q.vec_id
),
drops AS (
  SELECT list_id, count(*) AS n_dropped, round(min(w_cos), 4) AS min_drop_cos
  FROM dropped GROUP BY list_id
),
totals AS (
  SELECT list_id, count(*) AS n_vectors FROM prim GROUP BY list_id
)
SELECT t.list_id, t.n_vectors,
       t.n_vectors - coalesce(d.n_dropped, 0) AS n_kept,
       coalesce(d.n_dropped, 0) AS n_dropped,
       d.min_drop_cos
FROM totals t LEFT JOIN drops d USING (list_id)
"""


def semdedup_boundary_miss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-list boundary-miss CERTIFICATE: the
    planted-twin recall probe cannot measure the pair class SemDeDup's
    within-list decision structurally misses — exact twins always
    co-assign, so a probe built from them reads recall 1.0 no matter
    how many genuine near-dup pairs straddle a list boundary. This
    query measures that class directly: ground truth is the exact
    ALL-PAIRS cosine >= SEMDEDUP_TAU over the whole corpus, against
    which it reports how many true pairs share a primary list (visible
    to :func:`semdedup_apply`) and how many share ANY top-2 list
    (visible to :func:`semdedup_apply_multiprobe`), with the two miss
    rates.

    This is a measurement INSTRUMENT, not a production operator: the
    ground-truth pair join is Θ(N²) by definition (a
    BroadcastNestedLoopJoin at fixture scale — the corpus never
    shuffles, but every pair is scored). At 100 TB it runs on a
    content-hash sample of the corpus exactly like every other
    certificate here; the production decision paths stay the linear
    within-list joins. Single-row output; rates are NULL iff the
    corpus has no true pairs at the threshold (pinned non-vacuous in
    tests)."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("nrm", F.expr(vectors.norm("embedding")))
    )
    asg = (
        _ivf_top2(emb, _ivf_centroids(emb))
        .groupBy("vec_id")
        .agg(
            F.min_by("cent_id", "a_rank").alias("l1"),
            F.max_by("cent_id", "a_rank").alias("l2"),
        )
    )
    u = emb.select(
        F.col("vec_id").alias("u"),
        F.col("embedding").alias("eu"),
        F.col("nrm").alias("nu"),
    )
    v = emb.select(
        F.col("vec_id").alias("v"),
        F.col("embedding").alias("ev"),
        F.col("nrm").alias("nv"),
    )
    cos = F.expr(_cos4("eu", "ev", "nu", "nv"))
    pairs = (
        u.join(v, F.col("u") < F.col("v"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= F.lit(SEMDEDUP_TAU))
        .select("u", "v")
    )
    au = asg.select(
        F.col("vec_id").alias("u"), F.col("l1").alias("l1u"), F.col("l2").alias("l2u")
    )
    av = asg.select(
        F.col("vec_id").alias("v"), F.col("l1").alias("l1v"), F.col("l2").alias("l2v")
    )
    vis_p = (F.col("l1u") == F.col("l1v")).cast("long")
    vis_2 = (
        (F.col("l1u") == F.col("l1v"))
        | (F.col("l1u") == F.col("l2v"))
        | (F.col("l2u") == F.col("l1v"))
        | (F.col("l2u") == F.col("l2v"))
    ).cast("long")
    agg = (
        pairs.join(F.broadcast(au), "u")
        .join(F.broadcast(av), "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
            F.sum(vis_p).cast("long").alias("n_visible_primary"),
            F.sum(vis_2).cast("long").alias("n_visible_top2"),
        )
    )
    nt = F.col("n_true_pairs")
    return agg.select(
        nt.alias("n_true_pairs"),
        "n_visible_primary",
        "n_visible_top2",
        F.when(
            nt > 0,
            F.round((nt - F.col("n_visible_primary")) / nt.cast("double"), 4),
        ).alias("miss_rate_primary"),
        F.when(
            nt > 0,
            F.round((nt - F.col("n_visible_top2")) / nt.cast("double"), 4),
        ).alias("miss_rate_top2"),
    )


SEMDEDUP_BOUNDARY_MISS_ORACLE = f"""
WITH cents AS (
  SELECT vec_id - 100 AS cent_id, embedding AS c_vec
  FROM embeddings WHERE vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}
),
ranked AS (
  SELECT e.vec_id, c.cent_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_COS_SQL.format(a='e.embedding', b='c.c_vec')} DESC,
                    c.cent_id ASC) AS a_rank
  FROM embeddings e CROSS JOIN cents c
),
asg AS (
  SELECT vec_id,
         min(CASE WHEN a_rank = 1 THEN cent_id END) AS l1,
         min(CASE WHEN a_rank = 2 THEN cent_id END) AS l2
  FROM ranked WHERE a_rank <= 2 GROUP BY vec_id
),
pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {_COS_SQL.format(a='a.embedding', b='b.embedding')} >= {SEMDEDUP_TAU}
),
vis AS (
  SELECT p.u, p.v,
         CASE WHEN au.l1 = av.l1 THEN 1 ELSE 0 END AS vis_p,
         CASE WHEN au.l1 = av.l1 OR au.l1 = av.l2
               OR au.l2 = av.l1 OR au.l2 = av.l2 THEN 1 ELSE 0 END AS vis_2
  FROM pairs p
  JOIN asg au ON au.vec_id = p.u
  JOIN asg av ON av.vec_id = p.v
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
         CAST(sum(vis_p) AS BIGINT) AS n_visible_primary,
         CAST(sum(vis_2) AS BIGINT) AS n_visible_top2
  FROM vis
)
SELECT n_true_pairs, n_visible_primary, n_visible_top2,
       CASE WHEN n_true_pairs > 0 THEN
         round((n_true_pairs - n_visible_primary)
               / CAST(n_true_pairs AS DOUBLE), 4) END AS miss_rate_primary,
       CASE WHEN n_true_pairs > 0 THEN
         round((n_true_pairs - n_visible_top2)
               / CAST(n_true_pairs AS DOUBLE), 4) END AS miss_rate_top2
FROM agg
"""


IVF_WITHIN_LIST_NN_ORACLE = f"""
WITH cents AS (
  SELECT vec_id - 100 AS cent_id, embedding AS c_vec
  FROM embeddings WHERE vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, embedding, cent_id AS list_id
  FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.c_vec')} DESC,
                      c.cent_id ASC) AS a_rank
    FROM embeddings e CROSS JOIN cents c
  ) WHERE a_rank = 1
),
pairs AS (
  SELECT a.vec_id, b.vec_id AS nn_id,
         {_COS_SQL.format(a='a.embedding', b='b.embedding')} AS cos
  FROM assigned a JOIN assigned b
    ON a.list_id = b.list_id AND a.vec_id != b.vec_id
)
SELECT vec_id, nn_id, cos
FROM (
  SELECT vec_id, nn_id, cos,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY cos DESC, nn_id ASC) AS rk
  FROM pairs
) WHERE rk = 1
"""


QUERIES: dict = {
    "embedding_centroid_outliers": (
        embedding_centroid_outliers,
        EMBEDDING_OUTLIERS_ORACLE,
    ),
    "hybrid_rrf_fusion": (hybrid_rrf_fusion, HYBRID_RRF_ORACLE),
    "ann_cosine_topk": (ann_cosine_topk, ANN_TOPK_ORACLE),
    "embedding_random_projection": (
        embedding_random_projection,
        EMBEDDING_RANDOM_PROJECTION_ORACLE,
    ),
    "crossmodal_retrieval": (crossmodal_retrieval, CROSSMODAL_ORACLE),
    "ann_lsh_topk": (ann_lsh_topk, ANN_LSH_ORACLE),
    "mllib_lsh_ann_topk": (mllib_lsh_ann_topk, None),
    "mllib_lsh_recall": (mllib_lsh_recall, MLLIB_LSH_RECALL_ORACLE),
    "ivf_ann_topk": (ivf_ann_topk, IVF_ANN_ORACLE),
    "embedding_norm_stats": (embedding_norm_stats, EMBEDDING_NORM_ORACLE),
    "mips_topk": (mips_topk, MIPS_TOPK_ORACLE),
    "embedding_quantize_int8": (embedding_quantize_int8, EMBEDDING_QUANTIZE_ORACLE),
    "kmeans_assign_fixed": (kmeans_assign_fixed, KMEANS_ASSIGN_ORACLE),
    "kmeans_lloyd_two_rounds": (kmeans_lloyd_two_rounds, KMEANS_LLOYD_ORACLE),
    "pq_quantize_stats": (pq_quantize_stats, PQ_QUANTIZE_ORACLE),
    "ivfpq_ann_topk_bucketed": (ivfpq_ann_topk_bucketed, IVFPQ_ANN_ORACLE),
    "ivf_within_list_nn": (ivf_within_list_nn, IVF_WITHIN_LIST_NN_ORACLE),
    "semdedup_apply": (semdedup_apply, SEMDEDUP_APPLY_ORACLE),
    "semdedup_apply_multiprobe": (semdedup_apply_multiprobe, SEMDEDUP_MULTIPROBE_ORACLE),
    "semdedup_boundary_miss": (semdedup_boundary_miss, SEMDEDUP_BOUNDARY_MISS_ORACLE),
    "label_centroid_similarity": (
        label_centroid_similarity,
        LABEL_CENTROID_SIM_ORACLE,
    ),
    "latesim_maxsim_topk": (latesim_maxsim_topk, LATESIM_MAXSIM_ORACLE),
    "latesim_rerank_ann": (latesim_rerank_ann, LATESIM_RERANK_ORACLE),
}
