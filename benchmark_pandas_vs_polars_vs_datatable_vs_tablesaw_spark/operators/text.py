"""Text-analysis operators over the ``documents`` table.

LLM-training-pipeline surface (north-star extension — the reference
has no string analytics): token counting, quality scoring, language-ID
heuristic, document fingerprinting. Everything is built-in string /
higher-order functions — fully codegen'd, zero Python on the hot path,
embarrassingly parallel (no shuffle in any of these: they are pure
per-row projections, so they scale to 100 TB as a single narrow stage
fused with the scan).

Oracle parity notes: token splitting uses a literal single-space split
(the fixture text is single-space separated) rather than a regex, so
Java-regex vs RE2 dialect differences can't bite; ratios divide exact
integers so both engines produce bit-identical doubles before
rounding.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_parallel
from .dedup import _SHINGLES_SQL, _distinct_shingled

def _tokens():
    return F.split(F.col("text"), " ")


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics: char count, token count,
    average token length, unique-token ratio."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.round((F.length("text") - n_tokens + 1) / n_tokens, 4).alias("avg_token_len"),
        F.round(F.size(F.array_distinct(toks)) / n_tokens, 4).alias("uniq_ratio"),
    )


TEXT_STATS_ORACLE = """
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars_calc,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       round((length(text) - len(string_split(text, ' ')) + 1)
             / len(string_split(text, ' ')), 4) AS avg_token_len,
       round(len(list_distinct(string_split(text, ' ')))
             / len(string_split(text, ' ')), 4) AS uniq_ratio
FROM documents
"""

STOPWORDS = ("the", "a", "and", "of")


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + length-saturating score in
    [0,1]. The shape every corpus-filtering pipeline needs; thresholds
    on ``score`` become the pushed-down filter of a cleaning job.

    r15: the r14 scan-parallelism floor REVERTED — the r14 A/B's 3.4x
    was measured in a hot epoch that maximally penalized the serial
    stock scan; the driver read 0.91x, and the r15 calm-window
    requalification (results/floor_requalify_r15.json, interleaved
    floored-vs-stock at local[32]) read 0.94x. Per the pinned
    only-measured-wins rule (>= 1.15x keeps), plain load_table."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    stop_ratio = n_stop / n_tokens
    score = F.round(F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * (F.lit(1.0) - stop_ratio), 4)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        score.alias("score"),
    )


TEXT_QUALITY_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       round(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of')))
             / len(string_split(text, ' ')), 4) AS stop_ratio,
       round(least(1.0, len(string_split(text, ' ')) / 100.0)
             * (1.0 - len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of')))
               / len(string_split(text, ' '))), 4) AS score
FROM documents
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by character-class frequency (n-gram-style heuristic).

    The fixture text is synthetic word-soup, so no real-language signal
    exists; what this operator demonstrates — and what the oracle
    verifies — is a deterministic, engine-portable classifier: vowel
    ratio computed from exact integer counts, bucketed into a label.
    Swap the rule for real n-gram profiles when the corpus is real.
    """
    docs = load_table(spark, sf_dir, "documents")
    vowels = F.length("text") - F.length(F.regexp_replace("text", "[aeiou]", ""))
    ratio = vowels / F.length("text")
    pred = (
        F.when(ratio < 0.20, "de")
        .when(ratio < 0.24, "en")
        .when(ratio < 0.28, "fr")
        .otherwise("es")
    )
    return docs.select(
        "doc_id",
        F.round(ratio, 4).alias("vowel_ratio"),
        pred.alias("lang_pred"),
    )


LANG_ID_ORACLE = """
SELECT doc_id,
       round((length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))
             / length(text), 4) AS vowel_ratio,
       CASE
         WHEN (length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))
              / length(text) < 0.20 THEN 'de'
         WHEN (length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))
              / length(text) < 0.24 THEN 'en'
         WHEN (length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))
              / length(text) < 0.28 THEN 'fr'
         ELSE 'es'
       END AS lang_pred
FROM documents
"""


def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: words, numbers, and punctuation runs
    counted separately with a dialect-portable regex."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit("[a-z]+")).alias("n_words"),
        F.regexp_count("text", F.lit("[0-9]+")).alias("n_numbers"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+")).alias("n_bpe_units"),
    )


TOKEN_COUNT_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_words,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS n_bpe_units
FROM documents
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting, two ways:

    - ``fp_md5``: content hash via md5 — the portable exact-dedup
      fingerprint (identical hex in any engine).
    - ``fp_rolling``: order-sensitive polynomial rolling hash
      (acc*31 + codepoint, mod 1e9+7) as a left fold over character
      positions — the building block for shingle/winnowing schemes.

    The rolling fold is O(len) per row via higher-order ``aggregate``;
    at 100 TB scale prefer ``xxhash64`` (same shape, one JVM intrinsic)
    — md5 here doubles as the cross-engine-checkable stand-in.
    """
    docs = load_table(spark, sf_dir, "documents")
    rolling = F.expr(
        "aggregate(sequence(1, length(text)), 0L,"
        " (acc, i) -> (acc * 31 + ascii(substring(text, i, 1))) % 1000000007)"
    )
    return docs.select(
        "doc_id",
        F.md5("text").alias("fp_md5"),
        rolling.alias("fp_rolling"),
    )


DOC_FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(text) AS fp_md5,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(range(1, length(text) + 1),
                          i -> ascii(substr(text, CAST(i AS INT), 1))::BIGINT)),
         (a, b) -> (a * 31 + b) % 1000000007) AS fp_rolling
FROM documents
"""


def text_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning / normalization pass (the pre-tokenization stage of
    every corpus pipeline): digit-run scrubbing (the PII-redaction
    shape), whitespace collapse, trim, lowercase — chained
    regexp_replace built-ins in ONE codegen'd projection, zero shuffle,
    plus before/after length accounting."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace("text", r"[0-9]+", "<NUM>"), r"\s+", " "
            )
        )
    )
    return docs.select(
        "doc_id",
        cleaned.alias("clean_text"),
        F.length("text").alias("len_raw"),
        F.length(cleaned).alias("len_clean"),
        F.regexp_count("text", F.lit("[0-9]+")).alias("n_scrubbed"),
    )


TEXT_CLEAN_ORACLE = """
SELECT doc_id,
       lower(trim(regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
                                 '\\s+', ' ', 'g'))) AS clean_text,
       CAST(length(text) AS INT) AS len_raw,
       CAST(length(lower(trim(regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
                                             '\\s+', ' ', 'g')))) AS INT) AS len_clean,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_scrubbed
FROM documents
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with per-document top-3 terms — the classic relevance /
    keyword-extraction pipeline over a corpus.

    Stages: explode tokens -> tf per (doc, term) -> document frequency
    per term -> join -> score -> per-doc top-k window. The df table
    derives from tf grouped by term, so the tf-df join is already
    co-partitioned on term (no extra exchange for the probe side); the
    corpus size joins in as a broadcast scalar. idf uses the smoothed
    ln((N+1)/(df+1)) form; scoring and ranking happen on the ROUNDED
    value with a term tiebreak so rank order is engine-portable.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    terms = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    tfidf = F.round(
        F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 4
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", tfidf)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


TFIDF_ORACLE = """
WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((n.n_docs + 1.0) / (dfq.df + 1.0)), 4) AS tfidf,
         CAST(row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY round(tf.tf * ln((n.n_docs + 1.0) / (dfq.df + 1.0)), 4) DESC,
                    tf.term ASC) AS INT) AS rank
  FROM tf JOIN dfq USING (term) CROSS JOIN n
) WHERE rank <= 3
"""


def _doc_score_kernel(lengths, n_tokens):
    """Vectorized scalar kernel (numpy over Arrow batches): a
    deterministic integer score so the UDF path itself is
    oracle-checkable bit-for-bit (module-level for worker re-import)."""
    return (lengths * 31 + n_tokens * 7) % 1000


def pandas_udf_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar ``pandas_udf`` — the vectorized escape hatch
    (SURVEY.md §2.11) demonstrated end-to-end: Arrow ships column
    batches to Python, numpy computes, Arrow ships back. Integer-exact
    math makes even the Python path fully DuckDB-differential.

    Scale note: still a narrow map (no shuffle), but each batch pays
    the Arrow serialize/compute/deserialize round-trip — which is why
    everything expressible stays in built-ins (10-100x, SURVEY.md
    §2.11) and the UDF tier is reserved for genuinely-Python logic.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def score(lengths, n_tokens):
        return _doc_score_kernel(lengths, n_tokens)

    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    return docs.select(
        "doc_id",
        score(F.length("text").cast("long"), F.size(toks).cast("long")).alias("score"),
    )


PANDAS_UDF_SCORE_ORACLE = """
SELECT doc_id,
       (length(text) * 31 + len(string_split(text, ' ')) * 7) % 1000 AS score
FROM documents
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation in ONE Catalyst plan:
    score -> language-gate -> exact near-dup removal -> corpus stats.

    The composition every 100 TB data pipeline runs nightly:

    1. per-row quality score + language ID (pure projections, fused
       with the parquet scan — zero shuffle);
    2. gate on unrounded score/language (bit-identical doubles from
       integer ratios in both engines, so the gate can't flap);
    3. exact dedup on md5(text), keeping the lowest doc_id per
       fingerprint (ONE shuffle, on the fingerprint — the window +
       row_number form so survivor choice is deterministic);
    4. per-(source, lang) corpus accounting (second, tiny shuffle).

    At 100 TB: stage 3's shuffle is the cost center — the fingerprint
    key is uniform (cryptographic hash) so it cannot skew, and AQE
    coalesces the post-shuffle partitions.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    stop_ratio = n_stop / n_tokens
    score = F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * (F.lit(1.0) - stop_ratio)
    vowels = F.length("text") - F.length(F.regexp_replace("text", "[aeiou]", ""))
    lang_pred = F.when(vowels / F.length("text") < 0.24, "en").otherwise("other")

    scored = docs.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        score.alias("score"),
        lang_pred.alias("lang_pred"),
        F.md5("text").alias("fp"),
    ).filter((F.col("score") >= 0.3) & (F.col("lang_pred") == "en"))

    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    return (
        deduped.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("source")
    )


CURATION_PIPELINE_ORACLE = """
WITH scored AS (
    SELECT doc_id, source,
           len(string_split(text, ' ')) AS n_tokens,
           least(1.0, len(string_split(text, ' ')) / 100.0)
             * (1.0 - len(list_filter(string_split(text, ' '),
                                      t -> t IN ('the','a','and','of')))
                      / len(string_split(text, ' '))) AS score,
           CASE WHEN (length(text)
                      - length(regexp_replace(text, '[aeiou]', '', 'g')))
                     / length(text) < 0.24
                THEN 'en' ELSE 'other' END AS lang_pred,
           md5(text) AS fp
    FROM documents),
gated AS (
    SELECT * FROM scored WHERE score >= 0.3 AND lang_pred = 'en'),
deduped AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM gated)
    WHERE rn = 1)
SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(score), 4) AS avg_score
FROM deduped
GROUP BY source
ORDER BY source
"""


class _TokenExploderUDTF:
    """Module-level so workers re-import it by name (shipping.py)."""

    def eval(self, doc_id, text):  # noqa: ANN001 — UDTF signature
        for i, tok in enumerate(text.split(" ")):
            yield doc_id, i, tok


def udtf_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) in a LATERAL join — the one API
    surface where a Python function emits ROWS, not scalars. Each
    document explodes to (doc_id, idx, token) rows, re-aggregated to
    per-doc token accounting.

    Deliberately the slow path: row-at-a-time Python, kept to 50 docs.
    The production formulation of this exact query is
    explode(split(...)) — pure codegen (see tfidf_top_terms); the UDTF
    exists for logic that genuinely can't be expressed in built-ins
    (custom tokenizers), and this query pins that the escape hatch
    agrees with the relational answer.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("udtf_docs_v")
    exploder = F.udtf(
        _TokenExploderUDTF, returnType="doc_id bigint, idx int, token string"
    )
    spark.udtf.register("explode_tokens", exploder)
    rows = spark.sql(
        """
        SELECT t.doc_id, t.idx, t.token
        FROM udtf_docs_v d, LATERAL explode_tokens(d.doc_id, d.text) t
        """
    )
    return (
        rows.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.min(F.when(F.col("idx") == 0, F.col("token"))).alias("first_token"),
            F.max("idx").alias("max_idx"),
        )
        .orderBy("doc_id")
    )


UDTF_TOKEN_ORACLE = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       string_split(text, ' ')[1] AS first_token,
       CAST(len(string_split(text, ' ')) - 1 AS INT) AS max_idx
FROM documents
WHERE doc_id < 50
ORDER BY doc_id
"""


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex-redact email-shaped tokens and long digit
    runs, with per-source redaction accounting — the compliance pass
    every corpus release runs.

    The fixture text is synthetic word-soup, so PII is PLANTED
    deterministically inside the query (every 10th doc gets an email,
    every 7th a phone-like digit run) — the redaction math is then
    fully oracle-checkable. Patterns use only simple character
    classes so Java regex (Spark) and RE2 (DuckDB) agree; DuckDB needs
    the 'g' flag to match Java's replace-all default.

    Scale: pure per-row projection fused with the scan; zero shuffle
    before the tiny per-source rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit(" user"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" call 55512"), (F.col("doc_id") % 10000).cast("string")),
        ).otherwise(F.lit("")),
    )
    email_re = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
    phone_re = "[0-9]{5,}"
    redacted = F.regexp_replace(
        F.regexp_replace(planted, email_re, "<EMAIL>"), phone_re, "<NUM>"
    )
    return (
        docs.select(
            "doc_id",
            "source",
            planted.alias("t"),
            redacted.alias("clean"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.length("clean") - F.length(F.regexp_replace("clean", "<EMAIL>", ""))) / 7
            ).cast("long").alias("n_emails"),
            F.sum(
                (F.length("clean") - F.length(F.regexp_replace("clean", "<NUM>", ""))) / 5
            ).cast("long").alias("n_nums"),
            F.sum(F.length("t") - F.length("clean")).alias("chars_removed"),
        )
        .orderBy("source")
    )


PII_REDACTION_ORACLE = """
WITH planted AS (
    SELECT doc_id, source,
           text
           || CASE WHEN doc_id % 10 = 0
                   THEN ' user' || doc_id || '@example.com' ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' call 55512' || (doc_id % 10000) ELSE '' END AS t
    FROM documents),
red AS (
    SELECT doc_id, source, t,
           regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z0-9]+[.][a-z]+',
                                         '<EMAIL>', 'g'),
                          '[0-9]{5,}', '<NUM>', 'g') AS clean
    FROM planted)
SELECT source,
       count(*) AS n_docs,
       CAST(sum((length(clean)
                 - length(replace(clean, '<EMAIL>', ''))) / 7) AS BIGINT) AS n_emails,
       CAST(sum((length(clean)
                 - length(replace(clean, '<NUM>', ''))) / 5) AS BIGINT) AS n_nums,
       CAST(sum(length(t) - length(clean)) AS BIGINT) AS chars_removed
FROM red
GROUP BY source
ORDER BY source
"""


def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gate (the Gopher-rule family): flag
    documents whose most frequent token exceeds 12% of all tokens.

    Implemented the scalable way — explode to (doc, token) rows, count
    per pair, take the max per doc — NOT a per-row O(n_tokens^2)
    lambda: the explode stream partial-aggregates before its shuffle,
    so the wire carries (doc, token, count), and the per-doc max is a
    second tiny aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok_counts = (
        docs.select("doc_id", F.explode(_tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    per_doc = tok_counts.groupBy("doc_id").agg(
        F.max("c").alias("max_tok_count"),
        F.sum("c").alias("n_tokens"),
    )
    return (
        per_doc.select(
            "doc_id",
            "max_tok_count",
            "n_tokens",
            F.round(F.col("max_tok_count") / F.col("n_tokens"), 4).alias("top_tok_ratio"),
            (F.col("max_tok_count") / F.col("n_tokens") > 0.12).cast("int").alias(
                "flag_repetitive"
            ),
        )
        .orderBy("doc_id")
    )


TEXT_REPETITION_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
counts AS (
    SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
per_doc AS (
    SELECT doc_id, max(c) AS max_tok_count, CAST(sum(c) AS BIGINT) AS n_tokens
    FROM counts GROUP BY doc_id)
SELECT doc_id, max_tok_count, n_tokens,
       round(max_tok_count / n_tokens, 4) AS top_tok_ratio,
       CAST(max_tok_count / n_tokens > 0.12 AS INT) AS flag_repetitive
FROM per_doc
ORDER BY doc_id
"""


def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation in-engine: confusion matrix of the
    vowel-ratio language heuristic against the fixture's ground-truth
    ``lang`` label, plus per-class hit counts — the
    model-eval-as-a-query pattern (no driver-side sklearn pass; the
    matrix is one grouped count over the scored scan).
    """
    docs = load_table(spark, sf_dir, "documents")
    vowels = F.length("text") - F.length(F.regexp_replace("text", "[aeiou]", ""))
    ratio = vowels / F.length("text")
    pred = (
        F.when(ratio < 0.20, "de")
        .when(ratio < 0.24, "en")
        .when(ratio < 0.28, "fr")
        .otherwise("es")
    )
    return (
        docs.select(F.col("lang").alias("actual"), pred.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n"))
        .withColumn("hit", (F.col("actual") == F.col("predicted")).cast("int"))
        .orderBy("actual", "predicted")
    )


LANG_CONFUSION_ORACLE = """
WITH scored AS (
    SELECT lang AS actual,
           CASE
             WHEN (length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))
                  / length(text) < 0.20 THEN 'de'
             WHEN (length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))
                  / length(text) < 0.24 THEN 'en'
             WHEN (length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))
                  / length(text) < 0.28 THEN 'fr'
             ELSE 'es'
           END AS predicted
    FROM documents)
SELECT actual, predicted, count(*) AS n,
       CAST(actual = predicted AS INT) AS hit
FROM scored
GROUP BY actual, predicted
ORDER BY actual, predicted
"""


def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/holdout split — the assignment
    every training pipeline needs to be (a) reproducible across runs
    and engines and (b) stable under corpus growth (a doc's split
    never changes when other docs are added, unlike row_number % k).

    The split key is the first hex digit of md5(text): digits 0-c
    (13/16 = 81.25%) train, d-f holdout. Content-keyed rather than
    id-keyed, so exact duplicates land in the SAME split — no
    train/holdout leakage through dup pairs. Pure projection + one
    2-group aggregate: embarrassingly parallel at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr("instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1")
    split = F.when(bucket < 13, "train").otherwise("holdout")
    return (
        docs.select(split.alias("split"), "n_chars", "lang")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.count_distinct("lang").alias("n_langs"),
        )
    )


SPLIT_TRAIN_HOLDOUT_ORACLE = """
WITH assigned AS (
  SELECT CASE WHEN instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1 < 13
              THEN 'train' ELSE 'holdout' END AS split,
         n_chars, lang
  FROM documents
)
SELECT split, count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars,
       count(DISTINCT lang) AS n_langs
FROM assigned
GROUP BY split
"""


PACK_WINDOW_TOKENS = 2048


def sequence_pack_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: concatenate documents (in doc_id order
    within each source) into fixed token-budget bins — the
    context-window packing step before LLM pretraining, where short
    docs are packed together to avoid padding waste.

    A doc goes in the bin its running-token START offset falls in:
    bin = floor((cumsum_tokens - n_tokens) / budget). The window
    partitions by ``source`` — parallelism = |sources|, never a
    global-order single-partition window; at 100 TB sources (or
    shards) are the natural pack boundary and each packs
    independently. Output: per-(source, bin) doc count + token fill,
    the packing-efficiency report.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
    packed = toks.withColumn(
        "bin",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_WINDOW_TOKENS),
    )
    return (
        packed.groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
    )


SEQUENCE_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
packed AS (
  SELECT source, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {PACK_WINDOW_TOKENS}) AS BIGINT) AS bin
  FROM toks
)
SELECT source, bin, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
FROM packed
GROUP BY source, bin
"""


CONTAMINATION_THRESHOLD = 0.5


def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: word-3-gram overlap between the
    training corpus and a held-out benchmark set — the decontamination
    step every pretraining pipeline runs before training (a benchmark
    document leaked into the corpus invalidates the eval).

    Benchmark = docs with doc_id % 17 == 0; corpus = the rest, plus
    injected leaks (exact copies of every third benchmark doc under
    new ids) so the detector provably fires. The benchmark shingle
    vocabulary is small by construction (evals are MBs, corpora are
    TBs), so it BROADCASTS: the corpus-side scan streams past it
    map-side with no shuffle of corpus text. Per corpus doc we report
    distinct-shingle overlap ratio and flag docs above the threshold.
    Only overlapping docs are emitted — at 100 TB the output is the
    (tiny) quarantine list, never the corpus.

    r14 optimization (same pair of fixes as decontaminate_winnowing,
    guide §2.4/§2.5): scan-parallelism floor (the shingle build was
    serializing on the single-split scan) and ONE pass over the corpus
    shingles — a broadcast membership mark + a single per-doc aggregate
    replaces the shared/sizes pair that re-derived the full shingle
    explode twice. The n_shared >= 1 filter preserves the old
    inner-join semantics (docs with zero shared shingles never appeared
    in `shared`).
    """
    docs = load_table_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    leaks = docs.filter(F.col("doc_id") % 51 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    corpus = docs.filter(F.col("doc_id") % 17 != 0).unionByName(leaks)

    # r15: shingles from a pre-split token column (dedup's
    # _distinct_shingled) — the in-lambda split(text) re-evaluation was
    # O(tokens^2) per doc and collapsed under 32 concurrent tasks
    # exactly like the winnow fold (VERDICT r14 #1 sibling warning).
    bench_sh = _distinct_shingled(bench, "sh", ()).select("sh").distinct()
    corpus_sh = _distinct_shingled(corpus)
    marked = corpus_sh.join(
        F.broadcast(bench_sh.withColumn("hit", F.lit(1))), "sh", "left"
    )
    ratio = F.col("n_shared") / F.col("n_shingles")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("n_shared"),
        )
        .filter(F.col("n_shared") >= 1)
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(ratio, 4).alias("overlap_ratio"),
            (ratio > CONTAMINATION_THRESHOLD).cast("int").alias("flag_contaminated"),
        )
    )


CONTAMINATION_ORACLE = f"""
WITH docs AS (SELECT doc_id, text FROM documents),
bench AS (SELECT * FROM docs WHERE doc_id % 17 = 0),
corpus AS (
  SELECT * FROM docs WHERE doc_id % 17 != 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM docs WHERE doc_id % 51 = 0
),
bench_sh AS (
  SELECT DISTINCT unnest(list_distinct({_SHINGLES_SQL})) AS sh FROM bench
),
corpus_sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS sh FROM corpus
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corpus_sh GROUP BY doc_id),
shared AS (
  SELECT doc_id, count(*) AS n_shared
  FROM corpus_sh JOIN bench_sh USING (sh)
  GROUP BY doc_id
)
SELECT doc_id, n_shingles, n_shared,
       round(n_shared / n_shingles, 4) AS overlap_ratio,
       CAST(n_shared / n_shingles > {CONTAMINATION_THRESHOLD} AS INT)
         AS flag_contaminated
FROM shared JOIN sizes USING (doc_id)
"""


BPE_TOP_PAIRS = 20


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training inner loop: corpus-wide adjacent-token-pair
    frequencies, top 20 — one merge-candidate scoring round of BPE /
    WordPiece training lifted to the cluster (the step that must see
    ALL the data, which is why tokenizer training is a distributed
    count job before it is anything else).

    Pairs are built per-row with a higher-order transform (no
    posexplode + self-join on position — that shape shuffles the
    token table twice and joins it to itself; this one never shuffles
    anything except the final (pair, count) aggregate, which combines
    map-side). Top-k is orderBy+limit = distributed TakeOrdered, not
    a global window. Ties are impossible at the (n, pair) level, so
    the limit is deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    # One split per row (r15): pairs from a materialized token array —
    # the in-lambda split(text)[i] form re-split the text per element
    # (O(tokens^2) allocations; see _BPE_SEQ_PAIRS_EXPR).
    pairs_expr = """
    CASE WHEN size(_toks) >= 2 THEN
      transform(sequence(0, size(_toks) - 2),
                i -> concat_ws(' ', element_at(_toks, i + 1),
                                    element_at(_toks, i + 2)))
    ELSE array() END
    """
    return (
        docs.withColumn("_toks", F.split(F.col("text"), " "))
        .select(F.explode(F.expr(pairs_expr)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(BPE_TOP_PAIRS)
    )


BPE_PAIR_ORACLE = f"""
WITH pairs AS (
  SELECT unnest(
    CASE WHEN len(string_split(text, ' ')) >= 2 THEN
      list_transform(range(1, len(string_split(text, ' '))),
                     i -> string_split(text, ' ')[i] || ' ' ||
                          string_split(text, ' ')[i + 1])
    ELSE [] END) AS pair
  FROM documents
)
SELECT pair, count(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT {BPE_TOP_PAIRS}
"""


BPE_MERGES = 3

# Adjacent-pair extraction over a space-separated token sequence held
# in column `seq` (tokens never contain spaces; merged tokens use '+',
# which the fixture charset [a-z0-9 ] guarantees collision-free).
# The token split is evaluated ONCE per row and bound as a lambda
# variable via the single-element transform(array(...)) trick (r15,
# guide §1.2 step 2): the previous `split(seq, ' ')[i]` inside the
# interpreted HOF lambda re-split the whole sequence per element —
# O(tokens^2) allocations per document, the allocation-burst class
# behind the r14 32-core anti-scaling (VERDICT r14 #2:
# bpe_train_merges ratio 0.74). Pair values are identical; the
# expression stays a drop-in over any frame with a `seq` column.
_BPE_SEQ_PAIRS_EXPR = """
flatten(transform(array(split(seq, ' ')), bt ->
  CASE WHEN size(bt) >= 2 THEN
    transform(sequence(0, size(bt) - 2),
              i -> concat_ws(' ', element_at(bt, i + 1), element_at(bt, i + 2)))
  ELSE array() END))
"""

# Greedy left-to-right merge application via the doubled-space trick:
# double every gap so each token owns a space on both sides, replace
# ' A  B ' with ' A+B ' (replace() scans left to right over
# non-overlapping occurrences — exactly BPE's greedy application
# order, including the self-overlap case 'a a a' -> ['a+a', 'a']),
# then collapse the doubled gaps back. `mp` is the chosen pair
# ('A B', space-joined).
_BPE_APPLY_MERGE_EXPR = """
trim(replace(
  replace(' ' || replace(seq, ' ', '  ') || ' ',
          ' ' || split(mp, ' ')[0] || '  ' || split(mp, ' ')[1] || ' ',
          ' ' || split(mp, ' ')[0] || '+' || split(mp, ' ')[1] || ' '),
  '  ', ' '))
"""


def _bpe_merge_rounds(docs: DataFrame, n_merges: int) -> DataFrame:
    """Core of :func:`bpe_train_merges` on an arbitrary (text) frame
    so the property tests can drive hand-built micro corpora."""
    cur = docs.select(F.col("text").alias("seq"))
    picked: list[DataFrame] = []
    for rank in range(1, n_merges + 1):
        counts = (
            cur.select(F.explode(F.expr(_BPE_SEQ_PAIRS_EXPR)).alias("pair"))
            .groupBy("pair")
            .agg(F.count("*").alias("n"))
        )
        # Persist each round's 1-row winner: round r's sequence plan
        # references every earlier top, so without the cache the plan
        # re-derives them recursively — 2^r corpus scans by round r
        # (the round-10 plan snapshot caught exactly this: 7 scans for
        # 3 rounds). With it, each round is ONE corpus scan plus
        # cached 1-row lookups — linear, the only shape that holds at
        # 100 TB.
        top = (
            counts.orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(1)
            .select(F.lit(rank).alias("merge_rank"), "pair", "n")
            .persist()
        )
        picked.append(top)
        if rank < n_merges:
            chosen = F.broadcast(top.select(F.col("pair").alias("mp")))
            cur = cur.crossJoin(chosen).select(
                F.expr(_BPE_APPLY_MERGE_EXPR).alias("seq")
            )
    out = picked[0]
    for nxt in picked[1:]:
        out = out.unionByName(nxt)
    return out


def bpe_train_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """BPE tokenizer-training loop, unrolled BPE_MERGES rounds: each
    round counts corpus-wide adjacent-token pairs, selects the top
    merge (count desc, pair asc — deterministic), APPLIES it to every
    sequence, and recounts — the published byte-pair-encoding training
    algorithm (Sennrich et al. 2016) of which `bpe_pair_counts` is the
    single candidate-scoring step. Output: the merge table (merge_rank,
    pair, n) — rank-1 count is the global max and selected counts are
    non-increasing (merging can only shrink or preserve any pair's
    count; property-swept in tests).

    Scale shape: each round is one corpus scan + one map-side-combined
    (pair, count) aggregate + a 1-row broadcast crossJoin carrying the
    chosen merge back — the same broadcast-scalar pattern as
    data_budget_repeats. No window, no self-join; merge application is
    pure per-row string algebra (the doubled-space trick reproduces
    greedy left-to-right application exactly — see
    _BPE_APPLY_MERGE_EXPR). n_merges linearly multiplies scans, which
    is the algorithm's price at any scale (real trainers batch
    non-interacting merges per round; same plan shape).

    Oracle: the identical rounds unrolled as chained CTEs (the
    kmeans_lloyd_two_rounds pattern) — replace() has the same greedy
    left-to-right semantics in DuckDB.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    return _bpe_merge_rounds(docs, n_merges)


def _bpe_oracle(n_merges: int = BPE_MERGES) -> str:
    """Unrolled-CTE DuckDB oracle for :func:`bpe_train_merges`."""

    def pairs_sql(src: str) -> str:
        return f"""
  SELECT pair, count(*) AS n FROM (
    SELECT unnest(
      CASE WHEN len(string_split(seq, ' ')) >= 2 THEN
        list_transform(range(1, len(string_split(seq, ' '))),
                       i -> string_split(seq, ' ')[i] || ' ' ||
                            string_split(seq, ' ')[i + 1])
      ELSE [] END) AS pair
    FROM {src}
  ) GROUP BY pair
"""

    ctes = ["seq0 AS (SELECT text AS seq FROM documents)"]
    selects = []
    for r in range(1, n_merges + 1):
        ctes.append(f"p{r} AS ({pairs_sql(f'seq{r - 1}')})")
        ctes.append(
            f"top{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair ASC LIMIT 1)"
        )
        selects.append(f"SELECT {r} AS merge_rank, pair, n FROM top{r}")
        if r < n_merges:
            ctes.append(
                f"""seq{r} AS (
  SELECT trim(replace(
    replace(' ' || replace(s.seq, ' ', '  ') || ' ',
            ' ' || string_split(t.pair, ' ')[1] || '  ' || string_split(t.pair, ' ')[2] || ' ',
            ' ' || string_split(t.pair, ' ')[1] || '+' || string_split(t.pair, ' ')[2] || ' '),
    '  ', ' ')) AS seq
  FROM seq{r - 1} s, top{r} t
)"""
            )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


BPE_TRAIN_MERGES_ORACLE = _bpe_oracle()


def bpe_encode_corpus(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Tokenizer APPLICATION: encode the corpus with the merges
    :func:`bpe_train_merges` learned — the train→apply lifecycle of a
    real tokenizer (learn merges on the corpus once, then every
    pretraining document is encoded with them). Per doc: raw
    whitespace token count, post-BPE token count, and the exact
    integer-basis-point compression floor(10000·(raw−bpe)/raw).

    The merge list re-derives from the training loop's persisted
    1-row winners (cache-shared with bpe_train_merges in-session; a
    stored merge table at 100 TB), then encoding is a fold of
    n_merges broadcast-scalar crossJoins over ONE corpus scan — pure
    per-row string algebra, the same greedy doubled-space application
    as training, so a span merged during training merges identically
    at encode time. floor() is explicit in both engines (Spark
    CAST(double AS INT) truncates, DuckDB rounds — the classic
    divergence the integer-bp convention exists to dodge).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = _bpe_merge_rounds(docs.select("text"), n_merges)
    cur = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens_raw"),
        F.col("text").alias("seq"),
    )
    for rank in range(1, n_merges + 1):
        chosen = F.broadcast(
            merges.filter(F.col("merge_rank") == rank).select(F.col("pair").alias("mp"))
        )
        cur = cur.crossJoin(chosen).select(
            "doc_id", "n_tokens_raw", F.expr(_BPE_APPLY_MERGE_EXPR).alias("seq")
        )
    return cur.select(
        "doc_id",
        "n_tokens_raw",
        F.size(F.split("seq", " ")).alias("n_tokens_bpe"),
        F.expr(
            "CAST(floor(10000.0 * (n_tokens_raw - size(split(seq, ' ')))"
            " / n_tokens_raw) AS INT)"
        ).alias("saved_bp"),
    )


def _bpe_encode_oracle(n_merges: int = BPE_MERGES) -> str:
    """Unrolled-CTE DuckDB oracle for :func:`bpe_encode_corpus`: the
    training chain of :func:`_bpe_oracle` plus a doc_id-carrying
    encode chain folding the same merges in rank order."""

    def pairs_sql(src: str) -> str:
        return f"""
  SELECT pair, count(*) AS n FROM (
    SELECT unnest(
      CASE WHEN len(string_split(seq, ' ')) >= 2 THEN
        list_transform(range(1, len(string_split(seq, ' '))),
                       i -> string_split(seq, ' ')[i] || ' ' ||
                            string_split(seq, ' ')[i + 1])
      ELSE [] END) AS pair
    FROM {src}
  ) GROUP BY pair
"""

    def apply_sql(seq_expr: str, top: str) -> str:
        return f"""trim(replace(
    replace(' ' || replace({seq_expr}, ' ', '  ') || ' ',
            ' ' || string_split({top}.pair, ' ')[1] || '  ' || string_split({top}.pair, ' ')[2] || ' ',
            ' ' || string_split({top}.pair, ' ')[1] || '+' || string_split({top}.pair, ' ')[2] || ' '),
    '  ', ' '))"""

    ctes = ["seq0 AS (SELECT text AS seq FROM documents)"]
    for r in range(1, n_merges + 1):
        ctes.append(f"p{r} AS ({pairs_sql(f'seq{r - 1}')})")
        ctes.append(
            f"top{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair ASC LIMIT 1)"
        )
        if r < n_merges:
            ctes.append(
                f"seq{r} AS (SELECT {apply_sql('s.seq', 't')} AS seq FROM seq{r - 1} s, top{r} t)"
            )
    ctes.append(
        "d0 AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT)"
        " AS n_tokens_raw, text AS seq FROM documents)"
    )
    for r in range(1, n_merges + 1):
        ctes.append(
            f"d{r} AS (SELECT doc_id, n_tokens_raw, {apply_sql('d.seq', 't')} AS seq"
            f" FROM d{r - 1} d, top{r} t)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT doc_id, n_tokens_raw,
       CAST(len(string_split(seq, ' ')) AS INT) AS n_tokens_bpe,
       CAST(floor(10000.0 * (n_tokens_raw - len(string_split(seq, ' ')))
                  / n_tokens_raw) AS INT) AS saved_bp
FROM d{n_merges}
"""
    )


BPE_ENCODE_ORACLE = _bpe_encode_oracle()


# Batched-trainer dials (registry entry): 4 merges in rounds of up to
# 2 — two full count-scan rounds instead of four. The candidate cap
# bounds the driver-side greedy selection; it is mirrored exactly in
# the oracle so both engines greedy-select over the identical list.
BPE_BATCHED_MERGES = 4
BPE_BATCH_K = 2
BPE_CAND_CAP = 64


def _sql_str(s: str) -> str:
    """Spark-SQL single-quoted string literal with backslashes and
    quotes escaped (ADVICE r11: the batched trainer accepts arbitrary
    text frames, so a token containing ``'`` or ``\\`` must not be
    able to break out of — or silently corrupt — the inlined
    expression)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _apply_merge_literal_expr(pair: str) -> str:
    """:data:`_BPE_APPLY_MERGE_EXPR` with the chosen pair inlined as an
    ESCAPED literal (see :func:`_sql_str`): the batched trainer selects
    merges driver-side, so the apply projection carries no DataFrame
    reference and the per-round plan stays one scan deep."""
    a, b = pair.split(" ")
    find = _sql_str(f" {a}  {b} ")
    repl = _sql_str(f" {a}+{b} ")
    return (
        f"trim(replace(replace(' ' || replace(seq, ' ', '  ') || ' ',"
        f" {find}, {repl}), '  ', ' '))"
    )


def _greedy_disjoint(cands, k: int) -> list[tuple[str, int]]:
    """First-k token-disjoint pairs from an ordered candidate list —
    the batched-BPE selection rule: walk (count desc, pair asc),
    skip any pair sharing a token with an already-selected one."""
    sel: list[tuple[str, int]] = []
    used: set[str] = set()
    for pair, n in cands:
        a, b = pair.split(" ")
        if a in used or b in used:
            continue
        sel.append((pair, n))
        used.update((a, b))
        if len(sel) == k:
            break
    return sel


def _bpe_merge_rounds_batched(
    docs: DataFrame, n_merges: int, batch_k: int, cand_cap: int = BPE_CAND_CAP
) -> DataFrame:
    """Core of :func:`bpe_train_merges_batched` on an arbitrary (text)
    frame so the property tests can drive hand-built micro corpora."""
    spark = docs.sparkSession
    cur = docs.select(F.col("text").alias("seq"))
    picked: list[tuple[int, str, int]] = []
    while len(picked) < n_merges:
        k = min(batch_k, n_merges - len(picked))
        counts = (
            cur.select(F.explode(F.expr(_BPE_SEQ_PAIRS_EXPR)).alias("pair"))
            .groupBy("pair")
            .agg(F.count("*").alias("n"))
        )
        # TakeOrderedAndProject of a tiny, capped candidate list — the
        # only driver-side step (same bounded pattern as k-means
        # centroids); greedy disjoint selection is inherently
        # sequential and O(cand_cap)
        top = [
            (r.pair, r.n)
            for r in counts.orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(cand_cap)
            .collect()
        ]
        sel = _greedy_disjoint(top, k)
        if not sel:
            break  # no pairs left (corpus fully merged)
        for pair, n in sel:
            picked.append((len(picked) + 1, pair, int(n)))
        # ONE-pass apply: token-disjoint merges commute, so the k
        # chained narrow projections share a single corpus scan
        for pair, _ in sel:
            cur = cur.select(F.expr(_apply_merge_literal_expr(pair)).alias("seq"))
    return spark.createDataFrame(
        picked, schema="merge_rank INT, pair STRING, n BIGINT"
    )


def bpe_train_merges_batched(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = BPE_BATCHED_MERGES,
    batch_k: int = BPE_BATCH_K,
) -> DataFrame:
    """BPE training with BATCHED non-interacting merges per round —
    the real-trainer optimization :func:`bpe_train_merges` names: each
    round counts pairs ONCE, greedily selects up to ``batch_k``
    token-disjoint merges from the ordered candidate list (count desc,
    pair asc; a pair sharing a token with a higher-ranked selected
    pair is skipped — it must wait for a later round, because merging
    its neighbour changes its occurrences), applies them all in one
    pass, and recounts. Cuts training scans from n_merges to
    ~n_merges/batch_k — at 100 TB each scan is a full corpus pass, so
    the batch factor is wall-clock-linear.

    Token-disjoint merges commute (merging A·B cannot create, destroy,
    or move any C·D adjacency when {A,B}∩{C,D}=∅), so the one-pass
    apply equals applying them sequentially; when additionally no pair
    spawned by an earlier batch-mate would out-rank a later one,
    batched == the sequential trainer exactly —
    tests/test_property.py::test_bpe_batched_equals_sequential_when_disjoint
    pins that equivalence, batch_k=1 degenerating to
    :func:`bpe_train_merges` on the fixture, and the conflict-skip
    rule on a hand-built interacting corpus.

    Oracle: the same rounds unrolled as CTEs with the greedy disjoint
    selection expressed per batch slot (slot j = first candidate
    list_has_any-disjoint from slots 1..j-1), over the identically
    capped candidate list.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    return _bpe_merge_rounds_batched(docs, n_merges, batch_k)


def _bpe_merge_rounds_delta(
    docs: DataFrame, n_merges: int, stats: list | None = None
) -> DataFrame:
    """Core of :func:`bpe_train_merges_delta` on an arbitrary (text)
    frame so the property tests can drive hand-built micro corpora.
    ``stats``, when a list, receives one dict per round
    ({rank, affected_docs, round_s}) — the instrumentation
    results/bpe_scale_probe.json records for its round-cost-∝-affected-docs
    cell; it costs one extra count() per round and is skipped when
    None (every registry/test path).

    Pair-count state (pair, n) is MAINTAINED BY SIGNED DELTA instead
    of recounted: merging pair P only changes sequences where P occurs
    adjacently, so each round (after the one full initial count)
    touches ONLY the affected slice — subtract its old pair counts,
    apply the merge to it alone, add its new pair counts, and fold
    both into the state. Selection (count desc, pair asc over the
    state) therefore equals the full-recount trainer's exactly —
    tests/test_property.py pins delta == sequential on the fixture and
    on hypothesis-generated corpora.

    Each round's new state/corpus is truncated with an EAGER
    localCheckpoint — the codebase's hard-won rule for every iterative
    DataFrame loop (see SCALE.md / dedup_clusters_star_contraction):
    persist() alone caches data but the LOGICAL plan still doubles per
    round (cur_r references cur_{r-1} twice — the kept slice and the
    merged slice), so by round ~10 Catalyst re-optimization dominates
    wall time (measured: depth-12 delta 394 s with persist-only vs
    flat rounds after the checkpoint swap). At 100 TB both live as
    stored tables and the affected slice is a partitioned update;
    per-round cost is ∝ affected docs (results/bpe_scale_probe.json
    records the affected fraction and the per-round delta-vs-rescan
    gap).
    """
    spark = docs.sparkSession
    cur = docs.select(F.col("text").alias("seq")).localCheckpoint(eager=True)
    counts = (
        cur.select(F.explode(F.expr(_BPE_SEQ_PAIRS_EXPR)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    picked: list[tuple[int, str, int]] = []
    for rank in range(1, n_merges + 1):
        _t0 = time.perf_counter() if stats is not None else 0.0
        # TakeOrderedAndProject of the 1-row winner — the same bounded
        # driver-side step as the batched trainer's candidate list
        top = counts.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(1).collect()
        if not top:
            break  # corpus fully merged
        pair, n = top[0].pair, int(top[0].n)
        picked.append((rank, pair, int(n)))
        if rank == n_merges:
            break
        a, b = pair.split(" ")
        # token-aligned containment: the merge changes a sequence iff
        # the pair occurs adjacently in it (Column.contains takes the
        # needle as a literal — no expression inlining)
        has_pair = F.concat(F.lit(" "), F.col("seq"), F.lit(" ")).contains(
            f" {a} {b} "
        )
        affected = cur.filter(has_pair)
        new_affected = affected.select(
            F.expr(_apply_merge_literal_expr(pair)).alias("seq")
        )
        # signed deltas aggregate over the AFFECTED slice only — the
        # round's one data shuffle is delta-sized, never state-sized
        deltas = (
            affected.select(
                F.explode(F.expr(_BPE_SEQ_PAIRS_EXPR)).alias("pair"),
                F.lit(-1).alias("sign"),
            )
            .unionByName(
                new_affected.select(
                    F.explode(F.expr(_BPE_SEQ_PAIRS_EXPR)).alias("pair"),
                    F.lit(1).alias("sign"),
                )
            )
            .groupBy("pair")
            .agg(F.sum("sign").alias("d"))
            .filter(F.col("d") != 0)
        )
        # fold by FULL OUTER JOIN, not union+re-aggregate: the
        # persisted state is already hash-partitioned by pair (it is a
        # groupBy output), so the join plans zero exchange on the
        # state side — only the tiny delta frame shuffles; a
        # union+groupBy fold would re-shuffle the whole state every
        # round (measured 0.57x vs sequential before this fix). The
        # shuffle_hash hint keeps the fold a hash join — SortMergeJoin
        # would re-SORT the whole state every round, the same
        # state-sized cost through a different door.
        new_counts = (
            counts.join(deltas.hint("shuffle_hash"), "pair", "full_outer")
            .select(
                "pair",
                (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("d"), F.lit(0))).alias("n"),
            )
            .filter(F.col("n") > 0)
            .localCheckpoint(eager=True)
        )
        new_cur = (
            cur.filter(~has_pair)
            .unionByName(new_affected)
            .localCheckpoint(eager=True)
        )
        if stats is not None:
            # round_s closes BEFORE the affected count — that count is
            # instrumentation, not trainer work
            _round_s = round(time.perf_counter() - _t0, 2)
            stats.append(
                {
                    "rank": rank,
                    "affected_docs": affected.count(),
                    "round_s": _round_s,
                }
            )
        # previous generations' checkpoint blocks are released by the
        # ContextCleaner once dereferenced here (the star-contraction
        # loop's convention)
        counts, cur = new_counts, new_cur
    return spark.createDataFrame(picked, schema="merge_rank INT, pair STRING, n BIGINT")


def bpe_train_merges_delta(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """BPE training with INCREMENTAL pair-count maintenance (VERDICT
    r11 #6) — the second real-trainer optimization after batching:
    :func:`bpe_train_merges` recounts every pair in every sequence
    each round, but merging pair P can only change sequences where P
    occurs adjacently, so after one full initial count each round (i)
    filters the corpus to the affected slice (token-aligned
    ``contains``), (ii) re-derives pair counts for that slice before
    and after applying the merge, and (iii) folds the signed deltas
    into the persisted count state. Selection over the maintained
    state is provably identical to full recounting (the delta algebra
    is exact), so the merge table equals the sequential trainer's
    row-for-row and the SAME oracle covers it.

    Per-round cost: one contains-filter scan of the current corpus +
    pair extraction over ONLY the affected docs (top merges early in
    training touch most docs; by mid-vocabulary the affected fraction
    collapses, which is where real trainers spend their rounds —
    results/bpe_scale_probe.json's delta cell records the fraction and
    the per-round gap at 1M docs). The count state is corpus-wide but
    (pair, n)-shaped — at 100 TB a stored table keyed by pair, with
    the round's deltas a map-side-combined aggregate over the
    affected slice only.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    return _bpe_merge_rounds_delta(docs, n_merges)


# Adaptive trainer policy (VERDICT r12 #5, re-derived twice on
# probe evidence). The r12 sequential-cells probe suggested "delta
# loses early"; the r13 interleaved A/B (results/bpe_adaptive_ab.json)
# exposed that reading as a
# MEASUREMENT ARTIFACT: the sequential trainer persist()s its 1-row
# winners and Spark's CacheManager serves any later identical plan
# from them, so every same-session comparison that ran sequential
# first was crediting it cached work. On clean interleaved minima,
# delta-maintained state wins on BOTH light-winner fixtures (zipf /
# uniform 50k-vocab: winners touch <= 2% of docs from round 1). The
# regime where stateless counting genuinely wins is HEAVY winners —
# real early BPE, where char-level merges occur >= once per doc and
# a delta round would extract pairs over ~the whole corpus twice
# (old + new slices) plus rewrite it, strictly more work than one
# recount; the dense-vocab A/B cell models exactly that.
#
# Policy, two-phase with a one-round-delayed switch:
#
#   LAZY phase — no state: count pairs over the corpus with all
#   previous merges applied as chained literal projections; stay
#   while the PREVIOUS round's winner covered >= delta_frac x docs
#   (occurrences upper-bound affected docs; using last round's
#   winner costs nothing and avoids re-counting at the switch).
#
#   STATEFUL phase — one-way switch once winners collapse: the round
#   opens by checkpointing the merged corpus and rebuilding counts
#   ONCE from that checkpoint (the delta trainer's initial-count
#   shape — building state from the lazy chain's plan would execute
#   the whole chain a second time, the bug the r13 uniform cell
#   caught at 2.2x delta's cost); every later round folds signed
#   deltas, with a full-recount escape when a late heavy SPAWNED
#   pair covers >= recount_frac x docs.
#
# Defaults: delta_frac 0.1 — both 50k-vocab fixtures (winners at
# 0.0004-2.2% of docs) switch at the first opportunity, while
# dense/char-like corpora (winners >= 10% of docs) stay lazy until
# their winners collapse; recount_frac 0.5 per the affected-slice
# argument above.
BPE_ADAPTIVE_DELTA_FRAC = 0.1
BPE_ADAPTIVE_RECOUNT_FRAC = 0.5


def _bpe_merge_rounds_adaptive(
    docs: DataFrame,
    n_merges: int,
    delta_frac: float = BPE_ADAPTIVE_DELTA_FRAC,
    recount_frac: float = BPE_ADAPTIVE_RECOUNT_FRAC,
    stats: list | None = None,
) -> DataFrame:
    """Core of :func:`bpe_train_merges_adaptive` on an arbitrary
    (text) frame so the property tests can drive hand-built micro
    corpora. ``stats``, when a list, receives one dict per APPLIED
    round ({rank, path, n, round_s}; path in lazy|delta|recount) for
    the path-exercise tests (results/bpe_adaptive_ab.json used it too).

    Every mode selects from exact corpus-wide pair counts — the lazy
    phase recounts from the merged-so-far corpus, the stateful phase
    maintains the state the delta trainer proves exact — so the merge
    table equals the sequential trainer's row-for-row for ANY
    threshold pair (property-tested across random corpora and random
    thresholds). Checkpoint discipline: nothing is materialized in
    the lazy phase (chained literal projections keep the plan
    linear); from the switch on, every corpus/state generation is
    truncated with an eager localCheckpoint (the delta trainer's
    hard-won rule)."""
    spark = docs.sparkSession
    cur = docs.select(F.col("text").alias("seq"))
    n_docs = docs.count()
    picked: list[tuple[int, str, int]] = []
    stateful = False
    prev_n: int | None = None
    counts: DataFrame | None = None
    for rank in range(1, n_merges + 1):
        _t0 = time.perf_counter() if stats is not None else 0.0
        if not stateful and prev_n is not None and prev_n < delta_frac * n_docs:
            # one-way switch, decided on LAST round's winner weight so
            # this round's selection count doubles as the state build:
            # checkpoint the merged corpus, rebuild counts once from
            # the checkpoint (NOT from the lazy chain — materializing
            # the chain's counts plan would re-execute every chained
            # merge a second time)
            cur = cur.localCheckpoint(eager=True)
            counts = (
                cur.select(F.explode(F.expr(_BPE_SEQ_PAIRS_EXPR)).alias("pair"))
                .groupBy("pair")
                .agg(F.count("*").alias("n"))
                .localCheckpoint(eager=True)
            )
            stateful = True
        if not stateful:
            counts = (
                cur.select(F.explode(F.expr(_BPE_SEQ_PAIRS_EXPR)).alias("pair"))
                .groupBy("pair")
                .agg(F.count("*").alias("n"))
            )
        top = counts.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(1).collect()
        if not top:
            break  # corpus fully merged
        pair, n = top[0].pair, int(top[0].n)
        picked.append((rank, pair, int(n)))
        prev_n = n
        if rank == n_merges:
            break
        if not stateful:
            path = "lazy"
            # literal apply, lazily chained — next round's count scan
            # re-derives the merged corpus in one narrow pass
            cur = cur.select(F.expr(_apply_merge_literal_expr(pair)).alias("seq"))
        elif n >= recount_frac * n_docs:
            path = "recount"
            # heavy-merge escape (a spawned pair can cover most docs
            # even late in training): apply corpus-wide and rebuild
            # the state — one extraction instead of delta's two over
            # ~the whole corpus
            cur = cur.select(
                F.expr(_apply_merge_literal_expr(pair)).alias("seq")
            ).localCheckpoint(eager=True)
            counts = (
                cur.select(F.explode(F.expr(_BPE_SEQ_PAIRS_EXPR)).alias("pair"))
                .groupBy("pair")
                .agg(F.count("*").alias("n"))
                .localCheckpoint(eager=True)
            )
        else:
            path = "delta"
            # identical to _bpe_merge_rounds_delta's round body
            a, b = pair.split(" ")
            has_pair = F.concat(F.lit(" "), F.col("seq"), F.lit(" ")).contains(
                f" {a} {b} "
            )
            affected = cur.filter(has_pair)
            new_affected = affected.select(
                F.expr(_apply_merge_literal_expr(pair)).alias("seq")
            )
            deltas = (
                affected.select(
                    F.explode(F.expr(_BPE_SEQ_PAIRS_EXPR)).alias("pair"),
                    F.lit(-1).alias("sign"),
                )
                .unionByName(
                    new_affected.select(
                        F.explode(F.expr(_BPE_SEQ_PAIRS_EXPR)).alias("pair"),
                        F.lit(1).alias("sign"),
                    )
                )
                .groupBy("pair")
                .agg(F.sum("sign").alias("d"))
                .filter(F.col("d") != 0)
            )
            counts = (
                counts.join(deltas.hint("shuffle_hash"), "pair", "full_outer")
                .select(
                    "pair",
                    (
                        F.coalesce(F.col("n"), F.lit(0))
                        + F.coalesce(F.col("d"), F.lit(0))
                    ).alias("n"),
                )
                .filter(F.col("n") > 0)
                .localCheckpoint(eager=True)
            )
            cur = (
                cur.filter(~has_pair)
                .unionByName(new_affected)
                .localCheckpoint(eager=True)
            )
        if stats is not None:
            stats.append(
                {
                    "rank": rank,
                    "path": path,
                    "n": n,
                    "round_s": round(time.perf_counter() - _t0, 2),
                }
            )
    return spark.createDataFrame(picked, schema="merge_rank INT, pair STRING, n BIGINT")


def bpe_train_merges_adaptive(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """BPE training with ADAPTIVE pair-count maintenance (VERDICT r12
    #5) — the hybrid of :func:`bpe_train_merges` (recount every
    round) and :func:`bpe_train_merges_delta` (signed-delta fold
    every round): a LAZY phase that recounts over chained literal
    merge projections while winners are heavy, then a ONE-WAY switch
    to delta-maintained state once the winner's occurrence count
    falls below BPE_ADAPTIVE_DELTA_FRAC x docs, with a full-recount
    escape for late heavy merges (>= BPE_ADAPTIVE_RECOUNT_FRAC x
    docs). Rationale and measurements: the policy comment above
    _bpe_merge_rounds_adaptive and the interleaved
    A/B in results/bpe_adaptive_ab.json (which also exposed the r12
    "delta loses early" reading as a CacheManager artifact — the
    sequential trainer's persisted winners were serving later
    same-session comparisons from cache).

    Every phase selects from exact corpus-wide counts, so the merge
    table is identical to the sequential trainer's and the SAME
    oracle covers all three trainers; property tests sweep random
    thresholds against hypothesis corpora. At 100 TB the policy
    reads: while every round must scan most pair mass anyway, do not
    also pay to materialize and maintain vocabulary-scale state; once
    rounds touch slivers, maintain state and touch only the affected
    partition slice."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    return _bpe_merge_rounds_adaptive(docs, n_merges)


def _bpe_batched_oracle(
    n_merges: int = BPE_BATCHED_MERGES,
    batch_k: int = BPE_BATCH_K,
    cand_cap: int = BPE_CAND_CAP,
) -> str:
    """Unrolled-CTE DuckDB oracle for
    :func:`bpe_train_merges_batched`: per round, a row_number-capped
    candidate list and one CTE per batch slot selecting the first
    candidate token-disjoint from every earlier slot in the same round
    (cross join + the four token inequalities per prior slot); the
    apply CTE folds the round's slots in rank order. Assumes each slot finds a candidate (true of the fixture;
    the Spark side handles exhaustion by stopping early — covered in
    the property tests, not here)."""

    def pairs_sql(src: str) -> str:
        return f"""
  SELECT pair, count(*) AS n FROM (
    SELECT unnest(
      CASE WHEN len(string_split(seq, ' ')) >= 2 THEN
        list_transform(range(1, len(string_split(seq, ' '))),
                       i -> string_split(seq, ' ')[i] || ' ' ||
                            string_split(seq, ' ')[i + 1])
      ELSE [] END) AS pair
    FROM {src}
  ) GROUP BY pair
"""

    def apply_sql(seq_expr: str, top: str) -> str:
        return f"""trim(replace(
    replace(' ' || replace({seq_expr}, ' ', '  ') || ' ',
            ' ' || string_split({top}.pair, ' ')[1] || '  ' || string_split({top}.pair, ' ')[2] || ' ',
            ' ' || string_split({top}.pair, ' ')[1] || '+' || string_split({top}.pair, ' ')[2] || ' '),
    '  ', ' '))"""

    ctes = ["seq0 AS (SELECT text AS seq FROM documents)"]
    selects: list[str] = []
    rank = 0
    rnd = 0
    while rank < n_merges:
        rnd += 1
        k = min(batch_k, n_merges - rank)
        ctes.append(f"p{rnd} AS ({pairs_sql(f'seq{rnd - 1}')})")
        ctes.append(
            f"c{rnd} AS (SELECT pair, n FROM (SELECT pair, n,"
            f" row_number() OVER (ORDER BY n DESC, pair ASC) AS rn FROM p{rnd})"
            f" WHERE rn <= {cand_cap})"
        )
        slots = []
        for j in range(1, k + 1):
            froms = ", ".join(
                [f"c{rnd} c"] + [f"s{rnd}_{i} x{i}" for i in range(1, j)]
            )
            disjoint = " AND ".join(
                f"string_split(c.pair, ' ')[{t}] != string_split(x{i}.pair, ' ')[{u}]"
                for i in range(1, j)
                for t in (1, 2)
                for u in (1, 2)
            )
            where = f" WHERE {disjoint}" if disjoint else ""
            ctes.append(
                f"s{rnd}_{j} AS (SELECT c.pair, c.n FROM {froms}{where}"
                f" ORDER BY c.n DESC, c.pair ASC LIMIT 1)"
            )
            rank += 1
            selects.append(
                f"SELECT {rank} AS merge_rank, pair, n FROM s{rnd}_{j}"
            )
            slots.append(f"s{rnd}_{j}")
        if rank < n_merges:
            seq_expr = "s.seq"
            for j, slot in enumerate(slots, start=1):
                seq_expr = apply_sql(seq_expr, f"t{j}")
            froms = ", ".join(
                [f"seq{rnd - 1} s"] + [f"{slot} t{j}" for j, slot in enumerate(slots, start=1)]
            )
            ctes.append(f"seq{rnd} AS (SELECT {seq_expr} AS seq FROM {froms})")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


BPE_BATCHED_ORACLE = _bpe_batched_oracle()


# per-language keep thresholds out of 256 md5 buckets: downsample
# overrepresented languages, keep the rest whole — the data-mixture
# step of corpus assembly. 256ths so the rule is exact in integers.
MIXTURE_KEEP_256: dict[str, int] = {"en": 128, "fr": 205, "es": 230, "de": 256, "zh": 256}


def data_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture resampling: downsample each language
    to a target rate with a content-hash keep rule — how a corpus is
    rebalanced before pretraining (e.g. cap English at 50%) while
    staying reproducible across runs, engines, and corpus growth.

    Keep rule: first two hex digits of md5(text) form a bucket in
    [0, 256); a doc survives iff bucket < threshold(lang). Content-
    keyed (not id- or rand()-keyed) so exact duplicates get one fate,
    and adding docs never flips earlier decisions. Pure projection +
    one |langs|-group aggregate: no shuffle of the corpus itself.
    """
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
    kept = (bucket < thr).cast("int")
    return (
        docs.select("lang", kept.alias("kept"), "n_chars", thr.alias("thr"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.round(F.sum("kept") / F.count("*"), 4).alias("kept_rate"),
            F.round(F.first("thr") / F.lit(256.0), 4).alias("target_rate"),
            F.sum(F.col("kept") * F.col("n_chars")).alias("kept_chars"),
        )
    )


_MIXTURE_CASE_SQL = " ".join(
    f"WHEN lang = '{k}' THEN {v}" for k, v in MIXTURE_KEEP_256.items()
)

DATA_MIXTURE_ORACLE = f"""
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN (instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                   + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)
                   < (CASE {_MIXTURE_CASE_SQL} ELSE 256 END)
              THEN 1 ELSE 0 END AS kept,
         (CASE {_MIXTURE_CASE_SQL} ELSE 256 END) AS thr
  FROM documents
)
SELECT lang, count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_kept,
       round(sum(kept) / count(*), 4) AS kept_rate,
       round(any_value(thr) / 256.0, 4) AS target_rate,
       CAST(sum(kept * n_chars) AS BIGINT) AS kept_chars
FROM assigned
GROUP BY lang
"""


RARE_TOKEN_DF = 2


def token_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score from corpus token statistics
    (the CCNet-style LM filter, made integer-exact): per document, the
    share of token occurrences whose corpus-wide frequency is <= 2,
    and the mean corpus frequency of its tokens. Gibberish scores
    rare-heavy, boilerplate scores common-heavy — the two tails a
    corpus filter trims.

    Same two-aggregate shape as TF-IDF: a (token, count) vocabulary
    aggregate (map-side combined — vocabulary-sized, not corpus-
    sized), re-joined to the exploded token stream ON the token key
    (the join reuses the vocabulary partitioning), then a per-doc
    aggregate. Every measure is derived from exact integer counts, so
    both engines produce bit-identical doubles before rounding.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tokens()).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    return (
        toks.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum((F.col("c") <= RARE_TOKEN_DF).cast("int")).alias("n_rare"),
            F.round(
                F.sum((F.col("c") <= RARE_TOKEN_DF).cast("int")) / F.count("*"), 4
            ).alias("rarity_ratio"),
            F.round(F.sum("c") / F.count("*"), 4).alias("mean_tok_freq"),
        )
    )


TOKEN_RARITY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN c <= {RARE_TOKEN_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       round(sum(CASE WHEN c <= {RARE_TOKEN_DF} THEN 1 ELSE 0 END) / count(*), 4)
         AS rarity_ratio,
       round(sum(c) / count(*), 4) AS mean_tok_freq
FROM toks JOIN vocab USING (tok)
GROUP BY doc_id
"""


def mixture_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture rebalancing (alpha = 0.5): each
    language keeps rate sqrt(min_lang_count / lang_count) — the
    multilingual-pretraining upweighting rule where the rarest
    language keeps everything and overrepresented ones are downsampled
    toward balance. Unlike data_mixture_resample the weights are
    COMPUTED from corpus statistics, not configured: a |langs|-row
    aggregate feeds back into the keep rule, broadcast as a scalar
    join — the same one-small-aggregate-then-rescan shape as TF-IDF's
    document count or a Lloyd mean update.

    Float parity: sqrt and division are IEEE correctly-rounded (unlike
    pow/log), and bucket/256 thresholds multiply by a power of two, so
    both engines decide every keep identically from exact integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    hexd = "0123456789abcdef"
    bucket = F.expr(
        f"(instr('{hexd}', substring(md5(text), 1, 1)) - 1) * 16"
        f" + (instr('{hexd}', substring(md5(text), 2, 1)) - 1)"
    )
    lang_counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    min_count = lang_counts.agg(F.min("n_lang").alias("min_lang"))
    rates = lang_counts.crossJoin(F.broadcast(min_count)).select(
        "lang", "n_lang", F.sqrt(F.col("min_lang") / F.col("n_lang")).alias("rate")
    )
    kept = (bucket < F.col("rate") * 256).cast("int")
    return (
        docs.join(F.broadcast(rates), "lang")
        .select("lang", "n_lang", "rate", kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.first("n_lang").alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.round(F.sum("kept") / F.first("n_lang"), 4).alias("kept_rate"),
            F.round(F.first("rate"), 4).alias("target_rate"),
        )
    )


MIXTURE_TEMPERATURE_ORACLE = """
WITH lang_counts AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
rates AS (
  SELECT lang, n_lang,
         sqrt((SELECT min(n_lang) FROM lang_counts) / n_lang) AS rate
  FROM lang_counts
),
assigned AS (
  SELECT d.lang, r.n_lang, r.rate,
         CASE WHEN (instr('0123456789abcdef', substr(md5(d.text), 1, 1)) - 1) * 16
                   + (instr('0123456789abcdef', substr(md5(d.text), 2, 1)) - 1)
                   < r.rate * 256
              THEN 1 ELSE 0 END AS kept
  FROM documents d JOIN rates r USING (lang)
)
SELECT lang, any_value(n_lang) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       round(sum(kept) / any_value(n_lang), 4) AS kept_rate,
       round(any_value(rate), 4) AS target_rate
FROM assigned
GROUP BY lang
"""


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_documents(
    spark: SparkSession,
    sf_dir: str,
    window: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Sliding-window document chunking — the chunk-for-embedding /
    retrieval-indexing step: split every document into ``window``-token
    windows with the given stride (registry default 64/48, 16-token
    overlap), keeping (doc_id, chunk_idx, start offset, chunk text,
    token count). window/stride are the context-budget dials every
    RAG pipeline turns, so the property sweep
    (tests/test_property.py) covers stride < window (overlap),
    stride = window (tiling) and stride > window (gaps), not just
    the registry default (the chunk-boundary arithmetic is where the
    off-by-ones live).

    One Generate over a per-row transform: zero shuffle, zero UDF —
    chunk boundaries are pure arithmetic on the token array, so the
    operator is a narrow stage fused with the scan at any scale.
    Chunk counts grow the row count ~n_tokens/stride ×, which is the
    point: the output feeds an embedding model batch-wise.
    """
    docs = load_table(spark, sf_dir, "documents")
    # One split per row (r15): chunk windows slice a materialized token
    # array — the in-lambda split(text) form re-split the text once per
    # chunk (see _BPE_SEQ_PAIRS_EXPR for the pattern and rationale).
    chunks = F.expr(
        f"""
        transform(sequence(0, CAST(floor((size(_toks) - 1) / {stride})
                                   AS INT)),
                  i -> struct(
                    i AS chunk_idx,
                    i * {stride} AS start_tok,
                    concat_ws(' ', slice(_toks, i * {stride} + 1, {window}))
                      AS chunk_text))
        """
    )
    return (
        docs.withColumn("_toks", F.split(F.col("text"), " "))
        .select("doc_id", F.size("_toks").alias("n_tokens"), F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.start_tok").alias("start_tok"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.least(
                F.lit(window), F.col("n_tokens") - F.col("c.start_tok")
            ).alias("chunk_tokens"),
        )
    )


def chunk_documents_oracle(
    window: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> str:
    """Oracle template over the chunk window/stride dials (property
    sweep, tests/test_property.py)."""
    return f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
idx AS (
  SELECT doc_id, toks, n_tokens,
         unnest(range(0, CAST(floor((n_tokens - 1) / {stride}) AS BIGINT) + 1))
           AS chunk_idx
  FROM base
)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(chunk_idx * {stride} AS INT) AS start_tok,
       array_to_string(toks[chunk_idx * {stride} + 1
                            : chunk_idx * {stride} + {window}], ' ')
         AS chunk_text,
       CAST(least({window}, n_tokens - chunk_idx * {stride}) AS INT)
         AS chunk_tokens
FROM idx
"""


CHUNK_DOCUMENTS_ORACLE = chunk_documents_oracle()


HEAVY_HITTER_SHARE = 0.033  # fixture vocab is ~31 near-uniform tokens
                            # (~3.2% each) so this splits the set


def heavy_hitters_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-token mining with the two-phase candidate/verify
    decomposition that survives ultra-high cardinality:

    Phase 1 (candidates): count tokens per *input partition* and keep
    those meeting the share threshold locally. Any token with global
    share >= θ must reach local share >= θ in at least one partition
    (averaging argument: if cnt >= θ·N and cnt_p < θ·N_p everywhere,
    summing contradicts), so the candidate set is a guaranteed
    superset of the answer — for ANY partitioning, which is what makes
    the result partition-count-independent and oracle-checkable.

    Phase 2 (verify): exact counts for candidates only, via a
    broadcast semi join before the global groupBy.

    Honest cost accounting (30M-token / 1M-vocab quiet-window probe):
    phase 1's (pid, token) exchange carries the same per-partition
    local-vocab volume as the naive plan's map-side-combined exchange,
    so at vocabularies that FIT, the naive single groupBy wins
    (~1.0 s vs ~2.4 s). What the two-phase buys is a MEMORY bound,
    not a time win: the naive plan's final aggregation holds |vocab|
    keys of state (billions on a web corpus — the stage that OOMs),
    while here the final agg holds ≤ partitions/θ candidate keys
    regardless of vocabulary, and only candidates cross phase 2's
    exchange. Use naive while vocab fits; switch to this when it
    doesn't. Both phases sit in one lazy plan; the total-count side
    is a one-row broadcast, not a driver collect.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_tokens()).alias("token"))

    local = (
        tok.withColumn("pid", F.spark_partition_id())
        .groupBy("pid", "token")
        .agg(F.count("*").alias("cnt_p"))
    )
    w_part = Window.partitionBy("pid")
    candidates = (
        local.withColumn("tot_p", F.sum("cnt_p").over(w_part))
        .filter(F.col("cnt_p") >= HEAVY_HITTER_SHARE * F.col("tot_p"))
        .select("token")
        .distinct()
    )

    total = tok.agg(F.count("*").alias("n_total"))
    return (
        tok.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .join(F.broadcast(total))
        .filter(F.col("cnt") >= HEAVY_HITTER_SHARE * F.col("n_total"))
        .select("token", "cnt", F.round(F.col("cnt") / F.col("n_total"), 6).alias("share"))
    )


HEAVY_HITTERS_ORACLE = f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
tot AS (SELECT count(*) AS n_total FROM tok)
SELECT token, count(*) AS cnt,
       round(count(*) / (SELECT n_total FROM tot), 6) AS share
FROM tok
GROUP BY token
HAVING count(*) >= {HEAVY_HITTER_SHARE} * (SELECT n_total FROM tot)
"""


def token_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy — the
    low-diversity quality signal (boilerplate, keyword stuffing, and
    generated spam all score low; C4/Gopher-family filters threshold
    on exactly this family of statistics).

    Zero-shuffle formulation: entropy is a pure per-row fold
    (distinct tokens -> -Σ p·ln p via nested higher-order functions),
    fused with the scan — the shuffled explode+groupBy alternative
    moves every token occurrence across the wire for a statistic each
    row can compute locally. Per-row cost is O(tokens × distinct),
    bounded by document length.
    """
    docs = load_table(spark, sf_dir, "documents")
    ent = F.expr(
        """aggregate(array_distinct(split(text, ' ')), CAST(0.0 AS DOUBLE),
             (acc, u) -> acc - (size(filter(split(text, ' '), t -> t = u))
                                / CAST(size(split(text, ' ')) AS DOUBLE))
                             * ln(size(filter(split(text, ' '), t -> t = u))
                                  / CAST(size(split(text, ' ')) AS DOUBLE)))"""
    )
    return docs.select(
        "doc_id",
        F.size(_tokens()).alias("n_tokens"),
        F.size(F.array_distinct(_tokens())).alias("n_distinct"),
        F.round(ent, 4).alias("entropy"),
    )


TOKEN_ENTROPY_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
       round(list_sum(list_transform(list_distinct(string_split(text, ' ')),
         u -> -(len(list_filter(string_split(text, ' '), t -> t = u))
                / CAST(len(string_split(text, ' ')) AS DOUBLE))
              * ln(len(list_filter(string_split(text, ' '), t -> t = u))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)))), 4) AS entropy
FROM documents
"""


def quality_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide quality percentile + top-30% keep flag — the global
    normalization step of a filtering pipeline ("keep the best 30% by
    score"), built WITHOUT the single-partition `Window.orderBy()`
    antipattern: ranking comes from :func:`operators.core.global_rank`
    (range exchange + broadcast prefix offsets, every stage parallel),
    so the same plan holds when "corpus" means 100 TB. percentile =
    (rank-1)/(total-1) over (score, doc_id) — the deterministic
    tiebreak makes it equal SQL percent_rank() with the same ORDER BY.
    """
    from .core import global_rank

    scored = text_quality_score(spark, sf_dir).select("doc_id", "score")
    ranked = global_rank(scored, [F.col("score").asc(), F.col("doc_id").asc()])
    pctl = (F.col("rank") - 1) / (F.col("_total") - 1)
    return ranked.select(
        "doc_id",
        "score",
        F.round(pctl, 4).alias("pctl"),
        (F.col("rank") > F.col("_total") * 0.7).alias("keep_top30"),
    )


QUALITY_PERCENTILE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         round(least(1.0, len(string_split(text, ' ')) / 100.0)
               * (1.0 - len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of')))
                 / len(string_split(text, ' '))), 4) AS score
  FROM documents
)
SELECT doc_id, score,
       round((row_number() OVER (ORDER BY score, doc_id) - 1)
             / CAST(count(*) OVER () - 1 AS DOUBLE), 4) AS pctl,
       row_number() OVER (ORDER BY score, doc_id)
         > count(*) OVER () * 0.7 AS keep_top30
FROM scored
"""


QUOTA_PER_SOURCE = 10


def quota_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-stratum quota sampling: each source keeps exactly
    min({QUOTA_PER_SOURCE}, |stratum|) docs, chosen by content-hash
    (md5) order — the deterministic way to cut balanced eval /
    annotation subsets. Rate-based sampling (data_mixture_resample)
    can't promise exact counts; the per-group window can. One shuffle
    on the stratum key; each group ranks independently — no global
    order anywhere, so the plan survives arbitrarily many strata.
    Content-keyed order means the sample is stable across runs,
    engines, and partitionings.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("text")), F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= QUOTA_PER_SOURCE)
        .select("source", "doc_id", F.col("rn").cast("int").alias("rn"))
    )


QUOTA_SAMPLE_ORACLE = f"""
SELECT source, doc_id,
       CAST(row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS INT) AS rn
FROM documents
QUALIFY rn <= {QUOTA_PER_SOURCE}
"""


BOILERPLATE_DF = 3  # a 4-gram phrase in >= this many docs is boilerplate
BOILERPLATE_DROP_RATIO = 0.3

# word 4-gram shingles over a pre-split ``toks`` column (split() once
# per row — inlining split(text) into every lambda access would cost
# 4 re-splits per shingle position); docs with < 4 tokens contribute
# their whole text (same guarded-CASE pattern as dedup._SHINGLES_EXPR).
_PHRASE_EXPR = """
CASE WHEN size(toks) >= 4 THEN
  transform(sequence(1, size(toks) - 3),
            i -> concat_ws(' ', element_at(toks, i),
                                element_at(toks, i + 1),
                                element_at(toks, i + 2),
                                element_at(toks, i + 3)))
ELSE array(text) END
"""


def boilerplate_phrase_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection (CCNet-style, at phrase
    granularity because the fixture docs are single-line): a word
    4-gram occurring in >= {BOILERPLATE_DF} distinct docs is
    boilerplate — cross-document repetition carries no content signal
    — and each doc is scored by the fraction of its distinct phrases
    that are boilerplate. Complements ``text_repetition_filter``
    (intra-doc repetition): this one needs corpus-wide evidence.

    Shape: ONE explode of distinct phrases (map-side, split() hoisted
    to a column so it runs once per doc), then the document frequency
    comes from a count-over-window partitioned by phrase — the same
    shuffle the DF groupBy would cost, but with no second pass over
    the exploded phrases and no join back (a groupBy + broadcast-join
    formulation re-explodes the corpus to probe — measured 8× slower
    at sf0.1). Per-doc agg is the second and final shuffle. Only
    affected docs (>= 1 boilerplate phrase) are emitted.

    r14: scan-parallelism floor added (guide §2.5) — the phrase build
    and the window sort were serializing on the single-split scan;
    measured 1.9x at sf0.1 (results/scan_floor_ab.json).
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    phrases = docs.withColumn("toks", F.split("text", " ")).select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({_PHRASE_EXPR})")).alias("ph"),
    )
    flagged = phrases.withColumn(
        "is_boiler",
        (F.count("*").over(Window.partitionBy("ph")) >= BOILERPLATE_DF).cast("int"),
    )
    ratio = F.col("n_boiler") / F.col("n_phrases")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_phrases"),
            F.sum("is_boiler").alias("n_boiler"),
        )
        .filter(F.col("n_boiler") >= 1)
        .select(
            "doc_id",
            "n_phrases",
            "n_boiler",
            F.round(ratio, 4).alias("boilerplate_ratio"),
            (ratio >= BOILERPLATE_DROP_RATIO).alias("drop_doc"),
        )
        .orderBy("doc_id")
    )


_PHRASE_SQL = """
CASE WHEN len(string_split(text, ' ')) >= 4 THEN
  list_transform(range(1, len(string_split(text, ' ')) - 2),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i + 1] || ' ' ||
                      string_split(text, ' ')[i + 2] || ' ' ||
                      string_split(text, ' ')[i + 3])
ELSE [text] END
"""

BOILERPLATE_ORACLE = f"""
WITH phrases AS (
  SELECT doc_id, unnest(list_distinct({_PHRASE_SQL})) AS ph FROM documents
), boiler AS (
  SELECT ph FROM phrases GROUP BY ph HAVING count(*) >= {BOILERPLATE_DF}
), flagged AS (
  SELECT p.doc_id, p.ph, CASE WHEN b.ph IS NULL THEN 0 ELSE 1 END AS is_boiler
  FROM phrases p LEFT JOIN boiler b ON p.ph = b.ph
)
SELECT doc_id, count(*) AS n_phrases,
       CAST(sum(is_boiler) AS BIGINT) AS n_boiler,
       round(sum(is_boiler) / count(*), 4) AS boilerplate_ratio,
       sum(is_boiler) / count(*) >= {BOILERPLATE_DROP_RATIO} AS drop_doc
FROM flagged GROUP BY doc_id
HAVING sum(is_boiler) >= 1
ORDER BY doc_id
"""


RESERVOIR_K = 5
# Lehmer / Park-Miller LCG constants — same seeded-uniform trick as
# the LSH hyperplanes: both engines compute the identical rational, so
# the "random" keys are bit-reproducible cross-engine.
_LCG_A, _LCG_M = 48271, 2147483647


def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, k={RESERVOIR_K} per
    source, via Efraimidis-Spirakis A-Res priorities: priority =
    ln(u)/w (the monotone log form of u^(1/w)) with u a deterministic
    Lehmer-LCG uniform seeded by doc_id and w = n_chars. Top-k by
    priority == a weighted sample — the distributed form of reservoir
    sampling, since per-item priorities need no sequential reservoir
    state at all: one per-stratum window ranks them.

    One shuffle on source; each stratum ranks independently (no global
    sort). doc_id tiebreak makes equal-priority outcomes stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (((F.col("doc_id") + 1) * _LCG_A) % _LCG_M).cast("double") / F.lit(
        float(_LCG_M)
    )
    pri = F.log(u) / F.col("n_chars")
    w = Window.partitionBy("source").orderBy(F.desc("priority"), F.col("doc_id"))
    return (
        docs.withColumn("priority", pri)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RESERVOIR_K)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").alias("weight"),
            F.round("priority", 6).alias("priority"),
        )
    )


RESERVOIR_ORACLE = f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         ln((((doc_id + 1) * {_LCG_A}) % {_LCG_M}) / {_LCG_M}.0) / n_chars
           AS priority
  FROM documents
)
SELECT source, doc_id, n_chars AS weight, round(priority, 6) AS priority
FROM keyed
QUALIFY row_number() OVER (PARTITION BY source ORDER BY priority DESC, doc_id)
        <= {RESERVOIR_K}
"""


_BIGRAM_PAIRS_EXPR = """
CASE WHEN size(T) >= 2 THEN
  transform(sequence(0, size(T) - 2),
            i -> named_struct('w1', T[i], 'w2', T[i + 1]))
ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END
"""


def _bigram_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) adjacent-token pairs, built ARRAY-SIDE (r14
    optimization, guide §2.4): a per-row transform over the token array
    replaces the posexplode + lead()-window formulation, which shuffled
    and sorted the entire exploded token stream by doc_id before a
    single bigram existed — and paid that shuffle once per downstream
    consumer. Row set is identical: docs with < 2 tokens produce no
    pairs (the lead() IS NOT NULL filter), pair order is irrelevant to
    every consumer (count tables and per-doc sums)."""
    return (
        docs.withColumn("T", _tokens())
        .select("doc_id", F.explode(F.expr(_BIGRAM_PAIRS_EXPR)).alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


def _hex4_bucket(col_sql: str, n_buckets: int) -> str:
    """Engine-portable hashing-trick bucket: the first 4 hex digits of
    md5 parsed by positional ``instr`` arithmetic (identical SQL in
    Spark and DuckDB — neither needs a hex-parse builtin), mod
    ``n_buckets``. 16 bits of hash is plenty for bucket assignment;
    the md5 itself is the expensive part and is computed once."""
    digit = "(instr('0123456789abcdef', substring(md5({c}), {i}, 1)) - 1)"
    parts = " + ".join(
        f"{digit.format(c=col_sql, i=i + 1)} * {16 ** (3 - i)}" for i in range(4)
    )
    return f"(({parts}) % {n_buckets})"


def feature_hash_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words: every token maps to one of 64
    fixed buckets via a hash (no vocabulary build, no dictionary
    shuffle) — the classic fixed-width featurization for linear
    models / Bloom-style sketches over unbounded vocabularies.

    Per bucket: total token mass, distinct-token load (collision
    accounting), and the alphabetically-first token (a deterministic
    witness). The whole query is explode -> project (md5 map-side) ->
    64-key groupBy: fully map-side combinable, constant-width output
    at ANY corpus size — which is the entire point of feature hashing
    at 100 TB (a vocab-keyed pivot would shuffle |vocab| keys; this
    shuffles 64).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_tokens()).alias("token"))
    bucket = F.expr(_hex4_bucket("token", 64))
    return (
        tok.select(bucket.alias("bucket"), "token")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count_distinct("token").alias("n_distinct"),
            F.min("token").alias("first_token"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_tokens",
            "n_distinct",
            "first_token",
        )
        .orderBy("bucket")
    )


FEATURE_HASH_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT CAST({_hex4_bucket("token", 64)} AS INT) AS bucket,
       count(*) AS n_tokens,
       count(DISTINCT token) AS n_distinct,
       min(token) AS first_token
FROM tok
GROUP BY 1
ORDER BY bucket
"""


def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model document scoring (bits per token under an
    add-1-smoothed corpus LM) — the actual-LM counterpart to the
    rank-based ``token_rarity_score``: low bits/token = fluent,
    repetitive text; high = rare/garbled. The classic KenLM-style
    quality gate, self-trained on the corpus in the same plan.

    Pipeline (r14 optimization, guide §2.4): bigrams are built
    ARRAY-SIDE from each doc's token array — the previous lead()-window
    formulation shuffled and sorted the whole exploded token stream by
    doc_id, and re-ran that shuffle for every consumer of ``bi`` (count
    tables + the scoring join). Corpus bigram/unigram count tables stay
    map-side combinable, then a count join on the bigram key and
    per-doc aggregation. Per-term surprise is the INTEGER floor-log2 of
    the inverse probability, computed from binary-representation length
    (length(bin(k))-1) — pure integer arithmetic end to end, so no
    cross-engine libm-log2 ulp can flip a quantization boundary (float
    millibits did, observed at sf0.01); the per-doc division is a
    single exact int/int op. At 100 TB the count tables are the same
    shape the BPE counter ships, and the count join broadcasts when the
    vocab fits.
    """
    # Scan-parallelism floor (guide §2.5): bigram construction + the
    # count joins were serializing on the single-split scan.
    docs = load_table_parallel(spark, sf_dir, "documents")
    bi = _bigram_pairs(docs)
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # c1 is c2's marginal (both count bi rows, grouped differently), so
    # derive it from the already-reduced bigram table instead of paying
    # a second full pass over the bigram stream (r14 optimization).
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    vocab = docs.select(F.explode(_tokens()).alias("w1")).agg(
        F.count_distinct("w1").alias("v")
    )
    scored = (
        bi.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "bits",
            (F.length(F.expr("bin(c1 + v)")) - 1)
            - (F.length(F.expr("bin(c2 + 1)")) - 1),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum("bits") / F.count("*"), 4).alias("bits_per_token"),
        )
        .orderBy("doc_id")
    )


BIGRAM_LM_ORACLE = """
WITH tok AS (
  SELECT doc_id, t.pos, t.w1
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS w1,
                       generate_subscripts(string_split(text, ' '), 1) AS pos) t
), bi AS (
  SELECT doc_id, w1, lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
), bi2 AS (
  SELECT * FROM bi WHERE w2 IS NOT NULL
), c2 AS (
  SELECT w1, w2, count(*) AS c2 FROM bi2 GROUP BY w1, w2
), c1 AS (
  SELECT w1, count(*) AS c1 FROM bi2 GROUP BY w1
), v AS (
  SELECT count(DISTINCT w1) AS v FROM tok
)
SELECT b.doc_id, count(*) AS n_bigrams,
       round(CAST(sum((length(bin(c1.c1 + v.v)) - 1)
                      - (length(bin(c2.c2 + 1)) - 1)) AS BIGINT)
             * 1.0 / count(*), 4) AS bits_per_token
FROM bi2 b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


CCNET_BUCKETS = 3  # CCNet's head / middle / tail terciles


def ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str, n_buckets: int = CCNET_BUCKETS
) -> DataFrame:
    """CCNet perplexity bucketing (Wenzek et al. 2020): score every
    document with the corpus-trained LM, then split each language's
    documents into HEAD / MIDDLE / TAIL terciles by score — the
    mixture dial CCNet, RedPajama and every CommonCrawl derivative
    use to keep the fluent third and down-weight the rest. Language
    maps to the fixture's ``source`` column; perplexity is the
    module's integer bigram LM (:func:`bigram_lm_score` machinery),
    kept in exact int64 MILLI-BITS per token — (sum_bits * 1000) div
    n_bigrams — so the tercile boundary can never move on a float
    rounding disagreement, and the ntile ordering carries an explicit
    doc_id tiebreak so equal scores bucket identically on both
    engines.

    Output: (doc_id, source, score_mbits, bucket 1..3, bucket_label).
    Scale shape: the LM scoring plan is bigram_lm_score's (count
    tables map-side combinable, count join broadcastable); bucketing
    adds ONE window over (source) — at 100 TB, per-language ntile is
    a per-partition sort after a source-keyed exchange of (doc_id,
    int64) pairs, never of text. Docs with < 2 tokens have no bigrams
    and are excluded, as in CCNet (unscorable lines drop to a side
    channel).
    """
    # Scan-parallelism floor (guide §2.5) + array-side bigram formation
    # (r14 optimization): see ``_bigram_pairs`` — removes the
    # per-consumer token-stream shuffle+sort the lead()-window
    # formulation paid, and parallelizes the gram build.
    docs = load_table_parallel(spark, sf_dir, "documents")
    bi = _bigram_pairs(docs)
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # c1 is c2's marginal (both count bi rows, grouped differently), so
    # derive it from the already-reduced bigram table instead of paying
    # a second full pass over the bigram stream (r14 optimization).
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    vocab = docs.select(F.explode(_tokens()).alias("w1")).agg(
        F.count_distinct("w1").alias("v")
    )
    scored = (
        bi.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "bits",
            (F.length(F.expr("bin(c1 + v)")) - 1)
            - (F.length(F.expr("bin(c2 + 1)")) - 1),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("bits").alias("sum_bits"),
            F.count("*").alias("n_bigrams"),
        )
        .withColumn(
            "score_mbits", F.expr("sum_bits * 1000 div n_bigrams").cast("long")
        )
    )
    wsrc = Window.partitionBy("source").orderBy(
        F.col("score_mbits").asc(), F.col("doc_id").asc()
    )
    return (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .withColumn("bucket", F.ntile(int(n_buckets)).over(wsrc))
        .withColumn(
            "bucket_label",
            # CCNet's canonical n=3 keeps named terciles; other widths
            # (the sweepable dial) label by index
            F.when(F.lit(int(n_buckets) == 3), F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("bucket"),
            )).otherwise(F.concat(F.lit("b"), F.col("bucket").cast("string"))),
        )
        .select("doc_id", "source", "score_mbits", "bucket", "bucket_label")
        .orderBy("doc_id")
    )


def ccnet_buckets_oracle(n_buckets: int = CCNET_BUCKETS) -> str:
    """Oracle template over the bucket-count dial."""
    return f"""
WITH tok AS (
  SELECT doc_id, t.pos, t.w1
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS w1,
                       generate_subscripts(string_split(text, ' '), 1) AS pos) t
), bi AS (
  SELECT doc_id, w1, lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
), bi2 AS (
  SELECT * FROM bi WHERE w2 IS NOT NULL
), c2 AS (
  SELECT w1, w2, count(*) AS c2 FROM bi2 GROUP BY w1, w2
), c1 AS (
  SELECT w1, count(*) AS c1 FROM bi2 GROUP BY w1
), v AS (
  SELECT count(DISTINCT w1) AS v FROM tok
), scored AS (
  SELECT b.doc_id,
         sum((length(bin(c1.c1 + v.v)) - 1) - (length(bin(c2.c2 + 1)) - 1))
           AS sum_bits,
         count(*) AS n_bigrams
  FROM bi2 b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY b.doc_id
), mb AS (
  SELECT doc_id, CAST(sum_bits * 1000 // n_bigrams AS BIGINT) AS score_mbits
  FROM scored
)
SELECT m.doc_id, d.source, m.score_mbits,
       CAST(ntile({int(n_buckets)}) OVER (
         PARTITION BY d.source ORDER BY m.score_mbits ASC, m.doc_id ASC
       ) AS INT) AS bucket,
       CASE WHEN {int(n_buckets)} = 3
            THEN (['head', 'middle', 'tail'])[
              ntile({int(n_buckets)}) OVER (
                PARTITION BY d.source ORDER BY m.score_mbits ASC, m.doc_id ASC)]
            ELSE 'b' || CAST(ntile({int(n_buckets)}) OVER (
              PARTITION BY d.source ORDER BY m.score_mbits ASC, m.doc_id ASC)
              AS VARCHAR) END AS bucket_label
FROM mb m JOIN documents d ON m.doc_id = d.doc_id
ORDER BY m.doc_id
"""


CCNET_BUCKETS_ORACLE = ccnet_buckets_oracle()


def inverted_index_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per token, document frequency and
    the first 10 postings — the retrieval-side artifact a search/RAG
    pipeline builds from the corpus.

    The postings CAP happens BEFORE any list materializes: a
    row_number window keeps 10 (token, doc) rows per token, so no
    executor ever holds an unbounded postings list (a bare
    collect_list per token is the OOM at web scale — a stop-word's
    postings list is the corpus). df comes from the same shuffle
    (count over the full distinct pairs); the final array is a
    bounded 10-element sort + join, serialized as CSV text so the
    differential hash sees a scalar.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode(_tokens()).alias("token"), "doc_id"
    ).distinct()
    w = Window.partitionBy("token").orderBy("doc_id")
    capped = pairs.withColumn("rn", F.row_number().over(w)).withColumn(
        "df", F.count("*").over(Window.partitionBy("token"))
    )
    return (
        capped.where(F.col("rn") <= 10)
        .groupBy("token", "df")
        .agg(
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "postings_head"
            )
        )
        .where(F.col("df") >= 5)
        .select("token", F.col("df").cast("long").alias("df"), "postings_head")
        .orderBy("token")
    )


INVERTED_INDEX_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS token, doc_id
  FROM documents
), ranked AS (
  SELECT token, doc_id,
         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY token) AS df
  FROM pairs
)
SELECT token, CAST(df AS BIGINT) AS df,
       array_to_string(list_sort(list(doc_id)), ',') AS postings_head
FROM ranked
WHERE rn <= 10
GROUP BY token, df
HAVING df >= 5
ORDER BY token
"""


def sparse_tfidf_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical document similarity — the inverted-index
    counterpart to the dense ANN family: top-10 document pairs by
    TF-IDF dot product, computed entirely through a postings
    self-join (no dense vectors anywhere).

    Weights are INTEGER: w(doc, term) = tf * floor(log2(n_docs div
    df)) with the floor-log2 from binary-representation length (the
    ``bigram_lm_score`` trick — no libm). This has a built-in
    stop-term guard that doubles as the quadratic-skew guard: any
    term in more than half the corpus gets idf 0 and drops out
    BEFORE the self-join, so the posting lists that meet in the join
    are exactly the discriminative ones. Dot products of int64
    weights sum exactly; ranking (dot desc, d1, d2) can never flip
    between engines.

    Scale shape: tf and df are map-side-combinable aggregates; the
    self-join shuffles postings on the term key with the idf-0
    pruning already applied; top-10 is a TakeOrdered.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count("*").alias("n_docs"))
    weighted = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "w",
            F.col("tf") * (F.length(F.expr("bin(n_docs div df)")) - 1),
        )
        .where(F.col("w") > 0)
        .select("term", "doc_id", "w")
    )
    p1 = weighted.select("term", F.col("doc_id").alias("d1"), F.col("w").alias("w1"))
    p2 = weighted.select("term", F.col("doc_id").alias("d2"), F.col("w").alias("w2"))
    pairs = (
        p1.join(p2, "term")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(
            F.sum(F.col("w1") * F.col("w2")).cast("long").alias("dot"),
            F.count("*").alias("n_shared_terms"),
        )
    )
    return pairs.orderBy(F.col("dot").desc(), "d1", "d2").limit(10)


SPARSE_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), nd AS (
  SELECT count(*) AS n_docs FROM documents
), weighted AS (
  SELECT tf.term, tf.doc_id,
         tf.tf * (length(bin(nd.n_docs // df.df)) - 1) AS w
  FROM tf JOIN df ON tf.term = df.term, nd
  WHERE tf.tf * (length(bin(nd.n_docs // df.df)) - 1) > 0
)
SELECT p1.doc_id AS d1, p2.doc_id AS d2,
       CAST(sum(p1.w * p2.w) AS BIGINT) AS dot,
       count(*) AS n_shared_terms
FROM weighted p1 JOIN weighted p2
  ON p1.term = p2.term AND p1.doc_id < p2.doc_id
GROUP BY d1, d2
ORDER BY dot DESC, d1, d2
LIMIT 10
"""


def collocation_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide collocation mining: the top-20 adjacent token pairs
    by PMI lift — the classic phrase-detection statistic (word2vec's
    phrase pass, gensim Phrases). Reported as the integer-rational
    LIFT = P(w1w2)/(P(w1)P(w2)) = c12·T² / (B·c1·c2) rather than its
    log: every factor is an exact int64 count product and only ONE
    division produces the double, so no cross-engine libm-log ulp can
    reorder the ranking (the bigram_lm_score lesson). PMI = log2(lift)
    is monotone in it, so the top-k is identical.

    Scale shape: bigrams come from a ZERO-SHUFFLE array fold
    (arrays_zip of two slices — no posexplode+window like the LM
    scorer needs for per-doc context); then two map-side combinable
    count tables, a count join on the bigram key, and TakeOrdered for
    the top-20. The c12 ≥ 5 floor prunes the long tail before the
    join.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    pairs = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(toks, F.lit(1), F.size(toks) - 1).alias("w1"),
                F.slice(toks, F.lit(2), F.size(toks) - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12")).where(
        F.col("c12") >= 5
    )
    uni = docs.select(F.explode(toks).alias("w")).groupBy("w").agg(
        F.count("*").alias("c")
    )
    tot = docs.select(F.explode(toks).alias("w")).agg(F.count("*").alias("t"))
    btot = pairs.agg(F.count("*").alias("b"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        c12.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                (F.col("c12") * F.col("t") * F.col("t")).cast("double")
                / (F.col("b") * F.col("c1") * F.col("c2")).cast("double"),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(20)
    )


COLLOCATION_PMI_ORACLE = """
WITH tok AS (
  SELECT doc_id, t.pos, t.w
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS w,
                       generate_subscripts(string_split(text, ' '), 1) AS pos) t
), bi AS (
  SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
), bi2 AS (
  SELECT w1, w2 FROM bi WHERE w2 IS NOT NULL
), pc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi2 GROUP BY 1, 2
  HAVING count(*) >= 5
), uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
), tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tok),
btot AS (SELECT CAST(count(*) AS BIGINT) AS b FROM bi2)
SELECT pc.w1, pc.w2, pc.c12,
       round(CAST(pc.c12 * t * t AS DOUBLE)
             / CAST(b * u1.c * u2.c AS DOUBLE), 4) AS lift
FROM pc JOIN uni u1 ON u1.w = pc.w1
        JOIN uni u2 ON u2.w = pc.w2
CROSS JOIN tot CROSS JOIN btot
ORDER BY lift DESC, pc.w1, pc.w2
LIMIT 20
"""


def keyword_search_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical keyword search: score every document against the query
    terms ('spark', 'join', 'stream') by Σ tf·idf and return the
    top-10 — the BM25-family retrieval kernel that pairs with the
    dense ANN side in hybrid search (hybrid_rrf_fusion fuses two
    dense rankers; this is the sparse ranker it would fuse at scale).

    idf uses the repo's integer floor-log2 convention
    (sparse_tfidf_doc_pairs): w = tf · (len(bin(N div df)) − 1) — an
    exact int64 score, so the ranking can never flip between engines.
    Scale shape: the term filter lands BEFORE tf aggregation (only
    query-term postings move), df comes from a 3-row broadcast, and
    the top-10 is a TakeOrdered.
    """
    docs = load_table(spark, sf_dir, "documents")
    terms = ("spark", "join", "stream")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term")).where(
        F.col("term").isin(*terms)
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "w", F.col("tf") * (F.length(F.expr("bin(n_docs div df)")) - 1)
        )
        .groupBy("doc_id")
        .agg(
            F.sum("w").alias("score"),
            F.count("*").alias("n_hit_terms"),
        )
    )
    return scored.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(10)


KEYWORD_SEARCH_ORACLE = """
WITH tok AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS term) t
  WHERE t.term IN ('spark', 'join', 'stream')
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT doc_id,
       CAST(sum(tf * (length(bin(n_docs // df)) - 1)) AS BIGINT) AS score,
       count(*) AS n_hit_terms
FROM tf JOIN df USING (term) CROSS JOIN nd
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 10
"""


def bm25_keyword_topk(
    spark: SparkSession,
    sf_dir: str,
    k1n: int = 6,
    k1d: int = 5,
    bn: int = 3,
    bd: int = 4,
) -> DataFrame:
    """BM25 keyword retrieval (k1 = k1n/k1d = 1.2, b = bn/bd = 0.75 by
    default — the Robertson standard) over the same query
    terms as :func:`keyword_search_tfidf` — the production sparse
    ranker (Robertson/Spärck Jones; what Lucene/Elasticsearch score),
    adding the two things tf·idf lacks: tf SATURATION (the 50th
    occurrence of 'spark' is worth almost nothing) and document-LENGTH
    normalization (a hit in a short doc outranks the same hit buried
    in a long one).

    Exact integer fixed-point so the ranking can never flip between
    engines: with dl = token count, DL = Σ dl, nd = doc count and the
    repo's floor-log2 idf convention, multiply the BM25 term
    idf · tf(k1+1) / (tf + k1(1 − b + b·dl/(DL/nd))) through by
    k1d·bd·DL (k1 = k1n/k1d, b = bn/bd as exact rationals — the
    parameters are the relevance-tuning dials, so the property sweep
    runs the whole dial range, VERDICT r7 #5):

        w = ((k1n+k1d)·bd·DL·tf·idf · 1000)
              div (k1d·bd·DL·tf + k1n·(bd−bn)·DL + k1n·bn·dl·nd)

    — with the defaults this is the round-7 form
    (44·DL·tf·idf·1000) div (20·DL·tf + 6·DL + 18·dl·nd); all int64
    (headroom to DL·tf·idf ≈ 2×10¹²; fine through sf10, re-scale the
    1000 for larger corpora). Scale shape identical to
    the tfidf ranker: the term filter lands before tf aggregation,
    (df, DL, nd) arrive via ≤3-row broadcasts, per-doc length joins
    co-keyed on doc_id, and the top-10 is a TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    # 'dup' is the corpus's one discriminating term (df ~5%; floor-log2
    # idf 4); 'spark'/'stream' are corpus-wide (idf 0) so they exercise
    # the zero-weight path — on this fixture the ranking is decided by
    # 'dup' tf saturation against document length, which is exactly the
    # behavior BM25 adds over keyword_search_tfidf.
    terms = ("dup", "spark", "stream")
    lens = docs.select("doc_id", F.size(_tokens()).alias("dl"))
    tot = lens.agg(
        F.sum("dl").alias("dl_total"), F.count("*").alias("n_docs")
    )
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term")).where(
        F.col("term").isin(*terms)
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(tot))
        .join(lens, "doc_id")
        .withColumn("idf", F.length(F.expr("bin(n_docs div df)")) - 1)
        .withColumn(
            "w",
            F.expr(
                f"(idf * {(k1n + k1d) * bd} * dl_total * tf * 1000)"
                f" div ({k1d * bd} * dl_total * tf"
                f" + {k1n * (bd - bn)} * dl_total + {k1n * bn} * dl * n_docs)"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("w").alias("bm25_milli"),
            F.count("*").alias("n_hit_terms"),
        )
    )
    return scored.orderBy(
        F.col("bm25_milli").desc(), F.col("doc_id").asc()
    ).limit(10)


def bm25_oracle(
    k1n: int = 6, k1d: int = 5, bn: int = 3, bd: int = 4
) -> str:
    """Oracle template over the BM25 tuning rationals (k1 = k1n/k1d,
    b = bn/bd) — same integer cross-multiplication as the Spark side,
    so both engines agree for every dial setting, not just the
    registry default (VERDICT r7 #5)."""
    return f"""
WITH lens AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
), tot AS (
  SELECT CAST(sum(dl) AS BIGINT) AS dl_total,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM lens
), tok AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS term) t
  WHERE t.term IN ('dup', 'spark', 'stream')
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         (CAST(length(bin(n_docs // df)) - 1 AS BIGINT)
            * {(k1n + k1d) * bd} * dl_total * tf * 1000)
           // ({k1d * bd} * dl_total * tf
               + {k1n * (bd - bn)} * dl_total
               + {k1n * bn} * dl * n_docs) AS w
  FROM tf JOIN df USING (term) CROSS JOIN tot JOIN lens USING (doc_id)
)
SELECT doc_id, CAST(sum(w) AS BIGINT) AS bm25_milli,
       count(*) AS n_hit_terms
FROM scored
GROUP BY doc_id
ORDER BY bm25_milli DESC, doc_id
LIMIT 10
"""


BM25_KEYWORD_ORACLE = bm25_oracle()


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary Jaccard between every source pair — the domain-
    proximity map ("which sources speak the same language?") that
    complements chi2_token_source (which finds what SEPARATES them).
    |V_a ∩ V_b| comes from a postings self-join on the DISTINCT
    (token, source) table; the union is by inclusion-exclusion from
    exact per-source vocabulary counts, so no union materializes.

    Scale shape: the distinct (token, source) table is vocabulary-
    sized; the self-join fans out each token to its source-pair count
    (bounded by |sources|²) — for web-scale source counts the standard
    fix is min-hashing each source's vocabulary instead (dedup.py's
    MinHash machinery applies unchanged).
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = docs.select(
        "source", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count("*").alias("v"))
    a = vocab.select(F.col("source").alias("sa"), "token")
    b = vocab.select(F.col("source").alias("sb"), "token")
    inter = (
        a.join(b, "token")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(F.broadcast(sizes.select(F.col("source").alias("sa"), F.col("v").alias("va"))), "sa")
        .join(F.broadcast(sizes.select(F.col("source").alias("sb"), F.col("v").alias("vb"))), "sb")
        .select(
            "sa",
            "sb",
            "n_inter",
            F.round(
                F.col("n_inter") / (F.col("va") + F.col("vb") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
        .orderBy("sa", "sb")
    )


SOURCE_VOCAB_OVERLAP_ORACLE = """
WITH vocab AS (
  SELECT DISTINCT source, t.token
  FROM documents,
       LATERAL (SELECT unnest(list_distinct(string_split(text, ' '))) AS token) t
), sizes AS (
  SELECT source, count(*) AS v FROM vocab GROUP BY source
), inter AS (
  SELECT a.source AS sa, b.source AS sb, count(*) AS n_inter
  FROM vocab a JOIN vocab b ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sa, sb, n_inter,
       round(n_inter / (za.v + zb.v - n_inter), 4) AS jaccard
FROM inter JOIN sizes za ON za.source = inter.sa
           JOIN sizes zb ON zb.source = inter.sb
ORDER BY sa, sb
"""


BLOCK_TERMS = ("slow", "dup", "big")  # stand-in policy list: real
# pipelines broadcast a blocklist of thousands of terms/domains; the
# fixture vocabulary supplies three deterministic stand-ins


def blocklist_policy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-policy blocklist gate with per-source accounting — the
    C4-style "bad words" pass (Raffel et al. 2020 drop any document
    containing a listed term; FineWeb's URL-blocklist stage is the
    same shape keyed on domains).

    Two gate severities per doc, both integer-exact: ``blocked_docs``
    counts ANY blocklist hit (the C4 rule), ``heavy_docs`` counts
    blocked-token mass > 1% of the doc (cross-multiplied, no
    division) — the softer rule pipelines use when the hard rule
    over-filters.

    Scale shape: the blocklist is a plan literal here (three terms);
    at a real list's size it becomes a broadcast join or an
    ``isin``-over-broadcast-set — either way the scan-side test is a
    narrow per-row array filter, ZERO shuffle before the per-source
    rollup, which is map-side combinable and as small as the source
    cardinality.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    blocked = F.size(F.filter(toks, lambda t: t.isin(*BLOCK_TERMS)))
    per_doc = docs.select(
        "source", blocked.alias("b"), F.size(toks).alias("n")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("b") > 0).cast("int")).cast("long").alias("blocked_docs"),
            F.sum((F.col("b") * 100 > F.col("n")).cast("int"))
            .cast("long")
            .alias("heavy_docs"),
            F.sum("b").cast("long").alias("blocked_tokens"),
        )
        .orderBy("source")
    )


BLOCKLIST_GATE_ORACLE = f"""
WITH tok AS (
  SELECT source,
         len(list_filter(string_split(text, ' '),
                         t -> t IN {BLOCK_TERMS!r})) AS b,
         len(string_split(text, ' ')) AS n
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS blocked_docs,
       CAST(sum(CASE WHEN b * 100 > n THEN 1 ELSE 0 END) AS BIGINT)
         AS heavy_docs,
       CAST(sum(b) AS BIGINT) AS blocked_tokens
FROM tok
GROUP BY source
ORDER BY source
"""


# Gopher repetition thresholds (Rae et al. 2021, table A1) in exact
# basis points: a doc fails when the covered-character fraction for
# the top n-gram (n=2,3,4) or for duplicated n-grams (n=5,6) exceeds
# the published cutoffs 0.20/0.18/0.16 and 0.15/0.14.
_GOPHER_TOP_BP = {2: 2000, 3: 1800, 4: 1600}
_GOPHER_DUP_BP = {5: 1500, 6: 1400}

def _gram_run_fold(n: int) -> str:
    """Per-document n-gram repetition fold (r14 optimization): sort the
    doc's n-gram array and fold over it counting equal-gram runs,
    emitting struct(top, dup) where top = max over distinct grams of
    count*length(gram) and dup = sum over grams with count > 1 of
    count*length(gram) — exactly the per-(doc, n) aggregates the
    explode + groupBy(doc_id, n, gram) formulation produced, computed
    with ZERO shuffle because every gram of a document already lives in
    its own row. NULL when the doc has no n-grams (size(T) < n),
    mirroring the missing per_n row of the join formulation. Integer
    arithmetic end to end (counts and char lengths), so the rewrite
    cannot move a single basis point."""
    grams = (
        f"array_sort(transform(sequence(1, size(T) - {n} + 1),"
        f" i -> concat_ws(' ', slice(T, i, {n}))))"
    )
    close_run = (
        "CASE WHEN a.prev IS NULL THEN 0L"
        " ELSE a.run * CAST(length(a.prev) AS BIGINT) END"
    )
    close_dup = (
        "CASE WHEN a.prev IS NOT NULL AND a.run > 1L"
        " THEN a.run * CAST(length(a.prev) AS BIGINT) ELSE 0L END"
    )
    return f"""
CASE WHEN size(T) >= {n} THEN
  aggregate(
    {grams},
    named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'top', 0L, 'dup', 0L),
    (a, g) -> CASE WHEN a.prev IS NOT NULL AND g = a.prev
      THEN named_struct('prev', g, 'run', a.run + 1L, 'top', a.top, 'dup', a.dup)
      ELSE named_struct('prev', g, 'run', 1L,
                        'top', greatest(a.top, {close_run}),
                        'dup', a.dup + {close_dup}) END,
    a -> named_struct('top', greatest(a.top, {close_run}),
                      'dup', a.dup + {close_dup}))
ELSE CAST(NULL AS struct<top: bigint, dup: bigint>) END
"""

_GOPHER_GRAMS_SQL = """
flatten(list_transform([2, 3, 4, 5, 6], n ->
  CASE WHEN len(T) >= n THEN
    list_transform(range(1, len(T) - n + 2),
                   i -> {'n': n, 'gram': array_to_string(T[i:i+n-1], ' ')})
  ELSE [] END))
"""


def gopher_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules 2-10 (the n-gram char-fraction family;
    :func:`text_repetition_filter` covers only the unigram rule and
    training.py's ``dup_ngram_char_fraction`` only the duplicated-
    3-gram rule against a gram-mass denominator — this is the full
    five-rule panel against Gopher's n_chars denominator): per
    document, the fraction of characters covered by the single most
    repeated n-gram (n = 2, 3, 4) and by ALL duplicated n-grams
    (n = 5, 6, the standard overlap-agnostic approximation Dolma and
    RedPajama also use: Σ over grams with count > 1 of count x
    gram length). These are THE pretraining quality gates between
    exact dedup and model-based scoring.

    Exactness: fractions are exact int64 BASIS POINTS —
    (cover x 10000) div n_chars — so no float rounding can disagree
    between engines (the q2/round-half lesson from the r7 sf0.1
    sweep); "top" coverage is max(count x length), a scalar max, so
    no top-gram tie-break protocol is needed. The pass flag applies
    Gopher's published cutoffs (0.20/0.18/0.16 top, 0.15/0.14 dup).

    Scale shape (r14 optimization, guide §2.4 "remove shuffles
    outright"): every signal in the panel is a WITHIN-document
    statistic, so no shuffle is fundamentally required — each doc's
    grams already live in its own row. The previous formulation
    exploded 5x token count into a (doc_id, n, gram) string shuffle
    plus two rollup shuffles and a join-back; this one computes the
    per-(doc, n) top/dup covers with a sorted-run fold over the gram
    array (``_gram_run_fold``: O(k log k) per doc, integer-exact) in a
    single projection — the ONLY exchange left is the output
    orderBy(doc_id). Zero-gram docs (< 2 tokens) get NULL folds which
    coalesce to zero coverage, the same result the left-join-back
    produced.
    """
    # Scan-parallelism floor (guide §2.5): the per-doc gram folds are
    # the whole query and were serializing on the single-split scan.
    docs = load_table_parallel(spark, sf_dir, "documents")
    folded = docs.withColumn("T", _tokens()).select(
        "doc_id",
        "n_chars",
        *[F.expr(_gram_run_fold(n)).alias(f"f{n}") for n in (2, 3, 4, 5, 6)],
    )
    joined = folded.select(
        "doc_id",
        *[
            F.coalesce(
                F.expr(f"f{n}.top * 10000 div n_chars"), F.lit(0).cast("long")
            ).alias(f"top{n}gram_bp")
            for n in (2, 3, 4)
        ],
        *[
            F.coalesce(
                F.expr(f"f{n}.dup * 10000 div n_chars"), F.lit(0).cast("long")
            ).alias(f"dup{n}gram_bp")
            for n in (5, 6)
        ],
    )
    pass_expr = (
        (F.col("top2gram_bp") < _GOPHER_TOP_BP[2])
        & (F.col("top3gram_bp") < _GOPHER_TOP_BP[3])
        & (F.col("top4gram_bp") < _GOPHER_TOP_BP[4])
        & (F.col("dup5gram_bp") < _GOPHER_DUP_BP[5])
        & (F.col("dup6gram_bp") < _GOPHER_DUP_BP[6])
    )
    return joined.withColumn("gopher_pass", pass_expr.cast("int")).orderBy("doc_id")


GOPHER_REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, n_chars, string_split(text, ' ') AS T FROM documents
), gl AS (
  SELECT doc_id, n_chars, {_GOPHER_GRAMS_SQL} AS grams FROM t
), g AS (
  SELECT doc_id, n_chars, s.n AS n, s.gram AS gram
  FROM (SELECT doc_id, n_chars, unnest(grams) AS s FROM gl)
), counts AS (
  SELECT doc_id, n_chars, n, gram, count(*) AS c
  FROM g GROUP BY 1, 2, 3, 4
), per_n AS (
  SELECT doc_id, n_chars, n,
         max(c * length(gram)) AS top_cover,
         sum(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS dup_cover
  FROM counts GROUP BY 1, 2, 3
), sig AS (
  SELECT doc_id, n_chars,
         max(CASE WHEN n = 2 THEN top_cover END) AS top2_cover,
         max(CASE WHEN n = 3 THEN top_cover END) AS top3_cover,
         max(CASE WHEN n = 4 THEN top_cover END) AS top4_cover,
         max(CASE WHEN n = 5 THEN dup_cover END) AS dup5_cover,
         max(CASE WHEN n = 6 THEN dup_cover END) AS dup6_cover
  FROM per_n GROUP BY 1, 2
), bp AS (
  SELECT d.doc_id,
         CAST(coalesce(top2_cover * 10000 // d.n_chars, 0) AS BIGINT) AS top2gram_bp,
         CAST(coalesce(top3_cover * 10000 // d.n_chars, 0) AS BIGINT) AS top3gram_bp,
         CAST(coalesce(top4_cover * 10000 // d.n_chars, 0) AS BIGINT) AS top4gram_bp,
         CAST(coalesce(dup5_cover * 10000 // d.n_chars, 0) AS BIGINT) AS dup5gram_bp,
         CAST(coalesce(dup6_cover * 10000 // d.n_chars, 0) AS BIGINT) AS dup6gram_bp
  FROM documents d LEFT JOIN sig ON d.doc_id = sig.doc_id
)
SELECT doc_id, top2gram_bp, top3gram_bp, top4gram_bp, dup5gram_bp, dup6gram_bp,
       CAST(CASE WHEN top2gram_bp < {_GOPHER_TOP_BP[2]}
                  AND top3gram_bp < {_GOPHER_TOP_BP[3]}
                  AND top4gram_bp < {_GOPHER_TOP_BP[4]}
                  AND dup5gram_bp < {_GOPHER_DUP_BP[5]}
                  AND dup6gram_bp < {_GOPHER_DUP_BP[6]}
            THEN 1 ELSE 0 END AS INT) AS gopher_pass
FROM bp
ORDER BY doc_id
"""


# Gopher quality-filter panel (Rae et al. 2021, Table A1 — the
# non-repetition half; gopher_repetition_signals covers rules 2-10).
# Published cutoffs, exact-integer form: word count in [50, 100000],
# mean word length in [3, 10] chars (basis points 30000..100000),
# symbol-to-word ratio (# or ...) <= 0.1, >= 80% of words with an
# alphabetic char, >= 2 distinct stopwords present (Gopher's 8-word
# list). Line-level rules (bullet/ellipsis line starts) are omitted:
# the fixture corpus is single-line word soup, so they would be
# vacuously true — noted rather than faked.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_LEN_LO_BP = 30_000
GOPHER_MEAN_LEN_HI_BP = 100_000
GOPHER_ALPHA_MIN_BP = 8_000
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2


def gopher_quality_signals(
    spark: SparkSession,
    sf_dir: str,
    min_words: int = GOPHER_MIN_WORDS,
    min_stopwords: int = GOPHER_MIN_STOPWORDS,
) -> DataFrame:
    """Gopher quality-filter panel — the document-statistics rules
    every production pretraining pipeline applies before any
    model-based scoring (Rae et al. 2021; Dolma and RedPajama reuse
    the same panel). Complements :func:`gopher_repetition_signals`
    (rules 2-10) so the full published Gopher gate is available as
    one pass-flag join.

    Exactness: every signal is exact int64 — mean word length and
    alpha-word fraction in basis points via (x * 10000) div n, the
    symbol-ratio rule cross-multiplied (symbol_hits * 10 <= n_words),
    stopword presence as a count of DISTINCT list hits — so no float
    rounding can disagree between engines.

    Fixture artifact (the lang_id_heuristic precedent): the synthetic
    vocab contains only "the" from Gopher's 8-word stop list, so at
    the published min_stopwords=2 every fixture doc fails that one
    rule — the dial is therefore sweepable (with min_words) and the
    engines must agree at every setting, including the degenerate
    ones; on a real corpus the published defaults apply unchanged.

    Scale shape: ZERO shuffle — one scan, all signals are per-row
    array arithmetic over the token split; the output is a projection.
    At 100 TB this is the cheapest possible gate (embarrassingly
    parallel, whole-stage codegen), which is exactly why these rules
    run FIRST in real pipelines, ahead of anything that shuffles.
    Cites the reference's benchmark framing only (NB-main has no
    quality machinery); rules are from the public Gopher paper.

    r14: scan-parallelism floor added (guide §2.5) — the per-row rlike
    filters and length folds were serializing on the single-split
    scan; measured 1.6x at sf0.1 (results/scan_floor_ab.json).
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = _tokens()
    n_words = F.size(toks).cast("long")
    mean_len_bp = F.expr(
        "aggregate(split(text, ' '), 0L, (a, t) -> a + length(t))"
        " * 10000 div size(split(text, ' '))"
    )
    alpha_bp = F.expr(
        "size(filter(split(text, ' '), t -> t rlike '[A-Za-z]'))"
        " * 10000 div size(split(text, ' '))"
    )
    hash_hits = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    ellipsis_hits = F.expr(
        "(length(text) - length(replace(text, '...', ''))) div 3"
    )
    symbol_hits = (hash_hits + ellipsis_hits).cast("long")
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    ).cast("long")
    out = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len_bp.cast("long").alias("mean_word_len_bp"),
        alpha_bp.cast("long").alias("alpha_word_bp"),
        symbol_hits.alias("symbol_hits"),
        stop_hits.alias("stop_hits"),
    )
    passes = out.select(
        "*",
        ((F.col("n_words") >= int(min_words)) & (F.col("n_words") <= GOPHER_MAX_WORDS))
        .cast("int")
        .alias("pass_word_count"),
        (
            (F.col("mean_word_len_bp") >= GOPHER_MEAN_LEN_LO_BP)
            & (F.col("mean_word_len_bp") <= GOPHER_MEAN_LEN_HI_BP)
        )
        .cast("int")
        .alias("pass_mean_len"),
        (F.col("symbol_hits") * 10 <= F.col("n_words")).cast("int").alias("pass_symbol"),
        (F.col("alpha_word_bp") >= GOPHER_ALPHA_MIN_BP).cast("int").alias("pass_alpha"),
        (F.col("stop_hits") >= int(min_stopwords)).cast("int").alias("pass_stopwords"),
    )
    return passes.withColumn(
        "pass_all",
        (
            F.col("pass_word_count")
            * F.col("pass_mean_len")
            * F.col("pass_symbol")
            * F.col("pass_alpha")
            * F.col("pass_stopwords")
        ).cast("int"),
    ).orderBy("doc_id")


def gopher_quality_oracle(
    min_words: int = GOPHER_MIN_WORDS,
    min_stopwords: int = GOPHER_MIN_STOPWORDS,
) -> str:
    """Oracle template over the word-count and stopword dials."""
    return f"""
WITH sig AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t)))
              * 10000 // len(string_split(text, ' ')) AS BIGINT) AS mean_word_len_bp,
         CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '[A-Za-z]')))
              * 10000 // len(string_split(text, ' ')) AS BIGINT) AS alpha_word_bp,
         CAST((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS symbol_hits,
         CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                 {list(GOPHER_STOPWORDS)})) AS BIGINT) AS stop_hits
  FROM documents
)
SELECT doc_id, n_words, mean_word_len_bp, alpha_word_bp, symbol_hits, stop_hits,
       CAST(CASE WHEN n_words >= {int(min_words)} AND n_words <= {GOPHER_MAX_WORDS}
                 THEN 1 ELSE 0 END AS INT) AS pass_word_count,
       CAST(CASE WHEN mean_word_len_bp >= {GOPHER_MEAN_LEN_LO_BP}
                  AND mean_word_len_bp <= {GOPHER_MEAN_LEN_HI_BP}
                 THEN 1 ELSE 0 END AS INT) AS pass_mean_len,
       CAST(CASE WHEN symbol_hits * 10 <= n_words THEN 1 ELSE 0 END AS INT) AS pass_symbol,
       CAST(CASE WHEN alpha_word_bp >= {GOPHER_ALPHA_MIN_BP} THEN 1 ELSE 0 END AS INT) AS pass_alpha,
       CAST(CASE WHEN stop_hits >= {int(min_stopwords)} THEN 1 ELSE 0 END AS INT) AS pass_stopwords,
       CAST(CASE WHEN n_words >= {int(min_words)} AND n_words <= {GOPHER_MAX_WORDS}
                  AND mean_word_len_bp >= {GOPHER_MEAN_LEN_LO_BP}
                  AND mean_word_len_bp <= {GOPHER_MEAN_LEN_HI_BP}
                  AND symbol_hits * 10 <= n_words
                  AND alpha_word_bp >= {GOPHER_ALPHA_MIN_BP}
                  AND stop_hits >= {int(min_stopwords)}
                 THEN 1 ELSE 0 END AS INT) AS pass_all
FROM sig
ORDER BY doc_id
"""


GOPHER_QUALITY_ORACLE = gopher_quality_oracle()


PROX_TERM_A = "spark"
PROX_TERM_B = "stream"
PROX_DIST = 3


def phrase_proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional proximity retrieval — rank documents where the two
    query terms co-occur within PROX_DIST tokens (the NEAR/k operator
    of every search engine; what a positional inverted index exists
    for). Output: top 10 docs by proximity-pair count, then closest
    distance, then doc_id (unique key — the LIMIT boundary can never
    be an engine-dependent tie).

    Scale shape (r15 rewrite, guide §2.4 "remove shuffles outright"):
    proximity is WITHIN-document, so the pair count and min distance
    come straight off the two terms' position arrays in ONE narrow
    projection fused with the scan, followed by a distributed
    TakeOrdered for the top 10 — zero data-sized shuffles. The
    previous formulation posexploded the full token stream TWICE and
    shuffled (doc_id, bucket) postings into a banded self-join —
    machinery a positional index needs when postings live on
    different rows, pure overhead when both lists are already in the
    same row. Per-row cost is f_A x f_B comparisons (the query terms'
    in-doc frequencies), and the min-distance term allocates an
    f_A x f_B array. The banded join compared only positions in
    neighbouring buckets, so this is more work than it did on a
    document where both terms are frequent; at the fixture's term
    frequencies the interleaved A/B still read 1.44x with the oracle
    unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    pa = (
        f"filter(transform(T, (t, i) -> IF(t = '{PROX_TERM_A}', i, -1)),"
        " p -> p >= 0)"
    )
    pb = (
        f"filter(transform(T, (t, i) -> IF(t = '{PROX_TERM_B}', i, -1)),"
        " p -> p >= 0)"
    )
    n_pairs = (
        f"aggregate(PA, 0L, (acc, x) -> acc + "
        f"size(filter(PB, y -> abs(x - y) <= {PROX_DIST})))"
    )
    min_dist = (
        "array_min(flatten(transform(PA, x -> transform(PB, y -> abs(x - y)))))"
    )
    return (
        docs.withColumn("T", _tokens())
        .withColumn("PA", F.expr(pa))
        .withColumn("PB", F.expr(pb))
        .select(
            "doc_id",
            F.expr(n_pairs).alias("n_prox_pairs"),
            F.expr(min_dist).cast("long").alias("min_dist"),
        )
        .filter(F.col("n_prox_pairs") >= 1)
        .orderBy(F.desc("n_prox_pairs"), F.asc("min_dist"), F.asc("doc_id"))
        .limit(10)
    )


PHRASE_PROXIMITY_ORACLE = f"""
WITH pos AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), a AS (
  SELECT doc_id, pos AS pa FROM pos WHERE tok = '{PROX_TERM_A}'
), b AS (
  SELECT doc_id, pos AS pb FROM pos WHERE tok = '{PROX_TERM_B}'
), pairs AS (
  SELECT a.doc_id, abs(pa - pb) AS dist
  FROM a JOIN b USING (doc_id)
  WHERE abs(pa - pb) <= {PROX_DIST}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_prox_pairs,
       CAST(min(dist) AS BIGINT) AS min_dist
FROM pairs GROUP BY doc_id
ORDER BY n_prox_pairs DESC, min_dist ASC, doc_id ASC
LIMIT 10
"""


QUERIES: dict = {
    "gopher_repetition_signals": (
        gopher_repetition_signals,
        GOPHER_REPETITION_ORACLE,
    ),
    "gopher_quality_signals": (gopher_quality_signals, GOPHER_QUALITY_ORACLE),
    "ccnet_perplexity_buckets": (ccnet_perplexity_buckets, CCNET_BUCKETS_ORACLE),
    "phrase_proximity_topk": (phrase_proximity_topk, PHRASE_PROXIMITY_ORACLE),
    "keyword_search_tfidf": (keyword_search_tfidf, KEYWORD_SEARCH_ORACLE),
    "blocklist_policy_gate": (blocklist_policy_gate, BLOCKLIST_GATE_ORACLE),
    "bm25_keyword_topk": (bm25_keyword_topk, BM25_KEYWORD_ORACLE),
    "source_vocab_overlap": (source_vocab_overlap, SOURCE_VOCAB_OVERLAP_ORACLE),
    "collocation_pmi_top": (collocation_pmi_top, COLLOCATION_PMI_ORACLE),
    "sparse_tfidf_doc_pairs": (sparse_tfidf_doc_pairs, SPARSE_TFIDF_ORACLE),
    "feature_hash_bag": (feature_hash_bag, FEATURE_HASH_ORACLE),
    "bigram_lm_score": (bigram_lm_score, BIGRAM_LM_ORACLE),
    "inverted_index_sample": (inverted_index_sample, INVERTED_INDEX_ORACLE),
    "text_stats": (text_stats, TEXT_STATS_ORACLE),
    "boilerplate_phrase_ratio": (boilerplate_phrase_ratio, BOILERPLATE_ORACLE),
    "weighted_reservoir_sample": (weighted_reservoir_sample, RESERVOIR_ORACLE),
    "heavy_hitters_twophase": (heavy_hitters_twophase, HEAVY_HITTERS_ORACLE),
    "token_entropy_quality": (token_entropy_quality, TOKEN_ENTROPY_ORACLE),
    "quality_percentile_rank": (quality_percentile_rank, QUALITY_PERCENTILE_ORACLE),
    "quota_sample_per_source": (quota_sample_per_source, QUOTA_SAMPLE_ORACLE),
    "curation_pipeline": (curation_pipeline, CURATION_PIPELINE_ORACLE),
    "udtf_token_explode": (udtf_token_explode, UDTF_TOKEN_ORACLE),
    "pii_redaction": (pii_redaction, PII_REDACTION_ORACLE),
    "text_repetition_filter": (text_repetition_filter, TEXT_REPETITION_ORACLE),
    "lang_confusion_matrix": (lang_confusion_matrix, LANG_CONFUSION_ORACLE),
    "pandas_udf_doc_score": (pandas_udf_doc_score, PANDAS_UDF_SCORE_ORACLE),
    "tfidf_top_terms": (tfidf_top_terms, TFIDF_ORACLE),
    "text_clean_normalize": (text_clean_normalize, TEXT_CLEAN_ORACLE),
    "text_quality_score": (text_quality_score, TEXT_QUALITY_ORACLE),
    "lang_id_heuristic": (lang_id_heuristic, LANG_ID_ORACLE),
    "token_count_regex": (token_count_regex, TOKEN_COUNT_ORACLE),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_ORACLE),
    "split_train_holdout": (split_train_holdout, SPLIT_TRAIN_HOLDOUT_ORACLE),
    "sequence_pack_by_source": (sequence_pack_by_source, SEQUENCE_PACK_ORACLE),
    "contamination_ngram_overlap": (contamination_ngram_overlap, CONTAMINATION_ORACLE),
    "bpe_pair_counts": (bpe_pair_counts, BPE_PAIR_ORACLE),
    "bpe_train_merges": (bpe_train_merges, BPE_TRAIN_MERGES_ORACLE),
    "bpe_train_merges_batched": (bpe_train_merges_batched, BPE_BATCHED_ORACLE),
    "bpe_train_merges_delta": (bpe_train_merges_delta, BPE_TRAIN_MERGES_ORACLE),
    "bpe_train_merges_adaptive": (bpe_train_merges_adaptive, BPE_TRAIN_MERGES_ORACLE),
    "bpe_encode_corpus": (bpe_encode_corpus, BPE_ENCODE_ORACLE),
    "data_mixture_resample": (data_mixture_resample, DATA_MIXTURE_ORACLE),
    "token_rarity_score": (token_rarity_score, TOKEN_RARITY_ORACLE),
    "chunk_documents": (chunk_documents, CHUNK_DOCUMENTS_ORACLE),
    "mixture_temperature_resample": (
        mixture_temperature_resample,
        MIXTURE_TEMPERATURE_ORACLE,
    ),
}
