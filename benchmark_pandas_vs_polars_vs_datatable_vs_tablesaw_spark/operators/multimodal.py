"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed with Arrow-batched ``mapInPandas``.

North-star extension: at 100 TB, images/audio/video live as binary
columns (or object-store pointers) beside typed metadata, and decode /
feature-extract / resize / frame-sample run as vectorized Python over
Arrow batches — the one place Python legitimately enters the hot path,
because codec libraries are Python/C. The Spark-side contract that
matters (and is real + tested here) is:

- schema: ``payload binary`` + explicit metadata struct columns;
- batch shape: ``mapInPandas`` receives/yields ``pd.DataFrame`` chunks
  bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` —
  decode memory is bounded per task regardless of table size;
- partitioning: pure map — no shuffle; co-partition with any
  downstream join key beforehand.

The codec itself is STUBBED (no image/audio libs in this container):
``_fake_decode`` derives deterministic dimensions from the payload
*length*, which makes even the stub oracle-checkable in SQL (payload =
utf-8 text, so length(payload) == the fixture's single-byte text
length). A real deployment swaps ``_fake_decode`` for PIL/ffmpeg and
nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import shipping
from ..catalog import load_table

DECODE_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, width int, height int, n_frames int"
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the multimodal fixture: text payload as binary plus a
    media_type derived from the source id (deterministic)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "encode(text, 'utf-8') AS payload",
        "CASE WHEN source IN ('src0', 'src1', 'src2', 'src3', 'src4', 'src5') THEN 'image'"
        " WHEN source IN ('src6', 'src7', 'src8', 'src9') THEN 'audio'"
        " ELSE 'video' END AS media_type",
    )


def _fake_decode(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in for a codec: dimensions from payload
    length. Replace with PIL/librosa/ffmpeg in production —
    NotImplementedError paths are marked."""
    n = batch["payload"].map(len).astype("int32")
    out = pd.DataFrame(
        {
            "doc_id": batch["doc_id"],
            "media_type": batch["media_type"],
            "n_bytes": n,
            "width": (16 + (n % 320)).astype("int32"),
            "height": (16 + (n % 240)).astype("int32"),
            "n_frames": ((n % 32) + 1).astype("int32"),
        }
    )
    out.loc[out["media_type"] != "video", "n_frames"] = 1
    return out


def decode_media(media: DataFrame) -> DataFrame:
    """Decode stage: mapInPandas over Arrow batches. Narrow — fuses
    with the scan; each task decodes only its own partition's rows."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shipping.prepare_worker()
        for batch in batches:
            yield _fake_decode(batch)

    return media.mapInPandas(fn, schema=DECODE_SCHEMA)


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queries surface: decode metadata for every media row."""
    return decode_media(media_table(spark, sf_dir))


MULTIMODAL_DECODE_ORACLE = """
SELECT doc_id,
       CASE WHEN source IN ('src0','src1','src2','src3','src4','src5') THEN 'image'
            WHEN source IN ('src6','src7','src8','src9') THEN 'audio'
            ELSE 'video' END AS media_type,
       CAST(length(text) AS INT) AS n_bytes,
       CAST(16 + (length(text) % 320) AS INT) AS width,
       CAST(16 + (length(text) % 240) AS INT) AS height,
       CASE WHEN source IN ('src0','src1','src2','src3','src4','src5','src6','src7','src8','src9')
            THEN 1 ELSE CAST((length(text) % 32) + 1 AS INT) END AS n_frames
FROM documents
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage (stubbed codec, real plumbing): target box 64x64,
    aspect-preserving integer downscale factor.

    r15 (guide §4.1): decode + resize run in ONE ``mapInPandas`` —
    the r14 shape chained two, paying the JVM->Python->JVM transpose
    and Arrow (de)serialization twice per row for a pipeline whose
    intermediate (the decode frame) no one else consumes. A real
    decoder+resampler composes inside the same batch loop the same
    way; output rows/values are unchanged (oracle-checked)."""
    media = media_table(spark, sf_dir)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shipping.prepare_worker()
        for batch in batches:
            b = _fake_decode(batch)
            factor = (
                pd.concat([b["width"] // 64, b["height"] // 64], axis=1).max(axis=1).clip(lower=1)
            )
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "out_w": (b["width"] // factor).astype("int32"),
                    "out_h": (b["height"] // factor).astype("int32"),
                }
            )

    return media.mapInPandas(fn, schema="doc_id long, out_w int, out_h int")


MULTIMODAL_RESIZE_ORACLE = """
WITH decoded AS (
  SELECT doc_id,
         CAST(16 + (length(text) % 320) AS INT) AS width,
         CAST(16 + (length(text) % 240) AS INT) AS height
  FROM documents
),
f AS (
  SELECT doc_id, width, height,
         greatest(greatest(width // 64, height // 64), 1) AS factor
  FROM decoded
)
SELECT doc_id,
       CAST(width // factor AS INT) AS out_w,
       CAST(height // factor AS INT) AS out_h
FROM f
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for video rows: every 4th frame, exploded to one
    row per sampled frame — the fan-out stage before per-frame feature
    extraction. Column algebra (sequence + explode), no Python.

    r15 (guide §4.1 column pruning at the opaque boundary): the video
    filter moves BELOW the decode — ``media_type`` is computed
    JVM-side in ``media_table``, so Spark cannot push the predicate
    through the opaque ``mapInPandas`` itself, and the r14 shape
    shipped every image/audio payload through the Python decoder only
    to drop it afterwards. Only video rows (1/6 of the fixture mix)
    now cross the Arrow boundary; rows/values unchanged."""
    decoded = decode_media(
        media_table(spark, sf_dir).filter(F.col("media_type") == "video")
    )
    return (
        decoded.select(
            "doc_id",
            "n_frames",
            F.explode(F.expr("sequence(0, n_frames - 1, 4)")).alias("frame_idx"),
        )
    )


MULTIMODAL_FRAME_ORACLE = """
WITH video AS (
  SELECT doc_id, CAST((length(text) % 32) + 1 AS INT) AS n_frames
  FROM documents
  WHERE source NOT IN ('src0','src1','src2','src3','src4','src5','src6','src7','src8','src9')
)
SELECT doc_id, n_frames, CAST(unnest(range(0, n_frames, 4)) AS INT) AS frame_idx
FROM video
"""


def extract_features(media: DataFrame) -> DataFrame:
    """Feature-extraction stage: each media row -> a dense 8-dim float
    feature vector, computed vectorized in numpy over Arrow batches
    (the CLIP/wav2vec stand-in; swap the arithmetic for a real model's
    forward pass — batch shape, schema, and partitioning are what a
    real extractor needs and what this pins).

    Features are a deterministic function of payload bytes
    (feature[j] = ((n_bytes * 31 + j * 7) % 97) / 97) so the DuckDB
    oracle can recompute them exactly; the l2 norm rides along as the
    whole-vector checksum."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shipping.prepare_worker()
        for batch in batches:
            n = batch["payload"].map(len).to_numpy(dtype=np.int64)
            j = np.arange(8, dtype=np.int64)
            feats = ((n[:, None] * 31 + j[None, :] * 7) % 97) / 97.0
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": batch["media_type"],
                    # one vectorized round + tolist over the whole
                    # batch (r15) — the per-row comprehension looped
                    # np.round once per row in Python
                    "feature": np.round(feats, 6).tolist(),
                    "l2": np.round(np.sqrt((feats * feats).sum(axis=1)), 4),
                }
            )

    return media.mapInPandas(
        fn, schema="doc_id long, media_type string, feature array<double>, l2 double"
    )


def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queries surface for :func:`extract_features`.

    The vector pipeline keeps ``feature`` as ``array<double>`` (what a
    downstream ANN index ingests), but the *comparison surface* is
    exploded to one scalar row per dimension — array cells are
    unhashable in pandas-based canonicalizers (driver r2 ``err``), and
    (doc_id, dim_idx, value) rows diff cleanly in plain SQL."""
    feats = extract_features(media_table(spark, sf_dir))
    return feats.select(
        "doc_id",
        "media_type",
        F.posexplode("feature").alias("dim_idx", "value"),
        "l2",
    ).select("doc_id", "media_type", "dim_idx", "value", "l2")


MULTIMODAL_FEATURE_ORACLE = """
SELECT doc_id,
       CASE WHEN source IN ('src0','src1','src2','src3','src4','src5') THEN 'image'
            WHEN source IN ('src6','src7','src8','src9') THEN 'audio'
            ELSE 'video' END AS media_type,
       CAST(j AS INT) AS dim_idx,
       round(((length(text) * 31 + j * 7) % 97) / 97.0, 6) AS value,
       round(sqrt(list_sum(list_transform(range(0, 8),
                  k -> pow(((length(text) * 31 + k * 7) % 97) / 97.0, 2)))), 4)
           AS l2
FROM documents CROSS JOIN range(0, 8) AS t(j)
"""


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash dedup over media payloads — the multimodal twin
    of digest dedup: an average-hash fingerprint (sample 16 "pixels",
    threshold each against the mean, pack bits) groups payloads that
    are perceptually identical even when their bytes differ, which is
    exactly what exact digests miss. The injected near-dups (final
    word dropped) keep their leading 64 bytes, so their fingerprints
    collide while their md5s do not — the query must find them.

    Locality by construction: the 16 samples cover the first 64 bytes
    (the "top-left crop"), and the mean threshold is integer-exact
    (16*pixel > sum — no float division), so Spark and DuckDB compute
    bit-identical fingerprints. One shuffle on the 8-byte fingerprint,
    text pruned from the exchange — same scale shape as
    dedup_exact_hash. Production swaps the byte sampler for a DCT
    pHash over mapInPandas-decoded pixels; the fingerprint-then-group
    plumbing is unchanged.
    """
    from .dedup import _corpus_with_near_dups

    corpus = _corpus_with_near_dups(spark, sf_dir)
    pix = F.expr(
        "transform(sequence(0, 15), i -> ascii(substring(rpad(text, 64, ' '), i * 4 + 1, 1)))"
    )
    fp = F.expr(
        """aggregate(sequence(0, 15), 0L,
             (acc, i) -> acc + IF(16 * element_at(pix, i + 1) > tot,
                                  shiftleft(1L, i), 0L))"""
    )
    fingerprinted = (
        corpus.select("doc_id", pix.alias("pix"))
        .withColumn("tot", F.expr("aggregate(pix, 0, (a, x) -> a + x)"))
        .select("doc_id", fp.alias("phash"))
    )
    return (
        fingerprinted.groupBy("phash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") >= 2)
    )


_PHASH_SQL = """
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 16), i ->
           CASE WHEN 16 * ascii(substr(rpad(text, 64, ' '), i * 4 + 1, 1)) >
                     list_sum(list_transform(range(0, 16),
                       k -> ascii(substr(rpad(text, 64, ' '), k * 4 + 1, 1))))
                THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS phash
"""

from .dedup import _CORPUS_SQL as _NEAR_CORPUS_SQL

MULTIMODAL_PHASH_ORACLE = f"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
fp AS ({_PHASH_SQL} FROM corpus)
SELECT phash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM fp GROUP BY phash HAVING count(*) >= 2
"""


QUERIES: dict = {
    "multimodal_decode": (multimodal_decode, MULTIMODAL_DECODE_ORACLE),
    "multimodal_phash_dedup": (multimodal_phash_dedup, MULTIMODAL_PHASH_ORACLE),
    "multimodal_feature_extract": (multimodal_feature_extract, MULTIMODAL_FEATURE_ORACLE),
    "multimodal_resize": (multimodal_resize, MULTIMODAL_RESIZE_ORACLE),
    "multimodal_frame_sample": (multimodal_frame_sample, MULTIMODAL_FRAME_ORACLE),
}
