"""Structured Streaming formulations over the ``events`` table.

The reference is batch-only (SURVEY.md §2.10); this is the north-star
streaming extension. Each query here reads the events parquet as a
*file-source stream* (the same code runs against Kafka by swapping the
reader), aggregates with event-time windows, and drains synchronously
into a memory sink via ``processAllAvailable`` so the result is a
normal DataFrame — which is exactly what lets the batch SQL in
operators/timeseries.py act as the correctness oracle.

Modes:
- tumbling/sliding aggregates run in **complete** mode, so every
  window is emitted and the result equals the batch computation
  row-for-row;
- the session-window query uses a watermark + append (the production
  shape for unbounded state); over a pinned single-file source the
  drain is deterministic (one micro-batch + flush), so since round 5
  it carries a full oracle — "closed sessions only" is expressible as
  a watermark predicate over the batch sessionization.

At scale: state lives in the state store keyed by (window, type);
watermarks bound it. The fixture drive-through is single-batch, but
the plan is the real incremental one (StateStoreSave in explain()),
and the incremental path itself is certified multi-batch: the session
window and the interval join replay 10M/3M-row fixtures as 10-20 real
micro-batches with exact batch-equality checks and measured state
eviction (scripts/streaming_scale_probe.py,
scripts/streaming_join_scale_probe.py; reduced-scale pytest twins in
tests/test_semantics.py).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import normalize_events_ts, read_raw
from ..operators.timeseries import EVENTS_SESSION_ORACLE

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw_schema = read_raw(spark, sf_dir, "events").schema
    # file source wants a directory; the glob filter selects the events
    # file from the shared fixture dir
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(stream)


def _drain(streaming_df: DataFrame, spark: SparkSession, mode: str) -> DataFrame:
    """Run the streaming query to completion on the fixture files and
    return the materialized sink as a batch DataFrame.

    The sink's temp view is dropped as soon as ``spark.table`` has
    resolved it: the returned DataFrame holds the sink's rows in its
    plan, and a long-lived session keeps no view per call."""
    name = "sink_" + uuid.uuid4().hex[:12]
    q = (
        streaming_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def streaming_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window per type (complete mode —
    result equals the batch events_hourly_agg)."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("value_sum"))
        .select(
            F.date_format(F.col("window.start"), TS_FMT).alias("hour_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
    return _drain(agg, spark, "complete")


STREAMING_HOURLY_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS value_sum
FROM events
GROUP BY 1, 2
"""


def streaming_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h event-time window (complete mode)."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("value_sum"))
        .select(
            F.date_format(F.col("window.start"), TS_FMT).alias("win_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
    return _drain(agg, spark, "complete")


STREAMING_SLIDING_ORACLE = """
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS value_sum
FROM (
  SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                 date_trunc('hour', ts)]) AS win_start,
         event_type, value
  FROM events
)
GROUP BY 1, 2
"""


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user with a 1-hour watermark —
    the production stateful shape: state bounded by the watermark,
    append-mode emission of closed sessions only.

    Fully oracled since round 5: over a pinned file list the drain is
    deterministic — the single events.parquet file arrives in one
    micro-batch (no maxFilesPerTrigger), the watermark then advances
    to max(ts) - 1h, and processAllAvailable runs the flush batch that
    emits every closed session. The emitted set is therefore exactly
    "sessions whose end (last event + 30 min) precedes the final
    watermark", which STREAMING_SESSION_ORACLE reproduces. Boundary
    conventions (diff == gap, end == watermark) were verified
    indistinguishable on the fixtures — all four operator combinations
    hash-match at sf0.001 and sf0.01.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("session_window.start"), TS_FMT).alias("session_start"),
            "user_id",
            "n_events",
        )
    )
    return _drain(agg, spark, "append")


STREAMING_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_events
  FROM numbered GROUP BY user_id, session_id
)
SELECT strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       user_id, CAST(n_events AS BIGINT) AS n_events
FROM per_session
WHERE session_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
"""


def streaming_session_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable certificate for :func:`streaming_session_window`
    (same pattern as the dedup/ANN recall certificates). Since round 5
    the base query carries its own exact oracle (the single-file drain
    is deterministic), but this certificate stays registered because
    it checks the complementary, schedule-independent invariant: every
    user's streamed session count must be <= the batch sessionization's
    count (same 30-minute gap rule), and the stream must emit at least
    one session — containment holds under ANY micro-batch split, so
    this is the check that would survive a multi-file or maxFilesPer-
    Trigger deployment where the exact oracle wouldn't. The oracle
    recomputes the batch side's user count exactly and asserts the
    invariant flag.
    """
    from ..operators.timeseries import events_sessionization

    stream = (
        streaming_session_window(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_stream"))
    )
    batch = events_sessionization(spark, sf_dir).select("user_id", "n_sessions")
    joined = batch.join(stream, "user_id", "left")
    violations = F.sum(
        (F.coalesce(F.col("n_stream"), F.lit(0)) > F.col("n_sessions")).cast("int")
    )
    total_stream = F.sum(F.coalesce(F.col("n_stream"), F.lit(0)))
    return joined.agg(
        F.count(F.lit(1)).alias("n_users"),
        ((violations == 0) & (total_stream > 0)).alias("subset_ok"),
    )


STREAMING_SESSION_CERTIFICATE_ORACLE = f"""
SELECT count(*) AS n_users, TRUE AS subset_ok
FROM ({EVENTS_SESSION_ORACLE}) t
"""


def _stateful_count(key, pdfs, state):
    """Per-user running (count, value-sum) kept in the state store.

    Arrow hands each micro-batch's rows for one key as pandas frames;
    the state tuple survives across batches (and executors — it lives
    in the checkpointed state store, not in Python memory)."""
    import pandas as pd

    (user_id,) = key
    n, vsum = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        vsum += float(pdf["value"].sum())
    state.update((n, vsum))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "value_sum": [round(vsum, 4)]}
    )


def streaming_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY.md §2.10 / north-star custom-operator path): arbitrary
    per-key Python state beyond what built-in windows express.

    The fixture drive-through is one micro-batch, so the final update
    per user equals the batch group-aggregate — which is the oracle.
    At scale the state store shards by key across executors and
    checkpoints to the fault-tolerance log; a watermark + TTL timeout
    (ProcessingTimeTimeout) would bound state for unbounded key spaces.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _events_stream(spark, sf_dir)
    out = ev.groupBy("user_id").applyInPandasWithState(
        _stateful_count,
        outputStructType="user_id bigint, n_events bigint, value_sum double",
        stateStructType="n bigint, vsum double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain(out, spark, "update")


STREAMING_STATEFUL_ORACLE = """
SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS value_sum
FROM events
GROUP BY user_id
"""


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates`` on the event key over
    a watermarked stream — the ingest-side dedup stage of a streaming
    training-data pipeline.

    Duplicates are injected by unioning the stream with a copy of its
    own event_id < 100 slice (same trick as the batch dedup corpus);
    the operator must emit each event_id exactly once.

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+), NOT plain
    ``dropDuplicates``: with a non-event-time dedup key, plain
    dropDuplicates keeps every key in the state store FOREVER even
    under a watermark — round 5's multi-batch probe
    (scripts/streaming_dedup_scale_probe.py) measured exactly that
    (state peak == total unique keys, zero eviction), falsifying this
    docstring's earlier claim. The WithinWatermark form is the one
    where the watermark actually expires keys — THE knob that makes
    streaming dedup viable on an unbounded stream; its contract
    (duplicates arriving within the lateness bound dedup; a dup
    older than the watermark may re-emit) is the honest production
    semantics. Oracle = the batch distinct (event_ids are unique in
    the fixture and the injected dups arrive in-batch, so the output
    is identical to ``events`` itself).
    """
    ev = _events_stream(spark, sf_dir).select("event_id", "ts", "event_type")
    dups = ev.filter(F.col("event_id") < 100)
    deduped = (
        ev.union(dups)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    return _drain(deduped, spark, "append")


STREAMING_DEDUP_ORACLE = """
SELECT event_id, event_type FROM events
"""


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's view events in the preceding 30 minutes.

    THE hard streaming operator: both sides are unbounded, so Spark
    buffers each side in the state store and the JOIN CONDITION's time
    bounds + watermarks are what let it evict — a view older than
    30 min past the watermark can never match a future purchase and is
    dropped. Without the interval bounds the state would grow forever
    (Spark rejects unbounded stream-stream equi-joins in append mode
    for exactly that reason). Oracle = the identical batch self-join.
    """
    ev = _events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select("p_id", "v_id", "p_user")
    return _drain(joined, spark, "append")


STREAMING_INTERVAL_JOIN_ORACLE = """
SELECT p.event_id AS p_id, v.event_id AS v_id, p.user_id AS p_user
FROM events p JOIN events v
  ON p.event_type = 'purchase' AND v.event_type = 'view'
 AND p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL 30 MINUTE
"""


def streaming_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-mode global aggregate + ORDER BY + LIMIT: the
    continuously-maintained leaderboard. Sorting with a limit is only
    legal in complete mode — the result each trigger is the full
    top-10, which is what makes the batch twin an exact oracle.
    Tie-break on user_id keeps the cut deterministic cross-engine.

    At scale: per-user state is a single (count, sum) pair — the state
    store holds |users| entries; the sort runs over the aggregated
    (small) result, never the raw stream.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("value_sum"))
        .orderBy(F.col("n_events").desc(), F.col("user_id").asc())
        .limit(10)
    )
    return _drain(agg, spark, "complete")


STREAMING_TOPK_ORACLE = """
SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS value_sum
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id ASC
LIMIT 10
"""


def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style streaming upsert via ``foreachBatch``: each micro-batch
    merges into a keyed snapshot with last-event-wins semantics
    ((user_id, event_type) key, latest ts — ties broken by event_id).

    ``foreachBatch`` is the production bridge from a stream to any
    batch sink with MERGE semantics the sink itself lacks (plain
    parquet here; same code drives Delta/Iceberg MERGE INTO). The
    merge is re-derivable state: snapshot ∪ batch → keep-latest window
    — idempotent under batch replay, which is what makes
    restart-without-checkpoint safe (see
    test_foreachbatch_idempotent_sink). The final snapshot is
    deterministic regardless of micro-batching, so a plain batch SQL
    oracle checks it. At scale the window recompute is bounded by
    partition-pruning the snapshot to the key ranges present in the
    batch; state never lives in executor memory.
    """
    import os
    import shutil
    import tempfile

    target = os.path.join(
        tempfile.gettempdir(), "sparkbench_upsert", uuid.uuid4().hex[:12]
    )
    w_latest = F.row_number().over(
        Window.partitionBy("user_id", "event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        sess = batch_df.sparkSession
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            current = sess.read.parquet(target)
            merged = current.unionByName(batch_df.select(*current.columns))
        else:
            merged = batch_df
        latest = (
            merged.withColumn("rn", w_latest)
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # write-then-swap: never overwrite the directory being read
        tmp = target + "_stage"
        latest.write.mode("overwrite").parquet(tmp)
        sess.read.parquet(tmp).write.mode("overwrite").parquet(target)

    stream = _events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    q = stream.writeStream.foreachBatch(merge_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    # the returned rows are checkpointed before the snapshot and its
    # stage copy are deleted, so a build leaves no directory behind
    snap = spark.read.parquet(target).select(
        "user_id",
        "event_type",
        F.date_format("ts", TS_FMT).alias("last_ts"),
        F.round("value", 4).alias("last_value"),
    ).localCheckpoint(eager=True)
    shutil.rmtree(target + "_stage", ignore_errors=True)
    shutil.rmtree(target, ignore_errors=True)
    return snap


STREAMING_UPSERT_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       round(value, 4) AS last_value
FROM ranked WHERE rn = 1
"""


try:  # Spark 4+ second-gen stateful API
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningStats(StatefulProcessor):
        """Per-user running (count, sum, max) in a named ValueState.

        Module-level (not a closure): the TransformWithStateInPySpark
        driver worker re-imports the processor by qualified name, the
        same shipping constraint ``_stateful_count`` documents."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n BIGINT, vsum DOUBLE, vmax DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            import pandas as pd

            if self._agg.exists():
                n, vsum, vmax = self._agg.get()
            else:
                n, vsum, vmax = 0, 0.0, float("-inf")
            for pdf in rows:
                n += len(pdf)
                vsum += float(pdf["value"].sum())
                vmax = max(vmax, float(pdf["value"].max()))
            self._agg.update((n, vsum, vmax))
            (user_id,) = key
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "value_sum": [round(vsum, 4)],
                    "value_max": [round(vmax, 4)],
                }
            )

        def close(self) -> None:
            pass

except ImportError:  # pragma: no cover — pre-4.0 Spark
    _RunningStats = None

try:  # the TWS wire protocol needs protobuf on driver + workers
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    _TWS_AVAILABLE = _RunningStats is not None
except ImportError:
    _TWS_AVAILABLE = False


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import read_raw

    schema = read_raw(spark, sf_dir, "documents").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def streaming_doc_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation: the text_quality_score gate applied
    to a DOCUMENT stream (the batch operators' formulas run unchanged
    on readStream — the point of declaring them as column expressions)
    with per-(source, lang) keep accounting in complete mode. This is
    the continuously-ingesting front half of the curation pipeline;
    the batch aggregate over the same fixture is the oracle.

    Scale shape: the gate is a pure projection+filter (pushes into
    the stream scan); the rollup state is |sources×langs| rows.
    """
    from ..operators.text import STOPWORDS

    docs = _documents_stream(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n_tokens
    score = F.round(
        F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * (F.lit(1.0) - stop_ratio), 4
    )
    gated = docs.withColumn("score", score).where(F.col("score") >= 0.5)
    out = gated.groupBy("source", "lang").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("kept_tokens"),
    )
    return _drain(out, spark, "complete").orderBy("source", "lang")


STREAMING_DOC_QUALITY_ORACLE = """
WITH scored AS (
  SELECT source, lang, len(string_split(text, ' ')) AS n_tokens,
         round(least(1.0, len(string_split(text, ' ')) / 100.0)
               * (1.0 - len(list_filter(string_split(text, ' '),
                                        t -> t IN ('the','a','and','of')))
                 / len(string_split(text, ' '))), 4) AS score
  FROM documents
)
SELECT source, lang, count(*) AS n_kept,
       CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
FROM scored WHERE score >= 0.5
GROUP BY source, lang
ORDER BY source, lang
"""


def streaming_corpus_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus fingerprint (dq.corpus_fingerprint) computed
    INCREMENTALLY over a document stream: the additive mod-prime
    digest is a plain SUM aggregate, so streaming state folds each
    micro-batch in and the final digest is bit-identical to the batch
    one — the mergeability property that lets a 100 TB pipeline keep a
    live content-address of an ever-growing corpus. The oracle is the
    batch operator's oracle, verbatim.
    """
    docs = _documents_stream(spark, sf_dir)
    digest = F.expr(
        "CAST(conv(substr(md5(concat_ws('|', doc_id, lang, source, n_chars, text)),"
        " 1, 15), 16, 10) AS BIGINT) % 1000000007"
    )
    out = (
        docs.select("source", digest.alias("d"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("d").alias("digest_sum"))
    )
    return _drain(out, spark, "complete").orderBy("source")


def _streaming_fingerprint_oracle() -> str:
    from ..operators.dq import CORPUS_FINGERPRINT_ORACLE

    return CORPUS_FINGERPRINT_ORACLE


def streaming_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-generation arbitrary stateful processing via Spark 4's
    ``transformWithStateInPandas`` (SPARK-46815): the successor API to
    ``applyInPandasWithState`` (streaming_stateful_counter is the v1
    twin) with an object-oriented StatefulProcessor, named typed state
    variables on a handle, timers, and a mandatory RocksDB state store
    — the API new stateful pipelines should target. Keeps per-user
    running (count, value-sum, value-max) in a ValueState.

    Environment gate: the TWS state protocol runs over protobuf
    (``pyspark/sql/streaming/proto``); this container has no
    ``google.protobuf``, so the registry includes this query ONLY when
    the import succeeds (``_TWS_AVAILABLE``) — the v1 operator covers
    the driver row either way, and this code path activates unchanged
    on any standard cluster image (protobuf ships with
    ``pyspark[connect]`` and every Databricks/EMR runtime).

    The fixture drive-through is one micro-batch, so the final update
    per user equals the batch aggregate — the oracle. At scale the
    RocksDB store shards by key, spills off-heap, and checkpoints
    incrementally (changelog), which is exactly why this API mandates
    it over the HDFS-backed map store.
    """
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = _events_stream(spark, sf_dir)
        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_RunningStats(),
            outputStructType=(
                "user_id bigint, n_events bigint, value_sum double, value_max double"
            ),
            outputMode="Update",
            timeMode="None",
        )
        return _drain(out, spark, "update")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


STREAMING_TWS_ORACLE = """
SELECT user_id, count(*) AS n_events,
       round(sum(value), 4) AS value_sum,
       round(max(value), 4) AS value_max
FROM events
GROUP BY user_id
"""


# Planted-rejection floor for the streaming MinHash certificate: the
# ~25 planted one-word-edit near-dups must be caught; token-level
# MinHash at est_jaccard >= 0.5 legitimately misses the shortest docs
# (same <=2-of-25 tolerance as the batch LSH semantics test), so the
# floor is 0.9 (measured 1.0 at sf0.001 and sf0.01).
STREAMING_MINHASH_RECALL_FLOOR = 0.9

_EST_JACCARD_EXPR = (
    "aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
    " 0, (acc, v) -> acc + v)"
)

def _derived_arrival_seq():
    """Arrival permutation for sources carrying no ingest sequence:
    arbitrary-but-fixed, deliberately decoupled from id order (pmod
    keeps it non-negative so the day-2 offset always sorts after it).
    A function, not a module constant — building a Column requires an
    active SparkContext."""
    return F.pmod(F.xxhash64(F.lit("arrival"), F.col("doc_id")), F.lit(1 << 40))


def _with_planted_resubmissions(docs: DataFrame) -> DataFrame:
    """Union ``docs`` (doc_id, text, arrival_seq) with the fixture's
    planted re-submissions: doc_id < 25, last word dropped, id + 1e6,
    arriving on "day 2" (strictly after every base doc). Shared by the
    stream source and the static truth twin the precision certificate
    compares against, so the two can never drift."""
    toks = F.split(F.col("text"), " ")
    trimmed = F.expr(
        "substr(text, 1, length(text) - length(element_at(split(text, ' '), -1)) - 1)"
    )
    planted = docs.filter((F.col("doc_id") < 25) & (F.size(toks) >= 2)).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        trimmed.alias("text"),
        (F.lit(1 << 41) + F.col("arrival_seq")).alias("arrival_seq"),
    )
    return docs.unionByName(planted)


def streaming_minhash_dedup(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming near-dup dedup against a GROWING MinHash index: each
    micro-batch probes the band-signature index built from every prior
    batch (the `dedup_minhash_incremental` lookup), also self-checks
    within the batch, writes per-doc admission decisions, and APPENDS
    the batch's signatures + band rows to the index — the continuously-
    ingesting twin of the batch operator, i.e. how a 100 TB pipeline
    actually runs dedup: the index is a stored table that only ever
    grows by the batch, never recomputes.

    Admission rule — FIRST-SEEN-WINS (split-invariant by
    construction, id-agnostic per VERDICT r10 #2): a doc is rejected
    iff it is a near-dup (est_jaccard >= 0.5) of ANY doc seen EARLIER
    in the stream, where "earlier" means an earlier micro-batch
    (index probe) or, within the same batch, a smaller ingest-assigned
    ``arrival_seq`` (tie broken by doc_id). Real ingest is
    arrival-ordered, not id-ordered — the earlier lower-id-survives
    tiebreak was only arrival-consistent for monotone-id streams. The
    index records every fingerprint SEEN (admitted AND rejected),
    which is what makes decisions invariant to how the stream is
    micro-batched: a doc near-duplicate of a rejected doc is still a
    duplicate of something seen. scripts/streaming_minhash_probe.py
    certifies multi-batch == single-batch on a SHUFFLED-id,
    arrival-ordered split where re-submission ids are anti-correlated
    with arrival (the split the old id rule fails).

    ``arrival_seq`` comes from the stream when present (the ingest
    layer's sequence number); when absent it is derived as a
    deterministic per-doc hash — an arbitrary-but-fixed arrival
    permutation, deliberately decoupled from doc_id. The default
    fixture source models re-submission: base docs arrive in hash
    order ("day 1"), the planted near-dups (doc_id < 25, last word
    dropped, id + 1e6) arrive strictly after every base doc
    ("day 2") — a re-submission by definition follows its original,
    which is what keeps `streaming_minhash_dedup_recall`'s
    planted-rejected assertion exact. Rows-only (xxhash64); that
    paired certificate is fully oracle-checked. foreachBatch state
    lives in parquet dirs, never executor memory, and every sink
    writes overwrite-by-batch-id partitions (r11) — the REPLAY-SAFE
    LAYOUT for foreachBatch: a re-delivered batch id overwrites its
    own partition instead of double-appending. As shipped the query
    runs availableNow into a fresh per-invocation work dir with no
    checkpointLocation, so re-delivery never actually occurs here
    (ADVICE r11 — the layout is the recipe a checkpointed production
    deployment needs, not a guarantee this invocation exercises; wire
    ``.option("checkpointLocation", ...)`` plus a durable work dir to
    get real exactly-once decisions across restarts).
    """
    import os
    import shutil
    import tempfile

    from ..operators.dedup import N_HASHES, band_table, minhash_signatures

    min_matches = 0.5 * N_HASHES  # est_jaccard >= 0.5 in integer match counts

    work = os.path.join(
        tempfile.gettempdir(), "sparkbench_mh_stream", uuid.uuid4().hex[:12]
    )
    sig_dir = os.path.join(work, "index_sigs")
    band_dir = os.path.join(work, "index_bands")
    dec_dir = os.path.join(work, "decisions")
    state = {"has_index": False}

    if stream_dir is None:
        stream = _with_planted_resubmissions(
            _documents_stream(spark, sf_dir)
            .select("doc_id", "text")
            .withColumn("arrival_seq", _derived_arrival_seq())
        )
    else:
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("arrival_seq", T.LongType()),
            ]
        )
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
        # files written without an ingest sequence fall back to the
        # derived permutation (nulls -> coalesce)
        stream = reader.parquet(stream_dir).withColumn(
            "arrival_seq", F.coalesce(F.col("arrival_seq"), _derived_arrival_seq())
        )

    def process(batch_df: DataFrame, _batch_id: int) -> None:
        sess = batch_df.sparkSession
        batch_df = batch_df.persist()
        arr = batch_df.select("doc_id", "arrival_seq")
        sigs = minhash_signatures(batch_df).persist()
        bands = band_table(sigs)
        rejected_parts = []
        # within-batch: FIRST ARRIVAL survives — each banded candidate
        # pair (canonicalized once by id order) rejects its
        # later-arrival element (tie on arrival_seq broken by doc_id)
        within = (
            bands.alias("l")
            .join(
                bands.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bh") == F.col("r.bh"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"])
            .join(sigs.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a")), "doc_a")
            .join(sigs.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b")), "doc_b")
            .filter(F.expr(_EST_JACCARD_EXPR) >= min_matches)
            .join(arr.select(F.col("doc_id").alias("doc_a"), F.col("arrival_seq").alias("seq_a")), "doc_a")
            .join(arr.select(F.col("doc_id").alias("doc_b"), F.col("arrival_seq").alias("seq_b")), "doc_b")
            .select(
                F.when(
                    (F.col("seq_a") < F.col("seq_b"))
                    | ((F.col("seq_a") == F.col("seq_b")) & (F.col("doc_a") < F.col("doc_b"))),
                    F.col("doc_b"),
                )
                .otherwise(F.col("doc_a"))
                .alias("doc_id")
            )
        )
        rejected_parts.append(within)
        if state["has_index"]:
            # explicit selects pin the schema: the batch=N dir layout
            # surfaces an inferred 'batch' partition column that must
            # not leak into joins/unions (ADVICE r11)
            idx_sigs = sess.read.parquet(sig_dir).select("doc_id", "signature")
            idx_bands = sess.read.parquet(band_dir).select("band", "bh", "doc_id")
            vs_index = (
                bands.join(
                    idx_bands.withColumnRenamed("doc_id", "idx_id"), ["band", "bh"]
                )
                .select("doc_id", "idx_id")
                .dropDuplicates(["doc_id", "idx_id"])
                .join(sigs.select("doc_id", F.col("signature").alias("sig_a")), "doc_id")
                .join(
                    idx_sigs.select(F.col("doc_id").alias("idx_id"), F.col("signature").alias("sig_b")),
                    "idx_id",
                )
                .filter(F.expr(_EST_JACCARD_EXPR) >= min_matches)
                .select("doc_id")
            )
            rejected_parts.append(vs_index)
        rejected = rejected_parts[0]
        for part in rejected_parts[1:]:
            rejected = rejected.unionByName(part)
        rejected = rejected.distinct().withColumn("rej", F.lit(1))
        decisions = (
            batch_df.select("doc_id")
            .join(rejected, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("rej").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("admitted"),
            )
        )
        # REPLAY-SAFE layout: each micro-batch OVERWRITES its own
        # batch=N partition dir instead of blind-appending — the
        # standard idempotence recipe for checkpointed foreachBatch
        # sinks (a re-delivered batch id overwrites, never
        # double-counts). This invocation runs checkpoint-free into a
        # fresh work dir, so the recipe is carried, not exercised
        # (see docstring).
        for frame, d in (
            (decisions, dec_dir),
            # every fingerprint SEEN enters the index (split-invariance)
            (sigs, sig_dir),
            (bands, band_dir),
        ):
            frame.write.mode("overwrite").parquet(
                os.path.join(d, f"batch={_batch_id}")
            )
        state["has_index"] = True
        sigs.unpersist()
        batch_df.unpersist()

    q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
    q.awaitTermination()
    # materialized before the temp dirs go away; a local checkpoint,
    # not cache(): a CacheManager entry would outlive every build
    out = spark.read.parquet(dec_dir).select("doc_id", "admitted").localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def streaming_minhash_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked certificate for :func:`streaming_minhash_dedup`:
    every planted near-dup re-submission (doc_id >= 1e6) must be
    REJECTED by the streaming index — the planted count is exact in
    both engines, and recall >= STREAMING_MINHASH_RECALL_FLOOR flips
    on any index/banding/append bug. Under the first-seen-wins
    admission (r11) this assertion stays exact because the fixture
    models re-submission faithfully: planted docs carry day-2
    arrival_seq values, strictly after every base doc's arrival, so
    the original is always the survivor."""
    decisions = streaming_minhash_dedup(spark, sf_dir)
    agg = decisions.filter(F.col("doc_id") >= 1_000_000).agg(
        F.count(F.lit(1)).alias("n_planted"),
        F.sum(F.lit(1) - F.col("admitted")).alias("n_rejected"),
    )
    return agg.select(
        "n_planted",
        (
            F.col("n_rejected")
            >= F.col("n_planted") * F.lit(STREAMING_MINHASH_RECALL_FLOOR)
        ).alias("recall_ok"),
    )


STREAMING_MINHASH_RECALL_ORACLE = """
SELECT count(*) AS n_planted, TRUE AS recall_ok
FROM documents
WHERE doc_id < 25 AND len(string_split(text, ' ')) >= 2
"""


# Precision certificate dials (VERDICT r11 #3). Truth floor: an
# organically rejected doc counts as a TRUE rejection if some other
# stream doc shares exact word-3-gram Jaccard >= 0.35 with it — below
# the operational est_jaccard 0.5 on purpose, so MinHash estimator
# noise on genuinely-similar pairs (est 0.5 on exact ~0.4) is not
# branded a false positive; a banding-collision FP pairs docs with
# near-zero exact overlap and sits nowhere near 0.35. Measured FP
# RATES on the pinned fixtures: sf0.01 0/525 (24 organic rejections,
# all true at exact >= 0.9 — the fixture's organic near-dups);
# sf0.001 1/525 = 0.19% (one banding collision, best partner 0.018);
# sf0.1 64/5025 = 1.27% (314 organic rejections, 250 true) — the
# fixture documents are short word-salad over a ~40-word vocabulary,
# maximally adversarial for token-3-gram MinHash (everything shares
# shingles); the realistic-vocabulary 510k probe corpus measures
# 46/510k = 0.009% (scripts/streaming_minhash_probe.py classifies
# every rejected original against exact truth each run). The ceiling
# is therefore a RATE — 2% of the stream — sized to the worst
# fixture with margin while still flipping instantly on any
# systematic precision bug (wholesale false rejection is 30-100%).
# An exact-verify gate before rejection would zero the FPs but
# requires carrying per-doc shingle sets in the index (~30x index
# growth for long docs) — deliberately NOT wired; the certificate +
# probe keep the rate visible instead.
#
# CEILINGS (VERDICT r12 #4): the r12 flat 2% ceiling was sized to the
# worst fixture with so much margin that a 1.9% regression — 15x the
# realistic-vocabulary rate — would still certify green. The ceiling
# is now PER-FIXTURE at measured + margin: sf0.01 measured 0% and
# sf0.001 0.19% certify at 0.5%; the adversarial sf0.1 word-salad
# fixture measured 1.27% certifies at 1.6%. Unknown corpora (probe
# dirs, ad-hoc fixtures) get the worst pinned fixture's ceiling. Any
# systematic precision bug (wholesale false rejection is 30-100%)
# still trips every bound instantly, and a 1.9% creep now fails too.
STREAM_PRECISION_TRUTH_FLOOR = 0.35
STREAM_PRECISION_FP_RATE_CEILS = {
    "sf0.001": 0.005,
    "sf0.01": 0.005,
    "sf0.1": 0.016,
}
STREAM_PRECISION_FP_RATE_CEIL_DEFAULT = 0.016


def _stream_precision_ceil(sf_dir: str) -> float:
    return STREAM_PRECISION_FP_RATE_CEILS.get(
        os.path.basename(sf_dir.rstrip("/")), STREAM_PRECISION_FP_RATE_CEIL_DEFAULT
    )


def streaming_minhash_dedup_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked PRECISION certificate for
    :func:`streaming_minhash_dedup` — the recall certificate's dual
    (VERDICT r11 #3): every ORGANIC rejection (doc_id < 1e6, i.e. not
    a planted re-submission, which is a true duplicate by
    construction) must have a true near-dup partner somewhere in the
    stream — exact word-3-gram Jaccard >= STREAM_PRECISION_TRUTH_FLOOR
    against ANY other stream doc. Partner-existence is order-free
    truth: first-seen-wins only ever rejects the LATER element of a
    qualifying pair, so a true rejection always has a partner, while a
    banding/estimator false positive has none.

    Truth pairs come from DF-capped shingle postings (the
    dedup_minhash_incremental_recall pattern) with the REJECTED side
    broadcast — bounded by the rejection list, never corpus x corpus.
    Output: the stream size (base + planted, oracle recomputes it
    exactly) and precision_ok = organic false positives <= the
    fixture's pinned ceiling x stream size (oracle asserts TRUE; an
    admission-rule/banding bug that starts rejecting arbitrary docs
    flips it — wholesale false rejection is 30-100%, the ceilings are
    0.5-1.6% at measured + margin, see STREAM_PRECISION_FP_RATE_CEILS)."""
    from ..catalog import read_raw
    from ..operators.dedup import MAX_SHINGLE_DF, _distinct_shingled

    decisions = streaming_minhash_dedup(spark, sf_dir)
    stream_docs = _with_planted_resubmissions(
        read_raw(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("arrival_seq", _derived_arrival_seq())
    ).select("doc_id", "text")

    rejected_org = decisions.filter(
        (F.col("admitted") == 0) & (F.col("doc_id") < 1_000_000)
    ).select("doc_id")

    # r15: shingles from one pre-split token array per row (see
    # dedup._SHINGLES_FROM_TOKS_EXPR — the in-lambda split was
    # O(tokens^2) per doc); shingle values unchanged.
    postings = _distinct_shingled(stream_docs)
    hot = (
        postings.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("sh")
    )
    kept = postings.join(F.broadcast(hot), "sh", "left_anti")
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("sz"))
    rej_postings = kept.join(F.broadcast(rejected_org), "doc_id").select(
        F.col("doc_id").alias("rej_id"), "sh"
    )
    overlap = (
        rej_postings.join(kept, "sh")
        .filter(F.col("doc_id") != F.col("rej_id"))
        .groupBy("rej_id", F.col("doc_id").alias("other_id"))
        .agg(F.count("*").alias("common"))
        .join(sizes.select(F.col("doc_id").alias("rej_id"), F.col("sz").alias("sz_r")), "rej_id")
        .join(sizes.select(F.col("doc_id").alias("other_id"), F.col("sz").alias("sz_o")), "other_id")
    )
    jac = F.col("common") / (F.col("sz_r") + F.col("sz_o") - F.col("common"))
    partnered = (
        overlap.filter(jac >= STREAM_PRECISION_TRUTH_FLOOR)
        .select(F.col("rej_id").alias("doc_id"))
        .distinct()
    )
    n_fp = rejected_org.join(partnered, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_fp")
    )
    n_stream = stream_docs.agg(F.count(F.lit(1)).alias("n_stream"))
    return n_stream.crossJoin(n_fp).select(
        "n_stream",
        (
            F.col("n_fp")
            <= F.col("n_stream") * F.lit(_stream_precision_ceil(sf_dir))
        ).alias("precision_ok"),
    )


STREAMING_MINHASH_PRECISION_ORACLE = """
SELECT (SELECT count(*) FROM documents)
     + (SELECT count(*) FROM documents
        WHERE doc_id < 25 AND len(string_split(text, ' ')) >= 2) AS n_stream,
       TRUE AS precision_ok
"""


QUERIES: dict = {
    "streaming_hourly_agg": (streaming_hourly_agg, STREAMING_HOURLY_ORACLE),
    "streaming_foreachbatch_upsert": (streaming_foreachbatch_upsert, STREAMING_UPSERT_ORACLE),
    "streaming_topk_users": (streaming_topk_users, STREAMING_TOPK_ORACLE),
    "streaming_dedup_events": (streaming_dedup_events, STREAMING_DEDUP_ORACLE),
    "streaming_interval_join": (streaming_interval_join, STREAMING_INTERVAL_JOIN_ORACLE),
    "streaming_sliding_agg": (streaming_sliding_agg, STREAMING_SLIDING_ORACLE),
    "streaming_session_window": (streaming_session_window, STREAMING_SESSION_ORACLE),
    "streaming_session_certificate": (
        streaming_session_certificate,
        STREAMING_SESSION_CERTIFICATE_ORACLE,
    ),
    "streaming_stateful_counter": (streaming_stateful_counter, STREAMING_STATEFUL_ORACLE),
    "streaming_doc_quality_gate": (
        streaming_doc_quality_gate,
        STREAMING_DOC_QUALITY_ORACLE,
    ),
    "streaming_corpus_fingerprint": (
        streaming_corpus_fingerprint,
        _streaming_fingerprint_oracle(),
    ),
    "streaming_minhash_dedup": (streaming_minhash_dedup, None),
    "streaming_minhash_dedup_recall": (
        streaming_minhash_dedup_recall,
        STREAMING_MINHASH_RECALL_ORACLE,
    ),
    "streaming_minhash_dedup_precision": (
        streaming_minhash_dedup_precision,
        STREAMING_MINHASH_PRECISION_ORACLE,
    ),
}
if _TWS_AVAILABLE:
    QUERIES["streaming_transform_with_state"] = (
        streaming_transform_with_state,
        STREAMING_TWS_ORACLE,
    )
