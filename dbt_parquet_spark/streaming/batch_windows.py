"""Time-window operators in batch mode — tumbling, sliding, session.

These are the oracle-checkable batch twins of the Structured Streaming
operators in streaming/stream_ops.py (same windowing semantics; streaming
adds watermarks/state — SURVEY §7 phase 3). The reference has no streaming
at all (SURVEY §2B Streaming row); this is north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec, dsum
from ..registry import register
from ..sources.readers import load_table

SESSION_GAP_MIN = 30


@register(
    "q_window_tumbling",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows via F.window — identical semantics to the
    streaming groupBy(window(...)) aggregation (hour-aligned windows ==
    date_trunc in the oracle).

    Scale: one shuffle on (window, event_type); in streaming mode the same
    plan runs incrementally with watermark-bounded state.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "q_window_sliding",
    oracle="""
    WITH bounds AS (
        SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) - INTERVAL 30 MINUTE AS lo,
               MAX(ts) AS hi
        FROM events
    ),
    starts AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 30 MINUTE)) AS window_start FROM bounds
    )
    SELECT s.window_start, COUNT(*) AS n_events
    FROM starts s JOIN events e
      ON e.ts >= s.window_start AND e.ts < s.window_start + INTERVAL 1 HOUR
    GROUP BY s.window_start
    """,
    tags=("streaming", "window"),
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): every event lands in two
    windows. F.window(ts, '1 hour', '30 minutes') — window starts are epoch-
    aligned, matching the oracle's hour-floor + 30-minute series.

    Scale: sliding windows multiply rows by length/slide (2× here) before
    the shuffle — the slide ratio is the cost knob.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


@register(
    "q_window_dedup",
    oracle="""
    SELECT user_id, event_type, window_start, event_id AS first_event, ts AS first_ts
    FROM (
        SELECT user_id, event_type, event_id, ts,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type, date_trunc('hour', ts)
                   ORDER BY ts ASC, event_id ASC
               ) AS rn
        FROM events
    ) AS t
    WHERE rn = 1
    """,
    tags=("streaming", "dedup", "window"),
)
def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed deduplication: keep the FIRST event per (user, type) within
    each hour — the batch twin of streaming dropDuplicatesWithinWatermark
    (stream_ops.streaming_dedup), with deterministic first-pick via the
    (ts, event_id) total order.

    Scale: one shuffle on the dedup key; in streaming mode the same
    semantics run with watermark-bounded state.
    """
    events = load_table(spark, sf_dir, "events")
    win = F.date_trunc("hour", F.col("ts"))
    w = Window.partitionBy("user_id", "event_type", win).orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    return (
        events.select(
            "user_id",
            "event_type",
            win.alias("window_start"),
            F.col("event_id").alias("first_event"),
            F.col("ts").alias("first_ts"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "q_stream_tumbling",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "structured-streaming"),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run, oracle-checked: the watermarked
    tumbling-window aggregation executes as a streaming query
    (trigger=availableNow → memory sink) and its materialized output must
    hash-match the same SQL DuckDB runs on the batch data. Proof that the
    incremental execution path produces batch-identical answers — the
    exactly-once contract, checked by value.
    """
    from .stream_ops import run_to_batch, streaming_tumbling_counts

    return run_to_batch(streaming_tumbling_counts(spark, sf_dir), spark)


@register(
    "q_stream_sliding",
    oracle="""
    WITH bounds AS (
        SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) - INTERVAL 30 MINUTE AS lo,
               MAX(ts) AS hi
        FROM events
    ),
    starts AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 30 MINUTE)) AS window_start FROM bounds
    )
    SELECT s.window_start, COUNT(*) AS n_events
    FROM starts s JOIN events e
      ON e.ts >= s.window_start AND e.ts < s.window_start + INTERVAL 1 HOUR
    GROUP BY s.window_start
    """,
    tags=("streaming", "window", "structured-streaming"),
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming sliding-window run (availableNow → memory
    sink), value-checked against the batch oracle — like q_stream_tumbling
    but with overlap state."""
    from .stream_ops import run_to_batch, streaming_sliding_counts

    return run_to_batch(streaming_sliding_counts(spark, sf_dir), spark)


@register(
    "q_stream_session",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL {SESSION_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM gaps
    )
    SELECT user_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess
    GROUP BY user_id, session_id
    """,
    tags=("streaming", "session", "structured-streaming"),
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming session-window run, value-checked against
    the lag+cumsum batch sessionization: F.session_window's (start, end-gap)
    equals (min ts, max ts) of each batch session, so the streaming state
    machine must reproduce the batch semantics exactly."""
    from pyspark.sql import functions as F

    from .stream_ops import run_to_batch, streaming_session_windows

    out = run_to_batch(streaming_session_windows(spark, sf_dir), spark)
    return out.select(
        "user_id",
        "n_events",
        F.col("session_start"),
        (F.col("session_end") - F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTE")).alias(
            "session_end"
        ),
    )


@register(
    "q_stream_stream_join",
    oracle="""
    SELECT c.user_id AS user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))
             AS micros_to_purchase
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    tags=("streaming", "join", "structured-streaming"),
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming stream-stream join run (availableNow →
    memory sink), value-checked against the batch join: clicks attributed
    to same-user purchases within 1 hour. Inner stream-stream joins emit on
    match (no watermark wait), so the incremental run must reproduce the
    batch answer exactly — see stream_ops.streaming_click_purchase_join for
    the state-eviction story.
    """
    from .stream_ops import run_to_batch, streaming_click_purchase_join

    return run_to_batch(streaming_click_purchase_join(spark, sf_dir), spark)


@register(
    "q_stream_stateful_profile",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL {SESSION_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
           CAST(SUM(is_new) AS BIGINT) AS n_sessions,
           MAX(ts) AS last_seen
    FROM gaps
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "structured-streaming"),
)
def q_stream_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL custom-stateful streaming run (applyInPandasWithState →
    availableNow → memory sink), oracle-checked: the per-user GroupState
    fold (event count, exact-cents value total, 30-min-gap session counter,
    last-seen) must reproduce the batch SQL over full history — the
    state-machine-equals-batch contract for hand-written stateful
    operators. Update-mode emits one row per user per micro-batch; the
    builder keeps each user's final state (max n_events — counts only
    grow), so the result is batch-total regardless of how availableNow
    split the input into batches.
    """
    from .stateful import streaming_user_profiles
    from .stream_ops import run_to_batch

    out = run_to_batch(streaming_user_profiles(spark, sf_dir), spark)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "q_session_window",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL {SESSION_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
        FROM gaps
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess
    GROUP BY user_id, session_id
    """,
    tags=("streaming", "session"),
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap, as the classic
    lag → new-session flag → running-sum session id → aggregate pipeline.
    Batch twin of F.session_window / applyInPandasWithState (stream_ops.py).

    Scale: one shuffle on user_id; both window functions and the final
    groupBy reuse that partitioning. Per-user ordering is a partition-local
    sort.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # cast("timestamp") first: a no-op on LTZ, and the NTZ→LTZ bridge when a
    # caller session infers parquet timestamps as TIMESTAMP_NTZ. The gap is
    # in microseconds, as the oracle's interval compare measures it.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ts_us - F.lag(ts_us).over(w)
    flagged = events.select(
        "user_id",
        "ts",
        F.when(gap > SESSION_GAP_MIN * 60 * 1_000_000, 1).otherwise(0).alias("is_new"),
    )
    sess = flagged.select("user_id", "ts", F.sum("is_new").over(wsum).alias("session_id"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "q_stream_dedup_ingest",
    oracle="""
    WITH m AS (
        SELECT md5(text) AS h, MIN(doc_id) AS first_doc
        FROM documents GROUP BY md5(text)
    )
    SELECT d.doc_id,
           m.first_doc < d.doc_id AS is_dup,
           CASE WHEN m.first_doc < d.doc_id THEN m.first_doc END AS dup_of
    FROM documents d JOIN m ON md5(d.text) = m.h
    """,
    tags=("streaming", "dedup", "structured-streaming", "ingest"),
)
def q_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run, oracle-checked: documents stream
    through a stateless stream-static join against the corpus content-hash
    table and come out flagged exact-dup (with the canonical first doc_id)
    — the streaming front door of the dedup pipeline, proven batch-identical
    by value. Output mode is forced to append: the plan's only Aggregate is
    on the STATIC side (the hash table), so there is no streaming state.
    """
    from .stream_ops import run_to_batch, streaming_dedup_ingest

    return run_to_batch(streaming_dedup_ingest(spark, sf_dir), spark, output_mode="append")


@register(
    "q_stream_quality_ingest",
    tags=("streaming", "quality", "classifier", "structured-streaming", "ingest"),
)
def q_stream_quality_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run: documents stream through the
    batch-trained quality classifier (stateless pandas-UDF scoring, weights
    in the closure) and a stream-static broadcast join against the
    batch-calibrated per-source percentile thresholds, emitting
    (doc_id, source, score_ppm, keep). Driver check is rows-only (iterative
    training is not SQL-expressible); tests pin every streamed score and
    flag bit-identical to the batch scorer. Output mode is append: the only
    Aggregates are on the STATIC side (training/threshold legs), so there
    is no streaming state.
    """
    from .stream_ops import run_to_batch, streaming_quality_ingest

    return run_to_batch(
        streaming_quality_ingest(spark, sf_dir), spark, output_mode="append"
    )


def _stream_expectations_oracle() -> str:
    from ..operators.gates import RATIO_CHECKS, expectations_oracle

    return expectations_oracle(RATIO_CHECKS)


@register(
    "q_stream_expectations",
    oracle=_stream_expectations_oracle(),
    tags=("streaming", "gate", "quality", "expectations", "structured-streaming"),
)
def q_stream_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run, fully oracle-checked: the
    q_expectations data-quality gate evaluated as a continuous monitor
    over the document ingest (complete-mode global aggregate; state is one
    row of five BIGINTs). The constraint definitions are the gate's own
    (gates.compliance_aggs / constraints_fanout — shared code, zero
    drift); after availableNow drains the input, the streamed verdicts
    equal the batch gate bit-for-bit, so the DuckDB oracle applies
    directly (the four streaming-computable ratio constraints; the
    distinct-count uniqueness check is batch-only — Structured Streaming
    rejects distinct aggregation)."""
    from .stream_ops import run_to_batch, streaming_expectations

    return run_to_batch(
        streaming_expectations(spark, sf_dir), spark, output_mode="complete"
    )
