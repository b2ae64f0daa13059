"""Exact stream-vs-batch twin parity for ALL five Structured Streaming
executions (VERDICT r4 #7: the tumbling/sliding/dedup batch twins sit
outside the driver's verified window, so their equivalence to the streaming
runs was argued transitively through identical oracles — these tests
enforce it by diffing the materialized outputs directly).

Every value compared here is deterministic: counts/longs are exact, money
totals go through DECIMAL partial sums (order-independent) before the final
double cast, so set-equality on canonicalized rows is the right check."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dbt_parquet_spark.sources.readers import load_table
from dbt_parquet_spark.streaming.batch_windows import (
    SESSION_GAP_MIN,
    q_session_window,
    q_stream_session,
    q_stream_sliding,
    q_stream_stateful_profile,
    q_stream_stream_join,
    q_stream_tumbling,
    q_window_sliding,
    q_window_tumbling,
)

from .conftest import SF_SMALL
from .oracle_utils import canonical_rows


def _rows(df):
    return canonical_rows(df.columns, [tuple(r) for r in df.collect()])


def _assert_twin(stream_df, batch_df):
    assert sorted(stream_df.columns) == sorted(batch_df.columns)
    s, b = _rows(stream_df), _rows(batch_df)
    assert len(s) == len(b), f"row counts differ: stream={len(s)} batch={len(b)}"
    assert s == b, f"first diff: {next((x, y) for x, y in zip(s, b) if x != y)}"


def test_twin_tumbling(spark):
    _assert_twin(q_stream_tumbling(spark, SF_SMALL), q_window_tumbling(spark, SF_SMALL))


def test_twin_sliding(spark):
    _assert_twin(q_stream_sliding(spark, SF_SMALL), q_window_sliding(spark, SF_SMALL))


def test_twin_session(spark):
    # q_session_window is the lag+cumsum batch sessionization; dropping the
    # session ordinal leaves exactly the session rows the native
    # F.session_window streaming run emits.
    batch = q_session_window(spark, SF_SMALL).select(
        "user_id", "n_events", "session_start", "session_end"
    )
    stream = q_stream_session(spark, SF_SMALL)
    _assert_twin(stream, batch)


def test_session_gap_keeps_sub_second_precision(spark, tmp_path):
    """A 30 min 50 ms gap opens a second session: the gap is measured in
    microseconds, as the DuckDB oracle measures it, not in whole seconds."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_parquet_spark.registry import oracle_sql

    from .oracle_utils import compare_spark_duckdb

    ts = [
        datetime.datetime(2024, 1, 1, 0, 0, 0, 900_000),
        datetime.datetime(2024, 1, 1, 0, 30, 0, 950_000),
    ]
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "user_id": pa.array([7, 7], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
            }
        ),
        path,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM parquet_scan('{path}')")
    sql = oracle_sql()["q_session_window"]
    assert len(con.execute(sql).fetchall()) == 2
    ok, msg = compare_spark_duckdb(q_session_window(spark, str(tmp_path)), con, sql)
    assert ok, msg


def test_twin_stream_stream_join(spark):
    events = load_table(spark, SF_SMALL, "events")
    c = events.filter(F.col("event_type") == "click").alias("c")
    p = events.filter(F.col("event_type") == "purchase").alias("p")
    batch = c.join(
        p,
        F.expr("c.user_id = p.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR"),
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        (F.unix_micros(F.col("p.ts")) - F.unix_micros(F.col("c.ts"))).alias(
            "micros_to_purchase"
        ),
    )
    _assert_twin(q_stream_stream_join(spark, SF_SMALL), batch)


def test_twin_stateful_profile(spark):
    from dbt_parquet_spark.functions.exact import dec

    events = load_table(spark, SF_SMALL, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    gap_s = F.col("ts").cast("long") - prev.cast("long")
    is_new = F.when(prev.isNull() | (gap_s > SESSION_GAP_MIN * 60), 1).otherwise(0)
    batch = (
        events.select("user_id", "ts", "value", is_new.alias("is_new"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
            F.sum("is_new").alias("n_sessions"),
            F.max("ts").alias("last_seen"),
        )
    )
    _assert_twin(q_stream_stateful_profile(spark, SF_SMALL), batch)


def test_twin_dedup_ingest(spark, tmp_path):
    """The streaming dedup-ingest flags must equal the batch computation of
    the same stream-static join semantics. Runs on a constructed corpus WITH
    exact duplicates (the shipped synthetic corpus has none, which would
    make the dup-flag leg vacuous)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from dbt_parquet_spark.streaming.batch_windows import q_stream_dedup_ingest

    rows = [(i, f"unique doc number {i} body") for i in range(20)]
    rows += [(100 + i, f"unique doc number {i} body") for i in range(5)]  # dups of 0-4
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    papq.write_table(tbl, str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    streamed = {
        (r.doc_id, r.is_dup, r.dup_of)
        for r in q_stream_dedup_ingest(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    m = docs.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("first_doc"))
    is_dup = F.col("first_doc") < F.col("doc_id")
    batch = {
        (r.doc_id, r.is_dup, r.dup_of)
        for r in docs.select("doc_id", F.md5("text").alias("h"))
        .join(m, "h")
        .select("doc_id", is_dup.alias("is_dup"), F.when(is_dup, F.col("first_doc")).alias("dup_of"))
        .collect()
    }
    assert streamed == batch and len(streamed) == docs.count()
    assert {(d, o) for _, d, o in streamed if d} == {(True, i) for i in range(5)}
