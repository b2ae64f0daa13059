"""SCD2 snapshot merge (snapshots.py): accreted history across runs must
carry exact validity intervals, be idempotent, and never lose a version."""

from __future__ import annotations

import pytest

from dbt_parquet_spark.catalog import FilesystemCatalog
from dbt_parquet_spark.snapshots import snapshot_scd2

from .conftest import spark_jobs


@pytest.fixture()
def db(tmp_path):
    return FilesystemCatalog(str(tmp_path))


def _src(spark, rows):
    return spark.createDataFrame(rows, "id BIGINT, name STRING, updated_at BIGINT")


def _state(spark, rel):
    return {
        (r.id, r.dbt_valid_from, r.dbt_valid_to): r.name
        for r in spark.read.parquet(rel.path).collect()
    }


def test_snapshot_accretes_versions_and_is_idempotent(spark, db):
    rel = db.relation("dim_customer_snapshot")

    # run 1: initial load — every key open from its own updated_at
    s1 = _src(spark, [(1, "alice", 100), (2, "bob", 100)])
    snapshot_scd2(spark, db, rel, s1, "id", "updated_at")
    assert _state(spark, rel) == {
        (1, 100, None): "alice",
        (2, 100, None): "bob",
    }

    # run 2: key 1 changes at t=200, key 3 appears, key 2 untouched
    s2 = _src(spark, [(1, "alicia", 200), (2, "bob", 100), (3, "carol", 150)])
    snapshot_scd2(spark, db, rel, s2, "id", "updated_at")
    assert _state(spark, rel) == {
        (1, 100, 200): "alice",
        (1, 200, None): "alicia",
        (2, 100, None): "bob",
        (3, 150, None): "carol",
    }

    # idempotency: the same source again changes NOTHING (no new versions)
    snapshot_scd2(spark, db, rel, s2, "id", "updated_at")
    assert _state(spark, rel) == {
        (1, 100, 200): "alice",
        (1, 200, None): "alicia",
        (2, 100, None): "bob",
        (3, 150, None): "carol",
    }

    # run 3: key 1 changes again — closed history is carried, not re-opened
    s3 = _src(spark, [(1, "alize", 300), (2, "bob", 100), (3, "carol", 150)])
    snapshot_scd2(spark, db, rel, s3, "id", "updated_at")
    assert _state(spark, rel) == {
        (1, 100, 200): "alice",
        (1, 200, 300): "alicia",
        (1, 300, None): "alize",
        (2, 100, None): "bob",
        (3, 150, None): "carol",
    }
    # invariant: exactly one open version per live key
    open_per_key = {}
    for (k, _, vto) in _state(spark, rel):
        if vto is None:
            open_per_key[k] = open_per_key.get(k, 0) + 1
    assert set(open_per_key.values()) == {1}


def test_snapshot_equal_timestamp_is_not_a_change(spark, db):
    """dbt timestamp strategy: a row is a new version only when updated_at
    is STRICTLY newer — same timestamp with different payload is carried
    (the reference behavior; content-diffing is the 'check' strategy)."""
    rel = db.relation("snap_eq_ts")
    snapshot_scd2(spark, db, rel, _src(spark, [(1, "a", 100)]), "id", "updated_at")
    snapshot_scd2(spark, db, rel, _src(spark, [(1, "A", 100)]), "id", "updated_at")
    assert _state(spark, rel) == {(1, 100, None): "a"}


def test_pit_join_exactly_one_version_per_event_and_self_consistent(spark):
    """Interval partition property: every event matches exactly one history
    version, and that version's state IS the event's own run state (the
    event that opened a version must see itself)."""
    from dbt_parquet_spark.snapshots import q_pit_join
    from dbt_parquet_spark.sources.readers import load_table

    from .conftest import SF_SMALL

    rows = q_pit_join(spark, SF_SMALL).collect()
    events = {
        r.event_id: r.event_type
        for r in load_table(spark, SF_SMALL, "events").collect()
    }
    assert len(rows) == len(events)  # one version per event, no gaps/overlap
    assert len({r.event_id for r in rows}) == len(events)
    for r in rows:
        assert r.state_at_event == events[r.event_id], r.event_id


def test_scd2_pass_job_count(spark, db):
    """Job-count gate: a pass over existing history reads it through the
    catalog with its footer schema, so no schema-inference job runs (7 jobs:
    the write, whose shuffle stages adaptive execution runs as jobs)."""
    rel = db.relation("jobs_snapshot")
    snapshot_scd2(spark, db, rel, _src(spark, [(1, "a", 100), (2, "b", 100)]), "id", "updated_at")
    s2 = _src(spark, [(1, "A", 200), (2, "b", 100), (3, "c", 150)])
    assert len(spark_jobs(spark, lambda: snapshot_scd2(spark, db, rel, s2, "id", "updated_at"))) == 7
    assert _state(spark, rel) == {
        (1, 100, 200): "a", (1, 200, None): "A", (2, 100, None): "b", (3, 150, None): "c",
    }
