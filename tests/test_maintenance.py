from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_parquet_spark.catalog import FilesystemCatalog
from dbt_parquet_spark.diff import relations_equal
from dbt_parquet_spark.maintenance import compact, table_stats
from dbt_parquet_spark.materialize import create_table_as
from dbt_parquet_spark.sources.readers import read_parquet
from dbt_parquet_spark.streaming.stream_ops import read_events_stream, stream_to_table

from .conftest import SF_ORACLE, SF_SMALL, spark_jobs


@pytest.fixture()
def db(tmp_path):
    return FilesystemCatalog(str(tmp_path))


def test_compact_reduces_files_preserves_rows(spark, db):
    df = spark.range(10_000).select("id", (F.col("id") * 2).alias("v"))
    rel = db.relation("fragmented")
    create_table_as(spark, db, rel, df.repartition(64), single_file=False)
    n_before = len([f for f in os.listdir(rel.path) if f.endswith(".parquet")])
    assert n_before >= 32
    compact(spark, db, rel)
    n_after = len([f for f in os.listdir(rel.path) if f.endswith(".parquet")])
    assert n_after < n_before
    assert relations_equal(df, read_parquet(spark, rel.path))


def test_table_stats_from_footers(spark, db):
    create_table_as(spark, db, db.relation("t1"), spark.range(1234), single_file=True)
    db.create_schema("s")
    create_table_as(spark, db, db.relation("t2", "s"), spark.range(10).repartition(4), single_file=False)
    # hive-partitioned: the part files sit one level down, in p=<v>/
    create_table_as(
        spark, db, db.relation("t3"), spark.range(100).withColumn("p", F.col("id") % 3),
        partition_by=["p"],
    )
    stats = {(r.table_schema, r.table_name): r for r in table_stats(spark, db).collect()}
    assert stats[("", "t1")].n_rows == 1234
    assert stats[("", "t1")].n_files == 1
    assert stats[("s", "t2")].n_rows == 10
    assert stats[("s", "t2")].n_files == 4
    assert stats[("s", "t2")].total_bytes > 0
    assert stats[("", "t3")].n_rows == 100
    assert stats[("", "t3")].n_files >= 3
    assert stats[("", "t3")].total_bytes > 0


def test_stream_merge_upserts(spark, db, tmp_path):
    from dbt_parquet_spark.streaming.stream_ops import stream_merge_to_table

    rel = db.relation("events_merged")
    # seed the target with stale rows for a few event_ids
    events = read_parquet(spark, os.path.join(SF_SMALL, "events.parquet"))
    stale = events.limit(10).withColumn("value", F.lit(-999.0))
    create_table_as(spark, db, rel, stale, single_file=False)

    q = stream_merge_to_table(
        read_events_stream(spark, SF_SMALL), db, rel, ["event_id"], str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    out = read_parquet(spark, rel.path)
    assert out.count() == events.count()  # upsert, not append: no duplicates
    assert out.filter(F.col("value") == -999.0).count() == 0  # stale rows replaced
    assert relations_equal(events, out)


def test_stream_to_table_materializes(spark, db, tmp_path):
    events = read_events_stream(spark, SF_SMALL)
    rel = db.relation("events_copy")
    q = stream_to_table(events, db, rel, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    out = read_parquet(spark, rel.path)
    want = read_parquet(spark, os.path.join(SF_SMALL, "events.parquet"))
    assert out.count() == want.count()
    assert relations_equal(want, out)


def test_events_stream_build_runs_one_job(spark):
    """Building the events stream infers its schema once, in the batch scan
    it shares with ``read_parquet`` (the events file carries no Spark
    schema), and still normalizes ``ts`` to TIMESTAMP."""
    built = []
    jobs = spark_jobs(spark, lambda: built.append(read_events_stream(spark, SF_ORACLE)))
    assert len(jobs) == 1
    assert dict(built[0].dtypes)["ts"] == "timestamp"


def test_cluster_by_makes_row_groups_selective(spark, tmp_path):
    """After cluster_by(key), a point predicate on the key should touch few
    row groups (footer min/max excludes the rest); before, arrival-order
    row groups all span the key domain. Also: same rows, atomic republish."""
    from dbt_parquet_spark.maintenance import cluster_by, row_group_stats

    cat = FilesystemCatalog(str(tmp_path))
    rel = cat.relation("events_like")
    # arrival-order data: key cycles, so every row group spans [0, 50)
    df = (
        spark.range(200_000)
        .select(
            (F.col("id") % 50).alias("user_id"),
            F.col("id").alias("event_id"),
            (F.rand(7) * 100).alias("value"),
        )
        .repartition(8)
    )
    create_table_as(spark, cat, rel, df, single_file=False)
    # content fingerprint BEFORE the rewrite (the lazy DataFrame would read
    # the swapped-away files after cluster_by republishes)
    before_fp = (
        read_parquet(spark, rel.path)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash("user_id", "event_id", "value").cast("long")).alias("h"),
        )
        .collect()[0]
    )

    def touched(point):
        return sum(
            1
            for _, _, lo, hi in row_group_stats(cat, rel, "user_id")
            if lo is not None and lo <= point <= hi
        )

    groups_before = len(row_group_stats(cat, rel, "user_id"))
    touched_before = touched(25)
    assert touched_before == groups_before  # arrival order: no skipping at all

    clustered = cluster_by(spark, cat, rel, ["user_id"], target_file_bytes=64 * 1024)
    after_fp = clustered.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash("user_id", "event_id", "value").cast("long")).alias("h"),
    ).collect()[0]
    assert (before_fp.n, before_fp.h) == (after_fp.n, after_fp.h)  # content preserved
    stats = row_group_stats(cat, rel, "user_id")
    assert len(stats) > 1  # multiple groups, else skipping is vacuous
    # clustered: a point predicate touches a small fraction of row groups
    assert touched(25) <= max(1, len(stats) // 4), (
        f"clustering not selective: {touched(25)}/{len(stats)} groups contain key 25"
    )


def test_zorder_cluster_makes_both_columns_selective(spark, tmp_path):
    """Lexicographic cluster_by([a, b]) leaves b unselective (every a-range
    spans all of b); z-order gives BOTH columns row-group locality. Assert
    the z-ordered table skips on each column independently, and beats
    lexicographic on the second column."""
    from dbt_parquet_spark.maintenance import cluster_by, row_group_stats

    cat = FilesystemCatalog(str(tmp_path))
    df = (
        spark.range(200_000)
        .select(
            (F.hash("id").bitwiseAND(F.lit(0x7FFF))).alias("a"),
            (F.hash(F.col("id") + 1).bitwiseAND(F.lit(0x7FFF))).alias("b"),
            F.col("id").alias("payload"),
        )
        .repartition(8)
    )

    def touched(rel, column, point):
        st = row_group_stats(cat, rel, column)
        return sum(1 for _, _, lo, hi in st if lo is not None and lo <= point <= hi), len(st)

    lex = cat.relation("lex")
    create_table_as(spark, cat, lex, df, single_file=False)
    cluster_by(spark, cat, lex, ["a", "b"], target_file_bytes=64 * 1024)
    zo = cat.relation("zo")
    create_table_as(spark, cat, zo, df, single_file=False)
    cluster_by(spark, cat, zo, ["a", "b"], target_file_bytes=64 * 1024, zorder=True)

    point = 0x4000  # mid-domain
    lex_a, lex_n = touched(lex, "a", point)
    zo_a, zo_n = touched(zo, "a", point)
    lex_b, _ = touched(lex, "b", point)
    zo_b, _ = touched(zo, "b", point)
    assert lex_n > 4 and zo_n > 4  # enough groups for skipping to be meaningful
    assert lex_a <= max(1, lex_n // 4)  # first column: lexicographic is selective
    # second column: lexicographic spans everything, z-order must skip
    assert lex_b >= lex_n * 3 // 4, f"expected lex b-unselective, got {lex_b}/{lex_n}"
    assert zo_b < lex_b, f"z-order no better than lex on b: {zo_b}/{zo_n} vs {lex_b}/{lex_n}"
    assert zo_b <= zo_n * 3 // 4, f"z-order b not selective: {zo_b}/{zo_n}"
    assert zo_a <= zo_n * 3 // 4, f"z-order a not selective: {zo_a}/{zo_n}"


def test_zorder_cluster_keeps_wide_keys_selective(spark, tmp_path):
    """A z-order key whose values are multiples of 65536 keeps its
    row-group locality: the curve quantizes each column from its MIN/MAX,
    so wide keys do not alias onto one cell (a low-bit mask maps every
    such value to 0 and leaves the column spanning every row group)."""
    from dbt_parquet_spark.maintenance import cluster_by, row_group_stats

    cat = FilesystemCatalog(str(tmp_path))
    rel = cat.relation("wide")
    df = (
        spark.range(100_000)
        .select(
            (F.hash("id").bitwiseAND(F.lit(0x7FFF)) * 65536).alias("a"),
            F.hash(F.col("id") + 1).bitwiseAND(F.lit(0x7FFF)).alias("b"),
        )
        .repartition(8)
    )
    create_table_as(spark, cat, rel, df, single_file=False)
    cluster_by(spark, cat, rel, ["a", "b"], target_file_bytes=32 * 1024, zorder=True)
    stats = row_group_stats(cat, rel, "a")
    point = 0x4000 * 65536
    hit = sum(1 for _, _, lo, hi in stats if lo is not None and lo <= point <= hi)
    assert len(stats) > 4
    assert hit <= len(stats) // 2, f"wide key a not selective: {hit}/{len(stats)}"


def test_zorder_cluster_refuses_five_columns(spark, db):
    """The curve interleaves at most 4 columns into a signed long; a fifth
    z-order column raises instead of wrapping bit positions."""
    from dbt_parquet_spark.maintenance import cluster_by

    rel = db.relation("five")
    df = spark.range(10).select(*[F.col("id").alias(c) for c in "abcde"])
    create_table_as(spark, db, rel, df, single_file=False)
    with pytest.raises(ValueError, match="2-4 columns"):
        cluster_by(spark, db, rel, list("abcde"), zorder=True)
    assert read_parquet(spark, rel.path).count() == 10


def test_cleanup_artifacts_finds_and_removes_orphans(spark, tmp_path):
    """A crashed publish leaves .tmp_* (writer died) or .old_* (died between
    the swap renames) entries; cleanup must report exactly those, never a
    live table, and remove them only with apply=True."""
    import os

    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.maintenance import cleanup_artifacts
    from dbt_parquet_spark.materialize import create_table_as
    from dbt_parquet_spark.sources.readers import load_table

    from .conftest import SF_ORACLE, SF_SMALL, spark_jobs

    cat = FilesystemCatalog(str(tmp_path))
    docs = load_table(spark, SF_SMALL, "documents").limit(5)
    create_table_as(spark, cat, cat.relation("live"), docs)

    # simulate both crash modes
    os.makedirs(tmp_path / ".tmp_crashed_ab12cd34")
    (tmp_path / ".tmp_crashed_ab12cd34" / "part-0.parquet").write_bytes(b"x")
    os.makedirs(tmp_path / ".old_live_deadbeef")

    # Age gate (ADVICE r7): just-created artifacts look like an IN-FLIGHT
    # write under the default min_age and must be left alone, listed and
    # removed only once old enough (here: gate disabled).
    assert cleanup_artifacts(cat) == []
    assert cleanup_artifacts(cat, apply=True) == []
    assert os.path.exists(tmp_path / ".tmp_crashed_ab12cd34")

    found = cleanup_artifacts(cat, min_age_seconds=0)
    names = {os.path.basename(p) for p in found}
    assert names == {".tmp_crashed_ab12cd34", ".old_live_deadbeef"}
    assert all(os.path.exists(p) for p in found)  # dry run removes nothing

    cleanup_artifacts(cat, apply=True, min_age_seconds=0)
    assert cleanup_artifacts(cat, min_age_seconds=0) == []
    assert spark.read.parquet(cat.relation("live").path).count() == 5  # live untouched
