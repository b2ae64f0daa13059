"""The versioned_cdf Structured Streaming source (streaming/cdf_source.py):
offset semantics (commit versions), checkpointed incremental pickup,
per-op hop classification incl. the rollback-resurrection case, CoW
refusal, and value equivalence with the batch change feed."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from dbt_parquet_spark.catalog import FilesystemCatalog
from dbt_parquet_spark.streaming.cdf_source import _CDFStreamReader, register_cdf_source
from dbt_parquet_spark.versioned import (
    delete_versioned,
    merge_versioned,
    read_versioned_changes_feed,
    rollback_versioned,
    write_versioned,
)


@pytest.fixture()
def vt(tmp_path):
    catalog = FilesystemCatalog(str(tmp_path / "db"))
    return catalog, catalog.relation("t")


def _stream_rows(spark, catalog, table, checkpoint, start_version=0):
    register_cdf_source(spark)
    name = f"cdf_{abs(hash(checkpoint)) % 10**8}"
    q = (
        spark.readStream.format("versioned_cdf")
        .option("database", catalog.database)
        .option("table", table)
        .option("startversion", str(start_version))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.awaitTermination(180)
    return sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in spark.table(name).collect()
    )


def test_checkpointed_incremental_pickup(spark, vt, tmp_path):
    """Two availableNow passes over ONE checkpoint (parquet sink — the
    recoverable kind): the second processes only the commits that landed
    after the first — Spark's own offset machinery carries the
    exactly-once cursor (versions are the offsets)."""
    catalog, rel = vt
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run_pass():
        register_cdf_source(spark)
        q = (
            spark.readStream.format("versioned_cdf")
            .option("database", catalog.database)
            .option("table", "t")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return sorted(
            (r["_commit_version"], r["_change_type"], r["id"])
            for r in spark.read.parquet(out).collect()
        )

    write_versioned(spark, catalog, rel, spark.range(10))             # v1
    delete_versioned(spark, catalog, rel, F.col("id") < 3, mode="mor")  # v2
    first = run_pass()
    assert first == sorted(
        [(1, "insert", i) for i in range(10)]
        + [(2, "delete", i) for i in range(3)]
    )
    write_versioned(spark, catalog, rel, spark.range(20, 23), mode="append")  # v3
    rollback_versioned(catalog, rel, 2)                                # v4
    both = run_pass()
    # only v3/v4 rows were ADDED across the restart (no v1/v2 duplicates)
    assert both == sorted(
        first
        + [(3, "insert", i) for i in range(20, 23)]
        + [(4, "delete", i) for i in range(20, 23)]
    )


def test_rollback_resurrection_streams_as_inserts(spark, vt):
    catalog, rel = vt
    write_versioned(spark, catalog, rel, spark.range(8))               # v1
    delete_versioned(spark, catalog, rel, F.col("id") >= 6, mode="mor")  # v2
    rollback_versioned(catalog, rel, 1)                                # v3
    rows = _stream_rows(
        spark, catalog, "t", tempfile.mkdtemp(prefix="cdf_ck_"),
        start_version=2,
    )
    assert rows == [(3, "insert", 6), (3, "insert", 7)]


def test_cow_commit_refused_with_pointer(spark, vt):
    catalog, rel = vt
    write_versioned(spark, catalog, rel, spark.range(10))
    delete_versioned(spark, catalog, rel, F.col("id") < 5)  # CoW rewrite
    with pytest.raises(Exception, match="copy-on-write"):
        _stream_rows(spark, catalog, "t", tempfile.mkdtemp(prefix="cdf_ck_"))


def test_stream_matches_batch_feed_on_mor_history(spark, vt):
    """Bag equality with read_versioned_changes_feed over a history of
    value-changing MoR commits (append, MoR delete, MoR merge with
    changed values) — the two consumer paths agree row for row."""
    catalog, rel = vt
    base = spark.range(30).select("id", (F.col("id") % 5).alias("grp"))
    write_versioned(spark, catalog, rel, base.repartitionByRange(3, "id"),
                    stats_cols=("id",))                                # v1
    delete_versioned(spark, catalog, rel, F.col("id") % 7 == 2, mode="mor")  # v2
    upd = spark.range(4).select(
        (F.col("id") * 3).alias("id"), F.lit(99).cast("bigint").alias("grp")
    )
    merge_versioned(spark, catalog, rel, upd, key="id", mode="mor")    # v3

    register_cdf_source(spark)
    stream = (
        spark.readStream.format("versioned_cdf")
        .option("database", catalog.database)
        .option("table", "t")
        .option("startversion", "1")
        .load()
    )
    from dbt_parquet_spark.streaming.stream_ops import run_to_batch

    got = sorted(
        tuple(r) for r in run_to_batch(stream, spark, output_mode="append")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in read_versioned_changes_feed(spark, catalog, rel, 1)
        .select("id", "grp", "_change_type", "_commit_version")
        .collect()
    )
    assert got == want


class _RecordingFS:
    """A filesystem that delegates to ``base`` and records every file
    opened for reading."""

    def __init__(self, base):
        self.base, self.opened = base, []

    def open_input_file(self, path):
        self.opened.append(path)
        return self.base.open_input_file(path)

    def __getattr__(self, name):
        return getattr(self.base, name)


def test_partitions_and_read_open_through_catalog_fs(tmp_path, monkeypatch):
    """No Spark: with the database mapped to a recording filesystem whose
    fs paths carry no scheme and are not local paths (an object store's
    ``bucket/key`` shape), planning and reading a merge-on-read history open
    every data and deletion-vector file through the catalog's ``CatalogFS``."""
    import pyarrow as pa
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    from dbt_parquet_spark import catalog as catalog_mod
    from dbt_parquet_spark import commitlog, fs
    from dbt_parquet_spark.versioned import VERSIONS_MANIFEST

    rec = _RecordingFS(pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem()))

    def resolve_database(database):
        assert database == "lake://db"
        return fs.CatalogFS(rec, "bucket/db", spark_prefix=None)

    monkeypatch.setattr(fs, "resolve_database", resolve_database)
    monkeypatch.setattr(catalog_mod, "resolve_database", resolve_database)
    io = resolve_database("lake://db")
    root = io.join(io.root, "t.parquet")
    io.makedirs(root)
    for name, cols in {
        "a.parquet": {"id": list(range(6))},
        "b.parquet": {"id": [10, 11]},
        "dv2.parquet": {"file": ["a.parquet", "a.parquet"], "pos": [1, 4]},
    }.items():
        with io.open_output(io.join(root, name)) as fh:
            pq.write_table(pa.table(cols), fh)
    entry = {"columns": ["id"], "dtypes": {"id": "bigint"}}
    commitlog.commit(io, root, VERSIONS_MANIFEST, {"current": 3, "versions": {
        "1": {**entry, "op": "append", "files": ["a.parquet"], "rows": 6},
        "2": {**entry, "op": "delete-mor", "files": ["a.parquet"],
              "dv": ["dv2.parquet"], "rows": 4},
        "3": {**entry, "op": "append", "files": ["a.parquet", "b.parquet"],
              "dv": ["dv2.parquet"], "rows": 6},
    }})

    reader = _CDFStreamReader({"database": "lake://db", "table": "t"})
    rec.opened.clear()
    rows = sorted(
        (row[2], row[1], row[0])
        for p in reader.partitions(reader.initialOffset(), reader.latestOffset())
        for row in reader.read(p)
    )
    assert rows == [(1, "insert", i) for i in range(6)] + [
        (2, "delete", 1), (2, "delete", 4), (3, "insert", 10), (3, "insert", 11),
    ]
    assert {p for p in rec.opened if p.endswith(".parquet")} == {
        io.join(root, n) for n in ("a.parquet", "b.parquet", "dv2.parquet")
    }
