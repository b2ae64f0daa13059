from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_parquet_spark.catalog import FilesystemCatalog
from dbt_parquet_spark.diff import relations_equal
from dbt_parquet_spark.incremental import incremental_append, incremental_merge
from dbt_parquet_spark.sources.formats import (
    read_csv,
    read_json,
    read_orc,
    write_csv,
    write_json,
    write_orc,
)
from dbt_parquet_spark.materialize import create_table_as


@pytest.fixture()
def db(tmp_path):
    return FilesystemCatalog(str(tmp_path))


def test_csv_roundtrip(spark, tmp_path):
    df = spark.range(100).select("id", (F.col("id") * 2).alias("v"), F.lit("x").alias("s"))
    dest = str(tmp_path / "out_csv")
    write_csv(df, dest)
    back = read_csv(spark, dest)
    assert relations_equal(df, back)


def test_json_roundtrip(spark, tmp_path):
    df = spark.range(50).select(
        "id",
        F.struct(F.lit("a").alias("k"), (F.col("id") % 3).alias("m")).alias("nested"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
    )
    dest = str(tmp_path / "out_json")
    write_json(df, dest)
    back = read_json(spark, dest, schema=df.schema)
    assert relations_equal(df, back)


def test_json_overwrite_leaves_no_publish_siblings(spark, tmp_path):
    """Overwriting an existing destination swaps the new version into
    place and leaves neither the temp write nor the aside copy behind,
    also when the destination is spelled with a trailing slash."""
    dest = str(tmp_path / "out_json")
    write_json(spark.range(5), dest)
    write_json(spark.range(7), dest + "/")
    assert sorted(os.listdir(tmp_path)) == ["out_json"]
    assert read_json(spark, dest).count() == 7


def test_orc_roundtrip(spark, tmp_path):
    df = spark.range(100).select("id", (F.col("id") % 7).alias("m"), F.lit("t").alias("s"))
    dest = str(tmp_path / "out_orc")
    write_orc(df, dest)
    assert relations_equal(df, read_orc(spark, dest))


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.range(1000).select(
        "id", (F.col("id") % 5).alias("bucket"), (F.col("id") * 3).alias("v")
    )
    catalog = FilesystemCatalog(str(tmp_path))
    rel = catalog.relation("part_table")
    create_table_as(spark, catalog, rel, df, partition_by=["bucket"], register=False)
    dest = rel.path
    assert os.path.isdir(os.path.join(dest, "bucket=0"))
    back = spark.read.parquet(dest)
    q = back.filter(F.col("bucket") == 2)
    plan = q._jdf.queryExecution().executedPlan().toString()
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "bucket" in pf.split("PartitionFilters")[1][:80]  # pruning reached the scan
    assert q.count() == 200
    assert relations_equal(df, back.select("id", "bucket", "v"))


def test_incremental_append(spark, db):
    rel = db.relation("inc_t")
    d1 = spark.range(10).select("id", F.lit(1).alias("batch"))
    d2 = spark.range(10, 25).select("id", F.lit(2).alias("batch"))
    incremental_append(spark, db, rel, d1)
    out = incremental_append(spark, db, rel, d2)
    assert out.count() == 25
    assert out.filter(F.col("batch") == 2).count() == 15


def test_incremental_merge_upserts(spark, db):
    rel = db.relation("merge_t")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id: long, v: string")
    delta = spark.createDataFrame([(2, "B2"), (4, "d")], "id: long, v: string")
    incremental_merge(spark, db, rel, base, ["id"])
    out = incremental_merge(spark, db, rel, delta, ["id"])
    got = {(r.id, r.v) for r in out.collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}


def test_insert_overwrite_replaces_only_delta_partitions(spark, tmp_path):
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.incremental import incremental_insert_overwrite

    catalog = FilesystemCatalog(str(tmp_path))
    rel = catalog.relation("daily_facts")
    base = spark.range(100).select(
        "id", (F.col("id") % 4).alias("day"), (F.col("id") * 2).alias("v")
    )
    incremental_insert_overwrite(spark, catalog, rel, base, ["day"])
    assert spark.read.parquet(rel.path).count() == 100

    # replace day=1 with a 5-row rebuild; other partitions untouched
    rebuilt = spark.range(5).select(
        (F.col("id") + 1000).alias("id"), F.lit(1).alias("day"), F.lit(0).alias("v")
    )
    incremental_insert_overwrite(spark, catalog, rel, rebuilt, ["day"])
    back = spark.read.parquet(rel.path)
    assert back.filter(F.col("day") == 1).count() == 5
    assert back.filter(F.col("day") != 1).count() == 75
    # idempotent: rerunning the same delta changes nothing
    incremental_insert_overwrite(spark, catalog, rel, rebuilt, ["day"])
    assert spark.read.parquet(rel.path).count() == 80


def test_incremental_append_schema_evolution(spark, db):
    from pyspark.sql import functions as F

    rel = db.relation("evolving")
    v1 = spark.range(5).select("id", F.lit("a").alias("source"))
    incremental_append(spark, db, rel, v1)

    # new column without the flag: rejected loudly, nothing written
    v2 = spark.range(5, 8).select(
        "id", F.lit("b").alias("source"), F.lit(0.5).alias("quality")
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="schema mismatch"):
        incremental_append(spark, db, rel, v2)
    from dbt_parquet_spark.sources.readers import read_parquet

    assert read_parquet(spark, rel.path).count() == 5

    # with the flag: appended; merged read unions schemas, old rows NULL
    out = incremental_append(spark, db, rel, v2, schema_evolution=True)
    assert out.count() == 8
    assert set(out.columns) == {"id", "source", "quality"}
    assert out.filter(F.col("quality").isNull()).count() == 5
    assert out.filter(F.col("quality") == 0.5).count() == 3
