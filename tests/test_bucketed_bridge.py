from __future__ import annotations

from pyspark.sql import functions as F

from dbt_parquet_spark.catalog import FilesystemCatalog
from dbt_parquet_spark.duck_bridge import duckdb_query, to_duckdb
from dbt_parquet_spark.materialize import create_table_as
from dbt_parquet_spark.sources.bucketed import cohorted_join, write_bucketed
from dbt_parquet_spark.sources.readers import load_table

from .conftest import SF_ORACLE


def test_bucketed_join_has_no_exchange(spark):
    orders = load_table(spark, SF_ORACLE, "orders")
    lineitem = load_table(spark, SF_ORACLE, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(lineitem, "b_lineitem", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    # At test scale the planner would broadcast (which bypasses bucketing);
    # disable it to exercise the big⋈big path bucketing exists for.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cohorted_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located: the bucket layout replaces the shuffle entirely
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        want = orders.join(lineitem, "o_orderkey").count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_duckdb_query_over_catalog(spark, tmp_path):
    db = FilesystemCatalog(str(tmp_path))
    create_table_as(
        spark, db, db.relation("nums"), spark.range(100).select("id"), single_file=True
    )
    out = duckdb_query(spark, "SELECT COUNT(*) AS n, SUM(id) AS s FROM nums", db)
    row = out.first()
    assert (row.n, row.s) == (100, 4950)


def test_duckdb_query_multipart_table(spark, tmp_path):
    """Part-file directories, flat or hive-partitioned, register as views
    over their resolved files; a partitioned table keeps its partition
    column and does not break the views of the other tables."""
    db = FilesystemCatalog(str(tmp_path))
    create_table_as(
        spark, db, db.relation("multi"), spark.range(1000).select("id"), single_file=False
    )
    create_table_as(
        spark, db, db.relation("parts"),
        spark.range(100).withColumn("p", F.col("id") % 4), partition_by=["p"],
    )
    out = duckdb_query(spark, "SELECT COUNT(*) AS n FROM multi", db)
    assert out.first().n == 1000
    out = duckdb_query(spark, "SELECT COUNT(*) AS n, SUM(p) AS s FROM parts", db)
    assert (out.first().n, out.first().s) == (100, 150)


def test_to_duckdb_roundtrip(spark):
    df = load_table(spark, SF_ORACLE, "region")
    con = to_duckdb(df, "regions")
    n = con.execute("SELECT COUNT(*) FROM regions").fetchone()[0]
    assert n == df.count()


def test_duckdb_query_preserves_arrow_types(spark):
    """Direct Arrow->Spark interop (r11 hygiene advice): microsecond
    timestamps survive and nullable ints stay integral (the pandas hop
    rewrote them to float64/NaN)."""
    out = duckdb_query(
        spark,
        "SELECT 1::BIGINT AS a, TIMESTAMP '2024-01-02 03:04:05.123456' AS ts, "
        "NULL::INT AS n UNION ALL SELECT 2, TIMESTAMP '2024-01-03', 7",
    )
    assert dict(out.dtypes) == {"a": "bigint", "ts": "timestamp", "n": "int"}
    rows = {r.a: r for r in out.collect()}
    assert rows[1].ts.microsecond == 123456
    assert rows[1].n is None and rows[2].n == 7


def test_duckdb_view_over_versioned_root_is_snapshot_exact(spark, tmp_path):
    """r12 advice (medium): a versioned root physically holds every
    retained version's files plus orphans — the DuckDB view must resolve
    the CURRENT snapshot's explicit file list, never a directory glob
    (which would union duplicate/stale rows)."""
    from dbt_parquet_spark.versioned import write_versioned

    db = FilesystemCatalog(str(tmp_path))
    rel = db.relation("vt")
    write_versioned(spark, db, rel, spark.range(10))          # v1
    write_versioned(spark, db, rel, spark.range(100, 105))    # v2 (replace)
    write_versioned(spark, db, rel, spark.range(105, 108), mode="append")  # v3
    # the root now holds v1's files (retained history) alongside v2+v3's
    out = duckdb_query(spark, "SELECT COUNT(*) AS n, MIN(id) AS lo FROM vt", db)
    row = out.first()
    assert (row.n, row.lo) == (8, 100)  # v3 snapshot only, no v1 rows


def test_duckdb_view_applies_deletion_vectors(spark, tmp_path):
    """A merge-on-read snapshot's DuckDB view anti-joins the DV sidecars
    (file_row_number + filename), matching readers.scan."""
    from pyspark.sql import functions as F

    from dbt_parquet_spark.versioned import delete_versioned, write_versioned

    db = FilesystemCatalog(str(tmp_path))
    rel = db.relation("vt_mor")
    write_versioned(spark, db, rel, spark.range(30).repartitionByRange(3, "id"))
    delete_versioned(spark, db, rel, F.col("id").between(10, 14), mode="mor")
    out = duckdb_query(
        spark, "SELECT COUNT(*) AS n, SUM(id) AS s FROM vt_mor", db
    )
    row = out.first()
    want = [i for i in range(30) if not 10 <= i <= 14]
    assert (row.n, row.s) == (len(want), sum(want))


def test_duckdb_view_over_shallow_clone(spark, tmp_path):
    """A shallow clone's DuckDB view resolves ref:// external references
    to their absolute source paths (and still applies the clone's own
    deletion vectors) — same rule as versioned._fpath."""
    from pyspark.sql import functions as F

    from dbt_parquet_spark.versioned import (
        clone_versioned,
        delete_versioned,
        write_versioned,
    )

    db = FilesystemCatalog(str(tmp_path))
    src = db.relation("vt_src")
    write_versioned(spark, db, src, spark.range(20))
    dst = db.relation("vt_cl")
    clone_versioned(db, src, dst)
    delete_versioned(spark, db, dst, F.col("id") < 5, mode="mor")
    write_versioned(spark, db, dst, spark.range(100, 103), mode="append")
    out = duckdb_query(spark, "SELECT COUNT(*) AS n, SUM(id) AS s FROM vt_cl", db)
    row = out.first()
    want = list(range(5, 20)) + [100, 101, 102]
    assert (row.n, row.s) == (len(want), sum(want))
