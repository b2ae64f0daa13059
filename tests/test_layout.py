"""Z-order layout (operators/layout.py): curve correctness + the actual
file-pruning payoff, measured from parquet footers alone."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dbt_parquet_spark.operators.layout import (
    _orders_bounds,
    cluster,
    q_zorder_layout,
    zorder_expr,
)
from dbt_parquet_spark.sources.readers import load_table

from .conftest import SF_ORACLE, SF_SMALL


def _py_morton(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for j in range(bits):
        z |= ((x >> j) & 1) << (2 * j)
        z |= ((y >> j) & 1) << (2 * j + 1)
    return z


def test_zorder_value_matches_pure_python(spark):
    """The engine-portable divide/mod formulation must equal a plain
    shift-based Morton interleave of the same quantized inputs."""
    orders = load_table(spark, SF_SMALL, "orders")
    cmin, cmax, dmin, dmax = _orders_bounds(orders)
    rows = (
        orders.select(
            "o_custkey",
            F.expr("datediff(o_orderdate, DATE '1992-01-01')").alias("day"),
            zorder_expr(cmin, cmax, dmin, dmax).alias("zval"),
        )
        .limit(200)
        .collect()
    )
    assert rows
    for r in rows:
        xi = (r.o_custkey - cmin) * 65535 // (cmax - cmin)
        yi = (r.day - dmin) * 65535 // (dmax - dmin)
        assert r.zval == _py_morton(xi, yi)
        assert 0 <= r.zval < 1 << 32


def _overlap_count(files: list[str], col: str, lo, hi) -> int:
    """How many files a [lo, hi] predicate on col must read, judged by the
    footer min/max stats — the same evidence Spark's scan uses to skip
    row-groups."""
    n = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index(col)
        fmin = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        fmax = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        if fmax >= lo and fmin <= hi:
            n += 1
    return n


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """A date-sorted layout prunes date predicates but every file spans the
    full customer range; the Z-ordered layout must cut the customer-range
    overlap to at most half while keeping real date pruning too. Needs
    enough files for the curve prefix to reach the custkey bits (at 16
    files only 2 custkey bits constrain each file; 64 files -> 3, measured
    25/64 overlap vs 64/64 for date-sort at sf0.01 — all deterministic
    modulo repartitionByRange's sampled boundaries, hence the 2x margin)."""
    orders = load_table(spark, SF_ORACLE, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cmin, cmax, dmin, dmax = _orders_bounds(orders)
    z = orders.withColumn("zval", zorder_expr(cmin, cmax, dmin, dmax))

    zdir, ddir = str(tmp_path / "z"), str(tmp_path / "bydate")
    cluster(z, 64, ["zval"]).write.parquet(zdir)
    (
        orders.repartitionByRange(64, F.col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.parquet(ddir)
    )
    zfiles = sorted(glob.glob(f"{zdir}/*.parquet"))
    dfiles = sorted(glob.glob(f"{ddir}/*.parquet"))
    assert len(zfiles) >= 32 and len(dfiles) >= 32

    # ~10%-of-keyspace customer slice
    lo = cmin + (cmax - cmin) * 45 // 100
    hi = cmin + (cmax - cmin) * 55 // 100
    z_hit = _overlap_count(zfiles, "o_custkey", lo, hi)
    d_hit = _overlap_count(dfiles, "o_custkey", lo, hi)
    assert d_hit == len(dfiles)  # date-sort gives customer predicates nothing
    assert z_hit * 2 <= d_hit, f"zorder {z_hit}/{len(zfiles)} vs date {d_hit}"

    # and the z layout still prunes on date (both dims narrow per file)
    import datetime

    mid_lo = datetime.datetime(1995, 1, 1, tzinfo=datetime.timezone.utc)
    mid_hi = datetime.datetime(1995, 7, 1, tzinfo=datetime.timezone.utc)
    z_date_hit = _overlap_count(zfiles, "o_orderdate", mid_lo, mid_hi)
    assert z_date_hit < len(zfiles)


def test_zorder_column_all_null_axis(spark):
    """zorder_column degrades to a constant curve (no crash) when EITHER
    axis has no usable grid (r13 advice: only row[0] was None-checked, so
    a non-empty df whose SECOND column is all NULL raised TypeError
    inside optimize_versioned(zorder_by=...))."""
    from pyspark.sql import functions as F

    from dbt_parquet_spark.operators.layout import zorder_column

    df = spark.range(10).select(
        F.col("id").alias("a"), F.lit(None).cast("bigint").alias("b")
    )
    z = df.select(zorder_column(df, "a", "b").alias("z")).collect()
    assert [r["z"] for r in z] == [0] * 10
    # ...and symmetrically for the first column
    df2 = spark.range(10).select(
        F.lit(None).cast("bigint").alias("a"), F.col("id").alias("b")
    )
    z2 = df2.select(zorder_column(df2, "a", "b").alias("z")).collect()
    assert [r["z"] for r in z2] == [0] * 10
