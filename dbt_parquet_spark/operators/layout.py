"""Multi-dimensional data layout: Z-order (Morton) clustering for
row-group / file pruning.

At 100 TB a scan's cost is decided by how many parquet row-groups the
footer min/max stats let it SKIP. Sorting by one column prunes predicates
on that column only; interleaving the bits of two quantized sort keys
(the Z-order curve — Morton 1966, the layout primitive behind
Delta/Iceberg OPTIMIZE ZORDER) gives every file a narrow min/max range on
BOTH dimensions, so selective predicates on either column (or both) skip
most files. ``q_zorder_layout`` computes the curve position as a pure
integer column expression (exact in any engine — the registered oracle
replays it in DuckDB). ``tests/test_layout.py`` proves the payoff from
parquet footers alone: under a customer-range predicate the Z-ordered
layout's overlapping-file count is a fraction of a date-sorted layout's.

This module owns the clustered rewrite: ``zorder_column`` is the one curve
(each dimension quantized from the table's MIN/MAX first, so keys of any
magnitude — timestamps, wide surrogate ids — use the full grid instead of
aliasing), ``cluster`` the one range-partition + in-file sort step, and
``file_count`` the one output-sizing rule. ``maintenance.cluster_by`` /
``compact`` (catalog rewrites, atomically republished) and
``versioned.optimize_versioned`` (a new committed version) call them.

Scale: the curve value is a map-only expression; the only extra cost at
write time is the range exchange + in-partition sort Spark already needs
to produce sorted files. Quantization bounds come from one MIN/MAX
aggregate (2n scalars on the driver — KB-scale, the convergence-scalar
discipline).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.readers import load_table

ZBITS = 16  # bits per dimension -> 32-bit curve positions
_EPOCH = "1992-01-01"  # TPC-H order-date epoch for day numbering


def _quantize(col: str, lo: str, hi: str, div: str, grid: int = 65535) -> str:
    """Map col from [lo, hi] onto the integer grid [0, grid] with exact
    integer arithmetic (inputs are BIGINT in both engines)."""
    return f"((({col}) - ({lo})) * {grid}) {div} (({hi}) - ({lo}))"


def _interleave_n_sql(quantized: list[str], div: str, bits: int) -> str:
    """N-dimensional bit interleave: bit j of dimension i lands at
    position j*n + i — the general Morton curve. Engine-portable integer
    arithmetic: integer divide ('div' in Spark SQL, '//' in DuckDB), %, *,
    + — no shift operators, so ONE formula renders in both engines.
    Curve width = bits * n, kept under 63 by the caller's bits choice."""
    n = len(quantized)
    terms = []
    for j in range(bits):
        p = 1 << j
        for i, q in enumerate(quantized):
            terms.append(f"((({q}) {div} {p}) % 2) * {1 << (j * n + i)}")
    return "(" + " + ".join(terms) + ")"


_DUCK_DAY = f"(CAST(o_orderdate AS DATE) - DATE '{_EPOCH}')"
_SPARK_DAY = f"datediff(o_orderdate, DATE '{_EPOCH}')"

_ZORDER_ORACLE = f"""
    WITH b AS (
        SELECT CAST(MIN(o_custkey) AS BIGINT) AS cmin,
               CAST(MAX(o_custkey) AS BIGINT) AS cmax,
               CAST(MIN({_DUCK_DAY}) AS BIGINT) AS dmin,
               CAST(MAX({_DUCK_DAY}) AS BIGINT) AS dmax
        FROM orders
    )
    SELECT o_orderkey,
           CAST({_interleave_n_sql(
               [
                   _quantize("CAST(o_custkey AS BIGINT)", "b.cmin", "b.cmax", "//"),
                   _quantize(f"CAST({_DUCK_DAY} AS BIGINT)", "b.dmin", "b.dmax", "//"),
               ],
               "//",
               ZBITS,
           )} AS BIGINT) AS zval
    FROM orders, b
"""


def zorder_expr(cmin: int, cmax: int, dmin: int, dmax: int):
    """The Spark curve-position column for orders over (o_custkey,
    order-day), with the quantization bounds baked in as literals."""
    return F.expr(
        _interleave_n_sql(
            [
                _quantize("o_custkey", str(cmin), str(cmax), "div"),
                _quantize(_SPARK_DAY, str(dmin), str(dmax), "div"),
            ],
            "div",
            ZBITS,
        )
    ).cast("long")


def _orders_bounds(orders: DataFrame) -> tuple[int, int, int, int]:
    """MIN/MAX quantization bounds; an EMPTY table yields the degenerate
    (0, 1, 0, 1) frame (zval 0 for zero rows) and a single-valued dimension
    widens its span to 1 so the quantizer never divides by zero."""
    day = F.expr(_SPARK_DAY)
    row = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min(day), F.max(day)
    ).first()
    if row[0] is None:
        return 0, 1, 0, 1
    cmin, cmax, dmin, dmax = (int(v) for v in row)
    return cmin, max(cmax, cmin + 1), dmin, max(dmax, dmin + 1)


@register(
    "q_zorder_layout",
    oracle=_ZORDER_ORACLE,
    tags=("layout", "zorder", "pruning"),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, zval): every order's Z-order curve position over
    (o_custkey, order-day), both quantized to 16 bits from the table's
    MIN/MAX. Pure integer arithmetic, so the oracle value-matches exactly;
    ``cluster`` on this column clusters the physical layout by it."""
    orders = load_table(spark, sf_dir, "orders")
    cmin, cmax, dmin, dmax = _orders_bounds(orders)
    return orders.select(
        "o_orderkey", zorder_expr(cmin, cmax, dmin, dmax).alias("zval")
    )


def zorder_column(df: DataFrame, *cols: str):
    """Generic curve-position Column over 2-4 integer-castable columns of
    df, each quantized from the df's own MIN/MAX (one scalar aggregate —
    2n driver scalars) onto a per-dimension grid sized so the interleaved
    curve fits a signed long (16 bits/dim at n<=3, 15 at n=4). The
    reusable form of zorder_expr for arbitrary tables; ``cluster`` sorts
    by it so every rewritten file covers a narrow min/max box on EVERY
    listed dimension and footer or manifest skipping stats prune on any
    predicate column (the Delta OPTIMIZE ZORDER role)."""
    if not 2 <= len(cols) <= 4:
        raise ValueError(f"zorder takes 2-4 columns, got {list(cols)}")
    bits = min(ZBITS, 62 // len(cols))
    grid = (1 << bits) - 1
    aggs = []
    for c in cols:
        b = F.col(c).cast("bigint")
        aggs += [F.min(b), F.max(b)]
    row = df.agg(*aggs).first()
    if any(v is None for v in row):
        # empty df, or ANY column all-NULL (r13 advice: checking only
        # row[0] let an all-NULL later column raise TypeError inside
        # optimize): no usable grid on every axis -> constant curve, the
        # rewrite degrades to a plain coalesce instead of crashing.
        return F.lit(0).cast("long")
    quantized = []
    for i, c in enumerate(cols):
        lo = int(row[2 * i])
        hi = max(int(row[2 * i + 1]), lo + 1)
        quantized.append(
            _quantize(f"CAST(`{c}` AS BIGINT)", str(lo), str(hi), "div", grid)
        )
    return F.expr(_interleave_n_sql(quantized, "div", bits)).cast("long")


def file_count(total_bytes: int, target_bytes: int) -> int:
    """How many files a rewrite of ``total_bytes`` writes: enough that none
    exceeds ``target_bytes`` on average, and at least one."""
    return max(1, -(-total_bytes // target_bytes))


def cluster(
    df: DataFrame,
    n_files: int,
    cols: Sequence[str],
    zorder: bool = False,
    within: Sequence[str] = (),
) -> DataFrame:
    """df range-partitioned into ``n_files`` contiguous key ranges and
    sorted within each, so every written file — and every row group in it —
    covers a narrow min/max range and footer stats skip it for selective
    predicates. The key is ``cols`` in lexicographic order, which makes
    only the first column selective; with ``zorder`` and 2-4 columns it is
    their ``zorder_column`` curve position, which makes every listed column
    selective (more than 4 raise ValueError; one column is its own order).
    The range exchange samples the key distribution; the in-file sort is
    the one any sorted write pays. ``within`` (a partitioned write's
    partition columns) leads the in-file sort, so the write adds no sort
    of its own."""
    if zorder and len(cols) > 1:
        z = "__zorder"
        df = df.withColumn(z, zorder_column(df, *cols))
        return df.repartitionByRange(n_files, z).sortWithinPartitions(*within, z).drop(z)
    return df.repartitionByRange(n_files, *cols).sortWithinPartitions(*within, *cols)
