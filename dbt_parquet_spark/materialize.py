"""Materialization: CTAS, seeds, and the write-then-swap publish pattern.

Reference equivalents: ``COPY ({sql}) TO '{path}' (FORMAT 'parquet')``
(reference macros/adapters.sql:6-21) and the CSV seed loader
(reference impl.py:151-163, macros/seed.sql:9-12).

Two layouts:
- ``single_file=True``  — reference-compatible: exactly one ``table.parquet``
  file (coalesce(1) + rename of the part file). Single-writer; use only for
  small outputs / oracle parity.
- ``single_file=False`` — Spark-native (default): ``table.parquet/`` is a
  directory of part files written by all executors in parallel. This is the
  100 TB path; readers address it identically.

All file manipulation goes through the catalog's ``CatalogFS`` (pyarrow.fs),
so the same publish sequence runs against local disk, HDFS, or object
storage — matching the reference's PyFilesystem posture (reference
connections.py:33-37). Spark itself writes via its Hadoop connectors to the
``spark_url`` spelling of the same location.
"""

from __future__ import annotations

import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession

from .catalog import FilesystemCatalog, Relation
from .fs import CatalogFS


def _swap_into_place(io: CatalogFS, src: str, dest: str) -> None:
    """Publish src at dest (fs paths) without a moment where NEITHER version
    exists: move the old version aside, rename src into place, then delete
    the aside copy. A crash mid-sequence leaves either the old or the new
    version addressable (the aside copy is recoverable by name), never a
    missing table — the write-then-swap guarantee the reference's rename
    pattern implies (reference impl.py:75-85).

    On local/HDFS both moves are atomic renames. On object stores a "move"
    is copy+delete, so the swap is not instantaneous — the ordering still
    guarantees a readable version at every step, but for serving tables on
    S3 prefer a manifest/table-format layer on top."""
    aside = None
    if io.exists(dest):
        aside = io.join(posixpath.dirname(dest), f".old_{posixpath.basename(dest)}_{uuid.uuid4().hex[:8]}")
        io.rename(dest, aside)
    io.rename(src, dest)
    if aside is not None:
        io.remove_any(aside)


def _publish_single_file(io: CatalogFS, tmp_dir: str, dest: str) -> None:
    parts = [
        io.join(tmp_dir, e)
        for e in io.listdir(tmp_dir)
        if e.startswith("part-") and e.endswith(".parquet")
    ]
    assert len(parts) == 1, f"expected one part file, got {parts}"
    _swap_into_place(io, parts[0], dest)
    io.rmtree(tmp_dir)


def create_table_as(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    df_or_sql: DataFrame | str,
    single_file: bool = False,
    register: bool = True,
    partition_by: list[str] | None = None,
) -> DataFrame | None:
    """CTAS (reference macros/adapters.sql:10): execute → write parquet →
    register view. Writes go to a temp name then swap (atomic publish per
    reference impl.py:75-85 rename pattern) so a failed write never clobbers
    the previous table version. Returns the registered view's DataFrame:
    its schema comes from the footer, so no job runs after the write.
    ``register=False`` only writes and returns None.

    ``partition_by`` writes a hive-partitioned directory layout
    (``col=value/part-*.parquet``) — the scale lever for selective reads:
    a filter on the partition column becomes PartitionFilters at the scan
    (whole directories skipped, no footer even opened). Incompatible with
    ``single_file`` by construction."""
    io = catalog.io
    df = spark.sql(df_or_sql) if isinstance(df_or_sql, str) else df_or_sql
    fs_dest = catalog.fs_path(rel)
    parent = posixpath.dirname(fs_dest)
    io.makedirs(parent)
    fs_tmp = io.join(parent, f".tmp_{rel.table}_{uuid.uuid4().hex[:8]}")
    spark_tmp = io.spark_url(fs_tmp)  # raises on metadata-only FS (memory://)
    if single_file:
        assert not partition_by, "single_file layout cannot be partitioned"
        df.coalesce(1).write.mode("overwrite").parquet(spark_tmp)
        _publish_single_file(io, fs_tmp, fs_dest)
    elif partition_by:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(spark_tmp)
        _swap_into_place(io, fs_tmp, fs_dest)
    else:
        df.write.mode("overwrite").parquet(spark_tmp)
        _swap_into_place(io, fs_tmp, fs_dest)
    return catalog.register_view(spark, rel) if register else None


# -- seeds (reference impl.py:151-163, 185-208) -----------------------------
def load_seed(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    csv_path: str,
    rel: Relation,
    single_file: bool = True,
    register: bool = True,
) -> DataFrame | None:
    """CSV → typed parquet table. ``inferSchema`` reproduces the reference's
    agate-driven inference (reference impl.py:185-208): ints stay integral,
    any decimal → double, ISO dates/timestamps → date/timestamp, bools →
    boolean.

    TIME-typed columns (reference impl.py:206-208 agate time → TIME) have no
    Spark equivalent; Spark's CSV inference would otherwise coerce bare
    ``HH:MM:SS`` values to a timestamp ON TODAY'S DATE — silent, run-date-
    dependent corruption. Such columns are detected and kept as strings
    (lossless, castable downstream), the SURVEY §1.2 documented behavior.
    Seeds are small by definition → single-file layout by default."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    inferred = spark.read.option("header", True).option("inferSchema", True).csv(csv_path)
    ts_cols = [f.name for f in inferred.schema.fields if isinstance(f.dataType, T.TimestampType)]
    if ts_cols:
        raw = spark.read.option("header", True).csv(csv_path)
        time_only = r"^\d{1,2}:\d{2}(:\d{2}(\.\d+)?)?$"
        flags = raw.agg(
            *[
                F.min(F.coalesce(F.col(c).rlike(time_only), F.lit(False))).alias(c)
                for c in ts_cols
            ]
        ).first()
        demote = {c for c in ts_cols if flags[c]}
        if demote:
            schema = T.StructType(
                [
                    T.StructField(f.name, T.StringType() if f.name in demote else f.dataType, True)
                    for f in inferred.schema.fields
                ]
            )
            inferred = spark.read.option("header", True).schema(schema).csv(csv_path)
    return create_table_as(spark, catalog, rel, inferred, single_file=single_file, register=register)
