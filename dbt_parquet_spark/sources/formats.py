"""Source/sink format breadth beyond the reference's parquet+CSV-in
(reference surface: parquet scan A1, csv seed A4, parquet sink A3 —
SURVEY §2B Scans/Sinks rows list "no JSON/ORC/JDBC" as reference gaps;
these are the Spark-native extensions a real pipeline needs).

All writers follow the same write-to-temp + atomic-rename publish as
materialize.create_table_as.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _atomic_publish(df_writer, dest: str) -> None:
    tmp = os.path.join(os.path.dirname(dest), f".tmp_{os.path.basename(dest)}_{uuid.uuid4().hex[:8]}")
    df_writer(tmp)
    if os.path.exists(dest):
        shutil.rmtree(dest) if os.path.isdir(dest) else os.remove(dest)
    os.rename(tmp, dest)


def write_csv(df: DataFrame, dest: str, header: bool = True) -> None:
    """CSV sink (the reverse of the reference's seed loader)."""
    _atomic_publish(
        lambda p: df.write.mode("overwrite").option("header", header).csv(p), dest
    )


def read_csv(spark: SparkSession, path: str, header: bool = True, infer: bool = True) -> DataFrame:
    return spark.read.option("header", header).option("inferSchema", infer).csv(path)


def write_json(df: DataFrame, dest: str) -> None:
    """JSON-lines sink."""
    _atomic_publish(lambda p: df.write.mode("overwrite").json(p), dest)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source; pass an explicit schema at scale (inference scans
    the data twice)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_orc(df: DataFrame, dest: str) -> None:
    """ORC sink — the other major columnar format (native Spark support)."""
    _atomic_publish(lambda p: df.write.mode("overwrite").orc(p), dest)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_partitioned(df: DataFrame, dest: str, partition_by: list[str]) -> None:
    """Hive-style partitioned parquet table (dest/col=val/part-*.parquet).

    THE 100 TB layout: partition pruning turns predicates on the partition
    columns into directory listing, so a day-filter over years of data
    touches only that day's files. The reference explicitly cannot do this
    (single file per table, reference README.md:49).
    """
    _atomic_publish(
        lambda p: df.write.mode("overwrite").partitionBy(*partition_by).parquet(p), dest
    )


def write_sorted(df: DataFrame, dest: str, sort_cols: list[str], files: int = 0) -> None:
    """Write parquet ordered by ``sort_cols`` within each file.

    Ordering is what makes row-group min/max statistics selective: a range
    predicate on the sort column then skips whole row groups at scan time
    (the poor man's index — at 100 TB, sorting a time-series table by ts
    before writing is often a 10-100× read win for range queries).
    tests/test_formats_incremental.py asserts disjoint row-group stats.
    """
    out = df.repartitionByRange(files, *sort_cols) if files else df
    out = out.sortWithinPartitions(*sort_cols)
    _atomic_publish(lambda p: out.write.mode("overwrite").parquet(p), dest)
