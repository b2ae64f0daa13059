"""Source/sink format breadth beyond the reference's parquet+CSV-in
(reference surface: parquet scan A1, csv seed A4, parquet sink A3 —
SURVEY §2B Scans/Sinks rows list "no JSON/ORC/JDBC" as reference gaps;
these are the Spark-native extensions a real pipeline needs).

All writers follow the same write-to-temp + swap publish as
materialize.create_table_as.
"""

from __future__ import annotations

import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..fs import resolve_database
from ..materialize import _swap_into_place


def _atomic_publish(df_writer, dest: str) -> None:
    """Write through ``df_writer`` into a ``.tmp_`` sibling of ``dest``, then
    publish it with ``materialize._swap_into_place`` on the filesystem that
    owns ``dest``'s parent: at every moment ``dest`` holds the old version
    or the new one, and no ``.tmp_``/``.old_`` sibling outlives a success.
    A trailing slash on ``dest`` names the same destination."""
    dest = dest.rstrip("/")
    io = resolve_database(posixpath.dirname(dest))
    name = posixpath.basename(dest)
    tmp = io.join(io.root, f".tmp_{name}_{uuid.uuid4().hex[:8]}")
    df_writer(io.spark_url(tmp))
    _swap_into_place(io, tmp, io.join(io.root, name))


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
