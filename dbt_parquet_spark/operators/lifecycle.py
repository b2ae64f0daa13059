"""Lifecycle queries — exercise the catalog + materialization layer
(SURVEY §2C q_seed_roundtrip / q_schema_introspect, plus a CTAS round-trip
that IS oracle-checkable because the round-trip must be lossless).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..catalog import FilesystemCatalog
from ..materialize import create_table_as, load_seed
from ..registry import register
from ..sources.readers import load_table

# Deterministic seed CSV covering the reference's type-inference matrix
# (reference impl.py:185-208): int, text, timestamp, bool, date, float.
SEED_CSV = """id,name,some_date,is_active,joined,score
1,Easton,1981-05-20T06:46:51,true,2020-01-01,1.5
2,Lillian,1978-09-03T18:10:33,false,2020-02-01,2.25
3,Jeremiah,1982-03-11T03:59:51,true,2020-03-01,3.0
4,Nolan,1976-05-06T20:21:35,false,2020-04-01,4.75
5,Hannah,1982-06-23T05:41:26,true,2020-05-01,5.0
6,Eleanor,1991-08-10T23:12:21,false,2020-06-01,6.5
7,Lily,1971-03-29T14:58:02,true,2020-07-01,7.25
8,Jonathan,1988-02-26T02:55:24,false,2020-08-01,8.0
9,Adrian,1994-02-09T13:14:23,true,2020-09-01,9.75
10,Nora,1976-03-09T01:04:30,false,2020-10-01,10.5
"""


def _seed_values_sql() -> str:
    """The seed CSV as a typed VALUES relation — the oracle for the seed
    round-trip: CSV → inferSchema → parquet → re-read must reproduce exactly
    these typed values (type-inference matrix of reference impl.py:185-208)."""
    rows = []
    for line in SEED_CSV.strip().splitlines()[1:]:
        i, name, ts, b, d, score = line.split(",")
        rows.append(
            f"({i}, '{name}', TIMESTAMP '{ts.replace('T', ' ')}', {b}, DATE '{d}', "
            f"CAST({score} AS DOUBLE))"  # bare 1.5 would be DECIMAL in DuckDB
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(id, name, some_date, is_active, joined, score) ORDER BY id"
    )


@register("q_seed_roundtrip", oracle=_seed_values_sql(), tags=("seed", "materialize"))
def q_seed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV seed → parquet → re-read (reference impl.py:151-163 read_csv_auto
    COPY; dbt-tests-adapter's 10-row base seed, reference test_basic.py:47).

    Oracle = the CSV's content as a typed VALUES relation, so the driver
    value-checks the whole inference+write+read loop."""
    tmp = memo.scratch_dir(spark, "seed_db_")
    csv_path = os.path.join(tmp, "base.csv")
    with open(csv_path, "w") as f:
        f.write(SEED_CSV)
    catalog = FilesystemCatalog(tmp)
    catalog.create_schema("seeds")
    rel = catalog.relation("base", "seeds")
    df = load_seed(spark, catalog, csv_path, rel)
    return df.orderBy("id")


# DuckDB type name → Spark simpleString, for the portable catalog
# comparison. TIMESTAMP is deliberately one bucket: parquet's
# isAdjustedToUTC flag distinguishes Spark's timestamp vs timestamp_ntz,
# but DuckDB reports both as TIMESTAMP, so the portable taxonomy collapses
# them (the full-fidelity simpleString stays in catalog_df itself).
_PORTABLE_TYPE_SQL = """
    CASE data_type
        WHEN 'BIGINT'    THEN 'bigint'
        WHEN 'INTEGER'   THEN 'int'
        WHEN 'VARCHAR'   THEN 'string'
        WHEN 'DOUBLE'    THEN 'double'
        WHEN 'FLOAT'     THEN 'float'
        WHEN 'BOOLEAN'   THEN 'boolean'
        WHEN 'DATE'      THEN 'date'
        WHEN 'FLOAT[]'   THEN 'array<float>'
        WHEN 'DOUBLE[]'  THEN 'array<double>'
        WHEN 'TIMESTAMP' THEN 'timestamp'
        WHEN 'TIMESTAMP_NS' THEN 'timestamp'
        ELSE lower(data_type)
    END
"""


@register(
    "q_schema_introspect",
    oracle=f"""
    SELECT '' AS table_schema,
           table_name,
           column_name,
           CAST(ordinal_position - 1 AS INTEGER) AS column_index,
           {_PORTABLE_TYPE_SQL} AS column_type
    FROM information_schema.columns
    WHERE table_name IN ('region', 'nation', 'customer', 'supplier', 'part',
                         'orders', 'lineitem', 'events', 'documents', 'embeddings')
    """,
    tags=("catalog",),
)
def q_schema_introspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs-catalog DataFrame over the testdata database: every (schema,
    table, column, index, type), from parquet footers only — the Spark analog
    of reference macros/catalog.sql:1-36 + impl.py:97-103.

    Oracle = DuckDB's information_schema over the same tables, with type
    names mapped into a shared portable taxonomy (see _PORTABLE_TYPE_SQL),
    so the driver value-checks the whole footer-read + catalog pipeline."""
    catalog = FilesystemCatalog(sf_dir)
    df = catalog.catalog_df(spark)
    portable = F.when(
        F.col("column_type").isin("timestamp", "timestamp_ntz"), F.lit("timestamp")
    ).otherwise(F.col("column_type"))
    return df.withColumn("column_type", portable)


@register(
    "q_materialize_roundtrip",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("materialize", "ctas"),
)
def q_materialize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS round-trip (reference macros/adapters.sql:10 COPY … TO parquet):
    materialize the q_join_multi result as a parquet table (single-file
    reference layout), read it back, and return it. Oracle SQL is the
    original query — so the driver verifies the materialization is lossless
    end-to-end (values, schema, row count)."""
    from .relational import q_join_multi

    tmp = memo.scratch_dir(spark, "ctas_db_")
    catalog = FilesystemCatalog(tmp)
    rel = catalog.relation("nation_rollup")
    result = q_join_multi(spark, sf_dir)
    return create_table_as(spark, catalog, rel, result, single_file=True)


@register(
    "q_cluster_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
    tags=("materialize", "clustering"),
)
def q_cluster_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustering round-trip: materialize events, rewrite it with
    maintenance.cluster_by(user_id) (range-repartition + sort, atomic
    republish), and return the clustered table — the oracle is the original
    content, so the driver verifies the clustering rewrite is LOSSLESS
    end-to-end while tests/test_maintenance.py verifies it actually makes
    row-group stats selective.

    Scale: clustering is the data-skipping lever for plain parquet — see
    maintenance.cluster_by / SCALE.md "Sort clustering".
    """
    from ..maintenance import cluster_by

    tmp = memo.scratch_dir(spark, "cluster_db_")
    catalog = FilesystemCatalog(tmp)
    rel = catalog.relation("events_clustered")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    create_table_as(spark, catalog, rel, events, single_file=False, register=False)
    return cluster_by(spark, catalog, rel, ["user_id"], target_file_bytes=1 << 20)


@register(
    "q_bucketed_join",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("materialize", "bucketing", "join"),
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: orders and customer are materialized as
    bucketed tables (8 buckets on the join key, sorted within bucket), then
    joined WITHOUT ANY EXCHANGE — tests/test_plans.py asserts the physical
    plan has zero shuffle nodes. The merge hint pins the sort-merge
    strategy (a broadcast would trivially also avoid the shuffle and hide
    what bucketing buys).

    This is the layout lever for 100 TB fact-to-fact joins: both sides
    pre-partitioned by the key at WRITE time, so every subsequent join or
    aggregation on that key is shuffle-free — the cost moves from every
    query to one materialization. The reference's parquet layout has no
    bucketing concept (single files, reference macros/adapters.sql:10);
    this is native Spark surface beyond it.
    """
    import uuid as _uuid

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    tmp = memo.scratch_dir(spark, "bucketed_db_")
    sfx = _uuid.uuid4().hex[:8]
    t_orders, t_customer = f"orders_bkt_{sfx}", f"customer_bkt_{sfx}"
    (
        orders.write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", os.path.join(tmp, "orders"))
        .saveAsTable(t_orders)
    )
    (
        customer.write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", os.path.join(tmp, "customer"))
        .saveAsTable(t_customer)
    )
    o, c = spark.table(t_orders), spark.table(t_customer).hint("merge")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_custkey", "c_name", "o_totalprice"
    )


@register(
    "q_format_roundtrip",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id < 500
    """,
    tags=("formats", "json", "orc", "materialize"),
)
def q_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format sink/source chain: parquet → JSON-lines → ORC → result.
    The oracle is the identity SELECT, so the driver value-checks that BOTH
    non-parquet formats round-trip the data losslessly (schema carried
    explicitly through JSON, whose inference would widen types).

    Scale: each hop is a distributed write/read (part-files per partition);
    formats.py's atomic publish applies to all of them.
    """
    from ..sources.formats import read_json, read_orc, write_json, write_orc

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", "lang", "source", "n_chars")
    )
    tmp = memo.scratch_dir(spark, "fmt_roundtrip_")
    jdest = os.path.join(tmp, "docs_jsonl")
    write_json(docs, jdest)
    back_j = read_json(spark, jdest, schema=docs.schema)
    odest = os.path.join(tmp, "docs_orc")
    write_orc(back_j, odest)
    return read_orc(spark, odest)


def partitioned_documents(spark: SparkSession, sf_dir: str) -> str:
    """Materialize documents as a hive-partitioned table (source=*/...)
    via the CTAS machinery — the fixture for the partitioned-source read
    surface. In production this directory already exists (it IS the lake
    layout); here it is built once per corpus and memoized."""

    def build() -> str:
        catalog = FilesystemCatalog(memo.scratch_dir(spark, "part_docs_"))
        rel = catalog.relation("documents_by_source")
        create_table_as(
            spark,
            catalog,
            rel,
            load_table(spark, sf_dir, "documents"),
            partition_by=["source"],
            register=False,
        )
        return rel.path

    return memo.scaffold(spark, "lifecycle.partitioned_documents", sf_dir, build)


@register(
    "q_partitioned_scan",
    oracle="""
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE source IN ('src0', 'src1', 'src2')
    GROUP BY source, lang
    """,
    tags=("sources", "partitioned", "pruning"),
)
def q_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a hive-partitioned external source with partition
    pruning: the filter on the partition column never touches 17 of the 20
    source= directories (PartitionFilters at the scan — gated by plan AND
    by the scan's numFiles metric in tests/test_plans.py). The oracle
    states the same query over the flat table: partition layout must be
    invisible to results.

    Scale: THE first-touch feature for real lakes — a date- or
    source-partitioned 100 TB corpus serves a 3-partition query by listing
    3 directories; no footer of any other partition is opened. Combines
    with parquet row-group pruning (q_zorder_layout) inside the selected
    partitions."""
    from ..sources.readers import read_partitioned

    docs = load_table(spark, sf_dir, "documents")
    if docs.limit(1).isEmpty():
        # an empty corpus writes NO partition directories (hive layout has
        # nowhere to encode them), so partition discovery has nothing to
        # read — the flat table is the identical relation in that case
        df = docs
    else:
        df = read_partitioned(spark, partitioned_documents(spark, sf_dir))
    df = df.filter(F.col("source").isin("src0", "src1", "src2"))
    return df.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
