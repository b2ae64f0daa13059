"""Table maintenance — the operational jobs a 100 TB parquet lake needs that
the reference's single-file model never confronts: small-file compaction and
footer-based statistics.

All filesystem access goes through the catalog's ``CatalogFS`` (pyarrow.fs),
so stats and compaction sizing work identically on local disk and object
storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .catalog import FilesystemCatalog, Relation
from .materialize import create_table_as

TARGET_FILE_BYTES = 128 * 1024 * 1024  # the canonical HDFS/parquet sweet spot


def _refuse_versioned(catalog: FilesystemCatalog, rel: Relation, op: str) -> None:
    """Generic maintenance rewrites files in place (write-then-swap) — on a
    manifest-versioned root that would rewrite files committed manifests
    still reference, corrupting every retained snapshot. Refuse and point
    at the manifest-aware equivalent."""
    if catalog.is_versioned(rel):
        raise ValueError(
            f"{op}: {rel.view_name} is a manifest-versioned table; use "
            "`versions --optimize` / optimize_versioned(cluster_by=...) "
            "instead — it rewrites through a new committed version, "
            "keeping history intact"
        )


def compact(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> DataFrame:
    """Rewrite a table's many small part files into ~target-size files.

    Small files are the silent killer at scale: each costs a task + a
    footer read + namenode metadata. Streaming sinks and incremental
    appends both produce them; periodic compaction fixes it. File count is
    computed from actual on-disk size; the rewrite republishes atomically
    (write-to-temp + rename) so readers never see a half-compacted table.
    """
    from .operators.layout import file_count

    _refuse_versioned(catalog, rel, "compact")
    snap = catalog.snapshot(rel)
    n_files = file_count(catalog.stats(snap).bytes, target_file_bytes)
    df = catalog.read(spark, rel, snap).repartition(n_files)
    return create_table_as(spark, catalog, rel, df, single_file=False)


def cluster_by(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    cols: list[str],
    target_file_bytes: int = TARGET_FILE_BYTES,
    zorder: bool = False,
) -> DataFrame:
    """Rewrite a table range-partitioned AND sorted by ``cols`` so parquet
    row-group min/max statistics become selective — the sort-based data-
    clustering that makes predicate pushdown actually SKIP row groups.

    Why it matters at 100 TB: pushed filters (PushedFilters in the scan
    node) only help if the footer stats exclude row groups; on a table
    written in arrival order every row group spans the whole key domain and
    nothing is skipped. After clustering, a point/range predicate on the
    cluster key touches O(1) of the files instead of all of them — the
    plain-parquet analog of Delta/Iceberg OPTIMIZE ZORDER.

    The rewrite step is ``layout.cluster``: a range exchange on a sampled
    key distribution gives globally disjoint key ranges per file, and an
    in-file sort makes the row groups inside a file disjoint too. Atomic
    republish via the standard write-then-swap.

    ``zorder=True`` with 2-4 columns clusters on their Z-order curve
    position (``layout.zorder_column``: each column quantized from the
    table's MIN/MAX, one aggregate job, then bit-interleaved) instead of
    the lexicographic (col1, col2, …) order: lexicographic clustering makes
    only the FIRST column selective; z-order gives every listed column
    simultaneous row-group locality (Delta/Iceberg OPTIMIZE ZORDER
    semantics on plain parquet). More than 4 z-order columns raise
    ValueError.
    """
    from .operators.layout import cluster, file_count

    _refuse_versioned(catalog, rel, "cluster_by")
    snap = catalog.snapshot(rel)
    n_files = file_count(catalog.stats(snap).bytes, target_file_bytes)
    df = cluster(catalog.read(spark, rel, snap), n_files, cols, zorder)
    return create_table_as(spark, catalog, rel, df, single_file=False)


def row_group_stats(
    catalog: FilesystemCatalog, rel: Relation, column: str
) -> list[tuple]:
    """(file, row_group, min, max) for one column, from footers only —
    the observability hook for clustering quality (how many row groups a
    point predicate would touch)."""
    import pyarrow.parquet as pq

    out = []
    io = catalog.io
    for f in catalog.snapshot(rel).files:
        with io.open_input(f) as fh:
            md = pq.ParquetFile(fh).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            ci = names[column]
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                out.append((f, g, st.min if st else None, st.max if st else None))
    return out


STATS_SCHEMA = T.StructType(
    [
        T.StructField("table_schema", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_files", T.IntegerType()),
        T.StructField("total_bytes", T.LongType()),
        T.StructField("n_row_groups", T.IntegerType()),
    ]
)


def table_stats(spark: SparkSession, catalog: FilesystemCatalog) -> DataFrame:
    """Row counts / file counts / sizes / row-group counts for every
    relation, from parquet FOOTERS ONLY — no data scan (the metadata the
    optimizer wants for broadcast decisions, and the lake-health dashboard
    wants for compaction scheduling). Each row is ``catalog.stats``: a
    hive-partitioned table counts the files of every partition, a versioned
    table only its current version's files, with the manifest's live row
    count (deletion vectors applied). Driver-side metadata walk, same as
    the reference's catalog macro (reference macros/catalog.sql:1-36)."""
    rows = []
    for schema in catalog.list_schemas():
        for rel in catalog.list_relations(schema):
            rows.append((schema, rel.table, *catalog.stats(catalog.snapshot(rel))))
    return spark.createDataFrame(rows, STATS_SCHEMA)


def cleanup_artifacts(
    catalog: FilesystemCatalog,
    schema: str = "",
    apply: bool = False,
    min_age_seconds: float = 3600.0,
) -> list[str]:
    """Find (and with ``apply=True`` remove) orphaned publish artifacts in a
    database: ``.tmp_*`` write staging left by a crashed CTAS/shard write,
    and ``.old_*`` aside copies left by a crash between the two renames of
    materialize._swap_into_place. Both are safe to delete once the live
    table is readable — the swap sequence guarantees the DESTINATION name
    always holds a complete version; the aside copy exists only for manual
    recovery after a mid-swap crash, which is exactly when an operator runs
    this with apply=False first to see what's there.

    ``min_age_seconds`` (ADVICE r7): an artifact younger than this is
    assumed to belong to an IN-FLIGHT write and is neither listed nor
    removed — a cleanup running concurrently with a live CTAS /
    write_training_shards must not delete that write's active staging dir.
    Artifacts whose backend reports no mtime are likewise left alone
    (pass 0 to disable the gate where no writer can be live).

    Returns the artifact paths acted on (fs paths) — the listing and the
    removal use the same age filter, so a dry run previews exactly what
    ``apply=True`` would delete. Scale: one directory listing — metadata
    only, like all catalog maintenance.
    """
    import time

    io = catalog.io
    root = io.join(io.root, schema) if schema else io.root
    if not io.exists(root):
        return []
    now = time.time()

    def aged(path: str) -> bool:
        if min_age_seconds <= 0:
            return True
        m = io.getmtime(path)
        return m is not None and (now - m) >= min_age_seconds

    found = [
        p
        for e in io.listdir(root)
        if e.startswith(".tmp_") or e.startswith(".old_")
        for p in [io.join(root, e)]
        if aged(p)
    ]
    if apply:
        for p in found:
            io.remove_any(p)
    return found
