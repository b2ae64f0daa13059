"""DuckDB interop bridge (BASELINE.json `spark_approach`: "DataFrame
transformations + DuckDB interop for SQL transforms").

Two directions, both Arrow-mediated (zero-copy columnar, no row pickling):

- ``duckdb_query``: run a DuckDB SQL statement over the catalog's parquet
  files and get the result back as a Spark DataFrame. The pragmatic use at
  scale: driver-side computation of SMALL relations (lookup/config/calendar
  tables, quantizer training data) that then broadcast into Spark plans —
  exactly the reference's embedded-DuckDB role, scoped to driver-sized data.
- ``to_duckdb``: materialize a (small!) Spark result into an in-memory
  DuckDB connection for interactive SQL — the analog of the reference's
  ``dbt run-operation duckdb`` escape hatch (reference impl.py:225-249).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession

from .catalog import FilesystemCatalog, Snapshot


def duckdb_query(
    spark: SparkSession, sql: str, catalog: FilesystemCatalog | None = None
) -> DataFrame:
    """Execute SQL in an embedded DuckDB (with every catalog relation
    registered as a view over its parquet path, mirroring reference
    connections.py:79-88) and return the result as a Spark DataFrame.

    The result must fit on the driver — this is for small relations that
    subsequently broadcast, not a distributed execution path.
    """
    import duckdb

    con = duckdb.connect()
    if catalog is not None:
        register_catalog_views(con, catalog)
    # Direct Arrow -> Spark (supported on Spark 4): the previous pandas
    # hop silently rewrote Arrow types (ns timestamps, nullable ints
    # becoming float64 with NaN) and double-copied the batch.
    return spark.createDataFrame(con.execute(sql).arrow())


def register_catalog_views(con, catalog: FilesystemCatalog) -> list[str]:
    """Register every catalog relation as a DuckDB view — the reference's
    connect-time view registration (reference connections.py:79-88).
    Returns the registered view names.

    Each view scans the file list ``catalog.snapshot`` resolves (hive
    ``k=v/`` columns kept; a versioned root's CURRENT version only, its
    deletion vectors anti-joined as the Spark scan ``readers.scan`` does).
    A relation with no files is an empty view. Remote schemes need the
    matching DuckDB extension (httpfs for s3://) loaded."""
    names = []
    for schema in catalog.list_schemas():
        for rel in catalog.list_relations(schema):
            snap = catalog.snapshot(rel)
            con.execute(
                f'CREATE OR REPLACE VIEW "{rel.view_name}" AS '
                f"{_view_sql(catalog, snap)}"
            )
            names.append(rel.view_name)
    return names


def _view_sql(catalog: FilesystemCatalog, snap: Snapshot) -> str:
    """The SELECT behind one relation's DuckDB view."""
    if not snap.files:
        # DuckDB reads Spark's simple type names; anything else is VARCHAR
        cols = ", ".join(
            f'CAST(NULL AS {t if t and t.isalpha() else "VARCHAR"}) AS "{c}"'
            for c, t in (snap.columns or {}).items()
        ) or "NULL AS _empty"
        return f"SELECT {cols} WHERE FALSE"

    def scan(files, *opts: str) -> str:
        lst = ", ".join("'" + catalog.io.spark_url(f).replace("'", "''") + "'" for f in files)
        return f"parquet_scan([{lst}]{''.join(', ' + o for o in opts)})"

    if not snap.dv:
        hive = any("=" in posixpath.basename(posixpath.dirname(f)) for f in snap.files)
        return f"SELECT * FROM {scan(snap.files, f'hive_partitioning={str(hive).lower()}')}"
    cols = ", ".join(f't."{c}"' for c in snap.columns)
    return (
        f"SELECT {cols} FROM {scan(snap.files, 'filename=1', 'file_row_number=1')} t "
        f"WHERE NOT EXISTS (SELECT 1 FROM {scan(snap.dv)} d "
        "WHERE d.file = regexp_extract(t.filename, '[^/]+$') "
        "AND d.pos = t.file_row_number)"
    )


def interactive_shell(catalog: FilesystemCatalog, in_stream=None, out_stream=None) -> int:
    """The reference's `dbt run-operation duckdb` escape hatch (reference
    impl.py:225-249 + macros/duckdb.sql:1-7): drop the user into a live
    DuckDB session with every catalog relation pre-registered as a view.

    Reads one SQL statement per line (`.exit` / `.quit` / EOF ends the
    session; `.tables` lists the registered views), prints each result via
    DuckDB's table renderer. Streams are injectable for tests.
    """
    import sys

    import duckdb

    fin = in_stream if in_stream is not None else sys.stdin
    fout = out_stream if out_stream is not None else sys.stdout
    con = duckdb.connect()
    views = register_catalog_views(con, catalog)
    interactive = fin is sys.stdin and sys.stdin.isatty()
    print(f"duckdb shell — {len(views)} relation(s) registered as views", file=fout)
    while True:
        if interactive:
            print("duckdb> ", end="", file=fout, flush=True)
        line = fin.readline()
        if not line:
            break
        stmt = line.strip()
        if not stmt:
            continue
        if stmt in (".exit", ".quit", "exit", "quit"):
            break
        if stmt == ".tables":
            for v in sorted(views):
                print(v, file=fout)
            continue
        try:
            rel = con.sql(stmt)
            if rel is not None:  # DDL/SET return None
                print(rel, file=fout)
        except Exception as exc:  # noqa: BLE001 — shell survives bad SQL
            print(f"error: {exc}", file=fout)
    return 0


def to_duckdb(df: DataFrame, view_name: str = "spark_result"):
    """Small Spark result → live DuckDB connection (returned) with the data
    registered under ``view_name`` for ad-hoc SQL."""
    import duckdb

    con = duckdb.connect()
    pdf = df.toPandas()  # driver-sized by contract
    con.register(view_name, pdf)
    return con
