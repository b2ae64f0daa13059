"""Parquet/CSV source readers.

Reference equivalents: ``parquet_scan('{path}')`` (reference relation.py:101-102)
and ``read_csv_auto`` seed ingestion (reference impl.py:151-163). Spark's
vectorized parquet reader + Catalyst pushdown replace DuckDB's scan; the
declarative ``spark.read`` keeps projection pruning / predicate pushdown free.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..catalog import Snapshot, footers, resolve
from ..fs import CatalogFS, resolve_database

# The driver's testdata tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_names(sf_dir: str) -> list[str]:
    return [t for t in TESTDATA_TABLES if os.path.exists(table_path(sf_dir, t))]


# Metadata memos (the *_MEMO family; bench.py reports the queries that
# rode them via ``memo_hits``, apart from the result scaffolds in
# dbt_parquet_spark.memo). Each memo is keyed BY
# PATH holding a single (stat_key, value) entry, so a rewrite REPLACES the
# entry instead of accumulating stale keys (ADVICE r15: the old
# (path, mtime, size)-keyed dicts grew without bound across rewrites).
# stat_key uses st_mtime_ns — nanosecond granularity where the filesystem
# provides it, so a same-size rewrite within coarse-mtime resolution still
# invalidates on any fs with fine timestamps. Bounded: _MEMO_MAX entries,
# FIFO eviction (insertion order) — metadata for a 100k-table warehouse
# must not live in driver dicts forever.
_MEMO_MAX = 4096
memo_hits = 0  # valid entries served by _memo_get, across both memos


def _memo_get(memo: dict, path: str, stat_key):
    global memo_hits
    hit = memo.get(path)
    if hit is not None and hit[0] == stat_key:
        memo_hits += 1
        return hit[1]
    return None


def _memo_put(memo: dict, path: str, stat_key, value) -> None:
    if path not in memo and len(memo) >= _MEMO_MAX:
        memo.pop(next(iter(memo)))  # FIFO: drop the oldest path
    memo[path] = (stat_key, value)


def _stat_key(path: str):
    """(mtime_ns, size) for a single local file; None when the path is
    remote, a directory (its mtime does not see nested partition writes),
    or unstattable — callers bypass the memo then."""
    if "://" in path or not os.path.isfile(path):
        return None
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


# Footer-probe memo — metadata, never data: load_table re-probes the SAME
# immutable file on every call (each query build, each bench rep), and the
# pyarrow open+footer-parse is a few ms of pure Python per table per call.
# Single local files only (a directory's mtime does not see nested partition
# writes); each entry holds the probe's three results, none of which
# depends on a session conf.
_FOOTER_MEMO: dict[str, tuple] = {}

# Spark writes its exact write schema into every parquet footer under this
# key-value metadata key, and its own non-merge schema inference prefers it
# to converting the parquet schema (ParquetFileFormat.readSchemaFromFooter).
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# Spark 4.1's inference of a flat parquet column under default confs
# (ParquetToSparkSchemaConverter), as a JSON type name, by physical type and
# pyarrow's logical type; INT64 timestamps are mapped in ``_inferred_type``.
# "binary" and "timestamp_ntz" depend on session confs (``_foreign_schema``).
_INFERRED = {
    ("BOOLEAN", "None"): "boolean",
    ("INT32", "None"): "integer",
    ("INT32", "Int(bitWidth=8, isSigned=true)"): "byte",
    ("INT32", "Int(bitWidth=16, isSigned=true)"): "short",
    ("INT32", "Int(bitWidth=32, isSigned=true)"): "integer",
    ("INT32", "Date"): "date",
    ("INT64", "None"): "long",
    ("INT64", "Int(bitWidth=64, isSigned=true)"): "long",
    ("FLOAT", "None"): "float",
    ("DOUBLE", "None"): "double",
    ("BYTE_ARRAY", "String"): "string",
    ("BYTE_ARRAY", "None"): "binary",
}


def resolve_path(path: str) -> tuple[CatalogFS | None, Snapshot]:
    """The filesystem that owns ``path`` (``fs.resolve_database``) and the
    ``catalog.resolve`` snapshot of ``path`` there (a directory's hive
    partitions included, markers and staging skipped). An unreachable or
    unsupported location gives (None, an empty snapshot rooted at ``path``
    as given): the read then defers to Spark's own inference, which
    surfaces a real IO error with context."""
    import pyarrow as pa

    try:
        io = resolve_database(path)
        return io, resolve(io, io.root)
    except (OSError, pa.lib.ArrowException):
        # ArrowException covers ArrowNotImplementedError, raised for schemes
        # without compiled filesystem support (hdfs:// without libhdfs)
        return None, Snapshot(root=path)


def _footer_probe(
    io: CatalogFS | None, snap: Snapshot
) -> tuple[list[str], str | None, tuple | None]:
    """(columns stored as parquet TIMESTAMP(NANOS), Spark's write-schema
    JSON or None, and for a single file without that JSON its
    ``_flat_columns``) from the footer of the snapshot's first file, opened
    through ``io``; nothing to probe, or a footer that cannot be read, gives
    ([], None, None)."""
    import pyarrow as pa
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    if io is None or not snap.files:
        return [], None, None
    first = snap.files[0]
    local = snap.kind == "file" and isinstance(io.fs, pafs.LocalFileSystem)
    sk = _stat_key(first) if local else None
    if sk is not None:
        hit = _memo_get(_FOOTER_MEMO, first, sk)
        if hit is not None:
            return hit
    try:
        with io.open_input(first) as f:
            pf = pq.ParquetFile(f)
            schema = (pf.metadata.metadata or {}).get(SPARK_SCHEMA_KEY)
            if schema is not None:
                out = _ns_cols_of(pf), schema.decode(), None
            else:
                out = _ns_cols_of(pf), None, _flat_columns(pf) if snap.kind == "file" else None
    except (OSError, pa.lib.ArrowException):
        return [], None, None
    if sk is not None:
        _memo_put(_FOOTER_MEMO, first, sk, out)
    return out


def _ns_cols_of(pf) -> list[str]:
    import pyarrow.types as pat
    # INT96 legacy timestamps surface as ns in Arrow but Spark reads them
    # natively — only true INT64 TIMESTAMP(NANOS) needs the escape hatch.
    physical = {
        pf.schema.column(i).name: pf.schema.column(i).physical_type
        for i in range(len(pf.schema))
    }
    return [
        f.name
        for f in pf.schema_arrow
        if pat.is_timestamp(f.type)
        and f.type.unit == "ns"
        and physical.get(f.name) == "INT64"
    ]


def _inferred_type(column) -> str | None:
    """Spark's inferred type of one parquet leaf under default confs, or
    None where ``_INFERRED`` does not map it. A TIMESTAMP(NANOS) column is
    the long that ``scan``'s ``nanosAsLong`` reads; a millisecond or
    microsecond timestamp is TIMESTAMP when adjusted to UTC, else NTZ."""
    lt = column.logical_type
    if lt.type != "TIMESTAMP":
        return _INFERRED.get((column.physical_type, str(lt)))
    ts = json.loads(lt.to_json())
    if ts["is_from_converted_type"]:
        return None
    if ts["timeUnit"] == "nanoseconds":
        return "long"
    return "timestamp" if ts["isAdjustedToUTC"] else "timestamp_ntz"


def _flat_columns(pf) -> tuple[tuple[str, str], ...] | None:
    """Each column's (name, ``_inferred_type``) when every column is
    top-level, mapped, without a field id and unique ignoring case; else
    None, and Spark infers the schema itself, with its own rules and errors
    (unsigned ints, decimals, INT96, fixed-length binary, TIME, lists,
    structs, maps, field ids)."""
    leaves = [pf.schema.column(i) for i in range(len(pf.schema))]
    if not leaves or any(c.max_repetition_level or c.path != c.name for c in leaves):
        return None
    cols = tuple((c.name, _inferred_type(c)) for c in leaves)
    if any(t is None for _, t in cols) or len({n.lower() for n, _ in cols}) < len(cols):
        return None
    if any(f.metadata and b"PARQUET:field_id" in f.metadata for f in pf.schema_arrow):
        return None
    return cols


def _foreign_schema(spark: SparkSession, cols: tuple) -> StructType:
    """The schema Spark infers for a file of ``_flat_columns`` ``cols``
    under the caller's session confs, every field nullable: binary reads
    as string under ``binaryAsString``, and a timestamp not adjusted to UTC
    as TIMESTAMP when ``inferTimestampNTZ`` is off."""

    def on(key: str) -> bool:
        return spark.conf.get(key).strip().lower() == "true"

    types = {t for _, t in cols}
    swap = {}
    if "binary" in types and on("spark.sql.parquet.binaryAsString"):
        swap["binary"] = "string"
    if "timestamp_ntz" in types and not on("spark.sql.parquet.inferTimestampNTZ.enabled"):
        swap["timestamp_ntz"] = "timestamp"
    return StructType.fromJson({"fields": [
        {"name": n, "type": swap.get(t, t), "nullable": True, "metadata": {}} for n, t in cols
    ]})


def scan(
    spark: SparkSession,
    io: CatalogFS | None,
    snap: Snapshot,
    merge_schema: bool = False,
) -> tuple[DataFrame, list[str]]:
    """The one Spark scan of a ``catalog.resolve`` snapshot on ``io``
    (None: ``snap.root`` is a Spark path read as given), before
    ``normalize_timestamps``, and its columns stored as TIMESTAMP(NANOS),
    read as raw longs (Spark 4 rejects them without the ``nanosAsLong``
    escape hatch, set here on the caller's session).

    A file or directory hands Spark its root: Spark lists it and discovers
    hive partitions. A versioned or index snapshot hands Spark its explicit
    ``files``, with ``basePath`` at the root when all lie under it, so an
    index keeps its ``cell=`` column, read as the long its probes produce.

    The schema is the typed pinned ``columns``; else, for untyped ones (a
    legacy versioned entry) or ``merge_schema=True``, the merged schema of
    all files; else the Spark write schema in the first file's footer,
    read by pyarrow through ``io`` (Spark's own inference reads the same
    JSON with a job); else, for a single file another tool wrote whose
    columns are flat and of mapped types, the schema Spark would infer,
    built on the driver from its footer (``_foreign_schema``); else
    Spark's own inference, for directories and every other file. Pinned
    columns a file lacks read as NULL; deletion-vector sidecars
    ``dv`` are anti-joined on (file, row index)."""
    from pyspark.sql import functions as F

    url = io.spark_url if io is not None else str
    cols = snap.columns
    typed = bool(cols) and None not in cols.values()
    ddl = ", ".join(f"`{c}` {t or 'string'}" for c, t in (cols or {}).items())
    ns_cols, spark_schema, flat = ([], None, None) if typed else _footer_probe(io, snap)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    listed = snap.kind in ("versioned", "index")
    if listed and all(f.startswith(snap.root + "/") for f in snap.files):
        reader = reader.option("basePath", url(snap.root))
    if typed:
        reader = reader.schema(ddl)
    elif merge_schema or cols:
        reader = reader.option("mergeSchema", "true")
    elif spark_schema is not None:
        reader = reader.schema(StructType.fromJson(json.loads(spark_schema)))
    elif flat is not None:
        reader = reader.schema(_foreign_schema(spark, flat))
    if not listed:
        df = reader.parquet(url(snap.root))
    elif snap.files:
        df = reader.parquet(*[url(f) for f in snap.files])
    elif typed:
        df = spark.createDataFrame([], ddl)
    else:  # an empty selection of an untyped snapshot: the root's schema
        df = reader.parquet(url(snap.root)).limit(0)
    if snap.dv and snap.files:
        from ..versioned import _read_dv, _with_pos

        df, dv = _with_pos(df), _read_dv(spark, io, snap.dv)
        df = df.join(
            dv, (df["_dv_file"] == dv["file"]) & (df["_dv_pos"] == dv["pos"]), "left_anti"
        )
    if cols is not None:
        have = set(df.columns)
        df = df.select(*[c if c in have else F.lit(None).cast("string").alias(c) for c in cols])
    if snap.kind == "index":
        df = df.withColumn("cell", F.col("cell").cast("long"))
    return df, ns_cols


def normalize_timestamps(df: DataFrame, ns_cols: list[str]) -> DataFrame:
    """The one timestamp normalization every parquet scan gets, batch or
    stream: ``ns_cols`` (TIMESTAMP(NANOS) read as raw longs) become
    TimestampType and any TIMESTAMP_NTZ column becomes TIMESTAMP.

    ns→µs integer-divides — exactly DuckDB's ns→µs truncation, so oracle
    comparisons are well-defined (SURVEY §7 risk register). Integer
    ``div``, NOT ``/``: float division loses precision at ns-since-epoch
    magnitudes.

    Spark 4 infers parquet timestamps without ``isAdjustedToUTC`` as
    TIMESTAMP_NTZ (``spark.sql.parquet.inferTimestampNTZ.enabled`` defaults
    true), and NTZ columns reject ``withWatermark`` / ``cast(long)``. The
    engine cannot assume its own session configs (callers pass their own
    SparkSession), so NTZ columns are cast to TIMESTAMP. The cast interprets
    the naive wall clock in the session timezone and the naive rendering
    the oracle harness compares converts back in the same timezone —
    wall-clock-preserving under ANY session tz (unlike disabling NTZ
    inference, which reinterprets stored micros as UTC instants and shifts
    the rendering under non-UTC sessions)."""
    from pyspark.sql import functions as F

    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_parquet(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """The scan (``scan``) of what ``path`` resolves to on the filesystem
    that owns it (``resolve_path``), with normalized timestamps
    (``normalize_timestamps``). Catalog relations read through
    ``FilesystemCatalog.read``, which resolves on the catalog's own
    filesystem.

    A hive ``col=value/`` directory tree reads with partition discovery: a
    filter on the partition column becomes PartitionFilters at the scan and
    unselected directories are never opened (plan-gated in test_plans.py).

    ``merge_schema=True`` unions the schemas of all part files (columns
    absent in older files read as NULL) — the read side of append-time
    schema evolution (incremental.incremental_append). Off by default:
    schema merging footer-reads every file, which is wasted work on
    stable-schema tables."""
    return normalize_timestamps(*scan(spark, *resolve_path(path), merge_schema))


# Resolved-DataFrame memo for load_table — the guide §6 file-listing/
# schema-cache discipline at the engine layer: `spark.read.parquet(path)`
# pays ~70-100 ms of JVM DataSource resolution (footer read + file-index
# build) on EVERY call, and the operators re-load the same immutable
# testdata tables in every builder invocation. A DataFrame is an immutable
# logical plan — reusing it never reuses RESULTS (downstream derivations
# re-execute from the files); the stat key invalidates on any rewrite;
# directories bypass (their mtime does not see nested writes). Keyed by
# (session, path): a DataFrame is bound to the SparkSession that analyzed
# it, and two sessions of one application can differ in session-level SQL
# confs (spark.sql.caseSensitive, ...), so the memo never hands session B
# a plan analyzed under session A's settings (ADVICE r15).
_TABLE_DF_MEMO: dict[tuple[str, str, str], tuple] = {}


def _session_key(spark: SparkSession) -> tuple[str, str]:
    try:
        uuid = spark._jsparkSession.sessionUUID()
    except Exception:  # noqa: BLE001 — connect/mocked sessions: best effort
        uuid = str(id(spark))
    return (spark.sparkContext.applicationId, uuid)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. A 'table' is a parquet path (file OR directory of part
    files — Spark handles both layouts; the reference is restricted to single
    files, reference relation.py:26-32 / README.md:49)."""
    path = table_path(sf_dir, name)
    sk = _stat_key(path)
    if sk is not None:
        app, uuid = _session_key(spark)
        mkey = (app, uuid, path)
        hit = _memo_get(_TABLE_DF_MEMO, mkey, sk)
        if hit is not None:
            return hit
    df = read_parquet(spark, path)
    if sk is not None:
        _memo_put(_TABLE_DF_MEMO, mkey, sk, df)
    return df


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of a table with no Spark job: the manifest's live
    count of a versioned root, else the summed footer rows of the files its
    ``resolve_path`` snapshot holds, for a single file and a part-file or
    hive directory alike (one footer GET per file). Always equals
    ``load_table(...).count()``; a missing table raises FileNotFoundError."""
    path = table_path(sf_dir, name)
    io, snap = resolve_path(path)
    if snap.rows is not None:
        return snap.rows
    if not snap.files and (io is None or not io.exists(snap.root)):
        raise FileNotFoundError(path)
    return sum(f.rows for f in footers(io, snap.files))


def spread_small_scan(
    spark: SparkSession, df: DataFrame, bytes_per_partition: int = 64 * 1024
) -> DataFrame:
    """Round-robin a scan across the cluster when the file layout gives
    fewer partitions than the data's CPU work deserves (guide §2.5 input
    skew: one small/single-row-group file serializes every downstream
    narrow op onto one core). The target partition count is sized by DATA
    (compressed bytes / budget) and capped at cluster parallelism —
    over-spreading tiny inputs costs more in per-task overhead than it
    buys in compute (measured in the dedup sweep). ``bytes_per_partition``
    is the compressed-bytes-per-task budget: ~64 KiB suits the token/text
    pipelines; CPU-denser consumers (e.g. 64 HOF dot products per row in
    kNN eval) pass a smaller budget. At warehouse scale the scan already
    carries >= parallelism splits and this is a NO-OP (returns df
    unchanged), so the shuffle only ever exists where the layout
    under-supplies parallelism."""
    import os as _os
    from urllib.parse import urlparse as _urlparse

    try:
        nbytes = sum(
            _os.path.getsize(_urlparse(f).path)
            for f in df.inputFiles()
            if _urlparse(f).scheme in ("file", "")
        )
    except OSError:
        nbytes = 0
    if nbytes <= 0:
        return df  # non-local or unlistable input: trust the scan's splits
    target = min(
        spark.sparkContext.defaultParallelism,
        max(1, -(-nbytes // bytes_per_partition)),
    )
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = tuple(table_names(sf_dir))
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Expose tables as temp views — the Spark analog of the reference's
    view-registration-on-connect (reference connections.py:79-88)."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
