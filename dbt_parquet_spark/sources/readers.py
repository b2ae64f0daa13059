"""Parquet/CSV source readers.

Reference equivalents: ``parquet_scan('{path}')`` (reference relation.py:101-102)
and ``read_csv_auto`` seed ingestion (reference impl.py:151-163). Spark's
vectorized parquet reader + Catalyst pushdown replace DuckDB's scan; the
declarative ``spark.read`` keeps projection pruning / predicate pushdown free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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
memo_hits = 0  # valid entries served by _memo_get, across all three memos


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
_NS_COLS_MEMO: dict[str, tuple] = {}


def _ns_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — footer-only probe.

    Resolves through pyarrow.fs so the probe works on any path spelling the
    engine reads (bare local path, file://, s3a://...); an unreachable or
    unlistable location degrades to "no nanos columns" rather than failing
    the read — Spark itself will surface a real IO error with context."""
    sk = _stat_key(path)
    if sk is not None:
        hit = _memo_get(_NS_COLS_MEMO, path, sk)
        if hit is not None:
            return hit
    out = _ns_timestamp_columns_uncached(path)
    if sk is not None:
        _memo_put(_NS_COLS_MEMO, path, sk, out)
    return out


def _ns_timestamp_columns_uncached(path: str) -> list[str]:
    import pyarrow as pa
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    try:
        if "://" in path:
            uri = path.replace("s3a://", "s3://", 1)
            fs, fpath = pafs.FileSystem.from_uri(uri)
        else:
            fs, fpath = pafs.LocalFileSystem(), path
        info = fs.get_file_info(fpath)
        if info.type == pafs.FileType.Directory:
            # recursive: hive-partitioned sources nest their part files
            # under col=value/ directories (read_partitioned)
            sel = pafs.FileSelector(fpath, recursive=True)
            parts = sorted(
                i.path for i in fs.get_file_info(sel) if i.path.endswith(".parquet")
            )
            if not parts:
                return []
            fpath = parts[0]
        with fs.open_input_file(fpath) as f:
            pf = pq.ParquetFile(f)
            return _ns_cols_of(pf)
    except (OSError, pa.lib.ArrowException):
        # ArrowException covers ArrowInvalid AND ArrowNotImplementedError —
        # from_uri raises the latter for schemes without compiled filesystem
        # support (hdfs:// without libhdfs, gs:// without gcsfs); the probe
        # must defer to Spark's own reader there, not crash the read.
        return []


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


def read_parquet(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """Parquet scan with timestamp normalization (ns and NTZ).

    ``merge_schema=True`` unions the schemas of all part files (columns
    absent in older files read as NULL) — the read side of append-time
    schema evolution (incremental.incremental_append). Off by default:
    schema merging footer-reads every file, which is wasted work on
    stable-schema tables.

    Spark 4 rejects parquet TIMESTAMP(NANOS) outright; with the
    ``nanosAsLong`` escape hatch it surfaces as a raw long. We convert to
    TimestampType by integer-dividing to µs — exactly DuckDB's ns→µs
    truncation, so oracle comparisons are well-defined (SURVEY §7 risk
    register). Integer ``div``, NOT ``/``: float division loses precision at
    ns-since-epoch magnitudes.

    Spark 4 also infers parquet timestamps without ``isAdjustedToUTC`` as
    TIMESTAMP_NTZ (``spark.sql.parquet.inferTimestampNTZ.enabled`` defaults
    true), and NTZ columns reject ``withWatermark`` / ``cast(long)``. The
    engine cannot assume its own session configs (callers pass their own
    SparkSession), so this reader casts any NTZ column to TIMESTAMP. The
    cast interprets the naive wall clock in the session timezone and the
    naive rendering the oracle harness compares converts back in the same
    timezone — wall-clock-preserving under ANY session tz (unlike disabling
    NTZ inference, which reinterprets stored micros as UTC instants and
    shifts the rendering under non-UTC sessions).
    """
    from pyspark.sql import functions as F

    ns_cols = _ns_timestamp_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_partitioned(spark: SparkSession, path: str, base_path: str | None = None) -> DataFrame:
    """Read an externally-produced hive-partitioned parquet directory
    (``col=value/.../part-*.parquet``) — the layout every existing lake
    hands this engine first. Spark's partition discovery turns the directory
    names into a real column, and any filter on it becomes PartitionFilters
    at the scan: unselected directories are never opened, not even their
    footers (plan-gated in tests/test_plans.py). The reference cannot read
    these at all (single-file tables, reference README.md:49).

    ``base_path`` pins partition-column discovery when ``path`` points
    INSIDE the partition tree (e.g. reading one ``date=2024-01-01/``
    subtree while keeping ``date`` as a column). Timestamp normalization
    (ns/NTZ) matches read_parquet — the probe walks the tree recursively."""
    from pyspark.sql import functions as F

    ns_cols = _ns_timestamp_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    df = reader.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


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


# Footer row-count memo — same path-keyed stat discipline as the probes
# above. Sizing decisions (e.g. the near-dup chunk width, which is derived
# from ceil(log2 N)) only need parquet's footer num_rows; running a Spark
# count() job for it costs a driver round-trip + scheduling wave per query
# build. Single local files read the footer once per stat-key; directories
# and remote paths fall back to a distributed count — at warehouse scale a
# footer-walk on the driver would be the wrong tool.
_ROW_COUNT_MEMO: dict[str, tuple] = {}


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of a table, from the parquet footer when the table
    is a single local file (memoized by stat key), else via a Spark count
    job. Always equals ``load_table(...).count()``."""
    path = table_path(sf_dir, name)
    sk = _stat_key(path)
    if sk is not None:
        hit = _memo_get(_ROW_COUNT_MEMO, path, sk)
        if hit is None:
            import pyarrow.parquet as pq

            hit = pq.ParquetFile(path).metadata.num_rows
            _memo_put(_ROW_COUNT_MEMO, path, sk, hit)
        return hit
    return load_table(spark, sf_dir, name).count()


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
