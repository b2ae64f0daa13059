"""Structured Streaming source over a versioned table's change-data feed —
stream-follow a table the way Delta's streaming CDF read does, built on
PySpark 4's Python Data Source API (the Spark-native extension point for
exactly this: custom sources with real offsets, no driver-side polling
loops).

Offsets ARE commit versions: ``initialOffset`` = the configured start
version, ``latestOffset`` = the manifest's current version, and each
microbatch covers the commits in ``(start, end]``. Versions are immutable
until vacuum, so offset replay is deterministic and checkpoint recovery is
exactly-once by construction — the same property the batch
``read_versioned_changes_feed`` leans on, here surfaced through Spark's own
checkpoint machinery.

Each commit hop fans out into FILE-GRANULAR partitions (one per changed
data file), classified by the manifest's recorded op:

- ``append`` / ``clone``: new files emit their rows as inserts.
- ``delete-mor`` / ``merge-mor`` / ``apply-changes``: new files emit
  inserts; each data file targeted by NEW deletion-vector pairs emits the
  killed rows as deletes (the sidecar delta is strictly additive within a
  MoR commit).
- ``rollback``: general two-sided diff — files leaving the list emit
  deletes, files (re)entering emit inserts, and shared files diff their DV
  pairs in BOTH directions, so rows a rollback resurrects across a
  merge-on-read delete stream as inserts (the r13 advice case, streaming
  edition).
- ``optimize``: a lossless rewrite (row count asserted at commit time) —
  emits nothing, matching the batch feed's bag-cancel.
- ``replace`` / copy-on-write ``merge`` / ``delete``: REFUSED with a
  pointer at the batch API — a CoW rewrite carries unchanged rows into new
  files, and streaming partitions cannot bag-cancel them without a global
  exceptAll (Delta's streaming CDF likewise refuses non-additive commits
  unless the consumer opts into reprocessing). Use the MoR variants for
  stream-followed tables; that is what they are for.

Executors read with pyarrow directly (the partition payload is explicit
file paths + sidecar paths): at 1000-executor scale each partition touches
one file's bytes — O(changed bytes) per microbatch, never O(table).

Scale note: a single commit's changed files become that batch's
parallelism. DV row addressing uses (file basename, 0-based row index),
identical to ``versioned._with_pos``'s coordinates, so pyarrow's
sequential read order reproduces Spark's ``_metadata.row_index`` exactly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


def _fs_for(path: str):
    import pyarrow.fs as pafs

    if "://" in path:
        fs, p = pafs.FileSystem.from_uri(path)
        return fs, p
    return pafs.LocalFileSystem(), path


def _read_parquet(path: str):
    import pyarrow.parquet as papq

    fs, p = _fs_for(path)
    with fs.open_input_file(p) as fh:
        return papq.ParquetFile(fh).read()


def _basename(path: str) -> str:
    return path.rsplit("/", 1)[-1]


@dataclass
class _CDFPartition(InputPartition):
    """One changed data file within one commit hop.

    kind: 'insert-file' (emit every live row of ``data_path`` as insert),
    'dv-delta' (emit rows addressed by ``new_dv_paths`` pairs, minus
    ``old_dv_paths`` pairs, as ``change`` rows — used for MoR kills and,
    with the sets swapped, rollback resurrections)."""

    kind: str
    commit_version: int
    change: str
    data_path: str
    old_dv_paths: tuple  # sidecars whose pairs were already dead before
    new_dv_paths: tuple  # sidecars whose pair DELTA addresses the rows
    columns: tuple


def _pairs_for(paths, base: str) -> set:
    out = set()
    for p in paths:
        t = _read_parquet(p)
        files = t.column("file").to_pylist()
        pos = t.column("pos").to_pylist()
        out |= {(f, i) for f, i in zip(files, pos) if f == base}
    return out


class _CDFStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self._database = options["database"]
        self._table = options["table"]
        self._schema_name = options.get("schemaname", "") or ""
        self._start = int(options.get("startversion", 0))

    # -- manifest access (driver side) ----------------------------------
    def _catalog(self):
        from ..catalog import FilesystemCatalog

        catalog = FilesystemCatalog(self._database)
        rel = catalog.relation(self._table, self._schema_name)
        return catalog, rel

    def _manifest(self):
        from ..versioned import _load_manifest

        catalog, rel = self._catalog()
        return catalog, rel, _load_manifest(catalog, rel)

    # -- offsets --------------------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        _, _, m = self._manifest()
        return {"version": int(m["current"])}

    def commit(self, end: dict) -> None:
        pass  # versions are immutable; nothing to release

    # -- planning -------------------------------------------------------
    def partitions(self, start: dict, end: dict):
        from ..versioned import _fpath, _root

        catalog, rel, m = self._manifest()
        io = catalog.io
        root = _root(catalog, rel)

        def fpath(name: str) -> str:
            return _fpath(io, root, name)

        parts: list[_CDFPartition] = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            a = m["versions"].get(str(v - 1))
            b = m["versions"][str(v)]
            op = b["op"]
            cols = tuple(b["columns"])
            if a is None:  # streaming from the very first commit
                a = {"files": [], "dv": []}
            a_files, b_files = set(a["files"]), set(b["files"])
            dv_a = [fpath(f) for f in a.get("dv", [])]
            dv_b = [fpath(f) for f in b.get("dv", [])]
            if op == "optimize":
                continue  # lossless rewrite: zero changes by construction
            if op in ("replace", "merge", "delete") and a["files"]:
                raise ValueError(
                    f"{rel.view_name} v{v}: op {op!r} is a copy-on-write "
                    "rewrite — its file diff carries unchanged rows, which "
                    "a streaming read cannot bag-cancel. Consume this commit "
                    "with the batch read_versioned_changes (which cancels "
                    "exactly), or use the merge-on-read mutators for "
                    "stream-followed tables"
                )
            for f in sorted(b_files - a_files):
                parts.append(_CDFPartition(
                    "insert-file", v, "insert", fpath(f),
                    (), tuple(dv_b), cols,
                ))
            for f in sorted(a_files - b_files):
                parts.append(_CDFPartition(
                    "insert-file", v, "delete", fpath(f),
                    (), tuple(dv_a), cols,
                ))
            if set(dv_a) != set(dv_b):
                for f in sorted(a_files & b_files):
                    parts.append(_CDFPartition(
                        "dv-delta", v, "delete", fpath(f),
                        tuple(dv_a), tuple(dv_b), cols,
                    ))
                    parts.append(_CDFPartition(
                        "dv-delta", v, "insert", fpath(f),
                        tuple(dv_b), tuple(dv_a), cols,
                    ))
        return parts

    # -- execution (executor side, pure pyarrow) ------------------------
    def read(self, partition: _CDFPartition):
        base = _basename(partition.data_path)
        if partition.kind == "insert-file":
            dead = _pairs_for(partition.new_dv_paths, base)
            table = _read_parquet(partition.data_path)
            cols = [table.column(c).to_pylist() for c in partition.columns]
            for i in range(table.num_rows):
                if (base, i) in dead:
                    continue
                yield tuple(c[i] for c in cols) + (
                    partition.change, partition.commit_version,
                )
        else:  # dv-delta: rows dead under NEW minus dead under OLD
            was = _pairs_for(partition.old_dv_paths, base)
            now = _pairs_for(partition.new_dv_paths, base)
            delta = {i for (_, i) in (now - was)}
            if not delta:
                return
            table = _read_parquet(partition.data_path)
            cols = [table.column(c).to_pylist() for c in partition.columns]
            for i in sorted(delta):
                yield tuple(c[i] for c in cols) + (
                    partition.change, partition.commit_version,
                )


class VersionedCDFDataSource(DataSource):
    """``spark.readStream.format("versioned_cdf")`` after
    ``register_cdf_source(spark)``. Options: ``database`` (catalog root),
    ``table``, optional ``schemaname``, optional ``startversion``
    (default 0 = stream the table's whole history)."""

    @classmethod
    def name(cls) -> str:
        return "versioned_cdf"

    def schema(self) -> str:
        from ..catalog import FilesystemCatalog
        from ..versioned import _load_manifest

        catalog = FilesystemCatalog(self.options["database"])
        rel = catalog.relation(
            self.options["table"], self.options.get("schemaname", "") or ""
        )
        m = _load_manifest(catalog, rel)
        entry = m["versions"][str(m["current"])]
        dtypes = entry.get("dtypes", {})
        cols = ", ".join(
            f"`{c}` {dtypes.get(c, 'string')}" for c in entry["columns"]
        )
        return f"{cols}, `_change_type` string, `_commit_version` bigint"

    def streamReader(self, schema):
        return _CDFStreamReader(self.options)


def register_cdf_source(spark) -> None:
    """Idempotently register the versioned_cdf streaming source on the
    session (Python Data Source registry)."""
    spark.dataSource.register(VersionedCDFDataSource)


# --- Registered contract query ----------------------------------------------
# Scaffold: a four-commit history exercising every streaming-supported hop
# class — base append, merge-on-read delete, append, and a rollback ACROSS
# the MoR delete (the resurrection case) — memoized per sf_dir.

CDF_FOLLOW_OFFSET = 30_000_000


def _cdf_follow_table(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..sources.readers import load_table
    from ..versioned import _fixture, delete_versioned, rollback_versioned, write_versioned

    def fill(catalog, rel) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
        write_versioned(
            spark, catalog, rel, docs.repartitionByRange(4, "doc_id"),
            stats_cols=("doc_id",),
        )  # v1
        delete_versioned(spark, catalog, rel, F.col("doc_id") % 9 == 4, mode="mor")  # v2
        write_versioned(
            spark, catalog, rel,
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + CDF_FOLLOW_OFFSET).alias("doc_id"), "source"
            ),
            mode="append",
        )  # v3
        rollback_versioned(catalog, rel, 1)  # v4: resurrects the MoR-deleted rows

    return _fixture(spark, sf_dir, "docs_feed", fill)


def _register_query():
    from pyspark.sql import DataFrame, SparkSession

    from ..registry import register

    @register(
        "q_stream_cdc_follow",
        oracle=f"""
        SELECT doc_id, source, 'insert' AS _change_type,
               CAST(1 AS BIGINT) AS _commit_version
        FROM documents
        UNION ALL
        SELECT doc_id, source, 'delete', 2 FROM documents WHERE doc_id % 9 = 4
        UNION ALL
        SELECT doc_id + {CDF_FOLLOW_OFFSET}, source, 'insert', 3
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id, source, 'insert', 4 FROM documents WHERE doc_id % 9 = 4
        UNION ALL
        SELECT doc_id + {CDF_FOLLOW_OFFSET}, source, 'delete', 4
        FROM documents WHERE doc_id % 13 = 0
        """,
        tags=(
            "streaming", "versioned", "cdc", "change-data-feed",
            "structured-streaming", "datasource",
        ),
    )
    def q_stream_cdc_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
        """REAL Structured Streaming read of a versioned table's change
        feed, oracle-checked end-to-end: the versioned_cdf Python Data
        Source streams the scaffold's four commits (base, merge-on-read
        delete, append, rollback-across-the-MoR-delete) as one availableNow
        pass into a memory sink, and the materialized feed must value-match
        the plain-SQL oracle — including the rollback hop emitting the
        RESURRECTED rows as inserts (the r13 advice case, proven on the
        streaming path too). Commit versions are the stream's offsets, so
        checkpoint recovery replays exactly (versions are immutable);
        per-hop parallelism = changed files, cost O(changed bytes)."""
        from .stream_ops import run_to_batch

        catalog, rel = _cdf_follow_table(spark, sf_dir)
        register_cdf_source(spark)
        stream = (
            spark.readStream.format("versioned_cdf")
            .option("database", catalog.database)
            .option("table", "docs_feed")
            .option("schemaname", "vt")
            .load()
        )
        return run_to_batch(stream, spark, output_mode="append")


_register_query()
