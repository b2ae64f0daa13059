"""Versioned tables: manifest-committed materialization with time travel.

``materialize.create_table_as`` publishes by directory swap — atomic on
POSIX, destructive by design (the previous version is deleted). This module
is the lake-table upgrade the 100 TB posture wants for REPLACEABLE serving
tables: every write is a new immutable SNAPSHOT committed as one small JSON
manifest, so

- readers resolve the manifest to an explicit file list and scan exactly
  those files — a reader that resolved version N keeps a consistent view
  even while version N+1 commits (no rename window, no half-published
  state, zero LIST calls on object stores);
- every historical version stays addressable (``read_versioned(...,
  version=k)`` — time travel) until ``vacuum_versions`` reaps it;
- ``append`` writes ONLY the delta files (the new version's file list is
  parent files + staged files — O(delta) data IO, O(1) commit);
- ``rollback`` is a pure metadata commit: a new version whose file list is
  the target version's.

Commits go through ``commitlog``, shared with the ANN index manifest
(operators/index_manifest.py). Racing writers get exactly one winner per
generation; losers raise ConcurrentWriteError with nothing committed —
reload and retry. That guarantee holds on local filesystems and on backends
with a conditional-PUT hook (``fs.register_conditional_put``). A crash
before the commit leaves invisible staged orphans (reaped by vacuum), a
crash after it leaves the new snapshot fully committed, so no crash point
loses bytes a committed manifest references. Readers never coordinate.

Reference parity: the reference's CTAS overwrites in place (reference
impl.py:75-85 rename pattern, macros/adapters.sql:10) — this module keeps
that as version history instead of deleting it, the capability gap a
production lake closes with Delta/Iceberg. All IO routes through the
catalog's pyarrow.fs layer, so the same code runs on file://, s3://,
gs://, hdfs:// (CI drives the scheme-prefixed path via file://).

Row counts in the manifest come from the staged parquet FOOTERS (pure
metadata — no second scan), so ``version_history`` is exact and free.

Row-level mutations (merge, delete, apply-changes) share one commit,
``_mutate``, in one of two shapes: copy-on-write (CoW) rewrites the
candidate files; merge-on-read (MoR) rewrites nothing and records the
removed rows' (file, row) coordinates in a deletion-vector (DV) sidecar.
Every version entry, whatever the op, is built by ``_new_version``.
"""

from __future__ import annotations

import datetime
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commitlog, memo
from .catalog import FilesystemCatalog, Relation, Snapshot
from .fs import ConcurrentWriteError  # noqa: F401 — re-exported (public API)
from .registry import register
from .sources.readers import load_table

VERSIONS_MANIFEST = "_versions.json"  # commit-log cache + versioned-root marker


def _root(catalog: FilesystemCatalog, rel: Relation) -> str:
    return catalog.fs_path(rel)


# Shallow clones (clone_versioned) reference the SOURCE table's data/DV
# files without copying a byte. Such entries are stored in the manifest as
# "ref://<absolute fs path>" — the marker is unambiguous on every backend
# (an S3 fs path like "bucket/db/t/v1.parquet" carries no leading slash,
# so a bare-path heuristic would misclassify it). Every reader resolves
# names through _fpath; vacuum reaps from the table's own DIRECTORY
# listing, which never contains ref:// names, so external bytes are never
# deleted by the referencing table.
EXTERNAL_PREFIX = "ref://"


def _fpath(io, root: str, name: str) -> str:
    """Resolve a manifest file name to its fs path: table-local names join
    the table root; ref:// external references resolve to their recorded
    absolute path."""
    if name.startswith(EXTERNAL_PREFIX):
        return name[len(EXTERNAL_PREFIX):]
    return io.join(root, name)


def _basename(name: str) -> str:
    """The file's base name — the coordinate deletion vectors address
    (``_with_pos`` derives it from _metadata.file_path, so it is root-
    and marker-free). Staged names are uuid-unique, so base names never
    collide between a clone's own files and its source's."""
    if name.startswith(EXTERNAL_PREFIX):
        name = name[len(EXTERNAL_PREFIX):]
    return name.rsplit("/", 1)[-1]


def _load_manifest(catalog: FilesystemCatalog, rel: Relation) -> dict:
    """The table's committed state (``commitlog.load``), carrying its
    generation under ``gen`` — mutators pass it back as ``expect_gen``. A
    table with nothing committed loads as an empty manifest at gen 0."""
    m = commitlog.load(catalog.io, _root(catalog, rel), VERSIONS_MANIFEST)
    return m if m is not None else {"current": 0, "versions": {}, "gen": 0}


def _entry_snapshot(io, root: str, entry: dict, names: list[str] | None = None) -> Snapshot:
    """Version ``entry`` of the table at ``root`` as a catalog ``Snapshot``:
    its files (``names``, a pruned subset, when given) and deletion vectors
    as fs paths (``ref://`` names resolved), its live row count and its
    pinned columns (None types for a legacy entry's untyped ones)."""
    dtypes = entry.get("dtypes") or {}
    return Snapshot(
        files=tuple(_fpath(io, root, f) for f in (entry["files"] if names is None else names)),
        dv=tuple(_fpath(io, root, f) for f in entry.get("dv", [])),
        rows=entry["rows"],
        columns={c: dtypes.get(c) for c in entry["columns"]},
        kind="versioned",
        root=root,
    )


def current_snapshot(io, root: str) -> Snapshot:
    """The table at ``root``'s current version as a catalog ``Snapshot``
    (``_entry_snapshot``)."""
    m = commitlog.load(io, root, VERSIONS_MANIFEST)
    entry = m["versions"].get(str(m["current"])) if m else None
    if entry is None:
        return Snapshot(rows=0, columns={}, kind="versioned", root=root)
    return _entry_snapshot(io, root, entry)


def _commit_manifest(
    catalog: FilesystemCatalog,
    rel: Relation,
    m: dict,
    expect_gen: int | None = None,
) -> None:
    """Commit the manifest at generation ``expect_gen + 1`` (default: one
    past the generation ``m`` was loaded at). Racing writers get exactly one
    winner; every loser raises ConcurrentWriteError having committed
    nothing (staged orphans; vacuum reaps)."""
    commitlog.commit(catalog.io, _root(catalog, rel), VERSIONS_MANIFEST, m, expect_gen)


def _new_version(
    m: dict,
    op: str,
    files: list[str],
    rows: int,
    columns: list[str],
    dtypes: dict[str, str],
    evolved: bool,
    parent: int | None = None,
    dv: list[str] | None = None,
    stats: dict | None = None,
    **extra,
) -> int:
    """Add the next version entry to ``m`` and make it current; the caller
    commits. ``parent`` defaults to the version current before (None for a
    table's first commit). ``dv`` is recorded only when non-empty, ``stats``
    ({file: {col: [min, max]}}) merges into the manifest's skipping stats,
    and ``extra`` adds fields to the entry. Returns the new version id."""
    version = m["current"] + 1
    entry = {
        "files": list(files),
        "op": op,
        "parent": parent if parent is not None else (m["current"] or None),
        "rows": rows,
        "columns": list(columns),
        "dtypes": dict(dtypes),
        "evolved": bool(evolved),
        "ts": time.time(),
        **extra,
    }
    if dv:
        entry["dv"] = list(dv)
    m["versions"][str(version)] = entry
    m["current"] = version
    if stats:
        m.setdefault("stats", {}).update(stats)
    return version


def _check_mode(mode: str, allowed: tuple[str, ...]) -> None:
    """Refuse an unknown ``mode`` (unlike an assert, also under -O)."""
    if mode not in allowed:
        raise ValueError(f"mode must be one of {allowed}, got {mode!r}")


# Parquet-safe type widenings accepted under evolve=True (the Delta type-
# widening feature): the stored narrow values read losslessly at the wider
# type, and Spark 4's parquet reader upcasts when handed the wider schema
# explicitly (verified: int32 files read as bigint, float as double).
_WIDENINGS = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
}


def _dtypes(df: DataFrame) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def _merge_dtypes(
    parent: dict[str, str], new: dict[str, str], context: str
) -> dict[str, str]:
    """Per-column widest type across parent and append schemas; raises on
    any non-widening type change (evolution is additive + widening ONLY —
    everything else must go through mode='replace')."""
    merged = dict(parent)
    for col, dt in new.items():
        old = merged.get(col)
        if old is None or old == dt:
            merged[col] = dt
        elif (old, dt) in _WIDENINGS:
            merged[col] = dt  # append widened the column: record the wide type
        elif (dt, old) in _WIDENINGS:
            pass  # append is narrower than the table: reads upcast to `old`
        else:
            raise ValueError(
                f"{context}: column {col!r} changes type {old} -> {dt}, which "
                "is not a Parquet-safe widening; use mode='replace'"
            )
    return merged


def _with_pos(df: DataFrame) -> DataFrame:
    """Per-file identity columns off the parquet scan's hidden _metadata:
    (file base name, 0-based row index within the file) — the coordinate
    system deletion vectors address. Pure scan metadata, no data cost."""
    return df.withColumn(
        "_dv_file", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    ).withColumn("_dv_pos", F.col("_metadata.row_index"))


def _read_dv(spark: SparkSession, io, paths) -> DataFrame:
    """The (file, pos) pairs of the deletion-vector sidecars at fs
    ``paths``, read with their fixed schema (``_stage_dv`` writes
    ``_with_pos``'s columns), so no schema-inference job runs."""
    return spark.read.schema("file STRING, pos BIGINT").parquet(
        *[io.spark_url(p) for p in paths]
    )


def _snapshot_read(
    spark: SparkSession, io, root: str, names: list[str], entry: dict,
    keep_pos: bool = False,
) -> DataFrame:
    """Scan (``readers.scan``) a version's possibly pruned file list
    ``names``, pinned to the version's recorded schema and with its
    deletion vectors applied (a pruned subset applies the full DV set:
    pairs for unread files never match). A legacy entry without dtypes
    pruned to no file takes its schema from all of its files.
    ``keep_pos=True`` adds the (_dv_file, _dv_pos) coordinates of each
    surviving row — the merge-on-read commit (``_mutate``) addresses rows
    with them; a read of no file gets typed NULLs."""
    from .sources.readers import scan

    if not names and entry["files"] and not entry.get("dtypes"):
        return _snapshot_read(spark, io, root, entry["files"], entry, keep_pos).limit(0)
    out = scan(spark, io, _entry_snapshot(io, root, entry, names))[0]
    if not keep_pos:
        return out
    if names:
        return _with_pos(out)
    return out.withColumn("_dv_file", F.lit(None).cast("string")).withColumn(
        "_dv_pos", F.lit(None).cast("bigint")
    )


def _footer_meta(
    io, fs_path: str, stats_cols: tuple[str, ...] = ()
) -> tuple[int, dict]:
    """Row count + per-column [min, max] over the file's row groups, from
    the parquet FOOTER only (no data pages read). Columns whose statistics
    are absent or not JSON-native are skipped — a file with no recorded
    stats is simply never pruned (skipping is conservative by design)."""
    import pyarrow.parquet as papq

    with io.open_input(fs_path) as fh:
        md = papq.ParquetFile(fh).metadata
    stats: dict = {}
    if stats_cols:
        names = [md.schema.column(j).name for j in range(md.num_columns)]
        for col in stats_cols:
            if col not in names:
                continue
            j = names.index(col)
            lo = hi = None
            ok = True
            for i in range(md.num_row_groups):
                s = md.row_group(i).column(j).statistics
                if s is None or not s.has_min_max:
                    ok = False
                    break
                mn, mx = s.min, s.max
                if not isinstance(mn, (int, float, str, bool)) or not isinstance(
                    mx, (int, float, str, bool)
                ):
                    ok = False
                    break
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            if ok and lo is not None:
                stats[col] = [lo, hi]
    return md.num_rows, stats


def _stage_files(
    spark: SparkSession, catalog: FilesystemCatalog, rel: Relation,
    df: DataFrame | None, version: int, stats_cols: tuple[str, ...] = (),
    prefix: str = "v",
) -> tuple[list[str], int, dict]:
    """Write df's part files into the table root under fresh unique names
    WITHOUT committing them (invisible to manifest readers until the
    commit — ``commitlog.stage``). Returns (names, rows,
    {file: {col: [min, max]}}), all from the staged footers; a None df
    stages nothing. ``prefix`` distinguishes data files (``v``) from
    deletion-vector sidecars (``dv``) — both live under the same
    orphan/vacuum discipline."""
    if df is None:
        return [], 0, {}
    io = catalog.io
    root = _root(catalog, rel)
    io.makedirs(root)
    rows = 0
    file_stats: dict = {}

    def footer(name: str) -> None:
        nonlocal rows
        n, stats = _footer_meta(io, io.join(root, name), stats_cols)
        rows += n
        if stats:
            file_stats[name] = stats

    names = commitlog.stage(
        io, root, lambda url: df.write.mode("overwrite").parquet(url),
        f"{prefix}{version:06d}", on_move=footer,
    )
    return sorted(names), rows, file_stats


def _unstage(catalog: FilesystemCatalog, rel: Relation, names: list[str]) -> None:
    """Remove staged files no commit will reference."""
    root = _root(catalog, rel)
    for f in names:
        catalog.io.remove_any(catalog.io.join(root, f))


def _stage_dv(
    spark: SparkSession, catalog: FilesystemCatalog, rel: Relation,
    pairs: DataFrame, version: int,
) -> tuple[list[str], int]:
    """Stage (file, pos) pairs as a deletion-vector sidecar. Returns
    (names, n_pairs); an empty sidecar is removed at once and returns
    ([], 0)."""
    names, n_pairs, _ = _stage_files(spark, catalog, rel, pairs, version, prefix="dv")
    if n_pairs == 0:
        _unstage(catalog, rel, names)
        return [], 0
    return names, n_pairs


class ConstraintViolationError(ValueError):
    """A committed-write gate refused data violating a table CHECK
    constraint (nothing was committed)."""


def _violation_counts(df: DataFrame, constraints: dict[str, str]) -> dict:
    """Per-constraint violation counts over df in ONE aggregation pass.
    SQL CHECK semantics: a row violates only when the predicate is FALSE —
    NULL (unknown) passes, matching ANSI and Delta CHECK behavior."""
    if not constraints:
        return {}
    row = df.agg(
        *[
            F.sum(
                F.when(~F.coalesce(F.expr(sql), F.lit(True)), 1).otherwise(0)
            ).alias(name)
            for name, sql in constraints.items()
        ]
    ).first()
    return {name: int(row[name] or 0) for name in constraints}


def _enforce_constraints(
    df: DataFrame, constraints: dict[str, str], context: str
) -> None:
    bad = {k: v for k, v in _violation_counts(df, constraints).items() if v}
    if bad:
        detail = ", ".join(
            f"{k!r} ({v} rows; CHECK {constraints[k]})" for k, v in sorted(bad.items())
        )
        raise ConstraintViolationError(
            f"{context}: incoming data violates table constraint(s) {detail}; "
            "nothing committed"
        )


def set_check_constraint(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    name: str,
    check_sql: str,
) -> None:
    """Add a table-level CHECK constraint (the Delta ``ALTER TABLE ... ADD
    CONSTRAINT`` shape): ``check_sql`` is a boolean SQL expression over
    the table's columns. The CURRENT snapshot is validated first — one
    aggregation pass; a table already violating the check refuses the add
    with per-constraint counts — then the constraint commits into the
    manifest (OCC-protected, its own generation) and every subsequent
    write gate (replace/append, merge updates, CDC apply upserts)
    validates incoming rows before any commit, failing loudly with
    ConstraintViolationError. NULL predicate results pass (ANSI CHECK).
    Constraints ride clones and survive schema evolution; DELETEs are
    never gated (they add no rows)."""
    m = _load_manifest(catalog, rel)
    cons = dict(m.get("constraints", {}))
    cons[name] = check_sql
    if m["current"]:
        _enforce_constraints(
            read_versioned(spark, catalog, rel),
            {name: check_sql},
            f"{rel.view_name} ADD CONSTRAINT {name}",
        )
    m["constraints"] = cons
    _commit_manifest(catalog, rel, m)


def drop_check_constraint(
    catalog: FilesystemCatalog, rel: Relation, name: str
) -> None:
    """Remove a CHECK constraint by name (missing name raises KeyError —
    a typo'd drop silently succeeding would leave the caller believing a
    real constraint is gone)."""
    m = _load_manifest(catalog, rel)
    cons = dict(m.get("constraints", {}))
    del cons[name]
    m["constraints"] = cons
    _commit_manifest(catalog, rel, m)


def constraint_audit(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    candidate: DataFrame | None = None,
) -> DataFrame:
    """Pre-flight gate report: (constraint_name, check_sql, n_violations)
    for each table constraint evaluated over ``candidate`` (default: the
    current snapshot) — the dry-run a pipeline runs on a staging batch
    BEFORE attempting the committing write. One aggregation pass total."""
    m = _load_manifest(catalog, rel)
    cons = dict(m.get("constraints", {}))
    df = candidate if candidate is not None else read_versioned(spark, catalog, rel)
    counts = _violation_counts(df, cons)
    return spark.createDataFrame(
        [(k, cons[k], counts[k]) for k in sorted(cons)],
        "constraint_name string, check_sql string, n_violations bigint",
    )


def write_versioned(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    df: DataFrame,
    mode: str = "replace",
    txn: tuple[str, int] | None = None,
    stats_cols: tuple[str, ...] | None = None,
    evolve: bool = False,
    retry_on_conflict: bool = True,
    before_commit=None,
) -> int | None:
    """Commit df as the table's next version. ``replace`` snapshots df
    alone; ``append`` stages only df's files and the new version references
    parent files + staged files (O(delta) IO). Returns the new version id.

    Concurrency: racing writers are MULTI-WRITER SAFE — the commit is
    put-if-absent on a generation-numbered log (_commit_manifest), so
    exactly one racer wins each generation, and because appends and
    replaces are commutative against a moving parent (an append's staged
    files stay valid; it just re-points at the winner's file list; a
    replace doesn't read the parent at all), the loser RE-RESOLVES the
    new state and retries by default: N racing appends all land, in
    commit-log order, none lost — the Delta transaction ergonomics.
    ``retry_on_conflict=False`` surfaces the loss as ConcurrentWriteError
    instead (nothing committed; staged orphans; vacuum reaps). A retried
    append re-runs the schema gate against the NEW parent, so a racing
    replace that changed the schema fails loudly, never merges silently.
    The stateful mutators (merge/delete/rollback/optimize) never
    auto-retry — their output depends on the snapshot they read.
    ``before_commit`` is a test seam invoked before each commit attempt.

    ``txn=(stream_id, batch_id)`` makes the commit TRANSACTIONAL for
    streaming ingest (the Delta txnAppId/txnVersion discipline, shared
    with index_manifest.manifest_stream_append): the batch id is recorded
    under ``streams[stream_id]`` in the SAME commit, and a
    replayed batch (at-least-once delivery) finds its id recorded and
    returns None without staging a byte.

    ``stats_cols`` declares data-skipping columns: per-file [min, max]
    for each is read off the staged FOOTERS and recorded in the manifest,
    and later writes (appends, streaming batches, optimize) inherit the
    declaration automatically — ``read_versioned(where=...)`` then prunes
    files manifest-side, before the scan sees them.

    ``evolve=True`` relaxes the append schema gate to ADDITIVE + WIDENING
    evolution (the Delta mergeSchema / type-widening discipline): the
    append may introduce new columns and may widen column types along
    Parquet-safe promotions (int chain up to bigint, float -> double) but
    never drop parent columns or change a type any other way; the version
    records the merged schema (per-column dtypes, widest type wins) and an
    ``evolved`` flag, and readers of evolved snapshots scan with that
    EXPLICIT schema pinned — pre-evolution files null-fill the new columns
    and upcast the widened ones — while time travel to pre-evolution
    versions keeps the old shape and old types (each version entry carries
    its own dtypes). ``optimize_versioned`` rewrites an evolved lineage
    uniform again."""
    _check_mode(mode, ("replace", "append"))
    df_columns = list(df.columns)
    df_dtypes = _dtypes(df)

    def gate(m: dict) -> tuple[list[str], dict[str, str], bool]:
        """Schema gate + merged (columns, dtypes, evolved) against the
        manifest's CURRENT parent — run before any bytes move, and re-run
        on every conflict retry (the parent may have changed under us)."""
        if mode != "append" or not m["current"]:
            return df_columns, dict(df_dtypes), False
        parent = m["versions"][str(m["current"])]
        parent_cols = parent["columns"]
        parent_dtypes = parent.get("dtypes", {})
        if not evolve:
            if df_columns != parent_cols or (
                parent_dtypes
                and any(
                    df_dtypes[c] != parent_dtypes.get(c, df_dtypes[c])
                    for c in df_columns
                )
            ):
                raise ValueError(
                    f"append schema {df_columns} != table schema "
                    f"{parent_cols}; pass evolve=True for additive/widening "
                    "evolution or mode='replace' to change the schema freely "
                    "(versions are immutable snapshots — history keeps the "
                    "old shape)"
                )
            columns, dtypes = df_columns, dict(df_dtypes)
        else:
            missing = [c for c in parent_cols if c not in df_columns]
            if missing:
                raise ValueError(
                    f"evolved append drops parent columns {missing} — "
                    "evolution is additive only; use mode='replace' to narrow"
                )
            dtypes = _merge_dtypes(
                parent_dtypes, df_dtypes, f"{rel.view_name} evolved append"
            )
            # keep parent column order; evolved columns append at the end
            columns = parent_cols + [c for c in df_columns if c not in parent_cols]
        # mixed-schema file list: this append added columns or widened
        # types, or an earlier evolution already left mixed files behind
        evolved = (
            columns != parent_cols
            or dtypes != parent_dtypes
            or bool(parent.get("evolved"))
        )
        return columns, dtypes, evolved

    m = _load_manifest(catalog, rel)
    if stats_cols is not None:
        m["stats_cols"] = sorted(stats_cols)
    effective_stats_cols = tuple(m.get("stats_cols", ()))
    if txn is not None:
        sid, bid = txn
        last = m.get("streams", {}).get(sid)
        if last is not None and bid <= last:
            return None  # replay of a committed batch: the txn record skips it
    columns, dtypes, evolved = gate(m)
    _enforce_constraints(
        df, m.get("constraints", {}), f"{rel.view_name} {mode}"
    )
    names, rows_staged, file_stats = _stage_files(
        spark, catalog, rel, df, m["current"] + 1, effective_stats_cols
    )
    while True:
        parent = m["versions"].get(str(m["current"])) if mode == "append" else None
        files, rows, dv = names, rows_staged, None
        if parent:
            files = parent["files"] + names
            rows = parent["rows"] + rows_staged
            dv = parent.get("dv")  # MoR deletes carry forward
        version = _new_version(
            m, mode, files, rows, columns, dtypes, evolved, dv=dv, stats=file_stats
        )
        if txn is not None:
            m.setdefault("streams", {})[txn[0]] = txn[1]
        if before_commit is not None:
            before_commit()
        try:
            _commit_manifest(catalog, rel, m)
            return version
        except ConcurrentWriteError:
            if not retry_on_conflict:
                raise
            # another writer won this generation: the staged files stay
            # valid (their names are already unique; the version prefix in
            # the name is cosmetic), so re-resolve the new state and retry
            m = _load_manifest(catalog, rel)
            if stats_cols is not None:
                m["stats_cols"] = sorted(stats_cols)
            if txn is not None:
                last = m.get("streams", {}).get(txn[0])
                if last is not None and txn[1] <= last:
                    return None  # our batch committed concurrently
            columns, dtypes, evolved = gate(m)  # may raise: schema moved


def stream_append_versioned(
    catalog: FilesystemCatalog,
    rel: Relation,
    stream_df: DataFrame,
    checkpoint_dir: str,
    stream_id: str | None = None,
    available_now: bool = True,
):
    """Exactly-once streaming ingest into a versioned table: each
    micro-batch commits as a new append version whose commit
    ALSO records the batch id (``write_versioned(txn=...)``). The
    at-least-once worst case — a crash between the manifest commit and the
    checkpoint commit — replays the batch into the txn skip, so the table
    never holds a duplicate and every batch boundary stays addressable as
    its own time-travel snapshot. ``stream_id`` identifies the logical
    stream across restarts (defaults to the checkpoint path; a NEW
    checkpoint against the same table needs a new stream_id — batch ids
    restart at 0 per checkpoint). Single mutator at a time: pause the
    ingest around a rollback/vacuum, resume after."""
    sid = stream_id if stream_id is not None else str(checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_versioned(
            batch_df.sparkSession, catalog, rel, batch_df,
            mode="append", txn=(sid, batch_id),
        )

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def rollback_versioned(
    catalog: FilesystemCatalog, rel: Relation, version: int
) -> int:
    """Point the table back at a historical snapshot — a pure METADATA
    commit: the new version's file list is the target's (no data IO)."""
    m = _load_manifest(catalog, rel)
    target = m["versions"][str(version)]
    new_version = _new_version(
        m, "rollback", target["files"], target["rows"], target["columns"],
        target.get("dtypes", {}), target.get("evolved"),
        parent=version, dv=target.get("dv"),
    )
    _commit_manifest(catalog, rel, m)
    return new_version


def clone_versioned(
    catalog: FilesystemCatalog,
    src: Relation,
    dst: Relation,
    version: int | None = None,
) -> int:
    """SHALLOW CLONE: commit ``dst`` as a new versioned table whose v1
    references ``src``'s data (and deletion-vector) files at ``version``
    (default: current) WITHOUT copying a byte — a metadata-only commit,
    the Delta ``CREATE TABLE ... SHALLOW CLONE`` shape. File references
    are recorded as ``ref://<fs path>`` entries; every reader resolves
    them through ``_fpath``, and per-file skipping stats, stats_cols,
    dtypes and CHECK constraints all carry over, so the clone scans,
    prunes and gates exactly like the source.

    The histories are INDEPENDENT from the moment of the clone: writes to
    either side never appear in the other (a clone's append stages files
    under the clone's own root; a CoW rewrite on the clone simply drops
    the ref:// entries from its manifest — external bytes are never
    deleted by the referencing table, and the clone's vacuum reaps from
    its own directory listing, which cannot contain them).

    CAVEAT (Delta parity): the clone borrows the source's bytes, so
    ``vacuum_versions`` on the SOURCE can reap files the clone still
    references — run ``optimize_versioned`` on the clone first to
    materialize it into self-contained files (pinned in tests).

    Cloning a clone re-uses the original absolute references (no chains
    of indirection). Raises if dst already exists as a versioned table."""
    io = catalog.io
    src_m = _load_manifest(catalog, src)
    if not src_m["current"]:
        raise ValueError(f"{src.view_name}: nothing committed to clone")
    dst_m = _load_manifest(catalog, dst)
    if dst_m["current"]:
        raise ValueError(
            f"{dst.view_name}: already a versioned table (v{dst_m['current']});"
            " clone targets must be fresh"
        )
    v = src_m["current"] if version is None else version
    entry = src_m["versions"][str(v)]
    src_root = _root(catalog, src)

    def _ref(name: str) -> str:
        if name.startswith(EXTERNAL_PREFIX):
            return name  # clone of a clone: keep the original reference
        return EXTERNAL_PREFIX + io.join(src_root, name)

    m = {"current": 0, "versions": {}, "gen": dst_m.get("gen", 0)}
    if src_m.get("stats_cols"):
        m["stats_cols"] = list(src_m["stats_cols"])
    if src_m.get("constraints"):
        m["constraints"] = dict(src_m["constraints"])
    src_stats = src_m.get("stats", {})
    new_version = _new_version(
        m, "clone", [_ref(f) for f in entry["files"]], entry["rows"],
        entry["columns"], entry.get("dtypes", {}), entry.get("evolved"),
        dv=[_ref(f) for f in entry.get("dv", [])],
        stats={_ref(f): src_stats[f] for f in entry["files"] if f in src_stats},
        clone_of={"table": src.view_name, "version": v},
    )
    io.makedirs(_root(catalog, dst))
    _commit_manifest(catalog, dst, m)
    return new_version


def version_at_timestamp(
    catalog: FilesystemCatalog, rel: Relation, ts: float
) -> int:
    """The version that was CURRENT at POSIX time ``ts`` — the newest
    version whose commit timestamp is <= ts (the Delta ``TIMESTAMP AS OF``
    resolution rule). Pure manifest metadata, no data IO. Raises
    ValueError when ts predates the first commit (there was no table
    then — resolving to v1 would silently misdate an audit query)."""
    return _version_at(_load_manifest(catalog, rel), rel, ts)


def _version_at(m: dict, rel: Relation, ts: float) -> int:
    """``version_at_timestamp`` over the loaded manifest ``m``."""
    best: int | None = None
    for k in sorted(m["versions"], key=int):
        if float(m["versions"][k].get("ts", float("inf"))) <= ts:
            best = int(k)
    if best is None:
        first = min(
            float(e.get("ts", float("inf"))) for e in m["versions"].values()
        )
        raise ValueError(
            f"{rel.view_name}: timestamp {ts} predates the first commit "
            f"({datetime.datetime.fromtimestamp(first).isoformat()}); "
            "no snapshot existed then"
        )
    return best


def _pruned(m: dict, names: list[str], where: dict | None) -> list[str]:
    """``names`` without the files whose recorded [min, max] cannot meet
    every ``where`` range ({col: (lo, hi)}; None bounds are open-ended), in
    their order. Conservative: a file without stats for a column is kept."""
    if not where:
        return list(names)
    stats = m.get("stats", {})

    def survives(name: str) -> bool:
        fstats = stats.get(name, {})
        for col, (lo, hi) in where.items():
            rng = fstats.get(col)
            if rng is None:
                continue
            if (hi is not None and rng[0] > hi) or (lo is not None and rng[1] < lo):
                return False
        return True

    return [f for f in names if survives(f)]


def read_versioned(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    version: int | None = None,
    where: dict | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Scan one committed snapshot (default: current): explicit file list
    from the manifest — never a directory listing, so staged/orphaned/
    vacuum-pending files are invisible and the read is a consistent
    point-in-time view at any concurrency.

    ``where={col: (lo, hi)}`` enables manifest-side DATA SKIPPING over the
    declared stats_cols: a file whose recorded [min, max] cannot intersect
    [lo, hi] is dropped from the file list before Spark ever opens its
    footer (the Delta data-skipping shape — at 100 TB this is the
    difference between touching every file's footer and touching only the
    matching fraction). Skipping is CONSERVATIVE: files without recorded
    stats always survive, and the scan is pruned-not-filtered — callers
    still apply the exact predicate (None bounds are open-ended).

    ``as_of_ts`` time-travels by POSIX timestamp instead of version id
    (``TIMESTAMP AS OF``): the snapshot that was current at that instant,
    via version_at_timestamp, over the same one manifest load. Mutually
    exclusive with ``version``."""
    if as_of_ts is not None and version is not None:
        raise ValueError("pass version OR as_of_ts, not both")
    m = _load_manifest(catalog, rel)
    if as_of_ts is not None:
        version = _version_at(m, rel, as_of_ts)
    entry = m["versions"][str(m["current"] if version is None else version)]
    # pinned-schema scan: the version's recorded (columns, dtypes) are the
    # read schema, so evolved snapshots null-fill/upcast per file and a
    # pruned subset that happens to predate an evolution still resolves
    # every column (the mergeSchema-over-pruned-subset crash this replaces)
    return _snapshot_read(
        spark, catalog.io, _root(catalog, rel), _pruned(m, entry["files"], where), entry
    )


def _dv_pairs(
    spark: SparkSession, io, root: str, entry: dict, files: list[str]
) -> DataFrame | None:
    """The version's deletion-vector (file, pos) pairs that address
    ``files``; None when the version carries no DVs or ``files`` is empty."""
    dv = entry.get("dv") or []
    if not dv or not files:
        return None
    dvdf = _read_dv(spark, io, [_fpath(io, root, f) for f in dv])
    return dvdf.filter(F.col("file").isin([_basename(f) for f in files]))


def _dv_prune(
    spark: SparkSession, catalog: FilesystemCatalog, rel: Relation,
    cur: dict, untouched: list[str], version: int,
) -> list[str]:
    """Re-stage the parent's DV pairs that address files still listed
    after a CoW rewrite (pairs for rewritten files could never match again
    but would ride every later version until an optimize). One small job;
    returns the new sidecar names ([] when none survive). The parent's
    sidecars stay with the parent version and vacuum with it."""
    pairs = _dv_pairs(spark, catalog.io, _root(catalog, rel), cur, untouched)
    return [] if pairs is None else _stage_dv(spark, catalog, rel, pairs, version)[0]


def _key_candidates(
    spark: SparkSession, m: dict, key: str, keys: DataFrame
) -> list[str]:
    """The current files that may hold one of ``keys``' ``key`` values, sorted.
    One pass of the keys against a BROADCAST |files|-row interval table
    built from the manifest stats: a file is a candidate iff some key falls
    inside its recorded [min, max] (stat-less files always are).
    Distributed and key-set-exact, so keys far outside a file's range never
    make it a candidate (an envelope check over all keys would)."""
    stats = m.get("stats", {})
    files = m["versions"][str(m["current"])]["files"]
    intervals = [
        (name, rng[0], rng[1])
        for name in files
        if (rng := stats.get(name, {}).get(key)) is not None
    ]
    no_stats = [f for f in files if key not in stats.get(f, {})]
    touched: set[str] = set()
    if intervals:
        ivdf = spark.createDataFrame(intervals, ["_file", "_lo", "_hi"])
        touched = {
            r["_file"]
            for r in keys.select(F.col(key).alias("_k"))
            .join(
                F.broadcast(ivdf),
                (F.col("_k") >= F.col("_lo")) & (F.col("_k") <= F.col("_hi")),
            )
            .select("_file")
            .distinct()
            .collect()
        }
    return sorted(touched | set(no_stats))


def _rows(df: DataFrame, match, matched: bool) -> DataFrame:
    """``df``'s rows that ``match`` names (``matched=True``) or all the
    others. ``match`` is a one-column DataFrame of keys (a semi/anti join
    on that column) or a boolean Column, where only TRUE matches: a row
    whose predicate is NULL is kept, as SQL DELETE keeps it."""
    if isinstance(match, DataFrame):
        return df.join(match, match.columns[0], "left_semi" if matched else "left_anti")
    return df.filter(match if matched else ~F.coalesce(match, F.lit(False)))


def _mutate(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    m: dict,
    op: str,
    mode: str,
    candidates: list[str],
    match,
    upserts: DataFrame | None = None,
) -> int | None:
    """The one row-level mutation commit: remove the rows of the current
    snapshot's ``candidates`` that ``match`` names (see ``_rows``), add
    ``upserts``, and commit the result as version op ``op``. Other files
    carry over by reference. Upserts pass the CHECK constraints first;
    deletes add no rows and are never gated.

    ``mode='cow'`` rewrites the candidates: their unmatched rows plus the
    upserts stage as new files, and ``_dv_prune`` drops the parent's DV
    pairs for rewritten files. Read-optimal, but a 10-row delete in a 1 GB
    file rewrites the gigabyte.

    ``mode='mor'`` (the Delta/Iceberg deletion-vector shape) rewrites ZERO
    data files: the matched rows' (file, row-index) coordinates stage as a
    DV sidecar, the upserts as new files, and readers anti-join the DVs
    (``readers.scan``). Write cost is O(upserts + matched coordinates);
    ``optimize_versioned`` later folds DVs and small files away.

    Candidates are read DV-applied, so no row is removed twice, and row
    counts come from the staged footers. A mutation that removes and adds
    no row removes what it staged and returns None without committing;
    otherwise the version commits once (never retried: the result depends
    on the snapshot read) and its id is returned. The evolved flag carries
    over unless a CoW rewrite leaves no untouched file."""
    io = catalog.io
    root = _root(catalog, rel)
    cur = m["versions"][str(m["current"])]
    version = m["current"] + 1
    stats_cols = tuple(m.get("stats_cols", ()))
    if upserts is not None:
        _enforce_constraints(
            upserts, m.get("constraints", {}), f"{rel.view_name} {op}"
        )
    if mode == "mor":
        dv_names, removed = [], 0
        if candidates:
            cand = _snapshot_read(spark, io, root, candidates, cur, keep_pos=True)
            pairs = _rows(cand, match, True).select(
                F.col("_dv_file").alias("file"), F.col("_dv_pos").alias("pos")
            )
            dv_names, removed = _stage_dv(spark, catalog, rel, pairs, version)
        names, added, file_stats = _stage_files(
            spark, catalog, rel, upserts, version, stats_cols
        )
        if removed == 0 and added == 0:
            _unstage(catalog, rel, names)
            return None
        files = list(cur["files"]) + names
        dv = list(cur.get("dv", [])) + dv_names
        evolved = bool(cur.get("evolved"))
        rows = cur["rows"] - removed + added
    else:
        untouched = [f for f in cur["files"] if f not in set(candidates)]
        kept, cand_rows = upserts, 0
        if candidates:
            # pinned-schema read: an evolved lineage whose candidates are
            # ALL pre-evolution (narrow) files still resolves the full
            # column set; DV-applied, so the live candidate rows are the
            # footer rows minus the candidates' dead DV rows (a DV pair is
            # unique per (file, pos), so COUNT is exact)
            cand = _snapshot_read(spark, io, root, candidates, cur)
            kept = _rows(cand, match, False)
            if upserts is not None:
                kept = kept.unionByName(upserts)
            dead = _dv_pairs(spark, io, root, cur, candidates)
            cand_rows = sum(
                _footer_meta(io, _fpath(io, root, f))[0] for f in candidates
            ) - (0 if dead is None else dead.count())
        names, rows_new, file_stats = _stage_files(
            spark, catalog, rel, kept, version, stats_cols
        )
        if upserts is None and rows_new == cand_rows:
            _unstage(catalog, rel, names)
            return None
        files = sorted(untouched) + names
        dv = _dv_prune(spark, catalog, rel, cur, untouched, version)
        # untouched files keep their original (possibly pre-evolution)
        # schema; rewritten files carry the current one
        evolved = bool(cur.get("evolved")) and bool(untouched)
        rows = cur["rows"] - cand_rows + rows_new
    _new_version(
        m, op, files, rows, cur["columns"], cur.get("dtypes", {}), evolved,
        dv=dv, stats=file_stats,
    )
    _commit_manifest(catalog, rel, m)
    return version


def merge_versioned(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    updates: DataFrame,
    key: str,
    mode: str = "cow",
) -> int:
    """MERGE (upsert): rows whose ``key`` matches an update are replaced,
    unmatched update rows are inserted, everything else is untouched — at
    FILE granularity, the Delta merge shape. ``_key_candidates`` picks the
    files whose skipping stats can hold an update key and ``_mutate``
    commits: ``mode='cow'`` rewrites only those (op ``merge``), so a narrow
    update on a range-clustered table rewrites a narrow slice;
    ``mode='mor'`` rewrites none (op ``merge-mor``). ``updates`` must be
    key-unique and share the table's schema; an empty update set commits
    nothing. Single mutator at a time (the standing rule)."""
    _check_mode(mode, ("cow", "mor"))
    m = _load_manifest(catalog, rel)
    cur = m["versions"][str(m["current"])]
    if list(updates.columns) != cur["columns"]:
        raise ValueError(
            f"merge schema {list(updates.columns)} != table schema "
            f"{cur['columns']}"
        )
    cur_dtypes = cur.get("dtypes", {})
    if cur_dtypes:
        # conform update types to the table's recorded schema: equal or
        # narrower (lossless upcast) is accepted; anything else would
        # either truncate silently or leave the staged files wider than
        # the manifest's pinned read schema — refused loudly
        up_dtypes = _dtypes(updates)
        for c in cur["columns"]:
            if up_dtypes[c] != cur_dtypes[c] and (
                (up_dtypes[c], cur_dtypes[c]) not in _WIDENINGS
            ):
                raise ValueError(
                    f"{rel.view_name} merge: column {c!r} has type "
                    f"{up_dtypes[c]}, table records {cur_dtypes[c]}; widen "
                    "the table first (append with evolve=True) or replace"
                )
        updates = updates.select(
            *[F.col(c).cast(cur_dtypes[c]).alias(c) for c in cur["columns"]]
        )
    if updates.limit(1).count() == 0:  # empty update set: no version churn
        return m["current"]
    keys = updates.select(key)
    return _mutate(
        spark, catalog, rel, m, "merge" if mode == "cow" else "merge-mor", mode,
        _key_candidates(spark, m, key, keys), keys, updates,
    )


def delete_versioned(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    condition,
    prune: dict | None = None,
    mode: str = "cow",
) -> int:
    """DELETE the rows where ``condition`` (a Column predicate) is TRUE as
    a new committed version; a row whose predicate is NULL stays.
    ``prune={col: (lo, hi)}`` bounds the candidate files via the skipping
    stats (the caller asserts the predicate is confined to the range;
    without ``prune`` every file is a candidate). ``_mutate`` commits:
    ``mode='cow'`` rewrites the candidates' surviving rows (op ``delete``),
    ``mode='mor'`` records the deleted rows in a deletion vector (op
    ``delete-mor``) — the trade for frequent narrow deletes at 100 TB. A
    delete that matches no row commits nothing and returns the current
    version."""
    _check_mode(mode, ("cow", "mor"))
    m = _load_manifest(catalog, rel)
    cur = m["versions"][str(m["current"])]
    version = _mutate(
        spark, catalog, rel, m, "delete" if mode == "cow" else "delete-mor", mode,
        _pruned(m, cur["files"], prune), condition,
    )
    return m["current"] if version is None else version


def optimize_versioned(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    target_bytes: int = 128 * 1024 * 1024,
    cluster_by: tuple[str, ...] | None = None,
    zorder_by: tuple[str, ...] | None = None,
) -> int:
    """Compact the CURRENT snapshot's files into ~target_bytes files,
    committed as a new version (op='optimize') — the small-file
    maintenance a per-batch streaming ingest eventually needs, with
    history intact: every pre-compaction version stays addressable until
    vacuum, and a reader mid-scan on the old file list is untouched
    (files are never mutated, only superseded).

    ``cluster_by`` additionally RE-CLUSTERS the rewrite (``layout.cluster``:
    a range exchange + in-file sort on the given columns — pass the
    table's stats_cols): after append churn every file's [min, max] spans
    the whole key domain and manifest-side skipping decays to nothing;
    range-clustering restores disjoint per-file ranges, so
    ``read_versioned(where=...)`` prunes like the freshly-written table
    again (the Delta OPTIMIZE ZORDER role, single-axis).

    ``zorder_by=(c1, ..)`` (2-4 columns, r14) re-clusters along the Z-order
    curve instead (``layout.zorder_column``): each rewritten file covers a
    narrow min/max BOX on BOTH columns, so the manifest's skipping stats
    prune on a predicate over EITHER — the trade range-clustering cannot
    make (its secondary sort column's per-file ranges span the domain).
    Declare both columns in stats_cols. Without either knob the rewrite is
    a pure coalesce to ceil(bytes/target) tasks — cheaper (no shuffle),
    but arrival-ordered. Single mutator at a time."""
    from .operators.layout import cluster, file_count

    if cluster_by and zorder_by:
        raise ValueError("pass cluster_by OR zorder_by, not both")
    if zorder_by is not None and not 2 <= len(zorder_by) <= 4:
        raise ValueError("zorder_by takes 2-4 columns")
    io = catalog.io
    m = _load_manifest(catalog, rel)
    cur = m["versions"][str(m["current"])]
    root = _root(catalog, rel)
    total = sum(io.getsize(_fpath(io, root, f)) for f in cur["files"])
    n_out = file_count(total, target_bytes)
    df = read_versioned(spark, catalog, rel)
    if zorder_by:
        df = cluster(df, n_out, zorder_by, zorder=True)
    elif cluster_by:
        df = cluster(df, n_out, cluster_by)
    else:
        df = df.coalesce(n_out)
    names, rows, file_stats = _stage_files(
        spark, catalog, rel, df, m["current"] + 1, tuple(m.get("stats_cols", ()))
    )
    assert rows == cur["rows"], (rows, cur["rows"])  # lossless by construction
    # the rewrite makes the file schemas uniform again: not evolved
    version = _new_version(
        m, "optimize", names, rows, cur["columns"], _dtypes(df), False,
        stats=file_stats,
    )
    _commit_manifest(catalog, rel, m)
    return version


def read_versioned_changes(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    from_version: int,
    to_version: int,
) -> DataFrame:
    """Change-data-feed between two committed snapshots: the table's
    columns plus ``_change_type`` ('insert' | 'delete'), BAG semantics —
    exactly what a relations-diff of the two snapshot reads yields (the
    oracle it is checked against), but computed WITHOUT scanning the
    unchanged data: files are immutable, so only the manifests' file-set
    difference can hold changes. With snapshots sharing live set S:
    ``to = S + B`` (B = rows in files only ``to`` references, DV-applied)
    and ``from = S + A + D`` (A = rows in files only ``from`` references;
    D = rows a merge-on-read delete killed in SHARED files — the DV pairs
    present at ``to`` but not at ``from``), so inserts = B ∖ (A + D) and
    deletes = (A + D) ∖ B, bag-exceptAll over only the touched files.
    A 1-file append to a 100k-file table reads 1 file — the incremental-
    consumer loop a versioned lake exists for. Rows rewritten verbatim
    (optimize, or a merge carrying them through) cancel in the bag diff,
    so maintenance commits emit no phantom changes.

    Both versions must share columns and dtypes (an additive/widening
    evolution between them changes row shape — consume that as a replace);
    raises ValueError otherwise."""
    m = _load_manifest(catalog, rel)
    io = catalog.io
    root = _root(catalog, rel)
    a = m["versions"][str(from_version)]
    b = m["versions"][str(to_version)]
    if a["columns"] != b["columns"] or a.get("dtypes", {}) != b.get("dtypes", {}):
        raise ValueError(
            f"{rel.view_name}: schema changed between v{from_version} and "
            f"v{to_version}; change feed requires a stable schema — read "
            "the snapshots and diff explicitly"
        )
    a_files, b_files = set(a["files"]), set(b["files"])
    shared = a_files & b_files
    ins_df = _snapshot_read(spark, io, root, sorted(b_files - a_files), b)
    del_df = _snapshot_read(spark, io, root, sorted(a_files - b_files), a)
    # DV delta on SHARED files, at (file, pos) PAIR level — sidecar names
    # are not stable identity (_dv_prune restages surviving pairs under
    # new names), so the diff must be over the pairs themselves:
    #   pairs in b not a → rows MoR-deleted in the range (emit 'delete');
    #   pairs in a not b → rows RESURRECTED (rollback across a MoR delete,
    #     DV compaction that rewrote nothing) — emit 'insert' (r13 advice
    #     HIGH: the one-directional name-level diff silently dropped these).
    dv_a, dv_b = set(a.get("dv", [])), set(b.get("dv", []))
    if dv_a != dv_b and shared:
        shared_df = spark.createDataFrame(
            [(_basename(f),) for f in sorted(shared)], "file string"
        )

        def _pairs(names: set) -> DataFrame | None:
            """The sidecars' (file, pos) pairs on shared files."""
            if not names:
                return None
            return _read_dv(spark, io, [_fpath(io, root, f) for f in sorted(names)]).join(
                F.broadcast(shared_df), "file", "left_semi"
            )

        def _minus(x: DataFrame | None, y: DataFrame | None) -> DataFrame | None:
            if x is None or y is None:
                return x
            return x.join(y, ["file", "pos"], "left_anti")

        def _dead_rows(delta: DataFrame, entry: dict) -> DataFrame:
            """Rows of the shared files, read at `entry`'s DV state, whose
            (file, pos) coordinates appear in `delta`."""
            scan = _snapshot_read(
                spark, io, root, sorted(shared), entry, keep_pos=True
            )
            return scan.join(
                delta,
                (scan["_dv_file"] == delta["file"])
                & (scan["_dv_pos"] == delta["pos"]),
                "left_semi",
            ).select(*entry["columns"])

        pa = _pairs(dv_a)
        pb = _pairs(dv_b)
        killed_pairs = _minus(pb, pa)
        if killed_pairs is not None:
            # read at a's DV state: these rows were alive at `from`
            del_df = del_df.unionByName(_dead_rows(killed_pairs, a))
        res_pairs = _minus(pa, pb)
        if res_pairs is not None:
            # read at b's DV state: these rows are alive again at `to`
            ins_df = ins_df.unionByName(_dead_rows(res_pairs, b))
    inserted = ins_df.exceptAll(del_df).withColumn("_change_type", F.lit("insert"))
    deleted = del_df.exceptAll(ins_df).withColumn("_change_type", F.lit("delete"))
    return inserted.unionByName(deleted)


def read_versioned_changes_feed(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """The Delta-CDF-shaped feed: per-commit changes for every version in
    (from_version, to_version] (default: current), each row tagged
    ``_commit_version`` — so a downstream consumer can both apply the
    deltas AND attribute them to the commit that produced them (audit,
    replication ordering, exactly-once apply keyed on the version id).
    Built as the union of consecutive-pair ``read_versioned_changes``
    diffs, so each hop reads only that commit's file-set difference —
    following a table costs O(changed bytes), never O(table). Requires
    every version in the range to still be retained (vacuum with a
    keep_last/retention floor sized to the consumer's lag — the Delta
    CDF retention rule) and the schema to be stable across the range
    (both raise loudly otherwise)."""
    m = _load_manifest(catalog, rel)
    to_v = m["current"] if to_version is None else to_version
    out: DataFrame | None = None
    for v in range(from_version + 1, to_v + 1):
        c = read_versioned_changes(spark, catalog, rel, v - 1, v).withColumn(
            "_commit_version", F.lit(v).cast("bigint")
        )
        out = c if out is None else out.unionByName(c)
    if out is None:  # empty range: typed empty frame off the target entry
        entry = m["versions"][str(to_v)]
        base = _snapshot_read(spark, catalog.io, _root(catalog, rel), [], entry)
        return base.withColumn("_change_type", F.lit("insert")).withColumn(
            "_commit_version", F.lit(0).cast("bigint")
        ).limit(0)
    return out


def apply_changes_versioned(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    src: Relation,
    dst: Relation,
    key: str,
    from_version: int,
    to_version: int | None = None,
) -> int | None:
    """Maintain ``dst`` as a REPLICA of versioned table ``src`` by
    consuming the change-data feed — the Delta ``APPLY CHANGES INTO``
    loop, closing the producer→CDF→consumer circle: follow a 100 TB table
    at O(changed bytes), never O(table).

    Semantics: the feed over (from_version, to_version] is reduced to the
    NET action per ``key`` (latest ``_commit_version`` wins; within one
    commit an update surfaces as delete+insert, so insert wins the tie) —
    a key whose final action is 'insert' upserts its final row, a key
    whose final action is 'delete' is removed. The apply is ONE
    merge-on-read ``_mutate`` commit on dst (op ``apply-changes``): every
    net-affected key's current rows DV out (``_key_candidates`` picks the
    files, zero rewrites) and the upsert rows append as new files. Source
    rows must be key-unique.

    EXACTLY-ONCE: the replica manifest records the last applied source
    version per source table (``cdc`` — the streaming ``txn`` discipline);
    a replayed apply with ``to_version <= recorded`` returns None without
    moving a byte, so at-least-once schedulers compose safely. Requires
    every source version in the range to still be retained and dst's
    schema to equal the feed's row schema."""
    src_m = _load_manifest(catalog, src)
    to_v = src_m["current"] if to_version is None else to_version
    m = _load_manifest(catalog, dst)
    if not m["current"]:
        raise ValueError(
            f"{dst.view_name}: replica must be initialized (write_versioned "
            "a base snapshot) before applying changes"
        )
    marker = m.get("cdc", {}).get(src.view_name)
    if marker is not None and to_v <= int(marker):
        return None  # replay of an applied range: exactly-once skip
    cur = m["versions"][str(m["current"])]
    cols = list(cur["columns"])
    feed = read_versioned_changes_feed(spark, catalog, src, from_version, to_v)
    feed_cols = [c for c in feed.columns if not c.startswith("_")]
    if feed_cols != cols:
        raise ValueError(
            f"{dst.view_name}: replica schema {cols} != source feed schema {feed_cols}"
        )
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(
        F.col("_commit_version").desc(),
        F.when(F.col("_change_type") == "insert", 0).otherwise(1),
    )
    net = feed.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    upserts = net.filter(F.col("_change_type") == "insert").select(*cols)
    keys = net.select(key).distinct()
    # the marker rides the version commit, or commits alone when the net
    # change is empty (e.g. an append and its rollback cancel)
    m.setdefault("cdc", {})[src.view_name] = to_v
    version = _mutate(
        spark, catalog, dst, m, "apply-changes", "mor",
        _key_candidates(spark, m, key, keys), keys, upserts,
    )
    if version is None:
        _commit_manifest(catalog, dst, m)
        return m["current"]
    return version


def version_history(catalog: FilesystemCatalog, rel: Relation) -> list[dict]:
    """One dict per committed version: (version, op, parent, rows,
    n_files, is_current) — exact, from manifest metadata only."""
    m = _load_manifest(catalog, rel)
    out = []
    for k in sorted(m["versions"], key=int):
        e = m["versions"][k]
        out.append(
            {
                "version": int(k),
                "op": e["op"],
                "parent": e["parent"],
                "rows": e["rows"],
                "n_files": len(e["files"]),
                "is_current": int(k) == m["current"],
            }
        )
    return out


ORPHAN_GRACE_S = 600.0  # default in-flight-mutator guard (vacuum_versions)


def vacuum_versions(
    catalog: FilesystemCatalog,
    rel: Relation,
    keep_last: int = 1,
    retention_s: float | None = None,
    dry_run: bool = False,
    orphan_grace_s: float = ORPHAN_GRACE_S,
) -> list[str]:
    """Reap history: keep the newest ``keep_last`` versions (always
    including current), delete every data file only the dropped versions
    reference, plus any staged orphans a crashed writer left. Prunes the
    manifest FIRST (the commit), deletes bytes after — a reader holding a
    dropped version's file list keeps working until the physical delete,
    and a crash between the two leaves only unreferenced files (re-vacuum
    reaps them). Returns the deleted file names.

    ``dry_run=True`` commits NOTHING and deletes NOTHING: it returns the
    file names the same call would reap (the Delta VACUUM DRY RUN safety
    loop — inspect before an irreversible history prune).

    ``retention_s`` is a TIME FLOOR composed with keep_last (the Delta
    retention discipline): any version committed within the last
    retention_s seconds survives even when keep_last alone would reap it —
    the guard for long-running readers, which resolve a version's file
    list once and scan for a while; size the floor above the longest
    expected scan. Versions are judged by their committed ``ts``.

    ``orphan_grace_s`` guards IN-FLIGHT MUTATORS (r12 advice): a file no
    version references is indistinguishable by name from a racing append's
    already-renamed, not-yet-committed staging — reaping it would let the
    append's auto-retry commit a manifest pointing at deleted bytes
    (silent committed data loss). So UNREFERENCED entries younger than the
    grace (by backend mtime; kept conservatively when the backend reports
    none) survive this vacuum and are reaped by a later one once provably
    abandoned. Files referenced by DROPPED versions were committed — the
    manifest prune is what retires them — so the grace never delays real
    history reaping. Set 0.0 only when all writers are known quiescent."""
    io = catalog.io
    root = _root(catalog, rel)
    m = _load_manifest(catalog, rel)
    ordered = sorted(m["versions"], key=int)
    keep = ordered[-max(keep_last, 1):]
    if retention_s is not None:
        floor = time.time() - retention_s
        keep += [
            k for k in ordered
            if k not in keep and m["versions"][k].get("ts", 0) > floor
        ]
    if str(m["current"]) not in keep:
        keep.append(str(m["current"]))
    keep = sorted(set(keep), key=int)
    kept_files = {
        f
        for k in keep
        for f in m["versions"][k]["files"] + m["versions"][k].get("dv", [])
    }
    # committed at some point — the manifest prune retires these; the
    # orphan grace below is only for files NO version ever referenced
    ever_referenced = {
        f for v in m["versions"].values() for f in v["files"] + v.get("dv", [])
    }
    if not dry_run:
        m["versions"] = {k: m["versions"][k] for k in keep}
        if "stats" in m:  # stats entries for reaped files go with them
            m["stats"] = {f: s for f, s in m["stats"].items() if f in kept_files}
        _commit_manifest(catalog, rel, m)

    def young(path: str) -> bool:
        if orphan_grace_s <= 0:
            return False
        mtime = io.getmtime(path)
        return mtime is None or mtime > time.time() - orphan_grace_s

    deleted = []
    for e in io.listdir(root):
        if e == VERSIONS_MANIFEST or e in kept_files:
            continue
        if e.endswith(".parquet") or e.startswith(commitlog.STAGE_PREFIX):
            if e not in ever_referenced and young(io.join(root, e)):
                continue  # possibly an in-flight mutator's staging
            if not dry_run:
                io.remove_any(io.join(root, e))
            deleted.append(e)
    # superseded commits are pure metadata history (every commit file is a
    # full snapshot). The dry run previews one FEWER pruned entry (the real
    # vacuum's own commit pushes a generation into the tail) — preview
    # counts are a floor, the conservative direction for a safety check.
    deleted += commitlog.trim(io, root, VERSIONS_MANIFEST, dry_run=dry_run)
    return sorted(deleted)


# --- Registered contract queries -------------------------------------------------
# Each contract query reads a versioned fixture table built once per sf_dir
# (memo.scaffold), so registered queries stay idempotent across bench reps:
# the writes happen once per session and the query just reads the result.


def _fixture(
    spark: SparkSession, sf_dir: str, table: str,
    fill: Callable[[FilesystemCatalog, Relation], None],
) -> tuple[FilesystemCatalog, Relation]:
    """(catalog, vt.<table>): a fresh catalog with schema ``vt`` in a
    scratch dir, populated once per sf_dir by ``fill(catalog, rel)``."""

    def build() -> tuple[FilesystemCatalog, Relation]:
        catalog = FilesystemCatalog(memo.scratch_dir(spark, f"versioned_{table}_"))
        catalog.create_schema("vt")
        rel = catalog.relation(table, "vt")
        fill(catalog, rel)
        return catalog, rel

    return memo.scaffold(spark, f"versioned.{table}", sf_dir, build)


def _lifecycle_table(
    spark: SparkSession, sf_dir: str
) -> tuple[FilesystemCatalog, Relation]:
    """A deterministic three-commit lifecycle over the documents table:
    v1 = full corpus (replace), v2 = append of the doc_id % 13 slice,
    v3 = rollback to v1. Time travel and history are then both fully
    oracle-checkable against plain SQL over the source table."""

    def fill(catalog: FilesystemCatalog, rel: Relation) -> None:
        docs = load_table(spark, sf_dir, "documents")
        # range-clustered v1 with declared skipping stats on the key: each of
        # the 8 files holds a disjoint doc_id range, so the q_versioned_skipping
        # predicate provably prunes the file list (gated in tests)
        write_versioned(
            spark, catalog, rel, docs.repartitionByRange(8, "doc_id"),
            mode="replace", stats_cols=("doc_id",),
        )
        write_versioned(
            spark, catalog, rel, docs.filter(F.col("doc_id") % 13 == 0), mode="append"
        )
        rollback_versioned(catalog, rel, 1)

    return _fixture(spark, sf_dir, "docs", fill)


@register(
    "q_time_travel",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    tags=("versioned", "time-travel", "catalog", "materialize"),
)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read version 1 of the versioned lifecycle table AFTER an append and
    a rollback have committed on top of it — the time-travel guarantee:
    a historical snapshot is byte-addressable and bit-identical to the
    data as of its commit, regardless of what later versions did. Oracle
    = the source table itself.

    Scale: the read is an explicit-file-list scan of v1's files (no
    manifest reader ever lists the directory); history depth costs one
    small JSON read, never data IO."""
    catalog, rel = _lifecycle_table(spark, sf_dir)
    return read_versioned(spark, catalog, rel, version=1).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "q_version_history",
    oracle="""
    WITH c AS (SELECT COUNT(*) AS n FROM documents),
    a AS (SELECT COUNT(*) AS na FROM documents WHERE doc_id % 13 = 0)
    SELECT CAST(1 AS BIGINT) AS version, 'replace' AS op,
           CAST(NULL AS BIGINT) AS parent, CAST(n AS BIGINT) AS rows_at,
           FALSE AS is_current
    FROM c
    UNION ALL
    SELECT 2, 'append', 1, n + na, FALSE FROM c, a
    UNION ALL
    SELECT 3, 'rollback', 1, n, TRUE FROM c
    """,
    tags=("versioned", "catalog", "audit"),
)
def q_version_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table's commit log as a DataFrame: (version, op, parent,
    rows_at, is_current) for the replace -> append -> rollback lifecycle —
    row counts come from the staged parquet footers at commit time (pure
    metadata), so the whole history is exact and the oracle recomputes it
    from the source table with plain COUNTs."""
    catalog, rel = _lifecycle_table(spark, sf_dir)
    hist = version_history(catalog, rel)
    return spark.createDataFrame(
        [
            (h["version"], h["op"], h["parent"], h["rows"], h["is_current"])
            for h in hist
        ],
        "version bigint, op string, parent bigint, rows_at bigint, is_current boolean",
    )


SKIP_LO, SKIP_HI = 100, 199  # the q_versioned_skipping predicate window


@register(
    "q_versioned_skipping",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id BETWEEN {SKIP_LO} AND {SKIP_HI}
    """,
    tags=("versioned", "data-skipping", "pruning", "catalog"),
)
def q_versioned_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-side data skipping, driver-checked: read the versioned
    lifecycle table's CURRENT snapshot (= v1 via the rollback) with a
    doc_id range predicate — the manifest's per-file [min, max] stats drop
    non-intersecting files from the explicit list before any footer is
    opened (v1 is range-clustered into 8 files, so most never reach
    Spark; the file-count shrink is pinned in tests/test_versioned.py),
    then the exact predicate filters the pruned scan. Oracle = the same
    WHERE over the source table."""
    catalog, rel = _lifecycle_table(spark, sf_dir)
    pruned = read_versioned(
        spark, catalog, rel, where={"doc_id": (SKIP_LO, SKIP_HI)}
    )
    return pruned.filter(
        (F.col("doc_id") >= SKIP_LO) & (F.col("doc_id") <= SKIP_HI)
    ).select("doc_id", "lang", "source", "n_chars")


MERGE_INSERT_OFFSET = 20_000_000


def _clustered_docs(
    spark: SparkSession, sf_dir: str, catalog: FilesystemCatalog, rel: Relation
) -> DataFrame:
    """Commit the documents table's (doc_id, source, n_chars) as ``rel``'s
    base version, range-clustered into 8 files with doc_id skipping stats,
    and return that frame: the mutation fixtures derive their changes
    from it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    write_versioned(
        spark, catalog, rel, docs.repartitionByRange(8, "doc_id"),
        mode="replace", stats_cols=("doc_id",),
    )
    return docs


def _merge_table(
    spark: SparkSession, sf_dir: str, mode: str = "cow"
) -> tuple[FilesystemCatalog, Relation]:
    """The merge fixture: a range-clustered base, then one upsert that
    rewrites source for doc_id % 10 == 0 and inserts the doc_id % 17 slice
    at an offset — committed copy-on-write or, with ``mode="mor"``, as a
    deletion-vector sidecar plus appended update files."""

    def fill(catalog: FilesystemCatalog, rel: Relation) -> None:
        docs = _clustered_docs(spark, sf_dir, catalog, rel)
        updates = (
            docs.filter(F.col("doc_id") % 10 == 0)
            .select("doc_id", F.lit("merged").alias("source"), "n_chars")
            .unionByName(
                docs.filter(F.col("doc_id") % 17 == 0).select(
                    (F.col("doc_id") + MERGE_INSERT_OFFSET).alias("doc_id"),
                    F.lit("inserted").alias("source"),
                    "n_chars",
                )
            )
        )
        merge_versioned(spark, catalog, rel, updates, key="doc_id", mode=mode)

    return _fixture(spark, sf_dir, "docs_merge_mor" if mode == "mor" else "docs_merge", fill)


@register(
    "q_versioned_merge",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN 'merged' ELSE source END AS source,
           n_chars
    FROM documents
    UNION ALL
    SELECT doc_id + {MERGE_INSERT_OFFSET}, 'inserted', n_chars
    FROM documents WHERE doc_id % 17 = 0
    """,
    tags=("versioned", "merge", "upsert", "catalog"),
)
def q_versioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE, driver-checked: upsert a deterministic update
    set (every doc_id % 10 == 0 re-sourced to 'merged'; doc_id % 17 == 0
    re-keyed copies inserted) into a range-clustered versioned table and
    read the committed result. File granularity is pinned in
    tests/test_versioned.py: the inserted keys land far above the base
    range, yet only candidate files (stats-overlapping the update range —
    here all 8, since modified keys span the corpus) are rewritten, and
    the pre-merge snapshot stays addressable. Oracle = the same upsert in
    plain SQL over the source table."""
    catalog, rel = _merge_table(spark, sf_dir)
    return read_versioned(spark, catalog, rel).select("doc_id", "source", "n_chars")


@register(
    "q_versioned_merge_mor",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN 'merged' ELSE source END AS source,
           n_chars
    FROM documents
    UNION ALL
    SELECT doc_id + {MERGE_INSERT_OFFSET}, 'inserted', n_chars
    FROM documents WHERE doc_id % 17 = 0
    """,
    tags=("versioned", "merge", "merge-on-read", "deletion-vectors", "catalog"),
)
def q_versioned_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read MERGE: the q_versioned_merge upsert committed as a
    deletion-vector sidecar (matched rows) plus appended update files —
    ZERO pre-merge files rewritten (pinned in tests/test_versioned.py) —
    and the identical oracle, so both upsert paths are value-hash-equal."""
    catalog, rel = _merge_table(spark, sf_dir, mode="mor")
    return read_versioned(spark, catalog, rel).select("doc_id", "source", "n_chars")


DELETE_LO, DELETE_HI = 300, 399  # the CoW-deleted doc_id window
# The MoR-deleted doc_id window: inside the documents table's 0..499 at
# sf0.001 and sf0.01, and disjoint from the CoW window.
MOR_LO, MOR_HI = 100, 199


def _delete_table(
    spark: SparkSession, sf_dir: str, mode: str = "cow"
) -> tuple[FilesystemCatalog, Relation]:
    """The delete fixture: a range-clustered base, then one pruned delete
    of a doc_id window — copy-on-write (DELETE_LO..DELETE_HI) or, with
    ``mode="mor"``, as deletion vectors (MOR_LO..MOR_HI, zero data files
    rewritten, pinned in tests/test_versioned.py)."""
    lo, hi = (MOR_LO, MOR_HI) if mode == "mor" else (DELETE_LO, DELETE_HI)

    def fill(catalog: FilesystemCatalog, rel: Relation) -> None:
        docs = _clustered_docs(spark, sf_dir, catalog, rel)
        delete_versioned(
            spark, catalog, rel, F.col("doc_id").between(lo, hi),
            prune={"doc_id": (lo, hi)}, mode=mode,
        )

    return _fixture(spark, sf_dir, "docs_mor" if mode == "mor" else "docs_delete", fill)


@register(
    "q_versioned_delete",
    oracle=f"""
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id NOT BETWEEN {DELETE_LO} AND {DELETE_HI}
    """,
    tags=("versioned", "delete", "copy-on-write", "catalog"),
)
def q_versioned_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE, driver-checked: delete a doc_id window from a
    range-clustered versioned table with a prune range and read the
    committed result — only files whose skipping stats intersect the
    window are rewritten (their surviving rows), every other file carries
    into the new version by reference, and the pre-delete snapshot stays
    addressable. Oracle = the complementary WHERE over the source table."""
    catalog, rel = _delete_table(spark, sf_dir)
    return read_versioned(spark, catalog, rel).select("doc_id", "source", "n_chars")


def _evolution_table(
    spark: SparkSession, sf_dir: str
) -> tuple[FilesystemCatalog, Relation]:
    """The schema-evolution fixture: v1 = the even-doc_id half at the
    NARROW shape (n_chars int, no lang); v2 = evolved append of the odd
    half that both WIDENS n_chars (int -> bigint) and ADDS lang — the full
    r12 evolution surface (additive + widening) in one committed lineage."""

    def fill(catalog: FilesystemCatalog, rel: Relation) -> None:
        docs = load_table(spark, sf_dir, "documents")
        narrow = docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", F.col("n_chars").cast("int").alias("n_chars")
        )
        write_versioned(
            spark, catalog, rel, narrow.repartitionByRange(4, "doc_id"),
            mode="replace", stats_cols=("doc_id",),
        )
        wide = docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"), "lang"
        )
        write_versioned(spark, catalog, rel, wide, mode="append", evolve=True)

    return _fixture(spark, sf_dir, "docs_evolve", fill)


@register(
    "q_versioned_delete_mor",
    oracle=f"""
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id NOT BETWEEN {MOR_LO} AND {MOR_HI}
    """,
    tags=("versioned", "delete", "merge-on-read", "deletion-vectors", "catalog"),
)
def q_versioned_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE, driver-checked: delete a doc_id window from a
    range-clustered versioned table as DELETION VECTORS — the commit
    rewrites ZERO data files (pinned in tests/test_versioned.py); readers
    anti-join the small (file, row-index) sidecar at scan time. Same
    oracle shape as the CoW twin (q_versioned_delete), so the driver
    value-hashes that both delete paths produce identical results."""
    catalog, rel = _delete_table(spark, sf_dir, mode="mor")
    return read_versioned(spark, catalog, rel).select("doc_id", "source", "n_chars")


@register(
    "q_version_changes",
    oracle="""
    SELECT doc_id, source, 'insert' AS _change_type, 'v1_v2' AS step
    FROM documents WHERE doc_id % 13 = 0
    UNION ALL
    SELECT doc_id, source, 'delete' AS _change_type, 'v2_v3' AS step
    FROM documents WHERE doc_id % 13 = 0
    """,
    tags=("versioned", "cdc", "change-data-feed", "catalog"),
)
def q_version_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed over the versioned lifecycle table, driver-checked
    in both directions: v1->v2 (the doc_id % 13 append) surfaces as
    inserts, v2->v3 (the rollback) as deletes of the same rows — computed
    from the manifests' file-set diff (the unchanged corpus files are
    never scanned), bag-exact against the plain-SQL oracle."""
    catalog, rel = _lifecycle_table(spark, sf_dir)
    c12 = read_versioned_changes(spark, catalog, rel, 1, 2).withColumn(
        "step", F.lit("v1_v2")
    )
    c23 = read_versioned_changes(spark, catalog, rel, 2, 3).withColumn(
        "step", F.lit("v2_v3")
    )
    return c12.unionByName(c23).select("doc_id", "source", "_change_type", "step")


@register(
    "q_version_changes_feed",
    oracle="""
    SELECT doc_id, source, 'insert' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_version
    FROM documents WHERE doc_id % 13 = 0
    UNION ALL
    SELECT doc_id, source, 'delete', 3
    FROM documents WHERE doc_id % 13 = 0
    """,
    tags=("versioned", "cdc", "change-data-feed", "catalog"),
)
def q_version_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-commit CDF feed over the lifecycle table's whole history
    (v1 -> current): the append surfaces as inserts tagged
    _commit_version 2, the rollback as deletes tagged 3 — the Delta CDF
    shape (deltas + attribution) computed purely from file-set diffs."""
    catalog, rel = _lifecycle_table(spark, sf_dir)
    return read_versioned_changes_feed(spark, catalog, rel, 1).select(
        "doc_id", "source", "_change_type", "_commit_version"
    )


@register(
    "q_schema_evolution",
    oracle="""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CASE WHEN doc_id % 2 = 1 THEN lang ELSE NULL END AS lang
    FROM documents
    """,
    tags=("versioned", "schema-evolution", "widening", "catalog"),
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive + widening schema evolution, driver-checked end-to-end:
    the evolved snapshot reads with the version's PINNED schema, so
    pre-evolution files upcast n_chars (int -> bigint) and null-fill lang
    while post-evolution files carry real values — bit-identical to the
    oracle's CAST + CASE over the source table. Time travel back to the
    narrow v1 (old shape AND old types) is pinned in
    tests/test_versioned.py's widening test."""
    catalog, rel = _evolution_table(spark, sf_dir)
    return read_versioned(spark, catalog, rel).select("doc_id", "n_chars", "lang")


@register(
    "q_time_travel_ts",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    tags=("versioned", "time-travel", "timestamp", "catalog"),
)
def q_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF time travel, driver-checked: resolve the lifecycle
    table at an instant strictly between v1's and v2's commit timestamps
    (their midpoint — commits are >ms apart, so the open interval is
    real) and read the snapshot that was current THEN: v1, bit-identical
    to the source table even though an append and a rollback committed
    later. Resolution is manifest metadata only (version_at_timestamp);
    the read is the same explicit-file-list scan as version-id travel."""
    catalog, rel = _lifecycle_table(spark, sf_dir)
    m = _load_manifest(catalog, rel)
    t1, t2 = (float(m["versions"][k]["ts"]) for k in ("1", "2"))
    return read_versioned(
        spark, catalog, rel, as_of_ts=(t1 + t2) / 2.0
    ).select("doc_id", "text", "lang", "source", "n_chars")


def _clone_table(
    spark: SparkSession, sf_dir: str
) -> tuple[FilesystemCatalog, Relation]:
    """The shallow-clone fixture: clone the lifecycle table's current
    snapshot (v3 = the rollback, i.e. the full corpus) into a fresh
    relation in the SAME catalog — a metadata-only commit referencing the
    source's files — then give the clone its own history with an append
    the source never sees. Zero-copy + divergence are pinned in
    tests/test_versioned.py."""

    def build() -> tuple[FilesystemCatalog, Relation]:
        catalog, src = _lifecycle_table(spark, sf_dir)
        dst = catalog.relation("docs_clone", "vt")
        clone_versioned(catalog, src, dst)
        docs = load_table(spark, sf_dir, "documents")
        write_versioned(
            spark, catalog, dst, docs.filter(F.col("doc_id") % 11 == 0),
            mode="append",
        )
        return catalog, dst

    return memo.scaffold(spark, "versioned.docs_clone", sf_dir, build)


@register(
    "q_versioned_clone",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id, text, lang, source, n_chars FROM documents
    WHERE doc_id % 11 = 0
    """,
    tags=("versioned", "clone", "zero-copy", "catalog"),
)
def q_versioned_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE, driver-checked end-to-end: clone the lifecycle
    table (metadata-only — the clone's v1 references the source's data
    files, zero bytes copied), append the doc_id % 11 slice to the CLONE
    only, and read the result: source corpus + slice, while the source
    table itself is untouched (independence pinned in tests). At 100 TB a
    clone is how you branch a table for an experiment without paying for
    a copy; optimize_versioned materializes it when it must outlive the
    source's vacuum."""
    catalog, dst = _clone_table(spark, sf_dir)
    return read_versioned(spark, catalog, dst).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def _cdc_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[FilesystemCatalog, Relation]:
    """The CDC-apply fixture: a source table with a three-commit history
    (base, merge-on-read DELETE, merge-on-read upsert) and a REPLICA
    initialized from v1 and maintained purely by apply_changes_versioned
    over the change feed — the full producer -> CDF -> consumer circle in
    one driver-checked query. Returns the replica."""

    def fill(catalog: FilesystemCatalog, dst: Relation) -> None:
        src = catalog.relation("docs_src", "vt")
        docs = _clustered_docs(spark, sf_dir, catalog, src)  # v1
        delete_versioned(
            spark, catalog, src, F.col("doc_id") % 7 == 3, mode="mor"
        )  # v2: MoR delete, zero rewrites
        updates = docs.filter(F.col("doc_id") % 5 == 0).select(
            "doc_id", "source", (F.col("n_chars") * 2 + 1).alias("n_chars")
        )
        merge_versioned(spark, catalog, src, updates, key="doc_id", mode="mor")  # v3
        # replica: base snapshot, then follow the feed 1 -> current
        write_versioned(
            spark, catalog, dst,
            read_versioned(spark, catalog, src, version=1),
            mode="replace", stats_cols=("doc_id",),
        )
        apply_changes_versioned(spark, catalog, src, dst, "doc_id", from_version=1)

    return _fixture(spark, sf_dir, "docs_replica", fill)


@register(
    "q_cdc_apply",
    oracle="""
    SELECT doc_id, source,
           CASE WHEN doc_id % 5 = 0 THEN 2 * n_chars + 1 ELSE n_chars END
             AS n_chars
    FROM documents
    WHERE doc_id % 5 = 0 OR doc_id % 7 <> 3
    """,
    tags=("versioned", "cdc", "apply-changes", "replica", "catalog"),
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY CHANGES INTO, driver-checked: a replica initialized from the
    source's v1 is brought to the source's CURRENT state purely by
    consuming the change-data feed (v2's merge-on-read delete of the
    doc_id % 7 == 3 slice, v3's merge-on-read upsert doubling n_chars for
    doc_id % 5 == 0 — including re-inserting upserted keys the delete had
    removed). The apply is ONE merge-on-read commit on the replica (net
    action per key, DV out affected keys, append final rows — zero file
    rewrites), and the exactly-once marker makes replays free. Oracle =
    the source's final state recomputed in plain SQL."""
    catalog, dst = _cdc_tables(spark, sf_dir)
    return read_versioned(spark, catalog, dst).select(
        "doc_id", "source", "n_chars"
    )


_CONSTRAINTS = {
    "chars_min": "n_chars >= 100",
    "chars_nonneg": "n_chars >= 0",
    "lang_code": "length(lang) = 2",
}


def _constraint_table(
    spark: SparkSession, sf_dir: str
) -> tuple[FilesystemCatalog, Relation]:
    """The constraint fixture: a versioned table committed under three
    CHECK constraints; the registered query audits a CANDIDATE batch (the
    raw documents table) against them — the pre-flight gate a pipeline
    runs before the committing write. Enforcement (violating writes refused
    with counts) is pinned in tests/test_versioned.py."""

    def fill(catalog: FilesystemCatalog, rel: Relation) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        write_versioned(spark, catalog, rel, docs.filter(F.col("n_chars") >= 100))
        for name, sql in _CONSTRAINTS.items():
            set_check_constraint(spark, catalog, rel, name, sql)

    return _fixture(spark, sf_dir, "docs_checked", fill)


@register(
    "q_constraint_audit",
    oracle="""
    SELECT 'chars_min' AS constraint_name, 'n_chars >= 100' AS check_sql,
           CAST(SUM(CASE WHEN NOT (n_chars >= 100) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations
    FROM documents
    UNION ALL
    SELECT 'chars_nonneg', 'n_chars >= 0',
           CAST(SUM(CASE WHEN NOT (n_chars >= 0) THEN 1 ELSE 0 END) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'lang_code', 'length(lang) = 2',
           CAST(SUM(CASE WHEN NOT (length(lang) = 2) THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM documents
    """,
    tags=("versioned", "constraints", "gate", "audit", "catalog"),
)
def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table CHECK constraints as a pre-flight audit, driver-checked: the
    scaffold table commits under three constraints (ADD CONSTRAINT
    validates the existing snapshot first, Delta-style; violating writes
    are refused with per-constraint counts — both pinned in tests), and
    the query dry-runs the RAW documents table as a candidate batch
    against them: one aggregation pass, (constraint, check_sql,
    n_violations) per constraint. chars_min catches every short doc;
    the other two count zero."""
    catalog, rel = _constraint_table(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return constraint_audit(spark, catalog, rel, candidate=docs)


def sample_versioned_files(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    hex_digits: str = "01234567",
    version: int | None = None,
) -> DataFrame:
    """Physical TABLESAMPLE SYSTEM over a versioned snapshot: pick whole
    FILES — the unit object storage actually serves — by the first hex
    digit of md5 of the file's origin (``_file_origins``: the version that
    first referenced it and its position there; ``len(hex_digits)/16`` of
    the file population). The pick repeats for the same committed history
    in any process; staged base names carry random uuids, so hashing them
    would not. Scan ONLY those files, and attach
    ``_sample_weight`` = 16/len(hex_digits), the
    Horvitz-Thompson scale-up (every file lands in exactly one hex
    bucket, so bucket estimates average to the exact total — pinned in
    tests). At 100 TB this is the only sample whose COST is proportional
    to the fraction: a Bernoulli row sample still reads every block; a
    file sample reads len(hex_digits)/16 of them and nothing else. The
    trade is estimator variance driven by between-file variance — on
    range-clustered tables stratify (sample within cluster ranges) or
    widen the digit set."""
    m = _load_manifest(catalog, rel)
    v = m["current"] if version is None else version
    entry = m["versions"][str(v)]
    picked = _sampled_files(m, entry["files"], hex_digits)
    w = 16.0 / len(set(hex_digits.lower()))
    df = _snapshot_read(spark, catalog.io, _root(catalog, rel), picked, entry)
    return df.withColumn("_sample_weight", F.lit(w).cast("double"))


def _file_origins(m: dict) -> dict[str, tuple[int, int]]:
    """{file base name: (version, position)} — the version whose commit
    first referenced the file and the file's position in that version's
    file list. Files are immutable, so first reference over the ascending
    history is exact."""
    origins: dict[str, tuple[int, int]] = {}
    for k in sorted(m["versions"], key=int):
        for i, f in enumerate(m["versions"][k]["files"]):
            origins.setdefault(_basename(f), (int(k), i))
    return origins


def _sampled_files(m: dict, files: list[str], hex_digits: str) -> list[str]:
    """The ``files`` whose md5("version:position" of their origin) starts
    with one of ``hex_digits``."""
    import hashlib

    origins = _file_origins(m)
    digits = set(hex_digits.lower())
    return [
        f for f in files
        if hashlib.md5(b"%d:%d" % origins[_basename(f)]).hexdigest()[0] in digits
    ]


@register(
    "q_versioned_file_sample",
    tags=("versioned", "sample", "tablesample", "files"),
)
def q_versioned_file_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-granular TABLESAMPLE over the versioned lifecycle table: scan
    the snapshot's files whose origin hash falls in the low hex range
    (half of them in expectation; 1 of the 8 at sf0.01), and report (n_files_total, n_files_sampled, n_rows_sampled,
    est_total_rows = weighted row count). Rows-only by necessity — which
    rows land in which staged file is Spark's partitioning, not SQL — so
    the estimator identities (HT unbiasedness across all 16 hex buckets,
    whole-file granularity) are pinned in tests/test_versioned.py
    instead."""
    catalog, rel = _lifecycle_table(spark, sf_dir)
    m = _load_manifest(catalog, rel)
    entry = m["versions"][str(m["current"])]
    sampled = sample_versioned_files(spark, catalog, rel)
    agg = sampled.agg(
        F.count(F.lit(1)).alias("n_rows_sampled"),
        F.sum("_sample_weight").cast("bigint").alias("est_total_rows"),
    )
    n_picked = len(_sampled_files(m, entry["files"], "01234567"))
    return agg.select(
        F.lit(len(entry["files"])).cast("bigint").alias("n_files_total"),
        F.lit(n_picked).cast("bigint").alias("n_files_sampled"),
        "n_rows_sampled",
        "est_total_rows",
    )


def read_versioned_lineage(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read with ROW-LEVEL COMMIT ATTRIBUTION: the table's
    columns plus ``_file_version`` — the version whose commit FIRST
    referenced the row's data file, i.e. the commit that wrote the row
    (the Delta row-tracking question "when did this row enter the
    table?"). Derived purely from manifest metadata: files are immutable,
    so first-reference over the ascending version history is exact — a
    rollback re-referencing v1's files correctly attributes their rows to
    v1, and merge-on-read updates attribute to the merge commit that
    staged them while untouched rows keep their original version. The
    attribution join is a BROADCAST of a (basename, version) map with one
    entry per live file — metadata-sized at any table size."""
    io = catalog.io
    m = _load_manifest(catalog, rel)
    v = m["current"] if version is None else version
    entry = m["versions"][str(v)]
    origins = _file_origins(m)
    root = _root(catalog, rel)
    scan = _snapshot_read(spark, io, root, entry["files"], entry, keep_pos=True)
    lineage = spark.createDataFrame(
        [(b, origins[b][0]) for b in sorted(
            {_basename(f) for f in entry["files"]}
        )],
        "_lf string, _file_version bigint",
    )
    return scan.join(
        F.broadcast(lineage), scan["_dv_file"] == lineage["_lf"], "left"
    ).select(*(list(entry["columns"]) + ["_file_version"]))


@register(
    "q_row_lineage",
    oracle=f"""
    SELECT doc_id, source, CAST(1 AS BIGINT) AS _file_version
    FROM documents WHERE doc_id % 10 <> 0
    UNION ALL
    SELECT doc_id, 'merged', 2 FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + {MERGE_INSERT_OFFSET}, 'inserted', 2
    FROM documents WHERE doc_id % 17 = 0
    """,
    tags=("versioned", "lineage", "row-tracking", "catalog"),
)
def q_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level commit attribution over the merge-on-read scaffold,
    driver-checked: after the MoR upsert, untouched base rows attribute
    to v1 (their files were first referenced by the base commit), every
    upserted/inserted row to v2 (the merge staged them as new files), and
    the DV-killed pre-merge rows never surface. Answered from manifest
    metadata + one broadcast join — no audit columns were ever stored in
    the data."""
    catalog, rel = _merge_table(spark, sf_dir, mode="mor")
    return read_versioned_lineage(spark, catalog, rel).select(
        "doc_id", "source", "_file_version"
    )
