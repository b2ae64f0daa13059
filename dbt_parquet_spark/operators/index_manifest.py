"""The IVF-PQ ANN index's storage: one manifest-committed publish protocol.

The index is a lake table ``(vec_id, embedding, codes, cell)`` with one
``cell=<id>/`` directory per coarse-quantizer cell, plus the fitted
artifacts (centroids, codebooks) that produced its codes. A committed JSON
manifest is its only source of truth, and this module is the one API over
it: ``build_pq_index``, ``read_pq_index``, ``append_to_pq_index``,
``compact_pq_index``, ``rebuild_pq_index``, ``manifest_stream_append``,
``manifest_vacuum`` and ``manifest_artifacts``.

The manifest holds:

- ``cells``: per cell, the part files that make up the snapshot;
- ``retired``: the files the previous generation replaced, deleted one
  generation later, so a reader that resolved the previous manifest an
  instant before a commit can still finish its scan;
- ``artifacts``: the generation-stamped artifacts file matching the codes,
  so codes and artifacts swap in the same commit;
- ``streams``: the last committed micro-batch id per streaming ingest.

READERS resolve the manifest to a catalog ``Snapshot`` of explicit files
and scan exactly those files (``readers.scan``; ``basePath`` keeps the
hive ``cell=`` column). A probe opens
only the probed cells' files and never LISTs the index; staged, orphaned
and retired files are invisible, so no reader observes a half-published
state, an absent cell or a duplicate row.

WRITERS stage new part files into the live ``cell=`` directories under
fresh unique names, then commit through the generation-numbered commit log
(``commitlog``, see SCALE.md "The commit log"): the commit point is a
put-if-absent commit file, so racing writers get exactly one winner.
``_manifest.json`` is only the cache of the newest commit. Every index is
committed as generation 1 by its first build; build and rebuild share one
publish step and differ only in how they train.

Crash safety: every mutation is (stage files) then (commit) then (delete
the previous generation's retirees). A crash before the commit leaves
orphans no reader resolves (``manifest_vacuum`` reaps them); a crash after
it leaves the new snapshot fully committed.

All filesystem IO goes through ``fs.CatalogFS``, so the same code runs
against a local path, ``file://``, ``s3://``, ``gs://`` or ``hdfs://``
index root. The only move is stage to live, of a file that stays invisible
until the commit, so an object store's copy+delete cannot be observed half
done. CI runs the ``file://`` spelling end to end
(tests/test_index_manifest.py).

No query registrations here — import-order-neutral (registry invariant).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import commitlog, memo
from ..catalog import Snapshot
from ..fs import CatalogFS, ConcurrentWriteError, resolve_database
from ..sources.readers import load_table, scan
from .kmeans import assign_udf

MANIFEST = "_manifest.json"  # commit-log cache


def _ifs(path: str) -> tuple[CatalogFS, str]:
    """Resolve an index handle (bare path / file:… / s3:… URL) to the
    CatalogFS that owns it plus the index root as an fs path."""
    cfs = resolve_database(path)
    return cfs, cfs.root


def _load(cfs: CatalogFS, root: str) -> dict:
    """The committed manifest (``commitlog.load``); FileNotFoundError when
    ``root`` holds no committed index."""
    m = commitlog.load(cfs, root, MANIFEST)
    if m is None:
        raise FileNotFoundError(f"{root}: no committed index manifest")
    return m


def _open(spark: SparkSession, sf_dir: str, path: str | None):
    """Resolve an index handle (default: the memoized base build) and load
    its manifest ONCE: an operation that takes its file lists and artifacts
    from this one manifest cannot mix generations. Returns (cfs, root, m)."""
    cfs, root = _ifs(path if path is not None else build_pq_index(spark, sf_dir))
    return cfs, root, _load(cfs, root)


def _artifacts(cfs: CatalogFS, root: str, m: dict):
    """The (centroids, codebooks) that match the codes ``m`` commits."""
    a = cfs.get_json(cfs.join(root, m["artifacts"]))
    return a["centroids"], a["codebooks"]


def _snapshot(cfs: CatalogFS, root: str, m: dict, cells=None) -> Snapshot:
    """The snapshot ``m`` commits, its files by ascending cell; ``cells``
    keeps only those cells' files (file-level pruning, zero LIST calls)."""
    wanted = {str(int(c)) for c in cells} if cells is not None else set(m["cells"])
    return Snapshot(
        files=tuple(
            cfs.join(root, f"cell={c}", f)
            for c in sorted(m["cells"], key=int)
            if c in wanted
            for f in m["cells"][c]
        ),
        kind="index",
        root=root,
    )


def committed_snapshot(cfs: CatalogFS, root: str) -> Snapshot:
    """The committed index at ``root`` (what ``catalog.resolve`` resolves
    an index root to)."""
    return _snapshot(cfs, root, _load(cfs, root))


def _encode(rows: DataFrame, cents, books) -> DataFrame:
    """Assign (vec_id, embedding) rows to their cells and PQ-encode them,
    keeping the raw vector: the index row. Build, rebuild, append and
    streaming ingest all encode here, so their codes agree bit for bit."""
    from .similarity import _books_literal, _pq_encode

    assigned = rows.select(
        "vec_id", "embedding", assign_udf(cents)(F.col("embedding")).alias("cell")
    )
    return _pq_encode(
        assigned.select("vec_id", "cell", "embedding"), _books_literal(books),
        keep_embedding=True,
    )


def _stage_codes(cfs: CatalogFS, root: str, codes: DataFrame) -> dict[str, list[str]]:
    """Stage encoded rows into the live cell dirs under fresh unique names
    WITHOUT committing them (``commitlog.stage``). Returns {cell: [new file
    names]} for the commit step. Staged files are invisible to readers until
    the commit (so the object-store copy+delete move cannot be observed half
    done)."""
    added: dict[str, list[str]] = {}
    # one shuffle by cell before the write: each cell lands in exactly ONE
    # task, so the layout is one file per cell at any write parallelism —
    # without it every task writes a sliver of every cell and a probed read
    # opens tasks x nprobe files (25x more footers at the sf10 sweep)
    for path in commitlog.stage(
        cfs,
        root,
        lambda url: codes.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(url),
        "staged",
    ):
        cell_dir, name = path.split("/")
        added.setdefault(cell_dir[len("cell="):], []).append(name)
    return added


def _delete_retired(cfs: CatalogFS, root: str, m: dict) -> None:
    """Delete the files ``m`` retired: their one-generation reader grace
    ends with the commit that supersedes ``m``."""
    for cell, f in m.get("retired", []):
        p = cfs.join(root, f"cell={cell}", f)
        if cfs.exists(p):
            cfs.remove_any(p)


def _publish(
    cfs: CatalogFS, root: str, codes: DataFrame, cents, books,
    prev: dict | None, before_commit=None,
) -> None:
    """The one publish step of build and rebuild: stage ``codes``
    cell-clustered, write a generation-stamped artifacts file (JSON doubles
    round-trip exactly, so a reload encodes bit-identically), then commit a
    manifest that lists only the new files, points at those artifacts and
    retires every file of ``prev`` (the generation the codes were made
    against; None on a fresh root). Deletes what ``prev`` retired. Raises
    ConcurrentWriteError, having committed nothing, when another writer
    committed after ``prev``; the staged files stay invisible orphans."""
    added = _stage_codes(cfs, root, codes)
    art = f"_ann_artifacts.{uuid.uuid4().hex[:12]}.json"
    with cfs.open_output(cfs.join(root, art)) as fh:
        fh.write(json.dumps({"centroids": cents, "codebooks": books}).encode("utf-8"))
    if before_commit is not None:
        before_commit()
    prev = prev or {"cells": {}, "gen": 0}
    m = {
        "cells": {c: sorted(ns) for c, ns in added.items()},
        "retired": [
            [c, f] for c, files in sorted(prev["cells"].items()) for f in files
        ],
        "artifacts": art,
    }
    if "streams" in prev:  # committed batches stay committed
        m["streams"] = prev["streams"]
    commitlog.commit(cfs, root, MANIFEST, m, prev["gen"])
    _delete_retired(cfs, root, prev)


def build_pq_index(
    spark: SparkSession,
    sf_dir: str,
    catalog=None,
    rel=None,
) -> str:
    """Encode-once / scan-many: materialize the IVF-PQ index of the
    ``embeddings`` table, trained by the memoized per-corpus trainers, and
    commit it (``_publish``). This is the FAISS IVFPQ storage layout as a
    lake table: the coarse-quantizer cell is the partition directory, so a
    probe of nprobe cells opens only those cells' files.

    The encode (PQ_M x PQ_K centroid folds per vector) runs ONCE per corpus
    here instead of inline in every query; q_ann_pq / q_ann_ivf_pq scan the
    4-byte-per-vector codes instead of re-deriving them (at 100 TB this is
    the difference between a one-off indexing job and re-paying the encode
    per query batch).

    The raw vector is stored alongside the codes so every consumer reads
    ONLY index files: IVF's exact scoring and the PQ rerank pull vectors
    from the probed cells' files (column-pruned — an ADC scan reads codes
    without vectors, an IVF scan vectors without codes, plan-gated), and the
    base embeddings table is touched only for the query vectors themselves.

    Pass ``catalog``/``rel`` to publish into a user catalog; a catalog build
    is the caller's relation and is NOT installed as the process default —
    registered queries keep reading the memoized base build, so a user
    dropping their copy can't break them. The default build lands in a
    scratch database memoized per sf_dir and is IMMUTABLE: default-path
    append/compact/rebuild operate on a lifecycle clone (_lifecycle_index).
    Building over a committed index commits the next generation and retires
    the old files. Returns the Spark-readable path of the index."""
    from ..catalog import FilesystemCatalog

    def build(path: str) -> str:
        from .similarity import train_ivf_quantizer, train_pq_codebooks

        cents = train_ivf_quantizer(spark, sf_dir)
        books = train_pq_codebooks(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        cfs, root = _ifs(path)
        _publish(
            cfs, root, _encode(emb, cents, books), cents, books,
            commitlog.load(cfs, root, MANIFEST),
        )
        return path

    if catalog is None:
        return memo.scaffold(
            spark, "index_manifest.pq_index", sf_dir,
            lambda: build(
                FilesystemCatalog(memo.scratch_dir(spark, "pq_index_"))
                .relation("pq_codes").path
            ),
        )
    return build((rel or catalog.relation("pq_codes")).path)


def _lifecycle_index(spark: SparkSession, sf_dir: str) -> str:
    """The mutable index for default-path lifecycle ops: a byte-for-byte
    clone of the immutable base (manifest, commit log, artifacts and
    cells), created on first touch and memoized per sf_dir. Registered
    queries keep reading the base, so lifecycle mutation can never drift
    their results mid-session. Local-FS clone (the default index lives in a
    scratch dir); an explicit ``path=`` handle bypasses this entirely."""
    import shutil

    def build() -> str:
        base = build_pq_index(spark, sf_dir)
        src = base[len("file:"):] if base.startswith("file:") else base
        dst = memo.scratch_dir(spark, "pq_index_lifecycle_")
        shutil.copytree(src, dst, dirs_exist_ok=True)
        return dst

    return memo.scaffold(spark, "index_manifest.pq_lifecycle", sf_dir, build)


def read_pq_index(
    spark: SparkSession,
    sf_dir: str,
    cells: list[int] | None = None,
    path: str | None = None,
) -> DataFrame:
    """Scan the committed index (building the base on first touch).
    ``cells`` keeps only the probed cells' files, straight from the
    manifest, so the executed scan opens exactly those files (plan-gated in
    tests/test_plans.py). Default target is the IMMUTABLE base index (what
    the registered queries read); pass the ``path`` handle returned by
    build/append/compact to read another index."""
    cfs, root, m = _open(spark, sf_dir, path)
    return scan(spark, cfs, _snapshot(cfs, root, m, cells))[0]


def manifest_artifacts(spark: SparkSession, sf_dir: str, path: str | None = None):
    """The fitted (centroids, codebooks) that match an index's committed
    codes (default: the base index)."""
    return _artifacts(*_open(spark, sf_dir, path))


def append_to_pq_index(
    spark: SparkSession,
    sf_dir: str,
    delta: DataFrame,
    path: str | None = None,
    before_commit=None,
) -> str:
    """Incremental index update: encode a delta of ``(vec_id, embedding)``
    rows with the index's FROZEN artifacts (standard ANN index practice —
    FAISS add() after train(); retraining is rebuild_pq_index), stage the
    files, COMMIT a new generation. Cost is delta-proportional: no existing
    file is read or rewritten. Readers see the old snapshot until the commit
    and the full new one after; a crash before the commit leaves invisible
    orphans (vacuum reaps them).

    ``path`` is the index handle to mutate; when omitted the append goes to
    the LIFECYCLE clone of the base — never to the immutable base itself,
    so the registered ANN queries cannot silently change results.

    Multi-writer SAFE: racing appends stage disjoint files, so a loser of
    the generation race reloads the winner's manifest, re-merges its own
    staged names and retries the commit — both appends land. A racing
    REBUILD is detected by the artifacts pointer moving: this append's
    staged codes were encoded with the old codebooks, so they are abandoned
    (invisible orphans) and the delta is re-encoded with the retrained
    artifacts. ``before_commit`` is a test seam invoked after staging,
    before each commit attempt. Returns ``path``."""
    if path is None:
        path = _lifecycle_index(spark, sf_dir)
    cfs, root = _ifs(path)
    while True:
        m = _load(cfs, root)
        art_ptr = m["artifacts"]
        added = _stage_codes(cfs, root, _encode(delta, *_artifacts(cfs, root, m)))
        while True:
            if before_commit is not None:
                before_commit()
            m = _load(cfs, root)
            if m["artifacts"] != art_ptr:
                break  # rebuild won mid-append: re-encode with its artifacts
            for cell, names in added.items():
                m["cells"][cell] = sorted(set(m["cells"].get(cell, []) + names))
            try:
                commitlog.commit(cfs, root, MANIFEST, m)
                return path
            except ConcurrentWriteError:
                continue  # an append won this generation: re-merge, retry


def compact_pq_index(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_cell: int = 1,
    path: str | None = None,
    before_commit=None,
) -> str:
    """Per-cell compaction after delta appends, with NO absent window and no
    duplicate window: each fragmented cell's files (more than
    ``max_files_per_cell``) are read AS LISTED IN THE MANIFEST, the coalesced
    replacement is staged in the same cell dir, and one commit references
    the new files and RETIRES the old ones; the files the previous
    generation retired are then deleted (the one-generation grace for
    in-flight readers). Untouched cells' files are not read. Contents are
    unchanged — pinned by test.

    An append that commits between this function's manifest load and its
    commit moves the generation: the commit fails, the staged replacements
    are abandoned (invisible orphans) and the compaction redoes against the
    new snapshot, so no append is lost. Run one maintainer at a time.
    ``path`` defaults to the lifecycle clone, so the registered-query base
    is never rewritten. Returns ``path``."""
    if path is None:
        path = _lifecycle_index(spark, sf_dir)
    cfs, root = _ifs(path)
    while True:
        m = _load(cfs, root)
        cells, retired = dict(m["cells"]), []
        for cell, files in sorted(m["cells"].items(), key=lambda kv: int(kv[0])):
            if len(files) <= max_files_per_cell:
                continue
            cell_dir = cfs.join(root, f"cell={cell}")
            # the cell's rows without the partition column: the replacement
            # is written straight into the cell directory
            df = scan(spark, cfs, _snapshot(cfs, root, m, [cell]))[0].drop("cell")
            cells[cell] = sorted(commitlog.stage(
                cfs,
                root,
                lambda url, df=df: df.coalesce(max_files_per_cell)
                .write.mode("overwrite")
                .parquet(url),
                "compact",
                dest=cell_dir,
            ))
            retired += [[cell, f] for f in files]
        if before_commit is not None:
            before_commit()
        try:
            commitlog.commit(cfs, root, MANIFEST, dict(m, cells=cells, retired=retired))
        except ConcurrentWriteError:
            continue  # the generation moved: redo against the new snapshot
        _delete_retired(cfs, root, m)
        return path


def rebuild_pq_index(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    recall_threshold: float | None = None,
    before_commit=None,
) -> dict:
    """Threshold-gated offline rebuild — the drift monitor's actuator.

    With ``recall_threshold``, the recall audit runs first and a fresh-
    enough index (mean recall >= threshold) is left untouched. Otherwise
    the quantizer and codebooks are RETRAINED on the index's CURRENT
    contents (deltas included — the frozen artifacts are what went stale)
    with spread inits, every row is re-encoded, and the result is published
    by the build's publish step: codes and artifacts swap in one commit, so
    a reader can never pair retrained artifacts with old codes, and every
    old file is retired for one generation. Subsequent appends encode with
    the retrained artifacts.

    A concurrent append moving the generation aborts the commit and the
    rebuild redoes against the new snapshot. Run one maintainer at a time.
    Returns {"path", "recall", "rebuilt"}; ``recall`` is the pre-rebuild
    audit mean (None when no threshold was given — unconditional
    rebuild)."""
    from .similarity import fit_ivf_quantizer, fit_pq_codebooks, index_recall_audit

    if path is None:
        path = _lifecycle_index(spark, sf_dir)
    recall_before = None
    if recall_threshold is not None:
        row = index_recall_audit(spark, sf_dir, path=path).agg(
            F.avg("recall").alias("m")
        ).collect()[0]
        recall_before = float(row.m) if row.m is not None else 1.0
        if recall_before >= recall_threshold:
            return {"path": path, "recall": recall_before, "rebuilt": False}
    cfs, root = _ifs(path)
    while True:
        prev = _load(cfs, root)
        # persist barrier: the retrain + encode pipeline reads this frame many
        # times (count, init collect, Lloyd rounds, codebook rounds, encode)
        rows = scan(spark, cfs, _snapshot(cfs, root, prev))[0]
        rows = rows.select("vec_id", "embedding").persist()
        rows.count()
        try:
            # spread (farthest-point) inits: the rebuild exists BECAUSE the
            # distribution drifted — a lowest-id init from the original region
            # would capture the drifted mass with one unsplittable centroid
            cents = fit_ivf_quantizer(rows, spread=True)
            books = fit_pq_codebooks(rows, spread=True)
            _publish(
                cfs, root, _encode(rows, cents, books), cents, books, prev,
                before_commit,
            )
        except ConcurrentWriteError:
            continue  # an append moved the snapshot: redo against it
        finally:
            rows.unpersist()
        return {"path": path, "recall": recall_before, "rebuilt": True}


def manifest_stream_append(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    stream_df: DataFrame,
    checkpoint_dir: str,
    stream_id: str | None = None,
    available_now: bool = True,
):
    """Continuous vector ingest with TRANSACTIONAL batch idempotency: each
    micro-batch of ``(vec_id, embedding)`` rows is encoded with the index's
    artifacts (append_to_pq_index's frozen add-after-train semantics,
    batched), staged invisibly, and committed by a generation that ALSO
    records the batch id under ``streams[stream_id]`` — the Delta-style
    (txnAppId, txnVersion) discipline. A replayed batch (at-least-once
    delivery: crash between the manifest commit and the checkpoint commit)
    finds its id already recorded and SKIPS — the duplicate is prevented by
    the commit record itself, not by filename conventions, so it holds on
    object stores. A crash between stage and commit leaves invisible
    orphans (vacuum reaps).

    ``stream_id`` identifies the logical stream across restarts (defaults
    to the checkpoint path); starting a DIFFERENT checkpoint against the
    same index needs a different stream_id — micro-batch ids restart at 0
    per checkpoint, exactly like Delta's txnAppId rule. The artifacts are
    loaded once at wiring, so stop the ingest before a rebuild and restart
    it after; pair it with compact_pq_index on a schedule (every batch adds
    one file per touched cell) and index_recall_audit to watch drift."""
    cfs, root = _ifs(path)
    sid = stream_id if stream_id is not None else str(checkpoint_dir)
    cents, books = _artifacts(cfs, root, _load(cfs, root))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        last = _load(cfs, root).get("streams", {}).get(sid)
        if last is not None and batch_id <= last:
            return  # replay of a committed batch: the txn record skips it
        if batch_df.isEmpty():
            return
        added = _stage_codes(cfs, root, _encode(batch_df, cents, books))
        while True:
            m = _load(cfs, root)
            for cell, names in added.items():
                m["cells"][cell] = sorted(set(m["cells"].get(cell, []) + names))
            m.setdefault("streams", {})[sid] = batch_id
            try:
                commitlog.commit(cfs, root, MANIFEST, m)
                return
            except ConcurrentWriteError:
                continue  # a racing batch append won the generation: retry

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def manifest_vacuum(path: str, retention_s: float | None = None) -> list[str]:
    """Reap files no committed manifest references: crash orphans from
    aborted stages and compactions, plus expired retirees, superseded
    artifact generations, and superseded OCC commit-log entries (a
    COMMIT_GRACE tail is kept so a reader between its log LIST and its
    max-gen read is safe). Never touches a file the current manifest lists
    (live) or names in ``retired`` (still inside the grace window).

    ``retention_s`` is a TIME FLOOR (the versioned-table vacuum
    discipline): any candidate younger than it is kept — the guard against
    reaping an IN-FLIGHT mutator's staging directory, which is
    indistinguishable from a crash orphan by name alone. Candidates whose
    backend reports no mtime are conservatively kept when a floor is set.
    Returns the deleted fs paths."""
    import time

    cfs, root = _ifs(path)
    m = _load(cfs, root)
    live = {
        (c, f) for c, files in m["cells"].items() for f in files
    } | {(c, f) for c, f in m.get("retired", [])}

    def young(p: str) -> bool:
        if retention_s is None:
            return False
        mtime = cfs.getmtime(p)
        return mtime is None or mtime > time.time() - retention_s

    deleted = [cfs.join(root, p) for p in commitlog.trim(cfs, root, MANIFEST, young)]
    for entry in cfs.listdir(root):
        p = cfs.join(root, entry)
        if entry.startswith(commitlog.STAGE_PREFIX):
            if young(p):
                continue
            cfs.rmtree(p)
            deleted.append(p)
        elif entry.startswith("cell="):
            cell = entry[len("cell="):]
            for e in cfs.listdir(p):
                if (
                    e.endswith(".parquet")
                    and (cell, e) not in live
                    and not young(cfs.join(p, e))  # in-flight append's stage
                ):
                    cfs.remove_any(cfs.join(p, e))
                    deleted.append(cfs.join(p, e))
        elif (
            entry.startswith("_ann_artifacts.")
            and entry.endswith(".json")
            and entry != m["artifacts"]
            and not young(p)  # an in-flight rebuild's staged artifacts
        ):
            # generation-stamped artifacts superseded by a later rebuild
            cfs.remove_any(p)
            deleted.append(p)
    return deleted
