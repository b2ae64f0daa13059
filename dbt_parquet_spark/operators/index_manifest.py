"""Manifest-committed ANN index protocol — the object-store-safe commit.

The default index protocol (build/append/compact in operators/similarity.py)
publishes by DIRECTORY RENAME: atomic and duplicate-free on POSIX, but it
has a sub-millisecond window in compaction where a cell directory is absent
between the two renames, and it assumes rename(2) semantics an object store
does not provide (S3 "rename" is copy+delete, neither atomic nor cheap).

This module makes a committed JSON manifest the source of truth instead:

- The committed manifest lists, per cell, the part files that constitute
  the snapshot (plus the previous generation's retired files).
- READERS resolve the manifest to an explicit file list and scan exactly
  those files (``basePath`` keeps the hive ``cell=`` column). A directory
  listing is never consulted, so files being staged, orphaned by a crash,
  or retired by a compaction are simply invisible — no reader can ever
  observe a half-published state, an absent cell, or a duplicate row.
- WRITERS stage new part files into the live ``cell=`` directories under
  fresh unique names (invisible until committed) and COMMIT through the
  generation-numbered commit log (``commitlog``): the commit point is a
  put-if-absent commit file, so racing writers get exactly one winner.
  ``_manifest.json`` is only the cache of the newest commit.
- Compaction RETIRES the files it replaced: they are recorded in the new
  manifest and physically deleted one generation later (``retired``), so a
  reader that resolved the previous manifest an instant before the commit
  can still finish its scan — the one-generation grace the rename protocol
  cannot offer.

Crash safety, by construction: every mutation is (stage files) then
(commit) then (optionally delete previous generation's retired files).
A crash before the commit leaves orphan files no reader
resolves (reaped by ``manifest_vacuum``); a crash after it leaves the new
snapshot fully committed. There is no crash point that loses bytes a
committed manifest references.

Probe pruning is strictly stronger than PartitionFilters: the probed
cells' files come straight out of the manifest — the scan never lists the
index at all (at 65k cells on an object store, LIST calls are the hidden
tax this removes).

ALL filesystem IO routes through ``fs.CatalogFS`` (the catalog layer's
pyarrow.fs abstraction), so the same code runs against a local path,
``file://``, ``s3://``, ``gs://`` or ``hdfs://`` index root — the only
rename left is the stage→live move (on object stores a copy+delete of a
file that is INVISIBLE until the manifest commit, so its non-atomicity
cannot be observed). CI exercises the scheme-prefixed path end-to-end via
``file://`` (tests/test_index_manifest.py), mirroring the catalog's
posture (SCALE.md "Object-store catalogs").

No query registrations here — import-order-neutral (registry invariant).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import commitlog
from ..fs import CatalogFS, ConcurrentWriteError, resolve_database

MANIFEST = "_manifest.json"  # commit-log cache


def _ifs(path: str) -> tuple[CatalogFS, str]:
    """Resolve an index handle (bare path / file:… / s3:… URL) to the
    CatalogFS that owns it plus the index root as an fs path."""
    cfs = resolve_database(path)
    return cfs, cfs.root


def _load(cfs: CatalogFS, root: str) -> dict:
    """The committed manifest (``commitlog.load``); FileNotFoundError when
    the manifest protocol does not own the index."""
    m = commitlog.load(cfs, root, MANIFEST)
    if m is None:
        raise FileNotFoundError(f"{root}: no committed index manifest")
    return m


def manifest_snapshot(path: str) -> dict:
    """Adopt an existing (listing-protocol) index: snapshot its current
    per-cell part files as generation 1 — and, if the index carries the
    plain ``_ann_artifacts.json`` sidecar, commit an artifacts POINTER to
    it, so the adopted index is fully self-describing through the manifest.
    Idempotent starting point for the manifest protocol; the listing
    protocol must not mutate the index afterwards (one protocol owns an
    index at a time)."""
    cfs, root = _ifs(path)
    cells: dict[str, list[str]] = {}
    for entry in cfs.listdir(root):
        if not entry.startswith("cell="):
            continue
        files = sorted(
            e for e in cfs.listdir(cfs.join(root, entry)) if e.endswith(".parquet")
        )
        if files:
            cells[entry[len("cell="):]] = files
    # re-adoption commits the NEXT generation (idempotent in effect: each
    # call snapshots the current listing as a fresh committed generation)
    prev = commitlog.load(cfs, root, MANIFEST)
    manifest: dict = {"cells": cells, "retired": []}
    if cfs.exists(cfs.join(root, "_ann_artifacts.json")):
        manifest["artifacts"] = "_ann_artifacts.json"
    return commitlog.commit(
        cfs, root, MANIFEST, manifest, prev["gen"] if prev is not None else 0
    )


def manifest_read(
    spark: SparkSession, path: str, cells: list[int] | None = None
) -> DataFrame:
    """Scan the COMMITTED snapshot: explicit file list from the manifest
    (``cells`` selects probed cells — file-level pruning with zero LIST
    calls), ``basePath`` so the hive ``cell=`` column survives, cast long
    to match read_pq_index's schema."""
    cfs, root = _ifs(path)
    m = _load(cfs, root)
    wanted = (
        {str(int(c)) for c in cells} if cells is not None else set(m["cells"])
    )
    files = [
        cfs.spark_url(cfs.join(root, f"cell={c}", f))
        for c in sorted(m["cells"], key=int)
        if c in wanted
        for f in m["cells"][c]
    ]
    base = cfs.spark_url(root)
    if not files:
        # empty selection: an empty frame with the index schema
        return (
            spark.read.option("basePath", base)
            .parquet(cfs.spark_url(cfs.join(root, "cell=*")))
            .withColumn("cell", F.col("cell").cast("long"))
            .limit(0)
        )
    df = spark.read.option("basePath", base).parquet(*files)
    return df.withColumn("cell", F.col("cell").cast("long"))


def _stage_codes(cfs: CatalogFS, root: str, codes: DataFrame) -> dict[str, list[str]]:
    """Stage encoded rows into the live cell dirs under fresh unique names
    WITHOUT committing them (``commitlog.stage``). Returns {cell: [new file
    names]} for the commit step. Staged files are invisible to manifest
    readers until the commit (so the object-store copy+delete move cannot be
    observed half-done)."""
    added: dict[str, list[str]] = {}
    # cell-clustered (the build_pq_index layout rule): one staged file per cell
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


def manifest_append(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    delta: DataFrame,
    before_commit=None,
) -> dict:
    """Incremental add under the manifest protocol: encode the delta with
    the index's sidecar artifacts (frozen add-after-train — exactly
    append_to_pq_index's semantics), stage the files, COMMIT a new
    generation. A crash before the commit leaves invisible orphans (vacuum
    reaps them); readers see the old snapshot until the commit and the
    full new one after — never anything in between.

    Multi-writer SAFE (r12 OCC): racing appends stage disjoint files, so a
    loser of the generation race simply reloads the winner's manifest,
    re-merges its own staged names, and retries the commit — both appends
    land, no files orphan. A racing REBUILD is detected by the artifacts
    pointer moving: this append's staged codes were encoded with the old
    codebooks, so they are abandoned (invisible orphans; vacuum reaps) and
    the delta is re-encoded with the retrained artifacts before retrying.
    Readers never coordinate. ``before_commit`` is a test seam invoked
    after staging, before each commit attempt."""
    from .kmeans import assign_udf
    from .similarity import _books_literal, _pq_encode

    cfs, root = _ifs(path)
    while True:
        art_ptr = (commitlog.load(cfs, root, MANIFEST) or {}).get("artifacts")
        # resolve through the manifest's artifacts pointer: an append after
        # a manifest_rebuild must encode with the RETRAINED artifacts
        cents, books = manifest_artifacts(spark, sf_dir, path)
        assigned = delta.select(
            "vec_id",
            "embedding",
            assign_udf(cents)(F.col("embedding")).alias("cell"),
        )
        codes = _pq_encode(
            assigned.select("vec_id", "cell", "embedding"),
            _books_literal(books),
            keep_embedding=True,
        )
        added = _stage_codes(cfs, root, codes)
        while True:
            if before_commit is not None:
                before_commit()
            m = _load(cfs, root)
            if m.get("artifacts") != art_ptr:
                break  # rebuild won mid-append: re-encode with its artifacts
            for cell, names in added.items():
                m["cells"].setdefault(cell, [])
                m["cells"][cell] = sorted(set(m["cells"][cell] + names))
            try:
                return commitlog.commit(cfs, root, MANIFEST, m)
            except ConcurrentWriteError:
                continue  # an append won this generation: re-merge, retry


def manifest_compact(
    spark: SparkSession,
    path: str,
    max_files_per_cell: int = 1,
    before_commit=None,
) -> dict:
    """Compaction with NO absent window and no duplicate window: read each
    fragmented cell's files AS LISTED IN THE MANIFEST (a concurrent
    manifest_append's staged-or-committed files are never read, never
    retired), write the coalesced replacement as staged files in the same
    cell dir, commit a manifest that references the new files and RETIRES
    the old ones, and physically delete the files the PREVIOUS generation
    retired — the one-generation grace window for in-flight readers.

    Single maintainer at a time (the compact_pq_index rule); appends and
    readers need no coordination — an append that commits between this
    function's manifest load and its commit is the one lost-update hazard,
    which the single-maintainer rule plus retry-on-generation-mismatch
    below closes: the commit is aborted and retried if the generation
    moved."""
    cfs, root = _ifs(path)
    while True:
        m = _load(cfs, root)
        gen_seen = m["gen"]
        replaced: dict[str, tuple[list[str], list[str]]] = {}
        for cell, files in sorted(m["cells"].items(), key=lambda kv: int(kv[0])):
            if len(files) <= max_files_per_cell:
                continue
            cell_dir = cfs.join(root, f"cell={cell}")
            df = spark.read.parquet(
                *[cfs.spark_url(cfs.join(cell_dir, f)) for f in files]
            )
            new_names = commitlog.stage(
                cfs,
                root,
                lambda url, df=df: df.coalesce(max_files_per_cell)
                .write.mode("overwrite")
                .parquet(url),
                "compact",
                dest=cell_dir,
            )
            replaced[cell] = (files, new_names)
        if before_commit is not None:
            before_commit()
        m2 = _load(cfs, root)
        if m2["gen"] != gen_seen:
            # an append committed mid-compact: our staged replacements may
            # miss its files — abandon them (invisible orphans; vacuum
            # reaps) and redo against the new snapshot
            continue
        prev_retired = [(c, f) for c, f in m2.get("retired", [])]
        for cell, (old, new) in replaced.items():
            keep = [f for f in m2["cells"][cell] if f not in set(old)]
            m2["cells"][cell] = sorted(keep + new)
        m2["retired"] = [[c, f] for c, (old, _) in replaced.items() for f in old]
        try:
            committed = commitlog.commit(cfs, root, MANIFEST, m2)
        except ConcurrentWriteError:
            continue  # lost the OCC race (no TOCTOU left): redo the compact
        # delete what the PREVIOUS generation retired (grace expired)
        for cell, f in prev_retired:
            p = cfs.join(root, f"cell={cell}", f)
            if cfs.exists(p):
                cfs.remove_any(p)
        return committed


def manifest_artifacts(spark: SparkSession, sf_dir: str, path: str):
    """The fitted (centroids, codebooks) that match a manifest index's
    committed codes. A manifest_rebuild commits a POINTER to a fresh
    generation-stamped artifacts file inside the same atomic commit
    (a bare sidecar overwrite would race readers: new artifacts
    visible with the old codes still committed); manifest_snapshot points
    an adopted index at its plain sidecar. Manifests without a pointer
    fall back to the plain sidecar / memoized trainers."""
    cfs, root = _ifs(path)
    m = commitlog.load(cfs, root, MANIFEST)
    if m is not None and m.get("artifacts"):
        a = cfs.get_json(cfs.join(root, m["artifacts"]))
        return a["centroids"], a["codebooks"]
    from .similarity import _index_artifacts

    return _index_artifacts(spark, sf_dir, path)


def manifest_rebuild(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    before_commit=None,
) -> dict:
    """Full offline rebuild under the manifest protocol: retrain the
    quantizer and codebooks on the index's CURRENT committed contents
    (spread inits — the rebuild exists because the distribution drifted),
    re-encode every row, stage the replacement files into the new cell
    layout, and COMMIT a manifest that references only the new files,
    RETIRES every old file (one-generation reader grace, as compaction),
    and points at a fresh generation-stamped artifacts file — so the
    artifacts swap rides the same atomic commit as the codes swap; a
    reader can never pair retrained artifacts with old codes or vice
    versa. Physically deletes what the previous generation retired.

    Single maintainer at a time; a concurrent manifest_append moving the
    generation aborts the commit and the rebuild redoes against the new
    snapshot (abandoned stages are invisible orphans for vacuum)."""
    from .kmeans import assign_udf
    from .similarity import (
        _books_literal,
        _pq_encode,
        fit_ivf_quantizer,
        fit_pq_codebooks,
    )

    cfs, root = _ifs(path)
    while True:
        gen_seen = _load(cfs, root)["gen"]
        rows = manifest_read(spark, path).select("vec_id", "embedding").persist()
        rows.count()  # barrier: retrain + encode read this frame many times
        try:
            cents = fit_ivf_quantizer(rows, spread=True)
            books = fit_pq_codebooks(rows, spread=True)
            assigned = rows.select(
                "vec_id",
                "embedding",
                assign_udf(cents)(F.col("embedding")).alias("cell"),
            )
            codes = _pq_encode(
                assigned.select("vec_id", "cell", "embedding"),
                _books_literal(books),
                keep_embedding=True,
            )
            added = _stage_codes(cfs, root, codes)
        finally:
            rows.unpersist()
        art_name = f"_ann_artifacts.{uuid.uuid4().hex[:12]}.json"
        art = {"centroids": cents, "codebooks": books}
        with cfs.open_output(cfs.join(root, art_name)) as fh:
            fh.write(json.dumps(art).encode("utf-8"))
        if before_commit is not None:
            before_commit()
        m2 = _load(cfs, root)
        if m2["gen"] != gen_seen:
            continue  # an append moved the snapshot: redo against it
        prev_retired = [(c, f) for c, f in m2.get("retired", [])]
        new_manifest = {
            "cells": {c: sorted(ns) for c, ns in added.items()},
            "retired": [
                [c, f] for c, files in sorted(m2["cells"].items()) for f in files
            ],
            "artifacts": art_name,
        }
        try:
            committed = commitlog.commit(cfs, root, MANIFEST, new_manifest, gen_seen)
        except ConcurrentWriteError:
            continue  # lost the OCC race: redo against the new snapshot
        for cell, f in prev_retired:
            p = cfs.join(root, f"cell={cell}", f)
            if cfs.exists(p):
                cfs.remove_any(p)
        return committed


def manifest_stream_append(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    stream_df: DataFrame,
    checkpoint_dir: str,
    stream_id: str | None = None,
    available_now: bool = True,
):
    """Continuous vector ingest under the manifest protocol, with
    TRANSACTIONAL batch idempotency: each micro-batch of ``(vec_id,
    embedding)`` rows is encoded with the manifest's artifacts, staged
    invisibly, and committed by a generation that ALSO records the
    batch id under ``streams[stream_id]`` — the Delta-style
    (txnAppId, txnVersion) discipline. A replayed batch (at-least-once
    delivery: crash between the manifest commit and the checkpoint commit)
    finds its id already recorded and SKIPS — the duplicate is prevented by
    the commit record itself, not by filename conventions, so it holds on
    object stores where the listing protocol's overwrite-by-deterministic-
    name relies on rename semantics. A crash between stage and manifest
    commit leaves invisible orphans (vacuum reaps).

    ``stream_id`` identifies the logical stream across restarts (defaults
    to the checkpoint path); starting a DIFFERENT checkpoint against the
    same index needs a different stream_id — micro-batch ids restart at 0
    per checkpoint, exactly like Delta's txnAppId rule. Single mutator at
    a time (the manifest protocol's standing rule): stop the ingest before
    a rebuild/compact maintains the index, restart it after."""
    from .kmeans import assign_udf
    from .similarity import _books_literal, _pq_encode

    cfs, root = _ifs(path)
    sid = stream_id if stream_id is not None else str(checkpoint_dir)
    cents, books = manifest_artifacts(spark, sf_dir, path)
    assign = assign_udf(cents)
    books_lit = _books_literal(books)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        m = _load(cfs, root)
        last = m.get("streams", {}).get(sid)
        if last is not None and batch_id <= last:
            return  # replay of a committed batch: the txn record skips it
        if batch_df.isEmpty():
            return
        assigned = batch_df.select(
            "vec_id", "embedding", assign(F.col("embedding")).alias("cell")
        )
        codes = _pq_encode(
            assigned.select("vec_id", "cell", "embedding"),
            books_lit,
            keep_embedding=True,
        )
        added = _stage_codes(cfs, root, codes)
        while True:
            m = _load(cfs, root)
            last = m.get("streams", {}).get(sid)
            if last is not None and batch_id <= last:
                return  # committed concurrently (shouldn't happen; defensive)
            for cell, names in added.items():
                m["cells"].setdefault(cell, [])
                m["cells"][cell] = sorted(set(m["cells"][cell] + names))
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

    deleted = [cfs.join(root, p) for p in commitlog.trim(cfs, root, young)]
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
            and entry != "_ann_artifacts.json"  # pre-manifest plain sidecar
            and entry != m.get("artifacts")
            and not young(p)  # an in-flight rebuild's staged artifacts
        ):
            # generation-stamped artifacts superseded by a later rebuild
            cfs.remove_any(p)
            deleted.append(p)
    return deleted
