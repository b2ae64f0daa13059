"""The ANN index's one publish protocol (manifest-committed from the first
build): read/listing equivalence and file-level pruning, staged
invisibility, compaction with NO absent-or-duplicate window and no lost
concurrent append, one-generation retirement grace, crash-orphan vacuum."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from dbt_parquet_spark.operators.index_manifest import (
    MANIFEST,
    _ifs,
    _load,
    append_to_pq_index,
    build_pq_index,
    compact_pq_index,
    manifest_vacuum,
    read_pq_index,
)
from dbt_parquet_spark.sources.readers import load_table

from .conftest import SF_ORACLE


def _mk_index(spark, tmp_path):
    """A private index over the 400-vector base corpus, committed as
    generation 1 by its build."""
    from dbt_parquet_spark.catalog import FilesystemCatalog

    emb = load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    base_dir = str(tmp_path / "corpus")
    emb.filter(F.col("vec_id") < 400).write.parquet(f"{base_dir}/embeddings.parquet")
    cat = FilesystemCatalog(f"file://{tmp_path}/db")
    path = build_pq_index(spark, base_dir, catalog=cat, rel=cat.relation("midx"))
    return base_dir, path, emb


def _manifest(path):
    return _load(*_ifs(path))


def _rows(df):
    return {(r.vec_id, tuple(r.codes), r.cell) for r in df.collect()}


def test_manifest_read_equals_listing_read_and_prunes(spark, tmp_path):
    base_dir, path, _ = _mk_index(spark, tmp_path)
    # a fresh build leaves nothing uncommitted: the directory listing and
    # the manifest's file list read the same rows
    listing = _rows(spark.read.parquet(path))
    viamanifest = _rows(read_pq_index(spark, base_dir, path=path))
    assert viamanifest == listing and len(listing) == 400
    assert _manifest(path)["gen"] == 1
    # cells selection = file-level pruning straight from the manifest
    some = sorted({c for _, _, c in listing})[:2]
    pruned = read_pq_index(spark, base_dir, cells=some, path=path)
    assert {r.cell for r in pruned.select("cell").distinct().collect()} == set(some)
    assert _rows(pruned) == {t for t in listing if t[2] in set(some)}
    # and the scan's file set is exactly the manifest's selection
    m = json.load(open(os.path.join(path[len("file:"):] if path.startswith("file:") else path, MANIFEST)))
    want_files = sum(len(m["cells"][str(c)]) for c in some)
    assert len(pruned.inputFiles()) == want_files


def test_manifest_append_staged_invisible_then_committed(spark, tmp_path):
    base_dir, path, emb = _mk_index(spark, tmp_path)
    before = _rows(read_pq_index(spark, base_dir, path=path))
    delta = emb.filter(F.col("vec_id") >= 400)

    seen_mid_stage: dict = {}

    def probe():  # files staged into live cell dirs, commit not yet done
        seen_mid_stage["rows"] = _rows(read_pq_index(spark, base_dir, path=path))

    append_to_pq_index(spark, base_dir, delta, path=path, before_commit=probe)
    assert seen_mid_stage["rows"] == before  # staged files invisible
    after = _rows(read_pq_index(spark, base_dir, path=path))
    assert len(after) == 500 and before < after
    assert _manifest(path)["gen"] == 2
    # cross-checked via a read of the whole directory tree, which sees
    # committed files only because every staged file was committed
    assert _rows(spark.read.parquet(path)) == after


def test_manifest_compact_no_absent_window_and_retirement(spark, tmp_path):
    base_dir, path, emb = _mk_index(spark, tmp_path)
    append_to_pq_index(spark, base_dir, emb.filter(F.col("vec_id") >= 400), path=path)
    root = path[len("file:"):] if path.startswith("file:") else path
    want = _rows(read_pq_index(spark, base_dir, path=path))
    m0 = json.load(open(os.path.join(root, MANIFEST)))
    assert any(len(v) > 1 for v in m0["cells"].values()), "nothing fragmented"

    mid: dict = {}

    def probe():  # replacement files staged, commit not yet done
        mid["rows"] = _rows(read_pq_index(spark, base_dir, path=path))

    compact_pq_index(spark, base_dir, max_files_per_cell=1, path=path,
                     before_commit=probe)
    m1 = _manifest(path)
    # a reader inside the window sees the OLD complete snapshot — never an
    # absent cell, never duplicates
    assert mid["rows"] == want
    assert _rows(read_pq_index(spark, base_dir, path=path)) == want
    assert all(len(v) == 1 for v in m1["cells"].values())
    # the replaced files are retired, not deleted: an in-flight reader of
    # the previous generation can still finish
    assert m1["retired"]
    for cell, f in m1["retired"]:
        assert os.path.exists(os.path.join(root, f"cell={cell}", f))
    # the NEXT compaction deletes them (grace expired) — force one by
    # appending more fragmentation first
    append_to_pq_index(
        spark, base_dir,
        emb.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding"),
        path=path,
    )
    retired_before = list(m1["retired"])
    compact_pq_index(spark, base_dir, max_files_per_cell=1, path=path)
    m2 = _manifest(path)
    for cell, f in retired_before:
        assert not os.path.exists(os.path.join(root, f"cell={cell}", f))
    assert len(_rows(read_pq_index(spark, base_dir, path=path))) == 500 + emb.count()
    assert m2["gen"] > m1["gen"]


def test_compact_keeps_append_committed_mid_compact(spark, tmp_path):
    """An append that commits between the compaction's manifest load and
    its commit (the lost-append hazard) moves the generation: the
    compaction's commit fails, it redoes against the new snapshot, and the
    result holds every row exactly once, compacted, with no staging dir
    left behind."""
    base_dir, path, emb = _mk_index(spark, tmp_path)
    append_to_pq_index(spark, base_dir, emb.filter(F.col("vec_id") >= 400), path=path)
    before = {r.vec_id for r in read_pq_index(spark, base_dir, path=path).collect()}
    late = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    raced: list = []

    def race_append():  # lands after the compaction's load, before its commit
        if not raced:
            raced.append(append_to_pq_index(spark, base_dir, late, path=path))

    compact_pq_index(spark, base_dir, max_files_per_cell=1, path=path,
                     before_commit=race_append)
    after = [r.vec_id for r in read_pq_index(spark, base_dir, path=path).collect()]
    assert len(after) == len(set(after))  # no duplicates
    assert set(after) == before | {v + 1_000_000 for v in range(50)}  # no loss
    assert all(len(v) == 1 for v in _manifest(path)["cells"].values())
    root = path[len("file:"):] if path.startswith("file:") else path
    assert not glob.glob(os.path.join(root, ".stage_*"))


def test_manifest_vacuum_reaps_orphans_only(spark, tmp_path):
    base_dir, path, emb = _mk_index(spark, tmp_path)
    root = path[len("file:"):] if path.startswith("file:") else path
    want = _rows(read_pq_index(spark, base_dir, path=path))

    # simulate a crash after staging, before commit: run the append's
    # staging machinery then "crash" (raise) in the seam
    class Crash(Exception):
        pass

    def boom():
        raise Crash

    try:
        append_to_pq_index(spark, base_dir, emb.filter(F.col("vec_id") >= 400),
                           path=path, before_commit=boom)
    except Crash:
        pass
    # orphans exist on disk but no reader resolves them
    def uncommitted():
        committed = {
            (c, f) for c, files in _manifest(path)["cells"].items() for f in files
        }
        return [
            f for d in glob.glob(os.path.join(root, "cell=*"))
            for f in os.listdir(d)
            if (os.path.basename(d)[len("cell="):], f) not in committed
        ]

    orphans = uncommitted()
    assert orphans
    assert _rows(read_pq_index(spark, base_dir, path=path)) == want
    deleted = manifest_vacuum(path)
    assert len(deleted) >= len(orphans)
    assert _rows(read_pq_index(spark, base_dir, path=path)) == want
    assert not uncommitted()


def test_manifest_rebuild_atomic_artifacts_and_retirement(spark, tmp_path):
    """A rebuild retrains on current contents, commits codes + artifacts
    POINTER in one commit, retires every old file for one generation, and
    leaves the index verifiable and appendable — an append after the
    rebuild must encode with the RETRAINED artifacts."""
    from dbt_parquet_spark.operators.index_manifest import (
        manifest_artifacts,
        rebuild_pq_index,
    )
    from dbt_parquet_spark.operators.index_verify import verify_pq_index

    base_dir, path, emb = _mk_index(spark, tmp_path)
    delta1 = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    append_to_pq_index(spark, base_dir, delta1, path=path)
    before = {
        r.vec_id
        for r in read_pq_index(spark, base_dir, path=path).select("vec_id").collect()
    }

    _, root = _ifs(path)
    m_before = json.load(open(os.path.join(root, MANIFEST)))
    old_files = {
        (c, f) for c, files in m_before["cells"].items() for f in files
    }

    res = rebuild_pq_index(spark, base_dir, path=path)
    assert res == {"path": path, "recall": None, "rebuilt": True}
    m = _manifest(path)
    # content preserved exactly (vec_id set; codes/cells may all change)
    after = {
        r.vec_id
        for r in read_pq_index(spark, base_dir, path=path).select("vec_id").collect()
    }
    assert after == before
    # every committed file is fresh; every old file is retired, and still
    # on disk for the one-generation reader grace
    new_files = {(c, f) for c, files in m["cells"].items() for f in files}
    assert not (new_files & old_files)
    assert {(c, f) for c, f in m["retired"]} == old_files
    for c, f in old_files:
        assert os.path.exists(os.path.join(root, f"cell={c}", f))
    # the artifacts pointer resolves, and differs from the stale artifacts
    # the original build committed
    assert m["artifacts"] and os.path.exists(os.path.join(root, m["artifacts"]))
    assert m["artifacts"] != m_before["artifacts"]
    cents, books = manifest_artifacts(spark, base_dir, path)
    with open(os.path.join(root, m_before["artifacts"])) as fh:
        stale = json.load(fh)
    assert books != stale["codebooks"] or cents != stale["centroids"]

    # the fsck agrees end-to-end: codes/cells consistent with the POINTED
    # artifacts (it would fail loudly if it resolved the stale artifacts)
    rep = {r.check: r.status for r in verify_pq_index(spark, base_dir, path=path).collect()}
    assert rep["codes_consistency"] == "ok", rep
    assert rep["cell_assignment"] == "ok", rep
    assert rep["manifest_files"] == "ok", rep

    # an append AFTER the rebuild encodes with the retrained artifacts
    delta2 = emb.filter(F.col("vec_id") >= 450)
    append_to_pq_index(spark, base_dir, delta2, path=path)
    rep2 = {r.check: r.status for r in verify_pq_index(spark, base_dir, path=path).collect()}
    assert rep2["codes_consistency"] == "ok", rep2
    assert rep2["unique_vec_id"] == "ok", rep2

    # a second rebuild expires the first rebuild's retirees
    rebuild_pq_index(spark, base_dir, path=path)
    m2 = _manifest(path)
    for c, f in m["retired"]:
        assert not os.path.exists(os.path.join(root, f"cell={c}", f))
    # vacuum reaps the superseded generation-stamped artifacts files (the
    # build's and the first rebuild's) and keeps the committed one
    deleted = manifest_vacuum(path)
    assert os.path.join(root, m["artifacts"]) in deleted
    assert os.path.join(root, m_before["artifacts"]) in deleted
    assert os.path.exists(os.path.join(root, m2["artifacts"]))


def test_occ_racing_appends_both_land(spark, tmp_path):
    """r12 multi-writer OCC: two appends, barrier-synced between
    manifest load and commit attempt, race the same generation — the OCC
    loser retries against the winner's manifest and BOTH deltas commit
    (no lost update, no orphaned winner files, generation advances by 2)."""
    import threading

    base_dir, path, emb = _mk_index(spark, tmp_path)
    cfs, root = _ifs(path)
    gen0 = _load(cfs, root)["gen"]
    barrier = threading.Barrier(2, timeout=120)
    local = threading.local()
    errors: list[Exception] = []

    def barrier_once():
        # sync each appender's FIRST commit attempt only — the OCC loser's
        # retries must pass straight through, not re-block on the barrier
        if getattr(local, "hit", False):
            return
        local.hit = True
        barrier.wait()

    def appender(lo: int, hi: int) -> None:
        try:
            append_to_pq_index(
                spark, base_dir,
                emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
                path=path, before_commit=barrier_once,
            )
        except Exception as exc:  # noqa: BLE001 — surface in the assert
            errors.append(exc)

    ta = threading.Thread(target=appender, args=(400, 420))
    tb = threading.Thread(target=appender, args=(420, 440))
    ta.start(); tb.start(); ta.join(300); tb.join(300)
    assert not ta.is_alive() and not tb.is_alive()
    assert not errors, errors
    got = {
        r.vec_id
        for r in read_pq_index(spark, base_dir, path=path).select("vec_id").collect()
    }
    assert got == set(range(440))  # base 400 + BOTH racing deltas
    assert _load(cfs, root)["gen"] == gen0 + 2


def test_occ_commit_log_prune_and_inflight_stage_retention(spark, tmp_path):
    """manifest_vacuum prunes superseded commit-log generations (keeping
    the grace tail) and, with retention_s, keeps young stage dirs an
    in-flight mutator may still own."""
    from dbt_parquet_spark.commitlog import COMMIT_GRACE, log_dir

    base_dir, path, emb = _mk_index(spark, tmp_path)
    for lo in (400, 410, 420, 430):
        append_to_pq_index(
            spark, base_dir,
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 10)),
            path=path,
        )
    cfs, root = _ifs(path)
    commits = cfs.join(root, log_dir(MANIFEST))
    assert len(cfs.listdir(commits)) >= COMMIT_GRACE + 1
    # a fresh stage dir, as an in-flight appender would leave mid-write
    cfs.makedirs(cfs.join(root, ".stage_inflight"))
    with cfs.open_output(cfs.join(root, ".stage_inflight", "x.parquet")) as fh:
        fh.write(b"partial")
    n_commits = len(cfs.listdir(commits))
    manifest_vacuum(path, retention_s=3600.0)
    # the retention floor keeps EVERY young candidate: the in-flight stage
    # dir and the fresh commit-log entries alike
    assert cfs.isdir(cfs.join(root, ".stage_inflight"))
    assert len(cfs.listdir(commits)) == n_commits
    # without a floor: crash-cleanup default — orphan stage reaped, commit
    # log pruned to the grace tail
    deleted2 = manifest_vacuum(path)
    assert not cfs.isdir(cfs.join(root, ".stage_inflight"))
    assert any(".stage_inflight" in d for d in deleted2)
    assert len(cfs.listdir(commits)) == COMMIT_GRACE
    assert any(log_dir(MANIFEST) in d for d in deleted2)
    # the index still reads complete after all vacuuming
    assert read_pq_index(spark, base_dir, path=path).count() == 440


def test_index_manifest_resolution_is_o1(spark, tmp_path):
    """r13 (commitlog.load, shared with versioned tables): after N committed
    appends, resolving the index snapshot never LISTs the commit log —
    the _manifest.json cache doubles as the checkpoint pointer."""
    base_dir, path, emb = _mk_index(spark, tmp_path)
    for lo in (400, 410, 420):
        append_to_pq_index(
            spark, base_dir,
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 10)),
            path=path,
        )
    cfs, root = _ifs(path)
    counts = {"listdir": 0}
    orig = cfs.listdir
    cfs.listdir = lambda p: (counts.__setitem__("listdir", counts["listdir"] + 1), orig(p))[1]
    try:
        m = _load(cfs, root)
    finally:
        del cfs.__dict__["listdir"]
    assert int(m["gen"]) >= 4
    assert counts["listdir"] == 0, counts
    # a lost cache refresh is found by the forward probe, not a stale read
    stale = dict(m, gen=m["gen"] - 2) if m["gen"] >= 3 else None
    if stale is not None:
        import json as _json

        with cfs.open_output(cfs.join(root, MANIFEST)) as fh:
            fh.write(_json.dumps(stale).encode())
        m2 = _load(cfs, root)
        assert int(m2["gen"]) == int(m["gen"])


def test_catalog_view_of_index_reads_committed_rows_only(spark, tmp_path):
    """A catalog view over an index relation resolves through the index
    manifest: after an append and a compaction the root also holds retired
    files, which a plain directory view would read a second time."""
    from dbt_parquet_spark.catalog import FilesystemCatalog

    base_dir, path, emb = _mk_index(spark, tmp_path)
    append_to_pq_index(spark, base_dir, emb.filter(F.col("vec_id") >= 400), path=path)
    compact_pq_index(spark, base_dir, max_files_per_cell=1, path=path)
    assert _manifest(path)["retired"]  # uncommitted files sit in the root
    committed = read_pq_index(spark, base_dir, path=path).count()
    cat = FilesystemCatalog(f"file://{tmp_path}/db")
    assert [r.view_name for r in cat.register_all_views(spark)] == ["midx"]
    view = spark.table("midx")
    assert view.count() == committed
    assert view.select("vec_id").distinct().count() == committed
