"""The generation-numbered commit log on a non-local backend: ``memory://``
CatalogFS, no Spark. One winner per generation, the forward probe past a
lost cache refresh, the LIST fallback behind a trimmed tail, the trim grace
tail, detection from the log alone, and one log per publisher."""

from __future__ import annotations

import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dbt_parquet_spark import commitlog
from dbt_parquet_spark.fs import ConcurrentWriteError, resolve_database

CACHE = "_cache.json"


@pytest.fixture()
def mem():
    """A fresh ``memory://`` root with a create-exclusive hook: pyarrow's
    mock filesystem has no conditional write, so the hook plays the
    object store's ``If-None-Match: *`` under a lock."""
    io = resolve_database(f"memory://commitlog-{uuid.uuid4().hex[:8]}")
    lock = threading.Lock()

    def put_if_absent(path: str, data: bytes) -> bool:
        with lock:
            if io.exists(path):
                return False
            with io.open_output(path) as fh:
                fh.write(data)
            return True

    io.conditional_put = put_if_absent
    return io, io.root


def _commit_n(io, root, n: int) -> dict:
    m = commitlog.load(io, root, CACHE) or {"rows": []}
    for i in range(n):
        m = commitlog.commit(io, root, CACHE, dict(m, rows=m["rows"] + [i]))
    return m


def test_empty_root_has_no_commit(mem):
    io, root = mem
    assert commitlog.load(io, root, CACHE) is None
    assert not commitlog.committed(io, root, CACHE)


def test_racing_threads_get_exactly_one_winner(mem):
    io, root = mem
    base = _commit_n(io, root, 1)
    n = 8
    barrier = threading.Barrier(n)
    wins, losses = [], []

    def writer(k: int) -> None:
        barrier.wait(timeout=5)
        try:
            commitlog.commit(io, root, CACHE, dict(base, writer=k))
            wins.append(k)
        except ConcurrentWriteError:
            losses.append(k)

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    assert len(wins) == 1 and len(losses) == n - 1
    m = commitlog.load(io, root, CACHE)
    assert m["gen"] == 2 and m["writer"] == wins[0]


def test_lost_cache_refresh_found_by_forward_probe(mem):
    io, root = mem
    stale = _commit_n(io, root, 1)
    _commit_n(io, root, 2)  # gens 2 and 3
    io.put_json_atomic(io.join(root, CACHE), stale)  # refresh lost twice
    lists = []
    orig = io.listdir
    io.listdir = lambda p: (lists.append(p), orig(p))[1]
    try:
        m = commitlog.load(io, root, CACHE)
    finally:
        del io.__dict__["listdir"]
    assert m["gen"] == 3 and m["rows"] == [0, 0, 1]
    assert lists == []  # the probe walks forward; it never LISTs


def test_stale_pointer_behind_trimmed_tail_falls_back_to_list(mem):
    io, root = mem
    stale = _commit_n(io, root, 1)
    _commit_n(io, root, 5)  # gens 2..6
    io.put_json_atomic(io.join(root, CACHE), stale)
    assert commitlog.trim(io, root, CACHE)  # gen 1, the pointer's commit, is gone
    assert not io.exists(commitlog.commit_path(io, root, CACHE, 1))
    m = commitlog.load(io, root, CACHE)
    assert m["gen"] == 6 and m["rows"] == [0, 0, 1, 2, 3, 4]


def test_trim_keeps_grace_tail_honours_young_and_dry_run(mem):
    io, root = mem
    n = commitlog.COMMIT_GRACE + 3
    _commit_n(io, root, n)
    log = commitlog.log_dir(CACHE)
    old = [f"{log}/{g:012d}.json" for g in (1, 2, 3)]
    assert commitlog.trim(io, root, CACHE, dry_run=True) == old
    assert len(io.listdir(io.join(root, log))) == n
    assert commitlog.trim(io, root, CACHE, young=lambda p: True) == []
    assert commitlog.trim(io, root, CACHE) == old
    left = io.listdir(io.join(root, log))
    assert len(left) == commitlog.COMMIT_GRACE
    assert commitlog.load(io, root, CACHE)["gen"] == n


def test_committed_from_log_without_cache(mem):
    io, root = mem
    _commit_n(io, root, 2)
    io.remove_any(io.join(root, CACHE))  # the refresh after a commit was lost
    assert commitlog.committed(io, root, CACHE)
    assert commitlog.load(io, root, CACHE)["gen"] == 2


def test_index_commit_in_catalog_is_not_a_versioned_table(tmp_path):
    """An ANN index committed inside a catalog relation shares the root
    layout of a versioned table but not its log: neither ``is_versioned``
    nor the versioned cache's ``committed`` may see the index's commit."""
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.operators.index_manifest import MANIFEST
    from dbt_parquet_spark.versioned import VERSIONS_MANIFEST

    cat = FilesystemCatalog(str(tmp_path))
    rel = cat.relation("ann_index")
    p = cat.fs_path(rel)
    cat.io.makedirs(p)
    commitlog.commit(cat.io, p, MANIFEST, {"cells": {}, "retired": []}, 0)
    assert commitlog.committed(cat.io, p, MANIFEST)
    assert not cat.is_versioned(rel)
    assert not commitlog.committed(cat.io, p, VERSIONS_MANIFEST)
    assert commitlog.load(cat.io, p, VERSIONS_MANIFEST) is None


def test_stage_moves_parts_keeps_partitions_and_removes_staging(tmp_path):
    """Spark-free: the write callback lays out a Spark-shaped directory
    (top-level and ``k=v`` part files plus a marker file)."""
    io = resolve_database(str(tmp_path))
    table = pa.table({"x": [1, 2]})

    def write(url: str) -> None:
        io.makedirs(io.join(url, "cell=3"))
        pq.write_table(table, io.join(url, "part-0.parquet"))
        pq.write_table(table, io.join(url, "cell=3", "part-1.parquet"))
        with io.open_output(io.join(url, "_SUCCESS")):
            pass

    seen = []
    moved = commitlog.stage(io, io.root, write, "v000001", on_move=seen.append)
    assert seen == moved and len(moved) == 2
    top, part = sorted(moved, key=lambda p: "/" in p)
    assert top.startswith("v000001-") and top.endswith(".parquet")
    assert part.startswith("cell=3/v000001-")
    assert all(io.isfile(io.join(io.root, p)) for p in moved)
    assert not [e for e in io.listdir(io.root) if e.startswith(commitlog.STAGE_PREFIX)]
