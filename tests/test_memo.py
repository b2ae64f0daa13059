"""The application-scoped scaffold memo (dbt_parquet_spark/memo.py).

The lifetime checks run in a child process: they stop the SparkContext
and start a new one, and they need the interpreter to exit, neither of
which the session-scoped ``spark`` fixture may see."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from dbt_parquet_spark import memo

from .conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESIDUE_QUERIES = (
    "q_time_travel", "q_versioned_merge", "q_seed_roundtrip",
    "q_partitioned_scan", "q_ann_ivf_pq",
)

CHILD = textwrap.dedent(
    """
    import sys
    from dbt_parquet_spark.operators.classifier import doc_features
    from dbt_parquet_spark.registry import load_all
    from dbt_parquet_spark.session import get_spark

    sf = sys.argv[1]
    specs = load_all()
    s1 = get_spark("memo_child")
    for name in sys.argv[2:]:
        specs[name].builder(s1, sf).write.format("noop").mode("overwrite").save()
    print("first", doc_features(s1, sf).count(), flush=True)
    s1.stop()
    s2 = get_spark("memo_child")
    print("second", doc_features(s2, sf).count(), flush=True)
    s2.stop()
    """
)


@pytest.fixture(scope="module")
def child_run(tmp_path_factory):
    """One child: build the residue queries' scaffolds and the classifier
    features under one SparkContext, stop it, build the features again
    under a new one, exit. TMPDIR points at a fresh directory."""
    tmp = tmp_path_factory.mktemp("child_tmpdir")
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, SF_SMALL, *RESIDUE_QUERIES],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    return proc, sorted(os.listdir(tmp))


def test_scaffold_is_not_served_to_a_new_application(child_run):
    """A DataFrame memoized under a stopped SparkContext must not be handed
    to the next one (the sf_dir-only keys did, and its count() failed)."""
    proc, _ = child_run
    lines = proc.stdout.splitlines()
    first = [ln for ln in lines if ln.startswith("first ")]
    second = [ln for ln in lines if ln.startswith("second ")]
    assert proc.returncode == 0 and second, proc.stderr[-3000:]
    assert second[0].split()[1] == first[0].split()[1]


def test_scratch_dirs_do_not_outlive_the_process(child_run):
    proc, left = child_run
    assert "first " in proc.stdout, proc.stderr[-3000:]  # the scaffolds were built
    assert left == []


def test_scaffold_counts_hits_and_builds_once(spark):
    kind = "test_memo.counter"
    memo.release(spark, kind)
    calls = []
    s0 = memo.stats()
    for _ in range(3):
        assert memo.scaffold(spark, kind, "k", lambda: calls.append(1) or len(calls)) == 1
    s1 = memo.stats()
    assert calls == [1]
    assert (s1["hits"] - s0["hits"], s1["builds"] - s0["builds"]) == (2, 1)
    assert s1["by_kind"][kind] == 1
    memo.release(spark, kind)
    assert memo.stats()["by_kind"][kind] == 0


def test_release_unpersists_and_removes_entry_dirs(spark):
    """Family-prefix release: the DataFrame is unpersisted and the scratch
    dir made by its build is removed; another family is untouched."""
    dirs = []

    def build():
        dirs.append(memo.scratch_dir(spark, "test_memo_"))
        return spark.range(10).persist()

    df = memo.scaffold(spark, "test_memo.frame", SF_SMALL, build)
    other = memo.scaffold(spark, "test_memo_other.value", SF_SMALL, lambda: 7)
    df.count()
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    assert os.path.isdir(dirs[0])
    memo.release(spark, "test_memo")
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk
    assert not os.path.exists(dirs[0])
    assert memo.scaffold(spark, "test_memo_other.value", SF_SMALL, lambda: 8) == other
    memo.release(spark, "test_memo_other")


def test_failed_build_stores_nothing_and_removes_its_dirs(spark):
    dirs = []

    def build():
        dirs.append(memo.scratch_dir(spark, "test_memo_fail_"))
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        memo.scaffold(spark, "test_memo.failing", SF_SMALL, build)
    assert not os.path.exists(dirs[0])
    assert memo.stats()["by_kind"]["test_memo.failing"] == 0


def test_counters_lose_no_update_under_threads(spark):
    """Builders run on the project runner's thread pool: hits and misses
    must add up to the calls made, however the threads interleave."""
    import threading

    kind, n_threads, n_calls = "test_memo.threads", 8, 200
    memo.release(spark, kind)
    s0 = memo.stats()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda: [
                memo.scaffold(spark, kind, i % 4, lambda: i) for i in range(n_calls)
            ])
            for _ in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    s1 = memo.stats()
    calls = (s1["hits"] - s0["hits"]) + (s1["misses"] - s0["misses"])
    assert calls == n_threads * n_calls
    assert s1["by_kind"][kind] == 4
    memo.release(spark, kind)
