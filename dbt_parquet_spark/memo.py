"""Application-scoped memo for session scaffolds.

Builders reuse derived state across calls: persisted DataFrames (token
arrays, shingles, kept sets), fitted artifacts (centroids, codebooks,
classifier weights) and fixture tables written to temp directories. All
of it lives in one dict, ``_MEMO``, keyed ``(applicationId, kind, key)``:

- ``kind`` names the scaffold as ``"<module>.<name>"``; ``release`` takes
  a kind or a family prefix (``"dedup"`` frees every ``"dedup.*"`` kind).
- ``key`` holds every input the value depends on (usually ``sf_dir``, plus
  parameters such as ``k``). The application id is added here, so a
  DataFrame or path built under one SparkContext is never handed to
  another.

One live application: a PySpark process has at most one live
SparkContext, so the first ``scaffold`` call that sees a new
applicationId drops every entry of the older ones and removes their
scratch directories. Memory is bounded by kinds x corpora of the live
application, with no size-driven eviction that could delete files a lazy
DataFrame still reads.

Release order: a DataFrame value is unpersisted when its entry is
dropped, before the entry's scratch directories are removed, so no cached
plan is left reading deleted files. Spark's CacheManager keys cache
entries by logical plan, not by DataFrame object, so a memoized frame is
unpersisted only here, never by a builder that happens to hold an
identical plan (that unpersist also evicted every other consumer's copy).
Scratch directories live under one per-process root that is removed at
interpreter exit.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
import time
from collections import Counter
from typing import Any, Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# (applicationId, kind, key) -> (value, scratch dirs made by its build)
_MEMO: dict[tuple[str, str, Any], tuple[Any, list[str]]] = {}
# applicationId -> scratch dirs made outside any build (per-call outputs)
_DIRS: dict[str, list[str]] = {}
_STATS = {"hits": 0, "misses": 0, "builds": 0, "build_s": 0.0}
_app: str | None = None
_root: str | None = None
_lock = threading.Lock()
_building = threading.local()  # per-thread stack of the dir lists of open builds


def scaffold(spark: SparkSession, kind: str, key: Any, build: Callable[[], Any]) -> Any:
    """The memoized value of ``kind`` for ``key``, calling ``build()`` on a
    miss. Scratch directories made during ``build()`` belong to the entry."""
    app = _live(spark)
    mkey = (app, kind, key)
    hit = _MEMO.get(mkey)
    _count("hits" if hit is not None else "misses", 1)
    if hit is not None:
        return hit[0]
    stack = _building.__dict__.setdefault("stack", [])
    dirs: list[str] = []
    stack.append(dirs)
    t0 = time.perf_counter()
    try:
        value = build()
    except BaseException:
        _rmtree(dirs)
        raise
    finally:
        stack.pop()
    _count("builds", 1)
    _count("build_s", time.perf_counter() - t0)
    _MEMO[mkey] = (value, dirs)
    return value


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh directory under the per-process scratch root. Made inside a
    ``scaffold`` build, it is removed with that entry; otherwise with the
    application."""
    global _root
    app = _live(spark)
    with _lock:
        if _root is None:
            _root = tempfile.mkdtemp(prefix="dbt_parquet_spark_")
            atexit.register(shutil.rmtree, _root, True)
    d = tempfile.mkdtemp(prefix=prefix, dir=_root)
    stack = getattr(_building, "stack", None)
    (stack[-1] if stack else _DIRS.setdefault(app, [])).append(d)
    return d


def release(spark: SparkSession | None = None, *kinds: str) -> None:
    """Unpersist DataFrame values, remove scratch directories and drop the
    entries of ``spark``'s application (every application when None),
    restricted to ``kinds`` (exact kinds or family prefixes) when given.
    Without ``kinds`` the application's per-call scratch dirs go too."""
    app = None if spark is None else spark.sparkContext.applicationId
    _drop(lambda a, kind: (app is None or a == app) and (
        not kinds or any(kind == k or kind.startswith(k + ".") for k in kinds)))
    if not kinds:
        for a in [a for a in _DIRS if app is None or a == app]:
            _rmtree(_DIRS.pop(a))


def stats() -> dict:
    """Counters since import plus the live entries, in total and by kind."""
    return dict(_STATS, entries=len(_MEMO), by_kind=Counter(k for _, k, _ in list(_MEMO)))


def _live(spark: SparkSession) -> str:
    """``spark``'s applicationId; the first call under a new one drops the
    older applications' entries and scratch dirs (their context is gone)."""
    global _app
    app = spark.sparkContext.applicationId
    if app != _app:
        with _lock:
            if app != _app:
                _drop(lambda a, kind: a != app)
                for a in [a for a in _DIRS if a != app]:
                    _rmtree(_DIRS.pop(a))
                _app = app
    return app


def _count(name: str, n: float) -> None:
    with _lock:
        _STATS[name] += n


def _drop(match: Callable[[str, str], bool]) -> None:
    active = SparkContext._active_spark_context
    live = active.applicationId if active is not None else None
    for mkey in [m for m in list(_MEMO) if match(m[0], m[1])]:
        value, dirs = _MEMO.pop(mkey)
        if isinstance(value, DataFrame) and mkey[0] == live:
            value.unpersist()
        _rmtree(dirs)


def _rmtree(dirs: list[str]) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
