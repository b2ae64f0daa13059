"""Spans and layer counters for the traced run.

Everything here observes the program from the outside: spans wrap the
benchmark's own calls into the package, and the counters come from Spark's
SQL status store, its status tracker, the query-phase tracker, the module
namespaces (read-only) and a counting ``LocalFileSystem`` that the
benchmark gives the catalogs it creates. No program module is patched.

With tracing off, ``Tracer.span`` records nothing and costs one context
manager; the untraced run measures end-to-end figures this way.
"""

from __future__ import annotations

import contextlib
import re
import sys
import time
from collections import Counter

import pyarrow.fs as pafs

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}

# SQL metric name -> exec.* counter: "size" metrics in bytes, "sum" metrics
# as counts.
EXEC_METRICS = {
    "number of files read": "exec.scan_files",
    "size of files read": "exec.scan_bytes",
    "shuffle bytes written": "exec.shuffle_bytes",
    "shuffle records written": "exec.shuffle_records",
    "spill size": "exec.spill_bytes",
    "peak memory": "exec.peak_memory_bytes",
}
PHASES = {
    "analysis": "catalyst.analysis_s",
    "optimization": "catalyst.optimization_s",
    "planning": "catalyst.planning_s",
}


class Tracer:
    """In-memory spans: (name, start, end, parent, op). ``op`` groups the
    spans of one benchmark operation; ``parent`` is the index of the
    enclosing span, or None."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.perf_counter() - self.t0, "end": None,
               "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0


# -- Spark status store --------------------------------------------------------


def _metric_value(kind: str, text: str) -> int:
    """Parse one SQLMetrics display string (``10.3 MiB``, ``600,000`` or the
    ``total (min, med, max ...)\\n<total> (...)`` form) to a number; sizes
    and sums as whole numbers, so that totals add up exactly."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    text = text.strip()
    if kind == "size":
        num, unit = text.split(" ")
        return round(float(num) * _UNITS[unit])
    return int(text.replace(",", ""))


class SparkProbe:
    """Reads what Spark already records about the work the program asked
    for: SQL executions (jobs, stages, per-node metrics, final plan graph)
    from the SQL status store, task counts from the status tracker, and
    cached-RDD storage."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.tracker = spark.sparkContext.statusTracker()

    def mark(self) -> int:
        return self.store.executionsCount()

    def executions(self, since: int) -> list:
        """SQL executions started since ``since`` (a ``mark()``)."""
        n = self.store.executionsCount()
        if n <= since:
            return []
        lst = self.store.executionsList(since, n - since)
        return [lst.apply(i) for i in range(lst.size())]

    def settle(self, since: int, timeout_s: float = 5.0) -> list:
        """The listener bus is asynchronous: wait until every execution
        started since ``since`` has its end event applied, and return them."""
        deadline = time.monotonic() + timeout_s
        while True:
            execs = self.executions(since)
            if all(e.completionTime().isDefined() for e in execs) or time.monotonic() > deadline:
                return execs
            time.sleep(0.01)

    def collect(self, since: int) -> Counter:
        """Counters over every SQL execution started since ``since``."""
        out: Counter = Counter()
        for e in self.settle(since):
            eid = e.executionId()
            out["spark.executions"] += 1
            out["spark.jobs"] += e.jobs().size()
            stages = e.stages().iterator()
            while stages.hasNext():
                info = self.tracker.getStageInfo(stages.next())
                out["spark.stages"] += 1
                out["spark.tasks"] += info.numTasks if info else 0
            if e.completionTime().isDefined():
                out["spark.exec_s"] += (e.completionTime().get().getTime() - e.submissionTime()) / 1e3
            values = self.store.executionMetrics(eid)
            seen = set()
            ms = e.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                key = EXEC_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[key] += _metric_value(m.metricType(), v.get())
            nodes = self.store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                name = nodes.apply(k).name()
                if name == "BroadcastExchange":
                    out["catalyst.broadcasts"] += 1
                elif name == "Exchange":
                    out["catalyst.exchanges"] += 1
        return out

    def persisted_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(r.memSize()) + int(r.diskSize()) for r in infos)


def phase_seconds(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s own QueryExecution. Forces its
    physical plan; a noop write replans its own command afterwards."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in PHASES:
            out[PHASES[kv._1()]] = kv._2().durationMs() / 1e3
    return out


# -- memo layer (read-only) ----------------------------------------------------

_MEMO_NAME = re.compile(r"_(CACHE|MEMO)$")


def memo_entries(package: str = "dbt_parquet_spark") -> int:
    """Total ``len()`` of every module-level ``*_CACHE`` / ``*_MEMO`` dict
    in the package's loaded modules."""
    total = 0
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == package or name.startswith(package + ".")):
            continue
        for attr, val in vars(mod).items():
            if _MEMO_NAME.search(attr) and isinstance(val, dict):
                total += len(val)
    return total


# -- counting filesystem ---------------------------------------------------------


class CountingLocalFS(pafs.LocalFileSystem):
    """A ``LocalFileSystem`` that counts calls by object-store verb: ``get``
    (reads and metadata probes), ``list``, ``put`` (writes, directory
    creation, copies), ``move`` and ``delete``. It stays a
    ``LocalFileSystem``, so the program takes the same local code paths as
    it does untraced; the local commit primitives' ``os.link`` /
    ``os.replace`` / ``os.unlink`` bypass pyarrow and are not counted."""

    def __init__(self):
        super().__init__()
        self.counts: Counter = Counter()

    def get_file_info(self, paths_or_selector):
        if isinstance(paths_or_selector, pafs.FileSelector):
            self.counts["list"] += 1
        elif isinstance(paths_or_selector, (list, tuple)):
            self.counts["get"] += len(paths_or_selector)
        else:
            self.counts["get"] += 1
        return super().get_file_info(paths_or_selector)

    def create_dir(self, path, *, recursive=True):
        self.counts["put"] += 1
        return super().create_dir(path, recursive=recursive)

    def delete_dir(self, path):
        self.counts["delete"] += 1
        return super().delete_dir(path)

    def delete_dir_contents(self, path, *, accept_root_dir=False, missing_dir_ok=False):
        self.counts["delete"] += 1
        return super().delete_dir_contents(path, accept_root_dir=accept_root_dir,
                                           missing_dir_ok=missing_dir_ok)

    def delete_file(self, path):
        self.counts["delete"] += 1
        return super().delete_file(path)

    def move(self, src, dest):
        self.counts["move"] += 1
        return super().move(src, dest)

    def copy_file(self, src, dest):
        self.counts["put"] += 1
        return super().copy_file(src, dest)

    def open_input_stream(self, path, *args, **kwargs):
        self.counts["get"] += 1
        return super().open_input_stream(path, *args, **kwargs)

    def open_input_file(self, path):
        self.counts["get"] += 1
        return super().open_input_file(path)

    def open_output_stream(self, path, *args, **kwargs):
        self.counts["put"] += 1
        return super().open_output_stream(path, *args, **kwargs)

    def open_append_stream(self, path, *args, **kwargs):
        self.counts["put"] += 1
        return super().open_append_stream(path, *args, **kwargs)


def install_counting_fs(catalog) -> CountingLocalFS:
    """Give ``catalog`` a counting local filesystem for its Python-side I/O.
    Spark's own reads and writes go through Hadoop and are not counted."""
    if type(catalog.io.fs) is not pafs.LocalFileSystem:
        raise TypeError(f"expected a local catalog, got {catalog.io.fs.type_name}")
    catalog.io.fs = CountingLocalFS()
    return catalog.io.fs
