"""``lake_build``: the dbt lifecycle over a fresh Parquet-directory database.

A cycle starts from an empty database:

1. copy the generated ``events`` and ``documents`` into the database;
2. register every relation as a view (the reference's connect step);
3. ``load_seed`` the animals CSV;
4. ``Project.run`` the analytics and corpus example models (9 models);
5. run the generic tests (``unique``, ``not_null``, ``relationships``);
6. call ``docs_artifact``;
7. edit one model (chosen from the seed) and rerun with
   ``state="modified"``;
8. on a versioned copy of ``events``: ``write_versioned``, three
   ``merge_versioned`` with seeded key buckets, ``delete_versioned``, a
   current read and a time-travel read, ``optimize_versioned``,
   ``vacuum_versions``.

A run times one cold cycle, then queries the built lake in a closed loop
(every model read back, the generic tests, a versioned read): a fixed
number of untimed warm-up rounds, then a fixed number of measured rounds
set by the run's seconds (``loop.py``). The traced run
instead adds an untraced warm cycle and a traced one, which also describes
every relation (``get_columns``) and reruns the project with nothing
changed; their difference in wall time, the probe's own work included, is
the tracing overhead.

Correctness, untimed: every model's row count against DuckDB over the same
source files, on every read round; the generic tests find no violation; the
incremental rerun's rebuilt set against the models downstream of the edit;
and the versioned row counts against DuckDB. A program call that raises
counts as a failed operation and the run goes on where it can.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from collections import Counter

from loop import measured_passes, warm_up
from tracing import SparkProbe, install_counting_fs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODEL_DIRS = ("examples/analytics/models", "examples/corpus/models")
SEED_CSV = "examples/animals/seeds/animals.csv"
SOURCES = ("events", "documents")
BUCKETS = 8
MERGES = 3
WARMUP_ROUNDS = 1
# wall time of one early warm read round on a 4-vCPU x86-64 host with local[2]
NOMINAL_ROUND_S = 2.0

# Row count of each model, in DuckDB over the same ``events`` / ``documents``.
_DAYS = "SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events"
_QUALITY = (
    "SELECT doc_id, text FROM (SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text) "
    "WHERE len(string_split(text, ' ')) >= 10"
)
_SPLIT = (
    "SELECT doc_id, text, CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT "
    f"% 100 < 90 THEN 'train' ELSE 'test' END AS split FROM ({_QUALITY})"
)
DUCK_COUNTS = {
    "daily_activity": f"SELECT COUNT(*) FROM ({_DAYS})",
    "retention": (
        f"WITH da AS ({_DAYS}), c AS (SELECT user_id, MIN(day) AS cd FROM da GROUP BY user_id) "
        "SELECT COUNT(*) FROM (SELECT DISTINCT c.cd, a.day - c.cd FROM da a JOIN c USING (user_id))"
    ),
    "top_spend_days": (
        "SELECT SUM(LEAST(n, 3)) FROM (SELECT user_id, COUNT(DISTINCT CAST(ts AS DATE)) AS n "
        "FROM events WHERE event_type = 'purchase' GROUP BY user_id)"
    ),
    "transitions": (
        "SELECT COUNT(*) FROM (SELECT DISTINCT event_type, nt FROM (SELECT event_type, "
        "LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nt FROM events) "
        "WHERE nt IS NOT NULL)"
    ),
    "docs_dedup": "SELECT COUNT(DISTINCT text) FROM documents",
    "docs_quality": f"SELECT COUNT(*) FROM ({_QUALITY})",
    "docs_split": f"SELECT COUNT(*) FROM ({_QUALITY})",
    "corpus_stats": f"SELECT COUNT(DISTINCT split) FROM ({_SPLIT})",
    "vocab": (
        "SELECT COUNT(DISTINCT tok) FROM (SELECT unnest(string_split(text, ' ')) AS tok "
        f"FROM ({_SPLIT}) WHERE split = 'train')"
    ),
}
# (test, model, column[, parent model, parent column])
GENERIC_TESTS = (
    ("unique", "docs_dedup", "doc_id"),
    ("not_null", "daily_activity", "user_id"),
    ("relationships", "docs_quality", "doc_id", "docs_dedup", "doc_id"),
)


def _parquet_files(db: str) -> dict[str, tuple[int, int, int]]:
    """rel path -> (size, inode, mtime_ns) of every parquet file under db."""
    out = {}
    for dirpath, _dirs, files in os.walk(db):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[os.path.relpath(p, db)] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def _created(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` and new or rewritten since ``before``."""
    new = [v for k, v in after.items() if before.get(k) != v]
    return len(new), sum(v[0] for v in new)


def _descendants(models: dict, name: str) -> set[str]:
    out = {name}
    grew = True
    while grew:
        grew = False
        for m in models.values():
            if m.name not in out and out & set(m.refs):
                out.add(m.name)
                grew = True
    return out


def _run_test(project, spark, test) -> int:
    kind = test[0]
    if kind == "relationships":
        return project.test_relationships(spark, *test[1:])
    return getattr(project, f"test_{kind}")(spark, test[1], test[2])


class Cycle:
    """One lifecycle pass over its own database. Collects step times, the
    generated files and, when traced, Spark and fs counters per step.
    ``check`` is a callback (ok: bool, what: str) -> None."""

    def __init__(self, ctx, db: str, choices: str, traced: bool, check):
        self.ctx = ctx
        self.spark = ctx.spark
        self.db = db
        self.traced = traced
        self.check = check
        self.rng = random.Random(f"{ctx.seed}-{choices}")
        self.steps: dict[str, float] = {}
        self.walls: dict[str, float] = {}
        self.reads: list[float] = []
        self.commits: list[float] = []
        self.layer: Counter = Counter()
        self.probe = SparkProbe(self.spark) if traced else None
        self.fs = None
        self.files = {}
        self.created_bytes = 0
        self.write_amp = self.space_amp = 0.0
        self.versioned_rows = None

    def _step(self, name: str, fn, kind: str | None = None):
        """Time one program call inside a span; record the parquet files it
        leaves behind and, when traced, its Spark and fs counters. ``walls``
        keeps each step's time with this bookkeeping included."""
        w0 = time.perf_counter()
        fs0 = Counter(self.fs.counts) if self.fs else Counter()
        mark = self.probe.mark() if self.probe else 0
        with self.ctx.tracer.span(name, op=name) as rec:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.steps[name] = self.steps.get(name, 0.0) + dt
        after = _parquet_files(self.db)
        files, nbytes = _created(self.files, after)
        self.files = after
        self.created_bytes += nbytes
        if kind == "read":
            self.reads.append(dt)
        elif kind == "commit":
            self.commits.append(dt)
            self.layer["commit.files"] += files
            self.layer["commit.bytes"] += nbytes
        elif kind == "materialize":
            self.layer["materialize.files_written"] += files
            self.layer["materialize.bytes_written"] += nbytes
        if self.probe:
            spark_counts = self.probe.collect(mark)
            fs_delta = Counter(self.fs.counts)
            fs_delta.subtract(fs0)
            self.layer.update(spark_counts)
            for verb, n in fs_delta.items():
                self.layer[f"fs.{verb}"] += n
            if kind == "commit":
                self.layer["commit.fs_ops"] += sum(fs_delta.values())
            rec.update(counters=dict(spark_counts), fs=dict(+fs_delta),
                       files_created=files, bytes_created=nbytes)
        self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - w0
        return out

    def run(self) -> None:
        from dbt_parquet_spark.catalog import FilesystemCatalog
        from dbt_parquet_spark.materialize import load_seed
        from dbt_parquet_spark.project import Model, Project
        from dbt_parquet_spark.sources.readers import read_parquet
        from dbt_parquet_spark.versioned import (
            delete_versioned,
            merge_versioned,
            optimize_versioned,
            read_versioned,
            vacuum_versions,
            write_versioned,
        )
        from pyspark.sql import functions as F

        spark, ctx, step = self.spark, self.ctx, self._step
        os.makedirs(self.db)
        t0 = time.perf_counter()
        for src in SOURCES:
            shutil.copyfile(os.path.join(ctx.inputs, f"{src}.parquet"),
                            os.path.join(self.db, f"{src}.parquet"))
        self.steps["copy"] = time.perf_counter() - t0
        self.files = _parquet_files(self.db)
        self.source_files = set(self.files)

        self.catalog = catalog = FilesystemCatalog(self.db)
        if self.traced:
            self.fs = install_counting_fs(catalog)
        step("catalog.register_all_views", lambda: catalog.register_all_views(spark))
        step("materialize.seed", lambda: load_seed(
            spark, catalog, os.path.join(ROOT, SEED_CSV), catalog.relation("animals")),
            kind="materialize")

        models = []
        for d in MODEL_DIRS:
            models += Project.from_dir(catalog, os.path.join(ROOT, d)).models.values()
        self.project = project = Project(catalog, models)
        if self.traced:
            step("project.compile", lambda: [project.compile_sql(m) for m in models])
        results = step("project.run", lambda: project.run(spark, threads=ctx.cpus),
                       kind="materialize")
        self.check(len(results) == len(models) and not any(r.skipped for r in results.values()),
                   f"full run built {len(results)} of {len(models)} models")
        violations = sum(step(f"test.{t[0]}.{t[1]}", lambda t=t: _run_test(project, spark, t),
                              kind="read") for t in GENERIC_TESTS)
        self.check(violations == 0, f"generic tests: {violations} violations")
        if self.traced:
            step("catalog.get_columns", lambda: [
                catalog.get_columns(spark, rel)
                for schema in catalog.list_schemas() for rel in catalog.list_relations(schema)])
        docs = step("catalog.docs_artifact", lambda: catalog.docs_artifact(spark))
        self.check(len(docs["nodes"]) == len(models) + len(SOURCES) + 1,
                   f"docs artifact lists {len(docs['nodes'])} relations")

        # edit one model (wrap it in a projection: new compiled SQL, same
        # rows), then rerun incrementally
        edited = self.rng.choice(sorted(project.models))
        m = project.models[edited]
        project.models[edited] = Model(
            name=m.name, sql=f"SELECT * FROM (\n{m.sql}\n) AS edited_{self.rng.randrange(10**6)}",
            schema=m.schema)
        inc = step("project.incremental_run",
                   lambda: project.run(spark, threads=ctx.cpus, state="modified"),
                   kind="materialize")
        downstream = _descendants(project.models, edited)
        rebuilt = {n for n, r in inc.items() if not r.skipped}
        self.layer["project.models_rebuilt"] += len(rebuilt)
        self.layer["project.models_downstream"] += len(downstream)
        self.check(rebuilt == downstream,
                   f"incremental rerun after editing {edited}: rebuilt {sorted(rebuilt)}, "
                   f"expected {sorted(downstream)}")
        if self.traced:
            noop = step("project.noop_run",
                        lambda: project.run(spark, threads=ctx.cpus, state="modified"))
            self.check(all(r.skipped for r in noop.values()), "no-op rerun skips every model")

        # versioned lake table over events
        self.rel = rel = catalog.relation("events_v")
        events_path = os.path.join(self.db, "events.parquet")
        events = read_parquet(spark, events_path)
        n_events = ctx.duck.execute(f"SELECT COUNT(*) FROM parquet_scan('{events_path}')").fetchone()[0]
        v0 = step("versioned.write", lambda: write_versioned(spark, catalog, rel, events),
                  kind="commit")
        buckets = self.rng.sample(range(BUCKETS), MERGES + 1)
        for i, b in enumerate(buckets[:MERGES]):
            changed = events.filter(F.col("event_id") % BUCKETS == b).withColumn(
                "value", F.col("value") + F.lit(1.0))
            added = events.filter(F.col("event_id") % (BUCKETS * 8) == b).withColumn(
                "event_id", F.col("event_id") + F.lit(n_events * (i + 1)))
            step("versioned.merge", lambda u=changed.unionByName(added): merge_versioned(
                spark, catalog, rel, u, key="event_id"), kind="commit")
        gone = buckets[MERGES]
        step("versioned.delete", lambda: delete_versioned(
            spark, catalog, rel, F.col("event_id") % BUCKETS == gone), kind="commit")
        current = step("versioned.read", lambda: read_versioned(spark, catalog, rel).count(),
                       kind="read")
        travel = step("versioned.time_travel",
                      lambda: read_versioned(spark, catalog, rel, version=v0).count(), kind="read")
        step("versioned.optimize", lambda: optimize_versioned(spark, catalog, rel), kind="commit")
        before_vacuum = sum(v[0] for k, v in _parquet_files(self.db).items()
                            if k not in self.source_files)
        step("versioned.vacuum", lambda: vacuum_versions(catalog, rel, keep_last=1))

        # write and space amplification over the program's own files
        live = sum(v[0] for k, v in self.files.items() if k not in self.source_files)
        self.write_amp = self.created_bytes / live
        self.space_amp = before_vacuum / live

        inserts = " UNION ".join(
            f"SELECT event_id + {n_events * (i + 1)} AS event_id FROM parquet_scan('{events_path}') "
            f"WHERE event_id % {BUCKETS * 8} = {b}" for i, b in enumerate(buckets[:MERGES]))
        self.versioned_rows = ctx.duck.execute(
            f"SELECT COUNT(*) FROM (SELECT event_id FROM parquet_scan('{events_path}') "
            f"UNION {inserts}) WHERE event_id % {BUCKETS} <> {gone}").fetchone()[0]
        self.check(current == self.versioned_rows,
                   f"versioned rows after merges and delete: spark {current}, "
                   f"duckdb {self.versioned_rows}")
        self.check(travel == n_events, f"time travel to v{v0}: {travel} rows, expected {n_events}")

    EXTRAS = ("project.compile", "catalog.get_columns", "project.noop_run")

    def total_s(self) -> float:
        """Cycle time: every timed step except the traced-only extras."""
        return sum(v for k, v in self.steps.items() if k not in self.EXTRAS)

    def total_wall_s(self) -> float:
        """Like ``total_s``, with each step's bookkeeping (file scans and,
        when traced, the probe) included."""
        return sum(v for k, v in self.walls.items() if k not in self.EXTRAS)

    def expected_counts(self) -> dict[str, int]:
        """What each lake read should return, from DuckDB over the same
        source files: model row counts, no generic-test violations, and the
        versioned table's rows after the merges and the delete."""
        duck = self.ctx.duck
        for src in SOURCES:
            duck.execute(f"CREATE OR REPLACE VIEW {src} AS SELECT * FROM "
                         f"parquet_scan('{os.path.join(self.db, src + '.parquet')}')")
        out = {f"model.{n}": duck.execute(DUCK_COUNTS[n]).fetchone()[0]
               for n in sorted(self.project.models)}
        out.update({f"test.{t[0]}.{t[1]}": 0 for t in GENERIC_TESTS})
        out["versioned.read"] = self.versioned_rows
        return out

    def _read(self, op: str) -> int:
        from dbt_parquet_spark.versioned import read_versioned

        kind, _, name = op.partition(".")
        if kind == "model":
            view = self.catalog.relation(name).view_name
            return self.spark.sql(f"SELECT COUNT(*) FROM {view}").first()[0]
        if kind == "test":
            return _run_test(self.project, self.spark, next(
                t for t in GENERIC_TESTS if op == f"test.{t[0]}.{t[1]}"))
        return read_versioned(self.spark, self.catalog, self.rel).count()

    def read_round(self, expected: dict[str, int]) -> dict[str, float]:
        """Query the built lake once, every read checked (untimed) against
        ``expected``. Returns the time of each read that did not raise."""
        times = {}
        for op, want in expected.items():
            t0 = time.perf_counter()
            try:
                n = self._read(op)
            except Exception as exc:
                self.check(False, f"{op} raised {exc!r}")
                continue
            times[op] = time.perf_counter() - t0
            self.check(n == want, f"{op}: spark {n}, duckdb {want}")
        return times


def run(ctx) -> dict:
    checks = Counter()
    failures: list[str] = []

    def check(ok: bool, what: str) -> None:
        checks["attempted"] += 1
        if not ok:
            checks["failed"] += 1
            failures.append(what)
            print(f"CHECK FAILED lake_build: {what}", flush=True)

    def cycle(i: int, choices: str, traced: bool = False) -> tuple[Cycle, bool]:
        c = Cycle(ctx, os.path.join(ctx.run_root, f"db{i}"), choices, traced, check)
        try:
            c.run()
        except Exception as exc:
            check(False, f"cycle {i} raised {exc!r}")
            return c, False
        return c, True

    last, ok = cycle(0, "0")
    out = {"first_pass_s": last.total_s(), "context": _context(last), "ops": {}}
    if ctx.trace and ok:
        # an untraced warm cycle, the base of the tracing overhead, then the
        # traced one; views are per session, so each cycle replaces the
        # previous database and the reads below use the last
        shutil.rmtree(last.db)
        base, ok = cycle(1, "t")
        if ok:
            shutil.rmtree(base.db)
            last, ok = cycle(2, "t", traced=True)
        if ok:
            out.update(layers=_layers(last), base_pass_s=base.total_wall_s(),
                       traced_pass_s=last.total_wall_s(),
                       overhead_s=last.total_wall_s() - base.total_wall_s())
    rounds: list[float] = []
    if ok:
        ops: dict[str, list[float]] = {}
        expected = last.expected_counts()
        warmups = warm_up(lambda: last.read_round(expected), WARMUP_ROUNDS)
        n = 1 if ctx.trace else measured_passes(ctx.seconds, NOMINAL_ROUND_S)
        for _ in range(n):
            t0 = time.perf_counter()
            for op, dt in last.read_round(expected).items():
                ops.setdefault(op, []).append(dt)
            rounds.append(time.perf_counter() - t0)
        out["ops"] = ops
        out["context"].update({f"{op} (s)": [round(x, 3) for x in xs] for op, xs in ops.items()})
        out["context"].update({"warm-up rounds (s)": [round(r, 3) for r in warmups],
                               "measured rounds (s)": [round(r, 3) for r in rounds]})
    out.update(attempted=checks["attempted"], failed=checks["failed"], failures=failures)
    return out


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _context(c: Cycle) -> dict:
    """The lifecycle's own figures for one cycle (0 for a step that a
    failed cycle never reached)."""
    return {
        "project_run_s": c.steps.get("project.run", 0.0),
        "incremental_run_s": c.steps.get("project.incremental_run", 0.0),
        "commit_p50_s": _med(c.commits),
        "lake_read_p50_s": _med(c.reads),
        "docs_s": c.steps.get("catalog.docs_artifact", 0.0),
        "write_amp": c.write_amp,
        "space_amp": c.space_amp,
    }


def _layers(c: Cycle) -> dict:
    s, lay = c.steps, c.layer
    n_commits = len(c.commits)
    out = {
        "catalog.register_all_views_s": s["catalog.register_all_views"],
        "catalog.get_columns_s": s["catalog.get_columns"],
        "project.compile_s": s["project.compile"],
        "project.noop_run_s": s["project.noop_run"],
        "project.models_rebuilt": lay["project.models_rebuilt"],
        "project.rebuild_ratio": (lay["project.models_rebuilt"]
                                  / max(1, lay["project.models_downstream"])),
        "materialize.seed_s": s["materialize.seed"],
        "materialize.bytes_written": lay["materialize.bytes_written"],
        "materialize.files_written": lay["materialize.files_written"],
        "versioned.write_s": s["versioned.write"],
        "versioned.merge_s": s["versioned.merge"] / MERGES,
        "versioned.delete_s": s["versioned.delete"],
        "versioned.optimize_s": s["versioned.optimize"],
        "versioned.vacuum_s": s["versioned.vacuum"],
        "versioned.read_s": s["versioned.read"],
        "versioned.time_travel_s": s["versioned.time_travel"],
        "versioned.files_added_per_commit": lay["commit.files"] / n_commits,
        "versioned.bytes_added_per_commit": lay["commit.bytes"] / n_commits,
        "versioned.fs_ops_per_commit": lay["commit.fs_ops"] / n_commits,
        **_context(c),
    }
    for k in ("fs.get", "fs.list", "fs.put", "fs.move", "fs.delete", "spark.jobs",
              "spark.stages", "spark.tasks", "spark.exec_s", "catalyst.exchanges",
              "catalyst.broadcasts", "exec.scan_files", "exec.scan_bytes", "exec.shuffle_bytes",
              "exec.shuffle_records", "exec.spill_bytes", "exec.peak_memory_bytes"):
        out[k] = lay[k]
    return out
