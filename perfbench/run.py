#!/usr/bin/env python3
"""Repository benchmark: closed-loop workloads over seeded inputs.

    python3 perfbench/run.py --workload sf001_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run generates (or reuses) its inputs from
the seed, sets the program up several times, runs one cold pass, then warm
passes for ``--seconds``, checks the outputs, and prints human-readable
metric lines followed by ONE JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the traced
variant, reports the per-layer metrics and writes its spans under
``.perfbench_work/traces/``. Metric names and units are in
``BENCHMARK.json``; each workload's reason and layers, and the map from
layer metrics to the end-to-end metrics they should move, are in
``perfbench/layers.json``.

Everything a run writes stays under ``.perfbench_work/`` in the repository
root: inputs cached by seed, and a per-run root (the program's temp
directory, Spark's local and warehouse directories and the lake databases)
that is removed when the run ends.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 5
PACKAGE = "dbt_parquet_spark"
# workload -> (module, input scale factor)
WORKLOADS = {"sf001_mix": ("mix", 0.01), "lake_build": ("lake", 0.01)}
REQUIRED = (PACKAGE, "tests/oracle_utils.py", "examples/analytics/models",
            "examples/corpus/models", "examples/animals/seeds/animals.csv")
# Counts that should repeat exactly between two traced runs of one seed.
REPEATING = (
    "operators.build_jobs", "spark.jobs", "spark.stages", "spark.tasks",
    "catalyst.exchanges", "catalyst.broadcasts", "exec.scan_files", "exec.scan_bytes",
    "exec.shuffle_bytes", "exec.shuffle_records", "exec.spill_bytes",
    "fs.get", "fs.list", "fs.put", "fs.move", "fs.delete", "project.models_rebuilt",
    "materialize.files_written", "versioned.files_added_per_commit",
    "versioned.fs_ops_per_commit", "memo.entries_total", "memo.entries_added",
)

def _spin_s() -> float:
    """Single-thread CPU canary: host speed context, not a metric."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i
    return time.perf_counter() - t0


def _cpu_ticks() -> list[int]:
    """Aggregate CPU ticks from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples above it, never below the median."""
    s = sorted(xs)
    n = len(s)
    k = max(n - 10, n // 2 + 1)
    return 100.0 * k / n, s[k - 1]


def _env(run_root: str, cpus: int) -> None:
    """Point every temp and scratch location of the program and of Spark
    into this run's root, before pyspark is imported."""
    tmp, jtmp = os.path.join(run_root, "tmp"), os.path.join(run_root, "jvm-tmp")
    for d in (tmp, jtmp):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a fixed 2 GiB driver heap, whatever the caller's environment holds:
    # under the program's 8 GiB default the JVM's heap grows by a different
    # amount on every run, and peak RSS with it
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={os.path.join(run_root, 'spark-local')}",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_root, 'warehouse')}",
        f"--driver-java-options -Djava.io.tmpdir={jtmp}",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None


def _purge_package() -> None:
    for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[name]


def _setup(inputs: str) -> dict:
    """get_spark + load_all + the first view registration, timed apart."""
    t0 = time.perf_counter()
    session = importlib.import_module(f"{PACKAGE}.session")
    spark = session.get_spark("perfbench")
    t1 = time.perf_counter()
    specs = importlib.import_module(f"{PACKAGE}.registry").load_all()
    t2 = time.perf_counter()
    readers = importlib.import_module(f"{PACKAGE}.sources.readers")
    readers.read_parquet(spark, os.path.join(inputs, "events.parquet")).createOrReplaceTempView(
        "perfbench_events")
    t3 = time.perf_counter()
    return {"spark": spark, "specs": specs, "total": t3 - t0,
            "session": t1 - t0, "registry": t2 - t1, "view": t3 - t2}


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import inputs as inputs_mod
    from tracing import SparkProbe, Tracer, memo_entries

    module, scale = WORKLOADS[args.workload]
    # Spark and the project thread pool get half the CPUs: with all of them
    # (local[4] on a 4-vCPU host) the Python driver, JIT and GC threads had
    # no core left and runs were both slower and noisier.
    cpus = max(1, (os.cpu_count() or 2) // 2)
    inputs = inputs_mod.ensure(os.path.join(WORK, "inputs"), args.seed, scale)
    sizes = inputs_mod.describe(inputs)
    run_root = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    spark = None
    try:
        _env(run_root, cpus)
        context = {"spin_before_s": _spin_s(), "loadavg_before": os.getloadavg()[0]}
        ticks0 = _cpu_ticks()
        setups = []
        for i in range(SETUPS):
            if i:
                spark.stop()  # keep the JVM: later set-ups measure no JVM launch
                _purge_package()
            s = _setup(inputs)
            spark = s["spark"]
            setups.append(s)
        spark.sparkContext.setLogLevel("ERROR")
        import duckdb

        duck = duckdb.connect()
        for t in inputs_mod.TABLES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{inputs}/{t}.parquet')")
        tracer = Tracer(enabled=bool(args.trace))
        ctx = SimpleNamespace(spark=spark, specs=setups[-1]["specs"], inputs=inputs,
                              seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                              tracer=tracer, duck=duck, cpus=cpus, run_root=run_root)
        memo0 = memo_entries(PACKAGE)
        res = importlib.import_module(module).run(ctx)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss = {"driver": _hwm_mb("self"), "jvm": _hwm_mb(jvm_pid)}
        memo = {
            "memo.entries_total": memo_entries(PACKAGE),
            "memo.persisted_bytes": SparkProbe(spark).persisted_bytes(),
            "memo.tmp_dirs_leaked": len(os.listdir(os.path.join(run_root, "tmp"))),
        }
        memo["memo.entries_added"] = memo["memo.entries_total"] - memo0
        ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
        context.update(spin_after_s=_spin_s(), loadavg_after=os.getloadavg()[0],
                       steal_pct=100.0 * ticks[7] / max(1, sum(ticks)),
                       iowait_pct=100.0 * ticks[4] / max(1, sum(ticks)))
        duck.close()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_root, ignore_errors=True)

    ops = {op: xs for op, xs in res["ops"].items() if xs}
    reads = [x for xs in ops.values() for x in xs]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} cpus {cpus}")
    print(f"inputs: scale {scale} files {sizes['files']} bytes {sizes['bytes']} rows {sizes['rows']}")
    print("context: " + " ".join(f"{k}={v:.3f}" for k, v in context.items()))
    for f in res["failures"]:
        print(f"failure: {f}")
    print(f"error_rate = {res['failed'] / max(1, res['attempted']):.4f} "
          f"({res['failed']} failed of {res['attempted']} operations and checks)")
    for k, v in res["context"].items():
        print(f"workload figure {k} = {v}")
    print("memo: " + " ".join(f"{k}={v}" for k, v in memo.items()))
    if args.trace:
        metrics = _layer_metrics(args, res, setups, memo, tracer)
    else:
        # a run whose operations all failed has no warm sample: it reports
        # 0 for the warm figures, next to correct: false
        pct, tail = _tail(reads) if reads else (0.0, 0.0)
        metrics = {
            "setup_s": (statistics.median(s["total"] for s in setups), "s",
                        f"median of {SETUPS} set-ups; the first, with JVM launch, "
                        f"{setups[0]['total']:.3f} s"),
            "first_pass_s": (res["first_pass_s"], "s", "one cold pass"),
            "peak_rss_mb": (rss["driver"] + rss["jvm"], "MB",
                            f"driver {rss['driver']:.1f} + JVM {rss['jvm']:.1f}"),
            "query_p50_s": (statistics.median(reads) if reads else 0.0, "s",
                            f"{len(ops)} operations, n={len(reads)}"),
            "query_tail_s": (tail, "s", f"p{pct:.1f}, n={len(reads)}"),
            "queries_per_s": (len(reads) / sum(reads) if reads else 0.0, "1/s",
                              f"{len(reads)} queries in {sum(reads):.3f} s"),
        }
        for k, (v, unit, note) in metrics.items():
            print(f"metric {k} = {v} {unit} ({note})")
        metrics = {k: {"value": v, "unit": unit} for k, (v, unit, _) in metrics.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return 0


def _layer_metrics(args, res, setups, memo, tracer) -> dict:
    """Per-layer metrics of a traced run; writes the trace file and compares
    its counts with the previous traced run of the same workload and seed."""
    layers = dict(res.get("layers", {}), **memo)
    layers["session.start_s"] = statistics.median(s["session"] for s in setups)
    layers["registry.load_s"] = statistics.median(s["registry"] for s in setups)
    if "overhead_s" in res:
        layers["trace.overhead_s"] = res["overhead_s"]
        print(f"tracing overhead: traced pass {res['traced_pass_s']:.3f} s - untraced pass "
              f"{res['base_pass_s']:.3f} s = {res['overhead_s']:.3f} s (wall times, the "
              "probe's own work included)")
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    prefix = f"{args.workload}-seed{args.seed}-"
    earlier = sorted((f for f in os.listdir(traces) if f.startswith(prefix)),
                     key=lambda f: os.path.getmtime(os.path.join(traces, f)))
    counts = {k: layers.get(k, 0) for k in REPEATING}
    if earlier:
        with open(os.path.join(traces, earlier[-1])) as fh:
            before = json.load(fh)["counts"]
        differ = {k: (before.get(k), v) for k, v in counts.items() if before.get(k) != v}
        print(f"repeat check against {earlier[-1]}: {len(counts) - len(differ)} of "
              f"{len(counts)} counts repeat")
        for k, (a, b) in differ.items():
            print(f"nonrepeating {k}: {a} then {b} (cause not identified)")
    else:
        print("repeat check: no earlier traced run of this workload and seed")
    path = os.path.join(traces, f"{prefix}{time.time_ns()}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "layers": layers,
                   "counts": counts, "spans": tracer.spans}, fh)
    print(f"trace: {len(tracer.spans)} spans written to {os.path.relpath(path)}")
    units = _units()
    metrics = {k: {"value": float(layers.get(k, 0)), "unit": u} for k, u in units.items()}
    for k, m in metrics.items():
        print(f"layer {k} = {m['value']} {m['unit']}")
    return metrics


def _units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
