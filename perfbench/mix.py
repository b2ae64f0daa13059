"""``sf001_mix``: registry queries through the noop sink, closed loop.

The cold first pass runs the queries in their fixed order and collects each
result to the driver, and those results feed the correctness check:
oracle-backed queries are compared to DuckDB with
``tests/oracle_utils.compare_spark_duckdb`` over ``parquet_scan`` views of
the same files, and rows-only queries must return the same row count on a
later, untimed execution. Warm passes then run every query through the noop
sink, each pass in an order drawn from the seed: a fixed number of untimed
warm-up passes, then a fixed number of measured passes set by the run's
seconds (``loop.py``).
"""

from __future__ import annotations

import random
import time
from collections import Counter

from loop import measured_passes, warm_up
from tracing import PHASES, SparkProbe, phase_seconds

# Overhead-bound registry queries: a multi-way join, a window rank, a sort
# with limit, an as-of join, a grouped filter, exact dedup and MinHash dedup
# (rows-only).
QUERIES = (
    "q_join_multi",
    "q_window_rank",
    "q_orderby_limit",
    "q_asof_join",
    "q_group_having",
    "q_dedup_exact",
    "q_dedup_minhash",
)
WARMUP_PASSES = 1
# wall time of one early warm pass on a 4-vCPU x86-64 host with local[2]
NOMINAL_PASS_S = 2.9


class _Collected:
    """A collected result in the shape ``compare_spark_duckdb`` consumes."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def run(ctx) -> dict:
    from tests.oracle_utils import compare_spark_duckdb

    spark, specs, sf = ctx.spark, ctx.specs, ctx.inputs
    rng = random.Random(ctx.seed)
    checks = Counter()
    failures: list[str] = []

    def fail(what: str) -> None:
        checks["failed"] += 1
        failures.append(what)
        print(f"CHECK FAILED sf001_mix: {what}", flush=True)

    def order() -> list[str]:
        return rng.sample(QUERIES, len(QUERIES))

    # cold pass in the fixed order, so that the same query pays the one-time
    # costs on every seed: collect every result (timed), check it (untimed)
    cold: dict[str, float] = {}
    collected = {}
    for name in QUERIES:
        checks["attempted"] += 1
        t0 = time.perf_counter()
        try:
            collected[name] = specs[name].builder(spark, sf).toPandas()
        except Exception as exc:
            fail(f"{name} raised {exc!r}")
            continue
        finally:
            cold[name] = time.perf_counter() - t0
    for name, pdf in collected.items():
        oracle = specs[name].oracle
        if oracle is not None:
            checks["attempted"] += 1
            try:
                ok, msg = compare_spark_duckdb(_Collected(pdf), ctx.duck, oracle)
            except Exception as exc:
                ok, msg = False, f"oracle comparison raised {exc!r}"
            if not ok:
                fail(f"{name}: {msg}")

    def query(name: str, probe: SparkProbe | None = None) -> tuple[float, Counter | None]:
        """One warm query through the noop sink; with a probe, also its
        build, Catalyst and Spark counters, inside spans."""
        if probe is None:
            t0 = time.perf_counter()
            specs[name].builder(spark, sf).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0, None
        tracer = ctx.tracer
        with tracer.span("query", op=name) as rec:
            t0 = time.perf_counter()
            mark = probe.mark()
            with tracer.span("operators.build"):
                df = specs[name].builder(spark, sf)
            build_s = time.perf_counter() - t0
            built = probe.collect(mark)
            mark = probe.mark()
            with tracer.span("catalyst"):
                phases = phase_seconds(df)
            with tracer.span("execute"):
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            counters = built + probe.collect(mark)
        counters["operators.build_s"] += build_s
        counters["operators.build_jobs"] += built["spark.jobs"]
        counters.update(phases)
        rec.update(counters=dict(counters))
        return dt, counters

    warm: dict[str, list[float]] = {name: [] for name in QUERIES}

    def warm_pass(probe: SparkProbe | None = None) -> tuple[float, Counter]:
        """One pass in a seeded order; returns its wall time (probe work
        included) and, with a probe, the summed layer counters."""
        layer = Counter()
        t0 = time.perf_counter()
        for name in order():
            checks["attempted"] += 1
            try:
                dt, counters = query(name, probe)
            except Exception as exc:
                fail(f"{name} raised {exc!r}")
                continue
            if probe is None:
                warm[name].append(dt)
            layer.update(counters or {})
        return time.perf_counter() - t0, layer

    warmups = warm_up(warm_pass, WARMUP_PASSES)
    for name in QUERIES:
        warm[name].clear()
    passes: list[float] = []
    if ctx.trace:
        # untraced passes on both sides of the traced one: their mean is the
        # base of the tracing overhead
        before, _ = warm_pass()
        traced, layer = warm_pass(SparkProbe(spark))
        after, _ = warm_pass()
        base = (before + after) / 2
    else:
        for _ in range(measured_passes(ctx.seconds, NOMINAL_PASS_S)):
            passes.append(warm_pass()[0])

    # rows-only queries: same row count as the cold pass, untimed
    for name in QUERIES:
        if specs[name].oracle is None and name in collected:
            checks["attempted"] += 1
            try:
                n = specs[name].builder(spark, sf).count()
            except Exception as exc:
                fail(f"{name} raised {exc!r} on the row-count check")
                continue
            if n != len(collected[name]):
                fail(f"{name}: {n} rows on a later pass, {len(collected[name])} on the first")

    out = {
        "first_pass_s": sum(cold.values()),
        "ops": warm,
        "context": {"warm-up passes (s)": [round(p, 3) for p in warmups],
                    "measured passes (s)": [round(p, 3) for p in passes],
                    **{f"{q} cold, warm (s)": [round(cold.get(q, 0), 3),
                                               [round(x, 3) for x in warm[q]]]
                       for q in QUERIES}},
        "attempted": checks["attempted"],
        "failed": checks["failed"],
        "failures": failures,
    }
    if ctx.trace:
        out.update(layers=_layers(layer), base_pass_s=base, traced_pass_s=traced,
                   overhead_s=traced - base)
    return out


def _layers(c: Counter) -> dict:
    keys = ["operators.build_s", "operators.build_jobs", *PHASES.values(),
            "catalyst.exchanges", "catalyst.broadcasts", "spark.jobs", "spark.stages",
            "spark.tasks", "spark.exec_s", "exec.scan_files", "exec.scan_bytes",
            "exec.shuffle_bytes", "exec.shuffle_records", "exec.spill_bytes",
            "exec.peak_memory_bytes"]
    return {k: c[k] for k in keys}
