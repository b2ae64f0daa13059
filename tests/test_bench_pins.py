"""The bench's printed line pins the names PERF compares round over round
(``bench.R15_PRINTED``, the 70 names on the round-15 line): each must still
be a registered query, or PERF would report it as dropped. Spark-free:
loading the registry starts no session."""

from __future__ import annotations

import json
import os

import bench
from dbt_parquet_spark.registry import load_all

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pinned_bench_names_are_registered():
    with open(os.path.join(REPO, "BENCH_r15.json")) as f:
        printed = set(json.load(f)["parsed"]["queries"])
    assert bench.R14_PRINTED <= bench.R15_PRINTED == printed
    assert len(printed) == 70
    assert sorted(bench.R15_PRINTED - set(load_all())) == []
