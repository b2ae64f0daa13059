"""The fast/slow test tiers (tests/conftest.py) must stay honest: every
SLOW_TESTS entry names a real test, and a test asked for by node id or
``-k`` runs even when it is in the slow set."""

from __future__ import annotations

import os
import subprocess
import sys

from .conftest import SLOW_TESTS

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
SLOW_PICK = "test_audit.py::test_source_drift_matches_pure_python_exactly"


def _collect(*args: str, full: bool) -> list[str]:
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_FULL_TESTS", None)
    if full:
        env["SPARK_GRAFT_FULL_TESTS"] = "1"
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "-p", "no:cacheprovider", *args],
        cwd=os.path.dirname(TESTS_DIR), env=env, capture_output=True, text=True, check=True,
    ).stdout
    return [ln.strip().split("/")[-1] for ln in out.splitlines() if "::" in ln]


def test_every_slow_entry_resolves_to_a_collected_test():
    collected = set(_collect("tests/", full=True))
    assert not sorted(SLOW_TESTS - collected)


def test_node_id_and_k_bypass_the_tier():
    assert SLOW_PICK in SLOW_TESTS
    assert _collect(f"tests/{SLOW_PICK}", full=False) == [SLOW_PICK]
    name = SLOW_PICK.split("::")[1]
    assert _collect("tests/test_audit.py", "-k", name, full=False) == [SLOW_PICK]
