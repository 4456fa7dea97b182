"""Smoke test of the benchmark: every workload end to end on small
inputs with the correctness gate on, plus one traced run.

    python3 -m pytest perfbench/tests -q

Takes a few minutes (each run starts its own Spark JVM)."""

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_smoke_every_workload_passes_the_gate():
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--smoke", "--seed", "7"],
        cwd=os.path.dirname(BENCH), capture_output=True, text=True, timeout=900,
    )
    lines = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert {(r["workload"], r["trace"]) for r in lines} == {
        ("interactive", 0), ("batch", 0), ("interactive", 1)
    }
    for r in lines:
        assert r["attempted"] > 0 and r["failed"] == 0, r
        assert all(v["value"] == v["value"] for v in r["metrics"].values())  # no NaN

