"""Smoke test of the benchmark itself: every workload runs at sf0.01 (or
with one operation) in both modes and emits every metric BENCHMARK.json
names; a planted wrong result raises the error rate.

Run from the repository root: python3 -m pytest perfbench/test_smoke.py -q
(11-17 minutes on a 4-core host: each run starts its own Spark session).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from drift import drift  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def bench(*args: str) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "3", "--seconds", "1", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


def small(workload: str) -> list[str]:
    if workload == "tpch_sf1":  # exercises the sf1 generation path
        return ["--workload", workload, "--ops", "1"]
    return ["--workload", workload, "--scale", "sf0.01", "--ops", "3"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_emitted(workload: str, trace: int) -> None:
    result, _ = bench(*small(workload), "--trace", str(trace))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], float), k


def test_planted_wrong_result_raises_error_rate() -> None:
    from workloads import make_workload

    sys.path.insert(0, ROOT)
    first = make_workload("tpch_sf0.1", 3).order(3)[0].name
    args = ["--workload", "tpch_sf0.1", "--scale", "sf0.01", "--ops", "2"]
    clean, out_clean = bench(*args)
    planted, out_planted = bench(*args, "--plant-wrong", first)
    rate = lambda out: float(re.search(r"error_rate = ([0-9.]+)", out).group(1))  # noqa: E731
    assert clean["failed"] == 0 and rate(out_clean) == 0.0
    # the planted query fails in each of the two passes
    assert planted["failed"] == 2 and planted["correct"] is False
    assert rate(out_planted) == 0.5


def test_drift_flags_changed_counts() -> None:
    from tracing import COUNTS

    rec = {c: 1 for c in COUNTS}
    a = {("q1", 0): dict(rec)}
    b = {("q1", 0): dict(rec, jobs=2)}
    assert drift(a, dict(a)) == []
    assert drift(a, b) == ["q1 pass 0: jobs 1 -> 2"]
    assert drift(a, {}) == ["q1 pass 0: only in A"]
    s = {("swell", 0): dict(rec)}
    moved = {("swell", 0): dict(rec, bytes_written=2)}
    assert drift(s, moved) == ["swell pass 0: bytes_written 1 -> 2"]
    assert drift(s, moved, same_seed=False) == []
