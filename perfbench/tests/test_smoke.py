"""Smoke test for the benchmark: every workload, untraced and traced, in
``--smoke`` mode (sf0.001 inputs, no warm-up, three batch passes or one
copy of the serve request list).

    python -m pytest perfbench/tests -q

Asserts that each run exits 0 with a correct result, emits every metric
BENCHMARK.json names with its unit, reads ``fail_frac`` 0, and leaves no
run directory or scratch directory behind.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted(workload: str, trace: int) -> None:
    before = set(os.listdir(os.path.join(ROOT, ".scratch"))) if os.path.isdir(
        os.path.join(ROOT, ".scratch")) else set()
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace:
        assert res["metrics"]["fail_frac"]["value"] == 0
        assert res["metrics"]["trace.violations"]["value"] == 0
    else:
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in wanted)
    run_dir = os.path.join(ROOT, ".bench_run")
    assert not os.path.isdir(run_dir) or not os.listdir(run_dir)
    after = set(os.listdir(os.path.join(ROOT, ".scratch"))) if os.path.isdir(
        os.path.join(ROOT, ".scratch")) else set()
    assert after <= before
