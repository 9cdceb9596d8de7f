"""tools/ab_fresh.py, the one fresh-process timing harness.

The timing loop and the cap rule are pinned with fake callables (no
Spark); one subprocess smoke runs a Spark arm and a DuckDB arm of q1;
engine_crossover's doc writer round-trips through scale_gate.
"""

from __future__ import annotations

import json
import os
import sys
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import ab_fresh  # noqa: E402
import engine_crossover  # noqa: E402
from scale_gate import evaluate  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402


def _fake(monkeypatch, durations):
    """A callable whose passes take ``durations`` on a fake clock."""
    clock = [0.0]
    todo = list(durations)
    monkeypatch.setattr(ab_fresh, "perf_counter", lambda: clock[0])

    def run():
        clock[0] += todo.pop(0)
        return len(todo)

    return run, todo


def test_cold_run_over_the_cap_is_recorded_capped(monkeypatch):
    run, todo = _fake(monkeypatch, [ab_fresh.CAP_S + 5, 1.0, 1.0, 1.0])
    between = []
    walls, result = ab_fresh.time_passes(run, lambda: between.append(1))
    assert walls == {"cold": ab_fresh.CAP_S + 5, "min3": None, "capped": True,
                     "wall": ab_fresh.CAP_S + 5}
    assert len(todo) == 3 and not between and result == 3


def test_min_of_three_after_the_cold_run(monkeypatch):
    run, todo = _fake(monkeypatch, [10.0, 3.0, 2.0, 4.0])
    between = []
    walls, result = ab_fresh.time_passes(run, lambda: between.append(1))
    assert walls == {"cold": 10.0, "min3": 2.0, "capped": False, "wall": 2.0}
    assert not todo and len(between) == 3 and result == 0


def test_draws_stop_an_arm_only_while_all_its_draws_are_capped(monkeypatch):
    script = {
        "a": [{"capped": True, "wall": 950.0}],
        "b": [{"capped": False, "wall": 71.3}, {"capped": True, "wall": 901.0},
              {"capped": False, "wall": 70.0}],
        "c": [None, {"capped": False, "wall": 1.0}, {"capped": False, "wall": 2.0}],
    }
    calls = []

    def fake_run(cmd, **_):
        spec = cmd[-1]
        calls.append(spec)
        rec = script[spec].pop(0)
        out = "" if rec is None else json.dumps({"spec": spec, "cold": 0, "min3": 0, **rec})
        return types.SimpleNamespace(stdout=out, stderr="java.lang.OutOfMemoryError\n")

    monkeypatch.setattr(ab_fresh.subprocess, "run", fake_run)
    recs = ab_fresh.draws(["a", "b", "c"], 3)
    assert calls.count("a") == 1 and calls.count("b") == 3 and calls.count("c") == 3
    assert [r["wall"] for r in recs["b"]] == [71.3, 901.0, 70.0]
    assert recs["c"][0]["error"] == "java.lang.OutOfMemoryError"
    assert ab_fresh.best(recs["b"]) == 70.0 and ab_fresh.best(recs["c"]) == 1.0


def test_spark_and_duck_arms_in_fresh_processes():
    env = {"SPARK_GRAFT_SF_DIR": SF_DIR, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    specs = ["registry:q1_pricing_summary", "duck:q1_pricing_summary"]
    recs = ab_fresh.draws(specs, 1, env)
    for spec in specs:
        (rec,) = recs[spec]
        assert "error" not in rec, rec
        assert rec["capped"] is False and 0 < rec["wall"] == rec["min3"] <= rec["cold"]


def _draws(spark: dict[str, float], duck: dict[str, float]) -> dict[str, list[dict]]:
    out = {f"registry:{q}": [{"wall": w, "capped": False}] for q, w in spark.items()}
    out.update({f"duck:{q}": [{"wall": w, "capped": False}] for q, w in duck.items()})
    return out


def test_crossover_doc_round_trips_through_scale_gate(tmp_path):
    queries = ["q1_pricing_summary", "q3_shipping_priority"]
    walls = {  # factor -> (spark, duck) walls of the two queries
        1: ((0.8, 0.6), (0.1, 0.1)),
        100: ((4.0, 5.0), (5.0, 5.0)),
        300: ((6.0, 6.0), (30.0, 30.0)),
    }
    path = str(tmp_path / "story.json")
    for f, (s, d) in walls.items():
        recs = _draws(dict(zip(queries, s)), dict(zip(queries, d)))
        engine_crossover.write_doc(path, "headline", queries, {str(f): engine_crossover.summarize(recs, queries)})
    # a pipeline leg whose second query failed on the DuckDB side
    failed = _draws({"l01_exact_dedup": 2.0, "l02_minhash_neardup": 3.0}, {"l01_exact_dedup": 2.0})
    failed["duck:l02_minhash_neardup"] = [{"spec": "duck:l02_minhash_neardup", "error": "OOM"}]
    pipe = engine_crossover.summarize(failed, ["l01_exact_dedup", "l02_minhash_neardup"])
    assert pipe["failed_queries"] == ["l02_minhash_neardup"] and pipe["ratio"] == 1.0
    engine_crossover.write_doc(path, "pipeline", ["l01_exact_dedup"], {"300": pipe})

    with open(path) as fh:
        doc = json.load(fh)
    fails, summary = evaluate(doc)
    assert fails == []
    assert summary["curve"] == {"1": 7.0, "100": 0.9, "300": 0.2}
    assert summary["largest_ratio_basis"] == "isolated-only"
    assert summary["crossover_factor"] == 100 and summary["pipeline_ratio"] == 1.0
    assert doc["headline"]["queries"] == queries


def test_cli_prints_the_min_per_arm(monkeypatch, capsys):
    monkeypatch.setattr(ab_fresh, "draws", lambda specs, procs: {
        s: [{"wall": 2.0, "capped": False}, {"wall": 1.5, "capped": False}] for s in specs
    })
    monkeypatch.setattr(sys, "argv", ["ab_fresh.py", "2", "registry:q1_pricing_summary"])
    assert ab_fresh.main() == 0
    assert "registry:q1_pricing_summary: min 1.500  all [2.0, 1.5]" in capsys.readouterr().out
