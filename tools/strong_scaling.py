"""Strong-scaling ladder — the multi-executor proxy measurement.

The sandbox is a single JVM (`local[N]`), so multi-NODE execution
can't be demonstrated directly; what CAN be measured is whether the
engine's plans actually parallelize: fixed work (the sf0.1 corpus grown
10x under tools/grown.py's verbatim law), varying only the core
count. A plan that partitions correctly — scan splits sized by
``maxPartitionBytes``, shuffles keyed on the group/join columns, no
driver-side funnel — speeds up with cores until input splits or
fixed JVM overhead bound it; a plan with a hidden serial stage
(driver collect, single-partition sort, an un-parallelized Python
boundary) stays flat and is exposed here immediately.

Method: for each rung of the ladder (default 4/16/32 cores) and each
query, tools/ab_fresh.py draws one fresh process with
``SPARK_GRAFT_CPUS=<rung>`` in its environment (what
hetnetdb_spark.session.get_spark reads for ``local[cores]``): cold,
then min-of-3. A rung never shares a JVM with another rung: the py4j
JVM and its JIT state survive ``spark.stop()``, so later rungs in one
process would inherit warm-up the first rung paid for and overstate
speedup.

Byte-based knobs are scaled DOWN to fixture scale, deliberately.
Production defaults (128 MB ``maxPartitionBytes``, 64 MB AQE
advisory) on a ~108 MB lineitem written as 11 part files yield 11
scan splits and a 1-partition post-shuffle stage — i.e. they
simulate a deployment where the WHOLE CLUSTER holds one executor's
worth of data, and every rung above ~11 cores measures nothing (the
first recording of this ladder showed exactly that: 1.3x "speedups"
that indicted the fixture, not the plans). At 100 TB the same knobs
produce tens of thousands of splits and hundreds of post-shuffle
partitions; what transfers from fixture to production is the plan
STRUCTURE (which stages exist, what they key on, whether anything
funnels through the driver), so the ladder sets ``maxPartitionBytes``
and ``advisoryPartitionSizeInBytes`` to 4 MB — restoring
splits-per-core >> 1, the regime every real deployment runs in —
and keeps all non-byte confs at engine defaults.

Reading the result: ``speedup`` is rung-4-wall / rung-N-wall
(ideal = N/4); ``efficiency`` divides that by the core ratio.
Perfect linear scaling is NOT expected at these sizes — per-stage
fixed costs (task launch, codegen, Arrow setup) are a visible
fraction of a 30–500 ms query — so the gate is two-part:
 * queries with enough base work (lo-rung wall >= GATE_FLOOR_S)
   must speed up >= MIN_SPEEDUP x from 4->32;
 * EVERY query, however small, must not DEGRADE with cores beyond
   measurement noise (speedup >= NO_DEGRADE), which is the signature
   that would indict the plan at 1000 executors. Sub-floor queries
   are reported as ``overhead_bound`` rather than pass/fail: their
   wall is dominated by fixed scheduling cost that amortizes away at
   scale, so a speedup number there carries no signal either way.

Queries: the scan/join/agg/window headliners whose fact side is
replicated 10x (documents/embeddings are copied-through dims in the
shared corpus, so their queries would measure fixed work and are
covered by the slope programs instead).

Usage:
    python tools/strong_scaling.py                 # 4,16,32 ladder
    SPARK_GRAFT_CORES_LADDER=2,8,32 python tools/strong_scaling.py
    SPARK_GRAFT_SCALING_CORPUS=<grown corpus dir> python tools/strong_scaling.py
Prints one JSON line per (cores, query) plus a summary line; exit 1
if any query fails the speedup gate.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import ab_fresh  # noqa: E402
import grown  # noqa: E402

LADDER = [
    int(s)
    for s in os.environ.get("SPARK_GRAFT_CORES_LADDER", "4,16,32").split(",")
    if s
]
#: Minimum acceptable speedup from the smallest to the largest rung,
#: applied only to queries whose lo-rung wall is >= GATE_FLOOR_S.
#: Conservative on purpose: 8x cores at fixture scale buys ~3-5x on
#: scan-bound plans once fixed per-stage costs are paid; anything
#: below 1.5x on a query with real work means a serial stage.
MIN_SPEEDUP = 1.5
#: Queries faster than this at the LO rung are fixed-cost-dominated;
#: they are exempt from MIN_SPEEDUP but still gated on NO_DEGRADE.
#: Calibration (honest fresh-execution runs, round 10): a fresh
#: QueryExecution costs ~0.15 s flat (plan + optimize + schedule +
#: Arrow fetch) and ~0.3-0.45 s for 2-3 stage shapes — a 4-core wall
#: under ~0.8 s is majority floor, and a speedup ratio there measures
#: scheduling overhead, not plan scalability (events_tumbling_1h at
#: the 30x corpus: 0.60 s at c4 of which ~0.45 s is floor; its
#: parallelizable work is real but too small to move the ratio).
GATE_FLOOR_S = 0.8
#: Hard floor for every query: walls this short are ~20% noisy, so a
#: "speedup" down to 0.75x is indistinguishable from flat; below that
#: is a real degradation and fails the run.
NO_DEGRADE = 0.75

#: Byte knobs scaled to fixture size (see module docstring): keep
#: splits-per-core >> 1 at the largest rung, matching the regime a
#: 100 TB deployment is always in.
_LADDER_CONF = {
    "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(4 * 1024 * 1024),
}

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "window_top3_orders_per_cust",
    "events_sessionize_30m",
    "events_tumbling_1h",
]


def __getattr__(name: str):
    """``strong_scaling:<query>`` ab_fresh specs: the registered query
    at $SPARK_GRAFT_SF_DIR on a session carrying the ladder's byte
    confs."""
    if name not in QUERIES:
        raise AttributeError(name)

    def build(spark):
        from hetnetdb_spark import registry  # noqa: PLC0415

        for k, v in _LADDER_CONF.items():
            spark.conf.set(k, v)
        return registry.QUERIES[name](spark, os.environ["SPARK_GRAFT_SF_DIR"])

    return build


def _corpus() -> str:
    """The 10x verbatim corpus, or SPARK_GRAFT_SCALING_CORPUS, an
    existing corpus dir (r16: the 300x replica, where 8→32-core
    ratios carry signal — at sf0.1 every headliner sits at ≤2x the
    per-execution floor and core count cannot show; see PERF_r15
    scaling block)."""
    override = os.environ.get("SPARK_GRAFT_SCALING_CORPUS")
    if override:
        if not os.path.isdir(override):
            raise SystemExit(f"scaling corpus {override} missing")
        return override
    return grown.corpus(grown.BASE, 10, "verbatim")


def main() -> int:
    corpus = _corpus()
    by_rung: dict[int, dict[str, float | None]] = {}
    for cores in LADDER:
        env = {"SPARK_GRAFT_CPUS": str(cores), "SPARK_GRAFT_SF_DIR": corpus}
        recs = ab_fresh.draws([f"strong_scaling:{q}" for q in QUERIES], 1, env)
        by_rung[cores] = {q: ab_fresh.best(recs[f"strong_scaling:{q}"]) for q in QUERIES}
        for q in QUERIES:
            print(json.dumps({"cores": cores, "query": q, "warm_s": by_rung[cores][q]}), flush=True)
    lo, hi = min(LADDER), max(LADDER)
    ratio = hi / lo
    failures = []
    summary = {}
    for name in QUERIES:
        walls = {f"c{c}": by_rung[c][name] for c in LADDER}
        if None in walls.values():
            failures.append(name)
            summary[name] = {"gate": "failed_draw", **walls}
            continue
        speed = round(by_rung[lo][name] / by_rung[hi][name], 2)
        gated = by_rung[lo][name] >= GATE_FLOOR_S
        summary[name] = {
            "speedup": speed,
            "efficiency": round(speed / ratio, 2),
            "gate": "speedup" if gated else "overhead_bound",
            **walls,
        }
        if (gated and speed < MIN_SPEEDUP) or speed < NO_DEGRADE:
            failures.append(name)
    print(
        json.dumps(
            {
                "summary": "strong_scaling",
                "cores": f"{lo}->{hi}",
                "ideal": ratio,
                "min_speedup_gate": MIN_SPEEDUP,
                "gate_floor_s": GATE_FLOOR_S,
                "no_degrade_gate": NO_DEGRADE,
                "queries": summary,
                "failures": failures,
            }
        ),
        flush=True,
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
