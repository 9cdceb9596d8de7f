"""Benchmark harness — times the headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "headline_total_warm", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "cpus": N,
   "master": "local[N]", "default_parallelism": N,
   "codegen_cache_max_entries": N, ...}

Three untimed warm-up PASSES over the whole query set (plan +
whole-stage-codegen JIT — measured to keep improving past the first
run as C2 kicks in), then NINE timed passes, each a round-robin
sweep across ALL queries; the per-query MIN across passes is
reported. Interleaving is deliberate (r7 verdict item 2): per-query
timing blocks let a transient co-tenant load spike on the driver's
box inflate whichever queries happened to run during it (BENCH_r07
showed five queries uniformly +33% vs identical plans in r6), while
round-robin passes spread any spike across all queries and nine
temporally-separated samples give each query a high chance of at
least one quiet run. Min (not mean) because the comparison target —
BASELINE.md's warm DuckDB latency — is the engine's steady-state
latency, and single-run GC/compilation/load spikes are scheduler
noise, not plan cost. Timing includes the full action (Arrow fetch
to driver) but not session startup, which is amortized across all
queries exactly as a long-lived resident engine would.

Every pass executes IN FULL: the registry hands out a fresh
QueryExecution per invocation (registry._PLAN_CACHE note). From the
plan cache's introduction (round 2, commit eb405fb — the "3.5s ->
1.3s headline total" step) through round 9, repeated invocations
returned the SAME DataFrame object, and Spark re-serves a
materialized AdaptiveSparkPlan's query stages on re-collect — so
"warm" passes timed only the final stage while the DuckDB baseline
re-executed fully. EVERY recorded BENCH_r02–r09 total carries that
inflation; the honest pre-cache anchor is the ~3.5 s round-2
headline total, and round 10 re-recorded everything under the
fixed semantics (see PLANS.md "Round 10: the stage-reuse
discovery" for the audit trail and the per-query floor analysis).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hetnetdb_spark import registry
from hetnetdb_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Opt-in full-suite mode: time every registered PURE query (impure
# ones mutate scratch dirs / drive streaming triggers and answer a
# different question). The driver's per-round bench stays the 8
# headliners; full mode exists so regressions in the other ~160
# queries are visible — results are recorded in PLANS.md per round.
FULL = os.environ.get("SPARK_GRAFT_BENCH_FULL", "") not in ("", "0")

# Mirrors the BASELINE.md query set; filtered to what's registered so
# the harness stays runnable mid-build.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "window_top3_orders_per_cust",
    "events_sessionize_30m",
    "events_tumbling_1h",
    "docs_token_counts",
    "emb_topk_cosine",
]


def _sf_from_dir(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


#: Near-empty corpus used to measure each query's FIXED cost — the
#: per-execution floor (analysis + optimization + AQE stage
#: scheduling + Arrow fetch) a fresh QueryExecution pays before any
#: meaningful data is read. sf0.001 facts are ~600 rows, so these
#: walls are ≥95% fixed cost; the decomposition below is what
#: BASELINE.md's round-10 correction derived by arithmetic, now
#: measured and recorded in every BENCH artifact.
FLOOR_DIR = os.environ.get("SPARK_GRAFT_FLOOR_DIR", "/root/testdata/sf0.001")

#: Load-sentinel references (r13 verdict item 1). BENCH_r13 recorded a
#: +34% headline / +46% floor jump with ZERO headline code changed
#: that round — box contention during the driver's recording window,
#: indistinguishable in the artifact from a plan regression. The
#: sentinel makes contention self-reporting: a fixed tiny job is
#: timed before the warm-up passes and again after the timed passes,
#: and the sf0.001 fixed-floor total is compared against the last
#: quiet-box recording. Quiet-box calibration (this box, load avg
#: <0.3, 3 sessions × min-of-12): sentinel min 0.15-0.22 s; floor
#: totals across quiet recordings: r12 0.877 s, r11 1.156 s.
SENTINEL_REF_S = 0.16  # quiet-box sentinel min
SENTINEL_CONTENDED_MULT = 2.0  # both pre+post mins above 2× ref → contended
#: Floor reference. r14 hand-recalibrated this 0.877 → 1.15 in the
#: same commit that cleared the gate — the r14 verdict (item 4)
#: flagged that a gate whose reference moves with the commit that
#: passes it has no independent anchor. The reference is therefore
#: now DERIVED from recorded history: the MIN fixed-floor total over
#: the last 3 rounds' BENCH_r{N}.json artifacts (the driver records
#: one per round; min-of-3 rejects a single contended round inflating
#: the reference, while a genuinely faster box lowers it within 3
#: rounds). The hand constant below survives only as a LOWER BOUND —
#: floors below it are favorable-draw outliers (r12's 0.877 was one;
#: quiet-box same-HEAD draws span 1.14–1.28 s), and an outlier must
#: not tighten the gate for every later round. No hand number can be
#: raised to pass a round anymore: raising FLOOR_REF_MIN_S only
#: matters when history reads BELOW it, i.e. when the gate would get
#: stricter, never looser.
FLOOR_REF_MIN_S = 0.877  # r12 quiet-box floor — historical minimum draw
FLOOR_REF_FALLBACK_S = 1.15  # no-history fallback (r14 quiet-box median)
FLOOR_CONTENDED_MULT = 1.5


def _floor_ref_from_history() -> tuple[float, list[str]]:
    """Derive the floor reference from the last 3 recorded rounds.

    Reads ``BENCH_r{N}.json`` artifacts beside this file (the driver
    records one per round; the payload sits either at top level or
    under a ``parsed`` wrapper), takes the min ``fixed_floor_total``
    over the newest 3 that carry one, and clamps from below by
    FLOOR_REF_MIN_S. Returns (reference_seconds, rounds_used) so the
    artifact can show its own provenance.
    """
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds: list[tuple[int, str, float]] = []
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        try:
            with open(path) as fh:
                doc = json.load(fh)
        except (OSError, ValueError):
            continue
        payload = doc.get("parsed", doc) if isinstance(doc, dict) else {}
        floor = (payload.get("scale") or {}).get("fixed_floor_total")
        if isinstance(floor, (int, float)) and floor > 0:
            rounds.append((int(m.group(1)), os.path.basename(path), float(floor)))
    rounds.sort()
    last3 = rounds[-3:]
    if not last3:
        return FLOOR_REF_FALLBACK_S, []
    ref = max(min(f for _, _, f in last3), FLOOR_REF_MIN_S)
    return round(ref, 4), [name for _, name, _ in last3]

#: Per-process JIT-draw variance is the bigger lever than any of the
#: above (r14 measurement: two quiet-box single-process headline
#: totals at the SAME HEAD read 2.45 s and 3.16 s — a ±15% band that
#: brackets both r12's 2.33 "good" and r13's 3.11 "regressed"
#: recordings). min-of-9 passes inside ONE process cannot escape a
#: slow whole-process compilation draw (the l14/q3-A/B lesson), so
#: the default recording now takes the per-query MIN over DRAWS
#: fresh subprocess sessions. The artifact keeps every draw's total.
DRAWS = int(os.environ.get("SPARK_GRAFT_BENCH_DRAWS", "2"))


def _sentinel_min(spark, passes: int = 9) -> float:
    """Min wall of a fixed 8-task shuffle+agg job — a pure load probe.

    The job is constant-size (1M synthetic longs, one exchange, one
    Arrow fetch) so its wall moves only with JVM/CPU contention, never
    with the corpus or the engine's plans.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    def run() -> None:
        (
            spark.range(0, 1 << 20, 1, 8)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.count("*").alias("c"))
            .toPandas()
        )

    run()  # one untimed pass: plan + codegen for the probe itself
    best = float("inf")
    for _ in range(passes):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _scale_story(spark, names: list[str]) -> dict:
    """The r10-verdict item-1 block: fixed-floor decomposition plus
    the pinned crossover curve and its machine-checked gate.

    The sf0.1 headline total measures mostly per-execution fixed
    cost (8 × ~0.15 s > the 2×-baseline bar before any data is
    read), so the recorded posture claim is the crossover CURVE —
    both engines fully re-executing over replicated corpora
    (SCALE_STORY.json, recorded per round by
    tools/engine_crossover.py) — with tools/scale_gate.py's rules
    (ratio<=1.0 at the largest factor, which must be >=300×; no
    turn-up past the crossover point; pipeline parity bound)
    evaluated right here so the driver's BENCH artifact carries the
    claim and its pass/fail together.
    """
    import time as _t

    out: dict = {}
    try:
        floors: dict[str, float] = {}
        for name in names:
            registry.QUERIES[name](spark, FLOOR_DIR).toPandas()  # warm
            best = float("inf")
            for _ in range(3):
                t0 = _t.perf_counter()
                registry.QUERIES[name](spark, FLOOR_DIR).toPandas()
                best = min(best, _t.perf_counter() - t0)
            floors[name] = round(best, 4)
        out["fixed_floor_per_query"] = floors
        out["fixed_floor_total"] = round(sum(floors.values()), 4)
        out["floor_dir"] = FLOOR_DIR
    except Exception as exc:  # noqa: BLE001 — floor is evidence, not a gate
        out["floor_error"] = str(exc)

    story_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SCALE_STORY.json"
    )
    if os.path.exists(story_path):
        try:
            sys.path.insert(
                0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
            )
            from scale_gate import evaluate  # noqa: PLC0415

            with open(story_path) as fh:
                doc = json.load(fh)
            failures, summary = evaluate(doc)
            out["crossover"] = summary
            out["crossover_gate"] = "fail" if failures else "pass"
            if failures:
                out["crossover_gate_failures"] = failures
        except Exception as exc:  # noqa: BLE001
            out["crossover_error"] = str(exc)
    else:
        out["crossover_gate"] = "missing: SCALE_STORY.json not recorded"
    return out


def _multi_draw() -> None:
    """Re-exec this script DRAWS times (single-draw worker mode) and
    merge: per-query min across draws, sentinel/floor mins, contended
    only if EVERY draw was contended (one clean draw means the min
    walls are trustworthy). Full-suite mode stays single-draw — its
    regression tool (suite_diff --recheck) has its own robust
    protocol, and doubling a ~15-minute run buys nothing."""
    import subprocess

    env = dict(os.environ, SPARK_GRAFT_BENCH_DRAWS="1")
    draws = []
    for _ in range(DRAWS):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            capture_output=True,
            text=True,
            env=env,
        )
        sys.stderr.write(proc.stderr)
        line = next(
            (ln for ln in reversed(proc.stdout.splitlines()) if ln.startswith("{")),
            None,
        )
        if proc.returncode != 0 or line is None:
            print(f"# DRAW FAILED rc={proc.returncode}", file=sys.stderr)
            continue
        draws.append(json.loads(line))
    if not draws:
        raise SystemExit("all bench draws failed")
    merged = dict(draws[0])
    merged["queries"] = {
        name: min(d["queries"][name] for d in draws if name in d["queries"])
        for name in draws[0]["queries"]
    }
    merged["value"] = round(sum(merged["queries"].values()), 4)
    merged["draw_totals"] = [d["value"] for d in draws]
    merged["contended"] = all(d.get("contended") for d in draws)
    sentinels = [d.get("load_sentinel", {}) for d in draws]
    if all(sentinels):
        merged["load_sentinel"] = {
            "pre_s": min(s["pre_s"] for s in sentinels),
            "post_s": min(s["post_s"] for s in sentinels),
            "ref_s": SENTINEL_REF_S,
            "floor_ref_s": sentinels[0].get("floor_ref_s"),
            "floor_ref_rounds": sentinels[0].get("floor_ref_rounds"),
            "sentinel_over": all(s["sentinel_over"] for s in sentinels),
            "floor_over": all(s["floor_over"] for s in sentinels),
        }
    floors = [
        d["scale"]["fixed_floor_total"]
        for d in draws
        if d.get("scale", {}).get("fixed_floor_total") is not None
    ]
    if floors and "scale" in merged:
        merged["scale"]["fixed_floor_total"] = min(floors)
    print(json.dumps(merged))


def main() -> None:
    if DRAWS > 1 and not FULL:
        _multi_draw()
        return
    registry.load_all()
    names = [n for n in HEADLINE if n in registry.QUERIES]
    skipped = [n for n in HEADLINE if n not in registry.QUERIES]
    if skipped:
        print(f"# SKIPPED (unregistered): {skipped}", file=sys.stderr)
    spark = get_spark("hetnetdb-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Results fetch via Arrow `toPandas()` — the engine's columnar
    # result path, and the like-for-like twin of the DuckDB
    # baseline's `fetchdf()` (both hand back a pandas frame).
    # Legacy `collect()` deserializes row-by-row into Row objects
    # and was costing ~0.6 s alone on the 9.5k-row sessionize
    # result — driver-fetch overhead, not query time.
    sentinel_pre = _sentinel_min(spark)
    for _ in range(3):  # warm-up passes: plan + JIT (C2) + page cache
        for name in names:
            registry.QUERIES[name](spark, SF_DIR).toPandas()
    best: dict[str, float] = {name: float("inf") for name in names}
    for _ in range(9):  # timed passes, round-robin across queries
        for name in names:
            fn = registry.QUERIES[name]
            t0 = time.perf_counter()
            fn(spark, SF_DIR).toPandas()
            best[name] = min(best[name], time.perf_counter() - t0)
    sentinel_post = _sentinel_min(spark)
    timings = {name: round(best[name], 4) for name in names}
    for name in names:
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    payload = {
        "metric": "headline_total_warm",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "skipped": skipped,
        "sf": _sf_from_dir(SF_DIR),
        # Self-report of the recording's compute, so a reader can rule
        # on a contention or core-count flag from the artifact alone.
        "cpus": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "codegen_cache_max_entries": int(
            spark.conf.get("spark.sql.codegen.cache.maxEntries")
        ),
    }
    payload["scale"] = _scale_story(spark, names)

    # Contention verdict: the sentinel catches load DURING the timed
    # passes; the fixed-floor total (measured by _scale_story on the
    # near-empty corpus) catches a slow box overall. Either signal
    # marks the artifact so a bad number reads as "contended
    # recording", not "plan regression".
    floor_total = payload["scale"].get("fixed_floor_total")
    floor_ref_s, floor_ref_rounds = _floor_ref_from_history()
    sentinel_over = min(sentinel_pre, sentinel_post) > (
        SENTINEL_REF_S * SENTINEL_CONTENDED_MULT
    )
    floor_over = (
        floor_total is not None
        and floor_total > floor_ref_s * FLOOR_CONTENDED_MULT
    )
    payload["load_sentinel"] = {
        "pre_s": sentinel_pre,
        "post_s": sentinel_post,
        "ref_s": SENTINEL_REF_S,
        "floor_ref_s": floor_ref_s,
        "floor_ref_rounds": floor_ref_rounds,
        "sentinel_over": sentinel_over,
        "floor_over": floor_over,
    }
    payload["contended"] = bool(sentinel_over or floor_over)
    if payload["contended"]:
        print(
            "# WARNING: contended recording — sentinel "
            f"pre={sentinel_pre}s post={sentinel_post}s (quiet ref "
            f"{SENTINEL_REF_S}s), floor_total={floor_total}s (quiet ref "
            f"{floor_ref_s}s from {floor_ref_rounds or 'fallback'}). "
            "Timings unreliable; re-record on a quiet box.",
            file=sys.stderr,
        )

    if FULL:
        suite: dict[str, float] = {}
        rest = [
            n
            for n in registry.QUERIES
            if n not in HEADLINE and n not in registry.IMPURE
        ]
        first_warm: dict[str, float] = {}
        for name in rest:
            fn = registry.QUERIES[name]
            try:
                fn(spark, SF_DIR).toPandas()  # cold
                # Symmetric best-of-2 for EVERY entry (ADVICE r11):
                # the old rule retried only entries whose first warm
                # wall exceeded 2.0 s, biasing slow entries downward
                # relative to fast ones measured once — suite totals
                # across rounds weren't apples-to-apples. Warm-up on
                # the heavier queries is bimodal (C2 settles late:
                # r11 saw l02_simhash read 4.1 s first-warm vs 1.15 s
                # steady-state), so both walls are recorded — `suite`
                # carries best-of-2, `suite_first_warm` the first
                # warm pass, so the artifact shows the adjudication.
                t0 = time.perf_counter()
                fn(spark, SF_DIR).toPandas()
                warm1 = time.perf_counter() - t0
                t0 = time.perf_counter()
                fn(spark, SF_DIR).toPandas()
                warm = min(warm1, time.perf_counter() - t0)
                first_warm[name] = round(warm1, 4)
                suite[name] = round(warm, 4)
            except Exception as exc:  # noqa: BLE001 — record, keep going
                print(f"# FULL-SUITE FAIL {name}: {exc}", file=sys.stderr)
                suite[name] = -1.0
                first_warm[name] = -1.0
            print(f"# {name}: {suite[name]:.3f}s", file=sys.stderr)
        payload["suite"] = suite
        payload["suite_first_warm"] = first_warm
        payload["suite_total_warm"] = round(
            sum(v for v in suite.values() if v > 0), 4
        )

    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
