"""Fresh-process timing harness: every A/B and every scale measurement.

Protocol: each draw is ONE fresh subprocess that builds ONE arm from a
spec, runs it cold once, then min-of-3 timed passes (fresh
QueryExecution / fresh DuckDB execute per pass, result fetched to
pandas: Arrow ``toPandas()`` for Spark, ``fetchdf()`` for DuckDB).
Arms alternate across subprocesses (A B A B ...) so box drift lands
on both arms. Reported per arm: per-process [cold, min3] plus the min
across processes — the recorded protocol number.

Why a fresh process per draw: ``spark.stop()`` is not isolation. The
py4j JVM survives a session stop, heap and JIT state included, so a
second session in the same process inherits warm-up the first one
paid for (and a heap the first one churned).

Why the min over several processes: a JVM's interpreted-expression
hot path is subject to profile pollution — whether the megamorphic
eval call sites inline the right concrete classes is decided by early
profiling order and is then STICKY for process lifetime. Measured on
l14 (higher-order fold, identical plan, fresh process each): 300x
walls flapped 2.2-2.5 s <-> 13.9-15.1 s across processes and NEVER
transitioned within one (8 warm passes stayed slow). Min over N
fresh processes is the honest estimator of the plan's cost; the flap
itself is recorded data (every draw is printed).

Usage:
    python tools/ab_fresh.py PROCS_PER_ARM SPEC [SPEC ...]
    python tools/ab_fresh.py --worker SPEC        (internal)

A SPEC is one of
    registry:<name>    a registered query, built at $SPARK_GRAFT_SF_DIR
                       (default: the sf0.1 fixtures);
    duck:<name>        the same query's registered oracle SQL, run by
                       DuckDB over views on the parquet files at
                       $SPARK_GRAFT_SF_DIR;
    module:function    any module importable from PYTHONPATH, the
                       repo root or tools/, whose function takes the
                       SparkSession and returns the DataFrame to time.

SPEC examples: registry:j14_interval_overlap_join  duck:q1_pricing_summary
               my_variants:j14_join

For where one variant's time goes (build, Catalyst, executor stages,
scheduling, fetch), run it through perfbench/batch.py --trace-out.
"""

from __future__ import annotations

import gc
import importlib
import json
import os
import subprocess
import sys
import time
from time import perf_counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import grown  # noqa: E402

#: Where registry: and duck: specs read their tables.
SF_DIR = grown.BASE

#: Runaway cap, applied SYMMETRICALLY to every arm (Spark and DuckDB
#: alike): an arm whose COLD run exceeds it records that cold wall,
#: flagged "capped", instead of burning 3 more runs. A cold wall
#: overstates an arm's warm cost (page cache, and for Spark JIT
#: warm-up), so the rule must bind every arm alike: r10's cap covered
#: DuckDB only and was made symmetric in r12.
CAP_S = 900


def time_passes(run, between=lambda: None):
    """Cold pass, then min-of-3, calling ``between()`` between passes
    (outside every timed region). Returns (walls, last result), where
    walls has ``cold``, ``min3`` (None when capped), ``capped`` and
    ``wall`` — min3, or the cold wall when capped."""
    t0 = perf_counter()
    result = run()
    cold = perf_counter() - t0
    if cold > CAP_S:
        return {"cold": round(cold, 4), "min3": None, "capped": True, "wall": round(cold, 4)}, result
    best = float("inf")
    for _ in range(3):
        between()
        t0 = perf_counter()
        result = run()
        best = min(best, perf_counter() - t0)
    walls = {"cold": round(cold, 4), "min3": round(best, 4), "capped": False}
    return {**walls, "wall": walls["min3"]}, result


def reap_shuffles(spark) -> None:
    """Force a JVM GC between passes so the ContextCleaner reaps each
    pass's shuffle files. At the 300x documents corpus one l68
    execution leaves ~19 GB of shuffle files; without this, 4 passes
    in one context accumulate ~75 GB (the heap never pressures, so
    GC — and therefore shuffle cleanup — never runs) and the worker
    dies on spill ENOSPC even though every single execution fits
    comfortably (git 3ec1346). Python gc first (py4j holds JVM-side
    QueryExecution refs until the Python wrappers die), then two JVM
    GCs with a pause — the first enqueues the ContextCleaner work,
    the pause lets it drain."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(3)
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)


def _duck(name: str) -> dict:
    import duckdb  # noqa: PLC0415

    from hetnetdb_spark import registry  # noqa: PLC0415
    from hetnetdb_spark.schemas import TABLE_NAMES  # noqa: PLC0415

    registry.load_all()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        src = path if os.path.isfile(path) else os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    sql = registry.ORACLE[name]
    walls, _ = time_passes(lambda: con.execute(sql).fetchdf())
    con.close()
    return walls


def _spark(mod_name: str, fn_name: str) -> dict:
    from hetnetdb_spark import registry  # noqa: PLC0415
    from hetnetdb_spark.session import get_spark  # noqa: PLC0415

    registry.load_all()
    if mod_name == "registry":
        fn = registry.QUERIES[fn_name]
        build = lambda spark: fn(spark, SF_DIR)  # noqa: E731
    else:
        build = getattr(importlib.import_module(mod_name), fn_name)
    spark = get_spark(f"ab-{fn_name}")
    spark.sparkContext.setLogLevel("ERROR")
    walls, _ = time_passes(lambda: build(spark).toPandas(), lambda: reap_shuffles(spark))
    spark.stop()
    return walls


def _worker(spec: str) -> int:
    mod_name, fn_name = spec.split(":")
    walls = _duck(fn_name) if mod_name == "duck" else _spark(mod_name, fn_name)
    print(json.dumps({"spec": spec, **walls}))
    return 0


def draws(specs: list[str], procs: int, env: dict | None = None) -> dict[str, list[dict]]:
    """``procs`` fresh-process draws per spec, arms alternating within
    each round, ``env`` added to every child's environment. Returns
    spec -> records: ``spec``, ``cold``, ``min3``, ``capped``,
    ``wall``; a failed draw records ``error`` instead and the other
    draws go on (one leg must not sink the run: r12's OOM in the 300x
    l02 leg lost four factors of data).

    Cap rule: an arm stops drawing only while NO draw of it is
    uncapped. r14's l02 leg showed why an unconditional stop is
    wrong: proc 1 measured 71.3 s warm, proc 2's COLD run hit the cap
    (a cold wall — page cache + JIT, not a plan cost), and stopping
    there suppressed proc 3, leaving a "bimodal" artifact built from
    one warm min and one cold draw. With an uncapped min in hand,
    later capped draws are recorded data, not a reason to abandon
    the min-of-N protocol."""
    child_env = {**os.environ, **(env or {})}
    out: dict[str, list[dict]] = {s: [] for s in specs}
    for i in range(procs):
        for spec in specs:
            done = [r for r in out[spec] if "error" not in r]
            if done and all(r["capped"] for r in done):
                continue
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker", spec],
                capture_output=True, text=True, check=False, cwd=REPO, env=child_env,
            )
            lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
            if lines:
                rec = json.loads(lines[-1])
                print(f"draw {i} {spec}: cold {rec['cold']} min3 {rec['min3']}"
                      + (" capped" if rec["capped"] else ""), flush=True)
            else:
                tail = proc.stderr.strip().splitlines()
                rec = {"spec": spec, "error": tail[-1][:200] if tail else "worker died"}
                print(f"WORKER FAIL {spec}: {proc.stderr[-500:]}", file=sys.stderr, flush=True)
            out[spec].append(rec)
    return out


def best(recs: list[dict]) -> float | None:
    """The recorded protocol number: min wall over successful draws."""
    walls = [r["wall"] for r in recs if "error" not in r]
    return min(walls) if walls else None


def main() -> int:
    if sys.argv[1] == "--worker":
        return _worker(sys.argv[2])
    for spec, recs in draws(sys.argv[2:], int(sys.argv[1])).items():
        walls = [r.get("wall") for r in recs]
        b = best(recs)
        print(f"{spec}: min {b:.3f}  all {walls}" if b is not None else f"{spec}: no draw  all {walls}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
