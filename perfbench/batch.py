"""Closed-loop batch workload: one client runs round-robin passes over
a fixed query set through the registry, in this process.

    python perfbench/batch.py --queries q1,q3 --sf-dir DIR --warmup 3 --seconds 14 --out FILE

``run.py`` starts it as its own process group and reads FILE.

Every engine call goes through a public entry point
(``session.get_spark``, ``registry.load_all``, ``registry.QUERIES``,
``DataFrame.toPandas``) and is timed from outside.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import common
import spans as tr

#: bench.py's headline set (the analytic path compared against DuckDB).
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

#: Fewest timed passes a run makes, however slow the machine.
MIN_PASSES = 3


def run(names: list[str], sf_dir: str, warmup_passes: int, seconds: float, traced: bool,
        tracer: tr.Tracer) -> dict:
    """Set up, run ``warmup_passes`` untimed passes, run timed passes for
    about ``seconds``, and return timings, row counts and (when
    ``traced``) per-invocation layer records.

    Warm-up is counted in passes, not seconds, so every run times the
    engine after the same number of executions, whatever the machine's
    speed; the timed window runs the number of whole passes that comes
    nearest to ``seconds`` (at least ``MIN_PASSES``). With
    ``traced``, the timed passes are followed by as many traced ones, so
    the run measures its own tracing overhead.
    """
    t_setup = t = time.perf_counter()
    from hetnetdb_spark import registry  # noqa: PLC0415
    from hetnetdb_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t
    t = time.perf_counter()
    registry.load_all()
    load_all_s = time.perf_counter() - t

    sc = spark.sparkContext
    cold: dict[str, dict] = {}
    results = {}
    for name in names:
        if traced:
            sc.setJobGroup(f"cold-{name}-build", name)
        t0 = time.perf_counter()
        df = registry.QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        if traced:
            sc.setJobGroup(f"cold-{name}-action", name)
        pdf = df.toPandas()
        t2 = time.perf_counter()
        cold[name] = {"build_s": t1 - t0, "action_s": t2 - t1, "rows": len(pdf)}
        results[name] = pdf
    setup_s = time.perf_counter() - t_setup

    stats = tr.SparkStats(sc) if traced else None
    walls: dict[str, list[float]] = {n: [] for n in names}
    done: list[dict] = []
    count = {"attempted": 0, "failed": 0}
    records: list[dict] = []
    root = tracer.span("workload", "workload", time.time(), time.time()) if traced else None

    def one_pass(pid: int, kind: str) -> float:
        """Invoke every query once, check its row count and return the
        pass wall. ``kind`` is ``warmup`` (not recorded), ``timed`` or
        ``traced``."""
        traced_pass = kind == "traced"
        pass_wall = 0.0
        pass_t0 = time.time()
        pending = []
        for name in names:
            count["attempted"] += 1
            gid = f"p{pid}-{name}"
            if traced_pass:
                # jobs started while building stay out of the action's group
                sc.setJobGroup(gid + "-build", name)
            e0 = time.time()
            b0 = time.perf_counter()
            try:
                df = registry.QUERIES[name](spark, sf_dir)
                b1 = time.perf_counter()
                e1 = time.time()
                if traced_pass:
                    sc.setJobGroup(gid + "-action", name)
                rows = len(df.toPandas())
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                count["failed"] += 1
                print(f"# {name}: {type(exc).__name__}: {exc}"[:400], flush=True)
                continue
            b2 = time.perf_counter()
            e2 = time.time()
            if rows != cold[name]["rows"]:
                count["failed"] += 1
                print(f"# {name}: {rows} rows, first run gave {cold[name]['rows']}", flush=True)
            wall = b2 - b0
            if kind == "timed":
                walls[name].append(wall)
            pass_wall += wall
            if traced_pass:
                pending.append((name, gid, df, e0, e1, e2, rows, b1 - b0))
        done.append({"wall": pass_wall, "kind": kind})
        if pending:
            pspan = tracer.span(f"pass {pid}", "pass", pass_t0, time.time(), parent=root)
            stats.drain()
            for name, gid, df, e0, e1, e2, rows, build_s in pending:
                rec = tr.attribute(tracer, len(records) + 1, pspan, name, e0, e1, e2, rows,
                                   stats.group(gid + "-action"), tr.phases(df))
                rec["name"] = name
                rec["build_s"] = build_s
                records.append(rec)
        return pass_wall

    for pid in range(warmup_passes):
        one_pass(pid, "warmup")
    pid = warmup_passes
    # Whole passes, as many as come nearest to ``seconds``.
    t = time.perf_counter()
    wall = 0.0
    while pid - warmup_passes < MIN_PASSES or time.perf_counter() - t + wall / 2 < seconds:
        wall = one_pass(pid, "timed")
        pid += 1
    for _ in range(pid - warmup_passes if traced else 0):
        one_pass(pid, "traced")
        pid += 1

    construct_jobs = {}
    if traced:
        tracer.finish(root, time.time())
        stats.drain()
        construct_jobs = {
            n: len(sc.statusTracker().getJobIdsForGroup(f"cold-{n}-build")) for n in names
        }
    ops = [w for ws in walls.values() for w in ws]
    untraced = [p["wall"] for p in done if p["kind"] == "timed"]
    traced_walls = [p["wall"] for p in done if p["kind"] == "traced"]
    return {
        "spark": spark,
        "results": results,
        "setup_s": setup_s,
        "layers_setup": {
            "session.get_spark_s": get_spark_s,
            "registry.load_all_s": load_all_s,
            "registry.build_cold_s": sum(c["build_s"] for c in cold.values()),
        },
        "cold": cold,
        "construct_jobs": construct_jobs,
        "pass_s": common.median(untraced),
        "traced_pass_s": common.median(traced_walls),
        "passes": done,
        "op_walls": ops,
        "query_p50": {n: common.median(ws) for n, ws in walls.items()},
        "attempted": count["attempted"],
        "failed": count["failed"],
        "records": records,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--queries", required=True, help="comma-separated registry names")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--warmup", type=int, required=True, help="warm-up passes")
    ap.add_argument("--seconds", type=float, required=True, help="timed seconds")
    ap.add_argument("--out", required=True, help="JSON summary file")
    ap.add_argument("--trace-out", default="", help="span file; enables tracing")
    args = ap.parse_args()
    names = args.queries.split(",")
    tracer = tr.Tracer()
    res = run(names, args.sf_dir, args.warmup, args.seconds, bool(args.trace_out), tracer)
    spark = res.pop("spark")
    results = res.pop("results")
    res["peak_rss_mb"] = common.tree_peak_rss_mb(os.getpid())

    from hetnetdb_spark import registry  # noqa: PLC0415

    con = common.duck(args.sf_dir)
    res["oracle_failures"] = {}
    for name in names:
        msg = common.oracle_mismatch(name, results[name], registry.ORACLE[name], con)
        if msg:
            res["oracle_failures"][name] = msg
    con.close()

    sc = spark.sparkContext
    import pyspark  # noqa: PLC0415

    res["env"] = {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
    }
    if args.trace_out:
        tracer.write(args.trace_out)
        res["trace_violations"] = tracer.violations
    jvm = sc._gateway.proc
    spark.stop()
    jvm.terminate()
    jvm.wait(timeout=60)
    with open(args.out, "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
