"""The repository's benchmark: one command for two workloads.

    python3 perfbench/run.py --workload olap-headline --seed 1 --seconds 14 --trace 0

Workloads (inputs are generated from ``--seed`` by ``datagen.py``):

- ``olap-headline``: the eight headline queries at sf0.1, one
  closed-loop client running round-robin passes in one process;
- ``serve-mixed``: ``tools/serve.py`` as its own process at sf0.001,
  driven over HTTP by two closed-loop clients (``serve_load.py``).

End-to-end metrics, reported by every workload with ``--trace 0``:

- ``setup_s``: engine start until the first timed operation:
  ``get_spark`` + ``load_all`` (+ ``register_views`` for serve) + the
  first, cold invocation of every query in the set;
- ``latency_p50_s``: median latency of the workload's unit of work:
  one round-robin pass over the query set, each query a fresh
  QueryExecution with its Arrow fetch (olap), or one pure ``/run``
  request timed at the client (serve);
- ``req_per_s``: operations (query invocations, or HTTP requests)
  completed per second over the timed window.

Each run warms up before it times: the JVM is still compiling Spark's
code paths for the first minute, and pass walls fall by a third over
the first few passes. Batch runs make ``warmup_passes`` untimed passes,
then time the number of whole passes nearest to ``--seconds`` (at
least three). Serve runs warm up for ``warmup_s``, then time whole
copies of the fixed request list, as many as fit ``--seconds`` at the
warm-up's request rate (at least one), so every run times the same
requests. ``--trace 1`` halves the timed window and follows it with as
many traced passes (or copies), then reports the per-layer metrics
instead (``PER_LAYER``). Among them are the operation latency
``req_p50_s`` and ``req_tail_s`` (the highest percentile with at least
ten samples beyond it, with that percentile and the sample count), and
``peak_rss_mb``, the summed peak resident memory of the engine's
processes (Python driver, Spark JVM, Python workers). They are not
end-to-end metrics because they do not repeat across seeds: over five
seeds their spread (quartile distance over median) read 12-20% for
latency and 17-37% for memory, which follows the JVM's heap growth.

Outputs are checked in the same command: each query's first result
against its DuckDB oracle, every later row count against the first,
and every HTTP answer's ``n`` against DuckDB. Any failure makes the
command exit 1. The last stdout line is the JSON result; a full report
(environment, per-query numbers, construction job counts) is written
to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import batch  # noqa: E402
import common  # noqa: E402
import datagen  # noqa: E402
from common import ROOT  # noqa: E402

WORKLOADS = {
    "olap-headline": {"sf": 0.1, "warmup_passes": 3},
    "serve-mixed": {"sf": 0.001, "warmup_s": 8.0},
}

#: Every per-layer metric, in the order BENCHMARK.json lists them. A
#: traced run reports all of them on every workload; a layer the
#: workload does not exercise, or does not show the harness, reads 0
#: (serve's cold builds run inside its untraced set-up requests).
PER_LAYER = [
    "session.get_spark_s", "registry.load_all_s", "registry.build_cold_s",
    "registry.construct_jobs", "registry.build_warm_s", "registry.self_s",
    "catalog.register_views_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s", "catalyst.self_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.busy_s", "exec.executor_run_s",
    "exec.executor_cpu_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.failed_tasks",
    "sched.gap_s", "fetch.s", "fetch.rows",
    "serve.run_pure_p50_s", "serve.sql_p50_s", "serve.upload_p50_s", "serve.run_impure_p50_s",
    "req_p50_s", "req_tail_s", "req_tail_pct", "req_samples", "peak_rss_mb", "fail_frac",
    "trace.op_wall_s", "trace.overhead_s", "trace.violations",
] + [f"query.{n}.{m}" for n in batch.HEADLINE for m in ("p50_s", "construct_jobs")]

#: A run must end well inside the 180 s a run is allowed.
CHILD_TIMEOUT_S = 160


def _stop_group(proc: subprocess.Popen, grace: float = 30) -> None:
    """Stop ``proc`` and everything in its process group (the Spark JVM,
    Python workers) and wait until the group is gone."""
    if proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            pass
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)
    proc.wait()


def _source_digest() -> str:
    """Commit if the tree is a git checkout, else a hash of the engine
    sources, so a result names the code it measured."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    import hashlib  # noqa: PLC0415

    h = hashlib.sha1()
    for base in ("hetnetdb_spark", "tools"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def _batch(args, cfg, names, sf_dir, run_dir, env, report) -> dict:
    # A traced run splits its window between timed and traced passes.
    seconds = args.seconds / 2 if args.trace else args.seconds
    out = os.path.join(run_dir, "worker.json")
    cmd = [sys.executable, os.path.join(HERE, "batch.py"), "--queries", ",".join(names),
           "--sf-dir", sf_dir, "--warmup", str(cfg["warmup_passes"]), "--seconds", str(seconds),
           "--out", out]
    if args.trace:
        cmd += ["--trace-out", report["trace_file"]]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, start_new_session=True,
                            stdout=sys.stderr)
    report["child_pids"].append(proc.pid)
    try:
        proc.wait(timeout=CHILD_TIMEOUT_S - (time.perf_counter() - report["t_start"]))
    finally:
        _stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"batch worker failed (exit {proc.returncode})")
    with open(out) as fh:
        res = json.load(fh)
    report["env"].update(res.pop("env"))
    errors = [f"{n}: {m}" for n, m in res["oracle_failures"].items()]
    ops = res["op_walls"]
    untraced_s = sum(p["wall"] for p in res["passes"] if p["kind"] == "timed")
    e2e = {
        "setup_s": res["setup_s"],
        "latency_p50_s": res["pass_s"],
        "req_per_s": len(ops) / untraced_s,
    }
    report.update(passes=res["passes"], cold=res["cold"], query_p50=res["query_p50"],
                  construct_jobs=res["construct_jobs"])
    layers = _latency_layers(ops, report)
    layers["peak_rss_mb"] = res["peak_rss_mb"]
    if args.trace:
        layers.update(_layers_from_records(res["records"]))
        layers.update(res["layers_setup"])
        layers["registry.construct_jobs"] = sum(res["construct_jobs"].values())
        layers["trace.overhead_s"] = res["traced_pass_s"] - res["pass_s"]
        layers["trace.violations"] = res["trace_violations"]
        for n in names:
            layers[f"query.{n}.p50_s"] = res["query_p50"][n]
            layers[f"query.{n}.construct_jobs"] = res["construct_jobs"][n]
    return {"e2e": e2e, "layers": layers, "attempted": res["attempted"] + len(names),
            "failed": res["failed"] + len(errors), "errors": errors}


def _latency_layers(latencies: list[float], report: dict) -> dict:
    """Per-operation latency: median, and the tail at the highest
    percentile with at least ten samples beyond it, with that percentile
    and the sample count. A batch run times a few dozen invocations of
    eight different queries, so both statistics jump between queries
    from run to run; they are reported from the traced run only."""
    value, pct, beyond = common.tail(latencies)
    report.update(tail_percentile=pct, tail_beyond=beyond, samples=len(latencies))
    return {"req_p50_s": common.median(latencies), "req_tail_s": value,
            "req_tail_pct": pct, "req_samples": len(latencies)}


def _layers_from_records(records: list[dict]) -> dict:
    """Per-operation means of the traced invocations' layer numbers."""
    n = max(len(records), 1)

    def mean(f):
        return sum(f(r) for r in records) / n

    out = {
        "registry.build_warm_s": mean(lambda r: r["build_s"]),
        "registry.self_s": mean(lambda r: r["layers"].get("registry", 0.0)),
        "catalyst.self_s": mean(lambda r: r["layers"].get("catalyst", 0.0)),
        "exec.busy_s": mean(lambda r: r["layers"].get("exec", 0.0)),
        "sched.gap_s": mean(lambda r: r["layers"].get("sched", 0.0)),
        "fetch.s": mean(lambda r: r["layers"].get("fetch", 0.0)),
        "fetch.rows": mean(lambda r: r["fetch_rows"]),
        "trace.op_wall_s": mean(lambda r: r["wall"]),
    }
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_s"] = mean(lambda r, ph=ph: r["phases"].get(ph, 0.0))
    for k, name in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                    ("run_s", "executor_run_s"), ("cpu_s", "executor_cpu_s"),
                    ("shuffle_read_bytes", "shuffle_read_bytes"),
                    ("shuffle_write_bytes", "shuffle_write_bytes"),
                    ("spill_bytes", "spill_bytes"), ("failed_tasks", "failed_tasks")):
        out[f"exec.{name}"] = mean(lambda r, k=k: r["exec"][k])
    return out


def _serve(args, cfg, sf_dir, run_dir, env, report) -> dict:
    import serve_load  # noqa: PLC0415

    from hetnetdb_spark import registry  # noqa: PLC0415

    registry.load_all()
    con = common.duck(sf_dir)
    n_orders = con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    plan = serve_load.plan(args.seed, con, registry.ORACLE, n_orders)
    con.close()

    cmd = [sys.executable, os.path.join(HERE, "serve_host.py"), "--sf-dir", sf_dir]
    if args.trace:
        cmd += ["--trace-out", os.path.join(run_dir, "serve_trace.json")]
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, start_new_session=True,
                            stdout=subprocess.PIPE, text=True)
    report["child_pids"].append(proc.pid)
    try:
        # A host that hangs before it is ready is killed, which ends the
        # read with an empty line.
        timer = threading.Timer(CHILD_TIMEOUT_S - 40, proc.kill)
        timer.start()
        ready = json.loads(proc.stdout.readline() or "null")
        timer.cancel()
        if not ready:
            raise RuntimeError(f"serve host exited before it was ready (exit {proc.wait()})")
        load = serve_load.Load(f"http://127.0.0.1:{ready['port']}", plan)
        cold = load.cold()
        setup_s = time.perf_counter() - t0
        warm, warm_s = load.warm(cfg["warmup_s"])
        # A traced run splits its window between timed and traced copies.
        seconds = args.seconds / 2 if args.trace else args.seconds
        # As many copies as the warm-up's rate fits in ``seconds``.
        copies = max(1, round(seconds * len(warm) / max(warm_s, 1e-9) / len(plan["requests"])))
        recs, window_s = load.window(copies)
        traced_recs = []
        if args.trace:
            proc.send_signal(signal.SIGUSR1)
            traced_recs, _ = load.window(copies)
        peak = common.tree_peak_rss_mb(proc.pid)
    finally:
        _stop_group(proc)
    report["env"].update({k: ready[k] for k in ("master", "default_parallelism", "pyspark", "java")})

    errors = [r["error"] for r in cold + warm + recs + traced_recs if r["error"]]
    lat = [r["latency"] for r in recs]

    def p50(rs, **match):
        return common.median([r["latency"] for r in rs
                              if all(r[k] == v for k, v in match.items())])

    pure_p50 = {n: p50(recs, name=n) for n in serve_load.PURE}
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": p50(recs, kind="run_pure"),
        "req_per_s": len(recs) / window_s,
    }
    report.update(query_p50=pure_p50, copies=copies,
                  cold=[{k: r[k] for k in ("name", "latency")} for r in cold],
                  mix={k: sum(r["kind"] == k for r in recs)
                       for k in ("run_pure", "sql", "upload", "run_impure")})
    layers = _latency_layers(lat, report)
    layers["peak_rss_mb"] = peak
    if args.trace:
        with open(os.path.join(run_dir, "serve_trace.json")) as fh:
            host_recs = json.load(fh)
        shutil.copy(os.path.join(run_dir, "serve_trace.json"), report["trace_file"])
        layers.update(_layers_from_serve(host_recs))
        layers.update(ready["layers"])
        layers["trace.overhead_s"] = p50(traced_recs, kind="run_pure") - e2e["latency_p50_s"]
        layers.update({
            "serve.run_pure_p50_s": p50(recs, kind="run_pure"),
            "serve.sql_p50_s": p50(recs, kind="sql"),
            "serve.upload_p50_s": p50(recs, kind="upload"),
            "serve.run_impure_p50_s": p50(recs, kind="run_impure"),
        })
        for n in serve_load.PURE:
            layers[f"query.{n}.p50_s"] = pure_p50[n]
    attempted = len(cold) + len(warm) + len(recs) + len(traced_recs)
    return {"e2e": e2e, "layers": layers, "attempted": attempted,
            "failed": len(errors), "errors": errors}


def _layers_from_serve(records: list[dict]) -> dict:
    """Per-request means over the traced requests. A request's server
    wall is split into registry build, executor-busy time, the fetch
    after its last job, Catalyst (phase times of its plan) and the rest
    (HTTP handling, lock waits, scheduling), charged to ``sched``."""
    rows = []
    for r in records:
        wall = r["wall"]
        exec_s = min(r["exec_union_s"], wall)
        fetch_s = min(r["fetch_s"], wall - exec_s)
        build_s = min(r["build_s"], wall - exec_s - fetch_s)
        cat_s = min(sum(r["phases"].values()), wall - exec_s - fetch_s - build_s)
        rows.append({
            "wall": wall, "build_s": r["build_s"], "phases": r["phases"], "exec": r["exec"],
            "fetch_rows": 0, "build_jobs": r["build_jobs"],
            "layers": {"registry": build_s, "catalyst": cat_s, "exec": exec_s,
                       "fetch": fetch_s, "sched": wall - exec_s - fetch_s - build_s - cat_s},
        })
    out = _layers_from_records(rows)
    out["registry.construct_jobs"] = sum(r["build_jobs"] for r in rows)
    out["trace.violations"] = sum(
        1 for r in records for s in r["stages"]
        if s["start"] < r["start"] - 0.002 or s["end"] > r["end"] + 0.002)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="hetnetdb_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs, no warm-up, the fewest timed passes: "
                         "a fast check that every metric is emitted")
    args = ap.parse_args()

    for rel in ("hetnetdb_spark/registry.py", "tools/serve.py", "tests/oracle_compare.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            print(f"perfbench: engine source {rel} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    cfg = WORKLOADS[args.workload]
    if args.smoke:
        cfg = dict(cfg, sf=0.001, warmup_passes=0, warmup_s=0.0)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(ROOT, ".bench_run", f"{tag}-p{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    sf_dir = os.path.join(run_dir, "data")
    tmp_dir = os.path.join(run_dir, "tmp")
    for d in (tmp_dir, out_dir):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp_dir,
        # Keep JVM temp files (and no hsperfdata in /tmp) inside the run dir.
        PYSPARK_SUBMIT_ARGS=(f"--driver-java-options '-Djava.io.tmpdir={tmp_dir} "
                             "-XX:-UsePerfData' pyspark-shell"),
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "t_start": time.perf_counter(), "child_pids": [],
        "trace_file": os.path.join(out_dir, f"{tag}-spans.json"),
        "env": {"nproc": cpus, "spark_graft_cpus": cpus, "sf": cfg["sf"],
                "loadavg_before": os.getloadavg(), "source": _source_digest()},
    }
    try:
        report["tables"] = datagen.generate(sf_dir, cfg["sf"], args.seed)
        if args.workload == "serve-mixed":
            res = _serve(args, cfg, sf_dir, run_dir, env, report)
        else:
            res = _batch(args, cfg, batch.HEADLINE, sf_dir, run_dir, env, report)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        for pid in report["child_pids"]:
            shutil.rmtree(os.path.join(ROOT, ".scratch", f"pid{pid}"), ignore_errors=True)
    report["env"]["loadavg_after"] = os.getloadavg()
    report["wall_s"] = time.perf_counter() - report.pop("t_start")

    e2e, layers = res["e2e"], res["layers"]
    layers["fail_frac"] = res["failed"] / res["attempted"]
    units = {"setup_s": "s", "latency_p50_s": "s", "req_per_s": "1/s"}
    metrics = (
        {k: {"value": v, "unit": units[k]} for k, v in e2e.items()} if not args.trace
        else {k: {"value": layers.get(k, 0.0), "unit": _layer_unit(k)} for k in PER_LAYER}
    )
    correct = res["failed"] == 0
    report.update(e2e=e2e, layers=layers, errors=res["errors"][:50], correct=correct)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    for err in res["errors"][:20]:
        print(f"perfbench: FAIL {err}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} nproc={cpus} "
          f"master={report['env'].get('master')} wall={report['wall_s']:.1f}s "
          f"samples={report['samples']} tail=p{report['tail_percentile']:.0f}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


def _layer_unit(name: str) -> str:
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s") or name == "fetch.s":
        return "s"
    if name == "fail_frac":
        return "ratio"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
