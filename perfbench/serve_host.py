"""Run ``tools/serve.py`` as its own process, timing its set-up layers.

    python perfbench/serve_host.py --sf-dir DIR [--trace-out FILE]

Wraps ``session.get_spark``, ``registry.load_all`` and
``catalog.register_views`` with timers before ``serve.serve`` builds
the app, binds an ephemeral port and prints one JSON line (port, layer
times, environment). SIGTERM shuts the server down and stops Spark.

With ``--trace-out``, SIGUSR1 switches tracing on: from then, each POST
runs under its own Spark job group and the host records, after the
response is sent, the request's stages, job count and Catalyst phase times (the phases of the request's plan,
planned once more after the response, since the served plan's own
query execution is internal to ``serve.py``). The records are written
to FILE at shutdown.
"""

from __future__ import annotations

import argparse
import functools
import itertools
import json
import os
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import serve as serve_mod  # noqa: E402  (tools/serve.py)
import spans as tr  # noqa: E402
from hetnetdb_spark import catalog, registry, session  # noqa: E402

LAYERS: dict[str, float] = {}


def _timed(module, attr: str, key: str) -> None:
    fn = getattr(module, attr)

    @functools.wraps(fn)
    def wrapper(*a, **kw):
        t = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            LAYERS[key] = LAYERS.get(key, 0.0) + time.perf_counter() - t

    setattr(module, attr, wrapper)


def _traced_handler(sc, records: list, lock: threading.Lock):
    stats = tr.SparkStats(sc)
    ids = itertools.count(1)
    local = threading.local()

    def timed_query(name, fn):
        # Registry builds run under their own job group, so jobs started
        # while a query is constructed are counted apart from its action.
        @functools.wraps(fn)
        def wrapper(spark, sf_dir):
            gid = getattr(local, "gid", None)
            if gid:
                sc.setJobGroup(gid + "-build", name)
            t = time.perf_counter()
            try:
                return fn(spark, sf_dir)
            finally:
                local.build_s = time.perf_counter() - t
                if gid:
                    sc.setJobGroup(gid, name)

        return wrapper

    for name in list(registry.QUERIES):
        registry.QUERIES[name] = timed_query(name, registry.QUERIES[name])

    class Traced(serve_mod._Handler):
        def _df_payload(self, df):
            local.df = df
            return super()._df_payload(df)

        def do_POST(self):
            gid = f"req{next(ids)}"
            local.gid, local.df, local.build_s = gid, None, 0.0
            sc.setJobGroup(gid, self.path)
            t0 = time.time()
            try:
                super().do_POST()
            finally:
                t1 = time.time()
                local.gid = None
            df = local.df
            ph = {}
            if df is not None:
                df._jdf.queryExecution().executedPlan()
                ph = {k: e - s for k, (s, e) in tr.phases(df).items()}
            stats.drain()
            g = stats.group(gid)
            rec = {
                "path": self.path, "start": t0, "end": t1, "wall": t1 - t0,
                "build_s": local.build_s,
                "build_jobs": len(sc.statusTracker().getJobIdsForGroup(gid + "-build")),
                "phases": ph, "exec": tr.exec_totals(g),
                "exec_union_s": tr.union_length(
                    [(max(s["start"], t0), min(s["end"], t1)) for s in g["stages"]
                     if s["end"] > t0 and s["start"] < t1]),
                "stages": g["stages"],
            }
            ends = [j["end"] for j in g["jobs"] if j["end"] is not None]
            rec["fetch_s"] = max(0.0, t1 - max(ends)) if ends else 0.0
            with lock:
                records.append(rec)

    return Traced


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--trace-out", default="")
    args = ap.parse_args()

    _timed(session, "get_spark", "session.get_spark_s")
    _timed(registry, "load_all", "registry.load_all_s")
    _timed(catalog, "register_views", "catalog.register_views_s")
    httpd = serve_mod.serve(args.sf_dir, 0)
    spark = serve_mod._Handler.spark
    sc = spark.sparkContext
    records: list[dict] = []

    def trace_on(*_):
        httpd.RequestHandlerClass = _traced_handler(sc, records, threading.Lock())

    def stop(*_):
        threading.Thread(target=httpd.shutdown, daemon=True).start()

    if args.trace_out:
        signal.signal(signal.SIGUSR1, trace_on)
    signal.signal(signal.SIGTERM, stop)
    import pyspark  # noqa: PLC0415

    print(json.dumps({
        "port": httpd.server_address[1],
        "pid": os.getpid(),
        "layers": LAYERS,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
    }), flush=True)
    try:
        httpd.serve_forever()
    finally:
        httpd.server_close()
        if args.trace_out:
            with open(args.trace_out, "w") as fh:
                json.dump(records, fh)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
