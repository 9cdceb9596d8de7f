"""Fresh-process A/B of query variants: the one variant A/B harness.

Protocol: each draw is ONE fresh subprocess that builds ONE variant
from a spec, runs it cold once, then min-of-3 timed passes (fresh
QueryExecution per pass, noop sink). Variants alternate across
subprocesses (A B A B ...) so box drift lands on both arms. Reported
per variant: per-process [cold, min3] plus the min across processes —
the recorded protocol number.

Usage:
    python tools/ab_fresh.py PROCS_PER_ARM SPEC [SPEC ...]
    python tools/ab_fresh.py --worker SPEC        (internal)

A SPEC is either
    registry:<name>    a registered query, built at $SPARK_GRAFT_SF_DIR
                       (default: the sf0.1 fixtures), or
    module:function    any module importable from PYTHONPATH, the
                       repo root or tools/, whose function takes the
                       SparkSession and returns the DataFrame to time.

SPEC examples: registry:j14_interval_overlap_join  my_variants:j14_join

For where one variant's time goes (build, Catalyst, executor stages,
scheduling, fetch), run it through perfbench/batch.py --trace-out.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _worker(spec: str) -> int:
    from hetnetdb_spark import registry  # noqa: PLC0415
    from hetnetdb_spark.session import get_spark  # noqa: PLC0415

    registry.load_all()
    mod_name, fn_name = spec.split(":")
    if mod_name == "registry":
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        fn = registry.QUERIES[fn_name]
        build = lambda spark: fn(spark, sf_dir)  # noqa: E731
    else:
        mod = importlib.import_module(mod_name)
        build = getattr(mod, fn_name)
    spark = get_spark(f"ab-{fn_name}")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    build(spark).write.format("noop").mode("overwrite").save()
    cold = time.perf_counter() - t0
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        build(spark).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    print(json.dumps({"spec": spec, "cold": round(cold, 4), "min3": round(best, 4)}))
    spark.stop()
    return 0


def main() -> int:
    if sys.argv[1] == "--worker":
        return _worker(sys.argv[2])
    procs = int(sys.argv[1])
    specs = sys.argv[2:]
    draws: dict[str, list[dict]] = {s: [] for s in specs}
    for i in range(procs):
        for spec in specs:  # alternate arms within each round
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker", spec],
                capture_output=True, text=True, check=False,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")]
            if not line:
                print(f"WORKER FAIL {spec}: {out.stderr[-500:]}", file=sys.stderr)
                continue
            rec = json.loads(line[-1])
            draws[spec].append(rec)
            print(f"draw {i} {spec}: cold {rec['cold']} min3 {rec['min3']}",
                  flush=True)
    for spec, rows in draws.items():
        mins = [r["min3"] for r in rows]
        print(f"{spec}: min {min(mins):.3f}  all {mins}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
