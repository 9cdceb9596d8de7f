"""SparkSession construction and per-session tuning.

The reference engine assigned table fragments to heterogeneous nodes
and merged partials at a root node; on Spark that whole concern is
the scheduler's. What we own is configuration: AQE for runtime
re-planning (skew splits, partition coalescing — the moral
equivalent of capability-weighted fragment assignment), Arrow for
any Python exchange, and a UTC session timezone so naive parquet
timestamps compare bit-identically against the DuckDB oracle.

Scale posture: these settings are sized for the local[
``SPARK_GRAFT_CPUS``] test harness but are the same knobs a
1000-executor deployment tunes — shuffle partitions are left to AQE
coalescing from a generous initial number, and no operator in the
package depends on everything fitting on one node.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to ANY session the driver hands us.
SESSION_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce by partition BYTES (advisory 64 MB), not by keeping
    # every core busy: at fixture scale this collapses KB-sized
    # shuffles to 1-2 partitions (measured 8.3s → 5.1s across the
    # headline set), and at 100 TB it is exactly the right-sizing
    # you want anyway — parallelism comes from the data volume.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast threshold 16 MB (Spark ships 10 MB). The round-2
    # setting was 64 MB, tuned against warm numbers later shown to
    # re-serve materialized stages (PLANS.md round 10) — which hid
    # the real cost of a big broadcast: a driver-side collect and a
    # single-threaded hash build, re-paid on every fresh execution.
    # Measured honestly (q3 at the 10× corpus: 3.1 s at 64 MB vs
    # 1.5 s at 8–16 MB), mid-size build sides are cheaper to shuffle.
    # A threshold, not a pin: bounded dims still broadcast; planner
    # estimates beyond it (a TB-scale customer) shuffle-join safely.
    # Runtime Bloom-filter join pre-filtering (SPARK-32268) was
    # A/B'd in r15 for q3's orders→lineitem join at the 300× corpus
    # and deliberately left at Spark defaults: with the filter
    # verified FIRING (creationSideThreshold=1GB +
    # applicationSideScanSizeThreshold=100MB; might_contain in every
    # treated plan), interleaved fresh-process warm min-of-3 read
    # 15.05/12.27/12.34 s vs 9.66/14.52/14.62 s untreated — the
    # 22M-key filter build costs what the pruned lineitem shuffle
    # saves at this scale. (An earlier draft A/B that moved only
    # creationSideThreshold showed a phantom 30% win — the filter
    # never fired; OPTIMIZATION_r15.md records the lesson: verify
    # the treatment in the plan before believing an A/B.)
    "spark.sql.autoBroadcastJoinThreshold": "16MB",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.ts is TIMESTAMP(NANOS) parquet. Spark 4.0 honors this
    # legacy conf (epoch-ns LongType); Spark 4.1 ignores it and
    # reads TIMESTAMP_NTZ natively. Kept for ≤4.0 runtimes — the
    # catalog branches on the dtype actually produced, so either
    # representation normalizes to the same µs timestamp.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixtures are small (≤600k rows); at 100 TB this is raised (or
    # left to AQE's advisory target) — AQE coalescing makes the
    # initial number a ceiling, not a commitment.
    "spark.sql.shuffle.partitions": "32",
    # No \r[Stage …] console progress bars: they dominate captured
    # stderr in headless runs (the driver's BENCH tail was
    # truncating mid-line on this noise — VERDICT r11 hygiene item).
    "spark.ui.showConsoleProgress": "false",
}


#: Size of Spark's generated-class cache (static conf
#: ``spark.sql.codegen.cache.maxEntries``; Spark's default is 100).
#: The cache is LRU and the engine's working set is larger than the
#: default: the 8 headline queries compile 119 classes, the
#: serve-mixed benchmark workload 343. Repeated passes cycle through
#: the same queries, so at 100 entries every class was evicted before
#: its next use and each warm headline pass recompiled 87-90 classes
#: with Janino (sf0.1, 4 cores), losing their JIT warm-up as well. At
#: 1000 (about 3x serve's working set) warm passes compile 0 classes;
#: tests/test_codegen_cache.py pins that. Only sessions built by
#: ``get_spark`` get it: a session handed to ``configure`` already
#: exists, and static confs cannot change after start.
CODEGEN_CACHE_MAX_ENTRIES = 1000


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an existing session.

    Only "cannot modify a static/immutable conf" errors are
    tolerated; anything else propagates. The session timezone is
    re-verified afterwards because UTC is load-bearing for timestamp
    parity with the DuckDB oracle — a silent failure there would
    surface as undiagnosable hash mismatches.
    """
    for k, v in SESSION_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:  # noqa: BLE001 — filtered below
            msg = str(exc)
            if "static" not in msg.lower() and "modify" not in msg.lower():
                raise
    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz != "UTC":
        raise RuntimeError(f"session timeZone is {tz!r}, not UTC — oracle parity would break")
    return spark


def get_spark(app_name: str = "hetnetdb-spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession for local runs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Static conf, so it lives here and not in SESSION_CONF.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
    )
    for k, v in SESSION_CONF.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
