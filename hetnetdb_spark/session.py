"""SparkSession construction and per-session tuning.

The reference engine assigned table fragments to heterogeneous nodes
and merged partials at a root node; on Spark that whole concern is
the scheduler's. What we own is configuration: AQE for runtime
re-planning (skew splits, partition coalescing — the moral
equivalent of capability-weighted fragment assignment), Arrow for
any Python exchange, and a UTC session timezone so naive parquet
timestamps compare bit-identically against the DuckDB oracle.

This module is the one owner of those settings. ``SESSION_CONF`` is
every key the engine sets; ``configure`` applies it once per
SparkSession, so a setting changed afterwards stays changed (no table
load or registration re-sets it); and ``conf_scope`` is the one way
engine code changes a setting, for the duration of a ``with`` block.

Scale posture: these settings are sized for the local[
``SPARK_GRAFT_CPUS``] test harness but are the same knobs a
1000-executor deployment tunes — shuffle partitions are left to AQE
coalescing from a generous initial number, and no operator in the
package depends on everything fitting on one node.
"""

from __future__ import annotations

import contextlib
import os
import weakref
from collections.abc import Iterator, Mapping

from pyspark.sql import SparkSession

#: Every runtime-settable conf the engine sets, applied once to any
#: session the driver hands us (`configure`).
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
    # A ceiling, not a commitment: AQE coalesces planner shuffles
    # below it, and window shuffles (`windows._parallel_by`) take
    # their width from the input's size estimate, capped here.
    # Fixtures are small (≤600k rows); at 100 TB this is raised.
    "spark.sql.shuffle.partitions": "32",
    # Cost-based optimization + join reordering, read from the
    # statistics `catalog.register_views` collects for the SQL path.
    # The DataFrame path reads parquet files, which carry no such
    # statistics; tests/test_plans.py pins that the headline queries'
    # initial plans are the same with these on and off.
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
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


#: Sessions `configure` has already applied ``SESSION_CONF`` to.
_CONFIGURED: weakref.WeakSet = weakref.WeakSet()

#: ``applicationId`` per SparkContext, read once (two Py4J calls).
_APP_IDS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def configure(spark: SparkSession) -> SparkSession:
    """Apply ``SESSION_CONF`` to an existing session, once.

    Keyed on the session object, not its SparkContext:
    ``spark.newSession()`` shares the context but has its own runtime
    conf. A repeat call is a set lookup, so a setting changed after the
    first call stays changed; change one temporarily with
    `conf_scope`.

    Only "cannot modify a static/immutable conf" errors are
    tolerated; anything else propagates. The session timezone is
    re-verified afterwards because UTC is load-bearing for timestamp
    parity with the DuckDB oracle — a silent failure there would
    surface as undiagnosable hash mismatches.
    """
    if spark in _CONFIGURED:
        return spark
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
    _CONFIGURED.add(spark)
    return spark


@contextlib.contextmanager
def conf_scope(spark: SparkSession, settings: Mapping[str, str]) -> Iterator[None]:
    """Set *settings* on *spark* for the body of a ``with`` block.

    On exit each key gets back the value it had on entry, or is unset
    if it had none.

    A conf read at planning time reaches a DataFrame only if it is
    planned inside the scope (j11 forces ``executedPlan()`` there). A
    registered *pure* query is re-planned on every ``select("*")`` of
    its cached DataFrame, outside any scope its construction opened,
    so such a scope would not reach its execution. Every current user
    is impure.
    """
    saved = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def app_id(spark: SparkSession) -> str:
    """The session's ``applicationId``, read once per SparkContext."""
    sc = spark.sparkContext
    app = _APP_IDS.get(sc)
    if app is None:
        app = _APP_IDS[sc] = sc.applicationId
    return app


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
