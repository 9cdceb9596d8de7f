"""Catalog: parquet table loading + temp-view registration (S1, S5).

The reference accepted table uploads and registered them in a root
catalog; here a "catalog" is a scale-factor directory of parquet
files. Loading is a metadata-only operation (parquet footers), and
because every query goes through these helpers, the scan carries
Catalyst's free optimizations: column pruning and predicate pushdown
reach the parquet reader, partition pruning applies to partitioned
sinks, and the vectorized reader + whole-stage codegen own the hot
loop.
"""

from __future__ import annotations

import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import LongType, TimestampNTZType

from hetnetdb_spark.schemas import TABLE_NAMES
from hetnetdb_spark.session import app_id, configure

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: Loaded-table cache, keyed by (applicationId, sf_dir, name).
#: DataFrames are immutable logical plans, so reuse is safe; what
#: this saves is the parquet footer read + plan construction that
#: `spark.read.parquet` pays on every call — the catalog-metadata
#: caching every long-lived engine does.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1 — parquet scan of one base table.

    No explicit schema is passed: parquet is self-describing and the
    footer's names, order and types match ``schemas.SCHEMAS``, except
    that three declared ``timestamp`` columns (``o_orderdate``,
    ``l_shipdate``, ``events.ts``) read as ``timestamp_ntz``
    (``tests/test_invariants.py`` checks both). Passing the declared
    schema instead would insert a cast above the scan and block filter
    pushdown.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    # A session that never passed through session.get_spark (the
    # driver's) is configured here: the events branch below depends on
    # `nanosAsLong` being active at scan-plan time.
    configure(spark)
    key = (app_id(spark), sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) in parquet. What the reader
        # surfaces is version-dependent: Spark ≤4.0 honors
        # `nanosAsLong` and yields epoch-ns LongType; Spark 4.1
        # ignores that legacy conf and reads TIMESTAMP_NTZ (already
        # µs-truncated — fixture values are µs-aligned, lossless).
        # Branch on the actual dtype so both runtimes land on the
        # same µs TimestampType the DuckDB oracle compares. For the
        # long path, integer `div` (not `/`: epoch-ns ≈ 1.7e18
        # exceeds double's 2^53 exact range) converts ns→µs; for the
        # NTZ path the cast is wall-clock-preserving because the
        # session timezone is pinned UTC (session.configure).
        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def load_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` as an epoch-nanos long — ALWAYS.

    For plans that only order/diff on time (sessionization), a plain
    long column keeps gap arithmetic in integer codegen and defers
    timestamp materialization to the few rows that survive
    aggregation; long and timestamp sort identically. The contract
    is normalized here because the reader's output is
    version-dependent (see `load`): on a Spark ≤4.0 nanosAsLong
    runtime the column is already epoch-ns; on Spark 4.1 the
    TIMESTAMP_NTZ read is converted back via unix_micros × 1000 —
    one multiply per row in whole-stage codegen, and epoch-ns stays
    far inside int64. Callers convert aggregated outputs via
    ``timestamp_micros(... div 1000)`` to match oracle schemas.
    """
    configure(spark)
    key = (app_id(spark), sf_dir, "events_raw")
    cached = _TABLE_CACHE.get(key)
    if cached is None:
        cached = spark.read.parquet(table_path(sf_dir, "events"))
        if not isinstance(cached.schema["ts"].dataType, LongType):
            cached = cached.withColumn(
                "ts",
                F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000),
            )
        _TABLE_CACHE[key] = cached
    return cached


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load(spark, sf_dir, n) for n in names)


#: sf_dir each catalog table is currently bound to, per
#: (applicationId, name) — registration + ANALYZE run once per
#: binding and again only when the binding changes (the table is
#: session-global state, so a guard keyed on sf_dir alone would skip
#: repointing after a switch back to an earlier sf).
_BOUND_SF: dict[tuple[str, str], str] = {}

#: Held for the body of `register_views`. Two callers that both see a
#: table unbound (two statements naming it, or a statement and a query
#: that registers its own tables) would otherwise both DROP/CREATE it;
#: serialized, the second finds it in `_BOUND_SF` and skips. Reentrant
#: so a caller already inside may register again.
_REGISTER_LOCK = threading.RLock()

#: A base table's name as a whole word, in any case.
_NAMED = re.compile(rf"\b({'|'.join(TABLE_NAMES)})\b", re.IGNORECASE)

def _catalog_table_location(spark: SparkSession, name: str) -> str | None:
    if not spark.catalog.tableExists(name):
        return None
    rows = spark.sql(f"DESCRIBE FORMATTED {name}").collect()
    for r in rows:
        if r.col_name.strip() == "Location":
            return r.data_type.strip().removeprefix("file:")
    return None


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """S5 — expose base tables to the SQL entry path.

    Non-events tables register as EXTERNAL parquet catalog tables
    followed by ``ANALYZE TABLE ... COMPUTE STATISTICS`` (SURVEY §4:
    CBO join reordering reads metastore stats). Spark 4 refuses
    ANALYZE on temp views (EXPECT_PERMANENT_VIEW_NOT_TEMP), and a
    temp view would shadow the catalog table anyway — so the SQL
    path resolves the analyzed catalog tables directly. ``events``
    stays a temp view because it needs the ns→µs cast from `load`
    (a view body can't be ANALYZEd; events is not on the SQL join
    path). A stale metastore entry pointing at another sf_dir is
    dropped and recreated.

    Registration changes no session setting. The statistics feed CBO
    and join reordering, which ``session.SESSION_CONF`` turns on for
    every session from its first configuration.

    One stats scan per table: ``ANALYZE ... FOR COLUMNS`` records the
    table's size and row count along with the column stats, so the
    table-level ``ANALYZE ... COMPUTE STATISTICS`` runs only for a
    table without an analyzable column.
    """
    with _REGISTER_LOCK:
        configure(spark)
        for n in names or TABLE_NAMES:
            if n == "events":
                load(spark, sf_dir, n).createOrReplaceTempView(n)
                continue
            key = (app_id(spark), n)
            if _BOUND_SF.get(key) == sf_dir:
                continue
            path = table_path(sf_dir, n)
            spark.catalog.dropTempView(n)  # a temp view would shadow the table
            if _catalog_table_location(spark, n) != path:
                spark.sql(f"DROP TABLE IF EXISTS {n}")
                spark.sql(f"CREATE TABLE {n} USING parquet LOCATION '{path}'")
            # Per-column NDV/min/max (plus size/rows) — without column
            # stats CBO falls back to worst-case join cardinalities and
            # reordering has nothing to work with. ANALYZE FOR COLUMNS
            # rejects nested types (array/map/struct). timestamp_ntz is
            # excluded as a workaround: Spark 4.1's CBO FilterEstimation
            # has no case for TimestampNTZType and throws
            # scala.MatchError at plan time if such a column carries
            # stats and appears in a comparison filter.
            atomic = [
                f.name
                for f in spark.table(n).schema.fields
                if f.dataType.typeName()
                not in ("array", "map", "struct", "variant", "udt", "timestamp_ntz")
            ]
            if atomic:
                cols = ", ".join(atomic)
                spark.sql(f"ANALYZE TABLE {n} COMPUTE STATISTICS FOR COLUMNS {cols}")
            else:
                spark.sql(f"ANALYZE TABLE {n} COMPUTE STATISTICS")
            _BOUND_SF[key] = sf_dir


def named_tables(text: str) -> tuple[str, ...]:
    """The base tables whose name appears in *text* as a whole word,
    in any case, in ``TABLE_NAMES`` order."""
    found = {m.lower() for m in _NAMED.findall(text)}
    return tuple(n for n in TABLE_NAMES if n in found)


def register_named(spark: SparkSession, sf_dir: str, text: str) -> None:
    """Register the base tables a SQL statement names, when it names
    them: `register_views` over ``named_tables(text)``, or over every
    table when *text* names none (``SHOW TABLES``, a statement over
    uploaded views), as ``register_views``' own default does.

    A base table cannot be read without its name appearing in the
    text, so no table the statement reads is missed; a name inside a
    comment or a literal only costs a registration. When every named
    table is already bound to *sf_dir* this makes no Py4J call, so a
    statement over registered tables pays nothing for it. ``events``
    is a temp view and never bound: a statement naming it re-creates
    it from `load`, as ``register_views`` always does.
    """
    names = named_tables(text)
    app = app_id(spark)
    if all(_BOUND_SF.get((app, n)) == sf_dir for n in names or TABLE_NAMES):
        return
    register_views(spark, sf_dir, *names)


def spread(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Re-split a small, CPU-heavy input across every core.

    The fixture tables are single-row-group parquet files, so their
    scans are ONE input split no matter the conf — and a projection
    that burns real CPU per row (the MinHash/SimHash families run
    dozens of md5s per shingle) serializes on one core while 31 sit
    idle (round-10 honest bench: l02_minhash_neardup 17.6 s with 1
    partition). For those operators a hash repartition on the stable
    key is a ~20 k-row shuffle that buys core-count parallelism for
    the expensive stage — deterministic (key-hash, not round-robin),
    and value-invisible since every caller aggregates or joins
    afterward.

    Deliberately OPT-IN per operator, not applied in `load`: at the
    100 TB posture scans arrive in thousands of splits and an
    unconditional repartition would be a full-data shuffle for
    nothing. The no-op guard below makes the call safe to leave in
    at any scale: already-parallel inputs pass through untouched.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))
