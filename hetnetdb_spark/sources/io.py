"""Sources and sinks — SURVEY §2.1 (S2–S6).

S2/S3/S6 are *round-trip* queries: write the base table through the
format under test into a scratch directory, read it back with an
explicit schema, and aggregate. The oracle computes the same
aggregate from the original parquet view — so the check certifies
format fidelity end-to-end without depending on the sink's file
layout. All scratch writes are `mode("overwrite")` and keyed by
query name, so re-invocation is idempotent.

Scale posture: CSV/JSON ingest are schema-explicit (never
`inferSchema` — that is a second full scan at 100 TB); the
partitioned sink writes `partitionBy` so downstream readers get
partition pruning (verified in the plan: PartitionFilters, not a
post-scan filter).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hetnetdb_spark.catalog import load_tables, register_views
from hetnetdb_spark.expr import r6
from hetnetdb_spark.registry import query
from hetnetdb_spark.session import conf_scope

# Per-process scratch root (see hetnetdb_spark/scratch.py for the
# concurrency contract); re-exported here because tests and tools
# historically import it from this module.
from hetnetdb_spark.scratch import SCRATCH  # noqa: F401

# --------------------------------------------------------------------------
# S2 — CSV ingest (the reference's native upload format)
# --------------------------------------------------------------------------

S2_ORACLE = """
SELECT n_regionkey,
       CAST(COUNT(*) AS BIGINT)          AS n_nations,
       MIN(n_name)                       AS first_name,
       CAST(SUM(n_nationkey) AS BIGINT)  AS key_sum
FROM nation
GROUP BY n_regionkey
"""


@query("s02_csv_roundtrip", oracle=S2_ORACLE, impure=True)
def s02_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — nation → CSV (header) → read with explicit schema →
    aggregate. The read declares the schema up front; header=True
    binds by position+name with no inference scan."""
    (nation,) = load_tables(spark, sf_dir, "nation")
    path = os.path.join(SCRATCH, "s02_nation_csv")
    nation.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", True)
        .csv(path)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
        F.sum("n_nationkey").alias("key_sum"),
    )


# --------------------------------------------------------------------------
# S3 — JSON-lines ingest (timestamps included)
# --------------------------------------------------------------------------

S3_ORACLE = """
SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
       CAST(COUNT(*) AS BIGINT)                       AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
             AS DOUBLE), 6)                           AS sum_price
FROM orders
GROUP BY yr
"""


@query("s03_json_roundtrip", oracle=S3_ORACLE, impure=True)
def s03_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — orders → JSON lines → schema-explicit read → aggregate.
    The timestamp column survives the round trip because both sides
    run in UTC (session.timeZone pinned) and the declared schema
    parses Spark's own ISO-8601 output."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    path = os.path.join(SCRATCH, "s03_orders_json")
    orders.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
    ).json(path)
    return back.groupBy(
        F.year("o_orderdate").cast("long").alias("yr")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        r6(F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
           .cast("double")).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# S4 — in-memory table create (createDataFrame ⟷ VALUES)
# --------------------------------------------------------------------------

_REGION_META = [
    (0, "AFRICA", "south"),
    (1, "AMERICA", "west"),
    (2, "ASIA", "east"),
    (3, "EUROPE", "north"),
    (4, "MIDDLE EAST", "central"),
]

S4_ORACLE = """
SELECT m.hemisphere,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM nation n
JOIN (VALUES (0, 'south'), (1, 'west'), (2, 'east'), (3, 'north'), (4, 'central'))
     AS m(r_regionkey, hemisphere)
  ON n.n_regionkey = m.r_regionkey
GROUP BY m.hemisphere
"""


@query("s04_in_memory_table", oracle=S4_ORACLE)
def s04_in_memory_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — a driver-side literal table (`createDataFrame`) joined
    to a base table. Literal tables are LocalRelations: Catalyst
    folds them and the join broadcasts — the idiomatic way to ship
    small lookup/config tables to a big cluster."""
    (nation,) = load_tables(spark, sf_dir, "nation")
    meta = spark.createDataFrame(
        _REGION_META, "r_regionkey INT, r_name STRING, hemisphere STRING"
    )
    return (
        nation.join(
            F.broadcast(meta), nation["n_regionkey"] == meta["r_regionkey"]
        )
        .groupBy("hemisphere")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


# --------------------------------------------------------------------------
# S5 — SQL entry path over registered temp views
# --------------------------------------------------------------------------

S5_SQL = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.08)
GROUP BY o.o_orderpriority
"""


@query("s05_sql_entry", oracle=S5_SQL, impure=True)
def s05_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — the SQL entry point: base tables registered as temp
    views, then one ANSI query string executed verbatim by BOTH
    engines (the oracle *is* this SQL). The EXISTS decorrelates to
    a left-semi join in Catalyst — same plan the DataFrame API
    would produce."""
    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(S5_SQL)


# --------------------------------------------------------------------------
# S6 — partitioned parquet sink
# --------------------------------------------------------------------------

S6_ORACLE = """
SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS o_year,
       CAST(COUNT(*) AS BIGINT)                       AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT)      AS n_customers
FROM orders
GROUP BY o_year
"""


@query("s06_partitioned_sink", oracle=S6_ORACLE, impure=True)
def s06_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — orders written `partitionBy(o_year)`, read back, and
    aggregated per partition. The partition column round-trips via
    directory names; a reader filtering on o_year prunes whole
    directories (PartitionFilters in the scan node) — the layout
    every 100 TB fact table should have on its dominant filter
    key."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    path = os.path.join(SCRATCH, "s06_orders_by_year")
    orders.withColumn("o_year", F.year("o_orderdate").cast("long")).write.mode(
        "overwrite"
    ).partitionBy("o_year").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


# --------------------------------------------------------------------------
# S9 (beyond contract) — bucketed tables: co-located, shuffle-free joins
# --------------------------------------------------------------------------

S9_ORACLE = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT)                           AS n_lines,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)) / 1000000, 4)
         AS revenue_m
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@query("s09_bucketed_join", oracle=S9_ORACLE, impure=True)
def s09_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond SURVEY §2.1 — the bucketed-layout pattern: lineitem
    and orders both written `bucketBy(8, orderkey)` + sorted, then
    joined on the bucket key. Both scans report their bucketing, so
    the sort-merge join needs NO exchange on either side (asserted
    in tests/test_plans.py) — at 100 TB this is THE layout for a
    fact-to-fact join that would otherwise shuffle both tables on
    every query. The `merge` hint keeps the demo honest at fixture
    scale (the planner would otherwise broadcast the small side).
    """
    lineitem, orders = load_tables(spark, sf_dir, "lineitem", "orders")
    warehouse_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    lt, ot = f"bkt_lineitem_{warehouse_tag}", f"bkt_orders_{warehouse_tag}"
    for name, df, key in ((lt, lineitem, "l_orderkey"), (ot, orders, "o_orderkey")):
        # The metastore entry (spark-warehouse/derby) can outlive the
        # gitignored scratch data dir, so trust tableExists only when
        # the backing files are actually present.
        data_path = os.path.join(SCRATCH, f"s09_{name}")
        if not (spark.catalog.tableExists(name) and os.path.isdir(data_path)):
            (
                df.write.bucketBy(8, key)
                .sortBy(key)
                .option("path", os.path.join(SCRATCH, f"s09_{name}"))
                .mode("overwrite")
                .saveAsTable(name)
            )
    bl, bo = spark.table(lt), spark.table(ot)
    return (
        bl.hint("merge")
        .join(bo, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # revenue reported in millions at 4dp: the raw sum is ~1e9
            # and summation-order drift across 8 buckets exceeds the
            # 6-decimal window; the scaled form is drift-immune.
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) / 1e6, 4
            ).alias("revenue_m"),
        )
    )


# --------------------------------------------------------------------------
# S10 (beyond contract) — time-sorted layout + min/max pruning
# --------------------------------------------------------------------------

# [2024-01-10, 2024-01-13) UTC — 3 of the fixture's 30 event days.
S10_LO_NS = 1_704_844_800 * 1_000_000_000
S10_HI_NS = 1_705_104_000 * 1_000_000_000

S10_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT)  AS n,
       ROUND(SUM(value), 6)      AS sum_value,
       MIN(ts)                   AS first_ts
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <  TIMESTAMP '2024-01-13 00:00:00'
GROUP BY event_type
"""


@query("s10_sorted_layout_pruning", oracle=S10_ORACLE, impure=True)
def s10_sorted_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond SURVEY §2.1 — the time-sorted data layout.

    events is rewritten `repartitionByRange(8, ts)` +
    `sortWithinPartitions(ts)`: each parquet file owns a disjoint
    time slice, so every file's (and row group's) ts min/max stats
    are tight. A ts-bounded query then skips non-overlapping row
    groups entirely via the pushed range filter — at 100 TB this
    layout is what makes a time-range scan touch GB, not TB.
    `ts` stays the raw epoch-ns long in the layout (plain BIGINT
    min/max stats); outputs convert to µs timestamps. Layout
    disjointness + the pushed filter are asserted in
    tests/test_plans.py.
    """
    from hetnetdb_spark.catalog import load_events_raw

    raw = load_events_raw(spark, sf_dir)  # ts as epoch-ns long
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = os.path.join(SCRATCH, f"s10_events_by_ts_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            raw.repartitionByRange(8, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(path)
        )
    back = spark.read.parquet(path)
    sel = back.filter((F.col("ts") >= S10_LO_NS) & (F.col("ts") < S10_HI_NS))
    return sel.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.timestamp_micros(F.expr("min(ts) div 1000")).alias("first_ts"),
    )


# --------------------------------------------------------------------------
# S11 — dynamic partition pruning (runtime partition skipping)
# --------------------------------------------------------------------------

S11_ORACLE = """
WITH dim(dim_year, segment) AS (
    VALUES (1992, 'other'), (1993, 'other'), (1994, 'other'),
           (1995, 'other'), (1996, 'target'), (1997, 'target'),
           (1998, 'other')
),
fact AS (
    SELECT CAST(date_part('year', o_orderdate) AS INT) AS o_year,
           o_totalprice
    FROM orders
)
SELECT f.o_year,
       CAST(COUNT(*) AS BIGINT)    AS n_orders,
       ROUND(SUM(o_totalprice), 6) AS sum_total
FROM fact f JOIN dim d ON f.o_year = d.dim_year
WHERE d.segment = 'target'
GROUP BY f.o_year
"""


@query("s11_dynamic_partition_pruning", oracle=S11_ORACLE, impure=True)
def s11_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 — SURVEY §4's DPP row, exercised end to end.

    The fact side (orders, partitioned by year on disk) joins a
    7-row year dim on the partition column with a selective filter
    on the DIM side only — so no static filter can reach the fact
    scan, and only *dynamic* partition pruning saves the scan of the
    5 non-target years. Catalyst reuses the dim's broadcast exchange
    as a runtime IN-subquery on the fact's partition directories
    (`dynamicpruningexpression` in PartitionFilters — asserted in
    tests/test_plans.py). At 100 TB this is the difference between
    scanning 7 years and 2.
    """
    (orders,) = load_tables(spark, sf_dir, "orders")
    fact_path = os.path.join(SCRATCH, "s11_orders_by_year")
    orders.select(
        F.year("o_orderdate").alias("o_year"), "o_totalprice"
    ).write.mode("overwrite").partitionBy("o_year").parquet(fact_path)
    dim_path = os.path.join(SCRATCH, "s11_year_dim")
    spark.createDataFrame(
        [(y, "target" if y in (1996, 1997) else "other") for y in range(1992, 1999)],
        "dim_year int, segment string",
    ).write.mode("overwrite").parquet(dim_path)

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("segment") == "target")
    return (
        fact.join(dim, fact.o_year == dim.dim_year)
        .groupBy("o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            r6(F.sum("o_totalprice")).alias("sum_total"),
        )
    )


# --------------------------------------------------------------------------
# S12 — ORC round-trip (second columnar format besides parquet)
# --------------------------------------------------------------------------

S12_ORACLE = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT)        AS n_parts,
       CAST(SUM(p_size) AS BIGINT)     AS size_sum,
       ROUND(SUM(p_retailprice), 6)    AS price_sum
FROM part
GROUP BY p_brand
"""


@query("s12_orc_roundtrip", oracle=S12_ORACLE, impure=True)
def s12_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 — part → ORC → read back → aggregate. ORC is Spark's
    second built-in columnar format (vectorized reader, predicate
    pushdown, min/max stripes like parquet row groups); the oracle
    aggregates the original parquet, so the check certifies type
    fidelity through the ORC writer/reader pair end to end."""
    (part,) = load_tables(spark, sf_dir, "part")
    path = os.path.join(SCRATCH, "s12_part_orc")
    part.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("p_size").cast("long").alias("size_sum"),
        r6(F.sum("p_retailprice")).alias("price_sum"),
    )


# --------------------------------------------------------------------------
# S13 — compaction (small-files repair)
# --------------------------------------------------------------------------

S13_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT)           AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
"""

#: Compaction target. 128 MB matches the parquet row-group /
#: HDFS-block sweet spot; the fixture's whole table is smaller than
#: one target file, which is exactly the point — 64 shards of a
#: tiny table is the pathological layout this repairs.
S13_TARGET_BYTES = 128 * 1024 * 1024


@query("s13_compaction", oracle=S13_ORACLE, impure=True)
def s13_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 — repair a small-files layout by size-targeted rewrite.

    Streaming ingest and per-partition writers leave fact tables as
    thousands of KB-sized files; every later scan then pays one task
    + one footer read per file, and at 100 TB the NameNode/listing
    cost alone dominates. The repair: read the fragmented table,
    ask the filesystem (Hadoop FS API — works on HDFS/S3A too, not
    just local) for its total size, and rewrite with
    ``ceil(bytes / 128 MB)`` output files via a round-robin
    `repartition` (full-width shuffle, no key skew). The oracle
    aggregates the original events, certifying the rewrite lost
    nothing; the file-count collapse is asserted in
    tests/test_invariants.py.
    """
    (events,) = load_tables(spark, sf_dir, "events")
    frag_path = os.path.join(SCRATCH, "s13_events_fragmented")
    compact_path = os.path.join(SCRATCH, "s13_events_compacted")
    # manufacture the pathology: 64 shards of a small table
    events.repartition(64).write.mode("overwrite").parquet(frag_path)

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(frag_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jpath).getLength()
    n_files = max(1, -(-int(total_bytes) // S13_TARGET_BYTES))  # ceil

    fragmented = spark.read.parquet(frag_path)
    fragmented.repartition(n_files).write.mode("overwrite").parquet(compact_path)

    back = spark.read.parquet(compact_path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        # 64 fragment partials merge in nondeterministic order —
        # decimal accumulation keeps the sum order-independent.
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_sum"),
    )


# --------------------------------------------------------------------------
# S14 — partition-scoped upsert (dynamic partition overwrite)
# --------------------------------------------------------------------------

S14_ORACLE = """
WITH base AS (
    SELECT CAST(date_part('year', o_orderdate) AS INT) AS o_year,
           o_orderkey, o_totalprice
    FROM orders
),
snap AS (
    SELECT o_year, o_orderkey, o_totalprice FROM base WHERE o_year <> 2001
    UNION ALL
    SELECT o_year, o_orderkey, o_totalprice * 1.1 FROM base WHERE o_year = 2001
    UNION ALL
    SELECT o_year, o_orderkey + 10000000, o_totalprice FROM base WHERE o_year = 2001
)
SELECT o_year,
       CAST(COUNT(*) AS BIGINT)  AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
             AS DOUBLE), 6)      AS total_price
FROM snap
GROUP BY o_year
"""


@query("s14_partition_upsert", oracle=S14_ORACLE, impure=True)
def s14_partition_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 — upsert a partitioned fact table by rewriting ONLY the
    touched partitions (`partitionOverwriteMode=dynamic`).

    The change batch (2001's orders re-priced, plus re-crawled
    inserts with new keys) lands entirely in the o_year=2001
    partition. Static overwrite would truncate the whole table;
    dynamic mode replaces just the partitions present in the change
    DataFrame — at 100 TB that is rewriting one day/year directory
    instead of the table, and it is the engine-level primitive under
    every MERGE implementation. The untouched partitions' files are
    asserted physically untouched (mtime) in
    tests/test_invariants.py; the oracle certifies the merged
    content.
    """
    (orders,) = load_tables(spark, sf_dir, "orders")
    path = os.path.join(SCRATCH, "s14_orders_snapshot")
    base = orders.select(
        F.year("o_orderdate").alias("o_year"), "o_orderkey", "o_totalprice"
    )
    base.write.mode("overwrite").partitionBy("o_year").parquet(path)

    changed_year = base.filter(F.col("o_year") == 2001)
    changes = changed_year.withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    ).unionByName(
        changed_year.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    )

    with conf_scope(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        # mode("overwrite") + dynamic: only partitions present in
        # `changes` (o_year=2001) are replaced.
        changes.write.mode("overwrite").partitionBy("o_year").parquet(path)

    back = spark.read.parquet(path)
    return back.groupBy("o_year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        r6(F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
           .cast("double")).alias("total_price"),
    )


# --------------------------------------------------------------------------
# S15 — schema evolution (mergeSchema across file generations)
# --------------------------------------------------------------------------

S15_ORACLE = """
WITH v1 AS (
    SELECT o_orderkey, o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
),
v2 AS (
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
),
merged AS (
    SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM v1
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM v2
)
SELECT COALESCE(o_orderpriority, '<pre-schema>') AS o_orderpriority,
       CAST(COUNT(*) AS BIGINT)                  AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
             AS DOUBLE), 6)                      AS total_price
FROM merged
GROUP BY 1
"""


@query("s15_schema_evolution", oracle=S15_ORACLE, impure=True)
def s15_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 — schema evolution across file generations: generation 1
    wrote (key, price), generation 2 added a priority column. A
    `mergeSchema` read unifies them — old files surface NULL for the
    new column, no rewrite of historical data. This is how a 100 TB
    table grows columns in practice (rewriting history is not an
    option); the oracle simulates the same union semantics. The
    merge costs one footer read per file at planning, which is why
    it stays opt-in rather than the default."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    path = os.path.join(SCRATCH, "s15_orders_evolving")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(os.path.join(path, "gen=1"))
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(os.path.join(path, "gen=2"))

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        merged.withColumn(
            "o_orderpriority", F.coalesce("o_orderpriority", F.lit("<pre-schema>"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            r6(F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
               .cast("double")).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# S16 — SCD Type-2 merge (row-versioned dimension history)
# --------------------------------------------------------------------------

S16_ORACLE = """
WITH updates AS (
    SELECT c_custkey, ROUND(c_acctbal + 100.0, 6) AS new_acctbal, c_nationkey
    FROM customer WHERE c_custkey % 7 = 0
)
SELECT c.c_custkey,
       ROUND(c.c_acctbal, 6) AS acctbal,
       c.c_nationkey,
       TIMESTAMP '2000-01-01 00:00:00' AS valid_from,
       CASE WHEN u.c_custkey IS NOT NULL
            THEN TIMESTAMP '2001-06-01 00:00:00' END AS valid_to,
       u.c_custkey IS NULL AS is_current
FROM customer c
LEFT JOIN updates u ON c.c_custkey = u.c_custkey
UNION ALL
SELECT c_custkey, new_acctbal AS acctbal, c_nationkey,
       TIMESTAMP '2001-06-01 00:00:00' AS valid_from,
       CAST(NULL AS TIMESTAMP)         AS valid_to,
       TRUE                            AS is_current
FROM updates
"""


@query("s16_scd2_merge", oracle=S16_ORACLE)
def s16_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16 (beyond contract) — slowly-changing-dimension Type-2
    merge: an update batch against a versioned dimension closes the
    superseded row (valid_to set, is_current false) and appends the
    new version (open validity, current). The update batch is derived
    deterministically from the table itself (every 7th customer gets
    a balance adjustment effective 2001-06-01) so both engines see
    the identical merge input.

    Shape: ONE left outer join against the update keys classifies
    every dimension row as closed-or-unchanged in a single pass — no
    semi+anti double probe of the same relation — and the new
    versions arrive by UNION ALL, exactly the MERGE WHEN MATCHED /
    NOT MATCHED split. Scale posture: the join shuffles on the
    business key once (broadcast while the batch is small, AQE
    decides); at warehouse scale the dimension is bucketed on the key
    (s09) making the merge shuffle-free, and the result lands via
    dynamic partition overwrite (s14) touching only changed
    partitions. History grows by the update count per batch, never
    rewritten.
    """
    (customer,) = load_tables(spark, sf_dir, "customer")
    eff = F.lit("2001-06-01").cast("timestamp")
    base = F.lit("2000-01-01").cast("timestamp")
    updates = customer.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("u_custkey"),
        r6(F.col("c_acctbal") + 100.0).alias("new_acctbal"),
        F.col("c_nationkey").alias("u_nationkey"),
    )
    versioned = (
        customer.join(
            F.broadcast(updates.select("u_custkey")),
            F.col("c_custkey") == F.col("u_custkey"),
            "left",
        )
        .select(
            "c_custkey",
            r6(F.col("c_acctbal")).alias("acctbal"),
            "c_nationkey",
            base.alias("valid_from"),
            F.when(F.col("u_custkey").isNotNull(), eff).alias("valid_to"),
            F.col("u_custkey").isNull().alias("is_current"),
        )
    )
    fresh = updates.select(
        F.col("u_custkey").alias("c_custkey"),
        F.col("new_acctbal").alias("acctbal"),
        F.col("u_nationkey").alias("c_nationkey"),
        eff.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return versioned.unionByName(fresh)


# --------------------------------------------------------------------------
# S19 — binary-file source (raw multimodal ingest)
# --------------------------------------------------------------------------

_S19_PAYLOADS = {f"blob_{i}.bin": bytes(range(i, i + 64)) * (i + 1) for i in range(4)}

# Expected digests pinned via hashlib (same MD5 both engines run);
# the oracle is a constant manifest the ingest must reproduce.
import hashlib as _hashlib

S19_ORACLE = """
SELECT file_name,
       CAST(length AS BIGINT) AS length,
       content_md5
FROM (VALUES {rows}) t(file_name, length, content_md5)
""".format(
    rows=", ".join(
        "('{n}', {ln}, '{md5}')".format(n=n, ln=len(b), md5=_hashlib.md5(b).hexdigest())
        for n, b in sorted(_S19_PAYLOADS.items())
    )
)


@query("s19_binaryfile_source", oracle=S19_ORACLE, impure=True)
def s19_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19 — ``format("binaryFile")``: the ingestion path for raw
    image/audio/video payloads before L8's typed multimodal schema
    exists. Each file becomes one row (path, modificationTime,
    length, content); the checksum + length projection here is the
    standard ingest manifest. Files are opaque blobs, so this source
    parallelizes per-file — at 100 TB the sane layout is many
    archive-sized objects, with `pathGlobFilter`/`recursiveFileLookup`
    doing listing-time pruning; content bytes stay columnar Arrow
    all the way to a sink. The oracle pins the exact md5 of each
    deterministic payload, so the ingest is value-verified, not just
    row-counted.
    """
    path = os.path.join(SCRATCH, "s19_blobs")
    # Recreate the blob dir from scratch: stale *.bin files from a
    # prior run (under an older payload manifest) would still match
    # pathGlobFilter and surface rows the pinned oracle lacks.
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for n, b in _S19_PAYLOADS.items():
        with open(os.path.join(path, n), "wb") as fh:
            fh.write(b)
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
            F.col("length").cast("long").alias("length"),
            F.md5(F.col("content")).alias("content_md5"),
        )
    )


# --------------------------------------------------------------------------
# S20 — Z-order layout: multi-dimensional clustering for data skipping
# --------------------------------------------------------------------------

_Z_BITS = 8


def _morton_sql(shift: str) -> str:
    """Bit-interleave day_b (even positions) and price_b (odd) via
    plain arithmetic — identical semantics in any SQL engine; `shift`
    spells the engine's right-shift (`x >> i` vs `shiftright(x, i)`)."""
    return " + ".join(
        f"(({shift.format(c='day_b', i=i)}) & 1) * {1 << (2 * i)}"
        f" + (({shift.format(c='price_b', i=i)}) & 1) * {1 << (2 * i + 1)}"
        for i in range(_Z_BITS)
    )


S20_ORACLE = f"""
WITH q AS (
    SELECT LEAST(255, GREATEST(0, CAST(FLOOR(
               date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
               / 10.0) AS INT)))                                   AS day_b,
           LEAST(255, CAST(FLOOR(o_totalprice / 2000.0) AS INT))   AS price_b
    FROM orders
),
z AS (
    SELECT day_b, price_b, {_morton_sql('{c} >> {i}')} AS zval FROM q
)
SELECT CAST(zval >> 8 AS BIGINT)   AS zbucket,
       CAST(COUNT(*) AS BIGINT)    AS n_rows,
       CAST(MIN(day_b) AS INT)     AS min_day_b,
       CAST(MAX(day_b) AS INT)     AS max_day_b,
       CAST(MIN(price_b) AS INT)   AS min_price_b,
       CAST(MAX(price_b) AS INT)   AS max_price_b
FROM z
GROUP BY zval >> 8
"""


@query("s20_zorder_layout", oracle=S20_ORACLE)
def s20_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S20 — Z-order (Morton) clustering of orders on (orderdate,
    totalprice): the layout that makes file-level min/max stats
    prune BOTH dimensions. A linear sort clusters one key and leaves
    the other's per-file range at full width; interleaving the two
    quantized keys' bits gives every zbucket a tight bounding box in
    both, so a predicate on either dimension skips most buckets at
    parquet-footer time — no data read.

    The query computes the z-value with pure integer arithmetic
    (8 bits/dim, generated expression — no UDF) and returns the
    per-bucket manifest (row count + min/max of both quantized dims)
    that a skipping scan would consult. The production writer is
    `repartitionByRange(zbucket).sortWithinPartitions(zval)` into a
    parquet sink (S6's machinery), which turns each zbucket's
    bounding box into real footer stats; the manifest form keeps the
    layout value-checkable. Quantization constants cover the
    fixture's full span (1995..2001, price < 512k) so no bucket
    saturates.
    """
    (orders,) = load_tables(spark, sf_dir, "orders")
    q = orders.select(
        F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.floor(
                    F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
                    / 10.0
                ).cast("int"),
            ),
        ).alias("day_b"),
        F.least(F.lit(255), F.floor(F.col("o_totalprice") / 2000.0).cast("int")).alias(
            "price_b"
        ),
    )
    z = q.withColumn("zval", F.expr(_morton_sql("shiftright({c}, {i})")))
    return (
        z.groupBy(F.expr("shiftright(zval, 8)").cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("day_b").cast("int").alias("min_day_b"),
            F.max("day_b").cast("int").alias("max_day_b"),
            F.min("price_b").cast("int").alias("min_price_b"),
            F.max("price_b").cast("int").alias("max_price_b"),
        )
    )


# --------------------------------------------------------------------------
# S21 — manifest-based incremental ingest (process only unseen files)
# --------------------------------------------------------------------------

S21_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT)   AS n,
       ROUND(SUM(value), 6)       AS sum_value
FROM events
GROUP BY event_type
"""


@query("s21_incremental_ingest", oracle=S21_ORACLE, impure=True)
def s21_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S21 — incremental batch ingest with a processed-file
    manifest: the non-streaming half of S7. A landing directory
    receives files over time; each ingest pass lists it, anti-joins
    the listing against the manifest, processes ONLY unseen files,
    appends their partial aggregates to a cumulative store, and
    records them. Two passes run here — files A+B land, ingest;
    file C lands, ingest — and the oracle asserts the convergence
    contract: incremental processing must equal full reprocessing
    (per-type counts/sums over ALL events). Batch 2 touching only
    file C (not re-reading A/B) is asserted separately in
    tests/test_invariants.py::test_s21_second_batch_is_incremental.

    Scale posture: the manifest is (file, batch) rows — bounded by
    file count, not data; per-batch work is a scan of the NEW bytes
    only plus a partial aggregate, and the cumulative store holds
    per-(type, batch) partials merged by a final re-aggregate
    (sum-of-sums — the same partial-merge algebra a18 demonstrates),
    so re-ingest cost is O(new data) regardless of history size.
    Listing is one driver-side directory read — metadata, not data
    (at 100 TB this is the catalog/notification service's job, e.g.
    file-arrival queues; the anti-join discipline is identical).
    """
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    landing = os.path.join(SCRATCH, f"s21_landing_{tag}")
    manifest_p = os.path.join(SCRATCH, f"s21_manifest_{tag}")
    store = os.path.join(SCRATCH, f"s21_store_{tag}")
    for p in (landing, manifest_p, store):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(landing)

    (events,) = load_tables(spark, sf_dir, "events")
    src = events.select("event_id", "event_type", "value")

    def land(part: int) -> None:
        (
            src.filter(F.col("event_id") % 3 == part)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(landing, f"part{part}"))
        )

    def ingest(batch_id: int) -> int:
        arrived = sorted(
            os.path.join(landing, d) for d in os.listdir(landing)
        )
        if os.path.exists(manifest_p):
            seen = {
                r.file for r in spark.read.parquet(manifest_p).collect()
            }
        else:
            seen = set()
        new = [p for p in arrived if p not in seen]
        if not new:
            return 0
        partial = (
            spark.read.parquet(*new)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        partial.write.mode("append").parquet(store)
        spark.createDataFrame(
            [(p, batch_id) for p in new], "file string, batch_id int"
        ).write.mode("append").parquet(manifest_p)
        return len(new)

    land(0)
    land(1)
    ingest(1)
    land(2)
    ingest(2)

    return (
        spark.read.parquet(store)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sum_value"), 6).alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# S23 — malformed-record handling (PERMISSIVE quarantine vs DROPMALFORMED)
# --------------------------------------------------------------------------

S23_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(*) FILTER (WHERE n_nationkey % 5 = 2) AS BIGINT)  AS n_corrupt,
       CAST(COUNT(*) FILTER (WHERE n_nationkey % 5 <> 2) AS BIGINT) AS n_good,
       CAST(COUNT(*) FILTER (WHERE n_nationkey % 5 <> 2) AS BIGINT) AS n_dropmalformed,
       CAST(SUM(n_nationkey) FILTER (WHERE n_nationkey % 5 <> 2) AS BIGINT)
           AS key_sum_good
FROM nation
"""


@query("s23_malformed_records", oracle=S23_ORACLE, impure=True)
def s23_malformed_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S23 (beyond contract) — the dirty-ingest path every real
    pipeline needs: a CSV where every 5th-offset-2 row is corrupted
    (non-numeric key, truncated fields), read twice — PERMISSIVE
    with a `columnNameOfCorruptRecord` quarantine column (bad rows
    survive as raw text for a dead-letter audit, good fields parse
    normally), and DROPMALFORMED (bad rows silently dropped). The
    output cross-checks the two modes against each other AND against
    the known corruption pattern: quarantined + parsed == total, and
    the DROPMALFORMED count must equal the PERMISSIVE good count.

    The corruption is injected deterministically from nation (key %
    5 == 2 -> 'bad-<key>' with a missing column), so the oracle
    states the expected accounting over exact semantics. Both reads
    are schema-explicit (no inference scan); parsing and the
    null-flag aggregation are map-side, one tiny final merge — the
    quarantine pattern costs nothing extra at 100 TB.
    """
    (nation,) = load_tables(spark, sf_dir, "nation")
    path = os.path.join(SCRATCH, "s23_dirty_csv")
    lines = nation.select(
        F.when(
            F.col("n_nationkey") % 5 == 2,
            F.concat(F.lit("bad-"), F.col("n_nationkey").cast("string"), F.lit(",x")),
        )
        .otherwise(
            F.concat_ws(
                ",",
                F.col("n_nationkey").cast("string"),
                F.col("n_name"),
                F.col("n_regionkey").cast("string"),
            )
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)

    schema = "n_nationkey INT, n_name STRING, n_regionkey INT, _bad STRING"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
    )
    dropped = (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    audit = permissive.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("_bad").isNotNull(), 1)).alias("n_corrupt"),
        F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_good"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("n_nationkey"))).alias(
            "key_sum_good"
        ),
    )
    # count("n_nationkey"), not count(1): the CSV reader prunes
    # unreferenced columns BEFORE parsing, so a bare count reads
    # zero columns, never attempts the INT conversion, and
    # DROPMALFORMED drops nothing (observed: 25 == total). Counting
    # the key column forces its parse; the corrupted rows then fail
    # conversion and are dropped as intended.
    return audit.crossJoin(
        dropped.agg(F.count("n_nationkey").alias("n_dropmalformed"))
    ).select("n_total", "n_corrupt", "n_good", "n_dropmalformed", "key_sum_good")


# --------------------------------------------------------------------------
# S24 — snapshot time travel (copy-on-write files + versioned manifests)
# --------------------------------------------------------------------------

def _cow_orders_store(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[dict[int, list[str]], dict[int, list[str]]]:
    """Build the copy-on-write orders store shared by s24 (snapshot
    reads) and s43 (vacuum): v1 = orders as (year, key, cents)
    partitioned by year; v2 = ONLY 2001 rewritten (cents × 1.1)
    into a new directory, its manifest listing the new files plus
    v1's untouched ones. Returns (manifest_v1, manifest_v2) as
    {year: [files]}. The store is rebuilt from scratch per call —
    both callers are registered impure."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    base = os.path.join(SCRATCH, f"{name}_{tag}")
    shutil.rmtree(base, ignore_errors=True)

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    table = orders.select(
        F.year("o_orderdate").alias("o_year"), "o_orderkey", cents.alias("cents")
    )

    # v1 commit: all years, one directory per year, manifest = files
    v1_dir = os.path.join(base, "v1")
    table.write.partitionBy("o_year").parquet(v1_dir)
    years = [r["o_year"] for r in table.select("o_year").distinct().collect()]

    def year_files(root: str, year: int) -> list[str]:
        d = os.path.join(root, f"o_year={year}")
        return sorted(
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    manifest_v1 = {y: year_files(v1_dir, y) for y in years}

    # v2 commit (copy-on-write): rewrite ONLY 2001 into a new dir
    v2_dir = os.path.join(base, "v2")
    table.filter(F.col("o_year") == 2001).withColumn(
        "cents", F.round(F.col("cents") * 1.1).cast("long")
    ).write.partitionBy("o_year").parquet(v2_dir)
    manifest_v2 = dict(manifest_v1)
    manifest_v2[2001] = year_files(v2_dir, 2001)
    return manifest_v1, manifest_v2


S24_ORACLE = """
WITH v1 AS (
    SELECT o_orderkey, o_orderdate,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
),
v2 AS (
    SELECT o_orderkey,
           CASE WHEN date_part('year', o_orderdate) = 2001
                THEN CAST(ROUND(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                          * 1.1) AS BIGINT)
                ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT)
           END AS cents
    FROM orders
)
SELECT 1 AS version,
       CAST(COUNT(*) AS BIGINT)   AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM v1
UNION ALL
SELECT 2 AS version,
       CAST(COUNT(*) AS BIGINT)   AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM v2
ORDER BY version
"""


@query("s24_snapshot_time_travel", oracle=S24_ORACLE, impure=True)
def s24_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S24 — snapshot isolation via copy-on-write files + versioned
    manifests (the Iceberg/Delta mechanism at its engine-level
    minimum). Version 1 writes orders partitioned by year, one
    manifest listing its files. Version 2 "re-prices" 2001: ONLY
    that year's files are rewritten into a new directory; the v2
    manifest lists the new files plus v1's untouched ones. Nothing
    is deleted, so BOTH versions stay readable after the commit —
    this query reads each manifest's file list and aggregates both
    snapshots, proving the old version survives the new write
    (dynamic-overwrite s14 cannot do that; it mutates in place).

    At 100 TB the manifest is the entire read-planning story: a
    version flip is one metadata swap, old-version reads cost
    nothing extra, and vacuuming v1's superseded files is a
    manifest diff. Money stays in exact integer cents end-to-end
    (p13 discipline) so snapshot sums compare exactly — no float
    rounding window to straddle."""
    manifest_v1, manifest_v2 = _cow_orders_store(spark, sf_dir, "s24_store")

    def read_version(manifest: dict[int, list[str]]) -> DataFrame:
        files = [f for fl in manifest.values() for f in fl]
        # basePath keeps the partition column derivable per file set
        return spark.read.option("recursiveFileLookup", "false").parquet(*files)

    out = []
    for version, manifest in ((1, manifest_v1), (2, manifest_v2)):
        snap = read_version(manifest)
        out.append(
            snap.agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            ).select(F.lit(version).alias("version"), "n_orders", "sum_cents")
        )
    return out[0].unionByName(out[1]).orderBy("version")


# --------------------------------------------------------------------------
# S25 — observed metrics (df.observe: in-flight accumulators)
# --------------------------------------------------------------------------

S25_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT)                          AS rows_scanned,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)   AS qty_scanned,
       CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
                                                         AS discounted_rows
FROM lineitem
"""


@query("s25_observed_metrics", oracle=S25_ORACLE, impure=True)
def s25_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S25 — `df.observe(Observation, ...)`: named accumulator
    metrics collected DURING a pass, not by a second scan. The
    production use is data-quality sidecars — row counts, null
    rates, domain violations — riding along with the job that
    already reads the data; a separate audit query doubles the
    scan bill at 100 TB. Metrics compute as accumulators during the
    observed action and surface driver-side (that is their
    contract: observability telemetry, not a data path — the one
    deliberate driver materialization here is a 3-value dict).

    The oracle recomputes the same three metrics relationally,
    pinning that the accumulator path (partial merges across tasks)
    agrees with the declarative answer — counts and an exact
    integer quantity sum, so no float discipline needed.

    Registered impure: the observed action runs at build time."""
    from pyspark.sql import Observation

    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    obs = Observation("s25")
    observed = lineitem.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty_scanned"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("discounted_rows"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one real pass
    m = obs.get
    return spark.createDataFrame(
        [(m["rows_scanned"], m["qty_scanned"], m["discounted_rows"])],
        "rows_scanned long, qty_scanned long, discounted_rows long",
    )


# --------------------------------------------------------------------------
# S26 — parameterized SQL (named params + IDENTIFIER clause)
# --------------------------------------------------------------------------

S26_CAP = 100000.0

S26_ORACLE = f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT)    AS n_orders,
       ROUND(SUM(o_totalprice), 6) AS total
FROM orders
WHERE o_totalprice < {S26_CAP}
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("s26_parameterized_sql", oracle=S26_ORACLE, impure=True)
def s26_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S26 — the parameterized-SQL entry point: named `:params`
    bind as LITERALS after parsing (injection-safe — a value can
    never splice syntax) and `IDENTIFIER(:tbl)` is the sanctioned
    spell for dynamic table names (a name can never smuggle a
    subquery). This is the surface a serving layer calls with
    user-supplied values; string-formatted SQL is the anti-pattern
    it replaces. The oracle is the same query with the literal
    inlined — parameter binding must be semantically invisible."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*)                    AS n_orders,
               ROUND(SUM(o_totalprice), 6) AS total
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice < :cap
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"tbl": "orders", "cap": S26_CAP},
    )


# --------------------------------------------------------------------------
# S27 — persistent catalog tables (CREATE TABLE / INSERT INTO / spark.table)
# --------------------------------------------------------------------------

S27_ORACLE = """
WITH snapshot AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    UNION ALL
    SELECT o_orderkey + 50000000, o_orderpriority,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT)   AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM snapshot
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("s27_catalog_table", oracle=S27_ORACLE, impure=True)
def s27_catalog_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S27 — the persistent-catalog surface the temp-view entry
    (S5) deliberately avoids: `CREATE TABLE ... USING PARQUET
    LOCATION` registers a named table whose data outlives the
    DataFrame that wrote it, `INSERT INTO` appends through the
    catalog (not a path), and readers address it by NAME —
    `spark.table` / SQL — exactly how a multi-tenant deployment
    shares datasets. The table is EXTERNAL (scratch-dir location)
    so dropping it leaves data files intact — the catalog entry and
    the bytes have independent lifecycles, which is the property
    that makes metastore migration and table re-pointing safe at
    100 TB. Exact integer cents end-to-end (p13 discipline).

    The INSERT batch re-appends every URGENT order with offset
    keys, so the oracle's UNION ALL replay distinguishes "read the
    base data" from "read what the catalog accumulated"."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    loc = os.path.join(SCRATCH, f"s27_table_{tag}")
    shutil.rmtree(loc, ignore_errors=True)
    tbl = f"s27_orders_{tag}"

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    snapshot = orders.select("o_orderkey", "o_orderpriority", cents.alias("cents"))

    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl} "
        "(o_orderkey BIGINT, o_orderpriority STRING, cents BIGINT) "
        f"USING PARQUET LOCATION '{loc}'"
    )
    snapshot.write.insertInto(tbl)
    # append through the catalog: the second writer addresses the
    # NAME, knowing nothing about the location
    urgent = snapshot.filter(F.col("o_orderpriority") == "1-URGENT").select(
        (F.col("o_orderkey") + 50_000_000).alias("o_orderkey"),
        "o_orderpriority",
        "cents",
    )
    urgent.write.insertInto(tbl)

    return (
        spark.table(tbl)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# S28 — CSV dialect torture round-trip (quotes, escapes, newlines, nulls)
# --------------------------------------------------------------------------

import hashlib as _s28_hashlib

#: The corner cases that corrupt real CSV pipelines, as fixed rows.
_S28_ROWS: list[tuple[int, str | None]] = [
    (1, "plain"),
    (2, "comma, inside"),
    (3, 'double "quoted" words'),
    (4, "line one\nline two"),
    (5, "trailing space "),
    (6, ""),               # empty string — must NOT collapse to NULL
    (7, None),             # NULL — must NOT collapse to empty string
    (8, "unicode: café — 日本"),
    (9, "quote-comma: \",\" done"),
    (10, "\"leading and trailing\""),
]


def _s28_expected_sql() -> str:
    vals = []
    for i, s in _S28_ROWS:
        if s is None:
            vals.append(f"({i}, TRUE, CAST(NULL AS INT), CAST(NULL AS VARCHAR))")
        else:
            h = _s28_hashlib.md5(s.encode("utf-8")).hexdigest()
            vals.append(f"({i}, FALSE, {len(s)}, '{h}')")
    return (
        "SELECT CAST(id AS BIGINT) AS id, is_null,\n"
        "       CAST(n_chars AS BIGINT) AS n_chars, content_md5\n"
        "FROM (VALUES " + ", ".join(vals) + ") t(id, is_null, n_chars, content_md5)"
    )


@query("s28_csv_dialect", oracle=_s28_expected_sql(), impure=True)
def s28_csv_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S28 — the CSV corner cases that silently corrupt ingest
    pipelines, written and read back through Spark's CSV source
    with an explicit dialect: embedded delimiters, RFC-4180
    doubled quotes, NEWLINES inside quoted fields (requires
    `multiLine=true` on read — without it the reader splits the
    record and every downstream count is wrong), trailing
    whitespace (BOTH the reader and the writer trim by default — each side must opt out), unicode, and the
    empty-string-vs-NULL distinction (`nullValue='\\\\N'` on BOTH
    sides — the default empty-string sentinel makes the two
    indistinguishable, a classic silent data loss).

    The oracle is the a priori EXPECTED content as VALUES literals
    (id, null flag, length, md5) computed from the Python constants
    at registration time — the s19 binary pattern: the check does
    not depend on DuckDB's CSV parser agreeing about dialects, it
    pins Spark's write→read loop to ground truth. multiLine=true
    costs splittability (a quoted newline means record boundaries
    are not line boundaries, so each file parses as one task) —
    which is why the sink writes many small files: at 100 TB
    dialect-torture CSV parallelizes ACROSS files, never within
    one."""
    path = os.path.join(SCRATCH, "s28_dialect_csv")
    df = spark.createDataFrame(_S28_ROWS, "id long, content string")
    (
        df.repartition(4)
        .write.mode("overwrite")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", "\\N")
        # the WRITER trims by default too — both sides must opt out
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", "\\N")
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .schema("id long, content string")
        .csv(path)
    )
    return back.select(
        "id",
        F.col("content").isNull().alias("is_null"),
        F.length("content").cast("long").alias("n_chars"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# --------------------------------------------------------------------------
# S29 — SQL session variables (DECLARE / SET VARIABLE in query text)
# --------------------------------------------------------------------------

S29_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_big_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS big_total
FROM orders
WHERE o_totalprice > 250000.0
GROUP BY o_orderpriority
"""


@query("s29_sql_variables", oracle=S29_ORACLE, impure=True)
def s29_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S29 — ANSI SQL session variables: DECLARE VARIABLE / SET
    VARIABLE / reference-by-name inside query text. The third
    parameter-binding surface after s26's named :params and
    IDENTIFIER() — variables live server-side in the session, so a
    dashboard or stored procedure can set a threshold ONCE and
    every subsequent query reads it, with type checking at
    declaration instead of string splicing (the injection-safe
    replacement for f-string SQL).

    Binding is resolved at ANALYSIS time — the variable folds to a
    literal in the plan, so predicate pushdown sees a constant
    filter exactly as if it were written inline (same pushed scan
    as the oracle's literal form; variables cost nothing at
    execution). Oracle: the identical query with the value inlined,
    certifying that binding is semantically invisible."""
    register_views(spark, sf_dir, "orders")
    spark.sql("DECLARE OR REPLACE VARIABLE s29_min_price DOUBLE DEFAULT 0.0")
    spark.sql("SET VARIABLE s29_min_price = 250000.0")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_big_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                     AS DOUBLE), 6) AS big_total
        FROM orders
        WHERE o_totalprice > s29_min_price
        GROUP BY o_orderpriority
        """
    )


# --------------------------------------------------------------------------
# S31 — column DEFAULT values (DDL-declared, ALTER-able, INSERT-time)
# --------------------------------------------------------------------------

S31_ORACLE = """
SELECT * FROM (VALUES
    (CAST(1 AS BIGINT), 'new',    CAST(7  AS INTEGER)),
    (CAST(2 AS BIGINT), 'new',    CAST(7  AS INTEGER)),
    (CAST(3 AS BIGINT), 'active', CAST(7  AS INTEGER)),
    (CAST(4 AS BIGINT), 'new',    CAST(11 AS INTEGER)),
    (CAST(5 AS BIGINT), 'new',    CAST(99 AS INTEGER))
) AS t(id, status, score)
ORDER BY id
"""


@query("s31_column_defaults", oracle=S31_ORACLE, impure=True)
def s31_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S31 — DDL column DEFAULTs on a parquet catalog table: declared
    at CREATE, applied when an INSERT omits the column or names the
    DEFAULT keyword, and re-bindable via ALTER COLUMN SET DEFAULT —
    after which only FUTURE inserts see the new default (rows 1–2
    keep score 7; row 5, inserted after the ALTER, gets 99). That
    temporal split is the semantic worth pinning: defaults are
    INSERT-time expression bindings recorded in table metadata, not
    a backfill and not a read-time fill.

    The oracle is pinned VALUES ground truth (s28's pattern — the
    check is the SQL-surface contract itself, there is no
    second-engine DDL to replay). Scratch table per sf_dir tag,
    dropped and recreated each invocation so the accumulated state
    is exactly the scripted insert sequence.

    Scale: a default is a constant folded into the insert projection
    — zero read-path cost (the parquet files contain materialized
    values), which is why schema evolution at 100 TB pairs ALTER ADD
    COLUMN with DEFAULT instead of rewriting data (s15's
    read-side-missing-column fill is the complementary half)."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    loc = os.path.join(SCRATCH, f"s31_defaults_{tag}")
    shutil.rmtree(loc, ignore_errors=True)
    tbl = f"s31_defaults_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl} "
        "(id BIGINT, status STRING DEFAULT 'new', score INT DEFAULT 7) "
        f"USING PARQUET LOCATION '{loc}'"
    )
    spark.sql(f"INSERT INTO {tbl} (id) VALUES (1), (2)")
    spark.sql(f"INSERT INTO {tbl} (id, status) VALUES (3, 'active')")
    spark.sql(f"INSERT INTO {tbl} VALUES (4, DEFAULT, 11)")
    spark.sql(f"ALTER TABLE {tbl} ALTER COLUMN score SET DEFAULT 99")
    spark.sql(f"INSERT INTO {tbl} (id) VALUES (5)")
    return spark.table(tbl).orderBy("id")


# --------------------------------------------------------------------------
# S33 — partition discovery: MSCK REPAIR over an externally-written layout
# --------------------------------------------------------------------------

S33_ORACLE = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY 1
ORDER BY 1
"""


@query("s33_partition_discovery", oracle=S33_ORACLE, impure=True)
def s33_partition_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S33 — metastore partition discovery: data written
    DIRECTLY to a Hive-layout directory tree (o_year=YYYY/ part
    files — as an external writer, a backfill job, or a file-copy
    migration would) is INVISIBLE to a partitioned catalog table
    until ``MSCK REPAIR TABLE`` (alias ``ALTER TABLE ... RECOVER
    PARTITIONS``) walks the tree and registers what it finds. The
    query pins the full lifecycle: create the partitioned table
    over the pre-populated location, assert the zero-partitions
    blind spot (a COUNT before repair must see nothing — checked
    with a hard raise, not left to luck), repair, then aggregate
    per partition; the oracle recomputes the same rollup from the
    raw source.

    At 100 TB this is the operational difference between "the data
    landed" and "queries can see it": partition registration is
    metadata-only (no data scan — the repair walks directories),
    and the failure mode it guards against — silently querying a
    subset after a manual backfill — is exactly the blind spot the
    pre-repair assertion demonstrates."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    loc = os.path.join(SCRATCH, f"s33_orders_by_year_{tag}")
    shutil.rmtree(loc, ignore_errors=True)
    (orders,) = load_tables(spark, sf_dir, "orders")
    orders.withColumn(
        "o_year", F.year("o_orderdate").cast("long")
    ).write.mode("overwrite").partitionBy("o_year").parquet(loc)

    tbl = f"s33_orders_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl} "
        "(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        " o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING, "
        " o_year BIGINT) "
        f"USING PARQUET PARTITIONED BY (o_year) LOCATION '{loc}'"
    )
    blind = spark.table(tbl).count()
    if blind != 0:
        raise RuntimeError(
            f"s33: expected the pre-repair table to see ZERO rows "
            f"(no partitions registered), saw {blind}"
        )
    spark.sql(f"MSCK REPAIR TABLE {tbl}")
    return (
        spark.table(tbl)
        .groupBy("o_year")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# S35 — Python Data Source API (Spark 4): custom parallel source
# --------------------------------------------------------------------------

S35_PARTS = 4
S35_ROWS_PER_PART = 2500

S35_ORACLE = f"""
WITH feed AS (
    SELECT p.p AS part_id,
           p.p * {S35_ROWS_PER_PART} + i.i AS id,
           (p.p * {S35_ROWS_PER_PART} + i.i) * 37 % 100000 AS value_cents
    FROM generate_series(0, {S35_PARTS - 1}) p(p),
         generate_series(0, {S35_ROWS_PER_PART - 1}) i(i)
)
SELECT part_id,
       CAST(COUNT(*) AS BIGINT)    AS n_rows,
       CAST(MIN(id) AS BIGINT)     AS min_id,
       CAST(MAX(id) AS BIGINT)     AS max_id,
       CAST(SUM(value_cents) AS BIGINT) AS total_cents
FROM feed
GROUP BY part_id
ORDER BY part_id
"""


@query("s35_python_datasource", oracle=S35_ORACLE, impure=True)
def s35_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S35 — the Python Data Source API (Spark 4.0,
    ``pyspark.sql.datasource``): a custom source whose
    ``partitions()`` plan fans the scan out across executors and
    whose per-partition ``read()`` generator yields the rows — the
    escape hatch that turns any REST pager, proprietary format, or
    synthetic feed into a PARALLEL DataFrame scan with options,
    schema, and partition planning owned by Python code. This is the
    modern replacement for the "collect it on the driver then
    parallelize()" anti-pattern: each partition reads on an
    executor, so ingest bandwidth scales with the cluster, not the
    driver.

    The source here is a deterministic arithmetic feed (id =
    part·N + i, value_cents = id·37 mod 100000) precisely so the
    oracle can replay it relationally (generate_series) and every
    aggregate is integer-exact — what's pinned is the API's
    partition planning (4 partitions, disjoint id ranges must
    surface intact), option passing (rows-per-partition arrives via
    ``.option()``), and iterator semantics (no dropped or duplicated
    rows across the partition boundary).

    Registered impure: source registration is session state."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _FeedReader(DataSourceReader):
        def __init__(self, options):
            self.rows = int(options.get("rows_per_part", "10"))
            self.parts = int(options.get("parts", "2"))

        def partitions(self):
            return [InputPartition(p) for p in range(self.parts)]

        def read(self, partition):
            base = partition.value * self.rows
            for i in range(self.rows):
                ident = base + i
                yield (partition.value, ident, ident * 37 % 100000)

    class _Feed(DataSource):
        @classmethod
        def name(cls) -> str:
            return "hetnetdb_feed"

        def schema(self) -> str:
            return "part_id INT, id BIGINT, value_cents BIGINT"

        def reader(self, schema):
            return _FeedReader(self.options)

    spark.dataSource.register(_Feed)
    feed = (
        spark.read.format("hetnetdb_feed")
        .option("rows_per_part", str(S35_ROWS_PER_PART))
        .option("parts", str(S35_PARTS))
        .load()
    )
    return (
        feed.groupBy("part_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("id").cast("bigint").alias("min_id"),
            F.max("id").cast("bigint").alias("max_id"),
            F.sum("value_cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("part_id")
    )


# --------------------------------------------------------------------------
# S36 — table metadata: TBLPROPERTIES lifecycle (set, override, read)
# --------------------------------------------------------------------------

S36_ORACLE = """
SELECT * FROM (VALUES
    ('comment',        'orders snapshot for retention demo'),
    ('data.owner',     'pipeline'),
    ('retention.days', '90'),
    ('tier',           'gold')
) AS t(key, value)
ORDER BY key
"""


@query("s36_table_properties", oracle=S36_ORACLE, impure=True)
def s36_table_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S36 — catalog metadata as a first-class surface: table
    COMMENT and TBLPROPERTIES declared at CREATE, overridden by
    ALTER TABLE SET TBLPROPERTIES (retention.days 30 → 90 — the
    LAST write must win), extended with new keys, and read back via
    SHOW TBLPROPERTIES. Governance tooling (l31's dataset card is
    the query-side consumer) lives on exactly this: ownership,
    retention, and tier tags that travel WITH the table through the
    metastore rather than in a wiki. Two measured catalog facts
    recorded here: `owner` is a RESERVED property (Spark force-sets
    it to the current user — portable metadata namespaces its keys,
    data.owner), and the COMMENT is NOT a tblproperty at all — it
    lives on the catalog entry (`spark.catalog.getTable().description`)
    and SHOW TBLPROPERTIES omits it, so the query reads it from the
    catalog API and pins both surfaces side by side;
    engine-internal properties (provider, location timestamps) are
    filtered by prefix so the contract stays engine-portable.

    Oracle is pinned VALUES (s28's pattern — there is no second
    metastore to replay; the check is the lifecycle contract
    itself). Scale: metadata-only — no data files are touched by
    any statement here except the empty CREATE."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    loc = os.path.join(SCRATCH, f"s36_props_{tag}")
    shutil.rmtree(loc, ignore_errors=True)
    tbl = f"s36_props_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl} (id BIGINT) USING PARQUET "
        f"COMMENT 'orders snapshot for retention demo' "
        f"TBLPROPERTIES ('data.owner'='pipeline', 'retention.days'='30') "
        f"LOCATION '{loc}'"
    )
    spark.sql(
        f"ALTER TABLE {tbl} SET TBLPROPERTIES "
        "('retention.days'='90', 'tier'='gold')"
    )
    props = spark.sql(f"SHOW TBLPROPERTIES {tbl}")
    comment = spark.catalog.getTable(tbl).description
    comment_row = spark.createDataFrame(
        [("comment", comment)], "key string, value string"
    )
    return (
        props.filter(
            F.col("key").isin("data.owner", "retention.days", "tier")
        )
        .select("key", "value")
        .unionByName(comment_row)
        .orderBy("key")
    )


# --------------------------------------------------------------------------
# S37 — Python Data Source WRITE path (executor writers + driver commit)
# --------------------------------------------------------------------------

S37_PARTS = 4

S37_ORACLE = f"""
WITH src AS (
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey % 10 = 1
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT)                 AS n_rows,
       CAST({S37_PARTS} AS BIGINT)              AS manifest_tasks,
       CAST((SELECT COUNT(*) FROM src) AS BIGINT) AS manifest_total
FROM src
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("s37_python_datasource_sink", oracle=S37_ORACLE, impure=True)
def s37_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S37 — the WRITE half of the Python Data Source API (s35/t16
    covered reads): per-partition ``DataSourceWriter.write``
    executes ON EXECUTORS (each task streams its rows to its own
    file and returns a WriterCommitMessage), and the driver-side
    ``commit`` runs exactly once with ALL task messages — the
    two-phase protocol that lets a custom Python sink (vendor API,
    manifest-tracked export) get atomic all-or-nothing semantics
    without reinventing it. The writer here emits one CSV file per
    task plus a commit-time manifest recording (task count, total
    rows); the query reads the DATA FILES back through the normal
    reader and cross-checks them against the MANIFEST — data/
    manifest agreement is precisely what the commit protocol
    guarantees (a task that wrote but failed before reporting would
    break it; abort() is the cleanup hook).

    Deployment note: the writers target a SCRATCH path that is
    driver-local; the data/manifest cross-check works here because
    local-mode executors share the driver filesystem. On a real
    cluster the same protocol needs a SHARED filesystem (object
    store / DFS) path — the commit messages are the portable part,
    the file destination is not. The test pins the two-phase
    protocol shape, not the storage layout.

    Oracle: the same per-priority census from the source relation,
    with manifest_tasks pinned to the repartition width and
    manifest_total to the source count — all integer-exact."""
    import csv as _csv
    import io as _io
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    outdir = os.path.join(SCRATCH, f"s37_sink_{tag}")
    shutil.rmtree(outdir, ignore_errors=True)
    os.makedirs(outdir, exist_ok=True)

    class _Msg(WriterCommitMessage):
        def __init__(self, n: int) -> None:
            self.n = n

    class _TaskWriter(DataSourceWriter):
        def __init__(self, options):
            self.dir = options["path"]

        def write(self, rows):
            path = os.path.join(self.dir, f"part-{_uuid.uuid4().hex}.csv")
            buf = _io.StringIO()
            w = _csv.writer(buf)
            n = 0
            for r in rows:
                w.writerow([r[0], r[1]])
                n += 1
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            return _Msg(n)

        def commit(self, messages):
            total = sum(m.n for m in messages)
            with open(os.path.join(self.dir, "_MANIFEST"), "w") as fh:
                fh.write(f"{len(messages)},{total}\n")

        def abort(self, messages):
            pass

    class _Sink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "hetnetdb_manifest_sink"

        def writer(self, schema, overwrite):
            return _TaskWriter(self.options)

    spark.dataSource.register(_Sink)
    (orders,) = load_tables(spark, sf_dir, "orders")
    src = orders.filter(F.col("o_orderkey") % 10 == 1).select(
        "o_orderkey", "o_orderpriority"
    )
    src.repartition(S37_PARTS).write.format("hetnetdb_manifest_sink").option(
        "path", outdir
    ).mode("append").save()

    n_tasks, n_total = (
        open(os.path.join(outdir, "_MANIFEST")).read().strip().split(",")
    )
    back = spark.read.schema("o_orderkey BIGINT, o_orderpriority STRING").csv(
        os.path.join(outdir, "part-*.csv")
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select(
            "o_orderpriority",
            "n_rows",
            F.lit(int(n_tasks)).cast("bigint").alias("manifest_tasks"),
            F.lit(int(n_total)).cast("bigint").alias("manifest_total"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# S39 — Python Data Source filter pushdown (pushFilters, Spark 4.1)
# --------------------------------------------------------------------------

S39_PARTS = 4
S39_ROWS_PER_PART = 5000
S39_LO = 3_000   # inclusive lower bound pushed into the reader
S39_HI = 17_500  # exclusive upper bound pushed into the reader

S39_ORACLE = f"""
WITH feed AS (
    SELECT p.p AS part_id,
           p.p * {S39_ROWS_PER_PART} + i.i AS id,
           (p.p * {S39_ROWS_PER_PART} + i.i) * 37 % 100000 AS value_cents
    FROM generate_series(0, {S39_PARTS - 1}) p(p),
         generate_series(0, {S39_ROWS_PER_PART - 1}) i(i)
)
SELECT part_id,
       CAST(COUNT(*) AS BIGINT)         AS n_rows,
       CAST(MIN(id) AS BIGINT)          AS min_id,
       CAST(MAX(id) AS BIGINT)          AS max_id,
       CAST(SUM(value_cents) AS BIGINT) AS total_cents,
       CAST(1 AS BIGINT)                AS bounds_pushed
FROM feed
WHERE id >= {S39_LO} AND id < {S39_HI}
GROUP BY part_id
ORDER BY part_id
"""


@query("s39_python_datasource_pushdown", oracle=S39_ORACLE, impure=True)
def s39_python_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S39 — `DataSourceReader.pushFilters` (Spark 4.1): the scan
    itself, not a post-scan Filter node, enforces the predicate.
    s35 proved a Python source can FAN OUT; this proves it can
    SKIP — the property the whole 100 TB posture hangs on: a REST
    pager that receives `id >= lo AND id < hi` fetches only the
    matching pages, instead of shipping the full feed and letting
    Spark discard it.

    The pushdown is certified IN the value hash, not by plan
    inspection: every emitted row carries `bounds_pushed = 1` iff
    the reader received BOTH range filters before serialization
    (pushFilters runs on the driver; the accepted bounds ride into
    executors inside the pickled reader). If pushdown silently
    stopped engaging — conf renamed, API regressed, filters
    re-translated — Spark would still post-filter the ids (results
    otherwise identical), but `bounds_pushed` would read 0 and the
    oracle's constant-1 column fails the hash. Filters other than
    the two recognized range shapes (e.g. the IsNotNull Spark may
    synthesize) are yielded back as unsupported, per the API
    contract: a reader must only keep what it fully honors —
    keeping a filter it half-applies would silently drop rows,
    yielding one it applied merely double-filters.

    `spark.sql.python.filterPushdown.enabled` is false by default in
    4.1; it is enabled here scoped (save/restore) like every other
    session-knob query — and because pushdown engages at PHYSICAL
    planning, the 4-row aggregate is materialized INSIDE the scope
    (a lazily-returned plan would be planned only after the finally
    block re-disabled the conf, and bounds_pushed would read 0).
    The collect is the emission gate, not a data path: 4 rows, one
    per source partition. Registered impure: source registration
    and the conf flip are session state."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        GreaterThanOrEqual,
        InputPartition,
        LessThan,
    )

    class _PushReader(DataSourceReader):
        def __init__(self, options):
            self.rows = int(options.get("rows_per_part", "10"))
            self.parts = int(options.get("parts", "2"))
            self.lo = None
            self.hi = None

        def pushFilters(self, filters):
            for f in filters:
                if (
                    isinstance(f, GreaterThanOrEqual)
                    and tuple(f.attribute) == ("id",)
                ):
                    self.lo = int(f.value)
                elif isinstance(f, LessThan) and tuple(f.attribute) == ("id",):
                    self.hi = int(f.value)
                else:
                    yield f

        def partitions(self):
            return [InputPartition(p) for p in range(self.parts)]

        def read(self, partition):
            pushed = 1 if (self.lo is not None and self.hi is not None) else 0
            base = partition.value * self.rows
            lo = base if self.lo is None else max(base, self.lo)
            hi = base + self.rows if self.hi is None else min(base + self.rows, self.hi)
            for ident in range(lo, hi):
                yield (partition.value, ident, ident * 37 % 100000, pushed)

    class _PushFeed(DataSource):
        @classmethod
        def name(cls) -> str:
            return "hetnetdb_push_feed"

        def schema(self) -> str:
            return "part_id INT, id BIGINT, value_cents BIGINT, bounds_pushed BIGINT"

        def reader(self, schema):
            return _PushReader(self.options)

    with conf_scope(spark, {"spark.sql.python.filterPushdown.enabled": "true"}):
        spark.dataSource.register(_PushFeed)
        feed = (
            spark.read.format("hetnetdb_push_feed")
            .option("rows_per_part", str(S39_ROWS_PER_PART))
            .option("parts", str(S39_PARTS))
            .load()
            .filter((F.col("id") >= S39_LO) & (F.col("id") < S39_HI))
        )
        agg_rows = (
            feed.groupBy("part_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.min("id").cast("bigint").alias("min_id"),
                F.max("id").cast("bigint").alias("max_id"),
                F.sum("value_cents").cast("bigint").alias("total_cents"),
                F.max("bounds_pushed").cast("bigint").alias("bounds_pushed"),
            )
            .orderBy("part_id")
            .collect()
        )
        return spark.createDataFrame(
            agg_rows,
            "part_id int, n_rows bigint, min_id bigint, max_id bigint, "
            "total_cents bigint, bounds_pushed bigint",
        ).orderBy("part_id")


# --------------------------------------------------------------------------
# S42 — targeted delete (GDPR erasure): manifest-pruned copy-on-write
# --------------------------------------------------------------------------

S42_N_SHARDS = 8

S42_ORACLE = f"""
WITH bounds AS (
    SELECT CAST(FLOOR((MAX(doc_id) + {S42_N_SHARDS}) / {S42_N_SHARDS}.0)
                AS BIGINT) AS span
    FROM documents
),
d AS (
    SELECT doc_id, text,
           CAST(FLOOR(doc_id / span) AS BIGINT) AS shard,
           (doc_id BETWEEN span * 2 AND span * 2 + CAST(FLOOR(span / 4.0) AS BIGINT))
           OR (doc_id BETWEEN span * 5 AND span * 5 + CAST(FLOOR(span / 4.0) AS BIGINT))
               AS is_target,
           -- the MANIFEST pruning decision, replayed from the same
           -- range arithmetic the engine uses (ADVICE r10: a literal
           -- IN (2,5) would certify nothing if the target ranges or
           -- shard count changed): shard [s*span, (s+1)*span)
           -- intersects inclusive target range [lo, lo+quarter]
           (   (span * 2 < (CAST(FLOOR(doc_id / span) AS BIGINT) + 1) * span
                AND span * 2 + CAST(FLOOR(span / 4.0) AS BIGINT)
                    >= CAST(FLOOR(doc_id / span) AS BIGINT) * span)
            OR (span * 5 < (CAST(FLOOR(doc_id / span) AS BIGINT) + 1) * span
                AND span * 5 + CAST(FLOOR(span / 4.0) AS BIGINT)
                    >= CAST(FLOOR(doc_id / span) AS BIGINT) * span)
           ) AS shard_hit
    FROM documents, bounds
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT)                                   AS n_before,
       CAST(COUNT(*) FILTER (WHERE NOT is_target) AS BIGINT)      AS n_after,
       CAST(COUNT(*) FILTER (WHERE is_target) AS BIGINT)          AS n_deleted,
       BOOL_OR(shard_hit)                                         AS rewritten,
       CAST(COALESCE(SUM(LENGTH(text)) FILTER (WHERE NOT is_target), 0)
            AS BIGINT)                                            AS chars_after
FROM d
GROUP BY shard
ORDER BY shard
"""


@query("s42_targeted_delete", oracle=S42_ORACLE, impure=True)
def s42_targeted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S42 — targeted row deletion (the GDPR/right-to-be-forgotten
    write path) as manifest-pruned copy-on-write: the store is
    range-sharded on doc_id (8 shards, span = ceil((max+1)/8), one
    file per shard), the delete set is two id RANGES that land
    entirely inside shards 2 and 5 by construction, and the rewrite
    touches ONLY the shards whose [lo, hi) range intersects a target
    range — pruning decided from the MANIFEST's range stats, no scan
    of the six untouched shards. The v2 manifest (s24's mechanism)
    lists the two new files plus v1's six originals verbatim, so the
    certified output is read back THROUGH the post-delete manifest:
    per shard, rows before/after, rows deleted, whether the shard
    was rewritten, and the surviving text mass in exact characters —
    a silently-undeleted target, an over-deleted survivor, or a
    rewrite that touched the wrong shard all fail the hash.

    At 100 TB this is the only shape an erasure job can take: the
    fleet-wide cost is proportional to the files that CONTAIN
    targets (located by range/bloom stats), not to the table; the
    untouched 99.9% of files transfer to the new snapshot as
    manifest lines. The one driver materialization is MAX(doc_id)
    (a 1-row collect to size the shard span at build time; the
    oracle derives the same span relationally).

    Registered impure: scratch-dir store build + rewrite."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    base = os.path.join(SCRATCH, f"s42_store_{tag}")
    shutil.rmtree(base, ignore_errors=True)

    max_id = documents.agg(F.max("doc_id")).collect()[0][0]
    span = (max_id + S42_N_SHARDS) // S42_N_SHARDS  # == ceil((max+1)/8)
    quarter = span // 4

    table = documents.select(
        "doc_id",
        "text",
        F.expr(f"doc_id div {span}").alias("shard"),
        F.expr(f"doc_id div {span}").alias("shard_id"),  # survives partitionBy
    )
    v1_dir = os.path.join(base, "v1")
    table.repartition("shard").write.partitionBy("shard").parquet(v1_dir)

    def shard_files(root: str) -> dict[int, list[str]]:
        out: dict[int, list[str]] = {}
        for d in os.listdir(root):
            if d.startswith("shard="):
                s = int(d.split("=", 1)[1])
                out[s] = sorted(
                    os.path.join(root, d, f)
                    for f in os.listdir(os.path.join(root, d))
                    if f.endswith(".parquet")
                )
        return out

    manifest_v1 = shard_files(v1_dir)

    # Target ranges sit inside shards 2 and 5 by construction; the
    # prune intersects each shard's [s*span, (s+1)*span) against
    # them — manifest range stats, not data.
    target_ranges = [
        (span * 2, span * 2 + quarter),
        (span * 5, span * 5 + quarter),
    ]
    tgt = F.lit(False)
    for lo, hi in target_ranges:
        tgt = tgt | F.col("doc_id").between(lo, hi)
    rewritten = sorted(
        s
        for s in manifest_v1
        if any(lo < (s + 1) * span and hi >= s * span for lo, hi in target_ranges)
    )

    v2_dir = os.path.join(base, "v2")
    (
        table.filter(F.col("shard").isin(rewritten) & ~tgt)
        .repartition("shard")
        .write.partitionBy("shard")
        .parquet(v2_dir)
    )
    manifest_v2 = dict(manifest_v1)
    manifest_v2.update(
        {s: fs for s, fs in shard_files(v2_dir).items()}
    )
    # A rewritten shard whose survivors are zero rows writes no
    # files; the delete then removes it from the manifest entirely.
    for s in rewritten:
        if s not in shard_files(v2_dir):
            manifest_v2.pop(s, None)

    before = spark.read.parquet(*[f for fs in manifest_v1.values() for f in fs])
    after = spark.read.parquet(*[f for fs in manifest_v2.values() for f in fs])

    agg_before = before.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_before")
    )
    agg_after = after.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum(F.length("text").cast("long")).alias("chars_after"),
    )
    return (
        agg_before.join(agg_after, "shard_id", "left")
        .select(
            F.col("shard_id").alias("shard"),
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            (F.col("n_before") - F.coalesce("n_after", F.lit(0))).alias("n_deleted"),
            # the COMPUTED manifest-prune intersection list — the
            # column now certifies the pruning decision itself
            # (ADVICE r10), not a constant that mirrors it
            F.col("shard_id").isin(rewritten).alias("rewritten"),
            F.coalesce("chars_after", F.lit(0)).alias("chars_after"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# S43 — vacuum / retention: delete files superseded by the latest snapshot
# --------------------------------------------------------------------------

S43_ORACLE = """
SELECT CAST(date_part('year', o_orderdate) AS BIGINT)      AS o_year,
       CAST(COUNT(*) AS BIGINT)                            AS n_orders,
       CAST(SUM(CASE WHEN date_part('year', o_orderdate) = 2001
                     THEN CAST(ROUND(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                               * 1.1) AS BIGINT)
                     ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT)
                END) AS BIGINT)                            AS sum_cents,
       BOOL_OR(date_part('year', o_orderdate) = 2001)      AS vacuumed
FROM orders
GROUP BY o_year
ORDER BY o_year
"""


@query("s43_vacuum_retention", oracle=S43_ORACLE, impure=True)
def s43_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S43 — vacuum/retention on the copy-on-write store: the
    companion write-path op to s24 (snapshot reads) and s42
    (targeted erasure). Retention policy "keep latest only": a file
    is vacuumable iff it is referenced by the SUPERSEDED manifest
    (v1) and NOT by the live one (v2) — a pure manifest diff, never
    a data scan; here that is exactly 2001's original files, which
    v2's re-price replaced. The diff'd files are physically
    deleted, then the certified output is read back THROUGH the
    LIVE manifest over the post-vacuum store: per year, row count,
    exact cents total (carrying v2's 2001 re-price), and the
    vacuumed flag derived from the computed diff (the s42 lesson:
    certify the decision, not a mirrored constant). A vacuum that
    deletes a live file breaks the year's count/sum; one that
    misses a superseded file trips the loud invariants below.

    At 100 TB this is the only affordable shape for retention: cost
    proportional to the manifest diff (metadata), the delete set
    itself is embarrassingly parallel, and no reader stalls — the
    live manifest never referenced the vacuumed files.

    Engine-side invariants (raise, so the driver records err rather
    than a silently-passing hash): every diff'd file is gone, every
    live-manifest file survives.

    Registered impure: scratch-dir store build + physical deletes."""
    manifest_v1, manifest_v2 = _cow_orders_store(spark, sf_dir, "s43_store")

    live = {f for fl in manifest_v2.values() for f in fl}
    superseded = {
        f for fl in manifest_v1.values() for f in fl if f not in live
    }
    vacuumed_years = sorted(
        y
        for y, fl in manifest_v1.items()
        if any(f in superseded for f in fl)
    )
    for f in superseded:
        os.remove(f)

    leftovers = [f for f in superseded if os.path.exists(f)]
    if leftovers:
        raise RuntimeError(f"s43: superseded files survived vacuum: {leftovers[:3]}")
    missing = [f for f in live if not os.path.exists(f)]
    if missing:
        raise RuntimeError(f"s43: vacuum deleted LIVE files: {missing[:3]}")

    # per-year reads through the live manifest: raw file reads drop
    # the hive partition column, so the year rides in as a literal
    # from the manifest key — exactly how a manifest-driven reader
    # attaches partition values at 100 TB (they live in metadata,
    # not in the data files)
    parts = [
        spark.read.parquet(*files).select(
            F.lit(year).cast("bigint").alias("o_year"), "cents"
        )
        for year, files in sorted(manifest_v2.items())
    ]
    snap = parts[0]
    for p in parts[1:]:
        snap = snap.unionByName(p)
    return (
        snap.groupBy("o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            "o_year",
            "n_orders",
            "sum_cents",
            F.col("o_year").isin(vacuumed_years).alias("vacuumed"),
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# S44 — Python DataSource SINK (custom write path, two-phase commit)
# --------------------------------------------------------------------------

S44_SHARDS = 3

S44_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT)          AS n_rows,
       CAST(SUM(n_nationkey) AS BIGINT)  AS sum_nationkey,
       CAST(SUM(n_regionkey) AS BIGINT)  AS sum_regionkey,
       CAST({S44_SHARDS} AS BIGINT)      AS n_shards,
       TRUE                              AS committed
FROM nation
"""


@query("s44_python_datasource_sink", oracle=S44_ORACLE, impure=True)
def s44_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S44 — the WRITE half of Spark 4's Python DataSource API
    (s39 certifies the read+pushdown half): a custom JSON-lines
    sink with a real two-phase commit. Executor tasks stream their
    partition to a TEMP file and return a commit message carrying
    (temp path, row count, key checksum); only the driver-side
    `commit()` promotes temps to final shard files and writes the
    _MANIFEST — so a failed/straggler task's output is never
    visible (its `abort()` deletes the temp), which is the entire
    correctness story of any distributed sink: readers see the
    atomic manifest flip or nothing. At 100 TB this exact protocol
    is how every table-format writer works (task temps + driver
    metadata commit); the Python surface makes arbitrary
    systems-of-record scriptable sinks without a JVM connector.

    Certified by reading the store back THROUGH the manifest (the
    s24/s42/s43 discipline): row count and exact integer key sums
    over the committed files, shard count from the manifest, and
    `committed` — derived from the engine-side invariants (manifest
    present, every listed file present, NO temp files left, commit
    message counts equal to file line counts), each of which raises
    loudly on violation instead of letting the hash pass. A sink
    that dropped a partition, double-wrote one, or leaked a temp
    breaks the sums, the count, or the invariants.

    Registered impure: datasource registration + scratch writes."""
    import json as _json

    from pyspark import TaskContext
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    (nation,) = load_tables(spark, sf_dir, "nation")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    base = os.path.join(SCRATCH, f"s44_sink_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(os.path.join(base, "_temp"), exist_ok=True)

    class _Msg(WriterCommitMessage):
        def __init__(self, temp_path: str, n: int, key_sum: int) -> None:
            self.temp_path = temp_path
            self.n = n
            self.key_sum = key_sum

    class _JsonlWriter(DataSourceWriter):
        def __init__(self, options) -> None:
            self.base = options.get("path")

        def write(self, iterator):
            # Attempt-unique temp name: under task retry or
            # speculative execution two attempts of the SAME
            # partition run concurrently; keying the temp on
            # partitionId alone would have them clobber one file and
            # a zombie straggler could corrupt the bytes the winning
            # attempt's commit message points at. With the attempt id
            # in the name each attempt owns its file and commit()
            # promotes only the paths carried by winning messages
            # (losing-attempt files are swept as zombies there).
            ctx = TaskContext.get()
            temp = os.path.join(
                self.base,
                "_temp",
                f"part-{ctx.partitionId()}-attempt-{ctx.taskAttemptId()}.jsonl",
            )
            n = 0
            key_sum = 0
            with open(temp, "w") as fh:
                for row in iterator:
                    fh.write(
                        _json.dumps(
                            {
                                "n_nationkey": row.n_nationkey,
                                "n_name": row.n_name,
                                "n_regionkey": row.n_regionkey,
                            }
                        )
                        + "\n"
                    )
                    n += 1
                    key_sum += int(row.n_nationkey)
            return _Msg(temp, n, key_sum)

        def commit(self, messages):
            files = []
            for i, m in enumerate(sorted(messages, key=lambda m: m.temp_path)):
                final = os.path.join(self.base, f"shard-{i}.jsonl")
                os.replace(m.temp_path, final)
                files.append(
                    {"file": final, "n": m.n, "key_sum": m.key_sum}
                )
            # Sweep zombie-attempt temps: anything still in _temp was
            # written by a losing attempt (retry/speculation) whose
            # message never reached the driver. Only the promoted
            # paths above are data; everything else is garbage.
            temp_dir = os.path.join(self.base, "_temp")
            for leftover in os.listdir(temp_dir):
                try:
                    os.remove(os.path.join(temp_dir, leftover))
                except OSError:
                    pass
            manifest = os.path.join(self.base, "_MANIFEST.json")
            with open(manifest, "w") as fh:
                _json.dump({"files": files}, fh)

        def abort(self, messages):
            for m in messages:
                # Spark passes None for tasks that failed before
                # returning a commit message — skip those instead of
                # raising AttributeError inside abort (which would
                # mask the original task failure and leak the
                # surviving attempts' temps).
                if m is None:
                    continue
                try:
                    os.remove(m.temp_path)
                except OSError:
                    pass

    class _JsonlSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "hetnetdb_jsonl_sink"

        def writer(self, schema, overwrite):
            return _JsonlWriter(self.options)

    spark.dataSource.register(_JsonlSink)
    (
        nation.select("n_nationkey", "n_name", "n_regionkey")
        .repartition(S44_SHARDS)
        .write.format("hetnetdb_jsonl_sink")
        .mode("append")
        .option("path", base)
        .save()
    )

    manifest_path = os.path.join(base, "_MANIFEST.json")
    if not os.path.exists(manifest_path):
        raise RuntimeError("s44: commit() never wrote the manifest")
    with open(manifest_path) as fh:
        manifest = _json.load(fh)
    files = manifest["files"]
    leftovers = os.listdir(os.path.join(base, "_temp"))
    if leftovers:
        raise RuntimeError(f"s44: temp files leaked past commit: {leftovers}")
    for entry in files:
        if not os.path.exists(entry["file"]):
            raise RuntimeError(f"s44: manifest lists missing file {entry['file']}")
        with open(entry["file"]) as fh:
            n_lines = sum(1 for _ in fh)
        if n_lines != entry["n"]:
            raise RuntimeError(
                f"s44: commit message count {entry['n']} != file lines {n_lines}"
            )

    back = spark.read.schema(
        "n_nationkey bigint, n_name string, n_regionkey bigint"
    ).json([e["file"] for e in files])
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_nationkey").cast("bigint").alias("sum_nationkey"),
        F.sum("n_regionkey").cast("bigint").alias("sum_regionkey"),
    ).select(
        "n_rows",
        "sum_nationkey",
        "sum_regionkey",
        F.lit(len(files)).cast("bigint").alias("n_shards"),
        F.lit(True).alias("committed"),
    )


# --------------------------------------------------------------------------
# S45 — parquet robustness (corrupted footer + schema drift)
# --------------------------------------------------------------------------

S45_ORACLE = """
SELECT CAST(COUNT(*) FILTER (WHERE n_nationkey % 3 <> 2) AS BIGINT)
           AS n_ignorecorrupt,
       CAST(1 AS BIGINT)                                  AS failfast_raised,
       CAST(SUM(n_nationkey) FILTER (WHERE n_nationkey % 3 <> 2) AS BIGINT)
           AS key_sum_survivors,
       CAST(COUNT(*) AS BIGINT)                           AS n_drift_total,
       CAST(COUNT(*) FILTER (WHERE n_nationkey % 2 = 0) AS BIGINT)
           AS n_drift_missing_col
FROM nation
"""


@query("s45_parquet_robustness", oracle=S45_ORACLE, impure=True)
def s45_parquet_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S45 (r12 verdict item 6) — the parquet twin of the s23/s28
    CSV/JSON torture queries: the two failure modes a long-lived
    parquet lake actually produces, with the accounting oracle-
    pinned against exact arithmetic over nation.

    **Corrupted footer.** nation is written as three single-file
    shards (n_nationkey % 3); shard 2's file is then truncated to
    half its length, destroying the footer magic. The dir is read
    twice with an EXPLICIT schema (no inference scan): once with
    the per-read ``ignoreCorruptFiles`` option — the two intact
    shards' rows survive, the accounting proves exactly the %3==2
    rows were lost — and once in the default failfast mode, which
    MUST raise (a lake that silently drops data without being told
    to is worse than one that fails); the raise is caught and
    recorded as `failfast_raised`.

    **Schema drift.** A second dir holds one file written by an old
    writer (3 columns) and one by a new writer (adds
    n_name_len BIGINT); reading with ``mergeSchema`` widens the
    union schema and old-file rows surface NULL for the new column
    — `n_drift_missing_col` pins exactly how many.

    Scale posture: both knobs are per-read options, not session
    state; schema-explicit reads skip footer-based inference over
    the healthy files; all aggregation is map-side over
    column-pruned scans. At 100 TB the same two options are the
    difference between a 1000-executor job dying at 99% on one bad
    file and a quarantine report."""
    (nation,) = load_tables(spark, sf_dir, "nation")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    base = os.path.join(SCRATCH, f"s45_{tag}")
    shutil.rmtree(base, ignore_errors=True)

    cols = nation.select("n_nationkey", "n_name", "n_regionkey")
    corrupt_dir = os.path.join(base, "corrupt")
    os.makedirs(corrupt_dir)
    for shard in range(3):
        shard_dir = os.path.join(base, f"_stage{shard}")
        cols.filter(F.col("n_nationkey") % 3 == shard).coalesce(
            1
        ).write.mode("overwrite").parquet(shard_dir)
        (part,) = [
            f for f in os.listdir(shard_dir) if f.endswith(".parquet")
        ]
        os.rename(
            os.path.join(shard_dir, part),
            os.path.join(corrupt_dir, f"shard{shard}.parquet"),
        )
    victim = os.path.join(corrupt_dir, "shard2.parquet")
    size = os.path.getsize(victim)
    with open(victim, "r+b") as fh:  # destroy the footer, keep the file
        fh.truncate(size // 2)

    schema = "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
    survivors = (
        spark.read.schema(schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(corrupt_dir)
        .agg(
            F.count(F.lit(1)).alias("n_ignorecorrupt"),
            F.sum("n_nationkey").cast("bigint").alias("key_sum_survivors"),
        )
    )
    failfast_raised = 0
    try:
        spark.read.schema(schema).parquet(corrupt_dir).agg(
            F.count(F.lit(1))
        ).collect()
    except Exception:  # noqa: BLE001 — the raise IS the contract
        failfast_raised = 1

    drift_dir = os.path.join(base, "drift")
    cols.filter(F.col("n_nationkey") % 2 == 0).write.mode(
        "overwrite"
    ).parquet(os.path.join(drift_dir, "old"))
    cols.filter(F.col("n_nationkey") % 2 == 1).withColumn(
        "n_name_len", F.length("n_name").cast("bigint")
    ).write.mode("overwrite").parquet(os.path.join(drift_dir, "new"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(drift_dir, "old"), os.path.join(drift_dir, "new")
    )
    drift = merged.agg(
        F.count(F.lit(1)).alias("n_drift_total"),
        F.count(F.when(F.col("n_name_len").isNull(), 1)).alias(
            "n_drift_missing_col"
        ),
    )
    return survivors.crossJoin(drift).select(
        "n_ignorecorrupt",
        F.lit(failfast_raised).cast("bigint").alias("failfast_raised"),
        "key_sum_survivors",
        "n_drift_total",
        "n_drift_missing_col",
    )


# --------------------------------------------------------------------------
# S46 — full MERGE INTO semantics (match conditions + delete clauses)
# --------------------------------------------------------------------------

S46_ORACLE = """
WITH t AS (
    SELECT o_orderkey AS k, o_totalprice AS price,
           o_orderpriority AS prio, 1 AS version
    FROM orders
),
cdc AS (
    SELECT o_orderkey AS k, 'D' AS op, CAST(NULL AS DOUBLE) AS new_price
    FROM orders WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT -o_orderkey, 'D', CAST(NULL AS DOUBLE)
    FROM orders WHERE o_orderkey % 10 = 9
    UNION ALL
    SELECT o_orderkey, 'U', ROUND(o_totalprice + 50.0, 6)
    FROM orders WHERE o_orderkey % 10 IN (1, 5)
    UNION ALL
    SELECT -o_orderkey, 'I', ROUND(o_totalprice / 2, 6)
    FROM orders WHERE o_orderkey % 10 = 0
),
merged AS (
    SELECT COALESCE(t.k, c.k) AS k,
           CASE
             WHEN t.k IS NOT NULL AND c.op = 'D' THEN 'deleted'
             WHEN t.k IS NOT NULL AND c.op = 'U'
                  AND t.prio <> '1-URGENT'       THEN 'updated'
             WHEN t.k IS NOT NULL AND c.op = 'U' THEN 'match_skipped'
             WHEN t.k IS NOT NULL                THEN 'carried'
             WHEN c.op = 'I'                     THEN 'inserted'
             ELSE 'noop_delete'
           END AS action,
           CASE
             WHEN t.k IS NOT NULL AND c.op = 'U'
                  AND t.prio <> '1-URGENT'       THEN c.new_price
             WHEN t.k IS NOT NULL                THEN t.price
             WHEN c.op = 'I'                     THEN c.new_price
           END AS price
    FROM t FULL OUTER JOIN cdc c ON t.k = c.k
)
SELECT action,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(k) AS BIGINT)   AS key_sum,
       ROUND(CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE), 6) AS price_sum
FROM merged
WHERE action IN ('updated', 'match_skipped', 'carried', 'inserted')
GROUP BY action
ORDER BY action
"""


@query("s46_merge_into", oracle=S46_ORACLE, impure=True)
def s46_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S46 (beyond contract; r13 verdict "what's missing" item 1) —
    lakehouse-grade MERGE INTO with the full clause set s16's SCD2
    shape lacks: WHEN MATCHED AND op='D' THEN DELETE, WHEN MATCHED
    AND op='U' AND <extra match condition> THEN UPDATE (the
    condition — target priority != '1-URGENT' — leaves some MATCHED
    rows deliberately untouched: 'match_skipped'), WHEN NOT MATCHED
    AND op='I' THEN INSERT, and a delete aimed at an ABSENT key that
    must no-op rather than insert a tombstone. The CDC batch is
    derived deterministically from `orders` so both engines see the
    identical merge input.

    Execution is the copy-on-write merge every table format without
    in-place mutation runs (Delta/Iceberg/Hudi MERGE semantics on
    plain parquet): snapshot gen1 is written, the merge classifies
    every (target ∪ source) row with ONE full outer join on the
    business key, survivors land as snapshot gen2 tagged with their
    merge action, and the returned summary reads the PERSISTED gen2
    back — deletions are visible as rows absent from the store, not
    as a driver-side claim. Scale posture: one key-equi shuffle
    (broadcast while the CDC batch is small — AQE decides from the
    materialized batch; bucketed layouts, s09, make it shuffle-free),
    survivors written once; no per-row mutation, no driver
    materialization. Summary sums aggregate in DECIMAL(18,6) (exact,
    order-free) then cast back to double+round6 as the wire format —
    the q1_pricing_summary_decimal house pattern (operators/tpch.py
    q1 r6 cast-back); returning live DecimalType was the r14 driver
    hash_match red (Decimal object-dtype vs the oracle's float64).
    Synthetic CDC keys for the NOT-MATCHED insert and absent-key
    delete clauses are NEGATED o_orderkeys: o_orderkey >= 1 at every
    scale factor, so negative keys can never collide with real target
    keys (the previous +10M/+20M literal shifts collided at SF>=2 and
    silently degraded those clauses to matched rows).
    """
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    store = os.path.join(SCRATCH, f"s46_store_{tag}")
    _merge_cow_store(spark, sf_dir, store)
    return (
        spark.read.parquet(os.path.join(store, "gen2"))
        .groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("k").alias("key_sum"),
            r6(
                F.sum(F.col("price").cast("decimal(18,6)")).cast("double")
            ).alias("price_sum"),
        )
        .orderBy("action")
    )


def merge_cdc_batch(orders: DataFrame) -> DataFrame:
    """The deterministic CDC batch the merge family applies — shared
    by s46 (batch MERGE), s47 (snapshot diff) and t29 (streaming
    merge apply), and mirrored verbatim in their oracles. One op row
    per key, key sets disjoint across op groups (matched deletes
    k%10==3, absent deletes -k for k%10==9, updates k%10 in (1,5),
    inserts -k for k%10==0 — negated keys cannot collide with real
    o_orderkeys >= 1 at any SF), which is what makes the merge
    outcome independent of how a consumer batches the feed."""
    k = F.col("o_orderkey")
    return (
        orders.filter(k % 10 == 3)
        .select(k.alias("k"), F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("new_price"))
        .unionByName(
            orders.filter(k % 10 == 9).select(
                (-k).alias("k"), F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("new_price"),
            )
        )
        .unionByName(
            orders.filter((k % 10).isin(1, 5)).select(
                k.alias("k"), F.lit("U").alias("op"),
                F.round(F.col("o_totalprice") + 50.0, 6).alias("new_price"),
            )
        )
        .unionByName(
            orders.filter(k % 10 == 0).select(
                (-k).alias("k"), F.lit("I").alias("op"),
                F.round(F.col("o_totalprice") / 2, 6).alias("new_price"),
            )
        )
    )


def _merge_cow_store(spark: SparkSession, sf_dir: str, store: str) -> None:
    """Build the s46 copy-on-write merge store: snapshot gen1 from
    `orders`, apply the deterministic CDC batch with one full outer
    join, persist survivors as gen2 tagged with their merge action.
    Shared by s46 (merge summary) and s47 (snapshot-diff read)."""
    (orders,) = load_tables(spark, sf_dir, "orders")

    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("prio"),
        F.lit(1).alias("version"),
    )
    target.write.mode("overwrite").parquet(os.path.join(store, "gen1"))

    cdc = merge_cdc_batch(orders)

    t = spark.read.parquet(os.path.join(store, "gen1"))
    matched = F.col("prio").isNotNull()
    action = (
        F.when(matched & (F.col("op") == "D"), "deleted")
        .when(
            matched & (F.col("op") == "U") & (F.col("prio") != "1-URGENT"),
            "updated",
        )
        .when(matched & (F.col("op") == "U"), "match_skipped")
        .when(matched, "carried")
        .when(F.col("op") == "I", "inserted")
        .otherwise("noop_delete")
    )
    price = (
        F.when(
            matched & (F.col("op") == "U") & (F.col("prio") != "1-URGENT"),
            F.col("new_price"),
        )
        .when(matched, F.col("price"))
        .when(F.col("op") == "I", F.col("new_price"))
    )
    merged = (
        t.join(cdc, "k", "full_outer")
        .select(
            "k",
            action.alias("action"),
            price.alias("price"),
            F.when(action == "updated", 2)
            .otherwise(F.coalesce(F.col("version"), F.lit(1)))
            .alias("version"),
        )
        .filter(
            F.col("action").isin("updated", "match_skipped", "carried", "inserted")
        )
    )
    merged.write.mode("overwrite").parquet(os.path.join(store, "gen2"))


# --------------------------------------------------------------------------
# S47 — snapshot-diff / change-data-feed read over the merge store
# --------------------------------------------------------------------------

S47_ORACLE = """
WITH t AS (
    SELECT o_orderkey AS k, o_totalprice AS price,
           o_orderpriority AS prio, 1 AS version
    FROM orders
),
cdc AS (
    SELECT o_orderkey AS k, 'D' AS op, CAST(NULL AS DOUBLE) AS new_price
    FROM orders WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT -o_orderkey, 'D', CAST(NULL AS DOUBLE)
    FROM orders WHERE o_orderkey % 10 = 9
    UNION ALL
    SELECT o_orderkey, 'U', ROUND(o_totalprice + 50.0, 6)
    FROM orders WHERE o_orderkey % 10 IN (1, 5)
    UNION ALL
    SELECT -o_orderkey, 'I', ROUND(o_totalprice / 2, 6)
    FROM orders WHERE o_orderkey % 10 = 0
),
merged AS (
    SELECT COALESCE(t.k, c.k) AS k,
           CASE
             WHEN t.k IS NOT NULL AND c.op = 'D' THEN 'deleted'
             WHEN t.k IS NOT NULL AND c.op = 'U'
                  AND t.prio <> '1-URGENT'       THEN 'updated'
             WHEN t.k IS NOT NULL AND c.op = 'U' THEN 'match_skipped'
             WHEN t.k IS NOT NULL                THEN 'carried'
             WHEN c.op = 'I'                     THEN 'inserted'
             ELSE 'noop_delete'
           END AS action,
           CASE
             WHEN t.k IS NOT NULL AND c.op = 'U'
                  AND t.prio <> '1-URGENT'       THEN c.new_price
             WHEN t.k IS NOT NULL                THEN t.price
             WHEN c.op = 'I'                     THEN c.new_price
           END AS price
    FROM t FULL OUTER JOIN cdc c ON t.k = c.k
),
g1 AS (SELECT k, price FROM t),
g2 AS (
    SELECT k, price FROM merged
    WHERE action IN ('updated', 'match_skipped', 'carried', 'inserted')
)
SELECT CASE WHEN g2.k IS NULL THEN 'deleted'
            WHEN g1.k IS NULL THEN 'inserted'
            ELSE 'updated' END                     AS change_type,
       CAST(COALESCE(g1.k, g2.k) AS BIGINT)        AS k,
       g1.price                                    AS old_price,
       g2.price                                    AS new_price
FROM g1 FULL OUTER JOIN g2 ON g1.k = g2.k
WHERE g2.k IS NULL OR g1.k IS NULL OR g1.price <> g2.price
"""


@query("s47_merge_snapshot_diff", oracle=S47_ORACLE, impure=True)
def s47_merge_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S47 (beyond contract; r14 verdict "what's missing" item 2) —
    the read side every merge consumer runs: "what changed in this
    merge?" A change-data-feed / snapshot-diff between the s46
    store's persisted generations, computed FROM THE STORE — two
    parquet scans (gen1, gen2) and one full outer key-equi join; the
    merge's lineage is never re-derived, which is the property that
    makes the read valid for any table format exposing snapshots
    (Delta CDF, Iceberg changelog, Hudi incremental query all
    materialize exactly this relation).

    Per-key classification from presence + value: in gen1 only →
    deleted (the WHEN MATCHED DELETE victims — absent from the new
    snapshot, so deletions are read from the STORE, not trusted from
    a summary); in gen2 only → inserted; in both with price moved →
    updated. Unchanged rows (carried + match_skipped, whose price
    bytes were copied not recomputed, so exact float equality is the
    correct predicate on both engines) are not changes and do not
    appear. The oracle replays the same construction relationally —
    g1 is the orders projection, g2 the merge survivors.

    Scale posture: both generations are corpus-sized, so the diff is
    one key-partitioned shuffle join (co-located and shuffle-free
    under a bucketed layout, s09); the change relation it emits is
    O(changed keys). No driver materialization, no ordering — the
    consumer (or the driver's order-insensitive compare) imposes its
    own. Plan shape pinned in tests/test_plans.py.
    """
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    store = os.path.join(SCRATCH, f"s47_store_{tag}")
    _merge_cow_store(spark, sf_dir, store)

    g1 = spark.read.parquet(os.path.join(store, "gen1")).select(
        F.col("k").alias("k1"), F.col("price").alias("old_price")
    )
    g2 = spark.read.parquet(os.path.join(store, "gen2")).select(
        F.col("k").alias("k2"), F.col("price").alias("new_price")
    )
    diff = g1.join(g2, g1["k1"] == g2["k2"], "full_outer")
    change = (
        F.when(F.col("k2").isNull(), "deleted")
        .when(F.col("k1").isNull(), "inserted")
        .otherwise("updated")
    )
    return (
        diff.filter(
            F.col("k2").isNull()
            | F.col("k1").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
        .select(
            change.alias("change_type"),
            F.coalesce(F.col("k1"), F.col("k2")).alias("k"),
            "old_price",
            "new_price",
        )
    )
