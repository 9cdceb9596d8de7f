"""UDF / UDAF / UDTF surface — SURVEY §2.10 (U1–U6).

House rule: UDFs are the slow path. Every query in this module
exists to prove the extension surface works and how it should be
used when built-ins genuinely cannot express the logic; each
docstring states what the built-in alternative would be. Ranking of
crossings, fastest first: (a) no crossing (everything else in this
repo), (b) Arrow-vectorized pandas_udf / applyInPandas / mapInPandas
(U2–U5 — one Arrow batch per crossing), (c) row-at-a-time Python
UDF (U1 — ~10-100× slower; never in a hot path).

Oracle story: U1–U5 compute deterministic, SQL-expressible
semantics, so each carries a full DuckDB twin — the strongest
possible check that the UDF machinery (serialization, batching,
grouping) does not corrupt data. U6's UDTF is likewise twinned via
a lateral range join.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf

from hetnetdb_spark.catalog import load_tables
from hetnetdb_spark.expr import r6
from hetnetdb_spark.operators.tpch import _micros
from hetnetdb_spark.registry import query

# --------------------------------------------------------------------------
# U1 — scalar Python UDF (row-at-a-time; the slow path, proven once)
# --------------------------------------------------------------------------

_PRIORITY_WEIGHT = {"1-URGENT": 5, "2-HIGH": 4, "3-MEDIUM": 3, "4-NOT SPECIFIED": 2, "5-LOW": 1}

U1_ORACLE = """
SELECT CASE o_orderpriority
         WHEN '1-URGENT' THEN 5 WHEN '2-HIGH' THEN 4 WHEN '3-MEDIUM' THEN 3
         WHEN '4-NOT SPECIFIED' THEN 2 WHEN '5-LOW' THEN 1 ELSE 0
       END                         AS weight,
       CAST(COUNT(*) AS BIGINT)    AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
             AS DOUBLE), 6)        AS sum_price
FROM orders
GROUP BY weight
"""


@query("u01_python_udf", oracle=U1_ORACLE)
def u01_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — a row-at-a-time Python UDF mapping priority → weight.
    The built-in alternative is the CASE expression the oracle uses
    (or a broadcast lookup join — see S4); this query exists to
    certify the plain-UDF path end-to-end, not to recommend it."""

    @udf("int")
    def priority_weight(p: str) -> int:
        return _PRIORITY_WEIGHT.get(p, 0)

    (orders,) = load_tables(spark, sf_dir, "orders")
    return orders.groupBy(
        priority_weight(F.col("o_orderpriority")).alias("weight")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        r6(F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
           .cast("double")).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# U2 — vectorized scalar pandas_udf (Arrow batches)
# --------------------------------------------------------------------------

U2_ORACLE = """
SELECT lang,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
FROM documents
GROUP BY lang
"""


@query("u02_pandas_udf_scalar", oracle=U2_ORACLE)
def u02_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — Arrow-vectorized token counting (one pandas call per
    Arrow batch, ~10-100× faster than U1's shape). The built-in
    equivalent is `size(split(...))` — used by docs_token_counts;
    the oracle proves this path computes the identical answer."""

    @pandas_udf("long")
    def tok_count(s: pd.Series) -> pd.Series:
        return s.str.split(" ").str.len().astype("int64")

    (documents,) = load_tables(spark, sf_dir, "documents")
    return documents.select(
        "lang", tok_count(F.col("text")).alias("nt")
    ).groupBy("lang").agg(
        F.sum("nt").alias("total_tokens"), F.max("nt").alias("max_tokens")
    )


# --------------------------------------------------------------------------
# U3 — grouped-aggregate pandas_udf (custom UDAF)
# --------------------------------------------------------------------------

U3_ORACLE = """
SELECT l_returnflag,
       ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6)
         AS weighted_avg_price
FROM lineitem
GROUP BY l_returnflag
"""


@query("u03_pandas_udaf", oracle=U3_ORACLE)
def u03_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 — a custom aggregate (quantity-weighted mean price) as a
    grouped-agg pandas_udf. Unlike built-in aggs there is NO
    partial/map-side combine: every group's full column ships to one
    executor — fine for bounded groups, a skew hazard on 100 TB
    facts, which is why the oracle's SUM/SUM formulation (two
    partial-aggregatable sums) is the production recommendation."""

    @pandas_udf("double")
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(
            weighted_avg(F.col("l_extendedprice"), F.col("l_quantity")), 6
        ).alias("weighted_avg_price")
    )


# --------------------------------------------------------------------------
# U4 — grouped-map applyInPandas (per-group normalize)
# --------------------------------------------------------------------------

U4_ORACLE = """
SELECT c_custkey,
       c_nationkey,
       ROUND((c_acctbal - AVG(c_acctbal) OVER (PARTITION BY c_nationkey))
             / stddev_samp(c_acctbal) OVER (PARTITION BY c_nationkey), 6) AS z
FROM customer
"""


@query("u04_apply_in_pandas", oracle=U4_ORACLE)
def u04_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 — per-nation z-score via `applyInPandas`. Each group
    arrives as ONE pandas DataFrame (shuffle on the group key, group
    must fit in executor memory — the documented contract). The
    window-function twin in the oracle is the scale-safe builtin
    formulation; pandas `std(ddof=1)` matches `stddev_samp`."""

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        z = (pdf["c_acctbal"] - pdf["c_acctbal"].mean()) / pdf["c_acctbal"].std(ddof=1)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_nationkey": pdf["c_nationkey"],
                "z": z.round(6),
            }
        )

    (customer,) = load_tables(spark, sf_dir, "customer")
    return customer.groupBy("c_nationkey").applyInPandas(
        normalize, "c_custkey long, c_nationkey int, z double"
    )


# --------------------------------------------------------------------------
# U5 — mapInPandas (batch-iterator transform)
# --------------------------------------------------------------------------

U5_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT)     AS n,
       ROUND(SUM(value * 1.1), 6)   AS adjusted_sum
FROM events
WHERE value > 5.0
GROUP BY event_type
"""


@query("u05_map_in_pandas", oracle=U5_ORACLE)
def u05_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 — `mapInPandas`: an iterator of Arrow batches in, an
    iterator out. The 1:N batch shape (filter + compute here) is
    what multimodal decode uses (pipeline.multimodal); built-in
    filter/select would of course do THIS job without a crossing —
    the oracle certifies the iterator plumbing."""

    def adjust(batches):
        for pdf in batches:
            keep = pdf[pdf["value"] > 5.0]
            out = keep[["event_type"]].copy()
            out["adjusted"] = keep["value"] * 1.1
            yield out

    (events,) = load_tables(spark, sf_dir, "events")
    return (
        events.mapInPandas(adjust, "event_type string, adjusted double")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.sum("adjusted")).alias("adjusted_sum"),
        )
    )


# --------------------------------------------------------------------------
# U6 — Python UDTF (table function)
# --------------------------------------------------------------------------

U6_ORACLE = """
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS sp
    FROM documents WHERE doc_id < 10
),
e AS (
    SELECT doc_id, sp, unnest(range(1, len(sp) + 1)) AS i FROM d
)
SELECT doc_id, CAST(i AS INT) AS pos, sp[i] AS token FROM e
"""


@query("u06_python_udtf", oracle=U6_ORACLE, impure=True)
def u06_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 — a Python UDTF exploding documents into (doc_id, pos,
    token) rows, invoked through SQL with a TABLE() argument. The
    built-in equivalent is `posexplode(split(...))`; the UDTF form
    is for genuinely imperative row→rows logic (parsers, decoders).
    """

    @udtf(returnType="doc_id bigint, pos int, token string")
    class SplitTokens:
        def eval(self, row):
            for i, tok in enumerate(row["text"].split(" ")):
                yield row["doc_id"], i + 1, tok

    (documents,) = load_tables(spark, sf_dir, "documents")
    documents.filter(F.col("doc_id") < 10).select(
        "doc_id", "text"
    ).createOrReplaceTempView("u06_docs")
    spark.udtf.register("split_tokens", SplitTokens)
    return spark.sql(
        "SELECT * FROM split_tokens(TABLE(SELECT doc_id, text FROM u06_docs))"
    )


# --------------------------------------------------------------------------
# U7 — Arrow-optimized Python UDF (Spark 4 useArrow=True)
# --------------------------------------------------------------------------

U7_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1e6)
                AS BIGINT)) / 1e6 AS total_charge
FROM lineitem
GROUP BY l_returnflag
"""


@query("u07_arrow_python_udf", oracle=U7_ORACLE)
def u07_arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U7 — Spark 4's third Python UDF flavor: a row-signature UDF
    with ``useArrow=True``. Batches cross in Arrow like U2's
    pandas_udf (so serialization is columnar, not pickled rows) but
    the author writes per-row scalar logic like U1 — the migration
    path for existing row UDFs that can't be vectorized. Still
    Python-per-row inside the batch, so built-ins/pandas_udf remain
    the hot-path choice; this certifies the surface end-to-end.

    ``total_charge`` sums exact integer micro-units (q1's ``_micros``)
    and divides back once. Per-group totals are ~1e9 at sf0.01, and
    rounding a double SUM to 6 decimals there asks for 16 significant
    digits, so the two engines' summation orders differed in the last
    place (generated seed 103: ...383382 vs ...383383). The oracle
    spells the same per-row product in the same IEEE operation order
    and rounds it half away from zero like ``_round_half_up``, so the
    BIGINT sums agree exactly; a long-sum overflow raises under ANSI
    mode (q1's envelope, ~sf 10 per group).
    """

    @udf("double", useArrow=True)
    def charge(price: float, discount: float, tax: float) -> float:
        return price * (1.0 - discount) * (1.0 + tax)

    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return (
        lineitem.select(
            "l_returnflag",
            charge(F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")).alias("c"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_micros(F.col("c"))).alias("_m"),
        )
        .select(
            "l_returnflag",
            "n_lines",
            r6((F.col("_m") / 1000000).cast("double")).alias("total_charge"),
        )
    )


# --------------------------------------------------------------------------
# U8 — cogrouped applyInPandas (two-sided Arrow merge)
# --------------------------------------------------------------------------

U8_KEY_BOUND = 500  # bounded demo domain: the API shape is the point

U8_ORACLE = f"""
SELECT c_custkey,
       CAST(COUNT(o_orderkey) AS BIGINT)        AS n_orders,
       ROUND(COALESCE(SUM(o_totalprice), 0), 6) AS total_spend
FROM customer
LEFT JOIN orders ON o_custkey = c_custkey
WHERE c_custkey < {U8_KEY_BOUND}
GROUP BY c_custkey
"""


@query("u08_cogrouped_pandas", oracle=U8_ORACLE)
def u08_cogrouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U8 — ``groupBy().cogroup().applyInPandas``: both tables
    shuffle on the key and each key's two row sets arrive as a pair
    of pandas frames — the escape hatch for per-key merge logic no
    join expresses (custom as-of rules, per-entity reconciliation,
    stateful pairing). The built-in equivalent of THIS function is
    the left-join aggregate the oracle runs, which is why joins
    should stay joins: the cogroup pays one Arrow crossing per side
    PLUS a Python function invocation per key (~1.3 ms each —
    measured 20.8 s over the unbounded 15k-customer domain at sf0.1,
    vs 30 ms for the equivalent join), so the demo runs on a bounded
    key range like the rest of the U surface; real per-key merge
    logic amortizes that cost over work a join cannot express.
    One shuffle per input on the cogroup key, same as the join it
    replaces. The UDF returns the raw float sum; rounding happens
    uniformly in Spark's ``r6`` (HALF_UP, matching DuckDB's ROUND)
    — Python's ``round()`` is banker's rounding and would diverge
    on a representable .5 tie."""

    def merge(key, cdf: pd.DataFrame, odf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "c_custkey": [key[0]],
                "n_orders": [len(odf)],
                "total_spend": [float(odf["o_totalprice"].sum()) if len(odf) else 0.0],
            }
        )

    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    return (
        customer.select("c_custkey")
        .filter(F.col("c_custkey") < U8_KEY_BOUND)
        .groupBy("c_custkey")
        .cogroup(
            orders.select("o_custkey", "o_totalprice")
            .filter(F.col("o_custkey") < U8_KEY_BOUND)
            .groupBy("o_custkey")
        )
        .applyInPandas(merge, "c_custkey bigint, n_orders bigint, total_spend double")
        .withColumn("total_spend", r6(F.col("total_spend")))
    )


# --------------------------------------------------------------------------
# U9 — partitioned UDTF: TABLE(...) PARTITION BY / ORDER BY
# --------------------------------------------------------------------------

U9_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT)                           AS n_purchases,
       CAST(SUM(CASE WHEN value > prev_value THEN 1 ELSE 0 END) AS BIGINT)
                                                          AS n_increases
FROM (
    SELECT user_id, value,
           lag(value) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS prev_value
    FROM events WHERE event_type = 'purchase' AND user_id < 20
)
GROUP BY user_id
"""


@query("u09_partitioned_udtf", oracle=U9_ORACLE, impure=True)
def u09_partitioned_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U9 — Spark 4's partitioned-input UDTF: ``TABLE(...)
    PARTITION BY user ORDER BY ts`` hands the class ONE user's rows
    in time order, with `terminate()` emitting the per-partition
    summary — the sequential-scan-per-key shape (compression
    detectors, protocol parsers, order-dependent dedup) that plain
    UDTFs can't express because they see arbitrary row order.

    Here it counts value increases over each user's purchase
    sequence — trivially a `lag` window (which is the oracle), used
    deliberately so DuckDB certifies the partition/order contract:
    wrong partitioning or ordering changes the increase count.
    Scale: the PARTITION BY is one shuffle on user_id; state is one
    scalar per partition, streamed row-at-a-time.
    """

    @udtf(returnType="user_id bigint, n_purchases bigint, n_increases bigint")
    class IncreaseCounter:
        def __init__(self):
            self._user = None
            self._prev = None
            self._n = 0
            self._inc = 0

        def eval(self, row):
            self._user = row["user_id"]
            self._n += 1
            # NULL-safe like the oracle's CASE WHEN value > prev:
            # SQL three-valued logic makes a NULL on either side "no
            # increase" (never a crash); prev still advances to the
            # raw previous value, NULL included, mirroring lag().
            if (
                self._prev is not None
                and row["value"] is not None
                and row["value"] > self._prev
            ):
                self._inc += 1
            self._prev = row["value"]

        def terminate(self):
            if self._user is not None:
                yield self._user, self._n, self._inc

    (events,) = load_tables(spark, sf_dir, "events")
    events.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") < 20)
    ).select("user_id", "ts", "event_id", "value").createOrReplaceTempView(
        "u09_purchases"
    )
    spark.udtf.register("increase_counter", IncreaseCounter)
    return spark.sql(
        "SELECT * FROM increase_counter("
        "TABLE(SELECT * FROM u09_purchases) "
        "PARTITION BY user_id ORDER BY (ts, event_id))"
    )


# --------------------------------------------------------------------------
# U10 — iterator-of-series pandas_udf (amortized per-task init)
# --------------------------------------------------------------------------

U10_ORACLE = """
SELECT CASE lang
         WHEN 'en' THEN 'latin' WHEN 'es' THEN 'latin'
         WHEN 'fr' THEN 'latin' WHEN 'de' THEN 'latin'
         ELSE 'other'
       END AS script,
       CAST(COUNT(*) AS BIGINT)   AS n_docs,
       CAST(SUM(CASE WHEN regexp_matches(text, 'stream|batch')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM documents
GROUP BY script
ORDER BY script
"""

_LATIN = frozenset({"en", "es", "fr", "de"})


@query("u10_iter_pandas_udf", oracle=U10_ORACLE)
def u10_iter_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U10 — ``Iterator[Series] -> Iterator[Series]`` pandas_udf:
    the variant for UDFs with expensive one-time state (a compiled
    model, a tokenizer, a regex set). State builds ONCE per task
    before the loop, then every Arrow batch streams through it —
    with the plain scalar pandas_udf the init would re-run per
    batch, and with a row UDF per row. Here the "model" is a
    compiled regex, deliberately cheap so the oracle can replay the
    semantics exactly; the pattern is what's being pinned, the
    regex stands in for a real classifier load.

    Scale: one Python worker per task streams all its batches
    through the same state — per-task init cost amortizes over
    partition size, so bigger partitions IMPROVE the ratio at
    100 TB. Built-in alternative for THIS logic: `rlike` + a map
    literal (no crossing at all) — the iterator form earns its
    crossing only when the init genuinely cannot live in the JVM.
    """
    import re

    @pandas_udf("boolean")
    def flag(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        pattern = re.compile(r"stream|batch")  # per-task init, once
        for batch in batches:
            yield batch.str.contains(pattern)

    (documents,) = load_tables(spark, sf_dir, "documents")
    script = (
        F.when(F.col("lang").isin(*sorted(_LATIN)), F.lit("latin"))
        .otherwise(F.lit("other"))
        .alias("script")
    )
    return (
        documents.select(script, flag(F.col("text")).alias("flagged"))
        .groupBy("script")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("flagged").cast("long")).alias("n_flagged"),
        )
        .orderBy("script")
    )


# --------------------------------------------------------------------------
# U11 — applyInArrow (pyarrow-native grouped apply, no pandas)
# --------------------------------------------------------------------------

U11_ORACLE = """
WITH qc AS (
    SELECT l_returnflag, l_quantity, COUNT(*) AS c
    FROM lineitem GROUP BY l_returnflag, l_quantity
),
modal AS (
    SELECT l_returnflag, l_quantity AS mode_qty
    FROM (
        SELECT l_returnflag, l_quantity,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY c DESC, l_quantity) AS rn
        FROM qc
    ) WHERE rn = 1
)
SELECT q.l_returnflag,
       CAST(SUM(q.c) AS BIGINT)               AS n,
       CAST(SUM(q.l_quantity * q.c) AS BIGINT) AS sum_qty,
       CAST(COUNT(*) AS BIGINT)               AS n_distinct_qty,
       CAST(MAX(m.mode_qty) AS BIGINT)        AS mode_qty
FROM qc q JOIN modal m USING (l_returnflag)
GROUP BY q.l_returnflag
ORDER BY q.l_returnflag
"""


@query("u11_apply_in_arrow", oracle=U11_ORACLE)
def u11_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U11 — ``groupBy().applyInArrow``: the Spark 4 grouped apply
    that hands each group over as a **pyarrow.Table** — no pandas
    materialization, so columnar data stays columnar through the
    crossing (value_counts here runs on Arrow buffers directly).
    The right variant when the per-group logic is expressible in
    pyarrow.compute or feeds an Arrow-native library (datasets,
    DuckDB, polars) — pandas conversion would only add a copy.

    Per-group logic: quantity distribution profile — count, exact
    integer sum, distinct quantity levels, and the modal quantity
    with a min-value tie-break (the a22 deterministic-mode rule).
    Quantities are small integers, so every arithmetic result is
    exact and the oracle twin is drift-free by construction.

    Same scale caveat as every grouped apply (u03/u04/u08): the full
    group ships to one worker, no partial combine — bounded groups
    only (|returnflag| = 3 here), and the docstring-of-record for
    unbounded keys remains "joins should stay joins"."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def profile(table: pa.Table) -> pa.Table:
        qty = table.column("l_quantity")
        vc = pc.value_counts(qty)  # struct<values, counts> Arrow array
        counts = vc.field("counts")
        values = vc.field("values")
        top = pc.max(counts).as_py()
        modal = pc.min(pc.filter(values, pc.equal(counts, top))).as_py()
        return pa.table(
            {
                "l_returnflag": [table.column("l_returnflag")[0].as_py()],
                "n": [table.num_rows],
                "sum_qty": [int(pc.sum(qty).as_py())],
                "n_distinct_qty": [len(vc)],
                "mode_qty": [int(modal)],
            }
        )

    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return (
        lineitem.select("l_returnflag", "l_quantity")
        .groupBy("l_returnflag")
        .applyInArrow(
            profile,
            "l_returnflag string, n long, sum_qty long, "
            "n_distinct_qty long, mode_qty long",
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# U12 — polymorphic Python UDTF (analyze()-computed output schema)
# --------------------------------------------------------------------------

U12_N = 3

U12_ORACLE = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS sp
    FROM documents WHERE doc_id < 10
)
SELECT doc_id,
       {", ".join(f"sp[{i}] AS tok{i}" for i in range(1, U12_N + 1))}
FROM d
"""


@query("u12_polymorphic_udtf", oracle=U12_ORACLE, impure=True)
def u12_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U12 — the Spark 4 POLYMORPHIC UDTF surface: the output schema
    is not a literal on the decorator but computed by a static
    ``analyze`` method from the call's CONSTANT arguments at plan
    time (`AnalyzeArgument.value`). Here `lead_tokens(TABLE(...), 3)`
    resolves to columns (doc_id, tok1..tok3); calling it with 5
    would resolve to seven columns with NO code change — the shape
    every config-driven parser/splitter wants, and the API that
    separates UDTFs from `mapInPandas` (whose schema is frozen in
    the plan string). Missing tokens yield NULL (sp[i] out of range
    on the oracle side — same convention).

    u06 certifies the fixed-schema UDTF path; this certifies
    analyze-time schema resolution end-to-end through SQL
    registration, TABLE() passing, and the driver's schema
    comparison. Registered impure for the temp-view + registration
    side effects."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class LeadTokens:
        @staticmethod
        def analyze(row: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            fields = [StructField("doc_id", LongType())]
            fields += [
                StructField(f"tok{i}", StringType())
                for i in range(1, n.value + 1)
            ]
            return AnalyzeResult(StructType(fields))

        def __init__(self):
            self._n = None

        def eval(self, row, n: int):
            toks = row["text"].split(" ")
            yield tuple(
                [row["doc_id"]]
                + [toks[i] if i < len(toks) else None for i in range(n)]
            )

    (documents,) = load_tables(spark, sf_dir, "documents")
    documents.filter(F.col("doc_id") < 10).select(
        "doc_id", "text"
    ).createOrReplaceTempView("u12_docs")
    spark.udtf.register("lead_tokens", LeadTokens)
    return spark.sql(
        f"SELECT * FROM lead_tokens("
        f"TABLE(SELECT doc_id, text FROM u12_docs), {U12_N})"
    )


# --------------------------------------------------------------------------
# U15 — Arrow-optimized Python UDTF (useArrow=True)
# --------------------------------------------------------------------------

U15_ORACLE = """
SELECT o_orderkey, unnest(string_split(o_orderpriority, '-')) AS part
FROM orders
WHERE o_orderkey % 100 = 0
ORDER BY o_orderkey, part
"""


@query("u15_arrow_udtf", oracle=U15_ORACLE, impure=True)
def u15_arrow_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U15 — the Arrow-optimized Python UDTF (``@udtf(...,
    useArrow=True)``): same row-expansion contract as the pickled
    UDTF (u06), but eval outputs batch through Arrow instead of
    per-row pickling — the U2-vs-U1 serialization upgrade applied to
    the table-function surface. The semantics pin matters because
    the Arrow path converts row batches through pandas with its own
    type coercion rules; identical output vs the relational oracle
    (and, transitively, vs u06's pickled path over the same split
    idiom) certifies the conversion preserves values and row order
    within each input row's expansion.

    Scale: Arrow batching amortizes the Python crossing to
    per-batch, not per-row — the measured 10-100x U-surface
    difference; still the slow path vs a codegen `explode(split())`
    (f-family), which the docstring names as the production form —
    the UDTF exists for expansions that genuinely need Python.

    Registered impure: UDTF + view registration."""
    from pyspark.sql.functions import udtf

    from hetnetdb_spark.catalog import register_views

    register_views(spark, sf_dir, "orders")

    @udtf(returnType="o_orderkey bigint, part string", useArrow=True)
    class _SplitPriority:
        def eval(self, key: int, priority: str):
            for token in priority.split("-"):
                yield (key, token)

    spark.udtf.register("u15_split_priority", _SplitPriority)
    # The sample filter lives INSIDE the driving subquery: Catalyst
    # does not push predicates below a UDTF lateral join (the UDTF
    # is an optimization barrier), so the outer-WHERE spelling ran
    # eval() on every order row — measured 30 s vs 0.5 s at sf0.1
    # for the same result. Prune before you expand.
    return spark.sql(
        """
        SELECT s.o_orderkey, s.part
        FROM (SELECT o_orderkey, o_orderpriority FROM orders
              WHERE o_orderkey % 100 = 0) o,
        LATERAL u15_split_priority(o.o_orderkey, o.o_orderpriority) s
        ORDER BY s.o_orderkey, s.part
        """
    )


# --------------------------------------------------------------------------
# U17 — struct-returning scalar pandas_udf (vectorized multi-output)
# --------------------------------------------------------------------------

U17_ORACLE = """
WITH scored AS (
    SELECT l_extendedprice / (l_quantity + 1) AS ratio,
           l_extendedprice
    FROM lineitem
),
banded AS (
    SELECT CASE WHEN ratio < 1000 THEN 'low'
                WHEN ratio < 5000 THEN 'mid' ELSE 'high' END AS band,
           l_extendedprice
    FROM scored
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS price_total
FROM banded
GROUP BY band
ORDER BY band
"""


@query("u17_struct_pandas_udf", oracle=U17_ORACLE)
def u17_struct_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U17 — a scalar pandas_udf whose return type is a STRUCT: the
    Python function returns a pandas DataFrame per Arrow batch and
    Spark reassembles it into one struct column — the vectorized
    way to compute SEVERAL derived columns in a single Python
    crossing (u02's scalar form would pay one Arrow round trip per
    output). The semantic pin: the ratio arithmetic runs in numpy
    (IEEE doubles, same bits as the engines' division) and the band
    cut in Python — the per-band census must match the oracle's
    pure-SQL replay exactly, certifying both the multi-output
    reassembly and that no value drifted crossing Arrow twice.

    Production note (the standing U-surface guidance): this exists
    for logic that genuinely needs Python — as pure arithmetic it
    would be a codegen CASE (u13's SQL UDF shape) at zero cost."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("ratio double, band string")
    def _score(price: pd.Series, qty: pd.Series) -> pd.DataFrame:
        ratio = price / (qty + 1.0)
        band = pd.Series(
            pd.Categorical(
                ["low"] * len(ratio), categories=["low", "mid", "high"]
            )
        )
        band = band.mask(ratio >= 1000, "mid").mask(ratio >= 5000, "high")
        return pd.DataFrame({"ratio": ratio, "band": band.astype(str)})

    (li,) = load_tables(spark, sf_dir, "lineitem")
    scored = li.select(
        F.col("l_extendedprice"),
        _score(F.col("l_extendedprice"), F.col("l_quantity")).alias("s"),
    )
    return (
        scored.groupBy(F.col("s.band").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                ),
                6,
            ).alias("price_total"),
        )
        .orderBy("band")
    )


# --------------------------------------------------------------------------
# U16 — mapInArrow (pyarrow-native ungrouped per-batch map)
# --------------------------------------------------------------------------

U16_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
FROM lineitem
WHERE l_quantity >= 10
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("u16_map_in_arrow", oracle=U16_ORACLE)
def u16_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U16 — ``DataFrame.mapInArrow``: the UNGROUPED half of the
    Spark 4 Arrow-native surface (u11 is the grouped
    ``applyInArrow``). Each partition arrives as an iterator of
    ``pyarrow.RecordBatch``es and leaves the same way — no pandas
    materialization, no shuffle, no Python-object row crossing: the
    shape for columnar feature extraction where per-batch vectorized
    kernels (here ``pyarrow.compute``) are the whole computation.

    The batch fn filters qty >= 10 and computes the revenue
    expression with pc.multiply/pc.subtract INSIDE Arrow, emitting
    only the two columns the downstream agg needs — batch-level
    predicate + projection pushdown done by hand, which is exactly
    what the operator is for (a JVM filter would also work; the
    point pinned is that ARROW-SIDE selection round-trips
    correctly, including empty batches from fully-filtered
    partitions). Revenue is rounded to 6 dp per ROW on both engines
    (the q1 DECIMAL discipline) before the sum, so summation order
    cannot leak into the hash.

    Scale posture: mapInArrow is a narrow transformation — it
    pipelines inside the scan stage, preserves partitioning, and
    its cost is pure per-batch compute; the only Python/JVM
    boundary is Arrow IPC, the cheapest crossing that exists."""
    import pyarrow as pa
    import pyarrow.compute as pc

    (lineitem,) = load_tables(spark, sf_dir, "lineitem")

    def rev_batches(batches):
        for batch in batches:
            keep = pc.greater_equal(batch.column("l_quantity"), pa.scalar(10.0))
            kept = batch.filter(keep)
            rev = pc.multiply(
                kept.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), kept.column("l_discount")),
            )
            yield pa.RecordBatch.from_arrays(
                [kept.column("l_returnflag"), pc.round(rev, 6)],
                names=["l_returnflag", "revenue"],
            )

    mapped = lineitem.select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    ).mapInArrow(rev_batches, "l_returnflag string, revenue double")
    return (
        mapped.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("revenue").cast("decimal(18,6)")).cast("double"), 6
            ).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )
