"""Flagship TPC-H-shaped queries over the star schema.

These are the headline analytical queries the reference engine's SQL
surface was built for (scan → filter → join → partial/final
aggregate → sort/limit). On Spark the partial→final split the
reference did across root/leaf nodes is Catalyst's two-phase
HashAggregate; our job is to keep the plan declarative and the dims
broadcast.

Scale notes (100 TB posture):
- q1: single scan of the fact table, sargable timestamp filter
  (pushed to parquet), map-side partial agg on a 6-group key —
  shuffle is a few KB regardless of input size.
- q3/q5: fact-side joins use the dimension tables broadcast
  (`F.broadcast`), so the only shuffle is the final group-by; join
  order keeps lineitem pruned by the orders filter early.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hetnetdb_spark.catalog import load_tables
from hetnetdb_spark.expr import charge, r6, revenue
from hetnetdb_spark.registry import query

Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 6)                                        AS sum_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 6)
                                                                   AS sum_base_price,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(18,6))) AS DOUBLE), 6)                     AS sum_disc_price,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
             AS DECIMAL(18,6))) AS DOUBLE), 6)                     AS sum_charge,
  ROUND(AVG(l_quantity), 6)                                        AS avg_qty,
  ROUND(AVG(l_extendedprice), 6)                                   AS avg_price,
  ROUND(AVG(l_discount), 6)                                        AS avg_disc,
  ROUND(COALESCE(SUM(l_quantity) FILTER (WHERE l_discount > 0.05), 0), 6) AS sum_qty_discounted,
  COUNT(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


#: Ceiling on the cardinality proof callers must state to use
#: _sorted_small. Large enough for any bounded-by-key-domain result
#: (q1: 16, q5: 25), small enough that a misuse on an unbounded
#: result cannot be argued past review: sorting this many rows on
#: one core is still microseconds.
_SORTED_SMALL_MAX_BOUND = 10_000


def _sorted_small(df: DataFrame, *cols, bound: int) -> DataFrame:
    """Global ORDER BY for a provably BOUNDED-cardinality result.

    ``orderBy`` on an unlimited result plans a rangepartitioning
    Exchange, and building its range bounds runs a separate sampling
    pass over the input — one extra job + AQE stage per execution.
    For results bounded by group-key cardinality (q1: ≤16
    returnflag×linestatus groups, q5: 25 nations) that machinery
    sorts a handful of rows. ``coalesce(1)`` merges the final-agg
    partitions without an exchange (AQE already coalesces these
    KB-sized aggregates to one partition anyway) and the sort runs
    in-partition — same rows, same global order, one fewer exchange
    and no sampling job. Measured at sf0.1 (min-of-9, same session):
    q5 0.3586 s → 0.3166 s; a 25-row orderBy probe isolates the
    range-sort tax at ~60 ms/execution. Scale-safe by construction:
    only bounded outputs may use this helper — an unbounded result
    would serialize its sort on one core.

    ``bound`` (r16, per ADVICE r15) is the caller's stated
    cardinality proof — the data-independent maximum row count of
    ``df`` (group-key domain size, LIMIT value, ...). It is asserted
    against a hard ceiling so a future caller on an unbounded result
    fails at import/review time instead of silently serializing a
    big sort onto one core.
    """
    assert 0 < bound <= _SORTED_SMALL_MAX_BOUND, (
        f"_sorted_small requires a bounded result (stated bound {bound}; "
        f"ceiling {_SORTED_SMALL_MAX_BOUND}); use orderBy for unbounded"
    )
    return df.coalesce(1).sortWithinPartitions(*cols)


def _micros(c: "F.Column") -> "F.Column":
    """Exact integer micro-units of a ≤6dp money expression.

    ``round(x * 1e6)`` recovers the exact 6dp value from the double
    (every fixture money value is 2–6dp, far inside double's exact
    range), and the BIGINT sum is then integer arithmetic — exact
    and merge-order-independent like the DECIMAL spelling, but in
    codegen long adds instead of per-row BigDecimal boxing
    (measured on q1 at sf0.1: 0.85 s → 0.48 s; the cost of the
    decimal path is the double→Decimal cast, ~170 ns/row).

    Envelope, stated honestly: int64 micro sums hold exactly to
    ±9.2e12 money units per group — ~2e8 rows of 5e4-unit values,
    i.e. TPC-H sf≈10 per q1 group. Beyond that the deployment-scale
    spelling is the registered DECIMAL twin
    (`q1_pricing_summary_decimal`, same plan shape); the q1 oracle
    keeps the DECIMAL spelling and the driver pins the paths
    value-identical at every test SF. ENFORCED at runtime (r11, per
    ADVICE r10) by two independent guards: Spark 4's ANSI mode
    throws ARITHMETIC_OVERFLOW on any actual long-sum wrap, and q1's
    conservative count×max sentinel trips earlier with a pointer at
    the DECIMAL twin (tests/test_tpch_q1_twins.py pins both).

    The rounding (``_round_half_up``) never boxes. ``F.round`` on
    a double compiles to ``BigDecimal.valueOf(x).setScale(0,
    HALF_UP)``, and a JFR profile of warm headline passes (sf0.1, 4
    cores) put 17.5% of all executor CPU samples there, inside q1's
    aggregate stage. ``rint`` agrees with ``round`` on every finite
    double except exact ``.5`` ties, which ``rint`` sends to even and
    the ``when`` sends away from zero; ``x ± 0.5`` is exact there
    because a double with a ``.5`` fraction is below 2^52.
    tests/test_micros_rounding.py pins the two bit for bit on
    adversarial doubles. q1's aggregate had been on the
    do-not-re-attack list; that JFR profile is the new per-layer
    evidence that took it off.
    """
    return _round_half_up(c * 1000000).cast("bigint")


def _round_half_up(x: "F.Column") -> "F.Column":
    """``F.round(x)`` for a double, in primitive double arithmetic."""
    r = F.rint(x)
    return F.when(F.abs(x - r) == 0.5, x + F.signum(x) * 0.5).otherwise(r)


#: int64 headroom the overflow sentinel asserts against — half of
#: LONG_MAX so even the conservative count×max product check below
#: cannot itself overflow when evaluated in double.
_MICROS_SAFE_BOUND = 4.6e18


@query("q1_pricing_summary", oracle=Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: pricing summary report (S1,P2,P3,A2,A6,O1).

    ``sum_qty_discounted`` is the A6 conditional aggregate: Spark has
    no FILTER-clause syntax on the DataFrame API, so the idiomatic
    form is ``sum(when(cond, x))`` — null for groups with no matching
    rows, hence the coalesce to 0 on both sides.

    Aggregate-buffer discipline (round 11): the three ``avg_*``
    columns are DERIVED from the sums after aggregation instead of
    carrying three (sum, count) avg buffers per input row — Spark's
    ``avg`` is exactly ``sum/count`` in the same double arithmetic,
    and ``avg_price`` improves to the EXACT micros sum divided back
    (pinned value-identical against the double-avg spelling at
    sf0.001/0.01/0.1 and the 180M-row 300× corpus). 7 aggregate
    buffers per row instead of 11; measured 6.4 s → 5.5 s on the
    300× corpus.

    Money sums accumulate EXACTLY in int64 micro-units (associative,
    so any partition/merge order yields the same value) and only
    then divide back to money units: at sf0.1 the 6dp-rounded double
    sums of O(1e9) drift past 1e-6 between engines (the a19
    magnitude lesson). See ``_micros`` for the overflow envelope; the
    ``_hi_m`` max-buffer is the runtime sentinel — if the
    conservative per-group bound ``count × max_price_micros × 1.1``
    (1.1 covers charge's tax uplift) no longer clears
    ``_MICROS_SAFE_BOUND``, the query raises with a pointer at the
    DECIMAL twin ``q1_pricing_summary_decimal`` instead of silently
    wrapping (ADVICE r10).
    """
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    agg = (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("_sq"),
            F.sum(_micros(F.col("l_extendedprice"))).alias("_sbp"),
            F.sum(_micros(revenue())).alias("_sdp"),
            F.sum(_micros(charge())).alias("_sch"),
            F.sum("l_discount").alias("_sd"),
            F.coalesce(
                F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_quantity"))),
                F.lit(0.0),
            ).alias("_sqd"),
            F.count(F.lit(1)).alias("count_order"),
            F.max(_micros(F.col("l_extendedprice"))).alias("_hi_m"),
        )
    )
    in_envelope = (
        F.col("_hi_m").cast("double") * 1.1 * F.col("count_order")
    ) < F.lit(_MICROS_SAFE_BOUND)
    overflow = F.raise_error(
        F.lit(
            "q1_pricing_summary: int64 micro-unit sum envelope exceeded "
            "for a group — use q1_pricing_summary_decimal (DECIMAL "
            "containers, same plan shape) at this data scale"
        )
    )

    def guarded(micros_sum):
        # Every micros-derived output carries its own envelope guard:
        # attaching the sentinel to one column only would let column
        # pruning eliminate it whenever a consumer projects that
        # column away, leaving the other int64 sums free to wrap
        # silently on a runtime with ANSI mode off (ADVICE r11).
        return (
            F.when(in_envelope, r6((micros_sum / 1000000).cast("double")))
            .otherwise(overflow.cast("double"))
        )

    out = agg.select(
        "l_returnflag",
        "l_linestatus",
        r6(F.col("_sq")).alias("sum_qty"),
        guarded(F.col("_sbp")).alias("sum_base_price"),
        guarded(F.col("_sdp")).alias("sum_disc_price"),
        guarded(F.col("_sch")).alias("sum_charge"),
        r6(F.col("_sq") / F.col("count_order")).alias("avg_qty"),
        r6(guarded(F.col("_sbp")) / F.col("count_order")).alias(
            "avg_price"
        ),
        r6(F.col("_sd") / F.col("count_order")).alias("avg_disc"),
        r6(F.col("_sqd")).alias("sum_qty_discounted"),
        "count_order",
    )
    return _sorted_small(out, "l_returnflag", "l_linestatus", bound=16)


@query("q1_pricing_summary_decimal", oracle=Q1_ORACLE)
def q1_pricing_summary_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1's deployment-scale spelling: identical plan shape with
    DECIMAL(38,6) money containers instead of int64 micro-units.

    This is the fallback `_micros` documents for corpora beyond its
    ±9.2e12-money-unit per-group envelope (~TPC-H sf≈10 per q1
    group): DECIMAL(38,6) holds ~1e19× more headroom, at ~2× the
    per-row aggregation cost (the double→BigDecimal cast). Same
    oracle, same column names — the driver pins the two paths
    value-identical at every test SF, and
    tests/test_tpch_q1_twins.py asserts frame equality plus the
    micros sentinel's trip behavior.
    """
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    d = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    agg = (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("_sq"),
            F.sum(d(F.col("l_extendedprice"))).alias("_sbp"),
            F.sum(d(revenue())).alias("_sdp"),
            F.sum(d(charge())).alias("_sch"),
            F.sum("l_discount").alias("_sd"),
            F.coalesce(
                F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_quantity"))),
                F.lit(0.0),
            ).alias("_sqd"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    out = agg.select(
        "l_returnflag",
        "l_linestatus",
        r6(F.col("_sq")).alias("sum_qty"),
        r6(F.col("_sbp").cast("double")).alias("sum_base_price"),
        r6(F.col("_sdp").cast("double")).alias("sum_disc_price"),
        r6(F.col("_sch").cast("double")).alias("sum_charge"),
        r6(F.col("_sq") / F.col("count_order")).alias("avg_qty"),
        r6(F.col("_sbp").cast("double") / F.col("count_order")).alias("avg_price"),
        r6(F.col("_sd") / F.col("count_order")).alias("avg_disc"),
        r6(F.col("_sqd")).alias("sum_qty_discounted"),
        "count_order",
    )
    return _sorted_small(out, "l_returnflag", "l_linestatus", bound=16)


Q3_ORACLE = """
SELECT
  l_orderkey,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", oracle=Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-revenue top-10 (J1,J3,A2,O3).

    The final ORDER BY uses the *rounded* revenue plus the unique
    l_orderkey so the selected top-10 set is identical across
    engines even when unrounded doubles differ in the last ulp.
    """
    customer, orders, lineitem = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < cutoff), F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem.filter(F.col("l_shipdate") > cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(r6(F.sum(revenue())).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


Q5_ORACLE = """
SELECT
  n_name,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@query("q5_local_supplier", oracle=Q5_ORACLE)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue from *local* suppliers by customer nation —
    the supplier join carries the defining ``c_nationkey =
    s_nationkey`` condition (J2,J3,A2,O1; 6-way chain).

    Scale posture: broadcast is pinned only for the bounded dims
    (nation = 25 rows, region = 5 rows, forever). customer and
    supplier grow with the scale factor — at the 100 TB posture a
    pinned broadcast would OOM the executors, so AQE decides at
    runtime (it converts them to broadcast when their post-filter
    size is under the threshold, which is true at every test SF).
    lineitem→orders stays a shuffle join on the FK; the only other
    shuffle is the final 25-group aggregate.
    """
    lineitem, orders, customer, supplier, nation, region = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region"
    )
    orders_f = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    joined = (
        lineitem.join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(r6(F.sum(revenue())).alias("revenue"))
    )
    return _sorted_small(joined, F.col("revenue").desc(), "n_name", bound=25)


Q10_ORACLE = """
SELECT
  c_custkey,
  c_name,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue,
  ROUND(c_acctbal, 6)                               AS c_acctbal,
  n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", oracle=Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in one
    quarter (J1,J3,A2,O3).

    Both fact-side filters (order date window, return flag) are
    sargable and reach their parquet scans; nation (bounded, 25
    rows) is pinned broadcast while customer↔orders↔lineitem are
    FK shuffle joins AQE may convert. The global top-20 plans as
    TakeOrderedAndProject — bounded heaps per partition, no full
    sort at any scale.
    """
    customer, orders, lineitem, nation = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    orders_f = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        customer.join(orders_f, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            lineitem.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(r6(F.sum(revenue())).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            r6(F.col("c_acctbal")).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


Q17_ORACLE = """
SELECT
  ROUND(SUM(l_extendedprice) / 7.0, 6) AS avg_yearly,
  CAST(COUNT(*) AS BIGINT)             AS n_small_lots
FROM lineitem l
JOIN part p ON p_partkey = l_partkey
WHERE p_brand = 'Brand#4'
  AND l_quantity < (
      SELECT 0.5 * AVG(l_quantity)
      FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey
  )
"""


@query("q17_small_quantity_order", oracle=Q17_ORACLE)
def q17_small_quantity_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-lot revenue for one brand — the
    correlated-scalar-subquery benchmark (SURVEY §4 "subquery
    decorrelation" row).

    The subquery (per-part average over ALL of lineitem) is
    decorrelated by hand into an aggregate + equi-join, and — the
    part that matters at 100 TB — its input is first semi-joined to
    the brand's partkeys: the correlation point only ever evaluates
    at outer partkeys, so averaging the other ~95% of lineitem is
    provably dead work. The brand filter reaches the part scan; the
    small part side broadcasts into both the probe and the
    per-partkey aggregate, so the partkey agg is the only
    data-bearing shuffle (the final ungrouped aggregate's
    single-partition exchange moves one partial row per task).
    Plan-asserted in tests/test_plans.py.
    """
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    brand_lines = lineitem.join(
        F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey")
    )
    qty_caps = brand_lines.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("qty_cap")
    )
    return (
        brand_lines.join(F.broadcast(qty_caps), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            r6(F.sum("l_extendedprice") / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_lots"),
        )
    )


Q18_ORACLE = """
WITH big AS (
    SELECT l_orderkey
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(l_quantity) > 300
)
SELECT
  c_name,
  c_custkey,
  o_orderkey,
  o_orderdate,
  ROUND(o_totalprice, 6)      AS o_totalprice,
  ROUND(SUM(l_quantity), 6)   AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("q18_large_volume_customer", oracle=Q18_ORACLE)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers with orders above 300 total units — the
    IN-over-grouped-HAVING shape, planned as an aggregate feeding a
    left-semi join (no correlated re-evaluation).

    Scale posture: the HAVING aggregate reduces lineitem to order
    keys BEFORE anything joins — the semi-join probe carries only
    qualifying keys, and re-aggregating quantity afterwards touches
    just the surviving orders' lines. Shuffles: the orderkey agg and
    the final group-by; customer broadcasts under AQE.
    """
    customer, orders, lineitem = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_orderkey")
    )
    return (
        orders.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(r6(F.sum("l_quantity")).alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            r6(F.col("o_totalprice")).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


Q14_ORACLE = """
SELECT ROUND(
         100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                          THEN l_extendedprice * (1 - l_discount) END)
               / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 6)     AS total_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
"""


@query("q14_promo_effect", oracle=Q14_ORACLE)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: share of one month's revenue from promo parts — a
    ratio of two aggregates over the same join, computed in ONE
    pass (conditional numerator, unconditional denominator), never
    two scans. The one-month shipdate window is the pushed filter
    that makes the fact scan cheap; part joins broadcast."""
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            r6(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").like("PROMO%"), rev))
                / F.sum(rev)
            ).alias("promo_revenue_pct"),
            r6(F.sum(rev)).alias("total_revenue"),
        )
    )


Q19_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       CAST(COUNT(*) AS BIGINT)                          AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25 AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50 AND l_quantity >= 20 AND l_quantity <= 40)
"""


@query("q19_disjunctive_join", oracle=Q19_ORACLE)
def q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of three brand/size/quantity conjuncts
    spanning BOTH join sides. The planner keeps the equi-key join
    (p_partkey = l_partkey) and evaluates the disjunction as a join
    residual; the derivable single-side implications (brand IN (...),
    size 1-50, quantity 1-40) are what each scan can still push.
    The anti-pattern this guards against is the disjunction forcing
    a nested-loop join — asserted absent in tests/test_plans.py."""
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(11, 25)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(26, 50)
        & F.col("l_quantity").between(20, 40)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(
            F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
        )
        .filter(cond)
        .agg(
            r6(F.sum(rev)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q6_ORACLE = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
       CAST(COUNT(*) AS BIGINT)                    AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("q6_forecast_revenue", oracle=Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure scan-aggregate — every predicate sargable
    and pushed (date range, discount band, quantity cap), one
    ungrouped sum, no join, no shuffle beyond the single-row merge.
    The canonical 'is the scan path fast' probe: at 100 TB this is
    I/O-bound or nothing is."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            r6(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(18,6)"
                    )
                ).cast("double")
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q22_ORACLE = """
WITH wealthy AS (
    SELECT c_custkey, c_acctbal, substr(c_name, 1, 10) AS cntry
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
)
SELECT substr(CAST(c_custkey % 10 AS VARCHAR), 1, 1) AS bucket,
       CAST(COUNT(*) AS BIGINT)                      AS n_cust,
       ROUND(SUM(c_acctbal), 6)                      AS total_bal
FROM wealthy w
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = w.c_custkey
                    AND o.o_orderpriority = '1-URGENT'
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY bucket
"""


@query("q22_global_sales_opportunity", oracle=Q22_ORACLE)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with NO
    recent urgent orders — an uncorrelated scalar subquery (the
    average, computed once and broadcast into the filter) feeding a
    left-anti join (the NOT EXISTS, with its own pushed filters). Both subquery shapes
    the decorrelator must get right in one query. The anti-join
    probes with only the key column; customer never widens."""
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    wealthy = (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_acctbal")
    )
    recent_urgent = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("c_custkey"))
    no_orders = wealthy.join(recent_urgent, "c_custkey", "left_anti")
    return (
        no_orders.withColumn(
            "bucket", F.substring((F.col("c_custkey") % 10).cast("string"), 1, 1)
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            r6(F.sum("c_acctbal")).alias("total_bal"),
        )
    )
