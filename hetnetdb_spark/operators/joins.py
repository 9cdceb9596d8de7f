"""Join operators beyond the flagship equi-joins — SURVEY §2.3 (J4–J10).

J1–J3 (inner/broadcast/multi-way) are exercised by q3/q5; this
module covers outer, semi/anti (the EXISTS shapes), cross, theta,
as-of, and self joins.

Scale posture, per shape:
- outer/semi/anti joins shuffle on their equi key like any inner
  join; the semi/anti forms additionally never widen the row, so
  they are the cheapest EXISTS/NOT EXISTS evaluation at scale.
- theta joins here always carry an equi conjunct (nation key, user
  id) so Spark partitions on it and evaluates only the residual
  range predicate within partitions — a pure cross product with a
  filter is the anti-pattern at 100 TB.
- the as-of join bounds its fan-out with a time window (7 days), the
  standard trick that keeps the intermediate join linear-ish rather
  than quadratic per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hetnetdb_spark.catalog import load_tables
from hetnetdb_spark.expr import r6
from hetnetdb_spark.registry import query
from hetnetdb_spark.session import conf_scope

# --------------------------------------------------------------------------
# J4 — left outer join
# --------------------------------------------------------------------------

J4_LEFT_ORACLE = """
SELECT c_custkey,
       COUNT(o_orderkey)                       AS n_orders,
       ROUND(COALESCE(SUM(o_totalprice), 0), 6) AS total_spend
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


@query("j04_left_outer", oracle=J4_LEFT_ORACLE)
def j04_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — left outer join keeps customers with no orders;
    COUNT(o_orderkey) ignores the null-extended rows, and the spend
    is coalesced so no nulls reach the hash comparison."""
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            r6(F.coalesce(F.sum("o_totalprice"), F.lit(0.0))).alias("total_spend"),
        )
    )


# --------------------------------------------------------------------------
# J4 — full outer join
# --------------------------------------------------------------------------

J4_FULL_ORACLE = """
SELECT COALESCE(c.nk, s.nk)      AS nationkey,
       COALESCE(c.n_debt_cust, 0) AS n_debt_cust,
       COALESCE(s.n_debt_supp, 0) AS n_debt_supp
FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_debt_cust
      FROM customer WHERE c_acctbal < -800 GROUP BY c_nationkey) c
FULL JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_debt_supp
           FROM supplier WHERE s_acctbal < 0 GROUP BY s_nationkey) s
ON c.nk = s.nk
"""


@query("j04_full_outer", oracle=J4_FULL_ORACLE)
def j04_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — full outer join of two aggregated sides whose key sets
    genuinely differ (nations having in-debt customers vs in-debt
    suppliers), so both null-extension directions are exercised."""
    customer, supplier = load_tables(spark, sf_dir, "customer", "supplier")
    c = (
        customer.filter(F.col("c_acctbal") < -800)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_debt_cust"))
    )
    s = (
        supplier.filter(F.col("s_acctbal") < 0)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_debt_supp"))
    )
    return c.join(s, F.col("c_nk") == F.col("s_nk"), "full").select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"),
        F.coalesce("n_debt_cust", F.lit(0)).alias("n_debt_cust"),
        F.coalesce("n_debt_supp", F.lit(0)).alias("n_debt_supp"),
    )


# --------------------------------------------------------------------------
# J5 — left semi join (EXISTS)
# --------------------------------------------------------------------------

J5_ORACLE = """
SELECT c_custkey, c_nationkey
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
"""


@query("j05_left_semi", oracle=J5_ORACLE)
def j05_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — EXISTS as a left-semi join: probe side never duplicates
    or widens rows, the cheapest existence check at scale."""
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_nationkey")


# --------------------------------------------------------------------------
# J6 — left anti join (NOT EXISTS)
# --------------------------------------------------------------------------

J6_ORACLE = """
SELECT c_custkey, ROUND(c_acctbal, 6) AS acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 350000)
"""


@query("j06_left_anti", oracle=J6_ORACLE)
def j06_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — NOT EXISTS as a left-anti join."""
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    big = orders.filter(F.col("o_totalprice") > 350000)
    return customer.join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", r6(F.col("c_acctbal")).alias("acctbal"))


# --------------------------------------------------------------------------
# J7 — cross join
# --------------------------------------------------------------------------

J7_ORACLE = """
SELECT r_name, n_name,
       CASE WHEN n_regionkey = r_regionkey THEN 1 ELSE 0 END AS is_home
FROM region CROSS JOIN nation
"""


@query("j07_cross_join", oracle=J7_ORACLE)
def j07_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — explicit cross join, sane only between bounded dims
    (5 × 25 here). At scale a cross join is only ever legitimate
    when one side is a broadcast-able constant table — anything else
    must be pruned to an equi/bucket join first (see L4)."""
    region, nation = load_tables(spark, sf_dir, "region", "nation")
    return region.crossJoin(nation).select(
        "r_name",
        "n_name",
        F.when(F.col("n_regionkey") == F.col("r_regionkey"), 1).otherwise(0).alias("is_home"),
    )


# --------------------------------------------------------------------------
# J8 — theta/range join (equi conjunct + inequality residual)
# --------------------------------------------------------------------------

J8_ORACLE = """
SELECT n_name,
       COUNT(*) AS n_pairs
FROM supplier
JOIN customer ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
JOIN nation   ON n_nationkey = s_nationkey
GROUP BY n_name
"""


@query("j08_theta_join", oracle=J8_ORACLE)
def j08_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — theta join: supplier–customer pairs in the same nation
    where the supplier out-balances the customer. The equi conjunct
    (nation key) lets Spark hash-partition; only the residual
    ``s_acctbal > c_acctbal`` is evaluated within partitions —
    the shape that keeps theta joins feasible at scale."""
    supplier, customer, nation = load_tables(spark, sf_dir, "supplier", "customer", "nation")
    return (
        supplier.join(
            customer,
            (F.col("s_nationkey") == F.col("c_nationkey"))
            & (F.col("s_acctbal") > F.col("c_acctbal")),
        )
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# J9 — as-of join (latest click at-or-before each purchase, per user)
# --------------------------------------------------------------------------

J9_ORACLE = """
SELECT p_event_id, asof_click_id, asof_ts
FROM (
  SELECT p.event_id AS p_event_id,
         c.event_id AS asof_click_id,
         c.ts       AS asof_ts,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id
   AND c.ts <= p.ts
   AND c.ts >= p.ts - INTERVAL 7 DAY
) t
WHERE rn = 1
"""


@query("j09_asof_join", oracle=J9_ORACLE)
def j09_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 — as-of join: for each purchase, the most recent click by
    the same user at or before the purchase (within 7 days).

    Spark has no native batch ASOF JOIN, so the composition is:
    equi-join on user + bounded time-range condition, then
    ``row_number() = 1`` per left row over (ts DESC, id DESC). The
    7-day bound is what keeps the intermediate linear-ish at scale
    (unbounded as-of degenerates to per-key quadratics); the
    remaining shuffle keys are user_id then p.event_id. For heavily
    skewed users the alternative is groupBy(user).applyInPandas
    with pandas.merge_asof, at the cost of an Arrow crossing.
    """
    (events,) = load_tables(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("asof_click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("asof_ts"),
    )
    w = Window.partitionBy("p_event_id").orderBy(
        F.col("asof_ts").desc(), F.col("asof_click_id").desc()
    )
    return (
        p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("asof_ts") <= F.col("p_ts"))
            & (F.col("asof_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_event_id", "asof_click_id", "asof_ts")
    )


# --------------------------------------------------------------------------
# J10 — self-join (event pairs by the same user within 1 hour)
# --------------------------------------------------------------------------

J10_ORACLE = """
SELECT a.user_id,
       COUNT(*) AS n_pairs_1h
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.event_id > a.event_id
 AND b.ts >= a.ts
 AND b.ts <= a.ts + INTERVAL 1 HOUR
GROUP BY a.user_id
"""


@query("j10_self_join", oracle=J10_ORACLE)
def j10_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 — self-join with aliases: ordered event pairs by the same
    user within one hour (the sessionization precursor). Equi key
    user_id partitions; the id ordering halves the pair space and
    the 1 h bound caps per-user fan-out."""
    (events,) = load_tables(spark, sf_dir, "events")
    a = events.alias("a")
    b = events.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.event_id") > F.col("a.event_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs_1h"))
    )


# --------------------------------------------------------------------------
# J11 — runtime Bloom-filter join pruning (SURVEY §4 runtime filters)
# --------------------------------------------------------------------------

J11_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE)          AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
"""


@query("j11_runtime_bloom_join", oracle=J11_ORACLE, impure=True)
def j11_runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 — big-to-big join pruned by a runtime Bloom filter.

    lineitem ⋈ orders where the selective predicate lives ONLY on
    the orders side: Catalyst's InjectRuntimeFilter builds a Bloom
    filter over the filtered orders' keys and pushes a
    `might_contain` predicate into the lineitem scan filter, so
    ~80% of lineitem rows drop BEFORE the join shuffle instead of
    after it (plan-asserted in tests/test_plans.py). This is the
    non-partition-column sibling of s11's dynamic partition pruning
    and the key runtime optimization for fact-to-fact joins at
    100 TB, where neither side broadcasts.

    The injection thresholds default to cluster scale (10 GB
    application-side scan), so they are lowered — and the broadcast
    path disabled, as a 100 TB orders side could never broadcast —
    only while THIS query's plan is optimized and physically
    planned, inside `session.conf_scope` (the plan pins its own
    optimized tree, so later actions reuse it).
    """
    lineitem, orders = load_tables(spark, sf_dir, "lineitem", "orders")
    with conf_scope(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        df = (
            lineitem.join(
                orders.filter(F.col("o_orderpriority") == "1-URGENT"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                # The 32-way shuffle join reorders the rows feeding this
                # single huge group, so a double SUM drifts past any
                # fixed rounding (measured: ±1e-6 at 5.9e8). Decimal
                # accumulation is exact and order-independent; the final
                # double cast is then bit-deterministic on both engines.
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                )
                .cast("double")
                .alias("revenue"),
            )
        )
        # Force logical optimization + physical planning NOW, while
        # the scoped confs are in effect; both are cached on this
        # DataFrame's QueryExecution.
        df._jdf.queryExecution().executedPlan()
    return df


# --------------------------------------------------------------------------
# J12 — LATERAL join (correlated per-row subquery table)
# --------------------------------------------------------------------------

J12_SQL = """
SELECT n_name, t.c_name, ROUND(t.c_acctbal, 6) AS c_acctbal
FROM nation,
LATERAL (
    SELECT c_name, c_acctbal FROM customer
    WHERE c_nationkey = n_nationkey
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 2
) t
"""


@query("j12_lateral_topk", oracle=J12_SQL, impure=True)
def j12_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 — LATERAL: the per-row correlated table (top-2 customers
    for EACH nation) through the SQL entry path; the oracle is the
    identical statement. Catalyst decorrelates the LATERAL LIMIT
    into a ranked window over the join — one pass over customer,
    never a per-nation re-scan. The DataFrame twin is W6's
    row_number pattern; this registers the SQL surface for it."""
    from hetnetdb_spark.catalog import register_views

    register_views(spark, sf_dir, "nation", "customer")
    return spark.sql(J12_SQL)


# --------------------------------------------------------------------------
# J13 — salted skew join (replicate-dim salting; exact same result)
# --------------------------------------------------------------------------

J13_ORACLE = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(28,10))) AS DOUBLE), 6) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


@query("j13_salted_skew_join", oracle=J13_ORACLE)
def j13_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13 — the manual salting pattern for a skewed shuffle join,
    companion to A12's aggregation salt. When one join key carries a
    disproportionate share of the fact rows, the reducer owning that
    key becomes the straggler; AQE's skew-join split handles it at
    runtime, but salting is the portable plan-level fix and the only
    option when the skewed side must ALSO aggregate on the key.

    Fact side gets a deterministic salt in [0, 8) from a hash of its
    unique line id; the dim side is replicated 8x via explode so
    every (key, salt) pair finds its dim row. The join key becomes
    (p_partkey, salt) -> 8 reducers share each hot key. Replication
    multiplies only the SMALL side (part, bounded), and the final
    aggregate is decomposable, so the result is bit-identical to the
    unsalted join the oracle runs. Decimal partials make the
    double-sum independent of which salt partition merges first.
    """
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    n_salts = 8
    salted_fact = lineitem.withColumn(
        "salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salts)),
    )
    salted_dim = part.select(
        "p_partkey",
        "p_brand",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])).alias("salt"),
    )
    return (
        # shuffle_hash hint: at fixture scale Catalyst would broadcast
        # the exploded dim and skip the join shuffle entirely — which
        # is the RIGHT call when the dim fits in memory, but hides the
        # shuffle this pattern exists to de-skew. Salting only matters
        # on the shuffle path, so the query pins it.
        salted_fact.join(
            salted_dim.hint("shuffle_hash"),
            (F.col("l_partkey") == F.col("p_partkey"))
            & (salted_fact["salt"] == salted_dim["salt"]),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(28,10)"))
                .cast("double"),
                6,
            ).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# J14 — interval overlap join (day-blocked, residual overlap predicate)
# --------------------------------------------------------------------------

J14_ORACLE = """
WITH iv AS (
    SELECT user_id,
           date_trunc('day', ts) AS day,
           MIN(ts) AS t0,
           MAX(ts) AS t1
    FROM events
    GROUP BY user_id, date_trunc('day', ts)
)
SELECT a.day,
       CAST(COUNT(*) AS BIGINT) AS n_overlapping_pairs
FROM iv a
JOIN iv b ON a.day = b.day
         AND a.user_id < b.user_id
         AND a.t0 <= b.t1
         AND b.t0 <= a.t1
GROUP BY a.day
"""


@query("j14_interval_overlap_join", oracle=J14_ORACLE)
def j14_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14 — interval overlap join (Flink's interval join, kdb's
    wj): pairs of users whose daily activity spans [t0, t1]
    intersect. A bare overlap predicate has no equi key, which
    degenerates to a cross product; the first discipline is to BLOCK
    on a time bucket that bounds the overlap scope (the day) — J8's
    equi+residual shape lifted to intervals. But the block key here
    is DAY alone: every user shares the same ~30 day blocks (30
    distinct event days at sf0.001, sf0.01 and sf0.1), so the
    blocked join still evaluates (users/day)^2 residual pairs per
    block at ANY corpus size — quadratic inside the block even
    though the output is one count per day.

    r16 rewrite (guide §3 — avoid the join that multiplies rows —
    and §2.4, remove its shuffle outright): the count
    needs no pair relation at all. Order a day's intervals by
    (t0, user); the unordered pair {a, b} overlaps iff the
    earlier-starting interval is still active when the later one
    starts (a.t1 >= b.t0 — the other overlap inequality is then
    automatic), so each interval contributes (#starts before it) -
    (#ends strictly before its start) and the day's pair count is
    the sum of contributions: ONE window over 2N endpoint rows —
    the sessionize sweep-line pattern — instead of a quadratic
    self-join. Tie rules that keep the count exact: end-points sort
    AFTER start-points at the same timestamp (a.t1 == b.t0 is still
    an overlap, inclusive bounds), and equal t0s order by user so
    each pair is counted exactly once, at the later (t0, user).
    Frame-identical to the join spelling at sf0.001/0.01/0.1;
    same-session rotated A/B med 2.12 -> 1.15 s, fresh-process min3
    in OPTIMIZATION_r16.md §7 "Next-tier sweep" (script removed; see
    git 195aa75). Intervals that may CROSS buckets would
    need explode-to-every-covered-bucket first (L23's band
    pattern); these day-grouped spans can't cross by
    construction. A day with no overlapping pair (one user, or only
    disjoint spans) sums to 0 here but has no row in the oracle's
    inner self-join, so those days are dropped
    (tests/test_j14_edge.py)."""
    (events,) = load_tables(spark, sf_dir, "events")
    iv = events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    pts = iv.select(
        "day",
        F.explode(
            F.array(
                F.struct(
                    F.col("t0").alias("t"),
                    F.lit(0).alias("is_end"),
                    F.col("user_id").alias("u"),
                ),
                F.struct(
                    F.col("t1").alias("t"),
                    F.lit(1).alias("is_end"),
                    F.col("user_id").alias("u"),
                ),
            )
        ).alias("p"),
    ).select("day", "p.t", "p.is_end", "p.u")
    w = (
        Window.partitionBy("day")
        .orderBy("t", "is_end", "u")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = pts.select(
        "day",
        "is_end",
        (
            F.coalesce(F.sum(1 - F.col("is_end")).over(w), F.lit(0))
            - F.coalesce(F.sum("is_end").over(w), F.lit(0))
        ).alias("active_before"),
    )
    return (
        contrib.filter(F.col("is_end") == 0)
        .groupBy("day")
        .agg(F.sum("active_before").alias("n_overlapping_pairs"))
        .where(F.col("n_overlapping_pairs") > 0)
    )


# --------------------------------------------------------------------------
# J15 — as-of join with tolerance (keep-unmatched + staleness audit)
# --------------------------------------------------------------------------

J15_ORACLE = """
SELECT p_event_id, asof_click_id, staleness_ms
FROM (
  SELECT p.event_id AS p_event_id,
         c.event_id AS asof_click_id,
         (epoch_us(p.ts) - epoch_us(c.ts)) // 1000 AS staleness_ms,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id
   AND c.ts <= p.ts
   AND c.ts >= p.ts - INTERVAL 1 HOUR
) t
WHERE rn = 1
"""


@query("j15_asof_tolerance", oracle=J15_ORACLE)
def j15_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J15 — as-of join with a tolerance bound, keep-unmatched: for
    each purchase, the latest click by the same user within the
    last HOUR — and purchases with no such click survive with NULL
    attribution (pandas `merge_asof(tolerance=...)` semantics,
    which J9's inner form silently drops). The staleness column is
    the attribution lag in milliseconds — integer arithmetic on
    epoch micros on BOTH engines (`div 1000` / `// 1000`), because
    second-granularity `date_diff` counts boundary *crossings* and
    disagrees with a floored duration for sub-second offsets.

    Same scale shape as J9: equi-join on user bounded by the
    tolerance window, per-left-row `row_number() = 1`. The LEFT
    join means unmatched purchases flow through the window with one
    all-NULL match row — no second anti-join pass to re-attach
    them.
    """
    (events,) = load_tables(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("asof_click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    w = Window.partitionBy("p_event_id").orderBy(
        F.col("c_ts").desc(), F.col("asof_click_id").desc()
    )
    return (
        p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_event_id",
            "asof_click_id",
            F.expr("(unix_micros(p_ts) - unix_micros(c_ts)) div 1000").alias(
                "staleness_ms"
            ),
        )
    )


# --------------------------------------------------------------------------
# J16 — LATERAL correlated subquery (top-k per driving row)
# --------------------------------------------------------------------------

J16_SQL = """
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       ROUND(o.o_totalprice, 6) AS top_price
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) o
WHERE c.c_mktsegment = 'BUILDING'
ORDER BY c.c_custkey, o.o_orderkey
"""


@query("j16_lateral_topk", oracle=J16_SQL, impure=True)
def j16_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J16 — ANSI LATERAL join: for each BUILDING customer, the
    correlated subquery returns their 2 highest-value orders. Both
    engines execute the IDENTICAL SQL string (the oracle *is* this
    query), so this pins the lateral surface itself, not a
    reimplementation.

    What Catalyst does with it is the point: the per-row correlated
    LIMIT decorrelates to `WindowGroupLimit(row_number ≤ 2)` with a
    PARTIAL pass *below* the exchange — each map task keeps at most
    2 orders per customer before any shuffle — then a broadcast
    hash join against the filtered customers. That is exactly the
    top-k-per-group plan `window_top3_orders_per_cust` hand-writes;
    a naive engine would re-execute the subquery per driving row
    (O(|customers|) scans). At 100 TB the shuffle carries ≤2 rows
    per (customer × input partition) and the customer filter is
    pushed to the scan footer. ORDER BY carries the unique
    o_orderkey tiebreaker so both engines select the same rows when
    prices tie (registry float discipline).

    Registered impure: building the plan registers temp views
    (s05's SQL-entry pattern)."""
    from hetnetdb_spark.catalog import register_views

    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(J16_SQL)


# --------------------------------------------------------------------------
# J17 — nearest as-of join (bidirectional, bounded, backward-wins ties)
# --------------------------------------------------------------------------

J17_ORACLE = """
WITH p AS (
    SELECT event_id AS p_event_id, user_id, ts AS p_ts
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT event_id AS click_id, user_id, ts AS c_ts
    FROM events WHERE event_type = 'click'
)
SELECT p_event_id, click_id AS nearest_click_id, c_ts AS nearest_ts,
       CAST(dist_us AS BIGINT) AS dist_us
FROM (
    SELECT p.p_event_id, c.click_id, c.c_ts,
           abs(epoch_us(c.c_ts) - epoch_us(p.p_ts)) AS dist_us,
           row_number() OVER (
               PARTITION BY p.p_event_id
               ORDER BY abs(epoch_us(c.c_ts) - epoch_us(p.p_ts)),
                        c.c_ts, c.click_id
           ) AS rn
    FROM p
    JOIN c ON p.user_id = c.user_id
          AND c.c_ts BETWEEN p.p_ts - INTERVAL 2 DAY
                         AND p.p_ts + INTERVAL 2 DAY
) t
WHERE rn = 1
"""


@query("j17_asof_nearest", oracle=J17_ORACLE)
def j17_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J17 — NEAREST-direction as-of: for each purchase, the click
    by the same user closest in time in EITHER direction (±2 days).
    j09 is `merge_asof(direction='backward')`; this is
    `direction='nearest'` — the attribution variant used when the
    matching signal may land just after the anchor event (delayed
    client clocks, late ingestion).

    Same scale spelling as j09: equi-join on user_id with a BOUNDED
    two-sided range condition (the bound is what keeps per-key
    fan-out linear), then row_number()=1 per anchor. Distance ranks
    on integer epoch MICROS (Spark `unix_micros`, DuckDB
    `epoch_us` — both exact int64, no fractional-second doubles),
    and the tie order (distance, ts, click_id) makes "backward
    wins at equal distance" an explicit deterministic rule: for
    equal |Δ| the earlier click has the smaller ts. Shuffles:
    user_id for the join, anchor id for the rank window."""
    (events,) = load_tables(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("nearest_click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("nearest_ts"),
    )
    dist = F.abs(
        F.unix_micros(F.col("nearest_ts").cast("timestamp"))
        - F.unix_micros(F.col("p_ts").cast("timestamp"))
    )
    w = Window.partitionBy("p_event_id").orderBy(
        "dist_us", "nearest_ts", "nearest_click_id"
    )
    return (
        p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("nearest_ts") >= F.col("p_ts") - F.expr("INTERVAL 2 DAYS"))
            & (F.col("nearest_ts") <= F.col("p_ts") + F.expr("INTERVAL 2 DAYS")),
        )
        .withColumn("dist_us", dist)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_event_id", "nearest_click_id", "nearest_ts", "dist_us")
    )


# --------------------------------------------------------------------------
# J18 — null-skew outer join (null keys bypass the shuffle)
# --------------------------------------------------------------------------

J18_ORACLE = """
WITH ev AS (
    SELECT event_id, event_type, value,
           CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS uid
    FROM events
),
profile AS (
    SELECT user_id AS uid,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
)
SELECT ev.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(profile.uid) AS BIGINT) AS n_matched,
       CAST(SUM(COALESCE(profile.n_purchases, 0)) AS BIGINT)
           AS purchases_weight
FROM ev LEFT JOIN profile USING (uid)
GROUP BY ev.event_type
"""


@query("j18_null_skew_outer_join", oracle=J18_ORACLE)
def j18_null_skew_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J18 — LEFT OUTER join where a large fraction of probe keys is
    NULL (anonymous/logged-out events, here simulated as uid%7==0),
    with the null-split rewrite. The trap: for INNER joins Catalyst
    inserts `isnotnull` filters automatically, but an outer join
    must PRESERVE null-keyed rows — so in the naive plan every NULL
    key hashes to the same shuffle partition and becomes the
    hottest key in the job (the classic "one straggler task"
    post-mortem). NULL never equals anything, so those rows can
    never match: the rewrite splits them off BEFORE the shuffle,
    sends only non-null keys through the join, and unions the null
    rows back with null-filled right columns — same semantics (the
    oracle is the naive single LEFT JOIN), no null traffic. With a
    broadcast right side the split is cosmetic; under a
    shuffle-hash/SMJ plan at 100 TB it removes the dominant skew
    key entirely — the degenerate cousin of j13's salting, solvable
    exactly because the hot key is known to match nothing."""
    (events,) = load_tables(spark, sf_dir, "events")
    ev = events.select(
        "event_id",
        "event_type",
        "value",
        F.when(F.col("user_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("user_id"))
        .alias("uid"),
    )
    profile = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("uid"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    keyed = ev.filter(F.col("uid").isNotNull()).join(profile, "uid", "left")
    nulls = ev.filter(F.col("uid").isNull()).withColumn(
        "n_purchases", F.lit(None).cast("long")
    )
    merged = keyed.unionByName(nulls.select(*keyed.columns))
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("n_purchases").alias("n_matched"),
        F.sum(F.coalesce("n_purchases", F.lit(0))).alias("purchases_weight"),
    )


# --------------------------------------------------------------------------
# J20 — join strategy hints (SHUFFLE_HASH / MERGE override the planner)
# --------------------------------------------------------------------------

J20_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("j20_join_strategy_hints", oracle=J20_ORACLE, impure=True)
def j20_join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J20 — join STRATEGY hints: `/*+ MERGE(customer) */` forces a
    sort-merge join and `/*+ SHUFFLE_HASH(lineitem) */` a shuffled
    hash join, each where Catalyst's size estimate would otherwise
    pick a broadcast at fixture scale — the plan test asserts both
    operators appear and no BroadcastHashJoin does, which pins that
    hints WIN over the estimate-based strategy choice (the documented
    precedence). Results must be strategy-invariant: the oracle is
    the plain 3-way join, and the decimal revenue accumulation makes
    the comparison independent of whatever partition order each
    strategy produces.

    Hint-binding gotcha (measured, not documented upstream): a hint
    names a RELATION, and binds where that relation first joins —
    `SHUFFLE_HASH(orders)` here was silently out-competed because
    orders participates in BOTH joins and the first (customer ⋈
    orders) already carried MERGE(customer); the orders ⋈ lineitem
    join then fell back to the broadcast estimate. Each hint must
    name a relation unique to its intended join.

    Why this matters at 100 TB: the estimate-based chooser works
    from file-size statistics that post-filter/post-UDF cardinality
    can invalidate in either direction (j11/j13 are the runtime
    fixes); a hint is the surgical override when the operator knows
    the build side fits (SHUFFLE_HASH avoids SMJ's double sort) or
    doesn't (MERGE avoids a broadcast OOM). The hint names resolve
    against the CATALOG relation names visible in the SQL, and an
    unresolvable hint degrades to a warning, never an error —
    both properties a production runbook relies on.

    Registered impure: registers catalog views (s05 pattern)."""
    from hetnetdb_spark.catalog import register_views

    register_views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(
        """
        SELECT /*+ MERGE(customer), SHUFFLE_HASH(lineitem) */
               c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


# --------------------------------------------------------------------------
# J21 — FULL OUTER ... USING: the ANSI coalesced join column
# --------------------------------------------------------------------------

J21_SQL = """
WITH a AS (
    SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
),
b AS (
    SELECT c_custkey AS custkey, c_mktsegment FROM customer
)
SELECT custkey,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(c_mktsegment, 'NO-ACCOUNT') AS segment,
       n_orders IS NULL      AS customer_only,
       c_mktsegment IS NULL  AS orders_only
FROM a FULL JOIN b USING (custkey)
ORDER BY custkey
"""


@query("j21_full_using_coalesce", oracle=J21_SQL, impure=True)
def j21_full_using_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J21 — the ANSI USING-column rule under FULL OUTER: after
    ``FULL JOIN ... USING (custkey)``, the name `custkey` denotes
    COALESCE(a.custkey, b.custkey) — a single merged column that is
    non-NULL on BOTH unmatched sides, which is precisely what makes
    USING different from ON plus projection (with ON, each side's
    key is NULL on the other side's unmatched rows, and naive
    SELECT-one-side silently nulls half the keys — the classic
    full-outer reconciliation bug). Both engines run the IDENTICAL
    SQL; the side-detector flags pin which rows came from which
    input (fixture customers without orders exist; every order has
    a customer, so orders_only is all-false — an asymmetry the
    hash checks too).

    This is the reconciliation-report shape (s18's FK audit is the
    aggregate cousin): at 100 TB it is one shuffle on the merged
    key, and the USING form is what keeps downstream code from
    key-coalescing by hand."""
    from hetnetdb_spark.catalog import register_views

    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(J21_SQL)
