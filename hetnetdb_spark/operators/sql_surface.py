"""Spark 4 SQL-surface operators: recursive CTEs, SQL-body UDFs,
the VARIANT semi-structured type, ordered LISTAGG, error-safe
``try_*`` arithmetic, and the ``approx_top_k`` sketch contract.

These close the gap between "the engine runs queries" and "the
engine speaks current ANSI/Spark SQL": iteration expressed in SQL
(WITH RECURSIVE — new in Spark 4.0), user abstraction that stays in
codegen (CREATE FUNCTION ... RETURN <expr> is inlined by the
analyzer, unlike Python UDFs), schemaless JSON values as a first-
class typed column (VARIANT), and the overflow/zero-division
semantics that decide whether a 100-TB batch job dies at hour six
or marks the row NULL and keeps going.

Oracle posture: WITH RECURSIVE and ordered string aggregation exist
in DuckDB too, so o10/a28 run (near-)identical SQL on both engines —
pinning the surface itself, not a reimplementation (j16's pattern).
VARIANT and ``try_*`` have no DuckDB twin; their oracles state the
*semantic contract* instead: a VARIANT round-trip must reproduce the
typed source columns exactly, and try-arithmetic NULLs must appear
exactly where the predicate "this would overflow / divide by zero"
is true — both expressible over exact integer/source values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hetnetdb_spark.catalog import load_tables, register_views
from hetnetdb_spark.registry import query
from hetnetdb_spark.session import conf_scope

# --------------------------------------------------------------------------
# O10 — WITH RECURSIVE hierarchy rollup (identical SQL on both engines)
# --------------------------------------------------------------------------

O10_SQL = """
WITH RECURSIVE anc AS (
    SELECT p_partkey AS part, p_partkey AS root, 0 AS depth,
           p_retailprice AS price
    FROM part WHERE p_partkey < 10
  UNION ALL
    SELECT p.p_partkey, anc.root, anc.depth + 1, p.p_retailprice
    FROM part p JOIN anc ON CAST(FLOOR(p.p_partkey / 10) AS BIGINT) = anc.part
    WHERE p.p_partkey >= 10
)
SELECT depth,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT root) AS BIGINT) AS n_roots,
       ROUND(CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE), 6) AS retail_value
FROM anc
GROUP BY depth
ORDER BY depth
"""


@query("o10_recursive_cte", oracle=O10_SQL, impure=True)
def o10_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 — SQL-expressed iteration: ``WITH RECURSIVE`` (Spark 4.0+)
    computes a containment hierarchy's per-depth rollup. Both engines
    execute the IDENTICAL SQL string (the oracle *is* this query), so
    the recursion surface itself is what's pinned — anchor row typing,
    UNION ALL step semantics, and termination.

    The hierarchy is derived deterministically from the fixture:
    parent(k) = floor(k/10), roots are k < 10 — a bushy 10-ary forest
    whose depth is log₁₀|part| (4 levels at sf0.01, 5 at sf0.1), so
    the recursion executes O(log N) joined steps, each a hash join of
    the full part table against the previous frontier. That is the
    same iteration shape as the pointer-jumping connected components
    (dedup.py l11) — per-step shuffles bounded by the frontier size —
    but declared in SQL and driven by the engine's own loop operator
    rather than a driver loop; Spark plans each step with the
    recursion's UnionLoop and the frontier join stays a hash join on
    the derived parent key. Money rollup accumulates in DECIMAL
    (associative ⇒ partition-order-exact; the a19/q1 discipline).

    At 100 TB: recursion depth is data-logarithmic, not data-linear,
    and each step's shuffle carries (part, root, depth, price) rows
    only for the frontier level — the same bounded-state argument as
    l38's unrolled PageRank. Spark guards recursion two ways: a
    level limit (default 100 — kept, it is the real runaway guard
    for this structurally-terminating query) and a TOTAL-row limit
    (default 1M) that a legitimate input-sized recursion trips as
    soon as the table outgrows it — the 10x slope run failed with
    RECURSION_ROW_LIMIT_EXCEEDED at 2M parts. The row limit is
    lifted for THIS query only: the conf is execution-time read, so
    the recursion is materialized inside a `session.conf_scope` (the
    rollup is <= depth rows — bounded at any SF), which restores the
    previous limit. Leaving `-1` on the shared session would disable
    the runaway-recursion guard for every later query in the same
    session (w20's recursive CTE included)."""
    register_views(spark, sf_dir, "part")
    with conf_scope(spark, {"spark.sql.cteRecursionRowLimit": "-1"}):
        result = spark.sql(O10_SQL)
        rows = result.collect()
    return spark.createDataFrame(rows, result.schema)


# --------------------------------------------------------------------------
# U13 — SQL-body scalar UDFs (CREATE FUNCTION ... RETURN <expr>)
# --------------------------------------------------------------------------

U13_NET_PRICE_BODY = "price * (1 - disc) * (1 + tax)"
U13_BAND_BODY = (
    "CASE WHEN p < 20000 THEN 'low' WHEN p < 60000 THEN 'mid' ELSE 'high' END"
)

U13_ORACLE = f"""
WITH scored AS (
    SELECT l_returnflag,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net
    FROM lineitem
)
SELECT l_returnflag,
       CASE WHEN net < 20000 THEN 'low'
            WHEN net < 60000 THEN 'mid' ELSE 'high' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(net AS DECIMAL(18,6))) AS DOUBLE), 6) AS net_total
FROM scored
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("u13_sql_udf", oracle=U13_ORACLE, impure=True)
def u13_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U13 — SQL scalar UDFs (Spark 4.1 ``CREATE FUNCTION ... RETURN
    <expression>``), including one UDF invoking another. The analyzer
    INLINES the SQL body into the plan, so unlike every Python-side
    U-surface query this abstraction costs nothing at runtime: the
    executed plan contains no BatchEvalPython / ArrowEvalPython node,
    predicates referencing UDF results still fold and push, and the
    whole expression stays inside WholeStageCodegen (plan-asserted in
    tests/test_plans.py). The oracle replays the UDF bodies inlined
    by hand — byte-identical arithmetic, same evaluation order, so
    the band CASE compares the identical double on both engines.

    This is the 100-TB shape for shared business logic: a catalog of
    SQL functions gives one definition per metric with zero runtime
    tax, where the Python UDF equivalent would drag every row across
    Arrow. The banded money rollup accumulates in DECIMAL (q1's
    magnitude discipline: per-group net sums reach O(1e9) at sf0.1).
    """
    register_views(spark, sf_dir, "lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price("
        "price DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS DOUBLE "
        f"RETURN {U13_NET_PRICE_BODY}"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE) "
        f"RETURNS STRING RETURN {U13_BAND_BODY}"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               price_band(net_price(l_extendedprice, l_discount, l_tax)) AS band,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(SUM(CAST(net_price(l_extendedprice, l_discount, l_tax)
                    AS DECIMAL(18,6))) AS DOUBLE), 6) AS net_total
        FROM lineitem
        GROUP BY 1, 2
        ORDER BY 1, 2
        """
    )


# --------------------------------------------------------------------------
# F22 — VARIANT round-trip (Spark 4 semi-structured type)
# --------------------------------------------------------------------------

F22_ORACLE = """
SELECT o_orderkey,
       'OBJECT<k: BIGINT, pri: STRING>' AS shape,
       ROUND(o_totalprice, 6)           AS price_back,
       o_orderpriority                  AS pri_back,
       o_custkey                        AS cust_back,
       CAST(NULL AS VARCHAR)            AS missing_path
FROM orders
WHERE o_orderkey % 20 = 0
ORDER BY o_orderkey
"""


@query("f22_variant_roundtrip", oracle=F22_ORACLE, impure=True)
def f22_variant_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F22 — the VARIANT semi-structured type (Spark 4.0):
    ``parse_json`` → VARIANT column → ``variant_get`` typed path
    extraction, ``try_variant_get`` on an absent path, and
    ``schema_of_variant`` introspection.

    The oracle states the round-trip CONTRACT rather than replaying
    an engine DuckDB lacks: JSON built from typed source columns
    (``to_json`` of a struct / array), parsed into VARIANT, must
    yield back exactly the source values under typed extraction —
    doubles bit-exact (JSON shortest-round-trip formatting guarantees
    re-parse identity), strings verbatim, array positions by index —
    and an absent path must be NULL under ``try_variant_get``, not an
    error. ``schema_of_variant`` is asserted on the (BIGINT, STRING)
    struct only: JSON numbers with decimal points type data-
    dependently (DECIMAL(p,s) varies per row), which is itself the
    documented VARIANT behavior, so the shape pin sticks to the
    stable subset.

    Scale posture: VARIANT is columnar-shredded binary, not text —
    every expression here is codegen (no UDF, no Arrow crossing), so
    a 100-TB JSON ingest pays one parse and then typed-path reads.
    The % 20 key sample bounds the per-row output surface the driver
    hashes; the parse itself is per-row map-side work at any scale."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               schema_of_variant(parse_json(to_json(named_struct(
                   'k', o_orderkey, 'pri', o_orderpriority))))      AS shape,
               ROUND(variant_get(parse_json(to_json(named_struct(
                   'k', o_orderkey, 'pri', o_orderpriority,
                   'price', o_totalprice))), '$.price', 'double'), 6) AS price_back,
               variant_get(parse_json(to_json(named_struct(
                   'k', o_orderkey, 'pri', o_orderpriority))),
                   '$.pri', 'string')                               AS pri_back,
               variant_get(parse_json(to_json(array(o_orderkey, o_custkey))),
                   '$[1]', 'bigint')                                AS cust_back,
               try_variant_get(parse_json(to_json(named_struct(
                   'k', o_orderkey))), '$.nope', 'string')          AS missing_path
        FROM orders
        WHERE o_orderkey % 20 = 0
        ORDER BY o_orderkey
        """
    )


# --------------------------------------------------------------------------
# F23 — error-safe try_* arithmetic (NULL, not job-abort, on the edge)
# --------------------------------------------------------------------------

F23_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN l_quantity = 5 THEN 1 END), 0) AS BIGINT)
           AS n_div_null,
       ROUND(CAST(SUM(CASE WHEN l_quantity <> 5 THEN
             CAST(l_extendedprice AS DECIMAL(18,6)) END)
             AS DOUBLE), 6) AS div_ok_price_total,
       CAST(COALESCE(SUM(CASE WHEN l_partkey < 10 THEN 1 END), 0) AS BIGINT)
           AS n_add_over,
       CAST(COALESCE(SUM(CASE WHEN l_partkey < 9 THEN 1 END), 0) AS BIGINT)
           AS n_sub_under,
       CAST(COALESCE(SUM(CASE WHEN l_partkey < 6 THEN 1 END), 0) AS BIGINT)
           AS n_mul_over
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("f23_try_arithmetic", oracle=F23_ORACLE)
def f23_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F23 — the ``try_add`` / ``try_subtract`` / ``try_multiply`` /
    ``try_divide`` family: arithmetic that yields NULL at the edge
    (BIGINT overflow, division by zero) instead of failing the task.
    On a 1000-executor job six hours in, one poisoned row aborting
    the stage is the difference between "quarantine and continue"
    and "re-run the day" — this family is how ANSI-mode pipelines
    keep strict semantics without strict fragility.

    The oracle never evaluates the overflowing expression — DuckDB
    would abort exactly like non-try Spark — it states WHERE the
    NULLs must appear as exact integer predicates: (INT64_MAX −
    partkey) + 10 overflows iff partkey < 10, (INT64_MIN + partkey)
    − 9 underflows iff partkey < 9, (2⁶²+5 − partkey) × 2 overflows
    iff partkey < 6, and price/(qty-5) divides by zero iff
    qty = 5. The non-null membership is additionally pinned by value:
    ``div_ok_price_total`` sums the SOURCE price in DECIMAL over rows
    where try_divide survived — never rounding a raw quotient.
    (Summing 4dp-rounded quotients was measured to diverge: 23 of
    60k rows at sf0.01 sit on a 4dp half-boundary where Spark's
    BigDecimal HALF_UP and DuckDB's multiply-and-round disagree on
    the same double — the exact_pairs guard-band class, solved here
    by membership instead of magnitude.)"""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    ratio = F.expr("try_divide(l_extendedprice, l_quantity - 5)")
    # Overflow is arranged to hit only partkey < 10/9/6 (a few
    # hundred rows at any SF): Spark's try_* success path is free
    # (Math.*Exact inside codegen) but every FAILING row throws and
    # catches a JVM ArithmeticException — measured 11.5 s for 6 M
    # failing rows vs 0.06 s warm when failures are rare. The
    # operational contract of this family is "poisoned rows are the
    # exception"; the query models that and the docstring records
    # the measured cost of violating it.
    add = F.expr(
        "try_add(9223372036854775807 - CAST(l_partkey AS BIGINT), CAST(10 AS BIGINT))"
    )
    sub = F.expr(
        "try_subtract((-9223372036854775807 - 1) + CAST(l_partkey AS BIGINT),"
        " CAST(9 AS BIGINT))"
    )
    mul = F.expr(
        "try_multiply(4611686018427387909 - CAST(l_partkey AS BIGINT), CAST(2 AS BIGINT))"
    )
    return (
        li.select(
            "l_returnflag",
            "l_extendedprice",
            ratio.alias("ratio"),
            F.when(add.isNull(), 1).alias("add_null"),
            F.when(sub.isNull(), 1).alias("sub_null"),
            F.when(mul.isNull(), 1).alias("mul_null"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.sum(F.when(F.col("ratio").isNull(), 1)), F.lit(0))
            .cast("bigint").alias("n_div_null"),
            F.round(
                F.sum(
                    F.when(
                        F.col("ratio").isNotNull(),
                        F.col("l_extendedprice").cast("decimal(18,6)"),
                    )
                ).cast("double"),
                6,
            ).alias("div_ok_price_total"),
            F.coalesce(F.sum("add_null"), F.lit(0)).cast("bigint").alias("n_add_over"),
            F.coalesce(F.sum("sub_null"), F.lit(0)).cast("bigint").alias("n_sub_under"),
            F.coalesce(F.sum("mul_null"), F.lit(0)).cast("bigint").alias("n_mul_over"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# A28 — ordered LISTAGG / string aggregation
# --------------------------------------------------------------------------

A28_SPARK_SQL = """
SELECT r_name,
       listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)            AS members_az,
       listagg(n_name, '|') WITHIN GROUP (ORDER BY n_nationkey DESC)  AS members_keydesc
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""

A28_ORACLE = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name)             AS members_az,
       string_agg(n_name, '|' ORDER BY n_nationkey DESC)   AS members_keydesc
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


@query("a28_ordered_listagg", oracle=A28_ORACLE, impure=True)
def a28_ordered_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28 — ``listagg(...) WITHIN GROUP (ORDER BY ...)`` (Spark
    4.0's ANSI string aggregation; DuckDB spells it ``string_agg(...
    ORDER BY ...)``). Two orderings over the same group — by value
    ascending and by a DIFFERENT column descending — pin that the
    WITHIN GROUP sort is a real per-group sort specification, not a
    post-hoc array join, and the deterministic ORDER BY keys make the
    concatenated strings comparable across engines (the registry's
    tie-break discipline applied to intra-aggregate order).

    Plan shape: sort-based aggregation over the 25-row nation ⋈
    broadcast region join. At scale LISTAGG is the one aggregate
    whose state is O(group size) — the docstring-level guidance for
    100 TB is the same as collect_list's (a09): legal only where the
    group is bounded (dimensions, top-k prefilters), and the bounded
    fixture grouping here models exactly that use."""
    register_views(spark, sf_dir, "nation", "region")
    return spark.sql(A28_SPARK_SQL)


# --------------------------------------------------------------------------
# A29 — approx_top_k sketch, pinned in its exactness regime
# --------------------------------------------------------------------------

A29_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS est_count,
       CAST(COUNT(*) AS BIGINT) AS exact_count,
       TRUE AS is_exact
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("a29_approx_topk_contract", oracle=A29_ORACLE)
def a29_approx_topk_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A29 — ``approx_top_k`` (Spark 4.1's frequent-items sketch)
    under the l41/a27 bound-contract pattern: when the column's
    distinct cardinality (5 priorities) is at most the sketch's
    tracked-item capacity (default 10 000), the space-saving sketch
    degenerates to an exact counter — no evictions ever occur — so
    the estimates must EQUAL the exact group-by counts. The oracle
    pins that equality (est_count = exact_count = COUNT(*), is_exact
    TRUE for every item); outside this regime the sketch's contract
    weakens to overestimate-with-bound, which is a27's count-min
    query. Joining est to exact on the item value (not rank) keeps
    tied counts from making the comparison order-dependent.

    Scale: the sketch merges per-partition states of bounded size
    (capacity entries), so the shuffle is O(capacity) regardless of
    row count — the same reason a16's HLL union scales. This is the
    operator a 100-TB "what are the hot keys" pass should use before
    deciding a skew-join strategy (j13's salting wants exactly this
    list)."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    est = (
        orders.agg(F.expr("approx_top_k(o_orderpriority, 5)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("priority"),
            F.col("e.count").cast("bigint").alias("est_count"),
        )
    )
    exact = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    return (
        est.join(exact, "priority")
        .select(
            "priority",
            "est_count",
            "exact_count",
            (F.col("est_count") == F.col("exact_count")).alias("is_exact"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# U14 — SQL TABLE function (named, correlated via LATERAL)
# --------------------------------------------------------------------------

U14_ORACLE = """
SELECT c.c_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_big,
       ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS big_total
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_totalprice >= 400000
WHERE c.c_mktsegment = 'AUTOMOBILE'
GROUP BY c.c_custkey
ORDER BY c.c_custkey
"""


@query("u14_sql_table_function", oracle=U14_ORACLE, impure=True)
def u14_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U14 — SQL TABLE functions (Spark 4.1 ``CREATE FUNCTION ...
    RETURNS TABLE(...) RETURN SELECT ...``), invoked CORRELATED via
    LATERAL: u13's zero-cost-abstraction argument extended from
    scalar expressions to whole parameterized subqueries. The body
    inlines at analysis time, the correlated filter decorrelates to
    a plain equi-join (the oracle IS that join), and a named,
    catalogued "big_orders(cust, floor)" is how a warehouse shares
    the idiom without the Arrow-crossing cost the Python UDTF (u06)
    pays for the same shape.

    Two MEASURED edges of the surface, recorded here because both
    bit during development: (1) a function parameter cannot feed
    LIMIT — INVALID_LIMIT_LIKE_EXPRESSION.IS_UNFOLDABLE at CREATE
    time; (2) far worse, a CONSTANT ``LIMIT`` inside the body makes
    a CORRELATED LATERAL call return ZERO ROWS silently (Spark
    4.1.2; the uncorrelated call of the same function is correct,
    no error, no warning — isolated to the LIMIT by A/B probe).
    Top-k-per-key bodies must therefore stay LIMIT-free and rank
    outside (j16's LATERAL subquery form handles that shape
    correctly); this query uses the correlated-filter body that is
    safe, and the silent-empty trap is exactly why the differential
    oracle gate exists. Registered impure: DDL + views."""
    register_views(spark, sf_dir, "customer", "orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION big_orders("
        "cust BIGINT, floor DOUBLE) "
        "RETURNS TABLE(o_orderkey BIGINT, o_totalprice DOUBLE) "
        "RETURN SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_custkey = cust AND o_totalprice >= floor"
    )
    return spark.sql(
        """
        SELECT c.c_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_big,
               ROUND(CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,6)))
                     AS DOUBLE), 6) AS big_total
        FROM customer c, LATERAL big_orders(c.c_custkey, 400000.0) f
        WHERE c.c_mktsegment = 'AUTOMOBILE'
        GROUP BY c.c_custkey
        ORDER BY c.c_custkey
        """
    )


# --------------------------------------------------------------------------
# S34 — stacked CREATE VIEW (macro semantics, pushdown through layers)
# --------------------------------------------------------------------------

S34_ORACLE = """
WITH item_revenue AS (
    SELECT l_orderkey, l_shipdate,
           CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS rev
    FROM lineitem
),
recent_revenue AS (
    SELECT l_orderkey, rev FROM item_revenue
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
)
SELECT l_orderkey,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(CAST(SUM(rev) AS DOUBLE), 6) AS revenue
FROM recent_revenue
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey
LIMIT 25
"""


@query("s34_view_stack", oracle=S34_ORACLE, impure=True)
def s34_view_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S34 — layered VIEW definitions: a base view computing the
    revenue expression, a second view filtering the first, a query
    aggregating the second. Views are analysis-time macros — the pin
    (beyond value parity with the oracle's CTE replay) is that the
    optimizer sees THROUGH the stack: the date predicate written in
    the middle view reaches the parquet scan's PushedFilters, and
    the scan reads only the four columns the whole stack touches
    (plan-asserted in tests/test_plans.py). A view stack that
    blocked pushdown would silently re-scan everything at 100 TB —
    the property is worth a regression test, not an assumption.

    Registered impure: view DDL at build time."""
    register_views(spark, sf_dir, "lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW s34_item_revenue AS "
        "SELECT l_orderkey, l_shipdate, "
        "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS rev "
        "FROM lineitem"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW s34_recent_revenue AS "
        "SELECT l_orderkey, rev FROM s34_item_revenue "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'"
    )
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               ROUND(CAST(SUM(rev) AS DOUBLE), 6) AS revenue
        FROM s34_recent_revenue
        GROUP BY l_orderkey
        ORDER BY revenue DESC, l_orderkey
        LIMIT 25
        """
    )


# --------------------------------------------------------------------------
# S40 — SQL pipe syntax (|>, Spark 4.0): linear dataflow SQL
# --------------------------------------------------------------------------

S40_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT)                AS n_orders,
       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
       ROUND(CAST(SUM(CAST(o_totalprice * 0.1 AS DECIMAL(18,6)))
                  AS DOUBLE), 6)               AS total_commission
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= DATE '1995-01-01'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

S40_PIPE_SQL = """
FROM orders
|> WHERE o_orderdate >= DATE '1995-01-01'
|> JOIN customer ON o_custkey = c_custkey
|> EXTEND CAST(o_totalprice * 0.1 AS DECIMAL(18,6)) AS commission
|> AGGREGATE CAST(COUNT(*) AS BIGINT)                    AS n_orders,
             CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
             ROUND(CAST(SUM(commission) AS DOUBLE), 6)   AS total_commission
   GROUP BY o_orderpriority
|> ORDER BY o_orderpriority
"""


@query("s40_sql_pipe_syntax", oracle=S40_ORACLE, impure=True)
def s40_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S40 — SQL pipe syntax (``|>``, Spark 4.0): the same relational
    program as a LINEAR dataflow — scan |> filter |> join |> extend
    |> aggregate |> order — instead of the inside-out nesting of
    classic SELECT. The pin is front-end equivalence: the pipe form
    must parse to the SAME logical plan semantics as the oracle's
    ANSI spelling (filter-before-join placement included — written
    BEFORE the join here precisely so a front-end that reordered or
    dropped a stage changes the result), with the 6-decimal
    DECIMAL-sum discipline every other revenue query uses, so the
    hash certifies the surface end to end. Catalyst treats each
    stage as ordinary operators — predicate pushdown and join
    planning apply to the piped form identically, which is what
    makes the syntax free at 100 TB rather than an optimization
    barrier.

    Registered impure: view DDL at build time."""
    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(S40_PIPE_SQL)


# --------------------------------------------------------------------------
# S41 — EXECUTE IMMEDIATE: dynamic SQL with safe parameter binding
# --------------------------------------------------------------------------

S41_ORACLE = """
WITH thr AS (
    SELECT ROUND(AVG(o_totalprice), 2) AS t
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01'
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_above,
       ROUND(t, 6)              AS threshold_used
FROM orders, thr
WHERE o_orderdate >= DATE '1995-01-01' AND o_totalprice > t
GROUP BY o_orderpriority, t
ORDER BY o_orderpriority
"""


@query("s41_execute_immediate", oracle=S41_ORACLE, impure=True)
def s41_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S41 — ``EXECUTE IMMEDIATE`` (Spark 4 dynamic SQL): SQL text
    composed at runtime, executed with BOUND parameters (``?`` /
    named markers via USING) and scalar results captured INTO
    session variables — the injection-safe replacement for string-
    concatenated SQL in orchestration code, and the primitive that
    lets a SQL-only client express the two-phase "compute a
    statistic, then query with it" workflow without a driver round
    trip through Python.

    Two chained dynamic statements: the first computes a date-
    filtered average order price INTO a DECLAREd variable (rounded
    to cents on BOTH engines, collapsing summation-order ulps
    before the value is ever compared); the second binds that
    variable back as a USING parameter to count above-threshold
    orders per priority. The threshold itself rides the certified
    output (``threshold_used``), so a binding that silently
    delivered NULL or a stale value fails the hash rather than
    just shifting counts. The oracle replays the same two-phase
    logic as a CTE — one SQL program, two engines, same result.

    Scale posture: EXECUTE IMMEDIATE is pure front end — the inner
    statement plans through Catalyst exactly like its static twin
    (the date filter still reaches the parquet scan), so dynamic
    SQL costs nothing at 100 TB. Registered impure: session
    variables are session state."""
    register_views(spark, sf_dir, "orders")
    spark.sql("DECLARE OR REPLACE VARIABLE s41_avg DOUBLE")
    spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT ROUND(AVG(o_totalprice), 2) FROM orders "
        "WHERE o_orderdate >= ?' "
        "INTO s41_avg USING DATE '1995-01-01'"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_above, "
        "ROUND(:thr, 6) AS threshold_used "
        "FROM orders "
        "WHERE o_orderdate >= :cut AND o_totalprice > :thr "
        "GROUP BY o_orderpriority "
        "ORDER BY o_orderpriority' "
        "USING s41_avg AS thr, DATE '1995-01-01' AS cut"
    )
