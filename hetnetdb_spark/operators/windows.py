"""Window functions — SURVEY §2.5 (W1–W6), incl. the two headline
window queries from BASELINE.md (top-3 orders per customer,
30-minute event sessionization).

Every window here partitions on a natural key (customer, user,
priority), so at scale the sort is per-partition after one shuffle
on the key — no global sort anywhere. Every ORDER BY inside a
window carries a unique tiebreaker column so rank/row_number pick
identical rows on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hetnetdb_spark.catalog import load_events_raw, load_tables
from hetnetdb_spark.expr import r6, zround
from hetnetdb_spark.registry import query


#: Target input bytes per window-shuffle task (`_parallel_by`).
_TASK_BYTES = 128 * 1024


def _parallel_by(spark: SparkSession, df: DataFrame, *cols: str) -> DataFrame:
    """Repartition a window's input on ``cols`` at a width read
    from the input's size estimate.

    width = clamp(ceil(sizeInBytes / _TASK_BYTES), 1,
    spark.sql.shuffle.partitions), where sizeInBytes is the optimized
    plan's estimate (file metadata for scans: no Spark job). It is
    read once at construction, so a pure query pays for it once per
    prepared plan. The cap keeps every call site at or below the
    configured width (an inflated estimate, say a join's product,
    cannot widen it), and a deployment sets that ceiling through the
    same conf. No core count is read.

    Why an explicit width at all: AQE's byte-based coalescing
    (advisory 64 MB — sized for the KB-payload aggregate shuffles
    this engine mostly runs) would collapse a few-MB window shuffle
    to ONE partition and serialize every per-key sort behind it;
    measured on the sf0.1 headliners that is 3-4x of the query's
    wall time (w02 slid 14.7x for 10x input). An explicit-width
    `repartition` satisfies the window's required distribution (so
    no second exchange appears) and is exempt from AQE coalescing.

    Why 128 KiB: `events_sessionize_30m`'s projected events input is
    estimated at 10 KB (sf0.001), 88 KB (sf0.01) and 818 KB (sf0.1),
    so the rule gives widths 1, 1 and 7. Prototype numbers (the rule
    applied to commit 3372ba6, not re-measured on this code):
    single-session medians of 10 passes on 4 vCPU, the same result
    at every width:

        width   sf0.001   sf0.01    sf0.1
        32      0.453 s   0.337 s   0.347 s
        8       0.316 s   0.211 s   0.259 s
        4       0.210 s   0.180 s   0.266 s
        1       0.173 s   0.193 s   0.375 s

    A fixed 32 ran 33 tasks over 10 KB, and a concurrent request
    waited for the cores they held.
    """
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    width = max(1, min(cap, -(-size // _TASK_BYTES)))
    return df.repartition(width, *cols)

# --------------------------------------------------------------------------
# W1 — ranking family
# --------------------------------------------------------------------------

W1_ORACLE = """
SELECT o_orderkey,
       o_orderpriority,
       row_number()   OVER w AS rn,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       ntile(4)       OVER w AS quartile,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist()    OVER w, 6) AS cdist
FROM orders
WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey)
"""


@query("w01_ranking", oracle=W1_ORACLE)
def w01_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — the full ranking family over one shared window; the
    unique o_orderkey tiebreaker makes ntile/row_number
    deterministic across engines."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        r6(F.percent_rank().over(w)).alias("pct_rank"),
        r6(F.cume_dist().over(w)).alias("cdist"),
    )


# --------------------------------------------------------------------------
# W2 — lag / lead
# --------------------------------------------------------------------------

W2_ORACLE = """
SELECT event_id,
       user_id,
       COALESCE(lag(event_id)  OVER w, -1) AS prev_event_id,
       COALESCE(lead(event_id) OVER w, -1) AS next_event_id,
       ROUND(COALESCE(epoch(ts) - epoch(lag(ts) OVER w), 0), 6) AS gap_s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query("w02_lag_lead", oracle=W2_ORACLE)
def w02_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — lag/lead over each user's event timeline; boundary nulls
    coalesced to sentinels. Gap computed on epoch micros (exact
    integers) then scaled, matching DuckDB's fractional epoch().

    `_parallel_by` sets the user_id window shuffle's width from the
    input's size estimate, out of AQE's reach: the round-5 slope run
    caught this query at 14.7x for 10x input — AQE had coalesced its
    few-MB shuffle to one partition, serializing every per-user sort
    (the same failure mode the round-3 sessionize fix addressed;
    re-measured 1.0 flat after, at the old fixed width of 32). The
    slope has not been re-run under the size rule; at 10x and 30x
    the sf0.1 estimate already gives the cap (32)."""
    (events,) = load_tables(spark, sf_dir, "events")
    events = _parallel_by(spark, events, "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return events.select(
        "event_id",
        "user_id",
        F.coalesce(F.lag("event_id").over(w), F.lit(-1)).alias("prev_event_id"),
        F.coalesce(F.lead("event_id").over(w), F.lit(-1)).alias("next_event_id"),
        r6(F.coalesce(gap_us.cast("double") / 1e6, F.lit(0.0))).alias("gap_s"),
    )


# --------------------------------------------------------------------------
# W3 — running aggregate, ROWS frame
# --------------------------------------------------------------------------

W3_ORACLE = """
SELECT o_orderkey,
       o_custkey,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_spend
FROM orders
WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
"""


@query("w03_running_sum_rows", oracle=W3_ORACLE)
def w03_running_sum_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — per-customer running spend, explicit ROWS frame (the
    deterministic frame: with a unique tiebreaker in the ordering,
    ROWS and RANGE agree, but ROWS is the cheaper evaluator).
    `_parallel_by` sizes the custkey window shuffle from the input's
    size estimate (w02's coalescing hazard — |custkeys| is large, so
    the sort parallelizes across that width)."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _parallel_by(spark, recent, "o_custkey").select(
        "o_orderkey",
        "o_custkey",
        r6(F.sum("o_totalprice").over(w)).alias("running_spend"),
    )


# --------------------------------------------------------------------------
# W4 — RANGE frame (value-based window)
# --------------------------------------------------------------------------

W4_ORACLE = """
SELECT o_orderkey,
       o_orderpriority,
       COUNT(*) OVER (
         PARTITION BY o_orderpriority
         ORDER BY o_totalprice
         RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1k
FROM orders
WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
"""


@query("w04_range_frame", oracle=W4_ORACLE)
def w04_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — RANGE frame on a numeric ordering: how many same-priority
    orders fall within 1000 below this order's price. RANGE includes
    peers, so ties are handled identically on both engines with no
    tiebreaker needed."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, Window.currentRow)
    )
    return orders.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.count(F.lit(1)).over(w).alias("n_within_1k"),
    )


# --------------------------------------------------------------------------
# W5 — first_value / last_value
# --------------------------------------------------------------------------

W5_ORACLE = """
SELECT DISTINCT
       o_orderpriority,
       first_value(o_orderkey) OVER w AS cheapest_key,
       last_value(o_orderkey)  OVER w AS priciest_key
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@query("w05_first_last_value", oracle=W5_ORACLE)
def w05_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — first/last_value with the full-partition frame (the
    default frame would make last_value = current row); DISTINCT
    collapses to one row per priority.

    Scale note (measured: 12x wall for 10x input): a window
    PARTITIONed BY a 5-value key can never parallelize past 5
    tasks, so per-key sort time grows superlinearly under memory
    pressure no matter the cluster size. That is inherent to the
    declared window, which this query exists to pin; the PRODUCTION
    spelling of this *semantic* (extremal key per group) is the
    a22_argmax_mode aggregate — min_by/max_by with map-side
    partials, no sort, no 5-way cap. Same argument applies to w01's
    ranking family (7x slope): full-partition ranks over a
    low-cardinality key are sequential per key by definition."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_orderpriority",
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(w).alias("priciest_key"),
    ).distinct()


# --------------------------------------------------------------------------
# W6 — top-k per group (headline: window_top3_orders_per_cust)
# --------------------------------------------------------------------------

W6_ORACLE = """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 6) AS totalprice, rn AS order_rank
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) t
WHERE rn <= 3
ORDER BY o_custkey, rn
LIMIT 100
"""


@query("window_top3_orders_per_cust", oracle=W6_ORACLE)
def window_top3_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6/O3 — top-3 orders by price per customer (BASELINE.md
    headline). row_number + filter plans as a per-partition top-k
    (WindowGroupLimit pushes rn<=3 below the sort), so no partition
    ever materializes more than k rows per key past the shuffle.
    Output bounded to the first 100 (custkey, rank) rows for a
    stable cross-engine result set.

    Limit pushdown THROUGH the window (r15 optimization, guide
    §2.3/§2.4 "shuffle fewer bytes / remove shuffles outright"):
    the final ORDER BY (o_custkey, order_rank) LIMIT 100 means every
    output row's custkey lies among the 100 SMALLEST DISTINCT
    custkeys in orders — each distinct custkey contributes at least
    one ranked row (rn=1 always exists), so by the 100th output row
    at most 100 distinct custkeys have been consumed. Ranks within
    a custkey are unaffected by dropping other custkeys' rows.
    The plan therefore (1) computes those ≤100 keys from a
    single-column scan (partial-distinct map side, one exchange of
    distinct keys only), then (2) broadcast-joins them back onto
    orders, so the window's exchange+sort sees ~100 customers'
    orders instead of the full table. Before: the whole orders
    table (45M rows at the 300× corpus, ~1.1 GB) crossed the
    custkey exchange and was sorted for a 100-row result; after:
    the wide exchange disappears, the only full-table work is two
    column-pruned scans and a map-side distinct. Measured at 300×
    (fresh-process min-of-3): 5.03 s → see OPTIMIZATION_r15.md;
    value-identical vs the unchanged oracle at sf0.001/0.01/0.1.

    PRECONDITION (r16, per ADVICE r15): the rewrite assumes
    ``o_custkey`` is NON-NULL. The inner join on o_custkey drops
    NULL-custkey rows, whereas the pre-rewrite window would have
    ranked them as their own partition (Spark partitionBy groups
    NULLs together) and ascending sort puts NULL first — so a NULL
    key, if present, would belong in the output and the plans would
    diverge. The fixture schema writes o_custkey from a non-null
    generator and tests/test_plans.py pins zero NULL custkeys on
    every fixture SF so a future data change surfaces here instead
    of as a silent row drop."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    need = orders.select("o_custkey", "o_orderkey", "o_totalprice")
    # ≤100 rows forever (LIMIT 100 on ≥1-row-per-key output) — the
    # broadcast is bounded by the query's own limit, not the corpus.
    top_keys = (
        need.select("o_custkey").distinct().orderBy("o_custkey").limit(100)
    )
    pruned = need.join(F.broadcast(top_keys), "o_custkey")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        pruned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            r6(F.col("o_totalprice")).alias("totalprice"),
            F.col("rn").alias("order_rank"),
        )
        .orderBy("o_custkey", "order_rank")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Headline: events_sessionize_30m (W2+W3 composition, A2 finish)
# --------------------------------------------------------------------------

SESSIONIZE_ORACLE = """
SELECT user_id,
       session_id,
       COUNT(*)  AS n_events,
       MIN(ts)   AS session_start,
       MAX(ts)   AS session_end
FROM (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
  ) flagged
) numbered
GROUP BY user_id, session_id
"""


@query("events_sessionize_30m", oracle=SESSIONIZE_ORACLE)
def events_sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a 30-minute inactivity gap
    (BASELINE.md headline), boundary-row formulation.

    The classic spelling (lag → running-sum window → group-by, the
    oracle's shape) runs TWO non-codegen WindowExec passes plus a
    hash aggregate over every input row. This plan touches the full
    input exactly once after the user_id exchange: a single window
    pass marks session boundaries (``prev_ts`` gap test) while
    computing ``row_number`` and the per-user count/max-ts
    (unbounded-frame aggregates share the same sort and buffer),
    then FILTERS to boundary rows only — one row per session, ~1-3%
    of input at fixture densities — and a second, session-sized
    window derives each session's extent arithmetically:
    ``n_events = next_boundary_rn - rn`` and ``session_end = the
    ts preceding the next boundary`` (that row's ``prev_ts``, which
    the boundary row already carries), falling back to the per-user
    totals for each user's last session. Everything downstream of
    the 30M-row pass operates on session-count cardinality.

    Measured at the 300× corpus (30M events, local[32]): 6.9 s for
    the classic spelling → 3.6 s for this plan, value-identical at
    every fixture SF — the round-10 crossover had flagged sessionize
    as the one headline query whose DuckDB ratio WORSENED with scale
    (1.8×→3.9× at 30×→300×); the narrow projection (3 of 6 event
    columns through the exchange) and the single full-width pass
    remove the superlinear trend (see CROSSOVER_r11). The exchange's
    width comes from the projected input's size estimate
    (`_parallel_by`): 1 at sf0.001 and sf0.01, 7 at sf0.1.

    Windows run on the raw epoch-ns long (see `load_events_raw`) —
    gap arithmetic and sorting need no timestamp semantics, so
    conversion is deferred to the boundary rows that survive. The
    streaming twin is T3's session_window."""
    events = _parallel_by(
        spark,
        load_events_raw(spark, sf_dir).select("user_id", "ts", "event_id"),
        "user_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    prev_ts = F.lag("ts").over(w)
    boundaries = events.select(
        "user_id",
        "ts",
        prev_ts.alias("prev_ts"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wfull).alias("user_n"),
        F.max("ts").over(wfull).alias("user_max_ts"),
    ).filter(
        F.col("prev_ts").isNull()
        | (F.col("ts") - F.col("prev_ts") > 30 * 60 * 1_000_000_000)
    )
    wb = Window.partitionBy("user_id").orderBy("rn")
    sessions = boundaries.select(
        "user_id",
        F.row_number().over(wb).cast("bigint").alias("session_id"),
        (
            F.coalesce(F.lead("rn").over(wb), F.col("user_n") + 1) - F.col("rn")
        ).cast("bigint").alias("n_events"),
        F.col("ts").alias("start_ns"),
        F.coalesce(F.lead("prev_ts").over(wb), F.col("user_max_ts")).alias("end_ns"),
    )
    return sessions.select(
        "user_id",
        "session_id",
        "n_events",
        F.timestamp_micros(F.expr("start_ns div 1000")).alias("session_start"),
        F.timestamp_micros(F.expr("end_ns div 1000")).alias("session_end"),
    )


# --------------------------------------------------------------------------
# W7 — time-grid gap fill + forward fill (resample to hourly buckets)
# --------------------------------------------------------------------------

W7_ORACLE = """
WITH hourly AS (
  SELECT user_id,
         date_trunc('hour', ts) AS hour,
         ROUND(SUM(COALESCE(value, 0)), 6) AS hour_value
  FROM events
  GROUP BY user_id, date_trunc('hour', ts)
),
spans AS (
  SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY user_id
),
grid AS (
  SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM spans
)
SELECT g.user_id,
       g.hour,
       last_value(h.hour_value IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_ff,
       CAST(CASE WHEN h.hour IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
FROM grid g
LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
"""


@query("w07_time_grid_gapfill", oracle=W7_ORACLE)
def w07_time_grid_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 — resample an irregular event stream onto a dense hourly
    grid per user and forward-fill the gaps: the time-series
    normalization step in front of any windowed feature pipeline.

    The oracle spells it the textbook way (span -> generate_series
    -> left join -> last_value IGNORE NULLS: four shuffles). The
    Spark plan is the one-exchange formulation: after the hourly
    hash-agg, ``lead(hour)`` over the user_id window names each
    observation's successor, and ``explode(sequence(hour, next-1h))``
    emits the observation PLUS its trailing gap rows, each already
    carrying the value that forward-fills it — no grid join, no
    second window. Everything after the single user_id exchange is
    per-partition codegen. Grid size is bounded by span/granularity
    (a user active for a day emits <=24 rows regardless of corpus
    size), and the last observation per user emits only itself, so
    the output covers exactly [min_hour, max_hour]. Hour-bucket sums
    are rounded before the fill so both engines fill identical
    values. Both engines derive `is_gap` from row PRESENCE (Spark:
    the exploded hour differs from the observation hour; oracle: the
    grid->hourly join missed, tested on the join KEY `h.hour`, not
    on `hour_value`'s nullability) so the flag is independent of the
    value column's schema.
    """
    (events,) = load_tables(spark, sf_dir, "events")
    hourly = (
        events.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 6).alias("hour_value"))
    )
    w = Window.partitionBy("user_id").orderBy("hour")
    with_next = _parallel_by(spark, hourly, "user_id").withColumn(
        "next_hour", F.lead("hour").over(w)
    )
    grid_end = F.coalesce(
        F.col("next_hour") - F.expr("INTERVAL 1 HOUR"), F.col("hour")
    )
    return with_next.select(
        "user_id",
        F.explode(F.sequence("hour", grid_end, F.expr("INTERVAL 1 HOUR"))).alias("ghour"),
        F.col("hour").alias("obs_hour"),
        "hour_value",
    ).select(
        "user_id",
        F.col("ghour").alias("hour"),
        F.col("hour_value").alias("value_ff"),
        F.when(F.col("ghour") != F.col("obs_hour"), 1).otherwise(0).cast("long").alias("is_gap"),
    )


# --------------------------------------------------------------------------
# W8 — finite-horizon EWMA smoothing over the hourly telemetry series
# --------------------------------------------------------------------------

W8_ALPHA = 0.5
W8_HORIZON = 8

_W8_NUM = " + ".join(
    f"COALESCE(POW({W8_ALPHA}, {i}) * lag_{i}, 0)" for i in range(W8_HORIZON)
)
_W8_DEN = " + ".join(
    f"CASE WHEN lag_{i} IS NOT NULL THEN POW({W8_ALPHA}, {i}) ELSE 0 END"
    for i in range(W8_HORIZON)
)

W8_ORACLE = f"""
WITH hourly AS (
  SELECT user_id,
         date_trunc('hour', ts) AS hour,
         ROUND(SUM(COALESCE(value, 0)), 6) AS hour_value
  FROM events
  WHERE user_id < 10
  GROUP BY user_id, date_trunc('hour', ts)
),
lagged AS (
  SELECT user_id, hour, hour_value,
         {", ".join(f"lag(hour_value, {i}) OVER (PARTITION BY user_id ORDER BY hour) AS lag_{i}" for i in range(W8_HORIZON))}
  FROM hourly
)
SELECT user_id, hour, hour_value,
       ROUND(({_W8_NUM}) / ({_W8_DEN}), 6) AS ewma
FROM lagged
"""


@query("w08_ewma_smoothing", oracle=W8_ORACLE)
def w08_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 — exponentially-weighted moving average with a finite
    horizon (α=0.5, 8 taps) over each user's hourly value series:
    the smoothing step in front of anomaly/thresholding on noisy
    telemetry.

    The textbook EWMA recursion y_t = αx_t + (1-α)y_{t-1} is a
    sequential scan no engine's window frame expresses directly, and
    the closed form Σ(1-α)^(t-i)x_i overflows doubles for long
    series. The finite-horizon form truncates at 8 taps (weight
    beyond tap 8 is <0.4% for α=0.5) and renormalizes over the taps
    present, which (a) is numerically safe at any series length and
    (b) unrolls into 8 ``lag`` columns over ONE window — a single
    user_id exchange, one sort, all arithmetic in codegen, same
    spelling in the oracle. Bounded to user_id < 10 to keep the
    compared frame small; the plan is user-count independent.
    """
    (events,) = load_tables(spark, sf_dir, "events")
    hourly = (
        events.filter(F.col("user_id") < 10)
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 6).alias(
                "hour_value"
            )
        )
    )
    w = Window.partitionBy("user_id").orderBy("hour")
    lagged = _parallel_by(spark, hourly, "user_id").select(
        "user_id",
        "hour",
        "hour_value",
        *[
            F.lag("hour_value", i).over(w).alias(f"lag_{i}")
            for i in range(W8_HORIZON)
        ],
    )
    num = sum(
        F.coalesce(
            F.lit(W8_ALPHA**i) * F.col(f"lag_{i}"), F.lit(0.0)
        )
        for i in range(W8_HORIZON)
    )
    den = sum(
        F.when(F.col(f"lag_{i}").isNotNull(), F.lit(W8_ALPHA**i)).otherwise(
            F.lit(0.0)
        )
        for i in range(W8_HORIZON)
    )
    return lagged.select(
        "user_id", "hour", "hour_value", F.round(num / den, 6).alias("ewma")
    )


# --------------------------------------------------------------------------
# A21 — rolling distinct users (7-day trailing window per event type)
# --------------------------------------------------------------------------

A21_ORACLE = """
WITH days AS (
    SELECT DISTINCT event_type, date_trunc('day', ts) AS day FROM events
)
SELECT d.event_type, d.day,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS users_7d
FROM days d
JOIN events e
  ON e.event_type = d.event_type
 AND date_trunc('day', e.ts) BETWEEN d.day - INTERVAL 6 DAY AND d.day
GROUP BY d.event_type, d.day
"""


@query("a21_rolling_distinct", oracle=A21_ORACLE)
def a21_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 — trailing-7-day distinct users per event type: the DAU/
    WAU-style rolling-reach metric. COUNT(DISTINCT) is not a legal
    Spark window function, so the rolling form composes from what
    IS: pre-aggregate each (type, day) to its user SET (one hash
    agg — the shuffle carries per-day sets, bounded by daily reach,
    never raw events), then a RANGE frame over day numbers unions
    the trailing 7 sets in codegen
    (`size(array_distinct(flatten(collect_list(...))))`). The
    oracle spells the semantics as a day×events range join —
    different plan, same numbers, which is the point: the window
    form touches each event once, the join form re-reads each event
    up to 7×.
    """
    (events,) = load_tables(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.collect_set("user_id").alias("uset"))
        .withColumn("dayn", F.unix_date(F.col("day").cast("date")))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("dayn")
        .rangeBetween(-6, 0)
    )
    return _parallel_by(spark, daily, "event_type").select(
        "event_type",
        "day",
        F.size(
            F.array_distinct(F.flatten(F.collect_list("uset").over(w)))
        ).cast("long").alias("users_7d"),
    )


# --------------------------------------------------------------------------
# W9 — rolling z-score anomaly detection over the hourly telemetry series
# --------------------------------------------------------------------------

W9_LOOKBACK = 24   # trailing hours in the baseline window
W9_MIN_OBS = 8     # observations required before scoring
W9_SIGMA = 2.0     # |z| threshold for the anomaly flag

W9_ORACLE = f"""
WITH hourly AS (
  SELECT user_id,
         date_trunc('hour', ts) AS hour,
         ROUND(SUM(COALESCE(value, 0)), 6) AS hour_value
  FROM events
  WHERE user_id < 10
  GROUP BY user_id, date_trunc('hour', ts)
),
scored AS (
  SELECT user_id, hour, hour_value,
         CAST(COUNT(hour_value) OVER w AS BIGINT) AS n_win,
         ROUND(AVG(hour_value) OVER w, 6)         AS mean_prev,
         ROUND(stddev_samp(hour_value) OVER w, 6) AS std_prev
  FROM hourly
  WINDOW w AS (
      PARTITION BY user_id ORDER BY hour
      ROWS BETWEEN {W9_LOOKBACK} PRECEDING AND 1 PRECEDING
  )
)
SELECT user_id, hour, hour_value, n_win, mean_prev, std_prev,
       CASE WHEN n_win >= {W9_MIN_OBS} AND std_prev > 0.001
            THEN ROUND((hour_value - mean_prev) / std_prev, 6)
       END AS zscore,
       CAST(CASE WHEN n_win >= {W9_MIN_OBS} AND std_prev > 0.001
                  AND ABS(ROUND((hour_value - mean_prev) / std_prev, 6))
                      > {W9_SIGMA}
            THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM scored
"""


@query("w09_rolling_zscore", oracle=W9_ORACLE)
def w09_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 — rolling z-score anomaly detection: score each hourly
    observation against the mean/stddev of its user's TRAILING 24
    observed hours (current row excluded, so a spike can't absorb
    itself into its own baseline), flag |z| > 2 once at least 8
    baseline points exist. This is the thresholding stage w08's
    smoothing feeds — together they're the standard telemetry
    anomaly stack.

    Plan: one hash-agg to hourly buckets, then count/avg/stddev all
    evaluate over ONE user_id window (single exchange, single sort —
    Spark computes the three aggregates in one WindowExec pass).
    Float discipline: baseline mean and stddev are rounded to 6dp
    FIRST, so both engines divide bit-identical operands and the
    derived zscore/flag cannot straddle a rounding boundary unless
    the inputs already did (w07/w08's discipline); the `std > 0.001`
    guard keeps the division away from the noise-amplifying
    near-constant-baseline regime on both sides, compared on the
    ROUNDED value so the branch itself is parity-safe. Bounded to
    user_id < 10 like w08; the plan is user-count independent.
    """
    (events,) = load_tables(spark, sf_dir, "events")
    hourly = (
        events.filter(F.col("user_id") < 10)
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 6).alias(
                "hour_value"
            )
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(-W9_LOOKBACK, -1)
    )
    scored = _parallel_by(spark, hourly, "user_id").select(
        "user_id",
        "hour",
        "hour_value",
        F.count("hour_value").over(w).cast("long").alias("n_win"),
        F.round(F.avg("hour_value").over(w), 6).alias("mean_prev"),
        F.round(F.stddev_samp("hour_value").over(w), 6).alias("std_prev"),
    )
    ok = (F.col("n_win") >= W9_MIN_OBS) & (F.col("std_prev") > 0.001)
    z = F.round(
        (F.col("hour_value") - F.col("mean_prev")) / F.col("std_prev"), 6
    )
    return scored.select(
        "user_id",
        "hour",
        "hour_value",
        "n_win",
        "mean_prev",
        "std_prev",
        F.when(ok, z).alias("zscore"),
        F.when(ok & (F.abs(z) > W9_SIGMA), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# W10 — period-over-period growth (MoM revenue deltas via lag)
# --------------------------------------------------------------------------

W10_ORACLE = """
WITH monthly AS (
    SELECT o_orderpriority,
           date_trunc('month', o_orderdate) AS month,
           ROUND(SUM(o_totalprice), 6)      AS revenue
    FROM orders
    GROUP BY o_orderpriority, date_trunc('month', o_orderdate)
)
SELECT o_orderpriority, month, revenue,
       ROUND(lag(revenue) OVER w, 6) AS prev_revenue,
       ROUND((revenue - lag(revenue) OVER w)
             / lag(revenue) OVER w * 100, 6) AS growth_pct
FROM monthly
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
"""


@query("w10_mom_growth", oracle=W10_ORACLE)
def w10_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 — month-over-month growth per priority class: the
    period-over-period KPI shape (lag over a pre-aggregated period
    series) every reporting layer runs. First period's growth is
    NULL by definition (no prior), identically on both engines.

    Plan: monthly hash-agg (|priorities|×|months| groups), then lag
    + the growth arithmetic over ONE priority-partitioned window —
    the shuffle carries the aggregated series, never orders rows.
    Float discipline: monthly revenue is rounded to 6dp BEFORE the
    growth division (w09's rounded-operand rule), so both engines
    divide bit-identical doubles; growth_pct is a ratio of O(1e6)
    sums — computed from rounded operands it cannot straddle a
    boundary unless the inputs already did."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
    ).agg(F.round(F.sum("o_totalprice"), 6).alias("revenue"))
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("revenue").over(w)
    return _parallel_by(spark, monthly, "o_orderpriority").select(
        "o_orderpriority",
        "month",
        "revenue",
        r6(prev).alias("prev_revenue"),
        r6((F.col("revenue") - prev) / prev * F.lit(100)).alias("growth_pct"),
    )


# --------------------------------------------------------------------------
# W11 — cumulative distinct users (running-reach series)
# --------------------------------------------------------------------------

W11_ORACLE = """
WITH fm AS (
    SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS month
    FROM orders GROUP BY o_custkey
),
nm AS (
    SELECT month, CAST(COUNT(*) AS BIGINT) AS new_customers
    FROM fm GROUP BY month
)
SELECT month, new_customers,
       CAST(SUM(new_customers) OVER (ORDER BY month) AS BIGINT)
           AS cum_customers
FROM nm ORDER BY month
"""


@query("w11_running_distinct", oracle=W11_ORACLE)
def w11_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 — cumulative distinct customers by order month: the
    running-reach curve ("total unique customers to date").
    COUNT(DISTINCT) over a growing window is illegal in Spark (and
    O(N·periods) where legal), so the scalable identity is used
    instead: a customer contributes to the cumulative count exactly
    once, in their FIRST month — running distinct = running SUM of
    first-appearance counts.

    Plan: per-customer min(month) hash agg (the only full-width
    shuffle, carrying (custkey, month) pairs with map-side partial
    min), a |months|-row second agg, then one running-sum window
    over the |months|-row series. The unpartitioned window is safe
    BECAUSE it runs post-aggregation: |months| rows regardless of
    order count — the same bounded-series argument as w10's month
    grid. At 100 TB nothing changes: the orders scan prunes to 2
    columns and all post-scan state is |customers| partial mins,
    then |months| rows."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    first_month = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", F.col("o_orderdate"))).alias("month")
    )
    monthly = first_month.groupBy("month").agg(
        F.count(F.lit(1)).alias("new_customers")
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        "month",
        "new_customers",
        F.sum("new_customers").over(w).cast("long").alias("cum_customers"),
    ).orderBy("month")


# --------------------------------------------------------------------------
# W12 — merge overlapping variable-length intervals (gaps-and-islands
# with a running max, the form lag-based sessionization cannot express)
# --------------------------------------------------------------------------

W12_MAX_MIN = 120  # duration clamp, minutes
W12_ORACLE = f"""
WITH iv AS (
  SELECT user_id, event_id, ts AS s,
         ts + LEAST(GREATEST(CAST(FLOOR(COALESCE(value, 0)) AS BIGINT), 1),
                    {W12_MAX_MIN}) * INTERVAL 1 MINUTE AS e
  FROM events
),
flagged AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN s < max(e) OVER (
                  PARTITION BY user_id ORDER BY s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 0 ELSE 1 END AS is_new
  FROM iv
),
numbered AS (
  SELECT user_id, s, e,
         CAST(SUM(is_new) OVER (
                  PARTITION BY user_id ORDER BY s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS span_id
  FROM flagged
)
SELECT user_id, span_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(s) AS span_start,
       MAX(e) AS span_end
FROM numbered
GROUP BY user_id, span_id
"""


@query("w12_interval_merge", oracle=W12_ORACLE)
def w12_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 — consolidate each user's overlapping activity intervals
    into maximal spans. Every event opens an interval [ts, ts + d)
    whose length d comes from the event itself (`value` minutes,
    clamped to [1, 120]), so intervals are NOT sorted by end time:
    an early long interval can swallow many later short ones.
    That is the case lag-based gap sessionization
    (events_sessionize_30m) gets WRONG by construction — the
    correct island flag compares each start against the running
    MAX of all *preceding* ends, not the single previous end.

    Plan: one shuffle on user_id serves the running-max window, the
    island-numbering window (same partition + order spec, so they
    share one sort) and the final (user_id, span_id) hash aggregate
    (hash-partitioning on user_id satisfies the aggregate's
    clustered-distribution requirement — no second exchange).
    Arithmetic runs on raw epoch-ns longs (`load_events_raw`):
    duration is whole clamped minutes so end = ts + m·60e9 stays an
    exact int64, and both engines FLOOR the double `value` (DuckDB
    CAST alone would round-half-away where Spark truncates).
    Timestamps materialize only on the aggregated span rows. At
    100 TB the state per user is one (max_end) long — the shuffle
    carries events once and nothing is quadratic."""
    events = _parallel_by(spark, load_events_raw(spark, sf_dir), "user_id")
    dur_min = F.least(
        F.greatest(F.floor(F.coalesce(F.col("value"), F.lit(0.0))).cast("long"),
                   F.lit(1)),
        F.lit(W12_MAX_MIN),
    )
    iv = events.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + dur_min * F.lit(60 * 1_000_000_000)).alias("e"),
    )
    order = [F.col("s").asc(), F.col("event_id").asc()]
    prev_max_e = F.max("e").over(
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    running = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        iv.withColumn(
            "is_new",
            F.when(F.col("s") < prev_max_e, F.lit(0)).otherwise(F.lit(1)),
        )
        .withColumn("span_id", F.sum("is_new").over(running))
        .groupBy("user_id", "span_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.timestamp_micros(F.expr("min(s) div 1000")).alias("span_start"),
            F.timestamp_micros(F.expr("max(e) div 1000")).alias("span_end"),
        )
    )


# --------------------------------------------------------------------------
# W13 — rolling median (order-statistic window, explicit lower-median)
# --------------------------------------------------------------------------

W13_WIN = 7  # trailing rows, current inclusive

W13_ORACLE = f"""
WITH hourly AS (
  SELECT user_id,
         date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events
  WHERE user_id < 20
  GROUP BY user_id, date_trunc('hour', ts)
),
framed AS (
  SELECT user_id, hour, n_events,
         list_sort(list(n_events) OVER (
             PARTITION BY user_id ORDER BY hour
             ROWS BETWEEN {W13_WIN - 1} PRECEDING AND CURRENT ROW)) AS win
  FROM hourly
)
SELECT user_id, hour, n_events,
       win[(len(win) + 1) // 2] AS rolling_median
FROM framed
"""


@query("w13_rolling_median", oracle=W13_ORACLE)
def w13_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13 — trailing-7-row median of each user's hourly event count:
    the robust denoiser (median absorbs single-hour spikes that wreck
    a trailing mean like w08's EWMA). Neither engine offers MEDIAN as
    a native window function over arbitrary frames, so the
    composition is the order-statistic spelling: collect the frame
    into an array, sort it, index the LOWER median ((n+1) div 2,
    1-based) — spelled identically on both engines because their
    native medians disagree on even frames (DuckDB interpolates,
    Spark's percentile does too; the explicit index does not).
    All-integer output — exact parity.

    Cost model: the frame is W=7 rows, so the array is O(W) per row
    and the sort O(W log W) in codegen — linear in rows for fixed W,
    one user_id exchange (shared with the hourly agg's key by
    `_parallel_by`). This is the right plan for SMALL frames; a wide
    frame (W in the thousands) wants the two-heap/indexed-tree
    streaming median, which is the applyInPandas escape hatch."""
    (events,) = load_tables(spark, sf_dir, "events")
    hourly = (
        events.filter(F.col("user_id") < 20)
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(-(W13_WIN - 1), Window.currentRow)
    )
    win = F.array_sort(F.collect_list("n_events").over(w))
    return _parallel_by(spark, hourly, "user_id").select(
        "user_id",
        "hour",
        "n_events",
        F.element_at(win, ((F.size(win) + 1) / 2).cast("int")).alias(
            "rolling_median"
        ),
    )


# --------------------------------------------------------------------------
# W14 — longest consecutive-day activity streak per user
# --------------------------------------------------------------------------

W14_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events
),
numbered AS (
    SELECT user_id, day,
           row_number() OVER (PARTITION BY user_id ORDER BY day) AS rk
    FROM days
),
grouped AS (
    SELECT user_id, day, day - CAST(rk AS INT) AS grp FROM numbered
),
streaks AS (
    SELECT user_id, grp,
           CAST(COUNT(*) AS BIGINT) AS len,
           MIN(day) AS streak_start
    FROM grouped GROUP BY user_id, grp
)
SELECT user_id,
       MAX(len) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MIN(streak_start) AS TIMESTAMP) AS first_active_day
FROM streaks
GROUP BY user_id
"""


@query("w14_activity_streaks", oracle=W14_ORACLE)
def w14_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14 — longest run of CONSECUTIVE active days per user, plus
    streak count and first active day: the retention/engagement
    statistic, and the third member of the islands family — w12
    merges intervals by running-max, sessionize splits by gap;
    streaks use the rank-difference trick: within a user, day −
    row_number(day) is CONSTANT exactly along a run of consecutive
    days, so the constant itself is the streak id and no second
    window is needed to number islands.

    Integer/date arithmetic only, and ONE user_id exchange for the
    whole query: day-dedup is spelled `collect_set(day)` + explode
    rather than DISTINCT — a (user_id, day) distinct would
    hash-partition on BOTH columns and force a second exchange for
    the user_id window, while collect_set merges per-user day sets
    MAP-SIDE (same dedup, calendar-bounded state) and leaves the
    data clustered by user_id for the rank window and both
    aggregates. Per-user state is |active days|, calendar-bounded
    regardless of event volume."""
    (events,) = load_tables(spark, sf_dir, "events")
    day_sets = (
        _parallel_by(
            spark,
            events.select(
                "user_id",
                F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            ),
            "user_id",
        )
        .groupBy("user_id")
        .agg(F.collect_set("day").alias("days"))
    )
    days = day_sets.select("user_id", F.explode("days").alias("day"))
    rk = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    grouped = days.select(
        "user_id", "day", F.date_sub(F.col("day"), rk).alias("grp")
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("streak_start")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.min("streak_start").cast("timestamp").alias("first_active_day"),
    )


# --------------------------------------------------------------------------
# W15 — local-maximum (peak) detection on the hourly telemetry series
# --------------------------------------------------------------------------

W15_ORACLE = """
WITH hourly AS (
  SELECT user_id,
         date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events
  GROUP BY user_id, date_trunc('hour', ts)
),
flagged AS (
  SELECT user_id, hour, n_events,
         lag(n_events)  OVER w AS prev_n,
         lead(n_events) OVER w AS next_n
  FROM hourly
  WINDOW w AS (PARTITION BY user_id ORDER BY hour)
)
SELECT user_id, hour, n_events,
       CAST(n_events - prev_n AS BIGINT) AS rise
FROM flagged
WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
  AND n_events > prev_n AND n_events >= next_n
"""


@query("w15_peak_detection", oracle=W15_ORACLE)
def w15_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15 — interior local maxima of each user's hourly event-count
    series: strictly above the previous hour, at or above the next
    (the strict/loose asymmetry makes plateau starts the canonical
    peak, so a flat-topped burst yields exactly one row — symmetric
    strictness would drop it entirely, symmetric looseness would
    emit the whole plateau). Endpoints are excluded: a series edge
    is a data boundary, not a peak. The anomaly-candidate generator
    in front of w09's z-score (which scores ALL rows) and w13's
    median (which denoises) — lag+lead over one user_id window,
    all-integer comparisons, same single-exchange shape."""
    (events,) = load_tables(spark, sf_dir, "events")
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("user_id").orderBy("hour")
    flagged = _parallel_by(spark, hourly, "user_id").select(
        "user_id",
        "hour",
        "n_events",
        F.lag("n_events").over(w).alias("prev_n"),
        F.lead("n_events").over(w).alias("next_n"),
    )
    return flagged.filter(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("n_events") > F.col("prev_n"))
        & (F.col("n_events") >= F.col("next_n"))
    ).select(
        "user_id",
        "hour",
        "n_events",
        (F.col("n_events") - F.col("prev_n")).cast("long").alias("rise"),
    )


# --------------------------------------------------------------------------
# W16 — time-interval RANGE frame (trailing 1-hour window by value)
# --------------------------------------------------------------------------

W16_SQL = """
WITH scored AS (
    SELECT user_id, event_id, event_type, ts,
           COUNT(*) OVER w AS n_1h,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER w
               AS n_clicks_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       CAST(n_1h AS BIGINT)        AS n_1h,
       CAST(n_clicks_1h AS BIGINT) AS n_clicks_1h
FROM scored
WHERE event_type = 'purchase'
ORDER BY user_id, event_id
"""


@query("w16_interval_range_frame", oracle=W16_SQL, impure=True)
def w16_interval_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16 — RANGE frame bounded by a TIME INTERVAL: for each
    purchase, how many events (and clicks) the same user produced in
    the trailing hour, computed by the window engine's value-based
    frame, not a row count. Both engines run the IDENTICAL SQL
    (the oracle *is* this query — the W1/W4 numeric-range family's
    missing temporal member; j15/j17 express the same "events within
    a bound" semantic as joins, this is the single-pass window form).

    Why RANGE and not ROWS: the frame must follow the DATA (60
    minutes), so its row width varies per anchor — a ROWS frame
    cannot express it, and the self-join form (j14/j15) pays a
    range-join's candidate blow-up. RANGE peers-at-same-ts semantics
    are identical on both engines, and COUNT/conditional-SUM are
    integer-exact, so there is no float surface at all.

    Scale: one exchange on user_id (the DataFrame path sizes it from
    the input's estimate via `_parallel_by`; this SQL path's exchange
    starts at spark.sql.shuffle.partitions and AQE coalesces it),
    one per-partition sort, one forward pass — the window engine
    maintains a sliding frame head/tail in O(1) amortized per row.
    Registered impure: building the plan registers the events temp
    view (s05's pattern)."""
    from hetnetdb_spark.catalog import register_views

    register_views(spark, sf_dir, "events")
    return spark.sql(W16_SQL)


# --------------------------------------------------------------------------
# W17 — IGNORE NULLS forward/backward fill (sparse observation carry)
# --------------------------------------------------------------------------

W17_ORACLE = """
WITH sparse AS (
    SELECT user_id, event_id, ts,
           CASE WHEN event_type = 'purchase' THEN event_id END AS purchase_id
    FROM events
    WHERE user_id < 200
)
SELECT user_id, event_id,
       last_value(purchase_id IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)  AS last_purchase_id,
       first_value(purchase_id IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)  AS next_purchase_id
FROM sparse
ORDER BY user_id, event_id
"""


@query("w17_ignore_nulls_fill", oracle=W17_ORACLE)
def w17_ignore_nulls_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17 — the IGNORE NULLS window modifier: carry each user's most
    recent purchase forward (`last_value ... IGNORE NULLS` over the
    trailing frame) and the next upcoming purchase backward
    (`first_value` over the leading frame) across their sparse event
    stream — the point-lookup form of observation carry. w07's
    gap-fill deliberately AVOIDED this operator (its lead+sequence
    rewrite needed one pass for a dense grid); w17 pins the operator
    itself, because for sparse per-row "as of this row, what was the
    last known X" the IGNORE NULLS frame is the single-pass idiom
    and the join alternative (j09 as-of) costs a range join.

    Engines spell the modifier differently — Spark
    `last_value(x) IGNORE NULLS OVER ...`, DuckDB
    `last_value(x IGNORE NULLS) OVER ...` — same ANSI semantics,
    pinned here over identical frames. The (ts, event_id) order
    carries the unique tiebreaker so frames agree when timestamps
    tie (registry discipline). All-integer values; no float surface.

    Scale: one user_id exchange serves both frames (shared sort
    order, forward + reverse accumulation); `_parallel_by` sizes the
    exchange and keeps it out of AQE coalescing (the w02 lesson).
    The user_id < 200 bound only caps the driver-hashed output."""
    (events,) = load_tables(spark, sf_dir, "events")
    sparse = events.filter(F.col("user_id") < 200).select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("event_id")).alias(
            "purchase_id"
        ),
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        _parallel_by(spark, sparse, "user_id")
        .select(
            "user_id",
            "event_id",
            F.last("purchase_id", ignorenulls=True).over(fwd).alias(
                "last_purchase_id"
            ),
            F.first("purchase_id", ignorenulls=True).over(bwd).alias(
                "next_purchase_id"
            ),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# W18 — batch session_window() cross-checked against the islands form
# --------------------------------------------------------------------------

W18_ORACLE = """
SELECT user_id,
       MIN(ts)                         AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE    AS session_end,
       CAST(COUNT(*) AS BIGINT)        AS n_events
FROM (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
  ) flagged
) numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


@query("w18_session_window_fn", oracle=W18_ORACLE)
def w18_session_window_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18 — the declarative ``session_window(ts, gap)`` grouping
    function (the batch twin of T3's streaming session window),
    cross-checked against the lag-gap ISLANDS formulation the
    headline `events_sessionize_30m` hand-writes: the oracle is the
    islands SQL, so this query pins that Spark's built-in session
    assignment — including its merge-adjacent-windows pass — is
    EXACTLY gap-maximal sessionization (session end = last event +
    gap, sessions closed only by a gap strictly longer than 30 min).
    Two independent formulations agreeing on every (user, session,
    bounds, count) row is the strongest intra-engine check the
    operator can carry.

    The headline keeps the islands form for speed (measured r2:
    session_window 0.96 s vs islands 0.23 s at sf0.1 — the merge
    pass costs an extra aggregate exchange); w18 exists because the
    declarative form is the API a user reaches for first, and its
    semantics deserve their own pin.

    Scale: groupBy(user_id, session_window) shuffles on user_id
    then merges per-key windows — state bounded by sessions per
    user, the same argument as T3."""
    (events,) = load_tables(spark, sf_dir, "events")
    sw = F.session_window(F.col("ts"), "30 minutes")
    return (
        events.groupBy("user_id", sw.alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# W19 — event-type transition matrix (first-order Markov table)
# --------------------------------------------------------------------------

W19_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
),
trans AS (
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
),
tot AS (
    SELECT prev_type, SUM(n) AS row_total FROM trans GROUP BY prev_type
)
SELECT t.prev_type, t.next_type,
       CAST(t.n AS BIGINT) AS n_transitions,
       ROUND(t.n / CAST(o.row_total AS DOUBLE), 6) AS p_next
FROM trans t JOIN tot o ON o.prev_type = t.prev_type
ORDER BY t.prev_type, t.next_type
"""


@query("w19_transition_matrix", oracle=W19_ORACLE)
def w19_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W19 — the first-order Markov transition table over per-user
    event sequences: P(next event type | current), the behavioral
    fingerprint funnels (l21) and streak analyses (w14) implicitly
    assume and this query makes explicit. lag() pairs consecutive
    events within each user's (ts, event_id)-ordered stream (unique
    tiebreaker — registry discipline), pairs aggregate to a
    |types|² matrix, and row-normalization divides by the
    prev-type marginal: exact integer counts, one r6'd ratio whose
    operands are identical integers on both engines (the scale-free
    ratio rule).

    Scale: ONE user_id exchange (sized by `_parallel_by`)
    feeds the lag window; everything after operates on |types|²
    rows. The transition matrix of a 100-TB event store costs one
    shuffle of sequence-adjacent pairs' bounded aggregates — this is
    the standard sessionized-behavior feature extraction."""
    (events,) = load_tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _parallel_by(spark, events, "user_id").select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = trans.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        trans.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("n").cast("bigint").alias("n_transitions"),
            F.round(
                F.col("n").cast("double") / F.col("row_total").cast("double"), 6
            ).alias("p_next"),
        )
        .orderBy("prev_type", "next_type")
    )


# --------------------------------------------------------------------------
# W20 — CUSUM drift detection via recursive CTE (identical SQL)
# --------------------------------------------------------------------------

W20_SQL = """
WITH RECURSIVE daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         ROUND(AVG(value), 6) AS m
  FROM events GROUP BY 1
),
ranked AS (
  SELECT day, m, row_number() OVER (ORDER BY day) AS rn,
         (SELECT ROUND(AVG(value), 6) FROM events) AS target
  FROM daily
),
c AS (
  SELECT rn, day, m, target, ROUND(GREATEST(0, m - target), 6) AS cusum
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.rn, r.day, r.m, r.target,
         ROUND(GREATEST(0, c.cusum + (r.m - r.target)), 6)
  FROM ranked r JOIN c ON r.rn = c.rn + 1
)
SELECT day, m AS daily_mean, ROUND(cusum, 6) AS cusum,
       cusum > target * 0.05 AS drift_alarm
FROM c ORDER BY day
"""


@query("w20_cusum_drift", oracle=W20_SQL, impure=True)
def w20_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W20 — one-sided CUSUM drift detection over the daily mean
    series: S_t = max(0, S_{t-1} + (x_t − target)) — the control
    chart that accumulates small sustained shifts a per-day z-score
    (w09) dilutes away. The max(0, ·) clamp makes CUSUM
    NON-expressible as any window aggregate (it is not associative,
    not invertible, not a prefix sum — w08's EWMA could unroll into
    a finite-horizon dot product precisely because it lacked such a
    clamp), so this is the genuine second use of WITH RECURSIVE:
    o10 recursed over a data HIERARCHY, w20 recurses over a TIME
    series. Both engines execute the IDENTICAL SQL.

    Determinism: daily means and every CUSUM iterate round at 6dp
    before feeding the next step (the l38 quantize-per-iteration
    discipline), so both engines chain bit-identical values; the
    alarm compares two r6'd quantities at a 5%-of-target band.
    The only timestamp subtlety: date_trunc('day') yields TIMESTAMP
    in Spark but DATE in DuckDB — the explicit CAST pins the shared
    schema.

    Scale: the recursion runs over |days| rows (bounded, tiny) that
    a single aggregate produced from the full event stream — "big
    data, small model" (l46's shape): the scan is distributed, the
    recursion is metadata-sized."""
    from hetnetdb_spark.catalog import register_views

    register_views(spark, sf_dir, "events")
    return spark.sql(W20_SQL)


# --------------------------------------------------------------------------
# W21 — autocorrelation of the daily series (lags 1..3)
# --------------------------------------------------------------------------

W21_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           ROUND(AVG(value), 6) AS m
    FROM events GROUP BY 1
),
lagged AS (
    SELECT l.lag,
           d.m          AS x,
           lead.m       AS y
    FROM (VALUES (1), (2), (3)) l(lag)
    JOIN daily d ON TRUE
    JOIN daily lead ON lead.day = d.day + l.lag * INTERVAL 1 DAY
)
SELECT lag,
       CAST(COUNT(*) AS BIGINT)  AS n_pairs,
       ROUND(corr(x, y), 6) + 0.0 AS autocorr
FROM lagged
GROUP BY lag
ORDER BY lag
"""


@query("w21_autocorrelation", oracle=W21_ORACLE)
def w21_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W21 — the autocorrelation function of the daily-mean series
    at lags 1–3: the time-series diagnostic that separates
    trending/seasonal signals (|r| high at some lag) from white
    noise, and the statistic an anomaly stack (w09 z-scores, w20
    CUSUM) consults to pick its baseline window. Pairing is an
    explicit equi-join on day + lag·INTERVAL (exact timestamp
    arithmetic — a dense daily grid joins to itself, missing days
    simply produce no pair, handled identically by both engines)
    rather than a row-offset lag, so calendar gaps cannot
    silently misalign the series.

    Float posture: the joined operands are the 6dp-rounded daily
    means (bit-identical on both engines — w20's quantized series),
    and corr is a RATIO of co-moments over those identical operands
    — the a30 cancellation argument, so r6 output is safe.

    Scale: the daily series is one distributed aggregate
    (|days| rows); the lag join and corr run on metadata-sized
    input — big data, small model, third member (l46, w20)."""
    (events,) = load_tables(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.avg("value"), 6).alias("m"))
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag"))
    d = daily.select(F.col("day").alias("d_day"), F.col("m").alias("x"))
    lead = daily.select(F.col("day").alias("l_day"), F.col("m").alias("y"))
    paired = (
        F.broadcast(lags)
        .crossJoin(d)
        .join(
            lead,
            F.col("l_day")
            == F.col("d_day")
            + F.col("lag") * F.expr("INTERVAL 1 DAY"),
        )
    )
    return (
        paired.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            zround(F.corr("x", "y")).alias("autocorr"),
        )
        .orderBy("lag")
    )


# --------------------------------------------------------------------------
# W22 — day-of-week seasonality profile (the missing time-series piece)
# --------------------------------------------------------------------------

W22_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d_date,
           SUM(CAST(value AS DECIMAL(18,6))) AS d
    FROM events GROUP BY d_date
),
tot AS (
    SELECT CAST(SUM(d) AS DOUBLE) AS tot_d,
           CAST(COUNT(*) AS BIGINT) AS tot_n
    FROM daily
)
SELECT CAST(dayofweek(d_date) + 1 AS INT) AS dow,
       CAST(COUNT(*) AS BIGINT)           AS n_days,
       ROUND(CAST(SUM(d) AS DOUBLE), 6)   AS dow_total,
       ROUND(CAST(SUM(d) AS DOUBLE) / COUNT(*), 6) AS dow_mean,
       ROUND((CAST(SUM(d) AS DOUBLE) / COUNT(*))
             / ((SELECT tot_d FROM tot) / (SELECT tot_n FROM tot)), 6)
           AS seasonal_index
FROM daily
GROUP BY dow
"""


@query("w22_dow_seasonality", oracle=W22_ORACLE)
def w22_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W22 — day-of-week seasonal profile of the daily event-value
    series: per weekday, how many days observed, the total and mean
    daily value, and the multiplicative seasonal index (dow mean ÷
    overall daily mean — the factor a seasonal adjustment divides
    out before trend/anomaly detection). Completes the time-series
    family: w08 smooths, w09 flags anomalies, w20 detects drift,
    w21 measures memory — this isolates the calendar component they
    all need removed first.

    Float discipline (the s14/l45 pattern): daily values accumulate
    as exact DECIMAL(18,6) sums — never doubles, so partition-order
    drift cannot exist — and every double is derived from an exact
    decimal by the same single conversion on both engines before
    the 6dp rounding. Spark's dayofweek is 1-based Sunday=1;
    DuckDB's is 0-based, aligned with +1 in the oracle.

    Plan: one date-grain hash agg (map-side combined), a 7-group
    rollup, and a broadcast 1-row overall mean — shuffles carry
    date/dow partial sums only."""
    (events,) = load_tables(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("d_date")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("d")
    )
    tot = daily.agg(
        F.sum("d").cast("double").alias("tot_d"),
        F.count(F.lit(1)).alias("tot_n"),
    )
    return (
        daily.groupBy(F.dayofweek("d_date").cast("int").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("d").cast("double").alias("sum_d"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_days",
            r6(F.col("sum_d")).alias("dow_total"),
            r6(F.col("sum_d") / F.col("n_days")).alias("dow_mean"),
            r6(
                (F.col("sum_d") / F.col("n_days"))
                / (F.col("tot_d") / F.col("tot_n"))
            ).alias("seasonal_index"),
        )
    )
