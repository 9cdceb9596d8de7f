"""Structured Streaming surface — SURVEY §2.8 (T1–T8) + S7/S8.

Every streaming query here runs the real streaming machinery —
``readStream`` file source (S7), stateful operators, memory/
foreachBatch sinks (S8) — bounded by ``trigger(availableNow=True)``
so a driver invocation terminates. Determinism argument, per query:
with availableNow over a fixed file set, Spark processes all input
and emits the final state, so the *complete-mode* results equal the
batch formulation — which is exactly the DuckDB oracle attached
where possible (the batch-parity strategy from SURVEY §5.3).

Scale posture: at a real 100 TB/day ingest these same plans run
unbounded with `maxFilesPerTrigger` pacing; state stores are keyed
by (window × group) or dedup key — bounded by watermarks, never by
input size. The memory sink is a test harness; production sinks are
partitioned parquet (S6) via `foreachBatch` or kafka.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from hetnetdb_spark.catalog import load_events_raw, load_tables, table_path
from hetnetdb_spark.registry import query
from hetnetdb_spark.session import app_id, conf_scope

from hetnetdb_spark.scratch import SCRATCH  # per-process; see scratch.py

def _events_physical(ts_type) -> StructType:
    """Requested schema for the events stream (the file stream
    source requires an explicit schema — no inference pass), with
    the ts type matching what THIS runtime's batch reader produces:
    Spark 4.1 reads the TIMESTAMP(NANOS) footer as TIMESTAMP_NTZ
    (µs-truncated wall clock — fixture values are µs-aligned, so
    lossless); a ≤4.0 runtime under `nanosAsLong` surfaces epoch-ns
    LongType, and requesting NTZ there would fail schema
    conversion. Do NOT request LongType on 4.1: its reader silently
    fulfills that with epoch-MICROS (not nanos), so ns-assuming
    arithmetic would be off by 1000×. Probing the batch schema (one
    footer read) and mirroring it is the only version-safe
    contract."""
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def _events_stream(spark: SparkSession, path: str) -> DataFrame:
    """S7 — streaming file source over the events parquet, with the
    same ts normalization as the batch catalog (see
    `_events_physical`; the session timezone is pinned UTC, so the
    NTZ→timestamp cast is wall-clock preserving and the ns-long
    `div 1000` path matches catalog.load). The file source requires
    a *directory*, so the scan targets the sf dir with a glob
    filter selecting the events file."""
    ts_type = spark.read.parquet(path).schema["ts"].dataType
    raw = (
        spark.readStream.schema(_events_physical(ts_type))
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )
    if isinstance(ts_type, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_to_memory(df: DataFrame, name: str, mode: str) -> None:
    """S8 — memory sink, bounded by availableNow; blocks until done."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --------------------------------------------------------------------------
# Headline: events_tumbling_1h — T1's batch form (BASELINE.md row 6)
# --------------------------------------------------------------------------

TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       COUNT(*)                AS n,
       ROUND(SUM(value), 6)    AS sum_value
FROM events
GROUP BY window_start, event_type
"""


#: 1 hour in epoch-nanos / epoch-micros — the batch tumbling bucket.
_HOUR_NS = 3_600_000_000_000
_HOUR_US = 3_600_000_000


@query("events_tumbling_1h", oracle=TUMBLING_ORACLE)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline T1 (batch form) — 1-hour tumbling count/sum by
    event_type. The plan is scan → partial agg → one shuffle on
    (bucket, event_type) — cardinality = hours × 5, independent of
    row count.

    The bucket is ONE integer FLOOR-division over the raw epoch-ns
    column, with the window-start timestamp reconstructed from the
    bucket AFTER aggregation — identical semantics to
    ``F.window(ts, "1 hour")`` for ALL epochs (``div`` truncates
    toward zero, so the r10 spelling silently diverged from
    F.window's floor for pre-1970 timestamps — ADVICE r10; the
    correction term below subtracts 1 exactly when the remainder is
    negative, restoring floor semantics for one extra modulo per
    row), but still ~10× cheaper per input row than ``F.window``:
    ``F.window`` expands to four ``precisetimestampconversion``
    calls plus a two-timestamp struct built per ROW (round-10
    crossover profile: 20× DuckDB at every corpus factor, flat —
    per-row expression cost, not shuffle), while this form defers
    all timestamp materialization to the few hundred surviving
    groups. The streaming twin t01 keeps ``F.window`` — the
    streaming state manager requires the window column.
    """
    events = load_events_raw(spark, sf_dir)
    floor_hb = f"(ts div {_HOUR_NS}) - (case when ts % {_HOUR_NS} < 0 then 1 else 0 end)"
    return (
        events.groupBy(
            F.expr(floor_hb).alias("hb"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.timestamp_micros(F.col("hb") * F.lit(_HOUR_US)).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# T1 — the same tumbling aggregate through the streaming engine
# --------------------------------------------------------------------------


@query("t01_stream_tumbling_1h", oracle=TUMBLING_ORACLE, impure=True)
def t01_stream_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — tumbling window through readStream + availableNow +
    complete-mode memory sink. Same oracle as the batch form: with
    all input consumed, complete-mode state equals the batch
    aggregate (SURVEY §5.3 batch-parity)."""
    stream = _events_stream(spark, table_path(sf_dir, "events"))
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    _run_to_memory(agg, "t01_tumbling", "complete")
    return spark.table("t01_tumbling")


# --------------------------------------------------------------------------
# T2 — sliding window (1 h window, 15 min slide)
# --------------------------------------------------------------------------

T2_ORACLE = """
SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes'
         AS window_start,
       COUNT(*)             AS n,
       ROUND(SUM(value), 6) AS sum_value
FROM events, (SELECT unnest(range(4)) AS k) k
GROUP BY window_start
"""


@query("t02_stream_sliding", oracle=T2_ORACLE, impure=True)
def t02_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — sliding 1h/15m window, streamed. Each event lands in 4
    overlapping windows; the oracle expands the same 4 buckets with
    a range join. State size = windows × 1 row, bounded by the time
    span, not input size."""
    stream = _events_stream(spark, table_path(sf_dir, "events"))
    agg = (
        stream.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )
    _run_to_memory(agg, "t02_sliding", "complete")
    return spark.table("t02_sliding")


# --------------------------------------------------------------------------
# T3 — session window (30 min gap)
# --------------------------------------------------------------------------

T3_ORACLE = """
SELECT user_id, session_start, session_end, n_events
FROM (
  SELECT user_id,
         MIN(ts)                            AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE       AS session_end,
         COUNT(*)                           AS n_events
  FROM (
    SELECT user_id, ts,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
    FROM (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ) flagged
  ) numbered
  GROUP BY user_id, sid
) s
"""


@query("t03_stream_session_30m", oracle=T3_ORACLE, impure=True)
def t03_stream_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 — `session_window` (30-minute gap) through the streaming
    engine. Oracle is the batch lag+cumsum sessionization with the
    *session_window* gap convention: a gap of exactly 30 min starts
    a new session (merge condition is next_start < prev_end), and
    session_end = last_ts + gap. Note the deliberate difference
    from the batch headline `events_sessionize_30m`, which uses the
    strict-> convention; both conventions exist in the wild and the
    two queries document which is which."""
    stream = _events_stream(spark, table_path(sf_dir, "events"))
    agg = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    _run_to_memory(agg, "t03_session", "complete")
    return spark.table("t03_session")


# --------------------------------------------------------------------------
# T4 — watermark + late-data drop (full oracle via the emission gate)
# --------------------------------------------------------------------------

T4_SPLIT = "2024-01-16 00:00:00"

T4_ORACLE = f"""
WITH on_time AS (
    SELECT * FROM events WHERE ts >= TIMESTAMP '{T4_SPLIT}'
),
wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM on_time),
wins AS (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, COUNT(*) AS n
    FROM on_time GROUP BY ws
)
SELECT CAST(COUNT(*) AS BIGINT)           AS n_windows_emitted,
       CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows_counted
FROM wins
WHERE ws + INTERVAL 1 HOUR < (SELECT w FROM wm) - INTERVAL 1 MINUTE
"""


@query("t04_watermark_latedrop", oracle=T4_ORACLE, impure=True)
def t04_watermark_latedrop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 — a 10-minute watermark dropping late rows, now with a
    FULL oracle (rows-only until round 5; the t12 emission-gate
    technique closed it). Lateness is manufactured: run 1 streams
    events at/after {T4_SPLIT} (persisting watermark =
    max(on-time ts) − 10 min in the checkpoint), then the older
    half lands and run 2 resumes — every old row is behind the
    persisted watermark and drops before aggregation (verified via
    `numRowsDroppedByWatermark` during development). Sink is the
    S8 parquet file sink in append mode.

    Determinism contract mirrored by the oracle: append mode emits
    a window only once the watermark passes its END, and the final
    flush runs with run-1's persisted watermark — so the emitted
    set is exactly the on-time windows with
    `window_end < watermark`, counted with a 1-minute margin
    excluded on BOTH engines (the t12 rule: boundary comparisons
    belong to neither side). The late file contributes nothing —
    that absence is what the row counts pin."""
    import shutil

    (events,) = load_tables(spark, sf_dir, "events")
    split = F.lit(T4_SPLIT).cast("timestamp")
    base = os.path.join(SCRATCH, "t04_late")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    out = os.path.join(base, "out")

    def run_available_now() -> None:
        stream = spark.readStream.schema(events.schema).parquet(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: on-time half only
    on_time = events.filter(F.col("ts") >= split)
    on_time.coalesce(1).write.mode("overwrite").parquet(src)
    run_available_now()
    # the old half arrives after the watermark has advanced
    events.filter(F.col("ts") < split).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_available_now()

    wm_row = on_time.agg(F.max("ts").alias("m")).collect()[0]
    wm = F.lit(wm_row["m"]) - F.expr("INTERVAL 10 MINUTES")

    emitted = spark.read.parquet(out).filter(
        F.col("window_start") + F.expr("INTERVAL 1 HOUR")
        < wm - F.expr("INTERVAL 1 MINUTE")
    )
    return emitted.agg(
        F.count(F.lit(1)).alias("n_windows_emitted"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows_counted"),
    )


# --------------------------------------------------------------------------
# T5 — stateful dedup across micro-batches
# --------------------------------------------------------------------------

T5_ORACLE = """
SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
FROM events
GROUP BY event_type
"""


@query("t05_stream_dedup", oracle=T5_ORACLE, impure=True)
def t05_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 — `dropDuplicatesWithinWatermark` on a stream that
    replays every event twice (the fixture file copied into two
    scratch files, one micro-batch each), so dedup state must
    survive across batches. The watermark delay (48 h) exceeds the
    fixture's time span, so no key is evicted mid-run and the
    result equals batch COUNT(DISTINCT) — which is the oracle."""
    (events,) = load_tables(spark, sf_dir, "events")
    dup_dir = os.path.join(SCRATCH, "t05_dup")
    for copy in ("copy1", "copy2"):
        events.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(dup_dir, copy)
        )
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(dup_dir, "*", "*.parquet"))
    )
    deduped = (
        stream.withWatermark("ts", "48 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    _run_to_memory(deduped, "t05_dedup", "complete")
    return spark.table("t05_dedup")


# --------------------------------------------------------------------------
# T6 — stream–static join
# --------------------------------------------------------------------------

T6_ORACLE = """
SELECT c.c_mktsegment,
       COUNT(*)             AS n_events,
       ROUND(SUM(e.value), 6) AS sum_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("t06_stream_static_join", oracle=T6_ORACLE, impure=True)
def t06_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 — streaming events ⋈ static customer dimension, then
    windowless aggregate. The static side is a plain batch
    DataFrame: Spark broadcasts it into every micro-batch (the
    standard enrichment join — no state store involved for the
    join itself)."""
    (customer,) = load_tables(spark, sf_dir, "customer")
    stream = _events_stream(spark, table_path(sf_dir, "events"))
    joined = (
        stream.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            stream["user_id"] == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
    )
    _run_to_memory(joined, "t06_static_join", "complete")
    return spark.table("t06_static_join")


# --------------------------------------------------------------------------
# T7 — stream–stream join with a time-range condition
# --------------------------------------------------------------------------

T7_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click'
 AND b.event_type = 'purchase'
 AND b.ts >= a.ts
 AND b.ts <= a.ts + INTERVAL 1 HOUR
"""


@query("t07_stream_stream_join", oracle=T7_ORACLE, impure=True)
def t07_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 — click→purchase attribution: two watermarked streams of
    the same source joined on user with a 1-hour range condition.
    The range bound + watermarks are what let the state store evict
    rows at scale (without them a stream-stream join buffers
    forever). availableNow over a fixed file set emits exactly the
    batch theta-join matches — the oracle."""
    path = table_path(sf_dir, "events")
    clicks = (
        _events_stream(spark, path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
        )
        .withWatermark("p_ts", "2 hours")
    )
    pairs = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    _run_to_memory(pairs, "t07_pairs", "append")
    emitted = spark.table("t07_pairs")
    return emitted.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("c_user").alias("n_users"),
    )


# --------------------------------------------------------------------------
# T8 — output modes and triggers (rows-only: harness-shaped output)
# --------------------------------------------------------------------------


T8_CUTS = ("2024-01-11 00:00:00", "2024-01-21 00:00:00")

T8_ORACLE = f"""
WITH b AS (
    SELECT event_type,
           CASE WHEN ts < TIMESTAMP '{T8_CUTS[0]}' THEN 0
                WHEN ts < TIMESTAMP '{T8_CUTS[1]}' THEN 1
                ELSE 2 END AS batch
    FROM events
),
upd AS (
    SELECT COUNT(*) AS n FROM (SELECT DISTINCT event_type, batch FROM b)
)
SELECT 'complete' AS mode,
       (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM b)
           AS rows_at_sink
UNION ALL
SELECT 'foreachBatch', (SELECT CAST(n AS BIGINT) FROM upd)
UNION ALL
SELECT 'update', (SELECT CAST(n AS BIGINT) FROM upd)
ORDER BY mode
"""


@query("t08_output_modes", oracle=T8_ORACLE, impure=True)
def t08_output_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 — the same aggregate through complete mode, update mode,
    and a foreachBatch sink. FULL oracle since round 5: the batch
    pacing that made mode shapes "engine-defined" is pinned instead
    — the source is split into three files at fixed day cuts and
    streamed with maxFilesPerTrigger=1 (t11's back-pressure spell),
    so batch k processes exactly day-range k regardless of file
    enumeration order. That makes every mode's sink row count a
    relational quantity: complete-mode state at termination is the
    distinct key set; update/foreachBatch emit each key once per
    batch that CHANGES it, i.e. |distinct (key, batch)| — which is
    what the oracle computes. (Every event type occurs in every
    range here, so update emits 3x the keys — the re-emission the
    mode exists to bound.)"""
    import shutil

    (events,) = load_tables(spark, sf_dir, "events")
    base = os.path.join(SCRATCH, "t08_modes")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    lo = F.lit(T8_CUTS[0]).cast("timestamp")
    hi = F.lit(T8_CUTS[1]).cast("timestamp")
    for rng in (
        events.filter(F.col("ts") < lo),
        events.filter((F.col("ts") >= lo) & (F.col("ts") < hi)),
        events.filter(F.col("ts") >= hi),
    ):
        rng.coalesce(1).write.mode("append").parquet(src)

    def paced_stream() -> DataFrame:
        return (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def agg_of(stream: DataFrame) -> DataFrame:
        return stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    results = []
    for mode in ("complete", "update"):
        name = f"t08_{mode}"
        _run_to_memory(agg_of(paced_stream()), name, mode)
        results.append((mode, spark.table(name).count()))

    seen: list[int] = []
    q = (
        agg_of(paced_stream())
        .writeStream.outputMode("update")
        .foreachBatch(lambda batch_df, _bid: seen.append(batch_df.count()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    results.append(("foreachBatch", sum(seen)))
    return spark.createDataFrame(
        results, "mode string, rows_at_sink long"
    ).orderBy("mode")


# --------------------------------------------------------------------------
# T9 (beyond contract) — custom stateful operator via applyInPandasWithState
# --------------------------------------------------------------------------

T9_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6)     AS total_value
FROM events
GROUP BY user_id
"""


@query("t09_custom_stateful", oracle=T9_ORACLE, impure=True)
def t09_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond SURVEY §2.8 — an arbitrary per-key state machine via
    `applyInPandasWithState`: the escape hatch when built-in
    windows/dedup can't express the stateful logic (session funnels,
    fraud counters, CDC merge). Here the state is a per-user
    (count, sum) accumulator — deliberately equivalent to a
    group-by so the DuckDB oracle can certify the state machinery
    end-to-end: grouping, multiple Arrow chunks per key, state
    read/update, update-mode emission."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    def track(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    stream = _events_stream(spark, table_path(sf_dir, "events"))
    tracked = stream.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(tracked, "t09_stateful", "update")
    return spark.table("t09_stateful")


# --------------------------------------------------------------------------
# T10 (beyond contract) — transformWithStateInPandas (Spark 4 stateful API)
# --------------------------------------------------------------------------

T10_ORACLE = """
SELECT user_id,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(COUNT(*) AS BIGINT)                   AS n_events
FROM events
GROUP BY user_id
"""


#: Repo-vendored pure-Python protobuf runtime (vendor/miniproto/
#: README in its package docstring): used ONLY when the real
#: `google.protobuf` is absent, which is the case in this container.
_MINIPROTO_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "vendor",
    "miniproto",
)


def _protobuf_available() -> bool:
    """The transformWithStateInPandas state-server protocol speaks
    protobuf between the JVM and the Python worker; without a
    `google.protobuf` package the driver worker crashes at plan
    validation. Prefer a real installation; where none exists, fall
    back to the repo-vendored miniproto runtime (appended, never
    prepended, AND shipped as a namespace-package portion — the
    vendored google/ has no __init__.py — so it can coexist with
    real `google.*` namespace distributions like google-auth and a
    real `google.protobuf` anywhere on sys.path always shadows it).
    The gate is `find_spec("google.protobuf")`, not bare `google`:
    a host can have google-auth without protobuf, and gating on the
    namespace root would wrongly skip the fallback there. Only if
    BOTH runtimes are unavailable does t10 stay unregistered."""
    import importlib.util
    import logging
    import sys

    def _has_protobuf() -> bool:
        try:
            # Raises ModuleNotFoundError (not just returns None) when
            # no `google` package/namespace exists at all.
            return importlib.util.find_spec("google.protobuf") is not None
        except ModuleNotFoundError:
            return False

    if _has_protobuf():
        return True
    if not os.path.isdir(_MINIPROTO_DIR):
        return False
    if _MINIPROTO_DIR not in sys.path:
        sys.path.append(_MINIPROTO_DIR)
    if _has_protobuf():
        # Breadcrumb for future debugging sessions: google.protobuf
        # is now the vendored 17-field-subset runtime, not upstream.
        # INFO, not WARNING: it fires on every registry import, and at
        # WARNING it led every artifact/log tail with vendor noise.
        logging.getLogger(__name__).info(
            "miniproto active: no real google.protobuf found; vendored "
            "subset runtime at %s now serves google.protobuf imports",
            _MINIPROTO_DIR,
        )
        return True
    return False


def _ship_miniproto(spark: SparkSession) -> None:
    """Make `google.protobuf` importable in the PYTHON WORKERS of an
    already-running session. The driver-side sys.path append in
    `_protobuf_available` does not reach workers (they build their
    sys.path from PYTHONPATH + pyFiles at launch), and the driver
    harness creates the SparkSession before this package can touch
    the environment — so ship the vendored runtime as an addPyFile
    zip, which PythonRunner prepends to every worker's sys.path.
    No-op when the real protobuf is importable without the vendor
    dir (workers then resolve the same installation)."""
    import importlib.util
    import sys
    import zipfile

    spec = importlib.util.find_spec("google.protobuf")
    if spec is None or spec.origin is None:
        return
    if not spec.origin.startswith(_MINIPROTO_DIR):
        return  # real installation: workers can import it themselves
    from hetnetdb_spark.scratch import SCRATCH

    zip_path = os.path.join(SCRATCH, "miniproto.zip")
    if not os.path.exists(zip_path):
        os.makedirs(SCRATCH, exist_ok=True)
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(_MINIPROTO_DIR):
                for fname in files:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    zf.write(full, os.path.relpath(full, _MINIPROTO_DIR))
        os.replace(tmp, zip_path)
    # addPyFile is idempotent per path; guard per-application anyway
    # to keep the driver log clean on re-invocation.
    shipped = getattr(sys.modules[__name__], "_MINIPROTO_SHIPPED", set())
    app = app_id(spark)
    if app not in shipped:
        spark.sparkContext.addPyFile(zip_path)
        shipped.add(app)
        sys.modules[__name__]._MINIPROTO_SHIPPED = shipped
    # transformWithState's DRIVER-side python worker (state-schema
    # validation) builds its sys.path from PYTHONPATH only — it never
    # reads the pyFiles list. PythonWorkerFactory merges the udf's
    # envVars["PYTHONPATH"], and classic-mode udf creation snapshots
    # `sc.environment` as those envVars — so stamping the vendor dir
    # here (BEFORE the udf is built) reaches that worker. Local paths
    # suffice in local mode; on a cluster the addPyFile zip above
    # covers executor workers.
    env = spark.sparkContext.environment
    current = env.get("PYTHONPATH", "")
    if _MINIPROTO_DIR not in current.split(os.pathsep):
        env["PYTHONPATH"] = (
            current + os.pathsep + _MINIPROTO_DIR if current else _MINIPROTO_DIR
        )


def _shared_event_splits(events: DataFrame, sf_dir: str) -> str:
    """Per-process cache of the UNDOCTORED events 4-split corpus.

    t18/t19/t20/t22 all replay the byte-identical time-ordered split
    of the raw events table; building it once per (process, sf)
    saves four percentile collects and twelve coalesce(1) writes per
    registry pass. Queries that split a DOCTORED feed (t21/t24's
    duplicate injection, t23's second-half cut) keep their own dirs.
    The _SUCCESS marker makes the cache crash-safe: a write killed
    mid-split leaves no marker and is rebuilt. Keyed by the FULL
    resolved fixture path, not its basename — two fixtures named
    sf0.01 under different parents must never share a cache entry
    (per-query dirs used to rebuild from scratch every call, which
    made a basename collision harmless; the cache would not be).

    Publication is ATOMIC (ADVICE r9): the split corpus is built in a
    unique temp dir and os.rename'd into place, so two concurrent
    builders — HTTP-server threads, or any future same-pid
    concurrency (cross-process is already impossible: SCRATCH is
    pid-keyed) — can never interleave writes inside a half-published
    dir. The loser of the rename race discards its temp and reuses
    the winner's corpus; both corpora are byte-equal by construction
    (deterministic split of the same fixture), so either outcome is
    correct."""
    import hashlib
    import shutil
    import uuid

    resolved = os.path.realpath(sf_dir)
    tag = os.path.basename(resolved).replace(".", "_")
    fp = hashlib.md5(resolved.encode()).hexdigest()[:8]
    base = os.path.join(SCRATCH, f"events_splits_{tag}_{fp}")
    marker = os.path.join(base, "_SUCCESS")
    if not os.path.exists(marker):
        tmp = f"{base}.build-{uuid.uuid4().hex[:12]}"
        _time_split_events(events, tmp, T18_N_SPLITS)
        with open(os.path.join(tmp, "_SUCCESS"), "w", encoding="utf-8"):
            pass
        try:
            os.rename(tmp, base)
        except OSError:
            # A concurrent builder published first (rename onto an
            # existing dir fails). Their corpus is complete iff the
            # marker is visible; otherwise it's a half-dead leftover
            # from a kill — replace it with ours.
            if os.path.exists(marker):
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                shutil.rmtree(base, ignore_errors=True)
                os.rename(tmp, base)
    return base


def _rocksdb_provider(spark: SparkSession):
    """Scoped RocksDB state-store provider (a `session.conf_scope`).

    transformWithState keeps each state variable in its own column
    family, which HDFSBackedStateStoreProvider cannot do — RocksDB
    is a hard requirement of the operator. The conf is read at
    stream START, so a scope around one query keeps the rest of
    the suite on the default provider (both backends stay
    exercised)."""
    return conf_scope(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
            )
        },
    )


def _query_if_protobuf(name: str, oracle: str):
    """Register a transformWithState query only when a protobuf
    runtime exists — the state-server wire protocol requires it
    (`_protobuf_available`, which also activates vendor/miniproto).
    Without one the function stays unregistered and T9 carries the
    arbitrary-stateful contract."""
    if _protobuf_available():
        return query(name, oracle=oracle, impure=True)
    return lambda fn: fn


def _append_gate(max_ts):
    """Terminal-watermark emission gate: max event time seen minus
    the 1-hour delay, minus t12's shared 1-minute boundary margin
    (boundary comparisons belong to neither engine). Shared by
    t18/t19/t24 so the margin can never drift per-query."""
    return (
        F.lit(max_ts)
        - F.expr("INTERVAL 1 HOUR")
        - F.expr("INTERVAL 1 MINUTE")
    )


@_query_if_protobuf("t10_transform_with_state", T10_ORACLE)
def t10_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond SURVEY §2.8 — the Spark 4 arbitrary-stateful API
    (`transformWithStateInPandas` + a `StatefulProcessor` holding
    MapState), successor to T9's `applyInPandasWithState`.
    Registered only when `google.protobuf` is importable — the
    state-server wire protocol requires it (`_protobuf_available`);
    where it is missing (this container) the query stays dormant and
    T9 carries the arbitrary-stateful contract. The
    processor keeps a per-user map of event_type → count — the shape
    a real funnel/segmentation operator needs and flat tuple state
    can't express — and emits (user_id, distinct types, total
    events), deliberately oracle-equivalent to a COUNT(DISTINCT)
    group-by so DuckDB certifies the state machinery end to end.

    Scale posture: state is keyed by user and bounded by the
    event-type alphabet (5 values), not by input rows; the state
    store partitions on the same user_id shuffle the grouping
    already pays, and update-mode emission keeps each micro-batch's
    output proportional to touched keys, not total state.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    _ship_miniproto(spark)

    class TypeCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "type_counts", "event_type string", "n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            for pdf in rows:
                for etype, n in pdf.groupby("event_type").size().items():
                    prior = (
                        self._counts.getValue((etype,))[0]
                        if self._counts.containsKey((etype,))
                        else 0
                    )
                    self._counts.updateValue((etype,), (prior + int(n),))
            total = 0
            n_types = 0
            for _k, v in self._counts.iterator():
                n_types += 1
                total += v[0]
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_types": [n_types], "n_events": [total]}
            )

        def close(self) -> None:
            pass

    # transformWithState keeps each state variable in its own column
    # family, which HDFSBackedStateStoreProvider cannot do — RocksDB
    # is a hard requirement of the operator, scoped/restored exactly
    # like t13 so the rest of the suite keeps exercising the default
    # provider.
    with _rocksdb_provider(spark):
        stream = _events_stream(spark, table_path(sf_dir, "events"))
        tracked = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=TypeCounter(),
            outputStructType="user_id long, n_types long, n_events long",
            outputMode="Update",
            timeMode="None",
        )
        _run_to_memory(tracked, "t10_tws", "update")
    return spark.table("t10_tws")


# --------------------------------------------------------------------------
# T11 — trigger pacing: maxFilesPerTrigger under availableNow
# --------------------------------------------------------------------------

T11_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT)  AS n,
       ROUND(SUM(value), 6)      AS sum_value
FROM events
GROUP BY event_type
"""

T11_FRAGMENTS = 8
T11_FILES_PER_TRIGGER = 2


@query("t11_paced_ingest", oracle=T11_ORACLE, impure=True)
def t11_paced_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11 — bounded-rate streaming ingest: the events table
    fragmented into 8 files, streamed with ``maxFilesPerTrigger=2``
    under ``availableNow`` — exactly 4 micro-batches (asserted by
    the golden test via foreachBatch), each scanning only its file
    quota. This is the back-pressure knob that turns a backlogged
    landing zone into bounded-memory catch-up processing: state per
    micro-batch is capped by files-per-trigger × file size, not by
    backlog depth. The oracle asserts pacing changes NOTHING about
    the answer: complete-mode totals equal the batch aggregate over
    all events.
    """
    import shutil

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    frag = os.path.join(SCRATCH, f"t11_fragments_{tag}")
    # Recreate unconditionally: a _SUCCESS-gated cache would
    # silently reuse a stale fragment count if T11_FRAGMENTS or the
    # projection changes (the s19 stale-scratch lesson).
    shutil.rmtree(frag, ignore_errors=True)
    (events,) = load_tables(spark, sf_dir, "events")
    events.select("event_id", "ts", "user_id", "event_type", "value").repartition(
        T11_FRAGMENTS
    ).write.mode("overwrite").parquet(frag)

    schema = spark.read.parquet(frag).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", T11_FILES_PER_TRIGGER)
        .parquet(frag)
    )
    agged = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )
    _run_to_memory(agged, "t11_paced", "complete")
    return spark.table("t11_paced")


# --------------------------------------------------------------------------
# T12 — stream-stream LEFT OUTER join (watermark-gated null emission)
# --------------------------------------------------------------------------

T12_SPLIT = "2024-01-16 00:00:00"

T12_ORACLE = f"""
WITH r1 AS (
    SELECT * FROM events WHERE ts < TIMESTAMP '{T12_SPLIT}'
),
wm AS (
    SELECT LEAST(
        (SELECT MAX(ts) FROM r1 WHERE event_type = 'click'),
        (SELECT MAX(ts) FROM r1 WHERE event_type = 'purchase')
    ) - INTERVAL 2 HOUR AS w
),
c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
matched AS (
    SELECT c.event_id AS c_id, c.user_id
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
),
unmatched AS (
    SELECT c.event_id FROM c
    WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
    AND c.ts + INTERVAL 1 HOUR < (SELECT w FROM wm) - INTERVAL 1 MINUTE
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM matched)               AS n_matched,
       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM matched) AS n_users_matched,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM unmatched)             AS n_unmatched_flushed
"""


@query("t12_stream_outer_join", oracle=T12_ORACLE, impure=True)
def t12_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 — watermarked stream-stream LEFT OUTER join: every click
    joined to its purchases within 1 hour, clicks with NO purchase
    surviving as null rows. Outer results are watermark-GATED: a
    null row may only emit once the join watermark proves no future
    match can arrive, and Spark flushes those evictions during the
    NEXT batch — a single-batch availableNow run would emit zero
    null rows. So the query manufactures a second batch exactly like
    t04: run 1 streams events before {T12_SPLIT} (persisting
    watermark = min(max click ts, max purchase ts) − 2h in the
    checkpoint), then the rest lands and run 2 resumes, during
    which run-1 state older than the watermark is evicted and
    emitted null-joined.

    Determinism contract mirrored by the oracle: ALL matched pairs
    emit (boundary-straddling clicks are provably un-evictable
    before their match arrives: c_ts ≥ split − 1h > watermark);
    null rows emit exactly for unmatched clicks with
    c_ts + 1h < watermark, counted with a 1-minute safety margin
    on BOTH engines so the state-store boundary comparison (< vs ≤,
    last-ulp) cannot flip a row between the two sides. The margin
    rows are EXCLUDED from both counts, not trusted to either
    engine. Scale: state is bounded by (watermark delay + join
    window) × arrival rate per key — the eviction being tested here
    is the mechanism that makes an infinite outer join finite."""
    import shutil

    (events,) = load_tables(spark, sf_dir, "events")
    base = os.path.join(SCRATCH, "t12_outer")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    out = os.path.join(base, "out")
    split = F.lit(T12_SPLIT).cast("timestamp")

    def run_available_now() -> None:
        stream = spark.readStream.schema(events.schema).parquet(src)
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("event_id").alias("c_id"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "2 hours")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("p_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "2 hours")
        )
        joined = clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
            "leftOuter",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    events.filter(F.col("ts") < split).coalesce(1).write.mode("overwrite").parquet(src)
    run_available_now()
    events.filter(F.col("ts") >= split).coalesce(1).write.mode("append").parquet(src)
    run_available_now()

    r1 = events.filter(F.col("ts") < split)
    wm_row = (
        r1.groupBy()
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).alias("w")
        )
        .collect()[0]
    )  # one scalar: the persisted run-1 watermark, for the margin filter
    wm = F.lit(wm_row["w"]) - F.expr("INTERVAL 2 HOURS")

    emitted = spark.read.parquet(out)
    flushed_null = F.col("p_id").isNull() & (
        F.col("c_ts") + F.expr("INTERVAL 1 HOUR") < wm - F.expr("INTERVAL 1 MINUTE")
    )
    return emitted.agg(
        F.sum(F.col("p_id").isNotNull().cast("long")).alias("n_matched"),
        F.countDistinct(F.when(F.col("p_id").isNotNull(), F.col("c_user"))).alias(
            "n_users_matched"
        ),
        F.sum(flushed_null.cast("long")).alias("n_unmatched_flushed"),
    )


# --------------------------------------------------------------------------
# T13 — RocksDB state store backend (the 100 TB state answer)
# --------------------------------------------------------------------------


@query("t13_rocksdb_state", oracle=TUMBLING_ORACLE, impure=True)
def t13_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13 — t01's tumbling aggregate re-run with the RocksDB state
    store provider. The default HDFSBackedStateStoreProvider keeps
    every key in executor HEAP — at 100 TB of watermarked state
    (sessionization, dedup, stream joins) that is the OOM everyone
    hits; RocksDB spills state to local disk with incremental
    checkpointing, which is why it is the production backend. Same
    oracle as t01: the backend must be invisible to results — this
    query pins exactly that, plus (via the golden test) that the
    provider actually engaged (`stateOperators[].customMetrics`
    carries rocksdb* keys).

    The provider conf is read at stream START, so it is set/restored
    around this one query; the engine's other streaming queries stay
    on the default provider deliberately — both backends stay
    exercised."""
    with _rocksdb_provider(spark):
        stream = _events_stream(spark, table_path(sf_dir, "events"))
        agg = (
            stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 6).alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n",
                "sum_value",
            )
        )
        _run_to_memory(agg, "t13_rocksdb", "complete")
    return spark.table("t13_rocksdb")


# --------------------------------------------------------------------------
# T14 (beyond contract) — streaming upsert sink via foreachBatch MERGE
# --------------------------------------------------------------------------

T14_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(ts) AS last_seen
FROM events
GROUP BY user_id
"""


@query("t14_stream_upsert_sink", oracle=T14_ORACLE, impure=True)
def t14_stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14 — the production streaming SINK pattern: each micro-batch
    MERGEs its per-key partial state into a persistent keyed table
    (CDC-apply / upsert-materialize), instead of appending rows.
    Spark's file sinks only append; exactly this foreachBatch merge
    is how every streaming-upsert deployment (Delta/Iceberg MERGE
    INTO included) actually commits.

    Per batch: aggregate the batch to (user_id, n, max_ts) —
    map-side partials, batch-bounded — then full-outer merge with
    the current table state (n_total += n, last_seen = max) and
    commit by directory swap (write new generation, atomic rename —
    the poor man's transaction log; a table format replaces the
    swap with a manifest commit, s24's machinery). Because the
    merged statistics are commutative monoids (sum, max), the final
    table is independent of batch pacing — which is what makes the
    full oracle legitimate: it's the plain batch GROUP BY over all
    events. The streaming run certifies the read-merge-swap
    plumbing; the monoid argument certifies the value."""
    import shutil

    (events,) = load_tables(spark, sf_dir, "events")
    # Unique workdir per invocation: a reused checkpoint dir would
    # make availableNow see "no new files" and process ZERO batches
    # (file-stream sources match checkpoints by position, not path),
    # and a concurrently-slow rmtree could leave one behind.
    t14_stream_upsert_sink._seq = getattr(t14_stream_upsert_sink, "_seq", 0) + 1
    base = os.path.join(SCRATCH, f"t14_upsert_{t14_stream_upsert_sink._seq}")
    shutil.rmtree(base, ignore_errors=True)
    tbl = os.path.join(base, "tbl")
    # Stream from a self-written source snapshot (t04/t08's proven
    # pattern) rather than the shared testdata dir: a scratch dir
    # this query owns has fresh mtimes and exactly the files written
    # here, immune to the occasional empty first listing observed
    # when globbing a single static file out of a shared directory.
    src = os.path.join(base, "src")
    events.repartition(4).write.parquet(src)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_seen")
        )
        if os.path.exists(tbl):
            cur = spark.read.parquet(tbl)
            merged = (
                cur.unionByName(part)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.max("last_seen").alias("last_seen"),
                )
            )
        else:
            merged = part
        gen = os.path.join(base, f"gen_{batch_id}")
        merged.write.mode("overwrite").parquet(gen)
        shutil.rmtree(tbl, ignore_errors=True)
        os.rename(gen, tbl)

    q = (
        spark.readStream.schema(events.schema)
        .parquet(src)
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", os.path.join(base, "ckpt")
        )
        .start()
    )
    q.awaitTermination()
    if not os.path.exists(tbl):
        raise RuntimeError(
            "t14: stream terminated without processing any batch "
            f"(recentProgress={q.recentProgress!r})"
        )
    out = spark.read.parquet(tbl).select(
        "user_id", F.col("n_events").cast("long").alias("n_events"), "last_seen"
    )
    # materialize before cleanup of older generations
    prev = os.path.join(SCRATCH, f"t14_upsert_{t14_stream_upsert_sink._seq - 1}")
    shutil.rmtree(prev, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# T15 — StreamingQueryListener telemetry vs the relational truth
# --------------------------------------------------------------------------

T15_FRAGMENTS = 5

T15_ORACLE = """
SELECT CAST(5 AS BIGINT)        AS n_nonempty_batches,
       CAST(COUNT(*) AS BIGINT) AS listener_rows,
       CAST(COUNT(*) AS BIGINT) AS sink_rows,
       TRUE                     AS telemetry_consistent
FROM events
"""


@query("t15_listener_metrics", oracle=T15_ORACLE, impure=True)
def t15_listener_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15 — the `StreamingQueryListener` observability surface: the
    async callback bus every production streaming deployment hangs
    its lag/throughput alerting on. A Python listener subscribes to
    onQueryProgress, records each micro-batch's numInputRows (scoped
    to THIS query's run id — the bus is process-global), and the
    query's telemetry is then checked against ground truth the
    relational way: the events snapshot fragments into exactly
    T15_FRAGMENTS files streamed at maxFilesPerTrigger=1 under
    availableNow, so the listener must see exactly that many
    non-empty batches (t11's pinned-pacing idea) whose input-row sum
    equals COUNT(*) of the source — and both must equal what the
    sink actually received. Telemetry that can drop or double-count
    a batch fails the hash, not a human reading a dashboard.

    Async discipline: progress events are delivered on a listener
    bus thread AFTER awaitTermination can return, so the query polls
    for the terminated event (bounded wait, loud failure with the
    partial event log — the t14 zero-batch-guard posture); the
    listener is removed in a finally block so repeated invocations
    and other T-queries never cross-talk.

    Scale: listener events are O(batches), driver-side, constant
    size — the observability cost is independent of data volume,
    which is the property that lets it stay on in production."""
    import shutil
    import time as _time

    from pyspark.sql.streaming import StreamingQueryListener

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    frag = os.path.join(SCRATCH, f"t15_fragments_{tag}")
    shutil.rmtree(frag, ignore_errors=True)
    (events,) = load_tables(spark, sf_dir, "events")
    events.select("event_id", "ts", "user_id", "event_type").repartition(
        T15_FRAGMENTS
    ).write.mode("overwrite").parquet(frag)
    n_source = spark.read.parquet(frag).count()

    class _Recorder(StreamingQueryListener):
        def __init__(self) -> None:
            self.query_id = None
            self.batches: list[tuple[int, int]] = []
            self.terminated = False

        def onQueryStarted(self, event) -> None:
            # Capture the id HERE: onQueryStarted is delivered
            # synchronously with start(), so the filter is armed
            # before the first micro-batch can report progress.
            # Assigning from the main thread after start() returned
            # (the old shape) raced batch 0's progress event — a
            # fast first batch was silently dropped by the id filter
            # and listener_rows undercounted. First-started wins;
            # the listener lives only for this function's one query.
            if self.query_id is None:
                self.query_id = str(event.id)

        def onQueryProgress(self, event) -> None:
            p = event.progress
            if self.query_id is not None and str(p.id) == self.query_id:
                self.batches.append((p.batchId, p.numInputRows))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            if self.query_id is not None and str(event.id) == self.query_id:
                self.terminated = True

    rec = _Recorder()
    spark.streams.addListener(rec)
    try:
        schema = spark.read.parquet(frag).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(frag)
        )
        q = (
            stream.groupBy().count()
            .writeStream.format("memory")
            .queryName(f"t15_sink_{tag}")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if rec.query_id != str(q.id):
            # First-started-wins can bind a DIFFERENT stream if one
            # ever starts concurrently in this shared session — then
            # every progress event of OUR query is silently filtered
            # out. Check BEFORE the termination poll: a mis-bound
            # recorder tracks the foreign query's lifecycle, so the
            # poll below would time out with the opaque
            # "never saw termination" error instead of naming the
            # actual cause. The binding is already decidable here
            # (onQueryStarted is delivered synchronously with
            # start()).
            raise RuntimeError(
                f"t15: listener bound query {rec.query_id}, but this "
                f"run's query is {q.id} — another stream started "
                "concurrently in the shared session"
            )
        deadline = _time.monotonic() + 30
        while not rec.terminated and _time.monotonic() < deadline:
            _time.sleep(0.2)
        if not rec.terminated:
            raise RuntimeError(
                f"t15: listener never saw termination; events so far: {rec.batches}"
            )
    finally:
        spark.streams.removeListener(rec)

    nonempty = [(b, n) for b, n in rec.batches if n > 0]
    listener_rows = sum(n for _, n in nonempty)
    sink_rows = spark.table(f"t15_sink_{tag}").collect()[0][0]
    return spark.createDataFrame(
        [
            (
                len(nonempty),
                listener_rows,
                int(sink_rows),
                listener_rows == int(sink_rows) == n_source,
            )
        ],
        "n_nonempty_batches BIGINT, listener_rows BIGINT, "
        "sink_rows BIGINT, telemetry_consistent BOOLEAN",
    )


# --------------------------------------------------------------------------
# T16 — streaming Python Data Source (custom source, exact final state)
# --------------------------------------------------------------------------

T16_BATCHES = 3
T16_ROWS_PER_BATCH = 50

T16_ORACLE = f"""
WITH feed AS (
    SELECT b.b AS batch_id,
           (b.b * {T16_ROWS_PER_BATCH} + i.i) * 7 % 5000 AS value_cents
    FROM generate_series(0, {T16_BATCHES - 1}) b(b),
         generate_series(0, {T16_ROWS_PER_BATCH - 1}) i(i)
)
SELECT batch_id,
       CAST(COUNT(*) AS BIGINT)         AS n_rows,
       CAST(SUM(value_cents) AS BIGINT) AS total_cents
FROM feed
GROUP BY batch_id
ORDER BY batch_id
"""


@query("t16_stream_python_source", oracle=T16_ORACLE, impure=True)
def t16_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T16 — the STREAMING half of the Python Data Source API
    (s35): a custom source advancing its own offset protocol —
    ``initialOffset`` → per-microbatch ``read(start)`` returning
    (rows, next offset) → ``readBetweenOffsets`` for recovery
    replay. This is the surface that turns a REST poller or a
    vendor SDK into a real Structured Streaming source with
    checkpointable offsets, instead of a driver-side loop feeding
    parallelize().

    Determinism protocol (the t14/t15 posture): the source serves
    exactly T16_BATCHES batches of the arithmetic feed and then
    reports an unchanged offset forever; the query runs under a
    tight processing-time trigger into an append-mode memory sink
    and the harness polls for the EXACT total row count before
    stopping (bounded wait, loud failure with progress dump) — so
    the FINAL STATE is pacing-independent even though batch
    boundaries are the scheduler's business, and the oracle replays
    the arithmetic relationally. availableNow cannot drive this
    source to exhaustion in one trigger (measured: it consumes one
    simple-reader batch), which is itself a recorded surface fact.

    Scale: offsets are O(1) driver state; rows materialize on
    executors per batch — the ingest parallelism argument of s35
    applied to continuous arrival."""
    import time as _time

    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class _FeedStream(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"batch": 0}

        def read(self, start):
            b = start["batch"]
            if b >= T16_BATCHES:
                return iter([]), {"batch": b}
            rows = [
                (b, (b * T16_ROWS_PER_BATCH + i) * 7 % 5000)
                for i in range(T16_ROWS_PER_BATCH)
            ]
            return iter(rows), {"batch": b + 1}

        def readBetweenOffsets(self, start, end):
            rows = []
            for b in range(start["batch"], end["batch"]):
                rows.extend(
                    (b, (b * T16_ROWS_PER_BATCH + i) * 7 % 5000)
                    for i in range(T16_ROWS_PER_BATCH)
                )
            return iter(rows)

    class _FeedStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "hetnetdb_feed_stream"

        def schema(self) -> str:
            return "batch_id INT, value_cents BIGINT"

        def simpleStreamReader(self, schema):
            return _FeedStream()

    spark.dataSource.register(_FeedStreamSource)
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    sink = f"t16_sink_{tag}"
    q = (
        spark.readStream.format("hetnetdb_feed_stream")
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        want = T16_BATCHES * T16_ROWS_PER_BATCH
        deadline = _time.monotonic() + 60
        while _time.monotonic() < deadline:
            if spark.table(sink).count() >= want:
                break
            _time.sleep(0.3)
        got = spark.table(sink).count()
        if got != want:
            exc = q.exception()
            if exc is not None:
                raise RuntimeError(
                    f"t16: stream failed with sink at {got}/{want} "
                    f"rows: {exc}"
                ) from exc
            raise RuntimeError(
                f"t16: sink has {got} rows, expected {want}; "
                f"progress: {[p and p['batchId'] for p in q.recentProgress]}"
            )
    finally:
        q.stop()
    return (
        spark.table(sink)
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("value_cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("batch_id")
    )


# --------------------------------------------------------------------------
# T17 — two-stream UNION: the global watermark is the MINIMUM
# --------------------------------------------------------------------------

T17_ORACLE = """
WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
p AS (
    SELECT * FROM events
    WHERE event_type = 'purchase'
      AND ts < (SELECT MAX(ts) - INTERVAL 6 HOUR FROM events)
),
u AS (SELECT * FROM c UNION ALL SELECT * FROM p),
wm AS (
    SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
           - INTERVAL 2 HOUR AS w
)
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM u, wm
WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR
      < w - INTERVAL 1 MINUTE
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("t17_union_watermark_min", oracle=T17_ORACLE, impure=True)
def t17_union_watermark_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17 — unioning two independently-watermarked streams: the
    query's GLOBAL watermark is the MINIMUM across inputs — the
    slowest source gates every append emission, which is the
    operational fact behind "one stalled topic freezes the whole
    union" incidents. The purchases source is truncated 6 hours
    early, so min ≠ max by construction: an engine that (wrongly)
    advanced the union's watermark to the FASTEST source would emit
    ~6 extra hours of click windows and fail the hash — the
    asymmetry is the pin, not a nuisance.

    Mechanics (t04's persisted-watermark protocol): run 1 streams
    both data snapshots (watermark persists at min(max_click,
    max_truncated_purchase) − 2h; append emits nothing against the
    initial watermark); run 2 appends one far-future sentinel row
    per source, whose only job is to trigger a batch that flushes
    every real window below the PERSISTED watermark — the sentinels'
    own windows sit far above it and stay withheld. The final
    filter applies the shared 1-minute boundary margin on both
    engines (t12's rule).

    Scale: union-of-streams state is keyed by (window × type)
    exactly like a single stream; the min-watermark rule is what
    bounds that state globally — it is also why per-source lateness
    SLAs matter at 100 TB: state retention is set by the laggard."""
    import shutil

    (events,) = load_tables(spark, sf_dir, "events")
    # Per-sf scratch tag like every other T-query sink: untagged,
    # interleaved runs at different scale factors would collide on
    # sources, checkpoint, and output.
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(SCRATCH, f"t17_union_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    src_a = os.path.join(base, "clicks")
    src_b = os.path.join(base, "purchases")
    ckpt = os.path.join(base, "ckpt")
    out = os.path.join(base, "out")

    cut = events.agg(
        (F.max("ts") - F.expr("INTERVAL 6 HOURS")).alias("cut")
    ).collect()[0]["cut"]
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(
        (F.col("event_type") == "purchase") & (F.col("ts") < F.lit(cut))
    )
    clicks.coalesce(1).write.mode("overwrite").parquet(src_a)
    purchases.coalesce(1).write.mode("overwrite").parquet(src_b)
    schema = spark.read.parquet(src_a).schema

    def run_available_now() -> None:
        a = (
            spark.readStream.schema(schema).parquet(src_a)
            .withWatermark("ts", "2 hours")
        )
        b = (
            spark.readStream.schema(schema).parquet(src_b)
            .withWatermark("ts", "2 hours")
        )
        agg = (
            a.unionByName(b)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").alias("window_start"), "event_type", "n"
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_available_now()
    # run 2: one far-future sentinel per source triggers the flush
    # batch that emits everything below the persisted min-watermark.
    far = events.agg(
        (F.max("ts") + F.expr("INTERVAL 100 HOURS")).alias("far")
    ).collect()[0]["far"]
    for src, eid in ((src_a, -1), (src_b, -2)):
        one = events.limit(1).select(
            F.lit(eid).cast(schema["event_id"].dataType).alias("event_id"),
            *[
                F.lit(far).cast("timestamp").alias(f.name)
                if f.name == "ts"
                else F.col(f.name)
                for f in schema.fields
                if f.name != "event_id"
            ],
        ).select(*[f.name for f in schema.fields])
        one.coalesce(1).write.mode("append").parquet(src)
    run_available_now()

    wm_row = (
        clicks.agg(F.max("ts").alias("mc"))
        .crossJoin(purchases.agg(F.max("ts").alias("mp")))
        .select(F.least("mc", "mp").alias("m"))
        .collect()[0]
    )
    wm = F.lit(wm_row["m"]) - F.expr("INTERVAL 2 HOURS")
    return (
        spark.read.parquet(out)
        .filter(
            F.col("window_start") + F.expr("INTERVAL 1 HOUR")
            < wm - F.expr("INTERVAL 1 MINUTE")
        )
        .select("window_start", "event_type", F.col("n").cast("bigint").alias("n"))
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# T18 — APPEND-mode session windows: merge across batches + eviction
# --------------------------------------------------------------------------

T18_N_SPLITS = 4

T18_ORACLE = f"""
WITH sessions AS ({T3_ORACLE}),
wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events)
SELECT user_id, session_start, session_end, n_events
FROM sessions, wm
WHERE session_end < w - INTERVAL 1 MINUTE
ORDER BY user_id, session_start
"""


def _time_split_events(events: DataFrame, base: str, n_splits: int) -> None:
    """Write ``events`` as ``n_splits`` strictly time-ordered parquet
    dirs under ``base`` (ts-quantile cuts at whole-second
    granularity, so every split's max ts precedes the next split's
    min ts) with per-split ascending mtimes — the file source orders
    unseen files by modification time, and same-millisecond writes
    could otherwise reorder splits and manufacture late data. Shared
    by t18/t19: time-ordered replay is what makes append-mode
    emission sets exactly SQL-expressible (see t18's docstring)."""
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    quantiles = [float(k + 1) / n_splits for k in range(n_splits - 1)]
    bounds = events.select(
        F.expr(
            "percentile_approx(unix_seconds(ts), "
            f"array({','.join(str(q) for q in quantiles)}), 10000)"
        ).alias("b")
    ).collect()[0]["b"]
    ts_s = F.unix_seconds(F.col("ts"))
    lo = None
    mtime = 1_700_000_000  # fixed epoch base: only the ORDER matters
    for k in range(n_splits):
        cond = F.lit(True) if lo is None else ts_s >= F.lit(lo)
        if k < n_splits - 1:
            cond = cond & (ts_s < F.lit(bounds[k]))
            lo = bounds[k]
        split_dir = os.path.join(base, f"split{k}")
        events.filter(cond).coalesce(1).write.mode("overwrite").parquet(
            split_dir
        )
        for fname in os.listdir(split_dir):
            if fname.endswith(".parquet"):
                p = os.path.join(split_dir, fname)
                os.utime(p, (mtime + k, mtime + k))


@query("t18_session_append", oracle=T18_ORACLE, impure=True)
def t18_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18 — `session_window` in APPEND mode with a 1-hour
    watermark: the SCALE PATH of t03 (whose complete-mode state is
    inherently corpus-sized because its oracle needs every session)
    registered as its own correctness-gated query. Append mode is
    what a 100 TB deployment runs: a session is emitted exactly
    once — when the watermark passes its end — and its state is
    EVICTED, so the store holds only the open tail of the timeline
    (tools/stream_state_slope.py measures that eviction at
    10×/30×; this query pins the emitted SET).

    Mechanics: the fixture is split into {T18_N_SPLITS} time-ordered
    files (strict ts-quantile cuts) replayed one file per micro-batch
    (`maxFilesPerTrigger=1`), with each part file's mtime explicitly
    bumped in split order so the file source's oldest-first ordering
    replays the timeline deterministically — sessions merge across
    batch boundaries and close as the watermark advances. Time-ordered
    replay makes the emitted set EXACTLY SQL-expressible: nothing is
    late (no watermark drops), and an emitted session can never be
    re-extended (a session emits only when end < wm ≤ max(seen ts) -
    1 h, while any future row has ts > max(seen ts), which exceeds
    end by more than the 30-min gap) — so the availableNow run's
    final no-data batch leaves emitted = sessions with
    session_end < max(ts) - 1 h over the WHOLE fixture, and the
    oracle is t03's lag+cumsum sessionization plus that gate, with
    the shared 1-minute boundary margin applied on both engines
    (t12's rule: boundary comparisons belong to neither side)."""
    (events,) = load_tables(spark, sf_dir, "events")
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = _shared_event_splits(events, sf_dir)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base, "*", "*.parquet"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    _run_to_memory(agg, f"t18_sessions_{tag}", "append")

    wm_row = events.agg(F.max("ts").alias("m")).collect()[0]
    gate = _append_gate(wm_row["m"])
    return (
        spark.table(f"t18_sessions_{tag}")
        .filter(F.col("session_end") < gate)
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# T19 — transformWithState event-time TIMERS (Spark 4 arbitrary state)
# --------------------------------------------------------------------------

#: Deliberately t18's oracle verbatim: two UNRELATED mechanisms —
#: the engine's built-in session_window merge state (t18) and this
#: hand-rolled ValueState + event-time-timer state machine — must
#: produce the identical emitted set, which cross-validates both
#: against the one lag+cumsum SQL sessionization.
T19_ORACLE = T18_ORACLE

_GAP_US = 30 * 60 * 1_000_000  # 30-min session gap, µs


@_query_if_protobuf("t19_state_timers", T19_ORACLE)
def t19_state_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19 — event-time TIMERS on `transformWithStateInPandas`
    (Spark 4 arbitrary-stateful API, timeMode="EventTime"): a
    per-user session finalizer holding one ValueState
    (start/last/n, µs longs) and one registered timer at
    last_ts + gap. When the watermark passes the timer the session
    is emitted exactly once and its state CLEARED — the
    register/delete/expire lifecycle t10's timeMode="None" never
    touches. Emission is exactly t18's set (same time-ordered
    4-split replay, same watermark gate, same 1-minute margin), so
    T19_ORACLE is T18_ORACLE verbatim — the engine's session_window
    operator and this state machine certify each other.

    Correctness details the implementation pins:
    - session arithmetic stays in MICROSECONDS (timers are ms, but
      a µs→ms floor on each side of a gap comparison can disagree
      with the oracle's µs interval arithmetic by 1 ms exactly at
      the 30-min boundary);
    - an intra-batch gap closes the session INLINE (timers cannot
      fire mid-batch); the stale timer is deleted and
      handleExpiredTimer double-checks the expiry against the live
      state's own deadline, so an engine that collected the expired
      timer before the input batch deleted it cannot double-emit;
    - timers fire under the engine's watermark, which can lag one
      batch behind max(seen ts) − delay, so emissions may arrive a
      batch late — the final availableNow no-data batch flushes
      everything below the terminal watermark, and the shared gate
      filter makes the compared set exact on both engines.

    Scale posture: state is one fixed-width tuple + one timer per
    OPEN session key — eviction is the timer itself (fire → clear),
    so the store holds only the open tail of the timeline, measured
    at 10×/30× by tools/stream_state_slope.py's session op (same
    keyed-growth law). RocksDB provider scoped exactly like t10."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    _ship_miniproto(spark)

    (events,) = load_tables(spark, sf_dir, "events")
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = _shared_event_splits(events, sf_dir)

    def _timer_ms(last_us: int) -> int:
        # One canonical µs→ms deadline (ceil) shared by register,
        # delete, and the expiry guard — mismatched roundings would
        # orphan timers.
        return -((-(last_us + _GAP_US)) // 1000)

    class SessionFinalizer(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._sess = handle.getValueState(
                "sess", "start_us long, last_us long, n long"
            )
            self._handle = handle

        def _emit(self, key, closed):
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start": [
                        pd.to_datetime(c[0], unit="us") for c in closed
                    ],
                    "session_end": [
                        pd.to_datetime(c[1] + _GAP_US, unit="us")
                        for c in closed
                    ],
                    "n_events": [c[2] for c in closed],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            epoch = pd.Timestamp(0)
            us = pd.Timedelta(microseconds=1)
            ts_all: list[int] = []
            for pdf in rows:
                ts_all.extend(
                    ((pd.to_datetime(pdf["ts"]) - epoch) // us).tolist()
                )
            ts_all.sort()
            st = self._sess.get()
            cur = list(st) if st is not None else None
            if cur is not None:
                self._handle.deleteTimer(_timer_ms(cur[1]))
            closed = []
            for t in ts_all:
                if cur is None:
                    cur = [t, t, 1]
                elif t - cur[1] >= _GAP_US:
                    closed.append(tuple(cur))
                    cur = [t, t, 1]
                else:
                    cur[1] = t
                    cur[2] += 1
            self._sess.update(tuple(cur))
            self._handle.registerTimer(_timer_ms(cur[1]))
            if closed:
                yield self._emit(key, closed)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            st = self._sess.get()
            if st is not None and _timer_ms(st[1]) == int(
                expiredTimerInfo.getExpiryTimeInMs()
            ):
                self._sess.clear()
                yield self._emit(key, [tuple(st)])

        def close(self) -> None:
            pass

    with _rocksdb_provider(spark):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(base, "*", "*.parquet"))
            .withWatermark("ts", "1 hour")
        )
        finalized = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=SessionFinalizer(),
            outputStructType=(
                "user_id long, session_start timestamp, "
                "session_end timestamp, n_events long"
            ),
            outputMode="Append",
            timeMode="EventTime",
        )
        _run_to_memory(finalized, f"t19_sessions_{tag}", "append")

    wm_row = events.agg(F.max("ts").alias("m")).collect()[0]
    gate = _append_gate(wm_row["m"])
    return (
        spark.table(f"t19_sessions_{tag}")
        .filter(F.col("session_end") < gate)
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# T20 — transformWithState ListState: bounded per-key recency buffer
# --------------------------------------------------------------------------

T20_KEEP = 3

T20_ORACLE = f"""
WITH ranked AS (
    SELECT user_id, ts, event_id, COALESCE(value, 0) AS v,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT)  AS lastk_n,
       ROUND(SUM(v), 6)          AS lastk_sum,
       MAX(ts)                   AS lastk_last_ts
FROM ranked
WHERE rn <= {T20_KEEP}
GROUP BY user_id
"""


@_query_if_protobuf("t20_list_state_lastk", T20_ORACLE)
def t20_list_state_lastk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T20 — `ListState` on `transformWithStateInPandas`: a bounded
    per-user recency buffer (last T20_KEEP=3 events by event time),
    completing the Spark-4 state-primitive matrix this suite
    exercises — MapState (t10), ValueState + event-time timers
    (t19), ListState here. The shape is the feature-store staple
    "latest K interactions per user" that a flat tuple can't hold
    and a corpus-wide window-rank recompute shouldn't: the stream
    maintains it incrementally in O(K) state per key.

    Mechanics: t18's time-ordered 4-split replay (one file per
    micro-batch) so the buffer is genuinely carried ACROSS batches;
    each batch merges the persisted buffer with the batch's rows,
    re-sorts by (ts, event_id) — the same total order the oracle's
    ROW_NUMBER uses, so ties cannot diverge — and `put()`s back only
    the top K: the trim IS the state bound. A ValueState
    generation counter stamps every Update-mode emission; the final
    per-user generation (window max) is by construction the state
    after the whole fixture, which the oracle replays as a
    rank-over-everything top-K. Timestamps ride as µs longs inside
    the state tuple (t19's discipline: one integer time base, no
    per-batch float rounding); values are COALESCE'd to 0 before
    entering state so the 6-decimal sum matches the oracle's
    NULL-handling exactly.

    Scale posture: state is EXACTLY K fixed-width tuples + one
    long per user ever seen — independent of events-per-user, the
    property that makes the operator safe under 100 TB replay. The
    state store shards on the same user_id shuffle the grouping
    pays anyway; Update emission is proportional to keys touched
    per batch, not to total state. RocksDB provider scoped like
    t10/t19 (transformWithState requires it)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    _ship_miniproto(spark)

    (events,) = load_tables(spark, sf_dir, "events")
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = _shared_event_splits(events, sf_dir)

    class LastK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._buf = handle.getListState(
                "lastk", "ts_us long, event_id long, v double"
            )
            self._gen = handle.getValueState("gen", "gen long")

        def handleInputRows(self, key, rows, timerValues):
            epoch = pd.Timestamp(0)
            us = pd.Timedelta(microseconds=1)
            entries = [tuple(t) for t in self._buf.get()]
            for pdf in rows:
                ts_us = (pd.to_datetime(pdf["ts"]) - epoch) // us
                vals = pdf["value"].fillna(0.0)
                entries.extend(
                    zip(
                        ts_us.astype("int64").tolist(),
                        pdf["event_id"].astype("int64").tolist(),
                        vals.astype("float64").tolist(),
                    )
                )
            entries.sort(key=lambda e: (e[0], e[1]))
            entries = entries[-T20_KEEP:]
            self._buf.put(entries)
            st = self._gen.get()
            gen = (st[0] if st is not None else 0) + 1
            self._gen.update((gen,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "gen": [gen],
                    "lastk_n": [len(entries)],
                    "lastk_sum": [round(sum(e[2] for e in entries), 6)],
                    "lastk_last_ts": [
                        pd.to_datetime(entries[-1][0], unit="us")
                    ],
                }
            )

        def close(self) -> None:
            pass

    with _rocksdb_provider(spark):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(base, "*", "*.parquet"))
        )
        tracked = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=LastK(),
            outputStructType=(
                "user_id long, gen long, lastk_n long, "
                "lastk_sum double, lastk_last_ts timestamp"
            ),
            outputMode="Update",
            timeMode="None",
        )
        _run_to_memory(tracked, f"t20_lastk_{tag}", "update")

    w = Window.partitionBy("user_id").orderBy(F.col("gen").desc())
    return (
        spark.table(f"t20_lastk_{tag}")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "lastk_n", "lastk_sum", "lastk_last_ts")
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# T21 — dropDuplicatesWithinWatermark: time-bounded keyed dedup state
# --------------------------------------------------------------------------

T21_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT)            AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(SUM(COALESCE(value, 0)), 6)   AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("t21_dedup_within_watermark", oracle=T21_ORACLE, impure=True)
def t21_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21 — `dropDuplicatesWithinWatermark`: the TIME-BOUNDED
    variant of T5's stateful dedup. T5's plain `dropDuplicates`
    keeps every key forever — state grows with distinct keys for
    the life of the query, the one unbounded-state operator in the
    §2.8 family. This operator instead evicts each key once the
    watermark passes its event time + delay, which is the ONLY
    deployable exactly-once-ingest shape at 100 TB: at-least-once
    sources (Kafka redeliveries, file-source retries) duplicate
    within seconds-to-minutes, so a 1-hour retention bound removes
    them all while holding state proportional to one hour of keys,
    not to the corpus.

    Mechanics: a duplicate feed is built by re-emitting every 7th
    event_id 3 minutes later (same payload, later ts — the redelivery
    shape); original + duplicates are replayed through t18's
    time-ordered 4-split protocol so duplicates genuinely arrive in
    later micro-batches with the original's key already in state.
    With a 1-hour delay and 3-minute redelivery skew, every
    duplicate lands while its original's state entry is alive, so
    the emitted set is exactly one row per event_id. Within a batch
    the engine keeps an arbitrary one of the two copies — the copies
    differ only in `ts`, and the certified aggregation (per-type
    count / distinct users / 6-decimal value sum) is
    ts-independent, so the pick cannot leak into the hash. The
    emitted-cardinality assertion (sink rows == fixture rows) is
    what proves the duplicates were dropped at all; the oracle then
    certifies the surviving payload against the undoctored fixture.

    Scale posture: state is keyed by event_id with watermark-bounded
    retention (the slope law tools/stream_state_slope.py measures
    for the dedup op); the dedup shuffles once on the key and
    emits append-mode rows immediately — no terminal barrier."""
    (events,) = load_tables(spark, sf_dir, "events")
    n_expected = events.count()
    dups = events.filter(F.col("event_id") % 7 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 3 MINUTES")
    )
    feed = events.unionByName(dups)

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(SCRATCH, f"t21_splits_{tag}")
    _time_split_events(feed, base, T18_N_SPLITS)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base, "*", "*.parquet"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    sink = f"t21_dedup_{tag}"
    _run_to_memory(stream, sink, "append")

    got = spark.table(sink).count()
    if got != n_expected:
        raise RuntimeError(
            f"t21: emitted {got} rows, expected {n_expected} — "
            "duplicates were not dropped (or originals were)"
        )
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 6).alias(
                "sum_value"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# T22 — state TTL: per-variable retention on transformWithState
# --------------------------------------------------------------------------

T22_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_events_ttl_sum
FROM events
GROUP BY user_id
"""


@_query_if_protobuf("t22_state_ttl", T22_ORACLE)
def t22_state_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T22 — per-state-variable TTL (`ttlDurationMs`, Spark 4,
    timeMode="ProcessingTime"): the RETENTION knob that makes
    arbitrary state deployable without hand-written cleanup. Two
    ValueStates live side by side under the same key: `total`
    (no TTL) accumulates across every batch; `recent` carries
    ttlDurationMs=1, so by the next micro-batch (real seconds
    later) it has ALWAYS expired and reads back None. Each batch
    emits (user_id, rows-this-batch-from-`recent`, running-total) —
    making both lifetimes certifiable from one emission stream:

    - sum of the per-batch `recent` counts == COUNT(*) per user IFF
      the TTL state really was expired at every read (a TTL that
      silently stopped expiring double-counts carried rows and
      inflates the sum);
    - max of `total` == COUNT(*) per user IFF the non-TTL state
      really survived every batch (an over-eager TTL sweeper that
      evicted it undercounts).

    The oracle pins both columns to the same COUNT(*). Determinism:
    TTL is processing-time by definition — the reason it appears
    nowhere else in this suite — but a 1 ms bound against
    micro-batches that are wall-seconds apart is deterministic by
    construction: expiry-by-next-batch is guaranteed, and the
    certified quantities depend on nothing finer. t18's time-ordered
    4-split replay supplies the multi-batch structure.

    Termination: timeMode="ProcessingTime" (which TTL REQUIRES —
    the engine raises INCORRECT_TIME_MODE_TO_ASSIGN_TTL under
    "None") keeps scheduling wake-up batches to evaluate
    processing-time work, so `availableNow` never self-terminates
    once the run spans multiple batches (measured: ~2 s idle epochs,
    indefinitely). The runner therefore polls committed progress
    and stops the query once every input row has been processed —
    the idle epochs carry no input, `handleInputRows` never fires
    for them, and the certified emission set is already complete
    and immutable when the stop lands.

    Scale posture: TTL is enforced inside the state store (RocksDB
    column-family sweep), not by a user-visible scan — retention
    cost stays on the store maintenance path, which is exactly why
    it beats hand-rolled "delete old keys" jobs at 100 TB. State
    here is two fixed-width longs per user either way."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    _ship_miniproto(spark)

    (events,) = load_tables(spark, sf_dir, "events")
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = _shared_event_splits(events, sf_dir)

    class TtlCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._total = handle.getValueState("total", "n long")
            self._recent = handle.getValueState("recent", "n long", ttlDurationMs=1)

        def handleInputRows(self, key, rows, timerValues):
            n_batch = 0
            for pdf in rows:
                n_batch += len(pdf)
            st_recent = self._recent.get()  # None unless TTL failed to expire
            carried = st_recent[0] if st_recent is not None else 0
            st_total = self._total.get()
            total = (st_total[0] if st_total is not None else 0) + n_batch
            self._recent.update((carried + n_batch,))
            self._total.update((total,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "batch_recent": [carried + n_batch],
                    "running_total": [total],
                }
            )

        def close(self) -> None:
            pass

    with _rocksdb_provider(spark):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(base, "*", "*.parquet"))
        )
        tracked = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=TtlCounter(),
            outputStructType=(
                "user_id long, batch_recent long, running_total long"
            ),
            outputMode="Update",
            timeMode="ProcessingTime",
        )
        import time as _time

        n_expected = events.count()
        q = (
            tracked.writeStream.format("memory")
            .queryName(f"t22_ttl_{tag}")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            # numInputRows appears in progress only after the batch
            # COMMITS, so reaching n_expected means every emission is
            # already in the sink. batchId-keyed so re-reads of the
            # rolling recentProgress window never double-count.
            seen: dict = {}
            deadline = _time.monotonic() + 180
            while _time.monotonic() < deadline:
                for p in q.recentProgress:
                    if p is not None:
                        seen[p["batchId"]] = p["numInputRows"]
                if sum(seen.values()) >= n_expected or not q.isActive:
                    break
                _time.sleep(0.5)
            if sum(seen.values()) < n_expected:
                # If the query DIED (state-server/protobuf failure),
                # the real cause is q.exception(), not the row-count
                # shortfall it produced — surface it first (ADVICE r9).
                exc = q.exception()
                if exc is not None:
                    raise RuntimeError(
                        f"t22: stream failed after committing "
                        f"{sum(seen.values())}/{n_expected} input rows: "
                        f"{exc}"
                    ) from exc
                raise RuntimeError(
                    f"t22: committed {sum(seen.values())} input rows, "
                    f"expected {n_expected}; "
                    f"batches: {sorted(seen)}"
                )
        finally:
            q.stop()

    return (
        spark.table(f"t22_ttl_{tag}")
        .groupBy("user_id")
        .agg(
            F.max("running_total").cast("bigint").alias("n_events"),
            F.sum("batch_recent").cast("bigint").alias("n_events_ttl_sum"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# T23 — initialState: bootstrap transformWithState from a batch snapshot
# --------------------------------------------------------------------------

T23_ORACLE = """
WITH cut AS (
    SELECT (CAST(FLOOR(epoch(MIN(ts))) AS BIGINT)
            + CAST(FLOOR(epoch(MAX(ts))) AS BIGINT)) // 2 AS c
    FROM events
),
streamers AS (
    SELECT DISTINCT user_id
    FROM events, cut
    WHERE CAST(FLOOR(epoch(ts)) AS BIGINT) >= c
)
SELECT e.user_id,
       CAST(COUNT(*) AS BIGINT)           AS n_events,
       ROUND(SUM(COALESCE(e.value, 0)), 6) AS sum_value
FROM events e JOIN streamers s USING (user_id)
GROUP BY e.user_id
"""


@_query_if_protobuf("t23_initial_state", T23_ORACLE)
def t23_initial_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T23 — `initialState` + `handleInitialState` on
    `transformWithStateInPandas`: bootstrap a stateful stream from a
    BATCH snapshot — the migration shape every long-lived pipeline
    eventually needs (yesterday's 100 TB batch aggregate becomes
    today's streaming state; reprocessing history through the stream
    would cost days and double-count retention windows).

    The fixture is cut at the integer-seconds midpoint of its time
    span: the FIRST half is aggregated in batch (per-user count +
    value sum) and handed to the operator as `initialState`; only
    the SECOND half is streamed (t18's time-ordered 4-split replay).
    `handleInitialState` seeds a per-user ValueState from the
    snapshot row; `handleInputRows` accumulates streamed rows on
    top and emits the running total. The oracle pins the final
    per-user totals to COUNT(*)/SUM over the WHOLE fixture — an
    engine that dropped or ignored the initial state reports only
    second-half counts and fails the hash; one that double-applied
    it overshoots.

    Scope pin: keys with initial state but NO streamed rows never
    emit (`handleInitialState` cannot yield output — its return is
    discarded by the runtime), so the certified set is users with at
    least one second-half event; the oracle restricts to the same
    set with a `streamers` semi-join computed by identical
    integer-seconds arithmetic (FLOOR(epoch) both sides: DuckDB's
    double→BIGINT cast ROUNDS, Spark's unix_seconds truncates —
    floor first makes the cut identical).

    Scale posture: the snapshot arrives as a grouped DataFrame on
    the SAME user_id shuffle as the stream, so seeding is a co-
    partitioned join, not a broadcast or driver loop; state stays
    one fixed-width tuple per user. RocksDB scoped like t10."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    _ship_miniproto(spark)

    (events,) = load_tables(spark, sf_dir, "events")
    ts_s = F.unix_seconds(F.col("ts"))
    lohi = events.agg(
        F.min(ts_s).alias("lo"), F.max(ts_s).alias("hi")
    ).collect()[0]
    cut = (lohi["lo"] + lohi["hi"]) // 2

    first = events.filter(ts_s < F.lit(cut))
    second = events.filter(ts_s >= F.lit(cut))
    snapshot = first.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("s0"),
    )

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(SCRATCH, f"t23_splits_{tag}")
    _time_split_events(second, base, T18_N_SPLITS)

    class Bootstrapped(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._tot = handle.getValueState("tot", "n long, s double")

        def handleInitialState(self, key, initialState, timerValues) -> None:
            self._tot.update(
                (
                    int(initialState["n0"].sum()),
                    float(initialState["s0"].sum()),
                )
            )

        def handleInputRows(self, key, rows, timerValues):
            n_batch = 0
            s_batch = 0.0
            for pdf in rows:
                n_batch += len(pdf)
                s_batch += float(pdf["value"].fillna(0.0).sum())
            st = self._tot.get()
            n = (st[0] if st is not None else 0) + n_batch
            s = (st[1] if st is not None else 0.0) + s_batch
            self._tot.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_total": [n], "sum_total": [s]}
            )

        def close(self) -> None:
            pass

    with _rocksdb_provider(spark):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(base, "*", "*.parquet"))
        )
        tracked = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=Bootstrapped(),
            outputStructType="user_id long, n_total long, sum_total double",
            outputMode="Update",
            timeMode="None",
            initialState=snapshot.groupBy("user_id"),
        )
        _run_to_memory(tracked, f"t23_boot_{tag}", "update")

    # n_total is strictly increasing per key, so the struct max IS
    # the final emission; round the float sum exactly once, here.
    return (
        spark.table(f"t23_boot_{tag}")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_total", "sum_total")).alias("m"))
        .select(
            "user_id",
            F.col("m.n_total").cast("bigint").alias("n_events"),
            F.round(F.col("m.sum_total"), 6).alias("sum_value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# T24 — chained stateful operators: dedup state feeding window state
# --------------------------------------------------------------------------

T24_ORACLE = """
WITH feed_max AS (
    SELECT GREATEST(
        (SELECT MAX(ts) FROM events),
        (SELECT MAX(ts + INTERVAL 3 MINUTE) FROM events
         WHERE event_id % 7 = 0 AND minute(ts) < 50)
    ) AS m
),
hourly AS (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
)
SELECT h.window_start, h.event_type, h.n
FROM hourly h, feed_max
WHERE h.window_start + INTERVAL 1 HOUR
      < feed_max.m - INTERVAL 1 HOUR - INTERVAL 1 MINUTE
ORDER BY 1, 2
"""


@query("t24_chained_stateful", oracle=T24_ORACLE, impure=True)
def t24_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T24 — MULTIPLE stateful operators in one streaming query
    (Spark 3.5+ pipeline rule): `dropDuplicatesWithinWatermark`
    keyed on event_id feeding a tumbling 1-hour append-mode window
    aggregation, each holding its own watermark-bounded state store.
    This is the canonical exactly-once ingest topology — dedup the
    at-least-once delivery, THEN aggregate — and it is only correct
    if the engine plans per-operator watermark propagation (the
    window operator must see the dedup's OUTPUT watermark, and late
    filtering must happen per stage, not once globally).

    Duplicate feed: t21's re-emission (every 7th event_id, +3 min)
    RESTRICTED to events at minute < 50, so an engine keeping the
    duplicate instead of the original (the legal intra-batch choice)
    can never flip the event's hour bucket — the kept-copy ambiguity
    is provably invisible to the certified window counts. The
    watermark gate replays the feed's own max event time (original
    vs shifted, GREATEST on both engines) minus the 1-hour delay,
    with t12's shared 1-minute boundary margin; time-ordered 4-split
    replay means nothing is late, so the availableNow run's final
    no-data batch flushes exactly the windows below the terminal
    watermark and the emitted set is SQL-exact.

    Scale posture: two state stores, both watermark-evicted — dedup
    state is ~1 hour of event_ids, window state is open windows ×
    event types; both shard on their own keys and were slope-
    measured at 10×/30×/100× by tools/stream_state_slope.py. No
    corpus-sized state anywhere in the chain."""
    (events,) = load_tables(spark, sf_dir, "events")
    dups = events.filter(
        (F.col("event_id") % 7 == 0) & (F.minute("ts") < 50)
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 3 MINUTES"))
    feed = events.unionByName(dups)

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(SCRATCH, f"t24_splits_{tag}")
    _time_split_events(feed, base, T18_N_SPLITS)

    agg = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base, "*", "*.parquet"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    sink = f"t24_chain_{tag}"
    _run_to_memory(agg, sink, "append")

    wm_row = feed.agg(F.max("ts").alias("m")).collect()[0]
    gate = _append_gate(wm_row["m"])
    return (
        spark.table(sink)
        .filter(F.col("window_start") + F.expr("INTERVAL 1 HOUR") < gate)
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# T25 — State Data Source: read a checkpoint's state store in batch
# --------------------------------------------------------------------------

T25_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
"""


@query("t25_state_reader", oracle=T25_ORACLE, impure=True)
def t25_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T25 — the State Data Source reader (Spark 4,
    ``spark.read.format("statestore")`` / ``"state-metadata"``): a
    stopped streaming checkpoint's state store opened as an ordinary
    batch DataFrame. This is the OPERABILITY half of stateful
    streaming — debugging a wedged production job, auditing what a
    dedup or session operator is actually holding, bootstrapping a
    replacement query from a predecessor's state (t23's
    initialState is the write side of that migration; this is the
    read side) — without replaying a byte of input.

    A complete-mode per-user count runs to completion against a
    checkpoint; the certified result is then read FROM THE
    CHECKPOINT'S STATE STORE, not from the query's sink — key
    struct → user_id, value struct → count — and must equal the
    batch COUNT(*) per user. The `state-metadata` source is probed
    first and cross-checked (exactly one stateful operator, with
    the expected store name and partition count): a reader that
    enumerated the wrong operator or a stale batch would either
    fail the probe or fail the hash.

    Scale posture: the reader exposes `partition_id` and scans
    store shards in parallel — inspecting a 1000-partition
    production checkpoint is itself a distributed job, not a
    driver-side walk. Nothing here holds state beyond the keys the
    operator already held."""
    import shutil

    (events,) = load_tables(spark, sf_dir, "events")
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(SCRATCH, f"t25_state_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    events.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName(f"t25_run_{tag}")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    meta = spark.read.format("state-metadata").load(ckpt).collect()
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    stores = [
        (r["operatorId"], r["stateStoreName"], r["numPartitions"]) for r in meta
    ]
    if stores != [(0, "default", n_shuffle)]:
        raise RuntimeError(f"t25: unexpected state metadata {stores}")

    return (
        spark.read.format("statestore")
        .option("path", ckpt)
        .load()
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.count").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# T27 — Python DataSource STREAM reader (custom micro-batch source)
# --------------------------------------------------------------------------

T27_TOTAL = 120
T27_BATCH = 40

T27_ORACLE = f"""
WITH feed AS (SELECT UNNEST(range(0, {T27_TOTAL})) AS seq)
SELECT CAST(seq % 5 AS BIGINT)                        AS bucket,
       CAST(COUNT(*) AS BIGINT)                       AS n,
       CAST(SUM(seq * 37 % 100000) AS BIGINT)         AS cents
FROM feed
GROUP BY bucket
ORDER BY bucket
"""


@query("t27_python_stream_source", oracle=T27_ORACLE, impure=True)
def t27_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T27 — the STREAMING third of the Python DataSource API
    (s39: batch read + pushdown; s44: batch write + 2-phase commit;
    this: `SimpleDataSourceStreamReader` driving real micro-batch
    execution). The source owns its offset log: `initialOffset`
    starts the cursor, each `read(start)` hands Spark one bounded
    batch plus the NEXT offset, and `readBetweenOffsets` replays a
    committed range verbatim on recovery — the exactly-once
    contract every queue connector (Kafka, Kinesis, a REST cursor)
    implements; here the feed is a deterministic integer sequence
    so replay equality is certifiable by value. Three 40-row
    batches drain through the aggregation, then an empty read
    parks the query and `processAllAvailable` returns — the
    bounded-drain idiom the rest of the T family runs via
    availableNow (not yet supported for Python stream sources in
    4.1, so the drain gate is explicit).

    The streaming aggregate (complete-mode memory sink, grouped on
    seq % 5) must then equal the RELATIONAL aggregate over the same
    range — the T family's batch-parity discipline applied to a
    source whose every row crossed the custom-source offset
    protocol. Registered impure: datasource registration, stream
    run, checkpoint scratch."""
    import shutil

    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class _SeqReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"seq": 0}

        def read(self, start):
            s = int(start["seq"])
            e = min(s + T27_BATCH, T27_TOTAL)
            rows = [(i, i * 37 % 100000) for i in range(s, e)]
            return (iter(rows), {"seq": e})

        def readBetweenOffsets(self, start, end):
            return iter(
                (i, i * 37 % 100000)
                for i in range(int(start["seq"]), int(end["seq"]))
            )

    class _SeqFeed(DataSource):
        @classmethod
        def name(cls) -> str:
            return "hetnetdb_stream_feed"

        def schema(self) -> str:
            return "seq BIGINT, value_cents BIGINT"

        def simpleStreamReader(self, schema):
            return _SeqReader()

    spark.dataSource.register(_SeqFeed)
    ckpt = os.path.join(SCRATCH, "t27_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)

    feed = spark.readStream.format("hetnetdb_stream_feed").load()
    agg = (
        feed.groupBy((F.col("seq") % 5).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_cents").cast("bigint").alias("cents"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t27_stream_agg")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table("t27_stream_agg").orderBy("bucket")


# --------------------------------------------------------------------------
# T28 — three-stream chained join (r13 verdict "what's missing" item 3)
# --------------------------------------------------------------------------

T28_ORACLE = """
WITH s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
SELECT CAST(COUNT(*) AS BIGINT)                 AS n_triples,
       CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users
FROM s
JOIN c ON c.user_id = s.user_id
      AND c.ts >= s.ts AND c.ts <= s.ts + INTERVAL 24 HOUR
JOIN p ON p.user_id = s.user_id
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@query("t28_three_stream_join", oracle=T28_ORACLE, impure=True)
def t28_three_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T28 (beyond contract; r13 verdict "what's missing" item 3) —
    the full funnel as a CHAINED stream-stream join: signup → click
    (within 24 h) → purchase (within 1 h of the click), three
    watermarked streams, two stateful join operators back to back.
    t07/t12/t17 certified the pairwise machinery; this pins the
    chained case, where the FIRST join's append-mode output becomes a
    streaming input to the second and Spark must propagate the state
    watermark through the intermediate relation (the part that has no
    pairwise analogue — a wrong propagation either drops matches at
    the second join or leaks its buffer forever).

    Each input carries a 2-hour watermark and both joins carry
    explicit event-time range bounds, so both state stores evict:
    the first join keeps ≤ watermark+24 h of signups / ≤ watermark of
    clicks, the second ≤ watermark+1 h of joined pairs / ≤ watermark
    of purchases — bounded state at any stream length, the only
    posture that survives an unbounded production stream.
    availableNow over the fixed file set makes the emitted append
    rows exactly the batch three-way theta join — the oracle."""
    path = table_path(sf_dir, "events")

    def leg(event_type: str, prefix: str) -> DataFrame:
        return (
            _events_stream(spark, path)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "2 hours")
        )

    signups, clicks, purchases = leg("signup", "s"), leg("click", "c"), leg("purchase", "p")
    # The intermediate relation must carry exactly ONE event-time
    # column into the second stateful join (Spark 4's
    # more-than-one-event-time-column rule): s_ts has done its work
    # in the first join's range bound, so it is dropped and c_ts
    # alone drives the second join's state watermark.
    funnel = signups.join(
        clicks,
        (F.col("c_user") == F.col("s_user"))
        & (F.col("c_ts") >= F.col("s_ts"))
        & (F.col("c_ts") <= F.col("s_ts") + F.expr("INTERVAL 24 HOURS")),
    ).drop("s_ts").join(
        purchases,
        (F.col("p_user") == F.col("s_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    _run_to_memory(funnel, "t28_triples", "append")
    emitted = spark.table("t28_triples")
    return emitted.agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("s_user").alias("n_users"),
    )


# --------------------------------------------------------------------------
# T29 — streaming CDC merge apply (foreachBatch copy-on-write upsert)
# --------------------------------------------------------------------------

T29_ORACLE = """
WITH t AS (
    SELECT o_orderkey AS k, o_totalprice AS price,
           o_orderpriority AS prio
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

T29_FRAGMENTS = 4
T29_FILES_PER_TRIGGER = 2


@query("t29_stream_cdc_merge", oracle=T29_ORACLE, impure=True)
def t29_stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T29 (r15) — s46's MERGE INTO applied from a STREAM: the CDC
    feed lands as parquet files, ``readStream`` paces them with
    ``maxFilesPerTrigger`` under availableNow (t11's back-pressure
    shape, here 4 fragments / 2 per trigger = 2 micro-batches), and
    a ``foreachBatch`` sink runs one copy-on-write merge per
    micro-batch — the Delta/Iceberg "streaming upsert" deployment
    shape (foreachBatch + MERGE is the documented pattern for
    streaming CDC apply on every lakehouse format).

    Each micro-batch merge is the s46 kernel: full outer join of
    the CURRENT generation with the batch on the business key,
    clause classification (conditional UPDATE, DELETE,
    NOT-MATCHED INSERT, absent-key no-op), survivors written as the
    NEXT generation — rows untouched by this batch carry their
    existing action tag forward, so after the feed drains each key
    wears the action of the one op that touched it (the CDC op
    groups are key-disjoint — merge_cdc_batch in sources/io.py —
    which is precisely why the final store state is independent of
    how the feed is batched). The oracle is therefore the BATCH
    merge summary (s46's), asserting the streaming-apply/batch-merge
    convergence contract the same way t01 asserts tumbling parity.

    Scale posture: per micro-batch ONE key-equi join (broadcast
    while the batch is small — AQE decides; bucketed gen layouts
    make it shuffle-free) and one survivors write; state lives in
    the store generations, not the streaming state manager, so
    checkpoint size is O(file offsets). The generation chain is the
    time-travel record s13/s21/s47 read.
    """
    import shutil

    from hetnetdb_spark.sources.io import merge_cdc_batch

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    land = os.path.join(SCRATCH, f"t29_cdc_{tag}")
    store = os.path.join(SCRATCH, f"t29_store_{tag}")
    for p in (land, store):
        shutil.rmtree(p, ignore_errors=True)

    (orders,) = load_tables(spark, sf_dir, "orders")
    orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("prio"),
        F.lit("carried").alias("action"),
    ).write.mode("overwrite").parquet(os.path.join(store, "gen0"))

    merge_cdc_batch(orders).repartition(T29_FRAGMENTS).write.mode(
        "overwrite"
    ).parquet(land)

    schema = spark.read.parquet(land).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", T29_FILES_PER_TRIGGER)
        .parquet(land)
    )

    gen = {"n": 0}

    def apply_batch(bdf: DataFrame, _bid: int) -> None:
        cur = spark.read.parquet(os.path.join(store, f"gen{gen['n']}"))
        j = cur.join(bdf, "k", "full_outer")
        # Presence flag is the store's own action tag (never null for
        # present rows) — NOT prio, which is null for rows inserted
        # by an earlier micro-batch.
        matched = F.col("action").isNotNull()
        is_u = F.col("op") == "U"
        action = (
            F.when(matched & (F.col("op") == "D"), "deleted")
            .when(matched & is_u & (F.col("prio") != "1-URGENT"), "updated")
            .when(matched & is_u, "match_skipped")
            .when(matched, F.col("action"))
            .when(F.col("op") == "I", "inserted")
            .otherwise("noop_delete")
        )
        price = (
            F.when(
                matched & is_u & (F.col("prio") != "1-URGENT"),
                F.col("new_price"),
            )
            .when(matched, F.col("price"))
            .when(F.col("op") == "I", F.col("new_price"))
        )
        nxt = (
            j.select(
                "k",
                action.alias("action"),
                price.alias("price"),
                "prio",
            )
            .filter(~F.col("action").isin("deleted", "noop_delete"))
        )
        nxt.write.mode("overwrite").parquet(
            os.path.join(store, f"gen{gen['n'] + 1}")
        )
        gen["n"] += 1

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(store, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from hetnetdb_spark.expr import r6

    return (
        spark.read.parquet(os.path.join(store, f"gen{gen['n']}"))
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
