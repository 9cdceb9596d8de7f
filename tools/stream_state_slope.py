"""Streaming-state slope program — state-store growth and eviction
measurements for the stateful streaming family (round 9; closes the
last slope gap named by the round-7/8 verdicts: §2.8 was the one
family whose 100 TB posture was argued from design, not measured).

What is measured, per growth factor F (default 1, 10, 30):

- **session** — the scale-path form of ``t03_stream_session_30m``:
  ``session_window`` (30-min gap) per user with a 1-hour watermark in
  APPEND mode, so closed sessions are *emitted and evicted* (the
  registered t03 uses complete mode deliberately — its oracle needs
  every session; complete mode's state is inherently corpus-sized,
  so the scale path is the watermarked append form measured here).
- **dedup** — the scale-path form of ``t05_stream_dedup``:
  ``dropDuplicatesWithinWatermark`` with a 1-hour delay (the
  registered t05 pins a 48-h delay so NOTHING evicts and the oracle
  equals batch COUNT(DISTINCT); here the delay is realistic so key
  state is evicted as the watermark passes).
- **join** — exactly ``t07_stream_stream_join``'s click→purchase
  attribution (2-h watermarks, 1-h range bound), whose registered
  form already carries the eviction-enabling conditions.

Growth law (same philosophy as tools/llm_slope.py): more USERS at
the same per-user event structure, not replicated keys — replica i
shifts user_id and event_id by i·ID_STEP and keeps timestamps, so
state-store cardinality grows honestly ∝ F while the event timeline
(and therefore watermark progression) is identical at every factor.
Every event is written TWICE per split (dup mass for the dedup op;
a constant ×2 on the others that cancels in slopes).

The corpus is split into N_SPLITS time-ordered parquet files and
streamed with ``maxFilesPerTrigger=1`` under an availableNow
trigger, so each run is N_SPLITS micro-batches with an advancing
watermark — the state store grows, emits, and EVICTS across batches
exactly as a long-running deployment would. Metrics come from the
engine's own instrumentation (StreamingQueryProgress.stateOperators):
peak/final state rows, peak state bytes, watermark-dropped rows.

What "healthy at 100 TB" looks like in the output:
- peak_state_rows grows ≈ linearly in F (key cardinality), never
  superlinearly;
- final_state_rows ≪ peak_state_rows (eviction works: only the
  un-closed tail of the timeline is still buffered at the end);
- wall grows ≈ linearly in F.

Grown corpora are cached under the shared ``.scratch/`` root with
_SUCCESS markers (NOT the pid-keyed root — rebuilding per process
would defeat the cache; see hetnetdb_spark/scratch.py). Checkpoints
are per-process and per-run under the pid-keyed root.

Usage:  python tools/stream_state_slope.py          # factors 1,10,30
        SPARK_GRAFT_STATE_FACTORS=1,10 python tools/stream_state_slope.py
Prints one JSON line per (op, factor) plus a summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import grown  # tools/grown.py
from hetnetdb_spark.scratch import SCRATCH as PID_SCRATCH
from hetnetdb_spark.session import get_spark

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTORS = [
    int(s)
    for s in os.environ.get("SPARK_GRAFT_STATE_FACTORS", "1,10,30").split(",")
    if s
]
N_SPLITS = 8
ID_STEP = 100_000_000


def _complete(dst: str) -> bool:
    return os.path.exists(os.path.join(dst, "_SUCCESS"))


def _pin_split_mtimes(corpus: str) -> None:
    """Re-assert ascending per-split mtimes (idempotent). The file
    source orders unseen files by mtime; two small splits finishing
    within one mtime granule would replay out of order, jump the
    watermark, and silently drop the earlier split as late. Applied
    on the cache-hit path too, so corpora built before this fix are
    repaired instead of staying silently hazardous."""
    for k in range(N_SPLITS):
        split_dir = os.path.join(corpus, f"split{k}")
        if not os.path.isdir(split_dir):
            continue
        mtime = 1_700_000_000 + k
        for fname in os.listdir(split_dir):
            if fname.endswith(".parquet"):
                os.utime(os.path.join(split_dir, fname), (mtime, mtime))


def corpus_dir(base: str, factor: int) -> str:
    """Where ``build`` keeps the corpus grown from ``base``: keyed by
    the base's real path, as ``grown`` keys its corpora, so a corpus
    grown from one base never satisfies a request for another, even
    one with the same directory name."""
    return grown.corpus_dir(base, factor, "stream_slope")


def build(spark, factor: int) -> str:
    """Materialize the shifted-replica events corpus for ``factor``:
    N_SPLITS time-ordered dirs of one parquet file each, every event
    present twice, user/event ids disjoint across replicas. Returns
    the corpus dir. Splits are written SEQUENTIALLY so their file
    modification times ascend with their time ranges and the file
    stream source (oldest-first) replays the timeline in order."""
    out = corpus_dir(BASE, factor)
    if _complete(out):
        _pin_split_mtimes(out)  # pre-fix caches carry unpinned mtimes
        return out
    os.makedirs(out, exist_ok=True)
    events = spark.read.parquet(os.path.join(BASE, "events.parquet"))
    copies = []
    for i in range(factor):
        c = events.withColumn(
            "user_id", F.col("user_id") + F.lit(i * ID_STEP)
        ).withColumn("event_id", F.col("event_id") + F.lit(i * ID_STEP))
        copies.append(c)
    grown = copies[0]
    for c in copies[1:]:
        grown = grown.unionByName(c)
    grown = grown.unionByName(grown)  # dup mass for the dedup op
    # ntile-free octile cut: fixture spans Jan 2024, so cut on epoch
    # seconds quantiles computed once (cheap at these sizes).
    bounds = list(
        events.select(
            F.expr(
                "percentile_approx(unix_seconds(cast(ts as timestamp)), "
                f"array({','.join(str((k + 1) / N_SPLITS) for k in range(N_SPLITS - 1))}), 10000)"
            )
        ).first()[0]
    )
    ts_s = F.unix_seconds(F.col("ts").cast("timestamp"))
    lo = None
    for k in range(N_SPLITS):
        cond = F.lit(True) if lo is None else ts_s >= F.lit(lo)
        if k < N_SPLITS - 1:
            cond = cond & (ts_s < F.lit(bounds[k]))
            lo = bounds[k]
        grown.filter(cond).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, f"split{k}")
        )
    _pin_split_mtimes(out)
    with open(os.path.join(out, "_SUCCESS"), "w", encoding="utf-8"):
        pass
    return out


def _stream(spark, corpus: str):
    """File stream over the split corpus, one file per micro-batch,
    ts normalized to session-timezone timestamp (UTC-pinned)."""
    schema = spark.read.parquet(os.path.join(corpus, "split0")).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(corpus, "*", "*.parquet"))
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _run(df, tag: str) -> dict:
    """Run to a noop sink under availableNow; harvest wall time and
    state-operator metrics from the engine's progress reports."""
    ckpt = os.path.join(PID_SCRATCH, "state_slope", f"{tag}-{uuid.uuid4().hex[:8]}")
    t0 = time.perf_counter()
    q = (
        df.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = round(time.perf_counter() - t0, 3)
    peak_rows = final_rows = peak_bytes = dropped = inputs = batches = 0
    per_op_peak: dict = {}
    for p in q.recentProgress:
        if isinstance(p, str):
            p = json.loads(p)
        if p.get("numInputRows", 0) or p.get("stateOperators"):
            batches += 1
        inputs += int(p.get("numInputRows", 0))
        ops = p.get("stateOperators") or []
        rows = sum(int(o.get("numRowsTotal", 0)) for o in ops)
        peak_rows = max(peak_rows, rows)
        final_rows = rows if ops else final_rows
        peak_bytes = max(
            peak_bytes, sum(int(o.get("memoryUsedBytes", 0)) for o in ops)
        )
        dropped += sum(int(o.get("numRowsDroppedByWatermark", 0)) for o in ops)
        for idx, o in enumerate(ops):
            oname = o.get("operatorName") or f"op{idx}"
            per_op_peak[oname] = max(
                per_op_peak.get(oname, 0), int(o.get("numRowsTotal", 0))
            )
    out = {
        "wall_s": wall,
        "input_rows": inputs,
        "batches": batches,
        "peak_state_rows": peak_rows,
        "final_state_rows": final_rows,
        "peak_state_bytes": peak_bytes,
        "dropped_by_watermark": dropped,
    }
    if len(per_op_peak) > 1:
        # Multi-operator (chained) queries: the stores grow on
        # DIFFERENT keys (dedup ∝ users×rate, window ∝ open windows ×
        # event types — constant in F), so the per-operator split is
        # the evidence that no stage is corpus-sized.
        out["per_operator_peak_rows"] = per_op_peak
    return out


def session_op(spark, corpus: str) -> dict:
    stream = _stream(spark, corpus)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _run(agg, "session")


def dedup_op(spark, corpus: str) -> dict:
    stream = _stream(spark, corpus)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _run(deduped, "dedup")


def join_op(spark, corpus: str) -> dict:
    clicks = (
        _stream(spark, corpus)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        _stream(spark, corpus)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    pairs = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return _run(pairs, "join")


def tws_op(spark, corpus: str) -> dict:
    """transformWithStateInPandas ListState — the round-9 arbitrary-
    state path under the same growth law: a bounded last-3 recency
    buffer per user (t20's operator). State must be EXACTLY
    K_KEEP + 1 rows per user (3 list entries + 1 generation counter
    in RocksDB terms the engine reports as numRowsTotal per column
    family; what matters for the slope is linearity in users, with
    eviction not applicable — the bound IS the trim). Registered
    only when a protobuf runtime exists (miniproto qualifies)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from hetnetdb_spark.streaming.queries import (
        _protobuf_available,
        _rocksdb_provider,
        _ship_miniproto,
    )

    if not _protobuf_available():
        return {"skipped": "no protobuf runtime"}
    _ship_miniproto(spark)

    K_KEEP = 3

    class LastK(StatefulProcessor):
        def init(self, handle):
            self._buf = handle.getListState(
                "lastk", "ts_us long, event_id long"
            )

        def handleInputRows(self, key, rows, timerValues):
            epoch = pd.Timestamp(0)
            us = pd.Timedelta(microseconds=1)
            entries = [tuple(t) for t in self._buf.get()]
            for pdf in rows:
                ts_us = (pd.to_datetime(pdf["ts"]) - epoch) // us
                entries.extend(
                    zip(
                        ts_us.astype("int64").tolist(),
                        pdf["event_id"].astype("int64").tolist(),
                    )
                )
            entries.sort()
            entries = entries[-K_KEEP:]
            self._buf.put(entries)
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [len(entries)]}
            )

        def close(self):
            pass

    stream = _stream(spark, corpus)
    with _rocksdb_provider(spark):
        tracked = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=LastK(),
            outputStructType="user_id long, n long",
            outputMode="Update",
            timeMode="None",
        )
        return _run(tracked, "tws")


def chained_op(spark, corpus: str) -> dict:
    """t24_chained_stateful's exact topology under the growth law:
    `dropDuplicatesWithinWatermark` on event_id feeding a tumbling
    1-hour append-mode window agg — TWO state stores in one query,
    growing on DIFFERENT keys. Expected shape: dedup state ∝ F (the
    corpus carries every event twice, ids disjoint per replica);
    window state ∝ open windows × event types, CONSTANT in F (the
    timeline is identical at every factor). The summed slope is
    therefore dedup-dominated ≈ linear, and per_operator_peak_rows
    shows the window store flat — the direct evidence behind t24's
    'no corpus-sized state anywhere in the chain' claim."""
    stream = _stream(spark, corpus)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _run(agg, "chained")


OPS = {
    "session": session_op,
    "dedup": dedup_op,
    "join": join_op,
    "tws": tws_op,
    "chained": chained_op,
}


def main() -> None:
    spark = get_spark("stream-state-slope")
    spark.sparkContext.setLogLevel("ERROR")
    only = {
        s
        for s in os.environ.get("SPARK_GRAFT_STATE_OPS", "").split(",")
        if s
    }
    ops = {k: v for k, v in OPS.items() if not only or k in only}
    rows = []
    for factor in FACTORS:
        corpus = build(spark, factor)
        for op, fn in ops.items():
            r = {"op": op, "factor": factor, **fn(spark, corpus)}
            rows.append(r)
            print(json.dumps(r), flush=True)
    # Slope summary: per op, wall and peak-state ratios between the
    # largest and smallest factor, normalized by the factor ratio
    # (1.0 = exactly linear; <1 sublinear).
    if len(FACTORS) > 1:
        f_lo, f_hi = min(FACTORS), max(FACTORS)
        for op in ops:
            lo = next(
                (r for r in rows if r["op"] == op and r["factor"] == f_lo),
                None,
            )
            hi = next(
                (r for r in rows if r["op"] == op and r["factor"] == f_hi),
                None,
            )
            if not lo or not hi or "wall_s" not in lo or "wall_s" not in hi:
                continue  # op skipped (e.g. tws without a protobuf runtime)
            fr = f_hi / f_lo
            print(
                json.dumps(
                    {
                        "summary": op,
                        "factor_ratio": fr,
                        "wall_slope": round(hi["wall_s"] / lo["wall_s"] / fr, 3),
                        "state_rows_slope": round(
                            hi["peak_state_rows"]
                            / max(lo["peak_state_rows"], 1)
                            / fr,
                            3,
                        ),
                        "evicts": hi["final_state_rows"] < hi["peak_state_rows"],
                    }
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
