"""Empirical check of j15's documented skew fallback: per-key
pandas ``merge_asof`` via ``cogroup().applyInPandas`` vs the
range-join + row_number formulation.

j09/j15's docstrings claim that for heavily skewed users the
alternative to the bounded range join is a per-key merge_asof at
the cost of an Arrow crossing. This probe makes that claim
load-bearing: both formulations run at 1x (sf0.1) and 10x (the
tools/grown.py verbatim replica), results are asserted IDENTICAL,
and both are timed — so the crossover economics (range join wins at
uniform density, merge_asof caps the per-key intermediate at skew)
are measured, not asserted.

Run: python tools/asof_fallback_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hetnetdb_spark import registry
from hetnetdb_spark.catalog import load_tables
from hetnetdb_spark.session import get_spark

TOLERANCE_MS = 3_600_000  # j15's 1-hour attribution window

OUT_SCHEMA = "p_event_id bigint, asof_click_id bigint, staleness_ms bigint"


def _merge_asof_group(key, p: pd.DataFrame, c: pd.DataFrame) -> pd.DataFrame:
    """Per-user merge_asof: purchases left-joined to the latest
    click at-or-before each purchase within the tolerance. Clicks
    sort by (ts, event_id) so merge_asof's pick-last-on-tie equals
    the range join's ORDER BY ts DESC, event_id DESC."""
    if p.empty:
        return pd.DataFrame(columns=["p_event_id", "asof_click_id", "staleness_ms"])
    p = p.sort_values(["ts", "event_id"]).reset_index(drop=True)
    c = c.sort_values(["ts", "event_id"]).reset_index(drop=True)
    merged = pd.merge_asof(
        p.rename(columns={"event_id": "p_event_id", "ts": "p_ts"}),
        c.rename(columns={"event_id": "asof_click_id", "ts": "c_ts"}),
        left_on="p_ts",
        right_on="c_ts",
        direction="backward",
        tolerance=pd.Timedelta(milliseconds=TOLERANCE_MS),
    )
    # Timedelta-floor division is datetime-unit-safe (Arrow may hand
    # back datetime64[ns] or [us] depending on pandas version).
    merged["staleness_ms"] = (
        (merged["p_ts"] - merged["c_ts"]) // pd.Timedelta(milliseconds=1)
    ).astype("Int64")
    out = merged[["p_event_id", "asof_click_id", "staleness_ms"]].copy()
    out["asof_click_id"] = out["asof_click_id"].astype("Int64")
    return out


def asof_merge_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fallback plan: ONE shuffle on user_id into cogroups, then
    a linear merge per key. The per-key intermediate is O(p_k + c_k)
    — never the range join's O(p_k x c_in_window) — which is why it
    wins when one user's click density explodes."""
    (events,) = load_tables(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    c = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    return (
        p.groupBy("user_id")
        .cogroup(c.groupBy("user_id"))
        .applyInPandas(_merge_asof_group, OUT_SCHEMA)
    )


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    for col in pdf.columns:
        pdf[col] = pdf[col].astype("float64")  # NULL-tolerant compare
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def main() -> None:
    registry.load_all()
    spark = get_spark("asof-fallback-probe")
    spark.sparkContext.setLogLevel("ERROR")

    from tools import grown

    report = {}
    for tag, sf_dir in (("1x", grown.BASE), ("10x", grown.corpus(grown.BASE, 10, "verbatim", spark))):
        join_df = registry.QUERIES["j15_asof_tolerance"](spark, sf_dir)
        merge_df = asof_merge_fallback(spark, sf_dir)

        a = join_df.toPandas()
        b = merge_df.toPandas()
        ca, cb = _canon(a), _canon(b)
        pd.testing.assert_frame_equal(ca, cb, check_dtype=False)

        times = {}
        for name, df in (("range_join", join_df), ("merge_asof", merge_df)):
            df.toPandas()  # warm
            warm = []
            for _ in range(3):
                t0 = time.perf_counter()
                df.toPandas()
                warm.append(time.perf_counter() - t0)
            times[name] = round(min(warm), 3)
        report[tag] = {"rows": len(a), **times}
        print(f"# {tag}: identical ({len(a)} rows) {times}", file=sys.stderr)

    report["slope"] = {
        k: round(report["10x"][k] / report["1x"][k], 2)
        for k in ("range_join", "merge_asof")
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
