"""j14 on day shapes the fixtures lack.

Every fixture day has at least one overlapping pair of user spans,
so they cannot show a day whose pair count is 0. The oracle's inner
self-join yields no row for such a day; the sweep-line spelling must
not yield a ``(day, 0)`` row either.
"""

from __future__ import annotations

import datetime

import duckdb
import pytest

from tests.oracle_compare import assert_frames_match


@pytest.fixture(scope="module")
def tiny_events_dir(spark, tmp_path_factory):
    """Day 1: one user. Day 2: three users with disjoint spans
    (touching spans would overlap: the bounds are inclusive). Day 3:
    two overlapping users, so the answer is not empty."""
    out = str(tmp_path_factory.mktemp("j14_edge"))

    def ts(day, hour, minute=0):
        return datetime.datetime(2024, 1, day, hour, minute)

    spans = [  # (user, first event, last event)
        (10, ts(1, 1), ts(1, 5)),
        (10, ts(2, 1), ts(2, 2)),
        (11, ts(2, 3), ts(2, 4)),
        (12, ts(2, 4, 1), ts(2, 9)),
        (10, ts(3, 1), ts(3, 6)),
        (11, ts(3, 2), ts(3, 3)),
    ]
    rows = []
    for user, t0, t1 in spans:
        for t in (t0, t1):
            rows.append((len(rows), t, user, "click", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/events.parquet")
    return out


def test_j14_matches_oracle_without_zero_days(spark, tiny_events_dir):
    from hetnetdb_spark.operators.joins import (
        J14_ORACLE,
        j14_interval_overlap_join,
    )

    sdf = j14_interval_overlap_join(spark, tiny_events_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tiny_events_dir}/events.parquet/*.parquet')"
    )
    ddf = con.execute(J14_ORACLE).fetchdf()
    con.close()
    assert (sdf["n_overlapping_pairs"] > 0).all(), sdf
    assert list(sdf["n_overlapping_pairs"]) == [1]
    assert_frames_match(sdf, ddf, "j14_edge")
