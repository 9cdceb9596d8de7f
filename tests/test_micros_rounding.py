"""q1's ``_micros`` rounding vs the ``F.round`` spelling it replaced.

``F.round`` on a double boxes every row through ``BigDecimal``;
``_round_half_up`` rounds with ``rint`` and fixes up exact ``.5``
ties. Pinned here: both spellings give identical BIGINT outputs on
the doubles where a half-up rounding goes wrong most easily.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from hetnetdb_spark.operators.tpch import _micros, _round_half_up

_2P51 = 2.0**51
_2P52 = 2.0**52


def _adversarial() -> list[float]:
    vals = [0.0, -0.0, 0.49999999999999994, -0.49999999999999994]
    vals += [1.4999999999999998, -1.4999999999999998, 0.5000000000000001]
    # ±k.5 ties, and their neighbouring doubles on both sides
    for k in [0, 1, 2, 3, 10, 99, 12345, 10**6, 2**40, 2**50, 2**51 - 1]:
        for t in (k + 0.5, -(k + 0.5)):
            vals += [t, math.nextafter(t, math.inf), math.nextafter(t, -math.inf)]
    # [2^51, 2^52): doubles spaced 0.5 apart, so every other one is a tie
    vals += [_2P51, _2P51 + 0.5, _2P51 + 1.5, _2P52 - 1.0, _2P52 - 0.5, _2P52 - 1.5]
    vals += [-v for v in vals[-6:]]
    # ≥2^52: already integers
    vals += [_2P52, _2P52 + 1.0, 2.0**53 + 2.0, 1e18, -1e18]
    rng = random.Random(7)
    vals += [rng.uniform(_2P51, _2P52) for _ in range(200)]
    vals += [rng.randrange(2**51, 2**52) + 0.5 for _ in range(100)]
    vals += [rng.uniform(-1e9, 1e9) for _ in range(200)]
    vals += [rng.randrange(-(10**9), 10**9) + 0.5 for _ in range(100)]
    return vals


def _money() -> list[float]:
    """≤6dp money amounts, negative ones included, whose micro-unit
    products land on or next to .5 ties."""
    rng = random.Random(11)
    vals = [-123.456789, -0.000001, -0.0000005, 0.0000005, -99999.995, 0.0]
    vals += [-0.0, 1234.5678905, -1234.5678905, 9.9999995, -9.9999995]
    vals += [round(rng.uniform(-5e4, 5e4), rng.randrange(2, 7)) for _ in range(300)]
    vals += [rng.uniform(-5e4, 5e4) for _ in range(100)]
    return vals


def _diverging(spark, vals, old, new) -> list:
    # repartition keeps the projection out of the local-relation
    # folding, so it runs as generated code like q1's aggregate
    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(2)
    rows = df.select(
        "v", old(F.col("v")).alias("old"), new(F.col("v")).alias("new")
    ).collect()
    assert len(rows) == len(vals)
    return [(r.v, r.old, r.new) for r in rows if r.old != r.new]


def test_round_half_up_matches_round(spark):
    bad = _diverging(
        spark,
        _adversarial(),
        lambda c: F.round(c).cast("bigint"),
        lambda c: _round_half_up(c).cast("bigint"),
    )
    assert not bad, f"rint half-up diverged from round on {bad[:10]}"


def test_micros_matches_round_spelling(spark):
    bad = _diverging(
        spark, _money(), lambda c: F.round(c * 1000000).cast("bigint"), _micros
    )
    assert not bad, f"_micros diverged from round(x * 1e6) on {bad[:10]}"
