"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``hetnetdb_spark`` package; this module
only adapts the registry to the driver's three entry points.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hetnetdb_spark import registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    registry.load_all()
    return registry.QUERIES["q1_pricing_summary"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    verification order: the driver checks a bounded prefix, so queries
    whose code changed since their last certification come first."""
    registry.load_all()
    return {name: registry.QUERIES[name] for name in registry.verification_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query,
    in the same relative order as ``queries()``."""
    registry.load_all()
    return {
        name: registry.ORACLE[name]
        for name in registry.verification_order()
        if name in registry.ORACLE
    }
