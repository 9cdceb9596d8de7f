"""Differential test: every registered query vs its DuckDB oracle.

This is the same comparison the driver runs at sf0.01; locally it
defaults to sf0.001 for speed (override with
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01).
"""

from __future__ import annotations

import contextlib

import pytest

from hetnetdb_spark import registry
from tests.conftest import SF_DIR
from tests.oracle_compare import assert_frames_match

registry.load_all()

ORACLE_CHECKED = sorted(registry.ORACLE)
ROWS_ONLY = sorted(set(registry.QUERIES) - set(registry.ORACLE))


@contextlib.contextmanager
def settings_unchanged(spark, name):
    """Fail if the body leaves any session setting changed: a query
    that did would change the plans of every query after it."""
    before = dict(spark.conf.getAll)
    yield
    after = dict(spark.conf.getAll)
    changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    assert not changed, f"{name} left session settings changed: " + ", ".join(
        f"{k} {before.get(k)!r} -> {after.get(k)!r}" for k in changed
    )


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_query_matches_oracle(spark, oracle, name):
    with settings_unchanged(spark, name):
        spark_pdf = registry.QUERIES[name](spark, SF_DIR).toPandas()
    duck_pdf = oracle.execute(registry.ORACLE[name]).fetchdf()
    assert_frames_match(spark_pdf, duck_pdf, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    with settings_unchanged(spark, name):
        df = registry.QUERIES[name](spark, SF_DIR)
        assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.queries()) >= set(e.oracle_sql())
