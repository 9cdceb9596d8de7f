"""Warm executions reuse generated code instead of recompiling it.

Spark's generated-class cache is LRU with a static size. When the
engine's working set outgrows it, repeated passes over the same
queries evict every class before its next use and recompile it with
Janino on each pass. ``session.get_spark`` sizes the cache; this test
fails if the size falls back to Spark's default of 100 (the 8
headline queries alone compile 119 classes).
"""

from __future__ import annotations

from bench import HEADLINE
from hetnetdb_spark import registry
from hetnetdb_spark.session import CODEGEN_CACHE_MAX_ENTRIES
from tests.conftest import SF_DIR


def test_second_headline_pass_compiles_nothing(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )
    registry.load_all()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def headline_pass() -> int:
        before = compiles.getCount()
        for name in HEADLINE:
            registry.QUERIES[name](spark, SF_DIR).toPandas()
        return compiles.getCount() - before

    headline_pass()
    assert headline_pass() == 0
