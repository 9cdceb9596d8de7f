"""Per-layer attribution of one query execution (perfbench/spans.py).

This is the path that explains where a query's time goes: run the
action in its own job group, read its stages from the live status
store (``SparkStats``) and its Catalyst phases (``phases``), and let
``attribute`` split the wall into build, Catalyst, executor,
scheduling and fetch time. ``perfbench/batch.py --trace-out`` does the
same for every invocation of any registered query.
"""

from __future__ import annotations

import importlib.util
import os
import time

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spans():
    spec = importlib.util.spec_from_file_location(
        "perfbench_spans", os.path.join(ROOT, "perfbench", "spans.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_q1_layers_partition_the_wall(spark):
    from hetnetdb_spark import registry

    spans = _spans()
    registry.load_all()
    sc = spark.sparkContext
    stats = spans.SparkStats(sc)
    tracer = spans.Tracer()
    gid = "test-attribution-q1"

    t0 = time.time()
    df = registry.QUERIES["q1_pricing_summary"](spark, SF_DIR)
    t_build = time.time()
    sc.setJobGroup(gid, "q1_pricing_summary")
    try:
        rows = len(df.toPandas())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    t1 = time.time()
    stats.drain()

    rec = spans.attribute(tracer, 1, None, "q1_pricing_summary", t0, t_build, t1,
                          rows, stats.group(gid), spans.phases(df))
    layers = rec["layers"]
    assert abs(sum(layers.values()) - rec["wall"]) <= spans.SLACK_S, layers
    assert rec["exec"]["stages"] >= 1, rec["exec"]
    assert layers.get("exec", 0.0) > 0, layers
    assert tracer.violations == 0
