"""u07 on generated data whose per-group totals expose double rounding.

``ROUND(SUM(double), 6)`` over totals of ~1e9 asks for 16 significant
digits, one more than a double holds, so the last place depended on
each engine's summation order: generated seed 103 at sf0.01 gave
``...383382`` against the oracle's ``...383383`` for flag N. Both
sides now sum exact integer micro-units.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

from tests.oracle_compare import assert_frames_match

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _datagen():
    spec = importlib.util.spec_from_file_location(
        "perfbench_datagen", os.path.join(ROOT, "perfbench", "datagen.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_u07_matches_oracle_on_generated_seed_103(spark, tmp_path):
    from hetnetdb_spark.udfs.surface import U7_ORACLE, u07_arrow_python_udf

    sf_dir = str(tmp_path)
    _datagen().generate(sf_dir, 0.01, 103)
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')"
        )
        want = con.execute(U7_ORACLE).fetchdf()
    assert_frames_match(
        u07_arrow_python_udf(spark, sf_dir).toPandas(), want, "u07_arrow_python_udf"
    )
