"""Full-registry driver-equivalence sweep in ONE session.

Runs EVERY registered query against its DuckDB oracle with the same
comparison the driver applies (row count + schema + order-insensitive
value hash via tests/oracle_compare.assert_frames_match), all through
a single SparkSession and a single DuckDB connection — so it also
catches cross-query interference the per-test isolation can't
(temp-view collisions, scratch-dir reuse, plan-cache aliasing). A
query that leaves a session setting changed fails Tier-1 itself
(``tests/test_oracle.py``).

Usage:
    python tools/driver_equiv.py                   # sf0.01, all queries
    SPARK_GRAFT_EQUIV_SF_DIR=/root/testdata/sf0.1 python tools/driver_equiv.py
    python tools/driver_equiv.py l41 w12           # name-substring filter

Exit 1 if any query fails; prints one line per query, ending in a
``negz <column> <side>`` note for each float column that holds a -0.0
on the Spark or the oracle side.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from hetnetdb_spark import registry  # noqa: E402
from hetnetdb_spark.schemas import TABLE_NAMES  # noqa: E402
from hetnetdb_spark.session import get_spark  # noqa: E402
from oracle_compare import assert_frames_match  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_EQUIV_SF_DIR", "/root/testdata/sf0.01")


def _negative_zeros(pdf: pd.DataFrame, side: str) -> list[str]:
    """``negz <column> <side>`` for each float column holding a -0.0.

    The driver hashes raw values, so -0.0 and 0.0 are different bytes
    though every comparison calls them equal (a19 was driver-red while
    local-green in rounds 4-5). Noted even when both sides agree:
    agreement at one SF does not survive a data change."""
    notes = []
    for col in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[col]):
            a = pdf[col].to_numpy(dtype="float64", na_value=np.nan)
            if ((a == 0.0) & np.signbit(a)).any():
                notes.append(f"negz {col} {side}")
    return notes


def main() -> int:
    registry.load_all()
    filters = [a for a in sys.argv[1:] if a]
    names = [
        n
        for n in registry.QUERIES
        if not filters or any(f in n for f in filters)
    ]
    spark = get_spark("driver-equiv")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    n_pass = n_fail = n_rows_only = 0
    t_all = time.perf_counter()
    for name in names:
        t0 = time.perf_counter()
        notes: list[str] = []
        try:
            spdf = registry.QUERIES[name](spark, SF_DIR).toPandas()
            notes += _negative_zeros(spdf, "spark")
            oracle = registry.ORACLE.get(name)
            if oracle is None:
                n_rows_only += 1
                status = f"rows-only ({len(spdf)} rows)"
            else:
                ddf = con.execute(oracle).fetchdf()
                notes += _negative_zeros(ddf, "oracle")
                assert_frames_match(spdf, ddf, name)
                n_pass += 1
                status = f"ok ({len(spdf)} rows)"
        except Exception as exc:  # noqa: BLE001 — report and continue
            n_fail += 1
            status = f"FAIL: {exc}"
            if "-v" in sys.argv:
                traceback.print_exc()
        note = "".join(f"  {n}" for n in notes)
        print(f"{name:40s} {status}  [{time.perf_counter() - t0:.2f}s]{note}")
    print(
        f"\n{n_pass} ok / {n_rows_only} rows-only / {n_fail} FAIL "
        f"of {len(names)} at {SF_DIR} in {time.perf_counter() - t_all:.0f}s"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
