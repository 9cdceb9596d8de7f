"""Helpers shared by the benchmark's processes: paths, process-tree
memory, summary statistics and the DuckDB oracle check."""

from __future__ import annotations

import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) at the highest percentile
    that leaves at least ten samples beyond it; with fewer than eleven
    samples, the maximum."""
    s = sorted(xs)
    if not s:
        return 0.0, 0.0, 0
    i = max(len(s) - 11, 0) if len(s) > 10 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s), len(s) - 1 - i


def tree_pids(pid: int) -> list[int]:
    """``pid`` and all its live descendants, by parent links in /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of each live process's peak resident set (VmHWM) over the
    process tree rooted at ``pid``: the Python driver, the Spark JVM
    and any Python workers."""
    total_kb = 0
    for p in tree_pids(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def duck(sf_dir: str):
    """DuckDB connection with every input table registered as a view,
    the way the oracle SQL expects."""
    import duckdb  # noqa: PLC0415
    from hetnetdb_spark.schemas import TABLE_NAMES  # noqa: PLC0415

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def oracle_mismatch(name: str, spark_pdf, oracle_sql: str, con) -> str | None:
    """Compare one Spark result with its DuckDB oracle by the rules of
    the project's oracle tests; return the mismatch message or None."""
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle_compare import assert_frames_match  # noqa: PLC0415

    try:
        assert_frames_match(spark_pdf, con.execute(oracle_sql).fetchdf(), name)
    except AssertionError as exc:
        return str(exc)[:500]
    return None
