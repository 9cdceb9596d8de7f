"""Named-query registry — the engine's public contract.

Every operator from SURVEY.md §2 registers here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (when the operator
is SQL-expressible) an ANSI-SQL twin that DuckDB can run over the
same parquet tables. The driver compares the two sides (row count +
schema + order-insensitive value hash), so:

- every computed/aggregate column is aliased identically on both
  sides;
- double-valued aggregates are rounded to 6 decimals on both sides
  (summation-order last-ulp drift would otherwise break hashes);
- every ORDER BY used for top-k/limit carries a unique tiebreaker so
  the selected row set is deterministic across engines.

``load_all`` only imports the operator modules, so ``QUERIES`` and
``ORACLE`` iterate in registration order. The driver checks a bounded
prefix of ``__spark_entry__.queries()``; those entry points alone
reorder through ``verification_order()``, which reads the driver's
CORRECTNESS files and ``CERTIFIED.json`` and fingerprints the code
(about 1 s for the whole registry). No name list is kept by hand:
a query re-enters the window when its code or oracle changed since
the driver last certified it.
"""

from __future__ import annotations

import functools
import json
import pathlib
from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, SparkQuery] = {}
ORACLE: dict[str, str] = {}

#: Names registered with ``impure=True`` — their construction runs
#: side effects (scratch-dir writes, streaming runs), so unverified
#: ones sort behind unverified pure batch queries.
IMPURE: set[str] = set()

#: Prepared-plan cache for PURE queries, keyed by (applicationId,
#: sf_dir, name). Building a DataFrame costs ~250-300 ms of Py4J
#: round trips; a resident engine prepares a statement once and
#: re-executes it. CRITICAL SEMANTICS (round-10 discovery): a
#: DataFrame re-collected through the SAME QueryExecution re-serves
#: its materialized AQE query stages — the shuffle map outputs of
#: the first run — so a second `.toPandas()` on the cached object
#: executes ONLY the final stage (measured: q1 over a 60M-row
#: corpus, 24.5 s cold, 0.08 s "re-executed"; a plan-identical but
#: object-distinct query re-runs in full). That is result caching,
#: not prepared-statement reuse, and it silently inflated every
#: warm benchmark between the cache's introduction and round 10.
#: `registered` therefore hands out `df.select("*")` — a fresh
#: Dataset/QueryExecution over the same analyzed plan (~20 ms, one
#: Py4J call, schema-identical, no stage reuse) — so every
#: invocation EXECUTES from the source files while the analysis
#: work stays amortized.
_PLAN_CACHE: dict[tuple[str, str, str], "DataFrame"] = {}


def query(
    name: str, oracle: str | None = None, impure: bool = False
) -> Callable[[SparkQuery], SparkQuery]:
    """Register ``fn`` as query ``name`` with an optional DuckDB oracle.

    ``oracle=None`` marks a rows-only operator (not SQL-expressible:
    approximate, stateful-streaming, or side-effecting) — the driver
    then records the weaker rows-only check.

    ``impure=True`` opts out of prepared-plan caching for queries
    whose *construction* has side effects that must re-run on every
    invocation (scratch-dir writes, streaming runs, view/UDTF
    registration).
    """

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        if impure:
            IMPURE.add(name)
            registered = fn
        else:

            @functools.wraps(fn)
            def registered(spark: "SparkSession", sf_dir: str) -> "DataFrame":
                from hetnetdb_spark.session import app_id  # noqa: PLC0415

                key = (app_id(spark), sf_dir, name)
                df = _PLAN_CACHE.get(key)
                if df is None:
                    df = fn(spark, sf_dir)
                    _PLAN_CACHE[key] = df
                # Fresh QueryExecution per invocation — see the
                # _PLAN_CACHE note: returning `df` itself re-serves
                # materialized AQE stages (cached results, stale
                # under data change, and not a legitimate "warm
                # latency" vs a baseline that re-executes fully).
                return df.select("*")

        QUERIES[name] = registered
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


#: The function ``query`` received for each name, recorded by
#: ``load_all`` before any caller can replace a ``QUERIES`` entry
#: (perfbench's serve host wraps them): ``query`` hands out either
#: that function or a ``functools.wraps`` plan-cache wrapper over it.
RECEIVED: dict[str, SparkQuery] = {}

_ROOT = pathlib.Path(__file__).resolve().parent.parent
#: Fingerprints of the code the driver last certified, written by
#: ``tools/certify.py`` after each driver round.
CERTIFIED = _ROOT / "CERTIFIED.json"


def correctness_files() -> dict[int, pathlib.Path]:
    """The driver's ``CORRECTNESS_r{N}.json`` files by round N."""
    files = _ROOT.glob("CORRECTNESS_r*.json")
    return dict(sorted((int(p.stem.rpartition("_r")[2]), p) for p in files))


def certification_rounds() -> dict[str, int]:
    """``{name: round}`` for every name whose latest driver row is green.

    The driver records one ``CORRECTNESS_r{N}.json`` per round at the
    repo root; ``round`` is the newest file that mentions the name. A
    name whose latest row is red, or that no file mentions, is absent.
    "Green" means rows, schema and hash all matched, or, for a query
    without an oracle (rows-only contract), that the driver ran it and
    recorded a row count. Later rounds override earlier ones.
    """
    rounds: dict[str, int] = {}
    for rnd, path in correctness_files().items():
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("err") == "no_oracle":
                ok = row.get("spark_rows") is not None
            else:
                ok = (
                    bool(row.get("rows_match"))
                    and bool(row.get("schema_match"))
                    and bool(row.get("hash_match"))
                    and row.get("err") is None
                )
            if ok:
                rounds[name] = rnd
            else:
                rounds.pop(name, None)
    return rounds


@functools.cache
def unverified() -> tuple[str, ...]:
    """Names the driver must check again, in registration order.

    A name counts as verified when its latest CORRECTNESS row is green
    and the fingerprint of its current code (``fingerprint.py``)
    equals the one ``CERTIFIED.json`` recorded when the driver last
    certified it. A stale manifest only makes this more cautious: more
    names compare unequal and get re-checked.
    """
    from hetnetdb_spark.fingerprint import fingerprint  # noqa: PLC0415

    load_all()
    rounds = certification_rounds()
    certified = json.loads(CERTIFIED.read_text())["fingerprints"] if CERTIFIED.exists() else {}
    return tuple(
        name
        for name, fn in RECEIVED.items()
        if name not in rounds or certified.get(name) != fingerprint(fn, ORACLE.get(name))
    )


@functools.cache
def verification_order() -> tuple[str, ...]:
    """Every name, in the order the driver should check them.

    The driver checks a bounded prefix of ``__spark_entry__.queries()``
    (the first ~50 entries), so the order decides what gets certified:

    1. unverified pure queries (cheapest to check);
    2. unverified impure ones (scratch writes, streaming runs);
    3. verified ones, STALEST certification first (the round of each
       name's latest green row, ascending), so the window becomes a
       rolling re-audit of the oldest evidence.

    Registration order breaks ties. Within the verified tier staleness
    outranks purity: an impure query certified six rounds ago needs
    refreshing more than a pure one certified last round.
    """
    stale = set(unverified())
    rounds = certification_rounds()

    def tier(name: str) -> tuple[int, int]:
        return (name in IMPURE, 0) if name in stale else (2, rounds[name])

    return tuple(sorted(QUERIES, key=tier))


def load_all() -> None:
    """Import every query module so registration side effects run,
    and record the function each name received. Nothing is read or
    reordered: ``QUERIES`` iterates in registration order (the driver
    entry points order through ``verification_order()``)."""
    # Imported lazily so `import hetnetdb_spark` stays cheap and so a
    # syntax error in one operator family doesn't take down the rest
    # during development (tests import load_all and fail loudly).
    from hetnetdb_spark.operators import (  # noqa: F401
        aggregates,
        analytics,
        joins,
        profiling,
        projection,
        setops,
        sql_surface,
        tpch,
        tpch_ext,
        windows,
    )
    from hetnetdb_spark.functions import scalar  # noqa: F401
    from hetnetdb_spark.pipeline import (  # noqa: F401
        corpus,
        decompose,
        dedup,
        multimodal,
        similarity,
        sketches,
        splits,
        text,
    )
    from hetnetdb_spark.sources import io  # noqa: F401
    from hetnetdb_spark.streaming import queries  # noqa: F401
    from hetnetdb_spark.udfs import surface  # noqa: F401

    for name, fn in QUERIES.items():
        RECEIVED.setdefault(name, getattr(fn, "__wrapped__", fn))
