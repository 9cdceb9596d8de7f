"""Plan auditing — machine-checkable physical-plan properties.

PLANS.md documents the plan each headline query should produce; this
module makes those claims *enforceable*: extract facts from the
executed (post-AQE) plan and assert them in tests
(`tests/test_plans.py`), so a regression that un-pushes a filter,
re-pins a broadcast, or adds a shuffle fails CI instead of silently
costing a factor at scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Run the query and return the FINAL adaptive plan — the one
    that actually executed.

    The action must go through the DataFrame's OWN QueryExecution:
    a `.write` (even noop) plans a separate execution and leaves
    this one's AdaptiveSparkPlan un-finalized, silently auditing the
    *initial* plan. `executeCollect()` on the adaptive root runs it
    JVM-side (rows never cross to Python) and finalizes it.

    A finalized AdaptiveSparkPlan prints BOTH its final and initial
    plans; only the final section is returned so node counts aren't
    doubled."""
    jplan = df._jdf.queryExecution().executedPlan()
    jplan.executeCollect()
    plan = jplan.toString()
    return plan.split("== Initial Plan ==")[0]


def shuffle_exchange_count(plan: str) -> int:
    """Shuffle exchanges only (broadcast exchanges move dim-sized
    data and are counted separately). The lookbehind keeps
    `BroadcastExchange HashedRelationBroadcastMode` — whose tail
    reads "Exchange Hashed..." — out of the shuffle count."""
    return len(
        re.findall(
            r"(?<![A-Za-z])Exchange (?:hash|range|single|round)", plan, re.IGNORECASE
        )
    )


def has_pushed_filter(plan: str, fragment: str) -> bool:
    """True if a scan's pushed/data filters mention `fragment`."""
    for m in re.finditer(r"(?:PushedFilters|DataFilters): \[[^\]]*\]", plan):
        if fragment in m.group(0):
            return True
    return False


def scan_read_columns(plan: str, table: str) -> list[str] | None:
    """Columns actually read from `table`'s parquet scan (column-
    pruning check). Returns None if no scan of that table appears."""
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\][^\n]*", plan):
        if f"/{table}.parquet" in m.group(0):
            cols = m.group(1)
            return [c.split("#")[0].strip() for c in cols.split(",") if c.strip()]
    return None


def has_top_k(plan: str) -> bool:
    """Global top-k planned as TakeOrderedAndProject (bounded
    heaps), not a full sort."""
    return "TakeOrderedAndProject" in plan


def has_window_group_limit(plan: str) -> bool:
    """Per-group top-k pushed below the shuffle (Spark 4's
    WindowGroupLimit partial mode)."""
    return "WindowGroupLimit" in plan


def shuffle_exchange_outputs(df: DataFrame) -> list[dict]:
    """Execute ``df`` and return, per shuffle exchange in the FINAL
    adaptive plan, the attribute names the exchange actually carries.

    Why this exists (r14 ADVICE, medium): ShuffleExchangeExec's plan
    LINE prints only the partitioning expressions and shuffle origin —
    an exchange hash-partitioned on doc_id whose payload includes the
    raw text column prints ``Exchange hashpartitioning(doc_id#0L,
    200), ENSURE_REQUIREMENTS`` with no ``text#`` anywhere, so the
    line-grep pins (l34/l37/l64/l70/l79) were vacuous for their
    stated guarantee: they only caught exchanges partitioned BY the
    forbidden column. The payload IS the node's ``output()`` (an
    Exchange preserves its child's output schema); this walks the
    executed plan JVM-side and reports it, so tests can assert the
    forbidden column is absent from what every shuffle MOVES — the
    claim that matters at 100 TB.

    ReusedExchange nodes are skipped (payload identical to the
    original, already reported); query-stage wrappers are descended
    through. Returns ``[{"node": first-line, "columns": [names]}]``.
    """
    jplan = df._jdf.queryExecution().executedPlan()
    jplan.executeCollect()
    try:
        root = jplan.finalPhysicalPlan()
    except Exception:  # non-adaptive plan: walk it directly
        root = jplan

    out: list[dict] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if "QueryStage" in cls:
            walk(node.plan())
            return
        if "ReusedExchange" in cls:
            return
        name = node.nodeName()
        if "Exchange" in name and "Broadcast" not in name:
            attrs = node.output()
            cols = [attrs.apply(i).name() for i in range(attrs.size())]
            try:
                first = node.simpleString(8).splitlines()[0]
            except Exception:
                first = name
            out.append({"node": first[:200], "columns": cols})
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(root)
    return out


def profile(df: DataFrame) -> list[dict]:
    """Execute ``df`` and return per-operator runtime metrics.

    Walks the FINAL adaptive physical plan (descending into query
    stages, whose children hide behind ``.plan()``) and returns one
    record per operator: node name, depth, and its SQL metrics
    (output rows, shuffle/broadcast data sizes, spill bytes, ...).
    The observability surface a resident engine owes its users —
    'how many rows did each operator really produce' — without the
    Spark UI."""
    jplan = df._jdf.queryExecution().executedPlan()
    jplan.executeCollect()
    try:
        root = jplan.finalPhysicalPlan()
    except Exception:  # non-adaptive plan: walk it directly
        root = jplan

    records: list[dict] = []

    def walk(node, depth: int) -> None:
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        records.append(
            {"operator": node.nodeName(), "depth": depth, "metrics": metrics}
        )
        cls = node.getClass().getSimpleName()
        if "QueryStage" in cls:  # descend into materialized stages
            walk(node.plan(), depth + 1)
            return
        for i in range(node.children().size()):
            walk(node.children().apply(i), depth + 1)

    walk(root, 0)
    return records
