"""Plan auditing: one walker over physical plans, the 100 TB-posture
lint rules, and the plan ledger.

PLANS.md documents the plan each query should produce; this module
makes those claims enforceable, so a regression that un-pushes a
filter, re-pins a broadcast or adds a shuffle fails a check instead
of silently costing a factor at scale.

- ``execute`` runs a DataFrame through its own QueryExecution and
  returns the root of the plan that ran; ``walk`` yields its nodes,
  descending through AQE query stages. ``shuffle_exchange_outputs``
  and ``profile`` (``api.profile``, ``tools/pipeline_demo.py``) read
  executed plans only through these two; the lint rules and the
  ledger counts walk initial plans with ``walk``.
- The string helpers (``executed_plan``, ``shuffle_exchange_count``,
  ...) serve the printed-plan pins in ``tests/test_plans.py``.
- ``PLAN_LEDGER.json`` pins every pure query's plan shape and the
  adjudicated lint hits, each bound to a code fingerprint
  (``hetnetdb_spark/fingerprint.py``). ``python tools/plan_lint.py``
  refreshes it; ``refresh`` is the shared core.

The six rules. Rules 1-4 and 6 run over each pure query's initial
(pre-AQE) plan, which is planned but not run; rule 5 is a static
source scan, so it also covers the impure and streaming queries the
plan walk cannot build. A hit
is not automatically a bug (broadcasting a vocabulary-bounded
aggregate of an exploded relation is the right plan), but every hit
needs an adjudication: a reason in the ledger, judged against the
code it names.

1. ``generate_broadcast``. Catalyst estimates an explode
   (``Generate``) at its child's size, so a relation that fans out
   100-300x still looks broadcastable and ships gigabytes to the
   driver at corpus scale (PLANS.md, "explode-underestimation
   broadcast trap"). Flags every BroadcastExchange whose subtree
   contains a Generate node.
2. ``cartesian``. An unkeyed join is O(N*M) at any scale; flags every
   CartesianProduct node.
3. ``driver_rows``. CollectLimit ships up to ``limit`` rows to the
   driver and LocalTableScan holds its rows in the driver; either
   above ``DRIVER_ROWS_K`` rows is a driver bottleneck no executor
   count fixes. ``accessor_error`` counts such nodes whose size
   accessor raised (renamed by a Spark upgrade); it can never be
   adjudicated, so a broken accessor fails loudly instead of silently
   retiring rule 3.
4. ``batch_eval_python``. BatchEvalPython pickles every row to a
   Python worker, the boundary the U1 contract certifies exactly
   once. Arrow crossings (ArrowEvalPython, *InPandas, *InArrow) are
   sanctioned and not flagged.
5. ``collect``. Every ``.collect()`` in the package must be the tail
   of a fluent chain containing a bounding operation
   (``COLLECT_BOUNDING``) or be adjudicated: driver fetches are
   control-flow scalars, never data-sized results.
6. ``broadcast_fact_scan`` (the generalized l02 OOM lesson). A join
   output's static estimate does not scale with its inputs: l02/l59
   broadcast a semi-join of ``documents`` whose in-memory
   HashedRelation was ~50x its estimate. Flags every
   BroadcastExchange whose build subtree reaches a ``FACT_TABLES``
   scan through a join, with no bounding node (``RULE6_BOUNDING``)
   and no materialized shuffle between. A Filter/Project-over-scan
   build side is not flagged: its estimate is proportional to the
   corpus, so production-scale planning does not broadcast it.
   Generate-fed broadcasts are rule 1's. Known limits: a
   corpus-sized GROUP BY key also "bounds", and an eager
   localCheckpoint hides the scans below it, so adjudications must
   argue actual boundedness, not just rule passage.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import json
import pathlib
import re
from collections.abc import Iterator

import pyspark
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from hetnetdb_spark import registry
from hetnetdb_spark.fingerprint import fingerprint

ROOT = pathlib.Path(__file__).resolve().parents[2]
LEDGER = ROOT / "PLAN_LEDGER.json"


def execute(df: DataFrame):
    """Run ``df`` and return the root of the plan that executed.

    The action must go through the DataFrame's OWN QueryExecution:
    a `.write` (even noop) plans a separate execution and leaves
    this one's AdaptiveSparkPlan un-finalized, silently auditing the
    *initial* plan. `executeCollect()` on the adaptive root runs it
    JVM-side (rows never cross to Python) and finalizes it."""
    jplan = df._jdf.queryExecution().executedPlan()
    jplan.executeCollect()
    try:
        return jplan.finalPhysicalPlan()
    except Py4JError:  # non-adaptive plan: it is its own final plan
        return jplan


def _children(node, reused: bool) -> list:
    cls = node.getClass().getSimpleName()
    if "QueryStage" in cls:
        return [node.plan()]
    if "ReusedExchange" in cls:
        return [node.child()] if reused else []
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def walk(node, reused: bool = False, depth: int = 0) -> Iterator[tuple[object, int]]:
    """Yield ``(node, depth)`` for *node* and every node below it, in
    pre-order, descending into query stages (their plans hide behind
    ``.plan()``). A ReusedExchange is a leaf unless *reused*: a count
    meets the original exchange elsewhere in the plan, while a
    subtree test must see what the reuse reads."""
    yield node, depth
    for child in _children(node, reused):
        yield from walk(child, reused, depth + 1)


def is_shuffle(name: str) -> bool:
    """A shuffle exchange's node name: not a broadcast, not a reuse."""
    return "Exchange" in name and "Broadcast" not in name and "Reused" not in name


def _first_line(node) -> str:
    try:
        return node.simpleString(8).splitlines()[0][:200]
    except Py4JError:
        return node.nodeName()


def executed_plan(df: DataFrame) -> str:
    """Run the query and return the printed FINAL adaptive plan.

    A finalized AdaptiveSparkPlan prints BOTH its final and initial
    plans; only the final section is returned so node counts aren't
    doubled."""
    execute(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
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

    ShuffleExchangeExec's plan LINE prints only the partitioning
    expressions and shuffle origin: an exchange hash-partitioned on
    doc_id whose payload includes the raw text column prints
    ``Exchange hashpartitioning(doc_id#0L, 200), ENSURE_REQUIREMENTS``
    with no ``text#`` anywhere, so a line-grep only catches exchanges
    partitioned BY a forbidden column. The payload IS the node's
    ``output()`` (an Exchange preserves its child's output schema),
    so tests can assert a forbidden column is absent from what every
    shuffle MOVES — the claim that matters at 100 TB.

    Reused exchanges are skipped (payload identical to the original,
    already reported). Returns ``[{"node": first-line, "columns":
    [names]}]``.
    """
    out: list[dict] = []
    for node, _ in walk(execute(df)):
        if is_shuffle(node.nodeName()):
            attrs = node.output()
            cols = [attrs.apply(i).name() for i in range(attrs.size())]
            out.append({"node": _first_line(node), "columns": cols})
    return out


def profile(df: DataFrame) -> list[dict]:
    """Execute ``df`` and return per-operator runtime metrics.

    One record per node of the FINAL adaptive plan, query stages
    included: ``operator`` (node name), ``node`` (the first line of
    its description: partitioning and shuffle origin for an
    exchange), ``depth`` and its SQL metrics (output rows,
    shuffle/broadcast data sizes, spill bytes, ...). The
    observability surface a resident engine owes its users — 'how
    many rows did each operator really produce' — without the Spark
    UI."""
    records: list[dict] = []
    for node, depth in walk(execute(df)):
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        records.append(
            {
                "operator": node.nodeName(),
                "node": _first_line(node),
                "depth": depth,
                "metrics": metrics,
            }
        )
    return records


#: Rows a single plan node may ship to / hold in the driver (rule 3).
#: Headline top-k queries return at most a few thousand rows; above
#: this bound a query's RESULT stopped being driver-sized.
DRIVER_ROWS_K = 100_000

#: Rule 5: chain operations that bound a collected frame (aggregation
#: to at most K rows, or an explicit row cap).
COLLECT_BOUNDING = frozenset({"agg", "limit", "head", "first", "take", "tail"})

#: Rule 6: the fixtures that scale with the corpus, matched as path
#: fragments so bucketed/persisted DERIVED copies (a spark-warehouse
#: `orders_buckets` table) match too.
FACT_TABLES = ("documents", "lineitem", "orders", "events", "embeddings")

#: Rule 6: plan nodes that bound a broadcast build subtree.
#: HashAggregate/SortAggregate/ObjectHashAggregate/AggregateInPandas
#: all contain "Aggregate"; CollectLimit/GlobalLimit/LocalLimit all
#: contain "Limit".
RULE6_BOUNDING = ("Aggregate", "TakeOrderedAndProject", "Limit")

#: The rules whose hits the ledger may adjudicate, with their labels.
RULES = {
    "generate_broadcast": "generate-fed broadcast",
    "cartesian": "CartesianProduct",
    "driver_rows": f"driver-side rows > {DRIVER_ROWS_K}",
    "batch_eval_python": "pickled row-UDF (BatchEvalPython)",
    "broadcast_fact_scan": "broadcast of unbounded fact-table subtree (l02-OOM shape)",
    "collect": "unbounded .collect()",
}


def _scan_location(node) -> str:
    """Best-effort source location string for a scan node."""
    cls = node.getClass().getSimpleName()
    if "FileSourceScan" not in cls and "BatchScan" not in cls:
        return ""
    try:
        paths = node.relation().location().rootPaths()
        return ";".join(str(paths.apply(i)) for i in range(paths.size()))
    except Py4JError:
        # DSv2 / renamed accessor: the verbose string carries the
        # location (possibly truncated — acceptable for a fallback).
        try:
            return node.verboseString(25)
        except Py4JError:
            return node.toString()


def _unbounded_fact_scans(node, join_seen: bool = False, depth: int = 0) -> set[str]:
    """Fact tables reachable below *node* through a JOIN with no
    bounding op AND no materialized shuffle boundary between — the
    estimate class that does not self-correct with corpus size.

    The shuffle-boundary stop (depth > 0 only — the broadcast's own
    input may arrive through one): AQE converts SMJ→BHJ from the
    MEASURED size of an already-materialized shuffle stage, so a
    broadcast whose scan path crosses a ShuffleExchange was sized
    with real bytes and the same plan at production scale measures
    big and stays SMJ (q21's EXISTS/NOT-EXISTS legs). l02's OOM
    broadcast had NO shuffle on its scan path — only the static
    estimate existed, and it was ~50× low."""
    cls = node.getClass().getSimpleName()
    if depth > 0 and ("ShuffleExchange" in cls or "ShuffleQueryStage" in cls):
        return set()
    found: set[str] = set()
    if "QueryStage" in cls or "ReusedExchange" in cls:  # transparent wrappers
        for child in _children(node, reused=True):
            found |= _unbounded_fact_scans(child, join_seen, depth)
        return found
    name = node.nodeName()
    if any(f in name for f in RULE6_BOUNDING):
        return found
    join_seen = join_seen or "Join" in name or "CartesianProduct" in name
    if join_seen:
        loc = _scan_location(node)
        found = {t for t in FACT_TABLES if f"/{t}" in loc}
    for child in _children(node, reused=True):
        found |= _unbounded_fact_scans(child, join_seen, depth + 1)
    return found


def lint_plan(root) -> dict[str, int]:
    """Per-rule hit counts of rules 1-4 and 6 over one physical plan."""
    hits = {rule: 0 for rule in RULES if rule != "collect"} | {"accessor_error": 0}
    for node, _ in walk(root):
        name = node.nodeName()
        if "BroadcastExchange" in name:
            if any("Generate" in n.nodeName() for n, _ in walk(node, reused=True)):
                hits["generate_broadcast"] += 1
            if _unbounded_fact_scans(node):
                hits["broadcast_fact_scan"] += 1
        if "CartesianProduct" in name:
            hits["cartesian"] += 1
        if "BatchEvalPython" in name:
            hits["batch_eval_python"] += 1
        cls = node.getClass().getSimpleName()
        try:
            if (cls == "CollectLimitExec" and node.limit() > DRIVER_ROWS_K) or (
                cls == "LocalTableScanExec" and node.rows().size() > DRIVER_ROWS_K
            ):
                hits["driver_rows"] += 1
        except Py4JError:
            hits["accessor_error"] += 1
    return hits


def lint_collect_sites(pkg_root) -> tuple[list, list]:
    """Rule 5: AST-scan every .py under *pkg_root* for ``.collect()``
    calls. Returns ``(bounded, unbounded)`` lists of ``(key, lineno,
    chain, top)``: key is ``relpath:innermost function``, chain the
    fluent calls before ``.collect()`` (innermost first), and top the
    enclosing top-level function (None at module or class level)."""
    bounded, unbounded = [], []
    for path in sorted(pathlib.Path(pkg_root).rglob("*.py")):
        try:
            rel = str(path.relative_to(ROOT))
        except ValueError:  # scanning a tree outside the repo (tests)
            rel = path.name
        tree = ast.parse(path.read_text())
        funcs = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        tops = [f for f in funcs if any(s.lineno == f[0] for s in tree.body)]

        def enclosing(lineno: int, among: list) -> str | None:
            cands = [f for f in among if f[0] <= lineno <= f[1]]
            return max(cands)[2] if cands else None

        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "collect"
            ):
                continue
            chain: list[str] = []
            cur = node.func.value
            while True:
                if isinstance(cur, ast.Call) and isinstance(cur.func, ast.Attribute):
                    chain.append(cur.func.attr)
                    cur = cur.func.value
                elif isinstance(cur, ast.Attribute):
                    chain.append(cur.attr)
                    cur = cur.value
                else:
                    break
            key = f"{rel}:{enclosing(node.lineno, funcs) or '<module>'}"
            rec = (key, node.lineno, chain, enclosing(node.lineno, tops))
            (bounded if set(chain) & COLLECT_BOUNDING else unbounded).append(rec)
    return bounded, unbounded


def site_fingerprint(key: str, top: str | None) -> str | None:
    """Fingerprint of the top-level function enclosing a collect site
    (None when there is none to bind an adjudication to)."""
    if top is None:
        return None
    module = importlib.import_module(key.partition(":")[0][:-3].replace("/", "."))
    return fingerprint(inspect.unwrap(getattr(module, top)), None)


def plan_counts(root) -> dict[str, int]:
    """The structural counts the ledger pins for one plan."""
    counts = dict.fromkeys(
        ("shuffles", "broadcasts", "generates", "python_evals", "pushed_filter_scans"), 0
    )
    for node, _ in walk(root):
        name = node.nodeName()
        counts["shuffles"] += is_shuffle(name)
        counts["broadcasts"] += "BroadcastExchange" in name
        counts["generates"] += "Generate" in name
        counts["python_evals"] += name.endswith("EvalPython") or "InPandas" in name or "InArrow" in name
        if node.getClass().getSimpleName().endswith("SourceScanExec"):
            meta = node.metadata()
            pushed = meta.apply("PushedFilters") if meta.contains("PushedFilters") else "[]"
            counts["pushed_filter_scans"] += pushed != "[]"
    return counts


def audit(df: DataFrame) -> tuple[dict[str, int], dict[str, int]]:
    """Plan ``df`` without running it; return its ledger counts and its
    lint hits, both from the pre-AQE initial plan.

    That plan depends on the code, the table statistics and the
    session, not on the sizes AQE measures while running, so an
    unchanged query audits the same every time. It is also the plan
    rules 1 and 6 guard: they catch broadcasts sized from estimates,
    while a broadcast AQE converts at run time is sized from measured
    bytes, which at scale are too large to broadcast."""
    jplan = df._jdf.queryExecution().executedPlan()
    try:
        initial = jplan.initialPlan()
    except Py4JError:  # non-adaptive plan: nothing will be re-planned
        initial = jplan
    return plan_counts(initial), lint_plan(initial)


def header(sf_dir: str) -> dict[str, str]:
    """What every ledger row depends on besides its query's code."""
    return {"sf_dir": sf_dir, "pyspark": pyspark.__version__, "rules": fingerprint(audit, None)}


def load_ledger() -> dict:
    return json.loads(LEDGER.read_text(encoding="utf-8"))


def write_ledger(ledger: dict) -> None:
    text = json.dumps(ledger, indent=1, sort_keys=True, ensure_ascii=False)
    LEDGER.write_text(text + "\n", encoding="utf-8")


def query_fingerprints() -> dict[str, str]:
    """``{name: fingerprint}`` of every pure query, as ``registry``
    computes them."""
    registry.load_all()
    return {
        name: fingerprint(fn, registry.ORACLE.get(name))
        for name, fn in registry.RECEIVED.items()
        if name not in registry.IMPURE
    }


def refresh(spark: SparkSession, ledger: dict) -> tuple[dict, list[str], list[str], list[str]]:
    """Bring *ledger* up to date with the code; return ``(ledger,
    changes, flags, stale)``.

    Re-walks, at the ledger's ``sf_dir``, every pure query without a
    row, whose fingerprint differs from its row, whose adjudication
    names another fingerprint, or whose row's ``adjudicated`` rules
    (the plan rules judged for it when it was walked) differ from its
    current adjudications; every query when the header (pyspark
    version, rules fingerprint) differs. ``changes`` names each count
    that differs from the old row.

    An adjudication with an empty fingerprint is stamped with its
    code's current one; one whose fingerprint differs is dropped.
    ``flags`` names each lint hit (rule 5 over the whole package, the
    plan rules over the re-walked queries) left without an
    adjudication, saying which adjudications re-opened, and each query
    that failed to build or plan. ``stale`` names each adjudication of a
    re-walked query that guarded no hit in that walk; it is kept until
    deleted by hand."""
    sf_dir = ledger["sf_dir"]
    old_rows = ledger.get("queries", {})
    judged = ledger.get("adjudications", {})
    head = header(sf_dir)
    current = all(ledger.get(k) == v for k, v in head.items())
    prints = query_fingerprints()
    rows, changes, flags = {}, [], []
    hits: dict[str, set[str]] = {}
    for name, fp in prints.items():
        old = old_rows.get(name)
        if (
            current
            and old is not None
            and old["fingerprint"] == fp
            and old.get("adjudicated", []) == sorted(judged.get(name, {}))
            and all(a["fingerprint"] in ("", fp) for a in judged.get(name, {}).values())
        ):
            rows[name] = old
            continue
        try:
            counts, found = audit(registry.QUERIES[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — record, keep walking
            flags.append(f"ERR    {name}: {str(exc)[:200]}")
            if old is not None:
                rows[name] = old
            continue
        rows[name] = {"fingerprint": fp, **counts}
        hits[name] = {rule for rule, n in found.items() if n}
        moved = [f"{k} {old.get(k)} -> {v}" for k, v in counts.items() if old and old.get(k) != v]
        if moved:
            changes.append(f"{name}: {', '.join(moved)}")

    _, sites = lint_collect_sites(ROOT / "hetnetdb_spark")
    for key, _, _, top in sites:
        hits.setdefault(key, set()).add("collect")
        prints[key] = site_fingerprint(key, top)

    kept: dict[str, dict] = {}
    for key, rules in judged.items():
        for rule, adj in rules.items():
            fp = prints.get(key)
            if fp is not None and rule in RULES and adj["fingerprint"] in ("", fp):
                kept.setdefault(key, {})[rule] = {"reason": adj["reason"], "fingerprint": fp}
    for key in sorted(hits):
        for rule in sorted(hits[key] - set(kept.get(key, {}))):
            old = judged.get(key, {}).get(rule)
            why = f"re-opened, code changed since judged: {old['reason']}" if old else "unadjudicated"
            flags.append(f"FLAG   {key} — {RULES.get(rule, rule)}: {why}")
    stale = []
    for name, row in rows.items():
        if name in hits:  # walked in this run
            rules = sorted(kept.get(name, {}))
            stale += [f"STALE  {name} — {rule}" for rule in rules if rule not in hits[name]]
        else:
            rules = row.get("adjudicated", [])
        rows[name] = {**row, "adjudicated": rules}
    return {**head, "queries": rows, "adjudications": kept}, changes, flags, stale
