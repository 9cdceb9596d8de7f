"""Engine crossover curve — Spark vs DuckDB on growing corpora.

The headline bench compares warm latency at sf0.1 (~600k-row facts),
where an in-process vectorized engine owns the regime: Spark pays a
~0.15-0.25 s per-query floor (fresh QueryExecution: analysis +
optimization + AQE stage scheduling + Arrow fetch) before any data
is touched, while DuckDB's floor is ~1 ms. That comparison answers
"who should serve 600k-row interactive queries" — not the question
this engine is built for. This tool measures the question that DOES
matter at the 100 TB posture: how the two engines' wall clocks move
as the same queries run over grown replicas of the fixture
(tools/grown.py corpora).

Method, symmetric by construction: per factor and query, both arms
run through tools/ab_fresh.py — `registry:<query>` (the registry
callable, a FRESH QueryExecution per invocation, fetched via Arrow
toPandas) and `duck:<query>` (the SAME query's registered oracle SQL
over views on the SAME parquet files, fetched via fetchdf), each in
PROCS fresh processes, cold then min-of-3, arms alternating, the
ab_fresh runaway cap on both. Neither engine gets result/stage
caching; both pay parse/plan per run. The recorded wall is the min
over processes at EVERY factor: round 11's resident-session walls
were contaminated at large factors (window_top3 read 9.55 s inside a
resident sweep vs 4.91 s isolated at the same HEAD, the q1–q5 legs
before it having churned the shared heap), so no resident mode
remains.

Reading it: the per-factor ratio spark/duck falling toward and
through 1.0 as the corpus grows is the design claim made measurable
— Spark's fixed floors amortize and its multi-core scan/shuffle
machinery takes over, which is the only regime a 1000-executor
deployment ever runs in. Factors where DuckDB wins are reported
as-is; at fixture scale they are expected and honest.

Settings (environment):
    SPARK_GRAFT_SF_DIR                 base corpus (default sf0.1)
    SPARK_GRAFT_SMOKE_FACTS            growth law (tools/grown.py):
                                       unset = verbatim, documents,
                                       embeddings or mutated
    SPARK_GRAFT_CROSSOVER_FACTORS      default 1,10,30
    SPARK_GRAFT_CROSSOVER_QUERIES      default: the 8 headline queries
    SPARK_GRAFT_CROSSOVER_ISO_PROCS    fresh processes per arm, default 3
    SPARK_GRAFT_CROSSOVER_OUT          JSON file to merge the summary into
    SPARK_GRAFT_CROSSOVER_FAMILY       its family key, default headline

Usage:
    python tools/engine_crossover.py                # factors 1,10,30
    SPARK_GRAFT_CROSSOVER_FACTORS=1,10,30,100,300 \
      SPARK_GRAFT_CROSSOVER_OUT=SCALE_STORY.json python tools/engine_crossover.py

Heavy-tail families (each quadratic-law operator stops where its pair
space does — documented, not silently truncated; the cap bounds any
factor that runs away):

    # l68/l19: linear in chars, on the salted documents-fact corpus
    SPARK_GRAFT_SMOKE_FACTS=documents SPARK_GRAFT_CROSSOVER_FAMILY=heavy_docs \
      SPARK_GRAFT_CROSSOVER_QUERIES=l68_dup_span_removal,l19_decontamination \
      SPARK_GRAFT_CROSSOVER_FACTORS=30,100,300 SPARK_GRAFT_CROSSOVER_ISO_PROCS=1 \
      SPARK_GRAFT_CROSSOVER_OUT=SCALE_STORY_heavy.json python tools/engine_crossover.py
    # l04_tuned: candidates ~3% of N^2/2, quadratic by design (the
    # PLANS.md banding law; 300x would be ~5e9 pairs). l73 at fixed
    # K=8: per-cluster pairs N^2/K, so its slope stops at 30x and the
    # cap ends its 100x leg after one cold run.
    SPARK_GRAFT_SMOKE_FACTS=embeddings SPARK_GRAFT_CROSSOVER_FAMILY=heavy_emb \
      SPARK_GRAFT_CROSSOVER_QUERIES=l04_simjoin_lsh_tuned,l73_semantic_dedup_refined \
      SPARK_GRAFT_CROSSOVER_FACTORS=10,30,100 SPARK_GRAFT_CROSSOVER_ISO_PROCS=1 \
      SPARK_GRAFT_CROSSOVER_OUT=SCALE_STORY_heavy.json python tools/engine_crossover.py

Prints one JSON line per (factor, query) plus a summary. With
SPARK_GRAFT_CROSSOVER_OUT set, the summary is merged into that JSON
file after every factor (a crashed leg loses at most the factor in
flight). SCALE_STORY.json is what `tools/scale_gate.py` checks and
what `bench.py` embeds in its JSON; when the file already exists,
this run's factors MERGE into it, so the headline and pipeline legs
can be recorded by separate invocations.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import ab_fresh  # noqa: E402
import grown  # noqa: E402

FACTORS = [
    int(s)
    for s in os.environ.get("SPARK_GRAFT_CROSSOVER_FACTORS", "1,10,30").split(",")
    if s
]

QUERIES = [
    s for s in os.environ.get("SPARK_GRAFT_CROSSOVER_QUERIES", "").split(",") if s
] or [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "window_top3_orders_per_cust",
    "events_sessionize_30m",
    "events_tumbling_1h",
    "docs_token_counts",
    "emb_topk_cosine",
]

LAW = os.environ.get("SPARK_GRAFT_SMOKE_FACTS") or "verbatim"

#: r13: 2 -> 3 — with the recorded ratio isolated-only, a third fresh
#: process is the cheap insurance against every process landing on
#: the slow JIT mode (see tools/ab_fresh.py).
PROCS = int(os.environ.get("SPARK_GRAFT_CROSSOVER_ISO_PROCS", "3"))

PROTOCOL = (
    "symmetric, isolated at every factor: per factor/engine/query "
    "tools/ab_fresh.py draws (one fresh process each: cold run then "
    "min-of-3 full re-executions, fresh QueryExecution / fresh DuckDB "
    "execute, result fetched to pandas), same parquet files, all "
    "cores; the recorded wall is the min over {procs} processes per "
    "arm; a cold run over {cap} s records its cold wall flagged capped"
)


def summarize(draws: dict[str, list[dict]], queries: list[str]) -> dict:
    """One factor's entry from `ab_fresh.draws` records keyed by
    ``registry:<q>`` / ``duck:<q>``. Totals and the set ratio cover
    only queries BOTH engines completed — a failed leg is listed in
    ``failed_queries``, never silently averaged away."""
    spark = {q: ab_fresh.best(draws.get(f"registry:{q}", [])) for q in queries}
    duck = {q: ab_fresh.best(draws.get(f"duck:{q}", [])) for q in queries}
    both = [q for q in queries if spark[q] is not None and duck[q] is not None]
    s_tot = round(sum(spark[q] for q in both), 4)
    d_tot = round(sum(duck[q] for q in both), 4)
    entry = {
        "ratio_basis": "isolated-only",
        "per_query_spark_isolated_s": {q: v for q, v in spark.items() if v is not None},
        "per_query_duckdb_s": {q: v for q, v in duck.items() if v is not None},
        "proc_walls": {s: [r.get("wall") for r in recs] for s, recs in draws.items()},
        "spark_total_s": s_tot,
        "duckdb_total_s": d_tot,
        "ratio": round(s_tot / d_tot, 3) if d_tot > 0 else None,
        "per_query_ratio": {
            q: round(spark[q] / duck[q], 3) if duck[q] > 0 else None for q in both
        },
    }
    capped = sorted(s for s, recs in draws.items() if any(r.get("capped") for r in recs))
    if capped:
        entry["capped"] = capped
    failed = [q for q in queries if q not in both]
    if failed:
        entry["failed_queries"] = failed
    return entry


def write_doc(path: str, family: str, queries: list[str], factors: dict[str, dict]) -> None:
    """Merge one family's factor entries into the JSON file at `path`."""
    doc: dict = {}
    if os.path.exists(path):
        with open(path) as fh:
            doc = json.load(fh)
    doc["protocol"] = PROTOCOL.format(procs=PROCS, cap=ab_fresh.CAP_S)
    fam = doc.setdefault(family, {})
    fam["queries"] = queries
    fam.setdefault("factors", {}).update(factors)
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"# wrote {path} [{family}]", file=sys.stderr)


def main() -> int:
    out = os.environ.get("SPARK_GRAFT_CROSSOVER_OUT", "")
    family = os.environ.get("SPARK_GRAFT_CROSSOVER_FAMILY", "headline")
    summary: dict[str, dict] = {}
    for factor in FACTORS:
        corpus = grown.corpus(grown.BASE, factor, LAW)
        specs = [f"{arm}:{q}" for q in QUERIES for arm in ("registry", "duck")]
        recs = ab_fresh.draws(specs, PROCS, {"SPARK_GRAFT_SF_DIR": corpus})
        for spec, rows in recs.items():
            print(json.dumps({"factor": factor, "spec": spec, "draws": rows}), flush=True)
        summary[str(factor)] = summarize(recs, QUERIES)
        if out:
            write_doc(out if os.path.isabs(out) else os.path.join(REPO, out),
                      family, QUERIES, {str(factor): summary[str(factor)]})
    print(json.dumps({"summary": "engine_crossover", "factors": summary}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
