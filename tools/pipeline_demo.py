"""End-to-end 100 TB-posture demo: run the training-data pipeline
chain (filter → exact dedup → near-dup → semantic dedup → data
selection → packing) over a grown corpus and record, per stage, the
wall and the ACTUAL shuffle bytes each exchange moved (from the
executed plan's SQLMetrics — the same numbers the Spark UI shows).

The point of the artifact: the engine's scale claims are stated in
terms of WHAT THE SHUFFLES CARRY (hashes/signatures/ids, never text
or vectors); this prints the measured bytes so the claim is a number,
not an adjective.

Usage:
    python tools/pipeline_demo.py [CORPUS]   # default: sf0.1 grown 300x,
                                             # salted documents (tools/grown.py)
Prints one JSON line per stage and a markdown table at the end.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from hetnetdb_spark import registry  # noqa: E402
from hetnetdb_spark.session import get_spark  # noqa: E402
from tools import grown  # noqa: E402

CHAIN = [
    ("l09_quality_filter", "Gopher-style quality gate"),
    ("l01_exact_dedup", "exact dedup (md5 keeper, hash agg)"),
    ("l02_minhash_neardup", "MinHash 8x4 banded LSH near-dup"),
    ("l73_semantic_dedup_refined", "SemDeDup (k-means + tau prune)"),
    ("l77_dsir_selection", "DSIR importance selection"),
    ("l12_sequence_packing", "greedy sequence packing"),
]


def _walk_metrics(node, out: dict) -> None:
    cls = node.getClass().getSimpleName()
    if "QueryStage" in cls:
        _walk_metrics(node.plan(), out)
        return
    if "ReusedExchange" in cls:
        return  # bytes were counted at the original exchange
    name = node.nodeName()
    is_shuffle = "Exchange" in name and "Broadcast" not in name
    is_bcast = "BroadcastExchange" in name
    if is_shuffle or is_bcast:
        m = node.metrics()
        it = m.keysIterator()
        while it.hasNext():
            k = it.next()
            v = m.apply(k).value()
            if is_shuffle and k == "shuffleBytesWritten":
                out["shuffle_bytes"] += v
            if is_shuffle and k == "shuffleRecordsWritten":
                out["shuffle_records"] += v
            if is_bcast and k == "dataSize":
                out["broadcast_bytes"] += v
        if is_shuffle:
            out["n_shuffles"] += 1
        else:
            out["n_broadcasts"] += 1
        # Per-exchange attribution (r14): the aggregate byte total
        # cannot distinguish the fixture-split spread() repartition
        # (text, by design, no-op at production split counts) from a
        # plan regression moving corpus payloads. simpleString's
        # first line carries the partitioning + origin tag
        # (REPARTITION_BY_NUM vs ENSURE_REQUIREMENTS) and the output
        # columns.
        if is_shuffle:
            try:
                desc = node.simpleString(8).splitlines()[0][:160]
            except Exception:
                desc = name
            b = r = 0
            it = node.metrics().keysIterator()
            while it.hasNext():
                k = it.next()
                if k == "shuffleBytesWritten":
                    b = node.metrics().apply(k).value()
                elif k == "shuffleRecordsWritten":
                    r = node.metrics().apply(k).value()
            out.setdefault("exchanges", []).append(
                {"node": desc, "bytes": int(b), "records": int(r)}
            )
    for i in range(node.children().size()):
        _walk_metrics(node.children().apply(i), out)


def main() -> int:
    registry.load_all()
    spark = get_spark("pipeline-demo")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = sys.argv[1] if len(sys.argv) > 1 else grown.corpus(grown.BASE, 300, "documents", spark)
    rows = []
    only = {s for s in os.environ.get("SPARK_GRAFT_DEMO_STAGES", "").split(",") if s}
    for name, desc in CHAIN:
        if only and name not in only:
            continue
        fn = registry.QUERIES[name]
        fn(spark, corpus).toPandas()  # cold pass: JIT + page cache
        t0 = time.perf_counter()
        df = fn(spark, corpus)
        n_out = len(df.toPandas())
        wall = time.perf_counter() - t0
        stats = {
            "shuffle_bytes": 0,
            "shuffle_records": 0,
            "broadcast_bytes": 0,
            "n_shuffles": 0,
            "n_broadcasts": 0,
        }
        jplan = df._jdf.queryExecution().executedPlan()
        try:
            root = jplan.finalPhysicalPlan()
        except Exception:
            root = jplan
        _walk_metrics(root, stats)
        rec = {"stage": name, "desc": desc, "wall_s": round(wall, 3),
               "rows_out": n_out, **stats}
        rows.append(rec)
        print(json.dumps(rec), flush=True)
    print("\n| stage | wall s | exchanges | shuffle MB | shuffle rows | broadcast MB |")
    print("| --- | --- | --- | --- | --- | --- |")
    for r in rows:
        print(
            f"| {r['stage']} | {r['wall_s']} | {r['n_shuffles']} "
            f"| {r['shuffle_bytes'] / 1e6:.2f} | {r['shuffle_records']} "
            f"| {r['broadcast_bytes'] / 1e6:.2f} |"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
