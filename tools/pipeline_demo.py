"""End-to-end 100 TB-posture demo: run the training-data pipeline
chain (filter → exact dedup → near-dup → semantic dedup → data
selection → packing) over a grown corpus and record, per stage, the
wall and the ACTUAL shuffle bytes each exchange moved (from the
executed plan's SQLMetrics via ``audit.profile`` — the same numbers
the Spark UI shows).

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
from hetnetdb_spark.plans import audit  # noqa: E402
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


def _exchange_stats(records: list[dict]) -> dict:
    """Shuffle and broadcast totals from ``audit.profile`` records.

    Per-exchange attribution (r14): the byte total cannot tell the
    fixture-split spread() repartition (text, by design, a no-op at
    production split counts) from a plan regression moving corpus
    payloads; each exchange's first line carries its partitioning and
    origin tag (REPARTITION_BY_NUM vs ENSURE_REQUIREMENTS)."""
    shuffles = [r for r in records if audit.is_shuffle(r["operator"])]
    bcasts = [r for r in records if "BroadcastExchange" in r["operator"]]
    exchanges = [
        {
            "node": r["node"],
            "bytes": int(r["metrics"].get("shuffleBytesWritten", 0)),
            "records": int(r["metrics"].get("shuffleRecordsWritten", 0)),
        }
        for r in shuffles
    ]
    return {
        "shuffle_bytes": sum(e["bytes"] for e in exchanges),
        "shuffle_records": sum(e["records"] for e in exchanges),
        "broadcast_bytes": sum(r["metrics"].get("dataSize", 0) for r in bcasts),
        "n_shuffles": len(shuffles),
        "n_broadcasts": len(bcasts),
        "exchanges": exchanges,
    }


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
        # Re-runs only the final stage: the materialized exchanges
        # keep the metrics of the timed run.
        stats = _exchange_stats(audit.profile(df))
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
