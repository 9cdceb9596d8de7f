"""LLM-op slope program — corpus-growth measurements for the dedup /
similarity family (round 7).

The corpus grows under tools/grown.py's ``mutated`` law: more
documents at the same per-document duplicate structure, each replica
made dissimilar from every other (word prefixes for documents, a
circular shift for embeddings). Verbatim replication would make every
replica an exact duplicate of its source, so candidate mass would
measure the corpus's quadratic true-duplicate mass, not the operator.

Under that growth law the scale-path claims become measurable:

1. ``l02_minhash_neardup`` — candidate mass should track true
   duplicate mass (≈ F×), NOT pairs (F²×); wall should follow.
2. Min-label connected components (the shared loop behind l11/l16)
   over the MinHash-verified text pairs — per-round work ∝ |E|+|V|,
   rounds ∝ log(diameter): wall ≈ linear.
3. ``l03_knn_ivf`` — broadcast centroid assignment is one linear
   pass; probe cost ∝ nprobe/K of the corpus.
4. The hyperplane-banding candidate LAW (l04/l16's 16×4
   parameters): on direction-random data the banding admits
   ≈ 1-(15/16)¹⁶ ≈ 64% of all pairs, i.e. candidates ≈ 0.32·N² —
   quadratic with a tunable constant. Measured here (band-collision
   count at 1× and 10×) and recorded honestly in PLANS.md: banding
   bounds the JOIN mechanism (hash buckets, never a materialized
   all-pairs), but for direction-random corpora the corpus-scale
   embedding-dedup path is cluster-then-compare (l03 IVF /
   SemDeDup), not hyperplane banding alone.

Every measurement is timed with tools/ab_fresh.py's loop (cold, then
min-of-3, shuffles reaped between passes) in one session, so the 1x
row is not the process's first, JIT-cold execution of its code path;
the counts come from the last pass's result.

Usage:  python tools/llm_slope.py            # factors 10, 30
        SPARK_GRAFT_LLM_FACTORS=10 python tools/llm_slope.py
Prints one JSON line per measurement plus a final summary line.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from pyspark.sql import functions as F  # noqa: E402

import ab_fresh  # noqa: E402
import grown  # noqa: E402
from hetnetdb_spark import registry  # noqa: E402
from hetnetdb_spark.pipeline.similarity import (  # noqa: E402
    SEL_BANDS,
    SEL_BITS,
    band_candidates,
    banded_keys,
)
from hetnetdb_spark.session import get_spark  # noqa: E402

FACTORS = [
    int(s)
    for s in os.environ.get("SPARK_GRAFT_LLM_FACTORS", "10,30").split(",")
    if s
]

# Each measurement returns (run, counts): ``run()`` is one timed pass
# that builds and executes everything afresh; ``counts(result)`` reads
# the row's counts from the last pass's result.


def minhash_row(spark, sf_dir: str):
    fn = registry.QUERIES["l02_minhash_neardup"]
    return (
        lambda: fn(spark, sf_dir).toPandas(),
        lambda pdf: {
            "n_candidates": int(pdf.iloc[0]["n_candidates"]),
            "n_verified": int(pdf.iloc[0]["n_verified"]),
        },
    )


def cc_row(spark, sf_dir: str):
    """Min-label CC over the MinHash-verified TEXT pairs — the
    corpus-scale dedup-clustering composition (l02 edges → shared
    l11/l16 loop)."""
    from hetnetdb_spark.pipeline.dedup import (
        JACCARD_THRESHOLD,
        _SHINGLE_SPARK,
        _banded_signatures,
        _min_label_components,
    )
    def run():
        docs_full = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        docs = docs_full.select("doc_id", F.expr(_SHINGLE_SPARK).alias("sh"))
        banded = _banded_signatures(docs)
        cand = band_candidates(banded, id_col="doc_id", key="bucket")
        sh_a = docs.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
        sh_b = docs.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
        inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
        union = F.size(F.col("a_sh")) + F.size(F.col("b_sh")) - inter
        pairs = (
            cand.join(sh_a, "a_id")
            .join(sh_b, "b_id")
            .filter(inter.cast("double") / union.cast("double") >= JACCARD_THRESHOLD)
            .select("a_id", "b_id")
        )
        nodes = docs.select(F.col("doc_id").alias("id"))
        return _min_label_components(pairs, nodes).count()

    return run, lambda n: {"n_components": int(n)}


def ivf_row(spark, sf_dir: str):
    fn = registry.QUERIES["l03_knn_ivf"]
    return lambda: fn(spark, sf_dir).toPandas(), lambda pdf: {"rows": len(pdf)}


def substring_row(spark, sf_dir: str):
    """l67: corpus-level gram-position counts + wall — positions and
    dup mass should both track corpus size under mutated-replica
    growth (per-word prefixes make cross-replica grams distinct)."""
    fn = registry.QUERIES["l67_substring_dedup"]
    return (
        lambda: fn(spark, sf_dir).toPandas(),
        lambda pdf: {
            "n_positions": int(pdf["n_positions"].sum()),
            "dup_positions": int(pdf["dup_positions"].sum()),
        },
    )


def banding_row(spark, sf_dir: str, **params):
    """Band-collision count for a hyperplane banding, count only
    (never materialized beyond the aggregate). With default
    parameters: the l04/l16 banding, the measured constant of the
    quadratic candidate law on direction-random data. With
    ``SEL_BANDS``×``SEL_BITS``: the SELECTIVE 8×8 regime
    (`l04_simjoin_lsh_tuned`'s parameters) — round-9 verdict item:
    confirm the ~3.6% fixture-scale candidate rate is a property of
    the REGIME (a constant rate ⇒ quadratic count with a 20× smaller
    constant than 16×4), not of the fixture. Cross-replica cosines
    are near-random by construction, so the rate should hold ≈
    1-(255/256)⁸ ≈ 3% at every factor."""

    def emb():
        return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    n = emb().count()
    all_pairs = n * (n - 1) // 2
    return (
        lambda: band_candidates(banded_keys(emb(), **params), id_col="vec_id").count(),
        lambda n_cand: {
            "n_vectors": n,
            "n_candidates": int(n_cand),
            "candidate_rate": round(n_cand / all_pairs, 4),
        },
    )


MEASUREMENTS = {
    "l02_minhash_neardup": minhash_row,
    "cc_minhash_components": cc_row,
    "l03_knn_ivf": ivf_row,
    "l67_substring_dedup": substring_row,
    "lsh_banding_law": banding_row,
    "lsh_tuned_8x8": lambda spark, sf_dir: banding_row(spark, sf_dir, n_bands=SEL_BANDS, bits=SEL_BITS),
}

#: The banding law is quadratic by design on direction-random data;
#: cap its factor so the probe stays countable (10× = 20k vectors,
#: ~128M collision pairs through the count — fine; 30× would push
#: 1.15B through the dedup shuffle for no additional insight).
BANDING_LAW_MAX_FACTOR = 10


def main() -> None:
    registry.load_all()
    spark = get_spark("llm-slope")
    spark.sparkContext.setLogLevel("ERROR")

    report: dict[str, dict[str, dict]] = {m: {} for m in MEASUREMENTS}
    for factor in [1, *FACTORS]:
        sf_dir = grown.corpus(grown.BASE, factor, "mutated", spark)
        for m, measure in MEASUREMENTS.items():
            if m == "lsh_banding_law" and factor > BANDING_LAW_MAX_FACTOR:
                continue
            run, counts = measure(spark, sf_dir)
            walls, result = ab_fresh.time_passes(run, lambda: ab_fresh.reap_shuffles(spark))
            row = {"wall_s": walls["wall"], "cold_s": walls["cold"], **counts(result)}
            if walls["capped"]:
                row["capped"] = True
            report[m][f"{factor}x"] = row
            print(json.dumps({m: {f"{factor}x": row}}), flush=True)

    for m, rows in report.items():
        base = rows["1x"]["wall_s"]
        rows["slope"] = {
            k: round(v["wall_s"] / base, 2)
            for k, v in rows.items()
            if k != "1x" and isinstance(v, dict)
        }
    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()
