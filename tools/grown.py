"""Grown corpora: the fixture replicated F times under a named growth law.

The 100 TB claim is a statement about *slope*: a plan that is
scan-bound with bounded shuffles should scale near-linearly in input
size, while anything quadratic or driver-bottlenecked blows past
linear. Every scale tool measures that slope on corpora built here.

Replication keeps every distribution identical but multiplies fact
row counts. Replica ``i`` offsets its id column by ``i * ID_STEP`` so
keys stay unique where they were unique; fact rows keep the SAME
dimension keys, mirroring fact growth over a fixed dimension space.
Dimension tables are copied through unchanged. Replica 0 is always
the base rows verbatim.

The laws (each kept exactly as recorded artifacts were built with it):

  verbatim    lineitem/orders/events replicated, nothing mutated.
  documents   verbatim, plus documents as a fact whose replicas are
              vowel-salted (the "v2" corpus; see ``_salt``).
  embeddings  verbatim, plus embeddings as a fact, vectors unchanged.
  mutated     documents and embeddings as facts, each replica made
              dissimilar from every other (``_prefix_words``,
              ``_shift``): more documents at the same per-document
              duplicate structure, the way real corpora grow.

Verbatim replicas are degenerate for pair-generating queries: every
document gains F-1 exact copies, so candidate mass grows
quadratically in F because the DATA gains quadratic true-duplicate
mass. That measures the corpus, not the operator; the salted and
mutated laws exist to measure the operator.

A corpus lives under ``.scratch/grown_<law>_<base tag>_<F>x`` and is
reused across runs. The base tag names the base directory and hashes
its real path, so a corpus grown from sf0.01 never satisfies a
request for sf0.1. A table counts as built only with its ``_SUCCESS``
marker; a directory left by an interrupted write is rebuilt.

Usage (library): ``grown.corpus(base, factor, law[, spark]) -> dir``.
Factor 1 returns ``base`` itself.
"""

from __future__ import annotations

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from hetnetdb_spark.schemas import TABLE_NAMES  # noqa: E402
from hetnetdb_spark.scratch import SCRATCH_ROOT  # noqa: E402

#: The base corpus every scale tool grows from.
BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

ID_STEP = 100_000_000
DIM = 64


def _salt(c, i: int):
    """Replica salt: map the five vowels to the replica index's five
    digits — a pervasive, deterministic, length-preserving mutation
    that decorrelates the replica's shingles/minhashes from every
    other replica's, keeping near-dup candidate density at the BASE
    corpus's natural level as the corpus grows (real-data shape).

    Why: verbatim replication makes every doc gain F-1 exact copies,
    so banded-LSH candidate pairs grow quadratically in the factor
    (~4G pairs at 300×; measured: DuckDB OOM/903 s, Spark exhausted
    spill disk). Real corpora hold near-dup density roughly constant
    as they grow; the salt restores that, so the crossover measures
    the ALGORITHM's scaling, not a synthetic-corpus pathology."""
    return c.withColumn("text", F.translate(F.col("text"), "aeiou", f"{i % 100000:05d}"))


def _prefix_words(c, i: int):
    """Every word in replica i is prefixed ``r{i}-``, so every
    shingle differs across replicas and cross-replica Jaccard is
    exactly 0 while within-replica structure is untouched."""
    return c.withColumn("text", F.regexp_replace("text", r"(\S+)", f"r{i}-$1"))


def _shift(c, i: int):
    """Replica i's vector is circularly shifted by i dimensions, so
    cross-replica cosines collapse to near-random while
    within-replica geometry is preserved bit-for-bit."""
    s = i % DIM
    if not s:
        return c
    return c.withColumn(
        "embedding",
        F.expr(f"concat(slice(embedding, {s + 1}, {DIM - s}), slice(embedding, 1, {s}))"),
    )


_FACTS = {
    "lineitem": ("l_orderkey", None),
    "orders": ("o_orderkey", None),
    "events": ("event_id", None),
}

#: law -> {fact table: (id column to offset, mutation of replicas i > 0)}.
LAWS = {
    "verbatim": _FACTS,
    "documents": {**_FACTS, "documents": ("doc_id", _salt)},
    "embeddings": {**_FACTS, "embeddings": ("vec_id", None)},
    "mutated": {"documents": ("doc_id", _prefix_words), "embeddings": ("vec_id", _shift)},
}


def corpus_dir(base: str, factor: int, law: str) -> str:
    """Where ``corpus`` keeps the grown corpus (built or not)."""
    real = os.path.realpath(base)
    tag = os.path.basename(real.rstrip("/")).replace(".", "_")
    digest = hashlib.sha1(real.encode()).hexdigest()[:8]
    return os.path.join(SCRATCH_ROOT, f"grown_{law}_{tag}_{digest}_{factor}x")


def corpus(base: str, factor: int, law: str, spark=None) -> str:
    """Build (or reuse) ``base`` grown ``factor``× under ``law`` and
    return its directory. Builds with ``spark`` if given, else with a
    session of its own that is stopped afterwards."""
    if law not in LAWS:
        raise ValueError(f"unknown growth law {law!r}; valid: {sorted(LAWS)}")
    if factor == 1:
        return base
    out = corpus_dir(base, factor, law)
    todo = [t for t in TABLE_NAMES if not os.path.exists(os.path.join(out, f"{t}.parquet", "_SUCCESS"))]
    if not todo:
        return out
    own = spark is None
    if own:
        from hetnetdb_spark.session import get_spark  # noqa: PLC0415

        spark = get_spark("grown-build")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        for name in todo:
            src = spark.read.parquet(os.path.join(base, f"{name}.parquet"))
            if name in LAWS[law]:
                id_col, mutate = LAWS[law][name]
                out_df = None
                for i in range(factor):
                    c = src.withColumn(id_col, F.col(id_col) + F.lit(i * ID_STEP))
                    if mutate is not None and i > 0:
                        c = mutate(c, i)
                    out_df = c if out_df is None else out_df.unionByName(c)
                src = out_df
            src.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
    finally:
        if own:
            spark.stop()
    return out
