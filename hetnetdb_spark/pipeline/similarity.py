"""Embedding similarity search — SURVEY §2.9 L3/L4 over the
``embeddings`` table (64-dim float32, pre-normalized ⇒ cosine = dot).

Three physical strategies, in increasing scale:

- **brute force** (`emb_topk_cosine`, `l03_knn_batch`): broadcast
  the tiny query side, scan all candidates once, `zip_with` +
  `aggregate` dot product in codegen, TakeOrderedAndProject top-k.
  O(N·d) per query batch, scan-bound, no shuffle of vectors —
  the right baseline at any scale where a full scan is acceptable.
- **LSH-bucketed join** (`l04_simjoin_lsh`): 16-bit random-
  hyperplane signatures (deterministic seed), banded 4×4; candidate
  pairs only within equal band values, then exact verification.
  Replaces the O(N²) cross join with a shuffle on 4·N band keys —
  the standard near-dup/similarity-join shape at corpus scale.
- **IVF partition pruning** (`l03_knn_ivf`): assign vectors to the
  nearest of K fixed centroids, probe only the `nprobe` closest
  partitions for a query — scanned fraction ≈ nprobe/K.

Oracle-checked where exact (brute force, exact threshold join);
rows-only where approximate by construction (LSH, IVF).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hetnetdb_spark.catalog import load_tables, spread
from hetnetdb_spark.expr import dot, r6
from hetnetdb_spark.registry import query
from hetnetdb_spark.scratch import SCRATCH
from hetnetdb_spark.session import app_id

DIM = 64

# DuckDB-side double-accumulated dot product between two FLOAT[]
# columns (list_dot_product accumulates in float32 — not hash-stable
# against Spark's double accumulation, so it is spelled out).
_DUCK_DOT = (
    "list_aggregate(list_transform(range(1, {d} + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
)


def duck_dot(a: str, b: str, d: int = DIM) -> str:
    return _DUCK_DOT.format(a=a, b=b, d=d)


# --------------------------------------------------------------------------
# Headline: emb_topk_cosine (L3 + F5 + O3) — BASELINE.md row 8
# --------------------------------------------------------------------------

EMB_TOPK_ORACLE = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       e.label,
       ROUND({duck_dot("e.embedding", "q.qe")}, 6) AS cosine
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id
LIMIT 10
"""


@query("emb_topk_cosine", oracle=EMB_TOPK_ORACLE)
def emb_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline L3 — exact cosine top-10 for one query vector.

    The query vector is resolved ONCE at plan-build time (a 1-row
    lookup) and inlined as an array literal — prepared-statement
    parameter binding. Execution is then a single job: scan
    candidates once, dot product against the literal, top-k via
    TakeOrderedAndProject. The previous shape broadcast the 1-row
    query side instead; that is the right plan when the parameter
    must stay late-bound, but it costs a whole extra job (broadcast
    build) per execution — measured 72 ms vs 67 ms warm at sf0.1,
    where the floor for ANY Spark action on this box is ~38 ms
    (see PLANS.md round-6 floor analysis). The registry's plan
    cache makes the build-time lookup once-per-(session, sf).
    No shuffle of embeddings at any scale; the scan stays one
    stage at any candidate count. Both engines order by the
    6dp-rounded score + vec_id, so ties cut identically.
    """
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:
        # The old broadcast-join shape degraded to an empty frame;
        # the plan-build-time binding must fail loudly instead of
        # with an opaque 'NoneType is not subscriptable'.
        raise ValueError(
            f"embeddings at {sf_dir!r} has no vec_id=0 query row; "
            "emb_topk_cosine binds its parameter from that row"
        )
    qlit = F.array(*[F.lit(float(v)) for v in qrow[0]])
    return (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            r6(dot(F.col("embedding"), qlit)).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# L3 — batched kNN (many query vectors at once)
# --------------------------------------------------------------------------

L3_BATCH_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
scored AS (
    SELECT q.qid, c.vec_id,
           ROUND({duck_dot("c.embedding", "q.qe")}, 6) AS cosine
    FROM c, q
),
ranked AS (
    SELECT qid, vec_id, cosine,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id) AS rn
    FROM scored
)
SELECT CAST(qid AS BIGINT) AS qid, vec_id, cosine, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= 3
"""


@query("l03_knn_batch", oracle=L3_BATCH_ORACLE)
def l03_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 — top-3 neighbors for each of 5 query vectors in ONE pass.

    Broadcast the query batch, score every (candidate × query) pair
    in codegen, then per-query window top-k. One candidate scan
    total — per-query scans would be Q× the IO. The window
    partitions on qid (|Q| groups), so the final shuffle carries
    only scored pairs, never raw vectors at N× scale.
    """
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cand = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    scored = cand.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        r6(dot(F.col("embedding"), F.col("qe"))).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id", "cosine", F.col("rn").cast("int").alias("rn"))
    )


# --------------------------------------------------------------------------
# L4 — exact pairwise similarity join above threshold
# --------------------------------------------------------------------------

SIM_THRESHOLD = 0.35

L4_EXACT_ORACLE = f"""
WITH p AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS a_label, b.label AS b_label,
           ROUND({duck_dot("a.embedding", "b.embedding")}, 6) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
)
SELECT a_id, b_id, a_label, b_label, cosine
FROM p
WHERE cosine >= {SIM_THRESHOLD}
"""


#: Memoized exact-pairs plans, keyed by (applicationId,
#: DataFrame.semanticHash(), tau) — the input DataFrames are
#: themselves cached per (app, sf, table) in catalog._TABLE_CACHE,
#: so the semantic hash is stable for a given binding.
_PAIRS_CACHE: dict[tuple, DataFrame] = {}


def exact_pairs(spark: SparkSession, emb: DataFrame, tau: float) -> DataFrame:
    """All (a_id, b_id, cosine) pairs with a_id < b_id and
    r6(cosine) ≥ tau, via per-partition float64 GEMM.

    The O(N²/2) semantics are inherent (this is the exact twin the
    LSH paths are verified against), but HOW the N² dots are
    computed matters ~25×: the previous broadcast nested-loop
    evaluated an interpreted `zip_with`+`aggregate` per pair
    (~11 µs/pair — measured 23 s for N=2000 at sf0.1; an unrolled
    64-term `element_at` sum was *worse*, 43 s, because 64 null
    checks defeat codegen). Instead, ship the whole embedding
    matrix once via `sc.broadcast` — the SAME driver materialization
    + per-executor copy Spark's own `broadcast(b)` hash relation
    paid — and let each partition compute its A-rows × Bᵀ block as
    one BLAS call in float64 (matching the oracle's CAST-to-DOUBLE
    accumulation; both sides round to 6dp before the threshold).

    Rounding parity: the kernel emits RAW float64 dots, prefiltered
    with a 5e-7 margin below tau; the authoritative 6dp rounding and
    threshold run Spark-side through `r6` (HALF_UP — DuckDB ROUND's
    mode), never numpy's `np.round` (half-to-even) — the exact
    divergence class the u08 advice fix removed. The margin covers
    round-promotion (raw 0.3499996 → 0.35) at the prefilter, and a
    GUARD BAND protects the final rounding itself: a blocked-BLAS
    dot can differ from the oracle's sequential left-associative
    fold by a few ulps, so any emitted dot within 1e-12 of a 6dp
    HALF_UP boundary (|...xxx.5| scaled by 1e6) is recomputed with
    the same sequential fold DuckDB's `list_aggregate('sum')` and
    this repo's `dot()` (zip_with+aggregate) use — making all three
    spellings agree on rounded membership for every pair, not just
    pairs away from boundaries.

    The (ids, matrix) broadcast is memoized per (application,
    plan, tau): every caller — and the bench's warm loop — reuses
    one driver collect + one broadcast per table binding instead of
    re-shipping the same immutable matrix on each call.

    Scale posture unchanged: one broadcast side must fit in memory,
    exactly as before — the corpus-scale path is the banded LSH
    join, which never materializes N² anything.
    """
    import pandas as pd

    key = (app_id(spark), emb.semanticHash(), tau)
    cached = _PAIRS_CACHE.get(key)
    if cached is not None:
        return cached

    pdf = emb.select("vec_id", "embedding").toPandas()
    b_ids = pdf["vec_id"].to_numpy()
    bmat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast((b_ids, bmat))
    margin = tau - 5e-7

    def gen(batches):
        ids_b, B = bc.value
        for part in batches:
            if not len(part):
                continue
            a_ids = part["vec_id"].to_numpy()
            A = np.stack(part["embedding"].to_numpy()).astype(np.float64)
            C = A @ B.T
            ai, bi = np.nonzero((C >= margin) & (a_ids[:, None] < ids_b[None, :]))
            raw = C[ai, bi].copy()
            # Guard band: a raw dot within 1e-12 of a 6dp HALF_UP
            # rounding boundary gets recomputed with the oracle's
            # sequential left-associative fold (plain += loop), so
            # BLAS-vs-fold ulp drift can never flip r6 membership.
            frac = np.abs((np.abs(raw) * 1e6) % 1.0 - 0.5)
            for r in np.nonzero(frac < 1e-6)[0]:
                arow, brow = A[ai[r]], B[bi[r]]
                s = 0.0
                for k in range(arow.shape[0]):
                    s += arow[k] * brow[k]
                raw[r] = s
            yield pd.DataFrame({"a_id": a_ids[ai], "b_id": ids_b[bi], "raw": raw})

    pairs = (
        emb.select("vec_id", "embedding")
        .mapInPandas(gen, "a_id bigint, b_id bigint, raw double")
        .select("a_id", "b_id", r6(F.col("raw")).alias("cosine"))
        .filter(F.col("cosine") >= tau)
    )
    _PAIRS_CACHE[key] = pairs
    return pairs


@query("l04_simjoin_exact", oracle=L4_EXACT_ORACLE)
def l04_simjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — exact all-pairs similarity join (cosine ≥ 0.35).

    Honest O(N²/2) via the GEMM kernel in `exact_pairs` (see its
    docstring for the 25× story); labels rejoin via two broadcast
    hash joins on the tiny (vec_id, label) projection — no shuffle.
    At corpus scale the same semantics run through
    `l04_simjoin_lsh`, which this query is the verification oracle
    for.
    """
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    pairs = exact_pairs(spark, emb, SIM_THRESHOLD)
    lab = emb.select("vec_id", "label")
    return (
        pairs.join(
            F.broadcast(lab.select(F.col("vec_id").alias("a_id"), F.col("label").alias("a_label"))),
            "a_id",
        )
        .join(
            F.broadcast(lab.select(F.col("vec_id").alias("b_id"), F.col("label").alias("b_label"))),
            "b_id",
        )
        .select("a_id", "b_id", "a_label", "b_label", "cosine")
    )


# --------------------------------------------------------------------------
# L4 scale path — LSH-bucketed similarity join (rows-only: approximate)
# --------------------------------------------------------------------------

N_PLANES = 64
N_BANDS = 16
BITS_PER_BAND = N_PLANES // N_BANDS

# Recall target the banding is parameterized against (asserted by the
# golden test). For cosine ≥ 0.35 (θ ≈ 69.5°) a random hyperplane
# agrees with p = 1 - θ/π ≈ 0.61; P[share ≥1 of 16 4-bit bands]
# = 1 - (1 - p⁴)¹⁶ ≈ 0.91. The old 16-plane/4-band setup gave ≈ 0.49.
LSH_RECALL_TARGET = 0.9


def band_candidates(
    banded: DataFrame, id_col: str, key: str = "band_val"
) -> DataFrame:
    """Distinct (a_id < b_id) id pairs sharing any (band_id, key)
    bucket — the ONE definition of LSH candidate generation, shared
    by the hyperplane joins (l04/l04_tuned/l16, key='band_val'),
    the MinHash joins (l02/l70, key='bucket'), and the slope tool,
    so a change to candidate semantics cannot miss a caller. The
    join carries only (band keys, id) — the thin-shuffle invariant
    the family's plan tests pin."""
    a = banded.select("band_id", key, F.col(id_col).alias("a_id"))
    b = banded.select("band_id", key, F.col(id_col).alias("b_id"))
    return (
        a.join(b, ["band_id", key])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )


def _hyperplanes() -> np.ndarray:
    """Deterministic random hyperplanes (seed 42) — the 'trained'
    LSH model. 64×64 floats ship as plan literals (16 KB)."""
    rng = np.random.default_rng(42)
    return rng.standard_normal((N_PLANES, DIM))


def _band_structs(
    n_bands: int = N_BANDS,
    bits: int = BITS_PER_BAND,
    col: str = "embedding",
) -> list[F.Column]:
    """One (band_id, band_val) struct per band, band_val built
    directly from that band's plane signs. Per-band values avoid
    packing 64 bits into one signed long (bit 63 would overflow) and
    keep every expression inside codegen. Parameterized since round
    7 so the selective 8×8 regime (`l04_simjoin_lsh_tuned`) shares
    the same seed-42 planes and sign arithmetic as the default
    16×4; ``n_bands * bits`` must not exceed N_PLANES."""
    if n_bands * bits > N_PLANES:
        raise ValueError(
            f"banding {n_bands}x{bits} needs {n_bands * bits} planes "
            f"but only {N_PLANES} exist"
        )
    planes = _hyperplanes()
    out = []
    for b in range(n_bands):
        val = F.lit(0)
        for r in range(bits):
            p = b * bits + r
            plane = F.array(*[F.lit(float(x)) for x in planes[p]])
            val = val + F.when(
                dot(F.col(col), plane) > 0, F.lit(1 << r)
            ).otherwise(F.lit(0))
        out.append(F.struct(F.lit(b).alias("band_id"), val.alias("band_val")))
    return out


def banded_keys(
    df: DataFrame,
    id_col: str = "vec_id",
    n_bands: int = N_BANDS,
    bits: int = BITS_PER_BAND,
    col: str = "embedding",
) -> DataFrame:
    """Exploded (id, band_id, band_val) LSH keys — the analysis-cheap
    spelling of ``F.array(*_band_structs(...))`` + explode (r16,
    guide §7.3 "planning time itself can become the bottleneck").

    The r15-era spelling built 64 independent ``aggregate(zip_with)``
    dot expressions, each carrying its own 64-literal plane array —
    Catalyst ANALYSIS of that tree cost ~3.4 s per fresh
    QueryExecution at sf0.1 while executing in ~0.3 s (measured r16;
    the l04 family's wall was the driver, not the data). Here the
    planes ship as ONE nested array literal and a single ``transform``
    lambda computes every plane sign in plane order — same ``dot``
    fold (identical doubles, identical signs; banded output
    frame-identical to the old spelling, pinned by
    tests/test_plans.py::test_banded_keys_matches_band_structs), with
    analysis at ~0.45 s. Per-band values then assemble from the signs
    column with flat integer arithmetic; the ``_signs`` helper column
    never leaves this function.
    """
    if n_bands * bits > N_PLANES:
        raise ValueError(
            f"banding {n_bands}x{bits} needs {n_bands * bits} planes "
            f"but only {N_PLANES} exist"
        )
    planes = _hyperplanes()
    planes_lit = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in planes[p]])
            for p in range(n_bands * bits)
        ]
    )
    signs = F.transform(
        planes_lit,
        lambda p: F.when(dot(F.col(col), p) > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    structs = []
    for b in range(n_bands):
        val = F.lit(0)
        for r in range(bits):
            val = val + F.element_at("_signs", b * bits + r + 1) * F.lit(1 << r)
        structs.append(F.struct(F.lit(b).alias("band_id"), val.alias("band_val")))
    return (
        df.withColumn("_signs", signs)
        .select(id_col, F.explode(F.array(*structs)).alias("band"))
        .select(id_col, "band.band_id", "band.band_val")
    )


def _plane_dot_sql(plane: np.ndarray, col: str = "embedding") -> str:
    """embedding · plane as a left-associative SQL sum of literal
    terms. Bit-reproducibility argument: Spark's `dot` folds
    ``aggregate(zip_with(...), 0.0, acc + v)`` in index order, and a
    left-associative ``t1 + t2 + ...`` chain adds in the same order
    (the leading 0.0 + t1 is exact in IEEE); each term is the same
    float32 element cast to double times the same double literal
    (``repr`` round-trips the exact float64), so both engines
    produce the identical double and the > 0 sign test cannot
    straddle."""
    return " + ".join(
        f"CAST({col}[{i + 1}] AS DOUBLE) * {float(plane[i])!r}"
        for i in range(DIM)
    )


def lsh_banded_sql() -> str:
    """WITH-clause fragment computing the banded LSH keys in DuckDB —
    the oracle twin of `_band_structs`, with the seed-42 hyperplanes
    inlined as literals (the 'model' IS 4096 constants, so the SQL
    simply states them: ~170 KB of generated text, parsed once).
    Yields CTEs `sig` (one row per vector, 16 band-value columns)
    and `banded` (exploded to (vec_id, band_id, band_val))."""
    planes = _hyperplanes()
    band_cols = []
    for b in range(N_BANDS):
        bits = " + ".join(
            f"CASE WHEN ({_plane_dot_sql(planes[b * BITS_PER_BAND + r])}) > 0 "
            f"THEN {1 << r} ELSE 0 END"
            for r in range(BITS_PER_BAND)
        )
        band_cols.append(f"({bits}) AS bv{b}")
    sig = ",\n         ".join(band_cols)
    unpivot = "\n    UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_id, bv{b} AS band_val FROM sig"
        for b in range(N_BANDS)
    )
    return (
        f"sig AS MATERIALIZED (\n"
        f"  SELECT vec_id,\n         {sig}\n  FROM embeddings\n),\n"
        f"banded AS (\n    {unpivot}\n)"
    )


def lsh_candidate_cte() -> str:
    """`cand` CTE: distinct (a_id < b_id) pairs sharing any band
    bucket — the SQL twin of the Spark-side band self-join. ONE
    definition shared by the l04 and l16 oracles so the candidate
    semantics cannot silently diverge between them."""
    return """cand AS (
    SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.vec_id < b.vec_id
)"""


def lsh_verified_pairs_cte() -> str:
    """`pairs` CTE: candidates surviving exact cosine verification —
    shared by the l04 and l16 oracles (same threshold spelling, same
    r6 discipline)."""
    return f"""pairs AS (
    SELECT c.a_id, c.b_id
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.a_id
    JOIN embeddings eb ON eb.vec_id = c.b_id
    WHERE ROUND({duck_dot("ea.embedding", "eb.embedding")}, 6) >= {SIM_THRESHOLD}
)"""


def _l04_lsh_oracle() -> str:
    """Full-oracle twin of l04_simjoin_lsh: same bands, same
    candidate join, same exact verification and recall arithmetic."""
    return f"""
WITH {lsh_banded_sql()},
{lsh_candidate_cte()},
{lsh_verified_pairs_cte()},
exact AS (
    SELECT COUNT(*) AS n_exact
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND({duck_dot("a.embedding", "b.embedding")}, 6) >= {SIM_THRESHOLD}
)
SELECT 'lsh' AS strategy,
       (SELECT COUNT(*) FROM cand)     AS n_candidates,
       (SELECT COUNT(*) FROM pairs)    AS n_verified,
       (SELECT n_exact FROM exact)     AS n_exact,
       ROUND(CAST((SELECT COUNT(*) FROM pairs) AS DOUBLE)
             / GREATEST((SELECT n_exact FROM exact), 1), 6) AS recall
"""


@query("l04_simjoin_lsh", oracle=_l04_lsh_oracle())
def l04_simjoin_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 at scale — banded random-hyperplane LSH join. FULL oracle
    since round 4: the hyperplanes are deterministic constants, so
    the DuckDB twin simply inlines them (`lsh_banded_sql`) and
    replays banding, candidate join, and exact verification —
    approximate ≠ unverifiable.

    Pipeline: 64 fixed hyperplanes (seed 42) → 16 bands × 4 bits →
    explode to (band_id, band_val) keys → self-join on the band key
    (equi-join ⇒ shuffle hash join on 16·N short rows, NOT a cross
    join) → distinct pairs → exact cosine verification. The band
    join carries ONLY (band_id, band_val, vec_id) — embeddings are
    re-joined onto the deduplicated candidate pairs afterwards, so
    at corpus scale the 16× banding shuffle moves ids, not vectors.
    Self-measuring output: candidate count, verified count, exact
    count, and recall vs the exact join; parameters are sized for
    recall ≥ 0.9 at the 0.35 threshold (see LSH_RECALL_TARGET).

    Honest selectivity note: at this deliberately weak threshold
    (θ ≈ 69.5°, barely off random's 90°) a 0.9-recall banding admits
    ~64% of random pairs as candidates — hyperplane LSH cannot
    separate what cosine barely separates. At the thresholds real
    near-dup pipelines run (≥ 0.8, θ ≤ 37°, per-plane agreement
    ≈ 0.8) the SAME 16×4 banding keeps recall > 0.99 with a ~2%
    background rate; for low-threshold scans, prune with IVF
    (`l03_knn_ivf`) instead.
    """
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    emb = spread(emb, key="vec_id")  # CPU-bound hyperplane dots: see catalog.spread
    banded = banded_keys(emb)

    candidates = band_candidates(banded, id_col="vec_id")
    ea = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    eb = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    verified = (
        candidates.join(ea, "a_id")
        .join(eb, "b_id")
        .select("a_id", "b_id", r6(dot(F.col("a_emb"), F.col("b_emb"))).alias("cosine"))
        .filter(F.col("cosine") >= SIM_THRESHOLD)
    )

    n_candidates = candidates.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("lsh").alias("strategy"), F.col("n").alias("n_candidates")
    )
    n_verified = verified.agg(F.count(F.lit(1)).alias("n_verified"))
    n_exact = l04_simjoin_exact(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    return (
        n_candidates.crossJoin(n_verified)
        .crossJoin(n_exact)
        .select(
            "strategy",
            "n_candidates",
            "n_verified",
            "n_exact",
            r6(
                F.col("n_verified").cast("double")
                / F.greatest(F.col("n_exact"), F.lit(1)).cast("double")
            ).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# L4 selective regime — 8×8 banding on a planted near-dup benchmark
# --------------------------------------------------------------------------

SEL_BANDS = 8
SEL_BITS = 8
SEL_TAU = 0.9
N_PLANT = 64
PLANT_OFF = 10_000_000
PERT = 0.08
_MIX = 2654435761  # Knuth multiplicative constant — the eps hash


def _l04_tuned_oracle() -> str:
    """Twin of `l04_simjoin_lsh_tuned`: plants the same twins
    (identical double arithmetic — in-order sums, same literals),
    bands 8×8 with the same seed-42 planes, and replays candidates,
    verification, and planted-pair recall."""
    planes = _hyperplanes()
    band_cols = []
    for b in range(SEL_BANDS):
        bits = " + ".join(
            f"CASE WHEN ({_plane_dot_sql(planes[b * SEL_BITS + r], 'e')}) > 0 "
            f"THEN {1 << r} ELSE 0 END"
            for r in range(SEL_BITS)
        )
        band_cols.append(f"({bits}) AS bv{b}")
    sig = ",\n         ".join(band_cols)
    unpivot = "\n    UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_id, bv{b} AS band_val FROM sig"
        for b in range(SEL_BANDS)
    )
    return f"""
WITH base AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
),
praw AS (
    SELECT vec_id,
           list_transform(range(1, {DIM} + 1),
               i -> e[i] + (CAST(((vec_id * {DIM} + i) * {_MIX}) % 1000
                                 AS DOUBLE) / 1000.0 - 0.5) * {PERT!r}) AS tw
    FROM base WHERE vec_id < {N_PLANT}
),
pl AS (
    SELECT vec_id + {PLANT_OFF} AS vec_id,
           list_transform(tw, x -> x / sqrt(list_aggregate(
               list_transform(tw, y -> y * y), 'sum'))) AS e
    FROM praw
),
allv AS (SELECT * FROM base UNION ALL SELECT * FROM pl),
sig AS MATERIALIZED (
    SELECT vec_id,
           {sig}
    FROM allv
),
banded AS (
    {unpivot}
),
cand AS (
    SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.vec_id < b.vec_id
),
ver AS (
    SELECT c.a_id, c.b_id
    FROM cand c
    JOIN allv ea ON ea.vec_id = c.a_id
    JOIN allv eb ON eb.vec_id = c.b_id
    WHERE ROUND({duck_dot("ea.e", "eb.e")}, 6) >= {SEL_TAU}
),
pp AS (
    SELECT vec_id AS a_id, vec_id + {PLANT_OFF} AS b_id
    FROM base WHERE vec_id < {N_PLANT}
),
n AS (SELECT COUNT(*) AS n_vectors FROM allv)
SELECT 'lsh-8x8-planted' AS strategy,
       (SELECT n_vectors FROM n) AS n_vectors,
       (SELECT COUNT(*) FROM cand) AS n_candidates,
       ROUND(CAST((SELECT COUNT(*) FROM cand) AS DOUBLE)
             / ((SELECT n_vectors FROM n)
                * ((SELECT n_vectors FROM n) - 1) / 2.0), 6)
           AS candidate_rate,
       (SELECT COUNT(*) FROM ver) AS n_verified,
       (SELECT COUNT(*) FROM pp) AS n_planted,
       (SELECT COUNT(*) FROM ver v JOIN pp p
         ON v.a_id = p.a_id AND v.b_id = p.b_id) AS n_planted_recovered,
       ROUND(CAST((SELECT COUNT(*) FROM ver v JOIN pp p
                    ON v.a_id = p.a_id AND v.b_id = p.b_id) AS DOUBLE)
             / GREATEST((SELECT COUNT(*) FROM pp), 1), 6) AS recall_planted
"""


@query("l04_simjoin_lsh_tuned", oracle=_l04_tuned_oracle())
def l04_simjoin_lsh_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 selective regime — the high-threshold banding the l04
    docstring and the round-7 slope program (PLANS.md) point at:
    8 bands × 8 bits from the SAME seed-42 planes, so a random pair
    collides in a band with p≈2⁻⁸ and the corpus-wide candidate
    rate drops to ≈ 1-(255/256)⁸ ≈ 3% (vs 64% for the 16×4
    recall-first regime at the 0.35 demo threshold) — the measured
    counterpoint to the quadratic-constant law recorded in PLANS.md.

    Recall is reported against a PLANTED ground truth (the standard
    ANN-benchmark method, ground truth known by construction,
    because the direction-random fixture has no natural pairs at
    cosine ≥ 0.9 — see PLANS.md round 7): the first 64 vectors get
    a deterministic perturbed twin (eps from a Knuth-multiplicative
    hash of (vec_id, dim), renormalized ⇒ cosine ≈ 0.97-0.99), and
    the query reports how many planted pairs the banding + exact
    verification recovers. At per-plane agreement ≈ 0.94 the
    expected planted recall is 1-(1-0.94⁸)⁸ ≈ 0.999.

    Both engines build the twins with in-order double sums, the
    same literals, and the same index arithmetic, so banding signs
    and the 6dp-rounded verification threshold are bit-identical —
    the full-oracle discipline of l04/l16 extended through the
    planting step. Scale posture identical to l04: band join moves
    (band_id, band_val, vec_id) only; vectors re-join onto the
    candidate pairs."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    emb = spread(emb, key="vec_id")  # CPU-bound hyperplane dots: see catalog.spread
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    praw = base.filter(F.col("vec_id") < N_PLANT).select(
        "vec_id",
        F.transform(
            F.col("e"),
            lambda x, i: x
            + (
                (
                    (F.col("vec_id") * DIM + i + 1) * F.lit(_MIX) % 1000
                ).cast("double")
                / 1000.0
                - 0.5
            )
            * F.lit(PERT),
        ).alias("tw"),
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform("tw", lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    planted = praw.select(
        (F.col("vec_id") + PLANT_OFF).alias("vec_id"),
        F.transform("tw", lambda x: x / norm).alias("e"),
    )
    allv = base.unionByName(planted)

    banded = banded_keys(allv, n_bands=SEL_BANDS, bits=SEL_BITS, col="e")
    cand = band_candidates(banded, id_col="vec_id")
    ea = allv.select(F.col("vec_id").alias("a_id"), F.col("e").alias("a_e"))
    eb = allv.select(F.col("vec_id").alias("b_id"), F.col("e").alias("b_e"))
    ver = (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .filter(r6(dot(F.col("a_e"), F.col("b_e"))) >= SEL_TAU)
        .select("a_id", "b_id")
    )
    pp = base.filter(F.col("vec_id") < N_PLANT).select(
        F.col("vec_id").alias("a_id"),
        (F.col("vec_id") + PLANT_OFF).alias("b_id"),
    )

    n_vectors = allv.agg(F.count(F.lit(1)).alias("n_vectors"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_ver = ver.agg(F.count(F.lit(1)).alias("n_verified"))
    n_pp = pp.agg(F.count(F.lit(1)).alias("n_planted"))
    n_rec = (
        ver.join(pp, ["a_id", "b_id"])
        .agg(F.count(F.lit(1)).alias("n_planted_recovered"))
    )
    return (
        n_vectors.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_ver))
        .crossJoin(F.broadcast(n_pp))
        .crossJoin(F.broadcast(n_rec))
        .select(
            F.lit("lsh-8x8-planted").alias("strategy"),
            "n_vectors",
            "n_candidates",
            r6(
                F.col("n_candidates").cast("double")
                / (
                    F.col("n_vectors").cast("double")
                    * (F.col("n_vectors") - 1).cast("double")
                    / 2.0
                )
            ).alias("candidate_rate"),
            "n_verified",
            "n_planted",
            "n_planted_recovered",
            r6(
                F.col("n_planted_recovered").cast("double")
                / F.greatest(F.col("n_planted"), F.lit(1)).cast("double")
            ).alias("recall_planted"),
        )
    )


# --------------------------------------------------------------------------
# L3 scale path — IVF partition-pruned kNN (rows-only: approximate)
# --------------------------------------------------------------------------

N_CENTROIDS = 8
N_PROBE = 2


def _lloyd_refine(emb: DataFrame, seeds: DataFrame) -> DataFrame:
    """One Lloyd (k-means) iteration, entirely in DataFrame ops:
    assign every vector to its nearest seed (broadcast argmax pass),
    then recompute each cluster's centroid as the element-wise mean
    — expressed as DIM simultaneous `avg(element_at(...))`
    aggregates in ONE hash aggregate (partial/map-side combined), so
    the shuffle carries K×DIM partial sums, never vectors. More
    iterations = a `for` loop over this function; one suffices to
    demonstrate the iterative-algorithm shape.

    Determinism: Spark's `avg` accumulates doubles in partition
    order while the oracle's AVG folds sequentially, so the two
    double means can differ in the last ulps (~1e-16 absolute).
    Each mean is therefore rounded to 7dp BEFORE the FLOAT cast on
    both sides: the 1e-7 granule is ~10× coarser than float32's own
    quantization step at these magnitudes and ~1e9× coarser than
    the drift, so both engines quantize to the same FLOAT centroid
    unless a mean sits within 1e-16 of a 7dp boundary — a ~1e-9
    per-component residual, down from ~1e-8 with a raw cast."""
    w = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), F.col("cid"))
    assigned = (
        emb.crossJoin(F.broadcast(seeds))
        .select("vec_id", "embedding", "cid", dot(F.col("embedding"), F.col("ce")).alias("s"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return assigned.groupBy("cid").agg(
        F.array(
            *[
                F.round(F.avg(F.element_at("embedding", i + 1).cast("double")), 7)
                .cast("float")
                for i in range(DIM)
            ]
        ).alias("ce")
    )


def _ivf_assigned(emb: DataFrame):
    """(cent, assigned) — the deterministic one-pass Lloyd from the
    first-K seeds plus the broadcast argmax assignment. ONE
    definition shared by l03 / l35 / l69 (the Spark twin of
    `_ivf_assign_ctes`, which the oracles already share), so the
    recall audit can never silently measure a different assignment
    mechanism than the operator it certifies."""
    seeds = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cent = _lloyd_refine(emb.select("vec_id", "embedding"), seeds)
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("cscore").desc(), F.col("cid")
    )
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cid",
            dot(F.col("embedding"), F.col("ce")).alias("cscore"),
        )
        .withColumn("arn", F.row_number().over(w_assign))
        .filter(F.col("arn") == 1)
        .select("vec_id", "embedding", F.col("cid").alias("cluster"))
    )
    return cent, assigned


def _ivf_probe(emb: DataFrame, cent: DataFrame):
    """(q, probe) — the vec_id=0 query vector and its N_PROBE
    nearest centroid ids; shared by l03 / l69."""
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    probe = (
        cent.crossJoin(F.broadcast(q))
        .select("cid", dot(F.col("ce"), F.col("qe")).alias("qscore"))
        .orderBy(F.col("qscore").desc(), "cid")
        .limit(N_PROBE)
        .select("cid")
    )
    return q, probe


def _chain_dot(a: str, b: str) -> str:
    """a · b over two SQL list expressions as a left-associative
    64-term chain — the same fold order as Spark's `dot`, so both
    engines produce bit-identical doubles (see `_plane_dot_sql`)."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )


def _ivf_assign_ctes() -> str:
    """The seeds → seed_assign → cent → assigned CTE chain shared by
    the IVF (l03) and SemDeDup (l35) oracles — one deterministic
    Lloyd pass from fixed seeds, every dot a left-associative chain,
    centroid means 7dp-rounded before the FLOAT cast (see
    `_lloyd_refine` for why the quantization makes the argmax
    bit-reproducible across engines)."""
    cent_cols = ",\n           ".join(
        f"CAST(ROUND(AVG(CAST(embedding[{i}] AS DOUBLE)), 7) AS FLOAT) AS c{i}"
        for i in range(1, DIM + 1)
    )
    dot_cent = " + ".join(
        f"CAST(e.embedding[{i}] AS DOUBLE) * CAST(c.c{i} AS DOUBLE)"
        for i in range(1, DIM + 1)
    )
    return f"""
seeds AS (
    SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
seed_assign AS (
    SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, s.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ({_chain_dot("e.embedding", "s.embedding")}) DESC, s.cid
               ) AS rn
        FROM embeddings e CROSS JOIN seeds s
    ) WHERE rn = 1
),
cent AS (
    SELECT cid,
           {cent_cols}
    FROM seed_assign
    GROUP BY cid
),
assigned AS (
    SELECT vec_id, embedding, cid AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ({dot_cent}) DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
    ) WHERE rn = 1
)"""



def _l03_ivf_oracle() -> str:
    """Full-oracle twin of l03_knn_ivf — replays seed assignment,
    the Lloyd refinement (64 AVG-cast-FLOAT centroid components),
    final assignment, 2-centroid probing, and the pruned top-10.
    Every dot is a left-associative chain (`_chain_dot`) so argmax
    comparisons see bit-identical scores; centroid components pass
    through the same double-mean → FLOAT quantization on both
    engines."""
    dot_cent_q = " + ".join(
        f"CAST(q.embedding[{i}] AS DOUBLE) * CAST(c.c{i} AS DOUBLE)"
        for i in range(1, DIM + 1)
    )
    return f"""
WITH {_ivf_assign_ctes()},
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
probe AS (
    SELECT c.cid
    FROM cent c CROSS JOIN q
    ORDER BY ({dot_cent_q}) DESC, c.cid
    LIMIT {N_PROBE}
)
SELECT a.vec_id,
       ROUND({_chain_dot("a.embedding", "q.embedding")}, 6) AS cosine
FROM assigned a
CROSS JOIN q
WHERE a.cluster IN (SELECT cid FROM probe) AND a.vec_id <> 0
ORDER BY cosine DESC, a.vec_id
LIMIT 10
"""


@query("l03_knn_ivf", oracle=_l03_ivf_oracle())
def l03_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 at scale — IVF-style partition-pruned top-10. FULL oracle
    since round 4 (`_l03_ivf_oracle`): training is one deterministic
    Lloyd pass from fixed seeds, so the DuckDB twin replays it —
    every dot spelled as the same left-associative chain Spark's
    fold computes, making the argmax assignments bit-reproducible.

    Centroids are trained with one Lloyd iteration from the first 8
    vectors as seeds (`_lloyd_refine` — deterministic, all
    JVM-side). Every vector is assigned to its nearest centroid via
    one broadcast scoring pass; the query probes its 2 nearest
    centroids and scans only those inverted lists — scanned
    fraction ≈ nprobe/K. At 100 TB the assignment is the partition
    key for a bucketed layout, so a probe touches 2/8 of the files.
    """
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    cent, assigned = _ivf_assigned(emb)
    q, probe = _ivf_probe(emb, cent)
    return (
        assigned.join(
            F.broadcast(probe), assigned["cluster"] == probe["cid"], "left_semi"
        )
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", r6(dot(F.col("embedding"), F.col("qe"))).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# L69 — IVF recall@k contract (approximate vs exact, self-measuring)
# --------------------------------------------------------------------------


def _l69_oracle() -> str:
    dot_cent_q = " + ".join(
        f"CAST(q.embedding[{i}] AS DOUBLE) * CAST(c.c{i} AS DOUBLE)"
        for i in range(1, DIM + 1)
    )
    return f"""
WITH {_ivf_assign_ctes()},
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
probe AS (
    SELECT c.cid
    FROM cent c CROSS JOIN q
    ORDER BY ({dot_cent_q}) DESC, c.cid
    LIMIT {N_PROBE}
),
scanned AS (
    SELECT a.vec_id,
           ROUND({_chain_dot("a.embedding", "q.embedding")}, 6) AS cosine
    FROM assigned a CROSS JOIN q
    WHERE a.cluster IN (SELECT cid FROM probe) AND a.vec_id <> 0
),
ivf AS (
    SELECT vec_id FROM scanned ORDER BY cosine DESC, vec_id LIMIT 10
),
exact AS (
    SELECT e.vec_id
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY ROUND({_chain_dot("e.embedding", "q.embedding")}, 6) DESC,
             e.vec_id
    LIMIT 10
),
n AS (SELECT COUNT(*) - 1 AS n_candidates FROM embeddings)
SELECT 'ivf-nprobe2' AS strategy,
       CAST(10 AS BIGINT) AS k,
       (SELECT n_candidates FROM n) AS n_candidates,
       (SELECT COUNT(*) FROM scanned) AS n_scanned,
       ROUND(CAST((SELECT COUNT(*) FROM scanned) AS DOUBLE)
             / (SELECT n_candidates FROM n), 6) AS scan_fraction,
       (SELECT COUNT(*) FROM ivf JOIN exact USING (vec_id)) AS n_hits,
       ROUND((SELECT COUNT(*) FROM ivf JOIN exact USING (vec_id)) / 10.0, 6)
           AS recall_at_10
"""


@query("l69_ivf_recall", oracle=_l69_oracle())
def l69_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L69 — the ANN quality contract for the IVF path: recall@10
    of the nprobe=2 pruned search against the exact full scan, plus
    the scanned fraction that recall was bought at — the two numbers
    every IVF deployment tunes against (recall up ⇔ nprobe up ⇔
    scan fraction up). l03 certifies the IVF *mechanism* matches its
    replay; this pins the *quality* of the approximation as a
    checked value, so a centroid-training or probing regression
    shows up as a recall drop, not a silent result-set drift.

    Fully deterministic (the l03 argument end to end: Lloyd from
    fixed seeds, 7dp-quantized centroids, left-associative dots,
    ties cut by vec_id), so the DuckDB twin replays training,
    probing, the pruned scan, the exact scan, and the overlap —
    approximate ≠ unverifiable extended to the quality metric
    itself. Scale posture: the exact leg is one full scan (the
    brute-force baseline any recall audit pays once); the IVF leg
    scans ≈ nprobe/K of the corpus; both are single-pass,
    shuffle-free, broadcast-probe plans."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    cent, assigned = _ivf_assigned(emb)
    q, probe = _ivf_probe(emb, cent)
    scanned = (
        assigned.join(
            F.broadcast(probe), assigned["cluster"] == probe["cid"], "left_semi"
        )
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", r6(dot(F.col("embedding"), F.col("qe"))).alias("cosine"))
    )
    ivf = scanned.orderBy(F.col("cosine").desc(), "vec_id").limit(10).select(
        "vec_id"
    )
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", r6(dot(F.col("embedding"), F.col("qe"))).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    n_candidates = emb.filter(F.col("vec_id") != 0).agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    n_scanned = scanned.agg(F.count(F.lit(1)).alias("n_scanned"))
    n_hits = ivf.join(exact, "vec_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_candidates.crossJoin(F.broadcast(n_scanned))
        .crossJoin(F.broadcast(n_hits))
        .select(
            F.lit("ivf-nprobe2").alias("strategy"),
            F.lit(10).cast("bigint").alias("k"),
            "n_candidates",
            "n_scanned",
            r6(
                F.col("n_scanned").cast("double")
                / F.col("n_candidates").cast("double")
            ).alias("scan_fraction"),
            "n_hits",
            r6(F.col("n_hits") / F.lit(10.0)).alias("recall_at_10"),
        )
    )


# --------------------------------------------------------------------------
# L35 — SemDeDup-style semantic dedup (cluster-pruned pair search)
# --------------------------------------------------------------------------


def _l35_oracle() -> str:
    return f"""
WITH {_ivf_assign_ctes()},
pairs AS (
    SELECT a.cluster, b.vec_id AS dropped_id
    FROM assigned a JOIN assigned b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE ROUND(({_chain_dot("a.embedding", "b.embedding")}), 6)
          >= {SIM_THRESHOLD}
),
dropped AS (
    SELECT cluster, COUNT(DISTINCT dropped_id) AS n_dropped
    FROM pairs GROUP BY cluster
),
per AS (
    SELECT cluster, COUNT(*) AS n_vecs FROM assigned GROUP BY cluster
)
SELECT p.cluster,
       CAST(p.n_vecs AS BIGINT)                  AS n_vecs,
       CAST(COALESCE(d.n_dropped, 0) AS BIGINT)  AS n_dropped,
       CAST(p.n_vecs - COALESCE(d.n_dropped, 0) AS BIGINT) AS n_kept
FROM per p LEFT JOIN dropped d USING (cluster)
ORDER BY p.cluster
"""


@query("l35_semantic_dedup", oracle=_l35_oracle())
def l35_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L35 — SemDeDup-style semantic dedup: cluster the embedding
    space (the l03 IVF layout — one deterministic Lloyd pass from
    fixed seeds), then search duplicate pairs ONLY within each
    cluster and drop the higher id of every qualifying pair (the
    greedy lowest-id keeper l02_embedding_neardup defines). This is
    the published SemDeDup recipe: k-means prunes the O(N²) pair
    space to Σ n_k², betting that cross-cluster pairs are below
    threshold — l02's exact corpus-wide twin measures exactly what
    that bet loses.

    Scale: the pair join shuffles on the cluster id, so every
    comparison is partition-local; at 100 TB the assignment IS the
    bucketed layout (same argument as l03) and K grows with corpus
    size to hold n_k ≈ N/K bounded — the quadratic term never sees
    N. The assigned relation (id, vector, cluster) is cached: it
    feeds both sides of the pair join plus the rollup, and it is
    precisely the relation a deployment would persist.

    Determinism: assignment replays l03's bit-reproducible argmax
    (shared `_ivf_assign_ctes`); pair membership compares
    `r6(dot)` ≥ τ with both engines folding identical doubles in
    identical left-associative order (the l04 verified-pairs
    discipline)."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    _cent, assigned = _ivf_assigned(emb)
    assigned = assigned.cache()
    a = assigned.select(
        "cluster", F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb")
    )
    b = assigned.select(
        "cluster", F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb")
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(r6(dot(F.col("a_emb"), F.col("b_emb"))) >= F.lit(SIM_THRESHOLD))
        .groupBy("cluster")
        .agg(F.countDistinct("b_id").alias("n_dropped"))
    )
    per = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vecs"))
    nd = F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long")
    return (
        per.join(dropped, "cluster", "left")
        .select(
            "cluster",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            nd.alias("n_dropped"),
            (F.col("n_vecs") - F.coalesce(F.col("n_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# L36 — triangle count / clustering coefficient of the similarity graph
# --------------------------------------------------------------------------

L36_ORACLE = f"""
WITH p AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND({duck_dot("a.embedding", "b.embedding")}, 6) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
),
e AS (SELECT a_id, b_id FROM p WHERE cosine >= {SIM_THRESHOLD}),
tri AS (
    SELECT COUNT(*) AS t
    FROM e e1
    JOIN e e2 ON e2.a_id = e1.b_id
    JOIN e e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id
),
deg AS (
    SELECT id, COUNT(*) AS d
    FROM (SELECT a_id AS id FROM e UNION ALL SELECT b_id AS id FROM e)
    GROUP BY id
),
w AS (SELECT SUM(d * (d - 1) / 2) AS wedges FROM deg)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg)  AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e)    AS n_edges,
       (SELECT CAST(t AS BIGINT) FROM tri)         AS n_triangles,
       ROUND(3.0 * (SELECT t FROM tri)
             / NULLIF((SELECT wedges FROM w), 0), 6) AS clustering_coeff
"""


@query("l36_triangle_count", oracle=L36_ORACLE)
def l36_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L36 — triangle count + global clustering coefficient of the
    cosine-similarity graph: the structural profile that tells a
    dedup pipeline whether near-dup clusters are cliquish (safe to
    collapse transitively, l11/l16's assumption) or chainy (greedy
    keepers over-drop — the hazard l26's docstring names).

    Algorithm is the standard distributed one: edges oriented
    low-id → high-id (each triangle counted exactly once as
    a<b<c), then two equi-joins — e1(a,b) ⋈ e2(b,c) builds wedges,
    ⋈ e3(a,c) closes them. Orientation bounds the join fan-out by
    out-degree (production orients by DEGREE, the classic
    skew-killer for power-law graphs — id order stands in at
    fixture scale where degrees are near-uniform); every join
    shuffles ids only. Wedge count Σ d(d−1)/2 is exact integer
    arithmetic, so the coefficient is an r6 ratio of exact counts.

    Edge source here is the O(N²) GEMM verification twin (bounded
    to oracle scale); at corpus scale edges come from
    `l04_simjoin_lsh`'s banded candidates — identical downstream
    plan either way."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    e = exact_pairs(spark, emb, SIM_THRESHOLD).select("a_id", "b_id").cache()

    e1 = e.select(F.col("a_id").alias("a"), F.col("b_id").alias("b"))
    e2 = e.select(F.col("a_id").alias("b"), F.col("b_id").alias("c"))
    e3 = e.select(F.col("a_id").alias("a"), F.col("b_id").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"], "left_semi")
        .agg(F.count(F.lit(1)).alias("t"))
    )

    deg = (
        e.select(F.col("a_id").alias("id"))
        .unionAll(e.select(F.col("b_id").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias("wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            r6(
                F.lit(3.0)
                * F.col("t")
                / F.nullif(F.col("wedges"), F.lit(0)).cast("double")
            ).alias("clustering_coeff"),
        )
    )


# --------------------------------------------------------------------------
# L38 — PageRank over the similarity graph (unrolled-iteration oracle)
# --------------------------------------------------------------------------

PR_ITERS = 5
PR_DAMP = 0.85


def _l38_oracle() -> str:
    """PageRank replayed in SQL: the recursion is UNROLLED into
    PR_ITERS chained CTEs (r1..r5), each one join+aggregate over the
    previous rank table — no recursive-CTE aggregate restrictions to
    fight, and the iteration structure is literally visible. Every
    iteration rounds ranks at 9dp on both engines (contributions are
    O(1/N) sums of ≤deg terms, so merge-order drift ~1e-18 sits 9
    orders below the granule), making each iteration's input
    bit-identical across engines — the l03 centroid-quantization
    argument applied to an iterative fixpoint."""
    iters = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        iters.append(f"""
r{i} AS (
    SELECT n.id,
           ROUND((1 - {PR_DAMP}) / (SELECT n_nodes FROM meta)
                 + {PR_DAMP} * COALESCE(SUM(p.rank / p.deg), 0), 9) AS rank
    FROM nodes n
    LEFT JOIN dedges d ON d.dst = n.id
    LEFT JOIN (SELECT r.id, r.rank, g.deg
               FROM {prev} r JOIN degs g ON g.id = r.id) p
           ON p.id = d.src
    GROUP BY n.id
)""")
        prev = f"r{i}"
    chain = ",".join(iters)
    return f"""
WITH p AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND({duck_dot("a.embedding", "b.embedding")}, 6) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
),
e AS (SELECT a_id, b_id FROM p WHERE cosine >= {SIM_THRESHOLD}),
dedges AS (
    SELECT a_id AS src, b_id AS dst FROM e
    UNION ALL
    SELECT b_id AS src, a_id AS dst FROM e
),
nodes AS (SELECT DISTINCT src AS id FROM dedges),
degs AS (SELECT src AS id, COUNT(*) AS deg FROM dedges GROUP BY src),
meta AS (SELECT COUNT(*) AS n_nodes FROM nodes),
r0 AS (
    SELECT id, ROUND(1.0 / (SELECT n_nodes FROM meta), 9) AS rank FROM nodes
),{chain}
SELECT id, ROUND(rank, 6) AS rank
FROM {prev}
ORDER BY rank DESC, id
LIMIT 10
"""


@query("l38_pagerank", oracle=_l38_oracle())
def l38_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L38 — PageRank (5 damped iterations) over the undirected
    cosine-similarity graph: which documents sit at the center of
    near-duplicate neighborhoods — the authority signal a dedup
    pipeline can use to pick cluster representatives (l26 picks by
    quality; this picks by centrality).

    The iterative-DataFrame shape: each iteration is
    contributions-join → per-node aggregate, built LAZILY — five
    iterations compose into one DAG and Catalyst plans them
    together (for unbounded iteration counts the l11 pattern
    applies: localCheckpoint every few rounds to truncate lineage).
    Per-iteration state that shuffles is (node, rank) pairs only —
    at 100 TB the edge list is partitioned by dst and ranks
    co-partition with it, the standard distributed-PageRank layout.

    Determinism: ranks round at 9dp after every iteration on BOTH
    engines, so each iteration consumes bit-identical inputs and
    the oracle's unrolled-CTE replay (`_l38_oracle`) stays
    hash-exact; the final report rounds at r6 with the id
    tiebreaker. Isolated vectors (no qualifying edge) are excluded
    — PageRank over singletons is the uniform prior by definition."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    e = exact_pairs(spark, emb, SIM_THRESHOLD).select("a_id", "b_id")
    dedges = (
        e.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionAll(e.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .cache()
    )
    nodes = dedges.select(F.col("src").alias("id")).distinct()
    degs = dedges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    meta = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))

    ranks = nodes.crossJoin(F.broadcast(meta)).select(
        "id", F.round(F.lit(1.0) / F.col("n_nodes"), 9).alias("rank")
    )
    for _ in range(PR_ITERS):
        contrib = (
            dedges.join(ranks, dedges["src"] == ranks["id"])
            .join(degs, "src")
            .select(F.col("dst"), (F.col("rank") / F.col("deg")).alias("c"))
        )
        ranks = (
            nodes.join(contrib, nodes["id"] == contrib["dst"], "left")
            .groupBy("id")
            .agg(F.coalesce(F.sum("c"), F.lit(0.0)).alias("s"))
            .crossJoin(F.broadcast(meta))
            .select(
                "id",
                F.round(
                    (1 - PR_DAMP) / F.col("n_nodes") + PR_DAMP * F.col("s"), 9
                ).alias("rank"),
            )
        )
    return ranks.select("id", r6(F.col("rank")).alias("rank")).orderBy(
        F.col("rank").desc(), "id"
    ).limit(10)


# --------------------------------------------------------------------------
# L50 — k-NN majority-vote classification (labeled embeddings)
# --------------------------------------------------------------------------

L50_K = 5
L50_N_PROBES = 20

L50_ORACLE = f"""
WITH probes AS (
    SELECT vec_id AS probe_id, embedding AS pe
    FROM embeddings WHERE vec_id < {L50_N_PROBES}
),
corpus AS (
    SELECT vec_id, embedding, label
    FROM embeddings WHERE vec_id >= {L50_N_PROBES}
),
scored AS (
    SELECT p.probe_id, c.vec_id, c.label,
           row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY ({duck_dot("c.embedding", "p.pe")}) DESC, c.vec_id
           ) AS rn
    FROM probes p CROSS JOIN corpus c
),
votes AS (
    SELECT probe_id, label, COUNT(*) AS n_votes
    FROM scored WHERE rn <= {L50_K}
    GROUP BY probe_id, label
)
SELECT probe_id,
       CAST(label AS INT) AS pred_label,
       CAST(n_votes AS BIGINT) AS n_votes
FROM (
    SELECT probe_id, label, n_votes,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY n_votes DESC, label) AS vr
    FROM votes
) t
WHERE vr = 1
"""


@query("l50_knn_classify", oracle=L50_ORACLE)
def l50_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L50 — k-NN majority-vote classification: label each probe
    vector (vec_id < 20, treated as unlabeled) by the majority
    label of its 5 nearest labeled neighbors. The quality/topic
    router in a corpus pipeline — a handful of labeled seeds
    classify the whole embedding table with no trained model; also
    the standard eval harness for embedding quality (probe a held-
    out split, measure agreement).

    Exact brute-force scoring: the 20-probe side BROADCASTS and
    every corpus vector scores against all probes in one pass
    (JVM-side dot, the house sequential-fold spelling that is
    order-identical to the oracle's list_aggregate — emb_topk's
    parity argument), then WindowGroupLimit prunes to 5 rows per
    probe below the rank exchange. Votes are integers; majority
    tie-break is (votes DESC, label ASC), deterministic. At 100 TB
    the corpus side stays a linear scan per probe batch —
    probe-batch × IVF pruning (l03's layout) is the documented
    scale path, same as every other exact/approx twin here."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < L50_N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    corpus = emb.filter(F.col("vec_id") >= L50_N_PROBES).select(
        "vec_id", "embedding", "label"
    )
    scored = corpus.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        "vec_id",
        "label",
        dot(F.col("embedding"), F.col("pe")).alias("score"),
    )
    w_rank = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), "vec_id"
    )
    votes = (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= L50_K)
        .groupBy("probe_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w_major = Window.partitionBy("probe_id").orderBy(
        F.col("n_votes").desc(), "label"
    )
    return (
        votes.withColumn("vr", F.row_number().over(w_major))
        .filter(F.col("vr") == 1)
        .select(
            "probe_id",
            F.col("label").cast("int").alias("pred_label"),
            "n_votes",
        )
    )


# --------------------------------------------------------------------------
# L58 — label propagation communities (deterministic synchronous LPA)
# --------------------------------------------------------------------------

LPA_ITERS = 4


def _l58_oracle() -> str:
    """LPA replayed in SQL: LPA_ITERS synchronous rounds unrolled
    into chained CTEs (the l38 pattern). Every quantity is an exact
    integer — labels are vec_ids, votes are counts, and the argmax
    tie-break is (count DESC, label ASC) under ROW_NUMBER — so the
    replay is bit-exact with NO rounding discipline needed at all;
    this is the float-free member of the iterative-graph family."""
    iters = []
    prev = "l0"
    for i in range(1, LPA_ITERS + 1):
        iters.append(f"""
l{i} AS (
    SELECT n.id, COALESCE(w.new_label, p.label) AS label
    FROM nodes n
    JOIN {prev} p ON p.id = n.id
    LEFT JOIN (
        SELECT dst AS id, label AS new_label FROM (
            SELECT d.dst, pl.label,
                   ROW_NUMBER() OVER (PARTITION BY d.dst
                       ORDER BY COUNT(*) DESC, pl.label ASC) AS rn
            FROM dedges d JOIN {prev} pl ON pl.id = d.src
            GROUP BY d.dst, pl.label
        ) ranked WHERE rn = 1
    ) w ON w.id = n.id
)""")
        prev = f"l{i}"
    chain = ",".join(iters)
    return f"""
WITH p AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND({duck_dot("a.embedding", "b.embedding")}, 6) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
),
e AS (SELECT a_id, b_id FROM p WHERE cosine >= {SIM_THRESHOLD}),
dedges AS (
    SELECT a_id AS src, b_id AS dst FROM e
    UNION ALL
    SELECT b_id AS src, a_id AS dst FROM e
),
nodes AS (SELECT DISTINCT src AS id FROM dedges),
l0 AS (SELECT id, id AS label FROM nodes),{chain}
SELECT label AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(id) AS BIGINT)  AS min_member
FROM {prev}
GROUP BY label
ORDER BY n_members DESC, community
LIMIT 20
"""


@query("l58_label_propagation", oracle=_l58_oracle())
def l58_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L58 — community detection by synchronous label propagation
    (LPA) over the cosine-similarity graph, completing the iterative
    graph family: l11/l16 find CONNECTED components (reachability),
    l38 ranks WITHIN neighborhoods (centrality), l58 splits dense
    regions a bridge edge would otherwise merge (majority structure)
    — the community grain is what semantic-dedup reviewers actually
    eyeball.

    The deterministic spec, chosen so a replay oracle is possible at
    all: every node starts labeled with its own id; each round every
    node adopts the most frequent label among its neighbors with
    ties broken by SMALLEST label; updates are synchronous; exactly
    LPA_ITERS=4 rounds (a fixed-round contract — free-running
    synchronous LPA can 2-cycle on bipartite structures, so
    "iterate to convergence" is not a well-defined spec). Every
    quantity is an exact integer: no rounding discipline, no float
    surface — the strongest determinism class in the iterative
    family (l38 needs 9dp quantization; this needs nothing).

    Spark shape: per round, votes = edges ⋈ labels (shuffle on src),
    count by (dst, label), WindowGroupLimit-prunable row_number pick
    (w06's top-1 shape). Per-round shuffle state is (node, label)
    pairs + vote counts — ids only, never payloads; at corpus scale
    the edge source swaps to `l04_simjoin_lsh` banding like l36/l38
    (this oracle-scale twin uses the exact GEMM pairs).

    r16 optimization (guide §7.3 plan size / §2.4 remove work): the
    oracle's per-round ``LEFT JOIN winner + COALESCE(new_label,
    label)`` carry is DEAD CODE on this graph — ``dedges`` is
    symmetric (e ∪ reversed e), so every node in ``nodes`` (distinct
    srcs) also appears as a dst and receives ≥1 vote: the winner
    relation covers every node and the COALESCE always takes
    new_label. The r15 spelling materialized that carry join anyway,
    which referenced ``labels`` TWICE per round — the logical tree
    doubled per round (16 copies of the pair-graph subtree after 4
    rounds; 172 KB plan) and each round paid a join that never
    fired. Dropping it makes the lineage linear and halves the
    per-round joins: fresh-process min-of-3, sf0.1: 2.67 → 1.43 s,
    frame-identical at all 3 SFs (the oracle keeps the COALESCE
    spelling; equivalence is the symmetry argument above, pinned by
    test_l58_no_carry_join)."""
    from pyspark.sql.window import Window

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    e = exact_pairs(spark, emb, SIM_THRESHOLD).select("a_id", "b_id")
    dedges = (
        e.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionAll(e.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .cache()
    )
    nodes = dedges.select(F.col("src").alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("label"))
    pick = Window.partitionBy("dst").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    for _ in range(LPA_ITERS):
        votes = (
            dedges.join(labels, dedges["src"] == labels["id"])
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        # winner covers every node (symmetric edges ⇒ every node has
        # incoming votes), so it IS the next labels relation — no
        # carry join (see docstring).
        labels = (
            votes.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select(F.col("dst").alias("id"), "label")
        )
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("id").cast("bigint").alias("min_member"),
        )
        .select(F.col("label").alias("community"), "n_members", "min_member")
        .orderBy(F.col("n_members").desc(), "community")
        .limit(20)
    )


# --------------------------------------------------------------------------
# L62 — similarity threshold sensitivity sweep (one pass, all cutoffs)
# --------------------------------------------------------------------------

L62_ORACLE = f"""
WITH p AS (
    SELECT ROUND({duck_dot("a.embedding", "b.embedding")}, 6) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
),
banded AS (
    SELECT CAST(FLOOR(cosine * 20) AS BIGINT) AS band FROM p
    WHERE cosine >= 0.2
)
SELECT t.thr,
       CAST(COALESCE(SUM(CASE WHEN b.band >= CAST(ROUND(t.thr * 20, 0)
            AS BIGINT) THEN 1 END), 0) AS BIGINT) AS n_pairs
FROM (VALUES (0.20), (0.25), (0.30), (0.35), (0.40), (0.45), (0.50),
             (0.60), (0.70), (0.80)) t(thr)
LEFT JOIN banded b ON TRUE
GROUP BY t.thr
ORDER BY t.thr
"""


@query("l62_threshold_sweep", oracle=L62_ORACLE)
def l62_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L62 — near-dup threshold sensitivity in ONE pass: pair counts
    at ten cosine cutoffs from a single exact-pairs evaluation —
    the tuning table every dedup rollout needs ("how much does the
    corpus shrink if we tighten 0.35 → 0.5?") without re-running the
    pair scan per candidate threshold. Pairs quantize once into
    0.05-wide bands (the r6'd cosine times 20, floored — exact
    integer banding on both engines) and every threshold's count is
    a suffix-sum over bands; thresholds are multiples of 0.05 so a
    band never straddles a cutoff.

    Oracle note: the DuckDB twin replays the same banding via a
    VALUES threshold table; `ROUND(thr*20)` not FLOOR on the oracle
    side because DuckDB's DECIMAL VALUES times 20 can land at
    x.9999999 in double — rounding to the intended integer is the
    portable spelling (the l46 anchor-typing lesson's sibling).

    Scale: the pair source here is the GEMM verification twin
    (oracle-scale); at corpus scale the same sweep runs over
    `l04_simjoin_lsh` candidates — with the caveat the docstring
    owes: LSH recall is threshold-dependent, so counts below the
    banding's design threshold are lower bounds there. Output is
    10 rows at any N."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    pairs = exact_pairs(spark, emb, 0.2).select(
        F.floor(F.col("cosine") * 20).cast("bigint").alias("band")
    )
    thresholds = spark.createDataFrame(
        [(t / 100.0,) for t in (20, 25, 30, 35, 40, 45, 50, 60, 70, 80)],
        "thr double",
    )
    return (
        F.broadcast(thresholds)
        .crossJoin(pairs)
        .groupBy("thr")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("band")
                        >= F.round(F.col("thr") * 20, 0).cast("bigint"),
                        1,
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_pairs")
        )
        .orderBy("thr")
    )


# --------------------------------------------------------------------------
# L63 — cross-source near-dup overlap matrix (provenance contamination)
# --------------------------------------------------------------------------

L63_ORACLE = f"""
WITH p AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND({duck_dot("a.embedding", "b.embedding")}, 6) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
),
e AS (SELECT a_id, b_id FROM p WHERE cosine >= {SIM_THRESHOLD}),
tagged AS (
    SELECT LEAST(da.source, db.source)    AS source_lo,
           GREATEST(da.source, db.source) AS source_hi
    FROM e
    JOIN documents da ON da.doc_id = e.a_id
    JOIN documents db ON db.doc_id = e.b_id
)
SELECT source_lo, source_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       source_lo <> source_hi   AS cross_source
FROM tagged
GROUP BY source_lo, source_hi
ORDER BY source_lo, source_hi
"""


@query("l63_cross_source_overlap", oracle=L63_ORACLE)
def l63_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L63 — provenance overlap: near-dup pairs bucketed by the
    UNORDERED source pair (LEAST/GREATEST canonicalization — pair
    direction is an artifact of vec_id ordering, not data). The
    within-source diagonal measures internal redundancy; the
    off-diagonal `cross_source` rows are the interesting ones —
    mirror sites, syndication, or a scraped benchmark appearing
    under two feeds — and are exactly where dedup policy differs
    (cross-source survivors usually keep BOTH provenance records,
    l31's governance concern, while within-source keeps one, l26).

    Embeddings pair via the exact GEMM twin at oracle scale (the
    l36/l38/l58 edge-source convention; LSH banding at corpus
    scale); sources attach by broadcast-joining the doc metadata
    onto id pairs — ids shuffle, text never does. Output is bounded
    by |sources|² regardless of corpus size; counts are exact
    integers."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    (docs,) = load_tables(spark, sf_dir, "documents")
    e = exact_pairs(spark, emb, SIM_THRESHOLD).select("a_id", "b_id")
    src = docs.select("doc_id", "source")
    tagged = (
        e.join(
            F.broadcast(src.select(F.col("doc_id").alias("a_id"),
                                   F.col("source").alias("src_a"))),
            "a_id",
        )
        .join(
            F.broadcast(src.select(F.col("doc_id").alias("b_id"),
                                   F.col("source").alias("src_b"))),
            "b_id",
        )
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
    )
    return (
        tagged.groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "source_lo",
            "source_hi",
            "n_pairs",
            (F.col("source_lo") != F.col("source_hi")).alias("cross_source"),
        )
        .orderBy("source_lo", "source_hi")
    )


# --------------------------------------------------------------------------
# L66 — embedding norm audit (is the index actually normalized?)
# --------------------------------------------------------------------------

L66_ORACLE = f"""
WITH norms AS (
    SELECT vec_id, ROUND(SQRT({duck_dot("embedding", "embedding")}), 6) AS nrm
    FROM embeddings
)
SELECT CAST(COUNT(*) AS BIGINT)                                   AS n_vectors,
       ROUND(MIN(nrm), 6)                                         AS min_norm,
       ROUND(MAX(nrm), 6)                                         AS max_norm,
       CAST(COALESCE(SUM(CASE WHEN ABS(nrm - 1.0) > 0.01 THEN 1 END), 0)
            AS BIGINT)                                            AS n_unnormalized,
       bool_and(ABS(nrm - 1.0) <= 0.01)                           AS index_normalized
FROM norms
"""


@query("l66_embedding_norm_audit", oracle=L66_ORACLE)
def l66_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L66 — the precondition audit every cosine operator in this
    repo silently assumes: dot(a,b) equals cosine ONLY if the
    vectors are unit-norm. The audit computes each vector's L2 norm
    with the house sequential-fold dot (bit-identical on both
    engines — the same spelling the similarity oracles replay),
    flags anything off unit by more than 1%, and emits the
    corpus-level verdict `index_normalized` that l02/l03/l04/l35/
    l50/l58's docstrings implicitly rely on — making the assumption
    a CHECKED invariant instead of fixture folklore. On an index
    where this returns false, every "cosine" threshold in the dedup
    stack is actually an unnormalized dot and the pipeline must
    renormalize at ingest (one map-side pass) before any of it is
    meaningful.

    Scale: one scan, per-row codegen fold, 1-row output — the
    cheapest possible invariant to keep in a daily index health
    check."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    nrm = F.round(F.sqrt(dot(F.col("embedding"), F.col("embedding"))), 6)
    norms = emb.select(nrm.alias("nrm"))
    off = F.abs(F.col("nrm") - 1.0) > 0.01
    return norms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.coalesce(F.sum(F.when(off, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_unnormalized"),
        F.expr("bool_and(ABS(nrm - 1.0) <= 0.01)").alias("index_normalized"),
    )


# --------------------------------------------------------------------------
# L78 — hybrid retrieval: BM25 + dense cosine fused by RRF
# --------------------------------------------------------------------------

RRF_K = 60
HYBRID_TOPN = 50

_L78_TEMPLATE = f"""
WITH docs AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
    FROM documents WHERE doc_id <> 0
),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM docs),
tf AS (
    SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM docs)
    WHERE tok IN ({{terms_in}})
    GROUP BY doc_id, dl, tok
),
df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
bm AS (
    SELECT doc_id,
           ROUND(SUM(
             ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({{k1}} + 1.0)
             / (tf.tf + {{k1}} * (1.0 - {{b}} + {{b}} * tf.dl / stats.avgdl))
           ), 6) AS bm25
    FROM tf JOIN df USING (tok), stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {HYBRID_TOPN}
),
lexr AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS r_lex
    FROM bm
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cos AS (
    SELECT e.vec_id AS doc_id,
           ROUND({duck_dot("e.embedding", "q.qe")}, 6) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, doc_id
    LIMIT {HYBRID_TOPN}
),
vecr AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INT) AS r_vec
    FROM cos
)
SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       l.r_lex AS r_lex,
       v.r_vec AS r_vec,
       ROUND(COALESCE(1.0 / ({RRF_K} + l.r_lex), 0.0)
             + COALESCE(1.0 / ({RRF_K} + v.r_vec), 0.0), 6) AS rrf
FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
ORDER BY rrf DESC, doc_id
LIMIT 10
"""


def _l78_oracle() -> str:
    from hetnetdb_spark.pipeline.text import _TERMS_IN, BM25_B, BM25_K1

    return _L78_TEMPLATE.format(terms_in=_TERMS_IN, k1=BM25_K1, b=BM25_B)


@query("l78_hybrid_retrieval_rrf", oracle=_l78_oracle())
def l78_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L78 — hybrid retrieval: fuse a lexical BM25 ranking and a dense
    cosine ranking with reciprocal-rank fusion (k=60, the Cormack et
    al. constant every production hybrid-search stack defaults to).

    The fixture's 1:1 doc_id=vec_id alignment (the l35/l50 contract)
    makes the fusion a pure rank join: the lexical leg is l20's
    shuffle-free BM25 scoring (``bm25_scores`` — row-wise tf, one
    broadcast 1-row stats aggregate, contains-prefiltered scan)
    over candidates doc_id != 0; the dense leg is emb_topk's
    plan-time-bound query vector (vec_id=0's embedding inlined as an
    array literal) dotted in codegen. Each leg selects its top-50 via
    TakeOrderedAndProject — the only corpus-sized operators in the
    plan — then ranks those 50 rows with a single-partition
    row_number (constant-size by construction). The fusion itself is
    a full outer join of two ≤50-row frames: a doc missing from one
    leg contributes 0 to its RRF term, exactly the asymmetric-recall
    case hybrid search exists for.

    Scale: both legs are embarrassingly parallel scans whose reduce
    state is top-K rows; fusion cost is O(K), independent of corpus
    size. At 100 TB the dense leg would swap in the IVF index
    (l03_knn_ivf) for its candidate scan without touching the fusion.
    """
    documents, emb = load_tables(spark, sf_dir, "documents", "embeddings")
    from hetnetdb_spark.pipeline.text import bm25_scores

    lex_top = (
        bm25_scores(documents.filter(F.col("doc_id") != 0))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(HYBRID_TOPN)
    )
    lexr = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("int")
        .alias("r_lex"),
    )

    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:
        raise ValueError(
            f"embeddings at {sf_dir!r} has no vec_id=0 query row; "
            "l78_hybrid_retrieval_rrf binds its dense leg from that row"
        )
    qlit = F.array(*[F.lit(float(v)) for v in qrow[0]])
    vec_top = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            r6(dot(F.col("embedding"), qlit)).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(HYBRID_TOPN)
    )
    vecr = vec_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), "doc_id"))
        .cast("int")
        .alias("r_vec"),
    )

    rrf = r6(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_vec")), F.lit(0.0))
    )
    return (
        lexr.join(vecr, "doc_id", "full")
        .select("doc_id", "r_lex", "r_vec", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# L80 — persisted IVF index + incremental batch probe (r13 verdict item 7)
# --------------------------------------------------------------------------

L80_TOPK = 3  # neighbors returned per batch vector


def _l80_oracle() -> str:
    """Full replay of the persisted-index probe: the index side's
    Lloyd training (seeds = the 8 lowest index vec_ids, i.e. 1..8
    since only multiples of 10 are batch), assignment, per-batch
    2-centroid probing, and the cluster-pruned top-3 — every dot the
    left-associative `_chain_dot`, centroid means 7dp-rounded before
    the FLOAT cast (the l03 determinism argument end to end).
    Persistence itself is a Spark-side mechanic (write + re-read
    cannot change values); the oracle replays the MATH."""
    cent_cols = ",\n           ".join(
        f"CAST(ROUND(AVG(CAST(embedding[{i}] AS DOUBLE)), 7) AS FLOAT) AS c{i}"
        for i in range(1, DIM + 1)
    )
    dot_seed = _chain_dot("i.embedding", "s.embedding")
    dot_cent_i = " + ".join(
        f"CAST(i.embedding[{k}] AS DOUBLE) * CAST(c.c{k} AS DOUBLE)"
        for k in range(1, DIM + 1)
    )
    dot_cent_b = " + ".join(
        f"CAST(b.embedding[{k}] AS DOUBLE) * CAST(c.c{k} AS DOUBLE)"
        for k in range(1, DIM + 1)
    )
    dot_ab = _chain_dot("a.embedding", "b.embedding")
    return f"""
WITH idx AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0
),
seeds AS (
    SELECT vec_id AS cid, embedding FROM idx WHERE vec_id <= {N_CENTROIDS}
),
seed_assign AS (
    SELECT vec_id, embedding, cid FROM (
        SELECT i.vec_id, i.embedding, s.cid,
               row_number() OVER (
                   PARTITION BY i.vec_id
                   ORDER BY ({dot_seed}) DESC, s.cid
               ) AS rn
        FROM idx i CROSS JOIN seeds s
    ) WHERE rn = 1
),
cent AS (
    SELECT cid,
           {cent_cols}
    FROM seed_assign
    GROUP BY cid
),
assigned AS (
    SELECT vec_id, embedding, cluster FROM (
        SELECT i.vec_id, i.embedding, c.cid AS cluster,
               row_number() OVER (
                   PARTITION BY i.vec_id
                   ORDER BY ({dot_cent_i}) DESC, c.cid
               ) AS rn
        FROM idx i CROSS JOIN cent c
    ) WHERE rn = 1
),
batch AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
),
probe AS (
    SELECT q_id, cluster FROM (
        SELECT b.vec_id AS q_id, c.cid AS cluster,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY ({dot_cent_b}) DESC, c.cid
               ) AS rn
        FROM batch b CROSS JOIN cent c
    ) WHERE rn <= {N_PROBE}
),
cand AS (
    SELECT p.q_id, a.vec_id AS nn_id,
           ROUND(({dot_ab}), 6) AS cosine
    FROM probe p
    JOIN assigned a ON a.cluster = p.cluster
    JOIN batch b ON b.vec_id = p.q_id
)
SELECT q_id AS vec_id, CAST(rank AS INT) AS rank, nn_id, cosine FROM (
    SELECT q_id, nn_id, cosine,
           row_number() OVER (
               PARTITION BY q_id ORDER BY cosine DESC, nn_id
           ) AS rank
    FROM cand
) WHERE rank <= {L80_TOPK}
ORDER BY vec_id, rank
"""


@query("l80_ivf_index_probe", oracle=_l80_oracle(), impure=True)
def l80_ivf_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L80 — the production serving shape for l03's IVF path: train
    ONCE, persist the index, probe incrementally. The index corpus
    (vec_id % 10 != 0 — l59's batch split convention) trains one
    deterministic Lloyd pass (seeds = its 8 lowest vec_ids), assigns
    every index vector, and PERSISTS both artifacts: centroids as one
    8-row parquet, assignments as parquet PARTITIONED BY cluster —
    the inverted-list file layout. The probe phase then reads ONLY
    the stored index (no lineage back to training): each batch
    vector (vec_id % 10 == 0) scores the 8 stored centroids, keeps
    its N_PROBE=2 nearest, and joins that (batch × nprobe)-bounded
    probe list against the cluster-partitioned store — top-3
    neighbors per batch vector, ties cut by nn_id.

    This closes the r13 verdict's l03 gap ("IVF centroids are
    rebuilt per query"): a 100 TB deployment amortizes training and
    assignment across every future batch, and the daily probe cost
    is hashing the BATCH plus a scan of nprobe/K of the index files
    — the broadcast probe list prunes cluster partitions exactly the
    way s11's dim filter prunes date partitions. l69's recall
    contract certifies the same centroid/assignment math this
    persists. Cites l59 (dedup.py) for the persisted-index
    convention and s21 (sources/io.py) for the scratch-store shape.
    """
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    cent_store = os.path.join(SCRATCH, f"l80_centroids_{tag}")
    index_store = os.path.join(SCRATCH, f"l80_index_{tag}")

    # ---- build + persist (the one-time backfill) ----
    index = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    seeds = index.filter(F.col("vec_id") <= N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cent = _lloyd_refine(index, seeds)
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("cscore").desc(), F.col("cid")
    )
    assigned = (
        index.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cid",
            dot(F.col("embedding"), F.col("ce")).alias("cscore"),
        )
        .withColumn("arn", F.row_number().over(w_assign))
        .filter(F.col("arn") == 1)
        .select("vec_id", "embedding", F.col("cid").alias("cluster"))
    )
    cent.write.mode("overwrite").parquet(cent_store)
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(index_store)

    # ---- probe (the incremental serving path: stored index only) ----
    cent_s = spark.read.parquet(cent_store)
    idx_s = spark.read.parquet(index_store).select(
        F.col("vec_id").alias("nn_id"), "embedding", "cluster"
    )
    batch = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    w_probe = Window.partitionBy("q_id").orderBy(
        F.col("qscore").desc(), F.col("cid")
    )
    probes = (
        batch.crossJoin(F.broadcast(cent_s))
        .select(
            "q_id", "qe", "cid", dot(F.col("qe"), F.col("ce")).alias("qscore")
        )
        .withColumn("prn", F.row_number().over(w_probe))
        .filter(F.col("prn") <= N_PROBE)
        .select("q_id", "qe", F.col("cid").alias("cluster"))
    )
    w_rank = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("nn_id")
    )
    # Shard selection (r15, r14 verdict item 8): the router KNOWS its
    # probed cluster ids — a set bounded by N_CENTROIDS (8) by
    # construction, not by data — so push them into the store scan as
    # a STATIC partition filter. Spark's DPP planned only a degenerate
    # dynamicpruningexpression(true) here (measured: the broadcast-
    # reuse path never materialized a pruning filter), and a serving
    # deployment routes to shards client-side anyway: this is the
    # inverted-list read pattern, the probe scans ONLY the
    # cluster=<probed> directories (PartitionFilters + files-read
    # pinned in tests/test_plans.py). The checkpoint materializes the
    # (batch × nprobe) probe list once for both the router fetch and
    # the join build side.
    probes = probes.localCheckpoint(eager=True)
    probed_clusters = sorted(
        probes.agg(F.collect_set("cluster").alias("cs")).first()["cs"]
    )
    return (
        idx_s.filter(F.col("cluster").isin(probed_clusters))
        .join(F.broadcast(probes), "cluster")
        .select(
            "q_id",
            "nn_id",
            r6(dot(F.col("embedding"), F.col("qe"))).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= L80_TOPK)
        .select(F.col("q_id").alias("vec_id"), "rank", "nn_id", "cosine")
        .orderBy("vec_id", "rank")
    )
