"""Physical-plan property tests — PLANS.md, enforced.

Each assertion pins a scale-critical plan property: pushed filters,
column pruning, shuffle counts, top-k strategies. A regression here
means a silent factor lost at 100 TB even if answers stay correct.
Counts alone (shuffles, broadcasts, Generate and Python-eval nodes,
scans with pushed filters) are pinned for every pure query by
PLAN_LEDGER.json, checked at the end of this file; a pin here says
what a count cannot.
"""

from __future__ import annotations

import re

import pytest

from hetnetdb_spark import registry
from hetnetdb_spark.plans import audit
from hetnetdb_spark.plans.audit import (
    executed_plan,
    has_pushed_filter,
    has_top_k,
    has_window_group_limit,
    scan_read_columns,
    shuffle_exchange_count,
    shuffle_exchange_outputs,
)
from hetnetdb_spark.session import conf_scope


def assert_no_exchange_carries(df, forbidden: set[str]) -> None:
    """Assert no shuffle exchange in df's executed plan CARRIES any
    of the forbidden columns (exact attribute-name match on the
    exchange's output schema, walked JVM-side).

    The line-grep spelling these pins used before r15 was vacuous for
    payload claims: an Exchange's plan line prints only partitioning
    expressions + shuffle origin, so a doc_id-partitioned exchange
    moving raw text printed no 'text#' at all (r14 ADVICE; the r14
    l02 static-SMJ text leak passed the grep while moving the corpus
    through a shuffle).

    One narrow exemption: exchanges with REPARTITION_BY_NUM origin.
    That origin only arises from an explicit .repartition(n, ...) —
    here the catalog's spread() fixture device, which re-splits the
    single-row-group fixture scan across cores and whole-row by
    design, with a guard that makes it a no-op once the input
    arrives in >= defaultParallelism splits (i.e. at any production
    layout; the r14 pipeline demo's per-exchange attribution counts
    it separately for the same reason). Planner-inserted
    ENSURE_REQUIREMENTS exchanges — the join/agg shuffles that DO
    scale with the corpus — get no exemption."""
    for ex in shuffle_exchange_outputs(df):
        if "REPARTITION_BY_NUM" in ex["node"]:
            continue
        carried = forbidden & set(ex["columns"])
        assert not carried, (
            f"exchange carries forbidden column(s) {sorted(carried)}: "
            f"{ex['node']} -> output {ex['columns']}"
        )
from tests.conftest import SF_DIR

registry.load_all()


@pytest.fixture(scope="module")
def plans(spark):
    """Executed (post-AQE) plans for the audited queries."""
    names = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "events_sessionize_30m",
        "window_top3_orders_per_cust",
        "docs_token_counts",
        "emb_topk_cosine",
    ]
    return {n: executed_plan(registry.QUERIES[n](spark, SF_DIR)) for n in names}


def test_q1_filter_pushed_and_columns_pruned(plans):
    plan = plans["q1_pricing_summary"]
    assert has_pushed_filter(plan, "l_shipdate"), "shipdate filter must reach the scan"
    cols = scan_read_columns(plan, "lineitem")
    assert cols is not None and "l_orderkey" not in cols, (
        f"q1 needs no join key; scan reads {cols}"
    )


def test_q1_single_shuffle_no_range_sort(plans):
    """r15: the final ORDER BY of the ≤16-group result must NOT plan
    a rangepartitioning exchange (whose range-bound sampling is a
    separate job per execution) — the bounded result is coalesced
    and sorted in-partition, leaving the group-by exchange as q1's
    only shuffle."""
    plan = plans["q1_pricing_summary"]
    assert shuffle_exchange_count(plan) == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_q5_no_range_sort(spark):
    """r15: same bounded-result rule for q5's 25-nation ORDER BY."""
    plan = executed_plan(registry.QUERIES["q5_local_supplier"](spark, SF_DIR))
    assert "rangepartitioning" not in plan, plan


def test_q3_filters_pushed_before_joins(plans):
    plan = plans["q3_shipping_priority"]
    assert has_pushed_filter(plan, "c_mktsegment"), "segment filter must reach customer scan"
    assert has_pushed_filter(plan, "o_orderdate"), "date filter must reach orders scan"
    assert has_top_k(plan), "top-10 must plan as TakeOrderedAndProject"


def test_sessionize_single_shuffle(plans, spark, monkeypatch):
    plan = plans["events_sessionize_30m"]
    assert shuffle_exchange_count(plan) == 1, (
        "one user_id shuffle must serve both windows AND the final aggregate"
    )
    cols = scan_read_columns(plan, "events")
    assert cols is not None and set(cols) <= {"event_id", "ts", "user_id"}, (
        f"sessionize must not read payload columns; scan reads {cols}"
    )
    plan = _plan_at_cap(spark, monkeypatch, "events_sessionize_30m")
    assert shuffle_exchange_count(plan) == 1, plan


def _window_widths(plan: str) -> list[int]:
    """Widths of the `_parallel_by` exchanges in a printed plan. Spark
    plans a 1-wide repartition as SinglePartition, which names no key;
    a wider one must hash on user_id."""
    return [
        int(w or 1)
        for w in re.findall(
            r"Exchange (?:SinglePartition|hashpartitioning\(user_id#\d+L?, (\d+)\)), "
            r"REPARTITION_BY_NUM",
            plan,
        )
    ]


def _plan_at_cap(spark, monkeypatch, name: str) -> str:
    """Executed plan of the window query ``name`` with every
    `_parallel_by` shuffle at the spark.sql.shuffle.partitions cap (a
    1-byte task target), checked to hold exactly one such exchange,
    hashed on user_id. At fixture scale the size estimate gives 1
    partition, a SinglePartition exchange that satisfies any
    downstream distribution, so a pin on one shared user_id hash
    exchange only bites on this plan."""
    from hetnetdb_spark.operators import windows

    monkeypatch.setattr(windows, "_TASK_BYTES", 1)
    # The module function itself: the plan cache would hand back a
    # plan built at the fixture-scale width.
    plan = executed_plan(getattr(windows, name)(spark, SF_DIR))
    assert _window_widths(plan) == [int(spark.conf.get("spark.sql.shuffle.partitions"))], plan
    return plan


def test_window_width_follows_size_estimate(spark, monkeypatch):
    """`_parallel_by` sizes a window shuffle from its input's size
    estimate, capped at spark.sql.shuffle.partitions: sessionize's
    10 KB input at sf0.001 gets 1 partition, a 1-byte task target
    hits the cap, and reading the estimate starts no Spark job."""
    from hetnetdb_spark.operators import windows

    # The registered function itself: the plan cache would hand back
    # a plan built at another width.
    assert _window_widths(executed_plan(windows.events_sessionize_30m(spark, SF_DIR))) == [1]

    monkeypatch.setattr(windows, "_TASK_BYTES", 1)
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "2"}):
        plan = executed_plan(windows.events_sessionize_30m(spark, SF_DIR))
    assert _window_widths(plan) == [2]

    tracker = spark.sparkContext.statusTracker()
    (events,) = windows.load_tables(spark, SF_DIR, "events")
    before = set(tracker.getJobIdsForGroup(None))
    windows._parallel_by(spark, events, "user_id")
    assert set(tracker.getJobIdsForGroup(None)) == before
    spark.range(1).count()
    assert set(tracker.getJobIdsForGroup(None)) != before, "tracker sees no jobs"


def test_window_top3_limits_below_shuffle(plans):
    plan = plans["window_top3_orders_per_cust"]
    assert has_window_group_limit(plan), (
        "per-group top-k must push a WindowGroupLimit below the exchange"
    )


def test_window_top3_limit_pushed_through_window(plans):
    """r15: ORDER BY (custkey, rank) LIMIT 100 implies every output
    row's custkey is among the 100 smallest distinct custkeys (each
    key yields ≥1 ranked row), so the window must run on a
    prefiltered orders table: a broadcast of the ≤100-key relation
    (itself a TakeOrderedAndProject over a distinct aggregate)
    joined onto the scan, a PARTIAL WindowGroupLimit before the
    custkey exchange, and no full-table exchange anywhere. Before
    r15 the whole orders table (45M rows at 300×) crossed the window
    exchange for this 100-row result; after, only ~100 customers'
    orders do (300× fresh-process walls 5.03–6.13 s → 1.03–1.14 s)."""
    plan = plans["window_top3_orders_per_cust"]
    assert "BroadcastExchange" in plan, plan
    assert "Partial" in plan and "WindowGroupLimit" in plan, plan
    # both the key subquery's distinct agg and the window repartition
    # survive; what must be GONE is any full-width orders exchange —
    # every shuffle now carries either bare custkeys (distinct agg)
    # or the ≤300 prefiltered rows.
    assert shuffle_exchange_count(plan) <= 2, plan


def test_window_top3_custkey_nonnull_precondition(spark):
    """r16 (ADVICE r15): the limit-through-window rewrite inner-joins
    on o_custkey, which drops NULL-custkey rows; the original window
    would have ranked them as their own (first-sorted) partition.
    The equivalence therefore REQUIRES o_custkey non-null. Pin that
    property on the fixture so a future data change fails loudly
    here instead of silently dropping output rows."""
    from hetnetdb_spark.catalog import load_tables

    (orders,) = load_tables(spark, SF_DIR, "orders")
    n_null = orders.filter("o_custkey IS NULL").count()
    assert n_null == 0, (
        f"{n_null} NULL o_custkey rows: the window_top3 limit-pushdown "
        "precondition no longer holds — revisit windows.py"
    )


def test_docs_token_counts_partial_agg_and_pruning(plans):
    plan = plans["docs_token_counts"]
    assert shuffle_exchange_count(plan) == 1
    cols = scan_read_columns(plan, "documents")
    assert cols is not None and "doc_id" not in cols and "source" not in cols, (
        f"token counting reads only text/lang/n_chars; scan reads {cols}"
    )


def test_emb_topk_no_vector_shuffle(plans):
    plan = plans["emb_topk_cosine"]
    assert shuffle_exchange_count(plan) == 0, "embeddings must never shuffle"
    assert has_top_k(plan)


def test_bucketed_join_no_join_shuffle(spark):
    """s09: both sides bucketed on the join key — the sort-merge
    join itself must not exchange; the only shuffle is the final
    5-group aggregate."""
    plan = executed_plan(registry.QUERIES["s09_bucketed_join"](spark, SF_DIR))
    assert "SortMergeJoin" in plan
    assert shuffle_exchange_count(plan) == 1, plan


def test_banded_keys_matches_band_structs(spark):
    """r16: the analysis-cheap banding spelling (one nested planes
    literal + one transform lambda -> signs column) must produce the
    FRAME-IDENTICAL (id, band_id, band_val) relation as the r15-era
    per-plane `_band_structs` spelling, for both the 16x4 default
    and the 8x8 selective regime. Same `dot` fold -> identical
    doubles -> identical signs; this pin makes any future divergence
    (a reordered sum, a changed cast) fail loudly."""
    from pyspark.sql import functions as F

    from hetnetdb_spark.catalog import load_tables
    from hetnetdb_spark.pipeline.similarity import (
        SEL_BANDS,
        SEL_BITS,
        _band_structs,
        banded_keys,
    )

    (emb,) = load_tables(spark, SF_DIR, "embeddings")
    for n_bands, bits in [(16, 4), (SEL_BANDS, SEL_BITS)]:
        old = (
            emb.select(
                "vec_id",
                F.explode(
                    F.array(*_band_structs(n_bands=n_bands, bits=bits))
                ).alias("band"),
            )
            .select("vec_id", "band.band_id", "band.band_val")
            .toPandas()
            .sort_values(["vec_id", "band_id"])
            .reset_index(drop=True)
        )
        new = (
            banded_keys(emb, n_bands=n_bands, bits=bits)
            .toPandas()
            .sort_values(["vec_id", "band_id"])
            .reset_index(drop=True)
        )
        assert old.equals(new), f"banding spellings diverge at {n_bands}x{bits}"


def test_lsh_band_exchanges_carry_no_payload(spark):
    """Round-3 invariant: the banding fan-out in the LSH joins must
    shuffle only (band key, id) rows — embeddings and shingle sets
    re-join onto deduplicated candidate pairs afterwards. A payload
    column named in any hash-partitioning exchange means the 8x/16x
    band explode is shipping vectors/arrays again.

    Exemption (round 10): the deliberate `catalog.spread`
    repartition — marked REPARTITION_BY_NUM in the plan — carries
    the full row ONCE (N rows, the parallelism re-split for the
    single-row-group fixture scan), which is its entire point; the
    invariant guards the 8x/16x BAND fan-out exchanges, where a
    payload column would multiply by the band count."""
    for name, payload_markers in [
        ("l04_simjoin_lsh", ("emb", "embedding")),
        ("l02_minhash_neardup", ("_sh", "sh#")),
    ]:
        # Build once under normal conf, THEN disable broadcast joins
        # for the execution (the cached plan is re-planned per
        # invocation): at sf0.001 AQE otherwise broadcasts every
        # join, leaving zero gated exchanges and a vacuous invariant
        # (ADVICE r10). With broadcasts off, the band join
        # materializes as the same shuffle it becomes at corpus
        # scale, and the payload check actually bites in CI.
        registry.QUERIES[name](spark, SF_DIR)
        with conf_scope(
            spark,
            {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            },
        ):
            plan = executed_plan(registry.QUERIES[name](spark, SF_DIR))
        exchanges = [
            line
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line
            and "REPARTITION_BY_NUM" not in line
        ]
        assert exchanges, (
            f"{name}: no gated hash exchanges even with broadcast "
            "disabled — the payload invariant has gone vacuous"
        )
        for line in exchanges:
            assert not any(m in line for m in payload_markers), (
                f"{name}: payload column crosses a shuffle: {line.strip()[:160]}"
            )


def test_sorted_layout_enables_pruning(spark):
    """s10: the range-partitioned, sorted-by-ts layout must (a) push
    the ts range filter to the scan and (b) actually produce files
    with tight disjoint ts ranges, most of which miss the 3-day
    query window — the file/row-group skipping evidence."""
    import glob

    import pyarrow.parquet as pq

    from hetnetdb_spark.sources.io import S10_HI_NS, S10_LO_NS, SCRATCH

    plan = executed_plan(registry.QUERIES["s10_sorted_layout_pruning"](spark, SF_DIR))
    assert "PushedFilters" in plan and "GreaterThanOrEqual(ts" in plan, (
        "ts range must reach the parquet reader as a pushed filter"
    )

    tag = SF_DIR.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    files = sorted(glob.glob(f"{SCRATCH}/s10_events_by_ts_{tag}/*.parquet"))
    assert len(files) >= 4, f"expected a multi-file layout, got {files}"
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = next(
            i for i in range(len(md.schema))
            if md.schema.column(i).name == "ts"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(spans, spans[1:]):
        assert hi_a <= lo_b, "files must own disjoint time slices"
    overlapping = [
        s for s in spans if s[0] < S10_HI_NS and s[1] >= S10_LO_NS
    ]
    assert len(overlapping) <= len(spans) // 2, (
        f"a 3-of-30-day window should prune most files; "
        f"{len(overlapping)}/{len(spans)} overlap"
    )


def test_s11_dynamic_partition_pruning_fires(spark):
    """s11: the fact scan's PartitionFilters must carry a
    dynamicpruningexpression — the dim-side filter reaches the
    partitioned fact only at runtime, so without DPP every year
    directory would be scanned."""
    plan = executed_plan(
        registry.QUERIES["s11_dynamic_partition_pruning"](spark, SF_DIR)
    )
    assert "dynamicpruning" in plan.lower(), (
        "fact scan must be pruned by a runtime subquery on the dim side"
    )


def test_q17_decorrelated_subquery_shape(spark):
    """q17: the correlated scalar subquery must run as ONE
    per-partkey aggregate joined back (2 shuffles total: the partkey
    agg + the final single-partition partial-row merge), with the
    brand filter pushed to the part scan and the part side
    broadcast — never a per-row re-evaluation or a cartesian."""
    plan = executed_plan(registry.QUERIES["q17_small_quantity_order"](spark, SF_DIR))
    from hetnetdb_spark.plans.audit import has_pushed_filter as pushed

    assert shuffle_exchange_count(plan) == 2, plan
    assert pushed(plan, "p_brand"), "brand filter must reach the part scan"
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q18_having_semi_join_shape(spark):
    """q18: the IN-over-grouped-HAVING plans as an aggregate feeding
    a semi-join, and the top-100 is a bounded TakeOrderedAndProject."""
    plan = executed_plan(registry.QUERIES["q18_large_volume_customer"](spark, SF_DIR))
    assert has_top_k(plan), "top-100 must plan as TakeOrderedAndProject"
    assert "LeftSemi" in plan, "HAVING subquery must probe as a semi-join"


def test_j11_bloom_filter_reaches_fact_scan(spark):
    """j11: the orders-side predicate must materialize as a Bloom
    filter probed in the lineitem scan's filter (might_contain fed
    by a bloom_filter_agg subquery) — rows drop before the join
    shuffle, not after it."""
    plan = executed_plan(registry.QUERIES["j11_runtime_bloom_join"](spark, SF_DIR))
    assert "might_contain" in plan, "lineitem filter must probe the Bloom filter"
    assert "bloom_filter_agg" in plan, "orders side must build the Bloom filter"


def test_q19_disjunction_keeps_equi_join(spark):
    """q19: the OR-of-conjuncts spanning both sides must stay a
    residual on the p_partkey equi-join, not degrade the plan to a
    nested loop."""
    plan = executed_plan(registry.QUERIES["q19_disjunctive_join"](spark, SF_DIR))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q4_exists_plans_as_semi_join(spark):
    """q4: the correlated EXISTS must plan as ONE left-semi join with
    the date comparison as a residual — never a per-order
    re-evaluation — and the quarter filter must reach the orders
    scan."""
    plan = executed_plan(registry.QUERIES["q4_order_priority"](spark, SF_DIR))
    assert "LeftSemi" in plan, "EXISTS must probe as a semi-join"
    assert has_pushed_filter(plan, "o_orderdate"), "quarter filter must reach orders scan"
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q21_double_self_join_shape(spark):
    """q21: EXISTS → semi join, NOT EXISTS → anti join, both over the
    shared flines relation on the orderkey equi-key with the supplier
    inequality as a residual; the top-10 is bounded
    TakeOrderedAndProject and nothing degrades to a nested loop."""
    plan = executed_plan(registry.QUERIES["q21_waiting_suppliers"](spark, SF_DIR))
    assert "LeftSemi" in plan, "EXISTS must probe as a semi-join"
    assert "LeftAnti" in plan, "NOT EXISTS must probe as an anti-join"
    assert has_top_k(plan), "top-10 must plan as TakeOrderedAndProject"
    assert "CartesianProduct" not in plan


def test_l18_quantized_topk_no_vector_shuffle(spark):
    """l18: same zero-shuffle posture as emb_topk_cosine — the 1-row
    quantized query side broadcasts, vectors and codes never cross an
    exchange, and the top-10 is a bounded TakeOrderedAndProject."""
    plan = executed_plan(registry.QUERIES["l18_quantized_topk"](spark, SF_DIR))
    assert shuffle_exchange_count(plan) == 0, "codes/embeddings must never shuffle"
    assert has_top_k(plan)


def test_profile_exposes_operator_metrics(spark):
    """profile(): per-operator runtime metrics from the final
    adaptive plan, stages included — scan output rows must appear
    and match the fixture, and a shuffle write must report bytes."""
    import hetnetdb_spark as hs

    recs = hs.profile(spark, SF_DIR, "q1_pricing_summary")
    ops = [r["operator"] for r in recs]
    assert any("Scan" in o for o in ops), ops
    row_metrics = [
        r["metrics"].get("numOutputRows")
        for r in recs
        if "Scan" in r["operator"]
    ]
    assert row_metrics and all(v and v > 0 for v in row_metrics)
    shuffle_bytes = [
        v
        for r in recs
        if "Exchange" in r["operator"]
        for k, v in r["metrics"].items()
        if "bytes" in k.lower() and v > 0
    ]
    assert shuffle_bytes, "expected shuffle write bytes in profile"


def test_j13_salted_join_uses_shuffle_hash(spark):
    """j13 exists to demonstrate de-skewing the SHUFFLE join path, so
    the hint must keep Catalyst from broadcasting the exploded dim."""
    plan = executed_plan(registry.QUERIES["j13_salted_skew_join"](spark, SF_DIR))
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_o08_keyset_cursor_pushed_to_scan(spark):
    """o08: the decomposed cursor disjunction must reach the parquet
    reader whole (the struct-comparison form stays a post-scan
    filter); top-50 must be a TakeOrderedAndProject."""
    plan = executed_plan(registry.QUERIES["o08_keyset_pagination"](spark, SF_DIR))
    import re

    m = re.search(r"PushedFilters: \[[^\]]*\]", plan)
    assert m and "l_orderkey" in m.group(0) and "l_linenumber" in m.group(0), plan
    assert has_top_k(plan), plan


def test_l04_exact_gemm_plan_shape(spark):
    """Round-4: the exact similarity twin runs through the
    `exact_pairs` GEMM kernel — MapInPandas over the embedding scan
    (one Arrow crossing), labels rejoined via broadcast hash joins.
    The old interpreted-dot BroadcastNestedLoopJoin (11 µs/pair,
    28 s at sf0.1) must not come back."""
    plan = executed_plan(registry.QUERIES["l04_simjoin_exact"](spark, SF_DIR))
    assert "MapInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert shuffle_exchange_count(plan) == 0, plan


def test_l28_bigram_topk_two_phase(spark):
    """l28: word-count shape — partial aggregation below the bigram
    exchange, TakeOrderedAndProject for the top-25 (no global
    sort)."""
    plan = executed_plan(registry.QUERIES["l28_bigram_counts"](spark, SF_DIR))
    assert has_top_k(plan), plan
    assert "Sort" not in plan.split("TakeOrderedAndProject")[0], plan


def test_l29_centroids_no_vector_explosion(spark):
    """l29: the centroid aggregate must NOT posexplode vectors into
    64N rows before aggregating — partial avg states combine
    map-side, so the only Generate allowed is the K-row `stack`
    unpivot ABOVE the aggregate exchange, never below it."""
    plan = executed_plan(registry.QUERIES["l29_source_centroids"](spark, SF_DIR))
    assert "partial_avg" in plan, plan
    # Anchor to the aggregate's hashpartitioning exchange (not just
    # any "Exchange" token) so the check really reads "below the
    # aggregate shuffle", and guard its presence first.
    assert "Exchange hashpartitioning" in plan, plan
    below_exchange = plan.split("Exchange hashpartitioning", 1)[1]
    assert "Generate" not in below_exchange, plan


def test_w09_single_window_exchange(spark, monkeypatch):
    """w09: count/avg/stddev baselines must all evaluate over ONE
    user_id exchange — hourly agg and the window reuse the same
    hash partitioning, so exactly two shuffles total (hourly agg +
    the explicit _parallel_by repartition feeding the window), and
    no per-aggregate extra exchange."""
    plan = executed_plan(registry.QUERIES["w09_rolling_zscore"](spark, SF_DIR))
    assert plan.count("WindowExec") <= 1 or plan.count("Window") <= 2, plan
    assert shuffle_exchange_count(plan) <= 2, plan
    plan = _plan_at_cap(spark, monkeypatch, "w09_rolling_zscore")
    assert shuffle_exchange_count(plan) <= 2, plan


def test_s22_histogram_constant_shuffle(spark):
    """s22: the min/max stats side must broadcast, and the only
    hash-partitioned exchange is the bucket rollup carrying
    NBUCKETS-sized partial counts. (The remaining exchanges are the
    1-row stats merge and the 12-row final sort — constant-size by
    construction, fine at any scale.)"""
    plan = executed_plan(registry.QUERIES["s22_value_histogram"](spark, SF_DIR))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan
    hash_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1 and "bucket" in hash_exchanges[0], plan


def test_l32_mixture_rate_broadcast(spark):
    """l32: the |sources|-row rate table must broadcast back onto the
    cached bucket-grain relation (BroadcastHashJoin — the exchange
    node itself may print as a reused/AQE query stage), and the text
    column must be scanned exactly once."""
    plan = executed_plan(registry.QUERIES["l32_corpus_mixture"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_l33_probe_carries_hashes_not_text(spark):
    """l33: the membership probe must join on the md5 hash; the
    corpus text column must be pruned at the scan (only `text` read
    to hash it — no doc text columns surviving into the join)."""
    plan = executed_plan(registry.QUERIES["l33_incremental_dedup"](spark, SF_DIR))
    assert "md5" in plan, plan
    cols = scan_read_columns(plan, "documents")
    assert cols is None or "lang" not in cols, f"unneeded column read: {cols}"


def test_f25_sort_below_xml_projection(spark):
    """r16: f25's global sort must run on the scanned columns BELOW
    the xml/xpath projections — with the sort on top, the range
    exchange's bound-sampling pass re-executed the whole XML
    machinery (measured: the sort doubled the query, 1.95 vs
    1.21 s). Tree order in the formatted plan: Project above Sort."""
    df = registry.QUERIES["f25_xml_roundtrip"](spark, SF_DIR)
    text = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    header = text.split("\n\n")[0]
    i_proj = header.find("Project")
    i_sort = header.find("Sort")
    assert 0 < i_proj < i_sort, (
        "xml/xpath projection must sit above the Sort:\n" + header
    )


def test_l58_no_carry_join(spark):
    """r16: l58's per-round COALESCE carry join is dead code on a
    symmetric edge set (every node receives votes), so the plan must
    contain NO outer join — the winner relation is the next round's
    labels directly. A LeftOuter reappearing here means the lineage
    is doubling per round again (the 172 KB r15 plan). Also pin the
    precondition the equivalence rests on: dedges is symmetric by
    construction, so nodes == distinct dsts."""
    plan = executed_plan(
        registry.QUERIES["l58_label_propagation"](spark, SF_DIR)
    )
    assert "LeftOuter" not in plan, (
        "l58 regained a per-round carry join:\n" + plan[:1500]
    )


def test_l68_dup_flag_is_window_count(spark):
    """r16: l68's repeated-gram filter is a count over the g window,
    not groupBy(g) + SMJ back onto a second gram computation. The
    agg+join spelling shuffled the corpus-sized gram relation TWICE
    and sorted both SMJ sides — its concurrent spill exhausted
    >68 GB of local dir at the 300× slope corpus (the query could
    not finish), while the window spelling peaks at ~22 GB and runs
    in 99 s; fresh-process 30× A/B 26.3/23.0 → 17.4/15.5 s. Pin:
    the only SortMergeJoin left is the final LeftOuter onto
    documents, and the duplicate flag is a window count keyed on g
    (an Inner SMJ reappearing here means the double shuffle is
    back)."""
    plan = executed_plan(registry.QUERIES["l68_dup_span_removal"](spark, SF_DIR))
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert len(smj) == 1 and "LeftOuter" in smj[0], (
        "l68 regained a gram self-join:\n" + "\n".join(smj)
    )
    assert "count(1) windowspecdefinition(g#" in plan, (
        "l68's dup flag is no longer a window count over g:\n" + plan[:1500]
    )


def test_j14_sweep_has_no_join(spark):
    """r16: j14's per-day overlapping-pair count is the sweep-line
    window over 2N endpoint rows, not the day-blocked self-join.
    The blocked join keyed on day alone, so its residual evaluated
    (users/day)^2 pairs per block at any corpus size; the sweep is
    one sort per day partition. Pin: NO join of any kind in the
    executed plan, and a Window node keyed on day present
    (fresh-process A/B at sf0.1: 1.83 -> 0.68 s; frames identical
    at sf0.001/0.01/0.1, oracle unchanged)."""
    plan = executed_plan(
        registry.QUERIES["j14_interval_overlap_join"](spark, SF_DIR)
    )
    assert "Join" not in plan, (
        "j14 regained a pair join:\n" + plan[:1500]
    )
    assert "Window" in plan and "windowspecdefinition(day#" in plan, (
        "j14's sweep window over day is gone:\n" + plan[:1500]
    )


def test_l19_text_stays_out_of_shuffles(spark):
    """r16 (r15 verdict item 4): l19's semi-join moves (gram,
    doc_id, source) rows and its train side builds broadcast-side —
    raw document ``text`` must never cross an exchange (grams are
    the contract's payload; a text column in any shuffle means the
    decontamination pass ships the corpus at 100 TB). Payload-walk
    assertion, not a line grep (the r14 ADVICE lesson)."""
    assert_no_exchange_carries(
        registry.QUERIES["l19_decontamination"](spark, SF_DIR), {"text"}
    )
    plan = executed_plan(registry.QUERIES["l19_decontamination"](spark, SF_DIR))
    assert any(
        "BroadcastHashJoin" in ln and "LeftSemi" in ln
        for ln in plan.splitlines()
    ), (
        "train-gram membership must probe a broadcast build, not shuffle "
        "the eval grams:\n" + plan[:2000]
    )


def test_l34_text_stays_out_of_shuffles(spark):
    """l34: every hashpartitioning exchange must key on hashes, ids,
    or the per-source rollup — never raw passage/clean text; the
    duplicate-hash set and the drop-position table must come back as
    broadcast builds; and the cached passage-id relation caps the
    documents scans at two (derive + reassemble)."""
    plan = executed_plan(registry.QUERIES["l34_passage_dedup"](spark, SF_DIR))
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "passage#" not in ln and "text#" not in ln.replace(
                "clean_text", ""
            ), ln
    # r15 (r14 ADVICE): the line grep above only catches exchanges
    # partitioned BY text; assert the payload too.
    assert_no_exchange_carries(
        registry.QUERIES["l34_passage_dedup"](spark, SF_DIR),
        {"text", "passage", "clean_text"},
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # Both the duplicate-hash agg and the drop-position semi-join
    # must read the CACHED passage-id relation, not re-derive it
    # from a third documents scan. (InMemoryRelation blocks print
    # their recipe FileScan, so counting raw FileScan lines
    # overcounts — count the cache consumers instead.)
    assert plan.count("InMemoryTableScan") == 2, plan


def test_w11_bounded_series_window(spark):
    """w11: the running sum must execute over the |months|-row
    aggregated series (SinglePartition exchange ABOVE two hash
    aggs), and the orders scan must prune to exactly the two
    columns the identity needs."""
    plan = executed_plan(registry.QUERIES["w11_running_distinct"](spark, SF_DIR))
    assert "Exchange SinglePartition" in plan, plan
    hash_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 2, plan
    cols = scan_read_columns(plan, "orders")
    assert cols is None or set(cols) <= {"o_custkey", "o_orderdate"}, cols


def test_j16_lateral_decorrelates_to_group_limit(spark):
    """j16: the correlated LATERAL LIMIT must decorrelate to a
    WindowGroupLimit with a Partial pass below the exchange (map-side
    top-2 per customer), joined via broadcast hash join — not a
    per-row subquery re-execution or nested loop."""
    plan = executed_plan(registry.QUERIES["j16_lateral_topk"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_l35_pairs_shuffle_on_cluster_only(spark):
    """l35: the pair self-join must shuffle on the cluster id (ids +
    vectors partition-local — never an unclustered N² cross join),
    and the centroid table must broadcast into the assignment pass."""
    plan = executed_plan(registry.QUERIES["l35_semantic_dedup"](spark, SF_DIR))
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert any(
        "Exchange hashpartitioning" in ln and "cluster" in ln
        for ln in plan.splitlines()
    ), plan


def test_l37_probe_is_broadcast_map_side(spark):
    """l37: the set-bit table and the exact-hash table must come back
    as broadcast builds — the batch probe may not shuffle its text."""
    plan = executed_plan(
        registry.QUERIES["l37_portable_bloom_probe"](spark, SF_DIR)
    )
    assert plan.count("BroadcastHashJoin") >= 3, plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln
    # r15 (r14 ADVICE): payload check — the grep above is key-only.
    assert_no_exchange_carries(
        registry.QUERIES["l37_portable_bloom_probe"](spark, SF_DIR), {"text"}
    )


def test_l38_pagerank_iteration_shape(spark):
    """l38: five lazily-composed iterations must plan with the node
    count as a broadcast (1-row meta cross join), contributions
    joined — never a cartesian — and ranks shuffling as (id, rank)
    pairs, not embeddings (vectors exist only in the edge-derivation
    subtree)."""
    plan = executed_plan(registry.QUERIES["l38_pagerank"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan, plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "embedding" not in ln, ln


def test_w12_interval_merge_single_exchange(spark, monkeypatch):
    """w12: one user_id shuffle must serve the running-max window,
    the island-numbering window (shared sort) and the final
    (user_id, span_id) aggregate — hash-partitioning on user_id
    satisfies the aggregate's clustered distribution, so no second
    exchange may appear."""
    plan = executed_plan(registry.QUERIES["w12_interval_merge"](spark, SF_DIR))
    assert shuffle_exchange_count(plan) == 1, plan
    assert plan.count("Sort [user_id") == 1, "both windows must share one sort"
    plan = _plan_at_cap(spark, monkeypatch, "w12_interval_merge")
    assert shuffle_exchange_count(plan) == 1, plan
    assert plan.count("Sort [user_id") == 1, "both windows must share one sort"


def test_l41_sketch_is_narrow_and_recount_is_filtered(spark):
    """l41: the Misra-Gries pass must be a narrow MapInPandas (no
    exchange between the token scan and the sketch), the candidate
    set must come back as a broadcast build on the recount join,
    and the n_total comparison must be a broadcast of a 1-row
    aggregate — no driver-side collect anywhere in the plan."""
    plan = executed_plan(registry.QUERIES["l41_heavy_hitters"](spark, SF_DIR))
    assert "MapInPandas" in plan, plan
    sketch_below = plan.split("MapInPandas", 1)[1]
    assert "Exchange" not in sketch_below.split("FileScan", 1)[0], (
        "sketch input must not be shuffled"
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row n_total cross


def test_l42_weighted_sample_is_top_k(spark):
    """l42: the A-ES draw must plan as TakeOrderedAndProject
    (per-partition heaps), never a global sort."""
    plan = executed_plan(registry.QUERIES["l42_weighted_sample"](spark, SF_DIR))
    assert has_top_k(plan), plan
    assert "Sort" not in plan.split("TakeOrderedAndProject")[0], plan


def test_o09_rank_never_globally_sorts_the_table(spark):
    """o09: global ranking must come from per-bucket windows — the
    only sort over the full relation is partitioned by bucket after
    a hashpartitioning exchange. The SinglePartition exchanges in
    the plan may carry only the B-row bucket-count table and the
    1-row bounds aggregate, never customer rows (they sit above
    per-bucket HashAggregates)."""
    plan = executed_plan(registry.QUERIES["o09_distributed_rank"](spark, SF_DIR))
    assert "Exchange hashpartitioning(bucket" in plan, plan
    for chunk in plan.split("Exchange SinglePartition")[1:]:
        # the subtree below each SinglePartition exchange must start
        # from an aggregate (bounds min/max or bucket counts), i.e.
        # partial aggregation happened before the funnel
        head = chunk.split("FileScan", 1)[0]
        assert "HashAggregate" in head, plan


def test_l44_single_scan_lateral_sizes(spark):
    """l44: the three gram sizes must come from ONE documents scan
    (lateral expansion), not a union of three scans."""
    plan = executed_plan(registry.QUERIES["l44_ngram_diversity"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1, plan


def test_l45_zipf_topk_before_regression(spark):
    """l45: the vocabulary must reduce through TakeOrderedAndProject
    before the (bounded) rank window and the co-moment sums."""
    plan = executed_plan(registry.QUERIES["l45_zipf_slope"](spark, SF_DIR))
    assert has_top_k(plan), plan


def test_l46_moments_single_scan_with_partials(spark):
    """l46: the 73-cell sufficient statistic must reduce in ONE
    embeddings scan with map-side partial decimal sums — the model
    fetch is the only driver materialization, and the returned
    8-row frame is a local relation (no second scan)."""
    df = registry.QUERIES["l46_pca_power_iteration"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "FileScan" not in plan, "result must be a local 8-row relation"
    # audit the moment aggregation plan itself
    from hetnetdb_spark.catalog import load_tables
    from pyspark.sql import functions as F
    (emb,) = load_tables(spark, SF_DIR, "embeddings")
    agg = emb.agg(
        F.sum(F.col("embedding")[0].cast("double").cast("decimal(28,14)"))
    )
    aplan = executed_plan(agg)
    assert "partial_sum" in aplan, aplan


def test_w14_streaks_single_exchange(spark, monkeypatch):
    """w14: collect_set day-dedup must keep the whole query on ONE
    user_id exchange (a (user_id, day) DISTINCT would force two)."""
    plan = executed_plan(registry.QUERIES["w14_activity_streaks"](spark, SF_DIR))
    assert shuffle_exchange_count(plan) == 1, plan
    assert "collect_set" in plan, plan
    plan = _plan_at_cap(spark, monkeypatch, "w14_activity_streaks")
    assert shuffle_exchange_count(plan) == 1, plan


def test_w13_rolling_median_frame_is_bounded(spark):
    """w13: the order-statistic spelling must use a ROWS frame
    (bounded W-element arrays), never an unbounded collect."""
    plan = executed_plan(registry.QUERIES["w13_rolling_median"](spark, SF_DIR))
    assert "specifiedwindowframe(RowFrame, -6, currentrow" in plan, plan


def test_j17_nearest_asof_is_bounded_range_join(spark):
    """j17: the join must carry the two-sided time-range condition
    (bounded fan-out) and rank per anchor via a window, not a
    cross-product + global sort."""
    plan = executed_plan(registry.QUERIES["j17_asof_nearest"](spark, SF_DIR))
    assert "Sort" in plan and "Window" in plan, plan
    # both range bounds must ride the equi-join as residual conditions
    assert "INTERVAL '-2' DAY" in plan and "INTERVAL '2' DAY" in plan, plan


def test_a26_mad_two_ranked_passes(spark):
    """a26: exactly two lang exchanges (one per ranked pass — pass 2
    depends on pass 1's medians) and the |groups|-row median table
    must come back as a broadcast build."""
    plan = executed_plan(registry.QUERIES["a26_mad_robust_stats"](spark, SF_DIR))
    assert shuffle_exchange_count(plan) == 2, plan
    assert "BroadcastHashJoin" in plan, plan


def test_l49_pmi_marginals_broadcast(spark):
    """l49: both marginal joins must broadcast (vocab-bounded build
    sides) and the top-25 must be TakeOrderedAndProject."""
    plan = executed_plan(registry.QUERIES["l49_pmi_collocations"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert has_top_k(plan), plan


def test_l53_negatives_one_exchange_with_group_limit(spark):
    """l53: the per-anchor rank must prune below the exchange
    (WindowGroupLimit — at most K rows per anchor cross the wire)
    and the whole query rides ONE anchor_id exchange."""
    plan = executed_plan(registry.QUERIES["l53_negative_sampling"](spark, SF_DIR))
    assert shuffle_exchange_count(plan) == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_l54_model_scoring_is_pure_codegen(spark):
    """l54: the classifier application must stay JVM-side — no
    Python evaluation nodes anywhere in the plan (the model is a
    literal array, the features fold in aggregates)."""
    plan = executed_plan(
        registry.QUERIES["l54_quality_model_scoring"](spark, SF_DIR)
    )
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert shuffle_exchange_count(plan) <= 2, plan


def test_l52_entropy_shuffles_are_vocab_bounded(spark):
    """l52: the only raw-row shuffle is the (source, term) partial
    aggregate; everything after operates on vocab-bounded rows (the
    first exchange's input must carry partial_count, i.e. map-side
    aggregation happened before any wire transfer)."""
    plan = executed_plan(registry.QUERIES["l52_entropy_profile"](spark, SF_DIR))
    first_exchange_input = plan.split("Exchange hashpartitioning", 1)[1]
    assert "partial_count" in first_exchange_input, plan


def test_o10_recursion_is_engine_looped(spark):
    """o10: WITH RECURSIVE must plan as the engine's UnionLoop
    operator (Spark 4 recursion execution), and the money rollup
    must accumulate in decimal — a double sum here would reintroduce
    the partition-order drift the a19/q1 discipline removed.

    The registered query materializes its (<= depth-row) result
    inside a conf-scoped override so the recursion row-limit guard
    is restored for later queries — so the UnionLoop pin inspects
    the recursive SQL's own plan, built under the same scoped
    override the query uses."""
    from hetnetdb_spark.catalog import register_views
    from hetnetdb_spark.operators.sql_surface import O10_SQL

    register_views(spark, SF_DIR, "part")
    with conf_scope(spark, {"spark.sql.cteRecursionRowLimit": "-1"}):
        plan = executed_plan(spark.sql(O10_SQL))
    assert "UnionLoop" in plan, plan
    assert "sum(cast(price" in plan and "as decimal(18,6)" in plan, plan
    # the registered query must leave the session guard restored
    registry.QUERIES["o10_recursive_cte"](spark, SF_DIR).collect()
    assert spark.conf.get("spark.sql.cteRecursionRowLimit") != "-1"


def test_u13_sql_udf_inlines_to_codegen(spark):
    """u13: SQL-body UDFs must be analyzer-inlined — the executed
    plan may contain NO Python evaluation node of any kind (that is
    the entire point of the surface vs u01/u02), and the aggregate
    must still split partial/final like any hand-written expression."""
    plan = executed_plan(registry.QUERIES["u13_sql_udf"](spark, SF_DIR))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonUDF"):
        assert marker not in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_l55_single_scan_and_broadcast_totals(spark):
    """l55: per_lang is cached so the documents text column is
    scanned (and tokenized) exactly once; the 1-row totals join
    back as a broadcast."""
    plan = executed_plan(registry.QUERIES["l55_alpha_mixture"](spark, SF_DIR))
    assert plan.count("FileScan parquet") <= 1, plan
    assert "Broadcast" in plan, plan


def test_j20_hints_override_strategy_choice(spark):
    """j20: MERGE and SHUFFLE_HASH hints must each produce their
    named join operator and suppress the broadcast Catalyst's size
    estimate would pick at fixture scale — hints outrank estimates."""
    plan = executed_plan(registry.QUERIES["j20_join_strategy_hints"](spark, SF_DIR))
    assert "SortMergeJoin" in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_w17_single_user_exchange(spark, monkeypatch):
    """w17: forward and backward IGNORE NULLS frames must be
    computed by ONE Window node over ONE user_id hash exchange
    (shared partitioning + sort order); the only other exchange is
    the presentation-order range sort. At fixture scale the window
    shuffle is 1 wide, a single partition that also serves the sort,
    so the plan has one exchange; a 1-byte task target widens it to
    the hash exchange a larger input gets."""
    plan = executed_plan(registry.QUERIES["w17_ignore_nulls_fill"](spark, SF_DIR))
    assert shuffle_exchange_count(plan) == 1, plan
    assert "Exchange SinglePartition, REPARTITION_BY_NUM" in plan, plan
    assert plan.count("Window [") == 1, plan

    plan = _plan_at_cap(spark, monkeypatch, "w17_ignore_nulls_fill")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window [") == 1, plan


def test_l58_vote_pick_prunes_below_shuffle(spark):
    """l58: each round's argmax label pick is a row_number()==1 over
    (dst) — Spark 4 must plan WindowGroupLimit so at most one row
    per (dst × partition) survives to the window sort, and the vote
    shuffles carry (id, label, count) rows only — no embedding
    column may appear in any exchange."""
    plan = executed_plan(registry.QUERIES["l58_label_propagation"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "embedding" not in line, line


def test_s34_pushdown_through_view_stack(spark):
    """s34: the middle view's date predicate must reach the parquet
    scan's pushed filters THROUGH two view layers, and the scan must
    read only the four columns the stack touches."""
    import re

    plan = executed_plan(registry.QUERIES["s34_view_stack"](spark, SF_DIR))
    assert "PushedFilters" in plan and "GreaterThanOrEqual(l_shipdate" in plan, plan
    # catalog-table scan line: FileScan parquet spark_catalog.default.lineitem[cols...]
    m = re.search(r"FileScan parquet \S*lineitem\[([^\]]*)\]", plan)
    assert m, plan
    cols = {c.split("#")[0] for c in m.group(1).split(",")}
    assert cols <= {
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    }, f"view stack must prune columns; scan reads {sorted(cols)}"


def test_l59_probe_exchanges_carry_no_shingles(spark):
    """l59: the batch-vs-index band join must shuffle only (band
    key, id) rows — shingle arrays re-join after candidate dedup
    (the l02 invariant applied to the incremental probe)."""
    plan = executed_plan(registry.QUERIES["l59_minhash_index_probe"](spark, SF_DIR))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "sh#" not in line and " sh," not in line, line.strip()[:160]


def test_l04_tuned_band_exchanges_carry_no_vectors(spark):
    """l04_simjoin_lsh_tuned: the 8x8 band self-join must shuffle
    only (band key, vec_id) rows — the double-cast embedding arrays
    re-join onto deduplicated candidate pairs afterwards (the l02/
    l59 invariant applied to the selective regime), and nothing in
    the plan may degenerate to a cartesian product."""
    plan = executed_plan(
        registry.QUERIES["l04_simjoin_lsh_tuned"](spark, SF_DIR)
    )
    # The only nested-loop joins allowed are the broadcast 1-row
    # summary-assembly crossJoins; a non-broadcast cartesian means
    # the band join degenerated.
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning(band_id" in line:
            assert " e#" not in line and "embedding#" not in line, (
                line.strip()[:160]
            )


def test_l67_gram_exchanges_carry_hash_not_text(spark):
    """l67_substring_dedup: every gram-key exchange must carry the
    md5 key (g), never the raw K-char gram or the document text —
    the shuffle-compression property the docstring claims for
    corpus scale."""
    plan = executed_plan(registry.QUERIES["l67_substring_dedup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # The join-back must be a SHUFFLE-side join: an explode's size
    # estimate is its child scan's, so without the hint the planner
    # "broadcasts" the 300×-larger gram relation — measured blowing
    # spark.driver.maxResultSize at the 30× slope scale. Sort-merge
    # specifically: a shuffled-hash build map of the corpus-sized
    # stats side OOMed at 30×, while SMJ's sorts spill.
    assert "SortMergeJoin" in plan, "gram join-back must not broadcast"
    seen_gram_exchange = False
    for line in plan.splitlines():
        if "Exchange hashpartitioning(g#" in line:
            seen_gram_exchange = True
            assert "gram#" not in line and "text#" not in line, (
                line.strip()[:160]
            )
    assert seen_gram_exchange, "expected a hash exchange on the md5 gram key"
    # r15 (r14 ADVICE): payload check — the grep above is key-only.
    assert_no_exchange_carries(
        registry.QUERIES["l67_substring_dedup"](spark, SF_DIR), {"gram", "text"}
    )


def test_l70_band_exchanges_carry_no_shingles(spark):
    """l70: both legs' exchanges must stay compact — the banding
    leg shuffles (band key, doc_id) without shingle arrays (the
    l02/l59 invariant), and no leg may degenerate to a cartesian
    product (the inverted-index exact leg is an equi-join on the
    shingle, never all-pairs)."""
    plan = executed_plan(
        registry.QUERIES["l70_minhash_recall_curve"](spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning(band_id" in line:
            assert " sh#" not in line and "text#" not in line, (
                line.strip()[:160]
            )
    # r15 (r14 ADVICE): payload check — the grep above is key-only.
    assert_no_exchange_carries(
        registry.QUERIES["l70_minhash_recall_curve"](spark, SF_DIR),
        {"sh", "shingles", "text"},
    )


def test_l69_ivf_probe_is_broadcast(spark):
    """l69: the probe-list and query-vector sides must reach the
    candidate scan as broadcasts (no shuffle of the embedding table
    against an 8-row centroid side), and nothing may plan as a
    non-broadcast cartesian."""
    plan = executed_plan(registry.QUERIES["l69_ivf_recall"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_s40_pipe_syntax_pushes_filter_to_scan(spark):
    """s40: the |> front end must be an optimization no-op — the
    WHERE stage written BEFORE the join has to reach the orders
    parquet scan as a pushed filter, exactly as the ANSI spelling
    would, or pipe syntax becomes a pushdown barrier at scale."""
    from hetnetdb_spark.operators.sql_surface import S40_PIPE_SQL
    from hetnetdb_spark.catalog import register_views

    register_views(spark, SF_DIR, "orders", "customer")
    plan = executed_plan(spark.sql(S40_PIPE_SQL))
    assert has_pushed_filter(plan, "o_orderdate"), plan


def test_u01_is_the_only_batch_eval_python(spark):
    """Registry-wide inverse of the U1 contract (VERDICT r11 item 8):
    u01_python_udf is the ONLY query whose physical plan contains a
    BatchEvalPython node — the pickled row-at-a-time Python boundary.
    Everything else must stay JVM-side or cross via Arrow
    (ArrowEvalPython / *InPandas / *InArrow), which this test does
    not flag. Scans the pre-execution physical plan (`sparkPlan`),
    so the whole 300+-query sweep costs planning time only — no jobs
    run. Goes red the moment any future query sneaks a pickled UDF
    into the hot path; tools/plan_lint.py rule 4 is the
    executed-plan (post-AQE) twin of this assertion."""
    offenders = []
    u01_has_node = False
    for name in sorted(registry.QUERIES):
        if name in registry.IMPURE:
            continue  # impure queries execute side effects on build
        df = registry.QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().sparkPlan().toString()
        if "BatchEvalPython" in plan:
            if name == "u01_python_udf":
                u01_has_node = True
            else:
                offenders.append(name)
    assert u01_has_node, (
        "u01_python_udf must plan a BatchEvalPython node — if Spark "
        "started arrow-optimizing plain @udf by default, the U1 "
        "contract no longer certifies the pickled path"
    )
    assert not offenders, (
        f"queries paying the pickled row-UDF boundary besides u01: "
        f"{offenders}"
    )


def test_l14_repetition_is_shuffle_free_per_doc(spark):
    """l14 (r12 rewrite): per-doc token-multiset stats fold in-row —
    no (doc_id, token) relation exists, so the plan has NO Generate
    node and exactly one exchange (the per-source rollup)."""
    plan = executed_plan(registry.QUERIES["l14_repetition_stats"](spark, SF_DIR))
    assert "Generate" not in plan, "l14 must not explode tokens"
    assert shuffle_exchange_count(plan) == 1, plan


def test_l20_bm25_no_token_explode_and_top_k(spark):
    """l20 (r12 rewrite): fixed-term BM25 needs no exploded token
    relation (per-term tf is an in-row size(filter(...))), corpus
    stats ride a 1-row broadcast, and the ordering operator is the
    top-20 TakeOrderedAndProject — zero token-keyed exchanges."""
    plan = executed_plan(registry.QUERIES["l20_bm25_search"](spark, SF_DIR))
    assert "Generate" not in plan, "l20 must not explode tokens"
    assert has_top_k(plan), "top-20 must plan as TakeOrderedAndProject"
    assert "BroadcastExchange" in plan, "1-row stats must broadcast"
    # The global N/avgdl/df aggregate legitimately plans one
    # Exchange SinglePartition (partial -> final of an ungrouped
    # agg: ~#partitions partial rows, scale-safe). The claim worth
    # pinning is that no exchange is keyed on tokens or any other
    # corpus-sized key — hash OR range (r13 ADVICE: a regression to a
    # corpus-sized range-partitioned sort exchange must also fail, so
    # only the single Exchange SinglePartition is tolerated).
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert shuffle_exchange_count(plan) <= 1, plan


def test_l78_hybrid_corpus_work_is_top_k_only(spark):
    """l78 (r13): both retrieval legs must reduce corpus-sized input
    through TakeOrderedAndProject (top-50 each) before any rank/join
    machinery — the fusion's exchanges then carry <=50 rows by
    construction. No token explode; corpus stats ride a broadcast."""
    plan = executed_plan(
        registry.QUERIES["l78_hybrid_retrieval_rrf"](spark, SF_DIR)
    )
    assert "Generate" not in plan, "l78 must not explode tokens"
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "BroadcastExchange" in plan, "1-row BM25 stats must broadcast"
    # r14 (r13 ADVICE): bound the shuffles so a regression that
    # re-introduces a corpus-sized exchange into the fusion (e.g.
    # losing the limit-before-window shape) fails. The one tolerated
    # exchange is the BM25 stats aggregate's SinglePartition merge;
    # corpus-keyed hash/range exchanges stay forbidden outright.
    assert shuffle_exchange_count(plan) <= 1, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_l79_text_stays_out_of_exchanges(spark):
    """l79 (r14): the end-to-end prep chain's exchanges may carry
    hashes, ids, band keys, langs and token counts — never the raw
    text column (PIPELINE_DEMO_r13 measured this per stage; this
    pins it for the COMPOSED plan). No cartesian anywhere."""
    plan = executed_plan(
        registry.QUERIES["l79_prep_pipeline_e2e"](spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan, plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln or "Exchange rangepartitioning" in ln:
            assert "text#" not in ln, ln
    # r15 (r14 ADVICE): the grep above is key-only — it would have
    # PASSED the very r13 static-SMJ text leak this test's docstring
    # forbids. Assert the payload of every exchange in the composed
    # chain: nothing may CARRY raw text through a shuffle.
    assert_no_exchange_carries(
        registry.QUERIES["l79_prep_pipeline_e2e"](spark, SF_DIR), {"text"}
    )


def test_l80_probe_broadcasts_bounded_sides(spark):
    """l80 (r14): the serving path must broadcast the two BOUNDED
    relations — the 8-row centroid table into the probe scoring pass
    and the (batch × nprobe) probe list into the stored-index join —
    and read the index back from its cluster-partitioned store (a
    second FileScan rooted in the scratch store, not lineage into
    the training subtree). No cartesian (the centroid cross joins
    are broadcast-implemented)."""
    plan = executed_plan(
        registry.QUERIES["l80_ivf_index_probe"](spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastExchange") + plan.count(
        "BroadcastQueryStage"
    ) >= 2, plan
    assert "l80_index" in plan, "probe must scan the persisted index store"
    # r15 (r14 verdict item 8): the probed-cluster shard selection
    # must reach the store scan as a PARTITION filter — DPP only ever
    # planned dynamicpruningexpression(true) here, so the router's
    # static cluster IN (...) pushdown is the pruning mechanism.
    idx_scan = next(
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "l80_index" in ln
    )
    pf = idx_scan[idx_scan.find("PartitionFilters"):]
    assert "cluster" in pf.split("PushedFilters")[0] and " IN " in pf.split(
        "PushedFilters"
    )[0], f"probed clusters must prune the store scan: {idx_scan[-300:]}"


def test_l80_store_scan_actually_prunes_files(spark):
    """The layout claim behind l80's docstring ('the probe list
    prunes cluster partitions the way s11's dim filter prunes date
    partitions'), proven on FILES READ: a probe hitting nprobe=2 of
    the 8 cluster partitions must scan strictly fewer parquet files
    than the store holds. Uses the same store l80 just persisted and
    the same isin-pushdown read shape; the scan's own numFiles
    SQLMetric is the evidence (executed, not estimated)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from hetnetdb_spark.plans.audit import profile
    from hetnetdb_spark.scratch import SCRATCH

    registry.QUERIES["l80_ivf_index_probe"](spark, SF_DIR).collect()
    tag = os.path.basename(SF_DIR.rstrip("/")).replace(".", "_")
    store = os.path.join(SCRATCH, f"l80_index_{tag}")
    total_files = len(
        glob.glob(os.path.join(store, "cluster=*", "*.parquet"))
    )
    clusters = sorted(
        int(os.path.basename(d).split("=")[1])
        for d in glob.glob(os.path.join(store, "cluster=*"))
    )
    assert len(clusters) >= 3, f"store must be cluster-partitioned: {clusters}"
    probe = spark.read.parquet(store).filter(
        F.col("cluster").isin(clusters[:2])
    )
    recs = profile(probe.groupBy("cluster").count())
    scan = next(
        r for r in recs if "Scan parquet" in r["operator"] or "FileScan" in r["operator"]
    )
    n_files = scan["metrics"].get("numFiles")
    assert n_files is not None and 0 < n_files < total_files, (
        f"2-of-{len(clusters)} cluster probe read {n_files} of "
        f"{total_files} files — partition pruning not effective"
    )


def test_s47_diff_reads_store_two_scans_one_join(spark):
    """s47 (r15): the CDC read must be computed FROM THE STORE —
    exactly two FileScans rooted in the s47 scratch store (gen1,
    gen2), combined by ONE key-equi full outer join (sort-merge or
    shuffled-hash; Spark cannot broadcast either side of a full
    outer, and neither side is bounded anyway), never a cartesian
    and never lineage back into the orders scan that built the
    store. No driver materialization: the change relation stays a
    distributed select over the join."""
    plan = executed_plan(
        registry.QUERIES["s47_merge_snapshot_diff"](spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan, plan
    store_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "s47_store_" in ln
    ]
    assert len(store_scans) == 2, plan
    assert "FullOuter" in plan, plan
    assert plan.count("FileScan parquet") == 2, (
        "diff must read only the persisted generations, not re-derive "
        "the merge lineage:\n" + plan
    )


def test_l81_maintenance_reads_store_not_rederivation(spark):
    """l81 (r15): the maintenance subtree must read the PERSISTED
    gen1 band keys (one FileScan rooted in the l81 store) and touch
    `documents` only for the delta — the takedown id list (pruned to
    doc_id) and the arrival rows the %7 filter selects. Three scans
    total; a fourth would mean the corpus band keys are being
    re-derived, i.e. the O(corpus) re-hash this operator exists to
    avoid. The summary the registry query returns must likewise read
    only the persisted gen2."""
    import os

    from hetnetdb_spark.pipeline.dedup import _l81_maintained
    from hetnetdb_spark.scratch import SCRATCH

    # Run the registry query once: builds gen1/gen2 and certifies the
    # summary plan below reads only gen2.
    plan_summary = executed_plan(
        registry.QUERIES["l81_index_maintenance"](spark, SF_DIR)
    )
    scans = [
        ln for ln in plan_summary.splitlines() if "FileScan parquet" in ln
    ]
    assert len(scans) == 1 and "l81_index" in scans[0] and "gen2" in scans[0], (
        "summary must read the persisted maintained index only:\n"
        + "\n".join(scans)
    )

    from hetnetdb_spark.catalog import load_tables

    (documents,) = load_tables(spark, SF_DIR, "documents")
    tag = os.path.basename(SF_DIR.rstrip("/")).replace(".", "_")
    store = os.path.join(SCRATCH, f"l81_index_{tag}")
    plan = executed_plan(_l81_maintained(spark, documents, store))
    assert "CartesianProduct" not in plan, plan
    m_scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert sum(1 for ln in m_scans if "l81_index" in ln and "gen1" in ln) == 1, (
        "maintenance must read the stored gen1:\n" + "\n".join(m_scans)
    )
    doc_scans = [ln for ln in m_scans if "documents.parquet" in ln]
    assert len(doc_scans) == 2 and len(m_scans) == 3, (
        "maintenance touches documents only for takedown ids + "
        "arrivals:\n" + "\n".join(m_scans)
    )
    # The takedown leg is ids-only: one of the two documents scans
    # must read just doc_id (column pruning keeps the anti-join
    # build side at 8 bytes/row).
    assert any(
        ln.split("]")[0].count(",") == 0 and "doc_id" in ln.split("]")[0]
        for ln in doc_scans
    ), "takedown scan must prune to doc_id:\n" + "\n".join(doc_scans)


def test_l71_recovery_is_join_free(spark):
    """r15: l71's banding-recovery test is computed per-row from the
    two signatures the truth pair already carries (an OR of 4
    shift/mask band compares), NOT by left-joining the banded
    candidate-pair relation — that join, not the N² popcount, owned
    the wall (sf0.1 decomposition: truth-BNLJ 0.94 s vs truth+left-
    join 8.77 s; full query 7.78 s → 0.72 s after). The plan must
    contain exactly one join (the fenced all-pairs nested loop) and
    no banding explode/self-join/sort-merge anywhere."""
    plan = executed_plan(registry.QUERIES["l71_simhash_recall_curve"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # exactly the one truth join — no candidate-pair join survives
    n_joins = sum(plan.count(j) for j in
                  ("BroadcastNestedLoopJoin", "BroadcastHashJoin"))
    assert n_joins == 1, plan


def test_l71_hit_equals_banding_membership(spark):
    """r15 equivalence pin for the join-free rewrite: for every
    truth pair, the arithmetic `hit` (OR of 4 band-equality
    compares) must equal membership in the banded candidate-pair
    relation `_simhash_fps_and_pairs` produces — the definitional
    identity the rewrite rests on, checked end-to-end on the real
    fixture corpus."""
    from pyspark.sql import functions as F

    from hetnetdb_spark.catalog import load_tables, spread
    from hetnetdb_spark.pipeline.dedup import (
        MAX_HAMMING,
        _simhash_fps_and_pairs,
    )

    (documents,) = load_tables(spark, SF_DIR, "documents")
    fps, pairs = _simhash_fps_and_pairs(spread(documents))
    fa = fps.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("sa"))
    fb = fps.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("sb"))
    hd = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    truth = (
        fa.join(F.broadcast(fb), F.col("a_id") < F.col("b_id"))
        .withColumn("hd", hd)
        .filter(F.col("hd") <= MAX_HAMMING)
    )
    joined = truth.join(
        pairs.select("a_id", "b_id").withColumn("member", F.lit(1)),
        ["a_id", "b_id"],
        "left",
    )
    from hetnetdb_spark.pipeline.dedup import (
        BITS_PER_SIMHASH_BAND,
        SIMHASH_BANDS,
    )
    mask = (1 << BITS_PER_SIMHASH_BAND) - 1
    shares = None
    for b in range(SIMHASH_BANDS):
        eq = (
            F.shiftrightunsigned(F.col("sa"), b * BITS_PER_SIMHASH_BAND).bitwiseAND(F.lit(mask))
            == F.shiftrightunsigned(F.col("sb"), b * BITS_PER_SIMHASH_BAND).bitwiseAND(F.lit(mask))
        )
        shares = eq if shares is None else (shares | eq)
    mismatches = joined.filter(
        shares.cast("int") != F.coalesce(F.col("member"), F.lit(0))
    ).count()
    assert mismatches == 0


def test_s17_profile_has_no_expand(spark):
    """r15: the per-column UNION spelling must keep the Expand-based
    multi-distinct aggregate out of the plan (6×N narrow rows
    instead of 7×N wide expanded rows; 2.11 s → 1.07 s at sf0.1)."""
    plan = executed_plan(registry.QUERIES["s17_table_profile"](spark, SF_DIR))
    assert "Expand" not in plan, plan
    assert plan.count("Union") >= 1, plan


def test_cbo_leaves_headline_initial_plans_unchanged(spark):
    """``session.SESSION_CONF`` turns CBO and join reordering on for
    every session, so every DataFrame query is planned with them,
    though only the SQL path's catalog tables carry statistics. With
    every table registered, the 8 headline queries' initial (pre-AQE)
    physical plans must be the same with CBO on and off."""
    import re

    from py4j.protocol import Py4JError

    from bench import HEADLINE
    from hetnetdb_spark.catalog import register_views

    register_views(spark, SF_DIR)
    keys = ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")

    def initial_plans(flag: str) -> dict[str, str]:
        out = {}
        with conf_scope(spark, dict.fromkeys(keys, flag)):
            for name in HEADLINE:
                qe = registry.QUERIES[name](spark, SF_DIR)._jdf.queryExecution()
                plan = qe.executedPlan()
                try:
                    plan = plan.initialPlan()
                except Py4JError:  # not adaptive: the plan is the initial one
                    pass
                out[name] = re.sub(r"#\d+|plan_id=\d+", "#", plan.toString())
        return out

    on, off = initial_plans("true"), initial_plans("false")
    assert sorted(on) == sorted(HEADLINE)
    changed = [n for n in HEADLINE if on[n] != off[n]]
    assert not changed, "\n\n".join(f"{n}\nCBO on:\n{on[n]}\nCBO off:\n{off[n]}" for n in changed)


def test_plan_ledger_is_current(spark):
    """Every pure query's plan-shape row in PLAN_LEDGER.json matches
    its code: rows whose fingerprint changed are re-walked at the
    ledger's sf_dir and must keep their counts, and no lint hit may
    lack an adjudication at the current code. At a committed ledger
    nothing is re-walked."""
    ledger = audit.load_ledger()
    head = audit.header(ledger["sf_dir"])
    assert {k: ledger[k] for k in head} == head, (
        "pyspark or the lint rules changed: run `python tools/plan_lint.py` "
        "and commit the ledger diff"
    )
    _, changes, flags, _ = audit.refresh(spark, ledger)
    assert not changes and not flags, "\n".join(changes + flags)


def test_plan_ledger_flags_a_deleted_adjudication(spark):
    """Deleting a live adjudication by hand re-walks its query, whose
    code is unchanged, and the hit it guarded is flagged."""
    import copy

    name, rule = "a29_approx_topk_contract", "generate_broadcast"
    ledger = copy.deepcopy(audit.load_ledger())
    assert ledger["queries"][name]["adjudicated"] == [rule]
    del ledger["adjudications"][name]
    _, _, flags, _ = audit.refresh(spark, ledger)
    assert flags == [f"FLAG   {name} — {audit.RULES[rule]}: unadjudicated"]


def test_plan_ledger_reports_an_added_shuffle(spark, monkeypatch):
    """An extra exchange in a query no pin here covers shows up as a
    changed ledger row."""
    name = "q6_forecast_revenue"
    received = registry.RECEIVED[name]

    def repartitioned(spark, sf_dir):
        return received(spark, sf_dir).repartition(3)

    monkeypatch.setitem(registry.RECEIVED, name, repartitioned)
    monkeypatch.setitem(registry.QUERIES, name, repartitioned)
    ledger = audit.load_ledger()
    before = ledger["queries"][name]["shuffles"]
    _, changes, _, _ = audit.refresh(spark, ledger)
    assert changes == [f"{name}: shuffles {before} -> {before + 1}"]


def test_audit_plans_without_running(spark):
    """``audit`` reads the initial plan only: auditing an already-built
    query starts no Spark job, and two audits of a query whose run-time
    sizes once decided its hit (l59's rule 1) agree."""
    sc = spark.sparkContext
    df = registry.QUERIES["q1_pricing_summary"](spark, SF_DIR)
    gid = "test-audit-q1"
    sc.setJobGroup(gid, "audit")
    try:
        audit.audit(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []

    sf_dir = audit.load_ledger()["sf_dir"]
    name = "l59_minhash_index_probe"
    first, second = (audit.audit(registry.QUERIES[name](spark, sf_dir))[1] for _ in range(2))
    assert first == second
