"""Cross-scale consistency checks (SURVEY §5.2).

Invariants that must hold at every scale factor: dimension tables
are constant-size, fact tables grow, schemas are identical, and
scale-invariant query outputs (group counts, dimensionality) do not
change between sf0.001 and sf0.01.
"""

from __future__ import annotations

import os

import pytest

from hetnetdb_spark import registry
from hetnetdb_spark.catalog import load, load_tables

registry.load_all()

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

needs_both = pytest.mark.skipif(
    not (os.path.isdir(SF_SMALL) and os.path.isdir(SF_MED)),
    reason="both fixture scales required",
)


@needs_both
def test_dimension_tables_constant_across_sf(spark):
    for name, expected in [("region", 5), ("nation", 25)]:
        assert load(spark, SF_SMALL, name).count() == expected
        assert load(spark, SF_MED, name).count() == expected


@needs_both
def test_fact_tables_grow_with_sf(spark):
    for name in ["lineitem", "orders", "events"]:
        small = load(spark, SF_SMALL, name).count()
        med = load(spark, SF_MED, name).count()
        assert med >= 5 * small, f"{name}: {small} -> {med} did not scale"


@needs_both
def test_schemas_identical_across_sf(spark):
    """Every table's parquet footer has the names, order and types
    ``schemas.SCHEMAS`` declares (a declared ``timestamp`` may read as
    ``timestamp_ntz``), at both scales, and ``load`` gives the same
    schema at both."""
    from hetnetdb_spark.catalog import table_path
    from hetnetdb_spark.schemas import SCHEMAS, TABLE_NAMES

    def columns(schema):
        return [
            (f.name, f.dataType.simpleString().replace("timestamp_ntz", "timestamp"))
            for f in schema.fields
        ]

    for name in TABLE_NAMES:
        assert (
            load(spark, SF_SMALL, name).schema == load(spark, SF_MED, name).schema
        ), f"{name} schema drifts between scales"
        for sf in (SF_SMALL, SF_MED):
            footer = spark.read.parquet(table_path(sf, name)).schema
            assert columns(footer) == columns(SCHEMAS[name]), (
                f"{name} at {sf}: footer {footer.simpleString()} "
                f"!= declared {SCHEMAS[name].simpleString()}"
            )


@needs_both
def test_scale_invariant_query_shapes(spark):
    """Outputs whose cardinality is a function of the dimensions,
    not the facts: q1's 6 flag/status groups, q5's ≤25 nations,
    64-dim embeddings."""
    q1 = registry.QUERIES["q1_pricing_summary"]
    assert q1(spark, SF_SMALL).count() == q1(spark, SF_MED).count() == 6

    q5 = registry.QUERIES["q5_local_supplier"]
    assert q5(spark, SF_MED).count() <= 25

    from pyspark.sql import functions as F

    for sf in (SF_SMALL, SF_MED):
        (emb,) = load_tables(spark, sf, "embeddings")
        dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
        assert [r["d"] for r in dims] == [64]


def test_verify_first_window_covers_unverified():
    """The driver checks a bounded prefix of ``__spark_entry__``'s
    queries in order; every query without a green certification of
    its current code must sort ahead of every verified one, so the
    bounded window always checks new or changed work first."""
    import __spark_entry__ as e

    names = list(registry.verification_order())
    assert sorted(names) == sorted(registry.QUERIES)
    unverified = set(registry.unverified())
    tiers = [n not in unverified for n in names]
    assert tiers == sorted(tiers), (
        "an unverified query is ordered after a verified one: "
        f"{[n for i, n in enumerate(names) if tiers[i] and not all(tiers[i:])]}"
    )
    # Within the unverified head, pure queries come before impure
    # (side-effecting) ones, keeping the window cheap.
    head = names[: len(unverified)]
    impure_flags = [n in registry.IMPURE for n in head]
    assert impure_flags == sorted(impure_flags)
    # The verified tail sorts STALEST-certification-first (round of
    # each name's latest green row, ascending) so the driver's
    # bounded window is a rolling re-audit once everything is green.
    cert_rounds = registry.certification_rounds()
    tail_rounds = [cert_rounds[n] for n in names[len(unverified) :]]
    assert tail_rounds == sorted(tail_rounds), (
        "verified queries are not ordered oldest-certification-first"
    )
    # The driver entry points hand out that order, and the oracle
    # dict keeps the same relative order.
    assert list(e.queries()) == names
    assert list(e.oracle_sql()) == [n for n in names if n in registry.ORACLE]


@needs_both
def test_register_views_rebinds_on_sf_switch(spark):
    """Catalog tables are session-global state: switching sf_dirs
    back and forth must repoint the table (and its stats) every
    time, not only on first registration per sf."""
    from hetnetdb_spark.catalog import register_views

    register_views(spark, SF_SMALL, "supplier")
    n_small = spark.sql("SELECT COUNT(*) AS n FROM supplier").collect()[0]["n"]
    register_views(spark, SF_MED, "supplier")
    n_med = spark.sql("SELECT COUNT(*) AS n FROM supplier").collect()[0]["n"]
    register_views(spark, SF_SMALL, "supplier")
    n_back = spark.sql("SELECT COUNT(*) AS n FROM supplier").collect()[0]["n"]
    assert n_small == n_back and n_med > n_small
    stats = [
        r.data_type
        for r in spark.sql("DESCRIBE EXTENDED supplier").collect()
        if r.col_name.strip() == "Statistics"
    ]
    assert stats and "rows" in stats[0]


def test_register_views_stats_take_one_scan(spark):
    """``register_views`` runs one stats scan per table, ``ANALYZE ...
    FOR COLUMNS``: it alone must leave each catalog table with its
    true row count and every analyzable column with column stats."""
    import re

    from hetnetdb_spark.catalog import register_views
    from hetnetdb_spark.schemas import TABLE_NAMES
    from tests.conftest import SF_DIR

    register_views(spark, SF_DIR)
    skip = ("array", "map", "struct", "variant", "udt", "timestamp_ntz")
    for name in TABLE_NAMES:
        if name == "events":  # a temp view, not analyzed
            continue
        stats = [
            r.data_type
            for r in spark.sql(f"DESCRIBE EXTENDED {name}").collect()
            if r.col_name.strip() == "Statistics"
        ]
        rows = re.search(r"(\d+) rows", stats[0]) if stats else None
        assert rows, f"{name}: no row count in {stats}"
        assert int(rows.group(1)) == load(spark, SF_DIR, name).count(), name
        for f in spark.table(name).schema.fields:
            if f.dataType.typeName() in skip:
                continue
            info = {
                r.info_name: r.info_value
                for r in spark.sql(f"DESCRIBE EXTENDED {name} {f.name}").collect()
            }
            assert info.get("distinct_count") not in (None, "NULL"), (name, f.name, info)


@needs_both
def test_s13_compaction_collapses_files(spark):
    """s13: the rewrite must actually repair the layout — 64
    fragment files in, ceil(bytes/128MB) (= 1 at fixture scale)
    data file out."""
    import glob

    from hetnetdb_spark.sources.io import SCRATCH

    registry.QUERIES["s13_compaction"](spark, SF_SMALL).count()
    frag = glob.glob(f"{SCRATCH}/s13_events_fragmented/*.parquet")
    compact = glob.glob(f"{SCRATCH}/s13_events_compacted/*.parquet")
    assert len(frag) == 64
    assert len(compact) == 1


@needs_both
def test_s14_upsert_touches_only_changed_partition(spark):
    """s14: dynamic overwrite must leave untouched partitions'
    files physically alone — their mtimes predate the change batch,
    while the changed partition's files postdate it."""
    import glob

    from hetnetdb_spark.sources.io import SCRATCH

    registry.QUERIES["s14_partition_upsert"](spark, SF_SMALL).count()
    base = f"{SCRATCH}/s14_orders_snapshot"
    changed = [os.path.getmtime(f) for f in glob.glob(f"{base}/o_year=2001/*.parquet")]
    untouched = [
        os.path.getmtime(f)
        for d in glob.glob(f"{base}/o_year=*")
        if not d.endswith("o_year=2001")
        for f in glob.glob(f"{d}/*.parquet")
    ]
    assert changed and untouched
    assert min(changed) > max(untouched)


@needs_both
def test_public_api_sql_and_run(spark):
    """The user-facing surface: arbitrary SQL over the registered
    catalog must agree with the equivalent DataFrame query, and
    run()/list_queries() resolve registry entries."""
    import hetnetdb_spark as hs

    df = hs.sql(
        spark,
        SF_SMALL,
        """
        SELECT n_name, COUNT(*) AS n_cust
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """,
    )
    via_api = {r["n_name"]: r["n_cust"] for r in df.collect()}
    from pyspark.sql import functions as F

    customer, nation = load_tables(spark, SF_SMALL, "customer", "nation")
    via_df = {
        r["n_name"]: r["n_cust"]
        for r in customer.join(
            nation, F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .collect()
    }
    assert via_api == via_df and via_api

    assert "q1_pricing_summary" in hs.list_queries()
    assert hs.run(spark, SF_SMALL, "q1_pricing_summary").count() == 6
    assert hs.oracle_sql("q1_pricing_summary") is not None
    with pytest.raises(KeyError):
        hs.run(spark, SF_SMALL, "no_such_query")


def test_every_query_documented_and_covered():
    """Engine hygiene: every registered query carries a docstring
    (the scale-posture argument lives there) and a COVERAGE.md row,
    so the operator inventory can't silently drift from the docs."""
    import pathlib

    cov = pathlib.Path(__file__).resolve().parent.parent / "COVERAGE.md"
    cov_text = cov.read_text()
    for name, fn in registry.QUERIES.items():
        f = fn
        while hasattr(f, "__wrapped__"):
            f = f.__wrapped__
        assert f.__doc__ and len(f.__doc__.strip()) > 20, f"{name} lacks a docstring"
        assert f"`{name}`" in cov_text, f"{name} missing from COVERAGE.md"


def test_t10_registration_tracks_protobuf_availability():
    """t10 (transformWithStateInPandas) requires google.protobuf for
    its state-server protocol; the registry must declare it exactly
    when the dependency is importable, never as a query that would
    crash the driver's verification run."""
    from hetnetdb_spark.streaming.queries import _protobuf_available

    assert ("t10_transform_with_state" in registry.QUERIES) == _protobuf_available()


@needs_both
def test_concurrent_query_execution(spark):
    """Resident-engine posture: one SparkSession serves parallel
    clients. Eight different queries run concurrently on threads;
    each must return exactly what it returns serially."""
    from concurrent.futures import ThreadPoolExecutor

    names = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier",
        "a05_having",
        "j09_asof_join",
        "p10_distinct",
        "f01_string_functions",
        "w01_ranking",
    ]
    serial = {n: registry.QUERIES[n](spark, SF_SMALL).count() for n in names}

    def run_one(n):
        return n, registry.QUERIES[n](spark, SF_SMALL).count()

    with ThreadPoolExecutor(max_workers=8) as pool:
        concurrent = dict(pool.map(run_one, names))
    assert concurrent == serial


@needs_both
def test_s21_second_batch_is_incremental(spark):
    """s21's convergence is oracle-checked; the INCREMENTAL claim —
    batch 2 processes only the newly-landed file — is pinned here
    via the manifest: exactly 3 files total, 2 in batch 1, 1 in
    batch 2, no file in two batches."""
    from hetnetdb_spark.sources.io import SCRATCH
    from hetnetdb_spark import registry

    registry.QUERIES["s21_incremental_ingest"](spark, SF_SMALL).collect()
    tag = os.path.basename(SF_SMALL.rstrip("/")).replace(".", "_")
    manifest = spark.read.parquet(
        os.path.join(SCRATCH, f"s21_manifest_{tag}")
    ).collect()
    by_batch: dict[int, list[str]] = {}
    for r in manifest:
        by_batch.setdefault(r.batch_id, []).append(r.file)
    assert len(manifest) == 3
    assert sorted(len(v) for v in by_batch.values()) == [1, 2]
    assert len({r.file for r in manifest}) == 3, "a file was re-processed"


@needs_both
def test_api_ingest_csv_roundtrip(spark, tmp_path):
    """The reference's upload-CSV-then-query flow through
    api.ingest_csv: typed read, registered name, SQL-joinable with
    catalog tables."""
    import hetnetdb_spark as hs

    (nation,) = load_tables(spark, SF_SMALL, "nation")
    src = str(tmp_path / "nation_csv")
    nation.select("n_nationkey", "n_name", "n_regionkey").write.option(
        "header", True
    ).csv(src)

    df = hs.ingest_csv(
        spark, src, "uploaded_nation",
        schema="n_nationkey INT, n_name STRING, n_regionkey INT",
    )
    assert df.schema.simpleString() == (
        "struct<n_nationkey:int,n_name:string,n_regionkey:int>"
    )
    got = spark.sql(
        "SELECT COUNT(*) AS n, SUM(n_nationkey) AS s FROM uploaded_nation"
    ).collect()[0]
    assert got["n"] == 25 and got["s"] == 300


# --------------------------------------------------------------------------
# L8 decode dispatch: real codec branch when PIL exists, stub otherwise
# --------------------------------------------------------------------------

def _pil_available() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def test_l08_decode_falls_back_on_non_image_bytes():
    """The fixture payloads are UTF-8 text, not PNGs — the dispatch
    must take the deterministic byte-histogram fallback regardless
    of whether PIL is installed, because that is what l08's full
    oracle replays from the text column."""
    from hetnetdb_spark.pipeline.multimodal import _decode_bytes

    data = "hello, 世界".encode()
    feats = _decode_bytes(data, 64, 48)
    assert len(feats) == 5
    counts = [0, 0, 0, 0]
    for b in data:
        counts[b >> 6] += 1
    assert feats[:4] == [c / len(data) for c in counts]
    assert feats[4] == 48.0


@pytest.mark.skipif(not _pil_available(), reason="PIL not installed in this container")
def test_l08_decode_real_path_with_pil():  # pragma: no cover — needs PIL
    """On a codec-equipped deployment the dispatch must decode a
    genuine image: a synthetic 32x32 gradient PNG built with PIL
    round-trips through _decode_bytes and yields the luminance
    histogram (sums to 1 over 4 bins), not the byte histogram."""
    import io

    from PIL import Image

    from hetnetdb_spark.pipeline.multimodal import _decode_bytes, _decode_real

    im = Image.new("L", (32, 32))
    im.putdata([(x * 8) % 256 for x in range(32 * 32)])
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    png = buf.getvalue()

    feats = _decode_bytes(png, 32, 32)
    assert feats == _decode_real(png, 32, 32)  # real branch taken
    assert len(feats) == 5
    assert abs(sum(feats[:4]) - 1.0) < 1e-9
    assert feats[4] == 32.0
    # determinism: same bytes, same features
    assert feats == _decode_bytes(png, 32, 32)


def test_shared_event_splits_atomic_publish(spark):
    """The split-corpus cache publishes atomically (ADVICE r9): a
    half-dead leftover dir WITHOUT the _SUCCESS marker is replaced,
    a marked dir is reused as-is, and no `.build-*` temp survives."""
    import glob
    import os
    import shutil

    from hetnetdb_spark.catalog import load_tables
    from hetnetdb_spark.streaming.queries import _shared_event_splits

    from tests.conftest import SF_DIR

    (events,) = load_tables(spark, SF_DIR, "events")
    base = _shared_event_splits(events, SF_DIR)
    marker = os.path.join(base, "_SUCCESS")
    assert os.path.exists(marker)
    mtime = os.path.getmtime(marker)

    # marked → reused, not rebuilt
    assert _shared_event_splits(events, SF_DIR) == base
    assert os.path.getmtime(marker) == mtime

    # unmarked leftover (simulated kill mid-build) → fully rebuilt
    os.remove(marker)
    assert _shared_event_splits(events, SF_DIR) == base
    assert os.path.exists(marker)

    # the publish never leaves temp dirs behind
    assert glob.glob(base + ".build-*") == []
    shutil.rmtree(base, ignore_errors=True)  # leave cache cold for others


def test_pure_query_reinvocation_executes_fresh(spark):
    """Re-invoking a cached pure query must hand out a FRESH
    QueryExecution, not the cached DataFrame object itself.

    Round-10 discovery: collecting twice through the same
    QueryExecution re-serves its materialized AQE query stages (the
    first run's shuffle map outputs) — the second run executes only
    the final stage. Measured at 4 cores on a 60M-row corpus: 24.5 s
    cold vs 0.08 s re-collected, while a plan-identical but
    object-distinct query re-ran in full. That is result caching:
    wrong as "warm latency" against a DuckDB baseline that
    re-executes fully, and stale under data change. The registry
    wrapper therefore returns ``cached.select("*")`` per invocation;
    this test pins the mechanism (distinct Python wrapper AND
    distinct underlying java DataFrame/QueryExecution) plus schema
    and value equality with the cached plan.
    """
    from tests.conftest import SF_DIR

    name = "q1_pricing_summary"
    fn = registry.QUERIES[name]
    a = fn(spark, SF_DIR)
    b = fn(spark, SF_DIR)
    assert a is not b, "re-invocation returned the same DataFrame object"
    assert a._jdf.equals(a._jdf) and not a._jdf.equals(b._jdf), (
        "re-invocation returned the same java DataFrame — materialized "
        "AQE stages would be re-served instead of re-executed"
    )
    key = (spark.sparkContext.applicationId, SF_DIR, name)
    cached = registry._PLAN_CACHE.get(key)
    assert cached is not None, "pure query did not populate the plan cache"
    assert a.schema == cached.schema == b.schema
    assert a.toPandas().equals(b.toPandas())


def test_spread_parallelizes_and_noops_when_wide(spark):
    """catalog.spread: single-split inputs fan out to the core
    count (deterministic key-hash, not round-robin); inputs already
    at or above the core count pass through untouched (the guard
    that makes the call safe to leave in at 100 TB, where scans
    arrive in thousands of splits)."""
    from hetnetdb_spark.catalog import load, spread
    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents")
    assert docs.rdd.getNumPartitions() == 1, "fixture assumption changed"
    wide = spread(docs)
    target = spark.sparkContext.defaultParallelism
    assert wide.rdd.getNumPartitions() == target
    assert wide.count() == docs.count()
    again = spread(wide)
    assert again is wide, "already-parallel input must pass through"


def test_s42_delete_rewrites_only_target_shards(spark):
    """s42: the erasure rewrite must be manifest-pruned — the v2
    directory contains files for EXACTLY the shards whose range
    intersects a target range (2 and 5), and the other six shards'
    v1 files survive untouched (copy-on-write: erasure cost tracks
    files-with-targets, not table size)."""
    import os

    from tests.conftest import SF_DIR
    from hetnetdb_spark.scratch import SCRATCH

    registry.QUERIES["s42_targeted_delete"](spark, SF_DIR).collect()
    tag = SF_DIR.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    base = os.path.join(SCRATCH, f"s42_store_{tag}")
    v2_shards = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(os.path.join(base, "v2"))
        if d.startswith("shard=")
    )
    assert v2_shards == [2, 5], v2_shards
    v1_shards = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(os.path.join(base, "v1"))
        if d.startswith("shard=")
    )
    assert set(v1_shards) >= {0, 1, 3, 4, 6, 7}, v1_shards
