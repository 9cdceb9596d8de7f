"""Golden-value tests for *(rows-only)* operators (SURVEY §5.5).

Rows-only queries get a weaker driver check (no oracle hash), so
their determinism is pinned here instead: exact expected outputs at
sf0.001, captured once and asserted forever. All of these are
deterministic by construction — seeded hyperplanes, xxhash64
signatures, HLL sketches (merge-order independent), fixed file
splits — so any drift is a real semantic change.
"""

from __future__ import annotations

import pytest

from hetnetdb_spark import registry
from tests.conftest import SF_DIR

registry.load_all()

pinned = pytest.mark.skipif(
    not SF_DIR.endswith("sf0.001"), reason="golden values are pinned at sf0.001"
)


def rows(spark, name):
    return [r.asDict() for r in registry.QUERIES[name](spark, SF_DIR).collect()]


@pinned
def test_minhash_neardup_golden(spark):
    # Re-pinned in round 5 when the hash family moved from xxhash64
    # to the portable md5-derived h_j (the full-oracle upgrade).
    assert rows(spark, "l02_minhash_neardup") == [
        {"strategy": "minhash-lsh", "n_candidates": 28, "n_verified": 28}
    ]


@pinned
def test_simhash_neardup_golden(spark):
    # Re-pinned in round 5: 60-bit portable hashes, 15-bit bands
    # (candidate count rises with the smaller band domain; the
    # hamming verification is what bounds the output).
    assert rows(spark, "l02_simhash_neardup") == [
        {"strategy": "simhash", "n_candidates": 42764, "n_near": 31723}
    ]


@pinned
def test_lsh_simjoin_golden(spark):
    from hetnetdb_spark.pipeline.similarity import LSH_RECALL_TARGET

    (got,) = rows(spark, "l04_simjoin_lsh")
    # Deterministic (seeded hyperplanes) — pin the counts, and assert
    # the recall floor the banding is parameterized against so a
    # future re-tune can't silently regress below target.
    assert got["n_exact"] == 257
    assert got["n_candidates"] == 79361 and got["n_verified"] == 233
    assert got["recall"] >= LSH_RECALL_TARGET


@pinned
def test_ivf_knn_golden(spark):
    got = rows(spark, "l03_knn_ivf")
    assert [r["vec_id"] for r in got] == [17, 225, 12, 483, 73, 212, 347, 402, 299, 232]
    assert got[0]["cosine"] == pytest.approx(0.334456, abs=1e-6)


@pinned
def test_watermark_latedrop_golden(spark):
    # Round-5 contract: fixed split + the 1-minute emission-gate
    # margin (full oracle now) — the late half still contributes 0.
    assert rows(spark, "t04_watermark_latedrop") == [
        {"n_windows_emitted": 265, "n_rows_counted": 479}
    ]


@pinned
def test_engine_hashes_golden(spark):
    assert rows(spark, "f09_engine_hashes") == [
        {"n_distinct_hash": 150, "n_distinct_id": 150, "n_rows": 150}
    ]


@pinned
def test_approx_count_distinct_golden(spark):
    # Round 5: the estimate moved inside the contract — the output
    # carries exact counts plus the ±6% bound flags the oracle pins.
    got = {r["l_returnflag"]: r for r in rows(spark, "a04_approx_count_distinct")}
    assert got["N"]["exact_n_orders"] == 1110
    assert got["A"]["exact_n_orders"] == 1081
    assert got["R"]["exact_n_orders"] == 1096
    assert all(
        r["supp_within_6pct"] and r["orders_within_6pct"] for r in got.values()
    )


@pinned
def test_multimodal_golden(spark):
    (feat,) = rows(spark, "l08_image_features")
    assert feat["n_images"] == 167 and feat["feat_dim"] == 5
    assert feat["avg_bin0"] == pytest.approx(0.178863, abs=1e-6)
    (frames,) = rows(spark, "l08_frame_sample")
    assert frames == {
        "n_frames_sampled": 607,
        "n_videos": 166,
        "n_unique_frames": 596,
    }


@pinned
def test_output_modes_golden(spark):
    # Round-5 contract: three paced day-range batches, so update /
    # foreachBatch re-emit each of the 5 keys once per batch while
    # complete-mode termination state stays the distinct key set.
    got = {r["mode"]: r["rows_at_sink"] for r in rows(spark, "t08_output_modes")}
    assert got == {"complete": 5, "update": 15, "foreachBatch": 15}


@pinned
def test_foreach_batch_contents_golden(spark):
    """T8's foreachBatch path, asserted on CONTENTS, not just row
    counts. Update-mode emissions carry each changed key's NEW
    CUMULATIVE aggregate (not a per-batch delta), so the correct
    fold across micro-batches is latest-write-wins per key — summing
    would double-count any key updated in two batches. With
    availableNow draining the full fixture, the final per-key state
    must equal the batch-mode aggregate."""
    from pyspark.sql import functions as F

    from hetnetdb_spark.streaming.queries import _events_stream
    from hetnetdb_spark.catalog import load_tables, table_path

    batches: list[list] = []
    q = (
        _events_stream(spark, table_path(SF_DIR, "events"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("update")
        .foreachBatch(lambda bdf, bid: batches.append(bdf.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed: dict[str, int] = {}
    for batch in batches:  # in batch order: later updates overwrite
        for r in batch:
            streamed[r["event_type"]] = r["n"]

    (events,) = load_tables(spark, SF_DIR, "events")
    expected = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert streamed == expected and len(expected) == 5


@pinned
def test_ivf_recall_vs_exact(spark):
    """IVF probes 2 of 16 partitions (~12% of the corpus scanned);
    its top-10 for query vec 0 must still recover >=8 of the exact
    brute-force top-10 — the recall floor that makes the pruned
    path usable, asserted so a centroid/probe re-tune can't silently
    regress it."""
    exact = {r["vec_id"] for r in rows(spark, "emb_topk_cosine")}
    ivf = {r["vec_id"] for r in rows(spark, "l03_knn_ivf")}
    assert len(exact & ivf) >= 8, f"IVF recall {len(exact & ivf)}/10 vs exact top-10"


@pinned
def test_stratified_sample_golden(spark):
    """Round 5: the query output now carries the binomial-bound flag
    the oracle pins; the exact per-seed counts are re-derived here
    (same seed, same sampler) so Spark-version RNG drift still
    surfaces."""
    got = {r["lang"]: r for r in rows(spark, "l15_stratified_sample")}
    assert {(k, v["n_total"], v["within_5sigma"]) for k, v in got.items()} == {
        ("de", 71, True),
        ("en", 193, True),
        ("es", 80, True),
        ("fr", 82, True),
        ("zh", 74, True),  # not in the fractions map -> sampled 0, flag exact
    }
    from pyspark.sql import functions as F

    from hetnetdb_spark.catalog import load_tables
    from hetnetdb_spark.pipeline.splits import L15_FRACTIONS

    (documents,) = load_tables(spark, SF_DIR, "documents")
    sampled = (
        documents.sampleBy("lang", L15_FRACTIONS, seed=42)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {(r["lang"], r["n"]) for r in sampled.collect()} == {
        ("de", 55),
        ("en", 106),
        ("es", 80),
        ("fr", 74),
    }


@pinned
def test_hll_sketch_union_golden(spark):
    (got,) = rows(spark, "a16_hll_sketch_union")
    assert got["n_months"] == 80
    assert got["exact_customers"] == 150
    # the ±2% estimate-vs-exact bound is now IN the output (and in
    # the oracle contract, pinned to TRUE)
    assert bool(got["approx_within_2pct"]) is True


@pinned
def test_lsh_components_golden(spark):
    """LSH-fed connected components: deterministic (seeded planes),
    and missed edges can only SPLIT components relative to the
    exact graph — never merge them."""
    (got,) = rows(spark, "l16_components_lsh")
    assert got == {"n_components": 271, "n_nodes": 500, "largest": 32}
    exact_n = registry.QUERIES["l11_dedup_components"](spark, SF_DIR).count()
    assert got["n_components"] >= exact_n  # split-only
    assert got["n_components"] <= exact_n * 1.10  # bounded fragmentation


@pinned
def test_t11_pacing_batch_count_golden(spark):
    """t11's oracle proves pacing doesn't change the answer; the
    PACING itself — 8 fragments ÷ maxFilesPerTrigger=2 = exactly 4
    micro-batches — is pinned here through a foreachBatch counter
    over the same fragmented layout."""
    from pyspark.sql import functions as F

    from hetnetdb_spark.streaming.queries import (
        SCRATCH,
        T11_FILES_PER_TRIGGER,
        T11_FRAGMENTS,
    )
    import os

    registry.QUERIES["t11_paced_ingest"](spark, SF_DIR).collect()
    tag = os.path.basename(SF_DIR.rstrip("/")).replace(".", "_")
    frag = os.path.join(SCRATCH, f"t11_fragments_{tag}")

    batch_ids: list[int] = []
    schema = spark.read.parquet(frag).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", T11_FILES_PER_TRIGGER)
        .parquet(frag)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("update")
        # The callback must consume every partition: Spark 4.1's
        # state-store commit validation rejects a foreachBatch that
        # leaves partitions unprocessed (count() drains them all).
        .foreachBatch(lambda bdf, bid: (bdf.count(), batch_ids.append(bid)))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batch_ids) == T11_FRAGMENTS // T11_FILES_PER_TRIGGER, batch_ids


def test_t13_rocksdb_provider_engages(spark):
    """t13's claim is two-sided: results are backend-invisible (the
    shared TUMBLING_ORACLE covers that) AND the RocksDB provider
    actually held the state. Run the same stream here with the
    provider conf set and assert the state operator's customMetrics
    carry rocksdb* keys — a silent fallback to the HDFS-backed
    provider would pass the oracle while voiding the claim."""
    from pyspark.sql import functions as F

    from hetnetdb_spark.catalog import table_path
    from hetnetdb_spark.streaming.queries import _events_stream, _rocksdb_provider

    with _rocksdb_provider(spark):
        stream = _events_stream(spark, table_path(SF_DIR, "events"))
        agg = stream.groupBy(
            F.window("ts", "1 hour"), "event_type"
        ).count()
        q = (
            agg.writeStream.format("memory")
            .queryName("t13_probe")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.lastProgress
        ops = progress["stateOperators"]
        assert ops, progress
        metrics = ops[0].get("customMetrics", {})
        assert any(k.startswith("rocksdb") for k in metrics), metrics
