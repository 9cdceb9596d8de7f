"""r16 next-tier decomposition: the suite walls below the verdict's
named targets that have never been examined — l77_dsir_selection
(1.84 s), l44_ngram_diversity (1.58 s), j14_interval_overlap_join
(1.45 s), l79_prep_pipeline_e2e (1.86 s). Each stage adds one piece
of the registered query; walls are noop-sink, rotated round-robin so
box drift lands on every stage equally (the r15/r16 protocol).

Variant hypotheses carried by this file:
  l77_onepass — ONE gram explode feeding BOTH distributions: the
    registered query explodes documents into grams twice (dist leg
    + doc_feat leg). Pre-aggregate grams once per (doc_id, lang,
    bucket) — map-side combined, ≤B rows per doc — then derive the
    bucket distribution from that relation instead of a second
    explode (guide §2.2: shuffle/compute fewer bytes).
  l44_nodistinct — replace count+countDistinct in one agg (Spark
    plans the mixed distinct via a two-phase partial on
    (source, n, gram)) with an explicit two-level aggregate, to see
    whether the planner's spelling leaves anything on the table.

Usage:
    python tools/decompose_tail_r16.py [N_PASSES] [stages|variants]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from hetnetdb_spark import registry  # noqa: E402
from hetnetdb_spark.catalog import load_tables  # noqa: E402
from hetnetdb_spark.pipeline.sketches import L77_BUCKETS, L77_TOP_N  # noqa: E402
from hetnetdb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# ------------------------------------------------------------------ l77
def _l77_grams(spark):
    (documents,) = load_tables(spark, SF_DIR, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), " ", -1), lambda w: w != ""
    )
    grams_arr = F.concat(
        F.col("toks"),
        F.when(
            F.size("toks") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat(
                    F.element_at("toks", i),
                    F.lit(" "),
                    F.element_at("toks", i + 1),
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("g:"), F.col("g"))), 1, 15),
            16,
            10,
        ).cast("long")
        % L77_BUCKETS
    )
    return (
        documents.select("doc_id", "lang", toks.alias("toks"))
        .filter(F.size("toks") >= 1)
        .select("doc_id", "lang", F.explode(grams_arr).alias("g"))
        .select("doc_id", "lang", bucket.alias("bucket"))
    )


def _l77_dist(spark):
    return _l77_grams(spark).groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_t"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("c_r"),
    )


def _l77_doc_feat(spark):
    return (
        _l77_grams(spark)
        .filter(F.col("lang") != "en")
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _l77_full(spark):
    return registry.QUERIES["l77_dsir_selection"](spark, SF_DIR)


def _l77_onepass(spark):
    """Variant: aggregate the gram explode ONCE per (doc_id, lang,
    bucket); the bucket distribution rolls up from that relation, so
    documents is exploded/md5'd a single time. Same counts by
    associativity of SUM; same weights, same top-N, same report."""
    feat_all = (
        _l77_grams(spark)
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dist = feat_all.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0)).alias("c_t"),
        F.sum(F.when(F.col("lang") != "en", F.col("cnt")).otherwise(0)).alias("c_r"),
    )
    tot = dist.agg(F.sum("c_t").alias("n_t"), F.sum("c_r").alias("n_r"))
    lr = (
        dist.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.log((F.col("c_t") + 1.0) / (F.col("n_t") + L77_BUCKETS))
                - F.log((F.col("c_r") + 1.0) / (F.col("n_r") + L77_BUCKETS)),
                12,
            )
            .cast("decimal(18,12)")
            .alias("logratio"),
        )
    )
    doc_feat = feat_all.filter(F.col("lang") != "en")
    weights = (
        doc_feat.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.col("cnt").cast("decimal(10,0)") * F.col("logratio")
            ).alias("w")
        )
    )
    selected = weights.orderBy(F.col("w").desc(), "doc_id").limit(L77_TOP_N)
    return (
        weights.alias("w")
        .join(
            selected.select(F.col("doc_id").alias("s_doc")).alias("s"),
            F.col("w.doc_id") == F.col("s_doc"),
            "left",
        )
        .groupBy(F.col("w.lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.count("s_doc").cast("bigint").alias("n_selected"),
            (
                F.round(
                    F.sum(
                        F.when(F.col("s_doc").isNotNull(), F.col("w"))
                    ).cast("double")
                    / F.count("s_doc"),
                    6,
                )
                + 0.0
            ).alias("avg_selected_weight"),
        )
        .orderBy("lang")
    )


# ------------------------------------------------------------------ l44
def _l44_grams(spark):
    (documents,) = load_tables(spark, SF_DIR, "documents")
    sizes = F.explode(F.sequence(F.lit(1), F.lit(3))).alias("n")
    toks = documents.select(
        "source", F.split(F.col("text"), " ").alias("t")
    ).select("source", "t", sizes)
    return toks.filter(F.size("t") >= F.col("n")).select(
        "source",
        "n",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - n + 1), "
                "i -> concat_ws(' ', slice(t, i, n)))"
            )
        ).alias("gram"),
    )


def _l44_full(spark):
    return registry.QUERIES["l44_ngram_diversity"](spark, SF_DIR)


def _l44_twolevel(spark):
    """Variant: explicit (source, n, gram) partial count then a
    (source, n) rollup — the spelling Spark's mixed-distinct rewrite
    produces implicitly, written out to compare plans/walls."""
    per_gram = _l44_grams(spark).groupBy("source", "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_gram.groupBy("source", "n")
        .agg(
            F.sum("c").alias("total_grams"),
            F.count(F.lit(1)).alias("distinct_grams"),
            F.round(
                F.count(F.lit(1)) * F.lit(1.0) / F.sum("c"), 6
            ).alias("diversity"),
        )
        .withColumn("n", F.col("n").cast("long"))
    )


# ------------------------------------------------------------------ j14
def _j14_iv(spark):
    (events,) = load_tables(spark, SF_DIR, "events")
    return events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))


def _j14_full(spark):
    return registry.QUERIES["j14_interval_overlap_join"](spark, SF_DIR)


def _j14_join(spark):
    """The pre-r16 registered spelling, kept verbatim as the A/B
    reference: day-blocked self-join + two-sided residual — correct,
    but quadratic in users-per-day inside each block."""
    iv = _j14_iv(spark)
    a = iv.select(
        F.col("user_id").alias("a_user"), "day",
        F.col("t0").alias("a_t0"), F.col("t1").alias("a_t1"),
    )
    b = iv.select(
        F.col("user_id").alias("b_user"), F.col("day").alias("b_day"),
        F.col("t0").alias("b_t0"), F.col("t1").alias("b_t1"),
    )
    return (
        a.join(
            b,
            (F.col("day") == F.col("b_day"))
            & (F.col("a_user") < F.col("b_user"))
            & (F.col("a_t0") <= F.col("b_t1"))
            & (F.col("b_t0") <= F.col("a_t1")),
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_overlapping_pairs"))
    )


def _j14_sweep(spark):
    """Variant: sweep-line pair count — no self-join. For intervals
    ordered by (t0, user) within a day, the unordered pair {a,b}
    overlaps iff the EARLIER-starting one is still active when the
    later one starts (a.t1 >= b.t0; the other overlap inequality is
    automatic). So each interval contributes (#starts before me) -
    (#ends strictly before my start) and the per-day pair count is
    the sum of contributions — one window over 2N endpoint rows
    instead of a pair join that is quadratic in users-per-day (every
    user shares the same ~30 day blocks, so the blocked join's
    per-key pair space is (users/day)^2 at any scale). Tie rules:
    ends sort AFTER starts at the same timestamp (a.t1 == b.t0 is
    still an overlap), and equal t0s order by user so each pair is
    counted exactly once, at the later (t0, user)."""
    iv = _j14_iv(spark)
    pts = iv.select(
        "day",
        F.explode(
            F.array(
                F.struct(
                    F.col("t0").alias("t"),
                    F.lit(0).alias("is_end"),
                    F.col("user_id").alias("u"),
                ),
                F.struct(
                    F.col("t1").alias("t"),
                    F.lit(1).alias("is_end"),
                    F.col("user_id").alias("u"),
                ),
            )
        ).alias("p"),
    ).select("day", "p.t", "p.is_end", "p.u")
    w = (
        Window.partitionBy("day")
        .orderBy("t", "is_end", "u")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = pts.select(
        "day",
        "is_end",
        (
            F.coalesce(F.sum(1 - F.col("is_end")).over(w), F.lit(0))
            - F.coalesce(F.sum("is_end").over(w), F.lit(0))
        ).alias("active_before"),
    )
    return (
        contrib.filter(F.col("is_end") == 0)
        .groupBy("day")
        .agg(F.sum("active_before").alias("n_overlapping_pairs"))
        .where(F.col("n_overlapping_pairs") > 0)
    )


# ------------------------------------------------------------------ l79
def _l79_full(spark):
    return registry.QUERIES["l79_prep_pipeline_e2e"](spark, SF_DIR)


STAGES = {
    "l77_grams": _l77_grams,
    "l77_dist": _l77_dist,
    "l77_doc_feat": _l77_doc_feat,
    "l77_full": _l77_full,
    "l44_grams": _l44_grams,
    "l44_full": _l44_full,
    "j14_iv": _j14_iv,
    "j14_full": _j14_full,
    "l79_full": _l79_full,
}

VARIANTS = {
    "l77_full": _l77_full,
    "l77_onepass": _l77_onepass,
    "l44_full": _l44_full,
    "l44_twolevel": _l44_twolevel,
}

J14_VARIANTS = {
    "j14_full": _j14_full,
    "j14_sweep": _j14_sweep,
}


def main() -> None:
    n_passes = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    mode = sys.argv[2] if len(sys.argv) > 2 else "stages"
    registry.load_all()
    spark = get_spark("tail-decompose")
    spark.sparkContext.setLogLevel("ERROR")
    table = {"stages": STAGES, "variants": VARIANTS, "j14": J14_VARIANTS}[mode]
    walls: dict[str, list[float]] = {n: [] for n in table}
    for _, build in table.items():
        build(spark).write.format("noop").mode("overwrite").save()
    names = list(table)
    for i in range(n_passes):
        for name in names[i % len(names):] + names[: i % len(names)]:
            spark.sparkContext.setJobDescription(f"tail {name} #{i}")
            t0 = time.perf_counter()
            table[name](spark).write.format("noop").mode("overwrite").save()
            walls[name].append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
    for name, ws in walls.items():
        print(
            f"{name:14s} min {min(ws):.3f}  med {sorted(ws)[len(ws)//2]:.3f}"
            f"  walls {[round(w, 3) for w in ws]}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
