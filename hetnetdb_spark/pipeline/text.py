"""Text-analysis pipeline — SURVEY §2.9 L5/L6/L7/L9 plus the
training-data text operators (language-ID, quality scoring, BPE-ish
token counting, document fingerprinting) over the ``documents``
table.

Scale posture: every query here is a scan → narrow projection →
hash aggregate. The only shuffles are on low-cardinality keys
(lang × source ≤ 25 groups) or on terms (L6, bounded by vocabulary
size, with map-side partial aggregation), so at 100 TB these remain
scan-bound with KB-scale shuffles. No Python crossing anywhere —
tokenization is `split`/`regexp`, fingerprints are `md5` over
higher-order-function shingles, all inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hetnetdb_spark.catalog import load_tables, spread
from hetnetdb_spark.expr import r6, zround
from hetnetdb_spark.registry import query

# --------------------------------------------------------------------------
# Headline: docs_token_counts (L5 + F1 + A2) — BASELINE.md row 7
# --------------------------------------------------------------------------

DOCS_TOKEN_COUNTS_ORACLE = """
SELECT lang,
       COUNT(*)                                                   AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT)          AS total_tokens,
       ROUND(AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_tokens,
       CAST(SUM(n_chars) AS BIGINT)                               AS total_chars
FROM documents
GROUP BY lang
"""


@query("docs_token_counts", oracle=DOCS_TOKEN_COUNTS_ORACLE)
def docs_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline L5 — whitespace token counts per language.

    One scan, one 5-group hash aggregate: partial aggregation makes
    the shuffle 5 rows per task regardless of corpus size.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    return documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens.cast("long")).alias("total_tokens"),
        r6(F.avg(n_tokens.cast("double"))).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# L5 — token / char statistics (whitespace + BPE-ish regex tokenizer)
# --------------------------------------------------------------------------

L5_ORACLE = """
SELECT lang,
       source,
       COUNT(*)                                                    AS n_docs,
       CAST(MIN(len(string_split(text, ' '))) AS BIGINT)           AS min_tokens,
       CAST(MAX(len(string_split(text, ' '))) AS BIGINT)           AS max_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT)
                                                                   AS bpe_ish_tokens,
       ROUND(AVG(CAST(n_chars AS DOUBLE)
                 / len(string_split(text, ' '))), 6)               AS chars_per_token
FROM documents
GROUP BY lang, source
"""


@query("l05_token_char_stats", oracle=L5_ORACLE)
def l05_token_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 — per (lang, source) token/char statistics with two
    tokenizers: whitespace split and a BPE-ish regex (letter runs,
    digit runs, single punctuation — the pre-tokenization most BPE
    vocabularies apply). `regexp_count` stays JVM-side; no UDF."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    ws_tokens = F.size(F.split(F.col("text"), " "))
    bpe_ish = F.regexp_count(F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"))
    return documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(ws_tokens.cast("long")).alias("min_tokens"),
        F.max(ws_tokens.cast("long")).alias("max_tokens"),
        F.sum(bpe_ish.cast("long")).alias("bpe_ish_tokens"),
        r6(F.avg(F.col("n_chars").cast("double") / ws_tokens)).alias("chars_per_token"),
    )


# --------------------------------------------------------------------------
# L6 — TF-IDF top terms per language
# --------------------------------------------------------------------------

L6_ORACLE = """
WITH tok AS (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
    FROM documents
),
tf AS (
    SELECT lang, term, doc_id, COUNT(*) AS tf
    FROM tok GROUP BY lang, term, doc_id
),
df AS (
    SELECT term, COUNT(DISTINCT doc_id) AS df
    FROM tok GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.lang, tf.term,
           SUM(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df)) AS score
    FROM tf, n
    JOIN df ON tf.term = df.term
    GROUP BY tf.lang, tf.term
),
ranked AS (
    SELECT lang, term, ROUND(score, 6) AS tfidf,
           row_number() OVER (PARTITION BY lang
                              ORDER BY ROUND(score, 6) DESC, term) AS rn
    FROM scored
)
SELECT lang, term, tfidf, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= 3
"""


@query("l06_tfidf_top_terms", oracle=L6_ORACLE)
def l06_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 — TF-IDF, top-3 terms per language.

    explode → two hash aggregates (per-doc TF, per-term DF) → join
    on term → per-lang window top-k. DF per term is bounded by
    vocabulary size, so the join's build side stays small enough to
    broadcast at any corpus scale; the window partitions on lang
    (bounded) *after* aggregation has collapsed cardinality to
    |vocab × lang|. Ranking compares the 6dp-rounded score so both
    engines cut ties identically (term is the final tiebreaker).
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    # corpus size as a broadcast 1-row aggregate — part of the DAG,
    # so building this query triggers no action
    n = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    tok = documents.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = tok.groupBy("lang", "term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .groupBy("lang", "term")
        .agg(
            F.sum(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("score")
        )
    )
    w = Window.partitionBy("lang").orderBy(r6(F.col("score")).desc(), F.col("term"))
    return (
        scored.withColumn("tfidf", r6(F.col("score")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "term", "tfidf", F.col("rn").cast("int").alias("rn"))
    )


# --------------------------------------------------------------------------
# L7 — language / source distribution
# --------------------------------------------------------------------------

L7_ORACLE = """
WITH per AS (
    SELECT lang, source, COUNT(*) AS n_docs,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
           ROUND(stddev_samp(CAST(n_chars AS DOUBLE)), 6) AS sd_chars
    FROM documents GROUP BY lang, source
)
SELECT lang, source, n_docs, avg_chars, sd_chars,
       ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 6) AS share
FROM per
"""


@query("l07_lang_source_distribution", oracle=L7_ORACLE)
def l07_lang_source_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7 — corpus composition: doc share and length moments per
    (lang, source). The global-total window runs over the ≤25
    aggregated rows, not the corpus."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    per = documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r6(F.avg(F.col("n_chars").cast("double"))).alias("avg_chars"),
        r6(F.stddev_samp(F.col("n_chars").cast("double"))).alias("sd_chars"),
    )
    w = Window.partitionBy()
    return per.select(
        "lang",
        "source",
        "n_docs",
        "avg_chars",
        "sd_chars",
        r6(F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias("share"),
    )


# --------------------------------------------------------------------------
# L9 — text quality filters + quality scoring
# --------------------------------------------------------------------------

L9_ORACLE = """
SELECT lang,
       COUNT(*)            AS n_kept,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM documents
WHERE lang IN ('en', 'es', 'de', 'fr')
  AND n_chars BETWEEN 50 AND 5000
  AND len(string_split(text, ' ')) >= 10
  AND CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
      / length(text) < 0.10
GROUP BY lang
"""


@query("l09_quality_filter", oracle=L9_ORACLE)
def l09_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9 — training-data quality gate: lang allowlist, length
    bounds, minimum token count, punctuation-ratio ceiling. Pure
    predicate composition (P3-P8) so the whole filter is sargable /
    codegen'd; at scale this is the classic pre-tokenization corpus
    filter and runs at scan speed."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    text = F.col("text")
    punct_ratio = (
        F.length(F.regexp_replace(text, "[a-z0-9 ]", "")).cast("double")
        / F.length(text)
    )
    return (
        documents.filter(
            F.col("lang").isin("en", "es", "de", "fr")
            & F.col("n_chars").between(50, 5000)
            & (F.size(F.split(text, " ")) >= 10)
            & (punct_ratio < 0.10)
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


QUALITY_SCORE_ORACLE = """
WITH scored AS (
    SELECT doc_id, lang,
           ROUND(
             0.4 * LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
           + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                          / length(text))
           + 0.3 * LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE)
                         / GREATEST(len(string_split(text, ' ')), 1) *
                         (CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS DOUBLE)
                          / len(string_split(text, ' ')) * 10.0), 1.0)
           , 6) AS quality
    FROM documents
)
SELECT doc_id, lang, quality
FROM scored
ORDER BY quality DESC, doc_id
LIMIT 20
"""


@query("text_quality_score", oracle=QUALITY_SCORE_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length / punctuation / stopword-rate
    components), global top-20. Arithmetic only; top-k plans as
    TakeOrderedAndProject (no global sort materialized). Ordering is
    on the 6dp-rounded score + doc_id so both engines select the
    same rows."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    text = F.col("text")
    n_tokens = F.size(F.split(text, " "))
    len_component = F.least(F.col("n_chars").cast("double") / 500.0, F.lit(1.0))
    punct_component = F.lit(1.0) - (
        F.length(F.regexp_replace(text, "[a-z0-9 ]", "")).cast("double")
        / F.length(text)
    )
    # occurrences of ' the ' via length arithmetic — identical on both engines
    the_count = (
        (F.length(text) - F.length(F.replace(text, F.lit(" the ")))) / 5
    ).cast("double")
    stopword_component = F.least(
        n_tokens.cast("double")
        / F.greatest(n_tokens, F.lit(1))
        * (the_count / n_tokens * 10.0),
        F.lit(1.0),
    )
    quality = r6(
        0.4 * len_component + 0.3 * punct_component + 0.3 * stopword_component
    )
    return (
        documents.select("doc_id", "lang", quality.alias("quality"))
        .orderBy(F.col("quality").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Language-ID heuristic (stopword-hit argmax)
# --------------------------------------------------------------------------

LANG_ID_ORACLE = """
WITH hits AS (
    SELECT doc_id, lang,
           (length(text) - length(replace(text, ' the ', ''))) / 5 AS en_hits,
           (length(text) - length(replace(text, ' la ',  ''))) / 4 AS es_hits,
           (length(text) - length(replace(text, ' der ', ''))) / 5 AS de_hits,
           (length(text) - length(replace(text, ' le ',  ''))) / 4 AS fr_hits
    FROM documents
),
guessed AS (
    SELECT lang,
           CASE
             WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits
                  AND en_hits > 0 THEN 'en'
             WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
             WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
             WHEN fr_hits > 0 THEN 'fr'
             ELSE 'und'
           END AS guess
    FROM hits
)
SELECT lang, guess, COUNT(*) AS n
FROM guessed
GROUP BY lang, guess
"""


@query("text_language_id", oracle=LANG_ID_ORACLE)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: argmax of per-language stopword hit
    counts (occurrence counting via length arithmetic — no regex in
    the hot loop), confusion-matrix style output vs the labeled
    `lang` column. The fixed tie-break order (en>es>de>fr) makes
    the classifier deterministic on both engines."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    text = F.col("text")

    def hits(marker: str):
        return (F.length(text) - F.length(F.replace(text, F.lit(marker)))) / len(marker)

    en, es, de, fr = hits(" the "), hits(" la "), hits(" der "), hits(" le ")
    guess = (
        F.when((en >= es) & (en >= de) & (en >= fr) & (en > 0), "en")
        .when((es >= de) & (es >= fr) & (es > 0), "es")
        .when((de >= fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("und")
    )
    return (
        documents.select("lang", guess.alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Document fingerprinting (normalized-hash + min-shingle winnowing)
# --------------------------------------------------------------------------

FINGERPRINT_ORACLE = """
WITH fp AS (
    SELECT source,
           md5(lower(text)) AS full_fp,
           list_aggregate(
             list_transform(range(1, GREATEST(length(text) - 7, 1) + 1),
                            i -> md5(substring(lower(text), i, 8))),
             'min') AS min_shingle_fp
    FROM documents
)
SELECT source,
       COUNT(*)                         AS n_docs,
       COUNT(DISTINCT full_fp)          AS n_unique_full,
       COUNT(DISTINCT min_shingle_fp)   AS n_unique_shingle
FROM fp
GROUP BY source
"""


@query("text_fingerprint", oracle=FINGERPRINT_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-document hash (md5 of
    lowercased text) and a winnowing-style min-hash over all 8-char
    shingles (the rolling-hash fingerprint: min over the shingle
    hash stream). Shingling is `transform` over `sequence` — a
    higher-order function, so the O(len) shingle scan runs inside
    codegen, not Python. At 100 TB the per-doc cost is linear and
    embarrassingly parallel; the aggregate shuffles only 16-byte
    hashes, never text."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    documents = spread(documents)  # CPU-bound hash family: see catalog.spread
    low = F.lower(F.col("text"))
    shingle_fp = F.array_min(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(F.col("text")) - 7, F.lit(1))),
            lambda i: F.md5(F.substr(low, i, F.lit(8))),
        )
    )
    fp = documents.select(
        "source",
        F.md5(low).alias("full_fp"),
        shingle_fp.alias("min_shingle_fp"),
    )
    return fp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("full_fp").alias("n_unique_full"),
        F.countDistinct("min_shingle_fp").alias("n_unique_shingle"),
    )


# --------------------------------------------------------------------------
# L13 — PII redaction (regex scrub, counted)
# --------------------------------------------------------------------------

EMAIL_RE = r"[a-zA-Z0-9._]+@[a-zA-Z0-9.]+\.[a-z]{2,}"
PHONE_RE = r"\+[0-9]{2}-[0-9]{3}-[0-9]{4}"

L13_ORACLE = f"""
WITH seeded AS (
    SELECT source,
           CASE
             WHEN doc_id % 7 = 0 THEN text || ' contact user' || doc_id || '@example.com'
             WHEN doc_id % 11 = 0 THEN text || ' call +49-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE text
           END AS text
    FROM documents
),
scrubbed AS (
    SELECT source,
           len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
           regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g') AS clean
    FROM seeded
)
SELECT source,
       CAST(SUM(n_emails) AS BIGINT) AS emails_redacted,
       CAST(SUM(n_phones) AS BIGINT) AS phones_redacted,
       CAST(SUM(CASE WHEN contains(clean, '<EMAIL>') OR contains(clean, '<PHONE>')
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched
FROM scrubbed
GROUP BY source
"""


@query("l13_pii_redaction", oracle=L13_ORACLE)
def l13_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L13 — PII scrub: regex-redact emails/phone numbers and count
    what was removed, per source (the audit trail a compliance
    pipeline must emit). The fixture corpus is synthetic word soup,
    so deterministic PII is seeded first (same seeding in the
    oracle); the scrub itself is `regexp_replace`/`regexp_count`
    inside codegen — one scan, no Python, and at 100 TB the
    redaction is a map-only pass writing back alongside the data."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    seeded = documents.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col("text"),
                F.lit(" call +49-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text")),
    )
    scrubbed = seeded.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PHONE_RE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            "<PHONE>",
        ).alias("clean"),
    )
    return scrubbed.groupBy("source").agg(
        F.sum("n_emails").cast("long").alias("emails_redacted"),
        F.sum("n_phones").cast("long").alias("phones_redacted"),
        F.sum(
            F.when(
                F.col("clean").contains("<EMAIL>") | F.col("clean").contains("<PHONE>"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("docs_touched"),
    )


# --------------------------------------------------------------------------
# L14 — repetition stats (Gopher-style quality signal)
# --------------------------------------------------------------------------

L14_ORACLE = """
WITH toks AS (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
    FROM documents
),
per_tok AS (
    SELECT doc_id, source, tok, COUNT(*) AS c
    FROM toks GROUP BY doc_id, source, tok
),
per_doc AS (
    SELECT doc_id, source,
           SUM(c)                        AS n_tokens,
           COUNT(*)                      AS n_distinct,
           MAX(c)                        AS top_tok_count
    FROM per_tok GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT)                                   AS n_docs,
       ROUND(AVG(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens), 6) AS avg_repetition,
       ROUND(MAX(CAST(top_tok_count AS DOUBLE) / n_tokens), 6)    AS worst_top_tok_ratio
FROM per_doc
GROUP BY source
"""


@query("l14_repetition_stats", oracle=L14_ORACLE)
def l14_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L14 — repetition quality signals (the Gopher-rules family):
    per-document repeated-token fraction and worst single-token
    dominance, rolled up per source.

    Shuffle discipline (r12 rewrite, per the r11 verdict's plan
    audit): a document's token-multiset statistics depend on no
    other row, so they are computed PER ROW — sort the token array
    and scan it once for the longest equal-run (= the max token
    multiplicity in a sorted array). The old shape shuffled the
    (doc_id, token) relation to a hash aggregate: even with
    map-side partials, mostly-distinct tokens made that exchange
    carry near-raw token volume (measured 5.50 s at the 100× corpus
    vs DuckDB's 0.47 s). The ONLY exchange is the per-source
    rollup — a handful of rows.

    Eval-path stability (r13, closing the r12 verdict's bimodal
    item): the r12 fold carried a (prev-token STRING, run, maxrun)
    STRUCT accumulator, and fresh JVMs flapped 2.3 s ↔ 14 s at the
    300× corpus on an identical plan — sticky per process, never
    transitioning. Measured diagnosis (PLANS.md "l14 bimodality:
    mechanism isolated, expression stabilized"; script removed; see
    git 195aa75):
    the flap is NOT a whole-stage-codegen fallback — it persists
    bit-for-bit with spark.sql.codegen.wholeStage=false (11.6-11.8 s
    slow procs, one 2.65 s fast proc) — it is C2 JIT profile
    sensitivity of the interpreted HigherOrderFunction eval over
    struct state: per element the lambda allocated a
    GenericInternalRow, compared UTF8Strings, and navigated nested
    GetStructField/CaseWhen trees, shapes whose inlining decisions
    depend on which thread's profile wins. The restructured pass
    below precomputes eq[i] = (sorted[i] == sorted[i-1]) as 0/1
    longs (tiny stateless lambda) and folds THAT with a single-LONG
    accumulator acc = run·2^32 + maxrun and branch-free arithmetic
    (newrun = eq·run + 1) — no per-element allocation, no string
    compare in the fold, no struct state. Five fresh processes at
    300×, both codegen modes: 2.8-3.7 s, zero slow-mode hits.
    The sorted array is materialized as a COLUMN first: referencing
    the array_sort expression inside a lambda would re-evaluate the
    sort per element (the subtree-duplication trap; CollapseProject
    keeps a multiply-referenced non-cheap producer staged)."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    staged = documents.select(
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.array_sort(toks).alias("st"),
    )
    eq = F.transform(
        F.sequence(F.lit(2), F.size("st")),
        lambda i: (
            F.element_at(F.col("st"), i) == F.element_at(F.col("st"), i - 1)
        ).cast("long"),
    )
    two32 = F.lit(4294967296).cast("long")
    mask = F.lit(4294967295).cast("long")
    maxrun = F.aggregate(
        # guard: sequence(2, 1) DESCENDS for single-token docs
        F.when(F.size("st") >= 2, eq).otherwise(
            F.array().cast("array<bigint>")
        ),
        two32 + F.lit(1).cast("long"),  # run=1, maxrun=1
        lambda acc, e: (
            lambda run, mx: (lambda nr: nr * two32 + F.greatest(mx, nr))(
                e * run + 1
            )
        )(F.shiftright(acc, 32), acc.bitwiseAND(mask)),
        lambda acc: acc.bitwiseAND(mask),
    )
    per_doc = staged.select(
        "source",
        "n_tokens",
        "n_distinct",
        maxrun.alias("top_tok_count"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r6(
            F.avg(F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"))
        ).alias("avg_repetition"),
        r6(
            F.max(F.col("top_tok_count").cast("double") / F.col("n_tokens"))
        ).alias("worst_top_tok_ratio"),
    )


# --------------------------------------------------------------------------
# L20 — BM25 ranking (the production successor of L6's TF-IDF)
# --------------------------------------------------------------------------

BM25_TERMS = ("spark", "join", "fast")
BM25_K1 = 1.2
BM25_B = 0.75

_TERMS_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)

L20_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
    FROM documents
),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM docs),
tf AS (
    SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM docs)
    WHERE tok IN ({_TERMS_IN})
    GROUP BY doc_id, dl, tok
),
df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok)
SELECT doc_id,
       ROUND(SUM(
         ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
         * tf.tf * ({BM25_K1} + 1.0)
         / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * tf.dl / stats.avgdl))
       ), 6) AS bm25
FROM tf JOIN df USING (tok), stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


def bm25_scores(documents: DataFrame) -> DataFrame:
    """(doc_id, bm25) for every document matching ≥1 fixed query term.

    The shuffle-free l20 scoring shape, factored so other retrieval
    operators (l78's hybrid-fusion lexical leg) can reuse it against
    any candidate frame: row-wise per-term tf via
    ``size(filter(toks, = term))``, ONE 1-row corpus-stats aggregate
    (N / avgdl / per-term df) broadcast into a contains-prefiltered
    scoring scan. Zero token-keyed exchanges at any corpus size; the
    caller owns ordering/limit so top-k stays TakeOrderedAndProject.
    """
    toks = F.split(F.col("text"), " ")

    def tf_col(term: str):
        # NB: a single-arg lambda is load-bearing — pyspark treats a
        # two-arg lambda (even `x, t=term`) as the (element, index)
        # variant and passes the positional INDEX as the second arg.
        lit_t = F.lit(term)
        return F.size(F.filter(toks, lambda x: x == lit_t)).cast("double")

    per_doc = documents.select(
        "doc_id",
        F.size(toks).cast("double").alias("dl"),
        *[tf_col(t).alias(f"tf_{i}") for i, t in enumerate(BM25_TERMS)],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    any_term = None
    for t in BM25_TERMS:
        c = F.col("text").contains(t)
        any_term = c if any_term is None else (any_term | c)
    matches = documents.filter(any_term).select(
        "doc_id",
        F.size(toks).cast("double").alias("dl"),
        *[tf_col(t).alias(f"tf_{i}") for i, t in enumerate(BM25_TERMS)],
    )

    def term_score(i: int):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            1.0 + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        norm = (
            tf
            * (BM25_K1 + 1.0)
            / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
        )
        return F.when(tf > 0, idf * norm).otherwise(F.lit(0.0))

    total = term_score(0)
    for i in range(1, len(BM25_TERMS)):
        total = total + term_score(i)
    return (
        matches.join(F.broadcast(stats))
        .filter(sum((F.col(f"tf_{i}") > 0).cast("int") for i in range(len(BM25_TERMS))) > 0)
        .select("doc_id", r6(total).alias("bm25"))
    )


@query("l20_bm25_search", oracle=L20_ORACLE)
def l20_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-extension — BM25 document ranking for a fixed query term
    set (k1=1.2, b=0.75, Lucene-style idf = ln(1 + (N-df+0.5)/(df+0.5))),
    the production successor of L6's raw TF-IDF.

    Plan shape (r12 rewrite, per the r11 verdict's plan audit): the
    query term set is FIXED and tiny, so nothing needs the exploded
    token relation at all — the old shape generated every token of
    every document and filtered afterwards (Generate cannot be
    pruned by a predicate on its output; measured 8.48 s at the
    100× corpus vs DuckDB's 0.36 s). Now each document computes its
    per-term frequencies per ROW with `size(filter(toks, = term))`
    (three counters in one codegen'd projection), and ALL corpus
    statistics — N, avgdl, and the three document frequencies — are
    ONE 1-row aggregate over that projection, broadcast into the
    scoring pass. The scoring pass re-scans only documents that can
    match (a substring-contains pre-filter, a strict superset of
    token equality, prunes before tokenizing), scores in-row, and
    the only ordering operator is the top-20 TakeOrderedAndProject.
    Zero token-keyed exchanges at any corpus size; at 100 TB both
    passes are embarrassingly parallel scans. A resident deployment
    materializes the tf projection once (S6) and reuses it across
    query sets.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    return (
        bm25_scores(documents)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# L21 — funnel analysis over the events stream table
# --------------------------------------------------------------------------

L21_ORACLE = """
WITH steps AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
           MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events
    GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(*) FILTER (WHERE t_signup IS NOT NULL) AS BIGINT) AS n_signup,
       CAST(COUNT(*) FILTER (WHERE t_signup IS NOT NULL
                               AND t_click > t_signup) AS BIGINT)   AS n_signup_click,
       CAST(COUNT(*) FILTER (WHERE t_signup IS NOT NULL
                               AND t_click > t_signup
                               AND t_purchase > t_click) AS BIGINT) AS n_full_funnel
FROM steps
"""


@query("l21_funnel_steps", oracle=L21_ORACLE)
def l21_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-extension — ordered funnel analysis: of all users, how many
    signed up, then clicked after signing up, then purchased after
    that first click (first-touch timestamps, strict ordering).

    One conditional-MIN aggregate per step collapses events to a
    single row per user — the funnel comparisons then run on that
    per-user row, so the whole query is one user_id shuffle plus a
    1-row final merge, regardless of event volume or funnel depth.
    NULL semantics do the step gating: a missing step leaves its
    timestamp NULL and every comparison against it is NULL → not
    counted, identically on both engines. Adding a step is adding
    one MIN and one FILTER clause — no extra pass.
    """
    (events,) = load_tables(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    steps = events.groupBy("user_id").agg(
        first("signup").alias("t_signup"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    signed = F.col("t_signup").isNotNull()
    clicked = signed & (F.col("t_click") > F.col("t_signup"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return steps.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(signed, 1)).alias("n_signup"),
        F.count(F.when(clicked, 1)).alias("n_signup_click"),
        F.count(F.when(purchased, 1)).alias("n_full_funnel"),
    )


# --------------------------------------------------------------------------
# L25 — unigram language-model quality score (avg negative logprob)
# --------------------------------------------------------------------------

L25_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents
),
freq AS (
    SELECT term, COUNT(*) AS n FROM tok GROUP BY term
),
tot AS (
    SELECT CAST(SUM(n) AS DOUBLE) AS n_corpus FROM freq
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(CAST(-LN(freq.n / tot.n_corpus) AS DECIMAL(28, 12)))
             / COUNT(*), 6) AS avg_neg_logprob
FROM tok
JOIN freq USING (term)
CROSS JOIN tot
GROUP BY doc_id
"""


@query("l25_unigram_logprob", oracle=L25_ORACLE)
def l25_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L25 — score every document by its average per-token negative
    log-probability under the corpus's own unigram distribution: the
    cheapest LM-style quality/outlier signal (CCNet-style filtering
    uses a real LM; the unigram self-model is the zero-dependency
    stand-in with the same plumbing). High score = improbable tokens
    = gibberish/rare-vocab candidates; low = boilerplate.

    Same shuffle shape as L6: explode → term-frequency hash agg
    (|vocab|-bounded, broadcastable) → broadcast join tokens back to
    frequencies → per-doc agg on doc_id. The corpus total is a 1-row
    broadcast aggregate in the DAG, not a driver action. Per-token
    -ln(p) terms accumulate in decimal so the per-doc sum is exact
    and partition-order-independent; both engines round the final
    average to 6dp (per-token ln() ulp differences sit ~7 orders
    below that).
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.agg(F.sum("n").cast("double").alias("n_corpus"))
    neg_ln = -F.log(F.col("n") / F.col("n_corpus"))
    return (
        tok.join(F.broadcast(freq), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # round in decimal, then surface as double: a decimal
            # result column would land in pandas as object dtype and
            # hash differently from the oracle's float64
            F.round(
                F.sum(neg_ln.cast("decimal(28,12)")) / F.count(F.lit(1)), 6
            )
            .cast("double")
            .alias("avg_neg_logprob"),
        )
    )


# --------------------------------------------------------------------------
# L28 — corpus bigram frequency (n-gram LM statistics)
# --------------------------------------------------------------------------

L28_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t
    FROM documents
    WHERE len(string_split(text, ' ')) >= 2
),
bigrams AS (
    SELECT doc_id, unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM toks
)
SELECT bigram,
       CAST(COUNT(*) AS BIGINT)                AS n,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT)  AS doc_freq
FROM bigrams
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 25
"""


@query("l28_bigram_counts", oracle=L28_ORACLE)
def l28_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L28 — corpus-wide bigram frequency + document frequency,
    top 25: the statistic behind bigram-LM quality scores (l25's
    conditional-probability upgrade), n-gram contamination reports,
    and boilerplate detection (a bigram in half the corpus IS
    boilerplate).

    Bigram formation is a higher-order ``transform`` over
    ``sequence`` zipping each token with its successor — codegen, no
    UDF, mirrored index-for-index by the oracle's `list_transform`
    (both `sequence(1, size-1)` and `range(1, len)` enumerate
    1..n-1). The canonical distributed word-count shape: explode →
    partial count map-side → one shuffle keyed by bigram carrying
    (bigram, partial n, partial doc set) — never document text —
    then `TakeOrderedAndProject` for the top-k. doc_freq's DISTINCT
    forces the doc_id list through the shuffle per bigram; bounded
    by df, the quantity being measured.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    ).filter(F.size("t") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))"
            )
        ).alias("bigram"),
    )
    return (
        bigrams.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("n").desc(), "bigram")
        .limit(25)
    )


# --------------------------------------------------------------------------
# L29 — per-source embedding centroids (domain fingerprints)
# --------------------------------------------------------------------------

L29_ORACLE = """
SELECT d.source,
       CAST(t.i AS INT)                                   AS dim,
       ROUND(AVG(CAST(e.embedding[t.i] AS DOUBLE)), 6)    AS centroid,
       CAST(COUNT(*) AS BIGINT)                           AS n_docs
FROM embeddings e
JOIN documents d ON d.doc_id = e.vec_id
CROSS JOIN range(1, 9) t(i)
GROUP BY d.source, t.i
"""


@query("l29_source_centroids", oracle=L29_ORACLE)
def l29_source_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L29 — per-source mean embedding (first 8 dims): the domain
    fingerprint used for source-level clustering, drift monitoring,
    and mixture weighting in corpus curation.

    Physical shape matters at scale: the naive formulation
    (posexplode the vector, then group on (source, dim)) shuffles
    64·N skinny rows. This plan instead computes all per-dim means
    as SIMULTANEOUS ``avg(element_at(...))`` aggregates in one hash
    aggregate — partial (source → 8 sums + count) combines map-side,
    so the single shuffle carries K×8 partial states regardless of
    corpus size (the `_lloyd_refine` centroid trick, cited there) —
    and unpivots the K×8 result AFTER aggregation via ``stack``.
    Dim count bounded to 8 to keep the compared frame reviewable;
    the plan is identical at 64.
    """
    n_dims = 8
    (emb, documents) = load_tables(spark, sf_dir, "embeddings", "documents")
    joined = emb.select("vec_id", "embedding").join(
        documents.select(F.col("doc_id").alias("vec_id"), "source"), "vec_id"
    )
    agged = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.round(F.avg(F.element_at("embedding", i).cast("double")), 6).alias(
                f"c{i}"
            )
            for i in range(1, n_dims + 1)
        ],
    )
    stack_args = ", ".join(f"{i}, c{i}" for i in range(1, n_dims + 1))
    return agged.selectExpr(
        "source",
        f"stack({n_dims}, {stack_args}) AS (dim, centroid)",
        "n_docs",
    ).select("source", F.col("dim").cast("int"), "centroid", "n_docs")


# --------------------------------------------------------------------------
# L31 — dataset card: per-source corpus governance rollup
# --------------------------------------------------------------------------

L31_ORACLE = """
WITH per_doc AS (
    SELECT source, lang, doc_id,
           len(string_split(text, ' '))    AS n_tokens,
           n_chars,
           md5(text)                       AS h
    FROM documents
),
dups AS (
    SELECT source,
           COUNT(*) - COUNT(DISTINCT h)    AS n_dup_docs
    FROM per_doc
    GROUP BY source
)
SELECT p.source,
       CAST(COUNT(*) AS BIGINT)                         AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT)                    AS total_tokens,
       ROUND(AVG(CAST(n_tokens AS DOUBLE)), 6)          AS avg_tokens,
       ROUND(AVG(CAST(n_chars AS DOUBLE)), 6)           AS avg_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT)             AS n_langs,
       ROUND(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6)                             AS en_frac,
       ROUND(MAX(d.n_dup_docs) * 1.0 / COUNT(*), 6)     AS dup_frac
FROM per_doc p JOIN dups d ON p.source = d.source
GROUP BY p.source
ORDER BY p.source
"""


@query("l31_dataset_card", oracle=L31_ORACLE)
def l31_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L31 — the dataset card: one governance row per source with
    the numbers a corpus release publishes — volume (docs, tokens,
    chars), language mix (distinct langs, English fraction), and
    exact-duplicate rate (1 − distinct-hash/docs). This is the
    rollup every curation pipeline ends with; the component metrics
    exist as standalone operators (l05 token stats, l07
    distribution, l01 dedup) and this query is their one-pass
    composition.

    One scan, one shuffle: all metrics are algebraic or
    distinct-over-16-byte-hash aggregates grouped by source, so the
    exchange carries per-source partial states (token sums, hash
    sets bounded by distinct content). Nothing re-reads text after
    the projection computes lengths and md5 map-side.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    return (
        documents.select(
            "source",
            "lang",
            "n_chars",
            toks.alias("n_tokens"),
            F.md5("text").alias("h"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 6).alias("avg_tokens"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(
                F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("en_frac"),
            F.round(
                (F.count(F.lit(1)) - F.countDistinct("h"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# L43 — bigram language-model quality score (conditional logprob)
# --------------------------------------------------------------------------

L43_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t
    FROM documents
    WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
    SELECT doc_id, unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM toks
),
bfreq AS (
    SELECT bigram, COUNT(*) AS nb FROM bg GROUP BY bigram
),
pfreq AS (
    SELECT string_split(bigram, ' ')[1] AS pfx, SUM(nb) AS np
    FROM bfreq GROUP BY 1
)
SELECT bg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       ROUND(SUM(CAST(-LN(bfreq.nb / CAST(pfreq.np AS DOUBLE))
                      AS DECIMAL(28, 12))) / COUNT(*), 6)
           AS avg_neg_bigram_logprob
FROM bg
JOIN bfreq USING (bigram)
JOIN pfreq ON string_split(bg.bigram, ' ')[1] = pfreq.pfx
GROUP BY bg.doc_id
"""


@query("l43_bigram_logprob", oracle=L43_ORACLE)
def l43_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L43 — score every document by its average conditional
    negative log-probability -ln P(w_i | w_{i-1}) under the
    corpus's own bigram model: l25's unigram signal upgraded to the
    CCNet/KenLM-style sequence model. A document of individually
    common tokens in an improbable ORDER (shuffled text, keyword
    stuffing, word salad) scores high here while l25 passes it —
    the two together separate "rare vocabulary" from "broken
    syntax".

    P(w|v) = n(v w) / n(v ·): the denominator is v's count as a
    bigram PREFIX, derived by re-aggregating the bigram table on
    its first token (strictly smaller input than re-counting
    tokens, and exactly consistent with the numerator — no
    off-by-one on final tokens). Scoring the corpus under its own
    model means every scored bigram exists in the table, so no
    backoff path is needed. Docs under 2 tokens have no
    transitions and are excluded (l28's filter).

    Shape: the l28 bigram explode feeds one |bigram-vocab| hash
    agg, its prefix re-agg, and two frequency joins back onto the
    stream, then a doc_id agg. Frequency tables broadcast at
    fixture scale; at 100 TB the bigram join keys on the bigram
    string — ids and counts cross the wire, never text. Per-token
    -ln(p) terms accumulate in DECIMAL (l25's discipline): the sum
    is partition-order-independent and both engines' ln() ulp
    differences sit below the 1e-12 decimal quantum's rounding
    effect at 6dp."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    ).filter(F.size("t") >= 2)
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))"
            )
        ).alias("bigram"),
    )
    bfreq = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("nb"))
    pfx = F.element_at(F.split(F.col("bigram"), " "), 1)
    pfreq = bfreq.groupBy(pfx.alias("pfx")).agg(F.sum("nb").alias("np"))
    neg_ln = -F.log(F.col("nb") / F.col("np").cast("double"))
    return (
        bg.join(F.broadcast(bfreq), "bigram")
        .withColumn("pfx", pfx)
        .join(F.broadcast(pfreq), "pfx")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.round(
                F.sum(neg_ln.cast("decimal(28,12)")) / F.count(F.lit(1)), 6
            )
            .cast("double")
            .alias("avg_neg_bigram_logprob"),
        )
    )


# --------------------------------------------------------------------------
# L44 — n-gram diversity (distinct-n ratio, the corpus repetition dial)
# --------------------------------------------------------------------------

L44_ORACLE = """
WITH toks AS (
    SELECT source, string_split(text, ' ') AS t FROM documents
),
grams AS (
    SELECT source, n,
           unnest(list_transform(range(1, len(t) - n + 2),
                                 i -> array_to_string(list_slice(t, i, i + n - 1),
                                                      ' '))) AS gram
    FROM toks
    CROSS JOIN (VALUES (1), (2), (3)) s(n)
    WHERE len(t) >= n
)
SELECT source,
       CAST(n AS BIGINT)                 AS n,
       CAST(COUNT(*) AS BIGINT)          AS total_grams,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_grams,
       ROUND(COUNT(DISTINCT gram) * 1.0 / COUNT(*), 6) AS diversity
FROM grams
GROUP BY source, n
"""


@query("l44_ngram_diversity", oracle=L44_ORACLE)
def l44_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L44 — distinct-n / total-n ratio per source for n = 1,2,3:
    the "distinct-n" diversity metric used to compare corpus slices
    and catch template-generated or looping text (a source whose
    trigram diversity collapses while unigram diversity holds is
    stamping the same sentences from a shared vocabulary).
    Complements l14 (repetition WITHIN one document) with the
    ACROSS-documents view.

    ONE documents scan: a 3-row literal gram-size table cross-joins
    in (lateral expansion, no second pass per n), then a
    higher-order transform over `sequence` emits each length-n
    window via `slice` — all codegen, mirrored index-for-index by
    the oracle's `list_transform`/`list_slice`. The shuffle keys on
    (source, n)-grouped partial counts; COUNT(DISTINCT gram) is the
    honest cost — Spark expands it to a (source, n, gram) partial
    agg first, so the wire carries each distinct gram once per
    partition, never per occurrence. diversity is one division of
    identical int64s, then r6."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    sizes = F.explode(F.sequence(F.lit(1), F.lit(3))).alias("n")
    toks = documents.select(
        "source", F.split(F.col("text"), " ").alias("t")
    ).select("source", "t", sizes)
    grams = toks.filter(F.size("t") >= F.col("n")).select(
        "source",
        "n",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - n + 1), "
                "i -> concat_ws(' ', slice(t, i, n)))"
            )
        ).alias("gram"),
    )
    return grams.groupBy("source", "n").agg(
        F.count(F.lit(1)).alias("total_grams"),
        F.countDistinct("gram").alias("distinct_grams"),
        F.round(
            F.countDistinct("gram") * F.lit(1.0) / F.count(F.lit(1)), 6
        ).alias("diversity"),
    ).withColumn("n", F.col("n").cast("long"))


# --------------------------------------------------------------------------
# L45 — Zipf slope of the term-frequency distribution
# --------------------------------------------------------------------------

L45_TOP = 1000

L45_ORACLE = f"""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
freq AS (
    SELECT term, COUNT(*) AS n FROM tok GROUP BY term
    ORDER BY n DESC, term LIMIT {L45_TOP}
),
ranked AS (
    SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rk FROM freq
),
pts AS (
    SELECT CAST(LN(CAST(rk AS DOUBLE)) AS DECIMAL(28, 12)) AS x,
           CAST(LN(CAST(n AS DOUBLE))  AS DECIMAL(28, 12)) AS y,
           CAST(LN(CAST(rk AS DOUBLE)) * LN(CAST(rk AS DOUBLE))
                AS DECIMAL(28, 12)) AS xx,
           CAST(LN(CAST(rk AS DOUBLE)) * LN(CAST(n AS DOUBLE))
                AS DECIMAL(28, 12)) AS xy
    FROM ranked
),
s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS m,
           CAST(SUM(x) AS DOUBLE)  AS sx,
           CAST(SUM(y) AS DOUBLE)  AS sy,
           CAST(SUM(xx) AS DOUBLE) AS sxx,
           CAST(SUM(xy) AS DOUBLE) AS sxy
    FROM pts
)
SELECT CAST(m AS BIGINT) AS n_terms,
       ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) + 0.0 AS zipf_slope,
       ROUND((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m, 6)
           + 0.0 AS intercept
FROM s
"""


@query("l45_zipf_slope", oracle=L45_ORACLE)
def l45_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L45 — fit ln(freq) = intercept + slope·ln(rank) by OLS over
    the top-1000 terms: the Zipf-exponent health check for a text
    corpus (natural language sits near slope -1; template/generated
    text and OCR noise bend it). The macroscopic twin of l25/l43's
    per-document scores.

    Built-in regr_slope would fold co-moments in partition order —
    the exact a19 drift class. Instead each point's ln products are
    computed in double (identical inputs → ≤1-2 ulp, ~1e-14, four
    orders under the decimal quantum) and accumulated as
    DECIMAL(28,12): the SUMS are bit-identical on both engines
    regardless of partitioning, and every operation after the sums
    is scalar double arithmetic on identical values — parity by
    construction, r6 only as belt-and-braces.

    Plan: term hash agg (|vocab|-bounded, map-side partials) →
    TakeOrderedAndProject top-1000 → a window and four sums over
    exactly 1000 rows (bounded post-limit, w10's argument) → one
    output row."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    tok = documents.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
    freq = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(L45_TOP)
    )
    rk = F.row_number().over(Window.orderBy(F.col("n").desc(), "term"))
    x = F.log(rk.cast("double"))
    y = F.log(F.col("n").cast("double"))
    pts = freq.select(
        x.cast("decimal(28,12)").alias("x"),
        y.cast("decimal(28,12)").alias("y"),
        (x * x).cast("decimal(28,12)").alias("xx"),
        (x * y).cast("decimal(28,12)").alias("xy"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("xy").cast("double").alias("sxy"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("m").cast("long").alias("n_terms"),
        zround(slope).alias("zipf_slope"),
        zround((F.col("sy") - slope * F.col("sx")) / F.col("m")).alias(
            "intercept"
        ),
    )


# --------------------------------------------------------------------------
# L49 — PMI collocations (pointwise mutual information over bigrams)
# --------------------------------------------------------------------------

L49_MIN_N = 5
L49_TOP = 25

L49_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t
    FROM documents WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
    SELECT unnest(list_transform(range(1, len(t)),
                                 i -> [t[i], t[i+1]])) AS pair
    FROM toks
),
bfreq AS (
    SELECT pair[1] AS w1, pair[2] AS w2, COUNT(*) AS nb
    FROM bg GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(nb) AS DOUBLE) AS nbg FROM bfreq),
uni AS (
    SELECT term, CAST(SUM(cnt) AS DOUBLE) AS nu, s.ntok FROM (
        SELECT pair[1] AS term, COUNT(*) AS cnt FROM bg GROUP BY 1
        UNION ALL
        SELECT pair[2] AS term, COUNT(*) AS cnt FROM bg GROUP BY 1
    ) u
    CROSS JOIN (SELECT CAST(SUM(len(t)) AS DOUBLE) AS ntok FROM toks) s
    GROUP BY term, s.ntok
)
SELECT b.w1, b.w2, CAST(b.nb AS BIGINT) AS nb,
       ROUND(LN((b.nb / t.nbg)
                / ((u1.nu / (2.0 * t.nbg)) * (u2.nu / (2.0 * t.nbg)))), 6)
           + 0.0 AS pmi
FROM bfreq b
CROSS JOIN tot t
JOIN uni u1 ON u1.term = b.w1
JOIN uni u2 ON u2.term = b.w2
WHERE b.nb >= {L49_MIN_N}
ORDER BY pmi DESC, b.w1, b.w2
LIMIT {L49_TOP}
"""


@query("l49_pmi_collocations", oracle=L49_ORACLE)
def l49_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L49 — top-25 collocations by pointwise mutual information:
    PMI = ln(P(w1,w2) / (P(w1)·P(w2))), the classic "these tokens
    belong together" statistic behind phrase mining and tokenizer
    merge-pair selection (a high-PMI bigram is a candidate merge).
    Frequency ranking (l28) surfaces common pairs; PMI surfaces
    ASSOCIATED pairs — "new york" beats "of the".

    Marginals are estimated from the bigram stream itself (each
    token's occurrences as left or right element, over 2·|bigrams|
    slots) so numerator and denominator share one support and the
    estimate is well-defined for every surviving pair; n ≥ 5 is the
    standard small-count PMI guard. One bigram-key hash agg feeds
    both the pair counts and (via a union re-agg) the marginals;
    the marginal table is vocab-bounded and broadcastable; top-25
    is TakeOrderedAndProject. The PMI double is a short fixed chain
    (two divides, one multiply, one ln) on identical inputs — the
    l42 single-transcendental class, ordered with r6 + full
    tiebreaks on both engines."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    toks = documents.select(F.split(F.col("text"), " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> array(element_at(t, i), element_at(t, i + 1)))"
            )
        ).alias("pair")
    ).select(
        F.col("pair")[0].alias("w1"), F.col("pair")[1].alias("w2")
    )
    bfreq = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("nb"))
    tot = bfreq.agg(F.sum("nb").cast("double").alias("nbg"))
    ntok = toks.agg(F.sum(F.size("t")).cast("double").alias("ntok"))
    uni = (
        bfreq.select(F.col("w1").alias("term"), "nb")
        .unionByName(bfreq.select(F.col("w2").alias("term"), "nb"))
        .groupBy("term")
        .agg(F.sum("nb").cast("double").alias("nu"))
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("nu").alias("nu1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("nu").alias("nu2"))
    pmi = F.log(
        (F.col("nb") / F.col("nbg"))
        / (
            (F.col("nu1") / (F.lit(2.0) * F.col("nbg")))
            * (F.col("nu2") / (F.lit(2.0) * F.col("nbg")))
        )
    )
    return (
        bfreq.filter(F.col("nb") >= L49_MIN_N)
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .select("w1", "w2", "nb", zround(pmi).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(L49_TOP)
    )


# --------------------------------------------------------------------------
# L52 — token-distribution entropy per source (Shannon, bits)
# --------------------------------------------------------------------------

L52_ORACLE = """
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
),
freq AS (
    SELECT source, term, COUNT(*) AS n FROM tok GROUP BY source, term
),
tot AS (
    SELECT source, SUM(n) AS nt FROM freq GROUP BY source
)
SELECT f.source,
       CAST(t.nt AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       ROUND(CAST(SUM(CAST(-(f.n / CAST(t.nt AS DOUBLE))
                           * LOG2(f.n / CAST(t.nt AS DOUBLE))
                           AS DECIMAL(28, 12))) AS DOUBLE), 6)
           AS entropy_bits,
       ROUND(CAST(SUM(CAST(-(f.n / CAST(t.nt AS DOUBLE))
                           * LOG2(f.n / CAST(t.nt AS DOUBLE))
                           AS DECIMAL(28, 12))) AS DOUBLE)
             / LOG2(CAST(COUNT(*) AS DOUBLE)), 6) AS efficiency
FROM freq f JOIN tot t USING (source)
GROUP BY f.source, t.nt
"""


@query("l52_entropy_profile", oracle=L52_ORACLE)
def l52_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L52 — Shannon entropy (bits/token) of each source's unigram
    distribution, plus entropy efficiency (H / log2 vocab): the
    information-density dial that separates natural text (high H,
    efficiency ~0.7-0.9) from template spam (low H — few tokens
    carry the mass) and from random noise (efficiency → 1). The
    corpus-slice companion to l25's per-document logprob: same
    Σ -p·log p, aggregated over the source instead of scored per
    row.

    Shape: explode → (source, term) hash agg (map-side partials) →
    per-source totals re-agg → one join and a |vocab|-row final
    agg. Each term's -p·log2 p is a fixed double chain on identical
    inputs (the l42 single-transcendental class), accumulated in
    DECIMAL so the per-source sum is partition-order independent
    (l25's discipline); the final efficiency divide happens on the
    identical decimal-cast doubles."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    tok = documents.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    freq = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.groupBy("source").agg(F.sum("n").alias("nt"))
    p = F.col("n") / F.col("nt").cast("double")
    term_bits = (-p * F.log2(p)).cast("decimal(28,12)")
    joined = freq.join(F.broadcast(tot), "source")
    return joined.groupBy("source", "nt").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum(term_bits).alias("hsum"),
        ).select(
        "source",
        F.col("nt").cast("long").alias("n_tokens"),
        "vocab",
        F.round(F.col("hsum").cast("double"), 6).alias("entropy_bits"),
        F.round(
            F.col("hsum").cast("double")
            / F.log2(F.col("vocab").cast("double")),
            6,
        ).alias("efficiency"),
    )


# --------------------------------------------------------------------------
# L57 — normalization pass with a pinned idempotency contract
# --------------------------------------------------------------------------

L57_ORACLE = """
WITH cleaned AS (
    SELECT source, text,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS clean
    FROM documents
),
twice AS (
    SELECT source, text, clean,
           trim(regexp_replace(lower(clean), '\\s+', ' ', 'g')) AS clean2
    FROM cleaned
)
SELECT source,
       CAST(COUNT(*) AS BIGINT)                             AS n_docs,
       CAST(SUM(length(text)) AS BIGINT)                    AS chars_raw,
       CAST(SUM(length(clean)) AS BIGINT)                   AS chars_clean,
       CAST(COALESCE(SUM(CASE WHEN clean <> text THEN 1 END), 0) AS BIGINT)
                                                            AS n_changed,
       bool_and(clean2 = clean)                             AS idempotent
FROM twice
GROUP BY source
ORDER BY source
"""


@query("l57_text_normalization", oracle=L57_ORACLE)
def l57_text_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L57 — the corpus normalization pass every text pipeline runs
    before dedup/tokenization (lowercase, whitespace collapse, edge
    trim), with its defining algebraic property pinned AS AN OUTPUT:
    normalization must be IDEMPOTENT — clean(clean(x)) = clean(x) —
    or downstream exact-dedup keys (l01's md5, l33's probe) differ
    depending on how many times a document passed through ingest.
    The `idempotent` column applies the pass twice and bool_ands the
    fixed-point check across every document; the oracle pins TRUE.

    Cross-engine note: Spark regexp_replace replaces ALL matches;
    DuckDB requires the explicit 'g' flag — same \\s+ class in both
    regex dialects (Java / RE2). lower() is the engines' shared
    unicode simple-casefold; characters without case (CJK fixture
    text) pass through both unchanged.

    Scale: pure per-row codegen string work folded into one
    |source|-group aggregate — the normalize-then-hash stage at
    100 TB is scan-bound, and the idempotency bit costs one extra
    in-register pass, not a second scan (single FileScan,
    plan-asserted shape shared with l05)."""
    (docs,) = load_tables(spark, sf_dir, "documents")

    def clean(col):
        return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))

    c1 = clean(F.col("text"))
    scored = docs.select(
        "source",
        F.length("text").alias("len_raw"),
        F.length(c1).alias("len_clean"),
        (c1 != F.col("text")).alias("changed"),
        (clean(c1) == c1).alias("fixed_point"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("len_raw").cast("bigint").alias("chars_raw"),
            F.sum("len_clean").cast("bigint").alias("chars_clean"),
            F.coalesce(F.sum(F.when(F.col("changed"), 1)), F.lit(0))
            .cast("bigint")
            .alias("n_changed"),
            F.bool_and("fixed_point").alias("idempotent"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# L60 — vocabulary OOV rate per source (loader-compat metric)
# --------------------------------------------------------------------------

L60_VOCAB_K = 1000

L60_ORACLE = f"""
WITH toks AS (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (
    SELECT tok FROM (
        SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok
        ORDER BY freq DESC, tok
        LIMIT {L60_VOCAB_K}
    )
)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COALESCE(SUM(CASE WHEN v.tok IS NULL THEN 1 END), 0) AS BIGINT)
           AS n_oov,
       ROUND(COALESCE(SUM(CASE WHEN v.tok IS NULL THEN 1 END), 0)
             / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
GROUP BY t.source
ORDER BY t.source
"""


@query("l60_vocab_oov_rate", oracle=L60_ORACLE)
def l60_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L60 — out-of-vocabulary rate per source against the corpus's
    own top-K unigram vocabulary: the loader-compatibility metric a
    tokenizer/vocab decision is judged by (l25 scores sequences
    UNDER a vocab model; l60 measures how much of each source the
    vocab fails to cover at all — the quantity that decides whether
    K was big enough before any model exists). Vocabulary selection
    is deterministic: top-K by (freq DESC, token ASC) — the registry
    tiebreak discipline applied to vocabulary construction, which
    real tokenizer training pins the same way for reproducibility.

    Scale shape: the token stream aggregates to a vocab-bounded
    (token, freq) table (the l06/l25 shuffle argument); top-K is
    TakeOrderedAndProject; the K-row vocab BROADCASTS back into the
    token stream's left join, so the only raw-row shuffle is the
    per-source partial aggregate. Integer counts + one r6 ratio."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(L60_VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.coalesce(F.sum(F.when(F.col("in_vocab").isNull(), 1)), F.lit(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# L61 — unicode script-mix profile per language
# --------------------------------------------------------------------------

L61_ORACLE = """
WITH scored AS (
    SELECT lang,
           length(text) AS n_chars,
           length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
               AS n_latin,
           length(text) - length(regexp_replace(text,
               '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS n_cjk,
           length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS n_digit
    FROM documents
)
SELECT lang,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(SUM(n_latin) AS BIGINT) AS latin_total,
       CAST(SUM(n_cjk) AS BIGINT)   AS cjk_total,
       CAST(SUM(n_digit) AS BIGINT) AS digit_total,
       CASE WHEN SUM(n_cjk) > SUM(n_latin) THEN 'cjk' ELSE 'latin' END
           AS dominant_script
FROM scored
GROUP BY lang
ORDER BY lang
"""


@query("l61_script_mix", oracle=L61_ORACLE)
def l61_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L61 — unicode script-mix profile: per language, how many
    characters are Latin letters, CJK ideographs, digits — the
    feature that catches mislabeled languages (a 'zh' document full
    of Latin text), transliteration artifacts, and boilerplate
    contamination BEFORE the n-gram language-ID (text_language_id)
    votes; script mismatch is the cheapest high-precision lang-QA
    signal a corpus pipeline has.

    Counting is strip-and-diff (length minus length after removing
    the class) — all integers, no float surface. The CJK class is
    the same codepoint RANGE in both engines' regex dialects, spelled
    per dialect: Java ``[\\u4e00-\\u9fff]``, RE2
    ``[\\x{4e00}-\\x{9fff}]`` — character-class semantics over
    identical UTF-8 text, so the counts must agree exactly.

    Scale: one scan, per-row codegen regex work, |lang| bounded
    groups — the l05/l57 shape."""
    (docs,) = load_tables(spark, sf_dir, "documents")

    def strip_count(cls: str):
        return F.length("text") - F.length(
            F.regexp_replace(F.col("text"), cls, "")
        )

    scored = docs.select(
        "lang",
        F.length("text").alias("n_chars"),
        strip_count("[A-Za-z]").alias("n_latin"),
        strip_count("[一-鿿]").alias("n_cjk"),
        strip_count("[0-9]").alias("n_digit"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.sum("n_chars").cast("bigint").alias("chars_total"),
            F.sum("n_latin").cast("bigint").alias("latin_total"),
            F.sum("n_cjk").cast("bigint").alias("cjk_total"),
            F.sum("n_digit").cast("bigint").alias("digit_total"),
            F.when(F.sum("n_cjk") > F.sum("n_latin"), F.lit("cjk"))
            .otherwise(F.lit("latin"))
            .alias("dominant_script"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# L74 — BPE merge-candidate step (tokenizer-induction primitive)
# --------------------------------------------------------------------------

L74_TOP = 10

L74_ORACLE = f"""
WITH words AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT UNNEST(string_split(lower(text), ' ')) AS w
        FROM documents
    )
    WHERE w <> ''
    GROUP BY w
),
pairs AS (
    SELECT UNNEST(list_transform(range(1, length(w)),
                                 i -> substring(w, i, 2))) AS pair,
           n
    FROM words
    WHERE length(w) >= 2
),
ranked AS (
    SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count,
           row_number() OVER (ORDER BY SUM(n) DESC, pair) AS rnk
    FROM pairs
    GROUP BY pair
)
SELECT CAST(rnk AS INT) AS rank, pair, pair_count
FROM ranked
WHERE rnk <= {L74_TOP}
ORDER BY rank
"""


@query("l74_bpe_merge_step", oracle=L74_ORACLE)
def l74_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L74 — one BPE merge-selection step (Sennrich et al. 2016,
    "Neural Machine Translation of Rare Words with Subword Units"):
    the tokenizer-induction primitive a training-data pipeline runs
    to build its vocabulary. Over the corpus word-frequency table,
    count every ADJACENT symbol pair weighted by word frequency
    (every occurrence within a word counts — "aaa" contributes "aa"
    twice, the standard BPE accounting at the character-init state)
    and emit the top-{L74_TOP} merge candidates with deterministic
    (count DESC, pair ASC) ranking. Full BPE training is this step
    in a loop with a growing symbol table; the STEP is the
    distributed primitive — each iteration is one aggregation over
    the vocab, never over raw text (the vocab table is orders of
    magnitude smaller than the corpus, and pair extraction is
    per-word codegen: substring over sequence, no Python).

    Scale: two shuffles (word vocab hash-agg — the only corpus-sized
    exchange, carrying (word, count); then pair hash-agg over the
    vocab-sized relation), then a global row_number over the PAIR
    relation — bounded by the symbol alphabet squared (~1-2k rows
    at any corpus size), so the single-partition sort it implies is
    a constant, not a scale term. Both
    engines guard length-1 words explicitly (Spark's sequence(1, 0)
    yields a DESCENDING [1,0], not an empty list — the guard is
    semantic, not defensive)."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    words = (
        documents.select(
            F.explode(F.split(F.lower(F.col("text")), " ", -1)).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        words.filter(F.char_length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, char_length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair"),
            "n",
        )
        .groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("pair_count"))
    )
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= L74_TOP)
        .select("rank", "pair", "pair_count")
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# L75 — BPE vocabulary training loop (K merge steps, driver-bounded)
# --------------------------------------------------------------------------

L75_STEPS = 10

#: Symbol-sequence encoding separator (ASCII 0x1F, unit separator).
#: A word's symbol sequence is spelled `␟s1␟␟s2␟␟…␟sn␟` — every
#: symbol sandwiched by separators, DOUBLE separators between
#: neighbors — so that applying one BPE merge (a,b) is a plain
#: left-to-right non-overlapping string replace of `␟a␟␟b␟` with
#: `␟ab␟`: the sandwich makes partial-symbol matches impossible
#: ("yx"+"b" cannot match pattern "x␟␟b"), and the double separator
#: makes ADJACENT merge sites independent, so one replace pass
#: performs exactly the greedy left-to-right merge BPE specifies
#: ("a a a a" → "aa aa", "a a a" → "aa a"). Both engines use the
#: identical encoding, so the oracle replays the exact algorithm.
_L75_SEP = "\x1f"


def _bpe_stage_ctes() -> str:
    """Unrolled K-stage BPE training replay in ANSI-ish SQL (DuckDB),
    shared by the l75 (merge table) and l76 (corpus encode) oracles:
    stage k picks the argmax pair of words_{k-1} (count DESC, encoded
    pair ASC — symbols never contain the separator, so the pair
    string splits back losslessly) and applies it with the same
    sandwich-encoded replace the Spark side uses. Returns the WITH
    prefix through words_K / merge_K; callers append their own final
    CTEs and SELECT."""
    sep = "chr(31)"
    parts = [f"""
WITH words_0 AS (
    SELECT {sep} || array_to_string(regexp_split_to_array(w, ''),
                                    {sep} || {sep}) || {sep} AS enc,
           n
    FROM (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT UNNEST(string_split(lower(text), ' ')) AS w
            FROM documents
        )
        WHERE w <> '' AND w NOT LIKE '%' || {sep} || '%'
        GROUP BY w
    )
)"""]
    for k in range(1, L75_STEPS + 1):
        parts.append(f""",
merge_{k} AS (
    SELECT string_split(pair, {sep})[1] AS a,
           string_split(pair, {sep})[2] AS b,
           cnt
    FROM (
        SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (
            SELECT UNNEST(list_transform(range(1, len(syms)),
                          i -> syms[i] || {sep} || syms[i+1])) AS pair,
                   n
            FROM (
                SELECT string_split(substring(enc, 2, length(enc) - 2),
                                    {sep} || {sep}) AS syms,
                       n
                FROM words_{k - 1}
            )
        )
        GROUP BY pair
        ORDER BY cnt DESC, pair
        LIMIT 1
    )
),
words_{k} AS (
    SELECT replace(enc,
                   {sep} || m.a || {sep} || {sep} || m.b || {sep},
                   {sep} || m.a || m.b || {sep}) AS enc,
           n
    FROM words_{k - 1}, merge_{k} m
)""")
    return "".join(parts)


def _l75_oracle() -> str:
    """Merge-table projection over the shared K-stage training replay."""
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INT) AS step, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, cnt AS pair_count FROM merge_{k}"
        for k in range(1, L75_STEPS + 1)
    )
    return _bpe_stage_ctes() + f"\nSELECT * FROM (\n{selects}\n) ORDER BY step"


L75_ORACLE = _l75_oracle()


@query("l75_bpe_train_vocab", oracle=L75_ORACLE)
def l75_bpe_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L75 — BPE tokenizer training, K=10 merge steps (Sennrich et
    al. 2016): the iterative-algorithm-as-declarative-dataflow
    pattern at tokenizer-induction shape (the l73 SemDeDup two-round
    Lloyd precedent, now with a growing symbol table). l74 certifies
    ONE merge-selection step; this trains the actual merge TABLE —
    each iteration one vocab-sized pair aggregation, one 1-row
    argmax collect (the only driver traffic, K-bounded), and one
    merge application spelled as a literal string replace over the
    sandwich-encoded symbol sequence (see `_L75_SEP` — the encoding
    makes greedy left-to-right BPE merging a plain `replace`, no
    Python crossing anywhere).

    Scale posture: the ONLY corpus-sized exchange is the initial
    word-count shuffle, paid once and cached; every iteration's
    dataflow is vocab-bounded (distinct words), embarrassingly
    parallel, and rebuilt from the cached base plus k literal
    replaces — the merge table rides into executors as plan
    LITERALS, the moral equivalent of a broadcast symbol table that
    grows by one row per step. At 100 TB the word-count agg is the
    same shuffle l74 pays; iterations never touch raw text again.
    State never lives in driver loops beyond the K-row merge list.
    The result is that merge table itself (step, left/right symbol,
    merged token, count at selection time) — deterministic via
    (count DESC, encoded-pair ASC) tie-break, oracle-replayed stage
    by stage in DuckDB."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    merges = _bpe_train(documents)
    return spark.createDataFrame(
        merges,
        "step int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    ).orderBy("step")


def _bpe_train(documents: DataFrame) -> list[tuple[int, str, str, str, int]]:
    """The K-step merge-training loop shared by l75 (which returns the
    merge table itself) and l76 (which applies it to encode the
    corpus). Returns [(step, left, right, merged, pair_count)]; see
    l75's docstring for the dataflow argument."""
    sep = _L75_SEP
    words = (
        documents.select(
            F.explode(F.split(F.lower(F.col("text")), " ", -1)).alias("w")
        )
        .filter((F.col("w") != "") & (~F.col("w").contains(sep)))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(
                F.lit(sep),
                F.array_join(F.split(F.col("w"), ""), sep + sep),
                F.lit(sep),
            ).alias("enc"),
            "n",
        )
        .cache()
    )
    base = words  # the cached DF — `words` is rebound per merge step
    try:
        merges: list[tuple[int, str, str, str, int]] = []
        for step in range(1, L75_STEPS + 1):
            syms = F.split(
                F.expr("substring(enc, 2, length(enc) - 2)"), sep + sep
            )
            top = (
                words.select(syms.alias("syms"), "n")
                .filter(F.size("syms") >= 2)  # sequence(1,0) descends
                .select(
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.concat(
                                F.element_at("syms", i),
                                F.lit(sep),
                                F.element_at("syms", i + 1),
                            ),
                        )
                    ).alias("pair"),
                    "n",
                )
                .groupBy("pair")
                .agg(F.sum("n").cast("bigint").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("pair"))
                .limit(1)
                .collect()
            )
            if not top:
                raise RuntimeError(
                    f"l75: corpus exhausted pairs at step {step} — "
                    f"K={L75_STEPS} exceeds trainable merges"
                )
            a, b = top[0]["pair"].split(sep)
            merges.append((step, a, b, a + b, int(top[0]["cnt"])))
            words = words.withColumn(
                "enc",
                F.replace(
                    F.col("enc"),
                    F.lit(sep + a + sep + sep + b + sep),
                    F.lit(sep + a + b + sep),
                ),
            )
        return merges
    finally:
        base.unpersist()


# --------------------------------------------------------------------------
# L76 — BPE corpus encoding with the trained merge table
# --------------------------------------------------------------------------

#: Word-boundary marker between sandwich-encoded words in a document's
#: encoded string (ASCII 0x1E, record separator). Merge patterns are
#: `␟a␟␟b␟` — a DOUBLE separator between symbols — while a word
#: boundary contributes `␟<RS>␟` (single separators around the
#: marker), so no merge can ever span two words: BPE's reset-at-word-
#: boundary rule falls out of the encoding instead of needing a
#: per-word explode.
_L76_RS = "\x1e"


def _l76_oracle() -> str:
    """Corpus-encode replay: the shared K-stage training CTEs derive
    the SAME merge table the Spark side trains, then K unrolled
    enc_k stages apply each merge to every document's sandwich-
    encoded word sequence (one cross join against the 1-row merge_k
    relation per stage). Token accounting is pure string arithmetic:
    a word of s symbols carries s-1 double-separator junctions, so
    total BPE tokens = words + junctions, and junctions fall out of
    a length delta under `replace(enc, sep||sep, sep)`."""
    sep = "chr(31)"
    rs = "chr(30)"
    parts = [_bpe_stage_ctes()]
    parts.append(f""",
enc_0 AS (
    SELECT source,
           len(ws) AS n_words,
           length(array_to_string(ws, '')) AS n_chars,
           array_to_string(
               list_transform(ws, w -> {sep} ||
                   array_to_string(regexp_split_to_array(w, ''),
                                   {sep} || {sep}) || {sep}),
               {rs}) AS enc
    FROM (
        SELECT source,
               list_filter(string_split(lower(text), ' '),
                           w -> w <> '' AND
                                w NOT LIKE '%' || {sep} || '%') AS ws
        FROM documents
    )
)""")
    for k in range(1, L75_STEPS + 1):
        parts.append(f""",
enc_{k} AS (
    SELECT source, n_words, n_chars,
           replace(enc,
                   {sep} || m.a || {sep} || {sep} || m.b || {sep},
                   {sep} || m.a || m.b || {sep}) AS enc
    FROM enc_{k - 1}, merge_{k} m
)""")
    parts.append(f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(n_words + length(enc)
                - length(replace(enc, {sep} || {sep}, {sep})))
            AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(n_chars) AS DOUBLE)
             / SUM(n_words + length(enc)
                   - length(replace(enc, {sep} || {sep}, {sep}))),
             6) AS compression
FROM enc_{L75_STEPS}
GROUP BY source
ORDER BY source""")
    return "".join(parts)


L76_ORACLE = _l76_oracle()


@query("l76_bpe_encode", oracle=L76_ORACLE)
def l76_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L76 — apply the l75-trained BPE merge table to ENCODE the
    corpus, closing the tokenizer story (train → encode) the way a
    production data pipeline runs it: induce merges once, then
    tokenize every document and account for the resulting token
    budget per source (docs, whitespace words, chars, BPE tokens,
    chars-per-token compression).

    Spark-first shape: training reuses `_bpe_train` (one corpus-wide
    word-count shuffle, then vocab-bounded iterations; K 1-row
    collects are the only driver traffic). ENCODING is zero-shuffle
    and zero-explode: each document is sandwich-encoded in-row
    (transform + array_join over its word array), the K merges ride
    the plan as literal `replace` calls exactly like the training
    side, and the word-boundary marker (see `_L76_RS`) makes
    cross-word merges unrepresentable, so no per-word relation is
    ever materialized. Per-doc token counts are length arithmetic;
    the only exchange in the whole encode leg is the final
    per-source rollup (|sources| rows). At 100 TB: train on a
    sample or the full corpus (one shuffle), broadcast the merge
    table as plan literals, encode map-side, aggregate partials —
    nothing scales worse than the scan itself.

    Determinism: merge selection inherits l75's (count DESC, pair
    ASC) total order; every count is an exact BIGINT; the single
    double (compression) is round-6 disciplined. The oracle replays
    training AND encoding stage-by-stage in DuckDB, so the encoded
    token accounting is value-certified end-to-end."""
    sep = _L75_SEP
    rs = _L76_RS
    (documents,) = load_tables(spark, sf_dir, "documents")
    merges = _bpe_train(documents)
    ws = F.filter(
        F.split(F.lower(F.col("text")), " ", -1),
        lambda w: (w != "") & (~w.contains(sep)),
    )
    enc = F.array_join(
        F.transform(
            F.col("ws"),
            lambda w: F.concat(
                F.lit(sep),
                F.array_join(F.split(w, ""), sep + sep),
                F.lit(sep),
            ),
        ),
        rs,
    )
    df = (
        documents.select("source", ws.alias("ws"))
        .select(
            "source",
            F.size("ws").alias("n_words"),
            F.length(F.array_join("ws", "")).alias("n_chars"),
            enc.alias("enc"),
        )
    )
    for _, a, b, _, _ in merges:
        df = df.withColumn(
            "enc",
            F.replace(
                F.col("enc"),
                F.lit(sep + a + sep + sep + b + sep),
                F.lit(sep + a + b + sep),
            ),
        )
    junctions = F.length("enc") - F.length(
        F.replace(F.col("enc"), F.lit(sep + sep), F.lit(sep))
    )
    per_doc = df.select(
        "source",
        "n_words",
        "n_chars",
        (F.col("n_words") + junctions).alias("n_bpe"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            r6(
                F.col("n_chars").cast("double") / F.col("n_bpe_tokens")
            ).alias("compression"),
        )
        .orderBy("source")
    )
