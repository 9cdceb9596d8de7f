"""Generated end-of-round tally — one authoritative closing block.

Hand-written closing numbers drift. This tool derives every number
from the live registry and the newest committed artifacts (highest
round number in the file name), labels each with its source and
mtime, and prints a markdown block to paste VERBATIM into PLANS.md:
it can only be older than what a judge re-derives (and it says how
old), never disagree.

Usage:
    python tools/round_tally.py            # artifact-only (no pytest)
    python tools/round_tally.py --pytest   # also runs the full test
                                           # suite (~10 min)

Numbers and their sources:
  registry / oracle / impure counts  — live import of the registry
  verification window                — CERTIFIED.json, CORRECTNESS_r*.json
  COVERAGE.md header                 — parsed, cross-checked live
  sweep result                       — newest DRIVER_EQUIV_r*.txt
  suite total                        — newest SUITE_r*.json
  bench headline                     — newest BENCH_r*.json
  scale gate                         — scale_gate.evaluate() over the
                                       newest SCALE_STORY*.json
  pytest                             — only with --pytest, never
                                       from a stale artifact
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))


def _age(path: str) -> str:
    h = (time.time() - os.path.getmtime(path)) / 3600
    return f"{h:.1f}h old" if h >= 0.05 else "fresh"


def _newest(pattern: str) -> str | None:
    """The match with the highest round number ``_r<N>`` in its name
    (a checkout gives every file the same mtime); within a round the
    plain name beats a suffixed variant (``_r16`` over ``_r16_c8``)."""

    def order(path: str) -> tuple[int, bool, str]:
        m = re.search(r"_r(\d+)(.*)\.\w+$", os.path.basename(path))
        return (int(m.group(1)), not m.group(2), m.group(2)) if m else (-1, True, "")

    hits = glob.glob(os.path.join(ROOT, pattern))
    return max(hits, key=order) if hits else None


def main() -> int:
    lines: list[str] = ["## Round tally (generated by tools/round_tally.py)", ""]

    from hetnetdb_spark import registry  # noqa: PLC0415

    registry.load_all()
    n_q = len(registry.QUERIES)
    n_oracle = len(registry.ORACLE)
    n_impure = len(registry.IMPURE)
    lines.append(
        f"- registry (live import): **{n_q} queries**, {n_oracle} with "
        f"DuckDB oracles, {n_impure} impure/rows-only"
    )
    certified = json.loads(registry.CERTIFIED.read_text())["round"]
    lines.append(f"- verification window: CERTIFIED.json round {certified}, newest CORRECTNESS "
                 f"round {max(registry.correctness_files())}, re-check {list(registry.unverified())}")

    cov = os.path.join(ROOT, "COVERAGE.md")
    with open(cov) as fh:
        text = fh.read()
    m = re.search(r"Registry totals: \*\*(\d+)\s*\nqueries, (\d+) oracle", text)
    if m:
        cov_q, cov_o = int(m.group(1)), int(m.group(2))
        ok = "matches live" if (cov_q, cov_o) == (n_q, n_oracle) else "**STALE vs live**"
        lines.append(f"- COVERAGE.md header: {cov_q} queries / {cov_o} oracle — {ok}")

    equiv = _newest("DRIVER_EQUIV_r*.txt")
    if equiv:
        with open(equiv) as fh:
            tail = [ln for ln in fh.read().strip().splitlines() if ln][-1]
        lines.append(f"- sweep ({os.path.basename(equiv)}, {_age(equiv)}): {tail}")

    suite = _newest("SUITE_r*.json")
    if suite:
        with open(suite) as fh:
            doc = json.load(fh)
        n_suite = len(doc.get("suite", {}))
        lines.append(
            f"- suite ({os.path.basename(suite)}, {_age(suite)}): "
            f"headline {doc.get('value')} {doc.get('unit', 's')}, "
            f"full-suite total {doc.get('suite_total_warm')} s over "
            f"{n_suite} non-headline entries"
        )

    bench = _newest("BENCH_r*.json")
    if bench:
        with open(bench) as fh:
            doc = json.load(fh)
        parsed = doc.get("parsed", doc)
        lines.append(
            f"- bench ({os.path.basename(bench)}, {_age(bench)}): headline "
            f"{parsed.get('value')} s at sf{parsed.get('sf')}, "
            f"gate {parsed.get('scale', {}).get('crossover_gate', '?')}"
        )

    story = _newest("SCALE_STORY_r*.json") or _newest("SCALE_STORY.json")
    if story:
        from scale_gate import evaluate  # noqa: PLC0415

        with open(story) as fh:
            failures, summary = evaluate(json.load(fh))
        verdict = "PASS" if not failures else f"FAIL {failures}"
        lines.append(
            f"- scale gate ({os.path.basename(story)}, {_age(story)}): "
            f"{verdict} — {summary.get('largest_ratio')} at "
            f"{summary.get('largest_factor')}x "
            f"({summary.get('largest_ratio_basis', 'resident')} walls), "
            f"crossover at {summary.get('crossover_factor')}x "
            f"({summary.get('crossover_ratio')}), pipeline "
            f"{summary.get('pipeline_ratio')} at {summary.get('pipeline_factor')}x"
        )

    if "--pytest" in sys.argv:
        proc = subprocess.run(
            [sys.executable, "-m", "pytest", "tests/", "-q"],
            capture_output=True,
            text=True,
            cwd=ROOT,
        )
        tail = [ln for ln in proc.stdout.strip().splitlines() if ln][-1]
        lines.append(f"- pytest (run now): {tail}")
    else:
        lines.append("- pytest: NOT RUN here — run with --pytest or cite the round log")

    head = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True, cwd=ROOT
    ).stdout.strip()
    dirty = subprocess.run(
        ["git", "status", "--porcelain"], capture_output=True, text=True, cwd=ROOT
    ).stdout.strip()
    lines.append(f"- git: HEAD {head}{' + uncommitted changes' if dirty else ' (clean)'}")

    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
