"""Plan lint: refresh PLAN_LEDGER.json and fail on any unadjudicated
100 TB-posture lint hit.

    python tools/plan_lint.py

Takes no arguments. It re-executes, at the ledger's ``sf_dir``, every
pure query whose fingerprint differs from its ledger row, plus every
new pure query and every query whose adjudicated rules differ from
those its row recorded when it was walked (all of them when the
pyspark version or the rules' fingerprint differs from the ledger's
header), and rewrites the ledger. Counts and lint hits both come
from each query's initial (pre-AQE) plan, which is planned but not
run; the six rules, the plan walker and ``refresh`` live in
``hetnetdb_spark/plans/audit.py``. A second run changes nothing.

Exit 1 on any lint hit without an adjudication at the code's current
fingerprint: a new hit, or an adjudication whose code changed since
it was judged (the message quotes the dropped reason). To adjudicate,
add ``{"<rule>": {"reason": "...", "fingerprint": ""}}`` under the
query name (or the ``relpath:function`` collect site) in the ledger's
``adjudications`` and run the tool again: it stamps the fingerprint.
Commit the ledger diff.

A re-walked query's adjudication that guarded no hit in that walk is
printed as ``STALE <query> — <rule>`` and kept; it does not fail the
run. Delete such an adjudication by hand: it guards nothing.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hetnetdb_spark.plans import audit  # noqa: E402
from hetnetdb_spark.session import get_spark  # noqa: E402


def main() -> int:
    if len(sys.argv) > 1:
        raise SystemExit("usage: python tools/plan_lint.py (no arguments)")
    ledger = audit.load_ledger()
    spark = get_spark("plan-lint")
    spark.sparkContext.setLogLevel("ERROR")
    fresh, changes, flags, stale = audit.refresh(spark, ledger)
    audit.write_ledger(fresh)
    for line in changes + stale + flags:
        print(line)
    n_judged = sum(len(rules) for rules in fresh["adjudications"].values())
    print(
        f"\n{len(fresh['queries'])} pure queries at {fresh['sf_dir']}: "
        f"{len(changes)} with changed counts, {n_judged} adjudications "
        f"({len(stale)} stale), "
        f"{len(flags)} FLAGGED; {audit.LEDGER.name} rewritten"
    )
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
