"""Write CERTIFIED.json: fingerprints of the code the driver certified.

Run ``python tools/certify.py`` after a driver round lands its
CORRECTNESS_r<N>.json, before any code change. It fingerprints every
query of the commit that added that file (``git archive`` into a temp
dir, where the current ``hetnetdb_spark/fingerprint.py`` imports that
tree's registry; older trees lack the module), sets each name that is
green in round N or has no entry yet, and drops names that are red or
no longer registered. A manifest already at round N is kept as is.
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys
import tempfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from hetnetdb_spark import registry  # noqa: E402


def tree_fingerprints(commit: str) -> dict[str, str]:
    """Fingerprints of every query registered in *commit*'s tree."""
    git = ["git", "archive", commit]
    script = [sys.executable, str(ROOT / "hetnetdb_spark" / "fingerprint.py")]
    with tempfile.TemporaryDirectory() as tmp:
        tar = subprocess.check_output(git, cwd=ROOT)
        subprocess.run(["tar", "-x", "-C", tmp], input=tar, check=True)
        out = subprocess.check_output(script, cwd=tmp, text=True)
    return json.loads(out.splitlines()[-1])


def main() -> int:
    rnd, newest = max(registry.correctness_files().items())
    doc = json.loads(registry.CERTIFIED.read_text()) if registry.CERTIFIED.exists() else {}
    if doc.get("round") == rnd:
        print(f"certify: {registry.CERTIFIED.name} already records round {rnd}")
        return 0
    log = ["git", "log", "--diff-filter=A", "--format=%H", "--", newest.name]
    commit = subprocess.check_output(log, cwd=ROOT, text=True).split()[0]
    rounds = registry.certification_rounds()
    registry.load_all()
    prints = dict(doc.get("fingerprints", {}))
    for name, fp in tree_fingerprints(commit).items():
        if name in rounds and (rounds[name] == rnd or name not in prints):
            prints[name] = fp
    prints = {n: fp for n, fp in sorted(prints.items()) if n in rounds and n in registry.QUERIES}
    doc = {"round": rnd, "commit": commit, "fingerprints": prints}
    registry.CERTIFIED.write_text(json.dumps(doc, indent=1) + "\n")
    print(f"certify: round {rnd} at {commit[:7]}, {len(prints)} fingerprints")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
