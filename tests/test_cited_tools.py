"""Every ``tools/<name>.py`` the engine, the tools, bench.py, the README
or the verify notes cite exists, and so does every ``tools.<name>``
module they import.

Comments that cite a deleted script leave a reader with evidence they
cannot run; the findings of removed scripts are cited by their
recorded section instead (OPTIMIZATION_r1x.md, PLANS.md, git history).
"""

from __future__ import annotations

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CITED = re.compile(r"\btools/(\w+)\.py\b")
_IMPORTED = re.compile(r"\b(?:from|import)\s+tools\.(\w+)|\bfrom\s+tools\s+import\s+(\w+)")


def _citing_files() -> list[str]:
    files = glob.glob(os.path.join(ROOT, "hetnetdb_spark", "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(ROOT, "tools", "*.py"))
    files += [os.path.join(ROOT, name) for name in ("bench.py", "README.md")]
    files.append(os.path.join(ROOT, ".claude", "skills", "verify", "SKILL.md"))
    return [f for f in files if os.path.exists(f)]


def test_every_cited_tool_exists():
    missing = []
    for path in _citing_files():
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                names = _CITED.findall(line)
                names += [a or b for a, b in _IMPORTED.findall(line)]
                for name in names:
                    if not os.path.exists(os.path.join(ROOT, "tools", f"{name}.py")):
                        missing.append(f"{os.path.relpath(path, ROOT)}:{lineno}: tools/{name}.py")
    assert not missing, "cited tools that do not exist:\n" + "\n".join(missing)
