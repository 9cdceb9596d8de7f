"""Every ``tools/<name>.py`` the engine or the verify notes cite exists.

Comments that cite a deleted script leave a reader with evidence they
cannot run; the findings of removed scripts are cited by their
recorded section instead (OPTIMIZATION_r1x.md, PLANS.md, git history).
"""

from __future__ import annotations

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CITED = re.compile(r"\btools/(\w+\.py)\b")


def _citing_files() -> list[str]:
    files = glob.glob(os.path.join(ROOT, "hetnetdb_spark", "**", "*.py"), recursive=True)
    files.append(os.path.join(ROOT, ".claude", "skills", "verify", "SKILL.md"))
    return [f for f in files if os.path.exists(f)]


def test_every_cited_tool_exists():
    missing = []
    for path in _citing_files():
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                for name in _CITED.findall(line):
                    if not os.path.exists(os.path.join(ROOT, "tools", name)):
                        missing.append(f"{os.path.relpath(path, ROOT)}:{lineno}: tools/{name}")
    assert not missing, "cited tools that do not exist:\n" + "\n".join(missing)
