"""Query fingerprints (``hetnetdb_spark/fingerprint.py``) see code
edits and only code edits.

Each case writes a tiny package under ``tmp_path`` and fingerprints
its query function in a fresh interpreter, so module caches and
``sys.modules`` never leak between variants.
"""

from __future__ import annotations

import os
import subprocess
import sys

FINGERPRINT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "hetnetdb_spark",
    "fingerprint.py",
)

HELPERS = '''\
"""Helpers."""
FACTOR = 3
LABEL = "rows"


def scale(x):
    return _double(x)


def _double(x):
    return x * 2


def unused():
    return 0
'''

QUERIES = '''\
from fpkg import helpers
from fpkg.helpers import LABEL


def register(fn):
    return fn


@register
def q(spark, sf_dir):
    """Scaled label."""
    return (helpers.scale(helpers.FACTOR), LABEL)
'''

ORACLE = "SELECT 6 AS n, 'rows' AS label"

CHILD = """
import importlib.util, sys
spec = importlib.util.spec_from_file_location("_fp", sys.argv[1])
fp = importlib.util.module_from_spec(spec)
spec.loader.exec_module(fp)
sys.path.insert(0, sys.argv[2])
from fpkg.queries import q
print(fp.fingerprint(q, sys.argv[3]))
"""


def _fingerprint(tmp_path, name, helpers=HELPERS, queries=QUERIES, oracle=ORACLE):
    pkg = tmp_path / name / "fpkg"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "helpers.py").write_text(helpers)
    (pkg / "queries.py").write_text(queries)
    out = subprocess.run(
        [sys.executable, "-c", CHILD, FINGERPRINT, str(tmp_path / name), oracle],
        capture_output=True,
        text=True,
        check=True,
    )
    return out.stdout.strip()


def test_comments_docstrings_and_line_shifts_leave_it_unchanged(tmp_path):
    base = _fingerprint(tmp_path, "base")
    assert len(base) == 40
    assert _fingerprint(tmp_path, "base2") == base
    commented = QUERIES.replace("    return (", "    # scale first\n    return (")
    assert _fingerprint(tmp_path, "comment", queries=commented) == base
    redocumented = HELPERS.replace('"""Helpers."""', '"""Other words."""')
    redocumented = redocumented.replace(
        "def scale(x):\n", 'def scale(x):\n    """Doubles."""\n'
    )
    assert _fingerprint(tmp_path, "doc", helpers=redocumented) == base
    shifted = "\n\n\n" + QUERIES.replace('    """Scaled label."""\n', "")
    assert _fingerprint(tmp_path, "shift", queries=shifted) == base
    # Code the query never reaches, and the registering decorator,
    # stay out of the hash.
    unreached = HELPERS.replace("return 0", "return 1")
    assert _fingerprint(tmp_path, "unreached", helpers=unreached) == base
    redecorated = QUERIES.replace("    return fn\n", "    return fn  # noqa\n    pass\n")
    assert _fingerprint(tmp_path, "decorator", queries=redecorated) == base


def test_edit_to_a_helper_in_another_module_changes_it(tmp_path):
    """``q`` reaches ``_double`` through ``helpers.scale``."""
    base = _fingerprint(tmp_path, "base")
    edited = HELPERS.replace("return x * 2", "return x * 2 + 0")
    assert _fingerprint(tmp_path, "helper", helpers=edited) != base


def test_edit_to_a_module_constant_changes_it(tmp_path):
    base = _fingerprint(tmp_path, "base")
    numeric = HELPERS.replace("FACTOR = 3", "FACTOR = 4")
    string = HELPERS.replace('LABEL = "rows"', 'LABEL = "row"')
    assert _fingerprint(tmp_path, "numeric", helpers=numeric) != base
    assert _fingerprint(tmp_path, "string", helpers=string) != base


def test_oracle_edit_changes_it(tmp_path):
    base = _fingerprint(tmp_path, "base")
    assert _fingerprint(tmp_path, "oracle", oracle=ORACLE + " WHERE TRUE") != base
