"""tools/grown.py: every growth law at factor 3 over the sf0.001 fixture.

Fact tables hold 3x the base rows with unique offset ids, dimension
tables are unchanged, replica 0 is the base verbatim, and the salted
and mutated replicas differ from it. The cache rebuilds a table left
without its ``_SUCCESS`` marker and never shares a directory between
two bases.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import grown  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402
from hetnetdb_spark.schemas import TABLE_NAMES  # noqa: E402

FACTOR = 3

#: law -> the fact tables whose replicas i > 0 are mutated
MUTATED = {"documents": {"documents"}, "mutated": {"documents", "embeddings"}}


@pytest.fixture(scope="module")
def corpora(spark, tmp_path_factory):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(grown, "SCRATCH_ROOT", str(tmp_path_factory.mktemp("grown")))
        yield {law: grown.corpus(SF_DIR, FACTOR, law, spark) for law in grown.LAWS}


def _read(spark, sf_dir, table):
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _replica(df, id_col, i):
    """Replica i's rows with their ids shifted back onto the base ids."""
    lo = i * grown.ID_STEP
    return df.where((F.col(id_col) >= lo) & (F.col(id_col) < lo + grown.ID_STEP)).withColumn(
        id_col, F.col(id_col) - F.lit(lo)
    ).select(*df.columns)


@pytest.mark.parametrize("law", sorted(grown.LAWS))
def test_facts_grow_and_dimensions_stay(spark, corpora, law):
    out = corpora[law]
    facts = grown.LAWS[law]
    for table in TABLE_NAMES:
        base, big = _read(spark, SF_DIR, table), _read(spark, out, table)
        if table not in facts:
            assert _same_rows(base, big), table
            continue
        id_col, _ = facts[table]
        assert big.count() == FACTOR * base.count(), table
        distinct = big.select(id_col).distinct().count()
        assert distinct == FACTOR * base.select(id_col).distinct().count(), table
        assert _same_rows(_replica(big, id_col, 0), base), table
        for i in range(1, FACTOR):
            rep = _replica(big, id_col, i)
            if table not in MUTATED.get(law, ()):
                assert _same_rows(rep, base), (table, i)
            else:
                # every replica row differs from its base row
                assert rep.exceptAll(base).count() == base.count(), (table, i)


def test_unfinished_table_is_rebuilt(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(grown, "SCRATCH_ROOT", str(tmp_path))
    out = grown.corpus(SF_DIR, 2, "verbatim", spark)
    orders = os.path.join(out, "orders.parquet")
    os.remove(os.path.join(orders, "_SUCCESS"))
    for part in [f for f in os.listdir(orders) if f.startswith("part-")][1:]:
        os.remove(os.path.join(orders, part))
    for part in [f for f in os.listdir(orders) if f.startswith("part-")]:
        with open(os.path.join(orders, part), "wb") as fh:
            fh.write(b"PAR1")  # a torn write
    assert grown.corpus(SF_DIR, 2, "verbatim", spark) == out
    assert os.path.exists(os.path.join(orders, "_SUCCESS"))
    assert _read(spark, out, "orders").count() == 2 * _read(spark, SF_DIR, "orders").count()


def test_two_bases_never_share_a_cache_dir(tmp_path):
    twin = tmp_path / os.path.basename(SF_DIR)
    shutil.copytree(SF_DIR, twin)
    other = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    dirs = {grown.corpus_dir(b, FACTOR, "documents") for b in (SF_DIR, str(twin), other)}
    assert len(dirs) == 3
    assert grown.corpus(SF_DIR, 1, "verbatim") == SF_DIR


def test_stream_slope_corpora_are_keyed_by_the_base_path(tmp_path):
    """tools/stream_state_slope.py keys its corpus by the base's real
    path, so a base named like another (perfbench's inputs are all
    named ``data``) never reuses the other's corpus."""
    import stream_state_slope

    a, b = tmp_path / "a" / "sf0.1", tmp_path / "b" / "sf0.1"
    dirs = {stream_state_slope.corpus_dir(str(base), 10) for base in (a, b)}
    assert len(dirs) == 2
    assert stream_state_slope.corpus_dir(str(a), 10) != grown.corpus_dir(str(a), 10, "verbatim")

