"""Seeded generator for the engine's ten input tables.

Writes one parquet file per table (``<out>/<name>.parquet``) with the
column names and physical types of the project's fixture tables
(TPC-H-ish star schema, the ``events`` stream table, and the
``documents``/``embeddings`` LLM-data tables). Row counts scale with
``sf`` like the fixtures; the same ``(sf, seed)`` always gives the same
bytes, and nothing is read from outside the process.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_WORDS = (
    "a the fast slow key order sort table scan merge part window small big "
    "hash join batch stream spark group query row data filter customer line "
    "value agg column vector"
).split()
_LANGS = ["en", "es", "de", "zh", "fr"]

_DAY_US = 86_400 * 1_000_000


def _days_us(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _pick(values: list[str], n: int, rng: np.random.Generator, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    """Pseudo-word documents; ~5% are near-duplicates of an earlier
    document (one word changed, ``dup`` appended) and a handful are
    exact copies, so the dedup operators have real work."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks + ["dup"]))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 101)))))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(_LANGS, n, rng, lang_p),
        "source": _pick([f"src{i}" for i in range(20)], n, rng),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    """64-d unit vectors scattered around ten label centroids."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, 64))
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * 64, 64), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write all ten tables for scale ``sf`` under ``out_dir``; return
    ``{table: rows}``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    i32 = pa.int32()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array(_keyed_names("Customer", n_cust)),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
            "c_mktsegment": _pick(_SEGMENTS, n_cust, rng),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array(_keyed_names("Supplier", n_supp)),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(-999.99, 9999.99, n_supp, rng),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(_PTYPES, n_part, rng),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
            "o_totalprice": _money(1_000.0, 500_000.0, n_ord, rng),
            "o_orderdate": _ts(_days_us("1995-01-01", "2001-08-01", n_ord, rng)),
            "o_orderpriority": _pick(_PRIORITIES, n_ord, rng),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(900.0, 105_000.0, n_line, rng),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
            "l_linestatus": _pick(["F", "O"], n_line, rng),
            "l_shipdate": _ts(_days_us("1995-01-02", "2001-11-04", n_line, rng)),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(np.sort(
                np.datetime64("2024-01-01", "us").astype("int64")
                + rng.integers(0, 30 * _DAY_US, n_ev)
            )),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(_EVENT_TYPES, n_ev, rng),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(n_docs, rng),
        "embeddings": _embeddings(n_emb, rng),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
