"""Closed-loop HTTP load for the serve-mixed workload.

Two client threads (half the cores; the server's Spark runs on all of
them) take requests from one shared list and each sends its next
request only when the previous answer is in. The list holds exactly 56
requests:

- 38 ``POST /run/<name>`` over the pure headline queries, each query
  four or five times;
- 11 ``POST /query`` ad-hoc SQL over the ANALYZEd catalog: point
  lookup by ``o_orderkey``, key-range aggregate on ``orders``, and a
  dimension join, with keys drawn from the seed;
- 4 ``POST /tables/<name>`` CSV uploads;
- 3 ``POST /run/<name>`` impure write queries, one of each.

Each kind is spaced evenly through the list. A timed window sends the
whole list (or several copies of it), so every run times the same
requests; a window of fixed length would not, and its throughput would
follow how many exclusive-lock requests (uploads, impure writes) it
happened to hold. The seed picks the SQL keys, the CSV bodies and the
order of pure queries.

Every answer is checked: a 2xx status and the ``n`` (or uploaded row
count) that DuckDB gives for the same request over the same files.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.error
import urllib.request

import numpy as np

from batch import HEADLINE as PURE

IMPURE = ["s46_merge_into", "s06_partitioned_sink", "t01_stream_tumbling_1h"]
CLIENTS = 2
UPLOAD_NAMES = ["upload_a", "upload_b", "upload_c", "upload_d"]


def _sql_pool(rng: np.random.Generator, con, n_orders: int) -> list[tuple[str, int]]:
    """Seeded ad-hoc statements with their DuckDB row counts."""
    pool = []
    for i in range(30):
        kind = i % 3
        if kind == 0:
            k = int(rng.integers(0, n_orders))
            sql = ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                   f"WHERE o_orderkey = {k}")
        elif kind == 1:
            lo = int(rng.integers(0, n_orders))
            sql = ("SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total "
                   f"FROM orders WHERE o_orderkey BETWEEN {lo} AND {lo + 50} "
                   "GROUP BY o_orderstatus")
        else:
            bal = round(float(rng.uniform(-500, 9000)), 2)
            sql = ("SELECT n_name, COUNT(*) AS n FROM customer JOIN nation "
                   f"ON c_nationkey = n_nationkey WHERE c_acctbal > {bal} GROUP BY n_name")
        pool.append((sql, len(con.execute(sql).fetchall())))
    return pool


def _csv(rng: np.random.Generator) -> tuple[bytes, int]:
    rows = int(rng.integers(20, 200))
    body = "id,label,score\n" + "".join(
        f"{i},{'abcdefgh'[int(rng.integers(0, 8))]},{rng.uniform(0, 1):.4f}\n"
        for i in range(rows)
    )
    return body.encode(), rows


def plan(seed: int, con, oracle: dict[str, str], n_orders: int) -> dict:
    """Everything the clients send and expect, fixed before the server
    starts: run-query row counts from the DuckDB oracles, the SQL pool,
    the CSV bodies and the request list."""
    rng = np.random.default_rng(seed)
    runs = {n: len(con.execute(oracle[n]).fetchdf()) for n in PURE + IMPURE}
    sql = _sql_pool(rng, con, n_orders)
    csvs = [_csv(rng) for _ in range(6)]
    counts = {"run_pure": 38, "sql": 11, "upload": 4, "run_impure": 3}
    kinds = [k for _, k in sorted(((i + 0.5) / n, k) for k, n in counts.items()
                                  for i in range(n))]
    args = {
        "run_pure": [str(n) for n in rng.permutation(PURE)],
        "sql": [int(i) for i in rng.permutation(len(sql))],
        "upload": list(range(len(csvs))),
        "run_impure": IMPURE,
    }
    seen = dict.fromkeys(counts, 0)
    requests = []
    for k in kinds:
        requests.append((k, args[k][seen[k] % len(args[k])]))
        seen[k] += 1
    return {"runs": runs, "sql": sql, "csvs": csvs, "requests": requests}


def cold_requests() -> list[tuple[str, object]]:
    """One request of every kind: each run query, each SQL template,
    one upload."""
    return (
        [("run_pure", n) for n in PURE]
        + [("run_impure", n) for n in IMPURE]
        + [("sql", i) for i in range(3)]
        + [("upload", 0)]
    )


def send(base: str, p: dict, kind: str, arg, client: int) -> dict:
    """Send one request; return a record with latency and verdict."""
    if kind in ("run_pure", "run_impure"):
        path, body, want = f"/run/{arg}", b"", p["runs"][arg]
        label = arg
    elif kind == "sql":
        sql, want = p["sql"][arg]
        path, body, label = "/query", json.dumps({"sql": sql}).encode(), f"sql{arg % 3}"
    else:
        body, want = p["csvs"][arg]
        path, label = f"/tables/{UPLOAD_NAMES[client % len(UPLOAD_NAMES)]}", "upload"
    req = urllib.request.Request(base + path, data=body, method="POST")
    t0 = time.perf_counter()
    err = None
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            payload = json.loads(resp.read())
        got = payload["rows"] if kind == "upload" else payload["n"]
        if got != want:
            err = f"{label}: n={got}, expected {want}"
    except (urllib.error.URLError, OSError, ValueError, KeyError) as exc:
        err = f"{label}: {type(exc).__name__}: {exc}"[:300]
    return {"kind": kind, "name": label, "start": t0,
            "latency": time.perf_counter() - t0, "error": err}


class Load:
    """``CLIENTS`` closed-loop clients sharing one queue of requests."""

    def __init__(self, base: str, p: dict) -> None:
        self.base, self.p = base, p

    def cold(self) -> list[dict]:
        """One request of every kind (see ``cold_requests``)."""
        return self._drain(iter(cold_requests()))

    def warm(self, seconds: float) -> tuple[list[dict], float]:
        """Send the request list over and over until ``seconds`` have
        passed (no request starts after that); return the records and
        the wall until the last answer."""
        t0 = time.perf_counter()
        recs = self._drain(itertools.cycle(self.p["requests"]), t0 + seconds)
        return recs, time.perf_counter() - t0

    def window(self, copies: int) -> tuple[list[dict], float]:
        """Send ``copies`` of the request list; return the records and
        the wall from the first request until the last answer."""
        t0 = time.perf_counter()
        recs = self._drain(iter(self.p["requests"] * copies))
        return recs, time.perf_counter() - t0

    def _drain(self, todo, deadline: float = float("inf")) -> list[dict]:
        out: list[dict] = []
        lock = threading.Lock()

        def worker(c: int) -> None:
            while time.perf_counter() < deadline:
                with lock:
                    item = next(todo, None)
                if item is None:
                    return
                rec = send(self.base, self.p, *item, c)
                with lock:
                    out.append(rec)

        threads = [threading.Thread(target=worker, args=(c,)) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=170)
            if t.is_alive():
                raise TimeoutError("load client did not finish")
        return out
