"""Resident HTTP SQL service — the reference engine's user-facing
interface re-expressed on Spark (SURVEY §0.1: an HTTP service where
tables are uploaded as CSV and queries POSTed as SQL, answered as
JSON). A user of the reference switches by pointing the same client
at this endpoint; everything behind it is the hetnetdb_spark catalog
and Catalyst.

Endpoints (stdlib-only, binds 127.0.0.1):

    GET  /health            -> {"status": "ok", "tables": N}
    GET  /tables            -> registered table/view names
    GET  /queries           -> named operator queries in the registry
    POST /tables/<name>     -> body = CSV text (header row) registers
                               a temp view <name>; returns row count
                               and inferred schema
    POST /query             -> body = SQL text (or {"sql": "..."})
                               returns {"rows": [...], "n": N,
                               "truncated": bool}
    POST /run/<name>        -> execute a registry query by name

The Spark scheduler interleaves concurrent requests' job stages
(PLANS.md round-7: 3.2× wall-clock over serial at 8 clients), so one
resident session IS the multi-tenant deployment shape — per-request
sessions would pay the ~30 ms JVM action floor serially and forfeit
cache reuse. Result payloads are capped at ROW_CAP rows via a
LIMIT pushed into the plan (the cap changes what is FETCHED, not
just what is printed): an interactive endpoint must never become an
accidental full-table driver collect.

Each route registers the base tables it reads, when it reads them
(``catalog.register_views``: CREATE + ANALYZE once per table, free
after that), so the host answers as soon as Spark is up:

- ``POST /query`` registers the tables its statement names, or every
  table when it names none (``api.sql``);
- ``GET /health`` and ``GET /tables`` register every table before
  listing them;
- ``POST /tables/<name>`` registers the base table ``<name>`` first
  when the upload bears a base table's name, so no later statement
  drops the upload's view to register that table: the upload shadows
  it. ``events`` is a temp view re-created by any registration of it,
  so an upload named ``events`` lasts only until a statement names
  ``events`` or a route registers every table;
- ``POST /run/<name>`` and ``GET /queries`` register nothing: registry
  queries read parquet files, and the few that need catalog tables
  register them themselves.

No request waits for tables it does not read: an impure run starts
at once, and a statement over ``orders`` analyzes ``orders`` only.
A failed registration is that request's error answer (500 on GET,
400 on POST).

Usage:
    python tools/serve.py [--port 8765] [--sf-dir /root/testdata/sf0.001]
    python tools/serve.py --self-test   # ephemeral port, scripted tour
"""

from __future__ import annotations

import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hetnetdb_spark import api, catalog  # noqa: E402
from hetnetdb_spark.schemas import TABLE_NAMES  # noqa: E402

ROW_CAP = 10_000


class _RWLock:
    """Shared/exclusive lock for the resident session.

    Pure queries only ever READ global session state, so they hold the
    shared side and the Spark scheduler interleaves their job stages
    exactly as before (PLANS.md round-7: 3.2× over serial at 8
    clients). Impure registry queries save/flip/restore global session
    confs (RocksDB provider, filter-pushdown flags) and streaming
    memory-sink names — two of those interleaving, or one running
    beside a pure query that silently reads the flipped conf, corrupts
    results. Those take the exclusive side, as do CSV uploads (temp-
    view replace is a global-catalog write). Writer-preference keeps an
    impure run from starving behind a stream of pure readers — and is
    BOUNDED (r11, per ADVICE r10): each writer release grants every
    reader already queued one admission pass, so a sustained stream of
    impure requests can no longer starve readers indefinitely; the
    schedule degrades to writer/reader-batch alternation under
    contention.

    NON-REENTRANT, either side: a holder re-acquiring (e.g. a handler
    path that nests one locked route inside another) deadlocks
    against itself. Every call site in _Handler acquires exactly once
    per request and releases in a finally — keep it that way, and
    never call another locked route from inside a held section
    (tests/test_serve.py pins both the semantics and the two-client
    HTTP path).
    """

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writers_waiting = 0
        self._readers_waiting = 0
        #: admission passes granted to queued readers at each writer
        #: release — the bounded-preference mechanism
        self._reader_passes = 0
        #: grant generation — bumped at each writer release. A pass
        #: may be consumed only by a reader that began waiting BEFORE
        #: the release that granted it (its arrival stamp is an older
        #: generation). Without this, a reader arriving after the
        #: release (writer False, passes > 0) would pass the wait
        #: predicate immediately and consume a pass intended for an
        #: already-queued reader, bumping that reader behind the next
        #: writer — the anti-starvation bound must be per-thread, not
        #: per-count (ADVICE r11).
        self._grant_gen = 0

    def acquire_shared(self) -> None:
        with self._cond:
            my_gen = self._grant_gen
            self._readers_waiting += 1
            try:
                while True:
                    eligible = (
                        self._reader_passes > 0 and my_gen < self._grant_gen
                    )
                    if not (
                        self._writer
                        or (self._writers_waiting and not eligible)
                    ):
                        break
                    self._cond.wait()
                # Consume exactly the pass granted to THIS waiting
                # reader (arrival stamp predates the grant). A reader
                # admitted because no writer was queued never touches
                # the pass pool.
                if self._reader_passes > 0 and my_gen < self._grant_gen:
                    self._reader_passes -= 1
            finally:
                self._readers_waiting -= 1
            self._readers += 1

    def release_shared(self) -> None:
        with self._cond:
            self._readers -= 1
            if self._readers == 0:
                self._cond.notify_all()

    def acquire_exclusive(self) -> None:
        with self._cond:
            self._writers_waiting += 1
            try:
                # `_reader_passes` in the predicate is what makes the
                # bounded preference real rather than advisory: after
                # a writer release, notify_all wakes queued readers
                # AND queued writers, and whichever thread wins the
                # mutex runs first — without this clause the next
                # writer could slip in before the admitted readers
                # consume their passes (caught by a 200-trial stress
                # in tests/test_serve.py).
                while self._writer or self._readers or self._reader_passes:
                    self._cond.wait()
            finally:
                self._writers_waiting -= 1
            self._writer = True

    def release_exclusive(self) -> None:
        with self._cond:
            self._writer = False
            # bounded preference: everyone queued on the shared side
            # RIGHT NOW gets in before the next writer; readers that
            # arrive later queue behind waiting writers as before.
            # The generation bump is what enforces "right now": only
            # readers whose arrival stamp predates this release may
            # consume a pass, so each grant drains exactly once per
            # snapshot reader and a late arrival cannot displace one.
            self._grant_gen += 1
            self._reader_passes = self._readers_waiting
            self._cond.notify_all()


def _build_app(sf_dir: str):
    """Create the resident session; return (spark, registry, lock)
    where lock is the session _RWLock."""
    from hetnetdb_spark import registry
    from hetnetdb_spark.session import get_spark

    spark = get_spark("hetnetdb-serve")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    return spark, registry, _RWLock()


class _Handler(BaseHTTPRequestHandler):
    spark = None
    registry = None
    sf_dir = None
    lock: _RWLock = None

    # -- plumbing ---------------------------------------------------------

    def _send(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> bytes:
        n = int(self.headers.get("Content-Length", "0"))
        return self.rfile.read(n)

    def log_message(self, fmt, *args):  # quiet by default
        pass

    def _df_payload(self, df) -> dict:
        # limit(cap+1) bounds the FETCH (TakeOrderedAndProject /
        # CollectLimit in the plan); the +1 row only detects
        # truncation and is dropped from the payload.
        rows = [json.loads(r) for r in df.limit(ROW_CAP + 1).toJSON().collect()]
        truncated = len(rows) > ROW_CAP
        rows = rows[:ROW_CAP]
        return {"rows": rows, "n": len(rows), "truncated": truncated}

    def _tables(self) -> list[str]:
        """Register every base table, then list the catalog."""
        self.lock.acquire_shared()
        try:
            catalog.register_views(self.spark, self.sf_dir)
            return [t.name for t in self.spark.catalog.listTables()]
        finally:
            self.lock.release_shared()

    # -- routes -----------------------------------------------------------

    def do_GET(self):
        try:
            if self.path == "/health":
                self._send(200, {"status": "ok", "tables": len(self._tables())})
            elif self.path == "/tables":
                self._send(200, {"tables": sorted(self._tables())})
            elif self.path == "/queries":
                self._send(200, {"queries": sorted(self.registry.QUERIES)})
            else:
                self._send(404, {"error": f"no route {self.path}"})
        except Exception as exc:  # noqa: BLE001 — report, keep serving
            self._send(500, {"error": str(exc)[:500]})

    def do_POST(self):
        try:
            if self.path == "/query":
                raw = self._body().decode("utf-8")
                try:
                    sql = json.loads(raw).get("sql", "")
                except (json.JSONDecodeError, AttributeError):
                    sql = raw
                if not sql.strip():
                    self._send(400, {"error": "empty SQL"})
                    return
                # Ad-hoc SQL reads global state (views + confs) but
                # never flips it — shared side, full interleaving.
                self.lock.acquire_shared()
                try:
                    payload = self._df_payload(api.sql(self.spark, self.sf_dir, sql))
                finally:
                    self.lock.release_shared()
                self._send(200, payload)
            elif self.path.startswith("/run/"):
                name = self.path[len("/run/"):]
                fn = self.registry.QUERIES.get(name)
                if fn is None:
                    self._send(404, {"error": f"unknown query {name!r}"})
                    return
                impure = name in self.registry.IMPURE
                if impure:
                    self.lock.acquire_exclusive()
                else:
                    self.lock.acquire_shared()
                try:
                    payload = self._df_payload(fn(self.spark, self.sf_dir))
                finally:
                    if impure:
                        self.lock.release_exclusive()
                    else:
                        self.lock.release_shared()
                self._send(200, payload)
            elif self.path.startswith("/tables/"):
                name = self.path[len("/tables/"):]
                if not name.isidentifier():
                    self._send(400, {"error": f"bad table name {name!r}"})
                    return
                from hetnetdb_spark.scratch import SCRATCH

                os.makedirs(SCRATCH, exist_ok=True)
                csv_path = os.path.join(SCRATCH, f"upload_{name}.csv")
                body = self._body()
                # Temp-view replace is a global-catalog write: exclusive.
                self.lock.acquire_exclusive()
                try:
                    if name in TABLE_NAMES:
                        catalog.register_views(self.spark, self.sf_dir, name)
                    with open(csv_path, "wb") as fh:
                        fh.write(body)
                    df = api.ingest_csv(self.spark, csv_path, name)
                    payload = {
                        "table": name,
                        "rows": df.count(),
                        "schema": df.schema.simpleString(),
                    }
                finally:
                    self.lock.release_exclusive()
                self._send(201, payload)
            else:
                self._send(404, {"error": f"no route {self.path}"})
        except Exception as exc:  # noqa: BLE001
            self._send(400, {"error": str(exc)[:500]})


def serve(sf_dir: str, port: int) -> ThreadingHTTPServer:
    spark, registry, lock = _build_app(sf_dir)
    _Handler.spark = spark
    _Handler.registry = registry
    _Handler.sf_dir = sf_dir
    _Handler.lock = lock
    httpd = ThreadingHTTPServer(("127.0.0.1", port), _Handler)
    return httpd


def _self_test() -> int:
    """Scripted tour on an ephemeral port: upload a CSV, query it,
    join it against the catalog, run a named query — all over HTTP."""
    import urllib.request

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    httpd = serve(sf_dir, 0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"

    def call(method, path, data=None):
        req = urllib.request.Request(
            base + path, data=data, method=method
        )
        with urllib.request.urlopen(req) as resp:
            return json.loads(resp.read())

    try:
        print("health:", call("GET", "/health"))
        csv = "city,pop\nparis,2100000\nlyon,520000\n"
        print("upload:", call("POST", "/tables/cities", csv.encode()))
        q = call("POST", "/query", b"SELECT city FROM cities WHERE pop > 1000000")
        print("query:", q)
        assert q["rows"] == [{"city": "paris"}], q
        j = call(
            "POST",
            "/query",
            b"SELECT COUNT(*) AS n FROM nation JOIN region "
            b"ON n_regionkey = r_regionkey",
        )
        print("catalog join:", j)
        assert j["rows"][0]["n"] == 25, j
        r = call("POST", "/run/q1_pricing_summary")
        print("named query rows:", r["n"])
        assert r["n"] > 0
        print("self-test OK")
        return 0
    finally:
        httpd.shutdown()
        _Handler.spark.stop()


def main() -> int:
    if "--self-test" in sys.argv:
        return _self_test()
    port = 8765
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    args = sys.argv[1:]
    for i, a in enumerate(args):
        if a == "--port" and i + 1 < len(args):
            port = int(args[i + 1])
        if a == "--sf-dir" and i + 1 < len(args):
            sf_dir = args[i + 1]
    httpd = serve(sf_dir, port)
    print(f"hetnetdb-serve on http://127.0.0.1:{port} (catalog: {sf_dir})")
    httpd.serve_forever()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
