"""End-to-end tests for tools/serve.py — the resident HTTP SQL
service (SURVEY §0.1: the reference's user-facing upload-CSV /
POST-SQL / JSON-answer shape re-expressed over the Spark catalog).

The server is started on an ephemeral port inside the test process;
``get_spark`` is getOrCreate, so it shares the suite's session (we
must NOT stop it on teardown — only shut the HTTP listener down).
Covers every route (health/tables/queries/upload/query/run), the
error paths, the ROW_CAP truncation contract, and the _RWLock
semantics that serialize impure registry runs against everything
else (ADVICE r9: conf save/restore interleaving).
"""

from __future__ import annotations

import importlib.util
import json
import os
import threading
import time
import urllib.error
import urllib.request

import pytest

_SERVE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "serve.py"
)
_spec = importlib.util.spec_from_file_location("hetnetdb_tools_serve", _SERVE_PATH)
serve_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(serve_mod)

from tests.conftest import SF_DIR  # noqa: E402


@pytest.fixture(scope="module")
def server(spark):
    """Live server on an ephemeral port, sharing the suite session."""
    httpd = serve_mod.serve(SF_DIR, 0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{port}"
    httpd.shutdown()  # never spark.stop() — the suite owns the session


def _call(method: str, url: str, data: bytes | None = None):
    req = urllib.request.Request(url, data=data, method=method)
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read())


def test_health(server):
    code, body = _call("GET", server + "/health")
    assert code == 200
    assert body["status"] == "ok"
    assert body["tables"] >= 10  # the ten catalog base tables


def test_tables_lists_catalog(server):
    code, body = _call("GET", server + "/tables")
    assert code == 200
    for name in ("region", "nation", "lineitem", "documents", "embeddings"):
        assert name in body["tables"]


def test_queries_matches_registry(server):
    code, body = _call("GET", server + "/queries")
    assert code == 200
    assert "q1_pricing_summary" in body["queries"]
    assert len(body["queries"]) == len(serve_mod._Handler.registry.QUERIES)


def test_upload_then_query_roundtrip(server):
    csv = "city,pop\nparis,2100000\nlyon,520000\n"
    code, body = _call("POST", server + "/tables/cities_t", csv.encode())
    assert code == 201
    assert body["rows"] == 2
    assert "city" in body["schema"] and "pop" in body["schema"]
    code, q = _call(
        "POST", server + "/query", b"SELECT city FROM cities_t WHERE pop > 1000000"
    )
    assert code == 200
    assert q["rows"] == [{"city": "paris"}]
    assert q["truncated"] is False


def test_query_catalog_join(server):
    code, body = _call(
        "POST",
        server + "/query",
        b"SELECT COUNT(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey",
    )
    assert code == 200
    assert body["rows"][0]["n"] == 25


def test_run_named_query(server):
    code, body = _call("POST", server + "/run/q1_pricing_summary")
    assert code == 200
    assert body["n"] > 0
    assert "sum_qty" in body["rows"][0]


def test_error_paths(server):
    assert _call("POST", server + "/run/no_such_query")[0] == 404
    assert _call("POST", server + "/tables/bad-name!")[0] == 400
    assert _call("POST", server + "/query", b"   ")[0] == 400
    assert _call("GET", server + "/nope")[0] == 404
    # malformed SQL is a 400 with the analyzer message, not a 500 crash
    code, body = _call("POST", server + "/query", b"SELEC broken")
    assert code == 400 and "error" in body


def test_row_cap_bounds_the_fetch(server, monkeypatch):
    """The cap must change what is FETCHED (limit in the plan), and the
    payload must flag truncation. With ROW_CAP=5 a full-table SELECT
    returns exactly 5 rows + truncated=true."""
    monkeypatch.setattr(serve_mod, "ROW_CAP", 5)
    code, body = _call("POST", server + "/query", b"SELECT l_orderkey FROM lineitem")
    assert code == 200
    assert body["n"] == 5 and len(body["rows"]) == 5
    assert body["truncated"] is True
    # and an under-cap result is not flagged
    code, body = _call(
        "POST", server + "/query", b"SELECT r_name FROM region ORDER BY r_name"
    )
    assert body["n"] == 5 and body["truncated"] is False


def test_rwlock_semantics():
    """Writer excludes readers and vice versa; writer preference keeps
    an impure run from starving behind a stream of pure readers."""
    lock = serve_mod._RWLock()
    events: list[str] = []

    lock.acquire_shared()  # a reader is in

    def writer():
        lock.acquire_exclusive()
        events.append("writer_in")
        time.sleep(0.05)
        events.append("writer_out")
        lock.release_exclusive()

    wt = threading.Thread(target=writer)
    wt.start()
    time.sleep(0.05)
    assert events == []  # writer blocked behind the active reader

    def late_reader():
        lock.acquire_shared()
        events.append("late_reader_in")
        lock.release_shared()

    rt = threading.Thread(target=late_reader)
    rt.start()
    time.sleep(0.05)
    # writer-preference: the late reader queues behind the waiting writer
    assert events == []
    lock.release_shared()
    wt.join(timeout=5)
    rt.join(timeout=5)
    assert events == ["writer_in", "writer_out", "late_reader_in"]


def test_two_readers_interleave():
    lock = serve_mod._RWLock()
    lock.acquire_shared()
    done = threading.Event()

    def second():
        lock.acquire_shared()  # must not block
        done.set()
        lock.release_shared()

    threading.Thread(target=second).start()
    assert done.wait(timeout=2), "second reader blocked behind first"
    lock.release_shared()


def test_bounded_writer_preference_admits_queued_readers():
    """ADVICE r10: strict writer preference starved readers behind a
    sustained impure stream. Bounded preference: a reader queued
    while writer W1 holds the lock gets in when W1 releases, even
    though writer W2 is already waiting — the reader must NOT wait
    for the whole writer stream to drain."""
    lock = serve_mod._RWLock()
    order: list[str] = []

    lock.acquire_exclusive()  # W1 holds

    def reader():
        lock.acquire_shared()
        order.append("reader_in")
        time.sleep(0.05)
        lock.release_shared()

    def writer2():
        lock.acquire_exclusive()
        order.append("writer2_in")
        lock.release_exclusive()

    def _wait_for(cond_fn, what):
        deadline = time.monotonic() + 10
        while not cond_fn():
            assert time.monotonic() < deadline, f"timed out waiting for {what}"
            time.sleep(0.005)

    rt = threading.Thread(target=reader)
    rt.start()
    # poll the lock's own wait counters instead of sleeping a fixed
    # interval — under a loaded box the reader/writer threads can
    # take >50 ms just to reach their acquire calls, which turned
    # this into a flake (the admission pass is granted to readers
    # QUEUED at release time, so the queue must provably exist)
    _wait_for(lambda: lock._readers_waiting == 1, "reader to queue behind W1")
    wt = threading.Thread(target=writer2)
    wt.start()
    _wait_for(lambda: lock._writers_waiting == 1, "W2 to queue")
    lock.release_exclusive()  # W1 done — queued reader gets its pass
    rt.join(timeout=5)
    wt.join(timeout=5)
    assert order[0] == "reader_in", (
        f"queued reader starved behind writer stream: {order}"
    )
    assert "writer2_in" in order


def test_concurrent_impure_and_pure_http(server, spark):
    """r10 verdict stretch item: two clients, one POSTing an impure
    conf-flipping registry query (t10 swaps the streaming state-store
    provider to RocksDB and must restore it) while the other runs a
    pure query — through the real HTTP path. The _RWLock serializes
    them; afterwards the session confs the impure run touches must be
    back to their pre-request values."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    before_provider = spark.conf.get(provider_key, None)
    before_tz = spark.conf.get("spark.sql.session.timeZone")

    results: dict[str, tuple] = {}

    def impure_client():
        results["impure"] = _call(
            "POST", server + "/run/t10_transform_with_state"
        )

    def pure_client():
        results["pure"] = _call("POST", server + "/run/q1_pricing_summary")

    threads = [
        threading.Thread(target=impure_client),
        threading.Thread(target=pure_client),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert results["impure"][0] == 200, results["impure"]
    assert results["pure"][0] == 200, results["pure"]
    assert results["pure"][1]["n"] > 0
    # conf save/restore integrity across the concurrent pair
    assert spark.conf.get(provider_key, None) == before_provider
    assert spark.conf.get("spark.sql.session.timeZone") == before_tz == "UTC"


# -- catalog registration: each request registers what it names ------------


def test_named_tables_match_whole_words():
    from hetnetdb_spark.catalog import named_tables

    assert named_tables("SELECT * FROM Orders JOIN NATION") == ("nation", "orders")
    assert named_tables("SELECT l_orderkey FROM orders_x") == ()
    assert named_tables("SELECT COUNT(*) FROM `region`") == ("region",)
    assert named_tables("SHOW TABLES") == ()


@pytest.fixture
def start_server(spark, monkeypatch):
    """Start a fresh host, no table bound, whose ``register_views`` is
    *stand_in*. The handler's class state is put back afterwards, so
    the module's shared server keeps answering; forgetting the
    bindings only makes the next registration re-check each table."""
    from hetnetdb_spark import catalog

    for attr in ("spark", "registry", "sf_dir", "lock"):
        monkeypatch.setattr(serve_mod._Handler, attr, getattr(serve_mod._Handler, attr))
    catalog._BOUND_SF.clear()
    servers = []

    def start(stand_in):
        monkeypatch.setattr(catalog, "register_views", stand_in)
        httpd = serve_mod.serve(SF_DIR, 0)
        threading.Thread(target=httpd.serve_forever, daemon=True).start()
        servers.append(httpd)
        return f"http://127.0.0.1:{httpd.server_address[1]}"

    yield start
    for httpd in servers:
        httpd.shutdown()


@pytest.fixture
def recorded(start_server):
    """A fresh host whose registrations are recorded, then run: yields
    (base url, calls), one tuple of table names per call (() = every
    table)."""
    from hetnetdb_spark.catalog import register_views

    calls: list[tuple[str, ...]] = []

    def recording(spark, sf_dir, *names):
        calls.append(names)
        register_views(spark, sf_dir, *names)

    return start_server(recording), calls


_JOIN = b"SELECT COUNT(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey"


def test_runs_register_nothing(recorded):
    """Named runs, impure ones too, answer on a fresh host without
    registering a table."""
    base, calls = recorded
    code, body = _call("POST", base + "/run/q1_pricing_summary")
    assert code == 200 and body["n"] > 0
    code, body = _call("POST", base + "/run/s06_partitioned_sink")
    assert code == 200 and body["n"] > 0
    assert calls == []


def test_query_registers_the_tables_it_names_once(recorded):
    base, calls = recorded
    assert _call("POST", base + "/query", _JOIN) == (
        200, {"rows": [{"n": 25}], "n": 1, "truncated": False}
    )
    assert [set(c) for c in calls] == [{"nation", "region"}]
    assert _call("POST", base + "/query", _JOIN)[0] == 200
    assert len(calls) == 1, calls


def test_query_naming_no_base_table_registers_every_table(recorded):
    base, calls = recorded
    csv = b"city,pop\nparis,2100000\nlyon,520000\n"
    assert _call("POST", base + "/tables/cities_r", csv)[0] == 201
    assert calls == []
    code, body = _call("POST", base + "/query", b"SELECT city FROM cities_r WHERE pop > 1000000")
    assert code == 200 and body["rows"] == [{"city": "paris"}]
    assert calls == [()]


def test_health_and_tables_register_every_table(recorded):
    base, calls = recorded
    code, body = _call("GET", base + "/health")
    assert code == 200 and body["status"] == "ok" and body["tables"] >= 10
    code, body = _call("GET", base + "/tables")
    assert code == 200 and {"region", "nation", "lineitem", "documents"} <= set(body["tables"])
    assert calls == [(), ()]


def test_failed_registration_is_the_routes_error_answer(start_server):
    """A registration that raises is the route's usual error answer
    (500 on GET, 400 on POST) naming the error, never a hang or "table
    not found"; named runs still answer."""

    def failing(spark, sf_dir, *names):
        raise RuntimeError("metastore unreachable")

    base = start_server(failing)
    for method, path, data, want in [
        ("GET", "/health", None, 500),
        ("GET", "/tables", None, 500),
        ("POST", "/query", _JOIN, 400),
        ("POST", "/tables/region", b"r_regionkey,r_name\n0,ATLANTIS\n", 400),
    ]:
        code, body = _call(method, base + path, data)
        assert code == want, (path, code, body)
        assert "metastore unreachable" in body["error"], (path, body)
    code, body = _call("POST", base + "/run/q1_pricing_summary")
    assert code == 200 and body["n"] > 0


def test_upload_named_like_a_base_table_shadows_it(recorded, spark):
    """An upload named ``region`` registers the table first, so the
    next statement over ``region`` reads the upload instead of
    dropping it to register the table."""
    base, calls = recorded
    try:
        code, body = _call("POST", base + "/tables/region", b"r_regionkey,r_name\n0,ATLANTIS\n")
        assert code == 201 and body["rows"] == 1
        code, body = _call("POST", base + "/query", b"SELECT r_name FROM region")
        assert code == 200 and body["rows"] == [{"r_name": "ATLANTIS"}]
        assert calls == [("region",)]
    finally:
        spark.catalog.dropTempView("region")


def test_concurrent_register_views_registers_once(spark, monkeypatch):
    """Two threads registering the same unbound table at once (two
    statements naming it, or a statement and a query that registers
    its own tables) both return, and the table is created and analyzed
    once."""
    from hetnetdb_spark import catalog

    key = (spark.sparkContext.applicationId, "supplier")
    catalog._BOUND_SF.pop(key, None)
    spark.sql("DROP TABLE IF EXISTS supplier")
    statements: list[str] = []
    sql = spark.sql

    def counting_sql(text, *args, **kwargs):
        statements.append(text)
        return sql(text, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", counting_sql)
    start = threading.Barrier(2)
    errors: list[BaseException] = []

    def register():
        start.wait()
        try:
            catalog.register_views(spark, SF_DIR, "supplier")
        except BaseException as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    threads = [threading.Thread(target=register) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    monkeypatch.undo()
    assert errors == []
    assert sum(s.startswith("CREATE TABLE supplier") for s in statements) == 1, statements
    assert sum(s.startswith("ANALYZE TABLE supplier") for s in statements) == 1, statements
    assert catalog._BOUND_SF[key] == SF_DIR
    stats = [
        r.data_type
        for r in spark.sql("DESCRIBE EXTENDED supplier").collect()
        if r.col_name.strip() == "Statistics"
    ]
    assert stats and "rows" in stats[0]
