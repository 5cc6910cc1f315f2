"""Replica transport and request accounting (Spark-free): back-to-back
keep-alive requests must not stall on Nagle's algorithm, and /health
must count every request per endpoint."""

import http.client
import json
import statistics
import sys
import threading
import time

import pandas as pd

from prefixtree_spark.operators.build import _emit, _insert, _new_node
from prefixtree_spark.operators.query import LocalIndex
from prefixtree_spark.plans.tree import PT_COLUMNS
from prefixtree_spark.serving import PrefixTreeServer

WORDS = ["SMITH", "SMYTH", "SMITHE", "JONES", "KAMINSKI", "BAYLISS", "A"]


def _index() -> LocalIndex:
    root = _new_node("")
    for w in WORDS:
        _insert(root, w)
    return LocalIndex(pd.DataFrame(list(_emit(root, 0, 1)), columns=PT_COLUMNS))


def _get(conn, path):
    conn.request("GET", path)
    resp = conn.getresponse()
    return resp.status, resp.read()


def test_keep_alive_round_trip_has_no_delayed_ack_stall():
    """Headers and body leave as two writes; with Nagle on, the second
    waits for the client's delayed ACK (~40 ms per response)."""
    with PrefixTreeServer(_index()) as srv:
        conn = http.client.HTTPConnection(*srv.address, timeout=10)
        for path in ("/health", "/prefix?p=SM"):
            for _ in range(3):  # warm-up
                _get(conn, path)
            times = []
            for _ in range(25):
                t = time.perf_counter()
                status, _ = _get(conn, path)
                times.append(time.perf_counter() - t)
                assert status == 200
            assert statistics.median(times) < 0.010, (path, times)
        conn.close()


def test_health_counts_requests_per_endpoint():
    with PrefixTreeServer(_index()) as srv:
        conn = http.client.HTTPConnection(*srv.address, timeout=10)
        sent = [
            ("/search?q=SMITH&k=1", 200),
            ("/search?q=SMITH&k=1", 200),
            ("/search?q=SMITH&k=99", 400),
            ("/prefix?p=SM", 200),
            ("/prefix", 400),
            ("/nope", 404),
            ("/nope/either", 404),
        ]
        for path, want in sent:
            status, _ = _get(conn, path)
            assert status == want, path
            if status != 200:  # error responses close the connection
                conn.close()
                conn = http.client.HTTPConnection(*srv.address, timeout=10)
        status, body = _get(conn, "/health")
        assert status == 200
        h = json.loads(body)
        assert h["nodes"] == len(_index().ids)
        req = h["requests"]
        assert set(req) == {"/search", "/prefix", "other"}
        assert (req["/search"]["count"], req["/search"]["errors"]) == (3, 1)
        assert (req["/prefix"]["count"], req["/prefix"]["errors"]) == (2, 1)
        assert (req["other"]["count"], req["other"]["errors"]) == (2, 2)
        assert all(c["seconds"] > 0 for c in req.values())
        # the /health request above is counted once it has answered
        _, body = _get(conn, "/health")
        health = json.loads(body)["requests"]["/health"]
        assert (health["count"], health["errors"]) == (1, 0)
        conn.close()


def test_counters_and_first_walk_hold_under_concurrent_clients():
    """More client threads than cores, a short switch interval: no
    counter update is lost, and lookups racing to build the walk's
    views on a fresh index all get the single-threaded answer."""
    idx = _index()
    want = json.dumps([list(h) for h in _index().search("SMITH", 2)]).encode()
    n_threads, n_each = 12, 20
    bodies = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with PrefixTreeServer(idx) as srv:

            def client():
                conn = http.client.HTTPConnection(*srv.address, timeout=10)
                got = [_get(conn, "/search?q=SMITH&k=2") for _ in range(n_each)]
                conn.close()
                bodies.extend(got)

            threads = [threading.Thread(target=client) for _ in range(n_threads)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            conn = http.client.HTTPConnection(*srv.address, timeout=10)
            _, body = _get(conn, "/health")
            conn.close()
    finally:
        sys.setswitchinterval(old)
    assert bodies == [(200, want)] * (n_threads * n_each)
    search = json.loads(body)["requests"]["/search"]
    assert (search["count"], search["errors"]) == (n_threads * n_each, 0)
