"""Persistent serving process — the Roxie analog, made concrete.

The reference splits its engine in two: Thor runs batch queries,
Roxie holds the BUILDINDEX output memory-resident and answers point
queries across requests (`PrefixTree.ecl:459-588`). The engine's
in-process analog is ``build_local_index`` (one collect, reused
across calls); this module adds the missing piece — a KEEP-ALIVE
process boundary, so the index outlives any one client and amortizes
across clients, not just across calls.

``PrefixTreeServer`` is a dependency-free HTTP server (stdlib
``http.server``) over a ``LocalIndex``:

    GET /search?q=<word>&k=<max_distance>   → [[word, distance], ...]
        (&metric=damerau for transposition-aware distance; the trie
        is probed at 2k, so damerau requests are clamped to
        k ≤ max_k // 2 — the traversal budget max_k bounds is the
        PROBED radius, whichever metric asked for it — and the
        exact DL kernel reranks the pruned candidates)
    GET /prefix?p=<prefix>                  → [word, ...]
        (sorted; responses cap at ``max_hits`` words — a truncated
        response carries ``X-Truncated: true``, so p='' can't
        serialize the whole dictionary on any client's say-so)
    GET /ann?v=<csv floats>&k=10&nprobe=8   → [[vec_id, cosine], ...]
        (when constructed with ``ann_index=``, a ``LocalVectorIndex``
        over a save_ivf_index IVF-FLAT layout — vector point lookups
        from the same keep-alive replica; k clamps at ``max_ann_k``;
        ``&mode=pq`` on a pq_m layout serves through the ADC code
        path — probed cells load m bytes/vector instead of the float
        column, the object-storage-replica economics — with an exact
        rerank bounded to the padded candidates;
        ``&filter_col=<payload>&filter_vals=<csv>`` runs filtered
        search on payload_cols layouts: the mask applies BEFORE
        scoring with the starvation ladder, flat and pq modes)
    GET /sparse?terms=<csv>&k=10            → [[doc_id, bm25], ...]
        (when constructed with ``sparse_index=``, a
        ``LocalSparseIndex`` over a save_bm25_index layout — lexical
        retrieval from the same keep-alive replica; term count caps
        at ``max_terms``; ``?text=<raw query>`` tokenizes server-side
        with the same whitespace rule every BM25 path uses)
    GET /hybrid?terms=<csv>&v=<csv floats>&k=5&k_each=10&nprobe=8
        → [[doc_id, rrf_rank], ...]  — BM25 ⊕ dense cosine fused by
        exact-decimal RRF (the served form of the gated
        hybrid_dense_sparse_rrf workload; ``&mode=pq`` routes the
        dense side through ADC, ``&c=`` sets the RRF constant)
    GET /health                             → {"nodes": N, ...}
        (replica state, the serving twin of the cluster describe_*
        views: an ``ann`` section — generation, n_cells, preloaded,
        tombstones — when a vector handle is loaded, and a ``sparse``
        section — generation, n_docs, n_buckets, preloaded,
        tombstones — when a BM25 handle is; sections ABSENT for
        indexes not loaded, so a balancer can gate on readiness; and a
        ``requests`` section — per endpoint path, the request count,
        the non-2xx count and the summed in-handler seconds, unknown
        paths pooled under ``other`` — so a client's round-trip time
        minus handler time is transport time; and ``kernel``, the
        trie walk in use — see Threading)

Operationally (documented, not sandbox-testable beyond localhost):
run one server per replica behind any HTTP load balancer; each
loaded index is immutable, so replicas need no coordination. Refresh
WITHOUT restart (the Roxie package-reload analog,
PrefixTree.ecl:459-588): ``swap(new_index)`` atomically replaces the
served handle — in-flight requests finish on the index they started
with, new requests see the new one, keep-alive connections stay up —
and ``watch_published_index`` polls a ``publish_index`` root and
swaps each newly published version in automatically (Spark-free:
manifest + parquet read via pyarrow, so a serving replica needs no
SparkSession). For batch traffic keep using
``query(..., index=handle)``; HTTP is the low-latency single-lookup
path only. A Spark Connect deployment can host the same handle
server-side; nothing here depends on a SparkSession once the index
is built.

Threading: ``ThreadingHTTPServer`` + a read-only index. A lookup
(``LocalIndex.search``) is one call of the native trie walk
(``functions/walk.c``) over the index's flat numpy buffers: it runs
outside the GIL, so handler threads look up in parallel, and it holds
no per-node Python objects, only its own scratch, so concurrent
requests need no locks on the index. The only lock guards the request
counters: one update per request. ``/health`` names the walk in use
(``"kernel": "native"``, or ``"python"`` with ``"kernel_cause"`` when
no C compiler could build it; the Python walk returns the same rows,
slower, and holds the GIL).

Transport: handlers set TCP_NODELAY. A response leaves as two writes
(headers, then body), and with Nagle's algorithm on, the second waits
for the client's delayed ACK — ~40 ms on every keep-alive response,
more than the lookup itself costs.
"""

from __future__ import annotations

import json
import math
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pandas as pd

from prefixtree_spark.functions import native
from prefixtree_spark.operators.query import LocalIndex, _warn_if_forests_overlap


class PrefixTreeServer:
    """Serve a ``LocalIndex`` over HTTP until stopped.

    >>> srv = PrefixTreeServer(build_local_index(pt)).start()
    >>> # GET http://host:port/search?q=KAMINSKI&k=1
    >>> srv.stop()
    """

    def __init__(
        self, index: LocalIndex, *, host: str = "127.0.0.1", port: int = 0,
        max_k: int = 8, max_hits: int = 10_000,
        ann_index: "LocalVectorIndex | None" = None, max_ann_k: int = 100,
        sparse_index: "LocalSparseIndex | None" = None,
        max_terms: int = 64,
        bytes_mode: bool = False,
    ):
        self.index = index
        # byte-semantics serving: the loaded index was built with
        # create(bytes=True), so /search queries enter (and results
        # leave) the UTF-8 byte-surrogate space via query_one(bytes=)
        # — the served twin of the batch byte mode (r12)
        self.bytes_mode = bool(bytes_mode)
        # optional vector sidecar: GET /ann?v=<csv floats>&k=&nprobe=
        # serves top-k cosine neighbors from a LocalVectorIndex (the
        # IVF-FLAT serving handle); swap-able like the word index
        self.ann_index = ann_index
        self.max_ann_k = int(max_ann_k)
        # optional sparse sidecar: GET /sparse?terms=a,b&k= serves BM25
        # from a LocalSparseIndex; GET /hybrid fuses it with /ann's
        # dense ranking by RRF — the served form of the gated
        # hybrid_dense_sparse_rrf workload. max_terms bounds the
        # per-request term count (each term costs a bucket probe — the
        # sparse analog of the /search k-clamp abuse bound).
        self.sparse_index = sparse_index
        self.max_terms = int(max_terms)
        self.max_k = int(max_k)
        # response-size bound for /prefix: without it, p='' (or any
        # high-fanout prefix) serializes the whole dictionary into one
        # response on any client's say-so — the same abuse class the
        # /search k-clamp blocks. Sorted truncation + X-Truncated
        # header keeps short prefixes useful and the bound explicit.
        self.max_hits = int(max_hits)
        # published-corpus roots reported through /health (r10 verdict
        # #6): name -> local table root; each /health call summarizes
        # version chain, live vs dead bytes, and vacuum debt via the
        # replica-side local_published_health (listing only, no scan)
        self._published_roots: dict[str, str] = {}
        # per-endpoint [requests, non-2xx, in-handler seconds], read by
        # /health: client time minus handler time is transport time
        self._requests: dict[str, list] = {}
        self._requests_lock = threading.Lock()
        self._host = host
        self._port = port
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- lifecycle ---------------------------------------------------------

    def swap(self, index: LocalIndex) -> None:
        """Atomically replace the served index without restarting: a
        single attribute store (atomic under the GIL) flips the handle;
        every request reads it ONCE on entry, so an in-flight request
        finishes consistently on whichever index it started with and
        keep-alive connections never observe an error. The old index
        is garbage-collected when its last in-flight request ends."""
        self.index = index

    def swap_ann(self, ann_index: "LocalVectorIndex | None") -> None:
        """The vector-side twin of ``swap``: one attribute store flips
        the served ``/ann`` handle; each request reads ``srv.ann_index``
        once on entry, so it finishes entirely on old or entirely on
        new. Pair with ``preload=True`` handles so the outgoing index
        keeps serving from memory while the replacement loads."""
        self.ann_index = ann_index

    def swap_sparse(self, sparse_index: "LocalSparseIndex | None") -> None:
        """The sparse-side twin of ``swap``/``swap_ann`` for the
        ``/sparse`` and ``/hybrid`` BM25 handle — same one-attribute-
        store atomicity, same read-once-on-entry request contract."""
        self.sparse_index = sparse_index

    def attach_published(self, name: str, root: str) -> None:
        """Report the published corpus at ``root`` (a LOCAL table
        root) under ``published.<name>`` in ``/health``: version,
        chain length, live vs dead bytes/files, vacuum debt — the
        corpus-table analog of the ann/sparse generation sections.
        Listing metadata only; pass ``None``-free local paths (the
        serving process has no SparkSession)."""
        self._published_roots[name] = root

    def _count(self, path: str, status: "int | None", seconds: float) -> None:
        """One request into its endpoint's counters; paths that name no
        endpoint share one ``other`` entry, so clients cannot grow the
        table."""
        if path not in _ENDPOINTS:
            path = "other"
        failed = status is None or not 200 <= status < 300
        with self._requests_lock:
            c = self._requests.setdefault(path, [0, 0, 0.0])
            c[0] += 1
            c[1] += failed
            c[2] += seconds

    def _requests_snapshot(self) -> dict:
        with self._requests_lock:
            return {
                p: {"count": n, "errors": e, "seconds": s}
                for p, (n, e, s) in sorted(self._requests.items())
            }

    def start(self) -> "PrefixTreeServer":
        if self._httpd is not None:
            # a second start() would abandon a live server with no
            # remaining handle to stop it (leaked port + thread)
            raise RuntimeError("server already running; stop() it first")
        srv = self
        max_k = self.max_k

        class Handler(BaseHTTPRequestHandler):
            # keep-alive: every response carries Content-Length, so
            # HTTP/1.1 persistent connections are free — without this
            # each "low-latency" lookup paid a fresh TCP handshake
            protocol_version = "HTTP/1.1"
            # TCP_NODELAY: headers and body (send_error's too) go out
            # as two writes; under Nagle the second one waits for the
            # client's delayed ACK, ~40 ms on every keep-alive response
            disable_nagle_algorithm = True

            def send_response(self, code, message=None) -> None:
                self._status = code
                super().send_response(code, message)

            def do_GET(self) -> None:  # noqa: N802 (stdlib casing)
                t0 = time.perf_counter()
                self._status = None  # no response sent: an error
                url = urlparse(self.path)
                try:
                    self._get(url)
                finally:
                    srv._count(url.path, self._status, time.perf_counter() - t0)

            def _get(self, url) -> None:
                # ONE handle read per request: a concurrent swap() must
                # not let half a request run on the old index and half
                # on the new
                index = srv.index
                q = {k: v[0] for k, v in parse_qs(url.query).items()}
                try:
                    if url.path == "/health":
                        # replica health = what's served and from which
                        # layout generation — the serving twin of the
                        # cluster-side describe_* views (r10); handles
                        # read once above/here, so a concurrent swap
                        # can't report a mixed replica state
                        body = {
                            "nodes": int(len(index.ids)),
                            **native.status(),
                            "requests": srv._requests_snapshot(),
                        }
                        h_ann = srv.ann_index
                        if h_ann is not None:
                            body["ann"] = {
                                "generation": int(h_ann.generation),
                                "n_cells": int(len(h_ann.centroids)),
                                "preloaded": bool(h_ann._preloaded),
                                "tombstones": len(h_ann._tombstones),
                            }
                        h_sp = srv.sparse_index
                        if h_sp is not None:
                            body["sparse"] = {
                                "generation": int(h_sp.generation),
                                "n_docs": int(h_sp.n_docs),
                                "n_buckets": int(h_sp.n_buckets),
                                "preloaded": bool(h_sp._preloaded),
                                "tombstones": len(h_sp._tombstones),
                            }
                        if srv._published_roots:
                            from prefixtree_spark.sources.io import (
                                local_published_health,
                            )

                            body["published"] = {
                                nm: local_published_health(rt)
                                for nm, rt in sorted(
                                    srv._published_roots.items()
                                )
                            }
                    elif url.path == "/search":
                        k = int(q.get("k", "1"))
                        if not 0 <= k <= max_k:
                            # unbounded k would traverse the whole trie
                            # and serialize the entire dictionary into
                            # one response on any client's say-so
                            self.send_error(
                                400, f"k must be in [0, {max_k}]"
                            )
                            return
                        metric = q.get("metric", "levenshtein")
                        if metric not in ("levenshtein", "damerau"):
                            self.send_error(
                                400, "metric must be levenshtein or damerau"
                            )
                            return
                        if metric == "damerau" and k > max_k // 2:
                            # damerau probes the trie at 2k; max_k
                            # bounds the PROBED radius, so the
                            # request clamp halves
                            self.send_error(
                                400,
                                f"k must be in [0, {max_k // 2}] for "
                                f"metric=damerau (the trie is probed "
                                f"at 2k and max_k={max_k} bounds the "
                                f"probed radius)",
                            )
                            return
                        if metric == "damerau" or srv.bytes_mode:
                            from prefixtree_spark.operators.query import (
                                query_one,
                            )

                            hits = query_one(
                                index, q["q"], k, metric=metric,
                                bytes=srv.bytes_mode,
                            )
                        else:
                            hits = index.search(q["q"], k)
                        body = [[w, int(d)] for w, d in hits]
                    elif url.path == "/ann":
                        ann = srv.ann_index
                        if ann is None:
                            self.send_error(404, "no vector index loaded")
                            return
                        hits_ann = _dense_search(
                            ann,
                            _req_vec(q, ann),
                            _req_int(q, "k", 10, 1, srv.max_ann_k),
                            _req_int(q, "nprobe", 8, 1, len(ann.centroids)),
                            _req_mode(q, ann),
                            _req_filter(q),
                        )
                        body = [
                            [v if isinstance(v, str) else int(v), s]
                            for v, s in hits_ann
                        ]
                    elif url.path == "/sparse":
                        sp = srv.sparse_index
                        if sp is None:
                            self.send_error(404, "no sparse index loaded")
                            return
                        k = _req_int(q, "k", 10, 1, srv.max_ann_k)
                        terms = _req_terms(q, srv.max_terms)
                        body = [
                            [d if isinstance(d, str) else int(d), s]
                            for d, s in sp.search(terms, k)
                        ]
                    elif url.path == "/hybrid":
                        # the served form of the gated
                        # hybrid_dense_sparse_rrf workload: BM25 over
                        # the sparse handle ⊕ dense cosine over the
                        # vector handle, fused by exact-decimal RRF
                        # (rrf_fuse_local matches ranking.rrf_fuse's
                        # arithmetic bit-for-bit). Handles read ONCE on
                        # entry — a concurrent swap of either side
                        # can't split one request across generations.
                        # All parameter parsing/validation is shared
                        # with /ann and /sparse (the _req_* helpers),
                        # so the three endpoints can never drift.
                        sp = srv.sparse_index
                        ann = srv.ann_index
                        if sp is None or ann is None:
                            self.send_error(
                                404, "hybrid needs sparse AND vector indexes"
                            )
                            return
                        k = _req_int(q, "k", 10, 1, srv.max_ann_k)
                        k_each = _req_int(q, "k_each", 10, 1, srv.max_ann_k)
                        # c + rank must stay positive (c=-1 → a 1/0 at
                        # rank 1 → an unhandled 500)
                        c_rrf = _req_int(q, "c", 60, 0, 10_000)
                        terms = _req_terms(q, srv.max_terms)
                        sparse_ids = [
                            d for d, _ in sp.search(terms, k_each)
                        ]
                        dense_hits = _dense_search(
                            ann,
                            _req_vec(q, ann),
                            k_each,
                            _req_int(q, "nprobe", 8, 1, len(ann.centroids)),
                            _req_mode(q, ann),
                            _req_filter(q),
                        )
                        dense_ids = [v for v, _ in dense_hits]
                        fused = rrf_fuse_local(
                            [sparse_ids, dense_ids], k, c=c_rrf
                        )
                        body = [
                            [d if isinstance(d, str) else int(d), int(r)]
                            for d, r in fused
                        ]
                    elif url.path == "/prefix":
                        if srv.bytes_mode:
                            # byte-surrogate trie: probe with the
                            # prefix's UTF-8 bytes, decode words back
                            # (byte-prefix == string-prefix for whole-
                            # codepoint prefixes, and UTF-8 byte order
                            # == codepoint order so the sort survives).
                            # Truncate BEFORE decoding: a one-byte
                            # prefix can match the whole dictionary,
                            # and decoding discarded hits is wasted
                            # per-request CPU (r12 review #6)
                            from prefixtree_spark.functions.bytesurrogate import (
                                py_from_byte_surrogate,
                                py_to_byte_surrogate,
                            )

                            raw = index.search_prefix(
                                py_to_byte_surrogate(q["p"])
                            )
                            truncated = len(raw) > srv.max_hits
                            body = [
                                py_from_byte_surrogate(w)
                                for w in raw[: srv.max_hits]
                            ]
                        else:
                            hits = index.search_prefix(q["p"])
                            truncated = len(hits) > srv.max_hits
                            body = hits[: srv.max_hits]
                    else:
                        self.send_error(404)
                        return
                except (KeyError, ValueError) as exc:
                    self.send_error(400, str(exc))
                    return
                payload = json.dumps(body).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                if url.path == "/prefix" and truncated:
                    # search_prefix returns sorted words, so the cut is
                    # deterministic; the header tells the client the
                    # prefix needs narrowing
                    self.send_header("X-Truncated", "true")
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *args) -> None:  # quiet
                pass

        self._httpd = ThreadingHTTPServer((self._host, self._port), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="prefixtree-serving", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None

    @property
    def address(self) -> tuple[str, int]:
        assert self._httpd is not None, "server not started"
        host, port = self._httpd.server_address[:2]
        return str(host), int(port)

    def url(self, path: str = "") -> str:
        host, port = self.address
        return f"http://{host}:{port}{path}"

    def __enter__(self) -> "PrefixTreeServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


_ENDPOINTS = frozenset(
    ("/search", "/prefix", "/ann", "/sparse", "/hybrid", "/health")
)


def _req_int(q: dict, name: str, default: int, lo: int, hi: int) -> int:
    """Bounded integer request parameter; out-of-range raises
    ValueError, which the request handler answers with a 400."""
    v = int(q.get(name, str(default)))
    if not lo <= v <= hi:
        raise ValueError(f"{name} must be in [{lo}, {hi}]")
    return v


def _req_terms(q: dict, max_terms: int) -> list:
    """Query terms for the sparse endpoints: ``terms=<csv>`` or
    ``text=<raw query>`` (server-side tokenization — str.split() ==
    the \\S+ rule every BM25 path tokenizes with, so the HTTP form and
    the indexed probes agree on terms). Bounded by ``max_terms`` (each
    term costs a bucket probe — the sparse analog of the /search
    k-clamp abuse bound)."""
    if "text" in q and "terms" not in q:
        terms = q["text"].split()
    else:
        terms = [t for t in q["terms"].split(",") if t]
    if not terms or len(terms) > max_terms:
        raise ValueError(f"terms must have 1..{max_terms} entries")
    return terms


def _req_vec(q: dict, ann) -> list:
    """The query vector: finite components (inf/nan parse fine as
    floats but poison the cosine scores, and json.dumps would emit
    Infinity/NaN tokens — invalid JSON that strict clients reject) and
    the index's dimensionality."""
    vec = [float(x) for x in q["v"].split(",")]
    if not all(math.isfinite(x) for x in vec):
        raise ValueError("v components must be finite")
    if len(vec) != ann.centroids.shape[1]:
        raise ValueError(f"v must have dim {ann.centroids.shape[1]}")
    return vec


def _req_mode(q: dict, ann) -> str:
    mode = q.get("mode", "flat")
    if mode not in ("flat", "pq"):
        raise ValueError("mode must be flat or pq")
    if mode == "pq" and ann.codebooks is None:
        raise ValueError("mode=pq needs an index saved with pq_m")
    return mode


def _req_filter(q: dict) -> "tuple | None":
    """Filtered vector search over HTTP: the stored-payload mask
    applies BEFORE scoring (LocalVectorIndex.search/_pq where=), with
    the starvation ladder — never a recall-lossy post-filter."""
    if "filter_col" not in q and "filter_vals" not in q:
        return None
    if not ("filter_col" in q and "filter_vals" in q):
        raise ValueError("filter_col and filter_vals must be passed together")
    return (
        q["filter_col"],
        [
            form
            for x in q["filter_vals"].split(",")
            if x
            for form in _parse_payload_value(x)
        ],
    )


def _dense_search(ann, vec, k, nprobe, mode, where):
    """One dense probe, flat or PQ-ADC; an unknown payload column
    (KeyError from the handle) re-raises as ValueError → 400."""
    try:
        if mode == "pq":
            return ann.search_pq(vec, k, nprobe=nprobe, where=where)
        return ann.search(vec, k, nprobe=nprobe, where=where)
    except KeyError as exc:
        raise ValueError(str(exc)) from exc


def _payload_mask(pay, allowed_vals):
    """Membership mask tolerant of MIXED-TYPE allowed values: one
    np.isin over a mixed list silently promotes everything to strings
    (np.asarray(['0', 0]) is a str array), so numeric payloads matched
    nothing — group the values by type and OR the per-type masks."""
    import numpy as np

    mask = np.zeros(len(pay), dtype=bool)
    groups: dict = {}
    for v in allowed_vals:
        groups.setdefault(type(v), []).append(v)
    for vs in groups.values():
        mask |= np.isin(pay, np.asarray(vs))
    return mask


def _parse_payload_value(x: str):
    """Candidate typed forms of a URL filter value — ALL plausible
    parquet storage types, not a single guess: np.isin matches only
    same-typed elements, so '2021' against an int column needs the
    int form, while '2021' against a STRING column needs the string
    form kept too (coercing to int alone silently matched nothing on
    digit-like string payloads and then paid the starvation ladder's
    full-index escalation for an empty answer — r9 review). Returns a
    list; callers splice every form into allowed_values."""
    forms = [x]
    for conv in (int, float):
        try:
            v = conv(x)
        except ValueError:
            continue
        if v not in forms:
            forms.append(v)
    return forms


class LocalVectorIndex:
    """Serving-side ANN handle over a ``save_ivf_index`` IVF-FLAT
    layout, no SparkSession in the process (the vector analog of
    ``LocalIndex``): centroids load once, probed cell directories load
    lazily through pyarrow and stay cached as (ids, matrix, norms)
    numpy triples — memory is bounded by the cells actually probed,
    and a replica that serves a hot query region holds only that
    region's lists. Scoring is one numpy matmul over the probed
    union, ordered (cosine desc, vec_id asc) like the cluster paths
    (numpy pairwise summation may differ from the JVM fold in the
    last ulp on manufactured near-ties; serving does not promise
    oracle-bit-exactness — the cluster paths do).

    **Generations and swap safety.** The handle pins the layout's
    ``_generation`` marker at open (``maintain_ivf_index`` /
    ``append_ivf_index`` bump it AFTER their writes/swaps complete).
    Lazy mode rides the standing single-writer contract: a retrain
    swap under a live lazy replica could mix old cached cells with
    newly-swapped files within one search. ``preload=True`` closes
    that window with the tree index's load-then-flip discipline:
    EVERY cell (and code table, on pq layouts) loads at open, so the
    handle never touches disk again — searches are snapshot-consistent
    against the generation that was live at open, through any
    concurrent swap, and ``watch_ivf_index`` flips a freshly preloaded
    handle in when the generation moves. The trade is eager memory
    (the whole index, floats included — a pq replica that wants the
    m-bytes-per-vector economics stays lazy and swaps offline)."""

    def __init__(self, path: str, *, preload: bool = False):
        import os

        import numpy as np
        import pyarrow.parquet as pq

        meta = pq.read_table(os.path.join(path, "meta")).to_pylist()[0]
        self.generation = _read_ivf_generation(path)
        # merge-on-read deletes (ann.delete_ivf_ids): rows masked out
        # at cell-load time, so query-time cost is zero and memory
        # never holds a deleted vector; maintenance compaction clears
        # the sidecar (and bumps the generation → replicas reload)
        ts_dir = os.path.join(path, "_tombstones")
        self._tombstones: frozenset = frozenset()
        if os.path.isdir(ts_dir):
            try:
                self._tombstones = frozenset(
                    pq.read_table(ts_dir, columns=["vec_id"])
                    .column("vec_id")
                    .to_pylist()
                )
            except Exception:
                self._tombstones = frozenset()
        cent_tbl = pq.read_table(os.path.join(path, "centroids"))
        self.centroids = np.zeros(
            (meta["n_cells"], meta["dim"]), dtype=np.float64
        )
        cent_cells = cent_tbl.column("cell").to_numpy(zero_copy_only=False)
        self.centroids[cent_cells] = self._list_column_matrix(
            cent_tbl.column("c"), int(meta["dim"])
        )
        self.n_replicas = int(meta["n_replicas"])
        self._postings_dir = os.path.join(path, "postings")
        cell_dirs = [
            d
            for d in os.listdir(self._postings_dir)
            if d.startswith("cell=")
        ]
        if not cell_dirs:
            raise FileNotFoundError(f"no cell lists under {path!r}")
        probe = pq.read_schema(
            self._first_file(os.path.join(self._postings_dir, cell_dirs[0]))
        )
        if "cv" not in probe.names:
            # id-only pre-flat layouts carry no vectors in the lists
            raise ValueError(
                "LocalVectorIndex needs an IVF-FLAT layout "
                "(postings carry no vector column)"
            )
        # payload columns (save_ivf_index payload_cols=) are read in
        # the SAME read_table call as the vectors (_cell) — a second
        # read of the cell dir could see a file landed between the two
        # reads and silently misalign the filter mask row-for-row
        self._payload_names = [
            n for n in probe.names if n not in ("vec_id", "cv", "pq")
        ]
        self._cells: dict[int, tuple] = {}
        self._payloads: dict[tuple, object] = {}
        # PQ sidecar (save_ivf_index(..., pq_m=m)): codebooks load once,
        # probed cells' CODE columns load lazily — the ADC serving path
        # (search_pq) reads m bytes/vector instead of 4·dim, the byte
        # economics the ivf_xover_pq_col_bytes extras recorded
        self.codebooks = None
        self._code_cells: dict[int, tuple] = {}
        self._code_payloads: dict[tuple, object] = {}
        pq_m = int(meta.get("pq_m") or 0)
        if pq_m and os.path.isdir(os.path.join(path, "pq_books")):
            rows = pq.read_table(os.path.join(path, "pq_books")).to_pylist()
            n_cent = max(r["i"] for r in rows) + 1
            dsub = len(rows[0]["c"])
            books = np.zeros((pq_m, n_cent, dsub), dtype=np.float64)
            for r in rows:
                books[r["j"], r["i"]] = np.asarray(r["c"], dtype=np.float64)
            self.codebooks = books
            # per-codeword squared norms: reconstruction norms become
            # m table lookups per row instead of a dim-wide reduction
            self._book_norms2 = (books**2).sum(axis=2)
        self._preloaded = False
        if preload:
            # load-then-flip discipline (see class docstring): after
            # this loop no search path touches disk, so a concurrent
            # retrain swap can never mix generations inside a handle
            for dname in cell_dirs:
                c = int(dname.split("=", 1)[1])
                self._cell(c)
                if self.codebooks is not None:
                    self._cell_codes(c)
            self._preloaded = True

    @staticmethod
    def _list_column_matrix(col, dim: int):
        """(n, dim) float64 matrix from an Arrow list<float> column via
        the flat values buffer — one reshape instead of a per-row
        Python list (``to_pylist`` on a 100 MB cell paid seconds of
        pure-Python list building on the serving cold path). The
        save_ivf_index layout guarantees non-null fixed-``dim`` lists;
        anything else falls back to the row-at-a-time path."""
        import numpy as np

        ca = col.combine_chunks()
        n = len(ca)
        if n == 0:
            return np.zeros((0, dim))
        flat = ca.values.to_numpy(zero_copy_only=False)
        if ca.null_count == 0 and flat.size == n * dim:
            return flat.reshape(n, dim).astype(np.float64, copy=False)
        return np.array(ca.to_pylist(), dtype=np.float64)

    @staticmethod
    def _first_file(d: str):
        import os

        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                return os.path.join(d, f)
        raise FileNotFoundError(d)

    def _cell(self, c: int):
        import os

        import numpy as np
        import pyarrow.parquet as pq

        got = self._cells.get(c)
        if got is not None:
            return got
        d = os.path.join(self._postings_dir, f"cell={c}")
        if not os.path.isdir(d):
            got = (np.array([], dtype=object), np.zeros((0, self.centroids.shape[1])), np.array([]))
            for name in self._payload_names:
                self._payloads[(c, name)] = np.array([], dtype=object)
        else:
            # payloads ride the SAME read as the vectors: filtered
            # search masks payload rows against vector rows by
            # position, and two reads of a cell dir can disagree on
            # row order if a file lands between them (append under a
            # live lazy replica)
            tbl = pq.read_table(
                d, columns=["vec_id", "cv", *self._payload_names]
            )
            ids = tbl.column("vec_id").to_numpy(zero_copy_only=False)
            m = self._list_column_matrix(
                tbl.column("cv"), self.centroids.shape[1]
            )
            pay_arrs = {
                name: tbl.column(name).to_numpy(zero_copy_only=False)
                for name in self._payload_names
            }
            if self._tombstones:
                live = ~np.isin(ids, list(self._tombstones))
                ids, m = ids[live], m[live]
                pay_arrs = {n_: a[live] for n_, a in pay_arrs.items()}
            for name, arr in pay_arrs.items():
                self._payloads[(c, name)] = arr
            got = (ids, m, np.linalg.norm(m, axis=1))
        self._cells[c] = got
        return got

    def _cell_codes(self, c: int):
        """Lazy (ids, codes uint8 [n, m], recon_norms) for one cell —
        reads ONLY the (vec_id, pq) column chunks (parquet columnar
        pruning), never the float vectors: a replica serving from
        object storage fetches m bytes per vector here, the ~30× cut
        the PQ layout exists for. On payload_cols layouts the (small,
        scalar) payload columns ride the SAME read — filtered
        ``search_pq(where=)`` masks by position, and a second read of
        the cell dir could misalign rows (the `_cell` hazard)."""
        import os

        import numpy as np
        import pyarrow.parquet as pq

        got = self._code_cells.get(c)
        if got is not None:
            return got
        m = self.codebooks.shape[0]
        d = os.path.join(self._postings_dir, f"cell={c}")
        if not os.path.isdir(d):
            got = (
                np.array([], dtype=object),
                np.zeros((0, m), dtype=np.uint8),
                np.array([]),
            )
            for name in self._payload_names:
                self._code_payloads[(c, name)] = np.array([], dtype=object)
        else:
            tbl = pq.read_table(
                d, columns=["vec_id", "pq", *self._payload_names]
            )
            ids = tbl.column("vec_id").to_numpy(zero_copy_only=False)
            n = len(ids)
            codes = np.frombuffer(
                b"".join(tbl.column("pq").to_pylist()), dtype=np.uint8
            ).reshape(n, m) if n else np.zeros((0, m), dtype=np.uint8)
            pay_arrs = {
                name: tbl.column(name).to_numpy(zero_copy_only=False)
                for name in self._payload_names
            }
            if self._tombstones and n:
                live = ~np.isin(ids, list(self._tombstones))
                ids, codes = ids[live], codes[live]
                pay_arrs = {n_: a[live] for n_, a in pay_arrs.items()}
            for name, arr in pay_arrs.items():
                self._code_payloads[(c, name)] = arr
            # ||x̂||² = Σ_j ||books[j][code_j]||² — m lookups per row
            n2 = self._book_norms2[np.arange(m)[None, :], codes].sum(axis=1)
            got = (ids, codes, np.sqrt(n2))
        self._code_cells[c] = got
        return got

    def search_pq(
        self, vec, k: int = 10, *, nprobe: int = 8, pad_factor: int = 8,
        where: "tuple | None" = None,
    ) -> list[tuple]:
        """Top-``k`` (vec_id, cosine) via the ADC (asymmetric distance)
        path: probed cells are scored from their STORED PQ codes with
        per-query lookup tables (LUT[j][c] = q_j · books[j][c], so a
        row scores in m table hits), the padded approximate top is
        exactly reranked against the float vectors of the CANDIDATES
        only (a bounded, stats-prunable fetch), and the returned
        scores are exact cosines — the serving twin of
        ``cosine_topk_ivf_pq``, including its zero-reconstruction
        candidate preservation. Requires a ``pq_m`` layout.

        ``where=(payload_col, allowed_values)``: the filtered form
        (payload_cols layouts; the PQ twin of ``search(where=)``) —
        the mask applies BEFORE the ADC scoring, candidates and the
        exact rerank see only passing rows, and a probe starved below
        ``k`` results widens nprobe ×2 up to full probe (cached code
        cells make the retry incremental in IO)."""
        import numpy as np

        from prefixtree_spark.operators.ann import _assign_cells_np

        if self.codebooks is None:
            raise ValueError(
                "search_pq needs an index saved with pq_m "
                "(save_ivf_index(..., pq_m=...)); this layout has no codes"
            )
        q = np.asarray(vec, dtype=np.float64)
        qn = np.linalg.norm(q)
        m, _, dsub = self.codebooks.shape
        lut = np.einsum("jcd,jd->jc", self.codebooks, q.reshape(m, dsub))
        n_cells = len(self.centroids)
        cells = _assign_cells_np(q[None, :], self.centroids, nprobe)[0]
        allowed = None
        if where is not None:
            pay_col, allowed_vals = where
            allowed = list(allowed_vals)
        ids_parts, approx_parts, zero_parts = [], [], []
        for c in cells:
            ids, codes, cn = self._cell_codes(int(c))
            if allowed is not None and len(ids):
                # payloads were cached by the _cell_codes read above
                pay = self._code_payloads.get((int(c), where[0]))
                if pay is None:
                    raise KeyError(
                        f"no stored payload column {where[0]!r} in this "
                        f"layout (have {self._payload_names!r})"
                    )
                mask = _payload_mask(pay, allowed)
                ids, codes, cn = ids[mask], codes[mask], cn[mask]
            if not len(ids):
                continue
            dots = lut[np.arange(m)[None, :], codes].sum(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                approx = dots / (cn * qn)
            zero = cn == 0
            if zero.any():
                # all-zero reconstructions score NaN and would silently
                # lose every boundary comparison; keep them for the
                # exact rerank (the kernel's rule, serving form)
                zero_parts.append(ids[zero])
            approx = np.nan_to_num(approx, nan=-np.inf)
            approx[zero] = -np.inf
            ids_parts.append(ids)
            approx_parts.append(approx)
        if not ids_parts:
            if where is not None and nprobe < n_cells:
                return self.search_pq(
                    vec, k, nprobe=min(2 * nprobe, n_cells),
                    pad_factor=pad_factor, where=where,
                )
            return []
        ids = np.concatenate(ids_parts)
        approx = np.concatenate(approx_parts)
        # replicated lists: one slot per DISTINCT vec_id (replicas carry
        # identical codes, so keeping the first occurrence is exact)
        _, first = np.unique(ids, return_index=True)
        ids, approx = ids[first], approx[first]
        pad = max(pad_factor * k, k + 1)
        take = min(pad, len(ids))
        top = np.argpartition(-approx, take - 1)[:take]
        cand = set(ids[top].tolist())
        for z in zero_parts:
            cand.update(z.tolist())
        # exact rerank of the bounded candidate set: fetch ONLY those
        # rows' float vectors from the probed cells
        rids, rvecs = self._fetch_vectors(cells, cand)
        if not len(rids):
            return []
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (rvecs @ q) / (np.linalg.norm(rvecs, axis=1) * qn)
        cos = np.nan_to_num(cos, nan=-np.inf)
        order = np.lexsort((rids, -cos))
        out, seen = [], set()
        for i in order:
            v = rids[i]
            if v in seen:
                continue
            seen.add(v)
            out.append((v, float(cos[i])))
            if len(out) == k:
                break
        if where is not None and len(out) < k and nprobe < n_cells:
            # starved filtered probe: widen (the search(where=) ladder)
            return self.search_pq(
                vec, k, nprobe=min(2 * nprobe, n_cells),
                pad_factor=pad_factor, where=where,
            )
        return out

    def _fetch_vectors(self, cells, cand: set):
        """(ids, matrix) of the candidate vectors, read from the probed
        cells' files with a vec_id filter — row-group stats prune, and
        only matching row groups' ``cv`` pages materialize. A preloaded
        handle answers from its in-memory cells instead: touching disk
        here would reopen the swap-mixing window preload exists to
        close."""
        import os

        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        if self._preloaded:
            ids_parts, mat_parts = [], []
            for c in cells:
                ids, m, _ = self._cell(int(c))
                if not len(ids):
                    continue
                mask = np.isin(ids, list(cand))
                if mask.any():
                    ids_parts.append(ids[mask])
                    mat_parts.append(m[mask])
            if not ids_parts:
                return np.array([], dtype=object), np.zeros(
                    (0, self.centroids.shape[1])
                )
            return np.concatenate(ids_parts), np.vstack(mat_parts)

        files = []
        for c in cells:
            d = os.path.join(self._postings_dir, f"cell={int(c)}")
            if os.path.isdir(d):
                files.extend(
                    os.path.join(d, f)
                    for f in sorted(os.listdir(d))
                    if f.endswith(".parquet")
                )
        if not files:
            return np.array([], dtype=object), np.zeros(
                (0, self.centroids.shape[1])
            )
        dset = pads.dataset(files, format="parquet")
        tbl = dset.to_table(
            columns=["vec_id", "cv"],
            filter=pc.field("vec_id").isin(list(cand)),
        )
        ids = tbl.column("vec_id").to_numpy(zero_copy_only=False)
        mat = self._list_column_matrix(
            tbl.column("cv"), self.centroids.shape[1]
        )
        return ids, mat

    def _cell_payload(self, c: int, name: str):
        """Per-cell payload column (save_ivf_index payload_cols
        layouts). Populated by ``_cell``'s single read — never a
        second read_table of the same directory, whose row order
        could diverge from the vectors' if a file landed between the
        two reads (the silent-misalignment hazard)."""
        key = (c, name)
        got = self._payloads.get(key)
        if got is None:
            self._cell(c)  # one read caches vectors AND payloads
            got = self._payloads.get(key)
            if got is None:
                raise KeyError(
                    f"no stored payload column {name!r} in this layout "
                    f"(have {self._payload_names!r})"
                )
        return got

    def search(
        self, vec, k: int = 10, *, nprobe: int = 8,
        where: "tuple | None" = None,
    ) -> list[tuple]:
        """Top-``k`` (vec_id, cosine) for one query vector.

        ``where=(payload_col, allowed_values)`` restricts the search
        to rows whose stored payload value is in ``allowed_values``
        (the serving twin of the cluster paths' ``where=`` pushdown):
        the mask applies BEFORE scoring, so the answer is the exact
        top-k of the filtered lists, never a recall-lossy post-filter.
        A selective filter that starves the probed cells below ``k``
        passing rows escalates nprobe ×2 until filled or at full
        probe (the cluster path's ladder, serving form) — the answer
        is k-deep at some probe width or exact over the whole
        filtered index, never a silently short list."""
        import numpy as np

        from prefixtree_spark.operators.ann import _assign_cells_np

        q = np.asarray(vec, dtype=np.float64)
        n_cells = len(self.centroids)
        cells = _assign_cells_np(q[None, :], self.centroids, nprobe)[0]
        ids_parts, cos_parts = [], []
        qn = np.linalg.norm(q)
        allowed = None
        if where is not None:
            pay_col, allowed_vals = where
            allowed = list(allowed_vals)
        for c in cells:
            ids, m, cn = self._cell(int(c))
            if not len(ids):
                continue
            if allowed is not None:
                mask = _payload_mask(
                    self._cell_payload(int(c), pay_col), allowed
                )
                if not mask.any():
                    continue
                ids, m, cn = ids[mask], m[mask], cn[mask]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (m @ q) / (cn * qn)
            ids_parts.append(ids)
            cos_parts.append(np.nan_to_num(cos, nan=-np.inf))
        out, seen = [], set()
        if ids_parts:
            ids = np.concatenate(ids_parts)
            cos = np.concatenate(cos_parts)
            order = np.lexsort((ids, -cos))
            for i in order:
                v = ids[i]
                if v in seen:  # replicated lists: one row per vec_id
                    continue
                seen.add(v)
                out.append((v, float(cos[i])))
                if len(out) == k:
                    break
        if where is not None and len(out) < k and nprobe < n_cells:
            # starved filtered probe: widen (cached cells make the
            # retry incremental in IO — only newly probed cells load)
            return self.search(
                vec, k, nprobe=min(2 * nprobe, n_cells), where=where
            )
        return out


# the shared generation protocol lives in prefixtree_spark._generation
# (r9 verdict #6); this name survives as the historical import site
from prefixtree_spark._generation import (  # noqa: E402
    read_generation as _read_ivf_generation,
    watch_generation as _watch_generation,
)


def load_local_ivf_index(path: str, *, preload: bool = False) -> LocalVectorIndex:
    """Open a ``save_ivf_index`` IVF-FLAT layout as a serving-side
    handle (no SparkSession; pyarrow + numpy only — the ANN analog of
    ``load_local_index_published``). ``preload=True`` loads every cell
    at open for swap-safe serving (see ``LocalVectorIndex``)."""
    return LocalVectorIndex(path, preload=preload)


def load_local_index_published(root: str) -> tuple[LocalIndex, int]:
    """Spark-free load of the LIVE version of a ``publish_index`` root
    on a local filesystem: resolve the manifest pointer exactly as
    ``sources.io`` does (max integer entry; appends walk back to their
    base replace) and read the segment parquet via pyarrow. Returns
    (index, version) — the serving replica's path to a refreshed
    handle with no SparkSession in the process.

    Citing the contract it rides: manifest entries are
    ``vdir<TAB>format<TAB>mode`` files named by version
    (``sources/io.py:_publish_entry``); segment dirs are immutable."""
    import os

    import pyarrow.parquet as pq

    mdir = os.path.join(root, "_manifest")
    entries = sorted(
        int(f) for f in os.listdir(mdir) if f.isdigit()
    ) if os.path.isdir(mdir) else []
    if not entries:
        raise FileNotFoundError(f"no published version under {root!r}")

    def parse(n: int) -> tuple[str, str, str]:
        parts = open(os.path.join(mdir, str(n))).read().split("\t")
        return parts[0], parts[1], (parts[2] if len(parts) > 2 else "replace")

    # walk appends back to the base replace, oldest first (io.py
    # _resolve_chain semantics); indexes are normally replace-published
    # so this is one segment, but an appended index still loads whole
    chain: list[str] = []
    for n in reversed(entries):
        vdir, fmt, mode = parse(n)
        if fmt != "parquet":
            raise ValueError(f"non-parquet index segment {vdir!r} ({fmt})")
        chain.append(vdir)
        if mode == "replace":
            break
    pdfs = [
        pq.read_table(os.path.join(root, vdir)).to_pandas()
        for vdir in reversed(chain)
    ]
    pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    _warn_if_forests_overlap(pdf)
    return LocalIndex(pdf), entries[-1]


def watch_published_index(
    server: PrefixTreeServer,
    root: str,
    *,
    poll_seconds: float = 5.0,
    current_version: int | None = None,
) -> threading.Event:
    """Hot refresh for a serving replica (the Roxie package-reload
    analog): poll ``root``'s manifest version and ``swap`` each newly
    published index into ``server`` — queries keep flowing on the old
    index until the new one is fully loaded, then flip atomically.
    Returns a stop event: ``set()`` it to end the watcher thread. A
    load that fails (e.g. a publisher mid-commit) leaves the current
    index serving and retries next poll.

    Pass ``current_version`` (the version ``load_local_index_published``
    returned for the index the server is ALREADY holding) to skip the
    otherwise-spurious first-poll reload; default 0 reloads once.

    One of three thin fronts over ``_generation.watch_generation`` —
    the marker here is the manifest's max version instead of a
    ``_generation`` file, and publishes are manifest-atomic so no
    post-load verify is needed."""
    import os

    def _manifest_version() -> int:
        mdir = os.path.join(root, "_manifest")
        vers = [
            int(f) for f in os.listdir(mdir) if f.isdigit()
        ] if os.path.isdir(mdir) else []
        return max(vers) if vers else 0

    return _watch_generation(
        read_marker=_manifest_version,
        load=lambda: load_local_index_published(root),
        swap=server.swap,
        initial=(
            current_version
            if current_version is not None
            else getattr(server, "_published_version", 0)
        ),
        poll_seconds=poll_seconds,
        name="prefixtree-index-watcher",
    )


def watch_ivf_index(
    server: PrefixTreeServer,
    path: str,
    *,
    poll_seconds: float = 5.0,
    preload: bool = True,
    current_generation: int | None = None,
) -> threading.Event:
    """Hot refresh for the ``/ann`` side of a serving replica — the
    vector twin of ``watch_published_index``, closing the r8 verdict's
    replica-swap consistency gap: poll the layout's ``_generation``
    marker (bumped by ``maintain_ivf_index`` retrain/reconcile/compact
    swaps and by ``append_ivf_index``, always AFTER their writes
    complete) and flip a freshly loaded ``LocalVectorIndex`` into
    ``server`` via ``swap_ann`` when it moves. With the default
    ``preload=True`` the discipline is load-then-flip on both sides of
    the swap: the OUTGOING handle serves entirely from memory (never
    reads a half-swapped directory), the INCOMING handle loads fully
    from post-swap files before any request sees it — a search is
    answered entirely by one generation, never a mix. A load that
    fails (e.g. a maintenance swap mid-flight) leaves the current
    handle serving and retries next poll.

    Defaults ``current_generation`` to the generation of the handle
    the server already holds, so the first poll doesn't reload a
    freshly opened index. Returns a stop event.

    One of three thin fronts over ``_generation.watch_generation``;
    the verify hook is the torn-swap discard (a swap that COMPLETED
    mid-load produced a possibly-mixed handle — discard and reload at
    the new marker next poll; the residual back-to-back-swaps window
    is documented there)."""
    return _watch_generation(
        read_marker=lambda: _read_ivf_generation(path),
        load=lambda: (
            lambda h: (h, h.generation)
        )(LocalVectorIndex(path, preload=preload)),
        verify=lambda h: _read_ivf_generation(path) == h.generation,
        swap=server.swap_ann,
        initial=(
            current_generation
            if current_generation is not None
            else getattr(server.ann_index, "generation", 0)
        ),
        poll_seconds=poll_seconds,
        name="prefixtree-ivf-watcher",
    )


class LocalSparseIndex:
    """Serving-side BM25 handle over a ``ranking.save_bm25_index``
    layout, no SparkSession in the process — the sparse twin of
    ``LocalVectorIndex``. Meta (scoring params) and corpus stats load
    once; postings and df load LAZILY per (bucket, TERM) through a
    pyarrow dataset filter — the layout writes each bucket file sorted
    by term, so parquet row-group statistics prune the fetch to the
    queried term's row groups — and stay cached per term, so memory
    and bytes are bounded by the terms actually served, never a whole
    bucket (a bucket is corpus_tokens/n_buckets — corpus-proportional
    at scale). ``preload=True`` switches to whole-bucket dict loads
    (the swap-safe, never-touch-disk-again mode).

    Scoring replicates ``ranking._bm25_contrib`` term-for-term in
    float64 (idf mode, k1, b from the layout's frozen meta); the
    cluster paths cast contributions to DECIMAL before summing, so
    serving scores can differ in the last ulp on manufactured
    near-ties — same caveat, same contract as ``LocalVectorIndex``
    (serving promises rank fidelity on real data, the cluster paths
    promise oracle-bit-exactness).

    Generations: the handle pins ``_generation`` at open;
    ``preload=True`` loads every bucket at open (load-then-flip — the
    handle never touches disk again, so a concurrent append/compact
    swap can't mix generations inside one search), and
    ``watch_bm25_index`` flips a fresh preloaded handle in when the
    marker moves."""

    def __init__(self, path: str, *, preload: bool = False):
        import os

        import pyarrow.parquet as pq

        self._path = path
        meta = pq.read_table(os.path.join(path, "meta")).to_pylist()[0]
        self.n_buckets = int(meta["n_buckets"])
        self.k1 = float(meta["k1"])
        self.b = float(meta["b"])
        self.idf = str(meta["idf"])
        self.generation = _read_ivf_generation(path)
        stats = pq.read_table(os.path.join(path, "stats")).to_pydict()
        # merge-on-read increments (append_bm25_index): sum the rows
        self.n_docs = int(sum(stats["n_docs"]))
        self.total_len = int(sum(stats["total_len"]))
        self.avgdl = self.total_len / self.n_docs if self.n_docs else 0.0
        self._post_dir = os.path.join(path, "postings")
        self._df_dir = os.path.join(path, "dfreq")
        # merge-on-read deletes (ranking.delete_bm25_ids), soft-delete
        # semantics: tombstoned docs masked from RESULTS at load time;
        # df/stats keep counting them until compaction (stale-idf
        # interim, the Lucene contract — see delete_bm25_ids)
        ts_dir = os.path.join(path, "_tombstones")
        self._tombstones: frozenset = frozenset()
        if os.path.isdir(ts_dir):
            try:
                self._tombstones = frozenset(
                    pq.read_table(ts_dir, columns=["doc_id"])
                    .column("doc_id")
                    .to_pylist()
                )
            except Exception:
                self._tombstones = frozenset()
        # bucket -> {term: (doc_ids, tf, dl) numpy triples} (preload)
        self._buckets: dict[int, dict] = {}
        # bucket -> {term: df} (preload)
        self._dfs: dict[int, dict] = {}
        # (bucket, term) -> triple / df — the lazy per-term caches
        self._term_posts: dict[tuple, tuple] = {}
        self._term_dfs: dict[tuple, int] = {}
        self._preloaded = False
        if preload:
            for b in range(self.n_buckets):
                self._bucket_postings(b)
                self._bucket_df(b)
            self._preloaded = True

    def _bucket_postings(self, b: int) -> dict:
        import os

        import numpy as np
        import pyarrow.parquet as pq

        got = self._buckets.get(b)
        if got is not None:
            return got
        d = os.path.join(self._post_dir, f"bucket={b}")
        out: dict = {}
        if os.path.isdir(d):
            tbl = pq.read_table(d, columns=["term", "doc_id", "tf", "dl"])
            terms = np.asarray(tbl.column("term").to_pylist(), dtype=object)
            ids = tbl.column("doc_id").to_numpy(zero_copy_only=False)
            tf = tbl.column("tf").to_numpy(zero_copy_only=False).astype(np.float64)
            dl = tbl.column("dl").to_numpy(zero_copy_only=False).astype(np.float64)
            if self._tombstones and len(ids):
                live = ~np.isin(ids, list(self._tombstones))
                terms, ids, tf, dl = terms[live], ids[live], tf[live], dl[live]
            order = np.argsort(terms, kind="stable")
            terms, ids, tf, dl = terms[order], ids[order], tf[order], dl[order]
            # one pass groups the sorted rows by term — no per-term scan
            uniq, starts = np.unique(terms, return_index=True)
            bounds = list(starts) + [len(terms)]
            for i, t in enumerate(uniq):
                s, e = bounds[i], bounds[i + 1]
                out[t] = (ids[s:e], tf[s:e], dl[s:e])
        self._buckets[b] = out
        return out

    def _bucket_df(self, b: int) -> dict:
        import os

        import pyarrow.parquet as pq

        got = self._dfs.get(b)
        if got is not None:
            return got
        d = os.path.join(self._df_dir, f"bucket={b}")
        out: dict = {}
        if os.path.isdir(d):
            tbl = pq.read_table(d, columns=["term", "df"]).to_pydict()
            for t, df in zip(tbl["term"], tbl["df"]):
                out[t] = out.get(t, 0) + int(df)  # merge-on-read rows
        self._dfs[b] = out
        return out

    def _term_postings(self, b: int, t: str):
        """(doc_ids, tf, dl) for ONE term — preloaded handles answer
        from the bucket dict; lazy handles read the bucket dir through
        a pyarrow dataset with a term-equality filter, which the
        term-sorted file layout turns into a row-group-pruned fetch
        (bytes ∝ the term's postings, not the bucket)."""
        import os

        import numpy as np

        if self._preloaded or b in self._buckets:
            return self._bucket_postings(b).get(t)
        key = (b, t)
        if key in self._term_posts:
            return self._term_posts[key]
        d = os.path.join(self._post_dir, f"bucket={b}")
        got = None
        if os.path.isdir(d):
            import pyarrow.compute as pc
            import pyarrow.dataset as pads

            flt = pc.field("term") == t
            if self._tombstones:
                flt = flt & ~pc.field("doc_id").isin(list(self._tombstones))
            tbl = pads.dataset(d, format="parquet").to_table(
                columns=["doc_id", "tf", "dl"], filter=flt
            )
            if tbl.num_rows:
                got = (
                    tbl.column("doc_id").to_numpy(zero_copy_only=False),
                    tbl.column("tf").to_numpy(zero_copy_only=False).astype(np.float64),
                    tbl.column("dl").to_numpy(zero_copy_only=False).astype(np.float64),
                )
        self._term_posts[key] = got
        return got

    def _term_df(self, b: int, t: str):
        """Merge-on-read df for ONE term (sum of increment rows) — the
        per-term lazy twin of ``_bucket_df``."""
        import os

        if self._preloaded or b in self._dfs:
            return self._bucket_df(b).get(t)
        key = (b, t)
        if key in self._term_dfs:
            return self._term_dfs[key]
        d = os.path.join(self._df_dir, f"bucket={b}")
        got = None
        if os.path.isdir(d):
            import pyarrow.compute as pc
            import pyarrow.dataset as pads

            tbl = pads.dataset(d, format="parquet").to_table(
                columns=["df"], filter=pc.field("term") == t
            )
            if tbl.num_rows:
                got = int(sum(tbl.column("df").to_pylist()))
        self._term_dfs[key] = got
        return got

    def search(self, terms, k: int = 10) -> list[tuple]:
        """Top-``k`` (doc_id, score) for one query (an iterable of
        terms, deduplicated — BM25's sum is over distinct query terms,
        as in ``bm25_rank``). Ties break doc_id ascending. Terms absent
        from the corpus contribute nothing. Bytes read are bounded by
        the query TERMS' row groups — never a bucket, never the
        corpus."""
        import math as _math

        from prefixtree_spark.operators.ranking import term_bucket

        scores: dict = {}
        for t in dict.fromkeys(terms):
            if t is None:
                continue  # NULL terms match nothing (bm25_rank's rule)
            b = term_bucket(t, self.n_buckets)
            df = self._term_df(b, t)
            post = self._term_postings(b, t)
            if not df or post is None:
                continue
            if self.idf == "log":
                w = _math.log(
                    (self.n_docs - df + 0.5) / (df + 0.5) + 1.0
                )
            else:
                w = (self.n_docs - df + 0.5) / (df + 0.5)
            ids, tf, dl = post
            contrib = (w * tf * (self.k1 + 1.0)) / (
                tf + self.k1 * (1.0 - self.b + self.b * (dl / self.avgdl))
            )
            for i, c in zip(ids.tolist(), contrib.tolist()):
                scores[i] = scores.get(i, 0.0) + c
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return [(i, float(s)) for i, s in ranked[:k]]


def load_local_bm25_index(path: str, *, preload: bool = False) -> LocalSparseIndex:
    """Open a ``save_bm25_index`` layout as a serving-side handle (no
    SparkSession; pyarrow + numpy only — the sparse analog of
    ``load_local_ivf_index``)."""
    return LocalSparseIndex(path, preload=preload)


def rrf_fuse_local(
    rankings: list[list],
    k: int = 10,
    *,
    c: int = 60,
) -> list[tuple]:
    """Serving-side reciprocal-rank fusion — the replica twin of
    ``ranking.rrf_fuse``, replicating its arithmetic EXACTLY: each
    ranking is an ordered id list (position = rank, 1-based); the
    contribution 1/(c+rank) is one IEEE double division, decimalized
    through the double's SHORTEST round-trip representation (repr —
    what the JVM's Double.toString/BigDecimal.valueOf does inside
    Spark's double→DECIMAL(28,18) cast; Decimal(float) would expand
    the exact binary value instead and diverge at the 18th digit),
    rounded HALF_UP to 18 places and summed in exact Decimal — so
    fused ranks match the cluster workload bit-for-bit, not just
    approximately. Ties break on id ascending. Returns
    [(id, rrf_rank), ...] for the top k."""
    from decimal import ROUND_HALF_UP, Decimal

    q18 = Decimal("1e-18")
    scores: dict = {}
    for ranking in rankings:
        for pos, doc in enumerate(ranking, start=1):
            contrib = Decimal(repr(1.0 / (c + pos))).quantize(
                q18, ROUND_HALF_UP
            )
            scores[doc] = scores.get(doc, Decimal(0)) + contrib
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(doc, i + 1) for i, (doc, _) in enumerate(ranked[:k])]


def watch_bm25_index(
    server: PrefixTreeServer,
    path: str,
    *,
    poll_seconds: float = 5.0,
    preload: bool = True,
    current_generation: int | None = None,
) -> threading.Event:
    """Hot refresh for the sparse side of a serving replica — the BM25
    twin of ``watch_ivf_index``, same discipline: poll the layout's
    ``_generation`` marker (bumped by ``save/append/maintain_bm25_index``
    AFTER their writes complete) and flip a freshly loaded
    ``LocalSparseIndex`` in via ``swap_sparse`` when it moves, with the
    same load-then-flip / discard-on-concurrent-bump handling. A load
    that fails leaves the current handle serving and retries next
    poll. Returns a stop event. One of three thin fronts over
    ``_generation.watch_generation``."""
    return _watch_generation(
        read_marker=lambda: _read_ivf_generation(path),
        load=lambda: (
            lambda h: (h, h.generation)
        )(LocalSparseIndex(path, preload=preload)),
        verify=lambda h: _read_ivf_generation(path) == h.generation,
        swap=server.swap_sparse,
        initial=(
            current_generation
            if current_generation is not None
            else getattr(server.sparse_index, "generation", 0)
        ),
        poll_seconds=poll_seconds,
        name="prefixtree-bm25-watcher",
    )
