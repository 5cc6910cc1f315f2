"""Keep-alive serving process (Roxie analog): HTTP lookups against a
memory-resident index must equal driver-side traversals, across
concurrent clients, without rebuilding the index per request."""

import json
import threading
import urllib.request

from prefixtree_spark import build_local_index, create
from prefixtree_spark.serving import PrefixTreeServer
from tests.conftest import brute_levenshtein
from tests.test_build import SPARSE_WORDS, _words_df


def _get(url):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def test_http_serving_matches_local_index(spark):
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    idx = build_local_index(pt)
    with PrefixTreeServer(idx) as srv:
        assert _get(srv.url("/health"))["nodes"] == len(idx.ids)
        got = [tuple(x) for x in _get(srv.url("/search?q=KAMINSKI&k=1"))]
        assert got == sorted(
            (w, brute_levenshtein("KAMINSKI", w))
            for w in SPARSE_WORDS
            if brute_levenshtein("KAMINSKI", w) <= 1
        )
        assert _get(srv.url("/prefix?p=SM")) == idx.search_prefix("SM")

        # concurrent clients share ONE immutable index (no locks, no
        # rebuilds): hammer it from threads and compare every answer
        queries = ["KAMINSKI", "SMITH", "BAYLISS", "CHARLES", "ZZZZ"]
        results: dict[str, list] = {}

        def client(q):
            results[q] = [tuple(x) for x in _get(srv.url(f"/search?q={q}&k=2"))]

        threads = [threading.Thread(target=client, args=(q,)) for q in queries]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for q in queries:
            assert results[q] == idx.search(q, 2)

    # stopped: the port no longer accepts connections
    import pytest

    with pytest.raises(Exception):
        _get(srv.url("/health"))


def test_http_serving_bad_requests(spark):
    pt = create(_words_df(spark, SPARSE_WORDS), "word")
    with PrefixTreeServer(build_local_index(pt)) as srv:
        import urllib.error

        for path in ("/search", "/search?q=x&k=notanint", "/nope"):
            try:
                _get(srv.url(path))
                raise AssertionError(f"{path} should have failed")
            except urllib.error.HTTPError as e:
                assert e.code in (400, 404)


def test_search_k_clamped_and_double_start_raises(spark):
    """Unbounded k would traverse the whole trie into one response; a
    second start() would leak a live server with no stop handle."""
    import urllib.error

    import pytest as _pt

    pt = create(_words_df(spark, SPARSE_WORDS), "word")
    with PrefixTreeServer(build_local_index(pt)) as srv:
        with _pt.raises(RuntimeError, match="already running"):
            srv.start()
        for bad in ("-1", "9999"):
            try:
                _get(srv.url(f"/search?q=CAT&k={bad}"))
                raise AssertionError(f"k={bad} should have been rejected")
            except urllib.error.HTTPError as e:
                assert e.code == 400, bad
        assert isinstance(_get(srv.url("/search?q=CAT&k=1")), list)


def test_swap_under_load_old_or_new_never_error(spark):
    """Hot refresh (r5 verdict #7, the Roxie package-reload analog):
    clients hammering /search during swap() see answers from the OLD
    or the NEW index — never an error, never a mixed answer — and
    after the swap every answer comes from the new index."""
    pt_a = create(_words_df(spark, ["CAT", "CART"]), "word")
    pt_b = create(_words_df(spark, ["DOG", "DOT"]), "word")
    idx_a, idx_b = build_local_index(pt_a), build_local_index(pt_b)
    ans_a = [tuple(x) for x in idx_a.search("CAT", 1)]
    ans_b = [tuple(x) for x in idx_b.search("CAT", 1)]
    assert ans_a != ans_b
    with PrefixTreeServer(idx_a) as srv:
        stop = threading.Event()
        seen: list = []
        errors: list = []

        def client():
            while not stop.is_set():
                try:
                    seen.append(
                        tuple(tuple(x) for x in _get(srv.url("/search?q=CAT&k=1")))
                    )
                except Exception as exc:  # any failure = contract broken
                    errors.append(exc)
                    return

        threads = [threading.Thread(target=client) for _ in range(4)]
        for t in threads:
            t.start()
        import time

        time.sleep(0.2)
        srv.swap(idx_b)
        time.sleep(0.2)
        stop.set()
        for t in threads:
            t.join(timeout=10)
        assert not errors
        allowed = {tuple(ans_a), tuple(ans_b)}
        assert set(seen) <= allowed and len(seen) > 10
        # post-swap: new index only
        assert [tuple(x) for x in _get(srv.url("/search?q=CAT&k=1"))] == ans_b


def test_watch_published_index_hot_reload(spark, tmp_path):
    """A watcher on a publish_index root swaps each newly published
    version in without restarting: pre-publish answers keep serving
    until v2 lands, then the SAME keep-alive server answers from v2."""
    import time

    from prefixtree_spark.operators.build import publish_index
    from prefixtree_spark.serving import (
        load_local_index_published,
        watch_published_index,
    )

    root = str(tmp_path / "idx_pub")
    publish_index(create(_words_df(spark, ["CAT", "CART"]), "word"), root)
    idx1, ver1 = load_local_index_published(root)
    assert ver1 == 1
    assert sorted(w for w, _ in idx1.search("CAT", 1)) == ["CART", "CAT"]
    with PrefixTreeServer(idx1) as srv:
        stop = watch_published_index(
            srv, root, poll_seconds=0.2, current_version=ver1
        )
        try:
            assert _get(srv.url("/search?q=CAT&k=0")) == [["CAT", 0]]
            publish_index(create(_words_df(spark, ["DOG", "DOT"]), "word"), root)
            deadline = time.time() + 15
            while time.time() < deadline:
                if _get(srv.url("/search?q=DOG&k=0")) == [["DOG", 0]]:
                    break
                time.sleep(0.1)
            else:
                raise AssertionError("watcher never swapped in v2")
            assert _get(srv.url("/search?q=CAT&k=0")) == []
        finally:
            stop.set()


def test_search_damerau_k_clamped_to_half_max_k(spark):
    """metric=damerau probes the trie at 2k, so the traversal budget
    max_k bounds the PROBED radius: requests above max_k // 2 must be
    rejected, at or below it must serve."""
    import urllib.error

    pt = create(_words_df(spark, SPARSE_WORDS), "word")
    with PrefixTreeServer(build_local_index(pt), max_k=4) as srv:
        try:
            _get(srv.url("/search?q=CAT&k=3&metric=damerau"))
            raise AssertionError("damerau k=3 > max_k//2 should be rejected")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        assert isinstance(
            _get(srv.url("/search?q=CAT&k=2&metric=damerau")), list
        )
        # the levenshtein path keeps the full budget
        assert isinstance(_get(srv.url("/search?q=CAT&k=4")), list)


def test_prefix_response_bounded_by_max_hits(spark):
    """/prefix responses cap at max_hits (sorted, deterministic cut,
    X-Truncated header) — p='' must not serialize the dictionary."""
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=2)
    idx = build_local_index(pt)
    with PrefixTreeServer(idx, max_hits=2) as srv:
        # high-fanout prefix (every K* name): capped + flagged
        with urllib.request.urlopen(srv.url("/prefix?p=KA"), timeout=10) as r:
            body = json.loads(r.read())
            assert r.headers.get("X-Truncated") == "true"
        assert body == idx.search_prefix("KA")[:2] and len(body) == 2
        # under the cap: full answer, no truncation header
        with urllib.request.urlopen(srv.url("/prefix?p=DO"), timeout=10) as r:
            body = json.loads(r.read())
            assert r.headers.get("X-Truncated") is None
        assert body == idx.search_prefix("DO")


def test_local_vector_index_matches_cluster_probe(spark, tmp_path):
    """LocalVectorIndex (Spark-session-free pyarrow/numpy handle over
    the IVF-FLAT layout) must return the same neighbor ids, in rank
    order, as the cluster probe at the same nprobe — for both plain
    and replicated lists (replica rows dedup to one seat)."""
    import numpy as np

    from prefixtree_spark.operators import ann
    from prefixtree_spark.serving import load_local_ivf_index

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((4, 8)) * 5
    rows = [
        (int(c_i * 25 + j), [float(x) for x in c + rng.standard_normal(8) * 0.3])
        for c_i, c in enumerate(centers)
        for j in range(25)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for n_replicas in (1, 2):
        path = str(tmp_path / f"ivf_local_r{n_replicas}")
        ann.save_ivf_index(
            df, "vec_id", "embedding", path, n_cells=6,
            n_replicas=n_replicas, sample_size=200,
        )
        local = load_local_ivf_index(path)
        idx = ann.load_ivf_index(spark, path)
        q = df.where(df.vec_id.isin([0, 30, 77]))
        cluster = {}
        for r in ann.cosine_topk_ivf_index(
            q, "vec_id", "embedding", idx, k=5, nprobe=2
        ).collect():
            cluster.setdefault(r.query_id, []).append((r.rank, r.vec_id))
        for qid, emb in [(r[0], r[1]) for r in rows if r[0] in (0, 30, 77)]:
            got = [
                int(v)
                for v, _ in local.search(emb, 6, nprobe=2)
                if int(v) != qid  # cluster path excludes self
            ][:5]
            want = [v for _, v in sorted(cluster[qid])]
            assert got == want, (n_replicas, qid, got, want)


def test_list_column_matrix_zero_copy_matches_pylist():
    # the serving cold path loads cell vectors through the Arrow flat
    # values buffer (one reshape) — must equal the old per-row
    # to_pylist materialization exactly, chunked or not
    import numpy as np
    import pyarrow as pa

    from prefixtree_spark.serving import LocalVectorIndex

    rng = np.random.default_rng(5)
    data = [[float(x) for x in rng.standard_normal(4)] for _ in range(100)]
    col = pa.chunked_array(
        [
            pa.array(data[:60], pa.list_(pa.float32())),
            pa.array(data[60:], pa.list_(pa.float32())),
        ]
    )
    got = LocalVectorIndex._list_column_matrix(col, 4)
    want = np.array(col.combine_chunks().to_pylist(), dtype=np.float64)
    assert got.shape == (100, 4) and got.dtype == np.float64
    assert np.array_equal(got, want)
    empty = pa.chunked_array([pa.array([], pa.list_(pa.float64()))])
    assert LocalVectorIndex._list_column_matrix(empty, 4).shape == (0, 4)
    # a null row can't reshape through the flat buffer → fallback path
    with_null = pa.chunked_array(
        [pa.array([[1.0, 2.0], None], pa.list_(pa.float64()))]
    )
    try:
        LocalVectorIndex._list_column_matrix(with_null, 2)
        raised = False
    except (ValueError, TypeError):
        raised = True
    assert raised  # layout guarantees non-null; fallback surfaces it


def _pq_fixture(spark, tmp_path, name):
    import numpy as np

    from prefixtree_spark.operators import ann

    rng = np.random.default_rng(17)
    centers = rng.standard_normal((5, 16)) * 5
    rows = []
    vid = 0
    for c in centers:
        for _ in range(20):
            v = c + rng.standard_normal(16) * 0.3
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / name)
    ann.save_ivf_index(
        df, "vec_id", "embedding", path, n_cells=5, sample_size=200, pq_m=4
    )
    return rows, path


def test_local_vector_index_pq_mode(spark, tmp_path):
    """The ADC serving path: probed cells score from stored PQ codes
    (never loading the float column wholesale), the padded top is
    exactly reranked — recall ≥ 0.95 vs the flat path at equal nprobe
    on clustered data, and EXACT equality under full probe with a
    generous pad (the rerank is exact, so a lossless prefilter makes
    the two paths identical)."""
    from prefixtree_spark.serving import load_local_ivf_index

    rows, path = _pq_fixture(spark, tmp_path, "ivf_pq_serving")
    local = load_local_ivf_index(path)
    assert local.codebooks is not None
    hits = total = 0
    for qid in range(0, 100, 7):
        flat = [v for v, _ in local.search(rows[qid][1], 6, nprobe=2)]
        pqr = [v for v, _ in local.search_pq(rows[qid][1], 6, nprobe=2)]
        total += len(flat)
        hits += len(set(flat) & set(pqr))
    assert hits / total >= 0.95, (hits, total)
    for qid in (0, 33, 77):
        flat = local.search(rows[qid][1], 5, nprobe=5)
        pqr = local.search_pq(rows[qid][1], 5, nprobe=5, pad_factor=50)
        assert [(int(a), round(b, 9)) for a, b in flat] == [
            (int(a), round(b, 9)) for a, b in pqr
        ]
    # structural byte pin: search_pq loaded code cells only — the flat
    # float-column cache must still be EMPTY on a fresh handle
    fresh = load_local_ivf_index(path)
    fresh.search_pq(rows[3][1], 5, nprobe=3)
    assert fresh._code_cells and not fresh._cells


def test_ann_endpoint_pq_mode(spark, tmp_path):
    import urllib.error

    rows, path = _pq_fixture(spark, tmp_path, "ivf_pq_http")
    from prefixtree_spark.serving import load_local_ivf_index

    local = load_local_ivf_index(path)
    pt = create(_words_df(spark, ["CAT"]), "word")
    with PrefixTreeServer(
        build_local_index(pt), ann_index=local, max_ann_k=5
    ) as srv:
        v = ",".join(str(x) for x in rows[7][1])
        got = _get(srv.url(f"/ann?v={v}&k=3&nprobe=5&mode=pq"))
        want = local.search_pq(rows[7][1], 3, nprobe=5)
        assert [(x[0], round(x[1], 9)) for x in got] == [
            (int(a), round(b, 9)) for a, b in want
        ]
        try:
            _get(srv.url(f"/ann?v={v}&k=3&mode=bogus"))
            raise AssertionError("bad mode should 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    # mode=pq on a codeless (flat-only) layout → 400
    import numpy as np

    from prefixtree_spark.operators import ann

    rng = np.random.default_rng(3)
    flat_rows = [
        (i, [float(x) for x in rng.standard_normal(4)]) for i in range(40)
    ]
    df = spark.createDataFrame(flat_rows, "vec_id long, embedding array<double>")
    fpath = str(tmp_path / "ivf_flat_only")
    ann.save_ivf_index(df, "vec_id", "embedding", fpath, n_cells=4,
                       sample_size=100)
    with PrefixTreeServer(
        build_local_index(pt), ann_index=load_local_ivf_index(fpath)
    ) as srv2:
        v4 = "1,2,3,4"
        try:
            _get(srv2.url(f"/ann?v={v4}&k=3&mode=pq"))
            raise AssertionError("pq mode without codes should 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400


def test_ann_endpoint_serves_and_clamps(spark, tmp_path):
    import urllib.error

    import numpy as np

    from prefixtree_spark.operators import ann
    from prefixtree_spark.serving import load_local_ivf_index

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.standard_normal(4)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf_http")
    ann.save_ivf_index(df, "vec_id", "embedding", path, n_cells=4, sample_size=100)
    local = load_local_ivf_index(path)
    pt = create(_words_df(spark, ["CAT"]), "word")
    with PrefixTreeServer(
        build_local_index(pt), ann_index=local, max_ann_k=5
    ) as srv:
        v = ",".join(str(x) for x in rows[7][1])
        got = _get(srv.url(f"/ann?v={v}&k=3&nprobe=4"))
        want = local.search(rows[7][1], 3, nprobe=4)
        assert [(x[0], round(x[1], 9)) for x in got] == [
            (int(a), round(b, 9)) for a, b in want
        ]
        assert got[0][0] == 7  # the vector itself tops its own lookup
        # inf/nan parse as floats but would poison cosine scores and
        # make json.dumps emit invalid-JSON Infinity/NaN tokens → 400
        for bad in (
            "k=6", "k=0", "nprobe=99", "v=1.0&k=3",
            "v=inf,0,0,0&k=3", "v=0,nan,0,0&k=3", "v=-inf,0,0,0&k=3",
        ):
            try:
                _get(srv.url(f"/ann?{bad if 'v=' in bad else f'v={v}&' + bad}"))
                raise AssertionError(f"{bad} should have been rejected")
            except urllib.error.HTTPError as e:
                assert e.code == 400, bad
        # no vector index loaded → 404
    with PrefixTreeServer(build_local_index(pt)) as srv2:
        try:
            _get(srv2.url("/ann?v=1,2,3,4"))
            raise AssertionError("should 404 without ann_index")
        except urllib.error.HTTPError as e:
            assert e.code == 404


def test_local_vector_index_filtered_search(spark, tmp_path):
    """Serving-side filtered search: where=(payload, allowed) masks
    rows BEFORE scoring, so the answer equals the cluster path's
    filtered full-probe exactly."""
    import numpy as np

    from pyspark.sql import functions as F

    from prefixtree_spark.operators import ann
    from prefixtree_spark.serving import load_local_ivf_index

    rng = np.random.default_rng(23)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lab = df.withColumn("label", (F.col("vec_id") % 3).cast("int"))
    path = str(tmp_path / "ivf_srv_filter")
    ann.save_ivf_index(
        lab, "vec_id", "embedding", path, n_cells=4, sample_size=100,
        payload_cols=["label"],
    )
    local = load_local_ivf_index(path)
    idx = ann.load_ivf_index(spark, path)
    for qid in (0, 7, 31):
        got = [
            (int(v), round(s, 9))
            for v, s in local.search(
                rows[qid][1], 6, nprobe=4, where=("label", {1})
            )
            if int(v) != qid
        ][:5]
        want = [
            (r.vec_id, round(r.cosine, 9)) if hasattr(r, "cosine")
            else (r.vec_id, None)
            for r in ann.cosine_topk_ivf_index(
                lab.where(f"vec_id = {qid}"), "vec_id", "embedding", idx,
                k=5, nprobe=4, where="label = 1",
            ).orderBy("rank").collect()
        ]
        assert [g[0] for g in got] == [w[0] for w in want], (qid, got, want)
        # every hit really carries the allowed label
        assert all(v % 3 == 1 for v, _ in got)
    # unfiltered search unchanged by the payload layout
    plain = [int(v) for v, _ in local.search(rows[0][1], 5, nprobe=4)]
    assert plain[0] == 0


def _ivf_corpus(spark):
    """Three strata with KNOWN cosine order against the fixed query
    e0: cluster A (ids 0-39, cos ≈ 0.45), hot B (100-102, cos ≈ 1),
    cold B (103-119, cos ≈ 0) — so every generation's top-5 id set is
    distinct and a cross-generation mix is detectable."""
    import numpy as np

    rng = np.random.default_rng(23)
    dim = 8
    vq = [0.0] * dim
    vq[0] = 1.0
    rows = []
    cA = np.zeros(dim); cA[0] = 0.5; cA[1] = 1.0
    for i in range(40):
        v = cA + rng.standard_normal(dim) * 0.05
        rows.append((i, [float(x) for x in v]))
    for i in range(100, 103):  # hot B: nearly parallel to vq
        v = np.asarray(vq) + rng.standard_normal(dim) * 0.01
        rows.append((i, [float(x) for x in v]))
    cC = np.zeros(dim); cC[2] = 1.0
    for i in range(103, 120):  # cold B: orthogonal-ish to vq
        v = cC + rng.standard_normal(dim) * 0.05
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, rows, vq


def _exact_top_ids(rows, ids, vq, k=5):
    import numpy as np

    sub = [(i, v) for i, v in rows if i in ids]
    m = np.array([v for _, v in sub])
    q = np.array(vq)
    cos = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    order = sorted(range(len(sub)), key=lambda j: (-cos[j], sub[j][0]))
    return tuple(sub[j][0] for j in order[:k])


def test_ivf_generation_pins_and_writers_bump(spark, tmp_path):
    """The layout's _generation marker: absent on a fresh save (gen 0),
    bumped by append_ivf_index and by every maintain_ivf_index swap —
    always AFTER the writes — and pinned by LocalVectorIndex at open."""
    from prefixtree_spark.operators import ann
    from prefixtree_spark.serving import (
        _read_ivf_generation,
        load_local_ivf_index,
    )

    df, rows, _ = _ivf_corpus(spark)
    path = str(tmp_path / "ivf_gen")
    ann.save_ivf_index(df.where("vec_id < 40"), "vec_id", "embedding",
                       path, n_cells=4, sample_size=200)
    assert _read_ivf_generation(path) == 0
    h0 = load_local_ivf_index(path)
    assert h0.generation == 0
    ann.append_ivf_index(spark, path, df.where("vec_id >= 100"),
                         "vec_id", "embedding")
    assert _read_ivf_generation(path) == 1
    rep = ann.maintain_ivf_index(spark, path, retrain_frac=0.02)
    assert rep["retrained"]
    assert _read_ivf_generation(path) == 2
    h2 = load_local_ivf_index(path, preload=True)
    assert h2.generation == 2 and h2._preloaded
    # no-op maintenance must NOT bump (replicas shouldn't reload)
    rep2 = ann.maintain_ivf_index(spark, path, retrain_frac=0.9,
                                  max_files_per_cell=99)
    assert not rep2["retrained"] and not rep2["compacted"]
    assert _read_ivf_generation(path) == 2


def test_watch_ivf_index_hot_reload(spark, tmp_path):
    """The /ann twin of test_watch_published_index_hot_reload: a
    watcher on the layout's generation marker flips a freshly
    preloaded LocalVectorIndex into the live server when maintenance
    swaps the layout — same keep-alive server, new answers."""
    import time

    from prefixtree_spark import build_local_index
    from prefixtree_spark.operators import ann
    from prefixtree_spark.serving import (
        load_local_ivf_index,
        watch_ivf_index,
    )
    from tests.test_build import _words_df

    df, rows, vq = _ivf_corpus(spark)
    path = str(tmp_path / "ivf_watch")
    ann.save_ivf_index(df.where("vec_id < 40"), "vec_id", "embedding",
                       path, n_cells=4, sample_size=200)
    e1 = _exact_top_ids(rows, set(range(40)), vq)
    e2 = _exact_top_ids(rows, set(range(40)) | set(range(100, 120)), vq)
    assert e1 != e2
    pt = create(_words_df(spark, ["CAT"]), "word")
    vurl = f"/ann?v={','.join(str(x) for x in vq)}&k=5&nprobe=4"
    with PrefixTreeServer(
        build_local_index(pt),
        ann_index=load_local_ivf_index(path, preload=True),
    ) as srv:
        stop = watch_ivf_index(srv, path, poll_seconds=0.2)
        try:
            assert tuple(v for v, _ in _get(srv.url(vurl))) == e1
            ann.append_ivf_index(
                spark, path, df.where("vec_id >= 100"),
                "vec_id", "embedding",
            )
            deadline = time.time() + 15
            while time.time() < deadline:
                if tuple(v for v, _ in _get(srv.url(vurl))) == e2:
                    break
                time.sleep(0.1)
            else:
                raise AssertionError("watcher never swapped the /ann handle")
            assert srv.ann_index.generation == 1
        finally:
            stop.set()


def test_ivf_retrain_swap_under_load_entirely_old_or_new(spark, tmp_path):
    """r8 verdict #2 'Done =': clients hammering /ann while the index
    is appended to AND retrain-swapped by maintain_ivf_index see
    answers that are ENTIRELY one generation's — never an error,
    never a cross-generation mix — and converge on the final one."""
    import time

    from prefixtree_spark import build_local_index
    from prefixtree_spark.operators import ann
    from prefixtree_spark.serving import (
        load_local_ivf_index,
        watch_ivf_index,
    )
    from tests.test_build import _words_df

    df, rows, vq = _ivf_corpus(spark)
    a_ids = set(range(40))
    b_ids = set(range(100, 120))
    e1 = _exact_top_ids(rows, a_ids, vq)          # gen: A only
    e2 = _exact_top_ids(rows, a_ids | b_ids, vq)  # gen: A ∪ B (append)
    e3 = _exact_top_ids(rows, b_ids, vq)          # gen: B only (reconcile)
    assert len({e1, e2, e3}) == 3
    path = str(tmp_path / "ivf_hammer")
    ann.save_ivf_index(df.where("vec_id < 40"), "vec_id", "embedding",
                       path, n_cells=4, sample_size=200)
    pt = create(_words_df(spark, ["CAT"]), "word")
    vurl = f"/ann?v={','.join(str(x) for x in vq)}&k=5&nprobe=4"
    with PrefixTreeServer(
        build_local_index(pt),
        ann_index=load_local_ivf_index(path, preload=True),
    ) as srv:
        watcher = watch_ivf_index(srv, path, poll_seconds=0.2)
        halt = threading.Event()
        seen: list = []
        errors: list = []

        def client():
            while not halt.is_set():
                try:
                    seen.append(tuple(v for v, _ in _get(srv.url(vurl))))
                except Exception as exc:  # any failure = contract broken
                    errors.append(exc)
                    return

        threads = [threading.Thread(target=client) for _ in range(3)]
        for t in threads:
            t.start()
        try:
            time.sleep(0.3)
            ann.append_ivf_index(spark, path, df.where("vec_id >= 100"),
                                 "vec_id", "embedding")
            deadline = time.time() + 15
            while time.time() < deadline and (not seen or seen[-1] != e2):
                time.sleep(0.1)
            keep = df.where("vec_id >= 100").select("vec_id")
            rep = ann.maintain_ivf_index(spark, path, reconcile_ids=keep)
            assert rep["reconciled"] == 40
            deadline = time.time() + 15
            while time.time() < deadline and (not seen or seen[-1] != e3):
                time.sleep(0.1)
        finally:
            halt.set()
            for t in threads:
                t.join(timeout=10)
            watcher.set()
        assert not errors, errors[:3]
        assert seen and seen[-1] == e3, seen[-5:]
        disallowed = [s for s in seen if s not in (e1, e2, e3)]
        assert not disallowed, disallowed[:5]


def test_local_vector_index_respects_tombstones(spark, tmp_path):
    """delete_ivf_ids tombstones must mask rows in the serving handle
    too — lazy and preloaded, flat and PQ paths — and the delete bumps
    the generation so watched replicas reload."""
    from prefixtree_spark.operators import ann
    from prefixtree_spark.serving import load_local_ivf_index

    df, rows, vq = _ivf_corpus(spark)
    path = str(tmp_path / "ivf_srv_tomb")
    ann.save_ivf_index(df, "vec_id", "embedding", path, n_cells=4,
                       sample_size=300, pq_m=4)
    g0 = ann.load_ivf_index(spark, path)  # noqa: F841 (sanity open)
    assert ann.delete_ivf_ids(spark, path, [100]) == 1  # the top hit
    from prefixtree_spark.serving import _read_ivf_generation

    assert _read_ivf_generation(path) == 1
    want = list(
        _exact_top_ids(rows, {i for i, _ in rows if i != 100}, vq, k=5)
    )
    for preload in (False, True):
        h = load_local_ivf_index(path, preload=preload)
        got = [int(v) for v, _ in h.search(vq, 5, nprobe=4)]
        assert got == want, (preload, got, want)
        got_pq = [int(v) for v, _ in h.search_pq(vq, 5, nprobe=4)]
        assert got_pq == want, (preload, got_pq, want)


# ---------------------------------------------------------------------------
# sparse (BM25) serving + hybrid fusion
# ---------------------------------------------------------------------------


def _bm25_fixture(spark, tmp_path):
    from pyspark.sql import functions as F

    from prefixtree_spark.operators import ranking

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "bm25_srv")
    ranking.save_bm25_index(docs, "doc_id", "text", path, n_buckets=8, idf="ratio")
    return docs, path


def test_local_sparse_index_matches_cluster(spark, tmp_path):
    """LocalSparseIndex.search ranks == bm25_rank ranks on the fixture,
    lazy and preloaded — the Spark-free replica scores the stored
    postings identically (rank fidelity; scores are float64, the
    documented serving caveat)."""
    from prefixtree_spark.operators import ranking
    from prefixtree_spark.serving import load_local_bm25_index

    docs, path = _bm25_fixture(spark, tmp_path)
    cases = [
        (1, ["the", "data", "of"]),
        (2, ["and", "a"]),
        (3, ["in", "to", "is"]),
    ]
    qdf = spark.createDataFrame(cases, "qid long, terms array<string>")
    want: dict = {}
    for r in ranking.bm25_rank(
        docs, "doc_id", "text", qdf, "qid", "terms", idf="ratio"
    ).collect():
        want.setdefault(r.query_id, []).append((r.rank, r.doc_id))
    for preload in (False, True):
        h = load_local_bm25_index(path, preload=preload)
        assert h.generation >= 1  # save bumps; the handle pins at open
        for qid, terms in cases:
            got = [int(i) for i, _ in h.search(terms, 10)]
            expect = [i for _, i in sorted(want.get(qid, []))]
            assert got == expect, (preload, qid, got, expect)
        # absent terms contribute nothing; all-absent → empty
        assert h.search(["zzqqxxyy_not_a_term"], 5) == []
        # duplicate terms don't double count (distinct-terms rule)
        assert h.search(["the", "the", "data", "of"], 10) == h.search(
            ["the", "data", "of"], 10
        )


def test_sparse_and_hybrid_endpoints(spark, tmp_path):
    """/sparse serves the sparse handle; /hybrid == the cluster's
    rrf_fuse(bm25_rank, cosine_topk) fusion on the fixture (the r9
    verdict's Done criterion), exact to the rank — rrf_fuse_local
    replicates the decimal arithmetic. Bad inputs 400; missing
    indexes 404."""
    import urllib.error

    from pyspark.sql import functions as F

    from prefixtree_spark.operators import ann, ranking
    from prefixtree_spark.serving import (
        load_local_bm25_index,
        load_local_ivf_index,
    )

    docs, path = _bm25_fixture(spark, tmp_path)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf_path = str(tmp_path / "ivf_srv")
    ann.save_ivf_index(emb, "vec_id", "embedding", ivf_path, n_cells=8)

    terms = ["the", "data", "of"]
    qid = 900009  # synthetic: not a corpus id, so exclude_self is moot
    vq = [float((i * 37 % 19) - 9) / 10.0 for i in range(64)]
    qdf = spark.createDataFrame([(qid, terms)], "qid long, terms array<string>")
    bm = ranking.bm25_rank(docs, "doc_id", "text", qdf, "qid", "terms", idf="ratio")
    qv = spark.createDataFrame([(qid, vq)], "vec_id long, embedding array<double>")
    dense = ann.cosine_topk(
        qv, "vec_id", "embedding", emb, "vec_id", "embedding", k=10
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    want_fused = [
        (r.doc_id, r.rrf_rank)
        for r in ranking.rrf_fuse([bm, dense], "query_id", "doc_id", k=5)
        .orderBy("rrf_rank")
        .collect()
    ]
    want_sparse = [
        r.doc_id for r in bm.orderBy("rank").collect()
    ]

    pt = create(_words_df(spark, SPARSE_WORDS), "word")
    with PrefixTreeServer(
        build_local_index(pt),
        ann_index=load_local_ivf_index(ivf_path),
        sparse_index=load_local_bm25_index(path),
    ) as srv:
        got_sparse = [
            int(i) for i, _ in _get(srv.url(f"/sparse?terms={','.join(terms)}&k=10"))
        ]
        assert got_sparse == want_sparse
        vcsv = ",".join(str(x) for x in vq)
        got_fused = [
            (int(i), int(r))
            for i, r in _get(
                srv.url(
                    f"/hybrid?terms={','.join(terms)}&v={vcsv}"
                    "&k=5&k_each=10&nprobe=8"
                )
            )
        ]
        assert got_fused == want_fused
        # bounds: bad k, too many terms, bad vector, bad mode
        import pytest

        for bad in (
            f"/sparse?terms=a&k=0",
            "/sparse?terms=" + ",".join(["t"] * 65) + "&k=5",
            f"/hybrid?terms=a&v={vcsv}&k=0",
            f"/hybrid?terms=a&v=1,inf&k=5",
            f"/hybrid?terms=a&v={vcsv}&k=5&mode=bogus",
            f"/hybrid?terms=a&v={vcsv}&k=5&c=-1",
        ):
            with pytest.raises(urllib.error.HTTPError) as e:
                _get(srv.url(bad))
            assert e.value.code == 400, bad

    # no sparse index loaded → 404 on both endpoints
    with PrefixTreeServer(build_local_index(pt)) as srv2:
        import pytest

        for p in (f"/sparse?terms=a&k=5", f"/hybrid?terms=a&v={vcsv}&k=5"):
            with pytest.raises(urllib.error.HTTPError) as e:
                _get(srv2.url(p))
            assert e.value.code == 404


def test_watch_bm25_index_hot_reload(spark, tmp_path):
    """The sparse twin of watch_ivf_index: an append bumps the
    generation, the watcher flips a fresh preloaded handle in, and
    /sparse starts serving the post-append ranking — the old handle
    serves untouched until the flip."""
    import time

    from prefixtree_spark.operators import ranking
    from prefixtree_spark.serving import (
        load_local_bm25_index,
        watch_bm25_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    half1 = docs.where("doc_id % 2 = 0")
    half2 = docs.where("doc_id % 2 = 1")
    path = str(tmp_path / "bm25_watch")
    ranking.save_bm25_index(half1, "doc_id", "text", path, n_buckets=4, idf="ratio")
    terms = ["the", "data", "of"]

    qdf = spark.createDataFrame([(1, terms)], "qid long, terms array<string>")
    want_old = [
        r.doc_id
        for r in ranking.bm25_rank(
            half1, "doc_id", "text", qdf, "qid", "terms", idf="ratio"
        ).orderBy("rank").collect()
    ]
    want_new = [
        r.doc_id
        for r in ranking.bm25_rank(
            docs, "doc_id", "text", qdf, "qid", "terms", idf="ratio"
        ).orderBy("rank").collect()
    ]
    assert want_old != want_new  # the flip must be observable

    pt = create(_words_df(spark, SPARSE_WORDS), "word")
    with PrefixTreeServer(
        build_local_index(pt),
        sparse_index=load_local_bm25_index(path, preload=True),
    ) as srv:
        stop = watch_bm25_index(srv, path, poll_seconds=0.2)
        try:
            url = srv.url(f"/sparse?terms={','.join(terms)}&k=10")
            assert [int(i) for i, _ in _get(url)] == want_old
            ranking.append_bm25_index(spark, path, half2, "doc_id", "text")
            deadline = time.time() + 20
            got = None
            while time.time() < deadline:
                got = [int(i) for i, _ in _get(url)]
                if got == want_new:
                    break
                assert got == want_old, got  # never a mixed generation
                time.sleep(0.2)
            assert got == want_new
        finally:
            stop.set()


def test_search_pq_filtered_and_http_filter_params(spark, tmp_path):
    """Filtered vector search completes the serving story: search_pq
    masks by stored payload BEFORE ADC scoring (payloads ride the SAME
    read as the codes) and widens a starved probe; /ann exposes the
    filter for both modes and 400s on unknown columns or a half-passed
    pair."""
    import json
    import urllib.error
    import urllib.request

    import pytest
    from pyspark.sql import functions as F

    from prefixtree_spark.operators import ann
    from prefixtree_spark.serving import load_local_ivf_index

    df, rows, vq = _ivf_corpus(spark)
    lab = df.withColumn("label", (F.col("vec_id") % 2).cast("int"))
    path = str(tmp_path / "ivf_pqf")
    ann.save_ivf_index(lab, "vec_id", "embedding", path, n_cells=4,
                       sample_size=300, pq_m=4, payload_cols=["label"])
    h = load_local_ivf_index(path)
    want_even = list(
        _exact_top_ids(rows, {i for i, _ in rows if i % 2 == 0}, vq, k=5)
    )
    # full probe: exact filtered top-k through the ADC path
    got = [int(v) for v, _ in h.search_pq(vq, 5, nprobe=4,
                                          where=("label", [0]))]
    assert got == want_even
    # starved narrow probe widens: same answer from nprobe=1
    got1 = [int(v) for v, _ in h.search_pq(vq, 5, nprobe=1, pad_factor=50,
                                           where=("label", [0]))]
    assert set(got1) <= {i for i, _ in rows if i % 2 == 0}
    assert len(got1) == 5  # never a silently short list
    with pytest.raises(KeyError, match="nope"):
        h.search_pq(vq, 5, nprobe=4, where=("nope", [0]))

    pt = create(_words_df(spark, SPARSE_WORDS), "word")
    with PrefixTreeServer(build_local_index(pt), ann_index=h) as srv:
        vcsv = ",".join(str(x) for x in vq)
        for mode in ("flat", "pq"):
            hits = _get(srv.url(
                f"/ann?v={vcsv}&k=5&nprobe=4&mode={mode}"
                "&filter_col=label&filter_vals=0"
            ))
            assert [int(v) for v, _ in hits] == want_even, mode
        for bad in (
            f"/ann?v={vcsv}&k=5&filter_col=label",           # half a pair
            f"/ann?v={vcsv}&k=5&filter_col=nope&filter_vals=0",  # no column
        ):
            with pytest.raises(urllib.error.HTTPError) as e:
                _get(srv.url(bad))
            assert e.value.code == 400, bad


def test_sparse_text_param_tokenizes_server_side(spark, tmp_path):
    """?text= must tokenize with the same whitespace rule the indexed
    probes use, so /sparse?text=q equals /sparse?terms=split(q)."""
    from urllib.parse import quote

    from prefixtree_spark.serving import load_local_bm25_index

    _, path = _bm25_fixture(spark, tmp_path)
    pt = create(_words_df(spark, SPARSE_WORDS), "word")
    with PrefixTreeServer(
        build_local_index(pt), sparse_index=load_local_bm25_index(path)
    ) as srv:
        raw = "the  data\tof"  # mixed whitespace, like real queries
        a = _get(srv.url(f"/sparse?text={quote(raw)}&k=10"))
        b = _get(srv.url("/sparse?terms=the,data,of&k=10"))
        assert a == b and a


def test_ann_http_filter_matches_string_typed_payloads(spark, tmp_path):
    """r9 review #2: digit-like filter values against a STRING-typed
    payload column must still match over HTTP — the parser emits every
    plausible typed form, not a single int guess (which matched
    nothing and paid the starvation ladder's full escalation for an
    empty answer)."""
    from pyspark.sql import functions as F

    from prefixtree_spark.operators import ann
    from prefixtree_spark.serving import load_local_ivf_index

    df, rows, vq = _ivf_corpus(spark)
    lab = df.withColumn(
        "year",
        F.when(F.col("vec_id") % 2 == 0, F.lit("2021")).otherwise(F.lit("2022")),
    )
    path = str(tmp_path / "ivf_strpay")
    ann.save_ivf_index(lab, "vec_id", "embedding", path, n_cells=4,
                       sample_size=300, payload_cols=["year"])
    want = list(
        _exact_top_ids(rows, {i for i, _ in rows if i % 2 == 0}, vq, k=5)
    )
    pt = create(_words_df(spark, SPARSE_WORDS), "word")
    with PrefixTreeServer(
        build_local_index(pt), ann_index=load_local_ivf_index(path)
    ) as srv:
        vcsv = ",".join(str(x) for x in vq)
        hits = _get(srv.url(
            f"/ann?v={vcsv}&k=5&nprobe=4&filter_col=year&filter_vals=2021"
        ))
        assert [int(v) for v, _ in hits] == want


def test_health_reports_replica_index_state(spark, tmp_path):
    """/health is the serving twin of the cluster describe_* views:
    generation, size and preload/tombstone state for every handle the
    replica serves — and absent sections for indexes not loaded."""
    from prefixtree_spark.operators import ann, ranking
    from prefixtree_spark.serving import (
        load_local_bm25_index,
        load_local_ivf_index,
    )

    docs, path = _bm25_fixture(spark, tmp_path)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf_path = str(tmp_path / "ivf_health")
    ann.save_ivf_index(emb, "vec_id", "embedding", ivf_path, n_cells=8)
    ranking.delete_bm25_ids(spark, path, [r.doc_id for r in docs.limit(1).collect()])

    pt = create(_words_df(spark, SPARSE_WORDS), "word")
    with PrefixTreeServer(
        build_local_index(pt),
        ann_index=load_local_ivf_index(ivf_path, preload=True),
        sparse_index=load_local_bm25_index(path),
    ) as srv:
        h = _get(srv.url("/health"))
        assert h["nodes"] > 0
        assert h["ann"]["n_cells"] == 8 and h["ann"]["preloaded"]
        assert h["ann"]["tombstones"] == 0
        assert h["sparse"]["n_docs"] == docs.count()
        assert h["sparse"]["tombstones"] == 1
        assert h["sparse"]["generation"] >= 1  # save + delete bumped

    with PrefixTreeServer(build_local_index(pt)) as srv2:
        h2 = _get(srv2.url("/health"))
        assert "ann" not in h2 and "sparse" not in h2


def test_health_reports_attached_published_corpus(spark, tmp_path):
    """/health gains a published-corpus section (r10 verdict #6): the
    serving replica summarizes an attached table's version chain and
    vacuum debt through the SparkSession-free local twin."""
    from pyspark.sql import functions as F

    from prefixtree_spark.sources.io import publish_version

    root = str(tmp_path / "pub_srv")
    df = spark.range(50).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text")
    )
    publish_version(df, root)
    publish_version(df.where("doc_id < 25"), root)
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    idx = build_local_index(pt)
    srv = PrefixTreeServer(idx)
    srv.attach_published("corpus", root)
    with srv:
        body = _get(srv.url("/health"))
    pub = body["published"]["corpus"]
    assert pub["version"] == 2 and pub["n_versions"] == 2
    assert pub["chain_length"] == 1
    assert pub["live_bytes"] > 0 and pub["dead_dirs"] == 1


def test_multi_endpoint_hammer_across_both_family_swaps(spark, tmp_path):
    """r10 verdict #4 — the reader-during-swap contract at realistic
    concurrency: six client threads hammer /ann + /sparse + /hybrid
    (plus /health) CONTINUOUSLY while BOTH index families swap
    multiple times under them (IVF reconcile_with A→B→A→B, BM25
    rebuild_from D1→D2→D1→D2). Every answer must be entirely one
    generation's (a cross-family combination is legal — /hybrid reads
    each handle once; a cross-GENERATION mix within one family is
    not), zero errors/500s, and the stream converges on the final
    generations. The r10(2).1 mixed-read window is exactly the bug
    class only a hammer catches."""
    import time

    from pyspark.sql import functions as F

    from prefixtree_spark.operators import ann, ranking
    from prefixtree_spark.serving import (
        load_local_bm25_index,
        load_local_ivf_index,
        watch_bm25_index,
        watch_ivf_index,
    )
    from tests.test_build import _words_df

    # --- IVF fixture: two disjoint generations with distinct top-5 ---
    df, rows, vq = _ivf_corpus(spark)
    a_ids, b_ids = set(range(40)), set(range(100, 120))
    dfA, dfB = df.where("vec_id < 40"), df.where("vec_id >= 100")
    eA = _exact_top_ids(rows, a_ids, vq)
    eB = _exact_top_ids(rows, b_ids, vq)
    eAB = _exact_top_ids(rows, a_ids | b_ids, vq)  # mid-swap: append landed
    assert len({eA, eB, eAB}) == 3
    ivf_path = str(tmp_path / "ivf_hammer2")
    ann.save_ivf_index(dfA, "vec_id", "embedding", ivf_path,
                       n_cells=4, sample_size=200)

    # --- BM25 fixture: two disjoint doc sets with distinct ranks ----
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d1, d2 = docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1")
    bm_path = str(tmp_path / "bm25_hammer2")
    ranking.save_bm25_index(d1, "doc_id", "text", bm_path,
                            n_buckets=8, idf="ratio")
    terms = ["the", "data", "of"]
    qid = 900009
    qdf = spark.createDataFrame([(qid, terms)], "qid long, terms array<string>")

    def _sparse_expected(dsrc):
        return tuple(
            int(r.doc_id)
            for r in ranking.bm25_rank(
                dsrc, "doc_id", "text", qdf, "qid", "terms", idf="ratio"
            ).orderBy("rank").limit(10).collect()
        )
    s1, s2 = _sparse_expected(d1), _sparse_expected(d2)
    assert s1 != s2

    def _hybrid_expected(dsrc, corpus_df):
        bm = ranking.bm25_rank(
            dsrc, "doc_id", "text", qdf, "qid", "terms", idf="ratio"
        )
        qv = spark.createDataFrame(
            [(qid, [float(x) for x in vq])],
            "vec_id long, embedding array<double>",
        )
        dense = ann.cosine_topk(
            qv, "vec_id", "embedding", corpus_df, "vec_id", "embedding",
            k=10,
        ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
        return tuple(
            (int(r.doc_id), int(r.rrf_rank))
            for r in ranking.rrf_fuse([bm, dense], "query_id", "doc_id", k=5)
            .orderBy("rrf_rank")
            .collect()
        )
    hybrid_ok = {
        _hybrid_expected(d, c)
        for d in (d1, d2) for c in (dfA, dfB, df)
    }
    assert len(hybrid_ok) >= 2

    pt = create(_words_df(spark, ["CAT"]), "word")
    vcsv = ",".join(str(x) for x in vq)
    urls = {
        "ann": f"/ann?v={vcsv}&k=5&nprobe=4",
        "sparse": f"/sparse?terms={','.join(terms)}&k=10",
        "hybrid": f"/hybrid?terms={','.join(terms)}&v={vcsv}"
                  "&k=5&k_each=10&nprobe=4",
        "health": "/health",
    }
    with PrefixTreeServer(
        build_local_index(pt),
        ann_index=load_local_ivf_index(ivf_path, preload=True),
        sparse_index=load_local_bm25_index(bm_path, preload=True),
    ) as srv:
        w1 = watch_ivf_index(srv, ivf_path, poll_seconds=0.2)
        w2 = watch_bm25_index(srv, bm_path, poll_seconds=0.2)
        halt = threading.Event()
        seen = {"ann": [], "sparse": [], "hybrid": []}
        errors: list = []

        def client(kind):
            while not halt.is_set():
                try:
                    out = _get(srv.url(urls[kind]))
                    if kind == "ann":
                        seen[kind].append(tuple(int(v) for v, _ in out))
                    elif kind == "sparse":
                        seen[kind].append(tuple(int(v) for v, _ in out))
                    elif kind == "hybrid":
                        seen[kind].append(
                            tuple((int(i), int(r)) for i, r in out)
                        )
                except Exception as exc:  # any failure = contract broken
                    errors.append((kind, exc))
                    return

        kinds = ["ann", "ann", "sparse", "sparse", "hybrid", "health"]
        threads = [
            threading.Thread(target=client, args=(k,)) for k in kinds
        ]
        for t in threads:
            t.start()
        try:
            # M swaps per family, interleaved: each maintenance call is
            # one staged swap under live load
            def ivf_to(target_df, keep_ids):
                # reconcile_with handles deletes/updates only; a full
                # corpus flip is append (new ids) + reconcile_ids
                # (drop the rest) — two staged layout changes, with
                # the A∪B union as a legal intermediate generation
                ann.append_ivf_index(
                    spark, ivf_path, target_df, "vec_id", "embedding"
                )
                keep = spark.createDataFrame(
                    [(int(i),) for i in sorted(keep_ids)], "vec_id long"
                )
                ann.maintain_ivf_index(spark, ivf_path, reconcile_ids=keep)

            swaps = [
                (lambda: ivf_to(dfB, b_ids)),
                (lambda: ranking.maintain_bm25_index(
                    spark, bm_path, rebuild_from=d2,
                    id_col="doc_id", text_col="text")),
                (lambda: ivf_to(dfA, a_ids)),
                (lambda: ranking.maintain_bm25_index(
                    spark, bm_path, rebuild_from=d1,
                    id_col="doc_id", text_col="text")),
                (lambda: ivf_to(dfB, b_ids)),
                (lambda: ranking.maintain_bm25_index(
                    spark, bm_path, rebuild_from=d2,
                    id_col="doc_id", text_col="text")),
            ]
            for i, swap in enumerate(swaps):
                time.sleep(0.4)  # let clients sample the current state
                swap()
            # convergence on the FINAL generations (B, d2)
            deadline = time.time() + 20
            while time.time() < deadline and not (
                seen["ann"] and seen["ann"][-1] == eB
                and seen["sparse"] and seen["sparse"][-1] == s2
            ):
                time.sleep(0.1)
        finally:
            halt.set()
            for t in threads:
                t.join(timeout=10)
            w1.set()
            w2.set()
        assert not errors, errors[:3]
        assert seen["ann"][-1] == eB and seen["sparse"][-1] == s2
        bad_ann = [s for s in seen["ann"] if s not in (eA, eB, eAB)]
        bad_sparse = [s for s in seen["sparse"] if s not in (s1, s2)]
        bad_hybrid = [s for s in seen["hybrid"] if s not in hybrid_ok]
        assert not bad_ann, bad_ann[:5]
        assert not bad_sparse, bad_sparse[:5]
        assert not bad_hybrid, bad_hybrid[:5]
        # the hammer actually spanned swaps: the end-state generations
        # of both families observed on both sides of a swap (the A∪B
        # append intermediate may or may not be sampled — timing)
        assert {eA, eB} <= {s for s in seen["ann"]}
        assert {s for s in seen["sparse"]} == {s1, s2}
        assert len(seen["hybrid"]) > 10


def test_server_bytes_mode_serves_byte_distances(spark):
    """bytes_mode serving: the loaded index was built with
    create(bytes=True); /search edits count UTF-8 bytes (é = 2) and
    results decode back to real UTF-8 strings — both metrics."""
    import urllib.parse

    from prefixtree_spark import create
    from prefixtree_spark.operators.query import build_local_index

    words = ["héllo", "hello", "ab", "ba"]
    df = spark.createDataFrame([(w,) for w in words], ["word"])
    pt = create(df, "word", bytes=True)
    with PrefixTreeServer(build_local_index(pt), bytes_mode=True) as srv:
        q = urllib.parse.quote("héllo")
        got1 = {tuple(x) for x in _get(srv.url(f"/search?q={q}&k=1"))}
        assert got1 == {("héllo", 0)}  # real utf-8 back, byte distance
        got2 = {tuple(x) for x in _get(srv.url(f"/search?q={q}&k=2"))}
        assert got2 == {("héllo", 0), ("hello", 2)}
        # damerau byte mode through the same endpoint
        got3 = {
            tuple(x)
            for x in _get(srv.url("/search?q=ab&k=1&metric=damerau"))
        }
        assert got3 == {("ab", 0), ("ba", 1)}
        # /prefix probes the surrogate trie with utf-8 bytes and
        # decodes results back
        p = urllib.parse.quote("h\u00e9")
        assert _get(srv.url(f"/prefix?p={p}")) == ["héllo"]
        assert _get(srv.url("/prefix?p=h")) == ["hello", "héllo"]


def test_health_names_the_trie_walk(monkeypatch):
    """``/health`` reports the walk lookups run on: the native kernel,
    or the Python fallback with the cause; both answer the same."""
    from prefixtree_spark.functions import native
    from tests.test_local_walk import _index

    idx = _index(SPARSE_WORDS)
    want = sorted(
        [w, d] for w in SPARSE_WORDS if (d := brute_levenshtein("SMYTH", w)) <= 2
    )
    with PrefixTreeServer(idx) as srv:
        health = _get(srv.url("/health"))
        assert health["kernel"] == ("native" if native._compiler() else "python")
        assert _get(srv.url("/search?q=SMYTH&k=2")) == want
        monkeypatch.setattr(native, "_state", native._State(None, "OSError: no C compiler"))
        health = _get(srv.url("/health"))
        assert health["kernel"] == "python"
        assert health["kernel_cause"] == "OSError: no C compiler"
        assert _get(srv.url("/search?q=SMYTH&k=2")) == want
