"""Chunk-loop internals: bounded union plan size, released consumed
checkpoints, per-chunk broadcast destruction, and the pins the loop
takes and releases on the tree — each must leave results identical to
brute force."""

from prefixtree_spark import create, query
from tests.test_build import SPARSE_WORDS, _words_df
from tests.test_query import QUERIES, _expected


def _leaf_count(df) -> int:
    """Number of scan leaves in the executed plan — the union collapse
    must bound this regardless of chunk count."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Scan ExistingRDD")


def _checkpoint_persisted(df) -> bool:
    """Whether the executor storage behind a localCheckpoint-ed frame
    is still held (the RDD on its LogicalRDD plan node)."""
    level = df._jdf.queryExecution().analyzed().rdd().getStorageLevel()
    return level.useMemory() or level.useDisk()


def _cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_union_all_collapses_past_fanout(spark, monkeypatch):
    """_union_all over more than _UNION_COLLAPSE_FANOUT checkpointed
    frames must re-checkpoint in blocks so the returned frame's plan
    never carries more than fanout leaves (r13 verdict #6: plan SIZE
    grew linearly with chunk count even on the balanced tree) — and
    must free the leaf checkpoints each collapse consumed, so executors
    do not hold the result twice, while never freeing a leaf the
    returned plan still reads."""
    import prefixtree_spark.operators.query as qmod

    monkeypatch.setattr(qmod, "_UNION_COLLAPSE_FANOUT", 4)

    def frames(n):
        return [
            spark.createDataFrame(
                [(str(i), f"n{i}", 0)], schema=qmod.RESULT_SCHEMA
            ).localCheckpoint(eager=True)
            for i in range(n)
        ]

    # at the fanout nothing collapses: the returned plan reads the
    # input leaves themselves, so all must stay
    few = frames(4)
    assert qmod._union_all(few).count() == 4
    assert all(_checkpoint_persisted(f) for f in few)

    many = frames(11)
    assert all(_checkpoint_persisted(f) for f in many)
    out = qmod._union_all(many)
    assert _leaf_count(out) <= 4
    # 11 frames > fanout 4: every input leaf went into a collapsed block
    assert not any(_checkpoint_persisted(f) for f in many)
    assert out.count() == 11
    got = {r.query_string for r in out.collect()}
    assert got == {str(i) for i in range(11)}


def test_chunk_broadcast_destroyed_after_pin(spark, monkeypatch):
    """Every funnel chunk is at most the chunk size, and its query
    broadcast must be destroyed once its result is pinned (r13 advice:
    reused Python workers otherwise retain every chunk's payload +
    built QueryBatch until ContextCleaner GC)."""
    import prefixtree_spark.operators.query as qmod

    seen = []
    real = qmod._traverse_forests

    def spy(pt, source, *args, **kwargs):
        seen.append((source, len(source.value.queries)))
        return real(pt, source, *args, **kwargs)

    monkeypatch.setattr(qmod, "_traverse_forests", spy)
    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_NODES", 0)
    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_QUERIES", 2)
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    got = {
        (r.query_string, r.node, r.final_distance)
        for r in query(pt, qdf, "q", 1, mode="auto").collect()
    }
    assert got == _expected(SPARSE_WORDS, QUERIES, 1)
    assert len(seen) >= 2  # the loop really chunked
    for bq, n in seen:
        assert n <= 2
        # destroyed broadcasts drop their JVM-side validity flag
        assert not bq._jbroadcast.isValid(), "chunk broadcast leaked"


def _spy_chunk_loop_pins(monkeypatch, pt):
    """Record (pt cached, loop tree cached, loop tree is pt) each time
    auto's chunk loop starts."""
    import prefixtree_spark.operators.query as qmod

    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_NODES", 0)
    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_QUERIES", 2)
    at_loop = []
    real = qmod._query_funnel

    def spy(tree, *args, **kwargs):
        # auto's pin lives on the caller's frame object (persist()
        # returns self)
        at_loop.append((_cached(pt), _cached(tree), tree is pt))
        return real(tree, *args, **kwargs)

    monkeypatch.setattr(qmod, "_query_funnel", spy)
    return at_loop


def test_auto_releases_own_pin_before_chunk_loop(spark, monkeypatch):
    """With both sides big, auto colocates a tree without the colocation
    record from its pinned copy and must release that pin BEFORE the
    chunk loop starts — two full cached trees overlap for one
    repartition pass, never for the whole loop."""
    built = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    pt = built.select("*")  # a derived frame: no colocation record
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    at_loop = _spy_chunk_loop_pins(monkeypatch, pt)
    got = {
        (r.query_string, r.node, r.final_distance)
        for r in query(pt, qdf, "q", 1, mode="auto").collect()
    }
    assert got == _expected(SPARSE_WORDS, QUERIES, 1)
    # the loop's tree is the colocated pin, auto's own pin is gone
    assert at_loop == [(False, True, False)]
    assert not _cached(pt)


def test_auto_chunk_loop_walks_fresh_tree_in_place(spark, monkeypatch):
    """A tree fresh from create carries the colocation record: auto's
    chunk loop walks auto's own pin on it (no colocation copy) and
    releases that pin when the call returns."""
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    at_loop = _spy_chunk_loop_pins(monkeypatch, pt)
    got = {
        (r.query_string, r.node, r.final_distance)
        for r in query(pt, qdf, "q", 1, mode="auto").collect()
    }
    assert got == _expected(SPARSE_WORDS, QUERIES, 1)
    assert at_loop == [(True, True, True)]
    assert not _cached(pt)


def test_caller_cache_survives_chunked_routes(spark, monkeypatch, tmp_path):
    """A cache the caller put on pt is theirs: neither auto's chunked
    route nor query_groups may evict it (each only releases a pin it
    created itself)."""
    import prefixtree_spark.operators.query as qmod
    from prefixtree_spark import query_groups, write_query_groups

    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    pt.persist()
    try:
        pt.count()
        qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
        with monkeypatch.context() as m:
            m.setattr(qmod, "_AUTO_BROADCAST_NODES", 0)
            m.setattr(qmod, "_AUTO_BROADCAST_QUERIES", 2)
            got = {
                tuple(r) for r in query(pt, qdf, "q", 1, mode="auto").collect()
            }
        assert got == _expected(SPARSE_WORDS, QUERIES, 1)
        assert _cached(pt), "auto's chunked route evicted the caller's cache"

        path = str(tmp_path / "groups")
        write_query_groups(qdf, "q", path, chunk_size=2)
        got = {tuple(r) for r in query_groups(pt, path, 1).collect()}
        assert got == _expected(SPARSE_WORDS, QUERIES, 1)
        assert _cached(pt), "query_groups evicted the caller's cache"
    finally:
        pt.unpersist()


def test_query_groups_union_bounded_by_fanout(spark, monkeypatch, tmp_path):
    """More file groups than the fanout: the frame query_groups returns
    carries at most fanout leaves, with the brute-force rows."""
    import prefixtree_spark.operators.query as qmod
    from prefixtree_spark import query_groups, write_query_groups

    monkeypatch.setattr(qmod, "_UNION_COLLAPSE_FANOUT", 2)
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    path = str(tmp_path / "groups")
    n_groups = write_query_groups(qdf, "q", path, chunk_size=1)
    assert n_groups > 2
    res = query_groups(pt, path, 2)
    assert _leaf_count(res) <= 2
    got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
    assert got == _expected(SPARSE_WORDS, QUERIES, 2)
