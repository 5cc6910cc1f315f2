"""The one-shot distributed-tree route: a tree without the colocation
record gets its forests colocated by range so each gets its own task,
the result is pinned eagerly, the query broadcast is freed after the
pin, and an unpinned tree plan is evaluated only once. A tree fresh
from create is walked in its build layout."""

import pytest
from pyspark.sql import functions as F

from prefixtree_spark import create, query
from tests.test_build import SPARSE_WORDS, _words_df
from tests.test_chunk_union_r14 import _cached
from tests.test_query import _expected

# enough distinct words that all 4 hash-built forests are non-empty
WORDS = SPARSE_WORDS + [
    "ANNA", "ANNE", "BERT", "BRIDGE", "CAROL", "DAVID", "DAVIS", "EMMA",
    "FRANK", "GRACE", "HENRY", "IRENE", "JACK", "JAKE", "KAREN", "LARRY",
    "MARIA", "MARIO", "NORA", "OSCAR", "PAULA", "QUINN", "ROSE", "ROSS",
]
QUERIES = ["KAMINSKI", "SMITH", "DAVE", "CARTS", "ROSA", "JACKY", "MARIE"]


def _forests_by_partition(df) -> list[set[int]]:
    """The forest ids (compute_node values) each partition holds."""
    rows = (
        df.select("compute_node", F.spark_partition_id().alias("p"))
        .distinct()
        .collect()
    )
    parts: dict[int, set[int]] = {}
    for r in rows:
        parts.setdefault(r.p, set()).add(r.compute_node)
    return list(parts.values())


@pytest.mark.parametrize("mode", ["auto", "broadcast_queries"])
def test_one_shot_route_gives_each_forest_its_own_task(spark, monkeypatch, mode):
    """Hash on compute_node at 1x parallelism put forests 0, 1 and 3 of
    a 4-forest tree into one task while other cores idled; the range
    colocation of a derived frame (no colocation record) must keep
    every forest whole and alone in its partition, as the build layout
    of a fresh create output does."""
    import prefixtree_spark.operators.query as qmod

    layouts = []
    real = qmod._traverse_forests

    def spy(tree, *args, **kwargs):
        # read the layout while the route's pins are still held
        layouts.append(_forests_by_partition(tree))
        return real(tree, *args, **kwargs)

    monkeypatch.setattr(qmod, "_AUTO_DRIVER_TREE_NODES", 0)
    monkeypatch.setattr(qmod, "_traverse_forests", spy)
    pt = create(_words_df(spark, WORDS), "word", num_partitions=4)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    # the derived frame moves every row off its build partition
    for tree in (pt, pt.repartition(3)):
        got = {tuple(r) for r in query(tree, qdf, "q", 2, mode=mode).collect()}
        assert got == _expected(WORDS, QUERIES, 2)
    assert len(layouts) == 2
    for parts in layouts:
        forests = [f for p in parts for f in p]
        assert sorted(forests) == [0, 1, 2, 3], "each forest in exactly one partition"
        assert max(len(p) for p in parts) == 1, f"forests share a task: {parts}"


def test_auto_one_shot_destroys_query_broadcast(spark, monkeypatch):
    """auto's one-shot route must free its query broadcast once the
    result is pinned, as the chunk loop does per chunk."""
    import prefixtree_spark.operators.query as qmod

    sc_type = type(spark.sparkContext)
    handles = []
    real = sc_type.broadcast

    def spy(self, value):
        bc = real(self, value)
        if isinstance(value, qmod._QueryPayload):
            handles.append(bc)
        return bc

    monkeypatch.setattr(qmod, "_AUTO_DRIVER_TREE_NODES", 0)
    monkeypatch.setattr(sc_type, "broadcast", spy)
    pt = create(_words_df(spark, WORDS), "word", num_partitions=4)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    res = query(pt, qdf, "q", 2, mode="auto")
    assert len(handles) == 1
    # destroyed broadcasts drop their JVM-side validity flag
    assert not handles[0]._jbroadcast.isValid(), "query broadcast leaked"
    got = {tuple(r) for r in res.collect()}
    assert got == _expected(WORDS, QUERIES, 2)


def test_explicit_one_shot_evaluates_unpinned_tree_once(spark, monkeypatch):
    """The range colocation samples its input before shuffling it, so
    explicit mode="broadcast_queries" on an unpersisted derived tree
    must pin the tree for the call; a fresh create output is walked in
    place. Either way the build's mapInPandas runs once per build
    partition, the route's own pin is released, and a cache the caller
    put on pt survives the call."""
    import prefixtree_spark.operators.build as bmod

    runs = spark.sparkContext.accumulator(0)
    real = bmod._build_partition_auto

    def counting(*args, **kwargs):
        runs.add(1)
        yield from real(*args, **kwargs)

    monkeypatch.setattr(bmod, "_build_partition_auto", counting)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    want = _expected(WORDS, QUERIES, 2)

    for derive in (False, True):
        before = runs.value
        pt = create(_words_df(spark, WORDS), "word", num_partitions=4)
        if derive:
            pt = pt.select("*")  # no colocation record
        got = {
            tuple(r)
            for r in query(pt, qdf, "q", 2, mode="broadcast_queries").collect()
        }
        assert got == want
        n = runs.value - before
        assert n == 4, f"build ran {n} partition passes, want 4 (derive={derive})"
        assert not _cached(pt), "the route's own pin on pt was not released"

    pt2 = create(_words_df(spark, WORDS), "word", num_partitions=4).persist()
    try:
        pt2.count()
        got = {
            tuple(r)
            for r in query(pt2, qdf, "q", 2, mode="broadcast_queries").collect()
        }
        assert got == want
        assert _cached(pt2), "the one-shot route evicted the caller's cache"
    finally:
        pt2.unpersist()
