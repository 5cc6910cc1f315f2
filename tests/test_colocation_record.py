"""Colocation is a fact the engine records, never a caller promise:
which frames carry the record, every route on a tree whose forests are
split across partitions, the in-place traversal of a fresh cached
tree, and the negative-distance check that runs before any job."""

import pandas as pd
import pytest

from prefixtree_spark import create, query
from prefixtree_spark.plans.tree import is_colocated
from tests.conftest import brute_levenshtein
from tests.test_one_shot_colocation import QUERIES, WORDS
from tests.test_query import _expected

PREFIXES = ["CA", "KAMINSK", "DAV", "MAR", "Z", "", "ROS"]


def _words(spark, words=WORDS):
    return spark.createDataFrame([(w,) for w in words], ["word"])


def test_record_producers_and_consumers(spark, tmp_path):
    """create (both builders) and _colocate_forests record the layout;
    persist/cache keep the record; transformations, a plain load and
    the delta ops do not carry it."""
    from prefixtree_spark import add_words, load_index, remove_words, save_index
    from prefixtree_spark.operators.build import _colocate_forests

    pt = create(_words(spark), "word", num_partitions=3)
    assert is_colocated(pt)
    assert is_colocated(create(_words(spark), "word", builder="streaming"))
    assert is_colocated(pt.persist()) and is_colocated(pt.cache())
    pt.unpersist()
    for derived in (
        pt.select("*"),
        pt.where("is_word"),
        pt.repartition(5),
        pt.localCheckpoint(eager=False),
    ):
        assert not is_colocated(derived)
    assert is_colocated(_colocate_forests(pt.repartition(5)))

    path = str(tmp_path / "idx")
    save_index(pt, path)
    assert not is_colocated(load_index(spark, path))
    assert is_colocated(load_index(spark, path, colocated=True))

    more = spark.createDataFrame([("ZED",)], ["word"])
    assert not is_colocated(add_words(pt, more, "word"))
    less = spark.createDataFrame([("ROSE",)], ["word"])
    assert not is_colocated(remove_words(pt, less, "word"))


ROUTES = ["auto", "broadcast_queries", "filegroups", "query_groups", "prefix_search"]


@pytest.mark.parametrize("route", ROUTES)
def test_split_tree_matches_brute_force(spark, monkeypatch, tmp_path, route):
    """A round-robin repartition splits every forest across partitions.
    A caller flag that promised colocation on such a frame returned 9
    of 5,523 rows (query) and 0 of 1,247 (prefix_search) on the
    benchmark tree; without the record the engine colocates it first
    and every route returns the brute-force rows."""
    import prefixtree_spark.operators.query as qmod
    from prefixtree_spark import query_groups, write_query_groups
    from prefixtree_spark.operators.prefix import prefix_search

    monkeypatch.setattr(qmod, "_AUTO_DRIVER_TREE_NODES", 0)
    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_QUERIES", 3)  # several groups
    split = create(_words(spark), "word", num_partitions=4).repartition(5)
    assert split.rdd.getNumPartitions() == 5
    if route == "prefix_search":
        pdf = spark.createDataFrame([(p,) for p in PREFIXES], ["p"])
        got = {(r.prefix, r.word) for r in prefix_search(split, pdf, "p").collect()}
        assert got == {(p, w) for p in PREFIXES for w in WORDS if w.startswith(p)}
        return
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    if route == "query_groups":
        path = str(tmp_path / "groups")
        write_query_groups(qdf, "q", path, chunk_size=3)
        res = query_groups(split, path, 2)
    else:
        res = query(split, qdf, "q", 2, mode=route)
    got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
    assert got == _expected(WORDS, QUERIES, 2)


def test_auto_walks_fresh_cached_tree_without_colocation(spark, monkeypatch):
    """auto on create(...).cache() — the benchmark's call — traverses the
    cached build layout: no Exchange above the InMemoryTableScan, no
    range colocation, and so fewer jobs than the same call on a derived
    frame, which pays the range-bounds sampling job and the shuffle."""
    import prefixtree_spark.operators.query as qmod

    sc = spark.sparkContext
    traversed = []
    colocations = []
    real_traverse, real_colocate = qmod._traverse_forests, qmod._colocate_forests

    def spy_traverse(tree, *args, **kwargs):
        out = real_traverse(tree, *args, **kwargs)
        traversed.append(out)
        return out

    def spy_colocate(df):
        colocations.append(df)
        return real_colocate(df)

    monkeypatch.setattr(qmod, "_AUTO_DRIVER_TREE_NODES", 0)
    monkeypatch.setattr(qmod, "_traverse_forests", spy_traverse)
    monkeypatch.setattr(qmod, "_colocate_forests", spy_colocate)
    pt = create(_words(spark), "word", num_partitions=4).cache()
    pt.count()
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"]).cache()
    qdf.count()
    want = _expected(WORDS, QUERIES, 2)
    jobs = {}
    try:
        for name, tree in (("fresh", pt), ("derived", pt.select("*"))):
            group = f"colocation_record_{name}"
            sc.setJobGroup(group, group)
            try:
                got = {tuple(r) for r in query(tree, qdf, "q", 2).collect()}
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert got == want
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
            if name == "fresh":
                assert not colocations, "auto colocated a recorded tree"
                plan = traversed[0]._jdf.queryExecution().executedPlan().toString()
                assert "InMemoryTableScan" in plan
                assert "Exchange" not in plan.split("InMemoryTableScan")[0]
        assert len(colocations) == 1
        assert jobs["fresh"] < jobs["derived"], jobs
        assert is_colocated(pt) and pt.storageLevel.useMemory
    finally:
        pt.unpersist()
        qdf.unpersist()


def _local_index():
    """A LocalIndex over WORDS built without Spark."""
    from prefixtree_spark import LocalIndex
    from prefixtree_spark.operators.build import _emit, _insert, _new_node
    from prefixtree_spark.plans.tree import PT_COLUMNS

    root = _new_node("")
    for w in sorted(set(WORDS)):
        _insert(root, w)
    return LocalIndex(pd.DataFrame(list(_emit(root, 0, 1)), columns=PT_COLUMNS))


def test_negative_distance_fails_fast_without_spark():
    from prefixtree_spark import query_one

    idx = _local_index()
    assert idx.search("CAROL", 1) == sorted(
        (w, brute_levenshtein("CAROL", w))
        for w in set(WORDS)
        if brute_levenshtein("CAROL", w) <= 1
    )
    for call in (
        lambda: idx.search("cat", -1),
        lambda: idx.search_many(["cat"], -1),
        lambda: query_one(idx, "cat", -1),
        lambda: query_one(idx, "cat", -2, metric="damerau"),
    ):
        with pytest.raises(ValueError, match=r"max_distance must be >= 0, got -[12]"):
            call()


def test_negative_distance_fails_before_any_job(spark, tmp_path):
    from prefixtree_spark import query_groups, query_one, write_query_groups

    sc = spark.sparkContext
    pt = create(_words(spark), "word", num_partitions=2)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    path = str(tmp_path / "groups")
    write_query_groups(qdf, "q", path)
    group = "negative_distance"
    sc.setJobGroup(group, group)
    try:
        for call in (
            lambda: query(pt, qdf, "q", -1),
            lambda: query(pt, qdf, "q", -1, mode="broadcast_queries"),
            lambda: query(pt, qdf, "q", -1, bytes=True),
            lambda: query_groups(pt, path, -1),
            lambda: query_one(pt, "cat", -1),
        ):
            with pytest.raises(ValueError, match=r"max_distance must be >= 0, got -1"):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)
    # k = 0 stays valid: exact matches only
    exact = spark.createDataFrame([("ROSE",), ("ROSA",)], ["q"])
    assert {tuple(r) for r in query(pt, exact, "q", 0).collect()} == {
        ("ROSE", "ROSE", 0)
    }
