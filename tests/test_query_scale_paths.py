"""Scale-path checks: zero-shuffle colocated traversal, bucketed index
layout, and save/load colocation round trips."""

import pytest
from pyspark.sql import functions as F

from prefixtree_spark import create, load_index, query, save_index
from prefixtree_spark.operators.build import load_index_bucketed, save_index_bucketed
from tests.conftest import brute_levenshtein
from tests.test_build import SPARSE_WORDS, _words_df
from tests.test_query import QUERIES, _expected, _run


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_colocated_zero_shuffle_plan_and_results(spark, monkeypatch):
    """A cached tree fresh from create carries the colocation record and
    is traversed in place, with no caller flag. The route returns an
    eager checkpoint, so the plan is read off the traversal frame
    itself."""
    import prefixtree_spark.operators.query as qmod

    traversed = []
    real = qmod._traverse_forests

    def spy(tree, *args, **kwargs):
        out = real(tree, *args, **kwargs)
        traversed.append(out)
        return out

    monkeypatch.setattr(qmod, "_traverse_forests", spy)
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3).cache()
    pt.count()
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    res = query(pt, qdf, "q", 2, mode="broadcast_queries")
    assert len(traversed) == 1
    plan = _plan(traversed[0])
    assert "InMemoryTableScan" in plan
    # traversal side of the plan: no Exchange over the cached tree
    assert "Exchange" not in plan.split("InMemoryTableScan")[0]
    got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
    assert got == _expected(SPARSE_WORDS, QUERIES, 2)


def test_save_load_colocated_roundtrip(spark, tmp_path):
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    path = str(tmp_path / "idx")
    save_index(pt, path)
    loaded = load_index(spark, path, colocated=True)
    got = _run(spark, loaded, QUERIES, 1, "broadcast_queries")
    assert got == _expected(SPARSE_WORDS, QUERIES, 1)


def test_load_colocated_spreads_forests(spark, tmp_path):
    """load_index(colocated=True) must restore MULTI-partition
    colocation: the old column-only repartition was AQE-coalesced to
    one partition on the node table's tiny byte size, so every
    subsequent colocated traversal ran single-task (r13)."""
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    path = str(tmp_path / "idx_spread")
    save_index(pt, path)
    loaded = load_index(spark, path, colocated=True)
    n_busy = (
        loaded.groupBy(F.spark_partition_id().alias("p")).count().count()
    )
    assert n_busy > 1, f"colocated load collapsed to {n_busy} partition(s)"
    # forests must stay whole: every compute_node in exactly 1 partition
    split = (
        loaded.select("compute_node", F.spark_partition_id().alias("p"))
        .distinct()
        .groupBy("compute_node")
        .count()
        .where("count > 1")
        .count()
    )
    assert split == 0
    got = _run(spark, loaded, QUERIES, 1, "broadcast_queries")
    assert got == _expected(SPARSE_WORDS, QUERIES, 1)


def test_similarity_join_rows_payload(spark):
    from prefixtree_spark.operators.similarity_join import similarity_join_rows

    left = spark.createDataFrame([(1, "CAT", "x"), (2, "DOG", "y")], ["id", "w", "extra"])
    right = spark.createDataFrame([(10, "CART"), (11, "COG")], ["rid", "rw"])
    got = {
        (r.l_id, r.r_rid, r.distance, r.l_extra)
        for r in similarity_join_rows(left, "w", right, "rw", 2).collect()
    }
    assert got == {(1, 10, 1, "x"), (1, 11, 2, "x"), (2, 11, 1, "y")}


def test_auto_routes_big_tree_big_queries_to_chunked(spark, monkeypatch):
    """When BOTH sides exceed the broadcast thresholds, auto must CHUNK
    the query side through the distributed-tree traversal (round-4
    verdict #2: bfs loses to brute force at k>=2 in this regime) —
    never collecting the whole query side at once, and never touching
    bfs while the tree's partitions still fit a traversal task."""
    import prefixtree_spark.operators.query as qmod

    chunk_sizes = []
    # every chunk job goes through the one per-partition traversal; a
    # funnel chunk's source is its broadcast query payload
    real = qmod._traverse_forests

    def spy(pt, source, *args, **kwargs):
        chunk_sizes.append(len(source.value.queries))
        return real(pt, source, *args, **kwargs)

    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_NODES", 0)
    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_QUERIES", 2)
    monkeypatch.setattr(qmod, "_traverse_forests", spy)
    monkeypatch.setattr(
        qmod,
        "_query_bfs",
        lambda *a, **kw: pytest.fail("routed to bfs in the chunkable regime"),
    )
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    res = qmod.query(pt, qdf, "q", 1, mode="auto")
    got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
    # every chunk bounded by the threshold, and more than one chunk ran
    assert chunk_sizes and max(chunk_sizes) <= 2 and len(chunk_sizes) >= 2
    assert sum(chunk_sizes) == len(set(QUERIES))
    assert got == _expected(SPARSE_WORDS, QUERIES, 1)


def test_auto_reshards_giant_forests_instead_of_bfs(spark, monkeypatch):
    """When per-partition forests exceed the chunk cap, auto RE-SHARDS
    the tree (rebuild from end-cap words at more partitions) and runs
    the chunked colocated traversal — bfs, the plan measured to lose
    to brute force at k>=2, is never auto-chosen (round-5 verdict #1).
    Results must equal the brute oracle exactly."""
    import prefixtree_spark.operators.query as qmod

    resharded_parts = []
    real_reshard = qmod._reshard_tree
    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_NODES", 0)
    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_QUERIES", 2)
    monkeypatch.setattr(qmod, "_CHUNK_MAX_PARTITION_NODES", 0)
    # target ~3 nodes/partition so the rebuild demonstrably widens
    monkeypatch.setattr(qmod, "_RESHARD_TARGET_PARTITION_NODES", 3)
    monkeypatch.setattr(
        qmod,
        "_reshard_tree",
        lambda pt, n: (lambda r: resharded_parts.append(
            r.rdd.getNumPartitions()) or r)(real_reshard(pt, n)),
    )
    monkeypatch.setattr(
        qmod,
        "_query_bfs",
        lambda *a, **kw: pytest.fail("auto routed to bfs — the losing plan"),
    )
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=1)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    res = qmod.query(pt, qdf, "q", 1, mode="auto")
    got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
    # the rebuild actually widened the forest layout
    assert resharded_parts and resharded_parts[0] > 1
    assert got == _expected(SPARSE_WORDS, QUERIES, 1)


def test_explicit_bfs_mode_still_works(spark):
    """mode="bfs" stays a working explicit opt-in after auto stopped
    routing to it."""
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    res = query(pt, qdf, "q", 1, mode="bfs")
    got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
    assert got == _expected(SPARSE_WORDS, QUERIES, 1)


def test_reshard_preserves_right_trim_and_long_words(spark, monkeypatch):
    """The re-shard rebuild must preserve the word set VERBATIM: words
    with leading spaces (trim='right' builds) and words longer than the
    default 255 cap survive the round trip."""
    import prefixtree_spark.operators.query as qmod

    long_word = "x" * 300
    words = ["  lead", "cat", long_word]
    df = spark.createDataFrame([(w,) for w in words], ["word"])
    pt = create(df, "word", num_partitions=1, trim="right", max_word_len=None)
    re_pt = qmod._reshard_tree(pt, pt.count())
    try:
        got = {r.node for r in re_pt.where("is_word").collect()}
        assert got == set(words)
    finally:
        re_pt.unpersist()


def test_auto_routes_big_tree_small_queries_to_broadcast_queries(spark, monkeypatch):
    import prefixtree_spark.operators.query as qmod

    calls = []
    real = qmod._query_broadcast_queries
    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_NODES", 0)
    monkeypatch.setattr(
        qmod,
        "_query_broadcast_queries",
        lambda *a, **kw: calls.append("bq") or real(*a, **kw),
    )
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    res = qmod.query(pt, qdf, "q", 1, mode="auto")
    got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
    assert calls == ["bq"]
    assert got == _expected(SPARSE_WORDS, QUERIES, 1)


def test_bucketed_index_roundtrip(spark):
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    save_index_bucketed(pt, "pt_bucketed_test", buckets=4)
    try:
        loaded = load_index_bucketed(spark, "pt_bucketed_test")
        got = _run(spark, loaded, QUERIES, 1, "bfs")
        assert got == _expected(SPARSE_WORDS, QUERIES, 1)
    finally:
        spark.sql("DROP TABLE IF EXISTS pt_bucketed_test")


def test_reusable_index_handle(spark):
    """build_local_index: collect+broadcast happens ONCE; repeated
    query(..., index=handle) calls reuse the same Spark broadcast and
    return exactly the per-call broadcast_tree results."""
    from prefixtree_spark import build_local_index
    from prefixtree_spark.operators import query as qmod

    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    handle = build_local_index(pt)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    first = {
        tuple(r)
        for r in query(pt, qdf, "q", 2, index=handle).collect()
    }
    assert first == _expected(SPARSE_WORDS, QUERIES, 2)
    bc = handle._bc
    assert bc is not None
    # second call: same broadcast object, no fresh collect
    builds = []
    orig = qmod.LocalIndex.__init__

    def spy(self, pdf):
        builds.append(1)
        orig(self, pdf)

    qmod.LocalIndex.__init__ = spy
    try:
        second = {
            tuple(r)
            for r in query(pt, qdf, "q", 2, index=handle).collect()
        }
    finally:
        qmod.LocalIndex.__init__ = orig
    assert second == first
    assert handle._bc is bc
    assert builds == []
    # the handle also serves point lookups (Roxie analog)
    from prefixtree_spark import query_one

    assert query_one(handle, "SMITH", 1) == sorted(
        (w, brute_levenshtein("SMITH", w))
        for w in set(SPARSE_WORDS)
        if brute_levenshtein("SMITH", w) <= 1
    )


def test_bucketed_tree_partitioned_bfs(spark):
    """bfs over a bucketed index (the layout is detected, no flag):
    same results, and the tree side's scan is not re-shuffled
    upfront."""
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    save_index_bucketed(pt, "pt_bucketed_bfs_test", buckets=4)
    try:
        loaded = load_index_bucketed(spark, "pt_bucketed_bfs_test")
        qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
        res = query(loaded, qdf, "q", 1, mode="bfs")
        got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
        assert got == _expected(SPARSE_WORDS, QUERIES, 1)
    finally:
        spark.sql("DROP TABLE IF EXISTS pt_bucketed_bfs_test")


def test_bucketed_tree_autodetected_no_tree_exchange(spark, monkeypatch):
    """Plain query(mode='bfs') over a table loaded from
    save_index_bucketed must detect the BUILDINDEX layout itself
    (PrefixTree.ecl:612-613: build once, every query uses the keyed
    layout): no tree_partitioned flag, no upfront tree repartition, and
    the per-level join's tree side reads the bucketed scan without an
    Exchange."""
    import prefixtree_spark.operators.query as qmod
    from prefixtree_spark.operators.build import index_is_bucketed

    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    save_index_bucketed(pt, "pt_bucketed_auto_test", buckets=4)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        loaded = load_index_bucketed(spark, "pt_bucketed_auto_test")
        assert index_is_bucketed(loaded)
        assert not index_is_bucketed(pt)

        # the flag _query_bfs actually receives, without the caller
        # passing tree_partitioned=True
        seen = {}
        real_bfs = qmod._query_bfs

        def spy(pt_, qdf_, col_, k_, *, tree_partitioned=False):
            seen["tree_partitioned"] = tree_partitioned
            return real_bfs(pt_, qdf_, col_, k_, tree_partitioned=tree_partitioned)

        monkeypatch.setattr(qmod, "_query_bfs", spy)
        qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
        res = qmod.query(loaded, qdf, "q", 1, mode="bfs")
        got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
        assert seen == {"tree_partitioned": True}
        assert got == _expected(SPARSE_WORDS, QUERIES, 1)

        # plan shape: the level join over the persisted bucketed scan
        # shuffles ONLY the frontier side (force non-broadcast so the
        # exchange placement is visible)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        base = loaded.select(
            "id", "parent_id", "_max", "_min", "is_word", "node"
        ).persist()
        try:
            base.count()
            frontier = spark.range(10).select(F.col("id").alias("node_id"))
            j = frontier.join(base, frontier.node_id == base.parent_id)
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange") == 1
            assert "Exchange" not in plan.split("InMemoryTableScan")[1]
        finally:
            base.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS pt_bucketed_auto_test")


def test_auto_mode_unpersists_tree(spark):
    """mode='auto' must not leak the probe persist: after the call (any
    route), the tree's cache is released (round-2 verdict #4)."""
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    res = query(pt, qdf, "q", 1, mode="auto")
    res.count()
    assert pt.storageLevel.useMemory is False and pt.storageLevel.useDisk is False


def test_bfs_releases_per_level_checkpoints(spark):
    """bfs materializes one checkpoint per level; after the result is
    pinned they must ALL be released — at most the pinned output's own
    storage remains (localCheckpoint storage is invisible to plain
    unpersist, see plans/lifecycle.py)."""
    jsc = spark.sparkContext._jsc
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    before = jsc.getPersistentRDDs().size()
    res = query(pt, qdf, "q", 2, mode="bfs")
    res.count()
    assert jsc.getPersistentRDDs().size() - before <= 1


def test_distributed_merge_handle_serves_and_preserves_right_trim(spark):
    """build_local_index: serving lookups work, and a trim='right'
    tree's leading-space words survive into the handle verbatim (the
    collect must not re-trim)."""
    from prefixtree_spark import build_local_index

    words = spark.createDataFrame(
        [("  cat ",), ("cat ",), ("cart",)], ["word"]
    )
    pt = create(words, "word", trim="right")
    idx = build_local_index(pt)
    assert sorted(idx.labels[idx.is_word]) == ["  cat", "cart", "cat"]
    assert idx.search("cat", 0) == [("cat", 0)]
    assert ("  cat", 1) not in idx.search("cat", 1)


def test_public_reshard_reusable_across_queries(spark, monkeypatch):
    """reshard(pt) (round-6 verdict #5): pre-shard ONCE, then repeated
    query() calls against the resharded tree skip the per-call rebuild
    auto mode would otherwise pay — and return identical results."""
    import prefixtree_spark.operators.query as qmod
    from prefixtree_spark import reshard

    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=1)
    pt2 = reshard(pt, num_partitions=4).persist()
    try:
        assert pt2.rdd.getNumPartitions() == 4
        # same word set, a plain create output
        assert {r.node for r in pt2.where("is_word").collect()} == set(
            SPARSE_WORDS
        )
        # force the oversized-forest regime: with the PRE-resharded
        # tree, auto must NOT rebuild again (forests already fit)
        monkeypatch.setattr(qmod, "_AUTO_BROADCAST_NODES", 0)
        monkeypatch.setattr(qmod, "_AUTO_BROADCAST_QUERIES", 2)
        monkeypatch.setattr(
            qmod,
            "_reshard_tree",
            lambda *a: pytest.fail("auto re-resharded a pre-sharded tree"),
        )
        qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
        for _ in range(2):  # repeated batches, no rebuild either time
            res = qmod.query(pt2, qdf, "q", 1, mode="auto")
            got = {
                (r.query_string, r.node, r.final_distance)
                for r in res.collect()
            }
            assert got == _expected(SPARSE_WORDS, QUERIES, 1)
    finally:
        pt2.unpersist()


def test_public_reshard_carries_n_copies(spark):
    """A keep_duplicates tree reshards with multiplicity intact."""
    from prefixtree_spark import reshard

    df = spark.createDataFrame(
        [("cat",), ("cat",), ("dog",)], ["word"]
    )
    pt = create(df, "word", num_partitions=1, keep_duplicates=True)
    pt2 = reshard(pt, num_partitions=2)
    got = {
        (r.node, r.n_copies) for r in pt2.where("is_word").collect()
    }
    assert got == {("cat", 2), ("dog", 1)}


def test_auto_routes_midsize_tree_to_distributed_traversal(spark, monkeypatch):
    """Between the tiny-tree driver handle and the too-big-to-collect
    regime, auto must pick the distributed traversal (collect+merge per
    call plus the one-task batch DP lose to per-partition traversals
    from ~10k nodes up — r7 measurement), falling back to the streamed
    broadcast-tree handle only when the query side itself exceeds the
    collect bound."""
    import prefixtree_spark.operators.query as qmod

    routed = []
    real_bq = qmod._query_broadcast_queries
    monkeypatch.setattr(qmod, "_AUTO_DRIVER_TREE_NODES", 0)
    monkeypatch.setattr(
        qmod,
        "_query_broadcast_queries",
        lambda pt, qs, k, **kw: routed.append(len(qs)) or real_bq(pt, qs, k, **kw),
    )
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    res = qmod.query(pt, qdf, "q", 1, mode="auto")
    got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
    assert routed == [len(set(QUERIES))]
    assert got == _expected(SPARSE_WORDS, QUERIES, 1)
    # huge query side (forced): streams through the broadcast-tree
    # handle, never collected
    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_QUERIES", 1)
    routed.clear()
    res2 = qmod.query(pt, qdf, "q", 1, mode="auto")
    got2 = {(r.query_string, r.node, r.final_distance) for r in res2.collect()}
    assert not routed  # broadcast_queries not used
    assert got2 == _expected(SPARSE_WORDS, QUERIES, 1)


def test_filegroups_mode_matches_other_modes(spark, monkeypatch):
    """mode="filegroups" (r12 verdict #5: the both-big strategy with
    the driver off the data path) must return the exact row set of the
    brute-force expectation, in multiple file-group chunks, without
    the driver ever deserializing query text (the toLocalIterator of
    the broadcast-chunked path is monkeypatched to fail)."""
    import prefixtree_spark.operators.query as qmod

    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_QUERIES", 2)  # force >1 group
    group_paths = []
    real = qmod._traverse_forests

    def spy(pt, source, *args, **kwargs):
        group_paths.append(source)
        return real(pt, source, *args, **kwargs)

    monkeypatch.setattr(qmod, "_traverse_forests", spy)
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    monkeypatch.setattr(
        type(qdf),
        "toLocalIterator",
        lambda self, *a, **kw: pytest.fail(
            "filegroups mode streamed query text through the driver"
        ),
    )
    res = qmod.query(pt, qdf, "q", 2, mode="filegroups")
    got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
    assert got == _expected(SPARSE_WORDS, QUERIES, 2)
    assert len(group_paths) >= 2  # genuinely chunked into file groups
    assert all(isinstance(p, str) for p in group_paths)  # paths, no broadcast


def test_filegroups_colocated_zero_shuffle(spark):
    """filegroups over a cached fresh create output must keep the tree
    side shuffle-free, exactly like the broadcast-chunked path."""
    import prefixtree_spark.operators.query as qmod

    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3).cache()
    pt.count()
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    res = qmod._query_filegroups(pt, qdf.select(F.col("q")).distinct(), 1)
    got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
    assert got == _expected(SPARSE_WORDS, QUERIES, 1)
    pt.unpersist()


def test_write_query_groups_reusable_across_distances(spark, tmp_path):
    """Public write-once/query-many surface: write_query_groups writes
    the distinct query side executor-side; query_groups then serves
    repeated traversals (different k here) off the SAME groups with no
    rewrite, matching brute force each time."""
    from prefixtree_spark import query_groups, write_query_groups

    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES + QUERIES], ["q"])
    path = str(tmp_path / "qgroups")
    n_groups = write_query_groups(qdf, "q", path, chunk_size=2)
    assert n_groups >= 2
    for k in (1, 2):
        got = {
            (r.query_string, r.node, r.final_distance)
            for r in query_groups(pt, path, k).collect()
        }
        assert got == _expected(SPARSE_WORDS, QUERIES, k), k


def test_auto_routes_huge_query_side_to_filegroups(spark, monkeypatch):
    """Past _AUTO_FILEGROUP_QUERIES, auto's chunk loop must switch to
    the filegroups strategy (driver off the data path) — same rows,
    file-group chunks actually used, toLocalIterator never called."""
    import prefixtree_spark.operators.query as qmod

    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_NODES", 0)
    monkeypatch.setattr(qmod, "_AUTO_BROADCAST_QUERIES", 2)
    monkeypatch.setattr(qmod, "_AUTO_FILEGROUP_QUERIES", 2)
    group_paths = []
    real = qmod._traverse_forests

    def spy(pt, source, *args, **kwargs):
        group_paths.append(source)
        return real(pt, source, *args, **kwargs)

    monkeypatch.setattr(qmod, "_traverse_forests", spy)
    monkeypatch.setattr(
        qmod,
        "_query_funnel",
        lambda *a, **kw: pytest.fail(
            "auto used the driver-funnel chunk loop past the filegroup bound"
        ),
    )
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    res = qmod.query(pt, qdf, "q", 1, mode="auto")
    got = {(r.query_string, r.node, r.final_distance) for r in res.collect()}
    assert got == _expected(SPARSE_WORDS, QUERIES, 1)
    assert len(group_paths) >= 2
    assert all(isinstance(p, str) for p in group_paths)


def test_query_groups_refuses_partial_write(spark, tmp_path):
    """A groups dir whose _SUCCESS marker is missing (crashed or
    in-flight write_query_groups) must be refused — serving it would
    silently drop every query in the unwritten groups."""
    import os

    from prefixtree_spark import query_groups, write_query_groups

    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    qdf = spark.createDataFrame([(q,) for q in QUERIES], ["q"])
    path = str(tmp_path / "partial_groups")
    write_query_groups(qdf, "q", path, chunk_size=2)
    os.remove(os.path.join(path, "_SUCCESS"))
    with pytest.raises(ValueError, match="_SUCCESS"):
        query_groups(pt, path, 1)
