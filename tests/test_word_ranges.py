"""Word-range forests: ``create`` partitions distinct words by range, so
each forest holds a contiguous slice of the sorted dictionary and the
collected forests are, in effect, the one merged trie. ``add_words``
routes each new word to the forest whose range covers it, so a churned
tree keeps that property; and a hot prefix is split across ranges
instead of landing on one worker. The ranges are drawn once per
``create`` call, so a word's forest is the same on every evaluation of
an uncached tree."""

import bisect
import hashlib
import random
import warnings

import pandas as pd
import pytest
from pyspark.sql import functions as F

from prefixtree_spark import create
from prefixtree_spark.operators.build import (
    _emit,
    _insert,
    _murmur3_int,
    _new_node,
    _partition_keys,
    load_index,
    save_index,
)
from prefixtree_spark.operators.incremental import add_words, remove_words
from prefixtree_spark.operators.query import (
    _warn_if_forests_overlap,
    build_local_index,
)
from prefixtree_spark.plans.tree import ID_BLOCK, PT_COLUMNS, word_bounds_hint
from tests.test_build import _words_df


def _vocab(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    alpha = "ABCDEFGH"
    return sorted(
        {
            "".join(rng.choice(alpha) for _ in range(rng.randint(3, 10)))
            for _ in range(n)
        }
    )


def _merged_nodes(words) -> int:
    """Node count of ONE radix trie over ``words``."""
    root = _new_node("")
    for w in words:
        _insert(root, w)
    return sum(1 for _ in _emit(root, 0, 1))


@pytest.mark.parametrize("parts", [1, 4, 16])
def test_collected_create_is_merged_trie(spark, parts):
    words = _vocab(11, 4_000)
    pt = create(_words_df(spark, words), "word", num_partitions=parts)
    assert pt.count() <= 1.01 * _merged_nodes(words)


def _spans(rows) -> list[tuple[str, str]]:
    """Each forest's (lowest, highest) end-cap word, by compute_node."""
    by_forest: dict[int, list[str]] = {}
    for r in rows:
        if r.is_word:
            by_forest.setdefault(r.compute_node, []).append(r.node)
    return [(min(ws), max(ws)) for _, ws in sorted(by_forest.items())]


def _disjoint(spans) -> bool:
    spans = sorted(spans)
    return all(a[1] < b[0] for a, b in zip(spans, spans[1:]))


def test_add_words_routes_to_covering_range(spark):
    base = _vocab(21, 3_000)
    delta = _vocab(22, 1_200)
    pt0 = create(_words_df(spark, base), "word", num_partitions=4).cache()
    try:
        bounds = word_bounds_hint(pt0)
        assert bounds is not None and len(bounds) == 3
        pt1 = add_words(pt0, _words_df(spark, delta), "word")
        assert word_bounds_hint(pt1) == bounds
        rows = pt1.collect()
        # a frame without the bounds reads each forest's lowest word
        probed = add_words(pt0.select("*"), _words_df(spark, delta), "word").collect()
    finally:
        pt0.unpersist()
    assert len(rows) <= 1.01 * _merged_nodes(set(base) | set(delta))
    assert all(r.id // ID_BLOCK == r.compute_node for r in rows)
    added = {r.node: r.compute_node for r in rows if r.is_word}
    new_words = set(delta) - set(base)
    assert new_words and new_words <= set(added)
    for w in new_words:
        assert added[w] == bisect.bisect_right(bounds, w), w
    spans = _spans(rows)
    assert spans == sorted(spans) and _disjoint(spans)
    assert len(probed) <= 1.01 * _merged_nodes(set(base) | set(delta))
    assert _disjoint(_spans(probed))


def test_forest_of_a_word_is_fixed_across_evaluations(spark):
    """An uncached tree is re-evaluated by every action; each word must
    land in the same forest every time, or a sparse ``remove_words``
    (hits from one evaluation, rebuild of another) misses words near a
    range boundary. The vocabulary is larger than the range sample (600
    words per output partition)."""
    words = _vocab(31, 6_000)
    pt = create(_words_df(spark, words).repartition(3), "word", num_partitions=4)
    first = {r.node: r.compute_node for r in pt.where("is_word").collect()}
    second = {r.node: r.compute_node for r in pt.where("is_word").collect()}
    assert first == second and len(set(first.values())) == 4
    # the lowest and highest word of every forest sit on a range boundary
    edges = sorted({w for span in _spans(pt.collect()) for w in span})
    out = remove_words(pt, _words_df(spark, edges), "word", pruned=True)
    left = {r.node for r in out.where("is_word").collect()}
    assert left == set(words) - set(edges)


def test_add_words_on_a_fresh_tree_runs_no_probe_job(spark):
    """The bounds ride with ``create``'s output and through a save and
    load, so routing a delta is part of the lazy plan: the bulk path
    runs no job until the caller's action."""
    sc = spark.sparkContext
    pt = create(_words_df(spark, _vocab(41, 500)), "word", num_partitions=4)
    delta = _words_df(spark, ["AAAAZ", "HHHHZ"])
    group = "word_ranges_no_probe"
    sc.setJobGroup(group, group)
    try:
        grown = add_words(pt, delta, "word", pruned=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)
    assert {"AAAAZ", "HHHHZ"} <= {r.node for r in grown.where("is_word").collect()}


def test_bounds_ride_through_save_and_load(spark, tmp_path):
    pt = create(_words_df(spark, _vocab(51, 800)), "word", num_partitions=4)
    path = str(tmp_path / "ranged")
    save_index(pt, path)
    loaded = load_index(spark, path)
    assert word_bounds_hint(loaded) == word_bounds_hint(pt)
    assert len(word_bounds_hint(pt)) == 3


def test_partition_keys_land_each_range_in_its_partition(spark):
    """``create`` routes range p to ``_partition_keys(n)[p]``, trusting
    that ``repartition(n, key)`` sends it to partition p."""
    vals = spark.range(2_000).select(F.col("id").cast("int").alias("v"))
    assert [
        r.h for r in vals.select(F.hash("v").alias("h")).collect()
    ] == [_murmur3_int(v) for v in range(2_000)]
    for n in (1, 4, 7, 32):
        keys = _partition_keys(n)
        placed = (
            spark.createDataFrame([(k, p) for p, k in enumerate(keys)], "k int, p int")
            .repartition(n, "k")
            .select("p", F.spark_partition_id().alias("part"))
            .collect()
        )
        assert all(r.p == r.part for r in placed) and len(placed) == n


def _forest_rows(pid: int, words) -> list[tuple]:
    root = _new_node("")
    for w in words:
        _insert(root, w)
    return list(_emit(root, pid, pid * ID_BLOCK + 1))


def test_overlapping_forests_warn_on_collect(spark):
    """A tree whose forests each span the alphabet (an older hash
    layout) still serves, with a warning naming ``reshard``; a
    word-range tree collects silently."""
    hashed = pd.DataFrame(
        _forest_rows(0, ["ANT", "CAT"]) + _forest_rows(1, ["BEE", "DOG"]),
        columns=PT_COLUMNS,
    )
    with pytest.warns(UserWarning, match="reshard"):
        _warn_if_forests_overlap(hashed)
    ranged = pd.DataFrame(
        _forest_rows(0, ["ANT", "BEE"]) + _forest_rows(1, ["CAT", "DOG"]),
        columns=PT_COLUMNS,
    )
    words = _vocab(61, 1_000)
    pt = create(_words_df(spark, words), "word", num_partitions=4)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        _warn_if_forests_overlap(ranged)
        idx = build_local_index(pt)
    assert [idx.search(w, 0) for w in words[::97]] == [[(w, 0)] for w in words[::97]]


def test_hot_prefix_is_split_across_forests(spark):
    """Half the words share the prefix CORP (the skew shape ``bench.py``
    stresses): no forest may hold more than 0.3 of the nodes at 4
    partitions, as a prefix-keyed layout would (about 0.5)."""
    n = 4_000
    md5 = [hashlib.md5(str(i).encode()).hexdigest() for i in range(n)]
    words = ["CORP" + h for h in md5[: n // 2]] + md5[n // 2 :]
    pt = create(_words_df(spark, words), "word", num_partitions=4).cache()
    try:
        total = pt.count()
        biggest = max(
            r["count"] for r in pt.groupBy("compute_node").count().collect()
        )
    finally:
        pt.unpersist()
    assert biggest <= 0.3 * total
