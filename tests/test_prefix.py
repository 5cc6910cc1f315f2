"""Prefix retrieval: trie traversal must equal brute-force startswith
on every mode, including edge splits and the serving handle."""

import pytest

from prefixtree_spark import build_local_index, create
from prefixtree_spark.operators.prefix import prefix_search
from tests.test_build import SPARSE_WORDS, _words_df

PREFIXES = ["CA", "CAR", "KAMINSK", "SM", "Z", "", "CART", "KAMINSKI"]


def _expected(words, prefixes):
    return {
        (p, w) for p in set(prefixes) for w in set(words) if w.startswith(p)
    }


@pytest.mark.parametrize("fresh", [True, False])
@pytest.mark.parametrize("parts", [1, 3])
def test_prefix_search_vs_brute(spark, fresh, parts):
    """fresh: the cached create output, which carries the colocation
    record and is walked in place. Otherwise a derived frame whose
    round-robin repartition splits the forests, which prefix_search
    colocates itself."""
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=parts)
    if fresh:
        pt = pt.cache()
        pt.count()
    else:
        pt = pt.repartition(4)
    pdf = spark.createDataFrame([(p,) for p in PREFIXES], ["p"])
    got = {(r.prefix, r.word) for r in prefix_search(pt, pdf, "p").collect()}
    assert got == _expected(SPARSE_WORDS, PREFIXES)
    if fresh:
        pt.unpersist()


def test_prefix_search_serving_handle(spark):
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    idx = build_local_index(pt)
    for p in PREFIXES:
        assert idx.search_prefix(p) == sorted(
            w for w in set(SPARSE_WORDS) if w.startswith(p)
        )


def test_prefix_inside_edge_label(spark):
    """A prefix ending mid-edge (e.g. 'CAR' inside edge 'ART' under
    'C') must still return the whole subtree below the edge."""
    words = ["CART", "CARTS", "CARBON", "CAT"]
    pt = create(_words_df(spark, words), "word", num_partitions=1)
    idx = build_local_index(pt)
    assert idx.search_prefix("CAR") == ["CARBON", "CART", "CARTS"]
    assert idx.search_prefix("CART") == ["CART", "CARTS"]
    assert idx.search_prefix("CATX") == []
