"""Property-based tests (FIXTURES.md F5): random vocabularies, queries,
k, and partitionings vs brute force. The pure-Python builder/traverser
are exercised densely; Spark end-to-end on a sampled subset."""

import random

import pandas as pd
import pytest

from prefixtree_spark import create, query
from prefixtree_spark.functions.levenshtein import QueryBatch
from prefixtree_spark.operators.build import _emit, _insert, _new_node
from prefixtree_spark.operators.query import LocalIndex, _traverse_index
from prefixtree_spark.plans.tree import ID_BLOCK, PT_COLUMNS
from tests.conftest import brute_levenshtein


def _build_local(words_by_part):
    rows = []
    for pid, ws in enumerate(words_by_part):
        if not ws:
            continue
        root = _new_node("")
        for w in ws:
            _insert(root, w)
        rows.extend(_emit(root, pid, pid * ID_BLOCK + 1))
    return pd.DataFrame(rows, columns=PT_COLUMNS)


@pytest.mark.parametrize("seed", range(12))
def test_local_engine_vs_brute(seed):
    rng = random.Random(seed)
    alpha = rng.choice(["ab", "abcd", "abcdefghijklmnopqrstuvwxyz", "aé中b"])
    words = list({
        "".join(rng.choices(alpha, k=rng.randint(1, 12)))
        for _ in range(rng.randint(1, 400))
    })
    parts = rng.choice([1, 3, 8])
    by_part = [[] for _ in range(parts)]
    for w in words:
        by_part[hash(w) % parts].append(w)
    pt = _build_local(by_part)
    queries = [
        "".join(rng.choices(alpha, k=rng.randint(0, 12))) for _ in range(25)
    ] + rng.sample(words, min(5, len(words)))
    k = rng.choice([1, 2, 3])
    res = _traverse_index(
        LocalIndex(pt), QueryBatch(list(set(queries))), k
    )
    got = set(zip(res.query_string, res.node, res.final_distance))
    exp = {
        (q, w, brute_levenshtein(q, w))
        for q in set(queries)
        for w in words
        if brute_levenshtein(q, w) <= k
    }
    assert got == exp


def test_spark_end_to_end_random(spark):
    rng = random.Random(99)
    words = list({
        "".join(rng.choices("abcde", k=rng.randint(1, 10))) for _ in range(200)
    })
    queries = list({
        "".join(rng.choices("abcde", k=rng.randint(0, 10))) for _ in range(30)
    })
    wdf = spark.createDataFrame([(w,) for w in words], ["word"])
    qdf = spark.createDataFrame([(q,) for q in queries], ["q"])
    pt = create(wdf, "word", num_partitions=5)
    got = {
        (r.query_string, r.node, r.final_distance)
        for r in query(pt, qdf, "q", 2).collect()
    }
    exp = {
        (q, w, brute_levenshtein(q, w))
        for q in queries
        for w in words
        if brute_levenshtein(q, w) <= 2
    }
    assert got == exp


def test_spark_all_modes_random_vocabulary(spark):
    """Every physical strategy — broadcast_tree, broadcast_queries,
    bfs, filegroups — returns the identical brute-force set on a
    random vocabulary (the cross-mode identity the regime router
    relies on)."""
    rng = random.Random(1234)
    words = list({
        "".join(rng.choices("abcdef", k=rng.randint(1, 9))) for _ in range(150)
    })
    queries = list({
        "".join(rng.choices("abcdef", k=rng.randint(0, 9))) for _ in range(20)
    })
    wdf = spark.createDataFrame([(w,) for w in words], ["word"])
    qdf = spark.createDataFrame([(q,) for q in queries], ["q"])
    pt = create(wdf, "word", num_partitions=4).cache()
    pt.count()
    exp = {
        (q, w, brute_levenshtein(q, w))
        for q in queries
        for w in words
        if brute_levenshtein(q, w) <= 2
    }
    for mode in ("broadcast_tree", "broadcast_queries", "bfs", "filegroups"):
        got = {
            (r.query_string, r.node, r.final_distance)
            for r in query(pt, qdf, "q", 2, mode=mode).collect()
        }
        assert got == exp, mode
    pt.unpersist()
