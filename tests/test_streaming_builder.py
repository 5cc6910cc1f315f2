"""The streaming (sorted-LCP, O(depth)-memory) builder must produce
logically identical trees to the in-memory radix builder, and identical
query results, on any partitioning."""

import random

import pytest
from pyspark.sql import functions as F

from prefixtree_spark import create, query
from prefixtree_spark.operators.build import _stream_build_sorted
from prefixtree_spark.plans.tree import PT_COLUMNS
from tests.conftest import brute_levenshtein
from tests.test_build import SPARSE_WORDS, _words_df


def _canonical(rows):
    """Partitioning/id-independent tree form: (path-to-node, label,
    is_word, _min, _max) set."""
    by_id = {r[0]: r for r in rows}
    out = set()
    for r in rows:
        path = []
        cur = r[1]
        while cur != 0:
            p = by_id[cur]
            path.append(p[6])
            cur = p[1]
        out.add(("".join(reversed(path)), r[6], r[4], r[3], r[2]))
    return out


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_streaming_builder_pure_python_equivalence():
    rng = random.Random(3)
    for trial in range(40):
        words = sorted(
            {
                "".join(rng.choices("abcd", k=rng.randint(1, 10)))
                for _ in range(rng.randint(1, 200))
            }
        )
        # duplicates in the stream must be ignored
        stream = []
        for w in words:
            stream.extend([w] * rng.randint(1, 2))
        got = list(_stream_build_sorted(iter(stream), 0))
        from prefixtree_spark.operators.build import _emit, _insert, _new_node

        root = _new_node("")
        for w in words:
            _insert(root, w)
        exp = list(_emit(root, 0, 1))
        assert _canonical(got) == _canonical(exp), f"trial {trial}"


@pytest.mark.parametrize("parts", [1, 4])
def test_streaming_builder_spark_tree_equivalence(spark, parts):
    df = _words_df(spark, SPARSE_WORDS + ["CAT", "CAT", "  CAR  "])
    mem = create(df, "word", num_partitions=parts)
    stream = create(df, "word", num_partitions=parts, builder="streaming")
    assert _canonical(_rows(mem)) == _canonical(_rows(stream))


def test_streaming_builder_query_results(spark):
    df = _words_df(spark, SPARSE_WORDS)
    pt = create(df, "word", num_partitions=3, builder="streaming")
    qdf = spark.createDataFrame([("KAMINSKI",), ("SMITH",)], ["q"])
    got = {(r.query_string, r.node, r.final_distance) for r in query(pt, qdf, "q", 2).collect()}
    exp = {
        (q, w, brute_levenshtein(q, w))
        for q in ["KAMINSKI", "SMITH"]
        for w in SPARSE_WORDS
        if brute_levenshtein(q, w) <= 2
    }
    assert got == exp


# ---- builder="auto" spill fallback (round-11 verdict #2) ----------------


def _fake_ctx(monkeypatch, pid=0):
    import pyspark

    class _Ctx:
        def partitionId(self):
            return pid

    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: _Ctx()))


def test_trie_sorted_words_is_sorted_unique(monkeypatch):
    import random

    from prefixtree_spark.operators.build import (
        _insert,
        _new_node,
        _trie_sorted_words,
    )

    rng = random.Random(7)
    for trial in range(20):
        words = [
            "".join(rng.choices("abXY", k=rng.randint(1, 12)))
            for _ in range(rng.randint(1, 300))
        ]
        root = _new_node("")
        counts = {}
        for w in words:
            if w not in counts:
                counts[w] = 0
                _insert(root, w)
            counts[w] += 1
        got = list(_trie_sorted_words(root, counts))
        exp = [(w, counts[w]) for w in sorted(counts)]
        assert got == exp, f"trial {trial}"


@pytest.mark.parametrize("keep_duplicates", [False, True])
def test_auto_builder_spill_equivalence(monkeypatch, keep_duplicates):
    """Force the spill path with a tiny budget across several input
    batches (trie-run + buffered runs + in-memory tail) — the emitted
    tree must be canonically identical to the in-memory build's (the
    default budget), with duplicate multiplicities preserved in
    keep_duplicates mode."""
    import random

    import pandas as pd

    from prefixtree_spark.operators.build import _build_partition_auto

    _fake_ctx(monkeypatch)
    rng = random.Random(11)
    vocab = [
        "".join(rng.choices("abcde", k=rng.randint(1, 9))) for _ in range(400)
    ]
    stream = [rng.choice(vocab) for _ in range(1200)]
    batches = [
        pd.DataFrame({"word": stream[i : i + 100]}) for i in range(0, 1200, 100)
    ]

    def rows(frames):
        return [tuple(r) for df in frames for r in df.itertuples(index=False)]

    exp = rows(
        _build_partition_auto(iter(batches), keep_duplicates=keep_duplicates)
    )
    got = rows(
        _build_partition_auto(
            iter(batches), keep_duplicates=keep_duplicates, budget_bytes=2_000
        )
    )
    assert _canonical_dup(got, keep_duplicates) == _canonical_dup(exp, keep_duplicates)
    # sanity: the tiny budget really forced the spill (ids from the
    # streaming builder interleave open/close order, so the first
    # emitted row differs from the in-memory trie's pre-order root)
    assert got != exp


def _canonical_dup(rows, keep_duplicates):
    base = _canonical([r[:7] for r in rows])
    if not keep_duplicates:
        return base
    caps = {}
    by_id = {r[0]: r for r in rows}
    for r in rows:
        if r[4]:
            caps[r[6]] = r[7]
    return (base, caps)


def test_auto_builder_under_budget_identical_to_memory(monkeypatch):
    """Under the budget, auto IS the in-memory radix trie — bit-identical
    rows, same ids (the partition's id block starts at pid*1e14 + 1)."""
    import pandas as pd

    from prefixtree_spark.operators.build import (
        _build_partition_auto,
        _emit,
        _insert,
        _new_node,
    )
    from prefixtree_spark.plans.tree import ID_BLOCK

    _fake_ctx(monkeypatch, pid=3)
    batches = [pd.DataFrame({"word": SPARSE_WORDS})]

    def rows(frames):
        return [tuple(r) for df in frames for r in df.itertuples(index=False)]

    root = _new_node("")
    for w in dict.fromkeys(SPARSE_WORDS):
        _insert(root, w)
    exp = list(_emit(root, 3, 3 * ID_BLOCK + 1))
    assert rows(_build_partition_auto(iter(batches))) == exp


def test_auto_builder_spark_end_to_end(spark):
    """builder='auto' with a spill-forcing budget through the real
    mapInPandas path: canonical tree equals the default (under-budget,
    in-memory) build's and queries answer identically."""
    df = _words_df(spark, SPARSE_WORDS + ["CAT", "CAT", "  CAR  "])
    mem = create(df, "word", num_partitions=2)
    auto = create(
        df, "word", num_partitions=2, builder="auto", builder_budget_bytes=100
    )
    assert _canonical(_rows(mem)) == _canonical(_rows(auto))
    qdf = spark.createDataFrame([("KAMINSKI",), ("CATT",)], ["q"])
    got = {
        (r.query_string, r.node, r.final_distance)
        for r in query(auto, qdf, "q", 1).collect()
    }
    exp = {
        (q, w, brute_levenshtein(q, w))
        for q in ["KAMINSKI", "CATT"]
        for w in set(SPARSE_WORDS) | {"CAT", "CAR"}
        if brute_levenshtein(q, w) <= 1
    }
    assert got == exp
