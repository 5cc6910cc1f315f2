"""Kernel tests: the vectorized incremental DP must equal classic
Levenshtein, including resumed (incremental) extension — the property
the reference's CalculateLevenshteinVector (PrefixTree.ecl:315-377)
violates on multi-char roots (SURVEY.md §0 Quirk 1)."""

import random

import numpy as np
import pytest

from prefixtree_spark.functions.levenshtein import QueryBatch, extend_rows, levenshtein
from tests.conftest import brute_levenshtein


@pytest.mark.parametrize(
    "a,b,d",
    [
        ("kitten", "sitting", 3),
        ("", "", 0),
        ("", "abc", 3),
        ("abc", "", 3),
        ("dog", "drop", 2),  # the reference's own counterexample pair
        ("café", "cafe", 1),  # codepoint, not byte, distance
        ("Cat", "cat", 1),  # case-sensitive
    ],
)
def test_known_distances(a, b, d):
    assert levenshtein(a, b) == d


def test_random_vs_brute():
    rng = random.Random(42)
    for _ in range(300):
        a = "".join(rng.choices("abcd", k=rng.randint(0, 12)))
        b = "".join(rng.choices("abcd", k=rng.randint(0, 12)))
        assert levenshtein(a, b) == brute_levenshtein(a, b)


def test_incremental_extension_matches_single_shot():
    """Quirk-1 regression: extending by 'KAMINSK' then 'I' must equal
    extending by 'KAMINSKI' in one shot (sparse multi-char roots)."""
    queries = ["KAMINSKI", "SMITH", "", "KAMINSKIY"]
    batch = QueryBatch(queries)
    idx = np.arange(len(queries))
    split = extend_rows(batch, extend_rows(batch, batch.initial_rows(), idx, "KAMINSK"), idx, "I")
    whole = extend_rows(batch, batch.initial_rows(), idx, "KAMINSKI")
    assert np.array_equal(
        np.where(batch.valid, split, -1), np.where(batch.valid, whole, -1)
    )
    finals = batch.final_distances(whole, idx)
    assert finals.tolist() == [brute_levenshtein(q, "KAMINSKI") for q in queries]


def test_row_mins_lower_bound():
    """Min of the DP row is a valid lower bound on any extension."""
    batch = QueryBatch(["SMITH"])
    idx = np.array([0])
    rows = extend_rows(batch, batch.initial_rows(), idx, "SM")
    bound = batch.row_mins(rows, idx)[0]
    for suffix in ["ITH", "YTH", "ITHE", "X" * 10]:
        final = batch.final_distances(extend_rows(batch, rows, idx, suffix), idx)[0]
        assert final >= bound


def test_extend_rows_multi_matches_per_label():
    """The heterogeneous-label bfs kernel must equal per-row
    extend_rows calls for arbitrary (query, label) pairings."""
    import random

    import numpy as np

    from prefixtree_spark.functions.levenshtein import (
        QueryBatch,
        extend_rows,
        extend_rows_multi,
    )

    rng = random.Random(42)
    alpha = "ABCD"
    for trial in range(20):
        qs = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 9)))
            for _ in range(rng.randint(1, 30))
        ]
        labels = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 7)))
            for _ in qs
        ]
        batch = QueryBatch(qs)
        idx = np.arange(len(qs))
        rows = batch.initial_rows()
        multi = extend_rows_multi(batch, rows, idx, labels)
        for i, lab in enumerate(labels):
            one = extend_rows(batch, rows[i : i + 1], idx[i : i + 1], lab)
            valid = batch.lens[i] + 1
            assert (multi[i, :valid] == one[0, :valid]).all(), (trial, i)


def test_banded_traverse_equals_full_randomized():
    """The native trie walk (Ukkonen-banded windows) must return EXACTLY
    the brute-force result set — every (query, word, distance) triple —
    across random vocabularies, query sets, and k values, including k=0
    and k larger than the longest string (where the window
    degenerates)."""
    import random

    import pandas as pd

    from prefixtree_spark.functions.levenshtein import QueryBatch, levenshtein
    from prefixtree_spark.operators.build import _emit, _insert, _new_node
    from prefixtree_spark.plans.tree import PT_COLUMNS
    from prefixtree_spark.operators.query import LocalIndex, _walk

    rng = random.Random(42)
    alpha = "ABCD"
    for trial in range(30):
        n_words = rng.randint(1, 60)
        words = sorted(
            {
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))
                for _ in range(n_words)
            }
        )
        queries = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 14)))
            for _ in range(rng.randint(1, 25))
        ]
        queries = [q for q in queries if q] or ["A"]
        root = _new_node("")
        for w in words:
            _insert(root, w)
        pdf = pd.DataFrame(list(_emit(root, 0, 1)), columns=PT_COLUMNS)
        idx = LocalIndex(pdf)
        k = rng.choice([0, 1, 2, 3, 20])
        batch = QueryBatch(queries)
        qi, pos, d = _walk(idx, batch, k)
        banded = {(queries[i], idx.labels[p], x) for i, p, x in zip(qi, pos, d)}
        brute = {
            (q, w, levenshtein(q, w))
            for q in set(queries)
            for w in words
            if levenshtein(q, w) <= k
        }
        assert banded == brute, (trial, k, words[:5], queries[:5])
