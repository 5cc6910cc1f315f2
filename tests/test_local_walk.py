"""The scalar single-query walk behind ``LocalIndex.search`` (Spark-free):
it must return exactly what the batch kernel returns for a batch of
one, and exactly the brute-force answer — over vocabularies with
prefix words, one-character words, non-ASCII codepoints, the empty
query and queries longer than any word plus k — and it must stay out
of the pickled (broadcast) index."""

import pickle
import random

import pandas as pd
import pytest

from prefixtree_spark.functions.bytesurrogate import py_to_byte_surrogate
from prefixtree_spark.functions.damerau import damerau_levenshtein
from prefixtree_spark.functions.levenshtein import QueryBatch
from prefixtree_spark.operators.build import _emit, _insert, _new_node
from prefixtree_spark.operators.query import LocalIndex, _traverse, query_one
from prefixtree_spark.plans.tree import PT_COLUMNS
from tests.conftest import brute_levenshtein

ALPHABETS = ("ab", "abcd", "aé中𝄞", "ABCDEFGHIJ")


def _index(words) -> LocalIndex:
    root = _new_node("")
    for w in words:
        _insert(root, w)
    return LocalIndex(pd.DataFrame(list(_emit(root, 0, 1)), columns=PT_COLUMNS))


def _vocabulary(seed: int, alphabet: str) -> list[str]:
    rng = random.Random(seed)
    words = {rng.choice(alphabet) for _ in range(3)}  # one-char words
    for _ in range(60):
        words.add("".join(rng.choice(alphabet) for _ in range(rng.randint(2, 9))))
    for w in list(words)[:15]:  # words that are prefixes of other words
        words.add(w + "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 3))))
    return sorted(words)


def _queries(seed: int, alphabet: str, words: list[str]) -> list[str]:
    rng = random.Random(seed + 1)
    qs = ["", alphabet[0], alphabet[0] * (max(map(len, words)) + 5)]
    for w in rng.sample(words, 12):
        chars = list(w)
        for _ in range(rng.randint(0, 3)):
            i = rng.randrange(len(chars) + 1)
            op = rng.randrange(3)
            if op == 0:
                chars.insert(i, rng.choice(alphabet))
            elif op == 1 and i < len(chars):
                del chars[i]
            elif i < len(chars):
                chars[i] = rng.choice(alphabet)
        qs.append("".join(chars))
    qs += ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 8))) for _ in range(6)]
    return qs


def _brute(words, q, k):
    return sorted(
        (w, d) for w in words if (d := brute_levenshtein(q, w)) <= k
    )


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("alphabet", ALPHABETS)
def test_scalar_walk_equals_batch_kernel_and_brute_force(seed, alphabet):
    words = _vocabulary(seed, alphabet)
    idx = _index(words)
    for q in _queries(seed, alphabet, words):
        for k in range(4):
            got = idx.search(q, k)
            _, w, d = _traverse(QueryBatch([q]), k, idx)
            assert got == sorted(zip(w, d)), (q, k)
            assert got == _brute(words, q, k), (q, k)


def test_scalar_walk_on_empty_index():
    idx = LocalIndex(pd.DataFrame(columns=PT_COLUMNS))
    for q in ("", "a", "abc"):
        for k in range(4):
            assert idx.search(q, k) == []
            assert query_one(idx, q, k, metric="damerau") == []
    assert idx.search_many(["", "a", "abc"], 2) == []


def test_search_many_large_batch_equals_brute_force():
    """One batch of more than 1,100 queries through ``search_many``
    (the batch kernel at sizes a 1,024-query cut once split between
    two kernels), over an astral-codepoint vocabulary, k=0..3."""
    alphabet = "aé中𝄞"
    words = _vocabulary(5, alphabet)
    rng = random.Random(5)
    qs = {"", alphabet[0] * (max(map(len, words)) + 5)}
    while len(qs) < 1_100:
        qs.update(_queries(rng.randrange(1 << 30), alphabet, words))
    qs = sorted(qs)
    dist = {(q, w): brute_levenshtein(q, w) for q in qs for w in words}
    idx = _index(words)
    for k in range(4):
        want = {(q, w, d) for (q, w), d in dist.items() if d <= k}
        assert set(idx.search_many(qs, k)) == want, k


@pytest.mark.parametrize("seed", range(3))
def test_query_one_damerau_through_scalar_walk(seed):
    """Probe at 2k plus exact rerank, against the DuckDB-checked DL
    kernel over every word."""
    words = _vocabulary(seed, "abcd")
    idx = _index(words)
    for q in _queries(seed, "abcd", words):
        for k in range(3):
            want = sorted(
                ((w, d) for w in words if (d := damerau_levenshtein(q, w)) <= k),
                key=lambda t: (t[1], t[0]),
            )
            assert query_one(idx, q, k, metric="damerau") == want, (q, k)


def test_query_one_bytes_through_scalar_walk():
    """Byte semantics: an index over UTF-8 byte surrogates answers with
    distances in bytes, results decoded back to strings."""
    words = _vocabulary(7, "aé中𝄞")
    idx = _index(py_to_byte_surrogate(w) for w in words)
    for q in _queries(7, "aé中𝄞", words):
        for k in range(4):
            want = sorted(
                (w, d)
                for w in words
                if (d := brute_levenshtein(q.encode(), w.encode())) <= k
            )
            assert query_one(idx, q, k, bytes=True) == want, (q, k)


def test_walk_views_are_lazy_and_never_pickled():
    """Batch lookups never build the walk's views; a lookup does, and
    the pickled index (the broadcast payload) carries the same slots as
    before without them."""
    idx = _index(_vocabulary(0, "abcd"))
    idx.search_many(["ab", "cd"], 2)
    assert idx._walk is None
    before = set(idx.__getstate__())
    idx.search("ab", 1)
    assert idx._walk is not None
    assert set(idx.__getstate__()) == before
    assert "_walk" not in before and "_bc" not in before
    clone = pickle.loads(pickle.dumps(idx))
    assert clone._walk is None
    assert clone.search("ab", 1) == idx.search("ab", 1)
