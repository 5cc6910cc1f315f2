"""The trie walk behind every fuzzy lookup (Spark-free): the native
kernel (``functions/walk.c``), its Python fallback ``_walk_one`` and the
brute force must return exactly the same rows — for single lookups and
batches, over vocabularies with prefix words, one-character words,
non-ASCII and astral codepoints, lone surrogates, the empty query and
queries longer than any word plus k, byte semantics, damerau, and an
index holding several forests — and the pickled (broadcast) index must
hold only numpy buffers."""

import pickle
import random

import numpy as np
import pandas as pd
import pytest

from prefixtree_spark.functions import native
from prefixtree_spark.functions.bytesurrogate import py_to_byte_surrogate
from prefixtree_spark.functions.damerau import damerau_levenshtein
from prefixtree_spark.functions.levenshtein import QueryBatch
from prefixtree_spark.operators.build import _emit, _insert, _new_node
from prefixtree_spark.operators.query import LocalIndex, _walk, _walk_one, query_one
from prefixtree_spark.plans.tree import ID_BLOCK, PT_COLUMNS
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


def _forests(groups: list[list[str]]) -> LocalIndex:
    """One index over one forest per word group, as one partition
    holds several forests."""
    rows = []
    for f, group in enumerate(groups):
        root = _new_node("")
        for w in group:
            _insert(root, w)
        rows += _emit(root, f, f * ID_BLOCK + 1)
    return LocalIndex(pd.DataFrame(rows, columns=PT_COLUMNS))


def _brute(words, q, k):
    return sorted(
        (w, d) for w in words if (d := brute_levenshtein(q, w)) <= k
    )


def _python_walk(idx: LocalIndex, q: str, k: int) -> list[tuple[str, int]]:
    """The fallback kernel, called directly."""
    return sorted((idx.labels[p], d) for p, d in _walk_one(idx._python_view(), q, k))


def _batch_rows(idx: LocalIndex, qs: list[str], k: int) -> set[tuple[str, str, int]]:
    qi, pos, d = _walk(idx, QueryBatch(qs), k)
    return {(qs[i], idx.labels[p], int(x)) for i, p, x in zip(qi, pos, d)}


def test_native_kernel_loads_where_a_compiler_exists():
    """Every other test here compares the native kernel only when it
    loaded; on a host with a C compiler it must."""
    want = "native" if native._compiler() else "python"
    assert native.status()["kernel"] == want


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("alphabet", ALPHABETS)
def test_scalar_walk_equals_batch_kernel_and_brute_force(seed, alphabet):
    """Native single lookups, native batches, the Python walk and the
    brute force agree at k=0..3."""
    words = _vocabulary(seed, alphabet)
    idx = _index(words)
    qs = _queries(seed, alphabet, words)
    for k in range(4):
        batch = _batch_rows(idx, qs, k)
        for q in qs:
            got = idx.search(q, k)
            assert got == _python_walk(idx, q, k), (q, k)
            assert got == _brute(words, q, k), (q, k)
        assert batch == {(q, w, d) for q in qs for w, d in _brute(words, q, k)}, k


@pytest.mark.parametrize("n_forests", [2, 5])
@pytest.mark.parametrize("ranged", [True, False])
def test_walk_over_several_forests(n_forests, ranged):
    """A partition holding several forests walks as one index, every
    root walked: word ranges (contiguous slices of the sorted
    dictionary, as ``create`` makes), or forests that each span the
    whole range (the older whole-word hash layout)."""
    alphabet = "aé中𝄞"
    words = _vocabulary(11, alphabet)
    if ranged:
        size = -(-len(words) // n_forests)
        groups = [words[f * size : (f + 1) * size] for f in range(n_forests)]
    else:
        groups = [words[f::n_forests] for f in range(n_forests)]
    idx = _forests(groups)
    qs = _queries(11, alphabet, words)
    for k in range(4):
        want = {(q, w, d) for q in qs for w, d in _brute(words, q, k)}
        assert _batch_rows(idx, qs, k) == want, k
        for q in qs:
            assert idx.search(q, k) == _python_walk(idx, q, k), (q, k)


def test_lone_surrogates_walk_like_ord():
    """Labels and queries are encoded with ``surrogatepass``: a lone
    surrogate is one codepoint, the one ``ord`` gives."""
    words = ["a\ud800b", "\udfff", "ab", "\ud800\udc00"]
    idx = _index(words)
    for q in ["a\ud800", "\ud800", "ab\udfff", "", "\ud800\udc00x"]:
        for k in range(3):
            assert idx.search(q, k) == _python_walk(idx, q, k) == _brute(words, q, k)
    clone = pickle.loads(pickle.dumps(idx))
    assert list(clone.labels) == list(idx.labels)


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


def _python_query_one(monkeypatch, *args, **kwargs):
    """``query_one`` with the native kernel unavailable."""
    with monkeypatch.context() as m:
        m.setattr(native, "load", lambda: None)
        return query_one(*args, **kwargs)


@pytest.mark.parametrize("seed", range(3))
def test_query_one_damerau_through_scalar_walk(seed, monkeypatch):
    """Probe at 2k plus exact rerank, against the DuckDB-checked DL
    kernel over every word, through both walks."""
    words = _vocabulary(seed, "abcd")
    idx = _index(words)
    for q in _queries(seed, "abcd", words):
        for k in range(3):
            want = sorted(
                ((w, d) for w in words if (d := damerau_levenshtein(q, w)) <= k),
                key=lambda t: (t[1], t[0]),
            )
            assert query_one(idx, q, k, metric="damerau") == want, (q, k)
            assert _python_query_one(monkeypatch, idx, q, k, metric="damerau") == want


def test_query_one_bytes_through_scalar_walk(monkeypatch):
    """Byte semantics: an index over UTF-8 byte surrogates answers with
    distances in bytes, results decoded back to strings, through both
    walks."""
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
            assert _python_query_one(monkeypatch, idx, q, k, bytes=True) == want


def test_pickled_index_holds_only_numpy_buffers():
    """The pickled index (the broadcast payload) is the walk's flat
    buffers and nothing else: no per-node Python objects, and none of
    what a process derives from them (the labels, the native binding,
    the fallback's list view, the broadcast). A clone answers the
    same."""
    idx = _index(_vocabulary(0, "abcd"))
    idx.search_many(["ab", "cd"], 2)
    idx.search("ab", 1)
    idx._python_view()
    state = idx.__getstate__()
    assert set(state) == set(LocalIndex._PICKLED)
    for name, value in state.items():
        assert isinstance(value, np.ndarray) and value.dtype != object, name
    clone = pickle.loads(pickle.dumps(idx))
    assert (clone._labels, clone._native, clone._python, clone._bc) == (None,) * 4
    assert clone.search("ab", 1) == idx.search("ab", 1)
    assert clone.search_prefix("a") == idx.search_prefix("a")
    assert list(clone.labels) == list(idx.labels)
