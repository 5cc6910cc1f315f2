"""Seeded input generator for the benchmark.

Every function takes the workload seed and returns plain Python data
(lists of strings / tuples). Nothing here depends on iteration order of
a ``set`` or ``dict`` of strings, and every ``random.Random`` is seeded
with a string (hashed with SHA-512 by ``random``), so the output is
byte-identical across processes and ``PYTHONHASHSEED`` values.
``python3 perfbench/gen.py --seed 7`` prints a digest of every input.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import math
import random

ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

# fixed input shapes: every seed draws from the same distributions
MISS_SHARE = 0.1            # share of perturbed queries that are random strings
REQUEST_ZIPF_S = 0.7        # request popularity skew
CORPUS_VOCAB, CORPUS_ZIPF_S = 20_000, 1.05
CORPUS_TOKENS = (60, 120)   # tokens per document, inclusive
CORPUS_DUP_SHARE, CORPUS_MAX_EDITS = 0.1, 2

# surname-like syllable model: onset + nucleus + coda, Zipf-weighted so
# common syllables recur at word starts and trie prefixes are shared the
# way real name dictionaries share them
_ONSETS = sorted({
    "", "B", "BR", "C", "CH", "CL", "D", "DR", "F", "G", "GR", "H", "J",
    "K", "KL", "KR", "L", "M", "N", "P", "PR", "R", "S", "SCH", "SH", "SK",
    "ST", "T", "TR", "V", "W", "Z",
})
_NUCLEI = sorted({"A", "E", "I", "O", "U", "AI", "EA", "IE", "OU", "Y", "EE", "OO"})
_CODAS = sorted({
    "", "", "N", "R", "S", "L", "M", "T", "K", "NS", "RT", "LD", "SKI",
    "SEN", "SON", "MAN", "BERG", "EZ", "OV", "ER", "ING", "TZ",
})


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"prefixtree-perfbench:{seed}:{stream}")


def zipf_cum_weights(n: int, s: float) -> list[float]:
    """Cumulative Zipf(s) weights over ranks 1..n."""
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


def _syllables() -> list[str]:
    # deterministic order: sorted product, deduplicated in order
    seen: dict[str, None] = {}
    for o, n, c in itertools.product(_ONSETS, _NUCLEI, _CODAS):
        seen.setdefault(o + n + c, None)
    return list(seen)


def vocabulary(seed: int, n_words: int) -> list[str]:
    """``n_words`` distinct surname-like words, sorted."""
    rng = _rng(seed, "vocab")
    # the syllable ranking is fixed, so every seed draws from the same
    # distribution and dictionaries differ in members, not in shape
    syl = _syllables()
    cum = zipf_cum_weights(len(syl), 1.1)
    words: dict[str, None] = {}
    while len(words) < n_words:
        k = rng.choices((1, 2, 3, 4), weights=(3, 7, 3, 1))[0]
        w = "".join(rng.choices(syl, cum_weights=cum, k=k))
        if 3 <= len(w) <= 24:
            words.setdefault(w, None)
    return sorted(words)


def _edit(rng: random.Random, w: str) -> str:
    op = rng.randrange(3)
    i = rng.randrange(len(w) + (op == 1))
    c = rng.choice(ALPHABET)
    if op == 0:  # substitute
        return w[:i] + c + w[i + 1:]
    if op == 1:  # insert
        return w[:i] + c + w[i:]
    return w[:i] + w[i + 1:] if len(w) > 1 else w + c  # delete


def perturbed_queries(
    seed: int, vocab: list[str], n: int, stream: str = "queries"
) -> list[str]:
    """``n`` distinct queries, sorted: most are 1-2 random edits away
    from a dictionary word; ``MISS_SHARE`` of them are random letter
    strings (almost always farther than 2 edits from every word)."""
    rng = _rng(seed, stream)
    n_miss = int(round(n * MISS_SHARE))
    out: dict[str, None] = {}
    while len(out) < n - n_miss:
        q = rng.choice(vocab)
        for _ in range(rng.choice((1, 1, 2))):
            q = _edit(rng, q)
        if q:
            out.setdefault(q, None)
    while len(out) < n:
        q = "".join(rng.choices(ALPHABET, k=rng.randint(6, 14)))
        out.setdefault(q, None)
    return sorted(out)


def request_pool(seed: int, vocab: list[str], n: int) -> list[str]:
    """Up to ``n`` distinct perturbed queries (1-2 edits) taken at an even
    stride through the sorted dictionary from a seeded offset, so every
    seed's pool covers the whole trie alike."""
    rng = _rng(seed, "pool")
    step = len(vocab) / n
    off = rng.random() * step
    out: dict[str, None] = {}
    for i in range(n):
        q = vocab[int(off + i * step)]
        for _ in range(rng.choice((1, 1, 2))):
            q = _edit(rng, q)
        out.setdefault(q, None)
    return list(out)


def zipf_requests(seed: int, pool: list[str], n: int) -> list[int]:
    """``n`` indices into ``pool`` with Zipf(``REQUEST_ZIPF_S``) popularity. Rank r maps
    to pool position (offset + r * stride) mod len(pool), with a stride
    near len/golden ratio, so the popular queries spread evenly over
    the pool instead of clustering by chance."""
    rng = _rng(seed, "popularity")
    p = len(pool)
    off = rng.randrange(p)
    stride = int(p * 0.6180339887) | 1
    while math.gcd(stride, p) != 1:
        stride += 2
    cum = zipf_cum_weights(p, REQUEST_ZIPF_S)
    return [(off + bisect.bisect_left(cum, rng.random() * cum[-1]) * stride) % p
            for _ in range(n)]


def serve_requests(
    seed: int, pool: list[str], n: int
) -> list[tuple[str, str, int]]:
    """``n`` point requests ``(path, q, k)`` over ``pool`` with Zipf
    popularity. Every block of 20 consecutive requests holds, in a seeded
    order, exactly 16 ``/search`` at k=1, one ``/search`` at k=2 and 3
    ``/prefix`` on the first 3 or 4 characters (k is 0 there), so any
    whole number of blocks has the mix's shares exactly."""
    rng = _rng(seed, "mix")
    block = [1] * 16 + [2] + [0] * 3
    kinds: list[int] = []
    while len(kinds) < n:
        rng.shuffle(block)
        kinds += block
    out = []
    for i, k in zip(zipf_requests(seed, pool, n), kinds):
        if k:
            out.append(("/search", pool[i], k))
        else:
            out.append(("/prefix", pool[i][: rng.choice((3, 4))], 0))
    return out


def churn_deltas(
    seed: int, vocab: list[str], rounds: int, delta: int
) -> list[tuple[list[str], list[str]]]:
    """Per round ``(add, remove)`` word lists, each sorted: ``add`` holds
    new words not in the current dictionary, ``remove`` existing words
    (never ones added earlier in the run). Applied in order, the
    dictionary stays the same size."""
    rng = _rng(seed, "churn")
    current = set(vocab)
    removable = list(vocab)
    fresh = [w for w in vocabulary(seed + 1_000_003, len(vocab) + rounds * delta * 2)
             if w not in current]
    rng.shuffle(fresh)
    out = []
    for r in range(rounds):
        add = sorted(fresh[r * delta:(r + 1) * delta])
        remove = sorted(rng.sample(removable, delta))
        removable = sorted(set(removable) - set(remove))
        current |= set(add)
        current -= set(remove)
        out.append((add, remove))
    return out


def corpus(
    seed: int, n_docs: int
) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
    """Documents ``(doc_id, text)`` whose tokens follow a Zipf
    vocabulary, plus the planted near-copy pairs ``(original, copy)``:
    ``CORPUS_DUP_SHARE`` of the documents copy an earlier document with
    1 to ``CORPUS_MAX_EDITS`` token substitutions."""
    rng = _rng(seed, "corpus")
    toks = [f"t{i:05d}" for i in range(CORPUS_VOCAB)]
    rng.shuffle(toks)
    cum = zipf_cum_weights(CORPUS_VOCAB, CORPUS_ZIPF_S)
    docs: list[list[str]] = []
    planted: list[tuple[int, int]] = []
    n_dup = int(n_docs * CORPUS_DUP_SHARE)
    n_orig = n_docs - n_dup
    for _ in range(n_orig):
        docs.append(rng.choices(toks, cum_weights=cum, k=rng.randint(*CORPUS_TOKENS)))
    for i in range(n_dup):
        src = rng.randrange(n_orig)
        d = list(docs[src])
        for _ in range(rng.randint(1, CORPUS_MAX_EDITS)):
            d[rng.randrange(len(d))] = rng.choices(toks, cum_weights=cum)[0]
        planted.append((src, n_orig + i))
        docs.append(d)
    return [(i, " ".join(d)) for i, d in enumerate(docs)], planted


def digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()[:16]


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    v = vocabulary(a.seed, 20_000)
    print("vocabulary", digest(v))
    print("queries", digest(perturbed_queries(a.seed, v, 1000)))
    print("requests", digest(serve_requests(a.seed, v[:500], 1000)))
    print("churn", digest(churn_deltas(a.seed, v, 2, 100)))
    print("corpus", digest(corpus(a.seed, 500)))
