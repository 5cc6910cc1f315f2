"""Incremental, batch-vectorized Levenshtein DP, and the query encoding
every fuzzy walk reads.

The trie walk itself (every batch route and every single lookup) is
native C: ``functions/walk.c``, loaded by ``functions/native.py``, with
the pure-Python ``operators/query.py`` ``_walk_one`` as its fallback.
It runs the reference's embedded-C++ kernels
(``CalculateLevenshteinVector`` / ``GetMinDistance`` /
``GetFinalDistance``, PrefixTree.ecl:315-394) on one query at a time,
over a Ukkonen window of 2k+1 cells per DP row. ``QueryBatch`` hands it
the queries as one flat buffer of codepoints with offsets.

This module keeps the full-row numpy kernel for what needs whole rows:
``mode="bfs"`` (``extend_rows_multi``, one Arrow batch of (query, node)
pairs per call), ``levenshtein()``, and the tests' reference.
``extend_rows`` resumes the DP from a saved row and extends it by one
edge label, as ``CalculateLevenshteinVector`` does (the DP state for a
shared prefix is computed once per path and reused across the subtree,
PrefixTree.ecl:321-326), but vectorized ACROSS queries. It starts from a
fully initialized row, which avoids the reference's latent first-call
``memcpy`` bug (PrefixTree.ecl:368, SURVEY.md §0 Quirk 1).
``QueryBatch.row_mins`` ≡ ``GetMinDistance`` (PrefixTree.ecl:379-386)
and ``final_distances`` ≡ ``GetFinalDistance`` (PrefixTree.ecl:387-394).

Distances are per Unicode codepoint, not per byte as in ECL STRING
(SURVEY.md §1.3). NB: DuckDB's ``levenshtein`` counts UTF-8 BYTES
(café↔cafe = 2); the two agree on ASCII, which is all the driver's
oracle columns contain — keep non-ASCII out of oracle queries.

Vectorization note: the within-row dependency (insertion chain
``row[j] = min(cand[j], row[j-1]+1)``) is a running min of
``cand[j] - j`` — computed with ``np.minimum.accumulate`` so the whole
row update is branch-free numpy.
"""

from __future__ import annotations

import numpy as np

BIG = np.int32(1 << 20)


def codepoints(text: str) -> np.ndarray:
    """``text``'s codepoints as int32, what ``ord`` gives for each
    char: ``utf-32-le`` with ``surrogatepass``, so a lone surrogate is
    its own code. Read-only (a view of the encoded bytes)."""
    raw = text.encode("utf-32-le", "surrogatepass")
    return np.frombuffer(raw, dtype="<i4").astype(np.int32, copy=False)


class QueryBatch:
    """A batch of query strings encoded for the DP.

    ``flat`` holds every query's codepoints back to back
    (``codepoints``), query i at ``flat[offsets[i] : offsets[i+1]]``;
    ``lens[i]`` is its length. That is all the trie walk reads. The
    full-row kernel reads ``codes`` and ``valid``, built on first use:
    ``codes[i, j]`` is the codepoint of query i at position j (0 beyond
    the query's length), ``valid[i, j]`` whether j <= len(query i). DP
    rows are arrays of shape ``(n, max_len + 1)``; ``rows[i, j]`` =
    edit distance between the path consumed so far and
    ``queries[i][:j]``.
    """

    __slots__ = ("queries", "flat", "offsets", "lens", "max_len", "_js", "_codes", "_valid")

    def __init__(self, queries: list[str]):
        self.queries = queries
        n = len(queries)
        self.flat = codepoints("".join(queries))
        self.lens = np.fromiter(map(len, queries), dtype=np.int32, count=n)
        self.offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(self.lens, out=self.offsets[1:])
        self.max_len = int(self.lens.max()) if n else 0
        self._js = np.arange(self.max_len + 1, dtype=np.int32)
        self._codes = None
        self._valid = None

    def __len__(self) -> int:
        return len(self.queries)

    @property
    def codes(self) -> np.ndarray:
        """Dense (n, max_len) codepoint matrix, zero-padded."""
        if self._codes is None:
            codes = np.zeros((len(self.queries), self.max_len), dtype=np.int32)
            rows = np.repeat(np.arange(len(self.queries)), self.lens)
            cols = np.arange(len(self.flat)) - np.repeat(self.offsets[:-1], self.lens)
            codes[rows, cols] = self.flat
            self._codes = codes
        return self._codes

    @property
    def valid(self) -> np.ndarray:
        """(n, max_len + 1) mask of the cells inside each query."""
        if self._valid is None:
            self._valid = self._js[None, :] <= self.lens[:, None]
        return self._valid

    def initial_rows(self, idx: np.ndarray | None = None) -> np.ndarray:
        """Row 0 of the DP: distance(empty path, q[:j]) = j."""
        n = len(self.queries) if idx is None else len(idx)
        return np.broadcast_to(self._js, (n, self.max_len + 1)).copy()

    def row_mins(self, rows: np.ndarray, idx: np.ndarray) -> np.ndarray:
        """Min of each DP row over valid cells — the branch-and-bound
        lower bound (≡ GetMinDistance, PrefixTree.ecl:379-386)."""
        masked = np.where(self.valid[idx], rows, BIG)
        return masked.min(axis=1)

    def final_distances(self, rows: np.ndarray, idx: np.ndarray) -> np.ndarray:
        """Last valid DP cell = exact distance(path, query)
        (≡ GetFinalDistance, PrefixTree.ecl:387-394)."""
        return rows[np.arange(len(idx)), self.lens[idx]]


def extend_rows(
    batch: QueryBatch, rows: np.ndarray, idx: np.ndarray, label: str
) -> np.ndarray:
    """Advance DP rows by the characters of ``label`` (one trie edge).

    ``rows`` has shape (len(idx), max_len+1); ``idx`` selects which
    queries of ``batch`` these rows belong to. Returns new rows; does
    not mutate the input. Cost O(len(label) * len(idx) * max_len) in
    vectorized numpy — shared across every word in the subtree below
    this edge (the whole point of the trie, PrefixTree.ecl:321-326).
    """
    codes = batch.codes[idx]
    js = batch._js
    buf_a, buf_b = np.empty_like(rows), np.empty_like(rows)
    cur = rows
    for ch in label:
        c = ord(ch)
        out = buf_a if cur is not buf_a else buf_b
        # candidate[j] = min(substitute via diagonal, delete word char)
        out[:, 0] = cur[:, 0] + 1
        np.minimum(cur[:, :-1] + (codes != c), cur[:, 1:] + 1, out=out[:, 1:])
        # insertion chain row[j] = min(row[j-1]+1, candidate[j]) is a
        # running min in (candidate[j] - j) space
        out -= js
        np.minimum.accumulate(out, axis=1, out=out)
        out += js
        cur = out
    return cur if cur is not rows else rows.copy()


def extend_rows_multi(
    batch: QueryBatch, rows: np.ndarray, idx: np.ndarray, labels: list[str]
) -> np.ndarray:
    """Advance row i by ITS OWN edge label ``labels[i]`` — the
    heterogeneous-label twin of ``extend_rows`` for bfs mode, where one
    Arrow batch holds (query, node) pairs visiting MANY different
    nodes. One vectorized char-step advances every row still inside
    its label (per-row char codes broadcast against the query-code
    matrix), so the Python cost is O(max label length) loop iterations
    per batch instead of one ``extend_rows`` call per distinct label —
    the per-level UDF was the measured bfs bottleneck (thousands of
    tiny label groups per batch)."""
    n = len(idx)
    if n == 0:
        return rows.copy()
    lab_lens = np.fromiter((len(l) for l in labels), dtype=np.int32, count=n)
    L = int(lab_lens.max()) if n else 0
    lab_codes = np.zeros((n, L), dtype=np.int32)
    for i, lab in enumerate(labels):
        if lab:
            lab_codes[i, : len(lab)] = np.fromiter(
                map(ord, lab), dtype=np.int32, count=len(lab)
            )
    codes = batch.codes[idx]
    js = batch._js
    cur = rows.copy()
    for t in range(L):
        act = lab_lens > t
        if not act.any():
            break
        sub = cur[act]
        c = lab_codes[act, t]
        out = np.empty_like(sub)
        out[:, 0] = sub[:, 0] + 1
        np.minimum(
            sub[:, :-1] + (codes[act] != c[:, None]), sub[:, 1:] + 1, out=out[:, 1:]
        )
        out -= js
        np.minimum.accumulate(out, axis=1, out=out)
        out += js
        cur[act] = out
    return cur


def levenshtein(a: str, b: str) -> int:
    """Plain two-string Levenshtein distance (test oracle helper)."""
    batch = QueryBatch([a])
    idx = np.array([0])
    rows = extend_rows(batch, batch.initial_rows(), idx, b)
    return int(batch.final_distances(rows, idx)[0])
