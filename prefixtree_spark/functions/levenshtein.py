"""Incremental, batch-vectorized Levenshtein DP.

This is the engine's replacement for the reference's embedded-C++ scalar
kernels (SURVEY.md §2.8). The trie traversal (``operators/query.py``
``_traverse``, every batch route) runs the banded state kernel:

  - ``CalculateLevenshteinVector`` (PrefixTree.ecl:315-377) →
    ``extend_state_banded`` — resume the DP from the saved state and
    extend it by one edge label. We keep the same incremental idea (DP
    state for a shared prefix is computed once per path and reused
    across the subtree, PrefixTree.ecl:321-326) but (a) vectorize
    ACROSS ALL QUERIES at once with numpy, so one trie visit advances
    every active query's (2k+1)-cell Ukkonen window in a few
    O(n_queries * (2k+1)) array ops, and (b) fix the reference's latent
    first-call ``memcpy`` bug (PrefixTree.ecl:368, SURVEY.md §0 Quirk 1)
    by always starting from a fully initialized state
    (``banded_initial_state``).
  - ``GetMinDistance`` (PrefixTree.ecl:379-386) → ``state_row_mins`` —
    min of the valid window cells = lower bound for branch-and-bound
    pruning.
  - ``GetFinalDistance`` (PrefixTree.ecl:387-394) →
    ``state_final_distances`` — the cell j = len(q) = exact distance
    once the path spells a word.

The full-row kernel (``extend_rows`` / ``QueryBatch.row_mins`` /
``final_distances``, max_len+1 cells per query) stays for what needs
whole rows: ``mode="bfs"`` (``extend_rows_multi``), ``levenshtein()``,
and the tests' cell-by-cell reference for the banded kernel.

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


class QueryBatch:
    """A batch of query strings encoded for vectorized DP.

    ``codes[i, j]`` is the codepoint of query i at position j (0 beyond
    the query's length); ``lens[i]`` its length. DP rows are arrays of
    shape ``(n, max_len + 1)``; ``rows[i, j]`` = edit distance between
    the path consumed so far and ``queries[i][:j]``.
    """

    __slots__ = ("queries", "codes", "lens", "max_len", "_js", "_valid", "_padT")

    def __init__(self, queries: list[str]):
        self.queries = queries
        n = len(queries)
        self.lens = np.fromiter((len(q) for q in queries), dtype=np.int32, count=n)
        self.max_len = int(self.lens.max()) if n else 0
        self.codes = np.zeros((n, self.max_len), dtype=np.int32)
        for i, q in enumerate(queries):
            if q:
                self.codes[i, : len(q)] = np.fromiter(map(ord, q), dtype=np.int32, count=len(q))
        self._js = np.arange(self.max_len + 1, dtype=np.int32)
        # valid[i, j] == True where j <= len(queries[i])
        self._valid = self._js[None, :] <= self.lens[:, None]
        self._padT = {}  # k -> padded transposed code matrix (see codes_T_padded)

    def __len__(self) -> int:
        return len(self.queries)

    def initial_rows(self, idx: np.ndarray | None = None) -> np.ndarray:
        """Row 0 of the DP: distance(empty path, q[:j]) = j."""
        n = len(self.queries) if idx is None else len(idx)
        return np.broadcast_to(self._js, (n, self.max_len + 1)).copy()

    def row_mins(self, rows: np.ndarray, idx: np.ndarray) -> np.ndarray:
        """Min of each DP row over valid cells — the branch-and-bound
        lower bound (≡ GetMinDistance, PrefixTree.ecl:379-386)."""
        masked = np.where(self._valid[idx], rows, BIG)
        return masked.min(axis=1)

    def final_distances(self, rows: np.ndarray, idx: np.ndarray) -> np.ndarray:
        """Last valid DP cell = exact distance(path, query)
        (≡ GetFinalDistance, PrefixTree.ecl:387-394)."""
        return rows[np.arange(len(idx)), self.lens[idx]]

    def codes_T_padded(self, k: int) -> np.ndarray:
        """Transposed code matrix padded for the banded state kernel:
        row r holds query char position ``r - k`` (poison -1 outside
        [0, max_len)), so the window's char rows for path position
        ``p`` and in-label offset ``t`` are the contiguous slice
        ``[p+t : p+t+2k+1]`` — no per-char fancy gather. Rows cover
        every window the traversal can reach before pruning
        (p ≤ max_len + k); beyond-allocation steps are handled by the
        kernel's all-poison fallback. Cached per k (one traversal uses
        one k)."""
        cached = self._padT.get(k)
        if cached is None:
            n = len(self.queries)
            rows = self.max_len + 3 * k + 2
            cached = np.full((rows, n), -1, dtype=np.int32)
            if self.max_len:
                cached[k : k + self.max_len] = self.codes.T
            self._padT[k] = cached
        return cached


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


# ---------------------------------------------------------------------------
# banded (Ukkonen) state kernel — the max-distance-k traversal hot loop
# ---------------------------------------------------------------------------
#
# With a distance cap k, every DP cell with |j - p| > k (p = path chars
# consumed) is provably > k: reaching q[:j] from a p-char path needs at
# least |j - p| edits. The traversal only ever asks three questions —
# "is any cell ≤ k" (branch-and-bound), "is the final cell ≤ k"
# (end-cap hit), and the cell values that are ≤ k — so carrying the
# full max_len+1 row computes ~max_len/(2k+1) × more arithmetic than
# the answers need (at k=2 over ~38-char names: 39 cells vs 5). The
# banded state stores exactly the window j ∈ [p-k, p+k]; it shifts
# right one cell per path char, so window index w maps to j = p - k + w.
# Out-of-window influence is impossible: the full recurrence reads
# (j-1, prev), (j, prev), (j-1, cur) — all within the shifted window —
# and any outside cell is > k, which the min() flow can never carry
# into a ≤ k answer. Values INSIDE the band can exceed k transiently
# (they're exact, not clamped); every in-window cell ≤ k equals the
# full kernel's, pinned cell by cell against ``extend_rows`` by
# test_banded_state_kernel_equals_row_kernel.
#
# The state is stored TRANSPOSED: shape (W, n) with W = 2k+1, so each
# window cell w is one contiguous (n,) row. The r13 profile of the
# both-big traversal put 80% of task time inside the earlier (n, W)
# row layout, mostly numpy fixed costs (``ufunc.accumulate`` along
# axis 1 for the 5-cell insertion chain, per-edge fancy gathers,
# strided column ops), so the chain became 2(W-1) explicit row calls.
# On the (W, n) layout one ``np.minimum.accumulate(axis=0)`` in
# (cell - w) space does it instead. Per char, numpy 1.26, one core of
# a shared 4-vCPU Xeon: k=2, n = 20 / 96 / 400 / 2000 active queries,
# 2(W-1) calls 15.5 / 16.8 / 17.8 / 20.6 µs vs accumulate 1.9 / 4.9 /
# 15.1 / 68.2 µs. Accumulate walks the short window axis once per
# column, so it loses only where thousands of queries stay active;
# whole traversals are pruning-bound and mostly run small active sets
# (SCALING.md "One batch DP kernel": equal or faster at 96-2,000
# queries, k=0..3, on the benchmark vocabulary). The buffers are
# allocated C-ordered up front: the traversal's column selections
# (``state[:, mask]``) return F-ordered copies, and ``state - ws`` or
# ``empty_like`` would carry that order into every per-char op (1.3-2x
# slower per edge at ~2,000 active queries); one ``np.subtract`` into
# a C-ordered buffer transposes once per edge.


def banded_initial_state(k: int, n: int) -> np.ndarray:
    """(W, n) window at p=0: row w holds j = w - k → distance(ε, q[:j])
    = j, BIG for j<0."""
    js = np.arange(-k, k + 1, dtype=np.int32)
    col = np.where(js >= 0, js, BIG).astype(np.int32)
    return np.repeat(col[:, None], max(n, 0), axis=1)


def state_row_mins(
    lens_sub: np.ndarray, state: np.ndarray, p: int, k: int
) -> np.ndarray:
    """Branch-and-bound lower bound over valid window cells (0 ≤ j ≤
    len(q)) on the transposed state — one masked min down the window
    axis. ``lens_sub`` is ``batch.lens[idx]``."""
    lo = max(0, k - p)  # window rows with j < 0 never count
    js = np.arange(p - k + lo, p + k + 1, dtype=np.int32)
    return state[lo:].min(axis=0, initial=BIG, where=js[:, None] <= lens_sub)


def state_final_distances(
    lens_sub: np.ndarray, state: np.ndarray, p: int, k: int
) -> np.ndarray:
    """Exact distance = cell j = len(q); callers guarantee
    |len(q) - p| ≤ k (end-cap length band), so the cell is in window."""
    w = lens_sub - (p - k)
    return state[w, np.arange(state.shape[1])]


def extend_state_banded(
    padT_sub: np.ndarray,
    state: np.ndarray,
    label: str,
    p: int,
    k: int,
) -> np.ndarray:
    """Advance a (W, n) transposed window state by ``label``'s chars.

    ``padT_sub`` is the active queries' slice of
    ``QueryBatch.codes_T_padded(k)`` restricted to the rows this edge
    reads — ``padT[p : p + len(label) + 2k][:, idx]`` — one gather per
    edge; per char the needed (W, n) char matrix is the contiguous view
    ``padT_sub[t : t + W]``. ``p`` is the path length BEFORE the edge.
    Does not mutate ``state``; returns a fresh (W, n) array."""
    W = 2 * k + 1
    ws = np.arange(W, dtype=np.int32)[:, None]
    # the whole edge runs in (cell - w) space, where the insertion chain
    # out[w] = min(out[w], out[w-1] + 1) is a running min down the
    # window axis; w is subtracted once here and added back at the end
    n = state.shape[1]
    cur = np.empty((W, n), dtype=np.int32)
    np.subtract(state, ws, out=cur)
    nxt = np.empty((W, n), dtype=np.int32)
    neq = np.empty((W, n), dtype=np.int32)
    rows_avail = padT_sub.shape[0]
    for t, ch in enumerate(label):
        c = ord(ch)
        out = nxt
        if t + W <= rows_avail:
            # (W, n) substitution costs: 1 where the window char differs
            np.not_equal(padT_sub[t : t + W], c, out=neq, casting="unsafe")
        else:
            # window ran past the padded matrix — every char is poison
            # (only reachable in the guaranteed-pruned p > max_len + k
            # zone; values stay exact-and-large, never ≤ k)
            neq.fill(1)
        # diag: (j-1, prev) sits at the SAME w after the window shift
        np.add(cur, neq, out=out)
        # up: (j, prev) sits at w+1 — cell + 1, i.e. +2 in shifted
        # space; w = W-1 has no up (outside window)
        if W > 1:
            np.add(cur[1:], 2, out=neq[: W - 1])  # reuse neq as scratch
            np.minimum(out[: W - 1], neq[: W - 1], out=out[: W - 1])
        # j == 0 boundary: distance(path, ε) = p+t+1; j < 0 is padding
        w0 = k - (p + t + 1)
        if w0 >= 0:
            if w0 < W:
                out[w0] = p + t + 1 - w0
            out[: min(w0, W)] = BIG
        np.minimum.accumulate(out, axis=0, out=out)
        nxt, cur = cur, out
    cur += ws
    return cur


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
