"""Output checks: DuckDB brute-force oracles and result comparison.

The oracle for fuzzy search is DuckDB's ``levenshtein`` over every
(query, word) pair of the current word set; for prefix search it is
``starts_with``. Both run on the benchmark's own copy of the inputs,
never on the program's output.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import duckdb


# results are compared as sorted lists, not sets, so a duplicated row
# is a mismatch: the program promises one row per (query, word) pair

def fuzzy_oracle(words: list[str], queries: list[str], k: int) -> dict[str, list]:
    """query -> sorted [(word, distance)] for every word within ``k`` edits."""
    con = duckdb.connect()
    try:
        con.register("w", _frame("word", words))
        con.register("q_src", _frame("q", queries))
        rows = con.execute(
            f"""SELECT q, word, CAST(levenshtein(q, word) AS INTEGER) AS d
                FROM q_src, w
                WHERE abs(length(q) - length(word)) <= {int(k)}
                  AND levenshtein(q, word) <= {int(k)}"""
        ).fetchall()
    finally:
        con.close()
    out: dict[str, list] = {q: [] for q in queries}
    for q, w, d in rows:
        out[q].append((w, d))
    return {q: sorted(v) for q, v in out.items()}


def prefix_oracle(words: list[str], prefixes: list[str]) -> dict[str, list]:
    con = duckdb.connect()
    try:
        con.register("w", _frame("word", words))
        con.register("p", _frame("p", prefixes))
        rows = con.execute(
            "SELECT p, word FROM p, w WHERE starts_with(word, p) ORDER BY p, word"
        ).fetchall()
    finally:
        con.close()
    out: dict[str, list] = {p: [] for p in prefixes}
    for p, w in rows:
        out[p].append(w)
    return out


def _frame(col: str, values: list[str]):
    import pandas as pd

    return pd.DataFrame({col: pd.Series(values, dtype=object)})


def group_rows(rows, queries) -> dict[str, list]:
    """(query, word, distance) rows -> query -> sorted [(word, distance)]."""
    out: dict[str, list] = {q: [] for q in queries}
    for q, w, d in rows:
        if q in out:
            out[q].append((w, int(d)))
    return {q: sorted(v) for q, v in out.items()}


def mismatches(got: dict, want: dict) -> list:
    """Keys whose results differ (a missing key counts as empty)."""
    return sorted(k for k in want if got.get(k, []) != want[k])


def result_hash(rows) -> str:
    """Order-independent digest of a result's rows."""
    h = hashlib.sha256()
    for r in sorted(tuple(map(str, r)) for r in rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def corruptions(result: dict[str, list]) -> list[dict[str, list]]:
    """Copies of a grouped fuzzy result, each with one answer broken:
    the first non-empty query loses a word, then instead repeats one
    (an empty result gains a bogus word instead)."""
    out = []
    for change in ("drop", "repeat"):
        bad = {q: list(v) for q, v in result.items()}
        q = next((q for q in sorted(bad) if bad[q]), None)
        if q is None:
            bad[sorted(bad)[0]].append(("#corrupt#", 0))
        elif change == "drop":
            bad[q] = bad[q][1:]
        else:
            bad[q] = sorted(bad[q] + bad[q][:1])
        out.append(bad)
    return out


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


SHINGLE_TOKENS = 3  # dedup_corpus's default shingle size


def shingles(text: str) -> set:
    """Token 3-gram set, tokenized on whitespace runs like the program."""
    t, n = text.split(), SHINGLE_TOKENS
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def expected_dedup(docs: list[tuple[int, str]], planted: list[tuple[int, int]],
                   threshold: float) -> tuple[set, list[tuple[int, int]]]:
    """Ids ``dedup_corpus`` must remove, from the planted groups alone:
    within each group of an original and its copies, pairs at Jaccard
    >= threshold are edges, and every component keeps its minimum id.
    Returns (removable ids, edges)."""
    text = dict(docs)
    groups = defaultdict(set)
    for src, cp in planted:
        groups[src].update((src, cp))
    edges, removable = [], set()
    for members in groups.values():
        m = sorted(members)
        sh = {i: shingles(text[i]) for i in m}
        parent = {i: i for i in m}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for i, a in enumerate(m):
            for b in m[i + 1:]:
                if jaccard(sh[a], sh[b]) >= threshold:
                    edges.append((a, b))
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
        removable.update(i for i in m if find(i) != i)
    return removable, edges
