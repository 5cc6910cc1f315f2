"""Incremental index maintenance — ``add_words`` inserts a delta
vocabulary into an existing node table, ``remove_words`` deletes one,
WITHOUT rebuilding the dictionary from raw input.

The reference cannot do this: ``Create`` is monolithic (the whole
vocabulary re-flows through DISTRIBUTE + ITERATE + NORMALIZE + ROLLUP,
PrefixTree.ecl:50-301). For a 100 TB dictionary the raw corpus
re-shuffle is the cost that matters; here only

  - the DELTA words shuffle (each routed to the forest whose word
    range covers it — ``create`` builds one forest per contiguous range
    of the sorted dictionary — so a delta word joins its prefix-sharing
    neighbors and a churned tree keeps the range layout; mis-routing is
    impossible to get wrong: correctness is partition-independent,
    SURVEY.md §0, so at worst a wrongly-routed word costs prefix
    sharing, never answers), and
  - the existing NODE table moves once through a cogroup on its build
    partition (already-deduplicated, prefix-compressed rows — far
    smaller than the corpus),

and only partitions that actually receive delta words rebuild their
trie; untouched forests pass through row-identical.

ID discipline: surviving nodes keep their ids; new nodes allocate from
the partition block's unused range (``max(existing id in block) + 1``,
block scheme ≡ PrefixTree.ecl:172-181) — so ids stay globally unique
with zero coordination, exactly as in ``create``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# one radix trie and one trim dispatch, shared with create: a build and
# its deltas can never disagree on a node layout or on which word a
# string spells
from prefixtree_spark.operators.build import (
    _CHILDREN,
    _END,
    _LABEL,
    _emit,
    _insert,
    _new_node,
    _range_pid,
    _trim_fn,
)
from prefixtree_spark.plans.tree import (
    ID_BLOCK,
    PT_COLUMNS,
    PT_SCHEMA,
    n_forests_hint,
    set_n_forests_hint,
    set_word_bounds_hint,
    word_bounds_hint,
)


def _rebuild(rows: pd.DataFrame) -> list:
    """Reconstruct the partition's radix forest from its PTLayout rows
    (labels + parent links are a complete encoding; ids are preserved
    on the rebuilt nodes)."""
    root = _new_node("")
    nodes: dict[int, list] = {}
    internal = rows[~rows["is_word"]]
    for nid, label in zip(internal["id"], internal["node"]):
        nodes[int(nid)] = _new_node(label, int(nid))
    for nid, parent_id, is_word, label, mn, mx in zip(
        rows["id"], rows["parent_id"], rows["is_word"],
        rows["node"], rows["_min"], rows["_max"],
    ):
        parent = root if int(parent_id) == 0 else nodes[int(parent_id)]
        if is_word:
            # end-cap: children=None, label = ENTIRE word
            parent[_CHILDREN][_END] = [label, None, int(mn), int(mx), int(nid)]
        else:
            child = nodes[int(nid)]
            parent[_CHILDREN][child[_LABEL][0]] = child
    return root


def _remove(root: list, word: str) -> bool:
    """Delete ``word``'s end-cap from the forest and prune any chain of
    nodes left childless. Internal nodes that drop to a single child
    are NOT re-merged — query correctness never depends on maximal
    path compression (the path still spells the same strings and
    ``_emit`` recomputes the bands); it only costs a little traversal
    depth until the next rebuild. Returns False if the word is absent
    (the removal is a no-op)."""
    cur = root
    i, n = 0, len(word)
    path: list[tuple[list, str]] = []
    while i < n:
        child = cur[_CHILDREN].get(word[i])
        if child is None:
            return False
        label = child[_LABEL]
        if word[i : i + len(label)] != label:
            return False
        path.append((cur, word[i]))
        cur = child
        i += len(label)
    cap = cur[_CHILDREN].get(_END)
    if cap is None or cap[_LABEL] != word:
        return False
    del cur[_CHILDREN][_END]
    node = cur
    while path and not node[_CHILDREN]:
        parent, k = path.pop()
        del parent[_CHILDREN][k]
        node = parent
    return True


def remove_words(
    pt: DataFrame,
    df: DataFrame,
    col: str | Column,
    *,
    trim: str = "both",
    pruned: bool | None = None,
    bytes: bool = False,
) -> DataFrame:
    """Delete ``df[col]``'s words from the node table ``pt`` and return
    the updated table. Equivalent, as query-result SETS, to
    ``create(old_words − removal)`` — pinned by the ``pt_remove_words``
    oracle workload and property tests. Words not in the dictionary
    are ignored.

    Unlike ``add_words``, the removal delta is routed by the INDEX'S
    OWN layout, not by re-hashing: each word finds its forest through
    an equi-join against the end-cap rows (``is_word`` nodes carry the
    full word), so removal is exact under ANY historical partitioning
    — word-range or older hash builds, add_words growth, repartitioned
    reloads. Cost:
    one equi-join over the (prefix-compressed) end-caps + a rebuild of
    only the forests that actually lose words; untouched forests pass
    through row-identical. Surviving nodes keep their ids; no new ids
    are ever allocated.

    ``trim`` MUST match the build's trim mode: a ``trim="right"``
    index keeps leading-space words as distinct entries, and full-
    trimming the removal delta here would silently delete the WRONG
    word (the trimmed homograph) instead. ``bytes`` likewise: a
    ``create(bytes=True)`` index stores byte-surrogate labels, and an
    un-transformed delta would miss every non-ASCII end-cap.

    ``pruned``: None (default) auto-chooses from two metadata counts —
    a removal batch smaller than half the forest count provably
    touches a minority of forests, so the untouched majority bypasses
    Python behind a literal-IN filter; larger batches keep the
    one-shot cogroup. True/False force a plan and skip the gate
    jobs."""
    if "n_copies" in pt.columns:
        raise ValueError("remove_words does not support keep_duplicates tables")
    # no .distinct() anywhere on the delta: end-caps are globally
    # unique (create dedups; add_words anti-joins), so the join emits
    # at most one (pid, word) row per DISTINCT delta word anyway, and
    # ``_remove`` is idempotent (second removal of a word no-ops) — a
    # duplicated delta row costs one wasted Python call, never a wrong
    # answer. Each dropped distinct was a full exchange + two
    # hash-aggregates of fixed scheduling cost on every delta call
    # (r7's remove_words_delta drift was exactly this class of
    # per-call fixed cost).
    words = df.select(
        _trim_fn(trim)(F.col(col) if isinstance(col, str) else col).alias("word")
    ).where(F.col("word") != "")
    if bytes:
        from prefixtree_spark.functions.bytesurrogate import to_byte_surrogate

        words = words.select(to_byte_surrogate("word").alias("word"))
    hits = (
        pt.where("is_word")
        .join(words, pt["node"] == words["word"])
        .select(F.col("compute_node").alias("pid"), F.col("word"))
    )

    def merge(key: tuple, old: pd.DataFrame, rem: pd.DataFrame) -> pd.DataFrame:
        if len(rem) == 0 or len(old) == 0:
            return old[PT_COLUMNS]
        root = _rebuild(old)
        for w in rem["word"]:
            _remove(root, w)
        if not root[_CHILDREN]:
            return old[PT_COLUMNS].iloc[0:0]
        next_id = int(old["id"].max()) + 1  # never consumed: no new nodes
        pid = int(key[0])
        return pd.DataFrame(list(_emit(root, pid, next_id)), columns=PT_COLUMNS)

    # Sparse deltas prune: when the removal can only touch FEW forests
    # (|touched| ≤ |words|, so a small batch GUARANTEES sparseness
    # without scanning the index), the untouched forests never leave
    # the JVM — the single-cogroup plan pushes the ENTIRE node table
    # through Arrow + Python even for a 3-word delete. Bulk deltas keep
    # the one-shot cogroup with NO extra jobs: a 10% vocabulary delta
    # hash-scatters across every forest, so literal-IN pruning plus its
    # second table pass buys nothing there (measured at sf0.1: pruned
    # plumbing cost +0.4 s on the bulk shape). The gate reads only
    # delta-side and metadata aggregates, never the corpus.
    out_hint = n_forests_hint(pt)  # removal never adds forests
    if pruned is None:
        # raw (non-distinct) count: one stage over the delta, no
        # exchange; duplicates inflate it, which only biases the gate
        # toward the bulk plan — the conservative direction
        n_words = words.count()
        if n_words == 0:
            return pt
        # forest count: the build/load hint when the frame carries one
        # (create attaches it; load_index reads the _pt_meta sidecar),
        # else ONE max(compute_node) probe — r7's bench showed that
        # probe job drifting remove_words_delta up round over round
        n_forests = out_hint
        if n_forests is None:
            max_cn = pt.agg(F.max("compute_node")).first()[0]
            n_forests = (int(max_cn) if max_cn is not None else 0) + 1
        pruned = 2 * n_words < n_forests
        out_hint = n_forests

    def _out(df: DataFrame) -> DataFrame:
        if word_bounds_hint(pt) is not None:  # removal keeps the ranges
            set_word_bounds_hint(df, word_bounds_hint(pt))
        return df if out_hint is None else set_n_forests_hint(df, out_hint)

    if not pruned:
        return _out(
            pt.groupBy("compute_node")
            .cogroup(hits.groupBy("pid"))
            .applyInPandas(merge, schema=PT_SCHEMA)
        )
    # pin the delta-sized hit set (consumed by the touched collect AND
    # the cogroup; bounded by |removal ∩ dictionary|)
    hits = hits.localCheckpoint(eager=True)
    touched = sorted({r.pid for r in hits.select("pid").distinct().collect()})
    if not touched:
        return pt
    merged = (
        pt.where(F.col("compute_node").isin(touched))
        .groupBy("compute_node")
        .cogroup(hits.groupBy("pid"))
        .applyInPandas(merge, schema=PT_SCHEMA)
    )
    return _out(
        pt.where(~F.col("compute_node").isin(touched)).unionByName(merged)
    )


def add_words(
    pt: DataFrame,
    df: DataFrame,
    col: str | Column,
    *,
    max_word_len: int = 255,
    trim: str = "both",
    pruned: bool | None = None,
    bytes: bool = False,
) -> DataFrame:
    """Insert ``df[col]``'s words into the node table ``pt`` and return
    the updated table (same schema). Equivalent, as query-result SETS,
    to ``create(old_words ∪ delta)`` — pinned by property tests and the
    ``pt_add_words`` oracle workload.

    Routing follows ``create``'s word-range layout: every genuinely-new
    word goes to the forest whose range covers it, by the range bounds
    that ride with the tree (``create``, ``load_index`` of a
    ``save_index`` output, and this function's own output carry them).
    A frame without them pays one small job that reads each forest's
    lowest end-cap word (n rows) and routes to the greatest such bound
    ≤ the word (words below every bound go to the first forest; an
    emptied table restarts in forest 0). Either way each forest still
    holds a contiguous word range, and the collected tree stays, in
    effect, merged.

    ``trim`` and ``bytes`` must match the values used at ``create``
    time: a trim mismatch changes WHICH word the delta spells on a
    ``trim="right"`` index (leading spaces are significant there), and
    a bytes mismatch inserts codepoint strings into a byte-surrogate
    tree (or vice versa), silently corrupting non-ASCII entries.
    ``keep_duplicates`` tables are not supported (the multiplicity
    column would need merge semantics — rebuild instead). ``pruned`` as
    in ``remove_words``: sparse deltas route only touched forests
    through Python (auto by default).
    """
    if "n_copies" in pt.columns:
        raise ValueError("add_words does not support keep_duplicates tables")
    words = df.select(
        _trim_fn(trim)(F.col(col) if isinstance(col, str) else col).alias("word")
    ).where(F.col("word") != "")
    if bytes:
        from prefixtree_spark.functions.bytesurrogate import to_byte_surrogate

        words = words.select(to_byte_surrogate("word").alias("word"))
    if max_word_len is not None:
        words = words.where(F.length("word") <= max_word_len)
    # sparse/bulk gate input, counted BEFORE the anti-join so the gate
    # job never scans the index (existing words inflate the count, so
    # the error is conservative — toward the bulk plan); pruned=True/
    # False skips the gate jobs outright
    n_raw = None
    if pruned is None:
        # raw count — no distinct exchange; duplicates and existing
        # words both inflate it, so the error is conservative (toward
        # the bulk plan)
        n_raw = words.count()
        if n_raw == 0:
            return pt

    # Existing words are dropped INDEX-SIDE (anti-join on the end-cap
    # rows, which carry the full word — the same layout-independent
    # routing remove_words uses) BEFORE any routing. This is a
    # correctness requirement, not an optimization: routing an EXISTING
    # word by the range bounds could land it in a different forest than
    # its end-cap (a tree whose forests are not word ranges — an older
    # hash build, a repartitioned reload), the merge's existing-set
    # check there would miss it, and distributed query modes would
    # return the word TWICE. With only genuinely-new words left, any
    # routing is correct — one partition per word by construction — and
    # the range lookup is a pure locality choice.
    words = words.join(
        pt.where("is_word").select(F.col("node").alias("word")),
        "word",
        "left_anti",
    )
    bounds = word_bounds_hint(pt)
    if bounds is not None:  # create's ranges: forest i covers range i
        keys = list(range(len(bounds) + 1))
    else:
        # no bounds ride with this frame: read each forest's lowest
        # end-cap word (one job, n rows back); forest i then covers
        # [low_i, low_{i+1}), the first forest everything below
        lows = sorted(
            (r[1], int(r[0]))
            for r in pt.where("is_word")
            .groupBy("compute_node")
            .agg(F.min("node"))
            .collect()
        )
        bounds = [w for w, _ in lows[1:]]
        keys = [p for _, p in lows] or [0]  # an emptied table restarts at 0
    delta = words.select(_range_pid(F.col("word"), bounds, keys).alias("pid"), "word")
    # |touched| ≤ n_raw: a small batch proves sparseness
    sparse = pruned if pruned is not None else (2 * n_raw < len(keys))
    if sparse:
        # pin the delta (consumed by the touched-pid collect AND the
        # cogroup; bounded by |new words| — the anti-join already
        # dropped every existing word), then collect the touched pids
        delta = delta.localCheckpoint(eager=True)
        touched = sorted(
            {r.pid for r in delta.select("pid").distinct().collect()}
        )
        if not touched:
            return pt

    def merge(key: tuple, old: pd.DataFrame, new: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        if len(new) == 0:
            # untouched forest: pass through row-identical (no rebuild)
            return old[PT_COLUMNS]
        fresh = set(new["word"])
        if len(old) == 0:
            root = _new_node("")
            next_id = pid * ID_BLOCK + 1
        else:
            existing = set(old.loc[old["is_word"], "node"])
            fresh -= existing
            if not fresh:
                return old[PT_COLUMNS]
            root = _rebuild(old)
            next_id = int(old["id"].max()) + 1
        for w in sorted(fresh):
            _insert(root, w)
        return pd.DataFrame(list(_emit(root, pid, next_id)), columns=PT_COLUMNS)

    # sparse deltas prune; bulk deltas keep the one-shot cogroup with
    # no extra jobs (same gate and rationale as remove_words). Delta
    # pids are existing forests (or 0), so the input's forest-count
    # hint still holds on the output.
    if not sparse:
        out = (
            pt.groupBy("compute_node")
            .cogroup(delta.groupBy("pid"))
            .applyInPandas(merge, schema=PT_SCHEMA)
        )
    else:
        merged = (
            pt.where(F.col("compute_node").isin(touched))
            .groupBy("compute_node")
            .cogroup(delta.groupBy("pid"))
            .applyInPandas(merge, schema=PT_SCHEMA)
        )
        out = pt.where(~F.col("compute_node").isin(touched)).unionByName(merged)
    if word_bounds_hint(pt) is not None:
        set_word_bounds_hint(out, bounds)
    hint = n_forests_hint(pt)
    return out if hint is None else set_n_forests_hint(out, hint)
