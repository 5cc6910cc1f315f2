"""Prefix-tree build — ``create`` ≡ the reference's ``Create``
(PrefixTree.ecl:50-301), re-expressed Spark-first.

The reference pipeline is: PROJECT/TRIM → DISTRIBUTE HASH(prefix char)
(the build's ONLY shuffle, PrefixTree.ecl:84) → then entirely
partition-LOCAL sorts + running scans (ITERATE MarkNodes /
AssignNodeIDs) + NORMALIZE + ROLLUP, i.e. "build a radix trie over each
partition's words" expressed as scan-friendly dataflow (SURVEY.md §3.1).

Our plan keeps the same shape and the same single shuffle:

  read → select/trim/filter → repartition(N, word range)
       → mapInPandas(per-partition in-memory radix-tree builder)

where the N word ranges come from one sampling job at ``create`` time.

The per-partition builder directly subsumes the reference's
MarkNodes/AssignNodeIDs/GetID/GetNode C++ kernels and the
NORMALIZE + SORT + ROLLUP dedup/aggregate steps (PrefixTree.ecl:101-299)
— verified equivalent in SURVEY.md §0. Duplicate words are deduped at
build (partition-local ``set`` — global, because identical words fall
in the same word range and therefore the same partition), fixing the
reference's duplicate-end-cap quirk (PrefixTree.ecl:205-208, SURVEY.md
§0 Quirk 2).

Scale notes (100 TB):
  - one shuffle, then embarrassingly parallel; scale = partition count.
  - global node-id uniqueness is coordination-free: per-partition id
    blocks of 1e14 (PrefixTree.ecl:172-181).
  - each forest holds a contiguous slice of the sorted dictionary, so
    the forests concatenated are, to within a few duplicated boundary
    roots, the one merged trie: a collected tree needs no re-merge.
  - correctness is partition-independent (every partition builds an
    independent forest rooted at parent_id=0; queries fan out to all
    roots — SURVEY.md §0), so a layout is only ever a cost choice.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from prefixtree_spark.plans.tree import (
    ID_BLOCK,
    PT_COLUMNS,
    PT_COLUMNS_DUP,
    PT_SCHEMA,
    PT_SCHEMA_DUP,
    mark_colocated,
    n_forests_hint,
    set_n_forests_hint,
    set_word_bounds_hint,
    word_bounds_hint,
)

# Sentinel child key for end-cap leaves: a unique object, so it cannot
# collide with any first-character key — including words that contain
# NUL or other control characters.
_END = object()

# label, children dict (first char / _END -> node; None on end-caps),
# subtree min/max word length, node id (None until ``_emit`` assigns
# one — ``add_words``/``remove_words`` rebuild nodes with their ids)
_LABEL, _CHILDREN, _MIN, _MAX, _ID = 0, 1, 2, 3, 4


def _new_node(label: str, nid: int | None = None) -> list:
    return [label, {}, 0, 0, nid]


def _insert(root: list, word: str) -> None:
    """Radix-trie insertion with edge splitting; new nodes carry id
    None. On a split the TAIL keeps the original node's id (its subtree
    hangs unchanged below it); the new prefix node is fresh."""
    cur = root
    i = 0
    n = len(word)
    while i < n:
        first = word[i]
        child = cur[_CHILDREN].get(first)
        if child is None:
            child = _new_node(word[i:])
            cur[_CHILDREN][first] = child
            cur = child
            i = n
            break
        label = child[_LABEL]
        # longest common prefix of label and word[i:]
        p = 0
        max_p = min(len(label), n - i)
        while p < max_p and label[p] == word[i + p]:
            p += 1
        if p < len(label):
            # split: child becomes [label[:p]] -> [label[p:]]
            tail = [label[p:], child[_CHILDREN], child[_MIN], child[_MAX], child[_ID]]
            child[_LABEL] = label[:p]
            child[_CHILDREN] = {label[p]: tail}
            child[_ID] = None
        cur = child
        i += p
    # end-cap carries the ENTIRE word (PrefixTree.ecl:280,283)
    if _END not in cur[_CHILDREN]:
        cur[_CHILDREN][_END] = [word, None, n, n, None]


def _emit(
    root: list, pid: int, next_id: int, counts: dict[str, int] | None = None
) -> Iterator[tuple]:
    """Compute subtree _min/_max word-length bounds (PrefixTree.ecl:
    270-271, 292-293) and yield PTLayout rows iteratively (no recursion
    — word length is unbounded only by the configured cap). Nodes keep
    their ids; id-less nodes take ``next_id`` upward in pre-order — a
    fresh build passes the partition block's first id (pid*1e14 + 1,
    PrefixTree.ecl:172-181), an incremental rebuild the block's first
    unused one.

    With ``counts`` (keep_duplicates mode) every row gains an
    ``n_copies`` column: the word's input multiplicity at end-caps
    (compressing the reference's n identical end-cap nodes,
    PrefixTree.ecl:205-208, into one row + count), 1 elsewhere."""
    # iterative post-order to fill _MIN/_MAX; the virtual root is never
    # emitted, so the pass starts at its children (an empty tree has none)
    stack = [(c, False) for c in root[_CHILDREN].values()]
    while stack:
        node, done = stack.pop()
        if node[_CHILDREN] is None:  # end-cap: already has min=max=len
            continue
        if not done:
            stack.append((node, True))
            for c in node[_CHILDREN].values():
                stack.append((c, False))
        else:
            kids = node[_CHILDREN].values()
            node[_MIN] = min(c[_MIN] for c in kids)
            node[_MAX] = max(c[_MAX] for c in kids)

    # pre-order id assignment + emit; children of the virtual root get
    # parent_id = 0 (PrefixTree.ecl:269)
    stack2 = [(c, 0) for c in reversed(list(root[_CHILDREN].values()))]
    while stack2:
        node, parent = stack2.pop()
        nid = node[_ID]
        if nid is None:
            nid = node[_ID] = next_id
            next_id += 1
        is_word = node[_CHILDREN] is None
        row = (nid, parent, node[_MAX], node[_MIN], is_word, pid, node[_LABEL])
        if counts is not None:
            row += (counts[node[_LABEL]] if is_word else 1,)
        yield row
        if not is_word:
            for c in reversed(list(node[_CHILDREN].values())):
                stack2.append((c, nid))


class _OpenNode:
    """A node on the streaming builder's open path (not yet emitted)."""

    __slots__ = ("id", "parent", "start", "label", "mn", "mx")

    def __init__(self, nid: int, parent: int, start: int, label: str, mn: int, mx: int):
        self.id = nid
        self.parent = parent
        self.start = start  # depth (chars) where this node's label begins
        self.label = label
        self.mn = mn
        self.mx = mx


def _stream_build_sorted(
    words, pid: int, *, keep_duplicates: bool = False
) -> Iterator[tuple]:
    """One-pass radix-tree construction over SORTED words — the
    reference's scan formulation (two directional ITERATE passes +
    NORMALIZE + ROLLUP, PrefixTree.ecl:140-299, SURVEY.md §4 O3) as a
    single streaming LCP pass: memory is O(max word length), not
    O(partition words), so arbitrarily large partitions build without
    holding their trie in memory.

    Invariant: the stack is the open root-to-leaf path of the previous
    word. For each new word, nodes deeper than the LCP are finished
    (emitted), a straddling node is split, and the word's new suffix +
    end-cap are opened/emitted. Emitted trees are logically identical
    to the in-memory builder's (asserted in tests).

    ``keep_duplicates``: duplicates are ADJACENT in sorted order, so
    counting a run costs zero memory; rows gain ``n_copies`` (the
    word's multiplicity at end-caps, 1 elsewhere — see ``_emit``).
    """
    base = pid * ID_BLOCK
    next_id = base + 1
    stack: list[_OpenNode] = []
    prev = None
    # end-cap emission is delayed one word so a sorted duplicate run
    # can be counted into it: [id, parent, wordlen, word, n_copies]
    pending_cap: list | None = None

    def row(vals: tuple, n_copies: int = 1) -> tuple:
        return vals + (n_copies,) if keep_duplicates else vals

    def close_top() -> tuple:
        node = stack.pop()
        if stack:
            top = stack[-1]
            top.mn = min(top.mn, node.mn)
            top.mx = max(top.mx, node.mx)
        return row((node.id, node.parent, node.mx, node.mn, False, pid, node.label))

    def cap_row(cap: list) -> tuple:
        cid, parent, n, word, copies = cap
        return row((cid, parent, n, n, True, pid, word), copies)

    for word in words:
        if word == prev:  # sorted dedup (Quirk 2 fix, zero memory)
            if pending_cap is not None:
                pending_cap[4] += 1
            continue
        if pending_cap is not None:
            yield cap_row(pending_cap)
            pending_cap = None
        if prev is None:
            lcp = 0
        else:
            lcp = 0
            m = min(len(prev), len(word))
            while lcp < m and prev[lcp] == word[lcp]:
                lcp += 1
        # close everything strictly deeper than the LCP
        while stack:
            top = stack[-1]
            if top.start >= lcp:
                yield close_top()
            elif top.start + len(top.label) > lcp:
                # straddling node: the part below the LCP is finished —
                # emit it as a child of a fresh open prefix node that
                # inherits its place on the path
                cut = lcp - top.start
                prefix = _OpenNode(
                    next_id, top.parent, top.start, top.label[:cut], top.mn, top.mx
                )
                next_id += 1
                yield row(
                    (top.id, prefix.id, top.mx, top.mn, False, pid, top.label[cut:])
                )
                stack[-1] = prefix
                break
            else:
                break
        parent_id = stack[-1].id if stack else 0
        n = len(word)
        # open the new suffix node (always non-empty: word != prev and
        # sorted ascending means word extends past the LCP)
        node = _OpenNode(next_id, parent_id, lcp, word[lcp:], n, n)
        next_id += 1
        stack.append(node)
        # end-cap leaf carries the full word (PrefixTree.ecl:280,283)
        pending_cap = [next_id, node.id, n, word, 1]
        next_id += 1
        prev = word
    if pending_cap is not None:
        yield cap_row(pending_cap)
    while stack:
        yield close_top()


def _build_partition_streaming(
    batches: Iterator[pd.DataFrame], *, keep_duplicates: bool = False
) -> Iterator[pd.DataFrame]:
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    columns = PT_COLUMNS_DUP if keep_duplicates else PT_COLUMNS

    def words() -> Iterator[str]:
        for pdf in batches:
            yield from pdf["word"]

    buf: list[tuple] = []
    for row in _stream_build_sorted(words(), pid, keep_duplicates=keep_duplicates):
        buf.append(row)
        if len(buf) >= 100_000:
            yield pd.DataFrame(buf, columns=columns)
            buf = []
    if buf:
        yield pd.DataFrame(buf, columns=columns)


# Per-unique-word memory estimate for the in-memory radix builder: the
# word's chars plus the Python-object overhead of its trie footprint
# (an end-cap list + its share of internal nodes/dict slots — measured
# ~300-600 B/word with sys.getsizeof walks on random vocabularies; 384
# keeps the estimate conservative without tripping on small builds).
_WORD_OVERHEAD = 384


def _trie_sorted_words(root: list, counts: dict[str, int]) -> Iterator[tuple]:
    """Walk the radix trie in key order, yielding (word, multiplicity)
    sorted ascending — the spill path's conversion of an already-built
    in-memory trie into a sorted run. End-cap before children: a word
    sorts before every proper extension of itself; children visit in
    first-char order, which IS lexicographic order at a radix node
    (sibling labels never share a first char)."""
    stack = [root]
    while stack:
        node = stack.pop()
        kids = node[_CHILDREN]
        cap = kids.get(_END)
        ordered = sorted(
            (k for k in kids if k is not _END), reverse=True
        )
        for k in ordered:
            stack.append(kids[k])
        if cap is not None:
            word = cap[_LABEL]
            yield word, counts[word]


def _write_run(spill_dir: str, idx: int, items: Iterator[tuple]) -> str:
    """Write one sorted run of (word, multiplicity) pairs as a pickle
    stream (words are arbitrary strings — may contain newlines/NUL, so
    no line format)."""
    import os
    import pickle

    path = os.path.join(spill_dir, f"run{idx}.pkl")
    with open(path, "wb") as fh:
        pk = pickle.Pickler(fh, protocol=pickle.HIGHEST_PROTOCOL)
        for item in items:
            pk.dump(item)
    return path


def _read_run(path: str) -> Iterator[tuple]:
    import pickle

    with open(path, "rb") as fh:
        up = pickle.Unpickler(fh)
        while True:
            try:
                yield up.load()
            except EOFError:
                return


def _grouped_sorted(words: list[str]) -> Iterator[tuple]:
    """Sort a word buffer and collapse duplicates to (word, count)."""
    words.sort()
    prev, n = None, 0
    for w in words:
        if w == prev:
            n += 1
        else:
            if prev is not None:
                yield prev, n
            prev, n = w, 1
    if prev is not None:
        yield prev, n


def _build_partition_auto(
    batches: Iterator[pd.DataFrame],
    *,
    keep_duplicates: bool = False,
    budget_bytes: int = 256 << 20,
) -> Iterator[pd.DataFrame]:
    """Per-partition routing between the two proven builders (the 100 TB
    OOM guard, round-11 verdict #2): build in memory while the estimated
    trie footprint fits ``budget_bytes``; on overflow, convert the
    partial trie to a sorted on-disk run (``_trie_sorted_words`` — the
    trie walk IS a sort), spill the remaining words as further sorted
    runs, then k-way-merge the runs into the O(max word length)
    streaming LCP builder (``_stream_build_sorted``). Memory is bounded
    by the budget regardless of partition size; under-budget partitions
    never leave the in-memory trie (``_insert`` + ``_emit``), so the
    fallback costs nothing when it doesn't trigger."""
    import heapq
    import itertools
    import shutil
    import tempfile

    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    columns = PT_COLUMNS_DUP if keep_duplicates else PT_COLUMNS
    root = _new_node("")
    counts: dict[str, int] = {}
    est = 0
    batches = iter(batches)
    overflow = False
    for pdf in batches:
        for word in pdf["word"]:
            n = counts.get(word)
            if n is None:
                counts[word] = 1
                _insert(root, word)
                est += len(word) + _WORD_OVERHEAD
            else:
                counts[word] = n + 1
        if est > budget_bytes:
            overflow = True
            break
    if not overflow:
        if not counts:
            return
        rows = _emit(
            root, pid, pid * ID_BLOCK + 1, counts if keep_duplicates else None
        )
        out = pd.DataFrame(list(rows), columns=columns)
        for start in range(0, len(out), 100_000):
            yield out.iloc[start : start + 100_000]
        return

    spill_dir = tempfile.mkdtemp(prefix="pt_build_spill_")
    try:
        runs = [_write_run(spill_dir, 0, _trie_sorted_words(root, counts))]
        del root, counts
        buf: list[str] = []
        buf_bytes = 0
        for pdf in batches:
            for word in pdf["word"]:
                buf.append(word)
                buf_bytes += len(word) + _WORD_OVERHEAD
            if buf_bytes > budget_bytes:
                runs.append(_write_run(spill_dir, len(runs), _grouped_sorted(buf)))
                buf, buf_bytes = [], 0
        streams = [_read_run(p) for p in runs]
        if buf:
            streams.append(_grouped_sorted(buf))
        merged = heapq.merge(*streams, key=lambda t: t[0])
        # _stream_build_sorted consumes plain sorted words and re-counts
        # adjacent duplicates itself; multiplicity n expands to n copies
        # (bounded by the partition's input row count — no blow-up)
        words = itertools.chain.from_iterable(
            itertools.repeat(w, n) for w, n in merged
        )
        out_buf: list[tuple] = []
        for row in _stream_build_sorted(words, pid, keep_duplicates=keep_duplicates):
            out_buf.append(row)
            if len(out_buf) >= 100_000:
                yield pd.DataFrame(out_buf, columns=columns)
                out_buf = []
        if out_buf:
            yield pd.DataFrame(out_buf, columns=columns)
    finally:
        shutil.rmtree(spill_dir, ignore_errors=True)


def _trim_fn(trim: str):
    """The ONE trim-mode dispatch shared by ``create`` and the
    incremental delta ops — a mode added here reaches both, so a build
    and its add/remove deltas can never disagree on which word a
    string spells (the trim-mismatch corruption incremental.py's
    docstrings warn about)."""
    fn = {"both": F.trim, "right": F.rtrim}.get(trim)
    if fn is None:
        raise ValueError(f"trim must be 'both' or 'right', got {trim!r}")
    return fn


def _sample_word_bounds(words: DataFrame, n: int) -> list[str]:
    """The n-1 bounds that split ``words`` into n ranges of about equal
    weight, by the sketch Spark's RangePartitioner draws (a reservoir
    per input partition, each sample weighted by its partition's size),
    at 600 samples per range (capped at 3M in all) where Spark takes 60,
    so a range's share errs by about 4%, not 13%. Drawn ONCE, in one
    job: the bounds are constants of the build plan, and a word's
    forest is the same on every evaluation of the tree."""
    if n <= 1:
        return []
    per_part = -(-min(600 * n, 3_000_000) // max(1, words.rdd.getNumPartitions()))

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        from pyspark import TaskContext

        rng = np.random.default_rng(TaskContext.get().partitionId())
        kept, keys, seen = np.empty(0, dtype=object), np.empty(0), 0
        for pdf in batches:
            seen += len(pdf)
            kept = np.concatenate([kept, pdf["word"].to_numpy(dtype=object)])
            keys = np.concatenate([keys, rng.random(len(pdf))])
            if len(kept) > per_part:  # bottom-k of random keys = a reservoir
                top = np.argpartition(keys, per_part)[:per_part]
                kept, keys = kept[top], keys[top]
        if len(kept):
            yield pd.DataFrame({"word": kept, "weight": seen / len(kept)})

    rows = sorted(
        (r.word, r.weight)
        for r in words.mapInPandas(sample, "word string, weight double").collect()
    )
    step = sum(w for _, w in rows) / n
    bounds: list[str] = []
    cum = 0.0
    for word, weight in rows:
        cum += weight
        if cum >= step * (len(bounds) + 1) and (not bounds or word > bounds[-1]):
            bounds.append(word)
            if len(bounds) == n - 1:
                break
    return bounds


def _murmur3_int(v: int) -> int:
    """Spark's ``hash`` of an int value (Murmur3_x86_32.hashInt, seed
    42): the hash ``repartition(n, col)`` takes pmod n of."""
    m = 0xFFFFFFFF
    k = (v * 0xCC9E2D51) & m
    k = (((k << 15) | (k >> 17)) * 0x1B873593) & m
    h = 42 ^ k
    h = ((((h << 13) | (h >> 19)) & m) * 5 + 0xE6546B64) & m
    h ^= 4
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & m
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def _partition_keys(n: int) -> list[int]:
    """``keys[p]``: the smallest int that ``repartition(n, ·)`` sends to
    partition p. Routing range p to ``keys[p]`` lands it in partition p
    exactly; hashing the range index itself would collide (murmur3 of
    0..n-1 fills 2/5/10/18/37 of 4/8/16/32/64 buckets, see
    ``_colocate_forests``)."""
    first: dict[int, int] = {}
    v = 0
    while len(first) < n:
        first.setdefault(_murmur3_int(v) % n, v)
        v += 1
    return [first[p] for p in range(n)]


def _range_pid(word: Column, bounds, keys) -> Column:
    """The one word-range routing: ``keys[i]`` for the range i covering
    ``word`` (``bounds[i-1] <= word < bounds[i]``). A balanced CASE tree
    over constant bounds: log2(n) JVM string compares per word, and the
    same answer on every evaluation. ``create`` places its words with
    it; ``add_words`` routes new words with it."""

    def pick(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(keys[lo])
        mid = (lo + hi + 1) // 2
        return F.when(word < F.lit(bounds[mid - 1]), pick(lo, mid - 1)).otherwise(
            pick(mid, hi)
        )

    return pick(0, len(bounds)).cast("int")


def create(
    df: DataFrame,
    col: str | Column,
    *,
    num_partitions: int | None = None,
    max_word_len: int = 255,
    builder: str = "auto",
    keep_duplicates: bool = False,
    trim: str = "both",
    builder_budget_bytes: int = 256 << 20,
    bytes: bool = False,
) -> DataFrame:
    """Build a distributed prefix-tree node table from a string column.

    ≡ ``Create(infile, infield, dist_length)`` (PrefixTree.ecl:50-301).

    Partitioning (the build's ONLY shuffle, ≡ DISTRIBUTE,
    PrefixTree.ecl:84): words are RANGE-partitioned on the whole word.
    One sampling job at call time draws the N-1 range bounds
    (``_sample_word_bounds``, RangePartitioner's sketch); the shuffle
    then routes each word by those constant bounds (``_range_pid``),
    so forest ``i`` holds exactly the words of range ``i`` on every
    evaluation of the returned frame, cached or not. Each forest holds
    a contiguous slice of the sorted dictionary — the reference's
    prefix locality (``dist_length``, PrefixTree.ecl:57-63) without its
    skew: a hot prefix is split across as many ranges as its weight
    needs, where a prefix hash would serialize it onto one worker.
    Identical words share a range, so dedup stays global, and the
    forests concatenated are in effect the merged trie
    (``build_local_index`` collects them as they are). The bounds ride
    with the frame (``plans.tree.word_bounds_hint``; ``save_index``
    stores them), and ``add_words`` routes new words by them.
    Correctness is partition-independent either way (SURVEY.md §0).

    ``builder`` selects the per-partition construction strategy:
    ``"auto"`` (default) builds in memory while the estimated trie
    footprint fits ``builder_budget_bytes`` (≈256 MB — sized to the
    default ``spark.python.worker.memory``), then spills sorted runs
    and finishes through the streaming LCP builder — so a mis-sized
    partition at 100 TB degrades to disk, never to a worker OOM;
    ``"streaming"`` adds a partition-local Spark sort and builds in ONE
    LCP scan with O(max word length) memory (the reference's own scan
    formulation, ITERATE + NORMALIZE + ROLLUP, PrefixTree.ecl:140-299).
    Both emit logically identical trees (tested).

    Returns DataFrame[id, parent_id, _max, _min, is_word, compute_node,
    node]. Words longer than ``max_word_len`` (reference envelope: 255,
    PrefixTree.ecl:322-326) are dropped with the same semantics as
    blanks; pass ``None`` to lift the cap.

    ``keep_duplicates=True`` adds an ``n_copies`` column carrying each
    word's input multiplicity at its end-cap (1 on internal nodes) —
    the engine's compressed form of the reference's behavior, where a
    word appearing n times gets n identical end-cap nodes and a query
    returns n identical rows (PrefixTree.ecl:205-208, SURVEY.md §0
    Quirk 2). The default stays deduped (query semantics unchanged;
    every oracle is against DISTINCT words).

    ``trim``: ``"both"`` (default — what a Spark user expects) or
    ``"right"`` for bug-for-bug parity with ECL ``TRIM``, which strips
    TRAILING whitespace only (PrefixTree.ecl:77, SURVEY.md §2.7 F1) —
    under it a word with leading spaces keeps them and is a distinct
    dictionary entry.

    ``bytes=True`` builds the tree over UTF-8 BYTES instead of
    codepoints — full parity with the reference, whose ECL ``STRING``
    is a byte string (PrefixTree.ecl:74-78; a non-ASCII character is
    several DP cells there, one here by default). Implementation: the
    word column is re-read as ISO-8859-1 (each UTF-8 byte becomes
    exactly one char — bijective), so every kernel, the length bands,
    and ``max_word_len`` operate in byte space unchanged; ``query``
    must be called with the SAME flag (same caller duty as ``trim``),
    and it decodes result columns back to UTF-8 strings. This also
    matches DuckDB/PostgreSQL ``levenshtein``, which count bytes.
    """
    words = df.select(
        _trim_fn(trim)(F.col(col) if isinstance(col, str) else col).alias("word")
    )
    words = words.where(F.col("word") != "")
    if bytes:
        from prefixtree_spark.functions.bytesurrogate import to_byte_surrogate

        words = words.select(to_byte_surrogate("word").alias("word"))
    if max_word_len is not None:
        words = words.where(F.length("word") <= max_word_len)
    n = num_partitions or words.sparkSession.sparkContext.defaultParallelism
    schema = PT_SCHEMA_DUP if keep_duplicates else PT_SCHEMA
    if builder == "streaming":

        def build(it):
            return _build_partition_streaming(it, keep_duplicates=keep_duplicates)

    elif builder == "auto":
        budget = builder_budget_bytes

        def build(it):
            return _build_partition_auto(
                it, keep_duplicates=keep_duplicates, budget_bytes=budget
            )

    else:
        raise ValueError(f"unknown builder {builder!r}")
    bounds = _sample_word_bounds(words, n)
    words = words.repartition(n, _range_pid(F.col("word"), bounds, _partition_keys(n)))
    if builder == "streaming":
        words = words.sortWithinPartitions("word")
    # each build task emits whole forests, so the output is colocated by
    # construction; and the build KNOWS its forest count and ranges, so
    # the delta paths (add_words/remove_words plan gates + routing) skip
    # their per-call probe jobs
    pt = set_n_forests_hint(words.mapInPandas(build, schema=schema), n)
    return mark_colocated(set_word_bounds_hint(pt, bounds))


def save_index(pt: DataFrame, path: str) -> None:
    """Persist a node table ≡ OUTPUT + BUILDINDEX (PrefixTree.ecl:611-613).

    Written partitioned as built (one file per build partition ≈ one
    forest per file); parquet column pruning subsumes the reference's
    covering-index payload (PrefixTree.ecl:612, SURVEY.md §2.1 S4).

    Alongside the data, a tiny ``_pt_meta`` sidecar stores the forest
    count and, when the frame carries them, ``create``'s word-range
    bounds (underscore-prefixed → invisible to the parquet reader), so
    every future ``add_words``/``remove_words`` on the loaded table
    skips its per-call probe jobs — the count is paid ONCE here (from
    the build hint when the frame carries it, else one cheap
    single-column scan of the just-written files), not per delta.
    """
    pt.write.mode("overwrite").parquet(path)
    spark = pt.sparkSession
    n = n_forests_hint(pt)
    if n is None:
        mx = spark.read.parquet(path).agg(F.max("compute_node")).first()[0]
        n = (
            int(mx) + 1
            if mx is not None
            else spark.sparkContext.defaultParallelism
        )
    meta: dict = {"n_forests": int(n)}
    if word_bounds_hint(pt) is not None:
        meta["bounds"] = list(word_bounds_hint(pt))
    _write_index_meta(spark, path, meta)


def _write_index_meta(spark: SparkSession, path: str, meta: dict) -> None:
    import json

    from prefixtree_spark.sources.io import _fs

    fs, jvm = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/_pt_meta")
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(meta).encode()))
    finally:
        out.close()


def _read_index_meta(spark: SparkSession, path: str) -> dict:
    import json

    from prefixtree_spark.sources.io import _fs, _read_small_file

    try:
        fs, jvm = _fs(spark, path)
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/_pt_meta")):
            return {}
        return json.loads(_read_small_file(spark, f"{path}/_pt_meta"))
    except Exception:
        return {}  # pre-meta saves / foreign files: probe instead


def _colocate_forests(pt: DataFrame) -> DataFrame:
    """Reshuffle a node table so each partition holds whole forests,
    spread evenly — the one colocation every traversal relies on. Its
    output carries the colocation record (``plans.tree.mark_colocated``),
    as ``create``'s does, so the traversals (``query``'s distributed
    routes, ``query_groups``, ``prefix_search``) walk it in place; they
    call this helper themselves for any frame without the record, and
    ``load_index``/``load_published_index(colocated=True)`` call it at
    load time.

    RANGE partitioning on compute_node at an EXPLICIT 2x-parallelism
    count, never hash at 1x: the number of forests is ~the build
    partition count, which is ~the partition count of THIS shuffle at
    any scale, and murmur3 maps forest ids 0..n-1 into n buckets with
    collisions — only 2/5/10/18/37 busy buckets of 4/8/16/32/64, up to
    3-4 forests in one task while other cores idle (r13: 32 forests ->
    18 of 32 tasks non-empty, chunk job 4.4-4.7 s). Range partitioning
    separates keys near-perfectly and balances by sampled row counts;
    2x buckets makes singleton-forest partitions the common case
    (measured: 32/32 tasks busy, max task 4.2 -> 1.95 s, chunk job
    2.2-2.7 s). Equal keys cannot straddle a range boundary, so the
    whole-forest contract holds. The explicit N also dodges the
    AQE-coalesce trap: a column-only ``repartition("compute_node")``
    coalesces on the node table's small byte size to ~1 partition
    (measured: a 36k-node sf0.1 index came back as exactly 1
    partition), and every later traversal ran single-task.

    The range bounds come from a sampling job over ``pt``, so the
    shuffle reads ``pt`` twice: callers pin an expensive plan first."""
    n_part = 2 * max(
        pt.rdd.getNumPartitions(),
        pt.sparkSession.sparkContext.defaultParallelism,
    )
    return mark_colocated(pt.repartitionByRange(n_part, "compute_node"))


def load_index(spark: SparkSession, path: str, *, colocated: bool = False) -> DataFrame:
    """Read a saved node table. ``colocated=True`` performs the
    forest-per-partition colocation at load time (one range
    repartition, ``_colocate_forests``; the parquet reader may split a
    forest across input partitions at row-group boundaries), so every
    later traversal of the returned frame, or of its ``persist()``,
    runs in place. Without it, each traversal call colocates the frame
    itself."""
    df = spark.read.parquet(path)
    if colocated:
        df = _colocate_forests(df)
    meta = _read_index_meta(spark, path)
    if "n_forests" in meta:
        set_n_forests_hint(df, int(meta["n_forests"]))
    if "bounds" in meta:
        set_word_bounds_hint(df, meta["bounds"])
    return df


def publish_index(pt: DataFrame, root: str) -> int:
    """Crash-safe ``save_index``: land the node table as a new
    immutable version under ``root`` and flip the manifest pointer
    atomically (``sources.io.publish_version``). The incremental
    maintenance cycle — ``add_words``/``remove_words`` produce a new
    node table from the live one — publishes each result here, so a
    rewrite that dies mid-job leaves readers on the previous index
    instead of a half-written directory (round-4 verdict: the
    compact/add_words swap window). Returns the version number."""
    from prefixtree_spark.sources.io import publish_version

    return publish_version(pt, root)


def load_published_index(
    spark: SparkSession, root: str, *, colocated: bool = False
) -> DataFrame:
    """Read the LIVE version of a ``publish_index`` table; see
    ``load_index`` for what ``colocated=True`` does."""
    from prefixtree_spark.sources.io import read_published

    df = read_published(spark, root)
    if colocated:
        df = _colocate_forests(df)
    return df


def save_index_bucketed(pt: DataFrame, table: str, *, buckets: int = 32) -> None:
    """The reference's keyed-index layout (INDEX on {parent_id} +
    BUILDINDEX, PrefixTree.ecl:612-613) as a bucketed, sorted table:
    ``bfs``-mode frontier joins on ``parent_id`` then read a
    pre-shuffled, pre-sorted tree side — only the (shrinking) frontier
    moves. Requires a session with a warehouse dir (saveAsTable)."""
    (
        pt.write.mode("overwrite")
        .bucketBy(buckets, "parent_id")
        .sortBy("parent_id")
        .format("parquet")
        .saveAsTable(table)
    )


def load_index_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def index_is_bucketed(df: DataFrame, col: str = "parent_id") -> bool:
    """True when ``df`` reads a catalog table bucketed on ``col`` (the
    BUILDINDEX layout, PrefixTree.ecl:612-613) — possibly under
    projections/filters, which preserve the scan's partitioning.

    Used by ``query``'s ``bfs`` mode to honor the reference's
    build-once/query-keyed contract with no caller flag: detection
    walks the analyzed plan to the scan and reads the catalog bucket
    spec. Conservative: any doubt (several scan leaves, no catalog
    table, introspection failure on a non-classic backend) returns
    False, which only costs the one upfront repartition a bucketed
    layout would skip (Spark re-plans the join either way)."""
    try:
        # a bucket spec only yields the pre-shuffled scan when bucketed
        # reads are actually enabled in the session — otherwise the
        # detection would claim tree_partitioned for a plan that still
        # shuffles (and skip the broadcast-size probe for nothing)
        ss = df.sparkSession
        if ss.conf.get("spark.sql.sources.bucketing.enabled", "true") != "true":
            return False
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        if leaves.size() != 1:
            return False
        ct = leaves.apply(0).catalogTable()
        if not ct.isDefined():
            return False
        bs = ct.get().bucketSpec()
        if not bs.isDefined():
            return False
        cols = bs.get().bucketColumnNames()
        return [str(cols.apply(i)) for i in range(cols.size())] == [col]
    except Exception:
        return False
