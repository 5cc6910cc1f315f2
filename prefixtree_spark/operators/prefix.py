"""Prefix retrieval over the node table — the trie's native second
query type (autocomplete / starts-with), served by the SAME index
``create`` builds.

The reference exposes only Levenshtein retrieval (PrefixTree.ecl:314,
459), but its index is a radix trie: prefix lookup is the structure's
home game. Semantics: for each query prefix p, return every dictionary
word starting with p (codepoint-wise, case-sensitive — DuckDB
``starts_with`` is the oracle).

Physical plan (``query``'s distributed strategy): the prefix batch is
broadcast and one ``mapInPandas`` walks each partition's whole forests
in place. A tree with the engine's colocation record (fresh from
``create`` or ``load_index(colocated=True)``) never moves; any other
frame is colocated once by the same range repartition ``query`` uses
(``_one_shot_tree``), and that result is pinned before the tree's pin
is released. Pruning: an edge label that diverges from the prefix
kills its whole subtree; once the prefix is consumed the remaining
subtree is emitted without further comparisons.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PREFIX_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("prefix", T.StringType(), False),
        T.StructField("word", T.StringType(), False),
    ]
)


def _collect_subtree_words(idx, kids, out: list[str]) -> None:
    """Append every end-cap word at or below the given child rows."""
    labels, is_word = idx.labels, idx.is_word
    stack = list(kids)
    while stack:
        pos = stack.pop()
        if is_word[pos]:
            out.append(labels[pos])
        else:
            stack.extend(idx.children(pos))


def _prefix_hits(idx, p: str) -> list[str]:
    """All dictionary words in one forest starting with ``p``."""
    out: list[str] = []
    if p == "":
        _collect_subtree_words(idx, idx.roots, out)
        return out
    labels, is_word = idx.labels, idx.is_word
    # stack: (child rows, chars of p already matched)
    stack: list[tuple[list[int], int]] = [(idx.roots, 0)]
    while stack:
        kids, consumed = stack.pop()
        rem = p[consumed:]
        for pos in kids:
            if is_word[pos]:
                # end-cap carries the ENTIRE word (PrefixTree.ecl:280):
                # its path equals p's matched part, check the rest
                word = labels[pos]
                if word.startswith(p):
                    out.append(word)
                continue
            label = labels[pos]
            if len(label) >= len(rem):
                if label.startswith(rem):
                    # prefix fully consumed inside this edge: the whole
                    # subtree matches — no more comparisons below here
                    _collect_subtree_words(idx, idx.children(pos), out)
            elif rem.startswith(label):
                stack.append((idx.children(pos), consumed + len(label)))
    return out


def prefix_search(pt: DataFrame, prefixes: DataFrame, col: str) -> DataFrame:
    """DataFrame[prefix, word]: every (query prefix, dictionary word)
    pair where the word starts with the prefix. Distinct prefixes, like
    ``query``'s distinct-query semantics. A tree fresh from ``create``
    never shuffles and the result stays lazy; any other frame is
    range-colocated and the result comes back pinned."""
    from prefixtree_spark.operators.query import LocalIndex, _one_shot_tree

    spark = pt.sparkSession
    pdf = (
        prefixes.select(F.col(col).alias("p"))
        .where(F.col("p").isNotNull())
        .distinct()
    )
    plist = [r[0] for r in pdf.collect()]
    bp = spark.sparkContext.broadcast(plist)

    def run_partition(batches):
        frames = [x for x in batches if len(x)]
        if not frames:
            return
        forest = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        idx = LocalIndex(forest)
        ps: list[str] = []
        ws: list[str] = []
        for p in bp.value:
            hits = _prefix_hits(idx, p)
            ps.extend([p] * len(hits))
            ws.extend(hits)
        yield pd.DataFrame({"prefix": ps, "word": ws})

    with _one_shot_tree(pt) as tree:
        out = tree.mapInPandas(run_partition, schema=PREFIX_RESULT_SCHEMA)
        return out if tree is pt else out.localCheckpoint(eager=True)


def search_prefix(index, p: str) -> list[str]:
    """Serving-path point lookup: sorted words starting with ``p`` on a
    ``LocalIndex``/``build_local_index`` handle (Roxie analog)."""
    return sorted(_prefix_hits(index, p))
