"""Fuzzy string similarity join and dedup built on the prefix tree.

These lift the reference's capability — "retrieve all (query, word)
pairs with Levenshtein ≤ k" (PrefixTree.ecl:314-446) — into first-class
relational operators (SURVEY.md §7 step 5):

  - ``similarity_join(left, lcol, right, rcol, k)`` — builds the tree
    over the right side's distinct values and streams the left side's
    distinct values through it, returning matched VALUE PAIRS
    (left_value, right_value, distance); callers re-join on the value
    columns when they need full original rows. Equivalent to (but
    asymptotically cheaper than) the brute-force theta join
    ``levenshtein(l, r) <= k``.
  - ``fuzzy_dedup(df, col, k)`` — connected components of the
    "distance ≤ k" graph over distinct values, via
    ``operators.graph.connected_components``: driver union-find under
    the collect threshold, alternating large-star/small-star
    contraction (O(log n) rounds) above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prefixtree_spark.operators.build import create
from prefixtree_spark.operators.query import query


def similarity_join(
    left: DataFrame,
    lcol: str,
    right: DataFrame,
    rcol: str,
    max_distance: int,
    *,
    mode: str = "auto",
    max_word_len: int | None = None,
    metric: str = "levenshtein",
    bytes: bool = False,
) -> DataFrame:
    """All (left_value, right_value, distance) pairs with edit distance
    ≤ ``max_distance`` between trimmed non-empty distinct values.
    Columns: ``left_value, right_value, distance``.

    ``metric``: ``"levenshtein"`` (default, the reference's metric) or
    ``"damerau"`` — unrestricted Damerau-Levenshtein (adjacent
    transposition counts ONE edit; matches DuckDB's
    ``damerau_levenshtein`` exactly), the metric entity resolution
    wants for typo matching. Implementation: the tree search prunes at
    Levenshtein ≤ 2·``max_distance`` (every transposition is two
    substitutions, so lev ≤ 2·dl — a guaranteed candidate superset),
    then the exact DL kernel reranks the bounded survivors
    (``functions/damerau.py``; cost O(candidates), never
    |left|×|right|).

    ``bytes=True`` counts edits over UTF-8 BYTES (the reference's ECL
    byte-string semantics and DuckDB ``levenshtein``'s) instead of
    codepoints — value columns still come back as real UTF-8 strings.

    ``max_word_len=None`` (default) indexes right-side values of ANY
    length — the relational contract is "all pairs", so the tree
    builder's reference-parity 255-char cap must not silently drop
    long values from one side (it is an opt-in here, not a default).
    The traversal runs in place: the tree is fresh from ``create``,
    which records its whole-forest-per-partition layout, so the
    distributed query path skips the tree-side shuffle."""
    if metric not in ("levenshtein", "damerau"):
        raise ValueError(
            f"metric must be 'levenshtein' or 'damerau', got {metric!r}"
        )
    pt = create(right, rcol, max_word_len=max_word_len, bytes=bytes)
    queries = left.select(F.trim(F.col(lcol)).alias("q")).where(F.col("q") != "")
    # byte mode: lengths below must count BYTES (octet_length) and the
    # exact-DL rerank must run in the same byte-surrogate space the
    # tree used — query() itself hands back decoded UTF-8 strings
    _len = F.octet_length if bytes else F.length
    if metric == "damerau":
        from prefixtree_spark.functions.damerau import dl_pairs_udf

        cand = query(
            pt, queries.distinct(), "q", 2 * max_distance, mode=mode, bytes=bytes
        )
        dl = dl_pairs_udf()
        # Three plan rules, each measured at sf0.1 (164k candidates):
        # (a) JVM length-band prefilter: dl >= |len diff|, so pairs
        #     outside the band can never pass — dropped before any
        #     Python runs;
        # (b) repartition the (bounded) candidate set before the UDF:
        #     the traversal's tiny query-distinct output gets
        #     AQE-coalesced to ~1 partition, and a chained UDF then
        #     runs the whole O(|a|·|b|) DP single-threaded (22 s);
        #     one cheap shuffle of id-pairs spreads it across cores;
        # (c) score ONCE and pin, then filter: a filter directly on
        #     the UDF column makes Catalyst evaluate the UDF twice
        #     (ArrowEvalPython under both Filter and Project), re-
        #     running the traversal feeding each. The pinned frame is
        #     the tree-pruned candidate set, never a cross join.
        sc = cand.sparkSession.sparkContext

        def _dl_arg(c):
            if not bytes:
                return F.col(c)
            from prefixtree_spark.functions.bytesurrogate import (
                to_byte_surrogate,
            )

            return to_byte_surrogate(F.col(c))

        scored = (
            cand.where(
                F.abs(_len("query_string") - _len("node")) <= max_distance
            )
            .repartition(sc.defaultParallelism)
            .select(
                F.col("query_string").alias("left_value"),
                F.col("node").alias("right_value"),
                dl(_dl_arg("query_string"), _dl_arg("node")).alias("distance"),
            )
            .localCheckpoint(eager=True)
        )
        return scored.where(F.col("distance") <= max_distance)
    matches = query(
        pt, queries.distinct(), "q", max_distance, mode=mode, bytes=bytes
    )
    return matches.select(
        F.col("query_string").alias("left_value"),
        F.col("node").alias("right_value"),
        F.col("final_distance").alias("distance"),
    )


def similarity_join_rows(
    left: DataFrame,
    lcol: str,
    right: DataFrame,
    rcol: str,
    max_distance: int,
    *,
    mode: str = "auto",
    lprefix: str = "l_",
    rprefix: str = "r_",
    metric: str = "levenshtein",
    bytes: bool = False,
) -> DataFrame:
    """``similarity_join`` with full row payloads: every matching
    (left row, right row) pair within the distance bound, columns
    prefixed to avoid collisions, plus ``distance``. The value-pair
    join runs first (tree-accelerated); payloads come back via two
    equi-joins on the trimmed value — payload width never enters the
    similarity computation."""
    pairs = similarity_join(
        left, lcol, right, rcol, max_distance, mode=mode, metric=metric,
        bytes=bytes,
    )
    lpref = left.select(
        *[F.col(c).alias(f"{lprefix}{c}") for c in left.columns]
    ).withColumn("__lv", F.trim(F.col(f"{lprefix}{lcol}")))
    rpref = right.select(
        *[F.col(c).alias(f"{rprefix}{c}") for c in right.columns]
    ).withColumn("__rv", F.trim(F.col(f"{rprefix}{rcol}")))
    return (
        pairs.join(lpref, pairs.left_value == lpref.__lv)
        .join(rpref, pairs.right_value == rpref.__rv)
        .drop("left_value", "right_value", "__lv", "__rv")
    )


def best_match(
    left: DataFrame,
    lcol: str,
    right: DataFrame,
    rcol: str,
    max_distance: int,
    *,
    mode: str = "auto",
    metric: str = "levenshtein",
    bytes: bool = False,
) -> DataFrame:
    """Top-1 fuzzy match per left value: the closest right-side word
    within ``max_distance`` (ties break lexicographically on the word —
    deterministic). Columns: ``left_value, best_match, distance``.
    Queries with no match within the bound are absent."""
    from pyspark.sql import Window

    pairs = similarity_join(
        left, lcol, right, rcol, max_distance, mode=mode, metric=metric,
        bytes=bytes,
    )
    w = Window.partitionBy("left_value").orderBy(
        F.asc("distance"), F.asc("right_value")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "left_value",
            F.col("right_value").alias("best_match"),
            F.col("distance").cast("int").alias("distance"),
        )
    )


def suggest(
    left: DataFrame,
    lcol: str,
    vocab: DataFrame,
    vcol: str,
    freq_col: str,
    max_distance: int,
    *,
    mode: str = "auto",
    metric: str = "levenshtein",
    bytes: bool = False,
) -> DataFrame:
    """Frequency-weighted spell suggestion (the autocorrect ranking):
    the best vocabulary word per left value, ranked by (distance ASC,
    frequency DESC, word ASC) — among equally-close candidates the
    more common word wins, which is what turns raw fuzzy match into a
    usable corrector (classic noisy-channel ranking with a unigram
    prior). Exact matches therefore rank first automatically
    (distance 0). Columns: ``left_value, suggestion, distance, freq``.

    Plan shape: the tree-accelerated similarity join produces the
    bounded candidate pairs; the prior arrives via an equi-join on the
    word (broadcast-able vocab stats); rank is one window over the
    per-query candidate set (tiny by the distance bound)."""
    from pyspark.sql import Window

    stats = vocab.select(
        F.trim(F.col(vcol)).alias("right_value"),
        F.col(freq_col).cast("long").alias("freq"),
    ).groupBy("right_value").agg(F.max("freq").alias("freq"))
    pairs = similarity_join(
        left, lcol, vocab, vcol, max_distance, mode=mode, metric=metric,
        bytes=bytes,
    )
    scored = pairs.join(stats, "right_value")
    w = Window.partitionBy("left_value").orderBy(
        F.asc("distance"), F.desc("freq"), F.asc("right_value")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "left_value",
            F.col("right_value").alias("suggestion"),
            F.col("distance").cast("int").alias("distance"),
            "freq",
        )
    )


def fuzzy_dedup(
    df: DataFrame,
    col: str,
    max_distance: int,
    *,
    max_iter: int = 50,
    collect_edges_below: int = 5_000_000,
    metric: str = "levenshtein",
    bytes: bool = False,
) -> DataFrame:
    """Cluster distinct values whose edit distance ≤ k (``metric``:
    Levenshtein, or unrestricted Damerau-Levenshtein) into
    connected components. Returns DataFrame[value, component] where
    ``component`` is the lexicographically smallest member.

    The edge set comes from a prefix-tree self-similarity-join (no
    brute-force cross join); clustering via the shared hybrid
    ``operators.graph.connected_components`` (driver union-find for
    collectable edge sets, symmetrized min-label propagation beyond).
    """
    from prefixtree_spark.operators.graph import connected_components

    # one orientation per pair: connected_components symmetrizes
    # internally, so keeping both (a,b) and (b,a) only doubled the
    # edge volume (and the driver collect under the threshold)
    edges = (
        similarity_join(df, col, df, col, max_distance, metric=metric,
                        bytes=bytes)
        .where(F.col("left_value") < F.col("right_value"))
        .select(F.col("left_value").alias("src"), F.col("right_value").alias("dst"))
    )
    values = (
        df.select(F.trim(F.col(col)).alias("node"))
        .where(F.col("node") != "")
        .distinct()
    )
    comp = connected_components(
        values, edges, max_iter=max_iter, collect_edges_below=collect_edges_below
    )
    return comp.select(F.col("node").alias("value"), "component")
