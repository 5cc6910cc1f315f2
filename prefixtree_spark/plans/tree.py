"""The prefix-tree node table layout (``PTLayout``).

Mirrors the reference's public output schema (PrefixTree.ecl:267-276):
one row per trie node; internal nodes carry a multi-character edge label
in ``node``; ``is_word`` end-cap leaves carry the ENTIRE word
(PrefixTree.ecl:280,283) so query results need no path reconstruction.

``parent_id = 0`` marks forest roots (PrefixTree.ecl:269); node ids are
globally unique without coordination via per-partition blocks of
``partition_id * 10**14`` (PrefixTree.ecl:172-181) — the same trick
Spark's ``monotonically_increasing_id`` uses.
"""

from pyspark.sql import types as T

VIRTUAL_ROOT_ID = 0

# One id block per build partition; supports 92,233 blocks (2^63/1e14)
# of 1e14 ids each, comfortably above the reference's capacity envelope
# (PrefixTree.ecl:65-71).
ID_BLOCK = 10**14

PT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("parent_id", T.LongType(), False),
        T.StructField("_max", T.IntegerType(), False),
        T.StructField("_min", T.IntegerType(), False),
        T.StructField("is_word", T.BooleanType(), False),
        T.StructField("compute_node", T.IntegerType(), False),
        T.StructField("node", T.StringType(), False),
    ]
)

PT_COLUMNS = [f.name for f in PT_SCHEMA.fields]

# keep_duplicates=True layout: PTLayout + the per-word input multiplicity
# (the engine's compressed form of the reference's n-identical-end-caps
# behavior, PrefixTree.ecl:205-208; internal nodes carry 1).
PT_SCHEMA_DUP = T.StructType(
    PT_SCHEMA.fields + [T.StructField("n_copies", T.IntegerType(), False)]
)

PT_COLUMNS_DUP = [f.name for f in PT_SCHEMA_DUP.fields]

# ---------------------------------------------------------------------------
# forest-count and word-range hints: the build metadata the delta paths need
# ---------------------------------------------------------------------------
#
# add_words/remove_words gate their sparse-vs-bulk plan on the forest
# count, and add_words routes each new word to the forest whose word
# range covers it. A raw frame has to probe both (max(compute_node),
# or each forest's lowest end-cap word — a per-call job over the node
# table); but ``create`` KNOWS them (its partition count N and the N-1
# range bounds it sampled once), and a saved index can store them
# once. The hints ride as plain Python attributes on the DataFrame
# object — best-effort by design: any transformation returns a new
# object without them, and every consumer falls back to the probe.
# Correctness never depends on the values (SURVEY.md §0: partition-
# independent answers); they only pick plans and routing, so a
# stale-but-plausible value is safe.

_N_FORESTS_ATTR = "_pt_n_forests"


def set_n_forests_hint(df, n: int):
    """Attach the forest count to ``df`` (returns ``df``)."""
    try:
        setattr(df, _N_FORESTS_ATTR, int(n))
    except Exception:
        pass  # exotic DataFrame impls without __dict__: hint is optional
    return df


def n_forests_hint(df) -> int | None:
    """The attached forest count, or None (caller probes)."""
    n = getattr(df, _N_FORESTS_ATTR, None)
    return int(n) if n is not None else None


_WORD_BOUNDS_ATTR = "_pt_word_bounds"


def set_word_bounds_hint(df, bounds):
    """Attach ``create``'s range bounds to ``df`` (returns ``df``):
    forest ``i`` holds the words ``w`` with ``bounds[i-1] <= w <
    bounds[i]``."""
    try:
        setattr(df, _WORD_BOUNDS_ATTR, tuple(bounds))
    except Exception:
        pass
    return df


def word_bounds_hint(df) -> tuple[str, ...] | None:
    """The attached range bounds, or None (caller probes)."""
    return getattr(df, _WORD_BOUNDS_ATTR, None)


# ---------------------------------------------------------------------------
# colocation record: every partition holds whole forests
# ---------------------------------------------------------------------------
#
# The distributed traversals walk each partition as a set of complete
# forests; a forest split across partitions silently loses matches. The
# engine knows when that layout holds, so callers never promise it. The
# record rides on the same attribute channel as the forest count, but
# unlike the count it decides correctness, so it has exactly two
# producers, both colocated by construction: ``create`` (each build
# task emits whole forests) and ``build._colocate_forests`` (one range
# repartition on compute_node). ``persist``/``cache`` return the same
# object and keep it; any transformation returns a new object without
# it, and that frame is colocated once more by the consumer.

_COLOCATED_ATTR = "_pt_colocated"


def mark_colocated(df):
    """Record that every partition of ``df`` holds whole forests
    (returns ``df``). Only a producer that makes that layout calls it."""
    try:
        setattr(df, _COLOCATED_ATTR, True)
    except Exception:
        pass  # no __dict__: unrecorded frames are colocated by the consumer
    return df


def is_colocated(df) -> bool:
    """Whether ``df`` carries the colocation record."""
    return getattr(df, _COLOCATED_ATTR, False) is True
