"""Build tests: golden structure on a tiny vocabulary plus
partitioning-independent invariants (FIXTURES.md F3/F6)."""

import pytest
from pyspark.sql import functions as F

from prefixtree_spark import create

SPARSE_WORDS = [
    "KAMINSKI", "KAMINSKY", "KAMINSKIY", "BAYLISS", "BAYLESS",
    "MUHAREMAGIC", "SMITH", "SMYTH", "SMITHE", "DOG", "DROP",
    "CAT", "CAR", "CARD", "CART",
]


def _words_df(spark, words):
    return spark.createDataFrame([(w,) for w in words], ["word"])


def test_golden_structure_single_partition(spark):
    """CAR/CARD/CART/CAT under root 'CA' — split edges, end-caps carry
    the full word (PrefixTree.ecl:280,283)."""
    pt = create(_words_df(spark, ["CAR", "CARD", "CART", "CAT"]), "word", num_partitions=1)
    rows = {r.id: r for r in pt.collect()}
    roots = [r for r in rows.values() if r.parent_id == 0]
    assert len(roots) == 1 and roots[0].node == "CA"
    root = roots[0]
    assert root._min == 3 and root._max == 4 and not root.is_word
    kids = [r for r in rows.values() if r.parent_id == root.id]
    assert sorted(r.node for r in kids) == ["R", "T"]
    end_caps = [r for r in rows.values() if r.is_word]
    assert sorted(r.node for r in end_caps) == ["CAR", "CARD", "CART", "CAT"]
    for cap in end_caps:  # end-caps are leaves with _min == _max == len(word)
        assert cap._min == cap._max == len(cap.node)
        assert not any(r.parent_id == cap.id for r in rows.values())


@pytest.mark.parametrize("parts", [1, 3, 8])
def test_invariants_any_partitioning(spark, parts):
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=parts).cache()
    rows = pt.collect()
    ids = {r.id for r in rows}
    assert len(ids) == len(rows)  # globally unique ids
    assert all(r.parent_id in ids or r.parent_id == 0 for r in rows)
    assert all(r._min <= r._max for r in rows)
    # words reconstructable from end-caps == distinct input (Quirk 2 fix)
    assert sorted(r.node for r in rows if r.is_word) == sorted(SPARSE_WORDS)
    # end-cap full-word == concatenation of edge labels on its path
    by_id = {r.id: r for r in rows}
    for cap in (r for r in rows if r.is_word):
        path, cur = [], cap.parent_id
        while cur != 0:
            path.append(by_id[cur].node)
            cur = by_id[cur].parent_id
        assert "".join(reversed(path)) == cap.node


def test_dedup_blank_and_cap_handling(spark):
    words = ["", "  ", "CAT", "CAT", "A" * 300, "OK"]
    pt = create(_words_df(spark, words), "word", num_partitions=2)
    assert sorted(r.node for r in pt.where("is_word").collect()) == ["CAT", "OK"]


def test_nul_and_control_chars_in_words(spark):
    """The end-cap sentinel must not collide with words containing NUL
    (regression: a '\\x00' string sentinel corrupted the trie)."""
    words = ["a", "a\x00b", "a\x00c", "ab"]
    for builder in ["auto", "streaming"]:
        pt = create(_words_df(spark, words), "word", num_partitions=2, builder=builder)
        assert sorted(r.node for r in pt.where("is_word").collect()) == sorted(words)


def test_trim_semantics(spark):
    pt = create(_words_df(spark, ["  CAT  ", "CAT"]), "word", num_partitions=1)
    assert [r.node for r in pt.where("is_word").collect()] == ["CAT"]


def test_id_blocks_by_partition(spark):
    """Ids live in per-partition 1e14 blocks (PrefixTree.ecl:172-181)."""
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=4)
    rows = pt.collect()
    for r in rows:
        assert r.id // 10**14 == r.compute_node
        assert r.id % 10**14 >= 1


def test_build_single_shuffle_plan(spark):
    """The physical plan must contain exactly one exchange before the
    builder (≡ the reference's single DISTRIBUTE, PrefixTree.ecl:84)."""
    df = _words_df(spark, SPARSE_WORDS)
    plan = create(df, "word", num_partitions=4)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


@pytest.mark.parametrize("builder", ["auto", "streaming"])
def test_keep_duplicates_multiplicity(spark, builder):
    """keep_duplicates=True: end-caps carry the word's input
    multiplicity (the compressed form of the reference's n identical
    end-caps, PrefixTree.ecl:205-208); internal nodes carry 1; the
    default build is unchanged (no n_copies column, same node set)."""
    vocab = ["CAT", "CAT", "CART", "CAT", "DOG", "DOG"]
    df = _words_df(spark, vocab)
    pt_dup = create(df, "word", num_partitions=1, builder=builder,
                    keep_duplicates=True)
    rows = pt_dup.collect()
    caps = {r.node: r.n_copies for r in rows if r.is_word}
    assert caps == {"CAT": 3, "CART": 1, "DOG": 2}
    assert all(r.n_copies == 1 for r in rows if not r.is_word)
    # default build: identical node structure, no n_copies column
    pt = create(df, "word", num_partitions=1, builder=builder)
    assert "n_copies" not in pt.columns
    strip = {tuple(r)[:7] for r in rows}
    assert {tuple(r) for r in pt.collect()} == strip


def test_trim_right_ecl_parity(spark):
    """trim='right' reproduces ECL TRIM exactly (trailing-only,
    PrefixTree.ecl:77): leading-whitespace words survive as distinct
    dictionary entries; the default full trim collapses them."""
    vocab = ["  CAT", "CAT  ", "CAT", " DOG"]
    df = _words_df(spark, vocab)
    ecl = {r.node for r in create(df, "word", num_partitions=1, trim="right")
           .where("is_word").collect()}
    assert ecl == {"  CAT", "CAT", " DOG"}
    full = {r.node for r in create(df, "word", num_partitions=1)
            .where("is_word").collect()}
    assert full == {"CAT", "DOG"}
    with pytest.raises(ValueError, match="trim"):
        create(df, "word", trim="left")
