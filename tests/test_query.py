"""Query tests: mode equivalence, DuckDB-oracle equality, edge cases
(FIXTURES.md F3/F4), serving path."""

import pytest
from pyspark.sql import functions as F

from prefixtree_spark import build_local_index, create, query, query_one
from tests.conftest import brute_levenshtein
from tests.test_build import SPARSE_WORDS, _words_df


def _expected(words, queries, k):
    return {
        (q, w, brute_levenshtein(q, w))
        for q in set(queries)
        for w in set(words)
        if brute_levenshtein(q, w) <= k
    }


def _run(spark, pt, queries, k, mode):
    qdf = spark.createDataFrame([(q,) for q in queries], ["q"])
    res = query(pt, qdf, "q", k, mode=mode)
    return {(r.query_string, r.node, r.final_distance) for r in res.collect()}


QUERIES = ["KAMINSKI", "SMITH", "DOG", "CARTS", "BAYLESS"]


@pytest.fixture(scope="module")
def sparse_pt(spark):
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3).cache()
    pt.count()
    return pt


@pytest.mark.parametrize("mode", ["broadcast_tree", "broadcast_queries", "bfs"])
@pytest.mark.parametrize("k", [1, 2, 3])
def test_modes_vs_brute_force(spark, sparse_pt, mode, k):
    """Sparse multi-char roots (KAMINSK, SM, CA, BAYL) — the exact shape
    where the reference's Quirk-1 DP bug bites; we must be exact."""
    got = _run(spark, sparse_pt, QUERIES, k, mode)
    assert got == _expected(SPARSE_WORDS, QUERIES, k)


def test_duplicate_queries_collapse(spark, sparse_pt):
    got = _run(spark, sparse_pt, ["SMITH", "SMITH"], 1, "broadcast_tree")
    assert got == _expected(SPARSE_WORDS, ["SMITH"], 1)


def test_empty_query_string(spark):
    pt = create(_words_df(spark, ["A", "AB"]), "word", num_partitions=1)
    got = _run(spark, pt, [""], 1, "broadcast_tree")
    assert got == {("", "A", 1)}


def test_unicode_codepoint_distance(spark):
    """Engine distance is per Unicode CODEPOINT: café↔cafe = 1.

    NB: DuckDB's levenshtein is UTF-8 BYTE-based (café↔cafe = 2), so
    non-ASCII strings must not appear in driver oracle queries; on
    ASCII the two semantics agree (SURVEY.md §1.3)."""
    words = ["café", "cafe", "naïve"]
    pt = create(_words_df(spark, words), "word", num_partitions=1)
    got = _run(spark, pt, ["cafe"], 1, "broadcast_queries")
    assert got == {("cafe", "cafe", 0), ("cafe", "café", 1)}


def test_oracle_equivalence_customer(spark, duck):
    """End-to-end vs DuckDB levenshtein on the sf0.001 customer names —
    the same check the driver's CORRECTNESS gate runs."""
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    pt = create(cust, "c_name", num_partitions=4)
    qdf = cust.where("c_custkey % 20 = 3").select(
        F.expr(
            "concat(substring(c_name, 1, cast(c_custkey % length(c_name) as int)),"
            " substring(c_name, cast(c_custkey % length(c_name) as int) + 2))"
        ).alias("q")
    )
    got = {(r.query_string, r.node, r.final_distance) for r in query(pt, qdf, "q", 1).collect()}
    oracle = {
        tuple(r)
        for r in duck.execute(
            """
            WITH q AS (
              SELECT concat(substr(c_name, 1, (c_custkey % length(c_name))::INT),
                            substr(c_name, (c_custkey % length(c_name))::INT + 2)) AS qs
              FROM customer WHERE c_custkey % 20 = 3
            ),
            w AS (SELECT DISTINCT trim(c_name) AS word FROM customer WHERE trim(c_name) <> '')
            SELECT DISTINCT q.qs, w.word, levenshtein(q.qs, w.word)
            FROM q, w WHERE levenshtein(q.qs, w.word) <= 1
            """
        ).fetchall()
    }
    assert got == oracle


def test_partition_count_invariance(spark):
    """Result sets must be identical across partitionings (SURVEY.md §0)."""
    ref = None
    for parts in [1, 3, 8]:
        pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=parts)
        got = _run(spark, pt, QUERIES, 2, "broadcast_queries")
        if ref is None:
            ref = got
        assert got == ref


def test_query_one_serving_path(spark, sparse_pt):
    idx = build_local_index(sparse_pt)
    assert query_one(idx, "KAMINSKI", 1) == sorted(
        (w, brute_levenshtein("KAMINSKI", w))
        for w in SPARSE_WORDS
        if brute_levenshtein("KAMINSKI", w) <= 1
    )
    # repeated calls reuse the collected index (serving path)
    assert query_one(idx, "SMITH", 2) == sorted(
        (w, brute_levenshtein("SMITH", w))
        for w in SPARSE_WORDS
        if brute_levenshtein("SMITH", w) <= 2
    )


def test_query_one_dataframe_overload_caches_handle(spark, monkeypatch):
    """query_one(DataFrame, ...) must pay ONE collect per table:
    repeated calls on the same (semantically identical) plan reuse the
    cached handle; a different table builds a fresh one."""
    import prefixtree_spark.operators.query as qmod

    qmod.clear_local_index_cache()
    builds = []
    real = qmod.build_local_index
    monkeypatch.setattr(
        qmod, "build_local_index", lambda pt: builds.append(1) or real(pt)
    )
    pt = create(_words_df(spark, SPARSE_WORDS), "word", num_partitions=3)
    expected = sorted(
        (w, brute_levenshtein("SMITH", w))
        for w in SPARSE_WORDS
        if brute_levenshtein("SMITH", w) <= 2
    )
    assert query_one(pt, "SMITH", 2) == expected
    assert query_one(pt, "SMITH", 2) == expected
    # a re-derived but semantically identical plan also hits
    assert query_one(pt.select("*"), "SMITH", 2) == expected
    assert builds == [1]
    # a genuinely different table misses and builds its own handle
    other = create(_words_df(spark, ["SMITH", "SMYTHE"]), "word")
    assert query_one(other, "SMITH", 0) == [("SMITH", 0)]
    assert builds == [1, 1]
    qmod.clear_local_index_cache()


def test_query_one_cache_sees_in_place_table_rewrite(spark):
    """Overwriting the backing table in place (save_index_bucketed →
    spark.table: identical plan, identical semantic hash) must NOT
    serve stale words from the handle cache — the file-listing part of
    the cache key changes with the rewrite (round-4 advice, medium)."""
    import prefixtree_spark.operators.query as qmod
    from prefixtree_spark.operators.build import save_index_bucketed

    qmod.clear_local_index_cache()
    tbl = "t_query_one_rewrite"
    try:
        save_index_bucketed(
            create(_words_df(spark, ["SMITH", "SMYTHE"]), "word"), tbl
        )
        assert query_one(spark.table(tbl), "SMITH", 0) == [("SMITH", 0)]
        save_index_bucketed(create(_words_df(spark, ["JONES"]), "word"), tbl)
        # fresh read, NO clear_local_index_cache: must see the rewrite
        assert query_one(spark.table(tbl), "JONES", 0) == [("JONES", 0)]
        assert query_one(spark.table(tbl), "SMITH", 0) == []
    finally:
        qmod.clear_local_index_cache()
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_build_local_index_on_empty_tree(spark):
    """An empty dictionary serves as an empty index: the driver-side
    forest merge must not crash on a tree with no nodes."""
    from prefixtree_spark import build_local_index

    pt = create(_words_df(spark, ["", "  "]), "word", num_partitions=2)
    assert pt.count() == 0
    idx = build_local_index(pt)
    for q in ("", "A", "SMITH"):
        assert query_one(idx, q, 2) == []
        assert query_one(idx, q, 1, metric="damerau") == []
    assert idx.search_many(["A", "SMITH"], 2) == []


def test_search_many_matches_per_call(spark, sparse_pt):
    """Batched serving == union of per-call lookups."""
    idx = build_local_index(sparse_pt)
    qs = ["KAMINSKI", "SMITH", "", "ZZZZZZ", "CHARLES", "SMITH"]
    batched = set(idx.search_many(qs, 2))
    singles = {
        (q, w, d) for q in qs for (w, d) in idx.search(q, 2)
    }
    assert batched == singles


def test_query_works_on_keep_duplicates_table(spark):
    """A keep_duplicates node table carries an extra n_copies column;
    every query strategy must still work (deduped results — the
    multiplicity is metadata, not fan-out)."""
    from tests.test_build import _words_df

    pt = create(
        _words_df(spark, ["CAT", "CAT", "CART"]),
        "word",
        num_partitions=1,
        keep_duplicates=True,
    )
    for mode in ["broadcast_tree", "broadcast_queries", "bfs"]:
        got = _run(spark, pt, ["CAT"], 1, mode)
        assert got == {("CAT", "CAT", 0), ("CAT", "CART", 1)}, mode


def test_suggest_frequency_prior(spark):
    """Among equally-distant candidates the most frequent word wins;
    exact matches rank first; ties on freq break on the word."""
    from prefixtree_spark.operators.similarity_join import suggest

    vocab = spark.createDataFrame(
        [("the", 1000), ("thy", 10), ("tho", 10), ("spark", 50)],
        ["w", "n"],
    )
    queries = spark.createDataFrame([("thx",), ("spark",)], ["q"])
    got = {
        r.left_value: (r.suggestion, r.distance, r.freq)
        for r in suggest(queries, "q", vocab, "w", "n", 1).collect()
    }
    # 'thx' is distance 1 from the/thy/tho: 'the' wins on freq
    assert got["thx"] == ("the", 1, 1000)
    # exact match wins at distance 0 regardless of freq
    assert got["spark"] == ("spark", 0, 50)


def test_query_does_not_evict_caller_cache(spark):
    """query() must release only pins IT created: a caller-persisted
    tree stays cached after auto/broadcast_tree calls (the old blind
    unpersist silently forced the next call to rebuild from source)."""
    from pyspark import StorageLevel

    from prefixtree_spark import build_local_index

    words = spark.createDataFrame([("CAT",), ("CART",)], ["w"])
    pt = create(words, "w").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        pt.count()
        q = spark.createDataFrame([("CAT",)], ["q"])
        for mode in ("auto", "broadcast_tree"):
            assert query(pt, q, "q", 1, mode=mode).count() >= 1
            lvl = pt.storageLevel
            assert lvl.useMemory or lvl.useDisk, mode
        build_local_index(pt)
        lvl = pt.storageLevel
        assert lvl.useMemory or lvl.useDisk
    finally:
        pt.unpersist()


def test_similarity_join_long_values_not_dropped(spark):
    """The relational contract is ALL pairs over distinct values: right
    side values longer than the tree builder's reference-parity 255-char
    cap must still be indexed (the cap is opt-in for similarity_join)."""
    from prefixtree_spark.operators.similarity_join import fuzzy_dedup, similarity_join

    long_a = "A" * 300
    long_b = "A" * 299 + "B"
    left = spark.createDataFrame([(long_a,)], ["v"])
    right = spark.createDataFrame([(long_b,)], ["v"])
    got = [(r.left_value, r.right_value, r.distance) for r in
           similarity_join(left, "v", right, "v", 1).collect()]
    assert got == [(long_a, long_b, 1)]
    both = spark.createDataFrame([(long_a,), (long_b,)], ["v"])
    comps = {r.value: r.component for r in
             fuzzy_dedup(both, "v", 1).collect()}
    assert comps[long_a] == comps[long_b]  # clustered, not silently split


def test_bytes_mode_counts_utf8_bytes(spark):
    """create/query with bytes=True implement the reference's ECL
    byte-string semantics (PrefixTree.ecl:74-78): a 2-byte character
    substitution costs 2 edits; default mode counts codepoints (1)."""
    from prefixtree_spark import create, query

    words = ["héllo", "hello", "wörld"]
    df = spark.createDataFrame([(w,) for w in words], ["word"])
    qdf = spark.createDataFrame([("hello",), ("wörld",)], ["q"])

    # codepoint mode: héllo is 1 edit from hello
    pt_cp = create(df, "word")
    got_cp = {
        (r.query_string, r.node, r.final_distance)
        for r in query(pt_cp, qdf, "q", 1).collect()
    }
    assert ("hello", "héllo", 1) in got_cp

    # byte mode: é is 2 bytes -> distance 2; exact non-ASCII matches
    # still come back as REAL utf-8 strings at distance 0
    pt_b = create(df, "word", bytes=True)
    got_b1 = {
        (r.query_string, r.node, r.final_distance)
        for r in query(pt_b, qdf, "q", 1, bytes=True).collect()
    }
    assert ("hello", "hello", 0) in got_b1
    assert ("wörld", "wörld", 0) in got_b1
    assert not any(n == "héllo" and q == "hello" for q, n, _ in got_b1)
    got_b2 = {
        (r.query_string, r.node, r.final_distance)
        for r in query(pt_b, qdf, "q", 2, bytes=True).collect()
    }
    assert ("hello", "héllo", 2) in got_b2


def test_bytes_mode_matches_brute_byte_levenshtein(spark):
    """Randomized cross-check: byte-mode tree results == brute-force
    Levenshtein over the UTF-8 byte strings, on a mixed ASCII/accented
    vocabulary, every query mode."""
    import random

    from prefixtree_spark import create, query
    from tests.conftest import brute_levenshtein

    rng = random.Random(23)
    alphabet = "abcäöé"
    vocab = sorted({
        "".join(rng.choices(alphabet, k=rng.randint(1, 7)))
        for _ in range(120)
    })
    queries = [
        "".join(rng.choices(alphabet, k=rng.randint(1, 7))) for _ in range(25)
    ]
    df = spark.createDataFrame([(w,) for w in vocab], ["word"])
    qdf = spark.createDataFrame([(q,) for q in set(queries)], ["q"])
    pt = create(df, "word", num_partitions=3, bytes=True)

    def bl(a, b):
        return brute_levenshtein(
            a.encode("utf-8").decode("latin-1"),
            b.encode("utf-8").decode("latin-1"),
        )

    exp = {
        (q, w, bl(q, w))
        for q in set(queries)
        for w in vocab
        if bl(q, w) <= 2
    }
    for mode in ("broadcast_tree", "broadcast_queries", "bfs"):
        got = {
            (r.query_string, r.node, r.final_distance)
            for r in query(pt, qdf, "q", 2, mode=mode, bytes=True).collect()
        }
        assert got == exp, mode


def test_bytes_mode_similarity_join_damerau(spark):
    """Byte-mode Damerau: an adjacent swap of two MULTI-BYTE chars is
    NOT one byte-level transposition (the byte sequences interleave) —
    matches DuckDB's damerau_levenshtein byte counting."""
    import duckdb

    from prefixtree_spark.operators.similarity_join import similarity_join

    left = spark.createDataFrame([("éa",), ("ab",)], ["q"])
    right = spark.createDataFrame([("aé",), ("ba",), ("ab",)], ["w"])
    got = {
        (r.left_value, r.right_value, r.distance)
        for r in similarity_join(
            left, "q", right, "w", 2, metric="damerau", bytes=True
        ).collect()
    }
    for lv, rv in [("éa", "aé"), ("ab", "ba"), ("ab", "ab"), ("éa", "ab")]:
        want = duckdb.sql(
            f"select damerau_levenshtein('{lv}', '{rv}')"
        ).fetchone()[0]
        if want <= 2:
            assert (lv, rv, want) in got, (lv, rv, want)
        else:
            assert not any(a == lv and b == rv for a, b, _ in got)
