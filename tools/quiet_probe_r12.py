"""Round-12 quiet probe for the two creeping bench entries
(``fuzzy_join_damerau`` 2.10→2.92→3.37 s r9→r11, ``dedup_minhash_lsh``
2.82→3.64 s r10→r11): a FRESH session per entry, 1 cold + 6 warm runs,
plus per-phase attribution, on a machine running nothing else — the
method that root-caused the r10 stream-bench pollution (SCALING R10(1))
and the r5 minhash variance.

Usage: python tools/quiet_probe_r12.py [sf_dir]
Prints one JSON line per measurement; SCALING.md gets the conclusion.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def timed(fn, label, n_warm=6):
    runs = []
    for _ in range(1 + n_warm):
        t0 = time.time()
        fn()
        runs.append(round(time.time() - t0, 3))
    print(json.dumps({
        "entry": label, "cold": runs[0],
        "warm_median": round(statistics.median(runs[1:]), 3),
        "warm_min": min(runs[1:]), "warm_max": max(runs[1:]),
        "runs": runs,
    }), flush=True)
    return statistics.median(runs[1:])


def probe_damerau(sf_dir):
    from pyspark.sql import functions as F

    from prefixtree_spark import workloads
    from prefixtree_spark.functions.damerau import dl_pairs_udf
    from prefixtree_spark.operators.build import create
    from prefixtree_spark.operators.query import query
    from prefixtree_spark.session import get_spark
    from prefixtree_spark.sources.tables import load_table

    spark = get_spark("probe_damerau")
    spark.sparkContext.setLogLevel("ERROR")

    timed(lambda: workloads.QUERIES["fuzzy_join_damerau"](spark, sf_dir).count(),
          "fuzzy_join_damerau_full")

    # phase attribution
    cust = load_table(spark, sf_dir, "customer")
    queries = cust.where("c_custkey % 20 = 7 and length(c_name) > 1").select(
        F.expr(workloads._TRANSPOSE_SPARK.format(col="c_name", key="c_custkey")).alias("q")
    )
    holder = {}

    def phase_build():
        holder["pt"] = create(cust, "c_name", max_word_len=None).localCheckpoint(eager=True)

    timed(phase_build, "damerau_phase_build", n_warm=4)

    qd = queries.select(F.trim("q").alias("q")).where(F.col("q") != "").distinct()

    def phase_query():
        holder["cand"] = query(holder["pt"], qd, "q", 2, mode="auto").localCheckpoint(
            eager=True
        )

    timed(phase_query, "damerau_phase_tree_query_k2", n_warm=4)

    dl = dl_pairs_udf()
    sc = spark.sparkContext

    def phase_rerank():
        cand = holder["cand"]
        (
            cand.where(F.abs(F.length("query_string") - F.length("node")) <= 1)
            .repartition(sc.defaultParallelism)
            .select(
                F.col("query_string").alias("left_value"),
                F.col("node").alias("right_value"),
                dl(F.col("query_string"), F.col("node")).alias("distance"),
            )
            .where(F.col("distance") <= 1)
            .count()
        )

    timed(phase_rerank, "damerau_phase_rerank", n_warm=4)
    print(json.dumps({"entry": "damerau_cand_rows", "value": holder["cand"].count()}), flush=True)
    spark.stop()


def probe_minhash(sf_dir):
    from prefixtree_spark import workloads
    from prefixtree_spark import workloads_ext  # noqa: F401 (registers entries)
    from prefixtree_spark.session import get_spark

    spark = get_spark("probe_minhash")
    spark.sparkContext.setLogLevel("ERROR")
    timed(lambda: workloads.QUERIES["dedup_minhash_lsh"](spark, sf_dir).count(),
          "dedup_minhash_lsh_full")

    # stage attribution mirrors bench.py's breakdown
    from pyspark.sql import functions as F

    from prefixtree_spark.operators.dedup import (
        _apply_max_df,
        _band_buckets,
        minhash_signatures,
        token_shingles,
    )
    from prefixtree_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    holder = {}

    def s1():
        holder["sh"] = _apply_max_df(
            token_shingles(docs, "doc_id", "text", 3), None
        ).localCheckpoint(eager=True)

    timed(s1, "minhash_stage_shingle", n_warm=4)

    def s2():
        holder["sig"] = minhash_signatures(holder["sh"], num_perm=64).localCheckpoint(
            eager=True
        )

    timed(s2, "minhash_stage_signature", n_warm=4)

    def s3():
        b = _band_buckets(holder["sig"], 32, 2)
        x, y = b.alias("x"), b.alias("y")
        holder["cand"] = (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.doc") < F.col("y.doc")),
            )
            .select(F.col("x.doc").alias("id1"), F.col("y.doc").alias("id2"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    timed(s3, "minhash_stage_band_join", n_warm=4)
    spark.stop()


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    which = sys.argv[2] if len(sys.argv) > 2 else "both"
    if which in ("both", "damerau"):
        probe_damerau(sf)
    if which in ("both", "minhash"):
        probe_minhash(sf)
