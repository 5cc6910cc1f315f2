"""Dump `.explain("formatted")` for the r13 optimization round.

Writes plans/r13/<name>_<tag>.txt for every workload named on the
command line (or the default headline set), at sf0.1. Plans are
deterministic w.r.t. machine load, so this can run any time.

Usage: python tools/r13_plans.py <tag> [name ...]
  tag: "before" / "after"
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

DEFAULT = [
    "dedup_minhash_lsh",
    "semantic_dedup_labeled",
    "dedup_simhash_pairs",
    "ann_topk_cosine",
    "ann_topk_ivf",
    "ann_topk_int8",
    "text_stats",
    "doc_fingerprint",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "events_sessionize",
    "events_pivot_types",
    "events_resampled_hourly",
    "docs_pii_redacted",
    "dedup_duplicate_spans",
    "docs_mixture_resample",
    "fuzzy_join_damerau",
    "bm25_rank_docs",
]


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or DEFAULT

    from prefixtree_spark import create, query
    from prefixtree_spark.session import get_spark
    from prefixtree_spark.sources.tables import load_table
    from prefixtree_spark import workloads, workloads_ext, workloads_rel  # noqa: F401

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("r13_plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(repo, "plans", "r13")
    os.makedirs(out_dir, exist_ok=True)

    def grab(name: str, df) -> None:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{tag}.txt")

    # catalog workloads
    for name in names:
        if name in workloads.QUERIES:
            grab(name, workloads.QUERIES[name](spark, sf_dir))

    # fuzzy engine paths (bench-shaped, not catalog entries)
    if "fuzzy_tree_k1" in names or not sys.argv[2:]:
        cust = load_table(spark, sf_dir, "customer")
        perturb = (
            "concat(substring(c_name, 1, cast(c_custkey % length(c_name) as int)),"
            " substring(c_name, cast(c_custkey % length(c_name) as int) + 2))"
        )
        qdf = cust.where("c_custkey % 20 = 3").select(F.expr(perturb).alias("q"))
        pt = create(cust, "c_name").persist()
        pt.count()
        grab("build_index", pt)
        grab("fuzzy_tree_k1", query(pt, qdf, "q", 1, mode="broadcast_tree"))
        grab(
            "fuzzy_tree_distributed_k1",
            query(pt, qdf, "q", 1, mode="broadcast_queries"),
        )
        pt.unpersist()

    spark.stop()


if __name__ == "__main__":
    main()
