"""Dump `.explain("formatted")` for the r14 optimization round.

Writes plans/r14/<name>_<tag>.txt. Covers the paths r14 touches: the
both-big chunk loop (union structure), a >64-chunk query_groups run
(bounded union leaf count), and any catalog workloads named.

Usage: python tools/r14_plans.py <tag> [name ...]
  tag: "before" / "after"
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

DEFAULT = ["bothbig", "union_bound"]


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or DEFAULT

    from prefixtree_spark import create, query
    from prefixtree_spark.operators import query as qmod
    from prefixtree_spark.session import get_spark
    from prefixtree_spark.sources.tables import load_table
    from prefixtree_spark import workloads, workloads_ext, workloads_rel  # noqa: F401

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("r14_plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(repo, "plans", "r14")
    os.makedirs(out_dir, exist_ok=True)

    def grab(name: str, df) -> None:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{tag}.txt")

    for name in names:
        if name in workloads.QUERIES:
            grab(name, workloads.QUERIES[name](spark, sf_dir))

    cust = load_table(spark, sf_dir, "customer")
    perturb = (
        "concat(substring(c_name, 1, cast(c_custkey % length(c_name) as int)),"
        " substring(c_name, cast(c_custkey % length(c_name) as int) + 2))"
    )

    if "bothbig" in names:
        # the bench's fuzzy_both_big_auto shape: chunk cap forced to
        # 5000 -> 3 chunks; the returned frame's plan shows the chunk
        # union over the eager checkpoints
        dict_exprs = [
            perturb,
            "concat(c_name, '_', cast(c_custkey % 7 as string))",
            "upper(reverse(c_name))",
            "concat(substring(c_name, 2, 30), cast(c_custkey % 13 as string))",
        ]
        words_big = cust.selectExpr(f"{dict_exprs[0]} as w")
        for e in dict_exprs[1:]:
            words_big = words_big.union(cust.selectExpr(f"{e} as w"))
        pt_big = create(
            words_big, "w",
            num_partitions=spark.sparkContext.defaultParallelism,
        ).persist()
        pt_big.count()
        q_big = cust.select(F.expr(perturb).alias("q"))
        saved = (qmod._AUTO_BROADCAST_NODES, qmod._AUTO_BROADCAST_QUERIES)
        qmod._AUTO_BROADCAST_NODES = 0
        qmod._AUTO_BROADCAST_QUERIES = 5000
        try:
            grab("fuzzy_both_big_auto", query(pt_big, q_big, "q", 2, mode="auto"))
        finally:
            qmod._AUTO_BROADCAST_NODES, qmod._AUTO_BROADCAST_QUERIES = saved
        pt_big.unpersist()

    if "union_bound" in names:
        # >64 tiny chunks through query_groups: the plan of the
        # returned frame must never carry more than
        # _UNION_COLLAPSE_FANOUT leaves after the r14 collapse
        import shutil
        import tempfile

        words = cust.selectExpr("trim(c_name) as w").where("w <> ''")
        pt = create(words, "w", num_partitions=4).persist()
        pt.count()
        qdf = cust.where("c_custkey % 10 = 3").selectExpr(f"{perturb} as q")
        n_q = qdf.distinct().count()
        root = tempfile.mkdtemp(prefix="r14_plan_union_")
        try:
            qmod.write_query_groups(
                qdf, "q", root, chunk_size=max(1, -(-n_q // 100))
            )
            grab("union_bound_100chunks", qmod.query_groups(pt, root, 1))
        finally:
            shutil.rmtree(root, ignore_errors=True)
        pt.unpersist()

    spark.stop()


if __name__ == "__main__":
    main()
