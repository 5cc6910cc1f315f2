"""Regenerate PLANS.md: the physical plans of the engine's headline
operators, with the properties each plan must keep (asserted in tests).

Usage: python tools/dump_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from prefixtree_spark import create, query
    from prefixtree_spark.operators import dedup, relational
    from prefixtree_spark.session import get_spark
    from prefixtree_spark.sources.tables import load_table

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"
    cust = load_table(spark, sf, "customer")
    docs = load_table(spark, sf, "documents")

    sections: list[tuple[str, str, str]] = []

    def grab(title: str, df, commentary: str) -> None:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        sections.append((title, commentary, plan))

    pt = create(cust, "c_name", num_partitions=4)
    grab(
        "Index build — `create`",
        pt,
        "One Exchange (the reference's single DISTRIBUTE) feeding the "
        "per-partition builder; everything else narrow. "
        "`test_build_single_shuffle_plan` pins the Exchange count at 1.",
    )

    qdf = cust.where("c_custkey % 100 = 7").select(
        F.expr("substring(c_name, 1, 12)").alias("q")
    )
    res = query(pt, qdf, "q", 1, mode="broadcast_queries")
    grab(
        "Fuzzy query — distributed tree, colocated (zero-shuffle) traversal",
        res,
        "The dictionary side is NEVER shuffled: mapInPandas runs the "
        "vectorized branch-and-bound traversal in place; only the "
        "(small, broadcast) query batch moves. "
        "`test_colocated_zero_shuffle_plan_and_results` pins this.",
    )

    q3 = relational.top_revenue_orders(
        cust, load_table(spark, sf, "orders"), load_table(spark, sf, "lineitem")
    )
    grab(
        "Top-k revenue join — Q3 shape",
        q3,
        "Filtered dimension explicitly broadcast (BroadcastHashJoin — the "
        "fact table never shuffles for the join) and the global top-k is "
        "TakeOrderedAndProject, not a full sort. Pinned by "
        "`test_q3_broadcasts_dim_and_takeordered`. The lineitem scan also "
        "shows parquet filter pushdown + column pruning (PushedFilters / "
        "ReadSchema).",
    )

    # disable result pinning so explain() shows the operator's real
    # plan, not the checkpoint scan it is pinned into
    dedup.PIN_RESULTS = False
    try:
        mh = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
        grab(
            "MinHash-LSH dedup — candidate generation",
            mh,
            "All candidate generation is equi-join shaped (band-bucket keys); "
            "nothing quadratic shuffles. Signatures are JVM-side xxhash64 in "
            "whole-stage codegen; exact verification touches candidates only. "
            "(At runtime the result is pinned and the shingle cache released — "
            "dedup._pin_release; disabled here so the plan is visible.)",
        )
    finally:
        dedup.PIN_RESULTS = True

    events = load_table(spark, sf, "events")
    views = events.where("event_type = 'view'").select("user_id", "ts", "event_id")
    purchases = events.where("event_type = 'purchase'").select("event_id", "user_id", "ts")
    aj = relational.asof_join(
        purchases, views, on="ts", by="user_id", right_cols=["event_id"], suffix="_v"
    )
    grab(
        "As-of join — union + carry-forward window",
        aj,
        "ONE shuffle (hash on the by-key feeding the window sort); no "
        "range join, no nested loop — both sides union into a single "
        "ordered pass where left rows inherit the last right payload. "
        "Oracled against DuckDB's native ASOF JOIN (events_asof_join).",
    )

    hour = 3_600_000_000
    signups = events.where("event_type = 'signup'").select(
        F.col("event_id").alias("signup_id"), "user_id",
        F.unix_micros("ts").alias("lo"), (F.unix_micros("ts") + 2 * hour).alias("hi"),
    )
    clicks = events.where("event_type = 'click'").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    rj = relational.range_join(
        clicks, signups, on="ts_us", lo="lo", hi="hi", by="user_id", bucket=hour
    )
    grab(
        "Range join — bucketed interval overlap",
        rj,
        "The interval predicate becomes an EQUI-join on (bucket, by) "
        "(SortMerge/Hash, broadcastable) with the exact range check as "
        "a post-filter — Spark's native plan for this θ-join is a "
        "BroadcastNestedLoopJoin, which is quadratic at scale. Explode "
        "fan-out is ~(interval/bucket + 1) rows per interval.",
    )

    from prefixtree_spark.operators import ann

    emb = load_table(spark, sf, "embeddings")
    qv = emb.where("vec_id % 50 = 0")
    topk = ann.cosine_topk(qv, "vec_id", "embedding", emb, "vec_id", "embedding", k=10)
    grab(
        "Exact ANN — cosine_topk (single chunk)",
        topk,
        "Corpus side: one narrow mapInPandas prefilter (tie-aware bounded "
        "candidates), NO corpus shuffle; candidates rejoin vectors and the "
        "broadcast query chunk; the rank window touches only |Q|*~2k rows. "
        "Query sets beyond query_chunk_rows run this same plan per bounded "
        "chunk (driver memory is one chunk; see cosine_topk docstring).",
    )

    from prefixtree_spark.operators import ranking, sampling

    bm_q = docs.select(
        F.col("doc_id").alias("qid"),
        F.slice(F.regexp_extract_all("text", F.lit(r"\S+"), 0), 1, 3).alias("terms"),
    ).where("doc_id % 41 = 0 AND size(terms) >= 3")
    dedup.PIN_RESULTS = False  # keep the LAZY plan (shared flag — see dedup sections)
    bm = ranking.bm25_rank(docs, "doc_id", "text", bm_q, "qid", "terms", idf="ratio")
    dedup.PIN_RESULTS = True
    grab(
        "BM25 retrieval — bm25_rank",
        bm,
        "Inverted-index retrieval: ONE tokenize+hash-agg pass builds the "
        "postings (cached — shared by the df-statistics branch and the "
        "probe), corpus stats are a 1-row broadcast, and the enriched "
        "query-term side is BROADCAST into the postings probe so the "
        "corpus never shuffles for the lookup. Scoring is one hash-agg "
        "on (query_id, doc_id); contributions are DECIMAL-cast before "
        "the sum (order-independent, cross-engine exact — oracled).",
    )

    import tempfile as _tf

    bm_path = _tf.mkdtemp(prefix="plans_bm25_") + "/idx"
    ranking.save_bm25_index(docs, "doc_id", "text", bm_path, n_buckets=16, idf="ratio")
    bms = ranking.bm25_rank_indexed(spark, bm_path, bm_q, "qid", "terms")
    grab(
        "BM25 retrieval — stored index probe (bm25_rank_indexed)",
        bms,
        "The round-9 stored layout: postings and dfreq scans carry the "
        "query terms' hash buckets as PartitionFilters (static literal-IN "
        "pruning — the measured rule) AND the term predicate as "
        "PushedFilters, so the probe reads only the queried terms' rows "
        "of bytes at rest — no corpus tokenize, no corpus shuffle; "
        "df increments merge in a term-grouped aggregate over the pruned "
        "rows. Pinned by test_bm25_indexed_prunes_buckets; identical "
        "scoring to bm25_rank via the shared _bm25_contrib expression "
        "(oracled: bm25_rank_stored, docs_ingest_bm25_sync).",
    )

    quota = sampling.top_n_per_group(docs, ["source"], 20, id_col="doc_id", seed="q3")
    grab(
        "Per-group quota — top_n_per_group",
        quota,
        "The rank-filter window compiles to WindowGroupLimit: every map "
        "task keeps only its local top-n per group BEFORE the exchange, "
        "so the shuffle carries O(n·groups·tasks) rows, not the corpus "
        "(pinned by test_top_n_per_group_hash_stable_and_plan).",
    )

    pv = relational.pivot_counts(
        events, "user_id", "event_type",
        ["click", "error", "purchase", "signup", "view"],
    )
    grab(
        "Explicit-value pivot — pivot_counts",
        pv,
        "ONE HashAggregate with a conditional accumulator per output "
        "column and exactly one Exchange — no distinct scan over the "
        "pivot column, no data-decided schema width (pinned by "
        "test_pivot_counts_single_aggregate_plan).",
    )

    rs = relational.resample_carry_forward(
        events.select("user_id", "ts", "value"),
        ts_col="ts", by_col="user_id", value_cols=["value"],
    )
    grab(
        "Time-series resample — resample_carry_forward",
        rs,
        "Grid rows come from a NARROW sequence/explode over the "
        "per-group bounds aggregate; the carry is the asof_join "
        "union+window pass — shuffles only on the group key, never a "
        "range join (oracled: events_resampled_hourly).",
    )

    # prose audits: sections whose plan property is stated (and pinned
    # by a named test or bench extra) without a full explain dump —
    # carried here so regeneration can never clobber them
    def prose(title: str, commentary: str) -> None:
        sections.append((title, commentary, None))

    prose(
        "Exact-substring dedup — duplicate_spans / remove_duplicate_spans",
        "Duplication is never a pairwise join: one HashAggregate on the window's\n"
        "md5 (`wh`) with a count≥2 filter (plus, for removal, `min(struct(\n"
        "doc_id, i))` in the SAME aggregate — the keep-first choice costs no\n"
        "extra pass), then a LeftSemi (detection) / inner+filter (removal) of\n"
        "occurrences against that key set. Verified shape (sf0.001, simple\n"
        "explain): the window branch reads ONLY `text` (column pruning), the\n"
        "per-doc joins come back LeftOuter on `doc_id`, `n_windows` is computed\n"
        "arithmetically from the token count (no aggregation), and coverage\n"
        "positions re-explode only duplicated occurrences. No UDFs — every\n"
        "stage is split/sequence/slice/md5/hash-agg inside codegen. At scale\n"
        "the small broadcast sides (dup-window keys) grow past the threshold\n"
        "and AQE swaps the semi-join to shuffle — same linearity, viral spans\n"
        "still cost occurrences, not occurrences².",
    )
    prose(
        "Semantic dedup — semantic_dedup",
        "Plan after the round-5 fix (dropDuplicates guard removed — it cost\n"
        "three corpus shuffles of SortAggregate+Exchange for a can't-fire\n"
        "condition): 3 Exchanges total — the cluster-key self-join (corpus side\n"
        "shuffles once on `cl`; at fixture size the other side broadcasts, at\n"
        "scale both shuffle), the dropped-id distinct, and the LeftAnti join\n"
        "back on `vid`. Cosine is the JVM `aggregate`/`zip_with` fold inside\n"
        "the join condition — candidate pairs stream through the join, never\n"
        "materialize. `max_cluster` fail-fasts degenerate clusterings instead\n"
        "of silently going quadratic.",
    )
    prose(
        "Semantic dedup (IVF candidates) — semantic_dedup_ivf",
        "The corpus-wide variant (r11): centroids broadcast inside the\n"
        "assignment UDF's closure (k × dim floats — never a join side); the\n"
        "posting explode multiplies the corpus by n_replicas; ONE Exchange on\n"
        "the cell key for the self-equi-join (AQE splits skewed cells), then\n"
        "the same dropped-id distinct + LeftAnti shape as semantic_dedup.\n"
        "The exact-cosine verify is the JVM fold inside the join condition —\n"
        "only cell-cohabiting pairs are ever scored (bench extras record the\n"
        "slot count vs all-pairs: 22.8M vs 364M at 27k vectors, r=2).\n"
        "No CartesianProduct / BroadcastNestedLoopJoin anywhere\n"
        "(test_semantic_dedup_ivf_plan_no_cartesian); max_cell fail-fasts\n"
        "degenerate clusterings, persisting the guarded posting set so the\n"
        "guard pass is not a second corpus trip through Python.",
    )
    prose(
        "Temperature mixing — mixture_resample",
        "One hash-agg to per-group masses (#domains rows), exact-integer rate\n"
        "computation driver-side (arbitrary-precision ints), broadcast\n"
        "map-join back, narrow md5-ppm filter: the corpus is scanned once and\n"
        "never shuffled. Single Exchange in the plan (the tiny mass agg);\n"
        "selection is a pure function of (id, seed, masses).",
    )
    prose(
        "Streaming ingest — stored-bucket rejection (ingest_batch)",
        "Verified shape (sf0.001, formatted explain of the candidate join): the\n"
        "CORPUS side is a bare `Scan parquet` of `<root>_bands/v_*` — three\n"
        "columns (doc, band, bucket), `PushedFilters` on the join keys, no\n"
        "shingle split, no xxhash64-per-shingle, no ArrowEvalPython anywhere on\n"
        "that side — the per-batch corpus recompute the side table exists to\n"
        "remove (measured 0.2s scan vs ~1s recompute at a 2.4k-doc corpus;\n"
        "ratio grows with corpus size). The BATCH side runs the full pipeline\n"
        "(shingle explode → per-shingle xxhash64 → collect_list → one Arrow\n"
        "signature UDF → band posexplode) but is O(|batch|), and it is the\n"
        "BROADCAST side of the BroadcastHashJoin on (band, bucket) — the delta\n"
        "broadcasts, the corpus bands table streams through its scan without an\n"
        "Exchange. One Exchange total in the candidate plan (the (new_id,\n"
        "corpus_id) distinct). Exact verification then semi-joins the corpus on\n"
        "candidate ids before re-shingling, so corpus text is parsed only for\n"
        "docs that share a bucket with the batch. The remaining O(corpus)\n"
        "stage is the single-column exact-text anti-join guard.",
    )
    prose(
        "SQ8 search — `cosine_topk_int8`",
        "Required shape (verified via formatted explain at sf0.01): the\n"
        "quantize step is a single `Project` of one `zip_with` expression over\n"
        "the embedding scan — whole-stage codegen, no UDF, no Exchange; it\n"
        "feeds the `MapInPandas` prefilter directly, so the quantized corpus is\n"
        "never materialized through a shuffle. The rerank joins the\n"
        "(|Q|·pad)-bounded candidate ids back to the float vectors (the only\n"
        "time the float column is read) with the query side broadcast. The one\n"
        "corpus-wide shuffle-free scan + bounded joins is the property that\n"
        "makes the 4× IO claim real at scale; `int8_scales` adds a\n"
        "(partitions × dim)-row map-side-combined posexplode max, constant in\n"
        "corpus size.",
    )
    prose(
        "Corpus data card — `corpus_report`",
        "Verified shape (sf0.01 executed plan): the narrow per-doc projection\n"
        "(token count + integer-scaled quality) folds into ONE map-side-\n"
        "combined ≤10-key hash aggregate, eagerly pinned at 10 rows; the card\n"
        "and histogram branches then read those 10 rows — the final plan shows\n"
        "0 parquet scans and 2 partial-row Exchanges. The corpus is scanned\n"
        "exactly once (in the pinning job) and never shuffled. The naive\n"
        "union-of-two-aggregates form re-scanned the corpus 4× — that is the\n"
        "regression this section exists to block. Oracled as\n"
        "`docs_corpus_report`.",
    )
    prose(
        "LM perplexity — `lm_nll`",
        "Corpus scans: one bigram explode (narrow). Aggregates C(a,b) and\n"
        "C(a) are map-side-combined on the bigram/token key — stats tables are\n"
        "vocabulary²-bounded, not corpus-bounded. The scoring join is an\n"
        "equi-join of doc-bigram occurrences against the stats table on (a, b)\n"
        "— at 100 TB the stats side is orders smaller than the corpus and AQE\n"
        "broadcast-converts it when it fits; the per-doc aggregate is again\n"
        "map-side combined. The only driver value is the vocabulary count\n"
        "scalar. Oracled as `docs_lm_nll`.",
    )
    prose(
        "Shard export — `export_shards`",
        "`shard_assign` is a pure narrow md5 projection (oracled as\n"
        "`docs_shard_manifest`); the write pays exactly ONE Exchange\n"
        "(`repartition(n_shards, shard)` — one-file-per-shard is a co-location\n"
        "requirement, the shuffle is the feature) with a sort-within-partition\n"
        "for deterministic file bytes. The manifest aggregates the WRITTEN\n"
        "files (one read-back scan of the columnar output, map-side-combined on\n"
        "≤n_shards keys) rather than re-running the input DAG — counts are\n"
        "checksum-consistent with the exported bytes by construction, and an\n"
        "expensive pipeline tail is computed once, not three times.",
    )
    prose(
        "IVF persisted index — cosine_topk_ivf_index (IVF-FLAT, r7)",
        "The warm vector path: query cells are assigned DRIVER-SIDE with the\n"
        "same `_assign_cells_np` routine the distributed UDF wraps (the batch\n"
        "is collected for the kernel broadcast anyway — one fewer Spark job),\n"
        "and the probed-cell set is pushed into the postings scan as a literal\n"
        "IN, so the FileScan carries `PartitionFilters: [cell IN (...)]`\n"
        "STATICALLY — unprobed `cell=` directories are never listed, on any\n"
        "dynamic-pruning config. Pinned by\n"
        "`test_ivf_index_probed_scan_partition_pruned`. Since r7 the postings\n"
        "are IVF-FLAT lists (full vector per row, written `repartition(n_cells,\n"
        "cell)` → one file per cell): candidates come from a masked numpy\n"
        "partial-top-k kernel over the pruned scan (per-query own-cell mask\n"
        "keeps results identical to the per-call path; pad scales with\n"
        "n_replicas so replica rows can't eat boundary-closure slots), and the\n"
        "broadcast candidate ids are exact-reranked against the SAME pruned\n"
        "scan — nothing corpus-sized outside the probed directories. The\n"
        "crossover this buys is recorded in BENCH_EXTRAS (`ivf_xover_*`):\n"
        "flat probe 0.90 s vs exact chunked matmul 2.27 s at 512k vectors,\n"
        "recall 1.0, 59/256 cells probed. Pre-flat id-only layouts keep the\n"
        "legacy broadcast-join plan.",
    )
    prose(
        "IVF-PQ — cosine_topk_ivf_pq",
        "Same probed-cell literal-IN pruning as the persisted-index path, but\n"
        "the pruned postings scan carries the STORED m-byte PQ codes, the\n"
        "MapInPandas prefilter scores candidates from reconstructions (one\n"
        "fancy-index + GEMM per Arrow batch), and the float `vectors/` table\n"
        "is joined only for the padded per-query top. Since the r7 IVF-FLAT\n"
        "layout the same posting files also carry the full vector, so the\n"
        "bytes claim is COLUMN-level: parquet columnar pruning keeps the PQ\n"
        "probe on the (vec_id, pq) column chunks — recorded deterministically\n"
        "from footer metadata in BENCH_EXTRAS (`ivf_xover_pq_col_bytes_q4` vs\n"
        "`ivf_xover_flat_col_bytes_q4`). Pinned by the lossless-composition\n"
        "and frozen-codebook append tests in tests/test_ann.py.",
    )
    prose(
        "Sparse delta maintenance — add_words / remove_words (pruned plan)",
        "A delta batch smaller than half the forest count provably touches a\n"
        "minority of forests (|touched| ≤ |words|), so the pruned plan routes\n"
        "ONLY touched forests through the Python cogroup — the untouched\n"
        "majority rides a JVM-only literal-IN filter branch of a Union and\n"
        "never crosses Arrow. Bulk deltas (a 10% vocabulary refresh hash-\n"
        "scatters across every forest) keep the one-shot cogroup with no\n"
        "extra jobs; the gate reads only a RAW delta-side count (r8: the\n"
        "distinct exchanges were dead weight — end-caps are globally unique\n"
        "and _remove is idempotent) plus the forest count, which create/\n"
        "save_index/load_index now carry as a hint (_pt_meta sidecar), so a\n"
        "hinted frame runs ZERO index-side metadata jobs per delta call (the\n"
        "r7 remove_words_delta drift). add_words routing is a pmod(hash) COLUMN\n"
        "(any deterministic pid is correct for anti-joined new words), which\n"
        "dropped the old repartition + TaskContext-tagging pass. Pinned by\n"
        "`test_sparse_pruned_plan_bypasses_python_and_matches_bulk` (exactly\n"
        "one FlatMapCoGroupsInPandas under a Union; word sets equal across\n"
        "plans).",
    )
    prose(
        "Fuzzy traversal kernel — Ukkonen band (r8)",
        "All trie-traversal strategies (driver handle, broadcast_queries,\n"
        "chunked both-big) advance DP state through the BANDED kernel when\n"
        "2k+1 < max_len+1: a (active × 2k+1) window per edge instead of\n"
        "(active × max_len+1) full rows — cProfile put 86% of traversal wall\n"
        "time in full-width extend_rows arithmetic on cells the band proves\n"
        "are > k. Banded values are ≥ true and equal wherever ≤ k, so\n"
        "pruning and hits are exact (30-trial randomized banded==full==brute\n"
        "property test, k ∈ {0,1,2,3,20}). Measured: both-big auto k=2\n"
        "58.5 → 25.9 s same-session, identical 1.8M output rows. The chunk\n"
        "loop's colocate-once repartitions carry an EXPLICIT partition count\n"
        "(AQE-coalesce house rule; two column-only sites fixed in r8).",
    )
    prose(
        "Ingest→ANN sync — sync_ivf_from_published / append_ivf_index(txn=)",
        "The vector index is a catch-up FOLLOWER of the published corpus:\n"
        "a _synced watermark bounds candidates to manifest entries past it\n"
        "(append entries contribute only their own segment dirs — per-batch\n"
        "work is O(new segments); replace/compact entries fall back to the\n"
        "live snapshot), and the append runs under the same retired-txn\n"
        "marker machinery as append_published, with per-table vec_id\n"
        "presence guards (literal-IN pruned scans for collectable deltas)\n"
        "absorbing unrecorded replays and half-applied crashes. Any crash\n"
        "point — corpus committed but index missed, vectors written but\n"
        "postings not, marker lost — replays to the same complete state\n"
        "with no duplicate rows. Pinned by tests/test_ingest_ann_pipeline\n"
        "and gated end-to-end by docs_ingest_ann_sync (full-probe == the\n"
        "greedy-survivor CTE + exact top-k SQL).",
    )
    prose(
        "ADC serving — LocalVectorIndex.search_pq (r8)",
        "The serving replica's PQ path reads ONLY the (vec_id, pq) column\n"
        "chunks of probed cells (pyarrow columnar pruning — the byte\n"
        "economics ivf_xover_pq_col_bytes_q4 records, now actual serving\n"
        "behavior), scores via per-query LUTs (m byte-lookups per row,\n"
        "reconstruction norms from per-codeword norm tables), and exactly\n"
        "reranks the padded top by a vec_id-FILTERED dataset read of just\n"
        "the candidates' float vectors. Zero-reconstruction rows stay\n"
        "candidates (the cluster kernel's rule). Cell loads (flat and code)\n"
        "go through the Arrow flat-values reshape, not to_pylist (measured\n"
        "3.12 → 0.34 s over a 61 MB probe, page-cache warm). Pinned by\n"
        "recall/exactness tests plus a structural never-loads-a-float-cell\n"
        "pin; /ann?mode=pq serves it.",
    )
    prose(
        "Filtered vector search — where= over payload_cols (r8)",
        "save_ivf_index(payload_cols=...) stores metadata beside the vectors\n"
        "in the cell-partitioned postings, so a where= predicate on the flat\n"
        "or PQ probe runs INSIDE the pruned scan: the executed plan carries\n"
        "BOTH the probed-cell PartitionFilters (literal IN) and the payload\n"
        "PushedFilters on one FileScan, the kernel scores only passing rows,\n"
        "and the result is the exact top-k OF THE FILTERED SET — a\n"
        "post-filter of unfiltered top-k silently loses recall instead.\n"
        "Payloads survive appends (live-schema derivation) and maintenance\n"
        "rebuilds. Pinned by test_ivf_filtered_search_exact_and_pushed;\n"
        "oracled as ann_topk_ivf_filtered.",
    )
    prose(
        "COW DML probe — delete_published / update_published / upsert_published",
        "One multi-path mergeSchema reader and ONE job probe the whole segment\n"
        "chain (per-segment `spark.read` calls cost a driver footer round trip\n"
        "each — 1.9 s of a 3.1 s delete at 8 segments before this): the delete\n"
        "probe keeps the predicate BELOW the nondeterministic\n"
        "`input_file_name()` tag so pushdown still prunes the scan (file stats\n"
        "prune key-range predicates on clustered layouts); the upsert probe\n"
        "tags scan-side because joins cannot evaluate input_file_name above\n"
        "two sources. Hive-partitioned chains fall back to per-segment readers\n"
        "with deterministic lit() tags (filters push through those). Rewrites\n"
        "touch only matching segments; segment-vanishes emptiness is footer\n"
        "arithmetic, not a rescan. Measured (BENCH_EXTRAS `cow_*`): 0.73 s vs\n"
        "1.09 s full rewrite at 1M rows, 76 KB of 1.03 MB rewritten.",
    )
    prose(
        "Sparse + hybrid serving — LocalSparseIndex / /sparse / /hybrid (r9)",
        "The Spark-free replica reads the SAME bucket economics the cluster\n"
        "probe plans for: each query term hashes (60-bit md5 prefix — the\n"
        "Python twin of the layout's Spark-side bucket expression, pinned\n"
        "equal on real vocabulary) to one postings/dfreq bucket directory,\n"
        "and the LAZY path reads per (bucket, TERM) through a pyarrow\n"
        "dataset filter — bucket files are written sorted by term\n"
        "(sortWithinPartitions(bucket, term); sorting by the partition\n"
        "column too, or the writer's own partition-sort scrambles the term\n"
        "order — within-file sort pinned over every file), so row-group\n"
        "statistics prune the fetch: bytes and memory bound by the served\n"
        "TERMS, never a bucket (corpus_tokens/n_buckets at scale).\n"
        "delete_bm25_ids tombstones mask results on both cluster and\n"
        "serving probes with Lucene soft-delete semantics (df stays stale\n"
        "until compaction re-exacts — oracled as bm25_rank_deleted, whose\n"
        "SQL encodes exactly that). /hybrid fuses the sparse\n"
        "ranks with a dense /ann probe by rrf_fuse_local, which decimalizes\n"
        "1/(c+rank) through the double's SHORTEST repr (what the JVM cast\n"
        "does; Decimal(float) diverges at the 18th digit on ~5% of ranks) —\n"
        "HTTP fusion == the gated hybrid_dense_sparse_rrf workload to the\n"
        "rank (pinned by test_sparse_and_hybrid_endpoints). Generation-pinned\n"
        "handles + watch_bm25_index give the sparse side the same\n"
        "load-then-flip hot reload as the tree and vector indexes.",
    )
    prose(
        "Quality classifier scoring — score_quality",
        "Map-only by construction: RegexTokenizer + HashingTF + the logistic\n"
        "model are per-row JVM transforms with broadcast coefficients — the\n"
        "scored plan contains NO Exchange (pinned by\n"
        "`test_scoring_plan_is_map_only`), so the filter pipelines into\n"
        "whatever corpus scan feeds it. Training is bounded (labeled sample),\n"
        "never the scale problem.",
    )

    out = ["# PLANS — physical-plan audit of headline operators", ""]
    out.append(
        "Generated by `tools/dump_plans.py` (re-run after plan-affecting "
        "changes). Each section states the property the plan must keep "
        "and which test pins it. Sections without a plan block are prose "
        "audits of shapes verified by named tests/bench extras.\n"
    )
    for title, commentary, plan in sections:
        out.append(f"## {title}\n")
        out.append(commentary + "\n")
        if plan is not None:
            out.append("```")
            out.append(plan.strip())
            out.append("```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
