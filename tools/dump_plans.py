"""Regenerate PLANS.md: formatted physical plans for the flagship queries,
with the properties the plans must exhibit (broadcast-only joins, pushdown,
no cartesian products) asserted, not just eyeballed.

Usage: python tools/dump_plans.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from log_analysis_system_spark.session import get_spark  # noqa: E402

SHOW = [
    ("endpoint_stats", "flagship agg (A2/S11): one shuffle, partial agg map-side"),
    ("enriched_status_counts", "broadcast dim enrichment (J1/J2): no fact-side shuffle for the join"),
    ("suspicious_ips", "semi-join-first detector: dim filter BEFORE the sort-aggregate"),
    ("turns_per_conversation", "per-conversation window over (conv_id, turn_idx)"),
    ("dedup_minhash_lsh", "LSH bucket self-join + verify (no all-pairs product)"),
    ("dedup_ngram_jaccard", "shingle equi-join behind a checkpoint barrier: "
     "one tokenize/shingle pass, no HOF re-substitution into filters"),
    ("ann_topk_cosine", "broadcast queries x corpus scan + per-query window top-k"),
    ("sequence_pack", "distributed prefix sum: range partition -> local running "
     "sum -> broadcast per-partition offsets (no global-order window)"),
    ("asof_error_click", "as-of join as union-tag + running-last: one shuffle, "
     "NO join operator"),
    ("range_follow_counts", "inequality join rewritten as 2-bucket equi-join + "
     "residual filter"),
    ("session_stats", "sessionize window + rollup: groupBy reuses the window's "
     "hash partitioning (one exchange total)"),
    ("tpch_shipping_priority", "star join: selective dim broadcast into orders, "
     "fact join on orderkey, grouped top-10 via WindowGroupLimit"),
    ("dedup_incremental", "cross-corpus LSH: new-side x corpus-side band-bucket "
     "join (no self-join), exact-Jaccard verify on candidates only"),
    ("decontamination", "probe (benchmark) shingles broadcast into the corpus "
     "scan; corpus never shuffles before the matching-pair partial agg"),
    ("knn_label_agreement", "pluggable neighbor source (exact here, ANN at "
     "scale); downstream is one label join + grouped vote"),
    ("lm_unigram_score", "vocab-sized frequency model joined back on the "
     "token key; 1-row total broadcast; decimal order-free sum"),
    ("tpch_local_supplier_volume", "Q5 shape: tiny-dim broadcast reduction "
     "chain + one orderkey shuffle join + broadcast supplier residual"),
    ("tpch_forecast_revenue", "Q6 shape: all three predicates pushed to the "
     "parquet scan, join-free single partial-agg reduction"),
    ("boilerplate_shares", "corpus-frequent k-gram screen: 8-byte hash "
     "shuffle keys, frequent set joined back (AQE broadcast when small)"),
    ("funnel_stages", "strict-ordered funnel: per-stage min-aggregates over "
     "disjoint event_type slices, user_id-keyed stitch joins"),
    ("tpch_large_volume_customers", "Q18 shape: HAVING on the fact rollup "
     "drives the joins (aggregate-driven semi-join), WindowGroupLimit top-n"),
    ("tpch_promo_revenue", "Q14 shape: conditional aggregation over a "
     "fact<->dim partkey join, single reduction"),
    ("embedding_quantization", "per-dim range partial-agg -> dim-bounded "
     "collect broadcast -> row-local quantize/error HOFs"),
    ("multimodal_audio_features", "Arrow-batched WAV decode: bytes stream "
     "executor-side, mapInPandas feature extraction"),
    ("conv_skew_profile", "hot-key diagnostic: counts-only shuffle, 1-row "
     "totals broadcast, WindowGroupLimit top-n"),
    ("endpoint_method_rollup", "grouping-sets Expand collapsed map-side "
     "into one partial-aggregating exchange"),
    ("snapshot_diff", "CDC diff: (key, md5) projections below both "
     "exchanges — payloads never cross the shuffle"),
    ("tpch_order_priority", "Q4 shape: quarter-filtered orders LEFT SEMI "
     "probe lineitem; correlated date predicate rides the equi-join"),
    ("tpch_no_recent_orders", "Q22 shape: 1-row avg-balance broadcast + "
     "LEFT ANTI join against the date-filtered recent-order key set"),
    ("traffic_status_pivot", "PIVOT with explicit values: no distinct-value "
     "discovery pass; both agg exchanges carry only cells"),
    ("ip_overlap_sets", "INTERSECT -> LEFT SEMI / EXCEPT -> LEFT ANTI over "
     "map-side-distinct inputs behind one pruned parse checkpoint"),
    ("traffic_sliding", "sliding windows: constant x4 expansion before the "
     "partial agg (not a self-join)"),
    ("salted_dim_join", "skew-defused join: (conv_id, _salt) composite key, "
     "dim exploded x buckets"),
    ("multimodal_video_features", "Arrow-batched strided frame sampling "
     "over binary clips"),
    ("doc_chunks", "RAG chunking: posexplode over stride starts + slice of "
     "ONE materialized token array — generator only, zero shuffle"),
    ("temperature_mixture", "T=2 mixture reweighting: one partial-agg "
     "shuffle to (source,lang); every window runs on the few-row aggregate"),
    ("conversation_context", "context assembly: bounded ROWS frame "
     "(K PRECEDING..1 PRECEDING) — one conv_id shuffle, O(K) row state"),
    ("span_dedup", "span-level dedup: 60-bit span hashes BEFORE the "
     "shuffle (8-byte keys, never span text); dup set is a partial-agg, "
     "join back on the same hash"),
    ("token_budget_sample", "greedy per-source budget: one source "
     "shuffle + ordered window sum over 4 scalar columns"),
    ("kmeans_clusters", "final Lloyd assignment: k centroids inlined as "
     "LITERALS — join-free single scan (updates ran as (cluster,dim) "
     "partial aggs)"),
    ("cluster_balanced_sample", "per-cluster quota: one cluster shuffle "
     "of 3 scalar columns + rank window over the k-means assignment"),
    ("cluster_purity", "(cluster,label) cells then k-row majority "
     "reduction; struct-max tie-break"),
    ("semdedup", "within-cluster cosine dedup: pair join equi-keyed on "
     "cluster (sum-over-clusters quadratic, never corpus²); dup ids "
     "return via a vec_id join, no corpus broadcast"),
    ("dsir_weights", "both bucket models from ONE scan; <=256-row model "
     "broadcast into the token stream; corpus shuffles once on doc_id"),
    ("gopher_rules", "rule battery: pure row-local codegen scan — zero "
     "shuffles, zero joins"),
    ("ccnet_buckets", "tercile cutpoints = langs x 2 partial agg "
     "broadcast back; bucket is a row-local CASE — no per-lang window"),
    ("token_kl_drift", "one scan to (source,bucket) cells; marginal "
     "re-aggregates the cells; broadcast-only joins over <=256-row "
     "frames"),
    ("corpus_shards", "shard plan: one hash partition on shard_id + "
     "per-shard rank/prefix-sum window — no global sort"),
    ("bpe_pair_counts", "BPE merge-step stats: corpus reduces to vocab "
     "first; pair explosion is vocab-sized, not corpus-sized"),
    ("token_entropy", "per-doc entropy: (doc,token) partial agg -> doc "
     "rollup with a doc-bounded count-vector fold; no joins"),
    ("contrastive_pairs", "one labeled pass over the cluster-bounded "
     "pair frame + a (label, id_a) rank window — pair dots computed "
     "once"),
    ("split_leakage", "LSH pair stream joined twice on doc_id to the "
     "(doc_id, split) frame; corpus scanned only by the pair stage"),
    ("dup_cluster_sizes", "label-propagation components then two "
     "partial aggs: canonical sizes -> size histogram"),
    ("dup_canonical_docs", "components + ONE cluster-keyed struct-max "
     "argmax agg (longest member wins) — no corpus window, no global "
     "sort"),
    ("cross_source_dup_rates", "verified pair stream + two 8-byte "
     "source lookups on doc_id + sources^2-key partial agg"),
    ("lm_bigram_score", "row-local zip_with bigrams -> (w1,w2)-keyed "
     "model agg -> scoring join on the bigram key; 1-row vocab frame "
     "broadcast (the allowlisted BNLJ)"),
    ("source_cap_sample", "domain-cap: ONE source-key shuffle shared by "
     "both window passes (rank + pre-cap count); only (doc_id, source, "
     "pri) shuffles, never text"),
    ("dsir_sample", "E-S weighted sampling: dsir model broadcast, then "
     "TakeOrderedAndProject (distributed top-n) — NO global sort node"),
    ("vocab_growth", "term-keyed first-shard agg (vocab-sized, partial "
     "map-side) + n_shards-row cumulative window"),
    ("winnowing_fingerprints", "doc-local rolling-MIN window over packed "
     "(hash,pos) DECIMAL keys; one doc_id shuffle of scalar rows"),
    ("winnow_overlap", "sparse-sketch equi-join on the winnowed 60-bit "
     "hash (2/(w+1) sample of grams) + doc-keyed size agg"),
    ("signal_correlations", "exact-moment Pearson: one row-local scan + "
     "one global partial agg; pair explosion on the 1-row aggregate"),
    ("zipf_fit", "vocab agg -> TakeOrdered top-K head -> K-row window + "
     "tiny moment agg; no global sort"),
    ("retention_cohorts", "(user,week) partial distinct is the only "
     "event-volume stage; cells-only window for the rate"),
    ("ewma_traffic", "sequential-state EWMA: (type,hour) partial agg "
     "feeds FlatMapGroupsInPandas on cells-per-group series"),
    # session-4 TPC-H completion representatives (EXTRA_QUERIES)
    ("tpch_waiting_suppliers", "Q21 rewrite: ONE fact shuffle join "
     "(finalized orders x lines) -> (order,supp) partial agg -> order "
     "rollup -> only-late filter join of two order-bounded frames; "
     "regional supplier dim broadcast last — no fact self-join"),
    ("tpch_product_profit", "Q9 shape: part+supplier+nation broadcast "
     "star into the fact scan; orderkey shuffle only for the year; "
     "(nation, year) partial agg"),
]

BAD = re.compile(r"CartesianProduct|BroadcastNestedLoopJoin")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as e

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    from log_analysis_system_spark.queries_tpch import EXTRA_QUERIES

    qs = {**e.queries(), **EXTRA_QUERIES}
    print("# PLANS — physical-plan evidence for the flagship queries")
    print()
    print("Generated by `python tools/dump_plans.py` (Spark "
          f"{spark.version}, AQE on). Checked properties: joins are "
          "broadcast-hash only (except the deliberate broadcast-nested-loop "
          "in the ANN cartesian scorer), no CartesianProduct, filters reach "
          "the scans.")
    for name, why in SHOW:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        allow_bnlj = name in (
            "ann_topk_cosine", "knn_label_agreement", "lm_unigram_score",
            # 1-row broadcast build sides (dim ranges / global range / totals)
            "embedding_quantization", "value_histogram", "conv_skew_profile",
            "tpch_no_recent_orders", "ccnet_buckets", "token_kl_drift",
            "lm_bigram_score",
        )
        if BAD.search(plan) and not allow_bnlj:
            raise SystemExit(f"unexpected join strategy in {name}:\n{plan}")
        # keep the tree + the scan/pushdown nodes; drop verbose attribute lists
        tree, _, details = plan.partition("\n\n")
        keep = [
            blk for blk in details.split("\n\n")
            if blk.startswith("(") and (
                "Scan" in blk.splitlines()[0]
                or "Join" in blk.splitlines()[0]
                or "Exchange" in blk.splitlines()[0]
            )
        ]
        print(f"\n## {name}\n\n{why}\n")
        print("```")
        print(tree.strip())
        for blk in keep:
            print()
            print("\n".join(blk.splitlines()[:8]))
        print("```")
    spark.stop()


if __name__ == "__main__":
    main()
