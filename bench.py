"""Benchmark driver: headline queries + end-to-end pipeline at one SF.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "turns": N,
   "turns_per_sec": N, "cpus": N}

Env:
  SPARK_GRAFT_SF_DIR  input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] cores (default all)
  BENCH_QUERIES       comma-separated subset (default: headline set)
  BENCH_REPEAT        timed repetitions per query (default 2, best-of)

Timing protocol: each query is built lazily, then forced with the noop sink
(`format("noop")`) so we measure scan + compute + shuffle, not collect or
parquet-encode.  The pipeline run measures real sink writes (that IS its job).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from log_analysis_system_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "parsed_turns",            # grok parse (SQL-native path)
    "parsed_turns_pandas",     # grok parse (Arrow pandas-UDF path)
    "endpoint_stats",          # flagship agg (reference database.py:322-363)
    "security_events",         # 5-detector union
    "ip_threat_scores",        # weighted score agg
    "traffic_hourly",          # tumbling window
    "turns_per_conversation",  # per-conv window agg
    "rolling_traffic_anomalies",  # window-frame rolling bands
]
DATA_HEADLINE = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "ann_topk_cosine",
    # round-2 additions (per-query times comparable across rounds; the
    # TOTAL is not — the headline set grew)
    "pii_redaction",
    "sequence_pack",
    "session_stats",
    "tpch_shipping_priority",
    # round-3 additions (totals stay non-comparable across rounds; per-query
    # times are the cross-round signal)
    "decontamination",
    "boilerplate_shares",
    "tpch_forecast_revenue",
    "conv_skew_profile",
    "snapshot_diff",
    "tpch_order_priority",
    # round-4 additions (same rule: per-query times are the cross-round
    # signal, totals are not comparable once the set grows)
    "span_dedup",
    "token_budget_sample",
    "kmeans_clusters",
    "semdedup",
    "dsir_weights",
    "gopher_rules",
    "corpus_shards",
    "bpe_pair_counts",
    "token_entropy",
    "contrastive_pairs",
    "split_leakage",
    "dup_cluster_sizes",
    # round-4 continuation: bigram-LM fluency (the heaviest new compute
    # shape — bigram-keyed model join); canonical selection and the
    # cross-source matrix ride the already-benched components/pair frames
    "lm_bigram_score",
    # round-4 late additions: winnowing is the new heavy compute shape
    # (positional gram hash + rolling-MIN windows); dsir_sample adds the
    # TakeOrdered top-n over the dsir model pipeline. source_cap /
    # vocab_growth / winnow_overlap ride already-benched shapes (window
    # rank over scalar keys; term-keyed agg; sparse equi-join).
    "winnowing_fingerprints",
    "dsir_sample",
    # round-4 session-4: two representatives of the 13-shape TPC-H
    # completion (driver-registered since round 5's promotion — see
    # queries_tpch.PROMOTED). waiting_suppliers is the heaviest new
    # join topology (fact shuffle join + two staged re-aggregations +
    # only-late filter); product_profit the widest broadcast star
    # (part+supplier+nation broadcast into the fact scan, orderkey
    # shuffle for the year).
    "tpch_waiting_suppliers",
    "tpch_product_profit",
    # round-5: three more of the newly driver-registered TPC-H completion
    # shapes — the remaining distinct join topologies of the promotion:
    # Q2's correlated min-cost subquery (part->partsupp-analog via
    # supplier/nation/region dims), Q8's two-nation market-share
    # conditional agg over a 6-table star, Q16's count-distinct
    # supplier rollup with an anti-joined complaint filter.
    "tpch_min_cost_supplier",
    "tpch_market_share",
    "tpch_parts_suppliers",
]


def _force(df) -> int:
    """Execute the full plan; return row count via a cheap count on top."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    # best-of-2 default: this box shows noisy-neighbor windows (identical
    # runs measured 2-10x apart); the floor is the reproducible number
    repeat = int(os.environ.get("BENCH_REPEAT", "2"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # clean-window protocol (BASELINE.md / tools/hostprobe.py): record the
    # host-contention probe alongside the numbers, and buy one extra
    # best-of trial when the window is contended so the floor has a better
    # chance of catching a clean slice.
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
        from hostprobe import probe as _host_probe

        host = _host_probe()
    except Exception:  # noqa: BLE001
        host = {"efficiency": None, "clean": None}
    if host.get("clean") is False:
        repeat = max(repeat, 3)

    import __spark_entry__ as entrymod
    from log_analysis_system_spark.queries_tpch import EXTRA_QUERIES

    # registry + the extra TPC-H suite (benchable, not driver-registered)
    registry = {**entrymod.queries(), **EXTRA_QUERIES}
    names = [q for q in HEADLINE + DATA_HEADLINE if q in registry]
    if os.environ.get("BENCH_QUERIES"):
        names = [q.strip() for q in os.environ["BENCH_QUERIES"].split(",")]
        unknown = [q for q in names if q not in registry]
        if unknown:
            sys.stderr.write(
                f"unknown BENCH_QUERIES {unknown}; known: {sorted(registry)}\n"
            )
            sys.exit(2)

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + Arrow path once so q1 doesn't pay session startup.
    registry[names[0]](spark, sf_dir).limit(1).count()

    # Per-query probe-gated best-of-N (the scaling_trial_once.py protocol
    # adopted for the headline bench): each query carries its OWN window
    # probe so a contended slice mid-run flags only the queries it touched.
    # A contended per-query window buys one extra best-of trial — the floor
    # then usually catches a clean slice; the flag records it either way.
    try:
        from hostprobe import probe as _probe_fn
    except Exception:  # noqa: BLE001
        _probe_fn = None

    timings: dict[str, float] = {}
    query_probes: dict[str, dict] = {}
    for name in names:
        q_probe = _probe_fn() if _probe_fn else {"efficiency": None, "clean": None}
        q_repeat = repeat + (1 if q_probe.get("clean") is False else 0)
        best = float("inf")
        for _ in range(q_repeat):
            t0 = time.perf_counter()
            _force(registry[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        query_probes[name] = {
            "efficiency": q_probe.get("efficiency"),
            "clean": q_probe.get("clean"),
            "trials": q_repeat,
        }

    # End-to-end pipeline: parse -> enrich -> route -> aggregate with real
    # sink writes + state table (the north-rule headline metric).
    from log_analysis_system_spark.pipeline import run_pipeline
    from log_analysis_system_spark.queries_log import load_transcripts

    transcripts = load_transcripts(spark, sf_dir)
    n_turns = transcripts.count()
    # best-of-2: this box shows noisy-neighbor windows (identical runs
    # measured 2x apart); the floor is the reproducible number
    p_probe = _probe_fn() if _probe_fn else {"efficiency": None, "clean": None}
    p_repeat = max(2, repeat) + (1 if p_probe.get("clean") is False else 0)
    pipeline_sec = float("inf")
    for i in range(p_repeat):
        out = tempfile.mkdtemp(prefix="bench_pipeline_")
        try:
            t0 = time.perf_counter()
            run_pipeline(spark, transcripts, out, run_id=f"bench{i}", resume=False)
            pipeline_sec = min(pipeline_sec, time.perf_counter() - t0)
        finally:
            shutil.rmtree(out, ignore_errors=True)
    timings["pipeline_e2e"] = round(pipeline_sec, 4)
    query_probes["pipeline_e2e"] = {
        "efficiency": p_probe.get("efficiency"),
        "clean": p_probe.get("clean"),
        "trials": p_repeat,
    }

    total = round(sum(timings.values()), 4)
    print(json.dumps({
        "metric": "headline queries + e2e parse->route->aggregate pipeline wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "turns": n_turns,
        "turns_per_sec": round(n_turns / pipeline_sec, 1),
        "cpus": int(cpus) if cpus else os.cpu_count(),
        "host_probe_efficiency": host.get("efficiency"),
        "host_window_clean": host.get("clean"),
        "bench_repeat": repeat,
        "query_probes": query_probes,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
