"""Plan discipline over the WHOLE query registry.

Every registered query's physical plan is checked for the properties the
100 TB design depends on (SURVEY §4): no accidental cartesian products,
nested-loop joins only where a tiny frame is deliberately broadcast
(scalar thresholds, the ANN query set, pair scorers), and predicate
pushdown reaching the parquet scan where a filter exists. Catches the
classic silent regression where an innocent-looking change (a cast on a
join key, a lost broadcast hint) turns a bucket join into an all-pairs
product that only explodes at scale.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

# Deliberate broadcast-nested-loop joins: a small/1-row build side joined
# without an equality (scalar quantile thresholds, global stats, the ANN
# query set, verified pair scorers). Fine at any scale BECAUSE the build
# side is bounded; everything else must be hash/sort-merge/broadcast-hash.
BNLJ_ALLOWED = {
    "ann_topk_cosine",        # broadcast query set x corpus scan
    "dedup_embedding_cosine", # pair scorer: vec_id < vec_id, one side broadcast
    "peak_traffic",           # traffic > its own 0.95-quantile scalar
    "zscore_anomalies",       # global mu/sigma scalar join
    "per_conv_zscore",        # global fallback stats scalar join
    "iqr_anomalies",          # q25/q75 scalar join
    "rolling_traffic_anomalies",  # global-mean fallback scalar join
    "daily_summary",          # single-row summary assembled from scalars
    "overall_response_stats",
    "overall_error_rate",
    "tfidf_top_terms",        # 1-row corpus-size frame broadcast into idf
    "vocab_top_terms",        # 1-row total-token frame broadcast into shares
    "lm_unigram_score",       # 1-row total-token frame broadcast into -ln(p)
    "lm_bigram_score",        # 1-row vocab-size frame broadcast into -ln(p)
    "ccnet_buckets",          # inherits lm_unigram_score's 1-row total frame
    "token_kl_drift",         # 1-row grand-total frame broadcast into KL terms
    "embedding_quantization", # 1-row dim-range arrays broadcast into quantize
    "value_histogram",        # 1-row global-range frame broadcast into binning
    "conv_skew_profile",      # 1-row (total, n_keys) frame broadcast onto top-n
    "tpch_no_recent_orders",  # 1-row avg-balance scalar broadcast (Q22 shape)
    "tpch_important_parts",   # 1-row nation-total scalar threshold (Q11 HAVING
                              # sum > fraction * global sum)
    # (knn_label_agreement removed: its default neighbor source is now the
    # mapInPandas blocked matmul — no BNLJ in the plan — plus a size guard
    # that refuses the all-pairs default above 100k rows)
    # invariant-check wrappers: 1-row verdict aggregates joined conditionless
    # (plus the BNLJ shapes inherited from the operators they gate)
    "dedup_embedding_lsh_check",
    "ann_lsh_check",
    "ann_ivf_check",
}

CARTESIAN = re.compile(r"CartesianProduct")
BNLJ = re.compile(r"BroadcastNestedLoopJoin")


def _plan(spark, name, fn):
    df = fn(spark, SF)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def registry():
    return entry.queries()


def test_no_cartesian_products_anywhere(spark, registry):
    offenders = {}
    for name, fn in registry.items():
        plan = _plan(spark, name, fn)
        if CARTESIAN.search(plan):
            offenders[name] = plan.splitlines()[0]
    assert not offenders, f"cartesian products in: {sorted(offenders)}"


def test_nested_loop_joins_only_where_deliberate(spark, registry):
    offenders = []
    for name, fn in registry.items():
        if name in BNLJ_ALLOWED:
            continue
        plan = _plan(spark, name, fn)
        if BNLJ.search(plan):
            offenders.append(name)
    assert not offenders, (
        f"unexpected BroadcastNestedLoopJoin in: {offenders} — "
        "either a join lost its equality predicate or the allowlist is stale"
    )


def test_dim_enrichment_uses_broadcast_hash_join(spark, registry):
    for name in ("enriched_status_counts", "enriched_role_counts"):
        plan = _plan(spark, name, registry[name])
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast join"
        assert not BNLJ.search(plan)


def test_parquet_scan_pushdown_where_possible(spark, registry):
    """The ANN query-set restriction (vec_id < N) reads a raw parquet
    column, so it must reach the scan as a pushed filter. (Most log-side
    queries filter parse-DERIVED columns — pushdown is impossible there by
    construction; see the next test for their property.)"""
    plan = _plan(spark, "ann_topk_cosine", registry["ann_topk_cosine"])
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "LessThan(vec_id" in pushed


def test_tpch_q6_pushes_all_three_predicates_to_scan(spark, registry):
    """Q6 is THE pushdown query: shipdate range, discount band, and
    quantity cap all filter raw parquet columns, so every one must appear
    in PushedFilters (a scan reading all rows to filter in the engine is
    the wrong plan at 100 TB), and the plan must stay join-free."""
    plan = _plan(spark, "tpch_forecast_revenue",
                 registry["tpch_forecast_revenue"])
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    for frag in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                 "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
                 "LessThan(l_quantity"):
        assert frag in pushed, f"Q6 predicate not pushed: {frag}"
    assert "Join" not in plan


def test_registry_fanout_queries_leave_no_sql_cache(spark, registry):
    """Fan-out queries share their parse via lazy localCheckpoint (blocks
    freed by the ContextCleaner on GC), never bare .persist() — repeated
    registry invocations in a long-lived session must not accumulate SQL
    CacheManager entries that only an explicit unpersist would release."""
    for _ in range(2):
        for name in ("security_events", "ip_threat_scores"):
            registry[name](spark, SF).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "registry query leaked a .persist() into the SQL CacheManager"
    )


def test_dedup_plans_have_no_per_group_arrays(spark, registry):
    """Dedup never materializes a per-group array: a degenerate hash group
    (one doc duplicated 10^8 times) must stay O(1)-state per group through
    the aggregate, so collect_list/collect_set are banned from every dedup
    plan (the skew-safe shape is groupBy-min + join back)."""
    for name in ("dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
                 "dedup_simhash", "dedup_components"):
        plan = _plan(spark, name, registry[name])
        assert "collect_list" not in plan and "collect_set" not in plan, (
            f"{name} materializes a per-group array"
        )


def test_funnel_plan_has_no_per_user_sequences(spark, registry):
    """The funnel must keep O(1) aggregate state per user: sort_array /
    collect_list formulations blow up on hot users (10^8 events), so the
    plan may contain only min-aggregates and user_id-keyed joins."""
    plan = _plan(spark, "funnel_stages", registry["funnel_stages"])
    for banned in ("collect_list", "collect_set", "sort_array"):
        assert banned not in plan, f"funnel materializes per-user arrays ({banned})"
    assert not BNLJ.search(plan) and not CARTESIAN.search(plan)


def test_filtered_parse_queries_avoid_codegen_blowup(spark, registry):
    """Filtering a parse-DERIVED column below a SQL-engine parse projection
    substitutes the whole regex cascade into one unsplittable boolean —
    blowing the 64KB whole-stage-codegen method limit (janino fallback to
    interpreted) and re-running the regexes per row. The two affected
    queries route through a pushdown BARRIER instead: the Arrow pandas-UDF
    parse (endpoint_stats_timeframe) or a lazy localCheckpoint
    (conversation_alert_rates). Regression = the parse regexes reappear in
    the optimized plan."""
    p = _plan(spark, "endpoint_stats_timeframe",
              registry["endpoint_stats_timeframe"])
    assert "ArrowEvalPython" in p, "lost the Arrow parse barrier"
    assert "regexp_extract" not in p

    p = _plan(spark, "conversation_alert_rates",
              registry["conversation_alert_rates"])
    assert "ExistingRDD" in p, "lost the localCheckpoint barrier"
    assert "regexp_extract" not in p, (
        "parse cascade inlined per union branch again"
    )


def test_shingle_pipelines_never_inline_the_tokenizer(spark, registry):
    """Higher-order functions run interpreted and inline their argument
    subtree into the lambda — a split(text) reaching a shingle/minhash
    lambda re-splits the document per element per gram slot (O(words^2·k)).
    Constraint inference (size(ts) > 0 from Generate, isnotnull(size(ts))
    from joins) can re-substitute the expression below the token projection,
    so the shingle frame must sit behind a localCheckpoint barrier in every
    multi-consumer dedup plan. Regression = split( inside a lambdafunction
    anywhere in the plan (measured 13.7 s -> 1.5 s at sf0.1 for ngram)."""
    for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash"):
        p = _plan(spark, name, registry[name])
        assert not re.search(r"lambdafunction[^\n]*split\(", p), (
            f"{name}: tokenizer inlined into an interpreted HOF lambda"
        )
        assert "ExistingRDD" in p, f"{name}: lost the shingle barrier"


def test_dim_frames_are_memoized_per_session(spark):
    """createDataFrame pays a Python->JVM round trip per call; the three
    tiny dim frames are memoized per (SparkContext, name) so repeated enrich
    calls reuse one frame."""
    from log_analysis_system_spark.sources import dims

    assert dims.status_dim(spark) is dims.status_dim(spark)
    assert dims.role_dim(spark) is dims.role_dim(spark)


def test_list_built_tables_plan_as_local_tables(spark, monkeypatch):
    """The role/tool/status dims, the suspicious-IP dim and the state rows
    are JVM ``LocalTableScan``s even with Arrow off: a pickled Python RDD
    (``Scan ExistingRDD``) starts Python workers in every query that
    reads it. Each table keeps its column types and rows."""
    from pyspark.sql.types import DataType

    from log_analysis_system_spark import state as st
    from log_analysis_system_spark.config import DEFAULT_CONFIG, STATUS_DESCRIPTIONS
    from log_analysis_system_spark.functions.parse import parse_transcripts
    from log_analysis_system_spark.operators import security as sec
    from log_analysis_system_spark.queries_log import load_transcripts
    from log_analysis_system_spark.sources import catalog, dims

    def physical(df):
        return spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(arrow)
    spark.conf.set(arrow, "false")
    dims._context_dims.cache_clear()
    try:
        parsed = parse_transcripts(load_transcripts(spark, SF))
        written = []
        monkeypatch.setattr(
            catalog, "write_table", lambda df, *a, **kw: written.append(df)
        )
        state_rows = [("r1", "route", 0, 5, "done", 7),
                      ("r1", "aggregate", -1, 9, "done", 8)]
        st.append_state(spark, "unused", state_rows)
        for df in (dims.enrich(parsed), sec.suspicious_ip_events(parsed), written[0]):
            plan = physical(df)
            assert "LocalTableScan" in plan
            assert "ExistingRDD" not in plan

        expected = [
            (dims.role_dim(spark),
             "role string, role_class string, role_weight bigint", dims.ROLE_DIM),
            (dims.tool_dim(spark),
             "tool string, tool_family string, is_sensitive boolean", dims.TOOL_DIM),
            (dims.status_dim(spark), "status bigint, status_description string",
             list(STATUS_DESCRIPTIONS.items())),
            (sec.suspicious_ip_dim(spark), "ip_address string",
             [(ip,) for ip in DEFAULT_CONFIG.suspicious_ips]),
            (written[0], st.STATE_SCHEMA, state_rows),
        ]
        for df, schema, rows in expected:
            if isinstance(schema, str):
                schema = DataType.fromDDL(schema)
            assert df.schema == schema
            assert sorted(tuple(r) for r in df.collect()) == sorted(rows)
    finally:
        spark.conf.set(arrow, prior)
        dims._context_dims.cache_clear()


def test_timeframe_filter_runs_before_shuffle(spark, registry):
    """ts_parsed comes out of the parse projection, so the timeframe
    predicate cannot reach the scan — but Catalyst must still place it
    BELOW every exchange (filter-then-shuffle, not shuffle-then-filter).
    In formatted-explain trees children print after parents, so the Filter
    node appearing after all Exchange nodes == it executes first."""
    plan = _plan(spark, "timeframe_logs", registry["timeframe_logs"])
    tree = plan.partition("\n\n")[0]
    # formatted-plan node ids increase toward the root: Filter (7) below
    # Exchange (10) means the predicate runs before the orderBy shuffle.
    # (An Exchange BELOW the filter is fine — the transcript renderer's
    # own window shuffle is upstream of where ts_parsed first exists.)
    filter_ids = [int(m.group(1)) for m in re.finditer(r"Filter \((\d+)\)", tree)]
    exchange_ids = [int(m.group(1)) for m in re.finditer(r"Exchange \((\d+)\)", tree)]
    assert filter_ids and exchange_ids
    assert min(filter_ids) < max(exchange_ids), (
        "timeframe predicate should execute below the final sort exchange"
    )
