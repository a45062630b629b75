"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (grok-parse the transcript payload
derived from events, then the per-endpoint performance report — the
reference's ``database.py:322-363`` / ``performance.py:60-74`` semantics).

``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with a DuckDB oracle over the shared parquet views.

The first 50 entries of ``queries()`` are ``_DRIVER_WINDOW``, in its order:
the driver's correctness gate checks only those. Every other query stays
registered and is checked by ``tools/check_correctness.py`` and pytest.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from log_analysis_system_spark.queries_log import ORACLES as _LOG_ORACLES
from log_analysis_system_spark.queries_log import QUERIES as _LOG_QUERIES

# First 50 = the driver's correctness window (see module docstring).
_DRIVER_WINDOW = [
    #   transcript front door + parse
    "transcripts_roundtrip",
    "parsed_turns_pandas",
    "format_detection",
    #   performance aggregates (A1-A10, A15-A16, S10-S11)
    "status_counts",
    "overall_response_stats",
    "slow_endpoints",
    "performance_metrics",
    "overall_error_rate",
    "error_endpoints",
    "traffic_hourly",
    "peak_traffic",
    "error_rate_5min",
    "timeframe_logs",
    "error_timeframe_logs",
    "endpoint_stats_timeframe",
    "daily_summary",
    #   security detectors (J1-J4, A11-A13)
    "brute_force",
    "suspicious_ips",
    "unusual_methods",
    #   anomaly (W1)
    "zscore_anomalies",
    "per_conv_zscore",
    #   transcript windows / skew / enrichment
    "turns_per_conversation",
    "tool_invocations",
    "turn_gaps",
    "turn_ordering_check",
    "conversation_alert_rates",
    "salted_turn_counts",
    "pii_redaction",
    "enriched_status_counts",
    "enriched_role_counts",
    #   dedup + ANN exact baselines
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_components",
    "ann_topk_cosine",
    "ann_topk_cosine_np",
    "ann_ivf_fullprobe",
    #   TPC-H completion shapes
    "tpch_volume_shipping",
    "tpch_market_share",
    "tpch_product_profit",
    "tpch_returned_items",
    "tpch_important_parts",
    "tpch_top_supplier",
    "tpch_parts_suppliers",
    "tpch_small_qty_revenue",
    "tpch_discounted_revenue",
    "tpch_min_cost_supplier",
    "tpch_dominant_suppliers",
    "tpch_waiting_suppliers",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _LOG_QUERIES["endpoint_stats"](spark, "/root/testdata/sf0.001")


def _merged_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(_LOG_QUERIES)
    for mod in ("queries_data", "queries_events", "queries_tpch", "queries_checks"):
        try:
            m = __import__(f"log_analysis_system_spark.{mod}", fromlist=["QUERIES"])
            out.update(m.QUERIES)
        except ImportError:
            pass
    return out


def _reorder(d: dict, require_all: bool = True) -> dict:
    # hard-fail on a missing window entry: a silent ImportError in a query
    # module would otherwise SHIFT the driver's first-50 window and change
    # which queries get correctness rows. oracle_sql() passes
    # require_all=False: an oracle-less sketch query may sit in the window
    # (tests/test_registry.py names the two allowed).
    missing = [n for n in _DRIVER_WINDOW if n not in d]
    if missing and require_all:
        raise RuntimeError(f"driver-window queries missing from registry: {missing}")
    front = {n: d[n] for n in _DRIVER_WINDOW if n in d}
    rest = {n: v for n, v in d.items() if n not in front}
    return {**front, **rest}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _reorder(_merged_queries())


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(_LOG_ORACLES)
    for mod in ("queries_data", "queries_events", "queries_tpch", "queries_checks"):
        try:
            m = __import__(f"log_analysis_system_spark.{mod}", fromlist=["ORACLES"])
            out.update(m.ORACLES)
        except ImportError:
            pass
    return _reorder(out, require_all=False)
