"""Security analyzer operators.

Spark-first re-expression of ``/root/reference/src/analyzers/security.py``.
The reference's ``iterrows`` loops (security.py:157,195 — per-row Python)
become ``rlike``/``when`` chains and aggregations; its suspicious-IP set
membership becomes a broadcast join against a dimension DataFrame.

Determinism deviations (documented, applied on both the Spark side and the
DuckDB oracle):

- "first row per group" (security.py:236,319 — pandas file order) is pinned
  with ``min_by(..., struct(conv_id, turn_idx))``;
- ``datetime.now()`` stamps on brute-force events (security.py:283) become
  NULL timestamps (the reference's value is wall-clock noise).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, RuntimeConfig
from ..sources.dims import local_frame
from .performance import access_rows

def _ORDER_KEY() -> Column:
    return F.struct(F.col("conv_id"), F.col("turn_idx"))


def _first_match(col: Column, patterns) -> Column:
    """O5: first-match-wins pattern pick (security.py:161-173 ``break``):
    a when-chain short-circuits per row, preserving 'one event per row,
    priority = pattern list order'. Patterns are searched case-insensitively
    (security.py:45 re.IGNORECASE) and unanchored (re.search)."""
    out = F.when(col.rlike("(?i)" + patterns[0]), F.lit(patterns[0]))
    for p in patterns[1:]:
        out = out.when(col.rlike("(?i)" + p), F.lit(p))
    return out


def _pattern_events(
    parsed: DataFrame, patterns, event_type: str, severity: str, desc: str
) -> DataFrame:
    rows = access_rows(parsed).where(F.col("endpoint").isNotNull())
    matched = rows.withColumn("_pat", _first_match(F.col("endpoint"), patterns))
    return matched.where(F.col("_pat").isNotNull()).select(
        F.col("ts_parsed").alias("event_ts"),
        F.lit(event_type).alias("event_type"),
        F.lit(severity).alias("severity"),
        F.col("ip_address"),
        F.col("endpoint"),
        F.concat(F.lit(desc), F.col("_pat")).alias("description"),
        "conv_id",
        "turn_idx",
    )


def attack_events(
    parsed: DataFrame, cfg: RuntimeConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Attack-pattern detector (security.py:139-175): one high-severity event
    per access row whose endpoint matches any attack pattern."""
    return _pattern_events(
        parsed,
        cfg.attack_patterns,
        "attack_pattern",
        "high",
        "Potential attack pattern detected: ",
    )


def scan_events(
    parsed: DataFrame, cfg: RuntimeConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Scan-attempt detector (security.py:177-213), severity medium."""
    return _pattern_events(
        parsed,
        cfg.scan_patterns,
        "scan_attempt",
        "medium",
        "Potential scanning attempt detected: ",
    )


def suspicious_ip_dim(spark, cfg: RuntimeConfig = DEFAULT_CONFIG) -> DataFrame:
    """S5/J1: the suspicious-IP lookup as a broadcast dimension
    (config/suspicious_ips.txt via security.py:50-82)."""
    return local_frame(
        spark, [(ip,) for ip in cfg.suspicious_ips], "ip_address string"
    )


def suspicious_ip_events(
    parsed: DataFrame,
    dim: DataFrame | None = None,
    cfg: RuntimeConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """J1+A11 (security.py:215-247): keep rows whose IP is in the suspicious
    dim (broadcast semi-join FIRST — the reference groups all traffic then
    checks membership, but filter-before-aggregate is semantically identical
    here and avoids sort-aggregating the whole table: ``min_by`` plans as
    SortAggregate, so feeding it the tiny suspicious subset instead of all
    traffic is the difference between O(hits) and O(everything) sorted),
    then emit one event per IP with the deterministic first row's
    endpoint/timestamp and the request count."""
    if dim is None:
        dim = suspicious_ip_dim(parsed.sparkSession, cfg)
    rows = access_rows(parsed).where(F.col("ip_address").isNotNull())
    rows = rows.join(F.broadcast(dim), "ip_address", "left_semi")
    hits = rows.groupBy("ip_address").agg(
        F.min_by("endpoint", _ORDER_KEY()).alias("endpoint"),
        F.min_by("ts_parsed", _ORDER_KEY()).alias("event_ts"),
        F.min_by("conv_id", _ORDER_KEY()).alias("conv_id"),
        F.min_by("turn_idx", _ORDER_KEY()).alias("turn_idx"),
        F.count("*").alias("n_requests"),
    )
    return hits.select(
        "event_ts",
        F.lit("suspicious_ip").alias("event_type"),
        F.lit("high").alias("severity"),
        "ip_address",
        "endpoint",
        F.concat(
            F.lit("Activity from known suspicious IP: "),
            F.col("ip_address"),
            F.lit(" ("),
            F.col("n_requests").cast("string"),
            F.lit(" requests)"),
        ).alias("description"),
        "conv_id",
        "turn_idx",
    )


def login_filter(cfg: RuntimeConfig = DEFAULT_CONFIG) -> Column:
    """security.py:266-269: login-keyword substring match (case-insensitive,
    null-safe false) AND failed status."""
    kw = "|".join(cfg.login_keywords)
    return (
        F.coalesce(F.col("endpoint").rlike("(?i)" + kw), F.lit(False))
        & F.col("status").isin(list(cfg.brute_force_statuses))
    )


def brute_force_events(
    parsed: DataFrame, cfg: RuntimeConfig = DEFAULT_CONFIG
) -> DataFrame:
    """A12 (security.py:249-292): failed-login count per IP, event when
    >= threshold. Timestamp NULL (reference stamps wall-clock)."""
    rows = access_rows(parsed).where(login_filter(cfg))
    counts = rows.groupBy("ip_address").agg(F.count("*").alias("n_failed"))
    return counts.where(F.col("n_failed") >= cfg.brute_force_threshold).select(
        F.lit(None).cast("timestamp").alias("event_ts"),
        F.lit("brute_force_attempt").alias("event_type"),
        F.lit("high").alias("severity"),
        "ip_address",
        F.lit("multiple").alias("endpoint"),
        F.concat(
            F.lit("Potential brute force attempt: "),
            F.col("n_failed").cast("string"),
            F.lit(" failed login attempts from "),
            F.col("ip_address"),
        ).alias("description"),
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
    )


def unusual_method_events(
    parsed: DataFrame, cfg: RuntimeConfig = DEFAULT_CONFIG
) -> DataFrame:
    """A13 (security.py:294-330): per (method, ip) groups using dangerous
    methods — the reference's ``not in common and in dangerous`` reduces to
    the dangerous-set membership (security.py:318)."""
    rows = access_rows(parsed).where(
        F.col("method").isin(list(cfg.dangerous_methods))
    )
    grouped = rows.groupBy("method", "ip_address").agg(
        F.min_by("endpoint", _ORDER_KEY()).alias("endpoint"),
        F.min_by("ts_parsed", _ORDER_KEY()).alias("event_ts"),
        F.min_by("conv_id", _ORDER_KEY()).alias("conv_id"),
        F.min_by("turn_idx", _ORDER_KEY()).alias("turn_idx"),
        F.count("*").alias("n_requests"),
    )
    return grouped.select(
        "event_ts",
        F.lit("unusual_method").alias("event_type"),
        F.lit("medium").alias("severity"),
        "ip_address",
        "endpoint",
        F.concat(
            F.lit("Unusual HTTP method "),
            F.col("method"),
            F.lit(" used by "),
            F.col("ip_address"),
            F.lit(" ("),
            F.col("n_requests").cast("string"),
            F.lit(" requests)"),
        ).alias("description"),
        "conv_id",
        "turn_idx",
    )


def all_security_events(
    parsed: DataFrame,
    dim: DataFrame | None = None,
    cfg: RuntimeConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """O4 (security.py:120-126): union of the five detectors. The parsed
    frame should be persisted by the caller when fanning out — the five
    detectors share one scan."""
    return (
        attack_events(parsed, cfg)
        .unionByName(scan_events(parsed, cfg))
        .unionByName(suspicious_ip_events(parsed, dim, cfg))
        .unionByName(brute_force_events(parsed, cfg))
        .unionByName(unusual_method_events(parsed, cfg))
    )


def ip_threat_scores(
    events: DataFrame, cfg: RuntimeConfig = DEFAULT_CONFIG
) -> DataFrame:
    """A14 (security.py:332-385): per-IP weighted score, per-type counts
    (pivoted to fixed columns for stable schema), and threat level."""
    weight = (
        F.when(F.col("severity") == "low", F.lit(cfg.severity_weights["low"]))
        .when(F.col("severity") == "medium", F.lit(cfg.severity_weights["medium"]))
        .when(F.col("severity") == "high", F.lit(cfg.severity_weights["high"]))
        .otherwise(F.lit(1))
    )
    scored = (
        events.where(F.col("ip_address").isNotNull())
        .groupBy("ip_address")
        .agg(
            F.sum(weight).alias("score"),
            F.sum((F.col("event_type") == "attack_pattern").cast("long")).alias("n_attack"),
            F.sum((F.col("event_type") == "scan_attempt").cast("long")).alias("n_scan"),
            F.sum((F.col("event_type") == "suspicious_ip").cast("long")).alias("n_suspicious"),
            F.sum((F.col("event_type") == "brute_force_attempt").cast("long")).alias("n_brute_force"),
            F.sum((F.col("event_type") == "unusual_method").cast("long")).alias("n_unusual_method"),
        )
    )
    level = (
        F.when(F.col("score") >= cfg.threat_level_high, F.lit("high"))
        .when(F.col("score") >= cfg.threat_level_medium, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    return scored.withColumn("threat_level", level)
