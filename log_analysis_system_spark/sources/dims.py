"""Lookup dimensions for broadcast-join enrichment (FIXTURES.md §2).

The reference's join-like logic is set/dict membership (SURVEY §2.3); here
every lookup is a small dimension DataFrame broadcast-joined against the
fact table — the only join shape the pipeline needs, and always map-side.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import STATUS_DESCRIPTIONS


@lru_cache(maxsize=6)
def _dim_cache(spark: SparkSession, which: str) -> DataFrame:
    """Per-session memo for the tiny dim frames: createDataFrame pays a
    Python->JVM round trip per call, and the registry/pipeline re-enrich
    many times per session. Keyed on the session so a stopped session's
    frames are never reused (max 6 entries = 3 dims x 2 sessions)."""
    if which == "role":
        return spark.createDataFrame(ROLE_DIM, ["role", "role_class", "role_weight"])
    if which == "tool":
        return spark.createDataFrame(TOOL_DIM, ["tool", "tool_family", "is_sensitive"])
    return spark.createDataFrame(
        sorted(STATUS_DESCRIPTIONS.items()), ["status", "status_description"]
    )

ROLE_DIM = [
    # role, role_class, weight
    ("user", "human", 1),
    ("assistant", "model", 2),
    ("system", "control", 0),
    ("tool", "machine", 3),
]

TOOL_DIM = [
    # tool, tool_family, is_sensitive
    ("search", "retrieval", False),
    ("browser", "retrieval", True),
    ("python", "execution", True),
    ("bash", "execution", True),
]


def role_dim(spark: SparkSession) -> DataFrame:
    return _dim_cache(spark, "role")


def tool_dim(spark: SparkSession) -> DataFrame:
    return _dim_cache(spark, "tool")


def status_dim(spark: SparkSession) -> DataFrame:
    """J2: status-code description map (dashboard.py:205-221)."""
    return _dim_cache(spark, "status")


def enrich(parsed: DataFrame) -> DataFrame:
    """The enrich stage: broadcast-join role/tool/status dims onto the
    parsed frame. All three joins are broadcast (dims are tiny) — zero
    shuffles added; unmatched rows keep NULL enrichment (left joins).
    Status falls back to 'Unknown' per dashboard.py:222."""
    spark = parsed.sparkSession
    out = (
        parsed.join(F.broadcast(role_dim(spark)), "role", "left")
        .join(F.broadcast(tool_dim(spark)), "tool", "left")
        .join(F.broadcast(status_dim(spark)), "status", "left")
    )
    return out.withColumn(
        "status_description",
        F.when(
            F.col("status").isNotNull() & F.col("status_description").isNull(),
            F.lit("Unknown"),
        ).otherwise(F.col("status_description")),
    )
