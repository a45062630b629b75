"""Checkpointed state table: per-partition lineage + metrics + resume.

No reference analog — the reference's rerun story is 'append again'
(``database.py:172`` ``if_exists='append'`` duplicates on rerun; SURVEY §4).
Here every stage appends ``(run_id, stage, bucket, row_count, status,
wall_ms)`` rows to a state table through ``record_stage`` (per-bucket
stages one row per bucket they ran, global stages one ``bucket = -1``
row). A resumed run reads the table once, ``completed_buckets``, and that
one snapshot answers every resume question of the run: which buckets are
still pending, whether a global stage is done, and how many rows the
skipped buckets hold. Only the pending buckets are rewritten, with
dynamic-partition-overwrite sinks making the rewrite idempotent.

Alert throttling (notifier.py:50-77, throttle_period config.yaml:49) is the
one stateful-streaming-shaped reference behavior; in batch it becomes a join
against the alert-state table keyed by alert_type, with 'now' derived from
the data (max event_ts) so reruns are deterministic.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .config import DEFAULT_CONFIG, RuntimeConfig
from .sources import catalog
from .sources.dims import local_frame

STATE_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("stage", StringType()),
        StructField("bucket", IntegerType()),
        StructField("row_count", LongType()),
        StructField("status", StringType()),
        StructField("wall_ms", LongType()),
    ]
)

ALERT_STATE_SCHEMA = StructType(
    [
        StructField("alert_type", StringType()),
        StructField("last_sent_epoch", LongType()),
        StructField("run_id", StringType()),
    ]
)


def append_state(
    spark: SparkSession,
    base_dir: str,
    rows: list[tuple[str, str, int, int, str, int]],
) -> None:
    df = local_frame(spark, rows, STATE_SCHEMA)
    catalog.write_table(df, base_dir, "state_metrics", mode="append")


def completed_buckets(
    spark: SparkSession, base_dir: str, run_id: str
) -> dict[str, dict[int, int]]:
    """``{stage: {bucket: row_count}}`` over the run's ``done`` rows, read
    with one collect and no shuffle (a run's rows are few, so they are
    folded here). A bucket recorded more than once (a ``resume=False``
    rerun of the same run id) keeps its largest count."""
    if not catalog.table_exists(spark, base_dir, "state_metrics"):
        return {}
    rows = (
        catalog.read_table(spark, base_dir, "state_metrics", STATE_SCHEMA)
        .where((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("stage", "bucket", "row_count")
        .collect()
    )
    done: dict[str, dict[int, int]] = {}
    for r in rows:
        stage = done.setdefault(r.stage, {})
        stage[r.bucket] = max(stage.get(r.bucket, 0), r.row_count)
    return done


def record_stage(
    spark: SparkSession,
    base_dir: str,
    run_id: str,
    stage: str,
    wall_ms: int,
    counts: dict[int, int],
) -> None:
    """Append one ``done`` row per bucket of ``counts`` (``{-1: n}`` for a
    global stage), all stamped with the stage's ``wall_ms``."""
    append_state(
        spark,
        base_dir,
        [(run_id, stage, int(b), int(n), "done", int(wall_ms))
         for b, n in sorted(counts.items())],
    )


def bucket_counts(df: DataFrame, bucket_col: str = "bucket") -> dict[int, int]:
    """Per-bucket row counts for lineage metrics (one extra pass over the
    already-persisted frame)."""
    return {
        r[bucket_col]: r["cnt"]
        for r in df.groupBy(bucket_col).agg(F.count("*").alias("cnt")).collect()
    }


class StageTimer:
    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_ms = int((time.monotonic() - self.t0) * 1000)
        return False


def throttle_alerts(
    spark: SparkSession,
    base_dir: str,
    alerts: DataFrame,
    run_id: str,
    now_epoch: int | None = None,
    cfg: RuntimeConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Batch alert throttling with notifier.py:50-77 semantics: one alert per
    alert_type passes if the last recorded send is older than
    ``cfg.throttle_period`` seconds relative to ``now_epoch`` (defaults to the
    batch's max event time — data-derived, so reruns are deterministic).
    Sent alerts are recorded back into the alert-state table."""
    if now_epoch is None:
        row = alerts.agg(
            F.max(F.col("event_ts").cast("long")).alias("m")
        ).collect()[0]
        now_epoch = int(row.m) if row.m is not None else 0

    candidates = alerts.groupBy(F.col("event_type").alias("alert_type")).agg(
        F.count("*").alias("n_events"),
        F.max(F.col("event_ts").cast("long")).alias("max_event_epoch"),
    )

    if catalog.table_exists(spark, base_dir, "alert_state"):
        st = (
            catalog.read_table(spark, base_dir, "alert_state", ALERT_STATE_SCHEMA)
            .groupBy("alert_type")
            .agg(F.max("last_sent_epoch").alias("last_sent_epoch"))
        )
        candidates = candidates.join(F.broadcast(st), "alert_type", "left")
    else:
        candidates = candidates.withColumn("last_sent_epoch", F.lit(None).cast("long"))

    passed = candidates.where(
        F.col("last_sent_epoch").isNull()
        | (F.lit(now_epoch) - F.col("last_sent_epoch") > F.lit(cfg.throttle_period))
    )

    sent = passed.select(
        "alert_type",
        F.lit(now_epoch).cast("long").alias("last_sent_epoch"),
        F.lit(run_id).alias("run_id"),
    )
    catalog.write_table(sent, base_dir, "alert_state", mode="append")
    return passed.select("alert_type", "n_events", "max_event_epoch")
