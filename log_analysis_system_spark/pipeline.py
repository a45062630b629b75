"""The end-to-end batch pipeline: parse -> enrich -> route -> aggregate.

Spark-first rebuild of the reference drivers (``main.py:117-178``,
``dashboard.py:54-96``) over the transcripts payload, with the scale
engineering the north rule demands:

- **bucketing**: facts are hashed into ``n_buckets`` by ``conv_id``
  (``pmod(xxhash64(conv_id), n)``) — the unit of lineage, resume, and sink
  partitioning (Iceberg ``bucket(n, conv_id)`` on a real cluster). Buckets
  are not tasks: the route runs ``min(n_buckets, cores)`` tasks, bucket
  ``b`` placed exactly on task ``b mod tasks``, each task holding whole
  buckets;
- **two checkpointable stages** with different recovery granularity:

  * ``route`` (per-bucket, resumable bucket-by-bucket): parse + enrich +
    per-ROW detectors (attack/scan patterns — embarrassingly parallel),
    written to parsed/error/reject sinks and to each detector's severity
    sink. The body (``route_turns``) is shared with ``streaming_route``,
    whose micro-batches partition every sink by ``batch_id`` instead of
    ``bucket`` (one file per sink per input partition, ``bucket`` kept as
    a column: replay is keyed on ``batch_id``, and per-bucket resume is a
    batch concern); the batch stage adds only the bucket shuffle and the
    state rows;
  * ``aggregate`` (global, all-or-nothing): reads BACK the completed
    parsed_turns sink (never recomputes parse) and reads no other sink.
    It runs the group-by detectors (suspicious IP / brute force / unusual
    method — global by definition: partial-bucket counts would be wrong),
    performance metrics and anomaly operators, and scores IP threat over
    all five detectors, the row detectors rerun over the parsed rows as
    the reference does; full-overwrite sinks;

- **idempotence**: bucket sinks use dynamic-partition overwrite; rerunning
  a straggler bucket replaces its partition (the reference's rerun story
  appends duplicates — ``database.py:172``);
- **one write path**: every stage writes its sinks through
  ``write_sinks``, one concurrent ``write_observed`` per sink, each row
  count observed inside its own write. The per-bucket stages (the route,
  each micro-batch, the corpus score stage) share ``write_bucketed``: one
  persisted frame, one per-bucket lineage count that fills its cache, then
  the dynamic-overwrite fan-out. The route's per-bucket ``parsed_turns``
  counts and the aggregate's total sink rows go to the state table.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from . import state as st
from .config import DEFAULT_CONFIG, RuntimeConfig
from .functions.parse import parse_transcripts
from .operators import anomaly as an
from .operators import performance as perf
from .operators import security as sec
from .sources import catalog
from .sources.dims import enrich

# no aggregate detector emits low severity, so no security_events_agg_low
AGG_SINKS_BY_SEVERITY = {
    "high": "security_events_agg_high",
    "medium": "security_events_agg_medium",
}


@dataclass
class PipelineResult:
    run_id: str
    buckets_processed: list[int]
    buckets_skipped: list[int]
    aggregate_ran: bool = False
    sink_counts: dict[str, int] = field(default_factory=dict)


def bucket_of(col: str | Column, n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    run_id: str,
    n_buckets: int = 32,
    resume: bool = True,
    fail_after_route: bool = False,
    analyze_only: bool = False,
    cfg: RuntimeConfig = DEFAULT_CONFIG,
) -> PipelineResult:
    """``fail_after_route`` simulates a mid-run crash for resume tests.
    ``analyze_only`` skips the route stage entirely and re-runs the
    aggregate stage over the existing ``parsed_turns`` sink (the
    reference's ``main.py --analyze-only`` semantics). ``cfg`` threads
    runtime-loaded thresholds/patterns into every stage."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be at least 1, got {n_buckets}")
    if analyze_only:
        if not catalog.table_exists(spark, output_dir, "parsed_turns"):
            raise FileNotFoundError(
                f"--analyze-only requires an existing parsed_turns sink "
                f"under {output_dir}"
            )
        result = PipelineResult(run_id, [], sorted(range(n_buckets)))
        _aggregate_stage(spark, output_dir, run_id, result, n_buckets, cfg)
        result.aggregate_ran = True
        return result

    done = st.completed_buckets(spark, output_dir, run_id) if resume else {}
    routed = done.get("route", {})
    pending = sorted(set(range(n_buckets)) - set(routed))
    result = PipelineResult(run_id, pending, sorted(routed))

    if pending:
        bucketed = transcripts.withColumn("bucket", bucket_of("conv_id", n_buckets))
        if routed:
            bucketed = bucketed.where(F.col("bucket").isin(pending))
        _route_stage(spark, bucketed, output_dir, run_id, result,
                     pending, n_buckets, cfg)

    if fail_after_route or -1 in done.get("aggregate", {}):
        return result
    # rows in parsed_turns: the skipped buckets' recorded counts plus this
    # call's own
    parsed_rows = sum(routed.values()) + result.sink_counts.get("parsed_turns", 0)
    _aggregate_stage(spark, output_dir, run_id, result, n_buckets, cfg, parsed_rows)
    result.aggregate_ran = True
    return result


def _route_stage(
    spark: SparkSession,
    bucketed: DataFrame,
    output_dir: str,
    run_id: str,
    result: PipelineResult,
    pending: list[int],
    n_buckets: int,
    cfg: RuntimeConfig = DEFAULT_CONFIG,
) -> None:
    with st.StageTimer() as t:
        # ONE shuffle into bucket layout BEFORE the parse: raw turns are the
        # narrowest the rows ever are, and parse parallelism is decoupled
        # from the source file layout
        counts, parsed_by_bucket = route_turns(
            bucket_tasks(bucketed, n_buckets), output_dir, n_buckets, cfg,
        )
        result.sink_counts.update(counts)

    st.record_stage(
        spark, output_dir, run_id, "route", t.wall_ms,
        {b: parsed_by_bucket.get(b, 0) for b in pending},
    )


def bucket_tasks(bucketed: DataFrame, n_buckets: int) -> DataFrame:
    """Bucket ``b`` on task ``b mod n``, ``n = min(n_buckets, cores)``."""
    n_tasks = min(n_buckets, bucketed.sparkSession.sparkContext.defaultParallelism)
    return bucketed.repartitionById(n_tasks, "bucket")


def route_turns(
    bucketed: DataFrame,
    output_dir: str,
    n_buckets: int,
    cfg: RuntimeConfig = DEFAULT_CONFIG,
    partition_by: dict[str, Column] | None = None,
) -> tuple[dict[str, int], dict[int, int]]:
    """The route body of the batch stage and every micro-batch: parse +
    enrich + per-row detectors over ``bucketed`` (turns with a ``bucket``
    column), written by :func:`write_bucketed`. ``partition_by`` maps the
    columns that replace ``bucket`` as the sinks' partition spec to their
    values (a micro-batch's ``batch_id``: one file per input partition);
    ``bucket`` stays a column either way. Returns the sink counts and the
    ``parsed_turns`` rows per bucket."""
    partition_by = partition_by or {}
    enriched = enrich(
        parse_transcripts(bucketed, engine="pandas", cfg=cfg)
    ).withColumns(partition_by)
    # per-row detectors only (global detectors run in the aggregate stage).
    # Attack patterns are always high severity and scans always medium, so
    # each feeds its own sink; no row detector emits low.
    event_cols = {**partition_by, "bucket": bucket_of("conv_id", n_buckets)}
    writes = {
        "parsed_turns": enriched.where(F.col("log_type") == "access").drop("ts"),
        "error_turns": enriched.where(F.col("log_type") == "error").select(
            *partition_by, "bucket", "conv_id", "turn_idx", "ts_parsed",
            "level", "module", "pid", "message", "text",
        ),
        "rejects": enriched.where(F.col("log_format").isNull()).select(
            *partition_by, "bucket", "conv_id", "turn_idx", "role", "tool", "ts",
            "text",
        ),
        "security_events_high":
            sec.attack_events(enriched, cfg).withColumns(event_cols),
        "security_events_medium":
            sec.scan_events(enriched, cfg).withColumns(event_cols),
    }
    return write_bucketed(
        enriched, writes, "parsed_turns", output_dir,
        list(partition_by) or ["bucket"],
    )


def write_bucketed(
    frame: DataFrame,
    writes: dict[str, DataFrame],
    lineage: str,
    output_dir: str,
    partition_cols: list[str],
) -> tuple[dict[str, int], dict[int, int]]:
    """Write the sinks ``writes``, all derived from ``frame``, off one
    persisted ``frame``: the per-bucket count of ``writes[lineage]`` fills
    the cache, then every sink dynamic-overwrites its partitions, so a
    rerun bucket or replayed micro-batch replaces its output. Returns the
    sink counts and the lineage rows per bucket."""
    frame.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        by_bucket = st.bucket_counts(writes[lineage])
        counts = write_sinks(
            writes, output_dir, partition_cols, mode="overwrite_partitions",
        )
    finally:
        # a failed sink write must not leak cache blocks for the session
        frame.unpersist()
    return counts, by_bucket


def write_sinks(
    writes: dict[str, DataFrame],
    output_dir: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> dict[str, int]:
    """Submit one :func:`write_observed` per sink at once (independent Spark
    actions the scheduler interleaves) and return each sink's row count;
    re-raises the first failed write."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = {
            name: pool.submit(write_observed, df, output_dir, name, partition_cols, mode)
            for name, df in writes.items()
        }
    return {name: f.result() for name, f in futures.items()}


def write_observed(
    df: DataFrame,
    output_dir: str,
    name: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> int:
    """Write with the row count observed INSIDE the write job (no separate
    count pass); full overwrite unless ``mode`` says otherwise."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    catalog.write_table(df, output_dir, name, partition_cols=partition_cols, mode=mode)
    return int(obs.get["n"])


def _aggregate_stage(
    spark: SparkSession,
    output_dir: str,
    run_id: str,
    result: PipelineResult,
    n_buckets: int,
    cfg: RuntimeConfig = DEFAULT_CONFIG,
    parsed_rows: int | None = None,
) -> None:
    # A route stage whose every row was rejected writes zero parsed_turns
    # rows — and a bucket-partitioned write of an empty frame emits no
    # schema-bearing part files at all, so the sink dir is unreadable.
    # Nothing to aggregate: record the stage as done with zero counts
    # instead of crashing the run. The skip keys on the route's own count,
    # never on a probe of the sink: a probe that fails transiently must not
    # record a permanently-done empty aggregate. ``None`` (analyze-only,
    # whose caller already found the sink) always aggregates.
    if parsed_rows == 0:
        st.record_stage(spark, output_dir, run_id, "aggregate", 0, {-1: 0})
        return

    with st.StageTimer() as t:
        parsed = catalog.read_table(spark, output_dir, "parsed_turns")
        parsed.persist(StorageLevel.MEMORY_AND_DISK)

        agg_events = (
            sec.suspicious_ip_events(parsed, cfg=cfg)
            .unionByName(sec.brute_force_events(parsed, cfg))
            .unionByName(sec.unusual_method_events(parsed, cfg))
            .withColumn(
                "bucket",
                F.coalesce(bucket_of("conv_id", n_buckets), F.lit(-1)),
            )
        )
        agg_events.persist(StorageLevel.MEMORY_AND_DISK)
        # Materialize BOTH caches with one job before the concurrent sink
        # fan-out (the detectors scan every parsed partition, so this count
        # fills parsed's blocks too). Without it the concurrent sink jobs race
        # to compute the same cache blocks under the block-manager locks —
        # measured 2x wall-time on a cold cache. The route stage gets the
        # same effect from its lineage-count job.
        agg_events.count()

        metrics = perf.performance_metrics(parsed, cfg)
        anomalies = an.response_time_zscore_anomalies(parsed, cfg).select(
            "conv_id", "turn_idx", "event_ts", "metric_name",
            "expected_value", "actual_value", "z_score",
        ).unionByName(
            an.error_rate_iqr_anomalies(parsed, cfg=cfg).select(
                F.lit(None).cast("string").alias("conv_id"),
                F.lit(None).cast("int").alias("turn_idx"),
                "event_ts", "metric_name",
                "expected_value", "actual_value", "z_score",
            )
        )

        # IP threat over all five detectors, as the reference scores it:
        # the row detectors rerun over the persisted parsed rows, so the
        # stage reads no sink but parsed_turns and honours this run's cfg
        all_events = (
            agg_events.drop("bucket")
            .unionByName(sec.attack_events(parsed, cfg))
            .unionByName(sec.scan_events(parsed, cfg))
        )

        # full-overwrite sinks off the two persisted frames; their total
        # rows are the lineage count this stage records
        writes = {
            name: agg_events.where(F.col("severity") == severity)
            for severity, name in AGG_SINKS_BY_SEVERITY.items()
        }
        writes.update(performance_metrics=metrics, anomalies=anomalies,
                      ip_threat_scores=sec.ip_threat_scores(all_events, cfg))
        try:
            written = write_sinks(writes, output_dir)
            result.sink_counts.update(written)

            high_events = all_events.where(F.col("severity") == "high")
            passed_alerts = st.throttle_alerts(
                spark, output_dir, high_events, run_id, cfg=cfg,
            )
            if cfg.email.get("enabled"):
                # Delivery plane (notifier.py): O(alert types) rows leave
                # Spark; payload rows are limited in Spark before collect.
                from .notifier import EmailNotifier, deliver_throttled_alerts

                email_cfg = {"throttle_period": cfg.throttle_period, **cfg.email}
                result.sink_counts["alert_emails"] = deliver_throttled_alerts(
                    passed_alerts, EmailNotifier(email_cfg), alert_rows=high_events,
                )
        finally:
            agg_events.unpersist()
            parsed.unpersist()

    st.record_stage(
        spark, output_dir, run_id, "aggregate", t.wall_ms,
        {-1: sum(written.values())},
    )
