"""The benchmark's workloads: seeded inputs, the timed op, the output check.

Each workload is a closed loop: one bench process, one op at a time, on
``local[nproc]``. Inputs are written once, before any op, and every op
gets its own output (and checkpoint) directory.

- ``batch_fixed``: a small transcripts parquet through ``run_pipeline``
  (pandas parse engine, default bucket count, ``resume=False``). At this
  size per-job and per-file cost dominates the wall, so job-graph,
  bucket-count, state-table and telemetry changes show here and a faster
  regex kernel barely does.
- ``stream_jsonl``: a backlog of JSONL drop files, with injected malformed
  and ``conv_id``-less lines, drained by ``streaming_route`` under
  ``availableNow``, one file per micro-batch. It is the only workload on
  the micro-batch path and the JSON door.

A batch run routes its whole input as one batch, so on ``batch_fixed`` a
"micro-batch" is the route stage, timed by the run's own ``state_metrics``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_analysis_system_spark.pipeline import PipelineResult, run_pipeline
from log_analysis_system_spark.sources import catalog
from log_analysis_system_spark.sources.jsonl import read_transcripts_jsonl
from log_analysis_system_spark.streaming.stream_pipeline import (
    read_transcript_stream_jsonl,
    streaming_route,
)

from . import inputs
from .trace import Tracer, isolate_aggregate, isolate_route

N_BUCKETS = 32  # run_pipeline's default, restated for the isolated shuffle
STREAM_SINKS = ["parsed_turns", "security_events_high", "security_events_medium",
                "security_events_low"]


@dataclass
class Op:
    wall_s: float
    turns: int
    out_dir: str
    microbatch_s: list[float] = field(default_factory=list)
    stage_walls: dict[str, float] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)
    result: PipelineResult | None = None
    peak_rss_mb: float = 0.0
    epoch: tuple[float, float] = (0.0, 0.0)
    steal: float = 0.0


def _sink_counts(spark: SparkSession, out_dir: str, names) -> dict[str, int]:
    """Rows per sink in one Spark job; a sink that was never written
    reads as 0 (a bucketed write of an empty frame leaves no table)."""
    frames = [
        catalog.read_table(spark, out_dir, n).select(F.lit(n).alias("sink"))
        for n in names if catalog.table_exists(spark, out_dir, n)
    ]
    counts = {n: 0 for n in names}
    if frames:
        for r in reduce(DataFrame.unionByName, frames).groupBy("sink").count().collect():
            counts[r["sink"]] = r["count"]
    return counts


class BatchFixed:
    name = "batch_fixed"
    n_turns = 10_000
    n_convs = 200

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.input = os.path.join(work, "input")
        inputs.write_parquet(spark, self.input, seed, self.n_turns, self.n_convs)
        self.expected = inputs.expected_counts(seed, self.n_turns)

    def run(self, spark: SparkSession, op_dir: str) -> Op:
        out = os.path.join(op_dir, "out")
        t0 = time.perf_counter()
        result = run_pipeline(spark, spark.read.parquet(self.input), out,
                              run_id=os.path.basename(op_dir), resume=False)
        return Op(time.perf_counter() - t0, self.n_turns, out, result=result)

    def check(self, spark: SparkSession, op: Op) -> list[str]:
        errors = []
        got = _sink_counts(spark, op.out_dir, sorted(set(op.result.sink_counts) | set(self.expected)))
        if sum(got[k] for k in self.expected) != self.n_turns:
            errors.append(f"conservation: {[got[k] for k in self.expected]} != {self.n_turns}")
        for k, want in self.expected.items():
            if got[k] != want:
                errors.append(f"{k}: {got[k]} rows, closed form {want}")
        for k, n in op.result.sink_counts.items():
            if got[k] != n:
                errors.append(f"sink_counts[{k}]={n}, read back {got[k]}")
        rows = (catalog.read_table(spark, op.out_dir, "state_metrics")
                .where(F.col("run_id") == op.result.run_id)
                .groupBy("stage").agg(F.max("wall_ms").alias("ms")).collect())
        op.stage_walls = {f"pipeline.{r['stage']}": r["ms"] / 1000 for r in rows}
        if "pipeline.route" not in op.stage_walls or not op.result.aggregate_ran:
            errors.append(f"stages recorded: {sorted(op.stage_walls)}")
        else:
            op.microbatch_s = [op.stage_walls["pipeline.route"]]
        return errors

    def isolate(self, spark: SparkSession, tracer: Tracer, op: Op) -> list[DataFrame]:
        return (isolate_route(tracer, spark.read.parquet(self.input), N_BUCKETS)
                + isolate_aggregate(tracer, spark, op.out_dir))


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


class StreamJsonl:
    name = "stream_jsonl"
    n_files = 6
    n_turns = 6_000
    n_convs = 120

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.drop = os.path.join(work, "drop")
        self.injected = inputs.write_jsonl_backlog(
            spark, self.drop, seed, self.n_turns, self.n_convs, self.n_files)
        self.expected = inputs.expected_counts(seed, self.n_turns)["parsed_turns"]

    def run(self, spark: SparkSession, op_dir: str) -> Op:
        out = os.path.join(op_dir, "out")
        t0 = time.perf_counter()
        q = streaming_route(
            read_transcript_stream_jsonl(spark, self.drop, max_files_per_trigger=1),
            out, os.path.join(op_dir, "checkpoint"),
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress = [dict(p) for p in q.recentProgress if p["numInputRows"] > 0]
        for p in progress:
            p["_t0"] = _epoch(p["timestamp"])
        return Op(wall, self.n_turns, out, progress=progress,
                  microbatch_s=[p["durationMs"]["triggerExecution"] / 1000 for p in progress])

    def check(self, spark: SparkSession, op: Op) -> list[str]:
        errors = []
        if len(op.progress) != self.n_files:
            errors.append(f"{len(op.progress)} non-empty micro-batches, want {self.n_files}")
        leak = (F.col("conv_id").isNull() | F.col("conv_id").contains(inputs.INJECTED_MARK)
                | F.col("endpoint").contains(inputs.INJECTED_MARK))
        frames = [
            catalog.read_table(spark, op.out_dir, n).select(
                F.lit(n).alias("sink"), leak.cast("int").alias("leak"))
            for n in STREAM_SINKS if catalog.table_exists(spark, op.out_dir, n)
        ]
        got = {r["sink"]: r for r in reduce(DataFrame.unionByName, frames)
               .groupBy("sink").agg(F.count("*").alias("n"), F.sum("leak").alias("leaks"))
               .collect()}
        parsed = got["parsed_turns"]["n"] if "parsed_turns" in got else 0
        if parsed != self.expected:
            errors.append(f"parsed_turns: {parsed} rows, closed form {self.expected}")
        leaks = {k: r["leaks"] for k, r in got.items() if r["leaks"]}
        if leaks:
            errors.append(f"injected lines reached sinks: {leaks}")
        return errors

    def isolate(self, spark: SparkSession, tracer: Tracer, op: Op) -> list[DataFrame]:
        turns, _ = read_transcripts_jsonl(spark, os.path.join(self.drop, "part-*"))
        return isolate_route(tracer, turns, None)


WORKLOADS = {w.name: w for w in (BatchFixed, StreamJsonl)}
