"""Structured Streaming surface: file-source route fan-out + windowed agg.

Feeds the stream in two file drops and checks (a) per-severity sinks fill
incrementally with exactly-once totals matching a batch run, (b) resume
from the same checkpoint ignores already-processed files, (c) the
event-time window agg handles late rows under the watermark.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from log_analysis_system_spark.queries_log import load_transcripts
from log_analysis_system_spark.streaming.stream_pipeline import (
    read_transcript_stream,
    streaming_conversation_state,
    streaming_dedup,
    streaming_route,
    streaming_session_stats,
    streaming_traffic_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def stream_dirs(tmp_path):
    d = {
        "in": str(tmp_path / "in"),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    yield d
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_streaming_route_matches_batch_counts(spark, stream_dirs):
    t = load_transcripts(spark, SF)
    half_a = t.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    half_b = t.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)

    half_a.write.mode("append").parquet(stream_dirs["in"])
    stream = read_transcript_stream(spark, stream_dirs["in"])
    q = streaming_route(stream, stream_dirs["out"], stream_dirs["ckpt"])
    assert q.awaitTermination(300)
    n_first = spark.read.parquet(f"{stream_dirs['out']}/parsed_turns").count()
    assert n_first > 0

    # second drop: only the new files are processed (checkpoint resume)
    half_b.write.mode("append").parquet(stream_dirs["in"])
    q2 = streaming_route(
        read_transcript_stream(spark, stream_dirs["in"]),
        stream_dirs["out"],
        stream_dirs["ckpt"],
    )
    assert q2.awaitTermination(300)
    n_total = spark.read.parquet(f"{stream_dirs['out']}/parsed_turns").count()

    from log_analysis_system_spark.functions.parse import parse_transcripts

    expected = (
        parse_transcripts(t, engine="pandas")
        .where(F.col("log_type") == "access")
        .count()
    )
    assert n_total == expected > n_first


def test_streaming_route_matches_batch_under_runtime_config(spark, stream_dirs):
    """Stream and batch run one route body: under a non-default
    RuntimeConfig both write the same rows to every route sink (bucket and
    batch_id aside), error and reject turns included. The patterns are
    chosen so that the sf0.001 detector hits differ from the defaults'."""
    import dataclasses

    from log_analysis_system_spark.config import DEFAULT_CONFIG
    from log_analysis_system_spark.pipeline import run_pipeline
    from log_analysis_system_spark.sources import catalog
    from log_analysis_system_spark.streaming.stream_pipeline import (
        TRANSCRIPT_SCHEMA,
    )

    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        attack_patterns=("/admin/login", "/checkout"),
        scan_patterns=("/api/", "/health"),
    )
    load_transcripts(spark, SF).write.parquet(stream_dirs["in"])
    batch_out = stream_dirs["out"] + "_batch"
    # route sinks only: the aggregate stage is not under comparison
    run_pipeline(
        spark, spark.read.schema(TRANSCRIPT_SCHEMA).parquet(stream_dirs["in"]),
        batch_out, "cfg-run", cfg=cfg, fail_after_route=True,
    )
    q = streaming_route(
        read_transcript_stream(spark, stream_dirs["in"]),
        stream_dirs["out"], stream_dirs["ckpt"], cfg=cfg,
    )
    assert q.awaitTermination(300)

    for sink in ("parsed_turns", "error_turns", "rejects",
                 "security_events_high", "security_events_medium"):
        batch = catalog.read_table(spark, batch_out, sink).drop("bucket")
        stream = catalog.read_table(spark, stream_dirs["out"], sink).drop(
            "bucket", "batch_id"
        )
        cols = sorted(batch.columns)
        assert sorted(stream.columns) == cols, sink
        batch, stream = batch.select(cols), stream.select(cols)
        assert batch.count() == stream.count() > 0, sink
        assert batch.exceptAll(stream).isEmpty(), sink
        assert stream.exceptAll(batch).isEmpty(), sink
    # the config took effect: no default-only pattern fired
    high = catalog.read_table(spark, stream_dirs["out"], "security_events_high")
    assert high.where(~F.col("endpoint").rlike("/admin/login|/checkout")).isEmpty()


def _write_jsonl_drops(spark, feed_dir, n, per_drop=200):
    """Write ``n`` JSONL drop files of ``per_drop`` sf0.001 turns each,
    with mtimes in drop order (the file source orders drops by mtime:
    drop0 is batch 0). Returns the feed directory."""
    import json
    import os
    import pathlib

    rows = load_transcripts(spark, SF).limit(n * per_drop).collect()
    feed = pathlib.Path(feed_dir)
    feed.mkdir(parents=True)
    for i in range(n):
        drop = feed / f"drop{i}.jsonl"
        with open(drop, "w") as f:
            for r in rows[i * per_drop:(i + 1) * per_drop]:
                f.write(json.dumps({
                    "conv_id": r.conv_id, "turn_idx": r.turn_idx,
                    "role": r.role, "text": r.text, "tool": r.tool,
                    "ts": r.ts.isoformat() if r.ts else None,
                }) + "\n")
        os.utime(drop, (1_700_000_000 + i, 1_700_000_000 + i))
    return feed


def test_streaming_route_builds_each_dim_once(spark, stream_dirs, monkeypatch):
    """Every foreachBatch micro-batch runs on a fresh clone of the
    session; the dim memo is keyed on the SparkContext they share, so
    draining three drops builds each of the three enrich dims once."""
    from log_analysis_system_spark.sources import dims
    from log_analysis_system_spark.streaming.stream_pipeline import (
        read_transcript_stream_jsonl,
    )

    feed = _write_jsonl_drops(spark, stream_dirs["in"], 3)
    built = []
    real = dims.local_frame

    def counted(spark, rows, schema):
        built.append(schema)
        return real(spark, rows, schema)

    dims._context_dims.cache_clear()
    monkeypatch.setattr(dims, "local_frame", counted)
    q = streaming_route(
        read_transcript_stream_jsonl(spark, str(feed), max_files_per_trigger=1),
        stream_dirs["out"], stream_dirs["ckpt"],
    )
    assert q.awaitTermination(300)
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 3
    assert sorted(built) == sorted(schema for _, schema in dims._DIMS.values())
    assert spark.read.parquet(f"{stream_dirs['out']}/parsed_turns").count() > 0


def test_streaming_route_sinks_partition_by_batch_id(spark, stream_dirs):
    """Micro-batch sinks are partitioned by ``batch_id`` alone: no
    ``bucket=`` dirs, one part file per micro-batch per sink (each JSONL
    drop is one input partition), ``bucket`` kept as a column with the
    batch route's value, and a replayed micro-batch replaces its own
    ``batch_id=`` partition instead of adding rows."""
    import pathlib

    from log_analysis_system_spark.pipeline import bucket_of, route_turns
    from log_analysis_system_spark.sources import catalog
    from log_analysis_system_spark.sources.jsonl import read_transcripts_jsonl
    from log_analysis_system_spark.streaming.stream_pipeline import (
        read_transcript_stream_jsonl,
    )

    feed = _write_jsonl_drops(spark, stream_dirs["in"], 3)
    out = stream_dirs["out"]
    q = streaming_route(
        read_transcript_stream_jsonl(spark, str(feed), max_files_per_trigger=1),
        out, stream_dirs["ckpt"],
    )
    assert q.awaitTermination(300)

    sinks = ("parsed_turns", "error_turns", "rejects",
             "security_events_high", "security_events_medium")
    for sink in sinks:
        root = pathlib.Path(out) / sink
        if not root.exists():
            continue
        assert not [p for p in root.rglob("bucket=*")], sink
        batch_dirs = sorted(root.glob("batch_id=*"))
        assert {p.name for p in batch_dirs} <= {f"batch_id={k}" for k in range(3)}
        for d in batch_dirs:
            assert len(list(d.glob("part-*.parquet"))) == 1, d
        table = catalog.read_table(spark, out, sink)
        assert "bucket" in table.columns, sink
        assert table.where(
            ~F.col("bucket").eqNullSafe(bucket_of("conv_id", 32))
        ).isEmpty(), sink
    assert len(list((pathlib.Path(out) / "parsed_turns").glob("batch_id=*"))) == 3

    before = catalog.read_table(spark, out, "parsed_turns")
    n_before = before.count()
    before = before.localCheckpoint()
    # replay batch 0 (foreachBatch is at-least-once): same rows, same count
    turns, _ = read_transcripts_jsonl(spark, str(feed / "drop0.jsonl"))
    route_turns(
        turns.withColumn("bucket", bucket_of("conv_id", 32)), out,
        n_buckets=32, partition_by={"batch_id": F.lit(0)},
    )
    after = catalog.read_table(spark, out, "parsed_turns")
    assert after.count() == n_before > 0
    assert after.select(before.columns).exceptAll(before).isEmpty()


def test_streaming_window_counts(spark, stream_dirs):
    t = load_transcripts(spark, SF)
    t.write.mode("append").parquet(stream_dirs["in"])
    stream = read_transcript_stream(spark, stream_dirs["in"])
    agg = streaming_traffic_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("traffic")
        .outputMode("complete")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r.window_start, r.n_turns)
        for r in spark.sql("select * from traffic").collect()
    }
    expected = {
        (r.window_start, r.n_turns)
        for r in t.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_turns"))
        .select(F.col("w.start").alias("window_start"), "n_turns")
        .collect()
    }
    assert got == expected and got


def test_streaming_dedup_suppresses_redelivery(spark, stream_dirs):
    """An at-least-once feed delivering every turn twice must come out
    exactly once per (conv_id, turn_idx) key."""
    t = load_transcripts(spark, SF)
    t.write.mode("append").parquet(stream_dirs["in"])
    t.write.mode("append").parquet(stream_dirs["in"])  # full redelivery
    # one micro-batch (files << trigger cap): both copies inside the same
    # watermark horizon, so every duplicate is in suppressible state
    stream = read_transcript_stream(
        spark, stream_dirs["in"], max_files_per_trigger=1000
    )
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    out = spark.sql("select conv_id, turn_idx from dedup_out")
    assert out.count() == t.count()
    assert out.distinct().count() == t.count()


def test_streaming_session_stats_match_batch_sessions(spark, stream_dirs):
    """Emitted (watermark-closed) sessions must be value-identical to the
    batch session_window aggregate; sessions still open at the final
    watermark are legitimately withheld in append mode."""
    t = load_transcripts(spark, SF)
    t.write.mode("append").parquet(stream_dirs["in"])
    stream = read_transcript_stream(spark, stream_dirs["in"])
    q = (
        streaming_session_stats(stream, gap="30 minutes", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r.conv_id, r.session_start, r.session_end, r.n_turns)
        for r in spark.sql("select * from sessions_out").collect()
    }
    batch = {
        (r.conv_id, r["w"]["start"], r["w"]["end"], r.n_turns)
        for r in t.groupBy(
            "conv_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count("*").alias("n_turns"))
        .collect()
    }
    assert got <= batch, "stream emitted a session batch mode never produces"
    # the un-emitted remainder is only the open tail near max event time
    assert len(got) >= len(batch) // 2 and got


def test_streaming_conversation_state_accumulates_across_batches(
    spark, stream_dirs
):
    """applyInPandasWithState keeps per-conv state across micro-batches:
    feeding a conversation's turns split over two file drops must yield the
    same final totals as the one-shot batch aggregate."""
    t = load_transcripts(spark, SF)
    early = t.where(F.col("turn_idx") < 3)
    late = t.where(F.col("turn_idx") >= 3)
    # 4 files per drop -> 8 micro-batches at maxFilesPerTrigger=1: still
    # forces every conversation across >= 2 batches (early/late split),
    # without 60+ batches of per-batch state-worker overhead.
    early.coalesce(4).write.mode("append").parquet(stream_dirs["in"])
    late.coalesce(4).write.mode("append").parquet(stream_dirs["in"])

    # maxFilesPerTrigger=1 forces multiple micro-batches, so most convs
    # are updated across batches and state must carry over. NoTimeout
    # (idle_timeout_ms=None) for the availableNow drain: no mid-test
    # eviction on a stalled host, and the query terminates when the data
    # is exhausted instead of spinning until state timers fire.
    stream = read_transcript_stream(spark, stream_dirs["in"], max_files_per_trigger=1)
    q = (
        streaming_conversation_state(stream, idle_timeout_ms=None)
        .writeStream.format("memory")
        .queryName("conv_state")
        .outputMode("update")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish within 300s"
    # update mode re-emits a conv each batch it changes: keep the row with
    # the highest n_turns per conv (the final state)
    got = {}
    for r in spark.sql("select * from conv_state").collect():
        if r.conv_id not in got or r.n_turns > got[r.conv_id][0]:
            got[r.conv_id] = (r.n_turns, r.max_turn_idx, r.last_ts)
    expected = {
        r.conv_id: (r.n_turns, r.max_turn_idx, r.last_ts)
        for r in t.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.max("turn_idx").alias("max_turn_idx"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert got == expected and got


def test_streaming_ewma_matches_batch_recurrence(spark, stream_dirs):
    """Two availableNow drains split at the median hour: the EWMA state
    must carry across the checkpoint restore, and the union of emitted
    buckets must equal the batch recurrence run over all hours."""
    from log_analysis_system_spark.streaming.stream_pipeline import (
        streaming_ewma_spikes,
    )

    t = load_transcripts(spark, SF)
    hours = sorted(
        r["h"]
        for r in t.select(
            F.date_trunc("hour", "ts").alias("h")
        ).distinct().collect()
    )
    assert len(hours) >= 4, hours
    cut = hours[len(hours) // 2]
    early = t.where(F.date_trunc("hour", "ts") < F.lit(cut))
    late = t.where(F.date_trunc("hour", "ts") >= F.lit(cut))

    def drain(df):
        df.coalesce(1).write.mode("append").parquet(stream_dirs["in"])
        q = (
            streaming_ewma_spikes(
                read_transcript_stream(spark, stream_dirs["in"], 10_000)
            )
            .writeStream.format("parquet")
            .option("path", stream_dirs["out"])
            .option("checkpointLocation", stream_dirs["ckpt"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not finish"

    drain(early)
    drain(late)

    got = {
        (r["role"], r["hour"]): (r["n_turns"], r["ewma"], r["is_spike"])
        for r in spark.read.parquet(stream_dirs["out"]).collect()
    }
    # batch reference: the same recurrence in pure python per role
    counts = {}
    for r in (
        t.groupBy("role", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count("*").alias("n"))
        .collect()
    ):
        counts.setdefault(r["role"], {})[r["hour"]] = r["n"]
    expected = {}
    for role, by_hour in counts.items():
        s = None
        for hour in sorted(by_hour):
            x = float(by_hour[hour])
            if s is None:
                spike = False
                s = x
            else:
                spike = x > 2.0 * s
                s = 0.25 * x + 0.75 * s
            expected[(role, hour)] = (by_hour[hour], round(s, 6), spike)
    assert got == expected


def test_streaming_failure_tool_interval_join_matches_batch(spark, stream_dirs):
    """Stream-stream interval join (failures x tool invocations within the
    lookback, same conversation) must be row-set-identical to the batch
    join on the same turns: inner interval joins emit on match, so a full
    availableNow drain reproduces the batch result exactly. Fed in two
    drops so at least one trigger boundary crosses the data."""
    from log_analysis_system_spark.streaming.stream_pipeline import (
        failure_tool_pairs,
        join_failures_to_tools,
        streaming_failure_tool_join,
    )

    t = load_transcripts(spark, SF)
    half_a = t.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    half_b = t.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    half_a.write.mode("append").parquet(stream_dirs["in"])
    half_b.write.mode("append").parquet(stream_dirs["in"])

    stream = read_transcript_stream(
        spark, stream_dirs["in"], max_files_per_trigger=2
    )
    joined = streaming_failure_tool_join(
        stream, lookback="4 hours", watermark="2 hours"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("fail_tool")
        .outputMode("append")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {tuple(r) for r in spark.sql("select * from fail_tool").collect()}

    fails, tools = failure_tool_pairs(t)
    expected = {
        tuple(r)
        for r in join_failures_to_tools(fails, tools, "4 hours").collect()
    }
    assert got == expected
    assert len(got) > 0
    # every pair respects the interval contract
    for r in spark.sql(
        "select count(*) c from fail_tool where tool_ts > fail_ts "
        "or tool_ts < fail_ts - interval 4 hours"
    ).collect():
        assert r.c == 0


def test_streaming_trending_tools_topk_matches_batch(spark, stream_dirs):
    """Per-window top-k tool ranks computed in foreachBatch over finalized
    windows must equal the batch rank for every emitted window; windows
    still open at the final watermark are legitimately withheld."""
    from pyspark.sql import Window as W

    from log_analysis_system_spark.streaming.stream_pipeline import (
        streaming_trending_tools,
        windowed_tool_counts,
    )

    t = load_transcripts(spark, SF)
    half_a = t.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    half_b = t.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    half_a.write.mode("append").parquet(stream_dirs["in"])
    half_b.write.mode("append").parquet(stream_dirs["in"])

    q = streaming_trending_tools(
        read_transcript_stream(spark, stream_dirs["in"], max_files_per_trigger=2),
        stream_dirs["out"],
        stream_dirs["ckpt"],
        window="6 hours",
        watermark="2 hours",
        k=2,
    )
    assert q.awaitTermination(300)
    got = {
        (r.window_start, r.tool, r.n_invocations, r.rank)
        for r in spark.read.parquet(stream_dirs["out"]).collect()
    }

    w = W.partitionBy("window_start").orderBy(F.desc("n_invocations"), "tool")
    batch = {
        (r.window_start, r.tool, r.n_invocations, r.rank)
        for r in windowed_tool_counts(t, window="6 hours")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 2)
        .collect()
    }
    assert got <= batch, "stream emitted a rank batch mode never produces"
    # every fully-emitted window agrees exactly with the batch ranks
    got_windows = {r[0] for r in got}
    assert got and {b for b in batch if b[0] in got_windows} == got
    assert len(got_windows) >= len({b[0] for b in batch}) // 2


def test_trending_tools_batch_writer_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a micro-batch retried after a
    mid-write failure re-runs the writer with the SAME batch_id. The sink
    must replace that batch's partition, not append a duplicate copy."""
    from log_analysis_system_spark.streaming.stream_pipeline import (
        _write_topk_batch,
        windowed_tool_counts,
    )

    out = str(tmp_path / "topk")
    t = load_transcripts(spark, SF)
    counts = windowed_tool_counts(t, window="6 hours")

    _write_topk_batch(counts, 7, out, k=2)
    once = sorted(
        (r.window_start, r.tool, r.n_invocations, r.rank, r.batch_id)
        for r in spark.read.parquet(out).collect()
    )
    assert once, "writer produced no rows"
    # simulated retry: same batch_id, same data -> identical sink contents
    _write_topk_batch(counts, 7, out, k=2)
    twice = sorted(
        (r.window_start, r.tool, r.n_invocations, r.rank, r.batch_id)
        for r in spark.read.parquet(out).collect()
    )
    assert twice == once
    # a DIFFERENT batch_id appends alongside (cross-batch data preserved)
    _write_topk_batch(counts.limit(0), 8, out, k=2)
    after = spark.read.parquet(out)
    assert sorted(
        (r.window_start, r.tool, r.n_invocations, r.rank, r.batch_id)
        for r in after.where(F.col("batch_id") == 7).collect()
    ) == once


def test_trending_tools_batch_writer_goes_through_the_catalog(
    spark, tmp_path, monkeypatch
):
    """The top-k sink is a catalog table: one dynamic-overwrite write of
    the batch's ``batch_id`` partition at ``output_dir``."""
    from log_analysis_system_spark.sources import catalog
    from log_analysis_system_spark.streaming.stream_pipeline import (
        _write_topk_batch,
        windowed_tool_counts,
    )

    calls = []
    real = catalog.write_table

    def recorded(df, base_dir, name, **kw):
        calls.append((base_dir, name, kw))
        real(df, base_dir, name, **kw)

    monkeypatch.setattr(catalog, "write_table", recorded)
    counts = windowed_tool_counts(load_transcripts(spark, SF), window="6 hours")
    _write_topk_batch(counts, 3, str(tmp_path / "topk"), k=2)
    assert calls == [(str(tmp_path), "topk", {
        "partition_cols": ["batch_id"], "mode": "overwrite_partitions",
    })]
    assert spark.read.parquet(str(tmp_path / "topk")).where("batch_id = 3").count() > 0


def test_streaming_jsonl_source_matches_parquet_stream(spark, stream_dirs):
    """The JSONL-drop streaming source feeds streaming_route identically
    to the parquet source over the same turns; malformed lines and
    conv_id-less turns are dropped at the source (the documented
    streaming-side contract — no rejects frame in readStream)."""
    import json as _json
    import pathlib

    from log_analysis_system_spark.functions.parse import parse_transcripts
    from log_analysis_system_spark.streaming.stream_pipeline import (
        read_transcript_stream_jsonl,
    )

    t = load_transcripts(spark, SF).limit(400)
    feed = pathlib.Path(stream_dirs["in"])
    feed.mkdir(parents=True, exist_ok=True)
    rows = t.collect()
    half = len(rows) // 2

    def dump(rs, name):
        with open(feed / name, "w") as f:
            for r in rs:
                f.write(_json.dumps({
                    "conv_id": r.conv_id, "turn_idx": r.turn_idx,
                    "role": r.role, "text": r.text, "tool": r.tool,
                    "ts": r.ts.isoformat() if r.ts else None,
                }) + "\n")

    dump(rows[:half], "drop0.jsonl")
    with open(feed / "drop1.jsonl", "w") as f:
        f.write("this is not json\n")
        f.write('{"turn_idx": 9, "role": "user", "text": "no conv"}\n')

    q = streaming_route(
        read_transcript_stream_jsonl(spark, str(feed)),
        stream_dirs["out"],
        stream_dirs["ckpt"],
    )
    assert q.awaitTermination(300)
    n_first = spark.read.parquet(f"{stream_dirs['out']}/parsed_turns").count()

    # second drop resumes from the checkpoint: only the new file lands
    dump(rows[half:], "drop2.jsonl")
    q2 = streaming_route(
        read_transcript_stream_jsonl(spark, str(feed)),
        stream_dirs["out"],
        stream_dirs["ckpt"],
    )
    assert q2.awaitTermination(300)
    n_total = spark.read.parquet(f"{stream_dirs['out']}/parsed_turns").count()

    expected = (
        parse_transcripts(t, engine="pandas")
        .where(F.col("log_type") == "access")
        .count()
    )
    assert n_total == expected > n_first


def test_streaming_csv_source_matches_parquet_stream(spark, stream_dirs):
    """The CSV-drop streaming source feeds streaming_route identically to
    the parquet source over the same (newline-free) turns; malformed rows
    and conv_id-less rows drop at the source."""
    import pathlib

    from log_analysis_system_spark.functions.parse import parse_transcripts
    from log_analysis_system_spark.streaming.stream_pipeline import (
        read_transcript_stream_csv,
    )

    t = load_transcripts(spark, SF).limit(400)
    feed = pathlib.Path(stream_dirs["in"])
    feed.mkdir(parents=True, exist_ok=True)
    rows = t.collect()

    def esc(v):
        if v is None:
            return "\\N"
        s = str(v)
        if "," in s or '"' in s:
            return '"' + s.replace('"', '""') + '"'
        return s

    with open(feed / "drop0.csv", "w") as f:
        f.write("conv_id,turn_idx,role,text,tool,ts\n")
        for r in rows:
            f.write(",".join([
                esc(r.conv_id), esc(r.turn_idx), esc(r.role), esc(r.text),
                esc(r.tool), esc(r.ts.isoformat() if r.ts else None),
            ]) + "\n")
    with open(feed / "drop1.csv", "w") as f:
        f.write("conv_id,turn_idx,role,text,tool,ts\n")
        f.write("\\N,7,user,orphan row,\\N,2024-01-01T00:00:00\n")
        f.write("c-bad,not_an_int,user,broken idx,\\N,2024-01-01T00:00:01\n")

    q = streaming_route(
        read_transcript_stream_csv(spark, str(feed)),
        stream_dirs["out"],
        stream_dirs["ckpt"],
    )
    assert q.awaitTermination(300)
    n_total = spark.read.parquet(f"{stream_dirs['out']}/parsed_turns").count()
    expected = (
        parse_transcripts(t, engine="pandas")
        .where(F.col("log_type") == "access")
        .count()
    )
    assert n_total == expected > 0
