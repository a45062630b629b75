"""Structured Streaming variant of the parse -> enrich -> route pipeline.

The reference is strictly batch (SURVEY §2.8) and the north rule requires
batch-with-checkpoint; this module is the engine's streaming surface for
users who tail a transcript feed instead of re-running batches:

- ``read_transcript_stream``: file-source stream over a transcripts
  directory (same schema as the batch input); on a real deployment this is
  a Kafka/Iceberg-CDC source with identical downstream code.
- ``streaming_route``: each micro-batch runs the batch route body
  (``pipeline.route_turns``) through ``foreachBatch`` — the same parse +
  enrich + per-row detectors under the caller's ``cfg``, written to the
  same five sinks (parsed, error and reject turns, high and medium row
  events; no low sink), each partitioned by ``batch_id`` with ``bucket``
  kept as a column: one part file per sink per micro-batch input
  partition instead of one per bucket.
- ``streaming_traffic_counts``: tumbling event-time window aggregation with
  a watermark for late turns (the streaming analog of A9/A16).
- ``streaming_failure_tool_join``: stream-stream interval join (failures x
  preceding tool invocations per conversation), watermark-bounded state on
  both sides — the one streaming join topology the ops above don't cover.

Alert throttling across micro-batches rides the same checkpointed
alert-state table as the batch path (state.throttle_alerts inside
foreachBatch) — no separate state store needed beyond Spark's own
checkpoint dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import DEFAULT_CONFIG, RuntimeConfig
from ..functions.parse import parse_transcripts
from ..pipeline import bucket_of, route_turns
from ..sources import catalog
from ..sources.csvfile import CSV_OPTIONS
from ..sources.feed import FEED_SCHEMA, PERMISSIVE, clean_turns

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-source transcript stream (parquet drops into ``path``)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def read_transcript_stream_jsonl(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """JSONL-drop transcript stream — the shape agent frameworks actually
    emit (append a ``.jsonl``/``.json`` file per flush into a drop dir).
    Same schema, options and ts coercion as the batch door
    (``sources.feed``), with one difference: ``readStream`` has no second
    frame for rejects, so malformed and conv_id-less lines are DROPPED
    here (``feed.clean_turns``) rather than routed to a rejects sink.
    Turns that arrive intact but fail the log grammar are still captured:
    ``streaming_route`` writes them to its ``rejects`` sink. Every
    downstream streaming operator consumes this stream unchanged (same
    TRANSCRIPT_SCHEMA columns)."""
    raw = (
        spark.readStream.schema(FEED_SCHEMA)
        .options(**PERMISSIVE, maxFilesPerTrigger=max_files_per_trigger)
        .json(path)
    )
    return clean_turns(raw)


def read_transcript_stream_csv(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """CSV-drop transcript stream — the spreadsheet-export sibling of
    :func:`read_transcript_stream_jsonl`, with the batch CSV door's
    options (``csvfile.CSV_OPTIONS``: header, RFC-4180 escape, null vs
    empty tokens) and the same drop-malformed streaming contract.
    multiLine stays FALSE here: a streaming file source should be
    splittable, so this door requires newline-free ``text`` per record —
    feeds with embedded newlines belong on the JSONL door, which encodes
    them natively.

    Every drop file needs a header row naming the schema's columns: a
    headerless file fails the query instead of losing its first record."""
    raw = (
        spark.readStream.schema(FEED_SCHEMA)
        .options(
            **CSV_OPTIONS,
            multiLine=False,
            maxFilesPerTrigger=max_files_per_trigger,
        )
        .csv(path)
    )
    return clean_turns(raw)


def streaming_route(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 32,
    cfg: RuntimeConfig = DEFAULT_CONFIG,
):
    """Run each micro-batch through the batch route body
    (``pipeline.route_turns``) via foreachBatch: the same parse + enrich +
    per-row detectors under ``cfg``, the same five sinks (``parsed_turns``,
    ``error_turns``, ``rejects``, ``security_events_high``/``_medium``).
    Every sink is partitioned by ``batch_id`` alone (``bucket`` stays a
    column) and every write dynamic-overwrites, so a replayed micro-batch
    (foreachBatch is at-least-once) replaces rather than duplicates its
    output, and each micro-batch writes one part file per sink per input
    partition rather than one per bucket. Returns the started
    StreamingQuery."""

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        route_turns(
            batch_df.withColumn("bucket", bucket_of("conv_id", n_buckets)),
            output_dir, n_buckets, cfg, partition_by={"batch_id": F.lit(batch_id)},
        )

    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_conversation_state(
    stream: DataFrame,
    idle_timeout_ms: int | None = 60_000,
):
    """Custom stateful operator: per-conversation running totals maintained
    across micro-batches with ``applyInPandasWithState``.

    State per ``conv_id``: turn count, max ``turn_idx`` seen, last event
    time. Each micro-batch emits the UPDATED totals for every conversation
    that received turns (update output mode); a conversation idle past
    ``idle_timeout_ms`` of processing time has its state dropped (bounded
    state for a 10^12-turn feed: state size tracks *active* conversations,
    not history). This is the streaming analog of the batch
    ``turns_per_conversation`` aggregate — cross-batch equivalence is
    tested in ``tests/test_streaming.py``.

    ``idle_timeout_ms=None`` disables eviction (``NoTimeout``). Use that
    for ``availableNow`` drains of a bounded backlog: with processing-time
    timeouts the query cannot terminate until every pending state timer
    has fired, so it spins empty micro-batches for the whole timeout after
    the data is exhausted. Timeout eviction is for continuously-running
    deployments.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("n_turns", LongType()),
            StructField("max_turn_idx", IntegerType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n_turns", LongType()),
            StructField("max_turn_idx", IntegerType()),
            StructField("last_ts_epoch_us", LongType()),
        ]
    )

    # "no timestamp seen yet" sentinel: far below any representable event
    # time, so a legitimate ts of exactly epoch 0 (or pre-1970) round-trips
    # instead of collapsing to NULL via a falsy-zero check.
    _NO_TS = -(1 << 62)

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (conv_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        n, mx, last_us = state.get if state.exists else (0, -1, _NO_TS)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                # both maxes null-guarded: an all-null chunk yields NaN/NaT
                # (the schema allows null turn_idx, and batch F.max skips
                # nulls) — int(NaN) would crash the streaming query
                idx_max = pdf["turn_idx"].max()
                if pd.notna(idx_max):
                    mx = max(mx, int(idx_max))
                ts_max = pdf["ts"].max()
                if pd.notna(ts_max):
                    last_us = max(last_us, int(ts_max.value // 1000))
        state.update((n, mx, last_us))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "n_turns": [n],
                "max_turn_idx": [mx],
                "last_ts": [
                    pd.Timestamp(last_us * 1000) if last_us != _NO_TS else pd.NaT
                ],
            }
        )

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream.groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )


def streaming_dedup(
    stream: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup on the turn key: drops redelivered
    ``(conv_id, turn_idx)`` rows from an at-least-once feed.

    ``dropDuplicatesWithinWatermark`` keeps a key's state only until the
    event-time watermark passes its first sighting — bounded state on an
    unbounded feed (plain ``dropDuplicates`` on a stream retains every key
    forever). Duplicates arriving within the watermark horizon are
    suppressed; later redeliveries are the source's contract to avoid.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def streaming_session_stats(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-conversation gap sessions on a stream: Spark's native
    ``session_window`` merges a conversation's turns into sessions closed
    by ``gap`` of event-time silence; the watermark finalizes (and evicts
    the state of) sessions once no earlier turn can arrive. The streaming
    analog of ``relational.session_window_stats``."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns",
        )
    )


def streaming_traffic_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time request counts with late-data watermark (A9's
    streaming analog). Append-mode-safe: emits a window only once its
    watermark passes."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_turns",
        )
    )


DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source document stream (parquet drops into ``path``) — the
    ingest feed for streaming corpus curation."""
    return (
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def dedup_batch_handler(
    corpus_docs: DataFrame | None,
    output_dir: str,
    corpus_prefix: str | None = None,
):
    """The foreachBatch handler for streaming_incremental_dedup, exposed
    so tests can replay a (batch_df, batch_id) pair directly. foreachBatch
    is at-least-once: partitioning by batch_id + dynamic overwrite makes a
    replayed batch (crash between sink write and checkpoint offset commit)
    REPLACE its own partition instead of appending duplicate matches.

    With ``corpus_prefix`` set, each batch probes the PRE-MATERIALIZED
    bucketed shingle/band tables written by
    ``operators.dedup.materialize_corpus_lsh`` — the corpus is never
    re-shingled per micro-batch. Without it, the legacy recompute path
    shingles ``corpus_docs`` inside every batch (correct, but per-batch
    cost carries a corpus-sized term — fine only at test scale).
    """
    from ..operators import dedup as dd

    if (corpus_docs is None) == (corpus_prefix is None):
        raise ValueError(
            "pass exactly one of corpus_docs or corpus_prefix"
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        if corpus_prefix is not None:
            matches = dd.minhash_lsh_incremental_probed(
                batch_df, batch_df.sparkSession, corpus_prefix
            )
        else:
            matches = dd.minhash_lsh_incremental(batch_df, corpus_docs)
        catalog.write_table(
            matches.withColumn("batch_id", F.lit(batch_id)),
            output_dir,
            "near_dup_matches",
            partition_cols=["batch_id"],
            mode="overwrite_partitions",
        )

    return handle


def streaming_incremental_dedup(
    stream_docs: DataFrame,
    corpus_docs: DataFrame | None,
    output_dir: str,
    checkpoint_dir: str,
    corpus_prefix: str | None = None,
):
    """Streaming near-dup screening: every arriving micro-batch of
    documents is MinHash/LSH-probed against the corpus (band join, then
    exact-Jaccard verify), and verified matches land in the
    ``near_dup_matches`` sink.

    This is the daily-ingest D23 shape promoted to a stream, and the
    100 TB plan is the ``corpus_prefix`` mode: run
    ``operators.dedup.materialize_corpus_lsh`` ONCE (bucketed corpus
    shingle + band tables — the 10^12-doc corpus is shingled exactly
    once), then every micro-batch probes those tables via
    ``minhash_lsh_incremental_probed`` and pays batch-proportional
    compute only (the drained plan shows FileScans of the two
    materialized tables, never the corpus source — plan-asserted in
    tests/test_streaming_dedup.py). ``corpus_docs`` mode re-shingles the
    corpus inside each batch — the recompute fallback for ad-hoc runs.
    Both modes emit matches identical to the one-shot batch operator
    (asserted in tests/test_streaming_dedup.py). Returns the started
    StreamingQuery.
    """
    handle = dedup_batch_handler(corpus_docs, output_dir, corpus_prefix)

    return (
        stream_docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_corpus_score(
    stream_docs: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
):
    """Streaming corpus scoring — curation at ingestion: every arriving
    micro-batch of documents gets the SAME one-scan row-local score
    projection as the batch pipeline's score stage (token/quality stats,
    the Gopher rule battery + ``gopher_keep``, language ID, deterministic
    split — ``corpus_pipeline.score_projection``, shared verbatim), and
    appends to the ``doc_scores_stream`` parquet sink.

    Because every signal is row-local (zero shuffles, zero state), the
    projection is stream-safe as a plain transformation: no foreachBatch,
    no watermark, no state store — the micro-batch IS the unit of work,
    and exactly-once follows from the file sink's transactional commit
    log. Per-batch cost tracks the batch alone; this is the 100 TB shape
    where scoring rides the ingest stream and only documents passing
    ``gopher_keep``/``quality_keep`` ever reach the (much costlier)
    global dedup stage. Returns the started StreamingQuery.

    Batch equivalence is asserted in tests: draining the stream over a
    corpus directory produces row-for-row the batch ``score_projection``
    of the same corpus.
    """
    from ..corpus_pipeline import score_projection

    scored = score_projection(stream_docs, n_buckets)
    return (
        scored.writeStream.format("parquet")
        .option("path", f"{output_dir}/doc_scores_stream")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_ewma_spikes(
    stream: DataFrame,
    alpha: float = 0.25,
    spike_factor: float = 2.0,
):
    """Streaming analog of ``relational.ewma_traffic``: per-role hourly
    turn counts EWMA-smoothed ACROSS micro-batches with
    ``applyInPandasWithState`` — the sequential-state recurrence carried
    in one double of state per role, so a spike alert fires inside the
    micro-batch that contains it instead of on the next batch rerun.

    Contract (documented, test-enforced): the feed delivers whole hour
    buckets per trigger in event-time order (file-per-hour drops — the
    shape ``maxFilesPerTrigger`` file sources and hourly Kafka compaction
    jobs both produce). An hour split across triggers would be smoothed
    as two buckets; the production hardening is a watermark + tumbling-
    window pre-aggregation emitting FINALIZED windows into this operator
    unchanged (the state update is identical).

    State per role: (ewma, last_hour_us). Each batch buckets its rows by
    hour (pandas-side, on already-grouped data), sorts, and continues the
    recurrence from state; emits one row per processed bucket. Exactly
    the batch operator's arithmetic (alpha an exact binary fraction, a
    fixed-order IEEE chain), so a drained backlog reproduces
    ``ewma_traffic`` bit-for-bit — asserted in
    ``tests/test_streaming.py``.

    Scale: state is 2 scalars per role; per-batch work is the (role,
    hour) bucket count — the event volume never enters Python row-wise
    (Arrow batches in, one groupby out).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("role", StringType()),
            StructField("hour", TimestampType()),
            StructField("n_turns", LongType()),
            StructField("ewma", DoubleType()),
            StructField("is_spike", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ewma", DoubleType()),
            StructField("last_hour_us", LongType()),
        ]
    )
    _NO_TS = -(1 << 62)

    def update(key, pdfs, state: GroupState):
        (role,) = key
        if state.hasTimedOut:  # pragma: no cover - NoTimeout below
            state.remove()
            return
        s, last_us = state.get if state.exists else (None, _NO_TS)
        counts: dict[int, int] = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            hrs = pdf["ts"].dt.floor("h")
            for hour, n in hrs.value_counts().items():
                us = int(hour.value // 1000)
                counts[us] = counts.get(us, 0) + int(n)
        if not counts:
            return
        out = {k: [] for k in ("role", "hour", "n_turns", "ewma", "is_spike")}
        for us in sorted(counts):
            x = float(counts[us])
            if s is None:
                spike = False
                s = x
            else:
                spike = x > spike_factor * s
                s = alpha * x + (1.0 - alpha) * s
            out["role"].append(role)
            out["hour"].append(pd.Timestamp(us * 1000))
            out["n_turns"].append(counts[us])
            out["ewma"].append(round(s, 6))
            out["is_spike"].append(spike)
            last_us = max(last_us, us)
        state.update((s, last_us))
        yield pd.DataFrame(out)

    return (
        stream.groupBy("role")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def failure_tool_pairs(turns: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a (possibly streaming) transcript frame into the two sides of
    the failure<-tool correlation join. Row-local only (parse + filter), so
    the same code builds both the streaming and the batch-oracle sides.

    - failures: turns whose payload parses to an error log line or a 5xx
      access line (the reference's alert conditions, SURVEY §2.6 O4/O5);
    - tool invocations: turns carrying a non-null ``tool``.
    """
    parsed = parse_transcripts(turns)
    fails = parsed.where(
        (F.col("log_type") == "error") | (F.col("status") >= 500)
    ).select(
        "conv_id",
        F.col("turn_idx").alias("fail_turn_idx"),
        F.col("ts").alias("fail_ts"),
        F.col("log_type").alias("fail_type"),
        F.col("status").alias("fail_status"),
    )
    tools = turns.where(F.col("tool").isNotNull()).select(
        F.col("conv_id").alias("tool_conv_id"),
        "tool",
        F.col("turn_idx").alias("tool_turn_idx"),
        F.col("ts").alias("tool_ts"),
    )
    return fails, tools


def join_failures_to_tools(
    fails: DataFrame, tools: DataFrame, lookback: str = "30 minutes"
) -> DataFrame:
    """The correlation join itself: every failure matched to the SAME
    conversation's tool invocations in the ``lookback`` window ending at
    the failure (which tool calls preceded this 5xx / error line?).

    Works identically on static frames (the batch oracle) and on two
    watermarked streams (see ``streaming_failure_tool_join``): the
    condition is an equi-join on conv_id plus an event-time range, exactly
    the shape Structured Streaming's stream-stream join requires to bound
    its state.
    """
    return fails.join(
        tools,
        (F.col("conv_id") == F.col("tool_conv_id"))
        & (F.col("tool_ts") <= F.col("fail_ts"))
        & (F.col("tool_ts") >= F.col("fail_ts") - F.expr(f"INTERVAL {lookback}")),
        "inner",
    ).select(
        "conv_id",
        "fail_turn_idx",
        "fail_ts",
        "fail_type",
        "fail_status",
        "tool",
        "tool_turn_idx",
        "tool_ts",
    )


def streaming_failure_tool_join(
    stream: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM interval join — the one streaming join topology the
    other operators here don't cover (streaming_route's dim enrich is
    stream-static; this is stream x stream with event-time bounds on both
    sides).

    Two filtered views of the one transcript feed — failures (error /
    5xx turns, via the stream-safe row-local parse) and tool invocations —
    are watermarked independently and inner-joined on conv_id plus a
    bounded time range (``fail_ts - lookback <= tool_ts <= fail_ts``).

    State bound (the reason the range condition is mandatory): each side
    buffers only rows inside watermark + lookback of the stream's maximum
    event time — per-key state is (turns-per-conv-per-horizon), not the
    stream's history. Inner-join matches emit inside the micro-batch that
    completes them; state for rows older than the combined horizon is
    evicted at each trigger. A 10^12-turn feed holds state proportional to
    the horizon's turn volume only.

    Matches the batch ``join_failures_to_tools`` on the same input set-
    exactly (asserted in tests/test_streaming.py): inner interval joins
    have no emission dependence on watermark timing, only state-eviction
    dependence, so a single availableNow drain reproduces the batch join.
    """
    fails, tools = failure_tool_pairs(stream)
    return join_failures_to_tools(
        fails.withWatermark("fail_ts", watermark),
        tools.withWatermark("tool_ts", watermark),
        lookback,
    )


def windowed_tool_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window invocation counts per tool —
    append-mode-safe: a (window, tool) row emits exactly once, when the
    watermark passes the window end. Works identically on a static frame
    (the batch oracle side, minus the watermark)."""
    return (
        stream.where(F.col("tool").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "tool")
        .agg(F.count("*").alias("n_invocations"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "tool",
            "n_invocations",
        )
    )


def _write_topk_batch(
    batch_df: DataFrame, batch_id: int, output_dir: str, k: int
) -> None:
    """Idempotent per-micro-batch top-k writer (module-level so the retry
    contract is directly testable): rank within each finalized window,
    keep k, then dynamically overwrite THIS batch_id's partition of the
    ``output_dir`` table (through ``catalog.write_table``) only —
    re-running with the same batch_id replaces rather than duplicates."""
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start").orderBy(F.desc("n_invocations"), "tool")
    ranked = (
        batch_df.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
    )
    base, name = os.path.split(output_dir.rstrip("/"))
    catalog.write_table(
        ranked, base or ".", name,
        partition_cols=["batch_id"], mode="overwrite_partitions",
    )


def streaming_trending_tools(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    k: int = 3,
):
    """Windowed TOP-K on a stream: per finalized event-time window, the k
    most-invoked tools — the trending-dashboard shape (rank-within-window
    is not expressible as a streaming aggregation, so the ranking runs
    per micro-batch in ``foreachBatch`` over already-FINALIZED windows).

    Correctness contract: in append mode a window's (window, tool) rows
    all emit in the SAME micro-batch (the aggregation state for a window
    flushes in one piece when the watermark crosses its end), so the
    batch-local rank over ``partitionBy(window_start)`` sees every tool of
    each emitted window — ranks equal the batch computation exactly
    (asserted in tests/test_streaming.py). Ties break by tool name.

    Sink idempotence: ``foreachBatch`` is at-least-once — a micro-batch
    retried after a mid-write failure re-runs ``write_topk`` with the SAME
    ``batch_id``. A plain append would duplicate its rows, so the sink
    partitions by ``batch_id`` and dynamically overwrites exactly that
    partition: the retry replaces its own earlier (possibly partial)
    output and no other batch's, making the observable sink exactly-once.

    Scale: the windowed count state is |windows-in-horizon| x |tools| —
    bounded; each foreachBatch ranks only the windows finalizing in that
    trigger (K rows per window survive to the sink).
    """
    counts = windowed_tool_counts(stream, window, watermark)

    def write_topk(batch_df: DataFrame, batch_id: int) -> None:
        _write_topk_batch(batch_df, batch_id, output_dir, k)

    return (
        counts.writeStream.foreachBatch(write_topk)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
