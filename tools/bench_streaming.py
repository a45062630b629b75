"""Streaming-surface throughput bench (VERDICT r2 item 9).

Generates a synthetic transcript backlog (many parquet files, so the file
source has real micro-batch granularity), then drains it with each
streaming operator under ``availableNow`` and reports turns/sec:

- ``route``: the full parse -> enrich -> detect -> per-severity-sink
  foreachBatch pipeline (real sink writes — that IS its job);
- ``session_stats``: native session_window agg -> noop-equivalent memory
  sink (compute only);
- ``dedup``: dropDuplicatesWithinWatermark -> memory sink;
- ``conv_state``: applyInPandasWithState per-conversation totals.

Usage: python tools/bench_streaming.py [n_turns] [n_files]
Prints one JSON line; BASELINE.md records results + host-probe context.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 64

    from hostprobe import probe

    from log_analysis_system_spark.datagen.transcripts import synth_transcripts
    from log_analysis_system_spark.session import get_spark
    from log_analysis_system_spark.streaming import stream_pipeline as sp

    host = probe()
    spark = get_spark("bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="bench_stream_", dir=base)
    inp = os.path.join(work, "transcripts")
    synth_transcripts(spark, n_turns, max(100, n_turns // 200)).repartition(
        n_files
    ).write.parquet(inp)

    results: dict[str, dict] = {}

    def timed(name: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        results[name] = {
            "wall_s": round(wall, 2),
            "turns_per_sec": round(n_turns / wall, 1),
        }

    def drain(df, out_name: str, **write_kw) -> None:
        q = (
            df.writeStream.format("memory")
            .queryName(out_name)
            .option(
                "checkpointLocation", os.path.join(work, f"ckpt_{out_name}")
            )
            .outputMode(write_kw.pop("output_mode", "update"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # 1) full route pipeline with real sinks
    out_dir = os.path.join(work, "route_out")
    timed(
        "route",
        lambda: sp.streaming_route(
            sp.read_transcript_stream(spark, inp, max_files_per_trigger=16),
            out_dir,
            os.path.join(work, "ckpt_route"),
        ).awaitTermination(),
    )

    # 2) session-window aggregation (append once watermark passes)
    timed(
        "session_stats",
        lambda: drain(
            sp.streaming_session_stats(
                sp.read_transcript_stream(spark, inp, max_files_per_trigger=16)
            ),
            "sess",
            output_mode="append",
        ),
    )

    # 3) watermarked streaming dedup
    timed(
        "dedup",
        lambda: drain(
            sp.streaming_dedup(
                sp.read_transcript_stream(spark, inp, max_files_per_trigger=16)
            ),
            "dedup",
            output_mode="append",
        ),
    )

    # 4) custom stateful per-conversation totals
    timed(
        "conv_state",
        lambda: drain(
            sp.streaming_conversation_state(
                sp.read_transcript_stream(spark, inp, max_files_per_trigger=16),
                idle_timeout_ms=None,
            ),
            "convstate",
            output_mode="update",
        ),
    )

    # 4b) sequential-state EWMA spike detection (applyInPandasWithState,
    # two scalars of state per role; session-4 addition to the bench)
    timed(
        "ewma_spikes",
        lambda: drain(
            sp.streaming_ewma_spikes(
                sp.read_transcript_stream(spark, inp, max_files_per_trigger=16)
            ),
            "ewma",
            output_mode="append",
        ),
    )

    # 4c) stream-stream interval join: failures x tool invocations within
    # the lookback, watermark-bounded state both sides (session-4 addition)
    timed(
        "failure_tool_join",
        lambda: drain(
            sp.streaming_failure_tool_join(
                sp.read_transcript_stream(spark, inp, max_files_per_trigger=16),
                lookback="4 hours",
            ),
            "failtool",
            output_mode="append",
        ),
    )

    # 4d) windowed top-k trending tools (append-mode windowed counts +
    # foreachBatch rank over finalized windows; session-4 addition)
    topk_out = os.path.join(work, "topk_out")
    t0 = time.perf_counter()
    sp.streaming_trending_tools(
        sp.read_transcript_stream(spark, inp, max_files_per_trigger=16),
        topk_out,
        os.path.join(work, "ckpt_topk"),
    ).awaitTermination()
    results["trending_tools"] = {
        "wall_s": round(time.perf_counter() - t0, 2),
        "turns_per_sec": round(n_turns / (time.perf_counter() - t0), 1),
    }

    # 5) incremental LSH dedup drain over the sf0.1 document corpus
    # (round-4: the streaming<->batch conservation surface, benched at the
    # same scale its equality test runs — odd docs stream against the even
    # corpus; docs/sec over the streamed side)
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    corpus.persist()
    corpus.count()
    new = docs.where(F.col("doc_id") % 2 == 1)
    n_new = new.count()
    doc_feed = os.path.join(work, "doc_feed")
    new.repartition(8).write.parquet(doc_feed)

    # one-time corpus-side materialization (the 10^12-doc corpus is
    # shingled exactly once; timed separately — it amortizes over every
    # later ingest batch), then the drain probes the bucketed tables:
    # per-batch cost tracks the batch, not the corpus (round-5 wiring of
    # minhash_lsh_incremental_probed into the streaming path)
    from log_analysis_system_spark.operators import dedup as dd

    # per-run prefix: concurrent runs share the metastore's default
    # database and must not drop each other's tables
    corpus_prefix = f"bench_stream_corpus_{os.getpid()}"
    t0 = time.perf_counter()
    sh_name, band_name = dd.materialize_corpus_lsh(
        corpus, corpus_prefix, path=os.path.join(work, "corpus_lsh")
    )
    mat_wall = time.perf_counter() - t0

    t0 = time.perf_counter()
    sp.streaming_incremental_dedup(
        sp.read_document_stream(spark, doc_feed, max_files_per_trigger=4),
        None,
        os.path.join(work, "dedup_out"),
        os.path.join(work, "ckpt_incdedup"),
        corpus_prefix=corpus_prefix,
    ).awaitTermination()
    wall = time.perf_counter() - t0
    corpus.unpersist()
    spark.sql(f"DROP TABLE IF EXISTS {sh_name}")
    spark.sql(f"DROP TABLE IF EXISTS {band_name}")
    results["incremental_dedup_sf01"] = {
        "wall_s": round(wall, 2),
        "docs_per_sec": round(n_new / wall, 1),
        "n_new_docs": n_new,
        "corpus_materialize_s": round(mat_wall, 2),
    }

    # 6) streaming corpus scoring over the full sf0.1 document corpus
    # (round-4: curation-at-ingestion — the one-scan score projection as a
    # plain stream transformation; docs/sec over the streamed corpus)
    n_docs = docs.count()
    score_feed = os.path.join(work, "score_feed")
    docs.repartition(8).write.parquet(score_feed)
    t0 = time.perf_counter()
    sp.streaming_corpus_score(
        sp.read_document_stream(spark, score_feed, max_files_per_trigger=4),
        os.path.join(work, "score_out"),
        os.path.join(work, "ckpt_score"),
    ).awaitTermination()
    wall = time.perf_counter() - t0
    results["corpus_score_sf01"] = {
        "wall_s": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "n_docs": n_docs,
    }

    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "n_turns": n_turns,
        "n_files": n_files,
        "cpus": os.cpu_count(),
        "host_probe": host,
        "operators": results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
