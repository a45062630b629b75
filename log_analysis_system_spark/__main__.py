"""CLI driver: ``python -m log_analysis_system_spark``.

Mirrors the reference's argparse entry point (``main.py:48-78`` —
``--config --log-dir --analyze-only``) over the Spark pipeline:

    python -m log_analysis_system_spark \
        --input /root/testdata/sf0.001 --output /tmp/out \
        [--run-id RID] [--no-resume] [--analyze-only] \
        [--config config.yaml] [--patterns patterns.yaml] \
        [--suspicious-ips ips.txt] [--buckets 32] [--master local[*]]

``--input`` accepts a testdata scale dir (containing ``events.parquet`` —
transcripts are rendered from it deterministically), a directory of raw
``*.log`` files (the reference's primary front door — read line-by-line
with per-file lineage, see ``sources/logfiles.py``), or a parquet of
transcripts (must carry ``conv_id, turn_idx, text`` columns).
Prints a one-line JSON run summary to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import uuid


def _positive_int(v: str) -> int:
    n = int(v)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {n}")
    return n


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m log_analysis_system_spark",
        description="PySpark log-analysis pipeline (parse -> enrich -> "
        "route -> aggregate) with bucketed resume.",
    )
    p.add_argument("--input", default=None,
                   help="scale dir with events.parquet, a directory of raw "
                   "*.log files, or a transcripts parquet (not needed with "
                   "--report / --analyze-only)")
    p.add_argument("--output", required=True, help="output table directory")
    p.add_argument("--run-id", default=None,
                   help="run id for lineage/resume (default: random)")
    p.add_argument("--no-resume", action="store_true",
                   help="ignore prior state; reprocess every bucket")
    p.add_argument("--analyze-only", action="store_true",
                   help="skip parsing; re-run analysis over the existing "
                   "parsed_turns sink (reference main.py --analyze-only)")
    p.add_argument("--report", action="store_true",
                   help="render the console report from the sinks under "
                   "--output and exit (reference dashboard.py display)")
    p.add_argument("--corpus", action="store_true",
                   help="run the corpus-curation pipeline (score -> dedup "
                   "-> finalize) over a documents table instead of the log "
                   "pipeline; --input is a documents parquet or a scale dir "
                   "containing documents.parquet")
    p.add_argument("--config", default=None, help="config.yaml (reference schema)")
    p.add_argument("--patterns", default=None, help="patterns.yaml (reference schema)")
    p.add_argument("--suspicious-ips", default=None, help="suspicious_ips.txt")
    p.add_argument("--buckets", type=_positive_int, default=32,
                   help="conv_id hash buckets (lineage/resume granularity)")
    p.add_argument("--master", default=None,
                   help="spark master (default local[$SPARK_GRAFT_CPUS]); "
                   "pass '' to defer to the cluster manager")
    return p


def _ingest_feed(spark, reader, parts, output_dir, kind: str):
    """Shared (turns, rejects) ingest policy for the JSONL/CSV front
    doors: route rejects to <output>/rejects_<kind>, or — with no output
    dir — surface that rows were dropped.

    The feed is scanned twice: once here for its rejects, and once more
    when the pipeline reads the returned ``turns``."""
    turns, rejects = reader(spark, parts)
    if output_dir:
        from .pipeline import write_observed

        # one write job that counts its own rows (a rejects.count() here
        # would be a third full scan of the feed)
        rej_dir = os.path.join(output_dir, f"rejects_{kind}")
        n_rej = write_observed(rejects, output_dir, f"rejects_{kind}")
        if n_rej:
            print(f"{kind} ingest: {n_rej} rejected rows "
                  f"(malformed or missing conv_id) -> {rej_dir}",
                  file=sys.stderr)
    elif rejects.take(1):
        # no sink to capture them: still surface the drop (take(1)
        # stops at the first reject; a clean feed is scanned in full)
        print(f"{kind} ingest: feed has rejected rows (malformed or "
              "missing conv_id) and no output dir to capture them — "
              "pass output_dir to write the rejects sink",
              file=sys.stderr)
    return turns


def load_input(spark, path: str, output_dir: str | None = None):
    import glob as globmod

    from .sources.events_transcripts import render_transcripts
    from .sources.logfiles import read_log_dir

    events_path = os.path.join(path, "events.parquet")
    if os.path.isdir(path) and os.path.exists(events_path):
        events = spark.read.parquet(events_path)
        events = events.repartition(spark.sparkContext.defaultParallelism)
        return render_transcripts(events)
    # raw .log directory: the reference's primary front door
    # (helpers.py:95-119 glob + main.py:113-145 per-line read)
    if os.path.isdir(path) and globmod.glob(os.path.join(path, "*.log")):
        return read_log_dir(spark, path)
    # JSONL transcript feed (agent-framework exports): schema-declared
    # read; malformed lines and conv_id-less turns go to an ingest-level
    # rejects sink beside the pipeline's own (which covers unparseable
    # PAYLOADS; a line that never became a turn has no bucket to land in).
    # *.jsonl always marks a JSONL feed; bare *.json parts (the names
    # Spark's json sink gives write_transcripts_jsonl output) count ONLY
    # when the directory holds no parquet parts — otherwise a stray
    # manifest.json beside a transcripts parquet table would hijack the
    # parquet fallback below and silently ingest zero turns.
    if os.path.isdir(path):
        jsonl_parts = globmod.glob(os.path.join(path, "*.jsonl"))
        if not jsonl_parts and not globmod.glob(
            os.path.join(path, "*.parquet")
        ):
            jsonl_parts = globmod.glob(os.path.join(path, "*.json"))
    else:
        jsonl_parts = []
    if jsonl_parts:
        from .sources.jsonl import read_transcripts_jsonl

        return _ingest_feed(
            spark, read_transcripts_jsonl, sorted(jsonl_parts),
            output_dir, "jsonl",
        )
    # CSV transcript feed (spreadsheet-born exports): same contract and
    # sidecar rule as *.json — only when no parquet parts share the dir
    if os.path.isdir(path) and not globmod.glob(
        os.path.join(path, "*.parquet")
    ):
        csv_parts = globmod.glob(os.path.join(path, "*.csv"))
        if csv_parts:
            from .sources.csvfile import read_transcripts_csv

            return _ingest_feed(
                spark, read_transcripts_csv, sorted(csv_parts),
                output_dir, "csv",
            )
    # single raw log file (reference dashboard.py --logfile) — sniff the
    # parquet magic so a .pq/.parq transcripts file isn't ingested as text
    if os.path.isfile(path) and not path.endswith(".parquet"):
        with open(path, "rb") as fh:
            is_parquet = fh.read(4) == b"PAR1"
        if not is_parquet:
            return read_log_dir(
                spark, os.path.dirname(path) or ".", os.path.basename(path)
            )
    # parquet-table fallback. When the directory's parts carry the
    # standard .parquet suffix, filter the scan to them so a stray
    # sidecar (manifest.json, README, checksums) can't fail the footer
    # read; a directory of suffix-less parts reads unfiltered as before.
    reader = spark.read
    if os.path.isdir(path) and globmod.glob(os.path.join(path, "*.parquet")):
        reader = reader.option("pathGlobFilter", "*.parquet")
    df = reader.parquet(path)
    missing = {"conv_id", "turn_idx", "text"} - set(df.columns)
    if missing:
        raise SystemExit(
            f"--input parquet is missing transcript columns: {sorted(missing)}"
        )
    return df


def main(argv: list[str] | None = None) -> int:
    parser = build_arg_parser()
    args = parser.parse_args(argv)
    if not args.input and (args.corpus or not (args.report or args.analyze_only)):
        parser.error("--input is required unless --report/--analyze-only")

    from .config import DEFAULT_CONFIG, load_config
    from .pipeline import run_pipeline
    from .session import get_spark

    if args.config or args.patterns or args.suspicious_ips:
        cfg = load_config(
            config_path=args.config,
            patterns_path=args.patterns,
            suspicious_ips_path=args.suspicious_ips,
        )
    else:
        cfg = DEFAULT_CONFIG

    from pyspark.sql import SparkSession

    # get_spark is getOrCreate: only stop the session if WE created it
    # (in-process callers — tests, notebooks — keep theirs alive)
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="log-analysis-system-cli", master=args.master)
    try:
        if args.report:
            from .report import render_report

            print(render_report(spark, args.output))
            return 0
        if args.corpus:
            from .corpus_pipeline import run_corpus_pipeline

            docs_path = args.input
            if os.path.isdir(docs_path) and os.path.exists(
                os.path.join(docs_path, "documents.parquet")
            ):
                docs_path = os.path.join(docs_path, "documents.parquet")
            docs = spark.read.parquet(docs_path)
            missing = {"doc_id", "text"} - set(docs.columns)
            if missing:
                raise SystemExit(
                    f"--corpus input is missing columns: {sorted(missing)}"
                )
            cres = run_corpus_pipeline(
                spark, docs, args.output,
                run_id=args.run_id or uuid.uuid4().hex[:12],
                n_buckets=args.buckets, resume=not args.no_resume,
            )
            print(json.dumps({
                "run_id": cres.run_id,
                "stages_ran": cres.stages_ran,
                "buckets_processed": len(cres.buckets_processed),
                "buckets_skipped": len(cres.buckets_skipped),
                "sink_counts": cres.sink_counts,
            }))
            return 0
        transcripts = (
            None
            if args.analyze_only
            else load_input(spark, args.input, output_dir=args.output)
        )
        result = run_pipeline(
            spark,
            transcripts,
            args.output,
            run_id=args.run_id or uuid.uuid4().hex[:12],
            n_buckets=args.buckets,
            resume=not args.no_resume,
            analyze_only=args.analyze_only,
            cfg=cfg,
        )
        print(json.dumps({
            "run_id": result.run_id,
            "buckets_processed": len(result.buckets_processed),
            "buckets_skipped": len(result.buckets_skipped),
            "aggregate_ran": result.aggregate_ran,
            "sink_counts": result.sink_counts,
        }))
    finally:
        if not preexisting:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
