"""JSON-lines transcript ingest — the third front door beside parquet
tables and raw ``.log`` directories (``logfiles.py``).

Agent-framework exports and event-bus dumps commonly arrive as JSONL, one
turn object per line. This reader maps that feed onto the transcripts
contract the whole parse -> enrich -> route -> aggregate pipeline
consumes, under the text-feed contract of ``sources.feed`` (declared
schema, PERMISSIVE corrupt-line capture, ``missing_conv_id`` rejects,
null-on-failure ``ts``). A malformed line is rejected as
``malformed_json``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .feed import FEED_SCHEMA, PERMISSIVE, serialize_turns, split_feed


def read_transcripts_jsonl(
    spark: SparkSession, path: str | list[str]
) -> tuple[DataFrame, DataFrame]:
    """Read a JSONL transcript feed (one glob/path or a list of them —
    ``load_input`` passes ``*.jsonl`` parts, or bare ``*.json`` parts for
    a parquet-free directory, so :func:`write_transcripts_jsonl` output
    ingests directly); returns ``feed.split_feed``'s ``(turns,
    rejects)``: turns with ``ts`` as timestamp_ntz (matching the parquet
    tables), rejects as ``(raw, reason)`` for the rejects sink."""
    raw = spark.read.schema(FEED_SCHEMA).options(**PERMISSIVE).json(path)
    return split_feed(raw, "malformed_json")


def write_transcripts_jsonl(df: DataFrame, path: str) -> None:
    """Round-trip sink: one JSON object per line, ts serialized ISO-8601
    (the format :func:`read_transcripts_jsonl` parses back losslessly)."""
    serialize_turns(df).write.mode("overwrite").json(path)
