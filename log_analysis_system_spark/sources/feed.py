"""The text-feed contract shared by the JSONL and CSV doors, batch and
stream (``sources.jsonl``, ``sources.csvfile``, and the
``read_transcript_stream_jsonl``/``_csv`` streaming sources).

Every text door maps its feed onto the transcripts contract
``(conv_id, turn_idx, role, text, tool, ts)`` under one rule:

- **Explicit schema, never inference.** :data:`FEED_SCHEMA` is declared,
  not discovered: inference runs a full pre-scan, a second pass over the
  feed before any work starts. ``ts`` arrives as a string (JSON has no
  timestamp type, and letting the reader coerce it would couple the
  contract to its timestamp-format session options).
- **PERMISSIVE corrupt-record capture, never fail/drop.** A malformed
  record must neither kill the job (FAILFAST) nor vanish silently
  (DROPMALFORMED): :data:`PERMISSIVE` parks its raw text in
  ``_corrupt_record``.
- **conv_id is required.** The pipeline buckets, sessionizes and resumes
  on ``conv_id``; a record without one is rejected
  (``missing_conv_id``), not defaulted.
- **Null-on-failure ts coercion.** ``ts`` parses with
  ``try_to_timestamp`` under :data:`TS_FMT`: a malformed value is NULL,
  not an exception (the zero-default coercion policy, SURVEY P5).

Batch doors return :func:`split_feed`'s ``(turns, rejects)`` so malformed
input lands in the rejects-sink flow (SURVEY P7). Stream doors return
:func:`clean_turns` alone: ``readStream`` has no second frame to route
rejects into, so they drop them at the source.

The two sides keep different ``ts`` types on purpose. Batch turns carry
``timestamp_ntz`` to match the parquet transcripts tables the batch
pipeline also reads, so every batch door yields one schema. Stream turns
carry ``timestamp`` to match ``TRANSCRIPT_SCHEMA``, the schema of the
parquet stream source, so every streaming operator (event-time windows,
watermarks, stateful ops) consumes the three stream sources unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

FEED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", StringType()),
        StructField("_corrupt_record", StringType()),
    ]
)

TS_FMT = "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]"

PERMISSIVE = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"}

_TURN_FIELDS = ("conv_id", "turn_idx", "role", "text", "tool")


def clean_turns(raw: DataFrame, ts_type: str = "timestamp") -> DataFrame:
    """Non-corrupt rows of ``raw`` that carry a ``conv_id``, projected onto
    the transcripts contract with ``ts`` parsed to ``ts_type``."""
    return raw.where(
        F.col("_corrupt_record").isNull() & F.col("conv_id").isNotNull()
    ).select(
        *_TURN_FIELDS,
        F.try_to_timestamp(F.col("ts"), F.lit(TS_FMT)).cast(ts_type).alias("ts"),
    )


def serialize_turns(df: DataFrame) -> DataFrame:
    """The transcripts columns of ``df`` as the round-trip sinks write
    them: ``ts`` serialized ISO-8601 to the microsecond, which
    :data:`TS_FMT` parses back losslessly."""
    return df.select(
        *_TURN_FIELDS,
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
    )


def split_feed(
    raw: DataFrame, malformed_reason: str
) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE read of :data:`FEED_SCHEMA` into ``(turns,
    rejects)``: both are narrow projections of one scan (no cache).
    ``turns`` are :func:`clean_turns` with ``ts`` as ``timestamp_ntz``;
    ``rejects`` are ``(raw, reason)``, ``reason`` being
    ``malformed_reason`` for a corrupt record and ``missing_conv_id``
    otherwise."""
    malformed = F.col("_corrupt_record").isNotNull()
    # a conv_id-less record parsed fine, so it has no raw text: rebuild it
    # as JSON (concat_ws would drop null fields, shifting every later
    # column one slot left, and apply no quoting, leaving the audit row
    # unparseable and un-reingestable)
    rejects = raw.where(malformed | F.col("conv_id").isNull()).select(
        F.coalesce(
            F.col("_corrupt_record"), F.to_json(F.struct(*_TURN_FIELDS, "ts"))
        ).alias("raw"),
        F.when(malformed, F.lit(malformed_reason))
        .otherwise(F.lit("missing_conv_id"))
        .alias("reason"),
    )
    return clean_turns(raw, "timestamp_ntz"), rejects
