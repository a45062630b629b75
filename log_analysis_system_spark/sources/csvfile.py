"""CSV transcript ingest — the fourth front door beside parquet tables,
raw ``.log`` directories, and JSONL feeds (``jsonl.py``).

Spreadsheet-born agent-transcript exports arrive as CSV more often than
anything else. This reader maps that feed onto the transcripts contract
under the text-feed contract of ``sources.feed`` (declared schema,
PERMISSIVE corrupt-record capture, ``missing_conv_id`` rejects,
null-on-failure ``ts``). A row whose fields don't fit the declared types
(a non-integer ``turn_idx``, an over-long record) is rejected as
``malformed_csv``.

Null/empty/quoting contract (probed, round-trip-tested): the sink writes
``nullValue='\\N'`` and ``emptyValue='""'`` so SQL NULL and empty string
survive a round trip distinctly — on the read side ``\\N`` and UNQUOTED
empty fields are NULL while a quoted ``""`` is the empty string; text
containing quotes, commas, and embedded newlines rides RFC-4180 quoting
(``escape='"'`` on both sides, i.e. doubled quotes — the convention
Excel and virtually every exporter uses; Spark's default
backslash-escape would mis-parse them).

KNOWN IN-BAND COLLISION (inherent to every CSV null-token scheme, MySQL
dumps included, and pinned by a test): a field whose ENTIRE value is the
two literal characters ``\\N`` round-trips to NULL — the parser applies
``nullValue`` after unquoting, so not even forced quoting distinguishes
it (probed). Data that may legitimately contain bare ``\\N`` fields
belongs on the JSONL door, which has real nulls.

SCALE CAVEAT — the honest difference from JSONL: embedded newlines force
``multiLine=true`` on the reader, and multiLine CSV files are NOT
splittable (one Spark task per file). A 100 TB CSV feed should either
arrive as many moderate files (the normal shape of periodic exports —
parallelism across files is unaffected) or be re-landed as JSONL/parquet
at ingest. Pass ``multiline=False`` only for feeds guaranteed
newline-free per record; that restores intra-file splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .feed import FEED_SCHEMA, PERMISSIVE, serialize_turns, split_feed

NULL_TOKEN = "\\N"
# read options of the batch and the stream CSV door (the stream door adds
# multiLine=false and maxFilesPerTrigger). Every file must open with a header
# naming the schema's columns: enforceSchema=false checks it, so a headerless
# file fails the read instead of losing its first record as the header.
CSV_OPTIONS = {
    **PERMISSIVE,
    "header": True,
    "enforceSchema": False,
    "escape": '"',
    "nullValue": NULL_TOKEN,
    "emptyValue": "",
}


def read_transcripts_csv(
    spark: SparkSession, path: str | list[str], multiline: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Read a CSV transcript feed (one glob/path or a list); returns
    ``feed.split_feed``'s ``(turns, rejects)`` exactly like
    ``read_transcripts_jsonl``: turns with ``ts`` as timestamp_ntz,
    rejects as ``(raw, reason)``."""
    raw = (
        spark.read.schema(FEED_SCHEMA)
        .options(**CSV_OPTIONS, multiLine=multiline)
        .csv(path)
    )
    return split_feed(raw, "malformed_csv")


def write_transcripts_csv(df: DataFrame, path: str) -> None:
    """Round-trip sink: headered CSV, ts serialized ISO-8601, NULL vs
    empty string encoded distinctly (the layout
    :func:`read_transcripts_csv` parses back losslessly)."""
    (
        serialize_turns(df)
        .write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .option("nullValue", NULL_TOKEN)
        .option("emptyValue", '""')
        .csv(path)
    )
