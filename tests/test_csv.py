"""CSV transcript front door: schema-declared read, corrupt-record and
missing-conv_id routing to rejects, null-vs-empty round trip, quoting of
embedded newlines/commas/quotes, pipeline interop, and the load_input
detection rules (mirrors tests/test_jsonl.py for the fourth front door).
"""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from log_analysis_system_spark.queries_log import load_transcripts
from log_analysis_system_spark.sources.csvfile import (
    read_transcripts_csv,
    write_transcripts_csv,
)
from log_analysis_system_spark.streaming.stream_pipeline import (
    read_transcript_stream_csv,
)

SF = "/root/testdata/sf0.001"


def test_csv_roundtrip_byte_exact(spark, tmp_path):
    """write -> read reproduces every turn, ts included (microseconds)."""
    t = load_transcripts(spark, SF)
    p = str(tmp_path / "turns_csv")
    write_transcripts_csv(t, p)
    turns, rejects = read_transcripts_csv(spark, p)
    assert rejects.count() == 0
    orig = {tuple(r) for r in t.collect()}
    back = {tuple(r) for r in turns.collect()}
    assert back == orig


def test_csv_roundtrip_hostile_payloads(spark, tmp_path):
    """NULL vs empty string stay DISTINCT, and text with embedded quotes,
    commas, and newlines survives (the CSV-specific failure modes)."""
    rows = [
        ("c1", 0, "user", 'he said "hi", twice\nand again', None,
         "2024-01-01T00:00:00.000001"),
        ("c2", 1, "tool", "", "bash", None),        # EMPTY text, NULL ts
        ("c3", 2, None, None, "", "2024-06-01T12:00:00"),  # NULL vs ""
        ("c4", 3, "user", "\\N literal backslash-N text", None,
         "2024-06-01T12:00:01"),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
    )
    p = str(tmp_path / "hostile_csv")
    write_transcripts_csv(t, p)
    turns, rejects = read_transcripts_csv(spark, p)
    assert rejects.count() == 0
    assert {tuple(r) for r in turns.collect()} == {
        tuple(r) for r in t.collect()
    }


def test_csv_malformed_and_missing_conv_route_to_rejects(spark, tmp_path):
    p = tmp_path / "feed"
    p.mkdir()
    (p / "drop.csv").write_text(
        "conv_id,turn_idx,role,text,tool,ts\n"
        'c-1,0,user,hi,\\N,2024-01-01T00:00:00\n'
        'c-1,not_an_int,user,broken idx,\\N,2024-01-01T00:00:01\n'
        '\\N,2,tool,orphan,bash,2024-01-01T00:00:02\n'
        'c-1,3,user,bad ts,\\N,not-a-time\n'
    )
    turns, rejects = read_transcripts_csv(spark, str(p))
    got = {(r.conv_id, r.turn_idx, r.ts is not None) for r in turns.collect()}
    # good row keeps ts; bad-ts row survives with NULL ts (malformed
    # VALUES null out, malformed ROWS reject — the P5/P7 split)
    assert got == {("c-1", 0, True), ("c-1", 3, False)}
    reasons = sorted((r.reason, r.raw is not None) for r in rejects.collect())
    assert reasons == [("malformed_csv", True), ("missing_conv_id", True)]


def test_csv_reader_conserves_every_row(spark, tmp_path):
    """Conservation law: every data row lands in exactly one of
    (turns, rejects)."""
    p = tmp_path / "feed"
    p.mkdir()
    lines = [
        'c1,0,user,ok,\\N,2024-01-01T00:00:00',
        'c2,xx,user,bad idx,\\N,2024-01-01T00:00:01',
        '\\N,1,user,no conv,\\N,2024-01-01T00:00:02',
        '"",2,user,empty-string conv_id is a VALUE,\\N,2024-01-01T00:00:03',
        'c3,3,user,"quoted, with comma",\\N,\\N',
    ]
    (p / "a.csv").write_text(
        "conv_id,turn_idx,role,text,tool,ts\n" + "\n".join(lines) + "\n"
    )
    turns, rejects = read_transcripts_csv(spark, str(p))
    n_turns, n_rejects = turns.count(), rejects.count()
    assert n_turns + n_rejects == len(lines)
    kept = {r.conv_id for r in turns.collect()}
    assert "" in kept, "empty-string conv_id is a value, not NULL"
    assert sorted(r.reason for r in rejects.collect()) == [
        "malformed_csv", "missing_conv_id",
    ]


def test_csv_feed_runs_the_pipeline(spark, tmp_path):
    """The CSV front door feeds run_pipeline unchanged — same sink totals
    as the parquet path on the same turns."""
    from log_analysis_system_spark.pipeline import run_pipeline

    t = load_transcripts(spark, SF)
    feed = str(tmp_path / "feed_csv")
    write_transcripts_csv(t, feed)
    turns, _ = read_transcripts_csv(spark, feed)
    out = str(tmp_path / "out")
    res = run_pipeline(spark, turns, out, run_id="csv-1", resume=False)
    n_sinks = spark.read.parquet(f"{out}/parsed_turns").count()
    assert res.sink_counts["parsed_turns"] == n_sinks > 0


def test_cli_load_input_detects_csv_dir_and_routes_rejects(spark, tmp_path):
    from log_analysis_system_spark.__main__ import load_input

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "drop.csv").write_text(
        "conv_id,turn_idx,role,text,tool,ts\n"
        'c1,0,user,hi,\\N,2024-01-01T00:00:00\n'
        '\\N,1,user,orphan,\\N,2024-01-01T00:00:01\n'
    )
    out = tmp_path / "out"
    turns = load_input(spark, str(feed), output_dir=str(out))
    assert turns.count() == 1
    rej = spark.read.parquet(str(out / "rejects_csv"))
    assert [r.reason for r in rej.collect()] == ["missing_conv_id"]


def test_cli_csv_sidecar_does_not_hijack_parquet_dir(spark, tmp_path):
    """A stray .csv beside a parquet table (an export summary, say) must
    not reroute the parquet fallback — same rule as *.json sidecars."""
    from log_analysis_system_spark.__main__ import load_input

    t = load_transcripts(spark, SF).limit(30)
    d = tmp_path / "ptable"
    t.write.parquet(str(d))
    (d / "summary.csv").write_text("rows,bytes\n30,12345\n")
    df = load_input(spark, str(d))
    assert df.count() == 30 and "conv_id" in df.columns


def test_csv_null_token_collision_is_pinned(spark, tmp_path):
    """The documented in-band collision: a field whose ENTIRE value is
    the literal two characters backslash-N round-trips to NULL (the
    parser applies nullValue after unquoting — inherent to every CSV
    null-token scheme; such data belongs on the JSONL door). Pinned so a
    future option change that silently alters the behavior fails here."""
    t = spark.createDataFrame(
        [("c1", 0, "user", "\\N", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp_ntz",
    )
    p = str(tmp_path / "collide_csv")
    write_transcripts_csv(t, p)
    turns, rejects = read_transcripts_csv(spark, p)
    assert rejects.count() == 0
    [r] = turns.collect()
    assert r.text is None  # the documented collision, not silent surprise


def test_csv_rejects_raw_is_structured_json(spark, tmp_path):
    """The non-corrupt reject's audit column must preserve ALL fields —
    including NULLs and embedded commas — as parseable JSON (concat_ws
    would drop null slots and shift every later column)."""
    import json as _json

    p = tmp_path / "feed"
    p.mkdir()
    (p / "drop.csv").write_text(
        "conv_id,turn_idx,role,text,tool,ts\n"
        '\\N,2,tool,"orphan, with comma",bash,2024-01-01T00:00:02\n'
    )
    _, rejects = read_transcripts_csv(spark, str(p))
    [r] = rejects.collect()
    assert r.reason == "missing_conv_id"
    d = _json.loads(r.raw)
    assert "conv_id" not in d  # to_json omits null fields — but the
    #                          # named slots below are positionally safe
    assert d["turn_idx"] == 2 and d["text"] == "orphan, with comma"
    assert d["tool"] == "bash"


def test_headerless_csv_fails_loudly_at_both_doors(spark, tmp_path):
    """A drop file without its header row fails the batch read and the
    stream query, instead of reading its first record as the header."""
    p = tmp_path / "feed"
    p.mkdir()
    (p / "drop.csv").write_text(
        "c1,0,user,first,\\N,2024-01-01T00:00:00\n"
        "c1,1,user,second,\\N,2024-01-01T00:00:01\n"
    )
    turns, _ = read_transcripts_csv(spark, str(p))
    with pytest.raises(Exception, match="CSV header does not conform"):
        turns.collect()

    q = (
        read_transcript_stream_csv(spark, str(p)).writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # the stream's message names the failed file, not the header check
    with pytest.raises(StreamingQueryException, match="FAILED_READ_FILE.*drop.csv"):
        q.awaitTermination(300)
