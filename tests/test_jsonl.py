"""JSONL transcript front door: schema-declared read, corrupt-record and
missing-conv_id routing to rejects, timestamp round-trip, and pipeline
interop (the read side feeds run_pipeline unchanged)."""

from __future__ import annotations

from pyspark.sql import functions as F

from log_analysis_system_spark.queries_log import load_transcripts
from log_analysis_system_spark.sources.jsonl import (
    read_transcripts_jsonl,
    write_transcripts_jsonl,
)

SF = "/root/testdata/sf0.001"


def test_jsonl_roundtrip_byte_exact(spark, tmp_path):
    """write -> read reproduces every turn, ts included (microseconds)."""
    t = load_transcripts(spark, SF)
    p = str(tmp_path / "turns_jsonl")
    write_transcripts_jsonl(t, p)
    turns, rejects = read_transcripts_jsonl(spark, p)
    assert rejects.count() == 0
    orig = {tuple(r) for r in t.collect()}
    back = {tuple(r) for r in turns.collect()}
    assert back == orig


def test_jsonl_malformed_and_missing_conv_route_to_rejects(spark, tmp_path):
    p = tmp_path / "feed"
    p.mkdir()
    good = (
        '{"conv_id": "c-1", "turn_idx": 0, "role": "user", '
        '"text": "hi", "tool": null, "ts": "2024-01-01T00:00:00.000001"}'
    )
    bad_json = '{"conv_id": "c-1", "turn_idx": 1, BROKEN'
    no_conv = (
        '{"turn_idx": 2, "role": "tool", "text": "x", '
        '"tool": "bash", "ts": "2024-01-01T00:00:02"}'
    )
    bad_ts = (
        '{"conv_id": "c-1", "turn_idx": 3, "role": "user", '
        '"text": "late", "tool": null, "ts": "not-a-time"}'
    )
    (p / "part.jsonl").write_text(
        "\n".join([good, bad_json, no_conv, bad_ts]) + "\n"
    )
    turns, rejects = read_transcripts_jsonl(spark, str(p))

    got = {(r.conv_id, r.turn_idx, r.ts is not None) for r in turns.collect()}
    # good row keeps its ts; bad-ts row survives with NULL ts (zero-default
    # coercion policy: malformed VALUES null out, malformed LINES reject)
    assert got == {("c-1", 0, True), ("c-1", 3, False)}

    reasons = sorted((r.reason, r.raw is not None) for r in rejects.collect())
    assert reasons == [("malformed_json", True), ("missing_conv_id", True)]


def test_jsonl_feed_runs_the_pipeline(spark, tmp_path):
    """The JSONL front door feeds run_pipeline unchanged — same sink totals
    as the parquet path on the same turns."""
    from log_analysis_system_spark.pipeline import run_pipeline

    t = load_transcripts(spark, SF)
    feed = str(tmp_path / "feed_jsonl")
    write_transcripts_jsonl(t, feed)
    turns, _ = read_transcripts_jsonl(spark, feed)

    out = str(tmp_path / "out")
    res = run_pipeline(spark, turns, out, run_id="jsonl-1", resume=False)
    n_sinks = spark.read.parquet(f"{out}/parsed_turns").count()
    assert res.sink_counts["parsed_turns"] == n_sinks > 0


def test_cli_load_input_detects_jsonl_dir(spark, tmp_path):
    """The repo's own JSONL sink output (Spark part-*.json files) must
    ingest directly through load_input — no renaming workaround."""
    from log_analysis_system_spark.__main__ import load_input

    t = load_transcripts(spark, SF).limit(50)
    feed = tmp_path / "feed"
    write_transcripts_jsonl(t, str(feed))
    turns = load_input(spark, str(feed))
    assert turns.count() == 50


def test_cli_load_input_routes_jsonl_rejects_to_sink(spark, tmp_path):
    """Ingest-level rejects (malformed JSON / missing conv_id) land in
    <output>/rejects_jsonl instead of being counted-and-dropped."""
    from log_analysis_system_spark.__main__ import load_input

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "drop0.jsonl").write_text(
        '{"conv_id": "c1", "turn_idx": 0, "role": "user", '
        '"text": "hi", "tool": null, "ts": "2024-01-01T00:00:00"}\n'
        "this is not json\n"
        '{"conv_id": null, "turn_idx": 1, "role": "user", '
        '"text": "orphan", "tool": null, "ts": "2024-01-01T00:00:01"}\n'
    )
    out = tmp_path / "out"
    turns = load_input(spark, str(feed), output_dir=str(out))
    assert turns.count() == 1
    rej = spark.read.parquet(str(out / "rejects_jsonl"))
    reasons = sorted(r.reason for r in rej.collect())
    assert reasons == ["malformed_json", "missing_conv_id"]


def test_cli_load_input_json_sidecar_does_not_hijack_parquet_dir(
    spark, tmp_path
):
    """A transcripts parquet directory with a stray .json sidecar (an
    export manifest, say) must still load through the parquet fallback —
    bare *.json parts only mark a JSONL feed when no parquet parts
    exist. Explicit *.jsonl files keep priority either way."""
    from log_analysis_system_spark.__main__ import load_input

    t = load_transcripts(spark, SF).limit(40)
    d = tmp_path / "ptable"
    t.write.parquet(str(d))
    (d / "manifest.json").write_text('{"exported_by": "some tool"}')
    df = load_input(spark, str(d))
    assert df.count() == 40 and "conv_id" in df.columns


def test_jsonl_reader_conserves_every_line(spark, tmp_path):
    """Conservation law of the front door: for an arbitrary feed, every
    non-empty input line lands in EXACTLY one of (turns, rejects) — no
    silent drops, no duplication. The adversarial corpus mixes valid
    turns, malformed JSON, non-object JSON, missing/null conv_id, unicode,
    huge numbers, and embedded quotes."""
    lines = [
        '{"conv_id": "c0", "turn_idx": 0, "role": "user", "text": "ok", "tool": null, "ts": "2024-01-01T00:00:00"}',
        "garbage not json",
        "[1, 2, 3]",
        '"just a string"',
        "123",
        "{}",
        '{"conv_id": null, "turn_idx": 1, "role": "x", "text": "y", "tool": null, "ts": null}',
        '{"turn_idx": 2}',
        '{"conv_id": "c-unicode", "turn_idx": 3, "role": "usér", "text": "héllo \\"quoted\\" wörld", "tool": "bash", "ts": "bad-ts"}',
        '{"conv_id": "c-big", "turn_idx": 2147483647, "role": "r", "text": "", "tool": "", "ts": "2024-12-31T23:59:59.999999"}',
        '{"conv_id": "c-overflow", "turn_idx": 99999999999999999999, "role": "r", "text": "t", "tool": null, "ts": "2024-01-01T00:00:00"}',
        '{"conv_id": "", "turn_idx": 4, "role": "r", "text": "empty conv_id is a VALUE, not null", "tool": null, "ts": "2024-01-01T00:00:00"}',
    ]
    p = tmp_path / "feed"
    p.mkdir()
    (p / "adversarial.jsonl").write_text("\n".join(lines) + "\n")
    turns, rejects = read_transcripts_jsonl(spark, str(p))
    n_turns, n_rejects = turns.count(), rejects.count()
    assert n_turns + n_rejects == len(lines), (
        f"{len(lines)} lines in, {n_turns} turns + {n_rejects} rejects out"
    )
    # spot the contract edges: empty-string conv_id is a value (kept);
    # JSON-null and absent conv_id both reject; non-object lines reject
    kept = {r.conv_id for r in turns.collect()}
    assert "" in kept and "c-unicode" in kept
    reasons = [r.reason for r in rejects.collect()]
    assert reasons.count("missing_conv_id") >= 2
    assert reasons.count("malformed_json") >= 3
