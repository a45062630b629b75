"""Cross-door equivalence: one hostile transcript fixture fed through the
parquet, JSONL and CSV batch doors (``__main__.load_input``) yields the
same clean turns, and the JSONL and CSV doors reject the same records for
the same reason classes."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from log_analysis_system_spark.__main__ import load_input

CLEAN = [
    ("c-1", 0, "user", 'he said "hi", twice\nand again', None,
     "2024-01-01T00:00:00.000001"),
    ("c-1", 1, "assistant", "a,b,,c\n\nthree lines, \"quoted\" too", "bash",
     "2024-01-01T00:00:01"),
    ("c-2", 0, "user", "naïve café — 日本語テキスト 🚀", None,
     "2024-06-01T12:00:00.250000"),
    ("c-2", 1, "tool", "", "", None),
    ("c-3", 0, None, None, None, "2024-06-01T12:00:02"),
    ("c-4", 7, "user", "GET /admin/login HTTP/1.1 200 12ms", "http",
     "2024-06-01T12:00:03"),
]
MISSING_CONV = (None, 2, "tool", "orphan turn, no conv", "bash",
                "2024-01-01T00:00:02")
COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(dict(zip(COLUMNS, r)), ensure_ascii=False) + "\n")
        f.write('{"conv_id": "c-9", "turn_idx": 0, oops: not json}\n')


def _csv_field(v):
    # RFC-4180 quote doubling; the door's null token is a bare \N, and a
    # quoted "" is the empty string
    if v is None:
        return "\\N"
    if isinstance(v, int):
        return str(v)
    return '"' + v.replace('"', '""') + '"'


def _write_csv(path, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(",".join(COLUMNS) + "\n")
        for r in rows:
            f.write(",".join(_csv_field(v) for v in r) + "\n")
        f.write('c-9,not_an_int,user,broken idx,\\N,2024-01-01T00:00:05\n')


def _turn_set(df):
    return sorted((tuple(r) for r in df.select(*COLUMNS).collect()), key=repr)


def _reasons(spark, rej_dir):
    return {
        r.reason: r.n
        for r in spark.read.parquet(rej_dir).groupBy("reason")
        .agg(F.count("*").alias("n")).collect()
    }


def test_doors_agree_on_hostile_fixture(spark, tmp_path):
    clean_df = spark.createDataFrame(
        CLEAN,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    pq_dir = tmp_path / "parquet"
    clean_df.write.parquet(str(pq_dir))

    jsonl_dir, csv_dir = tmp_path / "jsonl", tmp_path / "csv"
    jsonl_dir.mkdir()
    csv_dir.mkdir()
    _write_jsonl(jsonl_dir / "feed.jsonl", [*CLEAN, MISSING_CONV])
    _write_csv(csv_dir / "feed.csv", [*CLEAN, MISSING_CONV])
    out = tmp_path / "out"

    via_parquet = _turn_set(load_input(spark, str(pq_dir)))
    via_jsonl = _turn_set(load_input(spark, str(jsonl_dir), str(out)))
    via_csv = _turn_set(load_input(spark, str(csv_dir), str(out)))

    assert len(via_parquet) == len(CLEAN)
    assert via_jsonl == via_parquet
    assert via_csv == via_parquet
    # the fixture's hostile values arrive intact, not just consistently
    texts = {t[3] for t in via_csv}
    assert {CLEAN[0][3], CLEAN[1][3], CLEAN[2][3], "", None} <= texts
    assert {t[4] for t in via_csv} == {None, "", "bash", "http"}

    assert _reasons(spark, str(out / "rejects_jsonl")) == {
        "missing_conv_id": 1, "malformed_json": 1,
    }
    assert _reasons(spark, str(out / "rejects_csv")) == {
        "missing_conv_id": 1, "malformed_csv": 1,
    }


TURNS_DDL = ("conv_id string, turn_idx int, role string, text string, "
             "tool string, ts {}")


def _schema(spark, ddl):
    return spark.createDataFrame([], ddl).schema


def _drain(stream, ckpt):
    """Every row an availableNow drain of ``stream`` delivers, ``ts`` cast
    to timestamp_ntz (the batch doors' type) in Spark before collect."""
    rows = []
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _: rows.extend(
                df.withColumn("ts", F.col("ts").cast("timestamp_ntz")).collect()
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    return sorted((tuple(r) for r in rows), key=repr)


def test_door_contract_schemas_and_stream_drain(spark, tmp_path):
    """The four text doors share one contract: batch turns carry ts as
    timestamp_ntz, stream turns as timestamp, rejects are (raw, reason),
    and each stream door drains exactly the clean turns its batch door
    returns for the same feed."""
    from log_analysis_system_spark.sources.csvfile import read_transcripts_csv
    from log_analysis_system_spark.sources.jsonl import read_transcripts_jsonl
    from log_analysis_system_spark.streaming.stream_pipeline import (
        read_transcript_stream_csv,
        read_transcript_stream_jsonl,
    )

    jsonl_dir, csv_dir = tmp_path / "jsonl", tmp_path / "csv"
    jsonl_dir.mkdir()
    csv_dir.mkdir()
    _write_jsonl(jsonl_dir / "feed.jsonl", [*CLEAN, MISSING_CONV])
    # the stream CSV door is multiLine=false: newline-free text only
    flat = [(*r[:3], r[3] and r[3].replace("\n", " "), *r[4:]) for r in CLEAN]
    _write_csv(csv_dir / "feed.csv", [*flat, MISSING_CONV])

    batch_turns = _schema(spark, TURNS_DDL.format("timestamp_ntz"))
    stream_turns = _schema(spark, TURNS_DDL.format("timestamp"))
    rejects_schema = _schema(spark, "raw string, reason string not null")

    for batch, stream, feed, clean_rows in (
        (read_transcripts_jsonl, read_transcript_stream_jsonl, jsonl_dir, CLEAN),
        (read_transcripts_csv, read_transcript_stream_csv, csv_dir, flat),
    ):
        turns, rejects = batch(spark, str(feed))
        assert turns.schema == batch_turns
        assert rejects.schema == rejects_schema
        streamed = stream(spark, str(feed))
        assert streamed.schema == stream_turns
        want = _turn_set(turns)
        assert len(want) == len(clean_rows)
        assert _drain(streamed, str(tmp_path / f"ckpt_{feed.name}")) == want
