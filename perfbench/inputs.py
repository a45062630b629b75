"""Seeded inputs for the benchmark, written once per run before timing.

The events frame ``(event_id, ts, user_id)`` is built from the seed and
rendered with the public ``render_transcripts``; the program under test
only ever sees the written parquet or JSONL files.

- Event ids start at ``seed * ID_STRIDE``, so every seed renders a
  different slice of the renderer's id-keyed formulas (ip, endpoint,
  status, format slot).
- Conversation assignment hashes the id salted with the seed.
- Skew follows FIXTURES.md: 1% hot conversations carry 25% of the turns.

The renderer picks the line format from ``event_id % 20``: slots 0-17
are access lines, 18 an error line, 19 a malformed line. ``expected_counts``
gives the closed-form category sizes the output checks compare against.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_analysis_system_spark.sources.events_transcripts import render_transcripts
from log_analysis_system_spark.sources.jsonl import write_transcripts_jsonl

ID_STRIDE = 10_000_000
BASE_TS = "2023-10-10 13:55:36"
HOT_CONV_SHARE = 0.01
HOT_TURN_PCT = 25
INJECTED_MARK = "perfbench-injected"


def first_id(seed: int) -> int:
    return seed * ID_STRIDE


def events(spark: SparkSession, seed: int, n_turns: int, n_convs: int) -> DataFrame:
    lo = first_id(seed)
    n_hot = max(1, int(n_convs * HOT_CONV_SHARE))
    n_cold = max(1, n_convs - n_hot)
    h = F.xxhash64(F.col("id"), F.lit(seed))
    user_id = F.when(
        F.pmod(h, F.lit(100)) < HOT_TURN_PCT, F.pmod(F.xxhash64(h), F.lit(n_hot))
    ).otherwise(F.lit(n_hot) + F.pmod(F.xxhash64(h, F.lit(1)), F.lit(n_cold)))
    ts = F.to_timestamp(F.lit(BASE_TS)) + F.make_dt_interval(secs=(F.col("id") - lo) * 3)
    return spark.range(lo, lo + n_turns, 1, spark.sparkContext.defaultParallelism).select(
        F.col("id").alias("event_id"), ts.alias("ts"), user_id.cast("long").alias("user_id")
    )


def _slot_count(lo: int, n: int, slots) -> int:
    """How many ids in [lo, lo + n) have ``id % 20`` in ``slots``."""
    hi = lo + n
    return sum((hi - 1 - s) // 20 - (lo - 1 - s) // 20 for s in slots)


def expected_counts(seed: int, n_turns: int) -> dict[str, int]:
    lo = first_id(seed)
    return {
        "parsed_turns": _slot_count(lo, n_turns, range(18)),
        "error_turns": _slot_count(lo, n_turns, [18]),
        "rejects": _slot_count(lo, n_turns, [19]),
    }


def write_parquet(spark: SparkSession, path: str, seed: int, n_turns: int, n_convs: int) -> None:
    render_transcripts(events(spark, seed, n_turns, n_convs)).write.parquet(path)


def write_jsonl_backlog(
    spark: SparkSession, path: str, seed: int, n_turns: int, n_convs: int, n_files: int
) -> int:
    """JSONL drop files, then a fixed share of junk appended to each file:
    one malformed line per 50 turns and one line without ``conv_id`` per
    100 (a well-formed access line that would parse if it leaked).
    Returns the number of junk lines."""
    turns = render_transcripts(events(spark, seed, n_turns, n_convs))
    write_transcripts_jsonl(turns.repartition(n_files), path)
    # appending invalidates Hadoop's .crc side files; drop them
    for crc in glob.glob(os.path.join(path, ".*.crc")):
        os.remove(crc)
    injected = 0
    for i, part in enumerate(sorted(glob.glob(os.path.join(path, "part-*")))):
        with open(part) as fh:
            n_lines = sum(1 for _ in fh)
        bad = [f'{{"conv_id": "{INJECTED_MARK}-{seed}-{i}-{k}", "text": '
               for k in range(max(1, n_lines // 50))]
        no_conv = [
            json.dumps({
                "turn_idx": k, "role": "user", "tool": None,
                "ts": "2023-10-10T13:55:36.000000",
                "text": f'10.0.0.1 - - [10/Oct/2023:13:55:36 -0700] "GET /{INJECTED_MARK}'
                        f'/{seed}/{i}/{k} HTTP/1.1" 200 12',
            })
            for k in range(max(1, n_lines // 100))
        ]
        with open(part, "a") as fh:
            fh.write("\n".join(bad + no_conv) + "\n")
        injected += len(bad) + len(no_conv)
    return injected
