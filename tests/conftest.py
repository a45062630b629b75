from __future__ import annotations

import sys
from pathlib import Path

import pytest

# This checkout, whatever its path: the tests import its package.
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from log_analysis_system_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def make_transcripts(spark, rows):
    """rows: list of (conv_id, turn_idx, role, text, tool, ts_str)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts_str", StringType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    return df.withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str")


def access_line(
    ip="192.168.1.1",
    ts="10/Oct/2023:13:55:36 -0700",
    method="GET",
    endpoint="/index.html",
    status=200,
    nbytes="2326",
    referer=None,
    user_agent=None,
    response_time=None,
):
    """Render a log line in the reference's formats (tests/test_parsers.py:18-21)."""
    line = f'{ip} - - [{ts}] "{method} {endpoint} HTTP/1.1" {status} {nbytes}'
    if referer is not None:
        line += f' "{referer}" "{user_agent}"'
    if response_time is not None:
        line += f" {response_time}"
    return line
