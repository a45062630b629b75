"""Construction-level coverage for the Iceberg branch of the catalog shim.

No Iceberg runtime jar is available offline, so these tests spy on
``DataFrame.writeTo`` and assert the exact DataFrameWriterV2 call shapes the
iceberg backend would issue (append / createOrReplace / overwritePartitions /
partitionedBy(bucket(n, col))) — catching API drift without a catalog."""

from __future__ import annotations

import pytest

from log_analysis_system_spark.sources import catalog


class SpyWriter:
    def __init__(self, calls: list, table: str):
        self.calls = calls
        self.table = table

    def _rec(self, op, detail=None):
        self.calls.append((self.table, op, detail))
        return self

    def using(self, fmt):
        return self._rec("using", fmt)

    def partitionedBy(self, *cols):
        return self._rec("partitionedBy", [str(c) for c in cols])

    def append(self):
        self._rec("append")

    def createOrReplace(self):
        self._rec("createOrReplace")

    def overwritePartitions(self):
        self._rec("overwritePartitions")


@pytest.fixture()
def df(spark):
    return spark.range(3).withColumnRenamed("id", "conv_id")


@pytest.fixture()
def spy(monkeypatch, df):
    calls: list = []
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "iceberg")
    # patch the CONCRETE class (pyspark.sql.DataFrame is a dispatch facade
    # in Spark 4; the instance's class is sql.classic.dataframe.DataFrame)
    monkeypatch.setattr(
        type(df), "writeTo", lambda self, table: SpyWriter(calls, table),
        raising=True,
    )
    return calls


def test_write_table_append(spy, df):
    catalog.write_table(df, "/unused", "parsed_turns", mode="append")
    assert spy == [("graft.parsed_turns", "append", None)]


def test_write_table_overwrite_uses_create_or_replace(spy, df):
    catalog.write_table(df, "/unused", "metrics", mode="overwrite")
    assert spy == [
        ("graft.metrics", "using", "iceberg"),
        ("graft.metrics", "createOrReplace", None),
    ]


def test_write_table_overwrite_partitions(spy, df):
    catalog.write_table(
        df, "/unused", "parsed_turns",
        partition_cols=["bucket"], mode="overwrite_partitions",
    )
    assert spy == [("graft.parsed_turns", "overwritePartitions", None)]


def test_write_bucketed_table_partitioned_by_bucket_transform(spy, df):
    catalog.write_bucketed_table(df, "facts", "conv_id", 8)
    (table, op, detail), (t2, op2, _) = spy
    assert (table, op) == ("graft.facts", "partitionedBy")
    assert len(detail) == 1 and "bucket(8, conv_id)" in detail[0]
    assert (t2, op2) == ("graft.facts", "createOrReplace")


def test_read_table_iceberg_reads_catalog_table(monkeypatch, spark):
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "iceberg")
    seen = []
    monkeypatch.setattr(
        type(spark.read), "table",
        lambda self, name: seen.append(name) or "sentinel",
        raising=True,
    )
    assert catalog.read_table(spark, "/unused", "parsed_turns") == "sentinel"
    assert seen == ["graft.parsed_turns"]


def test_table_exists_iceberg_uses_catalog_probe(monkeypatch, spark):
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "iceberg")
    seen = []
    monkeypatch.setattr(
        type(spark.catalog), "tableExists",
        lambda self, name: seen.append(name) or True,
        raising=True,
    )
    assert catalog.table_exists(spark, "/unused", "alerts_critical") is True
    assert seen == ["graft.alerts_critical"]
