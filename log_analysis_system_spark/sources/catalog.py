"""Table catalog shim: Iceberg in production, Parquet-dir fallback locally.

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar (no network), so the shim exposes one write/read API with two backends:

- ``iceberg``: ``df.writeTo(f"{catalog}.{name}")`` —
  ``spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-...``
  on a real cluster; bucketed partition spec pushed into the table DDL.
- ``parquet`` (default here): directory-per-table with hive-style
  ``bucket=`` partitions and DYNAMIC partition overwrite, which gives the
  same idempotent per-bucket replace semantics our checkpoint/resume
  protocol needs (an Iceberg ``overwritePartitions`` equivalent).

Select with env ``SPARK_GRAFT_TABLE_FORMAT=iceberg|parquet``.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def table_format() -> str:
    return os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")


def write_table(
    df: DataFrame,
    base_dir: str,
    name: str,
    partition_cols: list[str] | None = None,
    mode: str = "append",
) -> None:
    """``mode``: 'append', 'overwrite' (full), or 'overwrite_partitions'
    (replace only the partitions present in ``df`` — the resume path)."""
    if table_format() == "iceberg":
        writer = df.writeTo(f"graft.{name}")
        if mode == "append":
            writer.append()
        elif mode == "overwrite":
            writer.using("iceberg").createOrReplace()
        else:
            writer.overwritePartitions()
        return

    path = f"{base_dir}/{name}"
    w = df.write
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if mode == "overwrite_partitions":
        # dynamic mode: only partitions present in df are replaced
        w = w.option("partitionOverwriteMode", "dynamic")
        w.mode("overwrite").parquet(path)
    else:
        w.mode(mode).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Spark-managed BUCKETED table: rows hash-clustered (and sorted)
    by ``bucket_col`` at write time, so every later join / groupBy on that
    key reads co-located, pre-sorted buckets and plans NO Exchange — the
    shuffle is paid once at ingest instead of per query. This is the
    co-located-join layout the 100 TB design bets on for repeated fact-
    fact joins (the Iceberg equivalent is a ``bucket(n, col)`` partition
    transform in the table DDL; ``writeTo(...).partitionedBy(bucket(...))``
    on the iceberg backend).

    Hive-style bucketing requires ``saveAsTable`` (a catalog entry carries
    the bucket spec); ``path`` makes it an external table at that location.
    """
    if table_format() == "iceberg":
        from pyspark.sql.functions import bucket, col

        df.writeTo(f"graft.{name}").partitionedBy(
            bucket(n_buckets, col(bucket_col))
        ).createOrReplace()
        return
    w = df.write.bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
    if path:
        w = w.option("path", path)
    w.mode("overwrite").format("parquet").saveAsTable(name)


def read_table(
    spark: SparkSession,
    base_dir: str,
    name: str,
    schema: StructType | None = None,
) -> DataFrame:
    """``schema``: the table's declared schema, given so the parquet read
    skips the schema-inference job (the iceberg catalog holds its own)."""
    if table_format() == "iceberg":
        return spark.read.table(f"graft.{name}")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(f"{base_dir}/{name}")


def table_exists(spark: SparkSession, base_dir: str, name: str) -> bool:
    if table_format() == "iceberg":
        return spark.catalog.tableExists(f"graft.{name}")
    # Hadoop-FS existence probe first (works for file://, hdfs://,
    # s3a://...): the common not-there case must not go through
    # read.parquet + catch, whose caught AnalysisException the JVM logs at
    # ERROR level. Only when the directory exists with visible entries do
    # we confirm it is actually a READABLE parquet table. False means
    # absent, and only that: no path, no visible entries, or a dir holding
    # no schema-bearing files (an empty bucket-partitioned write leaves only
    # empty bucket= subdirs, on which Spark raises UNABLE_TO_INFER_SCHEMA).
    # Any other filesystem or parquet error propagates: callers skip an
    # absent table, and must not skip one they merely failed to read.
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{base_dir}/{name}")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return False
    if not any(
        not s.getPath().getName().startswith(("_", "."))
        for s in fs.listStatus(path)
    ):
        return False
    try:
        spark.read.parquet(f"{base_dir}/{name}").schema
    except AnalysisException as e:
        if e.getCondition() == "UNABLE_TO_INFER_SCHEMA":
            return False
        raise
    return True
