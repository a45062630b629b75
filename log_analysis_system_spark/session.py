"""SparkSession factory with scale-appropriate defaults.

Defaults chosen for the 100TB design point and safe on local[32]:
AQE on (runtime coalesce + skew-join splitting), Arrow on (the grok
pandas-UDF path is Arrow-batched), broadcast threshold generous because all
our dimensions are tiny.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """A quarter of host RAM (``MemTotal``) as a ``<MiB>m`` heap size."""
    with open(meminfo) as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 4 // 1024}m"
    raise RuntimeError(f"MemTotal missing from {meminfo}")


def get_spark(
    app_name: str = "log-analysis-system-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``) so
    the same entry points work under the bench driver, pytest, and a real
    ``spark-submit --py-files`` deployment (where ``master`` is left to the
    cluster manager by passing ``master=""``).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # AQE: runtime shuffle-partition coalescing and skew-join splitting.
        # At 100TB hot conversations skew per-conv shuffles; AQE splits them.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Local inputs are small single files; the 128 MB default collapses
        # scans to 1-2 tasks and caps parallelism at the file layout. 8 MB
        # keeps local[N] scans wide; a real cluster reading 100 TB has
        # ample splits and would keep the default.
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        # Arrow for the pandas-UDF grok stage and any toPandas round-trips.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # All lookup dims (roles/tools/status/suspicious actors) are tiny.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Stable session timezone: transcripts timestamps are naive UTC.
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        # local mode: the driver IS the executor; starve it and wide cached
        # frames spill (measured: 8g -> 48g cut a 16-core 8M-turn pipeline
        # run from 125 s to 85 s on a 125 GB host). A quarter of host RAM
        # leaves the rest to the Python workers and the page cache.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or default_driver_memory(),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
