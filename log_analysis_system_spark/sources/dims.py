"""Lookup dimensions for broadcast-join enrichment (FIXTURES.md §2).

The reference's join-like logic is set/dict membership (SURVEY §2.3); here
every lookup is a small dimension DataFrame broadcast-joined against the
fact table — the only join shape the pipeline needs, and always map-side.

Every small table built from a Python list goes through
``local_frame``: it plans as a JVM ``LocalTableScan``, so a query that
reads it starts no Python worker (``createDataFrame`` of the list itself
is a pickled Python RDD, ``Scan ExistingRDD``, whose every read runs
Python tasks).
"""

from __future__ import annotations

import threading
from functools import lru_cache

import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

from ..config import STATUS_DESCRIPTIONS


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """The Python list ``rows`` under ``schema`` (a ``StructType`` or a
    DDL string) as a JVM local table. Built from a ``pyarrow.Table``,
    which plans as ``LocalTableScan`` whether or not
    ``spark.sql.execution.arrow.pyspark.enabled`` is set; a pandas input
    would silently fall back to a Python RDD when it is not."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)


ROLE_DIM = [
    # role, role_class, weight
    ("user", "human", 1),
    ("assistant", "model", 2),
    ("system", "control", 0),
    ("tool", "machine", 3),
]

TOOL_DIM = [
    # tool, tool_family, is_sensitive
    ("search", "retrieval", False),
    ("browser", "retrieval", True),
    ("python", "execution", True),
    ("bash", "execution", True),
]

_DIMS = {
    "role": (ROLE_DIM, "role string, role_class string, role_weight bigint"),
    "tool": (TOOL_DIM, "tool string, tool_family string, is_sensitive boolean"),
    "status": (
        sorted(STATUS_DESCRIPTIONS.items()),
        "status bigint, status_description string",
    ),
}


@lru_cache(maxsize=2)
def _context_dims(sc: SparkContext) -> dict[str, DataFrame]:
    """Per-context memo of the dim frames: createDataFrame pays a
    Python->JVM round trip per call, and the registry, the pipeline and
    every micro-batch re-enrich. Keyed on the SparkContext, which every
    ``foreachBatch`` clone of a session shares, so a stream builds each
    dim once; a local table holds no session state, so one frame serves
    every session of the context. A stopped context's frames are never
    reused."""
    return {}


_CONTEXT_DIMS_LOCK = threading.Lock()


def _dim(spark: SparkSession, which: str) -> DataFrame:
    # foreachBatch handlers run on the stream's thread: the lock keeps
    # concurrent first uses to one build per dim
    with _CONTEXT_DIMS_LOCK:
        dims = _context_dims(spark.sparkContext)
        if which not in dims:
            dims[which] = local_frame(spark, *_DIMS[which])
        return dims[which]


def role_dim(spark: SparkSession) -> DataFrame:
    return _dim(spark, "role")


def tool_dim(spark: SparkSession) -> DataFrame:
    return _dim(spark, "tool")


def status_dim(spark: SparkSession) -> DataFrame:
    """J2: status-code description map (dashboard.py:205-221)."""
    return _dim(spark, "status")


def enrich(parsed: DataFrame) -> DataFrame:
    """The enrich stage: broadcast-join role/tool/status dims onto the
    parsed frame. All three joins are broadcast (dims are tiny) — zero
    shuffles added; unmatched rows keep NULL enrichment (left joins).
    Status falls back to 'Unknown' per dashboard.py:222."""
    spark = parsed.sparkSession
    out = (
        parsed.join(F.broadcast(role_dim(spark)), "role", "left")
        .join(F.broadcast(tool_dim(spark)), "tool", "left")
        .join(F.broadcast(status_dim(spark)), "status", "left")
    )
    return out.withColumn(
        "status_description",
        F.when(
            F.col("status").isNotNull() & F.col("status_description").isNull(),
            F.lit("Unknown"),
        ).otherwise(F.col("status_description")),
    )
