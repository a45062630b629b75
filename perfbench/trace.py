"""Per-layer trace: spans recorded from outside the program, job groups,
and isolated layer calls.

Spans are recorded around public entry points only, by swapping module
attributes for the length of a traced op (``sources.catalog.write_table``,
``table_exists``, ``read_table``; ``state.append_state``,
``completed_buckets``, ``throttle_alerts``; ``state.StageTimer`` for the
stage intervals). Every span also sets ``spark.jobGroup.id`` on the thread
it runs on, so Spark jobs are tied to the innermost span: the route stage
submits its sink writes from pool threads, where a group set on the bench
thread would not reach them.

Parse, enrich and the row detectors run inside the route stage's grouped
``collect`` that fills the persisted frame, so in the end-to-end op their
compute shows up in ``pipeline.route.self``. The isolated calls split that
compute: each layer is forced with the ``noop`` sink over a persisted
input, minus a noop scan of that same input.

A span's wall time is inclusive; its Spark counters are those of the jobs
whose innermost group it is. ``pipeline.*.self`` is the stage wall less
the part of it covered by spans inside it.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from log_analysis_system_spark import state as st
from log_analysis_system_spark.functions.parse import parse_transcripts
from log_analysis_system_spark.operators import anomaly as an
from log_analysis_system_spark.operators import performance as perf
from log_analysis_system_spark.operators import security as sec
from log_analysis_system_spark.sources import catalog
from log_analysis_system_spark.sources.dims import enrich

from .eventlog import EventLog, Totals

GROUP_KEY = "spark.jobGroup.id"
WRITE = "sources.catalog.write"
PROBE = "sources.catalog.probe"
STAGE_NAMES = {"_route_stage": "pipeline.route", "_aggregate_stage": "pipeline.aggregate"}

SINKS = [
    "parsed_turns", "error_turns", "rejects",
    "security_events_high", "security_events_medium", "security_events_low",
    "security_events_agg_high", "security_events_agg_medium", "security_events_agg_low",
    "performance_metrics", "anomalies", "ip_threat_scores",
    "state_metrics", "alert_state",
]

# Counter sets per layer. Spill is kept where a layer holds a cache or a
# shuffle; shuffle bytes are dropped where the layer is row-local by
# construction. Together with the per-sink spans this keeps the table
# within 128 names.
FULL = ("wall_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes", "gc_s")
NO_SPILL = ("wall_s", "jobs", "tasks", "shuffle_bytes", "gc_s")
ROW_LOCAL = ("wall_s", "jobs", "tasks", "gc_s")
LAYERS = {
    "sources.read": ROW_LOCAL,
    "pipeline.bucket_shuffle": FULL,
    "functions.parse": ROW_LOCAL,
    "functions.parse_sql": ROW_LOCAL,
    "sources.dims.enrich": ROW_LOCAL,
    "operators.security.row": ROW_LOCAL,
    WRITE: FULL,
    PROBE: ROW_LOCAL,
    "pipeline.route.self": FULL,
    "pipeline.aggregate.self": FULL,
    "operators.security.agg": NO_SPILL,
    "operators.performance": NO_SPILL,
    "operators.anomaly": NO_SPILL,
    "operators.security.threat_scores": NO_SPILL,
    "state.io": NO_SPILL,
    "state.throttle": NO_SPILL,
}
EXTRAS = {
    "pipeline.bucket_shuffle.skew": "ratio",
    f"{WRITE}.files": "count",
    f"{WRITE}.bytes": "B",
    "functions.parse.python_bytes_sent": "B",
    "functions.parse.python_bytes_received": "B",
    "functions.parse.rows": "count",
}
MICROBATCH = {
    "addBatch": "streaming.microbatch.add_batch_s",
    "getBatch": "streaming.microbatch.get_batch_s",
    "queryPlanning": "streaming.microbatch.query_planning_s",
    "walCommit": "streaming.microbatch.wal_commit_s",
    "commitOffsets": "streaming.microbatch.commit_offsets_s",
}
SPARK_TOTALS = ("wall_s", "jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "gc_s", "cpu_s")
UNITS = {"wall_s": "s", "gc_s": "s", "cpu_s": "s", "jobs": "count", "stages": "count",
         "tasks": "count", "files": "count", "shuffle_bytes": "B", "spill_bytes": "B"}


def metric_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {f"{layer}.{c}": UNITS[c] for layer, cs in LAYERS.items() for c in cs}
    out.update(EXTRAS)
    for sink in SINKS:
        out[f"{WRITE}.{sink}.wall_s"] = "s"
        out[f"{WRITE}.{sink}.files"] = "count"
    out.update({v: "s" for v in MICROBATCH.values()})
    out["streaming.microbatch.input_rows_p50"] = "count"
    out.update({f"spark.{c}": UNITS[c] for c in SPARK_TOTALS})
    out["pipeline.unattributed_s"] = "s"
    out["trace.overhead_s"] = "s"
    return out


@dataclass
class Span:
    name: str
    t0: float
    t1: float


class Tracer:
    """Spans in memory; each sets the Spark job group on its own thread."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.spans.append(Span(name, t0, t1))

    def between(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if s.t0 >= t0 and s.t1 <= t1]

    @contextmanager
    def wrapping(self):
        """Swap the traced entry points in for the duration of one op."""

        def wrap(fn, name_of):
            @functools.wraps(fn)
            def traced(*a, **kw):
                with self.span(name_of(a, kw)):
                    return fn(*a, **kw)
            return traced

        def sink_name(a, kw):
            return f"{WRITE}.{a[2] if len(a) > 2 else kw['name']}"

        tracer = self
        base_timer = st.StageTimer

        class StageTimer(base_timer):
            def __enter__(self):
                caller = sys._getframe(1).f_code.co_name
                self._span = tracer.span(STAGE_NAMES.get(caller, f"pipeline.{caller.strip('_')}"))
                self._span.__enter__()
                return super().__enter__()

            def __exit__(self, *exc):
                out = super().__exit__(*exc)
                self._span.__exit__(*exc)
                return out

        swaps = [
            (catalog, "write_table", sink_name),
            (catalog, "table_exists", lambda a, kw: PROBE),
            (catalog, "read_table", lambda a, kw: PROBE),
            (st, "append_state", lambda a, kw: "state.io"),
            (st, "completed_buckets", lambda a, kw: "state.io"),
            (st, "throttle_alerts", lambda a, kw: "state.throttle"),
        ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in swaps]
        try:
            for mod, attr, name_of in swaps:
                setattr(mod, attr, wrap(getattr(mod, attr), name_of))
            st.StageTimer = StageTimer
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)
            st.StageTimer = base_timer


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``(t0, t1)`` intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= max(a, end):
            continue
        total += b - max(a, end)
        end = b
    return total


def sink_files(out_dir: str) -> dict[str, tuple[int, int]]:
    """``(files, bytes)`` of the data files under each sink directory."""
    out = {}
    for sink in SINKS:
        files = nbytes = 0
        for root, _, names in os.walk(os.path.join(out_dir, sink)):
            for n in names:
                if not n.startswith(("_", ".")):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, n))
        out[sink] = (files, nbytes)
    return out


# ------------------------------------------------------------ isolated layers
def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _persisted(tracer: Tracer, df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with tracer.span("iso.fill"):
        _noop(df)
    return df


def _layer(tracer: Tracer, name: str, df: DataFrame, base: DataFrame | None) -> None:
    """Force ``df`` under span ``iso:<name>`` and its input ``base`` under
    ``iso:<name>.base``; the table reports the difference."""
    if base is not None:
        with tracer.span(f"iso:{name}.base"):
            _noop(base)
    with tracer.span(f"iso:{name}"):
        _noop(df)


def isolate_route(tracer: Tracer, turns: DataFrame, n_buckets: int | None) -> list[DataFrame]:
    """read, bucket shuffle, both parse engines, enrich, row detectors.
    ``n_buckets=None`` skips the shuffle (the stream path has none)."""
    _layer(tracer, "sources.read", turns, None)
    src = turns
    if n_buckets is not None:
        src = turns.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        ).repartition(n_buckets, "bucket")
        _layer(tracer, "pipeline.bucket_shuffle", src, turns)
    src = _persisted(tracer, src)
    _layer(tracer, "functions.parse", parse_transcripts(src, engine="pandas"), src)
    _layer(tracer, "functions.parse_sql", parse_transcripts(src, engine="sql"), src)
    parsed = _persisted(tracer, parse_transcripts(src, engine="pandas"))
    _layer(tracer, "sources.dims.enrich", enrich(parsed), parsed)
    enriched = _persisted(tracer, enrich(parsed))
    _layer(tracer, "operators.security.row",
           sec.attack_events(enriched).unionByName(sec.scan_events(enriched)), enriched)
    return [src, parsed, enriched]


def isolate_aggregate(tracer: Tracer, spark: SparkSession, out_dir: str) -> list[DataFrame]:
    """The aggregate-stage operators over a persisted read-back of the
    op's ``parsed_turns`` (and its row-event sinks for threat scores)."""
    parsed = _persisted(tracer, catalog.read_table(spark, out_dir, "parsed_turns"))
    agg = (sec.suspicious_ip_events(parsed)
           .unionByName(sec.brute_force_events(parsed))
           .unionByName(sec.unusual_method_events(parsed)))
    _layer(tracer, "operators.security.agg", agg, parsed)
    _layer(tracer, "operators.performance", perf.performance_metrics(parsed), parsed)
    anomalies = an.response_time_zscore_anomalies(parsed).select(
        "conv_id", "turn_idx", "event_ts", "metric_name",
        "expected_value", "actual_value", "z_score",
    ).unionByName(an.error_rate_iqr_anomalies(parsed).select(
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
        "event_ts", "metric_name", "expected_value", "actual_value", "z_score",
    ))
    _layer(tracer, "operators.anomaly", anomalies, parsed)
    events = agg
    for sink in ("security_events_high", "security_events_medium", "security_events_low"):
        if catalog.table_exists(spark, out_dir, sink):
            events = events.unionByName(catalog.read_table(spark, out_dir, sink).drop("bucket"))
    events = _persisted(tracer, events)
    _layer(tracer, "operators.security.threat_scores", sec.ip_threat_scores(events), events)
    return [parsed, events]


# ---------------------------------------------------------------- the table
def _put(out: dict, layer: str, wall: float, t: Totals) -> None:
    vals = {"wall_s": wall, "jobs": t.jobs, "tasks": t.tasks, "gc_s": t.gc_s,
            "shuffle_bytes": t.shuffle_write_bytes, "spill_bytes": t.spill_bytes}
    for c in LAYERS[layer]:
        out[f"{layer}.{c}"] = vals[c]


def layer_table(
    log: EventLog,
    tracer: Tracer,
    op: tuple[float, float],
    iso: tuple[float, float],
    stage_walls: dict[str, float],
    files: dict[str, tuple[int, int]],
    progress: list[dict],
    overhead_s: float,
) -> dict[str, float]:
    """Per-layer metrics of one traced op (``op`` = its epoch interval) and
    the isolated layer calls made in the ``iso`` interval after it.
    ``stage_walls`` are the stage walls the run itself recorded, in s;
    ``files`` is :func:`sink_files` of the op's output."""
    out = {name: 0 for name in metric_names()}
    t0, t1 = op
    spans = tracer.between(t0, t1)
    stages = [s for s in spans if s.name in STAGE_NAMES.values()]
    micro = [(p["_t0"], p["_t0"] + p["durationMs"]["triggerExecution"] / 1000) for p in progress]
    groups = log.by_group(
        log.jobs_between(t0 * 1000, t1 * 1000),
        [(s.name, s.t0 * 1000, s.t1 * 1000) for s in stages],
    )

    def totals(pred) -> Totals:
        return log.totals([j for g, js in groups.items() if g and pred(g) for j in js])

    # wrapped layers
    writes = [s for s in spans if s.name.startswith(WRITE + ".")]
    _put(out, WRITE, union_s([(s.t0, s.t1) for s in writes], t0, t1),
         totals(lambda g: g.startswith(WRITE + ".")))
    for sink in SINKS:
        mine = [s for s in writes if s.name == f"{WRITE}.{sink}"]
        out[f"{WRITE}.{sink}.wall_s"] = sum(s.t1 - s.t0 for s in mine)
        out[f"{WRITE}.{sink}.files"] = files[sink][0]
    out[f"{WRITE}.files"] = sum(f for f, _ in files.values())
    out[f"{WRITE}.bytes"] = sum(b for _, b in files.values())
    for layer in (PROBE, "state.io", "state.throttle"):
        mine = [(s.t0, s.t1) for s in spans if s.name == layer]
        _put(out, layer, union_s(mine, t0, t1), totals(lambda g, n=layer: g == n))
    for s in stages:
        inside = [(c.t0, c.t1) for c in spans if c is not s and c.t0 >= s.t0 and c.t1 <= s.t1]
        wall = stage_walls.get(s.name, s.t1 - s.t0)
        _put(out, f"{s.name}.self", max(0.0, wall - union_s(inside, s.t0, s.t1)),
             totals(lambda g, n=s.name: g == n))

    # isolated layers: each call minus its baseline scan
    iso_groups = log.by_group(log.jobs_between(iso[0] * 1000, iso[1] * 1000))
    iso_spans = {s.name: s.t1 - s.t0 for s in tracer.between(*iso)}
    for layer in ("sources.read", "pipeline.bucket_shuffle", "functions.parse",
                  "functions.parse_sql", "sources.dims.enrich", "operators.security.row",
                  "operators.security.agg", "operators.performance", "operators.anomaly",
                  "operators.security.threat_scores"):
        if f"iso:{layer}" not in iso_spans:
            continue
        t = log.totals(iso_groups.get(f"iso:{layer}", []))
        base = log.totals(iso_groups.get(f"iso:{layer}.base", []))
        wall = iso_spans[f"iso:{layer}"] - iso_spans.get(f"iso:{layer}.base", 0.0)
        _put(out, layer, max(0.0, wall), t.minus(base))
        if layer == "functions.parse":
            py = t.python
            out["functions.parse.python_bytes_sent"] = py.get("data sent to Python workers", 0)
            out["functions.parse.python_bytes_received"] = py.get("data returned from Python workers", 0)
            out["functions.parse.rows"] = py.get("number of output rows", 0)
        if layer == "pipeline.bucket_shuffle":
            reads = sorted(log.shuffle_read_per_task(iso_groups.get(f"iso:{layer}", [])))
            if reads:
                out["pipeline.bucket_shuffle.skew"] = reads[-1] / reads[len(reads) // 2]

    # streaming micro-batches: summed parts of the drain, median input rows
    for key, name in MICROBATCH.items():
        out[name] = sum(p["durationMs"].get(key, 0) for p in progress) / 1000
    if progress:
        rows = sorted(p["numInputRows"] for p in progress)
        out["streaming.microbatch.input_rows_p50"] = rows[len(rows) // 2]

    whole = log.totals([j for js in groups.values() for j in js])
    out.update({
        "spark.wall_s": t1 - t0, "spark.jobs": whole.jobs, "spark.stages": whole.stages,
        "spark.tasks": whole.tasks, "spark.shuffle_bytes": whole.shuffle_write_bytes,
        "spark.spill_bytes": whole.spill_bytes, "spark.gc_s": whole.gc_s,
        "spark.cpu_s": whole.cpu_s,
    })
    covered = union_s([(s.t0, s.t1) for s in spans] + micro, t0, t1)
    out["pipeline.unattributed_s"] = (t1 - t0) - covered
    out["trace.overhead_s"] = overhead_s
    return out
