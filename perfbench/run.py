"""Transcript-pipeline benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload batch_fixed --seed 1 --seconds 5 --trace 0

Run from the repository root. The command pins and records the runtime
config, builds a Spark session (timed as ``setup_s``), writes the seeded
inputs, then runs ops back to back until ``--seconds`` have passed (at
least one; an op in progress finishes). Every op is checked outside its
timed span; a failed check fails the op and makes the exit code 1.

``--trace 0`` reports the end-to-end metrics: the median over the run's
ops, with quartiles and counts in the detail line. ``--trace 1`` turns on
Spark's event log and runs three ops: a traced one (which the per-layer
table describes; it is the session's first op, like every untraced run's
first op), an untraced one and a traced one, whose difference is
``trace.overhead_s``. The isolated layer calls run after the first.

The last stdout line is the result object; the line before it is the
detail record (config, per-op values, quartiles). Work files live under
``.perfbench_work/`` in the current directory and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import uuid
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _meminfo_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_config(work: str) -> dict:
    """Runtime config for the session, set in the environment before the
    JVM starts. The driver heap is a quarter of host RAM: the session
    default assumes a much larger host."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = _meminfo_kb()
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_kb // 4 // 1024}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = None
    return {**env, "host_cores": os.cpu_count(), "host_ram_mb": mem_kb // 1024,
            "SPARK_GRAFT_SINK_CONCURRENCY": os.environ.get(
                "SPARK_GRAFT_SINK_CONCURRENCY", "unset (pipeline default)")}


# ----------------------------------------------------------------- processes
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_jiffies() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


class PeakRss:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled from /proc every 50 ms."""

    def __enter__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def _sample(self):
        me = os.getpid()
        while not self._stop.wait(0.05):
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in descendants(me)))

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        while os.path.exists(f"/proc/{pid}"):
            time.sleep(0.05)


# ---------------------------------------------------------------------- stats
def summary(values: list[float]) -> dict:
    """Median, quartiles and count of one metric's samples."""
    v = sorted(values)
    q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], v[0], v[0])
    return {"median": statistics.median(v), "q1": q1, "q3": q3, "n": len(v)}


def tail(values: list[float]) -> dict | None:
    """The highest percentile that has at least ten samples beyond it."""
    v = sorted(values)
    if len(v) <= 10:
        return None
    return {"percentile": 100 * (len(v) - 10) / len(v), "value": v[-11], "n": len(v)}


# ----------------------------------------------------------------------- main
def warm_session(app: str, extra_conf: dict):
    """Session creation until warm: JVM up, one Arrow-UDF batch on every
    core so each Python worker is forked."""
    from log_analysis_system_spark.functions.parse import parse_transcripts
    from log_analysis_system_spark.session import get_spark

    spark = get_spark(app, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    line = '10.0.0.1 - - [10/Oct/2023:13:55:36 -0700] "GET / HTTP/1.1" 200 12'
    df = spark.createDataFrame(
        [(f"warm-{i}", i, "user", line, None, None) for i in range(2 * cores)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).repartition(cores)
    parse_transcripts(df, engine="pandas").write.format("noop").mode("overwrite").save()
    return spark


def run_op(wl, spark, work: str, i: int, failures: list, around=nullcontext):
    """One timed op (inside ``around``) plus its check; returns the op, or
    None if it raised or failed its check."""
    op_dir = os.path.join(work, f"op{i}")
    try:
        with around(), PeakRss() as rss:
            e0, j0 = time.time(), cpu_jiffies()
            op = wl.run(spark, op_dir)
            op.epoch, op.steal = (e0, time.time()), steal_share(j0, cpu_jiffies())
        op.peak_rss_mb = rss.mb
        errors = wl.check(spark, op)
    except Exception as exc:  # noqa: BLE001 - an op that raises is a failed op
        errors = [f"{type(exc).__name__}: {exc}"]
        op = None
    if errors:
        failures.append({"op": i, "errors": errors})
        print(f"op {i} failed: {errors}", file=sys.stderr)
        return None
    return op


def untraced_ops(wl, spark, work, seconds, failures) -> tuple[list, int]:
    ops, i, t0 = [], 0, time.perf_counter()
    while i == 0 or time.perf_counter() - t0 < seconds:
        op = run_op(wl, spark, work, i, failures)
        shutil.rmtree(os.path.join(work, f"op{i}"), ignore_errors=True)
        i += 1
        if op is not None:
            ops.append(op)
    return ops, i


def end_to_end(ops, setup_s: float) -> tuple[dict, dict]:
    per_op = {
        "turns_per_s": [o.turns / o.wall_s for o in ops],
        "peak_rss_mb": [o.peak_rss_mb for o in ops],
        "microbatch_s": [m for o in ops for m in o.microbatch_s],
    }
    stats = {k: summary(v) for k, v in per_op.items()}
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "turns_per_s": {"value": stats["turns_per_s"]["median"], "unit": "turns/s"},
        "microbatch_s_p50": {"value": stats["microbatch_s"]["median"], "unit": "s"},
    }
    detail = {
        "ops": [{"wall_s": o.wall_s, "turns": o.turns, "peak_rss_mb": o.peak_rss_mb,
                 "microbatch_s": o.microbatch_s, "cpu_steal_share": o.steal} for o in ops],
        "stats": stats,
        "microbatch_s_tail": tail(per_op["microbatch_s"]),
    }
    return metrics, detail


def traced_ops(wl, spark, work, failures, tracer):
    """A traced op, the isolated layer calls, then an untraced/traced pair
    whose difference is the tracing overhead."""
    from perfbench.trace import sink_files

    first = run_op(wl, spark, work, 0, failures, tracer.wrapping)
    if first is None:
        raise RuntimeError(f"traced op failed: {failures}")
    files = sink_files(first.out_dir)
    iso0 = time.time()
    for df in wl.isolate(spark, tracer, first):
        df.unpersist()
    iso = (iso0, time.time())
    plain = run_op(wl, spark, work, 1, failures)
    again = run_op(wl, spark, work, 2, failures, tracer.wrapping)
    for i in range(3):
        shutil.rmtree(os.path.join(work, f"op{i}"), ignore_errors=True)
    overhead = again.wall_s - plain.wall_s if plain and again else float("nan")
    return first, files, iso, overhead, plain, again


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    sys.path.insert(0, ROOT)
    try:
        import log_analysis_system_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.eventlog import EventLog
    from perfbench.trace import Tracer, layer_table, metric_names
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")

    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    spark = None
    try:
        config = pin_config(work)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Xms1g -Djava.io.tmpdir={config['TMPDIR']} -XX:-UsePerfData",
        }
        evdir = os.path.join(work, "eventlog")
        if args.trace:
            os.makedirs(evdir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"file://{evdir}",
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        spark = warm_session(f"perfbench-{args.workload}", conf)
        setup_s = time.perf_counter() - t0

        import pandas
        import pyarrow
        import pyspark

        config.update({"spark": pyspark.__version__, "pandas": pandas.__version__,
                       "pyarrow": pyarrow.__version__, "seed": args.seed,
                       "workload": args.workload, "trace": args.trace,
                       "setup_s": setup_s})
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        config["input_turns"] = wl.n_turns
        failures: list = []
        if not args.trace:
            ops, attempted = untraced_ops(wl, spark, work, args.seconds, failures)
            stop_session(spark)
            spark = None
            if not ops:
                raise RuntimeError(f"every op failed: {failures}")
            metrics, detail = end_to_end(ops, setup_s)
        else:
            tracer = Tracer(spark)
            first, files, iso, overhead, plain, again = traced_ops(
                wl, spark, work, failures, tracer)
            attempted = 3
            stop_session(spark)
            spark = None
            table = layer_table(EventLog.from_dir(evdir), tracer, first.epoch, iso,
                                first.stage_walls, files, first.progress, overhead)
            units = metric_names()
            metrics = {k: {"value": table[k], "unit": u} for k, u in units.items()}
            detail = {
                "traced_op_wall_s": first.wall_s,
                "untraced_wall_s": plain.wall_s if plain else None,
                "traced_again_wall_s": again.wall_s if again else None,
                "share_of_traced_wall": {
                    k[:-len(".wall_s")]: table[k] / first.wall_s
                    for k in table if k.endswith(".wall_s") and not k.startswith("spark.")},
                "unattributed_share": table["pipeline.unattributed_s"] / first.wall_s,
                "note": "the op's parse, enrich and row-detector compute sits in "
                        "pipeline.route.self (the route stage's grouped collect fills "
                        "the persisted frame); their own rows come from isolated calls",
            }
        detail = {"config": config, "failures": failures,
                  "failed_share": len(failures) / attempted, **detail}
        print(json.dumps({"perfbench_detail": detail}))
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
        return 1 if failures else 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
