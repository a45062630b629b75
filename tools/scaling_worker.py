"""One scaling-bench trial: run the full pipeline on ``cores`` CPUs.

Usage: python tools/scaling_worker.py <cores> <input_parquet> <output_dir>
Prints one JSON line:
{"cores": N, "pinned_cpus": P, "turns": N, "wall_s": S, "turns_per_sec": T}

Run as a fresh process per trial: a SparkSession's master is fixed for the
process lifetime, and the CPU pin reaches the JVM and the pyspark daemons
only if it is set before they start. Spark scratch and the warm-up output go
to ``<output_dir>.scratch``, which is removed on exit.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from log_analysis_system_spark.pipeline import run_pipeline  # noqa: E402
from log_analysis_system_spark.session import get_spark  # noqa: E402

# More than one task per core gives every stage several waves, so a
# host-starved straggler costs one small task, not the whole stage.
TASKS_PER_CORE = 3
WARMUP_TURNS = 20_000


def main() -> None:
    cores, inp, out = int(sys.argv[1]), sys.argv[2], os.path.abspath(sys.argv[3])
    # Confine the whole process tree (JVM task threads, GC, the pyspark
    # daemon and its UDF workers) to ``cores`` CPUs, as an executor
    # container's CPU allotment would. Unpinned on a 32-CPU host, a local[1]
    # job drew about two CPUs and inflated the small level.
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:cores])
    # The pyspark UDF workers import the package too, and they see the
    # JVM's PYTHONPATH, not this process's sys.path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    scratch = out + ".scratch"
    try:
        spark = get_spark(
            app_name=f"scaling-{cores}",
            master=f"local[{cores}]",
            shuffle_partitions=cores * TASKS_PER_CORE,
            extra_conf={"spark.local.dir": os.path.join(scratch, "local")},
        )
        spark.sparkContext.setLogLevel("ERROR")
        transcripts = spark.read.parquet(inp)
        n = transcripts.count()

        # Warm-up: a small end-to-end run starts the Python workers, compiles
        # codegen and initialises committers. Steady-state throughput is what
        # scales to a long-running cluster job, not cold start.
        run_pipeline(spark, transcripts.limit(WARMUP_TURNS),
                     os.path.join(scratch, "warmup"), run_id="warmup",
                     resume=False, n_buckets=cores * TASKS_PER_CORE)

        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        run_pipeline(spark, transcripts, out, run_id=f"scale{cores}",
                     resume=False, n_buckets=cores * TASKS_PER_CORE)
        wall = time.perf_counter() - t0
        print(json.dumps({
            "cores": cores,
            "pinned_cpus": len(os.sched_getaffinity(0)),
            "turns": n,
            "wall_s": round(wall, 2),
            "turns_per_sec": round(n / wall, 1),
        }))
        spark.stop()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
