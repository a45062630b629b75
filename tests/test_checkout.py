"""The code under test is this checkout's, whatever path it sits at.

A copy of the repo (a parent commit exported for a before/after check, a CI
workspace) must test and measure its own package, not one at a fixed path.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import log_analysis_system_spark
from log_analysis_system_spark.datagen.transcripts import write_transcripts

# Derived here, not taken from conftest: conftest's sys.path is under test.
REPO = Path(__file__).resolve().parents[1]


def test_package_imports_from_this_checkout():
    pkg = Path(log_analysis_system_spark.__file__).resolve()
    assert pkg.is_relative_to(REPO), (pkg, REPO)


def test_scaling_worker_runs_outside_the_checkout(spark, tmp_path):
    """The scaling worker's Python UDF workers import the package with no
    PYTHONPATH and a cwd outside the repo, and the trial is pinned to its
    core count. Two cores, not one: on a 4-vCPU host a one-CPU trial took
    about 90 s and a two-CPU one about 55 s."""
    cores = min(2, len(os.sched_getaffinity(0)))
    inp = str(tmp_path / "transcripts")
    write_transcripts(spark, inp, n_turns=2000, n_convs=100)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, str(REPO / "tools" / "scaling_worker.py"), str(cores),
         inp, str(tmp_path / "out")],
        capture_output=True, text=True, cwd=tmp_path, env=env, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    line = json.loads(res.stdout.strip().splitlines()[-1])
    assert line["cores"] == cores and line["pinned_cpus"] == cores
    assert line["turns"] == 2000 and line["wall_s"] > 0
    assert not (tmp_path / "out.scratch").exists()
