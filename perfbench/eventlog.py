"""Spark event-log reader: job group -> jobs -> stages -> tasks.

Reads the JSON-lines log that ``spark.eventLog.enabled`` writes (plain or
rolling ``eventlog_v2_*`` directory, uncompressed) and sums, per set of
jobs, the ``TaskEnd`` metrics the per-layer table needs: run time, CPU,
GC, shuffle read/write bytes and memory/disk spill. It also sums the
``ArrowEvalPython`` SQL metrics (bytes sent to / returned from the Python
workers, rows) by metric name, resolving accumulator ids through every
plan version AQE logged.

Jobs are keyed by ``spark.jobGroup.id``. A job without a group is handed
to the innermost caller-supplied interval that contains its submission
time, so unwrapped jobs count toward the enclosing stage's self time.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


@dataclass
class Task:
    stage_id: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    output_bytes: int
    accums: dict[int, int]


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None
    stage_ids: list[int]


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    python: dict[str, int] = field(default_factory=dict)

    def minus(self, other: "Totals") -> "Totals":
        """Times and bytes of a layer call less those of its baseline scan,
        floored at zero; job, stage and task counts stay the call's own."""
        out = Totals(jobs=self.jobs, stages=self.stages, tasks=self.tasks)
        for k in ("run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "output_bytes"):
            setattr(out, k, max(0, getattr(self, k) - getattr(other, k)))
        out.python = {k: max(0, v - other.python.get(k, 0))
                      for k, v in self.python.items()}
        return out


def _walk_python_nodes(plan: dict, out: dict[int, str]) -> None:
    if plan.get("nodeName", "").startswith("ArrowEvalPython"):
        for m in plan.get("metrics", []):
            out[int(m["accumulatorId"])] = m["name"]
    for child in plan.get("children", []):
        _walk_python_nodes(child, out)


def _int(v) -> int:
    return int(v) if v not in (None, "") else 0


class EventLog:
    def __init__(self, lines):
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        self.python_accums: dict[int, str] = {}
        self.stage_owner: dict[int, int] = {}
        for line in lines:
            line = line.strip()
            if line:
                self._add(json.loads(line))

    @classmethod
    def from_dir(cls, path: str) -> "EventLog":
        """Every event file under ``path``, in rolling-index order."""
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                if n.startswith((".", "appstatus")):
                    continue
                idx = n.split("_")[1] if n.startswith("events_") else "0"
                files.append((int(idx) if idx.isdigit() else 0, os.path.join(root, n)))
        if not files:
            raise FileNotFoundError(f"no Spark event log under {path}")
        lines: list[str] = []
        for _, f in sorted(files):
            with open(f) as fh:
                lines.extend(fh)
        return cls(lines)

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            self.jobs[jid] = Job(jid, (e.get("Properties") or {}).get(GROUP_KEY),
                                 e["Submission Time"], None, list(e["Stage IDs"]))
            for sid in e["Stage IDs"]:
                self.stage_owner.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            # SQL metrics only; their plan may be logged after the task
            accums = {
                int(a["ID"]): _int(a.get("Update"))
                for a in (e.get("Task Info") or {}).get("Accumulables", [])
                if a.get("Metadata") == "sql"
            }
            self.tasks.append(Task(
                stage_id=e["Stage ID"],
                run_ms=_int(m.get("Executor Run Time")),
                cpu_ns=_int(m.get("Executor CPU Time")),
                gc_ms=_int(m.get("JVM GC Time")),
                shuffle_read=_int(sr.get("Remote Bytes Read")) + _int(sr.get("Local Bytes Read")),
                shuffle_write=_int(sw.get("Shuffle Bytes Written")),
                spill=_int(m.get("Memory Bytes Spilled")) + _int(m.get("Disk Bytes Spilled")),
                output_bytes=_int((m.get("Output Metrics") or {}).get("Bytes Written")),
                accums=accums,
            ))
        elif kind in (_SQL_START, _SQL_AQE):
            _walk_python_nodes(e.get("sparkPlanInfo") or {}, self.python_accums)

    def jobs_between(self, t0_ms: float, t1_ms: float) -> list[Job]:
        return [j for j in self.jobs.values() if t0_ms <= j.submit_ms <= t1_ms]

    def by_group(
        self, jobs: list[Job], intervals: list[tuple[str, float, float]] = ()
    ) -> dict[str, list[Job]]:
        """Jobs per group; an ungrouped job goes to the shortest interval
        ``(name, start_ms, end_ms)`` containing its submission, else to
        ``None``."""
        out: dict[str, list[Job]] = {}
        for j in jobs:
            g = j.group
            if g is None:
                inside = [(e - s, n) for n, s, e in intervals if s <= j.submit_ms <= e]
                g = min(inside)[1] if inside else None
            out.setdefault(g, []).append(j)
        return out

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        ids = {j.job_id for j in jobs}
        return [t for t in self.tasks if self.stage_owner.get(t.stage_id) in ids]

    def totals(self, jobs: list[Job]) -> Totals:
        tasks = self.tasks_of(jobs)
        t = Totals(jobs=len(jobs), stages=len({x.stage_id for x in tasks}), tasks=len(tasks))
        for x in tasks:
            t.run_s += x.run_ms / 1000
            t.cpu_s += x.cpu_ns / 1e9
            t.gc_s += x.gc_ms / 1000
            t.shuffle_read_bytes += x.shuffle_read
            t.shuffle_write_bytes += x.shuffle_write
            t.spill_bytes += x.spill
            t.output_bytes += x.output_bytes
            for acc, v in x.accums.items():
                name = self.python_accums.get(acc)
                if name is not None:
                    t.python[name] = t.python.get(name, 0) + v
        return t

    def shuffle_read_per_task(self, jobs: list[Job]) -> list[int]:
        """Shuffle-read bytes of each task that read shuffle data."""
        return [t.shuffle_read for t in self.tasks_of(jobs) if t.shuffle_read > 0]
