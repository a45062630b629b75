"""The event-log reader on a small recorded log.

``fixtures/eventlog_small.jsonl`` is a real Spark 4.1 event log (fields
trimmed to the ones the reader uses) of three actions on ``local[2]``:

- jobs 0-1, group ``functions.parse``: the Arrow parse UDF over 40 rows
  after a 2-way repartition; AQE re-planned it, so the task accumulators
  carry ids that only the adaptive plan update names;
- jobs 2-3, group ``pipeline.bucket_shuffle``: a 3-way hash repartition
  and a grouped count;
- jobs 4-5, no group: a plain count.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

import os
import shutil

import pytest

from perfbench.eventlog import EventLog, Totals
from perfbench.trace import union_s

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    with open(FIXTURE) as fh:
        return EventLog(fh)


def test_groups_map_to_jobs(log):
    groups = log.by_group(list(log.jobs.values()))
    assert {g: [j.job_id for j in js] for g, js in groups.items()} == {
        "functions.parse": [0, 1],
        "pipeline.bucket_shuffle": [2, 3],
        None: [4, 5],
    }


def test_ungrouped_jobs_go_to_the_innermost_enclosing_interval(log):
    j4, j5 = log.jobs[4], log.jobs[5]
    outer = ("pipeline.route", j4.submit_ms - 10_000, j5.submit_ms + 10_000)
    inner = ("state.io", j5.submit_ms - 1, j5.submit_ms + 1)
    groups = log.by_group([j4, j5], [outer, inner])
    assert [j.job_id for j in groups["pipeline.route"]] == [4]
    assert [j.job_id for j in groups["state.io"]] == [5]


def test_task_metrics_are_summed_per_group(log):
    groups = log.by_group(list(log.jobs.values()))
    parse = log.totals(groups["functions.parse"])
    assert (parse.jobs, parse.stages, parse.tasks) == (2, 2, 4)
    assert parse.shuffle_write_bytes == parse.shuffle_read_bytes == 1282
    assert parse.run_s == pytest.approx(7.792)
    assert parse.gc_s == pytest.approx(0.064)
    assert parse.spill_bytes == 0
    shuffle = log.totals(groups["pipeline.bucket_shuffle"])
    assert (shuffle.jobs, shuffle.tasks, shuffle.shuffle_write_bytes) == (2, 5, 316)
    # a job whose only stage was skipped still counts as a job
    assert log.jobs[1].stage_ids == [1, 2]
    whole = log.totals(list(log.jobs.values()))
    assert whole.tasks == 12 and whole.jobs == 6


def test_arrow_eval_python_metrics_resolve_through_the_adaptive_plan(log):
    groups = log.by_group(list(log.jobs.values()))
    py = log.totals(groups["functions.parse"]).python
    assert py["number of output rows"] == 40
    assert py["data sent to Python workers"] == 2512
    assert py["data returned from Python workers"] == 6672
    assert log.totals(groups["pipeline.bucket_shuffle"]).python == {}


def test_shuffle_read_per_task_lists_only_reading_tasks(log):
    groups = log.by_group(list(log.jobs.values()))
    assert sorted(log.shuffle_read_per_task(groups["pipeline.bucket_shuffle"])) == [146, 170]


def test_minus_subtracts_times_and_bytes_but_keeps_counts():
    call = Totals(jobs=1, tasks=4, run_s=3.0, gc_s=0.5, shuffle_write_bytes=10,
                  python={"number of output rows": 7})
    base = Totals(jobs=1, tasks=4, run_s=1.0, gc_s=0.7, shuffle_write_bytes=4)
    d = call.minus(base)
    assert (d.jobs, d.tasks, d.run_s, d.gc_s, d.shuffle_write_bytes) == (1, 4, 2.0, 0, 6)
    assert d.python == {"number of output rows": 7}


def test_from_dir_reads_a_rolling_log(tmp_path):
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    with open(FIXTURE) as fh:
        lines = fh.readlines()
    (roll / "events_2_local-1").write_text("".join(lines[20:]))
    (roll / "events_1_local-1").write_text("".join(lines[:20]))
    (roll / "appstatus_local-1").write_text("")
    log = EventLog.from_dir(str(tmp_path))
    assert sorted(log.jobs) == [0, 1, 2, 3, 4, 5]
    assert log.totals(list(log.jobs.values())).tasks == 12
    shutil.rmtree(roll)
    with pytest.raises(FileNotFoundError):
        EventLog.from_dir(str(tmp_path))


def test_union_of_intervals_is_clipped_and_merged():
    assert union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_s([(-5, 1), (9, 20)], 0, 10) == 2
    assert union_s([(11, 12), (4, 4)], 0, 10) == 0
    assert union_s([(2, 8), (3, 4)], 0, 10) == 6
