"""Tests for the event-log reader.

    python3 -m pytest perfbench/test_evlog.py -q

``testdata/replay_small.evlog`` was recorded by the benchmark's
event-logging listener around a 2-batch ``replay_in_batches`` of 4,000
events over 400 docs followed by one ``ops.decrypt_batch`` scan, on
``local[4]``; plan text, stack traces and unused task fields were dropped
to keep it small.
"""

import json
import os

from evlog import EventLog, Job, Task

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "replay_small.evlog")


def raw_events():
    with open(LOG) as f:
        return [json.loads(line) for line in f if line.strip()]


def test_task_metrics_match_the_raw_log():
    log = EventLog.read(LOG)
    ends = [e for e in raw_events() if e["Event"] == "SparkListenerTaskEnd"]
    assert len(log.tasks) == len(ends) == 20
    assert sum(t.run_ms for t in log.tasks) == sum(e["Task Metrics"]["Executor Run Time"] for e in ends)
    assert sum(t.shuffle_write_bytes for t in log.tasks) == sum(
        e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for e in ends
    )
    completed = {e["Stage Info"]["Stage ID"] for e in raw_events() if e["Event"] == "SparkListenerStageCompleted"}
    assert len(log.jobs) == 10 and log.stages_in() == completed and len(completed) == 10


def test_sql_metrics_by_node_and_unit():
    log = EventLog.read(LOG)
    # rows through the Arrow UDF node: encrypt of both batches + decrypt
    assert log.sql_metric("ArrowEvalPython", "number of output rows") == 773
    # a timing metric is logged in ms and returned in seconds
    ids = [a for a, (n, m, _) in log.sql_metrics.items()
           if n == "ArrowEvalPython" and m == "time to run Python workers"]
    ms = sum(t.sql_updates.get(a, 0) for t in log.tasks for a in ids)
    assert ms > 0 and abs(log.sql_metric("ArrowEvalPython", "time to run Python workers") - ms / 1e3) < 1e-9
    # the scan node name carries a trailing space in the plan info
    assert log.sql_metric("Scan parquet", "number of files read") > 0
    # broadcast size is a driver-side update, not a task update
    assert log.driver_updates and log.sql_metric("BroadcastExchange", "data size") > 0
    assert log.sql_metric("NoSuchNode", "data size") == 0


def test_windows_select_by_launch_submission_and_execution_start():
    log = EventLog.read(LOG)
    first = min(t.launch_ms for t in log.tasks)
    last = max(t.finish_ms for t in log.tasks)
    everything = [(first - 60_000, last + 60_000)]
    nothing = [(0, 1)]
    name = ("BroadcastExchange", "data size")
    assert log.sql_metric(*name, everything) == log.sql_metric(*name)
    assert log.sql_metric(*name, nothing) == 0
    assert log.tasks_in(nothing) == [] and log.jobs_in(nothing) == []
    mid = sorted(j.submit_ms for j in log.jobs)[5]
    early, late = [(0, mid - 1)], [(mid, last + 60_000)]
    assert len(log.jobs_in(early)) + len(log.jobs_in(late)) == len(log.jobs)


def _task(launch, finish):
    return Task(launch, finish, finish - launch, 0, 0, 0, {})


def test_idle_time_is_the_window_not_covered_by_any_task():
    log = EventLog(tasks=[_task(0, 10), _task(5, 15), _task(20, 30), _task(35, 50)])
    # busy [0,15] ∪ [20,30] ∪ [35,40] inside [0,40] → idle 5 + 5 = 10 ms
    assert abs(log.idle_s([(0, 40)]) - 0.010) < 1e-12
    # two windows add up; a window with no task is all idle
    assert abs(log.idle_s([(0, 40), (100, 130)]) - 0.040) < 1e-12


def test_skipped_stages_do_not_count():
    log = EventLog(jobs=[Job(10, [1, 2]), Job(20, [3])], completed_stages={1, 3})
    assert log.stages_in() == {1, 3}
    assert log.stages_in([(15, 25)]) == {3}
