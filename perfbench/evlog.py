"""Reader for the Spark event log of a traced benchmark run.

The traced run attaches an event-logging listener around the measured
cycle only, so the log holds the jobs, stages, tasks and SQL executions of
that cycle. This module turns the log into the quantities the per-layer
metrics need:

- task metrics: run time, GC time, shuffle-write and output bytes, launch
  and finish times;
- jobs with their submission time and stage ids;
- SQL plan metrics, found by the accumulator ids that the plan-info trees
  of ``SQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate`` declare, with
  their values summed from task updates and driver-side updates. This
  covers the scan node (``size of files read``, ``scan time``,
  ``number of files read``), ``BroadcastExchange`` (``time to build``,
  ``data size``), ``Exchange`` (``shuffle bytes written``) and the Arrow
  Python UDF node (Spark 4.1 ``pythonBootTime``, ``pythonInitTime``,
  ``pythonTotalTime``, ``pythonDataSent``, ``pythonDataReceived`` and
  output rows, logged under their display names).

Every query takes an optional list of ``(start_ms, end_ms)`` windows, the
spans the benchmark recorded around its calls into the program: a task
counts by its launch time, a job by its submission time, and a driver-side
metric update by the start of its SQL execution.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# metric type → factor to seconds for time metrics; other types are raw
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    run_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    output_bytes: int
    sql_updates: dict[int, int]


@dataclass
class Job:
    submit_ms: int
    stage_ids: list[int]


@dataclass
class EventLog:
    tasks: list[Task] = field(default_factory=list)
    jobs: list[Job] = field(default_factory=list)
    # accumulator id → (plan node name, metric display name, metric type)
    sql_metrics: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    # SQL execution id → start time (ms)
    executions: dict[int, int] = field(default_factory=dict)
    # (execution id, accumulator id, value) from driver-side updates
    driver_updates: list[tuple[int, int, int]] = field(default_factory=list)
    completed_stages: set[int] = field(default_factory=set)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path) as f:
            for line in f:
                if line.strip():
                    log._add(json.loads(line))
        return log

    def _add(self, e: dict) -> None:
        ev = e.get("Event")
        if ev == "SparkListenerTaskEnd":
            self._add_task(e)
        elif ev == "SparkListenerJobStart":
            self.jobs.append(Job(e["Submission Time"], list(e.get("Stage IDs") or [])))
        elif ev == "SparkListenerStageCompleted":
            self.completed_stages.add(e["Stage Info"]["Stage ID"])
        elif ev in (_SQL_START, _SQL_AQE):
            if ev == _SQL_START:
                self.executions[e["executionId"]] = e["time"]
            self._add_plan(e["sparkPlanInfo"])
        elif ev == _DRIVER_ACCUM:
            for acc_id, value in e.get("accumUpdates") or []:
                self.driver_updates.append((e["executionId"], int(acc_id), int(value)))

    def _add_task(self, e: dict) -> None:
        info = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        updates = {}
        for a in info.get("Accumulables") or []:
            if a.get("Metadata") == "sql":
                updates[a["ID"]] = updates.get(a["ID"], 0) + int(a.get("Update") or 0)
        self.tasks.append(
            Task(
                launch_ms=info.get("Launch Time", 0),
                finish_ms=info.get("Finish Time", 0),
                run_ms=m.get("Executor Run Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
                output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                sql_updates=updates,
            )
        )

    def _add_plan(self, node: dict) -> None:
        for m in node.get("metrics") or []:
            self.sql_metrics[m["accumulatorId"]] = (
                node["nodeName"].strip(), m["name"], m["metricType"]
            )
        for child in node.get("children") or []:
            self._add_plan(child)

    # ------------------------------------------------------------ queries

    def tasks_in(self, windows=None) -> list[Task]:
        return [t for t in self.tasks if _inside(t.launch_ms, windows)]

    def jobs_in(self, windows=None) -> list[Job]:
        return [j for j in self.jobs if _inside(j.submit_ms, windows)]

    def stages_in(self, windows=None) -> set[int]:
        """Stages of the jobs in ``windows`` that ran (skipped stages of a
        reused shuffle are listed by the job but never complete)."""
        ids = {s for j in self.jobs_in(windows) for s in j.stage_ids}
        return ids & self.completed_stages

    def sql_metric(self, node: str, name: str, windows=None) -> float:
        """Sum of one SQL metric over every plan node called ``node``:
        seconds for time metrics, the metric's own unit otherwise."""
        ids = {
            acc: mtype
            for acc, (n, mname, mtype) in self.sql_metrics.items()
            if n == node and mname == name
        }
        total = 0.0
        for t in self.tasks_in(windows):
            for acc, v in t.sql_updates.items():
                if acc in ids:
                    total += v * _TIME_SCALE.get(ids[acc], 1)
        for exec_id, acc, v in self.driver_updates:
            if acc in ids and _inside(self.executions.get(exec_id, 0), windows):
                total += v * _TIME_SCALE.get(ids[acc], 1)
        return total

    def idle_s(self, windows) -> float:
        """Time inside ``windows`` during which no task was running."""
        total = 0.0
        for lo, hi in windows:
            busy = sorted(
                (max(lo, t.launch_ms), min(hi, t.finish_ms))
                for t in self.tasks
                if t.finish_ms > lo and t.launch_ms < hi
            )
            covered, cur_lo, cur_hi = 0, None, None
            for a, b in busy:
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            total += (hi - lo) - covered
        return total / 1e3


def _inside(ts_ms: int, windows) -> bool:
    return windows is None or any(lo <= ts_ms <= hi for lo, hi in windows)
