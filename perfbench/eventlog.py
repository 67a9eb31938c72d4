"""Stdlib-only reducer for Spark event logs (one JSON event per line).

It turns the events of one application into the numbers the per-layer
table needs:

- jobs with their job group (``spark.jobGroup.id``), submission and
  completion times and stage ids;
- per-stage task statistics: executor run time, executor CPU time,
  shuffle bytes written, bytes spilled (memory + disk) and the skew ratio
  (max / median task run time);
- SQL plan metrics per execution, summed per (plan node name, metric
  name) over task accumulator updates and driver-side accumulator
  updates, with the execution's job group.

Spark writes the SQL plan twice or more per execution (the initial plan
and every adaptive re-plan). Each re-plan may register fresh accumulator
ids, so every plan seen is indexed; an accumulator id belongs to exactly
one plan node.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Iterable, Iterator

_SQL = "org.apache.spark.sql.execution.ui."
_EXEC_START = _SQL + "SparkListenerSQLExecutionStart"
_EXEC_UPDATE = _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = _SQL + "SparkListenerDriverAccumUpdates"


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    tasks: int = 0
    run_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def skew(self) -> float:
        """max / median task run time; 1.0 when there is nothing to compare."""
        if len(self.run_ms) < 2:
            return 1.0
        med = statistics.median(self.run_ms)
        return max(self.run_ms) / med if med > 0 else 1.0


@dataclass
class Reduction:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=lambda: defaultdict(Stage))
    #: execution id -> job group (the group that was set when it started)
    exec_group: dict[int, str | None] = field(default_factory=dict)
    #: accumulator id -> (execution id, plan node name, metric name, metric type)
    accums: dict[int, tuple[int, str, str, str]] = field(default_factory=dict)
    #: accumulator id -> summed update
    accum_sum: dict[int, int] = field(default_factory=lambda: defaultdict(int))
    #: accumulator id -> simpleString of the plan node that owns it
    acc_node_string: dict[int, str] = field(default_factory=dict)
    #: "number of output rows" accumulator of a plan node -> per child,
    #: the same accumulators of the nearest nodes below it that count rows
    input_rows: dict[int, list[list[int]]] = field(default_factory=dict)

    def plan_metrics(self, groups: set[str]) -> dict[tuple[str, str, str], int]:
        """Summed plan metrics of executions started under ``groups``,
        keyed (node name, metric name, metric type)."""
        out: dict[tuple[str, str, str], int] = defaultdict(int)
        for acc, (ex, node, name, mtype) in self.accums.items():
            if self.exec_group.get(ex) in groups and acc in self.accum_sum:
                out[(node, name, mtype)] += self.accum_sum[acc]
        return dict(out)

    def node_metric(self, groups: set[str], node_pred, metric: str) -> list[int]:
        """Values of ``metric`` on every plan node (one entry per
        accumulator) whose (name, simpleString) satisfies ``node_pred``,
        for executions started under ``groups``."""
        return [
            self.accum_sum.get(acc, 0)
            for acc, (ex, node, name, _t) in self.accums.items()
            if name == metric
            and self.exec_group.get(ex) in groups
            and node_pred(node, self.acc_node_string.get(acc, ""))
        ]

    def node_rows(self, groups: set[str], node_pred) -> list[tuple[int, list[int]]]:
        """(output rows, input rows per child) of every plan node whose
        (name, simpleString) satisfies ``node_pred``, for executions
        started under ``groups``."""
        return [
            (
                self.accum_sum.get(acc, 0),
                [sum(self.accum_sum.get(a, 0) for a in child) for child in self.input_rows[acc]],
            )
            for acc, (ex, node, name, _t) in self.accums.items()
            if name == _ROWS
            and acc in self.input_rows
            and self.exec_group.get(ex) in groups
            and node_pred(node, self.acc_node_string.get(acc, ""))
        ]


_ROWS = "number of output rows"


def _rows_acc(node: dict) -> int | None:
    return next((m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == _ROWS), None)


def _rows_below(node: dict) -> list[int]:
    """Row accumulators of ``node`` or, if it counts none, of the nearest
    nodes below it that do."""
    acc = _rows_acc(node)
    if acc is not None:
        return [acc]
    return [a for child in node.get("children", []) for a in _rows_below(child)]


def _walk(plan: dict) -> Iterator[dict]:
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def _as_int(v) -> int:
    if isinstance(v, (int, float)):
        return int(v)
    try:
        return int(str(v))
    except ValueError:
        return 0


def read_events(path: str) -> Iterator[dict]:
    """Events of one uncompressed, non-rolling event log file."""
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def reduce_events(events: Iterable[dict]) -> Reduction:
    red = Reduction()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            red.jobs[jid] = Job(
                job_id=jid,
                group=props.get("spark.jobGroup.id"),
                start_ms=ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs", [])),
            )
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                red.exec_group.setdefault(int(ex), props.get("spark.jobGroup.id"))
        elif kind == "SparkListenerJobEnd":
            job = red.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            st = red.stages[ev["Stage ID"]]
            tm = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms.append(_as_int(tm.get("Executor Run Time", 0)))
            st.cpu_ns += _as_int(tm.get("Executor CPU Time", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += _as_int(sw.get("Shuffle Bytes Written", 0))
            st.spill_bytes += _as_int(tm.get("Memory Bytes Spilled", 0)) + _as_int(
                tm.get("Disk Bytes Spilled", 0)
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    red.accum_sum[acc["ID"]] += _as_int(acc.get("Update", 0))
        elif kind in (_EXEC_START, _EXEC_UPDATE):
            ex = int(ev["executionId"])
            if kind == _EXEC_START and "jobGroupId" in ev:
                red.exec_group[ex] = ev.get("jobGroupId")
            for node in _walk(ev["sparkPlanInfo"]):
                name = node.get("nodeName", "").strip()
                simple = node.get("simpleString", "")
                rows = _rows_acc(node)
                if rows is not None:
                    red.input_rows[rows] = [_rows_below(c) for c in node.get("children", [])]
                for m in node.get("metrics", []):
                    aid = m["accumulatorId"]
                    red.accums[aid] = (ex, name, m["name"], m.get("metricType", ""))
                    red.acc_node_string[aid] = simple
        elif kind == _DRIVER_ACCUM:
            for aid, value in ev.get("accumUpdates", []):
                red.accum_sum[aid] += _as_int(value)
    return red


def union_ms(intervals: Iterable[tuple[int, int]]) -> int:
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def group_stats(red: Reduction, groups: set[str]) -> dict[str, float]:
    """Job/task totals of every job started under one of ``groups``."""
    jobs = [j for j in red.jobs.values() if j.group in groups]
    stages = {sid for j in jobs for sid in j.stage_ids if sid in red.stages}
    st = [red.stages[s] for s in stages]
    return {
        "jobs": len(jobs),
        "tasks": sum(s.tasks for s in st),
        "exec_cpu_s": sum(s.cpu_ns for s in st) / 1e9,
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in st),
        "spill_bytes": sum(s.spill_bytes for s in st),
        "skew": max((s.skew for s in st if s.tasks >= 2), default=1.0),
        "job_ms": union_ms(
            (j.start_ms, j.end_ms) for j in jobs if j.end_ms is not None
        ),
    }
