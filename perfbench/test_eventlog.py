"""Pins the event-log reducer against a tiny event log written here.

    python3 -m unittest perfbench/test_eventlog.py      (from the checkout root)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui."


def _task(stage, run_ms, cpu_ns, shuffle=0, spill_mem=0, spill_disk=0, accums=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Accumulables": [
                {"ID": aid, "Name": "x", "Update": str(v), "Metadata": "sql"} for aid, v in accums
            ]
            + [{"ID": 999, "Name": "internal.metrics.executorRunTime", "Update": run_ms}]
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Memory Bytes Spilled": spill_mem,
            "Disk Bytes Spilled": spill_disk,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _node(name, simple, metrics, children=()):
    return {
        "nodeName": name,
        "simpleString": simple,
        "metrics": [
            {"name": m, "accumulatorId": aid, "metricType": t} for m, aid, t in metrics
        ],
        "children": list(children),
    }


def _plan():
    """Join(rows 10) <- [Exchange <- Codegen <- MapInPandas(rows 11) <- Scan,
    Exchange <- Range(rows 5)]."""
    scan = _node(
        "Scan parquet ",
        "FileScan parquet Location: [file:/x/inputs/p]",
        [("scan time", 30, "timing"), ("size of files read", 31, "size")],
    )
    py = _node(
        "MapInPandas",
        "MapInPandas run(...)",
        [
            ("time to run Python workers", 20, "timing"),
            ("data sent to Python workers", 21, "size"),
            ("number of output rows", 11, "sum"),
        ],
        [scan],
    )
    left = _node("Exchange", "Exchange", [("records read", 40, "sum")],
                 [_node("WholeStageCodegen (1)", "WholeStageCodegen (1)",
                        [("duration", 12, "timing")], [py])])
    right = _node("Exchange", "Exchange", [],
                  [_node("Range", "Range (0, 5)", [("number of output rows", 13, "sum")])])
    return _node(
        "ShuffledHashJoin",
        "ShuffledHashJoin [id], Inner, (size(array_intersect(a, b)) > 0)",
        [("number of output rows", 10, "sum")],
        [left, right],
    )


def tiny_event_log() -> list[dict]:
    return [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {
            "Event": SQL + "SparkListenerSQLExecutionStart",
            "executionId": 0,
            "jobGroupId": "g1",
            "sparkPlanInfo": _plan(),
        },
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Submission Time": 1000,
            "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "g1", "spark.sql.execution.id": "0"},
        },
        _task(0, 100, 50_000_000, shuffle=700, accums=[(20, 40), (21, 1000), (30, 7)]),
        _task(0, 300, 150_000_000, shuffle=300, spill_mem=5, spill_disk=6,
              accums=[(20, 60), (21, 500), (30, 3)]),
        _task(1, 200, 100_000_000, accums=[(11, 11), (10, 10), (13, 5)]),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 1,
            "Submission Time": 1400,
            "Stage IDs": [2],
            "Properties": {"spark.jobGroup.id": "g1"},
        },
        _task(2, 50, 10_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 2,
            "Submission Time": 3000,
            "Stage IDs": [3],
            "Properties": {"spark.jobGroup.id": "g2"},
        },
        _task(3, 10, 1_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3250},
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[31, 4096]]},
    ]


class EventLogReducerTest(unittest.TestCase):
    def setUp(self):
        fd, self.path = tempfile.mkstemp(suffix=".eventlog")
        with os.fdopen(fd, "w") as f:
            for ev in tiny_event_log():
                f.write(json.dumps(ev) + "\n")
        self.red = eventlog.reduce_events(eventlog.read_events(self.path))

    def tearDown(self):
        os.unlink(self.path)

    def test_group_stats(self):
        st = eventlog.group_stats(self.red, {"g1"})
        self.assertEqual(st["jobs"], 2)
        self.assertEqual(st["tasks"], 4)
        self.assertAlmostEqual(st["exec_cpu_s"], 0.31)
        self.assertEqual(st["shuffle_write_bytes"], 1000)
        self.assertEqual(st["spill_bytes"], 11)
        # stage 0: run times 100 and 300 -> max / median = 300 / 200
        self.assertAlmostEqual(st["skew"], 1.5)
        # jobs [1000, 1500) and [1400, 2000) overlap: union is 1000 ms
        self.assertEqual(st["job_ms"], 1000)
        g2 = eventlog.group_stats(self.red, {"g2"})
        self.assertEqual((g2["jobs"], g2["tasks"], g2["job_ms"], g2["skew"]), (1, 1, 250, 1.0))
        self.assertEqual(eventlog.group_stats(self.red, {"other"})["jobs"], 0)

    def test_plan_metrics(self):
        pm = self.red.plan_metrics({"g1"})
        self.assertEqual(pm[("MapInPandas", "time to run Python workers", "timing")], 100)
        self.assertEqual(pm[("MapInPandas", "data sent to Python workers", "size")], 1500)
        self.assertEqual(pm[("Scan parquet", "scan time", "timing")], 10)
        # driver-side accumulator update
        self.assertEqual(pm[("Scan parquet", "size of files read", "size")], 4096)
        self.assertEqual(self.red.plan_metrics({"g2"}), {})

    def test_node_metric_and_node_rows(self):
        scans = self.red.node_metric(
            {"g1"}, lambda node, desc: node.startswith("Scan") and "/inputs/" in desc, "scan time"
        )
        self.assertEqual(scans, [10])
        rows = self.red.node_rows(
            {"g1"}, lambda node, desc: "Join" in node and "array_intersect" in desc
        )
        # each input is the nearest row count below the exchange and codegen wrappers
        self.assertEqual(rows, [(10, [11, 5])])
        self.assertEqual(self.red.node_rows({"g2"}, lambda node, desc: True), [])

    def test_union_ms(self):
        self.assertEqual(eventlog.union_ms([]), 0)
        self.assertEqual(eventlog.union_ms([(0, 10), (5, 15), (20, 25)]), 20)


if __name__ == "__main__":
    unittest.main()
