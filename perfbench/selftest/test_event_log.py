"""Event-log join: jobs, stages, tasks and SQL metrics land on the span
whose job group launched them."""

from __future__ import annotations

from perfbench import trace


def _events():
    plan = {
        "nodeName": "BroadcastExchange",
        "metrics": [{"name": "data size", "accumulatorId": 7, "metricType": "size"}],
        "children": [{
            "nodeName": "MapInPandas",
            "metrics": [
                {"name": "time to run Python workers", "accumulatorId": 8,
                 "metricType": "timing"},
                {"name": "number of output rows", "accumulatorId": 9, "metricType": "sum"},
            ],
            "children": [],
        }],
    }
    task = {
        "Executor Run Time": 1500, "Executor CPU Time": 500_000_000, "JVM GC Time": 20,
        "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
        "Shuffle Read Metrics": {"Fetch Wait Time": 250},
        "Input Metrics": {"Bytes Read": 1000, "Records Read": 10},
    }
    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 1, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "5", "spark.sql.execution.id": "1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "broadcast exchange", "spark.sql.execution.id": "1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "RDD Info": [{"RDD ID": 3, "Callsite": "localCheckpoint at x.py:1"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "RDD Info": []}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "RDD Info": []}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task,
         "Task Info": {"Accumulables": [{"ID": 8, "Update": 40}, {"ID": 9, "Update": 6}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": task,
         "Task Info": {"Accumulables": []}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": task,
         "Task Info": {"Accumulables": []}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 1, "accumUpdates": [[7, 2048]]},
    ]


def test_metrics_join_to_the_launching_span():
    groups = trace.spark_by_group(_events())
    assert set(groups) == {"5"}
    g = groups["5"]
    assert g["jobs"] == 2 and g["stages"] == 2 and g["tasks"] == 2
    assert g["task_run_s"] == 3.0 and g["task_cpu_s"] == 1.0
    assert g["gc_s"] == 0.04 and g["spill_bytes"] == 14
    assert g["shuffle_write_bytes"] == 200 and g["shuffle_fetch_wait_s"] == 0.5
    assert g["input_bytes"] == 2000 and g["input_records"] == 20
    assert g["python_run_ms"] == 40 and g["python_rows"] == 6
    assert g["broadcast_bytes"] == 2048
    assert g["checkpoints"] == 1
