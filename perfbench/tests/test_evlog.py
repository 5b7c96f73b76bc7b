"""Event-log aggregation by layer tag on a small canned log."""

import json

from perfbench import evlog

_UI = "org.apache.spark.sql.execution.ui."
MB = 1024 * 1024


def _task(stage, launch, finish, reason="Success", shuffle=0, spill=(0, 0)):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Memory Bytes Spilled": spill[0], "Disk Bytes Spilled": spill[1],
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _stage(stage, layer):
    props = {evlog.LAYER_PROPERTY: layer} if layer else {}
    return {"Event": "SparkListenerStageSubmitted", "Properties": props,
            "Stage Info": {"Stage ID": stage}}


def _sql(exec_id, plan, metrics=()):
    return {"Event": _UI + "SparkListenerSQLExecutionStart", "executionId": exec_id,
            "physicalPlanDescription": plan,
            "sparkPlanInfo": {"metrics": [], "children": [{
                "metrics": [{"name": n, "accumulatorId": i} for n, i in metrics],
                "children": []}]}}


def _plan_update(exec_id, metrics):
    return {"Event": _UI + "SparkListenerSQLAdaptiveExecutionUpdate",
            "executionId": exec_id, "physicalPlanDescription": "== Parsed ==",
            "sparkPlanInfo": {"metrics": [{"name": n, "accumulatorId": i, "metricType": "size"}
                                          for n, i in metrics], "children": []}}


def _accums(exec_id, updates):
    return {"Event": _UI + "SparkListenerDriverAccumUpdates", "executionId": exec_id,
            "accumUpdates": updates}


def _job(exec_id, layer):
    return {"Event": "SparkListenerJobStart",
            "Properties": {evlog.LAYER_PROPERTY: layer,
                           "spark.sql.execution.id": exec_id}}


CANNED = [
    {"Event": "SparkListenerLogStart"},
    _sql(0, "CollectMetrics cc_round_0"),
    _sql(1, "CollectMetrics cc_round_1"),
    _sql(2, "Scan parquet", [("size of files read", 7), ("number of files read", 8)]),
    _accums(2, [[7, 3 * MB], [8, 4]]),
    _plan_update(2, [("size of files read", 9)]),
    _accums(2, [[9, MB]]),
    _job("0", "components"),
    _job("1", "components"),
    _job("2", "lineage"),
    _stage(0, "components"),
    _stage(1, "lineage"),
    _stage(2, None),
    _task(0, 1000, 3000, shuffle=MB),
    _task(0, 1000, 1500, reason="ExceptionFailure", spill=(MB, MB)),
    _task(1, 2000, 2250),
    _task(2, 0, 100),
]


def test_aggregates_task_metrics_per_layer_tag():
    # compact separators, as Spark writes the log
    agg = evlog.aggregate(json.dumps(e, separators=(",", ":")) for e in CANNED)
    comp, lin, untagged = agg["components"], agg["lineage"], agg[evlog.UNTAGGED]
    assert comp["tasks"] == 2 and comp["failed_tasks"] == 1
    assert comp["task_s"] == 2.5
    assert comp["shuffle_write_mb"] == 1.0
    assert comp["spill_mb"] == 2.0
    assert comp["star_rounds"] == 2
    assert comp["scan_read_mb"] == 0.0
    assert lin["scan_read_mb"] == 4.0 and lin["task_s"] == 0.25
    assert lin["star_rounds"] == 0
    assert untagged["tasks"] == 1 and untagged["task_s"] == 0.1


def test_blank_lines_and_unknown_events_are_ignored():
    lines = ["", json.dumps({"Event": "SparkListenerApplicationEnd"}), "\n"]
    assert evlog.aggregate(lines) == {}
