"""Per-layer task metrics from an uncompressed, non-rolling Spark event log.

The traced run sets the Spark local property ``LAYER_PROPERTY`` to a layer
tag around each layer's calls.  Spark copies local properties into every
``SparkListenerJobStart`` and ``SparkListenerStageSubmitted`` event, so each
stage maps to the layer that submitted it, and each
``SparkListenerTaskEnd`` to its stage's layer.  Jobs also carry their SQL
execution id, which maps each execution's plan and driver-side scan
metrics to the same layer.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict

LAYER_PROPERTY = "perfbench.layer"
UNTAGGED = "untagged"

_MB = 1024.0 * 1024.0
_SQL_UI = "org.apache.spark.sql.execution.ui."
_SQL_START = _SQL_UI + "SparkListenerSQLExecutionStart"
_SQL_PLAN_UPDATE = _SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUMS = _SQL_UI + "SparkListenerDriverAccumUpdates"
_FILES_READ = "size of files read"
_CC_ROUND = re.compile(r"cc_round_(\d+)")
# Spark writes the event log compactly with keys in a fixed order.  Adaptive
# plan updates carry the whole query explain string (megabytes each on the
# incremental fold); only their scan metric ids are needed, so they are
# matched as text instead of parsed.
_PLAN_UPDATE_LINE = '{"Event":"' + _SQL_PLAN_UPDATE + '"'
_FILES_READ_ID = re.compile(r'"name":"size of files read","accumulatorId":(\d+)')


def _file_size_metric_ids(node: dict, ids: set) -> None:
    """Accumulator ids of the file-scan ``size of files read`` metrics in a
    SQL plan tree."""
    for m in node.get("metrics", []):
        if m.get("name") == _FILES_READ:
            ids.add(m["accumulatorId"])
    for child in node.get("children", []):
        _file_size_metric_ids(child, ids)


def _empty() -> dict:
    return {
        "task_s": 0.0,
        "tasks": 0,
        "failed_tasks": 0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "scan_read_mb": 0.0,
        "star_rounds": 0,
    }


def aggregate(lines) -> dict[str, dict]:
    """Event-log lines -> {layer: metrics}.

    Per layer: ``task_s`` (summed task durations, launch to finish),
    ``tasks``, ``failed_tasks`` (tasks that did not end in Success),
    ``shuffle_write_mb``, ``spill_mb`` (memory plus disk bytes spilled),
    ``scan_read_mb`` (the ``size of files read`` of the file scans in the
    SQL executions the layer ran) and ``star_rounds`` (distinct
    ``cc_round_<n>`` observations in those executions' plans: the
    large/small-star rounds of ``components.connected_components``)."""
    stage_layer: dict[int, str] = {}
    exec_plan: dict[str, str] = {}
    exec_layer: dict[str, str] = {}
    exec_scan_bytes: dict[str, int] = defaultdict(int)
    size_ids: set = set()
    out: dict[str, dict] = defaultdict(_empty)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        if line.startswith(_PLAN_UPDATE_LINE):
            size_ids.update(int(i) for i in _FILES_READ_ID.findall(line))
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            stage_layer[info["Stage ID"]] = props.get(LAYER_PROPERTY, UNTAGGED)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                exec_layer.setdefault(exec_id, props.get(LAYER_PROPERTY, UNTAGGED))
        elif kind == _SQL_START:
            exec_plan[str(ev["executionId"])] = ev.get("physicalPlanDescription", "")
            _file_size_metric_ids(ev.get("sparkPlanInfo", {}), size_ids)
        elif kind == _DRIVER_ACCUMS:
            # posted after the plan that declares the metric ids
            exec_scan_bytes[str(ev["executionId"])] += sum(
                int(v) for acc, v in ev["accumUpdates"] if acc in size_ids)
        elif kind == "SparkListenerTaskEnd":
            stage = ev["Stage ID"]
            agg = out[stage_layer.get(stage, UNTAGGED)]
            info = ev["Task Info"]
            agg["tasks"] += 1
            agg["task_s"] += max(0, info["Finish Time"] - info["Launch Time"]) / 1000.0
            if ev["Task End Reason"].get("Reason") != "Success":
                agg["failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            agg["shuffle_write_mb"] += (
                tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / _MB
            )
            agg["spill_mb"] += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / _MB
    rounds: dict[str, set] = defaultdict(set)
    for exec_id, layer in exec_layer.items():
        if exec_scan_bytes.get(exec_id):
            out[layer]["scan_read_mb"] += exec_scan_bytes[exec_id] / _MB
        for n in _CC_ROUND.findall(exec_plan.get(exec_id, "")):
            rounds[layer].add((exec_id, n))
    for layer, seen in rounds.items():
        out[layer]["star_rounds"] = len(seen)
    return dict(out)


def aggregate_file(path: str) -> dict[str, dict]:
    with open(path) as f:
        return aggregate(f)
