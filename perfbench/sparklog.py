"""Per-job-group totals from a Spark event log.

The traced run tags each span's jobs with ``SparkContext.setJobGroup`` and
turns the event log on (uncompressed, not rolled). After the run this module
reads the log once and sums, per job group, the stage-level metrics Spark
itself recorded: executor run/CPU/GC time, input, output, shuffle and spill
bytes, and the Arrow Python-UDF boundary (bytes to and from the Python
workers, time spent running them).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# event-log accumulable name -> our key; *_ns / *_ms are converted to seconds
_ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_rows",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "internal.metrics.output.recordsWritten": "output_rows",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_memory_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
    "time to run Python workers": "python_run_ms",
}

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _scan_size_ids(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == "size of files read":
            out.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _scan_size_ids(child, out)


def group_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {metric: total}} over every completed stage in the
    event log(s) under ``log_dir``, plus ``files_read_bytes``, the SQL scan
    nodes' driver-side "size of files read". Times are in seconds."""
    stage_group: dict[int, str] = {}
    stage_accums: dict[int, dict[str, float]] = {}
    exec_group: dict[int, str] = {}
    size_ids: dict[int, set[int]] = defaultdict(set)
    driver_updates: list[tuple[int, int, float]] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if "SparkListenerSQLExecutionStart" in line or "SparkListenerSQLAdaptiveExecutionUpdate" in line:
                    e = json.loads(line)
                    if e.get("jobGroupId"):
                        exec_group[e["executionId"]] = e["jobGroupId"]
                    _scan_size_ids(e.get("sparkPlanInfo") or {}, size_ids[e["executionId"]])
                elif "SparkListenerDriverAccumUpdates" in line:
                    e = json.loads(line)
                    driver_updates += [(e["executionId"], i, _num(v)) for i, v in e["accumUpdates"]]
                elif '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in e["Stage IDs"]:
                            stage_group[sid] = group
                elif '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    acc: dict[str, float] = defaultdict(float)
                    for a in info.get("Accumulables", ()):
                        key = _ACCUMS.get(a.get("Name"))
                        if key:
                            acc[key] += _num(a.get("Value"))
                    stage_accums[info["Stage ID"]] = acc
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sid, acc in stage_accums.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        t = totals[group]
        t["stages"] += 1
        for k, v in acc.items():
            if k.endswith("_ms"):
                t[k[:-3] + "_s"] += v / 1e3
            elif k.endswith("_ns"):
                t[k[:-3] + "_s"] += v / 1e9
            else:
                t[k] += v
    for ex, acc_id, v in driver_updates:
        group = exec_group.get(ex)
        if group is not None and acc_id in size_ids[ex]:
            totals[group]["files_read_bytes"] += v
    return {g: dict(t) for g, t in totals.items()}
