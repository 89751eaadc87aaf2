"""Per-job-group stage metrics from an uncompressed Spark event log.

The benchmark sets ``spark.jobGroup.id`` around every traced call (and a
streaming query runs its micro-batches under its run id), so every job,
and through it every stage and task, is attributed to one group.  Task
metrics are summed per group:

- ``jobs``: jobs started under the group;
- ``tasks``, ``run_s``, ``exec_cpu_s``, ``gc_s``;
- ``input_bytes``: bytes tasks read, from files and from cached blocks;
- ``scan_bytes``: bytes of the files that file-scan operators listed for
  reading (the driver-side "size of files read" SQL metric), so a frame
  served from cache adds nothing;
- ``shuffle_write_bytes``;
- ``spill_bytes``: bytes spilled to disk;
- ``python_s``: the SQL metric "time to run Python workers" of the
  group's Arrow/Python operators (zero for pure-JVM plans).
"""

from __future__ import annotations

import json
import os

PYTHON_TIME_METRIC = "time to run Python workers"
FILES_SIZE_METRIC = "size of files read"

FIELDS = (
    "jobs", "tasks", "run_s", "exec_cpu_s", "gc_s", "input_bytes",
    "scan_bytes", "shuffle_write_bytes", "spill_bytes", "python_s",
)


def find_log(log_dir: str) -> str:
    """The single application log written into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {names}")
    path = os.path.join(log_dir, names[0])
    if os.path.isdir(path) or names[0].endswith((".zstd", ".lz4", ".snappy")):
        raise RuntimeError(f"{path}: need a single uncompressed log file")
    return path


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def _scan_size_accumulators(node: dict, out: set[int]) -> None:
    if node.get("nodeName", "").startswith("Scan "):
        for m in node.get("metrics", []):
            if m.get("name") == FILES_SIZE_METRIC:
                out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _scan_size_accumulators(child, out)


def group_metrics(lines) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over the event-log ``lines``.

    Jobs without a group are filed under ``""``.  A stage is attributed to
    the first job that lists it, a SQL execution to the group of its first
    job.
    """
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    scan_accums: set[int] = set()
    exec_scan: dict[int, float] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(FIELDS, 0.0))

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            bucket(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            if props.get("spark.sql.execution.id") is not None:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind == "SparkListenerTaskEnd":
            b = bucket(stage_group.get(ev.get("Stage ID"), ""))
            m = ev.get("Task Metrics") or {}
            b["tasks"] += 1
            b["run_s"] += _num(m.get("Executor Run Time")) / 1e3
            b["exec_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
            b["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
            b["input_bytes"] += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
            b["shuffle_write_bytes"] += _num(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
            )
            b["spill_bytes"] += _num(m.get("Disk Bytes Spilled"))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_TIME_METRIC:
                    b["python_s"] += _num(acc.get("Update")) / 1e3
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _scan_size_accumulators(ev.get("sparkPlanInfo") or {}, scan_accums)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                if acc_id in scan_accums:
                    eid = ev["executionId"]
                    exec_scan[eid] = exec_scan.get(eid, 0.0) + _num(value)
    for eid, size in exec_scan.items():
        bucket(exec_group.get(eid, ""))["scan_bytes"] += size
    return out


def read_group_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    with open(find_log(log_dir)) as f:
        return group_metrics(f)
