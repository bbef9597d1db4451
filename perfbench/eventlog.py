"""Reader for an uncompressed Spark event log (one JSON event per line).

Spark writes the log itself when ``spark.eventLog.enabled`` is set; the
benchmark only parses it. Every job carries the job group that was set
when it started (``spark.jobGroup.id``), which the tracer sets to the id
of the open span, so each count below is kept per job group.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

#: SQL metric names the Python-worker operators report (Spark 4).
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
#: physical operators that run a Python worker; their "number of output
#: rows" metric counts rows returned from Python
PY_NODE_PREFIXES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                    "FlatMapGroupsInArrow", "ArrowWindowPython", "AggregateInPandas",
                    "WindowInPandas", "FlatMapGroupsInPandasWithState")


@dataclass
class GroupStats:
    """What the jobs of one job group did."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    py_bytes_sent: int = 0
    py_bytes_received: int = 0
    py_rows_received: int = 0
    py_stage_run_ms: int = 0

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


def _py_row_metric_ids(plan: dict, out: set[int]) -> None:
    """Accumulator ids of "number of output rows" on Python-worker nodes."""
    if plan.get("nodeName", "").startswith(PY_NODE_PREFIXES):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _py_row_metric_ids(child, out)


def parse(lines) -> dict[str | None, GroupStats]:
    """Job group -> GroupStats, from an iterable of event-log lines.

    A stage is counted once per attempt that ran tasks; skipped stages
    are not counted. A stage's tasks count toward the group of the job
    that submitted the stage.
    """
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, GroupStats] = {}
    py_row_ids: set[int] = set()
    stage_attempts: set[tuple[int, int]] = set()
    py_stage_attempts: set[tuple[int, int]] = set()
    stage_run_ms: dict[tuple[int, int], int] = {}

    def group(g):
        return groups.setdefault(g, GroupStats())

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            gs = group(g)
            gs.jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _py_row_metric_ids(ev.get("sparkPlanInfo") or {}, py_row_ids)
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            gs = group(stage_group.get(ev["Stage ID"]))
            stage_attempts.add(key)
            gs.tasks += 1
            info = ev.get("Task Info") or {}
            if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                gs.failed_tasks += 1
            tm = ev.get("Task Metrics") or {}
            run_ms = int(tm.get("Executor Run Time", 0))
            gs.executor_run_ms += run_ms
            stage_run_ms[key] = stage_run_ms.get(key, 0) + run_ms
            gs.executor_cpu_ns += int(tm.get("Executor CPU Time", 0))
            gs.input_bytes += int((tm.get("Input Metrics") or {}).get("Bytes Read", 0))
            sr = tm.get("Shuffle Read Metrics") or {}
            gs.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(
                sr.get("Local Bytes Read", 0)
            )
            gs.shuffle_write_bytes += int(
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            for acc in info.get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name == PY_SENT:
                    gs.py_bytes_sent += int(upd)
                    py_stage_attempts.add(key)
                elif name == PY_RECEIVED:
                    gs.py_bytes_received += int(upd)
                    py_stage_attempts.add(key)
                elif name == PY_RUN:
                    py_stage_attempts.add(key)
                elif acc.get("ID") in py_row_ids and name == "number of output rows":
                    gs.py_rows_received += int(upd)
    for key in stage_attempts:
        gs = group(stage_group.get(key[0]))
        gs.stages += 1
        if key in py_stage_attempts:
            gs.py_stage_run_ms += stage_run_ms.get(key, 0)
    return groups


def parse_file(path: str) -> dict[str | None, GroupStats]:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)
