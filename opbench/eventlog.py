"""Reader for Spark's uncompressed JSON-lines event log.

The benchmark gives every timed call its own job group, so each job,
stage and SQL execution in the log maps back to one (operator, call)
pair. Stage-level task metrics (``internal.metrics.*``) are per stage and
summed; SQL plan metrics are cumulative per accumulator, so the largest
value seen for an accumulator id is its total.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
PY_RUN = "time to run Python workers"          # ms
TO_PY = "data sent to Python workers"          # bytes
ROWS = "number of output rows"


@dataclass
class Stage:
    group: str | None
    submit_ms: int
    end_ms: int
    cpu_ns: int = 0
    shuffle_write: int = 0
    spill_disk: int = 0
    sql: dict = field(default_factory=dict)     # SQL metric acc id -> name


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)    # job id -> dict
    stages: dict = field(default_factory=dict)  # (stage, attempt) -> Stage
    plans: dict = field(default_factory=dict)   # execution id -> plan tree
    exec_group: dict = field(default_factory=dict)
    acc: dict = field(default_factory=dict)     # acc id -> latest value


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse(lines) -> EventLog:
    """Parse an iterable of event-log lines."""
    log = EventLog()
    submitted: dict = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            log.jobs[e["Job ID"]] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit_ms": e["Submission Time"], "end_ms": None}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in log.jobs:
                log.jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            submitted[si["Stage ID"], si["Stage Attempt ID"]] = \
                (e.get("Properties") or {}).get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            key = (si["Stage ID"], si["Stage Attempt ID"])
            st = Stage(submitted.get(key), si.get("Submission Time") or 0,
                       si.get("Completion Time") or 0)
            for a in si.get("Accumulables", []):
                name, val = a.get("Name", ""), a.get("Value")
                if name == "internal.metrics.executorCpuTime":
                    st.cpu_ns += int(_num(val))
                elif name == "internal.metrics.shuffle.write.bytesWritten":
                    st.shuffle_write += int(_num(val))
                elif name == "internal.metrics.diskBytesSpilled":
                    st.spill_disk += int(_num(val))
                elif not name.startswith("internal."):
                    st.sql[a["ID"]] = name
                    log.acc[a["ID"]] = max(log.acc.get(a["ID"], 0.0), _num(val))
            log.stages[key] = st
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            log.plans[e["executionId"]] = e["sparkPlanInfo"]
            log.exec_group[e["executionId"]] = e.get("jobGroupId")
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            log.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, val in e["accumUpdates"]:
                log.acc[acc_id] = max(log.acc.get(acc_id, 0.0), _num(val))
    return log


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def group_metrics(log: EventLog, group: str, start_ms: float,
                  end_ms: float) -> dict:
    """Layer metrics of one timed call, whose wall window is
    [start_ms, end_ms] on the same clock the log uses."""
    stages = [s for s in log.stages.values() if s.group == group]
    busy = union_ms([(max(s.submit_ms, start_ms), min(s.end_ms, end_ms))
                     for s in stages if s.end_ms > s.submit_ms])
    sql = {i: n for s in stages for i, n in s.sql.items()}
    py_ms = sum(log.acc[i] for i, n in sql.items() if n == PY_RUN)
    to_py = sum(log.acc[i] for i, n in sql.items() if n == TO_PY)
    wall_ms = end_ms - start_ms
    return {
        "wall_s": wall_ms / 1e3,
        "jobs": sum(1 for j in log.jobs.values() if j["group"] == group),
        "driver_only_s": max(0.0, wall_ms - busy) / 1e3,
        "executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "python_run_s": py_ms / 1e3,
        "to_python_mb": to_py / 2 ** 20,
        "shuffle_write_mb": sum(s.shuffle_write for s in stages) / 2 ** 20,
        "spill_mb": sum(s.spill_disk for s in stages) / 2 ** 20,
    }


def jobs_outside(log: EventLog, group: str, start_ms: float, end_ms: float,
                 slack_ms: float = 5.0) -> int:
    """Jobs of ``group`` that started before or ended after the call."""
    return sum(1 for j in log.jobs.values() if j["group"] == group and (
        j["submit_ms"] < start_ms - slack_ms
        or j["end_ms"] is None or j["end_ms"] > end_ms + slack_ms))


def _rows(log: EventLog, node: dict) -> float | None:
    for m in node.get("metrics", []):
        if m["name"] == ROWS:
            return log.acc.get(m["accumulatorId"], 0.0)
    return None


def _skip_adapters(node: dict) -> dict | None:
    while node is not None and node["nodeName"].startswith(
            ("InputAdapter", "WholeStageCodegen")):
        node = node["children"][0] if node["children"] else None
    return node


def _first_rows_below(log: EventLog, node: dict) -> float:
    for c in node.get("children", []):
        r = _rows(log, c)
        if r is not None:
            return r
        r = _first_rows_below(log, c)
        if r:
            return r
    return 0.0


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def filter_over_python(log: EventLog, group: str) -> tuple[float, float]:
    """(rows in, rows kept) of Filter nodes fed straight by a scalar
    Python UDF node: the exact-refine step of a filter-refine join."""
    n_in = n_out = 0.0
    for ex, g in log.exec_group.items():
        if g != group or ex not in log.plans:
            continue
        for node in _walk(log.plans[ex]):
            if node["nodeName"] != "Filter" or not node["children"]:
                continue
            child = _skip_adapters(node["children"][0])
            if child is not None and child["nodeName"] == "ArrowEvalPython":
                n_in += _rows(log, child) or 0.0
                n_out += _rows(log, node) or 0.0
    return n_in, n_out


def map_in_python(log: EventLog, group: str) -> tuple[float, float]:
    """(rows in, rows out) of the map-in-Pandas/Arrow nodes of a group."""
    n_in = n_out = 0.0
    for ex, g in log.exec_group.items():
        if g != group or ex not in log.plans:
            continue
        for node in _walk(log.plans[ex]):
            if node["nodeName"] in ("MapInPandas", "MapInArrow",
                                    "PythonMapInArrow"):
                n_out += _rows(log, node) or 0.0
                n_in += _first_rows_below(log, node)
    return n_in, n_out
