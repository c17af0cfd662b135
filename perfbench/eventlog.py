"""Per-job-group profile from a Spark event log, stdlib `json` only.

Spark writes one JSON object per line. The events read here:

    SparkListenerJobStart          job id, stage ids, job group, SQL
                                   execution id (from the properties)
    SparkListenerTaskEnd           task times, CPU, GC, shuffle bytes,
                                   accumulable (SQL metric) updates
    SparkListenerSQLExecutionStart / SparkListenerSQLAdaptiveExecutionUpdate
                                   the physical plan with the
                                   accumulator id of every SQL metric

`profile(path)` returns {job group: Group}. A group's py_rows is the
"number of output rows" of the Python-evaluating plan nodes
(ArrowEvalPython, MapInPandas, ...) of the SQL executions its jobs ran.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field

# physical operators whose rows come back from Python workers
PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
            "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas", "AggregateInPandas",
            "WindowInPandas", "FlatMapGroupsInArrow")
ROWS = "number of output rows"


@dataclass
class Group:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0     # summed task durations (launch -> finish)
    cpu_s: float = 0.0      # executor CPU time
    gc_s: float = 0.0
    shuffle_mb: float = 0.0  # shuffle bytes written
    skew: float = 0.0       # max / median task time, widest Spark stage
    py_rows: int = 0
    # (plan node name, simpleString) -> summed output rows, for yields
    node_rows: dict = field(default_factory=dict)


@dataclass
class _Task:
    stage: int
    dur_ms: float
    cpu_ns: int
    gc_ms: int
    shuffle_bytes: int
    accums: dict  # accumulator id -> update


def _plan_metrics(plan: dict) -> dict[int, tuple[str, str]]:
    """accumulator id of each plan node's output-row metric -> (node
    name, simpleString)."""
    out, todo = {}, [plan]
    while todo:
        node = todo.pop()
        todo += node.get("children", [])
        for m in node.get("metrics", []):
            if m.get("name") == ROWS:
                out[m["accumulatorId"]] = (node.get("nodeName", ""),
                                           node.get("simpleString", ""))
    return out


def read(path: str):
    """Parse the log into jobs, tasks and plan metrics."""
    jobs: dict[int, dict] = {}
    tasks: list[_Task] = []
    plans: dict[int, dict] = {}  # execution id -> accum id -> node info
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id") or "",
                    "stages": list(ev.get("Stage IDs", [])),
                    "execution": int(ex) if ex not in (None, "") else None}
            elif kind == "SparkListenerTaskEnd":
                info, met = ev.get("Task Info", {}), ev.get("Task Metrics")
                if not met:
                    continue
                accums = {}
                for a in info.get("Accumulables", []):
                    try:
                        accums[a["ID"]] = int(a.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
                sw = met.get("Shuffle Write Metrics", {})
                tasks.append(_Task(
                    stage=ev["Stage ID"],
                    dur_ms=info.get("Finish Time", 0)
                    - info.get("Launch Time", 0),
                    cpu_ns=met.get("Executor CPU Time", 0),
                    gc_ms=met.get("JVM GC Time", 0),
                    shuffle_bytes=sw.get("Shuffle Bytes Written", 0),
                    accums=accums))
            elif kind.endswith(("SQLExecutionStart",
                                "SQLAdaptiveExecutionUpdate")):
                plan = ev.get("sparkPlanInfo")
                if plan:
                    plans.setdefault(ev["executionId"], {}).update(
                        _plan_metrics(plan))
    return jobs, tasks, plans


def complete(path: str) -> bool:
    """Whether the log ends with the application-end event, which
    Spark writes when the session stops."""
    with open(path, "rb") as f:
        lines = f.read().splitlines()
    return bool(lines) and json.loads(lines[-1]).get("Event") == \
        "SparkListenerApplicationEnd"


def profile(path: str) -> dict[str, Group]:
    jobs, tasks, plans = read(path)
    stage_group: dict[int, str] = {}
    groups: dict[str, Group] = {}
    group_execs: dict[str, set] = {}
    for job in jobs.values():
        g = groups.setdefault(job["group"], Group())
        g.jobs += 1
        for s in job["stages"]:
            stage_group.setdefault(s, job["group"])
        if job["execution"] is not None:
            group_execs.setdefault(job["group"], set()).add(
                job["execution"])
    by_stage: dict[int, list[_Task]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t)
    for name, g in groups.items():
        mine = [s for s, gr in stage_group.items()
                if gr == name and s in by_stage]
        ts = [t for s in mine for t in by_stage[s]]
        g.tasks = len(ts)
        g.task_s = sum(t.dur_ms for t in ts) / 1e3
        g.cpu_s = sum(t.cpu_ns for t in ts) / 1e9
        g.gc_s = sum(t.gc_ms for t in ts) / 1e3
        g.shuffle_mb = sum(t.shuffle_bytes for t in ts) / 2**20
        if mine:
            widest = max(mine, key=lambda s: (
                len(by_stage[s]), sum(t.dur_ms for t in by_stage[s])))
            durs = [t.dur_ms for t in by_stage[widest]]
            g.skew = max(durs) / max(statistics.median(durs), 1.0)
        metrics: dict[int, tuple] = {}
        for ex in group_execs.get(name, ()):
            metrics.update(plans.get(ex, {}))
        for aid, (node, text) in metrics.items():
            rows = sum(t.accums.get(aid, 0) for t in ts)
            key = (node, text)
            g.node_rows[key] = g.node_rows.get(key, 0) + rows
            if node.startswith(PY_NODES):
                g.py_rows += rows
    return groups


def udf_filter_rows(group: Group, udf: str) -> tuple[int, int]:
    """(rows through the ArrowEvalPython node of `udf`, rows kept by the
    Filter on its result). The node names its result column after the
    UDF list, as in "ArrowEvalPython [jac(a#1, b#2)#3], [pythonUDF0#4]"."""
    sent = kept = 0
    for (n, s), r in group.node_rows.items():
        m = re.search(r"\], \[(\S+?)\]", s)
        if n != "ArrowEvalPython" or f"{udf}(" not in s or not m:
            continue
        sent += r
        kept += sum(r2 for (n2, s2), r2 in group.node_rows.items()
                    if n2 == "Filter" and re.search(
                        re.escape(m.group(1)) + r"\b", s2))
    return sent, kept
