"""Spans around calls into the program's layers, and Spark stage metrics.

A ``Tracer`` keeps spans (name, start, end, parent) in memory. Each span runs
its Spark jobs under its own job group, so after the session stops the
event log can be split by span: ``EventLog`` reads the log once and keeps,
per job group, the job and task counts, shuffle and spill bytes, task times
per stage, and the SQL plans with their metric values. Nothing is parsed
while a pass runs.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        group = f"{name}#{len(self.spans)}"
        parent = self._stack[-1] if self._stack else None
        s = Span(name, group, parent.group if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def median(self, name: str) -> float:
        return statistics.median(s.seconds for s in self.spans if s.name == name)

    def groups(self, name: str) -> list[str]:
        return [s.group for s in self.spans if s.name == name]

    def subtree(self, group: str) -> list[str]:
        """``group`` and the groups of every span inside it."""
        out = [group]
        for s in self.spans:
            if s.parent in out:
                out.append(s.group)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # per stage: list of task run times (ms) and the stage's wall time (ms)
    task_ms: dict = field(default_factory=dict)
    stage_wall_ms: dict = field(default_factory=dict)

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.task_ms.update(other.task_ms)
        self.stage_wall_ms.update(other.stage_wall_ms)

    def all_task_ms(self) -> list:
        return [t for times in self.task_ms.values() for t in times]

    def max_task_ratio(self) -> float:
        """max / median task time in the stage with the longest wall time."""
        if not self.stage_wall_ms:
            return 0.0
        sid = max(self.stage_wall_ms, key=self.stage_wall_ms.get)
        times = self.task_ms.get(sid) or [0]
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0


@dataclass
class SqlExecution:
    group: str | None
    plan: dict | None
    start_ms: int = 0
    end_ms: int = 0

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class EventLog:
    """Job-group-level view of one Spark event log."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.stats: dict[str, GroupStats] = {}
        self.executions: dict[int, SqlExecution] = {}
        self.accum: dict[int, float] = {}
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        with open(files[0]) as fh:
            for line in fh:
                self._event(json.loads(line), stage_group, exec_group)
        for eid, ex in self.executions.items():
            ex.group = exec_group.get(eid)

    def _event(self, ev: dict, stage_group: dict, exec_group: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                return
            self.stats.setdefault(group, GroupStats()).jobs += 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            for acc in ev["Task Info"].get("Accumulables", []):
                upd = acc.get("Update")
                if isinstance(upd, (int, float)):
                    self.accum[acc["ID"]] = self.accum.get(acc["ID"], 0) + upd
                elif isinstance(upd, str) and upd.lstrip("-").isdigit():
                    self.accum[acc["ID"]] = self.accum.get(acc["ID"], 0) + int(upd)
            if group is None:
                return
            g = self.stats[group]
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            g.task_ms.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                return
            wall = info.get("Completion Time", 0) - info.get("Submission Time", 0)
            self.stats[group].stage_wall_ms[info["Stage ID"]] = wall
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[ev["executionId"]] = SqlExecution(None, ev.get("sparkPlanInfo"), ev["time"])
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            ex = self.executions.get(ev["executionId"])
            if ex is not None:
                ex.end_ms = ev["time"]
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            # the adaptive plan's final shape carries the metrics that ran
            ex = self.executions.get(ev["executionId"])
            if ex is not None:
                ex.plan = ev.get("sparkPlanInfo")
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                self.accum[acc_id] = self.accum.get(acc_id, 0) + value

    def merged(self, groups: list[str]) -> GroupStats:
        out = GroupStats()
        for g in groups:
            if g in self.stats:
                out.add(self.stats[g])
        return out

    def executions_of(self, group: str) -> list[SqlExecution]:
        return [e for e in self.executions.values() if e.group == group]

    def rows_into(self, plan: dict | None, marker: str) -> int:
        """Output rows of the first node with a row count below the deepest
        plan node whose description mentions ``marker``: the rows that
        reach the first operator evaluating it. Scans are skipped: their
        description lists filters they could not push down."""
        hits = [
            n
            for n in plan_nodes(plan)
            if marker in n.get("simpleString", "") and "Scan" not in n["nodeName"]
        ]
        if not hits:
            return 0
        for node in plan_nodes(hits[-1]):
            rows = self.metric(node, "number of output rows")
            if node is not hits[-1] and rows is not None:
                return int(rows)
        return 0

    def metric(self, node: dict, name: str) -> float | None:
        for m in node.get("metrics", []):
            if m["name"] == name:
                return self.accum.get(m["accumulatorId"], 0)
        return None

    def metric_sum(self, nodes: list[dict], name: str) -> float:
        """Sum of metric ``name`` over ``nodes``, timings in seconds. A plan
        node that shows up in several plans (a cached relation read twice)
        shares its accumulator, and counts once."""
        scale = {"timing": 1e-3, "nsTiming": 1e-9}
        seen: dict[int, float] = {}
        for node in nodes:
            for m in node.get("metrics", []):
                if m["name"] == name:
                    seen[m["accumulatorId"]] = self.accum.get(m["accumulatorId"], 0) * scale.get(m["metricType"], 1)
        return sum(seen.values())


def plan_nodes(plan: dict | None):
    """Depth-first walk over a sparkPlanInfo tree, parents before children."""
    if plan is None:
        return
    yield plan
    for child in plan.get("children", []):
        yield from plan_nodes(child)
