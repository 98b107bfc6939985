"""Spans around the benchmark's calls into each engine layer, and a parser
for the Spark event log that attributes task metrics to those spans.

A span is (name, start, end, parent). Entering a span tags the Spark jobs it
submits with ``setJobGroup(name)``; the event log then carries the group on
every job, so stage bytes, spill and task times sum per layer. Jobs that
lose the tag (submitted from a thread pool inside the engine) are attributed
to the innermost span whose interval holds their submission time.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; nothing is written until the run ends."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time(), parent))
            self._stack.pop()
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(parent, parent)

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def owner(self, t: float) -> str | None:
        """Innermost span open at wall-clock time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.name if best else None


@dataclass
class LayerStats:
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    gc_ms: int = 0
    failed_tasks: int = 0
    # stage id -> executor run times (ms) of its successful tasks
    task_ms: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))

    def task_skew(self) -> float:
        """max / median task time of the layer's busiest stage."""
        if not self.task_ms:
            return 0.0
        busiest = max(self.task_ms.values(), key=sum)
        med = statistics.median(busiest)
        return max(busiest) / med if med > 0 else 1.0


@dataclass
class SqlExecution:
    start: float
    end: float
    plan: str


def parse_event_log(path: str, tracer: Tracer) -> tuple[dict[str, LayerStats], list[SqlExecution]]:
    """Per-span task metrics and every SQL execution (times in seconds)."""
    stage_owner: dict[int, str | None] = {}
    layers: dict[str, LayerStats] = defaultdict(LayerStats)
    sql_open: dict[int, tuple[float, str]] = {}
    sql: list[SqlExecution] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                group = group or tracer.owner(e["Submission Time"] / 1000)
                for sid in e["Stage IDs"]:
                    stage_owner[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_owner.get(e["Stage ID"])
                if group is None:
                    continue
                st = layers[group]
                if e["Task End Reason"]["Reason"] != "Success":
                    st.failed_tasks += 1
                    continue
                m = e.get("Task Metrics") or {}
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.task_ms[e["Stage ID"]].append(m.get("Executor Run Time", 0))
            elif kind == SQL_START:
                sql_open[e["executionId"]] = (e["time"] / 1000, e.get("physicalPlanDescription", ""))
            elif kind == SQL_END and e["executionId"] in sql_open:
                start, plan = sql_open.pop(e["executionId"])
                sql.append(SqlExecution(start, e["time"] / 1000, plan))
    return layers, sql
