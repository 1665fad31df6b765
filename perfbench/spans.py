"""Spans recorded around the benchmark's calls into the engine, and the
reduction of Spark's event log onto them.

A span is (name, layer, start, end, parent).  Spans stay in a list in
memory until the run prints them with its result.  Spark's own counters come
from the event log (`spark.eventLog.enabled`): every SQL execution and
job is attributed to the innermost span whose wall-clock interval holds
its start time -- the client is single-threaded, so spans never overlap
except by nesting.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans when enabled; a no-op context manager otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str | None = None):
        if not self.enabled:
            yield Span(-1, name or layer, layer, 0.0)  # discarded
            return
        s = Span(
            len(self.spans), name or layer, layer, time.time(),
            parent=self._stack[-1].sid if self._stack else None,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()


# --- event log --------------------------------------------------------------

@dataclass
class Stage:
    sid: int
    tasks: int = 0
    task_times_ms: list = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    accums: dict = field(default_factory=dict)  # accumulator id -> value


@dataclass
class Job:
    jid: int
    submit_ms: int
    end_ms: int = 0
    execution: int | None = None
    stages: list = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)
    executions: dict = field(default_factory=dict)  # id -> start ms
    plans: list = field(default_factory=list)  # every plan tree, AQE updates included
    metric_types: dict = field(default_factory=dict)  # accumulator id -> metricType


def _plan_metric_types(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m.get("metricType", "sum")
    for c in info.get("children", []):
        _plan_metric_types(c, out)


def parse_event_log(directory: str) -> EventLog:
    """Read the run's event file, the one file under `directory` that is
    not a hidden checksum file."""
    (name,) = [n for n in os.listdir(directory) if not n.startswith(".")]
    log = EventLog()
    with open(os.path.join(directory, name)) as f:
        for line in f:
            _apply(log, json.loads(line))
    return log


def _apply(log: EventLog, ev: dict) -> None:
    kind = ev.get("Event", "")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        ex = props.get("spark.sql.execution.id")
        job = Job(ev["Job ID"], ev["Submission Time"], execution=int(ex) if ex is not None else None)
        job.stages = list(ev.get("Stage IDs", []))
        log.jobs[job.jid] = job
    elif kind == "SparkListenerJobEnd":
        if ev["Job ID"] in log.jobs:
            log.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
    elif kind == "SparkListenerTaskEnd":
        sid = ev["Stage ID"]
        st = log.stages.setdefault(sid, Stage(sid))
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        st.tasks += 1
        st.task_times_ms.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        st.fetch_wait_ms += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
        st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        sid = info["Stage ID"]
        st = log.stages.setdefault(sid, Stage(sid))
        for a in info.get("Accumulables", []):
            try:
                st.accums[int(a["ID"])] = float(a["Value"])
            except (KeyError, TypeError, ValueError):
                pass
    elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
        if kind.endswith("Start"):
            log.executions[ev["executionId"]] = ev["time"]
        plan = ev.get("sparkPlanInfo", {})
        log.plans.append(plan)
        _plan_metric_types(plan, log.metric_types)


def innermost(spans: list[Span], t_ms: float) -> Span | None:
    """The deepest span whose interval holds `t_ms` (epoch milliseconds)."""
    best = None
    for s in spans:
        if s.start * 1000.0 <= t_ms <= s.end * 1000.0:
            if best is None or s.start >= best.start:
                best = s
    return best


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def mean(values, default=0.0):
    values = list(values)
    return statistics.fmean(values) if values else default
