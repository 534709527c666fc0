"""Spans recorded around calls into each layer, and an offline parser of
Spark's event log that attributes jobs, stages, tasks and SQL metrics to
those spans.

A span is opened by the benchmark around one public call (`get_session`,
`load_tables`, a registry builder, a `collect`, an index build, a stream
drain). While tracing, entering a span sets the Spark job group to the span
id, so every job the call fires carries it in the event log. Jobs that run
on another thread (a streaming query's micro-batches) carry no span id; they
are attributed to the innermost span open when they were submitted.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import time
from dataclasses import dataclass, field

# Spark SQL plan nodes that cross the Python/Arrow boundary.
_PY_NODE_MARKERS = ("Python", "Pandas", "InArrow")
_PY_METRICS = {
    "number of output rows": "py_rows_out",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_received_bytes",
}
_SQL_EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_STREAM_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans in memory; a disabled tracer records no spans and
    leaves the job group alone, so untraced runs pay only a context-manager
    call and a clock read per operation. Either way `durations` keeps each
    call's seconds by span name (and sink or index) for the run's
    diagnostics line."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.sc = None  # the live SparkContext, None while there is none
        self.durations: dict[str, list[float]] = {}

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        t = time.perf_counter()
        try:
            with self._span(name, layer, attrs) as sp:
                yield sp
        finally:
            key = ":".join([name] + [str(attrs[k]) for k in ("sink", "index") if k in attrs])
            self.durations.setdefault(key, []).append(time.perf_counter() - t)

    @contextlib.contextmanager
    def _span(self, name: str, layer: str, attrs: dict):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"{self.run_id}:{next(self._ids)}",
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            run=self.run_id,
            start=time.time(),
            attrs=dict(attrs),
        )
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(sp)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.id, sp.name)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent:
            kids.setdefault(s.parent, []).append(s)
    return {s.id: (s.end - s.start) - covered(s, kids.get(s.id, [])) for s in spans}


def covered(outer: Span, inner: list[Span]) -> float:
    """Seconds of `outer` covered by the union of the `inner` intervals."""
    ivs = sorted((max(outer.start, s.start), min(outer.end, s.end)) for s in inner)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class JobStats:
    span: str | None
    submitted_ms: int
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    sql: dict = field(default_factory=dict)


def _walk_plan(node: dict, kinds: dict[int, str]) -> None:
    name = node.get("nodeName", "")
    is_py = any(m in name for m in _PY_NODE_MARKERS)
    for m in node.get("metrics", []):
        acc, mname = m.get("accumulatorId"), m.get("name")
        if is_py and mname in _PY_METRICS:
            kinds[acc] = _PY_METRICS[mname]
        elif mname == "number of output rows" and name.startswith("Scan "):
            kinds[acc] = "scan_rows"
        elif mname == "number of output rows" and "Join" in name:
            kinds[acc] = "join_rows"
    for child in node.get("children", []):
        _walk_plan(child, kinds)


def parse_event_logs(log_dir: str, spans: list[Span]) -> tuple[list[JobStats], list[dict]]:
    """Parse every (uncompressed) event log under `log_dir`.

    Returns one JobStats per job, attributed to a span id, and the
    `StreamingQueryProgress` records of every streaming query."""
    by_id = {s.id: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)

    def span_at(t_ms: int) -> str | None:
        t = t_ms / 1000.0
        best = None
        for s in ordered:
            if s.start > t:
                break
            if s.end >= t and (best is None or s.start >= best.start):
                best = s
        return best.id if best else None

    jobs: list[JobStats] = []
    progress: list[dict] = []
    # Spark 4 writes each application's log as rolled files in a directory
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    app = None
    for path in paths:
        if os.path.dirname(path) != app:  # ids are per application
            app = os.path.dirname(path)
            stage_job: dict[int, JobStats] = {}
            kinds: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    t = ev.get("Submission Time", 0)
                    js = JobStats(span=group if group in by_id else span_at(t), submitted_ms=t)
                    jobs.append(js)
                    for st in ev.get("Stage Infos", []):
                        stage_job.setdefault(st["Stage ID"], js)
                elif kind == "SparkListenerStageCompleted":
                    js = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if js is not None:
                        js.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    js = stage_job.get(ev.get("Stage ID"))
                    if js is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    js.tasks += 1
                    js.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                    js.run_s += tm.get("Executor Run Time", 0) / 1e3
                    js.gc_s += tm.get("JVM GC Time", 0) / 1e3
                    js.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    js.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                    js.spill_b += tm.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        k = kinds.get(acc.get("ID"))
                        if k is not None:
                            js.sql[k] = js.sql.get(k, 0) + int(acc.get("Update") or 0)
                elif kind in (_SQL_EXEC_START, _SQL_AQE_UPDATE):
                    _walk_plan(ev.get("sparkPlanInfo") or {}, kinds)
                elif kind == _STREAM_PROGRESS:
                    progress.append(ev["progress"])
    return jobs, progress
