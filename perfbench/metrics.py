"""End-to-end and per-layer metrics of one run, by name, with units.

`end_to_end` reads only the benchmark's own wall clocks (untraced runs).
`per_layer` reads the spans of a traced run and Spark's event log; time and
count metrics of the timed phase are per warm pass (a registry pass over the
query mix, an ingest_search round), so they add up towards `pass_s`.
"""

from __future__ import annotations

import dataclasses
import os
import statistics

from perfbench.trace import Span, covered, parse_event_logs, self_times
from perfbench.workloads import Run

UNITS = {
    # end to end
    "setup_s": "s",
    "pass_s": "s",
    "op_ms_p50": "ms",
    # per layer
    "cold.first_pass_s": "s",
    "session.get_session_s": "s",
    "catalog.load_tables_s": "s",
    "catalog.load_tables_hit_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "s",
    "exec.task_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.core_busy_frac": "ratio",
    "python.rows_out": "count",
    "python.data_sent_mb": "MB",
    "python.data_received_mb": "MB",
    "ann.forest_build_s": "s",
    "ann.ivf_build_s": "s",
    "ann.build_jobs": "count",
    "ann.load_s": "s",
    "ann.search_plan_s": "s",
    "ann.search_exec_s": "s",
    "ann.scan_rows_per_query": "count",
    "ann.candidates_per_result": "ratio",
    "ann.insert_s": "s",
    "ann.index_files": "count",
    "ann.recall_at_10_forest": "ratio",
    "ann.recall_at_10_ivf": "ratio",
    "streaming.batch_ms_p50": "ms",
    "streaming.batch_ms_tail": "ms",
    "streaming.rows_per_s": "rows/s",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.compaction_batch_ms": "ms",
    "streaming.state_bytes": "bytes",
    "streaming.state_files": "count",
    "memory.peak_rss_mb": "MB",
    "host.steal_frac": "ratio",
    "host.foreign_cpu_frac": "ratio",
    "trace.span_coverage": "ratio",
    "trace.pass_s": "s",
}
MB = float(1 << 20)


def end_to_end(run: Run, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "pass_s": _med(run.passes),
        "op_ms_p50": 1000.0 * _med(run.op_s),  # 0 only when every operation failed
    }


def disk_state(run: Run) -> dict[str, int]:
    """Bytes and files of the streaming state and files of the IVF index."""

    def walk(d: str) -> tuple[int, int]:
        n = size = 0
        for root, _dirs, files in os.walk(d):
            for fn in files:
                n += 1
                size += os.path.getsize(os.path.join(root, fn))
        return n, size

    state_files, state_bytes = walk(run.extra["state_dir"]) if "state_dir" in run.extra else (0, 0)
    index_files = 0
    if "ivf_cells" in run.extra:
        index_files = sum(1 for _r, _d, fs in os.walk(run.extra["ivf_cells"])
                          for f in fs if f.endswith(".parquet"))
    return {"state_files": state_files, "state_bytes": state_bytes, "index_files": index_files}


def host_noise(ticks0, ticks1, census0, census1) -> dict[str, float | None]:
    """Hypervisor steal and CPU burned outside this process tree across the
    timed phase, with the helpers `bench.py` gates its sweeps on."""
    from bench import _foreign_fraction, _steal_fraction

    steal = _steal_fraction(ticks0, ticks1)
    foreign = own_cpu_s = None
    if ticks0 and ticks1 and census0 and census1:
        d = [b - a for a, b in zip(ticks0, ticks1)]
        own = (census1[0] - census0[0]) + (census1[1] - census0[1])
        foreign = _foreign_fraction(sum(d) - d[3] - d[4], d[7], own)
        own_cpu_s = (census1[0] - census0[0]) / os.sysconf("SC_CLK_TCK")
    return {"steal_frac": steal, "foreign_cpu_frac": foreign, "own_cpu_s": own_cpu_s}


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _tail(xs: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it; the
    maximum when there are fewer than eleven samples."""
    s = sorted(xs)
    return s[-11] if len(s) >= 11 else (s[-1] if s else 0.0)


def per_layer(run: Run, log_dir: str, setup_s: float, state: dict, host: dict,
              peak_mb: float):
    """Per-layer metrics of a traced run, plus the trace artifact (spans
    with self time, and per-query layer splits)."""
    spans = run.tracer.spans
    jobs, progress = parse_event_logs(log_dir, spans)
    by_id = {s.id: s for s in spans}
    t0, t1 = _timed_window(spans)
    n_pass = max(1, len(run.passes))

    def named(name, **attrs):
        return [s for s in spans if s.name == name
                and all(s.attrs.get(k) == v for k, v in attrs.items())]

    def dur(ss):
        return [s.end - s.start for s in ss]

    def in_timed(s):
        return t0 <= s.start and s.end <= t1

    def layer_of(job):
        s = by_id.get(job.span)
        return s.name if s else None

    timed_jobs = [j for j in jobs if t0 * 1000 <= j.submitted_ms <= t1 * 1000]

    def jsum(attr, js):
        return sum(getattr(j, attr) for j in js)

    def sqlsum(key, js):
        return sum(j.sql.get(key, 0) for j in js)

    wall = max(1e-9, t1 - t0)
    searches = [j for j in timed_jobs if layer_of(j) == "ann.search_exec"]
    n_search = max(1, sum(1 for s in named("ann.search_exec") if in_timed(s)))
    returned = 10 * 10 * n_search  # k rows for each of 10 queries
    batches = [p for p in progress
               if sum(src.get("numInputRows", 0) for src in p.get("sources", [])) > 0]
    trig = [p["durationMs"].get("triggerExecution", 0) for p in batches]
    compacted = set(run.extra.get("compaction_batches", []))
    compaction = [p["durationMs"].get("triggerExecution", 0) for p in batches
                  if p.get("batchId") in compacted and "in/docs" in str(p.get("sources"))]
    drains = named("streaming.drain")
    values = {
        "cold.first_pass_s": run.first_pass_s,
        "session.get_session_s": _med(dur(named("session.get_session"))),
        "catalog.load_tables_s": _med(dur(named("catalog.load_tables", cache="cold"))),
        "catalog.load_tables_hit_s": _med(dur(named("catalog.load_tables", cache="hit"))),
        "queries.build_s": sum(dur([s for s in named("queries.build") if in_timed(s)])) / n_pass,
        "queries.build_jobs": sum(1 for j in timed_jobs if layer_of(j) == "queries.build") / n_pass,
        "exec.run_s": sum(dur([s for s in named("exec.run") if in_timed(s)])) / n_pass,
        "exec.jobs": len(timed_jobs) / n_pass,
        "exec.stages": jsum("stages", timed_jobs) / n_pass,
        "exec.tasks": jsum("tasks", timed_jobs) / n_pass,
        "exec.task_cpu_s": jsum("cpu_s", timed_jobs) / n_pass,
        "exec.task_run_s": jsum("run_s", timed_jobs) / n_pass,
        "exec.gc_s": jsum("gc_s", timed_jobs) / n_pass,
        "exec.shuffle_read_mb": jsum("shuffle_read_b", timed_jobs) / MB / n_pass,
        "exec.shuffle_write_mb": jsum("shuffle_write_b", timed_jobs) / MB / n_pass,
        "exec.spill_mb": jsum("spill_b", timed_jobs) / MB / n_pass,
        "exec.core_busy_frac": jsum("run_s", timed_jobs) / (wall * run.cpus),
        "python.rows_out": sqlsum("py_rows_out", timed_jobs) / n_pass,
        "python.data_sent_mb": sqlsum("py_sent_bytes", timed_jobs) / MB / n_pass,
        "python.data_received_mb": sqlsum("py_received_bytes", timed_jobs) / MB / n_pass,
        "ann.forest_build_s": sum(dur(named("ann.forest_build"))),
        "ann.ivf_build_s": sum(dur(named("ann.ivf_build"))),
        "ann.build_jobs": sum(1 for j in jobs if layer_of(j) in ("ann.forest_build", "ann.ivf_build")),
        "ann.load_s": _med(dur(named("ann.load"))),
        "ann.search_plan_s": _med(dur([s for s in named("ann.search_plan") if in_timed(s)])),
        "ann.search_exec_s": _med(dur([s for s in named("ann.search_exec") if in_timed(s)])),
        "ann.scan_rows_per_query": sqlsum("scan_rows", searches) / (10 * n_search),
        "ann.candidates_per_result": sqlsum("join_rows", searches) / returned,
        "ann.insert_s": _med(dur([s for s in named("ann.insert") if in_timed(s)])),
        "ann.index_files": state["index_files"],
        "ann.recall_at_10_forest": run.extra.get("recall", {}).get("forest", 0.0),
        "ann.recall_at_10_ivf": run.extra.get("recall", {}).get("ivf", 0.0),
        "streaming.batch_ms_p50": _med(trig),
        "streaming.batch_ms_tail": _tail(trig),
        "streaming.rows_per_s": run.extra.get("stream_rows", 0) / max(1e-9, sum(dur(drains)))
        if drains else 0.0,
        "streaming.add_batch_ms": _med([p["durationMs"].get("addBatch", 0) for p in batches]),
        "streaming.query_planning_ms": _med([p["durationMs"].get("queryPlanning", 0) for p in batches]),
        "streaming.wal_commit_ms": _med([p["durationMs"].get("walCommit", 0) for p in batches]),
        "streaming.compaction_batch_ms": _med(compaction),
        "streaming.state_bytes": state["state_bytes"],
        "streaming.state_files": state["state_files"],
        "memory.peak_rss_mb": peak_mb,
        "host.steal_frac": host["steal_frac"] or 0.0,
        "host.foreign_cpu_frac": host["foreign_cpu_frac"] or 0.0,
        "trace.span_coverage": _coverage(spans, t0, t1),
        "trace.pass_s": _med(run.passes),
    }
    selfs = self_times(spans)
    artifact = {
        "run": run.tracer.run_id,
        "setup_s": setup_s,
        "passes_s": run.passes,
        "op_s": run.op_s,
        "metrics": values,
        "per_query": _per_query(spans, jobs, t0, t1, n_pass),
        "self_s_by_layer": _self_by_layer(spans, selfs),
        "spans": [dict(dataclasses.asdict(s), self_s=selfs[s.id]) for s in spans],
        "jobs": [dataclasses.asdict(j) for j in jobs],
        "stream_progress": [{"batchId": p.get("batchId"), "sources": p.get("sources"),
                             "durationMs": p.get("durationMs")} for p in progress],
        "errors": run.errors,
    }
    return values, artifact


def _timed_window(spans) -> tuple[float, float]:
    warm = [s for s in spans if s.name == "pass" and not s.attrs.get("cold")]
    if not warm:
        return 0.0, 0.0
    return min(s.start for s in warm), max(s.end for s in warm)


def _coverage(spans, t0: float, t1: float) -> float:
    """Share of the timed phase's wall covered by spans around layer calls
    (everything but the pass spans themselves); the rest is the benchmark's
    own work between calls."""
    if t1 <= t0:
        return 0.0
    calls = [s for s in spans if s.layer != "workload" and t0 <= s.start and s.end <= t1]
    return covered(Span("timed", "timed", "workload", None, "", t0, t1), calls) / (t1 - t0)


def _self_by_layer(spans, selfs) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + selfs[s.id]
    return out


def _per_query(spans, jobs, t0, t1, n_pass) -> dict[str, dict]:
    """Registry only: per query, mean build and exec seconds and jobs per
    warm pass, task time, and whether it was serial, parallel or bound by
    fixed overhead (task run time over exec wall x cores)."""
    out: dict[str, dict] = {}
    by_span: dict[str, list] = {}
    for j in jobs:
        by_span.setdefault(j.span, []).append(j)
    for s in spans:
        q = s.attrs.get("query")
        if q is None or not (t0 <= s.start and s.end <= t1):
            continue
        d = out.setdefault(q, {"build_s": 0.0, "exec_s": 0.0, "build_jobs": 0, "exec_jobs": 0,
                               "tasks": 0, "task_run_s": 0.0, "python_rows": 0})
        kind = "build" if s.name == "queries.build" else "exec"
        d[f"{kind}_s"] += (s.end - s.start) / n_pass
        js = by_span.get(s.id, [])
        d[f"{kind}_jobs"] += len(js) / n_pass
        d["tasks"] += sum(j.tasks for j in js) / n_pass
        d["task_run_s"] += sum(j.run_s for j in js) / n_pass
        d["python_rows"] += sum(j.sql.get("py_rows_out", 0) for j in js) / n_pass
    for d in out.values():
        wall = d["build_s"] + d["exec_s"]
        busy = d["task_run_s"] / max(1e-9, wall)
        d["busy_cores"] = busy
        d["verdict"] = "fixed-overhead" if busy < 0.5 else "serial" if busy < 1.5 else "parallel"
    return out
