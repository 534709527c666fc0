#!/usr/bin/env python3
"""Benchmark launcher: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 20 --trace 0

Pins the run environment (cores, driver memory, PYTHONPATH for the Python
workers, quiet console), generates the workload's inputs from the seed
into a temporary directory under `.perfbench_run/` (removed at exit), sets
up Spark once, runs the workload, checks its outputs, and prints as
the last line {"correct", "attempted", "failed", "metrics"}. With
`--trace 1` Spark's event log is on, every call is wrapped in a span, and
the metrics are the per-layer ones; the spans and the per-query split are
written to `.perfbench_out/`. The line before the result records the
resolved environment and the host-noise figures of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

PROCESS_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Fits any host with 8 GB; the inputs need far less. A fixed value keeps
# memory.peak_rss_mb comparable between hosts.
DRIVER_MEM = "2g"


def _pin_env(tmp: str, trace: bool) -> dict[str, str]:
    """Set the variables `radient_spark.session.get_session` and the
    Python workers read; returns the resolved values."""
    cpus = len(os.sched_getaffinity(0))
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={tmp}/local",
        f"spark.sql.warehouse.dir={tmp}/warehouse",
        # -UsePerfData: no hsperfdata file under the system temp dir
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}/tmp -XX:-UsePerfData",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{tmp}/eventlog",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_EXTRA_CONF": ";".join(conf),
        # the short-lived JVM that spark-submit starts to build its command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/tmp",
        "SPARK_LOCAL_DIRS": f"{tmp}/local",
        "TMPDIR": f"{tmp}/tmp",
    }
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(f"{tmp}/{sub}", exist_ok=True)
    os.environ.update(env)
    return env


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_spark() -> float:
    """Stop the active session and the JVM it runs in, waiting for the JVM
    to exit; returns the driver JVM's peak RSS in MB (0 when none runs)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return 0.0
    proc = getattr(gw, "proc", None)
    peak = _vm_hwm_mb(proc.pid) if proc is not None else 0.0
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return peak


def main(argv: list[str] | None = None, sizes=None, perturb: bool = False) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("registry", "ingest_search"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    clock: dict[str, float] = {}  # phase ends, for the diagnostics line
    tmp = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        env = _pin_env(tmp, trace)
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        from bench import _cpu_ticks, _tick_census
        from perfbench import metrics, workloads
        from perfbench.trace import Tracer

        run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
        run = workloads.Run(seed=args.seed, seconds=args.seconds,
                            sizes=sizes or workloads.Sizes.full(), tmp=tmp,
                            tracer=Tracer(trace, run_id), cpus=int(env["SPARK_GRAFT_CPUS"]))
        prepare, measure, reads_tables = workloads.WORKLOADS[args.workload]
        t = time.perf_counter()
        inputs = prepare(run)
        gen_s = time.perf_counter() - t

        workloads.setup(run, inputs if reads_tables else None)
        clock["first_op"] = time.perf_counter()
        # process start (imports, JVM launch) to the first operation
        setup_s = time.perf_counter() - PROCESS_START - gen_s
        ticks0, census0 = _cpu_ticks(), _tick_census()
        measure(run, inputs, perturb=perturb)
        clock["measured"] = time.perf_counter()
        ticks1, census1 = _cpu_ticks(), _tick_census()
        state = metrics.disk_state(run)
        rss_mb = {"python": _vm_hwm_mb("self"), "jvm": _stop_spark()}
        clock["spark_stopped"] = time.perf_counter()
        host = metrics.host_noise(ticks0, ticks1, census0, census1)
        if trace:
            values, artifact = metrics.per_layer(run, f"{tmp}/eventlog", setup_s, state, host,
                                                 sum(rss_mb.values()))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{run_id}.json"), "w") as f:
                json.dump(artifact, f, indent=1)
        else:
            values = metrics.end_to_end(run, setup_s)
    finally:
        _stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    units = metrics.UNITS
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps({"env": env, "host": host, "rss_mb": rss_mb,
                      "recall_at_10": run.extra.get("recall"), "errors": run.errors[:20],
                      "passes_s": [round(p, 3) for p in run.passes], "input_gen_s": gen_s,
                      "median_call_s": {k: round(statistics.median(v), 4)
                                        for k, v in run.tracer.durations.items()},
                      # seconds since process start at the end of each phase
                      "clock_s": {k: round(v - PROCESS_START, 2) for k, v in
                                  dict(clock, timed_start=run.timed_start,
                                       done=time.perf_counter()).items()}}))
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
