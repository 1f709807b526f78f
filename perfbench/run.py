#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. It generates the
workload's inputs from the seed, starts one engine session on
local[nproc], runs the workload for S seconds, checks every output
against its oracle, and prints as the LAST stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
the per-layer metrics, from spans recorded around every call the
benchmark makes into the engine and from each streaming query's
progress reports. Everything the run writes lives under
perfbench/.work/ (removed at exit) and the trace under perfbench/.out/.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("pubsub_fanout", "dedup_ingest", "query_mix")
# Spark driver heap for local mode: fits a 15 GiB host with room for
# the Python workers and other tenants (the engine's own default, 32g,
# is sized for a large cluster driver).
DRIVER_MEM = "1g"
DEADLINE_S = 170  # hard stop: a hung barrier must not outlive 180 s


class Context:
    """What a workload gets: the session, its inputs, the tracer, and
    the sinks for failures, informational lines and per-layer metrics."""

    def __init__(self, args, work: str, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.sf = args.sf
        self.fault = args.fault
        self.repo = REPO
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.notes: list[str] = []

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.notes.append(f"FAILED x{n}: {why}")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Self-test knobs: a smaller scale factor, and a deliberately
    # injected output fault that the correctness gates must catch.
    p.add_argument("--sf", type=float, default=None)
    p.add_argument("--fault", action="store_true")
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file the engine writes inside the run directory,
    through the environment the session factory and Spark read."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),  # = nproc
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": REPO + os.pathsep + os.environ.get("PYTHONPATH", ""),
    })
    tempfile.tempdir = tmp
    os.chdir(work)  # spark-warehouse and friends land here, not in cwd


def _stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort at exit
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    # both end the run through the cleanup below
    signal.signal(signal.SIGALRM, lambda *_: sys.exit("deadline exceeded"))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    signal.alarm(DEADLINE_S)
    if not os.path.isfile(os.path.join(REPO, "async_event_streams_spark", "__init__.py")):
        print(f"no engine sources under {REPO}: run from a checkout", file=sys.stderr)
        return 2
    from common import Tracer, host_metrics, host_sample, peak_rss_mb

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workload = importlib.import_module(args.workload)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".work"))
    tracer = Tracer(bool(args.trace))
    ctx = Context(args, work, tracer)
    spark = None
    try:
        _isolate(work)
        t_start = time.perf_counter()
        workload.generate(ctx)  # inputs exist before any timing starts
        host0 = host_sample()
        t0 = time.perf_counter()
        from async_event_streams_spark.session import get_spark

        spark = ctx.spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        # keep every trigger's progress report for the per-layer numbers
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        session_s = time.perf_counter() - t0
        t_measure = time.perf_counter()
        e2e = workload.run(ctx)
        measured_s = time.perf_counter() - t_measure
        e2e["setup_s"] += session_s
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_mb, py_mb = peak_rss_mb(jvm_pid), peak_rss_mb(os.getpid())
        e2e["peak_rss_mb"] = jvm_mb + py_mb
        e2e["ok_frac"] = 1.0 - ctx.failed / max(1, ctx.attempted)
        host = host_metrics(host0, host_sample())
        t_stop = time.perf_counter()
    finally:
        if spark is not None:
            _stop_session(spark)
        os.chdir(REPO)
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)
    ctx.notes.append(
        f"wall s: generate {t0 - t_start:.1f}, session {session_s:.1f}, workload "
        f"{measured_s:.1f} (set-up, measurement, gates), stop {time.perf_counter() - t_stop:.1f}")

    for line in ctx.notes:
        print(line)
    if args.trace:
        layer = dict(ctx.layer)
        layer.update(host)
        layer.update({
            "session.start_s": session_s,
            "jvm.peak_rss_mb": jvm_mb,
            "py.peak_rss_mb": py_mb,
            "trace.overhead_frac":
                len(tracer.spans) * tracer.per_span_cost_s() / measured_s,
        })
        out = os.path.join(HERE, ".out", f"trace-{args.workload}-{args.seed}.json")
        tracer.write(out, {"layer": layer, "end_to_end": e2e})
        print(f"trace: {len(tracer.spans)} spans written to {os.path.relpath(out, REPO)}")
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unlisted = sorted(set(layer) - set(units))
        if unlisted:
            print(f"layer metrics missing from BENCHMARK.json: {unlisted}")
        # a layer this workload does not exercise reads 0
        metrics = {k: {"value": layer.get(k, 0), "unit": u} for k, u in units.items()}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.path.insert(0, REPO)
    sys.exit(main())
