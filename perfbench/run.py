#!/usr/bin/env python3
"""Closed-loop benchmark of osm2gtfs_spark, end to end and layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One client runs one operation at a time on ``local[nproc]`` for ``S``
seconds after set-up (at least one operation), checks every operation's
output, and prints the metrics of ``BENCHMARK.json`` as the last stdout
line: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``. The traced run turns Spark's event log on only in
its own process. Inputs are generated from the seed under
``.bench_build/`` in the checkout, which also holds every temporary file
the run writes and is removed at exit. See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("feed_sched_refresh", "query_mix")
# both workloads' data are a few MB and the box's memory is shared; a
# table the program caches still shows in peak_rss_mb (see README.md)
DRIVER_MEMORY = "1g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    xs, n = sorted(values), len(values)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def session(work: str, cores: int, event_log: bool):
    from osm2gtfs_spark.session import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        from tracing import EVENT_LOG_CONF

        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
    spark = build_session("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def closed_loop(wl, seconds: float):
    """Ops back to back until ``seconds`` have passed → (times, rows, failed)."""
    times, rows, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    while not times or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        try:
            res = wl.op()
        except Exception:  # counted as a failed op; the loop goes on
            traceback.print_exc()
            res = None
        times.append(time.perf_counter() - t0)
        wl.after_op()
        if res is None or not res.ok:
            failed += 1
            print(f"op {len(times)} failed: {res.detail if res else 'exception'}", file=sys.stderr)
        else:
            rows += res.rows
    return times, rows, failed


def traced(wl, work: str, cores: int, calib: list):
    """The traced op and the replays, spans folded with the event log
    → (attempted, failed, metrics)."""
    import host
    import layers
    import tracing

    tr = tracing.Tracer(wl.spark)
    m: dict = {}
    res = wl.trace(tr, m)
    calib.append(host.calibrate(wl.spark))
    wl.spark.stop()  # completes the event log
    metrics = layers.fold(wl, m, tr.spans, os.path.join(work, "eventlog"), cores)
    metrics["trace.overhead_s"] = tr.overhead_s
    return 1, int(not res.ok), metrics


def run(args, spec, work: str, cores: int) -> int:
    import host
    import workloads

    t0 = time.perf_counter()
    # a traced run logs Spark's events from the start; its fold reads
    # only the jobs submitted inside a span
    spark = session(work, cores, event_log=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, cores)
    wl.setup()
    setup_s = time.perf_counter() - t0
    # the probes run on a JVM the set-up has warmed, before the first op
    # and after the last, so the JVM's first-job cost stays in setup_s
    calib = [host.calibrate(spark)]
    if args.trace:
        attempted, failed, metrics = traced(wl, work, cores, calib)
        metrics["host.calib_jvm_s"] = statistics.mean(c[0] for c in calib)
        metrics["host.calib_py_s"] = statistics.mean(c[1] for c in calib)
    else:
        # memory is sampled over the ops only: input generation, the
        # oracle and the probes are the benchmark's own work
        with host.RssSampler() as rss:
            times, rows, failed = closed_loop(wl, args.seconds)
        attempted = len(times)
        metrics = {"op_s": statistics.median(times), "rows_per_s": rows / sum(times),
                   "setup_s": setup_s, "peak_rss_mb": rss.peak_mb}
        calib.append(host.calibrate(spark))
        spark.stop()

    section = "per_layer" if args.trace else "end_to_end"
    units = {d["name"]: d["unit"] for d in spec[section]}
    undeclared = set(metrics) - set(units)
    if undeclared:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    for name in units:
        metrics.setdefault(name, 0.0)  # a layer this workload leaves idle
    w = args.workload
    for name, unit in units.items():
        print(f"{w} {name} = {metrics[name]:.6g} {unit}")
    if not args.trace:
        tail_s, tail_pct = tail(times)
        print(f"{w} op_s_tail = {tail_s:.6g} s (p{tail_pct:.0f} of {attempted} ops)")
    print(f"{w} failed_ratio = {failed}/{attempted}")
    if getattr(wl, "ckpt_bytes", 0):
        print(f"{w} ckpt_bytes = {wl.ckpt_bytes} bytes")
    print(f"{w} calibration (jvm_s, py_s) start={calib[0]} end={calib[-1]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    sys.path.insert(0, ROOT)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        import osm2gtfs_spark  # noqa: F401
    except (OSError, ImportError) as e:
        print(f"perfbench: the engine is not beside this benchmark ({e})", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every temporary file of this process, the JVMs (spark-submit's
    # launcher and the driver) and the Python workers; no JVM perf-data
    # file, which HotSpot would put in /tmp whatever java.io.tmpdir says
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    # Spark's Python workers import the engine too: ship the checkout's
    # root to them, so the run works from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every process the run starts (the JVM, Spark's Python workers) is
    # stopped and waited for on every way out, a SIGTERM included
    procs.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, spec, work, cores)
    finally:
        try:
            procs.stop_all()
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
