"""Host-side measurements: the drift calibration probes and the peak-RSS
sampler.

The probes time a fixed amount of JVM work (one Spark job over
``spark.range``) and a fixed amount of pure-Python work. Neither touches
project code, so a change in their times is the box, not the program.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

_JVM_ROWS = 30_000_000
_PY_ITERS = 1_500_000


def probe_jvm(spark, reps: int) -> float:
    """Median seconds of a fixed-work Spark job: a hash sum over
    ``spark.range`` in four partitions."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, _JVM_ROWS, numPartitions=4).selectExpr("sum(hash(id)) AS h").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def probe_py(reps: int) -> float:
    """Median seconds of a fixed-work pure-Python loop."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(_PY_ITERS):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def calibrate(spark) -> tuple[float, float]:
    """(JVM probe s, Python probe s), medians of two runs each after
    one unmeasured run of each."""
    probe_jvm(spark, 1)
    probe_py(1)
    return probe_jvm(spark, 2), probe_py(2)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass  # the process ended between listing and reading
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended between listing and reading
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (driver Python,
    the JVM it launched, the JVM's Python workers), as summed PSS: the
    workers are forked from one daemon and share most pages, which a sum
    of RSS would count once per worker alive at the sample."""
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        todo.extend(_children(pid))
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "jspawnhelper":
                    # the JVM starts children through a vfork'd helper that
                    # shares the JVM's address space until it execs: counting
                    # it would count the whole JVM twice
                    continue
        except OSError:
            continue
        total += _pss_kb(pid)
    return total / 1024.0


class RssSampler:
    """One daemon thread sampling the process tree's RSS every
    ``period`` seconds; ``peak_mb`` is the largest sample seen."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
