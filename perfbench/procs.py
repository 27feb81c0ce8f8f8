"""Every process a run starts ends before the run does.

PySpark launches the driver JVM as a child process, and the JVM starts
Spark's Python worker daemon and its workers. Left alone, the JVM exits
only after noticing that its parent has gone, so it outlives the run by
a moment, and the workers are orphaned to init. ``adopt_orphans`` makes
this process the one orphans are re-parented to, and ``stop_all`` stops
the JVM and then waits for every descendant to end, killing any that do
not end in time.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the child subreaper of every process started from here on,
    so orphaned descendants can be waited for like children."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    out = []
    for tid in os.listdir("/proc/self/task"):
        try:
            with open(f"/proc/self/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass  # the thread ended between listing and reading
    return out


def _reap() -> None:
    """Collect every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _wait_children(seconds: float) -> bool:
    """Reap children until none is left or ``seconds`` have passed."""
    deadline = time.monotonic() + seconds
    while True:
        _reap()
        if not _children():
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.05)


def _stop_jvm(seconds: float) -> None:
    """Stop the SparkContext, if one is running, and close the JVM's
    stdin, on which it exits; kill it if it has not exited in time."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # the JVM may already be gone; it is waited for below
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # as above
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=seconds)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def stop_all(seconds: float = 30.0) -> None:
    """Stop the JVM, then wait for every remaining descendant; after
    ``seconds`` send SIGTERM, then SIGKILL, and wait again."""
    if "pyspark" in sys.modules:
        _stop_jvm(seconds)
    if _wait_children(seconds):
        return
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if _wait_children(5.0):
            return
    raise RuntimeError(f"processes still running: {_children()}")
