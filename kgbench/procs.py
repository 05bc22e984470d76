"""Every process a run starts ends before the run does.

``SparkSession.stop`` leaves the driver JVM up: it only exits once this
process has exited and closed its stdin, and its Python workers exit
after it.  So a run makes itself the child subreaper of its process tree
(orphaned descendants are re-parented to it, not to init), and on the
way out closes the JVM's stdin, waits for it, then ends and reaps every
process still below it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

from rss import children_map

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Re-parent orphaned descendants to this process (Linux)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _descendants(root: int) -> list[int]:
    kids, out, todo = children_map(), [], [root]
    while todo:
        pid = todo.pop()
        for k in kids.get(pid, ()):
            out.append(k)
            todo.append(k)
    return out


def stop_jvm(spark, timeout_s: float = 20.0) -> None:
    """Stop ``spark`` (if not None), shut the py4j gateway down, close the
    JVM's stdin (its signal to exit) and wait for the JVM; kill it if it
    has not exited in time."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Py4JError as e:  # the gateway may be broken by an interrupted call
            print(f"kgbench: spark.stop failed: {e}", file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Py4JError:  # the JVM may be gone already
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def stop_descendants(grace_s: float = 10.0) -> None:
    """Wait up to ``grace_s`` for every descendant to exit by itself, then
    SIGTERM, then SIGKILL what is left; return once none is left."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        _reap()
        left = _descendants(me)
        if not left:
            return
        now = time.monotonic()
        if now >= deadline:
            sig = signal.SIGKILL if sig is not None else signal.SIGTERM
            deadline = now + grace_s
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
