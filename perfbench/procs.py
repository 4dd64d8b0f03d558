"""Stop every process a run started, and wait until each has ended.

A run starts the Spark JVM (through ``spark-submit``), and the JVM starts
PySpark's worker daemon, which forks Python workers into a process group
of its own. After ``SparkSession.stop()`` all of them are still alive:
the JVM exits only when its stdin closes, and the daemon only when the
JVM is gone. Left alone, they end some time after this process has
exited, and a JVM that ends after its parent is never reaped by it: it
stays behind as a zombie until init collects it. ``stop_all`` ends them
and collects their exit status before it returns, on every path out of
a run.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a
    descendant whose parent exits (a worker daemon after the JVM) is
    re-parented here instead of to init, so ``stop_all`` still finds it
    and can wait for it. Linux only; elsewhere a no-op."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _parent(pid: str) -> int | None:
    """Parent pid of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    # the command name in parentheses may hold spaces; the fields after it do not
    return int(stat.rsplit(")", 1)[1].split()[1])


def descendants() -> list[int]:
    """Every descendant of this process that has not been reaped.
    Zombies count: a JVM whose main thread has exited reads as a zombie
    while its other threads still run shutdown hooks, and a zombie child
    left unreaped outlives this process."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (ppid := _parent(entry)) is not None:
            parent_of[int(entry)] = ppid
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        kids = [p for p, pp in parent_of.items() if pp == pid]
        tree += kids
        todo += kids
    return tree


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def _wait(seconds: float) -> list[int]:
    deadline = time.monotonic() + seconds
    while True:
        _reap()
        left = descendants()
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.05)


def _signal(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def close_jvm() -> None:
    """Close the py4j gateway and the JVM's stdin, on which the JVM
    exits; a no-op when no JVM was started."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may be gone already
        pass
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def stop_all(grace: float = 30.0) -> int:
    """End every descendant of this process and wait for each: first let
    them exit on their own (the JVM after ``close_jvm``, then the worker
    daemon), then SIGTERM, then SIGKILL. Returns how many were still
    running when it was called."""
    started = len(descendants())
    left = _wait(grace)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not left:
            break
        _signal(left, sig)
        left = _wait(10.0)
    return started
