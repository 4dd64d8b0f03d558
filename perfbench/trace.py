"""Tracing for the per-layer run: spans, job groups and the event-log fold.

Everything here wraps calls from the outside. The benchmark opens a
span around each public call it makes into a layer, runs each registry
build call and each execution call under its own Spark job group, and
(for the operator modules) swaps each public function for a wrapper
that opens a span. Spans stay in memory until the run ends.

Spark's event log is folded per job group after the session stops.
Spark 4.1 writes a rolling directory ``eventlog_v2_<app>/events_<n>_<app>``
and compresses with zstd by default; the benchmark sets
``spark.eventLog.compress=false`` because ``zstandard`` is not installed,
so every file here is plain JSON lines.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None
    detail: str = ""
    group: str = ""     # Spark job group of a traced call, else ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (name, start, end, parent, operation id) and the
    Spark job group of each traced call. Start and end are epoch seconds
    so they line up with the event log's millisecond timestamps."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.groups: dict[str, str] = {}   # job group id -> layer
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str, detail: str = "", group: str = ""):
        stack = self._stack()
        s = Span(name, op, time.time(), parent=stack[-1] if stack else None,
                 detail=detail, group=group)
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    @contextmanager
    def call(self, layer: str, op: str, detail: str = ""):
        """A span that also runs its Spark jobs under one job group."""
        gid = f"{layer}|{op}"
        self.groups[gid] = layer
        self.sc.setJobGroup(gid, detail or op)
        try:
            with self.span(layer, op, detail, gid) as s:
                yield s
        finally:
            self.sc.setJobGroup("", "")

    def wrap_module(self, module, layer: str):
        """Replace each public function defined in ``module`` with a
        span-opening wrapper; returns a callable that restores them."""
        originals = {}
        for name, fn in vars(module).items():
            if (name.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != module.__name__):
                continue
            originals[name] = fn
            setattr(module, name, self._wrapped(fn, layer))

        def restore():
            for name, fn in originals.items():
                setattr(module, name, fn)
        return restore

    def _wrapped(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            op = tracer.spans[stack[-1]].op if stack else ""
            with tracer.span(layer, op, fn.__name__):
                return fn(*args, **kwargs)
        return wrapper

    def group_jobs(self, gid: str) -> dict[str, int]:
        """Jobs, stages, tasks and failed tasks of one job group, read
        through ``statusTracker()``. Call after the listener bus drained
        (see ``drain``) so the counts are final."""
        st = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
        for job in st.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = st.getJobInfo(job)
            for sid in (info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += stage.numCompletedTasks + stage.numFailedTasks
                out["tasks_failed"] += stage.numFailedTasks
        return out

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        status-tracker counts include the last job's end."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def self_seconds(self, layer_prefix: str) -> dict[str, float]:
        """Self time per span name starting with ``layer_prefix``: the
        span's duration minus what its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s.name.startswith(layer_prefix):
                out[s.name] += s.seconds - child[i]
        return dict(out)

    def innermost(self, t: float, keep) -> Span | None:
        """The latest-starting span open at epoch second ``t`` among
        those ``keep(span)`` accepts."""
        best = None
        for s in self.spans:
            if (s.start <= t <= s.end and keep(s)
                    and (best is None or s.start >= best.start)):
                best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


# ---------------------------------------------------------------------------
# Event-log fold
# ---------------------------------------------------------------------------

@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    submit_ms: list[int] = field(default_factory=list)


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, in write order: plain files
    of a non-rolling log, and ``events_<n>_*`` parts of each rolling
    ``eventlog_v2_*`` directory sorted by their index n."""
    def index(name: str) -> int:
        parts = name.split("_")
        return int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0

    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            out += [os.path.join(path, p) for p in sorted(parts, key=index)]
        elif not entry.startswith("."):
            out.append(path)
    return out


def fold_event_log(log_dir: str) -> dict[str, GroupTotals]:
    """Fold task metrics per job group. A stage belongs to the first job
    that lists it; a job with no group folds under the key ""."""
    stage_group: dict[int, str] = {}
    totals: dict[str, GroupTotals] = defaultdict(GroupTotals)
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    submitted = ev.get("Submission Time", 0)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    g = totals[group]
                    g.jobs += 1
                    g.submit_ms.append(submitted)
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    g = totals[stage_group.get(ev.get("Stage ID"), "")]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    g.tasks += 1
                    g.tasks_failed += bool(info.get("Failed"))
                    g.run_ms += m.get("Executor Run Time", 0)
                    g.cpu_ns += m.get("Executor CPU Time", 0)
                    g.gc_ms += m.get("JVM GC Time", 0)
                    rd = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_read_bytes += (rd.get("Remote Bytes Read", 0)
                                             + rd.get("Local Bytes Read", 0))
                    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return dict(totals)
