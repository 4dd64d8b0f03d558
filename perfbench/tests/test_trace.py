"""The event-log fold and span bookkeeping, on a small recorded log.

``data/eventlog_v2_local-1792204637137`` is a Spark 4.1.2 rolling event
log of three jobs, trimmed to the events the fold reads:

- job 0, group ``registry.build|q#1``: stages 0 (2 tasks) and 1 (1 task);
- job 1, group ``exec|q#1``: a 2 x 2 task shuffle, stages 2 and 3;
- job 2, no group: stage 4 (1 task).
"""

import os

from perfbench.trace import Tracer, event_files, fold_event_log

LOG = os.path.join(os.path.dirname(__file__), "data")
BUILD, EXEC = "registry.build|q#1", "exec|q#1"


def test_event_files_reads_rolling_directory():
    files = event_files(LOG)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1792204637137"]


def test_fold_per_job_group():
    folded = fold_event_log(LOG)
    assert set(folded) == {BUILD, EXEC, ""}
    b, e, none = folded[BUILD], folded[EXEC], folded[""]
    assert (b.jobs, b.tasks, b.tasks_failed) == (1, 3, 0)
    assert (e.jobs, e.tasks, e.tasks_failed) == (1, 4, 0)
    assert (none.jobs, none.tasks) == (1, 1)
    assert b.run_ms == 156 + 150 + 112
    assert e.run_ms == 181 + 198 + 48 + 52
    assert b.gc_ms == 15 + 15 + 16
    assert b.cpu_ns == 53077294 + 66025533 + 63740325
    assert b.shuffle_write_bytes == 59 + 59 and b.shuffle_read_bytes == 118
    assert e.shuffle_write_bytes == 133 + 133 and e.shuffle_read_bytes == 126 + 140
    assert e.spill_bytes == 0
    assert b.submit_ms == [1792204643158]


def test_self_time_subtracts_child_spans():
    t = Tracer()
    with t.span("registry.build", "q#1"):
        with t.span("operators.dedup", "q#1") as outer:
            with t.span("operators.graph", "q#1") as inner:
                pass
    assert inner.parent == 1 and outer.parent == 0
    self_s = t.self_seconds("operators.")
    assert abs(self_s["operators.dedup"] - (outer.seconds - inner.seconds)) < 1e-9
    assert self_s["operators.graph"] == inner.seconds
    assert t.innermost(inner.start, lambda s: s.name.startswith("operators.")) is inner


def test_wrap_module_spans_public_functions_and_restores():
    import types

    mod = types.ModuleType("fake_ops")
    exec("def pagerank(x):\n    return x + 1\n\ndef _private(x):\n    return x\n",
         mod.__dict__)
    original = mod.pagerank
    t = Tracer()
    restore = t.wrap_module(mod, "operators.fake")
    with t.span("registry.build", "q#7"):
        assert mod.pagerank(1) == 2
    assert mod._private is mod.__dict__["_private"]
    restore()
    assert mod.pagerank is original
    (span,) = [s for s in t.spans if s.name == "operators.fake"]
    assert (span.op, span.detail, span.parent) == ("q#7", "pagerank", 0)
