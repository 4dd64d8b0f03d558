"""The percentile rule and failure accounting."""

import math
import random

import pytest

from perfbench.measure import MIN_BEYOND, Tally, tail_percentile
from perfbench.workloads import QueryWorkload


@pytest.mark.parametrize("n,expected", [
    (8, None), (19, None), (20, 50.0), (21, 52.0), (99, 89.0), (100, 90.0),
    (1000, 90.0)])
def test_tail_percentile_leaves_ten_beyond(n, expected):
    assert tail_percentile(n) == expected
    if expected is not None:
        rng = random.Random(n)
        samples = sorted(rng.random() for _ in range(n))
        value = samples[math.ceil(expected / 100 * n) - 1]   # nearest rank
        assert sum(s > value for s in samples) >= MIN_BEYOND
        if expected < 90:   # one percentile higher would leave too few
            nxt = samples[math.ceil((expected + 1) / 100 * n) - 1]
            assert sum(s > nxt for s in samples) < MIN_BEYOND


def test_tally_counts_each_operation_once():
    t = Tally()
    assert t.failed_frac == 0.0
    for ok in (True, True, False, True):
        t.record(ok, "boom")
    assert (t.attempted, t.failed, t.failed_frac) == (4, 1, 0.25)
    assert t.reasons == ["boom"]


class _Sink:
    def __init__(self, log):
        self.log = log

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        self.log.append("saved")


class _Frame:
    def __init__(self, log):
        self.write = _Sink(log)


class _Spec:
    def __init__(self, log, fail=False):
        self.log, self.fail = log, fail

    def spark(self, spark, tables):
        if self.fail:
            raise RuntimeError("plan failed")
        return _Frame(self.log)


def test_query_pass_counts_raising_query_as_failed():
    log = []
    wl = QueryWorkload.__new__(QueryWorkload)
    wl.names = ["ok_a", "bad", "ok_b"]
    wl.specs = {"ok_a": _Spec(log), "bad": _Spec(log, fail=True), "ok_b": _Spec(log)}
    wl.spark, wl.tables, wl.rows = None, "", {"ok_a": 3, "ok_b": 4}
    wl.rng = random.Random(0)
    t = Tally()
    res = wl.run_pass(t)
    assert (t.attempted, t.failed) == (3, 1)
    assert t.reasons[0].startswith("bad: RuntimeError")
    assert sorted(name for name, _ in res.ops) == ["bad", "ok_a", "ok_b"]
    assert log == ["saved", "saved"]
    assert res.rows == 7 and res.wall >= sum(sec for _, sec in res.ops)
