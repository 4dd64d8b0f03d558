"""The shared until-stable loop driver (operators/_fixpoint.py): stats
are a per-call value, safe under concurrent driver threads, and
passing them changes neither the plan nor the jobs."""

from __future__ import annotations

import re
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.operators import dedup, graph
from unilever_scraping_etl_spark.operators._fixpoint import LoopStats


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_concurrent_reachability_keeps_its_own_stats(spark):
    """host_bowtie's shape: forward and backward closures from one
    pivot on two driver threads. From node 1 of the 0→…→6 chain the
    forward closure needs 5 growing rounds and hits a cap of 3, while
    the backward closure ({0, 1}) verifies its fixed point in round 2.
    Each call's LoopStats must hold its own run, whatever the
    interleaving."""
    e = _edges(spark, [(i, i + 1) for i in range(6)])
    pivot = spark.createDataFrame([(1,)], "node long")
    for _ in range(2):
        fw_st, bw_st = LoopStats(), LoopStats()
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_fw = pool.submit(graph.reachability, e, "src", "dst", pivot,
                               direction="forward", rounds=3,
                               stats=fw_st)
            f_bw = pool.submit(graph.reachability, e, "src", "dst", pivot,
                               direction="backward", rounds=3,
                               stats=bw_st)
            fw, bw = f_fw.result(timeout=300), f_bw.result(timeout=300)
        assert {r["node"] for r in fw.collect()} == {1, 2, 3, 4}
        assert {r["node"] for r in bw.collect()} == {0, 1}
        assert (fw_st.rounds, fw_st.converged) == (3, False)
        assert (bw_st.rounds, bw_st.converged) == (2, True)


def _plan_and_jobs(spark, build):
    """Normalized extended explain() of ``build()``'s result and the
    number of Spark jobs the build plus one collect ran."""
    sc = spark.sparkContext
    group = f"fixpoint-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = build()
        plan = df._jdf.queryExecution().toString()
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # expression and plan ids are per-session counters, not plan shape
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    return plan, len(sc.statusTracker().getJobIdsForGroup(group))


_PR = [(0, 1), (1, 2), (2, 0), (0, 2), (2, 3), (3, 1)]
_CHAIN = [(i, i + 1) for i in range(12)]


@pytest.mark.parametrize("name,build", [
    ("pagerank_tol", lambda e, st: graph.pagerank(
        e, "src", "dst", iterations=40, tol=1e-6, stats=st)),
    ("pagerank_fixed", lambda e, st: graph.pagerank(
        e, "src", "dst", iterations=4, stats=st)),
    ("k_core", lambda e, st: graph.k_core(
        e, "src", "dst", k=2, rounds=8, until_stable=True, stats=st)),
    ("cc_pointer_jump", lambda e, st: dedup.connected_components(
        e, "src", "dst", local_edges=0, stats=st)),
    ("cc_star", lambda e, st: dedup.connected_components(
        e, "src", "dst", algorithm="star", local_edges=0, stats=st)),
])
def test_stats_change_no_plan_and_no_job(spark, name, build):
    """``stats`` is an output sink only: the same call with and
    without it yields the same explain() string and runs the same
    number of jobs. Adaptive execution is off for the comparison: it
    submits query stages concurrently, so on tiny inputs the same
    plan's job count varies by one from run to run."""
    pairs = _PR if name.startswith("pagerank") else _CHAIN + _PR
    e = _edges(spark, pairs).select(F.col("src"), F.col("dst"))
    st = LoopStats()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plain = _plan_and_jobs(spark, lambda: build(e, None))
        with_stats = _plan_and_jobs(spark, lambda: build(e, st))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert with_stats == plain
    assert st.rounds > 0
