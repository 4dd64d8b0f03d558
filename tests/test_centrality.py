"""Harmonic centrality (operators/centrality.py): exact pair
expansion vs a python BFS reference (hand cases + hypothesis sweep),
early-exit diagnostics, and the HyperBall sketch's accuracy envelope
against the exact operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.operators import centrality
from unilever_scraping_etl_spark.operators._fixpoint import LoopStats


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _reference(pairs, radius):
    """BFS from every node over the directed edge list; H(v) sums
    1/d(u->v) over incoming distances <= radius."""
    nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    adj: dict = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
    h = {v: 0.0 for v in nodes}
    for u in nodes:
        dist = {u: 0}
        frontier = [u]
        for d in range(1, radius + 1):
            nxt = []
            for x in frontier:
                for y in adj.get(x, ()):
                    if y not in dist:
                        dist[y] = d
                        nxt.append(y)
            frontier = nxt
        for v, d in dist.items():
            if v != u and d > 0:
                h[v] += 1.0 / d
    return {v: round(x, 9) for v, x in h.items()}


def test_path_graph_hand_computed(spark):
    """0 -> 1 -> 2 -> 3, radius 3: H(1)=1, H(2)=1+1/2, H(3)=1+1/2+1/3,
    H(0)=0."""
    pairs = [(0, 1), (1, 2), (2, 3)]
    out = {r["node"]: r["harmonic"]
           for r in centrality.harmonic_centrality(
               _edges(spark, pairs), "src", "dst", radius=3).collect()}
    assert out[0] == 0.0
    assert out[1] == pytest.approx(1.0)
    assert out[2] == pytest.approx(1.5)
    assert out[3] == pytest.approx(1.0 + 0.5 + 1.0 / 3, abs=1e-9)


def test_radius_truncation(spark):
    """Same path, radius 1: only direct predecessors count."""
    pairs = [(0, 1), (1, 2), (2, 3)]
    out = {r["node"]: r["harmonic"]
           for r in centrality.harmonic_centrality(
               _edges(spark, pairs), "src", "dst", radius=1).collect()}
    assert out == {0: 0.0, 1: 1.0, 2: 1.0, 3: 1.0}


def test_cycle_symmetric(spark):
    """Directed 4-cycle, radius 3: every node sees the other three at
    distances 1, 2, 3."""
    pairs = [(i, (i + 1) % 4) for i in range(4)]
    out = centrality.harmonic_centrality(_edges(spark, pairs),
                                         "src", "dst", radius=3)
    exp = 1.0 + 0.5 + round(1.0 / 3, 12)
    for r in out.collect():
        assert r["harmonic"] == pytest.approx(exp, abs=1e-8)


def test_early_exit_on_exhausted_frontier(spark):
    """A 2-path exhausts all shortest paths at distance 2; radius 10
    must stop expanding after round 2 (reported through stats)."""
    pairs = [(0, 1), (1, 2)]
    st = LoopStats()
    centrality.harmonic_centrality(_edges(spark, pairs), "src", "dst",
                                   radius=10, stats=st).collect()
    assert (st.rounds, st.converged) == (2, True)


def test_duplicate_and_null_edges_ignored(spark):
    pairs = [(0, 1), (0, 1), (None, 1), (0, None)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    out = {r["node"]: r["harmonic"]
           for r in centrality.harmonic_centrality(
               df, "src", "dst", radius=2).collect()}
    assert out == {0: 0.0, 1: 1.0}


def test_empty_and_all_null_edge_lists_return_empty_frames(spark):
    for rows in ([], [(None, 1), (2, None)]):
        df = spark.createDataFrame(rows, "src long, dst long")
        exact = centrality.harmonic_centrality(df, "src", "dst",
                                               radius=3)
        assert exact.columns == ["node", "harmonic"]
        assert exact.count() == 0
        est = centrality.harmonic_centrality_sketch(df, "src", "dst",
                                                    radius=2)
        assert est.columns == ["node", "harmonic_est"]
        assert est.count() == 0


def test_validation(spark):
    e = _edges(spark, [(0, 1)])
    with pytest.raises(ValueError, match="radius"):
        centrality.harmonic_centrality(e, "src", "dst", radius=0)
    with pytest.raises(ValueError, match="reserved"):
        centrality.harmonic_centrality(
            e.withColumn("harmonic", F.lit(1)), "src", "dst")
    with pytest.raises(ValueError, match="radius"):
        centrality.harmonic_centrality_sketch(e, "src", "dst", radius=0)
    with pytest.raises(ValueError, match="p must"):
        centrality.harmonic_centrality_sketch(e, "src", "dst", p=2)


def test_sketch_tracks_exact_on_a_real_graph(spark):
    """HyperBall vs exact on a 60-node preferential-ish digraph:
    per-node relative error within the p=6 envelope (generous 3-sigma
    ~40% bound per node on TOTALS; the aggregate correlation is the
    operational property, checked via the sum)."""
    pairs = [(i, (i * 7 + 1) % 60) for i in range(60)]
    pairs += [(i, (i * 3 + 2) % 60) for i in range(60)]
    pairs += [(i, 0) for i in range(1, 20)]  # node 0 is an authority
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    exact = {r["node"]: r["harmonic"]
             for r in centrality.harmonic_centrality(
                 e, "src", "dst", radius=3).collect()}
    est = {r["node"]: r["harmonic_est"]
           for r in centrality.harmonic_centrality_sketch(
               e, "src", "dst", radius=3, p=6).collect()}
    assert set(est) == set(exact)
    t_exact, t_est = sum(exact.values()), sum(est.values())
    assert t_est == pytest.approx(t_exact, rel=0.25)
    # the authority node must rank in the estimator's top decile
    top = sorted(est, key=est.get, reverse=True)[:6]
    assert 0 in top


def test_sketch_tracks_exact_across_precisions(spark):
    """r12 advice (high): _rho's leading-zero window must track p —
    a fixed p=6 window scales ball estimates by ~2^(p−6) for any
    other p. Same 60-node graph as the p=6 test, run at p=8 and
    p=10: totals must track exact within the (tighter) HLL envelope,
    and the estimate must IMPROVE or hold as p grows rather than
    blow up 4×/16×."""
    pairs = [(i, (i * 7 + 1) % 60) for i in range(60)]
    pairs += [(i, (i * 3 + 2) % 60) for i in range(60)]
    pairs += [(i, 0) for i in range(1, 20)]
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    t_exact = sum(r["harmonic"]
                  for r in centrality.harmonic_centrality(
                      e, "src", "dst", radius=3).collect())
    for p, rel in ((8, 0.15), (10, 0.12)):
        est = centrality.harmonic_centrality_sketch(
            e, "src", "dst", radius=3, p=p)
        t_est = sum(r["harmonic_est"] for r in est.collect())
        assert t_est == pytest.approx(t_exact, rel=rel), f"p={p}"


def test_rho_window_tracks_p(spark):
    """The register value for a node hash equals the python-computed
    1 + leading-zeros of the top (64−p) bits, for every supported
    p — pins the 65−p window arithmetic directly."""
    import ctypes

    from unilever_scraping_etl_spark.operators.centrality import _rho

    nodes = [f"n{i}" for i in range(12)]
    df = spark.createDataFrame([(n,) for n in nodes], "node string")
    for p in (4, 6, 8, 12):
        h = F.xxhash64(F.col("node").cast("string"))
        got = {r["node"]: r["v"] for r in df.select(
            "node",
            _rho(F.shiftrightunsigned(h, p), p).alias("v")).collect()}
        for r in df.select(
                "node", F.xxhash64(F.col("node").cast("string"))
                .alias("h")).collect():
            x = ctypes.c_uint64(r["h"]).value >> p
            exp = (65 - p) if x == 0 else (65 - p - x.bit_length())
            assert got[r["node"]] == exp, (p, r["node"])


def test_hll_estimate_accuracy_across_range(spark):
    """The HLL++ estimator flow (hll_ball_estimate: calibrated LC
    switch + empirical bias correction) on register streams of known
    cardinality — one deterministic realization per (p, n), xxhash64
    ids, so these are exact pins with margin, spanning the LC band,
    the mid-range bias hump the correction exists for, and the raw
    band."""
    from unilever_scraping_etl_spark.operators.centrality import (
        _rho, hll_ball_estimate)

    for p, ns, bound in ((6, (30, 150, 700, 3000), 0.08),
                         (8, (30, 150, 300, 700, 1500, 3000), 0.10)):
        m = 1 << p
        for n in ns:
            ids = spark.range(n).select(
                F.concat(F.lit("id"), F.col("id")).alias("node"))
            h = F.xxhash64(F.col("node").cast("string"))
            regs = (ids.select(
                F.lit("x").alias("node"),
                F.pmod(h, F.lit(m)).cast("int").alias("__reg"),
                _rho(F.shiftrightunsigned(h, p), p).cast("int")
                 .alias("__val"))
                .groupBy("node", "__reg")
                .agg(F.max("__val").alias("__val")))
            est = hll_ball_estimate(regs, p).collect()[0]["__est"]
            assert abs(est - n) / n <= bound, (p, n, est)


def test_targeted_exact_matches_full(spark):
    """harmonic_centrality(targets=...) — backward pair expansion
    pinned on a node sample — must equal the full computation on
    those nodes (the page-scale sketch-validation tool)."""
    pairs = [(i, (i * 7 + 1) % 60) for i in range(60)]
    pairs += [(i, (i * 3 + 2) % 60) for i in range(60)]
    pairs += [(i, 0) for i in range(1, 20)]
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    full = {r["node"]: r["harmonic"]
            for r in centrality.harmonic_centrality(
                e, "src", "dst", radius=3).collect()}
    tgt = spark.createDataFrame([(0,), (7,), (13,), (59,)], "n long")
    got = {r["node"]: r["harmonic"]
           for r in centrality.harmonic_centrality(
               e, "src", "dst", radius=3, targets=tgt).collect()}
    assert set(got) == {0, 7, 13, 59}
    for v, x in got.items():
        assert x == pytest.approx(full[v], abs=1e-9)


def test_centrality_profile_hand_computed(spark):
    """Profile on the chain 1->2->3->0 with 4->0, radius 3: all three
    metrics from the same pair table, against hand-computed values."""
    e = _edges(spark, [(1, 2), (2, 3), (3, 0), (4, 0)])
    got = {r["node"]: r for r in centrality.centrality_profile(
        e, "src", "dst", radius=3).collect()}
    # node 0: d(3)=1, d(4)=1, d(2)=2, d(1)=3 -> n=4, sum=7
    assert got[0]["harmonic"] == pytest.approx(1 + 1 + 0.5 + 1 / 3,
                                               abs=1e-9)
    assert got[0]["n_reached"] == 4
    assert got[0]["closeness"] == pytest.approx(4 / 7, abs=1e-9)
    assert got[0]["lin"] == pytest.approx(16 / 7, abs=1e-9)
    # node 4: nothing reaches it -> the all-zero convention
    assert (got[4]["harmonic"], got[4]["n_reached"],
            got[4]["closeness"], got[4]["lin"]) == (0.0, 0, 0.0, 0.0)


def test_centrality_profile_consistent_with_harmonic(spark):
    """On a random-ish graph the profile's harmonic column equals the
    single-metric operator (same pair table, same rounding), and the
    targeted form agrees on its sample."""
    pairs = [(i, (i * 5 + 2) % 23) for i in range(23)]
    pairs += [(i, (i * 11 + 1) % 23) for i in range(23)]
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    prof = {r["node"]: r for r in centrality.centrality_profile(
        e, "src", "dst", radius=3).collect()}
    harm = {r["node"]: r["harmonic"]
            for r in centrality.harmonic_centrality(
                e, "src", "dst", radius=3).collect()}
    assert set(prof) == set(harm)
    for v in harm:
        assert prof[v]["harmonic"] == pytest.approx(harm[v], abs=1e-9)
    tgt = spark.createDataFrame([(0,), (11,)], "n long")
    sub = {r["node"]: r for r in centrality.centrality_profile(
        e, "src", "dst", radius=3, targets=tgt).collect()}
    assert set(sub) == {0, 11}
    for v, row in sub.items():
        for c in ("harmonic", "n_reached", "closeness", "lin"):
            assert row[c] == pytest.approx(prof[v][c], abs=1e-9)


def test_profile_sketch_tracks_exact_profile(spark):
    """The sketch profile's four columns track the exact profile on
    the 60-node authority graph within the p=8 envelope (totals;
    per-ball HLL noise partially cancels in the sums), and its
    harmonic column equals the harmonic sketch's (same lattice,
    same fold)."""
    pairs = [(i, (i * 7 + 1) % 60) for i in range(60)]
    pairs += [(i, (i * 3 + 2) % 60) for i in range(60)]
    pairs += [(i, 0) for i in range(1, 20)]
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    exact = {r["node"]: r for r in centrality.centrality_profile(
        e, "src", "dst", radius=3).collect()}
    prof = {r["node"]: r for r in centrality.centrality_profile_sketch(
        e, "src", "dst", radius=3, p=8).collect()}
    assert set(prof) == set(exact)
    for col, ecol, rel in (("harmonic_est", "harmonic", 0.15),
                           ("n_reached_est", "n_reached", 0.15)):
        t_e = sum(exact[v][ecol] for v in exact)
        t_p = sum(prof[v][col] for v in prof)
        assert t_p == pytest.approx(t_e, rel=rel), col
    harm = {r["node"]: r["harmonic_est"]
            for r in centrality.harmonic_centrality_sketch(
                e, "src", "dst", radius=3, p=8).collect()}
    for v in harm:
        assert prof[v]["harmonic_est"] == pytest.approx(harm[v],
                                                        abs=1e-9)


def test_sketch_is_deterministic(spark):
    pairs = [(i, (i + 1) % 9) for i in range(9)] + [(0, 5), (3, 7)]
    e = _edges(spark, pairs)
    a = sorted(map(tuple, centrality.harmonic_centrality_sketch(
        e, "src", "dst", radius=2).collect()))
    b = sorted(map(tuple, centrality.harmonic_centrality_sketch(
        e, "src", "dst", radius=2).collect()))
    assert a == b


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _pair = st.tuples(st.integers(0, 6), st.integers(0, 6))

    @settings(max_examples=10, deadline=None)
    @given(st.lists(_pair, min_size=1, max_size=18), st.integers(1, 4))
    def test_exact_matches_python_reference(pairs, radius):
        spark = _hyp_spark[0]
        exp = _reference(pairs, radius)
        out = {r["node"]: r["harmonic"]
               for r in centrality.harmonic_centrality(
                   _edges(spark, pairs), "src", "dst",
                   radius=radius).collect()}
        assert set(out) == set(exp)
        for v, x in exp.items():
            assert out[v] == pytest.approx(x, abs=1e-9)

    _hyp_spark = [None]

    @pytest.fixture(autouse=True)
    def _capture_spark(spark):
        _hyp_spark[0] = spark
        yield

except ImportError:
    pass
