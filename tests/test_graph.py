"""PageRank (operators/graph.py): hand-computed fixed points, the
uniform-on-regular-graphs invariant, a python-reference property
sweep, and the lineage-truncation path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.operators import graph
from unilever_scraping_etl_spark.operators._fixpoint import LoopStats


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _reference(pairs, iterations, d=0.85, redistribute_dangling=False):
    nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    n = len(nodes)
    outdeg = {}
    for u, _ in pairs:
        outdeg[u] = outdeg.get(u, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0.0 for v in nodes}
        for u, v in pairs:
            contrib[v] += rank[u] / outdeg[u]
        dmass = (sum(rank[v] for v in nodes if v not in outdeg)
                 if redistribute_dangling else 0.0)
        rank = {v: (1 - d) / n + d * (contrib[v] + dmass / n)
                for v in nodes}
    return rank


def test_cycle_stays_uniform(spark):
    """On a directed cycle every node has in=out=1, so the uniform
    start 1/N is the exact fixed point at every iteration."""
    pairs = [(i, (i + 1) % 5) for i in range(5)]
    out = graph.pagerank(_edges(spark, pairs), "src", "dst",
                         iterations=7).collect()
    assert len(out) == 5
    for r in out:
        assert r["rank"] == pytest.approx(0.2, abs=1e-12)


def test_sink_heavy_star_matches_hand_computation(spark):
    """3 -> 0, 1 -> 0, 2 -> 0 plus 0 -> 3: node 0 accumulates; one
    iteration from uniform is directly checkable by hand."""
    pairs = [(1, 0), (2, 0), (3, 0), (0, 3)]
    out = {r["node"]: r["rank"]
           for r in graph.pagerank(_edges(spark, pairs), "src", "dst",
                                   iterations=1).collect()}
    # base = 0.15/4; contrib(0) = r1 + r2 + r3 = 0.75; contrib(3) = r0
    assert out[0] == pytest.approx(0.15 / 4 + 0.85 * 0.75)
    assert out[3] == pytest.approx(0.15 / 4 + 0.85 * 0.25)
    assert out[1] == out[2] == pytest.approx(0.15 / 4)


def test_ranks_sum_to_one_without_dangling_nodes(spark):
    """With no dangling nodes, total mass is conserved exactly (up to
    float noise) at every K."""
    pairs = [(0, 1), (1, 2), (2, 0), (0, 2), (2, 1)]
    out = graph.pagerank(_edges(spark, pairs), "src", "dst",
                         iterations=6)
    total = out.agg(F.sum("rank")).first()[0]
    assert total == pytest.approx(1.0, abs=1e-9)


def test_checkpointing_changes_nothing_but_lineage(spark):
    pairs = [(i, (i * 3 + 1) % 7) for i in range(7)] + [(2, 5), (6, 1)]
    plain = graph.pagerank(_edges(spark, pairs), "src", "dst",
                           iterations=6, rank_digits=10)
    ck = graph.pagerank(_edges(spark, pairs), "src", "dst",
                        iterations=6, rank_digits=10,
                        checkpoint_every=2)
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, ck.collect()))
    # the checkpointed plan must NOT contain the full 6-iteration tree
    depth = ck._jdf.queryExecution().executedPlan().toString()
    assert depth.count("HashAggregate") < 6


def test_null_keyed_edges_are_dropped_not_phantom_nodes(spark):
    pairs = [(0, 1), (1, 0), (None, 1), (0, None)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    out = graph.pagerank(df, "src", "dst", iterations=2).collect()
    assert {r["node"] for r in out} == {0, 1}


def test_empty_and_all_null_edge_lists_return_empty_frame(spark):
    for rows in ([], [(None, 1), (2, None)]):
        df = spark.createDataFrame(rows, "src long, dst long")
        out = graph.pagerank(df, "src", "dst", iterations=3)
        assert out.columns == ["node", "rank"]
        assert out.count() == 0


def test_validation(spark):
    e = _edges(spark, [(0, 1)])
    with pytest.raises(ValueError, match="iterations"):
        graph.pagerank(e, "src", "dst", iterations=0)
    with pytest.raises(ValueError, match="damping"):
        graph.pagerank(e, "src", "dst", damping=1.0)
    with pytest.raises(ValueError, match="reserved"):
        graph.pagerank(e.withColumn("rank", F.lit(1)), "src", "dst")
    with pytest.raises(ValueError, match="tol"):
        graph.pagerank(e, "src", "dst", tol=-0.1)
    with pytest.raises(ValueError, match="materialize"):
        graph.pagerank(e, "src", "dst", tol=0.01, materialize=False)


def test_dangling_redistribution_conserves_total_mass(spark):
    """0->1, 1->2, 2 dangling: plain formulation leaks node 2's mass;
    redistribute_dangling must hold the total at exactly 1 at any K,
    and match the python reference node by node."""
    pairs = [(0, 1), (1, 2), (0, 2)]
    out = graph.pagerank(_edges(spark, pairs), "src", "dst",
                         iterations=6, redistribute_dangling=True)
    total = out.agg(F.sum("rank")).first()[0]
    assert total == pytest.approx(1.0, abs=1e-9)
    exp = _reference(pairs, 6, redistribute_dangling=True)
    got = {r["node"]: r["rank"] for r in out.collect()}
    for v, r in exp.items():
        assert got[v] == pytest.approx(r, abs=1e-10)
    # and the default (drop) run leaks mass on this graph — the two
    # modes are genuinely different here
    plain = (graph.pagerank(_edges(spark, pairs), "src", "dst",
                            iterations=6)
             .agg(F.sum("rank")).first()[0])
    assert plain < 0.999


def test_tol_stops_early_on_cycle(spark):
    """A directed cycle is at its fixed point from iteration 0, so the
    first delta probe reads 0 and tol stops the loop after ONE
    iteration despite a cap of 7."""
    pairs = [(i, (i + 1) % 5) for i in range(5)]
    st = LoopStats()
    out = graph.pagerank(_edges(spark, pairs), "src", "dst",
                         iterations=7, tol=0.0, stats=st).collect()
    assert (st.rounds, st.converged) == (1, True)
    for r in out:
        assert r["rank"] == pytest.approx(0.2, abs=1e-12)


def test_tol_converged_result_matches_reference(spark):
    """tol early-stop on a strongly-connected graph: stops before the
    cap, matches the python reference at EXACTLY the iteration count
    it reports, and sits within ~tol of the converged fixed point
    (d=0.5 so contraction reaches 1e-8 in ~27 rounds — a deep
    un-checkpointed Spark run is not a usable comparator)."""
    pairs = [(0, 1), (1, 2), (2, 0), (0, 2), (2, 1), (1, 0)]
    st = LoopStats()
    conv = {r["node"]: r["rank"]
            for r in graph.pagerank(_edges(spark, pairs), "src", "dst",
                                    iterations=60, tol=1e-8,
                                    damping=0.5, stats=st).collect()}
    used = st.rounds
    assert used < 60
    exact = _reference(pairs, used, d=0.5)
    fixed = _reference(pairs, 200, d=0.5)
    for v, r in conv.items():
        assert r == pytest.approx(exact[v], abs=1e-10)
        assert r == pytest.approx(fixed[v], abs=1e-6)


def test_tol_with_dangling_redistribution_composes(spark):
    """Both flags together: early-stopped ranks match the reference
    fold (with redistribution) at the reported iteration count, and
    mass stays 1 — node 2 dangles in this graph."""
    pairs = [(0, 1), (1, 2), (0, 2), (1, 0)]
    st = LoopStats()
    out = {r["node"]: r["rank"]
           for r in graph.pagerank(_edges(spark, pairs), "src", "dst",
                                   iterations=60, tol=1e-8, damping=0.5,
                                   redistribute_dangling=True,
                                   stats=st).collect()}
    used = st.rounds
    assert used < 60
    exp = _reference(pairs, used, d=0.5, redistribute_dangling=True)
    for v, r in exp.items():
        assert out[v] == pytest.approx(r, abs=1e-10)
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-9)


def test_tol_cap_still_binds(spark):
    """An unreachable tolerance runs exactly the cap."""
    pairs = [(0, 1), (1, 2), (2, 0), (0, 2)]
    st = LoopStats()
    graph.pagerank(_edges(spark, pairs), "src", "dst",
                   iterations=3, tol=0.0, stats=st).collect()
    # this graph is NOT at a fixed point after 3 rounds; tol=0 never
    # fires, so the cap binds
    assert (st.rounds, st.converged) == (3, False)


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, w double")


def test_weighted_split_hand_computed(spark):
    """Node 0 endorses node 1 three times as hard as node 2: after one
    iteration from the uniform start, rank(1) − rank(2) =
    d · (1/N) · (0.75 − 0.25)."""
    e = _wedges(spark, [(0, 1, 3.0), (0, 2, 1.0), (1, 0, 1.0),
                        (2, 0, 1.0)])
    out = {r["node"]: r["rank"]
           for r in graph.pagerank(e, "src", "dst", iterations=1,
                                   weight_col="w").collect()}
    base = 0.15 / 3
    assert out[1] == pytest.approx(base + 0.85 * (1 / 3) * 0.75,
                                   abs=1e-12)
    assert out[2] == pytest.approx(base + 0.85 * (1 / 3) * 0.25,
                                   abs=1e-12)
    assert out[0] == pytest.approx(base + 0.85 * (2 / 3), abs=1e-12)


def test_equal_weights_reduce_to_unweighted(spark):
    """Any constant weight is the uniform split — weighted must equal
    the plain operator rank for rank."""
    pairs = [(i, (i * 5 + 2) % 17) for i in range(17)]
    pairs += [(i, (i * 3 + 1) % 17) for i in range(17)]
    pairs = [(a, b) for a, b in pairs if a != b]
    plain = {r["node"]: r["rank"]
             for r in graph.pagerank(_edges(spark, pairs), "src",
                                     "dst", iterations=4).collect()}
    w = _wedges(spark, [(a, b, 7.5) for a, b in pairs])
    weighted = {r["node"]: r["rank"]
                for r in graph.pagerank(w, "src", "dst", iterations=4,
                                        weight_col="w").collect()}
    assert set(weighted) == set(plain)
    for v in plain:
        assert weighted[v] == pytest.approx(plain[v], abs=1e-12)


def test_weighted_null_and_nonpositive_edges_drop(spark):
    """NULL / zero / negative weights carry no mass: the edge (and any
    node only it introduces) must vanish, not corrupt the out-sum."""
    e = spark.createDataFrame(
        [(0, 1, 2.0), (0, 2, None), (0, 3, 0.0), (0, 4, -1.0),
         (1, 0, 1.0)],
        "src long, dst long, w double")
    out = {r["node"]: r["rank"]
           for r in graph.pagerank(e, "src", "dst", iterations=2,
                                   weight_col="w").collect()}
    assert set(out) == {0, 1}  # 2/3/4 only entered via dropped edges
    # with the noise gone this is the 2-cycle: exact uniform 0.5
    assert out[0] == pytest.approx(0.5, abs=1e-12)
    assert out[1] == pytest.approx(0.5, abs=1e-12)


def test_weighted_composes_with_warm_start_and_tol(spark):
    """The r13-runway composition: weighted + warm_start + tol reach
    the same weighted fixed point as a cold weighted run."""
    triples = [(i, (i * 5 + 2) % 19, float(1 + i % 3))
               for i in range(19)]
    triples += [(i, (i * 7 + 1) % 19, 1.0) for i in range(19)]
    triples = [(a, b, w) for a, b, w in triples if a != b]
    e = _wedges(spark, triples)
    cold = {r["node"]: r["rank"]
            for r in graph.pagerank(e, "src", "dst", iterations=200,
                                    tol=1e-9,
                                    weight_col="w").collect()}
    seed = spark.createDataFrame([(k, v) for k, v in cold.items()],
                                 "node long, rank double")
    st = LoopStats()
    warm = {r["node"]: r["rank"]
            for r in graph.pagerank(e, "src", "dst", iterations=200,
                                    tol=1e-9, weight_col="w",
                                    warm_start=seed, stats=st).collect()}
    assert st.rounds <= 2  # already at the fixed point
    for v in cold:
        assert warm[v] == pytest.approx(cold[v], abs=1e-8)


def test_warm_start_same_fixed_point_fewer_iterations(spark):
    """The incremental re-rank drift bound (SURVEY 7.8): after a
    small edge delta, warm-starting from the previous snapshot's
    ranks converges to the SAME fixed point as a cold start (the
    fixed point is independent of the start) in strictly fewer
    iterations."""
    base = [(i, (i * 7 + 1) % 40) for i in range(40)]
    base += [(i, (i * 3 + 2) % 40) for i in range(40)]
    base = [(a, b) for a, b in base if a != b]
    prior = graph.pagerank(_edges(spark, base), "src", "dst",
                           iterations=200, tol=1e-8)
    # the delta: five fresh links plus one new node entering the graph
    delta = [(0, 17), (5, 23), (11, 2), (40, 3), (8, 40)]
    new = list(dict.fromkeys(base + delta))
    st_cold, st_warm = LoopStats(), LoopStats()
    cold = graph.pagerank(_edges(spark, new), "src", "dst",
                          iterations=200, tol=1e-8, stats=st_cold)
    warm = graph.pagerank(_edges(spark, new), "src", "dst",
                          iterations=200, tol=1e-8, warm_start=prior,
                          stats=st_warm)
    i_cold, i_warm = st_cold.rounds, st_warm.rounds
    c = {r["node"]: r["rank"] for r in cold.collect()}
    w = {r["node"]: r["rank"] for r in warm.collect()}
    assert set(w) == set(c)
    # both stopped at max-delta <= 1e-8; the fixed points agree
    # within tol / (1 - d) of each other
    for v in c:
        assert w[v] == pytest.approx(c[v], abs=1e-7)
    assert i_warm < i_cold, (i_warm, i_cold)


def test_warm_start_new_nodes_and_renormalization(spark):
    """Warm frames that miss nodes (they enter at 1/N) or carry
    unnormalized mass (renormalized to 1) still converge to the
    plain result."""
    pairs = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)]
    plain = {r["node"]: r["rank"]
             for r in graph.pagerank(_edges(spark, pairs), "src",
                                     "dst", iterations=300,
                                     tol=1e-10).collect()}
    # warm frame: only two nodes, scaled 100x, arbitrary column names
    ws = spark.createDataFrame([(0, 40.0), (1, 25.0)],
                               "vertex long, weight double")
    warm = {r["node"]: r["rank"]
            for r in graph.pagerank(_edges(spark, pairs), "src",
                                    "dst", iterations=300, tol=1e-10,
                                    warm_start=ws).collect()}
    assert set(warm) == set(plain)
    for v in plain:
        assert warm[v] == pytest.approx(plain[v], abs=1e-8)


def test_warm_start_duplicate_seed_rows_sum_not_fan_out(spark):
    """r12 ADVICE: duplicate node rows in the seed must aggregate
    (sum), not fan the node out through the init join — a fanned-out
    node would carry multiplied rank rows every iteration."""
    pairs = [(0, 1), (1, 2), (2, 0)]
    dup = spark.createDataFrame([(0, 0.3), (0, 0.3), (1, 0.2),
                                 (2, 0.2)], "node long, rank double")
    merged = spark.createDataFrame([(0, 0.6), (1, 0.2), (2, 0.2)],
                                   "node long, rank double")
    out_dup = graph.pagerank(_edges(spark, pairs), "src", "dst",
                             iterations=2, warm_start=dup)
    out_merged = graph.pagerank(_edges(spark, pairs), "src", "dst",
                                iterations=2, warm_start=merged)
    d = {r["node"]: r["rank"] for r in out_dup.collect()}
    m = {r["node"]: r["rank"] for r in out_merged.collect()}
    assert len(d) == 3  # exactly one rank row per node
    for v in m:
        assert d[v] == pytest.approx(m[v], abs=1e-12)


def test_warm_start_nonpositive_total_mass_raises(spark):
    """r12 ADVICE: a seed summing to zero (or negative) over the
    graph's nodes has no valid renormalization — fail loudly instead
    of minting NULL/inf ranks."""
    pairs = [(0, 1), (1, 0)]
    for ranks in ([(0, 0.0), (1, 0.0)], [(0, 1.0), (1, -3.0)]):
        ws = spark.createDataFrame(ranks, "node long, rank double")
        with pytest.raises(ValueError, match="warm_start"):
            graph.pagerank(_edges(spark, pairs), "src", "dst",
                           iterations=1, warm_start=ws)


def _personalized_reference(pairs, sv, iterations, d=0.85,
                            redistribute_dangling=False):
    """Python twin of the personalized recurrence: base = (1−d)·s(v),
    dangling mass re-enters per s(v)."""
    nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    outdeg = {}
    for u, _ in pairs:
        outdeg[u] = outdeg.get(u, 0) + 1
    tot = sum(sv.get(v, 0.0) for v in nodes)
    s = {v: sv.get(v, 0.0) / tot for v in nodes}
    rank = {v: 1.0 / len(nodes) for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0.0 for v in nodes}
        for u, v in pairs:
            contrib[v] += rank[u] / outdeg[u]
        dmass = (sum(rank[v] for v in nodes if v not in outdeg)
                 if redistribute_dangling else 0.0)
        rank = {v: (1 - d) * s[v] + d * (contrib[v] + dmass * s[v])
                for v in nodes}
    return rank


def _seed(spark, rows):
    return spark.createDataFrame(rows, "node long, w double")


def test_personalized_uniform_seed_matches_standard(spark):
    """A seed uniform over all nodes IS the standard teleport — the
    personalized run must equal plain PageRank exactly."""
    pairs = [(i, (i * 5 + 2) % 13) for i in range(13)]
    pairs += [(i, (i * 3 + 1) % 13) for i in range(13)]
    pairs = [(a, b) for a, b in pairs if a != b]
    plain = {r["node"]: r["rank"]
             for r in graph.pagerank(_edges(spark, pairs), "src",
                                     "dst", iterations=4).collect()}
    seed = _seed(spark, [(v, 3.0) for v in plain])
    pers = {r["node"]: r["rank"]
            for r in graph.pagerank(_edges(spark, pairs), "src",
                                    "dst", iterations=4,
                                    personalize=seed).collect()}
    for v in plain:
        assert pers[v] == pytest.approx(plain[v], abs=1e-12)


def test_personalized_matches_python_reference(spark):
    """Skewed seed over a small graph, checked against the python
    twin, with and without dangling redistribution."""
    pairs = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0), (0, 4)]  # 4 dangles
    sv = {0: 5.0, 2: 1.0}
    for rd in (False, True):
        ref = _personalized_reference(pairs, sv, 4,
                                      redistribute_dangling=rd)
        out = {r["node"]: r["rank"]
               for r in graph.pagerank(
                   _edges(spark, pairs), "src", "dst", iterations=4,
                   personalize=_seed(spark, list(sv.items())),
                   redistribute_dangling=rd).collect()}
        assert set(out) == set(ref)
        for v in ref:
            assert out[v] == pytest.approx(ref[v], abs=1e-12), rd


def test_personalized_dangling_redistribution_conserves_mass(spark):
    """With redistribute_dangling the personalized run keeps total
    mass at exactly 1 on a dangling-heavy graph."""
    pairs = [(0, 1), (0, 2), (3, 2)]  # 1 and 2 dangle
    out = graph.pagerank(_edges(spark, pairs), "src", "dst",
                         iterations=6,
                         personalize=_seed(spark, [(0, 1.0), (3, 1.0)]),
                         redistribute_dangling=True)
    total = out.agg(F.sum("rank")).first()[0]
    assert total == pytest.approx(1.0, abs=1e-9)


def test_personalized_seed_hygiene(spark):
    """Duplicate seed rows sum; NULL/non-positive weights drop;
    weights on nodes absent from the graph are ignored — the result
    equals the clean in-graph seed."""
    pairs = [(0, 1), (1, 2), (2, 0)]
    messy = spark.createDataFrame(
        [(0, 2.0), (0, 1.0), (1, None), (2, -4.0), (99, 7.0)],
        "node long, w double")
    clean = _seed(spark, [(0, 3.0)])
    a = {r["node"]: r["rank"]
         for r in graph.pagerank(_edges(spark, pairs), "src", "dst",
                                 iterations=3,
                                 personalize=messy).collect()}
    b = {r["node"]: r["rank"]
         for r in graph.pagerank(_edges(spark, pairs), "src", "dst",
                                 iterations=3,
                                 personalize=clean).collect()}
    assert len(a) == 3
    for v in b:
        assert a[v] == pytest.approx(b[v], abs=1e-12)


def test_personalized_no_positive_in_graph_mass_raises(spark):
    """A seed whose only positive weights sit on nodes outside the
    graph leaves nothing to teleport to — loud failure."""
    pairs = [(0, 1), (1, 0)]
    with pytest.raises(ValueError, match="personalize"):
        graph.pagerank(_edges(spark, pairs), "src", "dst",
                       iterations=1,
                       personalize=_seed(spark, [(99, 1.0)]))


def test_personalized_composes_with_weight_warm_and_tol(spark):
    """personalize + weight_col + warm_start + tol reach the same
    personalized-weighted fixed point as the cold run, faster."""
    triples = [(i, (i * 5 + 2) % 19, float(1 + i % 3))
               for i in range(19)]
    triples += [(i, (i * 7 + 1) % 19, 1.0) for i in range(19)]
    triples = [(a, b, w) for a, b, w in triples if a != b]
    e = _wedges(spark, triples)
    seed = _seed(spark, [(0, 1.0), (7, 2.0)])
    st_cold, st_warm = LoopStats(), LoopStats()
    cold = {r["node"]: r["rank"]
            for r in graph.pagerank(e, "src", "dst", iterations=200,
                                    tol=1e-9, weight_col="w",
                                    personalize=seed,
                                    stats=st_cold).collect()}
    ws = spark.createDataFrame(list(cold.items()),
                               "node long, rank double")
    warm = {r["node"]: r["rank"]
            for r in graph.pagerank(e, "src", "dst", iterations=200,
                                    tol=1e-9, weight_col="w",
                                    personalize=seed,
                                    warm_start=ws,
                                    stats=st_warm).collect()}
    assert st_warm.rounds < st_cold.rounds
    for v in cold:
        assert warm[v] == pytest.approx(cold[v], abs=1e-8)


def _hits_reference(pairs, iterations):
    """Python twin of Kleinberg's recurrence with L2 normalization
    after each half-step."""
    import math

    nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    h = {v: 1.0 for v in nodes}
    a = {v: 0.0 for v in nodes}
    for _ in range(iterations):
        a = {v: 0.0 for v in nodes}
        for u, v in pairs:
            a[v] += h[u]
        z = math.sqrt(sum(x * x for x in a.values()))
        a = {v: x / z for v, x in a.items()}
        h = {v: 0.0 for v in nodes}
        for u, v in pairs:
            h[u] += a[v]
        z = math.sqrt(sum(x * x for x in h.values()))
        h = {v: x / z for v, x in h.items()}
    return h, a


def test_hits_directory_and_popular_page(spark):
    """0 links to 1/2/3 (a directory page), 4 also links to 1: node 0
    must be the top hub, node 1 the top authority; python-reference
    checked exactly."""
    pairs = [(0, 1), (0, 2), (0, 3), (4, 1)]
    out = {r["node"]: (r["hub"], r["authority"])
           for r in graph.hits(_edges(spark, pairs), "src", "dst",
                               iterations=3).collect()}
    h, a = _hits_reference(pairs, 3)
    assert set(out) == set(h)
    for v in h:
        assert out[v][0] == pytest.approx(h[v], abs=1e-12)
        assert out[v][1] == pytest.approx(a[v], abs=1e-12)
    assert max(out, key=lambda v: out[v][0]) == 0   # best hub
    assert max(out, key=lambda v: out[v][1]) == 1   # best authority


def test_hits_matches_python_reference_on_denser_graph(spark):
    pairs = [(i, (i * 5 + 2) % 11) for i in range(11)]
    pairs += [(i, (i * 3 + 1) % 11) for i in range(11)]
    pairs = [(a_, b) for a_, b in pairs if a_ != b]
    out = {r["node"]: (r["hub"], r["authority"])
           for r in graph.hits(_edges(spark, pairs), "src", "dst",
                               iterations=4).collect()}
    h, a = _hits_reference(pairs, 4)
    for v in h:
        assert out[v][0] == pytest.approx(h[v], abs=1e-10)
        assert out[v][1] == pytest.approx(a[v], abs=1e-10)


def test_hits_scores_are_l2_normalized(spark):
    pairs = [(0, 1), (1, 2), (2, 0), (3, 1)]
    out = graph.hits(_edges(spark, pairs), "src", "dst", iterations=5)
    row = out.agg(F.sum(F.col("hub") * F.col("hub")).alias("h2"),
                  F.sum(F.col("authority") * F.col("authority"))
                  .alias("a2")).first()
    assert row["h2"] == pytest.approx(1.0, abs=1e-9)
    assert row["a2"] == pytest.approx(1.0, abs=1e-9)


def test_hits_null_edges_and_empty_graph(spark):
    e = spark.createDataFrame([(0, 1), (None, 2), (1, None)],
                              "src long, dst long")
    out = {r["node"] for r in graph.hits(e, "src", "dst",
                                         iterations=2).collect()}
    assert out == {0, 1}  # NULL-sided edges mint no phantom nodes
    empty = spark.createDataFrame([], "src long, dst long")
    assert graph.hits(empty, "src", "dst", iterations=1).count() == 0


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _pair = st.tuples(st.integers(0, 5), st.integers(0, 5))

    @settings(max_examples=10, deadline=None)
    @given(st.lists(_pair, min_size=1, max_size=15))
    def test_pagerank_matches_python_reference(pairs):
        spark = _hyp_spark[0]
        exp = _reference(pairs, iterations=4)
        out = {r["node"]: r["rank"]
               for r in graph.pagerank(_edges(spark, pairs),
                                       "src", "dst",
                                       iterations=4).collect()}
        assert set(out) == set(exp)
        for v, r in exp.items():
            assert out[v] == pytest.approx(r, abs=1e-10)

    @settings(max_examples=10, deadline=None)
    @given(st.lists(_pair, min_size=1, max_size=15))
    def test_dangling_redistribution_matches_python_reference(pairs):
        """Random small graphs routinely contain dangling nodes (any
        dst that never appears as src) — the redistribution recurrence
        must match the reference fold node by node, and conserve mass
        to 1 exactly (the property the flag exists for)."""
        spark = _hyp_spark[0]
        exp = _reference(pairs, iterations=4, redistribute_dangling=True)
        res = graph.pagerank(_edges(spark, pairs), "src", "dst",
                             iterations=4, redistribute_dangling=True)
        out = {r["node"]: r["rank"] for r in res.collect()}
        assert set(out) == set(exp)
        for v, r in exp.items():
            assert out[v] == pytest.approx(r, abs=1e-10)
        assert sum(out.values()) == pytest.approx(1.0, abs=1e-9)

    _hyp_spark = [None]

    @pytest.fixture(autouse=True)
    def _capture_spark(spark):
        _hyp_spark[0] = spark
        yield

except ImportError:
    pass


# ---------------------------------------------------------------------------
# label_propagation
# ---------------------------------------------------------------------------


def _lpa_reference(pairs, iterations):
    """Python reference: synchronous LPA, undirected distinct
    neighbors, min-label tie-break."""
    nbr: dict = {}
    for u, v in pairs:
        if u is None or v is None or u == v:
            continue
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    label = {v: v for v in nbr}
    for _ in range(iterations):
        nxt = {}
        for v, ns in nbr.items():
            counts: dict = {}
            for u in ns:
                counts[label[u]] = counts.get(label[u], 0) + 1
            nxt[v] = min(counts, key=lambda l: (-counts[l], l))
        label = nxt
    return label


def test_lpa_two_cliques_converge_to_two_communities(spark):
    """Two 4-cliques joined by one bridge edge: LPA finds both
    communities, each labeled by its minimum member."""
    clique1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    clique2 = [(a, b) for a in range(10, 14) for b in range(10, 14)
               if a < b]
    pairs = clique1 + clique2 + [(3, 10)]
    out = {r["node"]: r["community"]
           for r in graph.label_propagation(
               _edges(spark, pairs), "src", "dst",
               iterations=5).collect()}
    assert out == _lpa_reference(pairs, 5)
    assert {out[v] for v in range(4)} == {0}
    assert {out[v] for v in range(10, 14)} == {10}


def test_lpa_matches_python_reference_on_functional_graph(spark):
    """The host-fixture-shaped deterministic graph, several K."""
    pairs = [(d % 20, (d * 7 + 1) % 20) for d in range(200)] + \
            [(d % 20, (d * 3 + 2) % 20) for d in range(200)]
    for k in (1, 2, 5):
        out = {r["node"]: r["community"]
               for r in graph.label_propagation(
                   _edges(spark, pairs), "src", "dst",
                   iterations=k).collect()}
        assert out == _lpa_reference(pairs, k), f"k={k}"


def test_lpa_drops_nulls_self_loops_and_parallel_edges(spark):
    """NULL endpoints and self-loops vanish; a parallel duplicate
    edge must not double-count its neighbor's label vote."""
    pairs = [(1, 2), (1, 2), (2, 1), (1, 1), (2, 3), (3, 4)]
    df = spark.createDataFrame(
        [(None, 2), (2, None)], "src long, dst long").union(
        _edges(spark, pairs))
    out = {r["node"]: r["community"]
           for r in graph.label_propagation(df, "src", "dst",
                                            iterations=3).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out == _lpa_reference(pairs, 3)


def test_lpa_invalid_iterations(spark):
    with pytest.raises(ValueError, match="iterations"):
        graph.label_propagation(_edges(spark, [(1, 2)]), "src", "dst",
                                iterations=0)


# ---------------------------------------------------------------------------
# cocitation / bibliographic coupling
# ---------------------------------------------------------------------------


def _cocite_reference(pairs, mode="cocitation", min_common=1,
                      cap=None):
    ins: dict = {}
    for u, v in pairs:
        if u is None or v is None or u == v:
            continue
        lk, it = (u, v) if mode == "cocitation" else (v, u)
        ins.setdefault(lk, set()).add(it)
    deg: dict = {}
    for its in ins.values():
        for it in its:
            deg[it] = deg.get(it, 0) + 1
    out = {}
    for lk, its in ins.items():
        if cap is not None and len(its) > cap:
            continue
        its = sorted(its)
        for i in range(len(its)):
            for j in range(i + 1, len(its)):
                k = (its[i], its[j])
                out[k] = out.get(k, 0) + 1
    return {k: (c, c / (deg[k[0]] + deg[k[1]] - c))
            for k, c in out.items() if c >= min_common}


def test_cocitation_hand_example(spark):
    """Linkers 100,101 both cite 1 and 2; 102 cites 2 and 3."""
    pairs = [(100, 1), (100, 2), (101, 1), (101, 2), (102, 2), (102, 3)]
    rows = graph.cocitation(_edges(spark, pairs), "src", "dst").collect()
    got = {(r["node_a"], r["node_b"]): (r["common"], r["jaccard"])
           for r in rows}
    # deg: 1->2, 2->3, 3->1
    assert got == {(1, 2): (2, 2 / (2 + 3 - 2)),
                   (2, 3): (1, 1 / (3 + 1 - 1))}


def test_cocitation_matches_reference_and_coupling_transpose(spark):
    pairs = [(d % 20, (d * 7 + 1) % 20) for d in range(200)] + \
            [(d % 20, (d * 3 + 2) % 20) for d in range(200)]
    for mode in ("cocitation", "coupling"):
        rows = graph.cocitation(_edges(spark, pairs), "src", "dst",
                                mode=mode, min_common=2).collect()
        got = {(r["node_a"], r["node_b"]): (r["common"], r["jaccard"])
               for r in rows}
        ref = _cocite_reference(pairs, mode=mode, min_common=2)
        assert set(got) == set(ref)
        for k in ref:
            assert got[k][0] == ref[k][0]
            assert abs(got[k][1] - ref[k][1]) < 1e-12


def test_cocitation_linker_degree_cap_excludes_hub(spark):
    """A hub citing everything is cut from pair generation, but the
    TRUE degrees (pre-cap) still feed the Jaccard."""
    hub = [(999, v) for v in range(1, 8)]
    rest = [(100, 1), (100, 2), (101, 1), (101, 2)]
    pairs = hub + rest
    rows = graph.cocitation(_edges(spark, pairs), "src", "dst",
                            max_linker_degree=5).collect()
    got = {(r["node_a"], r["node_b"]): (r["common"], r["jaccard"])
           for r in rows}
    assert got == _cocite_reference(pairs, cap=5)
    # only the 100/101 pair survives; degrees include the hub's cites
    assert got == {(1, 2): (2, 2 / (3 + 3 - 2))}


def test_cocitation_parallel_edges_and_self_loops_ignored(spark):
    pairs = [(100, 1), (100, 1), (100, 2), (1, 1)]
    rows = graph.cocitation(_edges(spark, pairs), "src", "dst").collect()
    assert {(r["node_a"], r["node_b"], r["common"]) for r in rows} \
        == {(1, 2, 1)}


def test_cocitation_invalid_args(spark):
    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError, match="mode"):
        graph.cocitation(e, "src", "dst", mode="nope")
    with pytest.raises(ValueError, match="min_common"):
        graph.cocitation(e, "src", "dst", min_common=0)


# ---------------------------------------------------------------------------
# k_core
# ---------------------------------------------------------------------------


def _kcore_reference(pairs, k, rounds=None):
    nbr: dict = {}
    for u, v in pairs:
        if u is None or v is None or u == v:
            continue
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    alive = set(nbr)
    r = 0
    while rounds is None or r < rounds:
        nxt = {v for v in alive
               if sum(1 for u in nbr[v] if u in alive) >= k}
        r += 1
        if nxt == alive:
            break
        alive = nxt
    return {v: sum(1 for u in nbr[v] if u in alive) for v in alive}


def test_kcore_clique_plus_tail(spark):
    """A 4-clique with a pendant path: k=3 keeps exactly the clique
    (degree 3 each); the path peels away over several rounds."""
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    tail = [(3, 10), (10, 11), (11, 12)]
    pairs = clique + tail
    got = {r["node"]: r["degree"]
           for r in graph.k_core(_edges(spark, pairs), "src", "dst",
                                 k=3, rounds=8).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # k=2: the open path still peels (12 then 11 then 10), clique stays
    got2 = {r["node"]: r["degree"]
            for r in graph.k_core(_edges(spark, pairs), "src", "dst",
                                  k=2, rounds=8).collect()}
    assert got2 == _kcore_reference(pairs, 2)
    assert set(got2) == {0, 1, 2, 3}


def test_kcore_matches_reference_on_functional_graph(spark):
    pairs = [(d % 20, (d * 7 + 1) % 20) for d in range(200)] + \
            [(d % 20, (d * 3 + 2) % 20) for d in range(200)]
    for k in (2, 4, 6):
        got = {r["node"]: r["degree"]
               for r in graph.k_core(_edges(spark, pairs), "src", "dst",
                                     k=k, rounds=8).collect()}
        assert got == _kcore_reference(pairs, k), f"k={k}"


def test_kcore_fixed_rounds_truncation_semantics(spark):
    """A long path at k=2 peels one node per END per round; after 2
    rounds exactly the middle survives — the fixed-rounds contract
    the oracle checks."""
    path = [(i, i + 1) for i in range(9)]  # nodes 0..9
    got = {r["node"] for r in
           graph.k_core(_edges(spark, path), "src", "dst",
                        k=2, rounds=2).collect()}
    assert got == set(_kcore_reference(path, 2, rounds=2))
    assert got == set(range(2, 8))
    # until_stable reaches the empty true 2-core within the cap
    stable = graph.k_core(_edges(spark, path), "src", "dst",
                          k=2, rounds=50, until_stable=True).collect()
    assert stable == []


def test_kcore_drops_nulls_self_loops_parallel(spark):
    pairs = [(1, 2), (2, 1), (1, 1), (2, 3), (1, 3)]
    df = spark.createDataFrame([(None, 1)], "src long, dst long") \
        .union(_edges(spark, pairs))
    got = {r["node"]: r["degree"]
           for r in graph.k_core(df, "src", "dst", k=2,
                                 rounds=4).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_invalid_args(spark):
    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError, match="k must"):
        graph.k_core(e, "src", "dst", k=0)
    with pytest.raises(ValueError, match="rounds"):
        graph.k_core(e, "src", "dst", k=2, rounds=0)
    with pytest.raises(ValueError, match="until_stable"):
        graph.k_core(e, "src", "dst", k=2, materialize=False,
                     until_stable=True)


def test_kcore_isolated_survivor_reports_degree_zero(spark):
    """Self-review regression pin: a hub kept at round 1 (its count
    over the PRE-round survivors cleared k) whose leaves all died
    must appear with recounted degree 0 — not vanish."""
    pairs = [(100, i) for i in range(1, 4)]  # hub + 3 degree-1 leaves
    got = {r["node"]: r["degree"]
           for r in graph.k_core(_edges(spark, pairs), "src", "dst",
                                 k=2, rounds=1).collect()}
    assert got == {100: 0}
    assert got == _kcore_reference(pairs, 2, rounds=1)
    # one more round peels the now-isolated hub
    assert graph.k_core(_edges(spark, pairs), "src", "dst",
                        k=2, rounds=2).collect() == []


# ---------------------------------------------------------------------------
# hypothesis random-graph sweeps: structural ops vs python references
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _hyp_spark = [None]

    @pytest.fixture(autouse=True)
    def _capture_spark(spark):
        _hyp_spark[0] = spark
        yield

    _edge = st.tuples(st.integers(0, 12), st.integers(0, 12))
    _graphs = st.lists(_edge, min_size=1, max_size=60)

    @settings(max_examples=10, deadline=None)
    @given(_graphs)
    def test_lpa_random_graphs_match_reference(pairs):
        spark = _hyp_spark[0]
        for k in (1, 3):
            got = {r["node"]: r["community"]
                   for r in graph.label_propagation(
                       _edges(spark, pairs), "src", "dst",
                       iterations=k).collect()}
            assert got == _lpa_reference(pairs, k), (pairs, k)

    @settings(max_examples=10, deadline=None)
    @given(_graphs)
    def test_cocitation_random_graphs_match_reference(pairs):
        spark = _hyp_spark[0]
        rows = graph.cocitation(_edges(spark, pairs), "src", "dst",
                                max_linker_degree=4).collect()
        got = {(r["node_a"], r["node_b"]): (r["common"], r["jaccard"])
               for r in rows}
        ref = _cocite_reference(pairs, cap=4)
        assert set(got) == set(ref), pairs
        for key in ref:
            assert got[key][0] == ref[key][0], (pairs, key)
            assert abs(got[key][1] - ref[key][1]) < 1e-12, (pairs, key)

    @settings(max_examples=10, deadline=None)
    @given(_graphs)
    def test_kcore_random_graphs_match_reference(pairs):
        spark = _hyp_spark[0]
        # fixed-rounds truncation AND the stable fixpoint
        for k, rounds, stable in ((2, 2, False), (2, 30, True),
                                  (3, 30, True)):
            got = {r["node"]: r["degree"]
                   for r in graph.k_core(
                       _edges(spark, pairs), "src", "dst", k=k,
                       rounds=rounds, until_stable=stable).collect()}
            ref = _kcore_reference(pairs, k,
                                   rounds=None if stable else rounds)
            assert got == ref, (pairs, k, rounds, stable)

except ImportError:
    pass


# ---------------------------------------------------------------------------
# triangle_count
# ---------------------------------------------------------------------------


def _triangle_reference(pairs):
    nbr: dict = {}
    for u, v in pairs:
        if u is None or v is None or u == v:
            continue
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    tri = {v: 0 for v in nbr}
    for v in nbr:
        for a in nbr[v]:
            for b in nbr[v]:
                if a < b and b in nbr[a]:
                    tri[v] += 1
    out = {}
    for v in nbr:
        d = len(nbr[v])
        c = 2.0 * tri[v] / (d * (d - 1)) if d >= 2 else 0.0
        out[v] = (d, tri[v], c)
    return out


def test_triangle_hand_cases(spark):
    """A triangle glued to a square: triangle corners count 1, the
    square contributes none; the shared node's coefficient reflects
    its degree."""
    pairs = [(0, 1), (1, 2), (0, 2),            # triangle
             (2, 3), (3, 4), (4, 5), (5, 2)]    # square sharing node 2
    got = {r["node"]: (r["degree"], r["triangles"], r["clustering"])
           for r in graph.triangle_count(
               _edges(spark, pairs), "src", "dst").collect()}
    assert got == _triangle_reference(pairs)
    assert got[0] == (2, 1, 1.0)
    assert got[2][1] == 1 and got[2][0] == 4
    assert got[3] == (2, 0, 0.0)
    # K4: every node in 3 triangles, coefficient 1
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got4 = {r["node"]: (r["degree"], r["triangles"], r["clustering"])
            for r in graph.triangle_count(
                _edges(spark, k4), "src", "dst").collect()}
    assert got4 == {v: (3, 3, 1.0) for v in range(4)}


def test_triangle_skew_hub_and_noise(spark):
    """A hub wired to 30 leaves plus one closing edge: exactly one
    triangle; parallel/self/NULL edges ignored. The orientation makes
    the LEAVES claim the wedges, not the hub."""
    pairs = [(999, v) for v in range(30)] + [(0, 1), (0, 1), (1, 1)]
    df = spark.createDataFrame([(None, 0)], "src long, dst long") \
        .union(_edges(spark, pairs))
    got = {r["node"]: (r["degree"], r["triangles"], r["clustering"])
           for r in graph.triangle_count(df, "src", "dst").collect()}
    assert got == _triangle_reference(pairs)
    assert got[999][1] == 1 and got[0][1] == 1 and got[1][1] == 1
    assert got[5] == (1, 0, 0.0)


try:
    from hypothesis import given as _g2, settings as _s2
    from hypothesis import strategies as _st2

    @_s2(max_examples=10, deadline=None)
    @_g2(_st2.lists(_st2.tuples(_st2.integers(0, 12),
                                _st2.integers(0, 12)),
                    min_size=1, max_size=60))
    def test_triangle_random_graphs_match_reference(pairs):
        spark = _hyp_spark[0]
        got = {r["node"]: (r["degree"], r["triangles"],
                           round(r["clustering"], 9))
               for r in graph.triangle_count(
                   _edges(spark, pairs), "src", "dst").collect()}
        ref = {v: (d, t, round(c, 9))
               for v, (d, t, c) in _triangle_reference(pairs).items()}
        assert got == ref, pairs

except ImportError:
    pass


# ---------------------------------------------------------------------------
# bounded-probe broadcast gate across the structural family
# (r13 VERDICT #1: pagerank's n<=1M auto-gate, threaded through
# hits / label_propagation / k_core / triangle_count / cocitation)
# ---------------------------------------------------------------------------

def _xplan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _gate_pairs():
    return [(i, (i + 1) % 6) for i in range(6)] + [(0, 2), (2, 4),
                                                   (1, 3)]


def test_structural_family_gate_off_plans_shuffle_join(spark):
    """With the gate explicitly OFF (the >1M page-scale path) and
    Spark's size-based auto-broadcast disabled, every iteration join
    in the family must plan as a shuffle join (SMJ/shuffled-hash) —
    proving the F.broadcast hint is really gone: a hint would force
    BroadcastHashJoin regardless of threshold, and at 90M nodes that
    build side is an OOM, not a slow plan. AQE may still convert at
    runtime from observed sizes — that is the design: the decision
    moves to the optimizer instead of being forced."""
    e = _edges(spark, _gate_pairs())
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plans = {
            "hits": _xplan(graph.hits(
                e, "src", "dst", iterations=1, materialize=False,
                broadcast_scores=False)),
            "lpa": _xplan(graph.label_propagation(
                e, "src", "dst", iterations=1, materialize=False,
                broadcast_labels=False)),
            "kcore": _xplan(graph.k_core(
                e, "src", "dst", k=2, rounds=1, materialize=False,
                broadcast_survivors=False)),
            "tri": _xplan(graph.triangle_count(
                e, "src", "dst", materialize=False,
                broadcast_degrees=False)),
            "coc": _xplan(graph.cocitation(
                e, "src", "dst", broadcast_degrees=False)),
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for name, p in plans.items():
        assert "BroadcastHashJoin" not in p, name
        assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p), name


def test_structural_family_gate_auto_broadcasts_small_graphs(spark):
    """The default (None) gate probes the bounded node count and
    KEEPS the broadcast on host-scale graphs — the fixture passes
    n <= 1M, so the hinted BroadcastHashJoin shape survives (the
    r13 stress showed the hint costs nothing where it is right)."""
    e = _edges(spark, _gate_pairs())
    assert "BroadcastHashJoin" in _xplan(graph.hits(
        e, "src", "dst", iterations=1, materialize=False))
    assert "BroadcastHashJoin" in _xplan(graph.label_propagation(
        e, "src", "dst", iterations=1, materialize=False))
    assert "BroadcastHashJoin" in _xplan(graph.cocitation(
        e, "src", "dst"))


def test_structural_family_gate_off_results_unchanged(spark):
    """The gate changes the physical join strategy only — gated-off
    results must equal the broadcast results row for row."""
    e = _edges(spark, _gate_pairs())
    for on, off in (
        (graph.hits(e, "src", "dst", iterations=3, hub_digits=9,
                    broadcast_scores=True),
         graph.hits(e, "src", "dst", iterations=3, hub_digits=9,
                    broadcast_scores=False)),
        (graph.label_propagation(e, "src", "dst", iterations=3,
                                 broadcast_labels=True),
         graph.label_propagation(e, "src", "dst", iterations=3,
                                 broadcast_labels=False)),
        (graph.k_core(e, "src", "dst", k=2, rounds=4,
                      broadcast_survivors=True),
         graph.k_core(e, "src", "dst", k=2, rounds=4,
                      broadcast_survivors=False)),
        (graph.triangle_count(e, "src", "dst", coeff_digits=9,
                              broadcast_degrees=True),
         graph.triangle_count(e, "src", "dst", coeff_digits=9,
                              broadcast_degrees=False)),
        (graph.cocitation(e, "src", "dst", jaccard_digits=9,
                          broadcast_degrees=True),
         graph.cocitation(e, "src", "dst", jaccard_digits=9,
                          broadcast_degrees=False)),
    ):
        rows_on = {tuple(r) for r in on.collect()}
        rows_off = {tuple(r) for r in off.collect()}
        assert rows_on == rows_off


# ---------------------------------------------------------------------------
# core_number — full core decomposition via the iterated H-index
# (Lü et al. 2016; fixed point == coreness)
# ---------------------------------------------------------------------------

def _coreness_reference(pairs):
    """Exact coreness by min-degree peeling (Batagelj-Zaversnik
    semantics): remove the minimum-degree node, its core number is
    the running max of removal-time degrees."""
    adj = {}
    for u, v in pairs:
        if u is None or v is None or u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = {v: len(ns) for v, ns in adj.items()}
    core, k = {}, 0
    remaining = set(adj)
    while remaining:
        v = min(remaining, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        remaining.remove(v)
        for u in adj[v]:
            if u in remaining:
                deg[u] -= 1
    return core


def test_coreness_hand_example(spark):
    """Two triangles sharing a node plus a pendant: every triangle
    node has coreness 2, the pendant 1."""
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (5, 6)]
    got = {r["node"]: r["core"]
           for r in graph.core_number(_edges(spark, pairs), "src",
                                      "dst", rounds=8).collect()}
    assert got == {1: 2, 2: 2, 3: 2, 4: 2, 5: 2, 6: 1}
    assert got == _coreness_reference(pairs)


def test_coreness_matches_kcore_membership(spark):
    """coreness >= k  ⇔  k-core membership — the decomposition is
    the feature-column form of k_core's filter (run to the fixpoint
    on both sides)."""
    pairs = ([(i, j) for i in range(5) for j in range(i + 1, 5)]  # K5
             + [(4, 10), (10, 11), (11, 4),                        # tri
                (11, 12), (12, 13)])                               # tail
    e = _edges(spark, pairs)
    core = {r["node"]: r["core"]
            for r in graph.core_number(e, "src", "dst", rounds=20,
                                       until_stable=True).collect()}
    for k in (1, 2, 3, 4):
        members = {r["node"]
                   for r in graph.k_core(e, "src", "dst", k=k,
                                         rounds=20,
                                         until_stable=True).collect()}
        assert members == {v for v, c in core.items() if c >= k}, k


def test_coreness_drops_nulls_self_loops_and_parallel_edges(spark):
    pairs = [(1, 2), (1, 2), (2, 2), (2, 3), (3, 1)]
    df = spark.createDataFrame([(None, 1)], "src long, dst long") \
        .union(_edges(spark, pairs))
    got = {r["node"]: r["core"]
           for r in graph.core_number(df, "src", "dst",
                                      rounds=6).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_coreness_fixed_rounds_is_monotone_upper_bound(spark):
    """The H-index iteration is monotone non-increasing and starts at
    degree, so ANY fixed-rounds read is an upper bound on the true
    coreness and rounds r+1 never exceeds rounds r anywhere."""
    pairs = [(i, (i + 1) % 8) for i in range(8)] + \
        [(0, 4), (2, 6), (1, 5)]
    e = _edges(spark, pairs)
    ref = _coreness_reference(pairs)
    prev = None
    for r in (1, 2, 4):
        got = {row["node"]: row["core"]
               for row in graph.core_number(e, "src", "dst",
                                            rounds=r).collect()}
        for v, c in got.items():
            assert c >= ref[v], (r, v)
            if prev is not None:
                assert c <= prev[v], (r, v)
        prev = got


def test_coreness_invalid_args(spark):
    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError):
        graph.core_number(e, "src", "dst", rounds=0)
    with pytest.raises(ValueError):
        graph.core_number(e, "src", "dst", until_stable=True,
                          materialize=False)


try:
    from hypothesis import given as _g3, settings as _s3
    from hypothesis import strategies as _st3

    @_s3(max_examples=8, deadline=None)
    @_g3(_st3.lists(_st3.tuples(_st3.integers(0, 11),
                                _st3.integers(0, 11)),
                    min_size=1, max_size=50))
    def test_coreness_random_graphs_match_reference(pairs):
        spark = _hyp_spark[0]
        got = {r["node"]: r["core"]
               for r in graph.core_number(
                   _edges(spark, pairs), "src", "dst", rounds=30,
                   until_stable=True).collect()}
        assert got == _coreness_reference(pairs), pairs

except ImportError:
    pass


def test_coreness_degenerate_graphs_return_empty(spark):
    """Empty / all-NULL / all-self-loop edge lists have no graph
    nodes — the decomposition returns the empty frame (the
    k_core/LPA convention), and the until_stable sum probe handles
    the empty-aggregate NULL without looping."""
    empty = spark.createDataFrame([], "src long, dst long")
    assert graph.core_number(empty, "src", "dst", rounds=2).count() == 0
    assert graph.core_number(empty, "src", "dst", rounds=3,
                             until_stable=True).count() == 0
    nulls = spark.createDataFrame([(None, 1), (2, None)],
                                  "src long, dst long")
    assert graph.core_number(nulls, "src", "dst", rounds=2).count() == 0
    loops = spark.createDataFrame([(1, 1)], "src long, dst long")
    assert graph.core_number(loops, "src", "dst", rounds=2).count() == 0


def test_coreness_window_is_node_keyed_never_global(spark):
    """The H-index ranking window partitions BY NODE (one adjacency
    list per partition, degree-bounded) — a global window would
    funnel the whole graph through one partition at page scale."""
    e = _edges(spark, _gate_pairs())
    p = _xplan(graph.core_number(e, "src", "dst", rounds=2,
                                 materialize=False))
    assert "Exchange SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


# ---------------------------------------------------------------------------
# weighted HITS (hits(weight_col=))
# ---------------------------------------------------------------------------

def _hits_weighted_reference(triples, iterations):
    """Python twin of the weighted recurrence: score × w sums, L2
    normalization after each half-step."""
    import math

    nodes = sorted({u for u, _, _ in triples}
                   | {v for _, v, _ in triples})
    h = {v: 1.0 for v in nodes}
    a = {v: 0.0 for v in nodes}
    for _ in range(iterations):
        a = {v: 0.0 for v in nodes}
        for u, v, w in triples:
            a[v] += h[u] * w
        z = math.sqrt(sum(x * x for x in a.values()))
        a = {v: x / z for v, x in a.items()}
        h = {v: 0.0 for v in nodes}
        for u, v, w in triples:
            h[u] += a[v] * w
        z = math.sqrt(sum(x * x for x in h.values()))
        h = {v: x / z for v, x in h.items()}
    return h, a


def _wedges(spark, triples):
    return spark.createDataFrame(triples,
                                 "src long, dst long, w double")


def test_hits_weighted_matches_python_reference(spark):
    """A heavy edge must pull authority toward its target: 0 links to
    1 (w=10) and to 2 (w=1); 3 links to 2 (w=1). Unweighted, 1 and 2
    tie on in-degree; weighted, 1 dominates."""
    triples = [(0, 1, 10.0), (0, 2, 1.0), (3, 2, 1.0), (2, 0, 2.0)]
    out = {r["node"]: (r["hub"], r["authority"])
           for r in graph.hits(_wedges(spark, triples), "src", "dst",
                               iterations=4, weight_col="w").collect()}
    h, a = _hits_weighted_reference(triples, 4)
    for v in h:
        assert out[v][0] == pytest.approx(h[v], abs=1e-10)
        assert out[v][1] == pytest.approx(a[v], abs=1e-10)
    assert max(out, key=lambda v: out[v][1]) == 1


def test_hits_constant_weight_reduces_to_unweighted(spark):
    """A constant weight scales every raw sum by the same factor,
    which each L2 norm divides back out — weighted(c) == unweighted
    exactly."""
    pairs = [(i, (i * 5 + 2) % 11) for i in range(11)]
    pairs = [(a_, b) for a_, b in pairs if a_ != b]
    triples = [(a_, b, 3.0) for a_, b in pairs]
    plain = {r["node"]: (r["hub"], r["authority"])
             for r in graph.hits(_edges(spark, pairs), "src", "dst",
                                 iterations=4).collect()}
    wtd = {r["node"]: (r["hub"], r["authority"])
           for r in graph.hits(_wedges(spark, triples), "src", "dst",
                               iterations=4, weight_col="w").collect()}
    for v in plain:
        assert wtd[v][0] == pytest.approx(plain[v][0], abs=1e-12)
        assert wtd[v][1] == pytest.approx(plain[v][1], abs=1e-12)


def test_hits_weighted_drops_null_and_nonpositive_weights(spark):
    """NULL/zero/negative weights carry no mass — the edge drops
    entirely, as in weighted pagerank."""
    triples = [(0, 1, 1.0), (2, 1, None), (3, 1, 0.0), (4, 1, -2.0)]
    out = {r["node"] for r in
           graph.hits(_wedges(spark, triples), "src", "dst",
                      iterations=2, weight_col="w").collect()}
    assert out == {0, 1}  # dropped edges mint no phantom nodes


try:
    from hypothesis import given as _wg, settings as _ws
    from hypothesis import strategies as _wst

    @_ws(max_examples=8, deadline=None)
    @_wg(_wst.lists(_wst.tuples(_wst.integers(0, 9),
                                _wst.integers(0, 9),
                                _wst.sampled_from([0.5, 1.0, 2.0,
                                                   10.0])),
                    min_size=1, max_size=40))
    def test_hits_weighted_random_graphs_match_reference(triples):
        spark = _hyp_spark[0]
        triples = [(a, b, w) for a, b, w in triples if a != b]
        if not triples:
            return
        out = {r["node"]: (round(r["hub"], 9), round(r["authority"], 9))
               for r in graph.hits(_wedges(spark, triples), "src",
                                   "dst", iterations=3,
                                   weight_col="w").collect()}
        h, a = _hits_weighted_reference(triples, 3)
        ref = {v: (round(h[v], 9), round(a[v], 9)) for v in h}
        for v in ref:
            assert out[v][0] == pytest.approx(ref[v][0], abs=1e-9)
            assert out[v][1] == pytest.approx(ref[v][1], abs=1e-9)

except ImportError:
    pass


# ---------------------------------------------------------------------------
# until_stable convergence diagnostics + cap-hit escalation
# (r14 VERDICT #2: the peeling family previously returned a monotone
# upper bound SILENTLY when the rounds cap hit before the fixpoint)
# ---------------------------------------------------------------------------

def test_kcore_until_stable_cap_hit_signals(spark):
    """A 8-path at k=2 has an EMPTY 2-core but peels only one node
    per end per round — rounds=1 exhausts the cap with the survivor
    count still falling. Diagnostics must record the cap-hit, warn
    mode must warn, raise mode must raise; the silent default keeps
    the historical contract (monotone upper bound, no signal)."""
    import warnings
    e = _edges(spark, [(i, i + 1) for i in range(7)])
    st = LoopStats()
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # silent default: no warning
        out = graph.k_core(e, "src", "dst", k=2, rounds=1,
                           until_stable=True, stats=st).collect()
    assert len(out) > 0  # the unverified upper bound (supersets)
    assert (st.rounds, st.converged) == (1, False)
    with pytest.warns(RuntimeWarning, match="k_core.*rounds cap"):
        graph.k_core(e, "src", "dst", k=2, rounds=1,
                     until_stable=True, on_cap="warn").collect()
    st = LoopStats()
    with pytest.raises(RuntimeError, match="k_core.*rounds cap"):
        graph.k_core(e, "src", "dst", k=2, rounds=1,
                     until_stable=True, on_cap="raise", stats=st)
    # stats recorded even when the escalation raised
    assert (st.rounds, st.converged) == (1, False)
    with pytest.raises(ValueError, match="on_cap"):
        graph.k_core(e, "src", "dst", k=2, on_cap="explode")


def test_kcore_until_stable_fixpoint_stays_silent(spark):
    """A triangle at k=2 is ALREADY its own 2-core: the first probe
    verifies stability, every escalation mode stays quiet, and the
    diagnostics record the verified convergence."""
    import warnings
    e = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    st = LoopStats()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = graph.k_core(e, "src", "dst", k=2, rounds=5,
                           until_stable=True, on_cap="raise",
                           stats=st).collect()
    assert {r["node"] for r in out} == {0, 1, 2}
    assert (st.rounds, st.converged) == (1, True)
    # fixed-rounds runs record executed rounds, no probe => None
    graph.k_core(e, "src", "dst", k=2, rounds=3, stats=st).collect()
    assert (st.rounds, st.converged) == (3, None)


def test_core_number_until_stable_cap_hit_signals(spark):
    """P5's H-index iteration needs 2 value-changing rounds plus the
    verifying round (deg [1,2,2,2,1] -> [1,1,2,1,1] -> all-1):
    rounds=1 is a cap-hit (inflated coreness upper bound), rounds=8
    converges at executed=3 and stays silent under on_cap='raise'."""
    import warnings
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    st = LoopStats()
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # silent default
        got = {r["node"]: r["core"]
               for r in graph.core_number(e, "src", "dst", rounds=1,
                                          until_stable=True,
                                          stats=st).collect()}
    assert got[2] == 2  # the inflated middle value — the upper bound
    assert (st.rounds, st.converged) == (1, False)
    with pytest.warns(RuntimeWarning, match="core_number.*rounds cap"):
        graph.core_number(e, "src", "dst", rounds=1,
                          until_stable=True, on_cap="warn").collect()
    with pytest.raises(RuntimeError, match="core_number.*rounds cap"):
        graph.core_number(e, "src", "dst", rounds=1,
                          until_stable=True, on_cap="raise")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = {r["node"]: r["core"]
               for r in graph.core_number(e, "src", "dst", rounds=8,
                                          until_stable=True,
                                          on_cap="raise",
                                          stats=st).collect()}
    assert set(got.values()) == {1}  # the true P5 coreness
    assert (st.rounds, st.converged) == (3, True)
    with pytest.raises(ValueError, match="on_cap"):
        graph.core_number(e, "src", "dst", on_cap="loud")


# ---------------------------------------------------------------------------
# cocitation keep-set broadcast gate (r14 ADVICE medium): the
# max_linker_degree keep frame is LINKER-bounded — the item-side
# probe must never force its broadcast
# ---------------------------------------------------------------------------

def test_cocitation_keep_set_never_force_broadcast(spark):
    """With auto-broadcast disabled and the degree gate ON (auto or
    explicit), the max_linker_degree semi-join must plan WITHOUT a
    forced broadcast: the keep-set is linker-cardinality (90M on the
    docstring's page-scale shape) while the probe that enables the
    gate reads the ITEM count. The da/db degree joins keep the hint;
    only the semi-join ships unhinted (AQE converts small ones at
    runtime)."""
    e = _edges(spark, _gate_pairs())
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for flag in (None, True):
            p = _xplan(graph.cocitation(e, "src", "dst",
                                        max_linker_degree=5,
                                        broadcast_degrees=flag))
            semi = [ln for ln in p.splitlines() if "LeftSemi" in ln]
            assert semi, p  # the keep-set semi-join is in the plan
            assert all("BroadcastHashJoin" not in ln for ln in semi), p
            # the item-bounded degree joins still carry the hint
            assert "BroadcastHashJoin" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # and the capped results are unchanged by the gate setting
    on = {tuple(r) for r in graph.cocitation(
        e, "src", "dst", max_linker_degree=5, jaccard_digits=9,
        broadcast_degrees=True).collect()}
    off = {tuple(r) for r in graph.cocitation(
        e, "src", "dst", max_linker_degree=5, jaccard_digits=9,
        broadcast_degrees=False).collect()}
    assert on == off


def test_hits_explicit_gate_skips_probe_and_handles_empty(spark):
    """With the gate pinned explicitly the bounded count probe is
    skipped (r14 ADVICE low) — the cheap isEmpty check must still
    return the empty frame on an empty graph, both flag values."""
    empty = spark.createDataFrame([], "src long, dst long")
    for flag in (True, False):
        out = graph.hits(empty, "src", "dst", iterations=1,
                         materialize=False, broadcast_scores=flag)
        assert out.count() == 0
        assert out.columns == ["node", "hub", "authority"]


# ---------------------------------------------------------------------------
# SALSA — Lempel-Moran 2000 (HITS on the row/column-normalized
# adjacency; the anti-TKC authority signal)
# ---------------------------------------------------------------------------

def _salsa_reference(pairs, iters):
    """Python mirror of salsa(): distinct edges, h0 ≡ 1, per
    half-step degree-normalized sums with an L1 norm."""
    el = sorted({(a, b) for a, b in pairs
                 if a is not None and b is not None and a != b})
    od, idg = {}, {}
    for a, b in el:
        od[a] = od.get(a, 0) + 1
        idg[b] = idg.get(b, 0) + 1
    nodes = sorted({a for a, _ in el} | {b for _, b in el})
    h = {v: 1.0 for v in nodes}
    a = {v: 0.0 for v in nodes}
    for _ in range(iters):
        a = {v: 0.0 for v in nodes}
        for u, v in el:
            a[v] += h[u] / od[u]
        z = sum(a.values())
        a = {v: s / z for v, s in a.items()}
        h = {v: 0.0 for v in nodes}
        for u, v in el:
            h[u] += a[v] / idg[v]
        z = sum(h.values())
        h = {v: s / z for v, s in h.items()}
    return h, a


def test_salsa_hand_example_matches_reference(spark):
    pairs = [(0, 1), (0, 2), (1, 2), (2, 0), (1, 0)]
    out = {r["node"]: (r["hub"], r["authority"])
           for r in graph.salsa(_edges(spark, pairs), "src", "dst",
                                iterations=3).collect()}
    h, a = _salsa_reference(pairs, 3)
    for v in h:
        assert out[v][0] == pytest.approx(h[v], abs=1e-12)
        assert out[v][1] == pytest.approx(a[v], abs=1e-12)


def test_salsa_stationary_is_degree_share(spark):
    """Lempel-Moran's theorem: on a graph whose SALSA chains are
    connected and aperiodic, authority converges to indeg(v)/|E| and
    hub to outdeg(u)/|E| — the closed form the power iteration must
    reach. (The per-component mass split on disconnected structures
    is what the iteration computes and the closed form does not.)"""
    pairs = [(0, 1), (0, 2), (1, 2), (2, 0), (1, 0)]
    out = {r["node"]: (r["hub"], r["authority"])
           for r in graph.salsa(_edges(spark, pairs), "src", "dst",
                                iterations=40).collect()}
    m = len(set(pairs))
    indeg = {0: 2, 1: 1, 2: 2}
    outdeg = {0: 2, 1: 2, 2: 1}
    for v in out:
        # geometric convergence at the chain's second eigenvalue —
        # 40 rounds reach ~1e-8 on this fixture, not machine epsilon
        assert out[v][1] == pytest.approx(indeg[v] / m, abs=1e-7)
        assert out[v][0] == pytest.approx(outdeg[v] / m, abs=1e-7)


def test_salsa_resists_tightly_knit_community(spark):
    """The anti-TKC contrast with HITS: a 3-clique of mutually-
    linking spam hosts plus one independent host cited by three
    separate low-degree endorsers. HITS' eigenvector concentrates on
    the clique (each member's authority beats the independent
    host's); SALSA's degree normalization makes the three
    independent endorsements win — each clique member splits its
    endorsement across the clique while every endorser of node 9
    gives it their whole out-mass."""
    clique = [(a, b) for a in (0, 1, 2) for b in (0, 1, 2) if a != b]
    pairs = clique + [(6, 9), (7, 9), (8, 9)]
    hits_a = {r["node"]: r["authority"]
              for r in graph.hits(_edges(spark, pairs), "src", "dst",
                                  iterations=20).collect()}
    salsa_a = {r["node"]: r["authority"]
               for r in graph.salsa(_edges(spark, pairs), "src", "dst",
                                    iterations=20).collect()}
    assert hits_a[0] > hits_a[9]    # HITS: the clique dominates
    assert salsa_a[9] > salsa_a[0]  # SALSA: 3 whole votes beat 2 half
    # The authority chain is DISCONNECTED here (from 9 the walk only
    # returns to 9), so the h0 ≡ 1 iteration's per-component mass
    # split applies, not the connected-graph indeg/|E| closed form:
    # a1(9) = 3 whole endorsements, a1(member) = 2 half ones, and
    # both components are stationary from the first half-step —
    # a(9) = 3/6, a(member) = 1/6 (hand-checkable fixed point).
    assert salsa_a[9] == pytest.approx(1 / 2, abs=1e-9)
    assert salsa_a[0] == pytest.approx(1 / 6, abs=1e-9)


def test_salsa_null_parallel_and_empty_edges(spark):
    """NULL endpoints and self-loops drop; parallel edges collapse
    (the walk picks among DISTINCT links); the empty graph returns
    the empty frame under both explicit gate values."""
    rows = [(0, 1), (0, 1), (0, 0), (None, 1), (0, None), (1, 2)]
    df = spark.createDataFrame(
        [(a, b) for a, b in rows], "src long, dst long")
    out = {r["node"]: (r["hub"], r["authority"])
           for r in graph.salsa(df, "src", "dst",
                                iterations=2).collect()}
    h, a = _salsa_reference([(0, 1), (1, 2)], 2)
    assert set(out) == set(h)
    for v in h:
        assert out[v] == (pytest.approx(h[v]), pytest.approx(a[v]))
    empty = spark.createDataFrame([], "src long, dst long")
    for flag in (None, True, False):
        got = graph.salsa(empty, "src", "dst", iterations=1,
                          materialize=False, broadcast_scores=flag)
        assert got.count() == 0
        assert got.columns == ["node", "hub", "authority"]
    with pytest.raises(ValueError, match="iterations"):
        graph.salsa(df, "src", "dst", iterations=0)


def test_salsa_gate_plans_and_equality(spark):
    """salsa follows the family's bounded-probe broadcast gate: with
    the gate off and auto-broadcast disabled the score joins plan as
    shuffle joins (no forced build side at page scale); on the small
    fixture the auto gate keeps the hinted broadcast; results are
    row-for-row equal both ways."""
    e = _edges(spark, _gate_pairs())
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        off = _xplan(graph.salsa(e, "src", "dst", iterations=1,
                                 materialize=False,
                                 broadcast_scores=False))
        assert "BroadcastHashJoin" not in off
        assert ("SortMergeJoin" in off) or ("ShuffledHashJoin" in off)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in _xplan(
        graph.salsa(e, "src", "dst", iterations=1, materialize=False))
    rows_on = {(r["node"], round(r["hub"], 9), round(r["authority"], 9))
               for r in graph.salsa(e, "src", "dst", iterations=3,
                                    broadcast_scores=True).collect()}
    rows_off = {(r["node"], round(r["hub"], 9), round(r["authority"], 9))
                for r in graph.salsa(e, "src", "dst", iterations=3,
                                     broadcast_scores=False).collect()}
    assert rows_on == rows_off


try:
    from hypothesis import given as _sg, settings as _ss
    from hypothesis import strategies as _sst

    @_ss(max_examples=8, deadline=None)
    @_sg(_sst.lists(_sst.tuples(_sst.integers(0, 9),
                                _sst.integers(0, 9)),
                    min_size=1, max_size=40))
    def test_salsa_random_graphs_match_reference(pairs):
        spark = _hyp_spark[0]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            return
        out = {r["node"]: (round(r["hub"], 9), round(r["authority"], 9))
               for r in graph.salsa(_edges(spark, pairs), "src",
                                    "dst", iterations=3).collect()}
        h, a = _salsa_reference(pairs, 3)
        ref = {v: (round(h[v], 9), round(a[v], 9)) for v in h}
        for v in ref:
            assert out[v][0] == pytest.approx(ref[v][0], abs=1e-9)
            assert out[v][1] == pytest.approx(ref[v][1], abs=1e-9)

except ImportError:
    pass


def test_on_cap_escalation_requires_until_stable(spark):
    """An escalating on_cap without until_stable could never fire
    (fixed rounds run no probe) — accepting it would silently disarm
    the signal the caller asked for, so both operators reject the
    combination loudly (code-review finding, r15)."""
    e = _edges(spark, [(0, 1), (1, 2)])
    for mode in ("warn", "raise"):
        with pytest.raises(ValueError, match="until_stable"):
            graph.k_core(e, "src", "dst", k=2, rounds=3, on_cap=mode)
        with pytest.raises(ValueError, match="until_stable"):
            graph.core_number(e, "src", "dst", rounds=3, on_cap=mode)


# ---------------------------------------------------------------------------
# reachability — seed-set closure (the BFS primitive under the
# Broder 2000 bow-tie measurement and trusted-seed frontier expansion)
# ---------------------------------------------------------------------------

def _reach_reference(pairs, seeds, forward=True, hops=None):
    adj = {}
    for a, b in pairs:
        if a is None or b is None or a == b:
            continue
        u, v = (a, b) if forward else (b, a)
        adj.setdefault(u, set()).add(v)
    nodes = {a for a, b in pairs if a is not None and b is not None
             and a != b} | {b for a, b in pairs
                            if a is not None and b is not None and a != b}
    seen = set(seeds) & nodes
    frontier = set(seen)
    k = 0
    while frontier and (hops is None or k < hops):
        nxt = set()
        for v in frontier:
            nxt |= adj.get(v, set())
        frontier = nxt - seen
        seen |= nxt
        k += 1
    return seen


def _seeds(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "s long")


def test_reachability_bowtie_toy(spark):
    """IN(0) -> CORE(1<->2) -> OUT(3), island (9,10): forward from
    the core reaches {1,2,3}, backward reaches {0,1,2}, and their
    intersection is exactly the core — the Broder classification's
    raw material."""
    pairs = [(0, 1), (1, 2), (2, 1), (2, 3), (9, 10)]
    e = _edges(spark, pairs)
    st = LoopStats()
    fw = {r["node"] for r in graph.reachability(
        e, "src", "dst", _seeds(spark, [1])).collect()}
    bw = {r["node"] for r in graph.reachability(
        e, "src", "dst", _seeds(spark, [1]),
        direction="backward", stats=st).collect()}
    assert fw == {1, 2, 3} and bw == {0, 1, 2}
    assert fw & bw == {1, 2}
    assert st.converged is True


def test_reachability_khop_form_and_seed_semantics(spark):
    """until_stable=False gives the exact <=K-hop neighborhood;
    seeds absent from the graph drop; duplicate seeds collapse;
    empty seed frame reaches nothing."""
    chain = [(i, i + 1) for i in range(6)]
    e = _edges(spark, chain)
    st = LoopStats()
    for k in (1, 2, 4):
        got = {r["node"] for r in graph.reachability(
            e, "src", "dst", _seeds(spark, [0, 0]), rounds=k,
            until_stable=False, stats=st).collect()}
        assert got == _reach_reference(chain, {0}, hops=k), k
        # fixed rounds: every round runs, no probe
        assert (st.rounds, st.converged) == (k, None)
    assert graph.reachability(
        e, "src", "dst", _seeds(spark, [99])).count() == 0
    empty_seeds = spark.createDataFrame([], "s long")
    assert graph.reachability(e, "src", "dst", empty_seeds).count() == 0


def test_reachability_cap_hit_is_lower_bound_and_signals(spark):
    """A 6-chain from one end needs 5 hops: rounds=2 under
    until_stable hits the cap with a <=2-hop LOWER bound; warn and
    raise escalate, fixed point runs stay silent; on_cap without
    until_stable is rejected."""
    import warnings
    chain = [(i, i + 1) for i in range(5)]
    e = _edges(spark, chain)
    st = LoopStats()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = {r["node"] for r in graph.reachability(
            e, "src", "dst", _seeds(spark, [0]), rounds=2,
            stats=st).collect()}
    assert got == {0, 1, 2}  # the 2-hop subset, silently
    assert (st.rounds, st.converged) == (2, False)
    with pytest.warns(RuntimeWarning, match="reachability.*LOWER"):
        graph.reachability(e, "src", "dst", _seeds(spark, [0]),
                           rounds=2, on_cap="warn").collect()
    with pytest.raises(RuntimeError, match="reachability.*rounds cap"):
        graph.reachability(e, "src", "dst", _seeds(spark, [0]),
                           rounds=2, on_cap="raise")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        full = {r["node"] for r in graph.reachability(
            e, "src", "dst", _seeds(spark, [0]), rounds=32,
            on_cap="raise", stats=st).collect()}
    assert full == set(range(6))
    # 5 growing rounds plus the one whose unchanged count verifies
    assert (st.rounds, st.converged) == (6, True)
    with pytest.raises(ValueError, match="until_stable"):
        graph.reachability(e, "src", "dst", _seeds(spark, [0]),
                           until_stable=False, on_cap="raise")
    with pytest.raises(ValueError, match="direction"):
        graph.reachability(e, "src", "dst", _seeds(spark, [0]),
                           direction="sideways")


def test_reachability_gate_plans_both_ways(spark):
    """The family broadcast-gate discipline: gate off + auto-broadcast
    disabled plans the frontier semi-join as a shuffle join; the
    small-graph auto path keeps the hint; results equal."""
    e = _edges(spark, _gate_pairs())
    s = _seeds(spark, [0])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        off = _xplan(graph.reachability(e, "src", "dst", s, rounds=1,
                                        until_stable=False,
                                        materialize=False,
                                        broadcast_frontier=False))
        assert "BroadcastHashJoin" not in off
        assert ("SortMergeJoin" in off) or ("ShuffledHashJoin" in off)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    on = {r["node"] for r in graph.reachability(
        e, "src", "dst", s, broadcast_frontier=True).collect()}
    off_r = {r["node"] for r in graph.reachability(
        e, "src", "dst", s, broadcast_frontier=False).collect()}
    assert on == off_r


try:
    from hypothesis import given as _rg, settings as _rs
    from hypothesis import strategies as _rst

    @_rs(max_examples=8, deadline=None)
    @_rg(_rst.lists(_rst.tuples(_rst.integers(0, 9),
                                _rst.integers(0, 9)),
                    min_size=1, max_size=40),
         _rst.sets(_rst.integers(0, 9), min_size=1, max_size=3))
    def test_reachability_random_graphs_match_reference(pairs, seeds):
        spark = _hyp_spark[0]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            return
        for fwd in (True, False):
            got = {r["node"] for r in graph.reachability(
                _edges(spark, pairs), "src", "dst",
                _seeds(spark, sorted(seeds)),
                direction="forward" if fwd else "backward").collect()}
            assert got == _reach_reference(pairs, seeds, forward=fwd), \
                (pairs, seeds, fwd)
            # fixed-rounds form: K=1 is exactly the <=1-hop set (the
            # boundary the frontier_seed_expand oracle leans on)
            got1 = {r["node"] for r in graph.reachability(
                _edges(spark, pairs), "src", "dst",
                _seeds(spark, sorted(seeds)),
                direction="forward" if fwd else "backward",
                rounds=1, until_stable=False).collect()}
            assert got1 == _reach_reference(pairs, seeds, forward=fwd,
                                            hops=1), (pairs, seeds, fwd)

except ImportError:
    pass
