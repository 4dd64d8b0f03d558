"""Harmonic centrality over directed graphs — the OTHER centrality
web pipelines weight corpora with (Common Crawl's published host
rankings are harmonic-centrality-first; Boldi & Vigna, "Axioms for
Centrality", 2014). Truncated at radius R:

    H_R(v) = Σ_{u ≠ v, 0 < d(u→v) ≤ R}  1 / d(u→v)

(incoming-distance convention: H(v) counts the nodes that can REACH
v, the authority direction — same orientation as PageRank's mass
flow; d is the directed shortest-path length.)

Two implementations, one semantics:

- ``harmonic_centrality`` — EXACT pair expansion: maintain the
  reachable-pair frontier ``(u, v, dist)``; each round joins the
  frontier with the edge list (one shuffle) and keeps only
  first-time-reached pairs (left_anti against seen — BFS order means
  first arrival IS the shortest distance). The pair table is
  O(reachable pairs ≤ R): exact is the HOST-graph tool (10^6–10^8
  pairs at web scale), and the full-oracle twin — plain SQL can
  unroll the same expansion.

- ``harmonic_centrality_sketch`` — HyperBall (Boldi, Rosa & Vigna
  2011): per-node HyperLogLog sketches of the in-ball, one register
  ROW per (node, register) — never a per-node blob — so each round
  is edges-join + groupBy(node, reg).max(val), all JVM expressions.
  |B_t(v)| estimates come from the HLL++ estimator flow
  (``hll_ball_estimate``: bias-corrected raw with a CALIBRATED
  linear-counting switch — empirical tables in ``_hll_bias.py``,
  measured for this register scheme by tools/calibrate_hll_bias.py
  per Heule, Nunkesser & Hall 2013), and
  H(v) ≈ Σ_t (|B_t| − |B_{t−1}|)/t with negative increments clamped
  (estimator noise). This is the PAGE-graph scale path: state is
  O(nodes × 2^p) rows of three integers, independent of pair count.

Register hashing is deterministic (xxhash64 of the node id): the
sketch gives the same answer on every run — approximate but
reproducible, the house discipline for sketches (HLL distinct,
quantile rollup). The rho (leading-zero-rank) computation stays
JVM-side via a length(bin(x)) identity — no Python row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.operators._contracts import (
    require_free_columns,
)
from unilever_scraping_etl_spark.operators._fixpoint import (
    LoopStats,
    record,
)

_WORKING = ("__u", "__v", "__dist", "__reg", "__val", "__est", "__t")


def harmonic_centrality(edges: DataFrame, src: str, dst: str,
                        radius: int = 3,
                        materialize: bool = True,
                        targets: DataFrame | None = None,
                        stats: LoopStats | None = None) -> DataFrame:
    """Exact truncated harmonic centrality. Returns ``(node,
    harmonic)`` for every node in the graph (0.0 for nodes nothing
    reaches within ``radius``); ``harmonic`` is rounded to 9 digits
    (per-node float sums accumulate in engine-specific order — round
    on BOTH sides when comparing cross-engine, the pagerank rule).
    NULL-endpoint edges drop; parallel duplicates are harmless (the
    frontier is distinct). One shuffle per BFS round plus the final
    aggregation; stops early when a round adds no new pairs (bounded
    1-scalar driver probe per round — only under the default
    ``materialize=True``: with an un-checkpointed lineage each probe
    would re-execute every prior round, so ``materialize=False``
    skips the probe and runs all ``radius`` rounds lazily).

    ``targets`` (optional single-column frame of node ids) restricts
    the computation to exact centralities OF those nodes: the pair
    frontier seeds at in-edges of the targets and expands BACKWARD
    (``(u, v)`` + edge ``w→u`` ⇒ ``(w, v)`` — the v side stays pinned
    on targets), so the pair table is O(targets × ball) instead of
    O(all reachable pairs). This is the sketch-validation tool at
    page scale: exact ground truth for a node sample on a graph
    where the full pair expansion is infeasible. Output rows = the
    (distinct) targets, 0.0 when unreached.

    ``stats`` (a :class:`LoopStats`) receives the BFS rounds that
    reached new pairs and whether the frontier ran dry before the
    radius (``None`` when no probe ran: ``materialize=False`` or
    ``radius=1``)."""
    require_free_columns("harmonic_centrality", edges.columns,
                         ("node", "harmonic"), kind="output")
    nodes, seen = _reach_pairs("harmonic_centrality", edges, src, dst,
                               radius, materialize, targets, stats)
    h = (seen.filter(F.col("__u") != F.col("__v"))
         .groupBy(F.col("__v").alias("node"))
         .agg(F.sum(F.lit(1.0) / F.col("__dist")).alias("harmonic")))
    return (nodes.join(h, "node", "left")
            .select("node",
                    F.round(F.coalesce(F.col("harmonic"), F.lit(0.0)),
                            9).alias("harmonic")))


def centrality_profile(edges: DataFrame, src: str, dst: str,
                       radius: int = 3,
                       materialize: bool = True,
                       targets: DataFrame | None = None,
                       stats: LoopStats | None = None) -> DataFrame:
    """Harmonic, closeness, and Lin centrality from ONE truncated BFS
    pair expansion — the full authority profile web rankings publish,
    at the cost of the single metric (the expensive part is the pair
    table; all three are aggregates of the same ``(u, v, dist)``
    rows). Per node v over incoming shortest distances d(u→v) ≤
    radius (u ≠ v):

    - ``harmonic``  = Σ 1/d          (Boldi & Vigna 2014)
    - ``n_reached`` = |{u}|
    - ``closeness`` = n_reached / Σ d  (truncated Bavelas closeness)
    - ``lin``       = n_reached² / Σ d (Lin 1976 — closeness scaled
      by reach, so well-connected-but-far nodes aren't punished)

    All-zero rows for unreached nodes (Lin's classical convention
    assigns isolated nodes 1; here the truncated-profile convention
    is 0 — "no incoming reach within the radius", documented so both
    engines agree). Floats round-9 (cross-engine sum order);
    closeness/lin divide exact integers so the round is belt-and-
    braces. ``targets`` restricts to a node sample via the backward
    expansion and ``stats`` reports the BFS, as in
    :func:`harmonic_centrality`."""
    require_free_columns("centrality_profile", edges.columns,
                         ("node", "harmonic", "n_reached", "closeness",
                          "lin"), kind="output")
    nodes, seen = _reach_pairs("centrality_profile", edges, src, dst,
                               radius, materialize, targets, stats)
    agg = (seen.filter(F.col("__u") != F.col("__v"))
           .groupBy(F.col("__v").alias("node"))
           .agg(F.sum(F.lit(1.0) / F.col("__dist")).alias("__h"),
                F.count(F.lit(1)).alias("__n"),
                F.sum("__dist").alias("__sd")))
    n = F.coalesce(F.col("__n"), F.lit(0))
    sd = F.coalesce(F.col("__sd"), F.lit(1))  # only read when n > 0
    return (nodes.join(agg, "node", "left")
            .select("node",
                    F.round(F.coalesce(F.col("__h"), F.lit(0.0)),
                            9).alias("harmonic"),
                    n.cast("long").alias("n_reached"),
                    F.round(F.when(n > 0, n.cast("double") / sd)
                            .otherwise(F.lit(0.0)), 9).alias("closeness"),
                    # through double BEFORE the square: long*long would
                    # overflow (ANSI: throw) past n ~ 3B pairs at scale
                    F.round(F.when(n > 0, (n.cast("double") * n) / sd)
                            .otherwise(F.lit(0.0)), 9).alias("lin")))


def _reach_pairs(op: str, edges: DataFrame, src: str, dst: str,
                 radius: int, materialize: bool,
                 targets: DataFrame | None,
                 stats: LoopStats | None) -> tuple[DataFrame, DataFrame]:
    """Shared truncated-BFS pair expansion: returns ``(nodes, seen)``
    where ``seen`` holds every reachable pair ``(__u, __v, __dist)``
    with ``__dist`` the true shortest distance ≤ radius (first
    arrival is shortest), and ``nodes`` the output node frame (all
    graph nodes, or the distinct targets). One shuffle per BFS round;
    early exit on an exhausted frontier via a bounded 1-boolean probe
    (materialize=True only). With ``targets`` the expansion runs
    BACKWARD from the targets' in-edges so ``__v`` stays pinned.
    Keeps its own loop — the frontier and the seen set are two states,
    and the probe decides whether a round's pairs count at all — and
    reports through ``stats``."""
    if radius < 1:
        raise ValueError("radius must be >= 1")
    require_free_columns(op, edges.columns, _WORKING)
    edges = edges.filter(F.col(src).isNotNull()
                         & F.col(dst).isNotNull())
    if materialize:
        edges = edges.localCheckpoint()
    pairs = (edges.select(F.col(src).alias("__u"),
                          F.col(dst).alias("__v"))
             .distinct())
    if targets is not None:
        tgt = (targets.select(F.col(targets.columns[0]).alias("node"))
               .distinct())
        if materialize:
            tgt = tgt.localCheckpoint()
        # re-pin column ORDER after the USING-join (it fronts __v;
        # the BFS union below is positional)
        pairs = (pairs.join(tgt.select(F.col("node").alias("__v")),
                            "__v", "left_semi")
                 .select("__u", "__v"))
        nodes = tgt
    else:
        nodes = (edges.select(F.col(src).alias("node"))
                 .union(edges.select(F.col(dst).alias("node")))
                 .distinct())
    if materialize:
        pairs = pairs.localCheckpoint()
        nodes = nodes.localCheckpoint()
    seen = pairs.withColumn("__dist", F.lit(1))
    frontier = pairs
    rounds, converged = 1, None
    for t in range(2, radius + 1):
        if targets is None:
            nxt = (frontier.join(edges, frontier["__v"] == edges[src])
                   .select("__u", F.col(dst).alias("__v")))
        else:
            # backward expansion keeps __v pinned on the target set
            nxt = (frontier.join(edges, frontier["__u"] == edges[dst])
                   .select(F.col(src).alias("__u"), "__v"))
        nxt = (nxt.distinct()
               .join(seen.select("__u", "__v"), ["__u", "__v"],
                     "left_anti"))
        if materialize:
            # LAZY (r16): the isEmpty probe materializes the snapshot
            # in its own job — no separate synchronous checkpoint job
            # per BFS round
            nxt = nxt.localCheckpoint(eager=False)
            # bounded probe: one boolean per round
            converged = nxt.isEmpty()
            if converged:
                break
        rounds = t
        seen = seen.union(nxt.withColumn("__dist", F.lit(t)))
        frontier = nxt
    record(stats, rounds, converged)
    return nodes, seen


def _hll_alpha(m: int) -> float:
    """alpha_m per Flajolet et al.; small-m table values."""
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1.0 + 1.079 / m))


def _interp_bias(raw, p: int):
    """Clamped linear interpolation of the empirical raw-estimator
    bias at the observed ``raw`` estimate — the HLL++ correction
    (Heule, Nunkesser & Hall 2013), with tables measured for THIS
    register scheme by tools/calibrate_hll_bias.py (their published
    appendix tables assume their setup). Pure JVM expressions: two
    literal arrays, a filter-count to locate the segment, element_at
    + arithmetic to interpolate."""
    from ._hll_bias import BIAS, RAW_ANCHORS

    anchors, biases = RAW_ANCHORS[p], BIAS[p]
    arr_a = F.array(*[F.lit(float(a)) for a in anchors])
    arr_b = F.array(*[F.lit(float(b)) for b in biases])
    k = F.size(F.filter(arr_a, lambda a: a <= raw))
    i0 = F.greatest(F.lit(1), F.least(k, F.lit(len(anchors) - 1)))
    a0, a1 = F.element_at(arr_a, i0), F.element_at(arr_a, i0 + 1)
    b0, b1 = F.element_at(arr_b, i0), F.element_at(arr_b, i0 + 1)
    frac = F.greatest(F.lit(0.0),
                      F.least(F.lit(1.0), (raw - a0) / (a1 - a0)))
    return b0 + (b1 - b0) * frac


def hll_ball_estimate(regs: DataFrame, p: int) -> DataFrame:
    """Per-node ball-cardinality estimate from sparse (node, __reg,
    __val) register rows — the HLL++ estimator flow (bias-corrected
    raw with a calibrated linear-counting switch), all JVM
    expressions. Absent register rows contribute 2^0 = 1 to the
    harmonic-mean sum and ARE the zero registers for linear counting
    (_rho never returns 0, so zeros == m − row_count exactly).
    Estimate selection: linear counting when any register is zero AND
    its estimate falls at or under the calibrated LC_THRESHOLD[p]
    (where LC's RMSE still beats bias-corrected raw — measured, not
    the folklore 2.5m cut); otherwise raw minus the interpolated
    empirical bias (correction active through the calibrated band,
    identity above it where raw is unbiased). Returns ``(node,
    __est)``."""
    from ._hll_bias import LC_THRESHOLD, RAW_ANCHORS

    m = 1 << p
    alpha = _hll_alpha(m)
    agg = regs.groupBy("node").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("__val"))).alias("__s"),
        F.count(F.lit(1)).alias("__nz"))
    zeros = F.lit(m) - F.col("__nz")
    raw = F.lit(alpha * m * m) / (F.col("__s") + zeros)
    corrected = F.when(raw <= F.lit(float(RAW_ANCHORS[p][-1])),
                       raw - _interp_bias(raw, p)).otherwise(raw)
    lc = F.lit(float(m)) * F.log(F.lit(float(m))
                                 / F.greatest(zeros, F.lit(1)))
    est = F.when((zeros > 0) & (lc <= F.lit(float(LC_THRESHOLD[p]))),
                 lc).otherwise(corrected)
    return agg.select("node", est.alias("__est"))


def _rho(x, p: int):
    """HLL rank of the non-negative (64−p)-bit value left by
    ``shiftrightunsigned(h64, p)``: 1 + leading zeros of ``x`` in its
    (64−p)-bit window. ``bin(x)`` has no leading zeros, so
    leading_zeros = (64−p) − length(bin(x)) and rho = 65 − p −
    length(bin(x)) — exact integer arithmetic, whole-stage-codegen
    resident. The window MUST track p: a fixed-width assumption
    offsets every register by (p − assumed) and scales ball estimates
    by ~2^(p−assumed) (r11 advice — only p=6 was exercised, where the
    fixed 59 happened to be correct). x = 0 (probability 2^−(64−p))
    saturates at 65 − p."""
    return (F.when(x == 0, F.lit(65 - p))
            .otherwise(F.lit(65 - p) - F.length(F.bin(x))))


def harmonic_centrality_sketch(edges: DataFrame, src: str, dst: str,
                               radius: int = 3, p: int = 6,
                               materialize: bool = True) -> DataFrame:
    """HyperBall approximation of truncated harmonic centrality.
    State is (node, register, value) ROWS — 2^p registers per node at
    most, grown lazily from each node's own hash — so a round is:
    ship register rows along in-edges (join), elementwise max
    (groupBy(node, reg).max), estimate ball sizes, accumulate
    (|B_t| − |B_{t−1}|)/t. Everything is JVM expressions; accuracy is
    the standard HLL ±1.04/√(2^p) per ball estimate (p=6 → ~13%), and
    the output is DETERMINISTIC (xxhash64 node hashing, no RNG).
    Returns ``(node, harmonic_est)``."""
    require_free_columns("harmonic_centrality_sketch", edges.columns,
                         ("node", "harmonic_est"), kind="output")

    def init(nodes, est0):
        return nodes.select("node", F.lit(0.0).alias("harmonic_est"))

    def fold(acc, t, cur, prev):
        gain = (F.greatest(F.lit(0.0), F.col("__est") - F.col("__p"))
                / F.lit(float(t)))
        return (acc.join(cur, "node")
                .join(prev.withColumnRenamed("__est", "__p"), "node")
                .select("node",
                        (F.col("harmonic_est") + gain)
                        .alias("harmonic_est")))

    return _hyperball_scan("harmonic_centrality_sketch", edges, src,
                           dst, radius, p, materialize, init, fold)


def centrality_profile_sketch(edges: DataFrame, src: str, dst: str,
                              radius: int = 3, p: int = 6,
                              materialize: bool = True) -> DataFrame:
    """HyperBall approximation of the full centrality profile — the
    sketch twin of :func:`centrality_profile`, over the SAME register
    lattice as ``harmonic_centrality_sketch`` (the rounds are the
    cost; the three metrics are different folds of the per-round ball
    estimates |B_t|): with Δ_t = max(0, |B_t| − |B_{t−1}|),

    - ``harmonic_est``  = Σ Δ_t / t
    - ``n_reached_est`` = |B_R| − 1 (the ball contains the node)
    - ``closeness_est`` = n_reached / Σ t·Δ_t
    - ``lin_est``       = n_reached² / Σ t·Δ_t

    Deterministic (xxhash64, no RNG) but approximate — per-ball HLL
    noise propagates into all four columns; zero
    closeness/lin when the estimated distance mass is ~0 (the exact
    twin's all-zero convention)."""
    require_free_columns("centrality_profile_sketch", edges.columns,
                         ("node", "harmonic_est", "n_reached_est",
                          "closeness_est", "lin_est"), kind="output")

    def init(nodes, est0):
        return (nodes.join(est0, "node")
                .select("node", F.lit(0.0).alias("harmonic_est"),
                        F.lit(0.0).alias("__sd"),
                        F.col("__est").alias("__last")))

    def fold(acc, t, cur, prev):
        g = F.greatest(F.lit(0.0), F.col("__est") - F.col("__p"))
        return (acc.join(cur, "node")
                .join(prev.withColumnRenamed("__est", "__p"), "node")
                .select("node",
                        (F.col("harmonic_est") + g / F.lit(float(t)))
                        .alias("harmonic_est"),
                        (F.col("__sd") + g * F.lit(float(t)))
                        .alias("__sd"),
                        F.col("__est").alias("__last")))

    acc = _hyperball_scan("centrality_profile_sketch", edges, src,
                          dst, radius, p, materialize, init, fold)
    reached = F.greatest(F.lit(0.0), F.col("__last") - 1)
    sd = F.col("__sd")
    return acc.select(
        "node", "harmonic_est",
        reached.alias("n_reached_est"),
        F.when(sd > 0, reached / sd).otherwise(F.lit(0.0))
         .alias("closeness_est"),
        F.when(sd > 0, (reached * reached) / sd).otherwise(F.lit(0.0))
         .alias("lin_est"))


def _hyperball_scan(op: str, edges: DataFrame, src: str, dst: str,
                    radius: int, p: int, materialize: bool,
                    init, fold) -> DataFrame:
    """Shared HyperBall register lattice (Boldi, Rosa & Vigna 2011):
    build one (node, __reg, __val) register row set, run ``radius``
    ship-along-in-edges + elementwise-max rounds, and fold the
    per-round ball estimates — ``acc = init(nodes, est0)`` then per
    round ``acc = fold(acc, t, cur, prev)`` where cur/prev are
    ``(node, __est)`` frames. ONE loop shared by the harmonic and
    profile sketches (the r11 _ares_key lesson: near-identical
    iteration code copy-pasted between operators is where drift
    starts). Register state is O(nodes × 2^p) rows throughout."""
    if radius < 1:
        raise ValueError("radius must be >= 1")
    if not 4 <= p <= 12:
        raise ValueError("p must be in [4, 12]")
    require_free_columns(op, edges.columns, _WORKING)
    m = 1 << p
    edges = edges.filter(F.col(src).isNotNull()
                         & F.col(dst).isNotNull())
    if materialize:
        edges = edges.localCheckpoint()
    nodes = (edges.select(F.col(src).alias("node"))
             .union(edges.select(F.col(dst).alias("node")))
             .distinct())
    if materialize:
        nodes = nodes.localCheckpoint()

    h64 = F.xxhash64(F.col("node").cast("string"))
    # idx: low p bits (pmod — xxhash64 is signed); rho: leading zeros
    # of the remaining 64−p bits + 1 (shiftrightunsigned keeps them
    # unsigned)
    idx = F.pmod(h64, F.lit(m))
    val = _rho(F.shiftrightunsigned(h64, p), p)
    regs = nodes.select("node", idx.cast("int").alias("__reg"),
                        val.cast("int").alias("__val"))
    if materialize:
        regs = regs.localCheckpoint()

    prev = hll_ball_estimate(regs, p)
    acc = init(nodes, prev)
    for t in range(1, radius + 1):
        shipped = (regs.join(edges, regs["node"] == edges[src])
                   .select(F.col(dst).alias("node"), "__reg", "__val"))
        regs = (regs.unionByName(shipped)
                .groupBy("node", "__reg")
                .agg(F.max("__val").alias("__val")))
        if materialize:
            # EAGER kept deliberately (r16 measured): the lazy
            # variant (regs+acc eager=False, 34→28 jobs) read ~0.8 s
            # SLOWER at sf0.1 isolated min-of-4 (4.07→4.89 s) — this
            # loop runs no per-round probe, so laziness defers every
            # round's register fold into one deep final cascade whose
            # nested materializations beat the dedicated parallel
            # jobs' cost. Guide §1.1: measured beats ideal.
            regs = regs.localCheckpoint()
        cur = hll_ball_estimate(regs, p)
        acc = fold(acc, t, cur, prev)
        if materialize:
            acc = acc.localCheckpoint()
        prev = cur
    return acc
