"""One driver for the operators' until-stable loops.

Reachability, k-core peeling, core numbers, PageRank's ``tol`` branch
and both connected-components loops share one round shape: build the
next state from the current one, snapshot it lazily, optionally probe
one bounded driver scalar and stop when it stops changing, and apply a
cap policy when the round budget runs out first. :func:`fixpoint` owns
that shape; the operators supply only the step, the probe and the
stop test.

A run reports what it did through a :class:`LoopStats` the caller
passes in (``stats=`` on every operator built on this loop) — a value
per call, so two loops on two driver threads never see each other's
rounds. Filling it changes no plan and no job.
"""

from __future__ import annotations

import operator
import warnings
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame


@dataclass
class LoopStats:
    """Rounds one operator loop executed, and whether it VERIFIED its
    fixed point: ``True`` (a probe saw the state stop changing, or the
    operator is exact by construction), ``False`` (the rounds cap hit
    with the last round still changing — the result is the operator's
    documented bound), ``None`` (fixed-round run, no probe)."""
    rounds: int = 0
    converged: bool | None = None


def record(stats: LoopStats | None, rounds: int,
           converged: bool | None) -> None:
    """Fill ``stats`` if the caller asked for it."""
    if stats is not None:
        stats.rounds, stats.converged = rounds, converged


def fixpoint(state: DataFrame,
             step: Callable[[DataFrame], DataFrame],
             rounds: int, *,
             probe: Callable[[DataFrame, DataFrame], Any] | None = None,
             baseline: Any = None,
             stable: Callable[[Any, Any], bool] = operator.eq,
             checkpoint: bool = True,
             on_cap: str = "silent",
             cap_message: str = "",
             stats: LoopStats | None = None) -> DataFrame:
    """Run ``state = step(state)`` at most ``rounds`` times.

    ``checkpoint`` snapshots each new state with a LAZY
    ``localCheckpoint``: the round's probe (or, without one, the next
    round or the consumer's action) materializes it inside its own
    job, so no round pays a separate synchronous checkpoint job.

    With a ``probe``, each round ends in ``value = probe(new, old)`` —
    one bounded driver action — and ``stable(previous, value)`` decides
    whether the loop has converged; ``previous`` is the last round's
    value, or ``baseline`` (precomputed by the caller, ``None`` if the
    loop has none) for the first round. Without a probe every round
    runs and ``converged`` stays ``None``.

    A probed run that exhausts ``rounds`` is a cap hit: ``stats`` are
    filled first, so the hit stays observable, then ``on_cap`` applies
    — ``"silent"`` returns the unverified state, ``"warn"`` emits
    ``cap_message`` as a RuntimeWarning attributed to the operator's
    caller, ``"raise"`` raises it as a RuntimeError."""
    prev, converged, executed = baseline, None, 0
    for _ in range(rounds):
        new = step(state)
        if checkpoint:
            new = new.localCheckpoint(eager=False)
        executed += 1
        if probe is None:
            state = new
            continue
        value = probe(new, state)
        state = new
        if stable(prev, value):
            converged = True
            break
        prev = value
    if probe is not None and converged is None:
        converged = False
    record(stats, executed, converged)
    if converged is False:
        if on_cap == "raise":
            raise RuntimeError(cap_message)
        if on_cap == "warn":
            # level 3 = the operator's caller (fixpoint -> operator ->)
            warnings.warn(cap_message, RuntimeWarning, stacklevel=3)
    return state
