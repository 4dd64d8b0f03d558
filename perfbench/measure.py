"""The tail-percentile rule and failure accounting."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

#: A percentile is reported only when at least this many samples lie
#: beyond it; fewer and the value is one or two outliers, not a tail.
MIN_BEYOND = 10


def tail_percentile(n: int, cap: float = 90.0) -> float | None:
    """The highest whole percentile, at most ``cap``, whose nearest rank
    among ``n`` sorted samples leaves at least MIN_BEYOND samples above
    it; None when even the median would not."""
    best = None
    for p in range(50, int(cap) + 1):
        if n - max(1, math.ceil(p / 100.0 * n)) >= MIN_BEYOND:
            best = float(p)
    return best


@dataclass
class Tally:
    """Operations attempted and failed. An operation fails when it
    raises or when its checked output is wrong; each operation counts
    once however it fails."""
    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(what)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
