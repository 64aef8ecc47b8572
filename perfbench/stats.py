"""Pure helpers behind the benchmark's reported numbers (no Spark import)."""

from __future__ import annotations

import math
import random
from collections.abc import Sequence

# A tail percentile is reported only where at least this many samples lie
# beyond it, so one slow op cannot stand for the tail on its own.
TAIL_MIN_BEYOND = 10


def tail_pct(n: int) -> int:
    """Highest whole percentile that leaves >= TAIL_MIN_BEYOND of n samples
    beyond it, by the nearest-rank definition (see ``nearest_rank``).
    Raises ValueError below TAIL_MIN_BEYOND + 1 samples, where none does."""
    for p in range(99, 0, -1):
        if n - math.ceil(p * n / 100) >= TAIL_MIN_BEYOND:
            return p
    raise ValueError(f"{n} samples: need at least {TAIL_MIN_BEYOND + 1} for a tail percentile")


def nearest_rank(samples: Sequence[float], pct: int) -> float:
    """The sample at 1-based rank ceil(pct/100 * n) of the sorted samples."""
    xs = sorted(samples)
    return xs[max(1, math.ceil(pct * len(xs) / 100)) - 1]


def pass_order(ops: Sequence[str], seed: int, pass_index: int) -> list[str]:
    """The op order of one timed pass: a permutation fixed by (seed, pass)."""
    return random.Random(f"{seed}:{pass_index}").sample(list(ops), len(ops))


def self_time(start: float, end: float, children: Sequence[tuple[float, float]]) -> float:
    """Span duration minus the part of [start, end] its children cover.

    Children are clipped to the parent and overlapping children are counted
    once, so concurrent child spans never drive self time negative."""
    covered = 0.0
    cursor = start
    for c_start, c_end in sorted(children):
        lo, hi = max(c_start, cursor), min(c_end, end)
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return (end - start) - covered
