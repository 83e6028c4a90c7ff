"""Latency summaries and failure accounting shared by every phase."""

from __future__ import annotations

import math
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable

# A tail percentile is only reported when at least this many samples lie
# beyond it; otherwise a single slow sample would decide its value.
MIN_BEYOND = 10


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-th percentile of n."""
    if n <= 0:
        return 0
    return n - max(1, math.ceil(q / 100.0 * n))


def min_samples_for(q: float, min_beyond: int = MIN_BEYOND) -> int:
    """Smallest sample count whose q-th percentile has min_beyond beyond it."""
    n = 1
    while samples_beyond(n, q) < min_beyond:
        n += 1
    return n


def percentile(values: list[float], q: float, min_beyond: int = MIN_BEYOND) -> float:
    """q-th percentile. q=50 is the median (mean of the middle pair for an
    even count); any other q is nearest-rank and raises ValueError unless
    ``min_beyond`` samples lie beyond it."""
    if not values:
        raise ValueError("percentile of no samples")
    if q == 50:
        return float(statistics.median(values))
    n = len(values)
    if samples_beyond(n, q) < min_beyond:
        raise ValueError(
            f"p{q:g} of {n} samples has {samples_beyond(n, q)} beyond it; "
            f"need {min_beyond} (at least {min_samples_for(q, min_beyond)} samples)"
        )
    return float(sorted(values)[max(1, math.ceil(q / 100.0 * n)) - 1])


@dataclass
class Op:
    """One attempted operation: its phase, latency and outcome. ``check``
    maps the operation's result to True when it is correct; it runs after
    the timed phase so checking never inflates a latency."""

    phase: str
    label: str
    seconds: float = 0.0
    result: Any = None
    error: str | None = None
    check: Callable[[Any], bool] | None = None
    ok: bool | None = None


@dataclass
class OpLog:
    """Every operation a run attempts. An operation fails when it raised
    or when its check rejects its result."""

    ops: list[Op] = field(default_factory=list)

    def run(self, phase: str, label: str, fn: Callable[[], Any],
            check: Callable[[Any], bool] | None = None) -> Op:
        op = Op(phase, label, check=check)
        t0 = time.perf_counter()
        try:
            op.result = fn()
        except Exception as e:  # the failure is recorded and counted
            op.error = f"{type(e).__name__}: {e}"
        op.seconds = time.perf_counter() - t0
        self.ops.append(op)
        return op

    def verify(self) -> None:
        """Apply every pending check (outside all timed spans)."""
        for op in self.ops:
            if op.ok is not None:
                continue
            if op.error is not None:
                op.ok = False
                continue
            try:
                op.ok = bool(op.check(op.result)) if op.check else True
            except Exception as e:
                op.error = f"check {type(e).__name__}: {e}"
                op.ok = False

    def seconds(self, phase: str) -> list[float]:
        return [op.seconds for op in self.ops if op.phase == phase]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for op in self.ops if op.ok is not True)

    def failures(self) -> list[Op]:
        return [op for op in self.ops if op.ok is not True]
