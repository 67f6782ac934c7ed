"""The benchmark's own arithmetic: tail percentile, span self time, the
py4j call filter and the error tally. Pure functions, tested in
``perfbench/tests``."""

from __future__ import annotations

from dataclasses import dataclass, field

# The tail percentile must leave this many samples beyond it.
TAIL_SAMPLES_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that leaves at least
    ``TAIL_SAMPLES_BEYOND`` samples beyond it.

    With n sorted samples that is the (n - 10)-th smallest, at percentile
    100 * (n - 10) / n. Fewer than 11 samples support no such percentile;
    the maximum (percentile 100) is reported instead.
    """
    if not samples:
        raise ValueError("tail of an empty sample")
    ordered = sorted(samples)
    n = len(ordered)
    k = n - TAIL_SAMPLES_BEYOND
    if k < 1:
        return ordered[-1], 100.0
    return ordered[k - 1], 100.0 * k / n


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``.

    Children may nest, overlap each other, or stick out of the parent;
    each point is counted once and only inside the parent."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


def is_py4j_call(command: str) -> bool:
    """True for a py4j method-call command ("c\\n...").

    py4j sends its garbage-collection detaches ("m\\nd\\n...") and other
    bookkeeping through the same ``send_command``; their number depends on
    when Python's collector runs, so only calls are counted."""
    return command.startswith("c\n")


@dataclass
class ErrorTally:
    """Operations attempted and failed. A timed operation that raises, and
    a correctness check whose result is wrong, each count as one failed
    operation; every timed operation and every check counts as attempted."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(what)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
