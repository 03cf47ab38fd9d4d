"""Pure arithmetic of the benchmark: quantiles, the generator schedule,
per-file stream latency and lag, and span self-times. No Spark, no I/O;
unit-tested in ``perfbench/tests``."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence
from dataclasses import dataclass


class TooFewSamples(ValueError):
    """A tail quantile was asked of fewer samples than it needs."""


def median(xs: Sequence[float]) -> float:
    s = sorted(xs)
    if not s:
        raise TooFewSamples("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def mean(xs: Sequence[float]) -> float:
    if not xs:
        raise TooFewSamples("mean of no samples")
    return sum(xs) / len(xs)


def quantile(xs: Sequence[float], q: float, min_beyond: int = 0) -> float:
    """Nearest-rank ``q``-quantile: the smallest sample with at least a
    ``q`` share of samples at or below it. Raises ``TooFewSamples``
    unless at least ``min_beyond`` samples lie strictly after its rank,
    so a p95 is never read off a handful of values."""
    if not 0 < q <= 1:
        raise ValueError(f"quantile {q} outside (0, 1]")
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise TooFewSamples("quantile of no samples")
    rank = max(1, math.ceil(q * n))
    beyond = n - rank
    if beyond < min_beyond:
        raise TooFewSamples(
            f"p{q * 100:g} of {n} samples leaves {beyond} beyond it, "
            f"{min_beyond} needed"
        )
    return s[rank - 1]


def highest_tail(
    xs: Sequence[float], min_beyond: int, levels=(0.99, 0.95, 0.9, 0.75, 0.5)
) -> tuple[float, float] | None:
    """The highest of ``levels`` whose quantile still has ``min_beyond``
    samples beyond it, as (level, value); None when none has."""
    for q in levels:
        try:
            return q, quantile(xs, q, min_beyond)
        except TooFewSamples:
            continue
    return None


def due_time(t0: float, i: int, interval_s: float) -> float:
    """Due time of generated file ``i`` on an open-loop schedule."""
    return t0 + i * interval_s


def max_lateness(due: Sequence[float], landed: Sequence[float]) -> float:
    """Largest delay between a file's due time and its landing (0 when
    every file landed on time, or none landed)."""
    return max((max(0.0, l - d) for d, l in zip(due, landed)), default=0.0)


def file_latencies(
    due: Sequence[float],
    batch_of_file: dict[int, int],
    commit_of_batch: dict[int, float],
    files: Iterable[int],
) -> list[float]:
    """Per file: commit time of the batch that holds it minus the file's
    due time. Files never committed are left out (the caller counts
    them as losses)."""
    out = []
    for f in files:
        b = batch_of_file.get(f)
        if b is not None and b in commit_of_batch:
            out.append(commit_of_batch[b] - due[f])
    return out


def lag_at(landed_at: Sequence[float], committed_files: int, t: float) -> int:
    """Files landed by time ``t`` minus files committed so far."""
    return sum(1 for x in landed_at if x <= t) - committed_files


@dataclass(frozen=True)
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None = None
    op: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: Sequence[Span]) -> dict[int, float]:
    """Each span's duration minus the durations of its direct children:
    the time spent in that layer itself."""
    out = {s.id: s.duration for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in out:
            out[s.parent] -= s.duration
    return out


def layer_self_totals(spans: Sequence[Span]) -> dict[str, float]:
    """Self-time summed per span name."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + selfs[s.id]
    return out


def child_coverage(spans: Sequence[Span], parent_id: int) -> float:
    """Share of a span's duration covered by its direct children."""
    parent = next(s for s in spans if s.id == parent_id)
    if parent.duration <= 0:
        return 1.0
    covered = sum(s.duration for s in spans if s.parent == parent_id)
    return covered / parent.duration
