"""Pure helpers for the benchmark's statistics (no Spark, unit-tested)."""

from __future__ import annotations

import re
import statistics
from collections.abc import Iterable
from dataclasses import dataclass

TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """Latency at the highest percentile with at least ``beyond`` samples
    above it, as ``(value, percentile)``.

    Nearest rank: the value of rank ``n - beyond`` among ``n`` sorted
    samples, which is the ``100 * (n - beyond) / n`` percentile.
    """
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples for a tail, got {n}")
    rank = n - beyond
    return sorted(samples)[rank - 1], 100.0 * rank / n


def timing(samples: list[float]) -> dict:
    """Median, tail and sample count of one set of latencies."""
    value, pct = tail(samples)
    return {
        "p50": statistics.median(samples),
        "tail": value,
        "tail_pct": pct,
        "n": len(samples),
    }


_FAIL = re.compile(r"^FAIL (\S+?):", re.M)


def oracle_failures(selfcheck_output: str) -> list[str]:
    """Query names that `tools/selfcheck.py` reported as FAIL."""
    return sorted(set(_FAIL.findall(selfcheck_output)))


def failed_queries(errors: Iterable[str], oracle_failed: Iterable[str]) -> dict[str, int]:
    """Failures by query: one per timed run that raised, plus one per
    query that failed its oracle."""
    out: dict[str, int] = {}
    for name in list(errors) + list(oracle_failed):
        out[name] = out.get(name, 0) + 1
    return out


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float
    query: str

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Children of one parent never overlap (spans come from one thread), so
    the covered part is the sum of the children's durations, clipped to
    the parent's interval.
    """
    own = {s.sid: s.dur for s in spans}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            own[p.sid] -= max(0.0, min(s.end, p.end) - max(s.start, p.start))
    return own


def layer_self_seconds(spans: list[Span]) -> dict[str, float]:
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + own[s.sid]
    return out

