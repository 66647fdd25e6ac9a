"""Summary statistics shared by the benchmark and its repeat tool.

- ``tail``: the highest percentile that still has at least ten samples
  beyond it, with the count.
- ``spread``: interquartile distance as a share of the median.
- ``compare_sets``: the run-to-run check between two sets of runs of one
  commit, against each metric's bound from BENCHMARK.json.
- ``self_times``: a span's duration minus the part its children cover.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass

MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


@dataclass(frozen=True)
class Tail:
    percentile: float  # 0..100
    value: float
    beyond: int  # samples strictly above the percentile's rank
    n: int


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> Tail | None:
    """Highest whole percentile p with at least ``min_beyond`` samples
    beyond it.  Nearest-rank: the p-th percentile of n sorted samples is
    the ceil(p/100 * n)-th smallest, and the samples beyond it are the
    n - rank larger ones.  None when n <= min_beyond (no percentile has
    that many samples beyond it)."""
    n = len(values)
    if n <= min_beyond:
        return None
    xs = sorted(values)
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= min_beyond:
            return Tail(float(p), float(xs[rank - 1]), n - rank, n)
    return Tail(0.0, float(xs[0]), n - 1, n)


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / abs(med) if med else math.inf


@dataclass(frozen=True)
class Verdict:
    metric: str
    median_a: float
    median_b: float
    spread_a: float
    spread_b: float
    bound: float
    ok: bool
    reason: str


def compare_sets(
    set_a: list[dict[str, float]],
    set_b: list[dict[str, float]],
    specs: list[dict],
    spread_exempt: tuple[str, ...] = ("setup_s",),
) -> list[Verdict]:
    """Check two sets of runs of ONE commit against each metric's bound.

    ``set_a`` / ``set_b``: one {metric: value} dict per run.  ``specs``:
    the ``end_to_end`` entries of BENCHMARK.json (name, better, bound).
    A metric passes when each set's spread stays within its bound
    (except the exempt set-up metric) and set B's median is not worse
    than set A's by more than the bound, in the metric's own direction.
    """
    out = []
    for spec in specs:
        name, bound = spec["name"], float(spec["bound"])
        a = [r[name] for r in set_a]
        b = [r[name] for r in set_b]
        ma, mb = median(a), median(b)
        sa, sb = spread(a), spread(b)
        if spec["better"] == "lower":
            worse = (mb - ma) / abs(ma) if ma else math.inf
        else:
            worse = (ma - mb) / abs(ma) if ma else math.inf
        reasons = []
        if name not in spread_exempt:
            if sa > bound:
                reasons.append(f"spread A {sa:.3f} > {bound}")
            if sb > bound:
                reasons.append(f"spread B {sb:.3f} > {bound}")
        if worse > bound:
            reasons.append(f"B worse than A by {worse:.3f} > {bound}")
        out.append(Verdict(name, ma, mb, sa, sb, bound, not reasons, "; ".join(reasons)))
    return out


@dataclass(frozen=True)
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id → duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start) - covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }
