"""Pure arithmetic of the benchmark: percentiles, span self time, ratios.

No Spark, no I/O; ``test_stats.py`` pins every rule here.
"""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

#: samples that must lie beyond a reported tail percentile
TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: Sequence[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    strictly above its rank: ``(value, percentile, n)``.

    With nearest-rank percentiles that is the (n - 10)-th order
    statistic, the 11th largest sample, at percentile 100*(n-10)/n. When
    that rank falls below the median (n <= 20) the median is reported
    and the percentile reads 50."""
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    rank = n - TAIL_BEYOND  # 1-based rank of the tail sample
    if rank < (n + 1) / 2:
        return median(values), 50.0, n
    return float(sorted(values)[rank - 1]), 100.0 * rank / n, n


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of it that
    its child spans cover. Spans are dicts with ``id``, ``parent``
    (an id or None), ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }


def fail_ratio(attempted: int, failed: int) -> float:
    """Ops that raised or failed their result check over ops attempted."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def combine_ratio(stages: Iterable[dict]) -> float:
    """Useful-to-attempted ratio of map-side combining: shuffle records
    written over input records read, summed over the stages that both
    read input and write shuffle output (the map stages). 1.0 means the
    combiner merged nothing; lower is better."""
    read = written = 0
    for s in stages:
        if s["input_records"] > 0 and s["shuffle_write_records"] > 0:
            read += s["input_records"]
            written += s["shuffle_write_records"]
    return written / read if read else 0.0


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them — the run-to-run spread the bounds are set against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0
