"""Pure helpers of the benchmark: percentiles, the tail rule, span self
time, and the join of acknowledged puts to the mirror syncs that carry
them. No Spark, no Flight: the unit tests import this module alone."""

from __future__ import annotations

import math
import statistics

# Percentile ladder for the tail rule, highest first. Each rung covers a
# wide band of sample counts (p99 from 1000 samples, p95 from 200, p90
# from 100, p75 from 40), so runs of one workload report the same rung.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def percentile(values, pct: float) -> float | None:
    """Nearest-rank percentile of ``values`` (``pct`` in 0..100)."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[min(rank, len(xs)) - 1]


def tail(values, min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float | None, float | None]:
    """``(pct, value)``: the highest ladder percentile with at least
    ``min_beyond`` samples strictly above its rank. With too few samples
    for any rung the median stands in, so a tail is always reported next
    to its sample count."""
    xs = sorted(values)
    if not xs:
        return None, None
    n = len(xs)
    for pct in TAIL_LADDER:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= min_beyond:
            return pct, xs[rank - 1]
    return 50.0, percentile(xs, 50.0)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that
    its direct children cover. ``spans`` are mappings with ``id``,
    ``parent`` (None for a root), ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }


def mirror_lags(puts, syncs) -> tuple[list[float], int]:
    """Join acknowledged puts to syncs. ``puts`` are ``(ack_time,
    commit_seq)``; ``syncs`` are ``(end_time, synced_seq)`` where
    ``synced_seq`` is the source sequence number the sync brought the
    mirror up to. A put's lag runs from its ack to the end of the first
    sync, in end-time order, that ends after the ack and carries the
    put's commit. Returns the lags and how many puts no sync carried."""
    ordered = sorted(syncs, key=lambda s: s[0])
    lags: list[float] = []
    missed = 0
    for ack, seq in puts:
        for end, synced in ordered:
            if end >= ack and synced is not None and synced >= seq:
                lags.append(end - ack)
                break
        else:
            missed += 1
    return lags, missed
