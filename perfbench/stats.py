"""Pure statistics helpers of the benchmark (no Spark, no I/O)."""

from __future__ import annotations

import math
import statistics

# A tail percentile must leave at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile of ``xs`` that still
    has at least ``TAIL_MIN_BEYOND`` samples strictly beyond it.

    With n samples sorted ascending, the value at 0-based index
    ``n - TAIL_MIN_BEYOND - 1`` has exactly ``TAIL_MIN_BEYOND`` samples
    after it; its percentile is the share of samples at or below it.
    Below ``4 * TAIL_MIN_BEYOND`` samples that percentile would fall
    under p75 and is no tail: the nearest-rank p90 is returned instead,
    and its percentile (90) marks the tail as under-sampled."""
    s = sorted(xs)
    if not s:
        raise ValueError("tail of an empty sample")
    if len(s) < 4 * TAIL_MIN_BEYOND:
        return float(s[math.ceil(0.9 * len(s)) - 1]), 90.0
    i = len(s) - TAIL_MIN_BEYOND - 1
    return float(s[i]), 100.0 * (i + 1) / len(s)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the summed durations
    of its direct children (spans of one thread nest, they never overlap).

    ``spans`` are dicts with ``id``, ``parent`` (id or None), ``start``
    and ``end``; returns {span id: self seconds}."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in out:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Sum of span self times per layer (the span's ``layer`` key)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def quartile_spread(xs) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(xs, n=4)``)."""
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else float("inf")
