"""Pure statistics for the benchmark: medians, the tail-percentile
rule, open-loop lateness accounting, and span self time. No Spark."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10  # samples that must lie beyond a reported tail


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return float(s[lo] + (s[hi] - s[lo]) * (k - lo))


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int | None:
    """The highest whole percentile p with at least ``min_beyond`` of
    ``n`` samples beyond it (n * (1 - p/100) >= min_beyond); None when
    even the median would have fewer than that."""
    if n <= 0:
        return None
    p = math.floor(100 * (1 - min_beyond / n) + 1e-9)
    return p if p >= 50 else None


def tail(xs, min_beyond: int = TAIL_MIN_BEYOND) -> tuple[int, float]:
    """(percentile, value) under the tail rule."""
    p = tail_percentile(len(xs), min_beyond)
    if p is None:
        raise ValueError(f"{len(xs)} samples: too few for a tail with "
                         f"{min_beyond} beyond it")
    return p, percentile(xs, p)


def tail_or_max(xs, min_beyond: int = TAIL_MIN_BEYOND) -> tuple[int, float]:
    """``tail``, or (100, max) when there are too few samples for it."""
    if tail_percentile(len(xs), min_beyond) is None:
        return 100, float(max(xs))
    return tail(xs, min_beyond)


def lateness(due: list[float], landed: list[float]) -> list[float]:
    """Per-item generator lateness: landed - due, floored at 0 (an
    item landing early is a generator bug, reported as 0 here and
    caught by ``open_loop_report``)."""
    return [max(0.0, l - d) for d, l in zip(due, landed)]


def open_loop_report(due: list[float], landed: list[float],
                     visible: list[float | None], window_end: float,
                     max_lateness: float, latency_limit: float) -> dict:
    """Open-loop accounting for one run. Latency runs from each item's
    DUE time (not from when the generator got round to it), so a slow
    generator cannot hide queueing. ``visible[i]`` is the commit time
    that made item i visible, None if it never was.

    Returns latencies of the items visible within ``latency_limit``,
    the count that failed (invisible or over the limit), the backlog at
    ``window_end`` (due by then but not yet visible), the generator's
    worst lateness, and ``valid`` = the generator kept its schedule."""
    late = lateness(due, landed)
    early = any(l < d for d, l in zip(due, landed))
    lat, failed = [], 0
    for d, v in zip(due, visible):
        if v is None or v - d > latency_limit:
            failed += 1
        else:
            lat.append(v - d)
    backlog = sum(1 for d, v in zip(due, visible)
                  if d <= window_end and (v is None or v > window_end))
    worst = max(late, default=0.0)
    return {"latencies": lat, "failed": failed, "backlog": backlog,
            "max_lateness_s": worst,
            "valid": worst <= max_lateness and not early}


def intake_growth(intake: list[int]) -> float | None:
    """Files the last loaded batch took / files the first loaded batch
    took. A loaded batch is neither the first (it starts from idle)
    nor the last (it takes the end of the schedule). Near 1 while the
    stream keeps up, well above 1 when its backlog grows; None with
    fewer than two loaded batches."""
    return intake[-2] / intake[1] if len(intake) >= 4 else None


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of it covered
    by the union of its direct children's intervals (children running
    concurrently on other threads are not double-subtracted)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(
            [(max(a, s["start"]), min(b, s["end"]))
             for a, b in kids.get(s["id"], [])])
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def union_length(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total

