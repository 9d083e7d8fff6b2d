"""Pure helpers: percentiles, latency and lateness from stamps, backlog
growth, self time from spans, and merging of per-task stats files."""

from __future__ import annotations

import glob
import json
import math
import os
import statistics

#: A tail percentile is reported only when this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def max_supported_percentile(n: int) -> float:
    """The highest percentile with at least ``MIN_BEYOND`` of ``n`` samples above it."""
    return max(0.0, 100.0 * (1.0 - MIN_BEYOND / n)) if n else 0.0


def tail(values, q: float) -> float:
    """The ``q``-th percentile, refused when fewer than ``MIN_BEYOND`` samples
    lie beyond it (the value would be set by a handful of samples)."""
    n = len(values)
    if q > max_supported_percentile(n):
        raise ValueError(f"p{q:g} needs {math.ceil(MIN_BEYOND * 100 / (100 - q))} samples, got {n}")
    return percentile(values, q)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def latencies_ms(created: dict, seen: dict) -> list[float]:
    """Per-record latency: when the sink saw each record minus when the
    generator created it (both epoch seconds, keyed by record id).  Records
    never seen are not latencies; the output checks count them as lost."""
    return [(seen[k] - created[k]) * 1e3 for k in seen.keys() & created.keys()]


def lateness_ms(scheduled, actual) -> list[float]:
    """How far behind its schedule an open-loop generator ran, per tick."""
    return [max(0.0, (a - s) * 1e3) for s, a in zip(scheduled, actual, strict=True)]


def slope(points) -> float:
    """Least-squares slope of ``[(x, y), ...]``."""
    n = len(points)
    if n < 2:
        return 0.0
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx


#: A backlog growing faster than this share of the offered rate means the
#: pipeline is not keeping up.
GROWTH_TOLERANCE = 0.05


def backlog_growing(samples, offered_per_s: float) -> bool:
    """True when the backlog ``[(t, records), ...]`` grows by more than
    ``GROWTH_TOLERANCE`` of the offered rate: the pipeline is not keeping up."""
    return slope(samples) > GROWTH_TOLERANCE * offered_per_s


def self_times(spans) -> dict[str, float]:
    """Self time per span name: its duration minus the part of it that its
    child spans cover.  ``spans`` are dicts with id, parent, name, start, end."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
    return out


def read_stats(stats_dir: str, prefix: str) -> list[dict]:
    """Merge the JSON-lines files that executor-side clients wrote, one per
    client instance, into one list of call records."""
    rows = []
    for path in sorted(glob.glob(os.path.join(stats_dir, f"{prefix}-*.jsonl"))):
        with open(path) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows
