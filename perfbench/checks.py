"""Output checks and the reading of stand-in client stats.

Every record check returns a count of failed records; the run reports their
sum as ``failed`` against the records ``attempted``.  The oracle check of
the ``plans`` layer counts queries, which the traced run reports apart.
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
import math
from collections import Counter, defaultdict

from perfbench.stats import median, percentile


def progress_end_time(p: dict) -> float:
    """Epoch seconds at which the micro-batch of progress event ``p`` ended."""
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return calendar.timegm(start.timetuple()) + start.microsecond / 1e6 + (
        p["durationMs"].get("triggerExecution", 0) / 1e3
    )


# -- ship ------------------------------------------------------------------
def _accepted(calls) -> Counter:
    counts: Counter = Counter()
    for c in calls:
        for ps in c["by_key"].values():
            counts.update(ps)
    return counts


def first_accepted_at(calls) -> dict[int, float]:
    """When the sink first accepted each position (epoch seconds)."""
    seen: dict[int, float] = {}
    for c in sorted(calls, key=lambda c: c["t"]):
        for ps in c["by_key"].values():
            for p in ps:
                seen.setdefault(p, c["t"])
    return seen


def order_violations(calls, base: int, per_file: int) -> int:
    """Records that reached the sink before an earlier record of the same key
    and input file.  Records accepted on a retry are exempt: the sink re-sends
    them after the rest of their call, as Kinesis clients do."""
    by_task = defaultdict(list)
    for c in calls:
        by_task[(c["stage"], c["task"])].append(c)
    bad = 0
    for task_calls in by_task.values():
        last: dict = {}
        for c in sorted(task_calls, key=lambda c: c["t"]):
            retried = set(c["retried"])
            for key, ps in c["by_key"].items():
                for p in ps:
                    if p in retried:
                        continue
                    f = (key, (p - base) // per_file)
                    if last.get(f, -1) > p:
                        bad += 1
                    last[f] = max(last.get(f, -1), p)
    return bad


def ship_failures(traffic, calls, positions: range, per_file: int, created) -> int:
    """Lost, duplicated, unexpected, out-of-order and mis-rendered records."""
    counts = _accepted(calls)
    lost = sum(1 for p in positions if counts[p] == 0)
    duplicated = sum(n - 1 for p, n in counts.items() if n > 1 and p in positions)
    unexpected = sum(n for p, n in counts.items() if p not in positions)
    misrendered = sum(
        1
        for c in calls
        for p, payload in c["samples"].items()
        if payload != traffic.v1_json(int(p), created(int(p)))
    )
    return (
        lost
        + duplicated
        + unexpected
        + misrendered
        + order_violations(calls, positions.start, per_file)
    )


def sink_metrics(calls) -> dict[str, float]:
    """The ``sink.*`` per-layer metrics from the stand-in's call records."""
    sent = sum(c["n"] for c in calls)
    accepted = sum(len(ps) for c in calls for ps in c["by_key"].values())
    per_stage: dict = defaultdict(Counter)
    for c in calls:
        per_stage[c["stage"]][c["task"]] += c["n"] - c["refused"]
    busiest = sum(max(t.values()) for t in per_stage.values())
    return {
        "sink.put_calls": len(calls),
        "sink.records_per_call": sent / max(1, len(calls)),
        "sink.retried_records": sum(c["refused"] for c in calls),
        "sink.attempts_per_record": sent / max(1, accepted),
        "sink.client_ms": sum(c["ms"] for c in calls),
        "sink.bytes_out": sum(c["bytes"] for c in calls),
        "sink.busiest_task_share": busiest / max(1, accepted),
    }


# -- consume ---------------------------------------------------------------
def expected_windows(traffic, positions: range, due) -> tuple[dict, int]:
    """Pure-Python recomputation of the consumer's output for the stream
    positions one query reads: per (minute, container) record and error
    counts after quarantine and dedup, and the quarantine count."""
    counts: dict = defaultdict(lambda: [0, 0])
    seen: set[int] = set()
    quarantined = 0
    for g in positions:
        root, d = traffic.root_of(g)
        if d.malformed:
            quarantined += 1
            continue
        if root in seen:
            continue
        seen.add(root)
        us = round((due(root) - d.late_s) * 1e6)
        key = (us // 60_000_000, traffic.containers[d.container].name[1:])
        counts[key][0] += 1
        counts[key][1] += d.stderr
    return {k: tuple(v) for k, v in counts.items()}, quarantined


def count_failures(got: dict, expected: dict) -> int:
    """The fewest records whose loss, duplication or misplacement explains
    how the ``(records, errors)`` counts per bin in ``got`` differ from
    ``expected``.  A wrong record raises at most one bin by one and lowers at
    most one other by one in each column, so it is counted once: the larger
    of the total surplus and the total shortfall, in the worse column."""
    worst = 0
    for col in (0, 1):
        diffs = [
            got.get(k, (0, 0))[col] - expected.get(k, (0, 0))[col]
            for k in got.keys() | expected.keys()
        ]
        worst = max(worst, sum(d for d in diffs if d > 0), -sum(d for d in diffs if d < 0))
    return worst


def state_metrics(progress: list[dict]) -> dict[str, float]:
    """The ``state.*`` per-layer metrics from progress events."""
    ops = [p.get("stateOperators", []) for p in progress]
    return {
        "state.rows_total_end": sum(o["numRowsTotal"] for o in ops[-1]) if ops else 0,
        "state.memory_bytes_peak": max((sum(o["memoryUsedBytes"] for o in b) for b in ops), default=0),
        "state.commit_ms_p50": median([sum(o["commitTimeMs"] for o in b) for b in ops]),
        "state.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for b in ops for o in b
        ),
        "state.duplicates_dropped": sum(
            o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for b in ops for o in b
        ),
    }


def pull_metrics(calls, progress: list[dict], available_at) -> dict[str, float]:
    """The ``pull_source.*`` per-layer metrics: call counts and times from the
    stand-in, lag and shard skew from the progress events' offsets."""
    gets = [c for c in calls if c.get("call") == "get"]
    lags, skews = [], []
    for p in progress:
        src = p["sources"][0]
        end = offsets(src["endOffset"])
        start = offsets(src["startOffset"]) if src.get("startOffset") else {}
        lags.append(max(0, available_at(progress_end_time(p)) - sum(end.values())))
        sizes = [end[s] - start.get(s, 0) for s in end]
        if sum(sizes):
            skews.append(max(sizes) / (sum(sizes) / len(sizes)))
    return {
        "pull_source.get_records_calls": len(gets),
        "pull_source.records_per_call": sum(c["n"] for c in gets) / max(1, len(gets)),
        "pull_source.iterator_calls": sum(1 for c in calls if c.get("call") == "iterator"),
        "pull_source.latest_sequences_calls": sum(1 for c in calls if c.get("call") == "latest"),
        "pull_source.client_ms": sum(c["ms"] for c in gets),
        "pull_source.lag_records_p95": percentile(lags, 95) if lags else 0,
        "pull_source.partition_skew": median(skews),
    }


def offsets(raw) -> dict[str, int]:
    """A pull-source offset (``{shard: next sequence}``) from a progress event."""
    d = json.loads(raw) if isinstance(raw, str) else raw
    return {k: int(v) for k, v in d.items()}


# -- plans ---------------------------------------------------------------
def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def canonical_rows(columns: list[str], rows) -> list[tuple]:
    """Rows with columns in name order and values made comparable, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r),
    )


def oracle_mismatch(spark_columns, spark_rows, con, sql: str) -> str | None:
    """Compare a collected Spark result with its DuckDB oracle exactly;
    return a description of the first difference, or None."""
    rel = con.sql(sql)
    if sorted(c.lower() for c in spark_columns) != sorted(c.lower() for c in rel.columns):
        return f"columns {sorted(spark_columns)} != {sorted(rel.columns)}"
    got = canonical_rows(list(spark_columns), spark_rows)
    want = canonical_rows(list(rel.columns), rel.fetchall())
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    for a, b in zip(got, want):
        if a != b:
            return f"row {a} != oracle {b}"
    return None
