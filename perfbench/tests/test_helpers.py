"""Tests for the benchmark's pure helpers (no Spark needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json

import pytest

from perfbench import checks, stats
from perfbench.clients import Schedule, position_of
from perfbench.trace import Tracer
from perfbench.traffic import MAX_LATE_S, Traffic


# -- percentiles -------------------------------------------------------------
def test_percentile_interpolates():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([5], 95) == 5
    assert stats.percentile(range(101), 95) == 95


def test_tail_needs_ten_samples_beyond():
    # p95 leaves 5% beyond it: 200 samples give exactly ten
    assert stats.tail(list(range(200)), 95) == pytest.approx(189.05)
    with pytest.raises(ValueError, match="p95 needs 200 samples, got 199"):
        stats.tail(list(range(199)), 95)
    # p50 needs twenty
    assert stats.tail(list(range(20)), 50) == 9.5
    with pytest.raises(ValueError):
        stats.tail(list(range(19)), 50)


def test_max_supported_percentile():
    assert stats.max_supported_percentile(100) == 90.0
    assert stats.max_supported_percentile(1000) == 99.0
    assert stats.max_supported_percentile(5) == 0.0
    assert stats.max_supported_percentile(0) == 0.0


# -- stamps ------------------------------------------------------------------
def test_latency_from_stamps():
    created = {1: 10.0, 2: 10.5, 3: 11.0}
    seen = {1: 10.25, 2: 11.0}  # 3 never reached the sink: not a latency
    assert sorted(stats.latencies_ms(created, seen)) == [250.0, 500.0]


def test_generator_lateness():
    scheduled = [1.0, 2.0, 3.0]
    actual = [0.999, 2.010, 3.5]  # early ticks are not negative lateness
    assert stats.lateness_ms(scheduled, actual) == pytest.approx([0.0, 10.0, 500.0])
    with pytest.raises(ValueError):
        stats.lateness_ms([1.0], [1.0, 2.0])


# -- backlog -----------------------------------------------------------------
def test_backlog_steady_is_not_growing():
    # a sawtooth around a constant level: batches drain what arrived
    samples = [(t, 5000 if t % 2 else 1000) for t in range(20)]
    assert not stats.backlog_growing(samples, offered_per_s=8000)


def test_backlog_growing_is_detected():
    samples = [(t, 2000 * t) for t in range(10)]  # falls 2000 records/s behind
    assert stats.slope(samples) == pytest.approx(2000)
    assert stats.backlog_growing(samples, offered_per_s=8000)
    # 2000 records/s is under 5% of a 50k records/s offered rate
    assert not stats.backlog_growing(samples, offered_per_s=50_000)


def test_slope_degenerate():
    assert stats.slope([]) == 0.0
    assert stats.slope([(1, 5)]) == 0.0
    assert stats.slope([(1, 5), (1, 9)]) == 0.0


# -- spans -------------------------------------------------------------------
def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "name": "pipeline.drain", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "etl.a", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "name": "etl.b", "start": 3.0, "end": 6.0},  # overlaps a
        {"id": 3, "parent": 2, "name": "sink.c", "start": 4.0, "end": 5.0},
    ]
    got = stats.self_times(spans)
    assert got["pipeline.drain"] == pytest.approx(5.0)  # 10 - covered [1, 6)
    assert got["etl.a"] == pytest.approx(3.0)
    assert got["etl.b"] == pytest.approx(2.0)
    assert got["sink.c"] == pytest.approx(1.0)


def test_tracer_records_nesting_and_is_free_when_off(tmp_path):
    t = Tracer(enabled=True)
    with t.span("session.setup"):
        with t.span("session.get_spark"):
            pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [
        ("session.setup", None),
        ("session.get_spark", 0),
    ]
    assert set(t.layer_self_times()) == {"session"}
    t.write(str(tmp_path / "spans.json"))
    assert len(json.loads((tmp_path / "spans.json").read_text())) == 2
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


# -- traffic -----------------------------------------------------------------
SHARES = (0.05, 0.05)  # malformed, redelivered


def _due(pos: int) -> float:
    return 1_700_000_000.0 + pos / 1000.0


def test_traffic_is_a_function_of_the_seed():
    a, b, c = Traffic(3, *SHARES), Traffic(3, *SHARES), Traffic(4, *SHARES)
    pa = [a.stream_payload(g, _due) for g in range(300)]
    assert pa == [b.stream_payload(g, _due) for g in range(300)]
    assert pa != [c.stream_payload(g, _due) for g in range(300)]


def test_stream_payload_is_the_v1_rendering():
    t = Traffic(5, *SHARES)
    checked = 0
    for g in range(2000):
        root, d = t.root_of(g)
        if d.malformed:
            with pytest.raises(json.JSONDecodeError):
                json.loads(t.stream_payload(g, _due))
            continue
        payload = t.stream_payload(g, _due)
        assert payload == t.v1_json(root, _due(root))
        assert position_of(payload) == root
        checked += 1
    assert checked > 1500


def test_log_input_line_carries_the_record():
    t = Traffic(5, *SHARES)
    rec = json.loads(t.log_input_line(42, _due(42)))
    assert rec["data"].startswith("42 ")
    assert set(rec) == {
        "data", "source", "time", "container_id", "container_name", "image", "hostname", "labels",
    }


def test_traffic_shares_and_skew():
    t = Traffic(9, *SHARES)
    n = 20_000
    draws = [t.draw(g) for g in range(n)]
    assert 0.03 < sum(d.malformed for d in draws) / n < 0.07
    assert 0.03 < sum(d.repeats is not None for d in draws) / n < 0.07
    assert 0.01 < sum(d.late_s > 0 for d in draws) / n < 0.05
    assert max(d.late_s for d in draws) <= MAX_LATE_S
    hottest = max(sum(d.container == k for d in draws) for k in range(3))
    assert hottest / n > 0.1  # Zipf: the top container is far above 1/128
    lengths = [len(t.bodies[d.body]) for d in draws]
    assert min(lengths) < 80 and max(lengths) > 1500


def test_schedule_exposes_positions_over_time(tmp_path):
    open_path = str(tmp_path / "t_open")
    s = Schedule(backlog=100, total=150, rate=10.0, t_start=50.0, open_path=open_path)
    assert s.available(1e9) == 100  # not open yet: only the backlog
    assert s.due(0) == 40.0 and s.due(99) == pytest.approx(49.9)
    with open(open_path, "w") as f:
        f.write("60.0")
    assert s.available(59.0) == 100
    assert s.available(60.0) == 101
    assert s.available(62.05) == 121
    assert s.available(1e9) == 150
    assert s.due(120) == 62.0


# -- checks ------------------------------------------------------------------
def _call(t, task, by_key, retried=()):
    return {"t": t, "stage": 1, "task": task, "by_key": by_key, "retried": list(retried)}


def test_order_violations_per_key_and_file():
    calls = [
        _call(1.0, 0, {"k": [0, 1, 3]}),
        _call(2.0, 0, {"k": [2, 4, 5]}),  # 2 after 3, same file of 10: one violation
    ]
    assert checks.order_violations(calls, base=0, per_file=10) == 1
    # a record accepted on a retry may arrive late
    calls[1]["retried"] = [2]
    assert checks.order_violations(calls, base=0, per_file=10) == 0
    # different files of one key are not ordered against each other
    assert checks.order_violations([_call(1.0, 0, {"k": [12, 3]})], base=0, per_file=10) == 0


def test_count_failures_count_each_record_once():
    expected = {(1, "a"): (3, 1), (1, "b"): (2, 0), "quarantined": (4, 0)}
    assert checks.count_failures(dict(expected), expected) == 0
    # one malformed stderr record parsed partially: counted under a NULL
    # container instead of quarantined
    got = {(1, "a"): (3, 1), (1, "b"): (2, 0), (1, None): (1, 0), "quarantined": (3, 0)}
    assert checks.count_failures(got, expected) == 1
    # one record moved from a to b, keeping its error flag
    got = {(1, "a"): (2, 0), (1, "b"): (3, 1), "quarantined": (4, 0)}
    assert checks.count_failures(got, expected) == 1
    # one record of b lost and two of a duplicated
    got = {(1, "a"): (5, 1), (1, "b"): (1, 0), "quarantined": (4, 0)}
    assert checks.count_failures(got, expected) == 2


def test_expected_windows_dedups_and_quarantines():
    t = Traffic(11, *SHARES)
    counts, quarantined = checks.expected_windows(t, range(0, 3000), _due)
    roots = {t.root_of(g)[0] for g in range(3000) if not t.root_of(g)[1].malformed}
    assert sum(n for n, _ in counts.values()) == len(roots)
    assert quarantined == sum(t.root_of(g)[1].malformed for g in range(3000))


def test_oracle_canonical_rows_ignore_column_and_row_order():
    a = checks.canonical_rows(["b", "a"], [(2, 1.5), (1, 0.5)])
    b = checks.canonical_rows(["a", "b"], [(0.5, 1), (1.5, 2)])
    assert a == b
