"""Metric math of the benchmark (no Spark)."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench.check import canonical, expected_sync_state  # noqa: E402
from perfbench.metrics import (  # noqa: E402
    extends_window,
    geomean_of_medians,
    latencies_by_type,
    parse_size_total,
    per_row,
    scored_rounds,
    starts_round,
    tail_percentile,
)
from perfbench.trace import Tracer, covered  # noqa: E402


def test_geomean_of_per_type_medians():
    lat = {"a": [1.0, 9.0, 2.0], "b": [8.0]}  # medians 2 and 8
    assert geomean_of_medians(lat) == pytest.approx(4.0)
    # one op type: the plain median
    assert geomean_of_medians({"sync": [3.0, 1.0, 2.0, 10.0]}) == pytest.approx(2.5)
    # a type's outlier moves only its own median
    assert geomean_of_medians({"a": [1.0, 1.0, 100.0], "b": [4.0]}) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean_of_medians({})


def test_failed_op_never_lowers_latency():
    from perfbench.workloads import Op

    ok = [Op("a", 4.0, True, "g"), Op("a", 6.0, True, "g"), Op("b", 9.0, True, "g")]
    base = geomean_of_medians(latencies_by_type(ok))
    # the slow type failing fast must not look faster
    fast_fail = ok[:2] + [Op("b", 0.1, False, "g")]
    lat = latencies_by_type(fast_fail)
    assert lat["b"] == [math.inf]
    assert geomean_of_medians(lat) == math.inf > base
    # one failure among several samples of a type can only raise its median
    mixed = ok + [Op("a", 0.1, False, "g")]
    assert geomean_of_medians(latencies_by_type(mixed)) >= base


def test_round_with_a_failed_op_completes_nothing(monkeypatch):
    from perfbench import workloads
    from perfbench.workloads import Op, RunLog, measure

    clock = [0.0]
    monkeypatch.setattr(workloads.time, "perf_counter", lambda: clock[0])

    class Wl:
        def __init__(self, rounds):
            self.rounds = iter(rounds)

        def run_round(self, spark, meter, tag, sink):
            oks = next(self.rounds)
            sink.extend(Op("q", 1.0, ok, tag) for ok in oks)
            clock[0] += len(oks)
            return float(len(oks))

    log = RunLog()
    # three rounds of two ops fit a 5 s window; the middle one has a failure
    window = measure(Wl([[True, True], [True, False], [True, True]]), None, None, 5.0, log)
    assert window == 6.0 and len(log.timed) == 6
    assert log.round_done == [2, 0, 2]


def test_interfered_rounds_extend_the_window(monkeypatch):
    from perfbench import workloads
    from perfbench.workloads import Op, RunLog, measure

    clock = [0.0]
    monkeypatch.setattr(workloads.time, "perf_counter", lambda: clock[0])
    monkeypatch.setattr(workloads.os, "cpu_count", lambda: 4)

    class Wl:
        def __init__(self, steals):
            self.steals = iter(steals)

        def run_round(self, spark, meter, tag, sink):
            sink.append(Op("q", 10.0, True, tag, next(self.steals)))
            clock[0] += 10.0
            return 10.0

    # 4 s of steal in a 10 s round on 4 CPUs: 10% of the capacity
    log = RunLog()
    measure(Wl([4.0, 0.1, 9.0]), None, None, 5.0, log)
    assert len(log.round_walls) == 2  # a clean round ends the extension
    assert log.round_steal_share == [pytest.approx(0.1), pytest.approx(0.0025)]
    assert workloads.scored_ops(log)[0] == [1]
    log = RunLog()
    measure(Wl([0.1, 4.0]), None, None, 5.0, log)
    assert len(log.round_walls) == 1  # a clean round needs no more
    log = RunLog()
    measure(Wl([4.0] * 5), None, None, 5.0, log)
    assert len(log.round_walls) == 1 + workloads.EXTRA_ROUNDS
    assert workloads.scored_ops(log)[0] == list(range(1 + workloads.EXTRA_ROUNDS))  # none clean: all
    log, clock[0] = RunLog(), 0.0
    measure(Wl([4.0] * 5), None, None, 5.0, log, extend_until=15.0)
    assert len(log.round_walls) == 2  # no extra round starts after the deadline


def test_extends_window_while_every_round_was_interfered():
    assert extends_window([True], 3)
    assert extends_window([True, True], 3)
    assert not extends_window([True, False], 5)
    assert not extends_window([False], 3)
    assert not extends_window([True, True, True], 3)


def test_scored_rounds_keep_clean_and_failed_rounds():
    assert scored_rounds([True, False, False], [False] * 3) == [1, 2]
    assert scored_rounds([True, True], [False, False]) == [0, 1]
    # a failure is scored even in an interfered round
    assert scored_rounds([True, False], [True, False]) == [0, 1]


def _rounds(walls, seconds):
    elapsed, n = 0.0, 0
    for w in walls:
        if not starts_round(elapsed, n, seconds):
            break
        elapsed, n = elapsed + w, n + 1
    return n


def test_whole_round_window():
    # rounds start while fewer than `seconds` have elapsed, and finish
    assert _rounds([4.0, 4.0, 4.0, 4.0], 10.0) == 3
    assert _rounds([4.0, 4.0, 4.0], 8.0) == 2
    # at least one round, however long
    assert _rounds([30.0, 1.0], 5.0) == 1
    assert _rounds([1.0] * 3, 100.0) == 3


def test_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    p, v = tail_percentile([float(i) for i in range(20)])
    assert (p, v) == (50.0, 9.0)  # 10 samples above the 10th
    p, v = tail_percentile([float(i) for i in range(100)])
    assert (p, v) == (90.0, 89.0)
    s = [float(i) for i in range(37)]
    p, v = tail_percentile(s)
    assert sum(x > v for x in s) == 10


def test_write_bytes_per_row():
    assert per_row(1_000_000, 1825) == pytest.approx(547.945, rel=1e-5)
    with pytest.raises(ValueError):
        per_row(10, 0)


def test_size_metric_parsing():
    assert parse_size_total("12.0 KiB") == 12 * 1024
    assert parse_size_total("total (min, med, max (stageId: taskId))\n1.5 MiB (1.0 KiB, ...)") == 1.5 * (1 << 20)
    assert parse_size_total(None) == 0.0


def test_canonical_digest_is_order_insensitive():
    a = canonical([(1, 2.5), (2, 0.1)], ["x", "y"])
    b = canonical([(0.1, 2), (2.5, 1)], ["y", "x"])
    assert a == b
    assert a != canonical([(1, 2.5), (2, 0.2)], ["x", "y"])


def test_expected_sync_state_renames_and_replaces():
    rows = {
        2177353: [{"tx_id": "t1", "address": "a", "value": 1.0, "entity": "miner", "date": "d1"},
                  {"tx_id": "t1", "address": "b", "value": 2.0, "entity": "user", "date": "d2"}],
        5816212: [{"date": "d1", "price": 3.0}],
    }
    st = expected_sync_state(rows)
    assert st["input"] == {"t1": ("b", 2.0, "d2", "USER")}
    assert st["price_usd"] == {"d1": (3.0,)}


def test_self_time_and_coverage():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-1, 2)], 0, 1) == 1
    t = Tracer()
    outer = t.begin("outer")
    inner = t.begin("inner")
    t.end(inner)
    t.end(outer)
    t.spans[outer].start, t.spans[outer].end = 0.0, 10.0
    t.spans[inner].start, t.spans[inner].end = 1.0, 10.0
    assert t.spans[inner].parent == outer
    assert t.self_times() == {"outer": 1.0, "inner": 9.0}
    assert math.isclose(t.child_coverage("outer"), 0.9)


def test_wrap_counts_and_restores():
    class Thing:
        def f(self, x):
            return [x] * x

    t = Tracer()
    orig = Thing.f
    t.wrap(Thing, "f", "thing.f", after=lambda res, _a: t.count("rows", len(res)))
    assert Thing().f(3) == [3, 3, 3]
    assert t.counts == {"thing.f.calls": 1, "rows": 3}
    t.restore()
    assert Thing.f is orig
