"""Tests of the benchmark's own logic (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import common, scenario
from perfbench.common import Tracer, percentile, tail, tail_pct

PAYLOADS = scenario.load_payloads(os.path.join(common.DATA, "events.parquet"))


def _interleaved(seed, ticks, rows_per_tick, every=10, length=30, lead=40):
    """A layout whose notifications and records interleave: a batch opens
    every ``every`` ticks, stays open ``length`` ticks, and its sendCompleted
    follows its last record."""
    windows = [(o, o + length) for o in range(0, ticks - length + 1, every)]
    return scenario.build(seed, ticks, rows_per_tick, windows, PAYLOADS, lead=lead)


# ---- the tail-percentile rule ---------------------------------------------

@pytest.mark.parametrize("n,wanted,expect", [
    (10_000, 99, 99.0),  # 100 samples beyond p99
    (1_000, 99, 99.0),  # exactly 10 beyond
    (999, 99, 100.0 * 989 / 999),  # p99 would leave 9.99: back off
    (200, 99, 95.0),
    (200, 90, 90.0),
    (40, 95, 75.0),
    (20, 95, 50.0),
    (5, 99, 50.0),  # too small for any tail: the median
])
def test_tail_pct(n, wanted, expect):
    assert tail_pct(n, wanted) == pytest.approx(expect)


@pytest.mark.parametrize("n", [20, 57, 200, 999, 1000, 4321])
def test_tail_leaves_ten_samples_beyond(n):
    xs = list(range(n))
    t = tail(xs, 99)
    assert sum(1 for x in xs if x > t) >= common.MIN_BEYOND
    assert t >= percentile(xs, 50)


@pytest.mark.parametrize("seconds,nominal,expect", [
    (16, 13, 1), (16, 7, 2), (30, 7, 4), (1, 13, 1),
])
def test_units_fixed_by_arguments(seconds, nominal, expect):
    assert common.units(seconds, nominal) == expect


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([5], 99) == 5
    with pytest.raises(ValueError):
        percentile([], 50)


# ---- self time ---------------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    tr = Tracer(enabled=True)
    root = tr.add("batch", 0.0, 10.0, 7)
    tr.add("sink.a", 1.0, 4.0, 7, root)
    tr.add("sink.b", 2.0, 5.0, 7, root)  # overlaps sink.a: union is 1..5
    tr.add("dim.read", 6.0, 7.0, 7, root)
    tr.add("late", 9.0, 12.0, 7, root)  # only 9..10 lies inside the parent
    tr.compute_self_times()
    self_s = {s.name: s.self_s for s in tr.spans}
    assert self_s["batch"] == pytest.approx(10 - 4 - 1 - 1)
    assert self_s["sink.a"] == pytest.approx(3.0)
    assert self_s["late"] == pytest.approx(3.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    assert tr.add("x", 0, 1, 1) is None
    assert tr.spans == []


def test_covered():
    assert common.covered([]) == 0
    assert common.covered([(0, 1), (2, 3)]) == 2
    assert common.covered([(0, 2), (1, 3), (5, 6)]) == 4


# ---- generator determinism ----------------------------------------------------

def _fingerprint(scn):
    return (
        scn.batch_of, scn.valid,
        [(n.tick, n.row) for n in scn.notifications],
        [(f.tick, f.lo, f.hi) for f in scn.files],
        [scn.record_rows(f) for f in scn.files[:3]],
    )


@pytest.mark.parametrize("make", [
    lambda seed: _interleaved(seed, 120, 20),
    lambda seed: scenario.burst(seed, 6, 200, PAYLOADS),
])
def test_same_seed_same_inputs(make):
    assert _fingerprint(make(5)) == _fingerprint(make(5))
    assert _fingerprint(make(5)) != _fingerprint(make(6))


def test_every_route_and_outcome_occurs():
    scn = _interleaved(3, 150, 40)
    routes = {scn.expected_route(o)[:2] for o in range(len(scn.batch_of))}
    assert routes >= {
        ("valid", None), ("drop", None), ("invalid", "missing_batch_id"),
        ("invalid", "unknown_batch_id"), ("invalid", "batch_completed"),
        ("invalid", "validator"),
    }
    kinds = [b.kind for b in scn.batches.values()]
    assert kinds.count(scenario.THRESHOLD) == 3
    for k in (scenario.OVERFLOW, scenario.TERMINATED, scenario.COMPLETED):
        assert kinds.count(k) == 1


def test_bodies_are_event_rows():
    """Well-formed records carry an events row verbatim; malformed ones the
    same row cut short, which no JSON parser accepts."""
    scn = scenario.burst(7, 3, 100, PAYLOADS)
    for f in scn.files:
        rows = scn.record_rows(f)
        for off, body in zip(rows["offset"], rows["value"]):
            row = PAYLOADS[scn.payload_of[off]]
            if scn.valid[off]:
                assert body == row and "event_type" in json.loads(body)
            else:
                assert body == row[:-1]
                with pytest.raises(ValueError):
                    json.loads(body)


# ---- the expected-outcome model against the reference tracker -----------------

def _simulate(scn, timeout_ms=1000):
    """Feed the scenario's notifications and count events, in due order,
    through the program's TrackerSimulator."""
    from hri_flink_pipeline_core_spark.operators.tracker import TrackerSimulator

    sim = TrackerSimulator(timeout_ms=timeout_ms)
    tick_ms = 100
    notifs = sorted(scn.notifications, key=lambda n: (n.tick, n.row["offset"]))
    i = 0
    for f in scn.files:
        sim.set_processing_time(max(0, f.tick) * tick_ms)
        while i < len(notifs) and notifs[i].tick <= f.tick:
            row = {k: v for k, v in notifs[i].row.items() if k != "offset"}
            sim.send_notification(row)
            i += 1
        for off in range(f.lo, f.hi):
            if scn.emits_count(off):
                sim.send_count(scn.batch_of[off], scn.valid[off])
    for n in notifs[i:]:
        sim.send_notification({k: v for k, v in n.row.items() if k != "offset"})
    sim.set_processing_time(10**9)
    return sim


@pytest.mark.parametrize("make", [
    lambda: _interleaved(11, 150, 25),
    lambda: scenario.burst(12, 8, 150, PAYLOADS, n_batches=30),
])
def test_model_matches_tracker_simulator(make):
    scn = make()
    sim = _simulate(scn)
    got = {
        o["id"]: (o["status"], o["actualRecordCount"], o["invalidRecordCount"])
        for o in sim.outputs()
    }
    assert len(sim.outputs()) == len(got)  # at most one terminal per batch
    assert got == scn.expected_terminals()


# ---- the checker fails planted faults -----------------------------------------

_FAILURE = {
    "missing_batch_id": "Bad Message - No header or batchId node",
    "unknown_batch_id": "Bad Message - Unknown batchId",
    "batch_completed": "Bad Message - batchId is already completed",
    "validator": "Invalid JSON: unable to parse record value: {",
}


def _perfect(scn):
    valid, invalid = [], []
    for off in range(len(scn.batch_of)):
        route, rule, bid = scn.expected_route(off)
        if route == scenario.VALID:
            valid.append(off)
        elif route == scenario.INVALID:
            invalid.append((off, _FAILURE[rule], bid))
    calls = []
    for bid, (status, actual, inv) in scn.expected_terminals().items():
        action = "processingComplete" if status == "completed" else "fail"
        calls.append((bid, action, {"actualRecordCount": actual,
                                    "invalidRecordCount": inv}))
    return valid, invalid, calls


@pytest.fixture(scope="module")
def small():
    return _interleaved(21, 120, 20)


def test_checker_accepts_the_model(small):
    res = scenario.check(small, *_perfect(small))
    assert res.failed == 0, res.problems
    assert res.attempted == len(small.batch_of) + len(small.batches)
    assert sum(res.routes.values()) == len(small.batch_of)


def test_checker_fails_a_misroute(small):
    valid, invalid, calls = _perfect(small)
    moved = valid.pop()
    invalid.append((moved, _FAILURE["validator"], small.batch_of[moved]))
    res = scenario.check(small, valid, invalid, calls)
    assert res.failed == 1 and "record" in res.problems[0]


def test_checker_fails_a_wrong_rule(small):
    valid, invalid, calls = _perfect(small)
    off, _f, bid = invalid[0]
    invalid[0] = (off, _FAILURE["batch_completed"]
                  if _f != _FAILURE["batch_completed"] else _FAILURE["validator"], bid)
    assert scenario.check(small, valid, invalid, calls).failed == 1


def test_checker_fails_lost_and_duplicate_records(small):
    valid, invalid, calls = _perfect(small)
    assert scenario.check(small, valid[1:], invalid, calls).failed == 1
    assert scenario.check(small, valid + valid[:2], invalid, calls).failed == 2


def test_checker_fails_an_output_for_a_dropped_record(small):
    valid, invalid, calls = _perfect(small)
    dropped = next(o for o in range(len(small.batch_of))
                   if small.expected_route(o)[0] == scenario.DROP)
    assert scenario.check(small, valid + [dropped], invalid, calls).failed == 1


def test_checker_fails_a_missing_terminal(small):
    valid, invalid, calls = _perfect(small)
    res = scenario.check(small, valid, invalid, calls[1:])
    assert res.failed == 1 and "batch" in res.problems[0]


def test_checker_fails_wrong_and_duplicate_terminals(small):
    valid, invalid, calls = _perfect(small)
    bid, action, body = calls[0]
    wrong = [(bid, action, {**body, "actualRecordCount": body["actualRecordCount"] + 1})]
    assert scenario.check(small, valid, invalid, wrong + calls[1:]).failed == 1
    assert scenario.check(small, valid, invalid, calls + calls[:1]).failed == 1
    stray = ("batch-unknown-0", "fail", body)
    assert scenario.check(small, valid, invalid, calls + [stray]).failed == 1


def test_checker_without_tracker_counts_records_only(small):
    valid, invalid, _calls = _perfect(small)
    res = scenario.check(small, valid, invalid, None)
    assert res.failed == 0 and res.attempted == len(small.batch_of)
    assert scenario.check(small, valid[1:], invalid, None).failed == 1
