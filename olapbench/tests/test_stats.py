"""The latency-tail rule, the self-time arithmetic and the timed window."""

import itertools
import statistics
from types import SimpleNamespace

import pytest

import run
import workloads as W
from tracing import Span, Tracer, covered_length, cpu_ticks, latency_tail, net_of_steal, self_times


def _window(seconds, alternate):
    """Run a window of two-operation rounds, each operation taking 10 ms;
    returns (op id, tracing on) per operation."""
    tracer = Tracer(enabled=alternate)
    runner = run.Runner(SimpleNamespace(tracer=tracer), jvm=None)
    seen = []

    def execute(op, op_id):
        seen.append((op_id, tracer.enabled))
        return run.Rec(op_id, op.kind, op.label, latency=0.01, ok=True)

    runner.execute = execute
    recs = runner.window(itertools.repeat([W.Op("fake", ()), W.Op("fake", ())]), seconds, alternate)
    assert [r.op_id for r in recs] == [i for i, _ in seen]
    return seen, tracer


def test_window_runs_whole_rounds_until_busy_reaches_seconds():
    seen, _ = _window(0.05, alternate=False)
    assert [i for i, _ in seen] == [f"t{n}" for n in range(6)]  # 3 rounds: 0.06 s >= 0.05 s


def test_traced_window_runs_untraced_traced_traced_untraced_blocks():
    seen, tracer = _window(0.001, alternate=True)
    assert [on for _, on in seen] == [False] * 2 + [True] * 4 + [False] * 2
    assert [i[0] for i, _ in seen] == list("uuttttuu")
    assert tracer.enabled  # left on for the coverage operations


def test_tail_is_eleventh_largest_with_ten_beyond():
    samples = [float(i) for i in range(100, 0, -1)]  # 1..100, unsorted
    value, pct, n = latency_tail(samples)
    assert (value, n) == (90.0, 100)
    assert pct == pytest.approx(90.0)
    assert sum(s > value for s in samples) == 10


def test_tail_at_21_samples_is_the_median():
    samples = [float(i) for i in range(1, 22)]
    assert latency_tail(samples) == (11.0, pytest.approx(100 * 11 / 21), 21)
    assert latency_tail(samples)[0] == statistics.median(samples)


def test_tail_below_21_samples_falls_back_to_median():
    samples = [3.0, 1.0, 2.0, 10.0]
    assert latency_tail(samples) == (2.5, 50.0, 4)
    with pytest.raises(ValueError):
        latency_tail([])


def test_net_of_steal_removes_the_stolen_share():
    # one busy CPU for 2 s, 0.5 s of it stolen: 150 ticks ran, 50 stolen
    assert net_of_steal(2.0, (1000, 10), (1150, 60)) == pytest.approx(1.5)
    # four busy CPUs, a quarter of each stolen
    assert net_of_steal(2.0, (0, 0), (600, 200)) == pytest.approx(1.5)
    assert net_of_steal(2.0, (5, 5), (5, 5)) == 2.0  # no tick elapsed
    ran, stolen = cpu_ticks()
    assert ran > 0 and stolen >= 0


def test_covered_length_merges_and_clips():
    assert covered_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert covered_length([], 0, 1) == 0


def test_self_time_subtracts_child_cover():
    spans = [
        Span(0, "op", "t0", 0.0, 10.0),
        Span(1, "rollup.plan", "t0", 1.0, 3.0, parent=0),
        Span(2, "rollup.execute", "t0", 2.0, 6.0, parent=0),  # overlaps its sibling
        Span(3, "session.load_table", "t0", 4.0, 5.0, parent=2),
        Span(4, "hierarchy.build", "t0", 9.0, 12.0, parent=0),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (5 + 1))  # children cover [1,6] and [9,10]
    assert st[1] == pytest.approx(2)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3)


def test_tracer_nests_spans_and_disabled_records_nothing():
    tr = Tracer(enabled=True)
    tr.op_id = "t1"
    with tr.span("op"):
        with tr.span("rollup.plan"):
            pass
    assert [(s.name, s.parent, s.op_id, s.layer) for s in tr.spans] == [
        ("op", None, "t1", "op"),
        ("rollup.plan", 0, "t1", "rollup"),
    ]
    assert all(s.end >= s.start for s in tr.spans)
    off = Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []
