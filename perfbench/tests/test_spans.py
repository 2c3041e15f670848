"""Self-time arithmetic on a hand-built span tree."""

import pytest

from perfbench.spans import Span, Tracer, self_times


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span(0, "round", 0.0, 10.0, None, 0),
        Span(1, "read", 1.0, 4.0, 0, 0),      # child of round
        Span(2, "plan", 1.0, 2.0, 1, 0),      # child of read
        Span(3, "collect", 2.5, 4.0, 1, 0),   # child of read
        Span(4, "read", 6.0, 9.0, 0, 0),      # second child of round
        Span(5, "round", 10.0, 12.0, None, 1),
    ]
    own = self_times(spans)
    assert own["round"] == pytest.approx((10 - 3 - 3) + 2)
    assert own["read"] == pytest.approx((3 - 1 - 1.5) + 3)
    assert own["plan"] == pytest.approx(1.0)
    assert own["collect"] == pytest.approx(1.5)


def test_overlapping_and_overhanging_children_count_once():
    spans = [
        Span(0, "parent", 0.0, 10.0, None, None),
        Span(1, "a", 2.0, 6.0, 0, None),
        Span(2, "b", 4.0, 8.0, 0, None),      # overlaps a by 2
        Span(3, "c", 9.0, 12.0, 0, None),     # overhangs the parent's end
    ]
    assert self_times(spans)["parent"] == pytest.approx(10 - 6 - 1)


def test_tracer_records_parents_and_iteration_only_when_enabled():
    tr = Tracer()
    with tr.span("ignored"):
        pass
    assert tr.spans == []
    tr.enabled, tr.iteration = True, 7
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (None, outer.sid)
    assert inner.iteration == 7
    assert outer.start <= inner.start <= inner.end <= outer.end
