"""Span self-time arithmetic."""

import pytest

from perfbench.trace import Span, Tracer, self_times


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "a", 0.0, 10.0, None),
        Span(1, "b", 1.0, 3.0, 0),
        Span(2, "b", 2.0, 5.0, 0),  # overlaps the first child: counted once
        Span(3, "c", 7.0, 8.0, 0),
        Span(4, "d", 7.5, 7.75, 3),
    ]
    got = self_times(spans)
    assert got["a"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got["b"] == pytest.approx(2.0 + 3.0)
    assert got["c"] == pytest.approx(1.0 - 0.25)
    assert got["d"] == pytest.approx(0.25)


def test_child_outside_its_parent_is_clipped():
    spans = [Span(0, "a", 0.0, 2.0, None), Span(1, "b", 1.5, 4.0, 0)]
    assert self_times(spans)["a"] == pytest.approx(1.5)


def test_tracer_nests_and_can_be_off():
    t = Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0)]
    assert all(s.end >= s.start for s in t.spans)
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []
