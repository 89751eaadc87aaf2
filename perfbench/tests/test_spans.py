"""Span nesting, job-group hand-over and self time."""

import pytest

from spans import Span, Tracer, covered, self_times


class FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 1), (2, 3)]) == 2
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3), (4, 5)]) == 10


def test_self_time_subtracts_children_once():
    spans = [
        Span("root", "g0", None, 0.0, 10.0),
        Span("a", "g1", 0, 1.0, 4.0),
        Span("b", "g2", 0, 3.0, 6.0),  # overlaps a
        Span("b.inner", "g3", 2, 4.0, 5.0),
    ]
    assert self_times(spans) == pytest.approx([5.0, 3.0, 2.0, 1.0])


def test_self_time_clips_children_to_the_parent():
    spans = [Span("p", "g0", None, 0.0, 2.0), Span("c", "g1", 0, 1.0, 5.0)]
    assert self_times(spans) == pytest.approx([1.0, 4.0])


def test_tracer_nests_and_restores_job_groups():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
        with tr.span("inner"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    assert sc.groups == ["span-0", "span-1", "span-0", "span-2", "span-0", "span-none"]
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_tracer_closes_span_on_error():
    tr = Tracer(FakeContext())
    with pytest.raises(ValueError):
        with tr.span("boom"):
            raise ValueError
    assert tr.spans[0].wall_s >= 0
