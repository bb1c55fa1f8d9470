import pytest

from perfbench.trace import Span, Tracer, covered, restore, self_times, total_by_name


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10
    assert covered([(3, 1)]) == 0


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        Span("op", 0, None, 0.0, 10.0),
        Span("a", 1, 0, 1.0, 4.0),
        Span("b", 2, 0, 3.0, 5.0),      # overlaps a: children cover 1..5
        Span("c", 3, 1, 2.0, 3.0),      # grandchild: only a's self time shrinks
        Span("d", 4, 0, 9.0, 12.0),     # runs past the parent: clipped at 10
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - 4 - 1)
    assert own[1] == pytest.approx(3 - 1)
    assert own[2] == pytest.approx(2)
    assert own[3] == pytest.approx(1)


def test_tracer_nests_spans_and_counts_per_op():
    clock = Clock()
    tr = Tracer(clock=clock)
    tr.set_op("op1")
    with tr.span("outer"):
        clock.t = 1
        with tr.span("inner"):
            clock.t = 3
        tr.count("rounds", 2)
        clock.t = 4
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (None, outer.id)
    assert (outer.duration, inner.duration) == (4, 2)
    assert inner.op == "op1"
    assert tr.counts == {("op1", "rounds"): 2}
    assert self_times(tr.spans)[outer.id] == 2


def test_disabled_tracer_records_nothing():
    tr = Tracer(clock=Clock())
    tr.enabled = False
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_total_by_name_does_not_count_reentrant_spans_twice():
    spans = [
        Span("read", 0, None, 0.0, 3.0),
        Span("read", 1, 0, 1.0, 2.0),
        Span("read", 2, None, 5.0, 6.0),
    ]
    assert total_by_name(spans) == {"read": 4.0}


class Thing:
    def work(self, x):
        return x * 2


def test_wrap_opens_named_spans_and_restore_undoes_it():
    tr = Tracer(clock=Clock())
    undo = []
    orig = Thing.work
    tr.wrap(Thing, "work", lambda self, x: "big" if x > 1 else None, undo)
    assert Thing().work(1) == 2 and Thing().work(5) == 10
    assert [s.name for s in tr.spans] == ["big"]
    restore(undo)
    assert Thing.work is orig and undo == []
