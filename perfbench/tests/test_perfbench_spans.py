"""Span arithmetic: self time, coverage, outermost spans, patching."""

import types

from perfbench.spans import (
    Patcher, Span, SpanRecorder, coverage, descendants, outermost, self_time, union_length,
)


def _spans():
    # root [0,10]: a [1,4] (with a1 [2,3]), b [3,6] overlapping a, c [8,9]
    return [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "a1", 1, 2.0, 3.0),
        Span(3, "b", 0, 3.0, 6.0),
        Span(4, "c", 0, 8.0, 9.0),
    ]


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 4), (3, 6), (8, 9)], 0, 10) == 6
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([], 0, 10) == 0
    assert union_length([(2, 2), (5, 4)], 0, 10) == 0


def test_self_time_subtracts_covered_part_once():
    spans = _spans()
    assert self_time(spans, spans[0]) == 10 - 6  # children cover [1,6] and [8,9]
    assert self_time(spans, spans[1]) == 3 - 1
    assert self_time(spans, spans[2]) == 1


def test_coverage_is_share_of_root():
    spans = _spans()
    assert coverage(spans, spans[0]) == 0.6
    assert coverage(spans, spans[4]) == 0.0


def test_outermost_skips_recursive_calls():
    spans = [
        Span(0, "tc", None, 0, 5), Span(1, "tc", 0, 1, 2), Span(2, "x", 0, 2, 3),
        Span(3, "tc", 2, 2, 3), Span(4, "tc", None, 6, 7),
    ]
    assert [s.id for s in outermost(spans, "tc", {0, 1, 2, 3})] == [0]
    assert [s.id for s in outermost(spans, "tc", {4})] == [4]
    assert descendants(spans, 0) == {0, 1, 2, 3}


def test_recorder_nests_tags_and_patcher_restores():
    switches = []
    rec = SpanRecorder("r", on_switch=switches.append)
    mod = types.ModuleType("pkg.mod")
    alias = types.ModuleType("pkg.other")

    def f(x):
        with rec.span("inner"):
            return x + 1

    mod.f = alias.g = f
    import sys

    sys.modules["pkg"], sys.modules["pkg.mod"], sys.modules["pkg.other"] = types.ModuleType("pkg"), mod, alias
    try:
        p = Patcher("pkg")
        assert p.replace_function(f, rec.wrap(f, lambda x: f"outer.{x}")) == 2
        assert alias.g(1) == 2
        assert [(s.name, s.parent) for s in rec.spans] == [("outer.1", None), ("inner", 0)]
        assert switches == [0, 1, 0, None]
        p.restore()
        assert mod.f is f and alias.g is f
    finally:
        for k in ("pkg", "pkg.mod", "pkg.other"):
            sys.modules.pop(k)
