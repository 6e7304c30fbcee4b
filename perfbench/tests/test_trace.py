"""Span self-time arithmetic on hand-built spans."""

import pytest

from perfbench.trace import Span, Tracer, fold, self_times, uncovered


def _spans():
    # root 0..10 with children 1..4 and 3..6 (overlapping: union 1..6),
    # a grandchild 2..3 under the first child, a second root 12..14, and
    # a child 9..11 that runs past its parent's end
    return [
        Span(0, "a", 0.0, 10.0, None, 1),
        Span(1, "b", 1.0, 4.0, 0, 1),
        Span(2, "c", 3.0, 6.0, 0, 1),
        Span(3, "d", 2.0, 3.0, 1, 1),
        Span(4, "a", 12.0, 14.0, None, 2),
        Span(5, "e", 9.0, 11.0, 0, 1),
    ]


def test_self_time_subtracts_union_of_children():
    st = self_times(_spans())
    # 10 - (1..6 union 9..10) = 10 - 5 - 1
    assert st[0] == pytest.approx(4.0)
    assert st[1] == pytest.approx(2.0)  # 3 - grandchild 1
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(2.0)
    assert st[5] == pytest.approx(2.0)


def test_fold_sums_per_name():
    f = fold(_spans())
    assert f["a"] == {"self_s": pytest.approx(6.0), "calls": 2}
    assert f["d"]["calls"] == 1


def test_uncovered_counts_wall_outside_roots():
    # roots cover 0..10 and 12..14; in -1..15 that leaves 1 + 2 + 1
    assert uncovered(_spans(), -1.0, 15.0) == pytest.approx(4.0)
    assert uncovered(_spans(), 0.0, 10.0) == pytest.approx(0.0)


def test_tracer_records_parent_and_turn(tmp_path):
    tr = Tracer()
    with tr.span("outer", 7):
        with tr.span("inner", 7):
            pass
    outer, inner = tr.spans
    assert outer.parent is None and inner.parent == outer.id
    assert inner.turn == outer.turn == 7
    assert outer.start <= inner.start <= inner.end <= outer.end
    path = tmp_path / "spans.jsonl"
    tr.dump(str(path))
    assert len(path.read_text().splitlines()) == 2
