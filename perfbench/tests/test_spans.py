"""Self time per layer: every instant counted once, split among the
innermost spans open at that instant."""

import pytest

from perfbench.spans import Tracer, self_times


def _span(sid, layer, start, end, parent=None):
    return {"id": sid, "name": layer, "layer": layer, "start": start, "end": end,
            "parent": parent, "rid": None}


def test_nested_self_times_sum_to_wall():
    spans = [
        _span(1, "bench", 0.0, 10.0),
        _span(2, "plans", 1.0, 4.0, 1),
        _span(3, "spark", 2.0, 3.0, 2),
        _span(4, "spark", 5.0, 9.0, 1),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"bench": 3.0, "plans": 2.0, "spark": 5.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_concurrent_leaves_share_time():
    spans = [
        _span(1, "bench", 0.0, 4.0),
        _span(2, "manifest", 0.0, 2.0, 1),
        _span(3, "streaming", 0.0, 2.0, 1),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"manifest": 1.0, "streaming": 1.0, "bench": 2.0})


def test_tracer_records_parents_and_nothing_when_disabled():
    tr = Tracer(enabled=True)
    tr.root_id = tr.new_id()
    with tr.span("outer", "bench", rid="r1"):
        with tr.span("inner", "plans"):
            pass
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] == tr.root_id
    assert inner["rid"] == "r1"
    off = Tracer(enabled=False)
    with off.span("x", "bench"):
        pass
    assert off.spans == []
