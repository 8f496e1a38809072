import threading

import pytest

from perfbench.eventlog import EventLog
from perfbench.layers import Analysis, layer_of
from perfbench.trace import Span, Tracer, self_times, union_length


def sp(i, name, start, end, parent=None, phase="build"):
    return Span(i, name, start, end, parent, 1, phase)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children():
    spans = [
        sp(1, "entry", 0.0, 10.0),
        sp(2, "entry.build", 0.0, 6.0, 1),
        sp(3, "catalog.load", 1.0, 2.0, 2),
        sp(4, "materialize", 3.0, 5.0, 2),
        sp(5, "exec", 6.0, 10.0, 1, "exec"),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(0.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(2.0)
    assert st[5] == pytest.approx(4.0)
    # self times partition the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [
        sp(1, "entry.build", 0.0, 4.0),
        sp(2, "stream.microbatch", 1.0, 3.0, 1),
        sp(3, "ddl.merge_into", 2.0, 5.0, 1),  # ends after its parent
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(1.0)  # 4 - |[1, 4]|


def test_layer_of_actions_follows_issuer():
    spans = {
        1: sp(1, "entry.build", 0, 5),
        2: sp(2, "ddl.merge_into", 1, 2, 1),
        3: sp(3, "write", 1, 2, 2),
        4: sp(4, "action", 3, 4, 1),
        5: sp(5, "write", 5, 6, None, "exec"),
    }
    assert layer_of(spans[3], spans) == "ddl"
    assert layer_of(spans[4], spans) == "entry"
    assert layer_of(spans[5], spans) == "exec"


def test_coverage_leaves_out_gaps_inside_and_between_entries():
    class Probe:
        progress, started = [], []

    tr = Tracer()
    tr.spans = [
        sp(1, "entry", 0.0, 10.0),  # 3 s of it outside build and exec
        sp(2, "entry.build", 0.0, 4.0, 1),
        sp(3, "exec", 7.0, 10.0, 1, "exec"),
    ]
    entries = {1: {"name": "e", "pass": 0, "traced": True, "start": 0.0, "end": 10.0}}
    b = Analysis(tr, EventLog(), Probe(), entries, 4, 0).breakdown(pass_wall=14.0)
    assert b["self_s"] == {"entry": 4.0, "exec": 3.0, "harness": 3.0}
    assert b["coverage"] == pytest.approx(7.0 / 14.0)  # 4 s of the pass are outside the entry
    assert b["entries"] == {"e": {"self_s": b["self_s"], "dominant": "entry"}}


def test_tracer_nests_spans_and_callback_threads():
    tr = Tracer()
    tr.enabled = True
    tr.entry, tr.phase = 7, "build"
    with tr.span("entry.build") as outer:
        with tr.span("catalog.load") as inner:
            pass

        def callback():
            with tr.span("ddl.merge_into"):
                pass

        t = threading.Thread(target=callback)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["catalog.load"].parent == outer.id
    assert inner.entry == 7 and inner.phase == "build"
    assert by_name["ddl.merge_into"].parent == outer.id
    assert by_name["ddl.merge_into"].attrs.get("callback") is True
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_tracer_wrap_and_unwrap():
    class Frame:
        def count(self):
            return self.take()

        def take(self):
            return 3

    tr = Tracer()
    tr.wrap(Frame, "count", "action", nested=False)
    tr.wrap(Frame, "take", "action", nested=False)
    assert Frame().count() == 3 and tr.spans == []  # disabled: no spans
    tr.enabled = True
    assert Frame().count() == 3
    assert [s.name for s in tr.spans] == ["action"]  # nested action counted once
    tr.unwrap()
    assert Frame.count.__qualname__.endswith("Frame.count")
