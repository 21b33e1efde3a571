"""Span recording and the self-time arithmetic."""

import threading

import pytest

from spans import Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(0, 4)], 2, 3) == pytest.approx(1)
    assert covered([(5, 6)], 0, 4) == 0
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(1, "serving.api", 0.0, 10.0, None, "r"),
        Span(2, "catalog.plan", 1.0, 4.0, 1, "r"),
        Span(3, "engine.exec", 2.0, 3.0, 2, "r"),  # grandchild of 1
        Span(4, "engine.exec", 5.0, 9.0, 1, "r"),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 3 - 4)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(4)
    # self times partition the root's wall time
    assert sum(st.values()) == pytest.approx(10)


def test_overlapping_children_are_not_double_counted():
    spans = [
        Span(1, "a", 0.0, 10.0, None, None),
        Span(2, "b", 1.0, 6.0, 1, None),
        Span(3, "b", 4.0, 8.0, 1, None),
    ]
    assert self_times(spans)[1] == pytest.approx(3)


def test_tracer_nests_per_thread_and_tags_requests():
    tr = Tracer()
    tr.enabled = True
    barrier = threading.Barrier(2)

    def worker(rid):
        with tr.request(rid), tr.span("outer"):
            barrier.wait(timeout=5)
            with tr.span("inner"):
                pass

    threads = [threading.Thread(target=worker, args=(f"r{i}",)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    by_id = {s.sid: s for s in tr.spans}
    for s in tr.spans:
        if s.name == "inner":
            parent = by_id[s.parent]
            assert parent.name == "outer" and parent.rid == s.rid
    assert sorted(tr.by_request()) == ["r0", "r1"]


def test_wrap_records_spans_and_restore_undoes_it():
    class Thing:
        def work(self, x):
            return x + 1

    tr = Tracer()
    tr.wrap(Thing, "work", "layer.work")
    tr.enabled = True
    assert Thing().work(1) == 2
    assert [s.name for s in tr.spans] == ["layer.work"]
    tr.restore()
    tr.spans.clear()
    assert Thing().work(1) == 2
    assert tr.spans == []


def test_disabled_tracer_records_nothing():
    tr = Tracer()
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_layer_self_sums_by_name():
    tr = Tracer()
    tr.spans = [
        Span(1, "serving.api", 0.0, 2.0, None, "a"),
        Span(2, "engine.exec", 0.5, 1.5, 1, "a"),
        Span(3, "serving.api", 0.0, 1.0, None, "b"),
    ]
    out = tr.layer_self(["serving.api", "engine.exec"])
    assert out["serving.api"] == pytest.approx(1.0 + 1.0)
    assert out["engine.exec"] == pytest.approx(1.0)
