"""Self-time arithmetic on hand-built span trees."""

import pytest

from spans import Span, Tracer, per_trigger_counts, per_trigger_self_ms, self_times, trigger_tree


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(1, "root", 0.0, 10.0),
        Span(2, "a", 1.0, 3.0, parent=1),
        Span(3, "b", 2.0, 5.0, parent=1),  # overlaps a: [1, 5] counted once
        Span(4, "c", 8.0, 12.0, parent=1),  # runs past the root: clipped to 10
        Span(5, "a.x", 1.5, 2.5, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 4 - 2)
    assert st[2] == pytest.approx(2 - 1)
    assert st[3] == pytest.approx(3)
    assert st[5] == pytest.approx(1)


def test_trigger_tree_splits_spans_by_trigger():
    progress = [
        {"batchId": 0, "start": 100.0, "durationMs": {
            "triggerExecution": 1000, "latestOffset": 10, "walCommit": 20,
            "getBatch": 5, "queryPlanning": 15, "commitOffsets": 30}},
        {"batchId": 1, "start": 101.5, "durationMs": {"triggerExecution": 500}},
    ]
    recorded = [
        Span(1, "pipeline.fold", 100.2, 100.6),
        Span(2, "state.write", 100.3, 100.5, parent=1, counts={"state.touched": 4}),
        Span(3, "pipeline.fold", 101.6, 101.8, counts={"state.touched": 2}),
        Span(4, "pipeline.fold", 103.0, 103.1),  # outside every trigger
    ]
    roots, tree = trigger_tree(progress, recorded)
    assert [r.batch_id for r in roots] == [0, 1]
    assert 4 not in {s.id for s in tree}
    ms = per_trigger_self_ms(roots, tree)
    assert ms["state.write"] == pytest.approx([200.0, 0.0])
    assert ms["pipeline.fold"] == pytest.approx([200.0, 200.0])
    assert ms["sources.offset"] == pytest.approx([15.0, 0.0])
    assert ms["sources.wal"] == pytest.approx([50.0, 0.0])
    assert ms["spark.planning"] == pytest.approx([15.0, 0.0])
    # the root keeps what no child covers: 1000 - 80 phases - 400 fold
    assert ms["trigger.untraced"] == pytest.approx([520.0, 300.0])
    for i, r in enumerate(roots):
        total = sum(v[i] for v in ms.values())
        assert total == pytest.approx((r.end - r.start) * 1000.0)
    assert per_trigger_counts(roots, tree) == {"state.touched": [4.0, 2.0]}


class _Layer:
    def work(self, batch_id):
        return self.inner()

    def inner(self):
        return 7


def test_tracer_records_nesting_and_restores():
    tr = Tracer()
    tr.wrap(_Layer, "work", "outer", batch_arg=lambda a, kw: a[1])
    tr.wrap(_Layer, "inner", "inner")
    tr.active = True
    assert _Layer().work(3) == 7
    tr.active = False
    assert _Layer().work(4) == 7  # inactive: nothing recorded
    inner, outer = tr.spans
    assert (outer.name, outer.batch_id, outer.parent) == ("outer", 3, None)
    assert (inner.name, inner.parent, inner.batch_id) == ("inner", outer.id, 3)
    tr.uninstall()
    assert not hasattr(_Layer.work, "__wrapped__")
