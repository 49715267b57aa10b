"""Self-time arithmetic on a synthetic span tree."""

from spans import Span, covered, self_ms_by_request, self_times


def _span(sid, parent, start, end, name="x", rid="r"):
    return Span(sid, parent, rid, name, start, end)


def test_covered_merges_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(2, 4), (3, 6), (8, 12)], 0, 10) == 4 + 2
    assert covered([(-5, 1)], 0, 10) == 1


def test_self_time_subtracts_children():
    # root 0..100; children 10..40 and 30..60 overlap; grandchild 15..20
    spans = [
        _span(1, None, 0, 100, "request"),
        _span(2, 1, 10, 40, "engine.query"),
        _span(3, 1, 30, 60, "exec"),
        _span(4, 2, 15, 20, "catalog.find_files"),
    ]
    st = self_times(spans)
    assert st == {1: 100 - 50, 2: 30 - 5, 3: 30, 4: 5}


def test_self_ms_by_request_sums_per_name():
    ms = 1_000_000
    spans = [
        _span(1, None, 0, 10 * ms, "request", "a"),
        _span(2, 1, 0, 2 * ms, "exec", "a"),
        _span(3, 1, 5 * ms, 8 * ms, "exec", "a"),
        _span(4, None, 0, 1 * ms, "request", "b"),
    ]
    out = self_ms_by_request(spans)
    assert out["a"] == {"request": 5.0, "exec": 5.0}
    assert out["b"] == {"request": 1.0}
