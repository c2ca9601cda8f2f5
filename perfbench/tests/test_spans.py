"""Self-time, job attribution and percentile arithmetic."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402
from spans import JobRec, Span  # noqa: E402


def test_interval_algebra():
    assert spans.union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert spans.length([(0, 1), (0.5, 2), (5, 5)]) == 2
    assert spans.subtract((0, 10), [(1, 2), (1.5, 3), (9, 12)]) == [
        (0, 1), (3, 9)]
    assert spans.subtract((0, 1), []) == [(0, 1)]
    assert spans.intersect_length([(0, 4), (6, 8)], [(3, 7)]) == 2


def _tree():
    # upload [0,10] -> a [1,4] -> b [2,3]; upload -> c [5,9]
    return [Span(1, "upload", None, 1, 0, 10), Span(2, "a", 1, 1, 1, 4),
            Span(3, "b", 2, 1, 2, 3), Span(4, "c", 1, 1, 5, 9)]


def test_attribution_picks_innermost_span():
    t = spans.Tracer()
    t.run = 1
    t.spans = _tree()
    jobs = [JobRec(1, 2.5, 2.8), JobRec(2, 6, 7), JobRec(3, 0.5, 0.7),
            JobRec(4, 20, 21)]
    t.attribute(jobs)
    assert [j.span for j in jobs] == [3, 4, 1, None]


def test_layer_table_self_times_add_up_to_the_wall():
    tree = _tree()
    jobs = [JobRec(1, 2.5, 2.8, task_cpu_s=0.2, span=3),
            JobRec(2, 6, 7, span=4), JobRec(3, 0.5, 0.7, span=1)]
    table = spans.layer_table(tree, jobs)
    assert table["unattributed"]["self_s"] == pytest.approx(3)
    assert table["a"]["self_s"] == pytest.approx(2)
    assert table["b"]["self_s"] == pytest.approx(1)
    assert table["c"]["self_s"] == pytest.approx(4)
    assert sum(r["self_s"] for r in table.values()) == \
        pytest.approx(spans.wall(tree)) == pytest.approx(10)
    assert table["b"]["jobs"] == 1 and table["b"]["task_cpu_s"] == 0.2
    assert table["b"]["outside_jobs_s"] == pytest.approx(0.7)
    assert table["c"]["outside_jobs_s"] == pytest.approx(3)
    assert table["unattributed"]["outside_jobs_s"] == pytest.approx(2.8)


def test_wrap_records_spans_and_uninstall_restores():
    class Layer:
        def work(self, n):
            return self.inner(n) + 1

        def inner(self, n):
            return n

    original = Layer.work
    t = spans.Tracer()
    t.wrap(Layer, "work", "layer")
    t.wrap(Layer, "inner", "layer")       # same layer: folds into one span
    assert Layer().work(2) == 3
    assert [s.name for s in t.spans] == ["layer"]
    assert t.spans[0].end >= t.spans[0].start
    assert t.spans[0].attrs["result"] == 3
    t.uninstall()
    assert Layer.work is original


def test_span_closes_when_the_call_raises():
    t = spans.Tracer()

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        t.call("boom", boom, (), {})
    assert t.spans[0].end > 0 and not t._stack


def test_median_and_quartile_spread():
    assert spans.median([3, 1, 2]) == 2
    assert spans.median([]) == 0.0
    # statistics.quantiles (exclusive) of 1..6: q1=1.75, q2=3.5, q3=5.25
    assert spans.quartile_spread([1, 2, 3, 4, 5, 6]) == pytest.approx(
        (5.25 - 1.75) / 3.5)
