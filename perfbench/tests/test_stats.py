"""Median and percentile helpers, and span self time."""

import pytest

from perfbench.spans import Tracer
from perfbench.stats import Samples, median, percentile, reportable_percentile


def test_median_and_percentile():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert median(xs) == 3.0
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == 3.0
    assert percentile([1.0, 2.0], 75) == pytest.approx(1.75)
    with pytest.raises(ValueError):
        median([])


@pytest.mark.parametrize("n, p", [(1, None), (19, None), (20, 50.0), (39, 50.0),
                                  (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0),
                                  (10_000, 99.9)])
def test_reportable_percentile_leaves_ten_samples_beyond(n, p):
    assert reportable_percentile(n) == p


def test_samples_describe_states_the_count():
    s = Samples("op_p50_s", "s")
    for v in range(1, 41):
        s.add(float(v))
    text = s.describe()
    assert "n=40" in text and "p75" in text
    assert "no samples" in Samples("x", "s").describe()


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("run", op=1) as run:
        with t.span("child"):
            pass
        with t.span("child"):
            pass
    children = t.named("child", 1)
    assert len(children) == 2 and all(c.parent == run.id for c in children)
    assert t.self_seconds(run) == pytest.approx(run.seconds - sum(c.seconds for c in children))
    off = Tracer(False)
    with off.span("run") as s:
        assert s is None
    assert off.spans == []
