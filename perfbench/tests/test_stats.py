"""The percentile helpers, including the tail-percentile rule."""

import numpy as np
import pytest

from perfbench import stats


@pytest.mark.parametrize("n, want", [
    (0, None), (9, None), (19, None), (20, 50.0), (99, 50.0),
    (100, 90.0), (999, 90.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond_it(n, want):
    assert stats.tail_percentile(n) == want


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(3)
    xs = list(rng.exponential(1.0, 37))
    for pct in (0, 12.5, 50, 90, 99, 100):
        assert stats.percentile(xs, pct) == pytest.approx(np.percentile(xs, pct))


def test_summarize_reports_count_and_supported_tail():
    xs = [float(i) for i in range(1, 101)]
    s = stats.summarize(xs)
    assert s["n"] == 100 and s["tail_pct"] == 90.0
    assert s["p50"] == pytest.approx(50.5) and s["tail"] == s["p90"]
    assert stats.summarize([1.0, 2.0])["tail"] is None
