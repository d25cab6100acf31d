import pytest

from perfbench.stats import percentile, supported_percentiles


def test_p50_needs_ten_samples_beyond_it():
    assert percentile(list(range(19)), 0.5) is None
    assert percentile(list(range(21)), 0.5) == 10


def test_p90_needs_92_samples():
    assert percentile([float(i) for i in range(91)], 0.9) is None
    assert percentile([float(i) for i in range(92)], 0.9) == pytest.approx(81.9)


def test_ties_do_not_count_as_beyond():
    assert percentile([1.0] * 50, 0.5) is None


def test_supported_percentiles_lists_only_supported_ones():
    xs = [float(i) for i in range(120)]
    assert set(supported_percentiles(xs)) == {"p50", "p90"}
    assert supported_percentiles(xs[:15]) == {}
