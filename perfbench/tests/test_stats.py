import pytest

from stats import percentile, summarize, supported_tail


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile([7.0], 90) == 7.0


def test_percentile_rejects_empty_sample():
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, tail",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_needs_ten_samples_beyond_it(n, tail):
    assert supported_tail(n) == tail


def test_summarize_reports_count_median_and_supported_tail():
    s = summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail_p"] == 90.0
    assert s["tail"] == pytest.approx(90.1)
    assert summarize([1.0, 2.0])["tail"] is None
