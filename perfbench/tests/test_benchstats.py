import statistics

import pytest

from benchstats import (
    pairwise_f1,
    percentile,
    quartile_spread,
    summarize,
    supported_tail,
)


def test_percentile_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile(xs, 0)


@pytest.mark.parametrize(
    "n, p",
    [(1, 100.0), (19, 100.0), (20, 50.0), (99, 50.0), (100, 90.0),
     (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_supported_tail_needs_ten_samples_beyond(n, p):
    tail = supported_tail(range(n))
    assert (tail["p"], tail["n"]) == (p, n)
    assert tail["value"] == (n - 1 if p == 100.0 else percentile(range(n), p))
    beyond = sum(1 for x in range(n) if x > tail["value"])
    assert p == 100.0 or beyond >= 10


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.5, 12.0, 10.2, 9.9, 10.1, 10.8, 11.5]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / med)
    assert quartile_spread([3.0, 3.0, 3.0]) == 0.0
    assert quartile_spread([0.0, 0.0]) == 0.0


def test_pairwise_f1_perfect_and_singletons():
    truth = {"a": 1, "b": 1, "c": 2, "d": 3}
    assert pairwise_f1({"a": "a", "b": "a", "c": "c"}, truth) == 1.0
    # records absent from the clusters table are singletons
    assert pairwise_f1({"a": "a", "b": "a"}, truth) == 1.0
    assert pairwise_f1({}, {"x": 1, "y": 2}) == 1.0


def test_pairwise_f1_counts_pairs():
    truth = {"a": 1, "b": 1, "c": 1, "d": 2}
    # predicted pairs {ab, cd}; true pairs {ab, ac, bc}: tp=1
    pred = {"a": "a", "b": "a", "c": "c", "d": "c"}
    assert pairwise_f1(pred, truth) == pytest.approx(2 * 1 / (2 + 3))
    # one missed record: predicted {ab}, true {ab, ac, bc}
    assert pairwise_f1({"a": "a", "b": "a"}, truth) == pytest.approx(2 / 4)


def test_pairwise_f1_rejects_unknown_ids():
    with pytest.raises(ValueError):
        pairwise_f1({"zz": "zz"}, {"a": 1})


def test_summarize_result_lines():
    rows = [
        {"metrics": {"wall_s": {"value": v, "unit": "s"}}} for v in (1.0, 2.0, 3.0)
    ]
    s = summarize(rows)["wall_s"]
    assert (s["median"], s["n"], s["unit"]) == (2.0, 3, "s")
    assert s["spread"] == pytest.approx(quartile_spread([1.0, 2.0, 3.0]))
