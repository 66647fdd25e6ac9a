"""The benchmark's own statistics: tail percentile, run-to-run bounds
check and trace self time."""

import statistics

import pytest

from stats import Span, compare_sets, covered, self_times, spread, tail


def test_tail_picks_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    t = tail(values)
    # p90 of 100 samples is the 90th smallest; 10 samples lie beyond it
    assert (t.percentile, t.value, t.beyond, t.n) == (90.0, 90.0, 10, 100)


def test_tail_with_fewer_samples_moves_down():
    values = [float(i) for i in range(1, 21)]  # 20 samples
    t = tail(values)
    assert t.percentile == 50.0 and t.value == 10.0 and t.beyond == 10


def test_tail_counts_samples_beyond_exactly():
    for n in (11, 12, 37, 250, 1000):
        values = list(range(n))
        t = tail(values)
        assert t.beyond >= 10
        # one percentile higher would leave fewer than ten beyond
        higher = t.percentile + 1
        if higher < 100:
            import math

            assert n - max(1, math.ceil(higher / 100 * n)) < 10


def test_tail_none_when_too_few():
    assert tail([1.0] * 10) is None
    assert tail([]) is None


def test_spread_matches_statistics_quantiles():
    values = [9.0, 10.0, 10.5, 11.0, 12.0, 10.2, 9.8, 10.1, 10.4, 9.9]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert spread(values) == pytest.approx((q3 - q1) / statistics.median(values))


SPECS = [
    {"name": "op_s", "better": "lower", "bound": 0.1},
    {"name": "rows_per_s", "better": "higher", "bound": 0.1},
    {"name": "setup_s", "better": "lower", "bound": 0.25},
]


def _runs(op, rows, setup):
    return [{"op_s": o, "rows_per_s": r, "setup_s": s} for o, r, s in zip(op, rows, setup)]


def test_compare_sets_passes_two_steady_sets():
    a = _runs([1.00, 1.01, 0.99, 1.02], [100, 101, 99, 100], [5, 5.1, 4.9, 5])
    b = _runs([1.01, 1.00, 1.02, 0.99], [100, 99, 101, 100], [5, 5.2, 5, 5.1])
    assert all(v.ok for v in compare_sets(a, b, SPECS))


def test_compare_sets_flags_a_worse_median_in_the_metrics_direction():
    a = _runs([1.0] * 4, [100] * 4, [5] * 4)
    b = _runs([1.2] * 4, [80] * 4, [7] * 4)  # slower, less throughput, longer set-up
    verdicts = {v.metric: v for v in compare_sets(a, b, SPECS)}
    assert not verdicts["op_s"].ok and not verdicts["rows_per_s"].ok
    assert not verdicts["setup_s"].ok
    # the other direction is an improvement, not a regression
    assert all(v.ok for v in compare_sets(b, a, SPECS))


def test_compare_sets_flags_wide_spread_but_not_for_setup():
    a = _runs([0.5, 1.0, 1.5, 2.0], [100] * 4, [2, 5, 8, 11])
    verdicts = {v.metric: v for v in compare_sets(a, a, SPECS)}
    assert not verdicts["op_s"].ok and "spread" in verdicts["op_s"].reason
    assert verdicts["setup_s"].ok


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert covered([], 0, 1) == 0


def test_self_time_is_span_minus_children():
    spans = [
        Span(1, "iteration", 0.0, 10.0, None),
        Span(2, "load", 1.0, 3.0, 1),
        Span(3, "merge", 2.5, 6.0, 1),  # overlaps the load: union counted once
        Span(4, "inner", 4.0, 5.0, 3),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.5 - 1.0)
    assert st[4] == pytest.approx(1.0)
