"""Tests for the benchmark's own logic (no Spark): python3 -m pytest perfbench"""

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (  # noqa: E402
    canonical_hash,
    parse_cpu_line,
    quartile_spread,
    rows_per_s,
    steal_share,
    success_ratio,
    supported_percentile,
)


@pytest.mark.parametrize("n, expected", [
    (1000, 99), (999, 95), (200, 95), (199, 90), (100, 90),
    (99, 75), (40, 75), (39, None), (21, None), (0, None),
])
def test_percentile_needs_ten_samples_beyond(n, expected):
    assert supported_percentile(n) == expected


def test_rows_per_s_uses_the_median_round():
    # one round hit by a steal burst: the mean would read 4 s per round
    assert rows_per_s(1000, [1.0, 1.0, 10.0]) == 1000.0
    assert rows_per_s(1000, [2.0, 1.0, 4.0, 3.0]) == 1000 / 2.5


def test_success_ratio_counts_errors_as_attempts():
    items = [{"ok": True}] * 6 + [{"ok": False, "error": "boom"}]
    assert success_ratio(sum(i["ok"] for i in items), len(items)) == 6 / 7
    assert success_ratio(7, 7) == 1.0
    with pytest.raises(ValueError):
        success_ratio(0, 0)


PROC_STAT = """cpu  1000 10 500 8000 100 0 20 370 50 0
cpu0 250 2 125 2000 25 0 5 93 12 0
intr 12345
"""


def test_steal_parsing():
    total, steal = parse_cpu_line(PROC_STAT)
    # guest (50) is already inside user, so it is not added again
    assert (total, steal) == (1000 + 10 + 500 + 8000 + 100 + 0 + 20 + 370, 370)
    later = parse_cpu_line(PROC_STAT.replace("370", "470").replace(
        "8000", "8900", 1))
    assert steal_share((total, steal), later) == pytest.approx(100 / 1000)
    assert steal_share((5, 1), (5, 1)) == 0.0


def test_steal_parsing_without_a_steal_column():
    assert parse_cpu_line("cpu 1 2 3 4\n") == (10, 0)
    with pytest.raises(ValueError):
        parse_cpu_line("intr 1\n")


def test_canonical_hash_ignores_row_and_column_order():
    a = canonical_hash(["k", "v"], [(1, "x"), (2, "y")], str)
    b = canonical_hash(["v", "k"], [("y", 2), ("x", 1)], str)
    assert a == b
    assert a != canonical_hash(["k", "v"], [(1, "x"), (2, "z")], str)
    assert a != canonical_hash(["k", "v"], [(1, "x")], str)
    assert a != canonical_hash(["k", "w"], [(1, "x"), (2, "y")], str)


def test_quartile_spread_matches_statistics():
    xs = [10.0, 11.0, 12.0, 9.0, 10.5, 10.2, 9.8, 10.1, 11.5, 9.9]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / med)

