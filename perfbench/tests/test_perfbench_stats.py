import pytest

from perfbench import stats
from perfbench.check import canon, summarize


def test_median_odd_even():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_keeps_ten_samples_beyond():
    v = list(range(1, 101))  # 100 samples
    value, pct, n = stats.tail(v)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(1 for x in v if x > value) == 10
    value, pct, n = stats.tail(list(range(1, 31)))
    assert sum(1 for x in range(1, 31) if x > value) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_without_enough_samples_is_the_median():
    v = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.tail(v) == (3.0, 50.0, 5)
    assert stats.tail(list(range(20)))[1] == 50.0


def test_canon_numbers_agree_across_types():
    import decimal

    assert canon(3) == canon(3.0) == canon(decimal.Decimal("3.000")) == "3"
    assert canon(0.1 + 0.2) == canon(0.3) == "0.3"
    assert canon(-0.0) == canon(0.0)
    assert canon(True) != canon(1)


def test_summary_is_order_insensitive():
    a = summarize(["b", "a"], ["num", "str"], [(1, "x"), (2, "y")])
    b = summarize(["a", "b"], ["str", "num"], [("y", 2.0), ("x", 1)])
    assert a == b
    c = summarize(["a", "b"], ["str", "num"], [("y", 2.0), ("x", 2)])
    assert c["hash"] != a["hash"] and c["rows"] == a["rows"]
