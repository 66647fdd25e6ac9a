"""Order-insensitive result comparison used by every oracle check."""

import datetime as dt

import pandas as pd

from oracle import Result


def test_row_order_and_column_order_do_not_matter():
    a = Result(["k", "v"], [(1, 2.5), (2, 3.5)])
    b = Result(["V", "K"], [(3.5, 2), (2.5, 1)])
    assert a == b


def test_float_sums_in_another_order_still_match():
    xs = [0.1 * i for i in range(1, 200)]
    a = Result(["s"], [(sum(xs),)])
    b = Result(["s"], [(sum(reversed(xs)),)])
    assert a == b
    # a value on a decimal rounding boundary is not flipped by rounding
    assert Result(["r"], [(1367177.045,)]) == Result(["r"], [(1367177.0450000001,)])


def test_real_differences_are_caught():
    assert Result(["k"], [(1,)]) != Result(["k"], [(2,)])
    assert Result(["k"], [(1,), (1,)]) != Result(["k"], [(1,)])
    assert Result(["v"], [(1.0,)]) != Result(["v"], [(1.0001,)])
    assert Result(["a"], [(1,)]) != Result(["b"], [(1,)])


def test_engines_types_normalize():
    spark_like = Result(["d", "n", "x"], [(dt.date(1995, 3, 15), 7, None)])
    duck_like = Result(["d", "n", "x"], [(pd.Timestamp("1995-03-15"), 7.0, float("nan"))])
    assert spark_like == duck_like
