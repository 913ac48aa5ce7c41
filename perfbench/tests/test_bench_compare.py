import datetime as dt
import decimal
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from compare import canon, canon_rows, compare  # noqa: E402


def _cmp(got_cols, got, want_cols, want):
    return compare(*canon_rows(got_cols, got), *canon_rows(want_cols, want))


def test_canon_values():
    assert canon(decimal.Decimal("1.50")) == 1.5
    assert canon(float("nan")) == "NaN"
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc)
    assert canon(ts) == "2024-01-02T03:04:05"
    assert canon(dt.date(2024, 1, 2)) == "2024-01-02"
    assert canon([1, [2.0, None]]) == (1, (2.0, None))
    assert canon({"b": 1, "a": 2}) == (("a", 2), ("b", 1))


def test_order_and_column_order_do_not_matter():
    assert _cmp(["a", "b"], [(1, "x"), (2, "y")], ["b", "a"], [("y", 2), ("x", 1)]) is None


def test_large_integer_keys_are_compared_exactly():
    got = [(10000090, "dup"), (10000085, "dup")]
    assert _cmp(["k", "t"], got, ["k", "t"], list(reversed(got))) is None
    assert _cmp(["k", "t"], got, ["k", "t"], [(10000090, "dup"), (10000086, "dup")])


def test_multiset_counts_duplicates():
    assert _cmp(["a"], [(1,), (1,), (2,)], ["a"], [(1,), (2,), (2,)]) is not None


def test_floats_within_relative_tolerance():
    # a rounded ten-million sum one cent apart: the engines' summation order
    assert _cmp(["s"], [(9933351.74,)], ["s"], [(9933351.73,)]) is None
    assert _cmp(["s"], [(1.0,)], ["s"], [(1.001,)]) is not None
    assert _cmp(["s"], [(0.0,)], ["s"], [(1e-13,)]) is None


def test_float_rows_pair_up_even_when_sorting_would_interleave():
    got = [("g", 1.0000001), ("g", 1.0000002)]
    want = [("g", 1.0000002), ("g", 1.0000001)]
    assert _cmp(["k", "v"], got, ["k", "v"], want) is None


def test_row_count_and_columns_mismatch():
    assert "row count" in _cmp(["a"], [(1,)], ["a"], [])
    assert "columns" in _cmp(["a"], [(1,)], ["b"], [(1,)])


def test_nan_and_null_match_themselves():
    assert _cmp(["a", "b"], [(float("nan"), None)], ["a", "b"], [(float("nan"), None)]) is None
