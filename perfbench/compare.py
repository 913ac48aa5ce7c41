"""Engine-vs-oracle answer comparison.

The rule ``tools/verify_local.py`` applies — row count, column names
and an order-free multiset of rows — except that floats only have to
agree within ``REL_TOL`` (and ``ABS_TOL`` around zero) instead of bit
for bit. The contract rounds most float outputs to a fixed number of
decimals, and the two engines sum floats in different orders, so a
rounded sum can land one unit apart in its last decimal (a 1e-9
relative step on a ten-million total); REL_TOL admits that and little
more.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

REL_TOL = 1e-6
ABS_TOL = 1e-12


def canon(v):
    """One engine-neutral form per value: decimals as floats, NaN as a
    string, timestamps as naive ISO text, structs and arrays as
    tuples, maps as sorted item tuples."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((canon(k), canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def canon_rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, each row's values reordered to match."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        [columns[i] for i in order],
        [tuple(canon(r[i]) for i in order) for r in rows],
    )


def _exact(v):
    """Sortable form of a value with every float masked: rows that
    agree here may differ only in their floats."""
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (1,)
    if isinstance(v, bool):
        return (2, int(v))
    if isinstance(v, int):
        return (2, v)
    if isinstance(v, tuple):
        return (3, tuple(_exact(x) for x in v))
    return (4, str(v))


def _floats(v) -> tuple:
    if isinstance(v, float):
        return (v,)
    if isinstance(v, tuple):
        return tuple(f for x in v for f in _floats(x))
    return ()


def _close(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def _unmatched(got: list[tuple], want: list[tuple]) -> tuple | None:
    """First row of ``got`` with no close partner in ``want``. Rows
    sorted by their floats usually pair in order; failing that, each
    row takes the first close row left."""
    key = lambda r: tuple(f for v in r for f in _floats(v))  # noqa: E731
    got, want = sorted(got, key=key), sorted(want, key=key)
    if all(_close(g, w) for g, w in zip(got, want)):
        return None
    left = list(want)
    for g in got:
        i = next((i for i, w in enumerate(left) if _close(g, w)), None)
        if i is None:
            return g
        left.pop(i)
    return None


def _groups(rows: list[tuple]) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(tuple(_exact(v) for v in r), []).append(r)
    return out


def compare(
    got_cols: list[str], got_rows: list[tuple], want_cols: list[str], want_rows: list[tuple]
) -> str | None:
    """``None`` when the answers agree, else a one-line reason. Both
    sides must already be in ``canon_rows`` form. Rows are grouped by
    everything but their floats; within a group the floats must pair
    up within the tolerance."""
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} != {len(want_rows)}"
    if got_cols != want_cols:
        return f"columns {got_cols} != {want_cols}"
    got, want = _groups(got_rows), _groups(want_rows)
    for key, rows in got.items():
        other = want.get(key, [])
        if len(other) != len(rows):
            return f"row {rows[0]!r}: {len(rows)} like it, the oracle has {len(other)}"
        bad = _unmatched(rows, other)
        if bad is not None:
            return f"row {bad!r} has no oracle row within tolerance"
    return None
