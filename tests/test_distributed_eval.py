"""The order primitives' two regimes (one unkeyed window for small
inputs, the two-phase range-sort scan otherwise) must return the same
rows, and the rank statistics built on them must match independent
references in both. Tests force the two-phase regime by patching
``order._ONE_TASK_MAX_BYTES`` below zero; under it the physical plans
carry no Window at all."""

from __future__ import annotations

import contextlib
import io
import math

import pytest
from pyspark.sql import functions as F

from pipeline_dataengineer_spark.operators import order


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture
def two_phase(monkeypatch):
    """Force the order primitives' two-phase regime."""
    monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", -1)


def _canon(rows) -> list[tuple]:
    """Rows as comparable tuples, NaN made equal to itself."""
    return sorted(
        (
            tuple(
                "NaN" if isinstance(v, float) and math.isnan(v) else v
                for v in r
            )
            for r in rows
        ),
        key=repr,
    )


def _sized(df):
    """``df`` cached: a frame built from a Python list carries no size
    estimate (so it always takes the two-phase regime) until its
    cached bytes are measured."""
    df = df.cache()
    df.count()
    return df


def _regime_parity(monkeypatch, build, empty=False):
    """``build()`` under the one-task regime, then under the forced
    two-phase regime: same schema types, same rows. (Catalyst folds
    every operator over an ``empty`` input away.)"""
    one = build()
    assert empty or "Window" in _plan(one)
    one_types = [f.dataType for f in one.schema.fields]
    one_rows = _canon(one.collect())
    monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", -1)
    two = build()
    assert "Window" not in _plan(two)
    assert [f.dataType for f in two.schema.fields] == one_types
    assert _canon(two.collect()) == one_rows
    monkeypatch.undo()
    return one_rows


# ------------------------------------------------------------------
# regime parity: ties (duplicate rows), NULL, NaN, ±inf, empty input,
# descending orders, multi-partition layouts
# ------------------------------------------------------------------


def _parity_frame(spark):
    nan, inf = float("nan"), float("inf")
    rows = []
    for i in range(120):
        x = None if i % 7 == 3 else i % 5
        y = [0.5 * (i % 9), None, nan, -inf, inf][i % 5 if i % 11 == 0 else 0]
        rows.append((i % 40, i, x, y, i % 3 == 0))
    rows += [(41, 500, 2, 1.5, True)] * 3  # full-row ties
    rows += [(42, 600, None, None, True), (43, 601, 4, nan, None)]
    return _sized(
        spark.createDataFrame(
            rows, "k int, t int, x long, y double, ok boolean"
        ).repartition(7)
    )


def test_global_row_index_regime_parity(spark, monkeypatch):
    from pipeline_dataengineer_spark.operators.order import global_row_index

    df = _parity_frame(spark)
    got = _regime_parity(
        monkeypatch, lambda: global_row_index(df, ["k", "t"], "pos")
    )
    assert sorted(r[-1] for r in got) == list(range(df.count()))
    _regime_parity(
        monkeypatch,
        lambda: global_row_index(df.limit(0), ["k", "t"], "pos"),
        empty=True,
    )


@pytest.mark.parametrize("exclusive", [False, True])
def test_global_cumsum_regime_parity(spark, monkeypatch, exclusive):
    from pipeline_dataengineer_spark.operators.order import global_cumsum

    df = _parity_frame(spark)
    for order in (["k", "t"], [F.col("k").desc(), F.col("t").desc()]):
        got = _regime_parity(
            monkeypatch,
            lambda: global_cumsum(
                df, order, ["x", "y"], index_col="i", exclusive=exclusive
            ),
        )
        assert {type(r[5]) for r in got} == {int}  # long cumsum
    assert any(r[6] == "NaN" for r in got)  # NaN propagates
    _regime_parity(
        monkeypatch,
        lambda: global_cumsum(df.limit(0), ["k"], ["x", "y"]),
        empty=True,
    )


def test_global_cummin_regime_parity(spark, monkeypatch):
    from pipeline_dataengineer_spark.operators.order import global_cummin

    df = _parity_frame(spark)
    for order in (["k", "t"], [F.col("k").desc(), F.col("t").asc()]):
        _regime_parity(
            monkeypatch, lambda: global_cummin(df, order, ["x", "y"])
        )
    nan = float("nan")
    edge = _sized(
        spark.createDataFrame(
            [(1, None), (2, nan), (3, None), (4, float("inf")), (5, nan),
             (6, 2.0)],
            "k int, v double",
        ).repartition(3)
    )
    got = _regime_parity(
        monkeypatch, lambda: global_cummin(edge, ["k"], ["v"])
    )
    # NULL prefix -> NULL; NaN sorts above every number, +inf is kept
    inf = float("inf")
    assert [r[2] for r in sorted(got)] == [None, "NaN", "NaN", inf, inf, 2.0]
    _regime_parity(
        monkeypatch,
        lambda: global_cummin(df.limit(0), ["k"], ["y"]),
        empty=True,
    )


def test_global_running_last_regime_parity(spark, monkeypatch):
    from pipeline_dataengineer_spark.operators.order import (
        global_running_last,
    )

    df = _parity_frame(spark)
    for order in (["k", "t"], [F.col("k").desc(), F.col("t").desc()]):
        _regime_parity(
            monkeypatch,
            lambda: global_running_last(df, order, ["x", "y"], "ok"),
        )
    nan = float("nan")
    edge = _sized(
        spark.createDataFrame(
            [(1, 1.0, False), (2, None, True), (3, 3.0, False),
             (4, nan, True), (5, 5.0, None), (6, 6.0, True)],
            "k int, v double, ok boolean",
        ).repartition(3)
    )
    got = _regime_parity(
        monkeypatch, lambda: global_running_last(edge, ["k"], ["v"], "ok")
    )
    # a valid row's NULL value is carried as NULL, its NaN as NaN
    assert [r[3] for r in sorted(got)] == [None, None, None, "NaN", "NaN", 6.0]
    _regime_parity(
        monkeypatch,
        lambda: global_running_last(df.limit(0), ["k"], ["y"], "ok"),
        empty=True,
    )


# ------------------------------------------------------------------
# two-phase primitives against plain-Python references
# ------------------------------------------------------------------


def test_global_cumsum_matches_window(spark, two_phase):
    from pipeline_dataengineer_spark.operators.order import global_cumsum

    df = spark.createDataFrame(
        [(i % 37, (i * 7) % 11, float(i % 5)) for i in range(500)],
        "k int, v int, w double",
    ).repartition(9)
    got = {
        (r["k"], r["v"], r["w"]): (r["cum_v"], r["cum_w"], r["idx"])
        for r in global_cumsum(
            df, ["k", "v", "w"], ["v", "w"], index_col="idx"
        ).collect()
    }
    rows = sorted(
        df.collect(), key=lambda r: (r["k"], r["v"], r["w"])
    )
    cv, cw = 0, 0.0
    seen = {}
    for i, r in enumerate(rows):
        cv += r["v"]
        cw += r["w"]
        seen[(r["k"], r["v"], r["w"])] = (cv, cw, i)
    # duplicate keys: compare on the LAST row of each tie run (the
    # dict keeps the last), which pins both orders identically
    for key, (ev, ew, ei) in seen.items():
        gv, gw, gi = got[key]
        assert gv == ev and gw == pytest.approx(ew) and gi == ei


def test_global_cumsum_exclusive(spark, two_phase):
    from pipeline_dataengineer_spark.operators.order import global_cumsum

    df = spark.createDataFrame(
        [(i, 1) for i in range(100)], "k int, one int"
    ).repartition(7)
    out = {
        r["k"]: r["cum_one"]
        for r in global_cumsum(
            df, ["k"], ["one"], exclusive=True
        ).collect()
    }
    assert out == {i: i for i in range(100)}


def test_global_running_last(spark, two_phase):
    from pipeline_dataengineer_spark.operators.order import (
        global_running_last,
    )

    rows = [(i, float(i * 10), i % 3 == 0) for i in range(50)]
    df = spark.createDataFrame(rows, "k int, v double, ok boolean")
    out = {
        r["k"]: r["last_v"]
        for r in global_running_last(
            df.repartition(8), ["k"], ["v"], "ok"
        ).collect()
    }
    for k in range(50):
        assert out[k] == pytest.approx(float((k // 3) * 3 * 10))


def test_global_running_last_no_predecessor_null(spark, two_phase):
    from pipeline_dataengineer_spark.operators.order import (
        global_running_last,
    )

    df = spark.createDataFrame(
        [(1, 1.0, False), (2, 2.0, True), (3, 3.0, False)],
        "k int, v double, ok boolean",
    )
    out = {
        r["k"]: r["last_v"]
        for r in global_running_last(
            df.repartition(3), ["k"], ["v"], "ok"
        ).collect()
    }
    assert out[1] is None
    assert out[2] == 2.0
    assert out[3] == 2.0


# ------------------------------------------------------------------
# eval tier: tie-heavy, multi-partition, both regimes against
# plain-Python references
# ------------------------------------------------------------------


def _scored_rows():
    # 9 distinct scores over 600 rows -> massive ties; labels mixed
    # within every score group so tie-handling is actually exercised
    return [
        (float((i * i) % 9) / 10.0, int((i * 13) % 7 < 3))
        for i in range(600)
    ]


def _scored(spark):
    return _sized(
        spark.createDataFrame(
            _scored_rows(), "score double, label int"
        ).repartition(11)
    )


def _auc_reference(rows):
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    wins = sum((p > n) + 0.5 * (p == n) for p in pos for n in neg)
    return round(wins / (len(pos) * len(neg)), 6)


def _ap_reference(rows):
    # score desc, positives after negatives at equal scores
    ranked = sorted(rows, key=lambda r: (-r[0], r[1]))
    hits, total = 0, 0.0
    for k, (_, y) in enumerate(ranked, 1):
        if y == 1:
            hits += 1
            total += hits / k
    return round(total / hits, 6)


def test_roc_auc_distributed_parity(spark, monkeypatch):
    from pipeline_dataengineer_spark.operators.calibration import roc_auc

    df = _scored(spark)
    a = roc_auc(df, "score", "label").collect()[0]
    monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", -1)
    b = roc_auc(df, "score", "label").collect()[0]
    assert 0.0 < a["auc"] < 1.0  # non-degenerate fixture
    assert a == b
    assert a["auc"] == pytest.approx(_auc_reference(_scored_rows()), abs=1e-6)


def test_average_precision_distributed_parity(spark, monkeypatch):
    from pipeline_dataengineer_spark.operators.calibration import (
        average_precision,
    )

    df = _scored(spark)
    a = average_precision(df, "score", "label").collect()[0]
    monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", -1)
    b = average_precision(df, "score", "label").collect()[0]
    assert 0.0 < a["ap"] < 1.0
    assert a == b
    assert a["ap"] == pytest.approx(_ap_reference(_scored_rows()), abs=1e-6)


def _att_reference(rows, caliper):
    ctrl = sorted((s, y) for t, y, s in rows if t == 0)
    gaps, diffs = [], []
    for t, y, s in rows:
        if t != 1:
            continue
        below = [c for c in ctrl if c[0] <= s]
        above = [c for c in ctrl if c[0] >= s]
        # ties to the lower score; max outcome below, min outcome above
        b = max(below, key=lambda c: (c[0], c[1])) if below else None
        a = min(above, key=lambda c: (c[0], c[1])) if above else None
        if b is not None and (a is None or s - b[0] <= a[0] - s):
            gap, cy = s - b[0], b[1]
        else:
            gap, cy = a[0] - s, a[1]
        if gap <= caliper:
            gaps.append(gap)
            diffs.append(y - cy)
    return len(diffs), round(sum(diffs) / len(diffs), 6)


def test_propensity_att_distributed_parity(spark, monkeypatch):
    from pipeline_dataengineer_spark.operators.causal import (
        propensity_match_att,
    )

    # tied control scores (the round-5 ADVICE case) + treated units
    # below the lowest / above the highest control
    rows = []
    for i in range(300):
        s = float(i % 20) / 20.0
        rows.append((0, float((i * 7) % 50), s))
    for i in range(80):
        rows.append((1, float(i % 30), float((i * 3) % 23) / 22.0))
    rows += [(1, 5.0, -0.5), (1, 6.0, 1.5)]  # outside control range
    df = _sized(
        spark.createDataFrame(rows, "t int, y double, s double").repartition(
            13
        )
    )
    a = propensity_match_att(df, "t", "y", "s", caliper=0.25).collect()[0]
    monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", -1)
    b = propensity_match_att(df, "t", "y", "s", caliper=0.25).collect()[0]
    assert a == b
    assert a["n_treated"] == 82
    n_matched, att = _att_reference(rows, 0.25)
    assert a["n_matched"] == n_matched
    assert a["att"] == pytest.approx(att, abs=1e-6)


def test_distributed_plans_have_no_window(spark, two_phase):
    from pipeline_dataengineer_spark.operators.calibration import (
        average_precision,
        roc_auc,
    )
    from pipeline_dataengineer_spark.operators.causal import (
        propensity_match_att,
    )

    df = _scored(spark)
    assert "Window" not in _plan(roc_auc(df, "score", "label"))
    assert "Window" not in _plan(average_precision(df, "score", "label"))
    p = spark.createDataFrame(
        [(i % 2, float(i), float(i % 10) / 10.0) for i in range(50)],
        "t int, y double, s double",
    )
    assert "Window" not in _plan(propensity_match_att(p, "t", "y", "s"))


def test_default_call_sizes_regime_from_estimate(spark, monkeypatch):
    """The rank statistics take no regime option: the same call plans
    one unkeyed Window while the input's size estimate is under the
    threshold, and none once the estimate exceeds it."""
    from pipeline_dataengineer_spark.operators.calibration import (
        average_precision,
        roc_auc,
    )
    from pipeline_dataengineer_spark.operators.causal import (
        propensity_match_att,
    )
    from pipeline_dataengineer_spark.operators.joins import plan_bytes
    from pipeline_dataengineer_spark.operators.stats_tests import (
        benjamini_hochberg,
        brunner_munzel,
        cliffs_delta,
        holm_bonferroni,
        mann_whitney_u,
        spearman_rho,
    )

    df = _scored(spark).withColumn(
        "g", F.when(F.col("label") == 1, "a").otherwise("b")
    )
    h = df.select(
        F.monotonically_increasing_id().alias("id"), F.col("score").alias("p")
    )
    builds = [
        lambda: roc_auc(df, "score", "label"),
        lambda: average_precision(df, "score", "label"),
        lambda: propensity_match_att(df, "label", "score", "score"),
        lambda: benjamini_hochberg(h, "id", "p"),
        lambda: holm_bonferroni(h, "id", "p"),
        lambda: mann_whitney_u(df, "g", "score", "a", "b"),
        lambda: spearman_rho(df, "score", "label"),
        lambda: cliffs_delta(df, "g", "score", "a", "b"),
        lambda: brunner_munzel(df, "g", "score", "a", "b"),
    ]
    for build in builds:
        assert "Window" in _plan(build())
    limit = 1024
    assert plan_bytes(df) > limit
    monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", limit)
    for build in builds:
        assert "Window" not in _plan(build())


def test_global_cummin(spark, two_phase):
    from pipeline_dataengineer_spark.operators.order import global_cummin

    vals = [float((i * 17) % 29) for i in range(200)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k int, v double"
    ).repartition(9)
    got = {
        r["k"]: r["cummin_v"]
        for r in global_cummin(df, ["k"], ["v"]).collect()
    }
    run = float("inf")
    for i, v in enumerate(vals):
        run = min(run, v)
        assert got[i] == run


def _bh_reference(rows, alpha=0.05):
    ranked = sorted(rows, key=lambda r: (r[1], r[0]))
    n = len(ranked)
    q, out = 1.0, {}
    for rk in range(n, 0, -1):
        h, p = ranked[rk - 1]
        q = min(q, p * n / rk)
        out[h] = (rk, round(min(q, 1.0), 6), min(q, 1.0) <= alpha)
    return out


def test_benjamini_hochberg_distributed_parity(spark, monkeypatch):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        benjamini_hochberg,
    )

    rows = [(i, float(((i * 37) % 101) + 1) / 101.0) for i in range(300)]
    df = _sized(
        spark.createDataFrame(rows, "hyp_id int, p double").repartition(11)
    )
    a = sorted(benjamini_hochberg(df, "hyp_id", "p").collect())
    monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", -1)
    b = sorted(benjamini_hochberg(df, "hyp_id", "p").collect())
    assert a == b
    assert "Window" not in _plan(benjamini_hochberg(df, "hyp_id", "p"))
    ref = _bh_reference(rows)
    for r in a:
        rk, q, rej = ref[r["hyp_id"]]
        assert (r["rank"], r["reject"]) == (rk, rej)
        assert r["q_value"] == pytest.approx(q, abs=1e-9)
