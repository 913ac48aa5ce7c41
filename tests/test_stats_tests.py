"""Chi-square association, Mann-Whitney U, target encoding."""

from __future__ import annotations

import math

import pytest

from pipeline_dataengineer_spark.operators.encoding import (
    target_encode_kfold,
    target_encode_loo,
)
from pipeline_dataengineer_spark.operators.stats_tests import (
    chi2_association,
    mann_whitney_u,
)


def test_chi2_matches_scipy_formula(spark):
    # 2x2 table: [[10, 20], [30, 40]] — chi2 by hand (no correction)
    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20 + [("b", "x")] * 30 + [("b", "y")] * 40
    )
    df = spark.createDataFrame(rows, ["u", "v"])
    r = chi2_association(df, "u", "v").collect()[0]
    n, e_ax = 100, 30 * 40 / 100
    exp = [(10, 12), (20, 18), (30, 28), (40, 42)]
    chi2 = sum((o - e) ** 2 / e for o, e in exp)
    assert abs(r["chi2"] - round(chi2, 4)) < 1e-9
    assert r["dof"] == 1
    assert abs(r["cramers_v"] - round(math.sqrt(chi2 / 100), 4)) < 1e-9


def test_chi2_independent_is_zero(spark):
    rows = [(a, b) for a in "ab" for b in "xy" for _ in range(25)]
    df = spark.createDataFrame(rows, ["u", "v"])
    r = chi2_association(df, "u", "v").collect()[0]
    assert r["chi2"] == 0.0


def test_mann_whitney_no_overlap_extreme_u(spark):
    rows = [("a", float(i)) for i in range(10)] + [
        ("b", float(100 + i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert (r["u_a"], r["u_b"]) == (0.0, 100.0)
    assert r["z"] < -3.7  # far in the tail


def test_mann_whitney_ties_average_ranks(spark):
    # all values equal: U = n_a*n_b/2, z undefined (var 0 → null)
    rows = [("a", 5.0)] * 4 + [("b", 5.0)] * 4
    df = spark.createDataFrame(rows, ["g", "v"])
    r = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert r["u_a"] == 8.0 and r["u_b"] == 8.0
    assert r["z"] is None  # tie-corrected variance is exactly 0


def test_target_encode_loo(spark):
    rows = [("c1", 1, 10.0), ("c1", 2, 20.0), ("c1", 3, 30.0), ("c2", 4, 5.0)]
    df = spark.createDataFrame(rows, ["cat", "id", "y"])
    got = {
        r["id"]: r["te"] for r in target_encode_loo(df, "cat", "y").collect()
    }
    assert got[1] == 25.0 and got[2] == 20.0 and got[3] == 15.0
    assert got[4] is None  # singleton: no peers


def test_target_encode_kfold_excludes_own_fold(spark):
    rows = [("c", i, float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, ["cat", "id", "y"])
    out = target_encode_kfold(df, "cat", "id", "y", n_folds=4).collect()
    total = sum(range(100))
    by_fold = {}
    for r in out:
        by_fold.setdefault(r["fold"], []).append(r)
    for fold, rows_f in by_fold.items():
        fold_sum = sum(r["y"] for r in rows_f)
        fold_n = len(rows_f)
        want = (total - fold_sum) / (100 - fold_n)
        for r in rows_f:
            assert abs(r["te"] - want) < 1e-9


def test_cuped_reduces_variance_preserves_mean(spark):
    import numpy as np

    from pipeline_dataengineer_spark.operators.stats_tests import (
        cuped_adjust,
    )

    rng = np.random.default_rng(9)
    x = rng.normal(size=400)
    y = 3.0 * x + rng.normal(scale=0.5, size=400) + 10.0
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    out = cuped_adjust(df, "y", "x").select("y", "y_cuped").toPandas()
    assert out["y_cuped"].mean() == pytest.approx(out["y"].mean(), rel=1e-9)
    assert out["y_cuped"].var() < 0.1 * out["y"].var()


def test_cuped_zero_variance_covariate_noop(spark):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        cuped_adjust,
    )

    df = spark.createDataFrame(
        [(1.0, 5.0), (1.0, 7.0), (1.0, 9.0)], "x double, y double"
    )
    out = cuped_adjust(df, "y", "x").collect()
    assert all(r["y_cuped"] == r["y"] for r in out)


def test_cuped_per_group_theta(spark):
    import numpy as np

    from pipeline_dataengineer_spark.operators.stats_tests import (
        cuped_adjust,
    )

    rng = np.random.default_rng(4)
    rows = []
    for g, slope in (("a", 2.0), ("b", -5.0)):
        for _ in range(200):
            x = rng.normal()
            rows.append((g, float(x), float(slope * x + rng.normal(0, 0.1))))
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = cuped_adjust(df, "y", "x", "g").toPandas()
    for g in ("a", "b"):
        sub = out[out["g"] == g]
        assert sub["y_cuped"].var() < 0.05 * sub["y"].var()


def test_psi_drift_detects_shift(spark):
    from pyspark.sql import functions as F

    from pipeline_dataengineer_spark.operators.stats_tests import psi_drift

    ref = spark.range(10_000).select(
        (F.col("id") % 1000).cast("double").alias("v")
    )
    same = ref
    shifted = ref.select((F.col("v") + 500.0).alias("v"))
    psi_same = sum(
        r["psi_term"] for r in psi_drift(ref, same, "v").collect()
    )
    psi_shift = sum(
        r["psi_term"] for r in psi_drift(ref, shifted, "v").collect()
    )
    assert psi_same < 0.01          # identical distribution: stable
    assert psi_shift > 0.25         # gross shift: flagged
    # bins are reference-equal-frequency: n_ref roughly uniform
    rows = psi_drift(ref, shifted, "v").collect()
    n_refs = [r["n_ref"] for r in rows]
    assert max(n_refs) - min(n_refs) <= 2000


def test_benford_grouped_and_reexport(spark):
    """quality.benford_test: Benford-conforming magnitudes score a
    small chi-square sum; uniform same-first-digit data scores huge.
    Grouped variant keeps groups independent; the stats_tests
    re-export returns the identical ungrouped frame."""
    import math

    from pipeline_dataengineer_spark.operators.quality import benford_test
    from pipeline_dataengineer_spark.operators.stats_tests import (
        benford_test as reexport,
    )

    # 9000 values following Benford exactly: digit d repeated
    # round(9000*log10(1+1/d)) times, each scaled into a magnitude.
    rows = []
    for d in range(1, 10):
        n = round(9000 * math.log10(1 + 1 / d))
        rows += [("benford", float(d) * 10.0 + 0.5)] * n
    rows += [("flat", 700.0 + i) for i in range(100)]  # all digit 7
    df = spark.createDataFrame(rows, "grp string, amount double")

    out = benford_test(df, "amount", ["grp"]).toPandas()
    chi_benford = out[out.grp == "benford"]["chi2_term"].sum()
    chi_flat = out[out.grp == "flat"]["chi2_term"].sum()
    assert chi_benford < 15.5  # chi2(8 dof) alpha=.05 critical value
    assert chi_flat > 100.0
    assert len(out[out.grp == "flat"]) == 1  # only digit 7 observed

    # zero / negative / NULL rows are excluded, |x| digit used
    df2 = spark.createDataFrame(
        [(0.0,), (-230.0,), (None,), (0.05,)], "amount double"
    )
    got = {
        (r["digit"], r["n_obs"])
        for r in benford_test(df2, "amount").collect()
    }
    assert got == {(2, 1), (5, 1)}

    a = sorted(benford_test(df, "amount").collect())
    b = sorted(reexport(df, "amount").collect())
    assert a == b


def test_mann_kendall_trend_directions(spark):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        mann_kendall,
    )

    rows = (
        [("up", i, float(i)) for i in range(30)]
        + [("down", i, float(-2 * i)) for i in range(30)]
        + [("flat", i, 5.0) for i in range(30)]
    )
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {r["k"]: r for r in mann_kendall(df, ["k"], "t", "v").collect()}
    n = 30
    s_max = n * (n - 1) // 2
    assert got["up"]["s"] == s_max and got["down"]["s"] == -s_max
    assert got["up"]["z"] > 1.96 and got["down"]["z"] < -1.96
    # all-tied series: S = 0, variance fully tie-corrected, z = 0
    assert got["flat"]["s"] == 0 and got["flat"]["z"] == 0.0
    assert got["flat"]["var_s"] == 0.0


def test_two_proportion_wilson(spark):
    import math

    import pytest

    from pipeline_dataengineer_spark.operators.stats_tests import (
        two_proportion_test,
    )

    rows = [("A", 1)] * 60 + [("A", 0)] * 40 + [("B", 1)] * 50 + [("B", 0)] * 50
    df = spark.createDataFrame(rows, "g string, conv int")
    r = two_proportion_test(df, "g", "conv", "A", "B").collect()[0]
    assert r["p_a"] == 0.6 and r["p_b"] == 0.5
    assert r["lift"] == pytest.approx(0.2)
    pool = 110 / 200
    z = (0.6 - 0.5) / math.sqrt(pool * (1 - pool) * (1 / 100 + 1 / 100))
    assert r["z"] == pytest.approx(round(z, 6))
    # Wilson interval stays inside [0,1] and brackets the estimate
    assert 0 < r["ci_a_lo"] < 0.6 < r["ci_a_hi"] < 1
    z95 = 1.959963984540054
    z2 = z95 * z95
    n, p = 100, 0.6
    center = (p + z2 / (2 * n)) / (1 + z2 / n)
    half = z95 * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / (1 + z2 / n)
    assert r["ci_a_lo"] == pytest.approx(round(center - half, 6))
    assert r["ci_a_hi"] == pytest.approx(round(center + half, 6))


def test_theil_sen_hand_case_and_outlier_resistance(spark):
    """slope = median of pairwise slopes; one wild outlier can't bend
    the line (the property OLS lacks); x-tied pairs excluded."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        theil_sen,
    )

    # y = 2x exactly, except one corrupted point
    rows = [("k", 1.0, 2.0), ("k", 2.0, 4.0), ("k", 3.0, 6.0),
            ("k", 4.0, 8.0), ("k", 5.0, 500.0)]
    out = theil_sen(
        spark.createDataFrame(rows, "k string, x double, y double"),
        ["k"], "x", "y",
    ).collect()[0]
    # 10 pairwise slopes; median stays 2.0 despite the outlier
    assert out["slope"] == 2.0
    assert out["n"] == 5
    # intercept = median(y) - slope*median(x) = 6 - 2*3 = 0
    assert out["intercept"] == 0.0

    # degenerate: all x equal -> every pair tied on x -> NULL slope
    same_x = [("k", 1.0, 1.0), ("k", 1.0, 5.0), ("k", 1.0, 9.0)]
    d = theil_sen(
        spark.createDataFrame(same_x, "k string, x double, y double"),
        ["k"], "x", "y",
    ).collect()[0]
    assert d["slope"] is None and d["intercept"] is None


def test_page_hinkley_detects_mean_shift(spark):
    """A flat series then a level shift: ph_inc stays ~0 before the
    shift and exceeds the threshold after; quantized and raw modes
    agree to the quantization resolution."""
    from pipeline_dataengineer_spark.operators.timeseries import (
        page_hinkley,
    )

    rows = [("k", i, 10.0) for i in range(20)] + [
        ("k", 20 + i, 30.0) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    out = {
        r["t"]: r
        for r in page_hinkley(
            df, ["k"], "t", "v", delta=0.5, threshold=50.0, quantize=6
        ).collect()
    }
    assert not out[19]["alarm"]  # pre-shift: no drift
    assert out[39]["alarm"]  # post-shift: fired
    assert out[39]["ph_inc"] > 50.0
    raw = {
        r["t"]: r
        for r in page_hinkley(
            df, ["k"], "t", "v", delta=0.5, threshold=50.0
        ).collect()
    }
    for t in (19, 39):
        assert abs(raw[t]["ph_inc"] - out[t]["ph_inc"]) < 1e-3


def test_sprt_decides_early_and_correctly(spark):
    """All-successes stream: accepts H1 at the textbook minimal n
    (first n where n*ln(p1/p0) >= ln((1-b)/a)); all-failures accepts
    H0; a short stream continues."""
    import math

    from pipeline_dataengineer_spark.operators.stats_tests import sprt

    ones = [("up", i, 1) for i in range(40)]
    zeros = [("dn", i, 0) for i in range(40)]
    short = [("sh", 0, 1), ("sh", 1, 0)]
    df = spark.createDataFrame(
        ones + zeros + short, "k string, t int, x int"
    )
    out = {
        r["k"]: r
        for r in sprt(
            df, ["k"], "t", "x", p0=0.45, p1=0.55,
            alpha=0.05, beta=0.05,
        ).collect()
    }
    a_bound = math.log(0.95 / 0.05)
    step = math.log(0.55 / 0.45)
    want_n = math.ceil(a_bound / step)
    assert out["up"]["decision"] == "accept_h1"
    assert out["up"]["n_at_decision"] == want_n
    assert out["dn"]["decision"] == "accept_h0"
    assert out["dn"]["n_at_decision"] == want_n  # symmetric design
    assert out["sh"]["decision"] == "continue"
    assert out["sh"]["n_at_decision"] is None


def test_benjamini_hochberg_textbook(spark):
    """Classic worked example: p = (.01,.02,.03,.04,.25), n=5. BH
    q-values: min-from-right of p*n/i = (.05,.05,.05,.05,.25); all
    but the last reject at alpha=.05. Monotonicity: q non-decreasing
    in rank."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        benjamini_hochberg,
    )

    rows = [(1, 0.01), (2, 0.02), (3, 0.03), (4, 0.04), (5, 0.25)]
    out = {
        r["id"]: r
        for r in benjamini_hochberg(
            spark.createDataFrame(rows, "id int, p double"),
            "id", "p", alpha=0.05,
        ).collect()
    }
    assert [out[i]["q_value"] for i in (1, 2, 3, 4)] == [0.05] * 4
    assert out[5]["q_value"] == 0.25
    assert [out[i]["reject"] for i in (1, 2, 3, 4, 5)] == [
        True, True, True, True, False,
    ]
    qs = [out[i]["q_value"] for i in sorted(out, key=lambda k: out[k]["rank"])]
    assert qs == sorted(qs)


def test_sinkhorn_drift_identity_and_shift(spark):
    """Identical samples transport (almost) nothing; a one-bin shift
    costs ~1 bin; marginal residuals shrink with more iterations."""
    from pyspark.sql import functions as F

    from pipeline_dataengineer_spark.operators.stats_tests import (
        sinkhorn_drift,
    )

    base = spark.range(2000).select(
        (F.col("id") % 80).cast("double").alias("v")
    )
    same = sinkhorn_drift(base, base, "v", n_bins=8).collect()[0]
    assert same["sinkhorn_div"] == 0.0   # debiased: identity is exact
    assert same["marginal_err_ref"] < 1e-3

    shifted = base.select((F.col("v") + 10.0).alias("v"))
    one_bin = sinkhorn_drift(base, shifted, "v", n_bins=8).collect()[0]
    assert one_bin["sinkhorn_div"] > 0.05

    lo = sinkhorn_drift(base, shifted, "v", n_bins=8, iterations=2)
    hi = sinkhorn_drift(base, shifted, "v", n_bins=8, iterations=12)
    assert (
        hi.collect()[0]["marginal_err_ref"]
        <= lo.collect()[0]["marginal_err_ref"]
    )


def test_sinkhorn_drift_monotone_in_shift(spark):
    """Farther mass movement costs more: +30 units must out-cost +10
    on the same 8-bin frame."""
    from pyspark.sql import functions as F

    from pipeline_dataengineer_spark.operators.stats_tests import (
        sinkhorn_drift,
    )

    base = spark.range(2000).select(
        (F.col("id") % 80).cast("double").alias("v")
    )
    near = sinkhorn_drift(
        base, base.select((F.col("v") + 10.0).alias("v")), "v", n_bins=8
    ).collect()[0]["sinkhorn_div"]
    far = sinkhorn_drift(
        base, base.select((F.col("v") + 30.0).alias("v")), "v", n_bins=8
    ).collect()[0]["sinkhorn_div"]
    assert far > near


def test_grouped_sinkhorn_matches_global_per_group(spark):
    """Each group's row equals the global operator run on that
    group's slice alone — the keyed kernel shares the arithmetic."""
    from pyspark.sql import functions as F

    from pipeline_dataengineer_spark.operators.stats_tests import (
        grouped_sinkhorn_drift,
        sinkhorn_drift,
    )

    base = spark.range(3000).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
        (F.col("id") % 70).cast("double").alias("v"),
    )
    cur = base.select(
        "g",
        F.when(F.col("g") == "a", F.col("v") + 20.0)
        .otherwise(F.col("v"))
        .alias("v"),
    )
    grouped = {
        r["g"]: r
        for r in grouped_sinkhorn_drift(
            base, cur, "g", "v", n_bins=8
        ).collect()
    }
    for g in ("a", "b"):
        solo = sinkhorn_drift(
            base.filter(F.col("g") == g),
            cur.filter(F.col("g") == g),
            "v",
            n_bins=8,
        ).collect()[0]
        assert grouped[g]["sinkhorn_div"] == solo["sinkhorn_div"]
        assert grouped[g]["transport_cost"] == solo["transport_cost"]
    # the shifted group must out-score the identical one
    assert grouped["a"]["sinkhorn_div"] > grouped["b"]["sinkhorn_div"]
    assert grouped["b"]["sinkhorn_div"] == 0.0


def test_eb_shrink_closed_form(spark):
    """Hand-checkable one-way layout: two large informative groups +
    one small noisy one; the singleton-ish group shrinks hardest and
    all eb means sit strictly between raw mean and grand mean."""
    from pyspark.sql import functions as F

    from pipeline_dataengineer_spark.operators.stats_tests import (
        eb_shrink_means,
    )

    rows = (
        [("a", 10.0 + (i % 5)) for i in range(20)]
        + [("b", 20.0 + (i % 5)) for i in range(20)]
        + [("c", 40.0), ("c", 0.0)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in eb_shrink_means(df, "g", "v").collect()}
    grand = sum(v for _, v in rows) / len(rows)
    for gname in ("a", "b", "c"):
        r = out[gname]
        raw = r["raw_mean"]
        assert 0.0 <= r["shrinkage"] <= 1.0
        between = (min(raw, grand) - 1e-9 <= r["eb_mean"]
                   <= max(raw, grand) + 1e-9)
        assert between, (gname, r)
    # the 2-row group has far less weight than the 20-row groups
    assert out["c"]["shrinkage"] < out["a"]["shrinkage"]


def test_eb_shrink_degenerate_single_group(spark):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        eb_shrink_means,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0)], "g string, v double"
    )
    r = eb_shrink_means(df, "g", "v").collect()[0]
    assert r["shrinkage"] is None and r["eb_mean"] == r["raw_mean"]


def test_holm_bonferroni_textbook_and_dist_parity(spark, monkeypatch):
    """Classic 4-hypothesis example: p = .01, .02, .03, .04 ->
    adj = .04, .06, .06, .06 (running max enforces monotonicity) in
    the one-task and the forced two-phase regime."""
    from pipeline_dataengineer_spark.operators import order
    from pipeline_dataengineer_spark.operators.stats_tests import (
        holm_bonferroni,
    )

    df = spark.createDataFrame(
        [(1, 0.01), (2, 0.02), (3, 0.03), (4, 0.04)], "hyp_id int, p double"
    ).cache()
    df.count()  # measured cache bytes: the one-task regime first
    want = {1: 0.04, 2: 0.06, 3: 0.06, 4: 0.06}
    for limit in (order._ONE_TASK_MAX_BYTES, -1):
        monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", limit)
        out = {
            r["hyp_id"]: r
            for r in holm_bonferroni(df, "hyp_id", "p").collect()
        }
        for h, adj in want.items():
            assert abs(out[h]["adj_p"] - adj) < 1e-9, (limit, h, out[h])
        assert out[1]["reject"] and not out[2]["reject"]


def test_msprt_always_valid_properties(spark):
    """p is monotone nonincreasing along each stream; a stream truly
    at theta0 keeps p high; a strongly shifted stream drives p to
    rejection."""
    from pyspark.sql import functions as F

    from pipeline_dataengineer_spark.operators.stats_tests import (
        msprt_mean,
    )

    rows = [("null", i, 50.0 + (7.0 if i % 2 else -7.0)) for i in range(200)]
    rows += [("shift", i, 80.0 + (7.0 if i % 2 else -7.0)) for i in range(200)]
    df = spark.createDataFrame(rows, "k string, i int, v double")
    out = msprt_mean(
        df, ["k"], "i", "v", theta0=50.0, sigma2=49.0
    ).collect()
    by_k = {}
    for r in sorted(out, key=lambda r: (r["k"], r["i"])):
        by_k.setdefault(r["k"], []).append(r["p_always"])
    for k, ps in by_k.items():
        assert all(a >= b for a, b in zip(ps, ps[1:])), k  # monotone
    assert by_k["null"][-1] > 0.2
    assert by_k["shift"][-1] < 1e-6
    rej = {r["k"]: r["reject"] for r in out if r["i"] == 199}
    assert rej == {"null": False, "shift": True}


def test_yuen_robust_to_outliers(spark):
    """Identical trimmed cores -> |t| small even with a monster
    outlier in one arm (the plain mean difference would be huge);
    a genuine location shift -> |t| large. Both arms required."""
    import pytest
    from pyspark.sql import functions as F

    from pipeline_dataengineer_spark.operators.stats_tests import (
        yuen_test,
    )

    core = [float(x) for x in range(1, 41)]
    rows = [("a", v) for v in core] + [("b", v) for v in core]
    rows.append(("a", 1e7))  # outlier the trim must neutralize
    df = spark.createDataFrame(rows, "g string, v double")
    r = yuen_test(df, "g", "v", "a", "b", trim=0.2).collect()[0]
    assert abs(r["t_stat"]) < 1.0
    assert abs(r["trimmed_mean_a"] - r["trimmed_mean_b"]) < 2.0

    shifted = spark.createDataFrame(
        [("a", v) for v in core] + [("b", v + 15.0) for v in core],
        "g string, v double",
    )
    r2 = yuen_test(shifted, "g", "v", "a", "b", trim=0.2).collect()[0]
    assert r2["t_stat"] < -4.0

    with pytest.raises(ValueError, match="both groups"):
        yuen_test(df.filter(F.col("g") == "a"), "g", "v", "a", "b")


def test_brunner_munzel_textbook(spark, monkeypatch):
    """The Brunner-Munzel (2000) example from the scipy docs:
    W ~= 3.1375, df ~= 17.683, p_hat = 0.969."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        brunner_munzel,
    )

    x1 = [1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 2, 4, 1, 1]
    x2 = [3, 3, 4, 3, 1, 2, 3, 1, 1, 5, 4]
    rows = [("a", float(v)) for v in x1] + [("b", float(v)) for v in x2]
    df = spark.createDataFrame(rows, "g string, v double")
    r = brunner_munzel(df, "g", "v", "a", "b").collect()[0]
    assert r["n_a"] == 14 and r["n_b"] == 11
    assert abs(r["w_stat"] - 3.1374674823029505) < 1e-6
    assert abs(r["df"] - 17.682841977) < 1e-4
    # brute-forced P(X_a < X_b) + 0.5 P(=) over all 154 pairs
    assert abs(r["p_hat"] - 0.788961038961039) < 1e-6
    # forced two-phase regime: bit parity on the same fixture
    from pipeline_dataengineer_spark.operators import order

    monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", -1)
    rd = brunner_munzel(df, "g", "v", "a", "b").collect()[0]
    assert tuple(rd) == tuple(r)


def _brunner_munzel_reference(a, b):
    """Brunner-Munzel from its definition with numpy midranks."""
    import numpy as np

    def midranks(v):
        v = np.asarray(v)
        lo = np.searchsorted(np.sort(v), v, side="left")
        hi = np.searchsorted(np.sort(v), v, side="right")
        return (lo + hi + 1) / 2.0

    na, nb = len(a), len(b)
    pooled = midranks(np.r_[a, b])
    pa, pb = pooled[:na] - midranks(a), pooled[na:] - midranks(b)
    s2a, s2b = pa.var(ddof=1), pb.var(ddof=1)
    ra, rb = pooled[:na].mean(), pooled[na:].mean()
    comp = na * s2a + nb * s2b
    w = na * nb * (rb - ra) / ((na + nb) * np.sqrt(comp))
    dof = comp**2 / ((na * s2a) ** 2 / (na - 1) + (nb * s2b) ** 2 / (nb - 1))
    return (rb - (nb + 1) / 2.0) / na, w, dof


def test_brunner_munzel_distributed_continuous(spark, monkeypatch):
    """Continuous domain (every value distinct) across a
    many-partition layout: the one-task and the forced two-phase
    regime must agree bit-for-bit (placements are tie-class-count
    functions, every aggregate term an exact dyadic rational) and
    match the definition."""
    from pipeline_dataengineer_spark.operators import order
    from pipeline_dataengineer_spark.operators.stats_tests import (
        brunner_munzel,
    )

    rows = [("a", float(i) * 1.37 + (i % 13) * 0.001) for i in range(400)]
    rows += [("b", float(i) * 1.11 + 20.0) for i in range(350)]
    # a sprinkle of cross-group ties to exercise the midrank math
    rows += [("a", 500.5), ("b", 500.5), ("b", 500.5)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(11)
    df = df.cache()
    df.count()  # measured cache bytes: the one-task regime first
    base = brunner_munzel(df, "g", "v", "a", "b").collect()[0]
    monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", -1)
    dist = brunner_munzel(df, "g", "v", "a", "b").collect()[0]
    assert tuple(dist) == tuple(base)
    assert base["n_a"] == 401 and base["n_b"] == 352
    p_hat, w, dof = _brunner_munzel_reference(
        [v for g, v in rows if g == "a"], [v for g, v in rows if g == "b"]
    )
    assert base["p_hat"] == pytest.approx(p_hat, abs=1e-6)
    assert base["w_stat"] == pytest.approx(w, abs=1e-6)
    assert base["df"] == pytest.approx(dof, abs=1e-5)
