"""Observational causal-effect estimators — the "we couldn't run the
A/B" toolkit that complements the experiment machinery in
stats_tests (two_proportion_test, cuped_adjust, sprt):

- propensity_match_att: matched-comparison ATT when treatment was
  NOT randomized — each treated unit compared to its nearest control
  in propensity score (with replacement, optional caliper). Scores
  come from any model; linear_model.logistic_gd / logistic_predict
  is the natural in-repo producer.
- diff_in_diff: the 2x2 pre/post x treat/control interaction — the
  rollout-without-holdout estimator.

Both are pure relational algebra. Matching-with-replacement is the
deliberate choice: greedy without-replacement matching is inherently
sequential (each match consumes a control), while with-replacement
nearest-neighbor is per-row independent — the LAST sorted-merge
trick an engine can parallelize: sort the union by score once, and
each treated row's nearest control is either the closest control at
or below (a running last value) or the closest above (the reverse) —
two ordered forward-fills, no join at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipeline_dataengineer_spark.operators.order import global_running_last


def propensity_match_att(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    score_col: str,
    caliper: float | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Average Treatment effect on the Treated by nearest-neighbor
    propensity matching WITH replacement: every treated unit pairs
    with the control whose score is closest (ties to the lower
    score; among controls with IDENTICAL scores the tie-break is
    deterministic — max outcome on the below side, min outcome on
    the above side); pairs with score distance > ``caliper`` are
    dropped (reported). Returns ONE row:
    (n_treated, n_matched, n_controls, att, mean_abs_score_gap).

    Scale shape: controls collapse to one row per distinct score
    (hash agg; max outcome = the below-side tie-break, min outcome =
    the above-side one), the treated rows union in, and each
    direction's nearest control is an ordered forward-fill
    (``order.global_running_last``) over the union — no join, no
    per-row search; the classic two-pass sorted-merge."""
    t = F.col(treat_col).cast("int")
    base = df.select(
        t.alias("__t"),
        F.col(outcome_col).cast("double").alias("__y"),
        F.col(score_col).cast("double").alias("__s"),
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    ctrl_g = (
        base.filter(F.col("__t") == 0)
        .groupBy("__s")
        .agg(
            F.max("__y").alias("__cy_dn"),
            F.min("__y").alias("__cy_up"),
        )
        .select(
            F.lit(0).alias("__t"),
            F.lit(None).cast("double").alias("__y"),
            "__s",
            "__cy_dn",
            "__cy_up",
        )
    )
    treated = base.filter(F.col("__t") == 1).select(
        "__t",
        "__y",
        "__s",
        F.lit(None).cast("double").alias("__cy_dn"),
        F.lit(None).cast("double").alias("__cy_up"),
    )
    un = treated.unionByName(ctrl_g).withColumn(
        "__is_ctrl", F.col("__t") == 0
    )
    up = global_running_last(
        un,
        [F.col("__s").asc(), F.col("__t").asc()],
        ["__s", "__cy_dn"],
        "__is_ctrl",
        out_cols=["__bs", "__by"],
    )
    dn = global_running_last(
        up,
        [F.col("__s").desc(), F.col("__t").asc()],
        ["__s", "__cy_up"],
        "__is_ctrl",
        out_cols=["__as", "__ay"],
    )
    cand = dn.filter(F.col("__t") == 1).select(
        "__t", "__y", "__s", "__bs", "__by", "__as", "__ay"
    )
    d_below = F.col("__s") - F.col("__bs")
    d_above = F.col("__as") - F.col("__s")
    use_below = F.col("__bs").isNotNull() & (
        F.col("__as").isNull() | (d_below <= d_above)
    )
    matched = cand.select(
        "__y",
        F.when(use_below, F.col("__by"))
        .otherwise(F.col("__ay"))
        .alias("__cy"),
        F.when(use_below, d_below).otherwise(d_above).alias("__gap"),
    ).filter(F.col("__cy").isNotNull())
    if caliper is not None:
        matched = matched.filter(F.col("__gap") <= caliper)
    eff = matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.round(F.avg(F.col("__y") - F.col("__cy")), round_to).alias(
            "att"
        ),
        F.round(F.avg("__gap"), round_to).alias("mean_abs_score_gap"),
    )
    tot = base.agg(
        F.sum(F.col("__t")).cast("long").alias("n_treated"),
        F.sum(1 - F.col("__t")).cast("long").alias("n_controls"),
    )
    return tot.crossJoin(F.broadcast(eff)).select(
        "n_treated", "n_matched", "n_controls", "att",
        "mean_abs_score_gap",
    )


def diff_in_diff(
    df: DataFrame,
    treat_col: str,
    post_col: str,
    outcome_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Difference-in-differences over the 2x2 design:

        DiD = (ȳ_treat,post − ȳ_treat,pre)
            − (ȳ_ctrl,post − ȳ_ctrl,pre)

    with the classical OLS-equivalent standard error from the four
    cell variances (Σ s²_g/n_g). Returns one row with the four cell
    means/counts, the did estimate, its se, and z = did/se. ONE
    combinable aggregate — four conditional means over the facts,
    nothing else."""
    t = F.col(treat_col).cast("int")
    p = F.col(post_col).cast("int")
    y = F.col(outcome_col).cast("double")

    def cell(ti, pi):
        c = (t == ti) & (p == pi)
        return (
            F.avg(F.when(c, y)),
            F.count(F.when(c, 1)).cast("double"),
            F.var_samp(F.when(c, y)),
        )

    m11, n11, v11 = cell(1, 1)
    m10, n10, v10 = cell(1, 0)
    m01, n01, v01 = cell(0, 1)
    m00, n00, v00 = cell(0, 0)
    agg = df.agg(
        m11.alias("__m11"), n11.alias("__n11"), v11.alias("__v11"),
        m10.alias("__m10"), n10.alias("__n10"), v10.alias("__v10"),
        m01.alias("__m01"), n01.alias("__n01"), v01.alias("__v01"),
        m00.alias("__m00"), n00.alias("__n00"), v00.alias("__v00"),
    )
    did = (
        (F.col("__m11") - F.col("__m10"))
        - (F.col("__m01") - F.col("__m00"))
    )
    # try_divide: an EMPTY design cell has count 0 (a literal zero,
    # not NULL) — plain division would raise ANSI DIVIDE_BY_ZERO;
    # with try_divide the se (and z) degrade to NULL, matching the
    # NULL did that the missing cell mean already produces.
    se = F.sqrt(
        F.try_divide(F.col("__v11"), F.col("__n11"))
        + F.try_divide(F.col("__v10"), F.col("__n10"))
        + F.try_divide(F.col("__v01"), F.col("__n01"))
        + F.try_divide(F.col("__v00"), F.col("__n00"))
    )
    return agg.select(
        F.round(F.col("__m10"), round_to).alias("treat_pre"),
        F.round(F.col("__m11"), round_to).alias("treat_post"),
        F.round(F.col("__m00"), round_to).alias("ctrl_pre"),
        F.round(F.col("__m01"), round_to).alias("ctrl_post"),
        (F.col("__n11") + F.col("__n10")).cast("long").alias("n_treat"),
        (F.col("__n01") + F.col("__n00")).cast("long").alias("n_ctrl"),
        F.round(did, round_to).alias("did"),
        F.round(se, round_to).alias("se"),
        F.round(F.try_divide(did, se), round_to).alias("z"),
    )


def aipw_ate(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    feature_cols: list[str],
    lr: float = 0.5,
    l2: float = 0.01,
    iterations: int = 3,
    ridge: float = 1e-6,
    clip: tuple[float, float] = (0.05, 0.95),
    round_to: int = 6,
) -> DataFrame:
    """Doubly-robust average treatment effect (AIPW / augmented IPW):

        ATE = mean[ μ₁(x) − μ₀(x)
                    + T·(Y − μ₁(x))/e(x)
                    − (1−T)·(Y − μ₀(x))/(1−e(x)) ]

    with e(x) a full-batch-GD logistic propensity (the logistic_gd
    loop, unrounded) and μ_t(x) per-arm ridge OLS outcome models —
    consistent if EITHER model is right, the workhorse estimator
    observational pipelines should default to over raw
    difference-in-means. Propensities are clipped to ``clip``
    (overlap guard; reported convention, not hidden).

    Returns one row: (n, n_treat, ate_naive, ate_aipw).

    Scale shape: the propensity fit is ``iterations`` combinable
    d+1-mean aggregates (the logistic_gd posture); the outcome
    models need ONE groupBy(treatment) aggregate of (d+1)² second
    moments, solved driver-side ((d+1)×(d+1) — codebook-sized); the
    estimate itself is one final combinable aggregate. The driver
    only ever holds coefficient vectors."""
    import numpy as np

    from pipeline_dataengineer_spark.operators.linear_model import (
        _fit_logistic,
    )

    d = len(feature_cols)
    if d == 0:
        raise ValueError("feature_cols must be non-empty")
    t = F.col(treat_col).cast("double")
    y = F.col(outcome_col).cast("double")
    xs = [F.col(c).cast("double") for c in feature_cols]

    w, b = _fit_logistic(df, feature_cols, treat_col, lr, l2, iterations)

    # per-arm design moments: X = (1, x1..xd)
    basis = [F.lit(1.0)] + xs
    aggs = []
    for j in range(d + 1):
        for k in range(j, d + 1):
            aggs.append(F.sum(basis[j] * basis[k]).alias(f"m_{j}_{k}"))
        aggs.append(F.sum(basis[j] * y).alias(f"v_{j}"))
    arms = {
        int(r[treat_col]): r
        for r in df.groupBy(treat_col).agg(*aggs).collect()
    }
    if set(arms) != {0, 1}:
        raise ValueError(
            f"aipw_ate needs both treatment arms present, got {sorted(arms)}"
        )

    def beta(arm: int) -> list[float]:
        r = arms[arm]
        m = np.zeros((d + 1, d + 1))
        v = np.zeros(d + 1)
        for j in range(d + 1):
            v[j] = r[f"v_{j}"]
            for k in range(j, d + 1):
                m[j, k] = m[k, j] = r[f"m_{j}_{k}"]
        m += ridge * np.eye(d + 1)
        return [float(x) for x in np.linalg.solve(m, v)]

    b1, b0 = beta(1), beta(0)

    z = F.lit(b)
    for j in range(d):
        z = z + F.lit(w[j]) * xs[j]
    e = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    e = F.least(F.greatest(e, F.lit(float(clip[0]))), F.lit(float(clip[1])))

    def mu(beta_vec: list[float]):
        out = F.lit(beta_vec[0])
        for j in range(d):
            out = out + F.lit(beta_vec[j + 1]) * xs[j]
        return out

    mu1, mu0 = mu(b1), mu(b0)
    term = (
        mu1
        - mu0
        + t * (y - mu1) / e
        - (F.lit(1.0) - t) * (y - mu0) / (F.lit(1.0) - e)
    )
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(t).cast("long").alias("n_treat"),
        F.round(
            F.try_divide(F.sum(t * y), F.sum(t))
            - F.try_divide(
                F.sum((F.lit(1.0) - t) * y), F.sum(F.lit(1.0) - t)
            ),
            round_to,
        ).alias("ate_naive"),
        F.round(F.avg(term), round_to).alias("ate_aipw"),
    )


def quantile_treatment_effects(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    qs: list[float] = (0.25, 0.5, 0.75),
    round_to: int = 6,
) -> DataFrame:
    """Distributional complement to aipw_ate's single mean number:
    QTE(q) = Q_q(Y | T=1) − Q_q(Y | T=0) at each requested quantile —
    where an effect that helps the tail but not the median (or vice
    versa) actually shows up. This is the difference of MARGINAL
    quantiles (the standard estimand; it equals the quantile of the
    individual effect only under rank invariance — stated, not
    hidden).

    Exact discrete per-arm quantiles via global_exact_quantiles — no
    approx_percentile error bound; cost = one sort per arm (sized by
    operators/order.py), each quantile reaching the driver as one
    plucked row.
    Returns (q, y_treated, y_control, qte)."""
    t = F.col(treat_col).cast("int")
    from pipeline_dataengineer_spark.operators.robust import (
        global_exact_quantiles,
    )

    qs = list(qs)
    arm1 = global_exact_quantiles(
        df.filter(t == 1).select(outcome_col), outcome_col, qs
    ).select(F.col("q"), F.col("value").alias("y_treated"))
    arm0 = global_exact_quantiles(
        df.filter(t == 0).select(outcome_col), outcome_col, qs
    ).select(F.col("q"), F.col("value").alias("y_control"))
    return (
        arm1.join(arm0, "q")
        .select(
            "q",
            F.round("y_treated", round_to).alias("y_treated"),
            F.round("y_control", round_to).alias("y_control"),
            F.round(
                F.col("y_treated") - F.col("y_control"), round_to
            ).alias("qte"),
        )
    )
