"""Isotonic regression (pool-adjacent-violators) — the standard
model-calibration fit (map raw model scores to calibrated
probabilities under a monotonicity constraint).

Shape: one shuffle on the group key, then PAV inside a grouped Arrow
map — PAV is inherently sequential in the sort order of ONE group's
points (stack-based pooling, O(n) after the sort), which is exactly
the applyInPandas contract: per-key state bounded by that key's row
count, a million keys stream through independently. Calibration
groups (model version, segment) are naturally bounded; for a single
giant group the documented preconditioner is score-quantile
pre-binning (robust.quantile_bucketize) to a fixed number of
weighted points — the standard industrial reduction, which PAV then
pools exactly.

Determinism: points sort by (x, y, weight) so pooling order — and
therefore every fitted value — is layout-independent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from pipeline_dataengineer_spark.operators.order import (
    global_cumsum,
    global_row_index,
)


def _pav(y: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Weighted PAV over y in given order: non-decreasing fit that
    minimizes weighted squared error. Returns the fitted values."""
    # each stack block: [sum_w, sum_wy, count]
    blocks: list[list[float]] = []
    for yi, wi in zip(y, w):
        blocks.append([wi, wi * yi, 1])
        while len(blocks) > 1:
            bw, bwy, bc = blocks[-1]
            aw, awy, ac = blocks[-2]
            if bwy / bw < awy / aw:  # violator: pool
                blocks.pop()
                blocks[-1] = [aw + bw, awy + bwy, ac + bc]
            else:
                break
    out = np.empty(len(y))
    i = 0
    for bw, bwy, bc in blocks:
        out[i : i + bc] = bwy / bw
        i += bc
    return out


def isotonic_regression(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    y_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-key isotonic fit: adds ``fitted`` — the non-decreasing (in
    ``x_col``) least-squares approximation of ``y_col``. Equal-x
    points receive equal fitted values (they are pre-pooled, the
    standard primary treatment of ties)."""
    cols = list(df.columns)
    out_schema = StructType(
        df.schema.fields + [StructField("fitted", DoubleType())]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [x_col, y_col], kind="mergesort"
        ).reset_index(drop=True)
        w = (
            pdf[weight_col].to_numpy(dtype=np.float64)
            if weight_col
            else np.ones(len(pdf))
        )
        y = pdf[y_col].to_numpy(dtype=np.float64)
        x = pdf[x_col].to_numpy(dtype=np.float64)
        # pre-pool ties in x to one weighted point each
        ux, inv = np.unique(x, return_inverse=True)
        wsum = np.bincount(inv, weights=w)
        wy = np.bincount(inv, weights=w * y)
        pooled = _pav(wy / wsum, wsum)
        pdf["fitted"] = pooled[inv]
        return pdf[cols + ["fitted"]]

    if key_cols:
        return df.groupBy(*key_cols).applyInPandas(fit, out_schema)
    return df.withColumn("__g", F.lit(1)).groupBy("__g").applyInPandas(
        lambda p: fit(p.drop(columns="__g")), out_schema
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Expected Calibration Error (the standard reliability metric
    for classifier scores): equal-WIDTH bins over [0, 1],
    ECE = Σ_b (n_b / N) · |acc_b − conf_b|, plus the per-bin
    reliability table callers plot. Returns one row per non-empty bin
    (bin, n, conf, acc, gap) with ``ece`` repeated on each row (the
    driver-friendly flat shape — take any row's ece, or plot the
    bins).

    One combinable groupBy over the facts (bin = floor(score·k)
    clamped); everything after is k-row algebra. Scores must lie in
    [0, 1]."""
    from pyspark.sql import functions as F

    s = F.col(score_col).cast("double")
    b = F.least(
        F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    cells = (
        df.withColumn("__b", b)
        .groupBy("__b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(s).alias("conf"),
            F.avg(F.col(label_col).cast("double")).alias("acc"),
        )
    )
    tot = cells.agg(F.sum("n").alias("__t"))
    withe = cells.crossJoin(F.broadcast(tot)).withColumn(
        "gap", F.abs(F.col("acc") - F.col("conf"))
    )
    wk = Window.partitionBy()
    return withe.select(
        F.col("__b").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.round("conf", round_to).alias("conf"),
        F.round("acc", round_to).alias("acc"),
        F.round("gap", round_to).alias("gap"),
        F.round(
            F.sum(F.col("n") / F.col("__t") * F.col("gap")).over(wk),
            round_to,
        ).alias("ece"),
    )


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Brier score with the Murphy (1973) decomposition over
    equal-width forecast bins: BS = REL − RES + UNC, where
    reliability REL = Σ n_b(conf_b − acc_b)²/N (calibration error,
    lower better), resolution RES = Σ n_b(acc_b − base)²/N
    (discrimination, higher better), and uncertainty
    UNC = base·(1 − base) is the irreducible term. Returns ONE row
    (brier, reliability, resolution, uncertainty, identity_gap) —
    identity_gap is the within-bin variance the binning hides
    (brier − (rel − res + unc)), ~0 when scores cluster at bin
    centers. Two combinable aggregates, k-row algebra after."""
    from pyspark.sql import functions as F

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1))
    cells = (
        df.withColumn("__b", b)
        .groupBy("__b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(s).alias("conf"),
            F.avg(y).alias("acc"),
        )
    )
    tot = df.agg(
        F.count(F.lit(1)).cast("double").alias("__t"),
        F.avg(y).alias("__base"),
        F.avg((s - y) * (s - y)).alias("__bs"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    rel = F.sum(
        F.col("n")
        * (F.col("conf") - F.col("acc"))
        * (F.col("conf") - F.col("acc"))
        / F.col("__t")
    )
    res = F.sum(
        F.col("n")
        * (F.col("acc") - F.col("__base"))
        * (F.col("acc") - F.col("__base"))
        / F.col("__t")
    )
    return j.agg(
        F.round(F.max("__bs"), round_to).alias("brier"),
        F.round(rel, round_to).alias("reliability"),
        F.round(res, round_to).alias("resolution"),
        F.round(
            F.max(F.col("__base") * (1 - F.col("__base"))), round_to
        ).alias("uncertainty"),
        F.round(
            F.max("__bs")
            - (
                rel
                - res
                + F.max(F.col("__base") * (1 - F.col("__base")))
            ),
            round_to,
        ).alias("identity_gap"),
    )


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Exact ROC-AUC via the rank-sum identity (probabilistic
    interpretation: P(score⁺ > score⁻) + ½P(tie)), tie-handled with
    average ranks — identical to trapezoidal ROC integration:
    AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻). Returns
    (auc, gini, n_pos, n_neg).

    Group by distinct score (combinable hash agg); the average rank
    of every row at score s is ``cum_count_before(s) + (cnt(s)+1)/2``
    — a ``global_cumsum`` over the distinct-score table, which is
    smaller than the input."""
    y = F.col(label_col).cast("int")
    g = (
        df.select(
            y.alias("__y"),
            F.col(score_col).cast("double").alias("__s"),
        )
        .groupBy("__s")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.sum("__y").alias("__pos"),
        )
    )
    gc = global_cumsum(g, ["__s"], ["__cnt"], exclusive=True)
    # avg rank at s = rank_first + (cnt-1)/2 = cum_before + (cnt+1)/2
    avg_rank = F.col("cum___cnt") + (F.col("__cnt") + 1) / 2.0
    agg = gc.agg(
        F.sum(F.col("__pos") * avg_rank).alias("__rp"),
        F.sum("__pos").alias("n_pos"),
        F.sum(F.col("__cnt") - F.col("__pos")).alias("n_neg"),
    )
    auc = F.try_divide(
        F.col("__rp")
        - F.col("n_pos").cast("double")
        * (F.col("n_pos") + 1)
        / 2.0,
        F.col("n_pos").cast("double") * F.col("n_neg"),
    )
    return agg.select(
        F.round(auc, round_to).alias("auc"),
        F.round(2 * auc - 1, round_to).alias("gini"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Average Precision (the area under the precision-recall curve,
    step-interpolated the sklearn way): rank by score DESCENDING with
    a deterministic label tie-break (positives after negatives at
    equal scores — the PESSIMISTIC convention, so ties never inflate
    AP), then AP = Σ_{hits k} precision@k / n_pos. Returns
    (ap, n_pos, n).

    One ``global_cumsum`` on the order (score desc, label asc): its
    row index gives k, the running label sum gives hits@k. Rows tied
    on (score, label) are interchangeable in the AP sum, so the
    scan's arbitrary within-tie order cannot change the result."""
    base = df.select(
        F.col(label_col).cast("int").alias("__y"),
        F.col(score_col).cast("double").alias("__s"),
    )
    gc = global_cumsum(
        base,
        [F.col("__s").desc(), F.col("__y").asc()],
        ["__y"],
        index_col="__k0",
    )
    scored = gc.select(
        "__y",
        F.when(
            F.col("__y") == 1,
            F.col("cum___y") / (F.col("__k0") + 1).cast("double"),
        ).alias("__p"),
    )
    return scored.agg(
        F.round(
            F.try_divide(F.sum("__p"), F.sum("__y").cast("double")),
            round_to,
        ).alias("ap"),
        F.sum("__y").cast("long").alias("n_pos"),
        F.count(F.lit(1)).alias("n"),
    )


def lift_gains(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Decile lift & gains table — the standard campaign-targeting /
    model-triage read-out: rank the population by score descending,
    cut into ``n_buckets`` equal-count buckets, report per bucket the
    cumulative share of positives captured (``gain``), the cumulative
    positive rate, and ``lift`` = cumulative rate / base rate.

    Bucket assignment is ``floor(rank · b / N)`` over the EXACT global
    order (score desc, id asc) — ``order.global_row_index``, which
    never sorts a large input in a single task. Everything after the index is
    a ``n_buckets``-row aggregate; the cumulative window runs over
    those ≤ b rows on the driver side of a partial agg, not the facts.
    """
    base = df.select(
        (-F.col(score_col).cast("double")).alias("__neg"),
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("double").alias("__y"),
    )
    idx = global_row_index(base, ["__neg", "__id"], "__idx")
    tot = base.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("__y").alias("__pos"),
    )
    cells = (
        idx.crossJoin(F.broadcast(tot))
        .withColumn(
            "bucket",
            F.floor(F.col("__idx") * n_buckets / F.col("__n")).cast("long"),
        )
        .groupBy("bucket", "__n", "__pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__y").alias("__p"),
        )
    )
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum_n = F.sum("n").over(wcum).cast("double")
    cum_pos = F.sum("__p").over(wcum)
    return cells.select(
        "bucket",
        "n",
        F.col("__p").cast("long").alias("pos"),
        cum_n.cast("long").alias("cum_n"),
        cum_pos.cast("long").alias("cum_pos"),
        # try_divide: a zero-positive dataset degrades to NULL gain /
        # lift deterministically instead of ANSI DIVIDE_BY_ZERO
        # (repo convention — see diff_in_diff, local_outlier_factor)
        F.round(F.try_divide(cum_pos, F.col("__pos")), round_to).alias(
            "gain"
        ),
        F.round(F.try_divide(cum_pos, cum_n), round_to).alias("cum_rate"),
        F.round(
            F.try_divide(
                F.try_divide(cum_pos, cum_n),
                F.try_divide(F.col("__pos"), F.col("__n")),
            ),
            round_to,
        ).alias("lift"),
    )


def split_conformal(
    df: DataFrame,
    group_cols: list[str],
    y_col: str,
    id_col: str,
    alpha: float = 0.1,
    round_to: int = 6,
) -> DataFrame:
    """Split-conformal prediction intervals with finite-sample
    marginal coverage ≥ 1 − alpha (Vovk et al.; Lei et al. 2018):
    split rows by id parity into a calibration half (even ids) and a
    test half (odd ids); the predictor is the per-group calibration
    mean; the half-width is the ⌈(n_cal + 1)(1 − alpha)⌉-th smallest
    absolute calibration residual of the group (the conformal order
    statistic, NOT an interpolated quantile). Returns the test rows
    with (pred, lo, hi, covered).

    Shape: one partial-aggregable mean per group, one window ranked
    WITHIN the group key (never a global sort) to pick the order
    statistic, then a broadcast-sized per-group table of
    (mean, qhat) joins back to the test half.
    """
    gid = [F.col(c) for c in group_cols]
    cal = df.filter(F.col(id_col) % 2 == 0)
    test = df.filter(F.col(id_col) % 2 == 1)

    means = cal.groupBy(*gid).agg(
        F.avg(F.col(y_col).cast("double")).alias("__mu"),
        F.count(F.lit(1)).alias("__ncal"),
    )
    resid = cal.join(means, group_cols).select(
        *group_cols,
        F.col(id_col).alias("__rid"),
        F.abs(F.col(y_col).cast("double") - F.col("__mu")).alias("__r"),
    )
    wg = Window.partitionBy(*group_cols).orderBy("__r", "__rid")
    ranked = resid.withColumn("__rk", F.row_number().over(wg))
    # conformal rank: ceil((n+1)(1-alpha)); when it exceeds n_cal the
    # interval is unbounded — surfaced as NULL qhat (and covered=1)
    k = F.ceil((F.col("__ncal") + 1) * F.lit(1.0 - alpha))
    qhat = (
        ranked.join(means.select(*gid, "__ncal"), group_cols)
        .filter(F.col("__rk") == F.least(k, F.col("__ncal")))
        .filter(k <= F.col("__ncal"))
        .select(*group_cols, F.col("__r").alias("__q"))
    )
    band = means.join(qhat, group_cols, "left")
    y = F.col(y_col).cast("double")
    return test.join(F.broadcast(band), group_cols).select(
        F.col(id_col).alias("id"),
        *group_cols,
        F.round(y, round_to).alias("y"),
        F.round("__mu", round_to).alias("pred"),
        F.round(F.col("__mu") - F.col("__q"), round_to).alias("lo"),
        F.round(F.col("__mu") + F.col("__q"), round_to).alias("hi"),
        F.when(F.col("__q").isNull(), F.lit(1))
        .otherwise(
            (
                (y >= F.col("__mu") - F.col("__q"))
                & (y <= F.col("__mu") + F.col("__q"))
            ).cast("int")
        )
        .alias("covered"),
    )


def grouped_roc_auc(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
    label_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group exact ROC-AUC (one row per group: groups..., auc,
    gini, n_pos, n_neg) — the segment-sliced eval every model report
    needs (AUC by language, by source, by time bucket). Same
    tie-corrected rank-sum identity as ``roc_auc``, but every window
    is PARTITIONED by the group — groups rank independently in
    parallel, so no single-task stage exists at any group count."""
    from pyspark.sql import functions as F

    y = F.col(label_col).cast("int")
    w = Window.partitionBy(*group_cols).orderBy("__s")
    wt = Window.partitionBy(*group_cols, "__s")
    ranked = df.select(
        *group_cols,
        y.alias("__y"),
        F.col(score_col).cast("double").alias("__s"),
    ).select(
        *group_cols,
        "__y",
        (
            F.rank().over(w)
            + (F.count(F.lit(1)).over(wt) - 1) / 2.0
        ).alias("__r"),
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.sum(F.when(F.col("__y") == 1, F.col("__r"))).alias("__rp"),
        F.sum(F.when(F.col("__y") == 1, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("__y") == 0, 1).otherwise(0)).alias("n_neg"),
    )
    auc = F.try_divide(
        F.col("__rp")
        - F.col("n_pos").cast("double") * (F.col("n_pos") + 1) / 2.0,
        F.col("n_pos").cast("double") * F.col("n_neg"),
    )
    return agg.select(
        *group_cols,
        F.round(auc, round_to).alias("auc"),
        F.round(2 * auc - 1, round_to).alias("gini"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
    )
