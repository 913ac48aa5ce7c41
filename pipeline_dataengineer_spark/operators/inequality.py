"""Concentration / inequality measures over a value column — the
"how skewed is this corpus / revenue / token distribution" toolkit:

- gini_coefficient: the classic [0, 1] concentration index via the
  rank formula G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over the ascending
  sort. Grouped mode ranks inside each group (keyed windows — scale
  safe); in ungrouped mode the global rank comes from
  operators/order.py:global_cumsum, which never sorts a large input
  in a single task.
- lorenz_curve: the cumulative-share points behind the Gini —
  (population share p, value share L(p)) at n_points evenly spaced
  quantile cuts, read off the same global cumsum.

Both are tie-safe by algebra: any within-tie ordering permutes equal
values across consecutive ranks, leaving Σ i·x₍ᵢ₎ and every prefix
sum unchanged.

Negative values make the Gini ill-defined (shares can exceed 1);
callers filter or shift. NULL values are dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """One row per group (or one row total): (group..., gini, n,
    total). G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n, i = 1-based ascending
    rank; 0 = perfectly equal, →1 = one row holds everything."""
    v = F.col(value_col).cast("double")
    base = df.select(
        *(group_cols or []), v.alias("__v")
    ).filter(F.col("__v").isNotNull())
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy("__v")
        ranked = base.withColumn("__i", F.row_number().over(w))
        agg = ranked.groupBy(*group_cols)
    else:
        from pipeline_dataengineer_spark.operators.order import (
            global_cumsum,
        )

        ranked = global_cumsum(
            base, ["__v"], ["__v"], index_col="__i0"
        ).withColumn("__i", F.col("__i0") + 1)
        agg = ranked.groupBy()
    out = agg.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__v").alias("total"),
        F.sum(F.col("__i") * F.col("__v")).alias("__iwx"),
    )
    n = F.col("n").cast("double")
    gini = F.try_divide(
        2.0 * F.col("__iwx"), n * F.col("total")
    ) - (n + 1) / n
    return out.select(
        *(group_cols or []),
        F.round(gini, round_to).alias("gini"),
        F.col("n").cast("long").alias("n"),
        F.round("total", round_to).alias("total"),
    )


def lorenz_curve(
    df: DataFrame,
    value_col: str,
    n_points: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """The Lorenz curve sampled at k/n_points for k = 1..n_points:
    rows (point, n_rows, value_share) where value_share = (sum of the
    floor(n·k/n_points) smallest values) / total. value_share ≤ point
    everywhere, with equality iff the distribution is flat; the area
    between the curves is Gini/2. Global rank + prefix sums via
    ``global_cumsum``."""
    from pipeline_dataengineer_spark.operators.order import global_cumsum

    v = F.col(value_col).cast("double")
    base = df.select(v.alias("__v")).filter(F.col("__v").isNotNull())
    cum = global_cumsum(base, ["__v"], ["__v"], index_col="__i0")
    stats = cum.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__v").alias("__tot")
    ).collect()[0]
    n = int(stats["__n"])
    spark = df.sparkSession
    if n == 0 or stats["__tot"] is None:
        # empty / all-NULL input: no curve to sample — return the
        # empty frame with the contract schema instead of crashing
        # on float(None) below.
        return spark.createDataFrame(
            [], "point double, n_rows long, value_share double"
        )
    tot = float(stats["__tot"])
    cuts = spark.createDataFrame(
        [(k, (n * k) // n_points) for k in range(1, n_points + 1)],
        "__k int, __cut long",
    )
    # row __i0 + 1 == __cut carries the prefix sum of the __cut
    # smallest values (cum___v is INCLUSIVE); __cut = 0 -> share 0
    picked = cum.join(
        F.broadcast(cuts), F.col("__i0") + 1 == F.col("__cut")
    ).select("__k", "__cut", "cum___v")
    zero = cuts.filter(F.col("__cut") == 0).select(
        "__k", "__cut", F.lit(0.0).alias("cum___v")
    )
    return (
        picked.unionByName(zero)
        .select(
            (F.col("__k") / float(n_points)).alias("point"),
            F.col("__cut").cast("long").alias("n_rows"),
            F.round(
                F.try_divide(F.col("cum___v"), F.lit(tot)), round_to
            ).alias("value_share"),
        )
        .orderBy("point")
    )


def theil_atkinson(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    epsilon: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Entropy-family inequality indices — the decomposable
    complements to the rank-based Gini above:

    - Theil T  = (1/n) Σ (x/μ)·ln(x/μ)  — top-sensitive;
    - Theil L  = (1/n) Σ ln(μ/x)        — bottom-sensitive (MLD);
    - Atkinson(ε) = 1 − (1/μ)·[(1/n) Σ x^(1−ε)]^(1/(1−ε)), the
      welfare reading (ε=0.5 default; ε→1 uses the geometric-mean
      limit).

    Everything reduces to five combinable aggregates per group
    (n, Σx, Σln x, Σx·ln x, Σx^(1−ε)) via
        T = Σx·lnx / Σx − ln μ,   L = ln μ − (1/n)Σln x
    — one shuffle, no windows, no sort (the Gini needs a global
    rank; these do not, which is why they decompose across groups
    and scale for free). Rows with NULL or non-positive values are
    dropped (logs); ``group_cols=None`` yields one global row."""
    eps = float(epsilon)
    if eps == 1.0:
        raise ValueError(
            "epsilon=1 is the geometric-mean limit; pass 0.999… or "
            "extend with the ln-based branch if you need it exactly"
        )
    x = F.col("__x")
    base = df.select(
        *(group_cols or []),
        F.col(value_col).cast("double").alias("__x"),
    ).filter(x.isNotNull() & (x > 0))
    aggs = [
        F.count("*").alias("__n"),
        F.sum(x).alias("__s"),
        F.sum(F.log(x)).alias("__sl"),
        F.sum(x * F.log(x)).alias("__sxl"),
        F.sum(F.pow(x, F.lit(1.0 - eps))).alias("__sp"),
    ]
    g = base.groupBy(*group_cols).agg(*aggs) if group_cols else base.agg(*aggs)
    mu = F.col("__s") / F.col("__n")
    theil_t = F.col("__sxl") / F.col("__s") - F.log(mu)
    theil_l = F.log(mu) - F.col("__sl") / F.col("__n")
    atk = F.lit(1.0) - (
        F.pow(F.col("__sp") / F.col("__n"), F.lit(1.0 / (1.0 - eps))) / mu
    )
    return g.select(
        *(group_cols or []),
        F.col("__n").alias("n"),
        F.round(theil_t, round_to).alias("theil_t"),
        F.round(theil_l, round_to).alias("theil_l"),
        F.round(atk, round_to).alias("atkinson"),
    )
