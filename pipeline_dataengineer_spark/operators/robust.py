"""Robust statistics operators: winsorization / percentile clipping.

Outlier handling for feature columns before training: clip values to
the [lower_q, upper_q] percentile band, optionally per group. Bounds
are computed with EXACT interpolated percentiles (same definition as
DuckDB ``quantile_cont``, so the whole operator oracle-checks), then
attached with a broadcast join — the bounds table has one row per
group, so the fact side never shuffles.

Exact percentile buffers every group's values in ONE aggregation
buffer — correct and oracle-matching at test scale, an OOM on a hot
group at 100 TB. Every operator here therefore carries a RUNTIME size
switch (``max_exact_rows``): a cheap map-side-combinable count pass
finds the largest group, and when it exceeds the threshold the
operator transparently swaps ``F.percentile`` for
``F.percentile_approx`` (t-digest-style sketch: fixed-size state,
mergeable, no per-group value buffering) while keeping the identical
broadcast-join shape. The decision is REPORTED, never silent: the
returned DataFrame carries ``.robust_audit = {"mode",
"max_group_rows", "max_exact_rows"}`` and a warning is logged on the
approx path. ``max_exact_rows=None`` forces exact (skips the count
pass); ``0`` forces approx.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Above this many rows in a single group, the exact percentile's
# sort-buffer (~8 B/row/column in one aggregation buffer) becomes an
# executor-memory hazard; the sketch path is indistinguishable for
# clipping/binning purposes at that scale.
DEFAULT_MAX_EXACT_ROWS = 5_000_000


# Plan nodes that provably do NOT increase row count. A plan made
# only of these has at most as many rows as its parquet sources'
# footers declare — joins, explodes, unions etc. can expand and
# disqualify the metadata shortcut.
_ROW_PRESERVING_NODES = (
    "Project",
    "Filter",
    "SubqueryAlias",
    "Relation",
    "LogicalRelation",
    "GlobalLimit",
    "LocalLimit",
    "Sort",
    "Repartition",
    "RepartitionByExpression",
    "Rebalance",
    "Deduplicate",
    "Sample",
    "Window",
    "View",
)


def _static_row_bound(df: DataFrame, max_files: int = 256) -> int | None:
    """Upper-bound ``df``'s row count from parquet FOOTER metadata —
    driver-side file reads, zero Spark jobs. Returns None whenever the
    bound cannot be proven: non-file sources, non-local schemes, too
    many files, or any plan node that can expand rows (join, explode,
    union …). Footers store exact row counts, and every row-preserving
    plan can only shrink them, so the sum is a sound upper bound on
    the largest group too.

    This is what makes the ``max_exact_rows`` switch FREE on small
    inputs: the exact/approx decision must precede plan construction
    (an ``observe`` metric only materializes after the caller's
    action, too late to pick the aggregate expression), so the only
    way to avoid the probe job is to answer it without running one."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ").strip()
        if not s:
            continue
        head = s.split(" ", 1)[0].split("(", 1)[0].split("[", 1)[0]
        if head and not any(head == a for a in _ROW_PRESERVING_NODES):
            return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > max_files:
        return None
    from urllib.parse import urlparse

    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None  # remote FS: footer fetch isn't driver-cheap
        path = parsed.path or uri
        if not path.endswith((".parquet", ".parq")):
            return None
        try:
            total += pq.ParquetFile(path).metadata.num_rows
        except Exception:
            return None
    return total


def _percentile_mode(
    df: DataFrame,
    group_cols: list[str] | None,
    max_exact_rows: int | None,
) -> tuple[bool, int | None]:
    """Decide exact vs approx: (is_exact, max_group_rows).

    Decision ladder: (1) parquet footer metadata — when the plan is
    row-preserving and the sources' declared row total is already
    under the threshold, exact is safe with ZERO Spark jobs (the
    common small-input case); (2) otherwise one count-only probe
    aggregation — partial-aggregable (only per-task partial counts
    shuffle), so it is skew-proof even when the data itself is
    skewed, and at the scales where it runs its cost is noise next to
    the percentile work it guards."""
    if max_exact_rows is None:
        return True, None
    if max_exact_rows <= 0:
        return False, None
    bound = _static_row_bound(df)
    if bound is not None and bound <= max_exact_rows:
        return True, bound
    if group_cols:
        counts = df.groupBy(*group_cols).agg(F.count("*").alias("__n"))
    else:
        counts = df.agg(F.count("*").alias("__n"))
    row = counts.agg(F.max("__n").alias("m")).collect()[0]
    mx = int(row["m"] or 0)
    exact = mx <= max_exact_rows
    if not exact:
        logging.getLogger(__name__).warning(
            "robust-stats: largest group has %d rows (> max_exact_rows=%d); "
            "switching to approx_percentile sketches. Results are "
            "approximate; pass max_exact_rows=None to force exact.",
            mx,
            max_exact_rows,
        )
    return exact, mx


def _pct(exact: bool, col: Column | str, q: float, accuracy: int) -> Column:
    if exact:
        return F.percentile(col, F.lit(q))
    return F.percentile_approx(col, F.lit(q), F.lit(accuracy))


def _audited(df: DataFrame, exact: bool, mx: int | None, thr: int | None) -> DataFrame:
    df.robust_audit = {
        "mode": "exact" if exact else "approx",
        "max_group_rows": mx,
        "max_exact_rows": thr,
    }
    return df


def winsorize(
    df: DataFrame,
    value_col: str,
    lower_q: float = 0.05,
    upper_q: float = 0.95,
    group_cols: list[str] | None = None,
    out_col: str | None = None,
    max_exact_rows: int | None = DEFAULT_MAX_EXACT_ROWS,
    accuracy: int = 10_000,
) -> DataFrame:
    """Clip ``value_col`` into its [lower_q, upper_q] percentile band
    (per group when ``group_cols`` given). Adds ``out_col`` (default
    ``<value_col>_w``); original column is preserved. See module
    docstring for the ``max_exact_rows`` exact/approx switch."""
    out = out_col or f"{value_col}_w"
    exact, mx = _percentile_mode(df, group_cols, max_exact_rows)
    lo = _pct(exact, value_col, lower_q, accuracy).alias("__lo")
    hi = _pct(exact, value_col, upper_q, accuracy).alias("__hi")
    if group_cols:
        bounds = df.groupBy(*group_cols).agg(lo, hi)
        joined = df.join(F.broadcast(bounds), group_cols)
    else:
        bounds = df.agg(lo, hi)
        joined = df.join(F.broadcast(bounds))
    clipped = F.least(
        F.greatest(F.col(value_col), F.col("__lo").cast("double")),
        F.col("__hi").cast("double"),
    )
    return _audited(
        joined.withColumn(out, clipped).drop("__lo", "__hi"),
        exact, mx, max_exact_rows,
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: float = 3.0,
    consistency: float = 1.4826,
    flag_col: str = "is_outlier",
    max_exact_rows: int | None = DEFAULT_MAX_EXACT_ROWS,
    accuracy: int = 10_000,
) -> DataFrame:
    """Robust outlier flagging by median absolute deviation: a row is
    an outlier when ``|x - median| > k * consistency * MAD`` (the
    1.4826 consistency constant makes MAD estimate sigma under
    normality, so k plays the role of "k sigmas" without the mean and
    stddev being dragged by the outliers themselves).

    Two group-sized aggregates (median, then MAD of the residuals),
    each broadcast-joined back — the fact table never shuffles, same
    shape as winsorize. Exact interpolated ``F.percentile`` matches
    DuckDB ``quantile_cont`` for the oracle; past ``max_exact_rows``
    the operator swaps in sketch percentiles at the SAME join shape
    (one size probe covers both aggregates — the residual table has
    the same group sizes as the input).

    Degenerate groups: all-constant values give MAD == 0 and flag
    nothing (0 > 0 is false); a majority-constant group flags every
    value off the median, which is the intended reading of a
    zero-spread distribution."""
    exact, mx = _percentile_mode(df, group_cols, max_exact_rows)
    med = _pct(exact, value_col, 0.5, accuracy).alias("__med")
    if group_cols:
        meds = df.groupBy(*group_cols).agg(med)
        with_med = df.join(F.broadcast(meds), group_cols)
    else:
        with_med = df.join(F.broadcast(df.agg(med)))
    dev = F.abs(F.col(value_col) - F.col("__med"))
    mad = _pct(exact, dev, 0.5, accuracy).alias("__mad")
    if group_cols:
        mads = with_med.groupBy(*group_cols).agg(mad)
        j = with_med.join(F.broadcast(mads), group_cols)
    else:
        j = with_med.join(F.broadcast(with_med.agg(mad)))
    flag = dev > F.lit(k) * F.lit(consistency) * F.col("__mad")
    return _audited(
        j.withColumn(flag_col, flag).drop("__med", "__mad"),
        exact, mx, max_exact_rows,
    )


def quantile_bucketize(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 4,
    group_cols: list[str] | None = None,
    out_col: str | None = None,
    max_exact_rows: int | None = DEFAULT_MAX_EXACT_ROWS,
    accuracy: int = 10_000,
) -> DataFrame:
    """Equal-frequency (quantile) binning — the ML-feature staple:
    bucket i collects values in (q_i, q_{i+1}]. Boundaries are exact
    interpolated percentiles at 1/n .. (n-1)/n computed in one
    group-sized aggregate and broadcast back; the bucket id is
    ``sum(value > boundary_i)`` — a fixed fan of comparisons, no
    window, no sort of the fact table (same shape as winsorize; past
    ``max_exact_rows`` boundaries come from sketch percentiles, join
    shape unchanged). Deterministic and SQL-portable, unlike ntile,
    whose tie-breaking is row-order dependent."""
    out = out_col or f"{value_col}_bucket"
    exact, mx = _percentile_mode(df, group_cols, max_exact_rows)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    aggs = [
        _pct(exact, value_col, q, accuracy).alias(f"__qb_{i}")
        for i, q in enumerate(qs)
    ]
    if group_cols:
        bounds = df.groupBy(*group_cols).agg(*aggs)
        joined = df.join(F.broadcast(bounds), group_cols)
    else:
        joined = df.join(F.broadcast(df.agg(*aggs)))
    bucket = F.lit(0)
    for i in range(len(qs)):
        bucket = bucket + F.when(
            F.col(value_col) > F.col(f"__qb_{i}"), 1
        ).otherwise(0)
    return _audited(
        joined.withColumn(out, bucket.cast("long")).drop(
            *[f"__qb_{i}" for i in range(len(qs))]
        ),
        exact, mx, max_exact_rows,
    )


def weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    q: float = 0.5,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Weighted quantile per group (q=0.5 = the weighted median —
    "the price point below which half the revenue sits", survey
    estimates with sampling weights): the smallest value whose
    cumulative weight reaches q of the group's total — the
    left-continuous inverse-CDF definition (no interpolation, so the
    result is always an observed value and the cross-engine replay
    is exact given exact weights).

    One window sort per group for the cumulative weight, then a
    min-over-qualifying aggregate — the same one-shuffle shape as
    every per-key ordered statistic here. Zero/negative weights are
    rejected loudly (they make the CDF non-monotone) via an INLINE
    ANSI raise_error branch — an earlier eager ``filter.count()``
    guard ran the operator's whole upstream plan twice per call
    (measured ~2× wall on the bench query, whose input is a join)."""
    g = list(group_cols or [])
    v, w = F.col(value_col), F.col(weight_col)
    base = df.filter(v.isNotNull() & w.isNotNull())
    w_ok = F.when(w > 0, w).otherwise(
        F.raise_error(
            F.concat(
                F.lit("weighted_quantile: weights must be > 0; got "),
                w.cast("string"),
            )
        )
    )
    win = (
        Window.partitionBy(*g)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy(*g)
    cum = base.select(
        *g,
        v.alias("__v"),
        (F.sum(w_ok).over(win) / F.sum(w_ok).over(tot)).alias("__cdf"),
    )
    out = (
        cum.filter(F.col("__cdf") >= q)
        .groupBy(*g)
        .agg(F.min("__v").alias(f"wq_{str(q).replace('.', '_')}"))
    )
    return out


def global_exact_quantiles(
    df: DataFrame,
    value_col: str,
    qs: list[float],
) -> DataFrame:
    """EXACT whole-table discrete quantiles (smallest value with
    cume_dist >= q — always an observed value) computed with NO
    single-task sort and NO per-group aggregation buffer: the classic
    scale answer when ``approx_percentile`` error bounds are not
    acceptable table-wide.

    Plan: one columnar count, then ``global_row_index`` on (value, a
    disambiguating hash) and a filter to the target rank positions —
    each quantile is ONE row plucked from the total order, so the
    result reaches the driver as |qs| rows regardless of table size.
    Cost = one sort, distributed once the input outgrows one task
    (``operators/order.py``)."""
    from pipeline_dataengineer_spark.operators.order import global_row_index

    if not qs or any(not (0 < q <= 1) for q in qs):
        raise ValueError("qs must be fractions in (0, 1]")
    n = df.filter(F.col(value_col).isNotNull()).count()
    if n == 0:
        raise ValueError("global_exact_quantiles: no non-null values")
    import math

    ranks = {q: math.ceil(q * n) - 1 for q in qs}  # 0-based positions
    keyed = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("__v"),
        # total order needs a tie-break; any per-row distinct-ish
        # value works — equal __v rows are interchangeable at a rank
        F.monotonically_increasing_id().alias("__tb"),
    )
    idx = global_row_index(keyed, ["__v", "__tb"], "__pos")
    picked = idx.filter(
        F.col("__pos").isin(*set(ranks.values()))
    ).select("__pos", "__v")
    pos_to_v = {r["__pos"]: r["__v"] for r in picked.collect()}
    spark = df.sparkSession
    return spark.createDataFrame(
        [(float(q), pos_to_v[p]) for q, p in sorted(ranks.items())],
        f"q double, value {df.schema[value_col].dataType.simpleString()}",
    )


def median_ci(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    z: float = 1.959963984540054,  # 95% two-sided normal quantile
) -> DataFrame:
    """Distribution-free confidence interval for the MEDIAN per key
    via order statistics (the classic sign-test inversion with the
    normal approximation for the binomial ranks):

        k_lo = floor((n − z·√n) / 2),  k_hi = ceil((n + z·√n) / 2) + 1
        CI = [x_(k_lo), x_(k_hi)]   (ranks clamped into [1, n])

    No distributional assumption on the data — the interval is two
    observed values. Returns (keys..., n, median, ci_lo, ci_hi).

    Relational: rank rows per key (one window shuffle), compute the
    rank bounds as pure column math on the per-key count, and keep
    exactly the two boundary rows + the median via conditional
    aggregation — one pass, group-sized output."""
    w = Window.partitionBy(*key_cols).orderBy(value_col)
    wk = Window.partitionBy(*key_cols)
    v = F.col(value_col).cast("double")
    ranked = df.select(*key_cols, v.alias("__v")).select(
        *key_cols,
        "__v",
        F.row_number().over(w.orderBy("__v")).alias("__rn"),
        F.count(F.lit(1)).over(wk).alias("__n"),
    )
    n = F.col("__n").cast("double")
    k_lo = F.greatest(
        F.floor((n - F.lit(z) * F.sqrt(n)) / 2), F.lit(1)
    )
    k_hi = F.least(
        F.ceil((n + F.lit(z) * F.sqrt(n)) / 2) + 1, F.col("__n")
    )
    med_lo = F.floor((n + 1) / 2)
    med_hi = F.ceil((n + 1) / 2)
    tagged = ranked.select(
        *key_cols,
        "__v",
        "__n",
        (F.col("__rn") == k_lo).alias("__is_lo"),
        (F.col("__rn") == k_hi).alias("__is_hi"),
        F.col("__rn").between(med_lo, med_hi).alias("__is_med"),
    )
    return tagged.groupBy(*key_cols).agg(
        F.max("__n").cast("long").alias("n"),
        F.avg(F.when(F.col("__is_med"), F.col("__v"))).alias("median"),
        F.max(F.when(F.col("__is_lo"), F.col("__v"))).alias("ci_lo"),
        F.max(F.when(F.col("__is_hi"), F.col("__v"))).alias("ci_hi"),
    )


def trimmed_mean(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    trim: float = 0.1,
    round_to: int = 6,
) -> DataFrame:
    """Symmetric trimmed mean per key — the robust location estimate
    between the mean (trim=0) and the median (trim→0.5): drop the
    lowest and highest ``trim`` fraction BY RANK and average the
    interior. Returns (keys..., n, n_used, trimmed_mean).

    Rank-based (not value-threshold-based like winsorize), so heavy
    ties at the cut behave deterministically: ranks r in
    (floor(n·trim), n − floor(n·trim)] survive. One window pass +
    one combinable aggregate."""
    if not 0 <= trim < 0.5:
        raise ValueError("trim must be in [0, 0.5)")
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(value_col).cast("double")
    )
    wk = Window.partitionBy(*key_cols)
    ranked = df.select(
        *key_cols, F.col(value_col).cast("double").alias("__v")
    ).select(
        *key_cols,
        "__v",
        F.row_number().over(w.orderBy("__v")).alias("__r"),
        F.count(F.lit(1)).over(wk).alias("__n"),
    )
    k = F.floor(F.col("__n") * F.lit(float(trim)))
    keep = (F.col("__r") > k) & (F.col("__r") <= F.col("__n") - k)
    return ranked.groupBy(*key_cols).agg(
        F.max("__n").cast("long").alias("n"),
        F.sum(keep.cast("long")).alias("n_used"),
        F.round(
            F.avg(F.when(keep, F.col("__v"))), round_to
        ).alias("trimmed_mean"),
    )
