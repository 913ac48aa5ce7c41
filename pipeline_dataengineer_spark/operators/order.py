"""Global total-order utilities: row indexing, running scans and
sorted-neighborhood blocking.

``row_number() OVER (ORDER BY ...)`` with no partition key funnels
the whole table through ONE task — the canonical scale bug (Spark
itself warns). Each primitive here (``global_row_index``,
``global_cumsum``, ``global_cummin``, ``global_running_last``)
therefore picks one of two plans for the same rows:

- **one task** when Catalyst's size estimate of the input
  (``joins.plan_bytes``, no job) is at most ``_ONE_TASK_MAX_BYTES``
  — Spark's default advisory partition size, one task's worth of
  input: a single native unkeyed window (``row_number``, ``sum``,
  ``min``, ``last … ignorenulls``), no eager job;
- **two phases** otherwise, including an unknown estimate and an
  explicit ``num_partitions`` (a requested layout):
  1. range-repartition + sort within partitions on the order key
     (Spark's own distributed sort), pinned by ``localCheckpoint``;
  2. reduce each partition to a summary (row count, total, minimum
     or last valid row — a partition-count-sized collect), fold the
     summaries driver-side into per-partition carries, and scan each
     partition seeded with its carry.

The result is the exact answer over the total order ``order_cols``
computed with nothing but partition-sized state at any size. Rows
tied on the order keep an arbitrary-but-fixed relative order within
one evaluation; callers needing tie-invariance make the order total
or consume only tie-invariant functionals (as AP / AUC do).

Sorted-neighborhood blocking (the other classic ER blocking besides
FastSS edit-distance and LSH): sort records by a blocking key and
compare only rows within ``window`` positions. Pair generation from
the index is an equi-join on ``floor(idx / window)`` plus the
adjacent block, with the exact ``|i−j| <= window`` residual — every
qualifying pair meets in exactly one block, no quadratic join, hot
blocks are ordinary AQE-splittable skew.
"""

from __future__ import annotations

import bisect
import math
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline_dataengineer_spark.operators.joins import plan_bytes

# Largest size estimate (bytes) an order primitive runs as one
# unkeyed window: spark.sql.adaptive.advisoryPartitionSizeInBytes'
# default, i.e. one task's worth of input.
_ONE_TASK_MAX_BYTES = 64 << 20


def _one_task(df: DataFrame, num_partitions: int | None) -> bool:
    if num_partitions is not None:
        return False
    size = plan_bytes(df)
    return size is not None and size <= _ONE_TASK_MAX_BYTES


def _order_exprs(order_exprs) -> list:
    return [F.col(c) if isinstance(c, str) else c for c in order_exprs]


def _running(order_exprs, exclusive: bool = False):
    """The ROWS frame from the first row to the current one (or to the
    one before it) over the total order."""
    return Window.orderBy(*_order_exprs(order_exprs)).rowsBetween(
        Window.unboundedPreceding, -1 if exclusive else Window.currentRow
    )


def global_row_index(
    df: DataFrame,
    order_cols: list[str],
    index_col: str = "row_index",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add the exact 0-based position of each row in the total order
    ``order_cols`` (which must be unique per row — include an id)."""
    if _one_task(df, num_partitions):
        return df.withColumn(
            index_col,
            (F.row_number().over(Window.orderBy(*order_cols)) - 1).cast(
                "long"
            ),
        )
    n_part = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ordered = df.repartitionByRange(
        n_part, *[F.col(c) for c in order_cols]
    ).sortWithinPartitions(*order_cols)
    # localCheckpoint: the partition-size pass and the indexing pass
    # MUST see the same partitioning, but repartitionByRange samples
    # its boundaries with an RDD-id-derived seed — recomputing it per
    # action can shift rows across partitions and corrupt the offsets
    # (observed: permuted indices under a second evaluation). The
    # checkpoint pins one materialized partitioning for both passes.
    #
    # The per-partition local index needs no Python pass:
    # ``monotonically_increasing_id`` IS
    # (partition_id << 33) + 0-based-row-counter-in-partition-order,
    # computed BEFORE the checkpoint so it is stored with the pinned
    # data; both the partition id and the local index are bit-slices
    # of a stored long, and the offset lookup is a literal array.
    with_mid = ordered.withColumn(
        "__mid", F.monotonically_increasing_id()
    ).localCheckpoint()
    pid = F.shiftright(F.col("__mid"), 33).cast("int")
    local_idx = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
    # partition sizes -> cumulative offsets (partition-count-sized)
    sizes = {
        r["__pid"]: r["cnt"]
        for r in with_mid.groupBy(pid.alias("__pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # Offset lookup: dense literal ARRAY indexing is O(1) per row
    # (partition ids are the dense RDD partition indices 0..P-1;
    # empty partitions get their running offset so the array stays
    # index-addressable). Past ~1024 partitions the plan-size cost of
    # ANY literal wins over its no-join benefit, so large layouts
    # fall back to a broadcast hash join on the partition id — same
    # O(1) probe, plan size O(1), one extra broadcast of a
    # partition-count-sized table.
    n_parts_total = max(sizes, default=-1) + 1
    dense, acc2 = [], 0
    for p in range(n_parts_total):
        dense.append(acc2)
        acc2 += sizes.get(p, 0)
    if n_parts_total == 0:  # empty input: no rows ever evaluate this
        return with_mid.withColumn(index_col, local_idx).drop("__mid")
    if n_parts_total <= 1024:
        # bigint elements: the literal type must not flip at 2^31
        off_arr = F.array(*[F.lit(off).cast("long") for off in dense])
        return with_mid.withColumn(
            index_col, local_idx + F.element_at(off_arr, pid + 1)
        ).drop("__mid")
    off_df = df.sparkSession.createDataFrame(
        [(p, off) for p, off in enumerate(dense)],
        "__off_pid int, __off long",
    )
    return (
        with_mid.join(
            F.broadcast(off_df), pid == F.col("__off_pid"), "left"
        )
        .withColumn(index_col, local_idx + F.col("__off"))
        .drop("__mid", "__off_pid", "__off")
    )


def _pinned_range_sort(df: DataFrame, order_exprs, num_partitions=None):
    """Range-repartition + sort within partitions on ``order_exprs``
    (strings, Columns, or SortOrders like ``F.col("s").desc()``),
    then localCheckpoint and tag ``__pid``. The checkpoint pins ONE
    materialized partitioning so every downstream pass (per-partition
    summaries, the scan itself) sees identical partition contents —
    repartitionByRange samples its boundaries per-evaluation
    otherwise (see global_row_index's comment)."""
    n_part = (
        num_partitions or df.sparkSession.sparkContext.defaultParallelism
    )
    exprs = _order_exprs(order_exprs)
    ordered = df.repartitionByRange(n_part, *exprs).sortWithinPartitions(
        *exprs
    )
    return ordered.withColumn(
        "__pid", F.spark_partition_id()
    ).localCheckpoint()


def _nan_flag(c: str) -> str:
    return f"__nan_{c}"


def _is_float(dt: T.DataType) -> bool:
    return isinstance(dt, (T.FloatType, T.DoubleType))


def _scan_partitions(
    pinned: DataFrame,
    new_fields: list[T.StructField],
    init: Callable[[int], object],
    step: Callable[[pd.DataFrame, object], object],
) -> DataFrame:
    """Phase two over a pinned sort: ``init(pid)`` seeds each
    partition's scan state from its carry, and ``step(pdf, state)``
    adds ``new_fields`` to one Arrow batch (in partition order) and
    returns the state for the next batch. Drops ``__pid``.

    pandas holds NULL and NaN alike as NaN, and Arrow reads every NaN
    back as NULL. So each floating column crosses with a boolean
    ``_nan_flag`` column that tells them apart: set here for input
    columns, set by ``step`` for each floating column it adds, and
    turned back into NaN after the scan."""
    floats = [f for f in pinned.schema.fields if _is_float(f.dataType)]
    floats_new = [f for f in new_fields if _is_float(f.dataType)]
    flagged = pinned.select(
        "*", *[F.isnan(f.name).alias(_nan_flag(f.name)) for f in floats]
    )
    schema = T.StructType(
        flagged.schema.fields
        + new_fields
        + [
            T.StructField(_nan_flag(f.name), T.BooleanType())
            for f in floats_new
        ]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state, seeded = None, False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if not seeded:
                state, seeded = init(int(pdf["__pid"].iloc[0])), True
            pdf = pdf.copy()
            state = step(pdf, state)
            yield pdf

    scanned = flagged.mapInPandas(scan, schema)
    restored = {
        f.name: F.when(
            F.col(_nan_flag(f.name)), F.lit(float("nan")).cast(f.dataType)
        )
        .otherwise(F.col(f.name))
        .alias(f.name)
        for f in floats + floats_new
    }
    return scanned.select(
        *[
            restored.get(f.name, F.col(f.name))
            for f in list(pinned.schema.fields) + new_fields
            if f.name != "__pid"
        ]
    )


def _values(pdf: pd.DataFrame, c: str) -> tuple[np.ndarray, np.ndarray]:
    """Column ``c`` of one batch as float64 values and its NULL mask."""
    v = pdf[c].astype("float64").to_numpy()
    null = np.isnan(v)
    if _nan_flag(c) in pdf:
        null &= ~pdf[_nan_flag(c)].to_numpy(dtype=bool)
    return v, null


def _cum_out_type(dt: T.DataType) -> T.DataType:
    integral = (
        T.ByteType,
        T.ShortType,
        T.IntegerType,
        T.LongType,
        T.BooleanType,
    )
    return T.LongType() if isinstance(dt, integral) else T.DoubleType()


def global_cumsum(
    df: DataFrame,
    order_exprs,
    sum_cols: list[str],
    index_col: str | None = None,
    exclusive: bool = False,
    prefix: str = "cum_",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running sums (and optionally the 0-based global
    row index) over the order ``order_exprs`` — ``sum(x) OVER (ORDER
    BY ... ROWS UNBOUNDED PRECEDING)`` at any size. Adds
    ``{prefix}{col}`` per sum col (inclusive of the current row unless
    ``exclusive=True``) and ``index_col`` if given. NULLs in sum cols
    count as 0; a NaN makes every later sum NaN. Numeric sum cols
    only; integral inputs produce long cumsums, everything else
    double. Double sums of the two plans agree up to floating-point
    association (exactly, for values whose sums are exact).

    Two-phase plan: per-partition totals and row counts (one
    partition-count-sized collect) become exclusive carries for a
    mapInPandas local cumsum."""
    out_types = {
        c: _cum_out_type(df.schema[c].dataType) for c in sum_cols
    }
    if _one_task(df, num_partitions):
        frame = _running(order_exprs, exclusive)
        cols = [
            F.coalesce(
                F.sum(F.col(c).cast(t)).over(frame), F.lit(0).cast(t)
            ).alias(prefix + c)
            for c, t in out_types.items()
        ]
        if index_col is not None:
            w = Window.orderBy(*_order_exprs(order_exprs))
            cols.append(
                (F.row_number().over(w) - 1).cast("long").alias(index_col)
            )
        return df.select("*", *cols)

    pinned = _pinned_range_sort(df, order_exprs, num_partitions)
    part_rows = (
        pinned.groupBy("__pid")
        .agg(
            F.count(F.lit(1)).alias("__rows"),
            *[F.sum(F.col(c).cast(t)).alias(c) for c, t in out_types.items()],
        )
        .collect()
    )
    # per partition: (rows before it, sums before it)
    carry: dict[int, tuple[int, list]] = {}
    rows, acc = 0, [0] * len(sum_cols)
    for r in sorted(part_rows, key=lambda r: r["__pid"]):
        carry[r["__pid"]] = (rows, list(acc))
        rows += r["__rows"]
        acc = [
            a + (r[c] if r[c] is not None else 0)
            for a, c in zip(acc, sum_cols)
        ]

    def step(pdf: pd.DataFrame, state):
        seen, running = state
        for i, (c, t) in enumerate(out_types.items()):
            longs = isinstance(t, T.LongType)
            if longs:
                v = pdf[c].fillna(0).astype("int64").to_numpy()
                cs = np.cumsum(np.r_[np.int64(running[i]), v])
            else:
                v, null = _values(pdf, c)
                cs = np.cumsum(np.r_[float(running[i]), np.where(null, 0.0, v)])
            out = cs[:-1] if exclusive else cs[1:]
            pdf[prefix + c] = out
            if not longs:
                pdf[_nan_flag(prefix + c)] = np.isnan(out)
            running[i] = cs[-1]
        if index_col is not None:
            pdf[index_col] = np.arange(seen, seen + len(pdf), dtype="int64")
        return seen + len(pdf), running

    new_fields = [
        T.StructField(prefix + c, t) for c, t in out_types.items()
    ]
    if index_col is not None:
        new_fields.append(T.StructField(index_col, T.LongType()))
    return _scan_partitions(
        pinned,
        new_fields,
        lambda pid: (carry[pid][0], list(carry[pid][1])),
        step,
    )


def _spark_min(a, b):
    """Spark's ``min`` of two values: NULL (None) is skipped, NaN sorts
    above every number."""
    if a is None or (b is not None and math.isnan(a)):
        return b
    if b is None or math.isnan(b):
        return a
    return min(a, b)


def global_cummin(
    df: DataFrame,
    order_exprs,
    value_cols: list[str],
    prefix: str = "cummin_",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running MINIMUM of ``value_cols`` (inclusive of
    the current row) over the total order ``order_exprs`` — ``min(x)
    OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`` at any size, with
    Spark's ``min`` semantics: NULLs are skipped (a row whose prefix
    is all-NULL gets NULL) and NaN sorts above every number. Numeric
    cols only; outputs are double.

    Two-phase plan: per-partition minima (one partition-count-sized
    collect) fold into carries for a mapInPandas local
    ``minimum.accumulate``."""
    if _one_task(df, num_partitions):
        frame = _running(order_exprs)
        return df.select(
            "*",
            *[
                F.min(F.col(c).cast("double")).over(frame).alias(prefix + c)
                for c in value_cols
            ],
        )

    pinned = _pinned_range_sort(df, order_exprs, num_partitions)
    part_rows = (
        pinned.groupBy("__pid")
        .agg(*[F.min(F.col(c).cast("double")).alias(c) for c in value_cols])
        .collect()
    )
    carry: dict[int, list] = {}
    acc: list = [None] * len(value_cols)
    for r in sorted(part_rows, key=lambda r: r["__pid"]):
        carry[r["__pid"]] = list(acc)
        acc = [_spark_min(a, r[c]) for a, c in zip(acc, value_cols)]

    def step(pdf: pd.DataFrame, running: list) -> list:
        for i, c in enumerate(value_cols):
            v, null = _values(pdf, c)
            real = ~null & ~np.isnan(v)
            run = running[i]
            run_real = run is not None and not math.isnan(run)
            cm = np.minimum.accumulate(
                np.r_[run if run_real else np.inf, np.where(real, v, np.inf)]
            )[1:]
            seen_real = np.logical_or.accumulate(np.r_[run_real, real])[1:]
            seen = np.logical_or.accumulate(np.r_[run is not None, ~null])[1:]
            pdf[prefix + c] = np.where(seen_real, cm, np.nan)
            pdf[_nan_flag(prefix + c)] = seen & ~seen_real
            if seen_real[-1]:
                running[i] = float(cm[-1])
            elif seen[-1]:  # only NaNs so far
                running[i] = math.nan
        return running

    return _scan_partitions(
        pinned,
        [T.StructField(prefix + c, T.DoubleType()) for c in value_cols],
        lambda pid: list(carry[pid]),
        step,
    )


def global_running_last(
    df: DataFrame,
    order_exprs,
    value_cols: list[str],
    valid_col: str,
    out_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """For each row, the ``value_cols`` of the LAST at-or-before row
    (in the total order ``order_exprs``) where boolean ``valid_col``
    is true; NULL when no such row exists — ``last(struct(values),
    ignorenulls) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`` at any
    size. A valid row's NULL value is carried as NULL. Numeric
    (castable-to-double) value cols only; outputs are double columns
    named ``out_cols`` (default ``last_<value_col>``).

    Two-phase plan: each partition's last valid row (one JVM
    aggregate, partition-count-sized collect) folds into per-partition
    carries for a mapInPandas forward-fill."""
    out_cols = out_cols or [f"last_{c}" for c in value_cols]
    values = F.struct(
        *[
            F.col(c).cast("double").alias(f"v{i}")
            for i, c in enumerate(value_cols)
        ]
    )
    if _one_task(df, num_partitions):
        last = F.last(F.when(F.col(valid_col), values), ignorenulls=True)
        return (
            df.withColumn("__last", last.over(_running(order_exprs)))
            .select(
                "*",
                *[
                    F.col("__last")[f"v{i}"].alias(o)
                    for i, o in enumerate(out_cols)
                ],
            )
            .drop("__last")
        )

    pinned = _pinned_range_sort(df, order_exprs, num_partitions)
    # the checkpointed rows read back in sort order, so the running id
    # orders them within each partition
    lasts = (
        pinned.select(
            "__pid",
            F.monotonically_increasing_id().alias("__pos"),
            values.alias("__v"),
            F.col(valid_col),
        )
        .filter(F.col(valid_col))
        .groupBy("__pid")
        .agg(F.max_by("__v", "__pos").alias("__v"))
        .collect()
    )
    last_of = {r["__pid"]: list(r["__v"]) for r in lasts}
    with_last = sorted(last_of)

    def init(pid: int) -> list | None:
        # carry-in: the last valid row of the nearest earlier
        # partition that has one
        i = bisect.bisect_left(with_last, pid)
        return list(last_of[with_last[i - 1]]) if i else None

    def step(pdf: pd.DataFrame, run: list | None) -> list | None:
        valid = pdf[valid_col].fillna(False).astype(bool).to_numpy()
        at = np.maximum.accumulate(np.where(valid, np.arange(len(pdf)), -1))
        has = at >= 0
        cols = [_values(pdf, c) for c in value_cols]
        for i, (v, null) in enumerate(cols):
            seed = run[i] if run is not None else None
            fill = np.where(has, v[at], np.nan if seed is None else seed)
            fill_null = np.where(has, null[at], seed is None)
            pdf[out_cols[i]] = fill
            pdf[_nan_flag(out_cols[i])] = np.isnan(fill) & ~fill_null
        if has[-1]:
            j = at[-1]
            run = [None if null[j] else float(v[j]) for v, null in cols]
        return run

    return _scan_partitions(
        pinned,
        [T.StructField(o, T.DoubleType()) for o in out_cols],
        init,
        step,
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_key,
    window: int = 5,
    key_col_name: str = "__snm_key",
) -> DataFrame:
    """Candidate pairs (id_a, id_b) with id_a's sort position within
    ``window`` of id_b's (id_a ordered before id_b). ``sort_key`` is
    a Column (e.g. a normalized name prefix); ties order by id so
    the order is total."""
    keyed = df.select(F.col(id_col), sort_key.alias(key_col_name))
    idx = global_row_index(keyed, [key_col_name, id_col], "__idx")
    a = idx.select(
        F.col(id_col).alias("id_a"),
        F.col("__idx").alias("__ia"),
        F.floor(F.col("__idx") / window).alias("__blk"),
    )
    b_base = idx.select(
        F.col(id_col).alias("id_b"), F.col("__idx").alias("__ib")
    )
    # each left row probes its own block and the next one; each
    # qualifying pair (ia < ib <= ia+window) meets exactly once
    # because ib - ia <= window spans at most two window-blocks
    b = b_base.withColumn("__blk", F.floor(F.col("__ib") / window)).union(
        b_base.withColumn(
            "__blk", F.floor(F.col("__ib") / window) - 1
        )
    )
    return (
        a.join(b, "__blk")
        .filter(
            (F.col("__ib") > F.col("__ia"))
            & (F.col("__ib") - F.col("__ia") <= window)
        )
        .select("id_a", "id_b")
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    index_col: str = "shuffle_pos",
    num_partitions: int | None = None,
) -> DataFrame:
    """Layout-independent pseudorandom permutation — the "shuffle the
    corpus before training" step. Each row's position is its rank in
    ``(portable_scramble(id), id)`` order, so the permutation is a pure
    function of the ids: re-running on a repartitioned, re-sorted, or
    re-written copy of the data yields the SAME order (unlike
    ``ORDER BY rand()``, which is neither reproducible nor stable
    under retries — a lineage recompute of a failed task would
    permute differently mid-job).

    The rank is ``global_row_index``'s, so a large input never sorts
    in a single task. Writing the
    result partitioned by ``floor(shuffle_pos / shard_size)`` gives
    reproducible training shards."""
    from pipeline_dataengineer_spark.operators.sampling import portable_scramble

    key = portable_scramble(F.col(id_col))
    return global_row_index(
        df.withColumn("__shuffle_key", key),
        ["__shuffle_key", id_col],
        index_col=index_col,
        num_partitions=num_partitions,
    ).drop("__shuffle_key")
