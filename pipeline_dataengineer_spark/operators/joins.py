"""Join helpers beyond the built-in equi-join surface.

The reference's only join is a LEFT ANTI equi-join
(``src/spark_pgsql/spark_streaming.py:82-84``); vanilla joins need no
wrapper (``df.join`` + Catalyst strategy selection). This module adds
the shapes Spark lacks natives for: as-of join and a bucketized range
join, plus a size-gated broadcast helper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate of ``df``'s optimized plan: file
    bytes through Hadoop for a file scan, measured bytes for a
    materialized cache. No job runs. ``None`` when Spark has no real
    statistic: it then reports a sentinel at or above 2^60 (or the
    call fails, as on Spark Connect)."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    return size if 0 <= size < (1 << 60) else None


def broadcast_if_small(
    df: DataFrame,
    max_rows: int = 1_000_000,
    max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Broadcast only under an explicit size gate.

    At cluster scale a blind ``F.broadcast`` on a 'small' side that
    turned out to be 50 GB OOMs every executor. The gate uses the
    optimizer's size estimate (``plan_bytes`` — free, no job) when
    the plan exposes one; only when no statistics are available
    (pure in-memory frames, Spark Connect) does it fall back to a
    count job. At 100 TB the estimate path means gating a maybe-small
    dimension never costs a scan of it. (AQE also auto-broadcasts
    under spark.sql.autoBroadcastJoinThreshold; this is the explicit
    variant for when the caller knows better.)
    """
    size = plan_bytes(df)
    if size is not None:
        return F.broadcast(df) if size <= max_bytes else df
    return F.broadcast(df) if df.count() <= max_rows else df


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_ts <= left_ts (direction='backward'; 'forward' = earliest
    right_ts >= left_ts), matching on the `on` key.

    No native Spark operator → union both sides tagged, sort within
    the key partition by (ts, side), and carry the last-seen right row
    forward with a window ``last(ignorenulls=True)``. ONE shuffle on
    the key (the window), no range explosion — the scalable shape.

    Ties between right rows sharing (key, ts) are broken
    deterministically: the window ordering ends with the whole right
    struct descending, so ``last()`` lands on the LEXICOGRAPHICALLY
    SMALLEST right row (field order = right's column order) — the
    same row ``ORDER BY ts, <first col> LIMIT 1`` picks. Without the
    tie-break the carried match depended on partition-internal order
    and could flake run to run. (Requires right's columns to be
    orderable types — true for anything parquet-relational; a map
    column would need an explicit id tie-break instead.)
    """
    lcols = left.columns
    rcols = [c for c in right.columns if c != on]
    l_tagged = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*lcols).alias("__l"),
        F.lit(None).cast(right.select(F.struct(*rcols).alias("s")).schema["s"].dataType).alias("__r"),
    )
    r_tagged = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(left.select(F.struct(*lcols).alias("s")).schema["s"].dataType).alias("__l"),
        F.struct(*rcols).alias("__r"),
    )
    unioned = l_tagged.unionByName(r_tagged)
    if direction == "backward":
        w = (
            Window.partitionBy("__k")
            .orderBy(
                F.col("__ts").asc(),
                F.col("__side").asc(),
                F.col("__r").desc_nulls_first(),
            )
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    elif direction == "forward":
        w = (
            Window.partitionBy("__k")
            .orderBy(
                F.col("__ts").desc(),
                F.col("__side").asc(),
                F.col("__r").desc_nulls_first(),
            )
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    matched = unioned.withColumn("__m", F.last("__r", ignorenulls=True).over(w)).filter(
        F.col("__side") == 1
    )
    if tolerance is not None:
        # pandas merge_asof semantics: a match farther than
        # `tolerance` (seconds for timestamps, the column's own units
        # for numerics) is no match at all — the right side nulls out.
        diff = F.abs(
            F.col("__l")[left_ts].cast("double")
            - F.col("__m")[right_ts].cast("double")
        )
        matched = matched.withColumn(
            "__m",
            F.when(diff <= F.lit(float(tolerance)), F.col("__m")),
        )
    out_cols = [F.col("__l")[c].alias(c) for c in lcols] + [
        F.col("__m")[c].alias(c) for c in rcols
    ]
    return matched.select(*out_cols)


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join without the cross-product trap.

    Naive ``l.point between r.lo and r.hi`` is a broadcast-nested-loop
    at scale. Bucketize: explode each right interval into the integer
    buckets it overlaps, bucket the left point, equi-join on bucket,
    then apply the exact range predicate. Shuffle is on the bucket key
    → sort-merge/hash join, not BNLJ.
    """
    lb = left.withColumn("__bucket", F.floor(F.col(left_point) / bucket_width))
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / bucket_width),
                F.floor(F.col(right_hi) / bucket_width),
            )
        ),
    )
    cond = (
        (lb["__bucket"] == rb["__bucket"])
        & (lb[left_point] >= rb[right_lo])
        & (lb[left_point] <= rb[right_hi])
    )
    return lb.join(rb, cond, how).drop("__bucket")


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 1,
    left_id: str | None = None,
    right_id: str | None = None,
) -> DataFrame:
    """Edit-distance join (entity resolution): pairs with
    levenshtein(left_col, right_col) <= max_distance, WITHOUT the
    cross join.

    Blocking is the FastSS deletion neighborhood: every string
    explodes to the set of variants reachable by deleting up to
    ``max_distance`` characters; two strings are within edit distance
    k if and only if their <=k-deletion neighborhoods intersect, so
    an equi-join on the variant (hashed to 8 bytes for the shuffle)
    is a sound AND complete candidate generator. Neighborhood size is
    O(len^k) per string — built JVM-side by k rounds of
    delete-one-position over the variant array, so the method fits
    short join keys (names, codes, titles; k <= 2 in practice).
    Candidates dedupe on the id pair before one exact levenshtein
    verify per pair.

    Returns (left_id, left_col, right_id, right_col, distance); id
    and value columns from the right side get an ``_r`` suffix when
    the names collide with the left side.
    """
    k = max_distance
    lid = left_id or left_col
    rid = right_id or right_col

    def delete_one(v):
        # all strings formed by deleting exactly one character of v
        return F.transform(
            F.sequence(F.lit(1), F.length(v)),
            lambda i: F.concat(
                F.substring(v, F.lit(1), i - 1),
                v.substr(i + 1, F.length(v)),
            ),
        )

    def neighborhood(col: str):
        variants = F.array(F.col(col))
        for _ in range(k):
            variants = F.array_distinct(
                F.concat(
                    variants,
                    F.flatten(F.transform(variants, delete_one)),
                )
            )
        return F.transform(variants, lambda v: F.xxhash64(v))

    def explode_side(df: DataFrame, id_c: str, col: str, tag: str) -> DataFrame:
        return df.select(
            F.col(id_c).alias(f"{tag}_id"),
            F.col(col).alias(f"{tag}_val"),
            F.explode(neighborhood(col)).alias("variant"),
        )

    ls = explode_side(left, lid, left_col, "l")
    rs = explode_side(right, rid, right_col, "r")
    cands = (
        ls.join(rs, "variant")
        .select("l_id", "l_val", "r_id", "r_val")
        .dropDuplicates(["l_id", "r_id"])
    )
    return (
        cands.withColumn("distance", F.levenshtein("l_val", "r_val"))
        .filter(F.col("distance") <= k)
        .select(
            F.col("l_id").alias(lid),
            F.col("l_val").alias(left_col),
            F.col("r_id").alias(rid + "_r" if rid == lid else rid),
            F.col("r_val").alias(
                right_col + "_r" if right_col == left_col else right_col
            ),
            F.col("distance").cast("long").alias("distance"),
        )
    )


def array_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_tags: str,
    right_tags: str,
    min_overlap: int = 2,
    max_tag_df: int | None = None,
) -> DataFrame:
    """Set-similarity join: pairs whose tag arrays share at least
    ``min_overlap`` distinct elements. Returns
    (left_id, right_id, overlap).

    Shape at scale: NEVER the cross join the predicate naively
    implies. Each side explodes to (id, tag) — linear in total tags —
    and candidates come from ONE equi-join on the tag value, so a
    pair is generated once per shared tag and a combinable
    count-distinct-free groupBy (tags are already distinct per id
    after the dedup in explode) counts shared tags per pair. Only
    pairs sharing >= 1 tag ever materialize.

    The failure mode is a stopword-grade tag held by everything: its
    posting list self-joins quadratically. ``max_tag_df`` caps it —
    tags held by more than that many left ids are broadcast-anti-
    joined out of BOTH sides before candidate generation (the same
    enforced-cap shape as the LSH bucket and posting-list caps).
    The reported overlap stays EXACT regardless: it is recomputed
    via array_intersect on the surviving candidate pairs, so the cap
    only affects which pairs can be FOUND (a pair sharing nothing
    but capped tags is missed — by design), never the count."""
    l_ex = (
        left.select(F.col(left_id).alias("__lid"), F.col(left_tags).alias("__ltags"))
        .withColumn("__tag", F.explode(F.array_distinct(F.col("__ltags"))))
    )
    r_ex = (
        right.select(
            F.col(right_id).alias("__rid"), F.col(right_tags).alias("__rtags")
        )
        .withColumn("__tag", F.explode(F.array_distinct(F.col("__rtags"))))
    )
    if max_tag_df is not None:
        # one combinable count over the smaller exploded side, tags
        # over the cap broadcast-anti-joined out of BOTH sides
        hot = (
            l_ex.groupBy("__tag").agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_tag_df)
            .select("__tag")
        )
        l_ex = l_ex.join(F.broadcast(hot), "__tag", "left_anti")
        r_ex = r_ex.join(F.broadcast(hot), "__tag", "left_anti")
    cands = (
        l_ex.select("__lid", "__tag")
        .join(r_ex.select("__rid", "__tag"), "__tag")
        .select("__lid", "__rid")
        .dropDuplicates(["__lid", "__rid"])
    )
    # exact overlap on surviving candidates only (arrays travel once,
    # attached by id join — the tag-candidate join never carries them)
    lt = left.select(F.col(left_id).alias("__lid"), F.col(left_tags).alias("__ltags"))
    rt = right.select(
        F.col(right_id).alias("__rid"), F.col(right_tags).alias("__rtags")
    )
    out_rid = right_id + "_r" if right_id == left_id else right_id
    return (
        cands.join(lt, "__lid")
        .join(rt, "__rid")
        .withColumn(
            "overlap",
            F.size(
                F.array_intersect(
                    F.array_distinct("__ltags"), F.array_distinct("__rtags")
                )
            ).cast("long"),
        )
        .filter(F.col("overlap") >= min_overlap)
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(out_rid),
            "overlap",
        )
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_range: tuple[str, str],
    right_range: tuple[str, str],
    bucket_width: float,
) -> DataFrame:
    """Interval x interval overlap join without the cross product.

    ``range_join`` above handles point-in-interval; this handles the
    general case — all (left, right) pairs whose ranges intersect
    (``l_lo <= r_hi AND r_lo <= l_hi``). The naive theta join is a
    nested loop; instead BOTH sides explode into the integer buckets
    their ranges cover and meet on an equi bucket key. An overlapping
    pair shares every bucket their intersection covers, which would
    duplicate it — so the join keeps a pair only in the FIRST shared
    bucket, ``floor(greatest(l_lo, r_lo) / w)``, making the result
    duplicate-free with no distinct pass.

    Scale: shuffle key is the bucket, so cost tracks interval density
    per bucket; the explode factor is ceil(range_len / w) + 1 per row
    — pick ``bucket_width`` near the TYPICAL range length so it stays
    a small constant. Degenerate hot buckets are ordinary skewed join
    keys (AQE splits them). Column collisions must be resolved by the
    caller, as with any self-join.
    """
    l_lo, l_hi = left_range
    r_lo, r_hi = right_range
    lb = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(l_lo) / bucket_width),
                F.floor(F.col(l_hi) / bucket_width),
            )
        ),
    )
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(r_lo) / bucket_width),
                F.floor(F.col(r_hi) / bucket_width),
            )
        ),
    )
    first_shared = F.floor(
        F.greatest(lb[l_lo], rb[r_lo]) / bucket_width
    )
    cond = (
        (lb["__bucket"] == rb["__bucket"])
        & (lb[l_lo] <= rb[r_hi])
        & (rb[r_lo] <= lb[l_hi])
        & (lb["__bucket"] == first_shared)
    )
    return lb.join(rb, cond, "inner").drop("__bucket")


def safe_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    expect: str = "n:1",
) -> DataFrame:
    """Join with a MULTIPLICITY CONTRACT: ``expect="n:1"`` asserts the
    right side is unique on the join keys, ``"1:1"`` asserts both
    sides are — violations raise AT EXECUTION, inside the same job.
    The guard for the classic silent fan-out bug (a dimension that
    grew a duplicate key doubles downstream revenue and nobody
    notices until finance does).

    Implementation: the checked side(s) get a combinable count over
    the join keys joined back (dimension-sized state); an inline ANSI
    ``raise_error`` fires on the first over-1 count the executors
    see. No extra action, no separate validation pass — the check
    rides the join itself, and Catalyst prunes it if the join never
    executes."""
    if expect not in ("n:1", "1:1"):
        raise ValueError("expect must be 'n:1' or '1:1'")

    def guarded(side: DataFrame, label: str) -> DataFrame:
        # NULL join keys never match under SQL equality, so they can't
        # fan anything out — they are exempt from the uniqueness guard
        # AND must survive it: the guard's inner join to the counts
        # would silently drop them, which for right/full (and the left
        # side of 1:1) would remove rows a plain join keeps.
        nonnull = F.lit(True)
        for c in on:
            nonnull = nonnull & F.col(c).isNotNull()
        null_rows = side.filter(~nonnull)
        side = side.filter(nonnull)
        counts = side.groupBy(*on).agg(F.count("*").alias("__n"))
        trip = F.when(
            F.col("__n") == 1, F.lit(1)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"safe_join: {label} side has duplicate join keys "
                    ),
                    *[
                        F.concat(F.lit(f"{c}="), F.col(c).cast("string"), F.lit(" "))
                        for c in on
                    ],
                    F.lit("(count "),
                    F.col("__n").cast("string"),
                    F.lit(")"),
                )
            )
        )
        # the guard must live in a FILTER predicate: a projected-then-
        # dropped column would be pruned by Catalyst and never fire
        return (
            side.join(counts, on)
            .filter(trip == 1)
            .drop("__n")
            .unionByName(null_rows)
        )

    r = guarded(right, "right")
    l = guarded(left, "left") if expect == "1:1" else left
    return l.join(r, on, how)


def link_records(
    a: DataFrame,
    b: DataFrame,
    key_a: str,
    key_b: str,
    text_a: str,
    text_b: str,
    threshold: float = 0.9,
    block_chars: int = 2,
    blocking: str = "prefix",
    max_block_size: int | None = None,
) -> DataFrame:
    """Record linkage between two tables (the master-data-match /
    customer-360 primitive): block candidate pairs on a cheap key,
    score each pair with Jaro-Winkler, and keep MUTUAL BEST matches
    at or above ``threshold`` — each a-row's best b AND that b-row's
    best a (symmetric best match, the standard deterministic 1:1
    cut; unlike greedy it needs no iteration and is
    window-expressible). Ties break by (score desc, other-side key
    asc), so the match set is deterministic and engine-replayable.

    ``blocking`` picks the candidate key: ``"prefix"`` (lowercased
    first ``block_chars`` characters — cheap, exact-prefix-sensitive)
    or ``"soundex"`` (phonetic code — survives spelling variants like
    Smith/Smyth that a prefix block splits).

    ``max_block_size`` is the skew guard (same enforced-cap +
    reported-audit pattern as minhash_lsh_near_duplicates'
    max_bucket_size): a degenerate block — every row blank, one
    dominant surname — makes the blocked join quadratic in that
    block. When set, blocks where EITHER side exceeds the cap are
    dropped BEFORE the join (partial-aggregable counts find them; a
    broadcast anti-join strips both sides), a warning is logged, and
    the returned DataFrame carries ``.link_audit`` with
    dropped_blocks / dropped_rows_a / dropped_rows_b /
    max_dropped_block. Never silent.

    Output: (key_a, key_b, name_a, name_b, score). Scale: the
    blocked join is an equi hash join (never all-pairs — block
    granularity bounds candidates); the two best-of cuts are rank
    windows over the candidate table."""
    from pipeline_dataengineer_spark.functions.text import jaro_winkler

    if blocking == "prefix":
        def blk(text_col):
            return F.substring(F.lower(F.col(text_col)), 1, block_chars)
    elif blocking == "soundex":
        def blk(text_col):
            return F.soundex(F.col(text_col))
    else:
        raise ValueError(
            f"blocking must be 'prefix' or 'soundex', got {blocking!r}"
        )

    la = a.select(
        F.col(key_a).alias("key_a"),
        F.lower(F.col(text_a)).alias("name_a"),
        blk(text_a).alias("__blk"),
    )
    lb = b.select(
        F.col(key_b).alias("key_b"),
        F.lower(F.col(text_b)).alias("name_b"),
        blk(text_b).alias("__blk"),
    )
    audit = {
        "dropped_blocks": 0,
        "dropped_rows_a": 0,
        "dropped_rows_b": 0,
        "max_dropped_block": 0,
    }
    if max_block_size is not None:
        ca = la.groupBy("__blk").agg(F.count("*").alias("__na"))
        cb = lb.groupBy("__blk").agg(F.count("*").alias("__nb"))
        oversized = (
            ca.join(cb, "__blk", "full")
            .fillna(0, subset=["__na", "__nb"])
            .filter(
                (F.col("__na") > max_block_size)
                | (F.col("__nb") > max_block_size)
            )
            .persist()
        )
        stats = oversized.agg(
            F.count("*").alias("b"),
            F.coalesce(F.sum("__na"), F.lit(0)).alias("ra"),
            F.coalesce(F.sum("__nb"), F.lit(0)).alias("rb"),
            F.coalesce(
                F.max(F.greatest("__na", "__nb")), F.lit(0)
            ).alias("m"),
        ).collect()[0]
        audit = {
            "dropped_blocks": int(stats["b"]),
            "dropped_rows_a": int(stats["ra"]),
            "dropped_rows_b": int(stats["rb"]),
            "max_dropped_block": int(stats["m"]),
        }
        if audit["dropped_blocks"]:
            import logging

            logging.getLogger(__name__).warning(
                "link_records: dropped %d oversized blocks (> %d rows "
                "on a side; largest %d). Rows in them match nothing; "
                "use a finer blocking key instead of raising the cap.",
                audit["dropped_blocks"],
                max_block_size,
                audit["max_dropped_block"],
            )
            drop_keys = F.broadcast(oversized.select("__blk"))
            la = la.join(drop_keys, "__blk", "left_anti")
            lb = lb.join(drop_keys, "__blk", "left_anti")
        oversized.unpersist()
    # explicit repartition before the Arrow scoring pass: AQE's
    # byte-based coalescing would otherwise funnel the (small-bytes,
    # Python-expensive) candidate set into one task — the same
    # hazard timeseries._spread_by_key documents; keying by key_a
    # also pre-satisfies the first rank window's distribution.
    n_part = int(a.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cand = (
        la.join(lb, "__blk")
        .repartition(n_part, "key_a")
        .withColumn(
            "score", F.round(jaro_winkler("name_a", "name_b"), 6)
        )
    )
    cand = cand.filter(F.col("score") >= threshold)
    wa = Window.partitionBy("key_a").orderBy(
        F.col("score").desc(), F.col("key_b").asc()
    )
    wb = Window.partitionBy("key_b").orderBy(
        F.col("score").desc(), F.col("key_a").asc()
    )
    out = (
        cand.withColumn("__ra", F.row_number().over(wa))
        .withColumn("__rb", F.row_number().over(wb))
        .filter((F.col("__ra") == 1) & (F.col("__rb") == 1))
        .select("key_a", "key_b", "name_a", "name_b", "score")
    )
    out.link_audit = audit
    return out
