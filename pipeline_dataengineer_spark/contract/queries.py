"""Contract queries (Spark side).

One named query per operator row of SURVEY.md §2 Part C. Each
callable takes ``(spark, sf_dir)`` and returns a lazy DataFrame.
Determinism rules applied throughout (SURVEY.md §7 risks):

- every aggregated/computed double is ``round(_, 2..4)`` on BOTH the
  Spark and oracle side; raw doubles straight from parquet are safe;
- never select the raw ns-precision ``events.ts`` (Spark truncates to
  µs, DuckDB keeps ns) — order/group by ``event_id`` or a
  ``date_trunc`` result instead;
- every computed column is aliased identically to the oracle;
- int-width parity: Spark ``year()``/``size()`` return int32 where
  DuckDB returns BIGINT → cast to long.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_dataengineer_spark.catalog import table
from pipeline_dataengineer_spark.functions.text import merge_columns, sql_literal, strip_accents
from pipeline_dataengineer_spark.functions.vectors import cosine_similarity
from pipeline_dataengineer_spark.operators.dedup import (
    dedup_last_wins,
    minhash_lsh_near_duplicates,
    simhash64,
)
from pipeline_dataengineer_spark.operators.joins import asof_join, range_join

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def query(name: str):
    def deco(fn):
        # a second registration would silently shadow the first and
        # drop a contract query from the suite — fail at import time
        if name in QUERIES:
            raise ValueError(f"duplicate contract query: {name}")
        QUERIES[name] = fn
        return fn

    return deco


def _scratch_path(*parts: str) -> str:
    """A path under the application's scratch root
    (``SparkFiles.getRootDirectory()``, inside ``SPARK_LOCAL_DIRS``),
    which Spark deletes when the application stops. Builders that
    stage files write there, so concurrent runs never share them."""
    from pyspark import SparkFiles

    return os.path.join(SparkFiles.getRootDirectory(), *parts)


# --------------------------------------------------------------- scans


@query("q_scan_project")
def q_scan_project(spark, sf_dir):
    """Projection / column pruning (reference A5/A15). The parquet scan
    must read only 3 columns — check ReadSchema in explain."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query("q_filter_pred")
def q_filter_pred(spark, sf_dir):
    """Filter with conjunctive predicate, pushed to the parquet scan
    (PushedFilters)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_discount") > 0.05) & (F.col("l_quantity") < 25)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )


@query("q_cast")
def q_cast(spark, sf_dir):
    """Type casts (reference A13). floor() before int cast: Spark
    truncates double→int, DuckDB rounds — floor makes both exact."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").cast("string").alias("okey_str"),
        F.col("o_orderdate").cast("date").alias("odate"),
        F.floor("o_totalprice").cast("long").alias("price_floor"),
    )


# --------------------------------------------------------------- joins


@query("q_anti_join")
def q_anti_join(spark, sf_dir):
    """LEFT ANTI equi-join — the reference's flagship operator
    (``src/spark_pgsql/spark_streaming.py:82-84``): rows whose key is
    absent from the other side."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@query("q_semi_join")
def q_semi_join(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_orderpriority"
    )


@query("q_inner_join")
def q_inner_join(spark, sf_dir):
    """3-way equi-join chain; both dims are broadcast-sized so Catalyst
    picks broadcast-hash — verify in explain."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@query("q_left_join")
def q_left_join(spark, sf_dir):
    """LEFT OUTER + count(non-null) preserves customers with 0 orders."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query("q_full_join")
def q_full_join(spark, sf_dir):
    rich = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("key"))
    )
    buyers = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key")
    ).distinct()
    a, b = rich.alias("a"), buyers.alias("b")
    return a.join(b, F.col("a.key") == F.col("b.key"), "full_outer").select(
        F.coalesce(F.col("a.key"), F.col("b.key")).alias("custkey"),
        F.col("a.key").isNotNull().alias("is_rich"),
        F.col("b.key").isNotNull().alias("is_buyer"),
    )


@query("q_broadcast_join")
def q_broadcast_join(spark, sf_dir):
    """Explicit broadcast of the dimension side — same rows as an inner
    join; the point is the strategy (no shuffle of lineitem)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_items"),
        )
    )


@query("q_theta_join")
def q_theta_join(spark, sf_dir):
    """Non-equi (theta) join on small dims → BNLJ is acceptable here;
    at scale this shape goes through range_join bucketization."""
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    return (
        p.join(s, p.p_retailprice > s.s_acctbal)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_pairs"))
    )


@query("q_asof_join")
def q_asof_join(spark, sf_dir):
    """As-of join (no Spark native): for each click event, the latest
    purchase by the same user at-or-before it. Axis = event_id (int)
    to dodge the ns-timestamp mismatch. Single-shuffle union+window
    plan (operators/joins.py:asof_join)."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.round("value", 2).alias("purchase_value"),
    )
    return asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="event_id",
        right_ts="purchase_event_id",
    )


@query("q_range_join")
def q_range_join(spark, sf_dir):
    """Point-in-interval join via bucketized equi-join
    (operators/joins.py:range_join) — avoids the BNLJ cross-product."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_acctbal").alias("lo"),
        (F.col("s_acctbal") + 500.0).alias("hi"),
    )
    joined = range_join(p, s, "p_retailprice", "lo", "hi", bucket_width=500.0)
    return joined.groupBy("s_suppkey").agg(F.count("*").alias("n_parts"))


# --------------------------------------------------------------- dedup


@query("q_dedup_lastwins")
def q_dedup_lastwins(spark, sf_dir):
    """Reference A4 (last-wins dedup by key), distributed: window
    row_number desc. event_id stands in for arrival order."""
    ev = table(spark, sf_dir, "events")
    return dedup_last_wins(ev, "user_id", "event_id").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
    )


@query("q_text_dedup")
def q_text_dedup(spark, sf_dir):
    """Exact text dedup stats per language (north star)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_unique"),
    )


# --------------------------------------------------------------- aggregates


@query("q_agg_group")
def q_agg_group(spark, sf_dir):
    """TPC-H Q1 shape: multi-agg hash aggregate with map-side partial
    aggregation. Doubles rounded on both sides (float-order risk)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query("q_agg_distinct")
def q_agg_distinct(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.count("*").alias("n_orders"),
    )


@query("q_rollup")
def q_rollup(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query("q_cube")
def q_cube(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )


@query("q_pivot")
def q_pivot(spark, sf_dir):
    """Pivot on order status — conditional aggregation under the hood;
    explicit value list avoids the extra distinct-scan job."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"O": "n_open", "F": "n_filled", "P": "n_partial"})
    )


@query("q_median")
def q_median(spark, sf_dir):
    """Exact interpolated median per group (percentile ↔ DuckDB
    quantile_cont)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 2).alias("median_value"),
        F.count("*").alias("n"),
    )


# --------------------------------------------------------------- windows


@query("q_window_rank")
def q_window_rank(spark, sf_dir):
    """Top-3 orders per customer; o_orderkey tiebreak for determinism."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query("q_window_frame")
def q_window_frame(spark, sf_dir):
    """Running sum frame (rowsBetween unboundedPreceding→current)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


@query("q_lag_lead")
def q_lag_lead(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.lag("value").over(w), 2).alias("prev_value"),
        F.round(F.lead("value").over(w), 2).alias("next_value"),
    )


@query("q_sort_limit")
def q_sort_limit(spark, sf_dir):
    """Global top-10 — fuses to TakeOrderedAndProject (no full sort)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


# --------------------------------------------------------------- set ops


def _seg_a(spark, sf_dir):
    return (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey")
    )


def _seg_b(spark, sf_dir):
    return (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey")
    )


@query("q_union")
def q_union(spark, sf_dir):
    return _seg_a(spark, sf_dir).union(_seg_b(spark, sf_dir)).distinct()


@query("q_intersect")
def q_intersect(spark, sf_dir):
    return _seg_a(spark, sf_dir).intersect(_seg_b(spark, sf_dir))


@query("q_except")
def q_except(spark, sf_dir):
    return _seg_a(spark, sf_dir).exceptAll(_seg_b(spark, sf_dir))


# --------------------------------------------------------------- scalar fns


@query("q_string_fns")
def q_string_fns(spark, sf_dir):
    """String surface incl. the reference's null-aware merge (A7) and
    accent strip (A6). NULLs are manufactured with CASE so the merge's
    both-null → NULL branch is exercised on real data."""
    c = table(spark, sf_dir, "customer")
    a = "CASE WHEN c_acctbal > 0 THEN c_name END"
    b = "CASE WHEN length(c_mktsegment) > 9 THEN c_mktsegment END"
    return c.select(
        "c_custkey",
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 10, 9).alias("name_digits"),
        F.regexp_extract("c_name", r"(\d+)", 1).alias("name_num"),
        F.length("c_name").cast("long").alias("name_len"),
        merge_columns(a, b).alias("merged"),
        strip_accents(sql_literal("Épicerie sucrée À l'Île dès l'été")).alias("accent_demo"),
    )


@query("q_date_fns")
def q_date_fns(spark, sf_dir):
    """Date arithmetic incl. the reference's watermark math (A10):
    max(date) − 1 day, reformatted."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("max_date"),
        F.date_sub(F.max(F.col("o_orderdate").cast("date")), 1).alias("hwm_date"),
        F.date_format(
            F.date_sub(F.max(F.col("o_orderdate").cast("date")), 1), "yyyy-MM-dd"
        ).alias("hwm_str"),
        F.min(F.year("o_orderdate")).cast("long").alias("min_year"),
    )


@query("q_json_get")
def q_json_get(spark, sf_dir):
    """JSON field extraction (reference A14's from_json family)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


@query("q_higher_order")
def q_higher_order(spark, sf_dir):
    """Higher-order array fns over the embedding column: aggregate
    (sum) + size. Accumulate in double on both sides."""
    e = table(spark, sf_dir, "embeddings")
    vec_sum = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, v: acc + v.cast("double")
    )
    return e.select(
        "vec_id",
        F.round(vec_sum, 4).alias("vec_sum"),
        F.size("embedding").cast("long").alias("dim"),
    )


# --------------------------------------------------------------- streaming-shaped


@query("q_tumbling_window")
def q_tumbling_window(spark, sf_dir):
    """Tumbling event-time window, batch mode (streaming parity —
    identical plan under readStream + withWatermark). Window start
    formatted as string: hour-truncated so the ns/µs mismatch is moot."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query("q_session_window")
def q_session_window(spark, sf_dir):
    """Sessionization without the streaming-only session_window():
    gap > 30min starts a new session (lag + cumsum) — ANSI-expressible
    so it oracle-checks. Uses epoch seconds (µs-safe)."""
    ev = table(spark, sf_dir, "events")
    secs = F.unix_timestamp(F.date_trunc("second", "ts"))
    w = Window.partitionBy("user_id").orderBy("event_id")
    gapped = ev.select(
        "user_id",
        "event_id",
        secs.alias("sec"),
    ).withColumn(
        "new_sess",
        (F.col("sec") - F.lag("sec").over(w) > 1800).cast("int"),
    )
    sess = gapped.withColumn(
        "session_id",
        F.sum(F.coalesce("new_sess", F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


# --------------------------------------------------------------- north star


@query("q_cosine_topk")
def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 query vector — the ANN
    baseline. The 1-row query side is broadcast; ranking on the
    rounded score keeps the cut deterministic across engines."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine_similarity("embedding", "qv"), 4).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()).limit(10)


@query("q_text_stats")
def q_text_stats(spark, sf_dir):
    """Text quality metrics (north star): token count, char len,
    stopword ratio — all JVM-side array ops."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop = F.filter(toks, lambda t: t.isin("the", "a"))
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
        F.round(F.size(stop).cast("double") / F.size(toks), 4).alias("stop_ratio"),
    )


@query("q_minhash_neardup")
def q_minhash_neardup(spark, sf_dir):
    """MinHash+LSH near-duplicate pairs, FULL-REPLAY oracled (round 8;
    rows-only for rounds 1-7): every stage is deterministic integer
    math — base-256 shingle codes, seeded 31-bit permutation
    constants, band match ⟺ sig-slice equality — so the oracle
    replays the production bands=8/r=16 pipeline in SQL verbatim,
    recall gaps included (see oracles._minhash_lsh_replay_sql).
    Near-dups are manufactured by unioning documents with a lightly
    mutated copy of themselves, so the LSH actually has pairs to
    find."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" suffix token")).alias("text"),
    )
    corpus = d.unionByName(mutated)
    # Signatures spill to a parquet stage table (the 100-TB path, and
    # also the measured-faster one at sf0.1: cold 12.4s→5.0s, warm
    # 3.4s→2.8s — each downstream leg column-prunes the scan, which
    # the all-columns memory cache cannot). Overwrite path inside the
    # application's own scratch root → idempotent within a run, no
    # tmp accumulation across runs, no stage shared between runs.
    pairs = minhash_lsh_near_duplicates(
        corpus,
        "doc_id",
        "text",
        num_hashes=128,
        bands=8,
        shingle_n=5,
        jaccard_threshold=0.7,
        signature_stage_path=_scratch_path("spark_graft_stage", "minhash_sig"),
    )
    return pairs.orderBy("id_a", "id_b")


@query("q_simhash")
def q_simhash(spark, sf_dir):
    """SimHash near-dup property differential (round 8; rows-only for
    rounds 1-7): the raw 63-bit fingerprints are engine-specific
    (xxhash64 shingle hashes aren't SQL-replayable), so the contract
    checks the PROPERTY simhash exists to provide, with closed-form
    truth per document: a lightly mutated twin (one appended token)
    must be strictly closer in hamming distance than a structurally
    scrambled twin (reversed text), and within an absolute radius.
    Deterministic — fixed hash constants, fixed fixture; measured
    margins: light ≤ 18 bits across tiers (radius 24 leaves slack),
    per-doc (far − light) ≥ 7 everywhere (strict < leaves ≥ 7 bits
    of slack). Oracle states the closed form: both booleans true."""
    d = table(spark, sf_dir, "documents")
    h = simhash64("text", shingle_n=4)
    h_light = simhash64(
        F.concat(F.col("text"), F.lit(" suffix token")), shingle_n=4
    )
    h_far = simhash64(F.reverse(F.col("text")), shingle_n=4)
    d_light = F.bit_count(h.bitwiseXOR(h_light))
    d_far = F.bit_count(h.bitwiseXOR(h_far))
    return d.select(
        "doc_id",
        (d_light < d_far).alias("light_closer"),
        (d_light <= 24).alias("within_radius"),
    ).orderBy("doc_id")


# --------------------------------------------------------------- flagship


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's idempotent-insert pattern (anti-join)
    fused with an aggregate — 'orders not yet loaded, summarized by
    priority'. Exercises scan→filter→anti-join→agg→sort in one plan."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    new_orders = o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
    return (
        new_orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------- round 2: wider surface


@query("q_right_join")
def q_right_join(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query("q_cross_join")
def q_cross_join(spark, sf_dir):
    """Explicit cartesian product of two tiny dims."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n).select("r_name", "n_name")


@query("q_grouping_sets")
def q_grouping_sets(spark, sf_dir):
    """GROUPING SETS via the SQL API (Catalyst expands to Expand+Agg,
    identical machinery to rollup/cube)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query("q_exists_subquery")
def q_exists_subquery(spark, sf_dir):
    """Correlated EXISTS — Catalyst decorrelates to a semi-join
    (RewriteCorrelatedScalarSubquery family)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer_sq c
        WHERE EXISTS (
          SELECT 1 FROM orders_sq o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
        """
    )


@query("q_scalar_subquery")
def q_scalar_subquery(spark, sf_dir):
    """Uncorrelated scalar subquery in a predicate."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ssq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders_ssq
        WHERE o_totalprice > (SELECT round(avg(o_totalprice), 2) FROM orders_ssq) * 1.9
        """
    )


@query("q_math_fns")
def q_math_fns(spark, sf_dir):
    """Math function surface; everything rounded to kill last-ulp
    libm differences between JVM and DuckDB."""
    p = table(spark, sf_dir, "part")
    x = F.col("p_retailprice")
    return p.select(
        "p_partkey",
        F.round(F.abs(-x), 2).alias("abs_price"),
        F.ceil(x).cast("long").alias("ceil_price"),
        F.floor(x).cast("long").alias("floor_price"),
        F.round(F.sqrt(x), 4).alias("sqrt_price"),
        F.round(F.log(x + 1.0), 4).alias("log_price"),
        F.round(F.pow(x, F.lit(0.5)) - F.sqrt(x), 4).alias("pow_sqrt_diff"),
        F.pmod(F.col("p_partkey"), F.lit(7)).alias("key_mod"),
    )


@query("q_explode")
def q_explode(spark, sf_dir):
    """posexplode of the embedding array (array → rows). Values come
    straight from parquet — no arithmetic, exact floats."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select("vec_id", F.col("pos").cast("long").alias("pos"), "val")


@query("q_array_fns")
def q_array_fns(spark, sf_dir):
    """Array function surface: sort, slice, contains, distinct-size."""
    e = table(spark, sf_dir, "embeddings")
    arr = F.col("embedding")
    return e.select(
        "vec_id",
        F.round(F.element_at(F.sort_array(arr, asc=False), 1).cast("double"), 4).alias("max_elem"),
        F.round(
            F.aggregate(F.slice(arr, 1, 8), F.lit(0.0), lambda a, v: a + v.cast("double")),
            4,
        ).alias("head_sum"),
        F.size(F.array_distinct(arr)).cast("long").alias("n_distinct"),
        F.array_position(arr, F.array_max(arr)).cast("long").alias("argmax_1based"),
    )


@query("q_pandas_udf")
def q_pandas_udf(spark, sf_dir):
    """Arrow-vectorized scalar pandas UDF with SQL-expressible
    semantics — the sanctioned UDF shape (JVM → Arrow batch → numpy
    → Arrow). Oracle checks the identical math in DuckDB."""
    from pipeline_dataengineer_spark.operators._arrow_udfs import zscore_udf

    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("__mu"), F.stddev_pop("value").alias("__sigma")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(zscore_udf("value", "__mu", "__sigma"), 4).alias("zscore"),
        )
    )


@query("q_quality_score")
def q_quality_score(spark, sf_dir):
    """North star: heuristic text-quality scoring (length, punctuation
    density, lexical diversity), fully SQL-expressible."""
    from pipeline_dataengineer_spark.functions.textstats import quality_score

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


@query("q_token_counts")
def q_token_counts(spark, sf_dir):
    """North star: whitespace + BPE-ish token counting."""
    from pipeline_dataengineer_spark.functions.textstats import (
        bpe_ish_token_count,
        token_count,
    )

    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        bpe_ish_token_count("text").alias("bpe_tokens"),
    )


@query("q_lang_id")
def q_lang_id(spark, sf_dir):
    """North star: heuristic language ID vs the labeled lang column.
    Hash-checked: the argmax over struct(score, lang) that array_max
    computes is deterministic (score, then lang string), and the
    oracle replays the full scoring pass in SQL — tokenization,
    hit-ratio arithmetic, and tie-break included."""
    from pipeline_dataengineer_spark.functions.textstats import language_id

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", language_id("text").alias("lang_pred"))


@query("q_fingerprint")
def q_fingerprint(spark, sf_dir):
    """Whole-doc + winnowed local fingerprint PROPERTY differential
    (round 8; rows-only for rounds 1-7 — raw xxhash64/blake2b values
    are engine-specific). Three closed-form-true properties per doc:

    - norm_invariant: fingerprint64 is invariant to case and
      surrounding whitespace (its spec: lower + trim + collapse);
    - content_sensitive: appending one character changes it
      (xxhash64 collision ~2^-64, deterministic fixture);
    - local_overlap: the winnowed fingerprints of text and of a
      prefixed copy share ≥ 1 value — the Schleimer et al. winnowing
      GUARANTEE (any shared run ≥ window+kgram−1 = 23 chars yields a
      common selected fingerprint; every fixture doc is ≥ 44 chars),
      i.e. alignment independence, the property a strided sampler
      fails. Oracle states the closed form: all three true."""
    from pipeline_dataengineer_spark.functions.textstats import (
        fingerprint64,
        rolling_fingerprints,
    )

    d = table(spark, sf_dir, "documents")
    fp = fingerprint64("text")
    fp_norm = fingerprint64(
        F.concat(F.lit("  "), F.upper(F.col("text")), F.lit("  "))
    )
    fp_mut = fingerprint64(F.concat(F.col("text"), F.lit("x")))
    overlap = F.size(
        F.array_intersect(
            rolling_fingerprints("text"),
            rolling_fingerprints(
                F.concat(F.lit("zzz prefix padding "), F.col("text"))
            ),
        )
    )
    return d.select(
        "doc_id",
        (fp == fp_norm).alias("norm_invariant"),
        (fp != fp_mut).alias("content_sensitive"),
        (overlap >= 1).alias("local_overlap"),
    ).orderBy("doc_id")


@query("q_ivf_topk")
def q_ivf_topk(spark, sf_dir):
    """North star: IVF approximate nearest neighbors, PROMOTED to a
    full oracle round 10 (rows-only rounds 1-9) via corpus-as-queries
    self-top1 at a PARTIAL probe — the piece q_ivf_exact (nprobe=all,
    brute-force hash check) does not cover. Closed form: a corpus
    vector is assigned to its own nearest centroid, so with any
    nprobe >= 1 its rank-1 probe IS its home bucket, it is always a
    candidate, and cosine(v, v) = 1.0 beats every other candidate
    (max off-diagonal cosine in the embeddings fixture is 0.60 at
    every tier — the q_embedding_neardup margin). Result = (v, v,
    1.0, 1) by construction while the centroid ranking, probe cut
    (2 of 8), bucket equi-join, and within-bucket scoring all
    execute. Realistic-recall behavior of partial probes stays
    pytest-enforced (tests/test_similarity.py)."""
    from pipeline_dataengineer_spark.operators.similarity import ivf_build, ivf_search

    e = table(spark, sf_dir, "embeddings")
    query_vecs = e.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids, assigned = ivf_build(e, num_centroids=8)
    out = ivf_search(centroids, assigned, query_vecs, k=1, nprobe=2)
    return out.select(
        "query_id", "vec_id", "score", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id")


@query("q_embedding_neardup")
def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via random-hyperplane
    LSH, ORACLED round 8 (rows-only before) with a closed form that
    is GUARANTEED, not measured: the manufactured twin is a 1.001×
    SCALING, and cosine is scale-invariant (each pair scores exactly
    1.0 up to float tail, absorbed at round 4) while positive
    scaling preserves every hyperplane sign bit-for-bit (IEEE
    multiplication by a positive keeps the accumulator's sign), so
    every (v, v+1M) pair is bucketed AND passes verify by
    construction. No organic pair can appear: the max off-diagonal
    cosine in the embeddings fixture is 0.60 across tiers vs the
    0.999 threshold. Output = exactly the twin pairs."""
    from pipeline_dataengineer_spark.operators.dedup import (
        embedding_cosine_near_duplicates,
    )

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    perturbed = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda v: v * F.lit(1.001)).alias("embedding"),
    )
    corpus = e.unionByName(perturbed)
    pairs = embedding_cosine_near_duplicates(
        corpus, "vec_id", "embedding", threshold=0.999, n_planes=8
    )
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    )


# --------------------------------------------------------------- round 3: function surface


@query("q_union_all")
def q_union_all(spark, sf_dir):
    """Bag-semantics union (no distinct)."""
    a = _seg_a(spark, sf_dir)
    b = _seg_b(spark, sf_dir)
    return a.unionAll(b)


@query("q_first_last")
def q_first_last(spark, sf_dir):
    """Deterministic first/last per group via min_by/max_by (argmin /
    argmax aggregates — NOT first(), which is order-dependent)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min_by("event_type", "event_id").alias("first_type"),
        F.max_by("event_type", "event_id").alias("last_type"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


@query("q_collect_list")
def q_collect_list(spark, sf_dir):
    """Grouped list aggregation, sorted for determinism (collect_list
    order is partition-dependent; sort_array fixes it)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 20)
    return o.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list("o_orderkey")).alias("orderkeys"),
        F.sort_array(F.collect_set("o_orderstatus")).alias("statuses"),
    )


@query("q_stddev_var")
def q_stddev_var(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 4).alias("sd_samp"),
        F.round(F.stddev_pop("value"), 4).alias("sd_pop"),
        F.round(F.var_samp("value"), 4).alias("var_samp_v"),
        F.round(F.min("value"), 2).alias("min_v"),
        F.round(F.max("value"), 2).alias("max_v"),
    )


@query("q_conditional")
def q_conditional(spark, sf_dir):
    """CASE/coalesce/nullif/least/greatest surface."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") > 5000, "high")
        .when(F.col("c_acctbal") > 0, "mid")
        .otherwise("low")
        .alias("tier"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.round(F.least(F.col("c_acctbal"), F.lit(1000.0)), 2).alias("capped"),
        F.round(F.greatest(F.col("c_acctbal"), F.lit(0.0)), 2).alias("floored"),
    )


@query("q_like_regexp")
def q_like_regexp(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%wid%") | F.col("p_name").rlike("^(red|blue) ")
    ).select("p_partkey", "p_name")


@query("q_date_extract")
def q_date_extract(spark, sf_dir):
    """Date-part extraction. DOW aligned explicitly: Spark dayofweek is
    1=Sunday; the oracle uses dow (0=Sunday) + 1."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("long").alias("yr"),
        F.quarter(d).cast("long").alias("qtr"),
        F.month(d).cast("long").alias("mon"),
        F.dayofmonth(d).cast("long").alias("dom"),
        F.dayofweek(d).cast("long").alias("dow_sun1"),
        F.hour(d).cast("long").alias("hr"),
    )


@query("q_interval_arith")
def q_interval_arith(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(d, 3).alias("plus_3mo"),
        F.date_add(d, 45).alias("plus_45d"),
        F.datediff(F.lit("2025-01-01").cast("date"), d).cast("long").alias("days_to_2025"),
        F.last_day(d).alias("month_end"),
        F.date_trunc("quarter", d).cast("date").alias("qtr_start"),
    )


@query("q_map_fns")
def q_map_fns(spark, sf_dir):
    """Map construction + access. Maps don't hash portably across
    engines → project entries back out as sorted arrays/scalars."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.map_keys(m).alias("mkeys"),
        m["type"].alias("type_val"),
        F.size(F.map_values(m)).cast("long").alias("n_vals"),
    )


@query("q_unpivot")
def q_unpivot(spark, sf_dir):
    """Wide→long unpivot via stack()."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.expr(
            "stack(2, 'acctbal', round(c_acctbal, 2), "
            "'nationkey', cast(c_nationkey as double)) AS (metric, val)"
        ),
    )


@query("q_approx_stats")
def q_approx_stats(spark, sf_dir):
    """Sketch aggregates (HLL++, GK-quantile), ORACLED round 8
    (rows-only before): the exact per-flag distinct hash-checks
    directly and each sketch ships as its accuracy property against
    the exact aggregate computed in the same pass — HLL++ (rsd 5%)
    within 10% of the exact distinct, percentile_approx within 2% of
    the exact median's value (measured ≤2.2%/≤0.4% across tiers;
    deterministic sketches). Closed form: both booleans true."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("acd"),
        F.percentile_approx("l_extendedprice", 0.5).alias("amed"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.percentile("l_extendedprice", 0.5).alias("emed"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("acd") - F.col("exact_parts"))
            <= 0.10 * F.col("exact_parts")
        ).alias("acd_within_10pct"),
        (
            F.abs(F.col("amed") - F.col("emed"))
            <= 0.02 * F.abs(F.col("emed"))
        ).alias("amed_within_2pct"),
    ).orderBy("l_returnflag")


@query("q_salted_agg")
def q_salted_agg(spark, sf_dir):
    """Skew-safe two-phase aggregation (operators/skew.py): identical
    result to a plain GROUP BY — the salt only reshapes the shuffle,
    which is the oracle-checked claim."""
    from pipeline_dataengineer_spark.operators.skew import salted_groupby_sum

    li = table(spark, sf_dir, "lineitem")
    out = salted_groupby_sum(
        li,
        keys=["l_returnflag"],
        sums={"sum_qty": "l_quantity", "sum_price": "l_extendedprice"},
        counts="cnt",
        salt=8,
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_price", 2).alias("sum_price"),
        "cnt",
    )


@query("q_salted_join")
def q_salted_join(spark, sf_dir):
    """Skew-safe salted join (operators/skew.py): same rows as the
    plain join."""
    from pipeline_dataengineer_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_join(li, p, on="l_partkey", salt=4)
    return joined.groupBy("p_brand").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n")
    )


@query("q_udtf")
def q_udtf(spark, sf_dir):
    """Python UDTF (PySpark 4): one input row → N output rows. SQL-
    checkable semantics (digit split of the order key)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="o_orderkey bigint, digit_pos int, digit int")
    class DigitSplit:
        def eval(self, o_orderkey: int):
            for i, ch in enumerate(str(o_orderkey)):
                yield o_orderkey, i, int(ch)

    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 50)
    spark.udtf.register("digit_split", DigitSplit)
    o.createOrReplaceTempView("orders_udtf")
    return spark.sql(
        """
        SELECT t.o_orderkey, t.digit_pos, t.digit
        FROM orders_udtf o, LATERAL digit_split(o.o_orderkey) t
        """
    )


# --------------------------------------------------------------- round 4: analytics shapes


@query("q_tpch_q3_shape")
def q_tpch_q3_shape(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): filter both fact sides,
    3-way join, grouped revenue, top-10. Exercises join reordering +
    partial aggregation under AQE."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 10)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query("q_tpch_q5_shape")
def q_tpch_q5_shape(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): 6-way star join with
    two independent dimension paths meeting on nationkey, grouped
    revenue per nation."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") != "REGION#0")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    return (
        r.join(n, r.r_regionkey == n.n_regionkey)
        .join(c, n.n_nationkey == c.c_nationkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == n.n_nationkey))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query("q_tpch_q18_shape")
def q_tpch_q18_shape(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): HAVING via a grouped
    subquery driving a semi-join back onto the fact."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tot_qty"))
        .filter(F.col("tot_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("tot_qty", 2).alias("tot_qty"),
            "o_totalprice",
        )
    )


@query("q_sql_api")
def q_sql_api(spark, sf_dir):
    """The SQL front door (pipeline_dataengineer_spark.sql): same
    Catalyst plan as the DataFrame API, user-facing surface parity."""
    from pipeline_dataengineer_spark.sql import sql as engine_sql

    return engine_sql(
        spark,
        """
        SELECT n_name, count(*) AS n_customers,
               round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS sum_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """,
        sf_dir,
    )


# --------------------------------------------------------------- round 5: windows & strings


@query("q_window_range_frame")
def q_window_range_frame(spark, sf_dir):
    """RANGE frame (value-based, vs ROWS): per-user sum of events
    within 100 event_ids back."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rangeBetween(-100, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_recent"),
        F.round(F.sum("value").over(w), 2).alias("sum_recent"),
    )


@query("q_rank_fns")
def q_rank_fns(spark, sf_dir):
    """Full ranking-function surface: rank, dense_rank, ntile,
    percent_rank, cume_dist."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cdist"),
    )


@query("q_moving_avg")
def q_moving_avg(spark, sf_dir):
    """Moving average over the 3 most recent rows per key."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-2, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("mavg3"),
    )


@query("q_sliding_window")
def q_sliding_window(spark, sf_dir):
    """Sliding event-time window (2h length, 1h slide) in batch mode —
    each event lands in 2 windows; streaming parity via
    streaming/windows.py:sliding_window_agg."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


@query("q_wordcount")
def q_wordcount(spark, sf_dir):
    """The canonical split→explode→count, top-20 words by frequency."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(20)
    )


@query("q_string_manip")
def q_string_manip(spark, sf_dir):
    """replace/pad/repeat/reverse/position surface."""
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 100)
    return p.select(
        "p_partkey",
        F.regexp_replace("p_name", r"\s+", "_").alias("snake"),
        F.lpad("p_brand", 12, "*").alias("brand_lpad"),
        F.rpad("p_type", 10, ".").alias("type_rpad"),
        F.repeat(F.lit("ab"), 3).alias("abx3"),
        F.reverse(F.col("p_name")).alias("rev_name"),
        F.instr("p_name", "e").cast("long").alias("first_e"),
        F.translate("p_name", "aeiou", "AEIOU").alias("vowels_up"),
    )


@query("q_bitwise")
def q_bitwise(spark, sf_dir):
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("and255"),
        k.bitwiseOR(F.lit(16)).alias("or16"),
        k.bitwiseXOR(F.lit(85)).alias("xor85"),
        F.shiftleft(k, 2).alias("shl2"),
        F.shiftright(k, 1).alias("shr1"),
    )


@query("q_distinct_rows")
def q_distinct_rows(spark, sf_dir):
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
    )


# --------------------------------------------------------------- round 6: UDF shapes & safe arithmetic


@query("q_grouped_pandas")
def q_grouped_pandas(spark, sf_dir):
    """applyInPandas grouped-map: per-group demeaning. The group is a
    pandas DataFrame in the worker; semantics SQL-expressible so it
    oracle-checks. (The grouped-map shape backs custom per-entity
    logic the built-ins can't express.)"""
    from pipeline_dataengineer_spark.operators._arrow_udfs import demean_group

    ev = table(spark, sf_dir, "events")
    out = ev.select("event_id", "event_type", "value").groupBy("event_type")
    return out.applyInPandas(
        demean_group, schema="event_id long, event_type string, centered double"
    ).select("event_id", "event_type", F.round("centered", 4).alias("centered"))


@query("q_map_in_pandas")
def q_map_in_pandas(spark, sf_dir):
    """mapInPandas partition-batch transform: filter + derived column
    in one Arrow pass (the custom-scan/operator escape hatch)."""
    from pipeline_dataengineer_spark.operators._arrow_udfs import big_orders_batches

    o = table(spark, sf_dir, "orders")
    return o.mapInPandas(
        big_orders_batches,
        schema="o_orderkey long, o_totalprice double, price_k double",
    )


@query("q_try_fns")
def q_try_fns(spark, sf_dir):
    """Error-safe arithmetic/casts (ANSI mode is ON in Spark 4 — these
    return NULL instead of raising)."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    return ev.select(
        "event_id",
        F.try_divide(F.lit(1.0), F.col("value") - F.col("value")).alias("div0"),
        F.round(F.try_divide(F.col("value"), F.lit(2.0)), 4).alias("half"),
        F.expr("try_cast(event_type AS double)").alias("type_as_num"),
        F.expr("try_cast(cast(user_id AS string) AS long)").alias("uid_roundtrip"),
    )


@query("q_decimal_agg")
def q_decimal_agg(spark, sf_dir):
    """Exact decimal aggregation (no float nondeterminism): sums are
    computed in DECIMAL and only cast to double at the end, so both
    engines produce bit-identical results WITHOUT rounding."""
    li = table(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(dec).cast("double").alias("sum_exact"),
        F.count("*").alias("cnt"),
    )


# --------------------------------------------------------------- round 7: dedup clustering


def _chain_edges(spark, sf_dir):
    """Deterministic transitive chains over documents: edges
    (doc_id, doc_id+1) for doc_id % 5 < 4 → components are exactly
    the 5-blocks {5k..5k+4} (diameter 4, so label propagation needs
    multiple rounds — the transitivity is what's being tested)."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    return d.filter(F.pmod("doc_id", F.lit(5)) < 4).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )


@query("q_connected_components")
def q_connected_components(spark, sf_dir):
    """Iterative connected components (operators/graph.py) — the
    pair→cluster step of near-dup dedup. Oracle: component of node n
    in a 5-chain is n - n%5 (closed form, no recursion needed)."""
    from pipeline_dataengineer_spark.operators.graph import connected_components

    return connected_components(_chain_edges(spark, sf_dir))


@query("q_leakage_safe_split")
def q_leakage_safe_split(spark, sf_dir):
    """Cluster-rooted train/val/test split (operators/sampling.py:
    leakage_safe_split): near-dup pairs → connected components → the
    portable hash bucket of the CLUSTER ROOT decides the split, so
    near-duplicates can never straddle train/val (the contamination
    guarantee). Oracle: root of doc n in the 5-chain fixture is
    n − n%5 (closed form, same as q_connected_components) and the
    split replays bucket_sql on that root."""
    from pipeline_dataengineer_spark.operators.sampling import (
        leakage_safe_split,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = leakage_safe_split(
        d,
        "doc_id",
        _chain_edges(spark, sf_dir),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return out.select("doc_id", "root", "split").orderBy("doc_id")


@query("q_split_contamination")
def q_split_contamination(spark, sf_dir):
    """Split-contamination audit (operators/sampling.py:
    split_contamination_report): count near-dup pairs by the
    unordered pair of splits their endpoints landed in, here over a
    DELIBERATELY leaky row-hash split (plain hash_split on doc_id) —
    the negative case the leakage-safe split exists to prevent, with
    a nonzero off-diagonal the oracle replays exactly (bucket_sql
    split + chain edges + least/greatest grouping). The zero-
    off-diagonal positive case after leakage_safe_split is
    pytest-pinned."""
    from pipeline_dataengineer_spark.operators.sampling import (
        hash_split,
        split_contamination_report,
    )

    d = table(spark, sf_dir, "documents").select("doc_id")
    split = hash_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return split_contamination_report(
        split, "doc_id", _chain_edges(spark, sf_dir)
    ).orderBy("split_a", "split_b")


@query("q_dedup_canonical")
def q_dedup_canonical(spark, sf_dir):
    """End-to-end duplicate-cluster collapse: keep the min-id member
    of each component (operators/graph.py:dedup_keep_canonical)."""
    from pipeline_dataengineer_spark.operators.graph import dedup_keep_canonical

    d = table(spark, sf_dir, "documents")
    return dedup_keep_canonical(
        d, _chain_edges(spark, sf_dir), "doc_id"
    ).select("doc_id", "lang")


# --------------------------------------------------------------- round 8: sampling / timeseries / corpus features


@query("q_sample_det")
def q_sample_det(spark, sf_dir):
    """Deterministic hash sample (operators/sampling.py): ~10% of
    orders by Lehmer bucket of the key — reproducible across engines
    and layouts, and a pure narrow filter (no shuffle; rides the
    scan). Oracle computes the identical arithmetic in SQL."""
    from pipeline_dataengineer_spark.operators.sampling import deterministic_sample

    o = table(spark, sf_dir, "orders")
    return deterministic_sample(o, "o_orderkey", 0.1).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query("q_train_split")
def q_train_split(spark, sf_dir):
    """Stable train/val/test split (operators/sampling.py:hash_split)
    — every row in exactly one split, membership survives reruns and
    repartitioning (the property an incrementally rebuilt corpus
    needs)."""
    from pipeline_dataengineer_spark.operators.sampling import hash_split

    o = table(spark, sf_dir, "orders")
    return hash_split(
        o, "o_orderkey", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("o_orderkey", "split")


@query("q_resample_daily")
def q_resample_daily(spark, sf_dir):
    """Per-group daily resample with gap fill (operators/
    timeseries.py): aggregate-then-spine so the join touches one row
    per group-day, never raw facts; spine rows are generated
    executor-side via sequence+explode."""
    from pipeline_dataengineer_spark.operators.timeseries import resample_daily

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").alias("day"),
        "o_totalprice",
    )
    return resample_daily(
        o,
        "day",
        ["prio"],
        aggs={
            "cnt": F.count("*"),
            "revenue": F.round(F.sum("o_totalprice"), 2),
        },
        fill={"cnt": 0, "revenue": 0.0},
    )


@query("q_tfidf")
def q_tfidf(spark, sf_dir):
    """Corpus-relative TF-IDF (operators/text_features.py): explode →
    two term-partitioned aggregates → broadcast scalar N; the north-
    star text-featurization step."""
    from pipeline_dataengineer_spark.operators.text_features import tf_idf

    return tf_idf(table(spark, sf_dir, "documents"))


@query("q_corr_covar")
def q_corr_covar(spark, sf_dir):
    """Bivariate aggregates: correlation + sample/population
    covariance per group (both engines use identical definitions)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covs_qp"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias("covp_qp"),
        F.count("*").alias("cnt"),
    )


@query("q_skew_kurtosis")
def q_skew_kurtosis(spark, sf_dir):
    """Higher moments. Spark returns population g1/g2; DuckDB returns
    bias-corrected sample G1/G2 — convert with the closed-form
    factors so both sides agree exactly:
    G1 = g1*sqrt(n(n-1))/(n-2); G2 = ((n+1)g2+6)(n-1)/((n-2)(n-3))."""
    li = table(spark, sf_dir, "lineitem")
    n = F.count("*").cast("double")
    g1 = F.skewness("l_quantity")
    g2 = F.kurtosis("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(g1 * F.sqrt(n * (n - 1)) / (n - 2), 4).alias("skew_q"),
        F.round(((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3)), 4).alias(
            "kurt_q"
        ),
        F.count("*").alias("cnt"),
    )


# --------------------------------------------------------------- round 9: quantiles, string distance, binning, corpus pipeline


@query("q_quantiles")
def q_quantiles(spark, sf_dir):
    """Multi-quantile exact percentiles per group, made CROSS-ENGINE
    EXACT (round 8): interpolation over doubles is boundary-prone —
    engines interleave a + f·(b−a) vs (1−f)·a + f·b and a result one
    ulp either side of .xx5 rounds differently (sf0.001 hit it at
    p50). Over INTEGER CENTS with DYADIC quantiles (.25/.5/.75/.875
    are exact binary), every interpolation term is an exact dyadic
    rational well under 2^53, so both formulas produce bit-identical
    doubles and the /100 descale matches everywhere — no rounding
    needed at all."""
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    src = li.select(cents.alias("__c"), "l_returnflag")
    p = lambda f: F.percentile("__c", F.lit(f)) / 100.0
    return src.groupBy("l_returnflag").agg(
        p(0.25).alias("p25"),
        p(0.50).alias("p50"),
        p(0.75).alias("p75"),
        p(0.875).alias("p875"),
        F.count("*").alias("cnt"),
    )


@query("q_levenshtein")
def q_levenshtein(spark, sf_dir):
    """Edit-distance surface (fuzzy-match building block; identical
    definition both engines)."""
    pt = table(spark, sf_dir, "part")
    return pt.select(
        "p_partkey",
        F.levenshtein("p_brand", F.substring("p_name", 1, 8)).cast("long").alias(
            "lev_bn"
        ),
        F.levenshtein(F.lower("p_type"), F.lit("promo")).cast("long").alias(
            "lev_promo"
        ),
    )


@query("q_histogram")
def q_histogram(spark, sf_dir):
    """Fixed-width numeric binning — the groupBy key is a pure
    expression so the aggregate gets map-side partials for free."""
    li = table(spark, sf_dir, "lineitem")
    bin_ = F.floor(F.col("l_extendedprice") / 5000).cast("long").alias("bin")
    return li.groupBy(bin_).agg(
        F.count("*").alias("cnt"),
        F.round(F.min("l_extendedprice"), 2).alias("lo"),
        F.round(F.max("l_extendedprice"), 2).alias("hi"),
    )


@query("q_corpus_clean")
def q_corpus_clean(spark, sf_dir):
    """End-to-end corpus cleaning (operators/corpus.py): lang filter →
    token bounds → quality threshold → exact dedup keep-min-id. Narrow
    filters run before the single dedup shuffle."""
    from pipeline_dataengineer_spark.operators.corpus import clean_corpus

    d = table(spark, sf_dir, "documents")
    return clean_corpus(
        d, langs=["en", "fr", "de"], min_quality=0.3, min_tokens=3, max_tokens=5000
    ).select("doc_id", "lang", "n_tokens", "quality")


@query("q_kmeans_sizes")
def q_kmeans_sizes(spark, sf_dir):
    """Iterative k-means (operators/clustering.py) promoted from
    rows-only to a FULL hash check via a closed-form fixture
    (round-6 VERDICT item 5): every embedding is shifted by
    100·(vec_id % 3) in all 64 dims, making three clusters whose
    separation (~800) dwarfs the intra-cluster spread (~8). The
    deterministic init seeds from the k smallest ids — vec_id 0,1,2
    land one per true cluster — so Lloyd's provably converges to
    cluster == vec_id % 3 and the sizes are exact group counts the
    oracle replays. This exercises the whole distributed pipeline
    (Arrow matmul assignment + relational centroid update) with
    value-checked output; raw-embedding behavior (engine-specific
    float summation) stays pytest-checked."""
    from pipeline_dataengineer_spark.operators.clustering import cluster_sizes

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: x.cast("double")
            + (F.col("vec_id") % 3).cast("double") * 100.0,
        ).alias("embedding"),
    )
    return cluster_sizes(emb, k=3, max_iterations=5).select(
        F.col("cluster").cast("long").alias("cluster"),
        F.col("cnt").cast("long").alias("cnt"),
    )


@query("q_ngrams")
def q_ngrams(spark, sf_dir):
    """Word trigram counts over the corpus — the LM-data n-gram
    statistics pass. Trigrams are built JVM-side with a higher-order
    transform over token indices (no UDF), exploded, then counted with
    map-side partial aggregation; singleton trigrams are dropped to
    keep the result the interesting head of the distribution."""
    from pyspark.ml.feature import NGram

    from pipeline_dataengineer_spark.catalog import scale_out

    d = scale_out(table(spark, sf_dir, "documents").select("text"))
    toked = d.select(F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    # ml.feature.NGram is JVM-compiled; the equivalent higher-order
    # transform lambda is interpreted per element and measured 3.5x
    # slower (6.1s vs 1.7s at sf0.1) for identical output.
    tri = NGram(n=3, inputCol="toks", outputCol="tris").transform(toked)
    return (
        tri.select(F.explode("tris").alias("trigram"))
        .groupBy("trigram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
    )


@query("q_count_of_counts")
def q_count_of_counts(spark, sf_dir):
    """Frequency-of-frequency (Zipf diagnostic): how many words occur
    exactly n times — two chained aggregations, both map-side
    combinable."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    wc = words.groupBy("w").agg(F.count("*").alias("n"))
    return wc.groupBy("n").agg(F.count("*").alias("n_words"))


# --------------------------------------------------------- round 6: TPC-H decision-support shapes
#
# The classic decision-support query shapes, adapted to the driver's
# synthetic schema (no partsupp table; fewer columns). Each exercises
# a distinct Catalyst capability the earlier contract rows don't:
# decorrelation of correlated scalar subqueries, role-playing dimension
# joins, disjunctive predicate pushdown, conditional-aggregate ratios,
# and scalar-subquery HAVING thresholds. At 100 TB these plans are the
# bread and butter of a warehouse: every one keeps the fact table
# (lineitem) filtered before its shuffle and broadcasts the dims.


@query("q_tpch_q6_shape")
def q_tpch_q6_shape(spark, sf_dir):
    """TPC-H Q6 shape (forecast revenue): single-table conjunctive
    filter + global aggregate. The whole predicate must reach the
    parquet scan (PushedFilters) — no shuffle at all except the final
    single-row agg."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount").between(0.02, 0.06))
        & (F.col("l_quantity") < 10)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_rows"),
    )


@query("q_tpch_q2_shape")
def q_tpch_q2_shape(spark, sf_dir):
    """TPC-H Q2 shape (min-cost match): correlated scalar MIN subquery,
    decorrelated by Catalyst into an aggregate + join
    (RewriteCorrelatedScalarSubquery). Equality on raw parquet doubles
    is exact — min() returns a stored value."""
    table(spark, sf_dir, "part").createOrReplaceTempView("part_q2")
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_type, p_retailprice
        FROM part_q2 p1
        WHERE p_retailprice = (
          SELECT min(p_retailprice) FROM part_q2 p2 WHERE p2.p_type = p1.p_type
        )
        """
    )


@query("q_tpch_q4_shape")
def q_tpch_q4_shape(spark, sf_dir):
    """TPC-H Q4 shape (order priority checking): correlated EXISTS with
    a non-equi inner condition (l_shipdate > o_orderdate), then a
    grouped count over the surviving semi-join."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q4")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q4")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders_q4 o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-07-01'
          AND EXISTS (
            SELECT 1 FROM lineitem_q4 l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o_orderpriority
        """
    )


@query("q_tpch_q7_shape")
def q_tpch_q7_shape(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping): the nation dimension is
    role-played twice (supplier nation vs customer nation) via alias;
    symmetric pair filter; revenue per (supp_nation, cust_nation,
    year). Both nation sides broadcast."""
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query("q_tpch_q8_shape")
def q_tpch_q8_shape(spark, sf_dir):
    """TPC-H Q8 shape (market share): conditional-aggregate ratio —
    one nation's share of total volume per year. sum(CASE)/sum is the
    canonical one-pass share computation (no self-join)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share"),
            F.count("*").alias("n_items"),
        )
    )


@query("q_tpch_q10_shape")
def q_tpch_q10_shape(spark, sf_dir):
    """TPC-H Q10 shape (returned items): quarter of orders × returned
    lineitems, revenue per customer, top-20. Ties broken by c_custkey
    so the limit is deterministic. The per-term double product is cast
    to DECIMAL before summing: double sums are association-order-
    dependent and a sum landing within 1e-9 of a .xx5 boundary rounds
    differently per engine (observed at sf0.01) — decimal summation is
    exact and engine-portable."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(vol), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query("q_tpch_q11_shape")
def q_tpch_q11_shape(spark, sf_dir):
    """TPC-H Q11 shape (important stock): grouped value with a HAVING
    threshold that is itself an uncorrelated scalar subquery over the
    same fact (share-of-total filter)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q11")
    return spark.sql(
        """
        SELECT l_suppkey, round(sum(l_extendedprice * l_quantity), 2) AS total_value
        FROM lineitem_q11
        GROUP BY l_suppkey
        HAVING sum(l_extendedprice * l_quantity) >
               (SELECT sum(l_extendedprice * l_quantity) * 0.01 FROM lineitem_q11)
        """
    )


@query("q_tpch_q14_shape")
def q_tpch_q14_shape(spark, sf_dir):
    """TPC-H Q14 shape (promo effect): single-row conditional ratio
    over one month of shipments."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("promo_revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@query("q_tpch_q15_shape")
def q_tpch_q15_shape(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): CTE revenue view consumed twice
    — once as the join input, once inside a scalar MAX subquery.
    Catalyst plans the CTE twice; the driver checks values only."""
    table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_q15")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q15")
    return spark.sql(
        """
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
          FROM lineitem_q15
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier_q15 JOIN rev ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """
    )


@query("q_tpch_q17_shape")
def q_tpch_q17_shape(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity orders): correlated scalar AVG
    subquery against the same fact — the classic decorrelation-to-
    aggregate-join case."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q17")
    table(spark, sf_dir, "part").createOrReplaceTempView("part_q17")
    return spark.sql(
        """
        SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
               count(*) AS n_rows
        FROM lineitem_q17 l JOIN part_q17 p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (
            SELECT 0.5 * avg(l2.l_quantity)
            FROM lineitem_q17 l2 WHERE l2.l_partkey = p.p_partkey
          )
        """
    )


@query("q_tpch_q19_shape")
def q_tpch_q19_shape(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue): disjunction of conjunctive
    brand/size/quantity ranges. Catalyst extracts the common
    l_partkey = p_partkey equi-condition and keeps the OR as a join
    residual; the p_size/p_brand legs still prune the part scan."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    leg1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 20))
    )
    leg2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(1, 30))
        & (F.col("l_quantity").between(5, 30))
    )
    leg3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(1, 50))
        & (F.col("l_quantity").between(10, 40))
    )
    return (
        li.join(
            F.broadcast(p), (li.l_partkey == p.p_partkey) & (leg1 | leg2 | leg3)
        ).agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@query("q_tpch_q20_shape")
def q_tpch_q20_shape(spark, sf_dir):
    """TPC-H Q20 shape (potential promotions): IN over a grouped+
    filtered subquery — semi-join against an aggregate."""
    table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_q20")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q20")
    table(spark, sf_dir, "part").createOrReplaceTempView("part_q20")
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier_q20
        WHERE s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem_q20 JOIN part_q20 ON p_partkey = l_partkey
          WHERE p_type = 'PROMO'
          GROUP BY l_suppkey
          HAVING sum(l_quantity) > 100
        )
        """
    )


@query("q_tpch_q22_shape")
def q_tpch_q22_shape(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): scalar AVG threshold
    + NOT EXISTS anti-join with a residual predicate, grouped by
    nation. Every synthetic customer has orders, so the EXISTS is
    qualified (no *large* order) to keep the anti-join selective."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_q22")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q22")
    return spark.sql(
        """
        SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        FROM customer_q22 c
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM customer_q22 WHERE c_acctbal > 0.0
          )
          AND NOT EXISTS (
            SELECT 1 FROM orders_q22 o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
          )
        GROUP BY c_nationkey
        """
    )


# --------------------------------------------------------- round 7: corpus governance


@query("q_pii_redact")
def q_pii_redact(spark, sf_dir):
    """PII redaction (functions/pii.py): URLs, emails, phones, IPv4s →
    typed placeholder tokens, plus audit counts. The corpus has no real
    PII, so each doc gets deterministic synthetic PII derived from its
    id appended — the redaction itself is the thing under test, and
    both engines build the identical raw string."""
    from pipeline_dataengineer_spark.functions.pii import pii_counts, redact_pii

    d = table(spark, sf_dir, "documents")
    ds = F.col("doc_id").cast("string")
    raw = F.concat_ws(
        " ",
        F.col("text"),
        F.concat(F.lit("user"), ds, F.lit("@example.com")),
        F.concat(F.lit("https://ex"), ds, F.lit(".com/a?b=1")),
        F.concat(
            F.lit("+1-555-010-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        ),
        F.concat(
            F.lit("10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit("."),
            F.pmod(F.col("doc_id") * 3, F.lit(256)).cast("string"),
        ),
    )
    return d.select(
        "doc_id",
        redact_pii(raw).alias("redacted"),
        pii_counts(raw).getField("n_urls").alias("n_urls"),
        pii_counts(raw).getField("n_emails").alias("n_emails"),
        pii_counts(raw).getField("n_phones").alias("n_phones"),
        pii_counts(raw).getField("n_ips").alias("n_ips"),
    )


@query("q_repetition_stats")
def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition diagnostics per document
    (operators/text_features.py:word_repetition_stats) — the filter
    input for boilerplate/loop removal in a training-data pipeline."""
    from pipeline_dataengineer_spark.operators.text_features import (
        word_repetition_stats,
    )

    d = table(spark, sf_dir, "documents")
    return word_repetition_stats(d, "doc_id", "text")


@query("q_scd2")
def q_scd2(spark, sf_dir):
    """SCD type-2 history from the event stream
    (operators/scd.py:scd2_from_changes): collapse consecutive
    same-attribute rows per user, emit [valid_from, valid_to) intervals
    over event_id (ns timestamps stay out of the hash per the
    TESTDATA.md ns-precision rule)."""
    from pipeline_dataengineer_spark.operators.scd import scd2_from_changes

    ev = table(spark, sf_dir, "events")
    return scd2_from_changes(
        ev, key="user_id", order_col="event_id", attrs=["event_type"]
    )


@query("q_tpch_q9_shape")
def q_tpch_q9_shape(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit): 5-way star join
    lineitem x part x supplier x nation x orders with a LIKE filter on
    p_name, profit expression per line, grouped by (nation, year).
    The testdata has no partsupp, so supply cost is proxied as
    0.6 * p_retailprice * l_quantity (same expression both sides).
    Scale notes: nation broadcast; the p_name LIKE filter prunes part
    BEFORE the fact join so AQE can pick broadcast-hash when the
    filtered dim fits; lineitem is never shuffled twice — the
    orderkey join and the final groupBy hash different keys, so one
    shuffle each is the floor."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


@query("q_tpch_q12_shape")
def q_tpch_q12_shape(spark, sf_dir):
    """TPC-H Q12 shape (shipping-mode priority classes): fact-fact
    join + conditional aggregation (CASE inside count) with a
    date-range filter pushed to the lineitem scan. l_returnflag
    stands in for l_shipmode (absent in testdata). The high/low
    split is computed in one pass — no second scan or self-join."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


@query("q_tpch_q13_shape")
def q_tpch_q13_shape(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): LEFT
    OUTER join with an extra predicate INSIDE the join condition
    (orders filtered without dropping order-less customers), then a
    two-level aggregation — count per customer, then histogram of
    those counts. The second groupBy keys on c_count (tiny
    cardinality) so its shuffle is negligible."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query("q_tpch_q16_shape")
def q_tpch_q16_shape(spark, sf_dir):
    """TPC-H Q16 shape (supplier count by part attributes): dim
    filter with NOT LIKE + IN-list, NOT IN subquery decorrelated to a
    LEFT ANTI join against the excluded-supplier set, then
    count(DISTINCT supplier) per (brand, type, size). The anti-join
    side (negative-balance suppliers) is tiny -> broadcast; distinct
    agg is partial+final two-phase."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    bad_supp = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query("q_tpch_q21_shape")
def q_tpch_q21_shape(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    classic double-correlated subquery — EXISTS (another supplier in
    the same order) AND NOT EXISTS (another supplier shipping LATER)
    — decorrelated into a LEFT SEMI + LEFT ANTI self-join of lineitem
    on l_orderkey with non-equi residual conditions. l_shipdate
    stands in for the receipt/commit lateness test (absent in
    testdata): we keep lines that are the strictly-last shipment of a
    multi-supplier 'F' order. All three lineitem legs hash-partition
    on l_orderkey, so the two self-joins reuse one co-partitioning;
    supplier is broadcast."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    f_orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l1 = li.join(f_orders, li.l_orderkey == F.col("o_orderkey")).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("ok3"),
        F.col("l_suppkey").alias("sk3"),
        F.col("l_shipdate").alias("sd3"),
    )
    waiting = l1.join(
        l2,
        (l1.l_orderkey == l2.ok2) & (l1.l_suppkey != l2.sk2),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == l3.ok3)
        & (F.col("l_suppkey") != l3.sk3)
        & (l3.sd3 > F.col("l_shipdate")),
        "left_anti",
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query("q_stratified_sample")
def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sample
    (operators/sampling.py:stratified_sample): each lang keeps its own
    fraction via the Lehmer hash bucket — the engine-portable
    sampleBy. Still a pure narrow filter: no shuffle, rides the scan."""
    from pipeline_dataengineer_spark.operators.sampling import stratified_sample

    d = table(spark, sf_dir, "documents")
    return stratified_sample(
        d, "doc_id", "lang", {"en": 0.5, "de": 0.2}, default_fraction=0.05
    ).select("doc_id", "lang", "source")


@query("q_winsorize")
def q_winsorize(spark, sf_dir):
    """Percentile clipping per group (operators/robust.py:winsorize):
    exact interpolated percentile bounds per event_type, broadcast
    back, clip. Oracle uses the identical quantile_cont definition."""
    from pipeline_dataengineer_spark.operators.robust import winsorize

    ev = table(spark, sf_dir, "events")
    out = winsorize(ev, "value", 0.05, 0.95, group_cols=["event_type"])
    return out.select(
        "event_id", "event_type", F.round("value_w", 4).alias("value_w")
    )


@query("q_profile")
def q_profile(spark, sf_dir):
    """Single-pass table profiling
    (operators/profiling.py:profile_table): null/distinct/min/max per
    column, one scan for all columns, unpivoted to one row per column
    on the single summary row (no second scan, no driver loop)."""
    from pipeline_dataengineer_spark.operators.profiling import profile_table

    o = table(spark, sf_dir, "orders")
    return profile_table(o, ["o_orderkey", "o_orderstatus", "o_orderpriority"])


@query("q_dup_spans")
def q_dup_spans(spark, sf_dir):
    """Exact-substring duplicate spans
    (operators/dedup.py:duplicate_ngram_spans) — ExactSubstr-style:
    8-token runs occurring >1 time in the corpus, overlapping runs
    merged per doc (gaps-and-islands). Corpus is documents plus a
    prefixed copy so duplicated substrings exist at every sf."""
    from pipeline_dataengineer_spark.operators.dedup import duplicate_ngram_spans

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    copied = d.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.lit("copied prefix words "), F.col("text")).alias("text"),
    )
    corpus = d.unionByName(copied)
    # hash_grams: the span OUTPUT is identical to string grouping
    # (collision odds ~n^2/2^64), the oracle checks outputs, and the
    # duplicate-count window then sorts 8-byte keys instead of ~50-char
    # strings.
    return duplicate_ngram_spans(
        corpus, "doc_id", "text", n_tokens=8, hash_grams=True
    )


@query("q_interval_join")
def q_interval_join(spark, sf_dir):
    """Stream-stream interval join, batch parity
    (streaming/joins.py:stream_stream_interval_join): purchases within
    30 minutes after a click by the same user. On a stream the same
    plan runs with watermarks bounding the join state; on batch it is
    an equi-join with a range residual (never a nested loop). ns→µs
    truncation on both engines keeps the boundary comparisons exact."""
    from pipeline_dataengineer_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("buy_id"), F.col("ts").alias("buy_ts")
    )
    out = stream_stream_interval_join(
        clicks, buys, "user_id", "click_ts", "buy_ts",
        lower="0 seconds", upper="30 minutes",
    )
    return out.select(
        F.col("l.user_id").alias("user_id"), "click_id", "buy_id"
    )


@query("q_source_cap")
def q_source_cap(spark, sf_dir):
    """Per-source document cap (operators/corpus.py:cap_per_key): at
    most 10 docs per source, deterministic by doc_id — the web-corpus
    per-domain budget rule. One shuffle on source; AQE splits skewed
    sources."""
    from pipeline_dataengineer_spark.operators.corpus import cap_per_key

    d = table(spark, sf_dir, "documents")
    return cap_per_key(d, ["source"], 10, "doc_id").select(
        "doc_id", "source", "lang"
    )


@query("q_knn_join")
def q_knn_join(spark, sf_dir):
    """k-NN JOIN (operators/similarity.py:cosine_topk_bruteforce):
    exact top-5 corpus neighbors for EACH of 5 query vectors in one
    plan — queries broadcast, corpus vectors never shuffled, one
    window for the per-query cut. Scores ranked at 4 decimals so the
    rank boundary is identical across engines (float32 embeddings
    diverge at digit 5+ between accumulation orders)."""
    from pipeline_dataengineer_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    e = table(spark, sf_dir, "embeddings")
    queries_df = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") >= 5)
    return cosine_topk_bruteforce(
        corpus, queries_df, k=5, score_round=4
    ).select("query_id", "vec_id", "score", "rank")


@query("q_upsert")
def q_upsert(spark, sf_dir):
    """MERGE-style upsert (operators/incremental.py:upsert_snapshot):
    every 'P'-status order arrives re-priced as a change set; source
    wins on collision, the rest of the target survives."""
    from pipeline_dataengineer_spark.operators.incremental import upsert_snapshot

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changes = (
        o.filter(F.col("o_orderstatus") == "P")
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("o_orderstatus", F.lit("U"))
    )
    return upsert_snapshot(o, changes, ["o_orderkey"])


@query("q_snapshot_diff")
def q_snapshot_diff(spark, sf_dir):
    """CDC snapshot diff (operators/incremental.py:snapshot_diff):
    old = orders, new = orders with 'P' rows re-priced, 'F' rows with
    price > 200000 deleted, and synthetic inserts; classifies
    insert/update/delete via full outer join + null-safe compare."""
    from pipeline_dataengineer_spark.operators.incremental import snapshot_diff

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        o.filter(
            ~((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 200000))
        )
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderstatus") == "P",
                F.col("o_totalprice") + 1000.0,
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 97 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_totalprice"),
            )
        )
    )
    return snapshot_diff(o, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"])


@query("q_funnel")
def q_funnel(spark, sf_dir):
    """First-touch funnel view -> click -> purchase
    (operators/events.py:funnel): one shuffle on user_id for any
    funnel depth; reach chain as narrow expressions over the
    per-user first-occurrence aggregate."""
    from pipeline_dataengineer_spark.operators.events import funnel

    ev = table(spark, sf_dir, "events")
    return funnel(ev, "user_id", "event_type", "event_id",
                  ["view", "click", "purchase"])


@query("q_cohort_retention")
def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle
    (operators/events.py:cohort_retention): first-active-week cohorts
    x weeks-since; the cohort map co-partitions with the activity set
    on user_id so the join adds no exchange."""
    from pipeline_dataengineer_spark.operators.events import cohort_retention

    ev = table(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts", period="week")


@query("q_ffill")
def q_ffill(spark, sf_dir):
    """Forward fill (operators/timeseries.py:forward_fill): 'error'
    events get a null value, repaired from the user's last good
    observation; last(ignorenulls) over an unbounded frame == SQL
    last_value IGNORE NULLS."""
    from pipeline_dataengineer_spark.operators.timeseries import forward_fill

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") != "error", F.round("value", 2)).alias("v"),
    )
    return forward_fill(ev, ["user_id"], "event_id", ["v"])


@query("q_ewma")
def q_ewma(spark, sf_dir):
    """Per-user EWMA of event values (operators/timeseries.py:ewma,
    applyInPandas — the recursion e_t = a*x_t + (1-a)*e_{t-1} is not
    window-expressible, so this is the sanctioned Arrow grouped-map
    path). Hash-checked: the oracle replays the recursion itself
    with WITH RECURSIVE — identical operand order (a·x + (1−a)·e
    with 1−a COMPUTED, not the 0.7 literal one ulp away), so e is
    bit-identical across engines. The projection TRUNCATES to 4
    decimals (floor(e·10⁴)/10⁴) instead of rounding: Spark's round
    half-ups the double's shortest decimal repr while DuckDB rounds
    the exact binary value, so a value whose shortest repr is a
    midpoint ("64.73055") rounds differently — 3 rows per 100k at
    sf0.1 (round-5 sweep). floor on the same binary double cannot
    disagree."""
    from pipeline_dataengineer_spark.operators.timeseries import ewma

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = ewma(ev, ["user_id"], "event_id", "value", alpha=0.3)
    return out.select(
        "event_id",
        "user_id",
        (F.floor(F.col("ewma") * 10000) / 10000).alias("ewma"),
    )


@query("q_contamination")
def q_contamination(spark, sf_dir):
    """Train-test contamination check
    (operators/dedup.py:cross_corpus_contamination): a synthetic
    'benchmark' built from documents with a shifted id must light up
    exactly its source docs. String grams here so the oracle can
    reproduce the join key; production uses hash_grams=True."""
    from pipeline_dataengineer_spark.operators.dedup import (
        cross_corpus_contamination,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.concat(F.lit("eval question: "), F.col("text")).alias("text"),
    )
    return cross_corpus_contamination(
        d, bench, "doc_id", "text", n_tokens=8, hash_grams=False
    )


@query("q_pack_sequences")
def q_pack_sequences(spark, sf_dir):
    """Sequence packing (operators/packing.py:pack_sequences):
    concat-and-chop documents into 2048-token training windows inside
    64 hash buckets; one shuffle on the bucket key, windows
    deterministic across engines/layouts. Token counts from the
    whitespace tokenizer (same as the oracle's split)."""
    from pipeline_dataengineer_spark.operators.packing import pack_sequences

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    return pack_sequences(d, "doc_id", "n_tokens", context_len=2048, buckets=64)


@query("q_fuzzy_join")
def q_fuzzy_join(spark, sf_dir):
    """Edit-distance join (operators/joins.py:fuzzy_join): part names
    vs a first-char-dropped copy, distance <= 1, via the FastSS
    deletion-neighborhood blocking (sound and complete — the oracle
    is the brute-force cross join, so the blocking itself is what is
    being verified)."""
    from pipeline_dataengineer_spark.operators.joins import fuzzy_join

    p = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    mutated = p.filter(F.col("p_partkey") % 20 == 0).select(
        (F.col("p_partkey") + 9_000_000).alias("p_partkey"),
        F.substring("p_name", 2, 1_000).alias("p_name"),
    )
    return fuzzy_join(
        p, mutated, "p_name", "p_name",
        max_distance=1, left_id="p_partkey", right_id="p_partkey",
    )


@query("q_media_stats")
def q_media_stats(spark, sf_dir):
    """Multimodal plumbing, oracle-checked
    (multimodal/media.py:attach_media_metadata): a deterministic
    binary payload (magic prefix by doc_id + utf-8 text bytes) is
    mime-sniffed JVM-side from magic bytes and aggregated. Exercises
    binary concat/encode/startswith/length — the typed-media column
    path — without needing codec libs."""
    from pipeline_dataengineer_spark.multimodal.media import attach_media_metadata

    d = table(spark, sf_dir, "documents")
    prefix = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(b"\x89PNG"))
        .when(F.col("doc_id") % 4 == 1, F.lit(b"\xff\xd8\xff"))
        .when(F.col("doc_id") % 4 == 2, F.lit(b"RIFF"))
        .otherwise(F.lit(b""))
    )
    with_payload = d.select(
        "doc_id",
        F.concat(prefix, F.encode("text", "UTF-8")).alias("payload"),
    )
    return (
        attach_media_metadata(with_payload)
        .groupBy("sniffed_mime")
        .agg(
            F.count("*").alias("n_media"),
            F.sum("payload_bytes").alias("total_bytes"),
        )
    )


@query("q_boilerplate_segments")
def q_boilerplate_segments(spark, sf_dir):
    """Cross-document boilerplate removal
    (operators/corpus.py:remove_boilerplate_segments): 10-word
    segments present in >2% of documents are struck from every doc,
    survivors reassembled in order. A synthetic boilerplate footer is
    appended to every 3rd document so the rule has something real to
    strike. Hash compares clean_text end-to-end, so segmentation,
    doc-frequency, the strike filter, AND ordered reassembly must all
    match the oracle."""
    from pipeline_dataengineer_spark.operators.corpus import (
        remove_boilerplate_segments,
    )

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" subscribe to our newsletter for updates terms apply "
                      "all rights reserved contact us today"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return remove_boilerplate_segments(
        d, "doc_id", "text", words_per_segment=10, max_doc_frac=0.02
    )


@query("q_chunk_docs")
def q_chunk_docs(spark, sf_dir):
    """Context-window chunking (operators/corpus.py:chunk_documents):
    64-token windows, 16-token overlap — a narrow no-shuffle fan-out
    (sequence + slice per row, riding the scan). Hash covers chunk
    text and boundaries."""
    from pipeline_dataengineer_spark.operators.corpus import chunk_documents

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return chunk_documents(d, "doc_id", "text", chunk_tokens=64, overlap=16)


@query("q_inverted_index")
def q_inverted_index(spark, sf_dir):
    """Posting lists (operators/text_features.py:inverted_index):
    term → (doc_freq, sorted distinct doc ids). Nested-array output
    hash-checked against DuckDB list aggregation; map-side-combinable
    collect_set is the only wide stage."""
    from pipeline_dataengineer_spark.operators.text_features import (
        inverted_index,
    )

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return inverted_index(d, "doc_id", "text")


@query("q_pretraining_pipeline")
def q_pretraining_pipeline(spark, sf_dir):
    """The full pretraining-corpus composition
    (pipelines/pretraining_corpus.py): clean → LSH near-dup removal →
    decontaminate vs a synthetic benchmark → per-source cap → split →
    pack, one lazy plan. Rows-only (the LSH stage is sketch-based);
    every component is individually oracle-checked."""
    from pipeline_dataengineer_spark.pipelines.pretraining_corpus import (
        build_pretraining_corpus,
    )

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"),
        F.concat(F.lit("benchmark: "), F.col("text")).alias("text"),
    )
    return build_pretraining_corpus(
        d.select("doc_id", "text", "lang", "source"),
        benchmark=bench,
        min_quality=0.2,
        max_per_source=20,
    ).orderBy("doc_id")


@query("q_ngram_jaccard")
def q_ngram_jaccard(spark, sf_dir):
    """Exact character-trigram Jaccard (operators/dedup.py:shingles +
    JVM set ops) between each of 50 docs and its lightly mutated copy
    — the exact-verification kernel that ngram_jaccard_pairs runs on
    LSH candidates, hash-checked directly here against DuckDB's list
    algebra on identically built shingle sets."""
    from pipeline_dataengineer_spark.operators.dedup import shingles

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", shingles(F.col("text"), 3).alias("sh"))
    )
    m = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select(
            F.col("doc_id").alias("mut_id"),
            shingles(F.concat(F.col("text"), F.lit(" extra tail words")), 3).alias(
                "sh_m"
            ),
        )
    )
    inter = F.size(F.array_intersect("sh", "sh_m")).cast("double")
    union = F.size(F.array_union("sh", "sh_m"))
    return (
        d.join(m, d.doc_id == m.mut_id)
        .select(
            "doc_id",
            F.round(inter / union, 4).alias("jaccard"),
        )
    )


@query("q_sessionize_batch")
def q_sessionize_batch(spark, sf_dir):
    """Gaps-and-islands sessionization in batch
    (operators/events.py:sessionize): 30-minute gap sessions per
    user with bounds + counts; timestamps formatted (ns/us rule)."""
    from pipeline_dataengineer_spark.operators.events import sessionize

    ev = table(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_seconds=1800)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return s.select(
        "user_id",
        F.date_format("session_start", fmt).alias("session_start"),
        F.date_format("session_end", fmt).alias("session_end"),
        "n_events",
    )


@query("q_ngram_lm_ppl")
def q_ngram_lm_ppl(spark, sf_dir):
    """CCNet-style quality filter: train a char-trigram LM on the
    corpus, score every document's perplexity against it
    (operators/text_features.py:train_char_trigram_lm/perplexity).
    The LM is bounded (≤|charset|³ rows) hence broadcast; the corpus
    is never shuffled for the scoring join."""
    from pipeline_dataengineer_spark.operators.text_features import (
        perplexity,
        train_char_trigram_lm,
    )

    docs = table(spark, sf_dir, "documents")
    return perplexity(docs, train_char_trigram_lm(docs))


@query("q_semantic_dedup")
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (operators/dedup.py:semantic_dedup), ORACLED round 8
    (rows-only before): cluster ids are engine-specific, but the KEPT
    SET has a guaranteed closed form on this fixture — the twin is a
    2.0× scaling, k-means runs on L2-normalized vectors, so each
    original/copy pair normalizes to the IDENTICAL vector (same
    cluster by determinism of argmin on equal inputs, cosine exactly
    1 ≥ threshold) and min-id keeps the original; no organic pair can
    be dropped (max off-diagonal cosine 0.60 across tiers vs 0.9999).
    Kept set = exactly the original corpus ids."""
    from pipeline_dataengineer_spark.operators.dedup import semantic_dedup

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doubled = e.unionByName(
        e.select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform("embedding", lambda v: v * F.lit(2.0)).alias("embedding"),
        )
    )
    # auto-k (round 9): target_cluster_size pins per-cluster size as
    # the corpus grows, so the within-cluster pair join is linear at
    # the 10x tier instead of quadratic (fixed k=8 measured 11.5x);
    # the closed-form oracle is k-independent (parallel pairs land
    # together under ANY centroids, organic pairs never pass 0.9999).
    # max_iterations=10 bounds the Lloyd job count in the headline
    # bench — convergence quality is irrelevant to the kept set here.
    # Round 10: k is computed HERE from the cheap base-table count
    # (column-pruned parquet count) instead of target_cluster_size's
    # count of the derived union+transform frame — n is exactly
    # 2·|embeddings| by construction, so k is identical to what
    # auto-k derived, one lineage execution cheaper (guide §1.2).
    n = 2 * e.count()
    kept = semantic_dedup(
        doubled,
        "vec_id",
        "embedding",
        threshold=0.9999,
        k=max(8, -(-n // 1250)),
        max_iterations=10,
    )
    return kept.select("vec_id").orderBy("vec_id")


@query("q_incremental_agg")
def q_incremental_agg(spark, sf_dir):
    """Incremental aggregate maintenance
    (operators/incremental.py:partial_agg_state/merge_agg_states/
    finalize_agg_state): mergeable (n, sum, min, max, sumsq) states
    built on two disjoint date slices of orders, monoid-merged, then
    finalized — must equal the direct one-pass aggregate the oracle
    computes. The delta-update shape for materialized aggregates at
    100 TB: only the new slice is scanned, the merge touches
    dimension-sized state."""
    from pipeline_dataengineer_spark.operators.incremental import (
        finalize_agg_state,
        merge_agg_states,
        partial_agg_state,
    )

    o = table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < "1997-01-01")
    new = o.filter(F.col("o_orderdate") >= "1997-01-01")
    keys = ["o_orderpriority"]
    state = merge_agg_states(
        partial_agg_state(old, keys, "o_totalprice"),
        partial_agg_state(new, keys, "o_totalprice"),
        keys=keys,
    )
    fin = finalize_agg_state(state, keys)
    return fin.select(
        "o_orderpriority",
        "cnt",
        F.round("total", 2).alias("total"),
        F.round("vmin", 2).alias("vmin"),
        F.round("vmax", 2).alias("vmax"),
        F.round("avg_v", 4).alias("avg_v"),
        F.round("stddev_v", 2).alias("stddev_v"),
    )


@query("q_url_normalize")
def q_url_normalize(spark, sf_dir):
    """URL canonicalization (operators/web.py:normalize_urls): case
    folding, www./default-port stripping, fragment drop, tracking-param
    removal, trailing-slash trim — one fused codegen projection. URLs
    are synthesized deterministically from documents so all branches
    are exercised; the oracle states the expected canonical form."""
    from pipeline_dataengineer_spark.operators.web import normalize_urls

    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    m = F.pmod(F.col("doc_id"), F.lit(3))
    url = (
        F.when(
            m == 0,
            F.concat(
                F.lit("HTTPS://WWW."),
                F.col("source"),
                F.lit(".Example.COM:443/a/b/?utm_source=x&q=1&utm_campaign=c#frag"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("http://"), F.upper("source"), F.lit(".EXAMPLE.com:8080/path")
            ),
        )
        .otherwise(
            F.concat(F.lit("http://www."), F.col("source"), F.lit(".example.com:80/"))
        )
    )
    out = normalize_urls(d.withColumn("url", url), "url")
    return out.select("doc_id", "url_norm")


@query("q_domain_stats")
def q_domain_stats(spark, sf_dir):
    """Per-registered-domain corpus stats (operators/web.py:
    domain_stats): page count, distinct hosts, sum/avg of a value
    column — ONE map-side-combinable groupBy on the domain key.
    Hosts are synthesized two-per-domain to exercise the host/domain
    distinction."""
    from pipeline_dataengineer_spark.operators.web import domain_stats

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    host = F.when(
        F.pmod(F.col("doc_id"), F.lit(2)) == 0,
        F.concat(F.lit("www."), F.col("source"), F.lit(".com")),
    ).otherwise(F.concat(F.lit("img."), F.col("source"), F.lit(".com")))
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("doc_id"))
    out = domain_stats(d.withColumn("url", url), "url", value_cols=["n_chars"])
    return out.select(
        "domain",
        "n_pages",
        "n_hosts",
        F.col("sum_n_chars").cast("long").alias("sum_n_chars"),
        F.round("avg_n_chars", 4).alias("avg_n_chars"),
    )


@query("q_mad_outliers")
def q_mad_outliers(spark, sf_dir):
    """Robust outlier flagging (operators/robust.py:mad_outliers):
    per-group median + MAD via exact interpolated percentiles
    (quantile_cont semantics), flag |x - med| > k*1.4826*MAD. Both
    group aggregates broadcast back — the fact side never shuffles."""
    from pipeline_dataengineer_spark.operators.robust import mad_outliers

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = mad_outliers(ev, "value", group_cols=["event_type"], k=2.0)
    return out.select("event_id", "event_type", "value", "is_outlier")


@query("q_hll_merge")
def q_hll_merge(spark, sf_dir):
    """Mergeable HLL distinct-count sketches (functions/sketches.py),
    ORACLED round 8 (rows-only before): per-lang sketches built
    independently on two halves of documents, union-merged,
    estimated — then joined against the exact per-lang distinct so
    the output hash-checks the exact column plus the sketch's
    accuracy property (measured max relative error 2.9% at sf0.1;
    the 5% bound is the closed form the oracle states; deterministic
    sketch → stable). The merge==single-pass identity and tighter
    accuracy floors stay pytest-checked."""
    from pipeline_dataengineer_spark.functions.sketches import (
        hll_estimate,
        hll_sketches,
        merge_hll,
    )

    d = table(spark, sf_dir, "documents").select("lang", "doc_id")
    half_a = d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    half_b = d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    merged = merge_hll(
        hll_sketches(half_a, ["lang"], "doc_id"),
        hll_sketches(half_b, ["lang"], "doc_id"),
        keys=["lang"],
    )
    est = hll_estimate(merged, ["lang"])
    exact = d.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("exact_distinct")
    )
    return (
        est.join(exact, "lang")
        .select(
            "lang",
            "exact_distinct",
            (
                F.abs(
                    F.col("approx_distinct") - F.col("exact_distinct")
                )
                <= 0.05 * F.col("exact_distinct")
            ).alias("est_within_5pct"),
        )
        .orderBy("lang")
    )


@query("q_pagerank")
def q_pagerank(spark, sf_dir):
    """PageRank (operators/graph.py:pagerank) over the bipartite
    customer→nation membership graph — HASH-CHECKED: the oracle
    unrolls the 8 power-iteration rounds (contributions, dangling
    mass, rank update with identical operation order) as chained SQL
    CTEs; cross-engine float-sum order differences are ulp-sized and
    absorbed by round(6). Also pytest-checked against an independent
    numpy power iteration. One join + one map-side-combinable
    aggregate per round, localCheckpoint-bounded plans, only one-row
    aggregates reach the driver."""
    from pipeline_dataengineer_spark.operators.graph import pagerank

    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("src"),
        # offset nation ids out of the custkey range so node ids are
        # distinct across the two classes
        (F.col("c_nationkey") + 10_000_000).alias("dst"),
    )
    # 8 rounds ≈ 1e-3 L1 residual here; row count (the rows-only
    # check) is iteration-independent, so keep the contract run cheap.
    ranks = pagerank(c, max_iterations=8, tol=1e-9)
    return ranks.select("node", F.round("rank", 6).alias("rank")).orderBy("node")


@query("q_variant")
def q_variant(spark, sf_dir):
    """Spark 4 VARIANT semi-structured path: parse_json → open
    binary-encoded variant → typed variant_get extraction, then a
    relational aggregate over the extracted key. The Variant encoding
    is columnar-shreddable at the scan at scale; the oracle reads the
    same JSON with DuckDB's json extraction."""
    ev = table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        ev.select(k.alias("k_val"), "value")
        .groupBy("k_val")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query("q_zorder_layout")
def q_zorder_layout(spark, sf_dir):
    """Z-order re-clustering (operators/layout.py:zorder_layout):
    Morton-interleaved multi-column sort so file min/max stats prune
    multi-column filters. Content is untouched — the oracle is the
    identity projection (the driver's order-insensitive hash proves
    the operator only MOVES rows); the pruning effect itself is
    pytest-checked on real parquet file stats."""
    from pipeline_dataengineer_spark.operators.layout import zorder_layout

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    return zorder_layout(li, ["l_orderkey", "l_partkey"], num_files=8)


@query("q_interval_join_left")
def q_interval_join_left(spark, sf_dir):
    """LEFT OUTER stream-stream interval join, batch parity
    (streaming/joins.py:stream_stream_interval_join how='left_outer'):
    every click appears, with null buy columns when no purchase lands
    in the window. On a stream the same plan emits the null rows only
    once the watermark closes the bound (pytest-proven on a live
    two-drain stream); on batch it is this left join."""
    from pipeline_dataengineer_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("buy_id"), F.col("ts").alias("buy_ts")
    )
    out = stream_stream_interval_join(
        clicks, buys, "user_id", "click_ts", "buy_ts",
        lower="0 seconds", upper="30 minutes", how="left_outer",
    )
    return out.select(
        F.col("l.user_id").alias("user_id"), "click_id", "buy_id"
    )


@query("q_apply_cdc")
def q_apply_cdc(spark, sf_dir):
    """CDC round trip (operators/incremental.py:snapshot_diff →
    apply_cdc): diff two snapshot variants of orders, apply the
    change stream back onto the old snapshot — the result must equal
    the new snapshot exactly (the oracle computes the new snapshot
    directly). Inserts, updates and deletes all exercised via key
    arithmetic."""
    from pipeline_dataengineer_spark.operators.incremental import (
        apply_cdc,
        snapshot_diff,
    )

    o = table(spark, sf_dir, "orders")
    value_cols = ["o_totalprice", "o_orderstatus"]
    old = o.filter(F.pmod("o_orderkey", F.lit(7)) != 0).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "o_orderstatus"
    )
    new = o.filter(F.pmod("o_orderkey", F.lit(5)) != 0).select(
        "o_orderkey",
        F.round(
            F.when(
                F.pmod("o_orderkey", F.lit(3)) == 0,
                F.col("o_totalprice") * 2,
            ).otherwise(F.col("o_totalprice")),
            2,
        ).alias("o_totalprice"),
        "o_orderstatus",
    )
    changes = snapshot_diff(old, new, ["o_orderkey"], value_cols)
    return apply_cdc(old, changes, ["o_orderkey"], value_cols)


@query("q_dq_checks")
def q_dq_checks(spark, sf_dir):
    """Declarative data-quality report (operators/quality.py): five
    rule kinds compiled into ONE aggregate pass over orders, plus a
    referential-integrity anti-join against customer — output is the
    (rule, n_violations, passed) gate table."""
    from pipeline_dataengineer_spark.operators.quality import (
        check_referential,
        run_checks,
    )

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    report = run_checks(
        o,
        [
            ("not_null", "o_custkey"),
            ("unique", "o_orderkey"),
            ("accepted_values", "o_orderstatus", ["O", "F", "P"]),
            ("min", "o_totalprice", 0),
            ("max", "o_totalprice", 1_000_000),
        ],
    )
    ri = check_referential(o, c, "o_custkey", "c_custkey")
    return report.unionByName(ri)


@query("q_resolve_entities")
def q_resolve_entities(spark, sf_dir):
    """Entity resolution (operators/graph.py:resolve_entities):
    FastSS fuzzy self-join → connected components → cluster id.
    Names are synthesized so each source forms exactly one typo
    cluster (bases from different sources are >max_distance apart),
    which gives a closed-form oracle: entity_id == min doc_id of the
    source group."""
    from pipeline_dataengineer_spark.operators.graph import resolve_entities

    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    base = F.concat(F.col("source"), F.lit("_corporation_"), F.col("source"))
    m = F.pmod("doc_id", F.lit(3))
    name = (
        F.when(m == 0, base)
        .when(m == 1, F.concat(base, F.lit("x")))
        .otherwise(F.concat(F.lit("x"), base))
    )
    out = resolve_entities(
        d.withColumn("ent_name", name), "doc_id", "ent_name", max_distance=1
    )
    return out.select("doc_id", "entity_id")


@query("q_quantile_bins")
def q_quantile_bins(spark, sf_dir):
    """Equal-frequency binning (operators/robust.py:quantile_bucketize):
    quartile bucket per event within its event_type. Boundaries are
    quantile_cont percentiles broadcast back; bucket id is a fan of
    comparisons (deterministic, unlike ntile) — the oracle computes
    the identical arithmetic."""
    from pipeline_dataengineer_spark.operators.robust import quantile_bucketize

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = quantile_bucketize(ev, "value", n_buckets=4, group_cols=["event_type"])
    return out.select("event_id", "event_type", F.col("value_bucket"))


@query("q_corr_matrix")
def q_corr_matrix(spark, sf_dir):
    """One-scan Pearson correlation matrix
    (operators/profiling.py:corr_matrix) over three lineitem
    measures — all pairs in a single partial+final aggregate pass,
    unpivoted to tidy (col_a, col_b, corr) form."""
    from pipeline_dataengineer_spark.operators.profiling import corr_matrix

    li = table(spark, sf_dir, "lineitem")
    out = corr_matrix(li, ["l_quantity", "l_extendedprice", "l_discount"])
    return out.select("col_a", "col_b", F.round("corr", 6).alias("corr"))


@query("q_auto_skew_join")
def q_auto_skew_join(spark, sf_dir):
    """Hybrid skew join (operators/skew.py:auto_skew_join): heavy
    keys detected by count, salted; cold keys take the plain join
    unsalted. Salting reshapes only the shuffle, so the oracle is
    the plain SQL join. The threshold is set low enough that real
    hot keys exist at sf0.01."""
    from pipeline_dataengineer_spark.operators.skew import auto_skew_join

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    out = auto_skew_join(
        li.withColumnRenamed("l_partkey", "p_partkey"),
        p,
        "p_partkey",
        hot_key_threshold=20,
        salt=4,
    )
    return out.select("l_orderkey", "p_partkey", "l_quantity", "p_name")


@query("q_incremental_corpus")
def q_incremental_corpus(spark, sf_dir):
    """Incremental corpus append (pipelines/pretraining_corpus.py:
    incremental_corpus_append): documents is the existing corpus; the
    batch is a near-dup mutation of it (must all die) plus the same
    docs under fresh ids with reversed text (must survive cleaning
    thresholds or die deterministically). Rows-only — components are
    individually oracle-checked; this pins the composition's count."""
    from pipeline_dataengineer_spark.pipelines.pretraining_corpus import (
        incremental_corpus_append,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    near = d.select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing token")).alias("text"),
        "lang",
    )
    fresh = d.select(
        (F.col("doc_id") + 6_000_000).alias("doc_id"),
        F.reverse(F.col("text")).alias("text"),
        "lang",
    )
    batch = near.unionByName(fresh)
    out = incremental_corpus_append(d, batch, jaccard_threshold=0.6)
    return out.select("doc_id").orderBy("doc_id")


@query("q_explode_outer")
def q_explode_outer(spark, sf_dir):
    """Outer explode: rows whose array is empty (or null) survive
    with a NULL element instead of vanishing — the LEFT-JOIN-shaped
    fan-out a document pipeline needs when per-doc annotations may be
    absent. Arrays are synthesized from customer keys: every third
    customer gets an empty array."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    arr = F.when(
        F.pmod("c_custkey", F.lit(3)) == 0, F.array().cast("array<bigint>")
    ).otherwise(F.array(F.col("c_custkey") * 10, F.col("c_custkey") * 10 + 1))
    out = c.withColumn("e", F.explode_outer(arr))
    return out.select("c_custkey", F.col("e").cast("long").alias("e"))


@query("q_max_by")
def q_max_by(spark, sf_dir):
    """Aggregate top-1 per group via max_by — map-side combinable,
    unlike the window-rank formulation (no per-group sort, partial
    aggregation on every partition; the k=1 scale path for "top
    order per priority"). Struct ordering breaks totalprice ties by
    orderkey so the result is deterministic; the oracle states the
    same pick with a window."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by(
            "o_orderkey", F.struct("o_totalprice", "o_orderkey")
        ).alias("top_order"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
    )


@query("q_bool_aggs")
def q_bool_aggs(spark, sf_dir):
    """Boolean aggregate family: bool_and / bool_or / count_if per
    group — the predicate-summary shapes DQ gates and monitors use."""
    o = table(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 150_000
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(big).alias("all_big"),
        F.bool_or(big).alias("any_big"),
        F.count_if(big).alias("n_big"),
    )


@query("q_string_agg")
def q_string_agg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG family): region name list
    per nation prefix via sort_array(collect_list) + array_join —
    deterministic ordering makes the concatenation hash-stable across
    engines (an unordered string_agg is nondeterministic by
    definition and would never oracle-match)."""
    n = table(spark, sf_dir, "nation")
    return (
        n.groupBy(F.substring("n_name", 1, 1).alias("initial"))
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("n_name")), ","
            ).alias("nations"),
            F.count("*").alias("n"),
        )
    )


@query("q_nullsafe_join")
def q_nullsafe_join(spark, sf_dir):
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of silently dropping — the semantics a
    CDC compare or a dimension with an explicit 'unknown' bucket
    needs. Keys are synthesized with every 7th customer NULLed on
    both sides."""
    c = table(spark, sf_dir, "customer")
    k = F.when(F.pmod("c_custkey", F.lit(7)) == 0, None).otherwise(
        F.col("c_nationkey")
    )
    left = c.select(F.col("c_custkey").alias("cust"), k.alias("k"))
    right = (
        table(spark, sf_dir, "nation")
        .select(
            F.when(F.pmod("n_nationkey", F.lit(7)) == 0, None)
            .otherwise(F.col("n_nationkey"))
            .alias("k"),
            F.col("n_name"),
        )
    )
    out = left.join(right, left.k.eqNullSafe(right.k), "inner")
    return out.select("cust", left.k.alias("k"), "n_name")


@query("q_asof_forward")
def q_asof_forward(spark, sf_dir):
    """Forward as-of join (operators/joins.py:asof_join
    direction='forward'): each click matched to the EARLIEST purchase
    at or after it by the same user — the complement of the backward
    q_asof_join, same single-shuffle union+window plan."""
    from pipeline_dataengineer_spark.operators.joins import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("buy_id"), F.col("ts").alias("buy_ts")
    )
    out = asof_join(clicks, buys, "user_id", "click_ts", "buy_ts", direction="forward")
    return out.select("user_id", "click_id", "buy_id")


@query("q_interval_join_right")
def q_interval_join_right(spark, sf_dir):
    """RIGHT OUTER stream-stream interval join, batch parity
    (streaming/joins.py:stream_stream_interval_join how='right_outer'):
    every purchase appears, with null click columns when no click
    preceded it within the window. On a stream the null rows emit only
    after the watermark closes the bound (two-drain pytest in
    test_streaming.py); on batch it is this right join."""
    from pipeline_dataengineer_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("buy_id"), F.col("ts").alias("buy_ts")
    )
    out = stream_stream_interval_join(
        clicks, buys, "user_id", "click_ts", "buy_ts",
        lower="0 seconds", upper="30 minutes", how="right_outer",
    )
    return out.select(
        F.col("r.user_id").alias("user_id"), "click_id", "buy_id"
    )


@query("q_interval_join_full")
def q_interval_join_full(spark, sf_dir):
    """FULL OUTER stream-stream interval join, batch parity
    (streaming/joins.py:stream_stream_interval_join how='full_outer'):
    unmatched rows from BOTH sides survive with nulls opposite. The
    streaming plan emits each side's null rows as its watermark
    expires (two-drain pytest); batch parity is this full join.
    user_id comes from whichever side is present (coalesce)."""
    from pipeline_dataengineer_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("buy_id"), F.col("ts").alias("buy_ts")
    )
    out = stream_stream_interval_join(
        clicks, buys, "user_id", "click_ts", "buy_ts",
        lower="0 seconds", upper="30 minutes", how="full_outer",
    )
    return out.select(
        F.coalesce(F.col("l.user_id"), F.col("r.user_id")).alias("user_id"),
        "click_id",
        "buy_id",
    )


@query("q_prune_semi_join")
def q_prune_semi_join(spark, sf_dir):
    """Semi join with a broadcast key-bucket prefilter
    (operators/prune.py:semi_join_with_key_prune — the explicit
    runtime-bloom plan shape: big side pruned map-side BEFORE its
    shuffle). Oracle = the plain semi join, because the exact join
    after the digest makes pruning invisible to the result."""
    from pipeline_dataengineer_spark.operators.prune import (
        semi_join_with_key_prune,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    urgent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_orderkey"))
    return semi_join_with_key_prune(
        li, urgent, on="l_orderkey", small_on="o_orderkey"
    )


@query("q_prune_anti_join")
def q_prune_anti_join(spark, sf_dir):
    """Anti join with the digest shortcut
    (operators/prune.py:anti_join_with_key_prune): bucket misses are
    PROVEN anti-matches and skip the exact join entirely; only bucket
    hits pay the shuffle. Oracle = plain anti join."""
    from pipeline_dataengineer_spark.operators.prune import (
        anti_join_with_key_prune,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    urgent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_orderkey"))
    return anti_join_with_key_prune(
        li, urgent, on="l_orderkey", small_on="o_orderkey"
    )


@query("q_regr")
def q_regr(spark, sf_dir):
    """Linear-regression aggregates (regr_slope/intercept/r2/count) —
    the summary-statistics family both engines define identically."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("icept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


@query("q_date_spine")
def q_date_spine(spark, sf_dir):
    """Calendar-spine generation + gap-filled daily counts: the date
    dimension every warehouse builds. sequence() generates the spine
    JVM-side (no driver loop); orders-per-day left-joins onto it so
    empty days survive as zeros."""
    o = table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d")
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1994-01-01").cast("date"),
                F.lit("1994-03-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    daily = o.groupBy("d").agg(F.count("*").alias("n"))
    return spine.join(daily, spine.day == daily.d, "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n_orders")
    )


@query("q_lateral_topn")
def q_lateral_topn(spark, sf_dir):
    """Correlated LATERAL subquery (Spark 3.2+/DuckDB parity): top-2
    orders by value among each nation's customers — the per-group
    top-n shape expressed as the SQL standard writes it. Catalyst
    decorrelates to a ranked window, so the plan is the same as
    q_window_rank's, not a nested loop."""
    from pipeline_dataengineer_spark.sql import sql as engine_sql

    return engine_sql(
        spark,
        """
        SELECT n.n_name, t.o_orderkey, t.o_totalprice
        FROM nation n,
        LATERAL (
          SELECT o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY o.o_totalprice DESC, o.o_orderkey
          LIMIT 2
        ) t
        """,
        sf_dir,
    )


@query("q_array_setops")
def q_array_setops(spark, sf_dir):
    """Array set algebra on tokenized text: distinct-token vocabulary
    intersected/differenced against a literal stopword set — all
    JVM-side array kernels, no explode/shuffle."""
    d = table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(x) for x in ["the", "a", "of", "and"]])
    vocab = F.array_distinct(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        F.sort_array(F.array_intersect(vocab, stop)).alias("stops_present"),
        F.size(F.array_except(vocab, stop)).alias("n_content_tokens"),
    )


@query("q_split_pad")
def q_split_pad(spark, sf_dir):
    """String structuring kernels: split_part / lpad / rpad /
    translate — the fixed-format parsing family."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.lpad(F.col("p_brand"), 12, "*").alias("brand_l"),
        F.rpad(F.col("p_brand"), 12, "#").alias("brand_r"),
        F.translate(F.col("p_name"), "aeiou", "AEIOU").alias("name_tr"),
    )


@query("q_extract_words")
def q_extract_words(spark, sf_dir):
    """regexp_extract_all → per-document sorted distinct long words
    (the link/entity-extraction shape: pattern → array → set ops,
    no explode until the caller wants rows)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sort_array(
            F.array_distinct(F.regexp_extract_all("text", F.lit("[a-z]{7,}"), 0))
        ).alias("long_words"),
    )


@query("q_nth_ignore_nulls")
def q_nth_ignore_nulls(spark, sf_dir):
    """Window navigation extras: nth_value over the full frame and
    first_value(..., ignorenulls) skipping manufactured NULLs (every
    click's value is NULLed, so the first non-null per user is its
    first purchase-like event)."""
    ev = table(spark, sf_dir, "events")
    v = F.when(F.col("event_type") != "click", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.nth_value("value", 2).over(w), 4).alias("second_val"),
        F.round(F.first(v, ignorenulls=True).over(w), 4).alias("first_nonclick"),
    )


@query("q_html_to_text")
def q_html_to_text(spark, sf_dir):
    """HTML → visible text + title + text ratio (functions/html.py):
    the Common Crawl extraction step as one fused codegen regexp
    chain — no UDF, rides the scan. HTML is synthesized from
    documents in-query (script boilerplate + title + body) so the
    oracle can build the identical input; every pattern is
    Java-regex/RE2-portable (no backreferences), which is what makes
    this hash-checkable against DuckDB."""
    from pipeline_dataengineer_spark.functions.html import (
        html_title,
        html_to_text,
        visible_text_ratio,
    )

    d = table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><script>var t=1;</script><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><p>"),
        F.col("text"),
        F.lit("</p><!-- c --></body></html>"),
    )
    return d.select(
        "doc_id",
        html_to_text(html).alias("clean_text"),
        html_title(html).alias("title"),
        visible_text_ratio(html).alias("text_ratio"),
    )


@query("q_group_by_all")
def q_group_by_all(spark, sf_dir):
    """Modern SQL surface: GROUP BY ALL (Spark 4 / DuckDB parity) —
    every non-aggregate select item becomes a grouping key."""
    from pipeline_dataengineer_spark.sql import sql as engine_sql

    return engine_sql(
        spark,
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n, round(sum(l_quantity), 2) AS qty
        FROM lineitem
        GROUP BY ALL
        """,
        sf_dir,
    )


@query("q_bpe_tokens")
def q_bpe_tokens(spark, sf_dir):
    """BPE tokenization (operators/bpe.py), ORACLED round 8
    (rows-only before): the token stream is vocabulary-specific, but
    BPE is LOSSLESS by construction — merges only ever concatenate
    adjacent symbols — so the engine certifies per doc that the
    concatenated tokens reconstruct the pre-tokenized text exactly
    (lowercased words each closed by the ▁ end-of-word marker) and
    that the token count sits in its provable band (≥ one token per
    word, ≤ chars + one marker per word). Merge table still learned
    on the bounded sample and applied via broadcast closure; the
    corpus never shuffles. Oracle states the closed form."""
    from pipeline_dataengineer_spark.operators.bpe import (
        EOW,
        bpe_tokenize,
        learn_bpe_merges,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = learn_bpe_merges(d, num_merges=100, max_sample_rows=2_000)
    toks = bpe_tokenize(d, merges)
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    expected = F.concat_ws(
        "", F.transform(words, lambda w: F.concat(w, F.lit(EOW)))
    )
    stripped_len = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    return toks.select(
        "doc_id",
        (F.concat_ws("", F.col("bpe_tokens")) == expected).alias(
            "roundtrip_ok"
        ),
        (
            (F.col("n_bpe_tokens") >= F.size(words))
            & (F.col("n_bpe_tokens") <= stripped_len + F.size(words))
        ).alias("token_count_in_band"),
    ).orderBy("doc_id")


@query("q_heavy_hitters")
def q_heavy_hitters(spark, sf_dir):
    """EXACT heavy hitters (operators/profiling.py:heavy_hitters):
    customers holding >= 0.05% of all orders. One combinable groupBy
    on the item + a broadcast 1-row total — the fact table shuffles
    once. (Sketch path for cardinality-bomb columns:
    functions/sketches.py:topk_states.)"""
    from pipeline_dataengineer_spark.operators.profiling import heavy_hitters

    o = table(spark, sf_dir, "orders")
    hh = heavy_hitters(o, "o_custkey", min_share=0.0005)
    return hh.select(
        F.col("item").cast("long").alias("item"), "cnt", "share"
    ).orderBy("item")


@query("q_approx_topk")
def q_approx_topk(spark, sf_dir):
    """Mergeable frequent-items sketches (functions/sketches.py:
    topk_states/merge_topk/topk_estimate — Spark 4.1 approx_top_k_*
    family): states built independently on two halves of part,
    combined, estimated. Hash-checkable BECAUSE the sketch is exact
    below its max_items bound (25 brands << 10k tracked) and the
    estimate is cut to k only after a deterministic (count, item)
    sort — the oracle is the plain exact-count SQL."""
    from pipeline_dataengineer_spark.functions.sketches import (
        merge_topk,
        topk_estimate,
        topk_states,
    )

    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    half_a = p.filter(F.pmod(F.col("p_partkey"), F.lit(2)) == 0)
    half_b = p.filter(F.pmod(F.col("p_partkey"), F.lit(2)) == 1)
    merged = merge_topk(
        topk_states(half_a, [], "p_brand"),
        topk_states(half_b, [], "p_brand"),
        keys=[],
    )
    return topk_estimate(merged, [], k=10).orderBy("item")


@query("q_kll_quantiles")
def q_kll_quantiles(spark, sf_dir):
    """Mergeable KLL quantile states (functions/sketches.py:
    kll_states/merge_kll/kll_quantiles), ORACLED round 8 (rows-only
    before): KLL compaction is randomized so raw estimates are
    engine-specific, but the bound KLL PROMISES — rank error — is
    checkable: the engine computes each estimate's rank within the
    exact distribution and certifies |rank − q| ≤ 5% (k=200 bounds
    rank error at ~1.65% @ 99% confidence — 3× margin, robust to the
    sketch's internal coin flips). n hash-checks exactly."""
    from pipeline_dataengineer_spark.functions.sketches import (
        kll_quantiles,
        kll_states,
        merge_kll,
    )

    ev = table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    half_a = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    half_b = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    merged = merge_kll(
        kll_states(half_a, ["event_type"], "value"),
        kll_states(half_b, ["event_type"], "value"),
        keys=["event_type"],
    )
    est = kll_quantiles(merged, ["event_type"], [0.5, 0.95])
    # RANK-error certification (the bound KLL actually promises):
    # the rank of each estimate within the exact distribution must
    # sit within 5% of its target rank — k=200 bounds rank error at
    # ~1.65% with 99% confidence, so 5% is ~3x margin against the
    # sketch's internal randomization. n is exact by construction.
    v = F.col("value").cast("double")
    ranks = (
        ev.filter(v.isNotNull())
        .join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum((v <= F.col("q_0_5")).cast("long"))
                / F.count(F.lit(1))
            ).alias("r50"),
            (
                F.sum((v <= F.col("q_0_95")).cast("long"))
                / F.count(F.lit(1))
            ).alias("r95"),
        )
    )
    return ranks.select(
        "event_type",
        "n",
        (F.abs(F.col("r50") - 0.5) <= 0.05).alias("p50_rank_ok"),
        (F.abs(F.col("r95") - 0.95) <= 0.05).alias("p95_rank_ok"),
    ).orderBy("event_type")


@query("q_interval_join_semi")
def q_interval_join_semi(spark, sf_dir):
    """Stream-stream LEFT SEMI interval join, batch parity
    (streaming/joins.py:stream_stream_interval_join how=left_semi):
    clicks that were followed by a purchase from the same user within
    30 minutes — each click once, no purchase columns. On a stream the
    same plan keeps only the left row and drops join state as the
    watermark passes; completes the join matrix (inner, left/right/
    full outer, semi)."""
    from pipeline_dataengineer_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("buy_ts")
    )
    out = stream_stream_interval_join(
        clicks, buys, "user_id", "click_ts", "buy_ts",
        lower="0 seconds", upper="30 minutes", how="left_semi",
    )
    return out.select(F.col("user_id"), "click_id").orderBy("click_id")


@query("q_array_overlap_join")
def q_array_overlap_join(spark, sf_dir):
    """Set-similarity join (operators/joins.py:array_overlap_join):
    part pairs whose name word-sets share >= 2 words. Candidates come
    from ONE equi-join on exploded tags (linear in total tags, a pair
    materializes only if it shares a tag — never the cross join the
    predicate implies); overlap is then recomputed exactly via
    array_intersect on candidates. Stopword-grade tags are droppable
    via the enforced max_tag_df cap (pytest-covered)."""
    from pipeline_dataengineer_spark.operators.joins import array_overlap_join

    p = table(spark, sf_dir, "part").select(
        "p_partkey", F.split(F.col("p_name"), " ").alias("name_words")
    )
    out = array_overlap_join(
        p, p, "p_partkey", "p_partkey", "name_words", "name_words",
        min_overlap=2,
    )
    return out.filter(F.col("p_partkey") < F.col("p_partkey_r")).orderBy(
        "p_partkey", "p_partkey_r"
    )


@query("q_weighted_sample")
def q_weighted_sample(spark, sf_dir):
    """Weight-proportional deterministic sampling
    (operators/sampling.py:weighted_sample): documents kept with
    probability min(1, frac * weight / ref) — doc length as the
    stand-in weight, an explicit ref normalizer so the threshold is
    the same elementwise IEEE754 expression on both engines (a
    data-computed mean can differ in the last ulp and flip a
    boundary row). Kept SET is hash-checked, not just its size; the
    whole plan is a narrow filter riding the scan."""
    from pipeline_dataengineer_spark.operators.sampling import weighted_sample

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("double").alias("w")
    )
    # no orderBy: order-insensitive compare; keep the plan Exchange-free
    return weighted_sample(
        d, "doc_id", "w", target_frac=0.25, ref_weight=500.0
    ).select("doc_id", F.col("w").alias("weight"))


@query("q_pseudonymize")
def q_pseudonymize(spark, sf_dir):
    """Keyed deterministic tokenization (functions/pii.py:pseudonymize):
    customer keys become salted sha256 tokens — joinability preserved
    (same key → same token), reversal requires the salt. One fused
    codegen projection; the oracle runs the identical sha256
    arithmetic, proving engine portability of the token space."""
    from pipeline_dataengineer_spark.functions.pii import pseudonymize

    o = table(spark, sf_dir, "orders")
    # no orderBy: the driver compare is order-insensitive and a global
    # sort would add the only Exchange to an otherwise narrow plan
    return o.select(
        "o_orderkey",
        pseudonymize("o_custkey", salt="s3cr3t", prefix="cust_").alias("cust_token"),
    )


@query("q_event_sequences")
def q_event_sequences(spark, sf_dir):
    """Next-event training pairs from clickstreams: per-user events
    ordered by time become (prev_event -> next_event) rows via lag
    over the user window — ONE shuffle on user_id builds every pair
    regardless of sequence length (the sequence-model feature-prep
    shape). event_id tie-break keeps the oracle deterministic."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        ev.select(
            "user_id", "event_id",
            F.lag("event_type").over(w).alias("prev_event"),
            F.col("event_type").alias("next_event"),
        )
        .filter(F.col("prev_event").isNotNull())
        .orderBy("user_id", "event_id")
    )


@query("q_mom_growth")
def q_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth per order priority: aggregate
    first (map-side-combinable), THEN lag over the month window — the
    window runs on |priorities × months| rows, never on the fact
    table. Ratio rounded on both engines."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_orderpriority", F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    return (
        monthly.withColumn("prev_revenue", F.lag("revenue").over(w))
        .withColumn(
            "growth",
            F.round((F.col("revenue") - F.col("prev_revenue")) / F.col("prev_revenue"), 4),
        )
        .filter(F.col("prev_revenue").isNotNull())
        .select("o_orderpriority", "month", "revenue", "growth")
    )


@query("q_topk_per_group")
def q_topk_per_group(spark, sf_dir):
    """Top-3 parts by revenue per brand: combinable aggregate first,
    then rank over the brand window (group-sized input) with a
    deterministic (revenue desc, partkey) tie-break. The k=1 scale
    shortcut is q_max_by; this is the general-k window form."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(), F.col("p_partkey"))
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "revenue", F.col("rk").cast("long").alias("rk"))
    )


@query("q_market_share")
def q_market_share(spark, sf_dir):
    """Per-month market share by order priority: one aggregate pass,
    then a window SUM over the month partition (month-cardinality
    rows) turns counts into shares — no second scan, no self-join."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        "o_orderpriority",
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.partitionBy("month")
    return monthly.select(
        "month", "o_orderpriority", "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 4).alias("share"),
    )


@query("q_triangle_count")
def q_triangle_count(spark, sf_dir):
    """Relational triangle counting (operators/graph.py:triangle_count)
    over a customer co-nation neighbor graph (customers adjacent when
    consecutive by key within a nation — a deterministic sparse graph
    with real triangles via the wrap-around edge)."""
    from pipeline_dataengineer_spark.operators.graph import triangle_count

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    ranked = c.withColumn("rn", F.row_number().over(w))
    # ring edges rn -> rn+1 and a chord rn -> rn+2: guarantees triangles
    e1 = ranked.alias("a").join(
        ranked.alias("b"),
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("b.rn") == F.col("a.rn") + 1),
    ).select(F.col("a.c_custkey").alias("src"), F.col("b.c_custkey").alias("dst"))
    e2 = ranked.alias("a").join(
        ranked.alias("b"),
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("b.rn") == F.col("a.rn") + 2),
    ).select(F.col("a.c_custkey").alias("src"), F.col("b.c_custkey").alias("dst"))
    return triangle_count(e1.unionByName(e2))


@query("q_co_occurrence")
def q_co_occurrence(spark, sf_dir):
    """Market-basket co-occurrence (operators/graph.py:co_occurrence):
    part pairs ordered together in >= 3 orders — one self-equi-join on
    the order key plus a combinable count, with the giant-basket cap
    enforced (a no-op on this data; pytest proves it fires)."""
    from pipeline_dataengineer_spark.operators.graph import co_occurrence

    li = table(spark, sf_dir, "lineitem")
    out = co_occurrence(
        li, "l_orderkey", "l_partkey", min_count=3, max_basket_size=50
    )
    return out.select(
        "item_a", "item_b", F.col("n_baskets").cast("long").alias("n_baskets")
    )


@query("q_ivf_exact")
def q_ivf_exact(spark, sf_dir):
    """IVF ANN with nprobe == num_centroids: every bucket is probed,
    so the result is EXACTLY brute-force top-k — which makes the
    whole IVF machinery (centroid ranking, probe join, within-bucket
    scoring, rank cut) hash-checkable against plain SQL, complementing
    q_ivf_topk's rows-only recall check of the approximate path."""
    from pipeline_dataengineer_spark.operators.similarity import ivf_build, ivf_search

    e = table(spark, sf_dir, "embeddings")
    query_vecs = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids, assigned = ivf_build(e, num_centroids=8)
    out = ivf_search(centroids, assigned, query_vecs, k=5, nprobe=8)
    return out.select(
        "query_id", "vec_id", "score", F.col("rank").cast("long").alias("rank")
    )


# ------------------------------------------------ spatial / interval / PIT


@query("q_spatial_join")
def q_spatial_join(spark, sf_dir):
    """Grid-bucketed distance self-join (operators/spatial.py): all
    customer-point pairs within Euclidean radius 2.47. Coordinates are
    derived with the engine-portable Lehmer bucket so the oracle can
    rebuild them exactly; the plan is an equi-join on 3x3 grid cells
    (no BNLJ), with the exact distance re-check on candidates."""
    from pipeline_dataengineer_spark.operators.sampling import portable_bucket
    from pipeline_dataengineer_spark.operators.spatial import grid_distance_join

    c = table(spark, sf_dir, "customer").select("c_custkey")
    # y is a NESTED Lehmer bucket: a single step is affine in the key
    # below the modulus wrap, which would collapse the cloud onto
    # diagonal lattice lines; the second round decorrelates it into a
    # real 2-D scatter (the oracle nests the same SQL).
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (portable_bucket(F.col("c_custkey"), 1000) / 10.0).alias("x"),
        (
            portable_bucket(
                portable_bucket(F.col("c_custkey"), 1_000_000) + 13, 1000
            )
            / 10.0
        ).alias("y"),
    )
    left = pts.select(
        F.col("id").alias("id_a"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    right = pts.select(
        F.col("id").alias("id_b"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = grid_distance_join(
        left, right, ("xa", "ya"), ("xb", "yb"), radius=2.47
    ).filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(
            F.sqrt(
                (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
                + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            ),
            3,
        ).alias("dist"),
    )


@query("q_interval_overlap")
def q_interval_overlap(spark, sf_dir):
    """Interval x interval overlap self-join via dual-sided bucketing
    with first-shared-bucket dedup (operators/joins.py:
    interval_overlap_join) — supplier account-balance windows of width
    300 that intersect. Oracle is the naive theta join."""
    from pipeline_dataengineer_spark.operators.joins import interval_overlap_join

    s = table(spark, sf_dir, "supplier")
    iv = s.select(
        F.col("s_suppkey").alias("sid"),
        F.col("s_acctbal").alias("lo"),
        (F.col("s_acctbal") + 300.0).alias("hi"),
    )
    left = iv.select(
        F.col("sid").alias("s_a"), F.col("lo").alias("lo_a"), F.col("hi").alias("hi_a")
    )
    right = iv.select(
        F.col("sid").alias("s_b"), F.col("lo").alias("lo_b"), F.col("hi").alias("hi_b")
    )
    out = interval_overlap_join(
        left, right, ("lo_a", "hi_a"), ("lo_b", "hi_b"), bucket_width=500.0
    ).filter(F.col("s_a") < F.col("s_b"))
    return out.select(
        "s_a", "s_b", F.round(F.col("hi_a") - F.col("lo_b"), 2).alias("a_over_b")
    )


@query("q_pit_lookup")
def q_pit_lookup(spark, sf_dir):
    """Point-in-time (as-at) lookup: SCD2 versions built from each
    user's event-type change stream (scd2_from_changes), then every
    purchase event joined to the version valid at its event_id
    (operators/scd.py:scd2_lookup) — the no-leakage feature-backfill
    join. Equi-join on user_id with the interval residual; per-key
    version history is small, so the key shuffle IS the scale plan."""
    from pipeline_dataengineer_spark.operators.scd import (
        scd2_from_changes,
        scd2_lookup,
    )

    ev = table(spark, sf_dir, "events")
    dim = scd2_from_changes(ev, "user_id", "event_id", ["event_type"])
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("fact_id"),
        F.round("value", 2).alias("purchase_value"),
    )
    out = scd2_lookup(facts, dim, "user_id", "fact_id", how="left")
    return out.select(
        "user_id",
        "fact_id",
        "purchase_value",
        F.col("event_type").alias("type_as_of"),
        "valid_from",
    )


@query("q_lexicon_score")
def q_lexicon_score(spark, sf_dir):
    """Interpretable linear text scoring (operators/text_model.py:
    lexicon_score): broadcast term-weight join + one combinable sum
    per doc — the corpus-scale apply plan of the fastText-family
    quality filter, hash-checked term-for-term against DuckDB."""
    from pipeline_dataengineer_spark.operators.text_model import lexicon_score

    d = table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        [
            ("fast", 1.0),
            ("slow", -1.0),
            ("join", 0.5),
            ("scan", -0.25),
            ("hash", 0.75),
        ],
        "term string, weight double",
    )
    return lexicon_score(d, "doc_id", "text", lex)


@query("q_regr_aggs")
def q_regr_aggs(spark, sf_dir):
    """Grouped least-squares aggregates (regr_slope / regr_intercept /
    regr_r2) — one combinable aggregation pass, the relational form of
    per-group linear model fitting."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias(
            "intercept"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 4).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


@query("q_item_similarity")
def q_item_similarity(spark, sf_dir):
    """Item-based collaborative filtering kernel (operators/graph.py:
    item_similarity): cosine over basket co-occurrence — one
    self-equi-join on the basket key + combinable counts, item-count
    join-back. Baskets = orders, items = part groups."""
    from pipeline_dataengineer_spark.operators.graph import item_similarity

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket"),
        (F.col("l_partkey") % 50).alias("item"),
    )
    return item_similarity(li, "basket", "item", min_count=3)


@query("q_rolling_zscore")
def q_rolling_zscore(spark, sf_dir):
    """Trailing-window anomaly detection (operators/timeseries.py:
    rolling_zscore_outliers): each event scored against the PRECEDING
    20 events of its user — leak-free, O(window) state per key, one
    shuffle."""
    from pipeline_dataengineer_spark.operators.timeseries import (
        rolling_zscore_outliers,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    out = rolling_zscore_outliers(
        ev, ["user_id"], "event_id", "value",
        window=20, threshold=2.0, min_history=5,
    )
    return out.select(
        "user_id", "event_id", "zscore", "is_outlier"
    )


@query("q_scale_features")
def q_scale_features(spark, sf_dir):
    """Per-group feature scaling (operators/scaling.py): z-score and
    the stats come from ONE combinable aggregate joined back broadcast
    — the fact table never shuffles (vs the window-over-facts naive
    plan)."""
    from pipeline_dataengineer_spark.operators.scaling import scale_features

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    out = scale_features(li, ["l_quantity"], ["l_returnflag"], "zscore")
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_quantity_scaled").alias("q_z"),
    )


@query("q_dbscan")
def q_dbscan(spark, sf_dir):
    """DBSCAN density clustering (operators/spatial.py:dbscan) over
    Lehmer-derived customer points: grid-join neighbors → core count →
    connected components → border attach. Every step is deterministic
    (cluster label = min core id of the component, border attaches to
    its min core-neighbor label), so the oracle replays the FULL
    algorithm in SQL — neighbor self-join, degree filter, reachability
    closure via WITH RECURSIVE, border attach — and the cluster size
    profile hash-checks. eps uses the 2.47 boundary-safe constant
    (points are multiples of 0.1; q_spatial_join precedent) so no
    pair lands within an ulp of the radius. The contract instance
    caps the point set at 4000 ids: the ORACLE's reachability
    closure is quadratic in component size (that is why the engine
    uses min-label propagation instead), so the differential stays
    tractable at every tier while the engine path itself remains
    unbounded."""
    from pipeline_dataengineer_spark.operators.sampling import portable_bucket
    from pipeline_dataengineer_spark.operators.spatial import dbscan

    c = (
        table(spark, sf_dir, "customer")
        .select("c_custkey")
        .filter(F.col("c_custkey") < 4000)
    )
    # y goes through a SECOND bucket round: one Lehmer step is affine
    # in the key below the modulus wrap, which would put every point
    # on a diagonal lattice line; the nested bucket destroys the
    # correlation so the point cloud is a genuine 2-D scatter.
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (portable_bucket(F.col("c_custkey"), 1000) / 10.0).alias("x"),
        (
            portable_bucket(
                portable_bucket(F.col("c_custkey"), 1_000_000) + 13, 1000
            )
            / 10.0
        ).alias("y"),
    )
    out = dbscan(pts, "id", ("x", "y"), eps=2.47, min_pts=4)
    return (
        out.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum((F.col("role") == "core").cast("long")).alias("n_core"),
        )
        .orderBy(F.col("n_points").desc(), "cluster")
        .limit(20)
    )


@query("q_bfs_distance")
def q_bfs_distance(spark, sf_dir):
    """Multi-source BFS / recursive-CTE parity (operators/graph.py:
    bfs_shortest_paths): minimum hop distance from node 1 over a
    synthetic DAG on doc ids (binary-tree child edges plus +1 skip
    edges every 7th node — multiple paths of different lengths reach
    the same node, so min-over-arrival-round is genuinely exercised).
    Frontier-sized work per round, localCheckpoint-bounded plans.
    The oracle is DuckDB's actual WITH RECURSIVE — engine-independent
    fixpoint semantics, hash-checked."""
    from pipeline_dataengineer_spark.operators.graph import bfs_shortest_paths

    d = table(spark, sf_dir, "documents").select("doc_id")
    mx = d.agg(F.max("doc_id")).collect()[0][0]
    inner = d.filter(F.col("doc_id") >= 1)
    e1 = inner.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") * 2).alias("dst")
    )
    e2 = inner.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") * 2 + 1).alias("dst")
    )
    e3 = inner.filter(F.pmod("doc_id", F.lit(7)) == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    edges = e1.union(e2).union(e3).filter(F.col("dst") <= mx)
    sources = spark.range(1, 2).select(F.col("id").alias("node"))
    out = bfs_shortest_paths(edges, sources, max_depth=30)
    return out.select("node", "dist")


@query("q_skyline")
def q_skyline(spark, sf_dir):
    """Pareto frontier / skyline (operators/skyline.py:skyline_2d):
    per order priority, orders not strictly dominated on
    (totalprice maximize, orderdate minimize). Spark runs the exact
    2-D sweep (class aggregate + class-sized window); the oracle is
    the independent quadratic NOT EXISTS dominance anti-join —
    different algorithm, hash-identical result."""
    from pipeline_dataengineer_spark.operators.skyline import skyline_2d

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice", "o_orderdate"
    )
    out = skyline_2d(
        o, "o_totalprice", "o_orderdate", ["o_orderpriority"]
    )
    return out.select(
        "o_orderpriority", "o_orderkey", "o_totalprice", "o_orderdate"
    )


@query("q_join_view_maintenance")
def q_join_view_maintenance(spark, sf_dir):
    """Incremental view maintenance for a join view
    (operators/incremental.py:maintain_join_view): the stored view
    A_old ⨝ B_old is advanced by the delta rule
    ΔA⨝B_old ∪ A_old⨝ΔB ∪ ΔA⨝ΔB instead of recomputed. Splits are
    chosen so all three delta terms are non-empty (orders split on
    key mod, lineitem on line number). Oracle = full recompute of
    the joined new state — the IVM correctness law, hash-checked."""
    from pipeline_dataengineer_spark.operators.incremental import (
        maintain_join_view,
    )

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_totalprice"
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_linenumber", "l_extendedprice"
    )
    a_old = o.filter(F.pmod("okey", F.lit(10)) < 8)
    a_delta = o.filter(F.pmod("okey", F.lit(10)) >= 8)
    b_old = li.filter(F.col("l_linenumber") <= 3)
    b_delta = li.filter(F.col("l_linenumber") > 3)
    view_old = a_old.join(b_old, ["okey"])
    out = maintain_join_view(view_old, a_old, a_delta, b_old, b_delta, ["okey"])
    return out.select("okey", "l_linenumber", "o_totalprice", "l_extendedprice")


@query("q_pq_exact")
def q_pq_exact(spark, sf_dir):
    """Product quantization, lossless configuration (operators/pq.py):
    corpus capped at 250 vectors so every subspace's distinct
    subvectors fit the 256-entry codebook — the quantizer is then
    exact and ADC equals true squared L2, making the ENTIRE PQ
    machinery (train, byte encode, LUT build, gather-scoring, rank
    cut) hash-checkable against plain SQL. Complements q_pq_topk's
    rows-only recall check of the genuinely lossy path (same
    pattern as q_ivf_exact / q_ivf_topk)."""
    from pipeline_dataengineer_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 250)
    books = pq_train(e, m=8, codebook_size=256, sample_size=250)
    enc = pq_encode(e, books)
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_topk(enc, books, q, k=5)
    return out.select(
        "query_id", "vec_id", "dist2", F.col("rank").cast("long").alias("rank")
    )


@query("q_pq_topk")
def q_pq_topk(spark, sf_dir):
    """Compressed ANN at the honest setting (operators/pq.py): 64
    float32 dims → 8 one-byte codes (32× smaller — the difference
    between scanning 100 TB of floats and 3 TB of codes), ADC
    scoring with zero per-row float math. PROMOTED to a full oracle
    round 9 (rows-only since round 4) via the q_ivfpq_self_top1
    pattern: corpus vectors as queries at k=1 — a vector's own ADC
    distance is its quantization error, far below any other vector's
    ADC in 64-d (margin verified at every tier), so the answer has
    the closed form (v, v, 1). The same lossy codebooks/encode/LUT/
    gather machinery runs; top-10 recall of this configuration stays
    pytest-enforced (tests/test_pq.py recall floors), and the
    lossless algebra is hash-checked by q_pq_exact."""
    from pipeline_dataengineer_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    e = table(spark, sf_dir, "embeddings")
    books = pq_train(e, m=8, codebook_size=64, sample_size=4096)
    enc = pq_encode(e, books)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_topk(enc, books, q, k=1)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id")


@query("q_cep_pattern")
def q_cep_pattern(spark, sf_dir):
    """CEP / MATCH_RECOGNIZE-style regex over event streams
    (operators/cep.py:match_event_pattern): every non-overlapping
    'views, optional clicks, then purchase' (v+c*p) occurrence per
    user. Symbol classification is a codegen'd CASE; matching is one
    shuffle + C-speed regex per key. Oracle replays it with
    string_agg + regexp_extract_all — leftmost-greedy semantics
    agree between Python re and RE2 for this pattern class."""
    from pipeline_dataengineer_spark.operators.cep import match_event_pattern

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
        .alias("sym"),
    )
    out = match_event_pattern(ev, ["user_id"], "event_id", "sym", "v+c*p")
    return out.select("user_id", "match_seq", "matched")


@query("q_holt_linear")
def q_holt_linear(spark, sf_dir):
    """Holt double exponential smoothing per user
    (operators/timeseries.py:holt_linear): level + trend recursion
    with a 3-step-ahead forecast. Hash-checked the same way as
    q_ewma: the oracle replays the COUPLED recursion with WITH
    RECURSIVE carrying both accumulators, in the identical IEEE754
    operand order, so values agree bit-for-bit before rounding."""
    from pipeline_dataengineer_spark.operators.timeseries import holt_linear

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = holt_linear(
        ev, ["user_id"], "event_id", "value", alpha=0.3, beta=0.1, horizon=3
    )
    # NO rounding: both engines compute bit-identical doubles, and
    # round() itself is the only divergence risk (Spark rounds the
    # shortest decimal string, DuckDB rounds x*10^d — they disagree on
    # values like 444.63374999999996 whose float multiple lands on .5).
    return out.select("event_id", "user_id", "level", "trend", "forecast")


@query("q_sssp_distance")
def q_sssp_distance(spark, sf_dir):
    """Weighted shortest paths (operators/graph.py:
    weighted_shortest_paths, distributed Bellman-Ford with
    improved-only frontiers) over the same doc-id DAG as
    q_bfs_distance, with integer edge weights 1 + dst%3 — cheap skip
    edges vs expensive tree edges make the weighted optimum differ
    from the hop-count optimum. Oracle enumerates all path costs
    with WITH RECURSIVE and takes the min — exact because integer
    sums are float-exact both sides."""
    from pipeline_dataengineer_spark.operators.graph import (
        weighted_shortest_paths,
    )

    d = table(spark, sf_dir, "documents").select("doc_id")
    mx = d.agg(F.max("doc_id")).collect()[0][0]
    inner = d.filter(F.col("doc_id") >= 1)
    e1 = inner.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") * 2).alias("dst")
    )
    e2 = inner.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") * 2 + 1).alias("dst")
    )
    e3 = inner.filter(F.pmod("doc_id", F.lit(7)) == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    edges = (
        e1.union(e2)
        .union(e3)
        .filter(F.col("dst") <= mx)
        .withColumn(
            "weight", (F.lit(1) + F.pmod("dst", F.lit(3))).cast("double")
        )
    )
    sources = spark.range(1, 2).select(F.col("id").alias("node"))
    out = weighted_shortest_paths(edges, sources, max_iterations=40)
    return out.select("node", "dist")


@query("q_bootstrap_ci")
def q_bootstrap_ci(spark, sf_dir):
    """Deterministic Poisson bootstrap (operators/bootstrap.py):
    95% CI for the mean event value per event type, B=200
    replicates as ONE exploded combinable aggregate. The 'random'
    resamples are Lehmer-hash-derived and the Poisson(1) CDF ladder
    uses exact double literals, so DuckDB replays the identical
    resamples and the interval hash-checks."""
    from pipeline_dataengineer_spark.operators.bootstrap import (
        bootstrap_mean_ci,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    return bootstrap_mean_ci(
        ev, ["event_type"], "event_id", "value", n_replicates=200
    )


@query("q_target_encode")
def q_target_encode(spark, sf_dir):
    """Leakage-safe target encoding (operators/encoding.py): orders'
    priority encoded by leave-one-out mean of totalprice, plus the
    deterministic 5-fold out-of-fold encoding — both as combinable
    aggregates broadcast back (the fact table never shuffles).
    Oracle replays sum/count arithmetic and the Lehmer fold
    assignment in SQL."""
    from pipeline_dataengineer_spark.operators.encoding import (
        target_encode_kfold,
        target_encode_loo,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    loo = target_encode_loo(o, "o_orderpriority", "o_totalprice", "te_loo")
    kf = target_encode_kfold(
        o, "o_orderpriority", "o_orderkey", "o_totalprice", 5, "te_kf"
    ).select("o_orderkey", "te_kf", F.col("fold").cast("long").alias("fold"))
    return loo.join(kf, "o_orderkey").select(
        "o_orderkey",
        "o_orderpriority",
        "fold",
        F.round("te_loo", 4).alias("te_loo"),
        F.round("te_kf", 4).alias("te_kf"),
    )


@query("q_chi2_assoc")
def q_chi2_assoc(spark, sf_dir):
    """Chi-square association + Cramér's V between event type and a
    derived user cohort (operators/stats_tests.py:chi2_association):
    contingency cells in one combinable groupBy, margins from the
    CELLS (never re-scanning facts), empty-cell handling via the
    Σo²/e − N identity. Oracle replays the identical arithmetic."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        chi2_association,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_type", F.pmod("user_id", F.lit(3)).alias("cohort")
    )
    return chi2_association(ev, "event_type", "cohort")


@query("q_mann_whitney")
def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test, click vs view event values
    (operators/stats_tests.py:mann_whitney_u): average ranks for
    ties, tie-corrected normal z. Oracle replays rank + tie
    arithmetic in SQL."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        mann_whitney_u,
    )

    ev = table(spark, sf_dir, "events")
    return mann_whitney_u(ev, "event_type", "value", "click", "view")


@query("q_sorted_neighborhood")
def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood ER blocking (operators/order.py): customer
    pairs within 3 positions of the account-balance total order. The
    global index is order.global_row_index (one task when small,
    range partition + per-partition offsets otherwise), and pair
    generation is an equi-join on index blocks.
    Oracle uses the single-node row_number formulation."""
    from pipeline_dataengineer_spark.operators.order import (
        sorted_neighborhood_pairs,
    )

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return sorted_neighborhood_pairs(
        c, "c_custkey", F.col("c_acctbal"), window=3
    )


@query("q_attribution")
def q_attribution(spark, sf_dir):
    """First/last-touch conversion attribution (operators/
    attribution.py): per purchase event, the first and most recent
    preceding non-purchase touch — PRECEDING-only frames, one user
    shuffle. Oracle = identical window formulation in SQL."""
    from pipeline_dataengineer_spark.operators.attribution import (
        touch_attribution,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    out = touch_attribution(
        ev,
        ["user_id"],
        "event_id",
        "event_type",
        F.col("event_type") == "purchase",
    )
    return out.select("user_id", "event_id", "first_touch", "last_touch")


@query("q_attribution_linear")
def q_attribution_linear(spark, sf_dir):
    """Linear (equal-split) attribution: journeys via cumulative
    conversion count (gaps-and-islands), credit 1/touches per
    converting journey, one combinable aggregate per channel."""
    from pipeline_dataengineer_spark.operators.attribution import (
        linear_attribution,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    return linear_attribution(
        ev,
        ["user_id"],
        "event_id",
        "event_type",
        F.col("event_type") == "purchase",
    )


@query("q_clamped_balance")
def q_clamped_balance(spark, sf_dir):
    """Saturating running balance (operators/timeseries.py:
    clamped_running_sum): per-user inventory in [0, 100] driven by
    value−25 deltas. The clamp destroys the prefix-sum structure, so
    this is a true recursion — replayed bit-exactly by the oracle's
    WITH RECURSIVE (add → greatest → least, identical operand
    order), unrounded doubles like q_holt_linear."""
    from pipeline_dataengineer_spark.operators.timeseries import (
        clamped_running_sum,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", (F.col("value") - 25.0).alias("delta")
    )
    out = clamped_running_sum(
        ev, ["user_id"], "event_id", "delta", lo=0.0, hi=100.0
    )
    return out.select("event_id", "user_id", "balance")


@query("q_kcore")
def q_kcore(spark, sf_dir):
    """2-core decomposition (operators/graph.py:k_core) over doc-id
    5-blocks where EVEN blocks close into 5-cycles and odd blocks
    stay chains: the 2-core is exactly the even blocks (cycles),
    chains peel away completely. Closed-form oracle (same trick as
    q_connected_components) makes the iterative peel hash-checkable."""
    from pipeline_dataengineer_spark.operators.graph import k_core

    d = table(spark, sf_dir, "documents").select("doc_id")
    chain = d.filter(F.pmod("doc_id", F.lit(5)) < 4).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    closing = d.filter(
        (F.pmod("doc_id", F.lit(5)) == 4)
        & (F.pmod(F.floor(F.col("doc_id") / 5), F.lit(2)) == 0)
    ).select(F.col("doc_id").alias("src"), (F.col("doc_id") - 4).alias("dst"))
    out = k_core(chain.union(closing), k=2)
    return out.select("node", "degree")


@query("q_recursive_cte")
def q_recursive_cte(spark, sf_dir):
    """Native WITH RECURSIVE SQL surface (Spark 4.1 recursive CTE).

    The engine-level recursion the operators in graph.py implement
    manually (bfs_shortest_paths and friends) is ALSO available
    straight from SQL since Spark 4: a parent-chain walk over the
    implicit binary-heap hierarchy on doc ids (parent = floor(n/2)),
    rolled up per document into chain depth and ancestor-id sum.
    Recursion depth is log2(max doc_id) (~16 at sf0.1), and each
    round's frame is at most one row per document, so the fixpoint
    work is documents x log(documents) — the same bound as the
    hand-built BFS. The oracle runs the identical ANSI recursion in
    DuckDB: engine-independent fixpoint semantics, hash-checked.
    Spark guards runaway recursion with a cumulative ROW limit
    (default 1M — a safety net, not a resource bound); the walk's
    total is documents x depth, so size it from the data rather than
    letting the default kill legitimate depth (hit at the bench 10x
    tier: 600k docs x 27 levels)."""
    spark.conf.set("spark.sql.cteRecursionRowLimit", 200_000_000)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents_rc")
    return spark.sql(
        """
        WITH RECURSIVE walk(doc_id, node, depth) AS (
          SELECT doc_id, doc_id AS node, 0 AS depth FROM documents_rc
          UNION ALL
          SELECT doc_id, CAST(FLOOR(node / 2) AS BIGINT), depth + 1
          FROM walk WHERE node > 1
        )
        SELECT doc_id,
               CAST(MAX(depth) AS BIGINT) AS chain_depth,
               CAST(SUM(node) AS BIGINT) AS ancestor_sum
        FROM walk GROUP BY doc_id
        """
    )


@query("q_pca_cov")
def q_pca_cov(spark, sf_dir):
    """PCA covariance kernel (operators/decomposition.py:
    covariance_matrix): the sample covariance of the first 16
    embedding dims, computed as ONE Arrow partial-moment pass (n,
    sum, outer-product sum per batch) merged relationally — the
    corpus is never self-joined (the naive (i,j) pair formulation
    would blow rows up d^2 = 256x before aggregating). The oracle is
    DuckDB's covar_samp over an explicit dimension cross join —
    completely different algorithm (streaming per-pair covariance),
    hash-identical after round(4)."""
    from pipeline_dataengineer_spark.operators.decomposition import (
        covariance_matrix,
    )

    e = table(spark, sf_dir, "embeddings").select("embedding")
    out = covariance_matrix(e, "embedding", dim=16)
    return out.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        F.round("cov", 4).alias("cov"),
    )


@query("q_kmv_distinct")
def q_kmv_distinct(spark, sf_dir):
    """KMV distinct sketch (functions/sketches.py:kmv_states): per
    order priority, the k-minimum-values estimate of distinct
    customers. k=16384 exceeds the per-priority customer cardinality
    at BOTH the driver's sf0.01 (~1k) and the scale-drift pass's
    sf0.1 (~13k — round 4's k=4096 crossed into the estimator regime
    there and the COUNT(DISTINCT) oracle rightly diverged), so the
    sketch stays in its EXACT regime and the oracle is plain
    COUNT(DISTINCT) — same exact-below-threshold contract as
    q_approx_topk. Above k the (k-1)/u_(k) order-statistic regime is
    engine-specific by nature (xxhash64) and is pytest-covered
    (test_kmv.py) rather than oracle-checked. The build is two
    bounded stages (salted partial k-min, then a salts x k fold) —
    no unbounded collect_set buffer on a hot key."""
    from pipeline_dataengineer_spark.functions.sketches import (
        kmv_estimate,
        kmv_states,
    )

    o = table(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    st = kmv_states(o, ["o_orderpriority"], "o_custkey", k=16384)
    return kmv_estimate(st, ["o_orderpriority"], k=16384).select(
        "o_orderpriority",
        F.col("approx_distinct").cast("long").alias("n_customers"),
    )


@query("q_haversine_join")
def q_haversine_join(spark, sf_dir):
    """Great-circle distance self-join (operators/spatial.py:
    haversine_join): customer pairs within 30 km, coordinates a
    Lehmer-derived scatter over [35, 55) lat x [-5, 25) lon. The
    plan is the lat/lon grid equi-join (cell height exact, width
    sized at the declared max_abs_lat=55 bound) — never a BNLJ; the
    oracle is the quadratic theta join with the IDENTICAL haversine
    arithmetic, hash-checked after round(3)."""
    from pipeline_dataengineer_spark.operators.sampling import portable_bucket
    from pipeline_dataengineer_spark.operators.spatial import (
        haversine_join,
        haversine_km,
    )

    c = table(spark, sf_dir, "customer").select("c_custkey")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (F.lit(35.0) + portable_bucket(F.col("c_custkey"), 1000) * 0.02).alias(
            "lat"
        ),
        (
            F.lit(-5.0)
            + portable_bucket(
                portable_bucket(F.col("c_custkey"), 1_000_000) + 13, 1000
            )
            * 0.03
        ).alias("lon"),
    )
    left = pts.select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
    )
    right = pts.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
    )
    pairs = haversine_join(
        left,
        right,
        ("lat_a", "lon_a"),
        ("lat_b", "lon_b"),
        radius_km=30.0,
        max_abs_lat=55.0,
    ).filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(
            haversine_km(
                F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
            ),
            3,
        ).alias("dist_km"),
    )


@query("q_group_sample")
def q_group_sample(spark, sf_dir):
    """Fixed-count per-group sample (operators/sampling.py:
    group_sample): exactly 40 orders per priority, the 40
    bucket-smallest rows. The plan is the two-phase shape (count →
    narrow prefilter → rank over ~oversample*k survivors per group,
    with the exactness guard), NOT a rank window over every group's
    full rows; the oracle is the naive full row_number formulation —
    different plan, identical defined result, hash-checked."""
    from pipeline_dataengineer_spark.operators.sampling import group_sample

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return group_sample(o, ["o_orderpriority"], "o_orderkey", k=40)


@query("q_als_topk")
def q_als_topk(spark, sf_dir):
    """ALS recommender (operators/recommender.py), PROMOTED to a full
    oracle round 10 (rows-only rounds 1-9) via a rank-1 closed-form
    fixture: ratings = f(user) * g(item) over a COMPLETE customers x
    40-parts matrix (f = custkey%7+1, g = partkey+1 — integer-valued,
    engine-portable). On a complete rank-1 matrix, one alternating
    iteration at model rank 4 recovers the matrix EXACTLY: the user
    half-solve against ANY full-rank init gives U = f * z' (each
    user's normal equations share the same design matrix, so x_u is
    exactly proportional to f(u)); the item half-solve then fits
    R_:j = g(j) * f, which lies in colspace(U) = span{f}, with zero
    residual — so prediction(u, j) = f(u) * g(j) up to the tiny ridge
    (reg=1e-6; item-side relative bias ~ reg / (E[f^2] * ||z||^2) ~
    1e-12, and the user-side ridge cancels entirely because the item
    solve fits the ACTUAL U). Predictions are integers +- 1e-9, so
    round(., 3) is exact; g is injective so per-user top-3 has no
    ties. The full join -> grouped Arrow ridge solve -> broadcast
    top-k machinery executes unchanged; free-rank recovery and
    determinism stay pytest-proven (test_recommender.py)."""
    from pipeline_dataengineer_spark.operators.recommender import (
        als,
        recommend_top_k,
    )

    u = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        (F.pmod("c_custkey", F.lit(7)) + 1).cast("double").alias("__f"),
    )
    i = table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 40).select(
        F.col("p_partkey").alias("item_id"),
        (F.col("p_partkey") + 1).cast("double").alias("__g"),
    )
    ratings = u.crossJoin(F.broadcast(i)).select(
        "user_id", "item_id", (F.col("__f") * F.col("__g")).alias("rating")
    )
    uf, itf = als(ratings, rank=4, reg=1e-6, iterations=1)
    recs = recommend_top_k(uf, itf, k=3)
    return recs.select(
        "user_id",
        "item_id",
        F.round("prediction", 3).alias("prediction"),
        F.col("rank").cast("long").alias("rank"),
    )


@query("q_hamming_neardup")
def q_hamming_neardup(spark, sf_dir):
    """Banded Hamming near-duplicate join (operators/dedup.py:
    hamming_near_duplicates — the candidate join behind simhash text
    dedup and dHash image dedup). Fingerprints are CONSTRUCTED to be
    engine-portable: a 63-bit word from three stacked Lehmer buckets
    of floor(doc_id/2), with odd doc ids XOR-flipping two disjoint
    bit positions — so consecutive even/odd docs are planted
    distance-2 pairs and everything else is ~random-far. Spark runs
    the pigeonhole band join (3 bands for d=2, one shuffle, popcount
    residual); the oracle is DuckDB's quadratic xor/bit_count brute
    force — different algorithm, hash-identical pairs."""
    from pipeline_dataengineer_spark.operators.dedup import (
        hamming_near_duplicates,
    )
    from pipeline_dataengineer_spark.operators.sampling import portable_bucket

    d = table(spark, sf_dir, "documents").select("doc_id")
    base = F.floor(F.col("doc_id") / 2).cast("long")
    m = 1 << 21
    h_base = (
        F.shiftleft(portable_bucket(base + 7, m).cast("long"), 42)
        + F.shiftleft(portable_bucket(base + 11, m).cast("long"), 21)
        + portable_bucket(base + 13, m).cast("long")
    )
    flip = F.expr(
        "shiftleft(1L, CAST(doc_id % 19 AS INT)) | "
        "shiftleft(1L, CAST(20 + doc_id % 17 AS INT))"
    )
    h = F.when(F.pmod("doc_id", F.lit(2)) == 1, h_base.bitwiseXOR(flip)).otherwise(
        h_base
    )
    fp = d.select("doc_id", h.alias("h"))
    return hamming_near_duplicates(fp, "doc_id", "h", max_distance=2).select(
        "id_a",
        "id_b",
        F.col("hamming_distance").cast("long").alias("hamming_distance"),
    )


@query("q_seasonal_decompose")
def q_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition (operators/
    timeseries.py:seasonal_decompose): per order priority, the daily
    revenue series split into centered-MA(7) trend, re-centered
    per-weekday-phase seasonal, and residual — all window/groupBy
    relational algebra (series shuffled once; phase means are a
    key x 7 combinable aggregate broadcast back). Oracle = full SQL
    window replay in DuckDB, hash-checked after round(3)."""
    from pipeline_dataengineer_spark.operators.timeseries import (
        seasonal_decompose,
    )

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderdate")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("daily_total"))
    )
    out = seasonal_decompose(
        daily,
        ["o_orderpriority"],
        "o_orderdate",
        "daily_total",
        period=7,
    )
    return out.select(
        "o_orderpriority",
        "o_orderdate",
        "daily_total",
        F.round("trend", 3).alias("trend"),
        F.round("seasonal", 3).alias("seasonal"),
        F.round("resid", 3).alias("resid"),
    )


@query("q_clustering_coeff")
def q_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient (operators/graph.py:
    clustering_coefficient) over the same ring+chord co-nation graph
    as q_triangle_count. Oracle = independent DuckDB SQL: triangles
    per node via a three-way join over the canonical edge list,
    degrees from an endpoint union — hash-checked per node."""
    from pipeline_dataengineer_spark.operators.graph import (
        clustering_coefficient,
    )

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    ranked = c.withColumn("rn", F.row_number().over(w))
    e1 = ranked.alias("a").join(
        ranked.alias("b"),
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("b.rn") == F.col("a.rn") + 1),
    ).select(F.col("a.c_custkey").alias("src"), F.col("b.c_custkey").alias("dst"))
    e2 = ranked.alias("a").join(
        ranked.alias("b"),
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("b.rn") == F.col("a.rn") + 2),
    ).select(F.col("a.c_custkey").alias("src"), F.col("b.c_custkey").alias("dst"))
    out = clustering_coefficient(e1.unionByName(e2))
    return out.select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.col("triangles").cast("long").alias("triangles"),
        F.round("coefficient", 4).alias("coefficient"),
    )


@query("q_mutual_info")
def q_mutual_info(spark, sf_dir):
    """Mutual information (operators/stats_tests.py:
    mutual_information) between order priority and order status —
    one fact-table pass builds the cell table, margins/entropies are
    cell-derived. Oracle = the identical MI/NMI formula replayed in
    SQL over the same contingency construction, hash-checked after
    round(6)."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        mutual_information,
    )

    o = table(spark, sf_dir, "orders")
    out = mutual_information(o, "o_orderpriority", "o_orderstatus")
    return out.select(
        F.round("mi_nats", 6).alias("mi_nats"),
        F.round("nmi", 6).alias("nmi"),
        "n",
    )


@query("q_ks_test")
def q_ks_test(spark, sf_dir):
    """Two-sample KS statistic (operators/stats_tests.py:ks_test)
    between URGENT and LOW order totalprice distributions — per-side
    running counts over the distinct values (the tie-absorbed ECDF).
    Oracle = the ECDF built with a RANGE window frame in DuckDB SQL,
    round(6)."""
    from pipeline_dataengineer_spark.operators.stats_tests import ks_test

    o = table(spark, sf_dir, "orders")
    out = ks_test(o, "o_orderpriority", "o_totalprice", "1-URGENT", "5-LOW")
    return out.select(
        F.round("ks_stat", 6).alias("ks_stat"), "n_a", "n_b"
    )


@query("q_kaplan_meier")
def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curves (operators/survival.py:
    kaplan_meier) per market segment, with Lehmer-derived durations
    (0-39) and an ~80% event / 20% censor mix. One subject-table
    pass; everything after is per-(segment, distinct-time) cells.
    Oracle = the full estimator replayed in DuckDB SQL windows
    (at-risk via descending cumulative, product via exp-sum-ln with
    the same zero-factor guard), hash-checked after round(6)."""
    from pipeline_dataengineer_spark.operators.sampling import portable_bucket
    from pipeline_dataengineer_spark.operators.survival import kaplan_meier

    c = table(spark, sf_dir, "customer").select("c_mktsegment", "c_custkey")
    subjects = c.select(
        "c_mktsegment",
        portable_bucket(F.col("c_custkey"), 40).alias("duration"),
        (portable_bucket(F.col("c_custkey") + 3, 10) < 8)
        .cast("int")
        .alias("event"),
    )
    out = kaplan_meier(subjects, ["c_mktsegment"], "duration", "event")
    return out.select(
        "c_mktsegment",
        F.col("duration").cast("long").alias("duration"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_event").cast("long").alias("n_event"),
        F.round("survival", 6).alias("survival"),
    )


@query("q_rfm")
def q_rfm(spark, sf_dir):
    """RFM customer segmentation: recency/frequency/monetary per
    customer (one combinable aggregate over orders), quintile scores
    via ntile windows over the customer-sized aggregate (never over
    the fact table), and the composite segment code. A standard
    customer-analytics mart shape; oracle = identical SQL."""
    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").cast("long").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    w_r = Window.orderBy(F.col("last_order").asc(), F.col("o_custkey"))
    w_f = Window.orderBy(F.col("frequency").asc(), F.col("o_custkey"))
    w_m = Window.orderBy(F.col("monetary").asc(), F.col("o_custkey"))
    scored = (
        rfm.withColumn("r_score", F.ntile(5).over(w_r).cast("long"))
        .withColumn("f_score", F.ntile(5).over(w_f).cast("long"))
        .withColumn("m_score", F.ntile(5).over(w_m).cast("long"))
    )
    return scored.select(
        "o_custkey",
        "last_order",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws(
            "-", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("segment"),
    )


@query("q_cuped")
def q_cuped(spark, sf_dir):
    """CUPED covariate adjustment (operators/stats_tests.py:
    cuped_adjust): order totalprice adjusted by the customer's
    account balance as the pre-period covariate, theta per order
    priority from ONE combinable aggregate broadcast back — facts
    never shuffle. Oracle replays the identical moment arithmetic in
    SQL, hash-checked after round(2)."""
    from pipeline_dataengineer_spark.operators.stats_tests import cuped_adjust

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    joined = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "c_acctbal"
    )
    out = cuped_adjust(joined, "o_totalprice", "c_acctbal", "o_orderpriority")
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice_cuped", 2).alias("adjusted"),
    )


@query("q_quantile_normalize")
def q_quantile_normalize(spark, sf_dir):
    """Quantile normalization (operators/scaling.py:
    quantile_normalize): per-priority order totals mapped onto the
    global totalprice distribution via a 101-point exact quantile
    grid (broadcast) + percent_rank. Oracle replays the identical
    grid/rank/index arithmetic with DuckDB quantile_cont — same
    interpolation definition — hash-checked after round(2)."""
    from pipeline_dataengineer_spark.operators.scaling import (
        quantile_normalize,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    out = quantile_normalize(
        o, ["o_orderpriority"], "o_totalprice", grid=101
    )
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice_qnorm", 2).alias("qnorm"),
    )


@query("q_pareto_share")
def q_pareto_share(spark, sf_dir):
    """Pareto / cumulative-contribution analysis: customers ranked by
    revenue, running share of total, and the top-80% contributor flag
    (the '80/20' curve every revenue dashboard draws). One combinable
    aggregate to customer grain, then windows over the aggregate —
    never over the fact table. Oracle = identical SQL."""
    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_custkey"))
    wt = Window.partitionBy()
    out = rev.select(
        "o_custkey",
        "revenue",
        F.row_number().over(w).cast("long").alias("rank"),
        F.round(
            F.sum("revenue").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            / F.sum("revenue").over(wt),
            6,
        ).alias("cum_share"),
    )
    return out.withColumn("is_top80", F.col("cum_share") <= 0.8)


@query("q_label_propagation")
def q_label_propagation(spark, sf_dir):
    """Label-propagation communities (operators/graph.py:
    label_propagation) over doc-id 6-blocks shaped as two triangles
    joined by one bridge edge — LPA must keep each triangle its own
    community while connected components would merge them (that
    contrast is pytest-proven; q_connected_components covers the CC
    side). HASH-CHECKED despite being iterative: the deterministic
    (count desc, label asc) tie-break makes every round pure integer
    arithmetic, so the oracle unrolls the 4 synchronous rounds as
    chained SQL CTEs and must agree exactly (early convergence is
    safe — a fixpoint stays fixed under extra rounds)."""
    from pipeline_dataengineer_spark.operators.graph import label_propagation

    d = table(spark, sf_dir, "documents").select("doc_id")
    base = F.floor(F.col("doc_id") / 6) * 6
    off = F.pmod("doc_id", F.lit(6))
    # triangle edges within each half-block + one bridge per block
    e1 = d.select(
        F.col("doc_id").alias("src"),
        (base + F.pmod(off + 1, F.lit(3)) + F.when(off >= 3, 3).otherwise(0)).alias("dst"),
    )
    bridge = d.filter(off == 2).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    mx = d.agg(F.max("doc_id")).collect()[0][0]
    edges = e1.union(bridge).filter(
        (F.col("dst") <= mx) & (F.col("src") <= mx)
    )
    out = label_propagation(edges, max_iterations=4)
    return out.select("node", "label")


@query("q_skew_report")
def q_skew_report(spark, sf_dir):
    """Shuffle-skew pre-flight report (operators/profiling.py:
    skew_report) for lineitem's supplier key: the 10 heaviest
    suppliers with row shares and the key-space summary that decides
    plain-shuffle vs broadcast vs salt. Oracle = identical SQL over
    the frequency table (quantiles are exact there: DuckDB's
    quantile_disc == percentile_approx at the key-table scale where
    the sketch is exact)."""
    from pipeline_dataengineer_spark.operators.profiling import skew_report

    li = table(spark, sf_dir, "lineitem").select("l_suppkey")
    out = skew_report(li, ["l_suppkey"], top=10)
    return out.select(
        "l_suppkey",
        F.col("key_rows").cast("long").alias("key_rows"),
        "row_share",
        F.col("total_rows").cast("long").alias("total_rows"),
        F.col("distinct_keys").cast("long").alias("distinct_keys"),
        "max_share",
        "p99_med_ratio",
        F.col("suggested_salt").cast("long").alias("suggested_salt"),
    )


@query("q_random_projection")
def q_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss projection (functions/vectors.py:
    random_projection): embeddings 64 -> 8 dims through the
    deterministic Lehmer ±1 sign matrix, entirely in whole-stage
    codegen (zip_with multiply + left-fold sum per output coord; no
    Python, no shuffle — a narrow projection riding the scan). The
    oracle replays the IDENTICAL sign matrix and left-associative
    sum chain in DuckDB, hash-checked per (vec, dim) after
    round(6)."""
    from pipeline_dataengineer_spark.functions.vectors import (
        random_projection,
    )

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = e.select(
        "vec_id",
        random_projection("embedding", in_dim=64, out_dim=8).alias("p"),
    )
    return proj.select(
        "vec_id", F.posexplode("p").alias("dim", "val")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.round("val", 6).alias("val"),
    )


@query("q_interpolate")
def q_interpolate(spark, sf_dir):
    """Linear gap interpolation (operators/timeseries.py:
    interpolate_linear): per-priority daily revenue with every 3rd
    observation masked NULL, then rebuilt by interpolating between
    the surviving neighbors. Two IGNORE-NULLS windows per direction,
    one shuffle. Oracle replays the identical window arithmetic,
    round(3)."""
    from pipeline_dataengineer_spark.operators.timeseries import (
        interpolate_linear,
    )

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderdate")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("v"))
        .withColumn("t", F.unix_date(F.col("o_orderdate").cast("date")).cast("long"))
    )
    masked = daily.withColumn(
        "v", F.when(F.pmod("t", F.lit(3)) != 0, F.col("v"))
    )
    out = interpolate_linear(
        masked, ["o_orderpriority"], "t", "v", out_col="v_filled"
    )
    return out.select(
        "o_orderpriority",
        "o_orderdate",
        F.round("v", 3).alias("v"),
        F.round("v_filled", 3).alias("v_filled"),
    )


@query("q_debounce")
def q_debounce(spark, sf_dir):
    """Event debouncing (operators/events.py:debounce): per (user,
    event type), drop events arriving within 3 ids of their
    predecessor. Lag window, one shuffle. Oracle = identical lag
    formulation in SQL."""
    from pipeline_dataengineer_spark.operators.events import debounce

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id"
    )
    out = debounce(ev, ["user_id", "event_type"], "event_id", tolerance=3.0)
    return out.select("user_id", "event_type", "event_id")


@query("q_hits")
def q_hits(spark, sf_dir):
    """HITS hubs/authorities (operators/graph.py:hits) over the
    doc-id binary-tree graph (children point at parents, plus a
    doc%5 chord so hub/authority sets genuinely differ). 8 rounds,
    L1-normalized — HASH-CHECKED like q_pagerank: the oracle unrolls
    every round (sum-join, zero-guarded normalizer, identical
    operation order) and round(6) absorbs ulp-order float
    differences."""
    from pipeline_dataengineer_spark.operators.graph import hits

    d = table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") >= 2
    )
    tree = d.select(
        F.col("doc_id").alias("src"),
        F.floor(F.col("doc_id") / 2).cast("long").alias("dst"),
    )
    chord = d.filter(F.pmod("doc_id", F.lit(5)) == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 2).alias("dst")
    )
    out = hits(tree.union(chord), max_iterations=8)
    return out.select(
        "node",
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


@query("q_negative_samples")
def q_negative_samples(spark, sf_dir):
    """Deterministic negative sampling (operators/recommender.py:
    negative_samples): 4 never-purchased parts per customer, drawn by
    Lehmer buckets from the dense part-catalog index, true purchases
    removed with one anti-join. All-integer arithmetic — the oracle
    replays draws, dedup, and ranking exactly in SQL."""
    from pipeline_dataengineer_spark.operators.recommender import (
        negative_samples,
    )

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inter = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
    )
    items = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("item_id")
    )
    out = negative_samples(inter, items, k=4, oversample=3, seed=17)
    return out.select(
        "user_id",
        "item_id",
        F.col("neg_rank").cast("long").alias("neg_rank"),
    )


@query("q_xcorr")
def q_xcorr(spark, sf_dir):
    """Lead/lag cross-correlation (operators/timeseries.py:
    cross_correlation): per priority, corr between daily revenue and
    daily order count at lags -3..3 — ONE window sort materializes
    all shifted copies, then a combinable corr per (key, lag).
    Oracle replays each lag leg with SQL lead/lag + corr, round(4)."""
    from pipeline_dataengineer_spark.operators.timeseries import (
        cross_correlation,
    )

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderdate")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
            F.count(F.lit(1)).cast("double").alias("cnt"),
        )
    )
    out = cross_correlation(
        daily, ["o_orderpriority"], "o_orderdate", "rev", "cnt", max_lag=3
    )
    return out.select(
        "o_orderpriority",
        F.col("lag").cast("long").alias("lag"),
        F.round("xcorr", 4).alias("xcorr"),
        F.col("n").cast("long").alias("n"),
    )


@query("q_benford")
def q_benford(spark, sf_dir):
    """Benford's-law first-digit screen (operators/quality.py:
    benford_test) over order totals: one combinable digit groupBy,
    9-rows-per-group algebra after. Oracle replays the identical
    digit extraction and chi2 arithmetic, round(6)."""
    from pipeline_dataengineer_spark.operators.quality import benford_test

    o = table(spark, sf_dir, "orders")
    out = benford_test(o, "o_totalprice")
    return out.select(
        F.col("digit").cast("long").alias("digit"),
        F.col("n_obs").cast("long").alias("n_obs"),
        F.round("freq_obs", 6).alias("freq_obs"),
        F.round("freq_expected", 6).alias("freq_expected"),
        F.round("chi2_term", 6).alias("chi2_term"),
    )


@query("q_missing_dates")
def q_missing_dates(spark, sf_dir):
    """Backfill gap detection (operators/maintenance.py:
    missing_partitions): days with no orders per priority, inside
    each priority's own [first, last] order-day range. Spine anti
    observed — both dimension-sized. Oracle = DuckDB generate_series
    spine with NOT EXISTS, a different formulation of the same set."""
    from pipeline_dataengineer_spark.operators.maintenance import (
        missing_partitions,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_orderdate").cast("date").alias("d")
    )
    out = missing_partitions(o, "d", ["o_orderpriority"])
    return out.select("o_orderpriority", "d")


@query("q_weighted_median")
def q_weighted_median(spark, sf_dir):
    """Weighted median (operators/robust.py:weighted_quantile): per
    order priority, the totalprice below which half the QUANTITY-
    weighted mass sits (orders weighted by their lineitem count).
    Left-continuous inverse CDF — always an observed value, so the
    oracle replay is exact; ties in totalprice are absorbed by the
    cumulative frame before the threshold test."""
    from pipeline_dataengineer_spark.operators.robust import (
        weighted_quantile,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    li = table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count("*").cast("double").alias("w")
    )
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderpriority", "o_totalprice", "w"
    )
    out = weighted_quantile(
        j, "o_totalprice", "w", q=0.5, group_cols=["o_orderpriority"]
    )
    return out.select(
        "o_orderpriority", F.round("wq_0_5", 2).alias("wq_0_5")
    )


@query("q_concentration")
def q_concentration(spark, sf_dir):
    """Concentration metrics (operators/profiling.py:
    concentration_metrics): per order priority, the Gini / HHI /
    top-1 share of customer revenue. Facts collapse to customer
    totals once; all metrics run on the entity-sized table. Oracle
    replays the identical sorted-rank Gini identity and share
    algebra, round(6)."""
    from pipeline_dataengineer_spark.operators.profiling import (
        concentration_metrics,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey", "o_totalprice"
    )
    out = concentration_metrics(
        o, "o_totalprice", ["o_custkey"], ["o_orderpriority"]
    )
    return out.select(
        "o_orderpriority",
        F.col("n_entities").cast("long").alias("n_entities"),
        F.round("gini", 6).alias("gini"),
        F.round("hhi", 6).alias("hhi"),
        F.round("top1_share", 6).alias("top1_share"),
    )


@query("q_label_centroids")
def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroids (the class-prototype aggregate
    behind SemDeDup cluster stats and nearest-class-mean
    classifiers): posexplode to (label, dim, value) and ONE
    combinable avg — n*d skinny rows shuffle as (label, dim) partial
    aggregates, never whole vectors. Oracle = DuckDB unnest replay,
    round(6)."""
    e = table(spark, sf_dir, "embeddings").select("label", "embedding")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg("v"), 6).alias("centroid"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select("label", F.col("dim").cast("long").alias("dim"), "centroid", "n")
    )


@query("q_contact_normalize")
def q_contact_normalize(spark, sf_dir):
    """Contact-identity canonicalization (functions/pii.py:
    normalize_email/normalize_phone): emails synthesized from
    customer names (with +tags, stray case, gmail dots) and phones
    from c_phone, normalized for identity joins. Fused codegen regex
    chains; oracle replays identical RE2-portable arithmetic."""
    from pipeline_dataengineer_spark.functions.pii import (
        normalize_email,
        normalize_phone,
    )

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # synthesized emails exercise the branches deterministically:
    # key%3==0 -> Gmail with dots+tag, %3==1 -> mixed-case corp,
    # %3==2 -> malformed (no @)
    email_raw = (
        F.when(
            F.pmod("c_custkey", F.lit(3)) == 0,
            F.concat(
                F.regexp_replace(F.col("c_name"), "[^A-Za-z0-9]", "."),
                F.lit("+promo@GMAIL.com"),
            ),
        )
        .when(
            F.pmod("c_custkey", F.lit(3)) == 1,
            F.concat(
                F.upper(F.regexp_replace(F.col("c_name"), "[^A-Za-z0-9]", "")),
                F.lit("@Example.COM"),
            ),
        )
        .otherwise(F.regexp_replace(F.col("c_name"), "[^A-Za-z0-9]", ""))
    )
    # phones synthesized too (no phone column in the fixture):
    # key%7==0 -> too-short fragment (must normalize to NULL),
    # else a formatted US-style number built from the key
    phone_raw = F.when(
        F.pmod("c_custkey", F.lit(7)) == 0, F.lit("555-12")
    ).otherwise(
        F.concat(
            F.lit("(212) 555-"),
            F.lpad(F.pmod("c_custkey", F.lit(10000)).cast("string"), 6, "0"),
        )
    )
    return c.select(
        "c_custkey",
        normalize_email(email_raw).alias("email"),
        normalize_phone(phone_raw).alias("phone"),
    )


@query("q_profile_hist")
def q_profile_hist(spark, sf_dir):
    """Equi-width histogram (operators/profiling.py:histogram):
    20 bins of order totalprice per priority with explicit bounds
    (so the single-pass pre-scan is skipped), edge clamping
    exercised by bounds tighter than the data range. Pure codegen
    binning + ONE combinable count; oracle replays the identical
    floor/clamp arithmetic."""
    from pipeline_dataengineer_spark.operators.profiling import histogram

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    out = histogram(
        o,
        "o_totalprice",
        bins=20,
        lo=10_000.0,
        hi=300_000.0,
        group_cols=["o_orderpriority"],
    )
    return out.select(
        "o_orderpriority",
        F.col("bin").cast("long").alias("bin"),
        F.round("bin_lo", 2).alias("bin_lo"),
        F.round("bin_hi", 2).alias("bin_hi"),
        F.col("n").cast("long").alias("n"),
    )


@query("q_cusum")
def q_cusum(spark, sf_dir):
    """CUSUM mean-shift detection (operators/timeseries.py:
    cusum_changepoints) on per-priority daily revenue (exact integer
    cents) with a planted +50k level shift from Sept 1996 — the
    detector must flag it.
    Standardization stats are rounded(6) before the recursion so the
    clamped accumulators are bit-identical cross-engine; the oracle
    replays BOTH one-sided recursions as recursive CTEs (the
    q_clamped_balance pattern) and the flags exactly."""
    from pipeline_dataengineer_spark.operators.timeseries import (
        cusum_changepoints,
    )

    # integer-exact series: per-row cent rounding BEFORE the sum makes
    # the daily value an exact BIGINT (order-independent), and the
    # planted level shift is additive (+50k) so it stays integer —
    # no float-sum ulp can reach the recursion
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderdate")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "v0"
            )
        )
        .withColumn(
            "v",
            F.when(
                F.col("o_orderdate") >= F.lit("1996-09-01").cast("date"),
                F.col("v0") + F.lit(5_000_000),
            ).otherwise(F.col("v0")),
        )
        .withColumn("t", F.unix_date(F.col("o_orderdate").cast("date")).cast("long"))
    )
    out = cusum_changepoints(
        daily, ["o_orderpriority"], "t", "v", slack=0.5, threshold=5.0
    )
    # NOTE round(6), matching the z grid: the accumulator lives on a
    # 1e-6 lattice (rounded z minus the rational slack), so a coarser
    # rounding grain would sit exactly ON half-way ties for ~1% of
    # rows and flip engines' tie behavior; at the grid's own grain
    # there are no ties to disagree on
    return out.select(
        "o_orderpriority",
        "o_orderdate",
        F.round("cusum_pos", 6).alias("cusum_pos"),
        F.round("cusum_neg", 6).alias("cusum_neg"),
        "is_change",
    )


@query("q_bm25")
def q_bm25(spark, sf_dir):
    """Okapi BM25 retrieval scoring (operators/text_features.py:
    bm25_rank): broadcast query vocabulary filters the corpus before
    any aggregate; doc length / avgdl / per-term df are all combinable
    aggregates; idf uses the Lucene ln(1 + (N-df+0.5)/(df+0.5))
    form. The lexical-retrieval complement of q_tfidf."""
    from pipeline_dataengineer_spark.operators.text_features import bm25_rank

    return bm25_rank(
        table(spark, sf_dir, "documents"),
        ["spark", "join", "window"],
        k1=1.2,
        b=0.75,
    )


@query("q_rrf_fusion")
def q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of a BM25 lexical
    top-100 and an embedding-cosine top-100 over the same doc ids
    (operators/similarity.py:rrf_fuse). Both input scores are rounded
    before ranking so the rank orders are engine-portable; the fusion
    is one combinable aggregate on doc_id."""
    from pipeline_dataengineer_spark.operators.similarity import rrf_fuse
    from pipeline_dataengineer_spark.operators.text_features import bm25_rank

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    lex = (
        bm25_rank(docs, ["spark", "join", "window"])
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(100)
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sem = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_similarity("embedding", "qv"), 4).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(100)
    )
    return rrf_fuse([lex, sem], "doc_id", k=60)


@query("q_shuffle_index")
def q_shuffle_index(spark, sf_dir):
    """Deterministic corpus shuffle (operators/order.py:
    deterministic_shuffle): every doc's position in the Lehmer-hash
    permutation, computed by order.global_row_index. Hash-checking
    (doc_id, pos) pairs verifies the total-order machinery against a
    plain row_number replay; the plan audit pins the two-phase plan
    under the scale regime."""
    from pipeline_dataengineer_spark.operators.order import deterministic_shuffle

    d = table(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(d, "doc_id").select("doc_id", "shuffle_pos")


@query("q_time_weighted_avg")
def q_time_weighted_avg(spark, sf_dir):
    """Duration-weighted monthly average over validity intervals
    (operators/timeseries.py:time_weighted_avg): intervals explode to
    covered months (bounded factor), one combinable aggregate — no
    window, no join. Intervals synthesized deterministically from
    orders: [o_orderdate, o_orderdate + 1 + o_orderkey % 45 days)."""
    from pipeline_dataengineer_spark.operators.timeseries import (
        time_weighted_avg,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("start_d"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.lit(1) + F.col("o_orderkey") % 45).cast("int"),
        ).alias("end_d"),
        "o_totalprice",
    )
    return time_weighted_avg(
        o, ["o_orderpriority"], "start_d", "end_d", "o_totalprice"
    )


@query("q_bitmap_distinct")
def q_bitmap_distinct(spark, sf_dir):
    """Exact COUNT(DISTINCT) via mergeable bitmap states
    (functions/sketches.py:bitmap_states): per-bucket bitmaps OR-merge
    like sketches but losslessly, so the whole bitmap machinery is
    hash-checkable against a plain count(DISTINCT) — the
    materialized-view-maintenance shape for exact distinct counts."""
    from pipeline_dataengineer_spark.functions.sketches import (
        bitmap_distinct,
        bitmap_states,
    )

    o = table(spark, sf_dir, "orders")
    st = bitmap_states(o, ["o_orderpriority"], "o_custkey")
    return bitmap_distinct(st, ["o_orderpriority"])


@query("q_percentile_disc")
def q_percentile_disc(spark, sf_dir):
    """Discrete (inverse-distribution) percentiles: smallest element
    with cume_dist >= p — returns actual data values, so cross-engine
    equality is EXACT, no rounding (both engines implement the same
    SQL-standard rule; verified on odd/even group sizes)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("p25"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("p50"),
        F.expr(
            "percentile_disc(0.95) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("p95"),
        F.count("*").alias("cnt"),
    )


@query("q_session_dynamic_gap")
def q_session_dynamic_gap(spark, sf_dir):
    """Spark's REAL session_window with a per-row DYNAMIC gap (600 +
    event_id%3*300 s — e.g. different idle allowances per event
    class), batch mode. Hash-checks the built-in session-merge
    machinery (inclusive-boundary interval merging, end = max event
    end) against an independent running-max SQL replay."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.date_trunc("second", "ts").alias("t"),
    )
    gap_s = (F.lit(600) + (F.col("event_id") % 3) * 300).cast("string")
    out = ev.groupBy(
        "user_id",
        F.session_window("t", F.concat(gap_s, F.lit(" seconds"))),
    ).agg(F.count("*").alias("n_events"))
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


@query("q_sentence_chunks")
def q_sentence_chunks(spark, sf_dir):
    """Sentence-aware retrieval chunking (operators/corpus.py:
    sentence_chunks) — chunk_text hash-checked end-to-end. The
    synthetic docs carry no punctuation, so a deterministic regex
    injects a period after every 5th word first; the oracle replays
    the same injection, segmentation, cumsum budget rule, and ordered
    reassembly in SQL."""
    from pipeline_dataengineer_spark.operators.corpus import sentence_chunks

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.col("text"), r"(\w+ \w+ \w+ \w+ \w+) ", "$1. "
        ).alias("text"),
    )
    return sentence_chunks(d, "doc_id", "text", max_chars=120)


@query("q_gopher_filter")
def q_gopher_filter(spark, sf_dir):
    """Gopher-rules pretraining quality gate (functions/textstats.py:
    gopher_rules): the standard document filter (word count, mean
    word length, symbol ratio, alpha-word fraction, stopword
    presence) as one codegen'd struct riding the scan. Thresholds
    tuned so the synthetic docs split pass/fail."""
    from pipeline_dataengineer_spark.functions.textstats import gopher_rules

    d = table(spark, sf_dir, "documents")
    g = gopher_rules(
        F.col("text"),
        min_words=50,
        max_words=100_000,
        min_mean_word_len=3.0,
        max_mean_word_len=10.0,
        max_symbol_word_ratio=0.1,
        min_alpha_word_frac=0.8,
        stopwords=("the", "a"),
        min_stopword_hits=2,
    )
    return d.select("doc_id", g.alias("g")).select("doc_id", "g.*")


@query("q_int8_quantize")
def q_int8_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embeddings table
    (operators/pq.py:int8_quantize): per-dim [min,max] from a
    combinable stats pass, encode as a pure transform — codes are
    integer-exact, so the whole compression machinery hash-checks."""
    from pipeline_dataengineer_spark.operators.pq import int8_quantize

    e = table(spark, sf_dir, "embeddings")
    return int8_quantize(e).select("vec_id", "codes")


@query("q_grouping_id_filter")
def q_grouping_id_filter(spark, sf_dir):
    """SQL-surface parity: GROUPING()/GROUPING_ID() flags
    disambiguating rollup NULLs from data NULLs, plus the standard
    FILTER (WHERE ...) aggregate clause — both supported identically
    by Spark and DuckDB."""
    from pipeline_dataengineer_spark.sql import sql as engine_sql

    return engine_sql(
        spark,
        """
        SELECT n_name, o_orderpriority,
               grouping(n_name) AS g_nation,
               grouping_id(n_name, o_orderpriority) AS gid,
               count(*) AS cnt,
               count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
               round(sum(o_totalprice) FILTER (WHERE o_orderdate >= DATE '1996-01-01'), 2) AS recent_rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP(n_name, o_orderpriority)
        """,
        sf_dir,
    )


@query("q_rag_chunks")
def q_rag_chunks(spark, sf_dir):
    """END-TO-END RAG ingestion (pipelines/rag_ingest.py:
    build_rag_chunks): gopher gate → exact dedup (min-id canonical
    per normalized text) → sentence chunking, the whole composition
    hash-checked (chunk_key excluded — xxhash64 has no DuckDB
    equivalent; the oracle dedups on the normalized text itself,
    identical short of hash collisions). Periods injected as in
    q_sentence_chunks so the synthetic docs have sentences."""
    from pipeline_dataengineer_spark.pipelines.rag_ingest import (
        build_rag_chunks,
    )

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.col("text"), r"(\w+ \w+ \w+ \w+ \w+) ", "$1. "
        ).alias("text"),
    )
    out = build_rag_chunks(
        d,
        max_chars=120,
        quality_kwargs={"min_words": 50, "stopwords": ("the", "a")},
    )
    return out.select(
        "doc_id", "chunk_id", "chunk_text", "n_sentences", "n_chars"
    )


@query("q_tpcds_q51_shape")
def q_tpcds_q51_shape(spark, sf_dir):
    """TPC-DS Q51 shape: two channels aggregated to (key, month),
    FULL OUTER joined, running cumulative per key on each side, keep
    months where one channel's cumulative overtakes the other. The
    composition TPC-H's 22 shapes lack: window-over-full-outer with
    null-tolerant cumulative (max of a running coalesce)."""
    from pipeline_dataengineer_spark.sql import sql as engine_sql

    return engine_sql(
        spark,
        """
        WITH a AS (
          SELECT o_orderpriority AS k, date_trunc('month', o_orderdate) AS m,
                 round(sum(o_totalprice), 2) AS rev
          FROM orders GROUP BY 1, 2),
        b AS (
          SELECT o.o_orderpriority AS k, date_trunc('month', l.l_shipdate) AS m,
                 round(sum(l.l_extendedprice), 2) AS rev
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          GROUP BY 1, 2),
        j AS (
          SELECT coalesce(a.k, b.k) AS k, coalesce(a.m, b.m) AS m,
                 a.rev AS arev, b.rev AS brev
          FROM a FULL OUTER JOIN b ON a.k = b.k AND a.m = b.m),
        c AS (
          SELECT k, CAST(m AS DATE) AS m,
                 round(sum(coalesce(arev, 0)) OVER (
                   PARTITION BY k ORDER BY m
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_a,
                 round(sum(coalesce(brev, 0)) OVER (
                   PARTITION BY k ORDER BY m
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_b
          FROM j)
        SELECT k, m, cum_a, cum_b FROM c WHERE cum_a > cum_b
        """,
        sf_dir,
    )


@query("q_tpcds_q38_shape")
def q_tpcds_q38_shape(spark, sf_dir):
    """TPC-DS Q38 shape: INTERSECT of entity sets across three
    'channels' (order years), then count — set semantics inside a
    subquery, deduplicating before the final aggregate."""
    from pipeline_dataengineer_spark.sql import sql as engine_sql

    return engine_sql(
        spark,
        """
        SELECT count(*) AS hot_customers FROM (
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1993
          INTERSECT
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1994
          INTERSECT
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        )
        """,
        sf_dir,
    )


@query("q_inner_repetition")
def q_inner_repetition(spark, sf_dir):
    """Within-document repetition removal (operators/corpus.py:
    dedupe_repeated_segments): repetition manufactured by doubling
    each document's text — the operator must collapse the copy back
    out. clean_text hash-checked end-to-end."""
    from pipeline_dataengineer_spark.operators.corpus import (
        dedupe_repeated_segments,
    )

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.concat_ws(" ", "text", "text").alias("text")
    )
    return dedupe_repeated_segments(d, words_per_segment=7)


@query("q_global_quantiles")
def q_global_quantiles(spark, sf_dir):
    """Exact table-wide discrete quantiles without a single-task sort
    of a large table (operators/robust.py:global_exact_quantiles —
    global total order, rank positions plucked). Values are
    observed elements, so equality is exact, no rounding."""
    from pipeline_dataengineer_spark.operators.robust import (
        global_exact_quantiles,
    )

    li = table(spark, sf_dir, "lineitem")
    return global_exact_quantiles(li, "l_extendedprice", [0.01, 0.25, 0.5, 0.75, 0.99])


@query("q_psi_drift")
def q_psi_drift(spark, sf_dir):
    """PSI drift score (operators/stats_tests.py:psi_drift): reference
    = 1995-97 order totals, current = 1998+ (manufactured shift via
    +10% on the later population). Equal-frequency reference bins
    broadcast into both sides; per-bin terms hash-checked."""
    from pipeline_dataengineer_spark.operators.stats_tests import psi_drift

    o = table(spark, sf_dir, "orders")
    ref = o.filter(F.year("o_orderdate") <= 1997).select("o_totalprice")
    cur = o.filter(F.year("o_orderdate") >= 1998).select(
        (F.col("o_totalprice") * 1.1).alias("o_totalprice")
    )
    return psi_drift(ref, cur, "o_totalprice", n_bins=10)


@query("q_phrase_search")
def q_phrase_search(spark, sf_dir):
    """Exact phrase matching over the positional inverted index
    (operators/text_features.py:positional_index/phrase_search):
    docs where 'table value' occurs consecutively, with match count
    and first position — the index slice is phrase-vocabulary-sized
    before anything groups."""
    from pipeline_dataengineer_spark.operators.text_features import (
        phrase_search,
        positional_index,
    )

    idx = positional_index(table(spark, sf_dir, "documents"))
    return phrase_search(idx, ["table", "value"])


@query("q_interval_join_anti")
def q_interval_join_anti(spark, sf_dir):
    """Stream-stream interval ANTI join, batch parity
    (streaming/joins.py:stream_stream_interval_anti_join — left_outer
    + null filter, the standard derivation since Structured Streaming
    has no native stream-stream anti): purchases with no same-user
    event in the following hour."""
    from pipeline_dataengineer_spark.streaming.joins import (
        stream_stream_interval_anti_join,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("second", "ts").alias("ts"),
        "event_id",
        "event_type",
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("lts"), F.col("event_id").alias("lid")
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("rts"), F.col("event_id").alias("rid")
    )
    out = stream_stream_interval_anti_join(
        left, right, "user_id", "lts", "rts",
        lower="0 seconds", upper="1 hour",
    )
    return out.select("user_id", "lts", "lid")


@query("q_training_matrix")
def q_training_matrix(spark, sf_dir):
    """Point-in-time training matrix (operators/feature_store.py):
    spine = purchases, two feature tables derived from other event
    types, each attached by a backward as-of join on user — no future
    leakage. Oracle replays each feature as a correlated latest-at-
    or-before lookup with the same (ts, value) tie-break."""
    from pipeline_dataengineer_spark.operators.feature_store import (
        FeatureTable,
        build_training_matrix,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("second", "ts").alias("ts"),
        "event_type",
        F.round("value", 4).alias("value"),
    )
    spine = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("as_of")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = build_training_matrix(
        spine,
        "user_id",
        "as_of",
        [
            FeatureTable(clicks, "user_id", "ts", ["value"], prefix="clk_"),
            FeatureTable(views, "user_id", "ts", ["value"], prefix="vw_"),
        ],
    )
    return out.select("user_id", "as_of", "clk_value", "vw_value")


@query("q_position_attr")
def q_position_attr(spark, sf_dir):
    """U-shaped position-based attribution (operators/attribution.py:
    position_attribution): 40/20/40 credit over each converted
    journey's touches. Order key = epoch-seconds*1e6 + event_id so
    journey framing is total and engine-identical."""
    from pipeline_dataengineer_spark.operators.attribution import (
        position_attribution,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        (
            F.unix_timestamp(F.date_trunc("second", "ts")) * 1_000_000
            + F.col("event_id") % 1_000_000
        ).alias("ord"),
        "event_type",
    )
    return position_attribution(
        ev, ["user_id"], "ord", "event_type",
        F.col("event_type") == "purchase",
    )


@query("q_time_decay_attr")
def q_time_decay_attr(spark, sf_dir):
    """Time-decay attribution (operators/attribution.py:
    time_decay_attribution): touch weight 0.5^(dt/half_life),
    journey-normalized. The tick unit is the same composite order key
    (epoch-seconds*1e6 + event_id) so dt is integer-exact in both
    engines; half-life = 7 days of ticks."""
    from pipeline_dataengineer_spark.operators.attribution import (
        time_decay_attribution,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        (
            F.unix_timestamp(F.date_trunc("second", "ts")) * 1_000_000
            + F.col("event_id") % 1_000_000
        ).alias("ord"),
        "event_type",
    )
    return time_decay_attribution(
        ev, ["user_id"], "ord", "event_type",
        F.col("event_type") == "purchase",
        half_life_seconds=7 * 86_400.0 * 1_000_000,
    )


@query("q_mahalanobis")
def q_mahalanobis(spark, sf_dir):
    """Mahalanobis outlier scoring (operators/decomposition.py:
    mahalanobis_outliers) on the first two embedding dims — at d=2
    the oracle inverts the (ridged) covariance in closed form, so the
    whole one-pass-moments + driver-inverse + Arrow-scoring machinery
    is hash-checked end-to-end."""
    from pipeline_dataengineer_spark.operators.decomposition import (
        mahalanobis_outliers,
    )

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("slice(transform(embedding, x -> cast(x as double)), 1, 2)").alias(
            "embedding"
        ),
    )
    return mahalanobis_outliers(e, "embedding", id_cols=["vec_id"])


@query("q_rolling_distinct")
def q_rolling_distinct(spark, sf_dir):
    """Trailing 7-day distinct active users per day
    (operators/events.py:rolling_distinct — contribution explode,
    since COUNT DISTINCT cannot ride a window frame and per-day set
    buffering is the memory bomb). Exact, hash-checked."""
    from pipeline_dataengineer_spark.operators.events import rolling_distinct

    ev = table(spark, sf_dir, "events")
    return rolling_distinct(ev, "ts", "user_id", window_days=7)


@query("q_feature_hashing")
def q_feature_hashing(spark, sf_dir):
    """Signed feature-hashing document vectors
    (operators/text_features.py:hashed_doc_vectors), ORACLED round 8
    (rows-only before — DuckDB has no xxhash64): the portable
    tokenizer's term count hash-checks exactly, and the signed trick
    has a closed-form invariant per doc — every term contributes ±1
    to exactly one bucket, so the vector's L1 norm is ≤ n_terms with
    the SAME PARITY (each in-bucket cancellation removes exactly 2).
    A wrong bucket spill, dropped term, or non-±1 contribution breaks
    the parity or the bound. Dense shape pinned at dim=32."""
    from pipeline_dataengineer_spark.operators.text_features import (
        hashed_doc_vectors,
    )

    d = table(spark, sf_dir, "documents")
    v = hashed_doc_vectors(d, dim=32)
    n_terms = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda t: t != ""
        )
    ).cast("long")
    l1 = F.aggregate(
        "vector", F.lit(0.0), lambda acc, x: acc + F.abs(x)
    ).cast("long")
    return (
        v.join(d.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            n_terms.alias("n_terms"),
            (F.size("vector") == 32).alias("dim_ok"),
            (
                (l1 <= n_terms)
                & (F.pmod(l1, F.lit(2)) == F.pmod(n_terms, F.lit(2)))
            ).alias("l1_parity_ok"),
        )
        .orderBy("doc_id")
    )


@query("q_ranking_metrics")
def q_ranking_metrics(spark, sf_dir):
    """Retrieval evaluation loop-closer (operators/ranking_eval.py):
    cosine top-10 per query vector scored against same-label ground
    truth — recall@10 and NDCG@10 per query, exact arithmetic,
    hash-checked. Queries = vec_id < 20; ranks deterministic via
    rounded score + id tie-break."""
    from pipeline_dataengineer_spark.operators.ranking_eval import (
        ranking_metrics,
    )

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine_similarity("embedding", "qv"), 4).alias("s"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("s").desc(), F.col("vec_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 10
    )
    truth = (
        e.crossJoin(F.broadcast(q.select("qid", "qlabel")))
        .filter(
            (F.col("vec_id") != F.col("qid"))
            & (F.col("label") == F.col("qlabel"))
        )
        .select("qid", "vec_id")
    )
    return ranking_metrics(ranked, truth, "qid", "vec_id", "rank", k=10)


@query("q_funnel_windowed")
def q_funnel_windowed(spark, sf_dir):
    """Conversion-window funnel (operators/events.py:funnel_windowed):
    view → click → purchase where each later step lands within 2 days
    of the entity's first view — single-shuffle conditional-aggregate
    shape, window test as a column expression."""
    from pipeline_dataengineer_spark.operators.events import funnel_windowed

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("sec"),
    )
    return funnel_windowed(
        ev, "user_id", "event_type", "sec",
        ["view", "click", "purchase"], max_span=2 * 86_400,
    )


@query("q_markov_attr")
def q_markov_attr(spark, sf_dir):
    """Markov removal-effect attribution (operators/attribution.py:
    markov_attribution). Fully hash-checked: the absorbing-chain
    solve is a driver-side numpy inversion, but the chain's state
    set is small and known (START + the four non-conversion event
    types), so the oracle replays x_START per removal variant via
    CRAMER'S RULE — generated Leibniz expansions over the pivoted
    transition-probability row (see oracles._markov_sql; LU-vs-
    Cramer drift ~1e-13, invisible at round 4)."""
    from pipeline_dataengineer_spark.operators.attribution import (
        markov_attribution,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        (
            F.unix_timestamp(F.date_trunc("second", "ts")) * 1_000_000
            + F.col("event_id") % 1_000_000
        ).alias("ord"),
        "event_type",
    )
    return markov_attribution(
        ev, ["user_id"], "ord", "event_type",
        F.col("event_type") == "purchase",
    )


@query("q_funnel_step_times")
def q_funnel_step_times(spark, sf_dir):
    """Funnel stall diagnostic (operators/events.py:funnel_step_times):
    per step transition, in-order reach count + exact median/p90 gap
    seconds — same conditional-aggregate frame as q_funnel."""
    from pipeline_dataengineer_spark.operators.events import funnel_step_times

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("sec"),
    )
    return funnel_step_times(
        ev, "user_id", "event_type", "sec", ["view", "click", "purchase"]
    )


@query("q_top_paths")
def q_top_paths(spark, sf_dir):
    """Top converting paths (operators/events.py:top_paths): ordered
    touch sequences of converted journeys, counted, deterministic
    top-20. Order key = composite integer (as q_position_attr)."""
    from pipeline_dataengineer_spark.operators.events import top_paths

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        (
            F.unix_timestamp(F.date_trunc("second", "ts")) * 1_000_000
            + F.col("event_id") % 1_000_000
        ).alias("ord"),
        "event_type",
    )
    return top_paths(
        ev, ["user_id"], "ord", "event_type",
        F.col("event_type") == "purchase", top_n=20,
    )


@query("q_forecast_metrics")
def q_forecast_metrics(spark, sf_dir):
    """Forecast evaluation (operators/timeseries.py:forecast_metrics):
    naive lag-1 forecast of daily order totals per priority, scored
    with MAE/RMSE/sMAPE/bias — one combinable aggregate per series."""
    from pipeline_dataengineer_spark.operators.timeseries import (
        forecast_metrics,
    )
    from pyspark.sql import Window

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderdate")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("actual"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
    scored = daily.withColumn("forecast", F.lag("actual").over(w))
    return forecast_metrics(
        scored, ["o_orderpriority"], "actual", "forecast"
    )


@query("q_containment")
def q_containment(spark, sf_dir):
    """Asymmetric containment near-dup (operators/dedup.py:
    containment_pairs): each doc's FIRST HALF is unioned in as a
    synthetic fragment (id + 1M) — fragments must be detected inside
    their full documents at high containment while the full docs
    score low toward their halves. Exact shingle-set kernel,
    hash-checked (xxhash64 is Spark-side only, but the oracle can
    group on the shingle STRING — identical sets, collision-free)."""
    from pipeline_dataengineer_spark.operators.dedup import containment_pairs

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    halves = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.substring("text", 1, 60).alias("text"),
    )
    corpus = d.unionByName(halves)
    # max_shingle_df: the operator's audited stopword-shingle cap IS
    # part of the contract — uncapped, the templated corpus's shared
    # shingles made the join quadratic at sf0.1 (2.75e9 co-occurrence
    # rows measured; the sweep stalled). Fragments keep >= 1
    # discriminative shingle at this cap, so the containment signal
    # survives (oracle replays the identical df filter).
    return containment_pairs(
        corpus, "doc_id", "text", shingle_n=5, min_containment=0.9,
        max_shingle_df=500,
    )


@query("q_nth_value")
def q_nth_value(spark, sf_dir):
    """Window surface completion: nth_value with frame-sensitive
    semantics (full-partition frame so the 3rd value is defined for
    every row), ignoring vs respecting order ties via deterministic
    tie-broken ordering."""
    from pipeline_dataengineer_spark.sql import sql as engine_sql

    return engine_sql(
        spark,
        """
        SELECT DISTINCT o_custkey,
               nth_value(o_totalprice, 3) OVER (
                 PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS third_biggest,
               count(*) OVER (PARTITION BY o_custkey) AS n_orders
        FROM orders
        """,
        sf_dir,
    )


@query("q_compression_ratio")
def q_compression_ratio(spark, sf_dir):
    """Deflate compression-ratio quality signal
    (operators/text_features.py:compression_ratio), ORACLED round 8
    (rows-only before): zlib has no SQL replay, so the exact raw
    byte size hash-checks (octet_length on the ASCII fixture) and
    the ratio ships as two closed-form properties per doc — the
    ratio lands in the sane deflate band for text, and DOUBLING the
    document compresses strictly better (the 32 KB deflate window
    sees the repeat; every fixture doc is < 1.2 KB), which is the
    discriminative behavior the signal exists for."""
    from pipeline_dataengineer_spark.operators.text_features import (
        compression_ratio,
    )

    d = table(spark, sf_dir, "documents")
    base = compression_ratio(d)
    doubled = compression_ratio(
        d.select(
            "doc_id",
            F.concat(F.col("text"), F.col("text")).alias("text"),
        )
    ).select(
        F.col("doc_id"), F.col("ratio").alias("ratio2x")
    )
    return (
        base.join(doubled, "doc_id")
        .select(
            "doc_id",
            "n_bytes",
            ((F.col("ratio") > 0.05) & (F.col("ratio") < 1.2)).alias(
                "ratio_in_band"
            ),
            (F.col("ratio2x") < F.col("ratio")).alias(
                "doubling_compresses"
            ),
        )
        .orderBy("doc_id")
    )


@query("q_association_rules")
def q_association_rules(spark, sf_dir):
    """Directed association rules (operators/graph.py:
    association_rules): support / confidence / lift over the
    co-occurrence pairs — dimension-sized item counts joined back,
    1-row basket total broadcast."""
    from pipeline_dataengineer_spark.operators.graph import association_rules

    li = table(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_count=3, max_basket_size=50
    )


@query("q_date_dimension")
def q_date_dimension(spark, sf_dir):
    """Warehouse calendar dimension (functions/dates.py:
    date_dimension): one sequence expression, every standard day
    attribute, hash-checked across an ISO-week year boundary (the
    classic off-by-one trap)."""
    from pipeline_dataengineer_spark.functions.dates import date_dimension

    return date_dimension(spark, "1995-12-01", "1996-03-15")


@query("q_hierarchy_share")
def q_hierarchy_share(spark, sf_dir):
    """Share-of-parent drilldown: nation revenue as a share of its
    region and of the grand total — window sums over the ALREADY
    AGGREGATED (dimension-sized) table, never a fact self-join."""
    from pipeline_dataengineer_spark.sql import sql as engine_sql

    return engine_sql(
        spark,
        """
        WITH agg AS (
          SELECT r.r_name, n.n_name, round(sum(o.o_totalprice), 2) AS rev
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
          GROUP BY 1, 2)
        SELECT r_name, n_name, rev,
               round(rev / sum(rev) OVER (PARTITION BY r_name), 4)
                 AS share_of_region,
               round(rev / sum(rev) OVER (), 4) AS share_of_total
        FROM agg
        """,
        sf_dir,
    )


@query("q_geohash")
def q_geohash(spark, sf_dir):
    """Geohash cell encoding (operators/spatial.py:geohash — pure
    codegen bit interleave + base32). Coordinates derived from
    customer keys with the same Lehmer arithmetic as q_spatial_join,
    so the oracle replays coordinates AND the full bit-interleave
    (generated programmatically, see oracles.py) exactly."""
    from pipeline_dataengineer_spark.operators.spatial import geohash

    c = table(spark, sf_dir, "customer").select("c_custkey")
    lat = ((F.col("c_custkey") * 48271) % 180000) / 1000.0 - 90.0
    lng = ((F.col("c_custkey") * 69621) % 360000) / 1000.0 - 180.0
    return c.select(
        "c_custkey",
        F.round(lat, 3).alias("lat"),
        F.round(lng, 3).alias("lng"),
        geohash(lat, lng, precision=6).alias("gh"),
    )


@query("q_impute")
def q_impute(spark, sf_dir):
    """Grouped median imputation (operators/scaling.py:impute):
    events with nulls manufactured on a deterministic slice, filled
    with each user's median — stats from one combinable aggregate
    broadcast back, fact side never shuffles."""
    from pipeline_dataengineer_spark.operators.scaling import impute

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.round("value", 4))
        .alias("v"),
    )
    out = impute(ev, ["v"], "median", ["user_id"], suffix="_f")
    return out.select(
        "event_id", "user_id", "v", F.round("v_f", 4).alias("v_f")
    )


@query("q_woe_encode")
def q_woe_encode(spark, sf_dir):
    """Weight-of-evidence encoding (operators/encoding.py:woe_encode):
    order priority vs a high-value label, smoothed WoE + IV terms —
    one combinable aggregate, category-sized output."""
    from pipeline_dataengineer_spark.operators.encoding import woe_encode

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_totalprice") > 150000).cast("int").alias("label"),
    )
    return woe_encode(o, "o_orderpriority", "label")


@query("q_keywords")
def q_keywords(spark, sf_dir):
    """Per-document keyword extraction (operators/text_features.py:
    extract_keywords): top-3 TF-IDF terms, deterministic cut, the
    ordered keyword arrays hash-checked."""
    from pipeline_dataengineer_spark.operators.text_features import (
        extract_keywords,
    )

    return extract_keywords(table(spark, sf_dir, "documents"), top_n=3)


@query("q_parse_logs")
def q_parse_logs(spark, sf_dir):
    """Common Log Format parsing (operators/web.py:parse_common_log):
    access-log lines synthesized deterministically from events, then
    parsed back — every extracted field hash-checked via the same
    RE2-portable pattern. Every 11th line is corrupted to exercise
    the quarantine (empty-fields) path."""
    from pipeline_dataengineer_spark.operators.web import parse_common_log

    ev = table(spark, sf_dir, "events")
    line = F.when(
        F.col("event_id") % 11 == 0, F.lit("corrupted ###")
    ).otherwise(
        F.format_string(
            '10.0.%d.%d - user%d [10/Oct/2000:13:55:36 -0700] '
            '"GET /page/%d HTTP/1.0" %d %d',
            (F.col("event_id") % 256).cast("int"),
            (F.col("user_id") % 256).cast("int"),
            F.col("user_id").cast("int"),
            F.col("event_id").cast("int"),
            (F.lit(200) + (F.col("event_id") % 2) * 204).cast("int"),
            (F.col("event_id") % 5000).cast("int"),
        )
    )
    return (
        ev.select("event_id", line.alias("line"))
        .select("event_id", parse_common_log("line").alias("p"))
        .select("event_id", "p.*")
    )


@query("q_one_hot")
def q_one_hot(spark, sf_dir):
    """Capped one-hot encoding (operators/encoding.py:one_hot):
    order statuses as indicator columns + the 'other' fold, null-safe
    indicators. Fixture note (round-5 sweep): the vocabulary is
    frequency-ranked, and in THIS synthetic data every categorical
    column is near-uniform, so any top_n < n_distinct fixture's
    column set flips between scales (sf0.01 ranked the priorities
    2-HIGH/3-MEDIUM/4-NOT-SPECIFIED; sf0.1 ranked them
    1-URGENT/3-MEDIUM/5-LOW — the hardcoded oracle columns diverged).
    With top_n >= n_distinct the vocabulary is ALL values at any
    scale, so the static oracle is honest; the capped-ranking and
    tie-break semantics are pytest-covered instead."""
    from pipeline_dataengineer_spark.operators.encoding import one_hot

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    out = one_hot(o, "o_orderstatus", top_n=3)
    keep = ["o_orderkey"] + sorted(
        c for c in out.columns if c.startswith("o_orderstatus__")
    )
    return out.select(*keep)


@query("q_punct_normalize")
def q_punct_normalize(spark, sf_dir):
    """Typographic punctuation canonicalization (functions/text.py:
    normalize_punctuation): smart quotes/dashes/ellipsis injected
    deterministically into the docs, then normalized back to ASCII —
    the full translate + replace chain hash-checked."""
    from pipeline_dataengineer_spark.functions.text import (
        normalize_punctuation,
    )

    d = table(spark, sf_dir, "documents")
    fancy = F.regexp_replace(
        F.regexp_replace(F.col("text"), r"\bthe\b", "“the”"),
        r"\ba\b",
        "‘a’ —",
    )
    return d.select(
        "doc_id", normalize_punctuation(fancy).alias("clean")
    )


@query("q_flatten_structs")
def q_flatten_structs(spark, sf_dir):
    """Recursive struct flattening (operators/maintenance.py:
    flatten_structs): a two-level struct built from order columns
    flattens back to parent_child names — pure projection,
    hash-checked."""
    from pipeline_dataengineer_spark.operators.maintenance import (
        flatten_structs,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.struct(
            F.col("o_orderpriority").alias("prio"),
            F.struct(
                F.col("o_custkey").alias("cust"),
                F.round("o_totalprice", 2).alias("price"),
            ).alias("inner"),
        ).alias("meta"),
    )
    return flatten_structs(o)


@query("q_safe_join")
def q_safe_join(spark, sf_dir):
    """Multiplicity-contract join (operators/joins.py:safe_join):
    orders n:1 customer with the duplicate-key guard armed — the
    guard is invisible on conforming data, so the oracle is the plain
    join (pytest proves the violating path raises)."""
    from pipeline_dataengineer_spark.operators.joins import safe_join

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    return safe_join(o, c, ["o_custkey"], expect="n:1")


@query("q_ivfpq_exact")
def q_ivfpq_exact(spark, sf_dir):
    """IVF-PQ composition, lossless configuration (operators/pq.py:
    ivfpq_build/ivfpq_search — FAISS-style IVFADC: coarse centroids +
    PQ on the residuals): corpus capped at 250 vectors so every
    subspace's distinct RESIDUAL subvectors fit the 256-entry
    codebook, and nprobe == num_centroids so every cell is probed.
    Residual ADC then telescopes to exact ||q − x||², making the
    ENTIRE composition (assignment, residual encode, per-(query,cell)
    LUTs, gather scoring, rank cut) hash-checkable against plain SQL
    — same pattern as q_ivf_exact / q_pq_exact; q_ivfpq_topk-style
    lossy recall is pytest-enforced instead."""
    from pipeline_dataengineer_spark.operators.pq import (
        ivfpq_build,
        ivfpq_search,
    )

    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 250)
    cents, enc, books = ivfpq_build(
        e, num_centroids=8, m=8, codebook_size=256, sample_size=250
    )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_search(cents, enc, books, q, k=5, nprobe=8)
    return out.select(
        "query_id", "vec_id", "dist2", F.col("rank").cast("long").alias("rank")
    )


@query("q_countmin")
def q_countmin(spark, sf_dir):
    """Count-Min sketch point-frequency estimates
    (functions/sketches.py:cm_states/cm_estimate): depth-4 x
    width-512 table over lineitem.l_partkey — small enough that
    bucket collisions REALLY occur at sf0.01, so the min-over-rows
    approximation path is exercised, yet fully hash-checkable because
    the affine hash family is engine-portable (cm_bucket_sql replays
    placement bit-for-bit in DuckDB). Output joins the estimate to
    the true count: the CM guarantee est >= true rides along into
    the oracle compare."""
    from pipeline_dataengineer_spark.functions.sketches import (
        cm_estimate,
        cm_states,
    )

    li = table(spark, sf_dir, "lineitem")
    state = cm_states(li, [], "l_partkey", depth=4, width=512)
    items = (
        li.filter(F.col("l_partkey") <= 200).select("l_partkey").distinct()
    )
    est = cm_estimate(state, items, "l_partkey", depth=4, width=512)
    true = (
        li.filter(F.col("l_partkey") <= 200)
        .groupBy("l_partkey")
        .agg(F.count("*").alias("true_count"))
    )
    return est.join(true, "l_partkey").select(
        "l_partkey", "est_count", "true_count"
    )


@query("q_mmr_rerank")
def q_mmr_rerank(spark, sf_dir):
    """MMR diversification (operators/similarity.py:mmr_rerank) in the
    lossless lam=1 configuration: the greedy objective degenerates to
    pure relevance, so rank order must EQUAL the upstream cosine
    ranking — which makes the whole applyInPandas greedy machinery
    (candidate sort, objective argmax, tie-breaks, score rounding)
    hash-checkable against plain SQL. The diversifying lam<1 path is
    pytest-enforced on a hand-computed case instead (the greedy
    selection has no SQL replay)."""
    from pipeline_dataengineer_spark.operators.similarity import (
        cosine_topk_bruteforce,
        mmr_rerank,
    )

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") >= 3)
    top = cosine_topk_bruteforce(corpus, q, k=20, score_round=4)
    cand = top.join(e.select("vec_id", "embedding"), "vec_id").select(
        "query_id", "vec_id", "score", "embedding"
    )
    return mmr_rerank(cand, k=5, lam=1.0, score_round=4)


@query("q_bloom_prune")
def q_bloom_prune(spark, sf_dir):
    """k-hash Bloom-filter pruned semi join (operators/prune.py:
    bloom_semi_join_prune): lineitem semi-joined to high-value
    orders, the big side pre-filtered map-side by a 2^16-bit bitmap
    embedded as one array literal (pure codegen membership test, no
    join in the prune step). The bloom only drops GUARANTEED
    non-matches and an exact semi join finishes, so the output
    equals the plain semi join — the oracle checks that identity
    while the plan carries the bitmap filter."""
    from pipeline_dataengineer_spark.operators.prune import (
        bloom_semi_join_prune,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    hi = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400_000
    )
    return bloom_semi_join_prune(
        li, hi, "l_orderkey", small_on="o_orderkey", num_bits=1 << 16
    )


@query("q_jaccard_join")
def q_jaccard_join(spark, sf_dir):
    """EXACT prefix-filter Jaccard self-join (operators/dedup.py:
    jaccard_join_exact — AllPairs/PPJoin family): near-dup pairs are
    manufactured exactly as in q_minhash_neardup (each doc unioned
    with a lightly-mutated copy), but unlike the MinHash path this
    algorithm guarantees NO missed pairs, so the full output is
    hash-checkable against a DuckDB brute-force token join."""
    from pipeline_dataengineer_spark.operators.dedup import (
        jaccard_join_exact,
    )

    # deterministic 20% slice: the synthetic corpus is heavily
    # templated, so pair output is quadratic in cluster size — the
    # slice keeps the answer bounded at any scale factor while still
    # exercising every stage (vocab ranking, prefix cut, candidate
    # join, exact verify)
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 3)
        .select("doc_id", "text")
    )
    mutated = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" suffix token")).alias("text"),
    )
    corpus = d.unionByName(mutated)
    return jaccard_join_exact(corpus, "doc_id", "text", threshold=0.8)


@query("q_ts_folds")
def q_ts_folds(spark, sf_dir):
    """Expanding-window time-series CV folds (operators/sampling.py:
    time_series_folds): distinct order dates ntile'd into 4 chunks,
    fold k trains on chunks 1..k and tests on chunk k+1 — the
    no-future-leakage split. Full per-row fold/role assignment is
    hash-checked via a DuckDB ntile replay."""
    from pipeline_dataengineer_spark.operators.sampling import (
        time_series_folds,
    )

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 5000)
        .select("o_orderkey", "o_orderdate")
    )
    out = time_series_folds(o, "o_orderdate", n_folds=3)
    return out.select(
        "o_orderkey", F.col("fold").cast("long").alias("fold"), "role"
    )


@query("q_rebalance")
def q_rebalance(spark, sf_dir):
    """Deterministic class rebalancing (operators/sampling.py:
    rebalance_classes): every o_orderstatus class oversampled to
    exactly the majority count, copies assigned in portable-scramble
    order so WHICH rows get the extra copy replays in DuckDB
    (scramble_sql). Output aggregates are copy-assignment-sensitive
    (sum of keys over the exploded rows)."""
    from pipeline_dataengineer_spark.operators.sampling import (
        rebalance_classes,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    out = rebalance_classes(o, "o_orderstatus", order_key="o_orderkey")
    return out.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_unique"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@query("q_cm_join_size")
def q_cm_join_size(spark, sf_dir):
    """Join-size estimation from two Count-Min states
    (functions/sketches.py:cm_inner_product): the lineitem ⋈ part
    join cardinality estimated from two depth-4 × width-4096 tables
    without re-touching either side, next to the true count. The
    hash family replays in DuckDB, so the ESTIMATE itself (with its
    collision inflation) is hash-checked, not just the true count."""
    from pipeline_dataengineer_spark.functions.sketches import (
        cm_inner_product,
        cm_states,
    )

    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part")
    sa = cm_states(li, [], "l_partkey", depth=4, width=4096)
    sb = cm_states(pt, [], "p_partkey", depth=4, width=4096)
    est = cm_inner_product(sa, sb)
    true = (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .agg(F.count("*").alias("true_join_size"))
    )
    return est.crossJoin(true)


@query("q_token_budget")
def q_token_budget(spark, sf_dir):
    """Token-budget mixture sampling (operators/corpus.py:
    token_budget_sample): per-language document selection in
    portable-scramble order until each language's TOKEN budget is
    crossed — the unit pretraining mixtures actually allocate. The
    whole selection (scramble order, running sum, boundary-crossing
    doc kept, unbudgeted strata dropped) replays in DuckDB."""
    from pipeline_dataengineer_spark.operators.corpus import (
        token_budget_sample,
    )

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    out = token_budget_sample(
        d,
        "lang",
        "n_tokens",
        {"en": 2000, "fr": 800, "zh": 1}, 
        key_col="doc_id",
    )
    return out.select("doc_id", "lang", "n_tokens")


@query("q_vector_index")
def q_vector_index(spark, sf_dir):
    """Integration: the full vector-index pipeline
    (pipelines/vector_index.py) over the documents table — dedup →
    chunk → hash-embed → IVF-PQ → snapshot publish → search with 3
    probe queries. Rows-only by design (feature-hash embeddings are
    xxhash64-based, engine-specific); the per-stage machinery is
    oracle-checked piecewise by q_ivfpq_exact / q_countmin-style
    lossless configs and the pipeline pytest asserts self-retrieval
    at distance zero."""
    import shutil

    from pipeline_dataengineer_spark.pipelines.vector_index import (
        _default_embed,
        build_vector_index,
        search_vector_index,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    root = _scratch_path(
        f"spark_graft_vecidx_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    # fresh root per build: repeated builds in one application would
    # otherwise accumulate snapshot versions without bound
    shutil.rmtree(root, ignore_errors=True)
    build_vector_index(
        d, root, chunk_tokens=48, overlap=8, dim=32,
        num_centroids=8, m=4, codebook_size=16,
    )
    from pipeline_dataengineer_spark.operators.corpus import chunk_documents

    probe = (
        _default_embed(
            chunk_documents(d, chunk_tokens=48, overlap=8)
            .filter((F.col("doc_id") < 3) & (F.col("chunk_idx") == 0))
            .select(
                F.concat_ws("#", "doc_id", "chunk_idx").alias("chunk_id"),
                "chunk_text",
            ),
            32,
        )
        .select(F.col("chunk_id").alias("query_id"), "embedding")
    )
    return search_vector_index(spark, root, probe, k=5, nprobe=8)


@query("q_dsir_sample")
def q_dsir_sample(spark, sf_dir):
    """DSIR importance resampling (operators/corpus.py:dsir_sample,
    Xie et al. 2023), PROMOTED to a full oracle round 9 (rows-only
    since round 4) via a closed-form two-domain fixture: every doc's
    text is ONE token repeated n = doc_id%13+1 times — token 'qza'
    for domain A (doc_id%3==0), 'vrk' for domain B — and the target
    is the even half of domain A. All of a doc's tokens then land in
    a single hash bucket, and as long as the two tokens' buckets
    differ (they do for xxhash64 mod 4096 — pytest-pinned in
    tests/test_dsir.py::test_fixture_tokens_bucket_apart, so a Spark
    upgrade that changes the hash fails loudly), log_w collapses to
    n · (log-ratio of that bucket), a pure function of four token
    totals the oracle computes by SQL aggregation — no hash
    replication needed. The Gumbel-top-k cut replays exactly via
    portable_scramble's SQL twin. Raw-text behavior (engine-specific
    bucket hashing) stays pytest-proven (tests/test_dsir.py)."""
    from pipeline_dataengineer_spark.operators.corpus import dsir_sample

    d = table(spark, sf_dir, "documents").select("doc_id")
    n_rep = (F.col("doc_id") % 13 + 1).cast("int")
    tok = F.when(F.col("doc_id") % 3 == 0, "qza").otherwise("vrk")
    raw = d.select(
        "doc_id",
        F.trim(F.repeat(F.concat(tok, F.lit(" ")), n_rep)).alias("text"),
    )
    target = raw.filter(F.col("doc_id") % 6 == 0)
    out = dsir_sample(raw, target, n_docs=100, n_buckets=4096)
    return out.select(
        "doc_id", "n_tokens", F.round("log_w", 6).alias("log_w")
    )


@query("q_tfidf_cosine")
def q_tfidf_cosine(spark, sf_dir):
    """Sparse TF-IDF cosine similarity join (operators/
    text_features.py:tfidf_cosine_pairs): exact lexical document
    similarity via a postings self-join — no embeddings, no LSH
    misses. Same deterministic 20% corpus slice as q_jaccard_join;
    max_df=60 caps the stopword df² pair blow-up (identical cap in
    the oracle)."""
    from pipeline_dataengineer_spark.operators.text_features import (
        tfidf_cosine_pairs,
    )

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 3)
        .select("doc_id", "text")
    )
    return tfidf_cosine_pairs(
        d, "doc_id", "text", threshold=0.5, max_df=60
    )


@query("q_k_anonymize")
def q_k_anonymize(spark, sf_dir):
    """Suppression-model k-anonymity (operators/privacy.py:
    k_anonymize) over customer with quasi-identifiers
    (nation, segment): rows whose equivalence class has >= 12
    members survive. One window shuffle on the QI key; oracle is the
    equivalent COUNT() OVER filter."""
    from pipeline_dataengineer_spark.operators.privacy import k_anonymize

    c = table(spark, sf_dir, "customer")
    out = k_anonymize(c, ["c_nationkey", "c_mktsegment"], k=12)
    return out.select("c_custkey", "c_nationkey", "c_mktsegment")


@query("q_anonymity_audit")
def q_anonymity_audit(spark, sf_dir):
    """Equivalence-class audit (operators/privacy.py:
    anonymity_audit): class size + exact distinct sensitive values
    (account-balance cents) per (nation, segment) class — min over
    the output is the table's k-anonymity / l-diversity. One
    combinable groupBy, class-count-sized output."""
    from pipeline_dataengineer_spark.operators.privacy import (
        anonymity_audit,
    )

    c = table(spark, sf_dir, "customer").withColumn(
        "bal_cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    out = anonymity_audit(c, ["c_nationkey", "c_mktsegment"], "bal_cents")
    return out.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("class_size").cast("long").alias("class_size"),
        F.col("n_sensitive").cast("long").alias("n_sensitive"),
    )


@query("q_table_diff")
def q_table_diff(spark, sf_dir):
    """Keyed table reconciliation (operators/maintenance.py:
    diff_tables): customer vs a deterministically mutated copy
    (every 97th key dropped, every 13th balance bumped, five new
    keys) — statuses + per-column change lists. One join shuffle;
    both engines construct the identical b-side."""
    from pipeline_dataengineer_spark.operators.maintenance import (
        diff_tables,
    )

    a = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    b = (
        a.filter(F.col("c_custkey") % 97 != 0)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 100.0
            ).otherwise(F.col("c_acctbal")),
        )
        .unionAll(
            a.filter(F.col("c_custkey") < 6).select(
                (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
                F.col("c_name"),
                F.col("c_acctbal"),
            )
        )
    )
    out = diff_tables(a, b, ["c_custkey"])
    return out.select(
        "c_custkey",
        "status",
        F.array_join("changed_cols", ",").alias("changed"),
        F.round("c_acctbal_a", 2).alias("bal_a"),
        F.round("c_acctbal_b", 2).alias("bal_b"),
    )


@query("q_cusum_chart")
def q_cusum_chart(spark, sf_dir):
    """Two-sided CUSUM control chart (operators/timeseries.py:
    cusum_control_chart) over each user's event values: target 50,
    allowance 10, threshold 150, alarm-reset. Genuine recursion
    (clamp + reset discard information, no window rewrite) on the
    sanctioned grouped-map path; the oracle replays it with a
    recursive CTE — identical IEEE754 operand order, so round(4) is
    safe (same story as q_ewma / q_clamped_balance)."""
    from pipeline_dataengineer_spark.operators.timeseries import (
        cusum_control_chart,
    )

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    out = cusum_control_chart(
        e, ["user_id"], "event_id", "value", target=50.0, k=10.0, h=150.0
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("cusum_hi", 4).alias("cusum_hi"),
        F.round("cusum_lo", 4).alias("cusum_lo"),
        "alarm",
    )


@query("q_readability")
def q_readability(spark, sf_dir):
    """Flesch reading-ease (functions/textstats.py:readability) over
    documents: portable word / sentence-run / vowel-group counts and
    the classic 206.835 formula, one fused projection. Oracle
    replays the identical regex counts and float operand order."""
    from pipeline_dataengineer_spark.functions.textstats import (
        readability,
    )

    d = table(spark, sf_dir, "documents")
    return d.withColumn("r", readability("text")).select(
        "doc_id",
        F.col("r.n_words").alias("n_words"),
        F.col("r.n_sentences").alias("n_sentences"),
        F.col("r.n_syllables").alias("n_syllables"),
        F.col("r.flesch").alias("flesch"),
    )


@query("q_point_in_polygon")
def q_point_in_polygon(spark, sf_dir):
    """Geofencing join (operators/spatial.py:point_in_polygon_join):
    customers mapped to synthetic plane points (custkey % 97,
    custkey % 89) tagged with the containing zone from three literal
    polygons (one concave). Broadcast zone table + bbox prune +
    division-free ray-cast fold — no UDF, points never shuffle.
    Oracle replays the identical even-odd parity arithmetic as
    generated SQL."""
    from pipeline_dataengineer_spark.contract._fixtures import (
        PIP_POLYGONS,
    )
    from pipeline_dataengineer_spark.operators.spatial import (
        point_in_polygon_join,
    )

    pts = table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 97).cast("double").alias("px"),
        (F.col("c_custkey") % 89).cast("double").alias("py"),
    )
    out = point_in_polygon_join(pts, "px", "py", PIP_POLYGONS)
    return out.select("c_custkey", "zone")


@query("q_frequent_seq")
def q_frequent_seq(spark, sf_dir):
    """Frequent contiguous event trigrams (operators/events.py:
    frequent_sequences) across user histories ordered by (ts,
    event_id): one window shuffle then a combinable pattern-sized
    groupBy. Oracle replays the lead() n-gram assembly."""
    from pipeline_dataengineer_spark.operators.events import (
        frequent_sequences,
    )

    e = table(spark, sf_dir, "events")
    out = frequent_sequences(
        e, "user_id", "ts", "event_type",
        n=3, min_support=5, tiebreak_col="event_id",
    )
    return out.select(
        F.array_join("seq", ">").alias("seq"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("n_users").cast("long").alias("n_users"),
    )


def _exif_template() -> tuple[bytes, bytes, bytes]:
    """Byte fragments of a little-endian Exif APP1 JPEG with two
    per-row holes: the 2-byte-slot orientation value (1 byte + NUL)
    and the single make digit. Offsets follow TIFF6 / Exif 2.3:
    header(8) + IFD0(2 + 5*12 + 4 = 66) = 74, then the data area."""
    import struct

    def u16(v):
        return struct.pack("<H", v)

    def u32(v):
        return struct.pack("<I", v)

    make_len, model = 5, b"Cam 9000\x00"  # make = 'CAM'+digit+NUL
    dto = b"2020:12:25 08:30:00\x00"
    off_make = 74
    off_model = off_make + make_len
    off_exif_ifd = off_model + len(model)
    off_dto = off_exif_ifd + 2 + 12 + 4

    def entry(tag, typ, cnt, val4):
        return u16(tag) + u16(typ) + u32(cnt) + val4

    ifd0 = u16(5)
    ifd0 += entry(0x010F, 2, make_len, u32(off_make))
    ifd0 += entry(0x0110, 2, len(model), u32(off_model))
    ifd0 += u16(0x0112) + u16(3) + u32(1)  # orientation entry head
    # --- hole 1: 1-byte orientation value; then NUL + 2 pad bytes
    after_orient = b"\x00" + b"\x00\x00"
    rest_ifd0 = entry(0x0132, 2, len(dto), u32(off_dto))  # DateTime
    rest_ifd0 += entry(0x8769, 4, 1, u32(off_exif_ifd))
    rest_ifd0 += u32(0)
    exif_ifd = u16(1) + entry(0x9003, 2, len(dto), u32(off_dto)) + u32(0)
    tiff_head = b"II" + u16(42) + u32(8)
    part_a = tiff_head + ifd0
    part_b = after_orient + rest_ifd0 + b"CAM"
    # --- hole 2: the make digit; then NUL + model + exif ifd + dto
    part_c = b"\x00" + model + exif_ifd + dto
    body_len = (
        len(b"Exif\x00\x00") + len(part_a) + 1 + len(part_b) + 1 + len(part_c)
    )
    app1_head = b"\xff\xd8\xff\xe1" + (body_len + 2).to_bytes(2, "big") + b"Exif\x00\x00"
    return app1_head + part_a, part_b, part_c + b"\xff\xd9"


@query("q_exif")
def q_exif(spark, sf_dir):
    """REAL Exif parsing, hash-checked (multimodal/media.py:
    exif_metadata): each document row gets a synthesized JPEG whose
    APP1/TIFF segment is assembled IN COLUMN SPACE (binary concat +
    unhex of the per-row orientation, encode of the make digit); the
    Arrow pass walks the actual IFD structure. The oracle never
    parses bytes — it computes the planted ground truth analytically
    (orientation = doc_id%8+1, make = 'CAM'||doc_id%5), which is
    exactly what makes the check meaningful: Spark must RECOVER the
    values from the binary."""
    from pipeline_dataengineer_spark.multimodal.media import exif_metadata

    a, b, c = _exif_template()
    d = table(spark, sf_dir, "documents").select("doc_id")
    payload = F.concat(
        F.lit(a),
        F.unhex(F.lpad(F.hex((F.col("doc_id") % 8 + 1).cast("int")), 2, "0")),
        F.lit(b),
        F.encode((F.col("doc_id") % 5).cast("string"), "UTF-8"),
        F.lit(c),
    )
    out = exif_metadata(d.withColumn("payload", payload))
    return out.select(
        "doc_id",
        "make",
        "model",
        F.col("orientation").cast("int").alias("orientation"),
        "taken_at",
    )


@query("q_spectral_band")
def q_spectral_band(spark, sf_dir):
    """REAL FFT, hash-checked (multimodal/media.py:
    audio_spectrogram): three driver-synthesized pure-sine WAVs (500 /
    1000 / 1500 Hz at 8 kHz) are assigned per document; the dominant
    spectrogram band — time-mean per band, then argmax, computed in
    COLUMN space over the returned matrix — must land where the
    physics says (16 bands over (0,4kHz] = 250 Hz each, DC dropped:
    band = f/250 - 1). The oracle is the analytic answer; Spark must
    reproduce it through windowing + rfft + banding + pooling."""
    import io
    import math
    import struct
    import wave

    from pipeline_dataengineer_spark.multimodal.media import (
        audio_spectrogram,
    )

    def sine_wav(freq: float) -> bytes:
        rate, n = 8000, 4000
        samples = [
            int(20000 * math.sin(2 * math.pi * freq * i / rate))
            for i in range(n)
        ]
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(struct.pack(f"<{n}h", *samples))
        return buf.getvalue()

    d = table(spark, sf_dir, "documents").select("doc_id")
    payload = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(sine_wav(500.0)))
        .when(F.col("doc_id") % 3 == 1, F.lit(sine_wav(1000.0)))
        .otherwise(F.lit(sine_wav(1500.0)))
    )
    out = audio_spectrogram(d.withColumn("payload", payload))
    band_means = F.transform(
        F.col("spectrogram"),
        lambda r: F.aggregate(
            r, F.lit(0.0), lambda acc, x: acc + x.cast("double")
        ),
    )
    return out.select(
        "doc_id",
        (
            F.array_position(band_means, F.array_max(band_means)) - 1
        ).cast("long").alias("dominant_band"),
    )


@query("q_ppl_buckets")
def q_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail corpus partitioning (operators/
    corpus.py:perplexity_buckets): per-language equal-frequency
    terciles of char-trigram perplexity, deterministic (ppl, doc_id)
    tie-break. The LM is bounded → broadcast scoring join; the ntile
    window runs over (id, scalar) rows only."""
    from pipeline_dataengineer_spark.operators.corpus import (
        perplexity_buckets,
    )
    from pipeline_dataengineer_spark.operators.text_features import (
        train_char_trigram_lm,
    )

    docs = table(spark, sf_dir, "documents")
    lm = train_char_trigram_lm(docs)
    out = perplexity_buckets(docs, lm, group_col="lang", n_buckets=3)
    return out.select(
        "doc_id",
        "lang",
        "ppl",
        F.col("bucket").cast("int").alias("bucket"),
        "bucket_label",
    )


@query("q_oov_rate")
def q_oov_rate(spark, sf_dir):
    """Out-of-vocabulary screen (operators/text_features.py:
    oov_rate): vocabulary = the distinct lowered terms of the
    doc_id%10==0 reference slice, broadcast to every document's
    token stream. Per-doc counts partial-aggregate before their one
    exchange."""
    from pipeline_dataengineer_spark.operators.text_features import (
        oov_rate,
    )

    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            F.explode(
                F.filter(
                    F.split(F.lower("text"), r"\s+"), lambda t: t != ""
                )
            ).alias("term")
        )
        .distinct()
    )
    out = oov_rate(docs, vocab)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        "oov_rate",
    )


@query("q_zipf")
def q_zipf(spark, sf_dir):
    """Zipf rank-frequency fit (operators/text_features.py:
    zipf_fit): OLS of ln freq on ln rank over the top-300 corpus
    terms (deterministic count-then-term cut). Combinable count
    aggregate → TakeOrdered top-k → 300-row window → one regression
    aggregate."""
    from pipeline_dataengineer_spark.operators.text_features import (
        zipf_fit,
    )

    return zipf_fit(table(spark, sf_dir, "documents"), top_k=300)


@query("q_modularity")
def q_modularity(spark, sf_dir):
    """Community-quality scoring (operators/graph.py:modularity) over
    the doc-id 5-block graph (chains + even-block closing edges, the
    q_kcore fixture) with communities = the 5-blocks themselves:
    per-community internal-edge/degree sums → Newman q_term. Two
    keyed joins + combinable aggregates, community-sized output."""
    from pipeline_dataengineer_spark.operators.graph import modularity

    d = table(spark, sf_dir, "documents").select("doc_id")
    chain = d.filter(F.pmod("doc_id", F.lit(5)) < 4).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    closing = d.filter(
        (F.pmod("doc_id", F.lit(5)) == 4)
        & (F.pmod(F.floor(F.col("doc_id") / 5), F.lit(2)) == 0)
    ).select(F.col("doc_id").alias("src"), (F.col("doc_id") - 4).alias("dst"))
    edges = chain.union(closing)
    assign = d.select(
        F.col("doc_id").alias("node"),
        F.floor(F.col("doc_id") / 5).cast("long").alias("community"),
    )
    out = modularity(edges, assign)
    return out.select(
        "community",
        F.col("n_internal").cast("long").alias("n_internal"),
        F.col("degree_sum").cast("long").alias("degree_sum"),
        F.round("q_term", 8).alias("q_term"),
    )


@query("q_fixed_width")
def q_fixed_width(spark, sf_dir):
    """Fixed-width record parsing (sources/files.py:
    parse_fixed_width): customer rows are serialized to a rigid
    28-char layout in column space (lpad key 8 / rpad segment 12 /
    lpad balance 8) and parsed back through the reader's kernel —
    both directions fused codegen, no UDF. The oracle recomputes the
    round trip analytically; trailing-space trim and numeric casts
    must agree."""
    from pipeline_dataengineer_spark.sources.files import (
        parse_fixed_width,
    )

    c = table(spark, sf_dir, "customer")
    line = F.concat(
        F.lpad(F.col("c_custkey").cast("string"), 8, "0"),
        F.rpad(F.col("c_mktsegment"), 12, " "),
        F.lpad(F.round("c_acctbal", 2).cast("string"), 8, " "),
    )
    parsed = parse_fixed_width(
        line,
        [
            ("custkey", 1, 8, "long"),
            ("segment", 9, 12, "string"),
            ("balance", 21, 8, "double"),
        ],
    )
    return c.select(parsed.alias("r")).select(
        F.col("r.custkey").alias("custkey"),
        F.col("r.segment").alias("segment"),
        F.round(F.col("r.balance"), 2).alias("balance"),
    )


@query("q_jaro")
def q_jaro(spark, sf_dir):
    """Jaro-Winkler fuzzy scoring (functions/text.py:jaro_winkler):
    part-name pairs blocked on the shared first token (bounded
    blocks, never all-pairs), scored by the Arrow kernel and kept
    above 0.88. The oracle scores the SAME pairs with DuckDB's
    independent jaro_winkler_similarity implementation — the kernel
    was fuzzed to 0 mismatches over 10k random pairs, floor-halved
    transpositions and the 0.7 boost threshold included."""
    from pipeline_dataengineer_spark.functions.text import jaro_winkler

    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 7 == 0)
        .select(
            "p_partkey",
            F.col("p_name").alias("name"),
            F.split(F.col("p_name"), " ")[0].alias("__blk"),
        )
    )
    pairs = (
        p.alias("a")
        .join(p.alias("b"), "__blk")
        .filter(F.col("a.p_partkey") < F.col("b.p_partkey"))
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
        )
    )
    # spread the candidate pairs before the Arrow scorer — the block
    # join inherits the scan's single partition and AQE's byte-based
    # coalescing can't see the per-pair Python cost (the same hazard
    # link_records guards internally)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = pairs.repartition(n_part, "key_a").withColumn(
        "jw", F.round(jaro_winkler("name_a", "name_b"), 6)
    )
    return out.filter(F.col("jw") >= 0.88).select(
        "key_a", "key_b", "jw"
    )


@query("q_merge_intervals")
def q_merge_intervals(spark, sf_dir):
    """Gaps-and-islands coalescing (operators/intervals.py:
    merge_intervals): per order priority, spans
    [orderdate_epoch, +1..20 days) merge into maximal islands — one
    window pass (running reach max), island ids by running sum on
    the same partitioning, then a combinable aggregate."""
    from pipeline_dataengineer_spark.operators.intervals import (
        merge_intervals,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.unix_date(F.col("o_orderdate").cast("date")).alias("s"),
        (
            F.unix_date(F.col("o_orderdate").cast("date"))
            + F.pmod("o_orderkey", F.lit(20))
            + 1
        ).alias("e"),
    )
    out = merge_intervals(o, ["o_orderpriority"], "s", "e")
    return out.select(
        "o_orderpriority",
        F.col("s").cast("long").alias("s"),
        F.col("e").cast("long").alias("e"),
        F.col("n_merged").cast("long").alias("n_merged"),
    )


@query("q_interval_gaps")
def q_interval_gaps(spark, sf_dir):
    """The complement cut (operators/intervals.py:interval_gaps):
    open downtime between the coalesced islands — restricted to a
    sparse slice (every 37th order) so real gaps exist."""
    from pipeline_dataengineer_spark.operators.intervals import (
        interval_gaps,
    )

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 37 == 0)
        .select(
            "o_orderpriority",
            F.unix_date(F.col("o_orderdate").cast("date")).alias("s"),
            (
                F.unix_date(F.col("o_orderdate").cast("date"))
                + F.pmod("o_orderkey", F.lit(20))
                + 1
            ).alias("e"),
        )
    )
    return interval_gaps(o, ["o_orderpriority"], "s", "e").select(
        "o_orderpriority",
        F.col("gap_start").cast("long").alias("gap_start"),
        F.col("gap_end").cast("long").alias("gap_end"),
    )


@query("q_interval_coverage")
def q_interval_coverage(spark, sf_dir):
    """Coverage rollup (operators/intervals.py:coverage): islands,
    total covered length and span bounds per priority over the same
    sparse slice as q_interval_gaps."""
    from pipeline_dataengineer_spark.operators.intervals import coverage

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 37 == 0)
        .select(
            "o_orderpriority",
            F.unix_date(F.col("o_orderdate").cast("date")).alias("s"),
            (
                F.unix_date(F.col("o_orderdate").cast("date"))
                + F.pmod("o_orderkey", F.lit(20))
                + 1
            ).alias("e"),
        )
    )
    out = coverage(o, ["o_orderpriority"], "s", "e")
    return out.select(
        "o_orderpriority",
        F.col("n_islands").cast("long").alias("n_islands"),
        F.col("covered").cast("long").alias("covered"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
    )


@query("q_ppr")
def q_ppr(spark, sf_dir):
    """Personalized PageRank (operators/graph.py:
    personalized_pagerank) seeded at every-100th customer over the
    bipartite customer→nation graph — HASH-CHECKED like q_pagerank:
    the oracle unrolls 6 rounds with the identical teleport-vector
    arithmetic ((1−d)·p + d·(cin + dang·p)); unreachable nodes pin
    to exactly 0."""
    from pipeline_dataengineer_spark.operators.graph import (
        personalized_pagerank,
    )

    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("src"),
        (F.col("c_nationkey") + 10_000_000).alias("dst"),
    )
    seeds = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 100 == 0)
        .select(F.col("c_custkey").alias("node"))
    )
    ranks = personalized_pagerank(
        c, seeds, max_iterations=6, tol=1e-12
    )
    return ranks.select(
        "node", F.round("rank", 6).alias("rank")
    ).orderBy("node")


@query("q_pnm")
def q_pnm(spark, sf_dir):
    """REAL netpbm decoding, hash-checked (multimodal/media.py:
    pnm_stats): every document row gets a binary P5 grayscale image
    assembled in column space (header literal + 16 pixel bytes of the
    planted value doc_id % 251 via unhex); the Arrow pass must parse
    the header and recover the mean intensity == the planted value.
    Every third row is corrupted (truncated raster) and must come
    back NULL — the quarantine contract."""
    from pipeline_dataengineer_spark.multimodal.media import pnm_stats

    d = table(spark, sf_dir, "documents").select("doc_id")
    px = F.unhex(
        F.lpad(F.hex((F.col("doc_id") % 251).cast("int")), 2, "0")
    )
    good = F.concat(F.lit(b"P5\n4 4\n255\n"), *([px] * 16))
    bad = F.concat(F.lit(b"P5\n4 4\n255\n"), *([px] * 7))
    payload = F.when(F.col("doc_id") % 3 == 2, bad).otherwise(good)
    out = pnm_stats(d.withColumn("payload", payload))
    return out.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        F.round("mean_intensity", 6).alias("mean_intensity"),
    )


@query("q_topo_levels")
def q_topo_levels(spark, sf_dir):
    """DAG scheduling depth (operators/graph.py:topological_levels)
    over the doc-id halving tree (edges doc//2 → doc): longest-path
    level numbers via relational max-propagation rounds. Closed-form
    oracle: level(v) = floor(log2 v) + 1, level(0) = 0 — the
    iterative peel must land exactly on the analytic answer."""
    from pipeline_dataengineer_spark.operators.graph import (
        topological_levels,
    )

    d = table(spark, sf_dir, "documents").select("doc_id")
    edges = d.filter(F.col("doc_id") >= 1).select(
        F.floor(F.col("doc_id") / 2).cast("long").alias("src"),
        F.col("doc_id").alias("dst"),
    )
    out = topological_levels(edges, max_iterations=40)
    return out.select(
        "node", F.col("level").cast("long").alias("level")
    )


@query("q_network_days")
def q_network_days(spark, sf_dir):
    """Business-day range counting (functions/dates.py:network_days):
    NETWORKDAYS(orderdate, orderdate + orderkey%40 − 5) per order —
    closed-form integer arithmetic, one fused projection (negative
    spans exercise the reversed-range sign). Oracle replays the
    identical 5·⌊n/7⌋ + min(n mod 7, 5) prefix-count algebra."""
    from pipeline_dataengineer_spark.functions.dates import network_days

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            F.pmod("o_orderkey", F.lit(40)).cast("int") - F.lit(5),
        ).alias("e"),
    )
    return o.select(
        "o_orderkey",
        network_days("s", "e").alias("busdays"),
    )


@query("q_asof_tolerance")
def q_asof_tolerance(spark, sf_dir):
    """As-of join with a match-distance bound (operators/joins.py:
    asof_join tolerance=500, pandas merge_asof semantics): the latest
    purchase at-or-before each click, but only within 500 event-ids —
    staler matches null out instead of joining. Same single-shuffle
    union+window plan; the bound is one fused post-filter."""
    from pipeline_dataengineer_spark.operators.joins import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.round("value", 2).alias("purchase_value"),
    )
    return asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="event_id",
        right_ts="purchase_event_id",
        tolerance=500,
    )


@query("q_dataset_card")
def q_dataset_card(spark, sf_dir):
    """Corpus nutrition label (pipelines/dataset_card.py:
    build_dataset_card): one row of release-gate stats — sizes, exact
    token percentiles, verbatim-duplicate rate, language histogram —
    in two combinable aggregate passes. Oracle replays every stat
    including the interpolated percentiles and the lang-sorted
    histogram array."""
    from pipeline_dataengineer_spark.pipelines.dataset_card import (
        build_dataset_card,
    )

    card = build_dataset_card(
        table(spark, sf_dir, "documents"), "text", "lang"
    )
    # flatten the histogram for the driver compare (nested structs
    # don't canonicalize across engines)
    return card.select(
        "n_docs",
        "total_chars",
        "total_tokens",
        "median_tokens",
        "p90_tokens",
        "distinct_text_rate",
        F.array_join(
            F.transform(
                "langs",
                lambda s: F.concat_ws(
                    ":", s["lang"], s["n_docs"].cast("string")
                ),
            ),
            ",",
        ).alias("langs"),
    )


@query("q_record_linkage")
def q_record_linkage(spark, sf_dir):
    """Record linkage (operators/joins.py:link_records): two
    deterministic part-name universes (every 6th vs every 9th part)
    matched by blocked Jaro-Winkler mutual-best 1:1 at >= 0.9. The
    oracle replays blocking, DuckDB's independent
    jaro_winkler_similarity, and both rank cuts."""
    from pipeline_dataengineer_spark.operators.joins import link_records

    p = table(spark, sf_dir, "part")
    a = p.filter(F.col("p_partkey") % 6 == 0).select("p_partkey", "p_name")
    b = p.filter(F.col("p_partkey") % 9 == 0).select(
        F.col("p_partkey").alias("bk"), F.col("p_name").alias("bn")
    )
    out = link_records(
        a, b, "p_partkey", "bk", "p_name", "bn", threshold=0.9,
        block_chars=3,
    )
    return out.select("key_a", "key_b", "score")


@query("q_hilbert")
def q_hilbert(spark, sf_dir):
    """Hilbert-curve cell index (operators/layout.py:hilbert_index):
    order-8 index of (custkey % 256, custkey//7 % 256) — the
    locality-preserving layout key, as one fused when/shift/xor
    projection. Oracle replays the identical unrolled
    quadrant-rotation rounds as generated SQL (integer-exact)."""
    from pipeline_dataengineer_spark.operators.layout import (
        with_hilbert_index,
    )

    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 256).alias("x"),
        (F.floor(F.col("c_custkey") / 7) % 256).alias("y"),
    )
    out = with_hilbert_index(c, "x", "y", out="h", order=8)
    return out.select("c_custkey", "h")


@query("q_shapley_attr")
def q_shapley_attr(spark, sf_dir):
    """Exact Shapley channel attribution (operators/attribution.py:
    shapley_attribution): purchase = conversion, the other four
    event types = touch channels; v(S) from one channel-set-sized
    count table, closed-form weighted marginals on the driver. The
    oracle enumerates the same 2^4 coalitions with identical weight
    literals and term order, so the float accumulation is
    bit-replayable; round(6)."""
    from pipeline_dataengineer_spark.operators.attribution import (
        shapley_attribution,
    )

    e = table(spark, sf_dir, "events").select("user_id", "event_type")
    out = shapley_attribution(
        e, "user_id", "event_type", conversion_channel="purchase"
    )
    return out.select(
        "event_type", F.round("shapley", 6).alias("shapley")
    )


def _id3_template() -> tuple[bytes, bytes]:
    """ID3v2.3 blob with a 3-digit hole in the TIT2 text: header +
    TIT2 'Song DDD' (latin-1) + TPE1 'ACME Band', then fake audio."""
    def frame(fid: bytes, text: bytes) -> bytes:
        data = b"\x00" + text  # latin-1 encoding byte
        return fid + len(data).to_bytes(4, "big") + b"\x00\x00" + data

    tit2 = frame(b"TIT2", b"Song ___")  # ___ = the per-row digits
    tpe1 = frame(b"TPE1", b"ACME Band")
    body = tit2 + tpe1
    n = len(body)
    hdr = b"ID3" + bytes([3, 0, 0]) + bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )
    blob = hdr + body + b"\xff\xfb\x00audio"
    i = blob.index(b"___")
    return blob[:i], blob[i + 3 :]


@query("q_id3")
def q_id3(spark, sf_dir):
    """REAL ID3v2 tag parsing, hash-checked (multimodal/media.py:
    id3_metadata): per-document MP3-style payloads assembled in
    column space with a planted 3-digit title suffix; the Arrow pass
    walks the frame structure and recovers it. Every 4th row carries
    no tag and must come back NULL. Analytic oracle — Spark must
    EXTRACT the planted values from the binary."""
    from pipeline_dataengineer_spark.multimodal.media import id3_metadata

    pre, post = _id3_template()
    d = table(spark, sf_dir, "documents").select("doc_id")
    digits = F.lpad((F.col("doc_id") % 100).cast("string"), 3, "0")
    tagged = F.concat(F.lit(pre), F.encode(digits, "UTF-8"), F.lit(post))
    payload = F.when(
        F.col("doc_id") % 4 == 3, F.lit(b"\xff\xfb\x00bare audio")
    ).otherwise(tagged)
    out = id3_metadata(d.withColumn("payload", payload))
    return out.select("doc_id", "title", "artist", "album", "year")


def _pdf_template() -> tuple[bytes, bytes]:
    """Minimal uncompressed PDF with a 3-digit hole in the shown
    text: (prefix, suffix) around the digits — fixed-width hole so
    /Length stays correct for every row."""
    content = b"BT /F1 12 Tf 72 700 Td (Report ___) Tj ET"
    blob = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream\nendobj\ntrailer\n%%EOF"
    )
    i = blob.index(b"___")
    return blob[:i], blob[i + 3 :]


@query("q_pdf_text")
def q_pdf_text(spark, sf_dir):
    """REAL PDF text extraction, hash-checked (multimodal/pdf.py:
    pdf_text_extract): per-document PDFs assembled in column space
    with a planted 3-digit report number inside the Tj operator; the
    Arrow pass must walk the stream and decode the literal. Every
    5th row is a textless PDF and must come back NULL."""
    from pipeline_dataengineer_spark.multimodal.pdf import (
        pdf_text_extract,
    )

    pre, post = _pdf_template()
    d = table(spark, sf_dir, "documents").select("doc_id")
    digits = F.lpad((F.col("doc_id") % 100).cast("string"), 3, "0")
    good = F.concat(F.lit(pre), F.encode(digits, "UTF-8"), F.lit(post))
    payload = F.when(
        F.col("doc_id") % 5 == 4, F.lit(b"%PDF-1.4\n%%EOF")
    ).otherwise(good)
    out = pdf_text_extract(d.withColumn("payload", payload))
    return out.select("doc_id", "pdf_text", "n_text_chars")


@query("q_rbo")
def q_rbo(spark, sf_dir):
    """Rank-Biased Overlap (operators/ranking_eval.py:
    rank_biased_overlap): two deterministic length-5 rankings per
    document (modular permutations of a 7-item universe) compared at
    p=0.9 — pure array algebra riding the scan. Fixed depth lets the
    oracle unroll the exact 5-term fold (identical operand order +
    p-power literals), so the float path is bit-replayable."""
    from pipeline_dataengineer_spark.operators.ranking_eval import (
        rank_biased_overlap,
    )

    d = table(spark, sf_dir, "documents").select("doc_id")
    a = F.array(
        *[(F.col("doc_id") + i) % 7 for i in range(5)]
    )
    b = F.array(
        *[(F.col("doc_id") * 3 + i) % 7 for i in range(5)]
    )
    out = rank_biased_overlap(
        d.withColumn("ra", a).withColumn("rb", b), "ra", "rb", p=0.9
    )
    return out.select("doc_id", "rbo")


@query("q_fd_check")
def q_fd_check(spark, sf_dir):
    """Functional-dependency audit (operators/quality.py:
    fd_violations): does o_custkey determine o_orderpriority? (It
    doesn't — customers order at many priorities.) One combinable
    aggregate; output is violation-sized with deterministic sorted
    example slices."""
    from pipeline_dataengineer_spark.operators.quality import (
        fd_violations,
    )

    o = table(spark, sf_dir, "orders")
    out = fd_violations(o, ["o_custkey"], "o_orderpriority")
    return out.select(
        "o_custkey",
        F.col("n_distinct_rhs").cast("long").alias("n_distinct_rhs"),
        F.array_join("examples", ",").alias("examples"),
    )


@query("q_chat_validate")
def q_chat_validate(spark, sf_dir):
    """SFT conversation gating (operators/chat.py:
    conversation_stats): synthetic chats assembled in column space —
    a third well-formed (system/user/assistant with a planted
    variable-length user turn), a third ending on the user (truncated
    example), a third with an unknown role — validated, flattened,
    and token-budgeted in one fused projection. Oracle computes the
    planted ground truth analytically."""
    from pipeline_dataengineer_spark.operators.chat import (
        conversation_stats,
    )

    d = table(spark, sf_dir, "documents").select("doc_id")
    user_words = F.trim(
        F.repeat(F.lit("w "), (F.col("doc_id") % 5 + 1).cast("int"))
    )
    sys_t = F.struct(
        F.lit("system").alias("role"), F.lit("be brief").alias("content")
    )
    usr_t = F.struct(F.lit("user").alias("role"), user_words.alias("content"))
    ast_t = F.struct(
        F.lit("assistant").alias("role"), F.lit("ok sure").alias("content")
    )
    bad_role = F.struct(
        F.lit("bot").alias("role"), F.lit("beep").alias("content")
    )
    msgs = (
        F.when(F.col("doc_id") % 3 == 0, F.array(sys_t, usr_t))
        .when(F.col("doc_id") % 3 == 1, F.array(bad_role, ast_t))
        .otherwise(F.array(sys_t, usr_t, ast_t))
    )
    out = conversation_stats(d.withColumn("messages", msgs))
    return out.select(
        "doc_id",
        F.col("n_turns").cast("int").alias("n_turns"),
        "valid",
        "user_tokens",
        "assistant_tokens",
        "flat_text",
    )


@query("q_chat_spans")
def q_chat_spans(spark, sf_dir):
    """SFT loss-mask spans (operators/chat.py:assistant_spans): the
    1-based character spans of assistant content inside the flattened
    rendering, for the same three-way conversation fixture as
    q_chat_validate — flattened to 's:e' strings for the compare.
    Oracle computes the offsets analytically from the planted turn
    widths; the pytest property (slices recover content) guards the
    general case."""
    from pipeline_dataengineer_spark.operators.chat import (
        assistant_spans,
    )

    d = table(spark, sf_dir, "documents").select("doc_id")
    user_words = F.trim(
        F.repeat(F.lit("w "), (F.col("doc_id") % 5 + 1).cast("int"))
    )
    sys_t = F.struct(
        F.lit("system").alias("role"), F.lit("be brief").alias("content")
    )
    usr_t = F.struct(F.lit("user").alias("role"), user_words.alias("content"))
    ast_t = F.struct(
        F.lit("assistant").alias("role"), F.lit("ok sure").alias("content")
    )
    bad_role = F.struct(
        F.lit("bot").alias("role"), F.lit("beep").alias("content")
    )
    msgs = (
        F.when(F.col("doc_id") % 3 == 0, F.array(sys_t, usr_t))
        .when(F.col("doc_id") % 3 == 1, F.array(bad_role, ast_t))
        .otherwise(F.array(sys_t, usr_t, ast_t))
    )
    out = d.withColumn("spans", assistant_spans(msgs))
    return out.select(
        "doc_id",
        F.array_join(
            F.transform(
                "spans",
                lambda sp: F.concat_ws(
                    ":", sp["s"].cast("string"), sp["e"].cast("string")
                ),
            ),
            ",",
        ).alias("spans"),
    )


@query("q_grouped_ols")
def q_grouped_ols(spark, sf_dir):
    """Per-group OLS trend (operators/timeseries.py:grouped_ols):
    order totalprice regressed on order day per priority — one
    combinable six-sum aggregate per group, closed-form algebra.
    Oracle replays the identical operand order; round(6)."""
    from pipeline_dataengineer_spark.operators.timeseries import (
        grouped_ols,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.unix_date(F.col("o_orderdate").cast("date")).alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    return grouped_ols(o, ["o_orderpriority"], "x", "y")


@query("q_generalize_dates")
def q_generalize_dates(spark, sf_dir):
    """Generalization-model k-anonymity (operators/privacy.py:
    generalize_dates_to_k): orders (orderdate, priority) coarsened
    along day→week→month→quarter→year until every class holds >= 40
    rows; the chosen rung is data-driven. Oracle replays the ladder
    decision (five min-class-size CTEs) and the winning trunc —
    Spark and DuckDB both use ISO Monday weeks."""
    from pipeline_dataengineer_spark.operators.privacy import (
        generalize_dates_to_k,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderpriority",
    )
    gen, level = generalize_dates_to_k(
        o, "d", ["o_orderpriority"], k=15, out_col="d_gen"
    )
    return gen.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("d_gen").cast("date").alias("d_gen"),
        F.lit(level).alias("level"),
    )


@query("q_kn_ppl")
def q_kn_ppl(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity (operators/
    text_features.py:train_kn_bigram_lm/kn_score), self-scored over
    documents — the classic smoothed upgrade of q_ngram_lm_ppl's
    conditional LM. All three LM tables are vocabulary-bounded and
    broadcast; the corpus never shuffles to score. Oracle replays the
    full KN algebra (absolute discount, continuation mass, λ
    interpolation) with identical operand shapes; round(4)."""
    from pipeline_dataengineer_spark.operators.text_features import (
        kn_score,
        train_kn_bigram_lm,
    )

    docs = table(spark, sf_dir, "documents")
    lm = train_kn_bigram_lm(docs)
    out = kn_score(docs, lm)
    return out.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "ppl",
    )


@query("q_nelson_aalen")
def q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard (operators/survival.py:
    nelson_aalen) per market segment over the same Lehmer-derived
    duration fixture as q_kaplan_meier — the additive estimator is a
    pure running sum, so the oracle replay is exact by construction;
    round(6)."""
    from pipeline_dataengineer_spark.operators.sampling import portable_bucket
    from pipeline_dataengineer_spark.operators.survival import nelson_aalen

    c = table(spark, sf_dir, "customer").select("c_mktsegment", "c_custkey")
    subjects = c.select(
        "c_mktsegment",
        portable_bucket(F.col("c_custkey"), 40).alias("duration"),
        (portable_bucket(F.col("c_custkey") + 3, 10) < 8)
        .cast("int")
        .alias("event"),
    )
    out = nelson_aalen(subjects, ["c_mktsegment"], "duration", "event")
    return out.select(
        "c_mktsegment",
        F.col("t").cast("long").alias("t"),
        "n_risk",
        "n_event",
        "cum_hazard",
        "hazard_var",
    )


@query("q_sft_dataset")
def q_sft_dataset(spark, sf_dir):
    """Integration: the SFT dataset pipeline (pipelines/
    sft_dataset.py) over synthetic conversations built from the
    documents table — gate → fingerprint dedup → per-source token
    budget → training rows with loss spans. PROMOTED to a full oracle
    round 9 (rows-only since round 5) by component replay: the
    xxhash64 dedup fingerprint is a pure proxy for equality of the
    whitespace-normalized flat rendering, so the oracle dedups on
    the normalized STRING itself; gate, token counts, and the
    portable-scramble budget replay in SQL (the same twins behind
    q_chat_validate / q_dedup_lastwins / q_token_budget, composed)."""
    from pipeline_dataengineer_spark.pipelines.sft_dataset import (
        build_sft_dataset,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    usr = F.struct(
        F.lit("user").alias("role"),
        F.substring("text", 1, 80).alias("content"),
    )
    ast = F.struct(
        F.lit("assistant").alias("role"),
        F.concat(F.lit("re: "), F.substring("text", 1, 40)).alias(
            "content"
        ),
    )
    bad = F.struct(F.lit("user").alias("role"), F.lit("x").alias("content"))
    msgs = (
        F.when(F.col("doc_id") % 7 == 6, F.array(bad))  # invalid tail
        .otherwise(F.array(usr, ast))
    )
    convs = d.select(
        F.col("doc_id").alias("conv_id"),
        F.col("lang").alias("source"),
        msgs.alias("messages"),
    )
    out = build_sft_dataset(
        convs,
        source_col="source",
        token_budgets={"en": 5000, "fr": 2000, "de": 2000, "es": 2000, "zh": 500},
    )
    return out.select(
        "conv_id", "source", "n_turns", "user_tokens", "assistant_tokens"
    )


@query("q_lag_features")
def q_lag_features(spark, sf_dir):
    """Leakage-safe feature bundle (operators/feature_store.py:
    make_lag_features): per-user lag/diff/trailing-roll features over
    event values — every feature computable strictly before t, the
    whole bundle one WindowExec pass. Oracle replays the identical
    frames."""
    from pipeline_dataengineer_spark.operators.feature_store import (
        make_lag_features,
    )

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 2).alias("v")
    )
    out = make_lag_features(
        e, ["user_id"], "event_id", "v", lags=(1, 3), roll_windows=(5,)
    )
    return out.select(
        "event_id",
        "user_id",
        "v",
        "lag_1",
        "lag_3",
        "diff_1",
        "roll5_mean",
        "roll5_min",
        "roll5_max",
    )


@query("q_median_ci")
def q_median_ci(spark, sf_dir):
    """Distribution-free median CI (operators/robust.py:median_ci):
    per-priority order-statistic bounds on the totalprice median
    (sign-test inversion, normal-approximated ranks) — one window
    pass, group-sized output. Oracle replays the identical rank
    bounds and boundary-row selection; round(2)."""
    from pipeline_dataengineer_spark.operators.robust import median_ci

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.round("o_totalprice", 2).alias("p")
    )
    out = median_ci(o, ["o_orderpriority"], "p")
    return out.select(
        "o_orderpriority",
        "n",
        F.round("median", 2).alias("median"),
        F.round("ci_lo", 2).alias("ci_lo"),
        F.round("ci_hi", 2).alias("ci_hi"),
    )


@query("q_mann_kendall")
def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotone-trend test (operators/stats_tests.py:
    mann_kendall) on per-priority daily order counts — exact S via
    vectorized sign pairs in one grouped-map pass. Oracle replays the
    test brute-force (pair self-join, tie-corrected variance,
    continuity-corrected z); S is integer-exact so round(6) on z is
    safe."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        mann_kendall,
    )

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
    )
    out = mann_kendall(daily, ["o_orderpriority"], "d", "v")
    return out.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("s"),
        F.round("var_s", 6).alias("var_s"),
        F.round("z", 6).alias("z"),
    )


@query("q_ece")
def q_ece(spark, sf_dir):
    """Expected Calibration Error (operators/calibration.py:
    expected_calibration_error): a deterministic synthetic scorer
    (score = Lehmer bucket / 100, label = score-biased threshold on a
    second bucket) binned into the 10-bin reliability table + ECE —
    one combinable groupBy then 10-row algebra. Oracle replays bins
    and the weighted-gap sum."""
    from pipeline_dataengineer_spark.operators.calibration import (
        expected_calibration_error,
    )
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_bucket,
    )

    c = table(spark, sf_dir, "customer").select(
        (portable_bucket(F.col("c_custkey"), 100) / 100.0).alias("score"),
        (
            portable_bucket(F.col("c_custkey") + 7, 100)
            < portable_bucket(F.col("c_custkey"), 100) + 15
        )
        .cast("int")
        .alias("label"),
    )
    out = expected_calibration_error(c, "score", "label")
    return out.select("bin", "n", "conf", "acc", "gap", "ece")


@query("q_log_rank")
def q_log_rank(spark, sf_dir):
    """Two-sample log-rank test (operators/survival.py:
    log_rank_test) between BUILDING and MACHINERY customers on the
    Lehmer-derived duration fixture — O−E and hypergeometric variance
    accumulated over the union time grid (cells-not-facts). Oracle
    replays the same grid arithmetic; round(6)."""
    from pipeline_dataengineer_spark.operators.sampling import portable_bucket
    from pipeline_dataengineer_spark.operators.survival import log_rank_test

    c = table(spark, sf_dir, "customer").select("c_mktsegment", "c_custkey")
    subjects = c.select(
        "c_mktsegment",
        portable_bucket(F.col("c_custkey"), 40).alias("duration"),
        (portable_bucket(F.col("c_custkey") + 3, 10) < 8)
        .cast("int")
        .alias("event"),
    )
    out = log_rank_test(
        subjects, "c_mktsegment", "duration", "event",
        "BUILDING", "MACHINERY",
    )
    return out.select("o_a", "e_a", "chi2", "n_a", "n_b")


@query("q_brier")
def q_brier(spark, sf_dir):
    """Brier score + Murphy decomposition (operators/calibration.py:
    brier_decomposition) over the q_ece synthetic scorer — REL − RES
    + UNC with the within-bin identity gap exposed. Two combinable
    aggregates; oracle replays the identical algebra."""
    from pipeline_dataengineer_spark.operators.calibration import (
        brier_decomposition,
    )
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_bucket,
    )

    c = table(spark, sf_dir, "customer").select(
        (portable_bucket(F.col("c_custkey"), 100) / 100.0).alias("score"),
        (
            portable_bucket(F.col("c_custkey") + 7, 100)
            < portable_bucket(F.col("c_custkey"), 100) + 15
        )
        .cast("int")
        .alias("label"),
    )
    return brier_decomposition(c, "score", "label")


@query("q_roc_auc")
def q_roc_auc(spark, sf_dir):
    """Exact ROC-AUC + Gini (operators/calibration.py:roc_auc) for
    the q_ece synthetic scorer via the tie-corrected rank-sum
    identity. Oracle replays the average-rank formula."""
    from pipeline_dataengineer_spark.operators.calibration import roc_auc
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_bucket,
    )

    c = table(spark, sf_dir, "customer").select(
        (portable_bucket(F.col("c_custkey"), 100) / 100.0).alias("score"),
        (
            portable_bucket(F.col("c_custkey") + 7, 100)
            < portable_bucket(F.col("c_custkey"), 100) + 15
        )
        .cast("int")
        .alias("label"),
    )
    return roc_auc(c, "score", "label")


@query("q_avg_precision")
def q_avg_precision(spark, sf_dir):
    """Average Precision (operators/calibration.py:
    average_precision) for the same scorer — step-interpolated AP
    with the pessimistic tie-break (positives after negatives at
    equal scores), so the cut is deterministic cross-engine."""
    from pipeline_dataengineer_spark.operators.calibration import (
        average_precision,
    )
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_bucket,
    )

    c = table(spark, sf_dir, "customer").select(
        (portable_bucket(F.col("c_custkey"), 100) / 100.0).alias("score"),
        (
            portable_bucket(F.col("c_custkey") + 7, 100)
            < portable_bucket(F.col("c_custkey"), 100) + 15
        )
        .cast("int")
        .alias("label"),
    )
    return average_precision(c, "score", "label")


def _tiff_template() -> tuple[bytes, bytes]:
    """Little-endian standalone TIFF with a 2-byte hole for the
    per-row width SHORT: header + 3-entry IFD (width, height, make)."""
    import struct

    def u16(v):
        return struct.pack("<H", v)

    def u32(v):
        return struct.pack("<I", v)

    make = b"Scanner Co\x00"

    def entry(tag, typ, cnt, val4):
        return u16(tag) + u16(typ) + u32(cnt) + val4

    pre = (
        b"II" + u16(42) + u32(8)
        + u16(3)
        + u16(256) + u16(3) + u32(1)  # width entry head; 2-byte hole next
    )
    post = (
        b"\x00\x00"  # SHORT pad
        + entry(257, 4, 1, u32(480))
        + entry(271, 2, len(make), u32(50))
        + u32(0)
        + make
    )
    return pre, post


@query("q_tiff")
def q_tiff(spark, sf_dir):
    """REAL standalone-TIFF parsing, hash-checked (multimodal/
    media.py:tiff_metadata): per-row width planted into the IFD
    SHORT in column space, recovered by walking the structure; every
    6th row is a non-TIFF blob and must come back NULL."""
    from pipeline_dataengineer_spark.multimodal.media import tiff_metadata

    pre, post = _tiff_template()
    d = table(spark, sf_dir, "documents").select("doc_id")
    width = (F.col("doc_id") % 500 + 1).cast("int")
    # little-endian SHORT: low byte then high byte
    lo = F.unhex(F.lpad(F.hex(width % 256), 2, "0"))
    hi = F.unhex(F.lpad(F.hex(F.floor(width / 256).cast("int")), 2, "0"))
    good = F.concat(F.lit(pre), lo, hi, F.lit(post))
    payload = F.when(
        F.col("doc_id") % 6 == 5, F.lit(b"GIF89a not tiff")
    ).otherwise(good)
    out = tiff_metadata(d.withColumn("payload", payload))
    return out.select(
        "doc_id", "width", "height", "make", "orientation", "taken_at"
    )


@query("q_rate_limit_replay")
def q_rate_limit_replay(spark, sf_dir):
    """Token-bucket quota replay (operators/incremental.py:
    rate_limit_replay — the batch twin of streaming/stateful.py:
    rate_limit): per-user admission decisions over the event stream
    at capacity 5, refill 0.001/s. The recursive-CTE oracle replays
    the clamp/decrement recursion with identical IEEE754 operand
    order, hash-checking the rate-limiter SEMANTICS the streaming
    operator shares."""
    from pipeline_dataengineer_spark.operators.incremental import (
        rate_limit_replay,
    )

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("t")
    )
    out = rate_limit_replay(
        e, ["user_id"], "t", capacity=5, refill_per_sec=0.001,
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        "admitted",
        F.round("tokens_left", 6).alias("tokens_left"),
    )


@query("q_trimmed_mean")
def q_trimmed_mean(spark, sf_dir):
    """10% symmetric trimmed mean of order totals per priority
    (operators/robust.py:trimmed_mean) — rank-based interior average,
    one window pass. Oracle replays the identical rank cut."""
    from pipeline_dataengineer_spark.operators.robust import trimmed_mean

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.round("o_totalprice", 2).alias("p")
    )
    return trimmed_mean(o, ["o_orderpriority"], "p", trim=0.1)


@query("q_two_proportion")
def q_two_proportion(spark, sf_dir):
    """Conversion A/B read-out (operators/stats_tests.py:
    two_proportion_test): BUILDING vs MACHINERY customers'
    positive-balance rate — pooled z plus per-arm Wilson CIs, one
    combinable aggregate. Oracle replays the identical algebra."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        two_proportion_test,
    )

    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment", (F.col("c_acctbal") > 0).cast("int").alias("conv")
    )
    return two_proportion_test(
        c, "c_mktsegment", "conv", "BUILDING", "MACHINERY"
    )


@query("q_cohort_ltv")
def q_cohort_ltv(spark, sf_dir):
    """Cohort LTV curves (operators/events.py:cohort_ltv): users
    cohorted by first-event month, event value accumulated by cohort
    age — cells-not-facts windows, broadcast cohort sizes. Oracle
    replays cohorting, month ages, and the cumulative curve."""
    from pipeline_dataengineer_spark.operators.events import cohort_ltv

    e = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return cohort_ltv(e, "user_id", "ts", "value", period="week")


@query("q_countmin_str")
def q_countmin_str(spark, sf_dir):
    """Count-Min over STRING keys (functions/sketches.py:
    cm_hash_str) — word frequencies over the documents corpus, the
    textbook CM workload the module header promises. String tokens
    hash through the portable base-31 codepoint polynomial before
    the affine bucket family, so the whole build+estimate replays
    bit-for-bit in DuckDB (cm_hash_str_sql + cm_bucket_sql);
    previously string keys cast to NULL and every estimate silently
    came back 0 (round-4 ADVICE). Probes = longer tokens (len >= 4);
    est >= true rides into the oracle compare."""
    from pipeline_dataengineer_spark.functions.sketches import (
        cm_estimate,
        cm_states,
    )

    toks = (
        table(spark, sf_dir, "documents")
        .select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
    )
    state = cm_states(toks, [], "tok", depth=4, width=512)
    items = toks.filter(F.length("tok") >= 4).select("tok").distinct()
    est = cm_estimate(state, items, "tok", depth=4, width=512)
    true = (
        toks.filter(F.length("tok") >= 4)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return est.join(true, "tok").select("tok", "est_count", "true_count")


@query("q_ivfpq_self_top1")
def q_ivfpq_self_top1(spark, sf_dir):
    """IVF-PQ LOSSY-config oracle twin (round 8 — the q_ivf_exact
    pattern applied to PQ): with nprobe = all cells and corpus
    vectors as queries, the top-1 hit must be the query itself —
    a vector's own 16-entry residual reconstruction error is far
    below any other vector's distance in 64-d embeddings (verified
    at every tier), so (query_id, vec_id, rank) has the closed form
    (v, v, 1). This puts the REALISTIC quantized configuration under
    an oracle; q_ivfpq_exact covers the lossless algebra, and
    q_ivfpq_topk keeps the rows-only realistic search shape."""
    from pipeline_dataengineer_spark.operators.pq import (
        ivfpq_build,
        ivfpq_search,
    )

    e = table(spark, sf_dir, "embeddings")
    cents, enc, books = ivfpq_build(
        e, num_centroids=8, m=8, codebook_size=16, sample_size=4096,
        refine_iterations=4,
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_search(cents, enc, books, q, k=1, nprobe=8)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id")


@query("q_ivfpq_topk")
def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ at a PARTIAL probe (operators/pq.py: ivfpq_build/
    ivfpq_search — 16-entry residual codebooks, nprobe=4 of 8 cells),
    PROMOTED to a full oracle round 10 (rows-only rounds 1-9) via
    corpus-as-queries self-top1: a vector's encoded cell is its
    nearest centroid, so its rank-1 probe always contains it, and its
    own ADC distance is its quantization error — far below any other
    vector's ADC distance in 64-d (the q_ivfpq_self_top1 margin,
    verified at every tier for nprobe=all; a partial probe only
    SHRINKS the candidate set and never removes self, so the top-1
    closed form (v, v, 1) holds a fortiori). This puts the probe
    RANKING + CUT path under an oracle — the piece q_ivfpq_self_top1
    (nprobe=all) and q_ivfpq_exact (lossless algebra) don't cover.
    dist2 stays engine-specific (quantization error) and is dropped
    from the checked output; realistic k=10 recall stays enforced by
    tests/test_pq.py::test_ivfpq_lossy_recall_floor (mean recall@10
    vs brute force >= 0.3 full-probe / >= 0.15 half-probe)."""
    from pipeline_dataengineer_spark.operators.pq import (
        ivfpq_build,
        ivfpq_search,
    )

    e = table(spark, sf_dir, "embeddings")
    cents, enc, books = ivfpq_build(
        e, num_centroids=8, m=8, codebook_size=16, sample_size=4096,
        refine_iterations=4,
    )
    q = e.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_search(cents, enc, books, q, k=1, nprobe=4)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id")


@query("q_theil_sen")
def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend per priority (operators/stats_tests.py:
    theil_sen) on the same daily-count series as q_mann_kendall —
    median pairwise slope + Conover intercept, exact via vectorized
    numpy in one grouped-map pass. Oracle replays the pair self-join
    and DuckDB's interpolating median (identical to numpy's)."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        theil_sen,
    )

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
        .select(
            "o_orderpriority",
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
            .cast("double")
            .alias("x"),
            "v",
        )
    )
    out = theil_sen(daily, ["o_orderpriority"], "x", "v")
    return out.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        "slope",
        "intercept",
    )


@query("q_page_hinkley")
def q_page_hinkley(spark, sf_dir):
    """Page-Hinkley sequential drift monitor (operators/timeseries.py:
    page_hinkley) over per-type event values ordered by event_id —
    pure cumulative-window algebra (running mean, cumulative
    deviation, running extrema), no UDF, so the oracle replays it
    bit-for-bit with the same total order."""
    from pipeline_dataengineer_spark.operators.timeseries import (
        page_hinkley,
    )

    e = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        # integer cents: the cumulative sum inside the running mean
        # is then EXACT (order-free), so mu is bit-identical across
        # engines and the quantized accumulation below is stable
        F.round(F.col("value") * 100).alias("v"),
    )
    return page_hinkley(
        e, ["event_type"], "event_id", "v",
        delta=10.0, threshold=50_000.0, quantize=6,
    )


@query("q_sprt")
def q_sprt(spark, sf_dir):
    """Wald SPRT per event type (operators/stats_tests.py:sprt):
    Bernoulli stream x = (value > 250) ordered by event_id, H0
    p=0.45 vs H1 p=0.55 at alpha=beta=0.05. Increments and
    boundaries are integer micro-nats, so the cumulative LLR and the
    first-crossing row are exact in both engines."""
    from pipeline_dataengineer_spark.operators.stats_tests import sprt

    e = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        (F.col("value") > 250).cast("int").alias("x"),
    )
    return sprt(
        e, ["event_type"], "event_id", "x",
        p0=0.45, p1=0.55, alpha=0.05, beta=0.05,
    )


@query("q_logistic_gd")
def q_logistic_gd(spark, sf_dir):
    """Distributed full-batch logistic regression (operators/
    linear_model.py:logistic_gd): 3 GD iterations on order features,
    each iteration ONE combinable aggregate of d+1 means — the
    driver holds only the coefficients. The oracle unrolls the same
    3 iterations as chained 1-row CTEs in pure SQL, so the entire
    training trajectory is hash-checked, not just the final score."""
    from pipeline_dataengineer_spark.operators.linear_model import (
        logistic_gd,
    )

    o = table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") / 100000.0).alias("x1"),
        ((F.col("o_custkey") % 100) / 100.0).alias("x2"),
        (F.col("o_orderstatus") == "F").cast("double").alias("y"),
    )
    return logistic_gd(
        o, ["x1", "x2"], "y", lr=0.5, l2=0.01, iterations=3
    )


@query("q_boxcox")
def q_boxcox(spark, sf_dir):
    """Box-Cox lambda selection by profile MLE (operators/scaling.py:
    boxcox_lambda) over order totals — the WHOLE 9-point grid rides
    one combinable aggregate (n, sum ln x, and per-lambda sum/sumsq),
    and the full (lam, loglik, best) table hash-checks against the
    oracle's replay of the same likelihood algebra."""
    from pipeline_dataengineer_spark.operators.scaling import (
        boxcox_lambda,
    )

    o = table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") / 1000.0).alias("x")
    )
    return boxcox_lambda(o, "x")


@query("q_quantile_reg")
def q_quantile_reg(spark, sf_dir):
    """Linear quantile regression by pinball subgradient descent
    (operators/linear_model.py:quantile_regression_gd): 5 iterations,
    tau=0.5, one combinable aggregate each — the oracle unrolls the
    identical trajectory in chained 1-row CTEs (the indicator
    subgradient is exactly replayable)."""
    from pipeline_dataengineer_spark.operators.linear_model import (
        quantile_regression_gd,
    )

    o = table(spark, sf_dir, "orders").select(
        ((F.col("o_custkey") % 100) / 100.0).alias("x1"),
        (F.col("o_totalprice") / 100000.0).alias("y"),
    )
    return quantile_regression_gd(
        o, ["x1"], "y", tau=0.5, lr=0.5, iterations=5
    )


@query("q_poisson_reg")
def q_poisson_reg(spark, sf_dir):
    """Poisson regression by log-link gradient descent
    (operators/linear_model.py:poisson_gd): 3 iterations on a count
    target, oracle-unrolled like q_logistic_gd."""
    from pipeline_dataengineer_spark.operators.linear_model import (
        poisson_gd,
    )

    o = table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") / 100000.0).alias("x1"),
        (F.col("o_custkey") % 4).cast("double").alias("y"),
    )
    return poisson_gd(o, ["x1"], "y", lr=0.1, iterations=3)


@query("q_cox_ph")
def q_cox_ph(spark, sf_dir):
    """Cox proportional hazards (operators/survival.py:cox_ph) on the
    Lehmer-derived duration fixture with c_acctbal/10000 as the
    covariate — 2 gradient-ascent iterations in the quantize=9
    engine-exact mode (risk-set sums accumulate as integer
    nano-units, order-free), oracle-unrolled with the identical
    window algebra. Completes the survival suite (KM, Nelson-Aalen,
    log-rank) with covariate effect sizes."""
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_bucket,
    )
    from pipeline_dataengineer_spark.operators.survival import cox_ph

    c = table(spark, sf_dir, "customer").select(
        portable_bucket(F.col("c_custkey"), 40).alias("t"),
        (portable_bucket(F.col("c_custkey") + 3, 10) < 8)
        .cast("int")
        .alias("ev"),
        (F.col("c_acctbal") / 10000.0).alias("x"),
    )
    return cox_ph(
        c, "t", "ev", ["x"], lr=0.05, iterations=2, quantize=9
    )


@query("q_rowgroup_stats")
def q_rowgroup_stats(spark, sf_dir):
    """Parquet footer statistics scan (sources/parquet_meta.py:
    row_group_stats) — the data-skipping audit: per (file, row
    group, column) min/max/null/byte facts read from footers only,
    never a data page. Oracle: DuckDB's parquet_metadata() on the
    driver's sf0.01 files named literally (the table function only
    accepts constant parameters, so the path cannot come from a
    subquery; tools/verify_local.py rewrites it when sweeping other
    tiers). file_name reduced to its basename so results are
    location-independent."""
    import os as _os

    from pipeline_dataengineer_spark.sources.parquet_meta import (
        row_group_stats,
    )

    paths = [f"{sf_dir}/orders.parquet", f"{sf_dir}/customer.parquet"]
    st = row_group_stats(
        spark, paths,
        columns=["o_orderkey", "o_custkey", "o_orderstatus",
                 "c_custkey", "c_mktsegment"],
    )
    base = F.element_at(F.split(F.col("file_name"), "/"), -1)
    return st.select(
        base.alias("file_name"), "row_group_id", "num_rows",
        "column", "min_value", "max_value", "null_count",
        "compressed_bytes",
    )


@query("q_benjamini_hochberg")
def q_benjamini_hochberg(spark, sf_dir):
    """Benjamini-Hochberg FDR adjustment (operators/stats_tests.py:
    benjamini_hochberg) over a deterministic per-order pseudo
    p-value table — ascending rank + descending running-min,
    oracle-replayed bit-for-bit."""
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_bucket,
    )
    from pipeline_dataengineer_spark.operators.stats_tests import (
        benjamini_hochberg,
    )

    h = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select(
            F.col("o_orderkey").alias("hyp_id"),
            (portable_bucket(F.col("o_orderkey"), 100000) / 100000.0)
            .alias("p"),
        )
    )
    return benjamini_hochberg(h, "hyp_id", "p", alpha=0.05)


@query("q_propensity_att")
def q_propensity_att(spark, sf_dir):
    """Propensity-matched ATT (operators/causal.py:
    propensity_match_att): nearest-control-by-score matching with
    replacement as TWO ordered forward-fills over one score sort —
    no join, no per-row search. Scores are an injective Lehmer
    scramble (distinct, so tie-free and engine-deterministic);
    caliper drops distant pairs. Oracle replays both windows."""
    from pipeline_dataengineer_spark.operators.causal import (
        propensity_match_att,
    )

    c = table(spark, sf_dir, "customer").select(
        ((F.col("c_custkey") * 48271 % 99991) / 99991.0).alias("score"),
        ((F.col("c_custkey") * 16807 % 10) < 3).cast("int").alias("tr"),
        F.round("c_acctbal", 2).alias("y"),
    )
    return propensity_match_att(
        c, "tr", "y", "score", caliper=0.05
    )


@query("q_diff_in_diff")
def q_diff_in_diff(spark, sf_dir):
    """Difference-in-differences (operators/causal.py:diff_in_diff):
    2x2 treat/post cell means from ONE combinable aggregate, classic
    cell-variance standard error. Oracle replays the identical
    algebra."""
    from pipeline_dataengineer_spark.operators.causal import diff_in_diff

    e = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).cast("int").alias("tr"),
        (F.col("event_id") % 3 > 0).cast("int").alias("post"),
        F.round("value", 2).alias("y"),
    )
    return diff_in_diff(e, "tr", "post", "y")


@query("q_lift_gains")
def q_lift_gains(spark, sf_dir):
    """Decile lift & gains table (operators/calibration.py:
    lift_gains): customers ranked by balance, positives = BUILDING
    segment. Bucket = floor(rank·10/N) over the exact distributed
    global order (order.global_row_index — no single-task sort);
    oracle replays the identical formula with row_number."""
    from pipeline_dataengineer_spark.operators.calibration import lift_gains

    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    g = lift_gains(
        c.withColumn(
            "y", (F.col("c_mktsegment") == "BUILDING").cast("int")
        ),
        "c_acctbal",
        "y",
        "c_custkey",
        n_buckets=10,
    )
    return g.orderBy("bucket")


@query("q_conformal")
def q_conformal(spark, sf_dir):
    """Split-conformal prediction intervals (operators/calibration.py:
    split_conformal): calibration = even order keys, test = odd;
    per-priority mean predictor, half-width = the
    ceil((n+1)(1−α))-th smallest |residual| (the conformal order
    statistic). Oracle replays the identical split and rank."""
    from pipeline_dataengineer_spark.operators.calibration import (
        split_conformal,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return split_conformal(
        o, ["o_orderpriority"], "o_totalprice", "o_orderkey", alpha=0.1
    )


@query("q_entropy_l_div")
def q_entropy_l_div(spark, sf_dir):
    """Entropy l-diversity audit (operators/privacy.py:
    entropy_l_diversity): quasi = (nation, 2000-wide balance band),
    sensitive = market segment, l = 3. Cell-sized aggregation only —
    never fact-sized state. Oracle replays −Σ p·ln p per class."""
    from pipeline_dataengineer_spark.operators.privacy import (
        entropy_l_diversity,
    )

    c = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    return entropy_l_diversity(
        c, ["c_nationkey", "bal_band"], "c_mktsegment", l=3
    )


@query("q_adamic_adar")
def q_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (operators/graph.py:adamic_adar)
    over the same ring+chord co-nation graph as q_triangle_count:
    scores for non-adjacent distance-2 pairs, hub middles discounted
    by 1/ln(deg). Oracle = independent wedge SQL + NOT EXISTS."""
    from pipeline_dataengineer_spark.operators.graph import adamic_adar

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    ranked = c.withColumn("rn", F.row_number().over(w))
    e1 = ranked.alias("a").join(
        ranked.alias("b"),
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("b.rn") == F.col("a.rn") + 1),
    ).select(
        F.col("a.c_custkey").alias("src"), F.col("b.c_custkey").alias("dst")
    )
    e2 = ranked.alias("a").join(
        ranked.alias("b"),
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("b.rn") == F.col("a.rn") + 2),
    ).select(
        F.col("a.c_custkey").alias("src"), F.col("b.c_custkey").alias("dst")
    )
    return adamic_adar(e1.unionByName(e2))


@query("q_isotonic")
def q_isotonic(spark, sf_dir):
    """Per-priority isotonic regression (operators/calibration.py:
    isotonic_regression): monotone-in-month least-squares fit of
    order totals, PAV inside a grouped Arrow map. Oracle = the
    textbook minimax characterization fitted_i = max_{j<=i}
    min_{l>=i} mean(y[j..l]) over the pooled month points — an
    INDEPENDENT quadratic formulation, never a PAV replay."""
    from pipeline_dataengineer_spark.operators.calibration import (
        isotonic_regression,
    )

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("k"),
        F.month("o_orderdate").cast("long").alias("x"),
        F.round("o_totalprice", 2).alias("y"),
    )
    fit = isotonic_regression(o, ["k"], "x", "y")
    return fit.select(
        "k", "x", "y", F.round("fitted", 6).alias("fitted")
    )


@query("q_lof")
def q_lof(spark, sf_dir):
    """Local Outlier Factor (operators/similarity.py:
    local_outlier_factor) over the embeddings table, k = 5, with the
    sign-quadrant cell of the first two dimensions as the bucketed
    candidate space (the approximate-LOF reduction — neighbor search
    is an EQUI join, never all-pairs). Distances ranked at 4 decimals
    with an id tie-break so the kNN cut is engine-stable; oracle
    replays the identical cells, cut and reachability algebra."""
    from pipeline_dataengineer_spark.operators.similarity import (
        local_outlier_factor,
    )

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        (
            (F.col("embedding")[0] > 0).cast("int") * 2
            + (F.col("embedding")[1] > 0).cast("int")
        ).alias("cell"),
    )
    return local_outlier_factor(
        e, "vec_id", "embedding", k=5, bucket_col="cell"
    )


@query("q_roc_auc_dist")
def q_roc_auc_dist(spark, sf_dir):
    """q_roc_auc's query under a second name with q_roc_auc's oracle. The
    plan audit (tools/explain_audit.py) pins its scale-regime plan."""
    return q_roc_auc(spark, sf_dir)


@query("q_avg_precision_dist")
def q_avg_precision_dist(spark, sf_dir):
    """q_avg_precision's query under a second name with q_avg_precision's oracle. The
    plan audit (tools/explain_audit.py) pins its scale-regime plan."""
    return q_avg_precision(spark, sf_dir)


@query("q_propensity_att_dist")
def q_propensity_att_dist(spark, sf_dir):
    """q_propensity_att's query under a second name with q_propensity_att's oracle. The
    plan audit (tools/explain_audit.py) pins its scale-regime plan."""
    return q_propensity_att(spark, sf_dir)


@query("q_spearman")
def q_spearman(spark, sf_dir):
    """Spearman rank correlation (operators/stats_tests.py:
    spearman_rho) between lineitem quantity (heavy ties — 50 distinct
    values) and extended price, with average-rank tie handling.
    Oracle replays the distinct-value avg-rank identity and the
    closed-form Pearson-on-ranks moments."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        spearman_rho,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice"
    )
    return spearman_rho(li, "l_quantity", "l_extendedprice")


@query("q_spearman_dist")
def q_spearman_dist(spark, sf_dir):
    """q_spearman's query under a second name with q_spearman's oracle. The
    plan audit (tools/explain_audit.py) pins its scale-regime plan."""
    return q_spearman(spark, sf_dir)


@query("q_kendall")
def q_kendall(spark, sf_dir):
    """Kendall τ-b (operators/stats_tests.py:kendall_tau_b) between
    two bucketed ordinal features of orders — exact concordant and
    discordant counts by inversion counting over the (x, y) sort.
    Oracle replays distinct cells + a dominance self-join + tie
    terms, an independent formulation."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        kendall_tau_b,
    )

    o = table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 7).cast("double").alias("xa"),
        (F.floor(F.col("o_totalprice") / 50000)).cast("double").alias(
            "xb"
        ),
    )
    return kendall_tau_b(o, "xa", "xb")


@query("q_kendall_dist")
def q_kendall_dist(spark, sf_dir):
    """q_kendall's query under a second name with q_kendall's oracle. The
    plan audit (tools/explain_audit.py) pins its scale-regime plan."""
    return q_kendall(spark, sf_dir)


@query("q_fim_transform")
def q_fim_transform(spark, sf_dir):
    """Fill-in-the-middle augmentation (operators/corpus.py:
    fim_transform) over the documents corpus — deterministic gate +
    split points from the portable scramble, PSM sentinel reordering
    as pure substring/concat Column arithmetic riding the scan.
    Oracle replays the scramble, the splits and the concat."""
    from pipeline_dataengineer_spark.operators.corpus import (
        fim_transform,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    out = fim_transform(d, "doc_id", "text", fim_rate=0.5)
    return out.select(
        "doc_id", "fim_applied", "split_lo", "split_hi",
        F.length("fim_text").alias("fim_len"),
        F.substring("fim_text", 1, 40).alias("fim_head"),
    )


@query("q_objectives_mix")
def q_objectives_mix(spark, sf_dir):
    """UL2-style mixture-of-denoisers builder (pipelines/
    objectives.py:build_objectives_corpus): every doc assigned one
    objective by scramble bucket and transformed; short docs fall
    back to causal. The three transforms' string outputs are oracled
    individually (q_fim_transform / q_span_corruption / q_prefix_lm);
    THIS differential checks the composition — assignment, fallback
    and the exact length bookkeeping per objective (fim = n+15
    sentinel chars, span = n − 3·sl + 36 / targets 3·(12+sl),
    prefix = pos / n−pos)."""
    from pipeline_dataengineer_spark.pipelines.objectives import (
        build_objectives_corpus,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    out = build_objectives_corpus(d)
    return out.select(
        "doc_id", "objective", "input_len", "target_len"
    )


@query("q_prefix_lm")
def q_prefix_lm(spark, sf_dir):
    """Prefix-LM split (operators/corpus.py:prefix_lm_split) over the
    documents corpus — deterministic cut in [0.25, 0.75] of length
    from the portable scramble; context + continuation must
    reassemble the text. Oracle replays the band arithmetic and both
    substrings."""
    from pipeline_dataengineer_spark.operators.corpus import (
        prefix_lm_split,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    out = prefix_lm_split(d)
    return out.select(
        "doc_id",
        "split_pos",
        F.length("context").alias("ctx_len"),
        F.length("continuation").alias("cont_len"),
        F.substring("context", 1, 20).alias("ctx_head"),
        F.substring("continuation", 1, 20).alias("cont_head"),
    )


@query("q_mixture_epochs")
def q_mixture_epochs(spark, sf_dir):
    """Multi-epoch mixture materialization (operators/corpus.py:
    mixture_epochs): per-lang epoch factors over documents — floor(e)
    full copies plus a scramble-gated fractional copy, exploded with
    a 1-based epoch index. Oracle replays the threshold and
    generate_series."""
    from pipeline_dataengineer_spark.operators.corpus import (
        mixture_epochs,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = mixture_epochs(
        d, "doc_id", "lang", {"en": 2.5, "fr": 1.0, "de": 0.4}
    )
    return out.select("doc_id", "lang", "epoch")


@query("q_span_corruption")
def q_span_corruption(spark, sf_dir):
    """T5-style span corruption (operators/corpus.py:span_corruption)
    over the documents corpus — deterministic per-segment spans from
    the portable scramble, sentinel splice as a fixed substring chain
    riding the scan. Oracle replays segments, spans and both
    concatenations."""
    from pipeline_dataengineer_spark.operators.corpus import (
        span_corruption,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    out = span_corruption(d, "doc_id", "text", n_spans=3)
    return out.select(
        "doc_id",
        F.length("corrupted").alias("corrupted_len"),
        F.substring("corrupted", 1, 40).alias("corrupted_head"),
        "targets",
        "span_starts",
        "span_len",
    )


@query("q_grouped_wasserstein")
def q_grouped_wasserstein(spark, sf_dir):
    """Per-quarter Wasserstein-1 drift (operators/stats_tests.py:
    grouped_wasserstein_1d) between URGENT and LOW order totals —
    keyed-window ECDF integral with the exact-integer-numerator
    single division. Oracle replays the identity per group."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        grouped_wasserstein_1d,
    )

    o = table(spark, sf_dir, "orders").select(
        F.quarter("o_orderdate").alias("q"),
        "o_orderpriority",
        F.round("o_totalprice", 0).alias("tp"),
    )
    return grouped_wasserstein_1d(
        o, ["q"], "o_orderpriority", "tp", "1-URGENT", "5-LOW"
    )


@query("q_windowed_js")
def q_windowed_js(spark, sf_dir):
    """Windowed Jensen-Shannon drift (streaming/drift.py:windowed_js)
    in batch-parity mode — the BOUNDED companion to q_windowed_psi
    (js ∈ [0, ln 2] even on novel bins). Oracle replays the per-bin
    KL halves with the 0·ln0 ≡ 0 guard."""
    from pipeline_dataengineer_spark.streaming.drift import (
        freeze_reference,
        windowed_js,
    )

    ev = table(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") == "view").select("value")
    bounds, props = freeze_reference(ref, "value", n_bins=10)
    out = windowed_js(ev, "ts", "value", bounds, props, window="1 day")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "js_nats",
        "n",
    )


@query("q_grouped_ks")
def q_grouped_ks(spark, sf_dir):
    """Per-segment two-sample KS (operators/stats_tests.py:
    grouped_ks_test): URGENT-vs-LOW order totals per quarter bucket —
    ties-absorbed ECDFs from the per-group distinct-value inclusive
    cumulative, windows KEYED by the group. Oracle replays the
    range-frame ECDF identity per group."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        grouped_ks_test,
    )

    o = table(spark, sf_dir, "orders").select(
        F.quarter("o_orderdate").alias("q"),
        "o_orderpriority",
        F.round("o_totalprice", 0).alias("tp"),
    )
    return grouped_ks_test(
        o, ["q"], "o_orderpriority", "tp", "1-URGENT", "5-LOW"
    )


@query("q_windowed_psi")
def q_windowed_psi(spark, sf_dir):
    """Windowed drift monitor (streaming/drift.py:windowed_psi) in
    batch-parity mode: PSI of each day's event values against the
    frozen 'view'-event reference distribution — the streaming face
    of q_psi_drift (same equal-frequency bins, same 1e-6 floor; the
    identical plan runs under readStream + withWatermark, pytest-
    proven). Oracle replays boundaries (quantile_cont), the full
    10-bin grid per day (empty bins contribute their floored term),
    and the term sum."""
    from pipeline_dataengineer_spark.streaming.drift import (
        freeze_reference,
        windowed_psi,
    )

    ev = table(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") == "view").select("value")
    bounds, props = freeze_reference(ref, "value", n_bins=10)
    out = windowed_psi(ev, "ts", "value", bounds, props, window="1 day")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "psi",
        "n",
    )


@query("q_grouped_cliffs")
def q_grouped_cliffs(spark, sf_dir):
    """Per-segment Cliff's δ (operators/stats_tests.py:
    grouped_cliffs_delta): URGENT-vs-LOW order-total effect size per
    order month bucket — the dominance cumulative KEYED by the group,
    scale-safe at any group count. Oracle replays cells + keyed
    cumulative + per-group exact counts."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        grouped_cliffs_delta,
    )

    o = table(spark, sf_dir, "orders").select(
        (F.month("o_orderdate") % 4).alias("bucket"),
        "o_orderpriority",
        F.round("o_totalprice", 0).alias("tp"),
    )
    return grouped_cliffs_delta(
        o, ["bucket"], "o_orderpriority", "tp", "1-URGENT", "5-LOW"
    )


@query("q_grouped_spearman")
def q_grouped_spearman(spark, sf_dir):
    """Per-segment Spearman ρ (operators/stats_tests.py:
    grouped_spearman): rank correlation of account balance vs a
    derived ordinal per market segment — keyed windows over per-group
    distinct-value tables, scale-safe at any group count (the
    grouped_roc_auc shape). Oracle replays fractional ranks via
    rank() + (ties-1)/2 and the Pearson-on-ranks moments."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        grouped_spearman,
    )

    c = table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull()
    ).select(
        "c_mktsegment",
        F.col("c_acctbal").alias("x"),
        (
            (F.col("c_custkey") % 97) * 1.0 + F.col("c_acctbal") * 0.01
        ).alias("y"),
    )
    return grouped_spearman(c, ["c_mktsegment"], "x", "y")


@query("q_kendall_cont")
def q_kendall_cont(spark, sf_dir):
    """kendall_tau_b on a CONTINUOUS fixture — ~all-distinct (x, y)
    over 2000 customers, where a cell-level dominance join would be
    quadratic in the rows. Spark runs the O(n log n) inversion
    decomposition; the oracle can afford the O(n²)
    definition directly (4M pair evaluations on the bounded fixture),
    so this differential checks the scale path against the textbook
    pair count, not a replay of our own algebra."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        kendall_tau_b,
    )

    c = table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= 2000
    ).select(
        (F.col("c_acctbal") + F.col("c_custkey") / 1000.0).alias("x"),
        (
            F.col("c_acctbal") * 0.3
            + (F.col("c_custkey") * 2654435761 % 1000) / 10.0
        ).alias("y"),
    )
    return kendall_tau_b(c, "x", "y")


@query("q_gini")
def q_gini(spark, sf_dir):
    """Gini concentration (operators/inequality.py:gini_coefficient)
    of customer account balances (shifted positive) per market
    segment — keyed rank windows, scale-safe. Oracle replays the
    rank formula."""
    from pipeline_dataengineer_spark.operators.inequality import (
        gini_coefficient,
    )

    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        (F.col("c_acctbal") + 1000.0).alias("bal"),
    )
    g = gini_coefficient(c, "bal", ["c_mktsegment"])
    # totals are ~1e7 money sums: re-round to cents so cross-engine
    # summation-order ulps can't flip the 6th decimal
    return g.select(
        "c_mktsegment", "gini", "n", F.round("total", 2).alias("total")
    )


@query("q_gini_global")
def q_gini_global(spark, sf_dir):
    """Ungrouped Gini over order totals — the global rank comes from
    order.global_cumsum (its scale-regime plan audited). Oracle
    replays the same formula with a window."""
    from pipeline_dataengineer_spark.operators.inequality import (
        gini_coefficient,
    )

    o = table(spark, sf_dir, "orders").select("o_totalprice")
    g = gini_coefficient(o, "o_totalprice")
    return g.select("gini", "n", F.round("total", 2).alias("total"))


@query("q_lorenz")
def q_lorenz(spark, sf_dir):
    """Lorenz curve (operators/inequality.py:lorenz_curve) of order
    totals at deciles — prefix value shares off order.global_cumsum. Oracle replays via a window over the sorted values."""
    from pipeline_dataengineer_spark.operators.inequality import (
        lorenz_curve,
    )

    o = table(spark, sf_dir, "orders").select("o_totalprice")
    return lorenz_curve(o, "o_totalprice", n_points=10)


@query("q_js_divergence")
def q_js_divergence(spark, sf_dir):
    """Jensen-Shannon divergence (operators/stats_tests.py:
    js_divergence) between the length-bucket distributions of two
    document sources — the bounded symmetric drift score. Oracle
    replays the cell algebra with the 0·ln0 convention."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        js_divergence,
    )

    d = table(spark, sf_dir, "documents").select(
        "source", F.floor(F.col("n_chars") / 200).alias("len_bin")
    )
    return js_divergence(d, "source", "len_bin", "web", "wiki")


@query("q_pack_chunks")
def q_pack_chunks(spark, sf_dir):
    """Concatenate-and-split sequence packing (operators/corpus.py:
    pack_concat_chunks): documents laid out in doc_id order, cut
    into 4096-char context windows; every doc emits one row per
    window it overlaps. Oracle replays the exclusive cumsum +
    generate_series span algebra."""
    from pipeline_dataengineer_spark.operators.corpus import (
        pack_concat_chunks,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_concat_chunks(d, "doc_id", "n_chars", budget=4096)


@query("q_pack_greedy")
def q_pack_greedy(spark, sf_dir):
    """Greedy no-split packing (operators/corpus.py:
    pack_greedy_shards) with num_shards=1 (exact sequential layout)
    at a 4096-char budget. Promoted from rows-only to a full hash
    check (round-6 VERDICT item 5): the greedy boundary recursion IS
    SQL-expressible as a DuckDB recursive CTE — one step per doc
    carrying (bin, used) state, with the overflow/oversize rules
    replayed expression-for-expression (the corpus packs into only
    ~40 bins/500 docs at sf0.01, so the recursion is cheap). Layout
    invariants additionally pytest-enforced."""
    from pipeline_dataengineer_spark.operators.corpus import (
        pack_greedy_shards,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_greedy_shards(
        d, "doc_id", "n_chars", budget=4096, num_shards=1
    )


@query("q_pca_project")
def q_pca_project(spark, sf_dir):
    """PCA projection (operators/decomposition.py:pca_project), FULLY
    ORACLED on a d=2 fixture (round 8; rows-only in rounds 6-7): a
    2x2 covariance has closed-form eigenvectors — major-axis angle
    θ = ½·atan2(2·c_xy, c_xx − c_yy) — so DuckDB replays the whole
    fit (same moment-form sample covariance), the argmax-|component|
    sign canonicalization, and the per-row centered projections.
    round_to=3 absorbs the eigh-vs-trig float tail. High-d parity
    stays numpy-pytest-enforced (test_round6_ops.py); the fixture
    mirrors q_kendall_cont's continuous customer slice."""
    from pipeline_dataengineer_spark.operators.decomposition import (
        pca_project,
    )

    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 2000)
        .select(
            "c_custkey",
            F.array(
                (
                    F.col("c_acctbal") + F.col("c_custkey") / 1000.0
                ).cast("double"),
                (
                    F.col("c_acctbal") * 0.3
                    + (F.col("c_custkey") * 2654435761 % 1000) / 10.0
                ).cast("double"),
            ).alias("xy"),
        )
    )
    # no orderBy: the compare is order-insensitive and the audit pins
    # this plan as ONE exchange-free narrow map over the scan
    return pca_project(c, "c_custkey", "xy", k=2, round_to=3)


@query("q_mann_whitney_dist")
def q_mann_whitney_dist(spark, sf_dir):
    """q_mann_whitney's query under a second name with q_mann_whitney's oracle. The
    plan audit (tools/explain_audit.py) pins its scale-regime plan."""
    return q_mann_whitney(spark, sf_dir)


@query("q_ks_test_dist")
def q_ks_test_dist(spark, sf_dir):
    """q_ks_test's query under a second name with q_ks_test's oracle. The
    plan audit (tools/explain_audit.py) pins its scale-regime plan."""
    return q_ks_test(spark, sf_dir)


@query("q_preference_pairs")
def q_preference_pairs(spark, sf_dir):
    """DPO best/worst preference pairs (operators/preference.py:
    best_worst_pairs): per user, the highest- vs lowest-valued click
    event with a 1.0 margin floor — ONE combinable hash aggregate,
    deterministic under ties via struct(score, id) ordering. Oracle
    replays with arg_max/arg_min on the same struct."""
    from pipeline_dataengineer_spark.operators.preference import (
        best_worst_pairs,
    )

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    return best_worst_pairs(
        e, "user_id", "event_id", "value", min_margin=1.0
    )


@query("q_preference_all")
def q_preference_all(spark, sf_dir):
    """Dense within-group preference pairs (operators/preference.py:
    all_pairs) over a bounded fixture (user_id % 100 groups, margin
    ≥ 5), group-size cap enforced+audited. Oracle replays the
    self-join."""
    from pipeline_dataengineer_spark.operators.preference import (
        all_pairs,
    )

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        (F.col("user_id") % 100).alias("grp"), "event_id", "value"
    )
    return all_pairs(
        e, "grp", "event_id", "value", min_margin=5.0,
        max_group_size=10000,
    )


@query("q_cohen_kappa")
def q_cohen_kappa(spark, sf_dir):
    """Cohen's κ (operators/agreement.py:cohen_kappa) between two
    synthetic raters derived from order keys — chance-corrected
    agreement from ONE contingency hash agg. Oracle replays the
    cell algebra."""
    from pipeline_dataengineer_spark.operators.agreement import (
        cohen_kappa,
    )

    o = table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 4).alias("ra"),
        ((F.col("o_orderkey") + (F.col("o_orderkey") % 7) % 3) % 4).alias(
            "rb"
        ),
    )
    return cohen_kappa(o, "ra", "rb")


@query("q_fleiss_kappa")
def q_fleiss_kappa(spark, sf_dir):
    """Fleiss' κ (operators/agreement.py:fleiss_kappa): each order is
    an item, its 3 synthetic ratings derive from the key — constant
    panel size by construction. Oracle replays P̄_o/P̄_e."""
    from pipeline_dataengineer_spark.operators.agreement import (
        fleiss_kappa,
    )

    o = table(spark, sf_dir, "orders")
    ratings = o.select(
        F.col("o_orderkey").alias("item"),
        F.explode(
            F.array(
                F.col("o_orderkey") % 4,
                (F.col("o_orderkey") * 3 + 1) % 4,
                (F.col("o_orderkey") % 7) % 4,
            )
        ).alias("label"),
    )
    return fleiss_kappa(ratings, "item", "label")


@query("q_bradley_terry")
def q_bradley_terry(spark, sf_dir):
    """Bradley-Terry strengths (operators/agreement.py:
    bradley_terry) over 5 synthetic arms with outcomes derived from
    click events, 4 MM iterations. Oracle unrolls the identical MM
    trajectory as chained CTEs over the same pair counts."""
    from pipeline_dataengineer_spark.operators.agreement import (
        bradley_terry,
    )

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    duels = e.select(
        (F.col("event_id") % 5).alias("w"),
        ((F.col("event_id") + 1 + F.col("user_id") % 4) % 5).alias("l"),
    )
    return bradley_terry(duels, "w", "l", iters=4)


@query("q_krippendorff")
def q_krippendorff(spark, sf_dir):
    """Krippendorff's α, nominal (operators/agreement.py:
    krippendorff_alpha) over a RAGGED synthetic panel (2-4 ratings
    per order, derived from the key — exactly the shape Fleiss'
    κ rejects). Oracle replays D_o/D_e over pairable items."""
    from pipeline_dataengineer_spark.operators.agreement import (
        krippendorff_alpha,
    )

    o = table(spark, sf_dir, "orders")
    ratings = o.select(
        F.col("o_orderkey").alias("item"),
        F.explode(
            F.slice(
                F.array(
                    F.col("o_orderkey") % 4,
                    (F.col("o_orderkey") * 3 + 1) % 4,
                    (F.col("o_orderkey") % 7) % 4,
                    (F.col("o_orderkey") % 11) % 4,
                ),
                F.lit(1),
                (F.col("o_orderkey") % 3 + 2).cast("int"),
            )
        ).alias("label"),
    )
    return krippendorff_alpha(ratings, "item", "label")


@query("q_benjamini_hochberg_dist")
def q_benjamini_hochberg_dist(spark, sf_dir):
    """q_benjamini_hochberg's query under a second name with q_benjamini_hochberg's oracle. The
    plan audit (tools/explain_audit.py) pins its scale-regime plan."""
    return q_benjamini_hochberg(spark, sf_dir)


@query("q_confusion_matrix")
def q_confusion_matrix(spark, sf_dir):
    """Confusion matrix (operators/classification.py) of a synthetic
    4-class labeler vs predictor over orders — one combinable hash
    agg. Oracle = the same GROUP BY."""
    from pipeline_dataengineer_spark.operators.classification import (
        confusion_matrix,
    )

    o = table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 4).alias("label"),
        ((F.col("o_orderkey") + F.col("o_orderkey") % 9) % 4).alias(
            "pred"
        ),
    )
    return confusion_matrix(o, "label", "pred")


@query("q_classification_report")
def q_classification_report(spark, sf_dir):
    """Per-class precision/recall/F1 (operators/classification.py:
    classification_report, sklearn zero_division→NULL semantics).
    Oracle replays the margin algebra."""
    from pipeline_dataengineer_spark.operators.classification import (
        classification_report,
    )

    o = table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 4).alias("label"),
        ((F.col("o_orderkey") + F.col("o_orderkey") % 9) % 4).alias(
            "pred"
        ),
    )
    return classification_report(o, "label", "pred")


@query("q_classification_summary")
def q_classification_summary(spark, sf_dir):
    """Accuracy + macro/weighted averages (operators/
    classification.py:classification_summary). Oracle replays the
    report then averages with the same NULL→0 convention."""
    from pipeline_dataengineer_spark.operators.classification import (
        classification_summary,
    )

    o = table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 4).alias("label"),
        ((F.col("o_orderkey") + F.col("o_orderkey") % 9) % 4).alias(
            "pred"
        ),
    )
    return classification_summary(o, "label", "pred")


@query("q_bleu")
def q_bleu(spark, sf_dir):
    """Corpus BLEU-4 (operators/text_eval.py:bleu_corpus) scoring a
    deterministic word-dropout 'hypothesis' (every 7th token removed)
    against each document as reference — pure JVM n-gram algebra, no
    UDF. Oracle replays tokenize/n-gram/clip in DuckDB list SQL."""
    from pipeline_dataengineer_spark.operators.text_eval import (
        bleu_corpus,
    )

    d = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300
    )
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"),
        lambda t: t != F.lit(""),
    )
    hyp = F.concat_ws(
        " ",
        F.filter(toks, lambda t, i: (i + 1) % 7 != 0),
    )
    pairs = d.select(
        "doc_id", F.col("text").alias("ref"), hyp.alias("hyp")
    )
    return bleu_corpus(pairs, "doc_id", "ref", "hyp")


@query("q_rouge_l")
def q_rouge_l(spark, sf_dir):
    """Per-document ROUGE-L (operators/text_eval.py:rouge_l) of the
    same word-dropout hypothesis. The LCS dynamic program is an Arrow
    kernel, but THIS fixture is oracle-able in closed form: the
    hypothesis drops every 7th token of the reference, so it is a
    strict subsequence and LCS(ref, hyp) = |hyp| exactly (docs are
    ~100 tokens, far under the 600-token truncation, so truncation
    never breaks the subsequence property — the oracle computes the
    truncated flag and would hash-mismatch loudly if data growth
    ever changed that). General-pair DP correctness stays pytest-
    enforced vs a Python model in test_round6_ops.py."""
    from pipeline_dataengineer_spark.operators.text_eval import rouge_l

    d = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"),
        lambda t: t != F.lit(""),
    )
    hyp = F.concat_ws(
        " ",
        F.filter(toks, lambda t, i: (i + 1) % 7 != 0),
    )
    pairs = d.select(
        "doc_id", F.col("text").alias("ref"), hyp.alias("hyp")
    )
    return rouge_l(pairs, "doc_id", "ref", "hyp", max_tokens=600)


@query("q_wasserstein")
def q_wasserstein(spark, sf_dir):
    """1-D Wasserstein-1 drift distance (operators/stats_tests.py:
    wasserstein_1d) between URGENT and LOW order totals — completes
    the drift family (PSI / JS / KS / W1). Oracle replays the
    pooled-ECDF integral."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        wasserstein_1d,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.round("o_totalprice", 0).alias("tp")
    )
    return wasserstein_1d(
        o, "o_orderpriority", "tp", "1-URGENT", "5-LOW"
    )


@query("q_grouped_auc")
def q_grouped_auc(spark, sf_dir):
    """Per-segment ROC-AUC (operators/calibration.py:
    grouped_roc_auc): the q_roc_auc scorer sliced by market segment —
    keyed rank windows, scale-safe at any group count.
    Oracle replays the per-group rank-sum identity."""
    from pipeline_dataengineer_spark.operators.calibration import (
        grouped_roc_auc,
    )
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_bucket,
    )

    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        (portable_bucket(F.col("c_custkey"), 100) / 100.0).alias("score"),
        (
            portable_bucket(F.col("c_custkey") + 7, 100)
            < portable_bucket(F.col("c_custkey"), 100) + 15
        )
        .cast("int")
        .alias("label"),
    )
    return grouped_roc_auc(c, ["c_mktsegment"], "score", "label")


@query("q_sample_negatives")
def q_sample_negatives(spark, sf_dir):
    """Deterministic negative sampling (operators/sampling.py:
    sample_negatives): 5 pseudo-random part negatives per customer
    anchor via the non-linear scramble probe → global pool index
    equi-join, with anchor==negative always dropped and
    (c_custkey % 200 == p_partkey % 200) pairs removed as positives.
    Oracle replays the index (row_number over the sorted pool) and
    the probe arithmetic."""
    from pipeline_dataengineer_spark.operators.sampling import (
        sample_negatives,
    )

    anchors = table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= 500
    ).select(F.col("c_custkey"))
    pool = table(spark, sf_dir, "part").select("p_partkey")
    positives = anchors.join(
        pool, F.col("c_custkey") % 200 == F.col("p_partkey") % 200
    ).select("c_custkey", "p_partkey")
    return sample_negatives(
        anchors, "c_custkey", pool, "p_partkey", k=5,
        positives=positives,
    )


@query("q_effect_size")
def q_effect_size(spark, sf_dir):
    """Cohen's d / Hedges' g (operators/stats_tests.py:effect_size)
    between URGENT and LOW order totals — one combinable aggregate.
    Oracle replays the pooled-SD algebra."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        effect_size,
    )

    o = table(spark, sf_dir, "orders")
    return effect_size(
        o, "o_orderpriority", "o_totalprice", "1-URGENT", "5-LOW"
    )


@query("q_cliffs_delta")
def q_cliffs_delta(spark, sf_dir):
    """Cliff's δ (operators/stats_tests.py:cliffs_delta) for the same
    comparison — dominance pairs from the distinct-value cumulative
    (never the quadratic pair space), exact integer numerators.
    Oracle replays the same reduction."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        cliffs_delta,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.round("o_totalprice", 0).alias("tp")
    )
    return cliffs_delta(
        o, "o_orderpriority", "tp", "1-URGENT", "5-LOW"
    )


@query("q_cliffs_delta_dist")
def q_cliffs_delta_dist(spark, sf_dir):
    """q_cliffs_delta's query under a second name with q_cliffs_delta's oracle. The
    plan audit (tools/explain_audit.py) pins its scale-regime plan."""
    return q_cliffs_delta(spark, sf_dir)


@query("q_vocab_overlap")
def q_vocab_overlap(spark, sf_dir):
    """Pairwise source-vocabulary overlap (operators/corpus.py:
    vocab_overlap): Jaccard + directed containment between the
    document sources' distinct token sets. Oracle replays the
    (slice, token) distinct + token-keyed self-join."""
    from pipeline_dataengineer_spark.operators.corpus import (
        vocab_overlap,
    )

    d = table(spark, sf_dir, "documents")
    return vocab_overlap(d, "source", "text", min_token_len=2)


@query("q_hard_negatives")
def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (operators/similarity.py:hard_negatives):
    per anchor vector, the top-5 most cosine-similar corpus items
    with a DIFFERENT label — contrastive-training negative sets.
    Anchors broadcast, corpus unshuffled, ranks deterministic via
    rounded score + id tie-break; the oracle replays score, label
    anti-filter and window rank."""
    from pipeline_dataengineer_spark.operators.similarity import (
        hard_negatives,
    )

    e = table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )
    return hard_negatives(anchors, e, k=5)


@query("q_kcenter")
def q_kcenter(spark, sf_dir):
    """Greedy k-center coreset selection
    (operators/clustering.py:kcenter_coreset): 5 farthest-point
    rounds over the embeddings table, distances rounded before each
    argmax and ties broken on min id, so the whole greedy TRAJECTORY
    hash-checks against an oracle that unrolls the five rounds as
    chained CTEs."""
    from pipeline_dataengineer_spark.operators.clustering import (
        kcenter_coreset,
    )

    return kcenter_coreset(
        table(spark, sf_dir, "embeddings"), k=5
    )


@query("q_sinkhorn_drift")
def q_sinkhorn_drift(spark, sf_dir):
    """Optimal-transport drift (operators/stats_tests.py:
    sinkhorn_drift): 1995-97 order totals vs 1998+ totals shifted
    +15%, 8 equal-frequency reference bins, rational affinity
    kernel, 6 fixed Sinkhorn iterations, DEBIASED divergence
    S(p,q) = OT(p,q) - OT(p,p)/2 - OT(q,q)/2. The oracle unrolls
    all three scaling trajectories as materialized CTE chains and
    replays divergence, raw cost and marginal residuals."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        sinkhorn_drift,
    )

    o = table(spark, sf_dir, "orders")
    ref = o.filter(F.year("o_orderdate") <= 1997).select("o_totalprice")
    cur = o.filter(F.year("o_orderdate") >= 1998).select(
        (F.col("o_totalprice") * 1.15).alias("o_totalprice")
    )
    return sinkhorn_drift(ref, cur, "o_totalprice", n_bins=8)


@query("q_grouped_sinkhorn")
def q_grouped_sinkhorn(spark, sf_dir):
    """Per-segment debiased Sinkhorn drift (operators/stats_tests.py:
    grouped_sinkhorn_drift): one OT drift row per o_orderpriority,
    1995-97 totals vs 1998+ shifted +15%, per-group equal-frequency
    bounds. The applyInPandas kernel uses the same ordered-loop
    arithmetic as the global operator, so the group-threaded unrolled
    oracle (three scaling CTE chains keyed by group) replays it
    bit-for-bit at round 6."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        grouped_sinkhorn_drift,
    )

    o = table(spark, sf_dir, "orders")
    ref = o.filter(F.year("o_orderdate") <= 1997).select(
        "o_orderpriority", "o_totalprice"
    )
    cur = o.filter(F.year("o_orderdate") >= 1998).select(
        "o_orderpriority",
        (F.col("o_totalprice") * 1.15).alias("o_totalprice"),
    )
    return grouped_sinkhorn_drift(
        ref, cur, "o_orderpriority", "o_totalprice", n_bins=8
    )


@query("q_inequality_panel")
def q_inequality_panel(spark, sf_dir):
    """Entropy-family inequality indices (operators/inequality.py:
    theil_atkinson): Theil T / Theil L / Atkinson(0.5) of order
    totals per priority — five combinable aggregates per group, no
    sort (the decomposable complement to q_gini's rank formula)."""
    from pipeline_dataengineer_spark.operators.inequality import (
        theil_atkinson,
    )

    o = table(spark, sf_dir, "orders")
    return theil_atkinson(
        o, "o_totalprice", ["o_orderpriority"], epsilon=0.5
    )


@query("q_eb_shrink")
def q_eb_shrink(spark, sf_dir):
    """Empirical-Bayes partial pooling (operators/stats_tests.py:
    eb_shrink_means): per-customer mean order totals shrunk toward
    the grand mean by the one-way random-effects factor — the
    small-slice-safe per-source quality estimator. All variance
    components from one G-row reduction (MSB needs no second pass:
    Σ n(m−m̄)² = Σ s²/n − S²/N), oracle-replayed exactly. The
    contract instance feeds FLOORED DECI-DOLLAR integers: the global
    components are sums over every fact row, and double sums of
    150k arbitrary doubles differ between engines in the last ulp
    (measured: 67/15000 eb_means flipped their 6th decimal at
    sf0.1); integer inputs < 2^53 plus exact_reduce (floored
    s^2/n terms) make every sum exact on both sides, so the whole
    estimator replays bit-for-bit."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        eb_shrink_means,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") / 10).alias("tp10"),
    )
    return eb_shrink_means(o, "o_custkey", "tp10", exact_reduce=True)


def _holm_hypotheses(spark, sf_dir):
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_bucket,
    )

    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select(
            F.col("o_orderkey").alias("hyp_id"),
            (portable_bucket(F.col("o_orderkey"), 100000) / 100000.0)
            .alias("p"),
        )
    )


@query("q_holm")
def q_holm(spark, sf_dir):
    """Holm step-down FWER adjustment (operators/stats_tests.py:
    holm_bonferroni) over the same deterministic pseudo-p table as
    q_benjamini_hochberg — ascending rank + left running max,
    oracle-replayed bit-for-bit."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        holm_bonferroni,
    )

    return holm_bonferroni(
        _holm_hypotheses(spark, sf_dir), "hyp_id", "p", alpha=0.05
    )


@query("q_holm_dist")
def q_holm_dist(spark, sf_dir):
    """q_holm's query under a second name with q_holm's oracle. The
    plan audit (tools/explain_audit.py) pins its scale-regime plan."""
    return q_holm(spark, sf_dir)


@query("q_pruned_read")
def q_pruned_read(spark, sf_dir):
    """End-to-end footer-stats file pruning (sources/parquet_meta.py:
    prune_paths/read_pruned): orders re-laid-out by price range into
    12 files (repartitionByRange so each file owns a disjoint price
    band), then a band predicate reads ONLY the files whose footer
    min/max admit it — and the result must equal the plain filtered
    table, which is exactly what the oracle checks. The pruning
    effectiveness itself (files actually dropped) is pytest-pinned;
    this query proves the cut loses no rows."""
    from pipeline_dataengineer_spark.sources.parquet_meta import (
        read_pruned,
    )

    # Inside the application's own scratch root: two concurrent runs
    # on the same tier (e.g. bench + verify_local) never share the
    # files, and the directory goes when the application stops — the
    # result is a LAZY read over the files, so it cannot be deleted
    # here. Same-application re-runs overwrite it.
    out = _scratch_path(f"spark_graft_pruned_{os.path.basename(sf_dir.rstrip('/'))}")
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(12, "o_totalprice")
        .write.mode("overwrite")
        .parquet(out)
    )
    paths = sorted(
        f"{out}/{f}"
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )
    return read_pruned(
        spark, paths, "o_totalprice", 100_000.0, 150_000.0
    )


@query("q_windowed_ot")
def q_windowed_ot(spark, sf_dir):
    """Windowed debiased-Sinkhorn drift monitor (streaming/drift.py:
    windowed_ot) in batch-parity mode — the cost-aware companion to
    q_windowed_psi/q_windowed_js (OT sees HOW FAR mass moved across
    bins). Frozen view-event reference, daily windows, 8 bins; the
    oracle rebuilds the reference and unrolls all three scaling
    trajectories per day (the grouped-sinkhorn CTE machinery keyed
    by window); batch/stream parity is pytest-proven bit-identical
    on a live two-mode run."""
    from pipeline_dataengineer_spark.streaming.drift import (
        freeze_reference,
        windowed_ot,
    )

    ev = table(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") == "view").select("value")
    bounds, props = freeze_reference(ref, "value", n_bins=8)
    out = windowed_ot(ev, "ts", "value", bounds, props, window="1 day")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "sinkhorn_div",
        "transport_cost",
        "n",
    )


@query("q_rmst")
def q_rmst(spark, sf_dir):
    """Restricted mean survival time (operators/survival.py:rmst):
    area under each segment's KM curve to horizon 30 on the
    q_kaplan_meier fixture — the non-proportional-hazards effect
    summary. Oracle extends the KM replay with the lead/lag step
    integral."""
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_bucket,
    )
    from pipeline_dataengineer_spark.operators.survival import rmst

    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey"
    )
    subjects = c.select(
        "c_mktsegment",
        portable_bucket(F.col("c_custkey"), 40).alias("duration"),
        (portable_bucket(F.col("c_custkey") + 3, 10) < 8)
        .cast("int")
        .alias("event"),
    )
    return rmst(subjects, ["c_mktsegment"], "duration", "event", 30.0)


@query("q_msprt")
def q_msprt(spark, sf_dir):
    """Always-valid mixture SPRT (operators/stats_tests.py:
    msprt_mean): per event type, the running always-valid p-value
    for 'mean value differs from 50' over the event_id-ordered
    stream, sigma2 = 900. Every cumulative quantity is an ordered
    window — order-defined and engine-identical — so the oracle
    replays the whole evidence track row for row. xbar is dropped
    from the hash-checked projection: the raw quotient s/n lands on
    exact decimal .5 rounding ties (5 of 2000 rows at sf0.01) where
    Spark HALF_UP and DuckDB half-even disagree; the nonlinear
    log_lambda/p columns carry the same information tie-free."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        msprt_mean,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    ).filter(F.col("event_id") < 2000)
    return msprt_mean(
        ev, ["event_type"], "event_id", "value",
        theta0=50.0, sigma2=900.0,
    ).drop("xbar")


@query("q_aipw_ate")
def q_aipw_ate(spark, sf_dir):
    """Doubly-robust ATE (operators/causal.py:aipw_ate): treatment
    deterministically confounded with the price feature, outcome
    carrying a true +0.7 effect. The oracle replays EVERYTHING in
    closed form — the 3-iteration logistic propensity (unrolled GD
    CTEs, the q_logistic_gd machinery), both per-arm ridge OLS
    solves via Cramer 3×3 over the moment matrices, the clipped
    AIPW correction, and the final aggregate."""
    from pipeline_dataengineer_spark.operators.causal import aipw_ate

    o = table(spark, sf_dir, "orders")
    base = o.select(
        (F.col("o_totalprice") / 100000.0).alias("x1"),
        ((F.col("o_custkey") % 100) / 100.0).alias("x2"),
        (
            (
                F.col("o_custkey") % 10
                + F.floor(F.col("o_totalprice") / 100000.0 * 5)
            )
            % 2
            == 0
        )
        .cast("int")
        .alias("t"),
        (
            F.col("o_totalprice") / 50000.0
            + (F.col("o_custkey") % 7) / 7.0
        ).alias("__y0"),
    ).select(
        "x1",
        "x2",
        "t",
        (F.col("__y0") + F.col("t") * 0.7).alias("y"),
    )
    return aipw_ate(base, "t", "y", ["x1", "x2"])


@query("q_qte")
def q_qte(spark, sf_dir):
    """Quantile treatment effects (operators/causal.py:
    quantile_treatment_effects) on the q_aipw_ate fixture: exact
    per-arm discrete quantiles (order.global_row_index's sized sort)
    differenced at 0.25/0.5/0.75. Oracle =
    quantile_disc per arm."""
    from pipeline_dataengineer_spark.operators.causal import (
        quantile_treatment_effects,
    )

    o = table(spark, sf_dir, "orders")
    base = o.select(
        (
            (
                F.col("o_custkey") % 10
                + F.floor(F.col("o_totalprice") / 100000.0 * 5)
            )
            % 2
            == 0
        )
        .cast("int")
        .alias("t"),
        (
            F.col("o_totalprice") / 50000.0
            + (F.col("o_custkey") % 7) / 7.0
        ).alias("__y0"),
    ).select(
        "t",
        (
            F.col("__y0")
            + F.col("t") * 0.7
        ).alias("y"),
    )
    return quantile_treatment_effects(base, "t", "y")


@query("q_yuen")
def q_yuen(spark, sf_dir):
    """Yuen trimmed-mean robust two-sample test (operators/
    stats_tests.py:yuen_test): URGENT vs LOW order totals, 20% trim.
    Oracle replays thresholds (quantile_cont), the threshold-based
    trim/winsorize aggregates and the Welch algebra exactly."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        yuen_test,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return yuen_test(
        o, "o_orderpriority", "o_totalprice", "1-URGENT", "5-LOW"
    )


@query("q_brunner_munzel")
def q_brunner_munzel(spark, sf_dir):
    """Brunner-Munzel rank-Welch test (operators/stats_tests.py:
    brunner_munzel): URGENT vs LOW order totals. Midranks and
    placements are half-integers, so every aggregate is an exact
    double and the oracle replays the whole statistic through SQL
    rank windows."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        brunner_munzel,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return brunner_munzel(
        o, "o_orderpriority", "o_totalprice", "1-URGENT", "5-LOW"
    )


@query("q_brunner_munzel_dist")
def q_brunner_munzel_dist(spark, sf_dir):
    """q_brunner_munzel's query under a second name with q_brunner_munzel's oracle. The
    plan audit (tools/explain_audit.py) pins its scale-regime plan."""
    return q_brunner_munzel(spark, sf_dir)


@query("q_encoding_repair")
def q_encoding_repair(spark, sf_dir):
    """ftfy-style mojibake repair (functions/text.py:fix_mojibake —
    UTF-8-read-as-Latin-1 double encoding, the dominant corpus
    encoding defect): every document is deterministically MANGLED
    (its UTF-8 bytes re-shown as Latin-1 — 'é' → 'Ã©') and then
    repaired. Closed form: repair(mangle(text)) == text for every
    doc; was_broken ⟺ the text had any non-ASCII char (byte length
    > char length — the oracle's strlen/length differential); clean
    text passes through untouched (pure ASCII round-trips to itself;
    real accented text re-encodes to INVALID UTF-8, so the validity
    gate rejects it — margins verified at every tier). One fused
    codegen projection, no UDF, rides the scan at 100 TB."""
    from pipeline_dataengineer_spark.functions.text import (
        fix_mojibake,
        is_mojibake,
    )

    # The synthetic documents corpus is 100% ASCII at every tier
    # (checked against the parquet fixtures), which would make the
    # mangle a no-op and every boolean vacuous — so the fixture
    # PLANTS real multibyte text: accented Latin for doc_id%3==0,
    # CJK for %3==1, ASCII-only for %3==2 (the control group that
    # pins the no-op path). The plant is replayed verbatim in SQL.
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, " café crème ¿señor?")
            .when(F.col("doc_id") % 3 == 1, " 中文文本")
            .otherwise(""),
        ).alias("text"),
    )

    def mangle(c):
        return F.decode(F.encode(c, "UTF-8"), "ISO-8859-1")

    m = d.select(
        "doc_id",
        "text",
        mangle(F.col("text")).alias("moji"),
        mangle(mangle(F.col("text"))).alias("moji2"),
    )
    return m.select(
        "doc_id",
        is_mojibake(F.col("moji")).alias("was_broken"),
        (fix_mojibake(F.col("moji")) == F.col("text")).alias(
            "repaired_ok"
        ),
        # a re-crawl of an already-mangled page: two layers unwind
        # with passes=2 — one layer per pass, still one projection
        (fix_mojibake(F.col("moji2"), passes=2) == F.col("text")).alias(
            "deep_ok"
        ),
        (fix_mojibake(F.col("text")) == F.col("text")).alias(
            "clean_unchanged"
        ),
    )


@query("q_script_detect")
def q_script_detect(spark, sf_dir):
    """Unicode-script histogram + dominant script per document
    (functions/textstats.py:script_profile) — the routing signal
    multilingual pipelines branch on, and a mojibake/mislabel
    detector when script contradicts the declared language. Counts
    use explicit codepoint ranges (identical literals in Java regex
    and RE2, so the oracle replays them); dominant is the
    first-in-range-order argmax, 'none' when all counts are zero."""
    from pipeline_dataengineer_spark.functions.textstats import (
        script_profile,
    )

    # The synthetic corpus is ASCII-only at every tier, which would
    # leave six of the eight script counters permanently zero — the
    # fixture PLANTS per-doc multilingual suffixes (cycled by
    # doc_id%6: none / cyrillic / han / hangul+kana / arabic / greek)
    # so every range and the tie order fire for real; the plant is
    # replayed verbatim in the oracle.
    plant = (
        F.when(F.col("doc_id") % 6 == 1, " Привет мир")
        .when(F.col("doc_id") % 6 == 3, " 한국어 とき かな")
        .when(F.col("doc_id") % 6 == 4, " مرحبا بالعالم")
        .when(F.col("doc_id") % 6 == 5, " αβγδε ζήτα")
        .otherwise("")
    )
    # %6==2 REPLACES the text (no Latin left), so dominant genuinely
    # flips to 'han' for that group — the others append, exercising
    # every counter under a latin-dominant mix
    text = F.when(
        F.col("doc_id") % 6 == 2, F.lit("中文文本分析 四十二 123")
    ).otherwise(F.concat(F.col("text"), plant))
    d = table(spark, sf_dir, "documents").select(
        "doc_id", text.alias("text")
    )
    return d.select(
        "doc_id", script_profile(F.col("text")).alias("p")
    ).select("doc_id", "p.*")


@query("q_t_closeness")
def q_t_closeness(spark, sf_dir):
    """t-closeness audit (operators/privacy.py:t_closeness_report) —
    completes the anonymity ladder next to q_k_anonymize (size),
    q_anonymity_audit / q_entropy_l_div (variety): ordered-distance
    EMD between each (nation, segment) class's account-balance-band
    distribution and the global one. The running sum uses the EXACT
    integer numerator cn·g_tot − gn·class_size, so both the cumsum
    and Σ|·| are order-independent longs and the only float op is
    the final division — bit-identical across engines. Bands via
    floor (round's half-boundary is an engine tie class; floor is
    not)."""
    from pipeline_dataengineer_spark.operators.privacy import (
        t_closeness_report,
    )

    c = table(spark, sf_dir, "customer").withColumn(
        "band", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    out = t_closeness_report(
        c, ["c_nationkey", "c_mktsegment"], "band"
    )
    return out.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("class_size").cast("long").alias("class_size"),
        "t",
    )
