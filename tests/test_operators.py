"""Operator unit tests: dedup, incremental, joins, similarity,
text stats, watermark math."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline_dataengineer_spark.functions.dates import high_water_mark
from pipeline_dataengineer_spark.functions.textstats import (
    bpe_ish_token_count,
    fingerprint64,
    language_id,
    quality_score,
    rolling_fingerprints,
    token_count,
)
from pipeline_dataengineer_spark.operators.dedup import (
    dedup_last_wins,
    minhash_lsh_near_duplicates,
    shingles,
    simhash64,
)
from pipeline_dataengineer_spark.operators.incremental import incremental_filter
from pipeline_dataengineer_spark.operators.joins import asof_join, range_join
from pipeline_dataengineer_spark.operators.similarity import (
    cosine_topk_bruteforce,
    ivf_build,
    ivf_search,
)


def test_dedup_last_wins(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], ["k", "ord", "val"]
    )
    got = {r["k"]: r["val"] for r in dedup_last_wins(df, "k", "ord").collect()}
    assert got == {1: "b", 2: "c"}


def test_high_water_mark(spark):
    df = spark.createDataFrame([("2024-04-19",), ("2024-04-10",)], ["d"])
    # max minus one day (kafka_stream_data.py:38-43)
    assert high_water_mark(df, "d") == "2024-04-18"


def test_incremental_filter_strict_gt(spark):
    df = spark.createDataFrame([("2024-04-18",), ("2024-04-19",)], ["d"])
    got = incremental_filter(df, "d", "2024-04-18").collect()
    assert [r["d"] for r in got] == ["2024-04-19"]


def test_asof_join_backward(spark):
    left = spark.createDataFrame([(1, 10), (1, 25), (2, 5)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 8, "x"), (1, 20, "y"), (2, 6, "z")], ["k", "rts", "val"]
    )
    got = {
        (r["k"], r["ts"]): (r["rts"], r["val"])
        for r in asof_join(left, right, "k", "ts", "rts").collect()
    }
    assert got == {(1, 10): (8, "x"), (1, 25): (20, "y"), (2, 5): (None, None)}


def test_asof_join_forward(spark):
    left = spark.createDataFrame([(1, 10)], ["k", "ts"])
    right = spark.createDataFrame([(1, 8, "x"), (1, 12, "y")], ["k", "rts", "val"])
    got = asof_join(left, right, "k", "ts", "rts", direction="forward").collect()[0]
    assert (got["rts"], got["val"]) == (12, "y")


def test_range_join(spark):
    points = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 50.0)], ["pid", "x"])
    ranges = spark.createDataFrame([(10, 0.0, 10.0), (20, 12.0, 20.0)], ["rid", "lo", "hi"])
    got = {
        (r["pid"], r["rid"])
        for r in range_join(points, ranges, "x", "lo", "hi", bucket_width=7.0).collect()
    }
    assert got == {(1, 10), (2, 20)}


def test_shingles(spark):
    row = spark.range(1).select(shingles(F.lit("abcdef"), 3).alias("s")).collect()[0]
    assert sorted(row["s"]) == ["abc", "bcd", "cde", "def"]


def test_minhash_finds_near_dups_not_distinct(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy dog near the river bend"),
            (3, "completely unrelated text about database query optimization today"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_near_duplicates(
            docs, "doc_id", "text", num_hashes=64, bands=16, jaccard_threshold=0.5
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_releases_signature_cache(spark):
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared boilerplate words") for i in range(20)],
        ["doc_id", "text"],
    )
    def cached():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return [str(rdd.toString()) for rdd in jmap.values()]

    before = len(cached())
    out = minhash_lsh_near_duplicates(docs, "doc_id", "text", num_hashes=32, bands=8)
    out.count()
    # The operator owns its cache lifetime: the large signature cache
    # is unpersisted before return; only the cache of the SMALL result
    # table (which the operator materialized so the lineage never
    # re-runs) may remain.
    assert len(cached()) <= before + 1
    out.unpersist()
    assert len(cached()) <= before


def test_minhash_bucket_cap_drops_boilerplate_and_reports(spark):
    # 1000 docs sharing one exact boilerplate page → every band hash
    # collides → one 1000-member bucket per band → ~500k pairs per
    # band without the cap. Plus one genuine near-dup pair of unique
    # docs that must survive the cap.
    boiler = "terms of service apply to all users of this site without exception"
    rows = [(i, boiler) for i in range(1000)]
    rows += [
        (2001, "a rare unique document about distributed query engines and planners"),
        (2002, "a rare unique document about distributed query engines and schedulers"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = minhash_lsh_near_duplicates(
        docs, "doc_id", "text", num_hashes=32, bands=8, max_bucket_size=100
    )
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # No silent truncation: the audit reports exactly what was dropped.
    assert capped.lsh_audit["dropped_buckets"] >= 1
    assert capped.lsh_audit["max_dropped_bucket"] >= 1000
    assert capped.lsh_audit["dropped_rows"] >= 1000
    # Boilerplate pairs are gone, the genuine unique near-dup survives.
    assert (2001, 2002) in pairs
    assert (1, 2) not in pairs
    # Uncapped path still reports a zeroed audit (API uniform).
    uncapped = minhash_lsh_near_duplicates(
        docs.filter(F.col("doc_id") > 2000), "doc_id", "text", num_hashes=32, bands=8
    )
    assert uncapped.lsh_audit == {
        "dropped_buckets": 0,
        "dropped_rows": 0,
        "max_dropped_bucket": 0,
    }


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "entirely different content with other words zzz"),
        ],
        ["id", "text"],
    )
    rows = {r["id"]: r["h"] for r in df.select("id", simhash64("text").alias("h")).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(rows[1], rows[2]) < hamming(rows[1], rows[3])


def test_cosine_topk_bruteforce(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    query = spark.createDataFrame([(100, [1.0, 0.0])], ["query_id", "embedding"])
    got = cosine_topk_bruteforce(corpus, query, k=2).collect()
    assert [r["vec_id"] for r in got] == [1, 2]
    assert got[0]["score"] == 1.0


def test_ivf_recall_vs_bruteforce(spark):
    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = (
        corpus.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = cosine_topk_bruteforce(corpus, query, k=5)
    centroids, assigned = ivf_build(corpus, num_centroids=8)
    approx = ivf_search(centroids, assigned, query, k=5, nprobe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # approximate: demand >= 60% recall of the exact top-5 sets
    assert len(e & a) / len(e) >= 0.6


def test_text_stats(spark):
    df = spark.createDataFrame([("the cat and the dog, ok!",)], ["text"])
    row = df.select(
        token_count("text").alias("tc"),
        bpe_ish_token_count("text").alias("bc"),
        language_id("text").alias("lang"),
        quality_score("text").alias("q"),
        fingerprint64("text").alias("fp"),
    ).collect()[0]
    assert row["tc"] == 6
    assert row["bc"] == 8  # the/cat/and/the/dog/,/ok/!
    assert row["lang"] == "en"
    assert 0.0 <= row["q"] <= 1.0
    assert isinstance(row["fp"], int)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world",)], ["text"])
    fps = [r["fp"] for r in df.select(fingerprint64("text").alias("fp")).collect()]
    assert fps[0] == fps[1]  # case + whitespace insensitive


def test_rolling_fingerprints_overlap(spark):
    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "prefix text then the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(1, a), (2, b)], ["id", "text"])
    rows = {
        r["id"]: set(r["fp"])
        for r in df.select("id", rolling_fingerprints("text").alias("fp")).collect()
    }
    assert rows[1] & rows[2]  # shared region → shared local fingerprints


def test_fuzzy_join_matches_brute_force(spark):
    from pipeline_dataengineer_spark.operators.joins import fuzzy_join

    def lev(x, y):
        dp = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            prev, dp[0] = dp[0], i
            for j, cy in enumerate(y, 1):
                cur = dp[j]
                dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (cx != cy))
                prev = cur
        return dp[-1]

    al = [(1, "hello"), (2, "world"), (3, "spark"), (4, "a")]
    bl = [(10, "helo"), (11, "worlds"), (12, "quack"), (13, "spark"),
          (14, "wurld"), (15, ""), (16, "b")]
    a = spark.createDataFrame(al, ["id", "name"])
    b = spark.createDataFrame(bl, ["id", "name"])
    for k in (1, 2):
        expect = {(i, j) for i, x in al for j, y in bl if lev(x, y) <= k}
        got = {
            (r["id"], r["id_r"])
            for r in fuzzy_join(
                a, b, "name", "name", max_distance=k,
                left_id="id", right_id="id",
            ).collect()
        }
        assert got == expect, (k, got, expect)


def test_asof_join_tie_break_deterministic(spark):
    # multiple right rows share (k, rts): the lexicographically
    # smallest right row (by column order: rts, then rid) must win,
    # for both directions — matching ORDER BY ts, rid LIMIT 1.
    left = spark.createDataFrame([(1, 10)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 8, 7, "late"), (1, 8, 3, "early"), (1, 12, 9, "b"), (1, 12, 2, "a")],
        ["k", "rts", "rid", "val"],
    )
    back = asof_join(left, right, "k", "ts", "rts").collect()[0]
    assert (back["rts"], back["rid"], back["val"]) == (8, 3, "early")
    fwd = asof_join(left, right, "k", "ts", "rts", direction="forward").collect()[0]
    assert (fwd["rts"], fwd["rid"], fwd["val"]) == (12, 2, "a")


def test_minhash_signature_stage_path_matches_persist(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy dog near the river bend"),
            (3, "completely unrelated text about database query optimization today"),
            (4, "the quick brown fox jumps over the lazy dog near the river bank"),
        ],
        ["doc_id", "text"],
    )

    def pairs(**kw):
        out = minhash_lsh_near_duplicates(
            docs, "doc_id", "text", num_hashes=64, bands=16,
            jaccard_threshold=0.5, **kw
        )
        got = {(r["id_a"], r["id_b"], r["jaccard"]) for r in out.collect()}
        out.unpersist()
        return got

    via_persist = pairs()
    via_stage = pairs(signature_stage_path=str(tmp_path / "sig"))
    assert via_stage == via_persist and via_stage
    # the stage table is durable and readable after the operator ran
    staged = spark.read.parquet(str(tmp_path / "sig"))
    assert staged.count() == 4
    assert set(staged.columns) == {"__id", "__sh", "__bands"}


def test_key_prune_joins_match_plain_joins_under_collisions(spark):
    from pipeline_dataengineer_spark.operators.prune import (
        anti_join_with_key_prune,
        semi_join_with_key_prune,
    )

    big = spark.range(500).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    small = spark.createDataFrame([(3,), (77,), (300,), (999,)], ["sk"])
    # num_buckets=4 forces massive bucket collisions: false positives
    # everywhere, so only the exact second stage keeps this correct
    for nb in (4, 1 << 20):
        semi = semi_join_with_key_prune(big, small, "k", "sk", num_buckets=nb)
        assert sorted(r["k"] for r in semi.collect()) == [3, 77, 300]
        anti = anti_join_with_key_prune(big, small, "k", "sk", num_buckets=nb)
        assert anti.count() == 497
        assert not {3, 77, 300} & {r["k"] for r in anti.collect()}
    # prefilter really is a broadcast (no shuffle of `big` before it)
    plan = semi_join_with_key_prune(big, small, "k", "sk")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_array_overlap_join_exact_and_capped(spark):
    from pipeline_dataengineer_spark.operators.joins import array_overlap_join

    rows = [
        (1, ["a", "b", "c"]),
        (2, ["b", "c", "d"]),      # shares b,c with 1
        (3, ["x", "y"]),           # shares nothing >= 2
        (4, ["a", "b", "c", "c"]), # duplicate tag: counted once
    ]
    df = spark.createDataFrame(rows, ["id", "tags"])
    out = array_overlap_join(df, df, "id", "id", "tags", "tags", min_overlap=2)
    pairs = {
        (r["id"], r["id_r"]): r["overlap"]
        for r in out.filter(F.col("id") < F.col("id_r")).collect()
    }
    assert pairs == {(1, 2): 2, (1, 4): 3, (2, 4): 2}

    # cap: 'b' and 'c' are on 3 of 4 ids; max_tag_df=2 removes them
    # from blocking. (1,4) still found via 'a' and keeps EXACT
    # overlap 3; (1,2)/(2,4) shared only capped tags -> missed.
    capped = array_overlap_join(
        df, df, "id", "id", "tags", "tags", min_overlap=2, max_tag_df=2
    )
    got = {
        (r["id"], r["id_r"]): r["overlap"]
        for r in capped.filter(F.col("id") < F.col("id_r")).collect()
    }
    assert got == {(1, 4): 3}


def test_rrf_fuse_hand_computed(spark):
    from pipeline_dataengineer_spark.operators.similarity import rrf_fuse

    # list A ranks: d1=1, d2=2, d3=3 ; list B ranks: d3=1, d1=2
    a = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame([(3, 0.9), (1, 0.2)], "doc_id long, score double")
    out = {
        r["doc_id"]: (r["n_lists"], r["rrf_score"])
        for r in rrf_fuse([a, b], "doc_id", k=60).collect()
    }
    assert out[1] == (2, round(1 / 61 + 1 / 62, 6))
    assert out[2] == (1, round(1 / 62, 6))
    assert out[3] == (2, round(1 / 63 + 1 / 61, 6))


def test_rrf_fuse_tie_break_and_partitions(spark):
    from pipeline_dataengineer_spark.operators.similarity import rrf_fuse

    # equal scores rank by id ascending; fusion is per-query when
    # partition_cols is passed
    a = spark.createDataFrame(
        [("q1", 7, 1.0), ("q1", 3, 1.0), ("q2", 7, 1.0)],
        "qid string, doc_id long, score double",
    )
    out = {
        (r["qid"], r["doc_id"]): r["rrf_score"]
        for r in rrf_fuse([a], "doc_id", partition_cols=["qid"], k=60).collect()
    }
    assert out[("q1", 3)] == round(1 / 61, 6)  # id 3 wins the tie
    assert out[("q1", 7)] == round(1 / 62, 6)
    assert out[("q2", 7)] == round(1 / 61, 6)  # q2 ranks independently


def test_observe_rules_free_metrics(spark, tmp_path):
    from pipeline_dataengineer_spark.operators.quality import observe_rules

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, -1.0), (3, "zz", 2.0), (4, "b", None)],
        "id long, cat string, v double",
    )
    observed, obs = observe_rules(
        df,
        [
            ("not_null", "cat"),
            ("accepted_values", "cat", ["a", "b"]),
            ("min", "v", 0.0),
        ],
    )
    # metrics ride the WRITE action — no second scan
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["not_null:cat"] == 1
    assert got["accepted_values:cat"] == 1  # 'zz'
    assert got["min:v"] == 1  # -1.0 ; NULL v is not a violation
    # the data itself is untouched
    assert spark.read.parquet(str(tmp_path / "out")).count() == 4


def test_observe_rules_rejects_multi_pass_rules(spark):
    import pytest as _pytest

    from pipeline_dataengineer_spark.operators.quality import observe_rules

    df = spark.range(3)
    with _pytest.raises(ValueError):
        observe_rules(df, [("unique", "id")])


def test_training_matrix_pit_and_max_age(spark):
    import datetime as dt

    from pipeline_dataengineer_spark.operators.feature_store import (
        FeatureTable,
        build_training_matrix,
    )

    T0 = dt.datetime(2024, 1, 10)
    spine = spark.createDataFrame(
        [(1, T0), (2, T0)], "user long, as_of timestamp"
    )
    feat = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 9), 10.0),   # fresh (1 day old)
            (1, dt.datetime(2024, 1, 11), 99.0),  # FUTURE: must not leak
            (2, dt.datetime(2023, 11, 1), 5.0),   # stale (70 days old)
        ],
        "user long, ts timestamp, v double",
    )
    out = build_training_matrix(
        spine, "user", "as_of",
        [FeatureTable(feat, "user", "ts", ["v"], prefix="x_",
                      max_age="30 days")],
    )
    got = {r["user"]: (r["x_v"], r["x___ts"]) for r in out.collect()}
    assert got[1][0] == 10.0            # latest at-or-before, not future
    assert got[2] == (None, None)       # stale match nulled by max_age
    # without max_age the stale value comes through
    out2 = build_training_matrix(
        spine, "user", "as_of",
        [FeatureTable(feat, "user", "ts", ["v"], prefix="x_")],
    )
    got2 = {r["user"]: r["x_v"] for r in out2.collect()}
    assert got2[2] == 5.0


def test_safe_join_passes_and_fires(spark):
    import pytest as _pytest

    from pipeline_dataengineer_spark.operators.joins import safe_join

    facts = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0)], "k long, v double"
    )
    dim_ok = spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string")
    out = safe_join(facts, dim_ok, ["k"], expect="n:1")
    assert out.count() == 3  # no fan-out, contract satisfied

    dim_dup = spark.createDataFrame(
        [(1, "a"), (1, "a2"), (2, "b")], "k long, name string"
    )
    with _pytest.raises(Exception, match="duplicate join keys"):
        safe_join(facts, dim_dup, ["k"], expect="n:1").count()

    # 1:1 also checks the left side
    with _pytest.raises(Exception, match="left side has duplicate"):
        safe_join(facts, dim_ok, ["k"], expect="1:1").count()


def test_impute_strategies(spark):
    from pipeline_dataengineer_spark.operators.scaling import impute

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", None), ("b", 10.0), ("b", None),
         ("c", None)],
        "g string, v double",
    )
    mean = {(r["g"], r["v"]) for r in impute(df, ["v"], "mean", ["g"]).collect()}
    assert ("a", 2.0) in mean and ("b", 10.0) in mean
    assert ("c", None) in mean  # all-null group stays NULL
    med = impute(df, ["v"], "median", ["g"]).filter("g = 'a'").collect()
    assert sorted(r["v"] for r in med) == [1.0, 2.0, 3.0]
    zero = impute(df, ["v"], "zero").filter("g = 'c'").collect()
    assert zero[0]["v"] == 0.0
    # mode with deterministic tie-break (higher value wins ties)
    dfm = spark.createDataFrame(
        [("x", 5.0), ("x", 5.0), ("x", 7.0), ("x", 7.0), ("x", None)],
        "g string, v double",
    )
    mode = impute(dfm, ["v"], "mode", ["g"]).filter("v is not null").collect()
    filled = [r["v"] for r in mode]
    assert filled.count(7.0) == 3  # tie broken toward larger value


def test_safe_join_preserves_null_key_rows(spark):
    from pipeline_dataengineer_spark.operators.joins import safe_join

    # NULL join keys never match under SQL equality — they are exempt
    # from the uniqueness guard and must SURVIVE it for outer joins
    facts = spark.createDataFrame(
        [(1, 10.0), (None, 99.0), (None, 98.0)], "k long, v double"
    )
    dim = spark.createDataFrame(
        [(1, "a"), (None, "x"), (None, "y")], "k long, name string"
    )
    # two NULL-key rows on the right do NOT trip the n:1 guard (they
    # can't fan out), and a plain-join's right-join semantics hold
    plain = facts.join(dim, ["k"], "right").count()
    out = safe_join(facts, dim, ["k"], how="right", expect="n:1")
    assert out.count() == plain == 3
    # full outer keeps the left NULL-key rows too under 1:1
    # (1 matched + 1 left-NULL unmatched + 2 right-NULL unmatched)
    uniq_facts = facts.filter("v <> 98.0")
    plain_full = uniq_facts.join(dim, ["k"], "full").count()
    out_full = safe_join(uniq_facts, dim, ["k"], how="full", expect="1:1")
    assert out_full.count() == plain_full == 4
    # a REAL duplicate (non-null key) still fires
    import pytest as _pytest
    dim_dup = spark.createDataFrame(
        [(1, "a"), (1, "a2"), (None, "x")], "k long, name string"
    )
    with _pytest.raises(Exception, match="duplicate join keys"):
        safe_join(facts, dim_dup, ["k"], expect="n:1").count()


def test_dedup_keep_first_string_order(spark):
    from pipeline_dataengineer_spark.operators.dedup import dedup_keep_first

    df = spark.createDataFrame(
        [("k1", "uuid-b"), ("k1", "uuid-a"), ("k2", None), ("k2", "uuid-z")],
        "k string, id string",
    )
    got = {
        (r["k"], r["id"])
        for r in dedup_keep_first(df, "k", "id").collect()
    }
    # lexicographically-first id wins; NULL order sorts LAST
    assert got == {("k1", "uuid-a"), ("k2", "uuid-z")}


def test_asof_join_tolerance_nulls_stale_matches(spark):
    from pipeline_dataengineer_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100), (1, 200), (2, 50)], "k long, lts long"
    )
    right = spark.createDataFrame(
        [(1, 95, "a"), (1, 10, "b"), (2, 49, "c")], "k long, rts long, v string"
    )
    out = {
        (r["k"], r["lts"]): (r["rts"], r["v"])
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            tolerance=20,
        ).collect()
    }
    assert out[(1, 100)] == (95, "a")       # within 20
    assert out[(1, 200)] == (None, None)    # nearest is 105 back: stale
    assert out[(2, 50)] == (49, "c")


def test_fd_violations(spark):
    from pipeline_dataengineer_spark.operators.quality import fd_violations

    df = spark.createDataFrame(
        [("10001", "NYC"), ("10001", "NYC"), ("94107", "SF"),
         ("94107", "San Francisco"), ("60601", "CHI")],
        "zip string, city string",
    )
    out = {r["zip"]: r for r in fd_violations(df, ["zip"], "city").collect()}
    assert set(out) == {"94107"}  # only the conflicted zip reports
    assert out["94107"]["n_distinct_rhs"] == 2
    assert out["94107"]["examples"] == ["SF", "San Francisco"]
    # a clean FD returns empty
    assert fd_violations(df.filter("zip <> '94107'"), ["zip"], "city").count() == 0


def test_network_days_closed_form(spark):
    import datetime as dt

    from pipeline_dataengineer_spark.functions.dates import network_days

    rows = [
        # Mon..Fri same week = 5; Sat->Sun = 0; wrap a weekend
        (1, dt.date(2024, 1, 1), dt.date(2024, 1, 5)),
        (2, dt.date(2024, 1, 6), dt.date(2024, 1, 7)),
        (3, dt.date(2024, 1, 5), dt.date(2024, 1, 8)),
        (4, dt.date(2024, 1, 8), dt.date(2024, 1, 5)),  # reversed
        (5, dt.date(2024, 2, 1), dt.date(2024, 2, 29)),
    ]
    df = spark.createDataFrame(rows, "id long, s date, e date")
    got = {r["id"]: r["bd"] for r in df.select(
        "id", network_days("s", "e").alias("bd")).collect()}

    def brute(s, e):
        if e < s:
            return -brute(e, s)
        return sum(
            1
            for i in range((e - s).days + 1)
            if (s + dt.timedelta(i)).weekday() < 5
        )

    for i, s, e in rows:
        assert got[i] == brute(s, e), (i, got[i], brute(s, e))
    assert got[2] == 0 and got[4] == -2


def test_make_lag_features_no_leakage(spark):
    from pipeline_dataengineer_spark.operators.feature_store import (
        make_lag_features,
    )

    rows = [("k", i, float(i * 10)) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "key string, t long, v double")
    out = {
        r["t"]: r
        for r in make_lag_features(
            df, ["key"], "t", "v", lags=(1, 3), roll_windows=(3,)
        ).collect()
    }
    assert out[1]["lag_1"] is None and out[1]["roll3_mean"] is None
    assert out[4]["lag_1"] == 30.0 and out[4]["lag_3"] == 10.0
    assert out[4]["diff_1"] == 10.0
    # trailing window EXCLUDES current row: mean(10,20,30) at t=4
    assert out[4]["roll3_mean"] == 20.0
    assert out[7]["roll3_min"] == 40.0 and out[7]["roll3_max"] == 60.0


def test_minhash_pair_broadcast_gated_on_pair_table_bytes(spark, monkeypatch):
    """The forced two-sided pair broadcast is gated on the cached pair
    table's bytes, not its row count: the same pairs with wide string
    ids cross a bound that bigint ids stay under, take the
    corpus-shuffling shape, and give the same answer."""
    from pipeline_dataengineer_spark.operators import dedup

    topics = [
        "brake hoses on the front axle may crack under sustained load",
        "the charger casing can overheat when left plugged in overnight",
        "undeclared peanut traces were found in the chocolate spread jars",
        "a loose strap lets the child seat tilt forward during hard stops",
    ]
    texts = [topics[i % 4] for i in range(24)]
    wide = "recall-notice-identifier-with-a-long-prefix-"

    def run(ids):
        docs = spark.createDataFrame(list(zip(ids, texts)), ["doc_id", "text"])
        out = minhash_lsh_near_duplicates(
            docs, "doc_id", "text", num_hashes=32, bands=8, jaccard_threshold=0.5
        )
        broadcasts = out._jdf.queryExecution().analyzed().toString().count(
            "strategy=broadcast"
        )
        got = sorted(tuple(r) for r in out.collect())
        out.unpersist()
        return broadcasts, got

    numeric = list(range(24))
    strings = [f"{wide}{i:04d}" for i in numeric]
    # 4 clusters of 6 identical docs: 60 pairs, cached in 960 bytes as
    # bigints and in about 6 KB as these strings
    monkeypatch.setattr(dedup, "_PAIR_BROADCAST_MAX_BYTES", 4096)
    n_bcast, by_int = run(numeric)
    assert n_bcast == 2 and len(by_int) == 60
    s_bcast, by_str_shuffled = run(strings)
    assert s_bcast == 0
    monkeypatch.setattr(dedup, "_PAIR_BROADCAST_MAX_BYTES", 100 << 20)
    b_bcast, by_str_broadcast = run(strings)
    assert b_bcast == 2
    assert by_str_shuffled == by_str_broadcast
    assert [(int(a[-4:]), int(b[-4:]), j) for a, b, j in by_str_broadcast] == by_int
