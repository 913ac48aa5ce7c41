"""Distributed global row index + sorted-neighborhood blocking."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline_dataengineer_spark.operators.order import (
    global_row_index,
    sorted_neighborhood_pairs,
)


def test_global_row_index_is_exact_total_order(spark):
    import random

    rng = random.Random(3)
    rows = [(i, rng.random()) for i in range(2000)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(7)
    got = global_row_index(df, ["v", "id"], "idx").collect()
    by_idx = sorted(got, key=lambda r: r["idx"])
    assert [r["idx"] for r in by_idx] == list(range(2000))
    vs = [(r["v"], r["id"]) for r in by_idx]
    assert vs == sorted(vs)


def test_global_row_index_no_single_task_sort(spark, monkeypatch):
    # past the one-task size threshold (patched below this input's
    # estimate) it must not contain an unpartitioned Window (the scale bug)
    import contextlib
    import io

    from pipeline_dataengineer_spark.operators import order

    monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", -1)
    df = spark.range(100).select(F.col("id"), (F.col("id") * 7 % 13).alias("v"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        global_row_index(df, ["v", "id"]).explain("formatted")
    assert "Window" not in buf.getvalue()


def test_sorted_neighborhood_pairs_match_bruteforce(spark):
    import random

    rng = random.Random(9)
    rows = [(i, rng.randrange(50)) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "k"])
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(df, "id", F.col("k"), window=4).collect()
    )
    order = sorted(rows, key=lambda t: (t[1], t[0]))
    want = sorted(
        (order[i][0], order[j][0])
        for i in range(len(order))
        for j in range(i + 1, min(i + 5, len(order)))
    )
    assert got == want


def test_deterministic_shuffle_layout_independent(spark):
    from pipeline_dataengineer_spark.operators.order import deterministic_shuffle

    df = spark.createDataFrame([(i,) for i in range(200)], "id long")
    a = {
        r["id"]: r["shuffle_pos"]
        for r in deterministic_shuffle(df, "id").collect()
    }
    # same ids, different physical layout -> identical permutation
    b = {
        r["id"]: r["shuffle_pos"]
        for r in deterministic_shuffle(
            df.repartition(7).sortWithinPartitions(F.col("id").desc()), "id"
        ).collect()
    }
    assert a == b
    # it is a permutation of 0..n-1, and not the identity
    assert sorted(a.values()) == list(range(200))
    assert [a[i] for i in range(200)] != list(range(200))


def test_global_row_index_offsets_are_bigint(spark):
    """The dense offset array is array<bigint> at any size, so neither
    it nor the index column changes type when offsets pass 2^31."""
    import re

    df = spark.range(100).select(F.col("id"), (F.col("id") * 7 % 13).alias("v"))
    out = global_row_index(df, ["v", "id"], "idx", num_partitions=3)
    assert out.schema["idx"].dataType.typeName() == "long"
    plan = out._jdf.queryExecution().analyzed().toString()
    assert re.search(r"element_at\(array\(cast\(0 as bigint\)(, cast\(\d+ as bigint\))*\)", plan), plan
    assert sorted(r["idx"] for r in out.collect()) == list(range(100))
