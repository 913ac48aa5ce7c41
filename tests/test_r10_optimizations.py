"""Focused tests for round-10 optimization internals.

Each optimization that changed an operator's internals gets a pin
here on exactly the equivalence argument the rewrite leaned on:

- kendall: the single-partition numpy kernel (taken when the sized
  layout is one range partition — the bench-scale path) must agree
  with the O(n²) definition, including every tie regime;
- semantic_dedup: the per-coordinate pair prefilter must be lossless
  at and around the threshold (it is a necessary condition of
  cos >= t on unit vectors, so no qualifying pair may be lost);
- bm25_rank: the fused per-doc aggregate must keep the old exploded
  doclen's semantics for empty/whitespace-only documents (excluded
  from N and avgdl) and for repeated query terms.
"""

from __future__ import annotations

import math

import pytest


def test_kendall_single_partition_kernel_matches_bruteforce(spark):
    """Without num_partitions the layout sizes to one partition at
    test scale and takes the fused numpy kernel; its (C, D, n, tau)
    must equal the brute-force pair count and tie terms on a fixture
    with x, y and joint ties."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        kendall_tau_b,
    )

    rows = []
    for i in range(350):
        x = float(i % 23) + (0.5 if i % 13 == 0 else 0.0)
        y = float((i * 7919) % 89) / 7.0 + (i % 4)
        rows.append((x, y))
    rows += [(5.0, 2.0)] * 5  # joint ties
    df = spark.createDataFrame(rows, "x double, y double").repartition(7)
    fast = kendall_tau_b(df, "x", "y").collect()[0]
    c = d = 0
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            s = (rows[i][0] - rows[j][0]) * (rows[i][1] - rows[j][1])
            if s > 0:
                c += 1
            elif s < 0:
                d += 1
    assert (fast["concordant"], fast["discordant"]) == (c, d)
    from collections import Counter

    n = len(rows)
    n0 = n * (n - 1) // 2
    n1 = sum(t * (t - 1) // 2 for t in Counter(x for x, _ in rows).values())
    n2 = sum(t * (t - 1) // 2 for t in Counter(y for _, y in rows).values())
    assert fast["n"] == n
    assert fast["tau_b"] == pytest.approx(
        round((c - d) / math.sqrt((n0 - n1) * (n0 - n2)), 6), abs=1e-9
    )


def test_semantic_dedup_prefilter_lossless_near_threshold(spark):
    """Pairs with cosine just above the threshold (including ones
    whose first two coordinates differ by almost the prefilter bound)
    must still be dropped, pairs just below must survive, and exact
    duplicates of different magnitude must be dropped — checked
    against a brute-force cosine computation."""
    from pipeline_dataengineer_spark.operators.dedup import semantic_dedup

    thr = 0.9
    a = 0.95  # cos just above: coord deltas 0.05 / 0.312 < sqrt(0.2)=0.447
    b = 0.85  # cos just below
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [a, math.sqrt(1 - a * a), 0.0, 0.0]),  # cos(1,2)=0.95 -> drop 2
        (3, [b, -math.sqrt(1 - b * b), 0.0, 0.0]),  # cos(1,3)=0.85 -> keep
        (4, [3.0, 0.0, 0.0, 0.0]),  # parallel to 1, bigger norm -> drop 4
        (5, [0.0, 0.0, 1.0, 0.0]),  # orthogonal -> keep
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    kept = {
        r["vec_id"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=thr, k=1
        ).collect()
    }
    # brute-force expected kept set under the min-id rule
    unit = {
        i: [x / math.sqrt(sum(v * v for v in vec)) for x in vec]
        for i, vec in vecs
    }
    dropped = set()
    for i, ui in unit.items():
        for j, uj in unit.items():
            if i < j and sum(p * q for p, q in zip(ui, uj)) >= thr:
                dropped.add(j)
    assert kept == {i for i, _ in vecs} - dropped
    assert kept == {1, 3, 5}


def test_bm25_empty_docs_excluded_from_stats(spark):
    """Empty and whitespace-only documents produce no terms, so they
    must not count toward N or avgdl (the old exploded-doclen
    semantics) — hand-computed BM25 against the fused aggregate."""
    from pipeline_dataengineer_spark.operators.text_features import bm25_rank

    df = spark.createDataFrame(
        [
            (1, "cat cat"),
            (2, ""),
            (3, "   "),
            (4, "cat dog"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_hits"], r["score"])
        for r in bm25_rank(df, ["cat"], k1=1.2, b=0.75).collect()
    }
    # N=2 scoring docs (1 and 4), avgdl=2, df(cat)=2
    idf = math.log((2 - 2 + 0.5) / (2 + 0.5) + 1.0)
    s1 = idf * 2 * 2.2 / (2 + 1.2 * (1 - 0.75 + 0.75 * 2 / 2.0))
    s4 = idf * 1 * 2.2 / (1 + 1.2 * (1 - 0.75 + 0.75 * 2 / 2.0))
    assert set(got) == {1, 4}
    assert got[1] == (1, pytest.approx(round(s1, 4)))
    assert got[4] == (1, pytest.approx(round(s4, 4)))
