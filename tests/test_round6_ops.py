"""Round-6 operators: spearman/kendall, gini/lorenz, JS divergence,
sequence packing (both layouts), PCA parity."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------------
# rank correlations
# ------------------------------------------------------------------


def _rankdata(a):
    """Average-rank implementation (scipy-free reference)."""
    a = np.asarray(a, dtype=float)
    order = np.argsort(a, kind="stable")
    ranks = np.empty(len(a))
    i = 0
    s = a[order]
    while i < len(a):
        j = i
        while j + 1 < len(a) and s[j + 1] == s[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    return ranks


def test_spearman_matches_numpy_reference(spark, monkeypatch):
    from pipeline_dataengineer_spark.operators import order
    from pipeline_dataengineer_spark.operators.stats_tests import (
        spearman_rho,
    )

    xs = [float((i * 7) % 13) for i in range(400)]
    ys = [float((i * 7) % 13) * 2 + float((i * 5) % 9) for i in range(400)]
    df = spark.createDataFrame(
        list(zip(range(400), xs, ys)), "i long, x double, y double"
    ).repartition(7).cache()
    df.count()  # measured cache bytes: the one-task regime first
    for limit in (order._ONE_TASK_MAX_BYTES, -1):
        monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", limit)
        got = spearman_rho(df, "x", "y").collect()[0]
        ra, rb = _rankdata(xs), _rankdata(ys)
        ref = np.corrcoef(ra, rb)[0, 1]
        assert got["rho"] == pytest.approx(round(ref, 6), abs=2e-6)
        assert got["n"] == 400


def test_kendall_tau_b_reference(spark):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        kendall_tau_b,
    )

    xs = [float(i % 5) for i in range(200)]
    ys = [float((i % 5) + (i % 3)) for i in range(200)]
    df = spark.createDataFrame(
        list(zip(xs, ys)), "x double, y double"
    )
    got = kendall_tau_b(df, "x", "y").collect()[0]
    # O(n^2) reference
    c = d = 0
    for i in range(200):
        for j in range(i + 1, 200):
            sx = (xs[i] > xs[j]) - (xs[i] < xs[j])
            sy = (ys[i] > ys[j]) - (ys[i] < ys[j])
            if sx * sy > 0:
                c += 1
            elif sx * sy < 0:
                d += 1
    n = 200
    from collections import Counter

    n1 = sum(t * (t - 1) // 2 for t in Counter(xs).values())
    n2 = sum(t * (t - 1) // 2 for t in Counter(ys).values())
    n0 = n * (n - 1) // 2
    ref = (c - d) / math.sqrt((n0 - n1) * (n0 - n2))
    assert got["concordant"] == c and got["discordant"] == d
    assert got["tau_b"] == pytest.approx(round(ref, 6), abs=2e-6)


# ------------------------------------------------------------------
# inequality
# ------------------------------------------------------------------


def test_gini_known_values(spark):
    from pipeline_dataengineer_spark.operators.inequality import (
        gini_coefficient,
    )

    flat = spark.createDataFrame(
        [(float(5),) for _ in range(100)], "v double"
    )
    assert gini_coefficient(flat, "v").collect()[0]["gini"] == 0.0
    # one row owns everything: G = (n-1)/n = 0.99
    spike = spark.createDataFrame(
        [(0.0,)] * 99 + [(100.0,)], "v double"
    )
    assert gini_coefficient(spike, "v").collect()[0][
        "gini"
    ] == pytest.approx(0.99)


def test_gini_grouped_matches_global_per_group(spark):
    from pipeline_dataengineer_spark.operators.inequality import (
        gini_coefficient,
    )

    rows = [("a", float((i * i) % 17 + 1)) for i in range(60)] + [
        ("b", float((i * 3) % 11 + 1)) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, v double").repartition(5)
    grouped = {
        r["g"]: r["gini"]
        for r in gini_coefficient(df, "v", ["g"]).collect()
    }
    for g in ("a", "b"):
        solo = gini_coefficient(
            df.filter(F.col("g") == g), "v"
        ).collect()[0]["gini"]
        assert grouped[g] == pytest.approx(solo)


def test_lorenz_curve_properties(spark):
    from pipeline_dataengineer_spark.operators.inequality import (
        lorenz_curve,
    )

    df = spark.createDataFrame(
        [(float(i % 23 + 1),) for i in range(230)], "v double"
    ).repartition(6)
    pts = lorenz_curve(df, "v", n_points=10).collect()
    assert len(pts) == 10
    shares = [r["value_share"] for r in pts]
    assert shares == sorted(shares)  # monotone
    assert pts[-1]["value_share"] == pytest.approx(1.0)
    for r in pts:  # convexity lower bound: L(p) <= p
        assert r["value_share"] <= r["point"] + 1e-9


# ------------------------------------------------------------------
# JS divergence
# ------------------------------------------------------------------


def test_js_divergence_bounds_and_symmetry(spark):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        js_divergence,
    )

    rows = [("a", i % 5) for i in range(100)] + [
        ("b", (i % 5) + 3) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "g string, b int")
    ab = js_divergence(df, "g", "b", "a", "b").collect()[0]
    ba = js_divergence(df, "g", "b", "b", "a").collect()[0]
    assert 0.0 < ab["js_nats"] < math.log(2.0) + 1e-9
    assert ab["js_nats"] == ba["js_nats"]  # symmetric
    assert ab["n_a"] == 100 and ab["n_b"] == 80
    # identical distributions -> 0
    same = spark.createDataFrame(
        [("a", i % 4) for i in range(40)] + [("b", i % 4) for i in range(40)],
        "g string, b int",
    )
    assert js_divergence(same, "g", "b", "a", "b").collect()[0][
        "js_nats"
    ] == 0.0
    # disjoint support -> exactly ln 2 (where PSI/KL diverge)
    disj = spark.createDataFrame(
        [("a", 0)] * 30 + [("b", 1)] * 30, "g string, b int"
    )
    assert disj.count() == 60
    assert js_divergence(disj, "g", "b", "a", "b").collect()[0][
        "js_nats"
    ] == pytest.approx(math.log(2.0), abs=1e-6)


# ------------------------------------------------------------------
# sequence packing
# ------------------------------------------------------------------


def test_pack_concat_chunks_exact_layout(spark):
    from pipeline_dataengineer_spark.operators.corpus import (
        pack_concat_chunks,
    )

    lens = [5, 12, 3, 10, 7, 1, 20, 4]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lens)], "doc_id long, n long"
    ).repartition(4)
    out = pack_concat_chunks(df, "doc_id", "n", budget=10).collect()
    # python reference
    ref = []
    start = 0
    for i, n in enumerate(lens):
        for chunk in range(start // 10, (start + n - 1) // 10 + 1):
            ds = max(chunk * 10 - start, 0)
            de = min(chunk * 10 + 10 - start, n)
            ref.append((i, chunk, ds, de - ds, max(start - chunk * 10, 0)))
        start += n
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["doc_start"], r["n_tokens"],
         r["chunk_offset"])
        for r in out
    )
    assert got == sorted(ref)
    # every chunk except the last is exactly full
    per_chunk = {}
    for _, c, _, nt, _ in got:
        per_chunk[c] = per_chunk.get(c, 0) + nt
    last = max(per_chunk)
    for c, tot in per_chunk.items():
        assert tot == 10 or c == last


def test_pack_greedy_shards_invariants(spark):
    from pipeline_dataengineer_spark.operators.corpus import (
        pack_greedy_shards,
    )

    lens = [3, 9, 5, 5, 2, 11, 1, 8, 8, 8, 4]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lens)], "doc_id long, n long"
    )
    out = pack_greedy_shards(
        df, "doc_id", "n", budget=10, num_shards=1
    ).collect()
    # python greedy reference (sequential, doc_id order)
    ref, b, used = {}, 0, 0
    for i, n in enumerate(lens):
        if used > 0 and used + n > 10:
            b, used = b + 1, 0
        ref[i] = (b, used, n > 10)
        used += n
        if used >= 10:
            b, used = b + 1, 0
    got = {
        r["doc_id"]: (r["bin_id"], r["bin_offset"], r["oversize"])
        for r in out
    }
    assert got == ref
    # invariants on a multi-shard run: no bin over budget unless it
    # is a single oversize doc
    out4 = pack_greedy_shards(
        df, "doc_id", "n", budget=10, num_shards=4
    ).collect()
    bins = {}
    for r in out4:
        bins.setdefault(r["bin_id"], []).append(r)
    for rows in bins.values():
        tot = sum(r["n"] for r in rows)
        if tot > 10:
            assert len(rows) == 1 and rows[0]["oversize"]


# ------------------------------------------------------------------
# PCA
# ------------------------------------------------------------------


def test_pca_matches_numpy(spark):
    from pipeline_dataengineer_spark.operators.decomposition import (
        pca_fit,
        pca_project,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(300, 2) @ np.array([[3.0, 1.0], [0.0, 0.5]])
    X = np.hstack([base, base[:, :1] * 0.2 + rng.randn(300, 1) * 0.01])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(300)],
        "id long, vec array<double>",
    ).repartition(9)
    comps, evals, mu = pca_fit(df, "vec", k=2)
    # numpy reference
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / (len(X) - 1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:2]
    assert np.allclose(mu, X.mean(axis=0), atol=1e-9)
    for j, oj in enumerate(order):
        assert evals[j] == pytest.approx(w[oj], rel=1e-9)
        ref = v[:, oj]
        pivot = int(np.argmax(np.abs(ref)))
        if ref[pivot] < 0:
            ref = -ref
        assert np.allclose(comps[j], ref, atol=1e-9)
    # projection parity
    proj = {
        r["id"]: (r["pc_1"], r["pc_2"])
        for r in pca_project(df, "id", "vec", k=2).collect()
    }
    P = Xc @ np.array(comps).T
    for i in range(300):
        assert proj[i][0] == pytest.approx(P[i, 0], abs=1e-9)
        assert proj[i][1] == pytest.approx(P[i, 1], abs=1e-9)


def test_pca_deterministic_across_partitionings(spark):
    from pipeline_dataengineer_spark.operators.decomposition import pca_fit

    rng = np.random.RandomState(3)
    X = rng.randn(120, 4)
    rows = [(i, [float(v) for v in X[i]]) for i in range(120)]
    df1 = spark.createDataFrame(rows, "id long, vec array<double>")
    c1, e1, m1 = pca_fit(df1.repartition(3), "vec", k=3)
    c2, e2, m2 = pca_fit(df1.repartition(11), "vec", k=3)
    # partials sum in different order -> tiny float drift allowed,
    # but sign fixing must agree exactly
    assert np.allclose(c1, c2, atol=1e-9)
    assert np.allclose(e1, e2, rtol=1e-9)


# ------------------------------------------------------------------
# preference pairs
# ------------------------------------------------------------------


def test_best_worst_pairs_deterministic_ties(spark):
    from pipeline_dataengineer_spark.operators.preference import (
        best_worst_pairs,
    )

    rows = [
        ("p1", 1, 5.0), ("p1", 2, 5.0), ("p1", 3, 1.0), ("p1", 4, 1.0),
        ("p2", 5, 3.0),                       # singleton -> dropped
        ("p3", 6, 2.0), ("p3", 7, 2.0),       # zero margin -> dropped
    ]
    df = spark.createDataFrame(rows, "g string, i int, s double")
    got = {
        r["g"]: (r["chosen"], r["rejected"], r["margin"])
        for r in best_worst_pairs(
            df.repartition(5), "g", "i", "s", min_margin=0.5
        ).collect()
    }
    # tie on max side -> HIGHER id (2); tie on min side -> LOWER id (3)
    assert got == {"p1": (2, 3, 4.0)}


def test_all_pairs_margin_and_cap(spark):
    from pipeline_dataengineer_spark.operators.preference import all_pairs

    rows = [("g", i, float(i)) for i in range(5)] + [
        ("big", i, float(i)) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "g string, i int, s double")
    out = all_pairs(df, "g", "i", "s", min_margin=2.0, max_group_size=10)
    pairs = {(r["chosen"], r["rejected"]) for r in out.collect()}
    assert out.pair_audit == {
        "dropped_groups": 1,
        "dropped_rows": 20,
        "max_dropped_group": 20,
    }
    assert pairs == {
        (c, r) for c in range(5) for r in range(5) if c - r >= 2
    }
    # min_margin=0 means STRICT improvement (no self/equal pairs)
    tied = spark.createDataFrame(
        [("g", 1, 2.0), ("g", 2, 2.0), ("g", 3, 1.0)],
        "g string, i int, s double",
    )
    got = {
        (r["chosen"], r["rejected"])
        for r in all_pairs(tied, "g", "i", "s").collect()
    }
    assert got == {(1, 3), (2, 3)}


# ------------------------------------------------------------------
# agreement / rating
# ------------------------------------------------------------------


def test_cohen_kappa_reference(spark):
    from pipeline_dataengineer_spark.operators.agreement import cohen_kappa

    # classic worked example: po=0.7, pe=0.5, kappa=0.4
    rows = (
        [("y", "y")] * 45 + [("y", "n")] * 15
        + [("n", "y")] * 15 + [("n", "n")] * 25
    )
    df = spark.createDataFrame(rows, "a string, b string")
    got = cohen_kappa(df, "a", "b").collect()[0]
    po = 0.7
    pe = (60 * 60 + 40 * 40) / 100.0**2
    assert got["p_observed"] == pytest.approx(po)
    assert got["p_expected"] == pytest.approx(pe)
    assert got["kappa"] == pytest.approx(round((po - pe) / (1 - pe), 6))
    # perfect agreement
    perf = spark.createDataFrame(
        [("x", "x")] * 10 + [("y", "y")] * 10, "a string, b string"
    )
    assert cohen_kappa(perf, "a", "b").collect()[0]["kappa"] == 1.0


def test_cohen_kappa_disjoint_diagonal(spark):
    # Raters NEVER agree: no observed (l,l) cell, yet p_e must still
    # sum ra(l)*cb(l) over all labels. A=[x,x,y,y], B=[y,y,x,x] →
    # p_o=0, p_e=0.5, kappa=-1 (sklearn parity).
    from pipeline_dataengineer_spark.operators.agreement import cohen_kappa

    df = spark.createDataFrame(
        [("x", "y"), ("x", "y"), ("y", "x"), ("y", "x")],
        "a string, b string",
    )
    got = cohen_kappa(df, "a", "b").collect()[0]
    assert got["p_observed"] == 0.0
    assert got["p_expected"] == pytest.approx(0.5)
    assert got["kappa"] == pytest.approx(-1.0)
    # one-sided label: B uses a label A never produces — its ra is 0,
    # term contributes 0, but join must not drop the row.
    df2 = spark.createDataFrame(
        [("x", "x"), ("x", "z"), ("y", "y")], "a string, b string"
    )
    got2 = cohen_kappa(df2, "a", "b").collect()[0]
    # margins: ra = {x:2, y:1}; cb = {x:1, z:1, y:1}; n=3
    # p_e = (2*1 + 1*1 + 0*1)/9 = 3/9; p_o = 2/3
    assert got2["p_expected"] == pytest.approx(round(3 / 9, 6))
    assert got2["kappa"] == pytest.approx(round((2 / 3 - 1 / 3) / (1 - 1 / 3), 6))


def test_fleiss_kappa_reference(spark):
    from pipeline_dataengineer_spark.operators.agreement import (
        fleiss_kappa,
    )

    # Wikipedia's canonical Fleiss example: 10 items x 14 raters,
    # 5 categories; kappa ~= 0.20993
    table_counts = [
        [0, 0, 0, 0, 14],
        [0, 2, 6, 4, 2],
        [0, 0, 3, 5, 6],
        [0, 3, 9, 2, 0],
        [2, 2, 8, 1, 1],
        [7, 7, 0, 0, 0],
        [3, 2, 6, 3, 0],
        [2, 5, 3, 2, 2],
        [6, 5, 2, 1, 0],
        [0, 2, 2, 3, 7],
    ]
    rows = []
    for item, cat_counts in enumerate(table_counts):
        for cat, c in enumerate(cat_counts):
            rows += [(item, cat)] * c
    df = spark.createDataFrame(rows, "item int, label int")
    got = fleiss_kappa(df.repartition(7), "item", "label").collect()[0]
    assert got["n_items"] == 10 and got["n_raters"] == 14
    assert got["kappa"] == pytest.approx(0.209930, abs=1e-5)

    ragged = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a")], "item int, label string"
    )
    with pytest.raises(ValueError, match="constant panel"):
        fleiss_kappa(ragged, "item", "label")


def test_bradley_terry_recovers_order(spark):
    from pipeline_dataengineer_spark.operators.agreement import (
        bradley_terry,
    )

    # strengths 4 : 2 : 1 -> win probabilities 4/6, 4/5, 2/3;
    # generate a deterministic outcome table matching expectations
    rows = []
    for w, l, n in [("A", "B", 40), ("B", "A", 20),
                    ("A", "C", 48), ("C", "A", 12),
                    ("B", "C", 40), ("C", "B", 20)]:
        rows += [(w, l)] * n
    df = spark.createDataFrame(rows, "w string, l string").repartition(6)
    got = {
        r["item"]: r for r in bradley_terry(df, "w", "l", iters=200).collect()
    }
    assert got["A"]["strength"] > got["B"]["strength"] > got["C"]["strength"]
    # MLE ratios approach the generating 4:2:1 (exact pair table)
    assert got["A"]["strength"] / got["C"]["strength"] == pytest.approx(
        4.0, rel=0.05
    )
    assert got["B"]["strength"] / got["C"]["strength"] == pytest.approx(
        2.0, rel=0.05
    )
    assert got["A"]["wins"] == 88 and got["A"]["games"] == 120
    # determinism across partitionings
    again = {
        r["item"]: r["strength"]
        for r in bradley_terry(
            df.repartition(13), "w", "l", iters=200
        ).collect()
    }
    assert all(again[k] == got[k]["strength"] for k in again)


def test_krippendorff_alpha_reference(spark):
    """Krippendorff's own worked nominal example (4 raters, 12 items,
    ragged with missing ratings): alpha = 0.743 (Krippendorff 2011,
    'Computing Krippendorff's Alpha-Reliability', nominal data
    example yields 0.743 for the pairable subset)."""
    from pipeline_dataengineer_spark.operators.agreement import (
        krippendorff_alpha,
    )

    # the standard example grid (None = missing); raters A-D
    grid = {
        "A": [1, 2, 3, 3, 2, 1, 4, 1, 2, None, None, None],
        "B": [1, 2, 3, 3, 2, 2, 4, 1, 2, 5, None, 3],
        "C": [None, 3, 3, 3, 2, 3, 4, 2, 2, 5, 1, None],
        "D": [1, 2, 3, 3, 2, 4, 4, 1, 2, 5, 1, None],
    }
    rows = []
    for rater, vals in grid.items():
        for item, v in enumerate(vals):
            if v is not None:
                rows.append((item, v))
    df = spark.createDataFrame(rows, "item int, label int")
    got = krippendorff_alpha(df.repartition(5), "item", "label").collect()[0]
    assert got["alpha"] == pytest.approx(0.743, abs=0.002)
    # perfect agreement -> 1.0
    perf = spark.createDataFrame(
        [(i, i % 3) for i in range(30) for _ in range(3)],
        "item int, label int",
    )
    assert krippendorff_alpha(perf, "item", "label").collect()[0][
        "alpha"
    ] == 1.0
    # single-rating items contribute nothing
    plus_single = df.union(
        spark.createDataFrame([(99, 1)], "item int, label int")
    )
    again = krippendorff_alpha(plus_single, "item", "label").collect()[0]
    assert again["alpha"] == got["alpha"]


# ------------------------------------------------------------------
# text eval: BLEU / ROUGE-L / classification report
# ------------------------------------------------------------------


def _py_bleu(pairs, max_n=4):
    from collections import Counter

    import math as m

    match = {n: 0 for n in range(1, max_n + 1)}
    total = {n: 0 for n in range(1, max_n + 1)}
    c_len = r_len = 0
    for ref, hyp in pairs:
        rt, ht = ref.split(), hyp.split()
        c_len += len(ht)
        r_len += len(rt)
        for n in range(1, max_n + 1):
            hg = Counter(
                tuple(ht[i : i + n]) for i in range(len(ht) - n + 1)
            )
            rg = Counter(
                tuple(rt[i : i + n]) for i in range(len(rt) - n + 1)
            )
            total[n] += sum(hg.values())
            match[n] += sum(min(c, rg[g]) for g, c in hg.items())
    ps = [match[n] / total[n] if total[n] else 0.0 for n in range(1, max_n + 1)]
    if any(p == 0 for p in ps):
        return 0.0, ps
    bp = 1.0 if c_len > r_len else m.exp(1 - r_len / c_len)
    return bp * m.exp(sum(m.log(p) for p in ps) / max_n), ps


def test_bleu_corpus_matches_python_reference(spark):
    from pipeline_dataengineer_spark.operators.text_eval import bleu_corpus

    pairs = [
        ("the cat sat on the mat", "the cat sat on a mat"),
        ("there is a cat on the mat", "a cat is on the mat there"),
        ("how are you doing today my friend", "how are you today friend"),
        ("repeat repeat repeat repeat", "repeat repeat"),
    ]
    df = spark.createDataFrame(
        [(i, r, h) for i, (r, h) in enumerate(pairs)],
        "id int, ref string, hyp string",
    ).repartition(3)
    got = bleu_corpus(df, "id", "ref", "hyp").collect()[0]
    ref_bleu, ref_ps = _py_bleu(pairs)
    assert got["bleu"] == pytest.approx(ref_bleu, abs=1e-6)
    for n in range(1, 5):
        assert got[f"p_{n}"] == pytest.approx(ref_ps[n - 1], abs=1e-6)
    # zero 4-gram precision zeroes the corpus score (no smoothing)
    tiny = spark.createDataFrame(
        [(1, "a b c d", "a x y z")], "id int, ref string, hyp string"
    )
    assert bleu_corpus(tiny, "id", "ref", "hyp").collect()[0]["bleu"] == 0.0
    # all-empty hypotheses: brevity penalty divides by hyp_tokens=0 —
    # must degrade (try_divide -> NULL -> bleu 0.0), not raise ANSI
    # DIVIDE_BY_ZERO.
    empty = spark.createDataFrame(
        [(1, "a b c", ""), (2, "d e", "")], "id int, ref string, hyp string"
    )
    row = bleu_corpus(empty, "id", "ref", "hyp").collect()[0]
    assert row["bleu"] == 0.0
    assert row["hyp_tokens"] == 0


def test_lorenz_curve_empty_input(spark):
    from pipeline_dataengineer_spark.operators.inequality import (
        lorenz_curve,
    )

    empty = spark.createDataFrame([], "v double")
    assert lorenz_curve(empty, "v").collect() == []
    all_null = spark.createDataFrame([(None,), (None,)], "v double")
    assert lorenz_curve(all_null, "v").collect() == []


def test_rouge_l_reference_and_truncation(spark):
    from pipeline_dataengineer_spark.operators.text_eval import rouge_l

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "the cat on the mat"),
            (2, "a b c d e f g h", "x a y c z e f q"),
        ],
        "id int, ref string, hyp string",
    )
    got = {r["id"]: r for r in rouge_l(df, "id", "ref", "hyp").collect()}
    assert got[1]["lcs"] == 5  # the cat on the mat
    assert got[2]["lcs"] == 4  # a c e f
    assert got[1]["rouge_l_p"] == 1.0
    assert got[1]["rouge_l_r"] == pytest.approx(5 / 6)
    trunc = rouge_l(
        df, "id", "ref", "hyp", max_tokens=3
    ).collect()
    assert all(r["truncated"] for r in trunc)
    assert all(r["ref_tokens"] == 3 for r in trunc)


def test_classification_report_sklearn_semantics(spark):
    from pipeline_dataengineer_spark.operators.classification import (
        classification_report,
        classification_summary,
    )

    rows = (
        [("a", "a")] * 50 + [("a", "b")] * 10 + [("b", "b")] * 30
        + [("b", "a")] * 5 + [("c", "a")] * 5
    )
    df = spark.createDataFrame(rows, "label string, pred string")
    rep = {r["class"]: r for r in classification_report(df, "label", "pred").collect()}
    assert rep["a"]["tp"] == 50 and rep["a"]["fp"] == 10 and rep["a"]["fn"] == 10
    assert rep["b"]["precision"] == pytest.approx(0.75)
    assert rep["c"]["precision"] is None  # never predicted -> NULL
    assert rep["c"]["recall"] == 0.0
    s = classification_summary(df, "label", "pred").collect()[0]
    assert s["accuracy"] == pytest.approx(0.8)
    # sklearn zero_division=0 macro parity, computed by hand:
    assert s["macro_precision"] == pytest.approx((0.833333333 + 0.75 + 0.0) / 3, abs=1e-6)
    assert s["n"] == 100 and s["n_classes"] == 3


def test_wasserstein_1d_reference(spark):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        wasserstein_1d,
    )

    a = [float((i * 7) % 13) for i in range(200)]
    b = [float((i * 5) % 13) + 1.5 for i in range(150)]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double").repartition(7)
    got = wasserstein_1d(df, "g", "v", "a", "b").collect()[0]

    # scipy-free reference: integral of |F_a - F_b| over pooled grid
    def ref_w1(xs, ys):
        grid = sorted(set(xs) | set(ys))
        w = 0.0
        import bisect

        sx, sy = sorted(xs), sorted(ys)
        for v, vn in zip(grid, grid[1:]):
            fa = bisect.bisect_right(sx, v) / len(sx)
            fb = bisect.bisect_right(sy, v) / len(sy)
            w += abs(fa - fb) * (vn - v)
        return w

    assert got["w1"] == pytest.approx(ref_w1(a, b), abs=1e-6)
    assert got["n_a"] == 200 and got["n_b"] == 150
    # identical samples -> 0; shift by c -> exactly c
    same = spark.createDataFrame(
        [("a", float(i % 9)) for i in range(90)]
        + [("b", float(i % 9)) for i in range(90)],
        "g string, v double",
    )
    assert wasserstein_1d(same, "g", "v", "a", "b").collect()[0]["w1"] == 0.0
    shift = spark.createDataFrame(
        [("a", float(i % 9)) for i in range(90)]
        + [("b", float(i % 9) + 2.5) for i in range(90)],
        "g string, v double",
    )
    assert shift.count() == 180
    assert wasserstein_1d(shift, "g", "v", "a", "b").collect()[0][
        "w1"
    ] == pytest.approx(2.5)


def test_grouped_roc_auc_matches_global_per_group(spark):
    from pipeline_dataengineer_spark.operators.calibration import (
        grouped_roc_auc,
        roc_auc,
    )

    rows = [
        (("a" if i % 3 else "b"), float((i * i) % 9) / 10.0,
         int((i * 13) % 7 < 3))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, s double, y int").repartition(7)
    grouped = {
        r["g"]: (r["auc"], r["n_pos"], r["n_neg"])
        for r in grouped_roc_auc(df, ["g"], "s", "y").collect()
    }
    for g in ("a", "b"):
        solo = roc_auc(df.filter(F.col("g") == g), "s", "y").collect()[0]
        assert grouped[g] == (solo["auc"], solo["n_pos"], solo["n_neg"])


def test_sample_negatives_deterministic_and_clean(spark):
    from pipeline_dataengineer_spark.operators.sampling import (
        sample_negatives,
    )

    anchors = spark.range(1, 51).select(F.col("id").alias("a"))
    pool = spark.range(1000, 1300).select(F.col("id").alias("item"))
    pos = anchors.join(
        pool, F.col("a") % 10 == F.col("item") % 10
    ).select("a", "item")
    out1 = sorted(
        (r["a"], r["negative"])
        for r in sample_negatives(
            anchors, "a", pool, "item", k=4, positives=pos
        ).collect()
    )
    out2 = sorted(
        (r["a"], r["negative"])
        for r in sample_negatives(
            anchors.repartition(9), "a", pool.repartition(5),
            "item", k=4, positives=pos,
        ).collect()
    )
    assert out1 == out2  # layout-independent
    pos_set = {(r["a"], r["item"]) for r in pos.collect()}
    per_anchor = {}
    for a, neg in out1:
        assert (a, neg) not in pos_set
        per_anchor.setdefault(a, set()).add(neg)
    assert set(per_anchor) == set(range(1, 51))
    assert all(1 <= len(v) <= 4 for v in per_anchor.values())


def test_sample_negatives_decorrelated_and_no_self(spark):
    from pipeline_dataengineer_spark.operators.sampling import (
        sample_negatives,
    )

    # pool overlaps the anchor id space: an anchor must never draw
    # itself as a negative.
    anchors = spark.range(0, 100).select(F.col("id").alias("a"))
    pool = spark.range(0, 100).select(F.col("id").alias("item"))
    out = sample_negatives(anchors, "a", pool, "item", k=8)
    rows = [(r["a"], r["negative"]) for r in out.collect()]
    assert all(a != n for a, n in rows)
    # decorrelation: the probe runs through the non-linear scramble,
    # so one anchor's negatives must NOT form a fixed-stride
    # arithmetic progression over the pool index, and adjacent
    # anchors must NOT receive translated copies of the same set.
    per = {}
    for a, n in rows:
        per.setdefault(a, set()).add(n)
    stride_like = 0
    for a, negs in per.items():
        s = sorted(negs)
        if len(s) >= 3:
            diffs = {s[i + 1] - s[i] for i in range(len(s) - 1)}
            if len(diffs) == 1:
                stride_like += 1
    assert stride_like <= 2  # a couple by chance, not systematically
    translated = 0
    for a in range(99):
        if a in per and (a + 1) in per and len(per[a]) >= 3:
            shifts = {
                (min(per[a + 1]) - min(per[a]))
            }
            sh = shifts.pop()
            if {(x + sh) % 100 for x in per[a]} == per[a + 1]:
                translated += 1
    assert translated <= 2


def test_effect_size_and_cliffs_delta(spark, monkeypatch):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        cliffs_delta,
        effect_size,
    )

    a = [float(v) for v in [2, 4, 4, 4, 5, 5, 7, 9]]   # mean 5, sd 2
    b = [float(v) for v in [1, 2, 3, 4, 5, 5, 6, 6]]   # mean 4
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double").repartition(5)
    es = effect_size(df, "g", "v", "a", "b").collect()[0]
    import statistics as st

    sp = (
        (sum((x - 5) ** 2 for x in a) + sum((x - 4) ** 2 for x in b))
        / (len(a) + len(b) - 2)
    ) ** 0.5
    d = (5 - 4) / sp
    assert es["mean_a"] == 5.0 and es["mean_b"] == 4.0
    assert es["cohens_d"] == pytest.approx(round(d, 6))
    assert es["hedges_g"] == pytest.approx(
        round(d * (1 - 3 / (4 * 16 - 9)), 6)
    )
    cd = cliffs_delta(df, "g", "v", "a", "b").collect()[0]
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    assert cd["n_gt"] == gt and cd["n_lt"] == lt
    assert cd["delta"] == pytest.approx(
        round((gt - lt) / (len(a) * len(b)), 6)
    )
    # forced two-phase regime: bit parity on a multi-partition fixture
    from pipeline_dataengineer_spark.operators import order

    monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", -1)
    cdd = cliffs_delta(df, "g", "v", "a", "b").collect()[0]
    assert tuple(cdd) == tuple(cd)


def test_cliffs_delta_distributed_continuous(spark, monkeypatch):
    """Continuous domain (every value distinct), where the distinct
    table is as large as the input: the one-task and the forced
    two-phase regime (a many-partition layout) must both match the
    brute-force pair counts."""
    from pipeline_dataengineer_spark.operators import order
    from pipeline_dataengineer_spark.operators.stats_tests import (
        cliffs_delta,
    )

    rows = [("a", float(i) * 1.37 + (i % 13) * 0.001) for i in range(400)]
    rows += [("b", float(i) * 1.11 + 20.0) for i in range(350)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(11)
    df = df.cache()
    df.count()  # measured cache bytes: the one-task regime first
    base = cliffs_delta(df, "g", "v", "a", "b").collect()[0]
    monkeypatch.setattr(order, "_ONE_TASK_MAX_BYTES", -1)
    dist = cliffs_delta(df, "g", "v", "a", "b").collect()[0]
    assert tuple(dist) == tuple(base)
    assert base["n_a"] == 400 and base["n_b"] == 350
    a = [v for g, v in rows if g == "a"]
    b = [v for g, v in rows if g == "b"]
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    assert (base["n_gt"], base["n_lt"]) == (gt, lt)


def test_vocab_overlap_reference(spark):
    from pipeline_dataengineer_spark.operators.corpus import vocab_overlap

    rows = [
        ("a", "the quick brown fox"),
        ("a", "the lazy dog"),
        ("b", "the quick red dog"),
        ("c", "completely different words here"),
    ]
    df = spark.createDataFrame(rows, "src string, text string")
    got = {
        (r["group_a"], r["group_b"]): r
        for r in vocab_overlap(df, "src", "text").collect()
    }
    # V_a = {the,quick,brown,fox,lazy,dog} (6); V_b = {the,quick,red,dog} (4)
    ab = got[("a", "b")]
    assert ab["vocab_a"] == 6 and ab["vocab_b"] == 4
    assert ab["common"] == 3  # the, quick, dog
    assert ab["jaccard"] == pytest.approx(round(3 / 7, 6))
    assert ab["containment_a_in_b"] == pytest.approx(0.5)
    assert ab["containment_b_in_a"] == pytest.approx(0.75)
    assert ("a", "c") not in got or got[("a", "c")]["common"] >= 0
    # disjoint vocabularies never meet the inner join -> pair absent
    assert ("a", "c") not in got and ("b", "c") not in got


def test_kendall_distributed_matches_default_and_bruteforce(spark):
    """The sized single-partition kernel and an explicit 13-partition
    layout must agree exactly with each other AND a brute-force pair
    count, on a continuous multi-partition fixture with x ties, y
    ties, and joint ties."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        kendall_tau_b,
    )

    rows = []
    for i in range(400):
        x = float(i % 37) + (0.5 if i % 11 == 0 else 0.0)  # x ties
        y = float((i * 7919) % 101) / 3.0 + (i % 5)         # y ties
        rows.append((x, y))
    # some joint ties
    rows += [(3.0, 4.0)] * 4
    df = spark.createDataFrame(rows, "x double, y double").repartition(13)
    base = kendall_tau_b(df, "x", "y").collect()[0]
    dist = kendall_tau_b(df, "x", "y", num_partitions=13).collect()[0]
    assert (
        dist["concordant"],
        dist["discordant"],
        dist["n"],
        dist["tau_b"],
    ) == (
        base["concordant"],
        base["discordant"],
        base["n"],
        base["tau_b"],
    )
    # brute force
    c = d = 0
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            dx = rows[i][0] - rows[j][0]
            dy = rows[i][1] - rows[j][1]
            if dx * dy > 0:
                c += 1
            elif dx * dy < 0:
                d += 1
    assert dist["concordant"] == c and dist["discordant"] == d


def test_kendall_distributed_continuous_no_cap(spark):
    """All-distinct continuous data (as many distinct cells as rows)
    computes exactly under any layout."""
    from pipeline_dataengineer_spark.operators.stats_tests import (
        kendall_tau_b,
    )

    n = 6000
    rows = [
        (float(i) + (i % 7) * 0.01, float((i * 2654435761) % 1_000_003))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "x double, y double").repartition(17)
    out = kendall_tau_b(df, "x", "y", num_partitions=17).collect()[0]
    assert kendall_tau_b(df, "x", "y").collect()[0] == out
    assert out["n"] == n
    assert out["concordant"] + out["discordant"] <= n * (n - 1) // 2
    # x is strictly increasing in i; y is a pseudo-random permutation
    # -> tau near 0, counts huge but consistent
    assert abs(out["tau_b"]) < 0.05
    assert out["concordant"] > 0 and out["discordant"] > 0


def test_kendall_distributed_perfect_orders(spark):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        kendall_tau_b,
    )

    up = spark.createDataFrame(
        [(float(i), float(i) * 2.5) for i in range(500)],
        "x double, y double",
    ).repartition(9)
    assert kendall_tau_b(
        up, "x", "y", num_partitions=9
    ).collect()[0]["tau_b"] == 1.0
    down = spark.createDataFrame(
        [(float(i), -float(i)) for i in range(500)],
        "x double, y double",
    ).repartition(9)
    assert kendall_tau_b(
        down, "x", "y", num_partitions=9
    ).collect()[0]["tau_b"] == -1.0


def test_kendall_distributed_randomized_vs_bruteforce(spark):
    """Randomized (seeded) fixtures across tie regimes, each checked
    against the O(n^2) definition — the property the decomposition
    must hold under any tie layout, including an extreme-skew run
    where one x value holds half the rows (RangePartitioner pins the
    whole run to one partition; correctness must not depend on
    balance)."""
    import random

    from pipeline_dataengineer_spark.operators.stats_tests import (
        kendall_tau_b,
    )

    rng = random.Random(1347)
    fixtures = []
    # dense ties
    fixtures.append(
        [(float(rng.randint(0, 4)), float(rng.randint(0, 3))) for _ in range(300)]
    )
    # continuous, no ties
    fixtures.append(
        [(rng.random(), rng.random()) for _ in range(300)]
    )
    # extreme x skew: half the rows share one x
    fixtures.append(
        [(7.0, rng.random()) for _ in range(150)]
        + [(rng.random() * 5, rng.random()) for _ in range(150)]
    )
    for rows in fixtures:
        df = spark.createDataFrame(rows, "x double, y double").repartition(11)
        got = kendall_tau_b(df, "x", "y", num_partitions=7).collect()[0]
        c = d = 0
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                s = (rows[i][0] - rows[j][0]) * (rows[i][1] - rows[j][1])
                if s > 0:
                    c += 1
                elif s < 0:
                    d += 1
        assert (got["concordant"], got["discordant"]) == (c, d), rows[:5]


def test_grouped_spearman_matches_solo_per_group(spark):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        grouped_spearman,
        spearman_rho,
    )

    rows = []
    for i in range(300):
        g = "abc"[i % 3]
        rows.append((g, float((i * 7) % 13), float((i * 5) % 9) + (i % 13)))
    df = spark.createDataFrame(rows, "g string, x double, y double").repartition(7)
    grouped = {
        r["g"]: (r["rho"], r["n"])
        for r in grouped_spearman(df, ["g"], "x", "y").collect()
    }
    for g in "abc":
        solo = spearman_rho(
            df.filter(F.col("g") == g), "x", "y"
        ).collect()[0]
        assert grouped[g] == (solo["rho"], solo["n"])


def test_grouped_cliffs_matches_solo_per_group(spark):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        cliffs_delta,
        grouped_cliffs_delta,
    )

    rows = []
    for i in range(240):
        seg = "xy"[i % 2]
        cls = "a" if i % 3 else "b"
        rows.append((seg, cls, float((i * 13) % 29) + (i % 2)))
    df = spark.createDataFrame(
        rows, "seg string, cls string, v double"
    ).repartition(5)
    grouped = {
        r["seg"]: tuple(r)[1:]
        for r in grouped_cliffs_delta(
            df, ["seg"], "cls", "v", "a", "b"
        ).collect()
    }
    for seg in "xy":
        solo = cliffs_delta(
            df.filter(F.col("seg") == seg), "cls", "v", "a", "b"
        ).collect()[0]
        assert grouped[seg] == tuple(solo)


def test_grouped_ks_matches_solo_and_handles_one_sided(spark):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        grouped_ks_test,
        ks_test,
    )

    rows = []
    for i in range(260):
        seg = "pq"[i % 2]
        cls = "a" if i % 3 else "b"
        rows.append((seg, cls, float((i * 17) % 37) + (i % 2) * 3))
    df = spark.createDataFrame(
        rows, "seg string, cls string, v double"
    ).repartition(6)
    grouped = {
        r["seg"]: (r["ks_stat"], r["n_a"], r["n_b"])
        for r in grouped_ks_test(df, ["seg"], "cls", "v", "a", "b").collect()
    }
    for seg in "pq":
        solo = ks_test(
            df.filter(F.col("seg") == seg), "cls", "v", "a", "b"
        ).collect()[0]
        assert grouped[seg] == (
            round(solo["ks_stat"], 6), solo["n_a"], solo["n_b"],
        )
    # one-sided segment -> NULL ks, not an error
    extra = df.unionByName(
        spark.createDataFrame(
            [("z", "a", 1.0), ("z", "a", 2.0)],
            "seg string, cls string, v double",
        )
    )
    z = {
        r["seg"]: r["ks_stat"]
        for r in grouped_ks_test(extra, ["seg"], "cls", "v", "a", "b").collect()
    }
    assert z["z"] is None


def test_grouped_wasserstein_matches_solo_per_group(spark):
    from pipeline_dataengineer_spark.operators.stats_tests import (
        grouped_wasserstein_1d,
        wasserstein_1d,
    )

    rows = []
    for i in range(260):
        seg = "mn"[i % 2]
        cls = "a" if i % 3 else "b"
        rows.append((seg, cls, float((i * 19) % 41) + (i % 2) * 2.5))
    df = spark.createDataFrame(
        rows, "seg string, cls string, v double"
    ).repartition(6)
    grouped = {
        r["seg"]: tuple(r)[1:]
        for r in grouped_wasserstein_1d(
            df, ["seg"], "cls", "v", "a", "b"
        ).collect()
    }
    for seg in "mn":
        solo = wasserstein_1d(
            df.filter(F.col("seg") == seg), "cls", "v", "a", "b"
        ).collect()[0]
        assert grouped[seg] == tuple(solo)
    # one-sided group -> NULL w1
    extra = df.unionByName(
        spark.createDataFrame(
            [("z", "a", 1.0)], "seg string, cls string, v double"
        )
    )
    z = {
        r["seg"]: r["w1"]
        for r in grouped_wasserstein_1d(
            extra, ["seg"], "cls", "v", "a", "b"
        ).collect()
    }
    assert z["z"] is None
