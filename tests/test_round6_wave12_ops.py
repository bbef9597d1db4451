"""Wave-12 round-6 operators: modularity (operators/graph.py), mutual
information (operators/profile.py), bigram LM (operators/ranking.py),
DTW (operators/dtw.py), isotonic PAV fit (operators/evalmetrics.py),
max drawdown (operators/window_stats.py)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from owl_etl_spark.operators.dtw import dtw_pairs
from owl_etl_spark.operators.evalmetrics import isotonic_fit
from owl_etl_spark.operators.graph import modularity_report
from owl_etl_spark.operators.profile import mutual_information_report
from owl_etl_spark.operators.ranking import bigram_logprob_score
from owl_etl_spark.operators.window_stats import max_drawdown_report


# ------------------------------------------------------------ modularity


def test_modularity_two_cliques(spark):
    # two triangles joined by one bridge: the classic Q > 0 case
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    labels = [(i, "L") for i in (1, 2, 3)] + [(i, "R") for i in (4, 5, 6)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    l = spark.createDataFrame(labels, ["node", "com"])
    rows = {r["community"]: r for r in modularity_report(e, l, "node", "com").collect()}
    m = 7
    for com, deg in (("L", 7), ("R", 7)):
        r = rows[com]
        assert r["n_nodes"] == 3 and r["e_in"] == 3 and r["deg_sum"] == deg
        assert r["q_num"] == 4 * m * 3 - deg * deg
        assert r["q_contrib"] == round(r["q_num"] / (4 * m * m), 6)
    q_total = sum(r["q_num"] for r in rows.values()) / (4 * m * m)
    assert q_total > 0.3  # strong structure


def test_modularity_random_labels_near_zero(spark):
    # a 12-cycle labeled alternately: within-community edges = 0
    edges = [(i, (i + 1) % 12) for i in range(12)]
    labels = [(i, "A" if i % 2 == 0 else "B") for i in range(12)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    l = spark.createDataFrame(labels, ["node", "com"])
    rows = modularity_report(e, l, "node", "com").collect()
    q = sum(r["q_num"] for r in rows) / (4 * 12 * 12)
    assert q <= 0  # anti-community labeling


def test_modularity_unlabeled_node_raises(spark):
    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    l = spark.createDataFrame([(1, "A")], ["node", "com"])
    with pytest.raises(Exception, match="missing from labels"):
        modularity_report(e, l, "node", "com").collect()


# ------------------------------------------------------------------- MI


def test_mi_independent_is_zero(spark):
    # X and Y independent uniform -> every cell term is exactly 0
    rows = [("k", x, y) for x in "ab" for y in "cd" for _ in range(5)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    r = mutual_information_report(df, ["k"], "x", "y").collect()[0]
    assert r["n"] == 20 and r["n_x"] == 2 and r["n_y"] == 2
    assert r["mi_micro_nats"] == 0


def test_mi_determined_equals_entropy(spark):
    # Y == X -> MI = H(X) = ln 2 for a 50/50 split
    rows = [("k", v, v) for v in ("a", "b") for _ in range(8)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    r = mutual_information_report(df, ["k"], "x", "y").collect()[0]
    expected = 2 * round(0.5 * math.log(2) * 1e6)
    assert r["mi_micro_nats"] == expected


def test_mi_nulls_excluded(spark):
    rows = [("k", "a", "c")] * 3 + [("k", None, "c"), ("k", "a", None)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    r = mutual_information_report(df, ["k"], "x", "y").collect()[0]
    assert r["n"] == 3 and r["mi_micro_nats"] == 0


# ------------------------------------------------------------ bigram LM


def test_bigram_costs_exact(spark):
    # corpus: doc1 "a b a b", doc2 "a b". Tokens all lowercase single
    # letters; vocab V = 2. bigrams: d1: ab, ba, ab; d2: ab.
    # c(ab)=3, c(ba)=1; contexts: c(a·)=3, c(b·)=1.
    df = spark.createDataFrame([(1, "a b a b"), (2, "a b")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in bigram_logprob_score(df).collect()}
    cost_ab = round(math.log((3 + 2) / (3 + 1)) * 1e6)
    cost_ba = round(math.log((1 + 2) / (1 + 1)) * 1e6)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["cost_micro_nats"] == 2 * cost_ab + cost_ba
    assert out[2]["n_bigrams"] == 1
    assert out[2]["cost_micro_nats"] == cost_ab


def test_bigram_short_docs_emit_no_row(spark):
    df = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, "x y")], ["doc_id", "text"]
    )
    out = bigram_logprob_score(df).collect()
    assert [r["doc_id"] for r in out] == [3]


# ----------------------------------------------------------------- DTW


def _py_dtw(a, b):
    """Independent unbanded reference implementation."""
    n, m = len(a), len(b)
    INF = float("inf")
    D = [[INF] * (m + 1) for _ in range(n + 1)]
    D[0][0] = 0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            c = abs(a[i - 1] - b[j - 1])
            D[i][j] = c + min(D[i - 1][j], D[i][j - 1], D[i - 1][j - 1])
    return int(D[n][m])


def _run_dtw(spark, series, pairs, **kw):
    s = spark.createDataFrame(series, ["sid", "pos", "val"])
    p = spark.createDataFrame(pairs, ["id_a", "id_b"])
    return dtw_pairs(s, p, "sid", "pos", "val", **kw).collect()


def test_dtw_identical_series_zero(spark):
    series = [("a", i, v) for i, v in enumerate([1, 5, 3, 9])] + [
        ("b", i, v) for i, v in enumerate([1, 5, 3, 9])
    ]
    r = _run_dtw(spark, series, [("a", "b")], band=4)[0]
    assert r["dtw_dist"] == 0 and r["len_a"] == 4


def test_dtw_warping_beats_euclidean(spark):
    # same shape, time-shifted: DTW small, Euclidean would be large
    a = [0, 0, 10, 0, 0, 0]
    b = [0, 0, 0, 0, 10, 0]
    series = [("a", i, v) for i, v in enumerate(a)] + [
        ("b", i, v) for i, v in enumerate(b)
    ]
    r = _run_dtw(spark, series, [("a", "b")], band=6)[0]
    assert r["dtw_dist"] == _py_dtw(a, b) == 0


def test_dtw_matches_python_reference_randomized(spark):
    rnd = random.Random(7)
    a = [rnd.randint(-50, 50) for _ in range(23)]
    b = [rnd.randint(-50, 50) for _ in range(19)]
    series = [("a", i, v) for i, v in enumerate(a)] + [
        ("b", i, v) for i, v in enumerate(b)
    ]
    # band wide enough to equal the unbanded reference
    r = _run_dtw(spark, series, [("a", "b")], band=30)[0]
    assert r["dtw_dist"] == _py_dtw(a, b)
    assert (r["len_a"], r["len_b"]) == (23, 19)


def test_dtw_band_too_narrow_raises(spark):
    series = [("a", i, 0) for i in range(10)] + [("b", 0, 0)]
    with pytest.raises(Exception, match="band"):
        _run_dtw(spark, series, [("a", "b")], band=2)


def test_dtw_max_len_guard(spark):
    series = [("a", i, 0) for i in range(30)] + [("b", i, 0) for i in range(30)]
    with pytest.raises(Exception, match="max_len"):
        _run_dtw(spark, series, [("a", "b")], band=64, max_len=10)


# ------------------------------------------------------------- isotonic


def _py_pav(vals, weights):
    """Independent sequential pool-adjacent-violators reference."""
    blocks = [[v * w, w, 1] for v, w in zip(vals, weights)]
    out = []
    for b in blocks:
        out.append(b)
        while len(out) > 1 and out[-2][0] * out[-1][1] > out[-1][0] * out[-2][1]:
            s2, w2, c2 = out.pop()
            s1, w1, c1 = out.pop()
            out.append([s1 + s2, w1 + w2, c1 + c2])
    fitted = []
    for s, w, c in out:
        fitted.extend([s / w] * c)
    return fitted


def test_isotonic_already_monotone_unchanged(spark):
    rows = [("g", i, i, 1) for i in range(5)]  # rates 0,1,2,3,4
    df = spark.createDataFrame(rows, ["g", "pos", "num", "den"])
    out = sorted(isotonic_fit(df, ["g"], "pos", "num", "den").collect(),
                 key=lambda r: r["pos"])
    assert [r["fitted"] for r in out] == [float(i) for i in range(5)]


def test_isotonic_pools_violators(spark):
    # rates 1, 3, 2 (equal weight): PAV pools (3,2) -> 1, 2.5, 2.5
    rows = [("g", 0, 1, 1), ("g", 1, 3, 1), ("g", 2, 2, 1)]
    df = spark.createDataFrame(rows, ["g", "pos", "num", "den"])
    out = {r["pos"]: r["fitted"] for r in isotonic_fit(df, ["g"], "pos", "num", "den").collect()}
    assert out == {0: 1.0, 1: 2.5, 2: 2.5}


def test_isotonic_matches_pav_reference_randomized(spark):
    rnd = random.Random(13)
    vals = [rnd.randint(0, 20) for _ in range(25)]
    wts = [rnd.randint(1, 5) for _ in range(25)]
    rows = [("g", i, v * w, w) for i, (v, w) in enumerate(zip(vals, wts))]
    df = spark.createDataFrame(rows, ["g", "pos", "num", "den"])
    out = sorted(isotonic_fit(df, ["g"], "pos", "num", "den").collect(),
                 key=lambda r: r["pos"])
    expected = _py_pav(vals, wts)
    for r, e in zip(out, expected):
        assert abs(r["fitted"] - e) < 1e-6, (r["pos"], r["fitted"], e)
    # monotone by construction
    fs = [r["fitted"] for r in out]
    assert all(a <= b + 1e-12 for a, b in zip(fs, fs[1:]))


def test_isotonic_guards(spark):
    df = spark.createDataFrame([("g", 0, 1, 0)], ["g", "pos", "num", "den"])
    with pytest.raises(Exception, match="den > 0"):
        isotonic_fit(df, ["g"], "pos", "num", "den").collect()
    df2 = spark.createDataFrame(
        [("g", 0, 1, 1), ("g", 0, 2, 1)], ["g", "pos", "num", "den"]
    )
    with pytest.raises(Exception, match="duplicate pos"):
        isotonic_fit(df2, ["g"], "pos", "num", "den").collect()


# ----------------------------------------------------------- drawdown


def test_drawdown_hand_case(spark):
    # deltas 10, -4, -3, 5, -9: S = 10,6,3,8,-1; peak = 10,10,10,10,10
    # drawdowns 0,4,7,2,11 -> max 11; final -1; peak 10
    rows = [(1, i, d) for i, d in enumerate([10, -4, -3, 5, -9])]
    df = spark.createDataFrame(rows, ["u", "t", "d"])
    r = max_drawdown_report(df, ["u"], "t", "d").collect()[0]
    assert r["n"] == 5
    assert r["final_balance"] == -1
    assert r["peak_balance"] == 10
    assert r["max_drawdown"] == 11


def test_drawdown_monotone_rise_is_zero(spark):
    rows = [(1, i, 2) for i in range(4)]
    df = spark.createDataFrame(rows, ["u", "t", "d"])
    r = max_drawdown_report(df, ["u"], "t", "d").collect()[0]
    assert r["max_drawdown"] == 0 and r["peak_balance"] == 8


def test_drawdown_null_delta_raises(spark):
    df = spark.createDataFrame([(1, 0, None)], "u int, t int, d int")
    with pytest.raises(Exception, match="NULL"):
        max_drawdown_report(df, ["u"], "t", "d").collect()
