"""Wave-9 round-6 operators: mean change-point
(operators/changepoint.py), cross-correlation (operators/xcorr.py),
reciprocal-rank fusion (operators/fusion.py), Cohen's kappa
(operators/evalmetrics.py), and Kendall tau-b
(operators/correlation.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from owl_etl_spark.operators.changepoint import mean_changepoint
from owl_etl_spark.operators.correlation import kendall_tau_b
from owl_etl_spark.operators.evalmetrics import cohen_kappa
from owl_etl_spark.operators.fusion import rrf_fuse
from owl_etl_spark.operators.xcorr import cross_correlation


# ------------------------------------------------------------ changepoint


def test_changepoint_obvious_shift(spark):
    # 10 rows at 100 then 10 rows at 500: best split is after pos 10
    rows = [("g", t, 100) for t in range(1, 11)] + [("g", t, 500) for t in range(11, 21)]
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    r = mean_changepoint(df, ["g"], "t", "v").collect()[0]
    assert (r["n"], r["split_pos"], r["split_at"]) == (20, 10, 10)
    assert (r["left_mean"], r["right_mean"]) == (100.0, 500.0)
    # true gain = n_l*n_r/n * (Δmean)² = 10*10/20 * 400² = 800000;
    # floored-key arithmetic may be off by at most 1
    assert abs(r["gain_units2"] - 800000) <= 1


def test_changepoint_tie_breaks_earliest(spark):
    # symmetric series: split after 1 and after 3 give identical gain
    # ([9,1,1,9] → t=1: 9 | 1,1,9 vs t=3: 9,1,1 | 9); earliest wins
    df = spark.createDataFrame(
        [("g", 1, 9), ("g", 2, 1), ("g", 3, 1), ("g", 4, 9)], ["g", "t", "v"]
    )
    r = mean_changepoint(df, ["g"], "t", "v").collect()[0]
    assert r["split_pos"] == 1


def test_changepoint_null_values_excluded_and_small_groups_dropped(spark):
    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, None), ("g", 3, 100), ("solo", 1, 5)],
        ["g", "t", "v"],
    )
    rows = {r["g"]: r for r in mean_changepoint(df, ["g"], "t", "v").collect()}
    assert "solo" not in rows  # n=1 → no candidate split
    assert rows["g"]["n"] == 2 and rows["g"]["split_pos"] == 1


# ------------------------------------------------------------------ xcorr


def test_xcorr_detects_known_lead(spark):
    # y is x delayed by two steps (y_t = x_{t-2}), so x LEADS y and
    # corr(x_t, y_{t+k}) peaks exactly at lag +2
    xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9]
    rows = [("s", t, xs[t], xs[t - 2] if t >= 2 else 0) for t in range(len(xs))]
    df = spark.createDataFrame(rows, ["k", "t", "x", "y"])
    out = {r["lag"]: r for r in cross_correlation(df, ["k"], "t", "x", "y", 3).collect()}
    assert out[2]["xcorr"] == 1.0
    assert all(out[k]["xcorr"] < 1.0 for k in out if k != 2)
    # pairs at lag +2: t = 0..12 (y_{t+2} defined) → 13
    assert out[2]["n_pairs"] == 13
    assert out[-3]["n_pairs"] == len(xs) - 3


def test_xcorr_lag0_matches_plain_corr_and_null_pairs_excluded(spark):
    rows = [("s", 1, 1, 2), ("s", 2, 2, 4), ("s", 3, 3, 6), ("s", 4, None, 8)]
    df = spark.createDataFrame(rows, ["k", "t", "x", "y"])
    out = {r["lag"]: r for r in cross_correlation(df, ["k"], "t", "x", "y", 0).collect()}
    assert out[0]["xcorr"] == 1.0 and out[0]["n_pairs"] == 3


# -------------------------------------------------------------------- rrf


def test_rrf_hand_scores(spark):
    rows = [("l1", "a", 1), ("l1", "b", 2), ("l2", "b", 1), ("l2", "c", 2)]
    df = spark.createDataFrame(rows, ["lst", "item", "rnk"])
    got = {r["item"]: r for r in rrf_fuse(df, "lst", "item", "rnk").collect()}
    assert got["b"]["rrf_nano"] == 10**9 // 61 + 10**9 // 62
    assert got["a"]["rrf_nano"] == 10**9 // 61
    assert got["c"]["rrf_nano"] == 10**9 // 62
    # b appears in both lists and outranks single-list items
    assert got["b"]["fused_rank"] == 1 and got["b"]["n_lists"] == 2
    assert got["a"]["fused_rank"] == 2  # same 1/61 > 1/62
    assert got["a"]["best_rank"] == 1


def test_rrf_tie_breaks_on_item_and_top_n(spark):
    rows = [("l1", "z", 5), ("l2", "a", 5)]
    df = spark.createDataFrame(rows, ["lst", "item", "rnk"])
    got = {r["item"]: r["fused_rank"] for r in rrf_fuse(df, "lst", "item", "rnk").collect()}
    assert got == {"a": 1, "z": 2}
    top1 = rrf_fuse(df, "lst", "item", "rnk", top_n=1).collect()
    assert [r["item"] for r in top1] == ["a"]


def test_rrf_bad_rank_raises(spark):
    df = spark.createDataFrame([("l1", "a", 0)], ["lst", "item", "rnk"])
    with pytest.raises(Exception, match="rank must be >= 1"):
        rrf_fuse(df, "lst", "item", "rnk").collect()


# ------------------------------------------------------------------ kappa


def test_kappa_hand_confusion(spark):
    # classic 2x2: n=100, agreements=75 (45 yes-yes, 30 no-no),
    # marginals a: 60 yes/40 no, b: 55 yes/45 no
    # pe = (60*55 + 40*45)/10000 = 0.51, po = 0.75
    # kappa = (0.75-0.51)/(1-0.51) = 0.489796
    rows = (
        [("y", "y")] * 45 + [("y", "n")] * 15 + [("n", "y")] * 10 + [("n", "n")] * 30
    )
    df = spark.createDataFrame(rows, ["a", "b"])
    r = cohen_kappa(df, "a", "b").collect()[0]
    assert r["n"] == 100 and r["po"] == 0.75
    assert r["kappa"] == pytest.approx(0.489796, abs=1e-6)


def test_kappa_perfect_and_degenerate(spark):
    perfect = spark.createDataFrame([("x", "x"), ("y", "y"), ("z", "z")], ["a", "b"])
    assert cohen_kappa(perfect, "a", "b").collect()[0]["kappa"] == 1.0
    # both raters constant → pe = 1 → kappa undefined (null)
    const = spark.createDataFrame([("x", "x"), ("x", "x")], ["a", "b"])
    assert cohen_kappa(const, "a", "b").collect()[0]["kappa"] is None


def test_kappa_grouped_and_nulls_dropped(spark):
    rows = [("g1", "x", "x"), ("g1", "x", "y"), ("g2", "x", "x"), ("g2", None, "x")]
    df = spark.createDataFrame(rows, ["g", "a", "b"])
    got = {r["g"]: r for r in cohen_kappa(df, "a", "b", ["g"]).collect()}
    assert got["g1"]["n"] == 2 and got["g2"]["n"] == 1
    assert got["g2"]["po"] == 1.0


# ------------------------------------------------------------------ tau-b


def test_kendall_perfect_and_reversed(spark):
    rows = [("g", i, i * 2) for i in range(10)] + [("h", i, -i) for i in range(10)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    got = {r["g"]: r["tau_b"] for r in kendall_tau_b(df, ["g"], "x", "y").collect()}
    assert got["g"] == 1.0 and got["h"] == -1.0


def test_kendall_hand_case_with_ties(spark):
    # x=[1,1,2,3], y=[1,2,2,3]: pairs C=4 D=0 ties_xy... scipy gives
    # tau_b = 4/sqrt(5*5) = 0.8
    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 1, 2), ("g", 2, 2), ("g", 3, 3)], ["g", "x", "y"]
    )
    r = kendall_tau_b(df, ["g"], "x", "y").collect()[0]
    assert r["n_pairs"] == 6
    assert r["tau_b"] == pytest.approx(0.8, abs=1e-6)


def test_kendall_wholly_tied_axis_null_and_cap_raises(spark):
    df = spark.createDataFrame([("g", 1, 5), ("g", 2, 5), ("g", 3, 5)], ["g", "x", "y"])
    assert kendall_tau_b(df, ["g"], "x", "y").collect()[0]["tau_b"] is None
    big = spark.createDataFrame([("g", i, i) for i in range(20)], ["g", "x", "y"])
    with pytest.raises(Exception, match="max_group_rows"):
        kendall_tau_b(big, ["g"], "x", "y", max_group_rows=10).collect()
