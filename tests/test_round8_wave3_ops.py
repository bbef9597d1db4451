"""Round-8 wave-3 operators: Cox proportional hazards
(survival.cox_ph_fit), KMV a-not-b difference estimate
(kmv.kmv_difference_estimate), Huber-loss line fit
(robust.huber_line_fit). Each pinned against a pure-Python replica of
the exact recurrence plus its semantic property (hazard direction,
exact regime / estimate closeness, outlier robustness vs OLS).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from owl_etl_spark.operators.kmv import kmv_difference_estimate, kmv_sketch
from owl_etl_spark.operators.logreg import _round_half_away
from owl_etl_spark.operators.robust import huber_line_fit
from owl_etl_spark.operators.survival import cox_ph_fit


# ------------------------------------------------------------------ cox

def _py_cox(rows, iters):
    """Pure-Python replica of the exact Newton recurrence (Breslow)."""
    beta = 0
    for _ in range(iters):
        # per-row snapped risk weight
        wrows = [
            (t, e, x, _round_half_away(math.exp(beta * x / 1e6) * 1e6))
            for t, e, x in rows
        ]
        times = sorted({t for t, _, _, _ in wrows})
        per_t = {
            t: [sum(w for tt, e, x, w in wrows if tt == t),
                sum(x * w for tt, e, x, w in wrows if tt == t),
                sum(x * x * w for tt, e, x, w in wrows if tt == t),
                sum(1 for tt, e, x, w in wrows if tt == t and e == 1),
                sum(x for tt, e, x, w in wrows if tt == t and e == 1)]
            for t in times
        }
        g = h = 0
        for t in times:
            d, sx = per_t[t][3], per_t[t][4]
            if d < 1:
                continue
            s0 = sum(per_t[u][0] for u in times if u >= t)
            s1 = sum(per_t[u][1] for u in times if u >= t)
            s2 = sum(per_t[u][2] for u in times if u >= t)
            r1 = float(s1) / float(s0)
            r2 = float(s2) / float(s0)
            g += _round_half_away((float(sx) - float(d) * r1) * 1e6)
            h += _round_half_away((float(d) * (r2 - r1 * r1)) * 1e6)
        beta = beta + _round_half_away(g / h * 1e6)
    return beta, g, h


def _cox_rows():
    # x in {0,1,2}; higher x -> systematically shorter durations
    # (higher hazard); ~15% censored
    rows = []
    for i in range(300):
        x = i % 3
        t = 40 - 8 * x + (i * 7) % 12
        e = 0 if i % 7 == 0 else 1
        rows.append((t, e, x))
    return rows


def test_cox_matches_python_replica(spark):
    rows = _cox_rows()
    df = spark.createDataFrame(rows, "t long, e long, x long")
    got = cox_ph_fit(df, "t", "e", "x", n_iters=3).collect()[0]
    beta, g, h = _py_cox(rows, 3)
    assert got["beta_micro"] == beta
    assert got["grad_micro"] == g
    assert got["se_micro"] == _round_half_away(1.0 / math.sqrt(h / 1e6) * 1e6)
    assert got["n"] == 300
    assert got["n_events"] == sum(1 for _, e, _ in rows if e == 1)


def test_cox_hazard_direction_and_convergence(spark):
    rows = _cox_rows()
    df = spark.createDataFrame(rows, "t long, e long, x long")
    got = cox_ph_fit(df, "t", "e", "x", n_iters=4).collect()[0]
    # shorter durations at higher x => positive log-hazard ratio
    assert got["beta_micro"] > 200_000
    # Newton should be near a stationary point by iteration 4: the
    # final-iteration gradient is tiny relative to iteration 1's
    assert abs(got["grad_micro"]) < 0.05 * 300 * 1e6


def test_cox_constant_covariate_raises(spark):
    df = spark.createDataFrame([(5, 1, 2), (7, 1, 2)], "t long, e long, x long")
    with pytest.raises(ValueError, match="non-positive information"):
        cox_ph_fit(df, "t", "e", "x", n_iters=1)


def test_cox_all_censored_raises(spark):
    # no events -> empty risk frame -> no information: must raise, not
    # return a garbage beta
    rows = [(10 + i % 5, 0, i % 3) for i in range(30)]
    df = spark.createDataFrame(rows, "t long, e long, x long")
    with pytest.raises(ValueError, match="non-positive information"):
        cox_ph_fit(df, "t", "e", "x", n_iters=1)


# ----------------------------------------------------------- kmv diff

def test_kmv_diff_exact_regime(spark):
    a = spark.range(0, 100).select(F.col("id").alias("k"))
    b = spark.range(60, 160).select(F.col("id").alias("k"))
    sa = kmv_sketch(a, "k", k=256).select("h")
    sb = kmv_sketch(b, "k", k=256).select("h")
    got = kmv_difference_estimate(sa, sb).collect()[0]
    # union (0..159 = 160 keys) fits the sketch: everything is exact
    assert got["n_union_sketch"] == 160
    assert got["n_only_a"] == 60
    assert got["est_diff"] == 60


def test_kmv_diff_estimate_close_on_large_sets(spark):
    a = spark.range(0, 20_000).select(F.col("id").alias("k"))
    b = spark.range(15_000, 35_000).select(F.col("id").alias("k"))
    sa = kmv_sketch(a, "k", k=256).select("h")
    sb = kmv_sketch(b, "k", k=256).select("h")
    got = kmv_difference_estimate(sa, sb).collect()[0]
    # true |A\B| = 15000, |A∪B| = 35000; error ~ |A∪B|/sqrt(k) ≈ 2200
    assert abs(got["est_diff"] - 15_000) < 6_000, got["est_diff"]


def test_kmv_diff_disjoint_and_subset(spark):
    a = spark.range(0, 50).select(F.col("id").alias("k"))
    b = spark.range(200, 250).select(F.col("id").alias("k"))
    sa = kmv_sketch(a, "k", k=256).select("h")
    sb = kmv_sketch(b, "k", k=256).select("h")
    assert kmv_difference_estimate(sa, sb).collect()[0]["est_diff"] == 50
    # A ⊆ B -> difference 0
    sub = kmv_sketch(spark.range(200, 220).select(F.col("id").alias("k")), "k", k=256).select("h")
    assert kmv_difference_estimate(sub, sb).collect()[0]["est_diff"] == 0


# ---------------------------------------------------------- huber line

def _py_huber_line(rows, k, iters):
    def solve(sw, sx, sxx, sy, sxy):
        det = float(sxx) * sw - float(sx) * sx
        slope = (float(sw) * sxy - float(sx) * sy) / det
        intercept = (float(sxx) * sy - float(sx) * sxy) / det
        return (_round_half_away(intercept * 1e6), _round_half_away(slope * 1e6))

    def fd_floor(a, b):
        return (a - (((a % b) + b) % b)) // b

    n = len(rows)
    w0, w1 = solve(
        n, sum(x for _, x in rows), sum(x * x for _, x in rows),
        sum(y for y, _ in rows), sum(x * y for y, x in rows),
    )
    for _ in range(iters):
        sw = sx = sxx = sy = sxy = 0
        for y, x in rows:
            r = y - fd_floor(w0 + w1 * x, 1_000_000)
            w = 10_000 if abs(r) <= k else fd_floor(k * 10_000, abs(r))
            sw += w; sx += w * x; sxx += w * x * x; sy += w * y; sxy += w * x * y
        w0, w1 = solve(sw, sx, sxx, sy, sxy)
    return w0, w1


def test_huber_line_matches_python_replica(spark):
    rows = [(50 + 9 * x + (x * 13) % 7, x) for x in range(1, 150)]
    rows += [(100_000, 10), (100_000, 140)]  # two wild rows
    df = spark.createDataFrame(rows, "y long, x long")
    fit = huber_line_fit(df, "y", "x", k=20, n_iters=3)
    assert (fit["intercept_micro"], fit["slope_micro"]) == _py_huber_line(rows, 20, 3)


def test_huber_line_resists_outliers_vs_ols(spark):
    clean = [(50 + 9 * x, x) for x in range(1, 150)]
    # outliers at the RIGHT EDGE of x (an outlier at mean(x) only
    # shifts the intercept; leverage needs distance from the mean)
    dirty = clean + [(1_000_000, 149)] * 3
    df = spark.createDataFrame(dirty, "y long, x long")
    fit = huber_line_fit(df, "y", "x", k=20, n_iters=5)
    # OLS on the dirty data is pulled far off slope 9; Huber stays close
    n = len(dirty)
    sx = sum(x for _, x in dirty); sy = sum(y for y, _ in dirty)
    sxx = sum(x * x for _, x in dirty); sxy = sum(x * y for y, x in dirty)
    ols_slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert abs(fit["slope_micro"] / 1e6 - 9) < 0.5
    assert abs(ols_slope - 9) > 5


def test_huber_line_empty_raises(spark):
    df = spark.createDataFrame([], "y long, x long")
    with pytest.raises(ValueError, match="empty"):
        huber_line_fit(df, "y", "x")
