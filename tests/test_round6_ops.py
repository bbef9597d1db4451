"""Round-6 hardening units: the r5 VERDICT/ADVICE fixes.

- seasonal_zscore LEFT-join contract (unseen cells pass through)
- linear_attribution time-bucketed join (identical results to the
  naive key join, bounded per-task fan-out on a hot user)
- fifo_allocate data-derived bucket_units (B-invariance of results)
- weighted_quantiles / trimmed_mean_report null-value exclusion
- ewma degenerate rows emit NULL, never NaN
- pq_codebooks_fit sampled fitting: deterministic, right shape,
  codebooks still reconstruct a planted-cluster corpus
- k_anonymity_suppress plans as a broadcast ANTI join on the tiny
  at-risk list
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from owl_etl_spark.operators.anomaly import seasonal_profile, seasonal_zscore
from owl_etl_spark.operators.attribution import linear_attribution
from owl_etl_spark.operators.intervals import fifo_allocate
from owl_etl_spark.operators.privacy import k_anonymity_suppress
from owl_etl_spark.operators.quantiles import (
    trimmed_mean_report,
    weighted_quantiles,
)
from owl_etl_spark.operators.resample import ewma


# ---------------------------------------------------------------------------
# seasonal_zscore: every input row annotated, even for unseen cells
# ---------------------------------------------------------------------------


def test_seasonal_zscore_unseen_cell_passes_through(spark):
    hist = spark.createDataFrame(
        [Row(k="a", season=1, v=100 + i) for i in range(10)]
    )
    prof = seasonal_profile(hist, ["k"], "season", "v")
    new = spark.createDataFrame(
        [
            Row(k="a", season=1, v=105),   # seen cell -> real z
            Row(k="a", season=2, v=300),   # unseen season
            Row(k="b", season=1, v=300),   # unseen key
            Row(k=None, season=1, v=300),  # null key never equi-matches
        ]
    )
    out = seasonal_zscore(
        new, ["k"], "season", "v", profile=prof
    ).collect()
    assert len(out) == 4, "left join must keep every input row"
    by = {(r.k, r.season): r for r in out}
    assert by[("a", 1)].z is not None
    for cell in [("a", 2), ("b", 1), (None, 1)]:
        assert by[cell].z is None
        assert by[cell].is_anomaly is False


def test_seasonal_zscore_self_score_all_null_cell(spark):
    df = spark.createDataFrame(
        [Row(k="a", season=1, v=100 + i) for i in range(5)]
        + [Row(k="a", season=2, v=None)],
        schema="k string, season int, v int",
    )
    out = seasonal_zscore(df, ["k"], "season", "v").collect()
    assert len(out) == 6
    nullrow = [r for r in out if r.season == 2][0]
    assert nullrow.z is None and nullrow.is_anomaly is False


# ---------------------------------------------------------------------------
# linear_attribution: bucketed join == naive join, hot user bounded
# ---------------------------------------------------------------------------


def _naive_attribution(touch_rows, conv_rows, lookback):
    """Reference implementation in plain Python (loop over pairs)."""
    from collections import defaultdict

    per_conv = {}
    for (ck, cid, cts, v) in conv_rows:
        ms = sorted(
            (tts, tid)
            for (tk, tid, tts) in touch_rows
            if tk == ck and cts - lookback <= tts < cts
        )
        if ms:
            per_conv[cid] = (ck, ms, v)
    agg = defaultdict(lambda: [0, 0])
    for cid, (ck, ms, v) in per_conv.items():
        n = len(ms)
        for r, (tts, tid) in enumerate(ms, start=1):
            credit = v // n + (1 if r <= v % n else 0)
            agg[(ck, tid)][0] += 1
            agg[(ck, tid)][1] += credit
    return {
        k: (n, val) for k, (n, val) in agg.items()
    }


def test_linear_attribution_matches_naive_reference(spark):
    import random

    rng = random.Random(7)
    touches = [
        ("u%d" % rng.randint(0, 5), i, rng.randint(0, 5000))
        for i in range(300)
    ]
    convs = [
        ("u%d" % rng.randint(0, 5), 1000 + j, rng.randint(0, 5500),
         rng.randint(1, 999))
        for j in range(80)
    ]
    t = spark.createDataFrame(touches, "k string, tid int, tts long")
    c = spark.createDataFrame(convs, "k string, cid int, cts long, v long")
    out = linear_attribution(
        t, c, "k", "tid", "tts", "cid", "cts", "v", lookback_seconds=600
    ).collect()
    expect = _naive_attribution(touches, convs, 600)
    got = {(r.k, r.touch_id): (r.n_conversions, r.attributed_value) for r in out}
    assert got == expect


def test_linear_attribution_value_conservation_hot_user(spark):
    # one bot user with 5000 touches x 500 conversions: the pre-fix
    # join shape materializes 2.5M pairs in ONE task; bucketed, each
    # conversion only meets its own and the previous lookback bucket
    n_t, n_c, lb = 5000, 500, 3600
    t = spark.range(n_t).select(
        F.lit("bot").alias("k"),
        F.col("id").alias("tid"),
        (F.col("id") * 37 % 100_000).alias("tts"),
    )
    c = spark.range(n_c).select(
        F.lit("bot").alias("k"),
        (F.col("id") + 10_000_000).alias("cid"),
        (F.col("id") * 193 % 100_000).alias("cts"),
        F.lit(1000).alias("v"),
    )
    out = linear_attribution(
        t, c, "k", "tid", "tts", "cid", "cts", "v", lookback_seconds=lb
    )
    total = out.agg(F.sum("attributed_value").alias("s")).collect()[0]["s"]
    # every conversion with >= 1 matching touch contributes exactly v
    matched = (
        t.join(c, "k")
        .filter((F.col("tts") < F.col("cts")) & (F.col("tts") >= F.col("cts") - lb))
        .select("cid")
        .distinct()
        .count()
    )
    assert total == matched * 1000


def test_linear_attribution_timestamp_types(spark):
    t = spark.createDataFrame(
        [("u", 1, "2024-01-01 10:00:00"), ("u", 2, "2024-01-01 11:00:00")],
        "k string, tid int, ts string",
    ).select("k", "tid", F.col("ts").cast("timestamp").alias("tts"))
    c = spark.createDataFrame(
        [("u", 9, "2024-01-01 11:30:00", 101)],
        "k string, cid int, ts string, v long",
    ).select("k", "cid", F.col("ts").cast("timestamp").alias("cts"), "v")
    out = linear_attribution(
        t, c, "k", "tid", "tts", "cid", "cts", "v",
        lookback_seconds=2 * 3600,
    ).collect()
    got = {r.touch_id: r.attributed_value for r in out}
    # 101 split over 2 touches: floor 50 each, remainder -> earliest
    assert got == {1: 51, 2: 50}


# ---------------------------------------------------------------------------
# fifo_allocate: derived bucket_units changes the plan, never the result
# ---------------------------------------------------------------------------


def test_fifo_derived_bucket_units_b_invariant(spark):
    import random

    rng = random.Random(11)
    buys = [("p", i, rng.randint(1, 5000), i) for i in range(40)]
    sells = [("p", 100 + j, rng.randint(1, 5000), j) for j in range(40)]
    b = spark.createDataFrame(buys, "k string, id int, q long, o int")
    s = spark.createDataFrame(sells, "k string, id int, q long, o int")

    def run(bu):
        rows = fifo_allocate(
            b, s, ["k"], "id", "q", "o", bucket_units=bu
        ).collect()
        return sorted((r.buy_id, r.sell_id, r.qty_allocated) for r in rows)

    derived = run(None)
    assert derived == run(1) == run(256) == run(10**6)
    # conservation: every sell fully allocated while supply lasts
    total = sum(q for (_, _, q) in derived)
    supply = sum(q for (_, _, q, _) in buys)
    demand = sum(q for (_, _, q, _) in sells)
    assert total == min(supply, demand)


# ---------------------------------------------------------------------------
# weighted_quantiles / trimmed_mean_report: null values are excluded
# ---------------------------------------------------------------------------


def test_weighted_quantiles_null_values_excluded(spark):
    df = spark.createDataFrame(
        [Row(k="a", v=v, w=1, id=i) for i, v in enumerate([10, 20, 30, 40])]
        + [Row(k="a", v=None, w=100, id=99)],
        schema="k string, v int, w int, id int",
    )
    out = weighted_quantiles(df, ["k"], "v", "w", [0.5], tiebreak_col="id")
    rows = out.collect()
    assert len(rows) == 1
    # with the null row excluded, median of 10/20/30/40 at p=.5 -> 20;
    # pre-fix the null row's weight 100 shifted the threshold to 40
    assert rows[0]["q"] == 20


def test_trimmed_mean_null_values_excluded(spark):
    df = spark.createDataFrame(
        [Row(k="a", v=v, id=i) for i, v in enumerate([10, 20, 30, 40, 50])]
        + [Row(k="a", v=None, id=9)],
        schema="k string, v int, id int",
    )
    out = trimmed_mean_report(
        df, ["k"], "v", trim_pct=0.2, tiebreak_col="id"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n == 5 and r.n_kept == 3
    assert r.trimmed_mean == pytest.approx(30.0)
    assert r.winsorized_mean == pytest.approx((20 + 20 + 30 + 40 + 40) / 5)


# ---------------------------------------------------------------------------
# ewma: degenerate rows yield NULL, never NaN
# ---------------------------------------------------------------------------


def test_ewma_all_null_window_yields_null(spark):
    df = spark.createDataFrame(
        [Row(k="a", t=1, v=None), Row(k="a", t=2, v=None), Row(k="a", t=3, v=100)],
        schema="k string, t int, v int",
    )
    rows = {r.t: r.ewma for r in ewma(df, ["k"], "t", "v", lags=2).collect()}
    assert rows[1] is None and rows[2] is None
    assert rows[3] is not None and not math.isnan(rows[3])


# ---------------------------------------------------------------------------
# pq_codebooks_fit: sampled fit is deterministic and still works
# ---------------------------------------------------------------------------


def test_pq_fit_sampled_deterministic_and_shaped(spark):
    rng = np.random.RandomState(3)
    base = rng.randn(20, 64)
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in base[i % 20] + 0.01 * rng.randn(64)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows)
    from owl_etl_spark.operators.cluster import pq_codebooks_fit, pq_encode

    cbs1 = pq_codebooks_fit(df, ks=8, dim=64, sample_rows=150)
    cbs2 = pq_codebooks_fit(df, ks=8, dim=64, sample_rows=150)
    assert cbs1.shape == (4, 8, 16)
    assert np.array_equal(cbs1, cbs2), "hash-ordered sample fit must be deterministic"
    # encode must produce valid codes for every row
    enc = pq_encode(df, cbs1).select("pq_codes").collect()
    for r in enc:
        assert len(r.pq_codes) == 4
        assert all(c is not None and 0 <= c < 8 for c in r.pq_codes)


# ---------------------------------------------------------------------------
# k_anonymity_suppress: broadcast ANTI join on the tiny at-risk side
# ---------------------------------------------------------------------------


def test_k_anonymity_suppress_plans_broadcast_anti(spark):
    df = spark.createDataFrame(
        [Row(a="x", b=i % 3, v=i) for i in range(30)]
        + [Row(a="rare", b=99, v=0)]
    )
    out = k_anonymity_suppress(df, ["a", "b"], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    rows = out.collect()
    assert len(rows) == 30  # the 1-member (rare, 99) combo is suppressed
    assert all(r.a == "x" for r in rows)


def test_k_anonymity_suppress_null_combo_still_suppressed(spark):
    df = spark.createDataFrame(
        [Row(a="x", b=1, v=i) for i in range(10)]
        + [Row(a=None, b=None, v=0)],
        schema="a string, b int, v int",
    )
    rows = k_anonymity_suppress(df, ["a", "b"], k=5).collect()
    # the single null-combo row is at-risk; null-safe equality must
    # catch it (a name-list anti join would LEAK it)
    assert len(rows) == 10 and all(r.a == "x" for r in rows)
