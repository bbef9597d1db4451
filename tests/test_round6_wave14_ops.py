"""Wave-14 round-6 operators: engine-exact logistic regression
(operators/logreg.py), quantile normalization (operators/quantiles.py),
feature hashing (functions/hashing.py)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from owl_etl_spark.functions.hashing import hashed_features
from owl_etl_spark.operators.logreg import (
    logistic_fit_report,
    logistic_regression_fit,
)
from owl_etl_spark.operators.quantiles import quantile_normalize


# ---------------------------------------------------------------- logreg


def _py_fit(rows, d, iterations, lr):
    """Independent driver-side replica of the exact micro-int loop."""

    def rha(x):
        return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)

    w = [0] * d
    n = len(rows)
    for _ in range(iterations):
        g = [0] * d
        for y, xs in rows:
            z = sum(float(w[j] * xs[j]) for j in range(d)) / 1e6
            sig = round(1.0 / (1.0 + math.exp(-z)), 9)
            for j in range(d):
                g[j] += rha((sig - y) * float(xs[j]) * 1e6)
        for j in range(d):
            w[j] -= rha(lr * rha(g[j] / n))
    return w


def test_logreg_matches_python_replica(spark):
    rnd = random.Random(21)
    rows = []
    for _ in range(200):
        x1 = rnd.randint(0, 10)
        x2 = rnd.randint(0, 23)
        # y correlated with x1
        y = 1 if (x1 + rnd.randint(-3, 3)) > 5 else 0
        rows.append((y, [1, x1, x2]))
    df = spark.createDataFrame(
        [(y, xs[0], xs[1], xs[2]) for y, xs in rows], ["y", "x0", "x1", "x2"]
    )
    w = logistic_regression_fit(df, "y", ["x0", "x1", "x2"], iterations=8, lr=0.5)
    assert w == _py_fit(rows, 3, 8, 0.5)


def test_logreg_learns_separable_signal(spark):
    # y = 1 iff x1 >= 5: after training, scores must rank positives first
    rows = [(1 if x >= 5 else 0, 1, x) for x in range(10) for _ in range(20)]
    df = spark.createDataFrame(rows, ["y", "x0", "x1"])
    w = logistic_regression_fit(df, "y", ["x0", "x1"], iterations=20, lr=0.5)
    # sigma is monotone, so ranking by the linear score w.x ranks by p_hat
    pos = [w[0] * x0 + w[1] * x1 for y, x0, x1 in rows if y == 1]
    neg = [w[0] * x0 + w[1] * x1 for y, x0, x1 in rows if y == 0]
    assert min(pos) > max(neg)


def test_logreg_partitioning_invariance(spark):
    rows = [(i % 2, 1, i % 7) for i in range(300)]
    df1 = spark.createDataFrame(rows, ["y", "x0", "x1"]).repartition(1)
    df2 = spark.createDataFrame(rows, ["y", "x0", "x1"]).repartition(13)
    w1 = logistic_regression_fit(df1, "y", ["x0", "x1"], iterations=5)
    w2 = logistic_regression_fit(df2, "y", ["x0", "x1"], iterations=5)
    assert w1 == w2  # exact — not approximately


def test_logreg_report_shape_and_loss_positive(spark):
    rows = [(i % 2, 1, i % 5) for i in range(50)]
    df = spark.createDataFrame(rows, ["y", "x0", "x1"])
    r = logistic_fit_report(df, "y", ["x0", "x1"], iterations=3).collect()[0]
    assert r["n"] == 50
    assert r["logloss_micro_nats"] > 0
    assert set(r.asDict()) == {"n", "w_x0", "w_x1", "logloss_micro_nats"}


def test_logreg_guards(spark):
    df = spark.createDataFrame([(None, 1, 1)], "y int, x0 int, x1 int")
    with pytest.raises(Exception, match="0/1"):
        logistic_regression_fit(df, "y", ["x0", "x1"], iterations=1)
    df2 = spark.createDataFrame([(1, 1, 1)], ["y", "x0", "x1"])
    with pytest.raises(ValueError, match="power of two"):
        logistic_regression_fit(df2, "y", ["x0", "x1"], lr=0.3)


# ------------------------------------------------------------- quantile map


def test_qnorm_identity_on_reference(spark):
    rows = [("ref", i, v) for i, v in enumerate([10, 20, 30, 40])]
    df = spark.createDataFrame(rows, ["g", "tb", "v"])
    out = quantile_normalize(df, "g", "v", "tb", "ref").collect()
    for r in out:
        assert r["mapped"] == float(r["v"])  # exact self-map


def test_qnorm_maps_onto_reference_range(spark):
    rows = [("ref", i, v) for i, v in enumerate([0, 100])] + [
        ("b", i, v) for i, v in enumerate([7, 8, 9])
    ]
    df = spark.createDataFrame(rows, ["g", "tb", "v"])
    out = {r["tb"]: r["mapped"] for r in quantile_normalize(df, "g", "v", "tb", "ref").collect() if r["g"] == "b"}
    # b's ranks 1,2,3 of 3 -> positions 0, .5, 1 on ref [0,100]
    assert out == {0: 0.0, 1: 50.0, 2: 100.0}


def test_qnorm_singleton_group_null(spark):
    rows = [("ref", 0, 5), ("ref", 1, 15), ("s", 0, 99)]
    df = spark.createDataFrame(rows, ["g", "tb", "v"])
    out = {r["g"]: r["mapped"] for r in quantile_normalize(df, "g", "v", "tb", "ref").collect() if r["g"] == "s"}
    assert out["s"] is None


def test_qnorm_empty_reference_raises(spark):
    df = spark.createDataFrame([("a", 0, 1)], ["g", "tb", "v"])
    with pytest.raises(Exception, match="empty"):
        quantile_normalize(df, "g", "v", "tb", "nope").collect()


def test_qnorm_interpolation_exact(spark):
    # ref [0, 10, 40]; group of 2 -> positions 0 and 1 -> ranks 1 and 3
    # plus a 4-row group hitting fractional positions
    rows = [("ref", i, v) for i, v in enumerate([0, 10, 40])] + [
        ("c", i, v) for i, v in enumerate([1, 2, 3, 4])
    ]
    df = spark.createDataFrame(rows, ["g", "tb", "v"])
    out = {r["tb"]: r["mapped"] for r in quantile_normalize(df, "g", "v", "tb", "ref").collect() if r["g"] == "c"}
    # n=4, m=3: positions (r-1)*2/3 = 0, 2/3, 4/3, 2
    # -> 0 + (10-0)*2/3 = 6.666667 ; 10 + (40-10)*1/3 = 20.0 ; 40
    assert out[0] == 0.0
    assert out[1] == round(10 * 2 / 3, 6)
    assert out[2] == 20.0
    assert out[3] == 40.0


# --------------------------------------------------------- feature hashing


def test_hashed_features_exact_and_sparse(spark):
    df = spark.createDataFrame([(1, "a a b"), (2, "a c")], ["doc_id", "text"])
    out = hashed_features(df, "doc_id", "text", num_buckets=8).collect()
    import hashlib

    def bucket_sign(tok):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        return h % 8, 1 if (h & (1 << 16)) == 0 else -1

    expected = {}
    for doc, toks in [(1, ["a", "a", "b"]), (2, ["a", "c"])]:
        for t in toks:
            b, s = bucket_sign(t)
            expected[(doc, b)] = expected.get((doc, b), 0) + s
    expected = {k: v for k, v in expected.items() if v != 0}
    got = {(r["doc_id"], r["bucket"]): r["weight"] for r in out}
    assert got == expected


def test_hashed_features_bucket_bound(spark):
    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i * 7} x y z") for i in range(50)], ["doc_id", "text"]
    )
    out = hashed_features(df, "doc_id", "text", num_buckets=16).collect()
    assert all(0 <= r["bucket"] < 16 for r in out)
    with pytest.raises(ValueError, match="num_buckets"):
        hashed_features(df, "doc_id", "text", num_buckets=0)
