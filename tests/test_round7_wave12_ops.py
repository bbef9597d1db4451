"""Round-7 wave-12 operators: seasonal/trend strength (decompose.py),
budget mixture allocation (split.py), rich-club report (graph.py)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from owl_etl_spark.operators.decompose import seasonal_strength_report
from owl_etl_spark.operators.graph import rich_club_report
from owl_etl_spark.operators.split import budget_mixture_allocation


# -------------------------------------------------------- seasonal strength


def _series(spark, fn, n=70, key="s"):
    rows = [(key, d, int(fn(d))) for d in range(n)]
    return spark.createDataFrame(rows, "k string, d long, v long")


def test_strength_pure_seasonal(spark):
    df = _series(spark, lambda d: 1000 + 500 * (d % 7 == 3))
    r = seasonal_strength_report(df, "k", "d", "v").collect()[0]
    assert r.f_seasonal > 0.95
    assert r.f_trend < 0.2


def test_strength_pure_trend(spark):
    df = _series(spark, lambda d: 100 * d)
    r = seasonal_strength_report(df, "k", "d", "v").collect()[0]
    assert r.f_trend > 0.95
    assert r.f_seasonal < 0.6  # linear trend leaves no weekly pattern


def test_strength_noise_scores_low(spark):
    import random

    rnd = random.Random(2)
    df = _series(spark, lambda d: rnd.randrange(0, 1000))
    r = seasonal_strength_report(df, "k", "d", "v").collect()[0]
    assert r.f_seasonal < 0.45 and r.f_trend < 0.45


def test_strength_edges_excluded(spark):
    df = _series(spark, lambda d: d, n=20)
    r = seasonal_strength_report(df, "k", "d", "v").collect()[0]
    assert r.n_used == 20 - 6  # 3 rows lost at each edge


# ---------------------------------------------------------- budget mixture


def _sources(spark):
    rows = []
    rows += [("gold", 100, 90)] * 20    # 2000 tokens, quality 90
    rows += [("mid", 100, 50)] * 30     # 3000 tokens, quality 50
    rows += [("junk", 100, 10)] * 50    # 5000 tokens, quality 10
    return spark.createDataFrame(rows, "src string, tk long, q long")


def test_budget_greedy_fill_order(spark):
    out = {r.source: r for r in budget_mixture_allocation(
        _sources(spark), "src", "tk", "q", budget=4000).collect()}
    assert out["gold"].take_tokens == 2000      # fully taken
    assert out["mid"].take_tokens == 2000       # boundary, partial
    assert out["junk"].take_tokens == 0
    assert out["gold"].take_micro == 10**6
    assert out["mid"].take_micro == 2000 * 10**6 // 3000


def test_budget_larger_than_corpus_takes_all(spark):
    out = budget_mixture_allocation(_sources(spark), "src", "tk", "q", 10**9).collect()
    assert all(r.take_tokens == r.tokens for r in out)


def test_budget_zero_takes_nothing(spark):
    out = budget_mixture_allocation(_sources(spark), "src", "tk", "q", 0).collect()
    assert all(r.take_tokens == 0 for r in out)


def test_budget_guard(spark):
    with pytest.raises(ValueError, match="budget"):
        budget_mixture_allocation(_sources(spark), "src", "tk", "q", -1)


# -------------------------------------------------------------- rich club


def test_rich_club_planted_core(spark):
    # 4-clique core (each degree >= 3+spokes) plus leaf spokes
    core = ["a", "b", "c", "d"]
    edges = [(x, y) for i, x in enumerate(core) for y in core[i + 1:]]
    for i, x in enumerate(core):
        edges += [(x, f"leaf{i}_{j}") for j in range(3)]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r.k: r for r in rich_club_report(df, [0, 4]).collect()}
    # k=4: only the core qualifies (degree 6 each) and it is a clique
    assert out[4].n_nodes == 4
    assert out[4].density_micro == 10**6
    # k=0: everything qualifies; density far below 1
    assert out[0].density_micro < 300_000


def test_rich_club_few_hubs_null(spark):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    out = rich_club_report(df, [5]).collect()
    assert out[0].n_nodes == 0 and out[0].density_micro is None


def test_rich_club_guard(spark):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="thresholds"):
        rich_club_report(df, [])
