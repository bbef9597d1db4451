"""Round-7 wave-14 operators: degree assortativity (graph.py),
simplified silhouette (geo.py), entropy binning (encoding.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from owl_etl_spark.operators.encoding import entropy_binning
from owl_etl_spark.operators.geo import simplified_silhouette
from owl_etl_spark.operators.graph import degree_assortativity


# ------------------------------------------------------------ assortativity


def test_assortativity_star_is_negative(spark):
    edges = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(8)], "src string, dst string"
    )
    r = degree_assortativity(edges).collect()[0]
    assert r.n_edges == 8
    assert r.assortativity == -1.0  # pure hub-and-spoke


def test_assortativity_regular_graph_null(spark):
    # a 4-cycle: every degree 2 -> zero variance -> undefined
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], "src string, dst string"
    )
    r = degree_assortativity(edges).collect()[0]
    assert r.assortativity is None


def test_assortativity_two_tier_positive(spark):
    # two hub cliques joined through their own members plus leaf
    # pendants on separate low-degree nodes: hubs link hubs
    edges = [("h1", "h2"), ("h2", "h3"), ("h1", "h3"), ("h1", "h4"),
             ("h2", "h4"), ("h3", "h4")]
    edges += [("l1", "l2"), ("l3", "l4")]
    df = spark.createDataFrame(edges, "src string, dst string")
    r = degree_assortativity(df).collect()[0]
    assert r.assortativity == 1.0  # degrees perfectly matched per edge


# --------------------------------------------------------------- silhouette


def _pts(spark, rows):
    return spark.createDataFrame(rows, "id long, x long, y long")


def _ctrs(spark, rows):
    return spark.createDataFrame(rows, "cid long, cx long, cy long")


def test_silhouette_tight_clusters_near_one(spark):
    pts = _pts(spark, [(i, 0 + (i % 3), 0) for i in range(30)]
               + [(100 + i, 1000 + (i % 3), 0) for i in range(30)])
    ctrs = _ctrs(spark, [(0, 1, 0), (1, 1001, 0)])
    out = {r.center_id: r for r in simplified_silhouette(pts, ctrs).collect()}
    assert out[0].n_points == 30 and out[1].n_points == 30
    assert out[0].mean_silhouette_micro > 990_000
    assert out[1].mean_silhouette_micro > 990_000


def test_silhouette_boundary_point_is_zero(spark):
    pts = _pts(spark, [(1, 500, 0)])  # exactly between the centers
    ctrs = _ctrs(spark, [(0, 0, 0), (1, 1000, 0)])
    out = simplified_silhouette(pts, ctrs).collect()
    assert out[0].mean_silhouette_micro == 0
    assert out[0].center_id == 0  # tie -> lowest id


def test_silhouette_counts_partition_points(spark):
    pts = _pts(spark, [(i, i * 10, 0) for i in range(100)])
    ctrs = _ctrs(spark, [(0, 0, 0), (1, 990, 0)])
    out = simplified_silhouette(pts, ctrs).collect()
    assert sum(r.n_points for r in out) == 100


# ----------------------------------------------------------- entropy binning


def test_entropy_binning_finds_planted_threshold(spark):
    # target flips exactly at v = 500: the chosen boundary must land
    # on the nearest candidate edge and the leaves must be pure
    rows = [(v, 1 if v >= 500 else 0) for v in range(1000)]
    df = spark.createDataFrame(rows, "v long, y long")
    out = entropy_binning(df, "v", "y", depth=1, min_size=50).collect()
    assert len(out) == 2
    lo = next(r for r in out if r.bin_id.endswith("0"))
    hi = next(r for r in out if r.bin_id.endswith("1"))
    assert lo.max_v == 499 and hi.min_v == 500  # boundary found exactly
    assert lo.n_bad == 0 and hi.n_bad == hi.n


def test_entropy_binning_respects_min_size(spark):
    rows = [(v, v % 2) for v in range(60)]
    df = spark.createDataFrame(rows, "v long, y long")
    out = entropy_binning(df, "v", "y", depth=3, min_size=50).collect()
    # 60 rows can never split into two >= 50 halves
    assert len(out) == 1 and out[0].bin_id == "r"


def test_entropy_binning_deterministic(spark):
    import random

    rnd = random.Random(4)
    rows = [(rnd.randrange(1000), rnd.randrange(2)) for _ in range(400)]
    df = spark.createDataFrame(rows, "v long, y long")
    a = sorted((r.bin_id, r.n, r.n_bad) for r in
               entropy_binning(df, "v", "y", min_size=40).collect())
    b = sorted((r.bin_id, r.n, r.n_bad) for r in
               entropy_binning(df.repartition(7), "v", "y", min_size=40).collect())
    assert a == b


def test_entropy_binning_depth_guard(spark):
    df = spark.createDataFrame([(1, 0)], "v long, y long")
    with pytest.raises(ValueError, match="depth"):
        entropy_binning(df, "v", "y", depth=0)
