"""Wave-8 round-6 operators: weighted shortest paths + label
propagation (operators/paths.py), Spearman correlation
(operators/correlation.py), co-occurrence affinity
(operators/affinity.py), edit-distance pairs (operators/editsim.py),
and the MAD outlier report (operators/robust.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from owl_etl_spark.operators.affinity import cooccurrence_similarity_topk
from owl_etl_spark.operators.correlation import spearman_by_group
from owl_etl_spark.operators.editsim import edit_distance_pairs
from owl_etl_spark.operators.paths import label_propagation, weighted_shortest_paths
from owl_etl_spark.operators.robust import mad_outlier_report


# ---------------------------------------------------------------- paths


def test_wsp_hand_graph(spark):
    # 0 -1- 1 -1- 2 -1- 3 ; direct 0-3 costs 10: 3-hop path wins at
    # max_hops>=3, the direct edge wins when hops are capped at 1
    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 10)], ["s", "d", "w"]
    )
    got = {
        r["node"]: r["cost"]
        for r in weighted_shortest_paths(edges, "s", "d", "w", [0], max_hops=4).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}
    capped = {
        r["node"]: r["cost"]
        for r in weighted_shortest_paths(edges, "s", "d", "w", [0], max_hops=1).collect()
    }
    assert capped == {0: 0, 1: 1, 3: 10}


def test_wsp_parallel_edges_take_min_and_directed(spark):
    edges = spark.createDataFrame([(0, 1, 5), (0, 1, 2), (1, 0, 9)], ["s", "d", "w"])
    got = {
        r["node"]: r["cost"]
        for r in weighted_shortest_paths(
            edges, "s", "d", "w", [0], max_hops=3, undirected=False
        ).collect()
    }
    assert got == {0: 0, 1: 2}


def test_wsp_negative_weight_raises(spark):
    edges = spark.createDataFrame([(0, 1, -1)], ["s", "d", "w"])
    with pytest.raises(Exception, match="negative weight"):
        weighted_shortest_paths(edges, "s", "d", "w", [0], max_hops=2).collect()


def test_lpa_two_cliques_with_bridge(spark):
    # two triangles joined by one bridge edge: each triangle ends
    # internally uniform, and the two communities stay DISTINCT (the
    # very case where connected components would merge everything).
    # Hand trace: {1,2,3} settles on label 1; {10,11,12} settles on
    # label 3, carried across the bridge into the far triangle in
    # round 2 — sync LPA converges on community STRUCTURE, not on the
    # community's own min id.
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(tri1 + tri2 + [(3, 10)], ["s", "d"])
    got = {r["node"]: r["label"] for r in label_propagation(edges, "s", "d", rounds=4).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == got[12] == 3
    assert got[1] != got[10]


def test_lpa_round1_is_min_on_uniform_votes(spark):
    edges = spark.createDataFrame([(0, 1), (0, 2), (0, 3), (2, 3)], ["s", "d"])
    r1 = {r["node"]: r["label"] for r in label_propagation(edges, "s", "d", rounds=1).collect()}
    assert r1[0] == 1  # one vote each for labels 1,2,3 -> tie -> smallest


def test_lpa_plurality_beats_min_label(spark):
    # hand-traced 2-round schedule: after round 1, node 100's
    # neighbors 6, 7, 2 hold labels 5, 5, 1 (6 and 7 each saw votes
    # {100, 5} -> 5; 2 saw {100, 1} -> 1), so round 2 must give node
    # 100 the PLURALITY label 5, not the smaller label 1
    edges = spark.createDataFrame(
        [(100, 6), (100, 7), (100, 2), (6, 5), (7, 5), (2, 1)], ["s", "d"]
    )
    r2 = {r["node"]: r["label"] for r in label_propagation(edges, "s", "d", rounds=2).collect()}
    assert r2[100] == 5


# ---------------------------------------------------------- correlation


def test_spearman_perfect_monotone_and_inverse(spark):
    rows = [("g", i, i * i) for i in range(1, 20)] + [
        ("h", i, -3 * i + 100) for i in range(1, 20)
    ]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    got = {r["g"]: r["spearman_rho"] for r in spearman_by_group(df, ["g"], "x", "y").collect()}
    assert got["g"] == 1.0  # any monotone map has rho exactly 1
    assert got["h"] == -1.0


def test_spearman_ties_average_ranks(spark):
    # x has a tie block; hand-computed rho with averaged ranks:
    # x = [1, 2, 2, 3], y = [10, 20, 30, 40]
    # rx = [1, 2.5, 2.5, 4], ry = [1, 2, 3, 4] → rho = 0.9486833
    df = spark.createDataFrame(
        [("g", 1, 10), ("g", 2, 20), ("g", 2, 30), ("g", 3, 40)], ["g", "x", "y"]
    )
    rho = spearman_by_group(df, ["g"], "x", "y").collect()[0]["spearman_rho"]
    assert rho == pytest.approx(0.948683, abs=1e-6)


def test_spearman_constant_axis_is_null_and_nulls_dropped(spark):
    df = spark.createDataFrame(
        [("g", 1, 7), ("g", 2, 7), ("g", 3, 7), ("g", None, 99)],
        ["g", "x", "y"],
    )
    row = spearman_by_group(df, ["g"], "x", "y").collect()[0]
    assert row["spearman_rho"] is None and row["n"] == 3


def test_spearman_group_cap_raises(spark):
    df = spark.createDataFrame([("g", i, i) for i in range(10)], ["g", "x", "y"])
    with pytest.raises(Exception, match="max_group_rows"):
        spearman_by_group(df, ["g"], "x", "y", max_group_rows=5).collect()


# ------------------------------------------------------------- affinity


def test_affinity_hand_counts(spark):
    # entities: e1{A,B}, e2{A,B}, e3{A,C}
    # c_A=3, c_B=2, c_C=1, c_AB=2, c_AC=1
    # cos2(A,B) = 4/6, cos2(A,C) = 1/3
    df = spark.createDataFrame(
        [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "A"), (3, "C")], ["e", "i"]
    )
    got = {
        (r["item"], r["neighbor"]): r
        for r in cooccurrence_similarity_topk(df, "e", "i").collect()
    }
    ab = got[("A", "B")]
    assert (ab["c_item"], ab["c_nbr"], ab["c_both"]) == (3, 2, 2)
    assert ab["cosine2_micro"] == 4 * 10**12 // 6
    assert got[("A", "C")]["cosine2_micro"] == 10**12 // 3
    # A's neighbor ranking: B (cos2=2/3) above C (1/3)
    assert ab["rk"] == 1 and got[("A", "C")]["rk"] == 2
    # duplicate incidence rows must not inflate counts
    df2 = df.union(spark.createDataFrame([(1, "A")], ["e", "i"]))
    got2 = {
        (r["item"], r["neighbor"]): r["c_both"]
        for r in cooccurrence_similarity_topk(df2, "e", "i").collect()
    }
    assert got2[("A", "B")] == 2


def test_affinity_max_basket_excludes_entity(spark):
    rows = [(1, "A"), (1, "B"), (1, "C"), (2, "A"), (2, "B")]
    df = spark.createDataFrame(rows, ["e", "i"])
    got = {
        (r["item"], r["neighbor"]): r["c_both"]
        for r in cooccurrence_similarity_topk(df, "e", "i", max_basket=2).collect()
    }
    # entity 1 (basket 3 > 2) is excluded entirely: only e2's A-B pair
    assert got == {("A", "B"): 1, ("B", "A"): 1}


# -------------------------------------------------------------- editsim


def test_edit_pairs_hand_cases(spark):
    df = spark.createDataFrame(
        [
            (1, "kitten"),
            (2, "sitten"),       # dist 1 to kitten
            (3, "sitting"),      # dist 2 to sitten, 3 to kitten
            (4, "kitten"),       # dist 0 to kitten
            (5, "zzzzzzzzzzzz"), # far from everything
        ],
        ["id", "t"],
    )
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in edit_distance_pairs(df, "id", "t").collect()}
    assert got == {(1, 2): 1, (1, 4): 0, (2, 3): 2, (2, 4): 1}


def test_edit_pairs_adjacent_length_buckets_once(spark):
    # lengths 5 and 7 sit in adjacent width-3 buckets (1 and 2):
    # the pair must appear exactly once
    df = spark.createDataFrame([(1, "abcde"), (2, "abcdexy")], ["id", "t"])
    rows = edit_distance_pairs(df, "id", "t").collect()
    assert [(r["id_a"], r["id_b"], r["dist"]) for r in rows] == [(1, 2, 2)]


def test_edit_pairs_brute_force_parity(spark):
    import itertools
    import random

    rnd = random.Random(7)
    vocab = "abcd"
    strings = ["".join(rnd.choice(vocab) for _ in range(rnd.randint(3, 9))) for _ in range(40)]

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    want = {
        (i, j): lev(strings[i], strings[j])
        for i, j in itertools.combinations(range(len(strings)), 2)
        if lev(strings[i], strings[j]) <= 2
    }
    df = spark.createDataFrame(list(enumerate(strings)), ["id", "t"])
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in edit_distance_pairs(df, "id", "t").collect()}
    assert got == want


# ---------------------------------------------------------- MAD report


def test_mad_hand_case_odd_and_even(spark):
    # odd group: [1,2,3,4,100] → med=3, devs=[2,1,0,1,97] → MAD=1,
    # outliers: |v-3| > 3 → only 100
    # even group: [10,20,30,40] → med=25, devs=[15,5,5,15] → MAD=10,
    # outliers: |v-25| > 30 → none
    rows = [("a", v) for v in [1, 2, 3, 4, 100]] + [("b", v) for v in [10, 20, 30, 40]]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {r["g"]: r for r in mad_outlier_report(df, ["g"], "v").collect()}
    a, b = got["a"], got["b"]
    assert (a["n"], a["median_units"], a["mad_units"], a["n_outliers"]) == (5, 3.0, 1.0, 1)
    assert (b["n"], b["median_units"], b["mad_units"], b["n_outliers"]) == (4, 25.0, 10.0, 0)


def test_mad_zero_mad_flags_any_deviation(spark):
    # constant-majority group: MAD=0 → every v != median is an outlier
    df = spark.createDataFrame([("g", v) for v in [5, 5, 5, 9]], ["g", "v"])
    r = mad_outlier_report(df, ["g"], "v").collect()[0]
    assert (r["median_units"], r["mad_units"], r["n_outliers"]) == (5.0, 0.0, 1)


def test_mad_nulls_excluded(spark):
    df = spark.createDataFrame([("g", 1), ("g", 2), ("g", 3), ("g", None)], ["g", "v"])
    r = mad_outlier_report(df, ["g"], "v").collect()[0]
    assert r["n"] == 3 and r["median_units"] == 2.0
