"""Round-6 wave-3 operator families: calibration report, ABC
classification, Pareto frontier, period-over-period. Gate queries
q179+ pin oracle parity; these pin library contracts (clamping,
boundary exactness, dominance edge cases, sparse-series nulls).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# calibration_report
# ---------------------------------------------------------------------------


def test_calibration_hand_case(spark):
    from owl_etl_spark.operators.evalmetrics import calibration_report

    # bin width 10 over [0, 100): scores 5, 15, 15, 95
    df = spark.createDataFrame(
        [(5.0, 1), (15.0, 0), (15.0, 1), (95.0, 0)], "s double, y int"
    )
    out = {
        r["bin"]: r
        for r in calibration_report(df, "s", "y", n_bins=10).collect()
    }
    assert set(out) == {0, 1, 9}
    assert out[0]["n"] == 1 and out[0]["n_pos"] == 1
    assert out[1]["n"] == 2 and out[1]["n_pos"] == 1
    assert out[1]["mean_score"] == 15.0 and out[1]["frac_pos"] == 0.5
    # bin 1: p̂ = 0.15, observed 0.5 → gap 350000 micro
    assert out[1]["gap_micro"] == 350000
    # bin 9: p̂ = 0.95, observed 0 → gap 950000 micro
    assert out[9]["gap_micro"] == 950000


def test_calibration_clamps_out_of_range_scores(spark):
    from owl_etl_spark.operators.evalmetrics import calibration_report

    df = spark.createDataFrame(
        [(-7.0, 0), (250.0, 1)], "s double, y int"
    )
    out = {r["bin"]: r for r in calibration_report(df, "s", "y").collect()}
    assert set(out) == {0, 9}


def test_calibration_excludes_nulls_and_validates_params(spark):
    from owl_etl_spark.operators.evalmetrics import calibration_report

    df = spark.createDataFrame(
        [(None, 1), (50.0, None), (50.0, 1)], "s double, y int"
    )
    rows = calibration_report(df, "s", "y").collect()
    assert len(rows) == 1 and rows[0]["n"] == 1
    with pytest.raises(ValueError):
        calibration_report(df, "s", "y", n_bins=0)
    with pytest.raises(ValueError):
        calibration_report(df, "s", "y", lo=10.0, hi=10.0)


# ---------------------------------------------------------------------------
# abc_classes
# ---------------------------------------------------------------------------


def test_abc_boundary_is_exact(spark):
    from owl_etl_spark.operators.inequality import abc_classes

    # total = 100; cum after first row = 70 → exactly 70% stays A;
    # cum 90 → exactly 90% stays B; rest C.
    df = spark.createDataFrame(
        [("g", 1, 70), ("g", 2, 20), ("g", 3, 10)], "g string, id int, v long"
    )
    out = {r["id"]: r["abc_class"] for r in abc_classes(df, ["g"], "id", "v").collect()}
    assert out == {1: "A", 2: "B", 3: "C"}


def test_abc_ties_break_on_id_and_rank_is_dense_order(spark):
    from owl_etl_spark.operators.inequality import abc_classes

    df = spark.createDataFrame(
        [("g", 2, 50), ("g", 1, 50)], "g string, id int, v long"
    )
    rows = {r["id"]: r for r in abc_classes(df, ["g"], "id", "v").collect()}
    assert rows[1]["rank"] == 1 and rows[2]["rank"] == 2
    assert rows[1]["abc_class"] == "A"  # cum 50/100 ≤ 70%
    assert rows[2]["abc_class"] == "C"  # cum 100/100 > 90%


def test_abc_negative_value_raises(spark):
    from owl_etl_spark.operators.inequality import abc_classes
    from py4j.protocol import Py4JJavaError

    df = spark.createDataFrame([("g", 1, -5)], "g string, id int, v long")
    with pytest.raises(Exception) as e:
        abc_classes(df, ["g"], "id", "v").collect()
    assert "non-negative" in str(e.value)


def test_abc_param_validation(spark):
    from owl_etl_spark.operators.inequality import abc_classes

    df = spark.createDataFrame([("g", 1, 5)], "g string, id int, v long")
    with pytest.raises(ValueError):
        abc_classes(df, ["g"], "id", "v", a_pct=90, b_pct=70)


# ---------------------------------------------------------------------------
# pareto_frontier
# ---------------------------------------------------------------------------


def test_pareto_hand_case(spark):
    from owl_etl_spark.operators.skyline import pareto_frontier

    # (3,1) and (1,3) are the frontier; (1,1) dominated by both;
    # (3,0) dominated by (3,1) via the equal-x rule.
    df = spark.createDataFrame(
        [("g", 3, 1), ("g", 1, 3), ("g", 1, 1), ("g", 3, 0)],
        "g string, x long, y long",
    )
    got = {(r["x"], r["y"]) for r in pareto_frontier(df, ["g"], "x", "y").collect()}
    assert got == {(3, 1), (1, 3)}


def test_pareto_equal_points_both_survive(spark):
    from owl_etl_spark.operators.skyline import pareto_frontier

    df = spark.createDataFrame(
        [("g", 2, 2), ("g", 2, 2)], "g string, x long, y long"
    )
    rows = pareto_frontier(df, ["g"], "x", "y").collect()
    assert len(rows) == 2  # equal points do not dominate each other


def test_pareto_matches_naive_definition(spark):
    from owl_etl_spark.operators.skyline import pareto_frontier

    # pseudo-random small cloud, checked against the O(n²) definition
    pts = [(i * 7919 % 13, i * 104729 % 11) for i in range(60)]
    df = spark.createDataFrame([("g", x, y) for x, y in pts], "g string, x long, y long")
    got = sorted(
        (r["x"], r["y"]) for r in pareto_frontier(df, ["g"], "x", "y").collect()
    )
    naive = sorted(
        (px, py)
        for (px, py) in pts
        if not any(
            qx >= px and qy >= py and (qx > px or qy > py) for (qx, qy) in pts
        )
    )
    # the operator returns every non-dominated ROW; dedupe for the set check
    assert sorted(set(got)) == naive


def test_pareto_null_coordinates_excluded(spark):
    from owl_etl_spark.operators.skyline import pareto_frontier

    df = spark.createDataFrame(
        [("g", None, 9), ("g", 1, 1)], "g string, x long, y long"
    )
    rows = pareto_frontier(df, ["g"], "x", "y").collect()
    assert [(r["x"], r["y"]) for r in rows] == [(1, 1)]


# ---------------------------------------------------------------------------
# period_over_period
# ---------------------------------------------------------------------------


def test_pop_sparse_series_yields_nulls(spark):
    from owl_etl_spark.operators.resample import period_over_period

    # periods 0, 1, 3 — period 3 has no period-2 neighbor: prev NULL
    df = spark.createDataFrame(
        [("k", 0, 100), ("k", 1, 110), ("k", 3, 200)], "k string, p long, v long"
    )
    out = {r["period"]: r for r in period_over_period(df, ["k"], "p", "v").collect()}
    assert out[1]["prev_value"] == 100 and out[1]["pop_pct"] == 0.1
    assert out[3]["prev_value"] is None and out[3]["pop_pct"] is None


def test_pop_cycle_lookback(spark):
    from owl_etl_spark.operators.resample import period_over_period

    rows = [("k", p, 100 + p) for p in range(13)]
    df = spark.createDataFrame(rows, "k string, p long, v long")
    out = {r["period"]: r for r in period_over_period(df, ["k"], "p", "v").collect()}
    assert out[12]["cycle_ago_value"] == 100
    assert out[12]["cycle_pct"] == 0.12
    assert out[11]["cycle_ago_value"] is None


def test_pop_zero_base_yields_null_pct(spark):
    from owl_etl_spark.operators.resample import period_over_period

    df = spark.createDataFrame(
        [("k", 0, 0), ("k", 1, 50)], "k string, p long, v long"
    )
    out = {r["period"]: r for r in period_over_period(df, ["k"], "p", "v").collect()}
    assert out[1]["prev_value"] == 0 and out[1]["pop_pct"] is None
    with pytest.raises(ValueError):
        period_over_period(df, ["k"], "p", "v", cycle=1)


# ---------------------------------------------------------------------------
# hits_scores
# ---------------------------------------------------------------------------


def test_hits_bipartite_hand_case(spark):
    from owl_etl_spark.operators.graph import hits_scores

    # s1 links both parts, s2 links one: s1 is the stronger hub;
    # p1 has both suppliers, p2 only s1: p1 the stronger authority.
    df = spark.createDataFrame(
        [("s1", "p1"), ("s1", "p2"), ("s2", "p1")], "src string, dst string"
    )
    out = {r["node"]: r for r in hits_scores(df, n_iters=3).collect()}
    assert out["s1"]["hub_micro"] == 1_000_000  # max hub normalizes to 1e6
    assert out["p1"]["auth_micro"] == 1_000_000
    assert out["s2"]["hub_micro"] < out["s1"]["hub_micro"]
    assert out["p2"]["auth_micro"] < out["p1"]["auth_micro"]
    # pure sinks have zero hub, pure sources zero authority
    assert out["p1"]["hub_micro"] == 0 and out["s1"]["auth_micro"] == 0


def test_hits_parallel_edges_collapse(spark):
    from owl_etl_spark.operators.graph import hits_scores

    once = spark.createDataFrame([("a", "b")], "src string, dst string")
    dup = spark.createDataFrame([("a", "b"), ("a", "b")], "src string, dst string")
    assert sorted(map(tuple, hits_scores(once).collect())) == sorted(
        map(tuple, hits_scores(dup).collect())
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hits_scores(once, n_iters=0)


# ---------------------------------------------------------------------------
# grid_density_clusters
# ---------------------------------------------------------------------------


def test_grid_density_two_clusters_and_sparse_noise(spark):
    from owl_etl_spark.operators.geo import grid_density_clusters

    rows = []
    # cluster A: two adjacent dense cells (0,0) and (1,0), 3 pts each
    for i in range(3):
        rows.append((100 + i, 5 + i, 5))
        rows.append((200 + i, 15 + i, 5))
    # cluster B: one dense cell far away at (9,9)
    for i in range(3):
        rows.append((300 + i, 95 + i, 95))
    # noise: a lone point (cell below min_pts)
    rows.append((999, 55, 55))
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = grid_density_clusters(df, "id", "x", "y", cell_size=10, min_pts=3).collect()
    by_cell = {(r["cell_x"], r["cell_y"]): r for r in out}
    assert set(by_cell) == {(0, 0), (1, 0), (9, 9)}
    assert by_cell[(0, 0)]["cluster"] == by_cell[(1, 0)]["cluster"]
    assert by_cell[(9, 9)]["cluster"] != by_cell[(0, 0)]["cluster"]
    assert all(r["n_points"] == 3 for r in out)


def test_grid_density_diagonal_adjacency_connects(spark):
    from owl_etl_spark.operators.geo import grid_density_clusters

    rows = [(i, 5, 5) for i in range(3)] + [(10 + i, 15, 15) for i in range(3)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = grid_density_clusters(df, "id", "x", "y", cell_size=10, min_pts=3).collect()
    assert len({r["cluster"] for r in out}) == 1  # (0,0) and (1,1) touch diagonally


def test_grid_density_param_validation(spark):
    from owl_etl_spark.operators.geo import grid_density_clusters

    df = spark.createDataFrame([(1, 0, 0)], "id long, x long, y long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        grid_density_clusters(df, "id", "x", "y", cell_size=0, min_pts=1)
    with _pytest.raises(ValueError):
        grid_density_clusters(df, "id", "x", "y", cell_size=1, min_pts=0)


# ---------------------------------------------------------------------------
# nearest_center_assign
# ---------------------------------------------------------------------------


def test_nearest_center_hand_case_and_tie(spark):
    from owl_etl_spark.operators.geo import nearest_center_assign

    pts = spark.createDataFrame(
        [(1, 0, 0), (2, 10, 0), (3, 5, 0)], "id long, x long, y long"
    )
    ctr = spark.createDataFrame(
        [(7, 0, 0), (9, 10, 0)], "center_id long, center_x long, center_y long"
    )
    out = {r["id"]: r for r in nearest_center_assign(pts, ctr, "id", "x", "y").collect()}
    assert out[1]["center_id"] == 7 and out[1]["dist2"] == 0
    assert out[2]["center_id"] == 9 and out[2]["dist2"] == 0
    # point 3 is equidistant (25 vs 25): tie goes to the LOWER center id
    assert out[3]["center_id"] == 7 and out[3]["dist2"] == 25


def test_nearest_center_null_points_excluded(spark):
    from owl_etl_spark.operators.geo import nearest_center_assign

    pts = spark.createDataFrame([(1, None, 0), (2, 3, 4)], "id long, x long, y long")
    ctr = spark.createDataFrame(
        [(1, 0, 0)], "center_id long, center_x long, center_y long"
    )
    rows = nearest_center_assign(pts, ctr, "id", "x", "y").collect()
    assert [(r["id"], r["dist2"]) for r in rows] == [(2, 25)]


# ---------------------------------------------------------------------------
# follows_within
# ---------------------------------------------------------------------------


def test_follows_within_hand_case(spark):
    from owl_etl_spark.operators.sequence import follows_within

    rows = [
        # u1: a@0, b@50 → (a,b) within 100
        (1, 0, "a"), (1, 50, "b"),
        # u2: a@0, b@500 → outside the gap
        (2, 0, "a"), (2, 500, "b"),
        # u3: b@0, a@10 → (b,a) only
        (3, 0, "b"), (3, 10, "a"),
    ]
    df = spark.createDataFrame(rows, "k long, t long, s string")
    out = {
        (r["state_a"], r["state_b"]): r
        for r in follows_within(df, "k", "t", "s", gap_seconds=100).collect()
    }
    assert out[("a", "b")]["n_keys"] == 1
    assert out[("b", "a")]["n_keys"] == 1
    # support over 3 observed keys
    assert out[("a", "b")]["support_micro"] == 333333


def test_follows_within_uses_first_occurrences_only(spark):
    from owl_etl_spark.operators.sequence import follows_within

    # u1 repeats a — only the FIRST a (t=0) anchors; first b at 200 > gap
    rows = [(1, 0, "a"), (1, 150, "a"), (1, 200, "b")]
    df = spark.createDataFrame(rows, "k long, t long, s string")
    out = follows_within(df, "k", "t", "s", gap_seconds=100).collect()
    assert out == []
    import pytest as _pytest

    with _pytest.raises(ValueError):
        follows_within(df, "k", "t", "s", gap_seconds=0)


# ---------------------------------------------------------------------------
# segment_overlap
# ---------------------------------------------------------------------------


def test_segment_overlap_exact_counts(spark):
    from owl_etl_spark.operators.bitmap import segment_overlap

    rows = [("A", m) for m in [1, 2, 3, 64]] + [("B", m) for m in [2, 3, 99]] + [
        ("C", 1000)
    ]
    df = spark.createDataFrame(rows, "seg string, uid long")
    out = {(r["seg_a"], r["seg_b"]): r for r in segment_overlap(df, "seg", "uid").collect()}
    assert set(out) == {("A", "B")}  # C shares nobody
    r = out[("A", "B")]
    assert (r["n_a"], r["n_b"], r["n_common"]) == (4, 3, 2)
    assert r["jaccard_micro"] == 2 * 1_000_000 // 5


def test_segment_overlap_dedups_members_and_rejects_negative(spark):
    from owl_etl_spark.operators.bitmap import segment_overlap, segment_bitmaps

    dup = spark.createDataFrame(
        [("A", 7), ("A", 7), ("B", 7)], "seg string, uid long"
    )
    r = segment_overlap(dup, "seg", "uid").collect()[0]
    assert (r["n_a"], r["n_b"], r["n_common"]) == (1, 1, 1)
    import pytest as _pytest

    neg = spark.createDataFrame([("A", -1)], "seg string, uid long")
    with _pytest.raises(Exception) as e:
        segment_bitmaps(neg, "seg", "uid").collect()
    assert "non-negative" in str(e.value)


def test_segment_bitmaps_word_packing(spark):
    from owl_etl_spark.operators.bitmap import segment_bitmaps

    df = spark.createDataFrame(
        [("A", 0), ("A", 31), ("A", 32)], "seg string, uid long"
    )
    out = {r["word"]: r["bits"] for r in segment_bitmaps(df, "seg", "uid").collect()}
    assert out[0] == (1 | (1 << 31))  # bits 0 and 31 of word 0
    assert out[1] == 1  # bit 0 of word 1


# ---------------------------------------------------------------------------
# seasonal_decompose
# ---------------------------------------------------------------------------


def test_seasonal_decompose_recovers_planted_pattern(spark):
    from owl_etl_spark.operators.decompose import seasonal_decompose

    # constant level 1000 cents + deterministic weekly bump of +700 on
    # phase 0 days: trend should be flat at the weekly mean, seasonal
    # should isolate the bump.
    rows = [("k", d, 1000 + (700 if d % 7 == 0 else 0)) for d in range(28)]
    df = spark.createDataFrame(rows, "k string, day long, cents long")
    out = {r["day"]: r for r in seasonal_decompose(df, ["k"], "day", "cents").collect()}
    # edges (< half window) have null trend
    assert out[0]["trend_micro"] is None and out[27]["trend_micro"] is None
    # interior trend = weekly mean = 1100 cents = 11_000_000 micro
    assert out[10]["trend_micro"] == 11_000_000
    # seasonal on the bump phase ≈ +600 cents (700 − mean uplift 100)
    assert out[7]["seasonal_micro"] == 6_000_000
    assert out[10]["seasonal_micro"] == -1_000_000
    # decomposition identity where all parts exist
    for d in range(4, 24):
        r = out[d]
        if r["trend_micro"] is not None and r["seasonal_micro"] is not None:
            assert (
                r["trend_micro"] + r["seasonal_micro"] + r["residual_micro"]
                == r["value_micro"]
            )


def test_seasonal_decompose_gap_disables_trend(spark):
    from owl_etl_spark.operators.decompose import seasonal_decompose

    days = [d for d in range(21) if d != 10]
    df = spark.createDataFrame(
        [("k", d, 100) for d in days], "k string, day long, cents long"
    )
    out = {r["day"]: r for r in seasonal_decompose(df, ["k"], "day", "cents").collect()}
    # every centered window touching the missing day 10 must be null
    for d in range(7, 14):
        if d in out:
            assert out[d]["trend_micro"] is None, d
    assert out[5]["trend_micro"] == 1_000_000


def test_seasonal_decompose_validates_period(spark):
    from owl_etl_spark.operators.decompose import seasonal_decompose

    df = spark.createDataFrame([("k", 0, 1)], "k string, day long, cents long")
    import pytest as _pytest

    for bad in (2, 4, 1):
        with _pytest.raises(ValueError):
            seasonal_decompose(df, ["k"], "day", "cents", period=bad)


# ---------------------------------------------------------------------------
# theil_sen_slopes
# ---------------------------------------------------------------------------


def test_theil_sen_resists_outlier(spark):
    from owl_etl_spark.operators.robust import theil_sen_slopes

    # perfect slope 2 with one wild outlier: Theil-Sen stays at 2
    rows = [("k", t, 2 * t) for t in range(9)] + [("k", 9, 1_000_000)]
    df = spark.createDataFrame(rows, "k string, t long, v long")
    r = theil_sen_slopes(df, ["k"], "t", "v").collect()[0]
    assert r["n_points"] == 10 and r["n_pairs"] == 45
    assert r["ts_slope"] == 2.0


def test_theil_sen_even_pair_count_averages_middle(spark):
    from owl_etl_spark.operators.robust import theil_sen_slopes

    # 4 points → 6 pairs (even): median = mean of ranks 3 and 4
    rows = [("k", 0, 0), ("k", 1, 1), ("k", 2, 4), ("k", 3, 9)]
    df = spark.createDataFrame(rows, "k string, t long, v long")
    r = theil_sen_slopes(df, ["k"], "t", "v").collect()[0]
    # pairwise slopes: 1,2,3,3,4,5 → median (3+3)/2 = 3
    assert r["n_pairs"] == 6 and r["ts_slope"] == 3.0


def test_theil_sen_singleton_and_guards(spark):
    from owl_etl_spark.operators.robust import theil_sen_slopes

    one = spark.createDataFrame([("k", 0, 5)], "k string, t long, v long")
    r = theil_sen_slopes(one, ["k"], "t", "v").collect()[0]
    assert r["n_points"] == 1 and r["n_pairs"] == 0 and r["ts_slope"] is None

    import pytest as _pytest

    big = spark.createDataFrame(
        [("k", t, t) for t in range(5)], "k string, t long, v long"
    )
    with _pytest.raises(Exception) as e:
        theil_sen_slopes(big, ["k"], "t", "v", max_points=4).collect()
    assert "max_points" in str(e.value)

    dup = spark.createDataFrame(
        [("k", 1, 1), ("k", 1, 2)], "k string, t long, v long"
    )
    with _pytest.raises(Exception) as e:
        theil_sen_slopes(dup, ["k"], "t", "v").collect()
    assert "duplicate" in str(e.value)
    with _pytest.raises(ValueError):
        theil_sen_slopes(dup, ["k"], "t", "v", max_points=1)


# ---------------------------------------------------------------------------
# zone_map_report
# ---------------------------------------------------------------------------


def test_zone_map_prunes_and_null_zone_scans(spark):
    from owl_etl_spark.operators.zorder import zone_map_report

    rows = [
        (0, 10), (0, 20),      # bucket 0: zone [10, 20] — outside probe
        (1000, 50), (1000, 80),  # bucket 1: zone [50, 80] — overlaps
        (2000, None), (2000, None),  # bucket 2: all-null zone — must scan
    ]
    df = spark.createDataFrame(rows, "key long, v long")
    out = {
        r["bucket"]: r
        for r in zone_map_report(df, "key div 1000", "v", 40, 60).collect()
    }
    assert out[0]["would_scan"] is False
    assert out[1]["would_scan"] is True
    assert out[2]["would_scan"] is True and out[2]["min_v"] is None
    assert out[0]["n_rows"] == 2

    import pytest as _pytest

    with _pytest.raises(ValueError):
        zone_map_report(df, "key div 1000", "v", 60, 40)


def test_zone_map_boundary_inclusive(spark):
    from owl_etl_spark.operators.zorder import zone_map_report

    df = spark.createDataFrame([(0, 100)], "key long, v long")
    # probe hi == zone min: still overlaps (inclusive)
    r = zone_map_report(df, "key div 1000", "v", 0, 100).collect()[0]
    assert r["would_scan"] is True
    r2 = zone_map_report(df, "key div 1000", "v", 0, 99).collect()[0]
    assert r2["would_scan"] is False


# ---------------------------------------------------------------------------
# top_paths
# ---------------------------------------------------------------------------


def test_top_paths_hand_case(spark):
    from owl_etl_spark.operators.sequence import top_paths

    rows = [
        (1, 10, 1, "a"), (1, 20, 2, "b"), (1, 30, 3, "c"), (1, 40, 4, "d"),
        (2, 10, 5, "a"), (2, 20, 6, "b"), (2, 30, 7, "c"),
    ]
    df = spark.createDataFrame(rows, "k long, t long, o long, s string")
    out = {r["path"]: r for r in top_paths(df, "k", "t", "o", "s").collect()}
    # u1 contributes a>b>c and b>c>d; u2 contributes a>b>c
    assert out["a>b>c"]["n"] == 2 and out["a>b>c"]["rk"] == 1
    assert out["b>c>d"]["n"] == 1
    assert len(out) == 2  # incomplete tails never emit


def test_top_paths_same_ts_ordered_by_order_col(spark):
    from owl_etl_spark.operators.sequence import top_paths

    # both events at t=10: order_col must break the tie deterministically
    rows = [(1, 10, 1, "x"), (1, 10, 2, "y"), (1, 20, 3, "z")]
    df = spark.createDataFrame(rows, "k long, t long, o long, s string")
    out = top_paths(df, "k", "t", "o", "s", depth=3).collect()
    assert [r["path"] for r in out] == ["x>y>z"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        top_paths(df, "k", "t", "o", "s", depth=1)
    with _pytest.raises(ValueError):
        top_paths(df, "k", "t", "o", "s", top_k=0)


# ---------------------------------------------------------------------------
# fk_orphan_report
# ---------------------------------------------------------------------------


def test_fk_orphan_counts_and_null_keys(spark):
    from owl_etl_spark.operators.validate import fk_orphan_report

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    r = fk_orphan_report([("c->p", child, "fk", parent, "pk")]).collect()[0]
    # orphans: 99 (no parent) + NULL (unset FK)
    assert (r["n_child"], r["n_orphans"]) == (5, 2)
    assert r["orphan_micro"] == 400000
    import pytest as _pytest

    with _pytest.raises(ValueError):
        fk_orphan_report([])


def test_fk_orphan_duplicate_parent_keys_do_not_multiply(spark):
    from owl_etl_spark.operators.validate import fk_orphan_report

    child = spark.createDataFrame([(1,), (2,)], "fk long")
    parent = spark.createDataFrame([(1,), (1,), (1,)], "pk long")
    r = fk_orphan_report([("c->p", child, "fk", parent, "pk")]).collect()[0]
    assert (r["n_child"], r["n_orphans"]) == (2, 1)


# ---------------------------------------------------------------------------
# histogram sketch + quantiles
# ---------------------------------------------------------------------------


def test_histogram_quantile_exact_at_boundaries(spark):
    from owl_etl_spark.operators.histo import histogram_quantile, histogram_sketch

    # 100 values 0..99 in 10 bins of width 10 over [0, 100)
    df = spark.createDataFrame([("k", v) for v in range(100)], "k string, v long")
    sk = histogram_sketch(df, ["k"], "v", lo=0, hi=100, n_bins=10)
    out = {
        r["prob"]: r
        for r in histogram_quantile(sk, ["k"], 0, 100, 10, [0.5, 1.0]).collect()
    }
    assert out[0.5]["n"] == 100
    # need = 50 → bin 4 (cum 50), offset = (50-40)/10 within the bin → 40 + 10 = 50
    assert out[0.5]["q_est_micro"] == 50_000_000
    assert out[1.0]["q_est_micro"] == 100_000_000


def test_histogram_sketch_merge_equals_direct(spark):
    from owl_etl_spark.operators.histo import histogram_sketch
    from pyspark.sql import functions as F

    rows = [("k", i, i % 97) for i in range(200)]
    df = spark.createDataFrame(rows, "k string, i long, v long")
    direct = histogram_sketch(df, ["k"], "v", 0, 100, 10)
    h1 = histogram_sketch(df.where("i < 90"), ["k"], "v", 0, 100, 10)
    h2 = histogram_sketch(df.where("i >= 90"), ["k"], "v", 0, 100, 10)
    merged = (
        h1.unionByName(h2)
        .groupBy("k", "bin")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_histogram_sketch_validates_params_and_clamps(spark):
    from owl_etl_spark.operators.histo import histogram_quantile, histogram_sketch

    df = spark.createDataFrame([("k", -50), ("k", 500)], "k string, v long")
    sk = histogram_sketch(df, ["k"], "v", 0, 100, 10)
    bins = {r["bin"]: r["cnt"] for r in sk.collect()}
    assert bins == {0: 1, 9: 1}  # clamped into edge bins
    import pytest as _pytest

    with _pytest.raises(ValueError):
        histogram_sketch(df, ["k"], "v", 0, 100, 7)  # ragged width
    with _pytest.raises(ValueError):
        histogram_sketch(df, ["k"], "v", 100, 100, 10)
    with _pytest.raises(ValueError):
        histogram_quantile(sk, ["k"], 0, 100, 10, [])
    with _pytest.raises(ValueError):
        histogram_quantile(sk, ["k"], 0, 100, 10, [0.0])


# ---------------------------------------------------------------------------
# lift_table
# ---------------------------------------------------------------------------


def test_lift_table_perfect_ranker(spark):
    from owl_etl_spark.operators.evalmetrics import lift_table

    # scores 0..99, positives are exactly the top 10 scores → bucket 0
    # captures every positive: gain 100%, lift 10×.
    rows = [(float(v), 1 if v >= 90 else 0) for v in range(100)]
    df = spark.createDataFrame(rows, "s double, y int")
    out = {r["bucket"]: r for r in lift_table(df, "s", "y", n_buckets=10).collect()}
    assert out[0]["n"] == 10 and out[0]["n_pos"] == 10
    assert out[0]["gain_micro"] == 1_000_000
    assert out[0]["lift_micro"] == 10_000_000
    assert out[9]["gain_micro"] == 1_000_000 and out[9]["lift_micro"] == 1_000_000


def test_lift_table_ties_stay_in_one_bucket(spark):
    from owl_etl_spark.operators.evalmetrics import lift_table

    # 15 rows of one score + 5 of another, 2 buckets: the 15-tie group
    # starts at position 0 → all land in bucket 0 (never split).
    rows = [(5.0, 1)] * 15 + [(1.0, 0)] * 5
    df = spark.createDataFrame(rows, "s double, y int")
    out = {r["bucket"]: r for r in lift_table(df, "s", "y", n_buckets=2).collect()}
    assert out[0]["n"] == 15 and out[1]["n"] == 5
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lift_table(df, "s", "y", n_buckets=0)


# ---------------------------------------------------------------------------
# binary_eval_by_group
# ---------------------------------------------------------------------------


def test_grouped_auc_matches_single_group_report(spark):
    from owl_etl_spark.operators.evalmetrics import (
        binary_eval_by_group,
        binary_eval_report,
    )

    rows = [("g", float(v % 17), 1 if (v * 7) % 3 == 0 else 0) for v in range(60)]
    df = spark.createDataFrame(rows, "g string, s double, y int")
    whole = binary_eval_report(df, "s", "y", threshold=8.0).collect()[0]
    grouped = binary_eval_by_group(df, ["g"], "s", "y", threshold=8.0).collect()[0]
    for c in ["n_pos", "n_neg", "auc", "tp", "fp", "tn", "fn"]:
        assert grouped[c] == whole[c], c


def test_grouped_auc_separates_groups(spark):
    from owl_etl_spark.operators.evalmetrics import binary_eval_by_group

    # group A: perfect ranker (auc 1); group B: inverted (auc 0)
    rows = [("A", 1.0, 0), ("A", 2.0, 1), ("B", 1.0, 1), ("B", 2.0, 0)]
    df = spark.createDataFrame(rows, "g string, s double, y int")
    out = {r["g"]: r for r in binary_eval_by_group(df, ["g"], "s", "y", 1.5).collect()}
    assert out["A"]["auc"] == 1.0 and out["B"]["auc"] == 0.0


# ---------------------------------------------------------------------------
# seq_rules
# ---------------------------------------------------------------------------


def test_seq_rules_confidence(spark):
    from owl_etl_spark.operators.sequence import seq_rules

    rows = [
        (1, 0, "a"), (1, 10, "b"),   # a→b inside gap
        (2, 0, "a"),                  # a alone
        (3, 0, "a"), (3, 999, "b"),  # a→b outside gap
    ]
    df = spark.createDataFrame(rows, "k long, t long, s string")
    out = {
        (r["state_a"], r["state_b"]): r
        for r in seq_rules(df, "k", "t", "s", gap_seconds=100).collect()
    }
    r = out[("a", "b")]
    assert r["n_keys"] == 1
    # 3 keys hold 'a' → confidence 1/3
    assert r["confidence_micro"] == 333333
    assert r["support_micro"] == 333333


# ---------------------------------------------------------------------------
# iqr_fences
# ---------------------------------------------------------------------------


def test_iqr_fences_hand_case(spark):
    from owl_etl_spark.operators.quantiles import iqr_fences

    # values 1..8: q1 = rank-2 value (2·4 ≥ 8) = 2, q3 = rank-6 (6·4 ≥ 24) = 6
    rows = [("g", i, i) for i in range(1, 9)] + [("g", 99, 1000)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    r = iqr_fences(df, ["g"], "v", tiebreak_col="id").collect()[0]
    assert r["n"] == 9
    # with the outlier included: n=9 → q1 at rank 3 (3·4 ≥ 9) = 3, q3 at rank 7 (7·4 ≥ 27) = 7
    assert (r["q1"], r["q3"]) == (3, 7)
    assert r["fence_lo_micro"] == 3 * 1_000_000 - 1_500_000 * 4
    assert r["fence_hi_micro"] == 7 * 1_000_000 + 1_500_000 * 4
    assert r["n_outliers"] == 1  # the planted 1000


def test_iqr_fences_zero_iqr_and_param(spark):
    from owl_etl_spark.operators.quantiles import iqr_fences

    df = spark.createDataFrame(
        [("g", i, 5) for i in range(4)] + [("g", 9, 50)],
        "g string, id long, v long",
    )
    r = iqr_fences(df, ["g"], "v", tiebreak_col="id").collect()[0]
    # constant bulk: q1 = q3 = 5, IQR 0 → fences collapse to the value
    assert (r["q1"], r["q3"]) == (5, 5)
    assert r["n_outliers"] == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        iqr_fences(df, ["g"], "v", k_micro=-1)


# ---------------------------------------------------------------------------
# streaming_histogram
# ---------------------------------------------------------------------------


def test_streaming_histogram_matches_batch_sketch(spark, tmp_path):
    from owl_etl_spark.operators.histo import histogram_sketch
    from owl_etl_spark.streaming.sketch_stream import streaming_histogram

    rows = [("a", (i * 37) % 100) for i in range(300)] + [
        ("b", (i * 11) % 100) for i in range(100)
    ]
    batch = spark.createDataFrame(rows, "k string, v long")
    path = str(tmp_path / "events_hist")
    batch.write.parquet(path)
    src = spark.readStream.schema("k string, v long").parquet(path)
    agg = streaming_histogram(src, ["k"], "v", lo=0, hi=100, n_bins=10)
    q = (
        agg.writeStream.format("memory")
        .queryName("hist_stream_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.table("hist_stream_test").collect()))
    want = sorted(
        map(tuple, histogram_sketch(batch, ["k"], "v", 0, 100, 10).collect())
    )
    assert got == want


def test_streaming_histogram_validates_params(spark):
    from owl_etl_spark.streaming.sketch_stream import streaming_histogram

    df = spark.createDataFrame([("k", 1)], "k string, v long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        streaming_histogram(df, ["k"], "v", 0, 100, 7)
    with _pytest.raises(ValueError):
        streaming_histogram(df, ["k"], "v", 100, 0, 10)


# ---------------------------------------------------------------------------
# centroid_drift / similarity_histogram
# ---------------------------------------------------------------------------


def test_centroid_drift_hand_case(spark):
    from owl_etl_spark.operators.embdrift import centroid_drift

    # half 0 centered at (0,0), half 1 at (3,4) → distance 5
    rows = [
        ("l", 0, [0.0, 0.0]), ("l", 0, [0.0, 0.0]),
        ("l", 1, [3.0, 4.0]), ("l", 1, [3.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "label string, half int, embedding array<float>")
    r = centroid_drift(df, ["label"], "embedding", "half").collect()[0]
    assert (r["n0"], r["n1"]) == (2, 2)
    assert r["centroid_dist"] == 5.0


def test_centroid_drift_missing_half_is_null(spark):
    from owl_etl_spark.operators.embdrift import centroid_drift

    df = spark.createDataFrame(
        [("l", 0, [1.0, 1.0])], "label string, half int, embedding array<float>"
    )
    r = centroid_drift(df, ["label"], "embedding", "half").collect()[0]
    assert r["n1"] == 0 and r["centroid_dist"] is None


def test_centroid_drift_identical_halves_zero(spark):
    from owl_etl_spark.operators.embdrift import centroid_drift

    rows = [("l", h, [0.25, -0.5, 0.125]) for h in (0, 1) for _ in range(3)]
    df = spark.createDataFrame(rows, "label string, half int, embedding array<float>")
    r = centroid_drift(df, ["label"], "embedding", "half").collect()[0]
    assert r["centroid_dist"] == 0.0


@pytest.mark.full
def test_similarity_histogram_counts_pairs(spark):
    from owl_etl_spark.operators.embdrift import similarity_histogram

    # sample_mod=1 keeps everything: 3 vectors → 3 pairs; two identical
    # vectors give cosine 1 (top bin), orthogonal pairs give 0.
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["bin"]: r["cnt"] for r in similarity_histogram(df, "vec_id", "embedding", 1).collect()}
    assert sum(out.values()) == 3
    assert out[39] == 1  # the cosine-1 pair clamps into the top bin
    assert out[20] == 2  # the two orthogonal pairs at 0 → bin (0+1e6)//50000 = 20
    import pytest as _pytest

    with _pytest.raises(ValueError):
        similarity_histogram(df, "vec_id", "embedding", 0)
