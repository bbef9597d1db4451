"""Driver replays: ``session.bounded_collect`` (the one guard), its
seven callers, and ``session.literal_frame`` (the frame a replay
returns).

Every replay operator must answer the same with the guard forced to
the distributed path (cap 0) as on the driver path: same sorted rows,
same ``dtypes``. The model fits have no distributed path; above the cap
they raise, naming the bucketing contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from owl_etl_spark import session
from owl_etl_spark.session import bounded_collect, literal_frame


# ------------------------------------------------------- bounded_collect

def test_bounded_collect_returns_rows_at_cap(spark, monkeypatch):
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 5)
    df = spark.range(5).localCheckpoint(eager=True)
    rows = bounded_collect(df)
    assert rows is not None
    assert sorted(r.id for r in rows) == [0, 1, 2, 3, 4]


def test_bounded_collect_returns_none_above_cap(spark, monkeypatch):
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 5)
    df = spark.range(6).localCheckpoint(eager=True)
    assert bounded_collect(df) is None


def test_bounded_collect_is_one_job_on_a_wide_sealed_frame(spark):
    # a bare limit(n + 1).collect() scans 1, 4, 16 ... partitions, one
    # job per step; coalesce(1) makes it one job whatever the width
    df = spark.range(0, 5000, 1, 64).localCheckpoint(eager=True)
    assert df.rdd.getNumPartitions() == 64
    sc = spark.sparkContext
    group = "bounded-collect-one-job"
    sc.setJobGroup(group, "bounded_collect job count")
    try:
        rows = bounded_collect(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows is not None and len(rows) == 5000
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


# --------------------------------------------------------- literal_frame

def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_literal_frame_inlines_small_frames_only(spark):
    # up to 256 rows: one inline(array(struct(...))) generator over a
    # one-row range (the optimizer folds the array to one literal);
    # above it the Arrow path, because a ~4k-row inline array costs
    # seconds of driver time to build and plan
    small = literal_frame(spark, [(i, f"s{i}") for i in range(256)], "k bigint, v string")
    large = literal_frame(spark, [(i, f"s{i}") for i in range(4000)], "k bigint, v string")
    assert _optimized_plan(small).startswith("Generate inline(")
    plan = _optimized_plan(large)
    assert "Generate" not in plan and "inline(" not in plan, plan[:500]
    assert large.count() == 4000
    assert large.dtypes == small.dtypes == [("k", "bigint"), ("v", "string")]


# ------------------------------------------------- dual-path replay ops

def _bradley_terry(spark):
    from owl_etl_spark.operators.pairwise import bradley_terry_strengths

    games = spark.range(100).select(
        (F.col("id") % 7).cast("string").alias("winner"),
        ((F.col("id") % 7 + 1 + F.col("id") % 3) % 11).cast("string").alias("loser"),
    )
    return bradley_terry_strengths(games)


def _power_iteration(spark):
    from owl_etl_spark.operators.linalg import power_iteration_top_eigvec

    gram = spark.range(36).select(
        (F.col("id") % 6).cast("int").alias("i"),
        (F.col("id") / 6).cast("int").alias("j"),
        ((F.col("id") * 7) % 11 - 3).cast("long").alias("s"),
    ).filter("j >= i")
    return power_iteration_top_eigvec(gram, n_iters=4)


_EDGES = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (3, 10), (20, 21)]
_IDS = [1, 2, 3, 10, 11, 12, 13, 20, 21, 99]


def _components(spark):
    from owl_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(_EDGES, "id_a bigint, id_b bigint")
    ids = spark.createDataFrame([(i,) for i in _IDS], "doc_id bigint")
    return connected_components(pairs, ids)


def _components_star(spark):
    from owl_etl_spark.operators.dedup import connected_components_star

    pairs = spark.createDataFrame(_EDGES, "id_a bigint, id_b bigint")
    ids = spark.createDataFrame([(i,) for i in _IDS], "doc_id bigint")
    return connected_components_star(pairs, ids)


@pytest.mark.parametrize(
    "build",
    [_bradley_terry, _power_iteration, _components, _components_star],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_replay_equals_distributed_path(spark, monkeypatch, build):
    driver = build(spark)
    want = (sorted(map(tuple, driver.collect())), driver.dtypes)
    assert want[0]
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 0)
    dist = build(spark)
    assert (sorted(map(tuple, dist.collect())), dist.dtypes) == want


# ------------------------------------------- guarded fits (no fallback)

def test_logistic_regression_fit_refuses_above_cap(spark, monkeypatch):
    from owl_etl_spark.operators.logreg import logistic_regression_fit

    df = spark.range(40).select(
        F.lit(1).cast("long").alias("x0"),
        (F.col("id") % 10).alias("x1"),
        (F.col("id") % 2).alias("y"),
    )
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 3)
    with pytest.raises(ValueError, match="bucket"):
        logistic_regression_fit(df, "y", ["x0", "x1"], iterations=1)


def test_gbm_stump_fit_refuses_above_cap(spark, monkeypatch):
    from owl_etl_spark.operators.boost import gbm_stump_fit

    df = spark.range(40).select(
        (F.col("id") * 100).alias("y"), (F.col("id") % 10).alias("x")
    )
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 3)
    with pytest.raises(ValueError, match="bucket"):
        gbm_stump_fit(df, "y", "x", [5], rounds=1)


def test_cox_ph_fit_refuses_above_cap(spark, monkeypatch):
    from owl_etl_spark.operators.survival import cox_ph_fit

    df = spark.range(40).select(
        (F.col("id") + 1).alias("t"),
        F.lit(1).cast("long").alias("e"),
        (F.col("id") % 3).alias("x"),
    )
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 3)
    with pytest.raises(ValueError, match="duration needs bucketing"):
        cox_ph_fit(df, "t", "e", "x", n_iters=1)
