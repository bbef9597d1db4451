"""Quantile-bucket operator: exact nearest-rank cutpoints, broadcast
assignment — and their pinned agreement with the ntile form."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from owl_etl_spark.operators.quantiles import (
    assign_buckets,
    collect_cutpoints,
    exact_rank_cutpoints,
)


def _mk(spark, values):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], ["k", "v"]
    )


def test_exact_cutpoints_match_ntile_when_divisible(spark):
    """With n % k == 0 and untied boundary values, cutpoint bucketing
    must agree with ntile ROW FOR ROW (both reduce to rank ceil(d*n/k)
    boundaries). Values are shuffled primes-ish ints, n=200, k=10."""
    vals = [(v * 7919) % 104729 for v in range(200)]  # distinct, scrambled
    df = _mk(spark, vals)
    cuts = collect_cutpoints(exact_rank_cutpoints(df, "v", 10))
    assert len(cuts) == 9 and cuts == sorted(cuts)
    got = assign_buckets(df, "v", cuts)
    w = Window.orderBy("v", "k")
    ref = df.withColumn("nt", F.ntile(10).over(w).cast("long"))
    joined = got.join(ref, ["k", "v"])
    mismatch = joined.filter(F.col("bucket") != F.col("nt")).count()
    assert mismatch == 0


def test_cutpoint_ties_land_in_lower_bucket(spark):
    """Rows tied on a cutpoint value all take the LOWER bucket —
    deterministic under any row order (ntile would split them by sort
    position). [1,1,1,2,2,3] with k=3: cut1=1, cut2=2 → buckets
    {1:1, 2:2, 3:3}."""
    df = _mk(spark, [1, 1, 1, 2, 2, 3])
    cuts = collect_cutpoints(exact_rank_cutpoints(df, "v", 3))
    assert cuts == [1, 2]
    out = {(r.v, r.bucket) for r in assign_buckets(df, "v", cuts).collect()}
    assert out == {(1, 1), (2, 2), (3, 3)}


def test_assignment_is_map_side_only(spark):
    """The assignment stage must add ZERO shuffles: literal comparison
    chain over a broadcast-free plan (cutpoints are compiled literals,
    not a joined dimension)."""
    df = _mk(spark, list(range(100)))
    out = assign_buckets(df, "v", [24, 49, 74])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_skewed_duplicates_bucket_counts(spark):
    """Heavy ties off the boundaries: nearest-rank cutpoints still
    produce the canonical cumulative-count buckets."""
    vals = [5] * 90 + list(range(100, 110))  # 90 ties + 10 distinct
    df = _mk(spark, vals)
    cuts = collect_cutpoints(exact_rank_cutpoints(df, "v", 4))
    # n=100, ranks 25/50/75 → all inside the run of 5s → cuts [5,5,5]
    assert cuts == [5, 5, 5]
    out = assign_buckets(df, "v", cuts)
    counts = {r.bucket: r.n for r in out.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    # all ties -> bucket 1 (lower), the 10 larger values -> bucket 4
    assert counts == {1: 90, 4: 10}
