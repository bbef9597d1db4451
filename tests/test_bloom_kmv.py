"""Bloom semi-join pruning + KMV bottom-k sketch units (round 5).

Gate queries q134–q136 pin oracle parity; these pin the library
contracts: no false negatives ever, false-positive rate near theory,
bitmap mergeability, zero-shuffle prune plan, KMV merge ≡ direct,
estimator accuracy, and sample-quantile rank error.
"""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from owl_etl_spark.operators.bloomjoin import (
    BITS_PER_WORD,
    bloom_build,
    bloom_prune,
    bloom_words,
)
from owl_etl_spark.operators.kmv import (
    kmv_distinct_estimate,
    kmv_merge,
    kmv_sketch,
    kmv_value_quantiles,
)


# ---------------------------------------------------------------------------
# bloom
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def member_keys(spark):
    return spark.range(0, 1000).select(F.col("id").alias("k"))


def test_bloom_no_false_negatives(spark, member_keys):
    """THE Bloom guarantee: every inserted key tests positive."""
    sk = bloom_build(member_keys, "k", n_bits=8192, k=4)
    words = bloom_words(sk, 8192)
    kept = bloom_prune(member_keys, "k", words, 8192, 4)
    assert kept.count() == 1000


def test_bloom_false_positive_rate_near_theory(spark, member_keys):
    """Non-members pass at ~(1-e^(-kn/m))^k — for n=1000, m=8192, k=4
    that's ~2.4%; allow generous slack but catch a broken hash family
    (which would show ~100% or ~0%)."""
    sk = bloom_build(member_keys, "k", n_bits=8192, k=4)
    words = bloom_words(sk, 8192)
    outsiders = spark.range(1_000_000, 1_020_000).select(F.col("id").alias("k"))
    fp = bloom_prune(outsiders, "k", words, 8192, 4).count()
    rate = fp / 20_000
    assert 0.001 < rate < 0.10, rate


def test_bloom_keep_col_marks_instead_of_filtering(spark, member_keys):
    sk = bloom_build(member_keys, "k", n_bits=8192, k=4)
    words = bloom_words(sk, 8192)
    both = member_keys.union(
        spark.range(2_000_000, 2_000_100).select(F.col("id").alias("k"))
    )
    marked = bloom_prune(both, "k", words, 8192, 4, keep_col="kept")
    assert marked.count() == 1100  # nothing dropped
    assert marked.filter(F.col("kept") & (F.col("k") < 1000)).count() == 1000


def test_bloom_merge_is_cellwise_bit_or(spark):
    """Two day-drops built separately then merged cell-wise must admit
    every key from both drops (the CMS/HLL merge contract)."""
    d1 = spark.range(0, 500).select(F.col("id").alias("k"))
    d2 = spark.range(500, 1000).select(F.col("id").alias("k"))
    merged_sketch = (
        bloom_build(d1, "k", 8192, 4)
        .unionByName(bloom_build(d2, "k", 8192, 4))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )
    words = bloom_words(merged_sketch, 8192)
    all_keys = spark.range(0, 1000).select(F.col("id").alias("k"))
    assert bloom_prune(all_keys, "k", words, 8192, 4).count() == 1000


def test_bloom_prune_plan_has_no_join_or_shuffle(spark, member_keys):
    """The prune is a literal-bitmap map expression: the physical plan
    of prune-over-scan must contain no join and no exchange."""
    sk = bloom_build(member_keys, "k", n_bits=8192, k=4)
    words = bloom_words(sk, 8192)
    plan = bloom_prune(
        spark.range(0, 100).select(F.col("id").alias("k")), "k", words, 8192, 4
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_bloom_prune_rejects_wrong_word_count(spark, member_keys):
    with pytest.raises(ValueError, match="words has"):
        bloom_prune(member_keys, "k", [0] * 10, 8192, 4)


# ---------------------------------------------------------------------------
# KMV
# ---------------------------------------------------------------------------


def test_kmv_exact_when_small(spark):
    df = spark.createDataFrame([Row(k=f"x{i % 40}") for i in range(500)])
    sk = kmv_sketch(df, "k", k=256)
    row = kmv_distinct_estimate(sk, k=256).collect()[0]
    assert row["n_in_sketch"] == 40 and row["est_distinct"] == 40


def test_kmv_estimator_within_error_band(spark):
    """10,000 distinct keys, k=256: est within ~3/sqrt(k) (19%)."""
    df = spark.range(0, 10_000).select(F.col("id").cast("string").alias("k"))
    sk = kmv_sketch(df, "k", k=256)
    est = kmv_distinct_estimate(sk, k=256).collect()[0]["est_distinct"]
    assert abs(est - 10_000) / 10_000 < 0.19, est


def test_kmv_duplicates_collapse(spark):
    """Heavy-key duplication must not bias the sketch: 1 key repeated
    a million-ish times still contributes ONE candidate."""
    df = spark.range(0, 5_000).select(
        F.when(F.col("id") < 4_000, F.lit("hot")).otherwise(
            F.col("id").cast("string")
        ).alias("k")
    )
    sk = kmv_sketch(df, "k", k=256)
    # distinct = 1 hot + 1000 others
    est = kmv_distinct_estimate(sk, k=256).collect()[0]["est_distinct"]
    assert abs(est - 1001) / 1001 < 0.19, est
    assert sk.count() == 256


def test_kmv_merge_equals_direct(spark):
    """Bottom-k is a semilattice: merge of two half-sketches IS the
    sketch of the union — bit-identical rows."""
    df = spark.range(0, 8_000).select(F.col("id").cast("string").alias("k"))
    halves = [
        kmv_sketch(df.filter(F.col("id") % 2 == i), "k", k=128) for i in (0, 1)
    ]
    merged = sorted(
        (r["h"], r["key"]) for r in kmv_merge(halves[0], halves[1], k=128).collect()
    )
    direct = sorted((r["h"], r["key"]) for r in kmv_sketch(df, "k", k=128).collect())
    assert merged == direct


def test_kmv_sketch_plans_take_ordered(spark):
    """Bottom-k must plan as TakeOrderedAndProject (size-k heap per
    partition), never a global Sort."""
    df = spark.range(0, 10_000).select(F.col("id").cast("string").alias("k"))
    plan = kmv_sketch(df, "k", k=64)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_kmv_rejects_tiny_k(spark):
    df = spark.range(0, 10).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(ValueError, match="k >= 3"):
        kmv_sketch(df, "k", k=2)


def test_kmv_value_quantiles_rank_error(spark):
    """Sample quantiles of a distinct-key attribute: with k=256 of
    10,000 uniform values, each estimated quantile's TRUE rank must sit
    within ~3/sqrt(k) (19 points) of the requested percentile."""
    df = spark.range(0, 10_000).select(
        F.col("id").cast("string").alias("k"), F.col("id").alias("v")
    )
    sk = df.select(
        F.conv(F.substring(F.md5(F.col("k")), 1, 15), 16, 10).cast("bigint").alias("h"),
        F.col("k").alias("key"),
        "v",
    ).orderBy("h").limit(256)
    qs = kmv_value_quantiles(sk, "v", [0.25, 0.5, 0.75])
    for r in qs.collect():
        true_rank = r["q"] / 10_000  # v is uniform 0..9999
        assert abs(true_rank - r["prob"]) < 0.19, (r["prob"], r["q"])


def test_kmv_jaccard_exact_on_small_sets(spark):
    """Below k distinct keys the sketches are the exact sets, so the
    estimate IS the exact Jaccard."""
    from owl_etl_spark.operators.kmv import kmv_jaccard_estimate, kmv_sketch

    a = spark.createDataFrame([Row(k=f"x{i}") for i in range(40)])          # x0..x39
    b = spark.createDataFrame([Row(k=f"x{i}") for i in range(20, 60)])      # x20..x59
    r = kmv_jaccard_estimate(
        kmv_sketch(a, "k", 256), kmv_sketch(b, "k", 256)
    ).collect()[0]
    # |A∩B| = 20, |A∪B| = 60 → 1/3
    assert r["n_union_sketch"] == 60 and r["n_both"] == 20
    assert r["jaccard_micro"] == 333333


def test_kmv_jaccard_estimator_within_band(spark):
    from owl_etl_spark.operators.kmv import kmv_jaccard_estimate, kmv_sketch

    a = spark.range(0, 6000).select(F.col("id").cast("string").alias("k"))
    b = spark.range(3000, 9000).select(F.col("id").cast("string").alias("k"))
    r = kmv_jaccard_estimate(
        kmv_sketch(a, "k", 256), kmv_sketch(b, "k", 256)
    ).collect()[0]
    # true J = 3000/9000 = 1/3; band 3/sqrt(256) ≈ 0.19
    assert abs(r["jaccard_micro"] / 1e6 - 1 / 3) < 0.19


def test_kmv_jaccard_disjoint_sets_zero(spark):
    from owl_etl_spark.operators.kmv import kmv_jaccard_estimate, kmv_sketch

    a = spark.range(0, 5000).select(F.concat(F.lit("a"), F.col("id")).alias("k"))
    b = spark.range(0, 5000).select(F.concat(F.lit("b"), F.col("id")).alias("k"))
    r = kmv_jaccard_estimate(
        kmv_sketch(a, "k", 256), kmv_sketch(b, "k", 256)
    ).collect()[0]
    assert r["n_both"] == 0 and r["jaccard_micro"] == 0
