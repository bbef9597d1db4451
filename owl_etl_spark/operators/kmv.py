"""KMV (k-minimum-values / bottom-k) sketch: a mergeable fixed-size
summary that yields BOTH a distinct-count estimate and a uniform
random sample of the distinct keys — the plug-in statistic sketch.

Where it sits in the sketch family (all md5-portable, all mergeable):
HLL (sketches.py) estimates |distinct| in less memory; CMS estimates
per-key frequency; KMV is the one that keeps actual MEMBER ROWS — the
k smallest hash values, each carrying its key (and any payload
columns) — so any statistic computable on a uniform sample of the
distinct population comes for free: quantiles of an attribute,
group-share estimates, example records for debugging. DISTINCT
semantics (not row sampling): duplicates of a key hash identically
and collapse, so heavy keys don't bias the sample — the property
row-level hash sampling cannot give.

Math: with h uniform on [0, H) and h_(k) the k-th smallest distinct
hash, E[h_(k)/H] = k/(n+1), so ``est = (k-1)·H / h_(k)`` is the
standard unbiased estimator (Bar-Yossef et al. 2002; Beyer et al.
2007) with relative error ~ 1/sqrt(k-2) (k=256 → ~6.3%). Merge of two
sketches = union → distinct → bottom-k (bottom-k of a union IS the
bottom-k of the members' bottom-k's), the same cell-merge contract as
CMS/HLL, so per-day sketches roll up without rescans.

Scale shape: one md5 per row (map), distinct on the 60-bit hash
(map-side-combined shuffle of longs), then ``orderBy(h).limit(k)`` —
Spark plans TakeOrderedAndProject: a size-k heap per partition and a
k·partitions driver merge, NO global sort. State is k rows total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.functions.hashing import md5_long

#: md5_long yields 15 hex chars = 60 bits: hashes are uniform on [0, 2^60).
HASH_SPACE = 1 << 60


def kmv_sketch(df: DataFrame, key_col: str, k: int = 256) -> DataFrame:
    """Bottom-k sketch of the DISTINCT keys: ``(h, key)`` rows, k of
    them (fewer iff the input has < k distinct keys — then the sketch
    is the exact distinct set and every estimate is exact).

    The distinct() collapses same-key duplicates BEFORE the bottom-k
    (same hash → one candidate), so the heap never fills with copies
    of one hot key.
    """
    if k < 3:
        raise ValueError(f"kmv_sketch: need k >= 3 for the estimator, got {k}")
    return (
        # a null key hashes to a null h, which sorts FIRST under asc
        # and would silently occupy a bottom-k slot while max(h)
        # ignores it — nulls are not distinct-count members; drop them
        df.filter(F.col(key_col).isNotNull())
        .select(
            md5_long(F.col(key_col).cast("string")).alias("h"),
            F.col(key_col).alias("key"),
        )
        .distinct()
        .orderBy(F.col("h").asc())
        .limit(k)
    )


def kmv_merge(a: DataFrame, b: DataFrame, k: int = 256) -> DataFrame:
    """Merge two sketches: union → distinct → bottom-k. Exactly the
    sketch of the concatenated inputs (bottom-k is a semilattice), so
    daily sketches compose associatively in any order."""
    return a.unionByName(b).distinct().orderBy(F.col("h").asc()).limit(k)


def kmv_distinct_estimate(sketch: DataFrame, k: int = 256) -> DataFrame:
    """One row: ``(n_in_sketch, est_distinct)``.

    If the sketch holds fewer than k rows the count is EXACT (the
    whole distinct set fits); otherwise est = (k-1)·H / h_(k) over the
    k-th smallest hash — integer arithmetic except the final division,
    rounded to a BIGINT for engine portability."""
    agg = sketch.agg(
        F.count(F.lit(1)).cast("long").alias("n_in_sketch"),
        F.max("h").alias("__hk"),
    )
    return agg.select(
        "n_in_sketch",
        F.when(F.col("n_in_sketch") < k, F.col("n_in_sketch"))
        .otherwise(
            F.round(
                F.lit(float(k - 1)) * F.lit(float(HASH_SPACE)) / F.col("__hk")
            ).cast("long")
        )
        .alias("est_distinct"),
    )


def kmv_value_quantiles(
    sketch_with_value: DataFrame,
    value_col: str,
    probs: list[float],
) -> DataFrame:
    """Approximate quantiles of a DISTINCT-key attribute from the
    uniform sample the sketch carries: one row per requested prob,
    ``(prob, q)`` where q is the exact type-1 sample quantile (index
    ``ceil(p·n)`` of the sorted sample, deterministic — no
    interpolation, so any engine replays it bit-for-bit). Rank error
    vs the true distinct-population quantile is O(1/sqrt(k)).

    Deterministic tie-break: values sort (value, h) so equal values
    order stably."""
    import math

    from pyspark.sql import Window

    n = sketch_with_value.count()
    if n == 0:
        raise ValueError("kmv_value_quantiles: empty sketch")
    ranked = sketch_with_value.select(
        F.col(value_col).alias("__v"),
        F.row_number()
        .over(Window.orderBy(F.col(value_col).asc(), F.col("h").asc()))
        .alias("__r"),
    )
    # one tiny (≤ k rows) frame — a single-partition window over the
    # sketch, never over the data
    frames = []
    for p in probs:
        idx = max(1, min(n, math.ceil(p * n)))
        frames.append(
            ranked.filter(F.col("__r") == idx).select(
                F.lit(float(p)).alias("prob"), F.col("__v").alias("q")
            )
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out


def kmv_jaccard_estimate(
    sketch_a: DataFrame, sketch_b: DataFrame
) -> DataFrame:
    """Jaccard similarity of two key sets from their KMV sketches —
    the set-resemblance estimator the bottom-k family is known for
    (Broder's min-wise resemblance, generalized to k mins): take the
    bottom-k of the UNION of both sketches; every union-sketch hash
    that belongs to a set is guaranteed to be in that set's own
    bottom-k (it is among the k smallest of the union, hence among the
    k smallest of the subset), so

        Ĵ = |U_k ∩ A ∩ B| / |U_k|

    is computable from the two sketches ALONE — no rescan, no access
    to the full sets — with error ~ 1/sqrt(k). Contrast q106's HLL
    inclusion–exclusion: that estimates |A∩B| by SUBTRACTING three
    estimates, so its error scales with |A∪B| and small overlaps
    drown; the KMV ratio is a direct unbiased sample of the union.

    Returns one row: (n_union_sketch, n_both, jaccard_micro) — the
    ratio in integer micro-units, deterministic on any engine (the
    sketches are deterministic and the count arithmetic is exact).
    Both inputs must be built with the same k and hash (kmv_sketch).
    """
    union_k = kmv_merge(sketch_a, sketch_b, k=256).select("h")
    in_a = sketch_a.select(F.col("h").alias("h"), F.lit(1).alias("__a"))
    in_b = sketch_b.select(F.col("h").alias("h"), F.lit(1).alias("__b"))
    marked = (
        union_k.join(in_a, "h", "left").join(in_b, "h", "left")
    )
    return marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_union_sketch"),
        F.sum(
            F.when(F.col("__a").isNotNull() & F.col("__b").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_both"),
    ).select(
        "n_union_sketch",
        "n_both",
        F.round(F.col("n_both") / F.col("n_union_sketch") * 1_000_000)
        .cast("long")
        .alias("jaccard_micro"),
    )


def kmv_difference_estimate(
    sketch_a: DataFrame, sketch_b: DataFrame
) -> DataFrame:
    """|A \\ B| from the two KMV sketches alone — the a-not-b set
    operation that completes the sketch algebra (union = merge,
    intersection/resemblance = :func:`kmv_jaccard_estimate`,
    difference = this): "how many of this month's distinct users did
    last month NOT have", answered without rescanning either set.

    Same device as the Jaccard estimator: the bottom-k of the UNION is
    a uniform sample of A∪B computable from the member sketches alone
    (any union-sketch hash from A is inside A's own bottom-k), so the
    fraction of union-sketch members that are in A but not B estimates
    |A∖B| / |A∪B|, and scaling by the union's distinct estimate
    ((k−1)·H / h_(k), exact when the union fits in k) gives the count.
    Error ~ |A∪B|/sqrt(k). All arithmetic is exact integers except the
    two final divisions (IEEE-deterministic on exact inputs), so the
    result is engine-portable: (n_union_sketch, n_only_a,
    only_a_frac_micro, est_diff).
    """
    union_k = kmv_merge(sketch_a, sketch_b, k=256)
    in_a = sketch_a.select("h", F.lit(1).alias("__a"))
    in_b = sketch_b.select("h", F.lit(1).alias("__b"))
    marked = union_k.join(in_a, "h", "left").join(in_b, "h", "left")
    agg = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_union_sketch"),
        F.sum(
            F.when(F.col("__a").isNotNull() & F.col("__b").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_only_a"),
        F.max("h").alias("__hk"),
    )
    union_est = (
        F.when(F.col("n_union_sketch") < 256, F.col("n_union_sketch").cast("double"))
        .otherwise(
            F.round(F.lit(255.0) * F.lit(float(HASH_SPACE)) / F.col("__hk"))
        )
    )
    return agg.select(
        "n_union_sketch",
        "n_only_a",
        F.round(F.col("n_only_a") / F.col("n_union_sketch") * 1_000_000)
        .cast("long")
        .alias("only_a_frac_micro"),
        F.round(union_est * F.col("n_only_a") / F.col("n_union_sketch"))
        .cast("long")
        .alias("est_diff"),
    )
