"""Deterministic negative sampling for contrastive / two-tower
training — the data-generation step every retrieval or
recommendation trainer runs: for each (user, positive-item) set,
draw m items the user did NOT interact with.

RNG-based samplers are unreproducible across retries and partitions;
this one derives every draw from an md5 hash (the engine's portable-
hash discipline), so the sample is a pure function of the data — the
same negatives on every run, every partitioning, every engine, and
the whole thing replays in oracle SQL.

Scheme (rejection sampling with a fixed attempt budget):

    cand(u, t) = items[ md5(u || '#' || t) mod |items| ],  t = 0..T−1
    keep the first m DISTINCT candidates not in u's positive set
    (attempt order; T = attempts_per_negative · m)

A user whose positives cover nearly the whole item set may get fewer
than m negatives (the attempt budget is fixed precisely so the
operator stays a bounded map — documented, not padded); the output
carries the attempt index so consumers can audit density.

Scale shape: the item dictionary (dense index → item) is a broadcast
dim by definition of the use case; users explode ×T (a constant
fan-out map), the positive-set exclusion is ONE broadcast-or-shuffle
left-anti join on (user, item), and the keep-first-m is a window over
the user key — the same single shuffle the anti-join already paid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.functions.hashing import md5_long


def negative_samples(
    positives: DataFrame,
    user_col: str,
    item_col: str,
    m: int = 3,
    attempts_per_negative: int = 4,
) -> DataFrame:
    """``(user, item, attempt, neg_rank)`` — up to ``m`` deterministic
    hash-drawn negatives per user (see module docstring). ``item``
    values come from the distinct items observed in ``positives``
    (the closed-world candidate set); pass a richer catalog by
    unioning zero-weight positives upstream if needed."""
    if m < 1:
        raise ValueError(f"negative_samples: m must be >= 1, got {m}")
    T = int(attempts_per_negative) * int(m)
    pos = positives.select(
        F.col(user_col).cast("string").alias("__u"),
        F.col(item_col).cast("string").alias("__i"),
    ).filter(F.col("__u").isNotNull() & F.col("__i").isNotNull()).distinct()
    items = (
        pos.select("__i")
        .distinct()
        .withColumn(
            "__idx",
            F.row_number().over(Window.orderBy(F.col("__i").asc())) - 1,
        )
    )
    n_items = items.count()  # dictionary-sized by contract
    users = pos.select("__u").distinct()
    cands = (
        users.select(
            "__u", F.explode(F.expr(f"sequence(0, {T - 1})")).alias("attempt")
        )
        .withColumn(
            "__idx",
            md5_long(
                F.concat(
                    F.col("__u"), F.lit("#neg#"), F.col("attempt").cast("string")
                )
            )
            % F.lit(n_items),
        )
        .join(F.broadcast(items), "__idx")
    )
    # reject positives, dedup repeated draws (keep earliest attempt),
    # then keep the first m surviving candidates per user
    survived = (
        cands.join(pos, ["__u", "__i"], "left_anti")
        .groupBy("__u", "__i")
        .agg(F.min("attempt").cast("long").alias("attempt"))
    )
    wu = Window.partitionBy("__u").orderBy(F.col("attempt").asc(), F.col("__i").asc())
    return (
        survived.withColumn("neg_rank", F.row_number().over(wu).cast("long"))
        .filter(F.col("neg_rank") <= int(m))
        .select(
            F.col("__u").alias("user"),
            F.col("__i").alias("item"),
            "attempt",
            "neg_rank",
        )
    )
