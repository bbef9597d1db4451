"""Skew diagnostics: per-key row-count reports that predict straggler
tasks before a join or aggregation on the key.

AQE's skew-join splitting handles most runtime skew; these reports
show when one key holds so large a fraction of the rows that a single
task would still be overwhelmed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skew_report(df: DataFrame, key: str) -> DataFrame:
    """Key-distribution diagnostics ahead of a join/agg on ``key``:
    one row with key cardinality, max/avg per-key row counts, and the
    skew ratio (max/avg) that predicts straggler tasks. Two-level
    aggregation — per-key counts (one shuffle), then a global
    single-row reduce. At 100 TB run it on a hash-sampled subset
    (``split.hash_bucket``); the ratio estimate is unbiased for heavy keys."""
    per_key = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_rows"),
        F.round(F.sum("n") / F.count(F.lit(1)), 4).alias("avg_rows"),
        F.round(F.max("n") / (F.sum("n") / F.count(F.lit(1))), 4).alias("skew_ratio"),
    )


def key_skew_report(
    df: DataFrame,
    keys: list[str],
    top_n: int = 10,
) -> DataFrame:
    """One-row skew diagnosis of a prospective shuffle key:
    ``(n_keys, n_rows, max_count, mean_micro, p50, p90, p99,
    top_share_micro)`` — exact per-key counts, nearest-rank
    percentiles of the count distribution, and the row share held by
    the ``top_n`` hottest keys. The operational pre-check before
    choosing a groupBy/join key at 100 TB: max_count IS the largest
    task a keyed shuffle will build, and top_share_micro says whether
    salting (this module) or a bounded-expansion rewrite (q29/q34
    guards, fifo/attribution bucketing) is warranted.

    Determinism: counts exact BIGINTs; percentiles are nearest-rank
    over DISTINCT count values (q100's integer ceil rule); the top-N
    sum is tie-proof (boundary ties share the same count value, so
    whichever keys the heap keeps, the SUM is identical — no
    tiebreak column needed). Plan: one keyed groupBy, a cum window
    over |distinct count values| (tiny), a TakeOrderedAndProject heap
    for the top-N — no global sort over the keys.
    """
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    stats = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("__n").cast("long").alias("n_rows"),
        F.max("__n").cast("long").alias("max_count"),
    )
    from pyspark.sql import Window

    vals = counts.groupBy("__n").agg(F.count(F.lit(1)).alias("__c"))
    w = Window.orderBy("__n").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = vals.withColumn("__cum", F.sum("__c").over(w)).crossJoin(
        F.broadcast(stats.select("n_keys"))
    )
    pcts = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("__cum") >= F.expr(f"({q} * n_keys + 99) div 100"),
                    F.col("__n"),
                )
            ).alias(f"p{q}")
            for q in (50, 90, 99)
        ]
    )
    tops = (
        counts.orderBy(F.col("__n").desc())
        .limit(int(top_n))
        .agg(F.sum("__n").cast("long").alias("__top"))
    )
    return (
        stats.crossJoin(F.broadcast(pcts))
        .crossJoin(F.broadcast(tops))
        .select(
            "n_keys",
            "n_rows",
            "max_count",
            F.expr("n_rows * 1000000 div n_keys").alias("mean_micro"),
            "p50",
            "p90",
            "p99",
            F.expr("__top * 1000000 div n_rows").alias("top_share_micro"),
        )
    )
