"""Pro-rata allocation with largest-remainder rounding.

Splitting an integer budget (ad spend cents, sample-row quotas, token
budgets) across groups proportional to integer weights, such that the
allocations are integers and sum EXACTLY to the budget — the
largest-remainder (Hamilton) method. Floating-point shares cannot
guarantee the conservation property; this is pure BIGINT arithmetic:

    floor_i = total·w_i div W,   rem_i = total·w_i mod W
    leftover = total − Σ floor_i   (< number of groups)
    alloc_i = floor_i + 1 for the `leftover` largest rem_i
              (ties broken by key ascending), else floor_i.

Plan shape: the input is one row per group (post-aggregation, so
orders of magnitude smaller than the fact table that produced the
weights); two tiny single-row aggregates are broadcast back, and the
remainder rank is one window over the group table. Exactness bound
(ANSI mode hard-errors rather than wraps): needs total·W < 2^63.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def largest_remainder_allocate(
    df: DataFrame,
    keys: list[str],
    weight_col: str,
    total: int,
) -> DataFrame:
    """Allocate ``total`` integer units across the rows of ``df``
    (one row per group) proportional to BIGINT ``weight_col``.

    Returns the input keys + weight + ``alloc``; Σ alloc == total
    exactly. Null or negative weights raise (a weight is a claim about
    proportion — dropping or clamping it silently corrupts every other
    group's share); zero weights are allowed and get floor 0, winning
    a remainder unit only after every positive remainder. An all-zero
    weight total with a positive budget raises (no proportional split
    exists, and the remainder rule would silently under-allocate).
    """
    if total < 0:
        raise ValueError(f"largest_remainder_allocate: total must be >= 0, got {total}")
    w = F.col(weight_col).cast("long")
    guarded = F.when(w.isNull() | (w < 0), F.raise_error(
        F.concat(F.lit(f"largest_remainder_allocate: null/negative {weight_col}: "),
                 F.coalesce(w.cast("string"), F.lit("null"))))).otherwise(w)
    d = df.select(*keys, guarded.alias("__w"))
    # Everything below is computed over the (small, post-aggregation)
    # group table with GLOBAL windows — one linear plan, no joins, no
    # self-referencing lineage. W = Σw, floor, remainder, leftover and
    # the remainder rank are each one window/projection step.
    w_all = Window.partitionBy(F.lit(1))
    t = F.lit(int(total)).cast("long")
    d = d.withColumn("__tot", F.sum("__w").over(w_all).cast("long"))
    # The overflow guard multiplies into __floor so it cannot be
    # column-pruned away: total·w_i <= total·W, so checking
    # total <= (2^63-1) div W once per row covers every product.
    # W == 0 with a positive total also raises: there is no
    # proportional split of a positive budget over zero total weight,
    # and the +1-per-rank remainder rule could hand out at most one
    # unit per group — silently under-allocating instead of erroring.
    ok = F.when(
        F.expr(f"__tot > 0 AND {int(total)}L > 9223372036854775807L div __tot"),
        F.raise_error(F.lit("largest_remainder_allocate: total*W overflows BIGINT")).cast("long"),
    ).when(
        F.expr(f"__tot = 0 AND {int(total)}L > 0L"),
        F.raise_error(F.lit("largest_remainder_allocate: positive total with zero total weight")).cast("long"),
    ).otherwise(F.lit(1).cast("long"))
    with_floor = d.withColumn(
        "__floor",
        (ok * F.expr(f"CASE WHEN __tot > 0 THEN ({int(total)} * __w) div __tot ELSE 0 END")).cast("long"),
    ).withColumn("__rem", F.expr(f"CASE WHEN __tot > 0 THEN ({int(total)} * __w) % __tot ELSE 0 END").cast("long"))
    rk = Window.orderBy(F.col("__rem").desc(), *[F.col(k).asc() for k in keys])
    return (
        with_floor.withColumn("__left", (t - F.sum("__floor").over(w_all)).cast("long"))
        .withColumn("__rk", F.row_number().over(rk))
        .select(
            *keys,
            F.col("__w").alias(weight_col),
            (F.col("__floor") + F.when(F.col("__rk") <= F.col("__left"), F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("alloc"),
        )
    )
