"""Poisson bootstrap confidence intervals — THE bootstrap that works
on a cluster: classic resampling draws n rows WITH replacement per
replicate (a global operation, unshardable), while the Poisson
bootstrap gives every row an independent Poisson(1) multiplicity per
replicate — a pure MAP, exact at any scale, and the standard
big-data substitute (each replicate's size is n ± √n, which is what
makes the marginals match multinomial resampling asymptotically).

Determinism discipline: the multiplicity is NOT random here — it is
the Poisson(1) inverse CDF evaluated at an md5-derived 60-bit uniform
(the engine's portable-hash pattern), compared against PRECOMPUTED
integer thresholds floor(CDF_k · 2⁶⁰). No float appears anywhere in
the data path: the thresholds are baked literals (identical in the
oracle SQL), the comparison is integer, the per-replicate sums are
BIGINTs, and each replicate mean is one exact-multiple floor
division. Multiplicity is capped at 8 (P(X > 8 | λ=1) ≈ 1.1e-7 —
the cap is part of the contract, stated not hidden).

Scale shape: explode ×B (constant fan-out, map-side) → ONE groupBy
(group, replicate) → a (groups·B)-row table → order-statistic window
per group. Overflow: Σ m·v ≤ 8·Σ|v|, then ·1e6 in the mean — keep
total |cents| per group under ~10¹¹.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MICRO = 1_000_000

#: Poisson(1) CDF thresholds scaled to the md5 60-bit uniform domain:
#: multiplicity k for the smallest k with u_bits < floor(CDF(k)·2^60).
#: Computed once from exact-enough doubles; BAKED literals from here on.
_POIS1_THRESH: list[int] = []
_acc = 0.0
_term = math.exp(-1.0)
for _k in range(9):
    _acc += _term
    _POIS1_THRESH.append(min(2**60 - 1, int(_acc * 2**60)))
    _term /= _k + 1


def _mult_expr(ubits_sql: str) -> str:
    """SQL CASE mapping a 60-bit uniform to a Poisson(1) draw."""
    whens = " ".join(
        f"WHEN {ubits_sql} < {t} THEN {k}" for k, t in enumerate(_POIS1_THRESH)
    )
    return f"CASE {whens} ELSE 8 END"


def poisson_bootstrap_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    n_replicates: int = 32,
    alpha_bp: int = 1000,
) -> DataFrame:
    """Percentile bootstrap CI for each group's mean: ``(group, n,
    mean_micro, ci_lo_micro, ci_hi_micro, replicates)`` — micro value
    units, exact BIGINT arithmetic end to end (see module docstring).
    ``alpha_bp`` in basis points (1000 → a 90% interval). CI ranks are
    the ⌈B·α/2⌉-th smallest / largest replicate means (integer rank
    arithmetic — the q261 portability lesson)."""
    if n_replicates < 4:
        raise ValueError(
            f"poisson_bootstrap_ci: n_replicates must be >= 4, got {n_replicates}"
        )
    if not 0 < alpha_bp < 10_000:
        raise ValueError(f"alpha_bp must be in (0, 10000), got {alpha_bp}")
    B = int(n_replicates)
    from owl_etl_spark.functions.hashing import md5_long

    d = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("long").alias("__v"),
        F.col(key_col).cast("string").alias("__k"),
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    base = d.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__v").cast("long").alias("__sv"),
    )
    reps = (
        d.select("__g", "__v", "__k", F.explode(F.expr(f"sequence(0, {B - 1})")).alias("__b"))
        .withColumn(
            "__u",
            md5_long(F.concat(F.col("__k"), F.lit("#boot#"), F.col("__b").cast("string"))),
        )
        .withColumn("__m", F.expr(_mult_expr("__u")).cast("long"))
        .groupBy("__g", "__b")
        .agg(
            F.sum(F.col("__m") * F.col("__v")).cast("long").alias("__s"),
            F.sum("__m").cast("long").alias("__c"),
        )
        .select(
            "__g",
            "__b",
            F.expr(
                f"((__s * {MICRO}) - ((((__s * {MICRO}) % greatest(__c, 1))"
                " + greatest(__c, 1)) % greatest(__c, 1))) div greatest(__c, 1)"
            )
            .cast("long")
            .alias("__mean"),
        )
    )
    lo_rank = max(1, (B * int(alpha_bp)) // (2 * 10_000))
    hi_rank = B + 1 - lo_rank
    w = Window.partitionBy("__g").orderBy(F.col("__mean").asc(), F.col("__b").asc())
    ranked = reps.withColumn("__rn", F.row_number().over(w))
    lo = ranked.filter(F.col("__rn") == lo_rank).select(
        "__g", F.col("__mean").alias("ci_lo_micro")
    )
    hi = ranked.filter(F.col("__rn") == hi_rank).select(
        "__g", F.col("__mean").alias("ci_hi_micro")
    )
    return (
        base.join(lo, "__g")
        .join(hi, "__g")
        .select(
            F.col("__g").alias("group"),
            "n",
            F.expr(
                f"((__sv * {MICRO}) - ((((__sv * {MICRO}) % n) + n) % n)) div n"
            )
            .cast("long")
            .alias("mean_micro"),
            "ci_lo_micro",
            "ci_hi_micro",
            F.lit(B).cast("long").alias("replicates"),
        )
        .orderBy("group")
    )
