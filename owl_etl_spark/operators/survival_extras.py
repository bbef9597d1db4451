"""Restricted mean survival time (RMST) on top of the Kaplan-Meier
curve.

Round-10 wave 11. The KM curve (``survival.km_survival``) answers
"what fraction survives past t"; RMST answers the budget question —
"how much lifetime does a subject accrue, on average, in the first τ
units" — as the area under the KM step function up to τ. The
recommended effect scale when proportional hazards fails (where the
Cox HR of the q305 family stops being interpretable).

Exactness: event times are exact integers, so every step width is an
exact BIGINT; each step's area contribution is ONE snapped double
expression round(1e6·S(tᵢ)·width) of the engine-exact KM survival
(itself deterministic via the micro-nat log-sum device), summed
exactly; the pre-first-event segment at S = 1 is pure integer.

Plan: the KM curve's single shuffle + one lead window over the
event-time frame + one global aggregate — no joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.operators.survival import km_survival
from owl_etl_spark.session import seal

_M = 1_000_000


def rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    tau: int,
) -> DataFrame:
    """Area under the KM curve on [0, τ] for integer durations.

    Returns one row ``(tau, n_steps, rmst_micro)``:
    rmst = min(t₁, τ)·1 (the all-alive head segment) +
    Σ_{tᵢ<τ} S(tᵢ)·(min(tᵢ₊₁, τ) − tᵢ) with tᵢ₊₁ = τ for the last
    step (right-continuous step convention: the curve value AT tᵢ
    holds on [tᵢ, tᵢ₊₁)).

    ``tau`` must be positive; rmst is NULL on an empty frame.
    """
    if int(tau) <= 0:
        raise ValueError("rmst: tau must be positive")
    curve = km_survival(df, duration_col, event_col, keys=[])
    w = Window.orderBy(F.col("t").asc())
    c2 = curve.select(
        "t",
        "km_survival",
        F.lead("t").over(w).alias("__nt"),
    )
    width = (
        F.least(F.coalesce(F.col("__nt"), F.lit(int(tau))), F.lit(int(tau)))
        - F.col("t")
    ).cast("double")
    seg = F.when(
        F.col("t") < int(tau),
        F.round(F.lit(float(_M)) * F.col("km_survival") * width).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    g = c2.withColumn("__seg", seg).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        F.sum("__seg").cast("long").alias("__ssum"),
        F.min("t").cast("long").alias("__t0"),
    )
    head = F.least(F.col("__t0"), F.lit(int(tau))) * _M
    return g.select(
        F.lit(int(tau)).cast("long").alias("tau"),
        "n_steps",
        F.when(F.col("n_steps") > 0, (head + F.col("__ssum")).cast("long")).alias(
            "rmst_micro"
        ),
    )


def concordance_index(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    risk_col: str,
) -> DataFrame:
    """Harrell's C-index — the rank-discrimination metric for a
    survival risk score (the eval that belongs next to the Cox fit
    and the KM curves): among comparable pairs (i, j) with
    tᵢ < tⱼ and subject i's event OBSERVED, how often does the score
    rank i riskier? Risk ties count half; time-tied pairs are not
    comparable (the standard Harrell convention, stated).

    ``risk_col`` must be an exact integer score (bucket a continuous
    score first — the distinct-value-frame contract shared with
    KS/MWU/KW/JT).

    Returns one row ``(n, n_events, comparable_pairs, concordant,
    risk_ties, c_index_micro)`` with
    c = (concordant + ties/2)/comparable as an exact floor division
    of BIGINTs (NULL when nothing is comparable).

    Plan: one (t, risk) aggregate, a densified (distinct t × distinct
    risk) grid with per-risk running counts (the Jonckheere grid
    device — NEVER subject-pair volumes), two windows, one global
    aggregate.
    """
    d = df.select(
        F.col(duration_col).cast("long").alias("__t"),
        F.col(event_col).cast("long").alias("__e"),
        F.col(risk_col).cast("long").alias("__r"),
    ).filter(
        F.col("__t").isNotNull() & F.col("__e").isNotNull() & F.col("__r").isNotNull()
    )
    per = d.groupBy("__t", "__r").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum((F.col("__e") == 1).cast("long")).cast("long").alias("__nev"),
    )
    per = seal(per, eager=False)
    all_t = per.select("__t").distinct()
    all_r = per.select("__r").distinct()
    grid = all_t.crossJoin(F.broadcast(all_r)).join(
        per, ["__t", "__r"], "left"
    ).select(
        "__t",
        "__r",
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("__n"),
        F.coalesce(F.col("__nev"), F.lit(0)).cast("long").alias("__nev"),
    )
    # suffix count per (t, r): subjects with a STRICTLY LATER time in
    # this risk bucket = bucket total - running count through t
    w_time = (
        Window.partitionBy("__r")
        .orderBy(F.col("__t").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bucket = Window.partitionBy("__r")
    grid = grid.withColumn(
        "__suffix",
        (F.sum("__n").over(w_bucket) - F.sum("__n").over(w_time)).cast("long"),
    )
    # within each time, cumulative suffix over STRICTLY LOWER risks
    w_risk_lt = (
        Window.partitionBy("__t")
        .orderBy(F.col("__r").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_t_all = Window.partitionBy("__t")
    grid = grid.withColumn(
        "__suffix_lt", F.coalesce(F.sum("__suffix").over(w_risk_lt), F.lit(0)).cast("long")
    ).withColumn("__suffix_all", F.sum("__suffix").over(w_t_all).cast("long"))
    g = grid.groupBy().agg(
        F.sum("__n").cast("long").alias("n"),
        F.sum("__nev").cast("long").alias("n_events"),
        F.sum(F.col("__nev") * F.col("__suffix_all")).cast("long").alias("comparable_pairs"),
        F.sum(F.col("__nev") * F.col("__suffix_lt")).cast("long").alias("concordant"),
        F.sum(F.col("__nev") * F.col("__suffix")).cast("long").alias("risk_ties"),
    )
    c_micro = F.expr(
        "(((2 * concordant + risk_ties) * 1000000)"
        " - (((((2 * concordant + risk_ties) * 1000000) % (2 * comparable_pairs))"
        " + (2 * comparable_pairs)) % (2 * comparable_pairs)))"
        " div (2 * comparable_pairs)"
    )
    return g.select(
        "n",
        "n_events",
        "comparable_pairs",
        "concordant",
        "risk_ties",
        F.when(F.col("comparable_pairs") > 0, c_micro.cast("long")).alias(
            "c_index_micro"
        ),
    )
