"""Monotone-trend inference over time series: Mann-Kendall test +
Sen's (Theil-Sen) slope.

Round-10 wave 7. The engine's change detectors so far are
shift-shaped (CUSUM, binary-segmentation change-point, PSI drift);
Mann-Kendall answers the other monitoring question — is this metric
DRIFTING MONOTONICALLY, without assuming linear-in-time Gaussian
noise — and Sen's slope gives the robust magnitude (median of all
pairwise slopes, 29.3%-breakdown, immune to the outlier days that
wreck an OLS trend line).

Caller contract: the input is ONE ROW PER TIME POINT (pre-aggregate
raw events to daily/hourly buckets first — the q148/q209 shape). The
pairwise step is series-length-bounded (n(n−1)/2 pairs of the
bucketed frame), never raw-row-volume; the guard raises past
``MAX_POINTS``.

Exactness: S and the tie-corrected 18·Var(S) are exact BIGINTs; each
pairwise Sen slope is one exact floor division (micro-units per time
step); the doubled median of slopes is the sum of the two middle
order statistics (exact — the Brown-Forsythe median device); z is
the single snapped double expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.session import seal

_M = 1_000_000
#: Longest series the pairwise Mann-Kendall/Sen statistics accept.
MAX_POINTS = 50_000


def _fd(x: str, d: str):
    """Exact floor division of BIGINT SQL fragments (the q291 device):
    Spark ``div`` == DuckDB ``//`` via the positive-mod identity."""
    return F.expr(f"(({x}) - (((({x}) % ({d})) + ({d})) % ({d}))) div ({d})")


def _guarded(col, limit: int, what: str):
    return F.when(
        col > int(limit),
        F.raise_error(
            F.concat(
                F.lit(f"{what}: exceeds bound "),
                F.lit(str(int(limit))),
                F.lit(" (pairwise series-length guard); pre-aggregate coarser"),
            )
        ).cast("long"),
    ).otherwise(col)


def mann_kendall_sen(
    df: DataFrame,
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Kendall monotone-trend test + Sen's slope over a
    (time, value) series of exact integers.

    Returns one row ``(n_points, n_pairs, s_stat, var18, z_micro,
    sen_slope2_micro)``:

    - ``s_stat`` = Σ_{i<j} sign(x_j − x_i) (exact BIGINT);
    - ``var18`` = 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) over
      value-tie blocks (exact BIGINT — emitted undivided so the
      oracle compares integers);
    - ``z_micro`` = 1e6·(S − sign(S))/√(var18/18) — the continuity-
      corrected normal score, one snapped double expression (NULL
      when var18 ≤ 0: n < 2 or all values tied);
    - ``sen_slope2_micro`` = DOUBLED median of the n(n−1)/2 pairwise
      slopes fd(1e6·(x_j − x_i), t_j − t_i) — exact micro-units per
      unit of ``t_col``; halve for the slope.

    Plan: one t<t' self-join of the bucketed frame (series-length-
    bounded — ``MAX_POINTS`` guards the caller's pre-aggregation
    contract), one global aggregate, one rank window over the pair
    frame for the median. Tie blocks ride a separate value-level
    aggregate of the same tiny frame.
    """
    d = df.select(
        F.col(t_col).cast("long").alias("__t"),
        F.col(value_col).cast("long").alias("__x"),
    ).filter(F.col("__t").isNotNull() & F.col("__x").isNotNull())
    d = seal(d, eager=False)
    base = d.groupBy().agg(F.count(F.lit(1)).cast("long").alias("__n"))
    base = base.withColumn(
        "__n", _guarded(F.col("__n"), MAX_POINTS, "mann_kendall_sen")
    )
    right = d.select(F.col("__t").alias("__t2"), F.col("__x").alias("__x2"))
    pairs = d.join(right, F.col("__t") < F.col("__t2")).select(
        F.signum((F.col("__x2") - F.col("__x")).cast("double"))
        .cast("long")
        .alias("__sgn"),
        _fd("(__x2 - __x) * 1000000", "__t2 - __t").cast("long").alias("__sl"),
    )
    w_rank = Window.orderBy(F.col("__sl").asc())
    w_all = Window.partitionBy()
    ranked = pairs.select(
        "__sgn",
        "__sl",
        F.row_number().over(w_rank).cast("long").alias("__r"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("__m"),
    )
    p1 = F.expr("(__m + 1) div 2")
    p2 = F.expr("__m div 2 + 1")
    agg = ranked.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("__sgn").cast("long").alias("s_stat"),
        F.sum(
            F.when(F.col("__r") == p1, F.col("__sl")).otherwise(0)
            + F.when(F.col("__r") == p2, F.col("__sl")).otherwise(0)
        )
        .cast("long")
        .alias("sen_slope2_micro"),
    )
    ties = (
        d.groupBy("__x")
        .agg(F.count(F.lit(1)).cast("long").alias("__tb"))
        .groupBy()
        .agg(
            F.sum(
                F.col("__tb") * (F.col("__tb") - 1) * (2 * F.col("__tb") + 5)
            )
            .cast("long")
            .alias("__tie18")
        )
    )
    g = agg.crossJoin(F.broadcast(base)).crossJoin(F.broadcast(ties))
    var18 = (
        F.col("__n") * (F.col("__n") - 1) * (2 * F.col("__n") + 5) - F.col("__tie18")
    ).cast("long")
    z = F.round(
        F.lit(float(_M))
        * (F.col("s_stat") - F.signum(F.col("s_stat").cast("double")).cast("long"))
        .cast("double")
        / F.sqrt(var18.cast("double") / 18.0)
    ).cast("long")
    return g.select(
        F.col("__n").alias("n_points"),
        "n_pairs",
        "s_stat",
        var18.alias("var18"),
        F.when(var18 > 0, z).alias("z_micro"),
        "sen_slope2_micro",
    )


def page_hinkley(
    df: DataFrame,
    t_col: str,
    value_col: str,
    lambda_micro: int | None = None,
) -> DataFrame:
    """Page-Hinkley mean-increase detector over a (time, value) series
    — the sequential drift monitor beside CUSUM (fixed reference) and
    Mann-Kendall (global trend): it tracks the cumulative deviation of
    each point from the RUNNING mean and alarms when the gap to the
    historical minimum exceeds λ. The standard online change detector
    for data-stream quality metrics.

        mean_t = (Σ_{i≤t} x_i)/t            (exact floor division, micro)
        term_t = x_t·1e6 − mean_t − δ       (exact BIGINT)
        m_t    = Σ_{i≤t} term_i             (exact running sum)
        PH_t   = m_t − min_{s≤t} m_s        (exact running min)
        alarm  = PH_t > λ                   (integer comparison)

    Returns one row per point: ``(t, x, mean_micro, m_micro,
    ph_micro, alarm)`` (alarm NULL when ``lambda_micro`` is None —
    emit the statistic, let the caller threshold).

    Everything is exact integer arithmetic — no snapping needed at
    all. Plan: two ordered windows over the series frame (caller
    pre-aggregates to time buckets — the stated series contract
    shared with mann_kendall_sen); no joins.
    """
    d = df.select(
        F.col(t_col).cast("long").alias("t"),
        F.col(value_col).cast("long").alias("x"),
    ).filter(F.col("t").isNotNull() & F.col("x").isNotNull())
    w_run = Window.orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = d.withColumn("__cs", F.sum("x").over(w_run).cast("long")).withColumn(
        "__i", F.count(F.lit(1)).over(w_run).cast("long")
    )
    d = d.withColumn("mean_micro", _fd("__cs * 1000000", "__i").cast("long"))
    d = d.withColumn(
        "__term",
        (F.col("x") * _M - F.col("mean_micro")).cast("long"),
    )
    d = d.withColumn("m_micro", F.sum("__term").over(w_run).cast("long"))
    d = d.withColumn(
        "ph_micro", (F.col("m_micro") - F.min("m_micro").over(w_run)).cast("long")
    )
    alarm = (
        F.lit(None).cast("long")
        if lambda_micro is None
        else (F.col("ph_micro") > int(lambda_micro)).cast("long")
    )
    return d.select("t", "x", "mean_micro", "m_micro", "ph_micro", alarm.alias("alarm"))
