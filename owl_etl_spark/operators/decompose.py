"""Classical seasonal decomposition (trend + seasonal + residual) on
a regular integer time grid.

The STL-family readout ("is Tuesday always low, or is this drop
real?") decomposed the moving-average way — the textbook additive
method, chosen over loess because every step is expressible as exact
integer window arithmetic and therefore oracle-checkable:

  trend(t)    = centered moving average over one full period
                (emitted only when ALL period points are present — a
                partial window would alias trend into seasonality)
  seasonal(s) = mean of the detrended values at phase s within key
  residual    = value − trend − seasonal

Determinism discipline: values enter as integer cents and every mean
is an integer division with a +OFFSET·n shift so the numerator stays
non-negative (Spark ``div`` truncates toward zero while other
engines' ``//`` floors — identical only on non-negative operands,
the q159 offset trick). Doubles never appear.

Scale shape: the trend pass is ONE shuffle on the keys (a RANGE
window over the integer day, so gaps disable — never corrupt — the
trend); the seasonal pass is a window over (keys, phase) — a second
exchange whose width is bounded by keys×period. No joins, no
iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: shift making integer-division numerators non-negative; bounds
#: |Σ detrended_micro| per group at 10^17 (≈ 10^11 cents of drift)
_OFFSET = 10**17


def seasonal_decompose(
    df: DataFrame,
    keys: list[str],
    day_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Additive decomposition of a per-key daily integer series:
    ``(keys..., day, phase, value_micro, trend_micro, seasonal_micro,
    residual_micro)``.

    ``day_col`` is an integer grid index (epoch-day); ``value_col``
    integer cents, at most ONE row per (keys, day) — aggregate
    upstream. ``period`` must be odd (a centered window needs a
    middle). Trend/residual are null at series edges and around gaps
    (fewer than ``period`` grid points in the centered RANGE window);
    seasonal is null for phases whose every occurrence lacks a trend.
    """
    if period < 3 or period % 2 == 0:
        raise ValueError(
            f"seasonal_decompose: period must be an odd integer >= 3, got {period}"
        )
    half = (period - 1) // 2
    d = df.select(
        *keys,
        F.col(day_col).cast("long").alias("day"),
        (F.col(value_col).cast("long") * 10000).alias("__vm"),
    ).where(F.col(day_col).isNotNull())
    w_tr = (
        Window.partitionBy(*keys).orderBy("day").rangeBetween(-half, half)
    )
    staged = d.select(
        *keys,
        "day",
        (F.col("day") % period).alias("phase"),
        "__vm",
        F.when(
            F.count("__vm").over(w_tr) == period,
            F.expr(
                f"(sum(__vm) OVER (PARTITION BY {', '.join(keys)} ORDER BY day "
                f"RANGE BETWEEN {half} PRECEDING AND {half} FOLLOWING) "
                f"+ {_OFFSET} * {period}) div {period} - {_OFFSET}"
            ),
        ).alias("trend_micro"),
    )
    detr = staged.withColumn(
        "__detr", F.col("__vm") - F.col("trend_micro")
    )
    w_ph = Window.partitionBy(*keys, "phase")
    out = detr.select(
        *keys,
        "day",
        "phase",
        F.col("__vm").alias("value_micro"),
        "trend_micro",
        F.sum("__detr").over(w_ph).alias("__ds"),
        F.count("__detr").over(w_ph).alias("__dn"),
    ).withColumn(
        "seasonal_micro",
        F.expr(f"CASE WHEN __dn > 0 THEN (__ds + {_OFFSET} * __dn) div __dn - {_OFFSET} END"),
    )
    return out.select(
        *keys,
        "day",
        "phase",
        "value_micro",
        "trend_micro",
        "seasonal_micro",
        (
            F.col("value_micro") - F.col("trend_micro") - F.col("seasonal_micro")
        ).alias("residual_micro"),
    )


def seasonal_strength_report(
    df: DataFrame,
    key_col: str,
    day_col: str,
    value_col: str,
) -> DataFrame:
    """Trend and seasonal STRENGTH per series (Hyndman-style
    F_trend = max(0, 1 − Var(R)/Var(T+R)), F_seas = max(0,
    1 − Var(R)/Var(S+R))) on top of the q188 moving-average
    decomposition — the ONE-ROW-PER-SERIES health readout that tells
    a pipeline which series are forecastable at all before it spends
    model budget on them.

    Exact arithmetic: the decomposition reuses q188's integer micro
    components (centered MA trend over a 7-day period with exact
    floor-div, phase means likewise); variances are computed from
    exact BIGINT sums of squares via Var = (nΣx² − (Σx)²)/n² in
    DOUBLE only at the final ratio, rounded at 6 — sums of squares of
    micro values overflow BIGINT past ~3·10³ points·(10⁹ micro)², so
    values feed as plain integer units here (cents), documented.
    Rows where the trend window is incomplete (series edges) are
    excluded from all three variances alike, so the strengths compare
    like with like. Returns ``(key, n_used, f_trend, f_seasonal)``."""
    from pyspark.sql import Window

    half = 3
    d = df.select(
        F.col(key_col).alias("__k"),
        F.col(day_col).cast("long").alias("__d"),
        F.col(value_col).cast("long").alias("__v"),
    ).filter(F.col("__k").isNotNull() & F.col("__d").isNotNull() & F.col("__v").isNotNull())
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__d").asc())
        .rowsBetween(-half, half)
    )
    fd = lambda x, dv: f"(({x}) - (((({x}) % ({dv})) + ({dv})) % ({dv}))) div ({dv})"
    t = (
        d.withColumn("__cnt", F.count(F.lit(1)).over(w))
        .withColumn("__sum", F.sum("__v").over(w))
        .filter(F.col("__cnt") == 7)
        .withColumn("__trend", F.expr(fd("__sum", "7")).cast("long"))
        .withColumn("__detr", F.col("__v") - F.col("__trend"))
        .withColumn("__ph", F.pmod(F.col("__d"), F.lit(7)))
    )
    wp = Window.partitionBy("__k", "__ph")
    s = (
        t.withColumn("__pn", F.count(F.lit(1)).over(wp))
        .withColumn("__ps", F.sum("__detr").over(wp))
        .withColumn("__seas", F.expr(fd("__ps", "__pn")).cast("long"))
        .withColumn("__resid", F.col("__detr") - F.col("__seas"))
    )

    def var_cols(col: str, pre: str):
        return [
            F.sum(F.col(col)).cast("long").alias(f"{pre}s"),
            F.sum(F.col(col) * F.col(col)).cast("long").alias(f"{pre}ss"),
        ]

    agg = s.groupBy(F.col("__k").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        *var_cols("__resid", "r"),
        *var_cols("__detr", "d"),
        F.sum(F.col("__trend") + F.col("__resid")).cast("long").alias("ts"),
        F.sum(
            (F.col("__trend") + F.col("__resid"))
            * (F.col("__trend") + F.col("__resid"))
        )
        .cast("long")
        .alias("tss"),
    )
    var = lambda ss, sm: (
        F.col(ss).cast("double") * F.col("n_used") - F.col(sm).cast("double") * F.col(sm)
    )

    # a zero denominator means the component being explained has no
    # variance at all — strength is 0 by definition (nothing to
    # explain), not a division error
    def strength(den_ss: str, den_s: str):
        return F.round(
            F.when(
                var(den_ss, den_s) != 0,
                F.greatest(
                    F.lit(0.0), F.lit(1.0) - var("rss", "rs") / var(den_ss, den_s)
                ),
            ).otherwise(F.lit(0.0)),
            6,
        )

    return agg.select(
        "key",
        "n_used",
        strength("tss", "ts").alias("f_trend"),
        strength("dss", "ds").alias("f_seasonal"),
    ).orderBy("key")
