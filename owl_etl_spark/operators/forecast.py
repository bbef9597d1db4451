"""Forecast backtesting: seasonal-naive baseline + error scorecard.

Before any model earns its keep it must beat the seasonal-naive
forecast — "this period will look like the same period last season"
(today ≈ last Tuesday for daily/weekly data). This operator runs that
baseline as a BACKTEST over history and reports the standard error
scorecard per series, which is both the forecastability readout
("how predictable is this series at all") and the yardstick every
real model gets compared against (MASE's denominator is exactly this
baseline's MAE).

Semantics: periods are INTEGER buckets (epoch days, hours — caller's
grain); the forecast for period p is the actual at period p − season,
matched by an exact self-equi-join on (keys, period − season) — NOT a
lag window, which would silently misalign across gaps in the period
sequence. Only periods with both an actual and a forecast score.

Error metrics, exactly:
- mae  = Σ|a − f| / n        (numerator an exact BIGINT sum)
- bias = Σ(a − f) / n        (signed; systematic drift detector)
- smape: per-row term floor(2·10⁶·|a − f| / (|a| + |f|)) — an exact
  integer division per row (the sMAPE ratio in micro-units), summed
  as BIGINT, divided by n once. Per-row flooring makes the sum
  order-independent and engine-identical, the module-family rule
  (cf. entropy's micro-nat terms); rows with |a| + |f| = 0 (both
  zero) contribute a zero term, the conventional sMAPE(0,0) = 0.

All three are rounded at 6. Scale shape: the input should already be
one row per (keys, period) — e.g. a daily aggregate; the operator's
cost is ONE self-equi-join on (keys, shifted period) plus ONE groupBy
on the keys, both on the same key prefix so AQE can plan them
together. No window, no explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def seasonal_naive_backtest(
    df: DataFrame,
    keys: list[str],
    period_col: str,
    value_col: str,
    season: int,
) -> DataFrame:
    """Backtest the seasonal-naive forecast over ``df`` (one row per
    (keys..., period)); returns ``(*keys, n, mae, bias, smape)`` per
    key — n = matched periods, null metrics never occur (keys with
    zero matched periods emit no row). ``period_col`` must be an
    integer bucket and ``value_col`` an exact integer measure
    (cents, counts); nulls in either raise (woven guard) since a
    skipped period silently shifts every forecast that probes it.
    """
    if season < 1:
        raise ValueError(f"seasonal_naive_backtest: season must be >= 1, got {season}")
    p0 = F.col(period_col).cast("long")
    v0 = F.col(value_col).cast("long")
    bad = p0.isNull() | v0.isNull()
    p = F.when(
        bad,
        F.raise_error(
            F.lit(
                f"seasonal_naive_backtest: NULL {period_col}/{value_col} — "
                "aggregate/gap-fill to a dense integer grid first"
            )
        ).cast("long"),
    ).otherwise(p0)
    work = df.select(*keys, p.alias("__p"), v0.alias("__v"))
    actual = work.select(*keys, F.col("__p").alias("__pa"), F.col("__v").alias("__a"))
    fcst = work.select(
        *keys, (F.col("__p") + F.lit(int(season))).alias("__pa"), F.col("__v").alias("__f")
    )
    m = actual.join(fcst, [*keys, "__pa"])
    err = F.col("__a") - F.col("__f")
    aerr = F.abs(err)
    denom = F.abs(F.col("__a")) + F.abs(F.col("__f"))
    smape_term = F.when(denom > 0, F.expr("2000000 * abs(__a - __f) div (abs(__a) + abs(__f))")).otherwise(
        F.lit(0).cast("long")
    )
    g = m.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(aerr).cast("long").alias("__sae"),
        F.sum(err).cast("long").alias("__se"),
        F.sum(smape_term).cast("long").alias("__ssm"),
    )
    nd = F.col("n").cast("double")
    return g.select(
        *keys,
        F.col("n"),
        F.round(F.col("__sae").cast("double") / nd, 6).alias("mae"),
        F.round(F.col("__se").cast("double") / nd, 6).alias("bias"),
        F.round(F.col("__ssm").cast("double") / nd / 1_000_000.0, 6).alias("smape"),
    )


def _ewma_weights(alpha_num: int, alpha_den: int, window: int, scale: int = 10**6):
    """Integer EWMA weight literals w_k = round(α(1−α)^k · scale),
    k = 0..window−1, from an exact-rational α = num/den. Computed
    once driver-side; both engines consume identical literals. The
    1e6 scale (not 1e9) is an overflow budget: the row dot product
    Σ v·w then ·1e6 must stay inside BIGINT — |value| ≤ 1e5 gives
    Σ ≤ 8·10¹¹ and the scaled numerator ≤ 8·10¹⁷ (argued, not hoped);
    weights that round to 0 at this scale ARE the kernel truncation."""
    a = alpha_num / alpha_den
    return [round(a * (1 - a) ** k * scale) for k in range(window)]


def ewma_smooth(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Bounded-window EWMA smoothing per series — exponential
    smoothing is a sequential recurrence, which is exactly why most
    engines punt it to per-row loops; truncating the kernel at
    32 lags turns it into a FIXED-WEIGHT window dot product
    (the tail beyond 32 lags at α = 1/4 carries < 1e-4 of the mass —
    the truncation is the stated contract, not an approximation bug):

        s_t = fd( Σ_{k<32} w_k · y_{t−k} , Σ_{k≤t} w_k )

    with integer weight literals w_k = round(α(1−α)^k·1e6) baked
    driver-side (identical in the oracle), and the denominator using
    only the weights that actually had a lag to consume — so the
    series head is a properly-normalized partial EWMA instead of
    biased toward zero. Exact BIGINTs, one floor division per row.

    Plan: one window (collect the last 32 values) per series
    key — a single shuffle; the dot product is an intra-row fold over
    a bounded array. Returns the input columns plus ``ewma_micro``
    (micro value-units)."""
    from pyspark.sql import Window

    W = 32
    wts = _ewma_weights(1, 4, W)
    wsum_prefix = [sum(wts[: i + 1]) for i in range(W)]
    arr = ", ".join(str(w) for w in wts)
    pref = ", ".join(str(s) for s in wsum_prefix)
    win = (
        Window.partitionBy(key_col)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(-(W - 1), 0)
    )
    lagged = df.withColumn(
        "__lags", F.collect_list(F.col(value_col).cast("long")).over(win)
    )
    # __lags is oldest..newest; weight w_k applies to the k-th NEWEST
    dot = (
        f"aggregate(zip_with(reverse(__lags), slice(array({arr}), 1, size(__lags)), "
        f"(v, w) -> v * w), 0L, (acc, t) -> acc + t)"
    )
    den = f"element_at(array({pref}), size(__lags))"
    return lagged.withColumn(
        "ewma_micro",
        F.expr(
            f"((({dot}) * 1000000) - ((((({dot}) * 1000000) % ({den}))"
            f" + ({den})) % ({den}))) div ({den})"
        ).cast("long"),
    ).drop("__lags")
