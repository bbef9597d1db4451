"""Cross-correlation between two aligned series at signed lags.

``cross_correlation`` computes, per key, the Pearson correlation of
(x_t, y_{t+k}) for every lag k in [−max_lag, +max_lag] — the
"does metric A lead metric B" detector (a spike of xcorr at k = +2
means x moves two steps before y does) behind campaign-to-purchase
lag measurement, cascading-failure triage and feature/target lead
screening. The single-series version is ``autocorrelation_report``
(operators/resample.py:376); this is its two-channel sibling and
follows the identical numeric discipline: exact BIGINT moment sums
(n', Σx, Σy, Σx², Σy², Σxy over the overlapping support —
order-independent, engine-exact), only the final division in double,
rounded at 6, with the same overflow contract
(n·max|v| < 3.03e9 — feed coarse integer units for long series).

Plan: ONE window pass materializes all 2·max_lag shifted columns on
one keyed sort, then one aggregate per lag — no joins, no
re-shuffle per lag. Rows must carry BOTH channels already aligned on
the order column (pre-aggregate to the common grid upstream; missing
grid slots simply shorten the overlap, they do not misalign it —
both engines see the same row adjacency).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cross_correlation(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    x_col: str,
    y_col: str,
    max_lag: int = 3,
) -> DataFrame:
    """Per key and lag k in [−max_lag, +max_lag]:
    ``(keys..., lag, n_pairs, xcorr)`` — the correlation of
    (x_t, y_{t+k}) over rows where both ends are present (a null on
    either end excludes the pair from n_pairs AND the sums — the
    autocorrelation_report contract). Positive lag = x leads y.
    Constant-x or constant-y support yields a null xcorr.
    """
    if max_lag < 0:
        raise ValueError(f"cross_correlation: max_lag must be >= 0, got {max_lag}")
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    work = df.select(
        *keys,
        F.col(order_col),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    )
    lags = list(range(-int(max_lag), int(max_lag) + 1))
    for k in lags:
        # y_{t+k}: lead for positive k, lag for negative k
        work = work.withColumn(f"__yk_{k + max_lag}", F.lag(F.col("__y"), -k).over(w))
    frames = []
    for k in lags:
        x = F.col("__x")
        y = F.col(f"__yk_{k + max_lag}")
        pairs = work.filter(x.isNotNull() & y.isNotNull())
        agg = pairs.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
            F.sum(x * y).alias("sxy"),
        )
        n = F.col("n_pairs")
        dxx = n * F.col("sxx") - F.col("sx") * F.col("sx")
        dyy = n * F.col("syy") - F.col("sy") * F.col("sy")
        dxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
        r = F.when(
            (dxx > 0) & (dyy > 0),
            F.round(
                dxy.cast("double") / F.sqrt(dxx.cast("double") * dyy.cast("double")), 6
            ),
        )
        frames.append(
            agg.select(
                *keys, F.lit(k).cast("int").alias("lag"), "n_pairs", r.alias("xcorr")
            )
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out
