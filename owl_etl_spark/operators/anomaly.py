"""Seasonal-baseline anomaly detection: exact per-(key, season)
mean/std profiles and per-row residual z-scores.

The monitoring pattern every event warehouse ends up hand-rolling:
"is this hour's value unusual FOR THIS HOUR OF DAY" — a flat
mean/std flags every rush hour as an anomaly, so the baseline must be
seasonal (hour-of-day, day-of-week, both). This operator takes any
caller-provided season column, so composing seasonality is a select
expression, not an operator change.

Determinism (q59's exact-variance pattern): the profile accumulates
Σv and Σv² as exact BIGINT sums of integer units (feed cents), so the
classic sum-of-squares variance is order-independent and
engine-identical — unlike built-in var_samp/stddev, whose streaming
accumulation differs per engine and partitioning. The only doubles
are the final mean/std/z divisions, rounded at 6.

Caller contract (overflow + conditioning): n·max(v²) per (key,
season) must fit BIGINT — |v| ≤ 1e6 (cents up to $10k) supports ~9e6
rows per cell; rescale coarser above that. The sum-of-squares form
loses precision when std ≪ |mean| (catastrophic cancellation in
s2 − s1²/n): with integer inputs both engines cancel IDENTICALLY, so
the gate stays exact, but z-scores of a near-constant series are
numerically meaningless — as they are statistically.

Plan shape: ONE shuffle builds the profile (keys × seasons rows — 24
per key for hour-of-day; partial aggregation collapses map-side), and
the profile broadcast-joins back to the rows. A 100 TB events table
is never shuffled row-wise: the z computation is a map expression
after the broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def seasonal_profile(
    df: DataFrame, keys: list[str], season_col: str, value_col: str
) -> DataFrame:
    """(keys..., season, n, s1, s2): the exact integer sums a seasonal
    baseline needs — mergeable across drops by adding n/s1/s2 (the
    q107 algebraic-rollup contract), so the baseline can be maintained
    incrementally."""
    v = F.col(value_col).cast("long")
    # null values must not enter n (sums skip them — counting them
    # would deflate the variance); null-valued rows still pass through
    # seasonal_zscore with a null z and a false flag
    return df.filter(v.isNotNull()).groupBy(*keys, season_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("s1"),
        F.sum(v * v).cast("long").alias("s2"),
    )


def seasonal_zscore(
    df: DataFrame,
    keys: list[str],
    season_col: str,
    value_col: str,
    profile: DataFrame | None = None,
) -> DataFrame:
    """Every input row annotated with ``z`` (residual z-score against
    its (key, season) baseline, rounded at 6; null when the cell has
    n < 2 or zero variance) and ``is_anomaly`` (|z| ≥ threshold; false
    when z is null).

    ``profile``: pass a pre-built/merged ``seasonal_profile`` to score
    a NEW drop against HISTORY's baseline (the streaming-adjacent
    form); default scores the frame against itself.
    """
    prof = profile if profile is not None else seasonal_profile(df, keys, season_col, value_col)
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    var_num = s2 - s1 * s1 / n
    z_raw = (F.col(value_col).cast("double") - s1 / n) / F.sqrt(var_num / (n - 1))
    z = F.when((F.col("n") >= 2) & (var_num > 0), F.round(z_raw, 6))
    # LEFT join: a row whose (key, season) cell is absent from the
    # profile (new drop scored against history, all-null cell, or null
    # key/season) must still come through — with null z and false flag,
    # which the n>=2 guard and the coalesce below already produce.
    return (
        df.join(F.broadcast(prof), [*keys, season_col], "left")
        .withColumn("z", z)
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("z")) >= F.lit(3.0), F.lit(False)),
        )
        .drop("n", "s1", "s2")
    )


def benford_screen(
    df: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Benford's-law first-digit screen per key group — the classic
    financial-forensics test (fabricated or systematically rounded
    amounts drift from the log-curve; the reference's FIC domain is
    exactly where auditors run this).

    Per group: observed share of each leading digit 1–9 of |value|
    (zeros excluded — no leading digit), expected share
    ``log10(1 + 1/d)``, and the mean absolute deviation (MAD of the
    distribution, the Nigrini screening statistic) in integer
    MICRO-units: ``mad_micro = round(Σ_d |obs_d − exp_d| / 9 · 1e6)``.
    Counts are exact BIGINTs; expected shares are 9 shared literals;
    the only doubles are the division per digit and the final MAD —
    identical arithmetic on any engine. ``flag`` marks groups over the
    Nigrini "nonconformity" line (MAD > 0.015) with at least 100
    values (below that the statistic is noise, flag stays false).

    Feed INTEGER units (cents): the leading digit comes from the
    decimal string of ``abs(value)`` — exact on every engine, unlike
    the float ``floor(log10)`` idiom, where libm rounding can turn
    log10(1000) into 2.999…96 and misclassify every power of ten.

    Scale: first-digit extraction is a map expression, the per-(group,
    digit) count is one map-side-combined shuffle of ≤ 9 rows per
    group per task, and the 9-row-per-group pivot is an intra-group
    aggregate. Output: one row per group (n, mad_micro, flag) plus the
    9 observed counts as a map for drill-down.
    """
    import math

    v = F.col(value_col).cast("long")
    digit = F.substring(F.abs(v).cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(v != 0)
        .groupBy(*keys, digit.alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    exp = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
    # per-group totals + per-digit deviation, one intra-group aggregate
    dev_terms = [
        F.abs(
            F.coalesce(F.sum(F.when(F.col("d") == d, F.col("c"))), F.lit(0)).cast("double")
            / F.sum("c").cast("double")
            - F.lit(exp[d])
        )
        for d in range(1, 10)
    ]
    mad = F.round(sum(dev_terms[1:], dev_terms[0]) / 9 * 1_000_000).cast("long")
    return counts.groupBy(*keys).agg(
        F.sum("c").cast("long").alias("n"),
        F.map_from_arrays(
            F.array(*[F.lit(d) for d in range(1, 10)]),
            F.array(
                *[
                    F.coalesce(F.sum(F.when(F.col("d") == d, F.col("c"))), F.lit(0)).cast("long")
                    for d in range(1, 10)
                ]
            ),
        ).alias("digit_counts"),
        mad.alias("mad_micro"),
        ((mad > 15_000) & (F.sum("c") >= 100)).alias("flag"),
    )


def hbos_scores(
    df: DataFrame,
    id_col: str,
    feature_cols: list[str],
    bins: int = 10,
) -> DataFrame:
    """Histogram-Based Outlier Score per row — the aggregate-only
    outlier detector (Goldstein & Dengel's HBOS): each integer feature
    is equal-width-binned over its [min, max] range, and a row's score
    sums the per-feature surprisal of its bin,

        score = Σ_f  −ln(count(bin_f(row)) / N)

    carried as exact micro-nats (q104's pattern: the ONLY libm call,
    ln, is snapped per term via round(ln·1e6) before any sum, so the
    BIGINT total is partition-order-independent and engine-identical).
    Returns ``df``'s id plus ``hbos_micro_nats`` (BIGINT). Higher =
    rarer bin combination. Rows never score infinity: a row's own bin
    always counts itself, so count ≥ 1.

    Binning is pure integer arithmetic — bin = (v−min)·bins div
    (max−min+1), exactly 0..bins−1 with no float boundary wobble — so
    a SQL oracle replays it verbatim. Features must be integer-valued
    (cast upstream: cents, epoch-days, hours); a constant feature puts
    every row in bin 0 and contributes a constant −ln(1) = 0-ish term
    (harmless, but callers should drop it).

    Plan shape (the 100 TB profile): one pass computes per-feature
    min/max (a single tree-reduced aggregate, driver gets 2·f
    scalars); one pass melts rows to (feature, bin) and aggregates
    frequencies — the only shuffle, output ≤ f·bins rows; the
    frequency table broadcast-joins back per feature and the score is
    a map-side expression. No per-row state, no quadratic anything;
    the melt fan-out is ×f (feature count), a constant.
    """
    if not feature_cols:
        raise ValueError("hbos_scores: need at least one feature column")
    f = len(feature_cols)
    ranges = df.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        *[
            a
            for j, c in enumerate(feature_cols)
            for a in (
                F.min(F.col(c).cast("long")).alias(f"__mn{j}"),
                F.max(F.col(c).cast("long")).alias(f"__mx{j}"),
            )
        ],
    ).collect()[0]
    n_total = ranges["__n"]
    if not n_total:
        raise ValueError("hbos_scores: empty input")
    spans = []
    for j in range(f):
        mn, mx = ranges[f"__mn{j}"], ranges[f"__mx{j}"]
        if mn is None:
            raise ValueError(
                f"hbos_scores: feature {feature_cols[j]!r} is all-null"
            )
        spans.append((mn, mx - mn + 1))

    # integer floor-div binning: exactly 0..bins-1, no float boundary
    # wobble for a SQL oracle to disagree with
    binned = df.select(
        F.col(id_col),
        *[
            F.expr(
                f"((CAST({c} AS BIGINT) - {spans[j][0]}) * {int(bins)})"
                f" div {spans[j][1]}"
            ).alias(f"__b{j}")
            for j, c in enumerate(feature_cols)
        ],
    )
    melted = binned.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("long").alias("feat"),
                        F.col(f"__b{j}").alias("bin"),
                    )
                    for j in range(f)
                ]
            )
        ).alias("fb")
    ).select("fb.feat", "fb.bin")
    freqs = melted.groupBy("feat", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    scored = binned
    for j in range(f):
        fj = freqs.filter(F.col("feat") == j).select(
            F.col("bin").alias(f"__b{j}"), F.col("cnt").alias(f"__c{j}")
        )
        scored = scored.join(F.broadcast(fj), f"__b{j}")
    surprisal = sum(
        F.round(
            F.log(F.lit(float(n_total)) / F.col(f"__c{j}").cast("double"))
            * F.lit(1_000_000.0)
        ).cast("long")
        for j in range(f)
    )
    return scored.select(F.col(id_col), surprisal.alias("hbos_micro_nats"))
