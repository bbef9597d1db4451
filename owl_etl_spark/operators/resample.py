"""Time-series resampling: gap-filling to a regular grid and
time-range rolling aggregates.

The reference's only time axis is a monthly folder convention
(src/etl/load.py:56-62); a telemetry/training pipeline needs dense
regular series (models hate missing buckets) and trailing-window
features. Both are expressed with built-in Catalyst operators:

- ``gap_fill``: per-key `sequence()` + `explode` builds the dense
  grid (rows proportional to keys x buckets, generated distributed —
  never on the driver), then a left join pins observed values. The
  join key is (key, bucket): with AQE on, the observed side is
  usually the small side and broadcasts.
- ``rolling_time_agg``: a RANGE window over integer epoch seconds —
  one shuffle on the partition key, peers at the same timestamp are
  all included, so results are deterministic under any tie order.

Epoch math is `timestampdiff` against the NTZ epoch: timezone-proof
(identical on any session TZ) and identical to UTC-naive engines'
``epoch_us // 1e6`` floor semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def epoch_seconds(ts_col: str) -> Column:
    """Floor epoch seconds, timezone-independent for NTZ timestamps."""
    return F.expr(f"timestampdiff(SECOND, {_EPOCH}, {ts_col})")


def gap_fill(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Dense per-key time grid with zero-filled counts.

    Buckets ``ts_col`` to the hour, aggregates per (keys,
    bucket), then explodes ``sequence(min_bucket, max_bucket, interval 1 hour)``
    per key and left-joins the observed aggregates back; missing
    buckets get ``n = 0`` (other aggregates stay null — the caller
    coalesces to a domain-correct default). Each key spans only its
    own [min, max] — the grid never extrapolates.
    """
    aggs = aggs or {}
    b = F.date_trunc("hour", F.col(ts_col)).alias("bucket")
    observed = df.groupBy(*keys, b).agg(
        F.count(F.lit(1)).alias("n"), *[c.alias(a) for a, c in aggs.items()]
    )
    grid = (
        df.groupBy(*keys)
        .agg(
            F.date_trunc("hour", F.min(ts_col)).alias("__lo"),
            F.date_trunc("hour", F.max(ts_col)).alias("__hi"),
        )
        .select(
            *keys,
            F.explode(F.expr("sequence(__lo, __hi, interval 1 hour)")).alias("bucket"),
        )
    )
    joined = grid.join(observed, [*keys, "bucket"], "left")
    return joined.withColumn("n", F.coalesce(F.col("n"), F.lit(0)).cast("long"))


def rolling_time_agg(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    aggs: dict[str, Column],
) -> DataFrame:
    """Trailing time-range aggregates: for every row, ``aggs`` over
    the key's rows in ``[ts - 3600 s, ts]``.

    RANGE (not ROWS) framing over integer epoch seconds: all rows at
    the same second are peers and always co-included, making the
    result independent of intra-second ordering — required for
    cross-run reproducibility. One shuffle on ``keys``.
    """
    sec = epoch_seconds(ts_col)
    w = (
        Window.partitionBy(*keys)
        .orderBy(sec.alias("__sec"))
        .rangeBetween(-3600, 0)
    )
    out = df
    for name, col in aggs.items():
        out = out.withColumn(name, col.over(w))
    return out


def interpolate_linear(
    df: DataFrame,
    keys: list[str],
    bucket_col: str,
    value_col: str,
    out_col: str = "value_interp",
) -> DataFrame:
    """Linear interpolation of missing (null) values on a per-key time
    grid — the standard densify step after :func:`gap_fill` (models
    want a value in every bucket, not a null).

    For each null row, finds the nearest non-null neighbors before and
    after (two ``last/first IGNORE NULLS`` window passes over ONE
    shuffle on ``keys``) and fills
    ``prev + (next - prev) * (t - t_prev) / (t_next - t_prev)``
    with epoch-microsecond time deltas. Leading/trailing nulls (no
    neighbor on one side) fall back to the available side
    (nearest-value extrapolation); observed rows pass through exactly.

    The fill expression is written in one fixed evaluation order so
    IEEE double arithmetic reproduces bit-identically on any engine —
    the interpolated report hash-matches an ANSI
    ``last_value IGNORE NULLS`` oracle.
    """
    us = F.expr(f"timestampdiff(MICROSECOND, {_EPOCH}, {bucket_col})")
    base = df.withColumn("__us", us)
    wb = (
        Window.partitionBy(*keys)
        .orderBy("__us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(*keys)
        .orderBy("__us")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    marked = (
        base.withColumn("__pv", F.last(v, ignorenulls=True).over(wb))
        .withColumn("__pt", F.last(F.when(v.isNotNull(), F.col("__us")), ignorenulls=True).over(wb))
        .withColumn("__nv", F.first(v, ignorenulls=True).over(wf))
        .withColumn("__nt", F.first(F.when(v.isNotNull(), F.col("__us")), ignorenulls=True).over(wf))
    )
    frac = (F.col("__us") - F.col("__pt")).cast("double") / (
        F.col("__nt") - F.col("__pt")
    ).cast("double")
    interp = F.col("__pv") + (F.col("__nv") - F.col("__pv")) * frac
    filled = (
        F.when(v.isNotNull(), v.cast("double"))
        .when(F.col("__pv").isNull(), F.col("__nv").cast("double"))
        .when(F.col("__nv").isNull(), F.col("__pv").cast("double"))
        .otherwise(interp)
    )
    return marked.withColumn(out_col, filled).drop("__us", "__pv", "__pt", "__nv", "__nt")


def cumulative_compound(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    return_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Running COMPOUNDED return per key: ``Π (1 + r_i) − 1`` over the
    key's rows in ``order_col`` order — the fund-performance
    calculation behind every NAV/rentabilidad series (the reference's
    domain: its P6 return fields are per-period percentages that only
    mean anything compounded; src/etl/transform.py normalizes them but
    never composes them).

    Multiplicative running aggregates have no builtin; the right
    distributed form is ``exp(Σ ln(1+r))`` — and to make the running
    product EXACTLY reproducible (window prefix sums of doubles depend
    on accumulation order), each term's log is snapped to integer
    MICRO-nats first (the q104 trick): the prefix sum is then exact
    BIGINT arithmetic, and one exp per row converts back. One shuffle
    on ``keys``; ROWS-framed running sum; ties broken by
    ``tiebreak_col`` for a total order. Requires ``1 + r > 0``
    (returns below −100% are data errors upstream)."""
    order = [F.col(order_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    log_micro = F.round(
        F.log(F.lit(1.0) + F.col(return_col)) * 1_000_000
    ).cast("long")
    total = F.sum(log_micro).over(w)
    return df.withColumn(
        "compounded",
        F.round(F.exp(total.cast("double") / 1_000_000) - 1.0, 6),
    )


def ewma_weights(alpha: float, lags: int) -> list[int]:
    """The truncated-EWMA weight ladder as INTEGER micro-unit
    literals: ``w_j = round(alpha·(1-alpha)^j · 1e6)`` for j = 0..
    lags-1. Both the Spark expression and any SQL oracle bake in the
    same literals, so the smoothing is engine-exact by construction —
    the same pinning trick as the ANN centroids/codebooks."""
    if not (0 < alpha <= 1):
        raise ValueError(f"ewma_weights: need 0 < alpha <= 1, got {alpha!r}")
    if lags < 1:
        raise ValueError(f"ewma_weights: need lags >= 1, got {lags!r}")
    return [int(round(alpha * (1 - alpha) ** j * 1_000_000)) for j in range(lags)]


def ewma(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.25,
    lags: int = 16,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Truncated exponentially weighted moving average per key, in
    EXACT integer arithmetic — the reproducible form of the classic
    recursive EWMA.

    The recursion ``e_t = α·x_t + (1-α)·e_(t-1)`` is inherently
    sequential (engine- and partitioning-hostile); truncating at
    ``lags`` terms makes it a windowed weighted sum,

        e_t = Σ_{j<lags} w_j · x_(t-j) / Σ_{j<lags, present} w_j ,

    with the integer ``ewma_weights`` ladder and renormalization over
    the lags actually present (series heads use the partial ladder —
    no warm-up bias, no sentinel initialization). With α=0.25, 16 lags
    the dropped tail carries (1-α)^16 ≈ 1% of the mass — below the
    noise of any downstream use; raise ``lags`` to taste (cost is one
    more ``lag()`` column each, still ONE window pass, one shuffle on
    the keys).

    Feed integer units (cents): every product is w_j (≤ 1e6) times a
    value, summed over ≤ lags terms — BIGINT-safe for |value| up to
    ~5.7e11 at 16 lags. Only the final division is double, rounded at
    6. ``tiebreak_col`` makes the ordering total under ``order_col``
    ties (same contract as ``cumulative_compound``)."""
    from pyspark.sql import Window

    ws = ewma_weights(alpha, lags)
    order = [F.col(order_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    v = F.col(value_col).cast("long")
    num = None
    den = None
    for j, wt in enumerate(ws):
        xj = v if j == 0 else F.lag(v, j).over(w)
        term = F.when(xj.isNotNull(), xj * F.lit(wt)).otherwise(F.lit(0))
        mass = F.when(xj.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = term if num is None else num + term
        den = mass if den is None else den + mass
    # den == 0 (current value AND all in-window lags null) must yield
    # NULL, not the NaN that 0.0/0.0 would produce — NaN is a different
    # value from null to every consumer (and to the oracle hash).
    return df.withColumn(
        "ewma",
        F.when(den > 0, F.round(num.cast("double") / den.cast("double"), 6)),
    )


def time_weighted_avg(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key time-weighted average (TWAP): each observation HOLDS
    until the next one, so irregular sampling doesn't bias the mean
    toward chatty periods (the plain AVG failure mode on event data):

        twap = Σ v_i · (t_(i+1) − t_i)  /  (t_last − t_first)

    over hold intervals in whole SECONDS (the final observation holds
    nothing). Exact shape: one ``lead()`` window (shuffle on the keys)
    + one aggregate; products are cents × seconds in BIGINT — safe for
    |v| ≤ 1e6 cents over a ~30-year span per key. The division is the
    only double, rounded at 6.

    Output: one row per key group — ``n_obs``, ``span_s``, ``twap``
    (null when a key has < 2 observations: zero holding time)."""
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    dt = dict(df.dtypes)[ts_col]
    if dt == "timestamp_ntz":
        # NTZ has no cast-to-long and no unix_timestamp: rebuild the
        # epoch via timestampdiff (TZ-independent — the q108 trick)
        secs = F.expr(
            f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
        )
    elif dt == "timestamp":
        secs = F.unix_timestamp(F.col(ts_col))
    else:
        # numeric columns are taken as epoch SECONDS as-is
        secs = F.col(ts_col).cast("long")
    v = F.col(value_col).cast("long")
    work = df.withColumn("__s", secs).withColumn(
        "__dt", F.lead(F.col("__s")).over(w) - F.col("__s")
    )
    return work.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.coalesce(F.sum("__dt"), F.lit(0)).cast("long").alias("span_s"),
        F.when(
            F.coalesce(F.sum("__dt"), F.lit(0)) > 0,
            F.round(
                F.sum(v * F.coalesce(F.col("__dt"), F.lit(0))).cast("double")
                / F.sum("__dt").cast("double"),
                6,
            ),
        ).alias("twap"),
    )


def rolling_band_flags(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    window_rows: int = 24,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Rolling mean ± k·σ bands over the last ``window_rows`` rows per
    key (Bollinger bands / rolling z-flag) — the local-context
    complement to q140's seasonal baseline and q147's CUSUM: "is this
    point unusual versus its own RECENT neighborhood".

    Exactness: the window carries exact BIGINT Σv and Σv² (feed
    integer cents), mean/variance come from the sum-of-squares closed
    form with the only doubles the final divisions — identical
    arithmetic on any engine, so flags replay bit-for-bit. Warm-up
    rows (window count < 2) and zero-variance windows emit null bands
    and a false flag. One key shuffle, one window pass.

    Output: input columns + ``roll_mean`` (round 6), ``outside_band``.
    """
    from pyspark.sql import Window

    order = [F.col(order_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(-(int(window_rows) - 1), Window.currentRow)
    )
    v = F.col(value_col).cast("long")
    nw = F.count(F.lit(1)).over(w).cast("double")
    s1 = F.sum(v).over(w).cast("double")
    s2 = F.sum(v * v).over(w).cast("double")
    var_num = s2 - s1 * s1 / nw
    ok = (nw >= 2) & (var_num > 0)
    std = F.sqrt(var_num / (nw - 1))
    dev = F.abs(v.cast("double") - s1 / nw)
    return df.withColumn(
        "roll_mean", F.when(ok, F.round(s1 / nw, 6))
    ).withColumn(
        "outside_band",
        F.coalesce(F.when(ok, dev > F.lit(2.0) * std), F.lit(False)),
    )


def autocorrelation_report(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    max_lag: int = 3,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Sample autocorrelation per key at lags 1..max_lag — the
    seasonality/persistence detector (a daily-cycled series shows a
    spike at its period; white noise hovers near 0): the Pearson
    correlation of (v_t, v_(t-k)) over the overlapping support,
    computed q66-style from exact BIGINT sums (n', Σx, Σy, Σx², Σy²,
    Σxy — order-independent, engine-exact) with only the final
    divisions in double, rounded at 6.

    Overflow contract (same √(2^63) rule as ``trend_report``): require
    ``n·max(|v|) < 3.03e9`` — feed coarse integer units (whole
    dollars, not cents, for 10^5+-row series).

    Plan: ONE window pass materializes all max_lag lag columns on one
    key shuffle, then one aggregate per lag over the same frame.
    Output: (keys..., lag, n_pairs, autocorr).
    """
    from pyspark.sql import Window

    order = [F.col(order_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    v = F.col(value_col).cast("long")
    carry = [F.col(order_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col is not None else []
    )
    work = df.select(*keys, *carry, v.alias("__x"))
    for k in range(1, int(max_lag) + 1):
        work = work.withColumn(f"__y{k}", F.lag(F.col("__x"), k).over(w))
    frames = []
    for k in range(1, int(max_lag) + 1):
        x = F.col("__x")
        y = F.col(f"__y{k}")
        # BOTH ends must be present: an x-null row would enter n_pairs
        # while the sums skip it, corrupting the closed form
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
                dxy.cast("double")
                / F.sqrt(dxx.cast("double") * dyy.cast("double")),
                6,
            ),
        )
        frames.append(
            agg.select(*keys, F.lit(k).cast("int").alias("lag"), "n_pairs", r.alias("autocorr"))
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out


def period_over_period(
    df: DataFrame,
    keys: list[str],
    period_col: str,
    value_col: str,
    cycle: int = 12,
) -> DataFrame:
    """Month-over-month and year-over-year comparison on a contiguous
    integer period index (e.g. ``year*12 + month``): per row,
    ``(keys..., period, value, prev_value, cycle_ago_value,
    pop_pct, cycle_pct)`` where ``prev_value`` is the value at
    ``period − 1`` and ``cycle_ago_value`` at ``period − cycle``
    (default 12 → YoY on a monthly index).

    Missing periods yield NULL comparisons rather than silently
    comparing against whatever period happens to sort adjacent — the
    lookback is a RANGE frame pinned to the exact index offset
    (``RANGE BETWEEN k PRECEDING AND k PRECEDING``), not ``lag()``,
    which is the classic period-over-period bug with sparse series.

    Caller contract: at most one row per (keys, period) — aggregate
    upstream (the frame's max() would otherwise pick the larger of
    duplicate rows). Percentages are single double divisions rounded
    at 6, null when the base period is missing or non-positive.

    Scale shape: ONE shuffle on the keys; both lookback frames share
    the same window ordering (one exchange, one sort).
    """
    if cycle < 2:
        raise ValueError(f"period_over_period: cycle must be >= 2, got {cycle}")
    d = df.select(
        *keys,
        F.col(period_col).cast("long").alias("period"),
        F.col(value_col).cast("long").alias("value"),
    ).where(F.col(period_col).isNotNull())
    w1 = (
        Window.partitionBy(*keys).orderBy("period").rangeBetween(-1, -1)
    )
    wc = (
        Window.partitionBy(*keys)
        .orderBy("period")
        .rangeBetween(-int(cycle), -int(cycle))
    )
    staged = d.select(
        *keys,
        "period",
        "value",
        F.max("value").over(w1).alias("prev_value"),
        F.max("value").over(wc).alias("cycle_ago_value"),
    )
    def _pct(base: Column) -> Column:
        return F.when(
            base > 0,
            F.round((F.col("value") - base) / base.cast("double"), 6),
        )
    return staged.select(
        *keys,
        "period",
        "value",
        "prev_value",
        "cycle_ago_value",
        _pct(F.col("prev_value")).alias("pop_pct"),
        _pct(F.col("cycle_ago_value")).alias("cycle_pct"),
    )
