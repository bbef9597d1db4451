"""Robust statistics: Theil-Sen trend estimation and MAD outlier
reports.

OLS slopes (``profile.trend_report``) break under a single wild
outlier; Theil-Sen's breakdown point is ~29%. The estimator is
inherently pairwise — median over all (i < j) of
(v_j − v_i)/(t_j − t_i) — so this operator embraces the O(n²) on a
BOUNDED series and ENFORCES the bound at runtime: a key whose series
exceeds ``max_points`` raises rather than silently detonating a
quadratic task (the q142/q29 hot-key discipline, applied to an
algorithm that is quadratic by definition — callers aggregate to a
coarser grid, they don't get to discover the blowup in production).

Per-task fan-out is therefore ≤ max_points² — a compile-time
constant. Determinism: slope = one IEEE division of exact BIGINTs
(bit-identical on any engine); the median picks rank-⌈n/2⌉ /
⌈(n+1)/2⌉ elements under a total order (slope, i, j) and averages
two exact doubles — value ties cannot move the median value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.session import seal


def theil_sen_slopes(
    df: DataFrame,
    keys: list[str],
    t_col: str,
    value_col: str,
    max_points: int = 1000,
) -> DataFrame:
    """Per key group: ``(keys..., n_points, n_pairs, ts_slope)`` —
    the Theil-Sen slope of value over t, rounded at 6. Requires
    distinct ``t_col`` per row within a key (duplicate timestamps have
    no defined pairwise slope — aggregate upstream; they raise).
    Groups with a single point emit a null slope."""
    if max_points < 2:
        raise ValueError(f"theil_sen_slopes: max_points must be >= 2, got {max_points}")
    w_all = Window.partitionBy(*keys)
    guard_n = F.count(F.lit(1)).over(w_all)
    d = df.select(
        *keys,
        F.col(t_col).cast("long").alias("__t"),
        F.col(value_col).cast("long").alias("__v"),
    ).where(F.col(t_col).isNotNull() & F.col(value_col).isNotNull())
    guard_t = F.count(F.lit(1)).over(Window.partitionBy(*keys, "__t"))
    d = d.withColumn(
        "__n",
        F.when(
            guard_n > max_points,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"theil_sen_slopes: a key group exceeds max_points="
                        f"{max_points} ("
                    ),
                    guard_n.cast("string"),
                    F.lit(" rows); aggregate to a coarser grid first"),
                )
            ).cast("long"),
        )
        .when(
            guard_t > 1,
            F.raise_error(
                F.lit(
                    f"theil_sen_slopes: duplicate {t_col} within a key group — "
                    "pairwise slopes are undefined at zero time delta; "
                    "aggregate upstream"
                )
            ).cast("long"),
        )
        .otherwise(guard_n),
    )
    a = d.select(*keys, F.col("__t").alias("__ta"), F.col("__v").alias("__va"), "__n")
    b = d.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        F.col("__t").alias("__tb"),
        F.col("__v").alias("__vb"),
    )
    cond = [a[k] == b[f"__k_{k}"] for k in keys]
    pairs = (
        a.join(b, cond)
        .where(F.col("__tb") > F.col("__ta"))
        .select(
            *keys,
            "__n",
            "__ta",
            "__tb",
            (
                (F.col("__vb") - F.col("__va"))
                / (F.col("__tb") - F.col("__ta")).cast("double")
            ).alias("__slope"),
        )
    )
    w_rank = Window.partitionBy(*keys).orderBy("__slope", "__ta", "__tb")
    w_cnt = Window.partitionBy(*keys)
    ranked = pairs.select(
        *keys,
        "__n",
        "__slope",
        F.row_number().over(w_rank).cast("long").alias("__r"),
        F.count(F.lit(1)).over(w_cnt).cast("long").alias("__np"),
    )
    lo = F.expr("(__np + 1) div 2")
    hi = F.expr("(__np + 2) div 2")
    med = ranked.where((F.col("__r") == lo) | (F.col("__r") == hi)).groupBy(*keys).agg(
        F.max("__n").alias("n_points"),
        F.max("__np").alias("n_pairs"),
        F.round(F.avg("__slope"), 6).alias("ts_slope"),
    )
    singletons = (
        d.groupBy(*keys)
        .agg(F.max("__n").alias("n_points"))
        .where(F.col("n_points") == 1)
        .select(
            *keys,
            "n_points",
            F.lit(0).cast("long").alias("n_pairs"),
            F.lit(None).cast("double").alias("ts_slope"),
        )
    )
    return med.unionByName(singletons)


def mad_outlier_report(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k_num: int = 3,
    k_den: int = 1,
) -> DataFrame:
    """Median / MAD dispersion report with robust outlier counts, per
    key group: ``(keys..., n, median_units, mad_units, n_outliers)``
    where a row is an outlier iff ``|v - median| > (k_num/k_den) * MAD``
    (MAD = median absolute deviation from the median). The robust
    sibling of the Tukey IQR fences (operators/quantiles.iqr_fences):
    MAD's 50% breakdown point survives corpora where even the
    quartiles are contaminated, and the k·MAD rule is the standard
    robust z-test with the 1.4826 consistency constant folded into the
    caller's choice of k_num/k_den (e.g. 3.5σ ≈ k_num=236, k_den=100,
    since 3.5·1/1.4826 ≈ 2.36... — the ratio is exact integers, never
    a float threshold; cf. the ulp-trap note in the A/B readout,
    operators/profile.py).

    ``value_col`` must be integer-valued (cast to BIGINT; pre-quantize
    floats to cents upstream). Rows with a null value are EXCLUDED up
    front — the documented null discipline shared with
    ``ab_test_report``. All decisions are exact-integer: medians use
    the doubled-sum trick (med2 = v_lo + v_hi over the two middle
    ranks, so median = med2/2.0 — an exact binary halving, safe to
    hash), deviations are dev2 = |2v − med2| (integer), the MAD's
    doubled-sum mad2 gives MAD = mad2/4.0 (exact quartering), and the
    outlier test compares ``2·k_den·dev2 > k_num·mad2`` in BIGINT —
    no float enters any comparison.

    Plan: three aggregates on the SAME key shuffle (median pass, MAD
    pass over deviations, outlier-count pass) with the tiny post-agg
    per-key tables joined back — no window over raw rows except the
    two rank passes that exact order statistics require, no driver
    data. At 100 TB the per-key state is two BIGINTs; the rank
    windows are the cost of exactness (the approximate path is
    ``histo.histogram_quantiles`` when rank precision can be traded).
    """
    if k_num < 0 or k_den <= 0:
        raise ValueError(
            f"mad_outlier_report: need k_num >= 0 and k_den > 0, got {k_num}/{k_den}"
        )
    work = df.select(
        *keys, F.col(value_col).cast("long").alias("__v")
    ).filter(F.col("__v").isNotNull())
    w_rank = Window.partitionBy(*keys).orderBy(F.col("__v").asc())
    w_all = Window.partitionBy(*keys)
    ranked = work.select(
        *keys,
        "__v",
        F.row_number().over(w_rank).cast("long").alias("__r"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("__n"),
    )
    lo = F.expr("(__n + 1) div 2")
    hi = F.expr("(__n + 2) div 2")
    med = ranked.groupBy(*keys).agg(
        F.max("__n").alias("n"),
        (
            F.sum(F.when(F.col("__r") == lo, F.col("__v")).otherwise(F.lit(0)))
            + F.sum(F.when(F.col("__r") == hi, F.col("__v")).otherwise(F.lit(0)))
        ).alias("__med2"),
    )
    dev = work.join(med.select(*keys, "__med2"), keys).withColumn(
        "__dev2", F.abs(F.lit(2) * F.col("__v") - F.col("__med2"))
    )
    wd_rank = Window.partitionBy(*keys).orderBy(F.col("__dev2").asc())
    dranked = dev.select(
        *keys,
        "__dev2",
        F.row_number().over(wd_rank).cast("long").alias("__r"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("__n"),
    )
    mad = dranked.groupBy(*keys).agg(
        (
            F.sum(F.when(F.col("__r") == lo, F.col("__dev2")).otherwise(F.lit(0)))
            + F.sum(F.when(F.col("__r") == hi, F.col("__dev2")).otherwise(F.lit(0)))
        ).alias("__mad2")
    )
    flagged = dev.join(mad, keys).withColumn(
        "__is_out",
        (F.lit(2 * int(k_den)) * F.col("__dev2") > F.lit(int(k_num)) * F.col("__mad2")).cast(
            "long"
        ),
    )
    out = flagged.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.max("__med2") / F.lit(2.0)).alias("median_units"),
        (F.max("__mad2") / F.lit(4.0)).alias("mad_units"),
        F.sum("__is_out").cast("long").alias("n_outliers"),
    )
    return out


def huber_location(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 1000,
    n_iters: int = 3,
) -> DataFrame:
    """Huber M-estimator of location per group — the robust mean
    between the outlier-fragile average and the fully-trimmed median:
    values within ``k`` of the current estimate get full weight,
    values beyond it get weight k/|r| (linear, not quadratic,
    influence — one wild row moves the estimate by at most k/n).

    IRLS with the engine's integer discipline (``k`` in the same
    integer units as the values):

        m₀   = fd(Σ y, n)                       (plain mean seed)
        wᵢ   = 1e6            if |y − m| ≤ k
               fd(k·1e6, |y − m|)   otherwise   (micro weights)
        m'   = fd(Σ w·y, Σ w)

    Every quantity is an exact BIGINT, every division the exact-
    multiple floor-div, so a fixed-iteration run replays in chained
    SQL CTEs (the q125/q255 convention — the CONTRACT is the integer
    recurrence; it tracks the real IRLS trajectory to the micro
    quantum). Overflow: Σ w·y ≤ 1e6 · Σ|y| — keep total |value| per
    group under ~9·10¹².

    Plan per iteration: one groupBy over the data keyed by group —
    the estimate vector is group-sized and broadcast back. Returns
    ``(group, n, mean_micro, huber_micro)`` with the plain mean kept
    for contrast."""
    if n_iters < 1:
        raise ValueError(f"huber_location: n_iters must be >= 1, got {n_iters}")
    d = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("long").alias("__y"),
    ).filter(F.col("__g").isNotNull() & F.col("__y").isNotNull())
    d = seal(d, eager=False)
    base = d.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__sy"),
    )
    fd = lambda x, dv: f"(({x}) - (((({x}) % ({dv})) + ({dv})) % ({dv}))) div ({dv})"
    m = base.select(
        "__g", F.expr(fd("__sy", "__n")).cast("long").alias("__m")
    )
    kk = int(k)
    for _ in range(int(n_iters)):
        j = d.join(F.broadcast(m), "__g")
        w = (
            f"CASE WHEN abs(__y - __m) <= {kk} THEN 1000000 "
            f"ELSE {fd(f'{kk} * 1000000', 'abs(__y - __m)')} END"
        )
        m = (
            j.select("__g", F.expr(w).cast("long").alias("__w"), "__y")
            .groupBy("__g")
            .agg(
                F.sum(F.col("__w") * F.col("__y")).cast("long").alias("__swy"),
                F.sum("__w").cast("long").alias("__sw"),
            )
            .select(
                "__g",
                F.expr(fd("__swy", "greatest(__sw, 1)")).cast("long").alias("__m"),
            )
        )
    return (
        base.join(m, "__g")
        .select(
            F.col("__g").alias("group"),
            F.col("__n").alias("n"),
            F.expr(fd("__sy * 1000000", "__n")).cast("long").alias("mean_micro"),
            # the iterate lives in integer VALUE units (cents) — the
            # 1-cent quantum per round is the contract; micro here is
            # display scaling only
            (F.col("__m") * F.lit(1_000_000)).cast("long").alias("huber_micro"),
        )
        .orderBy("group")
    )


def quantile_regression_fit(
    df: DataFrame,
    y_col: str,
    x_col: str,
    tau_centi: int = 90,
    n_iters: int = 4,
    delta: int = 100,
) -> dict:
    """Engine-exact linear quantile regression (one covariate +
    intercept) by IRLS on the δ-smoothed pinball loss — the τ-quantile
    line ("what does the 90th-percentile order cost at this
    quantity?") that OLS (q218) cannot give, fit with the same
    distributed-trainer discipline as logreg/huber: per iteration ONE
    tree-reduced global aggregate, driver state = two scalars, and an
    all-integer trajectory a SQL oracle replays bit-for-bit.

    IRLS weights for pinball: wᵢ = τ/max(|rᵢ|, δ) when rᵢ ≥ 0 else
    (1−τ)/max(|rᵢ|, δ) — weighted least squares with these weights has
    the smoothed pinball loss as its fixed point (δ in label units
    caps the weight a near-zero residual can claim; Schnabel's
    smoothing). The engine form keeps every quantity exact:

        ŷᵢ       = fd(w0 + w1·xᵢ, 1e6)            (integer, micro θ)
        wᵢ_micro = fd(side·1e4, max(|rᵢ|, δ))     side = τc or 100−τc
        Σw, Σwx, Σwx², Σwy, Σwxy                  exact BIGINTs
        θ' = 2×2 weighted-normal-equation solve in IEEE doubles from
             those BIGINTs, snapped back to micro via half-away round

    (fd = floor-div; doubles appear ONLY in the final per-iteration
    solve, on identical integer inputs — multiply/divide/subtract are
    bit-deterministic IEEE, no libm). θ₀ seeds from the unweighted
    OLS closed form, same arithmetic with w ≡ 1.

    Overflow contract: w_micro ≤ 1e6·τ/δ, so Σ w·x·y must fit BIGINT —
    with |x| ≤ 10², |y| ≤ 10⁵ (label pre-descaled to dollars) and
    δ = 100 that holds to ~10⁹ rows; rescale y or raise δ beyond that.

    Far-outlier cutoff (the flip side of the integer weights): the
    floor-div weight fd(side·1e4, max(|r|,δ)) truncates to 0 once
    |r| > side·1e4 label units (9·10⁵ at τ=90 on the ≥-side), so rows
    whose residual exceeds that bound contribute NOTHING to that
    iteration's solve — they are hard-dropped from the fit, not merely
    down-weighted. This is deterministic and usually desirable (such
    rows are extreme outliers by construction), but callers whose
    label scale is so wide that legitimate points sit > side·1e4 from
    the line must rescale the label (or the weights lose them).

    Returns {n, intercept_micro, slope_micro} (micro-units of the
    label scale). Raises on empty input or a constant covariate
    (singular normal equations).
    """
    from owl_etl_spark.operators.logreg import _round_half_away

    if not 0 < int(tau_centi) < 100:
        raise ValueError("quantile_regression_fit: tau_centi must be in (0, 100)")
    tc = int(tau_centi)
    work = seal(
        df.select(F.col(y_col).cast("long").alias("__y"), F.col(x_col).cast("long").alias("__x"))
    )

    def _solve(row, pfx: str) -> tuple[int, int]:
        sw, sx = float(row[f"{pfx}w"]), float(row[f"{pfx}x"])
        sxx, sy, sxy = float(row[f"{pfx}xx"]), float(row[f"{pfx}y"]), float(row[f"{pfx}xy"])
        det = sxx * sw - sx * sx
        if det == 0.0:
            raise ValueError(
                "quantile_regression_fit: singular normal equations "
                "(constant covariate?)"
            )
        slope = (sw * sxy - sx * sy) / det
        intercept = (sxx * sy - sx * sxy) / det
        return (
            _round_half_away(intercept * 1_000_000.0),
            _round_half_away(slope * 1_000_000.0),
        )

    seed = work.agg(
        F.count(F.lit(1)).cast("long").alias("__sw"),
        F.sum("__x").cast("long").alias("__sx"),
        F.sum(F.col("__x") * F.col("__x")).cast("long").alias("__sxx"),
        F.sum("__y").cast("long").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("long").alias("__sxy"),
    ).collect()[0]
    n = seed["__sw"]
    if not n:
        raise ValueError("quantile_regression_fit: empty input")
    w0, w1 = _solve(seed, "__s")

    fd = lambda x, dv: f"(({x}) - (((({x}) % ({dv})) + ({dv})) % ({dv}))) div ({dv})"
    dd = int(delta)
    for _ in range(int(n_iters)):
        yhat = fd(f"{w0} + {w1} * __x", "1000000")
        r = f"(__y - ({yhat}))"
        side = f"(CASE WHEN {r} >= 0 THEN {tc} ELSE {100 - tc} END)"
        wexpr = fd(f"{side} * 10000", f"greatest(abs({r}), {dd})")
        it = work.select(
            F.expr(wexpr).cast("long").alias("__w"), "__x", "__y"
        ).agg(
            F.sum("__w").cast("long").alias("__sw"),
            F.sum(F.col("__w") * F.col("__x")).cast("long").alias("__sx"),
            F.sum(F.col("__w") * F.col("__x") * F.col("__x")).cast("long").alias("__sxx"),
            F.sum(F.col("__w") * F.col("__y")).cast("long").alias("__sy"),
            F.sum(F.col("__w") * F.col("__x") * F.col("__y")).cast("long").alias("__sxy"),
        ).collect()[0]
        w0, w1 = _solve(it, "__s")
    return {"n": n, "intercept_micro": w0, "slope_micro": w1}


def huber_line_fit(
    df: DataFrame,
    y_col: str,
    x_col: str,
    k: int = 1000,
    n_iters: int = 4,
) -> dict:
    """Huber-loss linear regression (one covariate + intercept) by
    IRLS — the slope counterpart of :func:`huber_location` and the
    robust sibling of the OLS line (q218): residuals within ``k`` of
    the line get full weight, beyond it weight k/|r| (linear
    influence: one wild row moves the line by at most ~k/n), which is
    what keeps a price/quantity fit sane when a few fat-finger rows
    sit 100× off.

    Identical engine discipline to
    :func:`quantile_regression_fit` (which owns the asymmetric-weight
    variant of this loop): integer weights by floor-div —
    w = 1e4 full weight, fd(k·1e4, |r|) beyond the knee — exact BIGINT
    weighted moments, 2×2 normal-equation solves in IEEE doubles of
    those BIGINTs, θ snapped to micro-units per iteration; the whole
    trajectory replays in unrolled SQL CTEs. OLS seed (w ≡ 1). Same
    overflow contract: Σ w·x·y must fit BIGINT — |x| ≤ 10², |y| ≤ 10⁵
    holds to ~10⁸ rows at the default k. Same far-outlier cutoff too:
    fd(k·1e4, |r|) truncates to 0 once |r| > k·1e4 label units (10⁷ at
    the default k=1000), hard-dropping such rows from that iteration's
    solve — rescale the label if legitimate points can sit that far
    from the line.

    Returns {n, intercept_micro, slope_micro}.
    """
    from owl_etl_spark.operators.logreg import _round_half_away

    work = seal(
        df.select(F.col(y_col).cast("long").alias("__y"), F.col(x_col).cast("long").alias("__x"))
    )

    def _solve(row) -> tuple[int, int]:
        sw, sx = float(row["__sw"]), float(row["__sx"])
        sxx, sy, sxy = float(row["__sxx"]), float(row["__sy"]), float(row["__sxy"])
        det = sxx * sw - sx * sx
        if det == 0.0:
            raise ValueError(
                "huber_line_fit: singular normal equations (constant covariate?)"
            )
        slope = (sw * sxy - sx * sy) / det
        intercept = (sxx * sy - sx * sxy) / det
        return (
            _round_half_away(intercept * 1_000_000.0),
            _round_half_away(slope * 1_000_000.0),
        )

    seed = work.agg(
        F.count(F.lit(1)).cast("long").alias("__sw"),
        F.sum("__x").cast("long").alias("__sx"),
        F.sum(F.col("__x") * F.col("__x")).cast("long").alias("__sxx"),
        F.sum("__y").cast("long").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("long").alias("__sxy"),
    ).collect()[0]
    n = seed["__sw"]
    if not n:
        raise ValueError("huber_line_fit: empty input")
    w0, w1 = _solve(seed)

    fd = lambda x, dv: f"(({x}) - (((({x}) % ({dv})) + ({dv})) % ({dv}))) div ({dv})"
    kk = int(k)
    for _ in range(int(n_iters)):
        yhat = fd(f"{w0} + {w1} * __x", "1000000")
        r = f"(__y - ({yhat}))"
        wexpr = (
            f"CASE WHEN abs({r}) <= {kk} THEN 10000 "
            f"ELSE {fd(f'{kk} * 10000', f'abs({r})')} END"
        )
        it = work.select(
            F.expr(wexpr).cast("long").alias("__w"), "__x", "__y"
        ).agg(
            F.sum("__w").cast("long").alias("__sw"),
            F.sum(F.col("__w") * F.col("__x")).cast("long").alias("__sx"),
            F.sum(F.col("__w") * F.col("__x") * F.col("__x")).cast("long").alias("__sxx"),
            F.sum(F.col("__w") * F.col("__y")).cast("long").alias("__sy"),
            F.sum(F.col("__w") * F.col("__x") * F.col("__y")).cast("long").alias("__sxy"),
        ).collect()[0]
        w0, w1 = _solve(it)
    return {"n": n, "intercept_micro": w0, "slope_micro": w1}
