"""Distributed logistic regression — engine-exact full-batch gradient
descent on DataFrame aggregates.

The training loop every ML library hides is, per iteration, ONE
map-side-combined aggregate: the full-batch gradient
g_j = Σ_i (σ(w·x_i) − y_i)·x_ij. That makes logistic regression a
natural fit for the engine's declarative model — each iteration is a
groupBy-free global aggregate over the feature rows (a single
partial-agg reduce, no shuffle of row volumes), the driver folds the
K fixed iterations, and weights stay driver-side scalars (the same
driver-iteration shape as pagerank/bfs, with far less data motion:
only d numbers cross the wire per iteration).

Why it's REPRODUCIBLE (most distributed LR is not): float gradient
sums depend on partition order. Here every per-row gradient
contribution is snapped to integer MICRO-units —
round((σ(z_i) − y_i)·x_ij·1e6) — so the per-iteration sum is an exact
BIGINT in any order; weights live as integer micro-units; the weight
update w ← w − round(lr·mean_gradient) uses an exactly-representable
lr (power of two — 0.5 by default: the product is exact in binary,
the round deterministic). The entire K-iteration trajectory is
therefore BIT-IDENTICAL on any engine that computes the same
per-row doubles — which the DuckDB oracle for q233 replays iteration
by iteration (unrolled CTEs) and hash-matches.

Feature contract: integer-valued, BOUNDED features (the caller scales
— e.g. cents div 1000, hour-of-day), first feature is the bias 1.
|x| ≤ ~10³ keeps per-row micro terms ≤ 10⁹ and the global sums exact
BIGINT to ~10⁹ rows. Standardize/clip upstream; this operator's job
is the exact loop, not feature hygiene.

At 100 TB: one scan collapses the rows to their distinct (y, x…)
combinations, which the K iterations replay on the driver
(``session.bounded_collect``); more combinations than its cap raise,
so features must be bucketed. Nothing row-sized is collected.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.session import bounded_collect, literal_frame, seal


def _sigma(z):
    # quantized to 9 decimals: exp() is only 1-ulp-reproducible across
    # libm implementations; snapping σ collapses any such ulp wobble
    # before it can flip a downstream micro-unit round
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)


def logistic_regression_fit(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    iterations: int = 15,
    lr: float = 0.5,
) -> list[int]:
    """Fit by full-batch GD; returns the weight vector as integer
    MICRO-units (list of len(x_cols) ints), starting from zeros.
    ``lr`` must be exactly representable in binary (default 0.5) so
    the update arithmetic is reproducible; a non-dyadic lr raises.
    ``y_col`` must be 0/1 integers; nulls raise (woven guard —
    silently dropping a labeled row changes the gradient). More
    distinct (y, x) combinations than ``session.DRIVER_REPLAY_MAX_ROWS``
    raise: bucket the features.
    """
    num, den = float(lr).as_integer_ratio()
    # lr must be a power of two (1, 0.5, 0.25, …): then lr·gmean is an
    # exact mantissa shift, never a rounding — any other float "is
    # dyadic" trivially but its products round
    if num != 1 or den & (den - 1):
        raise ValueError(
            f"logistic_regression_fit: lr={lr} must be a power of two "
            "(1, 0.5, 0.25, ...) for exact update arithmetic"
        )
    y0 = F.col(y_col).cast("long")
    y = F.when(
        y0.isNull() | ~y0.isin(0, 1),
        F.raise_error(
            F.lit(
                f"logistic_regression_fit: {y_col} must be 0/1 and non-null "
                "— clean labels before fitting"
            )
        ).cast("long"),
    ).otherwise(y0)
    d = len(x_cols)
    # Collapse to distinct (y, x_0..x_{d-1}) combos once: every per-row
    # gradient term round(resid·x_j·1e6) is a pure function of the
    # combo, so cnt-weighted sums over the combos are bit-identical to
    # sums over rows. The combos replay on the driver (see
    # session.bounded_collect). Bit-identity with the JVM expression
    # path, term by term: long products are exactly representable
    # doubles (|x| ≤ ~10³, |w| ≤ ~10⁷ — the feature contract), the
    # double fold runs in the same j-order, σ's 9-decimal snap and the
    # micro-unit round both emulate Spark's ROUND (HALF_UP over the
    # shortest decimal repr, which Python's repr() also produces), and
    # the gradient totals are exact int sums. math.exp and the JVM's
    # Math.exp may differ by 1 ulp; the 9-decimal σ snap absorbs that
    # (the DuckDB oracle replays this trajectory through a third exp).
    rows = bounded_collect(
        df.select(
            y.alias("__y"),
            *[F.col(c).cast("long").alias(f"__x{j}") for j, c in enumerate(x_cols)],
        )
        .groupBy("__y", *[f"__x{j}" for j in range(d)])
        .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
    )
    if rows is None:
        raise ValueError(
            "logistic_regression_fit: more distinct (y, x) combinations than "
            "the driver-replay cap (session.DRIVER_REPLAY_MAX_ROWS) — features "
            "must be integer-valued and bounded; bucket them upstream"
        )
    n = sum(r["__cnt"] for r in rows)
    if not n:
        raise ValueError("logistic_regression_fit: empty input")
    w = [0] * d  # micro-units
    for _ in range(int(iterations)):
        g = [0] * d
        for r in rows:
            z = (
                sum(float(w[j] * r[f"__x{j}"]) for j in range(d)) / 1_000_000.0
            )
            resid = _sigma_py(z) - float(r["__y"])
            cnt = r["__cnt"]
            for j in range(d):
                g[j] += cnt * _jvm_round0(
                    resid * float(r[f"__x{j}"]) * 1_000_000.0
                )
        for j in range(d):
            gmean = _round_half_away(g[j] / n)
            w[j] = w[j] - _round_half_away(lr * gmean)
    return w


def _sigma_py(z: float) -> float:
    """Driver twin of :func:`_sigma`: σ(z) snapped to 9 decimals with
    Spark's ROUND semantics. math.exp overflows to an exception where
    the JVM returns +inf — map that back to the JVM's 1/(1+inf) = 0."""
    import math as _math

    try:
        e = _math.exp(-z)
    except OverflowError:
        return 0.0
    return _jvm_round(1.0 / (1.0 + e), 9)


def _jvm_round(x: float, scale: int) -> float:
    """Spark's ROUND(double, scale): BigDecimal.valueOf(x) — i.e. the
    SHORTEST decimal repr of the double, which Python's repr() also
    produces — setScale(scale, HALF_UP), back to the nearest double."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP)
    )


def _jvm_round0(x: float) -> int:
    """Spark's ROUND(double) to scale 0, taken to a Python int (the
    expression path's `.cast("long")` of an integral double)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _round_half_away(x: float) -> int:
    """round() with HALF_UP (away from zero) — the SQL round both
    engines use; Python's builtin banker-rounds and would diverge."""
    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


def logistic_fit_report(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    iterations: int = 15,
    lr: float = 0.5,
) -> DataFrame:
    """One-row DataFrame report of a fit: n, the final weights (micro
    BIGINTs, one column per feature: w_<name>), and the final
    training log-loss in integer micro-nats (per-row loss snapped to
    micro before the exact BIGINT sum — the engine's reproducible-sum
    rule; natural-log loss, lower is better)."""
    w = logistic_regression_fit(df, y_col, x_cols, iterations=iterations, lr=lr)
    yl = F.col(y_col).cast("long")
    z = sum(
        (F.lit(w[j]) * F.col(x_cols[j]).cast("long")).cast("double")
        for j in range(len(x_cols))
    ) / F.lit(1_000_000.0)
    # clamp away exact 0/1 (σ quantization could saturate) so the logs
    # stay finite; 1e-9 matches the σ quantum
    p = F.least(F.greatest(_sigma(z), F.lit(1e-9)), F.lit(1.0 - 1e-9))
    loss_term = F.round(
        -(
            yl.cast("double") * F.log(p)
            + (F.lit(1.0) - yl.cast("double")) * F.log(F.lit(1.0) - p)
        )
        * 1_000_000.0
    ).cast("long")
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(loss_term).cast("long").alias("logloss_micro_nats"),
    )
    for j, c in enumerate(x_cols):
        agg = agg.withColumn(f"w_{c}", F.lit(int(w[j])).cast("long"))
    return agg.select("n", *[f"w_{c}" for c in x_cols], "logloss_micro_nats")


def _lam(z):
    # quantized λ = exp(z) at 9 decimals — same libm-ulp collapse as
    # _sigma; callers bound features so z stays small and λ modest
    return F.round(F.exp(z), 9)


def poisson_regression_fit(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    iterations: int = 10,
    lr: float = 0.0625,
) -> list[int]:
    """Poisson GLM (log link) by engine-exact full-batch gradient
    descent — the COUNT-outcome sibling of ``logistic_regression_fit``
    (rates of events, orders per day, tokens per doc), sharing every
    reproducibility rule: per-row gradient terms
    round((λ(w·x) − y)·x_j·1e6) snap to integer micro-units before the
    exact BIGINT sum, weights are integer micro-units, λ is quantized
    at 9 decimals, and lr must be a power of two (default 1/16 — the
    Poisson gradient scales with λ, so it wants a smaller step than
    the logistic's 0.5). Returns micro-unit weights.

    ``y_col`` must be non-negative integers (counts); nulls and
    negatives raise. Feature contract as logreg: bounded integers,
    bias first. Keep |w·x| modest (λ ≤ ~10³) — a diverging exp would
    overflow the micro snap loudly, not silently."""
    num, den = float(lr).as_integer_ratio()
    if num != 1 or den & (den - 1):
        raise ValueError(
            f"poisson_regression_fit: lr={lr} must be a power of two "
            "for exact update arithmetic"
        )
    y0 = F.col(y_col).cast("long")
    y = F.when(
        y0.isNull() | (y0 < 0),
        F.raise_error(
            F.lit(
                f"poisson_regression_fit: {y_col} must be a non-negative "
                "count — clean labels before fitting"
            )
        ).cast("long"),
    ).otherwise(y0)
    work = df.select(
        y.alias("__y"),
        *[F.col(c).cast("long").alias(f"__x{j}") for j, c in enumerate(x_cols)],
    )
    d = len(x_cols)
    w = [0] * d
    for _ in range(int(iterations)):
        z = sum(
            (F.lit(w[j]) * F.col(f"__x{j}")).cast("double") for j in range(d)
        ) / F.lit(1_000_000.0)
        resid = _lam(z) - F.col("__y").cast("double")
        aggs = [F.count(F.lit(1)).cast("long").alias("__n")] + [
            F.sum(
                F.round(resid * F.col(f"__x{j}").cast("double") * 1_000_000.0).cast(
                    "long"
                )
            )
            .cast("long")
            .alias(f"__g{j}")
            for j in range(d)
        ]
        row = work.agg(*aggs).collect()[0]
        n = row["__n"]
        if not n:
            raise ValueError("poisson_regression_fit: empty input")
        for j in range(d):
            gmean = _round_half_away(row[f"__g{j}"] / n)
            w[j] = w[j] - _round_half_away(lr * gmean)
    return w


def poisson_fit_report(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    iterations: int = 10,
    lr: float = 0.0625,
) -> DataFrame:
    """One-row fit report: n, final micro weights (w_<name> columns),
    and the Poisson deviance-style loss Σ (λ − y·z) in integer
    micro-nats (per-row term snapped to micro before the exact BIGINT
    sum; the ln(y!) constant is omitted — it does not depend on w)."""
    w = poisson_regression_fit(df, y_col, x_cols, iterations=iterations, lr=lr)
    yl = F.col(y_col).cast("long")
    z = sum(
        (F.lit(w[j]) * F.col(x_cols[j]).cast("long")).cast("double")
        for j in range(len(x_cols))
    ) / F.lit(1_000_000.0)
    loss_term = F.round((_lam(z) - yl.cast("double") * z) * 1_000_000.0).cast("long")
    aggs = [F.count(F.lit(1)).cast("long").alias("n")] + [
        F.max(F.lit(w[j])).cast("long").alias(f"w_{x_cols[j]}")
        for j in range(len(x_cols))
    ] + [F.sum(loss_term).cast("long").alias("loss_micro_nats")]
    return df.agg(*aggs)


def cv_logistic_report(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    key_col: str,
    folds: int = 2,
    iterations: int = 8,
    lr: float = 0.5,
) -> DataFrame:
    """K-fold cross-validated logistic regression — the evaluation
    discipline the in-sample fit report (q233) deliberately lacks:
    training loss always flatters; the honest number is the log-loss
    on rows the fit never saw. Folds are assigned by an md5 hash of
    ``key_col`` (deterministic, partition-independent, replayable —
    the q261 split discipline), each fold's model trains on the OTHER
    folds via the exact-integer trainer (same micro-snapped gradient
    trajectory, so every fold's weights replay in SQL), and the
    held-out log-loss accumulates in micro-nats with the same per-row
    snap as the training report.

    Returns one row per fold: ``(fold, n_train, n_test, w_<x>...,
    test_logloss_micro_nats)``. Cost: folds × iterations scan-
    aggregates — cache the feature projection upstream when k or the
    corpus is large."""
    if folds < 2:
        raise ValueError(f"cv_logistic_report: folds must be >= 2, got {folds}")
    from owl_etl_spark.functions.hashing import md5_long

    work = df.withColumn(
        "__fold",
        (md5_long(F.concat(F.col(key_col).cast("string"), F.lit("#cv"))) % folds)
        .cast("long"),
    )
    work = seal(work, eager=False)
    outs = []
    spark = df.sparkSession
    for f in range(int(folds)):
        train = work.filter(F.col("__fold") != f)
        test = work.filter(F.col("__fold") == f)
        w = logistic_regression_fit(train, y_col, x_cols, iterations=iterations, lr=lr)
        yl = F.col(y_col).cast("long")
        z = sum(
            (F.lit(w[j]) * F.col(x_cols[j]).cast("long")).cast("double")
            for j in range(len(x_cols))
        ) / F.lit(1_000_000.0)
        p = F.least(F.greatest(_sigma(z), F.lit(1e-9)), F.lit(1.0 - 1e-9))
        loss_term = F.round(
            -(
                yl.cast("double") * F.log(p)
                + (F.lit(1.0) - yl.cast("double")) * F.log(F.lit(1.0) - p)
            )
            * 1_000_000.0
        ).cast("long")
        n_train = train.count()
        row = test.agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(loss_term).cast("long").alias("loss"),
        ).collect()[0]
        outs.append(
            (f, n_train, row["n_test"], *[int(x) for x in w], int(row["loss"] or 0))
        )
    schema = (
        "fold long, n_train long, n_test long, "
        + ", ".join(f"w_{c} long" for c in x_cols)
        + ", test_logloss_micro_nats long"
    )
    return literal_frame(spark, outs, schema).orderBy("fold")
