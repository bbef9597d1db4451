"""Survival / time-to-event analysis: the Kaplan-Meier risk table and
the Nelson-Aalen cumulative hazard, exactly.

The churn question ("how long do subjects last, given many are still
alive when we look") needs censoring-aware estimators — a plain mean
of observed lifetimes is biased by exactly the subjects who haven't
churned yet. This operator emits the classic risk table: for each
distinct event time, how many were still at risk and how many
churned, the discrete hazard, and the Nelson-Aalen cumulative hazard
H(t) = Σ_{t_i ≤ t} d_i/n_i.

Why Nelson-Aalen and not the KM survival product: Π(1 − d_i/n_i) is a
sequential float product — not reproducible across engines without an
ordered recurrence. H(t) is a SUM of per-time terms, each computed as
integer micro-units (d_i·10⁶ div n_i, non-negative so truncate ==
floor everywhere), so the cumulative hazard is an exact windowed
BIGINT sum — order-independent and engine-identical. S(t) = exp(−H)
for consumers who want the curve (one monotone map, no extra data).

Scale shape: ONE shuffle on the keys — per-(key, time) counts
(map-side combined), then the at-risk reverse-cumulative count and
the hazard running sum are two windows over the SAME partitioning on
the grouped frame (one row per distinct time, not per subject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.session import bounded_collect, literal_frame


def km_risk_table(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """One row per (keys..., t) where t is a duration with ≥1 subject
    ending (event or censor): ``(keys..., t, n_risk, n_events,
    n_censored, hazard_micro, cumhaz_micro)``.

    ``duration_col``: non-negative integer time units (days, hours —
    caller's grain; negatives raise). ``event_col``: 1 = event
    observed (churned), 0 = censored (still alive at last sight).
    ``n_risk`` counts subjects with duration ≥ t (standard
    convention: subjects censored AT t are still at risk at t);
    ``hazard_micro`` = n_events·10⁶ div n_risk;
    ``cumhaz_micro`` = running sum of hazard terms up to and
    including t (Nelson-Aalen in micro-units).
    """
    from pyspark.sql import Window

    keys = list(keys or [])
    d0 = F.col(duration_col).cast("long")
    d = F.when(
        d0.isNull() | (d0 < 0),
        F.raise_error(
            F.concat(
                F.lit(
                    f"km_risk_table: {duration_col} must be a non-negative "
                    "integer, got "
                ),
                F.coalesce(d0.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(d0)
    ev = F.col(event_col).cast("long")
    grouped = (
        df.select(*keys, d.alias("t"), ev.alias("__e"))
        .groupBy(*keys, "t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__m"),
            F.sum(F.when(F.col("__e") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_events"),
            F.sum(F.when(F.col("__e") == 1, 0).otherwise(1))
            .cast("long")
            .alias("n_censored"),
        )
    )
    w_rev = (
        Window.partitionBy(*keys)
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    at_risk = grouped.withColumn("n_risk", F.sum("__m").over(w_rev))
    hz = F.expr("n_events * 1000000 div n_risk")
    return (
        at_risk.withColumn("hazard_micro", hz)
        .withColumn("cumhaz_micro", F.sum(hz).over(w_fwd))
        .select(
            *keys, "t", "n_risk", "n_events", "n_censored",
            "hazard_micro", "cumhaz_micro",
        )
    )


def km_survival(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Kaplan-Meier product-limit survival curve on top of
    ``km_risk_table``: adds ``logsurv_micro`` (exact BIGINT) and
    ``km_survival`` (double, rounded at 6) to the risk table —
    S(t) = Π_{t_i ≤ t} (1 − d_i/n_i).

    The docheader rejects the naive sequential float product; the KM
    curve still earns an exact form via LOG-SPACE INTEGER terms (the
    same micro-nat device as the entropy and Adamic-Adar operators):
    each time point contributes floor(10⁶ · ln((n_i − d_i)/n_i)) — one
    deterministic double ln on an exactly-known rational, floored to
    BIGINT — and the curve is the running SUM of those integers,
    order-independent and engine-identical; S = exp(sum/10⁶) is one
    monotone map at the end, rounded at 6. Flooring under-counts each
    log term by < 1e-6 nat, so the reported S is exact to ~1e-6·#terms
    relative — and bitwise-reproducible, which the float product is
    not.

    The t where everyone remaining exits (d = n) has S = 0 from there
    on: ln(0) is dodged with a running had-extinction flag
    (max-over-window of d = n) that forces survival 0 and
    logsurv_micro NULL at and after extinction.

    Plan: km_risk_table's single shuffle + one extra window over the
    SAME (keys, t) ordering — no join, no new shuffle.
    """
    from pyspark.sql import Window

    keys = list(keys or [])
    rt = km_risk_table(df, duration_col, event_col, keys)
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    alive = F.col("n_risk") - F.col("n_events")
    term = F.when(
        alive > 0,
        F.floor(
            F.lit(1_000_000.0)
            * F.log(alive.cast("double") / F.col("n_risk").cast("double"))
        ),
    ).otherwise(F.lit(None).cast("long"))
    with_term = rt.withColumn("__lt", term)
    extinct = F.max(F.when(F.col("__lt").isNull(), 1).otherwise(0)).over(w_fwd)
    logsurv = F.sum("__lt").over(w_fwd)
    surv = F.when(extinct == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(logsurv.cast("double") / 1_000_000.0), 6)
    )
    return with_term.select(
        *keys, "t", "n_risk", "n_events", "n_censored",
        "hazard_micro", "cumhaz_micro",
        F.when(extinct == 0, logsurv).alias("logsurv_micro"),
        surv.alias("km_survival"),
    )


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
) -> DataFrame:
    """Two-group log-rank test — the hypothesis test that belongs next
    to the Kaplan-Meier curves (q223): are two survival experiences
    different, weighting every event time by how many subjects were
    still at risk (which a naive end-rate comparison throws away).

    At each distinct event time t (groups 1/2, d = events, n = at
    risk):  O₁ accumulates d₁t, the expectation accumulates
    E₁t = dt·n₁t/nt, and the hypergeometric variance accumulates
    Vt = dt·(n₁t/nt)·(n₂t/nt)·(nt−dt)/(nt−1). The statistic
    (O₁−E₁)²/V is ~χ²(1) under the null.

    Integer discipline: at-risk and event counts are exact BIGINTs
    from ONE window pass (at-risk via descending cumulative counts);
    E and V accumulate as CHAINED exact-multiple floor divisions in
    micro units — each chaining step loses < 1 micro (documented
    quantization, deliberately ordered so no intermediate exceeds
    ~10¹⁸ for groups up to 10⁴ at risk; see the expression comments)
    — and the χ² value is the single float at the end, rounded at 6.

    Returns ONE row: ``(n1, n2, events1, events2, o1, e1_micro,
    v_micro, chi2)``. Groups must be exactly two (raise otherwise)."""
    from pyspark.sql import Window

    d = df.select(
        F.col(duration_col).cast("long").alias("__t"),
        F.col(event_col).cast("long").alias("__e"),
        F.col(group_col).cast("string").alias("__g"),
    ).filter(
        F.col("__t").isNotNull() & F.col("__e").isNotNull() & F.col("__g").isNotNull()
    )
    groups = [r[0] for r in d.select("__g").distinct().collect()]
    if len(groups) != 2:
        raise ValueError(
            f"logrank_test: need exactly 2 groups, got {sorted(groups)}"
        )
    g1 = sorted(groups)[0]
    # per (time): d1, d2 (events) and n1, n2 (at risk = subjects with
    # duration >= t) — at-risk via reverse cumulative subject counts
    per_t = d.groupBy("__t").agg(
        F.sum(F.when(F.col("__g") == g1, F.col("__e")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("__g") != g1, F.col("__e")).otherwise(0))
        .cast("long")
        .alias("d2"),
        F.sum((F.col("__g") == g1).cast("long")).cast("long").alias("c1"),
        F.sum((F.col("__g") != g1).cast("long")).cast("long").alias("c2"),
    )
    w = Window.orderBy(F.col("__t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = (
        per_t.withColumn("n1", F.sum("c1").over(w).cast("long"))
        .withColumn("n2", F.sum("c2").over(w).cast("long"))
        .filter((F.col("d1") + F.col("d2")) > 0)
    )
    fd = lambda x, dv: f"(({x}) - (((({x}) % ({dv})) + ({dv})) % ({dv}))) div ({dv})"
    # e1 term: dt*n1*1e6/nt  (dt*n1*1e6 <= 1e4*1e4*1e6 = 1e14)
    e_term = fd("(d1 + d2) * n1 * 1000000", "(n1 + n2)")
    # v term, chained so intermediates stay <= ~1e18:
    #   a = dt*n1*1e6/nt (<=1e14); b = a*n2/nt (<=1e18 pre-div);
    #   v = b*(nt-dt)/(nt-1)
    v_term = fd(
        f"({fd(f'({e_term}) * n2', '(n1 + n2)')}) * (n1 + n2 - d1 - d2)",
        "greatest(n1 + n2 - 1, 1)",
    )
    agg = risk.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(F.expr(e_term)).cast("long").alias("e1_micro"),
        F.sum(F.expr(v_term)).cast("long").alias("v_micro"),
    )
    totals = d.groupBy().agg(
        F.sum((F.col("__g") == g1).cast("long")).cast("long").alias("n1"),
        F.sum((F.col("__g") != g1).cast("long")).cast("long").alias("n2"),
        F.sum(F.when(F.col("__g") == g1, F.col("__e")).otherwise(0))
        .cast("long")
        .alias("events1"),
        F.sum(F.when(F.col("__g") != g1, F.col("__e")).otherwise(0))
        .cast("long")
        .alias("events2"),
    )
    return totals.crossJoin(F.broadcast(agg)).select(
        "n1",
        "n2",
        "events1",
        "events2",
        "o1",
        "e1_micro",
        "v_micro",
        F.when(
            F.col("v_micro") > 0,
            F.round(
                (F.col("o1") * F.lit(1_000_000.0) - F.col("e1_micro"))
                * (F.col("o1") * F.lit(1_000_000.0) - F.col("e1_micro"))
                / (F.col("v_micro") * F.lit(1_000_000.0)),
                6,
            ),
        ).alias("chi2"),
    )


def cox_ph_fit(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    x_col: str,
    n_iters: int = 3,
) -> DataFrame:
    """Cox proportional-hazards regression (single covariate, Breslow
    ties) by Newton-Raphson on the log partial likelihood — the
    survival-analysis regression that q223's Kaplan-Meier curve and
    q279's log-rank test lead up to: "how much does one unit of x
    multiply the hazard", reported as beta with its information-based
    standard error.

    The engine shape mirrors :func:`km_risk_table`: rows collapse to
    the per-duration frame ONCE per iteration (the only row-volume
    shuffle), risk-set sums S0/S1/S2 are SUFFIX cumulative sums over
    that tiny distinct-duration frame (a window over ~hundreds of
    rows, never over the data), and per-event-time gradient/Hessian
    terms snap to integer micro-units before the global fold — so the
    whole Newton trajectory is exact-integer reproducible and a SQL
    oracle replays it (the q233 discipline, with exp in place of σ).

    Exactness note on exp: each row's risk weight snaps to
    E = round(exp(β·x/1e6)·1e6) BIGINT. A 1-ulp libm disagreement can
    flip that rounding only when exp(z) sits within ~1e-10 of a
    half-micro boundary; keeping the covariate LOW-CARDINALITY (a
    bucketed feature — the q233 convention) makes the distinct exp
    inputs a handful per iteration, driving the flip probability to
    ~1e-9. Callers should bucket continuous covariates anyway (|β·x|
    must stay ≤ ~10 so x²·E sums fit BIGINT).

    ``duration_col``: non-negative integer units; ``event_col``:
    1 = event, 0 = censored (Breslow: ties and censored-at-t subjects
    all stay in the risk set at t). Returns one row:
    (n, n_events, beta_micro, se_micro, grad_micro) — grad_micro is
    the final-iteration gradient (≈0 at convergence: a self-check the
    caller can assert on). More distinct (duration, event, x)
    combinations than ``session.DRIVER_REPLAY_MAX_ROWS`` raise: bucket
    the duration and the covariate.
    """
    # Collapse to distinct (t, e, x) combos once: every per-duration
    # aggregate term — the risk weight w = round(exp(β·x/1e6)·1e6),
    # x·w, x²·w, the event counts — is a pure function of (t, e, x), so
    # weighting by __cnt is bit-identical to scanning the rows. The
    # combos replay on the driver (see session.bounded_collect).
    # Bit-identity with the JVM expression path: risk weights snap to
    # integer micro-units through Spark's ROUND (HALF_UP over the
    # shortest decimal repr — emulated by _jvm_round0), every suffix
    # S0/S1/S2 sum and gradient total is an exact Python-int sum, and
    # the per-event-time double terms run the same operation order.
    # math.exp and the JVM's Math.exp may differ by 1 ulp; the
    # micro-unit snap absorbs it except within ~1e-10 of a half-micro
    # boundary (the argument the docstring makes).
    rows = bounded_collect(
        df.select(
            F.col(duration_col).cast("long").alias("__t"),
            F.col(event_col).cast("long").alias("__e"),
            F.col(x_col).cast("long").alias("__x"),
        )
        .groupBy("__t", "__e", "__x")
        .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
    )
    if rows is None:
        raise ValueError(
            "cox_ph_fit: more distinct (duration, event, x) combinations than "
            "the driver-replay cap (session.DRIVER_REPLAY_MAX_ROWS) — the "
            "duration needs bucketing (integer units, e.g. days) and x must "
            "be a bucketed covariate"
        )

    import math as _math

    from owl_etl_spark.operators.logreg import (
        _jvm_round0,
        _round_half_away,
    )

    # One pass folds the collapsed rows into per-duration structures;
    # the risk weight w depends only on x, so iterations then pay
    # |distinct x| exp/round calls and |t|·|x| exact-int multiplies —
    # never another pass over the collapsed rows. (Integer sums are
    # order-free, so regrouping by (t, x) is value-identical to the
    # expression path's per-row fold.)
    per_tx: dict = {}  # t -> {x: [Σcnt, Σcnt·x, Σcnt·x²]}
    d_sx: dict = {}  # t -> [d_t, sx_t]  (beta-independent)
    xs = set()
    for r in rows:
        t, e, x, cnt = r["__t"], r["__e"], r["__x"], r["__cnt"]
        by_x = per_tx.setdefault(t, {})
        ds = d_sx.setdefault(t, [0, 0])
        if x is not None:
            xs.add(x)
            acc = by_x.setdefault(x, [0, 0, 0])
            acc[0] += cnt
            acc[1] += cnt * x
            acc[2] += cnt * x * x
        if e == 1:
            ds[0] += cnt
            if x is not None:
                ds[1] += cnt * x
    # SQL desc puts a null duration last; suffix sums accumulate from
    # the largest t down, so order matches the window frame exactly
    t_desc = sorted((k for k in per_tx if k is not None), reverse=True) + (
        [None] if None in per_tx else []
    )

    beta = 0  # micro-units
    g_micro = h_micro = None
    for _ in range(int(n_iters)):
        w_by_x = {}
        for x in xs:
            if abs(beta * x) > 10_000_000:
                raise ValueError(
                    "cox_ph_fit: |beta*x| exceeded 10 — rescale/bucket the "
                    "covariate (risk-weight sums would overflow BIGINT)"
                )
            z = float(beta * x) / 1_000_000.0
            w_by_x[x] = _jvm_round0(_math.exp(z) * 1_000_000.0)
        s0 = s1 = s2 = 0
        g_micro = h_micro = 0
        for t in t_desc:
            for x, (c, cx, cxx) in per_tx[t].items():
                w = w_by_x[x]
                s0 += c * w
                s1 += cx * w
                s2 += cxx * w
            d_t, sx = d_sx[t]
            if d_t >= 1:
                r1 = float(s1) / float(s0)
                r2 = float(s2) / float(s0)
                grad_t = float(sx) - float(d_t) * r1
                hess_t = float(d_t) * (r2 - r1 * r1)
                g_micro += _jvm_round0(grad_t * 1_000_000.0)
                h_micro += _jvm_round0(hess_t * 1_000_000.0)
        if not h_micro or h_micro <= 0:
            raise ValueError(
                "cox_ph_fit: non-positive information — constant covariate "
                "or no events"
            )
        beta = beta + _round_half_away(g_micro / h_micro * 1_000_000.0)
    n = sum(r["__cnt"] for r in rows)
    n_events = sum(r["__cnt"] for r in rows if r["__e"] == 1)
    se_micro = _round_half_away(1.0 / _math.sqrt(h_micro / 1_000_000.0) * 1_000_000.0)
    return literal_frame(
        df.sparkSession,
        [(n, n_events, beta, se_micro, g_micro)],
        "n bigint, n_events bigint, beta_micro bigint, se_micro bigint, "
        "grad_micro bigint",
    )
