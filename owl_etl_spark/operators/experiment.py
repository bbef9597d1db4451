"""Experimentation estimators: difference-in-differences and CUPED.

The causal/experimentation shelf next to the testing shelf
(profile.ab_test_report's Welch t, sprt.sprt_monitor's sequential
boundary, stats_tests' nonparametrics):

- ``did_report`` — the 2×2 difference-in-differences estimator, the
  workhorse for launches that can't be randomized: the treatment
  group's pre→post change minus the control group's pre→post change
  cancels both group-level and time-level confounds (under parallel
  trends, which is the analyst's job to defend).
- ``cuped_report`` — CUPED variance reduction (Deng et al. 2013):
  adjust the experiment metric with a pre-experiment covariate,
  Y' = Y − θ(X − X̄), θ = cov(X,Y)/var(X); same expectation,
  strictly smaller variance — the standard trick that shrinks A/B
  confidence intervals ~30-50% for free.

Exactness: both are pure moment arithmetic — every sum (Σy per cell;
n, Σx, Σy, Σxy, Σx², Σy²) is an exact BIGINT with cross terms
widened to DECIMAL(38,0) (the spearman/ols device), and only the
final ratios run in double, rounded at 6. One map-side-combined
aggregate each; no windows, no joins of row volumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.session import seal


def did_report(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
) -> DataFrame:
    """The 2×2 DiD table and estimate: ``group_col`` (1 = treated,
    0 = control) × ``period_col`` (1 = post, 0 = pre) over an exact
    integer ``value_col``. Returns ONE row: per-cell n and mean
    (rounded at 6) plus ``did`` = (ȳ_t1 − ȳ_t0) − (ȳ_c1 − ȳ_c0).
    Rows with null/out-of-domain group/period/value raise (woven) —
    a silently dropped cell row biases the estimate. Any empty cell
    yields a null ``did`` (the design is broken, not zero)."""
    g0, p0, v0 = (
        F.col(group_col).cast("long"),
        F.col(period_col).cast("long"),
        F.col(value_col).cast("long"),
    )
    bad = (
        g0.isNull() | ~g0.isin(0, 1) | p0.isNull() | ~p0.isin(0, 1) | v0.isNull()
    )
    g = F.when(
        bad,
        F.raise_error(
            F.lit(
                "did_report: group/period must be 0/1 and value non-null — "
                "clean the design matrix first"
            )
        ).cast("long"),
    ).otherwise(g0)
    work = df.select(g.alias("__g"), p0.alias("__p"), v0.alias("__v"))

    def cell(gv: int, pv: int, what: str):
        cond = (F.col("__g") == gv) & (F.col("__p") == pv)
        n = F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n_{what}")
        s = F.sum(F.when(cond, F.col("__v")).otherwise(0)).cast("long").alias(
            f"__s_{what}"
        )
        return n, s

    aggs = []
    for gv, pv, what in ((0, 0, "c0"), (0, 1, "c1"), (1, 0, "t0"), (1, 1, "t1")):
        aggs.extend(cell(gv, pv, what))
    a = work.agg(*aggs)
    means = {}
    for what in ("c0", "c1", "t0", "t1"):
        means[what] = F.when(
            F.col(f"n_{what}") > 0,
            F.col(f"__s_{what}").cast("double") / F.col(f"n_{what}").cast("double"),
        )
    did = F.round(
        (means["t1"] - means["t0"]) - (means["c1"] - means["c0"]), 6
    )
    return a.select(
        *[F.col(f"n_{w}") for w in ("c0", "c1", "t0", "t1")],
        *[F.round(means[w], 6).alias(f"mean_{w}") for w in ("c0", "c1", "t0", "t1")],
        did.alias("did"),
    )


def cuped_report(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """CUPED readout over unit-level rows (one row per user/unit with
    pre-metric ``x_col`` and experiment metric ``y_col``, both exact
    integers; null-on-either rows are excluded — units without
    pre-period data can't be adjusted, the documented discipline).
    Returns ONE row: ``(n, theta, var_y, var_adj,
    var_reduction_pct)`` — θ = cov(X,Y)/var(X) (population moments),
    var_adj = var(Y)·(1 − ρ²), reduction = 100·ρ², all rounded at 6;
    θ and friends null when var(X) = 0 (constant covariate adjusts
    nothing)."""
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    work = df.select(x.alias("__x"), y.alias("__y")).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
    )
    a = work.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    dec = "decimal(38,0)"
    n = F.col("n").cast(dec)
    sx, sy = F.col("__sx").cast(dec), F.col("__sy").cast(dec)
    cxy = n * F.col("__sxy").cast(dec) - sx * sy
    cxx = n * F.col("__sxx").cast(dec) - sx * sx
    cyy = n * F.col("__syy").cast(dec) - sy * sy
    nd = F.col("n").cast("double")
    var_y = cyy.cast("double") / (nd * nd)
    theta = F.when(cxx > 0, F.round(cxy.cast("double") / cxx.cast("double"), 6))
    rho2 = (cxy.cast("double") * cxy.cast("double")) / (
        cxx.cast("double") * cyy.cast("double")
    )
    var_adj = F.when(
        (cxx > 0) & (cyy > 0), F.round(var_y * (F.lit(1.0) - rho2), 6)
    )
    red = F.when((cxx > 0) & (cyy > 0), F.round(rho2 * 100.0, 6))
    return a.select(
        F.col("n"),
        theta.alias("theta"),
        F.round(var_y, 6).alias("var_y"),
        var_adj.alias("var_adj"),
        red.alias("var_reduction_pct"),
    )


MICRO = 1_000_000


def stratified_ate(
    df: DataFrame,
    stratum_col: str,
    treated_col: str,
    outcome_col: str,
) -> DataFrame:
    """Stratification-adjusted average treatment effect — the
    observational sibling of q246's DiD and q247's CUPED: when
    treatment wasn't randomized, comparing raw means confounds
    treatment with composition; stratifying on a pre-treatment
    covariate and weighting per-stratum effects by stratum size
    removes the confounding that the stratum captures (exactly, if
    the stratum is the only confounder — stated, not oversold).

    Per stratum s (micro units, exact-multiple floor division):

        mean_t_micro = fd(Σ_t y · 1e6, n_t)     (same for control)
        diff_micro   = mean_t_micro − mean_c_micro
        weight_micro = fd(n_s · 1e6, N_two_arm)

    where N_two_arm counts only strata with BOTH arms present —
    one-arm strata have no within-stratum contrast and are excluded
    from the weights (reported with NULL diff so the exclusion is
    visible, never silent). The overall ATE is Σ weight·diff — left
    as the per-stratum ``ate_term_micro`` column plus visible
    diagnostics, the q257/q260 convention.

    One groupBy (stratum, arm) carries everything; the weight
    normalizer is a 1-row broadcast."""
    d = df.select(
        F.col(stratum_col).cast("string").alias("__s"),
        F.col(treated_col).cast("long").alias("__t"),
        F.col(outcome_col).cast("long").alias("__y"),
    ).filter(
        F.col("__s").isNotNull() & F.col("__t").isNotNull() & F.col("__y").isNotNull()
    )
    g = d.groupBy("__s", "__t").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__sy"),
    )
    mean = "((__sy * 1000000) - ((((__sy * 1000000) % __n) + __n) % __n)) div __n"
    arms = g.select(
        "__s",
        "__t",
        "__n",
        F.expr(mean).cast("long").alias("__mean"),
    )
    t_arm = arms.filter(F.col("__t") == 1).select(
        "__s", F.col("__n").alias("n_t"), F.col("__mean").alias("mean_t_micro")
    )
    c_arm = arms.filter(F.col("__t") == 0).select(
        "__s", F.col("__n").alias("n_c"), F.col("__mean").alias("mean_c_micro")
    )
    strata = t_arm.join(c_arm, "__s", "full")
    two_arm_total = strata.filter(
        F.col("n_t").isNotNull() & F.col("n_c").isNotNull()
    ).agg(
        F.coalesce(F.sum(F.col("n_t") + F.col("n_c")), F.lit(0))
        .cast("long")
        .alias("__N2")
    )
    return (
        strata.crossJoin(F.broadcast(two_arm_total))
        .select(
            F.col("__s").alias("stratum"),
            F.coalesce("n_t", F.lit(0)).cast("long").alias("n_t"),
            F.coalesce("n_c", F.lit(0)).cast("long").alias("n_c"),
            "mean_t_micro",
            "mean_c_micro",
            (F.col("mean_t_micro") - F.col("mean_c_micro")).cast("long").alias(
                "diff_micro"
            ),
            F.when(
                F.col("n_t").isNotNull() & F.col("n_c").isNotNull() & (F.col("__N2") > 0),
                F.expr(
                    "(((n_t + n_c) * 1000000) - (((((n_t + n_c) * 1000000) % __N2)"
                    " + __N2) % __N2)) div __N2"
                ),
            )
            .cast("long")
            .alias("weight_micro"),
            F.when(
                F.col("n_t").isNotNull() & F.col("n_c").isNotNull() & (F.col("__N2") > 0),
                F.round(
                    (F.col("mean_t_micro") - F.col("mean_c_micro"))
                    * F.expr(
                        "(((n_t + n_c) * 1000000) - (((((n_t + n_c) * 1000000) % __N2)"
                        " + __N2) % __N2)) div __N2"
                    )
                    / F.lit(MICRO)
                ),
            )
            .cast("long")
            .alias("ate_term_micro"),
        )
        .orderBy("stratum")
    )


def quantile_treatment_effects(
    df: DataFrame,
    treated_col: str,
    outcome_col: str,
    tie_col: str,
    deciles: int = 10,
) -> DataFrame:
    """Quantile treatment effects — where the mean ATE (q269) hides
    WHO moved, QTE shows the whole distributional shift: the
    difference of treated and control outcome quantiles at each
    decile (a treatment that helps the tail and hurts the median nets
    to a misleading average; QTE makes that visible, the same
    motivation as q267's Wasserstein only signed and per-quantile).

    Exact order statistics: per arm, the q-th quantile is the row
    with rank ceil(q·n) under (outcome, tie) total order — INTEGER
    rank arithmetic throughout (the q261 portability rule). Returns
    one row per interior decile:
    ``(decile, q_treated, q_control, qte)`` in outcome units, plus
    arm sizes. One rank window per arm (single shuffle each)."""
    if deciles < 2:
        raise ValueError(f"deciles must be >= 2, got {deciles}")
    from pyspark.sql import Window

    d = df.select(
        F.col(treated_col).cast("long").alias("__t"),
        F.col(outcome_col).cast("long").alias("__y"),
        F.col(tie_col).alias("__k"),
    ).filter(
        F.col("__t").isNotNull() & F.col("__y").isNotNull()
    )
    w = Window.partitionBy("__t").orderBy(F.col("__y").asc(), F.col("__k").asc())
    ranked = d.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("__t"))
    )
    spark = df.sparkSession
    qs = spark.range(1, int(deciles)).select(
        F.col("id").cast("long").alias("decile")
    )
    # rank(q) = ceil(q*n/D) with integer ceil
    picked = (
        ranked.crossJoin(F.broadcast(qs))
        .filter(
            F.col("__rn")
            == F.expr(f"(decile * __n + {int(deciles)} - 1) div {int(deciles)}")
        )
        .select("decile", "__t", "__y", "__n")
    )
    t_side = picked.filter(F.col("__t") == 1).select(
        "decile", F.col("__y").alias("q_treated"), F.col("__n").alias("n_treated")
    )
    c_side = picked.filter(F.col("__t") == 0).select(
        "decile", F.col("__y").alias("q_control"), F.col("__n").alias("n_control")
    )
    return (
        t_side.join(c_side, "decile")
        .select(
            "decile",
            "n_treated",
            "n_control",
            "q_treated",
            "q_control",
            (F.col("q_treated") - F.col("q_control")).cast("long").alias("qte"),
        )
        .orderBy("decile")
    )


def aipw_report(
    df: DataFrame,
    treat_col: str,
    y_col: str,
    x_col: str,
    prop_iterations: int = 8,
    lr: float = 0.5,
    clip_milli: int = 20,
) -> DataFrame:
    """AIPW (augmented inverse-propensity-weighted) average treatment
    effect — the doubly-robust estimator that completes the causal
    shelf: consistent if EITHER the propensity model OR the outcome
    model is right, unlike q269's stratified ATE (propensity-free,
    coarse) and the naive difference of means (neither). The
    estimator, per row:

        ψᵢ = μ₁(xᵢ) − μ₀(xᵢ) + Tᵢ·(yᵢ−μ₁(xᵢ))/eᵢ − (1−Tᵢ)·(yᵢ−μ₀(xᵢ))/(1−eᵢ)

    with e(x) a logistic propensity (operators/logreg's engine-exact
    GD — integer-micro trajectory, σ snapped at 9 decimals) clipped to
    [clip_milli, 1000−clip_milli] milli-units (overlap guard: an
    unclipped e→0 row would dominate the sum), and μ_t(x) per-arm OLS
    lines from exact-BIGINT moment sums solved in bit-deterministic
    IEEE doubles. Each ψᵢ is snapped to integer micro-units before the
    global sum (the logreg device), so ATE = Σψ/n is exact-integer
    reproducible under any partitioning and a SQL oracle replays the
    whole pipeline — propensity iterations, arm fits, ψ — op-for-op.

    ``y_col`` and ``x_col`` must be integer-scaled by the caller
    (bounded: |ψ| ≤ ~|y|·1000/clip_milli, and the micro-snapped sum
    must fit BIGINT — |y| ≤ 10⁵ with clip 20 holds to ~10⁹ rows).
    ``treat_col`` must be 0/1 (logreg raises otherwise).

    Cost (the 100 TB profile): prop_iterations + 2 tree-reduced global
    aggregates over a cached 3-column integer projection; driver state
    is 2 propensity micro-weights + 4 OLS doubles; the ψ pass is one
    map expression + aggregate. Nothing is shuffled row-wise, ever.

    Returns one row: (n, n_treat, ate_micro_units,
    naive_diff_micro_units, prop_w0_micro, prop_w1_micro).
    """
    from owl_etl_spark.operators.logreg import (
        _round_half_away,
        logistic_regression_fit,
    )

    work = seal(
        df.select(
            F.col(treat_col).cast("long").alias("__t"),
            F.col(y_col).cast("long").alias("__y"),
            F.col(x_col).cast("long").alias("__x"),
            F.lit(1).cast("long").alias("__one"),
        )
    )
    pw = logistic_regression_fit(
        work, "__t", ["__one", "__x"], iterations=prop_iterations, lr=lr
    )

    def arm(t: int, name: str):
        c = F.col("__t") == t
        return [
            F.count(F.when(c, F.lit(1))).cast("long").alias(f"{name}n"),
            F.sum(F.when(c, F.col("__x"))).cast("long").alias(f"{name}x"),
            F.sum(F.when(c, F.col("__x") * F.col("__x"))).cast("long").alias(f"{name}xx"),
            F.sum(F.when(c, F.col("__y"))).cast("long").alias(f"{name}y"),
            F.sum(F.when(c, F.col("__x") * F.col("__y"))).cast("long").alias(f"{name}xy"),
        ]
    moms = work.agg(*(arm(1, "__a") + arm(0, "__b"))).collect()[0]

    def ols(name: str) -> tuple[float, float]:
        nn, sx = float(moms[f"{name}n"]), float(moms[f"{name}x"] or 0)
        sxx, sy = float(moms[f"{name}xx"] or 0), float(moms[f"{name}y"] or 0)
        sxy = float(moms[f"{name}xy"] or 0)
        det = sxx * nn - sx * sx
        if nn == 0 or det == 0.0:
            raise ValueError(
                "aipw_report: an arm is empty or has a constant covariate — "
                "the outcome model is unidentified"
            )
        b1 = (nn * sxy - sx * sy) / det
        b0 = (sxx * sy - sx * sxy) / det
        return b0, b1
    b0_1, b1_1 = ols("__a")
    b0_0, b1_0 = ols("__b")

    z = (F.lit(pw[0]) + F.lit(pw[1]) * F.col("__x")).cast("double") / F.lit(1_000_000.0)
    e_raw = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    lo = clip_milli / 1000.0
    e = F.least(F.greatest(e_raw, F.lit(lo)), F.lit(1.0 - lo))
    mu1 = F.lit(b0_1) + F.lit(b1_1) * F.col("__x").cast("double")
    mu0 = F.lit(b0_0) + F.lit(b1_0) * F.col("__x").cast("double")
    t_d = F.col("__t").cast("double")
    y_d = F.col("__y").cast("double")
    psi = (
        (mu1 - mu0)
        + t_d * (y_d - mu1) / e
        - (F.lit(1.0) - t_d) * (y_d - mu0) / (F.lit(1.0) - e)
    )
    agg = work.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__t").cast("long").alias("n_treat"),
        F.sum(F.round(psi * F.lit(1_000_000.0)).cast("long")).cast("long").alias("__spsi"),
    )
    na, sy1 = moms["__an"], moms["__ay"] or 0
    nb, sy0 = moms["__bn"], moms["__by"] or 0
    naive = _round_half_away(sy1 / na * 1_000_000.0 - sy0 / nb * 1_000_000.0)
    return agg.select(
        "n",
        "n_treat",
        F.round(F.col("__spsi") / F.col("n")).cast("long").alias("ate_micro_units"),
        F.lit(naive).cast("long").alias("naive_diff_micro_units"),
        F.lit(pw[0]).cast("long").alias("prop_w0_micro"),
        F.lit(pw[1]).cast("long").alias("prop_w1_micro"),
    )


def group_sequential_readout(
    df: DataFrame,
    look_col: str,
    group_col: str,
    value_col: str,
    n_looks: int,
    z_alpha_obf: float = 2.024,
) -> DataFrame:
    """O'Brien-Fleming group-sequential monitoring readout — the
    fixed-schedule complement to q237's SPRT: an experiment peeked at
    ``n_looks`` interim analyses keeps its overall α only if look k
    must clear the inflated boundary z ≥ z_OBF·√(K/k) (hardest early,
    ≈ the fixed-sample z_crit by the final look; z_OBF ≈ 2.024 for
    K = 4 at two-sided α = 0.05 — caller supplies the constant for
    other schedules, it is a design parameter, not data).

    ``look_col`` must be an ordinal 1..K look index the caller derives
    (calendar months, data quartiles); each readout row is CUMULATIVE
    through its look. Per look the Welch z is computed from exact
    BIGINT moments (Σv, Σv² of integer-unit values; the
    ab_test_report/q59 discipline) so every statistic is
    engine-portable; boundaries are literal arithmetic. Returns one
    row per look: (look, n_a, n_b, diff_micro, z_milli,
    boundary_milli, reject) — reject uses a STRICT > on the
    milli-rounded values, the documented deterministic rule.

    Degenerate looks RAISE rather than silently distort the schedule:
    a look index whose rows all belong to one arm (the arms are
    full-outer-joined, so it cannot just vanish from the readout) and
    a zero-variance look (se = 0, z undefined) both raise — a
    monitoring schedule with a missing or degenerate look is a data
    problem the analyst must see, not a NULL row.

    One aggregate keyed by (look, group) over the rows, then
    cumulative sums over the K·2-row frame — nothing row-sized past
    the first aggregate, the 100 TB monitoring shape.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("__g")
        .orderBy("__look")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per = (
        df.select(
            F.col(look_col).cast("long").alias("__look"),
            F.col(group_col).cast("long").alias("__g"),
            F.col(value_col).cast("long").alias("__v"),
        )
        .groupBy("__look", "__g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__v").cast("long").alias("__s"),
            F.sum(F.col("__v") * F.col("__v")).cast("long").alias("__s2"),
        )
        .withColumn("__cn", F.sum("__n").over(w))
        .withColumn("__cs", F.sum("__s").over(w))
        .withColumn("__cs2", F.sum("__s2").over(w))
    )
    a = per.filter(F.col("__g") == 1).select(
        "__look",
        F.col("__cn").alias("n_a"),
        F.col("__cs").alias("__sa"),
        F.col("__cs2").alias("__sa2"),
    )
    b = per.filter(F.col("__g") == 0).select(
        "__look",
        F.col("__cn").alias("n_b"),
        F.col("__cs").alias("__sb"),
        F.col("__cs2").alias("__sb2"),
    )
    # full outer: a look present in only one arm must RAISE below, not
    # silently vanish from the readout (the inner-join failure mode)
    j = a.join(b, "__look", "full")
    single_arm = F.col("n_a").isNull() | F.col("n_b").isNull()
    arm_guard = F.raise_error(
        F.concat(
            F.lit("group_sequential_readout: look "),
            F.col("__look").cast("string"),
            F.lit(" has rows for only one arm; every look must contain both groups"),
        )
    )
    n_a = F.when(single_arm, arm_guard.cast("long")).otherwise(F.col("n_a"))
    n_b = F.when(single_arm, arm_guard.cast("long")).otherwise(F.col("n_b"))
    mean_a = F.col("__sa").cast("double") / n_a.cast("double")
    mean_b = F.col("__sb").cast("double") / n_b.cast("double")
    # clamp at 0: E[x^2] - mean^2 can cancel to a tiny NEGATIVE double
    # for large-magnitude values, which would make sqrt() return NaN
    # and mislabel a precision artifact as "zero pooled variance"
    var_a = F.greatest(
        F.col("__sa2").cast("double") / n_a.cast("double") - mean_a * mean_a,
        F.lit(0.0),
    )
    var_b = F.greatest(
        F.col("__sb2").cast("double") / n_b.cast("double") - mean_b * mean_b,
        F.lit(0.0),
    )
    se = F.sqrt(var_a / n_a.cast("double") + var_b / n_b.cast("double"))
    z_milli = F.when(
        se > 0, F.round((mean_a - mean_b) / se * 1000)
    ).when(
        F.isnan(se),
        F.raise_error(
            F.concat(
                F.lit("group_sequential_readout: look "),
                F.col("__look").cast("string"),
                F.lit(
                    " produced a non-finite standard error (overflow in"
                    " the sum-of-squares pass); z is undefined"
                ),
            )
        ).cast("double"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("group_sequential_readout: look "),
                F.col("__look").cast("string"),
                F.lit(" has zero pooled variance (se = 0); z is undefined"),
            )
        ).cast("double")
    ).cast("long")
    boundary_milli = F.round(
        F.lit(z_alpha_obf)
        * F.sqrt(F.lit(float(n_looks)) / F.col("__look").cast("double"))
        * 1000
    ).cast("long")
    return j.select(
        F.col("__look").alias("look"),
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        F.round((mean_a - mean_b) * 1_000_000).cast("long").alias("diff_micro"),
        z_milli.alias("z_milli"),
        boundary_milli.alias("boundary_milli"),
        (F.abs(z_milli) > boundary_milli).alias("reject"),
    )
