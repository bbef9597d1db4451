"""Distribution-comparison test statistics, exactly.

Three classical nonparametric/categorical tests as per-group
aggregates — the drift/AB toolkit beyond PSI (operators/drift.py) and
Welch (operators/profile.py::ab_test_report):

- ``ks_test_report``: two-sample Kolmogorov-Smirnov D — the maximum
  CDF gap. Distribution-free, sensitive anywhere (PSI needs bins and
  misses tail moves; KS doesn't).
- ``mann_whitney_u``: the rank-sum U statistic + tie-corrected normal
  z — "is one group stochastically larger", robust where Welch's t
  assumes near-normality.
- ``chi_square_report``: Pearson χ² over the FULL contingency grid
  (including empty cells) + Cramér's V — categorical association
  strength, the readout MI (profile.mutual_information_report) does
  not give a scale-free 0..1 for.

Exactness discipline (the library's no-float-accumulation rule):
- KS: the CDF gap at value v compares exact integer cross products —
  d_num(v) = |r₁(v)·n₂ − r₂(v)·n₁| — and D = max(d_num)/(n₁·n₂) is
  ONE final double division. No per-row floats at all.
- U: built on DOUBLED average ranks via the rank identity
  2·avgrank = rank_asc − rank_desc + n + 1 (exact BIGINT — the
  spearman_by_group device); 2U₁ = 2R₁ − n₁(n₁+1) is exact, and only
  the z-score's σ (with the standard tie correction using exact
  Σ(t³−t)) is double, rounded at 6.
- χ²: each cell's term is snapped to integer micro-units from exact
  integers — round(1e6·(O·n − cx·cy)²/(n·cx·cy)) — then summed as
  BIGINT in any order.

Overflow contracts are enforced with woven runtime guards
(max_group_rows), sized per statistic in each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.session import seal

#: Largest per-group row count each test's exact integer sums accept.
KS_MAX_GROUP_ROWS = 1_000_000_000
CHI_SQUARE_MAX_GROUP_ROWS = 1_000_000


def _guarded(col, limit: int, what: str):
    return F.when(
        col > int(limit),
        F.raise_error(
            F.concat(
                F.lit(f"{what}: group exceeds max_group_rows="),
                F.lit(str(int(limit))),
                F.lit(" (integer-exactness bound); pre-aggregate or sample"),
            )
        ).cast("long"),
    ).otherwise(col)


def ks_test_report(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    side_col: str,
    side_a,
    side_b,
) -> DataFrame:
    """Per-key two-sample KS statistic between the ``value_col``
    distributions of rows where ``side_col`` equals ``side_a`` vs
    ``side_b`` (other rows and null values/sides are excluded —
    documented discipline). Returns ``(*keys, n_a, n_b, d_num,
    ks_d)``: d_num = max over distinct values of
    |r_a·n_b − r_b·n_a| (exact BIGINT; r = running ≤-count), and
    ks_d = d_num/(n_a·n_b) rounded at 6.

    The guard binds at n_a·n_b ≤ 2^63 — ``KS_MAX_GROUP_ROWS`` is
    10⁹ per side, effectively unbounded.

    Plan: one (keys, value) aggregate with conditional side counts
    (map-side combined), one window pass (running sums + max) on the
    keys sort, one final per-key aggregate — a single key shuffle
    end-to-end, volumes bounded by distinct values after the first
    aggregate.
    """
    v = F.col(value_col).cast("long")
    s = F.col(side_col)
    work = df.select(*keys, v.alias("__v"), s.alias("__s")).filter(
        F.col("__v").isNotNull() & F.col("__s").isin([side_a, side_b])
    )
    per_v = work.groupBy(*keys, "__v").agg(
        F.sum(F.when(F.col("__s") == side_a, 1).otherwise(0)).cast("long").alias("__ca"),
        F.sum(F.when(F.col("__s") == side_b, 1).otherwise(0)).cast("long").alias("__cb"),
    )
    w_run = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    staged = (
        per_v.withColumn("__ra", F.sum("__ca").over(w_run))
        .withColumn("__rb", F.sum("__cb").over(w_run))
        .withColumn("__na", F.sum("__ca").over(w_all))
        .withColumn("__nb", F.sum("__cb").over(w_all))
    )
    staged = staged.withColumn(
        "__na", _guarded(F.col("__na"), KS_MAX_GROUP_ROWS, "ks_test_report")
    )
    d_num = F.abs(F.col("__ra") * F.col("__nb") - F.col("__rb") * F.col("__na"))
    agg = staged.groupBy(*keys).agg(
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        F.max(d_num).cast("long").alias("d_num"),
    )
    return agg.select(
        *keys,
        "n_a",
        "n_b",
        "d_num",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(
                F.col("d_num").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ),
        ).alias("ks_d"),
    )


def mann_whitney_u(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    side_col: str,
    side_a,
    side_b,
    max_group_rows: int = 100_000,
) -> DataFrame:
    """Per-key Mann-Whitney U between ``side_a`` and ``side_b`` rows
    of ``value_col`` (others/nulls excluded). Returns ``(*keys, n_a,
    n_b, u2_a, z)``: u2_a = 2·U_a exactly (doubled to stay integer
    under half-ranks; U_a = u2_a/2), and z the tie-corrected normal
    approximation (null when the variance degenerates — all values
    tied), rounded at 6.

    Doubled combined ranks are exact BIGINTs via
    2·avgrank = rank_asc − rank_desc + n + 1; 2R_a sums them over
    side a, and 2U_a = 2R_a − n_a(n_a+1). Tie correction uses the
    exact Σ(t³ − t) over tie-block sizes; σ² = (n_a·n_b/12)·((n+1) −
    Σ(t³−t)/(n(n−1))) is assembled in double from those exact
    integers (each a single IEEE op), so z is engine-identical before
    its rounding. The t³ sum binds the guard: max_group_rows defaults
    to 10⁵ (t³ ≤ 10¹⁵).

    Plan: two rank windows + per-key aggregate on one key shuffle,
    plus a tie-size aggregate riding the same keys — no join of row
    volumes.
    """
    v = F.col(value_col).cast("long")
    s = F.col(side_col)
    work = df.select(*keys, v.alias("__v"), s.alias("__s")).filter(
        F.col("__v").isNotNull() & F.col("__s").isin([side_a, side_b])
    )
    wa = Window.partitionBy(*keys).orderBy(F.col("__v").asc())
    wd = Window.partitionBy(*keys).orderBy(F.col("__v").desc())
    w_all = Window.partitionBy(*keys)
    n_w = F.count(F.lit(1)).over(w_all)
    ranked = work.select(
        *keys,
        "__s",
        "__v",
        (F.rank().over(wa) - F.rank().over(wd) + n_w + 1).alias("__r2"),
        n_w.alias("__n"),
    )
    # weave the guard into __r2 (a column the aggregate actually
    # consumes — guarding __n alone would be pruned by Catalyst)
    ranked = ranked.withColumn(
        "__r2",
        F.when(
            F.col("__n") > int(max_group_rows),
            F.raise_error(
                F.concat(
                    F.lit("mann_whitney_u: group exceeds max_group_rows="),
                    F.lit(str(int(max_group_rows))),
                    F.lit(" (tie-cube integer bound); pre-aggregate or sample"),
                )
            ).cast("long"),
        ).otherwise(F.col("__r2")),
    )
    agg = ranked.groupBy(*keys).agg(
        F.sum(F.when(F.col("__s") == side_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("__s") == side_b, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("__s") == side_a, F.col("__r2")).otherwise(0))
        .cast("long")
        .alias("__r2a"),
    )
    ties = (
        work.groupBy(*keys, "__v")
        .agg(F.count(F.lit(1)).cast("long").alias("__t"))
        .groupBy(*keys)
        .agg(
            F.sum(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
            .cast("long")
            .alias("__tie3")
        )
    )
    j = agg.join(ties, keys)
    n = (F.col("n_a") + F.col("n_b")).cast("long")
    u2a = (F.col("__r2a") - F.col("n_a") * (F.col("n_a") + 1)).cast("long")
    nd = n.cast("double")
    na_d, nb_d = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    var = (
        (na_d * nb_d / F.lit(12.0))
        * ((nd + F.lit(1.0)) - F.col("__tie3").cast("double") / (nd * (nd - F.lit(1.0))))
    )
    # z uses U_a = u2a/2 and mean n_a·n_b/2: z = (u2a − n_a·n_b)/(2σ)
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0),
        F.round(
            (u2a - F.col("n_a") * F.col("n_b")).cast("double")
            / (F.lit(2.0) * F.sqrt(var)),
            6,
        ),
    )
    return j.select(*keys, "n_a", "n_b", u2a.alias("u2_a"), z.alias("z"))


def chi_square_report(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key Pearson χ² of independence between two categoricals,
    over the FULL n_x×n_y grid — empty cells included, where naive
    joint-only sums silently understate the statistic. Returns
    ``(*keys, n, n_x, n_y, dof, chi2_micro, cramers_v)``:
    chi2_micro = Σ_cells round(1e6·(O·n − cx·cy)²/(n·cx·cy)) as exact
    BIGINT (each term one double division of exact integers, snapped
    — the entropy/PSI micro discipline), dof = (n_x−1)(n_y−1), and
    Cramér's V = √(χ²/(n·min(n_x−1, n_y−1))) rounded at 6 (null for
    degenerate 1×k grids). Null x/y rows are excluded up front.

    The O·n product binds the guard (must stay ≤ 2^63):
    ``CHI_SQUARE_MAX_GROUP_ROWS`` is 10⁶ rows per group.

    Plan: one joint-cell aggregate, marginal rollups OF CELLS, a grid
    build by joining the two marginal lists per key (n_x·n_y rows —
    category-cardinality-bounded), left join of the joint counts, one
    per-key aggregate.
    """
    work = df.select(
        *keys, F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    joint = work.groupBy(*keys, "__x", "__y").agg(
        F.count(F.lit(1)).cast("long").alias("__o")
    )
    mx = joint.groupBy(*keys, "__x").agg(F.sum("__o").cast("long").alias("__cx"))
    my = joint.groupBy(*keys, "__y").agg(F.sum("__o").cast("long").alias("__cy"))
    tot = joint.groupBy(*keys).agg(F.sum("__o").cast("long").alias("__n"))
    tot = tot.withColumn(
        "__n", _guarded(F.col("__n"), CHI_SQUARE_MAX_GROUP_ROWS, "chi_square_report")
    )
    grid = mx.join(my, keys) if keys else mx.crossJoin(my)
    grid = grid.join(joint, [*keys, "__x", "__y"], "left").withColumn(
        "__o", F.coalesce(F.col("__o"), F.lit(0)).cast("long")
    )
    grid = grid.join(F.broadcast(tot), keys) if keys else grid.crossJoin(F.broadcast(tot))
    diff = (F.col("__o") * F.col("__n") - F.col("__cx") * F.col("__cy")).cast("double")
    denom = (F.col("__n") * F.col("__cx") * F.col("__cy")).cast("double")
    term = F.round(F.lit(1_000_000.0) * diff * diff / denom).cast("long")
    agg = grid.withColumn("__t", term).groupBy(*keys).agg(
        F.max("__n").alias("n"),
        F.count_distinct("__x").cast("long").alias("n_x"),
        F.count_distinct("__y").cast("long").alias("n_y"),
        F.sum("__t").cast("long").alias("chi2_micro"),
    )
    dof = ((F.col("n_x") - 1) * (F.col("n_y") - 1)).cast("long")
    mink = F.least(F.col("n_x") - 1, F.col("n_y") - 1)
    v = F.when(
        mink > 0,
        F.round(
            F.sqrt(
                F.col("chi2_micro").cast("double")
                / F.lit(1_000_000.0)
                / (F.col("n").cast("double") * mink.cast("double"))
            ),
            6,
        ),
    )
    return agg.select(
        *keys, "n", "n_x", "n_y", dof.alias("dof"), "chi2_micro", v.alias("cramers_v")
    )


def hill_tail_index(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k_cap: int = 100,
) -> DataFrame:
    """Hill estimator of the power-law tail index per group — the
    heavy-tail readout the moment-based stats here can't give: if
    P(X > x) ~ x^(−α), variance-based risk metrics lie for α ≤ 2 and
    means lie for α ≤ 1; α̂ says WHICH regime the data is in
    (revenue concentration, token-frequency tails, latency spikes).

        γ̂ = (1/k) Σ_{i=1..k} ln( x_(i) / x_(k+1) ),   α̂ = 1/γ̂

    over the top k+1 order statistics. k = min(k_cap, n div 10)
    (the usual 10% heuristic, capped — k selection is the famous Hill
    weakness, so it is a visible output column, not a buried choice).

    Integer discipline: order statistics come from ONE rank window
    per group (exact, ties by value then count context); each log
    term rounds ln of an EXACT integer ratio to micro-nats (the q245
    device) before the exact BIGINT sum and one floor division by k.
    Non-positive values are excluded (a power-law tail is a statement
    about positive magnitudes — stated). Returns
    ``(group, n, k, gamma_micro, alpha_micro)`` with α as
    fd(1e12, γ) and NULL when γ = 0 (degenerate ties)."""
    from pyspark.sql import Window

    d = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("long").alias("__v"),
    ).filter(F.col("__g").isNotNull() & (F.col("__v") > 0))
    wg = Window.partitionBy("__g").orderBy(F.col("__v").desc())
    ranked = d.withColumn("__r", F.row_number().over(wg)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("__g"))
    )
    kk = F.least(F.lit(int(k_cap)), F.expr("__n div 10"))
    ranked = ranked.withColumn("__k", kk).filter(F.col("__r") <= F.col("__k") + 1)
    ref = ranked.filter(F.col("__r") == F.col("__k") + 1).select(
        F.col("__g").alias("__g2"), F.col("__v").alias("__xk1")
    )
    terms = (
        ranked.filter(F.col("__r") <= F.col("__k"))
        .join(ref, ranked["__g"] == ref["__g2"])
        .select(
            "__g",
            "__n",
            "__k",
            F.round(
                F.log(F.col("__v").cast("double") / F.col("__xk1").cast("double"))
                * 1e6
            )
            .cast("long")
            .alias("__lt"),
        )
    )
    fd = lambda x, dv: f"(({x}) - (((({x}) % ({dv})) + ({dv})) % ({dv}))) div ({dv})"
    return (
        terms.groupBy(F.col("__g").alias("group"))
        .agg(
            F.max("__n").cast("long").alias("n"),
            F.max("__k").cast("long").alias("k"),
            F.sum("__lt").cast("long").alias("__s"),
        )
        .select(
            "group",
            "n",
            "k",
            F.expr(fd("__s", "k")).cast("long").alias("gamma_micro"),
            F.when(
                F.expr(fd("__s", "k")) > 0,
                F.expr(fd("1000000000000", f"greatest({fd('__s', 'k')}, 1)")),
            )
            .cast("long")
            .alias("alpha_micro"),
        )
        .orderBy("group")
    )


def permutation_mean_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    n_perms: int = 64,
) -> DataFrame:
    """Permutation test for a two-group mean difference — the
    assumption-free sibling of the parametric tests here (t-like
    CUPED CIs, Mann-Whitney ranks): the null distribution comes from
    RELABELING the data itself, so it is exact for whatever weird
    distribution the values have. Each of ``n_perms`` pseudo-
    permutations reassigns every row's group by an md5 hash of
    (key, permutation index) — the engine's deterministic stand-in
    for random relabeling (marginally Bernoulli(n1/n) labels rather
    than an exact-count shuffle; the standard large-sample concession,
    stated — exact-count permutation needs a global shuffle per
    replicate).

    Integer discipline: per permutation the group sums/counts are
    exact BIGINTs; each permuted |mean diff| micro-snaps through ONE
    exact-multiple floor division pair; the p-value numerator counts
    permutations whose |diff| ≥ the observed |diff| (both in micro).
    Returns one row: ``(n1, n2, diff_micro, n_ge, n_perms,
    p_value_micro)`` with the +1 continuity numerator (observed
    counts itself — the standard unbiased form).

    Plan: explode ×n_perms (constant map-side fan-out, like the q268
    bootstrap) → ONE (perm, side) aggregate → a perm-count reduce."""
    if n_perms < 4:
        raise ValueError(f"permutation_mean_test: n_perms must be >= 4")
    from owl_etl_spark.functions.hashing import md5_long

    d = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("long").alias("__v"),
        F.col(key_col).cast("string").alias("__k"),
    ).filter(
        F.col("__g").isNotNull() & F.col("__v").isNotNull() & F.col("__k").isNotNull()
    )
    groups = sorted(r[0] for r in d.select("__g").distinct().collect())
    if len(groups) != 2:
        raise ValueError(f"permutation_mean_test: need exactly 2 groups, got {groups}")
    g1 = groups[0]
    d = seal(d, eager=False)
    base = d.groupBy().agg(
        F.sum(F.when(F.col("__g") == g1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("__g") != g1, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("__g") == g1, F.col("__v")).otherwise(0))
        .cast("long")
        .alias("__s1"),
        F.sum(F.when(F.col("__g") != g1, F.col("__v")).otherwise(0))
        .cast("long")
        .alias("__s2"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    ).collect()[0]
    n1, n2 = int(base["n1"]), int(base["n2"])
    if min(n1, n2) == 0:
        raise ValueError("permutation_mean_test: one group is empty")
    fd = lambda x, dv: f"(({x}) - (((({x}) % ({dv})) + ({dv})) % ({dv}))) div ({dv})"
    obs = abs(
        (int(base["__s1"]) * 1_000_000) // n1 - (int(base["__s2"]) * 1_000_000) // n2
    )
    # pseudo-permutation labels: row joins side 1 when
    # md5(key#perm#p) mod n < n1 — marginally the right proportions
    n_tot = n1 + n2
    perms = (
        d.select(
            "__v", "__k", F.explode(F.expr(f"sequence(0, {int(n_perms) - 1})")).alias("__p")
        )
        .withColumn(
            "__side1",
            (
                md5_long(
                    F.concat(F.col("__k"), F.lit("#perm#"), F.col("__p").cast("string"))
                )
                % n_tot
                < n1
            ),
        )
        .groupBy("__p")
        .agg(
            F.sum(F.when(F.col("__side1"), F.col("__v")).otherwise(0))
            .cast("long")
            .alias("__ps1"),
            F.sum(F.when(F.col("__side1"), 1).otherwise(0)).cast("long").alias("__pn1"),
            F.sum(F.when(~F.col("__side1"), F.col("__v")).otherwise(0))
            .cast("long")
            .alias("__ps2"),
            F.sum(F.when(~F.col("__side1"), 1).otherwise(0)).cast("long").alias("__pn2"),
        )
        .filter((F.col("__pn1") > 0) & (F.col("__pn2") > 0))
        .select(
            F.abs(
                F.expr(fd("__ps1 * 1000000", "__pn1"))
                - F.expr(fd("__ps2 * 1000000", "__pn2"))
            ).alias("__pd")
        )
    )
    agg = perms.agg(
        F.sum((F.col("__pd") >= obs).cast("long")).cast("long").alias("n_ge"),
        F.count(F.lit(1)).cast("long").alias("__used"),
    )
    spark = df.sparkSession
    return agg.select(
        F.lit(n1).cast("long").alias("n1"),
        F.lit(n2).cast("long").alias("n2"),
        F.lit(obs).cast("long").alias("diff_micro"),
        "n_ge",
        F.col("__used").cast("long").alias("n_perms"),
        F.expr(fd("(n_ge + 1) * 1000000", "__used + 1")).cast("long").alias(
            "p_value_micro"
        ),
    )
