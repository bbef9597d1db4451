"""K-sample inference and multiple-testing operators.

Round-10 wave 5 of the engine's experiment/stats toolkit (beside
``stats_tests.py``'s two-sample KS/MWU/χ²/permutation and
``experiment.py``'s A/B readouts): one-way ANOVA, Kruskal-Wallis,
Brown-Forsythe variance homogeneity, Cochran-Mantel-Haenszel
stratified 2×2, and a Benjamini-Hochberg FDR screen over exact
permutation p-values.

Reference parity note: the reference ETL (Jave-OWL/owl-ETL) has no
statistics surface — these extend the engine's beyond-reference
analytics inventory (SURVEY.md §2 "beyond" rows), using the same
cross-engine exactness discipline as the rest of the suite.

Integer discipline (shared with ``chi_square_report``): every
statistic is assembled from exact BIGINT group moments; each
per-group/per-cell floating term is ONE fixed double expression of
those exact integers, snapped to micro (``round(1e6·term)`` →
BIGINT) so the cross-group sum is an exact, order-free BIGINT sum
that both Spark and DuckDB reproduce bit-identically.

Scale posture: every operator here is one-or-two data-sized
aggregates down to a group-cardinality-bounded frame (k groups /
strata / distinct values), then scalar arithmetic on that tiny
frame. No collects of row volumes, no cartesians; the only
driver-side step is the FDR screen's group-stats broadcast (bounded
by the number of hypotheses, i.e. the number of groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.functions.hashing import md5_long
from owl_etl_spark.session import seal

_M = 1_000_000
#: Largest tie block or group the exact pairwise statistics accept (the
#: integer-exactness bound of their BIGINT pair counts).
MAX_TIE_BLOCK = 2_000_000


def _fd(x: str, d: str):
    """Exact floor division of (possibly negative) BIGINT SQL
    fragments — Spark's integer ``div`` made identical to DuckDB's
    ``//`` via the positive-mod identity (the q291 device). String
    fragments, not Columns: ``div`` has no Column operator, and the
    double-division fallback loses exactness past 2^53."""
    return F.expr(f"(({x}) - (((({x}) % ({d})) + ({d})) % ({d}))) div ({d})")


def _guarded(col, limit: int, what: str):
    return F.when(
        col > int(limit),
        F.raise_error(
            F.concat(
                F.lit(f"{what}: exceeds bound "),
                F.lit(str(int(limit))),
                F.lit(" (integer-exactness guard); pre-aggregate or sample"),
            )
        ).cast("long"),
    ).otherwise(col)


def _anova_terms(d: DataFrame) -> DataFrame:
    """Shared ANOVA core over a frame with integer ``__g``-grouped
    ``__v``: per-group exact BIGINT moments → micro-snapped
    between/within terms → one exact global sum.

    Returns one row ``(k_groups, n, ssb_micro, ssw_micro, f_micro,
    eta2_micro)``. f/eta² are NULL when degenerate (k < 2, n ≤ k, or
    SSW = 0).
    """
    per = d.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__nj"),
        F.sum("__v").cast("long").alias("__sj"),
        F.sum(F.col("__v") * F.col("__v")).cast("long").alias("__s2j"),
    )
    sjd = F.col("__sj").cast("double")
    njd = F.col("__nj").cast("double")
    s2jd = F.col("__s2j").cast("double")
    terms = per.select(
        "__nj",
        "__sj",
        "__s2j",
        # between-part contribution s_j²/n_j and within-part
        # contribution s2_j − s_j²/n_j, each ONE double expression of
        # exact BIGINTs, micro-snapped (engine-identical IEEE ops)
        F.round(F.lit(float(_M)) * sjd * sjd / njd).cast("long").alias("__bt"),
        F.round(F.lit(float(_M)) * (s2jd - sjd * sjd / njd)).cast("long").alias("__wt"),
    )
    g = terms.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("__nj").cast("long").alias("n"),
        F.sum("__sj").cast("long").alias("__s"),
        F.sum("__bt").cast("long").alias("__b"),
        F.sum("__wt").cast("long").alias("ssw_micro"),
    )
    grand_micro = F.round(
        F.lit(float(_M))
        * F.col("__s").cast("double")
        * F.col("__s")
        / F.col("n").cast("double")
    ).cast("long")
    g = g.withColumn("ssb_micro", (F.col("__b") - grand_micro).cast("long"))
    ok = (F.col("k_groups") > 1) & (F.col("n") > F.col("k_groups")) & (
        F.col("ssw_micro") > 0
    )
    f_micro = F.round(
        F.lit(float(_M))
        * (F.col("ssb_micro").cast("double") / (F.col("k_groups") - 1).cast("double"))
        / (F.col("ssw_micro").cast("double") / (F.col("n") - F.col("k_groups")).cast("double"))
    ).cast("long")
    eta2_micro = F.round(
        F.lit(float(_M))
        * F.col("ssb_micro").cast("double")
        / (F.col("ssb_micro") + F.col("ssw_micro")).cast("double")
    ).cast("long")
    return g.select(
        "k_groups",
        "n",
        "ssb_micro",
        "ssw_micro",
        F.when(ok, f_micro).alias("f_micro"),
        F.when(ok, eta2_micro).alias("eta2_micro"),
    )


def anova_oneway(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """One-way ANOVA over an integer value column: does the group mean
    differ across k groups? The k-sample extension of the engine's
    two-sample toolkit (q247 CUPED t-shape, q321 Cohen's d).

    Returns one row ``(k_groups, n, ssb_micro, ssw_micro, f_micro,
    eta2_micro)`` — the F statistic (dof k−1, n−k) and η² effect
    share, both micro-scaled. F/η² are NULL when k < 2, n ≤ k, or the
    within-group variance degenerates to 0.

    Exactness: per-group (n_j, Σv, Σv²) are exact BIGINTs (callers
    pre-round ``value_col`` to integers — the same contract as every
    stats operator here); the between/within decomposition snaps each
    per-group term once (see module docstring) so SSB/SSW are
    order-free exact BIGINT micro sums. The Σv² moment binds the
    caller's scaling choice: n·max(v²) must stay ≪ 2^63.

    Plan: one (group) aggregate → k-row frame → one global aggregate.
    Single shuffle of group cardinality; map-side combined.
    """
    d = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("long").alias("__v"),
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    return _anova_terms(d)


def brown_forsythe(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Brown-Forsythe test of variance homogeneity: one-way ANOVA on
    absolute deviations from the GROUP MEDIAN — the robust Levene
    variant (median-centered beats mean-centered under skew, the
    standard recommendation). The prerequisite check for trusting
    q334-style pooled-variance ANOVA.

    Returns the same row shape as :func:`anova_oneway`, computed on
    doubled deviations ``|2v − 2·median_j|`` (exact integers — the
    doubled-median device keeps even-count medians integral). The F
    ratio is scale-invariant, so this IS the Brown-Forsythe W up to
    the micro snap.

    Median discipline: per group, the two middle order statistics at
    1-indexed positions ⌈n/2⌉ and ⌊n/2⌋+1 come from one row_number
    window ordered by value alone — tie assignment among equal values
    is nondeterministic but the VALUE at a position is not.

    Plan: one rank window + one k-row median frame broadcast back,
    then the shared single-shuffle ANOVA core.
    """
    d = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("long").alias("__v"),
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    w = Window.partitionBy("__g").orderBy(F.col("__v").asc())
    wn = Window.partitionBy("__g")
    ranked = d.select(
        "__g",
        "__v",
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    p1 = F.expr("(__n + 1) div 2")
    p2 = F.expr("__n div 2 + 1")
    # odd n: p1 == p2 and the single middle row contributes v twice
    # (2·median = 2v); even n: the two middle rows contribute v each
    med = (
        ranked.filter((F.col("__r") == p1) | (F.col("__r") == p2))
        .groupBy("__g")
        .agg(
            F.sum(
                F.when(F.col("__r") == p1, F.col("__v")).otherwise(0)
                + F.when(F.col("__r") == p2, F.col("__v")).otherwise(0)
            )
            .cast("long")
            .alias("__med2")
        )
        .withColumnRenamed("__g", "__gm")
    )
    dev = d.join(F.broadcast(med), d["__g"] == med["__gm"]).select(
        "__g", F.abs(F.lit(2) * F.col("__v") - F.col("__med2")).alias("__v")
    )
    return _anova_terms(dev)


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Kruskal-Wallis rank test: do the k group distributions differ
    in location? The k-sample Mann-Whitney (q231's sibling), immune
    to the outliers that leak into q334's mean-based F.

    Returns one row ``(k_groups, n, dof, h_micro, tie_cube_sum,
    h_corrected_micro)``: H from doubled average ranks, the exact
    Σ(t³−t) tie sum, and the tie-corrected H/C. h columns NULL when
    k < 2 or all values tie (C = 0).

    Exactness: joint doubled ranks come from the distinct-value frame
    (2·avgrank(v) = 2·cumcount(≤v) − count(v) + 1 — exact BIGINTs,
    never a row-volume window); 2R_j per group is an exact BIGINT
    sum. Each group's H contribution 3e6·(2R_j)²/(n_j·N·(N+1)) is one
    double expression, micro-snapped, summed exactly. Σ(t³−t) is
    exact BIGINT; the cube binds ``MAX_TIE_BLOCK`` (a single tie
    block beyond ~2.09e6 rows would overflow 2^63 — raise, don't
    corrupt).

    Plan: one (group, value) aggregate, one value-level window over
    the distinct-value frame, one (group) aggregate, one global
    aggregate. One shuffle of distinct-value volume.
    """
    d = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("long").alias("__v"),
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    per_gv = d.groupBy("__g", "__v").agg(F.count(F.lit(1)).cast("long").alias("__c"))
    w_run = Window.orderBy(F.col("__v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    per_v = per_gv.groupBy("__v").agg(F.sum("__c").cast("long").alias("__t"))
    per_v = per_v.withColumn(
        "__t", _guarded(F.col("__t"), MAX_TIE_BLOCK, "kruskal_wallis tie block")
    )
    per_v = per_v.withColumn("__cumle", F.sum("__t").over(w_run).cast("long"))
    # 2·avgrank of value v among all N rows
    per_v = per_v.withColumn(
        "__r2", (F.lit(2) * F.col("__cumle") - F.col("__t") + 1).cast("long")
    )
    joined = per_gv.join(
        per_v.select(F.col("__v").alias("__v2"), "__r2", "__t"),
        per_gv["__v"] == F.col("__v2"),
    )
    per_g = joined.groupBy("__g").agg(
        F.sum("__c").cast("long").alias("__nj"),
        F.sum(F.col("__c") * F.col("__r2")).cast("long").alias("__r2j"),
    )
    ties = per_v.groupBy().agg(
        F.sum(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
        .cast("long")
        .alias("tie_cube_sum"),
        F.sum("__t").cast("long").alias("__n_all"),
    )
    nd = F.col("__n_all").cast("double")
    staged = per_g.crossJoin(F.broadcast(ties)).select(
        "__nj",
        "tie_cube_sum",
        "__n_all",
        F.round(
            F.lit(3.0 * _M)
            * F.col("__r2j").cast("double")
            * F.col("__r2j")
            / (F.col("__nj").cast("double") * nd * (nd + 1.0))
        )
        .cast("long")
        .alias("__ht"),
    )
    g = staged.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.max("__n_all").cast("long").alias("n"),
        F.max("tie_cube_sum").cast("long").alias("tie_cube_sum"),
        F.sum("__ht").cast("long").alias("__hsum"),
    )
    h_micro = (F.col("__hsum") - F.lit(3 * _M) * (F.col("n") + 1)).cast("long")
    n_d = F.col("n").cast("double")
    c_corr = F.lit(1.0) - F.col("tie_cube_sum").cast("double") / (n_d * n_d * n_d - n_d)
    ok = (F.col("k_groups") > 1) & (c_corr > 0)
    return g.select(
        "k_groups",
        "n",
        (F.col("k_groups") - 1).cast("long").alias("dof"),
        F.when(ok, h_micro).alias("h_micro"),
        "tie_cube_sum",
        F.when(ok, F.round(h_micro.cast("double") / c_corr).cast("long")).alias(
            "h_corrected_micro"
        ),
    )


def cmh_test(
    df: DataFrame,
    stratum_col: str,
    treat_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran-Mantel-Haenszel test of a treatment/outcome association
    POOLED ACROSS STRATA — the Simpson's-paradox-proof 2×2 readout
    (q286's stratified-ATE sibling for binary outcomes), plus the
    Mantel-Haenszel common odds ratio.

    ``treat_col``/``outcome_col`` are boolean columns; null rows and
    strata with n < 2 (hypergeometric variance undefined) are
    excluded — stated discipline.

    Returns one row ``(n_strata, n, sum_a, sum_e_micro, sum_v_micro,
    cmh_micro, or_mh_micro)``: the continuity-corrected CMH statistic
    (|Σa − ΣE| − ½)²/ΣV (NULL when ΣV = 0 or the correction exceeds
    the gap) and the MH odds ratio Σ(aᵢdᵢ/nᵢ)/Σ(bᵢcᵢ/nᵢ) (NULL when
    the denominator is 0), both micro-scaled.

    Exactness: per-stratum cells are exact BIGINTs; E = r1·c1/n,
    V = r1·r2·c1·c2/(n²(n−1)), and the OR parts are each one double
    expression of the cells, micro-snapped, summed exactly across
    strata.

    Plan: one (stratum) aggregate → stratum-cardinality frame → one
    global aggregate. Single bounded shuffle.
    """
    d = df.select(
        F.col(stratum_col).cast("string").alias("__s"),
        F.col(treat_col).cast("boolean").alias("__t"),
        F.col(outcome_col).cast("boolean").alias("__o"),
    ).filter(F.col("__s").isNotNull() & F.col("__t").isNotNull() & F.col("__o").isNotNull())
    cells = d.groupBy("__s").agg(
        F.sum((F.col("__t") & F.col("__o")).cast("long")).cast("long").alias("__a"),
        F.sum((F.col("__t") & ~F.col("__o")).cast("long")).cast("long").alias("__b"),
        F.sum((~F.col("__t") & F.col("__o")).cast("long")).cast("long").alias("__c"),
        F.sum((~F.col("__t") & ~F.col("__o")).cast("long")).cast("long").alias("__d"),
    )
    a, b, c, dd = (F.col(x).cast("double") for x in ("__a", "__b", "__c", "__d"))
    n_s = a + b + c + dd
    cells = cells.filter((F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d")) >= 2)
    terms = cells.select(
        "__a",
        (F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d")).alias("__n"),
        F.round(F.lit(float(_M)) * (a + b) * (a + c) / n_s).cast("long").alias("__e"),
        F.round(
            F.lit(float(_M)) * (a + b) * (c + dd) * (a + c) * (b + dd)
            / (n_s * n_s * (n_s - 1.0))
        )
        .cast("long")
        .alias("__v"),
        F.round(F.lit(float(_M)) * a * dd / n_s).cast("long").alias("__orn"),
        F.round(F.lit(float(_M)) * b * c / n_s).cast("long").alias("__ord"),
    )
    g = terms.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("__n").cast("long").alias("n"),
        F.sum("__a").cast("long").alias("sum_a"),
        F.sum("__e").cast("long").alias("sum_e_micro"),
        F.sum("__v").cast("long").alias("sum_v_micro"),
        F.sum("__orn").cast("long").alias("__on"),
        F.sum("__ord").cast("long").alias("__od"),
    )
    gap = F.abs(
        F.col("sum_a").cast("double") - F.col("sum_e_micro").cast("double") / float(_M)
    ) - F.lit(0.5)
    cmh = F.round(
        F.lit(float(_M)) * gap * gap / (F.col("sum_v_micro").cast("double") / float(_M))
    ).cast("long")
    ok = (F.col("sum_v_micro") > 0) & (gap > 0)
    or_mh = F.when(
        F.col("__od") > 0,
        F.round(
            F.lit(float(_M)) * F.col("__on").cast("double") / F.col("__od").cast("double")
        ).cast("long"),
    )
    return g.select(
        "n_strata",
        "n",
        "sum_a",
        "sum_e_micro",
        "sum_v_micro",
        F.when(ok, cmh).alias("cmh_micro"),
        or_mh.alias("or_mh_micro"),
    )


def fdr_bh_screen(
    df: DataFrame,
    group_col: str,
    side_col: str,
    value_col: str,
    key_col: str,
) -> DataFrame:
    """Benjamini-Hochberg FDR screen over PER-GROUP permutation tests
    — the multiple-testing closure of q291: when the same two-cohort
    contrast is tested across m groups, per-test p < α inflates false
    discoveries ~m-fold; BH bounds the false-discovery RATE at α
    instead.

    Per group, a q291-style pseudo-permutation test of the
    ``side_col`` (boolean) mean difference in ``value_col``:
    64 md5-hash relabelings of (key, perm, group), each
    permuted |mean diff| micro-snapped via exact floor division, and
    the exact rational p = (#{|perm diff| ≥ |observed|} + 1)/(used+1)
    (marginally-Bernoulli labels — the stated large-sample concession
    shared with ``permutation_mean_test``). Degenerate permutations
    (either side empty) are dropped from ``used``.

    BH step, all in exact integer arithmetic: groups ranked by
    ascending p (ties by group name; the sort key is the single
    double division (n_ge+1)/(used+1), engine-identical), rejection
    rule p_(i) ≤ i·α/m decided as
    (n_ge+1)·m·10 ≤ i·1·(used+1) (FDR level 1/10), and every rank up to
    the LARGEST passing i is rejected (the BH step-up, not step-down).

    Returns one row per group: ``(group, n1, n2, diff_micro, n_ge,
    n_perms_used, p_micro, p_rank, bh_crit_micro, rejected)``.

    Plan: one (group) stats aggregate broadcast back (m rows), a
    constant ×64 map-side fan-out, one (group, perm) aggregate,
    one (group) aggregate, then windows over the m-row frame. The
    only shuffled volumes are (group, perm)-cardinality.
    """
    d = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(side_col).cast("boolean").alias("__side"),
        F.col(value_col).cast("long").alias("__v"),
        F.col(key_col).cast("string").alias("__k"),
    ).filter(
        F.col("__g").isNotNull()
        & F.col("__side").isNotNull()
        & F.col("__v").isNotNull()
        & F.col("__k").isNotNull()
    )
    d = seal(d, eager=False)
    base = d.groupBy("__g").agg(
        F.sum(F.col("__side").cast("long")).cast("long").alias("__n1"),
        F.sum((~F.col("__side")).cast("long")).cast("long").alias("__n2"),
        F.sum(F.when(F.col("__side"), F.col("__v")).otherwise(0))
        .cast("long")
        .alias("__s1"),
        F.sum(F.when(~F.col("__side"), F.col("__v")).otherwise(0))
        .cast("long")
        .alias("__s2"),
    ).filter((F.col("__n1") > 0) & (F.col("__n2") > 0))
    obs = base.select(
        "__g",
        "__n1",
        "__n2",
        F.abs(
            _fd("__s1 * 1000000", "__n1") - _fd("__s2 * 1000000", "__n2")
        )
        .cast("long")
        .alias("__obs"),
    )
    sized = d.join(
        F.broadcast(obs.select("__g", "__n1", "__n2")), "__g"
    )
    perms = (
        sized.select(
            "__g",
            "__v",
            "__k",
            (F.col("__n1") + F.col("__n2")).alias("__nt"),
            "__n1",
            F.explode(F.expr("sequence(0, 63)")).alias("__p"),
        )
        .withColumn(
            "__side1",
            md5_long(
                F.concat(
                    F.col("__k"),
                    F.lit("#fdr#"),
                    F.col("__g"),
                    F.lit("#"),
                    F.col("__p").cast("string"),
                )
            )
            % F.col("__nt")
            < F.col("__n1"),
        )
        .groupBy("__g", "__p")
        .agg(
            F.sum(F.when(F.col("__side1"), F.col("__v")).otherwise(0))
            .cast("long")
            .alias("__ps1"),
            F.sum(F.col("__side1").cast("long")).cast("long").alias("__pn1"),
            F.sum(F.when(~F.col("__side1"), F.col("__v")).otherwise(0))
            .cast("long")
            .alias("__ps2"),
            F.sum((~F.col("__side1")).cast("long")).cast("long").alias("__pn2"),
        )
        .filter((F.col("__pn1") > 0) & (F.col("__pn2") > 0))
        .select(
            "__g",
            F.abs(
                _fd("__ps1 * 1000000", "__pn1") - _fd("__ps2 * 1000000", "__pn2")
            )
            .cast("long")
            .alias("__pd"),
        )
    )
    pg = perms.join(F.broadcast(obs), "__g").groupBy(
        "__g", "__n1", "__n2", "__obs"
    ).agg(
        F.sum((F.col("__pd") >= F.col("__obs")).cast("long")).cast("long").alias("n_ge"),
        F.count(F.lit(1)).cast("long").alias("n_perms_used"),
    )
    m_w = Window.partitionBy()
    pg = pg.withColumn("__m", F.count(F.lit(1)).over(m_w).cast("long"))
    # exact-rational ascending-p rank; the double ratio is one division
    # of exact integers (engine-identical), group name breaks ties
    ratio = (F.col("n_ge") + 1).cast("double") / (F.col("n_perms_used") + 1).cast("double")
    rank_w = Window.orderBy(ratio.asc(), F.col("__g").asc())
    pg = pg.withColumn("p_rank", F.row_number().over(rank_w).cast("long"))
    passes = (
        (F.col("n_ge") + 1) * F.col("__m") * 10
        <= F.col("p_rank") * 1 * (F.col("n_perms_used") + 1)
    )
    cutoff = F.max(F.when(passes, F.col("p_rank")).otherwise(0)).over(m_w)
    return pg.select(
        F.col("__g").alias("group"),
        F.col("__n1").alias("n1"),
        F.col("__n2").alias("n2"),
        F.col("__obs").alias("diff_micro"),
        "n_ge",
        "n_perms_used",
        _fd("(n_ge + 1) * 1000000", "n_perms_used + 1").cast("long").alias("p_micro"),
        "p_rank",
        _fd("p_rank * 1 * 1000000", "__m * 10")
        .cast("long")
        .alias("bh_crit_micro"),
        (F.col("p_rank") <= cutoff).cast("long").alias("rejected"),
    )


def pairwise_tukey(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Pairwise group contrasts behind a significant one-way ANOVA —
    the studentized-range (Tukey-HSD) statistics: WHICH groups differ,
    not just whether any do (q-family: anova_oneway's post-hoc
    companion).

    For every unordered group pair (a < b by name):
    q = |mean_a − mean_b| / √((MSW/2)·(1/n_a + 1/n_b)), with MSW the
    same micro-snapped within-group mean square the ANOVA core
    computes (the two operators can never disagree about the
    denominator). Returns ``(group_a, group_b, n_a, n_b,
    mean_diff_micro, q_micro)``: the mean difference is exact floor
    division, q one snapped double expression (NULL when MSW
    degenerates or n ≤ k).

    Plan: one (group) aggregate → k-row frame; pairs come from a
    k-row self-join (group-cardinality-bounded); MSW broadcasts.
    """
    d = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("long").alias("__v"),
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    per = d.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__nj"),
        F.sum("__v").cast("long").alias("__sj"),
        F.sum(F.col("__v") * F.col("__v")).cast("long").alias("__s2j"),
    )
    sjd = F.col("__sj").cast("double")
    njd = F.col("__nj").cast("double")
    s2jd = F.col("__s2j").cast("double")
    terms = per.select(
        "__g",
        "__nj",
        "__sj",
        F.round(F.lit(float(_M)) * (s2jd - sjd * sjd / njd)).cast("long").alias("__wt"),
    )
    g = terms.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("__k"),
        F.sum("__nj").cast("long").alias("__ntot"),
        F.sum("__wt").cast("long").alias("__ssw"),
    )
    a = terms.select(
        F.col("__g").alias("group_a"),
        F.col("__nj").alias("n_a"),
        F.col("__sj").alias("__sa"),
    )
    b = terms.select(
        F.col("__g").alias("group_b"),
        F.col("__nj").alias("n_b"),
        F.col("__sj").alias("__sb"),
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b")).crossJoin(F.broadcast(g))
    msw = (
        F.col("__ssw").cast("double")
        / float(_M)
        / (F.col("__ntot") - F.col("__k")).cast("double")
    )
    num = F.abs(
        F.col("__sa").cast("double") / F.col("n_a").cast("double")
        - F.col("__sb").cast("double") / F.col("n_b").cast("double")
    )
    den = F.sqrt(
        (msw / 2.0)
        * (1.0 / F.col("n_a").cast("double") + 1.0 / F.col("n_b").cast("double"))
    )
    ok = (F.col("__ssw") > 0) & (F.col("__ntot") > F.col("__k"))
    return pairs.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.abs(
            _fd("__sa * 1000000", "n_a") - _fd("__sb * 1000000", "n_b")
        )
        .cast("long")
        .alias("mean_diff_micro"),
        F.when(ok, F.round(F.lit(float(_M)) * num / den).cast("long")).alias("q_micro"),
    )


def mcnemar_test(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """McNemar's paired test of two boolean judges on the SAME items —
    the right comparison for two quality gates / classifiers scored on
    one corpus, where the chi-square of pooled rates (q233) ignores
    the pairing. Null rows (either judge undecided) are excluded —
    stated.

    Returns one row ``(n, both_pass, only_a, only_b, neither,
    mcnemar_micro, discordance_odds_micro)``: the continuity-corrected
    statistic (max(|b−c|−1, 0))²/(b+c) over the discordant counts
    (NULL when b+c = 0 — the judges never disagree), and the
    discordance odds only_a/only_b (NULL when only_b = 0), both one
    snapped double expression of exact BIGINT cells.

    Plan: one global aggregate. No shuffle beyond the partial-merge.
    """
    d = df.select(
        F.col(a_col).cast("boolean").alias("__a"),
        F.col(b_col).cast("boolean").alias("__b"),
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    g = d.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("__a") & F.col("__b")).cast("long")).cast("long").alias("both_pass"),
        F.sum((F.col("__a") & ~F.col("__b")).cast("long")).cast("long").alias("only_a"),
        F.sum((~F.col("__a") & F.col("__b")).cast("long")).cast("long").alias("only_b"),
        F.sum((~F.col("__a") & ~F.col("__b")).cast("long")).cast("long").alias("neither"),
    )
    gap = F.greatest(
        F.abs(F.col("only_a") - F.col("only_b")) - 1, F.lit(0)
    ).cast("double")
    disc = (F.col("only_a") + F.col("only_b")).cast("double")
    stat = F.round(F.lit(float(_M)) * gap * gap / disc).cast("long")
    odds = F.round(
        F.lit(float(_M))
        * F.col("only_a").cast("double")
        / F.col("only_b").cast("double")
    ).cast("long")
    return g.select(
        "n",
        "both_pass",
        "only_a",
        "only_b",
        "neither",
        F.when((F.col("only_a") + F.col("only_b")) > 0, stat).alias("mcnemar_micro"),
        F.when(F.col("only_b") > 0, odds).alias("discordance_odds_micro"),
    )


def welch_anova(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA — the omnibus k-sample
    test that does NOT assume equal group variances (use when
    :func:`brown_forsythe` rejects homogeneity; the classic F of
    :func:`anova_oneway` over-rejects under variance heterogeneity
    with unequal n).

    Groups with n < 2 or zero variance are excluded (their weight
    n/s² is undefined/infinite — stated discipline; k reflects the
    groups actually tested).

    Returns one row ``(k_groups, n, sum_w_micro, a_micro, b_micro,
    w_stat_micro, df_denom_micro)``: W* = [Σw_j(m_j − m̄_w)²/(k−1)] /
    [1 + 2(k−2)/(k²−1)·Σ(1−h_j)²/(n_j−1)] and the Welch denominator
    dof (k²−1)/(3·Σ(1−h_j)²/(n_j−1)), both micro-scaled (NULL when
    k < 2 or the correction sum degenerates).

    Exactness: the per-group weight w_j = n_j/s_j² is SNAPPED to
    micro first, and every later term (w·mean, the A and B sums) is
    one double expression of snapped/exact integers — so both engines
    walk identical intermediate integers exactly as the IPF/chi²
    device prescribes.

    Plan: one (group) aggregate → k-row frame, one global aggregate
    broadcast back, one final aggregate. Single bounded shuffle.
    """
    d = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("long").alias("__v"),
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    per = d.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__nj"),
        F.sum("__v").cast("long").alias("__sj"),
        F.sum(F.col("__v") * F.col("__v")).cast("long").alias("__s2j"),
    )
    njd = F.col("__nj").cast("double")
    sjd = F.col("__sj").cast("double")
    s2jd = F.col("__s2j").cast("double")
    var_d = (s2jd - sjd * sjd / njd) / (njd - 1.0)
    # zero-variance groups make n/s² infinite (and the ANSI long cast
    # throws on Inf) — exclude them BEFORE the weight, stated above
    per = per.filter(
        (F.col("__nj") >= 2) & ((s2jd - sjd * sjd / njd) > 0)
    ).withColumn(
        "__w", F.round(F.lit(float(_M)) * njd / var_d).cast("long")
    ).filter(F.col("__w") > 0)
    per = per.withColumn(
        "__wm", F.round(F.col("__w").cast("double") * sjd / njd).cast("long")
    )
    g = per.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("__nj").cast("long").alias("n"),
        F.sum("__w").cast("long").alias("sum_w_micro"),
        F.sum("__wm").cast("long").alias("__swm"),
    )
    joined = per.crossJoin(F.broadcast(g))
    mw = F.col("__swm").cast("double") / F.col("sum_w_micro").cast("double")
    h = F.col("__w").cast("double") / F.col("sum_w_micro").cast("double")
    staged = joined.select(
        "k_groups",
        "n",
        "sum_w_micro",
        F.round(
            F.col("__w").cast("double")
            * (F.col("__sj").cast("double") / F.col("__nj").cast("double") - mw)
            * (F.col("__sj").cast("double") / F.col("__nj").cast("double") - mw)
        )
        .cast("long")
        .alias("__a"),
        F.round(
            F.lit(float(_M)) * (F.lit(1.0) - h) * (F.lit(1.0) - h)
            / (F.col("__nj").cast("double") - 1.0)
        )
        .cast("long")
        .alias("__b"),
    )
    out = staged.groupBy("k_groups", "n", "sum_w_micro").agg(
        F.sum("__a").cast("long").alias("a_micro"),
        F.sum("__b").cast("long").alias("b_micro"),
    )
    kd = F.col("k_groups").cast("double")
    num = F.col("a_micro").cast("double") / float(_M) / (kd - 1.0)
    den = F.lit(1.0) + F.lit(2.0) * (kd - 2.0) / (kd * kd - 1.0) * (
        F.col("b_micro").cast("double") / float(_M)
    )
    ok = (F.col("k_groups") > 1) & (F.col("b_micro") >= 0)
    w_stat = F.round(F.lit(float(_M)) * num / den).cast("long")
    dfd = F.when(
        F.col("b_micro") > 0,
        F.round(
            F.lit(float(_M)) * (kd * kd - 1.0)
            / (F.lit(3.0) * (F.col("b_micro").cast("double") / float(_M)))
        ).cast("long"),
    )
    return out.select(
        "k_groups",
        "n",
        "sum_w_micro",
        "a_micro",
        "b_micro",
        F.when(ok, w_stat).alias("w_stat_micro"),
        dfd.alias("df_denom_micro"),
    )


def jonckheere_terpstra(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED trend across k groups
    (ordering = the natural sort of ``group_col``): are values
    stochastically increasing along the group order? Strictly more
    powerful than Kruskal-Wallis when the alternative is monotone
    (dose-response, priority tiers, cohort vintages).

    Returns one row ``(n, k_groups, jt2, mean4, z_micro)``:
    jt2 = 2·JT (Mann-Whitney counts summed over ordered group pairs,
    ties at half weight — doubled to stay integer), mean4 = 4·E[JT] =
    N² − Σn_j², and z the tie-corrected normal score (one snapped
    double expression; NULL when the variance degenerates). The
    three-term tie-corrected variance is assembled from exact BIGINT
    group/tie sums (cubes bound ``MAX_TIE_BLOCK``, the 2^63 guard).

    Plan: one (group, value) aggregate; a grid of (distinct values ×
    k groups) densified with a per-group running-count window; one
    value-keyed pair join (grid-bounded, never row-volume); two tiny
    global aggregates. Callers with near-continuous values should
    pre-bucket (the stated distinct-value-frame contract shared with
    KS/MWU/KW).
    """
    d = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("long").alias("__v"),
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    per_gv = d.groupBy("__g", "__v").agg(F.count(F.lit(1)).cast("long").alias("__c"))
    per_gv = seal(per_gv, eager=False)
    all_v = per_gv.select("__v").distinct()
    groups = per_gv.select("__g").distinct()
    grid = all_v.crossJoin(F.broadcast(groups)).join(
        per_gv, ["__g", "__v"], "left"
    ).withColumn("__c", F.coalesce(F.col("__c"), F.lit(0)).cast("long"))
    w_lt = (
        Window.partitionBy("__g")
        .orderBy(F.col("__v").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grid = grid.withColumn(
        "__cum_lt", F.coalesce(F.sum("__c").over(w_lt), F.lit(0)).cast("long")
    )
    b_side = grid.select(
        F.col("__g").alias("__gb"), F.col("__v").alias("__vb"),
        F.col("__c").alias("__cb"),
    )
    pairs = grid.join(
        b_side,
        (F.col("__v") == F.col("__vb")) & (F.col("__g") < F.col("__gb")),
    )
    jt = pairs.groupBy().agg(
        F.sum(F.col("__cb") * (2 * F.col("__cum_lt") + F.col("__c")))
        .cast("long")
        .alias("jt2")
    )
    sizes = per_gv.groupBy("__g").agg(F.sum("__c").cast("long").alias("__nj"))
    sizes = sizes.withColumn(
        "__nj", _guarded(F.col("__nj"), MAX_TIE_BLOCK, "jonckheere_terpstra group")
    )
    gsum = sizes.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("__nj").cast("long").alias("n"),
        F.sum(F.col("__nj") * F.col("__nj")).cast("long").alias("__nj2"),
        F.sum(F.col("__nj") * (F.col("__nj") - 1) * (2 * F.col("__nj") + 5))
        .cast("long")
        .alias("__ga"),
        F.sum(F.col("__nj") * (F.col("__nj") - 1) * (F.col("__nj") - 2))
        .cast("long")
        .alias("__gb3"),
        F.sum(F.col("__nj") * (F.col("__nj") - 1)).cast("long").alias("__gc2"),
    )
    tblocks = per_gv.groupBy("__v").agg(F.sum("__c").cast("long").alias("__t"))
    tblocks = tblocks.withColumn(
        "__t", _guarded(F.col("__t"), MAX_TIE_BLOCK, "jonckheere_terpstra tie block")
    )
    tsum = tblocks.groupBy().agg(
        F.sum(F.col("__t") * (F.col("__t") - 1) * (2 * F.col("__t") + 5))
        .cast("long")
        .alias("__ta"),
        F.sum(F.col("__t") * (F.col("__t") - 1) * (F.col("__t") - 2))
        .cast("long")
        .alias("__tb3"),
        F.sum(F.col("__t") * (F.col("__t") - 1)).cast("long").alias("__tc2"),
    )
    g = jt.crossJoin(F.broadcast(gsum)).crossJoin(F.broadcast(tsum))
    nd = F.col("n").cast("double")
    var_d = (
        (
            nd * (nd - 1.0) * (2.0 * nd + 5.0)
            - F.col("__ga").cast("double")
            - F.col("__ta").cast("double")
        )
        / 72.0
        + F.col("__gb3").cast("double") * F.col("__tb3").cast("double")
        / (36.0 * nd * (nd - 1.0) * (nd - 2.0))
        + F.col("__gc2").cast("double") * F.col("__tc2").cast("double")
        / (8.0 * nd * (nd - 1.0))
    )
    mean4 = (F.col("n") * F.col("n") - F.col("__nj2")).cast("long")
    z = F.round(
        F.lit(float(_M))
        * (2 * F.col("jt2") - mean4).cast("double")
        / 4.0
        / F.sqrt(var_d)
    ).cast("long")
    return g.select(
        "n",
        "k_groups",
        "jt2",
        mean4.alias("mean4"),
        F.when(var_d > 0, z).alias("z_micro"),
    )


def cochran_q(df: DataFrame, gate_cols: list[str]) -> DataFrame:
    """Cochran's Q over k ≥ 2 paired boolean judges on the same items
    — McNemar's k-gate generalization: do the gates pass DIFFERENT
    fractions of the corpus, accounting for the pairing? Rows with
    any null judgment are excluded (complete-case, stated).

    Returns one row ``(n, k_gates, pass_<gate>..., sum_r, sum_r2,
    q_micro)`` with Q = (k−1)·(k·ΣC_j² − N²)/(k·ΣR_i − ΣR_i²) —
    column totals C_j, per-row pass counts R_i, N = ΣR — as one
    snapped double expression of exact BIGINT sums (NULL when the
    denominator is 0: every row passes all-or-none gates).

    Plan: one global aggregate (map-side combined). No shuffle of row
    volumes, no joins.
    """
    if len(gate_cols) < 2:
        raise ValueError("cochran_q: need at least 2 gate columns")
    d = df.select(*[F.col(c).cast("boolean").alias(c) for c in gate_cols])
    cond = None
    for c in gate_cols:
        nn = F.col(c).isNotNull()
        cond = nn if cond is None else (cond & nn)
    d = d.filter(cond)
    r = None
    for c in gate_cols:
        term = F.col(c).cast("long")
        r = term if r is None else (r + term)
    d = d.withColumn("__r", r)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__r").cast("long").alias("sum_r"),
        F.sum(F.col("__r") * F.col("__r")).cast("long").alias("sum_r2"),
    ] + [F.sum(F.col(c).cast("long")).cast("long").alias(f"pass_{c}") for c in gate_cols]
    g = d.groupBy().agg(*aggs)
    k = len(gate_cols)
    sc2 = None
    for c in gate_cols:
        sq = F.col(f"pass_{c}") * F.col(f"pass_{c}")
        sc2 = sq if sc2 is None else (sc2 + sq)
    den = (F.lit(k) * F.col("sum_r") - F.col("sum_r2")).cast("long")
    q = F.round(
        F.lit(float(_M))
        * F.lit(float(k - 1))
        * (F.lit(float(k)) * sc2.cast("double")
           - F.col("sum_r").cast("double") * F.col("sum_r"))
        / den.cast("double")
    ).cast("long")
    return g.select(
        "n",
        F.lit(k).cast("long").alias("k_gates"),
        *[f"pass_{c}" for c in gate_cols],
        "sum_r",
        "sum_r2",
        F.when(den > 0, q).alias("q_micro"),
    )


def fleiss_kappa(df: DataFrame, gate_cols: list[str]) -> DataFrame:
    """Fleiss' kappa over k ≥ 2 paired boolean judges — the AGREEMENT
    readout beside Cochran's Q (which tests for DIFFERENT pass rates):
    how much more often do the gates agree per item than their
    marginal pass rates predict? Complete cases only (stated, shared
    with :func:`cochran_q`).

    With r_i = per-item pass count over k judges:
      P̄  = Σ_i [r_i(r_i−1) + (k−r_i)(k−r_i−1)] / (n·k·(k−1))
      P_e = p² + (1−p)²,  p = Σr/(n·k)
      κ   = (P̄ − P_e)/(1 − P_e)

    Returns one row ``(n, k_gates, sum_r, sum_r2, p_bar_micro,
    p_e_micro, kappa_micro)`` — all from the exact BIGINT sums
    (Σr, Σr²); each ratio is one snapped double expression; κ NULL
    when P_e = 1 (every judgment identical — agreement is vacuous).

    Plan: one global aggregate, no joins.
    """
    if len(gate_cols) < 2:
        raise ValueError("fleiss_kappa: need at least 2 gate columns")
    d = df.select(*[F.col(c).cast("boolean").alias(c) for c in gate_cols])
    cond = None
    for c in gate_cols:
        nn = F.col(c).isNotNull()
        cond = nn if cond is None else (cond & nn)
    d = d.filter(cond)
    r = None
    for c in gate_cols:
        term = F.col(c).cast("long")
        r = term if r is None else (r + term)
    d = d.withColumn("__r", r)
    g = d.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__r").cast("long").alias("sum_r"),
        F.sum(F.col("__r") * F.col("__r")).cast("long").alias("sum_r2"),
    )
    k = len(gate_cols)
    nd = F.col("n").cast("double")
    srd = F.col("sum_r").cast("double")
    sr2d = F.col("sum_r2").cast("double")
    kd = float(k)
    # Σ[r(r−1) + (k−r)(k−r−1)] = 2Σr² − 2kΣr + nk(k−1) + ... expand:
    # r(r−1) + (k−r)(k−r−1) = 2r² − 2kr + k² − k  (exact identity)
    pbar = (
        (F.lit(2.0) * sr2d - F.lit(2.0 * k) * srd + nd * F.lit(kd * kd - kd))
        / (nd * F.lit(kd * (kd - 1.0)))
    )
    p = srd / (nd * F.lit(kd))
    pe = p * p + (F.lit(1.0) - p) * (F.lit(1.0) - p)
    kappa = F.round(F.lit(float(_M)) * (pbar - pe) / (F.lit(1.0) - pe)).cast("long")
    return g.select(
        "n",
        F.lit(k).cast("long").alias("k_gates"),
        "sum_r",
        "sum_r2",
        F.round(F.lit(float(_M)) * pbar).cast("long").alias("p_bar_micro"),
        F.round(F.lit(float(_M)) * pe).cast("long").alias("p_e_micro"),
        F.when(pe < 1.0, kappa).alias("kappa_micro"),
    )


def wilson_intervals(
    df: DataFrame,
    group_col: str,
    success_col: str,
) -> DataFrame:
    """Per-group binomial proportion with the Wilson score interval —
    the CI every rate dashboard should print instead of the Wald
    interval (which collapses to zero width at p̂ ∈ {0, 1} and
    undercovers small n; Wilson stays calibrated at both).

        center = (p̂ + z²/2n) / (1 + z²/n)
        half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)

    with z fixed as an exact milli literal (default 1.960, the 95%
    two-sided score). Null groups/successes are excluded.

    Returns one row per group: ``(group, n, k, p_micro,
    wilson_lo_micro, wilson_hi_micro)`` — p̂ an exact floor division,
    the bounds single snapped double expressions of the exact (k, n)
    BIGINTs, clamped to [0, 1e6].

    Plan: one (group) aggregate. Nothing else.
    """
    z = 1.96
    d = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(success_col).cast("long").alias("__k"),
    ).filter(F.col("__g").isNotNull() & F.col("__k").isNotNull())
    g = d.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__k").cast("long").alias("k"),
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    z2 = z * z
    denom = F.lit(1.0) + F.lit(z2) / nd
    center = (p + F.lit(z2) / (F.lit(2.0) * nd)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (F.lit(1.0) - p) / nd + F.lit(z2) / (F.lit(4.0) * nd * nd))
        / denom
    )
    lo = F.greatest(F.round(F.lit(float(_M)) * (center - half)).cast("long"), F.lit(0))
    hi = F.least(
        F.round(F.lit(float(_M)) * (center + half)).cast("long"), F.lit(_M)
    )
    return g.select(
        F.col("__g").alias("group"),
        "n",
        "k",
        _fd("k * 1000000", "n").cast("long").alias("p_micro"),
        lo.cast("long").alias("wilson_lo_micro"),
        hi.cast("long").alias("wilson_hi_micro"),
    )
