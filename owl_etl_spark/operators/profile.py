"""Single-pass table profiling — per-column statistics for data
discovery and pipeline monitoring (the `ANALYZE`/`dbt docs`-style
summary an ETL engine publishes with every load).

All per-column aggregates are computed in ONE wide aggregation over
the table, then unpivoted to a row per column with ``stack`` — the
table is scanned once however many columns are profiled. Distinct
counts are exact: one column-pruned distinct count per column (see
``table_profile``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.session import seal


def table_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column profile: (column, n_rows, n_null, n_distinct,
    min_value, max_value) with min/max rendered as strings so mixed
    column types unpivot into one frame.

    ``n_distinct`` excludes nulls (count(distinct) semantics in both
    Spark and ANSI SQL). Deterministic: every stat is an exact count or
    an order statistic — no floats unless the column itself is float
    (min/max of doubles format via the shortest round-trip repr both
    engines share for parquet-born values).

    Plan shape: null/min/max for every column ride ONE full-width
    aggregation pass. Exact distincts deliberately do NOT join that
    aggregate — N distinct aggregates in one ``agg`` make Catalyst
    expand every row N+1 times and push the min/max/null work through
    the expanded stream too (measured 7s → 2s at sf0.1 for 5 columns).
    Instead each column gets its own two-phase distinct count over a
    COLUMN-PRUNED scan (columnar formats make the extra scans ~1
    column's bytes each, and map-side partial dedup shrinks each
    shuffle to the column's per-task distincts), cross-joined back as
    1-row frames. CAVEAT: that per-column cost model assumes columnar
    storage (parquet/ORC); on row-oriented staging (JSON, CSV, JDBC)
    column pruning cannot reduce IO and each exact-distinct pass
    re-reads FULL rows — N profiled columns cost N full scans there.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("__n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"__null_{c}"),
            F.min(c).cast("string").alias(f"__min_{c}"),
            F.max(c).cast("string").alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    for c in cols:
        wide = wide.crossJoin(
            df.select(c)
            .where(F.col(c).isNotNull())
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias(f"__dist_{c}"))
        )
    stack = ", ".join(
        f"'{c}', `__null_{c}`, `__dist_{c}`, `__min_{c}`, `__max_{c}`" for c in cols
    )
    return wide.selectExpr(
        "__n_rows AS n_rows",
        f"stack({len(cols)}, {stack}) AS (column, n_null, n_distinct, min_value, max_value)",
    ).select("column", "n_rows", "n_null", "n_distinct", "min_value", "max_value")


def mad_outlier_report(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k_sigma: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier detection via median / MAD (median
    absolute deviation): a value is an outlier when
    ``|v - median| > k_sigma * 1.4826 * MAD`` (1.4826 scales MAD to
    σ-equivalents under normality). Mean/stddev-based z-scores are
    poisoned by the very outliers they hunt; median/MAD have a 50%
    breakdown point — the standard robust gate for telemetry and
    training-data quality filters.

    Returns one row per group: n, median, mad, n_outliers, outlier_pct.

    Exactness & portability: ``percentile`` here is the EXACT rank
    interpolation (same (1-d)·lo + d·hi definition as ANSI
    percentile_cont / DuckDB quantile_cont); feed it an integer-cents
    column and every median/MAD is exactly representable (x.0 / x.25 /
    x.5 / x.75), so the report hash-matches across engines with no
    float fuzz. Plan: ONE shuffle on the group keys, then two
    percentile window passes over the co-partitioned data (median,
    then MAD) and a final map-side-combined aggregate. At 100 TB swap
    ``approx_percentile`` in for the exact per-group rank sort; the
    report contract is unchanged.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    dev = df.withColumn(
        "median", F.expr(f"percentile({value_col}, 0.5)").over(w)
    ).withColumn("__adev", F.abs(F.col(value_col) - F.col("median")))
    flagged = dev.withColumn("mad", F.expr("percentile(__adev, 0.5)").over(w)).withColumn(
        "__is_out",
        (F.col("__adev") > F.lit(k_sigma) * F.lit(1.4826) * F.col("mad")).cast("long"),
    )
    return (
        flagged.groupBy(*keys, "median", "mad")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__is_out").cast("long").alias("n_outliers"),
        )
        .select(
            *keys,
            "n",
            "median",
            "mad",
            "n_outliers",
            F.round(F.col("n_outliers") / F.col("n") * 100, 6).alias("outlier_pct"),
        )
    )


def trend_report(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group least-squares trend (slope, intercept, r²) — the
    REGR_SLOPE/REGR_R2 family a warehouse exposes, computed from the
    closed form over EXACT integer sums:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    Feed integer ``x``/``y`` (bucket index, cents) and every Σ is an
    exact BIGINT accumulated in one map-side-combined aggregate pass —
    order-independent, engine-exact — with the ONLY float ops the final
    divisions, rounded at 6. (Built-in ``regr_slope`` accumulates
    doubles and drifts with partitioning; this form is the
    reproducible one.) One shuffle on the group keys; no windows.

    Caller contract (overflow): every internal product — including the
    squared-sum terms ``(Σx)²``/``(Σy)²``/``Σx·Σy``, which are the
    binding ones — must fit BIGINT. The sufficient (and enforced)
    condition is

        n · max(|x|) < √(2^63) ≈ 3.03e9   and   n · max(|y|) < √(2^63)

    because then ``(Σx)² ≤ (n·max|x|)² < 2^63`` and every mixed term
    (``n·Σx²``, ``n·Σxy``, ``Σx·Σy``) is bounded by products of those
    two roots. E.g. n ≤ 1e6 rows/group supports |x| ≤ 3e3 and |y| ≤
    3e3; n ≤ 3e3 supports |y| up to 1e6 (cents). Scale x to small
    integers (hours since the series start, bucket index) and y to the
    coarsest integer unit that preserves meaning.

    The contract is ENFORCED, not just documented: the same aggregate
    also collects ``max(|x|)``/``max(|y|)`` per group (free — two more
    map-side-combined maxes in the one pass), and any group whose
    bounds violate the headroom raises a diagnostic at evaluation time
    — instead of a silent wrapped-BIGINT garbage slope (non-ANSI
    sessions) or a bare ARITHMETIC_OVERFLOW without group context
    (ANSI). The bound check itself runs in double (exact enough for a
    guard: a ~1-ulp misclassification at the 2^31.5 boundary only
    shifts WHERE the error fires, never lets a deep overflow through).
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
        F.max(F.abs(x)).cast("double").alias("__ax"),
        F.max(F.abs(y)).cast("double").alias("__ay"),
    )
    root = float(2**63) ** 0.5  # ≈ 3.037e9: n·max|x| and n·max|y| must stay below
    nd = agg["n"].cast("double")
    in_domain = (nd * F.col("__ax") < root) & (nd * F.col("__ay") < root)
    agg = agg.withColumn(
        "n",
        F.when(
            ~in_domain,
            F.raise_error(
                F.concat(
                    F.lit(
                        "trend_report: BIGINT overflow contract violated "
                        f"(need n*max(|{x_col}|) and n*max(|{y_col}|) < "
                        "sqrt(2^63) ~ 3.03e9) for group with n="
                    ),
                    F.col("n").cast("string"),
                    F.lit(f", max|{x_col}|="),
                    F.col("__ax").cast("string"),
                    F.lit(f", max|{y_col}|="),
                    F.col("__ay").cast("string"),
                    F.lit(" — rescale x/y to coarser integer units"),
                )
            ).cast("long"),
        ).otherwise(F.col("n")),
    ).drop("__ax", "__ay")
    dxx = agg["n"] * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = agg["n"] * F.col("syy") - F.col("sy") * F.col("sy")
    dxy = agg["n"] * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(dxx != 0, F.round(dxy.cast("double") / dxx.cast("double"), 6))
    intercept = F.when(
        dxx != 0,
        F.round(
            (F.col("sy").cast("double") - (dxy.cast("double") / dxx.cast("double")) * F.col("sx"))
            / agg["n"],
            6,
        ),
    )
    # square/multiply in DOUBLE: dxy² and dxx·dyy overflow BIGINT on
    # wide domains long before the data is big
    r2 = F.when(
        (dxx != 0) & (dyy != 0),
        F.round(
            (dxy.cast("double") * dxy.cast("double"))
            / (dxx.cast("double") * dyy.cast("double")),
            6,
        ),
    )
    return agg.select(
        *keys,
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def ab_test_report(
    df: DataFrame,
    keys: list[str],
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Pairwise two-sample comparison report per key — the A/B-test
    readout every experimentation pipeline computes, in the exact
    integer discipline of ``trend_report``/q59: per (key, group) the
    aggregate keeps exact BIGINT Σv and Σv² (feed integer cents), so
    means and sample variances are order-independent and
    engine-identical; the Welch (unpooled) statistic

        t = (m_a − m_b) / sqrt(v_a/n_a + v_b/n_b)

    is computed from those sums with the only doubles being the final
    divisions, emitted as integer micro-units (``t_micro``).
    ``significant`` uses the normal threshold ``|t| ≥ 1.96`` —
    the large-sample Welch z-test (no small-sample df correction; at
    warehouse n the distinction is noise, and a df-free rule is what
    replays exactly on any engine).

    One row per (key, unordered group pair), group_a < group_b
    lexicographically — with two variants that is one row per key;
    with k variants it is the full pairwise matrix. Degenerate cells
    (n < 2 or zero variance on either side) yield null t and a false
    flag. Plan: ONE aggregate over the data (map-side combined), then
    a self-join of the tiny per-(key, group) stats frame.
    """
    v = F.col(value_col).cast("long")
    # null values must not enter n: sums skip them, so counting them
    # would silently deflate the variance (n inconsistent with Σ)
    stats = df.filter(v.isNotNull()).groupBy(*keys, group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("s1"),
        F.sum(v * v).cast("long").alias("s2"),
    )
    a = stats.select(
        *keys,
        F.col(group_col).alias("group_a"),
        F.col("n").alias("n_a"),
        F.col("s1").alias("__s1a"),
        F.col("s2").alias("__s2a"),
    )
    b = stats.select(
        *keys,
        F.col(group_col).alias("group_b"),
        F.col("n").alias("n_b"),
        F.col("s1").alias("__s1b"),
        F.col("s2").alias("__s2b"),
    )
    pairs = a.join(b, keys).filter(F.col("group_a") < F.col("group_b"))

    def _mean(s1, n):
        return F.col(s1).cast("double") / F.col(n).cast("double")

    def _var(s2, s1, n):
        # s1·s1 as explicit self-multiplication, NOT pow(s1, 2): libm
        # pow is not guaranteed ulp-identical to the product, and the
        # oracle replays a product
        nn = F.col(n).cast("double")
        s1d = F.col(s1).cast("double")
        return (F.col(s2).cast("double") - s1d * s1d / nn) / (nn - 1)

    va = _var("__s2a", "__s1a", "n_a")
    vb = _var("__s2b", "__s1b", "n_b")
    se = F.sqrt(va / F.col("n_a").cast("double") + vb / F.col("n_b").cast("double"))
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (va + vb > 0)
    t = F.when(ok, F.round((_mean("__s1a", "n_a") - _mean("__s1b", "n_b")) / se * 1_000_000).cast("long"))
    # integer micro threshold: 1.96 is not binary-exact, so a float
    # 1.96·1e6 sits an ulp off 1960000 and could flip a boundary row
    # vs an engine comparing integers
    crit_micro = int(round(1.96 * 1_000_000))
    return pairs.select(
        *keys,
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        t.alias("t_micro"),
        F.coalesce(F.abs(t) >= F.lit(crit_micro), F.lit(False)).alias("significant"),
    )


def entropy_report(
    df: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Per-key Shannon entropy of a categorical column's distribution
    — the concentration/diversity profile a feature store publishes
    (audience concentration, label balance, cardinality quality):
    H = −Σ_v p_v·ln(p_v) over the value frequencies, in NATS.

    Determinism (the q124 PSI discipline): a float Σ of p·ln p terms
    is partitioning-dependent (addition order), so each VALUE's term
    is rounded to integer MICRO-nats first — round(−(c/n)·ln(c/n)·1e6)
    from exact BIGINT counts, identical doubles on any engine — and
    the per-key total is an exact integer sum in any order. The
    reported entropy carries ≤ n_distinct/2 micro-nats of rounding,
    noise for any monitoring use.

    Plan: one (keys, value) count (map-side combined), one per-key
    aggregate of the ≤ n_distinct term rows, one broadcast-able join
    of per-key totals. Returns (keys..., n, n_distinct,
    entropy_micro_nats, max_entropy_micro_nats) — the max column
    (ln n_distinct) turns it into a normalized 0..1 diversity with one
    division downstream.
    """
    counts = df.groupBy(*keys, F.col(value_col).alias("__v")).agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    totals = counts.groupBy(*keys).agg(
        F.sum("__c").cast("long").alias("__n"),
        F.count(F.lit(1)).cast("long").alias("__d"),
    )
    joined = counts.join(F.broadcast(totals), keys)
    p = F.col("__c").cast("double") / F.col("__n").cast("double")
    term = F.round(-(p * F.log(p)) * 1_000_000).cast("long")
    return (
        joined.withColumn("__t", term)
        .groupBy(*keys)
        .agg(
            F.max("__n").alias("n"),
            F.max("__d").alias("n_distinct"),
            F.sum("__t").cast("long").alias("entropy_micro_nats"),
            F.round(F.log(F.max("__d").cast("double")) * 1_000_000)
            .cast("long")
            .alias("max_entropy_micro_nats"),
        )
    )


def mutual_information_report(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key mutual information between two categorical columns —
    the feature-selection / redundancy-screening staple ("does
    priority tell you anything about status"): I(X;Y) =
    Σ_xy p_xy · ln(p_xy / (p_x·p_y)), in NATS. I = 0 ⇔ independent;
    I = min(H(X), H(Y)) ⇔ one determines the other.

    Determinism (entropy_report's micro-nat discipline): each joint
    CELL's term is computed from exact BIGINT counts —
    round((c_xy/n) · ln(n·c_xy/(c_x·c_y)) · 1e6) — and the per-key
    total is an exact integer sum in any order; rounding error is
    ≤ #cells/2 micro-nats. Rows with a null in either column are
    excluded up front (documented null discipline — "null" is absence
    here, not a category; wrap with coalesce upstream to opt nulls in
    as a level).

    Returns (keys..., n, n_x, n_y, mi_micro_nats) with n_x/n_y the
    marginal cardinalities — ln(min(n_x, n_y)) bounds MI, turning the
    readout into a normalized 0..1 association with one division.

    Plan: one (keys, x, y) joint count (map-side combined), two
    marginal rollups OF THE JOINT (cells, not rows — cheap), joins
    back on (keys, x)/(keys, y) (broadcast-able at dim cardinality),
    one per-key aggregate. All volumes after the first aggregate are
    bounded by distinct-cell counts, never row counts.
    """
    work = df.select(
        *keys, F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    joint = work.groupBy(*keys, "__x", "__y").agg(
        F.count(F.lit(1)).cast("long").alias("__cxy")
    )
    mx = joint.groupBy(*keys, "__x").agg(F.sum("__cxy").cast("long").alias("__cx"))
    my = joint.groupBy(*keys, "__y").agg(F.sum("__cxy").cast("long").alias("__cy"))
    tot = joint.groupBy(*keys).agg(
        F.sum("__cxy").cast("long").alias("__n"),
        F.count(F.lit(1)).cast("long").alias("__cells"),
    )
    nx = mx.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n_x"))
    ny = my.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n_y"))
    j = joint.join(mx, [*keys, "__x"]).join(my, [*keys, "__y"])
    j = j.join(F.broadcast(tot), keys) if keys else j.crossJoin(F.broadcast(tot))
    p = F.col("__cxy").cast("double") / F.col("__n").cast("double")
    ratio = (F.col("__n").cast("double") * F.col("__cxy").cast("double")) / (
        F.col("__cx").cast("double") * F.col("__cy").cast("double")
    )
    term = F.round(p * F.log(ratio) * 1_000_000).cast("long")
    agg = j.withColumn("__t", term).groupBy(*keys).agg(
        F.max("__n").alias("n"),
        F.sum("__t").cast("long").alias("mi_micro_nats"),
    )
    if keys:
        agg = agg.join(F.broadcast(nx), keys).join(F.broadcast(ny), keys)
    else:
        agg = agg.crossJoin(F.broadcast(nx)).crossJoin(F.broadcast(ny))
    return agg.select(*keys, "n", "n_x", "n_y", "mi_micro_nats")


def fd_violation_report(
    df: DataFrame,
    pairs: list[tuple[str, str]],
) -> DataFrame:
    """Functional-dependency screen for the profiling family (q95
    table_profile's sibling): for each candidate dependency A → B,
    how badly the data violates it — ``(determinant, dependent,
    n_groups, violating_groups, violation_micro, max_distinct)``.

    A group (one value of A) violates A → B when it maps to more than
    one distinct B. ``violation_micro`` is the exact floor-div micro
    fraction of violating groups; ``max_distinct`` the worst fan-out.
    An FD that "almost holds" (violation_micro small but nonzero) is
    the classic data-quality smell: a stale dimension row, a key
    reused across systems.

    Plan: one groupBy PER PAIR on the determinant (each a single
    shuffle of two columns, column-pruned at the scan); the per-pair
    results union into one small report. Pairs are caller-chosen —
    full FD DISCOVERY is exponential and belongs to a sampler, not a
    gate query (documented)."""
    if not pairs:
        raise ValueError("fd_violation_report: no column pairs given")
    outs = []
    for a, b in pairs:
        g = (
            df.select(F.col(a).alias("__a"), F.col(b).alias("__b"))
            .filter(F.col("__a").isNotNull())
            .groupBy("__a")
            .agg(F.count_distinct("__b").cast("long").alias("__nd"))
        )
        outs.append(
            g.agg(
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum((F.col("__nd") > 1).cast("long")).cast("long").alias(
                    "violating_groups"
                ),
                F.max("__nd").cast("long").alias("max_distinct"),
            ).select(
                F.lit(a).alias("determinant"),
                F.lit(b).alias("dependent"),
                "n_groups",
                "violating_groups",
                F.expr(
                    "(violating_groups * 1000000 - ((((violating_groups * 1000000)"
                    " % n_groups) + n_groups) % n_groups)) div n_groups"
                )
                .cast("long")
                .alias("violation_micro"),
                "max_distinct",
            )
        )
    from functools import reduce

    return reduce(DataFrame.unionAll, outs)


def mi_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise mutual-information matrix over a feature list — the
    relevance/redundancy table feature selection starts from (mRMR's
    two ingredients in one artifact): one row per unordered column
    pair, ``(feat_a, feat_b, n, n_x, n_y, mi_micro_nats)``, each pair
    computed by :func:`mutual_information_report` (exact-count
    micro-nat discipline, so the matrix is engine-exact and a SQL
    oracle replays every cell). Include the target column in ``cols``
    and its row IS the relevance vector; the rest is the redundancy
    structure.

    Cost: C(f,2) passes over a (cols…) projection — cache it; each
    pass is one joint count plus cell-bounded rollups. For wide
    feature sets melt-and-self-join amortizes better, but at the
    handful-of-candidates scale feature selection actually runs at,
    per-pair passes keep every cell exactly portable.
    """
    if len(cols) < 2:
        raise ValueError("mi_matrix: need at least two columns")
    work = seal(df.select(*cols), eager=False)
    out = None
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            one = mutual_information_report(work, [], a, b).select(
                F.lit(a).alias("feat_a"),
                F.lit(b).alias("feat_b"),
                "n",
                "n_x",
                "n_y",
                "mi_micro_nats",
            )
            out = one if out is None else out.unionByName(one)
    return out


def overdispersion_report(
    df: DataFrame,
    keys: list[str],
    count_col: str,
) -> DataFrame:
    """Count-data overdispersion diagnostic per key — the
    method-of-moments check that decides between q273's Poisson GLM
    (variance = mean) and a negative-binomial model (variance =
    mean + α·mean²): α̂ = (var − mean)/mean², with var/mean from exact
    BIGINT Σx and Σx² (population variance; the q59 discipline, so the
    report is engine-exact). α̂ ≤ 0 → Poisson is adequate; α̂ ≫ 0 →
    the counts are clumped and Poisson standard errors are fake.

    Returns (keys…, n, mean_micro, var_micro, alpha_micro) — one
    map-side-combined aggregate over the count rows, nothing else.
    """
    d = df.select(*keys, F.col(count_col).cast("long").alias("__x"))
    agg = d.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x").cast("long").alias("__s"),
        F.sum(F.col("__x") * F.col("__x")).cast("long").alias("__s2"),
    )
    mean = F.col("__s").cast("double") / F.col("n").cast("double")
    var = F.col("__s2").cast("double") / F.col("n").cast("double") - mean * mean
    return agg.select(
        *keys,
        "n",
        F.round(mean * 1_000_000).cast("long").alias("mean_micro"),
        F.round(var * 1_000_000).cast("long").alias("var_micro"),
        F.when(
            F.col("__s") > 0, F.round((var - mean) / (mean * mean) * 1_000_000)
        )
        .otherwise(F.lit(None))
        .cast("long")
        .alias("alpha_micro"),
    )
