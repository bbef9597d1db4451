"""Quantile-bucket assignment at scale: cutpoints + broadcast bucketing.

q70/q96/q99 assign deciles with ``ntile()`` over an unpartitioned
ORDER BY — a single-task global sort, viable only because the fact
table is pre-aggregated to |customers| rows first (r2 VERDICT "What's
wrong" #3). At billions of KEYS the sort itself becomes the
bottleneck. The scalable shape decouples the two jobs ntile fuses:

1. **cutpoints** — the k-1 bucket boundary values.
   - ``exact_rank_cutpoints``: nearest-rank boundaries from a
     cumulative count over the DISTINCT values. Integer-only rank
     arithmetic (``ceil(d·n/k)`` as ``(d·n + k - 1) div k``) makes the
     boundaries bit-identical across engines — this is the
     oracle-gated form (q100). The cum-count window is a single-task
     sort over |distinct values| (not |rows|); fine while the value
     domain is materially smaller than the key count, e.g. prices,
     scores, bounded integer metrics.
2. **assignment** — ``assign_buckets``: the k-1 cutpoints (a
   config-sized list, collected to the driver like a broadcast dim)
   compile into a literal comparison chain: bucket(x) =
   1 + Σ_d [cut_d < x]. Pure whole-stage codegen, zero shuffle, no
   sort, embarrassingly parallel — this is what replaces the global
   ntile window at scale.

Bucket semantics: values ≤ cut_d fall in bucket ≤ d; rows TIED on a
cutpoint value all land in the LOWER bucket (deterministic under any
row order). ntile instead splits equal values across buckets by sort
position to equalize bucket sizes, and front-loads remainder rows when
n % k ≠ 0 — so the two agree exactly iff values on the boundaries are
untied and n % k == 0 (pinned by test); otherwise they differ only at
boundaries, never by more than one bucket.

Reference parity: the reference has no quantile operator at all
(SURVEY §2.5 "not present"); this generalizes the report-bucketing
surface (A5) the way q70/q96/q99 do, with a plan that survives the
100x scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_rank_cutpoints(df: DataFrame, value_col: str, k: int) -> DataFrame:
    """1-row DataFrame with ``cutpoints``: array of the k-1 exact
    nearest-rank bucket boundaries of ``value_col``.

    cut_d = min{v : |rows with value ≤ v| ≥ ceil(d·n/k)} — pure
    integer rank arithmetic, no interpolation, so any engine computes
    the identical boundary. Cost: one groupBy over distinct values +
    a single-task cumulative window over |distinct| rows + one final
    k-1-column aggregate. When the value domain is not materially
    smaller than the row count, a one-pass ``percentile_approx``
    sketch is the 100 TB form.
    """
    vals = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("__c"))
    w = (
        Window.orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vals.withColumn("__cum", F.sum("__c").over(w))
    total = df.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    cum = cum.crossJoin(F.broadcast(total))
    aggs = [
        F.min(
            F.when(
                F.col("__cum") >= F.expr(f"({d} * __n + {k - 1}) div {k}"),
                F.col(value_col),
            )
        ).alias(f"__cut{d}")
        for d in range(1, k)
    ]
    return cum.agg(*aggs).select(
        F.array(*[f"__cut{d}" for d in range(1, k)]).alias("cutpoints")
    )


def collect_cutpoints(cuts_df: DataFrame) -> list:
    """Materialize the cutpoint array (k-1 scalars — config-sized, the
    same driver round-trip a broadcast dimension pays)."""
    return list(cuts_df.collect()[0]["cutpoints"])


def assign_buckets(
    df: DataFrame, value_col: str, cutpoints: list, bucket_col: str = "bucket"
) -> DataFrame:
    """Attach ``bucket_col`` (1..len(cutpoints)+1, BIGINT): bucket(x) =
    1 + |{c in cutpoints : c < x}|. The cutpoints compile to a literal
    comparison chain — whole-stage codegen, zero shuffle, map-side
    only."""
    expr = F.lit(1)
    for c in cutpoints:
        expr = expr + F.when(F.lit(c) < F.col(value_col), 1).otherwise(0)
    return df.withColumn(bucket_col, expr.cast("long"))


def weighted_quantiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    weight_col: str,
    probs: list[float],
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Exact weighted quantiles per key: the smallest value whose
    cumulative weight reaches ``p · W`` (weighted type-1 / inverse-CDF
    rule) — the fair-aggregation form where each row represents
    ``weight`` underlying units (requests, dollars, population), so a
    hot row counts as many and plain quantiles' one-row-one-vote bias
    disappears. With all weights 1 this reduces exactly to the
    unweighted type-1 quantile.

    Determinism: integer weights, exact BIGINT running sums, total
    (value, tiebreak) order, and the threshold ``p·W`` compared as
    an integer ceiling (``cumw · 1 ≥ ceil(p·W)`` via cumw*1e6 ≥
    round-free integer math: we compare ``cumw * 1000000 >= p_micro *
    W`` with ``p_micro`` an integer micro-probability — no float ever
    touches the boundary). One key shuffle; the per-prob pick is a
    min-aggregate over the flagged rows, not a second sort.

    Null handling: rows with a null ``value_col`` are EXCLUDED up front
    (they can never be picked as a quantile, and under the asc order
    they would otherwise consume cumulative weight at the front and
    shift every threshold). Null/non-positive WEIGHTS still raise — a
    weight is a claim about magnitude and silently dropping it corrupts
    the CDF, whereas a null value is simply not a sample.

    Returns one row per (key, prob): ``(keys..., prob, q)``.
    """
    from pyspark.sql import Window

    df = df.filter(F.col(value_col).isNotNull())
    order = [F.col(value_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w_run = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    wt0 = F.col(weight_col).cast("long")
    # positive-weight contract enforced at runtime (q115-style): a
    # zero/negative/null weight silently shifts every cumulative
    # threshold after it instead of erroring
    wt = F.when(
        wt0.isNull() | (wt0 <= 0),
        F.raise_error(
            F.concat(
                F.lit(
                    f"weighted_quantiles: {weight_col} must be a positive "
                    "integer, got "
                ),
                F.coalesce(wt0.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(wt0)
    work = df.withColumn("__cw", F.sum(wt).over(w_run)).withColumn(
        "__tw", F.sum(wt).over(w_all)
    )
    frames = []
    for p in probs:
        p_micro = int(round(p * 1_000_000))
        reached = F.col("__cw") * 1_000_000 >= F.lit(p_micro) * F.col("__tw")
        frames.append(
            work.filter(reached)
            .groupBy(*keys)
            .agg(F.min(F.col(value_col)).alias("q"))
            .select(*keys, F.lit(float(p)).alias("prob"), "q")
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out.select(*keys, "prob", "q")


def trimmed_mean_report(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    trim_pct: float = 0.05,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key trimmed AND winsorized means over integer units — the
    robust location estimates between the mean (outlier-poisoned) and
    the median (throws away efficiency):

    - trimmed: drop the lowest and highest ``floor(trim_pct · n)``
      rows (by rank in a total order) and average the rest — exact
      integer sum over the kept rows, one division at the end.
    - winsorized: CLAMP instead of drop — the trimmed-away ranks
      contribute the boundary values, preserving n.

    Rank-based trimming (not value thresholds) is deterministic under
    ties via the (value, tiebreak) total order; counts/sums are exact
    BIGINTs; output means are round(·, 6) doubles. One key shuffle,
    one rank window, one aggregate.

    Null handling: rows with a null ``value_col`` are EXCLUDED up front
    and do not count toward ``n`` — otherwise they sort first, occupy
    trim/kept rank slots, and inflate the denominators while F.sum
    skips them, silently deflating both means (same discipline as
    ``ab_test_report``/``seasonal_profile``).
    """
    from pyspark.sql import Window

    if not (0 <= trim_pct < 0.5):
        raise ValueError(f"trimmed_mean_report: need 0 <= trim_pct < 0.5, got {trim_pct}")
    df = df.filter(F.col(value_col).isNotNull())
    order = [F.col(value_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    w_all = Window.partitionBy(*keys)
    v = F.col(value_col).cast("long")
    trim_micro = int(round(trim_pct * 1_000_000))
    work = (
        df.withColumn("__r", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
        # floor(trim_pct·n) in integer micro math — no float boundary
        .withColumn("__t", F.expr(f"(__n * {trim_micro}) div 1000000"))
    )
    kept = (F.col("__r") > F.col("__t")) & (F.col("__r") <= F.col("__n") - F.col("__t"))
    lo_val = F.max(F.when(F.col("__r") == F.col("__t") + 1, v)).over(w_all)
    hi_val = F.max(F.when(F.col("__r") == F.col("__n") - F.col("__t"), v)).over(w_all)
    wins_v = F.when(F.col("__r") <= F.col("__t"), lo_val).when(
        F.col("__r") > F.col("__n") - F.col("__t"), hi_val
    ).otherwise(v)
    marked = work.withColumn("__keep", kept).withColumn("__wv", wins_v)
    return marked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("__keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.round(
            F.sum(F.when(F.col("__keep"), v)).cast("double")
            / F.sum(F.when(F.col("__keep"), 1).otherwise(0)).cast("double"),
            6,
        ).alias("trimmed_mean"),
        F.round(F.sum("__wv").cast("double") / F.count(F.lit(1)).cast("double"), 6).alias(
            "winsorized_mean"
        ),
    )


def iqr_fences(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    tiebreak_col: str | None = None,
    k_micro: int = 1_500_000,
) -> DataFrame:
    """Tukey box-plot outlier fences per key group: ``(keys..., n,
    q1, q3, fence_lo_micro, fence_hi_micro, n_outliers)`` with
    q1/q3 the exact-rank quartiles (smallest value whose rank·4
    reaches n / 3n — the weighted_quantiles rule at weight 1) and
    fences q1 − k·IQR / q3 + k·IQR in integer micro-units
    (default k = 1.5).

    Everything is BIGINT: the quartile tests are integer
    cross-multiplications, the fences are integer arithmetic on the
    exact quartiles, the outlier test compares value·10⁶ against the
    fences. Values must be integers (cents/units); nulls are excluded
    like every quantile operator here.

    Scale shape: ONE shuffle on the keys; rank, group count, the two
    conditional-min quartiles, and the outlier count are four window
    passes over the SAME partitioning (one exchange, one sort), then
    a rank==1 filter emits one row per group — no joins, no second
    scan of the data.
    """
    from pyspark.sql import Window

    if k_micro < 0:
        raise ValueError(f"iqr_fences: k_micro must be >= 0, got {k_micro}")
    order = [F.col("__v").asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    d = df.select(
        *keys,
        *( [F.col(tiebreak_col)] if tiebreak_col is not None else [] ),
        F.col(value_col).cast("long").alias("__v"),
    ).where(F.col(value_col).isNotNull())
    w_rank = Window.partitionBy(*keys).orderBy(*order)
    w_all = Window.partitionBy(*keys)
    ranked = d.select(
        *keys,
        "__v",
        F.row_number().over(w_rank).cast("long").alias("__r"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    quart = ranked.select(
        *keys,
        "__v",
        "__r",
        "n",
        F.min(F.when(F.col("__r") * 4 >= F.col("n"), F.col("__v"))).over(w_all).alias("q1"),
        F.min(F.when(F.col("__r") * 4 >= 3 * F.col("n"), F.col("__v"))).over(w_all).alias("q3"),
    )
    lo = F.col("q1") * 1_000_000 - F.lit(int(k_micro)) * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") * 1_000_000 + F.lit(int(k_micro)) * (F.col("q3") - F.col("q1"))
    flagged = quart.select(
        *keys,
        "__r",
        "n",
        "q1",
        "q3",
        lo.alias("fence_lo_micro"),
        hi.alias("fence_hi_micro"),
        F.sum(
            F.when(
                (F.col("__v") * 1_000_000 < lo) | (F.col("__v") * 1_000_000 > hi), 1
            ).otherwise(0)
        )
        .over(w_all)
        .cast("long")
        .alias("n_outliers"),
    )
    return flagged.where(F.col("__r") == 1).select(
        *keys, "n", "q1", "q3", "fence_lo_micro", "fence_hi_micro", "n_outliers"
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tiebreak_col: str,
    ref_group,
) -> DataFrame:
    """Quantile mapping onto a reference group's empirical
    distribution — the batch-effect / score-alignment normalizer
    ("shard B's scores on shard A's scale", microarray-style quantile
    normalization): each row's value is replaced by the reference
    group's value at the same quantile position, with linear
    interpolation between the two straddling reference order
    statistics.

    Positions are EXACT integer arithmetic: a row of rank r (of n,
    total order by (value, tiebreak)) maps to reference position
    p = (r−1)·(m−1)/(n−1), split as lo = ((r−1)(m−1)) div (n−1) and
    an exact remainder — so the two reference ranks probed are
    integers computed without floats, and the single interpolation
    mapped = v_lo + (v_hi − v_lo)·rem/(n−1) is one rounded double
    (at 6). Groups with n = 1 have no defined position and get NULL
    (documented); an empty reference group raises (woven guard).

    Plan: one rank window per group (one key shuffle), the reference
    group's (rank → value) table extracted once (it is ONE group —
    broadcast by construction), two broadcast equi-joins on the
    integer lo/hi ranks. Nothing quadratic, no range join.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("long")
    w_rank = Window.partitionBy(group_col).orderBy(
        F.col("__v").asc(), F.col(tiebreak_col).asc()
    )
    w_all = Window.partitionBy(group_col)
    base = (
        df.select(group_col, tiebreak_col, v.alias("__v"))
        .filter(F.col("__v").isNotNull())
        .withColumn("__r", F.row_number().over(w_rank).cast("long"))
        .withColumn("__n", F.count(F.lit(1)).over(w_all).cast("long"))
    )
    ref = (
        base.filter(F.col(group_col) == F.lit(ref_group))
        .select(F.col("__r").alias("__ri"), F.col("__v").alias("__rv"), "__n")
    )
    m_row = ref.groupBy().agg(
        F.when(
            F.max("__ri").isNull(),
            F.raise_error(
                F.lit(
                    f"quantile_normalize: reference group {ref_group!r} is "
                    "empty — nothing to map onto"
                )
            ).cast("long"),
        )
        .otherwise(F.max("__ri"))
        .cast("long")
        .alias("__m")
    )
    staged = base.crossJoin(F.broadcast(m_row))
    den = F.col("__n") - 1
    lo = F.when(den > 0, F.expr(
        "((__r - 1) * (__m - 1)) div (__n - 1)"
    )).cast("long")
    rem = F.when(den > 0, F.expr(
        "((__r - 1) * (__m - 1)) % (__n - 1)"
    )).cast("long")
    staged = staged.withColumn("__lo", lo).withColumn("__rem", rem)
    rlo = ref.select(F.col("__ri").alias("__lo_r"), F.col("__rv").alias("__vlo"))
    rhi = ref.select(F.col("__ri").alias("__hi_r"), F.col("__rv").alias("__vhi"))
    out = (
        staged.join(
            F.broadcast(rlo), staged["__lo"] + 1 == rlo["__lo_r"], "left"
        )
        .join(
            F.broadcast(rhi),
            staged["__lo"] + 2 == rhi["__hi_r"],
            "left",
        )
    )
    mapped = F.when(
        F.col("__lo").isNotNull(),
        F.round(
            F.col("__vlo").cast("double")
            + F.when(
                F.col("__rem") > 0,
                (F.col("__vhi") - F.col("__vlo")).cast("double")
                * F.col("__rem").cast("double")
                / (F.col("__n") - 1).cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    )
    return out.select(
        group_col,
        tiebreak_col,
        F.col("__v").alias(value_col),
        F.col("__r").alias("rank"),
        mapped.alias("mapped"),
    )
