"""Leakage-safe categorical feature encoding.

Target encoding replaces a high-cardinality categorical column with
the mean of the label among rows sharing that category — the standard
trick for feeding categories a linear/GBM model can use without
one-hot blowup. Done naively it LEAKS: each row's own label is inside
its category mean, so the feature memorizes the label and validation
metrics lie. The leave-one-out (LOO) form fixes this exactly:

    loo_mean_i = (Σ_category − y_i) / (n_category − 1)

computed from the full-category sum WITH the row's own contribution
subtracted — no folds needed, deterministic, and each row sees only
the other rows' labels.

Determinism contract: the target must arrive as an exact integer
(cents, micro-units — the caller's choice, same rule as `_money_sum`);
the category sum is then an exact BIGINT window sum and the single
division per row is one IEEE double op, rounded at 6. Rows whose
category has n = 1 get NULL (no other rows to learn from — callers
impute with the global mean if they want a dense feature).

Scale shape: ONE shuffle (window partitioned by the category); the
sum and count ride the same partitioning; no join, no second pass.
At 100 TB this is strictly cheaper than the groupBy-plus-rejoin
formulation (one wide shuffle vs shuffle + broadcast/sort join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.session import seal


def loo_target_encode(
    df: DataFrame,
    category_cols: list[str],
    target_col: str,
) -> DataFrame:
    """Append ``loo_mean`` = leave-one-out mean of ``target_col``
    within each ``category_cols`` cell, rounded at 6; NULL when the
    cell has a single row. Rows with a NULL target raise (woven
    guard) — a silently skipped label would shift every other row's
    encoding, so the contract is explicit: filter or impute first.
    """
    t0 = F.col(target_col).cast("long")
    t = F.when(
        t0.isNull(),
        F.raise_error(
            F.lit(
                f"loo_target_encode: {target_col} is NULL — filter or impute "
                "labels before encoding (every row shifts its cell's mean)"
            )
        ).cast("long"),
    ).otherwise(t0)
    w = Window.partitionBy(*[F.col(c) for c in category_cols])
    work = df.withColumn("__t", t)
    n = F.count(F.lit(1)).over(w)
    s = F.sum("__t").over(w)
    loo = F.when(
        n > 1,
        F.round(
            (s - F.col("__t")).cast("double") / (n - 1).cast("double"), 6
        ),
    )
    return work.withColumn("loo_mean", loo).drop("__t")


def woe_iv_report(
    df: DataFrame,
    value_col: str,
    target_col: str,
    n_bins: int = 10,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Weight-of-Evidence / Information-Value report per equal-
    frequency bin — the credit-scoring-era feature screen that still
    earns its keep in any tabular pipeline: WoE linearizes a feature's
    relationship to a binary target bin-by-bin, and the summed IV is
    the single-number "is this feature worth keeping" score
    (rule of thumb: <0.02 useless, >0.5 suspiciously strong).

    Per bin b (G/B = global non-event/event totals):

        woe_micro(b) = round(ln((good_b·B) / (bad_b·G)) · 1e6)
        iv_micro     = Σ_b fd((good_b·1e6), G) − fd((bad_b·1e6), B)
                           weighted by woe_micro / 1e6

    — the ln argument is an exact integer ratio (the engine's
    micro-nat pattern, q245), so the one float op per bin rounds
    identically across engines; distribution differences use exact
    floor-div micro shares. Bins with zero goods or zero bads emit
    NULL woe/iv terms (undefined without smoothing — documented, not
    imputed). Binning is ``ntile`` over (value, tie_cols) — a TOTAL
    order, so bin membership is deterministic and replayable; ntile's
    count-balancing is identical in Spark and DuckDB.

    Output: one row per bin — (bin, n, n_bad, good, woe_micro,
    iv_term_micro); the feature's IV is the sum of iv_term_micro
    (finishing aggregate left to the caller/query so the per-bin
    diagnostics stay visible). One shuffle: the global ntile window;
    bin aggregation rides it. The single-partition total order is the
    price of EXACT equal-frequency bins (the gate needs exactness) —
    at 100 TB swap the binning for ``percentile_approx`` cutpoints +
    quantiles.assign_buckets and keep the WoE/IV arithmetic unchanged."""
    if n_bins < 2:
        raise ValueError(f"woe_iv_report: n_bins must be >= 2, got {n_bins}")
    ties = [F.col(c).asc() for c in (tie_cols or [])]
    w = Window.orderBy(F.col("__v").asc(), *ties)
    d = df.select(
        F.col(value_col).alias("__v"),
        F.col(target_col).cast("long").alias("__y"),
        *[F.col(c) for c in (tie_cols or [])],
    ).filter(F.col("__v").isNotNull() & F.col("__y").isNotNull())
    binned = d.withColumn("bin", F.ntile(int(n_bins)).over(w))
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_bad"),
    )
    tot = agg.agg(
        F.sum(F.col("n") - F.col("n_bad")).cast("long").alias("__G"),
        F.sum("n_bad").cast("long").alias("__B"),
    )
    good = F.col("n") - F.col("n_bad")
    woe = F.when(
        (good > 0) & (F.col("n_bad") > 0),
        F.round(F.log(good * F.col("__B") / (F.col("n_bad") * F.col("__G"))) * 1e6),
    ).cast("long")
    share_g = F.expr(
        "((n - n_bad) * 1000000 - ((((n - n_bad) * 1000000) % __G) + __G) % __G) div __G"
    )
    share_b = F.expr(
        "(n_bad * 1000000 - (((n_bad * 1000000 % __B) + __B) % __B)) div __B"
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_bad",
            good.cast("long").alias("good"),
            woe.alias("woe_micro"),
            F.when(
                (good > 0) & (F.col("n_bad") > 0),
                F.round((share_g - share_b) * woe / F.lit(1_000_000)),
            )
            .cast("long")
            .alias("iv_term_micro"),
        )
        .orderBy("bin")
    )


def entropy_binning(
    df: DataFrame,
    value_col: str,
    target_col: str,
    depth: int = 2,
    min_size: int = 50,
) -> DataFrame:
    """Supervised (entropy-based, MDLP-style) binning — where WoE
    (q257) SCORES fixed equal-frequency bins, this CHOOSES the bin
    boundaries to be maximally informative about the target:
    recursively split each segment at the candidate boundary
    minimizing the class-entropy of the two halves. Classic Fayyad-
    Irani top-down discretization, with two simplifications stated
    plainly: a FIXED depth replaces the MDL stopping rule (the
    unrolled levels are the oracle replay contract, the q276 Mondrian
    convention), and candidate boundaries are the segment's interior
    ntile(20) edges rather than every distinct value
    (the standard large-data concession — O(candidates) evaluations
    per segment instead of O(distinct)).

    Integer discipline: a candidate's cost is
    Σ_sides Σ_classes n_c · round(ln(n_side/n_c)·1e6) — exact micro-
    nat integer, comparable across candidates of the same segment
    because every candidate splits the same n rows; argmin ties break
    to the smaller boundary. Splits leaving either side under
    ``min_size`` are ineligible; a segment with no eligible candidate
    stays a leaf. Returns one row per leaf: ``(bin_id, n, n_bad,
    min_v, max_v)``.

    Plan per level: one ntile window per segment (boundary
    candidates), a ≤20-fold fan-out join for the cost
    table, one argmin, one assignment pass — everything keyed by the
    current segment."""
    from pyspark.sql import Window

    if depth < 1:
        raise ValueError(f"entropy_binning: depth must be >= 1, got {depth}")
    d = df.select(
        F.col(value_col).cast("long").alias("__v"),
        F.col(target_col).cast("long").alias("__y"),
        F.lit("r").alias("__seg"),
    ).filter(F.col("__v").isNotNull() & F.col("__y").isNotNull())
    d = seal(d, eager=False)
    C = 20
    fd = lambda x, dv: f"(({x}) - (((({x}) % ({dv})) + ({dv})) % ({dv}))) div ({dv})"
    for lvl in range(int(depth)):
        wseg = Window.partitionBy("__seg").orderBy(F.col("__v").asc())
        bounds = (
            d.withColumn("__nt", F.ntile(C).over(wseg))
            .groupBy("__seg", "__nt")
            .agg(F.max("__v").alias("__t"))
            .filter(F.col("__nt") < C)
            .select("__seg", "__t")
            .distinct()
        )
        sidecnt = (
            d.join(bounds, "__seg")
            .select(
                "__seg",
                "__t",
                (F.col("__v") <= F.col("__t")).cast("int").alias("__side"),
                "__y",
            )
            .groupBy("__seg", "__t", "__side", "__y")
            .agg(F.count(F.lit(1)).cast("long").alias("__nc"))
        )
        wside = Window.partitionBy("__seg", "__t", "__side")
        cost = (
            sidecnt.withColumn("__ns", F.sum("__nc").over(wside).cast("long"))
            .select(
                "__seg",
                "__t",
                "__side",
                "__ns",
                (
                    F.col("__nc")
                    * F.round(
                        F.log(F.col("__ns").cast("double") / F.col("__nc")) * 1e6
                    ).cast("long")
                ).alias("__w"),
            )
            .groupBy("__seg", "__t")
            .agg(
                F.sum("__w").cast("long").alias("__cost"),
                F.min("__ns").cast("long").alias("__minside"),
            )
            .filter(F.col("__minside") >= int(min_size))
        )
        wbest = Window.partitionBy("__seg").orderBy(
            F.col("__cost").asc(), F.col("__t").asc()
        )
        best = (
            cost.withColumn("__rk", F.row_number().over(wbest))
            .filter(F.col("__rk") == 1)
            .select(F.col("__seg").alias("__s2"), F.col("__t").alias("__bt"))
        )
        d = seal(
            d.join(F.broadcast(best), d["__seg"] == best["__s2"], "left")
            .select(
                "__v",
                "__y",
                F.when(
                    F.col("__bt").isNotNull(),
                    F.concat(
                        F.col("__seg"),
                        F.when(F.col("__v") <= F.col("__bt"), F.lit("0")).otherwise(
                            F.lit("1")
                        ),
                    ),
                )
                .otherwise(F.col("__seg"))
                .alias("__seg"),
            ),
            eager=False,
        )
    return (
        d.groupBy(F.col("__seg").alias("bin_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__y").cast("long").alias("n_bad"),
            F.min("__v").cast("long").alias("min_v"),
            F.max("__v").cast("long").alias("max_v"),
        )
        .orderBy("bin_id")
    )
