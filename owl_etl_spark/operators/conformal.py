"""Split-conformal prediction calibration — distribution-free
prediction intervals with a finite-sample coverage guarantee, the
model-eval-suite step AFTER calibration curves (q179) and isotonic
fits (q228): given any point predictor, conformal wraps it in an
interval that provably covers ≥ 1−α of future points.

Split-conformal recipe (Vovk; Lei et al.):

1. split rows into CALIBRATION and TEST by a deterministic hash
   (md5-portable, the q115/hash_split discipline — no RNG, stable
   under repartitioning and replayable by the oracle);
2. nonconformity score on calibration rows: s_i = |y_i − ŷ(x_i)|
   (here ŷ = the per-group integer median, a real if simple
   predictor — exact integer cents);
3. the conformal quantile q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest
   calibration score (the finite-sample-corrected rank — NOT the
   naive quantile; the +1 is what makes the guarantee hold);
4. report per group: q̂ and the EMPIRICAL coverage of ŷ ± q̂ on the
   held-out test rows — which must be ≥ 1−α in expectation.

Everything is exact integer arithmetic: scores are |cents − cents|,
the quantile is an order statistic selected by rank (one window on
the group key), coverage is a counted fraction in micro units. The
guarantee itself is a THEOREM about exchangeable data, not something
a gate can assert row-wise — so the query hashes the exact per-group
numbers and the unit tests check the coverage property statistically.

Scale shape: one shuffle on the group key carries the rank window;
medians come from the same partitioning; no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MICRO = 1_000_000


def conformal_calibration_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    alpha_bp: int = 1000,
) -> DataFrame:
    """Per-group split-conformal report:
    ``(group, n_cal, n_test, median, qhat, covered, coverage_micro)``
    — exact BIGINTs. ``alpha_bp`` is α in basis points (1000 = 10% →
    target coverage 90%). Rows hash to calibration when
    md5-derived parity of ``key_col`` ≡ 0 (mod 2).
    Groups with empty calibration or test halves are dropped (no
    quantile / nothing to cover — documented)."""
    if not 0 < alpha_bp < 10_000:
        raise ValueError(f"alpha_bp must be in (0, 10000), got {alpha_bp}")
    from owl_etl_spark.functions.hashing import md5_long

    d = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("long").alias("__y"),
        F.col(key_col).alias("__k"),
    ).filter(F.col("__y").isNotNull() & F.col("__g").isNotNull())
    d = d.withColumn(
        "__cal", (md5_long(F.col("__k").cast("string")) % 2 == 0)
    )
    # predictor: per-group integer median of CALIBRATION values only
    # (training on test would leak) — exact lower-median by rank
    cal = d.filter(F.col("__cal"))
    wg = Window.partitionBy("__g").orderBy(F.col("__y").asc(), F.col("__k").asc())
    med = (
        cal.withColumn("__rn", F.row_number().over(wg))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("__g")))
        # integer rank arithmetic only: float-division-then-cast
        # TRUNCATES in Spark but rounds-half-even in DuckDB
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select(F.col("__g").alias("__gm"), F.col("__y").alias("median"))
    )
    scored = cal.join(med, cal["__g"] == med["__gm"]).select(
        "__g", "__k", F.abs(F.col("__y") - F.col("median")).alias("__s")
    )
    ws = Window.partitionBy("__g").orderBy(F.col("__s").asc(), F.col("__k").asc())
    qhat = (
        scored.withColumn("__rn", F.row_number().over(ws))
        .withColumn("__nc", F.count(F.lit(1)).over(Window.partitionBy("__g")))
        # finite-sample rank: ceil((n+1)(1-alpha)); beyond n -> max
        # score. Integer ceil — (a + b - 1) div b — for the same
        # trunc-vs-round-half-even portability reason as the median.
        .filter(
            F.col("__rn")
            == F.expr(
                f"least(__nc, ((__nc + 1) * (10000 - {int(alpha_bp)}) + 9999)"
                " div 10000)"
            )
        )
        .select(
            F.col("__g").alias("__gq"),
            F.col("__s").alias("qhat"),
            F.col("__nc").alias("n_cal"),
        )
    )
    test = d.filter(~F.col("__cal"))
    return (
        test.join(med, test["__g"] == med["__gm"])
        .join(qhat, test["__g"] == qhat["__gq"])
        .groupBy(F.col("__g").alias("group"), "median", "qhat", "n_cal")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                (F.abs(F.col("__y") - F.col("median")) <= F.col("qhat")).cast("long")
            )
            .cast("long")
            .alias("covered"),
        )
        .select(
            "group",
            "n_cal",
            "n_test",
            "median",
            "qhat",
            "covered",
            F.expr(
                "(covered * 1000000 - ((((covered * 1000000) % n_test) + n_test)"
                " % n_test)) div n_test"
            )
            .cast("long")
            .alias("coverage_micro"),
        )
        .orderBy("group")
    )
