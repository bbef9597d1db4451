"""Deterministic RANSAC line fitting — robust regression by consensus,
the complement to the global-loss fits already here (OLS q218,
Theil-Sen q189, Huber q272): RANSAC wins when the data is MOSTLY
structure plus a contaminating population (a pricing rule plus manual
overrides, a sensor plus a stuck mode), because candidates are scored
by how many points they EXPLAIN, not by how little total loss they
leave.

Classic RANSAC draws random point pairs; this one derives each
candidate's two sample indices from md5 hashes (the engine's
portable-hash discipline), so the whole fit — candidates, inlier
counts, winner — is a pure function of the data: identical across
partitionings, retries, and engines, and fully SQL-replayable.

Integer discipline: points are exact integer (x, y); a candidate
through (x₁,y₁), (x₂,y₂) keeps slope as the exact rational
(dy, dx) — NEVER a rounded float — and the inlier test cross-
multiplies:  |dy·(x−x₁) − dx·(y−y₁)| ≤ tol·|dx|, all BIGINTs.
Degenerate candidates (x₁ = x₂, or the same point drawn twice) are
kept in the report with NULL slope and 0 inliers — visible, not
resampled (a resample loop would make the candidate count
data-dependent; the fixed budget is the contract, like q264's
attempt budget).

Overflow: |dy·x| ≤ y_range·x_range — raise-guarded via
``max_product``. Scale shape: ONE global window assigns dense sample
indices (the exactness price, same note as q257 — swap in hash
sampling at 100 TB), candidates are a K-row broadcast, and the
inlier count is one map-side K×n fan-out + aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.functions.hashing import md5_long
from owl_etl_spark.session import seal

MICRO = 1_000_000


def ransac_line_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key_col: str,
    n_candidates: int = 32,
    tol: int = 100,
    max_product: int = 10**13,
) -> DataFrame:
    """Score ``n_candidates`` hash-drawn two-point lines by inlier
    consensus: one row per candidate —
    ``(candidate, x1, y1, x2, y2, slope_micro, n_inliers, is_best)``
    with ``slope_micro = fd(dy·1e6, dx)`` (display only — the inlier
    test uses the exact rational), ``is_best`` marking the maximum
    inlier count (ties → lowest candidate id). A point is an inlier
    when |dy·(x−x₁) − dx·(y−y₁)| ≤ tol·|dx|, i.e. vertical distance
    ≤ tol in exact integer arithmetic."""
    if n_candidates < 1:
        raise ValueError(f"ransac_line_fit: n_candidates must be >= 1")
    K = int(n_candidates)
    pts = df.select(
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
        F.col(key_col).cast("string").alias("__k"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    guard = pts.agg(
        ((F.max("__x") - F.min("__x")) * (F.max("__y") - F.min("__y")))
        .cast("long")
        .alias("__prod"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    idx = pts.withColumn(
        "__i",
        F.row_number().over(
            Window.orderBy(F.col("__x").asc(), F.col("__y").asc(), F.col("__k").asc())
        )
        - 1,
    )
    idx = seal(idx, eager=False)
    spark = df.sparkSession
    cands = (
        spark.range(0, K)
        .select(F.col("id").cast("long").alias("candidate"))
        .crossJoin(
            F.broadcast(
                guard.withColumn(
                    "__n",
                    F.when(
                        F.col("__prod") > int(max_product),
                        F.raise_error(
                            F.lit(
                                "ransac_line_fit: x_range*y_range exceeds the "
                                "BIGINT headroom guard — rescale inputs"
                            )
                        ).cast("long"),
                    ).otherwise(F.col("__n")),
                )
            )
        )
        .select(
            "candidate",
            (md5_long(F.concat(F.lit("ransac#a#"), F.col("candidate").cast("string")))
             % F.col("__n")).alias("__ia"),
            (md5_long(F.concat(F.lit("ransac#b#"), F.col("candidate").cast("string")))
             % F.col("__n")).alias("__ib"),
        )
    )
    pa = idx.select(
        F.col("__i").alias("__ia"), F.col("__x").alias("x1"), F.col("__y").alias("y1")
    )
    pb = idx.select(
        F.col("__i").alias("__ib"), F.col("__x").alias("x2"), F.col("__y").alias("y2")
    )
    lines = seal(
        cands.join(F.broadcast(pa), "__ia")
        .join(F.broadcast(pb), "__ib")
        .select(
            "candidate",
            "x1",
            "y1",
            "x2",
            "y2",
            (F.col("y2") - F.col("y1")).alias("__dy"),
            (F.col("x2") - F.col("x1")).alias("__dx"),
        ),
        eager=False,
    )
    counted = (
        pts.crossJoin(F.broadcast(lines.filter(F.col("__dx") != 0)))
        .filter(
            F.abs(
                F.col("__dy") * (F.col("__x") - F.col("x1"))
                - F.col("__dx") * (F.col("__y") - F.col("y1"))
            )
            <= F.lit(int(tol)) * F.abs(F.col("__dx"))
        )
        .groupBy("candidate")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inliers"))
    )
    scored = lines.join(counted, "candidate", "left").select(
        "candidate",
        "x1",
        "y1",
        "x2",
        "y2",
        F.when(
            F.col("__dx") != 0,
            F.expr(
                "((__dy * 1000000) - ((((__dy * 1000000) % __dx) + __dx) % __dx))"
                " div __dx"
            ),
        )
        .cast("long")
        .alias("slope_micro"),
        F.coalesce(F.col("n_inliers"), F.lit(0)).cast("long").alias("n_inliers"),
    )
    best = scored.orderBy(
        F.col("n_inliers").desc(), F.col("candidate").asc()
    ).limit(1).select(
        F.col("candidate").alias("__bc")
    )
    return (
        scored.crossJoin(F.broadcast(best))
        .select(
            "candidate",
            "x1",
            "y1",
            "x2",
            "y2",
            "slope_micro",
            "n_inliers",
            (F.col("candidate") == F.col("__bc")).alias("is_best"),
        )
        .orderBy("candidate")
    )
