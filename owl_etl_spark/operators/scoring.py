"""RFM customer scoring: recency / frequency / monetary quintiles on
the billions-of-keys quantile path.

The classic CRM segmentation (5-5-5 = best customers, 1-1-1 =
gone): each dimension scores 1..k by exact nearest-rank quantile
bucket. Most warehouses ntile() this — a global sort per dimension
over every key. Here each dimension reuses the q100 machinery
(quantiles.exact_rank_cutpoints): cutpoints from a cum-count over
DISTINCT dimension values (integer rank arithmetic, bit-identical
across engines), then assignment is a broadcast literal comparison
chain — map-side, no sort over the keys, three tiny cutpoint jobs.

Conventions: recency is "time units since last activity" so SMALLER
is better — its score is flipped (k+1−bucket) so 5 always means
"best". Ties on a cutpoint land in the LOWER bucket (deterministic
under any row order); with heavy ties (e.g. frequency=1 for most
keys) whole score bands collapse into one bucket — correct
nearest-rank behavior, not a bug.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.operators.quantiles import (
    assign_buckets,
    collect_cutpoints,
    exact_rank_cutpoints,
)


def rfm_scores(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """One row per key: ``(key, recency, frequency, monetary,
    r_score, f_score, m_score, rfm)``.

    ``ts_col`` must be NUMERIC activity time in the caller's grain
    (epoch days/seconds — convert dates up front; keeping the grain
    caller-owned keeps the arithmetic engine-portable); ``value_col``
    integer units (cents). Recency = corpus max(ts) − max(ts), the
    corpus maximum from a 1-row aggregate.
    ``rfm`` = r·100 + f·10 + m.
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).cast("long").alias("__ts"),
        F.col(value_col).cast("long").alias("__v"),
    )
    per_key = base.groupBy("__k").agg(
        F.max("__ts").alias("__last"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum("__v").cast("long").alias("monetary"),
    )
    gmax = per_key.agg(F.max("__last").alias("__gmax"))
    per_key = per_key.crossJoin(F.broadcast(gmax))
    rec = (F.col("__gmax") - F.col("__last")).cast("long")
    per_key = per_key.withColumn("recency", rec).select(
        "__k", "recency", "frequency", "monetary"
    )
    scored = per_key
    for dim, flip in (("recency", True), ("frequency", False), ("monetary", False)):
        cuts = collect_cutpoints(exact_rank_cutpoints(per_key, dim, 5))
        scored = assign_buckets(scored, dim, cuts, bucket_col=f"__b_{dim}")
        expr = (
            (F.lit(6) - F.col(f"__b_{dim}")) if flip else F.col(f"__b_{dim}")
        )
        scored = scored.withColumn(f"{dim[0]}_score", expr.cast("long"))
    return scored.select(
        F.col("__k").alias(key_col),
        "recency",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("long")
        .alias("rfm"),
    )
