"""Reciprocal-rank fusion of multiple rankings.

``rrf_fuse`` merges N independently-produced rankings of the same
item space into one consensus ranking by reciprocal-rank fusion
(Cormack/Clarke/Buettcher, SIGIR 2009):

    RRF(item) = Σ_lists 1 / (k + rank_in_list)

— the standard hybrid-search combiner (BM25 list + ANN list), also
the cheap ensemble for any multi-signal ranking (quality score ×
freshness × popularity). Items missing from a list simply contribute
nothing for that list — RRF's defining robustness.

Numeric discipline: the engine never sums floats — each
contribution is the exact integer ``10⁹ div (k + rank)`` (nano-scale
reciprocal rank), summed in BIGINT, so fusion scores are
order-independent and engine-identical, and the final ordering
(score desc, item asc) is a total order decided entirely in
integers. With the default k=60 the nano floor keeps ~7 significant
digits per term — rank differences RRF can express are preserved
far below any realistic tie density; exact ties (identical rank
multisets) are real ties and break on the item key.

Plan: one groupBy on the item key (map-side combinable sum), then a
single global top-order window on the post-aggregation table (items
× 1 row) — at 100 TB the fused table is item-cardinality, not
fact-cardinality; cap it with ``top_n``. A null or < 1 rank raises
at runtime via a guard woven into the score column (Catalyst cannot
prune it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rrf_fuse(
    rankings: DataFrame,
    list_col: str,
    item_col: str,
    rank_col: str,
    top_n: int | None = None,
) -> DataFrame:
    """Fuse ``rankings`` rows ``(list_id, item, rank)`` (rank 1-based
    within each list) into ``(item, n_lists, best_rank, rrf_nano,
    fused_rank)`` ordered by (rrf_nano desc, item asc). ``top_n``
    truncates the fused ranking after ordering.
    """
    rank = F.col(rank_col).cast("long")
    contrib = F.when(
        rank.isNull() | (rank < 1),
        F.raise_error(
            F.concat(
                F.lit("rrf_fuse: rank must be >= 1, got "),
                F.coalesce(rank.cast("string"), F.lit("null")),
                F.lit(" in list "),
                F.col(list_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.expr(f"1000000000 div (60 + CAST({rank_col} AS BIGINT))"))
    fused = (
        rankings.select(
            F.col(item_col).alias("item"),
            rank.alias("__rank"),
            contrib.alias("__c"),
        )
        .groupBy("item")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lists"),
            F.min("__rank").cast("long").alias("best_rank"),
            F.sum("__c").cast("long").alias("rrf_nano"),
        )
    )
    w = Window.orderBy(F.col("rrf_nano").desc(), F.col("item").asc())
    out = fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
    if top_n is not None:
        out = out.filter(F.col("fused_rank") <= int(top_n))
    return out
