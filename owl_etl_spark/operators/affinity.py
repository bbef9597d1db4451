"""Item-to-item co-occurrence affinity (cosine over binary baskets).

``cooccurrence_similarity_topk`` is the classic "customers who buy X
also buy Y" item-similarity primitive — the neighborhood model behind
co-purchase recommenders and substitute/complement analysis, and a
cheap collaborative-filtering baseline over any (entity, item)
incidence table.

Similarity is the cosine over binary entity-incidence vectors:

    cos(a, b) = c_ab / sqrt(c_a * c_b)

where c_a = #entities containing a and c_ab = #entities containing
both. The engine never leaves integers: the reported score is

    cosine2_micro = (c_ab² * 10^12) div (c_a * c_b)

— the squared cosine in integer micro²-units, computed in
DECIMAL(38,0) so the product is exact at any count magnitude, then
floor-divided back into BIGINT (ratio <= 10^12). Squaring is
monotone on non-negatives, so top-k by cosine2_micro equals top-k by
cosine, and every comparison is exact — no float sqrt anywhere near
an ordering decision (the same discipline as the G² test in
operators/termstats.py).

Plan shape: distinct (entity, item) baskets → per-entity self-join
on the entity key producing ordered pairs → one aggregate to pair
counts → broadcast-join the per-item counts (items table is
post-aggregation small) → per-item top-k via row_number (plans as
WindowGroupLimit). Per-task fan-out of the pair step is bounded by
basket_size², so the operator takes an explicit ``max_basket``
cap: entities with more distinct items than the cap are EXCLUDED
(documented semantics both engines replay — the standard practice
for power-user/bot baskets, which carry near-zero signal per pair
and quadratic cost). With a capped basket the pair stage is a
constant-fan-out keyed shuffle — the fifo_allocate contract
(operators/intervals.py) applied to market baskets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cooccurrence_similarity_topk(
    df: DataFrame,
    entity_col: str,
    item_col: str,
    max_basket: int = 200,
) -> DataFrame:
    """Top-5 most-similar items per item by binary cosine over
    ``entity_col`` incidence. Returns
    ``(item, neighbor, c_item, c_nbr, c_both, cosine2_micro, rk)``
    with rk = 1..5 ordered by (cosine2_micro desc, neighbor asc) — a
    total order, so results are deterministic. Null entities/items
    are dropped; entities with more than ``max_basket`` distinct
    items are excluded (see module docstring).
    """
    baskets = (
        df.select(F.col(entity_col).alias("__e"), F.col(item_col).alias("__i"))
        .filter(F.col("__e").isNotNull() & F.col("__i").isNotNull())
        .distinct()
    )
    sizes = baskets.groupBy("__e").agg(F.count(F.lit(1)).alias("__bs"))
    kept = baskets.join(
        sizes.filter(F.col("__bs") <= int(max_basket)).select("__e"), "__e", "left_semi"
    )
    item_counts = kept.groupBy(F.col("__i").alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("c_item")
    )
    a = kept.alias("a")
    b = kept.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.__e") == F.col("b.__e")) & (F.col("a.__i") < F.col("b.__i")),
        )
        .groupBy(F.col("a.__i").alias("i1"), F.col("b.__i").alias("i2"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_both"))
    )
    # symmetrize: each unordered pair becomes a neighbor row in both
    # directions so every item gets its full candidate list
    sym = pair_counts.select(
        F.col("i1").alias("item"), F.col("i2").alias("neighbor"), "c_both"
    ).unionByName(
        pair_counts.select(
            F.col("i2").alias("item"), F.col("i1").alias("neighbor"), "c_both"
        )
    )
    scored = (
        sym.join(F.broadcast(item_counts), "item")
        .join(
            F.broadcast(
                item_counts.select(
                    F.col("item").alias("neighbor"), F.col("c_item").alias("c_nbr")
                )
            ),
            "neighbor",
        )
        .withColumn(
            # `div` on DECIMAL(38,0) operands is exact floor division
            # into BIGINT — verified equal to DuckDB HUGEINT `//`
            # (both truncate; operands are non-negative)
            "cosine2_micro",
            F.expr(
                "CAST(CAST(c_both AS DECIMAL(38,0)) * CAST(c_both AS DECIMAL(38,0))"
                " * CAST(1000000000000 AS DECIMAL(38,0)) AS DECIMAL(38,0))"
                " div (CAST(c_item AS DECIMAL(38,0)) * CAST(c_nbr AS DECIMAL(38,0)))"
            ),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine2_micro").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 5)
        .select("item", "neighbor", "c_item", "c_nbr", "c_both", "cosine2_micro", "rk")
    )


def mutual_best_match(
    df: DataFrame,
    left_col: str,
    right_col: str,
    weight_col: str,
) -> DataFrame:
    """Reciprocal best match over a weighted bipartite relation: keep
    the (left, right) pairs where right is left's argmax-weight
    partner AND left is right's argmax-weight partner — the mutual-
    top-1 rule that turns a noisy affinity table into high-precision
    1:1 links (record linkage's "both sides agree" heuristic, also the
    mutual-nearest-neighbor rule used to mine translation pairs from
    embedding similarity).

    ``weight_col`` must be an exact integer (cents, counts — the
    caller scales): argmax over floats is partition-order-dependent
    when ties differ by ulps, while integer weights make both argmaxes
    exact. Ties break toward the SMALLEST partner key, so the match
    set is deterministic and a SQL oracle replays it. Returns
    (left, right, weight).

    Plan shape: the relation is aggregated to distinct (left, right,
    total-weight) first (one shuffle), then each side's top-1 is a
    row_number window over that aggregated frame — two
    WindowGroupLimit passes that plan as top-1 per key and never
    materialize a sort of the raw rows. The final inner join of the
    two top-1 frames is tiny (≤ one row per key on each side). No
    step is quadratic; hot keys cost their own aggregated fan-in only.
    """
    from pyspark.sql import Window

    agg = (
        df.groupBy(
            F.col(left_col).alias("__l"), F.col(right_col).alias("__r")
        )
        .agg(F.sum(F.col(weight_col).cast("long")).alias("__w"))
    )
    by_left = Window.partitionBy("__l").orderBy(
        F.col("__w").desc(), F.col("__r").asc()
    )
    by_right = Window.partitionBy("__r").orderBy(
        F.col("__w").desc(), F.col("__l").asc()
    )
    best_r = (
        agg.withColumn("__rn", F.row_number().over(by_left))
        .filter(F.col("__rn") == 1)
        .select("__l", "__r", "__w")
    )
    best_l = (
        agg.withColumn("__rn", F.row_number().over(by_right))
        .filter(F.col("__rn") == 1)
        .select(F.col("__l").alias("__l2"), F.col("__r").alias("__r2"))
    )
    return (
        best_r.join(
            best_l,
            (F.col("__l") == F.col("__l2")) & (F.col("__r") == F.col("__r2")),
        )
        .select(
            F.col("__l").alias(left_col),
            F.col("__r").alias(right_col),
            F.col("__w").alias("weight"),
        )
    )
