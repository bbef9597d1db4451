"""Z-order (Morton) interleaved-bit clustering keys.

``write_sorted_parquet`` clusters on ONE key; queries filtering on a
*different* key still scan everything. Z-ordering interleaves the bits
of two (rank-normalized) keys so that sorting by the combined key
keeps BOTH dimensions locally compact — a 2-D box predicate touches
O(perimeter) files instead of O(n). This is the same idea Delta/
Iceberg expose as ``OPTIMIZE ZORDER BY``; here it is a plain column
expression + the existing range-partitioned sorted writer, nothing
engine-specific.

Scale notes: rank normalization needs each column's min/max — one
cheap stats pass (or provide known bounds); the interleave itself is
a pure per-row expression (``operators.zorder.zorder_expr``: unrolled
shifts, whole-stage codegen, no UDF, no shuffle beyond the final range
partition).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.operators.zorder import zorder_expr


def _scale_to_bits(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Min-max scale a numeric column to integer ranks in [0, 2**bits)."""
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1))
    frac = (col.cast("double") - lo) / span
    mx = (1 << bits) - 1
    return F.least(F.lit(mx), F.greatest(F.lit(0), F.floor(frac * mx).cast("long")))


def zorder_key(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Attach ``__zkey``: the Morton key (``zorder_expr``, 16 bits per
    column) over two numeric columns min-max scaled to [0, 2**16);
    bit i of ``col_a`` lands at position 2i+1, of ``col_b`` at 2i.
    Bounds come from one min/max aggregation (broadcast as literals
    into the row expression — the plan stays shuffle-free)."""
    stats = df.agg(
        F.min(col_a).alias("alo"), F.max(col_a).alias("ahi"),
        F.min(col_b).alias("blo"), F.max(col_b).alias("bhi"),
    ).collect()[0]
    scaled = df.withColumns({
        "__za": _scale_to_bits(F.col(col_a), F.lit(stats.alo), F.lit(stats.ahi), 16),
        "__zb": _scale_to_bits(F.col(col_b), F.lit(stats.blo), F.lit(stats.bhi), 16),
    })
    return scaled.withColumn("__zkey", zorder_expr(["__zb", "__za"], 16)).drop("__za", "__zb")


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    target_partitions: int,
) -> None:
    """Write parquet clustered on the Z-order of (col_a, col_b): range
    partition + sort on the Morton key, then drop it. Point/box
    queries on EITHER or BOTH columns prune files via parquet min/max
    stats."""
    keyed = zorder_key(df, col_a, col_b)
    (
        keyed.repartitionByRange(target_partitions, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
