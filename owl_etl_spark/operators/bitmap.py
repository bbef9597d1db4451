"""Bitmap-index segment overlap: exact audience intersections without
shuffling members.

"How many users are in BOTH segment A and segment B" is normally a
self-join of the membership table on the member key — at 10⁹ members
× S segments that shuffle dwarfs everything. The roaring-bitmap trick
compresses each segment into (word → 32-bit occupancy mask) rows:
member m sets bit ``m mod 32`` of word ``m div 32``. Intersections
then run on the WORD tables (32× smaller than the member lists, and
only words present on both sides join) with ``bit_count(a & b)`` —
per-word AND + popcount, exact distinct-member semantics because a
bitmap cannot double-count.

Portability discipline: 32 bits per BIGINT word, never 64, so no
engine disagreement about ``1 << 63`` sign-bit overflow (the q134
bloom-filter rule); member ids must be non-negative integers.

Scale shape: one groupBy (member→word packing, map-side combinable
via bit_or), one word-keyed equi-join whose fan-out per word is the
number of segments containing that word (≤ S, constant), one
aggregate per segment pair. The segment-pair result is |S|² rows —
driver-tiny for real segment counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.session import seal


def segment_bitmaps(
    df: DataFrame,
    segment_col: str,
    member_col: str,
) -> DataFrame:
    """Pack a (segment, member) relation into per-word bitmaps:
    ``(segment, word, bits)`` where ``bits`` has bit ``m mod 32`` set
    for every member ``m`` with ``m div 32 == word``. Null segments
    and members are excluded; negative member ids raise (a negative
    id has no bit position)."""
    m0 = F.col(member_col).cast("long")
    m = F.when(
        m0 < 0,
        F.raise_error(
            F.concat(
                F.lit(f"segment_bitmaps: {member_col} must be non-negative, got "),
                m0.cast("string"),
            )
        ).cast("long"),
    ).otherwise(m0)
    d = df.where(
        F.col(segment_col).isNotNull() & F.col(member_col).isNotNull()
    ).select(
        F.col(segment_col).alias("segment"),
        m.alias("__m"),
    ).select(
        "segment",
        F.expr("__m div 32").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__m % 32 AS INT))").alias("__bit"),
    )
    return d.groupBy("segment", "word").agg(
        F.bit_or("__bit").cast("long").alias("bits")
    )


def segment_overlap(
    df: DataFrame,
    segment_col: str,
    member_col: str,
) -> DataFrame:
    """Exact pairwise segment overlap from a (segment, member)
    relation: ``(seg_a, seg_b, n_a, n_b, n_common, jaccard_micro)``
    for every unordered pair (seg_a < seg_b) sharing at least one
    member, via per-word bitmap AND + popcount (see module
    docstring). ``jaccard_micro`` = n_common·10⁶ div (n_a + n_b −
    n_common) — exact integer division of exact counts."""
    bm = seal(segment_bitmaps(df, segment_col, member_col))
    sizes = bm.groupBy("segment").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n")
    )
    a = bm.select(
        F.col("segment").alias("seg_a"), "word", F.col("bits").alias("__ba")
    )
    b = bm.select(
        F.col("segment").alias("seg_b"), "word", F.col("bits").alias("__bb")
    )
    common = (
        a.join(b, "word")
        .where(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(
            F.sum(F.bit_count(F.col("__ba").bitwiseAND(F.col("__bb"))))
            .cast("long")
            .alias("n_common")
        )
        .where(F.col("n_common") > 0)
    )
    sa = sizes.select(F.col("segment").alias("seg_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("segment").alias("seg_b"), F.col("n").alias("n_b"))
    return (
        common.join(F.broadcast(sa), "seg_a")
        .join(F.broadcast(sb), "seg_b")
        .select(
            "seg_a",
            "seg_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr("n_common * 1000000 div (n_a + n_b - n_common)").alias(
                "jaccard_micro"
            ),
        )
    )
