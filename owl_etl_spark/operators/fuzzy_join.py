"""Blocked fuzzy self-join (SURVEY.md §2.4 J1/J2).

The reference matches dirty names against small dimensions with a
fuzzy strategy (src/etl/transform.py:171-384, 679-733); the monthly
load's form of that is ``plans.fic_pipeline``'s agency match. This
module holds the corpus-scale form: every pair within an edit
distance, confined to equal blocking keys so the quadratic candidate
set never becomes a cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def edit_distance_self_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    max_dist: int,
) -> DataFrame:
    """All pairs within ``max_dist`` edit distance, *blocked*: the
    quadratic candidate set is confined to equal ``block_cols``
    groups (brand, length band, phonetic key, ...) joined equi-style,
    so Catalyst plans a hash join on the block key instead of a cross
    product. ``levenshtein`` is JVM-side codegen. ``id_a < id_b``
    canonicalizes pairs. The reference's difflib matching (SURVEY
    J1/J2) is the tiny-dim form; this is the corpus-scale form."""
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"),
        *[F.col(c) for c in block_cols],
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"),
        *[F.col(c) for c in block_cols],
    )
    return (
        a.join(b, block_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("text_a", "text_b"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", *block_cols, "dist")
    )
