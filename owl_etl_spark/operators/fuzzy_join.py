"""Fuzzy top-1 enrichment joins (SURVEY.md §2.4 J1/J2, W2).

The reference matches dirty names against small dimensions with a
two-level fuzzy strategy (exact-normalized → substring containment →
similarity cutoff; src/etl/transform.py:171-384, 679-733). The
distributed form: broadcast the dimension, score every (probe, dim)
candidate, keep the best per probe via row_number — the W2 pattern.

The dimension side is always tiny (a lookup table of banks/agencies),
so the cross join is broadcast and the only shuffle is the final
window on the probe key. Probe-side cardinality can be arbitrarily
large.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.functions.similarity import levenshtein_ratio


def normalize_name(col: Column) -> Column:
    """Aggressive name normalization: lowercase, strip punctuation,
    collapse spaces (reference: src/etl/transform.py:308-325)."""
    out = F.lower(F.trim(col))
    out = F.regexp_replace(out, r"[^\w\sáéíóúñü]", " ")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def fuzzy_top1_join(
    probe: DataFrame,
    dim: DataFrame,
    probe_col: str,
    dim_col: str,
    threshold: float = 0.7,
) -> DataFrame:
    """Attach the best-matching dimension row to each probe row.

    Match precedence per the reference (src/etl/transform.py:229-250,
    358-384): exact normalized equality outranks substring containment,
    which outranks pure similarity; within a tier the similarity score
    decides, and remaining ties break on the dimension value for
    determinism. Probes whose best score < ``threshold`` get nulls
    (a left join). The similarity is
    ``levenshtein_ratio``.
    """
    p = probe.withColumn("__p_norm", normalize_name(F.col(probe_col)))
    d = dim.withColumn("__d_norm", normalize_name(F.col(dim_col)))
    cand = p.join(F.broadcast(d), how="cross")
    exact = (F.col("__p_norm") == F.col("__d_norm")).cast("int")
    contains = (
        F.col("__p_norm").contains(F.col("__d_norm"))
        | F.col("__d_norm").contains(F.col("__p_norm"))
    ).cast("int")
    sim = levenshtein_ratio(F.col("__p_norm"), F.col("__d_norm"))
    cand = (
        cand.withColumn("__exact", exact)
        .withColumn("__contains", contains)
        .withColumn("__sim", sim)
    )
    w = Window.partitionBy(*[F.col(c) for c in probe.columns]).orderBy(
        F.col("__exact").desc(),
        F.col("__contains").desc(),
        F.col("__sim").desc(),
        F.col("__d_norm").asc(),
    )
    best = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .withColumn(
            "__matched",
            (F.col("__exact") == 1) | (F.col("__contains") == 1) | (F.col("__sim") >= threshold),
        )
    )
    for c in dim.columns:
        best = best.withColumn(c, F.when(F.col("__matched"), F.col(c)))
    return best.withColumn("match_score", F.round(F.col("__sim"), 6)).drop(
        "__p_norm", "__d_norm", "__exact", "__contains", "__sim", "__rn", "__matched"
    )


def fuzzy_set_membership(
    df: DataFrame,
    col: str,
    known_values: list[str],
    out_col: str,
    flag_col: str,
) -> DataFrame:
    """J2: normalize a column against a small known-value set.

    Writes the best-matching canonical value (if score ≥ 0.8 or
    containment) plus a boolean matched flag (reference:
    src/etl/transform.py:679-733 — rating-agency normalization).
    Implemented as a broadcast literal-array cross via explode-free
    scoring: for a handful of known values, a CASE cascade of scores
    is cheaper than a join.
    """
    spark = df.sparkSession
    from owl_etl_spark.session import literal_frame

    dim = literal_frame(spark, [(v,) for v in known_values], [out_col])
    probe = df.withColumn("__orig", F.col(col))
    joined = fuzzy_top1_join(probe, dim, col, out_col, threshold=0.8)
    return joined.withColumn(flag_col, F.col(out_col).isNotNull()).withColumn(
        out_col, F.coalesce(F.col(out_col), F.col("__orig"))
    ).drop("__orig")


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
