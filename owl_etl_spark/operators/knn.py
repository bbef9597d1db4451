"""Similarity search over embedding columns.

Brute-force cosine top-k (the exact baseline) and a random-hyperplane
LSH bucketed variant (the scale path). Vectors are ``array<float>``;
all math is promoted to double with a fixed summation order so results
are deterministic and oracle-verifiable.

Scale design: brute force is O(|Q|·|C|·d) — fine when the query set is
small (it broadcasts) or as the verifier after bucketing. The LSH
variant shuffles once on the bucket id; recall is tuned by
``num_planes`` (bucket granularity) and multi-probe unions.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.functions.similarity import cosine_sql


def brute_force_knn(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector.

    Broadcast the (small) query side, cross-join against the corpus,
    rank per query on (rounded cosine desc, neighbor id) — the rounding
    + id tie-break makes top-5 deterministic across runs and engines.
    Excludes self-matches (same id).
    """
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine_sql("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_bucket_expr(vec_col: str, num_planes: int = 8, seed: int = 42):
    """LSH bucket id Column: sign pattern of ``num_planes`` random
    hyperplane projections of a 64-dim vector.

    Hyperplanes are generated driver-side from a fixed seed and
    embedded as literals — identical across executors and runs; the
    projection is an intra-row ``aggregate`` (no UDF, no shuffle).
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_planes, 64))
    bucket_terms = []
    for p_idx in range(num_planes):
        arr = ", ".join(f"{float(v)!r}D" for v in planes[p_idx])
        dot = (
            f"aggregate(zip_with(transform({vec_col}, v -> CAST(v AS DOUBLE)), array({arr}), "
            f"(x, y) -> x * y), 0D, (acc, v) -> acc + v)"
        )
        bucket_terms.append(f"(CASE WHEN ({dot}) >= 0D THEN {2 ** p_idx} ELSE 0 END)")
    return F.expr(" + ".join(bucket_terms))


def random_hyperplane_bucket(df: DataFrame) -> DataFrame:
    """Attach a 4-plane ``lsh_bucket`` column (see hyperplane_bucket_expr)."""
    return df.withColumn("lsh_bucket", hyperplane_bucket_expr("embedding", 4))


def _multi_table_buckets(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
    """(id, vec, table, bucket) — one row per hash table, 4 tables of
    4 planes. Each table is an independent set of hyperplanes (seed
    42 + 1000·t); all tables' buckets are computed in ONE projection,
    then exploded."""
    out = df.select(F.col("vec_id").alias(id_alias), F.col("embedding").alias(vec_alias))
    exprs = [
        F.struct(
            F.lit(t).alias("tbl"),
            hyperplane_bucket_expr(vec_alias, 4, 42 + 1000 * t).alias("bucket"),
        )
        for t in range(4)
    ]
    return out.withColumn("tb", F.explode(F.array(*exprs))).select(
        id_alias, vec_alias, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )


def lsh_knn(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Approximate top-5: candidates share the query's bucket in ANY of
    4 independent hyperplane tables, then exact cosine rank
    within candidates. Equi-join on (table, bucket) instead of a cross
    join — the 100 TB path.

    Recall is set by (planes, tables) = (4, 4): fewer planes → bigger
    buckets → higher recall & cost; more tables → more probes. (4, 4)
    give ~2^4 buckets/table; recall is observable by
    comparing against ``brute_force_knn`` on a sample (tests do)."""
    qb = _multi_table_buckets(queries, "query_id", "qv")
    cb = _multi_table_buckets(corpus, "neighbor_id", "cv")
    scored = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv")
        .distinct()  # a pair may collide in several tables
        .withColumn("cosine", F.round(cosine_sql("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def sq8_quantize(
    df: DataFrame
) -> DataFrame:
    """Symmetric int8 scalar quantization (SQ8) of an embedding
    column: each vector maps to q_i = round(v_i / max|v| · 127) —
    the standard 4× memory compression for vector indexes (float32 →
    int8), sitting between the exact float path (q30) and PQ's 32×
    (q105): recall loss is near-zero because only the mantissa is
    squeezed, not the dimensionality.

    Returns (id, qvec array<bigint>, scale double). Everything is
    intra-row expression work — no UDF, no shuffle, and downstream
    dot products over qvec are EXACT integer arithmetic (the
    determinism win over float dots, whose summation order matters).
    Zero vectors quantize to all-zero qvec (scale 0 guarded to 1.0 —
    they rank last by convention downstream).
    """
    scale = (
        "aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))), "
        "0D, (a, x) -> greatest(a, x))"
    )
    return df.select(
        F.col("vec_id"),
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
            f" / (CASE WHEN ({scale}) = 0 THEN 1.0 ELSE ({scale}) END)"
            f" * 127.0) AS BIGINT))"
        ).alias("qvec"),
        F.expr(scale).alias("scale"),
    )


def sq8_topk(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Top-5 neighbors by the cosine of the SQ8-QUANTIZED vectors —
    the memory-bound ANN configuration: the index holds int8 codes
    (4× smaller, integer SIMD dots), the ranking is
    qcos = dot(qa, qb) / sqrt(|qa|²·|qb|²) with the dot and both
    norms EXACT BIGINTs (unlike the float path there is no summation-
    order nondeterminism to round away; the only doubles are the final
    sqrt/divide, IEEE-deterministic on exact inputs). Ties break by
    neighbor id; self-matches and zero-quantized rows are excluded.
    Same broadcast cross-join shape as :func:`brute_force_knn` — at
    scale the same codes drop into the IVF probe path
    (cluster.ivf_knn_preassigned) unchanged.
    """
    qq = sq8_quantize(queries).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("qa")
    )
    qc = sq8_quantize(corpus).select(
        F.col("vec_id").alias("neighbor_id"), F.col("qvec").alias("qb")
    )
    dot = (
        "aggregate(zip_with(qa, qb, (x, y) -> x * y), CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    na = "aggregate(transform(qa, x -> x * x), CAST(0 AS BIGINT), (a, x) -> a + x)"
    nb = "aggregate(transform(qb, x -> x * x), CAST(0 AS BIGINT), (a, x) -> a + x)"
    scored = (
        qc.crossJoin(F.broadcast(qq))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__na", F.expr(na))
        .withColumn("__nb", F.expr(nb))
        .filter((F.col("__na") > 0) & (F.col("__nb") > 0))
        .withColumn(
            "qcos",
            F.round(
                F.expr(dot).cast("double")
                / F.sqrt(F.col("__na").cast("double") * F.col("__nb").cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "qcos", "rank")
    )
