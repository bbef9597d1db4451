"""App-side tables and the favorites join demo (SURVEY.md §2 J4/O1/O3,
reference: src/scripts/usuarios_prueba.py).

The reference seeds test users and per-user fund recommendations, then
verifies with an FK inner join. Engine form: deterministic seed
DataFrames + the join as a reusable operator. Sized as dimensions —
always broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def seed_users(spark: SparkSession, n: int = 5) -> DataFrame:
    """usuario table (src/config/db.py:28-45) with deterministic rows."""
    return spark.range(1, n + 1).select(
        F.col("id").alias("usuario_id"),
        F.concat(F.lit("usuario_"), F.col("id")).alias("nombre"),
        F.concat(F.lit("usuario_"), F.col("id"), F.lit("@example.test")).alias("correo"),
        (F.col("id") == 1).alias("is_admin"),
        F.element_at(
            F.array(F.lit("bajo"), F.lit("medio"), F.lit("alto")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("nivel_riesgo"),
    )


def seed_recommendations(users: DataFrame, fic: DataFrame) -> DataFrame:
    """fic_recomendado (unique (usuario_id, fic_id), src/config/db.py:76-89):
    first N fics per user by fic_id — the reference's LIMIT-then-slice
    seeding (usuarios_prueba.py:82-131) as a deterministic rank filter."""
    ranked = fic.select("fic_id").withColumn(
        "rk", F.row_number().over(Window.orderBy("fic_id"))
    )
    picks = ranked.filter(F.col("rk") <= 2)
    return (
        users.select("usuario_id")
        .crossJoin(F.broadcast(picks.select("fic_id")))
        .distinct()
    )


def favorites_report(recomendado: DataFrame, fic: DataFrame) -> DataFrame:
    """J4: FK inner join listing each user's recommended funds
    (usuarios_prueba.py:178-184)."""
    return recomendado.join(F.broadcast(fic), "fic_id", "inner").select(
        "usuario_id", "fic_id", "nombre_fic", "tipo", "url"
    )
