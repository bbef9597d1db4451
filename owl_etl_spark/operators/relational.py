"""Nested document → relational star-schema projection (SURVEY.md P11/P12/S10).

Explodes the FIC document into the 8 gold tables (reference DDL:
src/config/db.py:48-210; explode loops: src/etl/load.py:239-353).
Surrogate keys are deterministic hashes of the logical key — replay-
stable and distributed-safe, replacing Postgres autoincrement
(SURVEY.md §7.4).

Every table derives from ONE sealed silver snapshot, so a re-run
converges to the same state (idempotent) even though Spark has no
cross-table transaction (the documented weaker guarantee).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.schemas import COMPOSICION_CATEGORIES, COMPOSICION_TAGS
from owl_etl_spark.session import seal


def with_fic_id(df: DataFrame) -> DataFrame:
    """Deterministic surrogate key over the logical identity
    (nombre_fic, url, fecha_corte)."""
    return df.withColumn(
        "fic_id",
        F.xxhash64(F.col("fic.nombre_fic"), F.col("fic.url"), F.col("fic.fecha_corte")),
    )


def fic_hub(df: DataFrame) -> DataFrame:
    """Hub table: one row per document (src/config/db.py:48-73)."""
    return df.select(
        "fic_id",
        F.col("fic.nombre_fic").alias("nombre_fic"),
        F.col("fic.gestor").alias("gestor"),
        F.col("fic.custodio").alias("custodio"),
        F.col("fic.fecha_corte").alias("fecha_corte"),
        F.col("fic.politica_de_inversion").alias("politica_de_inversion"),
        F.col("fic.tipo").alias("tipo"),
        F.col("fic.url").alias("url"),
        F.current_timestamp().alias("created_at"),
    )


def composicion_table(df: DataFrame) -> DataFrame:
    """The 6 composition arrays → one long table with a
    ``tipo_composicion`` tag and coalesced ``categoria`` key (P11;
    src/etl/load.py:239-263). Implemented as per-category explodes
    unioned by name — each explode is narrow (no shuffle); the union
    is plan-level only.
    """
    parts = []
    for name, key in COMPOSICION_CATEGORIES.items():
        tag = COMPOSICION_TAGS[name]
        parts.append(
            df.select(
                "fic_id",
                F.lit(tag).alias("tipo_composicion"),
                F.explode(F.col(f"composicion_portafolio.{name}")).alias("item"),
            ).select(
                "fic_id",
                "tipo_composicion",
                F.coalesce(F.col(f"item.{key}"), F.lit("")).alias("categoria"),
                F.col("item.participacion").alias("participacion"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def plazo_table(df: DataFrame) -> DataFrame:
    return df.select("fic_id", F.explode("plazo_duracion").alias("item")).select(
        "fic_id",
        F.col("item.plazo").alias("plazo"),
        F.col("item.participacion").alias("participacion"),
    )


def inversiones_table(df: DataFrame) -> DataFrame:
    return df.select("fic_id", F.explode("principales_inversiones").alias("item")).select(
        "fic_id",
        F.col("item.emisor").alias("emisor"),
        F.col("item.participacion").alias("participacion"),
    )


def caracteristicas_table(df: DataFrame) -> DataFrame:
    """1:1 struct → single row (src/etl/load.py:279-290)."""
    return df.select(
        "fic_id",
        F.col("caracteristicas.tipo").alias("tipo"),
        F.col("caracteristicas.valor").alias("valor"),
        F.col("caracteristicas.fecha_inicio_operaciones").alias("fecha_inicio_operaciones"),
        F.col("caracteristicas.no_unidades_en_circulacion").alias("no_unidades_en_circulacion"),
    )


def calificacion_table(df: DataFrame) -> DataFrame:
    return df.select(
        "fic_id",
        F.col("calificacion.calificacion").alias("calificacion"),
        F.col("calificacion.fecha_ultima_calificacion").alias("fecha_ultima_calificacion"),
        F.col("calificacion.entidad_calificadora").alias("entidad_calificadora"),
        F.col("calificacion.entidad_calificadora_normalizada").alias(
            "entidad_calificadora_normalizada"
        ),
    )


def _rv_side(df: DataFrame, struct_name: str) -> DataFrame:
    """rentabilidad/volatilidad arrays → horizon-wide rows
    (src/etl/load.py:320-353)."""
    item = F.explode("rentabilidad_volatilidad")
    return df.select("fic_id", item.alias("item")).select(
        "fic_id",
        F.col("item.tipo_de_participacion").alias("tipo_participacion"),
        *[
            F.col(f"item.{struct_name}.{h}").alias(h)
            for h in [
                "ultimo_mes",
                "ultimos_6_meses",
                "anio_corrido",
                "ultimo_anio",
                "ultimos_2_anios",
                "ultimos_3_anios",
            ]
        ],
    )


def rentabilidad_table(df: DataFrame) -> DataFrame:
    return _rv_side(df, "rentabilidad_historica_ea")


def volatilidad_table(df: DataFrame) -> DataFrame:
    return _rv_side(df, "volatilidad_historica")


def raw_json_table(df: DataFrame) -> DataFrame:
    """Whole-document archive as a JSON string column (S11;
    src/etl/load.py:356-364). On Spark 4 a VariantType column is the
    alternative; a string keeps sinks (JDBC/parquet) trivial."""
    doc_cols = [c for c in df.columns if c not in ("fic_id", "_filename", "banco", "fondo", "anio", "mes")]
    return df.select(
        "fic_id",
        F.to_json(F.struct(*doc_cols)).alias("json_data"),
        F.lit("transformed").alias("tipo"),
        (F.col("_filename") if "_filename" in df.columns else F.lit(None).cast("string")).alias("filename"),
    )


def to_star_schema(silver: DataFrame) -> dict[str, DataFrame]:
    """One silver snapshot → every gold table (S10; write/merge policy
    belongs to the caller/sink layer).

    Not a pure projection: the keyed snapshot is sealed once here
    (``session.seal``, one eager job now), so each table is one scan of
    the seal and its write is a single job, instead of every table
    re-running the silver read, its recency window and the key.
    """
    keyed = seal(with_fic_id(silver))
    return {
        "fic": fic_hub(keyed),
        "composicion_portafolio": composicion_table(keyed),
        "plazo_duracion": plazo_table(keyed),
        "caracteristicas": caracteristicas_table(keyed),
        "calificacion": calificacion_table(keyed),
        "principales_inversiones": inversiones_table(keyed),
        "rentabilidad_historica": rentabilidad_table(keyed),
        "volatilidad_historica": volatilidad_table(keyed),
        "raw_json": raw_json_table(keyed),
    }
