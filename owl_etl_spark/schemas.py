"""Explicit schemas for the engine's document model.

The reference's core record is a nested fund fact-sheet document whose
schema lives only in an LLM prompt (reference: src/etl/extract.py:25-98)
and is defensively repaired downstream. Here it is a first-class
``StructType`` — reads are permissive (missing fields → null) and the
repair becomes a declarative ``coalesce`` (operators.quality).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

_HORIZONS = [
    "ultimo_mes",
    "ultimos_6_meses",
    "anio_corrido",
    "ultimo_anio",
    "ultimos_2_anios",
    "ultimos_3_anios",
]


def _horizon_struct() -> StructType:
    return StructType([StructField(f, DoubleType()) for f in _HORIZONS])


def _part_array(key_field: str) -> ArrayType:
    """participacion reads as STRING, not double: the reference
    explicitly parses string percent values like ``"66,96%"``
    (src/etl/transform.py:585-600), and a DoubleType read would make
    PERMISSIVE mode null such a field (or record) out silently. The
    transform pipeline's stage 1 applies the lenient percent parse
    before the smart-percent vote; plain JSON numbers round-trip
    through the string read losslessly."""
    return ArrayType(
        StructType(
            [
                StructField(key_field, StringType()),
                StructField("participacion", StringType()),
            ]
        )
    )


#: Category arrays inside composicion_portafolio and their key field
#: (reference key-name coalescing: src/etl/load.py:259-260).
COMPOSICION_CATEGORIES: dict[str, str] = {
    "por_activo": "activo",
    "por_tipo_de_renta": "tipo",
    "por_sector_economico": "sector",
    "por_pais_emisor": "pais",
    "por_moneda": "moneda",
    "por_calificacion": "calificacion",
}

#: Gold-table tag for each category array (src/etl/load.py:244-251).
COMPOSICION_TAGS: dict[str, str] = {
    "por_activo": "activo",
    "por_tipo_de_renta": "tipo_renta",
    "por_sector_economico": "sector_economico",
    "por_pais_emisor": "pais_emisor",
    "por_moneda": "moneda",
    "por_calificacion": "calificacion",
}

FIC_RAW_SCHEMA = StructType(
    [
        StructField(
            "fic",
            StructType(
                [
                    StructField("nombre_fic", StringType()),
                    StructField("gestor", StringType()),
                    StructField("custodio", StringType()),
                    StructField("fecha_corte", StringType()),
                    StructField("politica_de_inversion", StringType()),
                ]
            ),
        ),
        StructField("plazo_duracion", _part_array("plazo")),
        StructField(
            "composicion_portafolio",
            StructType(
                [StructField(name, _part_array(key)) for name, key in COMPOSICION_CATEGORIES.items()]
            ),
        ),
        StructField(
            "caracteristicas",
            StructType(
                [
                    StructField("tipo", StringType()),
                    # string reads for the same reason as participacion
                    # (see _part_array): the reference leniently parses
                    # string numerics ("23,2 billones") that a typed
                    # double read would null out in PERMISSIVE mode;
                    # stage 4 (P7 parse_numero_sql) restores the doubles
                    StructField("valor", StringType()),
                    StructField("fecha_inicio_operaciones", StringType()),
                    StructField("no_unidades_en_circulacion", StringType()),
                ]
            ),
        ),
        StructField(
            "calificacion",
            StructType(
                [
                    StructField("calificacion", StringType()),
                    StructField("fecha_ultima_calificacion", StringType()),
                    StructField("entidad_calificadora", StringType()),
                ]
            ),
        ),
        StructField("principales_inversiones", _part_array("emisor")),
        StructField(
            "rentabilidad_volatilidad",
            ArrayType(
                StructType(
                    [
                        StructField("tipo_de_participacion", StringType()),
                        StructField("rentabilidad_historica_ea", _horizon_struct()),
                        StructField("volatilidad_historica", _horizon_struct()),
                    ]
                )
            ),
        ),
    ]
)

#: Transformed document adds fic.tipo, fic.url,
#: calificacion.entidad_calificadora_normalizada
#: (reference: src/etl/transform.py:395,252,699).
FIC_TRANSFORMED_SCHEMA = StructType(
    [
        StructField(
            "fic",
            StructType(
                list(FIC_RAW_SCHEMA["fic"].dataType.fields)
                + [StructField("tipo", StringType()), StructField("url", StringType())]
            ),
        ),
        *[f for f in FIC_RAW_SCHEMA.fields if f.name not in ("fic", "calificacion")],
        StructField(
            "calificacion",
            StructType(
                list(FIC_RAW_SCHEMA["calificacion"].dataType.fields)
                + [StructField("entidad_calificadora_normalizada", BooleanType())]
            ),
        ),
    ]
)

#: fics.json lookup dimension {banco -> {fic -> url}} flattened
#: (reference: src/etl/transform.py:205-216).
FIC_LOOKUP_SCHEMA = StructType(
    [
        StructField("banco", StringType()),
        StructField("fic", StringType()),
        StructField("url", StringType()),
    ]
)
