"""The gold refresh: ``to_star_schema`` seals the keyed snapshot once, so
writing the 9 gold tables costs one job per table plus the seal's, and
the tables are unchanged.

The expected row counts and digests were recorded from the earlier
unsealed projection, where every table's write re-ran the silver read,
the recency window and the key (23 jobs for this fixture).
"""

from __future__ import annotations

import hashlib
import json

from owl_etl_spark.cli import _staged_schema
from owl_etl_spark.operators.latest import latest_per_key
from owl_etl_spark.operators.relational import to_star_schema
from owl_etl_spark.schemas import FIC_TRANSFORMED_SCHEMA
from owl_etl_spark.sources.writers import write_gold_snapshot

#: The one volatile gold column: ``current_timestamp()`` at load time,
#: as the reference's ``created_at`` default (``src/config/db.py:59``).
#: Two runs of the same month differ in it and in nothing else.
VOLATILE = ("fic", "created_at")

#: table -> (rows, md5 prefix of its sorted JSON rows without the volatile column)
EXPECTED = {
    "calificacion": (3, "6d81397e7be7b27d"),
    "caracteristicas": (3, "0038ed16199a5e7f"),
    "composicion_portafolio": (5, "e93ea1f766be44ed"),
    "fic": (3, "df89260d567a5f54"),
    "plazo_duracion": (6, "91454354ffa4dfdb"),
    "principales_inversiones": (3, "511713f636aa0021"),
    "raw_json": (3, "9c65b5d9eb03aa14"),
    "rentabilidad_historica": (1, "b8311f98cfc7c35f"),
    "volatilidad_historica": (1, "f4967a3b667b0b12"),
}


def _silver(spark):
    """Four transformed sheets of three funds; fund A has two months."""
    horizons = dict.fromkeys(
        ("ultimo_mes", "ultimos_6_meses", "anio_corrido", "ultimo_anio", "ultimos_2_anios",
         "ultimos_3_anios"),
        0.01,
    )
    rv = [{"tipo_de_participacion": "A", "rentabilidad_historica_ea": horizons,
           "volatilidad_historica": {**horizons, "ultimo_mes": None}}]

    def doc(nombre, fecha, tipo, url, filename, comp=None, rv=None):
        return {
            "fic": {"nombre_fic": nombre, "gestor": "G", "custodio": "C", "fecha_corte": fecha,
                    "politica_de_inversion": "bonos", "tipo": tipo, "url": url},
            "plazo_duracion": [{"plazo": "0-30", "participacion": "0.6"},
                               {"plazo": "30-180", "participacion": "0.4"}],
            "composicion_portafolio": {
                "por_activo": comp, "por_tipo_de_renta": None, "por_sector_economico": [],
                "por_pais_emisor": None, "por_moneda": [{"moneda": "COP", "participacion": "1.0"}],
                "por_calificacion": None},
            "caracteristicas": {"tipo": "Abierto", "valor": "1234.5",
                                "fecha_inicio_operaciones": "2010-03-15",
                                "no_unidades_en_circulacion": "1000.0"},
            "principales_inversiones": [{"emisor": "TES", "participacion": "0.5"}],
            "rentabilidad_volatilidad": rv or [],
            "calificacion": {"calificacion": "AAA", "fecha_ultima_calificacion": "2025-07-01",
                             "entidad_calificadora": "FITCH",
                             "entidad_calificadora_normalizada": True},
            "_filename": filename, "banco": filename.split("_")[0], "fondo": nombre,
            "anio": fecha[:4] if fecha else None, "mes": fecha[5:7] if fecha else None,
        }

    docs = [
        doc("fondo a", "2025-06-30", "Renta Fija", "u/a", "b1_fondoa_2025_06.pdf",
            comp=[{"activo": "CDT", "participacion": "0.7"},
                  {"activo": "Bonos", "participacion": "0.3"}]),
        doc("fondo a", "2025-07-31", "Renta Fija", "u/a", "b1_fondoa_2025_07.pdf",
            comp=[{"activo": "CDT", "participacion": "0.6"},
                  {"activo": None, "participacion": "0.4"}], rv=rv),
        doc("fondo b", "2025-07-31", "Mixta", None, "b2_fondob_2025_07.pdf"),
        doc("fondo c", None, "Desconocido", "u/c", "b2_fondoc_2025_07.pdf"),
    ]
    return spark.createDataFrame(docs, _staged_schema(FIC_TRANSFORMED_SCHEMA))


def test_gold_refresh_is_one_job_per_table_and_unchanged(spark, tmp_path):
    latest = latest_per_key(
        _silver(spark), ["fic.nombre_fic", "fic.url"], "fic.fecha_corte", ["_filename"]
    )
    sc = spark.sparkContext
    group = "test-gold-refresh"
    sc.setJobGroup(group, group)
    try:
        tables = to_star_schema(latest)
        write_gold_snapshot(tables, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the seal (its window's shuffle stage and its result) + one write per table
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 11

    got = {}
    dropped = []
    for name in tables:
        df = spark.read.parquet(str(tmp_path / name))
        if name == VOLATILE[0]:
            dropped += [(name, c) for c in df.columns if c == VOLATILE[1]]
            df = df.drop(VOLATILE[1])
        rows = sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
            for r in df.collect()
        )
        got[name] = (len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()[:16])
    assert got == EXPECTED
    assert dropped == [VOLATILE]
