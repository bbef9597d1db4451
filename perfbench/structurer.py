"""Deterministic stand-in for the LLM structurer of the extract stage.

Regex-scrapes the fact-sheet lines that ``perfbench.ficgen`` prints into
the FIC raw JSON shape (``owl_etl_spark.schemas.FIC_RAW_SCHEMA``), so the
benchmark runs the real ``structure_json`` stage without a service.
"""

from __future__ import annotations

import json
import re

#: "<key>: <value>" or "<key> <item>: <value>"; a multi-word key such as
#: "Fecha de corte" may split into key "Fecha de" and item "corte", so
#: non-list lines are stored under the two rejoined.
_LINE = re.compile(r"^(?P<key>[A-Za-z ]+?)(?: (?P<item>[\w-]+))?: (?P<value>.+)$", re.M)


def fact_sheet_structurer(text: str) -> str:
    """Fact-sheet text to a FIC raw JSON document."""
    fields: dict[str, str] = {}
    plazos, activos = [], []
    for m in _LINE.finditer(text):
        key, item, value = m.group("key"), m.group("item"), m.group("value").strip()
        if key == "Plazo" and item:
            plazos.append({"plazo": item, "participacion": value})
        elif key == "Activo" and item:
            activos.append({"activo": item, "participacion": value})
        else:
            fields[f"{key} {item}" if item else key] = value
    return json.dumps(
        {
            "fic": {
                "nombre_fic": fields.get("Nombre"),
                "gestor": fields.get("Gestor"),
                "custodio": fields.get("Custodio"),
                "fecha_corte": fields.get("Fecha de corte"),
                "politica_de_inversion": fields.get("Politica"),
            },
            "plazo_duracion": plazos or None,
            "composicion_portafolio": {"por_activo": activos or None},
            "caracteristicas": {
                "tipo": "Abierto",
                "valor": fields.get("Valor del fondo"),
                "fecha_inicio_operaciones": None,
                "no_unidades_en_circulacion": fields.get("Unidades"),
            },
            "calificacion": {
                "calificacion": fields.get("Calificacion"),
                "fecha_ultima_calificacion": None,
                "entidad_calificadora": fields.get("Entidad calificadora"),
            },
        }
    )
