"""Golden-style tests for the FIC document transform pipeline.

Fixtures are synthesized per FIXTURES.md §1 guidance (mixed percentage
scales, multi-format dates, near-miss agency names, scaled monetary
values, keyword-loaded investment policies) — they exercise the same
heuristics the reference's golden pairs exercise, with hand-computed
expectations.
"""

from __future__ import annotations

import pytest

# r13 test tiering (VERDICT r12 #2): this suite runs in the FULL tier
# (tools/round_close.py --full-tests); the default time-boxed tier
# excludes it so the driver's verification window completes.
pytestmark = pytest.mark.full

from pyspark.sql import functions as F

from owl_etl_spark.plans.fic_pipeline import transform_fic_documents
from owl_etl_spark.schemas import FIC_RAW_SCHEMA


def _doc(
    nombre="fondoX",
    fecha_corte="2025-07-31",
    politica="",
    plazos=None,
    por_activo=None,
    valor=None,
    entidad=None,
    rv=None,
):
    return {
        "fic": {
            "nombre_fic": nombre,
            "gestor": "G",
            "custodio": "C",
            "fecha_corte": fecha_corte,
            "politica_de_inversion": politica,
        },
        "plazo_duracion": plazos,
        "composicion_portafolio": {
            "por_activo": por_activo,
            "por_tipo_de_renta": None,
            "por_sector_economico": None,
            "por_pais_emisor": None,
            "por_moneda": None,
            "por_calificacion": None,
        },
        "caracteristicas": {
            "tipo": "Abierto",
            "valor": valor,
            "fecha_inicio_operaciones": "15/03/2010",
            "no_unidades_en_circulacion": 1000.0,
        },
        "calificacion": {
            "calificacion": "AAA",
            "fecha_ultima_calificacion": "jul-25",
            "entidad_calificadora": entidad,
        },
        "principales_inversiones": None,
        "rentabilidad_volatilidad": rv,
    }


@pytest.fixture(scope="module")
def transformed(spark):
    docs = [
        # x100-scale percentages (sum ~100), huge valor, near-miss agency
        _doc(
            nombre="fondoA",
            politica="inversion en renta fija, bonos y cdt de deuda publica",
            plazos=[
                {"plazo": "0-30", "participacion": 66.96},
                {"plazo": "30-180", "participacion": 33.04},
            ],
            por_activo=[
                {"activo": "CDT", "participacion": 80.0},
                {"activo": "Bonos", "participacion": 20.0},
            ],
            valor=23_232_542_280_000.0,
            entidad="BRC Investors Servic",
            rv=[
                {
                    "tipo_de_participacion": "Tipo A",
                    "rentabilidad_historica_ea": {
                        "ultimo_mes": 8.55,
                        "ultimos_6_meses": 0.0812,
                        "anio_corrido": None,
                        "ultimo_anio": 9.1,
                        "ultimos_2_anios": 10.2,
                        "ultimos_3_anios": 11.3,
                    },
                    "volatilidad_historica": {
                        "ultimo_mes": 0.55,
                        "ultimos_6_meses": 0.61,
                        "anio_corrido": 0.62,
                        "ultimo_anio": 0.63,
                        "ultimos_2_anios": 0.64,
                        "ultimos_3_anios": 0.65,
                    },
                }
            ],
        ),
        # fractional-scale percentages (sum ~1.0), acciones keywords
        _doc(
            nombre="fondoB",
            fecha_corte="31/07/2025",
            politica="acciones y renta variable en mercado accionario con dividendos",
            plazos=[
                {"plazo": "0-30", "participacion": 0.6696},
                {"plazo": "30-180", "participacion": 0.3304},
            ],
            valor=500_000.0,
            entidad="Fitch Ratings Colombia",
        ),
        # garbage date, unknown agency, no keywords, dissimilar name
        _doc(
            nombre="cartera especial zz",
            fecha_corte="not a date",
            politica="politica generica",
            entidad="Agencia Desconocida XYZ",
            valor=None,
        ),
    ]
    raw = spark.createDataFrame(docs, FIC_RAW_SCHEMA)
    raw = (
        raw.withColumn("_filename", F.concat(F.lit("banco1_"), F.col("fic.nombre_fic"), F.lit("_raw.json")))
        .withColumn("banco", F.lit("banco1"))
        .withColumn("fondo", F.col("fic.nombre_fic"))
    )
    lookup = spark.createDataFrame(
        [
            ("banco1", "fondoA", "http://example.test/fondoA"),
            ("banco1", "fondo B", "http://example.test/fondoB"),
            ("otrobanco", "cartera especial zz", "http://example.test/WRONG"),
        ],
        ["banco", "fic", "url"],
    )
    df = transform_fic_documents(raw, url_lookup=lookup)
    return {r["fic"]["nombre_fic"]: r.asDict(recursive=True) for r in df.collect()}


def test_percent_x100_converted(transformed):
    a = transformed["fondoA"]
    assert [p["participacion"] for p in a["plazo_duracion"]] == [0.6696, 0.3304]
    assert [p["participacion"] for p in a["composicion_portafolio"]["por_activo"]] == [0.8, 0.2]


def test_percent_fractional_kept(transformed):
    b = transformed["fondoB"]
    assert [p["participacion"] for p in b["plazo_duracion"]] == [0.6696, 0.3304]


def test_rv_horizons_normalized(transformed):
    rv = transformed["fondoA"]["rentabilidad_volatilidad"][0]
    r = rv["rentabilidad_historica_ea"]
    assert r["ultimo_mes"] == 0.0855  # 8.55 > 1 → /100
    assert r["ultimos_6_meses"] == 0.0812  # ≤1 → kept
    assert r["anio_corrido"] is None
    v = rv["volatilidad_historica"]
    assert v["ultimo_mes"] == 0.55


def test_agency_fuzzy_normalized(transformed):
    a = transformed["fondoA"]["calificacion"]
    assert a["entidad_calificadora"] == "BRC INVESTOR SERVICES"
    assert a["entidad_calificadora_normalizada"] is True
    c = transformed["cartera especial zz"]["calificacion"]
    assert c["entidad_calificadora"] == "Agencia Desconocida XYZ"
    assert c["entidad_calificadora_normalizada"] is False


def test_dates_parsed(transformed):
    assert transformed["fondoA"]["fic"]["fecha_corte"] == "2025-07-31"
    assert transformed["fondoB"]["fic"]["fecha_corte"] == "2025-07-31"
    assert transformed["cartera especial zz"]["fic"]["fecha_corte"] == "not a date"  # unparseable kept, like the reference
    assert transformed["fondoA"]["caracteristicas"]["fecha_inicio_operaciones"] == "2010-03-15"
    assert transformed["fondoA"]["calificacion"]["fecha_ultima_calificacion"] == "2025-07-01"


def test_tipo_classified(transformed):
    assert transformed["fondoA"]["fic"]["tipo"] == "Renta Fija"
    assert transformed["fondoB"]["fic"]["tipo"] == "Renta Variable"
    assert transformed["cartera especial zz"]["fic"]["tipo"] == "Desconocido"


def test_valor_descaled(transformed):
    # 23_232_542_280_000 / 1000^3 = 23_232.54228 → round 2
    assert transformed["fondoA"]["caracteristicas"]["valor"] == 23232.54
    assert transformed["fondoB"]["caracteristicas"]["valor"] == 500000.0
    assert transformed["cartera especial zz"]["caracteristicas"]["valor"] is None


def test_url_enriched(transformed):
    assert transformed["fondoA"]["fic"]["url"] == "http://example.test/fondoA"
    assert transformed["fondoB"]["fic"]["url"] == "http://example.test/fondoB"
    assert transformed["cartera especial zz"]["fic"]["url"] is None  # its url lives under another bank


def test_structure_repaired(transformed):
    c = transformed["cartera especial zz"]
    assert c["plazo_duracion"] == []
    assert c["principales_inversiones"] == []
    assert c["composicion_portafolio"]["por_moneda"] == []


def test_multi_month_same_basename_not_collapsed(spark):
    """Regression (ADVICE r1, medium): the reference layout repeats the
    same <bank>_<fund>_raw.json basename across monthly folders; the URL
    pick must keep one row per input row, not one per basename."""
    docs = [_doc(nombre="fondoA", fecha_corte="2025-06-30"),
            _doc(nombre="fondoA", fecha_corte="2025-07-31")]
    raw = spark.createDataFrame(docs, FIC_RAW_SCHEMA)
    raw = (
        raw.withColumn("_filename", F.lit("banco1_fondoA_raw.json"))
        # distinct monthly folders, identical basename
        .withColumn(
            "_filepath",
            F.concat(
                F.lit("data/json_raw_2025_"),
                F.month(F.to_date("fic.fecha_corte")).cast("string"),
                F.lit("/banco1_fondoA_raw.json"),
            ),
        )
        .withColumn("banco", F.lit("banco1"))
        .withColumn("fondo", F.col("fic.nombre_fic"))
    )
    lookup = spark.createDataFrame(
        [("banco1", "fondoA", "http://example.test/fondoA")], ["banco", "fic", "url"]
    )
    out = transform_fic_documents(raw, url_lookup=lookup)
    rows = out.select("fic.fecha_corte", "fic.url").collect()
    assert len(rows) == 2, "multi-month read collapsed rows by basename"
    assert {r["fecha_corte"] for r in rows} == {"2025-06-30", "2025-07-31"}
    assert all(r["url"] == "http://example.test/fondoA" for r in rows)

    # Without a _filepath column every record is kept too.
    out2 = transform_fic_documents(raw.drop("_filepath"), url_lookup=lookup)
    assert out2.count() == 2


def test_string_percent_values_survive_typed_read(spark):
    """The raw schema keeps participacion as STRING so reference-legal
    string percents ("66,96%") survive the typed read; stage 1's
    lenient parse feeds the smart-percent vote. Scientific-notation
    numbers must pass through the direct-cast path (the regex clean
    would strip the exponent marker)."""
    import json

    from owl_etl_spark.schemas import FIC_RAW_SCHEMA

    doc = _doc(
        nombre="fondoS",
        plazos=[
            {"plazo": "0-30", "participacion": "66,96%"},
            {"plazo": "30-180", "participacion": "33.04"},
        ],
        por_activo=[
            {"activo": "CDT", "participacion": 5e-05},
            {"activo": "Bonos", "participacion": 0.99995},
        ],
    )
    raw = (
        spark.createDataFrame([(json.dumps(doc),)], ["j"])
        .select(F.from_json("j", FIC_RAW_SCHEMA).alias("d"))
        .select("d.*")
        .withColumn("_filename", F.lit("banco1_fondoS_raw.json"))
        .withColumn("banco", F.lit("banco1"))
        .withColumn("fondo", F.lit("fondoS"))
    )
    out = transform_fic_documents(raw).collect()[0].asDict(recursive=True)
    plazos = {p["plazo"]: p["participacion"] for p in out["plazo_duracion"]}
    assert plazos["0-30"] == pytest.approx(0.6696)
    assert plazos["30-180"] == pytest.approx(0.3304)
    activos = {a["activo"]: a["participacion"] for a in out["composicion_portafolio"]["por_activo"]}
    assert activos["CDT"] == pytest.approx(5e-05)
    assert activos["Bonos"] == pytest.approx(0.99995)


def test_multimodal_mixed_media_dispatch(spark):
    """Per-media decoder dispatch: the two stub formulas differ, so a
    decoder ignoring media_type shows wrong dims."""
    from owl_etl_spark.operators.multimodal import extract_features, to_binary_payload

    df = spark.createDataFrame([(1, "hello world"), (2, "hello world")], ["doc_id", "text"])
    media = F.when(F.col("doc_id") == 1, F.lit("image/fake")).otherwise(F.lit("text/plain"))
    out = {r.doc_id: r for r in extract_features(to_binary_payload(df, media_type=media)).collect()}
    assert out[2].width == 12 and out[2].height == 12            # text: n%640+1, n%480+1
    assert out[1].width == 12 and out[1].height == 12            # image: n%1280+1, n%720+1 (n=11)
    assert out[1].feature_norm == pytest.approx(11 / 997)
    assert out[2].feature_norm == pytest.approx(11 / 1000)


def test_centroids_from_ids_and_rounded_ivf(spark):
    """Pinned-centroid IVF (q49's form): centroids are exact embedding
    rows; rounded distances keep assignment engine-portable; recall vs
    brute force stays high at n_probes=3/k=8."""
    from owl_etl_spark.operators.cluster import centroids_from_ids, ivf_knn
    from owl_etl_spark.operators.knn import brute_force_knn

    em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ids = [0, 60, 120, 180, 240, 300, 360, 420]
    cent = centroids_from_ids(em, ids)
    assert cent.shape == (8, 64)
    q = em.filter(F.col("vec_id") < 10)
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_knn(q, em, cent, k=5, n_probes=3, round_digits=6).collect()
    }
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_knn(q, em).collect()}
    assert len(ivf & bf) / len(bf) >= 0.5
