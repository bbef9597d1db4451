"""Parity pins for the FIC transform's keyword classifier, robust date
parse and URL pick.

Every expected value below was recorded from the earlier expressions,
before they were rewritten: the classifier's CASE cascade over a
``greatest`` of the four scores, the 23 chained month ``regexp_replace``
calls of the date parse, and the URL match's broadcast nested-loop join
with a top-1 window. The probes cover ties between classes, zero
matches, null input, accented keywords and q22's class dict; every
``SPANISH_MONTHS`` spelling, ``sept``/``sep``, 2-digit years, slashes
and spaces, upper case, years before 1990 and garbage; alias banks,
containment in both directions, similarity ties, no bank match,
similarity at and just below 0.7, and repeated file basenames with and
without a ``_filepath`` column.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from owl_etl_spark.functions.dates import parse_fecha_robusta_iso
from owl_etl_spark.functions.text import FIC_CLASS_KEYWORDS, classify_keywords
from owl_etl_spark.plans.fic_pipeline import transform_fic_documents
from owl_etl_spark.schemas import FIC_RAW_SCHEMA

FIC_CASES = [
    (None, 'Desconocido'),
    ('', 'Desconocido'),
    ('   ', 'Desconocido'),
    ('politica generica', 'Desconocido'),
    ('renta fija', 'Renta Fija'),
    ('RENTA FIJA Y BONOS', 'Renta Fija'),
    ('acciones y bonos', 'Renta Fija'),
    ('acciones, equity y bonos', 'Renta Variable'),
    ('renta fija y variable', 'Mixta'),
    ('fija y variable', 'Mixta'),
    ('certificado de depósito', 'Renta Fija'),
    ('CERTIFICADO DE DEPÓSITO', 'Renta Fija'),
    ('certificado de deposito', 'Desconocido'),
    ('índices accionarios', 'Renta Variable'),
    ('indices accionarios', 'Desconocido'),
    ('capitalización bursátil', 'Renta Variable'),
    ('CAPITALIZACIÓN BURSÁTIL', 'Renta Variable'),
    ('opciones y futuros sobre divisas', 'Alternativa'),
    ('private equity', 'Renta Variable'),
    ('fondo multi-activo', 'Mixta'),
    ('intereses', 'Desconocido'),
    ('hedge fund de bonos', 'Renta Fija'),
    ('balanceado', 'Mixta'),
    ('Real Estate y commodities', 'Alternativa'),
    ('acciones acciones acciones', 'Renta Variable'),
    ('renta variable, acciones, participaciones, mixta, balanced', 'Renta Variable'),
    ('mixta y alternativa', 'Mixta'),
    ('bonos acciones mixta derivados', 'Renta Fija'),
    ('diversificado en acciones y bonos', 'Renta Fija'),
    ('deuda pública y títulos de deuda', 'Renta Fija'),
    ('deuda publica', 'Desconocido'),
    ('Fixed Income / Equity / Forex', 'Renta Fija'),
    ('obligaciones, opciones, futuros', 'Alternativa'),
]

Q22 = {"query_engine": ["join", "filter", "scan", "query"],
       "streaming": ["stream", "window", "batch"],
       "storage": ["table", "row", "column"]}

Q22_CASES = [
    (None, 'Desconocido'),
    ('', 'Desconocido'),
    ('join the stream', 'query_engine'),
    ('stream window row', 'streaming'),
    ('table row column', 'storage'),
    ('JOIN filter', 'query_engine'),
    ('nothing here', 'Desconocido'),
    ('rowing', 'storage'),
    ('scan table stream', 'query_engine'),
    ('batch query', 'query_engine'),
    ('Windows and Tables', 'streaming'),
    ('streaming query rows', 'query_engine'),
]

ONE_CLASS = {"only": ["x", "y"]}

ONE_CLASS_CASES = [
    (None, 'otro'),
    ('', 'otro'),
    ('x', 'only'),
    ('xy', 'only'),
    ('zzz', 'otro'),
]

DATE_CASES = [
    ('enero-25', '2025-01-01'),
    ('15 enero 2024', '2024-01-15'),
    ('ENERO/2023', '2023-01-01'),
    ('3-enero-19', '2019-01-03'),
    ('ene-25', '2025-01-01'),
    ('15 ene 2024', '2024-01-15'),
    ('ENE/2023', '2023-01-01'),
    ('3-ene-19', '2019-01-03'),
    ('febrero-25', '2025-02-01'),
    ('15 febrero 2024', '2024-02-15'),
    ('FEBRERO/2023', '2023-02-01'),
    ('3-febrero-19', '2019-02-03'),
    ('feb-25', '2025-02-01'),
    ('15 feb 2024', '2024-02-15'),
    ('FEB/2023', '2023-02-01'),
    ('3-feb-19', '2019-02-03'),
    ('marzo-25', '2025-03-01'),
    ('15 marzo 2024', '2024-03-15'),
    ('MARZO/2023', '2023-03-01'),
    ('3-marzo-19', '2019-03-03'),
    ('mar-25', '2025-03-01'),
    ('15 mar 2024', '2024-03-15'),
    ('MAR/2023', '2023-03-01'),
    ('3-mar-19', '2019-03-03'),
    ('abril-25', '2025-04-01'),
    ('15 abril 2024', '2024-04-15'),
    ('ABRIL/2023', '2023-04-01'),
    ('3-abril-19', '2019-04-03'),
    ('abr-25', '2025-04-01'),
    ('15 abr 2024', '2024-04-15'),
    ('ABR/2023', '2023-04-01'),
    ('3-abr-19', '2019-04-03'),
    ('mayo-25', '2025-05-01'),
    ('15 mayo 2024', '2024-05-15'),
    ('MAYO/2023', '2023-05-01'),
    ('3-mayo-19', '2019-05-03'),
    ('may-25', '2025-05-01'),
    ('15 may 2024', '2024-05-15'),
    ('MAY/2023', '2023-05-01'),
    ('3-may-19', '2019-05-03'),
    ('junio-25', '2025-06-01'),
    ('15 junio 2024', '2024-06-15'),
    ('JUNIO/2023', '2023-06-01'),
    ('3-junio-19', '2019-06-03'),
    ('jun-25', '2025-06-01'),
    ('15 jun 2024', '2024-06-15'),
    ('JUN/2023', '2023-06-01'),
    ('3-jun-19', '2019-06-03'),
    ('julio-25', '2025-07-01'),
    ('15 julio 2024', '2024-07-15'),
    ('JULIO/2023', '2023-07-01'),
    ('3-julio-19', '2019-07-03'),
    ('jul-25', '2025-07-01'),
    ('15 jul 2024', '2024-07-15'),
    ('JUL/2023', '2023-07-01'),
    ('3-jul-19', '2019-07-03'),
    ('agosto-25', '2025-08-01'),
    ('15 agosto 2024', '2024-08-15'),
    ('AGOSTO/2023', '2023-08-01'),
    ('3-agosto-19', '2019-08-03'),
    ('ago-25', '2025-08-01'),
    ('15 ago 2024', '2024-08-15'),
    ('AGO/2023', '2023-08-01'),
    ('3-ago-19', '2019-08-03'),
    ('septiembre-25', '2025-09-01'),
    ('15 septiembre 2024', '2024-09-15'),
    ('SEPTIEMBRE/2023', '2023-09-01'),
    ('3-septiembre-19', '2019-09-03'),
    ('sep-25', '2025-09-01'),
    ('15 sep 2024', '2024-09-15'),
    ('SEP/2023', '2023-09-01'),
    ('3-sep-19', '2019-09-03'),
    ('sept-25', '2025-09-01'),
    ('15 sept 2024', '2024-09-15'),
    ('SEPT/2023', '2023-09-01'),
    ('3-sept-19', '2019-09-03'),
    ('octubre-25', '2025-10-01'),
    ('15 octubre 2024', '2024-10-15'),
    ('OCTUBRE/2023', '2023-10-01'),
    ('3-octubre-19', '2019-10-03'),
    ('oct-25', '2025-10-01'),
    ('15 oct 2024', '2024-10-15'),
    ('OCT/2023', '2023-10-01'),
    ('3-oct-19', '2019-10-03'),
    ('noviembre-25', '2025-11-01'),
    ('15 noviembre 2024', '2024-11-15'),
    ('NOVIEMBRE/2023', '2023-11-01'),
    ('3-noviembre-19', '2019-11-03'),
    ('nov-25', '2025-11-01'),
    ('15 nov 2024', '2024-11-15'),
    ('NOV/2023', '2023-11-01'),
    ('3-nov-19', '2019-11-03'),
    ('diciembre-25', '2025-12-01'),
    ('15 diciembre 2024', '2024-12-15'),
    ('DICIEMBRE/2023', '2023-12-01'),
    ('3-diciembre-19', '2019-12-03'),
    ('dic-25', '2025-12-01'),
    ('15 dic 2024', '2024-12-15'),
    ('DIC/2023', '2023-12-01'),
    ('3-dic-19', '2019-12-03'),
    ('sept-24', '2024-09-01'),
    ('sep-24', '2024-09-01'),
    ('SEPT 2024', '2024-09-01'),
    ('15/sept/2024', '2024-09-15'),
    ('Sept 24', '2024-09-01'),
    ('septiembre de 2024', None),
    ('jul-25', '2025-07-01'),
    ('31-07-25', '2025-07-31'),
    ('07-31-25', '2025-07-31'),
    ('7-3-25', '2025-03-07'),
    ('31/07/2025', '2025-07-31'),
    ('31 07 2025', '2025-07-31'),
    ('2025/07/31', '2025-07-31'),
    ('2025 07 31', '2025-07-31'),
    ('07/31/2025', '2025-07-31'),
    ('05/06/2025', '2025-06-05'),
    ('  31/07/2025 ', '2025-07-31'),
    ('31//07//2025', '2025-07-31'),
    ('JULIO 2025', '2025-07-01'),
    ('15 DE JULIO DE 2025', None),
    ('1989-12-31', None),
    ('31/12/1989', None),
    ('1990-01-01', '1990-01-01'),
    ('ene-89', '2089-01-01'),
    ('ene-1989', None),
    ('dic 1989', None),
    ('not a date', None),
    ('', None),
    (None, None),
    ('32/13/2025', None),
    ('2025-13-01', None),
    ('abc-25', None),
    ('  ', None),
    ('2025', None),
    ('julio', None),
    ('2025-07-31', '2025-07-31'),
    ('2025-7-3', '2025-07-03'),
    ('2025-07', '2025-07-01'),
    ('2025/7', '2025-07-01'),
    ('marzo-2024', '2024-03-01'),
    ('mar 24', '2024-03-01'),
    ('Mayo/24', '2024-05-01'),
    ('15-ago-2024', '2024-08-15'),
    ('1 dic 2023', '2023-12-01'),
    ('31-feb-2024', None),
    ('29/02/2024', '2024-02-29'),
    ('29/02/2023', None),
    ('enero-febrero-2024', '2024-02-01'),
    ('ene2024', None),
    ('oct.-2024', None),
    ('12/31/99', '2099-12-31'),
    ('2024-02-30', None),
    ('13/13/2024', None),
    ('0/0/2024', None),
    ('1/1/2000', '2000-01-01'),
    ('dic-99', '2099-12-01'),
    ('ABR 2026', '2026-04-01'),
    ('noviembre/2025', '2025-11-01'),
    ('2025-12-1', '2025-12-01'),
]

LOOKUP = [
    ("bancoDeBogota", "fondo renta fija", "u/bog/rf"),
    ("bancoDeBogota", "fondo ahorro plus", "u/bog/ap"),
    ("bancolombiaSA", "renta pesos", "u/bcs/rp"),
    ("bancolombia", "fondo aa", "u/bco/aa"),
    ("bancolombia", "fondo ac", "u/bco/ac"),
    ("bbva", "fondo liquidez", "u/bbva/liq"),
    ("davivienda", "abcdefghij", "u/dav/10"),
    ("davivienda", "abcdefghijklm", "u/dav/13"),
    ("Credicorp Capital", "Acciones_Globales", "u/cc/ag"),
    ("otrobanco", "fondo renta fija", "u/otro/rf"),
    ("gnbSudameris", "", "u/gnb/empty"),
]

#: (banco, fondo, expected url); rows of one bank share a file basename
URL_CASES = [
    ('Banco de Bogota', 'Fondo_Renta  Fija', 'u/bog/rf'),
    ('banco_de_bogota', 'fondo renta fija', 'u/bog/rf'),
    ('bancoreservas', 'fondo ahorro plus', 'u/bog/ap'),
    ('BANCO-DE-BOGOTA', 'fondo ahorro', 'u/bog/ap'),
    ('bancolombia', 'renta pesos', 'u/bcs/rp'),
    ('grupobbvacolombia', 'fondo liquidez', 'u/bbva/liq'),
    ('bancolombia', 'fondo ab', 'u/bco/aa'),
    ('bancolombia', 'fondo ad', 'u/bco/aa'),
    ('davivienda', 'abcdefgxyz', 'u/dav/10'),
    ('davivienda', 'abcdefghijxyz', 'u/dav/10'),
    ('davivienda', 'abcdefgwxyz', None),
    ('davivienda', 'abcdefghiwxyz', None),
    ('davivienda', 'abcdefghiq', 'u/dav/10'),
    ('credicorpcapital', 'acciones globales', 'u/cc/ag'),
    ('Credicorp Capital', 'acciones_globales', 'u/cc/ag'),
    ('nobank', 'fondo renta fija', None),
    (None, 'fondo renta fija', None),
    ('bbva', None, None),
    ('bbva', '', None),
    ('gnb sudameris', '', 'u/gnb/empty'),
    ('gnbsudameris', 'x', None),
    ('banco_finandina', 'fondo aa', 'u/bco/aa'),
    ('bbva', 'FONDO LIQUIDEZ', 'u/bbva/liq'),
    ('otrobanco', 'fondo renta fija', 'u/otro/rf'),
    ('bancolombia', 'fondo aa', 'u/bco/aa'),
    ('bancolombia', 'fondo aa', 'u/bco/aa'),
]


def _classify(spark, cases, classes, **kw):
    df = spark.createDataFrame(list(enumerate(t for t, _ in cases)), "i int, t string")
    rows = df.select("i", classify_keywords(F.col("t"), classes, **kw).alias("c")).collect()
    got = {r.i: r.c for r in rows}
    return [(t, got[i]) for i, (t, _) in enumerate(cases)]


def test_classify_keywords_pins_fic_classes(spark):
    assert _classify(spark, FIC_CASES, FIC_CLASS_KEYWORDS) == FIC_CASES


def test_classify_keywords_pins_custom_classes(spark):
    assert _classify(spark, Q22_CASES, Q22, default="Desconocido") == Q22_CASES
    assert _classify(spark, ONE_CLASS_CASES, ONE_CLASS, default="otro") == ONE_CLASS_CASES


def test_parse_fecha_robusta_iso_pins(spark):
    df = spark.createDataFrame(list(enumerate(t for t, _ in DATE_CASES)), "i int, t string")
    got = {r.i: r.d for r in df.select("i", parse_fecha_robusta_iso(F.col("t")).alias("d")).collect()}
    assert [(t, got[i]) for i, (t, _) in enumerate(DATE_CASES)] == DATE_CASES


def _urls(spark, cases, lookup_rows, with_path):
    rows = [{"fic": {"nombre_fic": f"doc{i}"}} for i in range(len(cases))]
    meta = spark.createDataFrame(
        [(f"doc{i}", b, f) for i, (b, f, _) in enumerate(cases)], "n string, banco string, fondo string"
    )
    raw = (
        spark.createDataFrame(rows, FIC_RAW_SCHEMA)
        .join(meta, F.col("fic.nombre_fic") == F.col("n"))
        .drop("n")
        .withColumn("_filename", F.concat(F.coalesce("banco", F.lit("x")), F.lit("_raw.json")))
    )
    if with_path:
        raw = raw.withColumn(
            "_filepath", F.concat(F.lit("m/"), F.col("fic.nombre_fic"), F.lit("/"), F.col("_filename"))
        )
    lookup = spark.createDataFrame(lookup_rows, "banco string, fic string, url string")
    out = transform_fic_documents(raw, url_lookup=lookup)
    got = dict(out.select("fic.nombre_fic", "fic.url").collect())
    assert len(got) == len(cases) == out.count()
    return [(b, f, got[f"doc{i}"]) for i, (b, f, _) in enumerate(cases)]


def test_url_pick_pins(spark):
    assert _urls(spark, URL_CASES, LOOKUP, with_path=True) == URL_CASES
    assert _urls(spark, URL_CASES, LOOKUP, with_path=False) == URL_CASES


def test_url_pick_breaks_full_ties_by_url(spark):
    """Two lookup rows with the same bank and fund: the smaller url wins,
    whatever the lookup's row order (the earlier window left this tie to
    the shuffle)."""
    cases = [("bbva", "fondo uno", "u/1"), ("bbva", "fondo unos", "u/1")]
    for rows in (
        [("bbva", "fondo uno", "u/2"), ("bbva", "fondo uno", "u/1")],
        [("bbva", "fondo uno", "u/1"), ("bbva", "fondo uno", "u/2")],
    ):
        assert _urls(spark, cases, rows, with_path=False) == cases


# descale_monetary at max_iters 4 (q20), 6 (the FIC transform) and 10
# (the default), recorded from the Column-built CASE before it became SQL
# text. Rows: (value, {max_iters: descaled}); the same value also goes in
# as a numeric string, which must descale identically.
_ULP_ABOVE_1E6 = 1000000.0000000001
DESCALE_CASES = [
    (1e6, {4: 1e6, 6: 1e6, 10: 1e6}),
    (_ULP_ABOVE_1E6, {4: 1000.0, 6: 1000.0, 10: 1000.0}),
    (1e9, {4: 1e6, 6: 1e6, 10: 1e6}),
    (1e36, {4: 1e24, 6: 1e18, 10: 1e6}),
    (-5e9, {4: -5e9, 6: -5e9, 10: -5e9}),
    (-1.0, {4: -1.0, 6: -1.0, 10: -1.0}),
    (None, {4: None, 6: None, 10: None}),
    (123456789.125, {4: 123456.79, 6: 123456.79, 10: 123456.79}),
    (999999.995, {4: 1e6, 6: 1e6, 10: 1e6}),
    (1000000001.0, {4: 1000.0, 6: 1000.0, 10: 1000.0}),
]


def test_descale_monetary_pins(spark):
    from owl_etl_spark.functions.numeric import descale_monetary

    rows = [(i, v, None if v is None else repr(v)) for i, (v, _) in enumerate(DESCALE_CASES)]
    rows.append((len(rows), None, "2500000000"))
    df = spark.createDataFrame(rows, "i int, v double, s string")
    for max_iters in (4, 6, 10):
        got = df.select(
            "i",
            descale_monetary(F.col("v"), max_iters).alias("d"),
            descale_monetary(F.col("s"), max_iters).alias("ds"),
        ).orderBy("i").collect()
        want = [exp[max_iters] for _, exp in DESCALE_CASES]
        assert [r.d for r in got[:-1]] == want, max_iters
        assert [r.ds for r in got[:-1]] == want, max_iters
        assert (got[-1].d, got[-1].ds) == (None, 2500.0)
