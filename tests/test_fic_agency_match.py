"""Parity pins for the FIC rating-agency match (J2).

Every expected agency below was recorded from the earlier unrolled
greatest-of CASE cascade (13 agencies x score + CASE test), before it
was rewritten as one higher-order expression over a literal agency
array. The probes cover null/blank input, similarity ties between a
short and a long canonical name, containment, near misses, accented
text, and a caller-supplied lower-case list (returned as spelled).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from owl_etl_spark.plans.fic_pipeline import RATING_AGENCIES, _agency_match

DEFAULT_CASES = [
    (None, None),
    ('', None),
    ('   ', None),
    ('\t ', None),
    ('FITCH', 'FITCH'),
    ('fitch', 'FITCH'),
    ('Fitch Ratings', 'FITCH RATINGS'),
    ('FITCH RATINGS', 'FITCH RATINGS'),
    ('  fitch ratings  ', 'FITCH RATINGS'),
    ('Fitch Ratings Colombia', 'FITCH'),
    ('Calificadora Fitch', 'FITCH'),
    ('fitch ratings s.a.', 'FITCH'),
    ('Fich Ratings', 'FITCH RATINGS'),
    ('Fitsch', 'FITCH'),
    ('Fítch', 'FITCH'),
    ('BRC', 'BRC'),
    ('brc', 'BRC'),
    ('BRC Investor Services', 'BRC INVESTOR SERVICES'),
    ('BRC INVESTOR SERVICES S.A.', 'BRC INVESTOR SERVICES'),
    ("BRC standard & poor's", "STANDARD & POOR'S"),
    ('BRC Ratings', 'BRC'),
    ('BR C', None),
    ('VALORA', 'VALORA'),
    ('Valora', 'VALORA'),
    ('ValorAmerica', 'VALORAMERICA'),
    ('Valor America', 'VALORAMERICA'),
    ('VALORA AMERICA', 'VALORAMERICA'),
    ('Valorámerica', 'VALORAMERICA'),
    ("Standard & Poor's", "STANDARD & POOR'S"),
    ('Standard and Poors', None),
    ('S&P', 'S&P'),
    ('S&P Global', 'S&P'),
    ('s & p', None),
    ("Moody's", "MOODY'S"),
    ('Moodys', "MOODY'S"),
    ('Moody’s Investors', None),
    ('DBRS', 'DBRS'),
    ('DBRS Morningstar', 'DBRS'),
    ('CEC', 'CEC'),
    ('CEPAL', 'CEPAL'),
    ('ICFC', 'ICFC'),
    ('Cepal ICFC', 'CEPAL'),
    ('Calificación Fitch', 'FITCH'),
    ('XYZ Calificadora', None),
    ('AAA', None),
    ('Ratings', 'FITCH RATINGS'),
]

CUSTOM_AGENCIES = ["fitch", "brc investor services", "valora", "s&p"]

CUSTOM_CASES = [
    (None, None),
    ('', None),
    ('Fitch Ratings', 'fitch'),
    ('FITCH', 'fitch'),
    ('BRC', 'brc investor services'),
    ('brc investor', 'brc investor services'),
    ('Valora', 'valora'),
    ('ValorAmerica', 'valora'),
    ('S&P Global', 's&p'),
    ('Calificadora Fitch', 'fitch'),
    ('moodys', None),
]


def _match(spark, cases, agencies):
    df = spark.createDataFrame(list(enumerate(p for p, _ in cases)), "i int, p string")
    rows = df.select("i", _agency_match(F.col("p"), agencies).alias("m")).collect()
    got = {r.i: r.m for r in rows}
    return [(p, got[i]) for i, (p, _) in enumerate(cases)]


def test_agency_match_pins_default_list(spark):
    assert _match(spark, DEFAULT_CASES, RATING_AGENCIES) == DEFAULT_CASES


def test_agency_match_returns_caller_spelling(spark):
    assert _match(spark, CUSTOM_CASES, CUSTOM_AGENCIES) == CUSTOM_CASES
